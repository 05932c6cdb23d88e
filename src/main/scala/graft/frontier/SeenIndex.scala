package graft.frontier

import org.apache.spark.unsafe.types.UTF8String

/**
 * Partition-local EXACT seen-set index over the crawler's append-only seen
 * archive — the north rule's "per-partition … refinement for the 10^10-URL
 * seen-set", hardened from probabilistic to exact.
 *
 * Why: a candidate re-discovering an already-visited URL must die
 * against the archive (first-seen dedup, reference store/url.go:168-170),
 * and shuffling the archive every round costs O(ever-seen), which grows
 * without bound with crawl age — at 10^10 URLs it would be the whole round.
 *
 * Design: the archive is written partitioned by `host_bucket`
 * (`seen/round=r/host_bucket=b/…`), so bucket b's ever-visited URLs live
 * in a column-prunable file set no other bucket ever reads. The round's
 * bucket merge runs one task per bucket ([[Frontier.roundMerge]]), and
 * that task probes the index directly with [[contains]] for its own
 * bucket: the first probe loads bucket b's URL set once per JVM, later
 * rounds maintain it INCREMENTALLY (each appends one small
 * `round=r/host_bucket=b` slice; rounds already loaded are never re-read),
 * and each candidate costs one hash probe. No shuffle, no broadcast, no
 * expression bound to a partition id, O(delta) maintenance per round.
 *
 * Exactness: membership is over the full URL strings (UTF8String equality)
 * — not a sketch — so the filter is exactly the archive anti-join it
 * replaces. The URL-seen check keeps the north rule's two tiers: the
 * advisory one is the link thinning's resident-set [[peek]]
 * (`Crawler.peekEverSeen`), and the exact per-partition refinement is
 * this index. No Bloom tier is left: seeding takes the round's bucket
 * merge too, so both insert paths probe here, and an O(delta) exact probe
 * per bucket leaves a volume reducer nothing to save.
 *
 * Memory & cluster notes: one JVM holds the buckets it executes —
 * local-mode = all of them (bench: ~6 M URLs/round × rounds ≈ 1 GB of a
 * 32 GB heap); on a multi-executor cluster each executor pays only for the
 * buckets scheduled onto it, and a task landing on a cold executor does
 * one full O(seen_bucket) load (the price of dynamic scheduling — real
 * Iceberg would instead MERGE with positional deletes). The cache is keyed
 * by archive root and self-clears when a different root is used (bench
 * sessions share one JVM across work dirs).
 *
 * Replay safety: callers pass `cutoff = round - 1`, and rounds ≤ cutoff are
 * immutable (the round-r archive dir may be mid-write or torn — it never
 * enters the cache; the merge task reads its bucket's round-r slice, the
 * round's visit marks, through [[roundSlice]] into a set of its own). A
 * replayed round therefore sees exactly the state the torn run saw.
 */
object SeenIndex {

  private final class Entry {
    var maxRound: Int = -1
    // concurrent set, not HashSet: peek() may read while an entryFor()
    // loader in another task is still appending. Loads only ADD — a
    // racing reader sees a safe subset, never a torn structure.
    val set: java.util.Set[UTF8String] =
      java.util.concurrent.ConcurrentHashMap.newKeySet[UTF8String]()
  }

  private val cache = new java.util.concurrent.ConcurrentHashMap[(String, Int), Entry]()
  private val currentRoot = new java.util.concurrent.atomic.AtomicReference[String]()

  /** Test/maintenance hook: drop all cached bucket sets. */
  def invalidate(): Unit = { cache.clear(); currentRoot.set(null) }

  def contains(root: String, cutoff: Int, bucket: Int, url: UTF8String): Boolean =
    entryFor(root, cutoff, bucket).set.contains(url)

  /** Round `r`'s slice of `bucket` alone (the urls that round visited),
    * loaded into a fresh set and never cached: the round's own slice is
    * not committed until its manifest rename. Empty when the round wrote
    * no slice for the bucket. */
  def roundSlice(root: String, r: Int, bucket: Int): java.util.Set[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    loadRoundSlice(root, r, bucket, s)
    s
  }

  /** Load (or catch up) the bucket's set and return it — the cold-load
    * entry point perfbench's `frontier.seen_load_s` times; the crawl
    * itself probes through [[contains]]. */
  def setFor(root: String, cutoff: Int, bucket: Int): java.util.Set[UTF8String] =
    entryFor(root, cutoff, bucket).set

  /** Peek-only probe: true iff the bucket's set is ALREADY resident and
    * contains `url`. Never lists or loads anything — a miss is just "don't
    * know". Every url the set ever holds is genuinely archived (the set
    * only grows with real archive slices), so a hit is EXACT evidence of
    * seen-ness regardless of the resident watermark — safe for advisory
    * early dropping wherever the authoritative probe still runs
    * downstream. Racing a loader is safe: the backing set is concurrent
    * and loads only ADD, so a racing peek sees a subset at worst (the
    * crawler also orders its peeks after the round's load-triggering
    * jobs — see Crawler.peekEverSeen). */
  def peek(root: String, bucket: Int, url: UTF8String): Boolean = {
    val e = cache.get((root, bucket))
    e != null && e.set.contains(url)
  }

  /** The newest archive round resident for `bucket` under `root`; -1 when
    * nothing is loaded. Loads only move it forward. */
  def residentRound(root: String, bucket: Int): Int =
    Option(cache.get((root, bucket))).map(_.maxRound).getOrElse(-1)

  private def entryFor(root: String, cutoff: Int, bucket: Int): Entry = {
    val cur = currentRoot.get()
    if (cur != root) synchronized {
      // single-root working set: a new archive root (new crawl/work dir in
      // this JVM) evicts the old one's buckets wholesale
      if (currentRoot.get() != root) { cache.clear(); currentRoot.set(root) }
    }
    val e = cache.computeIfAbsent((root, bucket), _ => new Entry)
    if (e.maxRound < cutoff) e.synchronized {
      while (e.maxRound < cutoff) {
        loadRoundSlice(root, e.maxRound + 1, bucket, e.set)
        e.maxRound += 1
      }
    }
    e
  }

  /** Append round `r`'s bucket slice (url column only — parquet projection
    * reads just that chunk) into `into`. Missing dirs are fine: rounds with
    * zero admitted pops write no archive. */
  private def loadRoundSlice(root: String, r: Int, bucket: Int,
      into: java.util.Set[UTF8String]): Unit =
    loadUrlDir(
      java.nio.file.Paths.get(root, s"round=$r", s"host_bucket=$bucket").toString, into)

  /** The one read conf every slice load shares: no defaults, only the
    * `url` projection. A defaults-loading `new Configuration()` per
    * (bucket, round) slice re-parsed the `*-default.xml` resources of the
    * jars on every load — `ParquetReader.builder(readSupport, path)` builds
    * one even when a conf is passed later, so slices open through
    * [[UrlReader]] on a java.nio [[org.apache.parquet.io.LocalInputFile]]
    * instead (no Hadoop FileSystem either). Readers only read the conf. */
  private lazy val urlReadConf = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    c.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      "message g { optional binary url (UTF8); }")
    new org.apache.parquet.conf.HadoopParquetConfiguration(c)
  }

  private final class UrlReader(file: java.nio.file.Path)
      extends org.apache.parquet.hadoop.ParquetReader.Builder[org.apache.parquet.example.data.Group](
        new org.apache.parquet.io.LocalInputFile(file), urlReadConf) {
    override protected def getReadSupport() = new org.apache.parquet.hadoop.example.GroupReadSupport()
  }

  /** Load the `url` column of every parquet file under `dir` into `into`.
    * Missing dirs are a no-op. */
  private def loadUrlDir(dirPath: String,
      into: java.util.Set[UTF8String]): Unit = {
    val dir = java.nio.file.Paths.get(dirPath)
    if (!java.nio.file.Files.exists(dir)) return
    graft.sources.DirectParquet.listDir(dir).foreach { f =>
      if (f.getFileName.toString.endsWith(".parquet")) {
        val reader = new UrlReader(f).build()
        try {
          var g = reader.read()
          while (g != null) {
            into.add(UTF8String.fromBytes(g.getBinary("url", 0).getBytes))
            g = reader.read()
          }
        } finally reader.close()
      }
    }
  }
}

