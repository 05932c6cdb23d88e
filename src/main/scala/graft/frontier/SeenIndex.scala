package graft.frontier

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Partition-local EXACT seen-set index over the crawler's append-only seen
 * archive — the north rule's "per-partition … refinement for the 10^10-URL
 * seen-set", hardened from probabilistic to exact.
 *
 * Why it exists (round 3, found by the scaling decomposition): the round
 * merge previously unioned the FULL ever-seen archive into its shuffle so
 * that a candidate re-discovering an already-visited URL dies against the
 * archived row (first-seen dedup, reference store/url.go:168-170). That
 * made per-round shuffle volume O(pool + ever-seen + candidates) — the
 * ever-seen term grows without bound with crawl age, exactly the unbounded
 * cost the pool/archive split removed from the WRITE path. At 10^10 URLs
 * the archive dwarfs the live pool and re-shuffling it every round is the
 * whole round.
 *
 * Design: the archive is written partitioned by `host_bucket`
 * (`seen/round=r/host_bucket=b/…`), so bucket b's ever-visited URLs live
 * in a column-prunable file set no other bucket ever reads. The merge
 * output is hash-partitioned 1:1 bucket→partition (see
 * [[Frontier.partitionTokens]]), so the task holding partition b IS the
 * task responsible for bucket b: [[SeenIndexContains]] (a nondeterministic
 * — i.e. partition-initialized — predicate) loads bucket b's URL set once
 * per JVM, maintains it INCREMENTALLY (each later round appends one small
 * `round=r/host_bucket=b` slice; rounds already loaded are never re-read),
 * and drops re-discovered candidates with a per-row hash probe. No shuffle,
 * no broadcast, O(delta) maintenance per round.
 *
 * Exactness: membership is over the full URL strings (UTF8String equality)
 * — not a sketch — so the filter is exactly the archive anti-join it
 * replaces. This index IS the north rule's per-partition refinement; the
 * broadcast Bloom pre-filter of [[Frontier.newOnly]] is the seeding
 * path's advisory volume reducer.
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
 * immutable (the round-r archive dir may be mid-write or torn — it is
 * never read here; the round's own popped rows reach the merge as visit
 * marks through the shuffle instead). A replayed round therefore sees
 * exactly the state the torn run saw.
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
    // materialize + CLOSE the listing stream: an unclosed Files.list holds
    // the directory fd until GC — at one listing per (bucket, round) per
    // executor these leaks exhaust the fd limit mid-campaign (measured)
    val files = {
      val s = java.nio.file.Files.list(dir)
      try {
        val b = Vector.newBuilder[java.nio.file.Path]
        s.forEach(p => b += p)
        b.result()
      } finally s.close()
    }
    val it = files.iterator
    while (it.hasNext) {
      val f = it.next()
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

/**
 * `seen_index_contains(url)` — true iff `url` is in the seen archive at
 * `root` for rounds ≤ `cutoff`, for THIS task's bucket.
 *
 * Nondeterministic so (a) `initialize(partitionIndex)` binds the task's
 * partition id — which IS the host bucket, because the only valid call
 * site is the 1:1 token-partitioned output of [[Frontier.mergeRound]] —
 * and (b) Catalyst will not push/reorder the filter away from that
 * partitioning (a pushdown through the merge's exchange would change the
 * partition→bucket binding and be semantically wrong).
 */
case class SeenIndexContains(child: Expression, root: String, cutoff: Int)
  extends UnaryExpression with Nondeterministic with CodegenFallback {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "seen_index_contains"

  @transient private var bucket: Int = _

  override protected def initializeInternal(partitionIndex: Int): Unit =
    bucket = partitionIndex

  override protected def evalInternal(input: InternalRow): Any = {
    val u = child.eval(input)
    if (u == null) false
    else SeenIndex.contains(root, cutoff, bucket, u.asInstanceOf[UTF8String])
  }

  override protected def withNewChildInternal(newChild: Expression): SeenIndexContains =
    copy(child = newChild)
}
