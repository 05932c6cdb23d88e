package graft.frontier

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/**
 * The distributed URL frontier — kraaler's `urlStore` (seen-set + pool +
 * samplers, /root/reference/store/url.go) re-designed as pure DataFrame
 * transformations over a host-bucketed partitioned priority queue.
 *
 * Design for 10^10 URLs (north rule):
 *  - one row per URL, `last_visit` = 0 until visited. The crawler's
 *    frontier table holds only the unvisited pool; a popped row leaves it
 *    for the append-only seen archive the round it is fetched
 *    ([[graft.pipeline.Crawler]]). The seen-set check is still against ALL
 *    ever-seen URLs (store/url.go:168-170): each bucket's round merge
 *    ([[mergeBucket]]) drops a candidate that is still in the bucket's
 *    pool, visited this round, or archived (the exact per-bucket
 *    [[SeenIndex]] probe), and only the candidates are shuffled;
 *  - rows are partitioned by `host_bucket = pmod(xxhash64(host), P)` so
 *    pop/visit/dedup all shuffle on the same key → co-partitioned joins;
 *  - seeding is a round with candidates and no pops: seeds go through
 *    the same bucket merge ([[roundMerge]]), so one exact probe serves
 *    both insert paths (kraaler's single `urlStore.Add`);
 *  - politeness: a per-host cap per round (the 1-in-flight ready token of
 *    worker.go:1238-1253, generalized to a budget). The crawler's fifo
 *    pop is a streaming per-host counter over the host-sorted bucket
 *    files ([[popSortedFifo]]); the other samplers rank with row_number
 *    windows ([[pop]]);
 *  - priority: (depth, discovered_at, url) — crawl-depth then discovery
 *    time, ties broken deterministically.
 */
object Frontier {

  val schema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("host", StringType, nullable = false),
    StructField("host_bucket", IntegerType, nullable = false),
    StructField("depth", IntegerType, nullable = false),
    StructField("discovered_at", LongType, nullable = false),
    StructField("last_visit", LongType, nullable = false)))

  def hostBucket(host: Column, numBuckets: Int): Column =
    pmod(xxhash64(host), lit(numBuckets)).cast(IntegerType)

  /**
   * Perfect bucket→shuffle-partition mapping. `repartition(P, col)` places
   * a row by `pmod(murmur3(col), P)` — murmur-hashing the `numBuckets`
   * distinct bucket ids into `numBuckets` partitions is a birthday draw
   * that lands 3-4 buckets in one partition while leaving others empty, a
   * 3-4× straggler on every post-shuffle stage keyed by bucket (the
   * round's bucket merge and bucket-file write). At 32 cores the merge is
   * only ~4 task waves deep, so the straggler IS the stage wall.
   *
   * Fix: a driver-computed token array where `token(b)` is the smallest
   * int whose Murmur3_x86_32(seed 42) — exactly the hash family
   * `HashPartitioning.partitionIdExpression` applies to an int column —
   * lands in partition b. Repartitioning on `element_at(tokens, bucket+1)`
   * gives bucket i partition i, exactly one bucket per task, so the merge
   * task of partition i IS bucket i's task ([[roundMerge]]).
   * Deterministic: depends only on n.
   */
  private val tokenCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Int]]()
  def partitionTokens(n: Int): Array[Int] =
    tokenCache.computeIfAbsent(n, { n =>
      val slots = Array.fill(n)(-1)
      var t = 0
      var filled = 0
      // coupon-collector: ~n ln n probes (128 buckets → ~712)
      while (filled < n) {
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(t, 42)
        val p = ((h % n) + n) % n
        if (slots(p) < 0) { slots(p) = t; filled += 1 }
        t += 1
      }
      slots
    })

  /** The balanced shuffle key for a bucket column: `element_at` is 1-based. */
  def bucketToken(bucket: Column, numBuckets: Int): Column =
    element_at(lit(partitionTokens(numBuckets)), bucket + lit(1))

  /**
   * First-seen priority packed into ONE non-negative BIGINT —
   * `depth(15b) | discovered_at(47b)` — so the delta ships one long per
   * candidate ([[roundDelta]]; [[roundMerge]] unpacks it).
   * Bounds: depth < 2^15, discovered_at < 2^47.
   */
  def packPrio(depth: Column, discoveredAt: Column): Column =
    depth.cast(LongType) * lit(1L << 47) + discoveredAt

  /**
   * Normalize raw candidate URLs (columns: url, depth, discovered_at) into
   * frontier shape. Drops `data:` URLs (worker.go:1032-1034) and URLs with
   * no parseable host; lowercases/trims like ReadDomainsFromFile
   * (kraaler.go:38-48). No in-batch dedup: the bucket merge
   * ([[mergeBucket]]) keeps the first-seen (min depth, then min
   * discovered_at) occurrence of a url, so no candidate shuffle is paid
   * here.
   */
  def normalizeCandidates(raw: DataFrame, numBuckets: Int,
      respectRobots: Boolean = false): DataFrame = {
    graft.functions.GraftExpressions.register(raw.sparkSession)
    val preFiltered = raw
      .withColumn("url", trim(col("url")))
      .filter(!col("url").startsWith("data:"))
    (if (respectRobots)
      preFiltered.filter(coalesce(
        graft.functions.GraftExpressions.robots_allowed(col("url")), lit(false)))
    else preFiltered)
      .withColumn("host", graft.functions.GraftExpressions.url_host(col("url")))
      .filter(col("host").isNotNull)
      .select(col("url"), col("host"), hostBucket(col("host"), numBuckets).as("host_bucket"),
        col("depth"), col("discovered_at"), lit(0L).as("last_visit"))
  }

  /** Restore the derivable columns a SLIM pool file drops
    * ([[graft.sources.IcebergishTable]] `dropCols`): `host` and
    * `host_bucket` are pure functions of `url` (the same expressions
    * [[normalizeCandidates]] and [[roundMerge]] derive them with, so the
    * restored values — and the file sort order that was computed on the
    * materialized column — are identical), and `last_visit` is constant 0
    * for every pool row since the pool/seen split. Dropping them cut ~25 %
    * of the per-round rewrite's sort+encode+fresh-page volume. */
  def restorePool(df: DataFrame, numBuckets: Int): DataFrame = {
    graft.functions.GraftExpressions.register(df.sparkSession)
    val host = graft.functions.GraftExpressions.url_host(col("url"))
    df.select(col("url"), host.as("host"),
      hostBucket(host, numBuckets).as("host_bucket"),
      col("depth"), col("discovered_at"), lit(0L).as("last_visit"))
  }

  /** Sampler priority key (lower = popped first).
    *  - fifo    : discovery order per host — the deterministic ordering the
    *              correctness gate compares (SURVEY.md §7.3 hard part 3)
    *  - uniform : seeded hash order (UniformSampler, store/url.go:280-295,
    *              wall-clock rand replaced by xxhash64(url, seed))
    *  - pair    : host-fairness weighted order (PairSampler,
    *              store/url.go:297-333): weight = base/(visited+1), base =
    *              2000 iff host has exactly 1 visit; realized as an
    *              exponential race -ln(u)/w so a single sort implements
    *              weighted sampling without replacement.
    */
  def priorityKey(sampler: String, seed: Long, visitedByHost: Option[DataFrame],
      boost: Double = 2000.0): DataFrame => DataFrame = { unvisited =>
    sampler match {
      case "fifo" =>
        unvisited.withColumn("prio",
          struct(col("depth"), col("discovered_at"), col("url")))
      case "uniform" =>
        unvisited.withColumn("prio",
          struct(xxhash64(col("url"), lit(seed)), col("url")))
      case "pair" =>
        val vc = visitedByHost.getOrElse(
          unvisited.sparkSession.emptyDataFrame
            .select(lit("").as("host"), lit(0L).as("visits")).limit(0))
        val joined = unvisited.join(broadcast(vc), Seq("host"), "left")
          .withColumn("visits", coalesce(col("visits"), lit(0L)))
        val base = when(col("visits") === 1, lit(boost)).otherwise(lit(1.0))
        val w = base / (col("visits") + lit(1.0))
        // u in (0,1), deterministic per (url, seed)
        val u = (pmod(xxhash64(col("url"), lit(seed)), lit(1000000000L))
          .cast(DoubleType) + lit(1.0)) / lit(1000000001.0)
        joined.withColumn("prio", struct((-log(u) / w).as("k"), col("url")))
          .drop("visits")
      case other => throw new IllegalArgumentException(s"unknown sampler: $other")
    }
  }

  /**
   * Pop one fetch round (urlStore.Sample generalized to a batch,
   * store/url.go:125-145): per-host politeness cap, then per-bucket budget.
   * Both windows partition by keys the frontier is already bucketed on, so
   * the sort is per-partition — no global ordering, no driver collect.
   */
  def pop(frontier: DataFrame, sampler: String, seed: Long,
      perHostBudget: Int, perBucketBudget: Int, unique: Boolean = true,
      boost: Double = 2000.0, sorted: Boolean = false): DataFrame = {
    if (sorted && sampler == "fifo" && unique)
      return popSortedFifo(frontier, perHostBudget, perBucketBudget)
    val pool = if (unique) frontier.filter(col("last_visit") === 0L) else frontier
    val visitedByHost =
      if (sampler == "pair")
        Some(frontier.filter(col("last_visit") > 0L)
          .groupBy("host").agg(count(lit(1)).as("visits")))
      else None
    // Single exchange: repartition on host_bucket, then BOTH windows'
    // required clustering is already satisfied — (host_bucket, host) and
    // (host_bucket) are subsets-compatible with hash(host_bucket) — so
    // Catalyst plans sort-only windows with no further shuffle. (host
    // determines host_bucket, so ranking per (host_bucket, host) IS the
    // per-host politeness rank.)
    val keyed = priorityKey(sampler, seed, visitedByHost, boost)(pool)
      .repartition(col("host_bucket"))
    val byHost = Window.partitionBy(col("host_bucket"), col("host")).orderBy(col("prio"))
    val byBucket = Window.partitionBy(col("host_bucket")).orderBy(col("prio"))
    keyed
      .withColumn("rn_host", row_number().over(byHost))
      .filter(col("rn_host") <= perHostBudget)
      .withColumn("rn_bucket", row_number().over(byBucket))
      .filter(col("rn_bucket") <= perBucketBudget)
      .select("url", "host", "host_bucket", "depth", "discovered_at")
  }

  /**
   * Scale-safe fifo pop over a CLUSTER-SORTED frontier: when the table's
   * bucket files are stored sorted by (host, depth, discovered_at, url) —
   * [[graft.sources.IcebergishTable]] writes them that way — popping is one
   * streaming pass per partition: a per-host politeness counter (rows of a
   * host arrive contiguous and in priority order) plus a bounded
   * per-bucket top-K heap. NO Sort node, NO exchange, O(popped) memory —
   * at 10^10 frontier rows a round reads the pool once and sorts nothing,
   * where the window form paid an O(pool log pool) sort every round.
   *
   * Output set is provably identical to the window form (same per-host cap
   * in the same priority order, same per-bucket top-K by the same total
   * order). Sortedness is asserted per row — a violated invariant (e.g. a
   * bucket file split across read partitions) fails loudly, never silently
   * mis-pops.
   */
  def popSortedFifo(frontier: DataFrame, perHostBudget: Int,
      perBucketBudget: Int): DataFrame =
    popSortedFifoImpl(frontier, perHostBudget, perBucketBudget, None, 0L, 0.0, 0.0, None)
      .select("url", "host", "host_bucket", "depth", "discovered_at")

  /**
   * The sorted fifo pop WITH the per-host politeness token-bucket verdict
   * fused into its streaming pass — one column (`admit`) on top of
   * [[popSortedFifo]]'s output, at zero extra passes. Other samplers
   * flag in a SEPARATE partition-local pass over the pop output
   * ([[graft.streaming.Politeness.flagAdmissionsWithMap]] — a hashmap
   * regroup + per-host sort of every offered row); this pop already walks
   * each host's rows contiguously IN priority order, so the token check
   * is one comparison against a per-host counter the pass maintains
   * anyway. Per-host admitted counts over the heap survivors go to
   * `admitAcc` (see [[graft.streaming.Politeness.AdmittedCounts]]).
   *
   * Verdicts are IDENTICAL to pop → flagAdmissionsWithMap: a host's
   * bucket-heap survivors are always a PREFIX of its priority-ordered
   * offer (any top-K set under a total order is downward closed within
   * one host's chain), so flagging the first `admitLimit` offered rows before heap
   * truncation equals flagging the first `admitLimit` survivors after it
   * (equivalence-tested in StreamingSpec, heap eviction included).
   */
  def popSortedFifoFlagged(frontier: DataFrame, perHostBudget: Int,
      perBucketBudget: Int,
      state: org.apache.spark.broadcast.Broadcast[java.util.HashMap[String, (Double, Long)]],
      roundId: Long, ratePerRound: Double, burst: Double,
      admitAcc: graft.streaming.Politeness.AdmittedCountsAcc): DataFrame =
    popSortedFifoImpl(frontier, perHostBudget, perBucketBudget, Some(state),
      roundId, ratePerRound, burst, Some(admitAcc))

  private def popSortedFifoImpl(frontier: DataFrame, perHostBudget: Int,
      perBucketBudget: Int,
      state: Option[org.apache.spark.broadcast.Broadcast[java.util.HashMap[String, (Double, Long)]]],
      roundId: Long, ratePerRound: Double, burst: Double,
      admitAcc: Option[graft.streaming.Politeness.AdmittedCountsAcc]): DataFrame = {
    import graft.model.Model.FrontierEntry
    import graft.streaming.Politeness
    import graft.streaming.Politeness.FlaggedEntry
    implicit val inEnc = org.apache.spark.sql.Encoders.product[FrontierEntry]
    implicit val outEnc = org.apache.spark.sql.Encoders.product[FlaggedEntry]
    // worst-first ordering so the heap root is the eviction candidate
    val worstFirst: Ordering[FrontierEntry] =
      Ordering.by((e: FrontierEntry) => (e.depth, e.discovered_at, e.url))
    val worstFirstF: Ordering[FlaggedEntry] =
      Ordering.by((e: FlaggedEntry) => (e.depth, e.discovered_at, e.url))
    frontier
      .select("url", "host", "host_bucket", "depth", "discovered_at", "last_visit")
      .filter(col("last_visit") === 0L)
      .as[FrontierEntry]
      .mapPartitions { it =>
        val heaps = scala.collection.mutable.Map
          .empty[Int, scala.collection.mutable.PriorityQueue[FlaggedEntry]]
        var curBucket = Int.MinValue
        var curHost: String = null
        var curCount = 0
        var curAdmit = Int.MaxValue
        var prev: FrontierEntry = null
        it.foreach { e =>
          if (e.host_bucket != curBucket || e.host != curHost) {
            if (e.host_bucket == curBucket && prev != null && e.host < curHost)
              throw new IllegalStateException(
                s"frontier bucket ${e.host_bucket} not host-sorted: ${e.host} after $curHost " +
                  "(bucket file split or unsorted commit — see Frontier.fileOrder)")
            curBucket = e.host_bucket; curHost = e.host; curCount = 0
            curAdmit = state match {
              case Some(bc) =>
                Politeness.admitLimit(bc.value.get(e.host), roundId, ratePerRound, burst)
              case None => Int.MaxValue
            }
          } else if (prev != null && worstFirst.lt(e, prev)) {
            throw new IllegalStateException(
              s"frontier host ${e.host} not priority-sorted (unsorted commit?)")
          }
          if (curCount < perHostBudget) {
            val fe = FlaggedEntry(e.url, e.host, e.host_bucket, e.depth,
              e.discovered_at, curCount < curAdmit)
            curCount += 1
            val h = heaps.getOrElseUpdate(e.host_bucket,
              scala.collection.mutable.PriorityQueue.empty[FlaggedEntry](worstFirstF))
            if (h.size < perBucketBudget) h.enqueue(fe)
            else if (worstFirstF.lt(fe, h.head)) { h.dequeue(); h.enqueue(fe) }
          }
          prev = e
        }
        // side output: per-host admitted counts over the heap SURVIVORS
        // (every offered host, 0 if all its offers were rejected), keyed
        // by partitionId so re-execution overwrites idempotently
        admitAcc.foreach { acc =>
          val counts = new java.util.HashMap[String, java.lang.Long]()
          heaps.valuesIterator.foreach(_.foreach { fe =>
            counts.merge(fe.host, java.lang.Long.valueOf(if (fe.admit) 1L else 0L),
              (a, b) => java.lang.Long.valueOf(a.longValue() + b.longValue()))
          })
          acc.add((org.apache.spark.TaskContext.getPartitionId(), counts))
        }
        heaps.valuesIterator.flatMap(_.iterator)
      }
      .toDF()
      .select("url", "host", "host_bucket", "depth", "discovered_at", "admit")
  }

  /** One frontier row as the bucket merge sees it (`host` = `url_host`). */
  final case class BucketRow(url: UTF8String, host: UTF8String, depth: Int,
      discoveredAt: Long)

  /** The bucket-file order (host, depth, discovered_at, url), strings
    * compared as UTF8String bytes (Spark's string order): every bucket
    * file is written in it, and the streaming pop checks it. */
  val fileOrder: Ordering[BucketRow] = new Ordering[BucketRow] {
    def compare(a: BucketRow, b: BucketRow): Int = {
      var c = a.host.binaryCompare(b.host)
      if (c == 0) c = Integer.compare(a.depth, b.depth)
      if (c == 0) c = java.lang.Long.compare(a.discoveredAt, b.discoveredAt)
      if (c == 0) c = a.url.binaryCompare(b.url)
      c
    }
  }

  /** [[hostBucket]] of one host: xxhash64 (seed 42) pmod `numBuckets`. */
  def bucketOf(host: UTF8String, numBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(host.getBaseObject, host.getBaseOffset, host.numBytes, 42L)
    (((h % numBuckets) + numBuckets) % numBuckets).toInt
  }

  /**
   * One bucket's round merge — Add ⊕ Visit (store/url.go:155-249) over
   * the bucket's sorted pool stream. A pool row visited this round leaves
   * the pool; among one url's candidates the minimum (depth,
   * discovered_at) wins; a candidate dies when its url is visited,
   * `archived`, or still in the pool (the existing row always wins,
   * store/url.go:168-170). Output is in [[fileOrder]], as `pool` must be.
   * Only the surviving candidates are sorted; the pool streams through
   * one host at a time (a url's duplicates share its host), so memory is
   * O(candidates + the largest host's pool rows). Pool rows are never
   * archived: a pop leaves the pool the round it is archived.
   */
  def mergeBucket(pool: Iterator[BucketRow], cands: Iterator[BucketRow],
      visited: UTF8String => Boolean, archived: UTF8String => Boolean): Iterator[BucketRow] = {
    val best = new java.util.HashMap[UTF8String, BucketRow]()
    cands.foreach { c =>
      val b = best.get(c.url)
      if (b == null || c.depth < b.depth || (c.depth == b.depth && c.discoveredAt < b.discoveredAt))
        best.put(c.url, c)
    }
    val fresh = best.values.iterator.asScala
      .filterNot(c => visited(c.url) || archived(c.url)).toArray.sorted(fileOrder)
    val kept = pool.filterNot(p => visited(p.url)).buffered
    var ci = 0
    def hostRun(): Iterator[BucketRow] = {
      val host =
        if (!kept.hasNext || (ci < fresh.length &&
            fresh(ci).host.binaryCompare(kept.head.host) < 0)) fresh(ci).host
        else kept.head.host
      val rows = scala.collection.mutable.ArrayBuffer.empty[BucketRow]
      while (kept.hasNext && kept.head.host == host) rows += kept.next()
      val poolRows = rows.length
      val known = if (ci < fresh.length && fresh(ci).host == host) rows.map(_.url).toSet
        else Set.empty[UTF8String]
      while (ci < fresh.length && fresh(ci).host == host) {
        if (!known(fresh(ci).url)) rows += fresh(ci)
        ci += 1
      }
      // two sorted runs: TimSort merges them in one linear pass
      if (poolRows == 0 || poolRows == rows.length) rows.iterator
      else rows.sorted(fileOrder).iterator
    }
    Iterator.continually(()).takeWhile(_ => kept.hasNext || ci < fresh.length)
      .flatMap(_ => hostRun())
  }

  /** The round's candidate delta: (url, packed priority) rows shuffled on
    * the bucket token, so partition i holds exactly bucket i's candidates
    * ([[partitionTokens]]; REPARTITION_BY_NUM, which AQE never
    * coalesces). `host` and `host_bucket` are recomputed from url, not
    * shuffled. */
  def roundDelta(cands: DataFrame, numBuckets: Int): DataFrame = {
    val bucketOfUrl =
      hostBucket(graft.functions.GraftExpressions.url_host(col("url")), numBuckets)
    cands.select(col("url"), packPrio(col("depth"), col("discovered_at")).as("k"))
      .repartition(numBuckets, bucketToken(bucketOfUrl, numBuckets))
  }

  /**
   * The round's bucket merge, one task per bucket in
   * [[graft.sources.IcebergishTable.commitMerge]]: bucket b's
   * [[roundDelta]] rows, its visit marks (the `seen/round=r/host_bucket=b`
   * slice the fetch task wrote) and its pool file go through
   * [[mergeBucket]], with the [[SeenIndex]] of rounds ≤ r-1 as the
   * archive. A bucket with neither candidates nor visits stays clean and
   * its file is not read. A delta row of another bucket fails the task.
   * Seeding runs it too, at the committed round ([[graft.pipeline.Crawler]]
   * `addSeedCandidates`): that round's slice and the archive before it
   * are then together every url ever visited.
   */
  def roundMerge(seenRoot: String, round: Int, numBuckets: Int)
      : graft.sources.IcebergishTable.BucketMerge = (bucket, delta, pool) => {
    val visited = SeenIndex.roundSlice(seenRoot, round, bucket)
    if (!delta.hasNext && visited.isEmpty) None
    else {
      def row(url: UTF8String, depth: Int, discoveredAt: Long): BucketRow =
        BucketRow(url, UTF8String.fromString(graft.functions.UrlFns.hostOf(url.toString)),
          depth, discoveredAt)
      val cands = delta.map { r =>
        val k = r.getLong(1)
        val c = row(r.getUTF8String(0).copy(), (k >>> 47).toInt, k & ((1L << 47) - 1))
        if (c.host == null || bucketOf(c.host, numBuckets) != bucket)
          throw new IllegalStateException(s"delta row ${c.url} reached the merge task of " +
            s"bucket $bucket: the delta is not partitioned by bucket token")
        c
      }
      val merged = mergeBucket(
        pool().map(r => row(r.getUTF8String(0).copy(), r.getInt(1), r.getLong(2))),
        cands, visited.contains, SeenIndex.contains(seenRoot, round - 1, bucket, _))
      val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(3)
      Some(merged.map { e =>
        out.update(0, e.url); out.setInt(1, e.depth); out.setLong(2, e.discoveredAt)
        out
      })
    }
  }
}
