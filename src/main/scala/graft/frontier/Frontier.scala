package graft.frontier

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * The distributed URL frontier — kraaler's `urlStore` (seen-set + pool +
 * samplers, /root/reference/store/url.go) re-designed as pure DataFrame
 * transformations over a host-bucketed partitioned priority queue.
 *
 * Design for 10^10 URLs (north rule):
 *  - one row per ever-seen URL (like `url_visits`, store/init.go:220-225);
 *    `last_visit` = 0 until visited — visited rows stay, because the
 *    seen-set check is against ALL ever-seen URLs (store/url.go:168-170);
 *  - rows are partitioned by `host_bucket = pmod(xxhash64(host), P)` so
 *    pop/visit/dedup all shuffle on the same key → co-partitioned joins;
 *  - membership: broadcast Bloom filter as an ADVISORY pre-filter only —
 *    bloom-negative candidates are provably new and skip the join; only
 *    bloom-positives pay the exact left-anti join (false positives never
 *    drop a URL — SURVEY.md §7.3 hard part 2);
 *  - politeness: per-host row_number cap per round (the 1-in-flight ready
 *    token of worker.go:1238-1253, generalized to a budget);
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
   * 3-4× straggler on every post-shuffle stage keyed by bucket (merge
   * aggregate, per-bucket sort, bucket-file write). At 32 cores the merge
   * is only ~4 task waves deep, so the straggler IS the stage wall.
   *
   * Fix: a driver-computed token array where `token(b)` is the smallest
   * int whose Murmur3_x86_32(seed 42) — exactly the hash family
   * `HashPartitioning.partitionIdExpression` applies to an int column —
   * lands in partition b. Repartitioning AND grouping on
   * `element_at(tokens, bucket+1)` keeps the one-exchange plan (the token
   * is a function of the bucket, hence of the url: groups are unchanged
   * and the aggregate's ClusteredDistribution is satisfied by the same
   * canonicalized expression) while giving bucket i partition i,
   * exactly one bucket per task. Deterministic: depends only on n.
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
   * `src(1b) | depth(15b) | discovered_at(47b)` — so the frontier's dedup
   * aggregations are `min(long)`: a fixed-width buffer Spark executes as a
   * pure HashAggregate. A `min(struct(...))` buffer is var-width, which
   * silently planned as SortAggregate and re-sorted the whole merge input
   * every round (found via stage metrics, round 2). Bounds asserted:
   * depth < 2^15, discovered_at < 2^47 (10^10-scale discovery stamps fit).
   */
  def packPrio(src: Column, depth: Column, discoveredAt: Column): Column =
    src.cast(LongType) * lit(1L << 62) +
      depth.cast(LongType) * lit(1L << 47) + discoveredAt

  def unpackDepth(k: Column): Column =
    pmod(call_function("shiftright", k, lit(47)), lit(1L << 15)).cast(IntegerType)

  def unpackDiscoveredAt(k: Column): Column =
    k.bitwiseAND(lit((1L << 47) - 1))

  /**
   * Normalize raw candidate URLs (columns: url, depth, discovered_at) into
   * frontier shape. Drops `data:` URLs (worker.go:1032-1034) and URLs with
   * no parseable host; lowercases/trims like ReadDomainsFromFile
   * (kraaler.go:38-48). In-batch dedup keeps the first-seen (min depth,
   * then min discovered_at) occurrence.
   *
   * @param dedup when false, skips the in-batch groupBy — callers feeding
   *   [[mergeRound]] leave dedup to ITS single aggregation (min-struct
   *   semantics are identical), saving one full candidate shuffle/round.
   */
  def normalizeCandidates(raw: DataFrame, numBuckets: Int,
      respectRobots: Boolean = false, dedup: Boolean = true): DataFrame = {
    graft.functions.GraftExpressions.register(raw.sparkSession)
    val preFiltered = raw
      .withColumn("url", trim(col("url")))
      .filter(!col("url").startsWith("data:"))
    val withHost = (if (respectRobots)
      preFiltered.filter(coalesce(
        graft.functions.GraftExpressions.robots_allowed(col("url")), lit(false)))
    else preFiltered)
      .withColumn("host", graft.functions.GraftExpressions.url_host(col("url")))
      .filter(col("host").isNotNull)
      .withColumn("host_bucket", hostBucket(col("host"), numBuckets))
    if (!dedup)
      withHost.select(col("url"), col("host"), col("host_bucket"),
        col("depth"), col("discovered_at"), lit(0L).as("last_visit"))
    else withHost
      // host/host_bucket are functions of url → part of the KEY (groups
      // unchanged); the only aggregate is min over the packed priority —
      // fixed-width buffer ⇒ HashAggregate, never a sort
      .groupBy(col("url"), col("host"), col("host_bucket"))
      .agg(min(packPrio(lit(0), col("depth"), col("discovered_at"))).as("k"))
      .select(col("url"), col("host"), col("host_bucket"),
        unpackDepth(col("k")).as("depth"),
        unpackDiscoveredAt(col("k")).as("discovered_at"),
        lit(0L).as("last_visit"))
  }

  /**
   * URL-seen dedup (urlStore.Add, store/url.go:155-220): return only the
   * candidates NOT already in the frontier. Bloom pre-filter + exact
   * anti-join on bloom-positives; never drops on a Bloom hit alone.
   *
   * @param expectedRows frontier cardinality hint (e.g. from the table
   *   manifest) — avoids a count scan; pass -1 to count here.
   * @param bloomMinRows below this the Bloom pre-filter is skipped (one
   *   anti-join beats building+broadcasting a filter for small tables).
   */
  def newOnly(frontier: DataFrame, candidates: DataFrame,
      expectedRows: Long = -1L, bloomMinRows: Long = 4000000L): DataFrame = {
    val n = if (expectedRows >= 0) expectedRows else frontier.count()
    if (n == 0) return candidates
    if (n < bloomMinRows)
      return candidates.join(frontier.select("url"), Seq("url"), "left_anti")
    graft.functions.GraftExpressions.register(frontier.sparkSession)
    // build over xxhash64(url) longs; probe with Spark's codegen'd
    // BloomFilterMightContain (the same expression a runtime-filter join
    // injects) — the sketch rides the plan as a binary literal, no UDF
    val bloom = frontier.select(xxhash64(col("url")).as("h"))
      .stat.bloomFilter("h", math.max(n, 64L), 0.03)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val maybe = call_function("bloom_might_contain",
      lit(bos.toByteArray), xxhash64(col("url")))
    val definitelyNew = candidates.filter(!maybe)
    val survivors = candidates.filter(maybe)
      .join(frontier.select("url"), Seq("url"), "left_anti")
    definitelyNew.unionByName(survivors)
  }

  /** Restore the derivable columns a SLIM pool file drops
    * ([[graft.sources.IcebergishTable]] `dropCols`): `host` and
    * `host_bucket` are pure functions of `url` (the same expressions
    * [[normalizeCandidates]] and [[mergeRound]] derive them with, so the
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

  /** Stream anti-join of domains vs seen URLs in both schemes
    * (urlStore.FilterKnown, store/url.go:251-276). */
  def filterKnown(domains: DataFrame, frontier: DataFrame): DataFrame = {
    val withUrls = domains
      .withColumn("http_url", concat(lit("http://"), col("domain")))
      .withColumn("https_url", concat(lit("https://"), col("domain")))
    withUrls
      .join(frontier.select(col("url").as("http_url")), Seq("http_url"), "left_anti")
      .join(frontier.select(col("url").as("https_url")), Seq("https_url"), "left_anti")
      .select(col("domain"))
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
                  "(bucket file split or unsorted commit — see IcebergishTable sortCols)")
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

  /**
   * One-pass round merge — the MERGE INTO formulation of
   * (Add new candidates ⊕ Visit popped, store/url.go:155-249) as a SINGLE
   * hash aggregation: union the frontier rows, the candidate rows, and the
   * visit marks (popped rows re-tagged with `last_visit = round`), then
   * one groupBy(url) resolving
   *
   *  - identity: `min(packPrio(src, depth, discovered_at))` with src=0 for
   *    existing rows and src=1 for candidates — an existing row ALWAYS wins
   *    (first-seen dedup, store/url.go:168-170), and among new candidates
   *    the (min depth, min discovered_at) occurrence wins, exactly the
   *    normalizeCandidates in-batch rule (so callers skip that groupBy);
   *  - `last_visit = max(...)` — popped rows mark this round, others keep
   *    their old mark.
   *
   * ONE exchange total, pure HashAggregate (fixed-width LONG buffers — see
   * [[packPrio]]; NO sort anywhere: the round-1 full outer join sorted BOTH
   * sides). The exchange hashes on `host_bucket`, NOT on the group key:
   * host_bucket is a function of url, so bucket-clustering already
   * co-locates every url's rows, and Catalyst accepts it for the groupBy's
   * ClusteredDistribution (subset rule) — the aggregate runs bucket-local
   * with no second exchange, AND the output is exactly the partitioning the
   * table commit needs, so the commit's own repartition disappears too
   * (round 2 paid exchange-on-url + exchange-on-bucket = two full passes of
   * the pool over the wire per round). Pass only the DIRTY buckets'
   * frontier rows — clean buckets never enter the shuffle, making
   * per-round cost O(touched data), the real MERGE INTO shape.
   */
  def mergeRound(frontier: DataFrame, cands: DataFrame, popped: DataFrame,
      round: Long, numBuckets: Int): DataFrame = {
    // `host` AND `host_bucket` are pure functions of url (url_host — the
    // same expression normalizeCandidates derived them with) — DON'T ship
    // them through the exchange: at 8 B each of a ~64 B UnsafeRow that's
    // ~30% of the round's shuffle bytes (which cost fixed ~200 MB/s kernel
    // time on this VM, and network at the 10^10 design point). The
    // exchange hashes on the recomputed bucket EXPRESSION; both are
    // rematerialized post-agg, codegen'd, on the already-deduped rows.
    def slim(df: DataFrame, src: Int, visit: Column): DataFrame =
      df.select(col("url"),
        packPrio(lit(src), col("depth"), col("discovered_at")).as("k"),
        visit.as("last_visit"))
    val f = slim(frontier, 0, col("last_visit"))
    val c = slim(cands, 1, lit(0L))
    // popped ⊆ frontier: full identity is already on the row
    val m = slim(popped, 0, lit(round))
    // the bucket EXPRESSION is also a grouping key (groups unchanged —
    // it's a function of url): Catalyst's alias-aware partitioning then
    // recognizes the repartition-on-expression as satisfying the
    // aggregate's clustering, keeping the plan at ONE exchange
    val bucketOfUrl =
      hostBucket(graft.functions.GraftExpressions.url_host(col("url")), numBuckets)
    // exchange + group on the balanced TOKEN of the bucket (still a pure
    // function of url — groups unchanged, one exchange, see partitionTokens):
    // bucket i lands alone in shuffle partition i, so the aggregate, the
    // per-bucket sort, and the bucket-file write all run skew-free. The
    // explicit partition count pins the 1:1 layout (and marks the shuffle
    // REPARTITION_BY_NUM, which AQE never coalesces — a coalesce would
    // re-merge buckets into shared tasks).
    val tokenOfUrl = bucketToken(bucketOfUrl, numBuckets)
    f.unionByName(c).unionByName(m)
      .repartition(numBuckets, tokenOfUrl)
      .groupBy(col("url"), tokenOfUrl.as("pt"))
      .agg(min(col("k")).as("k"), max(col("last_visit")).as("last_visit"))
      .select(col("url"),
        graft.functions.GraftExpressions.url_host(col("url")).as("host"),
        bucketOfUrl.as("host_bucket"),
        unpackDepth(col("k")).as("depth"),
        unpackDiscoveredAt(col("k")).as("discovered_at"), col("last_visit"))
  }

  /** Mark popped URLs visited at `round` (urlStore.Visit,
    * store/url.go:222-249). Rows are retained — the seen-set must keep
    * them (resume + dedup correctness). Standalone form: a plain left
    * join on `url` (the hot path never calls this — [[mergeRound]] fuses
    * the visit marks into its single bucket-local aggregation). */
  def markVisited(frontier: DataFrame, popped: DataFrame, round: Long): DataFrame = {
    val marks = popped.select(col("url"), lit(round).as("new_visit"))
    frontier
      .join(marks, Seq("url"), "left")
      .withColumn("last_visit",
        when(col("new_visit").isNotNull, col("new_visit")).otherwise(col("last_visit")))
      .drop("new_visit")
  }
}
