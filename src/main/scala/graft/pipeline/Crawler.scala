package graft.pipeline

import graft.fetch.{Correlate, FetchSim}
import graft.frontier.Frontier
import graft.functions.UrlFns
import graft.model.Model._
import graft.sources.{DirectParquet, IcebergishTable}
import graft.streaming.Politeness
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/**
 * The crawl pipeline — kraaler's `krl run` steady state
 * (/root/reference/app/cmd/run.go:46-159 + worker.go:1224-1296) as a
 * sequence of deterministic micro-batch "fetch rounds":
 *
 *   pop(budget) → fetch task (fetch → correlate → docs file + seen-archive
 *   slices) → frontier expand (dedup) + visit marks → atomic commit →
 *   lineage metrics.
 *
 * One round = one micro-batch (the reference's analogue is the
 * 1-token-per-worker ready loop, worker.go:1238-1253; our budget is
 * per-host × per-bucket instead of per-worker): the fetch job, then the
 * frontier commit's jobs (merge exchange + bucket-file write); a gated
 * round's politeness state is written by the driver, not by a job.
 *
 * Write protocol: every file a round writes goes through
 * [[graft.sources.DirectParquet]] (deterministic `part-<partition>`
 * names, temp file + atomic rename, no Hadoop committer or FileSystem),
 * and the round has exactly two commit points — the overwrite of the
 * round directories (`docs/round=r` and `seen/round=r`, cleared before
 * the fetch job) and the frontier manifest rename, which is what makes
 * round r visible. Everything is replayable: a torn round leaves the
 * manifest un-bumped, readers filter on the manifest round, the
 * SeenIndex only loads rounds before the running one, and re-running
 * round N overwrites its directories (idempotent replay — the
 * SQLite-transaction analogue of store/store.go:69-105). The Hadoop
 * committer was dropped because the checksummed local FileSystem forked
 * a `chmod` per file and directory and every write task deserialized
 * the whole session Hadoop conf — the round's largest waste.
 *
 * Scale design (10^10 frontier / 1000 executors):
 *  - the fetch runs in place on the host-clustered pop output (host
 *    affinity for politeness and DNS-cache locality, worker.go:117);
 *    only with `saltFactor > 0` does it shuffle on `host#salt`, splitting
 *    hot hosts across `saltFactor` partitions (north rule: explicit skew
 *    handling);
 *  - docs are append-only round-partitioned parquet — never rewritten;
 *  - the frontier is SPLIT: the live pool (unvisited queue) is the only
 *    table rewritten per round, and popped rows leave it for an
 *    append-only seen archive the round they are fetched — per-round
 *    write I/O is O(pool + delta), never O(ever-seen) (at 10^10 the
 *    ever-seen set dwarfs the live pool); see [[IcebergishTable]] for
 *    the MERGE-INTO swap point. The archive never re-enters the merge
 *    SHUFFLE either: re-discovered archived urls are dropped by an exact
 *    partition-local membership probe over the bucket's own archive
 *    slice ([[graft.frontier.SeenIndex]]) — per-round shuffle volume is
 *    likewise O(pool + delta), never O(ever-seen);
 *  - nothing collects rows to the driver except ≤P lineage counters and,
 *    on a gated round, the politeness token map.
 *
 * Precondition of politeness-gated rounds (`politenessRate > 0`): the
 * per-host token map is driver-resident and broadcast every gated round,
 * so it costs O(hosts ever popped) of driver memory (~32 B per host plus
 * map overhead). Every gated round takes the same steps: load the map
 * (the resident one, or `politeness/round-(r-1)` on a miss), flag the
 * pop against it while counting admitted rows per host in an
 * accumulator, then merge the counts into the map and write its durable
 * copy (see [[graft.streaming.Politeness]]).
 */
class Crawler(
    spark: SparkSession,
    workDir: String,
    sim: FetchSim,
    cfg: CrawlConfig) {

  import spark.implicits._

  // Dictionary encoding is off for EVERY crawl-path write (docs, seen
  // archive, frontier): the heavy columns (url, spans JSON, links,
  // doc_id) are near-unique, so parquet's per-page dictionary attempt is
  // wasted encode CPU that then FALLS BACK anyway (JFR r4: the dictionary
  // hash probing/rehash + binary compares were the largest attributable
  // share of the docs-write encoder). The genuinely repetitive columns
  // (host, error="") still compress away under the file-level zstd.
  //
  // Min/max column statistics are likewise off for the fat/unique binary
  // columns (span text payloads, link urls, url, doc_id): stats exist to
  // power predicate pushdown, and no crawl-path read filters on these —
  // docs prune by the round partition dir, frontier/seen reads are
  // per-bucket FILE selections — while computing them costs a
  // lexicographic compare of every multi-KB value against the running
  // min/max (visible in the JFR write profile). Row counts (manifest) and
  // stats on the small scheduling columns (depth, discovered_at) stay.
  private def writerOptions: Map[String, String] =
    Map("parquet.enable.dictionary" -> "false",
      "parquet.column.statistics.enabled#spans.list.element.text" -> "false",
      "parquet.column.statistics.enabled#links.list.element" -> "false",
      "parquet.column.statistics.enabled#url" -> "false",
      "parquet.column.statistics.enabled#doc_id" -> "false") ++
      (if (cfg.parquetBlockBytes > 0)
        Map("parquet.block.size" -> cfg.parquetBlockBytes.toString)
      else Map.empty)

  /** Frontier POOL table — the unvisited queue only: bucket-granular
    * snapshots, files stored sorted by (host, fifo-priority) so pop
    * streams without sorting. Visited rows LEAVE this table for the
    * append-only [[seen]] archive the round they are popped, so the
    * per-round rewrite is O(pool + delta), never O(ever-seen) — at the
    * 10^10 design point the ever-seen set dwarfs the live pool and
    * rewriting it every round was the unbounded term (round 3).
    *
    * The files are SLIM (r4): `host`/`host_bucket`/`last_visit` are
    * derivable (pure functions of url / constant 0) and are dropped at
    * write, restored at read ([[Frontier.restorePool]]) — the rewrite is
    * the round's least-scaling stage (sort + encode + fresh-page commits
    * are byte-proportional), so every derivable byte is paid for twice
    * per round for nothing. Dictionary encoding is off for these files:
    * urls are near-unique per bucket, so parquet's per-page dictionary
    * attempt is pure wasted encode CPU. */
  val frontierTable = new IcebergishTable(s"$workDir/frontier", Frontier.schema,
    sortCols = Seq("host", "depth", "discovered_at", "url"),
    writerOptions = writerOptions ++
      (if (cfg.frontierCodec.nonEmpty) Map("compression" -> cfg.frontierCodec)
       else Map.empty),
    dropCols = Seq("host", "host_bucket", "last_visit"))

  require(cfg.poolDeltaRounds == 0 || cfg.poolDeltaRounds == 1,
    s"poolDeltaRounds=${cfg.poolDeltaRounds}: the delta pool was removed; " +
      "every round commits with the bucket-selective pool rewrite (use 0 or 1)")

  /** The pool with derived columns restored — every consumer of the
    * frontier table reads THIS view. */
  private def poolView: DataFrame =
    Frontier.restorePool(frontierTable.read(spark), cfg.numBuckets)
  val seenFilters = new graft.frontier.SeenFilterStore(workDir)

  /** Driver-resident politeness state (r4): the map round r needs is the
    * one round r-1 just computed — re-reading the state parquet and
    * re-collecting it every round cost two driver-latency jobs at the
    * round HEAD, a fixed per-round cost the N→4N gate punishes on the
    * fast side. Keyed by the round that wrote it; parquet stays the
    * durable copy (resume and torn-round replay read it — Thread.join
    * before the manifest rename orders the write before any reader). */
  private var politenessCache: Option[(Int, java.util.HashMap[String, (Double, Long)])] = None
  private def docsDir = s"$workDir/docs"
  private def seenDir = s"$workDir/seen"

  def lastRound: Int = frontierTable.currentSnapshot().map(_.round).getOrElse(-1)

  /** Committed archive rounds, with the `round` partition column; the
    * explicit schema (a) skips footer-based inference and (b) makes an
    * empty/torn archive dir read as zero rows instead of failing.
    *
    * Archive data files are SLIM like the pool's (r4): they store only
    * (url, depth, discovered_at) — `host` is a pure function of url,
    * `host_bucket` is the partition dir, and `last_visit` is ALWAYS the
    * round the row was archived, i.e. the `round` partition value (a
    * re-visit under unique=false appends a new row in ITS round dir, so
    * the equality holds per row in every regime). The archive write is
    * one of the three byte-proportional per-round writes; every derivable
    * byte costs fixed ~200 MB/s page-commit time on this host and object
    * -store puts at the design point. */
  private def seenWithRound: DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    if (!Files.exists(Paths.get(seenDir)))
      return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Frontier.schema)
        .withColumn("round", lit(0))
    graft.functions.GraftExpressions.register(spark)
    val fileSchema = StructType(
      Frontier.schema.filter(f => Seq("url", "depth", "discovered_at").contains(f.name)) ++
        Seq(StructField("host_bucket", IntegerType), StructField("round", IntegerType)))
    spark.read
      .schema(fileSchema)
      .parquet(seenDir)
      .filter(col("round") <= lastRound)
      .select(col("url"),
        graft.functions.GraftExpressions.url_host(col("url")).as("host"),
        col("host_bucket"), col("depth"), col("discovered_at"),
        col("round").cast("long").as("last_visit"), col("round"))
  }

  /** Cumulative archive row count (popped totals); recovered on resume
    * with one count over committed archive rounds. */
  private var seenRows: Long =
    if (!Files.exists(Paths.get(seenDir))) 0L else seenWithRound.count()

  /** The ever-visited archive (url, host, host_bucket, depth,
    * discovered_at, last_visit) — one immutable round dir per round,
    * written straight from the popped cache (no shuffle), never rewritten.
    * Torn rounds are excluded by the manifest round, like docs. */
  def seen(): DataFrame =
    seenWithRound.drop("round")
      .select(Frontier.schema.fieldNames.map(col).toIndexedSeq: _*)

  def docIdOf(url: String): String = "d" + UrlFns.sha256Hex(url).substring(0, 16)

  /** Seed the frontier (round 0 commit). Seeds are depth 0, discovery order
    * = list order (ReadDomainsFromFile semantics, kraaler.go:29-57). */
  def addSeeds(urls: Seq[String]): Long =
    addSeedCandidates(urls.zipWithIndex.toDF("url", "pos")
      .select(col("url"), lit(0).as("depth"), col("pos").cast("long").as("discovered_at")))

  /** Distributed seeding: `raw` has (url, depth, discovered_at) and can be
    * any size — 10^10-scale seed lists never pass through the driver. */
  def addSeedCandidates(raw: DataFrame): Long = {
    val cands = Frontier.normalizeCandidates(raw, cfg.numBuckets, cfg.respectRobots)
    val pool = poolView
    // the seen-set check is against EVERYTHING ever seen: live pool +
    // archive. Manifest row count + archive counter as the cardinality
    // hint — newOnly would otherwise pay a count() scan on every re-seed.
    val fresh = Frontier.newOnly(pool.unionByName(seen()), cands,
      expectedRows =
        frontierTable.currentSnapshot().map(_.rows).getOrElse(0L) + seenRows)
    // only the POOL is rewritten; archived rows never re-enter it
    val merged = pool.unionByName(fresh)
    val seedRound = math.max(lastRound, 0)
    val rows = frontierTable.commit(merged, seedRound)
    if (cfg.useSeenFilter)
      seenFilters.updateAndSave(spark, seedRound, seedRound, cands, frontier())
    rows + seenRows
  }

  /** Run one fetch round; returns stats (popped==0 ⇒ frontier exhausted). */
  def round(): RoundStats = {
    val r = lastRound + 1
    val poolRowsHint = frontierTable.currentSnapshot().map(_.rows).getOrElse(0L)
    val frontierRowsHint = poolRowsHint + seenRows
    val pool = poolView
    // the POOL is exactly the unvisited queue — fifo/uniform pops read it
    // alone (the seen archive never re-enters the pop path); only the
    // pair sampler (visit-count weights) and unique=false re-pops need
    // archived rows in view
    val popSource =
      if (cfg.unique && cfg.sampler != "pair") pool
      else pool.unionByName(seen())
    // optional per-host token-bucket throttle (worker.go:1238-1253 ready
    // token generalized; north rule): rejected rows stay unvisited in the
    // frontier and are re-offered next round. ONE round-sized cache either
    // way: ungated rounds cache the pop output; gated rounds cache the pop
    // output WITH its admission flag and treat `popped` as a filter view
    // over that cache.
    val gated = cfg.politenessRate > 0
    // the token map round r needs: the resident one round r-1's state
    // write merged, or — on a miss (fresh instance, resume, an exhausted
    // round that wrote no state) — round r-1's durable copy, identical
    // content by construction (replaying a torn round rereads it too)
    val stateMap =
      if (!gated) null
      else politenessCache.collect { case (pr, m) if pr == r - 1 => m }.getOrElse(
        Politeness.readStateMap(spark, s"$workDir/politeness/round-${r - 1}"))
    // per-host admitted counts ride the flagging pass as an accumulator
    // side output (idempotent by partition) — no cache-scan + shuffle job
    // for the state write (a 5-7 s/round fixed cost at local[32])
    val admitAcc =
      if (!gated) null
      else {
        val a = new Politeness.AdmittedCountsAcc()
        spark.sparkContext.register(a, s"admitted-hosts-r$r")
        a
      }
    // sorted=true: the committed bucket files are (host, prio)-sorted, so
    // the fifo pop is a streaming take — no Sort node, no exchange. The
    // GATED fifo round fuses the token-bucket verdict INTO that same
    // streaming pass (popSortedFifoFlagged): zero extra passes over the
    // offer, identical verdicts (see its scaladoc). Other samplers flag
    // in a separate partition-local pass.
    val sortedFifo = cfg.unique && cfg.sampler == "fifo"
    def popPlain() = Frontier.pop(popSource, cfg.sampler, cfg.seed,
      cfg.perHostBudget, cfg.perBucketBudget, cfg.unique, cfg.boost,
      sorted = true)
    val cached = (
      if (!gated) popPlain()
      else if (sortedFifo)
        Frontier.popSortedFifoFlagged(popSource, cfg.perHostBudget,
          cfg.perBucketBudget, spark.sparkContext.broadcast(stateMap), r.toLong,
          cfg.politenessRate, cfg.politenessBurst, admitAcc)
      else
        Politeness.flagAdmissionsWithMap(popPlain(), stateMap, r.toLong,
          cfg.politenessRate, cfg.politenessBurst, admitAcc)
      ).persist()
    val popped = if (gated) cached.filter(col("admit")).drop("admit") else cached

    // --- the fetch job: pop → fetch → correlate → docs + seen files ---
    // ONE task per pop partition fetches its admitted rows and writes its
    // docs file and its buckets' seen slices (see Crawler.fetchTask); its
    // commit message carries the per-bucket offered/admitted and the ok/err
    // counts, so the round needs no separate count or archive job.
    //
    // The pop output is ALREADY host-clustered and balanced: bucket files
    // cluster by hash(host), and the per-host budget bounds any host at
    // `perHostBudget` rows/round, so the worst bucket partition is
    // hosts-per-bucket × budget (± hash Poisson noise) — fetching in place
    // keeps host affinity (politeness, DNS-cache locality, worker.go:117)
    // with ZERO shuffle. `saltFactor > 0` opts into the salted-key shuffle
    // for regimes where one host's round share is unbounded (huge per-host
    // budgets, unique=false re-pops — north rule: explicit skew handling);
    // there `host#salt` splits a hot host across saltFactor partitions
    // (a bucket's seen slice then holds one file per fetch task).
    //
    // Round-directory overwrite: both round-r dirs are cleared first, so a
    // replayed (torn) round never mixes its files with a stray attempt's.
    // They stay invisible until the manifest says r (reads filter on the
    // manifest round; the SeenIndex loads only rounds < the running one).
    val nb = cfg.numBuckets
    val fetchInput = {
      val flagged = cached.select(col("url"), col("host"), col("host_bucket"),
        col("depth"), col("discovered_at"),
        (if (gated) col("admit") else lit(true)).as("admit"))
      val spread =
        if (cfg.saltFactor > 0)
          flagged
            .withColumn("salt_key",
              concat(col("host"), lit("#"), pmod(xxhash64(col("url")), lit(cfg.saltFactor))))
            .repartition(spark.sparkContext.defaultParallelism * 2, col("salt_key"))
        else flagged
      spread.select("url", "host_bucket", "depth", "discovered_at", "admit")
    }
    DirectParquet.clearDir(Paths.get(s"$docsDir/round=$r"))
    DirectParquet.clearDir(Paths.get(s"$seenDir/round=$r"))
    val fetched = DirectParquet.runJob(fetchInput)(Crawler.fetchTask(sim,
      if (cfg.storeFiles) s"$workDir/store" else null,
      s"$docsDir/round=$r", s"$seenDir/round=$r", nb,
      DirectParquet.Settings.resolve(spark, Crawler.docsSchema, writerOptions),
      DirectParquet.Settings.resolve(spark,
        org.apache.spark.sql.types.StructType(Seq(0, 2, 3).map(fetchInput.schema(_))),
        writerOptions)))
    def perBucket(f: Crawler.FetchCommit => Array[Long]): IndexedSeq[Long] =
      (0 until nb).map(b => fetched.iterator.map(m => f(m)(b)).sum)
    val offeredPb = perBucket(_.offered)
    val admittedPb = perBucket(_.admitted)
    val fetchedOk = fetched.iterator.map(_.ok).sum
    val errs = fetched.iterator.map(_.err).sum
    val offeredN = offeredPb.sum
    val perBucketCounts: Seq[(Int, Long)] =
      admittedPb.zipWithIndex.collect { case (c, b) if c > 0 => (b, c) }
    val poppedN = perBucketCounts.map(_._2).sum

    // overlapped driver-thread write (politeness state): started only now,
    // AFTER the fetch job materialized the pop cache (so it never
    // recomputes the pop in parallel); joined before the commit's manifest
    // RENAME so a torn round still replays against round r-1's state (a
    // stray round-r state dir is harmless — replay overwrites it; the
    // manifest round gates visibility).
    var stateWrite: Option[Thread] = None
    @volatile var stateWriteError: Throwable = null
    def joinStateWrite(): Unit = {
      stateWrite.foreach(_.join())
      if (stateWriteError != null) throw stateWriteError
    }
    if (gated && offeredN > 0) {
      val t = new Thread(() =>
        try {
          // the flagging pass's accumulator counts (zero extra jobs),
          // merged into the resident map; the table is written host-sorted
          // DIRECTLY from the driver (canonical bytes; a 1-task Spark job
          // queued seconds behind running stages for ~2 MB), and the merged
          // map seeds round r+1, which then reads no state file
          val merged = Politeness.mergeAdmitted(stateMap, admitAcc.flattened,
            r.toLong, cfg.politenessRate, cfg.politenessBurst)
          Politeness.writeStateParquet(spark, s"$workDir/politeness/round-$r", merged)
          politenessCache = Some((r, merged))
        } catch { case e: Throwable => stateWriteError = e })
      t.setName(s"politeness-state-r$r")
      t.start()
      stateWrite = Some(t)
    }

    // offered = pool rows the pop stage produced BEFORE the politeness
    // throttle — it distinguishes "frontier exhausted" (stop) from
    // "everything throttled this round" (advance and let tokens refill).
    // An exhausted-pool round wrote no file and left no round-r dir (the
    // writers open lazily, and the round dirs were cleared before the
    // job) — nothing schedule-dependent stays on disk for the torn-round
    // byte-identity invariant to trip on (StreamingSpec).
    if (offeredN == 0) {
      cached.unpersist()
      return RoundStats(r, 0, 0, 0, 0, math.max(frontierRowsHint, 0L), 0)
    }
    if (poppedN == 0) {
      // throttled to zero: commit no bucket (every bucket clean) so
      // the snapshot round advances and per-host tokens accrue
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Frontier.schema)
      val rows = frontierTable.commit(empty, r, Some(Set.empty),
        beforeRename = () => joinStateWrite()) + seenRows
      writeLineage(r, Seq.empty, 0, 0, 0, 0, rows)
      cached.unpersist()
      return RoundStats(r, 0, 0, 0, 0, rows, offeredN)
    }

    val written = spark.read.schema(Crawler.docsSchema)
      .parquet(s"$docsDir/round=$r")

    // --- frontier expansion (urlStore.Add of Page.DocumentURLs,
    //     worker.go:1247) + visit marks, one atomic bucket-selective
    //     commit. Candidates stay RAW (dedup=false): mergeRound's single
    //     aggregation dedups them with identical min-struct semantics,
    //     saving one full candidate exchange per round.
    val rawNew = written
      .select(col("depth"), posexplode(col("links")).as(Seq("pos", "url")))
      .select(col("url"), (col("depth") + 1).as("depth"),
        (lit(r.toLong * 1000000L) + col("pos")).as("discovered_at"))
    // partition-local candidate thinning: links repeat heavily WITHIN a
    // fetch partition (same-host links target the host's own page space;
    // a hot host referenced from everywhere funnels ~millions of duplicate
    // rows per round into ONE merge partition — measured skew). A
    // per-partition min-priority hashmap collapses them BEFORE the merge
    // exchange — no shuffle of its own, and exact semantics: min(packed
    // prio) is associative, mergeRound's global aggregation re-mins across
    // partitions. This is the map-side partial aggregate Catalyst cannot
    // plan here (the merge's explicit bucket repartition precedes its
    // groupBy, so its partial agg runs post-shuffle). Memory is bounded by
    // the fetch task's own output (budget × links-per-page entries).
    val thinned = {
      import org.apache.spark.sql.Encoders
      implicit val enc = Encoders.tuple(Encoders.STRING, Encoders.scalaInt, Encoders.scalaLong)
      // pre-sized: a task's map can reach millions of entries (docs-read
      // splits are few and links multiply pops), and growing a HashMap
      // from 16 pays ~18 full rehash passes PLUS permanent bin
      // treeification from the transient ≥0.75 load before each resize
      // (JFR r4: TreeNode.getTreeNode + resize were most of this lambda).
      // poppedN/2 ≈ per-task distinct links within a factor of a few;
      // capped at 2^22 slots (32 MB of refs) per task.
      val thinCap = math.min(1L << 22, math.max(1L << 10, poppedN / 2)).toInt
      // peek pre-filter: in a saturating crawl most links re-discover
      // already-seen pages, and each survivor costs exchange bytes + agg +
      // probe work downstream. The emission filter drops urls the
      // ALREADY-RESIDENT SeenIndex sets know are archived — exact (hits are
      // real archive members; misses just pass through to the
      // authoritative merge + partition-local probe), peek-only (never loads
      // a bucket — on a cluster an executor simply knows whatever its
      // tasks loaded), and race-free (the thinning job is ordered after
      // every load-triggering job of the round).
      val seenRootB = s"$workDir/seen"
      val nbB = cfg.numBuckets
      rawNew.as[(String, Int, Long)].mapPartitions { it =>
        val best = new java.util.HashMap[String, java.lang.Long](thinCap)
        it.foreach { case (u, d, t) =>
          val k = (d.toLong << 47) + t
          val prev = best.get(u)
          if (prev == null || k < prev) best.put(u, k)
        }
        import scala.jdk.CollectionConverters._
        best.entrySet().iterator().asScala
          .filter(e => !Crawler.peekEverSeen(e.getKey, seenRootB, nbB))
          .map { e =>
            val k = e.getValue.longValue()
            (e.getKey, (k >> 47).toInt, k & ((1L << 47) - 1))
          }
      }.toDF("url", "depth", "discovered_at")
    }
    val cands0 = Frontier.normalizeCandidates(thinned, cfg.numBuckets,
      cfg.respectRobots, dedup = cfg.useSeenFilter)
    // dirty buckets = buckets with pops or new candidates; ONLY their
    // frontier rows enter the merge shuffle and ONLY their files are
    // rewritten — per-round frontier I/O is O(touched), not O(pool).
    // DENSE shortcut: when the popped buckets already cover every manifest
    // bucket, everything is dirty — skip the candidate-bucket scan (it was
    // a near-serial extra pass; new buckets a candidate opens are adopted
    // by the commit regardless, they have no old rows to lose).
    val allBuckets = frontierTable.currentSnapshot().map(_.buckets.keySet).getOrElse(Set.empty)
    val poppedBuckets = perBucketCounts.map(_._1).toSet
    val dense = allBuckets.nonEmpty && allBuckets.subsetOf(poppedBuckets)
    // persist only when consumed more than once (sparse path's distinct
    // job, or the seen-filter's split + update passes)
    val multiPass = !dense || cfg.useSeenFilter
    val cands = if (multiPass) cands0.persist() else cands0
    val dirty =
      if (dense) poppedBuckets
      else cands.select("host_bucket").distinct().collect().map(_.getInt(0)).toSet ++
        poppedBuckets
    // the merge's identity resolution (first-seen wins) must kill a
    // candidate re-discovering ANY ever-seen url. Live pool rows take part
    // in the aggregation; ARCHIVED urls do NOT ride the shuffle — that was
    // O(ever-seen) rows per round, unbounded with crawl age (round-3
    // decomposition). Instead, re-discoveries of archived urls are dropped
    // AFTER the aggregation by `seen_index_contains`: an exact,
    // partition-local probe of this bucket's archive slice (the merge
    // output is token-partitioned 1:1 bucket→partition, so the task's
    // partitionIndex IS the bucket — see graft.frontier.SeenIndex).
    // Per-round merge volume is O(pool + delta), never O(ever-seen).
    val frontierDirty =
      if (dense) pool
      else pool.filter(col("host_bucket").isin(dirty.toSeq.map(Int.box): _*))
    graft.functions.GraftExpressions.register(spark)
    val dropArchived = (df: DataFrame) => df.filter(
      !graft.functions.GraftExpressions.seen_index_contains(col("url"), seenDir, r - 1))
    // optional per-partition cuckoo refinement (north rule): provably-new
    // candidates bypass the exact merge aggregation; correctness never
    // depends on it (advisory only — see SeenFilterStore)
    // mergeRound's output is already bucket-hash-partitioned — the commit
    // reuses that exchange (preClustered) unless the seen-filter union
    // broke it; the pool filter below preserves it. dropArchived applies
    // BEFORE that union (the union would break the partition→bucket
    // binding the index depends on; provably-new rows can't be archived).
    val merged =
      if (cfg.useSeenFilter) {
        val (provablyNew, maybeSeen) = seenFilters.split(spark, r - 1, cands)
        dropArchived(Frontier.mergeRound(frontierDirty, maybeSeen, popped, r, cfg.numBuckets))
          .unionByName(provablyNew)
      } else dropArchived(Frontier.mergeRound(frontierDirty, cands, popped, r, cfg.numBuckets))
    val poolNext = merged.filter(col("last_visit") === 0L)
    val poolRows = frontierTable.commit(poolNext, r, Some(dirty),
      preClustered = !cfg.useSeenFilter, beforeRename = () => joinStateWrite())
    seenRows += poppedN
    val frontierRows = poolRows + seenRows
    if (cfg.useSeenFilter)
      seenFilters.updateAndSave(spark, r, r - 1, cands, frontier())
    if (multiPass) cands.unpersist()
    val newN = math.max(0L, frontierRows - math.max(frontierRowsHint, 0L))

    writeLineage(r, perBucketCounts, poppedN, fetchedOk, errs, newN, frontierRows)
    cached.unpersist()
    RoundStats(r, poppedN, fetchedOk, errs, newN, frontierRows, offeredN)
  }

  /** Per-round, per-partition lineage metrics (north rule: "checkpoints
    * frontier + seen-set state per partition with lineage metrics"). */
  private def writeLineage(r: Int, perBucketCounts: Seq[(Int, Long)], poppedN: Long,
      ok: Long, errs: Long, newN: Long, frontierRows: Long): Unit = {
    val perBucket = perBucketCounts
      .map { case (b, c) => s""""$b":$c""" }.mkString("{", ",", "}")
    Files.createDirectories(Paths.get(s"$workDir/lineage"))
    Files.writeString(Paths.get(s"$workDir/lineage/round-$r.json"),
      s"""{"round":$r,"popped":$poppedN,"fetched_ok":$ok,"errors":$errs,""" +
        s""""new_urls":$newN,"frontier_rows":$frontierRows,""" +
        s""""popped_per_bucket":$perBucket}""")
  }

  /** Crawl to closure (TestWorkerController semantics,
    * worker_test.go:493-583): rounds until the POOL is empty — a round
    * where politeness throttled every offer still advances (tokens
    * refill); only an empty offer set terminates. */
  def crawlUntilEmpty(maxRounds: Int = 1000): Seq[RoundStats] = {
    val stats = scala.collection.mutable.ArrayBuffer.empty[RoundStats]
    var i = 0
    var done = false
    while (i < maxRounds && !done) {
      val s = round()
      if (s.offered == 0) done = true else stats += s
      i += 1
    }
    stats.toSeq
  }

  /** All committed wide round rows (torn rounds excluded by the manifest
    * round). The explicit schema skips footer inference and reads a round
    * that wrote no docs file (every offer throttled) as zero rows. */
  def docsWide(): DataFrame = {
    val r = lastRound
    if (r < 1 || !Files.exists(Paths.get(docsDir)))
      return spark.emptyDataFrame
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    spark.read.schema(StructType(Crawler.docsSchema :+ StructField("round", IntegerType)))
      .parquet(docsDir).filter(col("round") <= r)
  }

  /** The `input_hint`-shaped docs table (doc_id, spans [, round]). */
  def docs(): DataFrame = {
    val w = docsWide()
    if (w.columns.isEmpty) w else w.select("doc_id", "spans", "round")
  }

  /** Session metadata view — a pruned projection of the wide round files
    * (never touches the spans column). */
  def sessions(): DataFrame =
    docsWide().select("doc_id", "url", "host", "depth", "error",
      "navigate_ts", "loaded_ts", "terminated_ts", "round")

  /** The full ever-seen view: live pool ∪ archive. With `unique=false`
    * (re-visiting crawls) an archived url re-pops and appends a NEW
    * archive row per visit — collapse to one row per url with the latest
    * visit mark, exactly the single-table update-in-place semantics. */
  def frontier(): DataFrame = {
    val v = poolView.unionByName(seen())
    if (cfg.unique) v
    else v.groupBy("url", "host", "host_bucket", "depth", "discovered_at")
      .agg(max("last_visit").as("last_visit"))
      .select(Frontier.schema.fieldNames.map(col).toIndexedSeq: _*)
  }
}

object Crawler {
  import DirectParquet.{PartWriter, Settings}
  import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

  private lazy val crawlOutEncoder = ExpressionEncoder[CrawlOut]()

  /** Columns of a docs file (`round` is the partition dir). */
  lazy val docsSchema: org.apache.spark.sql.types.StructType = crawlOutEncoder.schema

  /** A fetch task's commit message: per-bucket offered and admitted pop
    * rows and the fetch outcomes (its files are committed by then). */
  final case class FetchCommit(offered: Array[Long], admitted: Array[Long],
      ok: Long, err: Long)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

  /**
   * The fetch task over rows (url, host_bucket, depth, discovered_at,
   * admit): counts every offered row, and for each admitted one
   *  - appends (url, depth, discovered_at) to its bucket's seen-archive
   *    slice `seenDir/host_bucket=b/part-<p>.parquet` — the popped rows
   *    leave the pool this round; SLIM files (see Crawler.seenWithRound),
   *    laid out per bucket so the SeenIndex reads only its own bucket;
   *  - fetches and correlates it, and appends the page to the task's ONE
   *    wide docs file `docsDir/part-<p>.parquet` (spans + session metadata
   *    + links, written exactly once; consumers read it back with column
   *    pruning).
   * Files commit only after the last row; a failure aborts them all (the
   * retry rewrites the same names).
   */
  def fetchTask(sim: FetchSim, storeRoot: String, docsDir: String,
      seenDir: String, numBuckets: Int, docs: Settings, seen: Settings)
      : (Int, Iterator[InternalRow]) => FetchCommit = (_, rows) => {
    // content-addressed side store (O9/O10): allowlisted bodies gzip'd
    // under bodies/<2ch>/<sha>, screenshot bytes under their media_ref —
    // written DURING the fetch pass like the reference's SaveSession
    // (store/store.go:92-101); writes are idempotent so round replay
    // after a torn commit just re-stores the same keys
    val store = if (storeRoot != null) new graft.sources.FileStore(storeRoot) else null
    // one render buffer per partition: docFromSession appends every span
    // payload into it (JSON combinators measured ~10% of bench CPU / ~25%
    // of allocation at local[32] — JFR, round 4)
    val sb = new java.lang.StringBuilder(1 << 14)
    val docRow = crawlOutEncoder.createSerializer()
    val seenRow = ProjectingInternalRow(seen.schema, Seq(0, 2, 3))
    val offered = new Array[Long](numBuckets)
    val admitted = new Array[Long](numBuckets)
    var ok = 0L
    var err = 0L
    var docsW: PartWriter = null
    val seenW = new java.util.TreeMap[Integer, PartWriter]()
    def writers: Seq[PartWriter] = {
      import scala.jdk.CollectionConverters._
      Option(docsW).toSeq ++ seenW.values.asScala
    }
    try {
      while (rows.hasNext) {
        val row = rows.next()
        val b = row.getInt(1)
        offered(b) += 1
        if (row.getBoolean(4)) {
          admitted(b) += 1
          var sw = seenW.get(b)
          if (sw == null) {
            sw = DirectParquet.taskWriter(seen,
              Paths.get(seenDir, s"host_bucket=$b"), b)
            seenW.put(b, sw)
          }
          seenRow.project(row)
          sw.write(seenRow)
          val url = row.getUTF8String(0).toString
          val fr = sim.fetch(url)
          val s = Correlate.sessionFromFetch(
            "d" + UrlFns.sha256Hex(url).substring(0, 16), fr)
          if (store != null) {
            fr.bodies.foreach(b => store.storeBody(b.body))
            fr.screenshots.zip(fr.screenshot_bytes).foreach {
              case (ref, bytes) => store.storeScreenshot(ref, bytes)
            }
          }
          val doc = Correlate.docFromSession(s, sb)
          if (s.error == "") ok += 1 else if (s.error != null) err += 1
          if (docsW == null) docsW = DirectParquet.taskWriter(docs, Paths.get(docsDir))
          docsW.write(docRow(CrawlOut(doc.doc_id, url, s.host, row.getInt(2),
            doc.spans, s.links, s.error, s.navigate_ts, s.loaded_ts, s.terminated_ts)))
        }
      }
      writers.foreach(_.commit())
      FetchCommit(offered, admitted, ok, err)
    } catch { case e: Throwable => DirectParquet.abortAll(writers, e) }
  }

  /** Advisory-exact ever-seen peek for the link-thinning emission filter:
    * derive the url's bucket exactly like [[Frontier.hostBucket]]
    * (xxhash64 seed 42 of the host, pmod numBuckets) and probe the
    * resident [[graft.frontier.SeenIndex]] set WITHOUT loading. False =
    * unknown — the candidate proceeds to the authoritative merge and
    * partition-local probe. */
  def peekEverSeen(url: String, seenRoot: String, numBuckets: Int): Boolean = {
    val host = graft.functions.UrlFns.hostOf(url)
    if (host == null) return false
    val hu = org.apache.spark.unsafe.types.UTF8String.fromString(host)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(hu.getBaseObject, hu.getBaseOffset, hu.numBytes, 42L)
    val b = (((h % numBuckets) + numBuckets) % numBuckets).toInt
    val uu = org.apache.spark.unsafe.types.UTF8String.fromString(url)
    graft.frontier.SeenIndex.peek(seenRoot, b, uu)
  }
}

case class CrawlConfig(
    numBuckets: Int = 32,
    perHostBudget: Int = 4,
    perBucketBudget: Int = 1000,
    sampler: String = "fifo",
    seed: Long = 42L,
    unique: Boolean = true,
    /** Hot-host skew control for the fetch stage: 0 (default) fetches in
      * place on the bucket-clustered pop output (per-host budget already
      * bounds skew); >0 shuffles on `host#salt`, splitting any host across
      * that many partitions — for unbounded per-host round shares. */
    saltFactor: Int = 0,
    boost: Double = 2000.0,
    respectRobots: Boolean = false,
    useSeenFilter: Boolean = false,
    /** Per-host token-bucket throttle (fetch slots earned per round /
      * bucket cap); 0 disables. Rejected pops stay queued. */
    politenessRate: Double = 0.0,
    politenessBurst: Double = 1.0,
    /** Physical content-addressed body/screenshot store (O9/O10) — on by
      * default like the reference; benches that isolate the frontier
      * metric turn it off explicitly. */
    storeFiles: Boolean = true,
    /** `parquet.block.size` for docs/frontier writes; 0 = parquet default
      * (128 MB — right for object storage at the 10^10 design point, but a
      * per-writer-task heap buffer at local[32]: 64 concurrent writers ×
      * 128 MB would out-size the whole young gen. Benches set ~16 MB). */
    parquetBlockBytes: Long = 0L,
    /** Compression codec for the FRONTIER bucket files only ("" = session
      * default). The pool rewrite is encode-CPU- and fresh-page-bound in
      * different host regimes — the knob lets benches A/B zstd (fewest
      * bytes) against snappy/lz4 (least encode CPU). */
    frontierCodec: String = "",
    /** Kept only for the frozen `graft.Bench` driver contract, which
      * passes it. The delta pool it once enabled was removed; 0 and 1 are
      * the only accepted values (the constructor rejects anything larger). */
    poolDeltaRounds: Int = 1)

case class RoundStats(
    round: Int,
    popped: Long,
    fetchedOk: Long,
    errors: Long,
    newUrls: Long,
    frontierRows: Long,
    /** pool rows offered by pop BEFORE the politeness throttle; 0 ⇔ the
      * frontier is exhausted (the crawl-closure condition). */
    offered: Long = -1)
