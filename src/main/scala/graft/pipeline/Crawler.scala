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
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

/**
 * The crawl pipeline — kraaler's `krl run` steady state
 * (/root/reference/app/cmd/run.go:46-159 + worker.go:1224-1296) as a
 * sequence of deterministic micro-batch "fetch rounds":
 *
 *   pop(budget) → fetch task (fetch → correlate → docs file + seen-archive
 *   slices) → link thinning → candidate exchange → per-bucket merge of the
 *   candidates and the visit marks into the sorted bucket file → lineage
 *   metrics → atomic commit.
 *
 * One round = one micro-batch (the reference's analogue is the
 * 1-token-per-worker ready loop, worker.go:1238-1253; our budget is
 * per-host × per-bucket instead of per-worker): the fetch job, then the
 * frontier commit's job (docs read-back + thinning, the candidate
 * exchange, one merge task per bucket); a gated round's politeness state
 * is written on the driver, not by a job. Seeding ([[addSeedCandidates]])
 * is a round with candidates and no pops: the same candidate exchange
 * and per-bucket merge, so the frontier has one commit path.
 *
 * Write protocol: every file a round writes goes through
 * [[graft.sources.DirectParquet]] (deterministic `part-<partition>`
 * names, temp file + atomic rename, no Hadoop committer or FileSystem),
 * and the round has exactly two commit points — the overwrite of the
 * round directories (`docs/round=r` and `seen/round=r`, cleared before
 * the fetch job) and the frontier manifest rename, which is what makes
 * round r visible. Every file of the round is written before that rename
 * (the politeness state and the lineage record are written inside the
 * commit's barrier); only the prune of unreferenced frontier data dirs
 * follows it. Everything is replayable: a torn round leaves the
 * manifest un-bumped, readers filter on the manifest round, the
 * SeenIndex only loads rounds before the running one, and re-running
 * round N overwrites its directories (idempotent replay — the
 * SQLite-transaction analogue of store/store.go:69-105). Why no Hadoop
 * committer runs: see [[graft.sources.DirectParquet]].
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
 *    the MERGE-INTO swap point. Only the round's candidates are
 *    shuffled: each bucket's merge task streams its pool file, reads its
 *    visit marks from its own seen slice, and drops re-discovered
 *    archived urls with an exact membership probe over the bucket's own
 *    archive ([[graft.frontier.SeenIndex]]) — per-round shuffle volume is
 *    O(candidates), never O(pool) or O(ever-seen);
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

  /** Driver-resident politeness state (r4): the map round r needs is the
    * one round r-1 just computed — re-reading the state parquet and
    * re-collecting it every round cost two driver-latency jobs at the
    * round HEAD, a fixed per-round cost the N→4N gate punishes on the
    * fast side. Keyed by the round that wrote it; parquet stays the
    * durable copy (resume and torn-round replay read it — the commit's
    * barrier joins the write before the manifest rename, ahead of any
    * reader). */
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
    * written by the fetch tasks (no shuffle), never rewritten.
    * Torn rounds are excluded by the manifest round, like docs. */
  def seen(): DataFrame =
    seenWithRound.drop("round")
      .select(Frontier.schema.fieldNames.map(col).toIndexedSeq: _*)

  /** Seed the frontier (round 0 commit). Seeds are depth 0, discovery order
    * = list order (ReadDomainsFromFile semantics, kraaler.go:29-57). */
  def addSeeds(urls: Seq[String]): Long =
    addSeedCandidates(urls.zipWithIndex.toDF("url", "pos")
      .select(col("url"), lit(0).as("depth"), col("pos").cast("long").as("discovered_at")))

  /** Distributed seeding: `raw` has (url, depth, discovered_at) and can be
    * any size — 10^10-scale seed lists never pass through the driver.
    *
    * Seeding is a round with candidates and no pops, committed at round
    * `R = max(lastRound, 0)` through the round's own steps:
    * [[Frontier.normalizeCandidates]] → [[Frontier.roundDelta]] → the
    * per-bucket [[Frontier.roundMerge]] in `commitMerge`. Round R's seen
    * slice serves as the visit marks and the archive of rounds ≤ R-1 as
    * the exact probe, so together they are every url ever visited: a seed
    * already in the pool, visited or archived is not added (the existing
    * row wins), and duplicate seeds keep the minimum (depth,
    * discovered_at). Only the buckets that get seeds are rewritten.
    *
    * Precondition: a bucket's merge task holds that bucket's seeds in
    * memory. That is the bound the `maxPartitionBytes` bucket-file
    * invariant already puts on a bucket ([[IcebergishTable]]), so a seed
    * list larger than it is seeded in several calls. */
  def addSeedCandidates(raw: DataFrame): Long = {
    val r = math.max(lastRound, 0)
    val delta = Frontier.roundDelta(
      Frontier.normalizeCandidates(raw, cfg.numBuckets, cfg.respectRobots), cfg.numBuckets)
    val merge = Frontier.roundMerge(seenDir, r, cfg.numBuckets)
    // round r's visit marks already left the pool: a bucket no seed
    // reaches keeps its file
    frontierTable.commitMerge(delta, r,
      (b, seeds, pool) => if (seeds.hasNext) merge(b, seeds, pool) else None,
      _ => ()) + seenRows
  }

  /** Run one fetch round; returns stats (popped==0 ⇒ frontier exhausted). */
  def round(): RoundStats = {
    val r = lastRound + 1
    val frontierRowsHint = frontierTable.currentSnapshot().map(_.rows).getOrElse(0L) + seenRows
    // the POOL is exactly the unvisited queue — fifo/uniform pops read it
    // alone (the seen archive never re-enters the pop path); only the
    // pair sampler (visit-count weights) and unique=false re-pops need
    // archived rows in view
    val popSource =
      if (cfg.unique && cfg.sampler != "pair") poolView
      else poolView.unionByName(seen())
    // optional per-host token-bucket throttle (worker.go:1238-1253 ready
    // token generalized; north rule): rejected rows stay unvisited in the
    // frontier and are re-offered next round. The pop is not cached: the
    // fetch job is its only consumer (the merge reads the round's visit
    // marks back from the seen slices that job writes).
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
    val offer =
      if (!gated) popPlain()
      else if (sortedFifo)
        Frontier.popSortedFifoFlagged(popSource, cfg.perHostBudget,
          cfg.perBucketBudget, spark.sparkContext.broadcast(stateMap), r.toLong,
          cfg.politenessRate, cfg.politenessBurst, admitAcc)
      else
        Politeness.flagAdmissionsWithMap(popPlain(), stateMap, r.toLong,
          cfg.politenessRate, cfg.politenessBurst, admitAcc)

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
      val flagged = offer.select(col("url"), col("host"), col("host_bucket"),
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

    // overlapped politeness-state write on the engine's side-write thread:
    // started only now, AFTER the fetch job filled the accumulator; joined
    // before the commit's manifest RENAME so a torn round still replays
    // against round r-1's state (a stray round-r state dir is harmless —
    // replay overwrites it; the manifest round gates visibility).
    val stateWrite =
      if (!gated || offeredN == 0) Future.unit
      else Future {
        // the flagging pass's accumulator counts (zero extra jobs), merged
        // into the resident map; the table is written host-sorted DIRECTLY
        // from the driver (canonical bytes; a 1-task Spark job queued
        // seconds behind running stages for ~2 MB), and the merged map
        // seeds round r+1, which then reads no state file
        val merged = Politeness.mergeAdmitted(stateMap, admitAcc.flattened,
          r.toLong, cfg.politenessRate, cfg.politenessBurst)
        Politeness.writeStateParquet(spark, s"$workDir/politeness/round-$r", merged)
        politenessCache = Some((r, merged))
      }(Crawler.sideWrites)

    // offered = pool rows the pop stage produced BEFORE the politeness
    // throttle — it distinguishes "frontier exhausted" (stop) from
    // "everything throttled this round" (advance and let tokens refill).
    // An exhausted-pool round wrote no file and left no round-r dir (the
    // writers open lazily, and the round dirs were cleared before the
    // job) — nothing schedule-dependent stays on disk for the torn-round
    // byte-identity invariant to trip on (StreamingSpec).
    if (offeredN == 0)
      return RoundStats(r, 0, 0, 0, 0, math.max(frontierRowsHint, 0L), 0)

    // --- frontier expansion (urlStore.Add of Page.DocumentURLs,
    //     worker.go:1247): the links of the round's docs, read back and
    //     thinned, are the candidate delta. A round throttled to zero
    //     wrote no docs and has no delta: its commit touches no bucket,
    //     so the snapshot round advances and per-host tokens accrue.
    val delta =
      if (poppedN == 0)
        Seq.empty[(String, Long)].toDF("url", "k")
      else Frontier.roundDelta(candidates(r, poppedN), cfg.numBuckets)

    // the round's one frontier commit: each bucket's task merges its
    // candidates and its visit marks into its sorted pool file
    // (Frontier.roundMerge); only the candidates crossed the exchange.
    // The barrier joins the politeness state write and then writes the
    // lineage record, so both are on disk before the manifest rename
    // makes round r visible: a replay never reruns a committed round, so
    // a record written after the rename could be lost for good.
    // `seenRows` moves only once the rename is done (a torn round leaves
    // it at round r-1's count).
    var stats: RoundStats = null
    frontierTable.commitMerge(delta, r, Frontier.roundMerge(seenDir, r, cfg.numBuckets),
      beforeRename = poolRows => {
        Await.result(stateWrite, Duration.Inf)
        val rows = poolRows + seenRows + poppedN
        stats = RoundStats(r, poppedN, fetchedOk, errs,
          math.max(0L, rows - math.max(frontierRowsHint, 0L)), rows, offeredN)
        writeLineage(stats, perBucketCounts)
      })
    seenRows += poppedN
    stats
  }

  /** Round `r`'s candidate urls (url, host, host_bucket, depth,
    * discovered_at, last_visit), one row per (docs-read partition, url):
    * the links of the round's docs, read back with column pruning. */
  private def candidates(r: Int, poppedN: Long): DataFrame = {
    val rawNew = DirectParquet.scan(spark, Seq(s"$docsDir/round=$r"), Crawler.docsSchema)
      .select(col("depth"), posexplode(col("links")).as(Seq("pos", "url")))
      .select(col("url"), (col("depth") + 1).as("depth"),
        (lit(r.toLong * 1000000L) + col("pos")).as("discovered_at"))
    // partition-local candidate thinning: links repeat heavily WITHIN a
    // fetch partition (same-host links target the host's own page space;
    // a hot host referenced from everywhere funnels ~millions of duplicate
    // rows per round into ONE merge partition — measured skew). A
    // per-partition min-priority hashmap collapses them BEFORE the
    // exchange — no shuffle of its own, and exact semantics: min(packed
    // prio) is associative, and the bucket merge re-mins across
    // partitions. This is the map-side partial aggregate of the exchange.
    // Memory is bounded by the fetch task's own output (budget ×
    // links-per-page entries).
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
      // already-seen pages, and each survivor costs exchange bytes + merge
      // + probe work downstream. The emission filter drops urls the
      // ALREADY-RESIDENT SeenIndex sets know are archived — exact (hits are
      // real archive members; misses just pass through to the
      // authoritative probe in the bucket merge), peek-only (never loads a
      // bucket — on a cluster an executor simply knows whatever its tasks
      // loaded), and race-free (this map stage runs before its job's merge
      // stage, and after every earlier round's loads).
      val seenRootB = seenDir
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
    Frontier.normalizeCandidates(thinned, cfg.numBuckets, cfg.respectRobots)
  }

  /** Per-round, per-partition lineage metrics (north rule: "checkpoints
    * frontier + seen-set state per partition with lineage metrics"). */
  private def writeLineage(s: RoundStats, perBucketCounts: Seq[(Int, Long)]): Unit = {
    val perBucket = perBucketCounts
      .map { case (b, c) => s""""$b":$c""" }.mkString("{", ",", "}")
    Files.createDirectories(Paths.get(s"$workDir/lineage"))
    Files.writeString(Paths.get(s"$workDir/lineage/round-${s.round}.json"),
      s"""{"round":${s.round},"popped":${s.popped},"fetched_ok":${s.fetchedOk},""" +
        s""""errors":${s.errors},"new_urls":${s.newUrls},"frontier_rows":${s.frontierRows},""" +
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
    * that wrote no docs file (every offer throttled) as zero rows; before
    * any round has docs the frame is empty with the same columns. */
  def docsWide(): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val schema = StructType(Crawler.docsSchema :+ StructField("round", IntegerType))
    val r = lastRound
    if (r < 1 || !Files.exists(Paths.get(docsDir)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(docsDir).filter(col("round") <= r)
  }

  /** The `input_hint`-shaped docs table (doc_id, spans, round). */
  def docs(): DataFrame = docsWide().select("doc_id", "spans", "round")

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

  /** A fetched page's doc id: "d" + the first 16 hex digits of the url's
    * SHA-256. */
  def docIdOf(url: String): String = "d" + UrlFns.sha256Hex(url).substring(0, 16)

  /** The engine's one side-write thread (a daemon, started once per JVM):
    * a gated round's politeness-state write runs on it while the commit's
    * job runs, and the commit's barrier joins it. */
  private lazy val sideWrites = scala.concurrent.ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "crawler-side-write"); t.setDaemon(true); t
    })

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
          val s = Correlate.sessionFromFetch(docIdOf(url), fr)
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
    * ([[Frontier.bucketOf]]) and probe the resident
    * [[graft.frontier.SeenIndex]] set WITHOUT loading. False = unknown —
    * the candidate proceeds to the bucket merge's authoritative probe. */
  def peekEverSeen(url: String, seenRoot: String, numBuckets: Int): Boolean = {
    val host = graft.functions.UrlFns.hostOf(url)
    if (host == null) return false
    val b = Frontier.bucketOf(
      org.apache.spark.unsafe.types.UTF8String.fromString(host), numBuckets)
    graft.frontier.SeenIndex.peek(seenRoot, b,
      org.apache.spark.unsafe.types.UTF8String.fromString(url))
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
