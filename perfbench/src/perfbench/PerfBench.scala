package perfbench

import graft.SparkEntry
import graft.fetch.{Correlate, FetchSim}
import graft.frontier.{Frontier, SeenIndex}
import graft.model.Model.FetchResult
import graft.pipeline.{CrawlConfig, Crawler, RoundStats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Command-line options of one benchmark run (see perfbench/run.py). */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, out: String, traceOut: String, data: String, tiny: Boolean,
    corrupt: Boolean)

/** One measured crawl round. `added` maps each top-level directory of the
  * crawl work dir to the bytes of files the round created or grew there. */
final case class RoundRec(group: String, cores: Int, idx: Int, stats: RoundStats,
    wallS: Double, cpuS: Double, gcS: Double, added: Map[String, Long],
    workBytes: Long, traced: Boolean, bucketSkew: Double)

/** One timed query execution. */
final case class QueryRec(group: String, name: String, pass: Int, cores: Int,
    wallS: Double, traced: Boolean)

object PerfBench {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("work"), kv("out"), kv("trace-out"), kv("data"),
      kv.get("scale").contains("tiny"), kv.get("corrupt").contains("1"))
    new PerfBench(o).run()
  }

  /** Queries of the timed suite: one per operator module, the cheapest of
    * each module except Dedup's PPJoin (q24), so that a warm pass takes
    * about seven seconds on four cores. */
  val suite: Seq[(String, String)] = Seq(
    "q10_url_parts" -> "sql",
    "q21_token_stats" -> "TextOps",
    "q24_jaccard_pairs" -> "Dedup",
    "q26_cosine_topk" -> "Similarity",
    "q32_media_features" -> "Multimodal",
    "q38_span_seq" -> "Spans",
    "q40_pii_scrub" -> "Clean",
    "q50_pagerank" -> "Graphs",
    "q54_hist_quantiles" -> "Sketches",
    "q57_bpe_pairs" -> "Corpus",
    "q59_recrawl" -> "Recrawl")

  val tables = Seq("lineitem", "customer", "orders", "events", "documents",
    "embeddings", "part", "supplier", "nation", "region")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

/** A crawl workload's shape: `hosts` × per-host budget 100 URLs are offered
  * per round; `rate` is the politeness refill per host and round. */
final case class CrawlShape(hosts: Int, seedsPerHost: Int, rate: Double,
    episodeRounds: Int, warmRounds: Int)

/** The measured window: the next operation starts only if, taking as long
  * as the last one did, it ends within `seconds` of the window's start. */
final class Window(seconds: Double) {
  private val t0 = System.nanoTime()
  private var last = 0.0
  def elapsed: Double = (System.nanoTime() - t0) / 1e9
  def fits(): Boolean = elapsed + last <= seconds
  def op[T](f: => T): T = {
    val s = System.nanoTime()
    val v = f
    last = (System.nanoTime() - s) / 1e9
    v
  }
  def record(s: Double): Unit = last = s
}

final class PerfBench(o: Opts) {
  import PerfBench._

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  /** One listener per SparkContext: job and stage ids restart with each. */
  private val listeners = ArrayBuffer.empty[StageListener]
  private def listener = listeners.last
  private def stagesOf(group: String): Seq[StageRec] = listeners.toSeq.flatMap(_.stagesOf(group))
  private def jobsOf(group: String): Seq[JobRec] = listeners.toSeq.flatMap(_.jobsOf(group))
  private var listening = false
  private var attempted = 0
  private var failed = 0
  private val failures = ArrayBuffer.empty[String]
  private val e2e = mutable.LinkedHashMap.empty[String, Double]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private val oracleQueries = mutable.LinkedHashSet.empty[String]
  private val rounds = ArrayBuffer.empty[RoundRec]
  private val queries = ArrayBuffer.empty[QueryRec]
  private var spark: SparkSession = _

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def processCpuS: Double = osBean.getProcessCpuTime / 1e9
  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Counts one attempted operation; a throw or a false result fails it. */
  private def check(label: String)(cond: => Boolean): Boolean = {
    attempted += 1
    val ok = try cond catch {
      case e: Throwable => failures += s"$label: ${e.getClass.getSimpleName}: ${e.getMessage}"; false
    }
    if (!ok) {
      failed += 1
      if (!failures.exists(_.startsWith(label))) failures += label
    }
    ok
  }

  private def span[T](name: String, kind: String, parent: String)(f: => T): T = {
    val s = nowMs
    val v = f
    spans += Span(name, kind, s, nowMs, parent)
    System.err.println(f"[span] $kind $name ${(nowMs - s) / 1e3}%.3f s at=${(System.nanoTime() - nano0) / 1e9}%.1f")
    v
  }

  // ---------------------------------------------------------------- session

  private def startSession(cores: Int, crawl: Boolean): SparkSession = {
    stopSession()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b0 = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}-$cores")
      .config("spark.sql.shuffle.partitions", (4 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (16 * 1024 * 1024).toString)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.hadoop.parquet.compression.codec.zstd.level", "2")
    // the crawl sessions of graft.Bench compress shuffle with zstd and
    // lower AQE's advisory partition size; its query session keeps lz4
    val b = if (!crawl) b0 else b0
      .config("spark.io.compression.codec", "zstd")
      .config("spark.io.compression.zstd.level", "1")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    listeners += new StageListener
    listening = false
    spark
  }

  private def stopSession(): Unit = if (spark != null) {
    org.apache.spark.BusDrain.drain(spark.sparkContext)
    spark.stop()
    spark = null
  }

  /** Attaches the stage listener for a traced operation and detaches it
    * for an untraced one, so the two can be compared in one run. */
  private def tracing(on: Boolean): Unit = if (on != listening) {
    if (on) spark.sparkContext.addSparkListener(listener)
    else {
      org.apache.spark.BusDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    listening = on
  }

  private def withGroup[T](group: String)(f: => T): T = {
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    try f finally spark.sparkContext.clearJobGroup()
  }

  // ---------------------------------------------------------------- files

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_)) finally s.close()
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  /** Regular files under `root` with their sizes. */
  private def fileSizes(root: Path): Map[Path, Long] = {
    if (!Files.exists(root)) return Map.empty
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p -> Files.size(p)).toMap
    finally s.close()
  }

  // ---------------------------------------------------------------- crawl

  private def shapeOf(steady: Boolean): CrawlShape =
    if (steady) CrawlShape(hosts = if (o.tiny) 100 else 500, seedsPerHost = 450,
      rate = 100, episodeRounds = 2, warmRounds = 2)
    else CrawlShape(hosts = if (o.tiny) 100 else 1000, seedsPerHost = 450,
      rate = 10, episodeRounds = Int.MaxValue, warmRounds = 2)

  private final class CrawlEnv(val shape: CrawlShape) {
    val sim = new FetchSim(numHosts = shape.hosts, pagesPerHost = 500,
      linksPerPage = 6, seed = o.seed, screenshotPayloads = false)
    val cfg = CrawlConfig(numBuckets = 32, perHostBudget = 100,
      perBucketBudget = math.max(40000, shape.hosts), sampler = "fifo",
      seed = o.seed, saltFactor = 0, storeFiles = false,
      parquetBlockBytes = 16L * 1024 * 1024,
      politenessRate = shape.rate, politenessBurst = math.max(1.0, shape.rate))
    def crawler(dir: Path): Crawler = new Crawler(spark, dir.toString, sim, cfg)

    /** `seedsPerHost` distinct seed URLs on every host: page j of host h is
      * (7j + offset(h)) mod pagesPerHost (7 is coprime to 500). The page
      * offsets and the discovery order are drawn from `--seed`. */
    def seeds(): DataFrame = {
      val h = col("id") % shape.hosts
      val j = col("id") / shape.hosts
      spark.range(shape.hosts.toLong * shape.seedsPerHost).select(
        concat(lit("http://h"), h, lit(".test/p/"),
          pmod(j.cast("long") * 7 + pmod(xxhash64(h, lit(o.seed)), lit(sim.pagesPerHost)),
            lit(sim.pagesPerHost))).as("url"),
        lit(0).as("depth"),
        pmod(xxhash64(col("id"), lit(o.seed)), lit(1L << 40)).as("discovered_at"))
    }
  }

  /** Session start plus seeding, timed; the frontier row count it left. */
  private def crawlSetup(env: CrawlEnv, dir: Path, cores: Int): (Double, Long) = {
    val t0 = System.nanoTime()
    startSession(cores, crawl = true)
    val rows = env.crawler(dir).addSeedCandidates(env.seeds())
    ((System.nanoTime() - t0) / 1e9, rows)
  }

  private def bucketSkew(dir: Path, r: Int): Double = {
    val p = dir.resolve(s"lineage/round-$r.json")
    if (!Files.exists(p)) return 1.0
    val body = Files.readString(p).split("\"popped_per_bucket\":\\{", 2)
    val counts = if (body.length < 2) Seq.empty[Double]
      else "\"\\d+\":(\\d+)".r.findAllMatchIn(body(1)).map(_.group(1).toDouble).toSeq
    if (counts.isEmpty) 1.0 else counts.max / (counts.sum / counts.size)
  }

  /** One crawl round, timed, with its invariants checked afterwards. */
  private def crawlRound(c: Crawler, dir: Path, group: String, cores: Int, idx: Int,
      traced: Boolean, prevRows: Long, parent: String): Option[RoundRec] = {
    tracing(traced)
    val before = fileSizes(dir)
    val c0 = processCpuS
    val g0 = gcS
    val s0 = nowMs
    val t0 = System.nanoTime()
    val st = try Some(withGroup(group)(c.round())) catch {
      case e: Throwable =>
        check(s"$group threw ${e.getClass.getSimpleName}: ${e.getMessage}")(false)
        None
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = processCpuS - c0
    val gc = gcS - g0
    spans += Span(group, "round", s0, nowMs, parent, Map("cores" -> cores))
    System.err.println(f"[span] round $group $wall%.3f s popped=${st.map(_.popped).getOrElse(-1L)} at=${(System.nanoTime() - nano0) / 1e9}%.1f")
    st.map { s =>
      tracing(false)
      val after = fileSizes(dir)
      val added = after.toSeq.collect {
        case (p, n) if !before.get(p).contains(n) =>
          dir.relativize(p).getName(0).toString -> n
      }.groupMapReduce(_._1)(_._2)(_ + _)
      val docsDir = dir.resolve(s"docs/round=${s.round}")
      if (o.corrupt && idx == 0) {
        val victim = Files.list(docsDir).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet"))
        victim.foreach(Files.delete)
      }
      check(s"$group popped = fetched_ok + errors")(s.popped == s.fetchedOk + s.errors)
      check(s"$group frontier rows = previous + new urls")(
        s.frontierRows == prevRows + s.newUrls)
      check(s"$group docs rows = popped")(
        spark.read.parquet(docsDir.toString).count() == s.popped)
      check(s"$group popped > 0")(s.popped > 0)
      val rec = RoundRec(group, cores, idx, s, wall, cpu, gc, added,
        after.values.sum, traced, bucketSkew(dir, s.round))
      rounds += rec
      rec
    }
  }

  /** Copies the seeded frontier `w0` and runs rounds on the copy: at most
    * `maxRounds`, and after the first only while `more(last round's wall
    * seconds)` holds. Stops at the first failed round; the caller deletes
    * the copy. */
  private def episode(env: CrawlEnv, w0: Path, seedRows: Long, label: String,
      cores: Int, maxRounds: Int, more: Double => Boolean,
      traced: Int => Boolean): (Seq[RoundRec], Path) = {
    val dir = Paths.get(o.work, label)
    deleteTree(dir)
    copyTree(w0, dir)
    val c = env.crawler(dir)
    val out = ArrayBuffer.empty[RoundRec]
    var prev = seedRows
    var i = 0
    var ok = true
    while (ok && i < maxRounds && (i == 0 || more(out.last.wallS))) {
      crawlRound(c, dir, s"$label/r${i + 1}", cores, i, traced(i), prev, o.workload) match {
        case Some(r) => out += r; prev = r.stats.frontierRows
        case None => ok = false
      }
      i += 1
    }
    (out.toSeq, dir)
  }

  /** Order-independent digests of the docs spans and the seen set after
    * `k` rounds: (docs rows, docs hash sum, seen rows, seen hash sum). */
  private def crawlDigest(env: CrawlEnv, dir: Path, k: Int): Seq[String] = {
    val c = env.crawler(dir)
    val d = c.docs().filter(col("round") <= k)
      .agg(count(lit(1)), sum(xxhash64(col("doc_id"), col("spans"), col("round"))
        .cast("decimal(38,0)"))).head()
    val s = c.seen().filter(col("last_visit") <= k)
      .agg(count(lit(1)), sum(xxhash64(col("url"), col("depth"), col("discovered_at"),
        col("last_visit")).cast("decimal(38,0)"))).head()
    Seq(d.get(0), d.get(1), s.get(0), s.get(1)).map(String.valueOf)
  }

  private def crawlWorkload(steady: Boolean): Unit = {
    val env = new CrawlEnv(shapeOf(steady))
    val shape = env.shape
    // set-up three times: session start + seeding; the last session is the
    // measured one (the median drops the first, cold set-up)
    val setups = (1 to 3).map { rep =>
      val dir = Paths.get(o.work, s"setup$rep")
      val (t, rows) = span(s"setup$rep", "setup", o.workload)(crawlSetup(env, dir, 4))
      if (rep < 3) deleteTree(dir)
      (t, rows, dir)
    }
    e2e("setup_s") = median(setups.map(_._1))
    val seedRows = setups.last._2
    val w0 = setups.last._3
    // warm-up: untimed episodes of the measured input in the measured
    // session; with fewer warm rounds the first measured episode ran
    // 1.2-1.5x slower than the next
    span("warmup", "setup", o.workload) {
      val (_, dir) = episode(env, w0, seedRows, "warmup", 4, shape.warmRounds,
        _ => true, _ => false)
      deleteTree(dir)
      rounds.clear()
    }

    // measured window at local[4]: episodes of `episodeRounds` rounds, each
    // from a fresh copy of the seeded frontier. A started episode always
    // finishes (every round position is equally represented); the next
    // round or episode starts only if it is expected to end in the window.
    val window = new Window(o.seconds)
    val episodes = ArrayBuffer.empty[Seq[RoundRec]]
    var lastDir: Path = null
    // at least two episodes: a traced run compares a traced and an untraced
    // episode of the same input for the tracing overhead. A failed check
    // ends the window.
    val failedBefore = failed
    while (failed == failedBefore &&
        (episodes.isEmpty || (steady && episodes.size < 2) || window.fits())) {
      val ep = episodes.size
      val (recs, dir) = window.op(episode(env, w0, seedRows, s"e${ep + 1}", 4,
        shape.episodeRounds, w => steady || { window.record(w); window.fits() },
        i => o.trace && (if (steady) ep % 2 == 0 else i % 2 == 0)))
      if (lastDir != null) deleteTree(lastDir)
      lastDir = dir
      episodes += recs
    }
    val measured = episodes.flatten.toSeq
    if (episodes.size > 1)
      check("episodes replay the same round counts")(
        episodes.tail.forall(_.map(_.stats) == episodes.head.map(_.stats)))
    if (measured.nonEmpty) {
      e2e("throughput_per_s") = median(measured.map(r => r.stats.popped / r.wallS))
      e2e("geomean_op_s") = geomean(measured.map(_.wallS))
      e2e("write_bytes_per_item") =
        measured.map(_.added.values.sum).sum.toDouble / measured.map(_.stats.popped).sum
    }
    if (o.trace && measured.nonEmpty) {
      // same input at local[1]: the first k rounds from the seeded frontier
      val k = math.min(2, episodes.head.size)
      val d4 = crawlDigest(env, lastDir, k)
      startSession(1, crawl = true)
      val (one, dir1) = episode(env, w0, seedRows, "x1", 1, k, _ => true, _ => false)
      check("local[1] and local[4] reach the same docs and seen digests")(
        crawlDigest(env, dir1, k) == d4)
      deleteTree(dir1)
      val rate4 = median(measured.filter(_.idx < k).map(r => r.stats.popped / r.wallS))
      val rate1 = median(one.map(r => r.stats.popped / r.wallS))
      layer("scaling_eff") = rate4 / (4 * rate1)
      startSession(4, crawl = true)
      crawlLayers(env, lastDir)
      queryLayers(probe = true)
      fetchLayers(env.sim)
    }
    deleteTree(w0)
    if (lastDir != null) deleteTree(lastDir)
  }

  // ---------------------------------------------------------------- layers

  /** Per-layer crawl metrics from the traced local[4] rounds, plus the
    * frontier micro-calls on the committed state in `dir`. */
  private def crawlLayers(env: CrawlEnv, dir: Path): Unit = {
    org.apache.spark.BusDrain.drain(spark.sparkContext)
    val all = rounds.filter(_.cores == 4).toSeq
    val traced = all.filter(_.traced)
    val untraced = all.filterNot(_.traced)
    val popped = all.map(_.stats.popped).sum.toDouble
    if (!layer.contains("trace.overhead_frac"))
      layer("trace.overhead_frac") =
        if (traced.isEmpty || untraced.isEmpty) 0.0
        else median(traced.map(_.wallS)) / median(untraced.map(_.wallS)) - 1
    layer("pipeline.round_s") = median(all.map(_.wallS))
    layer("pipeline.effective_cores") = all.map(_.cpuS).sum / all.map(_.wallS).sum
    layer("pipeline.cpu_us_per_url") = all.map(_.cpuS).sum * 1e6 / popped
    layer("pipeline.new_urls_per_popped") = all.map(_.stats.newUrls).sum / popped
    layer("jvm.gc_s_per_round") = median(all.map(_.gcS))
    layer("frontier.offer_admit_ratio") =
      popped / all.map(_.stats.offered).sum.toDouble
    layer("frontier.bucket_skew") = median(all.map(_.bucketSkew))
    layer("storage.docs_bytes_per_url") = all.map(_.added.getOrElse("docs", 0L)).sum / popped
    layer("storage.seen_bytes_per_url") = all.map(_.added.getOrElse("seen", 0L)).sum / popped
    layer("storage.frontier_bytes_per_round") =
      median(all.map(_.added.getOrElse("frontier", 0L).toDouble))
    layer("storage.peak_work_bytes") = all.map(_.workBytes).max.toDouble

    val base = if (traced.nonEmpty) traced else all
    def perRound(f: RoundRec => Double): Double = median(base.map(f))
    def phaseStages(r: RoundRec, ph: String): Seq[StageRec] =
      stagesOf(r.group).filter(s => Trace.phaseOf(s) == ph)
    layer("pipeline.driver_gap_s") = perRound { r =>
      r.wallS - Trace.unionMs(jobsOf(r.group).map(j => (j.startMs, j.endMs))) / 1e3
    }
    for (ph <- Seq("pop_fetch_docs", "commit", "seen_append")) {
      layer(s"phase.$ph.wall_s") = perRound(r =>
        Trace.unionMs(phaseStages(r, ph).map(s => (s.submitMs, s.endMs))) / 1e3)
      if (ph != "seen_append") {
        layer(s"phase.$ph.cpu_s") = perRound(r => phaseStages(r, ph).map(_.cpuNs).sum / 1e9)
        layer(s"phase.$ph.task_skew") = perRound(r => Trace.taskSkew(phaseStages(r, ph)))
      }
      if (ph == "commit") {
        layer("phase.commit.shuffle_bytes") =
          perRound(r => phaseStages(r, ph).map(_.shuffleWrite).sum.toDouble)
        layer("phase.commit.spill_bytes") =
          perRound(r => phaseStages(r, ph).map(_.spill).sum.toDouble)
      }
    }

    // frontier micro-calls on the committed pool and seen archive
    val c = env.crawler(dir)
    val poolRows = c.frontierTable.currentSnapshot().map(_.rows).getOrElse(0L)
    val popT = (1 to 3).map { i =>
      span(s"micro/frontier.pop/$i", "micro", o.workload) {
        val t0 = System.nanoTime()
        Frontier.pop(Frontier.restorePool(c.frontierTable.read(spark), env.cfg.numBuckets),
          "fifo", o.seed, env.cfg.perHostBudget, env.cfg.perBucketBudget,
          sorted = true).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
    }
    layer("frontier.pop_rows_per_s") = poolRows / median(popT)
    val seenRoot = dir.resolve("seen").toString
    val cutoff = c.lastRound
    val loadT = (1 to 3).map { i =>
      SeenIndex.invalidate()
      span(s"micro/seen.load/$i", "micro", o.workload) {
        val t0 = System.nanoTime()
        (0 until env.cfg.numBuckets).foreach(b => SeenIndex.setFor(seenRoot, cutoff, b))
        (System.nanoTime() - t0) / 1e9
      }
    }
    layer("frontier.seen_load_s") = median(loadT)
    val sample = c.seen().select("url", "host_bucket").limit(20000).collect()
      .flatMap { r =>
        val b = r.getInt(1)
        Seq((b, UTF8String.fromString(r.getString(0))),
          (b, UTF8String.fromString(r.getString(0) + "#unseen")))
      }
    val probeT = (1 to 5).map { i =>
      span(s"micro/seen.probe/$i", "micro", o.workload) {
        val t0 = System.nanoTime()
        var hits = 0
        sample.foreach { case (b, u) => if (SeenIndex.contains(seenRoot, cutoff, b, u)) hits += 1 }
        check(s"seen probe $i finds exactly the archived half")(hits * 2 == sample.length)
        (System.nanoTime() - t0).toDouble / sample.length
      }
    }
    layer("frontier.seen_probe_ns") = median(probeT)
    SeenIndex.invalidate()
  }

  /** FetchSim and Correlate timed on a fixed URL sample in one thread. */
  private def fetchLayers(sim: FetchSim): Unit = {
    val urls = sim.seedUrls(if (o.tiny) 1000 else 5000)
    val sb = new java.lang.StringBuilder(1 << 14)
    def fetchAll(): Array[FetchResult] = urls.map(sim.fetch).toArray
    def correlateAll(frs: Array[FetchResult]): Long = frs.map { fr =>
      val s = Correlate.sessionFromFetch("d" + graft.functions.UrlFns.sha256Hex(fr.url)
        .substring(0, 16), fr)
      Correlate.docFromSession(s, sb).spans.map { sp =>
        sp.kind.length.toLong + sp.text.getBytes("UTF-8").length +
          Option(sp.media_ref).map(_.length).getOrElse(0)
      }.sum
    }.sum
    correlateAll(fetchAll())
    val simT = (1 to 3).map { i =>
      span(s"micro/fetch.sim/$i", "micro", o.workload) {
        val t0 = System.nanoTime()
        fetchAll()
        (System.nanoTime() - t0) / 1e3 / urls.size
      }
    }
    val frs = fetchAll()
    var bytes = 0L
    val corT = (1 to 3).map { i =>
      span(s"micro/fetch.correlate/$i", "micro", o.workload) {
        val t0 = System.nanoTime()
        bytes = correlateAll(frs)
        (System.nanoTime() - t0) / 1e3 / urls.size
      }
    }
    layer("fetch.sim_us_per_url") = median(simT)
    layer("fetch.correlate_us_per_url") = median(corT)
    layer("fetch.span_bytes_per_url") = bytes.toDouble / urls.size
  }

  // ---------------------------------------------------------------- queries

  private def querySetup(): Double = {
    val t0 = System.nanoTime()
    startSession(4, crawl = false)
    tables.foreach(t => spark.read.parquet(s"${o.data}/$t.parquet").count())
    (System.nanoTime() - t0) / 1e9
  }

  /** One query: clear cached plans, run it, write its result as parquet
    * (the output the oracle check reads). */
  private def runQuery(name: String, pass: Int, cores: Int, traced: Boolean,
      parent: String): Option[QueryRec] = {
    tracing(traced)
    val group = s"q$pass/$name/c$cores"
    spark.catalog.clearCache()
    val outDir = s"${o.work}/qout/$name"
    val s0 = nowMs
    val t0 = System.nanoTime()
    val ok = check(s"$group ran") {
      withGroup(group)(SparkEntry.queries(name)(spark, o.data)
        .write.mode("overwrite").parquet(outDir))
      true
    }
    val wall = (System.nanoTime() - t0) / 1e9
    spans += Span(group, "query", s0, nowMs, parent, Map("cores" -> cores))
    System.err.println(f"[span] query $group $wall%.3f s")
    if (!ok) None
    else {
      oracleQueries += name
      val q = QueryRec(group, name, pass, cores, wall, traced)
      queries += q
      Some(q)
    }
  }

  /** One pass over the suite in an order drawn from `--seed`. */
  private def pass(p: Int, cores: Int, traced: Boolean): Seq[QueryRec] = {
    val order = new scala.util.Random(o.seed * 1000003L + p).shuffle(suite.map(_._1))
    order.flatMap(n => runQuery(n, p, cores, traced, s"pass$p"))
  }

  /** The per-query and per-module metrics of the recorded local[4] passes.
    * With `probe`, first runs one traced pass in a fresh query session. */
  private def queryLayers(probe: Boolean): Unit = {
    if (probe) {
      startSession(4, crawl = false)
      pass(-1, 4, traced = true)
    }
    org.apache.spark.BusDrain.drain(spark.sparkContext)
    val at4 = queries.filter(_.cores == 4).toSeq
    val perQuery = suite.map { case (n, _) => n -> median(at4.filter(_.name == n).map(_.wallS)) }.toMap
    suite.foreach { case (n, _) => layer(s"query.${n.take(3)}_s") = perQuery(n) }
    val tracedQ = at4.filter(_.traced)
    for (m <- suite.map(_._2).distinct) {
      val names = suite.filter(_._2 == m).map(_._1)
      layer(s"query.module.${m}_s") = names.map(perQuery).sum
      val passes = tracedQ.map(_.pass).distinct
      layer(s"query.module.$m.shuffle_bytes") = median(passes.map { p =>
        tracedQ.filter(q => q.pass == p && names.contains(q.name))
          .flatMap(q => stagesOf(q.group)).map(_.shuffleWrite).sum.toDouble
      })
    }
  }

  private def queryWorkload(): Unit = {
    // warm-up: one pass in a session of its own, then three timed set-ups
    span("warmup", "setup", o.workload) {
      querySetup()
      pass(0, 4, traced = false)
    }
    queries.clear()
    val setups = (1 to 3).map(rep => span(s"setup$rep", "setup", o.workload)(querySetup()))
    e2e("setup_s") = median(setups)
    val window = new Window(o.seconds)
    var p = 1
    while (p <= 2 || window.fits()) {
      window.op(pass(p, 4, traced = o.trace && p % 2 == 1))
      p += 1
    }
    val perQuery = suite.map { case (n, _) =>
      median(queries.filter(_.name == n).map(_.wallS).toSeq) }.filterNot(_.isNaN)
    val total = perQuery.sum
    e2e("throughput_per_s") = perQuery.size / total
    e2e("geomean_op_s") = geomean(perQuery)
    e2e("write_bytes_per_item") =
      fileSizes(Paths.get(o.work, "qout")).values.sum.toDouble / suite.size
    if (o.trace) {
      val traced = queries.filter(_.traced).map(_.wallS).sum
      val untraced = queries.filterNot(_.traced).map(_.wallS).sum
      val nT = queries.count(_.traced)
      val nU = queries.count(q => !q.traced)
      layer("trace.overhead_frac") =
        if (nT == 0 || nU == 0) 0.0 else (traced / nT) / (untraced / nU) - 1
      queryLayers(probe = false)
      // the same suite at local[1]
      startSession(1, crawl = false)
      val one = pass(1, 1, traced = false)
      layer("scaling_eff") = one.map(_.wallS).sum / (4 * total)
      // a small steady crawl for the crawl layers this workload never reaches
      val env = new CrawlEnv(shapeOf(steady = true).copy(hosts = 100))
      val w0 = Paths.get(o.work, "probe0")
      val (_, rows) = crawlSetup(env, w0, 4)
      val (_, dir) = episode(env, w0, rows, "probe", 4, 2, _ => true, _ => true)
      crawlLayers(env, dir)
      fetchLayers(env.sim)
    }
  }

  // ---------------------------------------------------------------- output

  def run(): Unit = {
    Files.createDirectories(Paths.get(o.work))
    val s0 = nowMs
    try o.workload match {
      case "crawl-steady" => crawlWorkload(steady = true)
      case "crawl-throttled" => crawlWorkload(steady = false)
      case "query-suite" => queryWorkload()
      case w => sys.error(s"unknown workload $w")
    } finally stopSession()
    spans += Span(o.workload, "workload", s0, nowMs, "")
    System.err.println(f"[span] workload done at=${(System.nanoTime() - nano0) / 1e9}%.1f")
    if (o.trace) {
      val jobSpans = listeners.zipWithIndex.flatMap { case (l, i) => l.allJobs.map(j =>
        Span(s"s$i/job${j.jobId}", "job", j.startMs.toDouble, j.endMs.toDouble, j.group)) }
      val stageSpans = listeners.zipWithIndex.flatMap { case (l, i) => l.allStages.map(s =>
        Span(s"s$i/stage${s.stageId}", "stage", s.submitMs.toDouble, s.endMs.toDouble,
          s"s$i/job${s.jobId}", Map("call_site" -> s.name, "tasks" -> s.numTasks,
            "cpu_s" -> s.cpuNs / 1e9, "gc_s" -> s.gcMs / 1e3,
            "shuffle_write_bytes" -> s.shuffleWrite, "shuffle_read_bytes" -> s.shuffleRead,
            "spill_bytes" -> s.spill, "phase" -> Trace.phaseOf(s)))) }
      Files.createDirectories(Paths.get(o.traceOut).getParent)
      Files.writeString(Paths.get(o.traceOut),
        Trace.renderSpans(spans.toSeq ++ jobSpans.toSeq ++ stageSpans.toSeq))
    }
    val json = Json.any(Map(
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
      "e2e" -> e2e.toMap, "layer" -> layer.toMap,
      "oracle_queries" -> oracleQueries.toSeq))
    Files.writeString(Paths.get(o.work, "oracle_sql.json"),
      Json.any(oracleQueries.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    Files.writeString(Paths.get(o.out), json)
  }
}
