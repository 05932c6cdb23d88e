package graft.tools

import graft.fetch.FetchSim
import graft.pipeline.{CrawlConfig, Crawler}
import graft.sources.Providers
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * The `krl run` analogue (/root/reference/app/cmd/run.go:46-178): an
 * end-to-end crawl CLI over the deterministic synthetic web, with the
 * reference's flag surface —
 *
 *   -n / --workers N              parallelism (local[N] threads; run.go:170)
 *   --sampler uni|pw|fifo         pop priority (run.go:32-36: uni→uniform,
 *                                 pw→PairSampler(2000); fifo is ours)
 *   -u / --unique                 crawl URLs once (run.go:172)
 *   -o / --data-dir DIR           output/work dir (run.go:173)
 *   --provider-domain-file F      seed domains from file (run.go:176;
 *                                 ReadDomainsFromFile, kraaler.go:29-57)
 *   --seeds N --rounds N          synthetic seed count / max rounds
 *   --politeness-rate R           per-host token-bucket rate (0 = off)
 *   --politeness-burst B          token-bucket burst
 *
 * SIGINT drains like run.go:147-157: the current round finishes and the
 * loop exits cleanly. A hard kill is also safe — round commits are atomic
 * (manifest rename), so a torn round replays idempotently on restart,
 * which doubles as the resume path (F9).
 */
object CrawlDemo {
  def main(args: Array[String]): Unit = {
    def flag(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(k, v) if k == name => v }
    def has(name: String): Boolean = args.contains(name)

    val workDir = flag("--data-dir").orElse(flag("-o")).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-demo").toString)
    val workers = flag("--workers").orElse(flag("-n"))
      .orElse(sys.env.get("SPARK_GRAFT_CPUS")).getOrElse("8")
    val sampler = flag("--sampler").getOrElse("fifo") match {
      case "uni" => "uniform"
      case "pw" => "pair"
      case s => s
    }
    val unique = has("--unique") || has("-u") || !has("--no-unique")
    val nSeeds = flag("--seeds").map(_.toInt).getOrElse(20)
    val maxRounds = flag("--rounds").map(_.toInt).getOrElse(5)
    val politenessRate = flag("--politeness-rate").map(_.toDouble).getOrElse(0.0)
    val politenessBurst = flag("--politeness-burst").map(_.toDouble).getOrElse(1.0)

    val spark = SparkSession.builder()
      .master(s"local[$workers]")
      .appName("graft-crawl")
      .config("spark.sql.shuffle.partitions", workers)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val sim = new FetchSim(numHosts = 50, pagesPerHost = 30)
    val crawler = new Crawler(spark, workDir, sim,
      CrawlConfig(numBuckets = 16, perHostBudget = 3, perBucketBudget = 200,
        sampler = sampler, unique = unique,
        politenessRate = politenessRate, politenessBurst = politenessBurst))

    // seeds: domain files (https-preferred scan, S2/S3) else synthetic
    val domainFiles = args.sliding(2).collect {
      case Array("--provider-domain-file", f) => f
    }.toSeq
    if (domainFiles.nonEmpty) {
      val urls = domainFiles
        .map(f => Providers.scanForServers(Providers.domainsFromFile(spark, f)))
        .reduce(_ unionByName _)
        .select(col("url"), lit(0).as("depth"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy("url")).cast("long").as("discovered_at"))
      crawler.addSeedCandidates(urls)
    } else crawler.addSeeds(sim.seedUrls(nSeeds))
    println(s"[crawl] workDir=$workDir sampler=$sampler unique=$unique " +
      s"resumeRound=${crawler.lastRound}")

    // SIGINT → drain: finish the in-flight round, then exit the loop
    @volatile var stop = false
    try sun.misc.Signal.handle(new sun.misc.Signal("INT"),
      (_: sun.misc.Signal) => {
        stop = true
        System.err.println("[crawl] SIGINT — draining after current round")
      })
    catch { case _: Throwable => () }

    var i = 0
    var done = false
    while (i < maxRounds && !done && !stop) {
      val s = crawler.round()
      println(s"[crawl] round=${s.round} offered=${s.offered} popped=${s.popped} " +
        s"ok=${s.fetchedOk} errors=${s.errors} new=${s.newUrls} frontier=${s.frontierRows}")
      done = s.offered == 0
      i += 1
    }
    val docs = crawler.docs()
    println(s"[crawl] docs rows=${docs.count()}")
    docs.select(col("doc_id"), col("round"),
        expr("size(spans)").as("n_spans"),
        expr("transform(slice(spans, 1, 4), s -> s.kind)").as("first_kinds"))
      .show(10, truncate = false)
    println("[crawl] span kind histogram:")
    docs.select(explode(col("spans")).as("s"))
      .groupBy(col("s.kind")).count().orderBy(desc("count")).show()
    spark.stop()
  }
}
