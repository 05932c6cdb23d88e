package graft

import graft.fetch.{Correlate, FetchSim}
import graft.functions.UrlFns
import graft.pipeline.{CrawlConfig, Crawler}
import graft.sources.DirectParquet
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The crawl round's direct parquet writer ([[DirectParquet]]): what it
  * leaves on disk, retry idempotence, and that a crawl written through it
  * still equals the sequential oracle. */
class DirectWriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmpDir(): String = Files.createTempDirectory("graft-direct").toString

  private def walk(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.toVector finally s.close()
  }

  test("a gated crawl leaves no _SUCCESS, .crc, _temporary or temp files; one file per bucket dir") {
    val dir = tmpDir()
    val sim = new FetchSim(numHosts = 12, pagesPerHost = 10, linksPerPage = 3)
    val c = new Crawler(spark, dir, sim, CrawlConfig(numBuckets = 4, perHostBudget = 3,
      perBucketBudget = 100, politenessRate = 0.7, politenessBurst = 2.0))
    c.addSeeds(sim.seedUrls(12))
    val stats = (1 to 4).map(_ => c.round())
    assert(stats.forall(_.popped > 0))
    for (table <- Seq("docs", "seen", "frontier", "politeness")) {
      val root = Paths.get(dir, table)
      assert(Files.isDirectory(root), s"$table/ missing")
      val names = walk(root).map(_.getFileName.toString)
      val stray = names.filter(n => n == "_SUCCESS" || n.endsWith(".crc") ||
        n.contains("_temporary") || n.startsWith(".") || n.endsWith(".tmp"))
      assert(stray.isEmpty, s"$table/ holds committer or temp files: $stray")
    }
    val bucketDirs = walk(Paths.get(dir, "frontier"))
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("hb="))
    assert(bucketDirs.nonEmpty)
    bucketDirs.foreach { d =>
      val files = walk(d).filter(Files.isRegularFile(_)).map(_.getFileName.toString)
      assert(files.size == 1 && files.head.matches("part-\\d{5}\\.parquet"),
        s"$d holds $files")
    }
  }

  test("rewriting a partition (a task retry) leaves one file with identical bytes") {
    val settings = DirectParquet.Settings.resolve(spark,
      graft.streaming.Politeness.stateSchema, Map("compression" -> "zstd"))
    val rows = (0 until 500).map(i => (s"h$i.test", i * 0.5, i.toLong))
    def attempt(dir: Path, n: Long, rows: Seq[(String, Double, Long)]): DirectParquet.PartWriter = {
      val w = new DirectParquet.PartWriter(settings, dir, 3, attempt = n)
      rows.foreach { case (h, t, r) => w.write(InternalRow(UTF8String.fromString(h), t, r)) }
      w
    }
    val dir = Paths.get(tmpDir(), "t")
    val first = attempt(dir, 1L, rows).commit()
    val target = dir.resolve("part-00003.parquet")
    val bytes = Files.readAllBytes(target)
    // a failed attempt aborts: no temp file, the committed file untouched
    attempt(dir, 2L, rows.take(7)).abort()
    // the retry rewrites the same name with the same content
    val retry = attempt(dir, 3L, rows).commit()
    assert(walk(dir).filter(Files.isRegularFile(_)).map(_.getFileName.toString) ==
      Seq("part-00003.parquet"))
    assert(java.util.Arrays.equals(Files.readAllBytes(target), bytes))
    assert(first == retry && first.rows == 500 && first.bytes == bytes.length)
    assert(spark.read.parquet(dir.toString).count() == 500)

    // the same for a whole bucket write job run twice into one directory
    import spark.implicits._
    val df = (0 until 200).map(i => (s"u$i", i.toLong, i % 4)).toDF("url", "k", "b")
      .repartition(col("b")).sortWithinPartitions("b", "k")
    val out = tmpDir()
    val once = DirectParquet.writeBuckets(df, out, Map.empty)
    val hashes = walk(Paths.get(out)).filter(Files.isRegularFile(_))
      .map(p => p.toString -> UrlFns.sha256Hex(Files.readAllBytes(p))).toMap
    val twice = DirectParquet.writeBuckets(df, out, Map.empty)
    assert(once.sortBy(_.bucket) == twice.sortBy(_.bucket))
    assert(once.map(_.rows).sum == 200 && once.map(_.bucket).toSet == Set(0, 1, 2, 3))
    assert(walk(Paths.get(out)).filter(Files.isRegularFile(_))
      .map(p => p.toString -> UrlFns.sha256Hex(Files.readAllBytes(p))).toMap == hashes)
  }

  test("a bucket that is not contiguous in its partition fails the write") {
    import spark.implicits._
    val df = Seq(("a", 0), ("b", 1), ("c", 0)).toDF("url", "b").coalesce(1)
    val e = intercept[org.apache.spark.SparkException](
      DirectParquet.writeBuckets(df, tmpDir(), Map.empty))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("not contiguous")))
  }

  test("commit(preClustered) refuses a bucket that arrives from two tasks") {
    import spark.implicits._
    val dir = tmpDir()
    val table = new graft.sources.IcebergishTable(dir, graft.frontier.Frontier.schema)
    // one host ⇒ one bucket; round-robin puts its rows in both partitions
    val rows = graft.frontier.Frontier.normalizeCandidates(
      (0 until 40).map(i => (s"http://a.test/p/$i", 0, i.toLong))
        .toDF("url", "depth", "discovered_at"), 4).repartition(2)
    val e = intercept[IllegalStateException](table.commit(rows, 0, preClustered = true))
    assert(e.getMessage.contains("partitions 0,1"))
    assert(table.currentSnapshot().isEmpty, "a refused commit must not rename the manifest")
  }

  test("docs(), seen() and frontier() written directly equal the sequential oracle") {
    val sim = new FetchSim(numHosts = 15, pagesPerHost = 8, linksPerPage = 3)
    val seeds = sim.seedUrls(12)
    val oracle = new CrawlOracleSpec.SequentialOracle(sim, perHostBudget = 2)
    oracle.addSeeds(seeds)
    oracle.crawl(maxRounds = 40)
    val oracleSeen = oracle.frontier.values.map(e => e.url -> e.lastVisit).toMap

    val c = new Crawler(spark, tmpDir(), sim, CrawlConfig(
      numBuckets = 8, perHostBudget = 2, perBucketBudget = 1000000))
    c.addSeeds(seeds)
    c.crawlUntilEmpty(maxRounds = 45)

    val frontier = c.frontier().select("url", "last_visit").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(frontier == oracleSeen)
    val seen = c.seen().select("url", "last_visit").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(seen == oracleSeen.filter(_._2 > 0))
    val docs = c.docs().select("doc_id", "spans", "round").collect()
      .map(r => r.getString(0) -> ((r.getSeq[org.apache.spark.sql.Row](1).map(sp =>
        (sp.getString(0), sp.getString(1), sp.getString(2), sp.getInt(3))), r.getInt(2))))
      .toMap
    val want = oracleSeen.filter(_._2 > 0).map { case (u, round) =>
      val doc = Correlate.docFromSession(
        Correlate.sessionFromFetch("d" + UrlFns.sha256Hex(u).take(16), sim.fetch(u)))
      doc.doc_id -> ((doc.spans.map(sp => (sp.kind, sp.text, sp.media_ref, sp.offset)),
        round.toInt))
    }
    assert(docs == want)
  }
}
