package graft

import graft.fetch.FetchSim
import graft.frontier.Frontier
import graft.pipeline.{CrawlConfig, Crawler}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Frontier unit semantics — urlStore tests (store/url_test.go:11-96) +
  * SURVEY.md §2.2 operators. */
class FrontierSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def cands(urls: (String, Int, Long)*) =
    Frontier.normalizeCandidates(
      urls.toSeq.toDF("url", "depth", "discovered_at"), 8)

  test("normalizeCandidates: drops data: urls and unparseable hosts, dedups by first-seen") {
    val c = cands(
      ("http://a.test/x", 1, 10L),
      ("http://a.test/x", 0, 20L), // lower depth wins despite later discovery
      ("data:text/plain;base64,AAA", 0, 1L),
      ("::not a url::", 0, 1L))
    val rows = c.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Int]("depth") == 0)
    assert(rows.head.getAs[Long]("discovered_at") == 20L)
  }

  test("newOnly: exact dedup vs frontier; bloom is advisory only (Add, store/url.go:155-220)") {
    val frontier = cands(("http://a.test/1", 0, 0L), ("http://a.test/2", 0, 1L))
    val incoming = cands(
      ("http://a.test/2", 1, 5L), // already seen → dropped
      ("http://b.test/9", 1, 6L)) // new → kept
    val fresh = Frontier.newOnly(frontier, incoming).collect()
    assert(fresh.map(_.getAs[String]("url")).toSet == Set("http://b.test/9"))
  }

  test("newOnly is idempotent (Add twice → no dupes)") {
    val frontier = cands(("http://a.test/1", 0, 0L))
    val once = Frontier.newOnly(frontier, cands(("http://c.test/1", 1, 1L)))
    val merged = frontier.unionByName(once)
    val twice = Frontier.newOnly(merged, cands(("http://c.test/1", 1, 1L)))
    assert(twice.count() == 0)
  }

  test("pop: fifo order per host = (depth, discovered_at); politeness budget respected") {
    val frontier = cands(
      ("http://a.test/d2", 2, 1L), ("http://a.test/d0", 0, 5L),
      ("http://a.test/d1", 1, 2L), ("http://b.test/x", 0, 9L))
    val popped = Frontier.pop(frontier, "fifo", 42L, perHostBudget = 2,
      perBucketBudget = 100)
    val byHost = popped.collect().groupBy(_.getAs[String]("host"))
    // host a.test: only 2 of 3 popped, in (depth, discovered_at) order
    val a = byHost("a.test").map(_.getAs[String]("url")).toSeq
    assert(a.length == 2)
    assert(a.toSet == Set("http://a.test/d0", "http://a.test/d1"))
    assert(byHost("b.test").length == 1)
  }

  test("pop: unique mode skips visited rows") {
    val f = cands(("http://a.test/1", 0, 0L), ("http://a.test/2", 0, 1L))
      .withColumn("last_visit",
        when(col("url") === "http://a.test/1", 7L).otherwise(0L))
    val popped = Frontier.pop(f, "fifo", 42L, 10, 10, unique = true)
    assert(popped.collect().map(_.getAs[String]("url")).toSeq == Seq("http://a.test/2"))
  }

  test("pop: pair sampler boosts hosts with exactly one visit (PairSampler, store/url.go:297-333)") {
    // host a: 1 visit (boosted); host b: 3 visits. One unvisited URL each;
    // bucket budget 1 → the boosted host must win the race.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = Seq(
      Row("http://a1.test/new", "a1.test", 0, 1, 10L, 0L),
      Row("http://a1.test/old", "a1.test", 0, 0, 0L, 1L),
      Row("http://b1.test/new", "b1.test", 0, 1, 11L, 0L),
      Row("http://b1.test/o1", "b1.test", 0, 0, 1L, 1L),
      Row("http://b1.test/o2", "b1.test", 0, 0, 2L, 2L),
      Row("http://b1.test/o3", "b1.test", 0, 0, 3L, 3L))
    val f = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Frontier.schema)
    // With boost=2000 the a1 URL's exponential-race key is ~1000x smaller
    // for any seed; check a few seeds for robustness.
    for (seed <- Seq(1L, 42L, 99L)) {
      val top = Frontier.pop(f, "pair", seed, 10, 1, unique = true)
        .collect().map(_.getAs[String]("url"))
      assert(top.toSeq == Seq("http://a1.test/new"), s"seed $seed")
    }
  }

  test("markVisited sets last_visit, keeps rows (seen-set retention)") {
    val f = cands(("http://a.test/1", 0, 0L), ("http://a.test/2", 0, 1L))
    val popped = Frontier.pop(f, "fifo", 42L, 1, 10)
    val marked = Frontier.markVisited(f, popped, round = 3L)
    assert(marked.count() == 2)
    assert(marked.filter(col("last_visit") === 3L).count() == 1)
  }

  test("filterKnown passes only domains with both schemes unseen (store/url.go:251-276)") {
    val f = cands(("http://seen.test/", 0, 0L))
      .withColumn("url", lit("http://seen.test")) // exact string match form
    val domains = Seq("seen.test", "fresh.test").toDF("domain")
    val out = Frontier.filterKnown(domains, f).collect().map(_.getString(0))
    assert(out.toSeq == Seq("fresh.test"))
  }
}

/** End-to-end crawl semantics — TestWorkerController closure
  * (worker_test.go:493-583) + TestURLStore resume (store/url_test.go:11-96). */
class CrawlerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-crawl").toString

  test("chain closure: crawl visits every endpoint of the link chain") {
    // The chain is strictly sequential (page i links only to i+1), so each
    // round discovers exactly one URL — the closure property of
    // TestWorkerController at a round count that stays fast in CI.
    val n = 25
    val dir = tmpDir()
    val sim = new FetchSim(chainLength = n)
    val c = new Crawler(spark, dir, sim, CrawlConfig(
      numBuckets = 4, perHostBudget = 10, perBucketBudget = 100))
    c.addSeeds(Seq("http://chain.test/p/0"))
    val stats = c.crawlUntilEmpty(maxRounds = n + 5)
    val visited = c.frontier().filter(col("last_visit") > 0)
      .select("url").collect().map(_.getString(0)).toSet
    assert(visited == (0 until n).map(i => s"http://chain.test/p/$i").toSet)
    assert(stats.nonEmpty && stats.map(_.popped).sum == n)
    // docs: one per visited URL
    assert(c.docs().count() == n)
  }

  test("per-host crawl ordering equals discovery order under fifo+unique (north rule)") {
    val dir = tmpDir()
    val sim = new FetchSim(chainLength = 20)
    val c = new Crawler(spark, dir, sim, CrawlConfig(
      numBuckets = 4, perHostBudget = 3, perBucketBudget = 100))
    c.addSeeds(Seq("http://chain.test/p/0"))
    c.crawlUntilEmpty(maxRounds = 20)
    // visit round must be monotone in chain position (discovery order)
    val visits = c.frontier()
      .filter(col("last_visit") > 0)
      .select("url", "last_visit").collect()
      .map(r => (r.getString(0).split("/p/")(1).toInt, r.getLong(1)))
      .sortBy(_._1)
    val rounds = visits.map(_._2)
    assert(rounds.sameElements(rounds.sorted),
      s"visit rounds not monotone in discovery order: ${visits.mkString(",")}")
  }

  test("salted fetch shuffle (saltFactor>0) is semantically identical to in-place fetch") {
    // the skew path (host#salt shuffle, W1) must change the physical
    // distribution ONLY — same frontier state, same docs, either way
    val sim = new FetchSim(numHosts = 10, pagesPerHost = 10)
    def runWith(salt: Int): (Set[(String, Long)], Long) = {
      val dir = tmpDir()
      val c = new Crawler(spark, dir, sim, CrawlConfig(numBuckets = 4,
        perHostBudget = 3, perBucketBudget = 100, saltFactor = salt))
      c.addSeeds(sim.seedUrls(8))
      c.round(); c.round()
      (c.frontier().select("url", "last_visit").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet, c.docs().count())
    }
    assert(runWith(0) == runWith(4))
  }

  test("resume: a new Crawler on the same workDir continues to the same final state") {
    val simA = new FetchSim(chainLength = 30)
    // uninterrupted run
    val dirU = tmpDir()
    val cu = new Crawler(spark, dirU, simA, CrawlConfig(4, 5, 100))
    cu.addSeeds(Seq("http://chain.test/p/0"))
    cu.crawlUntilEmpty(30)
    val wantSeen = cu.frontier().select("url", "last_visit")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // interrupted run: 2 rounds, then a FRESH instance resumes
    val dirI = tmpDir()
    val c1 = new Crawler(spark, dirI, simA, CrawlConfig(4, 5, 100))
    c1.addSeeds(Seq("http://chain.test/p/0"))
    c1.round(); c1.round()
    val c2 = new Crawler(spark, dirI, simA, CrawlConfig(4, 5, 100))
    assert(c2.lastRound == 2) // recovered from manifest
    c2.crawlUntilEmpty(30)
    val gotSeen = c2.frontier().select("url", "last_visit")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(gotSeen == wantSeen)
    assert(c2.docs().count() == cu.docs().count())
  }

  test("poolDeltaRounds > 1 is rejected at construction: the delta pool was removed") {
    val sim = new FetchSim(numHosts = 4, pagesPerHost = 4)
    val e = intercept[IllegalArgumentException] {
      new Crawler(spark, tmpDir(), sim, CrawlConfig(poolDeltaRounds = 3))
    }
    assert(e.getMessage.contains("delta pool was removed"), e.getMessage)
    // 0 and 1 both mean the one commit path (the frozen Bench passes 1)
    Seq(0, 1).foreach(k => new Crawler(spark, tmpDir(), sim, CrawlConfig(poolDeltaRounds = k)))
  }

  test("manifest: a snapshot left mid-delta by an older build is refused, not truncated") {
    import graft.sources.IcebergishTable
    import java.nio.file.{Files, Paths}
    val bucket = """"buckets":{"0":{"dir":"data-r1-x","rows":5}}}"""
    // compact == round: an older build's full commit — no live deltas, reads fine
    val full = IcebergishTable.parseManifest(s"""{"round":3,"rows":5,"compact":3,$bucket""")
    assert(full.round == 3 && full.rows == 5 && full.buckets(0).dir == "data-r1-x")
    // this build never writes the field
    assert(!IcebergishTable.renderManifest(full).contains("compact"))
    assert(IcebergishTable.parseManifest(IcebergishTable.renderManifest(full)) == full)
    // compact < round: rounds (1, 3] live only in delta files this build
    // cannot read — the snapshot must fail loudly, naming the manifest
    val dir = tmpDir()
    Files.writeString(Paths.get(dir, "manifest.json"),
      s"""{"round":3,"rows":5,"compact":1,$bucket""")
    val table = new IcebergishTable(dir, Frontier.schema)
    val e = intercept[IllegalStateException](table.currentSnapshot())
    assert(e.getMessage.contains(Paths.get(dir, "manifest.json").toString), e.getMessage)
    assert(e.getMessage.contains("(1, 3]"), e.getMessage)
  }

  test("synthetic web crawl: frontier grows, seen set exact (no dupes), lineage written") {
    val dir = tmpDir()
    val sim = new FetchSim(numHosts = 20, pagesPerHost = 10)
    val c = new Crawler(spark, dir, sim, CrawlConfig(
      numBuckets = 8, perHostBudget = 2, perBucketBudget = 50))
    c.addSeeds(sim.seedUrls(10))
    val s1 = c.round(); val s2 = c.round(); val s3 = c.round()
    assert(s1.popped > 0 && s2.popped > 0)
    val f = c.frontier()
    assert(f.count() == f.select("url").distinct().count(), "duplicate urls in frontier")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/lineage/round-1.json")))
    val docIds = c.docs().select("doc_id").collect().map(_.getString(0))
    assert(docIds.length == docIds.distinct.length, "duplicate docs")
  }

  test("seen index: archived urls never re-enter the pool (merge shuffles O(pool+delta))") {
    // small dense web → every round re-discovers mostly already-visited
    // pages, exercising the partition-local archive probe that replaced
    // the O(ever-seen) archive union in the merge shuffle
    val dir = tmpDir()
    val sim = new FetchSim(numHosts = 6, pagesPerHost = 8, linksPerPage = 5)
    val c = new Crawler(spark, dir, sim, CrawlConfig(
      numBuckets = 8, perHostBudget = 3, perBucketBudget = 100))
    c.addSeeds(sim.seedUrls(6))
    (1 to 5).foreach(_ => c.round())
    val pool = c.frontierTable.read(spark).select("url")
    val archived = c.seen().select("url")
    // disjointness: a url is in the live pool XOR ever-visited
    assert(pool.join(archived, Seq("url"), "inner").count() == 0,
      "archived url re-entered the live pool")
    // the ever-seen view stays duplicate-free (first-seen dedup exact)
    val f = c.frontier()
    assert(f.count() == f.select("url").distinct().count())
    // archive layout is bucket-partitioned for the partition-local index
    import scala.jdk.CollectionConverters._
    assert(java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$dir/seen/round=1")).iterator().asScala
      .exists(_.getFileName.toString.startsWith("host_bucket=")))
  }

  test("real-socket fetch: a crawl runs over loopback HTTP through the pluggable seam") {
    // the reference's TestCrawl fetches from live in-test HTTP servers
    // (worker_test.go:275-444); this is the engine's analogue — an in-JVM
    // loopback server, the JDK-HttpClient fetcher behind the FetchSim
    // seam, and the UNCHANGED crawl pipeline on top. Bodies, headers,
    // status codes, and the redirect chain all come off a real socket.
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def page(links: Seq[String], extra: String = ""): String =
      s"<html><body>$extra${links.map(l => s"""<a href="$l">x</a>""").mkString}</body></html>"
    def handle(path: String, status: Int, body: String,
        headers: (String, String)*): Unit =
      server.createContext(path, ex => {
        headers.foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
        if (!ex.getResponseHeaders.containsKey("Content-Type"))
          ex.getResponseHeaders.add("Content-Type", "text/html")
        val b = body.getBytes("UTF-8")
        ex.sendResponseHeaders(status, if (b.isEmpty) -1 else b.length.toLong)
        if (b.nonEmpty) ex.getResponseBody.write(b)
        ex.close()
      })
    handle("/root.html", 200, page(Seq("/a", "/b")))
    handle("/a", 200, page(Seq("/c")))
    handle("/b", 301, "", "Location" -> "/c")
    handle("/c", 200, page(Seq.empty, "leaf content here"))
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val dir = tmpDir()
      val c = new Crawler(spark, dir, new graft.fetch.HttpFetcher(),
        CrawlConfig(numBuckets = 2, perHostBudget = 10, perBucketBudget = 100))
      c.addSeeds(Seq(s"$base/root.html"))
      c.crawlUntilEmpty(maxRounds = 5)
      val sess = c.sessions().collect()
        .map(r => r.getAs[String]("url") -> r.getAs[String]("error")).toMap
      // every reachable page was visited exactly once, none errored
      assert(sess.keySet == Set(s"$base/root.html", s"$base/a", s"$base/b", s"$base/c"))
      assert(sess.values.forall(_ == ""), s"fetch errors: $sess")
      // span sequences carry the REAL wire data: body text, a real
      // Content-Type response header, and /b's 301 → /c redirect chain
      val spans = c.docs().select(col("doc_id"), explode(col("spans")).as("s"))
        .select(col("doc_id"), col("s.kind").as("kind"), col("s.text").as("text"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      assert(spans.exists { case (_, k, t) => k == "body" && t.contains("leaf content here") })
      assert(spans.exists { case (_, k, t) => k == "response" && t.contains("text/html") })
      val bId = c.docIdOf(s"$base/b")
      val bReqs = spans.filter { case (d, k, _) => d == bId && k == "request" }
      assert(bReqs.length == 2, s"redirect chain not two hops: $bReqs")
      assert(bReqs.exists(_._3.contains("/c")), "hop request to /c missing")
      val bResps = spans.filter { case (d, k, _) => d == bId && k == "response" }
      assert(bResps.exists(_._3.contains("301")), "301 hop response missing")
      // link extraction off real HTML drove the frontier: /c was
      // discovered from BOTH /a's page and /b's redirect landing
      assert(c.frontier().filter(col("last_visit") > 0).count() == 4)
    } finally server.stop(0)
  }
}
