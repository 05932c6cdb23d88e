package graft

import graft.pipeline.Middleware
import graft.sources.Providers
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** URL source providers (SURVEY.md §2.1) — mirrors TestDomainFileProvider
  * (provider_test.go:20-88) and TestPhishTankReader (provider_test.go:
  * 90-151) over the deterministic synthetic liveness/feed functions. */
class ProvidersSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-prov").toString

  test("domainsFromFile: trims, lowercases, drops blanks and comments, keeps order") {
    val dir = tmpDir()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "domains.txt"),
      "  Example.COM  \n\n# comment\nfoo.test\nBAR.test\n")
    val got = Providers.domainsFromFile(spark, s"$dir/domains.txt")
      .collect().map(_.getString(0)).toSet
    assert(got == Set("example.com", "foo.test", "bar.test"))
  }

  test("domainProvider emits one url per open port; scanForServers prefers https") {
    import spark.implicits._
    val domains = (0 until 200).map(i => s"d$i.test").toDF("domain")
    val perPort = Providers.domainProvider(domains).collect().map(_.getString(0))
    val scan = Providers.scanForServers(domains).collect().map(_.getString(0))
    // per-port provider can emit both schemes for one domain
    val both = perPort.groupBy(u => u.split("//")(1)).filter(_._2.length == 2)
    assert(both.nonEmpty, "expected some domains with both ports open")
    // scan emits at most one per domain, preferring https
    val byDomain = scan.groupBy(u => u.split("//")(1))
    assert(byDomain.values.forall(_.length == 1))
    both.keys.foreach { d =>
      byDomain.get(d).foreach(us => assert(us.head.startsWith("https://")))
    }
    // determinism
    assert(Providers.domainProvider(domains).collect().map(_.getString(0)).toSeq
      == perPort.toSeq)
  }

  test("decodeFeed: json decode, sort by id, high-watermark gate (provider.go:243-266)") {
    import spark.implicits._
    Providers.writeFeedSnapshot(tmpDir() + "/unused", 0, 0) // helper smoke
    val payload =
      """[{"phish_id":"7","url":"http://a.test/x"},
        | {"phish_id":"3","url":"http://b.test/y"},
        | {"phish_id":"9","url":"http://c.test/z"}]""".stripMargin
    val snap = Seq(payload).toDF("payload")
    val all = Providers.decodeFeed(snap, highWatermark = -1L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(all.map(_._1).toSeq == Seq(3L, 7L, 9L), "sorted by id")
    val gated = Providers.decodeFeed(snap, highWatermark = 6L)
      .collect().map(_.getLong(0))
    assert(gated.toSeq == Seq(7L, 9L))
  }

  test("feedStreamHwm: O(1) high-watermark gate, gzip'd poll, ProcessingTime trigger") {
    val dir = tmpDir()
    // poll 1: plain json, ids 1..3
    Providers.writeFeedSnapshot(dir, firstId = 1, count = 3)
    val q = Providers.feedStreamHwm(spark, dir)
      .writeStream.format("memory").queryName("feed_hwm_out")
      // the 20-min PhishTank tick (provider.go:179-181), scaled for a test
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"))
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("feed_hwm_out").count() == 3)
      // poll 2: GZIP transport (provider.go:213) re-announces 2..3 (below
      // the watermark — dropped by the newestId gate, provider.go:243-266)
      // and adds 4..6
      Providers.writeFeedSnapshot(dir, firstId = 2, count = 5, gzip = true)
      q.processAllAvailable()
      val ids = spark.table("feed_hwm_out").collect().map(_.getAs[Long]("id")).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L), s"got ${ids.toSeq}")
      // poll 3: everything at-or-below the watermark → nothing new
      Providers.writeFeedSnapshot(dir, firstId = 3, count = 3)
      q.processAllAvailable()
      assert(spark.table("feed_hwm_out").count() == 6)
      // polls 4+5 land in the SAME micro-batch with overlapping ids 7..9 /
      // 8..11, all above the watermark — each id must be emitted ONCE
      // (ADVICE r2: the per-batch filter alone would emit 8 and 9 twice)
      Providers.writeFeedSnapshot(dir, firstId = 7, count = 3)  // 7..9
      Providers.writeFeedSnapshot(dir, firstId = 8, count = 4)  // 8..11
      q.processAllAvailable()
      val ids2 = spark.table("feed_hwm_out").collect().map(_.getAs[Long]("id")).sorted
      assert(ids2.toSeq == (1L to 11L), s"in-batch overlap emitted dupes: ${ids2.toSeq}")
    } finally q.stop()
  }

  test("FeedPoller: ETag conditional GET over loopback HTTP — 304 skips, changed feed flows into the stream") {
    // the reference polls the PhishTank URL with Etag change-detection and
    // gunzips the body (provider.go:179-216); this drives that exact loop
    // against an in-JVM HTTP server: poll → 304 (unchanged) → new ETag →
    // new snapshot, then the UNCHANGED streaming pipeline consumes the
    // polled directory with exactly-once ids.
    def gz(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.util.zip.GZIPOutputStream(bos)
      try out.write(s.getBytes("UTF-8")) finally out.close()
      bos.toByteArray
    }
    val feedDir = tmpDir()
    @volatile var etag = "\"v1\""
    @volatile var body = gz(Providers.feedSnapshotPayload(1, 3)) // ids 1..3
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/feed.json.gz", ex => {
      val inm = ex.getRequestHeaders.getFirst("If-None-Match")
      if (inm != null && inm == etag) ex.sendResponseHeaders(304, -1)
      else {
        ex.getResponseHeaders.add("ETag", etag)
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
      }
      ex.close()
    })
    server.start()
    try {
      val p = new graft.sources.FeedPoller(
        s"http://127.0.0.1:${server.getAddress.getPort}/feed.json.gz", feedDir)
      assert(p.pollOnce(), "first poll must land a snapshot")
      assert(!p.pollOnce(), "unchanged ETag must 304-skip")
      assert(!p.pollOnce(), "still unchanged")
      // the feed updates: overlapping ids 2..6 under a new validator
      etag = "\"v2\""
      body = gz(Providers.feedSnapshotPayload(2, 5))
      assert(p.pollOnce(), "changed ETag must land a snapshot")
      assert(p.etag.contains("\"v2\""))
      // gzip bytes kept verbatim under the extension the file source gunzips
      import scala.jdk.CollectionConverters._
      val names = java.nio.file.Files.list(java.nio.file.Paths.get(feedDir))
        .iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      assert(names == Seq("feed-000000.json.gz", "feed-000001.json.gz"), names)
      val q = Providers.feedStreamHwm(spark, feedDir)
        .writeStream.format("memory").queryName("feed_http_out")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val ids = spark.table("feed_http_out").collect().map(_.getAs[Long]("id")).sorted
        assert(ids.toSeq == (1L to 6L), s"got ${ids.toSeq}")
      } finally q.stop()
    } finally server.stop(0)
  }

  test("consume unions providers; middleware skip/only filters compose") {
    import spark.implicits._
    val a = Seq("http://a.test/1").toDF("url")
    val b = Seq("http://b.test/2", "http://skip.test/x").toDF("url")
    val fanIn = Providers.consume(a, b)
    assert(fanIn.count() == 3)
    val filtered = Middleware.chain(
      Middleware.skipUrls(Seq("skip\\.test")))(fanIn)
      .collect().map(_.getString(0)).toSet
    assert(filtered == Set("http://a.test/1", "http://b.test/2"))
  }
}
