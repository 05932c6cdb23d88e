package graft.sources

import graft.fetch.FetchSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * URL source providers — SURVEY.md §2.1 (S1-S6), re-expressed as DataFrame
 * builders feeding the frontier (`Crawler.addSeedCandidates` is the S6
 * fan-in sink; multiple providers `union` together like urlStore.Consume,
 * /root/reference/store/url.go:147-153).
 *
 * Network-dependent pieces (TCP port probe, DNS, HTTP polling) are
 * deterministic synthetic functions of (seed, host) — same contract, no
 * sockets — so the providers stay pure and replayable (see FetchSim's
 * scaladoc for the sandbox rationale).
 */
object Providers {

  /** S1 `ReadDomainsFromFile` (kraaler.go:29-57): line scan → trimmed,
    * lowercased, non-empty, '#'-comment-stripped domains in file order. */
  def domainsFromFile(spark: SparkSession, path: String): DataFrame =
    spark.read.textFile(path).toDF("line")
      .withColumn("domain", lower(trim(col("line"))))
      .filter(col("domain") =!= "" && !col("domain").startsWith("#"))
      .select("domain")

  /** Synthetic port-liveness: deterministic per (seed, host, port).
    * ~70% of hosts serve :80, ~40% serve :443 (independent-ish bits). */
  def portOpen(host: String, port: Int, seed: Long = 42L): Boolean = {
    val h = FetchSim.fnv1a(s"port|$seed|$host|$port")
    val m = ((h % 10) + 10) % 10
    if (port == 80) m < 7 else if (port == 443) m < 4 else false
  }

  /** S2 `DomainFileProvider.UrlsC` (provider.go:33-138): probe 80 and 443
    * per domain, emit a URL PER OPEN PORT (both can fire). */
  def domainProvider(domains: DataFrame, seed: Long = 42L): DataFrame = {
    val spark = domains.sparkSession
    import spark.implicits._
    domains.select("domain").as[String]
      .mapPartitions { it =>
        // per-partition "dialer" — the connect-probe loop of provider.go:65-70,
        // with the synthetic liveness fn standing in for net.DialTimeout
        it.flatMap { d =>
          val http = if (portOpen(d, 80, seed)) Seq(s"http://$d") else Seq.empty
          val https = if (portOpen(d, 443, seed)) Seq(s"https://$d") else Seq.empty
          http ++ https
        }
      }.toDF("url")
  }

  /** S3 `ScanForServers` (kraaler.go:68-125): like S2 but emits at most ONE
    * url per domain, preferring https (the `continue` at kraaler.go:101-107). */
  def scanForServers(domains: DataFrame, seed: Long = 42L): DataFrame = {
    val spark = domains.sparkSession
    import spark.implicits._
    domains.select("domain").as[String]
      .mapPartitions(_.flatMap { d =>
        if (portOpen(d, 443, seed)) Some(s"https://$d")
        else if (portOpen(d, 80, seed)) Some(s"http://$d")
        else None
      }).toDF("url")
  }

  /** PhishTank-style feed entry schema (provider.go:219-229): entries
    * arrive as a JSON array of {phish_id, url}. */
  val feedSchema: StructType = StructType(Seq(
    StructField("phish_id", StringType),
    StructField("url", StringType)))

  /**
   * S4 `PhishTankProvider` (provider.go:140-282), batch form: decode a
   * JSON feed snapshot, parse int ids, sort by id, keep only ids above the
   * high-watermark — exactly the `newestId` gate at provider.go:243-266.
   * Returns (urls ordered by id, new high-watermark).
   */
  def decodeFeed(snapshot: DataFrame, highWatermark: Long): DataFrame =
    snapshot
      .select(explode(from_json(col("payload"), ArrayType(feedSchema))).as("e"))
      .select(col("e.phish_id").cast("long").as("id"), col("e.url").as("url"))
      .filter(col("id").isNotNull && col("id") > highWatermark)
      .orderBy("id")

  /**
   * S4 streaming form: watch a feed directory (the stand-in for the 20-min
   * HTTP poll tick, provider.go:179-181; file-arrival = Etag change,
   * provider.go:201-206), decode each snapshot, and drop re-announced ids
   * across polls with the reference's high-watermark state: ONE monotone
   * `newestId` long (provider.go:243-266) held in
   * `flatMapGroupsWithState` — not a `dropDuplicates("id")`, whose seen-id
   * set grows without bound. Each micro-batch emits only ids above the
   * watermark, sorted by id like the reference's `sort.Sort`
   * (provider.go:231), then advances it. Gzip'd snapshots (`*.json.gz`)
   * decode transparently — Spark's file source gunzips by extension,
   * standing in for provider.go:213; drive the query with
   * `Trigger.ProcessingTime` for the poll tick (ProvidersSpec
   * demonstrates both).
   */
  def feedStreamHwm(spark: SparkSession, feedDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    spark.readStream
      .schema(StructType(Seq(StructField("payload", StringType))))
      .json(feedDir)
      .select(explode(from_json(col("payload"), ArrayType(feedSchema))).as("e"))
      .select(col("e.phish_id").cast("long").as("id"), col("e.url").as("url"))
      .filter(col("id").isNotNull)
      .as[(Long, String)]
      .groupByKey(_ => 0) // one global watermark, like the single newestId
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, rows: Iterator[(Long, String)],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val hwm = state.getOption.getOrElse(0L)
          // dedup WITHIN the batch too (keep the first url per id): two
          // snapshot files picked up in the same micro-batch can overlap,
          // and both occurrences pass the `> hwm` filter (ADVICE r2) —
          // between batches the watermark itself is the dedup
          val fresh = rows.filter(_._1 > hwm).toVector.sortBy(_._1)
            .foldLeft(Vector.empty[(Long, String)]) { (acc, r) =>
              if (acc.nonEmpty && acc.last._1 == r._1) acc else acc :+ r
            }
          if (fresh.nonEmpty) state.update(fresh.last._1)
          fresh.iterator
      }
      .toDF("id", "url")
  }

  /** S5 `URLChanProvider` (provider.go:25-31): any in-memory url list as a
    * provider frame. */
  def fromUrls(spark: SparkSession, urls: Seq[String]): DataFrame = {
    import spark.implicits._
    urls.toDF("url")
  }

  /** S6 provider fan-in (`urlStore.Consume` over many providers,
    * app/cmd/run.go:116-118): union all provider outputs. */
  def consume(providers: DataFrame*): DataFrame =
    providers.reduce(_ unionByName _)

  /** Write a deterministic synthetic feed snapshot (test/demo helper):
    * `count` entries with ids starting at `firstId`, one JSON doc per line.
    * `gzip = true` writes `feed-<id>.json.gz` — the PhishTank transport
    * encoding (provider.go:213); Spark's file source gunzips by
    * extension. */
  def writeFeedSnapshot(dir: String, firstId: Long, count: Int,
      gzip: Boolean = false): Unit = {
    val payload = feedSnapshotPayload(firstId, count)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    if (!gzip)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, s"feed-$firstId.json"), payload): Unit
    else {
      val out = new java.util.zip.GZIPOutputStream(
        java.nio.file.Files.newOutputStream(
          java.nio.file.Paths.get(dir, s"feed-$firstId.json.gz")))
      try out.write(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** The deterministic snapshot document [[writeFeedSnapshot]] writes —
    * exposed so the loopback feed-SERVER test ([[FeedPoller]]) can serve
    * byte-identical content over HTTP. */
  def feedSnapshotPayload(firstId: Long, count: Int): String = {
    val entries = (0 until count).map { i =>
      val id = firstId + i
      s"""{"phish_id":"$id","url":"http://h${id % 50}.test/p/${id % 20}"}"""
    }.mkString("[", ",", "]")
    s"""{"payload":"${entries.replace("\"", "\\\"")}"}"""
  }
}
