package graft

import graft.fetch.{Correlate, FetchSim}
import graft.functions.UrlFns
import graft.pipeline.{CrawlConfig, Crawler}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The north-rule correctness gate (BASELINE.json): under the same seed
 * list and politeness budget, the DISTRIBUTED crawl must equal a
 * SEQUENTIAL single-threaded re-run of the same semantics —
 *
 *   1. the final URL-seen set (url → visit round),
 *   2. the crawl ordering per host (visit rounds monotone in the
 *      sequential pop order),
 *   3. per-row span-sequence equality (kind, text, media_ref, order)
 *      for every produced doc.
 *
 * The oracle mirrors kraaler's loop shape (sample → fetch → visit → add,
 * /root/reference/worker.go:1238-1279) generalized to round budgets, with
 * fifo (discovery-order) sampling — the deterministic ordering the gate
 * compares (SURVEY.md §7.3 hard part 3). Per-bucket budget is set
 * non-binding so bucket hashing can't mask a host-ordering bug.
 */
class CrawlOracleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  import CrawlOracleSpec.SequentialOracle

  test("distributed crawl == sequential oracle: seen set, per-host order, span sequences") {
    val sim = new FetchSim(numHosts = 15, pagesPerHost = 8, linksPerPage = 3)
    val seeds = sim.seedUrls(12)
    val perHost = 2

    // sequential reference
    val oracle = new SequentialOracle(sim, perHost)
    oracle.addSeeds(seeds)
    val oracleRounds = oracle.crawl(maxRounds = 40)
    val oracleSeen = oracle.frontier.values.map(e => e.url -> e.lastVisit).toMap

    // distributed engine, same budgets (bucket budget non-binding)
    val dir = java.nio.file.Files.createTempDirectory("graft-oracle").toString
    val c = new Crawler(spark, dir, sim, CrawlConfig(
      numBuckets = 8, perHostBudget = perHost, perBucketBudget = 1000000))
    c.addSeeds(seeds)
    c.crawlUntilEmpty(maxRounds = 45)

    // 1. URL-seen set equality incl. the visit round of every url
    val gotSeen = c.frontier().select("url", "last_visit").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotSeen == oracleSeen,
      s"seen-set diff: only-dist=${gotSeen.keySet -- oracleSeen.keySet} " +
        s"only-oracle=${oracleSeen.keySet -- gotSeen.keySet} " +
        s"round-mismatch=${gotSeen.filter { case (k, v) => oracleSeen.get(k).exists(_ != v) }.take(5)}")

    // 2. per-host crawl ordering: within each host, the engine's visit
    // rounds must be monotone in the oracle's pop order
    val popOrder = oracleRounds.flatten.zipWithIndex.toMap
    gotSeen.filter(_._2 > 0).groupBy { case (u, _) => UrlFns.hostOf(u) }
      .foreach { case (host, urls) =>
        val inPopOrder = urls.toSeq.sortBy { case (u, _) => popOrder(u) }
        val rounds = inPopOrder.map(_._2)
        assert(rounds == rounds.sorted,
          s"host $host visit rounds not monotone in oracle pop order: $inPopOrder")
      }

    // 3. per-row span-sequence equality for every doc
    val gotDocs = c.docs().select("doc_id", "spans").collect()
      .map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(sp =>
          (sp.getString(0), sp.getString(1), sp.getString(2), sp.getInt(3))))
      .toMap
    val visited = oracleSeen.filter(_._2 > 0).keys.toSeq
    assert(gotDocs.size == visited.size)
    visited.foreach { u =>
      val doc = Correlate.docFromSession(
        Correlate.sessionFromFetch("d" + UrlFns.sha256Hex(u).take(16), sim.fetch(u)))
      val want = doc.spans.map(sp => (sp.kind, sp.text, sp.media_ref, sp.offset))
      assert(gotDocs(doc.doc_id) == want, s"span sequence mismatch for $u")
    }
  }

  test("politeness budget is never exceeded in any round (lineage check)") {
    val sim = new FetchSim(numHosts = 10, pagesPerHost = 6)
    val dir = java.nio.file.Files.createTempDirectory("graft-oracle2").toString
    val c = new Crawler(spark, dir, sim, CrawlConfig(
      numBuckets = 4, perHostBudget = 3, perBucketBudget = 1000000))
    c.addSeeds(sim.seedUrls(10))
    c.round(); c.round()
    val perHostPerRound = c.frontier().filter(col("last_visit") > 0)
      .groupBy(col("host"), col("last_visit")).count().collect()
    perHostPerRound.foreach(r =>
      assert(r.getLong(2) <= 3, s"politeness violated: $r"))
  }

  // rate 0.5 / burst 1 ⇒ each host fetches on rounds 1,3,5,… — the
  // engine's per-round per-host visit counts must equal a sequential
  // token-bucket simulation with the same budgets (VERDICT r1 #8). Every
  // host offers every round under any sampler, so the oracle holds for
  // both gated pop paths: the fused sorted fifo walker and the
  // partition-local flagging pass the other samplers take.
  test("token-bucket politeness: rate-limited crawl equals the sequential bucket oracle") {
    tokenBucketMatchesOracle("fifo")
  }

  test("token-bucket politeness, uniform sampler: rate-limited crawl equals the sequential bucket oracle") {
    tokenBucketMatchesOracle("uniform")
  }

  test("token-bucket politeness, pair sampler: rate-limited crawl equals the sequential bucket oracle") {
    tokenBucketMatchesOracle("pair")
  }

  private def tokenBucketMatchesOracle(sampler: String): Unit = {
    val sim = new FetchSim(numHosts = 2, pagesPerHost = 12, linksPerPage = 2)
    val dir = java.nio.file.Files.createTempDirectory(s"graft-polite-$sampler").toString
    val rate = 0.5
    val burst = 1.0
    val c = new Crawler(spark, dir, sim, CrawlConfig(
      numBuckets = 4, perHostBudget = 10, perBucketBudget = 1000000,
      sampler = sampler, politenessRate = rate, politenessBurst = burst))
    val seeds = (0 until 8).flatMap(i =>
      Seq(s"http://h0.test/p/$i", s"http://h1.test/p/$i"))
    c.addSeeds(seeds)
    val rounds = 6
    val stats = (1 to rounds).map(_ => c.round())
    assert(stats.forall(_.offered > 0), "pool must not drain in this window")

    // engine: visits per (host, round)
    val got = c.frontier().filter(col("last_visit") > 0)
      .groupBy(col("host"), col("last_visit")).count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap

    // sequential oracle: token bucket per host (hosts have offers every
    // round, so refill is exactly one round's worth each time)
    var tokens = Map("h0.test" -> burst, "h1.test" -> burst)
    val expected = scala.collection.mutable.Map.empty[(String, Long), Long]
    (1 to rounds).foreach { r =>
      tokens = tokens.map { case (h, t) =>
        val refilled = math.min(burst, t + rate)
        val admit = math.floor(refilled).toInt
        if (admit > 0) expected((h, r.toLong)) = admit.toLong
        h -> (refilled - admit)
      }
    }
    assert(got == expected.toMap,
      s"token-bucket mismatch: got=$got expected=$expected")
  }
}

object CrawlOracleSpec {
  case class Entry(url: String, host: String, depth: Int,
      discoveredAt: Long, var lastVisit: Long)

  /** Sequential reference implementation of seed→pop→fetch→visit→expand. */
  class SequentialOracle(sim: FetchSim, perHostBudget: Int) {
    val frontier = scala.collection.mutable.LinkedHashMap.empty[String, Entry]

    private def normalize(url0: String): Option[(String, String)] = {
      val url = url0.trim
      if (url.startsWith("data:")) return None
      Option(UrlFns.hostOf(url)).map(h => (url, h))
    }

    def addCandidates(cands: Seq[(String, Int, Long)]): Unit = {
      // first-seen per url by min (depth, discovered_at) — mirrors
      // the bucket merge's dedup (Frontier.mergeBucket)
      val best = scala.collection.mutable.LinkedHashMap.empty[String, (String, Int, Long)]
      cands.foreach { case (u0, d, t) =>
        normalize(u0).foreach { case (u, h) =>
          best.get(u) match {
            case Some((_, d0, t0)) if d0 < d || (d0 == d && t0 <= t) => ()
            case _ => best(u) = (h, d, t)
          }
        }
      }
      best.foreach { case (u, (h, d, t)) =>
        if (!frontier.contains(u)) frontier(u) = Entry(u, h, d, t, 0L)
      }
    }

    def addSeeds(urls: Seq[String]): Unit =
      addCandidates(urls.zipWithIndex.map { case (u, i) => (u, 0, i.toLong) })

    /** One round; returns popped urls in pop order. */
    def round(r: Long): Seq[String] = {
      val unvisited = frontier.values.filter(_.lastVisit == 0L).toSeq
        .sortBy(e => (e.depth, e.discoveredAt, e.url))
      val perHost = scala.collection.mutable.HashMap.empty[String, Int]
      val popped = unvisited.filter { e =>
        val n = perHost.getOrElse(e.host, 0)
        if (n < perHostBudget) { perHost(e.host) = n + 1; true } else false
      }
      popped.foreach(_.lastVisit = r)
      val cands = popped.flatMap { e =>
        val s = Correlate.sessionFromFetch("d" + UrlFns.sha256Hex(e.url).take(16),
          sim.fetch(e.url))
        s.links.zipWithIndex.map { case (l, pos) =>
          (l, e.depth + 1, r * 1000000L + pos)
        }
      }
      addCandidates(cands)
      popped.map(_.url)
    }

    def crawl(maxRounds: Int): Seq[Seq[String]] =
      (1 to maxRounds).map(r => round(r.toLong)).takeWhile(_.nonEmpty)
  }
}
