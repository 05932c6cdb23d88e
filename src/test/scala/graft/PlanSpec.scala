package graft

import graft.frontier.Frontier
import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Physical-plan quality gates — the scale properties the engine claims
 * must be visible in `explain`, not just hoped for:
 *  - parquet scans push filters and prune columns;
 *  - the frontier pop plans exactly ONE exchange (both politeness windows
 *    reuse the host_bucket partitioning);
 *  - the broadcast side of similarity search actually broadcasts;
 *  - custom expressions stay inside whole-stage codegen.
 */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q01 scan: filter pushed to parquet, columns pruned") {
    val df = SparkEntry.queries("q01_pricing_agg")(spark, "/root/testdata/sf0.001")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushed filter in:\n$plan")
    // projection pruning: the scan must NOT read unused lineitem columns
    assert(!plan.contains("l_comment") && !plan.contains("l_partkey"),
      "scan reads columns the query never uses")
  }

  test("frontier pop plans exactly one exchange (shared window partitioning)") {
    import spark.implicits._
    val f = Frontier.normalizeCandidates(
      (0 until 100).map(i => (s"http://h${i % 7}.test/p/$i", 0, i.toLong))
        .toDF("url", "depth", "discovered_at"), 8)
    val popped = Frontier.pop(f, "fifo", 42L, 2, 1000)
    val plan = planOf(popped)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    // the input has no exchange of its own (normalizeCandidates is
    // row-local): exactly one for the pop repartition — the two windows
    // must NOT add more
    assert(exchanges == 1, s"pop planned $exchanges exchanges, want 1:\n$plan")
    assert(plan.contains("Window"), "expected window operators")
  }

  test("bruteForceTopK broadcasts the query side") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = planOf(Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), 5))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$plan")
  }

  test("q52 CMS: top-k plans as TakeOrderedAndProject, probe side broadcasts") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = planOf(graft.operators.Sketches.countMinHeavyHitters(docs))
    // the exact top-k must never be a global Sort — O(k) per partition
    assert(plan.contains("TakeOrderedAndProject"),
      s"CMS top-k is not a distributed take:\n$plan")
    // the k-row probe dim joins the <= d*w grid via broadcast, not SMJ
    assert(!plan.contains("SortMergeJoin"),
      s"CMS probe join degraded to sort-merge:\n$plan")
  }

  test("q53 quantization: codes are a pure projection (amax is a literal), queries broadcast") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val df = graft.operators.Similarity.quantizedTopK(
      emb, emb.filter(col("vec_id") < 3), 5)
    val plan = planOf(df)
    // exactly ONE join in the whole search — the broadcast query×corpus
    // pairing; the amax array is a literal, so the code projection adds
    // no join and the corpus is scanned once
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$plan")
    assert("Join".r.findAllIn(plan).length == 1,
      s"quantization added joins beyond the query pairing:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"quantized search degraded to sort-merge:\n$plan")
  }

  test("q56 PQ: search joins once (broadcast queries), codebook/LUT are literals") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val df = graft.operators.Similarity.pqTopK(
      emb, emb.filter(col("vec_id") < 3), 5, withExact = false)
    val plan = planOf(df)
    // codebook + per-query LUT are literal arrays, so the only join in
    // the search is the broadcast query×corpus pairing — the corpus's
    // m-byte codes are scanned once and never re-joined to embeddings
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$plan")
    assert("Join".r.findAllIn(plan).length == 1,
      s"PQ search added joins beyond the query pairing:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"PQ search degraded to sort-merge:\n$plan")
  }

  test("q61 mixture sample: quota dim broadcasts, the draw reuses ONE corpus exchange on the domain key") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = planOf(graft.operators.Corpus.mixtureSample(docs, k = 20))
    // the domain-dim quota join must never shuffle the corpus side
    assert(plan.contains("BroadcastHashJoin"),
      s"quota dim lost its broadcast:\n$plan")
    // corpus-side exchanges: one for the mixture aggregate, one for the
    // per-domain rank window — the apportionment's dim-sized windows may
    // add SinglePartition exchanges over the DOMAIN DIM only, so count
    // the hashpartitioning exchanges instead of all Exchange nodes
    val corpusExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(corpusExchanges <= 2,
      s"mixture sample shuffles the corpus more than twice:\n$plan")
  }

  test("q50 pageRank: per-iteration contribs are a partial-aggregated shuffle on dst") {
    import spark.implicits._
    val docs = (0 until 64).map(_.toLong).toDF("doc_id")
    val plan = planOf(graft.operators.Graphs.pageRank(docs, iters = 1))
    // the groupBy(dst) must plan as HashAggregate partial+final (map-side
    // combine eats hot-page in-degree skew before the exchange)
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"contrib aggregate lost its map-side combine:\n$plan")
    // the once-partitioned edge list is served from its eager
    // localCheckpoint (an ExistingRDD scan), never recomputed per iteration
    assert(plan.contains("ExistingRDD"),
      s"edge list not served from the checkpoint:\n$plan")
  }

  test("custom expressions run inside WholeStageCodegen") {
    graft.functions.GraftExpressions.register(spark)
    // over a real scan (a literal input constant-folds to LocalTableScan —
    // which itself shows the expression is a first-class Catalyst citizen)
    val df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .select(graft.functions.GraftExpressions.etld1(
        concat(lower(col("c_name")), lit(".example.co.uk"))).as("r"))
    val plan = planOf(df)
    // "*(n)" prefixes mark WholeStageCodegen stages in the plan string;
    // the etld1 Project must carry one
    assert(plan.linesIterator.exists(l => l.contains("etld1") && l.contains("*(")),
      s"etld1 fell out of codegen:\n$plan")
    assert(df.limit(1).collect().head.getString(0).endsWith("example.co.uk"))
  }

  test("sorted fifo pop: streaming take with NO Sort node and NO exchange") {
    import spark.implicits._
    // seed a frontier through the real table's bucket merge (bucket files
    // stored sorted), then the fifo pop plan must be scan → filter →
    // mapPartitions only
    val dir = java.nio.file.Files.createTempDirectory("graft-pop-plan").toString
    val table = new graft.sources.IcebergishTable(dir, Frontier.schema,
      dropCols = Seq("host", "host_bucket", "last_visit"))
    val f = Frontier.normalizeCandidates(
      (0 until 200).map(i => (s"http://h${i % 7}.test/p/$i", 0, i.toLong))
        .toDF("url", "depth", "discovered_at"), 8)
    table.commitMerge(Frontier.roundDelta(f, 8), 0, Frontier.roundMerge(s"$dir/seen", 0, 8), _ => ())
    val pool = Frontier.restorePool(table.read(spark), 8)
    val popped = Frontier.pop(pool, "fifo", 42L, 2, 1000, sorted = true)
    val plan = planOf(popped)
    assert(!plan.contains("Exchange"), s"sorted pop shuffled:\n$plan")
    assert(!plan.linesIterator.exists(_.trim.startsWith("+- Sort")) &&
      !plan.linesIterator.exists(_.trim.startsWith("Sort ")),
      s"sorted pop re-sorted the pool:\n$plan")
    assert(plan.contains("MapPartitions"), s"expected streaming take:\n$plan")
    // and it pops the same rows as the window form
    val windowed = Frontier.pop(pool, "fifo", 42L, 2, 1000)
    assert(popped.collect().map(_.getString(0)).sorted.toSeq ==
      windowed.collect().map(_.getString(0)).sorted.toSeq)
  }

  test("round commit: one exchange, and no frontier file is scanned below it") {
    // the bucket merge streams each pool file inside its task; only the
    // round's candidates (docs read-back → thinning) may feed the shuffle
    val dir = java.nio.file.Files.createTempDirectory("graft-plan").toString
    val sim = new graft.fetch.FetchSim(numHosts = 10, pagesPerHost = 12, linksPerPage = 3)
    val c = new graft.pipeline.Crawler(spark, dir, sim,
      graft.pipeline.CrawlConfig(numBuckets = 4, perHostBudget = 2, perBucketBudget = 100))
    c.addSeeds(sim.seedUrls(8))
    c.round()
    val probe = new RoundProbe(spark)
    assert(probe.during(c.round()).popped > 0)
    def scans(p: org.apache.spark.sql.execution.SparkPlanInfo) =
      RoundProbe.nodes(p).filter(_.nodeName.startsWith("Scan"))
        .map(_.metadata.getOrElse("Location", ""))
    val exchanging = probe.plans.filter(p => RoundProbe.nodes(p).exists(_.nodeName == "Exchange"))
    assert(exchanging.size == 1, s"want one shuffling execution per round: ${probe.plans}")
    val commit = exchanging.head
    assert(RoundProbe.nodes(commit).count(_.nodeName == "Exchange") == 1)
    assert(scans(commit).nonEmpty && scans(commit).forall(_.contains("docs/round=2")),
      s"the commit's exchange reads more than the round's docs: ${scans(commit)}")
  }

  test("bucket token mapping is a perfect 1:1 bucket→shuffle-partition layout") {
    import spark.implicits._
    // tokens are injective per n (driver-side property)…
    for (n <- Seq(8, 32, 128, 200)) {
      val toks = Frontier.partitionTokens(n)
      assert(toks.distinct.length == n, s"tokens not distinct for n=$n")
    }
    // …and repartition(n, bucketToken(b)) places bucket b ALONE in
    // partition b — the skew-free layout the merge/commit stage relies on
    // (plain repartition(col) murmur-collides 3-4 buckets into one task)
    val n = 64
    val placed = (0 until n).toDF("b")
      .repartition(n, Frontier.bucketToken(col("b"), n))
      .select(col("b"), spark_partition_id().as("p"))
      .collect().map(r => r.getInt(0) -> r.getInt(1))
    placed.foreach { case (b, p) => assert(b == p, s"bucket $b landed in partition $p") }
  }

  test("q30 IVF: no global Window anywhere — init is a distributed top-k, argmax is an aggregate") {
    // round-2 regressions this gates (VERDICT r2 #3/#4): the k-means init
    // was row_number over a Window with NO partition spec (whole corpus
    // through ONE task) and assign/probe shuffled corpus×cells rows
    // through per-vec windows. Init must now plan TakeOrderedAndProject;
    // the corpus-side argmax must plan HashAggregate, not Window.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val initPlan = planOf(Similarity.kmeansInit(emb, 8, 42L))
    assert(initPlan.contains("TakeOrderedAndProject"),
      s"kmeans init is not a distributed top-k:\n$initPlan")
    assert(!initPlan.contains("Window"), s"kmeans init plans a Window:\n$initPlan")
    val centroids = Similarity.kmeansCentroids(emb, cells = 8, iters = 1)
    val assignPlan = planOf(Similarity.ivfAssign(emb, centroids))
    assert(!assignPlan.contains("Window"),
      s"ivfAssign ranks via Window over corpus×cells:\n$assignPlan")
    // round 6: the assignment is a PER-ROW literal-matrix argmax riding
    // the scan — no join, no exchange, no aggregate (the former
    // crossJoin(broadcast)+HashAggregate emitted corpus×cells rows and
    // paid a broadcast build + argmax exchange per Lloyd iteration)
    assert(!assignPlan.contains("Join"),
      s"ivfAssign joins the centroid set instead of indexing a literal:\n$assignPlan")
    assert(!assignPlan.contains("Exchange"),
      s"ivfAssign pays an exchange for a per-row argmax:\n$assignPlan")
  }

  test("near-dup verify is shuffle-based: no driver collect of per-doc data in operators/") {
    // source-level gate (round-1 verdict #2): the dedup/similarity family
    // must never materialize per-document payloads on the driver
    // exemption: a collect may bring O(P) aggregate values (one per
    // partition — e.g. packSequences' prefix-sum totals) to the driver,
    // but each such line must carry an explicit `gate: O(P)` marker so
    // the exception is visible in the source next to its justification
    val opsDir = java.nio.file.Paths.get("src/main/scala/graft/operators")
    val offenders = java.nio.file.Files.list(opsDir).iterator()
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    while (offenders.hasNext) {
      val p = offenders.next()
      val lines = java.nio.file.Files.readAllLines(p)
      lines.forEach { l =>
        if (l.contains(".collect()") && !l.contains("gate: O(P)"))
          bad += p.getFileName.toString
      }
    }
    assert(bad.isEmpty, s"driver-side collect() in operators: $bad")
  }

  test("operators never unpersist an input a lazily-returned frame still needs") {
    // source-level gate (round-4 verdict #6, the q42 lesson: a builder
    // that unpersists before its lazy result is evaluated re-runs the
    // upstream under a DIFFERENT runtime layout — invisible at sf0.01,
    // wrong at sf0.1). Every `unpersist` in operators/ must sit on a line
    // carrying an explicit marker:
    //   `gate: pinned` — the builder eagerly pinned the dependent result
    //                    (localCheckpoint/collect) BEFORE the unpersist;
    //   `gate: lifecycle` — a caller-invoked cache-release method that no
    //                    lazy return value depends on (ArchiveDedupIndex).
    val opsDir = java.nio.file.Paths.get("src/main/scala/graft/operators")
    val files = java.nio.file.Files.list(opsDir).iterator()
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    while (files.hasNext) {
      val p = files.next()
      java.nio.file.Files.readAllLines(p).forEach { l =>
        if (l.contains(".unpersist(") && !l.contains("gate: pinned") &&
            !l.contains("gate: lifecycle"))
          bad += s"${p.getFileName}: ${l.trim.take(70)}"
      }
    }
    assert(bad.isEmpty, s"unmarked unpersist in operators (see q42 lesson): $bad")
  }

  test("corpus dim joins plan WITHOUT broadcast when the size-gate is off") {
    // guards the unbounded-dim escape hatch: with broadcastDims=false and
    // auto-broadcast disabled, the vocab/bigram dim joins must plan as
    // shuffled joins — no BroadcastExchange OOM path anywhere (the one
    // exception is lmPerplexity's single-row vocabulary scalar, which is
    // genuinely bounded and keeps its broadcast crossJoin)
    import spark.implicits._
    val docs = Seq(1L -> "a b a b c", 2L -> "a b x").toDF("doc_id", "text")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val tfidf = planOf(graft.operators.Corpus.tfidfTopK(docs, 3, 2L,
        broadcastDims = false))
      assert(!tfidf.contains("BroadcastExchange"),
        s"tfidf df-dim still broadcasts:\n$tfidf")
      val tfq = planOf(graft.operators.Corpus.termFreqQuality(docs,
        broadcastDims = false))
      assert(!tfq.contains("BroadcastExchange"),
        s"termFreq vocab dim still broadcasts:\n$tfq")
      val ppl = planOf(graft.operators.Corpus.lmPerplexity(docs,
        broadcastDims = false))
      assert(!ppl.contains("BroadcastHashJoin"),
        s"lmPerplexity bigram dim still hash-broadcasts:\n$ppl")
      assert("BroadcastExchange".r.findAllIn(ppl).length <= 1,
        s"more than the bounded scalar broadcast survives:\n$ppl")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("docs() reads only requested columns (wide-file column pruning)") {
    // build a tiny crawl, then check the session projection prunes spans
    val dir = java.nio.file.Files.createTempDirectory("graft-plan").toString
    val sim = new graft.fetch.FetchSim(chainLength = 3)
    val c = new graft.pipeline.Crawler(spark, dir, sim,
      graft.pipeline.CrawlConfig(4, 10, 100))
    c.addSeeds(Seq("http://chain.test/p/0"))
    c.round()
    val plan = planOf(c.sessions())
    assert(!plan.contains("spans"), s"sessions() scan reads spans:\n$plan")
  }
}
