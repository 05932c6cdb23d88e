package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Per-host politeness token buckets — the north rule's generalization of
 * kraaler's 1-in-flight ready-token loop
 * (/root/reference/worker.go:1238-1253), in two forms with one
 * semantics:
 *
 *  - [[throttle]], a stateful streaming stage
 *    (`groupByKey(host).flatMapGroupsWithState`). State is keyed by HOST
 *    (a token bucket is a per-host invariant); only hosts seen in the
 *    current stream epoch hold state, [[PolitenessState]] is ~32 bytes,
 *    and at 10^8 hosts the key-state shards across executors by the
 *    groupByKey shuffle.
 *  - the crawl round's gate: [[flagAdmissionsWithMap]] (or the fused
 *    [[graft.frontier.Frontier.popSortedFifoFlagged]]) flags the pop
 *    against a token map, counts admitted rows per host through
 *    [[AdmittedCountsAcc]], and [[mergeAdmitted]] +
 *    [[writeStateParquet]] produce the next round's map and its durable
 *    copy `politeness/round-r`.
 *
 * Precondition of the round gate: the token map is driver-resident and
 * broadcast every gated round, so it costs O(hosts ever popped) of
 * driver memory (~32 B per host plus map overhead).
 *
 * Robots rules are not applied here: candidates are filtered by
 * `robots_allowed` in [[graft.frontier.Frontier.normalizeCandidates]]
 * (kraaler has no robots.txt handling — the Chromium fetch just
 * navigates, worker.go:580-584 — so the rule set is the engine's own,
 * fed by the deterministic synthetic web).
 */
object Politeness {

  /** Candidate URL entering the throttle, with its round and priority. */
  case class Candidate(url: String, host: String, round: Long, prio: Long)

  /** Token bucket per host: `tokens` available, `lastRound` of refill. */
  case class PolitenessState(tokens: Double, lastRound: Long)

  /**
   * Token-bucket throttle: each host earns `ratePerRound` fetch slots per
   * round (capped at `burst`); candidates beyond the budget are dropped
   * this epoch (they stay in the frontier — pop re-offers them next round).
   * Deterministic: candidates are admitted in (prio, url) order.
   */
  def throttle(ds: Dataset[Candidate], ratePerRound: Double, burst: Double)(
      implicit dummy: DummyImplicit): Dataset[Candidate] = {
    implicit val stateEnc = Encoders.product[PolitenessState]
    implicit val candEnc = Encoders.product[Candidate]
    implicit val strEnc = Encoders.STRING
    ds.groupByKey(_.host)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (host: String, it: Iterator[Candidate], state: GroupState[PolitenessState]) =>
          val cands = it.toArray.sortBy(c => (c.prio, c.url))
          if (cands.isEmpty) Iterator.empty
          else {
            val round = cands.map(_.round).max
            val st = state.getOption.getOrElse(PolitenessState(burst, round - 1))
            val refilled = math.min(burst,
              st.tokens + math.max(0L, round - st.lastRound) * ratePerRound)
            val admit = math.floor(refilled).toInt
            val out = cands.take(admit)
            state.update(PolitenessState(refilled - out.length, round))
            out.iterator
          }
      }
  }

  /**
   * Per-host admitted counts collected AS A SIDE OUTPUT of the pass that
   * flags the pop ([[graft.frontier.Frontier.popSortedFifoFlagged]] or
   * [[flagAdmissionsWithMap]]), an accumulator keyed by partitionId — the
   * gated round needs no `groupBy(host)` job over the pop output (a
   * full scan plus a shuffle, measured 5-7 s/round at local[32]). Keyed
   * by partition so recomputed partitions, task retries, and speculative
   * attempts stay idempotent: a partition's map is deterministic, and
   * re-adding it OVERWRITES rather than double-counts. Every offered
   * host appears (count 0 if all its offers were rejected), so
   * [[mergeAdmitted]] stamps `last_round` on exactly the hosts the round
   * offered.
   *
   * The cheap [[toString]] is LOAD-BEARING: Spark's AppStatusListener
   * stringifies every named accumulator's merged value ON EVERY TASK END
   * and retains the string per task — a raw 60k-host map of maps OOM'd
   * the driver through `LiveEntityHelpers.accuValuetoString` (measured).
   */
  final class AdmittedCounts extends Serializable {
    val byPartition =
      new java.util.HashMap[Integer, java.util.HashMap[String, java.lang.Long]]()
    override def toString: String = s"admitted-counts(${byPartition.size} partitions)"
    /** Flatten across partitions (each host lives in exactly one bucket
      * partition; summing is robustness, not semantics). */
    def flattened: java.util.HashMap[String, java.lang.Long] = {
      val flat = new java.util.HashMap[String, java.lang.Long]()
      byPartition.values.forEach(pm => pm.forEach((h, c) =>
        flat.merge(h, c, (a, b) => java.lang.Long.valueOf(a.longValue() + b.longValue()))))
      flat
    }
  }

  final class AdmittedCountsAcc extends org.apache.spark.util.AccumulatorV2[
      (Int, java.util.HashMap[String, java.lang.Long]), AdmittedCounts] {
    private val v = new AdmittedCounts
    override def isZero: Boolean = v.byPartition.isEmpty
    override def copy(): AdmittedCountsAcc = {
      val c = new AdmittedCountsAcc
      v.byPartition.forEach((k, m) => c.v.byPartition.put(k, new java.util.HashMap(m)))
      c
    }
    override def reset(): Unit = v.byPartition.clear()
    override def add(x: (Int, java.util.HashMap[String, java.lang.Long])): Unit =
      v.byPartition.put(x._1, x._2)
    override def merge(other: org.apache.spark.util.AccumulatorV2[
        (Int, java.util.HashMap[String, java.lang.Long]), AdmittedCounts]): Unit =
      other.value.byPartition.forEach((k, m) => v.byPartition.put(k, m))
    override def value: AdmittedCounts = v
    def flattened: java.util.HashMap[String, java.lang.Long] = v.flattened
  }

  /** The politeness-state file schema (host, tokens, last_round). */
  val stateSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("host", StringType, nullable = false),
      StructField("tokens", DoubleType, nullable = false),
      StructField("last_round", LongType, nullable = false)))
  }

  /**
   * Driver-side politeness-state parquet writer (one uncompressed file,
   * fixed name, through [[graft.sources.DirectParquet]]): the state table
   * is O(hosts) rows the DRIVER already holds, and writing it through a
   * 1-task Spark job queued the task behind whatever stage was running —
   * seconds of wall for ~2 MB of bytes. Deterministic bytes (rows sorted
   * by host, fixed writer config) keep torn-round replay byte-identical.
   * The previous content of `dir` (a torn round's) is replaced.
   */
  def writeStateParquet(spark: org.apache.spark.sql.SparkSession, dir: String,
      m: java.util.HashMap[String, (Double, Long)]): Unit = {
    import graft.sources.DirectParquet
    import scala.jdk.CollectionConverters._
    val settings = DirectParquet.Settings.resolve(spark, stateSchema,
      Map("compression" -> "uncompressed"))
    val hosts = m.keySet().asScala.toArray.sorted
    DirectParquet.writeDriverFile(dir, settings, hosts.iterator.map { h =>
      val (t, lr) = m.get(h)
      org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(h), t, lr)
    })
  }

  /** Read a state table written by [[writeStateParquet]] into the
    * driver-resident token map; an absent `dir` (no gated round wrote
    * it yet) is the empty map. */
  def readStateMap(spark: org.apache.spark.sql.SparkSession,
      dir: String): java.util.HashMap[String, (Double, Long)] = {
    val m = new java.util.HashMap[String, (Double, Long)]()
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
      spark.read.schema(stateSchema).parquet(dir).collect()
        .foreach(r => m.put(r.getString(0), (r.getDouble(1), r.getLong(2))))
    m
  }

  /** Next round's token map: every host in `counts` refills to
    * `roundId` and spends its admitted count; every other host carries
    * its entry unchanged and refills lazily on its next appearance
    * (rate × rounds-since-last is exactly the missed refill). `m` is not
    * modified. */
  def mergeAdmitted(m: java.util.HashMap[String, (Double, Long)],
      counts: java.util.HashMap[String, java.lang.Long], roundId: Long,
      ratePerRound: Double, burst: Double): java.util.HashMap[String, (Double, Long)] = {
    val merged = new java.util.HashMap[String, (Double, Long)](m)
    counts.forEach { (h, adm) =>
      merged.put(h,
        (refillAmount(merged.get(h), roundId, ratePerRound, burst) - adm.longValue(), roundId))
    }
    merged
  }

  /** A popped row entering the batch throttle (the pop stage's schema). */
  case class PopEntry(url: String, host: String, host_bucket: Int,
      depth: Int, discovered_at: Long)

  /** [[PopEntry]] plus its admission verdict. */
  case class FlaggedEntry(url: String, host: String, host_bucket: Int,
      depth: Int, discovered_at: Long, admit: Boolean)

  /** The refilled token balance for one host at `roundId` — the ONE
    * refill formula [[admitLimit]] and [[mergeAdmitted]] share (a host
    * with no entry starts full at `burst`). */
  def refillAmount(st: (Double, Long), roundId: Long,
      ratePerRound: Double, burst: Double): Double = {
    val (tok, last) = if (st == null) (burst, roundId - 1) else st
    math.min(burst, tok + math.max(0L, roundId - last) * ratePerRound)
  }

  /** The floor(tokens) admission limit for one host this round. */
  def admitLimit(st: (Double, Long), roundId: Long,
      ratePerRound: Double, burst: Double): Int =
    math.floor(refillAmount(st, roundId, ratePerRound, burst)).toInt

  /**
   * The SAME token-bucket semantics as [[throttle]], for a micro-batch
   * crawl round whose pop is not the fused sorted fifo walker: flag every
   * popped row with its admission verdict in ONE pass, no row dropped.
   * Per round each host refills `ratePerRound` (capped at `burst`) lazily
   * since its last appearance and admits `floor(tokens)` of its popped
   * rows in deterministic (depth, discovered_at, url) priority order; the
   * rest stay queued in the frontier (they were never marked visited).
   * The per-host admitted counts go to `admitAcc` (see
   * [[AdmittedCounts]]); [[mergeAdmitted]] turns them into the next
   * token map.
   *
   * Admission is a PER-HOST decision and the pop output is already
   * host-clustered (bucket files cluster by hash(host)), so the verdict
   * is computed PARTITION-LOCALLY against the broadcast token map, with
   * no shuffle or sort of the popped set on host (a window over host
   * measured ~+75 % round wall at local[32]).
   *
   * Precondition: `m` holds every host ever popped (~32 B per host) on
   * the driver and is broadcast once per round — O(hosts ever popped)
   * driver memory.
   */
  def flagAdmissionsWithMap(popped: org.apache.spark.sql.DataFrame,
      m: java.util.HashMap[String, (Double, Long)], roundId: Long,
      ratePerRound: Double, burst: Double,
      admitAcc: AdmittedCountsAcc): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val bc = popped.sparkSession.sparkContext.broadcast(m)
    implicit val enc = Encoders.product[FlaggedEntry]
    implicit val inEnc = Encoders.product[PopEntry]
    val cols = Seq("url", "host", "host_bucket", "depth", "discovered_at")
    popped.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .as[PopEntry]
      .mapPartitions { it =>
        // rows of a host live in ONE partition; group, then admit the
        // per-host floor(tokens) in (depth, discovered_at, url) order
        val byHost = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[PopEntry]]()
        it.foreach { e =>
          var b = byHost.get(e.host)
          if (b == null) { b = new scala.collection.mutable.ArrayBuffer[PopEntry](); byHost.put(e.host, b) }
          b += e
        }
        val counts = new java.util.HashMap[String, java.lang.Long](byHost.size * 2)
        byHost.forEach { (h, buf) =>
          counts.put(h, math.max(0, math.min(buf.length,
            admitLimit(bc.value.get(h), roundId, ratePerRound, burst))).toLong)
        }
        admitAcc.add((org.apache.spark.TaskContext.getPartitionId(), counts))
        import scala.jdk.CollectionConverters._
        byHost.entrySet().iterator().asScala.flatMap { en =>
          val admit = counts.get(en.getKey).intValue()
          val buf = en.getValue
          val flags: Iterator[(PopEntry, Boolean)] =
            if (admit >= buf.length) buf.iterator.map(_ -> true)
            else if (admit <= 0) buf.iterator.map(_ -> false)
            else buf.sortInPlace()(
              Ordering.by((e: PopEntry) => (e.depth, e.discovered_at, e.url)))
              .iterator.zipWithIndex.map { case (e, i) => e -> (i < admit) }
          flags.map { case (e, a) =>
            FlaggedEntry(e.url, e.host, e.host_bucket, e.depth, e.discovered_at, a) }
        }
      }
      .toDF()
      .select((popped.columns.toIndexedSeq :+ "admit").map(col): _*)
  }
}
