package perfbench

import org.apache.spark.scheduler._

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** One timed interval. `kind` is workload, round, query, job, stage or
  * micro; `parent` names the enclosing span. Times are epoch milliseconds. */
final case class Span(name: String, kind: String, startMs: Double, endMs: Double,
    parent: String, attrs: Map[String, Any] = Map.empty)

/** A completed stage, tagged with the job group of the job that ran it. */
final case class StageRec(group: String, jobId: Int, stageId: Int, name: String,
    details: String, submitMs: Long, endMs: Long, numTasks: Int, cpuNs: Long,
    gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    taskMs: Seq[Long])

final case class JobRec(group: String, jobId: Int, startMs: Long, endMs: Long)

/** Records jobs, stages and task durations by job group. The benchmark
  * sets a job group around each round or query, so every Spark job the
  * call starts (also from threads it spawns, which inherit the group) is
  * attributed to it. Nothing is aggregated on the listener thread. */
final class StageListener extends SparkListener {
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  private val execDetails = new ConcurrentHashMap[Long, String]()
  private val jobDetails = new ConcurrentHashMap[Int, String]()

  /** The call stack of the DataFrame action behind each SQL execution: the
    * stages adaptive execution submits from its own threads carry the
    * execution id, not the caller's stack. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execDetails.put(s.executionId, s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    jobGroup.put(e.jobId, prop("spark.jobGroup.id").getOrElse(""))
    prop("spark.sql.execution.id").flatMap(id => Option(execDetails.get(id.toLong)))
      .foreach(d => jobDetails.put(e.jobId, d))
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.add(JobRec(jobGroup.getOrDefault(e.jobId, ""), e.jobId,
      jobStart.getOrDefault(e.jobId, e.time), e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null)
      tasks.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val job = stageJob.getOrDefault(i.stageId, -1)
    val m = i.taskMetrics
    val ts = Option(tasks.remove(i.stageId)).map(_.asScala.toSeq).getOrElse(Seq.empty)
    stages.add(StageRec(jobGroup.getOrDefault(job, ""), job, i.stageId,
      i.name, jobDetails.getOrDefault(job, i.details), i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), i.numTasks,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled, ts))
  }

  def jobsOf(group: String): Seq[JobRec] = jobs.asScala.filter(_.group == group).toSeq
  def stagesOf(group: String): Seq[StageRec] = stages.asScala.filter(_.group == group).toSeq
  def allJobs: Seq[JobRec] = jobs.asScala.toSeq
  def allStages: Seq[StageRec] = stages.asScala.toSeq
}

object Trace {
  /** Crawl-round phase of a stage, by the code that started its action:
    * the seen-archive append runs on a thread of its own, the candidate
    * merge and pool rewrite inside `IcebergishTable.commit`, and everything
    * else `Crawler.round` starts (pool read, pop → fetch → correlate →
    * docs write) is the first phase. */
  def phaseOf(s: StageRec): String =
    if (s.details.contains("java.lang.Thread.run")) "seen_append"
    else if (s.details.contains("IcebergishTable.commit")) "commit"
    else "pop_fetch_docs"

  /** Length of the union of the given [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 >= x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }

  /** Longest task over the median task of the phase's longest stage. */
  def taskSkew(ss: Seq[StageRec]): Double = {
    val st = ss.filter(_.taskMs.size > 1)
    if (st.isEmpty) 1.0
    else {
      val longest = st.maxBy(s => s.endMs - s.submitMs)
      val sorted = longest.taskMs.sorted
      val med = math.max(1L, sorted(sorted.size / 2))
      sorted.last.toDouble / med
    }
  }

  def renderSpans(spans: Seq[Span]): String =
    spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => Json.str(k) + ":" + Json.any(v) }
        .mkString("{", ",", "}")
      s"""{"name":${Json.str(s.name)},"kind":${Json.str(s.kind)},""" +
        s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)},""" +
        s""""parent":${Json.str(s.parent)},"attrs":$attrs}"""
    }.mkString("", "\n", "\n")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def any(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + any(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(any).mkString("[", ",", "]")
    case null => "null"
    case o => str(o.toString)
  }
}
