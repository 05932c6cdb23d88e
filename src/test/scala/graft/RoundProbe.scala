package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Records what the jobs of one block of code did: the physical plan of
  * every SQL execution it started and the shuffle records its tasks
  * wrote. */
final class RoundProbe(spark: SparkSession) extends SparkListener {
  private val planQ = new ConcurrentLinkedQueue[SparkPlanInfo]()
  private val records = new AtomicLong()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => planQ.add(s.sparkPlanInfo)
    case _ =>
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (t.taskMetrics != null)
      records.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)

  def plans: Seq[SparkPlanInfo] = planQ.asScala.toSeq
  def shuffleRecordsWritten: Long = records.get()

  /** Run `body` with this probe listening to its events only. */
  def during[T](body: => T): T = {
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(this)
    try body
    finally {
      org.apache.spark.ListenerDrain(sc)
      sc.removeSparkListener(this)
    }
  }
}

object RoundProbe {
  /** Every node of a plan tree, root first. */
  def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)
}
