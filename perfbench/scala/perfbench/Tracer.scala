package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work of one span: jobs, stages and task metrics. */
final class Work {
  var jobs, stages, tasks = 0L
  var busyMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  var scanBytes, scanRecords, scanMs = 0L
}

/** Listeners of the traced run, registered from outside the engine.
  * Callbacks run on listener-bus threads; read the totals only after
  * the bus is drained (`SparkInternals.drainListeners`).
  *
  * Jobs are attributed to the span named by the local property
  * [[Pipeline.SpanKey]] at job start, and tasks to their stage's job.
  * Writes are seen through a query-execution listener: those under
  * `outDir` are the harness's own terminal writes (their executed plan
  * size is recorded per step); every other write is the program's own
  * store or sink write. */
final class Tracer(outDir: String) extends SparkListener {
  val bySpan = mutable.Map.empty[Int, Work]
  private val stageSpan = mutable.Map.empty[Int, Int]
  val batchMs = mutable.ArrayBuffer.empty[Long]
  var streamRows = 0L
  var writeBytes, writeFiles = 0L
  val planChars = mutable.Map.empty[String, Long]

  private def work(span: Int): Work = bySpan.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Pipeline.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    work(span).jobs += 1
    e.stageInfos.foreach(s => stageSpan(s.stageId) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    work(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val w = work(stageSpan.getOrElse(e.stageId, -1))
    w.tasks += 1
    w.busyMs += m.executorRunTime
    w.gcMs += m.jvmGCTime
    w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
    w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    w.spill += m.diskBytesSpilled
    if (m.inputMetrics.recordsRead > 0) {
      w.scanBytes += m.inputMetrics.bytesRead
      w.scanRecords += m.inputMetrics.recordsRead
      w.scanMs += m.executorRunTime
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      batchMs += e.progress.batchDuration
      streamRows += e.progress.numInputRows
    }
  }

  // a write is found at the plan's top or inside an adaptive plan
  private val writes = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
      collectFirst(qe.executedPlan) { case w: DataWritingCommandExec => w }.foreach { w =>
        val path = w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
          case _ => ""
        }
        if (path.contains(outDir)) {
          planChars(path.substring(path.lastIndexOf('/') + 1)) = qe.executedPlan.treeString.length
        } else {
          writeBytes += w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
          writeFiles += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }
      }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streams)
    spark.listenerManager.register(writes)
  }
}
