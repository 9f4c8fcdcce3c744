package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw events of the traced run, gathered by listeners registered from
  * outside the program. Every record carries wall-clock milliseconds so the
  * harness can attribute it to the span (and op) it happened in.
  */
final class Probe(spark: SparkSession) {
  import Probe._

  val jobs = ArrayBuffer.empty[Job]
  val tasks = ArrayBuffer.empty[Task]
  val phases = ArrayBuffer.empty[Phase]
  val batches = ArrayBuffer.empty[Batch]
  private val jobStarts = scala.collection.mutable.Map.empty[Int, (Long, String)]
  val otherSites = scala.collection.mutable.Set.empty[String]
  private val execSites = scala.collection.mutable.Map.empty[Long, String]

  private val callSiteFile = """ at ([A-Za-z0-9_$]+\.scala)""".r.unanchored

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => synchronized { execSites(x.executionId) = x.description }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // a SQL job carries its execution's user call site, e.g. "save at
      // Writer.scala:251", also when adaptive execution submits it from a
      // pool thread; other jobs name their result stage after it
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execSites.get(id.toLong))
      val site = exec.getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      val file = site match {
        case callSiteFile(f) => f
        case _ if site.contains("\nrunId = ") => "stream_batch" // a streaming micro-batch
        case _ => otherSites += site; "other"
      }
      jobStarts(e.jobId) = (e.time, file)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (t0, f) => jobs += Job(t0, e.time, f) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null) {
        val sched = (i.finishTime - i.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime
        tasks += Task(e.stageId, e.stageAttemptId, i.launchTime, i.finishTime,
          m.executorCpuTime, math.max(0L, sched),
          m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
          !i.successful || i.attemptNumber > 0)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += Phase(name, p.startTimeMs, p.endTimeMs)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      val started = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches += Batch(started + p.batchDuration, p.batchDuration,
        p.stateOperators.map(_.commitTimeMs).sum, p.stateOperators.map(_.numRowsTotal).sum)
    }
  }

  // JVM-wide Janino and GC totals, summed over the windows of `window`
  var codegenSeconds = 0.0
  var codegenClasses = 0L
  var gcSeconds = 0.0

  /** Runs `body`, adding the compile time, compiled classes and GC time
    * the JVM spent meanwhile. */
  def window[T](body: => T): T = {
    val c0 = CodeGenerator.compileTime
    val k0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val g0 = Host.gcSeconds()
    try body finally {
      codegenSeconds += (CodeGenerator.compileTime - c0) / 1e9
      codegenClasses += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - k0
      gcSeconds += Host.gcSeconds() - g0
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Deliver every pending event, then stop listening. */
  def stop(): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
  }
}

object Probe {
  final case class Job(start: Long, end: Long, file: String)
  final case class Task(stage: Int, stageAttempt: Int, launch: Long, finish: Long,
      cpuNs: Long, schedMs: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long, inputBytes: Long, outputBytes: Long, failed: Boolean)
  final case class Phase(name: String, start: Long, end: Long)
  final case class Batch(end: Long, durationMs: Long, commitMs: Long, stateRows: Long)
}
