package graft.engine

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine observability (crocus A27: per-class structured JSON logging,
  * base_scraper.py:37-51 → Spark-native QueryExecutionListener).
  *
  * Every completed query yields one structured record (action, duration,
  * rows-ish plan stats, outcome) — the operational feed a 1000-executor
  * deployment ships to its log pipeline instead of print statements.
  */
object Metrics {

  final case class QueryEvent(action: String, durationNs: Long,
      ok: Boolean, error: String, physicalPlanNodes: Int)

  final class RecordingListener extends QueryExecutionListener {
    val events = new ConcurrentLinkedQueue[QueryEvent]()

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      events.add(QueryEvent(funcName, durationNs, ok = true, null,
        qe.executedPlan.collect { case p => p }.size))

    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit =
      events.add(QueryEvent(funcName, 0L, ok = false,
        s"${exception.getClass.getSimpleName}: ${exception.getMessage}", 0))

    def drainJson(): Seq[String] = {
      val out = Seq.newBuilder[String]
      var e = events.poll()
      while (e != null) {
        out += s"""{"action":"${e.action}","duration_ms":${e.durationNs / 1000000},""" +
          s""""ok":${e.ok},"plan_nodes":${e.physicalPlanNodes}""" +
          (if (e.error == null) "}" else s""","error":"${e.error.replace("\"", "'")}"}""")
        e = events.poll()
      }
      out.result()
    }
  }

  def attach(spark: SparkSession): RecordingListener = {
    val l = new RecordingListener
    spark.listenerManager.register(l)
    l
  }

  final case class StageCounts(tasks: Long, shuffleWriteBytes: Long) {
    def -(o: StageCounts): StageCounts =
      StageCounts(tasks - o.tasks, shuffleWriteBytes - o.shuffleWriteBytes)
  }

  /** The one stage counter of the harness mains: completed tasks and
    * shuffle-write bytes of completed stages, context-wide. */
  final class StageCounter extends SparkListener {
    private val tasks = new AtomicLong()
    private val shuffleWrite = new AtomicLong()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      tasks.incrementAndGet()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      shuffleWrite.addAndGet(
        e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)

    private def now = StageCounts(tasks.get(), shuffleWrite.get())

    /** The listener bus is async: poll until both counts stop moving. */
    def settle(): StageCounts = {
      var prev = StageCounts(-1, -1); var cur = now
      while (cur != prev) { Thread.sleep(200); prev = cur; cur = now }
      cur
    }
  }

  def countStages(spark: SparkSession): StageCounter = {
    val c = new StageCounter
    spark.sparkContext.addSparkListener(c)
    c
  }
}
