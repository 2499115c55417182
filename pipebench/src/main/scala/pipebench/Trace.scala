package pipebench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Highest heap the program keeps: heap in use after a full collection,
  * sampled at the end of set-up and of every operation, over the whole JVM
  * (driver and local-mode executors share it). Spark frees the blocks of
  * unreferenced checkpoints asynchronously once a collection finds them, so
  * a sample collects, lets that cleanup run, and collects again. A peak
  * taken over ordinary collections instead moved by 14% from run to run
  * with when the collector happened to run.
  */
object HeapWatch {
  private var peakBytes = 0L

  def sample(): Unit = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    peakBytes = math.max(peakBytes,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peakBytes / 1048576.0

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
}

object Tracer {
  private final class Job(val submit: Long, val execId: Long) {
    var end = 0L
    var tasks = 0L
    var runMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var records = 0L
  }
  private final class Span(val layer: String, val start: Long) {
    var end = Long.MaxValue
    var buildMs = 0L
  }
}

/** Attributes Spark work to the program's layers.
  *
  * Operator chains: the benchmark opens a span named after the module it
  * calls ([[span]]); every job submitted inside the span belongs to it.
  * X12: `X12Pipeline.run` is one call, so each SQL execution is attributed
  * by the store sink its plan writes (or, failing that, reads); jobs of an
  * unattributed execution count only towards the `spark.*` totals.
  */
final class Tracer(spark: SparkSession, x12Sink: String => Option[String])
    extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val execLayer = mutable.Map[Long, String]()
  private val execStart = mutable.Map[Long, Long]()
  private val execWallMs = mutable.Map[String, Long]().withDefaultValue(0L)
  private val spans = mutable.ArrayBuffer[Span]()
  private var planMs = 0L

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Run `body` as work of `layer`. */
  def span[T](layer: String)(body: => T): T = {
    val s = new Span(layer, System.currentTimeMillis())
    synchronized(spans += s)
    try body finally s.end = System.currentTimeMillis()
  }

  /** Time spent constructing a DataFrame inside the open span. */
  def build[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally {
      val ms = (System.nanoTime() - t0) / 1000000L
      synchronized(spans.lastOption.foreach(_.buildMs += ms))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = new Job(e.time, exec)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.records += m.outputMetrics.recordsWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      // a nested execution (the query under a write command) belongs to
      // its root's sink
      s.rootExecutionId.filter(_ != s.executionId).flatMap(execLayer.get)
        .orElse(x12Sink(s.physicalPlanDescription))
        .foreach(execLayer(s.executionId) = _)
      if (s.rootExecutionId.forall(_ == s.executionId))
        execStart(s.executionId) = s.time
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      for (t0 <- execStart.remove(s.executionId); l <- execLayer.get(s.executionId))
        execWallMs(l) += s.time - t0
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { planMs += qe.tracker.phases.values.map(_.durationMs).sum }

  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()

  private def layerOf(j: Job): Option[String] =
    execLayer.get(j.execId).orElse(
      spans.find(s => j.submit >= s.start && j.submit <= s.end).map(_.layer)
        .filterNot(_ == "x12"))

  /** Per-layer figures plus the run's `spark.*` totals. `wallS` and
    * `slots` give the executor busy share.
    */
  def report(wallS: Double, slots: Int): Map[String, Double] = {
    org.apache.spark.pipebench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    synchronized {
      val out = mutable.LinkedHashMap[String, Double]()
      def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
      for (j <- jobs.values) {
        layerOf(j).foreach { l =>
          add(s"$l.jobs", 1)
          add(s"$l.tasks", j.tasks)
          add(s"$l.exec_s", math.max(0L, j.end - j.submit) / 1000.0)
          add(s"$l.executor_s", j.runMs / 1000.0)
          add(s"$l.shuffle_mb", j.shuffleBytes / 1048576.0)
          add(s"$l.rows_out", j.records)
        }
        add("spark.jobs", 1)
        add("spark.executor_s", j.runMs / 1000.0)
        add("spark.spill_mb", j.spillBytes / 1048576.0)
      }
      for ((l, ms) <- execWallMs) add(s"$l.wall_s", ms / 1000.0)
      for (s <- spans if s.layer != "x12") {
        add(s"${s.layer}.wall_s", (s.end - s.start) / 1000.0)
        add(s"${s.layer}.build_s", s.buildMs / 1000.0)
      }
      add("spark.plan_s", planMs / 1000.0)
      add("spark.busy_share",
        out.getOrElse("spark.executor_s", 0.0) / (wallS * slots))
      out.toMap
    }
  }
}
