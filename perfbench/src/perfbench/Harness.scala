package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds at nanosecond resolution, so benchmark spans line
  * up with the millisecond timestamps Spark's listeners report. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
}

/** One operation of the closed loop. `entry` names the catalogue entry
  * a query op ran; `phases` are the benchmark-side child spans. */
final class OpRecord(val id: Int, val kind: String, val entry: String) {
  var startNs = 0L
  var endNs = 0L
  var ok = true
  var error: String = null
  val phases = mutable.ArrayBuffer[(String, Long, Long)]()
  val extra = mutable.LinkedHashMap[String, Double]()

  def ms: Double = (endNs - startNs) / 1e6

  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases += ((name, t0, System.nanoTime()))
  }

  def toJson: String = Json.obj(
    "t" -> "op", "id" -> id, "kind" -> kind, "entry" -> entry,
    "start_ms" -> Clock.ms(startNs), "end_ms" -> Clock.ms(endNs), "ms" -> ms,
    "ok" -> ok, "error" -> Option(error),
    "phases" -> phases.map { case (n, a, b) =>
      Seq(n, Clock.ms(a), Clock.ms(b)) },
    "extra" -> extra)
}

/** Runs the closed loop's operations one at a time. Each op's Spark
  * jobs carry a job group naming the op. An op that throws, or whose
  * result fails its check, is recorded as failed: it never yields a
  * latency. */
final class Recorder(spark: SparkSession, val tracer: Option[Tracer]) {
  val ops = mutable.ArrayBuffer[OpRecord]()

  def run[T](kind: String, entry: String = null)(body: OpRecord => T)(
      check: T => Option[String]): Option[T] = {
    val rec = new OpRecord(Recorder.nextId.getAndIncrement(), kind, entry)
    val sc = spark.sparkContext
    sc.setJobGroup(Recorder.group(rec.id), kind, interruptOnCancel = false)
    tracer.foreach(_.beforeOp(rec))
    rec.startNs = System.nanoTime()
    val out = try Right(body(rec)) catch { case NonFatal(e) => Left(e) }
    rec.endNs = System.nanoTime()
    sc.clearJobGroup()
    tracer.foreach(_.afterOp(rec))
    val err = out match {
      case Left(e) => Some(s"${e.getClass.getName}: ${e.getMessage}")
      case Right(v) =>
        try check(v) catch { case NonFatal(e) => Some(s"check threw ${e}") }
    }
    err.foreach { m => rec.ok = false; rec.error = m.take(500) }
    ops += rec
    if (rec.ok) out.toOption else None
  }
}

object Recorder {
  /** Op ids, and so job groups, are unique across the run's recorders. */
  private val nextId = new java.util.concurrent.atomic.AtomicInteger()
  def group(id: Int): String = s"perfbench-op-$id"
}

/** Traced runs only: Spark job/stage events, per-action planning phases
  * and per-op JVM counters, all kept in memory and written out at the
  * end of the run. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val lines = new ConcurrentLinkedQueue[String]()
  private val jobsStarted = new AtomicLong()
  private val jobsEnded = new AtomicLong()
  private val events = new AtomicLong()

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  def beforeOp(rec: OpRecord): Unit = {
    rec.extra("codegen_compiles0") = CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble
    rec.extra("codegen_ns0") = CodeGenerator.compileTime.toDouble
    rec.extra("gc_ms0") = Jvm.gcMs.toDouble
  }

  def afterOp(rec: OpRecord): Unit = {
    def delta(k: String, now: Double): Unit =
      rec.extra(k) = now - rec.extra.remove(k + "0").getOrElse(now)
    delta("codegen_compiles", CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)
    delta("codegen_ns", CodeGenerator.compileTime.toDouble)
    delta("gc_ms", Jvm.gcMs.toDouble)
  }

  private def add(line: String): Unit = { lines.add(line); events.incrementAndGet() }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    add(Json.obj("t" -> "job_start", "job" -> e.jobId, "ms" -> e.time,
      "group" -> group, "stages" -> e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobsEnded.incrementAndGet()
    add(Json.obj("t" -> "job_end", "job" -> e.jobId, "ms" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val base = Seq[(String, Any)]("t" -> "stage", "stage" -> si.stageId,
      "attempt" -> si.attemptNumber(), "tasks" -> si.numTasks,
      "submit_ms" -> si.submissionTime, "done_ms" -> si.completionTime)
    val metrics: Seq[(String, Any)] =
      if (m == null) Nil
      else Seq("task_ms" -> m.executorRunTime,
        "shuffle_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "scan_bytes" -> m.inputMetrics.bytesRead,
        "scan_rows" -> m.inputMetrics.recordsRead)
    add(Json.obj(base ++ metrics: _*))
  }

  private def qe(func: String, q: QueryExecution, ok: Boolean): Unit = {
    val phases = q.tracker.phases.map { case (n, p) =>
      n -> Seq(p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
    add(Json.obj("t" -> "qe", "func" -> func, "ok" -> ok, "phases" -> phases))
  }

  override def onSuccess(func: String, q: QueryExecution, durationNs: Long): Unit =
    qe(func, q, ok = true)

  override def onFailure(func: String, q: QueryExecution, e: Exception): Unit =
    qe(func, q, ok = false)

  /** Waits until every started job has ended and no event arrived for
    * a quiet period, so the span file holds the whole run. */
  def settle(timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
      !(jobsEnded.get() >= jobsStarted.get() &&
        System.currentTimeMillis() - quietSince > 300)) {
      val n = events.get()
      if (n != last) { last = n; quietSince = System.currentTimeMillis() }
      Thread.sleep(20)
    }
  }

  def eventLines: Iterator[String] = lines.iterator().asScala
}

object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Used heap after full collections, in MiB. */
  def liveHeapMb(): Double = {
    (1 to 3).foreach(_ => System.gc())
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Wall time from JVM start, in seconds. */
  def sinceStartS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}

/** The engine runs checkpoints and index builds on its own background
  * threads (named `graft-*`). Draining waits, through the JVM's public
  * thread API, until each such thread is parked on its empty work queue
  * and no Spark job is active — work moved to the background is thus
  * still inside the timed region. */
object Maintenance {
  private def idle(spark: SparkSession): Boolean =
    spark.sparkContext.statusTracker.getActiveJobIds().isEmpty &&
      Thread.getAllStackTraces.asScala.forall { case (t, stack) =>
        !t.getName.startsWith("graft-") || stack.exists(f =>
          f.getMethodName == "take" && f.getClassName.endsWith("BlockingQueue"))
      }

  /** Blocks until idle (three consecutive idle polls); returns the
    * nanoseconds spent. Throws if the engine is still busy after
    * `timeoutS`. */
  def drain(spark: SparkSession, timeoutS: Double = 90): Long = {
    val t0 = System.nanoTime()
    var streak = 0
    while (streak < 3) {
      if ((System.nanoTime() - t0) / 1e9 > timeoutS)
        throw new IllegalStateException(s"background maintenance still busy after ${timeoutS}s")
      streak = if (idle(spark)) streak + 1 else 0
      if (streak < 3) Thread.sleep(2)
    }
    System.nanoTime() - t0
  }
}
