package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._

/** Wall clock in epoch milliseconds with nanosecond resolution, so the
  * benchmark's op spans line up with Spark's millisecond event times. */
object Clock {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One call into the engine by the benchmark's client. */
final case class Op(id: Int, name: String, kind: String, layer: String,
    phase: String, startMs: Double, endMs: Double, ok: Boolean,
    error: String, gcMs: Long, info: Map[String, JValue]) {
  def json: JValue = JObject(List(
    "id" -> JInt(id), "name" -> JString(name), "kind" -> JString(kind),
    "layer" -> JString(layer), "phase" -> JString(phase),
    "start_ms" -> JDouble(startMs), "end_ms" -> JDouble(endMs),
    "ok" -> JBool(ok), "error" -> JString(error), "gc_ms" -> JInt(gcMs),
    "info" -> JObject(info.toList)))
}

/** The closed-loop client: runs one op at a time, times it, and
  * records failures instead of timing them. Every Spark job an op
  * starts carries the op id as the `perfbench.op` local property. */
final class Client(spark: SparkSession, workload: String) {
  val ops = ArrayBuffer.empty[Op]
  var phase = "setup"
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Run `body` as op `name`; `body` returns the op's own facts
    * (rows, versions, digests). None when it threw. */
  def op(name: String, kind: String, layer: String)
      (body: => Map[String, JValue]): Option[Map[String, JValue]] = {
    val id = ops.size
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.op", id.toString)
    val g0 = gcMs
    val t0 = Clock.nowMs
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val t1 = Clock.nowMs
    sc.setLocalProperty("perfbench.op", null)
    val rec = res match {
      case Right(info) =>
        Op(id, name, kind, layer, phase, t0, t1, ok = true, "", gcMs - g0, info)
      case Left(e) =>
        System.err.println(s"[perfbench] FAILED workload=$workload op=$name " +
          s"exception=${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        Op(id, name, kind, layer, phase, t0, t1, ok = false,
          e.getClass.getName, gcMs - g0, Map.empty)
    }
    ops += rec
    res.toOption
  }
}

/** Spark-side trace: job, stage and task events from a SparkListener
  * and per-action planning figures from a QueryExecutionListener. Events
  * are kept in memory and written out when the run ends. */
final class Tracer extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val jobs = ArrayBuffer.empty[JValue]
  private val stages = ArrayBuffer.empty[JValue]
  private val actions = ArrayBuffer.empty[JValue]
  private val jobOp = scala.collection.mutable.Map.empty[Int, String]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val jobStart = scala.collection.mutable.Map.empty[Int, JObject]
  private val schedDelayMs = scala.collection.mutable.Map.empty[Int, Long]
  // SQL execution id -> the first engine frame on the stack that started it
  private val execSite = scala.collection.mutable.Map.empty[String, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      execSite(x.executionId.toString) = x.details.split("\n").map(_.trim)
        .find(f => f.nonEmpty && !f.startsWith("org.apache.spark") &&
          !f.startsWith("scala.") && !f.startsWith("java."))
        .getOrElse("")
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty("perfbench.op"))).getOrElse("")
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    // AQE submits query-stage jobs from its own threads, so the stage's
    // call site names a JDK frame; the SQL execution's stack names the
    // engine code that ran the action
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(execSite.get)
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    jobOp(e.jobId) = op
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    jobStart(e.jobId) = JObject(List("job" -> JInt(e.jobId), "op" -> JString(op),
      "start_ms" -> JInt(e.time), "desc" -> JString(desc), "site" -> JString(site)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { j =>
      jobs += JObject(j.obj ++ List("end_ms" -> JInt(e.time),
        "ok" -> JBool(e.jobResult == JobSucceeded)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      val delay = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
      schedDelayMs(e.stageId) = schedDelayMs.getOrElse(e.stageId, 0L) + math.max(delay, 0L)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    val job = stageJob.getOrElse(s.stageId, -1)
    def n(x: Long) = JInt(x)
    stages += JObject(List(
      "stage" -> JInt(s.stageId), "job" -> JInt(job),
      "op" -> JString(jobOp.getOrElse(job, "")),
      "start_ms" -> JInt(BigInt(s.submissionTime.getOrElse(0L): Long)),
      "end_ms" -> JInt(BigInt(s.completionTime.getOrElse(0L): Long)),
      "tasks" -> JInt(s.numTasks),
      "run_ms" -> n(if (m == null) 0 else m.executorRunTime),
      "cpu_ns" -> n(if (m == null) 0 else m.executorCpuTime),
      "gc_ms" -> n(if (m == null) 0 else m.jvmGCTime),
      "input_bytes" -> n(if (m == null) 0 else m.inputMetrics.bytesRead),
      "input_records" -> n(if (m == null) 0 else m.inputMetrics.recordsRead),
      "shuffle_write_bytes" -> n(if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten),
      "shuffle_read_bytes" -> n(if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead),
      "spill_bytes" -> n(if (m == null) 0 else m.memoryBytesSpilled + m.diskBytesSpilled),
      "output_bytes" -> n(if (m == null) 0 else m.outputMetrics.bytesWritten),
      "sched_delay_ms" -> n(schedDelayMs.remove(s.stageId).getOrElse(0L))))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    action(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    action(funcName, qe, ok = false)

  private def action(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.toList.map { case (k, p) =>
      k -> JObject(List("start_ms" -> JInt(p.startTimeMs), "end_ms" -> JInt(p.endTimeMs)))
    }
    val plan: SparkPlan = qe.executedPlan
    val exchanges = try collectWithSubqueries(plan) { case x: Exchange => x }.size
      catch { case NonFatal(_) => -1 }
    def metric(p: SparkPlan, k: String): Long =
      p.metrics.get(k).map(_.value).getOrElse(0L)
    val scans = try collectWithSubqueries(plan) {
      case s: FileSourceScanExec => (metric(s, "numFiles"), metric(s, "filesSize"), metric(s, "numOutputRows"))
      case s: RowDataSourceScanExec => (0L, 0L, metric(s, "numOutputRows"))
    } catch { case NonFatal(_) => Nil }
    synchronized {
      actions += JObject(List(
        "func" -> JString(funcName), "ok" -> JBool(ok),
        "phases" -> JObject(phases), "exchanges" -> JInt(exchanges),
        "scan_files" -> JInt(scans.map(_._1).sum),
        "scan_bytes" -> JInt(scans.map(_._2).sum),
        "scan_rows" -> JInt(scans.map(_._3).sum)))
    }
  }

  def json: JValue = synchronized {
    JObject(List("jobs" -> JArray(jobs.toList), "stages" -> JArray(stages.toList),
      "actions" -> JArray(actions.toList)))
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
}

object Trace {
  /** Heap pools' peak use since the last reset, in MiB. */
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0) finally src.close()
  }

  /** Order-independent digest of a result: row count plus the sum of
    * per-row hashes over a canonical text form of each cell (doubles
    * by their IEEE bits). perfbench/check.py computes the same digest
    * from DuckDB rows. */
  def digest(rows: Seq[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var acc = BigInt(0)
    rows.foreach { r =>
      val txt = (0 until r.length).map(i => cell(r.get(i))).mkString("\u001f")
      val h = md.digest(txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      acc += BigInt(1, h.take(8))
    }
    s"${rows.size}:${(acc % (BigInt(1) << 64)).toString(16)}"
  }

  private def cell(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case b: Boolean => if (b) "true" else "false"
    case x => x.toString
  }
}
