package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One workload the client drives: `create` builds its tables under a
  * fresh directory, `iteration` runs one cycle or pass, `export` writes
  * what the correctness check reads. */
trait Workload {
  def create(dir: String): Unit
  def warmup(): Unit
  def iteration(): Unit
  def export(out: String): JValue
  /** Extra layer figures a traced run samples after each iteration. */
  def probe(): Map[String, Double]
}

/** The benchmark's JVM side. Reads the run config perfbench/run.py
  * wrote, sets up (several times; the last set-up is measured), warms
  * up, runs whole iterations until the time is spent, and writes
  * `result.json` for run.py to check and reduce. A traced run spends
  * the first half untraced and the second half with the Spark listeners
  * installed, so the tracing overhead is measured in the same JVM. */
object Main {
  def main(args: Array[String]): Unit = {
    implicit val formats: Formats = DefaultFormats
    val cfg = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(args(0))), "UTF-8"))
    val workload = (cfg \ "workload").extract[String]
    val seed = (cfg \ "seed").extract[Long]
    val seconds = (cfg \ "seconds").extract[Double]
    val traced = (cfg \ "trace").extract[Boolean]
    val cores = (cfg \ "cores").extract[Int]
    val data = (cfg \ "data").extract[String]
    val work = (cfg \ "work").extract[String]
    val reps = (cfg \ "setup_reps").extract[Int]

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.catalog.spark_catalog", "graft.sources.GraftCatalog")
      .config(graft.Tables.NanosConf, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val readyMs = System.currentTimeMillis()

    val client = new Client(spark, workload)
    val w: Workload = workload match {
      case "lakehouse_dml" => new Lakehouse(spark, client, data)
      case "curation_batch" => new Entries(spark, client, data, seed, Entries.curation)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def timed(f: => Unit): Double = { val t0 = Clock.nowMs; f; (Clock.nowMs - t0) / 1000.0 }
    val setupS = (0 until reps).map(r => timed(w.create(s"$work/setup$r")))
    client.phase = "warmup"
    val warmupS = timed(w.warmup())

    val probes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    /** Whole iterations until `s` seconds have passed: (seconds, iterations). */
    def runFor(s: Double): (Double, Int) = {
      val t0 = Clock.nowMs
      var n = 0
      do {
        w.iteration()
        n += 1
        if (client.phase == "traced") probes += w.probe()
      } while (Clock.nowMs - t0 < s * 1000)
      ((Clock.nowMs - t0) / 1000.0, n)
    }
    client.phase = "timed"
    val (timedS, timedIterations) = runFor(if (traced) seconds / 2 else seconds)
    val tracer = new Tracer
    val (tracedS, _) =
      if (!traced) (0.0, 0)
      else {
        tracer.install(spark)
        Trace.resetHeapPeak()
        client.phase = "traced"
        val s = runFor(seconds / 2)
        org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
        s
      }
    val heapPeakMb = Trace.heapPeakMb
    val peakRssMb = Trace.peakRssMb

    client.phase = "export"
    val exported = w.export(s"$work/check")
    val result = JObject(List(
      "workload" -> JString(workload), "seed" -> JInt(seed),
      "ready_ms" -> JInt(readyMs),
      "setup_s" -> JArray(setupS.toList.map(JDouble(_))),
      "warmup_s" -> JDouble(warmupS),
      "timed_s" -> JDouble(timedS), "timed_iterations" -> JInt(timedIterations),
      "traced_s" -> JDouble(tracedS),
      "peak_rss_mb" -> JDouble(peakRssMb), "heap_peak_mb" -> JDouble(heapPeakMb),
      "ops" -> JArray(client.ops.toList.map(_.json)),
      "probes" -> JArray(probes.toList.map(p => JObject(p.toList.map { case (k, v) => k -> JDouble(v) }))),
      "trace" -> (if (traced) tracer.json else JNull),
      "export" -> exported))
    Files.write(Paths.get(s"$work/result.json"),
      JsonMethods.compact(JsonMethods.render(result)).getBytes("UTF-8"))
    spark.stop()
  }
}
