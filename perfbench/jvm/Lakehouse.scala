package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._

import graft.etl.{LoadType, MedallionPipeline}
import graft.quality.{DataZone, Dimension, Rule}
import graft.sources.{MaterializedAgg, Scd2, TxLog}

/** lakehouse_dml: one client drives a fixed repeating cycle of commits
  * and reads against a TxLog-backed silver `claims` table and its two
  * followers (an aggregate view and an SCD2 history). The inputs of
  * every cycle come from the op script perfbench/gen.py wrote. */
final class Lakehouse(spark: SparkSession, client: Client, data: String)
    extends Workload {
  import Lakehouse._

  private val script: IndexedSeq[Map[String, JValue]] = {
    implicit val f: Formats = DefaultFormats
    org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(s"$data/script.json")), "UTF-8"))
      .extract[List[JObject]].map(_.obj.toMap).toIndexedSeq
  }
  private var root = ""
  private var pipeline: MedallionPipeline = _
  private var cycle = 0
  // the version the previous cycle's merge committed: the time-travel read's target
  private var asOf: (Int, Long) = (-1, 0L)

  private def silver = s"$root/silver/claims"
  private def mv = s"$root/gold/claims_by_supplier"
  private def scd = s"$root/gold/claims_history"

  private def str(c: Map[String, JValue], k: String): String = c(k).asInstanceOf[JString].s
  private def num(c: Map[String, JValue], k: String): Long = c(k) match {
    case JInt(v) => v.toLong
    case JLong(v) => v
    case v => throw new IllegalArgumentException(s"script field $k: $v")
  }

  def create(dir: String): Unit = {
    root = dir
    cycle = 0
    pipeline = new MedallionPipeline(spark, root, useTxLog = true, txStatsCols = Seq("id"))
    client.op("create_table", "setup", "txlog.commit") {
      val v = TxLog.commitOverwrite(spark, silver,
        spark.read.parquet(s"$data/initial.parquet"), statsCols = Seq("id"))
      asOf = (client.ops.size, v)
      Map("version" -> JInt(v))
    }
    client.op("create_mv", "setup", "txlog.commit") {
      MaterializedAgg.create(spark, silver, mv, Seq("l_suppkey"),
        sums = Seq("l_quantity"), mins = Seq("l_extendedprice"),
        maxs = Seq("l_extendedprice"))
      Map.empty
    }
    client.op("create_scd2", "setup", "txlog.commit") {
      Scd2.create(spark, silver, scd, Seq("id"))
      Map.empty
    }
  }

  /** A cycle with the first read of each kind only: the writes and every
    * read path warm up without spending the run on repeated reads. */
  def warmup(): Unit = cycleWith(WarmupReads)

  def iteration(): Unit = cycleWith(Int.MaxValue)

  private def cycleWith(maxReads: Int): Unit = {
    require(cycle < script.size, s"lakehouse_dml: op script has only ${script.size} cycles")
    val c = script(cycle)
    val d = str(c, "dir")
    // land the raw batch in the raw zone (a file copy, not an engine call)
    val raw = Paths.get(s"$root/raw/claims")
    deleteTree(raw)
    Files.createDirectories(raw)
    Files.list(Paths.get(s"$d/raw")).iterator().asScala.foreach(p =>
      Files.copy(p, raw.resolve(p.getFileName)))

    def write(name: String, layer: String)(f: => Long): Option[Long] =
      client.op(name, "write", layer) { val v = f; Map("version" -> JInt(v)) }
        .map(m => m("version").asInstanceOf[JInt].num.toLong)

    client.op("ingest", "write", "etl.runjob") {
      val r = pipeline.runJob(s"ingest_$cycle", "claims", DataZone.Raw,
        DataZone.Silver, LoadType.Append, rules = Rules, key = Seq("id"))
      require(r.status == "completed", s"ingest job ${r.status}: ${r.errorMessage}")
      Map("rows" -> JInt(r.recordsWritten), "read" -> JInt(r.recordsRead),
        "quarantined" -> JInt(r.recordsQuarantined))
    }
    val mergeOp = client.ops.size
    val merged = write("merge", "txlog.commit") {
      TxLog.merge(spark, silver, spark.read.parquet(s"$d/merge.parquet"),
        Seq("id"), statsCols = Seq("id"))
    }
    write("apply_changes", "txlog.commit") {
      TxLog.applyChanges(spark, silver, spark.read.parquet(s"$d/cdc.parquet"),
        Seq("id"), "_delete", statsCols = Seq("id"))
    }
    write("append", "txlog.commit") {
      TxLog.commitAppend(spark, silver, spark.read.parquet(s"$d/append.parquet"),
        statsCols = Seq("id"))
    }
    write("delete_mor", "txlog.commit") {
      TxLog.deleteMor(spark, silver, col("id") < lit(num(c, "delete_below")))
    }
    write("update_mor", "txlog.commit") {
      TxLog.updateMor(spark, silver,
        col("id").between(num(c, "update_lo"), num(c, "update_hi")),
        Map("l_discount" -> lit(0.0), "l_quantity" -> (col("l_quantity") + lit(1.0))),
        statsCols = Seq("id"))
    }
    write("mv_refresh", "txlog.commit")(MaterializedAgg.refresh(spark, mv))
    write("scd2_refresh", "txlog.commit")(Scd2.refresh(spark, scd))

    c("reads").asInstanceOf[JArray].arr.take(maxReads).foreach { case r: JObject =>
      val p = r.obj.toMap
      val (lo, hi) = (num(p, "lo"), num(p, "hi"))
      val bounds = Map[String, JValue]("lo" -> JInt(lo), "hi" -> JInt(hi))
      str(p, "op") match {
        case "count_where" => client.op("count_where", "read", "scan") {
          val n = TxLog.countWhere(spark, silver, Seq(("id", lo, hi)))
          bounds ++ Map("digest" -> JString(n.toString), "rows" -> JInt(1))
        }
        case name => client.op(name, "read", "scan") {
          val rows = TxLog.readPruned(spark, silver, "id", lo, hi)
            .filter(col("id").between(lo, hi)).select(Cols.map(col): _*).collect().toSeq
          bounds ++ Map("digest" -> JString(Trace.digest(rows)), "rows" -> JInt(rows.size))
        }
      }
    }
    val (srcOp, v) = asOf
    for (_ <- 0 until AsOfReads) client.op("read_as_of", "read", "scan") {
      val rows = TxLog.read(spark, silver, Some(v))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum("l_orderkey").as("s")).collect().toSeq
      Map("digest" -> JString(Trace.digest(rows)), "rows" -> JInt(rows.size),
        "as_of_op" -> JInt(srcOp), "version" -> JInt(v))
    }
    merged.foreach(m => asOf = (mergeOp, m))

    client.op("maintain", "write", "txlog.maintain") {
      val m = TxLog.maintain(spark, silver, statsCols = Seq("id"))
      Map("compacted" -> JBool(m.compacted), "version" -> JInt(m.version))
    }
    client.op("vacuum", "maint", "txlog.maintain") {
      Map("deleted" -> JInt(TxLog.vacuum(spark, silver, retainVersions = RetainVersions)))
    }
    cycle += 1
  }

  /** The final table and both followers, written as plain parquet for
    * the DuckDB replay check; also the table's layout facts. */
  def export(out: String): JValue = {
    TxLog.read(spark, silver).select(Cols.map(col): _*)
      .write.mode("overwrite").parquet(s"$out/final_table")
    TxLog.read(spark, mv).write.mode("overwrite").parquet(s"$out/final_mv")
    TxLog.read(spark, scd).filter(col(Scd2.IsCurrent)).select(Cols.map(col): _*)
      .write.mode("overwrite").parquet(s"$out/final_scd2_current")
    val snap = TxLog.snapshot(spark, silver)
    JObject(List("table_dir" -> JString(silver),
      "live_files" -> JInt(snap.files.size),
      "dv_files" -> JInt(snap.files.count(_.dv.nonEmpty)),
      "version" -> JInt(snap.version), "cycles" -> JInt(cycle)))
  }

  /** Time to resolve the table's head snapshot from its log (traced
    * runs only: the median of three resolutions after each cycle). */
  def probe(): Map[String, Double] = {
    val ms = (0 until 3).map { _ =>
      val t0 = Clock.nowMs
      TxLog.snapshot(spark, silver)
      Clock.nowMs - t0
    }.sorted
    Map("snapshot_ms" -> ms(1))
  }
}

object Lakehouse {
  val Cols: Seq[String] = Seq("id", "l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")
  /** Script reads in the warm-up cycle: one range, point lookup and count. */
  val WarmupReads = 3
  /** Time-travel scans per cycle. */
  val AsOfReads = 2
  /** Versions vacuum keeps: enough for the time-travel read of the
    * previous cycle's merge. */
  val RetainVersions = 16
  /** The quality gate on ingest: an out-of-range quantity fails an
    * Accuracy rule, so the batch's bad rows are quarantined. */
  val Rules: Seq[Rule] = Seq(
    Rule("LQ1", "quantity_in_range", Dimension.Accuracy, "critical",
      fails = col("l_quantity").isNull || col("l_quantity") < 1.0 ||
        col("l_quantity") > 50.0,
      failBelow = 0.99))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
}
