package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.json4s._

import graft.SparkEntry

/** curation_batch: one client runs a set of the engine's declared
  * entries (`SparkEntry.queries`) in a seed-shuffled order, and the set
  * repeats. A read collects the entry's result; a
  * write persists it as parquet under `<dir>/out/<entry>`. Each op
  * records the rows of the table the entry consumes (`input_rows`). */
final class Entries(spark: SparkSession, client: Client, data: String,
    seed: Long, entries: Seq[(String, String, String, String)]) extends Workload {
  private val order = new scala.util.Random(seed).shuffle(entries)
  private var root = ""
  private var tableRows = Map.empty[String, Long]
  // the last result of each read entry: the correctness check's input
  private val lastRead = scala.collection.mutable.Map.empty[String, (StructType, Seq[Row])]

  def create(dir: String): Unit = {
    root = dir
    client.op("load_tables", "setup", "sources") {
      tableRows = graft.Tables.all.map(t => t -> spark.read.parquet(s"$data/$t.parquet").count()).toMap
      Map("rows" -> JInt(tableRows.values.sum))
    }
  }

  /** Two passes: after one, the first timed pass still ran slower. */
  def warmup(): Unit = { iteration(); iteration() }

  def iteration(): Unit = order.foreach { case (name, kind, layer, input) =>
    val fn = SparkEntry.queries(name)
    client.op(name, kind, layer) {
      val df = fn(spark, data)
      val consumed = Map[String, JValue]("input_rows" -> JInt(tableRows(input)))
      try {
        if (kind == "read") {
          val rows = df.collect().toSeq
          lastRead(name) = (df.schema, rows)
          consumed + ("rows" -> JInt(rows.size))
        } else {
          df.write.mode("overwrite").parquet(s"$root/out/$name")
          consumed
        }
      } finally graft.operators.Dedup.release(df)
    }
  }

  /** Each entry's last result as parquet under `out` (writes are already
    * there), plus the oracle SQL of the entries that have one. */
  def export(out: String): JValue = {
    lastRead.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$name")
    }
    val oracle = SparkEntry.oracleSql
    JObject(List(
      "outputs" -> JObject(order.toList.map { case (n, kind, _, _) =>
        n -> JString(if (kind == "read") s"$out/$n" else s"$root/out/$n")
      }),
      "oracle_sql" -> JObject(order.toList.flatMap { case (n, _, _, _) =>
        oracle.get(n).map(sql => n -> JString(sql))
      })))
  }

  def probe(): Map[String, Double] = Map.empty
}

object Entries {
  /** One LLM-data operator entry per operator family, tagged with the
    * family and the table it consumes. Corpus transforms persist their
    * curated output (writes); the entries that answer a question about
    * the corpus are reads. */
  val curation: Seq[(String, String, String, String)] = Seq(
    ("dedup_ngram_jaccard", "write", "operators.dedup", "documents"),
    ("decon_near", "read", "operators.decon", "documents"),
    ("search_bm25", "read", "operators.search", "documents"),
    ("semdedup_seeded", "write", "operators.similarity", "embeddings"),
    ("text_quality_score", "write", "operators.text", "documents"),
    ("pack_tokens", "write", "operators.tokenize", "documents"),
    ("er_fuzzy_match", "read", "operators.fuzzy", "customer"),
    ("pii_redact", "write", "operators.curation", "documents"))
}
