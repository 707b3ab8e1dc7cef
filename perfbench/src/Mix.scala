package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.core.Tables
import graft.queries.{Dialect, Entry}

/** The entry sample: declared entries of the modules the sync path never
  * touches, taken from their modules' entry lists and run on seeded
  * synthetic tables that the benchmark writes itself, in the fixture
  * tables' schemas (FIXTURES.md). Each entry's result is checked against
  * its `spark.sql` twin over the same tables (the SqlParitySpec contract). */
final class Mix(spark: SparkSession, dir: String, seed: Long) {
  import Mix._

  val sample: Seq[(String, Entry)] = Sample.map { case (layer, entries, name) =>
    layer -> entries.find(_.name == name).getOrElse(sys.error(s"declared entry $name not found"))
  }

  /** Write the tables the sample reads, and register them as views for the
    * twins. */
  def writeTables(): Unit = {
    Seq("documents" -> documents, "embeddings" -> embeddings, "events" -> events,
        "part" -> part).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      Tables(spark, dir, name).createOrReplaceTempView(name)
    }
  }

  /** One entry, collected: (seconds, columns, rows). */
  def run(e: Entry): (Double, Seq[String], Seq[Row]) = {
    val s = Clock.nowMs
    val df = e.fn(spark, dir)
    val rows = df.collect().toSeq
    ((Clock.nowMs - s) / 1000.0, df.columns.toSeq, rows)
  }

  /** The entry's `spark.sql` twin: (columns, rows). As in `SparkEntry`, an
    * entry without a Spark-dialect twin gets one bridged from its oracle. */
  def twin(e: Entry): (Seq[String], Seq[Row]) = {
    val df = spark.sql(e.sparkSqlOverride.getOrElse(Dialect.duckToSpark(e.oracle.get)))
    (df.columns.toSeq, df.collect().toSeq)
  }

  private def h(id: Column, slot: Int, m: Long): Column =
    pmod(xxhash64(id, lit(slot), lit(seed)), lit(m))
  private def pick(id: Column, slot: Int, words: Seq[String]): Column =
    element_at(array(words.map(lit): _*), (h(id, slot, words.size.toLong) + 1).cast("int"))

  private def documents: DataFrame = {
    val id = col("id")
    val vocab = (0 until 300).map(i => s"w$i") ++ Seq("data", "search", "index", "stream",
      "merge", "Spark", "HBase", "2024", "v1.2", "e-mail", "don't", "naïve")
    val words = (0 until 16).map(s => pick(id, s, vocab))
    val text = concat_ws(" ", slice(array(words: _*), lit(1), (h(id, 20, 13) + 4).cast("int")))
    spark.range(DocRows).select((id + 1).as("doc_id"), text.as("text"),
      pick(id, 21, Seq("en", "de", "fr", "es")).as("lang"),
      pick(id, 22, Seq("web", "news", "forum")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  private def embeddings: DataFrame = {
    val id = col("id")
    val v = array((0 until Dim).map(s => ((h(id, s, 2001) - 1000) / 1000.0).cast("float")): _*)
    spark.range(DocRows).select((id + 1).as("vec_id"),
      v.cast(ArrayType(FloatType, containsNull = true)).as("embedding"),
      h(id, 40, 10).cast("int").as("label"))
  }

  private def events: DataFrame = {
    val id = col("id")
    spark.range(EventRows).select((id + 1).as("event_id"),
      timestamp_micros(lit(1704067200000000L) + h(id, 0, 30L * 86400 * 1000000)).as("ts"),
      (h(id, 1, 500) + 1).as("user_id"),
      pick(id, 2, Seq("click", "view", "cart", "purchase", "search")).as("event_type"),
      (h(id, 3, 100000) / 100.0).as("value"),
      format_string("{\"page\":%d,\"ref\":\"r%d\"}", h(id, 4, 50), h(id, 5, 9)).as("props"))
  }

  private def part: DataFrame = {
    val id = col("id")
    val nameWords = Seq("bolt", "nut", "screw", "red", "rose", "green", "blue", "steel",
      "washer", "ring", "reel", "bracket")
    spark.range(PartRows).select((id + 1).as("p_partkey"),
      concat_ws(" ", (0 until 3).map(s => pick(id, s, nameWords)): _*).as("p_name"),
      format_string("Brand#%d", h(id, 3, 20) + 10).as("p_brand"),
      concat_ws(" ", pick(id, 4, Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")),
        pick(id, 5, Seq("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")),
        pick(id, 6, Seq("TIN", "NICKEL", "BRASS", "STEEL", "COPPER"))).as("p_type"),
      (h(id, 7, 50) + 1).cast("int").as("p_size"),
      (h(id, 8, 200000) / 100.0 + 900).as("p_retailprice"))
  }
}

object Mix {
  /** (layer, its module's entries, the declared entry): one per module. */
  private def Sample: Seq[(String, Seq[Entry], String)] = Seq(
    ("text", graft.text.Text.entries, "q63_top_tokens"),
    ("vector", graft.vector.Vectors.entries, "q62_cosine_topk"),
    ("multimodal", graft.multimodal.Multimodal.entries, "q73_mm_decode"),
    ("streaming", graft.streaming.Streams.entries, "q52_tumbling_window"),
    ("queries", graft.queries.Search.entries, "q280_query_string"))
  val Layers: Seq[String] = Sample.map(_._1)

  private val DocRows = 2000L
  private val EventRows = 4000L
  private val PartRows = 2000L
  private val Dim = 32
}
