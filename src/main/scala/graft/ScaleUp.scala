package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables

/** SCALE.md's second scale point (VERDICT r17 #5): fabricate an sf-N×
  * fixture from a driver fixture by key-shifted replication, so the 2×
  * bench contract — only ever exercised at sf0.1 — gets one measured
  * 10× point (`/tmp/sf1`). Measurement harness only: correctness stays
  * gated on the driver's own fixtures.
  *
  * Replication law: `copies` key-shifted unions per fact table; the two
  * fixed dimensions (region/nation) copy once, TPC-H style. Key shifts
  * are per key DOMAIN and consistent across tables (custkey shift ==
  * user_id shift, doc_id shift == vec_id shift) so every declared join
  * stays referentially intact; shift units are multiples of 20 so the
  * id-modular fabrication seams (host = (id div 4) % 5, the media
  * congruences) keep their distributions.
  *
  * Document text in copies > 0 is a per-copy deterministic STRIDE
  * PERMUTATION of the token sequence (plus a copy marker token): copies
  * must NOT be cross-copy near-duplicates — a mere suffix would leave
  * cross-copy Jaccard ≈ 1 and grow every near-dup cluster (hence its
  * pair count, quadratically) with the copy count, a workload shape the
  * driver's own larger fixtures don't contain. The same permutation
  * applies to every doc of a copy, so WITHIN-copy duplicate structure
  * survives: exact dups stay exact, same-length near-dups keep their
  * shared shingles (positions permute identically), and token-level
  * stats (counts, stopword ratios, language profile) are unchanged;
  * cross-copy 3-shingle overlap collapses to noise.
  *
  * Usage: `runMain graft.ScaleUp <srcDir> <outDir> [copies=10]`.
  */
object ScaleUp {

  /** Whitespace-token stride permutation for copy `i`: out[j] =
    * toks[(j * s) mod n] with s the first candidate stride coprime to n
    * — a bijection, so the token MULTISET (and every per-token stat) is
    * preserved while adjacency (hence every k-shingle) scrambles. */
  private[graft] def permuteTokens(text: String, i: Int): String = {
    val toks = text.split("\\s+").filter(_.nonEmpty)
    val n = toks.length
    if (n < 2) return text
    var s = Seq(3, 5, 7, 11, 13, 17, 19, 23, 29)(((i - 1) % 9 + 9) % 9)
    while (BigInt(s).gcd(BigInt(n)) != 1) s += 1
    Array.tabulate(n)(j => toks((j.toLong * s % n).toInt)).mkString(" ")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp <srcDir> <outDir> [copies]")
    val src = args(0); val out = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)

    // key-domain shift units (multiples of 20; far above any fixture key)
    val CUST = 10000000L   // c_custkey, o_custkey, user_id
    val ORD = 100000000L   // o_orderkey, l_orderkey
    val PART = 10000000L   // p_partkey, l_partkey
    val SUPP = 1000000L    // s_suppkey, l_suppkey
    val DOC = 10000000L    // doc_id, vec_id
    val EVT = 100000000L   // event_id

    def write(df: DataFrame, table: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$table.parquet")

    def scaled(table: String, shifts: Map[String, Long])
              (perCopy: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val base = Tables(spark, src, table)
      val parts = (0 until copies).map { i =>
        val shifted = shifts.foldLeft(base) { case (df, (c, unit)) =>
          df.withColumn(c, col(c) + lit(unit * i)) }
        perCopy(shifted, i)
      }
      write(parts.reduce(_ unionAll _), table)
      println(s"[scaleup] $table x$copies done")
    }

    Seq("region", "nation").foreach(t => write(Tables(spark, src, t), t))
    scaled("customer", Map("c_custkey" -> CUST))()
    scaled("supplier", Map("s_suppkey" -> SUPP))()
    scaled("part", Map("p_partkey" -> PART))()
    scaled("orders", Map("o_orderkey" -> ORD, "o_custkey" -> CUST))()
    scaled("lineitem",
      Map("l_orderkey" -> ORD, "l_partkey" -> PART, "l_suppkey" -> SUPP))()
    scaled("events", Map("event_id" -> EVT, "user_id" -> CUST))()
    scaled("documents", Map("doc_id" -> DOC)) { (df, i) =>
      if (i == 0) df
      else {
        import spark.implicits._
        df.as[(Long, String, String, String, Long)].map { case (id, text, lang, src2, _) =>
          val t = ScaleUp.permuteTokens(text, i) + s" cpy$i"
          (id, t, lang, src2, t.length.toLong)
        }.toDF("doc_id", "text", "lang", "source", "n_chars")
      }
    }
    scaled("embeddings", Map("vec_id" -> DOC))()
    spark.stop()
  }
}
