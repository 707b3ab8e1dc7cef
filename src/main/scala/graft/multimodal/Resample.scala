package graft.multimodal

import org.apache.spark.sql.functions._

import graft.queries.Entry
import graft.multimodal.Multimodal.Wav

/** PCM sample-rate conversion (SURVEY.md Q212) — the resample step every
  * speech pipeline runs before training (ASR models expect 16 kHz;
  * telephony corpora arrive at 8 kHz): 2x upsampling by exact linear
  * interpolation — out(2i) = s(i), out(2i+1) = (s(i)+s(i+1)) / 2 with
  * truncating integer division, n_out = 2n−1. Kept in EXACT integers so
  * the semantics are engine-independent (both engines truncate toward
  * zero — verified, not assumed); a production polyphase FIR would slot
  * into the same seam, losing only the exact oracle.
  *
  * Proof shape: real WAV bytes (Q197's container + noise formula)
  * round-trip the actual RIFF parser, then the interpolation runs
  * per-clip; the DuckDB oracle recomputes every feature from the
  * generative sample formula with the SAME truncating arithmetic (the
  * midpoint sum re-derived via an i→i+1 self-join — an independently-
  * shaped derivation of the same spec). Output checks the doubled rate
  * (the bin→Hz bookkeeping Q204 depends on), length, and both signed
  * and absolute sums over the interpolated stream.
  *
  * Scale posture: map-only per-row work, no shuffle before the output
  * sort — the q196-q211 contract.
  */
object Resample {

  /** 2x linear-interpolation upsample, truncating integer midpoints. */
  def upsample2x(samples: Array[Int]): Array[Int] = {
    if (samples.isEmpty) Array.empty
    else {
      val out = new Array[Int](2 * samples.length - 1)
      var i = 0
      while (i < samples.length - 1) {
        out(2 * i) = samples(i)
        out(2 * i + 1) = (samples(i) + samples(i + 1)) / 2
        i += 1
      }
      out(2 * i) = samples(i)
      out
    }
  }

  case class ResampleFeature(doc_id: Long, n_out: Int, sr_out: Int,
                             sum_s: Long, abs_sum: Long)

  def analyze(id: Long, bytes: Array[Byte]): ResampleFeature = {
    val wav = Wav.decode(bytes)
    val up = upsample2x(wav.samples)
    ResampleFeature(id, up.length, wav.sampleRate * 2,
      up.map(_.toLong).sum, up.map(s => math.abs(s).toLong).sum)
  }

  /** q212's oracle: original samples plus midpoints via an i→i+1
    * self-join, truncating division on both engines. */
  private def resampleSql: String =
    s"""WITH au AS (SELECT doc_id, CAST(16 + doc_id % 50 AS INT) AS n
      |            FROM documents WHERE doc_id % 3 = 2),
      |iser AS (SELECT UNNEST(range(66)) AS i),
      |sm AS (SELECT doc_id, n, i, (doc_id*37 + i*101) % 4001 - 2000 AS s
      |       FROM au, iser WHERE i < n),
      |mid AS (SELECT a.doc_id, (a.s + b.s) // 2 AS m
      |        FROM sm a JOIN sm b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
      |base AS (SELECT doc_id, SUM(s) AS ss, SUM(ABS(s)) AS sa FROM sm GROUP BY 1),
      |mids AS (SELECT doc_id, SUM(m) AS ms, SUM(ABS(m)) AS ma FROM mid GROUP BY 1)
      |SELECT a.doc_id, CAST(2 * a.n - 1 AS INT) AS n_out, CAST(16000 AS INT) AS sr_out,
      |  CAST(b.ss + COALESCE(m.ms, 0) AS BIGINT) AS sum_s,
      |  CAST(b.sa + COALESCE(m.ma, 0) AS BIGINT) AS abs_sum
      |FROM au a JOIN base b ON b.doc_id = a.doc_id
      |LEFT JOIN mids m ON m.doc_id = a.doc_id
      |ORDER BY a.doc_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    // 2x upsample (see [[upsample2x]]): real WAV decode -> exact-integer
    // interpolation; the oracle re-derives midpoints via a self-join.
    // Map-only, no shuffle before the output sort.
    Entry("q212_pcm_upsample", resampleSql) { (s, d) =>
      Multimodal.decoded(s, d, 2)(Wav.encode)(analyze).orderBy(col("doc_id"))
    }
  )
}
