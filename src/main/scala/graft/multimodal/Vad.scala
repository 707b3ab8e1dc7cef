package graft.multimodal

import org.apache.spark.sql.functions._

import graft.queries.Entry
import graft.multimodal.Multimodal.Wav

/** Energy-threshold voice-activity segmentation (SURVEY.md Q211) — the
  * segmentation step speech corpora run between decode and training
  * (public technique: energy-gated VAD, the baseline every toolkit
  * ships): samples gate on |s| >= threshold, and maximal runs of active
  * samples become segments. The per-doc outputs (active count, segment
  * count, longest segment) are the curation signals — silence-only
  * clips drop, over-long segments split downstream.
  *
  * Proof shape: real WAV bytes (the Q197 container + noise formula)
  * round-trip the actual RIFF parser, then a single-pass run-length
  * scan segments the samples; the DuckDB oracle recomputes segmentation
  * from the generative sample formula with the classic SQL
  * gaps-and-islands derivation (i − ROW_NUMBER() OVER active ordering
  * groups each run) — hash equality proves the decode AND the
  * segmentation semantics (run boundaries, empty-segment handling)
  * against an INDEPENDENTLY-SHAPED derivation of the same spec, the
  * strongest cross-check available for an op whose output is structural
  * rather than arithmetic.
  *
  * Scale posture: map-only per-row work (one pass over each clip's
  * samples), no shuffle before the output sort — the q196-q210
  * contract. At 100 TB the bytes arrive in the binary column; a
  * VAD-split EXPLODE into per-segment rows would follow as a generator,
  * still shuffle-free.
  */
object Vad {

  val threshold = 1000

  /** (active sample count, segment count, longest run) of one clip. */
  def segment(samples: Array[Int]): (Int, Int, Int) = {
    var active = 0; var segs = 0; var longest = 0; var run = 0
    samples.foreach { s =>
      if (math.abs(s) >= threshold) {
        active += 1; run += 1
        if (run == 1) segs += 1
        if (run > longest) longest = run
      } else run = 0
    }
    (active, segs, longest)
  }

  case class VadFeature(doc_id: Long, n_samples: Int, n_active: Int,
                        n_segments: Int, max_run: Int)

  def analyze(id: Long, bytes: Array[Byte]): VadFeature = {
    val wav = Wav.decode(bytes)
    val (active, segs, longest) = segment(wav.samples)
    VadFeature(id, wav.samples.length, active, segs, longest)
  }

  /** q211's oracle: gaps-and-islands over the generative samples — the
    * independently-shaped derivation of the same segmentation spec. */
  private def vadSql: String =
    s"""WITH au AS (SELECT doc_id, CAST(16 + doc_id % 50 AS INT) AS n
      |            FROM documents WHERE doc_id % 3 = 2),
      |iser AS (SELECT UNNEST(range(66)) AS i),
      |sm AS (SELECT doc_id, n, i, (doc_id*37 + i*101) % 4001 - 2000 AS s
      |       FROM au, iser WHERE i < n),
      |act AS (SELECT doc_id, n, i FROM sm WHERE ABS(s) >= ${threshold}),
      |isl AS (SELECT doc_id, n, i,
      |          i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
      |        FROM act),
      |runs AS (SELECT doc_id, n, grp, COUNT(*) AS run_len
      |         FROM isl GROUP BY doc_id, n, grp),
      |agg AS (SELECT doc_id, n, CAST(SUM(run_len) AS INT) AS n_active,
      |          CAST(COUNT(*) AS INT) AS n_segments,
      |          CAST(MAX(run_len) AS INT) AS max_run
      |        FROM runs GROUP BY doc_id, n)
      |SELECT a.doc_id, CAST(a.n AS INT) AS n_samples,
      |  COALESCE(g.n_active, 0) AS n_active,
      |  COALESCE(g.n_segments, 0) AS n_segments,
      |  COALESCE(g.max_run, 0) AS max_run
      |FROM au a LEFT JOIN agg g ON g.doc_id = a.doc_id
      |ORDER BY a.doc_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    // VAD segmentation (see [[segment]]): real WAV decode -> one-pass
    // run-length scan; the oracle re-derives the segmentation via SQL
    // gaps-and-islands, so a boundary bug in either shape mismatches.
    // Map-only, no shuffle before the output sort.
    Entry("q211_audio_vad", vadSql) { (s, d) =>
      Multimodal.decoded(s, d, 2)(Wav.encode)(analyze).orderBy(col("doc_id"))
    }
  )
}
