package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Entry

/** Unigram-LM (SentencePiece-style) subword tokenizer (SURVEY.md
  * Q235/Q236) — the other mainstream subword algorithm beside BPE
  * (q161/q162): instead of greedy pair merges, a PIECE INVENTORY is
  * selected and each word is segmented by the piece sequence that
  * maximizes a per-piece additive objective (Kudo, ACL 2018: Viterbi
  * segmentation under a unigram language model; SentencePiece seeds its
  * vocabulary from the most frequent substrings, which is exactly the
  * selection below).
  *
  * Float log-probabilities are summation-order-dependent and unhashable
  * across engines, so the objective is the q219/q225 integer discipline:
  * each selected piece p carries the integer value
  *
  *   v(p) = cnt(p) * (len(p) - 1) * 1024 - 1
  *
  * (weighted substring count x characters saved, scaled; the -1 charges
  * one unit per emitted piece) and single characters always segment with
  * v = -1. Maximizing the additive total W = 1024*S - n therefore
  * maximizes coverage score S and, among S-optimal paths, minimizes the
  * piece count n — recoverable arithmetically from W alone, since
  * n <= MaxLen < 1024: S = (W + 16) div 1024, n = 1024*S - W (W >= -MaxLen
  * keeps the dividend nonnegative, so truncating and floor division
  * agree across engines).
  *
  * Training (q235) is ONE pass over the weighted surface-form vocab —
  * the corpus is never re-read (BPE's q161 posture): substring counting
  * over a bounded window (first MaxLen chars, pieces of 2..4 chars),
  * then top-V selection by (cnt x saved-chars, piece). Encoding (q236)
  * runs the integer Viterbi DP per DISTINCT word and charges the corpus
  * only a (word -> result) equi-join + per-doc sum — q162's shape.
  *
  * The DuckDB oracle replays the identical derivation: the same counting
  * window, the same selection, and the DP as MaxLen unrolled CTEs (the
  * q225 pattern), each position taking GREATEST over the l=1..4 ways to
  * end there (both engines' GREATEST ignores the NULL of an absent
  * piece). Both oracles share one chain string so train and encode can
  * never drift apart.
  *
  * Scale posture: counting is explode+agg on the VOCAB (not the corpus),
  * map-side combinable; selection is a TakeOrdered top-V; the model is
  * V=24 rows — a driver artifact like q161's merge table (O(V) collect,
  * documented bound) broadcast into a map-only per-word DP; the corpus
  * is charged one equi-join on the word key and one per-doc agg. At
  * 100 TB: identical plan — train on the ingest-staged vocab, ship the
  * piece table with every encode job.
  */
object Unigram {

  val MaxLen = 12      // DP window; longer words fall back to chars
  val V = 24           // piece inventory size
  val PieceMin = 2
  val PieceMax = 4

  final case class Rule(rnk: Int, piece: String, cnt: Long, v: Long)

  /** Integer Viterbi: best additive value for segmenting `w` with the
    * piece values `pv` (single chars implicit at -1). Mirrors the
    * oracle's unrolled dp CTEs exactly. */
  def dpValue(w: String, pv: Map[String, Long]): Long = {
    if (w.length > MaxLen) return -w.length.toLong
    val dp = new Array[Long](w.length + 1)
    var i = 1
    while (i <= w.length) {
      var best = dp(i - 1) - 1
      var l = PieceMin
      while (l <= PieceMax && l <= i) {
        pv.get(w.substring(i - l, i)) match {
          case Some(v) => val c = dp(i - l) + v; if (c > best) best = c
          case None    => ()
        }
        l += 1
      }
      dp(i) = best
      i += 1
    }
    dp(w.length)
  }

  /** (score, n_pieces) decomposition of a word's DP value — pure
    * arithmetic, no back-pointers needed (see object doc). */
  def decompose(w: String, value: Long): (Long, Long) =
    if (w.length > MaxLen) (0L, w.length.toLong)
    else {
      val s = (value + 16L) / 1024L
      (s, 1024L * s - value)
    }

  /** The pieces on `w`'s OPTIMAL segmentation path (q241's E-step): the
    * forward DP of [[dpValue]], then a deterministic backtrack — at each
    * position the SMALLEST length whose move reproduces dp(i) wins
    * (single char checked first), so Spark and the oracle's unrolled
    * backward chain walk the identical path even between value-tied
    * segmentations. A piece used twice on one path is emitted twice;
    * overlong words contribute nothing (char fallback, no inventory use).
    */
  def piecesUsed(w: String, pv: Map[String, Long]): Seq[String] = {
    if (w.length > MaxLen) return Nil
    val dp = new Array[Long](w.length + 1)
    var i = 1
    while (i <= w.length) {
      var best = dp(i - 1) - 1
      var l = PieceMin
      while (l <= PieceMax && l <= i) {
        pv.get(w.substring(i - l, i)) match {
          case Some(v) => val c = dp(i - l) + v; if (c > best) best = c
          case None    => ()
        }
        l += 1
      }
      dp(i) = best
      i += 1
    }
    val out = scala.collection.mutable.ListBuffer.empty[String]
    i = w.length
    while (i > 0) {
      if (dp(i) == dp(i - 1) - 1) i -= 1
      else {
        var l = PieceMin
        var taken = false
        while (!taken && l <= PieceMax && l <= i) {
          val p = w.substring(i - l, i)
          if (pv.get(p).exists(v => dp(i) == dp(i - l) + v)) {
            out += p; i -= l; taken = true
          } else l += 1
        }
        require(taken, s"backtrack stuck at $i in '$w'")   // unreachable by DP construction
      }
    }
    out.toList
  }

  /** The learned piece table, memoized per corpus (q161's artifact
    * posture: train once, every encode job consumes the table). Keyed on
    * the documents fixture's (mtime, size) fingerprint via
    * [[graft.core.Staging.key]] — ADVICE r14: a dir-only key would score
    * q236/q241/q243 against a stale model if the same dir were restaged
    * with different data within one JVM, while the oracle retrains. */
  private val cache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Rule]]

  def rules(s: SparkSession, d: String): Seq[Rule] =
    cache.getOrElseUpdate(graft.core.Staging.key(d, "documents", "unigram_rules"),
      train(s, d))

  /** The measured training job: substring counting over the weighted
    * vocab, top-V selection. Driver state is the V-row piece table. */
  def train(s: SparkSession, d: String): Seq[Rule] = {
    val wf = TokenIndex.words(s, d).groupBy(col("w")).agg(count(lit(1)).as("f"))
    val pc = wf
      .select(col("w"), col("f"),
        explode(sequence(lit(PieceMin), lit(PieceMax))).as("l"))
      .select(col("w"), col("f"), col("l"),
        explode(sequence(lit(1), lit(MaxLen - 1))).as("i"))
      .filter(expr(s"i + l - 1 <= least(length(w), $MaxLen)"))
      .select(expr("substr(w, i, l)").as("p"), col("f"))
      .groupBy(col("p")).agg(sum(col("f")).as("cnt"))
    // TakeOrdered top-V, then an O(V)=24-row collect — the q161 bound
    val top = pc
      .orderBy((col("cnt") * (length(col("p")) - 1)).desc, col("p"))
      .limit(V).collect()
    top.zipWithIndex.map { case (r, ix) =>
      val p = r.getString(0)
      val c = r.getLong(1)
      Rule(ix + 1, p, c, c * (p.length - 1) * 1024L - 1L)
    }.toSeq
  }

  // ---- shared oracle chain (DuckDB SQL; the twins are bridged) ---------

  /** wf .. wv CTEs. The dp CTEs are engine-neutral text. */
  private def chainSql: String = {
    // Each dp CTE references ONLY dp{k-1} (the prior three bests ride as
    // b1/b2/b3 state columns), so CTE inlining stays a LINEAR chain — the
    // first formulation joined dp{k-2}/dp{k-3}/dp{k-4} directly and the
    // inlined plan tree grew 4^MaxLen, OOMing the oracle engine (the q226
    // bfs lesson, relearned). Rows for words shorter than k stop evolving
    // via the frozen `value` column; boundary l > k terms are excluded by
    // generation (and would be NULL-killed by their b column anyway).
    val dps = (1 to MaxLen).map { k =>
      val terms = Seq("d.best - 1") ++
        (PieceMin to PieceMax).filter(_ <= k).map(l => s"d.b${l - 1} + s$l.v")
      val joins = (PieceMin to PieceMax).filter(_ <= k).map { l =>
        s"  LEFT JOIN sel s$l ON s$l.p = substr(d.w, ${k - l + 1}, $l)"
      }.mkString("\n")
      // Spark's GREATEST requires >= 2 args (DuckDB accepts 1): the k=1
      // position has only the single-char term — emit it bare
      val g = if (terms.size == 1) terms.head
              else s"GREATEST(${terms.mkString(", ")})"
      s"""dp$k AS (
         |  SELECT d.w, $g AS best,
         |    d.best AS b1, d.b1 AS b2, d.b2 AS b3,
         |    CASE WHEN length(d.w) = $k THEN $g ELSE d.value END AS value
         |  FROM dp${k - 1} d
         |$joins)""".stripMargin
    }.mkString(",\n")
    s"""$prefixSql,
       |dp0 AS (SELECT w, CAST(0 AS BIGINT) AS best,
       |          CAST(NULL AS BIGINT) AS b1, CAST(NULL AS BIGINT) AS b2,
       |          CAST(NULL AS BIGINT) AS b3, CAST(NULL AS BIGINT) AS value
       |        FROM wf WHERE length(w) <= $MaxLen),
       |$dps,
       |wv AS (SELECT w, value FROM dp$MaxLen)""".stripMargin
  }

  /** toks..sel — the vocabulary + piece-selection prefix shared by every
    * unigram oracle. Split from [[chainSql]] so q241's EM oracle (which
    * stacks its OWN 24 forward+backward CTEs) does not also carry the
    * encode DP's 13 unused CTEs: Spark analyzes unreferenced CTE
    * definitions too, and the combined depth crossed the analyzer's
    * iteration cap. */
  private def prefixSql: String =
    s"""toks AS (SELECT doc_id, ${Text.tokensSql} AS ws FROM documents),
       |words AS (SELECT doc_id, unnest(ws) AS w FROM toks),
       |wf AS (SELECT w, COUNT(*) AS f FROM words GROUP BY 1),
       |pc AS (
       |  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS p,
       |         CAST(SUM(f) AS BIGINT) AS cnt
       |  FROM wf
       |  CROSS JOIN (SELECT unnest(range(${PieceMin}, ${PieceMax + 1})) AS l) gl
       |  CROSS JOIN (SELECT unnest(range(1, ${MaxLen})) AS i) gi
       |  WHERE i + l - 1 <= LEAST(length(w), $MaxLen)
       |  GROUP BY 1),
       |sel AS (
       |  SELECT p, cnt, CAST(cnt * (length(p) - 1) * 1024 - 1 AS BIGINT) AS v, rnk
       |  FROM (SELECT p, cnt,
       |          ROW_NUMBER() OVER (ORDER BY cnt * (length(p) - 1) DESC, p) AS rnk
       |        FROM pc)
       |  WHERE rnk <= $V)""".stripMargin

  private def trainSql: String =
    s"""WITH $chainSql
       |SELECT CAST(rnk AS INT) AS rnk, p AS piece, cnt,
       |  CAST((1000000 * cnt) // (SELECT SUM(cnt) FROM sel) AS BIGINT) AS prob_ppm
       |FROM sel ORDER BY rnk""".stripMargin

  private def encodeSql: String =
    s"""WITH $chainSql
       |SELECT t.doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(CASE WHEN length(t.w) > $MaxLen THEN length(t.w)
       |           ELSE 1024 * ((v.value + 16) // 1024) - v.value END) AS BIGINT)
       |    AS n_pieces,
       |  CAST(SUM(CASE WHEN length(t.w) > $MaxLen THEN 0
       |           ELSE (v.value + 16) // 1024 END) AS BIGINT) AS score
       |FROM words t LEFT JOIN wv v ON v.w = t.w
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q241: one hard-EM round, oracle-replayed ------------------------

  /** dp value at position (pos - `off`), read from the carried p0..pMaxLen
    * state columns of the backward chain (alias `d`). Positions outside
    * 0..MaxLen fall through to NULL, which the guards upstream kill. */
  private def dpAt(off: Int): String =
    (0 to MaxLen).map(j => s"WHEN $j THEN d.p$j")
      .mkString(s"(CASE d.pos - $off ", " ", " END)")

  /** The E-step's backward walk + M-step re-estimation. Shares `sel` and
    * `wf` with the train/encode chain (one copy — the EM round cannot
    * drift from the seed selection it refines). Structure mirrors the
    * forward chain's hard-won linearity: the FULL per-position dp vector
    * rides as state columns p0..pMaxLen (the 3-column sliding window of
    * dp1..dp12 is not enough to walk backward), and each backward CTE
    * bk_k references ONLY bk_{k-1}, emitting at most one piece per step
    * into its own e_k column — emitted pieces as UNIONed per-CTE selects
    * would multiply every reference and re-inline the chain
    * exponentially (the q226/q235 lesson, third sighting). The final
    * unpivot is one CROSS JOIN over step indices against bk$MaxLen alone.
    */
  /** One full E-step walk as CTE text, parameterized so q241 (round 1 vs
    * the seed table) and q248 (round 2 vs the re-estimated survivor
    * table) generate from the SAME code: the forward chain carrying the
    * full dp vector, the backward chain, the step unpivot, and the
    * frequency-weighted usage agg. `sfx` suffixes every CTE name;
    * `selName` is the piece table (columns p, v) the walk segments
    * against. Yields `usage$sfx(piece, used)`. */
  private def walkCtes(sfx: String, selName: String): String = {
    val pCols = (0 to MaxLen).map(j => s"p$j")
    // forward chain carrying the full dp vector: dpf_k adds p_k
    val dpfs = (1 to MaxLen).map { k =>
      val terms = Seq(s"d.p${k - 1} - 1") ++
        (PieceMin to PieceMax).filter(_ <= k).map(l => s"d.p${k - l} + s$l.v")
      val joins = (PieceMin to PieceMax).filter(_ <= k).map { l =>
        s"  LEFT JOIN $selName s$l ON s$l.p = substr(d.w, ${k - l + 1}, $l)"
      }.mkString("\n")
      val g = if (terms.size == 1) terms.head
              else s"GREATEST(${terms.mkString(", ")})"
      val carried = (0 until k).map(j => s"d.p$j").mkString(", ")
      s"""dpf$sfx$k AS (
         |  SELECT d.w, $carried,
         |    CASE WHEN length(d.w) >= $k THEN $g END AS p$k
         |  FROM dpf$sfx${k - 1} d
         |$joins)""".stripMargin
    }.mkString(",\n")
    // backward chain: smallest-length-first move selection (single char
    // checked before pieces), matching Unigram.piecesUsed exactly. The
    // branch list and the join list are generated from the SAME
    // PieceMin..PieceMax range: PieceMax needs no branch of its own (by
    // the DP invariant SOME move reproduces dp(pos), so if every shorter
    // length failed the move is the longest) and therefore no join — a
    // hardcoded branch list next to a parameterized join list is how the
    // two silently drift when the piece-length window changes.
    val pieceBranches = (PieceMin until PieceMax).map { l =>
      s"      WHEN d.pos >= $l AND s$l.v IS NOT NULL AND ${dpAt(0)} = ${dpAt(l)} + s$l.v THEN $l"
    }.mkString("\n")
    val lstar =
      s"""CASE
         |      WHEN d.pos <= 0 THEN 0
         |      WHEN ${dpAt(0)} = ${dpAt(1)} - 1 THEN 1
         |$pieceBranches
         |      ELSE $PieceMax END""".stripMargin
    val bks = (1 to MaxLen).map { k =>
      val carriedP = pCols.map(c => s"x.$c").mkString(", ")
      val carriedE = (1 until k).map(j => s"x.e$j").map(e => s"$e,").mkString(" ")
      val joins = (PieceMin until PieceMax).map { l =>
        s"    LEFT JOIN $selName s$l ON s$l.p = substr(d.w, d.pos - ${l - 1}, $l)"
      }.mkString("\n")
      s"""bk$sfx$k AS (
         |  SELECT x.w, $carriedP,
         |    CASE WHEN x.lstar > 0 THEN x.pos - x.lstar ELSE x.pos END AS pos,
         |    $carriedE
         |    CASE WHEN x.lstar >= 2
         |         THEN substr(x.w, x.pos - x.lstar + 1, x.lstar) END AS e$k
         |  FROM (
         |    SELECT d.*, $lstar AS lstar
         |    FROM bk$sfx${k - 1} d
         |$joins) x)""".stripMargin
    }.mkString(",\n")
    val unpivot = (1 to MaxLen).map(j => s"WHEN $j THEN b.e$j")
      .mkString("CASE gi.i ", " ", " END")
    s"""dpf${sfx}0 AS (SELECT w, CAST(0 AS BIGINT) AS p0 FROM wf WHERE length(w) <= $MaxLen),
       |$dpfs,
       |bk${sfx}0 AS (SELECT w, ${pCols.mkString(", ")}, length(w) AS pos FROM dpf$sfx$MaxLen),
       |$bks,
       |em_pieces$sfx AS (
       |  SELECT b.w, $unpivot AS p
       |  FROM bk$sfx$MaxLen b CROSS JOIN (SELECT unnest(range(1, ${MaxLen + 1})) AS i) gi),
       |usage$sfx AS (
       |  SELECT e.p AS piece, CAST(SUM(f.f) AS BIGINT) AS used
       |  FROM em_pieces$sfx e JOIN wf f ON f.w = e.w
       |  WHERE e.p IS NOT NULL GROUP BY 1)""".stripMargin
  }

  private def emSql: String =
    s"""WITH $prefixSql,
       |${walkCtes("", "sel")},
       |sel2 AS (
       |  SELECT piece, used,
       |    ROW_NUMBER() OVER (ORDER BY used * (length(piece) - 1) DESC, piece) AS rnk2
       |  FROM usage)
       |SELECT CAST(s.rnk AS INT) AS rnk, s.p AS piece, s.cnt,
       |  CAST(COALESCE(u.used, 0) AS BIGINT) AS used,
       |  CAST(u.rnk2 AS INT) AS rnk2,
       |  CAST((1000000 * u.used) // (SELECT CAST(SUM(used) AS BIGINT) FROM sel2)
       |    AS BIGINT) AS prob2_ppm
       |FROM sel s LEFT JOIN sel2 u ON u.piece = s.p
       |ORDER BY rnk""".stripMargin

  /** q243's oracle: the shared encode chain aggregated at q230's host
    * key instead of per doc — tokenizer FERTILITY (pieces per word) by
    * domain, the corpus-noise signal tokenizer papers report per source
    * (noisy hosts segment into more pieces per word). */
  private def fertilitySql: String = {
    val pieces =
      s"""SUM(CASE WHEN length(t.w) > $MaxLen THEN length(t.w)
         |      ELSE 1024 * ((v.value + 16) // 1024) - v.value END)""".stripMargin
    s"""WITH $chainSql
       |SELECT 'www.site' || ((t.doc_id // 4) % 5) || '.com' AS host,
       |  COUNT(DISTINCT t.doc_id) AS n_docs,
       |  COUNT(*) AS n_words,
       |  CAST($pieces AS BIGINT) AS n_pieces,
       |  CAST((1000 * $pieces) // COUNT(*) AS BIGINT) AS fert_pm
       |FROM words t LEFT JOIN wv v ON v.w = t.w
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  val entries: Seq[Entry] = Seq(
    // q235: the training job — measure substring counting + selection,
    // refresh the artifact cache, surface the piece table with its
    // integer-scaled unigram probabilities.
    Entry("q235_unigram_train", trainSql) { (s, d) =>
      import s.implicits._
      val rs = train(s, d)
      cache.put(d, rs)
      val total = rs.map(_.cnt).sum
      rs.map(r => (r.rnk, r.piece, r.cnt, 1000000L * r.cnt / total))
        .toDF("rnk", "piece", "cnt", "prob_ppm")
        .orderBy(col("rnk"))
    },

    // q236: the apply path — per-DISTINCT-word integer Viterbi under the
    // broadcast piece table, then one corpus equi-join + per-doc sum.
    Entry("q236_unigram_encode", encodeSql) { (s, d) =>
      import s.implicits._
      val pv = rules(s, d).map(r => r.piece -> r.v).toMap
      val wordVals = TokenIndex.words(s, d).select(col("w")).distinct()
        .as[String]
        .map { w =>
          val (score, n) = decompose(w, dpValue(w, pv))
          (w, score, n)
        }
        .toDF("w", "s", "n")
      TokenIndex.words(s, d).join(wordVals, "w")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n")).as("n_pieces"), sum(col("s")).as("score"))
        .orderBy(col("doc_id"))
    },

    // q241: one hard-EM (Viterbi) round over the seed inventory — the
    // refinement loop SentencePiece actually runs (Kudo, ACL 2018 §3.2;
    // hard assignment instead of forward-backward expectations so every
    // count is an INTEGER the oracle can replay). E-step: walk each
    // distinct word's optimal path (deterministic smallest-length-first
    // backtrack) and accumulate frequency-weighted USAGE per piece —
    // unlike the seed's overlapping substring counts, path usage never
    // double-counts, which is exactly why EM reorders the table. M-step:
    // re-rank by used x saved-chars, prune never-used seeds, re-scale
    // probabilities over survivors. Vocab-sized work end-to-end (the
    // corpus is never re-read): one wf agg + a per-word compiled kernel
    // + one O(V) usage agg; the output is the V-row fate table.
    Entry("q241_unigram_em", emSql) { (s, d) =>
      import s.implicits._
      val rs = rules(s, d)
      val pv = rs.map(r => r.piece -> r.v).toMap
      val usage: Map[String, Long] = TokenIndex.words(s, d)
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
        .as[(String, Long)]
        .flatMap { case (w, f) => piecesUsed(w, pv).map(p => (p, f)) }
        .toDF("p", "f")
        .groupBy(col("p")).agg(sum(col("f")).as("used"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val totalUsed = usage.values.sum
      val rnk2 = usage.toSeq
        .sortBy { case (p, u) => (-(u * (p.length - 1)), p) }
        .zipWithIndex.map { case ((p, _), i) => p -> (i + 1) }.toMap
      rs.map { r =>
        val u = usage.getOrElse(r.piece, 0L)
        (r.rnk, r.piece, r.cnt, u, rnk2.get(r.piece),
          if (u > 0) Some(1000000L * u / totalUsed) else None)
      }.toDF("rnk", "piece", "cnt", "used", "rnk2", "prob2_ppm")
        .orderBy(col("rnk"))
    },

    // q243: tokenizer FERTILITY by host — pieces-per-word at q230's
    // domain key, the per-source corpus-noise signal tokenizer reports
    // publish (noisy domains segment into more pieces per word; a host
    // whose fertility spikes is boilerplate/garble the piece inventory
    // was not trained for). Same cost shape as q236 (the encode entry): the per-distinct-
    // word DP is vocab-sized map work, the corpus pays one broadcast
    // word-keyed join, and the rollup is ONE host-keyed agg (q230's
    // posture — O(hosts) output, integer per-mille fertility so the
    // rollup is order-independent and hash-exact).
    Entry("q243_token_fertility", fertilitySql) { (s, d) =>
      import s.implicits._
      val pv = rules(s, d).map(r => r.piece -> r.v).toMap
      val wordVals = TokenIndex.words(s, d).select(col("w")).distinct()
        .as[String]
        .map { w => (w, decompose(w, dpValue(w, pv))._2) }
        .toDF("w", "n")
      TokenIndex.words(s, d)
        .select(expr("concat('www.site', (doc_id div 4) % 5, '.com')").as("host"),
          col("doc_id"), col("w"))
        .join(wordVals, "w")
        .groupBy(col("host"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_words"),
          sum(col("n")).as("n_pieces"),
          expr("CAST((1000 * SUM(n)) div COUNT(*) AS BIGINT)").as("fert_pm"))
        .orderBy(col("host"))
    }
  )
}
