package graft.queries

import scala.util.matching.Regex

/** DuckDB→Spark SQL bridge for the SQL entry path (SURVEY.md §3.4 C): the
  * one place that knows how the two dialects differ.
  *
  * Each declared query carries ONE oracle SQL (DuckDB executes it for the
  * driver's hash compare). Most of that SQL is dialect-shared; where it is
  * not, the differences are almost all pure FUNCTION RENAMES with identical
  * semantics and argument order. This bridge applies those rewrites in
  * order so the `spark.sql` twin is derived from the same source of truth
  * instead of hand-maintaining near-identical statements: an entry (or a
  * SQL template) writes its oracle once, in DuckDB SQL. Entries whose twin
  * differs STRUCTURALLY (1-based indexing, aggregate ORDER BY, correlated
  * LIMIT 1, grouped generators, ...) set an explicit `Entry.sqlTwin`
  * override instead — the bridge never runs on those, and OracleLintSpec
  * rejects an override the bridge would have produced.
  *
  * Rule admission: a rule is added only if the two sides have IDENTICAL
  * semantics on every input, not just on the fixtures. A rewrite whose
  * edge cases differ stays a structural switch in its template: e.g.
  * DuckDB's `list_distinct` drops NULLs where Spark's `array_distinct`
  * keeps one, so QualityModel keeps its own switch.
  *
  * The one pattern rule, [[UnnestRange]]: `unnest(range(N))` →
  * `explode(sequence(0, N-1))` and `unnest(range(A, B))` →
  * `explode(sequence(A, B-1))`, either case of `unnest`, integer-literal
  * arguments only (the bound is computed, so the twin text is plain
  * literals). It does not fire when `N = 0` or `B <= A`: DuckDB's range
  * is empty there while Spark's `sequence` runs descending. Non-literal
  * bounds (`range(size(ws) - 15)`) are left alone.
  *
  * Every derived twin is executed and compared row-for-row against the
  * DataFrame entry by SqlParitySpec. Known limitation: rewrites are
  * position-blind, so a rule token inside a STRING LITERAL would be
  * rewritten too; [[duckToSpark]] rejects such an oracle (the entry then
  * needs an explicit `Entry.sqlTwin`).
  */
object Dialect {

  /** Spark twin of [[graft.text.Text.tokensSql]] (same analyzer: lowercase,
    * strip non-alphanumerics, split, drop empties — Spark's regexp_replace
    * is global by default, no 'g' flag). */
  val tokensSparkSql: String =
    "filter(split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')), ' '), w -> w <> '')"

  /** One rewrite of the bridge. `hits(s)` lists the spans of `s` the
    * rewrite would change — the literal-clash guard rejects an oracle on
    * any hit inside a string literal. */
  private[queries] sealed trait Rule {
    def apply(sql: String): String
    def hits(s: String): List[String]
  }

  /** A literal substitution. A quoted `from` is a composite fragment that
    * rewrites literal content by design, so it never clashes. */
  private[queries] final case class Rename(from: String, to: String) extends Rule {
    def apply(sql: String): String = sql.replace(from, to)
    def hits(s: String): List[String] =
      if (!from.contains("'") && s.contains(from)) List(from) else Nil
  }

  /** `unnest(range(N))` / `unnest(range(A, B))` with integer-literal
    * bounds → `explode(sequence(lo, hi))`, only for a non-empty range
    * (see the object doc). */
  private[queries] case object UnnestRange extends Rule {
    private val pattern = """(?:unnest|UNNEST)\(range\((\d+)(?:, *(\d+))?\)\)""".r

    private def rewrite(m: Regex.Match): Option[String] = {
      val (lo, end) =
        if (m.group(2) == null) (BigInt(0), BigInt(m.group(1)))
        else (BigInt(m.group(1)), BigInt(m.group(2)))
      if (end > lo) Some(s"explode(sequence($lo, ${end - 1}))") else None
    }

    def apply(sql: String): String =
      pattern.replaceSomeIn(sql, m => rewrite(m).map(Regex.quoteReplacement))
    def hits(s: String): List[String] =
      pattern.findAllMatchIn(s).filter(rewrite(_).nonEmpty).map(_.matched).toList
  }

  private def renames(pairs: (String, String)*): Seq[Rule] =
    pairs.map { case (from, to) => Rename(from, to) }

  private[queries] lazy val rules: Seq[Rule] = renames(
    // composite fragments first (they contain tokens the generic rules
    // would otherwise corrupt)
    graft.text.Text.tokenHashSql -> "token_hash(w)",   // the registered kernel
    graft.text.Text.tokensSql -> tokensSparkSql,
    "unnest(ws) AS w, unnest(range(len(ws))) AS pos" -> "posexplode(ws) AS (pos, w)",
    // div/mod bit extraction is equivalent to >>/& ONLY for non-negative
    // h — which token_hash guarantees (fold mod 1e9+7, always in
    // [0, 1e9+7)); this rule must not be reused for signed hash columns
    "(h >> i) & 1 = 1" -> "(h div CAST(pow(2, i) AS BIGINT)) % 2 = 1",
    "1 << i" -> "CAST(pow(2, i) AS BIGINT)",
    // DuckDB regexp_replace global flag — matched with its preceding
    // replacement argument so a literal list element 'g' elsewhere in an
    // oracle can never be eaten
    ", ' ', 'g')" -> ", ' ')",
    ", '', 'g')" -> ", '')",
    ", '_', 'g')" -> ", '_')"
  ) ++ Seq(
    // before the generic `unnest(` rename, which would leave
    // `explode(range(..))` behind
    UnnestRange
  ) ++ renames(
    // generic function renames (identical semantics + argument order)
    "list_filter" -> "filter",
    "string_split" -> "split",
    "unnest(" -> "explode(",
    "len(" -> "size(",
    "strpos" -> "instr",
    "regexp_matches" -> "regexp_like",
    "quantile_cont" -> "percentile",
    "list_contains" -> "array_contains",
    "list_min" -> "array_min",
    "list_max" -> "array_max",
    "list_sort" -> "sort_array",
    "list_transform" -> "transform",
    "json_extract_string" -> "get_json_object",
    "epoch_us(" -> "unix_micros(",
    "make_timestamp(" -> "timestamp_micros(",
    " // " -> " div ",                     // integer division
    "VARCHAR" -> "STRING",
    "arg_max(" -> "max_by(",
    "BLOB" -> "BINARY")

  /** Sequential string-literal scan with SQL `''` escape semantics: `'`
    * opens a literal, a doubled `''` inside is an escaped quote (kept as
    * the pair — callers only substring-search, so unescaping is
    * unnecessary), a lone `'` closes. Returns the closed literals plus
    * whether the statement ENDED inside a literal — on such malformed SQL
    * any region classification is guesswork (a greedy regex provably
    * re-pairs the quotes differently than the sequential read), so
    * [[duckToSpark]] rejects it outright instead of rewriting on a guess.
    * Package-visible so DialectFuzzSpec can pin this scan against an
    * independently-written scanner — the guard is only as sound as this
    * region classification. */
  private[queries] def scanLiterals(sql: String): (List[String], Boolean) = {
    val out = List.newBuilder[String]
    var i = 0
    var unterminated = false
    while (i < sql.length) {
      if (sql(i) == '\'') {
        val sb = new StringBuilder
        i += 1
        var closed = false
        while (!closed && i < sql.length) {
          if (sql(i) == '\'') {
            if (i + 1 < sql.length && sql(i + 1) == '\'') { sb.append("''"); i += 2 }
            else { closed = true; i += 1 }
          } else { sb.append(sql(i)); i += 1 }
        }
        if (closed) out += sb.toString else unterminated = true
      } else i += 1
    }
    (out.result(), unterminated)
  }

  private[queries] def literalsOf(sql: String): List[String] = scanLiterals(sql)._1

  /** The statement with every string-literal's CONTENT blanked (same
    * sequential ''-escape walk as [[scanLiterals]]) — textual audits must
    * not fire on quoted data. Quotes themselves are kept so offsets and
    * structure survive. */
  private[graft] def maskLiterals(sql: String): String = {
    val out = new StringBuilder(sql.length)
    var i = 0
    while (i < sql.length) {
      if (sql(i) == '\'') {
        out += '\''; i += 1
        var closed = false
        while (!closed && i < sql.length) {
          if (sql(i) == '\'') {
            if (i + 1 < sql.length && sql(i + 1) == '\'') { out ++= "  "; i += 2 }
            else { out += '\''; closed = true; i += 1 }
          } else { out += ' '; i += 1 }
        }
      } else { out += sql(i); i += 1 }
    }
    out.toString
  }

  /** Bare decimal literals (digits.digits NOT in exponent notation)
    * outside string literals — the round-14 q244/q247 parity hazard
    * class: a bare `0.75` parses as DECIMAL in BOTH SQL dialects while
    * the Column API's `lit(0.75)` is double; Spark's decimal arithmetic
    * quantizes (scale ~6) where the double path doesn't, and DuckDB
    * CASTs double→BIGINT by ROUNDING where Spark truncates — so a bare
    * decimal that stays in decimal arithmetic, or flows into a
    * CAST/ROUND, drifts between the oracle, the twin, and the DataFrame
    * plan at some eventual boundary row. Spell float constants in
    * exponent form (`0.75e0`) unless the literal provably enters double
    * context; OracleLintSpec audits every registered oracle AND twin
    * against an exact grandfathered allowlist. */
  private[graft] def bareDecimals(sql: String): List[String] =
    // all three SQL decimal spellings: 0.75, .75, 75. — dotless forms are
    // integers (safe), exponent forms are doubles (safe). The word-char
    // lookarounds keep qualified references out: `d2.cab` / `a1.pos` are
    // alias.column, not the number 2. — SQL delimits real numerics with
    // non-word characters on both sides.
    """(?<![\w.])(\d+\.\d+(?![eE\d.])|\.\d+(?![eE\d.])|\d+\.(?![eE\d.\w]))""".r
      .findAllIn(maskLiterals(sql)).toList

  /** Derive the Spark twin of an oracle statement. Identity for SQL that is
    * already dialect-shared.
    *
    * Guard: rewrites are position-blind, so a rule token INSIDE a quoted
    * string literal would be corrupted — and a corrupted literal used in a
    * filter that matches nothing at fixture scale would pass the parity
    * run silently. Any oracle with a [[Rule.hits]] inside a literal is
    * rejected here (`Entry.sparkSql` derives every twin and SqlParitySpec
    * fails each reject by name): that entry must declare an explicit
    * `Entry.sqlTwin`. Only quote-free rule tokens can sit inside a
    * literal; quoted composite rules are by construction not literal
    * content. */
  def duckToSpark(sql: String): String = {
    val (lits, unterminated) = scanLiterals(sql)
    require(!unterminated,
      "duckToSpark: statement ends inside a string literal — malformed oracle SQL")
    val clashes = rules.flatMap(r => lits.flatMap(r.hits)).distinct
    require(clashes.isEmpty,
      s"duckToSpark: rule token(s) ${clashes.mkString(", ")} inside a string literal — " +
        "declare an explicit Entry.sqlTwin for this oracle instead of the bridge")
    rules.foldLeft(sql)((acc, r) => r(acc))
  }
}
