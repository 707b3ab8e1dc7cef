package graft.queries

import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

/** Structural fuzz of the dialect bridge's string-literal machinery
  * (VERDICT r11 #7). SqlParitySpec executes every derived twin against
  * fixture data, but a mis-derivation whose corrupted predicate matches
  * nothing at fixture scale would pass that run silently; the bridge's
  * only defense there is the literal-clash guard, and the guard is only
  * as sound as its regex region scan. This spec drives that scan — and
  * the guard + rewrite built on it — over randomized quote/escape
  * boundary cases no hand-written example set would cover:
  *
  *   1. the regex literal scan must agree with an independent
  *      char-by-char scanner (SQL `''` escape semantics) on arbitrary
  *      quote soup;
  *   2. any quote-free rule token inside any literal must be REJECTED,
  *      wherever the literal sits and whatever escapes surround it;
  *   3. on accepted statements built only from quote-free rules, the
  *      rewrite must leave every literal byte-identical and still apply
  *      renames outside (so the guard is not accidentally vacuous).
  *
  * "Rule token" covers the pattern rule too: firing instances of
  * `unnest(range(..))` with integer-literal bounds ride every property
  * next to the literal renames.
  *
  * Pure string-level — no SparkSession, runs in milliseconds.
  */
class DialectFuzzSpec extends AnyFunSuite {

  /** n deterministic samples of `gen` (per-index seeds, the
    * HoltFoldPropertySpec pattern). */
  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, rng.Seed(i.toLong)))

  /** Independent reference scanner, written regex-style rather than as a
    * transliteration of [[Dialect.scanLiterals]]'s while-walk: literal
    * regions are the leftmost non-overlapping matches of `'(('')|[^'])*'`
    * under FIRST-closing-quote (reluctant) pairing, which is the SQL
    * reading; a trailing unpaired quote run marks the statement
    * unterminated. */
  private def refScan(s: String): (List[String], Boolean) = {
    val m = "'(?:(?:'')|[^'])*'".r.findAllMatchIn(s).toList
    // a quote not covered by any matched region opened a literal that
    // never closed
    val unterminated = s.indices.exists(i =>
      s(i) == '\'' && !m.exists(mm => i >= mm.start && i < mm.end))
    (m.map(mm => mm.matched.substring(1, mm.matched.length - 1)), unterminated)
  }

  private val renames: Seq[Dialect.Rename] = Dialect.rules.collect { case r: Dialect.Rename => r }

  private val quoteFreeRenames: Seq[String] = renames.map(_.from).filterNot(_.contains("'"))

  /** Firing instances of [[Dialect.UnnestRange]]: either case of
    * `unnest`, one- or two-argument form, non-empty range. */
  private val rangeToken: Gen[String] = for {
    un <- Gen.oneOf("unnest", "UNNEST")
    lo <- Gen.chooseNum(0, 50)
    n <- Gen.chooseNum(1, 50)
    twoArg <- Gen.oneOf(true, false)
  } yield if (twoArg) s"$un(range($lo, ${lo + n}))" else s"$un(range($n))"

  private val quoteFreeToken: Gen[String] =
    Gen.frequency(quoteFreeRenames.size -> Gen.oneOf(quoteFreeRenames), 3 -> rangeToken)

  // quote soup: heavy on the characters that stress region boundaries
  private val soupChar: Gen[String] = Gen.frequency(
    4 -> Gen.const("'"),
    3 -> Gen.const("''"),
    4 -> Gen.alphaChar.map(_.toString),
    2 -> Gen.oneOf(" ", "(", ")", ",", "="),
    2 -> quoteFreeToken)
  private val soup: Gen[String] =
    Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, soupChar)).map(_.mkString)

  test("char scanner == independent regex scanner on 3000 random quote soups") {
    samples(soup, 3000).foreach { s =>
      val (refLits, refUnterm) = refScan(s)
      val (lits, unterm) = Dialect.scanLiterals(s)
      assert(unterm == refUnterm, s"unterminated-flag disagreement on: <$s>")
      if (!unterm)
        assert(lits == refLits, s"input: <$s>")
    }
  }

  test("a statement ending inside a literal is rejected, never rewritten on a guess") {
    val cases = for { body <- litBody; pre <- soup.suchThat(!Dialect.scanLiterals(_)._2) }
      yield s"$pre'$body"
    samples(cases, 300).foreach { sql =>
      assert(Dialect.scanLiterals(sql)._2, s"generator broke: <$sql> should be unterminated")
      val e = intercept[IllegalArgumentException](Dialect.duckToSpark(sql))
      assert(e.getMessage.contains("ends inside a string literal"))
    }
  }

  // literal bodies that cannot themselves contain a rule token or a bare
  // quote: the padding around an injected token / the safe-literal case
  private val litBody: Gen[String] = Gen.chooseNum(0, 8).flatMap(n =>
    Gen.listOfN(n, Gen.frequency(
      6 -> Gen.numChar.map(_.toString), 2 -> Gen.const("''"), 1 -> Gen.const("_")))
  ).map(_.mkString)

  test("every quote-free rule token inside any literal is rejected, anywhere in the statement") {
    val cases = for {
      tok <- quoteFreeToken
      pre <- litBody; post <- litBody
      head <- litBody // a harmless literal BEFORE the poisoned one
    } yield (tok, s"SELECT a, '$head' FROM t WHERE b = '$pre$tok$post' ORDER BY a")
    samples(cases, 500).foreach { case (tok, sql) =>
      val e = intercept[IllegalArgumentException](Dialect.duckToSpark(sql))
      assert(e.getMessage.contains(tok), s"reject must name the clashing token for <$sql>")
    }
  }

  test("accepted statements: literals byte-identical, renames applied outside") {
    val cases = for {
      tok <- quoteFreeToken
      lit1 <- litBody; lit2 <- litBody
    } yield (tok, s"SELECT $tok x), '$lit1' FROM t WHERE c <> '$lit2'")
    samples(cases, 500).foreach { case (tok, sql) =>
      val out = Dialect.duckToSpark(sql)
      assert(Dialect.literalsOf(out) == Dialect.literalsOf(sql),
        s"rewrite touched a literal: <$sql> -> <$out>")
      assert(!out.contains(tok) || renames.exists(r => r.from == tok && r.to.contains(tok)),
        s"rename not applied outside literals: <$sql> -> <$out>")
    }
  }

  test("maskLiterals: blanks exactly the literal bytes, preserves everything else") {
    samples(soup, 3000).foreach { s =>
      if (!Dialect.scanLiterals(s)._2) {
        val masked = Dialect.maskLiterals(s)
        assert(masked.length == s.length, s"length drift on <$s>")
        val regions = "'(?:(?:'')|[^'])*'".r.findAllMatchIn(s).toList
        s.indices.foreach { i =>
          val insideContent = regions.exists(mm => i > mm.start && i < mm.end - 1)
          if (insideContent)
            assert(masked(i) == ' ', s"literal byte survived masking at $i in <$s>")
          else
            assert(masked(i) == s(i), s"non-literal byte changed at $i in <$s>")
        }
      }
    }
  }

  test("bareDecimals: fires on every bare decimal outside literals, never inside") {
    val dec: Gen[String] = for {
      a <- Gen.chooseNum(0, 999); b <- Gen.chooseNum(0, 99)
    } yield s"$a.$b"
    val cases = for { d1 <- dec; d2 <- dec; pad <- litBody }
      yield (d2, s"SELECT '$pad v$d1 $pad' AS s, $d2 AS x, ${d2}e0 AS y FROM t")
    samples(cases, 500).foreach { case (d2, sql) =>
      assert(Dialect.bareDecimals(sql) == List(d2),
        s"expected exactly the outside-literal bare decimal $d2 in <$sql>: " +
          Dialect.bareDecimals(sql).mkString(","))
    }
  }

  test("full registry: every bridge-derived twin preserves oracle literal regions") {
    // The quoted composite rules (tokenizer fragments, regexp 'g'-flag
    // strips) rewrite literals BY DESIGN; on the actual registry their
    // effect is exactly those fragments, so after masking rule fragments
    // out of both sides the remaining literal multiset must survive the
    // derivation unchanged. A position-blind substitution that ate or
    // reshaped any other literal would surface here structurally even if
    // fixture data happened to agree.
    def masked(sql: String): List[String] = {
      val cleaned = renames.foldLeft(sql) { (acc, r) =>
        acc.replace(r.from, " ").replace(r.to, " ")
      }
      Dialect.literalsOf(cleaned).filter(_.nonEmpty).sorted
    }
    val bridged = graft.SparkEntry.allEntries
      .filter(e => graft.SparkEntry.bridgedTwins(e.name))
    assert(bridged.nonEmpty, "expected bridge-derived entries in the registry")
    bridged.foreach { e =>
      val oracle = e.oracle.get
      val twin = Dialect.duckToSpark(oracle)
      assert(masked(twin) == masked(oracle),
        s"${e.name}: literal regions changed through the bridge")
    }
  }

  test("range rule: integer-literal unnest(range(..)) becomes explode(sequence(..)), both cases") {
    val cases = Seq(
      "SELECT unnest(range(16)) AS i" -> "SELECT explode(sequence(0, 15)) AS i",
      "SELECT UNNEST(range(13)) AS x" -> "SELECT explode(sequence(0, 12)) AS x",
      "SELECT unnest(range(1)) AS x" -> "SELECT explode(sequence(0, 0)) AS x",
      "SELECT unnest(range(2, 5)) AS l" -> "SELECT explode(sequence(2, 4)) AS l",
      "SELECT UNNEST(range(1, 12)) AS i" -> "SELECT explode(sequence(1, 11)) AS i",
      "SELECT UNNEST(range(4,9)) AS i" -> "SELECT explode(sequence(4, 8)) AS i")
    cases.foreach { case (in, want) =>
      assert(Dialect.UnnestRange(in) == want, s"pattern rule on <$in>")
      assert(Dialect.duckToSpark(in) == want, s"bridge on <$in>")
    }
    // the computed bound, not the text, decides: N-1 over the whole int range drawn
    samples(for { lo <- Gen.chooseNum(0, 100000); n <- Gen.chooseNum(1, 100000) }
        yield (lo, n), 300).foreach { case (lo, n) =>
      assert(Dialect.duckToSpark(s"SELECT UNNEST(range($lo, ${lo + n})) AS v") ==
        s"SELECT explode(sequence($lo, ${lo + n - 1})) AS v")
    }
  }

  test("range rule: empty ranges stay untouched (Spark's sequence would run descending)") {
    Seq("SELECT unnest(range(0)) AS i", "SELECT UNNEST(range(0)) AS i",
        "SELECT unnest(range(5, 5)) AS i", "SELECT UNNEST(range(7, 3)) AS i").foreach { sql =>
      assert(Dialect.UnnestRange(sql) == sql, s"pattern rule fired on empty range <$sql>")
      assert(!Dialect.duckToSpark(sql).contains("sequence"), s"bridge derived a sequence for <$sql>")
    }
  }

  test("range rule: non-literal bounds stay untouched") {
    Seq("SELECT unnest(range(size(ws) - 15)) AS i",
        "SELECT UNNEST(range(n)) AS i",
        "SELECT unnest(range(len(ws))) AS pos",
        "SELECT unnest(range(1, len(ws))) AS pos").foreach { sql =>
      assert(Dialect.UnnestRange(sql) == sql, s"pattern rule fired on <$sql>")
      assert(!Dialect.duckToSpark(sql).contains("sequence"), s"bridge derived a sequence for <$sql>")
    }
  }

  test("range rule: its token inside a string literal is rejected, an empty range's is not") {
    Seq("UNNEST(range(3))", "UNNEST(range(1, 12))", "unnest(range(8))").foreach { tok =>
      val e = intercept[IllegalArgumentException](
        Dialect.duckToSpark(s"SELECT 'x $tok y' AS s, UNNEST(range(2)) AS i"))
      assert(e.getMessage.contains(tok), s"reject must name <$tok>: ${e.getMessage}")
    }
    // an empty range is never rewritten, so quoting one corrupts nothing
    assert(Dialect.UnnestRange.hits("UNNEST(range(0))").isEmpty)
    assert(Dialect.duckToSpark("SELECT 'UNNEST(range(5, 5))' AS s") ==
      "SELECT 'UNNEST(range(5, 5))' AS s")
  }
}
