package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The bench's one retry rule and its sweep flag, as pure functions of
  * (first-pass walls, recorded medians): pinned on synthetic boundaries,
  * then replayed over the 13 same-tree r22 sweep records. Those sweeps
  * ran under the old five-defence stack (CPU probe, I/O canary, window
  * gate, canary backoff, expectation retry); the replay shows the
  * expectation retry alone re-runs exactly what the stack re-ran, and the
  * sweep-median flag catches every inflated sweep the canary flagged plus
  * the ones it missed.
  */
class BenchReplaySpec extends AnyFunSuite {

  private def walls(ts: Double*): Seq[(String, Double)] =
    ts.zipWithIndex.map { case (t, i) => s"q$i" -> t }
  private def expectAll(n: Int, e: Double): Map[String, Double] =
    (0 until n).map(i => s"q$i" -> e).toMap
  // clean riders keep the n/3 cap out of the boundary cases
  private val clean = Seq.fill(6)(1.0)

  test("slow boundaries: max(1.8e, e + 0.75) and the pure 2.0e ratio") {
    // e = 1: 1.8 x e binds; e = 0.2: the 2x ratio binds (sub-second class);
    // e = 2: 1.8 x e binds again (3.6 < 4.0)
    for ((e, edge) <- Seq(1.0 -> 1.8, 0.2 -> 0.4, 2.0 -> 3.6)) {
      val w = walls(Seq(edge, edge + 1e-6) ++ clean.map(_ * e): _*)
      assert(Bench.retrySet(w, expectAll(w.size, e)) == Set("q1"), s"e=$e")
    }
    // e = 0.5: the +0.75 s floor (1.25) sits above 2e, so 2.0e = 1.0 binds
    val w = walls(Seq(1.0, 1.0 + 1e-6) ++ clean.map(_ * 0.5): _*)
    assert(Bench.retrySet(w, expectAll(w.size, 0.5)) == Set("q1"))
  }

  test("failures always retry; entries without a recorded median never count as slow") {
    val w = walls(Seq(-1.0, 50.0) ++ clean: _*)
    assert(Bench.retrySet(w, expectAll(w.size, 1.0) - "q0" - "q1") == Set("q0"))
    assert(Bench.retrySet(w, expectAll(w.size, 1.0)) == Set("q0", "q1"))
  }

  test("n/3 cap keeps the worst ratios; failures ride outside the cap") {
    // 9 entries, all slow: the cap is 3, filled by the three worst ratios
    val w = walls(3.0, 9.0, 4.0, 8.0, 5.0, 7.0, 6.0, 3.5, 2.5)
    assert(Bench.retrySet(w, expectAll(9, 1.0)) == Set("q1", "q3", "q5"))
    val wf = w.updated(0, "q0" -> -1.0)
    assert(Bench.retrySet(wf, expectAll(9, 1.0)) == Set("q0", "q1", "q3", "q5"))
    assert(Bench.retrySet(walls(Seq.fill(9)(1.0): _*), expectAll(9, 1.0)).isEmpty)
  }

  test("sweep flag: median first-pass ratio against the one constant") {
    val e = expectAll(5, 1.0)
    val at = Bench.SweepInflated
    assert(Bench.sweepRatio(walls(0.5, at, at, 9.0, 9.0), e).contains(at))
    assert(!Bench.sweepInflated(walls(0.5, at, at, 9.0, 9.0), e))
    assert(Bench.sweepInflated(walls(0.5, at + 1e-6, at + 1e-6, 9.0, 9.0), e))
    // failed runs and entries without a row stay out of the median
    assert(Bench.sweepRatio(walls(-1.0, 2.0, 2.0), expectAll(2, 1.0) + ("q9" -> 1.0))
      .contains(2.0))
    assert(Bench.sweepRatio(walls(-1.0), e).isEmpty && !Bench.sweepInflated(walls(-1.0), e))
  }

  // ---- replay over the committed records --------------------------------

  private val mapper = new ObjectMapper()
  private def json(path: String): JsonNode = mapper.readTree(new java.io.File(path))
  private def numbers(n: JsonNode): Seq[(String, Double)] =
    n.properties.asScala.map(f => f.getKey -> f.getValue.asDouble).toSeq
  private def strings(r: JsonNode, field: String): Set[String] =
    Option(r.get(field)).toSeq.flatMap(_.elements.asScala.map(_.asText)).toSet

  // the sweeps ran against the round-20 medians; the flag is also read
  // against the medians recorded from them (tools/bench_expect.json)
  private lazy val expectRun = numbers(json("tools/bench_expect_r20.json")).toMap
  private lazy val expectNow = numbers(json("tools/bench_expect.json")).toMap
  private lazy val sweeps = (1 to 13).map(i => i -> json(s"tools/bench_r22_sweep$i.json"))
  private val inflated = Set(4, 5, 6, 7, 8, 9, 12, 13)

  /** A record holds min-of-two walls. An entry the old stack did not
    * re-run has its first pass recorded; a re-run entry's first pass is
    * only known to be at least its record, and, for a slow entry, above
    * the rule that listed it — so it is bounded by the record (`lo`) and
    * by infinity (`hi`). */
  private def firstPassBounds(r: JsonNode, rerun: Set[String])
      : (Seq[(String, Double)], Seq[(String, Double)]) = {
    val lo = numbers(r.get("queries"))
    (lo, lo.map { case (k, t) => k -> (if (rerun(k) && t >= 0) Double.PositiveInfinity else t) })
  }

  test("r22 records: the old stack's extra defences added no retry") {
    for ((i, r) <- sweeps) {
      val slow = strings(r, "slow")
      assert((strings(r, "retried") ++ strings(r, "window_retry")).subsetOf(slow), s"sweep $i")
      for (f <- Seq("suspect_env", "retry_contended", "refailed"))
        assert(strings(r, f).isEmpty, s"sweep $i: $f")
    }
  }

  test("r22 records: the expectation retry re-runs exactly what the old stack re-ran") {
    for ((i, r) <- sweeps) {
      val old = Seq("retried", "refailed", "slow", "window_retry")
        .flatMap(strings(r, _)).toSet
      val (_, hi) = firstPassBounds(r, old)
      assert(Bench.retrySet(hi, expectRun) == old, s"sweep $i")
    }
  }

  test("r22 records: the sweep flag fires on 4-9, 12, 13 and on none of 1-3, 10, 11") {
    for (expect <- Seq(expectNow, expectRun); (i, r) <- sweeps) {
      val (lo, hi) = firstPassBounds(r, strings(r, "slow"))
      // the ratio only grows with a wall, so `lo` firing means the real
      // first pass fired, and `hi` staying quiet means it stayed quiet
      if (inflated(i)) assert(Bench.sweepInflated(lo, expect), s"sweep $i missed")
      else assert(!Bench.sweepInflated(hi, expect), s"sweep $i flagged")
      // every sweep the canary flagged (7, 9, 12) stays flagged
      if (r.get("sweep_suspect_env").asBoolean) assert(inflated(i))
    }
  }

  test("a one-rule sweep record replays: retry set, flag and ratio from its first-pass walls") {
    val r = json("tools/bench_sweep_sf0.1_c4.json")
    val first = numbers(r.get("first_pass")).toMap
    val walls = numbers(r.get("queries")).map { case (k, t) => k -> first.getOrElse(k, t) }
    assert(Bench.retrySet(walls, expectNow) == strings(r, "retried"))
    assert(Bench.sweepInflated(walls, expectNow) == r.get("sweep_suspect_env").asBoolean)
    assert(math.abs(Bench.sweepRatio(walls, expectNow).get - r.get("sweep_ratio").asDouble) < 1e-3)
  }
}
