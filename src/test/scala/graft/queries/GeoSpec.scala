package graft.queries

import org.apache.spark.sql.functions._

import graft.GraftSuite

/** The geohash SQL expression must agree with the CANONICAL algorithm
  * (interval-halving bit refinement, lon first, base32) — pinned here
  * against an independent reference implementation so a regression in
  * the div/mod bit-interleave generation cannot hide behind the oracle
  * (which executes the same generated fragment). */
class GeoSpec extends GraftSuite {

  private def canonical(lat: Double, lon: Double, p: Int): String = {
    val b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    var (latLo, latHi, lonLo, lonHi) = (-90.0, 90.0, -180.0, 180.0)
    val bits = (0 until 5 * p).map { i =>
      if (i % 2 == 0) {
        val mid = (lonLo + lonHi) / 2
        if (lon >= mid) { lonLo = mid; 1 } else { lonHi = mid; 0 }
      } else {
        val mid = (latLo + latHi) / 2
        if (lat >= mid) { latLo = mid; 1 } else { latHi = mid; 0 }
      }
    }
    bits.grouped(5).map(g => b32(g.foldLeft(0)((a, b) => a * 2 + b))).mkString
  }

  test("generated geohash SQL matches the canonical interval-halving encoder") {
    val p = 3
    val rows = spark.range(1, 500).toDF("c_custkey")
      .select(col("c_custkey"),
        expr(Geo.latSql).as("lat"), expr(Geo.lonSql).as("lon"),
        expr(Dialect.duckToSpark(Geo.geohashBitsSql(p))).as("bits"))
      .selectExpr("c_custkey", "lat", "lon", Dialect.duckToSpark(Geo.geohashCharsSql(p)) + " AS gh")
      .collect()
    rows.foreach { r =>
      val want = canonical(r.getDouble(1), r.getDouble(2), p)
      assert(r.getString(3) === want,
        s"custkey=${r.getLong(0)} lat=${r.getDouble(1)} lon=${r.getDouble(2)}")
    }
  }

  /** Independent even-odd reference (java.awt-free): same crossing rule,
    * implemented in Scala instead of generated SQL. */
  private def inPoly(lat: Double, lon: Double, poly: Seq[(Double, Double)]): Boolean =
    poly.indices.count { i =>
      val (y1, x1) = poly(i)
      val (y2, x2) = poly((i + 1) % poly.size)
      ((y1 > lat) != (y2 > lat)) && (lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1)
    } % 2 == 1

  test("ray-cast SQL matches a reference implementation, concave ring included") {
    import spark.implicits._
    // A concave quadrilateral (arrowhead): the notch at (20, 60) puts points
    // "between the wings" OUTSIDE even though they are inside the hull —
    // exactly what a winding-unaware bbox or hull test would get wrong.
    val concave = Seq((0.01, 20.02), (40.03, 50.04), (0.05, 80.06), (20.07, 60.08))
    val pts = for (lat <- -5 to 45; lon <- 15 to 85) yield (lat + 0.5, lon + 0.5)
    val got = pts.toDF("lat", "lon")
      .select(col("lat"), col("lon"),
        expr(Geo.pointInPolygonSql("lat", "lon", concave)).as("in"))
      .collect()
    var inside = 0
    got.foreach { r =>
      val want = inPoly(r.getDouble(0), r.getDouble(1), concave)
      if (want) inside += 1
      assert(r.getBoolean(2) === want, s"(${r.getDouble(0)}, ${r.getDouble(1)})")
    }
    assert(inside > 100, s"degenerate test grid: only $inside inside points")
    // Horizontal edges are rejected at generation time, not at runtime.
    intercept[IllegalArgumentException] {
      Geo.pointInPolygonSql("lat", "lon", Seq((1.0, 0.0), (1.0, 5.0), (3.0, 2.0)))
    }
  }

  /** q194's envelope relations, independently derived: recompute each
    * customer's envelope in Scala from the same integer formulas and
    * classify against the query box with direct interval logic — a
    * regression in the generated CASE ordering (e.g. testing INTERSECTS
    * before WITHIN) cannot hide behind the oracle, which executes the
    * same fragment. */
  test("q194 envelope relations match a reference interval classifier") {
    val got = graft.SparkEntry.queries("q194_geo_shape")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val keys = graft.core.Tables(spark, sf, "customer")
      .select(col("c_custkey")).collect().map(_.getLong(0))
    val n = keys.length
    var nonDisjoint = 0
    keys.foreach { k =>
      val lat = (k * 7919 % 18000).toDouble / 100.0 - 90.0
      val lon = (k * 104729 % 36000).toDouble / 100.0 - 180.0
      val hh = (k * 131 % 80).toDouble / 10.0 + 1.0
      val hw = (k * 211 % 120).toDouble / 10.0 + 1.0
      val (ymin, ymax, xmin, xmax) = (lat - hh, lat + hh, lon - hw, lon + hw)
      val want =
        if (ymin >= -20 && ymax <= 35 && xmin >= 40 && xmax <= 130) Some("WITHIN")
        else if (ymin <= -20 && ymax >= 35 && xmin <= 40 && xmax >= 130) Some("CONTAINS")
        else if (ymin <= 35 && ymax >= -20 && xmin <= 130 && xmax >= 40) Some("INTERSECTS")
        else None
      if (want.isDefined) nonDisjoint += 1
      assert(got.get(k) === want, s"custkey=$k envelope=($ymin,$ymax,$xmin,$xmax)")
    }
    assert(nonDisjoint > 0 && nonDisjoint < n,
      s"degenerate fixture split: $nonDisjoint of $n non-disjoint")
    // all three positive relations should actually occur at fixture scale
    assert(got.values.toSet.contains("WITHIN") && got.values.toSet.contains("INTERSECTS"),
      s"relation diversity: ${got.values.toSet}")
  }
}
