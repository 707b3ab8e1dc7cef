package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Geo query surface — the ES 6.3 geo DSL analogs (`geo_distance`,
  * `geo_bounding_box`, `geohash_grid`), the reference's delivered search
  * engine supports these out of the box (provenance: pom.xml:36-46 pins
  * ES 6.3, whose core DSL includes the geo family).
  *
  * The fixtures carry no geo columns, so coordinates are SYNTHESIZED
  * deterministically from `c_custkey` with integer arithmetic — the same
  * SQL fragment is fed verbatim to the DuckDB oracle and the Spark side
  * (the bridged twin of an `Entry.sql` entry, or `expr` in a body). For q88/q89 the math is integer/exactly-rounded IEEE ops
  * (div, mod, sqrt-free), so cross-engine equality is exact by
  * construction. q87's haversine uses transcendentals (sin/cos/asin),
  * which are NOT correctly-rounded — Java Math vs DuckDB's libm may
  * differ in the last ulps, so a row landing within ulps of the 2000 km
  * filter edge or a ROUND(.,3) half-point could in principle diverge;
  * the boundary measure is ~1e-7 over the whole corpus, accepted and
  * documented rather than claimed away. On a real deployment the
  * derivation seam is replaced by real lat/lon columns and everything
  * downstream is unchanged.
  *
  * Scale posture: all three are scan + pushable-filter + hash-agg shapes —
  * no joins, no windows. The geohash encoder is pure div/mod integer
  * arithmetic (a standard MSB-first lon/lat bit interleave, base32
  * alphabet), fully inside whole-stage codegen; at 100 TB a geohash_grid
  * is one map-side-combinable aggregation keyed by the cell string.
  */
object Geo {

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Synthetic coordinates: lat in [-90, 90), lon in [-180, 180), two
    * decimal digits, from the customer key (BIGINT math — no overflow).
    * The explicit DOUBLE cast pins BOTH engines to IEEE double division:
    * without it DuckDB reads `100.0` as DECIMAL and computes exactly,
    * diverging from Spark's double result in the low bits. */
  val latSql = "CAST(CAST(c_custkey AS BIGINT) * 7919 % 18000 AS DOUBLE) / 100.0 - 90.0"
  val lonSql = "CAST(CAST(c_custkey AS BIGINT) * 104729 % 36000 AS DOUBLE) / 100.0 - 180.0"

  /** Haversine distance (km) from (10, 20) — mean-earth-radius 6371.0088.
    * One fragment, both engines. */
  val distSql: String =
    """2 * 6371.0088 * asin(sqrt(
      |  pow(sin(radians(lat - 10.0) / 2), 2) +
      |  cos(radians(lat)) * cos(radians(10.0)) * pow(sin(radians(lon - 20.0) / 2), 2)
      |))""".stripMargin.replace("\n", " ")

  /** Geohash cell id at precision `p` (5 bits/char, even bit positions from
    * the MSB are longitude — the standard encoding) as a single integer
    * expression over the scaled-integer coordinates, in DuckDB SQL (a
    * Spark caller bridges it with [[Dialect.duckToSpark]]). Bit
    * extraction is div/mod arithmetic, not engine bit operators, so the
    * bridge's `//` → `div` is the only dialect difference. */
  def geohashBitsSql(p: Int): String = {
    val lonBits = (5 * p + 1) / 2
    val latBits = 5 * p / 2
    val latK = "(CAST(c_custkey AS BIGINT) * 7919 % 18000)"
    val lonM = "(CAST(c_custkey AS BIGINT) * 104729 % 36000)"
    val ilat = s"($latK * ${1L << latBits} // 18000)"
    val ilon = s"($lonM * ${1L << lonBits} // 36000)"
    (0 until 5 * p).map { j =>
      val (src, bit) =
        if (j % 2 == 0) (ilon, lonBits - 1 - j / 2) else (ilat, latBits - 1 - (j - 1) / 2)
      s"(($src // ${1L << bit}) % 2) * ${1L << (5 * p - 1 - j)}"
    }.mkString("(", " + ", ")")
  }

  /** Base32 rendering of a precomputed `bits` column at precision `p`,
    * in DuckDB SQL like [[geohashBitsSql]]. */
  def geohashCharsSql(p: Int): String =
    (0 until p).map { c =>
      s"substr('0123456789bcdefghjkmnpqrstuvwxyz', " +
        s"CAST((bits // ${1L << (5 * (p - 1 - c))}) % 32 AS INT) + 1, 1)"
    }.mkString("concat(", ", ", ")")

  private val ghPrecision = 3

  /** q194's per-doc envelope half-extents (degrees): 1.0–8.9 lat,
    * 1.0–12.9 lon, one decimal, derived from the key like [[latSql]] —
    * the same DOUBLE-pinned integer arithmetic, shared verbatim. */
  val shapeHhSql = "CAST(CAST(c_custkey AS BIGINT) * 131 % 80 AS DOUBLE) / 10.0 + 1.0"
  val shapeHwSql = "CAST(CAST(c_custkey AS BIGINT) * 211 % 120 AS DOUBLE) / 10.0 + 1.0"

  /** Ray-cast (even-odd) point-in-polygon as ONE arithmetic SQL fragment
    * shared verbatim by both engines: for each edge, a crossing test
    * `(y1 > lat) <> (y2 > lat) AND lon < x-intercept`, summed and taken
    * mod 2. Unrolled edges are plain CASE/compare/divide arithmetic —
    * fully inside whole-stage codegen and pushable to the scan once
    * lat/lon are real columns (the q88 bbox posture). Both engines
    * evaluate the identical IEEE-double expression, so cross-engine
    * equality is exact by construction, boundary points included. For
    * polygons too large to unroll (hundreds of vertices) the scale path is
    * a custom codegen'd Expression holding the vertex array, same test.
    * Vertices must avoid horizontal edges (y1 == y2 divides by zero);
    * [[polygon]] below keeps all latitudes distinct. */
  def pointInPolygonSql(latCol: String, lonCol: String,
                        poly: Seq[(Double, Double)]): String = {
    require(poly.size >= 3, "polygon needs >= 3 vertices")
    poly.indices.map { i =>
      val (y1, x1) = poly(i)
      val (y2, x2) = poly((i + 1) % poly.size)
      require(y1 != y2, s"horizontal edge at vertex $i (ray-cast div-by-zero)")
      s"(CASE WHEN (($y1 > $latCol) <> ($y2 > $latCol)) AND " +
        s"($lonCol < ($x2 - $x1) * ($latCol - $y1) / ($y2 - $y1) + $x1) THEN 1 ELSE 0 END)"
    }.mkString("(", " + ", ") % 2 = 1")
  }

  /** q189's query polygon: an irregular (convexity not assumed — the
    * ray-cast handles concave rings too) pentagon over the synthesized
    * coordinate space, (lat, lon) pairs, all latitudes distinct. */
  val polygon: Seq[(Double, Double)] = Seq(
    (5.01, 30.02), (55.03, 20.01), (60.07, 80.04), (30.05, 120.06), (-10.03, 70.08))

  // ---- q200: general ring-vs-ring geo_shape ---------------------------
  // The scale path SURVEY's Q194 note promised: polygon DOC shapes vs
  // polygon QUERY shapes. Doc shape = a triangle from the same
  // center/half-extent seam as q194 (vertex fragments shared verbatim by
  // both engines); query shapes = three fixed rings, including a small
  // one so CONTAINS actually occurs. The refine is pure orientation
  // arithmetic (cross-product ccw signs), IEEE-identical cross-engine.

  /** q200 doc-triangle vertex columns (d1..d3 as (y=lat, x=lon)), one
    * fragment list shared verbatim by Spark and the oracle CTE. */
  val triVertexSelectSql: String =
    """lat + hh AS d1y, lon AS d1x,
      |lat - hh * CAST(0.6 AS DOUBLE) AS d2y, lon + hw AS d2x,
      |lat - hh AS d3y, lon - hw * CAST(0.8 AS DOUBLE) AS d3x""".stripMargin.replace("\n", " ")

  /** q200's query rings (qid -> (lat, lon) vertices, distinct lats per
    * ring for the ray-cast). Ring 3 is deliberately small (~3 degrees)
    * so doc triangles can CONTAIN it. */
  val ringsQ200: Seq[(Int, Seq[(Double, Double)])] = Seq(
    1 -> polygon,
    2 -> Seq((10.02, -150.01), (45.04, -140.03), (50.06, -60.02), (-20.05, -70.04)),
    3 -> Seq((2.01, 83.02), (1.53, 84.55), (0.52, 83.51)))

  /** Signed area of triangle a->b->c (positive = counter-clockwise) —
    * the orientation predicate every segment test is built from. */
  private def ccw(ax: String, ay: String, bx: String, by: String,
                  cx: String, cy: String): String =
    s"((($bx) - ($ax)) * (($cy) - ($ay)) - ((($by) - ($ay)) * (($cx) - ($ax))))"

  /** Proper-crossing test for segment (a,b) vs (c,d): each segment's
    * endpoints straddle the other's supporting line (strict — touches
    * are handled by the containment branches, consistently in both
    * engines since the arithmetic is shared). */
  private def properCross(ax: String, ay: String, bx: String, by: String,
                          cx: String, cy: String, dx: String, dy: String): String =
    s"(${ccw(ax, ay, bx, by, cx, cy)} * ${ccw(ax, ay, bx, by, dx, dy)} < 0 AND " +
      s"${ccw(cx, cy, dx, dy, ax, ay)} * ${ccw(cx, cy, dx, dy, bx, by)} < 0)"

  private val triEdges: Seq[(String, String, String, String)] = Seq(
    ("d1x", "d1y", "d2x", "d2y"), ("d2x", "d2y", "d3x", "d3y"), ("d3x", "d3y", "d1x", "d1y"))

  /** Relation label for the doc triangle vs one constant query ring.
    * No edge crossing + a doc vertex inside ⇒ the whole simple triangle
    * is inside (WITHIN); no crossing + a ring vertex inside the triangle
    * ⇒ the whole ring is (CONTAINS); any crossing or one-sided
    * containment ⇒ INTERSECTS; else DISJOINT. */
  private def ringRelationSql(poly: Seq[(Double, Double)]): String = {
    val cross = poly.indices.flatMap { j =>
      val (qy1, qx1) = poly(j)
      val (qy2, qx2) = poly((j + 1) % poly.size)
      triEdges.map { case (ax, ay, bx, by) =>
        properCross(ax, ay, bx, by, s"($qx1)", s"($qy1)", s"($qx2)", s"($qy2)")
      }
    }.mkString("(", " OR ", ")")
    val dvInQ = s"(${pointInPolygonSql("d1y", "d1x", poly)})"
    val (qy, qx) = poly.head
    val s1 = ccw("d1x", "d1y", "d2x", "d2y", s"($qx)", s"($qy)")
    val s2 = ccw("d2x", "d2y", "d3x", "d3y", s"($qx)", s"($qy)")
    val s3 = ccw("d3x", "d3y", "d1x", "d1y", s"($qx)", s"($qy)")
    val qvInT = s"(($s1 > 0 AND $s2 > 0 AND $s3 > 0) OR ($s1 < 0 AND $s2 < 0 AND $s3 < 0))"
    s"CASE WHEN NOT $cross AND $dvInQ THEN 'WITHIN' " +
      s"WHEN NOT $cross AND $qvInT THEN 'CONTAINS' " +
      s"WHEN $cross OR $dvInQ OR $qvInT THEN 'INTERSECTS' ELSE 'DISJOINT' END"
  }

  /** qid-dispatched relation fragment — the ORACLE's brute-force side
    * (DuckDB executes it over the full cross product; statement size is
    * no concern there). */
  val q200RelationSql: String =
    "CASE qid " + ringsQ200.map { case (q, p) => s"WHEN $q THEN ${ringRelationSql(p)}" }
      .mkString(" ") + " END"

  // Spark-side refine: the SAME arithmetic, but over a RING ARRAY column
  // instead of per-ring literal unrolling. The unrolled CASE (3 rings x
  // 36 edge-pair crossings x 4 cross products + two ray casts) compiles
  // to >64 KB of Java in one method — Janino rejects it, whole-stage
  // codegen falls back, and the refine runs as a 3000-node interpreted
  // tree (measured 6.2 s at sf0.1, the most expensive entry in the
  // suite). Higher-order functions over an array<struct<y,x>> ring keep
  // the expression O(1) in ring size — the per-edge lambda bodies are a
  // few dozen nodes looped at runtime — and make rings DATA: at 100 TB
  // the query-shape set arrives as a broadcast table of any size without
  // recompiling a plan, the posture a real geo_shape service needs.
  // Every operand ordering below mirrors [[ringRelationSql]] /
  // [[pointInPolygonSql]] verbatim, so results stay IEEE-identical to
  // the oracle's brute force.

  /** Ring edge list: e.p -> e.q consecutive-vertex pairs (wrapping). */
  val q200EdgesSql: String =
    "transform(ring, (v, i) -> named_struct('p', v, " +
      "'q', element_at(ring, CAST((i + 1) % size(ring) AS INT) + 1)))"

  /** Any tri edge properly crossing any ring edge (strict straddle both
    * ways — [[properCross]] with (c,d) = the ring edge). */
  val q200CrossSql: String = {
    def pc(ax: String, ay: String, bx: String, by: String): String =
      s"(${ccw(ax, ay, bx, by, "e.p.x", "e.p.y")} * ${ccw(ax, ay, bx, by, "e.q.x", "e.q.y")} < 0 AND " +
        s"${ccw("e.p.x", "e.p.y", "e.q.x", "e.q.y", ax, ay)} * ${ccw("e.p.x", "e.p.y", "e.q.x", "e.q.y", bx, by)} < 0)"
    triEdges.map { case (ax, ay, bx, by) => pc(ax, ay, bx, by) }
      .mkString("exists(re, e -> ", " OR ", ")")
  }

  /** Doc vertex d1 inside the ring: [[pointInPolygonSql]]'s ray-cast as
    * a fold over the edge array (crossing-count parity — order-free). */
  val q200DocInRingSql: String =
    "aggregate(re, 0, (acc, e) -> acc + (CASE WHEN ((e.p.y > d1y) <> (e.q.y > d1y)) AND " +
      "(d1x < (e.q.x - e.p.x) * (d1y - e.p.y) / (e.q.y - e.p.y) + e.p.x) THEN 1 ELSE 0 END)) % 2 = 1"

  /** Ring vertex 0 inside the doc triangle (all three ccw signs agree). */
  val q200RingInDocSql: String = {
    val s1 = ccw("d1x", "d1y", "d2x", "d2y", "element_at(ring, 1).x", "element_at(ring, 1).y")
    val s2 = ccw("d2x", "d2y", "d3x", "d3y", "element_at(ring, 1).x", "element_at(ring, 1).y")
    val s3 = ccw("d3x", "d3y", "d1x", "d1y", "element_at(ring, 1).x", "element_at(ring, 1).y")
    s"(($s1 > 0 AND $s2 > 0 AND $s3 > 0) OR ($s1 < 0 AND $s2 < 0 AND $s3 < 0))"
  }

  /** Relation label from the three per-pair booleans ([[ringRelationSql]]'s
    * CASE, lifted over columns). */
  val q200LabelSql: String =
    "CASE WHEN NOT crossed AND din THEN 'WITHIN' " +
      "WHEN NOT crossed AND qin THEN 'CONTAINS' " +
      "WHEN crossed OR din OR qin THEN 'INTERSECTS' ELSE 'DISJOINT' END"

  /** Coarse candidate grid: 15-degree cells keyed cy*64+cx over
    * (lat+90, lon+180). Bbox-rasterized cell sets of two shapes share a
    * cell whenever their bboxes overlap, so the candidate join is
    * LOSSLESS for any non-disjoint pair (the oracle's brute force would
    * expose a pruned true pair as a missing row). */
  /** Driver-side rasterization of each query ring's bbox into cells —
    * O(rings x cells), a broadcast-sized table at any corpus scale. */
  def q200QueryCells: Seq[(Int, Int)] =
    ringsQ200.flatMap { case (qid, poly) =>
      val lats = poly.map(_._1); val lons = poly.map(_._2)
      val cy0 = math.floor((lats.min + 90) / 15).toInt
      val cy1 = math.floor((lats.max + 90) / 15).toInt
      val cx0 = math.floor((lons.min + 180) / 15).toInt
      val cx1 = math.floor((lons.max + 180) / 15).toInt
      for (cy <- cy0 to cy1; cx <- cx0 to cx1) yield (qid, cy * 64 + cx)
    }

  val entries: Seq[Entry] = Seq(

    // ES geo_distance: customers within 2000 km of the query point. The
    // rounded distance is projected; the FILTER uses the unrounded value
    // (ES filters on true distance too).
    Entry.sql("q87_geo_distance",
      s"""WITH g AS (SELECT c_custkey, $latSql AS lat, $lonSql AS lon FROM customer)
        |SELECT c_custkey, ROUND($distSql, 3) AS dist_km
        |FROM g WHERE $distSql <= 2000 ORDER BY c_custkey""".stripMargin),

    // ES geo_distance AGGREGATION (SURVEY Q281; VERDICT r17 #3): the
    // "stores within 2000/5000/10000 km" facet (continental radii — the
    // fixture's synthetic lat/lon spread the customers planet-wide, so
    // city-scale rings would leave most buckets empty) — distance-range
    // buckets from the q87 origin over the SAME shared haversine
    // fragment, q27's
    // CASE-range shape: one map-side-combinable hash agg to O(ranges)
    // rows, no joins. Bucket keys are ES's "<from>-<to>" labels with
    // from/to carried as columns (ES returns both); the open tail's `to`
    // is NULL. Bucket count + exact min/max distance per bucket (min/max
    // of doubles is order-independent — no cross-engine summation drift;
    // the ROUND/boundary ulp posture is q87's, documented there).
    Entry.sql("q281_geo_distance_agg",
      s"""WITH g AS (SELECT c_custkey, $latSql AS lat, $lonSql AS lon FROM customer),
        |d AS (SELECT c_custkey, $distSql AS dist FROM g),
        |b AS (SELECT dist,
        |  CAST(CASE WHEN dist < 2000 THEN 0.0 WHEN dist < 5000 THEN 2000.0
        |       WHEN dist < 10000 THEN 5000.0 ELSE 10000.0 END AS DOUBLE) AS from_km,
        |  CAST(CASE WHEN dist < 2000 THEN 2000.0 WHEN dist < 5000 THEN 5000.0
        |       WHEN dist < 10000 THEN 10000.0 ELSE NULL END AS DOUBLE) AS to_km
        |FROM d)
        |SELECT CASE WHEN from_km = 0.0 THEN '*-2000.0'
        |            WHEN to_km IS NULL THEN '10000.0-*'
        |            ELSE CAST(from_km AS VARCHAR) || '-' || CAST(to_km AS VARCHAR) END AS bucket,
        |       from_km, to_km, COUNT(*) AS n_docs,
        |       ROUND(MIN(dist), 3) AS min_km, ROUND(MAX(dist), 3) AS max_km
        |FROM b GROUP BY 1, 2, 3 ORDER BY from_km""".stripMargin),

    // ES geo_bounding_box: pure range predicate on both axes — pushes to
    // the scan once lat/lon are real columns.
    Entry.sql("q88_geo_bbox",
      s"""WITH g AS (SELECT c_custkey, $latSql AS lat, $lonSql AS lon FROM customer)
        |SELECT c_custkey, lat, lon FROM g
        |WHERE lat BETWEEN -30 AND 30 AND lon BETWEEN 50 AND 120
        |ORDER BY c_custkey""".stripMargin),

    // ES geo_centroid: the mean coordinate per bucket (here per market
    // segment — on a deployment, per geohash cell or term bucket). One
    // map-side-combinable hash agg; AVG partials are (sum, count) pairs so
    // the shuffle is O(buckets). The coordinates carry two decimals, so
    // double summation error is ~1e-12 relative and ROUND(.,6) is stable
    // across engine summation orders.
    Entry.sql("q103_geo_centroid",
      s"""WITH g AS (SELECT c_mktsegment AS seg, $latSql AS lat, $lonSql AS lon FROM customer)
        |SELECT seg, COUNT(*) AS n,
        |       ROUND(AVG(lat), 6) AS c_lat, ROUND(AVG(lon), 6) AS c_lon
        |FROM g GROUP BY 1 ORDER BY seg""".stripMargin),

    // ES geo_bounds: the smallest box enclosing each bucket's points —
    // top/bottom = max/min lat, left/right = min/max lon. Four
    // map-side-combinable min/max partials per bucket, O(buckets) shuffle;
    // the coordinates are exact two-decimal values so min/max equality is
    // exact across engines (no summation involved).
    Entry.sql("q116_geo_bounds",
      s"""WITH g AS (SELECT c_mktsegment AS seg, $latSql AS lat, $lonSql AS lon FROM customer)
        |SELECT seg, COUNT(*) AS n,
        |       ROUND(MAX(lat), 6) AS top, ROUND(MIN(lat), 6) AS bottom,
        |       ROUND(MIN(lon), 6) AS left_lon, ROUND(MAX(lon), 6) AS right_lon
        |FROM g GROUP BY 1 ORDER BY seg""".stripMargin),

    // ES geo_polygon: customers inside an arbitrary polygon ring — the one
    // 6.3 geo filter beyond distance/bbox/grid. Same scan + pushable-filter
    // shape as q88; the predicate is the unrolled ray-cast fragment.
    Entry.sql("q189_geo_polygon",
      s"""WITH g AS (SELECT c_custkey, $latSql AS lat, $lonSql AS lon FROM customer)
        |SELECT c_custkey, lat, lon FROM g
        |WHERE ${pointInPolygonSql("lat", "lon", polygon)}
        |ORDER BY c_custkey""".stripMargin),

    // ES geo_shape shape-vs-shape — each document carries an indexed
    // SHAPE (here: an "envelope", a first-class ES 6.3 geo_shape type)
    // and the query supplies a shape plus a relation (INTERSECTS /
    // WITHIN / CONTAINS / DISJOINT). The doc envelopes are synthesized
    // from c_custkey exactly like q87-q89's points (same derivation seam:
    // deterministic center + per-doc half-extents, one SQL fragment fed
    // verbatim to both engines), so the entry is oracle-checked, not a
    // disposition. Envelope-vs-envelope relations are pure interval
    // arithmetic — exact in IEEE doubles, fully inside whole-stage
    // codegen, and pushable to the scan once the envelope is stored as
    // real (ymin,ymax,xmin,xmax) columns, which is precisely how a
    // deployment would index it (ES stores a triangulated/grid form; the
    // bbox prefilter is the part that touches every doc). General
    // ring-vs-ring at 100 TB layers the same posture: coarse grid-cell
    // join (q89's geohash cells) to find candidates, then an exact
    // refine with a codegen'd Expression holding the query ring — the
    // q189 ray-cast note's scale path, applied pairwise.
    Entry.sql("q194_geo_shape",
      s"""WITH g AS (SELECT c_custkey, $latSql AS lat, $lonSql AS lon,
        |  $shapeHhSql AS hh, $shapeHwSql AS hw FROM customer),
        |e AS (SELECT c_custkey, lat - hh AS ymin, lat + hh AS ymax,
        |             lon - hw AS xmin, lon + hw AS xmax FROM g),
        |r AS (SELECT c_custkey,
        |  CASE WHEN ymin >= -20 AND ymax <= 35 AND xmin >= 40 AND xmax <= 130 THEN 'WITHIN'
        |       WHEN ymin <= -20 AND ymax >= 35 AND xmin <= 40 AND xmax >= 130 THEN 'CONTAINS'
        |       WHEN ymin <= 35 AND ymax >= -20 AND xmin <= 130 AND xmax >= 40 THEN 'INTERSECTS'
        |       ELSE 'DISJOINT' END AS relation FROM e)
        |SELECT c_custkey, relation FROM r
        |WHERE relation <> 'DISJOINT' ORDER BY c_custkey""".stripMargin),

    // ES geohash_grid: bucket count per geohash cell (precision 3).
    Entry.sql("q89_geohash_grid",
      s"""WITH b AS (SELECT ${geohashBitsSql(ghPrecision)} AS bits FROM customer),
        |g AS (SELECT ${geohashCharsSql(ghPrecision)} AS gh FROM b)
        |SELECT gh, COUNT(*) AS n FROM g GROUP BY 1 ORDER BY gh""".stripMargin),

    // General ring-vs-ring geo_shape — the q194 envelope entry's declared
    // scale path (SURVEY Q194/Q200). Spark side: doc triangles emit the
    // coarse grid cells their bbox overlaps (<= 9 each), query rings
    // pre-rasterize into a tiny BROADCAST table, a broadcast-hash
    // equi-join on cell yields candidate (doc, ring) pairs — docs sharing
    // no cell with any ring are pruned as DISJOINT without ever running
    // the refine, the O(candidates) bound that survives 100 TB. The exact
    // refine (edge-pair proper crossings + both-way containment) is plain
    // codegen'd arithmetic on the joined rows. The oracle BRUTE-FORCES
    // the identical refine over the full customer x rings cross product,
    // so hash equality also proves the candidate grid lossless: a pruned
    // true pair would surface as a missing row. PlanShapeSpec pins the
    // join-bounded shape (broadcast hash join on cell, no cartesian).
    Entry("q200_geo_shape_rings",
      s"""WITH g AS (SELECT c_custkey, $latSql AS lat, $lonSql AS lon,
        |  $shapeHhSql AS hh, $shapeHwSql AS hw FROM customer),
        |t AS (SELECT c_custkey, $triVertexSelectSql FROM g),
        |p AS (SELECT c_custkey, qid, $q200RelationSql AS relation
        |      FROM t CROSS JOIN (VALUES (1), (2), (3)) AS q(qid))
        |SELECT c_custkey, qid, relation FROM p
        |WHERE relation <> 'DISJOINT' ORDER BY c_custkey, qid""".stripMargin) { (s, d) =>
      import s.implicits._
      val tri = T(s, d, "customer")
        .select(col("c_custkey"),
                expr(latSql).as("lat"), expr(lonSql).as("lon"),
                expr(shapeHhSql).as("hh"), expr(shapeHwSql).as("hw"))
        .selectExpr("c_custkey" +: triVertexSelectSql.split(",").map(_.trim): _*)
      val docCells = tri
        .withColumn("ymin", least(col("d1y"), col("d2y"), col("d3y")))
        .withColumn("ymax", greatest(col("d1y"), col("d2y"), col("d3y")))
        .withColumn("xmin", least(col("d1x"), col("d2x"), col("d3x")))
        .withColumn("xmax", greatest(col("d1x"), col("d2x"), col("d3x")))
        .withColumn("cell", explode(expr(
          """flatten(transform(
            |  sequence(cast(floor((ymin + 90) / 15) as int), cast(floor((ymax + 90) / 15) as int)),
            |  cy -> transform(
            |    sequence(cast(floor((xmin + 180) / 15) as int), cast(floor((xmax + 180) / 15) as int)),
            |    cx -> cy * 64 + cx)))""".stripMargin)))
      val queryCells = q200QueryCells.toDF("qid", "cell")
      val rings = ringsQ200.toDF("qid", "ring0")
        .selectExpr("qid", "transform(ring0, v -> named_struct('y', v._1, 'x', v._2)) AS ring")
      docCells.join(broadcast(queryCells), Seq("cell"))
        .dropDuplicates("c_custkey", "qid")
        .join(broadcast(rings), Seq("qid"))
        .withColumn("re", expr(q200EdgesSql))
        .withColumn("crossed", expr(q200CrossSql))
        .withColumn("din", expr(q200DocInRingSql))
        .withColumn("qin", expr(q200RingInDocSql))
        .withColumn("relation", expr(q200LabelSql))
        // Pushdown barrier: a bare filter here gets substituted through
        // the projection and into the rings-join condition, re-evaluating
        // the HOF refine once per CASE branch (measured: exists x4,
        // aggregate x3 in the plan). Predicates cannot push through an
        // Aggregate on a non-grouping column, so a first()-fold on the
        // already-(c_custkey, qid)-partitioned rows pins the refine to
        // ONE evaluation per candidate pair — the dedup aggregate just
        // below establishes that partitioning, so this adds no exchange
        // (PlanShapeSpec pins both the single occurrence and the
        // exchange count).
        .groupBy(col("c_custkey"), col("qid"))
        .agg(first(col("relation")).as("relation"))
        .filter(col("relation") =!= "DISJOINT")
        .select(col("c_custkey"), col("qid"), col("relation"))
        .orderBy(col("c_custkey"), col("qid"))
    }
  )
}
