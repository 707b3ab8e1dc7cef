package graft.queries

import org.apache.spark.sql.functions._

import graft.{GraftSuite, SparkEntry}
import graft.core.{Staging, Tables}

/** At-rest layout + physical-strategy evidence for the 100 TB posture
  * (SURVEY.md §4.3): the fixtures are single files, but the production
  * layout is date/key-partitioned — these tests pin that the engine's
  * plans actually prune partitions on such a layout, and that results are
  * invariant to the join strategy Catalyst picks (broadcast at fixture
  * scale, sort-merge at cluster scale). */
class PhysicalLayoutSpec extends GraftSuite {

  test("date-partitioned layout: day filter prunes partitions at the scan") {
    val dir = Staging.scratchDir("graft_part_events")
    Tables(spark, sf, "events")
      .withColumn("day", date_trunc("day", col("ts")).cast("date"))
      .write.mode("overwrite").partitionBy("day").parquet(dir)

    val q = spark.read.parquet(dir).filter(col("day") === "2024-01-02")
      .agg(count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"),
      s"no partition filter pushed:\n$plan")

    // and the pruned count matches the unpartitioned predicate
    val expected = Tables(spark, sf, "events")
      .filter(date_trunc("day", col("ts")).cast("date") === "2024-01-02").count()
    assert(q.collect()(0).getLong(0) === expected)
  }

  test("join results are invariant to strategy: broadcast vs sort-merge") {
    val broadcastResult = SparkEntry.queries("q12_inner_join")(spark, sf).collect().toSeq
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = SparkEntry.queries("q12_inner_join")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffle join with broadcast disabled:\n$plan")
      assert(df.collect().toSeq === broadcastResult)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("bucketed layout: both-side bucketed join plans with NO shuffle exchange") {
    // SCALE.md's fact-fact join claim (lineitem ⋈ orders at 100 TB):
    // bucketing both tables on the join key pre-removes the co-shuffle.
    // Prove it: same-bucket-count saveAsTable on the key, broadcast off,
    // and the join must read bucketed scans directly — zero Exchange.
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Tables(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
        .write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("graft_bkt_lineitem")
      Tables(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("graft_bkt_orders")

      val j = spark.table("graft_bkt_lineitem")
        .join(spark.table("graft_bkt_orders"),
              col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")

      // and the bucketed result matches the plain-parquet join
      val plain = Tables(spark, sf, "lineitem")
        .join(Tables(spark, sf, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(j.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === plain)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      spark.sql("DROP TABLE IF EXISTS graft_bkt_lineitem")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_orders")
    }
  }
}
