package graft.sync

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSuite
import graft.model.ChangeLog.{Cell, ChangeEvent}

/** Unit pins for every §1.2 semantic of the reference pipeline
  * (HbaseDataSyncEsObserver.java:69-108): family-drop, per-field LWW,
  * partial-document merge, whole-doc delete, delete-then-put revival.
  * Each test is a tiny hand-built change log through the REAL fold. */
class DocSyncSpec extends GraftSuite {

  private def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)

  private def log(events: ChangeEvent*): DataFrame = {
    import spark.implicits._
    spark.createDataset(events).toDF()
  }

  private def put(key: String, seq: Long, cells: (String, String, String)*) =
    ChangeEvent("PUT", key, seq, ts(seq.toInt),
      cells.map { case (f, q, v) => Cell(f, q, v) })

  private def del(key: String, seq: Long) =
    ChangeEvent("DELETE", key, seq, ts(seq.toInt), null)

  private def docs(df: DataFrame): Map[String, Map[String, String]] =
    DocSync.fold(df).collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1).toMap).toMap

  private def increment(df: DataFrame): Map[String, (Map[String, String], Boolean)] =
    DocSync.foldIncrement(df).collect()
      .map(r => r.getString(0) -> (r.getMap[String, String](1).toMap -> r.getBoolean(2))).toMap

  test("family is dropped: doc keyed by qualifier only (Observer.java:74-79)") {
    val d = docs(log(put("k", 1, ("fam_a", "title", "t1"), ("fam_b", "size", "9"))))
    assert(d("k") === Map("title" -> "t1", "size" -> "9"))
  }

  test("same qualifier in two families: one field survives (HashMap.put semantics)") {
    // Within one Put the later cell in iteration order wins; our model pins
    // that order via cell position.
    val d = docs(log(put("k", 1, ("a", "q", "first"), ("b", "q", "second"))))
    assert(d("k") === Map("q" -> "second"))
  }

  test("multi-version within one Put: last cell wins (Observer.java:75-79)") {
    val d = docs(log(put("k", 1, ("f", "q", "v1"), ("f", "q", "v2"), ("f", "q", "v3"))))
    assert(d("k") === Map("q" -> "v3"))
  }

  test("LWW across Puts: highest seq wins per field") {
    val d = docs(log(
      put("k", 1, ("f", "x", "old"), ("f", "y", "keep")),
      put("k", 2, ("f", "x", "new"))))
    assert(d("k") === Map("x" -> "new", "y" -> "keep"))
  }

  test("partial merge: fields absent from later Puts survive (setDocAsUpsert)") {
    val d = docs(log(
      put("k", 1, ("f", "a", "1"), ("f", "b", "2"), ("f", "c", "3")),
      put("k", 2, ("f", "b", "22"))))
    assert(d("k") === Map("a" -> "1", "b" -> "22", "c" -> "3"))
  }

  test("delete removes the whole document, ignoring column scope (Observer.java:97-108)") {
    val d = docs(log(put("k", 1, ("f", "a", "1")), del("k", 2)))
    assert(!d.contains("k"))
  }

  test("delete-then-put revives with only the new fields") {
    val d = docs(log(
      put("k", 1, ("f", "a", "1"), ("f", "b", "2")),
      del("k", 2),
      put("k", 3, ("f", "c", "3"))))
    assert(d("k") === Map("c" -> "3"))
  }

  test("put-before-delete at lower seq is dead even if it arrives later in the frame") {
    // order of rows in the DataFrame must not matter — only seq does
    val d = docs(log(
      put("k", 3, ("f", "late", "x")),
      del("k", 2),
      put("k", 1, ("f", "early", "y"))))
    assert(d("k") === Map("late" -> "x"))
  }

  test("keys are independent") {
    val d = docs(log(put("a", 1, ("f", "q", "1")), del("b", 2), put("b", 3, ("f", "q", "2"))))
    assert(d === Map("a" -> Map("q" -> "1"), "b" -> Map("q" -> "2")))
  }

  test("incremental merge over batch splits == one-shot fold (prefix consistency)") {
    val events = Seq(
      put("k1", 1, ("f", "a", "1")),
      put("k2", 2, ("f", "b", "2")),
      del("k1", 3),
      put("k1", 4, ("f", "c", "3")),
      put("k2", 5, ("f", "b", "22"), ("f", "d", "4")),
      del("k3", 6),
      put("k3", 7, ("f", "e", "5")))

    val oneShot = docs(log(events: _*))

    // replay in 3 uneven batches through foldIncrement + merge
    import org.apache.spark.sql.types._
    val emptyState = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("rowKey", StringType),
        StructField("doc", MapType(StringType, StringType)))))
    val batches = Seq(events.take(2), events.slice(2, 5), events.drop(5))
    val finalState = batches.foldLeft(emptyState) { (state, b) =>
      DocSync.merge(state, DocSync.foldIncrement(log(b: _*)))
    }
    val incremental = finalState.collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1).toMap).toMap
    assert(incremental === oneShot)
  }

  test("increment: a key with only cell-less Puts is absent, so it dirties no bucket") {
    // a wire-decoded Put may carry no cells array at all
    val noCells = ChangeEvent("PUT", "empty", 2, ts(2), null)
    val inc = increment(log(put("empty", 1), noCells, put("live", 3, ("f", "a", "1"))))
    assert(inc === Map("live" -> (Map("a" -> "1") -> false)))
  }

  test("increment: a key with only a Delete is present, empty delta and hadDelete") {
    val inc = increment(log(del("gone", 1), put("live", 2, ("f", "a", "1"))))
    assert(inc === Map("gone" -> (Map.empty[String, String] -> true),
      "live" -> (Map("a" -> "1") -> false)))
  }

  test("_coverage commits by atomic rename: a .tmp marker is invisible, none is left behind") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def table(df: DataFrame): Map[String, Map[String, String]] =
      df.collect().map(r => r.getString(0) -> r.getMap[String, String](1).toMap).toMap
    def tmpMarkers(dir: String): Seq[String] =
      Files.walk(Paths.get(dir)).iterator().asScala.map(_.toString)
        .filter(_.endsWith(".tmp")).toSeq

    val dir = graft.core.Staging.scratchDir("graft_docsync_commit")
    DocSync.mergeBatch(spark, log(put("a", 1, ("f", "q", "1"))), dir, 4)
    DocSync.mergeBatch(spark, log(put("b", 2, ("f", "q", "2"))), dir, 4)
    assert(tmpMarkers(dir).isEmpty)
    DocSync.compact(spark, dir, 4)
    assert(tmpMarkers(dir).isEmpty)
    val committed = table(DocSync.docTable(spark, dir, 4))
    assert(committed === Map("a" -> Map("q" -> "1"), "b" -> Map("q" -> "2")))

    // a crash before the rename: the next version holds parquet files and
    // only the temp marker, which must read as no commit at all
    val torn = new java.io.File(dir, "v3")
    DocSync.fold(log(put("c", 3, ("f", "q", "3"))))
      .withColumn("bucket", lit(0))
      .write.mode("overwrite").partitionBy("bucket").parquet(torn.getPath)
    Files.writeString(new java.io.File(torn, "_coverage.tmp").toPath, "0,1,2,3")
    assert(table(DocSync.docTable(spark, dir, 4)) === committed)
    assert(table(DocSync.snapshot(spark, dir, asOf = 3, numBuckets = 4)) === committed)
  }
}
