package graft.sync

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.GraftSuite
import graft.model.ChangeLog.{Cell, ChangeEvent}

/** Property pin (SURVEY.md §5.2.4): for ANY change log, the distributed
  * relational fold must equal a trivially-correct sequential in-memory
  * replay. Random logs cover collision orders, revivals and empty Puts the
  * unit pins don't enumerate. */
class DocSyncPropertySpec extends GraftSuite {

  private val keys = Gen.oneOf("k1", "k2", "k3")
  private val quals = Gen.oneOf("a", "b", "c")

  private val genCells: Gen[List[Cell]] = Gen.listOfN(
    3, for { q <- quals; v <- Gen.choose(0, 99) } yield Cell("f", q, v.toString))
    .flatMap(cs => Gen.choose(0, 3).map(n => cs.take(n)))

  private def genLog: Gen[List[ChangeEvent]] =
    Gen.listOfN(24, for {
      key <- keys
      isDel <- Gen.frequency(4 -> false, 1 -> true)
      cells <- genCells
    } yield (key, isDel, cells)).map(_.zipWithIndex.map { case ((k, d, cs), i) =>
      if (d) ChangeEvent("DELETE", k, i.toLong, new java.sql.Timestamp(0), null)
      else ChangeEvent("PUT", k, i.toLong, new java.sql.Timestamp(0), cs)
    })

  /** A log cut into 1-5 contiguous `seq` ranges (some possibly empty),
    * each batch's rows shuffled: revivals and deletes straddle the cuts. */
  private def genBatches: Gen[(List[ChangeEvent], List[List[ChangeEvent]])] = for {
    log <- genLog
    n <- Gen.choose(0, 4)
    cuts <- Gen.listOfN(n, Gen.choose(0, log.size))
    seed <- Gen.long
  } yield {
    val bounds = 0 +: cuts.sorted :+ log.size
    val rnd = new scala.util.Random(seed)
    (log, bounds.zip(bounds.tail).map { case (a, b) => rnd.shuffle(log.slice(a, b)) })
  }

  /** The obviously-correct model: sequential per-key replay. */
  private def model(log: List[ChangeEvent]): Map[String, Map[String, String]] = {
    val state = scala.collection.mutable.Map.empty[String, Map[String, String]]
    log.sortBy(_.seq).foreach { e =>
      if (e.op == "DELETE") state.remove(e.rowKey)
      else state(e.rowKey) = state.getOrElse(e.rowKey, Map.empty) ++
        e.cells.map(c => c.qualifier -> c.value)
    }
    state.filter(_._2.nonEmpty).toMap
  }

  test("relational fold == sequential replay model, for arbitrary logs") {
    import spark.implicits._
    val prop = Prop.forAll(genLog) { log =>
      val df = spark.createDataset(log).toDF()
      val folded = DocSync.fold(df).collect()
        .map(r => r.getString(0) -> r.getMap[String, String](1).toMap).toMap
      folded == model(log)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(25).withWorkers(1), prop)
    assert(res.passed, s"scalacheck: ${res.status}")
  }

  test("incremental fold + merge over random batch splits == sequential replay model") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val emptyState = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("rowKey", StringType),
        StructField("doc", MapType(StringType, StringType)))))
    val prop = Prop.forAll(genBatches) { case (log, batches) =>
      // 3 input partitions: the fold's partial AND final aggregation run
      val replayed = batches.foldLeft(emptyState) { (state, b) =>
        DocSync.merge(state, DocSync.foldIncrement(
          spark.createDataset(spark.sparkContext.parallelize(b, 3)).toDF()))
      }.collect().map(r => r.getString(0) -> r.getMap[String, String](1).toMap).toMap
      replayed == model(log)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(25).withWorkers(1), prop)
    assert(res.passed, s"scalacheck: ${res.status}")
  }
}
