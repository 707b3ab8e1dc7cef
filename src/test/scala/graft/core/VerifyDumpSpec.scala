package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftSuite

/** Pins the verify DUMP's timestamp flavor — the q01/q02 failure mode.
  *
  * The driver's DuckDB oracle reads the parquet fixtures naively
  * (`timestamp[us]`, isAdjustedToUTC=false), while Spark's TimestampType
  * written under TIMESTAMP_MICROS emits `timestamp[us, tz=UTC]`
  * (isAdjustedToUTC=true). The two schemas hash-differ even when every
  * value agrees, so any entry that carries a raw TimestampType column to
  * the dump (the two `SELECT *` entries) fails schema+hash. The contract:
  * `Verify.canonicalize` relabels every TimestampType — top-level or
  * nested — as TimestampNTZType, and the parquet footer of the dumped
  * file must say isAdjustedToUTC=false. Values must be byte-identical
  * (pure relabel in the pinned-UTC session).
  */
class VerifyDumpSpec extends GraftSuite {

  /** isAdjustedToUTC for every TIMESTAMP-annotated primitive in the file. */
  private def timestampFlags(dir: String): Seq[Boolean] = {
    val part = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .head
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(part.getAbsolutePath), new Configuration())
    val reader = ParquetFileReader.open(in)
    try {
      reader.getFooter.getFileMetaData.getSchema.getColumns.asScala.toSeq
        .map(_.getPrimitiveType.getLogicalTypeAnnotation)
        .collect { case t: TimestampLogicalTypeAnnotation => t.isAdjustedToUTC }
    } finally reader.close()
    }

  private implicit class JListOps[T](l: java.util.List[T]) {
    def asScala: scala.collection.mutable.Buffer[T] =
      scala.jdk.CollectionConverters.ListHasAsScala(l).asScala
  }

  test("canonicalize relabels TimestampType to NTZ, top-level and nested") {
    val df = spark.read.parquet(s"$sf/events.parquet")
      .select(col("ts"), struct(col("ts").as("inner")).as("s"),
        array(col("ts")).as("a"))
    assert(df.schema("ts").dataType == TimestampType, "fixture precondition")
    val out = graft.Verify.canonicalize(df)
    assert(out.schema("ts").dataType == TimestampNTZType)
    assert(out.schema("s").dataType.asInstanceOf[StructType]("inner").dataType == TimestampNTZType)
    assert(out.schema("a").dataType.asInstanceOf[ArrayType].elementType == TimestampNTZType)
  }

  test("dumped parquet footer is naive timestamp[us] with identical values") {
    val dir = Staging.scratchDir("verify_dump")
    val df = spark.read.parquet(s"$sf/events.parquet").select("event_id", "ts")
    val out = s"$dir/q_ts"
    graft.Verify.canonicalize(df).coalesce(1).write.mode("overwrite").parquet(out)

    val flags = timestampFlags(out)
    assert(flags.nonEmpty, "expected a TIMESTAMP column in the dump")
    assert(flags.forall(_ == false),
      s"dump must be naive timestamp[us] (isAdjustedToUTC=false), got $flags")

    // Pure relabel: micros must round-trip unchanged through the dump.
    val orig = df.select(sum(unix_micros(col("ts")))).head.getLong(0)
    val redump = spark.read.parquet(out)
      .select(sum(unix_micros(col("ts").cast(TimestampType)))).head.getLong(0)
    assert(orig == redump, "NTZ relabel changed wall-clock micros")
  }

  test("canonicalize is identity for frames without TimestampType") {
    val df = spark.read.parquet(s"$sf/nation.parquet")
    assert(graft.Verify.canonicalize(df) eq df)
  }
}
