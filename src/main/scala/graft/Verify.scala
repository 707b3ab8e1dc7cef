package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Replace TimestampType with TimestampNTZType recursively (structs,
    * arrays, maps) so the dumped parquet carries naive `timestamp[us]`
    * (isAdjustedToUTC=false) instead of `timestamp[us, tz=UTC]`. The
    * DuckDB oracle reads the fixtures naively, so a tz-aware dump fails
    * the driver's pyarrow schema compare even when every wall-clock value
    * is identical — which is exactly what happened to q01/q02 for three
    * rounds. In the pinned-UTC session the TIMESTAMP→NTZ cast is a pure
    * type relabel (same micros), so hashes are unaffected. */
  private def ntz(dt: DataType): DataType = dt match {
    case TimestampType       => TimestampNTZType
    case StructType(fields)  => StructType(fields.map(f => f.copy(dataType = ntz(f.dataType))))
    case ArrayType(et, n)    => ArrayType(ntz(et), n)
    case MapType(kt, vt, n)  => MapType(ntz(kt), ntz(vt), n)
    case other               => other
  }

  /** Canonicalize a result frame for the correctness dump. Public so the
    * spec can pin the dump path's type contract directly. */
  def canonicalize(df: DataFrame): DataFrame = {
    val needs = df.schema.fields.exists(f => f.dataType != ntz(f.dataType))
    if (!needs) df
    else df.select(df.schema.fields.map { f =>
      val target = ntz(f.dataType)
      if (target == f.dataType) col(f.name) else col(f.name).cast(target).as(f.name)
    }.toIndexedSeq: _*)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet   // dev-only: restrict to named queries
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // Every registry key yields EXACTLY one status row — "ok" or the error
    // string. Two rounds proved that a crashed entry could silently vanish
    // from the driver's correctness report (no parquet dir → no row); the
    // manifest makes absence impossible to miss: report keys that don't
    // cover the registry are a harness bug by definition, and the final
    // assertion fails the whole run loudly if the accounting ever drifts.
    val selected = SparkEntry.queries.filter(kv => only.isEmpty || only(kv._1))
    val status = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try {
        canonicalize(fn(spark, sfDir)).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        status(name) = "ok"
      } catch { case e: Throwable =>
        status(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: ${status(name)}")
        // Leave a sentinel parquet so the driver's compare (which walks
        // outDir) reports a visible schema/hash MISMATCH row for this
        // entry instead of silently omitting it from the round report —
        // absence proved indistinguishable from "not declared" in two
        // prior rounds.
        try {
          import spark.implicits._
          Seq(status(name)).toDF("__verify_error__")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }
    require(status.keySet == selected.keySet,
      s"verify accounting drift: missing rows for ${selected.keySet -- status.keySet}")
    val failed = status.collect { case (k, v) if v != "ok" => k }
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size}/${status.size} entries FAILED: ${failed.mkString(", ")}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val statusJson = status.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_status.json"), statusJson)
    spark.stop()
  }
}
