package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Usage: runMain graft.Verify <sfDir> <outDir> [queries...]
  * Exits 1, naming each failure, when a requested name is unknown or a
  * query fails: the oracle checks only see the outputs that exist, so a
  * missing one must fail here. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing query names restrict the dump (fast local loop);
    // the driver passes none and always gets the full battery
    val only = args.drop(2).toSet
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    val failed = try run(spark, sfDir, outDir, only) finally spark.stop()
    if (failed > 0) {
      System.err.println(s"Verify: $failed queries failed (VERIFY lines above)")
      sys.exit(1)
    }
  }

  /** Write each query's result (all of `queries`, or those named in
    * `only`) and `oracle_sql.json`; returns how many failed. A name that
    * matches no query counts as a failure, as does a query that throws.
    * `oracle_sql.json` is written either way. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      only: Set[String],
      queries: Map[String, (SparkSession, String) => DataFrame] =
        SparkEntry.queries): Int = {
    Files.createDirectories(Paths.get(outDir))
    val unknown = (only -- queries.keySet).toSeq.sorted
    unknown.foreach(n => println(s"VERIFY $n UNKNOWN: no such query"))
    val crashed = queries.count { case (name, fn) =>
      (only.isEmpty || only(name)) &&
        (try {
          canon(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          false
        } catch { case e: Throwable =>
          println(s"VERIFY $name FAILED: $e".linesIterator.next())
          true
        })
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    unknown.size + crashed
  }

  // Decimal metrics are computed exactly (order-independent sums) but
  // emitted as double at this boundary: the driver's compare stringifies
  // the DuckDB side through float64, where a decimal's trailing zeros
  // ('6548929.20' vs '6548929.2') would hash-mismatch despite equal values.
  private def canon(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case _: org.apache.spark.sql.types.DecimalType =>
          acc.withColumn(f.name, org.apache.spark.sql.functions.col(f.name).cast("double"))
        case _ => acc
      }
    }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
