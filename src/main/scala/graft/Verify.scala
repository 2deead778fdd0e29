package graft
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each graded query's result
  * (`SparkEntry.graded`) → parquet, plus oracle_sql.json, for the
  * driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args: run only the named queries (local iteration)
    val picked = SparkEntry.select(args.drop(2).toSet)
    val spark = Sessions.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    picked.foreach { q =>
      dump(spark, s"$outDir/${q.name}", q.name, q.run(spark, sfDir))
      // queries that persist intermediates would otherwise hold their
      // blocks for the remaining ~60 dumps
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    spark.stop()
  }

  /** Writes one query's result to `dir` as a single parquet part. `dir`
    * is deleted first, so a query that fails, even while its DataFrame
    * is being built, leaves no earlier run's result there to be graded
    * as its own. A failure is reported on stderr and does not stop the
    * dump. */
  def dump(spark: SparkSession, dir: String, name: String,
           build: => DataFrame): Unit = {
    val path = new Path(dir)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
    try build.coalesce(1).write.parquet(dir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
    }
  }

  /** Every graded query's oracle SQL as the JSON object the driver's compare
    * loads; shared with the parse-check spec. JSON string escape covers
    * backslash, quote, and ALL control chars (<0x20) — a tab or CR in
    * builder-authored SQL would otherwise make the driver's json.load
    * fail and silently zero the round's correctness. */
  def oracleJson: String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    SparkEntry.select(Set.empty)
      .map(g => s"${q(g.name)}: ${q(g.oracle)}").mkString("{", ",", "}")
  }
}
