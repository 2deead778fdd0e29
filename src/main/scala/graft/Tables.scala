package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Plain loaders for the generated test tables, which every
  * graded query reads, so column pruning and filter pushdown reach the
  * parquet scan. Whether a scan is spread over more tasks is decided by
  * the session's `graft.plans.SpreadScanRule`, not here.
  */
object Tables {
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = t(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "lineitem")
  /** events.ts has shipped in two physical layouts across testdata
    * generations: INT64 TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects — read as raw nanos) and, since round 9, plain
    * TIMESTAMP(MICROS). Both normalize to ONE contract the event
    * operators rely on: `ts` = exact epoch NANOS as long (exact long
    * arithmetic downstream — double division of 1e18-scale nanos would
    * lose whole seconds). DuckDB reads the same file as a µs TIMESTAMP
    * either way (it truncates ns→µs on read), so `ts DIV 1000` ==
    * `epoch_us(ts)` under both layouts. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ =>
        // µs-precision TIMESTAMP[_NTZ]: the NTZ→TZ cast reads the wall
        // time in the SESSION zone, so it is the identity only under
        // UTC. Every entry point (Bench/Verify/Manager/Inspect/tests)
        // pins UTC at builder time; this set is a belt-and-braces for
        // foreign sessions and is a no-op in ours.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) * 1000L"))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")
}
