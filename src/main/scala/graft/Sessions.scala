package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** ONE source for the library's session setup, shared by every entry
  * point (Bench, Verify, Manager, graft.tools.*, the tests), so a setting
  * or plan rule cannot live only in one harness.
  *
  *  - [[GraftExtensions]]: the SQL functions and the scan-spreading plan
  *    rule, so every session plans the graded queries as a user session
  *    does.
  *  - `coalescePartitions.minPartitionSize = 256k` (default 1m), so AQE
  *    does not coalesce a small shuffle onto a few cores under heavy work;
  *    it only binds below ~1 MB of shuffle per core, never at 100 TB.
  *  - `shuffle.partitions` = the core count; AQE coalesces down per query.
  *  - UTC session zone: the events table's ns/µs timestamp contract
  *    (see [[Tables.events]]) is only identity under UTC.
  */
object Sessions {
  /** Core count every local entry point runs with (driver contract:
    * `local[$SPARK_GRAFT_CPUS]`). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Library session setup for any builder, local or cluster. */
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new GraftExtensions)

  /** `local[cores]`, shuffle partitions = cores, UI off (headless boxes;
    * the UI server costs startup time and a port). */
  def local(cores: String = cpus): SparkSession.Builder =
    tuned(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false"))
}
