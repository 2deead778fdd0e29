package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` in a sibling session over the shared context with
    * [[graft.plans.GraftExtensions]] applied (the planner rule and SQL
    * functions a user session gets) and the given SQL confs, then makes
    * the shared session the default again. The context is never stopped:
    * the other suites share it. */
  def withExtensions[T](conf: (String, String)*)(body: SparkSession => T): T = {
    spark // shared context up first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
    conf.foreach { case (k, v) => b.config(k, v) }
    try body(b.getOrCreate())
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
