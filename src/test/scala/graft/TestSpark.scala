package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run, built as every
  * entry point builds its session ([[Sessions.local]]): the same
  * settings, SQL functions and `SpreadScanRule` plan rule
  * (`GraftExtensions`). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.local("4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `f` with the given SQL confs set on the shared session, then
    * restores their previous values. */
  def withConf[A](kv: (String, String)*)(f: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.get(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
