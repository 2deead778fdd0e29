package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The queries a piece of code runs. Building a DataFrame can run queries
  * eagerly — a model collected and broadcast
  * ([[graft.operators.TranscriptAnnotator.model]]), a checkpointed input
  * ([[graft.operators.Graphs.materialize]]) — or turn one into an RDD
  * (`Dataset.rdd`, as [[graft.operators.TopK.ranked]] does), and the
  * returned frame's plan shows none of them. `Inspect plan` prints them
  * and the test suite's plan audit reads them. */
private[graft] object QueryCapture {

  /** Runs `body`; returns its result and every query Spark reported as
    * finished while it ran, in order, each with the action that ran or
    * converted it (`collect`, `localCheckpoint`, `rdd`, …). */
  def during[T](spark: SparkSession)(body: => T): (T, Seq[(String, QueryExecution)]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]
    val listener = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit = seen.add(action -> qe)
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = seen.add(action -> qe)
    }
    // query-end events reach the listener through the listener bus:
    // drain it before registering (so no earlier query is caught) and
    // after the body (so none of the body's is missed)
    ListenerBarrier.await(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      ListenerBarrier.await(spark.sparkContext)
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
