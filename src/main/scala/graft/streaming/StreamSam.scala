package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.sources.Sam

/** Streaming twin of the SAM alignment surface: [[Sam.alignments]] is
  * one stateless `mapPartitions` parse (the r12 kernel shape), so the
  * identical code runs under Structured Streaming — `readStream` SAM
  * lines in, typed alignment rows out, quarantine included, no state
  * store. The census is a running streaming aggregate whose state is
  * one row per chromosome (bounded by the karyotype, not the read
  * volume), so complete/update output needs no watermark — the same
  * contract as [[graft.operators.VcfParser.genotypeCounts]] over a
  * stream.
  */
object StreamSam {

  /** Streaming SAM lines → parsed alignment rows (append mode). */
  def alignments(lines: Dataset[String]): DataFrame =
    Sam.alignments(lines)

  /** Streaming per-chromosome census — the sam_alignment_stats rollup
    * as a running aggregate (complete/update modes). */
  def alignmentStats(lines: Dataset[String]): DataFrame =
    Sam.alignments(lines)
      .groupBy("chr").agg(count(lit(1)).as("n_reads"),
        sum("ref_span").as("sum_ref_span"),
        sum("n_aligned").as("sum_aligned"),
        sum("n_clipped").as("sum_clipped"),
        max("end_pos").as("max_end"))
}
