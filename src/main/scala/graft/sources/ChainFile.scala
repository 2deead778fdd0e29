package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** UCSC `.chain` liftover-file parser → ungapped alignment blocks.
  *
  * Format (genome.ucsc.edu chain spec): a header line
  * `chain score tName tSize tStrand tStart tEnd qName qSize qStrand
  * qStart qEnd [id]` followed by alignment data lines `size [dt dq]` —
  * `size` aligned bases, then `dt`/`dq` gaps on the source/target side
  * before the next block; the last line of a chain carries only `size`.
  * All header coordinates are 0-based half-open IN STRAND COORDINATES:
  * a `-` strand query gives positions on the reverse-complemented
  * sequence, so a block's forward-strand interval is
  * `[qSize - (qStart+len), qSize - qStart)` and source order walks the
  * target DESCENDING. tStrand is always `+` per the spec (others are
  * dropped, not guessed at).
  *
  * Spark shape — the conservation-parser discipline throughout: tag
  * every line with its header's index in one carried scan
  * ([[LineBlocks.withDeclIdx]]), equi-join data lines to the parsed
  * header rows on it, then running block offsets are a PER-CHAIN
  * window (partitioned on the header index — never global, and on the
  * join's own key, so it adds no exchange) over the `size+dt` /
  * `size+dq` prefix sums. Everything downstream is exact integer
  * arithmetic.
  *
  * Output, one row per ungapped block:
  *  - `chain_id` (trailing id field; header line index when absent),
  *    `score`
  *  - `s_chr`, `s_start`, `s_stop` — 1-based INCLUSIVE source interval
  *    (chr names normalized like [[Gff3]]: leading "chr" dropped)
  *  - `t_chr`, `t_first`, `dir` — a source position p lifts to
  *    `t_first + dir * (p - s_start)` on the target's forward strand
  *    (1-based); `dir` is +1 / −1 per the query strand
  */
object ChainFile {

  def blocks(lines: Dataset[String]): DataFrame = {
    val isHeader = col("line").startsWith("chain ") ||
      col("line").startsWith("chain\t")
    def tok(ts: org.apache.spark.sql.Column, i: Int) =
      when(size(ts) >= i, element_at(ts, i))
    val hts = split(trim(col("line")), "\\s+")
    val tagged = LineBlocks.withDeclIdx(lines, isHeader)
    // boundaries come from EVERY header — quarantining a malformed
    // chain afterwards keeps its data lines from leaking into the
    // preceding chain. tStrand is '+' by spec; anything else is
    // malformed — drop, the codec quarantine convention.
    val decls = tagged.filter(isHeader)
      .select(col("decl_idx"),
        tok(hts, 2).cast("long").as("score"),
        tok(hts, 3).as("s_chr_raw"),
        tok(hts, 5).as("s_strand"),
        tok(hts, 6).cast("long").as("s_off"),
        tok(hts, 8).as("t_chr_raw"),
        tok(hts, 9).cast("long").as("q_size"),
        tok(hts, 10).as("q_strand"),
        tok(hts, 11).cast("long").as("q_off"),
        coalesce(tok(hts, 13).cast("long"), col("decl_idx")).as("chain_id"))
      .withColumn("s_chr",
        when(col("s_chr_raw").startsWith("chr"),
          expr("substring(s_chr_raw, 4)")).otherwise(col("s_chr_raw")))
      .withColumn("t_chr",
        when(col("t_chr_raw").startsWith("chr"),
          expr("substring(t_chr_raw, 4)")).otherwise(col("t_chr_raw")))
      .drop("s_chr_raw", "t_chr_raw")
      .filter(col("s_strand") === "+" && col("q_strand").isin("+", "-"))

    val dts = split(trim(col("line")), "\\s+")
    val data = tagged
      .filter(!isHeader && length(trim(col("line"))) > 0)
      .select(col("idx"), col("decl_idx"),
        tok(dts, 1).cast("long").as("bsize"),
        coalesce(tok(dts, 2).cast("long"), lit(0L)).as("dt"),
        coalesce(tok(dts, 3).cast("long"), lit(0L)).as("dq"))
      .filter(col("bsize").isNotNull && col("bsize") > 0)

    // per-chain running offsets over the PRECEDING data lines — window
    // partitioned on the owning header, never global
    val w = Window.partitionBy("decl_idx").orderBy("idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    data.join(decls, "decl_idx")
      .withColumn("s_cum",
        coalesce(sum(col("bsize") + col("dt")).over(w), lit(0L)))
      .withColumn("q_cum",
        coalesce(sum(col("bsize") + col("dq")).over(w), lit(0L)))
      .select(col("chain_id"), col("score"), col("s_chr"),
        (col("s_off") + col("s_cum") + 1).as("s_start"),
        (col("s_off") + col("s_cum") + col("bsize")).as("s_stop"),
        col("t_chr"),
        when(col("q_strand") === "+", col("q_off") + col("q_cum") + 1)
          .otherwise(col("q_size") - (col("q_off") + col("q_cum")))
          .as("t_first"),
        when(col("q_strand") === "+", 1L).otherwise(-1L).as("dir"))
  }
}
