package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** UCSC fixedStep wiggle parser — ConservationScoreLoader.java:22-60.
  *
  * Input is wiggle text: `fixedStep chrom=<c> start=<s> step=<t>`
  * declaration lines, each followed by one score per line; the k-th line
  * after a declaration is at position `start + k*step`. Chromosome names
  * longer than 2 chars (unmapped contigs) are skipped, but still advance
  * the position counter — exactly the reference's loop.
  *
  * Spark shape: the position of a data line depends only on its global
  * line index and its governing declaration, so instead of a stateful
  * scan we (1) index every line once ([[graft.sources.LineBlocks.indexed]]),
  * (2) lift the declaration set into [decl_idx, next_decl) blocks,
  * (3) binned-interval-join data lines to their block ([[RangeJoin]] —
  * broadcast when the block table is small, so the data side never
  * shuffles), and (4) compute `pos = start + (idx - decl_idx - 1) * step`
  * as a narrow projection.
  *
  * The indexed text is checkpointed (disk-backed) for both passes.
  */
object Conservation {

  /** @param binWidth bin size for the line-index interval join
    * @param chunkWidth declaration `lead` chunking (see below); the
    *        per-chunk stitch table has ≤ maxIdx/chunkWidth rows — at
    *        10^12 input lines and the default 2^20 that is ~10^6 tiny
    *        rows, safe for its constant-partition window
    */
  def parseFixedStep(lines: Dataset[String], binWidth: Long = 1 << 16,
                     chunkWidth: Long = 1L << 20): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    // indices are 0..n-1 in text order, so the index bound is a plain
    // count — no full-input agg, and no NPE on empty input
    val idxed = graft.sources.LineBlocks.indexed(lines)
    val maxIdx = idxed.count() - 1

    val isDecl = col("line").startsWith("fixedStep")
    val decls = idxed.filter(isDecl)
      .select(col("idx").as("decl_idx"),
        regexp_extract(col("line"), "chrom=(\\S+)", 1).as("raw_chr"),
        regexp_extract(col("line"), "start=(\\d+)", 1).cast("long").as("wstart"),
        coalesce(nullif(regexp_extract(col("line"), "step=(\\d+)", 1), lit(""))
          .cast("long"), lit(1L)).as("step"))
      .withColumn("chr",
        when(col("raw_chr").startsWith("chr"), expr("substring(raw_chr, 4)"))
          .otherwise(col("raw_chr")))
      // tiny projection (~1 row per thousands of input lines), cached to
      // serve its two consumers without rescanning the raw text; a
      // long-lived service calling parseFixedStep repeatedly should
      // `.unpersist()` results' lineage or periodically clear the cache
      .cache()

    // Each block ends at the NEXT declaration (any chromosome — wiggle
    // blocks may interleave chrs, so a per-chr lead would be wrong).
    // Successor resolution via the shared two-level lead
    // ([[graft.sources.LineBlocks]] — hoisted from here when the chain
    // parser needed the identical machinery).
    val blocks = graft.sources.LineBlocks
      .withNextIdx(decls, maxIdx, chunkWidth)
      .select(col("chr"), col("wstart"), col("step"),
        (col("decl_idx") + 1).as("bstart"), (col("next_idx") - 1).as("bstop"),
        col("decl_idx"))
      .filter(col("bstart") <= col("bstop"))

    val data = idxed.filter(!isDecl && length(trim(col("line"))) > 0)
    RangeJoin.joined(data, blocks, "idx", "bstart", "bstop",
        keys = Nil, binWidth = binWidth)
      .filter(length(col("chr")) <= 2)
      .select(col("chr"),
        (col("wstart") + (col("idx") - col("decl_idx") - 1) * col("step"))
          .as("pos"),
        col("line").cast("double").as("score"))
  }
}
