package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** UCSC fixedStep wiggle parser — ConservationScoreLoader.java:22-60.
  *
  * Input is wiggle text: `fixedStep chrom=<c> start=<s> step=<t>`
  * declaration lines, each followed by one score per line; the k-th line
  * after a declaration is at position `start + k*step`. Chromosome names
  * longer than 2 chars (unmapped contigs) are skipped, but still advance
  * the position counter — exactly the reference's loop.
  *
  * Spark shape: a line's position depends only on its index and the
  * declaration that governs it, so [[graft.sources.LineBlocks.withDeclIdx]]
  * tags every line with that declaration's index (`decl_idx`) in one
  * carried scan, the parsed declaration rows equi-join back on it, and
  * `pos = start + (idx - decl_idx - 1) * step` is a narrow projection.
  */
object Conservation {

  def parseFixedStep(lines: Dataset[String]): DataFrame = {
    val isDecl = col("line").startsWith("fixedStep")
    val tagged = graft.sources.LineBlocks.withDeclIdx(lines, isDecl)
    val decls = tagged.filter(isDecl)
      .select(col("decl_idx"),
        regexp_extract(col("line"), "chrom=(\\S+)", 1).as("raw_chr"),
        regexp_extract(col("line"), "start=(\\d+)", 1).cast("long").as("wstart"),
        coalesce(nullif(regexp_extract(col("line"), "step=(\\d+)", 1), lit(""))
          .cast("long"), lit(1L)).as("step"))
      .withColumn("chr",
        when(col("raw_chr").startsWith("chr"), expr("substring(raw_chr, 4)"))
          .otherwise(col("raw_chr")))

    // each block ends at the next declaration of ANY chromosome (wiggle
    // blocks may interleave chrs, so a per-chr carry would be wrong)
    tagged.filter(!isDecl && length(trim(col("line"))) > 0)
      .join(decls, "decl_idx")
      .filter(length(col("chr")) <= 2)
      .select(col("chr"),
        (col("wstart") + (col("idx") - col("decl_idx") - 1) * col("step"))
          .as("pos"),
        col("line").cast("double").as("score"))
  }
}
