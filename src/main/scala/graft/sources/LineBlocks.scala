package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Line numbering and declaration tagging for stateful line-oriented
  * text formats (wiggle fixedStep, UCSC chain), where a data line means
  * something only under the declaration line that governs it.
  *
  * A sequential reader carries the current declaration forward from
  * line to line. [[withDeclIdx]] does the same as a carried prefix scan
  * (Blelloch, "Prefix sums and their applications", 1990): one job
  * collects the last declaration of each partition, then one narrow
  * pass carries the latest earlier one into each partition and forward
  * through its lines. No window, no exchange and no single-task stage.
  */
object LineBlocks {

  /** Every line with its 0-based position (`line`, `idx`), numbered once
    * and checkpointed (disk-backed): below a shuffle, partition order can
    * change between evaluations, so every pass must read one numbering. */
  def indexed(lines: Dataset[String]): DataFrame = {
    import lines.sparkSession.implicits._
    lines.rdd.zipWithIndex().toDF("line", "idx").localCheckpoint()
  }

  /** [[indexed]] `lines` plus `decl_idx`: the index of the nearest line
    * at or before each line for which `isDecl` holds (a declaration
    * carries its own index), null before the first declaration.
    *
    * Runs one job (at most one row per partition) while the frame is
    * built; both passes read the one checkpointed numbering, so they
    * see the same partitions in the same order. */
  def withDeclIdx(lines: Dataset[String], isDecl: Column): DataFrame = {
    val idxed = indexed(lines)
    import idxed.sparkSession.implicits._
    val decl = coalesce(isDecl, lit(false))
    val lastDecl = idxed.filter(decl).select("idx").as[Long].rdd
      .mapPartitions(it => Iterator(it.reduceOption((_, last) => last)))
      .collect()
    // carriedIn(p): the last declaration in partitions 0 until p
    val carriedIn = lastDecl.scanLeft(Option.empty[Long])((c, l) => l.orElse(c))
    idxed.select(col("line"), col("idx"), decl)
      .as[(String, Long, Boolean)].rdd
      .mapPartitionsWithIndex { (p, it) =>
        var cur = carriedIn(p)
        it.map { case (line, idx, declares) =>
          if (declares) cur = Some(idx)
          (line, idx, cur)
        }
      }
      .toDF("line", "idx", "decl_idx")
  }
}
