package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declaration→block lifting for stateful line-oriented text formats
  * (wiggle fixedStep, UCSC chain): given the indexed DECLARATION lines
  * of a text, compute each declaration's successor index so data lines
  * can be interval-joined to their governing declaration.
  *
  * An unpartitioned `lead` would funnel every declaration through one
  * task — fatal when 100 TB of text carries GBs of declarations.
  * Instead, a two-level lead (hoisted verbatim from the conservation
  * parser, which pioneered it):
  *   1. lead within idx-chunks of `chunkWidth` (partitioned window —
  *      resolves every declaration except the last of each chunk);
  *   2. stitch chunk boundaries with a per-chunk firsts table (one row
  *      per non-empty chunk, bounded by maxIdx/chunkWidth), where a
  *      deliberate single-partition sliding successor over the bounded
  *      table is safe — an explicit bounded coalesce, not an accidental
  *      unpartitioned window.
  */
object LineBlocks {

  /** Every line with its 0-based position (`line`, `idx`), numbered once
    * and checkpointed (disk-backed): below a shuffle, partition order can
    * change between evaluations, so every pass must read one numbering. */
  def indexed(lines: Dataset[String]): DataFrame = {
    import lines.sparkSession.implicits._
    lines.rdd.zipWithIndex().toDF("line", "idx").localCheckpoint()
  }

  /** @param decls  frame carrying a `decl_idx` long column (plus any
    *               payload columns, preserved)
    * @param maxIdx highest line index of the underlying text
    * @return decls + `next_idx`: the following declaration's index, or
    *         maxIdx+1 for the last declaration */
  def withNextIdx(decls: DataFrame, maxIdx: Long,
                  chunkWidth: Long): DataFrame = {
    val spark = decls.sparkSession
    import spark.implicits._
    require(chunkWidth > 0, "chunkWidth must be positive")
    val chunked = decls
      .withColumn("chunk", floor(col("decl_idx") / chunkWidth).cast("long"))
    val inChunkNext = lead("decl_idx", 1)
      .over(Window.partitionBy("chunk").orderBy("decl_idx"))
    val nextChunkFirst = chunked
      .groupBy("chunk").agg(min("decl_idx").as("first_idx"))
      .as[(Long, Long)]
      .repartition(1).sortWithinPartitions("chunk")
      .mapPartitions { it =>
        new Iterator[(Long, Option[Long])] {
          private var cur = if (it.hasNext) Some(it.next()) else None
          def hasNext: Boolean = cur.isDefined
          def next(): (Long, Option[Long]) = {
            val chunk = cur.get._1
            val nxt = if (it.hasNext) Some(it.next()) else None
            val out = (chunk, nxt.map(_._2))
            cur = nxt
            out
          }
        }
      }
      .toDF("chunk", "next_chunk_first")
    chunked
      .withColumn("in_chunk_next", inChunkNext)
      .join(broadcast(nextChunkFirst), Seq("chunk"), "left")
      .withColumn("next_idx",
        coalesce(col("in_chunk_next"), col("next_chunk_first"),
          lit(maxIdx + 1)))
      .drop("chunk", "in_chunk_next", "next_chunk_first")
  }
}
