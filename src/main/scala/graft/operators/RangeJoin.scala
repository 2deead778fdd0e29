package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed point-in-interval join: "which ranges contain this
  * position", for interval sides that need not fit in memory (the genic
  * status fixup's merged gene spans, wiggle and chain blocks,
  * nearest-feature windows, the graded interval queries). The annotator's
  * gene lookups (the reference's GeneCache, VariantLoad3.java:682-694)
  * are not its job: their genes ride in [[TranscriptAnnotator.model]]'s
  * broadcast, sorted per chromosome.
  *
  * The reference holds all intervals of one chromosome in a driver-side
  * HashMap. When neither side fits anywhere, a naive
  * `pos BETWEEN start AND stop` theta-join degenerates to a broadcast
  * nested loop. We re-express it as an equi-join:
  *
  *   1. pick a bin width W (≥ typical interval length, so intervals
  *      explode into ~1-2 bins);
  *   2. explode each interval to every bin it overlaps
  *      (`sequence(start div W, stop div W)`);
  *   3. equi-join points on (partitionKey, bin) — a plain shuffled hash /
  *      sort-merge join Catalyst can plan, with AQE skew-splitting;
  *   4. apply the residual `start <= pos AND pos <= stop` filter.
  *
  * Bins are uniform so no key dominates unless the data itself is skewed
  * (AQE handles that). When the interval side is dim-sized, Catalyst
  * broadcasts it — no shuffle on the fact side at all.
  */
object RangeJoin {

  /** Name of the derived bin column on both join sides. */
  private val BinCol = "__graft_bin"

  /** Re-project every column through an alias, minting fresh attribute
    * IDs. When both join sides derive from the SAME base frame (a self
    * range-join, e.g. gene×gene overlap), the key columns otherwise
    * resolve to one shared attribute and Spark logs "trivially true
    * equals predicate, 'chr == chr'" before falling back to heuristic
    * self-join disambiguation — fresh IDs make the condition
    * unambiguous by construction. The extra Project collapses in the
    * optimizer; plan cost is zero. */
  private def freshAttrs(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).as(c)).toIndexedSeq: _*)

  /** `df` with one row per `w`-wide bin its `[start, stop]` overlaps. */
  private def exploded(df: DataFrame, start: String, stop: String,
                       w: Column): DataFrame =
    df.withColumn(BinCol, explode(sequence(floor(col(start) / w).cast("long"),
      floor(col(stop) / w).cast("long"))))

  /** Join `points` (with point column `pos`) to `intervals` (with
    * inclusive `start`/`stop` columns) on containment, equi-keyed by
    * `keys` (e.g. chromosome) plus the derived bin.
    *
    * All columns of both inputs are preserved (join keys once); callers
    * project afterwards.
    */
  def joined(
      points: DataFrame,
      intervals: DataFrame,
      pos: String,
      start: String,
      stop: String,
      keys: Seq[String] = Nil,
      binWidth: Long = 1000000L): DataFrame = {
    val w = lit(binWidth)
    val ivBinned = exploded(freshAttrs(intervals), start, stop, w)
    val ptBinned = points.withColumn(BinCol, floor(col(pos) / w).cast("long"))
    val joinCond = (keys :+ BinCol)
      .map(k => ptBinned(k) === ivBinned(k))
      .reduce(_ && _) && ivBinned(start) <= ptBinned(pos) && ptBinned(pos) <= ivBinned(stop)
    val raw = ptBinned.join(ivBinned, joinCond, "inner")
    val dupCols: Seq[Column] =
      Seq(ivBinned(BinCol), ptBinned(BinCol)) ++ keys.map(ivBinned(_))
    dupCols.foldLeft(raw)(_ drop _)
  }

  /** Interval × interval OVERLAP join (the bedtools-intersect primitive;
    * gene×gene / feature×read overlap) — same bin-to-equi-join strategy
    * as [[joined]], with the classic report-once rule instead of a
    * distinct shuffle: a pair overlapping several shared bins is emitted
    * ONLY in the bin of `max(a.start, b.start)` (the first bin where
    * both intervals are present — exactly one bin satisfies this, so
    * results are duplicate-free BY CONSTRUCTION and no dedup exchange
    * ever runs).
    *
    * Left columns keep their names; right columns are the caller's to
    * disambiguate (pass pre-renamed frames). Overlap predicate is the
    * standard closed-interval `a.start ≤ b.stop AND b.start ≤ a.stop`.
    */
  def overlapJoined(
      a: DataFrame,
      b: DataFrame,
      startA: String, stopA: String,
      startB: String, stopB: String,
      keys: Seq[String] = Nil,
      binWidth: Long = 1000000L): DataFrame = {
    val w = lit(binWidth)
    val aB = exploded(a, startA, stopA, w)
    val bB = exploded(freshAttrs(b), startB, stopB, w)
    val joinCond = (keys :+ BinCol)
      .map(k => aB(k) === bB(k)).reduce(_ && _) &&
      aB(startA) <= bB(stopB) && bB(startB) <= aB(stopA) &&
      aB(BinCol) === floor(greatest(aB(startA), bB(startB)) / w).cast("long")
    val raw = aB.join(bB, joinCond, "inner")
    (Seq(aB(BinCol), bB(BinCol)) ++ keys.map(bB(_))).foldLeft(raw)(_ drop _)
  }
}
