package graft.sources

import graft.functions.SamKernelOps
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** SAM alignment-line parser (SAMv1 spec, the 11 mandatory
  * tab-separated fields) → typed alignment rows with CIGAR-derived
  * span arithmetic — the read-alignment side of the variant-load
  * surface (a pileup/coverage pass over alignments is what feeds a
  * variant caller; the reference consumes the VCFs downstream of it).
  *
  * Spark shape: ONE imperative pass per partition (the VcfParser
  * lesson, verbatim): the declarative draft — split + per-field
  * `element_at` projections behind a multi-leg filter — had every leg
  * pushed below the projection by PushPredicateThroughNonJoin, so the
  * upstream line expression and its `split` re-evaluated once per
  * predicate leg (~6x the parse per row; measured 6.7-8.4 s at sf0.1
  * where this pass is ~1 s). `mapPartitions` + a case-class encoder is
  * a narrow, shuffle-free, allocation-light parse with a deserialize
  * barrier the optimizer cannot substitute filters through. The CIGAR
  * walk itself is the shared `SamKernelOps.cigarSpansRaw` kernel
  * (pinned to the original fold formulation by SamKernelParitySpec in
  * RoundTwelveOpsSpec).
  *
  * CIGAR op classes per the spec:
  *  - reference-consuming: M, D, N, =, X  (ref_span; end_pos =
  *    pos + ref_span − 1)
  *  - aligned bases: M, =, X  (n_aligned)
  *  - clipping: S, H  (n_clipped)
  *
  * Quarantine, not failure: header lines (`@...`), short lines,
  * unmapped reads (CIGAR `*` or pos ≤ 0), non-numeric flag/pos/mapq
  * and MALFORMED CIGARs (text that does not tile into (number, op)
  * pairs — the kernel returns null) are all dropped.
  */
object Sam {

  /** One parsed alignment row. */
  case class SamRow(qname: String, flag: Int, chr: String, pos: Long,
                    mapq: Int, cigar: String, ref_span: Long,
                    n_aligned: Long, n_clipped: Long, end_pos: Long)

  /** The original pure-Column CIGAR fold — one `aggregate` over regex
    * pieces accumulating [ref_span, n_aligned, n_clipped]. Kept ONLY as
    * the parity oracle for the codegen kernel (RoundTwelveOpsSpec);
    * not on any query path (interpreted, ~10x the kernel's cost).
    * NOTE: unlike the kernel, this silently skips unparseable segments
    * instead of quarantining — parity holds on well-formed CIGARs. */
  private[graft] def opSumsFold(cigar: Column): Column = {
    val pieces = regexp_extract_all(cigar,
      lit("(\\d+)([MIDNSHP=X])"), lit(0))
    def inOps(op: Column, ops: String): Column =
      op.isin(ops.map(_.toString): _*)
    aggregate(pieces, array(lit(0L), lit(0L), lit(0L)), (acc, x) => {
      val op = substring(x, -1, 1)
      val n = x.substr(lit(1), length(x) - 1).cast("long")
      array(
        element_at(acc, 1) + when(inOps(op, "MDN=X"), n).otherwise(0L),
        element_at(acc, 2) + when(inOps(op, "M=X"), n).otherwise(0L),
        element_at(acc, 3) + when(inOps(op, "SH"), n).otherwise(0L))
    })
  }

  private def toIntOpt(s: String): Option[Int] =
    try Some(s.toInt) catch { case _: NumberFormatException => None }

  /** The per-line gate + parse; None = quarantined. */
  private[graft] def parseAlignment(line: String): Option[SamRow] = {
    if (line.isEmpty || line.charAt(0) == '@') return None
    val f = line.split("\t", -1)
    if (f.length < 11) return None
    val cigar = f(5)
    if (cigar == "*") return None
    val pos = try f(3).toLong catch {
      case _: NumberFormatException => return None
    }
    if (pos <= 0) return None
    val spans = SamKernelOps.cigarSpansRaw(cigar)
    if (spans == null) return None
    for (flag <- toIntOpt(f(1)); mapq <- toIntOpt(f(4)))
      yield SamRow(f(0), flag, f(2), pos, mapq, cigar,
        spans(0), spans(1), spans(2), pos + spans(0) - 1)
  }

  /** One row per mapped, well-formed alignment:
    * (qname, flag, chr, pos, mapq, cigar, ref_span, n_aligned,
    * n_clipped, end_pos). The parse is stateless, so the same call runs
    * on a streaming `Dataset[String]`: quarantine included, no state
    * store. */
  def alignments(lines: Dataset[String]): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines.mapPartitions(_.flatMap(parseAlignment)).toDF()
  }

  /** Per-chromosome alignment census over [[alignments]]: (chr,
    * n_reads, sum_ref_span, sum_aligned, sum_clipped, max_end). Over a
    * stream it is a running aggregate whose state is one row per
    * chromosome (bounded by the karyotype, not the read volume), so
    * complete or update output needs no watermark. */
  def alignmentStats(lines: Dataset[String]): DataFrame =
    alignments(lines)
      .groupBy("chr").agg(count(lit(1)).as("n_reads"),
        sum("ref_span").as("sum_ref_span"),
        sum("n_aligned").as("sum_aligned"),
        sum("n_clipped").as("sum_clipped"),
        max("end_pos").as("max_end"))

  /** Alignment row with the MATE fields (SAMv1 columns 7–9): RNEXT,
    * PNEXT, TLEN — the template/insert-size surface [[SamRow]] omits. */
  case class SamPairRow(qname: String, flag: Int, chr: String, pos: Long,
                        mapq: Int, rnext: String, pnext: Long, tlen: Long)

  /** [[parseAlignment]]'s gate chain plus the mate columns; a
    * non-numeric PNEXT/TLEN quarantines like any other malformed
    * field. None = quarantined. */
  private[graft] def parsePaired(line: String): Option[SamPairRow] = {
    if (line.isEmpty || line.charAt(0) == '@') return None
    val f = line.split("\t", -1)
    if (f.length < 11) return None
    if (f(5) == "*") return None
    val pos = try f(3).toLong catch {
      case _: NumberFormatException => return None
    }
    if (pos <= 0) return None
    if (SamKernelOps.cigarSpansRaw(f(5)) == null) return None
    try {
      for (flag <- toIntOpt(f(1)); mapq <- toIntOpt(f(4)))
        yield SamPairRow(f(0), flag, f(2), pos, mapq, f(6),
          f(7).toLong, f(8).toLong)
    } catch { case _: NumberFormatException => None }
  }

  /** One row per mapped, well-formed alignment WITH mate fields —
    * same imperative one-pass shape as [[alignments]]. */
  def pairedAlignments(lines: Dataset[String]): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines.mapPartitions(_.flatMap(parsePaired)).toDF()
  }
}
