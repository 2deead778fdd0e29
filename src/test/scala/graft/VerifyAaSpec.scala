package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{TranscriptAnnotator, VerifyAa}
import graft.operators.TranscriptAnnotator.FixedGenome

/** verifyAA audit over hand-derived annotations (same fixed genome as
  * TranscriptAnnotatorSpec: chr1 = ATGGCCTAAGGGTTTCCC). The audit must
  * re-derive every stored AA from the stored CDS columns and report full
  * agreement — including on the minus strand, where the substituted base
  * must be complemented before the codon rebuild. */
class VerifyAaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val genome = FixedGenome(Map("1" -> "ATGGCCTAAGGGTTTCCC"))

  private def audit(variants: Seq[(Long, String, Long, String, String)],
                    transcripts: Seq[(Long, Long, String, Boolean)])
      : Map[String, Long] = {
    val v = variants.toDF("var_id", "chr", "pos", "ref_nuc", "var_nuc")
    val g = Seq((1L, "1", 1L, 18L)).toDF("gene_id", "chr", "gstart", "gstop")
    val t = transcripts.toDF("tr_id", "gene_id", "strand", "non_coding")
    val f = transcripts.map(tr => (tr._1, "EXONS", 1L, 9L))
      .toDF("tr_id", "ftype", "fstart", "fstop")
    val ann = TranscriptAnnotator.annotate(v, g, t, f, genome)
    val row = VerifyAa.audit(ann.toDF(), t).collect().head
    row.schema.fieldNames.map(n => n -> row.getAs[Long](n)).toMap
  }

  test("plus-strand SNVs: stored AAs reproduce from the stored CDS") {
    // pos 5 C->T: GCC->GTC nonsynonymous; pos 6 C->A: GCC->GCA synonymous
    val c = audit(
      variants = Seq((1L, "1", 5L, "C", "T"), (2L, "1", 6L, "C", "A")),
      transcripts = Seq((10L, 1L, "+", false)))
    assert(c("matches") == 2 && c("mismatches") == 0)
    assert(c("syn_match") == 2 && c("syn_mismatch") == 0 &&
      c("nonsyn_mismatch") == 0)
    assert(c("neg_strand") == 0 && c("skipped_no_strand") == 0)
  }

  test("minus strand: complemented substitution reproduces the stored AA") {
    // pos 5 C->T on '-': stored CDS = revcomp(ATGGCCTAA) = TTAGGCCAT,
    // full_ref_nuc_pos = 5, codon 2 GGC; substituted base = complement(T)
    // = A at offset 1 -> GAC; translate: G->D, matching stored var_aa=D
    val c = audit(
      variants = Seq((3L, "1", 5L, "C", "T")),
      transcripts = Seq((11L, 1L, "-", false)))
    assert(c("neg_strand") == 1)
    assert(c("matches") == 1 && c("mismatches") == 0)
    assert(c("syn_match") == 1 && c("syn_mismatch") == 0)
  }

  test("a corrupted stored var_aa is reported as a mismatch") {
    val v = Seq((1L, "1", 5L, "C", "T")).toDF("var_id", "chr", "pos", "ref_nuc", "var_nuc")
    val g = Seq((1L, "1", 1L, 18L)).toDF("gene_id", "chr", "gstart", "gstop")
    val t = Seq((10L, 1L, "+", false)).toDF("tr_id", "gene_id", "strand", "non_coding")
    val f = Seq((10L, "EXONS", 1L, 9L)).toDF("tr_id", "ftype", "fstart", "fstop")
    import org.apache.spark.sql.functions.lit
    val ann = TranscriptAnnotator.annotate(v, g, t, f, genome)
      .toDF().withColumn("var_aa", lit("Q")) // corrupt the stored AA
    val row = VerifyAa.audit(ann, t).collect().head
    assert(row.getAs[Long]("mismatches") == 1 &&
      row.getAs[Long]("matches") == 0)
  }
}
