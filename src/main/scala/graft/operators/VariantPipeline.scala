package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.{Par, VariantF, Zygosity}

/** The reference's whole batch flow as one composed library call — what
  * `run_converter.sh` → `run_varload.sh` → `run_varpostprocessing.sh`
  * chain together: VCF text → common-format rows → typed, scored,
  * zygosity-annotated variants → idempotent merge against the loaded set
  * → transcript annotation.
  *
  * Every stage is the already-tested operator; this wires them with the
  * reference's column semantics. The load stages stay declarative, so
  * Catalyst plans them end-to-end (scan-to-sink pushdown, shared
  * shuffles) and nothing of them materializes on the driver. `annotated`
  * is the exception: [[TranscriptAnnotator.annotate]] builds its
  * transcript model eagerly, so `run` executes that model's query and
  * broadcasts the result before it returns.
  */
object VariantPipeline {

  case class Result(
      /** distinct variants keyed by (chr,pos,ref,var,type) + derivations */
      variants: DataFrame,
      /** per (strain, variant) detail: depths, quality, zygosity family */
      sampleDetail: DataFrame,
      /** merge classification against the pre-loaded set */
      merged: DataFrame,
      /** VARIANT_TRANSCRIPT analog from the annotator */
      annotated: Dataset[TranscriptAnnotator.Annotated])

  /** The VariantLoad3 scoring stage over common-format rows: typing,
    * end-pos, quality, dbSnp class, the zygosity column family. All
    * narrow column expressions — stateless, so the same call works on a
    * Structured Streaming frame: [[VcfParser.parse]] over streamed lines,
    * then this, gives scored rows in append mode with no state. */
  def score(cf2: DataFrame, genders: Map[String, String],
            parRegions: Seq[Par.Region] = Par.grch37): DataFrame = {
    val gender = genders.foldRight(lit("F")) { case ((s, g), acc) =>
      when(col("strain") === s, g).otherwise(acc)
    }
    val isSnv = length(col("ref_nuc")) > 0 && length(col("var_nuc")) > 0
    val totalDepth = VariantF.totalDepth(col("total_depth"), isSnv,
      col("count_a"), col("count_c"), col("count_g"), col("count_t"),
      col("read_depth"))
    val varReads = Zygosity.varReads(col("var_nuc"),
      col("count_a"), col("count_c"), col("count_g"), col("count_t"))
    val totalReads = col("count_a") + col("count_c") + col("count_g") + col("count_t")
    // SNVs: percent from the called allele's ACGT read counts; indels:
    // the reference's "parameter tweaking" path takes alleleDepth /
    // readDepth instead (VariantLoad3.java:317-331)
    val pct = when(isSnv, Zygosity.percentF(varReads, totalReads))
      .otherwise(Zygosity.percentF(col("allele_depth"), col("read_depth")))
    val pctReads = when(isSnv, Zygosity.percentRead(varReads, totalReads))
      .otherwise(Zygosity.percentRead(col("allele_depth"), col("read_depth")))
    val inPar = Par.inPar(col("chr"), col("pos"), parRegions)

    // one projection: a withColumn chain re-analyses the growing plan once
    // per column
    cf2.withColumn("gender", gender).select(col("*") +: Seq(
      VariantF.variantType(col("ref_nuc"), col("var_nuc")).as("variant_type"),
      VariantF.endPos(col("pos"), col("ref_nuc"), col("var_nuc")).as("end_pos"),
      VariantF.qualityScore(col("read_depth"), totalDepth).as("quality_score"),
      VariantF.dbSnpClass(when(col("rs_id") === ".", "").otherwise(col("rs_id")))
        .as("dbsnp_class"),
      Zygosity.status(pct, col("gender"), col("chr"), inPar).as("zygosity_status"),
      pctReads.as("zygosity_percent_read"),
      Zygosity.possibleError(pct).as("zygosity_possible_error"),
      // num-alleles comes from the ACGT counts, which only the SNV path
      // fills; the reference leaves it unset for indels
      when(isSnv, Zygosity.numAlleles(col("count_a"), col("count_c"),
        col("count_g"), col("count_t"))).as("zygosity_num_allele"),
      // indels carry a ref-allele flag only for a single-base ref
      // (VariantLoad3.java:323-338); SNVs always
      when(isSnv || length(col("ref_nuc")) === 1,
        Zygosity.refAlleleCalled(col("ref_nuc"),
          col("count_a"), col("count_c"), col("count_g"), col("count_t")))
        .as("zygosity_ref_allele"),
      Par.inPseudo(col("gender"), col("chr"), col("pos"), parRegions)
        .as("zygosity_in_pseudo"),
      varReads.as("variant_frequency")): _*)
      // reference drops variants whose zygosity score is zero: varReads
      // for SNVs, alleleDepth for indels (VariantLoad3.java:339-346)
      .filter((isSnv && varReads > 0) || (!isSnv && col("allele_depth") > 0))
  }

  /** @param lines      VCF text lines
    * @param strains    sample columns of the VCF header
    * @param genders    strain → "M"/"F" (reference reads it off SAMPLE)
    * @param existing   already-loaded variants with natural key + variant_id
    * @param genes/transcripts/features gene models (see TranscriptAnnotator)
    * @param genome     reference sequence access
    * @param parRegions pseudo-autosomal regions for zygosity
    */
  def run(lines: Dataset[String], strains: Seq[String],
          genders: Map[String, String],
          existing: DataFrame,
          genes: DataFrame, transcripts: DataFrame, features: DataFrame,
          genome: TranscriptAnnotator.GenomeSource,
          parRegions: Seq[Par.Region] = Par.grch37): Result = {

    val cf2 = VcfParser.parse(lines, strains)
    val scored = score(cf2, genders, parRegions)

    val key = Seq("chr", "pos", "end_pos", "ref_nuc", "var_nuc", "variant_type")
    val variants = scored
      .select((key.map(col) :+ col("dbsnp_class")): _*).distinct()
      .withColumn("var_id", xxhash64(key.map(col): _*))

    val sampleDetail = scored.select(
      col("strain"), col("chr"), col("pos"), col("ref_nuc"), col("var_nuc"),
      col("zygosity_status"), col("zygosity_percent_read"),
      col("zygosity_possible_error"), col("zygosity_num_allele"),
      col("zygosity_ref_allele"), col("zygosity_in_pseudo"),
      col("variant_frequency"), col("read_depth"),
      col("quality_score"))

    val merged = VariantMerge.classify(variants, existing, key, "variant_id")

    // all variant shapes flow through: the annotator handles SNV, MNV,
    // insertion and deletion (VariantPostProcessing.java:472-492 ladder)
    val annotated = TranscriptAnnotator.annotate(
      variants.select("var_id", "chr", "pos", "ref_nuc", "var_nuc"),
      genes, transcripts, features, genome)

    Result(variants, sampleDetail, merged, annotated)
  }
}
