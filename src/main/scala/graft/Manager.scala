package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

/** CLI dispatch — the reference's Manager.java `--tool <name> <args>`
  * wrapper (Manager.java:30-84 dispatch table), re-expressed as
  * path-in → parquet-out Spark flows. Every tool name the reference
  * dispatches, dispatches here.
  *
  * The reference's per-chromosome/per-sample shell fan-out
  * (`Manager.java:163`, dist scripts) exists because its tools are
  * single-threaded JDBC loops; here each tool is one declarative plan
  * that partitions over all chromosomes and samples at once, so the
  * orchestration surface shrinks to tool selection + paths. The
  * converters (ClinVar2Vcf / DbSnp2Vcf / GwasCat2Vcf) take their input
  * as a parquet with CANONICAL column names (documented per tool in
  * `usage`) — the CLI's substitute for the library API's caller-supplied
  * Column mapping; the reference pins the same contract to its JDBC
  * source queries.
  *
  * Tool aliases: `Polyphen2` runs the Polyphen flow and
  * `PolyphenLoader2` the PolyphenLoader flow — the reference pairs
  * differ only in which database schema/table generation they read
  * (Polyphen2.java / PolyphenLoader2.java), a distinction with no
  * analog in a path-in/parquet-out world.
  */
object Manager {

  val usage: String =
    """usage: Manager --tool <name> [tool args] [--props F]
      |  (--props: java-properties defaults for any arg, key `<tool>.<arg>`
      |   or bare `<arg>`; precedence CLI > scoped > bare; flags as `=true`)
      |  VcfConverter2     --inputFile F --outDir D [--ADDP] [--processVariantsSameAsRef]
      |  Vcf8ColConverter2 --inputFile F --outDir D [--processVariantsSameAsRef]
      |  GenotypeCounts    --inputFile F --outDir D [--ADDP]
      |  VariantLoad3      --inputFile F --outDir D [--genders S1=M,S2=F] [--ADDP]
      |  ConservationScore --inputFile F --outDir D
      |  VariantTypeFixUp  --variants P --outDir D
      |  FrameShiftFixUp   --variants P --outDir D
      |  GenicStatusFixUp  --variants P --genes P --outDir D
      |                    (variants: chr,pos,...; genes: chr,gstart,gstop)
      |  VariantPostProcessing --variants P --gff3 F --fasta F --outDir D [--verifyIfInRgd P]
      |                    (variants: var_id,chr,pos,ref_nuc,var_nuc)
      |  Polyphen          --annotations P --outDir D   (alias: Polyphen2)
      |                    (annotations: variant_id,tr_id,protein_id,aa_pos,
      |                     ref_aa,var_aa,gene_symbol,strand,protein_seq,syn_status)
      |  PolyphenFasta     --attempted P --known P --outDir D
      |                    (attempted: protein_id,protein_seq; known: protein_id)
      |  PolyphenLoader    --results F --info P --outDir D   (alias: PolyphenLoader2)
      |                    (info: protein_id,aa_pos,ref_aa,var_aa,payload...)
      |  ClinVar2Vcf       --input P --outDir D  (chr,pos,rgd_id,name,ref_nuc,var_nuc,rs_id)
      |  DbSnp2Vcf         --input P --outDir D  (chr,pos,snp_name,ref_nuc,var_nuc)
      |  GwasCat2Vcf       --input P --outDir D  (chr,pos,snps,ref_nuc,var_nuc)
      |  VariantRatLoaderFromDb --variants P [--batch P] [--chr C] --outDir D""".stripMargin

  def main(args: Array[String]): Unit = {
    // throw (non-zero exit) rather than print-and-return: a scripted
    // `Manager ... && next` must not proceed on an invalid invocation
    if (args.length < 2 || args(0) != "--tool")
      throw new IllegalArgumentException(usage)
    // the library session; SPARK_MASTER, when set, points it at a
    // cluster instead of local[SPARK_GRAFT_CPUS]
    val b = Sessions.local()
    val spark = sys.env.get("SPARK_MASTER").fold(b)(b.master).getOrCreate()
    try runTool(spark, args(1), args.drop(2))
    finally spark.stop()
  }

  /** Dispatch one tool; separated from `main` so tests drive it with an
    * existing session.
    *
    * `--props F` loads java-properties defaults for any tool argument —
    * the standalone analog of the reference's `properties/` XML config
    * that its dist scripts pass to every run (AppConfigure.xml via
    * VariantProcessingBase). Keys are either `<tool>.<arg>` (scoped) or
    * bare `<arg>` (every tool); precedence CLI > scoped > bare. Boolean
    * flags (ADDP, processVariantsSameAsRef) come from props as
    * `...=true`. */
  def runTool(spark: SparkSession, tool: String, toolArgs: Array[String]): Unit = {
    val flags = toolArgs.filter(_.startsWith("--"))
      .map(_.drop(2)).toSet
    val cli = toolArgs.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.drop(2) -> v
    }.toMap
    val props: Map[String, String] = cli.get("props").map { path =>
      val p = new java.util.Properties()
      val in = new java.io.FileInputStream(path)
      try p.load(in) finally in.close()
      import scala.jdk.CollectionConverters._
      p.asScala.toMap
    }.getOrElse(Map.empty)
    def fromProps(k: String): Option[String] =
      props.get(s"$tool.$k").orElse(props.get(k))
    def optGet(k: String): Option[String] = cli.get(k).orElse(fromProps(k))
    def opt(k: String): String =
      optGet(k).getOrElse(throw new IllegalArgumentException(
        s"missing --$k for tool $tool\n$usage"))
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"${opt("outDir")}/$name")
    // the …2Vcf family emits VCF LINES — text part-files, the scalable
    // analog of the reference's single output file
    def writeVcf(df: DataFrame): Unit =
      df.select("line").write.mode("overwrite")
        .text(s"${opt("outDir")}/vcf")
    def flag(k: String): Boolean =
      flags(k) || fromProps(k).exists(_.equalsIgnoreCase("true"))
    val addp = flag("ADDP")
    val sameAsRef = flag("processVariantsSameAsRef")

    tool match {
      case "VcfConverter2" =>
        write(VcfParser.fromPath(spark, opt("inputFile"),
          processVariantsSameAsRef = sameAsRef,
          processLinesWithMissingADDP = addp), "common_format2")

      case "Vcf8ColConverter2" =>
        write(VcfParser.parse8Col(
          spark.read.textFile(opt("inputFile")), sameAsRef), "common_format2")

      case "GenotypeCounts" =>
        write(VcfParser.genotypeCountsFromPath(spark, opt("inputFile"),
          processLinesWithMissingADDP = addp), "genotype_counts")

      case "VariantLoad3" =>
        val genders = optGet("genders").map(_.split(",").map { kv =>
          kv.split("=", 2) match {
            case Array(s, g) if s.nonEmpty => s -> g
            case _ => throw new IllegalArgumentException(
              s"bad --genders entry '$kv' (want STRAIN=M|F)\n$usage")
          }
        }.toMap).getOrElse(Map.empty)
        // each file's strain columns come from its own #CHROM header
        val cf2 = VcfParser.fromPath(spark, opt("inputFile"),
          processLinesWithMissingADDP = addp)
        write(VariantPipeline.score(cf2, genders), "variants")

      case "ConservationScore" =>
        write(Conservation.parseFixedStep(
          spark.read.textFile(opt("inputFile"))), "conservation")

      case "VariantTypeFixUp" =>
        write(spark.read.parquet(opt("variants"))
          .withColumn("variant_type_computed",
            Fixups.variantTypeComputed(col("ref_nuc"), col("var_nuc"))),
          "variant_type_fixup")

      case "FrameShiftFixUp" =>
        write(spark.read.parquet(opt("variants"))
          .withColumn("frame_shift_computed",
            Fixups.frameShiftComputed(col("ref_nuc"), col("var_nuc"))),
          "frame_shift_fixup")

      case "GenicStatusFixUp" =>
        // GenicStatusFixUp.java: recompute genic/intergenic against the
        // gene ranges; emit the fixup action where a stored
        // genic_status column exists (recompute-and-compare, like the
        // type/frameshift fixups)
        val variants = spark.read.parquet(opt("variants"))
        val fixed = Fixups.withGenicStatus(variants,
          spark.read.parquet(opt("genes")))
        write(
          if (variants.columns.contains("genic_status"))
            fixed.withColumn("fixup_action", Fixups.fixupAction(
              col("genic_status"), col("genic_status_computed")))
          else fixed,
          "genic_status_fixup")

      case "VariantPostProcessing" =>
        // the full variant↔transcript annotation flow
        // (VariantPostProcessing.java:168-668): gene models from GFF3,
        // reference sequence from FASTA (driver-guarded 2-bit broadcast),
        // optional --verifyIfInRgd drops already-loaded pairs
        val models = graft.sources.Gff3.modelTables(
          spark.read.textFile(opt("gff3")))
        val genome = graft.sources.PackedGenome.fromLines(spark,
          spark.read.textFile(opt("fasta")))
        val ann = TranscriptAnnotator.annotate(
          spark.read.parquet(opt("variants")),
          models.genes, models.transcripts, models.features, genome)
        val kept = optGet("verifyIfInRgd") match {
          case Some(p) => TranscriptAnnotator.verifyIfInRgd(
            ann, spark.read.parquet(p))
          case None => ann
        }
        write(kept.toDF(), "variant_transcripts")

      case "Polyphen" | "Polyphen2" =>
        // Polyphen.java:206-251 input generation; Polyphen2 differs
        // only in its JDBC source generation — same flow here
        write(Polyphen.inputRecords(
          spark.read.parquet(opt("annotations"))), "polyphen_input")

      case "PolyphenFasta" =>
        write(Polyphen.fastaForMissing(
          spark.read.parquet(opt("attempted")),
          spark.read.parquet(opt("known"))), "polyphen_fasta")

      case "PolyphenLoader" | "PolyphenLoader2" =>
        // parse prediction TSV, join back onto the info table
        // (PolyphenLoader.java:104-196)
        write(Polyphen.loadPredictions(
          Polyphen.parseResults(spark.read.textFile(opt("results"))),
          spark.read.parquet(opt("info"))), "polyphen_predictions")

      case "ClinVar2Vcf" =>
        // the reference tool's SELECT gates on object_type
        // (ClinVar2Vcf.java:83, incl. microsatellite per Feb 2025
        // changes.txt) — apply it by default when the input carries the
        // column; a pre-filtered extract without it passes through
        val cv = spark.read.parquet(opt("input"))
        writeVcf(
          if (cv.columns.contains("object_type"))
            SourceConverters.clinVarToVcf(cv, col("chr"), col("pos"),
              col("rgd_id"), col("name"), col("ref_nuc"), col("var_nuc"),
              col("rs_id"), col("object_type"))
          else
            SourceConverters.clinVarToVcf(cv, col("chr"), col("pos"),
              col("rgd_id"), col("name"), col("ref_nuc"), col("var_nuc"),
              col("rs_id")))

      case "DbSnp2Vcf" =>
        writeVcf(SourceConverters.dbSnpToVcf(
          spark.read.parquet(opt("input")), col("chr"), col("pos"),
          col("snp_name"), col("ref_nuc"), col("var_nuc")))

      case "GwasCat2Vcf" =>
        writeVcf(SourceConverters.gwasCatToVcf(
          spark.read.parquet(opt("input")), col("chr"), col("pos"),
          col("snps"), col("ref_nuc"), col("var_nuc")))

      case "VariantRatLoaderFromDb" =>
        // the re-load path (VariantRatLoaderFromDb.java:32-379): variants
        // come from the existing store, not CommonFormat2 files, and flow
        // through the same natural-key merge as a fresh load. No --batch
        // means self re-load, whose contract is idempotence: every row
        // classifies already_in_rgd and keeps its id, zero inserts. The
        // reference's per-chromosome fan-out (--chr) is a partition
        // filter here, not an orchestration loop.
        val key = Seq("chr", "pos", "end_pos", "ref_nuc", "var_nuc",
          "variant_type")
        val existing = spark.read.parquet(opt("variants"))
        val batch0 = optGet("batch").map(spark.read.parquet(_))
          .getOrElse(existing)
        val batch = optGet("chr")
          .map(c => batch0.filter(col("chr") === c)).getOrElse(batch0)
        val classified = VariantMerge.classify(
          batch.select(key.map(col): _*).distinct(), existing, key,
          "variant_id")
          // matches keep their store id; misses are assigned the same
          // deterministic natural-key id a fresh load would mint
          .withColumn("assigned_id",
            coalesce(col("existing_id"), xxhash64(key.map(col): _*)))
        write(classified, "reload")

      case other =>
        throw new IllegalArgumentException(s"unknown tool: $other\n$usage")
    }
  }
}
