package graft.operators

import java.io.{BufferedReader, InputStreamReader}
import java.net.URI
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed VCF → "common format 2" conversion.
  *
  * Re-expresses VcfToCommonFormat2Converter.java:109-357: skip headers,
  * read the #CHROM header for strain names, then for each data line ×
  * strain × non-ref allele emit one flat row with ACGT read counts from
  * the AD field, total depth from DP, rsId / RGD id parsing.
  *
  * The reference streams one file through one JVM and keeps one output
  * file per strain. Here the VCF files are one line Dataset: header
  * discovery ([[fromPath]]) is a driver-side read of each file up to its
  * #CHROM line, with no Spark job, and the per-line fan-out (strains ×
  * alleles) is one narrow pass per partition — shuffle-free, scaling to
  * any number of files × strains. [[parse]] and [[genotypeCounts]] take
  * lines and strains directly, for streams and in-memory lines.
  */
object VcfParser {

  /** Column layout of common format 2 (README "Common Format 2"). */
  val outputColumns: Seq[String] = Seq(
    "strain", "chr", "pos", "ref_nuc", "var_nuc", "rs_id",
    "count_a", "count_c", "count_g", "count_t", "total_depth",
    "hgvs_name", "rgd_id", "allele_count", "allele_depth", "read_depth")

  /** One emitted common-format-2 row. */
  case class Cf2Row(strain: String, chr: String, pos: Int, ref_nuc: String,
                    var_nuc: String, rs_id: String, count_a: Int, count_c: Int,
                    count_g: Int, count_t: Int, total_depth: Int,
                    hgvs_name: Option[String], rgd_id: Option[Int],
                    allele_count: Int, allele_depth: Int, read_depth: Int)

  /** Parse VCF text lines. `strainNames` are the sample columns from the
    * #CHROM header (column 10 onward); [[fromPath]] reads them from each
    * file's own header.
    *
    * Implemented as a single imperative pass per partition (the same shape
    * as Spark's own text-format datasources): a first declarative draft
    * re-evaluated the split/transform expression trees once per derived
    * column after projection collapse — ~10x the work. One hand-rolled
    * pass keeps the whole parse narrow, shuffle-free and allocation-light.
    *
    * @param processVariantsSameAsRef also emit alleles equal to the ref
    *        (default false, like the reference)
    * @param processLinesWithMissingADDP keep lines whose FORMAT lacks
    *        AD/DP, substituting depth 9 (the reference's `--ADDP` option,
    *        VcfToCommonFormat2Converter.java:192-273); default false =
    *        drop such lines
    * @param accessionMap NC_* accession → chromosome name (the reference
    *        resolves these from its MapDAO; pass the equivalent lookup)
    */
  def parse(lines: Dataset[String], strainNames: Seq[String],
            processVariantsSameAsRef: Boolean = false,
            processLinesWithMissingADDP: Boolean = false,
            accessionMap: Map[String, String] = Map.empty): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    val strains = strainNames.toArray
    asCommonFormat(lines.mapPartitions(_.flatMap(parseLine(_, strains,
      processVariantsSameAsRef, processLinesWithMissingADDP, accessionMap))))
  }

  private def asCommonFormat(rows: Dataset[Cf2Row]): DataFrame =
    rows.toDF().select(outputColumns.map(col): _*)

  private def toIntOpt(s: String): Option[Int] =
    try Some(s.toInt) catch { case _: NumberFormatException => None }

  /** Chromosome normalization — VcfToCommonFormat2Base.getChromosome:
    * NC_* accessions resolve through the provided map; otherwise every
    * "chr" and "c" substring is stripped (the reference's exact
    * `replace` calls), names longer than 2 chars / containing 'r' /
    * equal to "Un" are rejected, and "M" maps to "MT". */
  private[graft] def normalizeChr(
      raw: String, accessionMap: Map[String, String]): Option[String] = {
    val impl =
      if (raw.startsWith("NC_")) accessionMap.get(raw)
      else {
        val c = raw.replace("chr", "").replace("c", "")
        if (c.isEmpty || c.length > 2 || c.contains("r") || c == "Un") None
        else Some(c)
      }
    impl.map(c => if (c == "M") "MT" else c)
  }

  /** A data line that passed every line-level gate of the converter's
    * processLine (VcfToCommonFormat2Converter.java:160-198): not a
    * header, ≥10 columns, valid chromosome, parseable position, single
    * ALT allele, AD/DP present in FORMAT unless `--ADDP`. */
  private[graft] final case class GatedLine(
      v: Array[String], chr: String, pos: Int, adIdx: Int, dpIdx: Int)

  /** The shared line-level gate — used by both the variant parse and the
    * genotype tally so the two can't drift. */
  private[graft] def gateLine(line: String, missingADDP: Boolean,
      accessionMap: Map[String, String]): Option[GatedLine] = {
    if (line.isEmpty || line.charAt(0) == '#') return None
    val v = line.split("\t", -1)
    if (v.length < 10) return None
    val chr = normalizeChr(v(0), accessionMap).getOrElse(return None)
    val pos = toIntOpt(v(1)).getOrElse(return None)
    if (v(4).contains(',')) return None // multi-allelic: skipped
    val format = if (v(8).contains(";")) v(8).split(";") else v(8).split(":")
    var adIdx = format.indexOf("AD")
    if (adIdx < 0) adIdx = format.indexOf("CLCAD2")
    val dpIdx = format.indexOf("DP")
    if ((adIdx < 0 || dpIdx < 0) && !missingADDP) return None
    Some(GatedLine(v, chr, pos, adIdx, dpIdx))
  }

  /** Genotype string of one sample cell — the first 3 chars ('0/1' of
    * '0/1:470,63:533'), or the whole cell when shorter
    * (VcfToCommonFormat2Converter.java:227-235). */
  private def genotypeOf(data: String): String =
    if (data.length >= 3) data.substring(0, 3) else data

  /** One (strain, genotype) tally per sample cell of a line that passes
    * the gate. */
  private def tallyLine(line: String, strains: Array[String],
      missingADDP: Boolean,
      accessionMap: Map[String, String]): Iterator[(String, String)] =
    gateLine(line, missingADDP, accessionMap).iterator.flatMap { g =>
      val n = math.min(strains.length, g.v.length - 9)
      (0 until n).iterator.map(si => (strains(si), genotypeOf(g.v(9 + si))))
    }

  /** Reference behavior: VcfToCommonFormat2Converter.processLine /
    * processStrain (lines 161-318). */
  private[graft] def parseLine(line: String, strains: Array[String],
                                   sameAsRef: Boolean,
                                   missingADDP: Boolean = false,
                                   accessionMap: Map[String, String] = Map.empty): Iterator[Cf2Row] = {
    val gated = gateLine(line, missingADDP, accessionMap)
      .getOrElse(return Iterator.empty)
    val v = gated.v
    val chr = gated.chr
    val pos = gated.pos
    val adIdx = gated.adIdx
    val dpIdx = gated.dpIdx
    val id = v(2)
    val refNuc = v(3)
    val alt = v(4)

    // ClinVar-style ID field: RGDID:<id>;<hgvs>
    var rgdId: Option[Int] = None
    var hgvs: Option[String] = None
    if (id.startsWith("RGDID:")) {
      val semi = id.indexOf(';')
      if (semi > 0) {
        rgdId = toIntOpt(id.substring(6, semi))
        hgvs = Some(id.substring(semi + 1))
      }
    }

    val alleles = Array(refNuc, alt)
    val alleleCount = 1 // single ALT per line (multi-allelic skipped above)

    val nStrains = math.min(strains.length, v.length - 9)
    (0 until nStrains).iterator.flatMap { si =>
      val data = v(9 + si)
      val gt = genotypeOf(data)
      if (gt == "./." || gt == "." || gt == "0/0" || gt == "0") Iterator.empty
      else {
        val fields = data.split(":")
        if ((adIdx >= fields.length && adIdx >= 0) ||
            (dpIdx >= fields.length && dpIdx >= 0)) Iterator.empty
        else {
          // AD missing + --ADDP: substitute depth 9 for every allele slot
          // (VcfToCommonFormat2Converter.java:254-258)
          val counts: Array[Int] =
            if (adIdx < 0) Array.fill(8)(9)
            else {
              val adRaw = fields(adIdx)
              if (adRaw == ".") Array(0)
              else adRaw.split(",").map(s => toIntOpt(s).getOrElse(0))
            }
          var readDepth = 0
          var i = 0
          while (i < counts.length) { readDepth += counts(i); i += 1 }
          if (adIdx < 0) readDepth = 9
          val totalDepth =
            if (dpIdx < 0) 9
            else {
              val dpRaw = fields(dpIdx)
              if (dpRaw == ".") 0 else toIntOpt(dpRaw).getOrElse(0)
            }

          def countFor(nuc: String): Int = {
            val ai = alleles.indexOf(nuc)
            if (ai >= 0 && ai < counts.length) counts(ai) else 0
          }

          alleles.iterator
            .filter(a => sameAsRef || a != refNuc)
            .map { allele =>
              Cf2Row(strains(si), chr, pos, refNuc, allele, id,
                countFor("A"), countFor("C"), countFor("G"), countFor("T"),
                totalDepth, hgvs, rgdId, alleleCount, countFor(allele), readDepth)
            }
        }
      }
    }
  }

  /** Per-(strain, genotype) tallies — the converter's per-strain
    * genotypeCountMaps (VcfToCommonFormat2Converter.java:377-391
    * `handleGenotype`; same map in convert/RatMcwVCF.java:20-41). Every
    * sample cell of every line passing the line-level gate tallies its
    * genotype string — INCLUDING './.' and '0/0', which are counted
    * before being skipped for variant emission. The reference keeps one
    * in-memory HashMap per strain and dumps it at end-of-run; here the
    * tally is a map-side-combined groupBy, so only (strain, genotype, n)
    * partials shuffle regardless of input size. */
  def genotypeCounts(lines: Dataset[String], strainNames: Seq[String],
                     processLinesWithMissingADDP: Boolean = false,
                     accessionMap: Map[String, String] = Map.empty): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    val strains = strainNames.toArray
    tallied(lines.mapPartitions(_.flatMap(
      tallyLine(_, strains, processLinesWithMissingADDP, accessionMap))))
  }

  private def tallied(cells: Dataset[(String, String)]): DataFrame =
    cells.toDF("strain", "genotype")
      .groupBy("strain", "genotype").agg(count(lit(1)).as("n"))

  /** Parse 8-column (sample-less) VCF — Vcf8ColToCommonFormat2Converter:
    * depths come from the INFO field (DP total, AC per ALT allele), the
    * reference allele's depth is imputed as DP − ΣAC when the ref is not
    * among the alleles, and one row is emitted per non-ref allele
    * (multi-allelic ALT lists allowed, unlike the sample'd format). */
  def parse8Col(lines: Dataset[String],
                processVariantsSameAsRef: Boolean = false,
                accessionMap: Map[String, String] = Map.empty): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    val sameAsRef = processVariantsSameAsRef
    val accMap = accessionMap
    lines.mapPartitions(_.flatMap(parse8ColLine(_, sameAsRef, accMap)))
      .toDF().select(outputColumns.map(col): _*)
  }

  private[operators] def parse8ColLine(line: String, sameAsRef: Boolean,
      accessionMap: Map[String, String] = Map.empty): Iterator[Cf2Row] = {
    if (line.isEmpty || line.charAt(0) == '#') return Iterator.empty
    val v = line.split("\t", -1)
    if (v.length < 8) return Iterator.empty

    // same NC_* accession resolution as the sample'd dialect — the
    // reference's shared VcfToCommonFormat2Base.getChromosome
    val chr = normalizeChr(v(0), accessionMap).getOrElse(return Iterator.empty)
    val pos = toIntOpt(v(1)).getOrElse(return Iterator.empty)
    val rsId = v(2)
    val refNuc = v(3)

    val info = v(7).split(";", -1).iterator
      .map(f => (f, f.indexOf('=')))
      .collect { case (f, eq) if eq > 0 => f.substring(0, eq) -> f.substring(eq + 1) }
      .toMap
    val totalDepth = info.get("DP").flatMap(toIntOpt).getOrElse(return Iterator.empty)

    var alleles = v(4).split(",", -1)
    var depths: Array[Int] = info.get("AC") match {
      case Some(ac) => ac.split(",", -1).map(s => toIntOpt(s).getOrElse(0))
      case None     => null
    }
    // impute the reference allele's depth when absent from ALT
    if (depths != null && !alleles.contains(refNuc)) {
      val refDepth = totalDepth - depths.sum
      if (refDepth > 0) {
        alleles = alleles :+ refNuc
        depths = depths :+ refDepth
      }
    }
    val alleleCount = v(4).split(",", -1).length

    def depthOf(nuc: String): Int = {
      val i = alleles.indexOf(nuc)
      if (depths != null && i >= 0 && i < depths.length) depths(i) else 0
    }

    alleles.iterator.zipWithIndex
      .filter { case (a, _) => sameAsRef || a != refNuc }
      .map { case (allele, i) =>
        val (ca, cc, cg, ct, ad) =
          if (depths != null)
            (depthOf("A"), depthOf("C"), depthOf("G"), depthOf("T"),
              if (i < depths.length) depths(i) else 0)
          else (
            if (allele == "A") totalDepth else 0,
            if (allele == "C") totalDepth else 0,
            if (allele == "G") totalDepth else 0,
            if (allele == "T") totalDepth else 0,
            totalDepth)
        Cf2Row("", chr, pos, refNuc, allele, rsId, ca, cc, cg, ct,
          if (totalDepth > 0) totalDepth else 0, None, None,
          if (depths == null) 1 else alleleCount, ad,
          if (totalDepth > 0) totalDepth else 0)
      }
  }

  /** Read VCF file(s) from a path — a file, a directory or a glob. Each
    * file's sample columns bind to the strains of that file's own
    * #CHROM header, as the reference converter does for the one file it
    * reads, so VCFs with different strain sets load together correctly.
    * The headers are read on the driver before any job runs (see
    * [[parse]] for the options). */
  def fromPath(spark: SparkSession, path: String,
               processVariantsSameAsRef: Boolean = false,
               processLinesWithMissingADDP: Boolean = false,
               accessionMap: Map[String, String] = Map.empty): DataFrame = {
    import spark.implicits._
    asCommonFormat(withFileStrains(spark, path)(parseLine(_, _,
      processVariantsSameAsRef, processLinesWithMissingADDP, accessionMap)))
  }

  /** [[genotypeCounts]] over VCF file(s) from a path, each file's cells
    * tallied under its own header's strains (as in [[fromPath]]). */
  def genotypeCountsFromPath(spark: SparkSession, path: String,
                             processLinesWithMissingADDP: Boolean = false,
                             accessionMap: Map[String, String] = Map.empty): DataFrame = {
    import spark.implicits._
    tallied(withFileStrains(spark, path)(
      tallyLine(_, _, processLinesWithMissingADDP, accessionMap)))
  }

  /** Runs `f` over every line of the files under `path`, each line with
    * the strains of its own file's #CHROM header. The header map is a
    * few bytes per file and rides in the task closure; each line carries
    * `input_file_name()`, which names its file exactly as `inputFiles`
    * does. */
  private def withFileStrains[T: Encoder](spark: SparkSession, path: String)(
      f: (String, Array[String]) => Iterator[T]): Dataset[T] = {
    import spark.implicits._
    val lines = spark.read.textFile(path)
    val conf = spark.sessionState.newHadoopConf()
    val codecs = new CompressionCodecFactory(conf)
    val byFile = lines.inputFiles.map(file => file -> fileStrains(file, conf, codecs)).toMap
    lines.select(col("value"), input_file_name()).as[(String, String)]
      .mapPartitions(_.flatMap { case (line, file) =>
        f(line, byFile.getOrElse(file, Array.empty))
      })
  }

  /** Strain names (columns 10+) of the #CHROM line that ends one file's
    * header. Reads the file only up to its first line that does not
    * start with "##", decompressing by file extension through the same
    * codec lookup as Spark's text source; a file whose header does not
    * end in a "#" line has no strains. `file` is an `inputFiles` URI. */
  private def fileStrains(file: String, conf: Configuration,
                          codecs: CompressionCodecFactory): Array[String] = {
    val p = new Path(URI.create(file))
    val raw = p.getFileSystem(conf).open(p)
    val codec = codecs.getCodec(p)
    val in = new BufferedReader(new InputStreamReader(
      if (codec == null) raw else codec.createInputStream(raw),
      StandardCharsets.UTF_8))
    try {
      Iterator.continually(in.readLine()).takeWhile(_ != null)
        .find(!_.startsWith("##"))
        .filter(_.startsWith("#"))
        .map(_.drop(1).split("\t", -1).drop(9))
        .getOrElse(Array.empty)
    } finally in.close()
  }
}
