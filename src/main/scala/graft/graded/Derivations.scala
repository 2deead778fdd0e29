package graft
package graded

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The deterministic synthetic inputs the graded queries share, each
  * Spark definition next to its DuckDB twin, so both engines compute the
  * same rows from the same parquet (SURVEY.md §3). */
private[graded] object Derivations {

  /** A/C/G/T from an integer expression (mod 4). */
  def baseOf(c: Column): Column =
    when(c % 4 === 0, "A").when(c % 4 === 1, "C")
      .when(c % 4 === 2, "G").otherwise("T")

  /** SQL twin of [[baseOf]]. */
  def baseOfSql(e: String): String =
    s"CASE $e % 4 WHEN 0 THEN 'A' WHEN 1 THEN 'C' WHEN 2 THEN 'G' ELSE 'T' END"

  /** Lineitem's synthetic variant site: chromosome `l_orderkey % 5`,
    * position below 100,000. Call sites add their own casts. */
  def liChr: Column = col("l_orderkey") % 5
  val liChrSql = "l_orderkey % 5"
  def liPos: Column = (col("l_orderkey") * 31 + col("l_linenumber") * 7) % 100000
  val liPosSql = "(l_orderkey*31 + l_linenumber*7) % 100000"

  /** Synthetic variant rows derived from lineitem (chr, pos, ref/var nuc). */
  def liVariants(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(
      liChr.cast("long").as("chr"),
      liPos.cast("long").as("pos"),
      baseOf(col("l_partkey")).as("ref_nuc"),
      baseOf(col("l_suppkey")).as("var_nuc"),
      col("l_linenumber"), col("l_orderkey"))

  val liVariantsSql =
    s"SELECT CAST($liChrSql AS BIGINT) AS chr, " +
      s"CAST($liPosSql AS BIGINT) AS pos, " +
      s"${baseOfSql("l_partkey")} AS ref_nuc, " +
      s"${baseOfSql("l_suppkey")} AS var_nuc, " +
      "l_linenumber, l_orderkey FROM lineitem"

  /** Synthetic multi-strain VCF lines from lineitem (shared by
    * vcf_parse and variant_pipeline; vcf_genotype_counts synthesizes its
    * own gate-exercising variant): strain A is always called 0/1 with
    * AD=q40,ln; strain B is ./. on every 7th line, else 1/1 with
    * AD=0,s9. */
  def synthVcfLines(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables.lineitem(s, dir).select(concat_ws("\t",
      (liChr + 1).cast("string"),
      liPos.cast("string"),
      lit("."),
      baseOf(col("l_partkey")),
      baseOf(col("l_partkey") + 1),
      lit("100"), lit("PASS"), lit("."), lit("GT:AD:DP"),
      concat(lit("0/1:"), (col("l_quantity").cast("long") % 40).cast("string"),
        lit(","), col("l_linenumber").cast("string"), lit(":"),
        ((col("l_quantity").cast("long") % 40) + col("l_linenumber")).cast("string")),
      when(col("l_orderkey") % 7 === 0, "./.")
        .otherwise(concat(lit("1/1:0,"), (col("l_suppkey") % 9).cast("string"),
          lit(":"), (col("l_suppkey") % 9).cast("string"))))
      .as("line")).as[String]
  }

  /** Synthetic SAM alignment lines from lineitem — shared by
    * sam_alignment_stats and sam_pileup; [[samReadsCtes]] is the
    * oracle-side twin that re-derives every CIGAR span arithmetically
    * from the same numbers. Every 13th line is a header and every 11th
    * an unmapped read, exercising the parser's quarantine gate. */
  def samSynthLines(s: SparkSession, dir: String) = {
    import s.implicits._
    val o = col("l_orderkey").cast("long")
    val l = col("l_linenumber").cast("long")
    val p = col("l_partkey").cast("long")
    val sC = lit(1L) + l % 4
    val m1 = lit(10L) + o % 16
    val ins = lit(1L) + p % 3
    val m2 = lit(5L) + p % 8
    val del = lit(1L) + o % 2
    val line = when((o + l) % 13 === 0,
        lit("@SQ\tSN:chr0\tLN:100000"))
      .when((o + l) % 11 === 0, concat_ws("\t",
        concat(lit("r"), o, lit("_"), l), lit("4"), lit("*"),
        lit("0"), lit("0"), lit("*"), lit("*"), lit("0"), lit("0"),
        lit("*"), lit("*")))
      .otherwise(concat_ws("\t",
        concat(lit("r"), o, lit("_"), l),
        ((o % 2) * 16).cast("string"),
        concat(lit("chr"), (o % 5).cast("string")),
        (lit(1L) + (o * 31 + l * 7) % 100000).cast("string"),
        (lit(20L) + p % 40).cast("string"),
        concat(sC, lit("S"), m1, lit("M"), ins, lit("I"),
          m2, lit("M"), del, lit("D"), lit("4M")),
        lit("*"), lit("0"), lit("0"), lit("*"), lit("*")))
    Tables.lineitem(s, dir).select(line.as("line")).as[String]
  }

  /** Oracle twin of [[samSynthLines]] ∘ Sam.alignments: the mapped,
    * well-formed reads with their CIGAR op-class sums re-derived
    * arithmetically (ends with table `sam_reads(chr, pos, ref_span,
    * aligned, clipped)`). */
  val samReadsCtes =
    """sam_r AS (SELECT CAST(l_orderkey AS BIGINT) AS o,
      |  CAST(l_linenumber AS BIGINT) AS l,
      |  CAST(l_partkey AS BIGINT) AS p
      |  FROM lineitem
      |  WHERE (l_orderkey + l_linenumber) % 13 <> 0
      |    AND (l_orderkey + l_linenumber) % 11 <> 0),
      |sam_reads AS (SELECT 'chr' || CAST(o % 5 AS VARCHAR) AS chr,
      |  1 + (o*31 + l*7) % 100000 AS pos,
      |  (10 + o % 16) + (5 + p % 8) + (1 + o % 2) + 4 AS ref_span,
      |  (10 + o % 16) + (5 + p % 8) + 4 AS aligned,
      |  1 + l % 4 AS clipped,
      |  'r' || CAST(o AS VARCHAR) || '_' || CAST(l AS VARCHAR) AS qname,
      |  CAST((o % 2) * 16 AS BIGINT) AS flag,
      |  CAST(20 + p % 40 AS BIGINT) AS mapq FROM sam_r)""".stripMargin

  /** Synthetic gene/exon intervals derived from part. */
  def partGenes(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir).select(
      col("p_partkey").as("gene_id"),
      (col("p_partkey") % 5).cast("long").as("chr"),
      ((col("p_partkey") * 137) % 100000).cast("long").as("gstart"))
      .withColumn("gstop",
        col("gstart") + 50 + (col("gene_id") * 97) % 2000)

  val partGenesSql =
    "SELECT p_partkey AS gene_id, CAST(p_partkey % 5 AS BIGINT) AS chr, " +
      "CAST((p_partkey*137) % 100000 AS BIGINT) AS gstart, " +
      "CAST((p_partkey*137) % 100000 + 50 + (p_partkey*97) % 2000 AS BIGINT) AS gstop " +
      "FROM part"

  /** Synthetic per-(site, sample) genotype dosage cells from lineitem,
    * shared by the LD, popgen and Mendel queries and by
    * vcf_genotype_concordance: gt derives from
    * (partkey, suppkey), NOT the (orderkey, linenumber) pair that
    * derives pos — the hwe-style derivation satisfies 13o+17l ≡
    * pos + 2·chr (mod 10), which would make every sample at a site
    * identical (zero variance). Duplicate (chr, pos, sample) draws
    * collapse by max, so the frame is unique per cell.
    *
    * @return (chr, pos, sample, gv) with gv ∈ {0, 1, 2}
    */
  def dosageCells(s: SparkSession, dir: String): DataFrame = {
    val g = (col("l_partkey") * 13 + col("l_suppkey") * 17) % 10
    Tables.lineitem(s, dir).select(
        liChr.cast("long").as("chr"),
        ((col("l_orderkey") * 31 + col("l_linenumber") * 7) % 1000)
          .cast("long").as("pos"),
        (col("l_suppkey") % 20).cast("long").as("sample"),
        when(g <= 4, 0).when(g <= 8, 1).otherwise(2).as("gt"))
      .groupBy("chr", "pos", "sample").agg(max("gt").as("gv"))
  }

  /** Oracle twin of [[dosageCells]]: d/c CTEs ending in
    * `c(chr, pos, sample, gv)`. */
  val dosageCellCtes =
    s"""d AS (SELECT CAST($liChrSql AS BIGINT) AS chr,
      |  CAST((l_orderkey*31 + l_linenumber*7) % 1000 AS BIGINT) AS pos,
      |  CAST(l_suppkey % 20 AS BIGINT) AS sample,
      |  CASE WHEN (l_partkey*13 + l_suppkey*17) % 10 <= 4 THEN 0
      |    WHEN (l_partkey*13 + l_suppkey*17) % 10 <= 8 THEN 1
      |    ELSE 2 END AS gt FROM lineitem),
      |c AS (SELECT chr, pos, sample, max(gt) AS gv
      |  FROM d GROUP BY 1, 2, 3)""".stripMargin

  /** Deterministic DNA string from a document's md5. */
  def docDna: Column =
    translate(md5(col("text")), "0123456789abcdef", "ACGTACGTACGTACGT")

  val docDnaSql =
    "translate(md5(text), '0123456789abcdef', 'ACGTACGTACGTACGT')"

  /** Normalized text (SQL twin of Dedup.normText; 'g' = global replace). */
  val normTextSql = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  /** The documents-table jaccard blocking key (lang + 100-char length
    * band) — ONE definition for every Spark-side registration that
    * grades against the shared `jaccardPairCtes` oracle derivation. */
  def docBlockCol: Column = concat(col("lang"), lit("|"),
    floor(col("n_chars") / 100).cast("long").cast("string"))

  /** The documents-table jaccard blocking key as SQL (twin of
    * [[docBlockCol]]). */
  val docBlockSql =
    "lang || '|' || CAST(CAST(floor(n_chars / 100) AS BIGINT) AS VARCHAR)"

  /** SQL CASE over the 64 codons of [[graft.functions.DnaOps.codonTable]],
    * the table the Spark kernels translate with; anything else is 'X'. */
  def codonCase(e: String): String =
    "CASE " + e + graft.functions.DnaOps.codonTable
      .map { case (c, aa) => s" WHEN '$c' THEN '$aa'" }.mkString +
      " ELSE 'X' END"
}
