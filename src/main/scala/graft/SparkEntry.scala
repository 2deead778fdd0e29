package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Dna, VariantF, Zygosity}
import graft.operators._
import graft.streaming.EventRates

/** Driver contract: one `queries` entry per SURVEY.md §2 operator, plus a
  * DuckDB-equivalent SQL oracle for everything ANSI-SQL can express.
  *
  * Genomic-domain operators run on deterministic column derivations of the
  * synthetic tables (see SURVEY.md §3), so Spark and DuckDB compute the
  * same rows from the same parquet.
  */
object SparkEntry {

  // ---- shared deterministic derivations (Spark side) ----

  /** A/C/G/T from an integer expression (mod 4). */
  private def baseOf(c: Column): Column =
    when(c % 4 === 0, "A").when(c % 4 === 1, "C")
      .when(c % 4 === 2, "G").otherwise("T")

  /** SQL twin of [[baseOf]]. */
  private def baseOfSql(e: String): String =
    s"CASE $e % 4 WHEN 0 THEN 'A' WHEN 1 THEN 'C' WHEN 2 THEN 'G' ELSE 'T' END"

  /** Synthetic variant rows derived from lineitem (chr, pos, ref/var nuc). */
  private[graft] def liVariantsOf(base: DataFrame): DataFrame =
    base.select(
      (col("l_orderkey") % 5).cast("long").as("chr"),
      ((col("l_orderkey") * 31 + col("l_linenumber") * 7) % 100000).cast("long").as("pos"),
      baseOf(col("l_partkey")).as("ref_nuc"),
      baseOf(col("l_suppkey")).as("var_nuc"),
      col("l_linenumber"), col("l_orderkey"))
  private[graft] def liVariants(s: SparkSession, dir: String): DataFrame =
    liVariantsOf(Tables.lineitem(s, dir))
  /** [[liVariants]] over the spread loader — for consumers whose first
    * stage does heavy per-row or partial-aggregate work above the
    * single-file scan (guide §2); light consumers keep the plain scan
    * (the corpus_mix lesson: an unearned exchange is a regression). */
  private[graft] def liVariantsSpread(s: SparkSession, dir: String): DataFrame =
    liVariantsOf(Tables.lineitemSpread(s, dir))

  private val liVariantsSql =
    "SELECT CAST(l_orderkey % 5 AS BIGINT) AS chr, " +
      "CAST((l_orderkey*31 + l_linenumber*7) % 100000 AS BIGINT) AS pos, " +
      s"${baseOfSql("l_partkey")} AS ref_nuc, " +
      s"${baseOfSql("l_suppkey")} AS var_nuc, " +
      "l_linenumber, l_orderkey FROM lineitem"

  /** Synthetic multi-strain VCF lines from lineitem (shared by
    * vcf_parse and variant_pipeline; vcf_genotype_counts synthesizes its
    * own gate-exercising variant): strain A is always called 0/1 with
    * AD=q40,ln; strain B is ./. on every 7th line, else 1/1 with
    * AD=0,s9. */
  private def synthVcfLines(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables.lineitemSpread(s, dir).select(concat_ws("\t",
      (col("l_orderkey") % 5 + 1).cast("string"),
      ((col("l_orderkey") * 31 + col("l_linenumber") * 7) % 100000).cast("string"),
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
  private def samSynthLines(s: SparkSession, dir: String) = {
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
    Tables.lineitemSpread(s, dir).select(line.as("line")).as[String]
  }

  /** Oracle twin of [[samSynthLines]] ∘ Sam.alignments: the mapped,
    * well-formed reads with their CIGAR op-class sums re-derived
    * arithmetically (ends with table `sam_reads(chr, pos, ref_span,
    * aligned, clipped)`). */
  private val samReadsCtes =
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
  private def partGenes(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir).select(
      col("p_partkey").as("gene_id"),
      (col("p_partkey") % 5).cast("long").as("chr"),
      ((col("p_partkey") * 137) % 100000).cast("long").as("gstart"))
      .withColumn("gstop",
        col("gstart") + 50 + (col("gene_id") * 97) % 2000)

  private val partGenesSql =
    "SELECT p_partkey AS gene_id, CAST(p_partkey % 5 AS BIGINT) AS chr, " +
      "CAST((p_partkey*137) % 100000 AS BIGINT) AS gstart, " +
      "CAST((p_partkey*137) % 100000 + 50 + (p_partkey*97) % 2000 AS BIGINT) AS gstop " +
      "FROM part"

  /** Gaps-and-islands merge chain over a `(chr, gstart, gstop)` CTE
    * `src`, prefixed so two call sets can merge in one statement;
    * ends in `<p>m(chr, mstart, mstop)` — the interval_merge oracle's
    * exact semantics (adjacency fuses: a new block opens only when
    * gstart clears the running max gstop by ≥ 2). */
  private def mergeChainSql(src: String, p: String): String =
    s"""${p}o AS (SELECT chr, gstart, gstop,
       |  CASE WHEN max(gstop) OVER (PARTITION BY chr
       |      ORDER BY gstart, gstop
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |    IS NULL THEN 1
       |  WHEN gstart > max(gstop) OVER (PARTITION BY chr
       |      ORDER BY gstart, gstop
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
       |    THEN 1 ELSE 0 END AS op FROM $src),
       |${p}b AS (SELECT chr, gstart, gstop,
       |  sum(op) OVER (PARTITION BY chr ORDER BY gstart, gstop
       |    ROWS UNBOUNDED PRECEDING) AS blk FROM ${p}o),
       |${p}m AS (SELECT chr, CAST(min(gstart) AS BIGINT) AS mstart,
       |  CAST(max(gstop) AS BIGINT) AS mstop FROM ${p}b
       |  GROUP BY chr, blk)""".stripMargin

  /** The 64 codon→AA pairs as a SQL VALUES list — interpolated from
    * [[graft.functions.Dna.codonTable]], the one source of truth. */
  private val codonValuesSql = graft.functions.DnaOps.codonTable
    .map { case (c, a) => s"('$c', '$a')" }.mkString(", ")

  /** The SCD2 test fixture shared by scd2_upsert and
    * scd2_asof_snapshot (ONE derivation so the absorb input and the
    * as-of churn matrix grade the same history): history = customers
    * key%10≠0 all open since t=0; snapshot drops key%13=0, mutates
    * key%7=0 to CHANGED, introduces key%10=0. */
  private def scd2HistorySnap(s: SparkSession,
                              dir: String): (DataFrame, DataFrame) = {
    val cust = Tables.customer(s, dir)
    val history = cust.where(col("c_custkey") % 10 =!= 0)
      .select(col("c_custkey").as("custkey"),
        col("c_mktsegment").as("segment"),
        lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
    val snap = cust.where(col("c_custkey") % 13 =!= 0)
      .select(col("c_custkey").as("custkey"),
        when(col("c_custkey") % 7 === 0, "CHANGED")
          .otherwise(col("c_mktsegment")).as("segment"))
    (history, snap)
  }

  /** Normalized text (SQL twin of Dedup.normText; 'g' = global replace). */
  private val normTextSql = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  /** The documents-table jaccard blocking key (lang + 100-char length
    * band) — ONE definition for every Spark-side registration that
    * grades against the shared `jaccardPairCtes` oracle derivation. */
  private def docBlockCol: Column = concat(col("lang"), lit("|"),
    floor(col("n_chars") / 100).cast("long").cast("string"))

  /** The confirmed near-dup pair frame (3-shingle jaccard ≥ 0.2 inside
    * [[docBlockCol]] blocks) — ONE Spark-side derivation for every
    * registration grading against the shared `jaccardPairCtes` oracle
    * CTEs (dedup_ngram_jaccard, dedup_groups, graph_degree_hist,
    * graph_pagerank), mirroring the oracle-side sharing so the pair
    * graph cannot drift between its consumers. */
  private def docJaccardPairs(s: SparkSession, dir: String): DataFrame =
    // NOT the spread loader: tried in r15 and the whole family regressed
    // ~0.6x — ngramJaccardPairs references the docs frame on both sides
    // of its candidate/verify joins, and the extra exchange re-executes
    // per reference instead of reusing (the corpus_mix lesson)
    Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
      blockCol = docBlockCol, n = 3, minJaccard = 0.2)

  /** Both orientations of an undirected near-dup pair frame in ONE
    * pass: union(select(a,b), select(b,a)) embeds the pairs subtree
    * TWICE in the plan, and only the exchanges below it are reused —
    * the verify-side join + intersect kernel re-ran per child (guide
    * §2.4 "remove shuffles/passes outright"). explode duplicates each
    * row after it is computed, so the derivation runs once. */
  private def bothDirs(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Synthetic per-(site, sample) genotype dosage cells from lineitem,
    * shared by ldSitePairs and mendel_errors: gt derives from
    * (partkey, suppkey), NOT the (orderkey, linenumber) pair that
    * derives pos — the hwe-style derivation satisfies 13o+17l ≡
    * pos + 2·chr (mod 10), which would make every sample at a site
    * identical (zero variance). Duplicate (chr, pos, sample) draws
    * collapse by max, so the frame is unique per cell.
    *
    * @return (chr, pos, sample, gv) with gv ∈ {0, 1, 2}
    */
  private def dosageCells(s: SparkSession, dir: String): DataFrame = {
    val g = (col("l_partkey") * 13 + col("l_suppkey") * 17) % 10
    Tables.lineitem(s, dir).select(
        (col("l_orderkey") % 5).cast("long").as("chr"),
        ((col("l_orderkey") * 31 + col("l_linenumber") * 7) % 1000)
          .cast("long").as("pos"),
        (col("l_suppkey") % 20).cast("long").as("sample"),
        when(g <= 4, 0).when(g <= 8, 1).otherwise(2).as("gt"))
      .groupBy("chr", "pos", "sample").agg(max("gt").as("gv"))
  }

  /** Oracle twin of [[dosageCells]]: d/c CTEs ending in
    * `c(chr, pos, sample, gv)`. */
  private val dosageCellCtes =
    """d AS (SELECT CAST(l_orderkey % 5 AS BIGINT) AS chr,
      |  CAST((l_orderkey*31 + l_linenumber*7) % 1000 AS BIGINT) AS pos,
      |  CAST(l_suppkey % 20 AS BIGINT) AS sample,
      |  CASE WHEN (l_partkey*13 + l_suppkey*17) % 10 <= 4 THEN 0
      |    WHEN (l_partkey*13 + l_suppkey*17) % 10 <= 8 THEN 1
      |    ELSE 2 END AS gt FROM lineitem),
      |c AS (SELECT chr, pos, sample, max(gt) AS gv
      |  FROM d GROUP BY 1, 2, 3)""".stripMargin

  /** Tajima's D constants for M = 40 chromosomes (Tajima 1989 eqs.
    * 3-38; a FIXED 3-sample panel (samples 0-2, M = 6 chromosomes)
    * restricted to its fully-called sites keeps M constant at every
    * SF — the full 20-sample cohort is complete-called only at sf0.1,
    * so a 20-sample D would grade an empty frame at smaller SFs — a
    * CONSTANT and the a/b/c/e chain is computed ONCE here and
    * interpolated into BOTH the Spark literals and the oracle SQL —
    * Scala's Double.toString round-trips, so the engines share
    * bit-identical constants rather than re-deriving them). */
  private val tajM = 6
  private val tajA1 = (1 until tajM).map(1.0 / _).sum
  private val tajA2 = (1 until tajM).map(i => 1.0 / (i.toLong * i)).sum
  private val tajB1 = (tajM + 1).toDouble / (3.0 * (tajM - 1))
  private val tajB2 =
    2.0 * (tajM * tajM + tajM + 3) / (9.0 * tajM * (tajM - 1))
  private val tajC1 = tajB1 - 1.0 / tajA1
  private val tajC2 =
    tajB2 - (tajM + 2) / (tajA1 * tajM) + tajA2 / (tajA1 * tajA1)
  private val tajE1 = tajC1 / tajA1
  private val tajE2 = tajC2 / (tajA1 * tajA1 + tajA2)

  /** Variance-filtered LD site-pair cross-moments, shared by
    * ld_pairwise and ld_decay (ONE derivation so the pair domain
    * cannot drift between its consumers): dosage cells from lineitem
    * (gt derives from (partkey, suppkey), NOT the (orderkey,
    * linenumber) pair that derives pos — the hwe-style derivation
    * satisfies 13o+17l ≡ pos + 2·chr (mod 10), which makes every
    * sample at a site identical: zero variance, zero LD pairs), then
    * the bin-replication self-join: each left cell probes its own
    * 16-wide position bin and the next, the right side joins on its
    * single home bin, so candidates = 2·cells before the ≤10-bp
    * distance filter — the site-pair domain is bounded by WINDOW
    * density, never sites². All cross-moments are exact integer sums
    * of {0,1,2} dosages; both variance terms filtered > 0.
    *
    * @return (chr, pos1, pos2, n, s1, s2, s11, s22, s12)
    */
  private def ldSitePairs(s: SparkSession, dir: String): DataFrame = {
    val cells = dosageCells(s, dir)
    val left = cells.select(col("chr"), col("sample"),
        col("pos").as("pos1"), col("gv").as("g1"),
        explode(array(floor(col("pos") / 16).cast("long"),
          floor(col("pos") / 16).cast("long") + 1L)).as("bin"))
    val right = cells.select(col("chr"), col("sample"),
      col("pos").as("pos2"), col("gv").as("g2"),
      floor(col("pos") / 16).cast("long").as("bin"))
    left.join(right, Seq("chr", "sample", "bin"))
      .filter(col("pos2") > col("pos1") &&
        col("pos2") - col("pos1") <= 10)
      .groupBy("chr", "pos1", "pos2").agg(
        count(lit(1)).as("n"), sum("g1").as("s1"), sum("g2").as("s2"),
        sum(col("g1") * col("g1")).as("s11"),
        sum(col("g2") * col("g2")).as("s22"),
        sum(col("g1") * col("g2")).as("s12"))
      .filter(col("n") * col("s11") - col("s1") * col("s1") > 0 &&
        col("n") * col("s22") - col("s2") * col("s2") > 0)
  }

  /** Oracle twin of [[ldSitePairs]]: the d/c/p/r CTE chain ending in
    * the per-pair r2e4 frame `r` (chr, pos1, pos2, r2e4). */
  private val ldPairCtes =
    s"""$dosageCellCtes,
      |p AS (SELECT a.chr, a.pos AS pos1, b.pos AS pos2,
      |  count(*) AS n, sum(a.gv) AS s1, sum(b.gv) AS s2,
      |  sum(a.gv*a.gv) AS s11, sum(b.gv*b.gv) AS s22,
      |  sum(a.gv*b.gv) AS s12
      |  FROM c a JOIN c b ON a.chr = b.chr AND a.sample = b.sample
      |    AND b.pos > a.pos AND b.pos - a.pos <= 10
      |  GROUP BY 1, 2, 3),
      |r AS (SELECT chr, pos1, pos2,
      |  CAST(round(10000.0 * (n*s12 - s1*s2) * (n*s12 - s1*s2)
      |    / ((n*s11 - s1*s1) * (n*s22 - s2*s2))) AS BIGINT) AS r2e4
      |  FROM p
      |  WHERE n*s11 - s1*s1 > 0 AND n*s22 - s2*s2 > 0)""".stripMargin

  /** Shared projection of the rollup_agg / cube_agg grouping-sets pair
    * (ONE definition so the gid cast / ALL labels cannot drift). */
  private def groupingSetsAgg(
      g: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    g.agg(round(sum("l_quantity"), 2).as("sum_qty"),
        count(lit(1)).as("n"),
        grouping_id().as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("sum_qty"), col("n"), col("gid"))

  /** The lineitem measure columns the profile_columns query audits —
    * ONE list driving both the Spark agg/stack build and the oracle's
    * UNION ALL, so the two cannot drift. */
  private val profiledCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** DOUBLE[] literal for a float vector, as DuckDB SQL. */
  private def vecLit(cv: Array[Float]): String =
    cv.map(_.toDouble.toString).mkString("[", ", ", "]")

  /** Coarse-quantizer distance rows (one SELECT per centroid over CTE
    * `v`) — shared by the ann_ivf / ann_ivf_pq / dedup_semantic oracles
    * so the coarse-assignment derivation cannot drift between them. */
  private def coarseDistRows(cents: Array[Array[Float]]): String =
    cents.zipWithIndex.map { case (cv, ci) =>
      s"SELECT vec_id, $ci AS c, ${Similarity.selfDot(cv)} - " +
        s"2*list_dot_product(vv, ${vecLit(cv)}) AS d FROM v"
    }.mkString("\n  UNION ALL ")

  /** Full IVF assign/probe/score/top-k oracle over the fixed 16×64
    * quantizer — ONE derivation shared by ann_ivf, ann_ivf_probe_disk
    * and ann_ivf_probe_batch (which differ only in WHERE the assignment
    * cost is paid and in the query-batch predicate), so the probe
    * arithmetic cannot drift between the in-memory, build-once and
    * probe-many twins. `queryPred` filters `p.vec_id` to the batch. */
  private def ivfProbeOracle(queryPred: String): String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
       |d AS (
       |  ${coarseDistRows(Similarity.ivfQuantizer(16, 64))}),
       |rnk AS (SELECT vec_id, c,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM d),
       |asn AS (SELECT a.vec_id AS corpus_id, a.c AS list_id, vv AS cv
       |  FROM rnk a JOIN v ON v.vec_id = a.vec_id WHERE a.rn = 1),
       |prb AS (SELECT p.vec_id AS query_id, p.c AS list_id, vv AS qv
       |  FROM rnk p JOIN v ON v.vec_id = p.vec_id
       |  WHERE p.rn <= 2 AND $queryPred),
       |s AS (SELECT query_id, corpus_id,
       |  round(CASE WHEN sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)) > 0
       |    THEN list_dot_product(qv,cv) /
       |      (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)))
       |    ELSE 0 END, 6) AS cos_sim
       |  FROM prb JOIN asn USING (list_id) WHERE corpus_id <> query_id)
       |SELECT query_id, corpus_id, cos_sim, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, corpus_id) AS BIGINT) AS rank FROM s)
       |WHERE rank <= 5""".stripMargin

  /** PQ ADC oracle skeleton over the fixed 8×16×8 codebooks: `v` +
    * caller CTEs + code assignment (`pqa`/`codes`) + codebook table
    * (`cb`) + caller `contrib` body + pivot + left-to-right fold +
    * top-k. Shared verbatim by ann_pq and ann_ivf_pq — one derivation,
    * no drift (the gopherCtes copy-divergence failure mode). `extraCtes`
    * must be empty or end with `,\n`-style termination ready to precede
    * the next CTE. */
  /** The per-(vec, subspace, centroid) PQ assignment-distance rows over
    * CTE `v` — ONE derivation shared by [[pqAdcOracle]] and the
    * distortion oracle so the code-assignment arithmetic cannot drift
    * between the search and audit twins. */
  private def pqAsnRows: String = {
    val cbs = Similarity.pqQuantizer(8, 16, 8)
    (for { m <- 0 until 8; j <- 0 until 16 } yield {
      val cv = cbs(m)(j)
      s"SELECT vec_id, $m AS m, $j AS j, ${Similarity.selfDot(cv)} - " +
        s"2*list_dot_product(list_slice(vv, ${m * 8 + 1}, ${m * 8 + 8}), " +
        s"${vecLit(cv)}) AS d FROM v"
    }).mkString("\n  UNION ALL ")
  }

  private def pqAdcOracle(extraCtes: String, contribSql: String): String = {
    val cbs = Similarity.pqQuantizer(8, 16, 8)
    val asnRows = pqAsnRows
    val cbRows = (for { m <- 0 until 8; j <- 0 until 16 } yield {
      val cv = cbs(m)(j)
      s"SELECT $m AS m, $j AS j, ${Similarity.selfDot(cv)} AS sd, " +
        s"${vecLit(cv)} AS cv"
    }).mkString("\n  UNION ALL ")
    val pivotCols = (0 until 8)
      .map(m => s"max(CASE WHEN m = $m THEN dm END) AS d$m").mkString(", ")
    val ltrSum = (1 until 8).foldLeft("d0")((acc, m) => s"($acc + d$m)")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
       |${extraCtes}pqa AS (
       |  $asnRows),
       |codes AS (SELECT vec_id, m, j AS code FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id, m
       |    ORDER BY d, j) AS rn FROM pqa) WHERE rn = 1),
       |cb AS (
       |  $cbRows),
       |contrib AS ($contribSql),
       |piv AS (SELECT query_id, corpus_id, $pivotCols
       |  FROM contrib GROUP BY 1, 2),
       |d AS (SELECT query_id, corpus_id, round($ltrSum, 6) AS pq_dist FROM piv)
       |SELECT query_id, corpus_id, pq_dist, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY pq_dist, corpus_id) AS BIGINT) AS rank FROM d)
       |WHERE rank <= 5""".stripMargin
  }

  /** The 3-round LPA label chain over the near-dup graph, ending in
    * `l3(id, label)` — ONE derivation shared by the graph_label_prop
    * and graph_modularity oracles so the round arithmetic cannot drift
    * between the labeling and its quality audit. Splice after `WITH`. */
  private def lpaCtes: String =
    s"""$jaccardPairCtes,
       |e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM jp
       |  UNION ALL SELECT id_b, id_a FROM jp),
       |nodes AS (SELECT DISTINCT src AS id FROM e),
       |l0 AS (SELECT id, id AS label FROM nodes),
       |a1 AS (SELECT e.dst AS id, l.label, count(*) AS cnt
       |  FROM e JOIN l0 l ON l.id = e.src GROUP BY 1, 2),
       |b1 AS (SELECT id, label FROM (SELECT id, label, row_number()
       |  OVER (PARTITION BY id ORDER BY cnt DESC, label) AS rn
       |  FROM a1) WHERE rn = 1),
       |l1 AS MATERIALIZED (SELECT l.id, coalesce(b.label, l.label) AS label
       |  FROM l0 l LEFT JOIN b1 b ON b.id = l.id),
       |a2 AS (SELECT e.dst AS id, l.label, count(*) AS cnt
       |  FROM e JOIN l1 l ON l.id = e.src GROUP BY 1, 2),
       |b2 AS (SELECT id, label FROM (SELECT id, label, row_number()
       |  OVER (PARTITION BY id ORDER BY cnt DESC, label) AS rn
       |  FROM a2) WHERE rn = 1),
       |l2 AS MATERIALIZED (SELECT l.id, coalesce(b.label, l.label) AS label
       |  FROM l1 l LEFT JOIN b2 b ON b.id = l.id),
       |a3 AS (SELECT e.dst AS id, l.label, count(*) AS cnt
       |  FROM e JOIN l2 l ON l.id = e.src GROUP BY 1, 2),
       |b3 AS (SELECT id, label FROM (SELECT id, label, row_number()
       |  OVER (PARTITION BY id ORDER BY cnt DESC, label) AS rn
       |  FROM a3) WHERE rn = 1),
       |l3 AS MATERIALIZED (SELECT l.id, coalesce(b.label, l.label) AS label
       |  FROM l2 l LEFT JOIN b3 b ON b.id = l.id)""".stripMargin

  /** Rare-shingle candidate + intersection CTE prefix ending in
    * `inter(id_a, id_b, n_inter)` + `sizes(doc_id, n_sh)`, parameterized
    * by the blocking-key SQL — shared by the jaccard family (lang +
    * length-band block) and the containment query (lang-only block: a
    * contained doc and its container sit in different length bands by
    * construction). Splice after `WITH`. */
  private def shingleCtes(blockSql: String): String =
    s"""t AS (SELECT doc_id, $blockSql AS block,
       |  $normTextSql AS t FROM documents),
       |sh AS (SELECT DISTINCT doc_id, block, substr(t, CAST(i AS INT), 3) AS sh
       |  FROM (SELECT doc_id, block, t, unnest(generate_series(1, length(t)-2)) AS i
       |    FROM t WHERE length(t) >= 3)),
       |dfreq AS (SELECT block, sh, count(*) AS dfreq FROM sh GROUP BY block, sh),
       |rare AS (SELECT s.doc_id, s.block, s.sh FROM sh s
       |  JOIN dfreq d ON d.block = s.block AND d.sh = s.sh WHERE d.dfreq <= 8),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM rare a JOIN rare b ON a.block = b.block AND a.sh = b.sh
       |    AND a.doc_id < b.doc_id),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter
       |  FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
       |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
       |  GROUP BY c.id_a, c.id_b),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)""".stripMargin

  /** The documents-table jaccard blocking key as SQL (twin of
    * [[docBlockCol]]). */
  private val docBlockSql =
    "lang || '|' || CAST(CAST(floor(n_chars / 100) AS BIGINT) AS VARCHAR)"

  /** Rare-shingle-blocked jaccard CTE block ending in
    * `jp(id_a, id_b, n_inter, n_a, n_b, jaccard)` (confirmed near-dup
    * pairs at threshold 0.2) — shared by the dedup_ngram_jaccard and
    * dedup_groups oracles so the pair derivation cannot drift. Splice
    * after `WITH`. */
  private def jaccardPairCtes: String =
    s"""${shingleCtes(docBlockSql)},
       |jp AS (SELECT id_a, id_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
       |  round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b
       |WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.2)""".stripMargin

  /** Minhash band-membership CTE block ending in
    * `bands(doc_id, band, k0..k3)` — the explicit md5-window signature
    * derivation; shared by the minhash pair oracles and decontam_fuzzy
    * so the signature derivation cannot drift. Splice after `WITH`. */
  private def minhashBandCtes: String = {
    val mins = (0 until 16).map { i =>
      val d = if (i < 8) "d1" else "d2"
      s"min(CAST('0x' || substr($d, ${(i % 8) * 3 + 1}, 8) AS BIGINT)) AS h$i"
    }.mkString(",\n  ")
    val bandRows = (0 until 4).map { b =>
      val hs = (0 until 4).map(j => s"h${b * 4 + j} AS k${j}").mkString(", ")
      s"SELECT doc_id, $b AS band, $hs FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""t AS (SELECT doc_id, $normTextSql AS t FROM documents),
       |sh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 3) AS sh
       |  FROM (SELECT doc_id, t, unnest(generate_series(1, length(t)-2)) AS i
       |    FROM t WHERE length(t) >= 3)),
       |h AS (SELECT doc_id, sh, md5(sh) AS d1, md5('x' || sh) AS d2 FROM sh),
       |sig AS (SELECT doc_id,
       |  $mins
       |FROM h GROUP BY doc_id),
       |bands AS (
       |  $bandRows)""".stripMargin
  }

  /** [[minhashBandCtes]] extended to candidate pairs `prs(id_a, id_b)`
    * (bucket-size cap then in-bucket expansion) — shared by the
    * dedup_minhash_pairs oracle. Splice after `WITH`. */
  private def minhashPairCtes: String =
    s"""$minhashBandCtes,
       |sz AS (SELECT band, k0, k1, k2, k3, count(*) AS n FROM bands
       |  GROUP BY band, k0, k1, k2, k3),
       |bb AS (SELECT bands.* FROM bands
       |  JOIN sz USING (band, k0, k1, k2, k3) WHERE sz.n <= 4096),
       |prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM bb a JOIN bb b ON a.band = b.band AND a.k0 = b.k0
       |  AND a.k1 = b.k1 AND a.k2 = b.k2 AND a.k3 = b.k3
       |  AND a.doc_id < b.doc_id)""".stripMargin

  /** Benchmark-decontamination oracle at word gram size `n` — the
    * explicit unnest/join derivation the Spark kernel path must match;
    * `n` only changes the concatenation width and series bound. */
  private def decontamSql(n: Int): String = {
    val gramExpr = (0 until n)
      .map(i => if (i == 0) "ws[u.g]" else s"ws[u.g+$i]")
      .mkString(" || ' ' || ")
    s"""WITH base AS (SELECT doc_id, $normTextSql AS t FROM documents),
       |w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM base),
       |g AS (SELECT DISTINCT doc_id,
       |  $gramExpr AS gram
       |  FROM w, LATERAL unnest(generate_series(1, len(ws)-${n - 1})) u(g)),
       |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
       |FROM g JOIN b USING (gram) WHERE doc_id % 20 <> 0 GROUP BY 1""".stripMargin
  }

  /** Chained-CTE replay of [[graft.operators.TextAnalysis.bpeTrain]]'s
    * rounds: per round r, pair counts from the round r−1 states (`c`),
    * the argmax with the (cnt desc, a, b) tie-break (`m`), and the
    * one-string-replace merge application (`s`). String replace is
    * left-to-right non-overlapping in both engines and the doubled
    * `|` delimiter makes consecutive matches disjoint, so round states
    * are character-identical to the Spark frame's. */
  private def bpeTrainCtes(numMerges: Int): String = {
    // every CTE here is MATERIALIZED: DuckDB inlines plain CTEs, and
    // s_r references s_{r-1} through both c_r and three m_r scalar
    // subqueries — un-materialized, the inlined tree grows ~4^rounds
    // and re-opens documents.parquet at every leaf ("Too many open
    // files" at 10 rounds)
    val head =
      s"""wd AS MATERIALIZED (SELECT uw.w AS w
         |  FROM (SELECT string_split($normTextSql, ' ') AS ps FROM documents),
         |  LATERAL unnest(ps) uw(w)
         |  WHERE length(uw.w) > 1 AND NOT contains(uw.w, '|')),
         |s0 AS MATERIALIZED (SELECT regexp_replace(w, '(.)', '|\\1|', 'g')
         |  AS state, count(*) AS freq FROM wd GROUP BY 1)""".stripMargin
    val rounds = (1 to numMerges).map { r =>
      s"""c$r AS MATERIALIZED (SELECT t[CAST(u.i AS INT)] AS a,
         |  t[CAST(u.i AS INT) + 1] AS b,
         |  CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT string_split(trim(state, '|'), '||') AS t, freq
         |    FROM s${r - 1}),
         |  LATERAL unnest(generate_series(1, len(t) - 1)) u(i)
         |  GROUP BY 1, 2),
         |m$r AS MATERIALIZED (SELECT a, b, cnt FROM c$r
         |  ORDER BY cnt DESC, a, b LIMIT 1),
         |s$r AS MATERIALIZED (SELECT replace(state,
         |    '|' || (SELECT a FROM m$r) || '||' || (SELECT b FROM m$r) || '|',
         |    '|' || (SELECT a FROM m$r) || (SELECT b FROM m$r) || '|') AS state,
         |  freq FROM s${r - 1})""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** Deterministic DNA string from a document's md5. */
  private def docDna: Column =
    translate(md5(col("text")), "0123456789abcdef", "ACGTACGTACGTACGT")
  private val docDnaSql =
    "translate(md5(text), '0123456789abcdef', 'ACGTACGTACGTACGT')"

  // ---- driver contract ----

  /** Flagship query on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  type Query = (SparkSession, String) => DataFrame

  /** The graded queries named in `only` (every one when it is empty),
    * sorted by name: the one selection every main that walks the
    * registry runs. A typo'd name throws instead of selecting nothing. */
  def select(only: Set[String]): Seq[(String, Query)] = {
    val all = queries
    val unknown = only -- all.keySet
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.toSeq.sorted}")
    all.toSeq.sortBy(_._1).filter { case (n, _) => only.isEmpty || only(n) }
  }

  /** Shared q24/q32 derivation: synthetic variant + gene-model inputs fed
    * through the full VariantPostProcessing-analog annotator. One builder
    * (same rule as the shared oracle CTE builders) so the verifyAA audit
    * necessarily sees exactly the rows the graded annotation query emits.
    * Positions spread over a 10M space so gene density matches a real
    * genome (~1-2 overlapping genes per position, not hundreds — q9/q15's
    * dense intervals would make the variant×gene fan-out quadratic in
    * coverage, which is a property of the data, not the plan).
    * Variant identity = (chr,pos,ref,var), like the reference's natural
    * key (lineitem rows are not unique on (orderkey, linenumber) in the
    * synthetic data, so a row-derived id would collide).
    * Returns (annotated rows incl. the stored-CDS columns, transcripts —
    * the audit's strand lookup). */
  private[graft] def annotatedVariantTranscripts(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // spread loader: the single-file lineitem scan otherwise feeds the
    // distinct's partial aggregate from 3 tasks (guide §2: one-task scan
    // under per-row work); identity at the many-file 100 TB layout
    val variants = liVariantsOf(Tables.lineitemSpread(s, dir))
      .select(col("chr").cast("string").as("chr"),
        ((col("l_orderkey") * 6151 + col("l_linenumber") * 131) % 10000000)
          .cast("long").as("pos"),
        col("ref_nuc"), col("var_nuc"))
      .distinct()
      .withColumn("var_id",
        xxhash64(col("chr"), col("pos"), col("ref_nuc"), col("var_nuc")))
    val sparseGenes = Tables.part(s, dir).select(
      col("p_partkey").as("gene_id"),
      (col("p_partkey") % 5).cast("long").as("chr"),
      ((col("p_partkey") * 5137) % 10000000).cast("long").as("gstart"))
      .withColumn("gstop",
        col("gstart") + 50 + (col("gene_id") * 97) % 2000)
    val genes = sparseGenes
      .select(col("gene_id"), col("chr").cast("string").as("chr"),
        col("gstart"), col("gstop"))
    val transcripts = sparseGenes.select(
      (col("gene_id") * 10).as("tr_id"), col("gene_id"),
      when(col("gene_id") % 2 === 0, "+").otherwise("-").as("strand"),
      (col("gene_id") % 17 === 0).as("non_coding"))
    val nExons = (col("gene_id") % 3 + 1).cast("int")
    val span = (col("gstop") - col("gstart")) ;
    val exonLen = (span / nExons).cast("long")
    val exons = sparseGenes
      .select((col("gene_id") * 10).as("tr_id"), col("gene_id"),
        col("gstart"), col("gstop"), nExons.as("n"), exonLen.as("elen"))
      .withColumn("i", explode(sequence(lit(0), col("n") - 1)))
      .select(col("tr_id"), lit("EXONS").as("ftype"),
        (col("gstart") + col("i") * col("elen")).as("fstart"),
        greatest(col("gstart") + col("i") * col("elen"),
          col("gstart") + (col("i") + 1) * col("elen") - 5).as("fstop"))
    val utrs = sparseGenes.filter(col("gstop") - col("gstart") > 60)
      .select((col("gene_id") * 10).as("tr_id"), col("gstart"), col("gstop"))
      .select(col("tr_id"),
        explode(array(
          struct(lit("5UTRS").as("ftype"), col("gstart").as("fstart"),
            (col("gstart") + 10).as("fstop")),
          struct(lit("3UTRS").as("ftype"), (col("gstop") - 10).as("fstart"),
            col("gstop").as("fstop")))).as("u"))
      .select(col("tr_id"), col("u.ftype"), col("u.fstart"), col("u.fstop"))
    val features = exons.unionByName(utrs)
    val ann = TranscriptAnnotator.annotate(variants, genes, transcripts,
      features, TranscriptAnnotator.Md5Genome(), binWidth = 4096).toDF()
    (ann, transcripts)
  }

  def queries: Map[String, Query] = Map(

    "q1_pricing_summary" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    "q2_group_counts" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"), (col("user_id") % 10).as("user_bucket"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    }),

    "q3_join_filter_agg" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      o.filter(col("o_totalprice") > 1000)
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(round(sum("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
    }),

    "q4_topn_per_group" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("rn"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("total_price"))
    }),

    "q5_semi_join" -> ((s, dir) => {
      val big = Tables.orders(s, dir).filter(col("o_totalprice") > 5000)
        .select("o_custkey")
      val c = Tables.customer(s, dir)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
    }),

    "q6_anti_join" -> ((s, dir) => {
      val p = Tables.orders(s, dir).filter(col("o_orderstatus") === "P")
        .select("o_custkey")
      val c = Tables.customer(s, dir)
      c.join(p, c("c_custkey") === p("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
    }),

    "q7_merge_upsert" -> ((s, dir) => {
      val v = liVariants(s, dir)
      val existing = v.filter(col("l_linenumber") <= 3)
        .groupBy("chr", "pos", "ref_nuc", "var_nuc")
        .agg(min(col("l_orderkey") * 8 + col("l_linenumber")).as("variant_id"))
      val incoming = v.filter(col("l_linenumber") >= 3)
      VariantMerge.classify(incoming, existing,
          Seq("chr", "pos", "ref_nuc", "var_nuc"), "variant_id")
        .groupBy("merge_action").agg(count(lit(1)).as("n"))
    }),

    "q8_window_fixup" -> ((s, dir) => {
      val w = Window.partitionBy("l_orderkey")
      Tables.lineitem(s, dir)
        .withColumn("n_alleles", count(lit(1)).over(w))
        .withColumn("mismatch",
          when(col("l_linenumber") =!= col("n_alleles"), 1).otherwise(0))
        .groupBy("n_alleles")
        .agg(count(lit(1)).as("n_rows"), sum("mismatch").cast("long").as("n_fixed"))
    }),

    "q9_range_join_genic" -> ((s, dir) => {
      // positions repeat heavily (pos space is 100k); pre-aggregating to
      // (chr,pos,cnt) shrinks the interval-join input ~6x with identical
      // counts. And since n_hits needs only HOW MANY genes cover each
      // position — not which — the gene set first collapses to its
      // disjoint coverage SEGMENTS (sweep line): each position joins
      // exactly ONE segment and multiplies by its depth, instead of
      // meeting all ~42 covering genes (sf0.1 overlap density) row by
      // row. n_hits = Σ cnt·depth is identical by definition of depth.
      val points = liVariants(s, dir).groupBy("chr", "pos")
        .agg(count(lit(1)).as("cnt"))
      val segs = Intervals.coverageSegments(partGenes(s, dir), Seq("chr"),
          col("gstart"), col("gstop"))
        .filter(col("depth") > 0)
        .select(col("chr"), col("pos").as("sstart"),
          (col("end_pos") - 1L).as("sstop"), col("depth"))
      RangeJoin.joined(points, segs, "pos", "sstart", "sstop",
          keys = Seq("chr"), binWidth = 4096)
        .groupBy("chr")
        .agg(sum(col("cnt") * col("depth")).as("n_hits"),
          countDistinct("pos").as("n_pos"))
    }),

    "q10_zygosity" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_linenumber").cast("long").as("a"),
        col("l_quantity").cast("long").as("c"),
        (col("l_partkey") % 20).cast("long").as("g"),
        (col("l_suppkey") % 15).cast("long").as("t"),
        baseOf(col("l_orderkey")).as("ref_nuc"),
        baseOf(col("l_partkey")).as("var_nuc"),
        when(col("l_orderkey") % 23 === 21, "X")
          .when(col("l_orderkey") % 23 === 22, "Y")
          .otherwise((col("l_orderkey") % 23 + 1).cast("string")).as("chr"),
        when(col("l_returnflag") === "R", "M").otherwise("F").as("gender"))
      val total = col("a") + col("c") + col("g") + col("t")
      val vr = Zygosity.varReads(col("var_nuc"), col("a"), col("c"), col("g"), col("t"))
      val pct = Zygosity.percentF(vr, total)
      li.select(
          Zygosity.status(pct, col("gender"), col("chr")).as("zygosity_status"),
          Zygosity.refAlleleCalled(col("ref_nuc"), col("a"), col("c"), col("g"), col("t"))
            .as("zygosity_ref_allele"),
          Zygosity.possibleError(pct).as("zygosity_possible_error"),
          Zygosity.numAlleles(col("a"), col("c"), col("g"), col("t"))
            .cast("long").as("num_alleles"),
          Zygosity.percentRead(vr, total).as("percent_read"))
        .groupBy("zygosity_status", "zygosity_ref_allele",
          "zygosity_possible_error", "num_alleles")
        .agg(count(lit(1)).as("n"), sum("percent_read").cast("long").as("sum_pct"))
    }),

    "q11_variant_type" -> ((s, dir) => {
      val refSeq = when(col("l_partkey") % 4 === 0, "").when(col("l_partkey") % 4 === 1, "A")
        .when(col("l_partkey") % 4 === 2, "AC").otherwise("ACGT")
      val varSeq = when(col("l_suppkey") % 4 === 0, "").when(col("l_suppkey") % 4 === 1, "G")
        .when(col("l_suppkey") % 4 === 2, "GT").otherwise("GTCA")
      Tables.lineitem(s, dir)
        .select(((col("l_orderkey") * 31 + col("l_linenumber")) % 100000)
            .cast("long").as("start_pos"),
          refSeq.as("ref_seq"), varSeq.as("var_seq"))
        .select(VariantF.variantType(col("ref_seq"), col("var_seq")).as("variant_type"),
          (VariantF.endPos(col("start_pos"), col("ref_seq"), col("var_seq"))
            - col("start_pos")).cast("long").as("span"))
        .groupBy("variant_type")
        .agg(count(lit(1)).as("n"), sum("span").cast("long").as("sum_span"))
    }),

    "q12_quality_score" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select(col("l_quantity").cast("long").as("rd"),
          (col("l_partkey") % 120).cast("long").as("td"))
        .select(VariantF.qualityScore(col("rd"), col("td")).as("quality_score"))
        .groupBy("quality_score").agg(count(lit(1)).as("n"))
    }),

    "q13_dbsnp_split" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(when(col("doc_id") % 3 === 0, "")
          .otherwise(concat(lit("rs"), col("doc_id").cast("string"))).as("rs_id"))
        .select(VariantF.dbSnpClass(col("rs_id")).as("dbsnp_class"))
        .groupBy("dbsnp_class").agg(count(lit(1)).as("n"))
    }),

    "q14_conservation_agg" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy((col("user_id") % 100).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(avg("value"), 4).as("avg_score"),
          round(min("value"), 4).as("min_score"),
          round(max("value"), 4).as("max_score"))
    }),

    "conservation_sliding" -> ((s, dir) => {
      // conserved-island detection: per-site ±50 bp sliding conservation
      // mean vs 1.2x the chromosome-wide mean. NOT a per-chr range
      // window (25 chromosomes = 25 partitions however big the data —
      // the genomic skew trap); the window sum comes from the
      // ld_pairwise bin-replication self-join instead: each site probes
      // its 128-wide bin and both neighbors, so candidates are bounded
      // by window density per site. The conserved test cross-multiplies
      // exact integers (win_sum·N·5 > total_sum·win_n·6) — ZERO floats
      // anywhere in this query.
      val sites = Tables.events(s, dir).select(
          (col("user_id") % 5).cast("long").as("chr"),
          (col("event_id") % 100000).cast("long").as("pos"),
          round(col("value") * 10000).cast("long").as("v4"))
        .groupBy("chr", "pos").agg(sum("v4").as("s4"),
          count(lit(1)).as("n"))
      val left = sites.select(col("chr"), col("pos"), col("s4").as("ls4"),
        col("n").as("ln"),
        explode(array(floor(col("pos") / 128).cast("long") - 1L,
          floor(col("pos") / 128).cast("long"),
          floor(col("pos") / 128).cast("long") + 1L)).as("bin"))
      val right = sites.select(col("chr"), col("pos").as("pos2"),
        col("s4").as("rs4"), col("n").as("rn"),
        floor(col("pos") / 128).cast("long").as("bin"))
      val win = left.join(right, Seq("chr", "bin"))
        .filter(abs(col("pos2") - col("pos")) <= 50)
        .groupBy("chr", "pos").agg(sum("rs4").as("win_s4"),
          sum("rn").as("win_n"))
      val tot = broadcast(sites.groupBy("chr").agg(
        sum("s4").as("tot_s4"), sum("n").as("tot_n")))
      win.join(tot, "chr")
        .filter(col("win_s4") * col("tot_n") * 5 >
          col("tot_s4") * col("win_n") * 6)
        .groupBy("chr").agg(count(lit(1)).as("n_conserved"),
          sum("win_n").as("sum_win_n"))
    }),

    "vcf_merge_multisample" -> ((s, dir) => {
      // multi-sample VCF row assembly (the output side of the
      // reference's per-sample detail merge): per-site genotype columns
      // in sample order; collect_list order is nondeterministic — the
      // array_sort is what makes retries agree
      val d = Tables.lineitemSpread(s, dir).select(
          concat(lit("S"), (col("l_suppkey") % 4).cast("string"))
            .as("sample"),
          (col("l_orderkey") % 5).cast("long").as("chr"),
          ((col("l_orderkey") * 31 + col("l_linenumber") * 7) % 100000)
            .cast("long").as("pos"),
          when((col("l_partkey") + col("l_suppkey")) % 3 === 0, "0/1")
            .when((col("l_partkey") + col("l_suppkey")) % 3 === 1, "1/1")
            .otherwise("0/0").as("gt"))
        .groupBy("chr", "pos", "sample").agg(max("gt").as("gt"))
      d.groupBy("chr", "pos")
        .agg(count(lit(1)).as("n_samples"),
          array_join(transform(
            array_sort(collect_list(struct(col("sample"), col("gt")))),
            x => concat(x.getField("sample"), lit("="),
              x.getField("gt"))), ";").as("gts"))
        .filter(col("n_samples") === 4)
    }),

    "q15_transcript_features" -> ((s, dir) => {
      val points = liVariants(s, dir).groupBy("chr", "pos")
        .agg(count(lit(1)).as("cnt"))
      val exons = partGenes(s, dir)
        .select(col("chr"), col("gstart"), col("gstop"),
          (col("gstart") - 10).as("wstart"), (col("gstop") + 10).as("wstop"))
      RangeJoin.joined(points, exons, "pos", "wstart", "wstop",
          keys = Seq("chr"), binWidth = 4096)
        .filter(abs(col("pos") - col("gstart")) <= 10 ||
          abs(col("pos") - col("gstop")) <= 10)
        .groupBy("chr").agg(sum("cnt").as("n_near_splice"))
    }),

    "q16_translate_dna" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), docDna.as("dna"))
        .withColumn("protein", Dna.translateDna(col("dna")))
        .withColumn("protein_rc", Dna.translateDna(Dna.reverseComplement(col("dna"))))
    }),

    "q17_revcomp" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), docDna.as("dna"))
        .withColumn("revcomp", Dna.reverseComplement(col("dna")))
    }),

    "q25_nearest_gene" -> ((s, dir) => {
      // sparse (realistic-density) gene space, as in q24
      val points = liVariants(s, dir)
        .select(col("chr"),
          ((col("l_orderkey") * 6151 + col("l_linenumber") * 131) % 10000000)
            .cast("long").as("pos"))
        .distinct()
      val genes = Tables.part(s, dir).select(
        col("p_partkey").as("gene_id"),
        (col("p_partkey") % 5).cast("long").as("chr"),
        ((col("p_partkey") * 5137) % 10000000).cast("long").as("gstart"))
        .withColumn("gstop", col("gstart") + 50 + (col("gene_id") * 97) % 2000)
      NearestFeature.nearest(points, genes, "pos", "gstart", "gstop",
          "gene_id", Seq("chr"), maxDist = 5000, binWidth = 16384)
        .groupBy("chr")
        .agg(count(lit(1)).as("n_points"),
          sum("distance").cast("long").as("sum_distance"))
    }),

    "q27_frameshift" -> ((s, dir) => {
      val refSeq = when(col("l_partkey") % 4 === 0, "").when(col("l_partkey") % 4 === 1, "A")
        .when(col("l_partkey") % 4 === 2, "AC").otherwise("ACGT")
      val varSeq = when(col("l_suppkey") % 4 === 0, "").when(col("l_suppkey") % 4 === 1, "G")
        .when(col("l_suppkey") % 4 === 2, "GT").otherwise("GTCA")
      Tables.lineitem(s, dir)
        .select(refSeq.as("ref_seq"), varSeq.as("var_seq"))
        .select(VariantF.variantType(col("ref_seq"), col("var_seq")).as("variant_type"),
          VariantF.isFrameShift(col("ref_seq"), col("var_seq")).as("frame_shift"))
        .groupBy("variant_type", "frame_shift").agg(count(lit(1)).as("n"))
    }),

    "q18_vcf_format" -> ((s, dir) => {
      val v = liVariants(s, dir)
      v.select(VcfFormat.toVcfLine(
          concat(lit("chr"), col("chr").cast("string")), col("pos"),
          when(col("l_orderkey") % 3 === 0, concat(lit("rs"), col("l_orderkey").cast("string"))),
          col("ref_nuc"), col("var_nuc")).as("line"))
    }),

    "q19_point_lookup" -> ((s, dir) => {
      liVariants(s, dir)
        .filter(col("chr") === 2 && col("pos").between(10000, 30000))
        .select("chr", "pos", "ref_nuc", "var_nuc", "l_orderkey", "l_linenumber")
    }),

    "q20_sessionize" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      Sessionize.sessions(e, "user_id", expr("ts DIV 1000000000"),
          col("event_id"), gapSec = 1800)
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("sess_start"), col("sess_end"))
    }),

    "q21_iupac_expand" -> ((s, dir) => {
      val codes = Seq("A", "C", "G", "T", "R", "Y", "M", "K", "S", "W", "N")
      val code = element_at(
        array(codes.map(lit): _*), (col("l_partkey") % 11 + 1).cast("int"))
      Tables.lineitem(s, dir)
        .select(code.as("code"))
        .select(col("code"), VcfFormat.expandIupac(col("code")).as("allele"))
        .groupBy("code", "allele").agg(count(lit(1)).as("n"))
    }),

    "q22_snpeff_parse" -> ((s, dir) => {
      val eff = when(col("l_orderkey") % 3 === 0, "missense_variant")
        .when(col("l_orderkey") % 3 === 1, "synonymous_variant")
        .otherwise("stop_gained")
      val impact = when(col("l_orderkey") % 2 === 0, "MODERATE").otherwise("HIGH")
      val gene = concat(lit("G"), (col("l_partkey") % 50).cast("string"))
      val ann = concat(baseOf(col("l_suppkey")), lit("|"), eff, lit("|"),
        impact, lit("|"), gene, lit("|ID"), (col("l_partkey") % 50).cast("string"),
        lit("|transcript|T1|protein_coding|1|c.1A>G|p.K1E"))
      val info = concat(lit("DP="), col("l_quantity").cast("long").cast("string"),
        lit(";ANN="), ann,
        when(col("l_linenumber") % 2 === 0,
          concat(lit(","), baseOf(col("l_suppkey") + 1),
            lit("|upstream_gene_variant|MODIFIER|"), gene,
            lit("|ID|transcript|T2|protein_coding|||"))).otherwise(lit("")))
      SnpEff.parseAnnotations(
          Tables.lineitemSpread(s, dir).select(info.as("info")), "info")
        .groupBy("effect", "impact")
        .agg(count(lit(1)).as("n"),
          countDistinct("gene_symbol").as("n_genes"))
    }),

    "q23_polyphen_prep" -> ((s, dir) => {
      val protein = upper(md5(col("text")))
      val pos = (col("doc_id") % 32 + 1).cast("int")
      Tables.documents(s, dir).select(
        col("doc_id"),
        pos.cast("long").as("aa_pos"),
        Polyphen.refAa(protein, pos).as("ref_aa"),
        Polyphen.aaWindow(protein, pos, flank = 5).as("aa_window"))
    }),

    "polyphen_fasta" -> ((s, dir) => {
      // PolyphenFasta recovery: proteins (md5-derived acc + a 96-char
      // synthetic sequence) attempted by all docs, known only for
      // doc_id % 4 != 0 → FASTA records for the rest
      val d = Tables.documents(s, dir).select(col("doc_id"),
        upper(md5(col("text"))).as("protein_id"),
        repeat(upper(md5(col("text"))), 3).as("protein_seq"))
      Polyphen.fastaForMissing(
        d.select("protein_id", "protein_seq"),
        d.filter(col("doc_id") % 4 =!= 0).select("protein_id"))
    }),

    "q24_annotate_variants" -> ((s, dir) => {
      // full row-level output (not an aggregate): every (variant,
      // transcript) annotation is hash-checked against the DuckDB twin,
      // which rebuilds the identical Md5Genome in SQL
      annotatedVariantTranscripts(s, dir)._1
        .select(col("chr"), col("pos"), col("ref_nuc"), col("var_nuc"),
          col("tr_id").cast("long").as("tr_id"), col("location"),
          col("near_splice_site"), col("syn_status"), col("ref_aa"),
          col("var_aa"), col("aa_pos").cast("long").as("aa_pos"),
          col("triplet_error"), col("frame_shift"))
    }),

    "sam_alignment_stats" -> ((s, dir) => {
      // per-chromosome alignment census through the REAL SAM parser
      // (the q26/liftover synthesize-then-parse discipline): SAM lines
      // with multi-op CIGARs (soft clips, insertions, deletions) are
      // synthesized from lineitem (samSynthLines), run through
      // sources.Sam's one-pass kernel parse, and rolled up per chr;
      // the oracle re-derives every span ARITHMETICALLY from the
      // synthesis numbers (samReadsCtes), so the comparison proves the
      // field split AND the CIGAR walk's op classification. Header and
      // unmapped lines are synthesized too (every 13th/11th) to
      // exercise the gate.
      graft.sources.Sam.alignments(samSynthLines(s, dir))
        .groupBy("chr").agg(count(lit(1)).as("n_reads"),
          sum("ref_span").as("sum_ref_span"),
          sum("n_aligned").as("sum_aligned"),
          sum("n_clipped").as("sum_clipped"),
          max("end_pos").as("max_end"))
    }),

    "sam_mapq_profile" -> ((s, dir) => {
      // mapping-quality decade histogram per chromosome + the
      // low-confidence fraction (the samtools-stats MAPQ panel: a
      // low-MAPQ spike on one chr flags a repeat region or reference
      // defect; threshold 30 — the bwa unique-mapping convention, and
      // the synthetic MAPQs span 20..59 so a 20 cut would be a dead
      // leg): one narrow parse projection, one (chr, decade)
      // partial agg, one per-chr totals join — counts exact, ONE
      // rounded fraction
      val aln = graft.sources.Sam.alignments(samSynthLines(s, dir))
      val dec = aln.groupBy(col("chr"),
          (col("mapq") - pmod(col("mapq"), lit(10))).divide(10)
            .cast("long").as("mapq_decade"))
        .agg(count(lit(1)).as("n_reads"))
      val tot = dec.groupBy("chr").agg(sum("n_reads").as("total"),
        sum(when(col("mapq_decade") < 3, col("n_reads")).otherwise(0L))
          .as("n_low"))
      dec.join(tot, "chr")
        .select(col("chr"), col("mapq_decade"), col("n_reads"),
          round(lit(10000.0) * col("n_low").cast("double") /
            col("total").cast("double")).cast("long").as("low_frac4"))
    }),

    "sam_coverage_uniformity" -> ((s, dir) => {
      // depth-uniformity Gini per chromosome over covered positions
      // (the WGS evenness QC: capture bias and GC dropout read as high
      // Gini long before a mean-depth number moves): the pileup
      // segments collapse to the (depth, Σbp) VALUE HISTOGRAM and the
      // events_user_gini rank-sum identity does the rest — the only
      // window runs over depth LEVELS per chr (≤ max_depth rows),
      // never positions. At full-genome position mass the long sums
      // would move to DECIMAL (noted in kind, the embed_dim_variance
      // caveat); the histogram agg shape is unchanged.
      val aln = graft.sources.Sam.alignments(samSynthLines(s, dir))
      Intervals.depthGini(Intervals.coverageSegments(aln, Seq("chr"),
        col("pos"), col("end_pos"), singlePass = true), Seq("chr"))
    }),

    "sam_pileup" -> ((s, dir) => {
      // per-chromosome pileup: the coverageSegments sweep over the
      // parsed alignments' inclusive [pos, end_pos] reference spans,
      // rolled up per chr to the numbers a coverage track is read
      // through — breadth (bases at depth ≥ 1), max depth, aligned
      // base mass (Σ depth·bp, which must equal Σ ref_span by
      // conservation — the invariant the spec pins), segment count.
      // Depth histogram machinery is interval_coverage's; here it runs
      // against the REAL parser output, so the oracle (same sweep in
      // SQL over arithmetically re-derived spans) grades the
      // parse→sweep composition end to end.
      val aln = graft.sources.Sam.alignments(samSynthLines(s, dir))
      Intervals.coverageSegments(aln, Seq("chr"),
          col("pos"), col("end_pos"), singlePass = true)
        .groupBy("chr").agg(
          sum(when(col("depth") > 0, col("bp")).otherwise(0L))
            .as("covered_bp"),
          max("depth").as("max_depth"),
          sum(col("depth") * col("bp")).as("aligned_bp"),
          count(lit(1)).as("n_segments"))
    }),

    "sam_gene_coverage" -> ((s, dir) => {
      // per-gene coverage rollup — the "is this exon sequenced deep
      // enough to call" QC read: the pileup's constant-depth segments
      // (already the COMPRESSED frame — one row per maximal
      // constant-depth run, not per base) intersected with the gene
      // intervals through the binned range join, overlaps clipped
      // exactly, rolled up to breadth (bases at depth ≥ 1), aligned
      // mass, max depth and a ×10⁴ breadth fraction per gene. Scale
      // shape: sweep (one partial-agg shuffle + per-chr window over
      // breakpoints), bin-bucketed equi-join (candidates bounded by
      // bin occupancy, never segments × genes), one partial-agg
      // shuffle on gene_id.
      val aln = graft.sources.Sam.alignments(samSynthLines(s, dir))
      val segs = Intervals.coverageSegments(aln, Seq("chr"),
          col("pos"), col("end_pos"), singlePass = true)
        .select(col("chr"), col("pos").as("sstart"),
          (col("end_pos") - 1).as("sstop"), col("depth"))
      val genes = partGenes(s, dir).select(col("gene_id"),
        concat(lit("chr"), col("chr").cast("string")).as("chr"),
        col("gstart"), col("gstop"))
      // binWidth 4096 (the genic-join width): synthesized coordinates
      // span 0..102k, so the 1M default would put every segment of a
      // chromosome in ONE bin — a per-chr cross product
      val j = RangeJoin.overlapJoined(segs, genes, "sstart", "sstop",
        "gstart", "gstop", Seq("chr"), binWidth = 4096)
      val ov = least(col("sstop"), col("gstop")) -
        greatest(col("sstart"), col("gstart")) + 1
      j.groupBy("gene_id").agg(
          sum(when(col("depth") > 0, ov).otherwise(0L)).as("covered_bp"),
          sum(col("depth") * ov).as("aligned_bp"),
          max("depth").as("max_depth"))
        .join(partGenes(s, dir).select(col("gene_id"),
          (col("gstop") - col("gstart") + 1).as("span")), "gene_id")
        .select(col("gene_id"), col("span"), col("covered_bp"),
          col("aligned_bp"), col("max_depth"),
          round(col("covered_bp") * 10000.0 / col("span")).cast("long")
            .as("breadth4"))
    }),

    "sam_insert_size" -> ((s, dir) => {
      // per-chromosome insert-size (TLEN) panel through the REAL
      // parser's new mate-field surface (Sam.pairedAlignments — the
      // samtools-stats "insert size average" row, THE library-prep QC:
      // a shifted mean flags the wrong fragment ladder, an improper
      // spike flags chimeras): both mates of each template synthesized
      // (R1 flag 99/TLEN +t, R2 flag 147/TLEN −t; every 17th pair
      // improper: flags 65/129), header + unmapped arms exercise the
      // gate; stats read R1 rows only (tlen > 0 — each template once,
      // the samtools convention); one narrow parse + one 5-row agg.
      import s.implicits._
      val o = col("l_orderkey").cast("long")
      val l = col("l_linenumber").cast("long")
      val p = col("l_partkey").cast("long")
      val pos1 = lit(1L) + (o * 31 + l * 7) % 100000
      val t = lit(120L) + p % 280
      val pos2 = pos1 + t - 50
      val chr = concat(lit("chr"), (o % 5).cast("string"))
      val proper = (o + l) % 17 =!= 0
      val qn = concat(lit("p"), o, lit("_"), l)
      def read(flagP: Column, flagI: Column, pos: Column, pnext: Column,
               tlen: Column) = concat_ws("\t", qn,
        when(proper, flagP).otherwise(flagI).cast("string"), chr,
        pos.cast("string"), lit("30"), lit("50M"), lit("="),
        pnext.cast("string"), tlen.cast("string"), lit("*"), lit("*"))
      val line = when((o + l) % 13 === 0, array(
          lit("@SQ\tSN:chr0\tLN:100000")))
        .when((o + l) % 11 === 0, array(concat_ws("\t", qn, lit("4"),
          lit("*"), lit("0"), lit("0"), lit("*"), lit("*"), lit("0"),
          lit("0"), lit("*"), lit("*"))))
        .otherwise(array(
          read(lit(99L), lit(65L), pos1, pos2, t),
          read(lit(147L), lit(129L), pos2, pos1, -t)))
      val lines = Tables.lineitemSpread(s, dir)
        .select(explode(line).as("line")).as[String]
      graft.sources.Sam.pairedAlignments(lines)
        .filter(col("tlen") > 0)
        .groupBy("chr").agg(
          count(lit(1)).as("n_pairs"),
          sum(when(col("flag").cast("long").bitwiseAND(2L) =!= 0L, 1L)
            .otherwise(0L)).as("n_proper"),
          sum("tlen").as("sum_tlen"),
          round(lit(10000.0) * sum("tlen").cast("double")
            / count(lit(1)).cast("double")).cast("long").as("mean4"),
          max("tlen").as("max_tlen"))
    }),

    "sam_flagstat" -> ((s, dir) => {
      // samtools-flagstat summary — THE first QC command run on any
      // BAM: category counts decoded from the FLAG bitfield. A richer
      // flag synthesis than the census (paired 0x1, proper 0x2,
      // reverse 0x10, secondary 0x100, dup 0x400 — each driven by an
      // independent residue) exercises real bitwise decode on the
      // parsed int; one narrow projection + ONE single-row partial agg.
      import s.implicits._
      val o = col("l_orderkey").cast("long")
      val l = col("l_linenumber").cast("long")
      val p = col("l_partkey").cast("long")
      val flagBits = (o % 2) * 1 +
        when((o + p) % 3 === 0, 2L).otherwise(0L) +
        (l % 2) * 16 +
        when((o + l) % 7 === 0, 256L).otherwise(0L) +
        when(p % 11 === 0, 1024L).otherwise(0L)
      val line = concat_ws("\t",
        concat(lit("f"), o, lit("_"), l), flagBits.cast("string"),
        concat(lit("chr"), (o % 5).cast("string")),
        (lit(1L) + (o * 31 + l * 7) % 100000).cast("string"),
        lit("30"), concat((lit(10L) + p % 30).cast("string"), lit("M")),
        lit("*"), lit("0"), lit("0"), lit("*"), lit("*"))
      val aln = graft.sources.Sam.alignments(
        Tables.lineitemSpread(s, dir).select(line.as("line")).as[String])
      def hasBit(b: Long) =
        (col("flag").cast("long").bitwiseAND(b) =!= 0L)
      aln.agg(count(lit(1)).as("n_total"),
        sum(when(hasBit(1), 1L).otherwise(0L)).as("n_paired"),
        sum(when(hasBit(2), 1L).otherwise(0L)).as("n_proper"),
        sum(when(hasBit(16), 1L).otherwise(0L)).as("n_reverse"),
        sum(when(hasBit(256), 1L).otherwise(0L)).as("n_secondary"),
        sum(when(hasBit(1024), 1L).otherwise(0L)).as("n_dup"))
    }),

    "sam_markdup" -> ((s, dir) => {
      // PCR/optical duplicate marking (Picard MarkDuplicates
      // semantics, the alignment-QC sibling of dedup_exact): reads
      // sharing (chr, pos, strand) are one physical fragment observed
      // multiple times — keep the best (mapq desc, qname asc as the
      // deterministic tie-break; qname is unique), mark the rest.
      // Scale shape: ONE window partitioned by the duplicate key
      // (key cardinality ~ genome positions — never a global sort)
      // then a per-chr partial agg; dup_rate4 from exact counts.
      import org.apache.spark.sql.expressions.Window
      val aln = graft.sources.Sam.alignments(samSynthLines(s, dir))
      val w = Window.partitionBy("chr", "pos", "flag")
        .orderBy(col("mapq").desc, col("qname"))
      aln.withColumn("rn", row_number().over(w))
        .groupBy("chr").agg(
          count(lit(1)).as("n_reads"),
          sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup"),
          sum(when(col("rn") === 1, col("mapq").cast("long"))
            .otherwise(0L)).as("sum_kept_mapq"))
        .select(col("chr"), col("n_reads"), col("n_dup"),
          col("sum_kept_mapq"),
          round(col("n_dup") * 10000.0 / col("n_reads")).cast("long")
            .as("dup_rate4"))
    }),

    "corpus_split" -> ((s, dir) => {
      // deterministic train/val/test split — the reproducibility
      // primitive every training pipeline needs (re-runs and engines
      // must agree on every document's split WITHOUT storing an
      // assignment table): bucket = first 4 md5 hex chars of the
      // doc_id, mod 100 → <80 train, <90 val, else test. Narrow
      // projection + one partial-agg shuffle; the md5 is the
      // cross-engine-stable hash (the scene-cut/genome discipline —
      // xxhash64 would be Spark-only).
      Tables.documents(s, dir)
        .select(col("lang"), col("n_chars"),
          (conv(substring(md5(col("doc_id").cast("string")), 1, 4),
            16, 10).cast("long") % 100).as("bucket"))
        .select(col("lang"), col("n_chars"),
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val").otherwise("test")
            .as("split"))
        .groupBy("lang", "split").agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"))
    }),

    "events_seasonal_decompose" -> ((s, dir) => {
      // STL-lite weekly seasonal profile (the classical-decomposition
      // sibling of events_dow_profile, which averages RAW counts —
      // this one removes the trend first, so a ramping counter doesn't
      // masquerade as seasonality): per (type, day) counts → centered
      // 7-day moving TREND (only where the full window exists) →
      // detrended = x − trend → per-(type, day-of-week) mean of the
      // detrended series. Exact integers throughout — detrended is
      // kept ×7 (7x − Σwindow, a long), one rounded ×10⁴ division at
      // the end. ROWS window over OBSERVED days (the dailyHoltWinters
      // gap-free contract, shared with the oracle). Windows partition
      // by type — vocabulary-sized frames, never a global sort.
      import org.apache.spark.sql.expressions.Window
      // ts is long NANOS (Tables.events nanosAsLong); day = exact
      // integer µs // 86400000000, dow anchored +4 (epoch day 0 was a
      // Thursday) — the events_dow_profile convention
      val daily = Tables.events(s, dir)
        .select(col("event_type"),
          expr("(ts DIV 1000) DIV 86400000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-3, 3)
      daily
        .withColumn("t7", sum("x").over(w))
        .withColumn("nw", count(lit(1)).over(w))
        .filter(col("nw") === 7)
        .select(col("event_type"),
          pmod(col("day") + 4, lit(7)).as("dow"),
          (col("x") * 7 - col("t7")).as("det7"))
        .groupBy("event_type", "dow").agg(
          count(lit(1)).as("n_days"),
          sum("det7").as("sum_det7"))
        .select(col("event_type"), col("dow"), col("n_days"),
          col("sum_det7"),
          round(lit(10000.0) * col("sum_det7")
            / (lit(7) * col("n_days"))).cast("long").as("seasonal4"))
    }),

    "vcf_genotype_concordance" -> ((s, dir) => {
      // two-callset genotype concordance per sample (the GATK
      // Concordance / picard GenotypeConcordance QC: re-called or
      // re-sequenced samples must agree with the truth set before a
      // merge is trusted — the genotype-level refinement of the
      // reference's verify-if-in-rgd membership probe): callset B is
      // the shared dosage frame with a deterministic perturbation
      // (every 17th (pos+sample) cell's genotype rotated +1 mod 3),
      // joined co-partitioned on (chr, pos, sample); per-sample exact
      // counts + one rounded concordance rate
      val a = dosageCells(s, dir)
      val b = dosageCells(s, dir).select(col("chr"), col("pos"),
        col("sample"),
        when((col("pos") + col("sample")) % 17 === 0,
          (col("gv") + 1) % 3).otherwise(col("gv")).as("gv2"))
      a.join(b, Seq("chr", "pos", "sample"))
        .groupBy("sample").agg(
          count(lit(1)).as("n_sites"),
          sum(when(col("gv") === col("gv2"), 1L).otherwise(0L))
            .as("n_concordant"),
          sum(when(col("gv") =!= col("gv2")
            && col("gv") =!= 1 && col("gv2") =!= 1, 1L).otherwise(0L))
            .as("n_hom_flips"))
        .select(col("sample"), col("n_sites"), col("n_concordant"),
          col("n_hom_flips"),
          round(lit(10000.0) * col("n_concordant") / col("n_sites"))
            .cast("long").as("concordance4"))
    }),

    "events_markov_stationary" -> ((s, dir) => {
      // steady-state share of each event type under the observed
      // transition matrix, 3 fixed power-iteration rounds (the
      // graph_pagerank dataflow over event_transitions' matrix)
      EventOps.markovStationary(Tables.events(s, dir), "user_id",
        "event_type", expr("ts DIV 1000"), col("event_id"),
        iterations = 3)
    }),

    "popgen_king" -> ((s, dir) => {
      // KING-robust kinship per sample pair (Manichaikul et al. 2010
      // eq. 11 — the relatedness estimator that tolerates population
      // structure, run before any GWAS to drop cryptic relatives):
      // φ = (N_het,het − 2·N_opp_hom) / (N_het(i) + N_het(j)) over the
      // pair's shared sites. Same site-keyed self-join shape as
      // popgen_ibs (per-site fan-out bounded by samples², rollup a
      // 190-row frame); exact integer counts + one rounded division.
      val cells = dosageCells(s, dir)
      val a = cells.select(col("chr"), col("pos"),
        col("sample").as("s1"), col("gv").as("g1"))
      val b = cells.select(col("chr"), col("pos"),
        col("sample").as("s2"), col("gv").as("g2"))
      a.join(b, Seq("chr", "pos")).filter(col("s1") < col("s2"))
        .groupBy("s1", "s2").agg(count(lit(1)).as("n_sites"),
          sum(when(col("g1") === 1 && col("g2") === 1, 1L).otherwise(0L))
            .as("n_both_het"),
          sum(when(abs(col("g1") - col("g2")) === 2, 1L).otherwise(0L))
            .as("n_opp_hom"),
          sum(when(col("g1") === 1, 1L).otherwise(0L)).as("n_het1"),
          sum(when(col("g2") === 1, 1L).otherwise(0L)).as("n_het2"))
        .select(col("s1"), col("s2"), col("n_sites"),
          col("n_both_het"), col("n_opp_hom"),
          when(col("n_het1") + col("n_het2") > 0,
            round(lit(10000.0) * (col("n_both_het")
              - lit(2) * col("n_opp_hom"))
              / (col("n_het1") + col("n_het2"))).cast("long"))
            .as("kinship4"))
    }),

    "dedup_recall_audit" -> ((s, dir) => {
      // LSH quality audit — the dedup twin of ann_recall_audit (the
      // recall-vs-bands curve, one point): did the minhash banding
      // recover the CONFIRMED near-dup pairs (exact jaccard ≥ 0.2
      // inside blocks — the graded truth frame)? recall = hits/truth;
      // hit_rate = hits/candidates (a diagnostic, not precision — the
      // banded candidates are a recall-oriented superset by design).
      // Both input derivations are already graded individually
      // (dedup_minhash_pairs / dedup_ngram_jaccard); integers + two
      // rounded divisions.
      // ONE full-outer pass computes all three counts: the old shape
      // read each derivation twice (hits join + its own count agg) and
      // re-ran the verify/signature compute per reference (guide §2.4).
      // Both sides are unique per (id_a, id_b) by construction (pair
      // join output / candidates end in distinct), so flag sums over
      // the full-outer join equal the standalone counts exactly.
      val truth = docJaccardPairs(s, dir).select("id_a", "id_b")
        .withColumn("t", lit(1L))
      val cand = Dedup.minhashCandidates(Tables.documents(s, dir),
        "doc_id", "text", numHashes = 16, rowsPerBand = 4,
        shingleLen = 3).select("id_a", "id_b").withColumn("c", lit(1L))
      truth.join(cand, Seq("id_a", "id_b"), "full_outer")
        .agg(coalesce(sum("t"), lit(0L)).as("n_truth"),
          coalesce(sum("c"), lit(0L)).as("n_cand"),
          coalesce(sum(col("t") * col("c")), lit(0L)).as("n_hits"))
        .select(col("n_truth"), col("n_cand"), col("n_hits"),
          round(lit(10000.0) * col("n_hits") / col("n_truth"))
            .cast("long").as("recall4"),
          round(lit(10000.0) * col("n_hits") / col("n_cand"))
            .cast("long").as("hit_rate4"))
    }),

    "variant_tstv" -> ((s, dir) => {
      // transition/transversion ratio per chromosome — THE standard
      // variant-call QC metric (random sequencing errors push Ts/Tv
      // toward 0.5; real variant sets sit well above): one narrow
      // projection + one partial-agg shuffle; the ratio is one rounded
      // division of exact counts per chr (the jacc4 ×10⁴ discipline)
      val v = liVariants(s, dir)
        .filter(col("ref_nuc") =!= col("var_nuc"))
      val isTs = (col("ref_nuc").isin("A", "G") &&
          col("var_nuc").isin("A", "G")) ||
        (col("ref_nuc").isin("C", "T") && col("var_nuc").isin("C", "T"))
      v.groupBy("chr").agg(
          sum(when(isTs, 1L).otherwise(0L)).as("n_ts"),
          sum(when(isTs, 0L).otherwise(1L)).as("n_tv"))
        .select(col("chr"), col("n_ts"), col("n_tv"),
          when(col("n_tv") > 0,
            round(col("n_ts") * 10000.0 / col("n_tv")).cast("long"))
            .as("tstv4"))
    }),

    "variant_dnds" -> ((s, dir) => {
      // per-gene nonsynonymous/synonymous count ratio (the raw-count
      // dN/dS screen — the selection-pressure readout a variant
      // warehouse derives from its own annotations; site-normalized ω
      // needs codon models, the count ratio is the standard first
      // audit): chains the FULL q24 annotation derivation, keeps the
      // syn/nonsyn AA calls, one gene-keyed partial agg; genes need
      // ≥1 synonymous call (the denominator); exact integers + one
      // rounded division.
      annotatedVariantTranscripts(s, dir)._1
        .filter(col("syn_status").isin("synonymous", "nonsynonymous"))
        .groupBy((col("tr_id").cast("long") / 10).cast("long")
          .as("gene_id"))
        .agg(sum(when(col("syn_status") === "synonymous", 1L)
            .otherwise(0L)).as("n_syn"),
          sum(when(col("syn_status") === "nonsynonymous", 1L)
            .otherwise(0L)).as("n_nonsyn"))
        .filter(col("n_syn") > 0)
        .select(col("gene_id"), col("n_syn"), col("n_nonsyn"),
          round(lit(10000.0) * col("n_nonsyn") / col("n_syn"))
            .cast("long").as("dnds4"))
    }),

    "q32_verify_aa" -> ((s, dir) => {
      // post-hoc AA audit (VariantPostProcessing.verifyAA, :1067-1280):
      // re-derive the ref/var codon from the STORED CDS columns
      // (full_ref_nuc, full_ref_nuc_pos) of every annotation that reached
      // an AA call, translate, and tally agreement with the stored
      // ref_aa/var_aa/syn_status — the annotation-family twin of q8/q30's
      // recompute-and-compare fixups. Audited on SNV rows (the reference
      // substitutes exactly one base; its var_nuc.charAt(0) on multi-base
      // alleles is the JDBC loop's artifact, not a semantic).
      // Strand comes from a join back to transcripts, as the reference
      // looks it up per-row from the maps_data tables (getStrandForTranscript).
      val (ann, trs) = annotatedVariantTranscripts(s, dir)
      VerifyAa.audit(ann, trs)
    }),

    "q26_conservation_parse" -> ((s, dir) => {
      import s.implicits._
      // synthesize fixedStep wiggle text (deterministic per line index:
      // spark.range partitions are ordered, so zipWithIndex sees id order),
      // then run the real parser. Every 101st line declares a new block;
      // every 6th block is an unmapped contig (skipped rows, advancing pos).
      val n = Tables.lineitem(s, dir).count()
      val b = expr("id DIV 101")
      val lines = s.range(n).select(
        when(col("id") % 101 === 0,
          concat(lit("fixedStep chrom="),
            when(b % 6 === 5, lit("scaffold_1"))
              .otherwise(concat(lit("chr"), (b % 6).cast("string"))),
            lit(" start="), ((b * 977) % 100000 + 1).cast("string"),
            lit(" step="), (b % 3 + 1).cast("string")))
          .otherwise(concat(((col("id") * 37) % 97).cast("string"), lit("."),
            ((col("id") * 13) % 10).cast("string"))).as("line")).as[String]
      Conservation.parseFixedStep(lines)
    }),

    "q28_polyphen_load" -> ((s, dir) => {
      import s.implicits._
      // synthesize Polyphen result TSV + the variant↔protein info table,
      // then run the real parse + join-back. Rows with doc_id % 11 == 0
      // arrive with swapped AA residues and must be skipped.
      val aaAlpha = "ARNDCEQGHILKMFPSTWYV"
      def aa(i: Column): Column =
        element_at(array(aaAlpha.map(c => lit(c.toString)): _*),
          (i % 20 + 1).cast("int"))
      val docs = Tables.documents(s, dir)
      val i1 = col("doc_id")
      val i2 = col("doc_id") % 20 + col("doc_id") % 19 + 1
      val swapped = col("doc_id") % 11 === 0
      val protein = concat(lit("NP_"), col("doc_id").cast("string"))
      val opos = (col("doc_id") % 50 + 1).cast("long")
      val pred = when(col("doc_id") % 3 === 0, "benign")
        .when(col("doc_id") % 3 === 1, "possibly damaging")
        .otherwise("probably damaging")
      val pclass = when(col("doc_id") % 4 === 0, "deleterious").otherwise("neutral")
      val probText = concat(lit("0."),
        lpad((col("doc_id") % 100).cast("string"), 2, "0"))
      // explode(array(...)) is a collapse barrier: without it the whole
      // concat_ws synthesis tree is substituted into every one of
      // parseResults' 12 column extractions + filters (~14 copies), and
      // the generated method (39 KB) blows the JIT limit -> interpreted
      val lines = docs.select(explode(array(concat_ws("\t",
        protein, opos.cast("string"), aa(i1), aa(i2), lit(""),
        concat(lit("Q"), col("doc_id").cast("string")), lit(""),
        when(swapped, aa(i2)).otherwise(aa(i1)),
        when(swapped, aa(i1)).otherwise(aa(i2)),
        lit(""), lit(""), pred, lit("alignment"), lit(""), pclass, probText)))
        .as("line")).as[String]
      val info = docs.select(protein.as("protein_id"), opos.as("aa_pos"),
        aa(i1).as("ref_aa"), aa(i2).as("var_aa"),
        (col("doc_id") * 100).cast("long").as("variant_id"),
        concat(lit("G"), (col("doc_id") % 50).cast("string")).as("gene_symbol"),
        when(col("doc_id") % 2 === 0, "+").otherwise("-").as("strand"),
        (col("doc_id") * 10 + 1).cast("long").as("transcript_rgd_id"))
      Polyphen.loadPredictions(Polyphen.parseResults(lines), info)
        .select(col("protein_id"), col("o_pos"), col("o_aa1"), col("o_aa2"),
          col("uniprot_acc"), col("prediction"), col("based_on"),
          col("pph2_class"), col("pph2_prob"), col("variant_id"),
          col("gene_symbol"), col("strand"), col("transcript_rgd_id"))
    }),

    "q29_clinvar_vcf" -> ((s, dir) => {
      // ClinVar→VCF converter over synthetic clinvar-shaped rows; rows
      // with a non-ACGTN allele fail the reference QC and are dropped
      val d = Tables.documents(s, dir)
      val chr = (col("doc_id") % 20 + 1).cast("string")
      val pos = (col("doc_id") * 131) % 1000000 + 1
      val ref = when(col("doc_id") % 7 === 0, "-")
        .when(col("doc_id") % 13 === 0, "ACZT")
        .when(col("doc_id") % 5 === 0, "AC")
        .otherwise(baseOf(col("doc_id")))
      val vr = when(col("doc_id") % 9 === 0, "-")
        .otherwise(baseOf(col("doc_id") * 3 + 1))
      val name = concat(lit("G"), (col("doc_id") % 50).cast("string"),
        lit(":c."), pos.cast("string"))
      val rsId = when(col("doc_id") % 3 === 0,
        concat(lit("rs"), col("doc_id").cast("string"))).otherwise(lit(""))
      SourceConverters.clinVarToVcf(d, chr, pos, col("doc_id"), name,
        ref, vr, rsId)
    }),

    "q31_sample_query" -> ((s, dir) => {
      // VariantSampleQuery surface: multi-predicate detail query by
      // sample set + chr + position range + quality floor
      val li = Tables.lineitem(s, dir).select(
        concat(lit("S"), (col("l_suppkey") % 4).cast("string")).as("sample"),
        (col("l_orderkey") % 5).cast("long").as("chr"),
        ((col("l_orderkey") * 31 + col("l_linenumber") * 7) % 100000)
          .cast("long").as("pos"),
        baseOf(col("l_partkey")).as("ref_nuc"),
        baseOf(col("l_suppkey")).as("var_nuc"),
        col("l_quantity").cast("long").as("rd"),
        (col("l_partkey") % 120).cast("long").as("td"))
      li.select(col("sample"), col("chr"), col("pos"), col("ref_nuc"),
          col("var_nuc"),
          VariantF.qualityScore(col("rd"), col("td")).as("quality_score"))
        .filter(col("sample").isin("S1", "S2") && col("chr") === 3 &&
          col("pos").between(20000, 60000) && col("quality_score") >= 50)
    }),

    "q30_fixups" -> ((s, dir) => {
      // the fixup family as one pass: recompute variant type, frameshift
      // and genic status; classify each stored column as up-to-date vs
      // needing update (stored columns deliberately corrupted for a
      // deterministic fraction of rows)
      val ref = when(col("l_partkey") % 5 === 0, "-")
        .when(col("l_partkey") % 5 === 1, "A")
        .when(col("l_partkey") % 5 === 2, "AC")
        .when(col("l_partkey") % 5 === 3, "ACG").otherwise("ACGT")
      val vr = when(col("l_suppkey") % 5 === 0, "-")
        .when(col("l_suppkey") % 5 === 1, "G")
        .when(col("l_suppkey") % 5 === 2, "GT")
        .when(col("l_suppkey") % 5 === 3, "GTA").otherwise("GTAC")
      val typeC = Fixups.variantTypeComputed(col("ref_seq"), col("var_seq"))
      val fsC = Fixups.frameShiftComputed(col("ref_seq"), col("var_seq"))
      val li = Tables.lineitemSpread(s, dir).select(
          (col("l_orderkey") % 5).cast("long").as("chr"),
          ((col("l_orderkey") * 31 + col("l_linenumber") * 7) % 100000)
            .cast("long").as("pos"),
          col("l_orderkey"), ref.as("ref_seq"), vr.as("var_seq"))
        .withColumn("stored_type",
          when(col("l_orderkey") % 7 === 0, "snv").otherwise(typeC))
        .withColumn("stored_fs", when(col("l_orderkey") % 11 === 0,
          when(fsC === "T", "F").otherwise("T")).otherwise(fsC))
        .withColumn("stored_genic",
          when(col("l_orderkey") % 2 === 0, "genic").otherwise("intergenic"))
      Fixups.withGenicStatus(li, partGenes(s, dir), "pos", "gstart", "gstop",
          Seq("chr"), binWidth = 4096)
        .select(
          Fixups.fixupAction(col("stored_type"), typeC).as("type_action"),
          Fixups.fixupAction(col("stored_fs"), fsC).as("fs_action"),
          Fixups.fixupAction(col("stored_genic"), col("genic_status_computed"))
            .as("genic_action"))
        .groupBy("type_action", "fs_action", "genic_action")
        .agg(count(lit(1)).as("n"))
    }),

    "sample_load" -> ((s, dir) => {
      import s.implicits._
      // sample dim from a synthetic VCF directory listing (every 10th
      // file has a foreign suffix and is ignored), then the metadata-TSV
      // overlay for every third sample id — the LoadRn6Rn7Samples +
      // LoadSampleMetadata flow end to end
      val files = Tables.supplier(s, dir).select(
        concat(lit("/data/rn6/"), col("s_name"),
          when(col("s_suppkey") % 10 === 0, ".readme")
            .otherwise("_SNPs_HF_SnpEff.vcf.gz")).as("path"))
      val samples = SampleMeta.samplesFromFiles(files, "path",
        "_SNPs_HF_SnpEff.vcf.gz", baseSampleId = 1000L, mapKey = 360,
        patientId = 600, gender = "U", description = "rn6")
      val metaLines = samples.filter(col("sample_id") % 3 === 0)
        .select(concat_ws("\t", col("sample_id").cast("string"), lit("F"),
          lit("rn6-metadata")).as("l")).as[String]
      val meta = SampleMeta.parseMetadataTsv(s,
        s.createDataset(Seq("sample_id\tgender\tdescription")).union(metaLines))
      SampleMeta.applyMetadata(samples, meta)
        .select(col("sample_id"), col("sample_name"), col("gender"),
          col("description"), col("patient_id"), col("map_key"))
    }),

    "feature_count" -> ((s, dir) => {
      // FeatureCount census over synthetic gene models whose UTR modes
      // (gene_id % 4) exercise every handleUtr case: edge overlaps
      // (1b/1c), UTR-inside-exon issues (1d), disjoint UTRs, no UTRs,
      // plus unmapped genes (% 19) with no transcript
      val base = Tables.part(s, dir).select(
        col("p_partkey").as("gene_id"),
        (col("p_partkey") % 5).cast("long").cast("string").as("chr"),
        ((col("p_partkey") * 137) % 100000).cast("long").as("gstart"),
        (lit(60) + (col("p_partkey") * 13) % 200).cast("long").as("span"))
        .withColumn("gstop", col("gstart") + col("span"))
      val genes = base.select("gene_id", "chr")
      val mapped = base.filter(col("gene_id") % 19 =!= 0)
        .withColumn("tr_id", col("gene_id") * 10)
        .withColumn("mode", col("gene_id") % 4)
      val transcripts = mapped.select("tr_id", "gene_id")
      val n = (col("gene_id") % 3 + 1).cast("long")
      val exons = mapped
        .select(col("tr_id"), col("gstart"), n.as("n"),
          floor(col("span") / n).cast("long").as("elen"))
        .withColumn("i", explode(sequence(lit(0), col("n") - 1)))
        .select(col("tr_id"), lit("EXONS").as("ftype"),
          (col("gstart") + col("i") * col("elen")).as("fstart"),
          (col("gstart") + (col("i") + 1) * col("elen") - 5).as("fstop"))
      val utrs = mapped
        .select(col("tr_id"), col("mode"), col("gstart"), col("gstop"))
        .withColumn("u", explode(array(
          struct(lit("5UTRS").as("ftype"), col("gstart").as("fstart"),
            (col("gstart") + 10).as("fstop"), (col("mode") === 1).as("keep")),
          struct(lit("3UTRS").as("ftype"), (col("gstop") - 10).as("fstart"),
            col("gstop").as("fstop"), (col("mode") === 1).as("keep")),
          struct(lit("3UTRS").as("ftype"), (col("gstart") + 6).as("fstart"),
            (col("gstart") + 9).as("fstop"), (col("mode") === 2).as("keep")),
          struct(lit("5UTRS").as("ftype"), (col("gstop") + 100).as("fstart"),
            (col("gstop") + 110).as("fstop"), (col("mode") === 3).as("keep")))))
        .filter(col("u.keep"))
        .select(col("tr_id"), col("u.ftype"), col("u.fstart"), col("u.fstop"))
      FeatureCount.rollup(genes, transcripts, exons.unionByName(utrs))
    }),

    "vcf_parse" -> ((s, dir) => {
      VcfParser.parse(synthVcfLines(s, dir), Seq("STRAIN_A", "STRAIN_B"))
        .groupBy("strain", "chr")
        .agg(count(lit(1)).as("n_variants"),
          sum("read_depth").cast("long").as("sum_read_depth"),
          sum("allele_depth").cast("long").as("sum_allele_depth"))
    }),

    "vcf_roundtrip" -> ((s, dir) => {
      // the export/import cycle a warehouse runs (VERDICT r11 item 9):
      // per-(site, sample) genotype cells (the vcf_merge_multisample
      // assembly, with deterministic AD/DP per cell) are pivoted to
      // 4-sample sites, FORMATTED into full multi-sample VCF lines by
      // the writer (VcfFormat.toMultiSampleVcfLine), re-ingested by
      // the REAL parser (VcfParser.parse), and rolled up per (strain,
      // chr). The oracle re-derives the parse output ARITHMETICALLY
      // from the synthesis numbers — equality proves writer and parser
      // are mutual inverses on multi-sample sites, including the
      // drop-0/0, drop-./., AD/DP FORMAT-index and genotype-prefix
      // semantics the cycle has to preserve. Missing samples at a site
      // are written as ./.:0,0:0 (parser-dropped, like the reference).
      import s.implicits._
      val cells = Tables.lineitemSpread(s, dir).select(
          (col("l_orderkey") % 5).cast("long").as("chr"),
          ((col("l_orderkey") * 31 + col("l_linenumber") * 7) % 100000)
            .cast("long").as("pos"),
          (col("l_suppkey") % 4).cast("long").as("idx"),
          when((col("l_partkey") + col("l_suppkey")) % 3 === 0, "0/1")
            .when((col("l_partkey") + col("l_suppkey")) % 3 === 1, "1/1")
            .otherwise("0/0").as("gt"))
        .groupBy("chr", "pos", "idx").agg(max("gt").as("gt"))
        .select(col("chr"), col("pos"), col("idx"), concat(
          col("gt"), lit(":"),
          ((col("pos") + col("idx") * 2) % 20).cast("string"), lit(","),
          (lit(1) + (col("pos") * 3 + col("idx")) % 15).cast("string"),
          lit(":"),
          ((col("pos") + col("idx") * 2) % 20 + (col("pos") * 3
            + col("idx")) % 15 + 2).cast("string")).as("cell"))
      val sampleAggs = (0 to 3).map(i =>
        max(when(col("idx") === i, col("cell"))).as(s"s$i"))
      val sites = cells.groupBy("chr", "pos")
        .agg(sampleAggs.head, sampleAggs.tail: _*)
      val lines = sites.select(VcfFormat.toMultiSampleVcfLine(
          col("chr").cast("string"), col("pos"),
          lit(null).cast("string"), baseOf(col("pos")),
          baseOf(col("pos") + 1), lit("GT:AD:DP"),
          (0 to 3).map(i => coalesce(col(s"s$i"), lit("./.:0,0:0"))))
        .as("line")).as[String]
      VcfParser.parse(lines, (0 to 3).map(i => s"S$i"))
        .groupBy("strain", "chr")
        .agg(count(lit(1)).as("n_variants"),
          sum("allele_depth").cast("long").as("sum_allele_depth"),
          sum("read_depth").cast("long").as("sum_read_depth"),
          sum("total_depth").cast("long").as("sum_total_depth"))
    }),

    "variant_pipeline" -> ((s, dir) => {
      // the reference's flagship flow END TO END: VCF text → common
      // format → typed/scored variants (zygosity filter included) →
      // distinct natural-key set → idempotent merge classify. Each stage
      // is graded alone elsewhere (vcf_parse, q10-q13, q7); this entry
      // hash-checks the cross-stage WIRING through one composed oracle.
      val cf2 = VcfParser.parse(synthVcfLines(s, dir),
        Seq("STRAIN_A", "STRAIN_B"))
      val scored = VariantPipeline.score(cf2,
        Map("STRAIN_A" -> "M", "STRAIN_B" -> "F"))
      // both classify sides derive from `variants`; no persist needed —
      // the distinct's shuffle is one Exchange that ReuseExchange serves
      // to both sides of the full-outer merge (verified: persisting it
      // changed nothing), so parse+score runs once either way
      val variants = scored.select(col("chr"),
          col("pos").cast("long").as("pos"),
          col("end_pos").cast("long").as("end_pos"),
          col("ref_nuc"), col("var_nuc"), col("variant_type"))
        .distinct()
      val key = Seq("chr", "pos", "end_pos", "ref_nuc", "var_nuc",
        "variant_type")
      val existing = variants.filter(col("pos") % 3 === 0)
        .withColumn("variant_id", lit(1L))
      VariantMerge.classify(variants, existing, key, "variant_id")
        .groupBy("merge_action").agg(count(lit(1)).as("n_variants"))
    }),

    "vcf8_parse" -> ((s, dir) => {
      import s.implicits._
      val multi = col("l_orderkey") % 4 === 0
      val alt = when(multi,
        concat(baseOf(col("l_partkey") + 1), lit(","), baseOf(col("l_partkey") + 2)))
        .otherwise(baseOf(col("l_partkey") + 1))
      val ac = when(multi,
        concat((col("l_linenumber") + 2).cast("string"), lit(","),
          (col("l_suppkey") % 5 + 1).cast("string")))
        .otherwise((col("l_linenumber") + 2).cast("string"))
      val lines = Tables.lineitemSpread(s, dir).select(concat_ws("\t",
        (col("l_orderkey") % 5 + 1).cast("string"),
        ((col("l_orderkey") * 31 + col("l_linenumber") * 7) % 100000).cast("string"),
        lit("."), baseOf(col("l_partkey")), alt, lit("."), lit("."),
        concat(lit("DP="), (col("l_quantity").cast("long") + 10).cast("string"),
          lit(";AC="), ac)).as("line")).as[String]
      VcfParser.parse8Col(lines)
        .groupBy("chr")
        .agg(count(lit(1)).as("n_rows"),
          sum("allele_depth").cast("long").as("sum_allele_depth"),
          sum("count_a").cast("long").as("sum_count_a"))
    }),

    "vcf_genotype_counts" -> ((s, dir) => {
      import s.implicits._
      // the converter's per-strain genotype tally: multi-allelic and
      // AD/DP-less lines drop at the line gate (never tallied); '0/0'
      // and './.' cells ARE tallied, then skipped for variant emission
      val multi = col("l_orderkey") % 11 === 0
      val noAd = col("l_orderkey") % 13 === 0
      val alt = when(multi, concat(baseOf(col("l_partkey") + 1), lit(","),
          baseOf(col("l_partkey") + 2)))
        .otherwise(baseOf(col("l_partkey") + 1))
      val cellA = when(col("l_orderkey") % 3 === 0, "0/0:5,0:5")
        .otherwise("0/1:3,4:7")
      val cellB = when(col("l_orderkey") % 7 === 0, "./.")
        .otherwise("1/1:0,9:9")
      val lines = Tables.lineitemSpread(s, dir).select(concat_ws("\t",
        (col("l_orderkey") % 5 + 1).cast("string"),
        ((col("l_orderkey") * 31 + col("l_linenumber") * 7) % 100000).cast("string"),
        lit("."), baseOf(col("l_partkey")), alt, lit("100"), lit("PASS"),
        lit("."), when(noAd, "GT:PL").otherwise("GT:AD:DP"),
        cellA, cellB).as("line")).as[String]
      VcfParser.genotypeCounts(lines, Seq("STRAIN_A", "STRAIN_B"))
    }),

    "corpus_curate" -> ((s, dir) => {
      CorpusPipeline.stats(
        CorpusPipeline.curate(Tables.documentsSpread(s, dir), "doc_id", "text",
          docBlockCol))
    }),

    "dedup_embedding" -> ((s, dir) => {
      // banded multi-table LSH (4×16 planes): bounded buckets, candidate
      // dedup before the single exact-scoring pass — the 100 TB shape
      Similarity.lshNearestSelfBanded(Tables.embeddings(s, dir), "vec_id",
          "embedding", k = 1, dim = 64)
        .select(col("query_id"), col("corpus_id").as("nearest_id"), col("cos_sim"))
    }),

    "corpus_dup_quality" -> ((s, dir) => {
      // do duplicated documents skew low-quality? the dup-count ×
      // quality interaction a curation pipeline reads before choosing
      // dedup-before-filter vs filter-before-dedup: exact-hash group
      // sizes (dedup_exact's md5 grouping) joined to the per-doc
      // Gopher keep flag (quality_gopher's kernel), bucketed by group
      // size — two existing graded derivations COMPOSED, one
      // group-size join + one bucket agg on top
      val docs = Tables.documents(s, dir)
      val hashed = docs.select(col("doc_id"),
        md5(Dedup.normText(col("text"))).as("fp"))
      val sizes = hashed.groupBy("fp").agg(count(lit(1)).as("group_size"))
      val keep = Curation.repetitionProfile(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").cast("long").as("keep"))
      hashed.join(sizes, "fp").join(keep, "doc_id")
        .groupBy("group_size").agg(count(lit(1)).as("n_docs"),
          sum("keep").as("n_keep"))
        .select(col("group_size"), col("n_docs"), col("n_keep"),
          round(lit(10000.0) * col("n_keep").cast("double") /
            col("n_docs").cast("double")).cast("long").as("keep_rate4"))
    }),

    "dedup_exact" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(md5(Dedup.normText(col("text"))).as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("n_docs"))
        .groupBy("n_docs").agg(count(lit(1)).as("n_groups"))
    }),

    "dedup_ngram_jaccard" -> ((s, dir) => {
      docJaccardPairs(s, dir)
        .select(col("id_a"), col("id_b"), col("n_inter").cast("long"),
          col("n_a").cast("long"), col("n_b").cast("long"), col("jaccard"))
    }),

    "dedup_jaccard_hist" -> ((s, dir) => {
      // similarity histogram of the confirmed pairs — the
      // threshold-tuning curve every dedup deployment reads before
      // picking its cut (a mass bulge just above the current threshold
      // says the cut is arbitrary; a bimodal split says it's safe).
      // Buckets derive from the INTEGERIZED jaccard (j4 = round×10⁴,
      // already the graded rounding) — bucket = j4 DIV 1000, so no
      // float×10-floor boundary can disagree cross-engine.
      val j4 = round(col("jaccard") * 10000).cast("long")
      docJaccardPairs(s, dir)
        .select((j4 / lit(1000L)).cast("long").as("bucket"), j4.as("j4"))
        .groupBy("bucket").agg(count(lit(1)).as("n_pairs"),
          min("j4").as("min_j4"), max("j4").as("max_j4"))
    }),

    "dedup_minhash" -> ((s, dir) => {
      Dedup.minhashSignature(Tables.documents(s, dir), "doc_id", "text",
        numHashes = 16, shingleLen = 3)
    }),

    "dedup_minhash_pairs" -> ((s, dir) => {
      // the banded candidate join — the stage that would go quadratic if
      // banding were wrong; graded against a DuckDB twin that re-derives
      // the band groups from the same md5-window signatures
      Dedup.minhashCandidates(Tables.documentsSpread(s, dir), "doc_id", "text",
        numHashes = 16, rowsPerBand = 4, shingleLen = 3)
    }),

    "dedup_groups" -> ((s, dir) => {
      // pairs → transitive dedup groups: min-label-propagation connected
      // components over the CONFIRMED (jaccard ≥ threshold) near-dup
      // pairs — candidates are a recall-oriented superset that would
      // over-merge groups (and are ~30× denser: 1.6M candidate edges vs
      // ~50k confirmed at sf0.1). Every document gets its component's
      // lowest doc_id as group_id (singletons keep their own id) — the
      // assignment a keep-one-per-group dedup filters on
      Dedup.connectedComponents(docJaccardPairs(s, dir),
        Tables.documents(s, dir), "doc_id")
        .select(col("id").as("doc_id"), col("group_id"))
    }),

    "dedup_simhash" -> ((s, dir) => {
      Dedup.simhash(Tables.documents(s, dir), "doc_id", "text")
    }),

    "dedup_simhash_pairs" -> ((s, dir) => {
      // the pigeonhole-blocked hamming candidate stage — like
      // dedup_minhash_pairs, the part that would go all-pairs if the
      // blocking were wrong
      Dedup.simhashCandidates(Tables.documents(s, dir), "doc_id", "text",
        maxHamming = 3)
    }),

    "ann_cosine_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.cosineTopK(emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("corpus_id"), col("cos_sim"),
          col("rank").cast("long").as("rank"))
    }),

    "ann_filtered" -> ((s, dir) => {
      // metadata-filtered top-k ("nearest WITHIN my label") — the
      // predicate-push feature separating a vector DB from a vector
      // index; post-filtering an unfiltered top-k under-returns when
      // the predicate is selective. The filter is an EQUI-JOIN key —
      // the scalable shape (Similarity.cosineTopKFiltered)
      val emb = Tables.embeddings(s, dir)
      Similarity.cosineTopKFiltered(emb,
          emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", "label", k = 5)
        .select(col("query_id"), col("corpus_id"), col("cos_sim"),
          col("rank").cast("long").as("rank"))
    }),

    "knn_classify" -> ((s, dir) => {
      // kNN classification: label each held-out vector by majority vote
      // of its 5 nearest labeled neighbors (vote ties break to the
      // lower label — a total order both engines share); brute-force
      // cosine is the graded baseline, the IVF path is the scale route
      val emb = Tables.embeddings(s, dir)
      val corpus = emb.filter(col("vec_id") % 50 =!= 0)
      val queries0 = emb.filter(col("vec_id") % 50 === 0)
      val nn = Similarity.cosineTopK(corpus, queries0, "vec_id",
          "embedding", k = 5)
        .join(corpus.select(col("vec_id").as("corpus_id"), col("label")),
          "corpus_id")
      nn.groupBy("query_id", "label").agg(count(lit(1)).as("n_votes"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(col("n_votes").desc, col("label").asc)))
        .filter(col("rk") === 1)
        .select(col("query_id"), col("label").cast("long").as("predicted"),
          col("n_votes"))
    }),

    "ann_ivf" -> ((s, dir) => {
      // IVF search against fixed md5-derived quantizer points, so the
      // DuckDB oracle can embed the centroids as literals (production
      // passes ivfTrain output; the assignment/probe/score plan — the
      // part that runs at corpus scale — is identical either way)
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfSearch(emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", Similarity.ivfQuantizer(16, 64),
          k = 5, nprobe = 2)
        .select(col("query_id"), col("corpus_id"), col("cos_sim"),
          col("rank").cast("long").as("rank"))
    }),

    "ann_ivf_probe_disk" -> ((s, dir) => {
      // build-once/probe-many (VERDICT r12 item 3): the inverted lists
      // persist as a parquet table BUCKETED on list_id
      // (Similarity.ivfWriteIndex — the writeBucketed discipline), and
      // the probe reads them back with ZERO exchange on the index side
      // (bucketed scan + broadcast query side; spec-asserted). Same
      // results as ann_ivf — what changes is WHERE the corpus-sized
      // assignment cost is paid: once at write time, not per probe.
      // buckets = 64 ≫ the 16 lists (r14 sf10 finding): a bucketed READ
      // coalesces each bucket to ONE task, and hash(list_id) at
      // buckets == lists collides 2-3 hot lists into one bucket — a
      // single task then spill-sorts their whole scored frame (431 s vs
      // 107 s for the unbucketed twin at sf10). Spreading lists over 4x
      // the buckets restores probe-side parallelism at zero cost.
      val emb = Tables.embeddings(s, dir)
      val cent = Similarity.ivfQuantizer(16, 64)
      val table = Similarity.ivfIndexTable(dir)
      Similarity.ivfEnsureIndex(emb, "vec_id", "embedding", cent,
        table = table, buckets = 64)
      Similarity.ivfProbeIndex(s, table,
          emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
          cent, k = 5, nprobe = 2)
        .select(col("query_id"), col("corpus_id"), col("cos_sim"),
          col("rank").cast("long").as("rank"))
    }),

    "ann_ivf_probe_batch" -> ((s, dir) => {
      // probe-MANY over the SAME persisted index (VERDICT r13 item 2):
      // reuses the dataset-keyed bucketed table ann_ivf_probe_disk
      // builds (ivfEnsureIndex — first caller in the session pays the
      // corpus-sized assignment write, every later batch is probe-only),
      // and answers a ~7x larger query batch in one job. The plan is the
      // amortized serving shape: bucketed index scan with ZERO
      // index-side exchange, broadcast query side, per-query top-k.
      val emb = Tables.embeddings(s, dir)
      val cent = Similarity.ivfQuantizer(16, 64)
      val table = Similarity.ivfIndexTable(dir)
      Similarity.ivfEnsureIndex(emb, "vec_id", "embedding", cent,
        table = table, buckets = 64)
      Similarity.ivfProbeIndex(s, table,
          emb.filter(col("vec_id") % 7 === 3), "vec_id", "embedding",
          cent, k = 5, nprobe = 2)
        .select(col("query_id"), col("corpus_id"), col("cos_sim"),
          col("rank").cast("long").as("rank"))
    }),

    "ann_recall_audit" -> ((s, dir) => {
      // recall@5 of the IVF index against the brute-force truth — the
      // index-quality audit every ANN deployment needs before trusting
      // the fast path (FAISS's recall-vs-nprobe curve, one point);
      // integers + one rounded division, both paths' derivations
      // already graded individually (ann_cosine_topk / ann_ivf)
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      val brute = Similarity.cosineTopK(emb, queries, "vec_id",
        "embedding", k = 5).select("query_id", "corpus_id")
      val ivf = Similarity.ivfSearch(emb, queries, "vec_id", "embedding",
          Similarity.ivfQuantizer(16, 64), k = 5, nprobe = 2)
        .select("query_id", "corpus_id")
      val hits = brute.join(ivf, Seq("query_id", "corpus_id"))
      brute.agg(countDistinct("query_id").as("n_queries"),
          count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hits"))))
        .select(col("n_queries"), col("n_truth"), col("n_hits"),
          round(lit(10000.0) * col("n_hits") / col("n_truth"))
            .cast("long").as("recall4"))
    }),

    "ann_pq" -> ((s, dir) => {
      // product-quantization ADC search against fixed codebooks (literal
      // constants, like ann_ivf, so the DuckDB twin re-derives codes and
      // distances from the same values); production trains per-subspace
      // k-means and composes with the IVF lists (IVF-PQ)
      val emb = Tables.embeddings(s, dir)
      Similarity.pqSearch(emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", Similarity.pqQuantizer(8, 16, 8), k = 5)
        .select(col("query_id"), col("corpus_id"), col("pq_dist"),
          col("rank").cast("long").as("rank"))
    }),

    "pq_distortion" -> ((s, dir) => {
      // per-subspace quantization MSE of the ann_pq codebooks — the
      // compression-quality audit (ann_recall_audit grades what the
      // index returns; this grades what the codes LOSE; a subspace
      // whose MSE dwarfs the rest is where OPQ would rotate): kernel
      // projection + posexplode + one 8-row partial agg, corpus
      // scanned once (Similarity.pqDistortionStats)
      Similarity.pqDistortionStats(Tables.embeddings(s, dir), "vec_id",
        "embedding", Similarity.pqQuantizer(8, 16, 8))
    }),

    "ann_ivf_pq" -> ((s, dir) => {
      // the IVFADC composition SURVEY §2 claims: ivfSearch's nprobe
      // inverted lists restrict pqSearch's ADC scan; fixed quantizer +
      // codebooks as literal constants so the DuckDB twin re-derives
      // every list, code and score from the same values
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqSearch(emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", Similarity.ivfQuantizer(16, 64),
          Similarity.pqQuantizer(8, 16, 8), k = 5, nprobe = 2)
        .select(col("query_id"), col("corpus_id"), col("pq_dist"),
          col("rank").cast("long").as("rank"))
    }),

    "ann_lsh_bucketed" -> ((s, dir) => {
      Similarity.lshBuckets(Tables.embeddings(s, dir), "vec_id", "embedding",
          numPlanes = 8, dim = 64)
        .select(col("vec_id"), col("bucket"))
    }),

    "text_lang_id" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
    }),

    "text_quality" -> ((s, dir) => {
      val feats = TextAnalysis.qualityFeatures(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id") +: feats.map { case (n, c) => c.as(n) }: _*)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("punct_ratio"), col("stop_ratio"), col("quality"))
    }),

    "text_token_count" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextAnalysis.approxBpeTokens(col("text")).cast("long").as("n_bpe"))
    }),

    "text_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
    }),

    "text_tfidf" -> ((s, dir) => {
      // top-3 TF-IDF terms per document, smooth idf; the term-key join
      // is the honest shape (a 100 TB vocabulary is not broadcastable)
      TextAnalysis.tfIdfTopK(Tables.documents(s, dir), "doc_id", "text", k = 3)
        .select(col("id").as("doc_id"), col("term"), col("tfidf"),
          col("rank").cast("long").as("rank"))
    }),

    "text_winnow" -> ((s, dir) => {
      // row-level winnowing output: every selected fingerprint of every
      // document is hash-checked
      TextAnalysis.winnowFingerprints(Tables.documents(s, dir),
        "doc_id", "text", k = 5, window = 4)
    }),

    "text_winnow_pairs" -> ((s, dir) => {
      // the MOSS detection stage: candidate copies from shared
      // fingerprints, ubiquitous fingerprints dropped before expansion
      TextAnalysis.winnowCandidates(Tables.documentsSpread(s, dir),
        "doc_id", "text", k = 5, window = 4, minShared = 2, maxDf = 64)
    }),

    "quality_gopher" -> ((s, dir) => {
      // Gopher-style repetition rules: one-pass kernel, zero shuffle
      Curation.repetitionProfile(Tables.documents(s, dir), "doc_id", "text")
    }),

    "decontam_ngram" -> ((s, dir) => {
      // benchmark decontamination: docs sharing a word 4-gram with the
      // (broadcast) benchmark slice doc_id % 20 == 0
      val docs = Tables.documents(s, dir)
      Curation.decontaminate(docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", n = 4)
    }),

    // the standard published decontamination gram sizes — 13 (GPT-3
    // appendix C) and 8 (PaLM/Chowdhery 2022 §6) — over the same kernel
    // and plan shape as decontam_ngram; longer grams = sparser overlap
    "decontam_ngram8" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.decontaminate(docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", n = 8)
    }),

    "decontam_ngram13" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.decontaminate(docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", n = 13)
    }),

    "decontam_fuzzy" -> ((s, dir) => {
      // near-dup decontamination: training docs sharing a minhash LSH
      // band bucket with the benchmark slice — catches lightly-edited
      // test-set leakage the exact n-gram pass misses
      val docs = Tables.documentsSpread(s, dir)
      Curation.decontaminateFuzzy(docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), "doc_id", "text")
    }),

    "dedup_incremental" -> ((s, dir) => {
      // incremental ingest: batch docs surviving near-dup screening
      // against the existing corpus (batch bands broadcast, corpus
      // never shuffles — decontam with build/probe swapped)
      val docs = Tables.documentsSpread(s, dir)
      Curation.dedupIncremental(docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0), "doc_id", "text",
          minSharedBands = 3)
        .select("doc_id", "lang")
    }),

    "pii_scrub" -> ((s, dir) => {
      // synthetic PII injected deterministically from (doc_id, source) —
      // the documents table itself is PII-free word soup — then detected
      // and redacted by the generic scrubber
      val d = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact "), col("source"), lit("-"),
              col("doc_id").cast("string"), lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            concat(lit(" call 555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
              lit(".7"))).otherwise(lit(""))).as("text"))
      Curation.scrubPii(d, "doc_id", "text")
    }),

    "sample_stratified" -> ((s, dir) => {
      // temperature-weighted (alpha=0.5) deterministic mixing over lang
      Curation.stratifiedSample(Tables.documents(s, dir), "doc_id", "lang",
          targetFrac = 0.4, alpha = 0.5)
        .select("doc_id", "lang", "source")
    }),

    "corpus_mix" -> ((s, dir) => {
      // the composed curate-and-mix flow graded as ONE query (like
      // corpus_curate): dedup → repetition gate → decontamination →
      // temperature mixing, then per-(lang, source) rollup — cross-stage
      // wiring covered by a single multi-stage oracle
      val docs = Tables.documents(s, dir)
      Curation.curateMix(docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", "lang")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("sum_chars"))
    }),

    "dedup_semantic" -> ((s, dir) => {
      // SemDeDup: within-cluster pairwise cosine against the fixed
      // quantizer (literal centroids, like ann_ivf, so the DuckDB twin
      // re-derives assignment + pairs from the same constants)
      Similarity.semanticDupPairs(Tables.embeddings(s, dir), "vec_id",
          "embedding", Similarity.ivfQuantizer(16, 64), minCos = 0.3)
        .select(col("cluster").cast("long").as("cluster"), col("id_a"),
          col("id_b"), col("cos_sim"))
    }),

    "multimodal_meta" -> ((s, dir) => {
      Multimodal.extractFeatures(
        Multimodal.syntheticMedia(Tables.documents(s, dir), "doc_id")).toDF()
    }),

    "multimodal_quarantine" -> ((s, dir) => {
      // per-kind quarantine census (VERDICT r12 item 8): the synthesis
      // deliberately includes a JPEG header (format needs a real
      // decoder) and a truncated RIFF (malformed on arrival); both
      // decode to the honest (0,0) and the census pins how many rows
      // per kind took that path — the negative-path grade the decode
      // quarantine never had. Spark goes THROUGH syntheticMediaMixed →
      // MediaCodec.decode; the oracle re-derives every count and
      // decoded dimension sum arithmetically from the residue formulas.
      val feats = Multimodal.extractFeatures(Multimodal.syntheticMediaMixed(
        Tables.documents(s, dir).select("doc_id"), "doc_id")).toDF()
      val dec = col("width") =!= 0 || col("height") =!= 0
      feats.groupBy("kind").agg(
        count(lit(1)).as("n_total"),
        sum(when(dec, 1L).otherwise(0L)).as("n_decoded"),
        sum(when(dec, 0L).otherwise(1L)).as("n_quarantined"),
        sum(when(dec, col("width").cast("long")).otherwise(0L)).as("sum_w"),
        sum(when(dec, col("height").cast("long")).otherwise(0L)).as("sum_h"))
    }),

    "stream_event_rates" -> ((s, dir) => {
      EventRates.windowedBatch(Tables.events(s, dir))
    }),

    // sketch_stats retired to Sketches.eventProfile in r13 (VERDICT r12
    // item 4): its engine-native HLL/KLL can't be oracle-replayed, its
    // bounds stay spec-asserted in SketchBoundsSpec, and the graded
    // capability lives in sketch_quantiles/hll_distinct/cms_topk/kmv_setops.

    "asof_join" -> ((s, dir) => {
      // point-in-time join: each purchase picks up the latest view by
      // the same user at/before it. ts is raw nanos (Tables.events);
      // DIV 1000 = DuckDB epoch_us exactly (both truncate toward zero
      // and the timestamps are positive — asserted in EventOpsSpec).
      // The view side collapses same-µs ties to max(event_id) so the
      // as-of match is unambiguous in both engines.
      val e = Tables.events(s, dir)
      val l = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          expr("ts DIV 1000").as("ts_us"))
      val r = e.where(col("event_type") === "view")
        .groupBy(col("user_id"), expr("ts DIV 1000").as("view_ts"))
        .agg(max(col("event_id")).as("view_id"))
      EventOps.asOfJoin(l, r, "user_id", col("ts_us"), col("view_ts"),
          Seq("view_id"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("asof_ts").as("view_ts"), col("asof_view_id").as("view_id"),
          (col("ts_us") - col("asof_ts")).as("gap_us"))
    }),

    "asof_join_fwd" -> ((s, dir) => {
      // time-to-next-purchase after each signup: the forward as-of
      // (earliest at-or-after) via the negated-ts reuse of asOfJoin
      val e = Tables.events(s, dir)
      val l = e.where(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"),
          expr("ts DIV 1000").as("ts_us"))
      val r = e.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), expr("ts DIV 1000").as("pur_ts"))
        .agg(max(col("event_id")).as("pur_id"))
      EventOps.asOfJoinForward(l, r, "user_id", col("ts_us"), col("pur_ts"),
          Seq("pur_id"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("asof_ts").as("pur_ts"), col("asof_pur_id").as("pur_id"),
          (col("asof_ts") - col("ts_us")).as("wait_us"))
    }),

    "embedding_stats" -> ((s, dir) => {
      // higher-order array functions on the graded surface: per-vector
      // fold (aggregate lambda) + array_max, narrow per-row work; the
      // per-vector sum is rounded and int-scaled BEFORE the per-label
      // mean so the group aggregation is order-free (surprisal pattern)
      Tables.embeddings(s, dir)
        .select(col("label"),
          expr("CAST(round(aggregate(embedding, 0D, " +
            "(acc, x) -> acc + CAST(x AS DOUBLE)) * 10000) AS BIGINT)")
            .as("s4"),
          expr("round(CAST(array_max(embedding) AS DOUBLE), 4)").as("mx"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(sum(col("s4")) / 10000.0 / count(lit(1)), 4).as("avg_sum"),
          round(max(col("mx")), 4).as("max_comp"))
    }),

    "fuzzy_match" -> ((s, dir) => {
      // record linkage: customers vs a digit-perturbed twin, blocked on
      // a 17-char name prefix (the selectivity ladder measured at sf0.1:
      // 12 chars ~all-pairs, 16 leaves 100-row blocks, 17 is what ships —
      // the 5.9s→1.6s fuzzy_match fix). Block selectivity IS the scale
      // knob. NOTE: the 1→7 perturbation can rewrite a digit inside the
      // 17-char prefix itself, so such pairs land in different blocks and
      // are never candidates — intentional: blocking trades recall for
      // boundedness, and the oracle derives the same blocks, so parity
      // holds. Levenshtein verify, counts per distance.
      val cust = Tables.customer(s, dir)
      val a = cust.select(col("c_custkey"), col("c_name"))
      val b = cust.select((col("c_custkey") + 1000000).as("c_custkey"),
        translate(col("c_name"), "1", "7").as("c_name"))
      Linkage.blockedFuzzyJoin(a, b, "c_custkey", "c_custkey",
          "c_name", "c_name", t => substring(t, 1, 17), maxDist = 2)
        .groupBy("dist").agg(count(lit(1)).as("n"))
    }),

    "cube_agg" -> ((s, dir) =>
      // the cube twin of rollup_agg: all four grouping sets in one pass
      groupingSetsAgg(Tables.lineitem(s, dir).cube("l_returnflag",
        "l_linestatus"))),

    "event_funnel" -> ((s, dir) => {
      // signup → view → purchase with a 4-hour conversion window per
      // stage (µs units to stay exact against the ns timestamps)
      EventOps.funnelCounts(Tables.events(s, dir), "user_id", "event_type",
        expr("ts DIV 1000"), Seq("signup", "view", "purchase"),
        maxGap = 14400L * 1000000L)
    }),

    "events_pivot" -> ((s, dir) => {
      // pivot with an EXPLICIT value list — no distinct-collect pass on
      // the driver, so the plan is a single map-side-combined groupBy
      // at any scale (dynamic pivot would scan once just to learn the
      // columns)
      val types = Seq("click", "view", "purchase", "signup", "error")
      Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L, types)
        .withColumn("total", types.map(col).reduce(_ + _))
    }),

    "rollup_agg" -> ((s, dir) => {
      // grouping-sets coverage: rollup emits (flag,status) / (flag) /
      // () grouping sets in ONE pass — one shuffle, partial aggregation
      // feeding all three levels; gid disambiguates NULL-as-ALL rows
      groupingSetsAgg(Tables.lineitem(s, dir).rollup("l_returnflag",
        "l_linestatus"))
    }),

    "window_ranks" -> ((s, dir) => {
      // ranking-function family under one total order (price desc,
      // orderkey tiebreak → every rank function is deterministic)
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderpriority"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        round(percent_rank().over(w), 4).as("prnk"),
        ntile(10).over(w).cast("long").as("decile"))
    }),

    "corpus_stats" -> ((s, dir) => {
      // per-language corpus profile with EXACT percentiles (sort-based
      // percentile(); the sketch twin is Sketches.eventProfile). Rounded
      // 2 dp so interpolation ulps can't break cross-engine parity.
      Tables.documents(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          round(avg("n_chars"), 2).as("avg_chars"),
          round(expr("percentile(n_chars, 0.5)"), 2).as("p50_chars"),
          round(expr("percentile(n_chars, 0.9)"), 2).as("p90_chars"),
          countDistinct("source").as("n_sources"))
    }),

    "dedup_chunks" -> ((s, dir) => {
      Dedup.chunkDuplicates(Tables.documents(s, dir), "doc_id", "text",
        width = 100, minDocs = 2)
    }),

    "text_surprisal" -> ((s, dir) => {
      // unigram-LM surprisal (the CCNet perplexity-filter stage, self-
      // contained corpus-as-LM variant); integer-scaled per-word bits so
      // the per-doc aggregation is order-free cross-engine
      TextAnalysis.unigramSurprisal(Tables.documents(s, dir), "doc_id", "text")
    }),

    "event_transitions" -> ((s, dir) => {
      // first-order Markov transition matrix over per-user event streams
      // (event_id tiebreak makes lag deterministic under retries)
      EventOps.transitionCounts(Tables.events(s, dir), "user_id",
        "event_type", expr("ts DIV 1000"), col("event_id"))
    }),

    "stream_event_sliding" -> ((s, dir) => {
      // overlapping-window rates (10 min sliding by 5): bounded
      // explode-factor-2 batch twin of EventRates.sliding
      EventRates.slidingBatch(Tables.events(s, dir))
    }),

    "profile_columns" -> ((s, dir) => {
      // one-pass multi-column data-profiling (the ANALYZE TABLE
      // primitive of an ETL pipeline) + stack() unpivot to one row per
      // column. The multi-distinct agg plans as ONE scan with an
      // Expand (×|cols|) — linear, no per-column rescans; rounding
      // follows the q1 float-sum precedent.
      val aggs = profiledCols.flatMap(c => Seq(
        count(col(c)).as(s"${c}__n"),
        countDistinct(col(c)).as(s"${c}__nd"),
        round(min(col(c)), 4).as(s"${c}__min"),
        round(max(col(c)), 4).as(s"${c}__max"),
        round(avg(col(c)), 4).as(s"${c}__avg")))
      val stacked = s"stack(${profiledCols.length}, " + profiledCols.map(c =>
        s"'$c', ${c}__n, ${c}__nd, ${c}__min, ${c}__max, ${c}__avg")
        .mkString(", ") +
        ") as (column_name, n, n_distinct, min_val, max_val, avg_val)"
      Tables.lineitemSpread(s, dir)
        .agg(aggs.head, aggs.tail: _*)
        .select(expr(stacked))
    }),

    "events_json_parse" -> ((s, dir) => {
      // semi-structured ingestion: typed extraction from the JSON props
      // column (from_json with an explicit schema — one codegen'd pass,
      // no schema inference scan)
      val k = from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k")
      Tables.events(s, dir)
        .select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
    }),

    "corpus_shard" -> ((s, dir) => {
      // size-balanced export sharding: global LPT-style deal via
      // distributed sort + zipWithIndex (no single-partition window)
      Curation.shardBalanced(Tables.documents(s, dir), "doc_id",
          "n_chars", numShards = 32)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
    }),

    "corpus_pack" -> ((s, dir) => {
      // greedy contiguous sequence packing per language (4096-char bins)
      Curation.packGreedy(Tables.documents(s, dir), "doc_id", "n_chars",
        "lang", budget = 4096L)
    }),

    "stats_agg" -> ((s, dir) => {
      // statistical-aggregate family (corr / covar / stddev) in one
      // partial-agg pass; correlated pair chosen far from zero so the
      // 4 dp round can't sit on an ulp boundary
      val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(round(corr(col("l_extendedprice"), disc), 4).as("corr_pd"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2)
            .as("covar_qp"),
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          count(lit(1)).as("n"))
    }),

    "set_ops" -> ((s, dir) => {
      // INTERSECT / EXCEPT coverage: both plan as shuffle-deduped
      // semi/anti joins — no driver-side set materialization
      val rich = Tables.supplier(s, dir).where(col("s_acctbal") > 5000)
        .select(col("s_suppkey").as("suppkey"))
      val discounted = Tables.lineitem(s, dir).where(col("l_discount") > 0.05)
        .select(col("l_suppkey").as("suppkey"))
      rich.intersect(discounted).withColumn("op", lit("intersect"))
        .unionByName(rich.except(discounted).withColumn("op", lit("except")))
    }),

    "check_constraints" -> ((s, dir) => {
      // declarative data-quality audit (the Deequ/dbt-test primitive).
      // The three single-table rules share ONE aggregation pass over
      // customer (same no-per-column-rescans standard as
      // profile_columns) and unpivot via stack; only the FK rule needs
      // its own (anti-join) leg.
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val scalar = c.agg(
          (count(lit(1)) - countDistinct(col("c_custkey"))).as("uniq_v"),
          count(when(col("c_name").isNull, 1)).as("nonnull_v"),
          count(when(!col("c_acctbal").between(-1000, 10000), 1))
            .as("range_v"))
        .select(expr("stack(3, " +
          "'customer_custkey_unique', uniq_v, " +
          "'customer_name_nonnull', nonnull_v, " +
          "'customer_acctbal_range', range_v) " +
          "as (constraint_name, n_violations)"))
      val fk = o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("orders_custkey_fk").as("constraint_name"),
          col("n_violations"))
      scalar.unionByName(fk)
    }),

    "events_resample" -> ((s, dir) => {
      // time-series gap filling: zero-fill each user's missing days
      // between their first and last event. The grid is a bounded
      // explode (span days per user), the fill a co-partitioned left
      // join — no calendar table shuffle, no driver loop.
      val day = expr("ts DIV 1000 DIV 86400000000")
      val d = Tables.events(s, dir).select(col("user_id"), day.as("day"))
      val counts = d.groupBy("user_id", "day").agg(count(lit(1)).as("n"))
      // bounds from the day-deduplicated counts, not the raw events: a
      // second groupBy over d would shuffle every event again under a
      // different key; this re-aggregates the tiny (user, day) frame
      val grid = counts.groupBy("user_id")
        .agg(min("day").as("lo"), max("day").as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"))).as("day"))
      grid.join(counts, Seq("user_id", "day"), "left").na.fill(0L, Seq("n"))
    }),

    "scd2_upsert" -> ((s, dir) => {
      // type-2 SCD absorb: history = customers (key % 10 != 0) all open
      // since t=0; snapshot drops key % 13 == 0 (deletes), mutates the
      // segment of key % 7 == 0 (changes), and introduces key % 10 == 0
      // (inserts). Batch time 100.
      val (history, snap) = scd2HistorySnap(s, dir)
      Scd2.absorbSnapshot(history, snap, Seq("custkey"), Seq("segment"),
        batchTs = 100L)
    }),

    "scd2_asof_snapshot" -> ((s, dir) => {
      // point-in-time AS OF through the absorbed history — the query a
      // type-2 dimension exists to answer — composed into the segment
      // CHURN MATRIX between two instants (t=50 pre-batch, t=150
      // post-batch): the oracle derives the matrix DIRECTLY from the
      // raw tables, so the graded compare proves absorb + asOf are
      // jointly a faithful temporal store, not just self-consistent
      val (history, snap) = scd2HistorySnap(s, dir)
      val hist = Scd2.absorbSnapshot(history, snap,
        Seq("custkey"), Seq("segment"), batchTs = 100L)
      val before = Scd2.asOf(hist, 50L)
        .select(col("custkey"), col("segment").as("seg_b"))
      val after = Scd2.asOf(hist, 150L)
        .select(col("custkey"), col("segment").as("seg_a"))
      before.join(after, Seq("custkey"), "full")
        .groupBy(coalesce(col("seg_b"), lit("<absent>")).as("seg_before"),
          coalesce(col("seg_a"), lit("<absent>")).as("seg_after"))
        .agg(count(lit(1)).as("n_keys"))
    }),

    "value_histogram" -> ((s, dir) => {
      // fixed-width histogram by pure arithmetic (portable bucket
      // formula — identical float ops in both engines; no width_bucket
      // dependency), capped top bucket
      Tables.events(s, dir)
        .groupBy(least(floor(col("value") / 10), lit(19)).cast("long")
          .as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    }),

    "text_bm25" -> ((s, dir) => {
      // BM25 ranked retrieval against a fixed 3-term query (terms from
      // the synthetic vocabulary, mixed selectivity)
      Retrieval.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
        Seq("spark", "window", "merge"), k = 20)
    }),

    "text_collocations" -> ((s, dir) => {
      // PMI bigram collocation mining (Church & Hanks 1990)
      Retrieval.pmiCollocations(Tables.documents(s, dir), "doc_id", "text",
        minCount = 5, topK = 50)
    }),

    "dsir_select" -> ((s, dir) => {
      // DSIR importance scoring (Xie 2023) with lang='en' as the target
      // domain and the whole corpus as the raw distribution
      Selection.dsirScore(Tables.documentsSpread(s, dir), "doc_id", "text",
        col("lang") === "en", numBuckets = 64)
    }),

    "quality_classifier" -> ((s, dir) => {
      // fastText-architecture hashed linear classifier; zero-shuffle scan
      Selection.hashedLinearScore(Tables.documents(s, dir), "doc_id", "text")
    }),

    "events_retention" -> ((s, dir) => {
      // weekly cohort retention matrix; ns → µs via exact long DIV
      Cohorts.retentionMatrix(Tables.events(s, dir), "user_id",
        expr("ts DIV 1000"))
    }),

    "events_rfm" -> ((s, dir) => {
      // RFM quintile segmentation; boundaries via exact percentile
      // (broadcast), NOT an ntile window over every user
      Cohorts.rfmSegments(Tables.events(s, dir), "user_id",
        expr("ts DIV 1000"), col("value"))
    }),

    "dedup_containment" -> ((s, dir) => {
      // Broder containment (asymmetric near-dup: short doc inside long
      // doc) — lang-only block so cross-length-band pairs survive
      Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
          blockCol = col("lang"), n = 3, minContain = 0.5)
        .select(col("id_a"), col("id_b"), col("n_inter"),
          col("contain_a"), col("contain_b"))
    }),

    "sample_exact_k" -> ((s, dir) => {
      // deterministic exact-k-per-stratum sample (md5-rank permutation)
      Curation.sampleExactK(Tables.documents(s, dir), "doc_id", "lang",
        k = 40)
    }),

    "event_anomalies" -> ((s, dir) => {
      // z-score daily spike/drop detection per event type
      EventOps.dailyAnomalies(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"), zThresh = 2.0)
    }),

    "skew_join_salted" -> ((s, dir) => {
      // the salted hot-key join graded against the PLAIN join oracle
      // (salting must not change results): 1/3 of lineitem lands on
      // key 0 by construction — the shape AQE skew splitting can't fix
      // when the skew is in a build side or AQE is off
      val large = Tables.lineitem(s, dir).select(
        when(col("l_orderkey") % 3 === 0, lit(0L))
          .otherwise(col("l_suppkey") % 25).cast("long").as("k"),
        col("l_quantity"))
      val small = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("k"), col("n_name"))
      SkewJoin.saltedJoin(large, small, Seq("k"), buckets = 8)
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
    }),

    "interval_coverage" -> ((s, dir) => {
      // sweep-line coverage-depth histogram over the gene intervals
      // (read-depth / feature-density primitive)
      Intervals.coverageHistogram(partGenes(s, dir), Seq("chr"),
        col("gstart"), col("gstop"))
    }),

    "embed_kmeans_step" -> ((s, dir) => {
      // one full-corpus Lloyd iteration against the fixed quantizer
      // (literal centroids, like ann_ivf, so the DuckDB twin re-derives
      // assignment and means from the same constants)
      Similarity.kmeansStep(Tables.embeddings(s, dir), "embedding",
        Similarity.ivfQuantizer(16, 64))
    }),

    "quality_ppl_buckets" -> ((s, dir) => {
      // CCNet head/middle/tail terciles over per-language surprisal
      val docs = Tables.documents(s, dir)
      val scored = TextAnalysis.unigramSurprisal(docs, "doc_id", "text")
        .join(docs.select("doc_id", "lang"), "doc_id")
      Selection.pplBuckets(scored, "doc_id", "lang", "avg_surprisal")
        .groupBy("lang", "bucket").agg(count(lit(1)).as("n_docs"))
    }),

    "vocab_growth" -> ((s, dir) => {
      // Heaps-law vocabulary growth at 50-doc checkpoints over word
      // BIGRAMS (the unigram vocabulary is closed and tiny by
      // construction — only a composite unit grows)
      TextAnalysis.vocabGrowth(Tables.documentsSpread(s, dir), "doc_id",
        TextAnalysis.wordBigrams(col("text")), step = 50L)
    }),

    "embed_matryoshka_audit" -> ((s, dir) => {
      // Matryoshka (MRL, Kusupati et al. 2022) truncation audit:
      // recall@5 of retrieval on the 16-dim embedding PREFIX against
      // the full-64-dim truth — the measured answer to "can the index
      // store a quarter of the vector" (the storage/quality knob every
      // embedding deployment tunes). Both paths reuse the graded
      // cosineTopK machinery (6-dp rounded similarity, corpus_id
      // tiebreak — ties deterministic cross-engine); integers + one
      // rounded division, the recall-audit family shape.
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      def trunc(df: DataFrame) = df.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val brute = Similarity.cosineTopK(emb, queries, "vec_id",
        "embedding", k = 5).select("query_id", "corpus_id")
      val pfx = Similarity.cosineTopK(trunc(emb), trunc(queries),
        "vec_id", "embedding", k = 5).select("query_id", "corpus_id")
      val hits = brute.join(pfx, Seq("query_id", "corpus_id"))
      brute.agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hits"))))
        .select(col("n_truth"), col("n_hits"),
          round(lit(10000.0) * col("n_hits") / col("n_truth"))
            .cast("long").as("recall4"))
    }),

    "dna_orf_finder" -> ((s, dir) => {
      // open-reading-frame scan (start ATG through the FIRST in-frame
      // stop TAA/TAG/TGA, all 3 reading frames — the gene-finding
      // primitive upstream of the translate/annotate chain): codon
      // positions explode once, frame = pos % 3 partitions them into
      // step-3 sequences, and the "first stop at-or-after" is a
      // conditional running min over a (doc, frame)-partitioned
      // FOLLOWING window (fine-grained partitions — never a global
      // sort; the same shape as q8's fixup windows). Output is the
      // ORF-length histogram (nt, start through stop inclusive —
      // always a multiple of 3), which is offset-convention-free so
      // both engines' indexing can differ safely.
      import org.apache.spark.sql.expressions.Window
      val codons = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(graft.functions.Dna.kmers(docDna, 3)))
        .select(col("doc_id"), col("pos").cast("long").as("i"),
          pmod(col("pos"), lit(3)).as("frame"),
          (col("col") === "ATG").as("is_start"),
          col("col").isin("TAA", "TAG", "TGA").as("is_stop"))
      val w = Window.partitionBy("doc_id", "frame").orderBy("i")
        .rowsBetween(1, Window.unboundedFollowing)
      codons
        .withColumn("next_stop",
          min(when(col("is_stop"), col("i"))).over(w))
        .filter(col("is_start") && col("next_stop").isNotNull)
        .select((col("next_stop") - col("i") + 3).as("orf_nt"))
        .groupBy("orf_nt").agg(count(lit(1)).as("n_orfs"))
    }),

    "dna_kmer_spectrum" -> ((s, dir) => {
      // 4-mer occurrence spectrum over the derived DNA sequences (the
      // k-mer counting classic; spectrum = histogram of multiplicities)
      Tables.documents(s, dir)
        .select(explode(Dna.kmers(docDna, 4)).as("kmer"))
        .groupBy("kmer").agg(count(lit(1)).as("n_occ"))
        .groupBy("n_occ").agg(count(lit(1)).as("n_kmers"))
    }),

    "dna_codon_usage" -> ((s, dir) => {
      // relative synonymous codon usage (RSCU — the codon-bias table
      // behind expression-level prediction and codon optimization;
      // RSCU ≈ 1 = unbiased, the interesting genes deviate): frame-0
      // codons of the derived DNA, one vocabulary-sized count agg
      // (≤ 64 codons regardless of corpus), the 64-row codon→AA table
      // broadcast from DnaOps.codonTable (ONE source of truth — the
      // oracle interpolates the same table as VALUES);
      // RSCU = n_occ·n_syn/total_aa, exact ints + one rounded division
      import s.implicits._
      val codons = Tables.documents(s, dir)
        .select(docDna.as("dna"))
        .select(explode(sequence(lit(1), lit(28), lit(3))).as("i"),
          col("dna"))
        .select(col("dna").substr(col("i"), lit(3)).as("codon"))
        .groupBy("codon").agg(count(lit(1)).as("n_occ"))
      val table = broadcast(graft.functions.DnaOps.codonTable
        .map { case (c, a) => (c, a.toString) }
        .toDF("codon", "aa"))
      val nSyn = broadcast(table.groupBy("aa")
        .agg(count(lit(1)).as("n_syn")))
      val withAa = codons.join(table, "codon").join(nSyn, "aa")
      val aaTot = withAa.groupBy("aa").agg(sum("n_occ").as("total_aa"))
      withAa.join(aaTot, "aa")
        .select(col("codon"), col("aa"), col("n_occ"),
          round(lit(10000.0) * (col("n_occ") * col("n_syn")).cast("double")
            / col("total_aa").cast("double")).cast("long").as("rscu4"))
    }),

    "dna_palindrome_sites" -> ((s, dir) => {
      // reverse-complement palindrome census over 6-mers — the
      // restriction-enzyme recognition-site scan (EcoRI GAATTC etc.
      // are exactly the 6-mers equal to their own revcomp): one
      // k-mer explode, a per-row revcomp filter, one vocabulary-sized
      // agg (palindromic 6-mer domain ≤ 4³ = 64 regardless of corpus)
      val km = Tables.documents(s, dir)
        .select(col("doc_id"), explode(Dna.kmers(docDna, 6)).as("kmer"))
      km.filter(reverse(translate(col("kmer"), "ACGT", "TGCA"))
          === col("kmer"))
        .groupBy("kmer").agg(count(lit(1)).as("n_occ"),
          countDistinct("doc_id").as("n_docs"))
    }),

    "dna_gc_windows" -> ((s, dir) => {
      // sliding GC-content / GC-skew profile over the derived DNA (the
      // genome-browser GC track + the replication-origin skew screen —
      // (G−C)/(G+C) flips sign at oriC): width-8 step-4 windows of the
      // 32-mers; per window-start the corpus-wide EXACT G/C sums and
      // two rounded divisions — a 7-row bounded output, corpus
      // touched once, no shuffle bigger than the start-keyed agg
      Tables.documents(s, dir)
        .select(docDna.as("dna"))
        .select(explode(sequence(lit(1), lit(25), lit(4))).as("start"),
          col("dna"))
        .select(col("start").cast("long").as("start"),
          col("dna").substr(col("start"), lit(8)).as("w"))
        .select(col("start"),
          (lit(8) - length(translate(col("w"), "G", ""))).cast("long")
            .as("g"),
          (lit(8) - length(translate(col("w"), "C", ""))).cast("long")
            .as("c"))
        .groupBy("start").agg(count(lit(1)).as("n_windows"),
          sum("g").as("n_g"), sum("c").as("n_c"))
        .select(col("start"), col("n_windows"), col("n_g"), col("n_c"),
          round(lit(10000.0) * (col("n_g") + col("n_c")).cast("double") /
            (col("n_windows") * lit(8L)).cast("double")).cast("long")
            .as("gc4"),
          when(col("n_g") + col("n_c") > 0,
            round(lit(10000.0) * (col("n_g") - col("n_c")).cast("double") /
              (col("n_g") + col("n_c")).cast("double")).cast("long"))
            .as("skew4"))
    }),

    "dna_debruijn_stats" -> ((s, dir) => {
      // de Bruijn assembly-graph complexity census over the derived DNA
      // (the graph every short-read assembler builds: nodes = distinct
      // 7-mers, edges = distinct 8-mers, a node with out-degree ≥ 2 is
      // a BRANCH — the repeat structure that decides whether assembly
      // is easy or tangled): ONE distinct shuffle on the 8-mer key
      // (domain bounded by 4^8 = 65536 regardless of corpus size —
      // every downstream agg is vocabulary-sized), then prefix/suffix
      // degree aggs and a 4-scalar rollup. Exact integers end to end.
      val edges = Tables.documents(s, dir)
        .select(explode(Dna.kmers(docDna, 8)).as("kmer"))
        .distinct()
      val outDeg = edges
        .groupBy(substring(col("kmer"), 1, 7).as("node"))
        .agg(count(lit(1)).as("odeg"))
      val inDeg = edges
        .groupBy(substring(col("kmer"), 2, 7).as("node"))
        .agg(count(lit(1)).as("ideg"))
      val nodes = outDeg.select("node")
        .union(inDeg.select("node")).distinct()
      edges.agg(count(lit(1)).as("n_edges"))
        .crossJoin(nodes.agg(count(lit(1)).as("n_nodes")))
        .crossJoin(outDeg.agg(
          sum(when(col("odeg") >= 2, 1L).otherwise(0L))
            .as("n_branch_out")))
        .crossJoin(inDeg.agg(
          sum(when(col("ideg") >= 2, 1L).otherwise(0L))
            .as("n_branch_in")))
    }),

    "bpe_merge_step" -> ((s, dir) => {
      // one BPE merge-selection step: corpus-weighted adjacent char-pair
      // counts, top-20 merge candidates
      TextAnalysis.bpePairCounts(Tables.documents(s, dir), "text", topK = 20)
    }),

    "quantile_stats" -> ((s, dir) => {
      // exact per-group quantile family (sort-based percentile, NOT the
      // sketch path — that's Sketches.eventProfile's bounded-error contract)
      Tables.lineitem(s, dir).groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.25)"), 4).as("q1"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("med"),
          round(expr("percentile(l_quantity, 0.75)"), 4).as("q3"),
          count(lit(1)).as("n"))
        .withColumn("iqr", round(col("q3") - col("q1"), 4))
    }),

    "graph_degree_hist" -> ((s, dir) => {
      // degree distribution of the confirmed near-dup graph — the graph
      // shape audit run before trusting connected components (a heavy
      // tail predicts mega-components)
      // one explode pass over the pair derivation, not a union whose
      // two children re-run the verify-side compute (guide §2.4)
      docJaccardPairs(s, dir)
        .select(explode(array(col("id_a"), col("id_b"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
    }),

    "text_bigram_ppl" -> ((s, dir) => {
      // bigram-LM surprisal (the KenLM perplexity-filter shape, one
      // word of history up from text_surprisal)
      TextAnalysis.bigramSurprisal(Tables.documentsSpread(s, dir), "doc_id", "text")
    }),

    "text_jm_ppl" -> ((s, dir) => {
      // Jelinek-Mercer interpolated bigram surprisal (λ = 0.5) — the
      // third classic smoothing next to add-1 (text_bigram_ppl) and
      // Kneser-Ney (text_kn_ppl); same one-explode vocabulary-keyed
      // shape (TextAnalysis.jmBigramSurprisal)
      TextAnalysis.jmBigramSurprisal(Tables.documentsSpread(s, dir),
        "doc_id", "text")
    }),

    "variant_density" -> ((s, dir) => {
      // per-1kb variant-density track (the genome-browser density tile
      // + the hotspot screen): DISTINCT variant sites first (the
      // natural (chr,pos,ref,var) key — raw synthetic rows duplicate),
      // then one (chr, window) partial agg — output bounded by
      // coordinate space / 1 kb, never variant count
      liVariants(s, dir)
        .select(col("chr"), col("pos"), col("ref_nuc"), col("var_nuc"))
        .filter(col("ref_nuc") =!= col("var_nuc"))
        .distinct()
        .groupBy(col("chr"),
          (col("pos") - pmod(col("pos"), lit(1000L))).divide(1000)
            .cast("long").as("win1k"))
        .agg(count(lit(1)).as("n_variants"))
    }),

    "events_mad" -> ((s, dir) => {
      // robust median/MAD anomaly twin of event_anomalies (a monster
      // spike can't mask itself by inflating the scale estimate)
      EventOps.dailyAnomaliesMad(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"), k = 2.0)
    }),

    "embed_power_iteration" -> ((s, dir) => {
      // top principal direction after 2 distributed power iterations;
      // the 64-value result frame is driver-built (the bounded-collect
      // ivfTrain discipline), everything heavy ran as Spark jobs
      import s.implicits._
      Similarity.powerIteration(Tables.embeddings(s, dir), "embedding",
          dim = 64, iterations = 2)
        .zipWithIndex.map { case (x, d) => (d.toLong, x) }.toSeq
        .toDF("dim", "loading")
    }),

    "embed_dim_variance" -> ((s, dir) => {
      // per-dimension variance screen (feature selection: drop the
      // lowest-variance embedding dims before indexing): mean and
      // second moment as EXACT scaled-integer sums (x1e6 components,
      // their squares summed as 1e12-scale longs — order-free; at true
      // 100 TB row counts the square sums would need a 1e3 scale or a
      // two-level agg to stay under 2^63, noted in kind), variance =
      // E[x^2] - E[x]^2 assembled from the exact sums in one identical
      // expression both engines
      val emb = Tables.embeddings(s, dir)
      val sx = emb.select(posexplode(col("embedding")))
        .select(col("pos").cast("long").as("dim"),
          round(col("col").cast("double") * 1000000).cast("long").as("xs"))
        .groupBy("dim").agg(count(lit(1)).as("n"),
          sum("xs").as("s1"), sum(col("xs") * col("xs")).as("s2"))
      TopK.ranked(sx.select(col("dim"), col("n"),
          (col("s2").cast("double") / col("n") / 1e12
            - (col("s1").cast("double") / col("n") / 1e6)
              * (col("s1").cast("double") / col("n") / 1e6)).as("variance")),
          10, col("variance").desc, col("dim").asc)
        .select("rank", "dim", "n", "variance")
    }),

    "graph_pagerank" -> ((s, dir) => {
      // 2-iteration PageRank over the undirected near-dup graph (edge
      // frame both directions); per-edge scaled-integer contributions
      // make the propagation order-free, so the oracle chains the SAME
      // two iterations in SQL and the doubles match bit for bit
      TopK.ranked(Graphs.pagerank(bothDirs(docJaccardPairs(s, dir)),
          "src", "dst", iterations = 2),
          20, col("pr").desc, col("id").asc)
        .select("rank", "id", "pr")
    }),

    "graph_label_prop" -> ((s, dir) => {
      // 3-round deterministic label propagation (LPA with a total
      // (count desc, label asc) tie order) over the undirected near-dup
      // graph; integer-only, so the oracle chains the same rounds;
      // output = top-20 communities by size
      val labels = Graphs.labelPropagation(
        bothDirs(docJaccardPairs(s, dir)), "src", "dst",
        iterations = 3)
      TopK.ranked(labels.groupBy("label")
          .agg(count(lit(1)).as("n_members")),
          20, col("n_members").desc, col("label").asc)
        .select("rank", "label", "n_members")
    }),

    "graph_modularity" -> ((s, dir) => {
      // community-QUALITY audit over the 3-round LPA labels (the
      // labeling's graded twin tells you WHAT the communities are;
      // this tells you whether the partition beats random — low Q on
      // a near-dup graph warns the clusters are chains): the
      // all-integer rational form (4m·Σe_c − Σd_c²)/(4m²), one double
      // division (Graphs.modularity)
      // pairs feeds BOTH the LPA rounds and the modularity audit —
      // materialize once so the near-dup derivation runs once, not
      // once per consumer (guide §2.4; the PairGraph discipline)
      val pairs = Graphs.materialize(docJaccardPairs(s, dir))
      val labels = Graphs.labelPropagation(bothDirs(pairs), "src", "dst",
        iterations = 3)
      Graphs.modularity(pairs, "id_a", "id_b", labels)
    }),

    "corpus_dup_sources" -> ((s, dir) => {
      // near-dup pair census by SOURCE pair — the corpus-governance
      // readout of the dedup family ("which feeds duplicate each
      // other" drives crawl dedup priorities and licensing reviews):
      // confirmed jaccard pairs annotated with both docs' sources (two
      // doc-keyed joins), normalized (least, greatest) so the matrix is
      // upper-triangular, rolled up to source-pair counts with a
      // density rate8 = pairs / possible-pairs ×10⁸ (within-source uses
      // n·(n−1)/2, cross-source n_a·n_b — both exact, one rounded
      // division); per-source doc counts broadcast.
      val pairs = docJaccardPairs(s, dir)
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        col("source"))
      val withSrc = pairs
        .join(docs.select(col("doc_id").as("id_a"),
          col("source").as("sa")), "id_a")
        .join(docs.select(col("doc_id").as("id_b"),
          col("source").as("sb")), "id_b")
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"))
      val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val possible = when(col("src_a") === col("src_b"),
        col("n_docs_a") * (col("n_docs_a") - 1) / lit(2))
        .otherwise(col("n_docs_a") * col("n_docs_b"))
      withSrc.groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
        .join(broadcast(counts.select(col("source").as("src_a"),
          col("n_docs").as("n_docs_a"))), "src_a")
        .join(broadcast(counts.select(col("source").as("src_b"),
          col("n_docs").as("n_docs_b"))), "src_b")
        .select(col("src_a"), col("src_b"), col("n_pairs"),
          col("n_docs_a"), col("n_docs_b"),
          round(lit(100000000.0) * col("n_pairs") / possible)
            .cast("long").as("rate8"))
    }),

    "graph_edge_jaccard" -> ((s, dir) => {
      // per-edge common-neighbor Jaccard over the near-dup graph — the
      // link-prediction edge-strength screen (bridges read 0, intra-
      // cluster edges high); candidates bounded by the wedge count
      // (Graphs.edgeJaccard)
      val pairs = docJaccardPairs(s, dir)
      Graphs.edgeJaccard(pairs, "id_a", "id_b")
    }),

    "graph_assortativity" -> ((s, dir) => {
      // degree assortativity of the near-dup graph (Newman 2002): do
      // dup clusters attach through hubs or through low-degree bridge
      // docs (the chain-merge shape)? One node-sized degree frame +
      // one ONE-ROW moment agg (Graphs.degreeAssortativity) — the
      // global scalar twin of graph_edge_jaccard's per-edge screen.
      Graphs.degreeAssortativity(docJaccardPairs(s, dir), "id_a", "id_b")
    }),

    "graph_bfs_hops" -> ((s, dir) => {
      // 3-round multi-source BFS blast radius over the undirected
      // near-dup graph: seeds = every 97th doc, output = nodes first
      // reached per hop with a sum-of-ids membership checksum (a count
      // alone cannot catch two offsetting membership errors). Frontier
      // shrinks as the ball saturates — each round joins only the
      // NEWLY-reached set against the edges (Graphs.bfsHops).
      val seeds = Tables.documents(s, dir)
        .filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("id"))
      Graphs.bfsHops(bothDirs(docJaccardPairs(s, dir)), "src", "dst",
          seeds, rounds = 3)
        .groupBy("hop").agg(count(lit(1)).as("n_nodes"),
          sum("id").as("sum_id"))
    }),

    "text_zipf" -> ((s, dir) => {
      // Zipf exponent fit per language over the top-1000 words — the
      // corpus-law audit twin of vocab_growth's Heaps curve
      TextAnalysis.zipfFit(Tables.documents(s, dir), "lang", "text")
    }),

    "text_jsd_sources" -> ((s, dir) => {
      // pairwise Jensen-Shannon divergence between source unigram
      // distributions — the token-space distribution-shift audit
      // (embed_mmd's lexical twin); absent words DENSIFY to zero so
      // disjoint-vocabulary mass is counted, logs 4 dp-round to exact
      // longs per word (surprisal discipline)
      TextAnalysis.sourceJsd(Tables.documents(s, dir), "source", "text")
    }),

    "topic_plsa_step" -> ((s, dir) => {
      // one graded PLSA EM step from a deterministic init (the
      // kmeansStep discipline for topic models): top-10 words per topic
      // by the M-step's new unnormalized weight
      Topics.plsaStep(Tables.documentsSpread(s, dir), "doc_id", "text")
    }),

    "events_changepoint" -> ((s, dir) => {
      // binary segmentation's first split per event type: the day where
      // the cumulative count most departs from the uniform-rate line —
      // |D·S_k − k·S_D| is exact-integer end to end
      EventOps.changepoint(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"))
    }),

    "embed_sq8" -> ((s, dir) => {
      // int8 scalar-quantization audit: per-dim ranges + reconstruction
      // MSE — the SQ8-vs-PQ decision input
      Similarity.sq8Audit(Tables.embeddings(s, dir), "embedding")
    }),

    "graph_kcore_peel" -> ((s, dir) => {
      // 3 rounds of 2-core peeling over the near-dup graph — the
      // dense-core screen next to graph_triangles' cohesion census
      Graphs.kcorePeel(bothDirs(docJaccardPairs(s, dir)),
        "src", "dst", k = 2, rounds = 3)
    }),

    "dna_kmer_canonical" -> ((s, dir) => {
      // strand-independent k-mer spectrum: canonical = min(kmer,
      // revcomp) — the standard k-mer-counter normalization (Jellyfish)
      Tables.documents(s, dir)
        .select(explode(Dna.kmers(docDna, 4)).as("kmer"))
        .select(least(col("kmer"),
          Dna.reverseComplement(col("kmer"))).as("canon"))
        .groupBy("canon").agg(count(lit(1)).as("n_occ"))
        .groupBy("n_occ").agg(count(lit(1)).as("n_kmers"))
    }),

    "events_assoc_rules" -> ((s, dir) => {
      // market-basket association between event types at user
      // granularity (support + lift): per-user distinct type sets are
      // vocabulary-bounded, so the self-join expansion is |types|² per
      // user, not events²; type totals and the user count broadcast;
      // lift UNROUNDED (one division of exact integer products)
      val ut = Tables.events(s, dir)
        .select(col("user_id"), col("event_type")).distinct()
      val nUsers = broadcast(ut.agg(
        countDistinct("user_id").as("n_users")))
      val tc = ut.groupBy("event_type").agg(count(lit(1)).as("n_t"))
      val pairs = ut.as("a").join(ut.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(tc.select(col("event_type").as("type_a"),
          col("n_t").as("n_a"))), "type_a")
        .join(broadcast(tc.select(col("event_type").as("type_b"),
          col("n_t").as("n_b"))), "type_b")
        .crossJoin(nUsers)
        .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"),
          col("n_b"),
          (col("n_ab").cast("double") * col("n_users")
            / (col("n_a") * col("n_b"))).as("lift"))
    }),

    "events_ewma" -> ((s, dir) => {
      // exponential smoothing of daily counts (ordered fold — the
      // inherently sequential recurrence run per vocabulary-sized key)
      EventOps.dailyEwma(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"), alpha = 0.3)
    }),

    "events_holt" -> ((s, dir) => {
      // Holt level+trend double smoothing with 1-step forecast; α and β
      // chosen exactly representable (0.5, 0.25) so both engines parse
      // identical lambda literals
      EventOps.dailyHolt(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"), alpha = 0.5, beta = 0.25)
    }),

    "events_holt_backtest" -> ((s, dir) => {
      // walk-forward 1-step-ahead MAE of the Holt smoother — the
      // out-of-sample eval loop (error banked BEFORE the state update);
      // error x1e4 accumulates as integer-valued doubles inside the
      // fold so the sum is order-free
      EventOps.holtBacktest(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"), alpha = 0.5, beta = 0.25)
    }),

    "events_mase_baseline" -> ((s, dir) => {
      // seasonal-naive vs naive MAE over the densified daily series —
      // the MASE yardstick the smoothing family's backtests read
      // against; ratio4 < 10000 says the weekly cycle beats plain
      // persistence (EventOps.seasonalNaiveBaseline)
      EventOps.seasonalNaiveBaseline(Tables.events(s, dir),
        "event_type", expr("ts DIV 1000"))
    }),

    "events_holt_winters" -> ((s, dir) => {
      // additive Holt-Winters with weekly seasonality — the seasonal
      // member of the ewma/holt forecaster family; α, β, γ exactly
      // representable so both engines parse identical lambda literals,
      // the 9-slot state array rotates the day-of-week seasonal queue
      EventOps.dailyHoltWinters(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"), alpha = 0.5, beta = 0.25, gamma = 0.25,
        period = 7)
    }),

    "corpus_mix_temperature" -> ((s, dir) => {
      // temperature-scaled source sampling weights (the multilingual /
      // multi-source rebalancing of Conneau 2019 XLM-R §3.1 and the
      // LLaMA data mix: w_s ∝ tokens_s^alpha with alpha = 0.7 —
      // upweights small sources without letting a giant source drown
      // the mix)
      Curation.temperatureMix(Tables.documents(s, dir), "source",
        "text", alpha = 0.7)
    }),

    "corpus_budget_select" -> ((s, dir) => {
      // greedy token-budget selection (top docs by score until 40% of
      // corpus tokens): the scalable two-phase prefix sum — bounded
      // bin-offset window + per-bin parallel running sums
      Selection.budgetSelect(Tables.documents(s, dir), "doc_id", "text",
          "source")
        .groupBy("src").agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("sel_tokens"), min("score4").as("min_score4"))
    }),

    "embed_mmd" -> ((s, dir) => {
      // linear-kernel MMD² between even and odd vec_id slices — the
      // two-sample distribution-shift audit over the embedding corpus
      Similarity.linearMmd(Tables.embeddings(s, dir), "embedding",
        col("vec_id") % 2 === 0)
    }),

    "bpe_train" -> ((s, dir) => {
      // full BPE training (Sennrich learn_bpe): 10 rounds of
      // distributed pair counts over the vocabulary-sized state frame,
      // ONE argmax row to the driver per round — the kmeansTrainFull
      // discipline. GRADED: the oracle replays every round as a
      // chained CTE (count → argmax → replace), so selection order,
      // tie-breaks and counts are all checked.
      val merges = TextAnalysis.bpeTrain(Tables.documentsSpread(s, dir),
        "text", numMerges = 10)
      import s.implicits._
      merges.zipWithIndex
        .map { case ((a, b, c), i) => (i + 1L, a, b, c) }
        .toDF("rank", "a", "b", "cnt")
    }),

    "bpe_encode_tokens" -> ((s, dir) => {
      // the tokenizer APPLY half, CHAINED to the training half: the
      // merge list is bpe_train's output (VERDICT r10 item 4), fed
      // into the constant-model codegen kernel — no join, no shuffle
      // in the encode itself. Graded since r11: the oracle re-trains
      // the same 10 merges in chained CTEs, then replays the greedy
      // lowest-rank-first merge loop as a recursive CTE over the
      // word vocabulary.
      val model = graft.functions.BpeOps.BpeModel(
        TextAnalysis.bpeTrain(Tables.documentsSpread(s, dir), "text",
          numMerges = 10).map(m => (m._1, m._2)))
      TopK.ranked(Tables.documentsSpread(s, dir)
          .select(explode(graft.functions.Bpe.encode(col("text"), model))
            .as("token"))
          .groupBy("token").agg(count(lit(1)).as("n_occ")),
          20, col("n_occ").desc, col("token").asc)
        .select("rank", "token", "n_occ")
    }),

    "bpe_fertility" -> ((s, dir) => {
      // tokenizer FERTILITY per language (subwords per word — the
      // multilingual fairness audit run on every tokenizer: a language
      // with 2x fertility pays 2x the context budget and 2x the
      // compute per sentence; Ács 2019 / the XLM-R tokenizer report):
      // chains bpe_train's learned merges into the BpeEncode kernel
      // over the DISTINCT word vocabulary (encode once per word, never
      // per occurrence), joins back per-(lang, word) frequencies, one
      // lang-sized rollup; integers + one rounded division.
      val model = graft.functions.BpeOps.BpeModel(
        TextAnalysis.bpeTrain(Tables.documentsSpread(s, dir), "text",
          numMerges = 10).map(m => (m._1, m._2)))
      // encode once per (lang, word) — a word shared across languages
      // encodes ≤ |langs| times (each a µs-scale constant-model kernel
      // call), which buys removing the word-vocab distinct AND the
      // join back (two exchanges + a second corpus explode subtree the
      // old distinct+join shape carried). Same rollup, exact integers.
      Tables.documentsSpread(s, dir)
        .select(col("lang"),
          explode(split(Dedup.normText(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("lang", "w").agg(count(lit(1)).as("freq"))
        .select(col("lang"), col("freq"),
          size(graft.functions.Bpe.encode(col("w"), model)).cast("long")
            .as("n_sub"))
        .groupBy("lang").agg(sum("freq").as("n_words"),
          sum(col("n_sub") * col("freq")).as("n_subwords"))
        .select(col("lang"), col("n_words"), col("n_subwords"),
          round(lit(10000.0) * col("n_subwords") / col("n_words"))
            .cast("long").as("fertility4"))
    }),

    "events_top_paths" -> ((s, dir) => {
      // most-common opening event paths (first 3 events per user in
      // (ts, event_id) total order — the funnel-discovery audit):
      // per-user prefix via window, path assembly via array_sort (the
      // collect_list order is NOT deterministic; the sort is what makes
      // retries agree), counts over the type³-bounded path domain
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").asc, col("event_id").asc)
      val firstN = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          expr("ts DIV 1000").as("ts_us"), col("event_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
      val paths = firstN.groupBy("user_id")
        .agg(concat_ws(">", transform(
          array_sort(collect_list(struct(col("rn"), col("event_type")))),
          s0 => s0.getField("event_type"))).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_users"))
      TopK.ranked(paths, 10, col("n_users").desc, col("path").asc)
        .select("rank", "path", "n_users")
    }),

    "events_wow" -> ((s, dir) => {
      // week-over-week growth per event type: weekly partial-agg counts,
      // lag over the vocabulary-sized (type, week) frame; growth ratio
      // UNROUNDED (one division of exact ints)
      val week = expr("ts DIV 1000 DIV 604800000000")
      val wk = Tables.events(s, dir)
        .groupBy(col("event_type"), week.as("week"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("week")
      wk.withColumn("prev_n", lag("n", 1).over(w))
        .filter(col("prev_n").isNotNull)
        .select(col("event_type"), col("week"), col("n"), col("prev_n"),
          ((col("n") - col("prev_n")) / col("prev_n")).as("wow"))
    }),

    "hwe_test" -> ((s, dir) => {
      // per-site Hardy–Weinberg chi-square over synthetic genotypes,
      // rolled up per chr; the ×10⁴ integer statistic makes sums and
      // the 3.841 (1 df, α=.05) threshold integer-exact
      val g = (col("l_orderkey") * 13 + col("l_linenumber") * 17) % 10
      val d = Tables.lineitem(s, dir).select(
        (col("l_orderkey") % 5).cast("long").as("chr"),
        ((col("l_orderkey") * 31 + col("l_linenumber") * 7) % 100000)
          .cast("long").as("pos"),
        when(g <= 4, 0).when(g <= 8, 1).otherwise(2).as("gt"))
      val site = d.groupBy("chr", "pos").agg(count(lit(1)).as("n"),
        sum(when(col("gt") === 0, 1).otherwise(0)).as("n0"),
        sum(when(col("gt") === 1, 1).otherwise(0)).as("n1"),
        sum(when(col("gt") === 2, 1).otherwise(0)).as("n2"))
      val p = PopGen.altFreq(col("n"), col("n1"), col("n2"))
      site.filter(p > 0 && p < 1)
        .select(col("chr"),
          PopGen.hweChi4(col("n"), col("n0"), col("n1"), col("n2"))
            .as("chi4"))
        .groupBy("chr").agg(count(lit(1)).as("n_sites"),
          sum(when(col("chi4") > 38410, 1L).otherwise(0L)).as("n_reject"),
          sum("chi4").as("sum_chi4"))
    }),

    "popgen_fst" -> ((s, dir) => {
      // Hudson Fst between two populations (Bhatia 2013 ratio-of-sums),
      // per chr: ONE partial-agg shuffle pivots both pops' genotype
      // counts into a single site row (conditional sums — no
      // site-vs-site join), per-site num/den ×10⁸-rounded to exact
      // longs, summed per chr, ONE final division
      val g = (col("l_orderkey") * 13 + col("l_linenumber") * 17) % 10
      val d = Tables.lineitem(s, dir).select(
        (col("l_orderkey") % 5).cast("long").as("chr"),
        ((col("l_orderkey") * 31 + col("l_linenumber") * 7) % 100000)
          .cast("long").as("pos"),
        (col("l_suppkey") % 2).cast("int").as("pop"),
        when(g <= 4, 0).when(g <= 8, 1).otherwise(2).as("gt"))
      def cnt(pop: Int, gts: Int*) = sum(when(col("pop") === pop &&
        (if (gts.isEmpty) lit(true) else col("gt").isin(gts: _*)), 1L)
        .otherwise(0L))
      val site = d.groupBy("chr", "pos").agg(
        cnt(0).as("na"), cnt(0, 1).as("n1a"), cnt(0, 2).as("n2a"),
        cnt(1).as("nb"), cnt(1, 1).as("n1b"), cnt(1, 2).as("n2b"))
      val p1 = (lit(2.0) * col("n2a") + col("n1a")) / (lit(2.0) * col("na"))
      val p2 = (lit(2.0) * col("n2b") + col("n1b")) / (lit(2.0) * col("nb"))
      val m1 = lit(2.0) * col("na")
      val m2 = lit(2.0) * col("nb")
      site.filter(col("na") > 0 && col("nb") > 0)
        .select(col("chr"),
          PopGen.fstNum8(p1, m1, p2, m2).as("num8"),
          PopGen.fstDen8(p1, p2).as("den8"))
        .filter(col("den8") =!= 0)
        .groupBy("chr").agg(count(lit(1)).as("n_sites"),
          sum("num8").as("sum_num8"), sum("den8").as("sum_den8"))
        .select(col("chr"), col("n_sites"),
          round(lit(10000.0) * col("sum_num8") / col("sum_den8"))
            .cast("long").as("fst_e4"))
    }),

    "ld_prune_step" -> ((s, dir) => {
      // one deterministic LD-pruning round (the plink --indep prefix,
      // under the fixed-round discipline the graph loops use: the full
      // greedy prune is order-sequential per window and ungradable;
      // round 1 — drop every site with ANY earlier site in r² conflict
      // — is deterministic, and repeated rounds converge to the greedy
      // answer): conflicts from the shared ldSitePairs bin-join
      // (window-bounded candidates), prune = one distinct + one
      // anti-join against the variance-filtered site frame; kept-set
      // sum(pos) checksum, not just a count (the bfsHops rule)
      // the bin-join pair frame feeds conflicts AND the site frame
      // (itself read twice: anti-join probe + n_sites rollup) — three
      // plan references, so materialize the aggregate once (guide §2.4)
      val ld = Graphs.materialize(ldSitePairs(s, dir))
      val conflicts = ld
        .filter(PopGen.ldR2e4(col("n"), col("s1"), col("s2"),
          col("s11"), col("s22"), col("s12")) > 2000)
        .select(col("chr"), col("pos2").as("pos")).distinct()
      val sites = ld
        .select(col("chr"), explode(array(col("pos1"), col("pos2")))
          .as("pos")).distinct()
      sites.join(conflicts, Seq("chr", "pos"), "left_anti")
        .groupBy("chr").agg(count(lit(1)).as("n_kept"),
          sum("pos").as("sum_kept_pos"))
        .join(sites.groupBy("chr").agg(count(lit(1)).as("n_sites")),
          "chr")
        .select(col("chr"), col("n_sites"), col("n_kept"),
          (col("n_sites") - col("n_kept")).as("n_pruned"),
          col("sum_kept_pos"))
    }),

    "ld_pairwise" -> ((s, dir) => {
      // pairwise linkage disequilibrium r² between nearby sites (≤ 10 bp,
      // same chr), rolled up per chr: the site-pair domain is bounded by
      // WINDOW density (each site pairs with its ≤10-bp neighbors, never
      // sites²) via the bin-replication trick — see [[ldSitePairs]]
      ldSitePairs(s, dir)
        .select(col("chr"), PopGen.ldR2e4(col("n"), col("s1"), col("s2"),
          col("s11"), col("s22"), col("s12")).as("r2e4"))
        .groupBy("chr").agg(count(lit(1)).as("n_pairs"),
          sum("r2e4").as("sum_r2e4"),
          sum(when(col("r2e4") >= 8000, 1L).otherwise(0L)).as("n_high"))
    }),

    "ld_decay" -> ((s, dir) => {
      // LD decay curve: mean r² per inter-site DISTANCE (1..10 bp) —
      // the population-structure audit read off the same pair frame as
      // ld_pairwise (recombination decorrelates sites with distance;
      // the curve's half-length calibrates tag-SNP/window choices).
      // Same bounded pair derivation ([[ldSitePairs]]); the rollup key
      // is the distance, so the output is ≤ 10 rows and mean_r2e4 is a
      // RATIO OF SUMS of exact longs with ONE final rounded division
      // (the popgen_fst rollup discipline — never a mean of ratios).
      ldSitePairs(s, dir)
        .select((col("pos2") - col("pos1")).as("dist"),
          PopGen.ldR2e4(col("n"), col("s1"), col("s2"),
            col("s11"), col("s22"), col("s12")).as("r2e4"))
        .groupBy("dist").agg(count(lit(1)).as("n_pairs"),
          sum("r2e4").as("sum_r2e4"))
        .select(col("dist"), col("n_pairs"), col("sum_r2e4"),
          round(lit(1.0) * col("sum_r2e4") / col("n_pairs"))
            .cast("long").as("mean_r2e4"))
    }),

    "popgen_sfs" -> ((s, dir) => {
      // FOLDED site-frequency spectrum (THE one-plot popgen summary —
      // neutral equilibrium predicts ∝1/i, bottlenecks flatten it,
      // sweeps skew it; every demographic-inference tool consumes this
      // histogram): per-site alt-allele count AC = Σ dosage and
      // AN = 2·n_samples from ONE partial agg over the shared dosage
      // cells, folded MAC = min(AC, AN−AC), histogram over the
      // sample-bounded MAC domain. Exact integers end to end.
      dosageCells(s, dir)
        .groupBy("chr", "pos")
        .agg(sum("gv").as("ac"), (count(lit(1)) * 2).as("an"))
        .select(least(col("ac"), col("an") - col("ac")).as("mac"))
        .groupBy("mac").agg(count(lit(1)).as("n_sites"))
    }),

    "events_dispersion" -> ((s, dir) => {
      // daily-count dispersion index per event type (variance/mean —
      // the overdispersion screen that decides Poisson vs negative-
      // binomial monitoring thresholds; D ≈ 1 Poisson, D >> 1 bursty):
      // one partial-agg shuffle to the vocabulary-sized (type, day)
      // frame, then D = (n·Σx² − (Σx)²) / ((n−1)·Σx) as a ratio of
      // exact integer moments with ONE rounded ×10⁴ division;
      // single-day types carry no variance and are filtered.
      val dayUs = 86400000000L
      val ts = expr("ts DIV 1000").cast("long")
      Tables.events(s, dir)
        .groupBy(col("event_type"),
          ((ts - pmod(ts, lit(dayUs))) / dayUs).cast("long").as("day"))
        .agg(count(lit(1)).as("x"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum("x").as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .filter(col("n_days") > 1)
        .select(col("event_type"), col("n_days"), col("sx"),
          round(lit(10000.0) *
            (col("n_days") * col("sxx") - col("sx") * col("sx")) /
            ((col("n_days") - 1) * col("sx"))).cast("long")
            .as("dispersion4"))
    }),

    "popgen_pi_windows" -> ((s, dir) => {
      // nucleotide-diversity track: per-site π with the site's OWN
      // call count (π = 2k(M−k)/(M(M−1)), M = 2·n_called — the
      // varying-n per-site estimator, unlike tajima_d's fixed panel),
      // ×10⁸-rounded per site then summed per 100-bp window — the
      // windowed diversity scan a selection screen reads (dips =
      // sweeps); window domain is coordinate-bounded
      val site = dosageCells(s, dir).groupBy("chr", "pos")
        .agg(count(lit(1)).as("n"), sum("gv").as("k"))
        .filter(col("n") >= 2 && col("k") > 0 &&
          col("k") < lit(2L) * col("n"))
      val m = (lit(2L) * col("n")).cast("double")
      site.select(col("chr"),
          (col("pos") - pmod(col("pos"), lit(100L))).divide(100)
            .cast("long").as("win100"),
          round(lit(1.0e8) * (lit(2.0) * col("k") * (m - col("k"))
            / (m * (m - lit(1.0))))).cast("long").as("pi8"))
        .groupBy("chr", "win100").agg(count(lit(1)).as("n_sites"),
          sum("pi8").as("sum_pi8"))
    }),

    "popgen_tajima_d" -> ((s, dir) => {
      // Tajima's D per chromosome (the neutrality test: D ≪ 0 =
      // selective sweep / expansion, D ≫ 0 = balancing selection —
      // the summary the SFS feeds): a FIXED 3-sample panel's fully-
      // called polymorphic sites so M = 2n = 6 is constant and the a/b/c/e
      // constants are shared literals (tajA1..tajE2, interpolated
      // into the oracle too); per-site π ×10⁸-rounded before the
      // order-free per-chr sum, then the one D expression in a
      // pinned literal sequence
      val site = dosageCells(s, dir).filter(col("sample") < 3)
        .groupBy("chr", "pos")
        .agg(count(lit(1)).as("n"), sum("gv").as("k"))
        .filter(col("n") === 3 && col("k") > 0 && col("k") < 6)
      val per = site.select(col("chr"),
        round(lit(1.0e8) * (lit(2.0) * col("k") * (lit(6L) - col("k"))
          / lit(30.0))).cast("long").as("pi8"))
      val agg = per.groupBy("chr").agg(count(lit(1)).as("s_sites"),
        sum("pi8").as("sum_pi8"))
      val sD = col("s_sites").cast("double")
      val num = col("sum_pi8").cast("double") / lit(1.0e8) -
        sD / lit(tajA1)
      val den = sqrt(lit(tajE1) * sD + lit(tajE2) * sD * (sD - lit(1.0)))
      agg.select(col("chr"), col("s_sites"), col("sum_pi8"),
        round(lit(10000.0) * num / den).cast("long").as("d4"))
    }),

    "popgen_ibs" -> ((s, dir) => {
      // pairwise identity-by-state matrix over the 20 samples (the
      // plink --genome relatedness screen: IBS2 = same dosage, IBS1 =
      // one allele apart, IBS0 = opposite homozygotes — duplicate
      // samples and close relatives jump out before any association
      // test): ONE site-keyed self-join of the dosage cells with
      // s1 < s2 — per-site fan-out is bounded by samples² (190 pairs),
      // never sites², and the (s1, s2) rollup is a 190-row frame.
      // Exact integers + one rounded similarity division. At biobank
      // sample counts the pair domain would block by family/batch
      // first — the site-keyed join shape is unchanged.
      val cells = dosageCells(s, dir)
      val a = cells.select(col("chr"), col("pos"),
        col("sample").as("s1"), col("gv").as("g1"))
      val b = cells.select(col("chr"), col("pos"),
        col("sample").as("s2"), col("gv").as("g2"))
      a.join(b, Seq("chr", "pos")).filter(col("s1") < col("s2"))
        .groupBy("s1", "s2").agg(count(lit(1)).as("n_sites"),
          sum(when(abs(col("g1") - col("g2")) === 2, 1L).otherwise(0L))
            .as("n_ibs0"),
          sum(when(abs(col("g1") - col("g2")) === 1, 1L).otherwise(0L))
            .as("n_ibs1"),
          sum(when(col("g1") === col("g2"), 1L).otherwise(0L))
            .as("n_ibs2"))
        .select(col("s1"), col("s2"), col("n_sites"), col("n_ibs0"),
          col("n_ibs1"), col("n_ibs2"),
          round(lit(10000.0) * (col("n_ibs1") + lit(2) * col("n_ibs2"))
            / (lit(2) * col("n_sites"))).cast("long").as("similarity4"))
    }),

    "popgen_inbreeding" -> ((s, dir) => {
      // per-sample method-of-moments inbreeding coefficient F (the
      // plink --het screen) over the shared dosage-cell frame — the
      // per-SAMPLE homozygosity audit next to hwe_test's per-SITE one
      // (PopGen.inbreedingF: sites-bounded agg + co-keyed join +
      // sample agg; per-site ×10⁸ rounding keeps the sums order-free)
      PopGen.inbreedingF(dosageCells(s, dir))
    }),

    "mendel_errors" -> ((s, dir) => {
      // per-trio Mendelian-inconsistency rate (the family-based QC gate
      // every trio cohort runs before association tests; reference
      // adjacency: the same per-sample genotype detail VariantLoad3
      // upserts, audited family-wise): samples 0..17 form 6 (child,
      // father, mother) trios by (sample DIV 3, sample % 3); ONE
      // partial-agg shuffle pivots each trio's three role dosages into
      // a site row (conditional max — [[dosageCells]] is unique per
      // cell), complete-trio filter, then the feasible-interval test
      // (PopGen.mendelConflict) and a trio-sized rollup. Exact integers
      // + one rounded rate division.
      val cells = dosageCells(s, dir).filter(col("sample") < 18)
      val trio = cells
        .groupBy(col("chr"), col("pos"),
          floor(col("sample") / 3).cast("long").as("trio"))
        .agg(count(lit(1)).as("n_roles"),
          max(when(col("sample") % 3 === 0, col("gv"))).as("c"),
          max(when(col("sample") % 3 === 1, col("gv"))).as("f"),
          max(when(col("sample") % 3 === 2, col("gv"))).as("m"))
        .filter(col("n_roles") === 3)
      trio
        .withColumn("err",
          when(PopGen.mendelConflict(col("f"), col("m"), col("c")), 1L)
            .otherwise(0L))
        .groupBy("trio").agg(count(lit(1)).as("n_sites"),
          sum("err").as("n_errors"))
        .select(col("trio"), col("n_sites"), col("n_errors"),
          round(lit(10000.0) * col("n_errors") / col("n_sites"))
            .cast("long").as("err_rate4"))
    }),

    "liftover_positions" -> ((s, dir) => {
      import s.implicits._
      // assembly liftover through REAL UCSC chain-format input: chain
      // TEXT is synthesized deterministically from part (the q26
      // synthesize-then-parse discipline — the actual ChainFile parser
      // runs at scale, exercising multi-block chains with source/target
      // gaps AND negative-strand targets), parsed into ungapped blocks,
      // and DISTINCT variant positions lift with multiplicity through
      // their containing block (the q9 shrink). Overlapping chains
      // resolve to the LOWEST chain id via a PARTIAL-AGGREGABLE
      // min(struct) — map-side combine collapses the overlap before the
      // exchange (a row_number window over the join output shuffled the
      // whole 24M-row frame: 13.9 s → 2.0 s at sf0.1). A '-' strand
      // block lifts to t_first + dir·(pos − s_start) with dir = −1 —
      // the target walks DESCENDING, mirrored term-for-term in the
      // oracle. All exact integers.
      val p = col("p_partkey").cast("long")
      val size1 = lit(20L) + (p * 13) % 30
      val dt1 = lit(1L) + (p * 7) % 10
      val dq1 = (p * 3) % 8
      val size2 = lit(10L) + (p * 11) % 20
      val s0 = (p * 137) % 100000
      val q0 = (p * 7) % 1000000
      val strand = when(p % 3 === 0, "-").otherwise("+")
      val lines = Tables.part(s, dir).select(explode(array(
        concat_ws(" ", lit("chain"), ((p % 1000) + 1).cast("string"),
          concat(lit("chr"), (p % 5).cast("string")), lit("1000000"),
          lit("+"), s0.cast("string"),
          (s0 + size1 + dt1 + size2).cast("string"),
          lit("chrT"), lit("2000000"), strand, q0.cast("string"),
          (q0 + size1 + dq1 + size2).cast("string"), p.cast("string")),
        concat_ws(" ", size1.cast("string"), dt1.cast("string"),
          dq1.cast("string")),
        size2.cast("string"),
        lit(""))).as("line")).as[String]
      val blocks = graft.sources.ChainFile.blocks(lines)
        .select(col("chain_id"), col("s_chr").cast("long").as("chr"),
          col("s_start"), col("s_stop"), col("t_first"), col("dir"))
      val pts = liVariantsSpread(s, dir).groupBy("chr", "pos")
        .agg(count(lit(1)).as("cnt"))
      // binWidth ~ block length (20-50 bases here), NOT the gene-scale
      // 4096: a bin pairs every point in it against every block in it,
      // so an oversized bin multiplies candidates ~40x (measured 3.1 s
      // -> 0.6 s join at sf0.1)
      RangeJoin.joined(pts, blocks, "pos", "s_start", "s_stop",
          keys = Seq("chr"), binWidth = 64)
        .groupBy("chr", "pos")
        .agg(min(struct(col("chain_id"), col("s_start"), col("t_first"),
          col("dir"))).as("c"), max("cnt").as("cnt"))
        .select(col("chr"), col("cnt"),
          (col("c.t_first") + col("c.dir") * (col("pos") - col("c.s_start")))
            .as("tpos"))
        .groupBy("chr")
        .agg(sum("cnt").as("n_mapped"),
          sum(col("tpos") * col("cnt")).as("sum_target"))
    }),

    "roh_runs" -> ((s, dir) => {
      // runs of homozygosity: consecutive hom sites per chr in pos
      // order, run-grouped by the lag/cumsum trick (the sessionize
      // pattern on genomic coordinates), kept at length >= 5; rolled
      // up per chr. One shuffle on chr, windows over pos order.
      val g = (col("l_orderkey") * 13 + col("l_linenumber") * 17) % 10
      val d = Tables.lineitem(s, dir).select(
          (col("l_orderkey") % 5).cast("long").as("chr"),
          ((col("l_orderkey") * 31 + col("l_linenumber") * 7) % 100000)
            .cast("long").as("pos"),
          when(g <= 4, 0).when(g <= 8, 1).otherwise(2).as("gt"))
        .groupBy("chr", "pos")
        // collapse multi-sample sites deterministically: hom iff EVERY
        // call at the site is hom (min/max over the gt codes)
        .agg((min("gt") =!= 1 && max("gt") =!= 1).as("hom"))
      val w = Window.partitionBy("chr").orderBy("pos")
      val runs = d
        .withColumn("brk",
          when(lag(col("hom"), 1).over(w) === col("hom"), 0L).otherwise(1L))
        .withColumn("run_id", sum("brk").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("hom"))
        .groupBy("chr", "run_id")
        .agg(count(lit(1)).as("n_sites"),
          min("pos").as("run_start"), max("pos").as("run_stop"))
        .filter(col("n_sites") >= 5)
      runs.groupBy("chr")
        .agg(count(lit(1)).as("n_runs"), sum("n_sites").as("total_sites"),
          max("n_sites").as("longest"))
    }),

    "feature_winsorize" -> ((s, dir) => {
      // winsorized per-group stats: clip at the exact p05/p95 quantiles
      // (rounded 4 dp once — events_rfm discipline), then exact-integer
      // sums of the clipped values (x100 cents scale) so the aggregate
      // is order-free
      val li = Tables.lineitem(s, dir)
      val b = li.groupBy(col("l_returnflag").as("rf"))
        .agg(round(expr("percentile(l_extendedprice, 0.05)"), 4).as("lo"),
          round(expr("percentile(l_extendedprice, 0.95)"), 4).as("hi"))
      li.join(broadcast(b), col("l_returnflag") === col("rf"))
        .select(col("l_returnflag"),
          round(greatest(least(col("l_extendedprice"), col("hi")),
            col("lo")) * 100).cast("long").as("wc"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("wc").as("sum_wins_c"))
        .select(col("l_returnflag"), col("n"), col("sum_wins_c"),
          (col("sum_wins_c").cast("double") / col("n") / 100.0)
            .as("mean_wins"))
    }),

    "tstv_ratio" -> ((s, dir) => {
      // transition/transversion ratio per chr — the one-number callset
      // sanity check; ratio UNROUNDED (one division of exact ints)
      val v = liVariants(s, dir).filter(col("ref_nuc") =!= col("var_nuc"))
      v.groupBy("chr").agg(
          sum(when(PopGen.isTransition(col("ref_nuc"), col("var_nuc")), 1L)
            .otherwise(0L)).as("n_ts"),
          sum(when(PopGen.isTransition(col("ref_nuc"), col("var_nuc")), 0L)
            .otherwise(1L)).as("n_tv"))
        .withColumn("tstv", col("n_ts") / col("n_tv"))
    }),

    "interval_overlap_join" -> ((s, dir) => {
      // gene×gene overlap pairs (bedtools intersect) via the binned
      // equi-join with the report-once bin rule — no dedup shuffle
      val g = partGenes(s, dir)
      val aSide = g.select(col("chr"), col("gene_id").as("id_a"),
        col("gstart").as("a_start"), col("gstop").as("a_stop"))
      val bSide = g.select(col("chr"), col("gene_id").as("id_b"),
        col("gstart").as("b_start"), col("gstop").as("b_stop"))
      RangeJoin.overlapJoined(aSide, bSide, "a_start", "a_stop",
          "b_start", "b_stop", keys = Seq("chr"), binWidth = 4096)
        .filter(col("id_a") < col("id_b"))
        .groupBy("chr")
        .agg(count(lit(1)).as("n_pairs"),
          sum(least(col("a_stop"), col("b_stop"))
            - greatest(col("a_start"), col("b_start")) + 1)
            .as("total_overlap"))
    }),

    "multimodal_image_dedup" -> ((s, dir) => {
      // perceptual image dedup: BMP decode → 8×8 aHash → pigeonhole-
      // blocked hamming pairs; the oracle re-derives every hash from
      // the pixel formula and brute-forces pairs, so the graded hash
      // validates the whole codec + hash + blocking pipeline
      val imgs = Multimodal.syntheticImages(Tables.documentsSpread(s, dir),
        "doc_id")
      Multimodal.imageNearDupPairs(Multimodal.imageHashes(imgs),
          maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long"))
    }),

    "multimodal_image_entropy" -> ((s, dir) => {
      // per-image luminance-histogram entropy through the REAL BMP
      // pixel walk — the blank/washed-out-frame curation screen; the
      // oracle re-derives EVERY pixel from the synthetic md5 formula,
      // so the graded entropy validates codec + histogram + entropy
      // chain end to end (Multimodal.imageEntropy)
      Multimodal.imageEntropy(
        Multimodal.syntheticImages(Tables.documentsSpread(s, dir), "doc_id"))
    }),

    "multimodal_audio_zcr" -> ((s, dir) => {
      // framed zero-crossing rate over the same synthesized PCM as
      // audio_energy — the speech/music/noise discriminator energy
      // alone can't provide (loud hum vs loud hiss); oracle recomputes
      // every sign flip from the waveform formula
      // (Multimodal.audioZeroCrossings)
      Multimodal.audioZeroCrossings(
        Multimodal.syntheticAudio(Tables.documents(s, dir), "doc_id",
          nSamples = 4000), frameSize = 512).toDF()
    }),

    "multimodal_audio_energy" -> ((s, dir) => {
      // framed RMS energy over REAL synthesized 16-bit PCM WAVs; the
      // oracle recomputes expected energies from the waveform formula,
      // so the graded comparison validates the WAV encode/decode
      // round-trip and framing exactly
      Multimodal.audioEnergy(
        Multimodal.syntheticAudio(Tables.documents(s, dir), "doc_id",
          nSamples = 4000), frameSize = 512).toDF()
    }),

    "interval_merge" -> ((s, dir) => {
      // bedtools-merge: fuse overlapping-or-adjacent gene intervals into
      // maximal disjoint blocks per chromosome (gaps-and-islands —
      // per-chr windows + one partial-agg shuffle on the block key)
      Intervals.mergeIntervals(partGenes(s, dir), Seq("chr"),
        col("gstart"), col("gstop"))
    }),

    "interval_gaps" -> ((s, dir) => {
      // bedtools-complement (within the covered span): the strict gaps
      // between merged blocks per chr — a lead window over the
      // per-chr MERGED frame (bounded: one row per disjoint block,
      // already collapsed by the merge's overlap factor)
      // every 50th gene: the full partGenes set tiles each chr end to
      // end (42x overlap at sf0.1 — zero gaps, a vacuously-green
      // query); the sparse subset leaves real gaps at every SF
      Intervals.gaps(
        partGenes(s, dir).filter(col("gene_id") % 50 === 0), Seq("chr"),
        col("gstart"), col("gstop"))
    }),

    "interval_jaccard" -> ((s, dir) => {
      // bedtools-jaccard between two call sets: |A∩B| / |A∪B| in BASE
      // PAIRS over the MERGED sets (merging first is load-bearing —
      // overlapping raw intervals would double-count intersection
      // mass): gaps-and-islands merge per side, one binned range join
      // between the DISJOINT block sets (candidates bin-bounded),
      // exact integer bp sums + one rounded division per chr
      val o = col("o_orderkey").cast("long")
      val bRaw = Tables.orders(s, dir).select(
        (o % 5).as("chr"),
        ((o * 211) % 100000).as("gstart"),
        ((o * 211) % 100000 + 30 + (o * 53) % 3000).as("gstop"))
      val ma = Intervals.mergeIntervals(partGenes(s, dir), Seq("chr"),
          col("gstart"), col("gstop"))
        .select(col("chr"), col("mstart").as("a_start"),
          col("mstop").as("a_stop"))
      val mb = Intervals.mergeIntervals(bRaw, Seq("chr"),
          col("gstart"), col("gstop"))
        .select(col("chr"), col("mstart").as("b_start"),
          col("mstop").as("b_stop"))
      val inter = RangeJoin.overlapJoined(ma, mb, "a_start", "a_stop",
          "b_start", "b_stop", keys = Seq("chr"), binWidth = 4096)
        .select(col("chr"),
          (least(col("a_stop"), col("b_stop")) -
            greatest(col("a_start"), col("b_start")) + 1L).as("ov"))
        .filter(col("ov") > 0)
        .groupBy("chr").agg(sum("ov").as("inter_bp"))
      val lenA = ma.groupBy("chr")
        .agg(sum(col("a_stop") - col("a_start") + 1L).as("a_bp"))
      val lenB = mb.groupBy("chr")
        .agg(sum(col("b_stop") - col("b_start") + 1L).as("b_bp"))
      lenA.join(lenB, "chr").join(inter, Seq("chr"), "left")
        .select(col("chr"), col("a_bp"), col("b_bp"),
          coalesce(col("inter_bp"), lit(0L)).as("inter_bp"))
        .select(col("chr"), col("a_bp"), col("b_bp"), col("inter_bp"),
          round(lit(10000.0) * col("inter_bp").cast("double") /
            (col("a_bp") + col("b_bp") - col("inter_bp")).cast("double"))
            .cast("long").as("jaccard4"))
    }),

    "sv_reciprocal_overlap" -> ((s, dir) => {
      // structural-variant call-set concordance by 50% RECIPROCAL
      // overlap (bedtools intersect -f 0.5 -r / the truvari matching
      // core): two call sets — genes from part vs a second synthetic
      // caller from orders — pair through the binned range join, then
      // the reciprocal rule 2·ov ≥ len_a AND 2·ov ≥ len_b keeps only
      // size-compatible matches (plain overlap calls a 50 bp hit
      // inside a 5 kb call a match; reciprocal matching is what SV
      // benchmarking actually uses). Exact integers; the per-chr
      // rollup carries the truvari precision/recall inputs (distinct
      // matched calls per side).
      val a = partGenes(s, dir).select(col("chr"),
        col("gene_id").as("id_a"),
        col("gstart").as("a_start"), col("gstop").as("a_stop"))
      val o = col("o_orderkey").cast("long")
      val b = Tables.ordersSpread(s, dir).select(
        (o % 5).as("chr"), o.as("id_b"),
        ((o * 211) % 100000).as("b_start"),
        ((o * 211) % 100000 + 30 + (o * 53) % 3000).as("b_stop"))
      Intervals.reciprocalOverlapPairs(a, b, "a_start", "a_stop",
          "b_start", "b_stop", keys = Seq("chr"), binWidth = 4096,
          num = 1, den = 2)
        .groupBy("chr").agg(count(lit(1)).as("n_pairs"),
          sum("ov").as("sum_ov"),
          countDistinct(col("id_a")).as("n_a_matched"),
          countDistinct(col("id_b")).as("n_b_matched"))
    }),

    "variant_burden" -> ((s, dir) => {
      // rare-variant burden collapse (the SKAT/burden-test input): count
      // QUALIFYING variants per (gene, sample) through the binned range
      // join, then per-gene carrier/burden stats; genes with >= 2
      // carriers survive (the multi-carrier signal threshold)
      val li = Tables.lineitem(s, dir).select(
        concat(lit("S"), (col("l_suppkey") % 4).cast("string")).as("sample"),
        (col("l_orderkey") % 5).cast("long").as("chr"),
        ((col("l_orderkey") * 31 + col("l_linenumber") * 7) % 100000)
          .cast("long").as("pos"),
        VariantF.qualityScore(col("l_quantity").cast("long"),
          (col("l_partkey") % 120).cast("long")).as("quality_score"))
      // pre-aggregate to (chr,pos,sample) BEFORE the gene fan-out: the
      // ~42x interval overlap multiplies whatever enters the range
      // join, so collapse position multiplicity first (the q9
      // discipline — gene identity is needed here, so the segment
      // trick doesn't apply, but the input dedup does)
      val qual = li.filter(col("quality_score") >= 50)
        .groupBy("chr", "pos", "sample").agg(count(lit(1)).as("cnt"))
      RangeJoin.joined(qual, partGenes(s, dir), "pos", "gstart", "gstop",
          Seq("chr"), binWidth = 4096)
        .groupBy("gene_id", "sample").agg(sum("cnt").as("n_var"))
        .groupBy("gene_id").agg(count(lit(1)).as("n_carriers"),
          sum("n_var").as("total_burden"), max("n_var").as("max_burden"))
        .filter(col("n_carriers") >= 2)
    }),

    "sample_reservoir" -> ((s, dir) => {
      // weighted reservoir (Efraimidis-Spirakis A-ES) over documents,
      // weight = n_chars: k largest u^(1/w) ⇔ k SMALLEST −ln(u)/w, as
      // ×10⁶-scaled exact longs (md5-derived u — deterministic draw),
      // selected by TakeOrderedAndProject per-partition heaps
      Curation.weightedReservoir(Tables.documents(s, dir), "doc_id",
        col("n_chars"), k = 100)
    }),

    "text_kn_ppl" -> ((s, dir) => {
      // interpolated Kneser-Ney bigram surprisal (continuation-count
      // backoff, D = 0.75) — the KenLM-smoothing twin of text_bigram_ppl
      TextAnalysis.knBigramSurprisal(Tables.documentsSpread(s, dir), "doc_id",
        "text")
    }),

    "dedup_substr" -> ((s, dir) => {
      // per-doc duplicated-substring coverage (Lee et al. exact-substr
      // dedup signal): stride-25 50-char grams, hashed before the only
      // corpus shuffle; dup_frac = shared-gram fraction per doc
      Dedup.substrDupCoverage(Tables.documents(s, dir), "doc_id", "text")
    }),

    "embed_covariance" -> ((s, dir) => {
      // leading-8-dims covariance matrix (upper triangle) — the
      // pre-whitening redundancy screen; exact ×10⁶/×10¹² scaled-long
      // moments, dims²-bounded output
      Similarity.dimCovariance(Tables.embeddings(s, dir), "embedding",
        dims = 8)
    }),

    "events_cusum" -> ((s, dir) => {
      // one-sided CUSUM drift track per event type (Page 1954) via the
      // cumsum-minus-running-min prefix identity — catches sustained
      // small shifts the per-day z-score test cannot
      EventOps.cusumTrack(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"))
    }),

    "graph_triangles" -> ((s, dir) => {
      // triangle census of the confirmed near-dup graph — the cluster-
      // cohesion audit (triangle-dense neighborhoods are safe for
      // transitive grouping; a wedge-only graph predicts chain
      // over-merge); degree-ordered orientation bounds the wedge join
      Graphs.triangles(docJaccardPairs(s, dir), "id_a", "id_b")
    }),

    "events_entropy" -> ((s, dir) => {
      // per-day Shannon entropy of the event-type mix — the class-
      // balance audit; su4 discipline on the log terms
      EventOps.dailyEntropy(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"))
    }),

    "events_new_vs_returning" -> ((s, dir) => {
      // daily growth accounting: active users split into NEW (first-
      // ever day) vs RETURNING — the DAU decomposition next to
      // events_retention's cohort matrix; the (user, day) distinct
      // frame feeds a user-sized first-seen agg and joins back
      // co-keyed, then a calendar-bounded rollup
      val tsUs = expr("ts DIV 1000").cast("long")
      val day = ((tsUs - pmod(tsUs, lit(86400000000L))) /
        86400000000L).cast("long")
      val ud = Tables.events(s, dir)
        .select(col("user_id"), day.as("day")).distinct()
      val first = ud.groupBy("user_id").agg(min("day").as("first_day"))
      ud.join(first, "user_id")
        .groupBy("day").agg(
          sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
            .as("n_new"),
          sum(when(col("day") > col("first_day"), 1L).otherwise(0L))
            .as("n_returning"))
    }),

    "events_hour_profile" -> ((s, dir) => {
      // hour-of-day load profile per type — the intraday twin of the
      // dow profile; |types|×24 bounded frame, one unrounded division
      EventOps.hourProfile(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"))
    }),

    "events_dow_profile" -> ((s, dir) => {
      // day-of-week seasonal index per event type; idx = n_dow*7/total
      // ships as ONE unrounded division of exact ints
      EventOps.dowProfile(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"))
    }),

    "events_calendar_heatmap" -> ((s, dir) => {
      // dow×hour weekly load grid per type — the two profile axes
      // composed onto 168 cells (cron jobs read as single-cell spikes
      // the marginals can't show); |types|×168 bounded frame, one
      // unrounded division (EventOps.calendarProfile)
      EventOps.calendarProfile(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"))
    }),

    "events_pareto_share" -> ((s, dir) => {
      // top-decile concentration per type ("the top 10% of users
      // produce X% of events") via the userGini value-histogram
      // rank-sum — the only window runs over activity LEVELS, never
      // users; exact under count ties (EventOps.paretoShare)
      EventOps.paretoShare(Tables.events(s, dir), "user_id",
        "event_type")
    }),

    "events_streak_census" -> ((s, dir) => {
      // longest consecutive-active-day streak per user, rolled to a
      // (streak_len, n_users) census — gaps-and-islands with windows
      // partitioned BY USER (EventOps.streakCensus)
      EventOps.streakCensus(Tables.events(s, dir), "user_id",
        expr("ts DIV 1000"))
    }),

    "events_autocorr" -> ((s, dir) => {
      // lag-1..7 autocorrelation of the per-type daily series — the
      // audit that justifies (or debunks) the weekly seasonal queue
      // in events_holt_winters; CALENDAR-DENSIFIED (r14) so gap days
      // correlate as true zeros and lag-7 pairs stay on-weekday;
      // bounded daily frame, lag explode + co-keyed self-join,
      // |types|×7 output (EventOps.dailyAutocorr)
      EventOps.dailyAutocorr(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"))
    }),

    "events_mase" -> ((s, dir) => {
      // the composed forecast skill score (VERDICT r13 item 4): MASE =
      // Holt walk-forward MAE / seasonal-naive lag-7 MAE, both parents'
      // folds over ONE densified daily series in one pass — MASE < 1
      // says the smoother earns its keep vs "same day last week"
      // (EventOps.holtMase)
      EventOps.holtMase(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"), alpha = 0.5, beta = 0.25)
    }),

    "events_user_gini" -> ((s, dir) => {
      // per-type Gini concentration of user activity (whale/bot
      // audit) via the value-histogram rank-sum identity — integer-
      // exact, and the only window runs over the distinct-count-value
      // histogram, never a per-user ranking (EventOps.userGini)
      EventOps.userGini(Tables.events(s, dir), "user_id", "event_type")
    }),

    "events_ab_test" -> ((s, dir) => {
      // two-proportion z-test over the md5-parity user split,
      // conversion = ≥1 purchase; unrounded z via a pinned SE chain
      EventOps.abTestConversion(Tables.events(s, dir), "user_id",
        "event_type", "purchase")
    }),

    "text_chi2_terms" -> ((s, dir) => {
      // χ² term–class feature selection (class: lang = 'en'), top-50
      // by the unrounded statistic via TopK.ranked
      TextAnalysis.chi2Terms(Tables.documents(s, dir), "doc_id", "text",
        col("lang") === "en", minDf = 5L, k = 50)
    }),

    "bloom_fpr_audit" -> ((s, dir) => {
      // is the 8 KB filter performing to spec, or saturated and due a
      // bigger m? measured key-level FPR vs the occupancy-based
      // (s/m)^k expectation — integer-exact (s³ fits a long), no
      // exp/pow cross-engine risk (BloomJoin.fprAudit); same
      // BUILDING-customer filter as bloom_prefilter
      BloomJoin.fprAudit(Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "BUILDING"), "c_custkey")
    }),

    "bloom_prefilter" -> ((s, dir) => {
      // md5-derived Bloom runtime filter: build from BUILDING-segment
      // customers, probe every orders key, tally candidates vs truth
      // (n_missed pinned 0 — Bloom filters have no false negatives)
      BloomJoin.prefilterStats(Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "BUILDING"), "c_custkey")
    }),

    "sketch_cms_topk" -> ((s, dir) => {
      // Count–Min heavy hitters over the token stream: 3×4096 grid from
      // md5 windows, est = min over rows, audited vs the exact count
      // (over = est − cnt ≥ 0 structurally — CMS never under-counts)
      val toks = Tables.documents(s, dir)
        .select(explode(split(graft.operators.Dedup.normText(col("text")),
          " ")).as("term"))
        .filter(length(col("term")) > 0)
      Sketches.cmsTopK(toks, "term", 20)
    }),

    "sketch_hll_distinct" -> ((s, dir) => {
      // HLL distinct users per event type, audited vs the exact count:
      // 4096 md5-indexed registers, rho via bin()-length (no float
      // log), exact dyadic register sum, 4 dp estimate
      Sketches.hllDistinct(Tables.events(s, dir), "event_type", "user_id")
    }),

    "sketch_kmv_setops" -> ((s, dir) => {
      // KMV sketch union/intersection of the click and purchase user
      // sets, audited vs exact — mergeable distinct-count set algebra,
      // libm-free (exact dyadic uniforms, single pinned divisions)
      Sketches.kmvSetOps(Tables.events(s, dir), "event_type", "user_id",
        "click", "purchase")
    }),

    "sketch_quantiles" -> ((s, dir) => {
      // mergeable order-statistic sketch: per-type value quantiles from
      // the bottom-1024 rows by md5(event_id) uniform, audited vs the
      // exact nearest-rank quantiles — the GRADED twin of the
      // engine-native Sketches.eventProfile (whose KLL no oracle can replay);
      // estimates are raw data values, so the compare is bit-exact
      Sketches.kmvQuantiles(Tables.events(s, dir), "event_type",
        "event_id", "value", Seq(0.5, 0.95, 0.99))
    }),

    "multimodal_image_resize" -> ((s, dir) => {
      // nearest-neighbor 16×16 → 8×8 through the REAL BMP codec; the
      // oracle rebuilds the ENTIRE output file hex arithmetically
      // (patched 54-byte header + file-order pixel rows: file row y
      // samples input image row 15−2y — bottom-up rows make the
      // resample bottom-anchored in image space) so every byte of
      // decode → resample → re-encode is graded. r14 (VERDICT r13
      // item 7): the synthesis now carries two QUARANTINE arms — a
      // JPEG header (id%7=5) and an 8-bit BMP (id%7=6) — which must
      // pass through byte-identical with resized=false; the oracle
      // grades their hex as literals of the same fixture constants
      Multimodal.resizeImagesTagged(
        Multimodal.syntheticImagesMixed(
          Tables.documents(s, dir).select("doc_id"), "doc_id"), 8, 8)
        .select(col("media_id"), col("resized"),
          lower(hex(col("payload"))).as("bmp_hex"))
    }),

    "multimodal_frame_sample" -> ((s, dir) => {
      // every-2nd-frame sampling through the REAL RIFF/AVI walk
      // (MediaCodec.aviFrameRanges): the synthetic frames are md5
      // digests, so md5(frame bytes) equals the generator's hex only
      // if the parser's byte offsets are exactly right — the oracle
      // re-derives the sampled grid arithmetically (every id%3==2
      // video has 3 frames; every-2 sampling keeps 0 and 2)
      Multimodal.sampleFrames(
        Multimodal.syntheticMedia(
          Tables.documents(s, dir).select("doc_id"), "doc_id"),
        everyN = 2)
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          lower(hex(col("frame"))).as("frame_hex"))
    }),

    "multimodal_audio_vad" -> ((s, dir) => {
      // voice-activity segments over the synthesized PCM WAVs: active
      // iff sum_sq > n·334000 (E[s²] of the ±1001 uniform waveform ≈
      // 334334, so frames split near half), islands → segments; the
      // oracle re-derives frame energies from the waveform formula and
      // runs the same islands SQL
      Multimodal.audioVad(
        Multimodal.syntheticAudio(Tables.documents(s, dir), "doc_id",
          nSamples = 4000), frameSize = 512, threshold = 334000L)
    }),

    "multimodal_scene_cut" -> ((s, dir) => {
      // shot-boundary detection through the REAL RIFF/AVI walk: total
      // absolute byte delta between consecutive frames, cut when
      // > 1360 (16 random bytes' expected total |diff| is ~85.3·16 ≈
      // 1365, so the synthetic md5 frames split near half); the oracle
      // re-derives every frame byte from the md5 hex formula, so the
      // graded compare proves the container offsets AND the delta
      // arithmetic
      // r14 (VERDICT r13 item 7): the video synthesis now carries two
      // QUARANTINE arms — a truncated RIFF (id%3=0) and an MP4 ftyp box
      // (id%3=1) — and the tagged variant emits one decoded=false row
      // per unindexable video instead of silently dropping it; the
      // valid arm (id%3=2) keeps the exact syntheticMedia AVI formula
      Multimodal.sceneCutsTagged(
        Multimodal.syntheticVideosMixed(
          Tables.documents(s, dir).select("doc_id"), "doc_id"),
        threshold = 1360L)
    }),

    "popgen_grm" -> ((s, dir) => {
      // VanRaden GRM entries per sample pair (the mixed-model GWAS
      // kinship input next to popgen_king's robust classes): centered
      // dosages rounded ×10⁴ per cell, denominator 2p(1−p) rounded
      // ×10⁸ per site — both pairwise sums order-free exact longs,
      // one final division (PopGen.grmPairs)
      PopGen.grmPairs(dosageCells(s, dir))
    }),

    "events_lifetable" -> ((s, dir) => {
      // actuarial life table over user lifetimes: last-day-at-cutoff
      // = right-censored, discrete hazard ×10⁸ per duration; the KM
      // frame without the one non-order-free float product
      // (EventOps.lifeTable)
      EventOps.lifeTable(Tables.events(s, dir), "user_id",
        expr("ts DIV 1000"))
    }),

    "graph_clustering_coeff" -> ((s, dir) => {
      // per-degree local clustering profile (Watts-Strogatz cc =
      // closed/possible wedges per node) over the near-dup graph: the
      // node-level read under graph_triangles' census — low-cc
      // high-degree rows are the bridge docs that chain-merge
      // clusters (Graphs.localClustering; deg < 2 undefined, excluded)
      val lc = Graphs.localClustering(docJaccardPairs(s, dir),
        "id_a", "id_b")
      lc.select(col("deg"), col("tri"),
          round(lit(10000.0) * lit(2.0) * col("tri") /
            (col("deg") * (col("deg") - lit(1L))))
            .cast("long").as("cc4"))
        .groupBy("deg").agg(count(lit(1)).as("n_nodes"),
          sum("tri").as("tri_inc"),
          round(sum("cc4").cast("double") /
            count(lit(1)).cast("double")).cast("long").as("avg_cc4"))
    }),

    "text_textrank" -> ((s, dir) => {
      // TextRank keywords (Mihalcea & Tarau 2004): unweighted
      // co-occurrence graph over ADJACENT normalized tokens, 3 fixed
      // PageRank rounds with the ×10¹² order-free contribution idiom
      // (the graph_pagerank dataflow on a word graph), top 25 by
      // (pr desc, word) — every frame vocabulary-sized after the one
      // bigram explode
      val bg = Tables.documentsSpread(s, dir).select(
          explode(TextAnalysis.wordBigrams(col("text"))).as("bg"))
        .select(substring_index(col("bg"), " ", 1).as("wa"),
          substring_index(col("bg"), " ", -1).as("wb"))
        .filter(col("wa") =!= col("wb") &&
          length(col("wa")) > 0 && length(col("wb")) > 0)
      // the ONE corpus-sized step (explode + distinct shuffle); cut
      // here so the degree/node aggs and all three rounds read the
      // vocabulary-sized pair frame, not five re-reads of the
      // corpus-explode exchange
      val und = Graphs.materialize(
        bg.select(least(col("wa"), col("wb")).as("u"),
          greatest(col("wa"), col("wb")).as("v")).distinct())
      val edges = und.select(col("u").as("src"), col("v").as("dst"))
        .union(und.select(col("v").as("src"), col("u").as("dst")))
      TopK.ranked(Graphs.pagerank(edges, "src", "dst", iterations = 3),
          25, col("pr").desc, col("id").asc)
        .select(col("rank"), col("id").as("word"), col("pr"))
    }),

    "graph_conductance" -> ((s, dir) => {
      // per-community conductance over the 3-round LPA labels — the
      // cut-quality audit dual to graph_modularity's global score:
      // φ(c) = cut/min(vol, 2m−vol), low φ = well-separated, φ → 1 =
      // mostly boundary (Graphs.conductance; NULL when the complement
      // has zero volume)
      // pairs feeds BOTH the LPA rounds and the conductance audit —
      // materialize once (the graph_modularity treatment)
      val pairs = Graphs.materialize(docJaccardPairs(s, dir))
      val labels = Graphs.labelPropagation(bothDirs(pairs), "src", "dst",
        iterations = 3)
      Graphs.conductance(pairs, "id_a", "id_b", labels)
    }),

    "graph_community_audit" -> ((s, dir) => {
      // the materialize-once production composition (VERDICT r12 item
      // 2): pair graph derived ONCE, LPA labels computed ONCE, then
      // global modularity + per-community conductance + the size
      // census all read the same two materialized frames
      // (PairGraph.communityAudit) — the shape a 100 TB caller runs
      // instead of three standalone re-derivations
      PairGraph.communityAudit(docJaccardPairs(s, dir), "id_a", "id_b",
        iterations = 3)
    }),

    "text_simpson" -> ((s, dir) => {
      // Simpson lexical diversity per source: P(two tokens drawn
      // without replacement are the same word) — exact integer
      // numerator/denominator, one rounded division; high = templated
      // or repetitive feed (TextAnalysis.simpsonDiversity)
      TextAnalysis.simpsonDiversity(Tables.documents(s, dir),
        "source", "text")
    }),

    "text_compression_proxy" -> ((s, dir) => {
      // per-source compressibility proxy: distinct 3-shingles / total
      // 3-shingle occurrences (a gzip-ratio stand-in with no codec —
      // the character-level twin of text_simpson's token view; a
      // template farm reads low because the same trigrams repeat
      // across docs). Totals are ARITHMETIC (Σ max(len−2, 0) — no
      // explode); only the distinct count pays the corpus-sized
      // shingle shuffle, map-side combined onto (source, sh). Exact
      // longs, one rounded division.
      val d = Tables.documents(s, dir)
        .select(col("source"), Dedup.normText(col("text")).as("t"))
      val totals = d.groupBy("source").agg(
        sum(greatest(length(col("t")) - 2, lit(0)).cast("long"))
          .as("n_trigrams"))
      val distincts = d.filter(length(col("t")) >= 3)
        .select(col("source"), explode(expr(
          "transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))"))
          .as("sh"))
        .distinct()
        .groupBy("source").agg(count(lit(1)).as("n_distinct"))
      totals.join(distincts, Seq("source"), "left")
        .select(col("source"), col("n_trigrams"),
          coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
          when(col("n_trigrams") > 0,
            round(lit(10000.0) * coalesce(col("n_distinct"), lit(0L))
              .cast("double") / col("n_trigrams").cast("double"))
              .cast("long")).as("ratio4"))
    }),

    "dna_cpg_oe" -> ((s, dir) => {
      // CpG observed/expected ratio per derived sequence with the
      // Gardiner-Garden 1987 island criteria (obs/exp ≥ 0.6 AND
      // GC ≥ 50%) as ALL-INTEGER comparisons — CpG depletion is the
      // methylation signature, islands mark promoters; the screen
      // beside dna_gc_windows' composition track. n_cg via
      // non-overlapping replace-erase (CG cannot self-overlap),
      // n_c/n_g via translate-erase — zero-shuffle scan, no explode.
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), docDna.as("seq"))
      val len = length(col("seq")).cast("long")
      val nCg = ((length(col("seq"))
        - length(expr("replace(seq, 'CG', '')"))) / 2).cast("long")
      val nC = (length(col("seq"))
        - length(translate(col("seq"), "C", ""))).cast("long")
      val nG = (length(col("seq"))
        - length(translate(col("seq"), "G", ""))).cast("long")
      d.select(col("doc_id"), len.as("len"), nCg.as("n_cg"),
          nC.as("n_c"), nG.as("n_g"))
        .withColumn("oe4", when(col("n_c") > 0 && col("n_g") > 0,
          round(lit(10000.0) * (col("n_cg") * col("len")).cast("double")
            / (col("n_c") * col("n_g")).cast("double")).cast("long")))
        .withColumn("island",
          col("n_c") > 0 && col("n_g") > 0 &&
          col("n_cg") * col("len") * 10 >= col("n_c") * col("n_g") * 6 &&
          (col("n_c") + col("n_g")) * 2 >= col("len"))
    }),

    "embed_norm_outliers" -> ((s, dir) => {
      // per-label embedding-norm outlier census (the cheap corruption
      // screen before any ANN build: a batch of near-zero or exploded
      // norms is a failed encoder run, caught per label before cosine
      // hides it): norms ×10⁴-round to exact longs so the moment sums
      // are order-free; the 2σ flag is the ALL-INTEGER comparison
      // (n·x − S)² > 4·(n·SS − S²) evaluated in decimal(38) — Spark
      // decimal vs DuckDB hugeint, both exact, no float boundary.
      val e = Tables.embeddings(s, dir).select(col("label"),
        round(Similarity.norm(col("embedding")) * 10000).cast("long")
          .as("x4"))
      val stats = e.groupBy("label").agg(
        count(lit(1)).as("n"), sum("x4").as("s"),
        sum(col("x4") * col("x4")).as("ss"))
      // n·x−S fits a long (≤ 2e10 at graded scales); the SQUARES and
      // n·SS − S² do not — promote to decimal(38) BEFORE multiplying
      // (the embed_dim_variance overflow lesson; DuckDB runs the same
      // chain in HUGEINT)
      def dec(c: Column) = c.cast("decimal(38,0)")
      val dev = dec(col("n") * col("x4") - col("s"))
      val varTerm = dec(col("n")) * dec(col("ss")) - dec(col("s")) * dec(col("s"))
      e.join(broadcast(stats), "label")
        .select(col("label"), col("n"), col("s"),
          when(dev * dev > varTerm * 4, 1L).otherwise(0L).as("flag"))
        .groupBy("label").agg(
          first("n").as("n"), first("s").as("sum_norm4"),
          sum("flag").as("n_outliers"))
    }),

    "embed_ivf_balance" -> ((s, dir) => {
      // IVF inverted-list load audit over the fixed quantizer the ANN
      // family shares: load4 = count·numC/total ×10⁴ per list, empty
      // lists emitted as zero rows (dead centroids are the finding) —
      // the sizing feedback loop next to ann_recall_audit's quality one
      Similarity.ivfListBalance(Tables.embeddings(s, dir),
        "vec_id", "embedding", Similarity.ivfQuantizer(16, 64))
    }),

    "dna_minimizers" -> ((s, dir) => {
      // (w=8, k=5)-minimizer selection density per derived DNA
      // sequence (the minimap2/Kraken2 sampling scheme; winnowing's
      // genomic twin): density6 vs the ~2/(w+1) expectation flags
      // repetitive composition under-sampling (Sketches.minimizers)
      Sketches.minimizers(
          Tables.documents(s, dir).select(col("doc_id"), docDna.as("dna")),
          "doc_id", "dna", k = 5, w = 8)
        .select(col("id").as("doc_id"), col("n_windows"),
          col("n_minimizers"), col("density6"))
    }),

    "events_burstiness" -> ((s, dir) => {
      // Goh-Barabási burstiness of same-user inter-event gaps per
      // type: B = (σ−μ)/(σ+μ) over integer-minute gaps — periodic
      // bots read B ≪ 0, human bursts B > 0; the temporal half of the
      // whale/bot audit next to events_user_gini (EventOps.burstiness)
      EventOps.burstiness(Tables.events(s, dir), "event_type",
        "user_id", expr("ts DIV 1000"))
    }),

    "popgen_pca_step" -> ((s, dir) => {
      // one power-iteration step on the quantized GRM — the first move
      // of a kinship PCA (the top eigenvector IS the leading ancestry
      // axis a mixed model corrects for); matrix entries are the
      // ×10⁴-rounded longs popgen_grm grades, start vector md5-parity
      // ±1, so the matvec is an exact-long sum (PopGen.grmPowerStep)
      PopGen.grmPowerStep(dosageCells(s, dir))
    }),

    "events_trend_mk" -> ((s, dir) => {
      // Mann-Kendall monotone-trend test per type over daily counts:
      // exact-integer S and tie-corrected variance numerator, the
      // normal-approximation z in one pinned double sequence — the
      // significance audit under the holt smoothing family
      // (EventOps.mannKendall)
      EventOps.mannKendall(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"))
    }),

    "events_session_stats" -> ((s, dir) => {
      // session-size profile over q20's 30-min-gap sessionization:
      // per n_events bucket the session count and mean duration —
      // the engagement-distribution readout a funnel can't show
      Sessionize.sessions(Tables.events(s, dir), "user_id",
          expr("ts DIV 1000000000"), col("event_id"), gapSec = 1800)
        .groupBy("n_events").agg(
          count(lit(1)).as("n_sessions"),
          sum(col("sess_end") - col("sess_start")).as("sum_dur_sec"))
        .select(col("n_events"), col("n_sessions"), col("sum_dur_sec"),
          round(lit(10000.0) * col("sum_dur_sec").cast("double") /
            col("n_sessions").cast("double")).cast("long")
            .as("avg_dur4"))
    }),

    "dedup_cluster_sizes" -> ((s, dir) => {
      // component-size census over the transitive dedup groups — the
      // distribution that sizes the dedup risk (a fat tail says the
      // near-dup graph chains clusters; the summary dedup_groups'
      // per-doc assignment carries but doesn't show)
      Dedup.connectedComponents(docJaccardPairs(s, dir),
          Tables.documents(s, dir), "doc_id")
        .groupBy("group_id").agg(count(lit(1)).as("gsize"))
        .groupBy("gsize").agg(count(lit(1)).as("n_groups"))
    }),

    "dna_seq_entropy" -> ((s, dir) => {
      // per-sequence base-composition Shannon entropy — the DUST-style
      // low-complexity screen (repeat-masking candidates score low;
      // the sequence-side twin of events_entropy's class-balance
      // audit): four translate-erase counts (exact, no explode), one
      // su4 log term per base in the identical literal sequence both
      // engines evaluate, summed as exact longs; zero-shuffle scan
      val d = Tables.documents(s, dir).select(col("doc_id"),
        docDna.as("seq"))
      val len = length(col("seq")).cast("long")
      def cnt(b: String) =
        (length(col("seq")) - length(translate(col("seq"), b, "")))
          .cast("long")
      def t4(c: Column) = {
        val p = c.cast("double") / col("len").cast("double")
        when(c > 0, round(p * round(log2(p), 4) * lit(-10000.0))
          .cast("long")).otherwise(0L)
      }
      d.select(col("doc_id"), len.as("len"), cnt("A").as("n_a"),
          cnt("C").as("n_c"), cnt("G").as("n_g"), cnt("T").as("n_t"))
        .select(col("doc_id"), col("len"), col("n_a"), col("n_c"),
          col("n_g"), col("n_t"),
          ((col("n_a") > 0).cast("long") + (col("n_c") > 0).cast("long") +
            (col("n_g") > 0).cast("long") + (col("n_t") > 0).cast("long"))
            .as("n_distinct"),
          (t4(col("n_a")) + t4(col("n_c")) + t4(col("n_g")) +
            t4(col("n_t"))).as("entropy4"))
    }),

    "text_readability" -> ((s, dir) => {
      // Flesch reading ease + FK grade per doc (word-salad spam and
      // boilerplate legalese both live at the extremes): exact
      // word/sentence/vowel-group counts, the two formulas as the only
      // float steps, one pinned sequence each (TextAnalysis.readability)
      TextAnalysis.readability(Tables.documents(s, dir), "doc_id",
        "text")
    }),

    "text_code_detect" -> ((s, dir) => {
      // prose-vs-code curation gate: code-punctuation density +
      // \b-bounded keyword hits (the native count kernel), thresholds
      // documented on the flag — the signals are the contract
      // (TextAnalysis.codeSignals)
      TextAnalysis.codeSignals(Tables.documents(s, dir), "doc_id",
        "text")
    }),

    "text_hapax" -> ((s, dir) => {
      // hapax legomenon census per source — the Zipf-tail audit next
      // to text_zipf's head fit and text_simpson's diversity index:
      // rate toward 0 = templated feed, toward 1 = OCR/ID noise
      // (TextAnalysis.hapaxStats)
      TextAnalysis.hapaxStats(Tables.documents(s, dir), "source",
        "text")
    }),

    "variant_context96" -> ((s, dir) => {
      // 96-class trinucleotide mutation-context census (the COSMIC
      // mutational-signature input, Alexandrov et al. 2013): SNVs on
      // the SQL-reproducible Md5Genome — ref IS the genome base at
      // pos, alt a deterministic rotation, context the flanking
      // bases; pyrimidine-normalized (A/G refs revcomp the triplet)
      // so the domain is 6 substitutions × 16 contexts; zero-shuffle
      // scan + one ≤96-row agg
      def base(chr: Column, pos: Column): Column =
        translate(substring(md5(concat(chr.cast("string"), lit(":"),
          pos.cast("string"))), 1, 1),
          "0123456789abcdef", "ACGTACGTACGTACGT")
      def comp(x: Column): Column = translate(x, "ACGT", "TGCA")
      val li = Tables.lineitemSpread(s, dir).select(
        (col("l_orderkey") % 5).cast("long").as("chr"),
        ((col("l_orderkey") * 31 + col("l_linenumber") * 7) % 100000)
          .cast("long").as("pos"),
        (col("l_suppkey") % 3 + 1).cast("int").as("rot"))
      val v = li.filter(col("pos") >= 1).select(
          col("chr"), col("pos"), col("rot"),
          base(col("chr"), col("pos")).as("ref"),
          base(col("chr"), col("pos") - 1).as("lb"),
          base(col("chr"), col("pos") + 1).as("rb"))
        .withColumn("alt",
          when(col("rot") === 1, translate(col("ref"), "ACGT", "CGTA"))
            .when(col("rot") === 2, translate(col("ref"), "ACGT", "GTAC"))
            .otherwise(translate(col("ref"), "ACGT", "TACG")))
        .select(col("chr"), col("pos"), col("ref"), col("alt"),
          col("lb"), col("rb")).distinct()
      val isPyr = col("ref").isin("C", "T")
      v.select(
          when(isPyr, concat(col("ref"), lit(">"), col("alt")))
            .otherwise(concat(comp(col("ref")), lit(">"),
              comp(col("alt")))).as("subst"),
          when(isPyr, concat(col("lb"), col("ref"), col("rb")))
            .otherwise(concat(comp(col("rb")), comp(col("ref")),
              comp(col("lb")))).as("context"))
        .groupBy("subst", "context").agg(count(lit(1)).as("n"))
    }),

    "events_dau_mau" -> ((s, dir) => {
      // DAU/MAU stickiness per day — trailing-30-day distinct actives
      // via the coverage-explode shape (a sliding count-distinct has
      // no partial-agg form; the ×30 bounded explode + distinct IS the
      // exact scalable formulation) (EventOps.dauMau)
      EventOps.dauMau(Tables.events(s, dir), "user_id",
        expr("ts DIV 1000"))
    }),

    "popgen_missingness" -> ((s, dir) => {
      // per-sample call rate (plink --missing; the per-SAMPLE
      // completeness audit next to popgen_inbreeding's per-sample
      // homozygosity one): called cells vs the cohort site count,
      // exact ints + one rounded division
      val cells = dosageCells(s, dir)
      val sites = broadcast(cells.select("chr", "pos").distinct()
        .agg(count(lit(1)).as("n_sites")))
      cells.groupBy("sample").agg(count(lit(1)).as("n_called"))
        .crossJoin(sites)
        .select(col("sample"), col("n_called"), col("n_sites"),
          round(lit(10000.0) * col("n_called").cast("double") /
            col("n_sites").cast("double")).cast("long").as("call_rate4"))
    }),

    "interval_n50" -> ((s, dir) => {
      // N50/L50 assembly-style length census over the part-gene
      // interval set (the one-number length-distribution summary every
      // assembler reports): everything runs on the bounded length
      // HISTOGRAM — bounded self-join for the sum-from-above, argmax
      // crossing row, exact integer ceil-div for L50's partial bucket
      // (Intervals.n50Stats)
      val g = partGenes(s, dir)
      Intervals.n50Stats(
        g.select((col("gstop") - col("gstart") + 1L).as("len")), "len")
    }),

    "multimodal_audio_stats" -> ((s, dir) => {
      // sox-stats waveform QC per clip: DC offset (broken-mic audit),
      // peak, crest factor peak/RMS (limiter-squash audit) — exact
      // integer sums from the WAV decode kernel, the two ratios
      // derived column-side with one pinned sequence each
      // (Multimodal.audioStats)
      val st = Multimodal.audioStats(
        Multimodal.syntheticAudio(Tables.documents(s, dir), "doc_id",
          nSamples = 4000)).toDF()
      st.select(col("media_id"), col("n_samples").cast("long").as("n_samples"),
        col("sum_s"), col("sum_sq"), col("peak").cast("long").as("peak"),
        round(lit(10000.0) * col("sum_s").cast("double") /
          col("n_samples").cast("double")).cast("long").as("mean4"),
        when(col("sum_sq") > 0,
          round(lit(10000.0) * col("peak").cast("double") /
            sqrt(col("sum_sq").cast("double") /
              col("n_samples").cast("double"))).cast("long")).as("crest4"))
    }),

    "fastq_read_stats" -> ((s, dir) => {
      // per-read QC through the REAL 4-line FASTQ record assembly (the
      // synthesize-then-parse discipline: lines synthesize from the
      // md5 formulas, sources.Fastq.parse reassembles records, the
      // oracle re-derives the stats from the formulas directly — so
      // the graded comparison validates the record grouping + gates):
      // read length, GC count (translate-erase, no explode), exact
      // Phred sum + mean
      val qualAlphabet = "ABCDEFGHIJKLMNOP" // Phred 32..47 at offset 33
      val d = Tables.documents(s, dir).select(col("doc_id"),
        docDna.as("seq"),
        translate(md5(col("text")), "0123456789abcdef", qualAlphabet)
          .as("qual"))
      val lines = d.select(col("doc_id"), explode(array(
          struct(lit(0L).as("f"), concat(lit("@r"),
            col("doc_id").cast("string")).as("t")),
          struct(lit(1L).as("f"), col("seq").as("t")),
          struct(lit(2L).as("f"), lit("+").as("t")),
          struct(lit(3L).as("f"), col("qual").as("t")))).as("l"))
        .select((col("doc_id") * 4 + col("l.f")).as("line_no"),
          col("l.t").as("text"))
      graft.sources.Fastq.parse(lines, "line_no", "text")
        .select(col("read_id"),
          length(col("seq")).cast("long").as("read_len"),
          (length(col("seq")) -
            length(translate(col("seq"), "GC", ""))).cast("long")
            .as("gc_n"),
          expr("aggregate(split(qual, ''), 0L," +
            " (acc, c) -> acc + (ascii(c) - 33))").as("sum_q"))
        .withColumn("mean_q4",
          round(lit(10000.0) * col("sum_q").cast("double") /
            col("read_len").cast("double")).cast("long"))
    }),

    "events_attribution" -> ((s, dir) => {
      // last-touch attribution: each purchase credits the user's most
      // recent non-purchase event AT-OR-BEFORE it (the as-of join
      // applied to marketing analytics), 7-day lookback, simultaneous
      // touches deterministically collapse to the max channel; the
      // unattributed bucket is a first-class row
      val ev = Tables.events(s, dir).select(col("user_id"),
        col("event_type"), expr("ts DIV 1000").as("us"))
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us"))
      val touch = ev.filter(col("event_type") =!= "purchase")
        .groupBy(col("user_id"), col("us").as("tus"))
        .agg(max("event_type").as("channel"))
      val j = EventOps.asOfJoin(conv, touch, "user_id",
        col("us"), col("tus"), Seq("channel"))
      val horizon = 7L * 86400000000L
      val byChannel = j.select(when(col("asof_ts").isNotNull &&
            col("us") - col("asof_ts") <= horizon, col("asof_channel"))
          .otherwise(lit("unattributed")).as("channel"))
        .groupBy("channel").agg(count(lit(1)).as("n_conversions"))
      byChannel
        .crossJoin(broadcast(byChannel.agg(
          sum("n_conversions").as("__tot"))))
        .select(col("channel"), col("n_conversions"),
          round(lit(10000.0) * col("n_conversions").cast("double") /
            col("__tot").cast("double")).cast("long").as("share4"))
    }),

    "dedup_keep_best" -> ((s, dir) => {
      // keep-one-per-group POLICY over the transitive dedup groups:
      // keep the LONGEST doc (ties to smaller id) — the curation
      // decision dedup_groups' assignment feeds; emits every doc with
      // its keep flag so the filter is auditable
      val docs = Tables.documents(s, dir)
      val groups = Dedup.connectedComponents(docJaccardPairs(s, dir),
        docs, "doc_id")
      val g = groups.join(docs.select(col("doc_id").as("id"),
        col("n_chars")), "id")
      val best = g.groupBy("group_id")
        .agg(min(struct((-col("n_chars")).as("neg"), col("id").as("id")))
          .as("__b"))
        .select(col("group_id"), col("__b.id").as("keep_id"))
      g.join(best, "group_id")
        .select(col("id").as("doc_id"), col("group_id"),
          when(col("id") === col("keep_id"), 1L).otherwise(0L).as("keep"))
    }),

    "vcf_norm_split" -> ((s, dir) => {
      // bcftools-norm core: split multi-allelic records (one row per
      // ALT) and trim each pair to parsimonious form — suffix first,
      // then prefix advancing pos, while both alleles keep length > 1
      // (VcfNorm.splitAndTrim; the pass that makes ACG>AC,A and CG>C
      // merge as the same deletion instead of double-loading)
      def base(chr: Column, pos: Column): Column =
        translate(substring(md5(concat(chr.cast("string"), lit(":"),
          pos.cast("string"))), 1, 1),
          "0123456789abcdef", "ACGTACGTACGTACGT")
      val li = Tables.lineitemSpread(s, dir).select(
          (col("l_orderkey") % 5).cast("long").as("chr"),
          ((col("l_orderkey") * 31 + col("l_linenumber") * 7) % 100000)
            .cast("long").as("pos"),
          (col("l_suppkey") % 3).cast("int").as("c"))
        .filter(col("pos") >= 1)
      val wb = li.select(col("chr"), col("pos"), col("c"),
        base(col("chr"), col("pos")).as("r1"),
        base(col("chr"), col("pos") + 1).as("r2"),
        base(col("chr"), col("pos") + 2).as("r3"))
      val v = wb.select(col("chr"), col("pos"),
        concat(col("r1"), col("r2"), col("r3")).as("ref"),
        when(col("c") === 0, array(col("r1")))
          .when(col("c") === 1,
            array(concat(col("r1"), col("r2")), col("r1")))
          .otherwise(array(concat(col("r1"), col("r2"),
            translate(col("r3"), "ACGT", "CGTA")))).as("alts"))
      VcfNorm.splitAndTrim(v).toDF()
        .select(col("chr"), col("pos"), col("ref"), col("alt"),
          col("allele_idx").cast("long").as("allele_idx"),
          col("n_alts").cast("long").as("n_alts"))
    }),

    "interval_closest" -> ((s, dir) => {
      // bedtools closest -d for the SV call set: nearest part gene
      // within 500 bp per orders-derived call (distance 0 on overlap,
      // ties to smaller gene start then id — the annotation step after
      // sv_reciprocal_overlap rejects a call); candidates from the
      // widened binned interval join (NearestFeature.nearestInterval)
      val g = partGenes(s, dir)
      val o = col("o_orderkey").cast("long")
      val calls = Tables.ordersSpread(s, dir).select(
        (o % 5).as("chr"), o.as("call_id"),
        ((o * 211) % 100000).as("c_start"),
        ((o * 211) % 100000 + 30 + (o * 53) % 3000).as("c_stop"))
      NearestFeature.nearestInterval(calls, g, "call_id",
          "c_start", "c_stop", "gstart", "gstop", "gene_id",
          keys = Seq("chr"), maxDist = 500L)
        .select(col("chr"), col("call_id"), col("gene_id"),
          col("distance"))
    }),
  )

  // ---- DuckDB oracles ----

  def oracleSql: Map[String, String] = {
    // 64-entry codon CASE derived from the same table as DnaOps
    def codonCase(e: String): String =
      "CASE " + e + graft.functions.DnaOps.codonTable
        .map { case (c, aa) => s" WHEN '$c' THEN '$aa'" }.mkString +
        " ELSE 'X' END"

    val langScore: Map[String, String] = TextAnalysis.markers.map { case (lang, ws) =>
      lang -> ws.map(w =>
        s"CAST(floor((length(t) - length(regexp_replace(t, '\\b$w\\b', '', 'g'))) / ${w.length}) AS INT)")
        .mkString(" + ")
    }

    // Shared Gopher-repetition CTE chain (DuckDB): explicit explode +
    // groupBy + window over word uni/bi/trigrams — the independent
    // derivation of the one-pass repStats kernel. Parameterized on the
    // source CTE name (must expose doc_id, t). Ends with the `fr` frame
    // CTE and NO trailing comma: quality_gopher splices it directly
    // before its SELECT; corpus_mix (spliced before another CTE) adds
    // the comma at its call site.
    def gopherCtes(src: String): String =
      s"""w AS (SELECT doc_id, string_split(t, ' ') AS ws,
         |  length(replace(t, ' ', '')) AS wchars FROM $src),
         |st AS (SELECT doc_id, len(ws) AS n_words,
         |  len(list_distinct(ws)) AS n_distinct, wchars FROM w),
         |bg AS (SELECT doc_id, ws[u.g] || ' ' || ws[u.g+1] AS gram
         |  FROM w, LATERAL unnest(generate_series(1, len(ws)-1)) u(g)),
         |bgc AS (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY 1, 2),
         |bgtop AS (SELECT doc_id, c*length(gram) AS topchars FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY c DESC, gram) AS rn FROM bgc) WHERE rn = 1),
         |bgtot AS (SELECT doc_id, CAST(sum(c*length(gram)) AS BIGINT) AS totchars
         |  FROM bgc GROUP BY 1),
         |tg AS (SELECT doc_id, ws[u.g] || ' ' || ws[u.g+1] || ' ' || ws[u.g+2] AS gram
         |  FROM w, LATERAL unnest(generate_series(1, len(ws)-2)) u(g)),
         |tgc AS (SELECT doc_id, gram, count(*) AS c FROM tg GROUP BY 1, 2),
         |tgs AS (SELECT doc_id,
         |  CAST(sum(CASE WHEN c > 1 THEN c*length(gram) ELSE 0 END) AS BIGINT) AS dupchars,
         |  CAST(sum(c*length(gram)) AS BIGINT) AS totchars FROM tgc GROUP BY 1),
         |fr AS (SELECT st.doc_id, n_words,
         |  CASE WHEN n_words > 0
         |    THEN round(CAST(wchars AS DOUBLE) / n_words, 4) ELSE 0 END AS mean_word_len,
         |  CASE WHEN n_words > 0
         |    THEN round(CAST(n_words - n_distinct AS DOUBLE) / n_words, 4) ELSE 0 END AS dup_word_frac,
         |  CASE WHEN coalesce(bgtot.totchars, 0) > 0
         |    THEN round(CAST(bgtop.topchars AS DOUBLE) / bgtot.totchars, 4) ELSE 0 END AS top_bigram_frac,
         |  CASE WHEN coalesce(tgs.totchars, 0) > 0
         |    THEN round(CAST(tgs.dupchars AS DOUBLE) / tgs.totchars, 4) ELSE 0 END AS dup_trigram_frac
         |  FROM st LEFT JOIN bgtop USING (doc_id) LEFT JOIN bgtot USING (doc_id)
         |  LEFT JOIN tgs USING (doc_id))""".stripMargin

    // The five Gopher keep thresholds, shared by both oracle call sites.
    val gopherKeepSql =
      "n_words >= 5 AND mean_word_len <= 12.0 AND dup_word_frac <= 0.6" +
        " AND top_bigram_frac <= 0.2 AND dup_trigram_frac <= 0.6"

    // Shared q24/q32 CTE chain: synthetic variants + gene models +
    // Md5Genome CDS rebuild through per-row ref/var AA (aa3). Both the
    // row-level annotation oracle (q24) and the verifyAA audit oracle
    // (q32) splice this, so the two derivations cannot drift.
    val annotateAaCtes =
      s"""vars AS (SELECT DISTINCT CAST(l_orderkey % 5 AS VARCHAR) AS chr,
           |    CAST((l_orderkey*6151 + l_linenumber*131) % 10000000 AS BIGINT) AS pos,
           |    ${baseOfSql("l_partkey")} AS ref_nuc, ${baseOfSql("l_suppkey")} AS var_nuc
           |  FROM lineitem),
           |trs AS (SELECT p_partkey AS gene_id, CAST(p_partkey % 5 AS VARCHAR) AS chr,
           |    CAST((p_partkey*5137) % 10000000 AS BIGINT) AS gstart,
           |    CAST((p_partkey*5137) % 10000000 + 50 + (p_partkey*97) % 2000 AS BIGINT) AS gstop,
           |    CAST(p_partkey*10 AS BIGINT) AS tr_id,
           |    CASE WHEN p_partkey % 2 = 0 THEN '+' ELSE '-' END AS strand,
           |    p_partkey % 17 = 0 AS non_coding
           |  FROM part),
           |ex0 AS (SELECT tr_id, gstart + i*elen AS fstart,
           |    greatest(gstart + i*elen, gstart + (i+1)*elen - 5) AS fstop
           |  FROM (SELECT tr_id, gstart, gstop,
           |      (gstop - gstart) // (gene_id % 3 + 1) AS elen,
           |      unnest(generate_series(0, gene_id % 3)) AS i
           |    FROM trs)),
           |exi AS (SELECT tr_id, fstart, fstop,
           |    row_number() OVER (PARTITION BY tr_id ORDER BY fstart) AS exon_idx,
           |    count(*) OVER (PARTITION BY tr_id) AS n_exons FROM ex0),
           |utr AS (SELECT tr_id, gstart AS u5s, gstart + 10 AS u5e,
           |    gstop - 10 AS u3s, gstop AS u3e
           |  FROM trs WHERE gstop - gstart > 60),
           |vt AS (SELECT v.chr, v.pos, v.ref_nuc, v.var_nuc, t.tr_id, t.strand, t.non_coding
           |  FROM vars v JOIN trs t ON v.chr = t.chr AND v.pos BETWEEN t.gstart AND t.gstop),
           |fl AS (SELECT vt.chr, vt.pos, vt.ref_nuc, vt.var_nuc, vt.tr_id, vt.strand, vt.non_coding,
           |    coalesce(bool_or(e.fstart <= vt.pos AND e.fstop >= vt.pos + 1), false) AS in_exon,
           |    coalesce(bool_or((e.exon_idx <> 1 AND e.fstart - 10 <= vt.pos AND e.fstart + 10 >= vt.pos + 1)
           |      OR (e.exon_idx <> e.n_exons AND e.fstop - 10 <= vt.pos AND e.fstop + 10 >= vt.pos + 1)), false) AS near_splice
           |  FROM vt LEFT JOIN exi e ON e.tr_id = vt.tr_id
           |  GROUP BY ALL),
           |flu AS (SELECT f.*,
           |    coalesce(u.u3s <= f.pos AND u.u3e >= f.pos + 1, false) AS in_u3,
           |    coalesce(u.u5s <= f.pos AND u.u5e >= f.pos + 1, false) AS in_u5
           |  FROM fl f LEFT JOIN utr u USING (tr_id)),
           |tex AS (SELECT tr_id, t_start, t_stop FROM (
           |    SELECT ei.tr_id,
           |      CASE WHEN ei.e5e IS NULL OR ei.fstart > ei.e5e THEN ei.fstart
           |           WHEN ei.fstop > ei.e5e THEN ei.e5e + 1 END AS t_start,
           |      CASE WHEN ei.e3s IS NULL OR ei.fstop < ei.e3s THEN ei.fstop
           |           WHEN ei.fstart < ei.e3s THEN ei.e3s - 1 END AS t_stop
           |    FROM (SELECT e.tr_id, e.fstart, e.fstop,
           |            CASE WHEN t.strand = '-' THEN u.u5s ELSE u.u3s END AS e3s,
           |            CASE WHEN t.strand = '-' THEN u.u3e ELSE u.u5e END AS e5e
           |          FROM exi e JOIN trs t USING (tr_id) LEFT JOIN utr u USING (tr_id)) ei)
           |  WHERE t_start IS NOT NULL AND t_stop IS NOT NULL AND t_start <= t_stop),
           |cont AS (SELECT f.*, x.t_start AS c_start
           |  FROM flu f LEFT JOIN tex x ON x.tr_id = f.tr_id
           |    AND x.t_start <= f.pos AND x.t_stop > f.pos + 1),
           |cod AS (SELECT * FROM cont WHERE in_exon AND NOT non_coding AND c_start IS NOT NULL),
           |rel AS (SELECT c.chr, c.pos, c.ref_nuc, c.var_nuc, c.tr_id, c.strand,
           |    c.in_u3, c.in_u5, c.near_splice, c.c_start,
           |    c.pos - (c.c_start - 1) + coalesce(sum(CASE WHEN x.t_start < c.c_start
           |      THEN x.t_stop - x.t_start + 1 END), 0) AS rp
           |  FROM cod c LEFT JOIN tex x ON x.tr_id = c.tr_id
           |  GROUP BY c.chr, c.pos, c.ref_nuc, c.var_nuc, c.tr_id, c.strand,
           |    c.in_u3, c.in_u5, c.near_splice, c.c_start),
           |need AS (SELECT DISTINCT tr_id FROM cod),
           |cdsp AS (SELECT tr_id, unnest(generate_series(t_start, t_stop)) AS p
           |  FROM tex JOIN need USING (tr_id)),
           |cdsb AS (SELECT c.tr_id, c.p,
           |    translate(substr(md5(t.chr || ':' || CAST(c.p AS VARCHAR)), 1, 1),
           |      '0123456789abcdef', 'ACGTACGTACGTACGT') AS b
           |  FROM cdsp c JOIN trs t USING (tr_id)),
           |cds AS (SELECT tr_id, string_agg(b, '' ORDER BY p) AS dna FROM cdsb GROUP BY tr_id),
           |aa1 AS (SELECT r.*, length(d.dna) AS len,
           |    CASE WHEN r.strand = '-' THEN length(d.dna) - r.rp + 1 ELSE r.rp END AS relp,
           |    CASE WHEN r.strand = '-' THEN reverse(translate(d.dna, 'ACGT', 'TGCA')) ELSE d.dna END AS rdna,
           |    CASE WHEN r.strand = '-' THEN reverse(translate(
           |        substr(d.dna, 1, CAST(r.rp - 1 AS INT)) || r.var_nuc || substr(d.dna, CAST(r.rp + 1 AS INT)), 'ACGT', 'TGCA'))
           |      ELSE substr(d.dna, 1, CAST(r.rp - 1 AS INT)) || r.var_nuc || substr(d.dna, CAST(r.rp + 1 AS INT)) END AS vdna
           |  FROM rel r JOIN cds d USING (tr_id)),
           |aa2 AS (SELECT *, CASE WHEN len % 3 <> 0 THEN 'T' ELSE 'F' END AS te,
           |    1 + (relp - 1) // 3 AS ap, len // 3 AS n_aa FROM aa1),
           |aa3 AS (SELECT *,
           |    CASE WHEN ap >= 1 AND ap <= n_aa THEN
           |      ${codonCase("substr(rdna, CAST((ap-1)*3+1 AS INT), 3)")} END AS ref_aa,
           |    CASE WHEN ap >= 1 AND ap <= n_aa THEN
           |      ${codonCase("substr(vdna, CAST((ap-1)*3+1 AS INT), 3)")} END AS var_aa
           |  FROM aa2)""".stripMargin

    Map(
      "q1_pricing_summary" ->
        """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
          |round(sum(l_extendedprice),2) AS sum_base_price,
          |round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
          |round(avg(l_quantity),4) AS avg_qty, count(*) AS count_order
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          |GROUP BY l_returnflag, l_linestatus""".stripMargin,

      "q2_group_counts" ->
        """SELECT event_type, CAST(user_id % 10 AS BIGINT) AS user_bucket,
          |count(*) AS n, round(sum(value),2) AS sum_value
          |FROM events GROUP BY event_type, user_id % 10""".stripMargin,

      "q3_join_filter_agg" ->
        """SELECT r_name, n_name, round(sum(o_totalprice),2) AS revenue, count(*) AS n_orders
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |WHERE o_totalprice > 1000 GROUP BY r_name, n_name""".stripMargin,

      "q4_topn_per_group" ->
        """SELECT o_orderpriority, rn, o_orderkey, round(o_totalprice,2) AS total_price
          |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
          |  CAST(row_number() OVER (PARTITION BY o_orderpriority
          |    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
          |  FROM orders) WHERE rn <= 3""".stripMargin,

      "q5_semi_join" ->
        """SELECT c_mktsegment, count(*) AS n_customers FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
          |  AND o_totalprice > 5000)
          |GROUP BY c_mktsegment""".stripMargin,

      "q6_anti_join" ->
        """SELECT c_mktsegment, count(*) AS n_customers FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
          |  AND o_orderstatus = 'P')
          |GROUP BY c_mktsegment""".stripMargin,

      "q7_merge_upsert" ->
        s"""WITH v AS ($liVariantsSql),
           |existing AS (SELECT chr, pos, ref_nuc, var_nuc,
           |  MIN(l_orderkey*8 + l_linenumber) AS variant_id
           |  FROM v WHERE l_linenumber <= 3 GROUP BY chr, pos, ref_nuc, var_nuc),
           |incoming AS (SELECT * FROM v WHERE l_linenumber >= 3)
           |SELECT merge_action, count(*) AS n FROM (
           |  SELECT CASE WHEN e.variant_id IS NOT NULL THEN 'already_in_rgd'
           |    ELSE 'insert' END AS merge_action
           |  FROM incoming i LEFT JOIN existing e USING (chr, pos, ref_nuc, var_nuc))
           |GROUP BY merge_action""".stripMargin,

      "q8_window_fixup" ->
        """SELECT n_alleles, count(*) AS n_rows, CAST(sum(mismatch) AS BIGINT) AS n_fixed
          |FROM (SELECT count(*) OVER (PARTITION BY l_orderkey) AS n_alleles,
          |  CASE WHEN l_linenumber <> count(*) OVER (PARTITION BY l_orderkey)
          |    THEN 1 ELSE 0 END AS mismatch FROM lineitem)
          |GROUP BY n_alleles""".stripMargin,

      "q9_range_join_genic" ->
        s"""WITH p AS (SELECT chr, pos FROM ($liVariantsSql)),
           |g AS ($partGenesSql)
           |SELECT p.chr, count(*) AS n_hits, count(DISTINCT pos) AS n_pos
           |FROM p JOIN g ON p.chr = g.chr AND p.pos BETWEEN g.gstart AND g.gstop
           |GROUP BY p.chr""".stripMargin,

      "q10_zygosity" ->
        s"""WITH li AS (SELECT CAST(l_linenumber AS BIGINT) AS a,
           |  CAST(l_quantity AS BIGINT) AS c,
           |  CAST(l_partkey % 20 AS BIGINT) AS g,
           |  CAST(l_suppkey % 15 AS BIGINT) AS t,
           |  ${baseOfSql("l_orderkey")} AS ref_nuc,
           |  ${baseOfSql("l_partkey")} AS var_nuc,
           |  CASE WHEN l_orderkey % 23 = 21 THEN 'X' WHEN l_orderkey % 23 = 22 THEN 'Y'
           |    ELSE CAST(l_orderkey % 23 + 1 AS VARCHAR) END AS chr,
           |  CASE WHEN l_returnflag = 'R' THEN 'M' ELSE 'F' END AS gender
           |  FROM lineitem),
           |z AS (SELECT *, a + c + g + t AS total,
           |  CASE var_nuc WHEN 'A' THEN a WHEN 'C' THEN c WHEN 'G' THEN g ELSE t END AS vr
           |  FROM li),
           |zz AS (SELECT *,
           |  CASE WHEN total > 0 THEN CAST(vr AS DOUBLE) * 100 / CAST(total AS DOUBLE)
           |    ELSE 0 END AS pct FROM z)
           |SELECT
           |  CASE WHEN gender = 'M' AND chr IN ('X','Y') THEN
           |    CASE WHEN pct = 100 THEN 'hemizygous'
           |      WHEN pct >= 85 THEN 'probably hemizygous'
           |      ELSE 'possibly hemizygous' END
           |  ELSE
           |    CASE WHEN pct = 100 THEN 'homozygous'
           |      WHEN pct >= 85 THEN 'possibly homozygous'
           |      ELSE 'heterozygous' END END AS zygosity_status,
           |  CASE WHEN (CASE ref_nuc WHEN 'A' THEN a WHEN 'C' THEN c
           |    WHEN 'G' THEN g ELSE t END) > 0 THEN 'Y' ELSE 'N' END AS zygosity_ref_allele,
           |  CASE WHEN pct <= 15 THEN 'Y' ELSE 'N' END AS zygosity_possible_error,
           |  CAST((CASE WHEN a > 0 THEN 1 ELSE 0 END) + (CASE WHEN c > 0 THEN 1 ELSE 0 END)
           |    + (CASE WHEN g > 0 THEN 1 ELSE 0 END) + (CASE WHEN t > 0 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS num_alleles,
           |  count(*) AS n,
           |  CAST(sum(CAST(floor(pct + 0.5) AS BIGINT)) AS BIGINT) AS sum_pct
           |FROM zz
           |GROUP BY zygosity_status, zygosity_ref_allele, zygosity_possible_error, num_alleles""".stripMargin,

      "q11_variant_type" ->
        """WITH v AS (SELECT
          |  CAST((l_orderkey*31 + l_linenumber) % 100000 AS BIGINT) AS start_pos,
          |  CASE l_partkey % 4 WHEN 0 THEN '' WHEN 1 THEN 'A' WHEN 2 THEN 'AC'
          |    ELSE 'ACGT' END AS ref_seq,
          |  CASE l_suppkey % 4 WHEN 0 THEN '' WHEN 1 THEN 'G' WHEN 2 THEN 'GT'
          |    ELSE 'GTCA' END AS var_seq
          |  FROM lineitem),
          |t AS (SELECT
          |  CASE WHEN length(ref_seq) = 0 THEN 'insertion'
          |    WHEN length(var_seq) = 0 THEN 'deletion' ELSE 'snv' END AS variant_type,
          |  CAST(CASE WHEN length(ref_seq) > 0 AND length(var_seq) > 0 THEN start_pos + 1
          |    WHEN length(ref_seq) = 0 THEN start_pos
          |    ELSE start_pos + length(ref_seq) END - start_pos AS BIGINT) AS span
          |  FROM v)
          |SELECT variant_type, count(*) AS n, CAST(sum(span) AS BIGINT) AS sum_span
          |FROM t GROUP BY variant_type""".stripMargin,

      "q12_quality_score" ->
        """SELECT quality_score, count(*) AS n FROM (
          |  SELECT CASE WHEN td > 0
          |    THEN CAST(floor((100*rd + floor(td/2)) / td) AS BIGINT)
          |    ELSE 0 END AS quality_score
          |  FROM (SELECT CAST(l_quantity AS BIGINT) AS rd,
          |    CAST(l_partkey % 120 AS BIGINT) AS td FROM lineitem))
          |GROUP BY quality_score""".stripMargin,

      "q13_dbsnp_split" ->
        """SELECT dbsnp_class, count(*) AS n FROM (
          |  SELECT CASE WHEN rs_id IS NOT NULL AND length(rs_id) > 0 THEN 'dbsnp'
          |    ELSE 'novel' END AS dbsnp_class
          |  FROM (SELECT CASE WHEN doc_id % 3 = 0 THEN ''
          |    ELSE 'rs' || CAST(doc_id AS VARCHAR) END AS rs_id FROM documents))
          |GROUP BY dbsnp_class""".stripMargin,

      // the oracle pairs sites by plain inequality self-join — the bin
      // replication is the Spark side's scale strategy, not semantics
      "conservation_sliding" ->
        """WITH e AS (SELECT CAST(user_id % 5 AS BIGINT) AS chr,
          |  CAST(event_id % 100000 AS BIGINT) AS pos,
          |  CAST(round(value * 10000) AS BIGINT) AS v4 FROM events),
          |sites AS (SELECT chr, pos, CAST(sum(v4) AS BIGINT) AS s4,
          |  count(*) AS n FROM e GROUP BY 1, 2),
          |w AS (SELECT a.chr, a.pos, CAST(sum(b.s4) AS BIGINT) AS win_s4,
          |  CAST(sum(b.n) AS BIGINT) AS win_n
          |  FROM sites a JOIN sites b ON a.chr = b.chr
          |    AND abs(b.pos - a.pos) <= 50 GROUP BY 1, 2),
          |t AS (SELECT chr, CAST(sum(s4) AS BIGINT) AS tot_s4,
          |  CAST(sum(n) AS BIGINT) AS tot_n FROM sites GROUP BY 1)
          |SELECT chr, count(*) AS n_conserved,
          |  CAST(sum(win_n) AS BIGINT) AS sum_win_n
          |FROM w JOIN t USING (chr)
          |WHERE win_s4 * tot_n * 5 > tot_s4 * win_n * 6
          |GROUP BY 1""".stripMargin,

      "vcf_merge_multisample" ->
        """WITH d AS (SELECT 'S' || CAST(l_suppkey % 4 AS VARCHAR)
          |    AS sample,
          |  CAST(l_orderkey % 5 AS BIGINT) AS chr,
          |  CAST((l_orderkey*31 + l_linenumber*7) % 100000 AS BIGINT)
          |    AS pos,
          |  CASE WHEN (l_partkey + l_suppkey) % 3 = 0 THEN '0/1'
          |    WHEN (l_partkey + l_suppkey) % 3 = 1 THEN '1/1'
          |    ELSE '0/0' END AS gt FROM lineitem),
          |c AS (SELECT chr, pos, sample, max(gt) AS gt
          |  FROM d GROUP BY 1, 2, 3),
          |m AS (SELECT chr, pos, count(*) AS n_samples,
          |  string_agg(sample || '=' || gt, ';' ORDER BY sample, gt)
          |    AS gts FROM c GROUP BY 1, 2)
          |SELECT chr, pos, n_samples, gts FROM m
          |WHERE n_samples = 4""".stripMargin,

      "q14_conservation_agg" ->
        """SELECT CAST(user_id % 100 AS BIGINT) AS bucket, count(*) AS n,
          |round(avg(value),4) AS avg_score, round(min(value),4) AS min_score,
          |round(max(value),4) AS max_score
          |FROM events GROUP BY user_id % 100""".stripMargin,

      "q15_transcript_features" ->
        s"""WITH p AS (SELECT chr, pos FROM ($liVariantsSql)),
           |g AS ($partGenesSql)
           |SELECT p.chr, count(*) AS n_near_splice
           |FROM p JOIN g ON p.chr = g.chr
           |  AND (abs(p.pos - g.gstart) <= 10 OR abs(p.pos - g.gstop) <= 10)
           |GROUP BY p.chr""".stripMargin,

      "q18_vcf_format" ->
        s"""SELECT concat_ws(chr(9), 'chr' || CAST(chr AS VARCHAR),
           |  CAST(pos AS VARCHAR),
           |  CASE WHEN l_orderkey % 3 = 0 THEN 'rs' || CAST(l_orderkey AS VARCHAR)
           |    ELSE '.' END,
           |  ref_nuc, var_nuc, '.', 'PASS', '.') AS line
           |FROM ($liVariantsSql)""".stripMargin,

      "q19_point_lookup" ->
        s"""SELECT chr, pos, ref_nuc, var_nuc, l_orderkey, l_linenumber
           |FROM ($liVariantsSql)
           |WHERE chr = 2 AND pos BETWEEN 10000 AND 30000""".stripMargin,

      "q20_sessionize" ->
        """WITH e AS (SELECT user_id, event_id,
          |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events),
          |m AS (SELECT user_id, event_id, ts_sec,
          |  CASE WHEN lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) IS NULL
          |    OR ts_sec - lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) > 1800
          |    THEN 1 ELSE 0 END AS new_s FROM e),
          |s AS (SELECT user_id, ts_sec,
          |  CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
          |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM m)
          |SELECT user_id, session_id, count(*) AS n_events,
          |  min(ts_sec) AS sess_start, max(ts_sec) AS sess_end
          |FROM s GROUP BY user_id, session_id""".stripMargin,

      "q21_iupac_expand" ->
        """WITH v AS (SELECT CASE CAST(l_partkey % 11 AS INT)
          |  WHEN 0 THEN 'A' WHEN 1 THEN 'C' WHEN 2 THEN 'G' WHEN 3 THEN 'T'
          |  WHEN 4 THEN 'R' WHEN 5 THEN 'Y' WHEN 6 THEN 'M' WHEN 7 THEN 'K'
          |  WHEN 8 THEN 'S' WHEN 9 THEN 'W' ELSE 'N' END AS code FROM lineitem),
          |x AS (SELECT code, unnest(string_split(CASE code
          |  WHEN 'A' THEN 'A' WHEN 'C' THEN 'C' WHEN 'G' THEN 'G' WHEN 'T' THEN 'T'
          |  WHEN 'R' THEN 'A,G' WHEN 'Y' THEN 'C,T' WHEN 'M' THEN 'A,C'
          |  WHEN 'K' THEN 'G,T' WHEN 'S' THEN 'G,C' WHEN 'W' THEN 'A,T'
          |  ELSE 'A,T,C,G' END, ',')) AS allele FROM v)
          |SELECT code, allele, count(*) AS n FROM x GROUP BY code, allele""".stripMargin,

      "q17_revcomp" ->
        s"""SELECT doc_id, $docDnaSql AS dna,
           |reverse(translate($docDnaSql, 'ACGT', 'TGCA')) AS revcomp
           |FROM documents""".stripMargin,

      "q16_translate_dna" ->
        s"""WITH d AS (SELECT doc_id, $docDnaSql AS dna FROM documents),
           |r AS (SELECT doc_id, dna, reverse(translate(dna, 'ACGT', 'TGCA')) AS rc FROM d),
           |cod AS (SELECT doc_id, unnest(generate_series(0, 9)) AS i, dna, rc FROM r),
           |aa AS (SELECT doc_id, i,
           |  ${codonCase("substr(dna, CAST(i*3+1 AS INT), 3)")} AS pa,
           |  ${codonCase("substr(rc, CAST(i*3+1 AS INT), 3)")} AS ra
           |  FROM cod),
           |agg AS (SELECT doc_id, string_agg(pa, '' ORDER BY i) AS protein,
           |  string_agg(ra, '' ORDER BY i) AS protein_rc FROM aa GROUP BY doc_id)
           |SELECT a.doc_id, d.dna, a.protein, a.protein_rc
           |FROM agg a JOIN d USING (doc_id)""".stripMargin,

      // Full SQL twin of the VariantPostProcessing pipeline: same synthetic
      // gene models, same Md5Genome (md5-nibble bases), UTR trimming,
      // relative-position walk, strand-aware mutate+translate, and the
      // INTRON / NON-CODING location rules — checked row-by-row.
      "q24_annotate_variants" ->
        s"""WITH $annotateAaCtes,
           |out1 AS (SELECT chr, pos, ref_nuc, var_nuc, tr_id,
           |    concat_ws(',', CASE WHEN in_u3 THEN '3UTRS' END,
           |      CASE WHEN in_u5 THEN '5UTRS' END, 'EXON') AS location,
           |    CASE WHEN near_splice THEN 'T' ELSE 'F' END AS near_splice_site,
           |    CASE WHEN ref_aa IS NULL THEN NULL
           |         WHEN ref_aa = 'X' OR var_aa = 'X' THEN 'unassignable'
           |         WHEN ref_aa = var_aa THEN 'synonymous' ELSE 'nonsynonymous' END AS syn_status,
           |    ref_aa, var_aa,
           |    CASE WHEN ref_aa IS NOT NULL THEN CAST(ap AS BIGINT) END AS aa_pos,
           |    te AS triplet_error,
           |    CASE WHEN ref_aa IS NOT NULL THEN 'F' END AS frame_shift
           |  FROM aa3),
           |out2 AS (SELECT chr, pos, ref_nuc, var_nuc, tr_id,
           |    concat_ws(',', CASE WHEN in_u3 THEN '3UTRS' END,
           |      CASE WHEN in_u5 THEN '5UTRS' END,
           |      CASE WHEN in_exon THEN 'EXON' END,
           |      CASE WHEN NOT in_exon THEN 'INTRON' END,
           |      CASE WHEN non_coding THEN 'NON-CODING' END) AS location,
           |    CASE WHEN near_splice THEN 'T' ELSE 'F' END AS near_splice_site,
           |    CAST(NULL AS VARCHAR) AS syn_status, CAST(NULL AS VARCHAR) AS ref_aa,
           |    CAST(NULL AS VARCHAR) AS var_aa, CAST(NULL AS BIGINT) AS aa_pos,
           |    'F' AS triplet_error, CAST(NULL AS VARCHAR) AS frame_shift
           |  FROM cont WHERE NOT (in_exon AND NOT non_coding AND c_start IS NOT NULL))
           |SELECT * FROM out1 UNION ALL SELECT * FROM out2""".stripMargin,

      // every span re-derived ARITHMETICALLY from the synthesis
      // numbers — the comparison proves the SAM field split and the
      // CIGAR walk's op classification (ref: M/D consume reference,
      // I/S do not); header/unmapped rows excluded by the same mods
      "sam_alignment_stats" ->
        s"""WITH $samReadsCtes
          |SELECT chr, count(*) AS n_reads,
          |  CAST(sum(ref_span) AS BIGINT) AS sum_ref_span,
          |  CAST(sum(aligned) AS BIGINT) AS sum_aligned,
          |  CAST(sum(clipped) AS BIGINT) AS sum_clipped,
          |  CAST(max(pos + ref_span - 1) AS BIGINT) AS max_end
          |FROM sam_reads GROUP BY 1""".stripMargin,

      // pileup segments (same sweep as sam_pileup's oracle) clipped
      // against the gene intervals with a plain inequality join — the
      // binned strategy is Spark-side physics, the overlap predicate
      // is the semantics both engines share
      "sam_gene_coverage" ->
        s"""WITH $samReadsCtes,
          |del AS (SELECT chr, pos, 1 AS d FROM sam_reads
          |  UNION ALL SELECT chr, pos + ref_span, -1 FROM sam_reads),
          |bp AS (SELECT chr, pos, sum(d) AS delta FROM del
          |  GROUP BY 1, 2 HAVING sum(d) <> 0),
          |seg AS (SELECT chr, pos AS sstart,
          |  CAST(sum(delta) OVER (PARTITION BY chr ORDER BY pos
          |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS depth,
          |  lead(pos) OVER (PARTITION BY chr ORDER BY pos) - 1 AS sstop
          |  FROM bp),
          |s2 AS (SELECT chr, sstart, sstop, depth FROM seg
          |  WHERE sstop IS NOT NULL),
          |g AS (SELECT gene_id, 'chr' || CAST(chr AS VARCHAR) AS chr,
          |  gstart, gstop FROM ($partGenesSql)),
          |j AS (SELECT g.gene_id, s2.depth,
          |  least(s2.sstop, g.gstop) - greatest(s2.sstart, g.gstart) + 1
          |    AS ov
          |  FROM s2 JOIN g ON g.chr = s2.chr
          |    AND s2.sstart <= g.gstop AND g.gstart <= s2.sstop),
          |a AS (SELECT gene_id,
          |  CAST(sum(CASE WHEN depth > 0 THEN ov ELSE 0 END) AS BIGINT)
          |    AS covered_bp,
          |  CAST(sum(depth * ov) AS BIGINT) AS aligned_bp,
          |  max(depth) AS max_depth
          |  FROM j GROUP BY 1)
          |SELECT a.gene_id, g2.span, a.covered_bp, a.aligned_bp,
          |  a.max_depth,
          |  CAST(round(a.covered_bp * 10000.0 / g2.span) AS BIGINT)
          |    AS breadth4
          |FROM a JOIN (SELECT gene_id,
          |  gstop - gstart + 1 AS span FROM ($partGenesSql)) g2
          |  USING (gene_id)""".stripMargin,

      // TLEN/proper re-derived arithmetically from the pair-synthesis
      // residues — the compare proves the mate-field parse AND the
      // R1-only (tlen > 0) template convention cross-engine
      "sam_insert_size" ->
        """WITH pr AS (SELECT CAST(l_orderkey AS BIGINT) AS o,
          |  CAST(l_linenumber AS BIGINT) AS l,
          |  CAST(l_partkey AS BIGINT) AS p FROM lineitem
          |  WHERE (l_orderkey + l_linenumber) % 13 <> 0
          |    AND (l_orderkey + l_linenumber) % 11 <> 0),
          |t AS (SELECT 'chr' || CAST(o % 5 AS VARCHAR) AS chr,
          |  120 + p % 280 AS tlen,
          |  CASE WHEN (o + l) % 17 <> 0 THEN 1 ELSE 0 END AS proper
          |  FROM pr)
          |SELECT chr, count(*) AS n_pairs,
          |  CAST(sum(proper) AS BIGINT) AS n_proper,
          |  CAST(sum(tlen) AS BIGINT) AS sum_tlen,
          |  CAST(round(10000.0 * sum(tlen) / count(*)) AS BIGINT)
          |    AS mean4,
          |  CAST(max(tlen) AS BIGINT) AS max_tlen
          |FROM t GROUP BY 1""".stripMargin,

      // flag bits re-derived from the same residues — the oracle never
      // touches the bitfield, so the compare proves the Spark-side
      // bitwise decode against plain arithmetic
      "sam_flagstat" ->
        """SELECT count(*) AS n_total,
          |  CAST(sum(CASE WHEN l_orderkey % 2 = 1 THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_paired,
          |  CAST(sum(CASE WHEN (l_orderkey + l_partkey) % 3 = 0
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_proper,
          |  CAST(sum(CASE WHEN l_linenumber % 2 = 1 THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_reverse,
          |  CAST(sum(CASE WHEN (l_orderkey + l_linenumber) % 7 = 0
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_secondary,
          |  CAST(sum(CASE WHEN l_partkey % 11 = 0 THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_dup
          |FROM lineitem""".stripMargin,

      // same window derivation over the arithmetically re-derived
      // reads; qname is unique so the (mapq desc, qname) order is total
      "sam_markdup" ->
        s"""WITH $samReadsCtes,
          |r2 AS (SELECT chr, mapq,
          |  row_number() OVER (PARTITION BY chr, pos, flag
          |    ORDER BY mapq DESC, qname) AS rn
          |  FROM sam_reads)
          |SELECT chr, count(*) AS n_reads,
          |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_dup,
          |  CAST(sum(CASE WHEN rn = 1 THEN mapq ELSE 0 END) AS BIGINT)
          |    AS sum_kept_mapq,
          |  CAST(round(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)
          |    * 10000.0 / count(*)) AS BIGINT) AS dup_rate4
          |FROM r2 GROUP BY 1""".stripMargin,

      "corpus_split" ->
        """WITH b AS (SELECT lang, n_chars,
          |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
          |    AS BIGINT) % 100 AS bucket FROM documents)
          |SELECT lang,
          |  CASE WHEN bucket < 80 THEN 'train'
          |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
          |  count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM b GROUP BY 1, 2""".stripMargin,

      // same centered ROWS window over observed days; det7 stays an
      // exact long (7x − Σwindow) until the one rounded division
      "events_seasonal_decompose" ->
        """WITH c AS (SELECT event_type,
          |  epoch_us(ts) // 86400000000 AS day, count(*) AS x
          |  FROM events GROUP BY 1, 2),
          |w AS (SELECT event_type, day, x,
          |  CAST(sum(x) OVER (PARTITION BY event_type ORDER BY day
          |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS t7,
          |  count(*) OVER (PARTITION BY event_type ORDER BY day
          |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nw
          |  FROM c),
          |d AS (SELECT event_type, (day + 4) % 7 AS dow,
          |  x * 7 - t7 AS det7 FROM w WHERE nw = 7)
          |SELECT event_type, dow, count(*) AS n_days,
          |  CAST(sum(det7) AS BIGINT) AS sum_det7,
          |  CAST(round(10000.0 * sum(det7) / (7 * count(*))) AS BIGINT)
          |    AS seasonal4
          |FROM d GROUP BY 1, 2""".stripMargin,

      "vcf_genotype_concordance" ->
        s"""WITH $dosageCellCtes,
           |b AS (SELECT chr, pos, sample,
           |  CASE WHEN (pos + sample) % 17 = 0 THEN (gv + 1) % 3
           |       ELSE gv END AS gv2 FROM c),
           |j AS (SELECT a.sample, a.gv, b.gv2 FROM c a
           |  JOIN b ON a.chr = b.chr AND a.pos = b.pos
           |    AND a.sample = b.sample)
           |SELECT sample, count(*) AS n_sites,
           |  CAST(sum(CASE WHEN gv = gv2 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_concordant,
           |  CAST(sum(CASE WHEN gv <> gv2 AND gv <> 1 AND gv2 <> 1
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_hom_flips,
           |  CAST(round(10000.0 * sum(CASE WHEN gv = gv2 THEN 1 ELSE 0
           |    END) / count(*)) AS BIGINT) AS concordance4
           |FROM j GROUP BY 1""".stripMargin,

      // the pagerank-oracle idiom (x10^12 exact longs per edge, bare
      // 1.0/n matching Spark's lit(1.0)/col) chained for 3 rounds over
      // the lag-derived transition matrix
      "events_markov_stationary" ->
        """WITH o AS (SELECT user_id, event_type,
          |  lag(event_type) OVER (PARTITION BY user_id
          |    ORDER BY epoch_us(ts), event_id) AS prev_type FROM events),
          |p AS (SELECT prev_type, event_type AS next_type, count(*) AS n
          |  FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2),
          |rs AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS rs
          |  FROM p GROUP BY 1),
          |nodes AS (SELECT DISTINCT event_type FROM events),
          |nn AS (SELECT count(*) AS n_types FROM nodes),
          |t0 AS (SELECT event_type, 1.0 / n_types AS pi FROM nodes, nn),
          |c1 AS (SELECT next_type, CAST(sum(CAST(round(pi * n / rs
          |    * 1000000000000.0) AS BIGINT)) AS BIGINT) AS s12
          |  FROM p JOIN rs USING (prev_type)
          |  JOIN t0 ON t0.event_type = p.prev_type GROUP BY 1),
          |t1 AS (SELECT n.event_type,
          |  coalesce(c.s12, 0) / 1000000000000.0 AS pi
          |  FROM nodes n LEFT JOIN c1 c ON c.next_type = n.event_type),
          |c2 AS (SELECT next_type, CAST(sum(CAST(round(pi * n / rs
          |    * 1000000000000.0) AS BIGINT)) AS BIGINT) AS s12
          |  FROM p JOIN rs USING (prev_type)
          |  JOIN t1 ON t1.event_type = p.prev_type GROUP BY 1),
          |t2 AS (SELECT n.event_type,
          |  coalesce(c.s12, 0) / 1000000000000.0 AS pi
          |  FROM nodes n LEFT JOIN c2 c ON c.next_type = n.event_type),
          |c3 AS (SELECT next_type, CAST(sum(CAST(round(pi * n / rs
          |    * 1000000000000.0) AS BIGINT)) AS BIGINT) AS s12
          |  FROM p JOIN rs USING (prev_type)
          |  JOIN t2 ON t2.event_type = p.prev_type GROUP BY 1),
          |t3 AS (SELECT n.event_type,
          |  coalesce(c.s12, 0) / 1000000000000.0 AS pi
          |  FROM nodes n LEFT JOIN c3 c ON c.next_type = n.event_type)
          |SELECT event_type, pi FROM t3""".stripMargin,

      "popgen_king" ->
        s"""WITH $dosageCellCtes,
           |p AS (SELECT a.sample AS s1, b.sample AS s2,
           |  a.gv AS g1, b.gv AS g2
           |  FROM c a JOIN c b ON a.chr = b.chr AND a.pos = b.pos
           |    AND a.sample < b.sample)
           |SELECT s1, s2, count(*) AS n_sites,
           |  CAST(sum(CASE WHEN g1 = 1 AND g2 = 1 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_both_het,
           |  CAST(sum(CASE WHEN abs(g1 - g2) = 2 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_opp_hom,
           |  CASE WHEN sum(CASE WHEN g1 = 1 THEN 1 ELSE 0 END)
           |      + sum(CASE WHEN g2 = 1 THEN 1 ELSE 0 END) > 0 THEN
           |    CAST(round(10000.0
           |      * (sum(CASE WHEN g1 = 1 AND g2 = 1 THEN 1 ELSE 0 END)
           |        - 2 * sum(CASE WHEN abs(g1 - g2) = 2 THEN 1 ELSE 0 END))
           |      / (sum(CASE WHEN g1 = 1 THEN 1 ELSE 0 END)
           |        + sum(CASE WHEN g2 = 1 THEN 1 ELSE 0 END)))
           |      AS BIGINT)
           |  END AS kinship4
           |FROM p GROUP BY 1, 2""".stripMargin,

      // the minhash candidate CTEs at the top level, the jaccard truth
      // as a NESTED WITH (both families define t/sh with different
      // shapes — nesting scopes the names instead of renaming a shared
      // derivation other oracles grade against)
      "dedup_recall_audit" ->
        s"""WITH $minhashPairCtes,
          |truth AS (WITH $jaccardPairCtes
          |  SELECT id_a, id_b FROM jp),
          |hits AS (SELECT t.id_a, t.id_b FROM truth t
          |  JOIN prs USING (id_a, id_b))
          |SELECT
          |  CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
          |  CAST((SELECT count(*) FROM prs) AS BIGINT) AS n_cand,
          |  CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hits,
          |  CAST(round(10000.0 * (SELECT count(*) FROM hits)
          |    / (SELECT count(*) FROM truth)) AS BIGINT) AS recall4,
          |  CAST(round(10000.0 * (SELECT count(*) FROM hits)
          |    / (SELECT count(*) FROM prs)) AS BIGINT) AS hit_rate4""".stripMargin,

      "variant_tstv" ->
        s"""WITH v AS ($liVariantsSql),
          |s AS (SELECT chr,
          |  CASE WHEN (ref_nuc IN ('A','G') AND var_nuc IN ('A','G'))
          |    OR (ref_nuc IN ('C','T') AND var_nuc IN ('C','T'))
          |    THEN 1 ELSE 0 END AS ts
          |  FROM v WHERE ref_nuc <> var_nuc)
          |SELECT chr, CAST(sum(ts) AS BIGINT) AS n_ts,
          |  CAST(sum(1 - ts) AS BIGINT) AS n_tv,
          |  CASE WHEN sum(1 - ts) > 0 THEN
          |    CAST(round(sum(ts) * 10000.0 / sum(1 - ts)) AS BIGINT)
          |  END AS tstv4
          |FROM s GROUP BY 1""".stripMargin,

      // the same sweep-line derivation interval_coverage's oracle uses,
      // run over the arithmetically re-derived read spans ([pos,
      // pos+ref_span-1] inclusive → −1 breakpoint at pos+ref_span)
      // decade = mapq - mapq % 10, over the arithmetically re-derived
      // mapq (20 + p % 40); low fraction mirrored per chr
      "sam_mapq_profile" ->
        s"""WITH $samReadsCtes,
          |d AS (SELECT chr, (mapq - mapq % 10) // 10 AS mapq_decade,
          |  count(*) AS n_reads FROM sam_reads GROUP BY 1, 2),
          |tt AS (SELECT chr, CAST(sum(n_reads) AS BIGINT) AS total,
          |  CAST(sum(CASE WHEN mapq_decade < 3 THEN n_reads ELSE 0 END)
          |    AS BIGINT) AS n_low FROM d GROUP BY 1)
          |SELECT d.chr, mapq_decade, n_reads,
          |  CAST(round(10000.0 * n_low / total) AS BIGINT) AS low_frac4
          |FROM d JOIN tt USING (chr)""".stripMargin,

      // the sam_pileup sweep extended to the (depth, Σbp) histogram,
      // then the events_user_gini rank-sum identity per chr
      "sam_coverage_uniformity" ->
        s"""WITH $samReadsCtes,
          |del AS (SELECT chr, pos, 1 AS d FROM sam_reads
          |  UNION ALL SELECT chr, pos + ref_span, -1 FROM sam_reads),
          |bp AS (SELECT chr, pos, sum(d) AS delta FROM del
          |  GROUP BY 1, 2 HAVING sum(d) <> 0),
          |seg AS (SELECT chr,
          |  CAST(sum(delta) OVER (PARTITION BY chr ORDER BY pos
          |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS depth,
          |  lead(pos) OVER (PARTITION BY chr ORDER BY pos) - pos AS bp
          |  FROM bp),
          |h AS (SELECT chr, depth, CAST(sum(bp) AS BIGINT) AS m
          |  FROM seg WHERE bp IS NOT NULL AND depth > 0 GROUP BY 1, 2),
          |w AS (SELECT chr, depth, m,
          |  sum(m) OVER (PARTITION BY chr ORDER BY depth
          |    ROWS UNBOUNDED PRECEDING) - m AS p FROM h),
          |a AS (SELECT chr, count(*) AS n_levels,
          |  CAST(sum(m) AS BIGINT) AS covered_bp,
          |  CAST(sum(depth * m) AS BIGINT) AS aligned_bp,
          |  CAST(sum(depth * m * (2*p + m + 1)) AS BIGINT) AS s2v
          |  FROM w GROUP BY 1)
          |SELECT chr, n_levels, covered_bp, aligned_bp,
          |  CAST(round(10000.0 * (s2v - (covered_bp + 1) * aligned_bp)
          |    / (covered_bp * aligned_bp)) AS BIGINT) AS gini4
          |FROM a""".stripMargin,

      "sam_pileup" ->
        s"""WITH $samReadsCtes,
          |del AS (SELECT chr, pos, 1 AS d FROM sam_reads
          |  UNION ALL SELECT chr, pos + ref_span, -1 FROM sam_reads),
          |bp AS (SELECT chr, pos, sum(d) AS delta FROM del
          |  GROUP BY 1, 2 HAVING sum(d) <> 0),
          |seg AS (SELECT chr,
          |  CAST(sum(delta) OVER (PARTITION BY chr ORDER BY pos
          |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS depth,
          |  lead(pos) OVER (PARTITION BY chr ORDER BY pos) - pos AS bp
          |  FROM bp),
          |s2 AS (SELECT chr, depth, bp FROM seg WHERE bp IS NOT NULL)
          |SELECT chr,
          |  CAST(sum(CASE WHEN depth > 0 THEN bp ELSE 0 END) AS BIGINT)
          |    AS covered_bp,
          |  max(depth) AS max_depth,
          |  CAST(sum(depth * bp) AS BIGINT) AS aligned_bp,
          |  count(*) AS n_segments
          |FROM s2 GROUP BY 1""".stripMargin,

      // the q24 annotation chain rolled up to per-gene syn/nonsyn
      // counts (tr_id // 10 = gene_id by construction)
      "variant_dnds" ->
        s"""WITH $annotateAaCtes,
           |ss AS (SELECT tr_id // 10 AS gene_id,
           |  CASE WHEN ref_aa IS NULL THEN NULL
           |       WHEN ref_aa = 'X' OR var_aa = 'X' THEN 'unassignable'
           |       WHEN ref_aa = var_aa THEN 'synonymous'
           |       ELSE 'nonsynonymous' END AS st
           |  FROM aa3),
           |g AS (SELECT gene_id,
           |  CAST(sum(CASE WHEN st = 'synonymous' THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_syn,
           |  CAST(sum(CASE WHEN st = 'nonsynonymous' THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_nonsyn
           |  FROM ss WHERE st IN ('synonymous', 'nonsynonymous')
           |  GROUP BY 1)
           |SELECT gene_id, n_syn, n_nonsyn,
           |  CAST(round(10000.0 * n_nonsyn / n_syn) AS BIGINT) AS dnds4
           |FROM g WHERE n_syn > 0""".stripMargin,

      // verifyAA audit twin: re-derives the codon from the stored CDS
      // (rdna = full_ref_nuc, relp = full_ref_nuc_pos) exactly as the
      // Spark entry does from the Annotated stored columns, then tallies
      // agreement with the stored ref_aa/var_aa/syn_status
      "q32_verify_aa" ->
        s"""WITH $annotateAaCtes,
           |st AS (SELECT rdna, relp, ref_nuc, var_nuc, strand, ref_aa, var_aa,
           |    CASE WHEN ref_aa IS NULL THEN NULL
           |         WHEN ref_aa = 'X' OR var_aa = 'X' THEN 'unassignable'
           |         WHEN ref_aa = var_aa THEN 'synonymous' ELSE 'nonsynonymous' END AS syn_status
           |  FROM aa3),
           |aud AS (SELECT *, CAST((relp - 1) % 3 AS INT) AS off FROM st
           |  WHERE syn_status IS NOT NULL AND length(ref_nuc) = 1
           |    AND var_nuc IN ('A','C','G','T')),
           |acod AS (SELECT syn_status, ref_aa, var_aa, strand,
           |    (relp - 1 - off) + 2 < length(rdna) AS ib,
           |    substr(rdna, CAST(relp - off AS INT), 3) AS codon_ref,
           |    substr(rdna, CAST(relp - off AS INT), CAST(off AS INT)) ||
           |      CASE WHEN strand = '-' THEN translate(var_nuc, 'ACGT', 'TGCA')
           |           ELSE var_nuc END ||
           |      substr(rdna, CAST(relp + 1 AS INT),
           |        CAST(2 - off AS INT)) AS codon_var
           |  FROM aud),
           |tr2 AS (SELECT syn_status, ref_aa, var_aa, strand, ib,
           |    ${codonCase("codon_ref")} AS aa_ref_t,
           |    ${codonCase("codon_var")} AS aa_var_t
           |  FROM acod),
           |fl2 AS (SELECT strand, syn_status, ref_aa, var_aa, ib,
           |    (syn_status = 'synonymous' AND aa_ref_t <> aa_var_t)
           |      OR (syn_status = 'nonsynonymous' AND aa_ref_t = aa_var_t) AS sp,
           |    var_aa = aa_var_t AS m
           |  FROM tr2)
           |SELECT
           |  CAST(sum(CASE WHEN strand IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS skipped_no_strand,
           |  CAST(sum(CASE WHEN strand IS NOT NULL AND NOT ib THEN 1 ELSE 0 END)
           |    AS BIGINT) AS skipped_codon_bounds,
           |  CAST(sum(CASE WHEN strand = '-' AND ib THEN 1 ELSE 0 END) AS BIGINT)
           |    AS neg_strand,
           |  CAST(sum(CASE WHEN strand IS NOT NULL AND ib AND m THEN 1 ELSE 0 END)
           |    AS BIGINT) AS matches,
           |  CAST(sum(CASE WHEN strand IS NOT NULL AND ib AND NOT m THEN 1 ELSE 0 END)
           |    AS BIGINT) AS mismatches,
           |  CAST(sum(CASE WHEN strand IS NOT NULL AND ib AND NOT sp THEN 1 ELSE 0 END)
           |    AS BIGINT) AS syn_match,
           |  CAST(sum(CASE WHEN strand IS NOT NULL AND ib AND sp
           |    AND syn_status = 'synonymous' THEN 1 ELSE 0 END) AS BIGINT)
           |    AS syn_mismatch,
           |  CAST(sum(CASE WHEN strand IS NOT NULL AND ib AND sp
           |    AND syn_status = 'nonsynonymous' THEN 1 ELSE 0 END) AS BIGINT)
           |    AS nonsyn_mismatch,
           |  CAST(sum(CASE WHEN strand IS NOT NULL AND ib AND sp AND m
           |    AND (ref_aa = 'X' OR var_aa = 'X') THEN 1 ELSE 0 END) AS BIGINT)
           |    AS syn_xx_match
           |FROM fl2""".stripMargin,

      "q26_conservation_parse" ->
        """WITH n AS (SELECT count(*) AS cnt FROM lineitem),
          |ids AS (SELECT unnest(generate_series(0, (SELECT cnt - 1 FROM n))) AS id),
          |d AS (SELECT id, id // 101 AS b FROM ids WHERE id % 101 <> 0),
          |x AS (SELECT b % 6 AS c, (b*977) % 100000 + 1 AS st, b % 3 + 1 AS sp,
          |  id - b*101 - 1 AS k, id FROM d)
          |SELECT CAST(c AS VARCHAR) AS chr, CAST(st + k*sp AS BIGINT) AS pos,
          |  CAST(CAST((id*37) % 97 AS VARCHAR) || '.' ||
          |    CAST((id*13) % 10 AS VARCHAR) AS DOUBLE) AS score
          |FROM x WHERE c <> 5""".stripMargin,

      "q28_polyphen_load" ->
        """WITH a AS (SELECT doc_id,
          |  'NP_' || CAST(doc_id AS VARCHAR) AS protein_id,
          |  CAST(doc_id % 50 + 1 AS BIGINT) AS o_pos,
          |  substr('ARNDCEQGHILKMFPSTWYV', CAST(doc_id % 20 + 1 AS INT), 1) AS o_aa1,
          |  substr('ARNDCEQGHILKMFPSTWYV',
          |    CAST((doc_id % 20 + doc_id % 19 + 1) % 20 + 1 AS INT), 1) AS o_aa2
          |  FROM documents WHERE doc_id % 11 <> 0)
          |SELECT protein_id, o_pos, o_aa1, o_aa2,
          |  'Q' || CAST(doc_id AS VARCHAR) AS uniprot_acc,
          |  CASE doc_id % 3 WHEN 0 THEN 'benign' WHEN 1 THEN 'possibly damaging'
          |    ELSE 'probably damaging' END AS prediction,
          |  'alignment' AS based_on,
          |  CASE WHEN doc_id % 4 = 0 THEN 'deleterious' ELSE 'neutral' END AS pph2_class,
          |  CAST('0.' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS DOUBLE) AS pph2_prob,
          |  CAST(doc_id * 100 AS BIGINT) AS variant_id,
          |  'G' || CAST(doc_id % 50 AS VARCHAR) AS gene_symbol,
          |  CASE WHEN doc_id % 2 = 0 THEN '+' ELSE '-' END AS strand,
          |  CAST(doc_id * 10 + 1 AS BIGINT) AS transcript_rgd_id
          |FROM a""".stripMargin,

      "q29_clinvar_vcf" ->
        s"""WITH v AS (SELECT doc_id,
           |  CAST(doc_id % 20 + 1 AS VARCHAR) AS chr,
           |  (doc_id * 131) % 1000000 + 1 AS pos,
           |  CASE WHEN doc_id % 7 = 0 THEN '-' WHEN doc_id % 13 = 0 THEN 'ACZT'
           |    WHEN doc_id % 5 = 0 THEN 'AC'
           |    ELSE ${baseOfSql("doc_id")} END AS ref,
           |  CASE WHEN doc_id % 9 = 0 THEN '-'
           |    ELSE ${baseOfSql("(doc_id*3+1)")} END AS vr,
           |  CASE WHEN doc_id % 3 = 0 THEN 'rs' || CAST(doc_id AS VARCHAR)
           |    ELSE '' END AS rs
           |  FROM documents)
           |SELECT concat_ws(chr(9), chr, CAST(pos AS VARCHAR),
           |  'RGDID:' || CAST(doc_id AS VARCHAR) || ';G' ||
           |    CAST(doc_id % 50 AS VARCHAR) || ':c.' || CAST(pos AS VARCHAR),
           |  ref, vr, 'PASS', 'VALIDATED=1',
           |  CASE WHEN length(rs) > 0 THEN 'DB:' || rs ELSE '' END,
           |  'GT;AD;DP', '0/1:8,1:9') AS line
           |FROM v
           |WHERE (ref = '-' OR regexp_matches(ref, '^[ACGTN]+$$'))
           |  AND (vr = '-' OR regexp_matches(vr, '^[ACGTN]+$$'))""".stripMargin,

      "q31_sample_query" ->
        s"""WITH li AS (SELECT 'S' || CAST(l_suppkey % 4 AS VARCHAR) AS sample,
           |  CAST(l_orderkey % 5 AS BIGINT) AS chr,
           |  CAST((l_orderkey*31 + l_linenumber*7) % 100000 AS BIGINT) AS pos,
           |  ${baseOfSql("l_partkey")} AS ref_nuc,
           |  ${baseOfSql("l_suppkey")} AS var_nuc,
           |  CAST(l_quantity AS BIGINT) AS rd,
           |  CAST(l_partkey % 120 AS BIGINT) AS td FROM lineitem)
           |SELECT sample, chr, pos, ref_nuc, var_nuc,
           |  CASE WHEN td > 0 THEN CAST(floor((100*rd + floor(td/2)) / td) AS BIGINT)
           |    ELSE 0 END AS quality_score
           |FROM li
           |WHERE sample IN ('S1', 'S2') AND chr = 3
           |  AND pos BETWEEN 20000 AND 60000
           |  AND (CASE WHEN td > 0 THEN CAST(floor((100*rd + floor(td/2)) / td) AS BIGINT)
           |    ELSE 0 END) >= 50""".stripMargin,

      "q30_fixups" ->
        s"""WITH li AS (SELECT CAST(l_orderkey % 5 AS BIGINT) AS chr,
           |  CAST((l_orderkey*31 + l_linenumber*7) % 100000 AS BIGINT) AS pos,
           |  l_orderkey,
           |  CASE l_partkey % 5 WHEN 0 THEN '-' WHEN 1 THEN 'A' WHEN 2 THEN 'AC'
           |    WHEN 3 THEN 'ACG' ELSE 'ACGT' END AS ref_seq,
           |  CASE l_suppkey % 5 WHEN 0 THEN '-' WHEN 1 THEN 'G' WHEN 2 THEN 'GT'
           |    WHEN 3 THEN 'GTA' ELSE 'GTAC' END AS var_seq
           |  FROM lineitem),
           |c AS (SELECT *,
           |  CASE WHEN ref_seq LIKE '%-%' OR var_seq LIKE '%-%' THEN 'del'
           |    WHEN length(ref_seq) < length(var_seq) THEN 'ins'
           |    WHEN length(ref_seq) > length(var_seq) THEN 'del'
           |    WHEN length(ref_seq) = 1 AND length(var_seq) = 1 THEN 'snv' END AS type_c,
           |  CASE WHEN (CASE WHEN var_seq LIKE '%-%' THEN length(ref_seq)
           |    WHEN ref_seq LIKE '%-%' THEN length(var_seq)
           |    ELSE abs(length(ref_seq) - length(var_seq)) END) % 3 = 0
           |    THEN 'F' ELSE 'T' END AS fs_c
           |  FROM li),
           |g AS ($partGenesSql),
           |gs AS (SELECT c.*, CASE WHEN EXISTS (SELECT 1 FROM g WHERE g.chr = c.chr
           |  AND c.pos BETWEEN g.gstart AND g.gstop) THEN 'genic'
           |  ELSE 'intergenic' END AS genic_c FROM c),
           |a AS (SELECT
           |  CASE WHEN (CASE WHEN l_orderkey % 7 = 0 THEN 'snv' ELSE type_c END)
           |    IS NOT DISTINCT FROM type_c THEN 'up_to_date' ELSE 'update' END AS type_action,
           |  CASE WHEN (CASE WHEN l_orderkey % 11 = 0
           |    THEN (CASE WHEN fs_c = 'T' THEN 'F' ELSE 'T' END) ELSE fs_c END) = fs_c
           |    THEN 'up_to_date' ELSE 'update' END AS fs_action,
           |  CASE WHEN (CASE WHEN l_orderkey % 2 = 0 THEN 'genic' ELSE 'intergenic' END) = genic_c
           |    THEN 'up_to_date' ELSE 'update' END AS genic_action
           |  FROM gs)
           |SELECT type_action, fs_action, genic_action, count(*) AS n
           |FROM a GROUP BY 1, 2, 3""".stripMargin,

      // vcf_parse input lines are deterministic concats of lineitem columns
      // (see the queries entry), so the oracle re-derives the parser's
      // output per VcfToCommonFormat2Converter semantics: one row per
      // strain per non-ref allele; "./." genotypes dropped; AD[1] is the
      // alt allele's depth; read_depth = sum(AD); DP = total_depth.
      "vcf_parse" ->
        """WITH li AS (SELECT CAST(l_orderkey % 5 + 1 AS VARCHAR) AS chr, l_orderkey,
          |  CAST(l_quantity AS BIGINT) % 40 AS q40, CAST(l_linenumber AS BIGINT) AS ln,
          |  CAST(l_suppkey % 9 AS BIGINT) AS s9 FROM lineitem),
          |u AS (
          |  SELECT 'STRAIN_A' AS strain, chr, q40 + ln AS read_depth, ln AS allele_depth FROM li
          |  UNION ALL
          |  SELECT 'STRAIN_B', chr, s9, s9 FROM li WHERE l_orderkey % 7 <> 0)
          |SELECT strain, chr, count(*) AS n_variants,
          |  CAST(sum(read_depth) AS BIGINT) AS sum_read_depth,
          |  CAST(sum(allele_depth) AS BIGINT) AS sum_allele_depth
          |FROM u GROUP BY strain, chr""".stripMargin,

      // arithmetic re-derivation of the write→parse cycle: surviving
      // cells are exactly the non-0/0 genotypes (missing cells are
      // written ./.:0,0:0 and parser-dropped); allele_depth = the AD
      // alt slot, read_depth = AD sum, total_depth = the DP field
      "vcf_roundtrip" ->
        """WITH c AS (SELECT CAST(l_orderkey % 5 AS BIGINT) AS chr,
          |  CAST((l_orderkey*31 + l_linenumber*7) % 100000 AS BIGINT) AS pos,
          |  CAST(l_suppkey % 4 AS BIGINT) AS idx,
          |  CASE (l_partkey + l_suppkey) % 3 WHEN 0 THEN '0/1'
          |    WHEN 1 THEN '1/1' ELSE '0/0' END AS gt
          |  FROM lineitem),
          |g AS (SELECT chr, pos, idx, max(gt) AS gt FROM c GROUP BY 1, 2, 3),
          |k AS (SELECT chr, pos, idx,
          |  (pos + idx*2) % 20 AS adref,
          |  1 + (pos*3 + idx) % 15 AS adalt
          |  FROM g WHERE gt IN ('0/1', '1/1'))
          |SELECT 'S' || CAST(idx AS VARCHAR) AS strain,
          |  CAST(chr AS VARCHAR) AS chr,
          |  count(*) AS n_variants,
          |  CAST(sum(adalt) AS BIGINT) AS sum_allele_depth,
          |  CAST(sum(adref + adalt) AS BIGINT) AS sum_read_depth,
          |  CAST(sum(adref + adalt + 1) AS BIGINT) AS sum_total_depth
          |FROM k GROUP BY 1, 2""".stripMargin,

      // composed pipeline twin: same synthesized lines; strain A rows
      // always survive the zygosity filter (varReads = linenumber ≥ 1),
      // strain B rows survive when present (okey % 7 ≠ 0) and s9 > 0;
      // all synthesized variants are SNVs so end_pos = pos + 1
      "variant_pipeline" ->
        s"""WITH li AS (SELECT CAST(l_orderkey % 5 + 1 AS VARCHAR) AS chr,
           |  CAST((l_orderkey*31 + l_linenumber*7) % 100000 AS BIGINT) AS pos,
           |  ${baseOfSql("l_partkey")} AS ref_nuc,
           |  ${baseOfSql("(l_partkey + 1)")} AS var_nuc,
           |  CAST(l_suppkey % 9 AS BIGINT) AS s9, l_orderkey FROM lineitem),
           |rows_kept AS (
           |  SELECT chr, pos, ref_nuc, var_nuc FROM li
           |  UNION ALL
           |  SELECT chr, pos, ref_nuc, var_nuc FROM li
           |  WHERE l_orderkey % 7 <> 0 AND s9 > 0),
           |v AS (SELECT DISTINCT chr, pos, pos + 1 AS end_pos, ref_nuc,
           |  var_nuc, 'snv' AS variant_type FROM rows_kept),
           |e AS (SELECT chr, pos, end_pos, ref_nuc, var_nuc, variant_type,
           |  1 AS hit FROM v WHERE pos % 3 = 0)
           |SELECT merge_action, count(*) AS n_variants FROM (
           |  SELECT CASE WHEN hit IS NOT NULL THEN 'already_in_rgd'
           |    ELSE 'insert' END AS merge_action
           |  FROM v LEFT JOIN e
           |    USING (chr, pos, end_pos, ref_nuc, var_nuc, variant_type))
           |GROUP BY merge_action""".stripMargin,

      // vcf8_parse: INFO DP/AC depths; ref-allele depth imputed as
      // DP − ΣAC when positive; one row per ALT allele. ACGT counts read
      // off the allele→depth table (ref at base index k=l_partkey%4,
      // alt1 at (k+1)%4, alt2 — multi-allelic lines only — at (k+2)%4).
      "vcf8_parse" ->
        """WITH li AS (SELECT CAST(l_orderkey % 5 + 1 AS VARCHAR) AS chr,
          |  l_orderkey % 4 = 0 AS multi,
          |  CAST(l_partkey % 4 AS BIGINT) AS k,
          |  CAST(l_quantity AS BIGINT) + 10 AS dp,
          |  CAST(l_linenumber AS BIGINT) + 2 AS ac1,
          |  CAST(l_suppkey % 5 + 1 AS BIGINT) AS ac2
          |  FROM lineitem),
          |d AS (SELECT *, dp - (CASE WHEN multi THEN ac1 + ac2 ELSE ac1 END) AS refdep FROM li),
          |e AS (SELECT *,
          |  CASE WHEN (k+1) % 4 = 0 THEN ac1
          |       WHEN multi AND (k+2) % 4 = 0 THEN ac2
          |       WHEN k = 0 AND refdep > 0 THEN refdep
          |       ELSE 0 END AS count_a FROM d),
          |r AS (
          |  SELECT chr, ac1 AS allele_depth, count_a FROM e
          |  UNION ALL
          |  SELECT chr, ac2, count_a FROM e WHERE multi)
          |SELECT chr, count(*) AS n_rows,
          |  CAST(sum(allele_depth) AS BIGINT) AS sum_allele_depth,
          |  CAST(sum(count_a) AS BIGINT) AS sum_count_a
          |FROM r GROUP BY chr""".stripMargin,

      // sample dim twin: same suffix filter, same name-ordered sequential
      // ids, same metadata overlay for ids divisible by 3
      "sample_load" ->
        """WITH f AS (SELECT s_name AS sample_name FROM supplier
          |  WHERE s_suppkey % 10 <> 0),
          |r AS (SELECT sample_name,
          |  CAST(1000 + row_number() OVER (ORDER BY sample_name) - 1 AS BIGINT)
          |    AS sample_id FROM f)
          |SELECT sample_id, sample_name,
          |  CASE WHEN sample_id % 3 = 0 THEN 'F' ELSE 'U' END AS gender,
          |  CASE WHEN sample_id % 3 = 0 THEN 'rn6-metadata' ELSE 'rn6' END
          |    AS description,
          |  600 AS patient_id, 360 AS map_key
          |FROM r""".stripMargin,

      // feature census twin: same synthesis, same handleUtr case ladder
      // (3-UTR tested first, hit short-circuits), same three rollups
      "feature_count" ->
        """WITH g AS (SELECT p_partkey AS gene_id,
          |  CAST(CAST(p_partkey % 5 AS BIGINT) AS VARCHAR) AS chr,
          |  CAST((p_partkey*137) % 100000 AS BIGINT) AS gstart,
          |  CAST(60 + (p_partkey*13) % 200 AS BIGINT) AS span FROM part),
          |g2 AS (SELECT *, gstart + span AS gstop, gene_id % 3 + 1 AS n,
          |  CAST(floor(span / (gene_id % 3 + 1)) AS BIGINT) AS elen,
          |  gene_id % 4 AS mode FROM g),
          |tr AS (SELECT gene_id * 10 AS tr_id, gene_id, chr, gstart, gstop,
          |  n, elen, mode FROM g2 WHERE gene_id % 19 <> 0),
          |exon AS (SELECT tr_id, gstart + i*elen AS fstart,
          |  gstart + (i+1)*elen - 5 AS fstop
          |  FROM (SELECT *, unnest(generate_series(0, n-1)) AS i FROM tr)),
          |utr AS (
          |  SELECT tr_id, gstart AS us, gstart+10 AS ue, '5' AS kind FROM tr WHERE mode = 1
          |  UNION ALL SELECT tr_id, gstop-10, gstop, '3' FROM tr WHERE mode = 1
          |  UNION ALL SELECT tr_id, gstart+6, gstart+9, '3' FROM tr WHERE mode = 2
          |  UNION ALL SELECT tr_id, gstop+100, gstop+110, '5' FROM tr WHERE mode = 3),
          |ur AS (SELECT tr_id,
          |  min(CASE WHEN kind='3' THEN us END) AS u3s,
          |  min(CASE WHEN kind='3' THEN ue END) AS u3e,
          |  min(CASE WHEN kind='5' THEN us END) AS u5s,
          |  min(CASE WHEN kind='5' THEN ue END) AS u5e
          |  FROM utr GROUP BY tr_id),
          |ec AS (SELECT e.tr_id,
          |  CASE WHEN u3s IS NOT NULL AND fstop >= u3s AND fstart <= u3e THEN
          |    '3' || CASE WHEN fstart >= u3s AND fstop <= u3e THEN 'a'
          |                WHEN fstart >= u3s AND fstop > u3e THEN 'b'
          |                WHEN fstart < u3s AND fstop <= u3e THEN 'c' ELSE 'd' END
          |  WHEN u5s IS NOT NULL AND fstop >= u5s AND fstart <= u5e THEN
          |    '5' || CASE WHEN fstart >= u5s AND fstop <= u5e THEN 'a'
          |                WHEN fstart >= u5s AND fstop > u5e THEN 'b'
          |                WHEN fstart < u5s AND fstop <= u5e THEN 'c' ELSE 'd' END
          |  ELSE 'x' END AS cls
          |  FROM exon e LEFT JOIN ur ON ur.tr_id = e.tr_id),
          |pt AS (SELECT tr_id, count(*) AS n_exons,
          |  sum(CASE WHEN cls IN ('3a','3b','3c') THEN 1 ELSE 0 END) AS n_utr3,
          |  sum(CASE WHEN cls IN ('5a','5b','5c') THEN 1 ELSE 0 END) AS n_utr5,
          |  sum(CASE WHEN cls IN ('3b','3c','5b','5c','x') THEN 1 ELSE 0 END) AS n_cds,
          |  max(CASE WHEN cls IN ('3d','5d') THEN 1 ELSE 0 END) AS has_issue
          |  FROM ec GROUP BY tr_id),
          |ta AS (SELECT tr.chr, count(*) AS n_transcripts,
          |  CAST(coalesce(sum(n_exons),0) AS BIGINT) AS n_exons,
          |  CAST(coalesce(sum(n_utr3),0) AS BIGINT) AS n_utr3,
          |  CAST(coalesce(sum(n_utr5),0) AS BIGINT) AS n_utr5,
          |  CAST(coalesce(sum(n_cds),0) AS BIGINT) AS n_cds,
          |  CAST(coalesce(sum(has_issue),0) AS BIGINT) AS n_tr_issues
          |  FROM tr LEFT JOIN pt ON pt.tr_id = tr.tr_id GROUP BY tr.chr),
          |ga AS (SELECT g2.chr, count(*) AS n_genes,
          |  CAST(sum(CASE WHEN m.gene_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_mapped_genes
          |  FROM g2 LEFT JOIN (SELECT DISTINCT gene_id FROM tr) m
          |    ON m.gene_id = g2.gene_id
          |  GROUP BY g2.chr)
          |SELECT ga.chr, n_genes, n_mapped_genes,
          |  CAST(coalesce(n_transcripts,0) AS BIGINT) AS n_transcripts,
          |  coalesce(n_exons,0) AS n_exons, coalesce(n_utr3,0) AS n_utr3,
          |  coalesce(n_utr5,0) AS n_utr5, coalesce(n_cds,0) AS n_cds,
          |  coalesce(n_tr_issues,0) AS n_tr_issues
          |FROM ga LEFT JOIN ta ON ta.chr = ga.chr""".stripMargin,

      // genotype tallies: lines failing the gate (multi-allelic %11,
      // AD/DP-less %13) never tally; kept lines tally BOTH strains' cells
      "vcf_genotype_counts" ->
        """WITH li AS (SELECT l_orderkey AS o FROM lineitem
          |  WHERE l_orderkey % 11 <> 0 AND l_orderkey % 13 <> 0),
          |u AS (
          |  SELECT 'STRAIN_A' AS strain,
          |    CASE WHEN o % 3 = 0 THEN '0/0' ELSE '0/1' END AS genotype FROM li
          |  UNION ALL
          |  SELECT 'STRAIN_B',
          |    CASE WHEN o % 7 = 0 THEN './.' ELSE '1/1' END FROM li)
          |SELECT strain, genotype, count(*) AS n
          |FROM u GROUP BY strain, genotype""".stripMargin,

      "q22_snpeff_parse" ->
        s"""WITH li AS (SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           |  CASE WHEN l_orderkey % 3 = 0 THEN 'missense_variant'
           |    WHEN l_orderkey % 3 = 1 THEN 'synonymous_variant'
           |    ELSE 'stop_gained' END AS eff,
           |  CASE WHEN l_orderkey % 2 = 0 THEN 'MODERATE' ELSE 'HIGH' END AS impact,
           |  'G' || CAST(l_partkey % 50 AS VARCHAR) AS gene FROM lineitem),
           |src AS (SELECT 'DP=' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) || ';ANN='
           |  || ${baseOfSql("l_suppkey")} || '|' || eff || '|' || impact || '|' || gene
           |  || '|ID' || CAST(l_partkey % 50 AS VARCHAR)
           |  || '|transcript|T1|protein_coding|1|c.1A>G|p.K1E'
           |  || CASE WHEN l_linenumber % 2 = 0 THEN
           |    ',' || ${baseOfSql("(l_suppkey + 1)")} ||
           |    '|upstream_gene_variant|MODIFIER|' || gene || '|ID|transcript|T2|protein_coding|||'
           |  ELSE '' END AS info FROM li),
           |ann AS (SELECT unnest(string_split(regexp_extract(info, '(?:^|;)ANN=([^;]*)', 1), ','))
           |  AS annotation FROM src WHERE length(regexp_extract(info, '(?:^|;)ANN=([^;]*)', 1)) > 0),
           |parsed AS (SELECT
           |  CASE WHEN length(split_part(annotation, '|', 2)) > 0
           |    THEN split_part(annotation, '|', 2) END AS effect,
           |  CASE WHEN length(split_part(annotation, '|', 3)) > 0
           |    THEN split_part(annotation, '|', 3) END AS impact,
           |  CASE WHEN length(split_part(annotation, '|', 4)) > 0
           |    THEN split_part(annotation, '|', 4) END AS gene_symbol
           |  FROM ann)
           |SELECT effect, impact, count(*) AS n, count(DISTINCT gene_symbol) AS n_genes
           |FROM parsed GROUP BY effect, impact""".stripMargin,

      "q23_polyphen_prep" ->
        """SELECT doc_id, CAST(doc_id % 32 + 1 AS BIGINT) AS aa_pos,
          |substr(upper(md5(text)), CAST(doc_id % 32 + 1 AS INT), 1) AS ref_aa,
          |substr(upper(md5(text)),
          |  greatest(1, CAST(doc_id % 32 + 1 AS INT) - 5), 11) AS aa_window
          |FROM documents""".stripMargin,

      "q25_nearest_gene" ->
        s"""WITH p AS (SELECT DISTINCT chr,
           |  CAST((l_orderkey*6151 + l_linenumber*131) % 10000000 AS BIGINT) AS pos
           |  FROM ($liVariantsSql)),
           |g AS (SELECT p_partkey AS gene_id, CAST(p_partkey % 5 AS BIGINT) AS chr,
           |  CAST((p_partkey*5137) % 10000000 AS BIGINT) AS gstart,
           |  CAST((p_partkey*5137) % 10000000 + 50 + (p_partkey*97) % 2000 AS BIGINT) AS gstop
           |  FROM part),
           |cand AS (SELECT p.chr, p.pos, g.gene_id, g.gstart,
           |  greatest(0, g.gstart - p.pos, p.pos - g.gstop) AS distance
           |  FROM p JOIN g ON p.chr = g.chr
           |    AND p.pos BETWEEN g.gstart - 5000 AND g.gstop + 5000),
           |best AS (SELECT *, row_number() OVER (PARTITION BY chr, pos
           |  ORDER BY distance, gstart, gene_id) AS rn FROM cand)
           |SELECT chr, count(*) AS n_points, CAST(sum(distance) AS BIGINT) AS sum_distance
           |FROM best WHERE rn = 1 GROUP BY chr""".stripMargin,

      "q27_frameshift" ->
        """WITH v AS (SELECT
          |  CASE l_partkey % 4 WHEN 0 THEN '' WHEN 1 THEN 'A' WHEN 2 THEN 'AC'
          |    ELSE 'ACGT' END AS ref_seq,
          |  CASE l_suppkey % 4 WHEN 0 THEN '' WHEN 1 THEN 'G' WHEN 2 THEN 'GT'
          |    ELSE 'GTCA' END AS var_seq
          |  FROM lineitem)
          |SELECT CASE WHEN length(ref_seq) = 0 THEN 'insertion'
          |    WHEN length(var_seq) = 0 THEN 'deletion' ELSE 'snv' END AS variant_type,
          |  CASE WHEN abs(length(ref_seq) - length(var_seq)) % 3 <> 0 THEN 'T'
          |    ELSE 'F' END AS frame_shift,
          |  count(*) AS n
          |FROM v GROUP BY 1, 2""".stripMargin,

      "corpus_curate" -> {
        val caseChain = langScore.toSeq.sortBy(_._1)
          .map { case (lang, _) => s"WHEN top > 0 AND s_$lang = top THEN '$lang'" }
          .mkString(" ")
        val scoreCols = langScore.toSeq.sortBy(_._1)
          .map { case (lang, e) => s"($e) AS s_$lang" }.mkString(", ")
        val greatestExpr = langScore.keys.toSeq.sorted.map("s_" + _).mkString(", ")
        val stopEn = TextAnalysis.markers("en").map(w =>
          s"CAST(floor((length(t) - length(regexp_replace(t, '\\b$w\\b', '', 'g'))) / ${w.length}) AS INT)")
          .mkString(" + ")
        s"""WITH base AS (SELECT doc_id, lang, md5($normTextSql) AS fingerprint,
           |    $normTextSql AS t FROM documents),
           |keep AS (SELECT fingerprint, MIN(doc_id) AS doc_id FROM base GROUP BY fingerprint),
           |dd AS (SELECT b.* FROM base b JOIN keep k
           |  ON k.fingerprint = b.fingerprint AND k.doc_id = b.doc_id),
           |feat AS (SELECT *, length(t) AS nc,
           |  CASE WHEN length(t) = 0 THEN 0 ELSE array_length(string_split(t, ' ')) END AS n_tokens,
           |  length(t) - length(regexp_replace(t, '[[:punct:]]', '', 'g')) AS punct,
           |  $stopEn AS stop,
           |  length(regexp_replace(t, ' ', '', 'g')) AS len_nospace FROM dd),
           |rat AS (SELECT *,
           |  CASE WHEN nc > 0 THEN CAST(punct AS DOUBLE) / nc ELSE 0 END AS punct_ratio,
           |  CASE WHEN n_tokens > 0 THEN CAST(stop AS DOUBLE) / n_tokens ELSE 0 END AS stop_ratio,
           |  CASE WHEN n_tokens > 0 THEN CAST(len_nospace AS DOUBLE) / n_tokens ELSE 0 END AS mean_tok_len
           |  FROM feat),
           |q AS (SELECT *, round(CASE WHEN n_tokens = 0 THEN 0
           |  ELSE greatest(0.0, least(100.0,
           |    100.0 - punct_ratio * 200.0 + least(stop_ratio * 100.0, 10.0)
           |    - (CASE WHEN mean_tok_len > 12.0 THEN (mean_tok_len - 12.0) * 5.0 ELSE 0 END)
           |    - (CASE WHEN nc < 20 THEN 50.0 ELSE 0 END))) END, 2) AS quality FROM rat),
           |gated AS (SELECT * FROM q WHERE quality >= 30.0 AND n_tokens >= 5),
           |lng AS (SELECT *, CASE $caseChain ELSE 'und' END AS lang_pred FROM (
           |  SELECT *, greatest($greatestExpr) AS top FROM (
           |    SELECT *, $scoreCols FROM gated))),
           |sh AS (SELECT DISTINCT doc_id,
           |    lang || '|' || CAST(CAST(floor(nc / 100) AS BIGINT) AS VARCHAR) AS block,
           |    substr(t, CAST(i AS INT), 3) AS sh
           |  FROM (SELECT doc_id, lang, nc, t, unnest(generate_series(1, length(t)-2)) AS i
           |    FROM lng WHERE length(t) >= 3)),
           |dfreq AS (SELECT block, sh, count(*) AS dfreq FROM sh GROUP BY block, sh),
           |rare AS (SELECT s.doc_id, s.block, s.sh FROM sh s
           |  JOIN dfreq d ON d.block = s.block AND d.sh = s.sh WHERE d.dfreq <= 8),
           |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM rare a JOIN rare b ON a.block = b.block AND a.sh = b.sh
           |    AND a.doc_id < b.doc_id),
           |inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter
           |  FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
           |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
           |  GROUP BY c.id_a, c.id_b),
           |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
           |losers AS (SELECT DISTINCT id_b AS doc_id FROM inter
           |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
           |  WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.6),
           |kept AS (SELECT * FROM lng WHERE doc_id NOT IN (SELECT doc_id FROM losers))
           |SELECT lang_pred, count(*) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           |  round(avg(quality), 2) AS avg_quality
           |FROM kept GROUP BY lang_pred""".stripMargin
      },

      // real header-codec decode (BMP width/height, WAV rate/channels,
      // opaque video → 0,0) re-derived from the payload formulas
      // video rows are real minimal AVIs: RIFF(8) + 'AVI '(4) + hdrl
      // LIST(76) + movi LIST(12 + 24 per 16-byte frame chunk), with
      // 1 + doc_id % 3 frames — so n_bytes = 124 + 24*(doc_id % 3) and
      // width/height come off the avih header the decoder now parses
      "multimodal_meta" ->
        """SELECT CAST(doc_id AS BIGINT) AS media_id,
          |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
          |    ELSE 'video' END AS kind,
          |  CAST(CASE doc_id % 3 WHEN 0 THEN 54 WHEN 1 THEN 44
          |    ELSE 124 + 24 * (doc_id % 3) END AS INT) AS n_bytes,
          |  CAST(CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 256
          |    WHEN 1 THEN 8000 + (doc_id % 8) * 1000
          |    ELSE 32 + doc_id % 64 END AS INT) AS width,
          |  CAST(CASE doc_id % 3 WHEN 0 THEN 16 + (doc_id * 7) % 256
          |    WHEN 1 THEN 1 + doc_id % 2 ELSE 24 + doc_id % 48 END AS INT) AS height
          |FROM documents""".stripMargin,

      // the negative path graded: residues 3 (JPEG header — needs a
      // real decoder) and 4 (truncated RIFF) MUST land in the
      // quarantine column; decoded dimension sums re-derived from the
      // same synthesis formulas as multimodal_meta
      "multimodal_quarantine" ->
        """WITH cls AS (SELECT doc_id,
          |  CASE WHEN doc_id % 5 IN (0, 3) THEN 'image'
          |    WHEN doc_id % 5 IN (1, 4) THEN 'audio'
          |    ELSE 'video' END AS kind,
          |  CASE WHEN doc_id % 5 <= 2 THEN 1 ELSE 0 END AS dec,
          |  CASE doc_id % 5 WHEN 0 THEN 16 + doc_id % 256
          |    WHEN 1 THEN 8000 + (doc_id % 8) * 1000
          |    WHEN 2 THEN 32 + doc_id % 64 ELSE 0 END AS w,
          |  CASE doc_id % 5 WHEN 0 THEN 16 + (doc_id * 7) % 256
          |    WHEN 1 THEN 1 + doc_id % 2
          |    WHEN 2 THEN 24 + doc_id % 48 ELSE 0 END AS h
          |  FROM documents)
          |SELECT kind, count(*) AS n_total,
          |  CAST(sum(dec) AS BIGINT) AS n_decoded,
          |  CAST(count(*) - sum(dec) AS BIGINT) AS n_quarantined,
          |  CAST(sum(w) AS BIGINT) AS sum_w,
          |  CAST(sum(h) AS BIGINT) AS sum_h
          |FROM cls GROUP BY 1""".stripMargin,

      "dedup_exact" ->
        s"""SELECT n_docs, count(*) AS n_groups FROM (
           |  SELECT md5($normTextSql) AS fp, count(*) AS n_docs
           |  FROM documents GROUP BY 1)
           |GROUP BY n_docs""".stripMargin,

      // dedup_exact's md5 grouping joined to quality_gopher's keep
      // derivation (both shared CTE chains), bucketed by group size
      "corpus_dup_quality" ->
        s"""WITH base AS (SELECT doc_id, $normTextSql AS t FROM documents),
           |hsh AS (SELECT doc_id, md5(t) AS fp FROM base),
           |gs AS (SELECT fp, count(*) AS group_size FROM hsh GROUP BY 1),
           |${gopherCtes("base")},
           |k AS (SELECT doc_id,
           |  CASE WHEN $gopherKeepSql THEN 1 ELSE 0 END AS keep FROM fr),
           |j AS (SELECT gs.group_size, k.keep FROM hsh
           |  JOIN gs USING (fp) JOIN k USING (doc_id))
           |SELECT group_size, count(*) AS n_docs,
           |  CAST(sum(keep) AS BIGINT) AS n_keep,
           |  CAST(round(10000.0 * sum(keep) / count(*)) AS BIGINT)
           |    AS keep_rate4
           |FROM j GROUP BY 1""".stripMargin,

      "dedup_ngram_jaccard" ->
        s"""WITH $jaccardPairCtes
           |SELECT id_a, id_b, n_inter, n_a, n_b, jaccard FROM jp""".stripMargin,

      // minhash signature re-derived from the same md5 windows: families
      // 0-7 = stride-3 8-hex windows of md5(sh), 8-15 of md5('x'||sh)
      // signature table straight off the shared band CTE block (the
      // unreferenced bands CTE costs nothing — DuckDB only materializes
      // CTEs the final query reaches)
      "dedup_minhash" ->
        s"""WITH $minhashBandCtes
           |SELECT doc_id, ${(0 until 16).map(i => s"h$i").mkString(", ")}
           |FROM sig""".stripMargin,

      // banded-candidate twin: same signatures; a band matches when all 4
      // of its minhashes agree, so the oracle joins on the raw band values
      // (Spark's xxhash64 band bucket is only a shuffle-key compaction);
      // same maxBucket=4096 mega-bucket drop per band group
      "dedup_minhash_pairs" ->
        s"""WITH $minhashPairCtes
           |SELECT id_a, id_b FROM prs""".stripMargin,

      // transitive closure of the SAME confirmed-pair derivation: every
      // document's group is the min doc_id reachable over the verified
      // near-dup graph (recursive CTE = the declarative twin of the
      // Spark side's min-label propagation loop)
      "dedup_groups" ->
        s"""WITH RECURSIVE $jaccardPairCtes,
           |edges AS (SELECT id_a AS src, id_b AS dst FROM jp
           |  UNION SELECT id_b AS src, id_a AS dst FROM jp),
           |reach(id, lbl) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.lbl)
           |SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS group_id
           |FROM reach GROUP BY 1""".stripMargin,

      // simhash twin: same md5-derived 60-bit token hashes, ±1 bit votes,
      // sign → bit, top-16-bit blocking key
      "dedup_simhash" -> {
        val votes = (0 until 60).map(i =>
          s"sum(CASE WHEN (th >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
          .mkString(",\n  ")
        val sig = (0 until 60).map(i =>
          s"(CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
        s"""WITH t AS (SELECT doc_id, $normTextSql AS t FROM documents),
           |tok AS (SELECT doc_id, tk FROM (
           |  SELECT doc_id, unnest(string_split(t, ' ')) AS tk FROM t)
           |  WHERE length(tk) > 0),
           |th AS (SELECT doc_id,
           |  CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) AS th FROM tok),
           |v AS (SELECT doc_id,
           |  $votes
           |  FROM th GROUP BY doc_id),
           |s AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM v)
           |SELECT doc_id, simhash, simhash >> 44 AS bucket FROM s""".stripMargin
      },

      // IVF twin: the 16 quantizer centroids as double literals; same
      // |c|²−2·v·c assignment key (ties to lowest centroid id), same
      // nprobe=2 probe, same within-list cosine + rank
      // both paths' CTE chains verbatim (ann_cosine_topk + ann_ivf),
      // joined on the (query, corpus) pair and collapsed to recall@5
      "ann_recall_audit" -> {
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
           |bq AS (SELECT vec_id AS query_id, vv AS qv FROM v
           |  WHERE vec_id % 50 = 0),
           |bs AS (SELECT query_id, vec_id AS corpus_id,
           |  round(CASE WHEN sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(vv,vv)) > 0
           |    THEN list_dot_product(qv,vv) /
           |      (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(vv,vv)))
           |    ELSE 0 END, 6) AS cos_sim
           |  FROM bq, v WHERE vec_id <> query_id),
           |brute AS (SELECT query_id, corpus_id FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY cos_sim DESC, corpus_id) AS rank FROM bs)
           |  WHERE rank <= 5),
           |d AS (
           |  ${coarseDistRows(Similarity.ivfQuantizer(16, 64))}),
           |rnk AS (SELECT vec_id, c,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM d),
           |asn AS (SELECT a.vec_id AS corpus_id, a.c AS list_id, vv AS cv
           |  FROM rnk a JOIN v ON v.vec_id = a.vec_id WHERE a.rn = 1),
           |prb AS (SELECT p.vec_id AS query_id, p.c AS list_id, vv AS qv
           |  FROM rnk p JOIN v ON v.vec_id = p.vec_id
           |  WHERE p.rn <= 2 AND p.vec_id % 50 = 0),
           |ivs AS (SELECT query_id, corpus_id,
           |  round(CASE WHEN sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)) > 0
           |    THEN list_dot_product(qv,cv) /
           |      (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)))
           |    ELSE 0 END, 6) AS cos_sim
           |  FROM prb JOIN asn USING (list_id) WHERE corpus_id <> query_id),
           |ivf AS (SELECT query_id, corpus_id FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY cos_sim DESC, corpus_id) AS rank FROM ivs)
           |  WHERE rank <= 5),
           |h AS (SELECT count(*) AS n_hits FROM brute JOIN ivf
           |  USING (query_id, corpus_id))
           |SELECT (SELECT count(DISTINCT query_id) FROM brute) AS n_queries,
           |  (SELECT count(*) FROM brute) AS n_truth, n_hits,
           |  CAST(round(10000.0 * n_hits /
           |    (SELECT count(*) FROM brute)) AS BIGINT) AS recall4
           |FROM h""".stripMargin
      },

      "ann_ivf" -> ivfProbeOracle("p.vec_id % 50 = 0"),

      // probe-from-disk is result-identical to ann_ivf (only WHERE the
      // assignment cost is paid changes — write time vs probe time), so
      // the oracle replays the same assignment/probe/score chain
      "ann_ivf_probe_disk" -> ivfProbeOracle("p.vec_id % 50 = 0"),

      // probe-many: the same persisted index answering a ~7x larger
      // query batch — the oracle differs only in the batch predicate
      "ann_ivf_probe_batch" -> ivfProbeOracle("p.vec_id % 7 = 3"),

      // pigeonhole-blocked simhash pairs: same signature derivation, 4
      // blocks of 15 bits, same maxBucket cap, exact hamming via
      // bit_count(xor)
      "dedup_simhash_pairs" -> {
        val votes = (0 until 60).map(i =>
          s"sum(CASE WHEN (th >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
          .mkString(",\n  ")
        val sigExpr = (0 until 60).map(i =>
          s"(CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
        val blockRows = (0 until 4).map(b =>
          s"SELECT doc_id, simhash, $b AS blk, (simhash >> ${b * 15}) & 32767 AS key FROM s")
          .mkString("\n  UNION ALL ")
        s"""WITH t AS (SELECT doc_id, $normTextSql AS t FROM documents),
           |tok AS (SELECT doc_id, tk FROM (
           |  SELECT doc_id, unnest(string_split(t, ' ')) AS tk FROM t)
           |  WHERE length(tk) > 0),
           |th AS (SELECT doc_id,
           |  CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) AS th FROM tok),
           |v AS (SELECT doc_id,
           |  $votes
           |  FROM th GROUP BY doc_id),
           |s AS (SELECT doc_id, CAST($sigExpr AS BIGINT) AS simhash FROM v),
           |blocks AS (
           |  $blockRows),
           |sz AS (SELECT blk, key, count(*) AS n FROM blocks GROUP BY blk, key),
           |bb AS (SELECT blocks.* FROM blocks
           |  JOIN sz USING (blk, key) WHERE sz.n BETWEEN 2 AND 4096)
           |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
           |FROM bb a JOIN bb b ON a.blk = b.blk AND a.key = b.key
           |  AND a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin
      },

      // smooth-idf TF-IDF: idf rounded to 4dp BEFORE the multiply (then
      // the product to 6dp) so an ulp of ln() disagreement between
      // engines' libm cannot flip a value; rank on the rounded score
      "text_tfidf" ->
        s"""WITH t AS (SELECT doc_id, $normTextSql AS t FROM documents),
           |tok AS (SELECT doc_id, tk AS term FROM (
           |  SELECT doc_id, unnest(string_split(t, ' ')) AS tk FROM t)
           |  WHERE length(tk) > 0),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
           |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |n AS (SELECT count(*) AS n_docs FROM documents),
           |s AS (SELECT doc_id, term, round(tf *
           |    round(ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) + 1, 4), 6) AS tfidf
           |  FROM tf JOIN df USING (term), n)
           |SELECT doc_id, term, tfidf, rank FROM (
           |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
           |    ORDER BY tfidf DESC, term) AS BIGINT) AS rank FROM s)
           |WHERE rank <= 3""".stripMargin,

      // winnowing twin: same md5-32-bit gram hashes, same window minima,
      // same full-window cutoff
      "text_winnow" ->
        s"""WITH t AS (SELECT doc_id, $normTextSql AS t FROM documents),
           |g AS (SELECT doc_id, i,
           |  CAST('0x' || substr(md5(substr(t, CAST(i AS INT), 5)), 1, 8) AS BIGINT) AS h
           |  FROM (SELECT doc_id, t, unnest(generate_series(1, length(t) - 4)) AS i
           |    FROM t WHERE length(t) >= 5)),
           |w AS (SELECT doc_id, i,
           |  count(*) OVER (PARTITION BY doc_id) AS n_grams,
           |  min(h) OVER (PARTITION BY doc_id ORDER BY i
           |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win_min
           |  FROM g)
           |SELECT DISTINCT doc_id, win_min AS fp FROM w
           |WHERE i <= n_grams - 3""".stripMargin,

      // winnow-pair twin: same fingerprints, same ubiquity cut (2..64),
      // same shared-count floor
      "text_winnow_pairs" ->
        s"""WITH t AS (SELECT doc_id, $normTextSql AS t FROM documents),
           |g AS (SELECT doc_id, i,
           |  CAST('0x' || substr(md5(substr(t, CAST(i AS INT), 5)), 1, 8) AS BIGINT) AS h
           |  FROM (SELECT doc_id, t, unnest(generate_series(1, length(t) - 4)) AS i
           |    FROM t WHERE length(t) >= 5)),
           |w AS (SELECT doc_id, i,
           |  count(*) OVER (PARTITION BY doc_id) AS n_grams,
           |  min(h) OVER (PARTITION BY doc_id ORDER BY i
           |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win_min
           |  FROM g),
           |f AS (SELECT DISTINCT doc_id, win_min AS fp FROM w
           |  WHERE i <= n_grams - 3),
           |df AS (SELECT fp, count(*) AS n FROM f GROUP BY fp),
           |rare AS (SELECT f.doc_id, f.fp FROM f
           |  JOIN df USING (fp) WHERE df.n BETWEEN 2 AND 64)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
           |FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
           |GROUP BY id_a, id_b HAVING count(*) >= 2""".stripMargin,

      // sign-LSH buckets: the 8 hyperplanes are driver-side constants,
      // embedded as exact double literals; same dot products, same signs
      "ann_lsh_bucketed" -> {
        val planes = (0 until 8).map(i =>
          Similarity.planeVec(i, 64).map(_.toDouble.toString).mkString("[", ", ", "]"))
        val bits = planes.zipWithIndex.map { case (p, i) =>
          s"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), $p) > 0 THEN ${1L << i} ELSE 0 END)"
        }.mkString(" + ")
        s"""SELECT vec_id, CAST($bits AS BIGINT) AS bucket FROM embeddings"""
      },

      // banded LSH self-ANN twin: 4 tables × 16 planes as double literals,
      // same mega-bucket drop, pair dedup, exact cosine, top-1
      "dedup_embedding" -> {
        def planeLit(i: Int) = Similarity.planeVec(i, 64)
          .map(_.toDouble.toString).mkString("[", ", ", "]")
        def bucketExpr(t: Int) = (0 until 16).map { i =>
          s"(CASE WHEN list_dot_product(v, ${planeLit(t * 16 + i)}) > 0 THEN ${1L << i} ELSE 0 END)"
        }.mkString(" + ")
        val tables = (0 until 4).map(t =>
          s"SELECT vec_id, $t AS t, CAST(${bucketExpr(t)} AS BIGINT) AS bucket FROM b")
          .mkString("\nUNION ALL ")
        s"""WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |tb AS ($tables),
           |sz AS (SELECT t, bucket, count(*) AS n FROM tb GROUP BY t, bucket),
           |tb2 AS (SELECT tb.vec_id, tb.t, tb.bucket FROM tb
           |  JOIN sz USING (t, bucket) WHERE sz.n <= 1024),
           |cand AS (SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS corpus_id
           |  FROM tb2 a JOIN tb2 c ON a.t = c.t AND a.bucket = c.bucket
           |    AND a.vec_id <> c.vec_id),
           |s AS (SELECT query_id, corpus_id,
           |  round(CASE WHEN sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c2.v, c2.v)) > 0
           |    THEN list_dot_product(q.v, c2.v) /
           |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c2.v, c2.v)))
           |    ELSE 0 END, 6) AS cos_sim
           |  FROM cand JOIN b q ON q.vec_id = cand.query_id
           |  JOIN b c2 ON c2.vec_id = cand.corpus_id)
           |SELECT query_id, corpus_id AS nearest_id, cos_sim FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY cos_sim DESC, corpus_id) AS rn FROM s) WHERE rn = 1""".stripMargin
      },

      "ann_cosine_topk" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          |  FROM embeddings WHERE vec_id % 50 = 0),
          |c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv
          |  FROM embeddings),
          |s AS (SELECT query_id, corpus_id,
          |  round(CASE WHEN sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)) > 0
          |    THEN list_dot_product(qv,cv) /
          |      (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)))
          |    ELSE 0 END, 6) AS cos_sim
          |  FROM q, c WHERE corpus_id <> query_id)
          |SELECT query_id, corpus_id, cos_sim, rank FROM (
          |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
          |    ORDER BY cos_sim DESC, corpus_id) AS BIGINT) AS rank FROM s)
          |WHERE rank <= 5""".stripMargin,

      // the cosine CTEs with the label equi-filter in the pair source
      "ann_filtered" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
          |  label FROM embeddings WHERE vec_id % 50 = 0),
          |c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv,
          |  label FROM embeddings),
          |s AS (SELECT query_id, corpus_id,
          |  round(CASE WHEN sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)) > 0
          |    THEN list_dot_product(qv,cv) /
          |      (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)))
          |    ELSE 0 END, 6) AS cos_sim
          |  FROM q JOIN c ON c.label = q.label
          |  WHERE corpus_id <> query_id)
          |SELECT query_id, corpus_id, cos_sim, rank FROM (
          |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
          |    ORDER BY cos_sim DESC, corpus_id) AS BIGINT) AS rank FROM s)
          |WHERE rank <= 5""".stripMargin,

      // same scoring CTEs, corpus restricted to labeled rows, majority
      // vote with the (votes desc, label asc) total order
      "knn_classify" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          |  FROM embeddings WHERE vec_id % 50 = 0),
          |c AS (SELECT vec_id AS corpus_id, label,
          |  CAST(embedding AS DOUBLE[]) AS cv
          |  FROM embeddings WHERE vec_id % 50 <> 0),
          |s AS (SELECT query_id, corpus_id, label,
          |  round(CASE WHEN sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)) > 0
          |    THEN list_dot_product(qv,cv) /
          |      (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)))
          |    ELSE 0 END, 6) AS cos_sim
          |  FROM q, c),
          |nn AS (SELECT query_id, label FROM (
          |  SELECT query_id, label, row_number() OVER (PARTITION BY query_id
          |    ORDER BY cos_sim DESC, corpus_id) AS rank FROM s)
          |  WHERE rank <= 5),
          |v AS (SELECT query_id, label, count(*) AS n_votes
          |  FROM nn GROUP BY 1, 2)
          |SELECT query_id, CAST(label AS BIGINT) AS predicted, n_votes
          |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          |    ORDER BY n_votes DESC, label) AS rk FROM v)
          |WHERE rk = 1""".stripMargin,

      "text_lang_id" -> {
        val caseChain = langScore.toSeq.sortBy(_._1)
          .map { case (lang, _) => s"WHEN top > 0 AND s_$lang = top THEN '$lang'" }
          .mkString(" ")
        val scoreCols = langScore.toSeq.sortBy(_._1)
          .map { case (lang, e) => s"($e) AS s_$lang" }.mkString(", ")
        val greatestExpr = langScore.keys.toSeq.sorted.map("s_" + _).mkString(", ")
        s"""SELECT lang, lang_pred, count(*) AS n FROM (
           |  SELECT lang, CASE $caseChain ELSE 'und' END AS lang_pred FROM (
           |    SELECT *, greatest($greatestExpr) AS top FROM (
           |      SELECT lang, $scoreCols FROM (
           |        SELECT lang, $normTextSql AS t FROM documents))))
           |GROUP BY lang, lang_pred""".stripMargin
      },

      "text_quality" -> {
        s"""SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           |  CAST(n_tokens AS BIGINT) AS n_tokens,
           |  round(punct_ratio, 4) AS punct_ratio, round(stop_ratio, 4) AS stop_ratio,
           |  round(CASE WHEN n_tokens = 0 THEN 0
           |    ELSE greatest(0.0, least(100.0,
           |      100.0 - punct_ratio * 200.0 + least(stop_ratio * 100.0, 10.0)
           |      - (CASE WHEN mean_tok_len > 12.0 THEN (mean_tok_len - 12.0) * 5.0 ELSE 0 END)
           |      - (CASE WHEN n_chars < 20 THEN 50.0 ELSE 0 END))) END, 2) AS quality
           |FROM (SELECT doc_id, n_chars, n_tokens,
           |  CASE WHEN n_chars > 0 THEN CAST(punct AS DOUBLE) / n_chars ELSE 0 END AS punct_ratio,
           |  CASE WHEN n_tokens > 0 THEN CAST(stop AS DOUBLE) / n_tokens ELSE 0 END AS stop_ratio,
           |  CASE WHEN n_tokens > 0 THEN CAST(len_nospace AS DOUBLE) / n_tokens ELSE 0 END AS mean_tok_len
           |  FROM (SELECT doc_id, length(t) AS n_chars,
           |    CASE WHEN length(t) = 0 THEN 0 ELSE array_length(string_split(t, ' ')) END AS n_tokens,
           |    length(t) - length(regexp_replace(t, '[[:punct:]]', '', 'g')) AS punct,
           |    ${TextAnalysis.markers("en").map(w =>
                s"CAST(floor((length(t) - length(regexp_replace(t, '\\b$w\\b', '', 'g'))) / ${w.length}) AS INT)")
                .mkString(" + ")} AS stop,
           |    length(regexp_replace(t, ' ', '', 'g')) AS len_nospace
           |    FROM (SELECT doc_id, $normTextSql AS t FROM documents)))""".stripMargin
      },

      "text_token_count" ->
        s"""SELECT doc_id,
           |  CAST(CASE WHEN length(t) = 0 THEN 0
           |    ELSE array_length(string_split(t, ' ')) END AS BIGINT) AS n_tokens,
           |  CAST(greatest(
           |    CASE WHEN length(t) = 0 THEN 0 ELSE array_length(string_split(t, ' ')) END,
           |    CAST(ceil(length(t) / 4.0) AS BIGINT)) AS BIGINT) AS n_bpe
           |FROM (SELECT doc_id, $normTextSql AS t FROM documents)""".stripMargin,

      "text_fingerprint" ->
        s"SELECT doc_id, md5($normTextSql) AS fingerprint FROM documents",

      "stream_event_rates" ->
        """SELECT CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS window_epoch, event_type,
          |count(*) AS n_events, round(sum(value),2) AS sum_value
          |FROM events GROUP BY 1, 2""".stripMargin,

      "quality_gopher" ->
        // independent derivation of the repStats kernel: explicit
        // explode + groupBy + window over word uni/bi/trigrams
        s"""WITH base AS (SELECT doc_id, $normTextSql AS t FROM documents),
           |${gopherCtes("base")}
           |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
           |  dup_word_frac, top_bigram_frac, dup_trigram_frac,
           |  CAST(CASE WHEN $gopherKeepSql THEN 1 ELSE 0 END AS INTEGER) AS keep
           |FROM fr""".stripMargin,

      "decontam_ngram" -> decontamSql(4),
      "decontam_ngram8" -> decontamSql(8),
      "decontam_ngram13" -> decontamSql(13),

      // fuzzy twin over the shared minhash band derivation: train docs
      // whose band k-tuple matches any bench doc's in that band
      "decontam_fuzzy" ->
        s"""WITH $minhashBandCtes,
           |bb AS (SELECT DISTINCT band, k0, k1, k2, k3 FROM bands
           |  WHERE doc_id % 20 = 0)
           |SELECT doc_id, CAST(count(DISTINCT band) AS BIGINT) AS n_bands
           |FROM bands JOIN bb USING (band, k0, k1, k2, k3)
           |WHERE doc_id % 20 <> 0 GROUP BY 1""".stripMargin,

      // band-match against the corpus slice, survivors anti-joined; the
      // oracle joins raw band minhashes (Spark's xxhash64 bucket is a
      // shuffle-key compaction — the dedup_minhash_pairs precedent)
      "dedup_incremental" ->
        s"""WITH $minhashBandCtes,
           |cb AS (SELECT DISTINCT band, k0, k1, k2, k3 FROM bands
           |  WHERE doc_id % 20 <> 0),
           |dropped AS (SELECT doc_id FROM (
           |    SELECT DISTINCT doc_id, band FROM bands
           |    JOIN cb USING (band, k0, k1, k2, k3) WHERE doc_id % 20 = 0)
           |  GROUP BY 1 HAVING count(*) >= 3)
           |SELECT doc_id, lang FROM documents WHERE doc_id % 20 = 0
           |  AND doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin,

      "pii_scrub" -> {
        val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,4}"
        val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
        val phone = "\\b555-[0-9]{4}\\b"
        s"""WITH d AS (SELECT doc_id, text ||
           |  CASE WHEN doc_id % 3 = 0 THEN ' contact ' || source || '-' ||
           |    CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
           |  CASE WHEN doc_id % 4 = 0 THEN ' call 555-' ||
           |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
           |  CASE WHEN doc_id % 5 = 0 THEN ' host 10.0.' ||
           |    CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END AS t
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_email,
           |  CAST(len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ip,
           |  CAST(len(regexp_extract_all(t, '$phone')) AS BIGINT) AS n_phone,
           |  regexp_replace(regexp_replace(regexp_replace(t,
           |    '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'),
           |    '$phone', '<PHONE>', 'g') AS clean
           |FROM d""".stripMargin
      },

      "sample_stratified" ->
        """WITH stats AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
          |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
          |  sum(sqrt(CAST(n AS DOUBLE))) AS sumw FROM stats),
          |rates AS (SELECT lang, round(least(1.0,
          |  0.4 * total * sqrt(CAST(n AS DOUBLE)) / sumw / n), 6) AS rate
          |  FROM stats, tot)
          |SELECT d.doc_id, d.lang, d.source FROM documents d JOIN rates USING (lang)
          |WHERE CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6) AS BIGINT)
          |  AS DOUBLE) / 16777216.0 < rate""".stripMargin,

      "polyphen_fasta" ->
        """WITH d AS (SELECT doc_id, upper(md5(text)) AS protein_id,
          |  repeat(upper(md5(text)), 3) AS protein_seq FROM documents),
          |known AS (SELECT DISTINCT protein_id FROM d WHERE doc_id % 4 <> 0),
          |missing AS (SELECT DISTINCT protein_id, protein_seq FROM d
          |  WHERE protein_id NOT IN (SELECT protein_id FROM known)),
          |rec AS (SELECT protein_id, '>' || protein_id || chr(10) ||
          |  regexp_replace(protein_seq, '(.{70})', '\1' || chr(10), 'g') AS txt
          |  FROM missing),
          |lines AS (SELECT protein_id, u.l - 1 AS line_no, parts[u.l] AS line
          |  FROM (SELECT protein_id, string_split(txt, chr(10)) AS parts FROM rec),
          |  LATERAL unnest(generate_series(1, len(parts))) u(l))
          |SELECT protein_id, CAST(line_no AS BIGINT) AS line_no, line
          |FROM lines WHERE line <> ''""".stripMargin,

      "ann_pq" -> pqAdcOracle("",
        """SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, c.m,
          |  cb.sd - 2*list_dot_product(list_slice(q.vv, c.m*8+1, c.m*8+8), cb.cv) AS dm
          |  FROM (SELECT * FROM v WHERE vec_id % 50 = 0) q
          |  JOIN codes c ON c.vec_id <> q.vec_id
          |  JOIN cb ON cb.m = c.m AND cb.j = c.code""".stripMargin),

      // the shared pqAsnRows assignment; dmin = the argmin VALUE,
      // |v_m|² via the same list_dot_product the assignment rows use;
      // ×10⁶ rounded per (vec, subspace) before any sum
      "pq_distortion" ->
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
           |  FROM embeddings),
           |pqa AS (
           |  $pqAsnRows),
           |dmin AS (SELECT vec_id, m, min(d) AS dmin FROM pqa
           |  GROUP BY 1, 2),
           |sv AS (SELECT vec_id, u.m AS m, list_dot_product(
           |    list_slice(vv, u.m*8 + 1, u.m*8 + 8),
           |    list_slice(vv, u.m*8 + 1, u.m*8 + 8)) AS sd
           |  FROM v, LATERAL unnest(generate_series(0, 7)) u(m)),
           |t AS (SELECT d.vec_id, d.m,
           |  CAST(round((sv.sd + d.dmin) * 1000000.0) AS BIGINT) AS d6
           |  FROM dmin d JOIN sv ON sv.vec_id = d.vec_id
           |    AND sv.m = d.m),
           |a AS (SELECT CAST(m AS BIGINT) AS sub, count(*) AS n_vecs,
           |  CAST(sum(d6) AS BIGINT) AS sum_d6 FROM t GROUP BY 1)
           |SELECT sub, n_vecs, sum_d6,
           |  CAST(round(CAST(sum_d6 AS DOUBLE) / CAST(n_vecs AS DOUBLE))
           |    AS BIGINT) AS mse6
           |FROM a""".stripMargin,

      "ann_ivf_pq" -> {
        // coarse quantizer CTEs (the ann_ivf derivation) restrict the
        // shared PQ ADC skeleton to the probed lists via `cand`
        val coarse =
          s"""cd AS (
             |  ${coarseDistRows(Similarity.ivfQuantizer(16, 64))}),
             |crnk AS (SELECT vec_id, c,
             |  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM cd),
             |asnl AS (SELECT vec_id AS corpus_id, c AS list_id FROM crnk WHERE rn = 1),
             |prb AS (SELECT vec_id AS query_id, c AS list_id FROM crnk
             |  WHERE rn <= 2 AND vec_id % 50 = 0),
             |cand AS (SELECT query_id, corpus_id
             |  FROM prb JOIN asnl USING (list_id) WHERE corpus_id <> query_id),
             |""".stripMargin
        pqAdcOracle(coarse,
          """SELECT ca.query_id, ca.corpus_id, c.m,
            |  cb.sd - 2*list_dot_product(list_slice(q.vv, c.m*8+1, c.m*8+8), cb.cv) AS dm
            |  FROM cand ca
            |  JOIN v q ON q.vec_id = ca.query_id
            |  JOIN codes c ON c.vec_id = ca.corpus_id
            |  JOIN cb ON cb.m = c.m AND cb.j = c.code""".stripMargin)
      },

      "corpus_mix" ->
        s"""WITH norm0 AS (SELECT doc_id, lang, source, n_chars, $normTextSql AS t
           |  FROM documents),
           |corp AS (SELECT * FROM norm0 WHERE doc_id % 20 <> 0),
           |ded AS (SELECT doc_id, lang, source, n_chars, t FROM (
           |  SELECT *, min(doc_id) OVER (PARTITION BY md5(t)) AS mn FROM corp)
           |  WHERE doc_id = mn),
           |${gopherCtes("ded")},
           |gated AS (SELECT ded.* FROM ded JOIN fr USING (doc_id)
           |  WHERE $gopherKeepSql),
           |gg AS (SELECT DISTINCT g.doc_id,
           |  ws[u.g] || ' ' || ws[u.g+1] || ' ' || ws[u.g+2] || ' ' || ws[u.g+3] AS gram
           |  FROM (SELECT doc_id, string_split(t, ' ') AS ws FROM gated) g(doc_id, ws),
           |  LATERAL unnest(generate_series(1, len(ws)-3)) u(g)),
           |bgr AS (SELECT DISTINCT
           |  ws[u.g] || ' ' || ws[u.g+1] || ' ' || ws[u.g+2] || ' ' || ws[u.g+3] AS gram
           |  FROM (SELECT string_split(t, ' ') AS ws FROM norm0 WHERE doc_id % 20 = 0) b(ws),
           |  LATERAL unnest(generate_series(1, len(ws)-3)) u(g)),
           |contam AS (SELECT DISTINCT doc_id FROM gg JOIN bgr USING (gram)),
           |clean AS (SELECT * FROM gated
           |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
           |stats AS (SELECT lang, count(*) AS n FROM clean GROUP BY 1),
           |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
           |  sum(sqrt(CAST(n AS DOUBLE))) AS sumw FROM stats),
           |rates AS (SELECT lang, round(least(1.0,
           |  0.5 * total * sqrt(CAST(n AS DOUBLE)) / sumw / n), 6) AS rate
           |  FROM stats, tot),
           |samp AS (SELECT c.* FROM clean c JOIN rates USING (lang)
           |  WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
           |    AS DOUBLE) / 16777216.0 < rate)
           |SELECT lang, source, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
           |FROM samp GROUP BY 1, 2""".stripMargin,

      "dedup_semantic" -> {
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
           |d AS (
           |  ${coarseDistRows(Similarity.ivfQuantizer(16, 64))}),
           |rnk AS (SELECT vec_id, c,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM d),
           |asn AS (SELECT a.vec_id, a.c AS cluster, vv
           |  FROM rnk a JOIN v USING (vec_id) WHERE a.rn = 1),
           |sz AS (SELECT cluster, count(*) AS csz FROM asn GROUP BY 1),
           |bnd AS (SELECT asn.* FROM asn JOIN sz USING (cluster) WHERE csz <= 4096),
           |p AS (SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
           |  round(CASE WHEN sqrt(list_dot_product(a.vv,a.vv)) * sqrt(list_dot_product(b.vv,b.vv)) > 0
           |    THEN list_dot_product(a.vv,b.vv) /
           |      (sqrt(list_dot_product(a.vv,a.vv)) * sqrt(list_dot_product(b.vv,b.vv)))
           |    ELSE 0 END, 6) AS cos_sim
           |  FROM bnd a JOIN bnd b ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
           |SELECT CAST(cluster AS BIGINT) AS cluster, id_a, id_b, cos_sim
           |FROM p WHERE cos_sim >= 0.3""".stripMargin
      },

      // epoch_us(ts) == Spark's `ts DIV 1000` on the raw-nanos read
      // (both truncate ns→µs toward zero; positive ts asserted in
      // EventOpsSpec)
      "asof_join" ->
        """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
          |  FROM events WHERE event_type = 'purchase'),
          |r AS (SELECT user_id, epoch_us(ts) AS view_ts,
          |  max(event_id) AS view_id
          |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
          |SELECT l.event_id, l.user_id, l.ts_us, r.view_ts, r.view_id,
          |  l.ts_us - r.view_ts AS gap_us
          |FROM l ASOF LEFT JOIN r
          |  ON l.user_id = r.user_id AND l.ts_us >= r.view_ts""".stripMargin,

      "asof_join_fwd" ->
        """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
          |  FROM events WHERE event_type = 'signup'),
          |r AS (SELECT user_id, epoch_us(ts) AS pur_ts,
          |  max(event_id) AS pur_id
          |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
          |SELECT l.event_id, l.user_id, l.ts_us, r.pur_ts, r.pur_id,
          |  r.pur_ts - l.ts_us AS wait_us
          |FROM l ASOF LEFT JOIN r
          |  ON l.user_id = r.user_id AND l.ts_us <= r.pur_ts""".stripMargin,

      "embedding_stats" ->
        """WITH v AS (SELECT label,
          |  CAST(round(list_sum(CAST(embedding AS DOUBLE[])) * 10000)
          |    AS BIGINT) AS s4,
          |  round(list_max(CAST(embedding AS DOUBLE[])), 4) AS mx
          |  FROM embeddings)
          |SELECT label, count(*) AS n,
          |  round(sum(s4)/10000.0/count(*), 4) AS avg_sum,
          |  round(max(mx), 4) AS max_comp
          |FROM v GROUP BY 1""".stripMargin,

      "fuzzy_match" ->
        """WITH a AS (SELECT c_custkey AS a_id, c_name AS a_text,
          |  substr(c_name, 1, 17) AS block FROM customer),
          |b AS (SELECT c_custkey + 1000000 AS b_id,
          |  replace(c_name, '1', '7') AS b_text,
          |  substr(replace(c_name, '1', '7'), 1, 17) AS block FROM customer)
          |SELECT dist, count(*) AS n FROM (
          |  SELECT levenshtein(a_text, b_text) AS dist
          |  FROM a JOIN b USING (block))
          |WHERE dist <= 2 GROUP BY 1""".stripMargin,

      "cube_agg" ->
        """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
          |  coalesce(l_linestatus, 'ALL') AS lstatus,
          |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n,
          |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
          |FROM lineitem
          |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

      "event_funnel" ->
        """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
          |s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
          |  WHERE event_type = 'signup' GROUP BY 1),
          |s2 AS (SELECT e.user_id, min(ts_us) AS t2 FROM e JOIN s1 USING (user_id)
          |  WHERE event_type = 'view' AND ts_us >= t1
          |    AND ts_us <= t1 + 14400000000 GROUP BY 1),
          |s3 AS (SELECT e.user_id, min(ts_us) AS t3 FROM e JOIN s2 USING (user_id)
          |  WHERE event_type = 'purchase' AND ts_us >= t2
          |    AND ts_us <= t2 + 14400000000 GROUP BY 1)
          |SELECT (SELECT count(*) FROM s1) AS n_signup,
          |  (SELECT count(*) FROM s2) AS n_view,
          |  (SELECT count(*) FROM s3) AS n_purchase""".stripMargin,

      // total = sum of the five pivoted columns, NOT count(*): the Spark
      // side pivots an explicit value list, so a sixth event type must
      // stay excluded from total in BOTH engines or the oracle drifts
      "events_pivot" ->
        """SELECT user_id, click, view, purchase, signup, error,
          |  click + view + purchase + signup + error AS total
          |FROM (SELECT user_id,
          |  count(*) FILTER (event_type = 'click') AS click,
          |  count(*) FILTER (event_type = 'view') AS view,
          |  count(*) FILTER (event_type = 'purchase') AS purchase,
          |  count(*) FILTER (event_type = 'signup') AS signup,
          |  count(*) FILTER (event_type = 'error') AS error
          |FROM events GROUP BY 1)""".stripMargin,

      "rollup_agg" ->
        """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
          |  coalesce(l_linestatus, 'ALL') AS lstatus,
          |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n,
          |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
          |FROM lineitem
          |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

      "window_ranks" ->
        """SELECT o_orderkey, o_orderpriority,
          |  CAST(rank() OVER w AS BIGINT) AS rnk,
          |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
          |  round(percent_rank() OVER w, 4) AS prnk,
          |  CAST(ntile(10) OVER w AS BIGINT) AS decile
          |FROM orders WINDOW w AS (PARTITION BY o_orderpriority
          |  ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin,

      "corpus_stats" ->
        """SELECT lang, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
          |  round(avg(n_chars), 2) AS avg_chars,
          |  round(quantile_cont(n_chars, 0.5), 2) AS p50_chars,
          |  round(quantile_cont(n_chars, 0.9), 2) AS p90_chars,
          |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
          |FROM documents GROUP BY 1""".stripMargin,

      "dedup_chunks" ->
        s"""WITH d AS (SELECT doc_id, $normTextSql AS t FROM documents),
           |c AS (SELECT doc_id, md5(substr(t, u.pos, 100)) AS chunk_hash
           |  FROM d, LATERAL unnest(generate_series(1, length(t) - 99, 100)) u(pos)
           |  WHERE length(t) >= 100)
           |SELECT chunk_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           |  count(*) AS n_occurrences, min(doc_id) AS min_doc_id
           |FROM c GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""".stripMargin,

      // per-word surprisal is rounded and ×10⁴-scaled to an exact
      // integer BEFORE the per-doc sum, so neither engine's float
      // summation order can shift the result
      "text_surprisal" ->
        s"""WITH d AS (SELECT doc_id, $normTextSql AS t FROM documents),
           |w AS (SELECT doc_id, uw.w FROM d,
           |  LATERAL unnest(string_split(t, ' ')) uw(w) WHERE length(uw.w) > 0),
           |c AS (SELECT w, count(*) AS cnt FROM w GROUP BY 1),
           |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
           |s AS (SELECT w, CAST(round(-log2(CAST(cnt AS DOUBLE)/total) * 10000)
           |  AS BIGINT) AS su4 FROM c, tot)
           |SELECT doc_id, count(*) AS n_words,
           |  sum(su4)/10000.0/count(*) AS avg_surprisal
           |FROM w JOIN s USING (w) GROUP BY 1""".stripMargin,

      "event_transitions" ->
        """WITH o AS (SELECT user_id, event_type,
          |  lag(event_type) OVER (PARTITION BY user_id
          |    ORDER BY epoch_us(ts), event_id) AS prev_type FROM events),
          |p AS (SELECT prev_type, event_type AS next_type, count(*) AS n
          |  FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2)
          |SELECT prev_type, next_type, n,
          |  CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type) AS share
          |FROM p""".stripMargin,

      "stream_event_sliding" ->
        """WITH e AS (SELECT CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS s0,
          |  event_type, value FROM events),
          |x AS (SELECT s0 - u.k*300 AS window_epoch, event_type, value
          |  FROM e, LATERAL unnest([0, 1]) u(k))
          |SELECT window_epoch, event_type, count(*) AS n_events,
          |  round(sum(value), 2) AS sum_value
          |FROM x GROUP BY 1, 2""".stripMargin,

      "profile_columns" -> profiledCols.map(c =>
        s"""SELECT '$c' AS column_name, count($c) AS n,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  round(min($c), 4) AS min_val, round(max($c), 4) AS max_val,
           |  round(avg($c), 4) AS avg_val FROM lineitem""".stripMargin)
        .mkString("\nUNION ALL\n"),

      "events_json_parse" ->
        """SELECT event_type, count(*) AS n,
          |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
          |    AS BIGINT) AS sum_k,
          |  min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
          |  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
          |FROM events GROUP BY 1""".stripMargin,

      "corpus_shard" ->
        """WITH r AS (SELECT doc_id, n_chars,
          |  row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn
          |  FROM documents)
          |SELECT CAST((rn - 1) % 32 AS BIGINT) AS shard, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS total_chars
          |FROM r GROUP BY 1""".stripMargin,

      "corpus_pack" ->
        """WITH c AS (SELECT doc_id, lang, n_chars,
          |  sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
          |    ROWS UNBOUNDED PRECEDING) AS cum FROM documents)
          |SELECT lang, CAST((cum - n_chars) // 4096 AS BIGINT) AS bin_id,
          |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS bin_chars
          |FROM c GROUP BY 1, 2""".stripMargin,

      "stats_agg" ->
        """SELECT l_returnflag,
          |  round(corr(l_extendedprice, l_extendedprice*(1-l_discount)), 4)
          |    AS corr_pd,
          |  round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qp,
          |  round(stddev_samp(l_quantity), 4) AS sd_qty,
          |  count(*) AS n
          |FROM lineitem GROUP BY 1""".stripMargin,

      "set_ops" ->
        """SELECT suppkey, 'intersect' AS op FROM (
          |  SELECT s_suppkey AS suppkey FROM supplier WHERE s_acctbal > 5000
          |  INTERSECT
          |  SELECT l_suppkey AS suppkey FROM lineitem WHERE l_discount > 0.05)
          |UNION ALL
          |SELECT suppkey, 'except' AS op FROM (
          |  SELECT s_suppkey AS suppkey FROM supplier WHERE s_acctbal > 5000
          |  EXCEPT
          |  SELECT l_suppkey AS suppkey FROM lineitem WHERE l_discount > 0.05)""".stripMargin,

      "value_histogram" ->
        """SELECT CAST(least(floor(value/10), 19) AS BIGINT) AS bucket,
          |  event_type, count(*) AS n
          |FROM events GROUP BY 1, 2""".stripMargin,

      "check_constraints" ->
        """SELECT 'customer_custkey_unique' AS constraint_name,
          |  (SELECT count(*) - count(DISTINCT c_custkey) FROM customer)
          |    AS n_violations
          |UNION ALL
          |SELECT 'customer_name_nonnull',
          |  (SELECT count(*) FROM customer WHERE c_name IS NULL)
          |UNION ALL
          |SELECT 'orders_custkey_fk',
          |  (SELECT count(*) FROM orders o
          |   WHERE NOT EXISTS (SELECT 1 FROM customer c
          |     WHERE c.c_custkey = o.o_custkey))
          |UNION ALL
          |SELECT 'customer_acctbal_range',
          |  (SELECT count(*) FROM customer
          |   WHERE c_acctbal NOT BETWEEN -1000 AND 10000)""".stripMargin,

      "events_resample" ->
        """WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
          |  FROM events),
          |c AS (SELECT user_id, day, count(*) AS n FROM d GROUP BY 1, 2),
          |b AS (SELECT user_id, min(day) AS lo, max(day) AS hi FROM d GROUP BY 1),
          |g AS (SELECT user_id, u.day FROM b,
          |  LATERAL unnest(generate_series(lo, hi)) u(day))
          |SELECT g.user_id, g.day, CAST(coalesce(n, 0) AS BIGINT) AS n
          |FROM g LEFT JOIN c USING (user_id, day)""".stripMargin,

      // the churn matrix derived DIRECTLY from the raw tables — the
      // absorb+asOf composition must reproduce it end to end
      "scd2_asof_snapshot" ->
        """WITH h AS (SELECT c_custkey AS k, c_mktsegment AS seg
          |  FROM customer WHERE c_custkey % 10 <> 0),
          |s AS (SELECT c_custkey AS k,
          |  CASE WHEN c_custkey % 7 = 0 THEN 'CHANGED'
          |    ELSE c_mktsegment END AS seg
          |  FROM customer WHERE c_custkey % 13 <> 0)
          |SELECT coalesce(h.seg, '<absent>') AS seg_before,
          |  coalesce(s.seg, '<absent>') AS seg_after,
          |  count(*) AS n_keys
          |FROM h FULL JOIN s ON s.k = h.k GROUP BY 1, 2""".stripMargin,

      "scd2_upsert" ->
        """WITH h AS (SELECT c_custkey AS k, c_mktsegment AS seg
          |  FROM customer WHERE c_custkey % 10 <> 0),
          |s AS (SELECT c_custkey AS k,
          |  CASE WHEN c_custkey % 7 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS seg
          |  FROM customer WHERE c_custkey % 13 <> 0),
          |j AS (SELECT coalesce(h.k, s.k) AS k, h.k IS NOT NULL AS in_h,
          |  s.k IS NOT NULL AS in_s, h.seg AS hseg, s.seg AS sseg
          |  FROM h FULL OUTER JOIN s ON h.k = s.k)
          |SELECT k AS custkey, hseg AS segment, CAST(0 AS BIGINT) AS valid_from,
          |  CASE WHEN NOT in_s OR hseg <> sseg THEN CAST(100 AS BIGINT) END AS valid_to
          |FROM j WHERE in_h
          |UNION ALL
          |SELECT k, sseg, CAST(100 AS BIGINT), CAST(NULL AS BIGINT)
          |FROM j WHERE in_s AND (NOT in_h OR hseg <> sseg)""".stripMargin,

      // BM25: same Lucene idf and per-term contribution, 4 dp rounds at
      // the libm ln, ×10⁴ int-scaled contributions before the doc sum
      "text_bm25" ->
        s"""WITH t AS (SELECT doc_id, $normTextSql AS t FROM documents),
           |base AS (SELECT doc_id, t, length(string_split(t, ' ')) AS dl FROM t),
           |w AS (SELECT doc_id, dl, unnest(string_split(t, ' ')) AS w FROM base),
           |qw AS (SELECT * FROM w WHERE w IN ('spark', 'window', 'merge')),
           |tf AS (SELECT doc_id, dl, w, count(*) AS tf FROM qw GROUP BY 1, 2, 3),
           |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
           |st AS (SELECT count(*) AS n_docs,
           |  round(CAST(sum(dl) AS DOUBLE) / count(*), 4) AS avgdl FROM base),
           |idf AS (SELECT w, round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 4) AS idf
           |  FROM df, st),
           |c AS (SELECT doc_id, CAST(round(idf * ((tf * 2.2) /
           |    (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))) * 10000) AS BIGINT) AS c4
           |  FROM tf JOIN idf USING (w), st)
           |SELECT doc_id, count(*) AS n_hit, round(sum(c4) / 10000.0, 4) AS score
           |FROM c GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

      // PMI: bigrams re-derived with multiplicity via 1-based list
      // indexing (the Spark side's 0-based transform(sequence) twin)
      "text_collocations" ->
        s"""WITH t AS (SELECT $normTextSql AS t FROM documents),
           |a AS (SELECT string_split(t, ' ') AS ws FROM t),
           |bg AS (SELECT ws[CAST(i AS INT)] AS wa, ws[CAST(i AS INT) + 1] AS wb
           |  FROM (SELECT ws, unnest(generate_series(1, length(ws) - 1)) AS i
           |        FROM a WHERE length(ws) >= 2)),
           |ugf AS (SELECT w FROM (SELECT unnest(ws) AS w FROM a) WHERE length(w) > 0),
           |uc AS (SELECT w, count(*) AS n FROM ugf GROUP BY 1),
           |bc AS (SELECT wa, wb, count(*) AS n_ab FROM bg
           |  GROUP BY 1, 2 HAVING count(*) >= 5),
           |tot AS (SELECT (SELECT count(*) FROM ugf) AS t_u,
           |  (SELECT count(*) FROM bg) AS t_b)
           |SELECT wa AS w_a, wb AS w_b, n_ab, ua.n AS n_a, ub.n AS n_b,
           |  round(log2((CAST(n_ab AS DOUBLE) / t_b) /
           |    ((CAST(ua.n AS DOUBLE) / t_u) * (CAST(ub.n AS DOUBLE) / t_u))), 4) AS pmi
           |FROM bc JOIN uc ua ON bc.wa = ua.w JOIN uc ub ON bc.wb = ub.w, tot
           |ORDER BY pmi DESC, w_a, w_b LIMIT 50""".stripMargin,

      // DSIR: same md5-prefix hash buckets (the minhash discipline),
      // add-1 smoothed bucket log-ratios int-scaled before the doc sum
      "dsir_select" ->
        s"""WITH t AS (SELECT doc_id, lang = 'en' AS tgt, $normTextSql AS t
           |  FROM documents),
           |w AS (SELECT doc_id, tgt, unnest(string_split(t, ' ')) AS w FROM t),
           |wb AS (SELECT doc_id, tgt,
           |  CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 64 AS b
           |  FROM w WHERE length(w) > 0),
           |m AS (SELECT b, count(*) AS r_cnt,
           |  sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS t_cnt FROM wb GROUP BY 1),
           |tot AS (SELECT sum(r_cnt) AS r_tot, sum(t_cnt) AS t_tot FROM m),
           |lut AS (SELECT b, CAST(round(log2(
           |    (CAST(t_cnt + 1 AS DOUBLE) / (t_tot + 64)) /
           |    (CAST(r_cnt + 1 AS DOUBLE) / (r_tot + 64))) * 10000) AS BIGINT) AS lr4
           |  FROM m, tot)
           |SELECT doc_id, count(*) AS n_words,
           |  sum(lr4) / 10000.0 / count(*) AS dsir_score,
           |  sum(lr4) / 10000.0 / count(*) > 0 AS keep
           |FROM wb JOIN lut USING (b) GROUP BY 1""".stripMargin,

      // hashed linear classifier: exact integer weights from the same
      // md5-prefix hash — no libm anywhere, fully exact cross-engine
      "quality_classifier" ->
        s"""WITH t AS (SELECT doc_id, $normTextSql AS t FROM documents),
           |d AS (SELECT doc_id,
           |  list_filter(string_split(t, ' '), x -> length(x) > 0) AS toks FROM t),
           |s AS (SELECT doc_id, CAST(length(toks) AS BIGINT) AS n_tokens,
           |  CAST(list_sum(list_transform(toks,
           |    x -> CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) % 2001 - 1000))
           |    AS BIGINT) AS wsum
           |  FROM d WHERE length(toks) > 0)
           |SELECT doc_id, n_tokens,
           |  wsum / (n_tokens * 1000.0) AS clf_score,
           |  wsum / (n_tokens * 1000.0) > 0 AS keep FROM s""".stripMargin,

      // retention: absolute week bins by integer µs division; cohort =
      // min week per user; offset-0 rows are the cohort sizes
      "events_retention" ->
        """WITH w AS (SELECT DISTINCT user_id AS u,
          |  epoch_us(ts) // 604800000000 AS week FROM events),
          |c AS (SELECT u, min(week) AS cohort_week FROM w GROUP BY 1),
          |m AS (SELECT cohort_week, week - cohort_week AS week_offset,
          |  count(*) AS n_users FROM w JOIN c USING (u) GROUP BY 1, 2),
          |sz AS (SELECT cohort_week, n_users AS cohort_size FROM m
          |  WHERE week_offset = 0)
          |SELECT m.cohort_week, m.week_offset, m.n_users,
          |  CAST(m.n_users AS DOUBLE) / cohort_size AS retention
          |FROM m JOIN sz USING (cohort_week)""".stripMargin,

      // RFM: exact integer metrics (day bins, counts, cents), quintile
      // boundaries via quantile_cont rounded 4 dp (corpus_stats parity
      // discipline), comparison-based scoring
      "events_rfm" ->
        """WITH u AS (SELECT user_id,
          |  max(epoch_us(ts)) // 86400000000 AS rec_day, count(*) AS freq,
          |  sum(CAST(round(value * 100) AS BIGINT)) AS mon_c
          |  FROM events GROUP BY 1),
          |b AS (SELECT
          |  round(quantile_cont(rec_day, 0.2), 4) AS r0,
          |  round(quantile_cont(rec_day, 0.4), 4) AS r1,
          |  round(quantile_cont(rec_day, 0.6), 4) AS r2,
          |  round(quantile_cont(rec_day, 0.8), 4) AS r3,
          |  round(quantile_cont(freq, 0.2), 4) AS f0,
          |  round(quantile_cont(freq, 0.4), 4) AS f1,
          |  round(quantile_cont(freq, 0.6), 4) AS f2,
          |  round(quantile_cont(freq, 0.8), 4) AS f3,
          |  round(quantile_cont(mon_c, 0.2), 4) AS m0,
          |  round(quantile_cont(mon_c, 0.4), 4) AS m1,
          |  round(quantile_cont(mon_c, 0.6), 4) AS m2,
          |  round(quantile_cont(mon_c, 0.8), 4) AS m3 FROM u),
          |s AS (SELECT
          |  1 + CASE WHEN rec_day > r0 THEN 1 ELSE 0 END
          |    + CASE WHEN rec_day > r1 THEN 1 ELSE 0 END
          |    + CASE WHEN rec_day > r2 THEN 1 ELSE 0 END
          |    + CASE WHEN rec_day > r3 THEN 1 ELSE 0 END AS r_score,
          |  1 + CASE WHEN freq > f0 THEN 1 ELSE 0 END
          |    + CASE WHEN freq > f1 THEN 1 ELSE 0 END
          |    + CASE WHEN freq > f2 THEN 1 ELSE 0 END
          |    + CASE WHEN freq > f3 THEN 1 ELSE 0 END AS f_score,
          |  1 + CASE WHEN mon_c > m0 THEN 1 ELSE 0 END
          |    + CASE WHEN mon_c > m1 THEN 1 ELSE 0 END
          |    + CASE WHEN mon_c > m2 THEN 1 ELSE 0 END
          |    + CASE WHEN mon_c > m3 THEN 1 ELSE 0 END AS m_score
          |  FROM u, b)
          |SELECT r_score, f_score, m_score, count(*) AS n_users
          |FROM s GROUP BY 1, 2, 3""".stripMargin,

      // containment twin: same shingle/candidate machinery as the
      // jaccard family but lang-only block; ratios unrounded (single
      // IEEE divisions of exact integers — bit-identical cross-engine)
      "dedup_containment" ->
        s"""WITH ${shingleCtes("lang")},
           |cp AS (SELECT id_a, id_b, n_inter,
           |  n_inter / sa.n_sh AS contain_a,
           |  n_inter / sb.n_sh AS contain_b
           |  FROM inter JOIN sizes sa ON sa.doc_id = id_a
           |  JOIN sizes sb ON sb.doc_id = id_b)
           |SELECT id_a, id_b, n_inter, contain_a, contain_b FROM cp
           |WHERE greatest(contain_a, contain_b) >= 0.5""".stripMargin,

      "sample_exact_k" ->
        """WITH r AS (SELECT lang, doc_id,
          |  row_number() OVER (PARTITION BY lang
          |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          |  FROM documents)
          |SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk FROM r
          |WHERE rk <= 40""".stripMargin,

      // z-score anomaly days: mean/stddev rounded 4 dp once (stats_agg
      // parity discipline), flag compares the already-rounded doubles
      "event_anomalies" ->
        """WITH c AS (SELECT event_type,
          |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |p AS (SELECT event_type, round(avg(n), 4) AS mean,
          |  round(stddev_samp(n), 4) AS std FROM c GROUP BY 1)
          |SELECT c.event_type, c.day, c.n, p.mean, p.std
          |FROM c JOIN p USING (event_type)
          |WHERE std IS NOT NULL AND abs(n - mean) > 2.0 * std""".stripMargin,

      // the oracle is the PLAIN join — salting must be invisible
      "skew_join_salted" ->
        """WITH l AS (SELECT CASE WHEN l_orderkey % 3 = 0 THEN 0
          |  ELSE l_suppkey % 25 END AS k, l_quantity FROM lineitem),
          |n AS (SELECT n_nationkey AS k, n_name FROM nation)
          |SELECT n_name, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
          |FROM l JOIN n USING (k) GROUP BY 1""".stripMargin,

      "interval_coverage" ->
        s"""WITH g AS ($partGenesSql),
           |del AS (SELECT chr, gstart AS pos, 1 AS d FROM g
           |  UNION ALL SELECT chr, gstop + 1, -1 FROM g),
           |bp AS (SELECT chr, pos, sum(d) AS delta FROM del
           |  GROUP BY 1, 2 HAVING sum(d) <> 0),
           |seg AS (SELECT chr, pos,
           |  CAST(sum(delta) OVER (PARTITION BY chr ORDER BY pos
           |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS depth,
           |  lead(pos) OVER (PARTITION BY chr ORDER BY pos) AS end_pos
           |  FROM bp)
           |SELECT depth, count(*) AS n_segments,
           |  CAST(sum(end_pos - pos) AS BIGINT) AS total_bp
           |FROM seg WHERE end_pos IS NOT NULL
           |GROUP BY 1""".stripMargin,

      // same coarse-assignment CTEs as ann_ivf; per-component sums as
      // exact scaled integers (the order-free aggregation discipline)
      "embed_kmeans_step" -> {
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
           |d AS (
           |  ${coarseDistRows(Similarity.ivfQuantizer(16, 64))}),
           |rnk AS (SELECT vec_id, c,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM d),
           |asn AS (SELECT a.c, vv FROM rnk a
           |  JOIN v ON v.vec_id = a.vec_id WHERE a.rn = 1),
           |comp AS (SELECT c, u.i AS dim,
           |  CAST(round(vv[CAST(u.i + 1 AS INT)] * 1000000) AS BIGINT) AS sx
           |  FROM asn, LATERAL unnest(generate_series(0, len(vv) - 1)) u(i))
           |SELECT CAST(c AS BIGINT) AS c, CAST(dim AS BIGINT) AS dim,
           |  count(*) AS n,
           |  CAST(sum(sx) AS DOUBLE) / count(*) / 1000000.0 AS mean
           |FROM comp GROUP BY 1, 2""".stripMargin
      },

      // surprisal CTE chain (text_surprisal twin) + per-lang terciles
      "quality_ppl_buckets" ->
        s"""WITH d AS (SELECT doc_id, lang, $normTextSql AS t FROM documents),
           |w AS (SELECT doc_id, uw.w FROM d,
           |  LATERAL unnest(string_split(t, ' ')) uw(w) WHERE length(uw.w) > 0),
           |c AS (SELECT w, count(*) AS cnt FROM w GROUP BY 1),
           |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
           |s AS (SELECT w, CAST(round(-log2(CAST(cnt AS DOUBLE)/total) * 10000)
           |  AS BIGINT) AS su4 FROM c, tot),
           |sc AS (SELECT doc_id, sum(su4)/10000.0/count(*) AS score
           |  FROM w JOIN s USING (w) GROUP BY 1),
           |scl AS (SELECT sc.doc_id, d.lang, score FROM sc
           |  JOIN d ON d.doc_id = sc.doc_id),
           |b AS (SELECT lang,
           |  round(quantile_cont(score, 0.3333333333), 4) AS b1,
           |  round(quantile_cont(score, 0.6666666667), 4) AS b2
           |  FROM scl GROUP BY 1)
           |SELECT scl.lang, CASE WHEN score <= b1 THEN 'head'
           |  WHEN score <= b2 THEN 'middle' ELSE 'tail' END AS bucket,
           |  count(*) AS n_docs
           |FROM scl JOIN b USING (lang) GROUP BY 1, 2""".stripMargin,

      "vocab_growth" ->
        s"""WITH d AS (SELECT doc_id, string_split($normTextSql, ' ') AS ps
           |  FROM documents),
           |w AS (SELECT doc_id, ps[CAST(u.i AS INT)] || ' ' ||
           |    ps[CAST(u.i + 1 AS INT)] AS w
           |  FROM d, LATERAL unnest(generate_series(1, len(ps) - 1)) u(i)
           |  WHERE len(ps) >= 2),
           |f AS (SELECT w, min(doc_id) AS first_id FROM w GROUP BY 1),
           |n AS (SELECT (first_id - first_id % 50) + 50 AS up_to_id,
           |  count(*) AS new_tokens FROM f GROUP BY 1)
           |SELECT up_to_id, new_tokens,
           |  CAST(sum(new_tokens) OVER (ORDER BY up_to_id
           |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab
           |FROM n""".stripMargin,

      // the ann_recall_audit shape with the prefix path scored on
      // list-sliced vectors ([1:16] — DuckDB 1-based inclusive slice =
      // Spark slice(col, 1, 16))
      "embed_matryoshka_audit" ->
        """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
          |  FROM embeddings),
          |bq AS (SELECT vec_id AS query_id, vv AS qv FROM v
          |  WHERE vec_id % 50 = 0),
          |bs AS (SELECT query_id, vec_id AS corpus_id,
          |  round(CASE WHEN sqrt(list_dot_product(qv,qv))
          |      * sqrt(list_dot_product(vv,vv)) > 0
          |    THEN list_dot_product(qv,vv) /
          |      (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(vv,vv)))
          |    ELSE 0 END, 6) AS cos_sim
          |  FROM bq, v WHERE vec_id <> query_id),
          |brute AS (SELECT query_id, corpus_id FROM (
          |  SELECT *, row_number() OVER (PARTITION BY query_id
          |    ORDER BY cos_sim DESC, corpus_id) AS rank FROM bs)
          |  WHERE rank <= 5),
          |ts AS (SELECT query_id, vec_id AS corpus_id,
          |  round(CASE WHEN sqrt(list_dot_product(qv[1:16],qv[1:16]))
          |      * sqrt(list_dot_product(vv[1:16],vv[1:16])) > 0
          |    THEN list_dot_product(qv[1:16],vv[1:16]) /
          |      (sqrt(list_dot_product(qv[1:16],qv[1:16]))
          |        * sqrt(list_dot_product(vv[1:16],vv[1:16])))
          |    ELSE 0 END, 6) AS cos_sim
          |  FROM bq, v WHERE vec_id <> query_id),
          |pfx AS (SELECT query_id, corpus_id FROM (
          |  SELECT *, row_number() OVER (PARTITION BY query_id
          |    ORDER BY cos_sim DESC, corpus_id) AS rank FROM ts)
          |  WHERE rank <= 5),
          |hits AS (SELECT b.query_id FROM brute b
          |  JOIN pfx USING (query_id, corpus_id))
          |SELECT CAST((SELECT count(*) FROM brute) AS BIGINT) AS n_truth,
          |  CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hits,
          |  CAST(round(10000.0 * (SELECT count(*) FROM hits)
          |    / (SELECT count(*) FROM brute)) AS BIGINT) AS recall4""".stripMargin,

      // same conditional running-min-over-FOLLOWING window; 1-based
      // substr indexing vs Spark's 0-based is safe because the output
      // is the offset-free length histogram
      "dna_orf_finder" ->
        s"""WITH d AS (SELECT doc_id, $docDnaSql AS dna FROM documents),
           |c AS (SELECT doc_id, u.i AS i, (u.i - 1) % 3 AS frame,
           |  substr(dna, CAST(u.i AS INT), 3) AS codon FROM d,
           |  LATERAL unnest(generate_series(1, length(dna) - 2)) u(i)),
           |n AS (SELECT doc_id, frame, i, codon = 'ATG' AS is_start,
           |  min(CASE WHEN codon IN ('TAA', 'TAG', 'TGA') THEN i END)
           |    OVER (PARTITION BY doc_id, frame ORDER BY i
           |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           |    AS next_stop
           |  FROM c)
           |SELECT CAST(next_stop - i + 3 AS BIGINT) AS orf_nt,
           |  count(*) AS n_orfs
           |FROM n WHERE is_start AND next_stop IS NOT NULL
           |GROUP BY 1""".stripMargin,

      "dna_kmer_spectrum" ->
        s"""WITH d AS (SELECT $docDnaSql AS dna FROM documents),
           |km AS (SELECT substr(dna, CAST(u.i AS INT), 4) AS kmer FROM d,
           |  LATERAL unnest(generate_series(1, length(dna) - 3)) u(i)),
           |c AS (SELECT kmer, count(*) AS n_occ FROM km GROUP BY 1)
           |SELECT n_occ, count(*) AS n_kmers FROM c GROUP BY 1""".stripMargin,

      // codon→AA VALUES interpolated from Dna.codonTable (one truth);
      // RSCU = n_occ·n_syn/total_aa with exact ints
      "dna_codon_usage" ->
        s"""WITH d AS (SELECT $docDnaSql AS dna FROM documents),
           |co AS (SELECT substr(dna, CAST(u.i AS INT), 3) AS codon
           |  FROM d, LATERAL unnest(generate_series(1, 28, 3)) u(i)),
           |cc AS (SELECT codon, count(*) AS n_occ FROM co GROUP BY 1),
           |ct AS (SELECT * FROM (VALUES $codonValuesSql) t(codon, aa)),
           |ns AS (SELECT aa, count(*) AS n_syn FROM ct GROUP BY 1),
           |j AS (SELECT cc.codon, ct.aa, cc.n_occ, ns.n_syn
           |  FROM cc JOIN ct USING (codon) JOIN ns USING (aa)),
           |tt AS (SELECT aa, CAST(sum(n_occ) AS BIGINT) AS total_aa
           |  FROM j GROUP BY 1)
           |SELECT j.codon, j.aa, j.n_occ,
           |  CAST(round(10000.0 * (j.n_occ * j.n_syn) / tt.total_aa)
           |    AS BIGINT) AS rscu4
           |FROM j JOIN tt USING (aa)""".stripMargin,

      "dna_palindrome_sites" ->
        s"""WITH d AS (SELECT doc_id, $docDnaSql AS dna FROM documents),
           |km AS (SELECT doc_id,
           |  substr(dna, CAST(u.i AS INT), 6) AS kmer FROM d,
           |  LATERAL unnest(generate_series(1, length(dna) - 5)) u(i)),
           |pal AS (SELECT doc_id, kmer FROM km
           |  WHERE reverse(translate(kmer, 'ACGT', 'TGCA')) = kmer)
           |SELECT kmer, count(*) AS n_occ,
           |  count(DISTINCT doc_id) AS n_docs
           |FROM pal GROUP BY 1""".stripMargin,

      // same width-8 step-4 window walk; G/C counts via translate,
      // both divisions mirrored as 10000.0 * BIGINT / BIGINT
      "dna_gc_windows" ->
        s"""WITH d AS (SELECT $docDnaSql AS dna FROM documents),
           |w AS (SELECT u.i AS start,
           |  substr(dna, CAST(u.i AS INT), 8) AS win FROM d,
           |  LATERAL unnest(generate_series(1, 25, 4)) u(i)),
           |g AS (SELECT start,
           |  8 - length(translate(win, 'G', '')) AS gg,
           |  8 - length(translate(win, 'C', '')) AS cc FROM w),
           |a AS (SELECT CAST(start AS BIGINT) AS start,
           |  count(*) AS n_windows, CAST(sum(gg) AS BIGINT) AS n_g,
           |  CAST(sum(cc) AS BIGINT) AS n_c FROM g GROUP BY 1)
           |SELECT start, n_windows, n_g, n_c,
           |  CAST(round(10000.0 * (n_g + n_c) / (n_windows * 8))
           |    AS BIGINT) AS gc4,
           |  CASE WHEN n_g + n_c > 0 THEN
           |    CAST(round(10000.0 * (n_g - n_c) / (n_g + n_c))
           |      AS BIGINT)
           |  END AS skew4
           |FROM a""".stripMargin,

      // distinct 8-mer edges, 7-mer prefix/suffix degree aggs
      "dna_debruijn_stats" ->
        s"""WITH d AS (SELECT $docDnaSql AS dna FROM documents),
           |e AS (SELECT DISTINCT substr(dna, CAST(u.i AS INT), 8) AS kmer
           |  FROM d, LATERAL unnest(generate_series(1, length(dna) - 7))
           |    u(i)),
           |o AS (SELECT substr(kmer, 1, 7) AS node, count(*) AS odeg
           |  FROM e GROUP BY 1),
           |ind AS (SELECT substr(kmer, 2, 7) AS node, count(*) AS ideg
           |  FROM e GROUP BY 1),
           |n AS (SELECT node FROM o UNION SELECT node FROM ind)
           |SELECT (SELECT count(*) FROM e) AS n_edges,
           |  (SELECT count(*) FROM n) AS n_nodes,
           |  (SELECT count(*) FROM o WHERE odeg >= 2) AS n_branch_out,
           |  (SELECT count(*) FROM ind WHERE ideg >= 2) AS n_branch_in""".stripMargin,

      "bpe_merge_step" ->
        s"""WITH wd AS (SELECT uw.w AS w
           |  FROM (SELECT string_split($normTextSql, ' ') AS ps FROM documents),
           |  LATERAL unnest(ps) uw(w) WHERE length(uw.w) > 1),
           |f AS (SELECT w, count(*) AS freq FROM wd GROUP BY 1),
           |p AS (SELECT substr(w, CAST(u.i AS INT), 2) AS pair, freq FROM f,
           |  LATERAL unnest(generate_series(1, length(w) - 1)) u(i)),
           |c AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p GROUP BY 1)
           |SELECT rank, pair, cnt FROM (
           |  SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair)
           |    AS BIGINT) AS rank, pair, cnt FROM c)
           |WHERE rank <= 20""".stripMargin,

      // full training replay: 10 chained (count → argmax → replace)
      // rounds — selection order, tie-breaks AND counts all graded
      "bpe_train" ->
        s"""WITH ${bpeTrainCtes(10)}
           |SELECT rank, a, b, cnt FROM (${(1 to 10)
          .map(r => s"SELECT CAST($r AS BIGINT) AS rank, a, b, cnt FROM m$r")
          .mkString("\n  UNION ALL ")})""".stripMargin,

      // train (chained CTEs) + APPLY: the greedy lowest-rank-first
      // merge loop as a recursive CTE — each step finds the best
      //-ranked pair present in the word (contains-join against mg,
      // min_by rank; no join match → word stops recursing) and merges
      // ALL its non-overlapping occurrences via one replace, exactly
      // the BpeOps.encodeWord loop; final state = last iteration per
      // word. Two DuckDB-1.0 landmines shaped this SQL: the training
      // CTEs NEST inside mg's own WITH (a recursive WITH carrying the
      // long materialized chain silently never iterates — max_it
      // stays 0), and the recursive term uses join+min_by instead of
      // a LATERAL ORDER BY rank LIMIT 1 (the correlated form sees mg
      // empty when mg is computed, same silent non-iteration)
      "bpe_encode_tokens" ->
        s"""WITH RECURSIVE mg AS MATERIALIZED (
           |  WITH ${bpeTrainCtes(10)}
           |  SELECT * FROM (${(1 to 10)
          .map(r => s"SELECT CAST($r AS BIGINT) AS rank, a, b FROM m$r")
          .mkString("\n    UNION ALL ")})),
           |af AS MATERIALIZED (SELECT uw.w AS w, count(*) AS freq
           |  FROM (SELECT string_split($normTextSql, ' ') AS ps FROM documents),
           |  LATERAL unnest(ps) uw(w) WHERE length(uw.w) > 0
           |  GROUP BY 1),
           |app AS (
           |  SELECT w, freq, regexp_replace(w, '(.)', '|\\1|', 'g') AS state,
           |    0 AS it FROM af
           |  UNION ALL
           |  SELECT w, freq,
           |    replace(state, '|' || a || '||' || b || '|',
           |      '|' || a || b || '|') AS state, it + 1
           |  FROM (
           |    SELECT app.w, app.freq, app.state, app.it,
           |      min_by(mg.a, mg.rank) AS a, min_by(mg.b, mg.rank) AS b
           |    FROM app JOIN mg
           |      ON contains(app.state, '|' || mg.a || '||' || mg.b || '|')
           |    GROUP BY 1, 2, 3, 4)),
           |fin AS (SELECT w, freq, state FROM (SELECT w, freq, state,
           |  row_number() OVER (PARTITION BY w ORDER BY it DESC) AS rn
           |  FROM app) WHERE rn = 1),
           |tok AS (SELECT u.t AS token, freq FROM fin,
           |  LATERAL unnest(string_split(trim(state, '|'), '||')) u(t)),
           |cnt AS (SELECT token, CAST(sum(freq) AS BIGINT) AS n_occ
           |  FROM tok GROUP BY 1)
           |SELECT rank, token, n_occ FROM (
           |  SELECT CAST(row_number() OVER (ORDER BY n_occ DESC, token)
           |    AS BIGINT) AS rank, token, n_occ FROM cnt)
           |WHERE rank <= 20""".stripMargin,

      // the bpe_encode_tokens recursive replay, run over the DISTINCT
      // word vocabulary and joined back to per-(lang, word) counts
      "bpe_fertility" ->
        s"""WITH RECURSIVE mg AS MATERIALIZED (
           |  WITH ${bpeTrainCtes(10)}
           |  SELECT * FROM (${(1 to 10)
          .map(r => s"SELECT CAST($r AS BIGINT) AS rank, a, b FROM m$r")
          .mkString("\n    UNION ALL ")})),
           |wl AS MATERIALIZED (SELECT lang, uw.w AS w, count(*) AS freq
           |  FROM (SELECT lang, $normTextSql AS t FROM documents),
           |  LATERAL unnest(string_split(t, ' ')) uw(w)
           |  WHERE length(uw.w) > 0 GROUP BY 1, 2),
           |af AS MATERIALIZED (SELECT DISTINCT w FROM wl),
           |app AS (
           |  SELECT w, regexp_replace(w, '(.)', '|\\1|', 'g') AS state,
           |    0 AS it FROM af
           |  UNION ALL
           |  SELECT w,
           |    replace(state, '|' || a || '||' || b || '|',
           |      '|' || a || b || '|') AS state, it + 1
           |  FROM (
           |    SELECT app.w, app.state, app.it,
           |      min_by(mg.a, mg.rank) AS a, min_by(mg.b, mg.rank) AS b
           |    FROM app JOIN mg
           |      ON contains(app.state, '|' || mg.a || '||' || mg.b || '|')
           |    GROUP BY 1, 2, 3)),
           |fin AS (SELECT w, state FROM (SELECT w, state,
           |  row_number() OVER (PARTITION BY w ORDER BY it DESC) AS rn
           |  FROM app) WHERE rn = 1),
           |nt AS (SELECT w,
           |  len(string_split(trim(state, '|'), '||')) AS n_sub FROM fin)
           |SELECT lang, CAST(sum(freq) AS BIGINT) AS n_words,
           |  CAST(sum(n_sub * freq) AS BIGINT) AS n_subwords,
           |  CAST(round(10000.0 * sum(n_sub * freq) / sum(freq))
           |    AS BIGINT) AS fertility4
           |FROM wl JOIN nt ON nt.w = wl.w GROUP BY 1""".stripMargin,

      "quantile_stats" ->
        """SELECT l_returnflag,
          |  round(quantile_cont(l_quantity, 0.25), 4) AS q1,
          |  round(quantile_cont(l_quantity, 0.5), 4) AS med,
          |  round(quantile_cont(l_quantity, 0.75), 4) AS q3,
          |  count(*) AS n,
          |  round(round(quantile_cont(l_quantity, 0.75), 4)
          |    - round(quantile_cont(l_quantity, 0.25), 4), 4) AS iqr
          |FROM lineitem GROUP BY 1""".stripMargin,

      "graph_degree_hist" ->
        s"""WITH $jaccardPairCtes,
           |e AS (SELECT id_a AS id FROM jp UNION ALL SELECT id_b FROM jp),
           |deg AS (SELECT id, count(*) AS degree FROM e GROUP BY 1)
           |SELECT degree, count(*) AS n_nodes FROM deg GROUP BY 1""".stripMargin,

      // bigram twin of the text_surprisal chain: history counts
      // re-aggregated from the bigram table, add-1 smoothing over the
      // unigram vocabulary
      // P = 0.5·c12/c1 + 0.5·c2/N in the literal Spark sequence; the
      // unigram frame keeps doc-final words (c1 comes from bigrams)
      "text_jm_ppl" ->
        s"""WITH d AS (SELECT doc_id, string_split($normTextSql, ' ') AS ps
           |  FROM documents),
           |bg AS (SELECT doc_id, ps[CAST(u.i AS INT)] || ' ' ||
           |    ps[CAST(u.i + 1 AS INT)] AS bg
           |  FROM d, LATERAL unnest(generate_series(1, len(ps) - 1)) u(i)
           |  WHERE len(ps) >= 2),
           |bgc AS (SELECT bg, count(*) AS c12,
           |  split_part(bg, ' ', 1) AS w1,
           |  split_part(bg, ' ', 2) AS w2 FROM bg GROUP BY 1),
           |w1c AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
           |  FROM bgc GROUP BY 1),
           |tok AS (SELECT uw.w FROM d, LATERAL unnest(ps) uw(w)
           |  WHERE length(uw.w) > 0),
           |unic AS (SELECT w AS w2, count(*) AS c2 FROM tok GROUP BY 1),
           |tot AS (SELECT count(*) AS n FROM tok),
           |m AS (SELECT bg,
           |  CAST(round(-log2(
           |    0.5 * (CAST(c12 AS DOUBLE) / c1)
           |      + 0.5 * (CAST(c2 AS DOUBLE) / n)) * 10000)
           |    AS BIGINT) AS su4
           |  FROM bgc JOIN w1c USING (w1) JOIN unic USING (w2), tot)
           |SELECT doc_id, count(*) AS n_bigrams,
           |  sum(su4)/10000.0/count(*) AS avg_bits
           |FROM bg JOIN m USING (bg) GROUP BY 1""".stripMargin,

      "text_bigram_ppl" ->
        s"""WITH d AS (SELECT doc_id, string_split($normTextSql, ' ') AS ps
           |  FROM documents),
           |bg AS (SELECT doc_id, ps[CAST(u.i AS INT)] || ' ' ||
           |    ps[CAST(u.i + 1 AS INT)] AS bg
           |  FROM d, LATERAL unnest(generate_series(1, len(ps) - 1)) u(i)
           |  WHERE len(ps) >= 2),
           |bgc AS (SELECT bg, count(*) AS c12,
           |  split_part(bg, ' ', 1) AS w1 FROM bg GROUP BY 1),
           |w1c AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
           |  FROM bgc GROUP BY 1),
           |voc AS (SELECT count(DISTINCT uw.w) AS v FROM d,
           |  LATERAL unnest(ps) uw(w) WHERE length(uw.w) > 0),
           |m AS (SELECT bg,
           |  CAST(round(-log2(CAST(c12 + 1 AS DOUBLE) / (c1 + v)) * 10000)
           |    AS BIGINT) AS su4
           |  FROM bgc JOIN w1c USING (w1), voc)
           |SELECT doc_id, count(*) AS n_bigrams,
           |  sum(su4)/10000.0/count(*) AS avg_bits
           |FROM bg JOIN m USING (bg) GROUP BY 1""".stripMargin,

      "variant_density" ->
        s"""WITH v AS ($liVariantsSql),
           |d AS (SELECT DISTINCT chr, pos, ref_nuc, var_nuc FROM v
           |  WHERE ref_nuc <> var_nuc)
           |SELECT chr, pos // 1000 AS win1k, count(*) AS n_variants
           |FROM d GROUP BY 1, 2""".stripMargin,

      // robust twin of event_anomalies: same (type, day) frame, median/
      // MAD profile, identical literal sequence in the flag comparison
      "events_mad" ->
        """WITH c AS (SELECT event_type,
          |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |m AS (SELECT event_type, round(quantile_cont(n, 0.5), 4) AS med
          |  FROM c GROUP BY 1),
          |dv AS (SELECT c.event_type, day, n, med, abs(n - med) AS adev
          |  FROM c JOIN m USING (event_type)),
          |md AS (SELECT event_type, round(quantile_cont(adev, 0.5), 4) AS mad
          |  FROM dv GROUP BY 1)
          |SELECT dv.event_type, day, n, med, mad
          |FROM dv JOIN md USING (event_type)
          |WHERE mad > 0 AND adev > 2.0 * 1.4826 * mad""".stripMargin,

      // the same two chained matvec iterations; v0 = [0.125]*64 exactly,
      // norms via list_reduce over ORDER BY dim (mirrors the driver's
      // dim-order fold; IEEE sqrt is correctly rounded, so the whole
      // normalization chain is bit-exact)
      "embed_power_iteration" -> {
        val v0 = Seq.fill(64)("0.125").mkString("[", ", ", "]")
        s"""WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
           |r1 AS (SELECT vv, list_dot_product(vv, $v0) AS s FROM v),
           |w1 AS (SELECT u.i AS dim, CAST(sum(CAST(round(
           |    vv[CAST(u.i + 1 AS INT)] * s * 1e9) AS BIGINT)) AS BIGINT) AS w9
           |  FROM r1, LATERAL unnest(generate_series(0, 63)) u(i) GROUP BY 1),
           |n1 AS (SELECT sqrt(list_reduce(
           |    list((CAST(w9 AS DOUBLE)/1e9) * (CAST(w9 AS DOUBLE)/1e9)
           |      ORDER BY dim), (a, b) -> a + b)) AS nrm FROM w1),
           |v1 AS (SELECT list(CAST(w9 AS DOUBLE)/1e9/nrm ORDER BY dim) AS vl
           |  FROM w1, n1),
           |r2 AS (SELECT vv, list_dot_product(vv, vl) AS s FROM v, v1),
           |w2 AS (SELECT u.i AS dim, CAST(sum(CAST(round(
           |    vv[CAST(u.i + 1 AS INT)] * s * 1e9) AS BIGINT)) AS BIGINT) AS w9
           |  FROM r2, LATERAL unnest(generate_series(0, 63)) u(i) GROUP BY 1),
           |n2 AS (SELECT sqrt(list_reduce(
           |    list((CAST(w9 AS DOUBLE)/1e9) * (CAST(w9 AS DOUBLE)/1e9)
           |      ORDER BY dim), (a, b) -> a + b)) AS nrm FROM w2)
           |SELECT CAST(dim AS BIGINT) AS dim,
           |  CAST(w9 AS DOUBLE)/1e9/nrm AS loading
           |FROM w2, n2""".stripMargin
      },

      // e-notation literals (1e6/1e12) are DOUBLE in DuckDB — bare
      // decimal literals would be DECIMAL (the pagerank lesson)
      "embed_dim_variance" ->
        """WITH x AS (SELECT CAST(u.i AS BIGINT) AS dim,
          |  CAST(round(vv[CAST(u.i + 1 AS INT)] * 1e6) AS BIGINT) AS xs
          |  FROM (SELECT CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
          |  LATERAL unnest(generate_series(0, len(vv) - 1)) u(i)),
          |s AS (SELECT dim, count(*) AS n, CAST(sum(xs) AS BIGINT) AS s1,
          |  CAST(sum(xs * xs) AS BIGINT) AS s2 FROM x GROUP BY 1),
          |v AS (SELECT dim, n, CAST(s2 AS DOUBLE) / n / 1e12
          |  - (CAST(s1 AS DOUBLE) / n / 1e6)
          |    * (CAST(s1 AS DOUBLE) / n / 1e6) AS variance FROM s)
          |SELECT rank, dim, n, variance FROM (
          |  SELECT CAST(row_number() OVER (ORDER BY variance DESC, dim)
          |    AS BIGINT) AS rank, dim, n, variance FROM v)
          |WHERE rank <= 10""".stripMargin,

      // the same two chained iterations. The teleport term is written
      // (CAST(1.0 AS DOUBLE) - 0.85): DuckDB evaluates bare numeric
      // literals in exact DECIMAL, so (1.0 - 0.85) is decimal 0.15 —
      // one ulp OFF Spark's double subtraction 0.15000000000000002
      // (caught live at r7: ranks 2-3 hashed differently)
      "graph_pagerank" ->
        s"""WITH $jaccardPairCtes,
           |e AS (SELECT id_a AS src, id_b AS dst FROM jp
           |  UNION ALL SELECT id_b, id_a FROM jp),
           |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
           |nodes AS (SELECT DISTINCT src AS id FROM e),
           |nn AS (SELECT count(*) AS n_nodes FROM nodes),
           |p0 AS (SELECT id, 1.0 / n_nodes AS pr FROM nodes, nn),
           |c1 AS (SELECT dst, CAST(sum(CAST(round(pr / outdeg
           |    * 1000000000000.0) AS BIGINT)) AS BIGINT) AS s12
           |  FROM e JOIN p0 ON p0.id = e.src JOIN deg USING (src)
           |  GROUP BY 1),
           |p1 AS (SELECT dst AS id, (CAST(1.0 AS DOUBLE) - 0.85) / n_nodes
           |    + 0.85 * (s12 / 1000000000000.0) AS pr FROM c1, nn),
           |c2 AS (SELECT dst, CAST(sum(CAST(round(pr / outdeg
           |    * 1000000000000.0) AS BIGINT)) AS BIGINT) AS s12
           |  FROM e JOIN p1 ON p1.id = e.src JOIN deg USING (src)
           |  GROUP BY 1),
           |p2 AS (SELECT dst AS id, (CAST(1.0 AS DOUBLE) - 0.85) / n_nodes
           |    + 0.85 * (s12 / 1000000000000.0) AS pr FROM c2, nn)
           |SELECT rank, id, pr FROM (
           |  SELECT CAST(row_number() OVER (ORDER BY pr DESC, id)
           |    AS BIGINT) AS rank, id, pr FROM p2)
           |WHERE rank <= 20""".stripMargin,

      // the same 3 LPA rounds chained: adopt = argmax in-neighbor label
      // by (cnt desc, label asc); nodes without adoption keep theirs
      // the shared LPA chain + the all-integer modularity rational
      "graph_modularity" ->
        s"""WITH $lpaCtes,
           |eu AS (SELECT id_a AS u, id_b AS v FROM jp),
           |mm AS (SELECT count(*) AS m FROM eu),
           |ein AS (SELECT count(*) AS e_in FROM eu
           |  JOIN l3 a ON a.id = eu.u JOIN l3 b ON b.id = eu.v
           |  WHERE a.label = b.label),
           |deg AS (SELECT id, count(*) AS deg FROM
           |  (SELECT u AS id FROM eu UNION ALL SELECT v FROM eu)
           |  GROUP BY 1),
           |dc AS (SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS d_c
           |  FROM deg d JOIN l3 l ON l.id = d.id GROUP BY 1),
           |s AS (SELECT count(*) AS n_communities,
           |  CAST(sum(d_c*d_c) AS BIGINT) AS sum_d2 FROM dc)
           |SELECT n_communities, CAST(m AS BIGINT) AS n_edges,
           |  CAST(round(1000000.0 * (4*m*e_in - sum_d2) / (4*m*m))
           |    AS BIGINT) AS modularity6
           |FROM mm CROSS JOIN ein CROSS JOIN s""".stripMargin,

      "graph_label_prop" ->
        s"""WITH $lpaCtes,
           |g AS (SELECT label, count(*) AS n_members FROM l3 GROUP BY 1)
           |SELECT rank, label, n_members FROM (
           |  SELECT CAST(row_number() OVER (ORDER BY n_members DESC, label)
           |    AS BIGINT) AS rank, label, CAST(n_members AS BIGINT)
           |    AS n_members FROM g)
           |WHERE rank <= 20""".stripMargin,

      // jaccard pairs annotated with both sources, (least, greatest)
      // normalized; possible-pair denominators exact in both engines
      "corpus_dup_sources" ->
        s"""WITH $jaccardPairCtes,
           |ds AS (SELECT doc_id, source FROM documents),
           |ps AS (SELECT least(a.source, b.source) AS src_a,
           |  greatest(a.source, b.source) AS src_b
           |  FROM jp JOIN ds a ON a.doc_id = jp.id_a
           |  JOIN ds b ON b.doc_id = jp.id_b),
           |g AS (SELECT src_a, src_b, count(*) AS n_pairs
           |  FROM ps GROUP BY 1, 2),
           |cnt AS (SELECT source, count(*) AS n_docs FROM ds GROUP BY 1)
           |SELECT g.src_a, g.src_b, g.n_pairs,
           |  ca.n_docs AS n_docs_a, cb.n_docs AS n_docs_b,
           |  CAST(round(100000000.0 * g.n_pairs
           |    / (CASE WHEN g.src_a = g.src_b
           |      THEN ca.n_docs * (ca.n_docs - 1) / 2
           |      ELSE ca.n_docs * cb.n_docs END)) AS BIGINT) AS rate8
           |FROM g JOIN cnt ca ON ca.source = g.src_a
           |JOIN cnt cb ON cb.source = g.src_b""".stripMargin,

      // wedge join + closing-edge probe; union size via du+dv−common
      // (denominator ≥ 2 structurally)
      "graph_edge_jaccard" ->
        s"""WITH $jaccardPairCtes,
           |e AS (SELECT id_a AS u, id_b AS v FROM jp),
           |adj AS (SELECT u AS id, v AS nb FROM e
           |  UNION ALL SELECT v, u FROM e),
           |deg AS (SELECT id, count(*) AS deg FROM adj GROUP BY 1),
           |cn AS (SELECT e.u, e.v, count(*) AS n_common
           |  FROM e JOIN adj a ON a.id = e.u AND a.nb <> e.v
           |  JOIN e e2 ON e2.u = least(e.v, a.nb)
           |    AND e2.v = greatest(e.v, a.nb)
           |  GROUP BY 1, 2)
           |SELECT e.u AS id_a, e.v AS id_b,
           |  coalesce(cn.n_common, 0) AS n_common,
           |  du.deg AS deg_a, dv.deg AS deg_b,
           |  CAST(round(10000.0 * coalesce(cn.n_common, 0)
           |    / (du.deg + dv.deg - coalesce(cn.n_common, 0)))
           |    AS BIGINT) AS jacc4
           |FROM e LEFT JOIN cn ON cn.u = e.u AND cn.v = e.v
           |JOIN deg du ON du.id = e.u
           |JOIN deg dv ON dv.id = e.v""".stripMargin,

      // both orientations of every unique pair symmetrize the moment
      // sums; all moments exact BIGINT, one double division at the end
      "graph_assortativity" ->
        s"""WITH $jaccardPairCtes,
           |e AS (SELECT id_a AS u, id_b AS v FROM jp),
           |deg AS (SELECT id, count(*) AS deg FROM
           |  (SELECT u AS id FROM e UNION ALL SELECT v FROM e)
           |  GROUP BY 1),
           |ends AS (SELECT du.deg AS dx, dv.deg AS dy FROM e
           |  JOIN deg du ON du.id = e.u JOIN deg dv ON dv.id = e.v
           |  UNION ALL SELECT dv.deg, du.deg FROM e
           |  JOIN deg du ON du.id = e.u JOIN deg dv ON dv.id = e.v),
           |m AS (SELECT count(*) AS m, sum(dx) AS sx, sum(dy) AS sy,
           |  sum(dx*dx) AS sxx, sum(dy*dy) AS syy,
           |  sum(dx*dy) AS sxy FROM ends)
           |SELECT (SELECT count(*) FROM deg) AS n_nodes,
           |  (SELECT count(*) FROM e) AS n_edges,
           |  CASE WHEN m*sxx - sx*sx > 0 AND m*syy - sy*sy > 0 THEN
           |    CAST(round(10000.0 * (m*sxy - sx*sy) /
           |      (sqrt(CAST(m*sxx - sx*sx AS DOUBLE)) *
           |       sqrt(CAST(m*syy - sy*sy AS DOUBLE)))) AS BIGINT)
           |  END AS r4
           |FROM m""".stripMargin,

      // the same 3 BFS rounds chained: each frontier = distinct
      // expansion of the PREVIOUS frontier minus everything reached
      "graph_bfs_hops" ->
        s"""WITH $jaccardPairCtes,
           |e AS (SELECT id_a AS src, id_b AS dst FROM jp
           |  UNION ALL SELECT id_b, id_a FROM jp),
           |d0 AS (SELECT doc_id AS id, 0 AS hop FROM documents
           |  WHERE doc_id % 97 = 0),
           |f1 AS (SELECT DISTINCT e.dst AS id FROM d0 JOIN e
           |  ON e.src = d0.id WHERE e.dst NOT IN (SELECT id FROM d0)),
           |d1 AS (SELECT id, hop FROM d0
           |  UNION ALL SELECT id, 1 FROM f1),
           |f2 AS (SELECT DISTINCT e.dst AS id FROM f1 JOIN e
           |  ON e.src = f1.id WHERE e.dst NOT IN (SELECT id FROM d1)),
           |d2 AS (SELECT id, hop FROM d1
           |  UNION ALL SELECT id, 2 FROM f2),
           |f3 AS (SELECT DISTINCT e.dst AS id FROM f2 JOIN e
           |  ON e.src = f2.id WHERE e.dst NOT IN (SELECT id FROM d2)),
           |d3 AS (SELECT id, hop FROM d2
           |  UNION ALL SELECT id, 3 FROM f3)
           |SELECT CAST(hop AS BIGINT) AS hop, count(*) AS n_nodes,
           |  CAST(sum(id) AS BIGINT) AS sum_id
           |FROM d3 GROUP BY 1""".stripMargin,

      // the E-step responsibilities are per-row arithmetic (no float
      // aggregation): each num_z and the fixed-z-order denominator are
      // spelled with the IDENTICAL operation sequence as Topics.plsaStep
      "topic_plsa_step" -> {
        def wt(z: Int) =
          s"1 + CAST('0x' || substr(md5(w || ':$z'), 1, 8) AS BIGINT) % 1000"
        def num(z: Int) = s"(CAST(wt$z AS DOUBLE) / bz$z) * " +
          s"((CAST(1.0 AS DOUBLE) + (d + $z) % 4) / 10)"
        val denom = (0 until 4).map(num).mkString(" + ")
        def r(z: Int) =
          s"CAST(round(${num(z)} / ($denom) * 1000000) AS BIGINT) AS r$z"
        s"""WITH d0 AS (SELECT doc_id AS d, $normTextSql AS t FROM documents),
           |wrd AS (SELECT d, uw.w FROM d0,
           |  LATERAL unnest(string_split(t, ' ')) uw(w)
           |  WHERE length(uw.w) > 0),
           |dw AS (SELECT d, w, count(*) AS n FROM wrd GROUP BY 1, 2),
           |v AS (SELECT DISTINCT w FROM dw),
           |vw AS (SELECT w, ${(0 until 4).map(z => s"${wt(z)} AS wt$z")
                .mkString(", ")} FROM v),
           |bz AS (SELECT ${(0 until 4).map(z => s"sum(wt$z) AS bz$z")
                .mkString(", ")} FROM vw),
           |r AS (SELECT dw.w, n, ${(0 until 4).map(r).mkString(", ")}
           |  FROM dw JOIN vw ON vw.w = dw.w, bz),
           |zr AS (${(0 until 4).map(z =>
                s"SELECT w, $z AS z, CAST(n * r$z AS BIGINT) AS nw6 FROM r")
                .mkString("\n  UNION ALL ")}),
           |nw AS (SELECT z, w, CAST(sum(nw6) AS BIGINT) AS nw6
           |  FROM zr GROUP BY 1, 2)
           |SELECT CAST(z AS BIGINT) AS z, rank, w, nw6 FROM (
           |  SELECT z, w, nw6, CAST(row_number() OVER (PARTITION BY z
           |    ORDER BY nw6 DESC, w) AS BIGINT) AS rank FROM nw)
           |WHERE rank <= 10""".stripMargin
      },

      "events_changepoint" ->
        """WITH c AS (SELECT event_type,
          |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |s AS (SELECT event_type, day, n,
          |  CAST(row_number() OVER (PARTITION BY event_type
          |    ORDER BY day) AS BIGINT) AS k,
          |  sum(n) OVER (PARTITION BY event_type ORDER BY day
          |    ROWS UNBOUNDED PRECEDING) AS sk,
          |  count(*) OVER (PARTITION BY event_type) AS d,
          |  sum(n) OVER (PARTITION BY event_type) AS sd
          |  FROM c),
          |i AS (SELECT event_type, day,
          |  abs(d*sk - k*sd) AS score FROM s WHERE k < d),
          |r AS (SELECT event_type, day, score,
          |  row_number() OVER (PARTITION BY event_type
          |    ORDER BY score DESC, day) AS rn,
          |  count(*) OVER (PARTITION BY event_type) AS ni FROM i)
          |SELECT event_type, CAST(ni + 1 AS BIGINT) AS n_days,
          |  day AS split_day, CAST(score AS BIGINT) AS score
          |FROM r WHERE rn = 1""".stripMargin,

      // the dequant expression appears twice (squared) — duplicated
      // text evaluates to the identical double both times, matching the
      // Spark side's reused Column
      "embed_sq8" ->
        """WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS vv
          |  FROM embeddings),
          |cells AS (SELECT u.i AS dim,
          |  CAST(round(vv[CAST(u.i + 1 AS INT)] * 1000000) AS BIGINT) AS v6
          |  FROM v, LATERAL unnest(generate_series(0, len(vv) - 1)) u(i)),
          |rg AS (SELECT dim, min(v6) AS min6, max(v6) AS max6
          |  FROM cells GROUP BY 1),
          |er AS (SELECT c.dim, CAST(round(
          |  (min6 + (CASE WHEN max6 - min6 > 0
          |     THEN round(255.0 * (v6 - min6) / (max6 - min6))
          |     ELSE 0.0 END) * (max6 - min6) / 255.0 - v6)
          |  * (min6 + (CASE WHEN max6 - min6 > 0
          |     THEN round(255.0 * (v6 - min6) / (max6 - min6))
          |     ELSE 0.0 END) * (max6 - min6) / 255.0 - v6)) AS BIGINT)
          |    AS esq, min6, max6
          |  FROM cells c JOIN rg ON rg.dim = c.dim)
          |SELECT CAST(dim AS BIGINT) AS dim, min(min6) AS min6,
          |  max(max6) AS max6, count(*) AS n,
          |  CAST(sum(esq) AS DOUBLE) / count(*) AS mse6sq
          |FROM er GROUP BY 1""".stripMargin,

      "graph_kcore_peel" ->
        s"""WITH $jaccardPairCtes,
           |e AS (SELECT id_a AS src, id_b AS dst FROM jp
           |  UNION ALL SELECT id_b, id_a FROM jp),
           |nodes AS (SELECT DISTINCT src AS id FROM e),
           |a1 AS (SELECT src AS id FROM (
           |  SELECT e.src, count(*) AS deg FROM e
           |    JOIN nodes n1 ON n1.id = e.src
           |    JOIN nodes n2 ON n2.id = e.dst GROUP BY 1)
           |  WHERE deg >= 2),
           |a2 AS (SELECT src AS id FROM (
           |  SELECT e.src, count(*) AS deg FROM e
           |    JOIN a1 n1 ON n1.id = e.src
           |    JOIN a1 n2 ON n2.id = e.dst GROUP BY 1)
           |  WHERE deg >= 2),
           |a3 AS (SELECT src AS id FROM (
           |  SELECT e.src, count(*) AS deg FROM e
           |    JOIN a2 n1 ON n1.id = e.src
           |    JOIN a2 n2 ON n2.id = e.dst GROUP BY 1)
           |  WHERE deg >= 2)
           |SELECT (SELECT count(*) FROM nodes) AS n_nodes,
           |  (SELECT count(*) FROM a1) AS n_alive1,
           |  (SELECT count(*) FROM a2) AS n_alive2,
           |  (SELECT count(*) FROM a3) AS n_alive3""".stripMargin,

      "dna_kmer_canonical" ->
        s"""WITH d AS (SELECT $docDnaSql AS dna FROM documents),
           |km AS (SELECT substr(dna, CAST(u.i AS INT), 4) AS kmer FROM d,
           |  LATERAL unnest(generate_series(1, length(dna) - 3)) u(i)),
           |cn AS (SELECT least(kmer,
           |  reverse(translate(kmer, 'ACGT', 'TGCA'))) AS canon FROM km),
           |c AS (SELECT canon, count(*) AS n_occ FROM cn GROUP BY 1)
           |SELECT n_occ, count(*) AS n_kmers FROM c GROUP BY 1""".stripMargin,

      // ln() is libm: both engines round 4 dp and x1e4-scale per word,
      // regression sums run in integer space, one final division
      "text_zipf" ->
        s"""WITH w AS (SELECT lang, uw.w FROM
           |  (SELECT lang, $normTextSql AS t FROM documents) d,
           |  LATERAL unnest(string_split(t, ' ')) uw(w)
           |  WHERE length(uw.w) > 0),
           |c AS (SELECT lang, w, count(*) AS cnt FROM w GROUP BY 1, 2
           |  HAVING count(*) >= 5),
           |r AS (SELECT lang,
           |  CAST(round(ln(CAST(rank AS DOUBLE)) * 10000) AS BIGINT) AS x4,
           |  CAST(round(ln(CAST(cnt AS DOUBLE)) * 10000) AS BIGINT) AS y4
           |  FROM (SELECT lang, cnt, row_number()
           |    OVER (PARTITION BY lang ORDER BY cnt DESC, w) AS rank
           |    FROM c) WHERE rank <= 1000),
           |s AS (SELECT lang, count(*) AS n_words,
           |  sum(x4) AS sx, sum(y4) AS sy, sum(x4*y4) AS sxy,
           |  sum(x4*x4) AS sxx FROM r GROUP BY 1)
           |SELECT lang, CAST(n_words AS BIGINT) AS n_words,
           |  CAST(round(10000.0 * (n_words * sxy - sx * sy)
           |    / (n_words * sxx - sx * sx)) AS BIGINT) AS slope4
           |FROM s""".stripMargin,

      // densify words × sources so disjoint-vocabulary mass counts;
      // p/q/term spelled in the Spark lambda's exact operation order
      "text_jsd_sources" ->
        s"""WITH tk AS (SELECT source, uw.w FROM
           |  (SELECT source, $normTextSql AS t FROM documents) d,
           |  LATERAL unnest(string_split(t, ' ')) uw(w)
           |  WHERE length(uw.w) > 0),
           |cnt AS (SELECT source, w, count(*) AS cnt FROM tk GROUP BY 1, 2),
           |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS tot
           |  FROM cnt GROUP BY 1),
           |words AS (SELECT DISTINCT w FROM cnt),
           |dense AS (SELECT t.source, words.w, t.tot,
           |  coalesce(c.cnt, 0) AS cnt
           |  FROM words CROSS JOIN tot t LEFT JOIN cnt c
           |    ON c.source = t.source AND c.w = words.w),
           |pw AS (SELECT a.source AS src_a, b.source AS src_b,
           |  CAST(a.cnt AS DOUBLE) / a.tot AS p,
           |  CAST(b.cnt AS DOUBLE) / b.tot AS q,
           |  a.cnt AS c1, b.cnt AS c2
           |  FROM dense a JOIN dense b ON a.w = b.w
           |    AND a.source < b.source
           |  WHERE a.cnt + b.cnt > 0),
           |tm AS (SELECT src_a, src_b,
           |  CASE WHEN c1 > 0 THEN CAST(round(p
           |    * round(ln(2 * p / (p + q)) * 10000) * 1000000) AS BIGINT)
           |    ELSE 0 END
           |  + CASE WHEN c2 > 0 THEN CAST(round(q
           |    * round(ln(2 * q / (p + q)) * 10000) * 1000000) AS BIGINT)
           |    ELSE 0 END AS term
           |  FROM pw)
           |SELECT src_a, src_b, count(*) AS n_words,
           |  CAST(sum(term) AS BIGINT) AS jsd2e10
           |FROM tm GROUP BY 1, 2""".stripMargin,

      "events_assoc_rules" ->
        """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
          |n AS (SELECT count(DISTINCT user_id) AS n_users FROM ut),
          |tc AS (SELECT event_type, count(*) AS n_t FROM ut GROUP BY 1),
          |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
          |    count(*) AS n_ab
          |  FROM ut a JOIN ut b ON a.user_id = b.user_id
          |    AND a.event_type < b.event_type
          |  GROUP BY 1, 2)
          |SELECT type_a, type_b, n_ab, ta.n_t AS n_a, tb.n_t AS n_b,
          |  CAST(n_ab AS DOUBLE) * n_users / (ta.n_t * tb.n_t) AS lift
          |FROM p JOIN tc ta ON ta.event_type = type_a
          |JOIN tc tb ON tb.event_type = type_b, n""".stripMargin,

      // identical fold: list(…ORDER BY day) + list_reduce with the same
      // lambda literals -> bit-identical unrounded double
      "events_ewma" ->
        """WITH c AS (SELECT event_type,
          |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |s AS (SELECT event_type, count(*) AS n_days, max(day) AS last_day,
          |  list(CAST(n AS DOUBLE) ORDER BY day) AS ser FROM c GROUP BY 1)
          |SELECT event_type, CAST(n_days AS BIGINT) AS n_days, last_day,
          |  list_reduce(ser, (acc, x) -> 0.3 * x + 0.7 * acc) AS ewma
          |FROM s""".stripMargin,

      // elements wrapped as [x, 0.0] pairs so list_reduce's first
      // accumulator IS the Spark fold's seed [x0, 0]; the l_t expression
      // is duplicated inside the trend term exactly as the Spark lambda
      // duplicates it (no let-binding in SQL lambdas)
      "events_holt" ->
        """WITH c AS (SELECT event_type,
          |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |s AS (SELECT event_type, count(*) AS n_days, max(day) AS last_day,
          |  list([CAST(n AS DOUBLE), 0.0] ORDER BY day) AS ser
          |  FROM c GROUP BY 1),
          |h AS (SELECT event_type, n_days, last_day,
          |  list_reduce(ser, (acc, x) ->
          |    [0.5 * x[1] + 0.5 * (acc[1] + acc[2]),
          |     0.25 * ((0.5 * x[1] + 0.5 * (acc[1] + acc[2])) - acc[1])
          |       + 0.75 * acc[2]]) AS hw
          |  FROM s)
          |SELECT event_type, CAST(n_days AS BIGINT) AS n_days, last_day,
          |  hw[1] AS level, hw[2] AS trend, hw[1] + hw[2] AS forecast
          |FROM h""".stripMargin,

      // the Holt fold with a third accumulator slot banking the
      // x1e4-rounded absolute error BEFORE the state update
      "events_holt_backtest" ->
        """WITH c AS (SELECT event_type,
          |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |s AS (SELECT event_type, count(*) AS n_days, max(day) AS last_day,
          |  list([CAST(n AS DOUBLE), 0.0, 0.0] ORDER BY day) AS ser
          |  FROM c GROUP BY 1),
          |h AS (SELECT event_type, n_days,
          |  list_reduce(ser, (acc, x) ->
          |    [0.5 * x[1] + 0.5 * (acc[1] + acc[2]),
          |     0.25 * ((0.5 * x[1] + 0.5 * (acc[1] + acc[2]))
          |       - acc[1]) + 0.75 * acc[2],
          |     acc[3] + round(abs(x[1] - (acc[1] + acc[2])) * 10000)])
          |    AS bt
          |  FROM s)
          |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
          |  CAST(n_days - 1 AS BIGINT) AS n_evals,
          |  CAST(bt[3] AS BIGINT) AS sum_abs_err4,
          |  CASE WHEN n_days > 1
          |    THEN CAST(round(bt[3] / (n_days - 1)) AS BIGINT)
          |    ELSE 0 END AS mae4
          |FROM h""".stripMargin,

      // the composed skill score: densify CTEs + the holt_backtest
      // list_reduce fold over the DENSE series + the lag-7 self-join;
      // mase4 is the exact-product division (×10⁴ scales cancel)
      "events_mase" ->
        """WITH c AS (SELECT event_type,
          |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |bounds AS (SELECT event_type, min(day) AS d0, max(day) AS d1
          |  FROM c GROUP BY 1),
          |cal AS (SELECT event_type, unnest(generate_series(d0, d1)) AS day
          |  FROM bounds),
          |dense AS (SELECT cal.event_type, cal.day, coalesce(c.n, 0) AS n
          |  FROM cal LEFT JOIN c
          |  ON c.event_type = cal.event_type AND c.day = cal.day),
          |s AS (SELECT event_type, count(*) AS nd,
          |  list([CAST(n AS DOUBLE), 0.0, 0.0] ORDER BY day) AS ser
          |  FROM dense GROUP BY 1),
          |h AS (SELECT event_type, nd,
          |  list_reduce(ser, (acc, x) ->
          |    [0.5 * x[1] + 0.5 * (acc[1] + acc[2]),
          |     0.25 * ((0.5 * x[1] + 0.5 * (acc[1] + acc[2]))
          |       - acc[1]) + 0.75 * acc[2],
          |     acc[3] + round(abs(x[1] - (acc[1] + acc[2])) * 10000)])
          |    AS bt
          |  FROM s),
          |l7 AS (SELECT a.event_type,
          |  CAST(sum(abs(a.n - b.n)) AS BIGINT) AS s7 FROM dense a
          |  JOIN dense b ON b.event_type = a.event_type
          |    AND b.day = a.day - 7 GROUP BY 1)
          |SELECT h.event_type, CAST(nd AS BIGINT) AS n_days,
          |  CAST(nd - 1 AS BIGINT) AS n_evals,
          |  CAST(bt[3] AS BIGINT) AS holt_sum_abs_err4,
          |  CASE WHEN nd > 1
          |    THEN CAST(round(bt[3] / (nd - 1)) AS BIGINT)
          |    ELSE 0 END AS holt_mae4,
          |  CASE WHEN nd > 7 THEN s7 END AS naive7_sum_abs,
          |  CASE WHEN nd > 7 THEN
          |    CAST(round(10000.0 * s7 / (nd - 7)) AS BIGINT)
          |  END AS naive7_mae4,
          |  CASE WHEN nd > 7 AND s7 > 0 THEN
          |    CAST(round(bt[3] * (nd - 7) / ((nd - 1) * s7)) AS BIGINT)
          |  END AS mase4
          |FROM h LEFT JOIN l7 ON l7.event_type = h.event_type""".stripMargin,

      // the HW oracle's densify CTEs + lag self-joins on day offsets
      // (equivalent to the Spark fold's index arithmetic because the
      // dense frame is calendar-contiguous by construction)
      "events_mase_baseline" ->
        """WITH c AS (SELECT event_type,
          |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |bounds AS (SELECT event_type, min(day) AS d0, max(day) AS d1
          |  FROM c GROUP BY 1),
          |cal AS (SELECT event_type, unnest(generate_series(d0, d1)) AS day
          |  FROM bounds),
          |dense AS (SELECT cal.event_type, cal.day, coalesce(c.n, 0) AS n
          |  FROM cal LEFT JOIN c
          |  ON c.event_type = cal.event_type AND c.day = cal.day),
          |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
          |  FROM dense GROUP BY 1),
          |l7 AS (SELECT a.event_type,
          |  CAST(sum(abs(a.n - b.n)) AS BIGINT) AS s7 FROM dense a
          |  JOIN dense b ON b.event_type = a.event_type
          |    AND b.day = a.day - 7 GROUP BY 1),
          |l1 AS (SELECT a.event_type,
          |  CAST(sum(abs(a.n - b.n)) AS BIGINT) AS s1 FROM dense a
          |  JOIN dense b ON b.event_type = a.event_type
          |    AND b.day = a.day - 1 GROUP BY 1)
          |SELECT nd.event_type, n_days,
          |  CASE WHEN n_days > 7 THEN s7 END AS sum_abs7,
          |  CASE WHEN n_days > 7 THEN
          |    CAST(round(10000.0 * s7 / (n_days - 7)) AS BIGINT)
          |  END AS mae7_4,
          |  CASE WHEN n_days > 1 THEN s1 END AS sum_abs1,
          |  CASE WHEN n_days > 1 THEN
          |    CAST(round(10000.0 * s1 / (n_days - 1)) AS BIGINT)
          |  END AS mae1_4,
          |  CASE WHEN n_days > 7 AND s1 > 0 THEN
          |    CAST(round(10000.0 * s7 * (n_days - 1)
          |      / ((n_days - 7) * s1)) AS BIGINT)
          |  END AS ratio4
          |FROM nd LEFT JOIN l7 ON l7.event_type = nd.event_type
          |LEFT JOIN l1 ON l1.event_type = nd.event_type""".stripMargin,

      // the Holt-Winters 9-slot state fold: elements wrapped as
      // [x, 0×8] so list_reduce's first accumulator IS the Spark seed;
      // the l_t text is duplicated into the trend AND seasonal slots
      // exactly as the Spark lambda duplicates it. CALENDAR-DENSIFIED
      // like the Spark fold (r13): generate_series over the observed
      // span, zero-filling gap days, so both engines rotate the
      // seasonal queue once per CALENDAR day
      "events_holt_winters" ->
        """WITH c AS (SELECT event_type,
          |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |bounds AS (SELECT event_type, min(day) AS d0, max(day) AS d1
          |  FROM c GROUP BY 1),
          |cal AS (SELECT event_type, unnest(generate_series(d0, d1)) AS day
          |  FROM bounds),
          |dense AS (SELECT cal.event_type, cal.day, coalesce(c.n, 0) AS n
          |  FROM cal LEFT JOIN c
          |  ON c.event_type = cal.event_type AND c.day = cal.day),
          |s AS (SELECT event_type, count(*) AS n_days, max(day) AS last_day,
          |  list([CAST(n AS DOUBLE), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
          |    0.0] ORDER BY day) AS ser
          |  FROM dense GROUP BY 1),
          |h AS (SELECT event_type, n_days, last_day,
          |  list_reduce(ser, (acc, x) ->
          |    [0.5 * (x[1] - acc[3]) + 0.5 * (acc[1] + acc[2]),
          |     0.25 * ((0.5 * (x[1] - acc[3]) + 0.5 * (acc[1] + acc[2]))
          |       - acc[1]) + 0.75 * acc[2],
          |     acc[4], acc[5], acc[6], acc[7], acc[8], acc[9],
          |     0.25 * (x[1] - (0.5 * (x[1] - acc[3])
          |       + 0.5 * (acc[1] + acc[2]))) + 0.75 * acc[3]]) AS hw
          |  FROM s)
          |SELECT event_type, CAST(n_days AS BIGINT) AS n_days, last_day,
          |  hw[1] AS level, hw[2] AS trend, hw[3] AS season_next,
          |  hw[1] + hw[2] + hw[3] AS forecast
          |FROM h""".stripMargin,

      // pow() is libm in both engines; the x1e4 round per source makes
      // the share divisions ratios of exact longs
      "corpus_mix_temperature" ->
        s"""WITH d AS (SELECT source, $normTextSql AS t FROM documents),
           |tk AS (SELECT source, (SELECT count(*) FROM
           |    unnest(string_split(t, ' ')) uw(w) WHERE length(uw.w) > 0)
           |    AS toks FROM d),
           |ps AS (SELECT source, count(*) AS n_docs,
           |  CAST(sum(toks) AS BIGINT) AS tokens FROM tk GROUP BY 1),
           |w AS (SELECT source, n_docs, tokens,
           |  CAST(round(pow(CAST(tokens AS DOUBLE), 0.7) * 10000)
           |    AS BIGINT) AS w4 FROM ps),
           |tot AS (SELECT sum(w4) AS wtot, sum(tokens) AS ttot FROM w)
           |SELECT source, n_docs, tokens,
           |  CAST(round(10000.0 * w4 / wtot) AS BIGINT) AS share4,
           |  CAST(round(10000.0 * tokens / ttot) AS BIGINT) AS raw_share4
           |FROM w, tot""".stripMargin,

      // the oracle's one global window cumsum IS the point: the Spark
      // side must reproduce it with the two-phase bin scan
      "corpus_budget_select" ->
        s"""WITH d AS (SELECT doc_id, source AS src, $normTextSql AS t
           |  FROM documents),
           |tk AS (SELECT doc_id, src, uw.w FROM d,
           |  LATERAL unnest(string_split(t, ' ')) uw(w)
           |  WHERE length(uw.w) > 0),
           |b AS (SELECT doc_id, min(src) AS src, count(*) AS n_tokens,
           |  CAST(round(10000.0 * sum(length(w)) / count(*)) AS BIGINT)
           |    AS score4
           |  FROM tk GROUP BY 1),
           |tot AS (SELECT sum(n_tokens) AS total FROM b),
           |c AS (SELECT doc_id, src, score4, n_tokens,
           |  sum(n_tokens) OVER (ORDER BY score4 DESC, doc_id)
           |    AS cum_tokens FROM b)
           |SELECT src, count(*) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS sel_tokens,
           |  min(score4) AS min_score4
           |FROM c, tot WHERE cum_tokens <= total * 4 // 10
           |GROUP BY 1""".stripMargin,

      "embed_mmd" ->
        """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
          |  FROM embeddings),
          |comp AS (SELECT vec_id % 2 = 0 AS ga, u.i AS dim,
          |  CAST(round(vv[CAST(u.i + 1 AS INT)] * 1000000) AS BIGINT) AS v6
          |  FROM v, LATERAL unnest(generate_series(0, len(vv) - 1)) u(i)),
          |p AS (SELECT dim,
          |  sum(CASE WHEN ga THEN v6 END) AS sa,
          |  sum(CASE WHEN ga THEN 1 ELSE 0 END) AS na,
          |  sum(CASE WHEN NOT ga THEN v6 END) AS sb,
          |  sum(CASE WHEN NOT ga THEN 1 ELSE 0 END) AS nb
          |  FROM comp GROUP BY 1),
          |t AS (SELECT na, nb, CAST(round(
          |  (CAST(sa AS DOUBLE)/na/1000000.0 - CAST(sb AS DOUBLE)/nb/1000000.0)
          |  * (CAST(sa AS DOUBLE)/na/1000000.0 - CAST(sb AS DOUBLE)/nb/1000000.0)
          |  * 100000000) AS BIGINT) AS t8
          |  FROM p)
          |SELECT count(*) AS n_dims, CAST(max(na) AS BIGINT) AS n_a,
          |  CAST(max(nb) AS BIGINT) AS n_b, CAST(sum(t8) AS BIGINT) AS mmd8
          |FROM t""".stripMargin,

      "events_top_paths" ->
        """WITH o AS (SELECT user_id, event_type,
          |  row_number() OVER (PARTITION BY user_id
          |    ORDER BY epoch_us(ts), event_id) AS rn FROM events),
          |p AS (SELECT user_id,
          |  string_agg(event_type, '>' ORDER BY rn) AS path
          |  FROM o WHERE rn <= 3 GROUP BY 1),
          |c AS (SELECT path, count(*) AS n_users FROM p GROUP BY 1)
          |SELECT rank, path, n_users FROM (
          |  SELECT CAST(row_number() OVER (ORDER BY n_users DESC, path)
          |    AS BIGINT) AS rank, path, n_users FROM c)
          |WHERE rank <= 10""".stripMargin,

      "events_wow" ->
        """WITH wk AS (SELECT event_type,
          |  epoch_us(ts) // 604800000000 AS week, count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |l AS (SELECT event_type, week, n,
          |  lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n
          |  FROM wk)
          |SELECT event_type, week, n, prev_n,
          |  (n - prev_n) / prev_n AS wow
          |FROM l WHERE prev_n IS NOT NULL""".stripMargin,

      // HWE twin: the chi-square operation order mirrors PopGen.hweChi4
      // term by term (load-bearing for the ×10⁴ round's parity)
      "hwe_test" ->
        """WITH d AS (SELECT CAST(l_orderkey % 5 AS BIGINT) AS chr,
          |  CAST((l_orderkey*31 + l_linenumber*7) % 100000 AS BIGINT) AS pos,
          |  CASE WHEN (l_orderkey*13 + l_linenumber*17) % 10 <= 4 THEN 0
          |    WHEN (l_orderkey*13 + l_linenumber*17) % 10 <= 8 THEN 1
          |    ELSE 2 END AS gt FROM lineitem),
          |s AS (SELECT chr, pos, count(*) AS n,
          |  sum(CASE WHEN gt = 0 THEN 1 ELSE 0 END) AS n0,
          |  sum(CASE WHEN gt = 1 THEN 1 ELSE 0 END) AS n1,
          |  sum(CASE WHEN gt = 2 THEN 1 ELSE 0 END) AS n2
          |  FROM d GROUP BY 1, 2),
          |h AS (SELECT chr, n, n0, n1, n2,
          |  (2.0*n2 + n1) / (2.0*n) AS p FROM s),
          |c AS (SELECT chr, CAST(round(
          |  ((n0 - n*(1.0-p)*(1.0-p)) * (n0 - n*(1.0-p)*(1.0-p))
          |     / (n*(1.0-p)*(1.0-p))
          |   + (n1 - 2.0*n*p*(1.0-p)) * (n1 - 2.0*n*p*(1.0-p))
          |     / (2.0*n*p*(1.0-p))
          |   + (n2 - n*p*p) * (n2 - n*p*p) / (n*p*p)) * 10000)
          |  AS BIGINT) AS chi4
          |  FROM h WHERE p > 0 AND p < 1)
          |SELECT chr, count(*) AS n_sites,
          |  CAST(sum(CASE WHEN chi4 > 38410 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_reject,
          |  CAST(sum(chi4) AS BIGINT) AS sum_chi4
          |FROM c GROUP BY 1""".stripMargin,

      // op order mirrors PopGen.fstNum8/fstDen8 term by term; the ×10⁸
      // per-site rounding is what makes the per-chr sums order-free
      "popgen_fst" ->
        """WITH d AS (SELECT CAST(l_orderkey % 5 AS BIGINT) AS chr,
          |  CAST((l_orderkey*31 + l_linenumber*7) % 100000 AS BIGINT) AS pos,
          |  CAST(l_suppkey % 2 AS INT) AS pop,
          |  CASE WHEN (l_orderkey*13 + l_linenumber*17) % 10 <= 4 THEN 0
          |    WHEN (l_orderkey*13 + l_linenumber*17) % 10 <= 8 THEN 1
          |    ELSE 2 END AS gt FROM lineitem),
          |s AS (SELECT chr, pos,
          |  sum(CASE WHEN pop = 0 THEN 1 ELSE 0 END) AS na,
          |  sum(CASE WHEN pop = 0 AND gt = 1 THEN 1 ELSE 0 END) AS n1a,
          |  sum(CASE WHEN pop = 0 AND gt = 2 THEN 1 ELSE 0 END) AS n2a,
          |  sum(CASE WHEN pop = 1 THEN 1 ELSE 0 END) AS nb,
          |  sum(CASE WHEN pop = 1 AND gt = 1 THEN 1 ELSE 0 END) AS n1b,
          |  sum(CASE WHEN pop = 1 AND gt = 2 THEN 1 ELSE 0 END) AS n2b
          |  FROM d GROUP BY 1, 2),
          |f AS (SELECT chr,
          |  (2.0*n2a + n1a) / (2.0*na) AS p1, 2.0*na AS m1,
          |  (2.0*n2b + n1b) / (2.0*nb) AS p2, 2.0*nb AS m2
          |  FROM s WHERE na > 0 AND nb > 0),
          |e AS (SELECT chr,
          |  CAST(round(((p1-p2)*(p1-p2)
          |    - p1*(1.0-p1)/(m1-1.0)
          |    - p2*(1.0-p2)/(m2-1.0)) * 100000000) AS BIGINT) AS num8,
          |  CAST(round((p1*(1.0-p2) + p2*(1.0-p1)) * 100000000) AS BIGINT)
          |    AS den8
          |  FROM f),
          |g AS (SELECT chr, count(*) AS n_sites,
          |  sum(num8) AS sum_num8, sum(den8) AS sum_den8
          |  FROM e WHERE den8 <> 0 GROUP BY 1)
          |SELECT chr, CAST(n_sites AS BIGINT) AS n_sites,
          |  CAST(round(10000.0 * sum_num8 / sum_den8) AS BIGINT) AS fst_e4
          |FROM g""".stripMargin,

      // the oracle pairs sites by a plain inequality self-join — the
      // Spark side's bin replication is the scale strategy, not the
      // semantics, so the twin skips it
      // site domain = variance-filtered pair participants; conflicts =
      // distinct later-site of every r² > 0.2 pair
      "ld_prune_step" ->
        s"""WITH $ldPairCtes,
           |sites AS (SELECT chr, pos1 AS pos FROM r
           |  UNION SELECT chr, pos2 FROM r),
           |conf AS (SELECT DISTINCT chr, pos2 AS pos FROM r
           |  WHERE r2e4 > 2000),
           |kept AS (SELECT s.chr, s.pos FROM sites s
           |  LEFT JOIN conf c ON c.chr = s.chr AND c.pos = s.pos
           |  WHERE c.pos IS NULL),
           |k AS (SELECT chr, count(*) AS n_kept,
           |  CAST(sum(pos) AS BIGINT) AS sum_kept_pos FROM kept
           |  GROUP BY 1),
           |t AS (SELECT chr, count(*) AS n_sites FROM sites GROUP BY 1)
           |SELECT t.chr, n_sites, n_kept, n_sites - n_kept AS n_pruned,
           |  sum_kept_pos
           |FROM t JOIN k ON k.chr = t.chr""".stripMargin,

      "ld_pairwise" ->
        s"""WITH $ldPairCtes
           |SELECT chr, count(*) AS n_pairs,
           |  CAST(sum(r2e4) AS BIGINT) AS sum_r2e4,
           |  CAST(sum(CASE WHEN r2e4 >= 8000 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_high
           |FROM r GROUP BY 1""".stripMargin,

      // same shared pair CTEs as ld_pairwise, rolled up on DISTANCE;
      // mean is a ratio of exact-long sums, rounded once
      "ld_decay" ->
        s"""WITH $ldPairCtes
           |SELECT pos2 - pos1 AS dist, count(*) AS n_pairs,
           |  CAST(sum(r2e4) AS BIGINT) AS sum_r2e4,
           |  CAST(round(1.0 * sum(r2e4) / count(*)) AS BIGINT)
           |    AS mean_r2e4
           |FROM r GROUP BY 1""".stripMargin,

      // folded MAC histogram over the shared dosage cells
      "popgen_sfs" ->
        s"""WITH $dosageCellCtes,
           |s AS (SELECT chr, pos, CAST(sum(gv) AS BIGINT) AS ac,
           |  count(*) * 2 AS an FROM c GROUP BY 1, 2)
           |SELECT least(ac, an - ac) AS mac, count(*) AS n_sites
           |FROM s GROUP BY 1""".stripMargin,

      // integer moment ratio; single-day types filtered (no variance)
      "events_dispersion" ->
        """WITH c AS (SELECT event_type,
          |  epoch_us(ts) // 86400000000 AS day, count(*) AS x
          |  FROM events GROUP BY 1, 2),
          |m AS (SELECT event_type, count(*) AS n_days,
          |  CAST(sum(x) AS BIGINT) AS sx,
          |  CAST(sum(x * x) AS BIGINT) AS sxx FROM c GROUP BY 1)
          |SELECT event_type, n_days, sx,
          |  CAST(round(10000.0 * (n_days * sxx - sx * sx)
          |    / ((n_days - 1) * sx)) AS BIGINT) AS dispersion4
          |FROM m WHERE n_days > 1""".stripMargin,

      // plain site-keyed self-join over the shared dosage cells; the
      // IBS classes are integer CASE logic on the dosage difference
      // varying-n per-site π, windowed; ×10⁸ per-site rounding before
      // the order-free window sums
      "popgen_pi_windows" ->
        s"""WITH $dosageCellCtes,
           |st AS (SELECT chr, pos, count(*) AS n,
           |  CAST(sum(gv) AS BIGINT) AS k FROM c GROUP BY 1, 2),
           |f AS (SELECT chr, pos, k, CAST(2*n AS DOUBLE) AS m FROM st
           |  WHERE n >= 2 AND k > 0 AND k < 2*n),
           |p AS (SELECT chr, pos // 100 AS win100, CAST(round(
           |  100000000.0 * (2.0 * k * (m - k) / (m * (m - 1.0))))
           |  AS BIGINT) AS pi8 FROM f)
           |SELECT chr, win100, count(*) AS n_sites,
           |  CAST(sum(pi8) AS BIGINT) AS sum_pi8
           |FROM p GROUP BY 1, 2""".stripMargin,

      // the tajA1/E1/E2 constants interpolate from the SAME Scala vals
      // the Spark literals use; π ×10⁸ rounded per site before summing
      "popgen_tajima_d" ->
        s"""WITH $dosageCellCtes,
           |st AS (SELECT chr, pos, count(*) AS n,
           |  CAST(sum(gv) AS BIGINT) AS k FROM c
           |  WHERE sample < 3 GROUP BY 1, 2),
           |f AS (SELECT chr, k FROM st
           |  WHERE n = 3 AND k > 0 AND k < 6),
           |p AS (SELECT chr, CAST(round(
           |  100000000.0 * (2.0 * k * (6 - k) / 30.0)) AS BIGINT)
           |  AS pi8 FROM f),
           |a AS (SELECT chr, count(*) AS s_sites,
           |  CAST(sum(pi8) AS BIGINT) AS sum_pi8 FROM p GROUP BY 1)
           |SELECT chr, s_sites, sum_pi8,
           |  CAST(round(10000.0 *
           |    (sum_pi8 / 100000000.0 - s_sites / $tajA1)
           |    / sqrt($tajE1 * s_sites
           |      + $tajE2 * s_sites * (s_sites - 1.0))) AS BIGINT)
           |    AS d4
           |FROM a""".stripMargin,

      "popgen_ibs" ->
        s"""WITH $dosageCellCtes,
           |p AS (SELECT a.sample AS s1, b.sample AS s2,
           |  a.gv AS g1, b.gv AS g2
           |  FROM c a JOIN c b ON a.chr = b.chr AND a.pos = b.pos
           |    AND a.sample < b.sample)
           |SELECT s1, s2, count(*) AS n_sites,
           |  CAST(sum(CASE WHEN abs(g1 - g2) = 2 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_ibs0,
           |  CAST(sum(CASE WHEN abs(g1 - g2) = 1 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_ibs1,
           |  CAST(sum(CASE WHEN g1 = g2 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_ibs2,
           |  CAST(round(10000.0 * (sum(CASE WHEN abs(g1 - g2) = 1
           |      THEN 1 ELSE 0 END) + 2 * sum(CASE WHEN g1 = g2
           |      THEN 1 ELSE 0 END)) / (2 * count(*))) AS BIGINT)
           |    AS similarity4
           |FROM p GROUP BY 1, 2""".stripMargin,

      // same per-site ×10⁸ expected-hom rounding as PopGen.expHomE8,
      // so both engines sum identical longs; the F division mirrors
      // the Spark formulation term by term
      "popgen_inbreeding" ->
        s"""WITH $dosageCellCtes,
           |s AS (SELECT chr, pos, count(*) AS n,
           |  sum(CASE WHEN gv = 1 THEN 1 ELSE 0 END) AS n1,
           |  sum(CASE WHEN gv = 2 THEN 1 ELSE 0 END) AS n2
           |  FROM c GROUP BY 1, 2),
           |f AS (SELECT chr, pos, (2.0*n2 + n1) / (2.0*n) AS p FROM s),
           |e AS (SELECT chr, pos, CAST(round(
           |    100000000.0 * (1.0 - 2.0*p*(1.0 - p))) AS BIGINT) AS eh8
           |  FROM f WHERE p > 0 AND p < 1),
           |j AS (SELECT c.sample, c.gv, e.eh8
           |  FROM c JOIN e ON c.chr = e.chr AND c.pos = e.pos),
           |a AS (SELECT sample, count(*) AS n_sites,
           |  CAST(sum(CASE WHEN gv <> 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS obs_hom,
           |  CAST(sum(eh8) AS BIGINT) AS exp_hom_e8
           |  FROM j GROUP BY 1)
           |SELECT sample, n_sites, obs_hom, exp_hom_e8,
           |  CAST(round(10000.0 *
           |    (obs_hom * 100000000 - exp_hom_e8) /
           |    (n_sites * 100000000 - exp_hom_e8)) AS BIGINT) AS f4
           |FROM a""".stripMargin,

      // trio pivot by conditional max over the shared dosage cells;
      // the feasible-interval Mendel test is pure integer CASE logic
      "mendel_errors" ->
        s"""WITH $dosageCellCtes,
           |t AS (SELECT chr, pos, sample // 3 AS trio,
           |  count(*) AS n_roles,
           |  max(CASE WHEN sample % 3 = 0 THEN gv END) AS c,
           |  max(CASE WHEN sample % 3 = 1 THEN gv END) AS f,
           |  max(CASE WHEN sample % 3 = 2 THEN gv END) AS m
           |  FROM c WHERE sample < 18 GROUP BY 1, 2, 3),
           |e AS (SELECT trio,
           |  CASE WHEN c < (CASE WHEN f = 2 THEN 1 ELSE 0 END
           |      + CASE WHEN m = 2 THEN 1 ELSE 0 END)
           |    OR c > (CASE WHEN f = 0 THEN 0 ELSE 1 END
           |      + CASE WHEN m = 0 THEN 0 ELSE 1 END)
           |    THEN 1 ELSE 0 END AS err
           |  FROM t WHERE n_roles = 3)
           |SELECT trio, count(*) AS n_sites,
           |  CAST(sum(err) AS BIGINT) AS n_errors,
           |  CAST(round(10000.0 * sum(err) / count(*)) AS BIGINT)
           |    AS err_rate4
           |FROM e GROUP BY 1""".stripMargin,

      // per-POSITION chain pick weighted by multiplicity: every variant
      // row lifts (the synthetic lineitem key is NOT unique — a
      // per-row-key dedup silently dropped 14k genuine rows, caught
      // live when the position-level rewrite disagreed). The oracle
      // derives the ungapped blocks ARITHMETICALLY from part — the same
      // numbers the Spark side serializes into chain text and re-parses
      // — so the comparison also proves the chain parser's offset math,
      // negative strand included.
      "liftover_positions" ->
        s"""WITH v AS (SELECT chr, pos FROM ($liVariantsSql)),
           |c AS (SELECT chr, pos, count(*) AS cnt FROM v GROUP BY 1, 2),
           |pp AS (SELECT CAST(p_partkey AS BIGINT) AS p,
           |  CAST(p_partkey % 5 AS BIGINT) AS chr,
           |  20 + (CAST(p_partkey AS BIGINT) * 13) % 30 AS size1,
           |  1 + (CAST(p_partkey AS BIGINT) * 7) % 10 AS dt1,
           |  (CAST(p_partkey AS BIGINT) * 3) % 8 AS dq1,
           |  10 + (CAST(p_partkey AS BIGINT) * 11) % 20 AS size2,
           |  (CAST(p_partkey AS BIGINT) * 137) % 100000 AS s0,
           |  (CAST(p_partkey AS BIGINT) * 7) % 1000000 AS q0,
           |  CASE WHEN p_partkey % 3 = 0 THEN -1 ELSE 1 END AS dir
           |  FROM part),
           |b AS (
           |  SELECT p AS chain_id, chr, s0 + 1 AS s_start,
           |    s0 + size1 AS s_stop,
           |    CASE WHEN dir = 1 THEN q0 + 1 ELSE 2000000 - q0 END
           |      AS t_first, dir FROM pp
           |  UNION ALL
           |  SELECT p, chr, s0 + size1 + dt1 + 1,
           |    s0 + size1 + dt1 + size2,
           |    CASE WHEN dir = 1 THEN q0 + size1 + dq1 + 1
           |      ELSE 2000000 - (q0 + size1 + dq1) END, dir FROM pp),
           |j AS (SELECT c.chr, c.pos, c.cnt, b.s_start, b.t_first, b.dir,
           |  row_number() OVER (PARTITION BY c.chr, c.pos
           |    ORDER BY b.chain_id, b.s_start) AS rk
           |  FROM c JOIN b ON c.chr = b.chr
           |    AND c.pos BETWEEN b.s_start AND b.s_stop)
           |SELECT chr, CAST(sum(cnt) AS BIGINT) AS n_mapped,
           |  CAST(sum((t_first + dir * (pos - s_start)) * cnt) AS BIGINT)
           |    AS sum_target
           |FROM j WHERE rk = 1 GROUP BY 1""".stripMargin,

      "roh_runs" ->
        """WITH d0 AS (SELECT CAST(l_orderkey % 5 AS BIGINT) AS chr,
          |  CAST((l_orderkey*31 + l_linenumber*7) % 100000 AS BIGINT) AS pos,
          |  CASE WHEN (l_orderkey*13 + l_linenumber*17) % 10 <= 4 THEN 0
          |    WHEN (l_orderkey*13 + l_linenumber*17) % 10 <= 8 THEN 1
          |    ELSE 2 END AS gt FROM lineitem),
          |d AS (SELECT chr, pos, (min(gt) <> 1 AND max(gt) <> 1) AS hom
          |  FROM d0 GROUP BY 1, 2),
          |b AS (SELECT chr, pos, hom, CASE WHEN lag(hom) OVER
          |    (PARTITION BY chr ORDER BY pos) = hom THEN 0 ELSE 1 END AS brk
          |  FROM d),
          |r AS (SELECT chr, pos, hom, sum(brk) OVER (PARTITION BY chr
          |    ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run_id FROM b),
          |runs AS (SELECT chr, run_id, count(*) AS n_sites
          |  FROM r WHERE hom GROUP BY 1, 2 HAVING count(*) >= 5)
          |SELECT chr, count(*) AS n_runs,
          |  CAST(sum(n_sites) AS BIGINT) AS total_sites,
          |  max(n_sites) AS longest
          |FROM runs GROUP BY 1""".stripMargin,

      "feature_winsorize" ->
        """WITH b AS (SELECT l_returnflag AS rf,
          |  round(quantile_cont(l_extendedprice, 0.05), 4) AS lo,
          |  round(quantile_cont(l_extendedprice, 0.95), 4) AS hi
          |  FROM lineitem GROUP BY 1),
          |w AS (SELECT l_returnflag,
          |  CAST(round(greatest(least(l_extendedprice, hi), lo) * 100)
          |    AS BIGINT) AS wc
          |  FROM lineitem JOIN b ON l_returnflag = rf)
          |SELECT l_returnflag, count(*) AS n,
          |  CAST(sum(wc) AS BIGINT) AS sum_wins_c,
          |  CAST(CAST(sum(wc) AS BIGINT) AS DOUBLE) / count(*) / 100.0
          |    AS mean_wins
          |FROM w GROUP BY 1""".stripMargin,

      "tstv_ratio" ->
        s"""WITH v AS ($liVariantsSql),
           |t AS (SELECT chr,
           |  CASE WHEN (ref_nuc = 'A' AND var_nuc = 'G')
           |    OR (ref_nuc = 'G' AND var_nuc = 'A')
           |    OR (ref_nuc = 'C' AND var_nuc = 'T')
           |    OR (ref_nuc = 'T' AND var_nuc = 'C') THEN 1 ELSE 0 END AS ts
           |  FROM v WHERE ref_nuc <> var_nuc)
           |SELECT chr, CAST(sum(ts) AS BIGINT) AS n_ts,
           |  CAST(sum(1 - ts) AS BIGINT) AS n_tv,
           |  CAST(sum(ts) AS BIGINT) / CAST(sum(1 - ts) AS BIGINT) AS tstv
           |FROM t GROUP BY 1""".stripMargin,

      // plain theta self-join twin of the binned overlap join (DuckDB
      // plans it as an IEJoin; the binning is only Spark's equi-join
      // strategy and must not change results)
      "interval_overlap_join" ->
        s"""WITH g AS ($partGenesSql)
           |SELECT a.chr, count(*) AS n_pairs,
           |  CAST(sum(least(a.gstop, b.gstop) - greatest(a.gstart, b.gstart)
           |    + 1) AS BIGINT) AS total_overlap
           |FROM g a JOIN g b ON a.chr = b.chr AND a.gene_id < b.gene_id
           |  AND a.gstart <= b.gstop AND b.gstart <= a.gstop
           |GROUP BY 1""".stripMargin,

      // plain inequality pair join (the bin replication is strategy,
      // not semantics) + the integer reciprocal rule
      "sv_reciprocal_overlap" ->
        s"""WITH g AS ($partGenesSql),
           |sv AS (SELECT CAST(o_orderkey % 5 AS BIGINT) AS chr,
           |  CAST(o_orderkey AS BIGINT) AS id_b,
           |  CAST((o_orderkey*211) % 100000 AS BIGINT) AS b_start,
           |  CAST((o_orderkey*211) % 100000 + 30 + (o_orderkey*53) % 3000
           |    AS BIGINT) AS b_stop FROM orders),
           |p AS (SELECT g.chr, g.gene_id AS id_a, sv.id_b,
           |  least(g.gstop, sv.b_stop) - greatest(g.gstart, sv.b_start)
           |    + 1 AS ov,
           |  g.gstop - g.gstart + 1 AS la,
           |  sv.b_stop - sv.b_start + 1 AS lb
           |  FROM g JOIN sv ON g.chr = sv.chr
           |    AND g.gstart <= sv.b_stop AND sv.b_start <= g.gstop)
           |SELECT chr, count(*) AS n_pairs,
           |  CAST(sum(ov) AS BIGINT) AS sum_ov,
           |  CAST(count(DISTINCT id_a) AS BIGINT) AS n_a_matched,
           |  CAST(count(DISTINCT id_b) AS BIGINT) AS n_b_matched
           |FROM p WHERE 2*ov >= la AND 2*ov >= lb GROUP BY 1""".stripMargin,

      // full hash re-derivation from the pixel formula (incl. the exact
      // lum·64 > total threshold) + brute-force hamming pairs — the
      // Spark side's pigeonhole blocking must be invisible. Bit 63 is
      // the (-2^63) literal: DuckDB raises on 1::BIGINT << 63.
      "multimodal_image_dedup" ->
        """WITH ids AS (SELECT doc_id AS media_id FROM documents),
          |cells AS (SELECT media_id, u.c AS cell FROM ids,
          |  LATERAL unnest(generate_series(0, 63)) u(c)),
          |lum AS (SELECT media_id, cell,
          |  CASE WHEN ((CAST('0x' || substr(md5(
          |        CAST(media_id // 4 AS VARCHAR) || ':' ||
          |        CAST((cell % 8) * 2 AS VARCHAR) || ',' ||
          |        CAST((cell // 8) * 2 AS VARCHAR)), 1, 1) AS BIGINT) < 8)
          |    != ((media_id % 4 <> 0) AND (cell % 8) = (media_id % 4)
          |      AND (cell // 8) = 0))
          |  THEN 0 ELSE 765 END AS lum FROM cells),
          |tot AS (SELECT media_id, CAST(sum(lum) AS BIGINT) AS total
          |  FROM lum GROUP BY 1),
          |hsh AS (SELECT l.media_id, bit_or(
          |    CASE WHEN l.lum * 64 > t.total THEN
          |      CASE WHEN l.cell = 0 THEN (-9223372036854775807 - 1)::BIGINT
          |      ELSE 1::BIGINT << CAST(63 - l.cell AS INT) END
          |    ELSE 0 END) AS ahash
          |  FROM lum l JOIN tot t ON t.media_id = l.media_id GROUP BY 1)
          |SELECT a.media_id AS id_a, b.media_id AS id_b,
          |  CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
          |FROM hsh a JOIN hsh b ON a.media_id < b.media_id
          |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3""".stripMargin,

      // the oracle recomputes expected frame energies straight from the
      // synthetic waveform formula — grading the WAV encode → decode →
      // frame round-trip against an independent derivation
      // every pixel of the 16×16 md5 checkerboard re-derived (the
      // image_dedup formula over the FULL grid, not the 8×8 sample);
      // entropy term-rounding mirrors events_entropy exactly
      "multimodal_image_entropy" ->
        """WITH ids AS (SELECT doc_id AS media_id FROM documents),
          |px AS (SELECT media_id, xx.x AS x, yy.y AS y FROM ids,
          |  LATERAL unnest(generate_series(0, 15)) xx(x),
          |  LATERAL unnest(generate_series(0, 15)) yy(y)),
          |lum AS (SELECT media_id,
          |  CASE WHEN ((CAST('0x' || substr(md5(
          |        CAST(media_id // 4 AS VARCHAR) || ':' ||
          |        CAST(x AS VARCHAR) || ',' ||
          |        CAST(y AS VARCHAR)), 1, 1) AS BIGINT) < 8)
          |    != ((media_id % 4 <> 0) AND x = 2 * (media_id % 4)
          |      AND y = 0))
          |  THEN 0 ELSE 255 END AS bin FROM px),
          |b AS (SELECT media_id, bin, count(*) AS n_px FROM lum
          |  GROUP BY 1, 2),
          |tt AS (SELECT media_id, CAST(sum(n_px) AS BIGINT)
          |    AS n_pixels FROM b GROUP BY 1),
          |j AS (SELECT b.media_id, n_pixels,
          |  CAST(n_px AS DOUBLE) / CAST(n_pixels AS DOUBLE) AS p
          |  FROM b JOIN tt USING (media_id)),
          |t AS (SELECT media_id, n_pixels,
          |  CAST(round(p * round(log2(p), 4) * (-1e4)) AS BIGINT)
          |    AS t4 FROM j)
          |SELECT media_id, max(n_pixels) AS n_pixels,
          |  count(*) AS n_bins, CAST(sum(t4) AS BIGINT) AS entropy4
          |FROM t GROUP BY 1""".stripMargin,

      // every sign flip recomputed from the waveform formula; the
      // i % 512 > 0 guard excludes the cross-frame boundary pair
      "multimodal_audio_zcr" ->
        """WITH i AS (SELECT doc_id AS media_id, u.i AS i FROM documents,
          |  LATERAL unnest(generate_series(0, 3999)) u(i)),
          |v AS (SELECT media_id, i, i // 512 AS frame_idx,
          |  CASE WHEN ((media_id * 31 + i * 7) % 2003) - 1001 >= 0
          |    THEN 1 ELSE 0 END AS sg FROM i),
          |p AS (SELECT media_id, frame_idx, i % 512 AS k, sg,
          |  lag(sg) OVER (PARTITION BY media_id ORDER BY i) AS prev
          |  FROM v),
          |a AS (SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
          |  count(*) AS n_samples,
          |  CAST(sum(CASE WHEN k > 0 AND prev <> sg THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_zc
          |  FROM p GROUP BY 1, 2)
          |SELECT media_id, frame_idx, n_samples, n_zc,
          |  CASE WHEN n_samples > 1 THEN
          |    CAST(round(10000.0 * n_zc / (n_samples - 1)) AS BIGINT)
          |  ELSE 0 END AS zcr4
          |FROM a""".stripMargin,

      "multimodal_audio_energy" ->
        """WITH i AS (SELECT doc_id AS media_id, u.i AS i FROM documents,
          |  LATERAL unnest(generate_series(0, 3999)) u(i)),
          |v AS (SELECT media_id, i // 512 AS frame_idx,
          |  ((media_id * 31 + i * 7) % 2003) - 1001 AS s FROM i)
          |SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
          |  CAST(count(*) AS INT) AS n_samples,
          |  CAST(sum(s * s) AS BIGINT) AS sum_sq,
          |  CAST(CAST(sum(s * s) AS BIGINT) AS DOUBLE) / count(*) AS mean_sq
          |FROM v GROUP BY 1, 2""".stripMargin,

      // gaps-and-islands twin: same (start, stop)-ordered per-chr
      // windows — running max stop decides block opens, prefix-sum of
      // opens is the block id
      // both sides merged by the shared gaps-and-islands chain, then a
      // plain overlap inequality join of the DISJOINT blocks
      "interval_jaccard" ->
        s"""WITH ga AS ($partGenesSql),
           |${mergeChainSql("ga", "a")},
           |gb AS (SELECT CAST(o_orderkey % 5 AS BIGINT) AS chr,
           |  CAST((o_orderkey*211) % 100000 AS BIGINT) AS gstart,
           |  CAST((o_orderkey*211) % 100000 + 30 + (o_orderkey*53) % 3000
           |    AS BIGINT) AS gstop FROM orders),
           |${mergeChainSql("gb", "b")},
           |iv AS (SELECT am.chr,
           |  least(am.mstop, bm.mstop) -
           |    greatest(am.mstart, bm.mstart) + 1 AS ov
           |  FROM am JOIN bm ON bm.chr = am.chr
           |    AND am.mstart <= bm.mstop AND bm.mstart <= am.mstop),
           |ii AS (SELECT chr, CAST(sum(ov) AS BIGINT) AS inter_bp
           |  FROM iv WHERE ov > 0 GROUP BY 1),
           |la AS (SELECT chr, CAST(sum(mstop - mstart + 1) AS BIGINT)
           |  AS a_bp FROM am GROUP BY 1),
           |lb AS (SELECT chr, CAST(sum(mstop - mstart + 1) AS BIGINT)
           |  AS b_bp FROM bm GROUP BY 1)
           |SELECT la.chr, a_bp, b_bp,
           |  coalesce(inter_bp, 0) AS inter_bp,
           |  CAST(round(10000.0 * coalesce(inter_bp, 0) /
           |    (a_bp + b_bp - coalesce(inter_bp, 0))) AS BIGINT)
           |    AS jaccard4
           |FROM la JOIN lb ON lb.chr = la.chr
           |LEFT JOIN ii ON ii.chr = la.chr""".stripMargin,

      "interval_merge" ->
        s"""WITH g AS ($partGenesSql),
           |o AS (SELECT chr, gstart, gstop,
           |  CASE WHEN max(gstop) OVER (PARTITION BY chr
           |      ORDER BY gstart, gstop
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |    IS NULL THEN 1
           |  WHEN gstart > max(gstop) OVER (PARTITION BY chr
           |      ORDER BY gstart, gstop
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
           |    THEN 1 ELSE 0 END AS op FROM g),
           |b AS (SELECT chr, gstart, gstop,
           |  sum(op) OVER (PARTITION BY chr ORDER BY gstart, gstop
           |    ROWS UNBOUNDED PRECEDING) AS blk FROM o)
           |SELECT chr, CAST(min(gstart) AS BIGINT) AS mstart,
           |  CAST(max(gstop) AS BIGINT) AS mstop,
           |  count(*) AS n_intervals,
           |  CAST(max(gstop) - min(gstart) + 1 AS BIGINT) AS span
           |FROM b GROUP BY chr, blk""".stripMargin,

      "interval_gaps" ->
        s"""WITH g AS (SELECT * FROM ($partGenesSql) WHERE gene_id % 50 = 0),
           |o AS (SELECT chr, gstart, gstop,
           |  CASE WHEN max(gstop) OVER (PARTITION BY chr
           |      ORDER BY gstart, gstop
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |    IS NULL THEN 1
           |  WHEN gstart > max(gstop) OVER (PARTITION BY chr
           |      ORDER BY gstart, gstop
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
           |    THEN 1 ELSE 0 END AS op FROM g),
           |b AS (SELECT chr, gstart, gstop,
           |  sum(op) OVER (PARTITION BY chr ORDER BY gstart, gstop
           |    ROWS UNBOUNDED PRECEDING) AS blk FROM o),
           |m AS (SELECT chr, CAST(min(gstart) AS BIGINT) AS mstart,
           |  CAST(max(gstop) AS BIGINT) AS mstop
           |  FROM b GROUP BY chr, blk),
           |n AS (SELECT chr, mstop,
           |  lead(mstart) OVER (PARTITION BY chr ORDER BY mstart)
           |    AS next_start FROM m)
           |SELECT chr, CAST(mstop + 1 AS BIGINT) AS gap_start,
           |  CAST(next_start - 1 AS BIGINT) AS gap_end,
           |  CAST(next_start - 1 - mstop AS BIGINT) AS gap_len
           |FROM n WHERE next_start IS NOT NULL""".stripMargin,

      "variant_burden" ->
        s"""WITH li AS (SELECT 'S' || CAST(l_suppkey % 4 AS VARCHAR)
           |    AS sample,
           |  CAST(l_orderkey % 5 AS BIGINT) AS chr,
           |  CAST((l_orderkey*31 + l_linenumber*7) % 100000 AS BIGINT)
           |    AS pos,
           |  CAST(l_quantity AS BIGINT) AS rd,
           |  CAST(l_partkey % 120 AS BIGINT) AS td FROM lineitem),
           |v AS (SELECT sample, chr, pos,
           |  CASE WHEN td > 0
           |    THEN CAST(floor((100*rd + floor(td/2)) / td) AS BIGINT)
           |    ELSE 0 END AS q FROM li),
           |g AS ($partGenesSql),
           |j AS (SELECT g.gene_id, v.sample FROM v JOIN g
           |  ON v.chr = g.chr AND v.pos BETWEEN g.gstart AND g.gstop
           |  WHERE v.q >= 50),
           |pg AS (SELECT gene_id, sample, count(*) AS n_var
           |  FROM j GROUP BY 1, 2)
           |SELECT gene_id, count(*) AS n_carriers,
           |  CAST(sum(n_var) AS BIGINT) AS total_burden,
           |  CAST(max(n_var) AS BIGINT) AS max_burden
           |FROM pg GROUP BY 1 HAVING count(*) >= 2""".stripMargin,

      // A-ES keys re-derived from the md5 uniform; u = (24 hex bits +
      // 0.5)/2^24 is EXACT in doubles (power-of-two divisor), ln is the
      // only libm call and the ×10⁶ rounding absorbs its last ulp
      "sample_reservoir" ->
        """WITH k AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
          |  CAST(round(-ln((CAST(CAST('0x' ||
          |      substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
          |      AS DOUBLE) + 5e-1) / 16777216e0) / n_chars * 1e6)
          |    AS BIGINT) AS key6 FROM documents)
          |SELECT rank, doc_id, w, key6 FROM (
          |  SELECT CAST(row_number() OVER (ORDER BY key6, doc_id)
          |    AS BIGINT) AS rank, doc_id, w, key6 FROM k)
          |WHERE rank <= 100""".stripMargin,

      // interpolated Kneser-Ney: continuation/left-context type counts
      // re-aggregated from the bigram-type table; P evaluates in the
      // identical left-to-right literal sequence (7.5e-1 keeps the
      // discount a DOUBLE — the DuckDB bare-decimal DECIMAL trap)
      "text_kn_ppl" ->
        s"""WITH d AS (SELECT doc_id, string_split($normTextSql, ' ') AS ps
           |  FROM documents),
           |bg AS (SELECT doc_id, ps[CAST(u.i AS INT)] || ' ' ||
           |    ps[CAST(u.i + 1 AS INT)] AS bg
           |  FROM d, LATERAL unnest(generate_series(1, len(ps) - 1)) u(i)
           |  WHERE len(ps) >= 2),
           |bgc AS (SELECT bg, count(*) AS c12,
           |  split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2
           |  FROM bg GROUP BY 1),
           |w1c AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
           |  count(*) AS n1f FROM bgc GROUP BY 1),
           |w2c AS (SELECT w2, count(*) AS n1b FROM bgc GROUP BY 1),
           |ty AS (SELECT count(*) AS nt FROM bgc),
           |m AS (SELECT bg, CAST(round(-log2(
           |    greatest(CAST(c12 AS DOUBLE) - 7.5e-1, 0e0) / c1
           |    + 7.5e-1 * n1f / c1 * (CAST(n1b AS DOUBLE) / nt)
           |  ) * 10000) AS BIGINT) AS su4
           |  FROM bgc JOIN w1c USING (w1) JOIN w2c USING (w2), ty)
           |SELECT doc_id, count(*) AS n_bigrams,
           |  sum(su4)/10000.0/count(*) AS avg_bits
           |FROM bg JOIN m USING (bg) GROUP BY 1""".stripMargin,

      // stride-sampled gram hashes -> doc frequency -> per-doc shared
      // fraction; dup_frac is the single unrounded IEEE division
      "dedup_substr" ->
        s"""WITH t AS (SELECT doc_id, $normTextSql AS t FROM documents),
           |g AS (SELECT doc_id, md5(substr(t, CAST(u.i AS INT), 50)) AS gh
           |  FROM t, LATERAL unnest(generate_series(1, length(t) - 49, 25)) u(i)
           |  WHERE length(t) >= 50),
           |f AS (SELECT gh, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1),
           |a AS (SELECT doc_id, count(*) AS n_grams,
           |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
           |  FROM g JOIN f USING (gh) GROUP BY 1)
           |SELECT doc_id, n_grams, n_dup,
           |  CAST(n_dup AS DOUBLE) / n_grams AS dup_frac FROM a""".stripMargin,

      // upper-triangle covariance from the same ×10⁶ scaled-long
      // components as embed_dim_variance; cross products sum exactly at
      // ×10¹² scale, cov assembles in the identical literal sequence
      "embed_covariance" ->
        """WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
          |p AS (SELECT ui.i AS i, uj.j AS j,
          |  CAST(round(vv[CAST(ui.i + 1 AS INT)] * 1e6) AS BIGINT) AS xi,
          |  CAST(round(vv[CAST(uj.j + 1 AS INT)] * 1e6) AS BIGINT) AS xj
          |  FROM v, LATERAL unnest(generate_series(0, 7)) ui(i),
          |  LATERAL unnest(generate_series(0, 7)) uj(j)
          |  WHERE uj.j >= ui.i),
          |s AS (SELECT i, j, count(*) AS n, CAST(sum(xi) AS BIGINT) AS si,
          |  CAST(sum(xj) AS BIGINT) AS sj,
          |  CAST(sum(xi * xj) AS BIGINT) AS sij FROM p GROUP BY 1, 2)
          |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, n,
          |  CAST(sij AS DOUBLE) / n / 1e12
          |    - (CAST(si AS DOUBLE) / n / 1e6)
          |      * (CAST(sj AS DOUBLE) / n / 1e6) AS cov
          |FROM s""".stripMargin,

      // CUSUM via the prefix identity S = C − min(0, running-min C);
      // z rounds ×10⁴ once on the 4-dp-rounded profile (dailyAnomalies
      // discipline), the track is exact integers end to end
      "events_cusum" ->
        """WITH c AS (SELECT event_type,
          |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |p AS (SELECT event_type, round(avg(n), 4) AS mean,
          |  round(stddev_samp(n), 4) AS std FROM c GROUP BY 1),
          |z AS (SELECT c.event_type, day, n,
          |  CAST(round((n - mean) / std * 10000) AS BIGINT) - 5000 AS y4
          |  FROM c JOIN p USING (event_type)
          |  WHERE std IS NOT NULL AND std > 0),
          |t AS (SELECT event_type, day, n,
          |  CAST(sum(y4) OVER (PARTITION BY event_type ORDER BY day
          |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c4 FROM z),
          |s AS (SELECT event_type, day, n, c4,
          |  c4 - least(CAST(0 AS BIGINT), min(c4) OVER (
          |    PARTITION BY event_type ORDER BY day
          |    ROWS UNBOUNDED PRECEDING)) AS s4 FROM t)
          |SELECT event_type, day, n, c4, s4,
          |  CASE WHEN s4 > 40000 THEN CAST(1 AS BIGINT)
          |    ELSE CAST(0 AS BIGINT) END AS alarm
          |FROM s""".stripMargin,

      // triangle census over the shared jaccard pair graph: the same
      // degree-ordered orientation, wedge join and closing-edge probe
      "graph_triangles" ->
        s"""WITH $jaccardPairCtes,
           |e AS (SELECT id_a AS u, id_b AS v FROM jp),
           |dg AS (SELECT id, count(*) AS deg FROM (
           |  SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e)
           |  GROUP BY 1),
           |o AS (SELECT
           |  CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
           |    THEN e.u ELSE e.v END AS src,
           |  CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
           |    THEN e.v ELSE e.u END AS dst
           |  FROM e JOIN dg du ON du.id = e.u JOIN dg dv ON dv.id = e.v),
           |w AS (SELECT o1.src AS s, o1.dst AS w1, o2.dst AS w2
           |  FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst),
           |tri AS (SELECT * FROM w WHERE EXISTS (SELECT 1 FROM e
           |  WHERE e.u = least(w.w1, w.w2) AND e.v = greatest(w.w1, w.w2)))
           |SELECT (SELECT count(*) FROM dg) AS n_nodes,
           |  (SELECT count(*) FROM e) AS n_edges,
           |  (SELECT count(*) FROM tri) AS n_triangles""".stripMargin,

      // per-day entropy: log2 rounded 4 dp ONCE, term ×10⁴-scaled to
      // an exact BIGINT before the order-free per-day sum (su4); the
      // scale literal is e-notation (bare decimals are DECIMAL here)
      "events_entropy" ->
        """WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day,
          |  event_type, count(*) AS n FROM events GROUP BY 1, 2),
          |tt AS (SELECT day, CAST(sum(n) AS BIGINT) AS n_events,
          |  count(*) AS n_types FROM c GROUP BY 1),
          |j AS (SELECT c.day, n, n_events, n_types,
          |  CAST(n AS DOUBLE) / CAST(n_events AS DOUBLE) AS p
          |  FROM c JOIN tt USING (day)),
          |t AS (SELECT day, n_events, n_types,
          |  CAST(round(p * round(log2(p), 4) * (-1e4)) AS BIGINT) AS t4
          |  FROM j)
          |SELECT day, max(n_events) AS n_events,
          |  max(n_types) AS n_types,
          |  CAST(sum(t4) AS BIGINT) AS entropy4
          |FROM t GROUP BY day""".stripMargin,

      // dow profile: (epoch_day + 4) % 7, idx as the single unrounded
      // IEEE division of exact ints
      "events_new_vs_returning" ->
        """WITH ud AS (SELECT DISTINCT user_id,
          |  epoch_us(ts) // 86400000000 AS day FROM events),
          |f AS (SELECT user_id, min(day) AS first_day FROM ud
          |  GROUP BY 1)
          |SELECT day,
          |  CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_new,
          |  CAST(sum(CASE WHEN day > first_day THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_returning
          |FROM ud JOIN f USING (user_id) GROUP BY 1""".stripMargin,

      "events_hour_profile" ->
        """WITH c AS (SELECT event_type,
          |  (epoch_us(ts) // 3600000000) % 24 AS hour,
          |  count(*) AS n FROM events GROUP BY 1, 2),
          |tt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total
          |  FROM c GROUP BY 1)
          |SELECT c.event_type, hour, n,
          |  CAST(n * 24 AS DOUBLE) / CAST(total AS DOUBLE) AS idx
          |FROM c JOIN tt USING (event_type)""".stripMargin,

      "events_dow_profile" ->
        """WITH c AS (SELECT event_type,
          |  ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
          |  count(*) AS n FROM events GROUP BY 1, 2),
          |tt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total
          |  FROM c GROUP BY 1)
          |SELECT c.event_type, dow, n,
          |  CAST(n * 7 AS DOUBLE) / CAST(total AS DOUBLE) AS idx
          |FROM c JOIN tt USING (event_type)""".stripMargin,

      // moments exact BIGINT; variance terms sqrt'd separately (the
      // assortativity overflow rule); pairs require both days observed
      // CALENDAR-DENSIFIED (r14): the HW oracle's densify CTEs feed the
      // lag pairs, so gap days enter as true zeros on both engines
      "events_autocorr" ->
        """WITH c AS (SELECT event_type,
          |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |bounds AS (SELECT event_type, min(day) AS d0, max(day) AS d1
          |  FROM c GROUP BY 1),
          |cal AS (SELECT event_type, unnest(generate_series(d0, d1)) AS day
          |  FROM bounds),
          |dense AS (SELECT cal.event_type, cal.day, coalesce(c.n, 0) AS n
          |  FROM cal LEFT JOIN c
          |  ON c.event_type = cal.event_type AND c.day = cal.day),
          |l AS (SELECT event_type, day - k.lag AS day,
          |  CAST(k.lag AS BIGINT) AS lag, n AS x
          |  FROM dense, range(1, 8) AS k(lag)),
          |j AS (SELECT l.event_type, l.lag, l.x, dense.n AS y
          |  FROM l JOIN dense ON dense.event_type = l.event_type
          |    AND dense.day = l.day),
          |m AS (SELECT event_type, lag, count(*) AS np,
          |  sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
          |  sum(y*y) AS syy, sum(x*y) AS sxy FROM j GROUP BY 1, 2)
          |SELECT event_type, lag, np AS n_pairs,
          |  CASE WHEN np*sxx - sx*sx > 0 AND np*syy - sy*sy > 0 THEN
          |    CAST(round(10000.0 * (np*sxy - sx*sy) /
          |      (sqrt(CAST(np*sxx - sx*sx AS DOUBLE)) *
          |       sqrt(CAST(np*syy - sy*sy AS DOUBLE)))) AS BIGINT)
          |  END AS r4
          |FROM m""".stripMargin,

      // the rank-sum identity over the ascending-c histogram: with P =
      // users before the group, 2·Σ i·x_(i) = Σ c·m·(2P + m + 1) —
      // integer-exact, one double division at the end
      // the dow and hour derivations of the two profile oracles,
      // composed; idx = n·168/total as the same unrounded division
      "events_calendar_heatmap" ->
        """WITH c AS (SELECT event_type,
          |  ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
          |  (epoch_us(ts) // 3600000000) % 24 AS hour,
          |  count(*) AS n FROM events GROUP BY 1, 2, 3),
          |tt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total
          |  FROM c GROUP BY 1)
          |SELECT c.event_type, dow, hour, n,
          |  CAST(n * 168 AS DOUBLE) / CAST(total AS DOUBLE) AS idx
          |FROM c JOIN tt USING (event_type)""".stripMargin,

      // the gini histogram CTEs ordered count-DESC with a running user
      // prefix; the crossing level contributes (k − prefix_below)·c
      "events_pareto_share" ->
        """WITH u AS (SELECT event_type, user_id, count(*) AS c
          |  FROM events GROUP BY 1, 2),
          |h AS (SELECT event_type, c, count(*) AS m FROM u
          |  GROUP BY 1, 2),
          |w AS (SELECT event_type, c, m,
          |  sum(m) OVER (PARTITION BY event_type ORDER BY c DESC
          |    ROWS UNBOUNDED PRECEDING) AS wu,
          |  sum(c*m) OVER (PARTITION BY event_type ORDER BY c DESC
          |    ROWS UNBOUNDED PRECEDING) AS ws FROM h),
          |tt AS (SELECT event_type, CAST(sum(m) AS BIGINT) AS n_users,
          |  CAST(sum(c*m) AS BIGINT) AS n_events FROM w GROUP BY 1),
          |x AS (SELECT w.event_type, n_users, n_events,
          |  (n_users + 9) // 10 AS k,
          |  ws - c*m + ((n_users + 9) // 10 - (wu - m)) * c AS top_events
          |  FROM w JOIN tt USING (event_type)
          |  WHERE wu >= (n_users + 9) // 10
          |    AND wu - m < (n_users + 9) // 10)
          |SELECT event_type, n_users, n_events,
          |  CAST(k AS BIGINT) AS k_top,
          |  CAST(top_events AS BIGINT) AS top_events,
          |  CAST(round(10000.0 * top_events / n_events) AS BIGINT)
          |    AS share4
          |FROM x""".stripMargin,

      // gaps-and-islands: island id = day − row_number per user
      "events_streak_census" ->
        """WITH ud AS (SELECT DISTINCT user_id AS u,
          |  epoch_us(ts) // 86400000000 AS day FROM events),
          |i AS (SELECT u, day - row_number()
          |  OVER (PARTITION BY u ORDER BY day) AS island FROM ud),
          |r AS (SELECT u, island, count(*) AS len FROM i GROUP BY 1, 2),
          |mx AS (SELECT u, max(len) AS streak_len FROM r GROUP BY 1)
          |SELECT streak_len, count(*) AS n_users FROM mx
          |GROUP BY 1""".stripMargin,

      "events_user_gini" ->
        """WITH u AS (SELECT event_type, user_id, count(*) AS c
          |  FROM events GROUP BY 1, 2),
          |h AS (SELECT event_type, c, count(*) AS m FROM u
          |  GROUP BY 1, 2),
          |w AS (SELECT event_type, c, m,
          |  sum(m) OVER (PARTITION BY event_type ORDER BY c
          |    ROWS UNBOUNDED PRECEDING) - m AS p FROM h),
          |a AS (SELECT event_type, CAST(sum(m) AS BIGINT) AS n,
          |  CAST(sum(c*m) AS BIGINT) AS s,
          |  CAST(sum(c*m*(2*p + m + 1)) AS BIGINT) AS s2
          |  FROM w GROUP BY 1)
          |SELECT event_type, n AS n_users, s AS n_events,
          |  CAST(round(10000.0 * (s2 - (n+1)*s) / (n*s)) AS BIGINT)
          |    AS gini4
          |FROM a""".stripMargin,

      // two-proportion z: md5-parity arms, the SE chain mirrored in
      // the exact Spark operation order (1e0 literals — the DECIMAL
      // trap), significance vs CAST(1.96 AS DOUBLE)
      "events_ab_test" ->
        """WITH u AS (SELECT user_id,
          |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          |    AS conv FROM events GROUP BY 1),
          |a AS (SELECT user_id, conv,
          |  CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 6)
          |    AS BIGINT) % 2 AS arm FROM u),
          |s AS (SELECT
          |  CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
          |  CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS k_a,
          |  CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
          |  CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS k_b
          |  FROM a),
          |z AS (SELECT n_a, k_a, n_b, k_b,
          |  CASE WHEN n_a = 0 OR n_b = 0 OR k_a + k_b = 0
          |      OR k_a + k_b = n_a + n_b THEN NULL
          |  ELSE
          |  (CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE)
          |    - CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE))
          |  / sqrt(CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
          |    * (1e0 - CAST(k_a + k_b AS DOUBLE)
          |        / CAST(n_a + n_b AS DOUBLE))
          |    * (1e0 / CAST(n_a AS DOUBLE) + 1e0 / CAST(n_b AS DOUBLE)))
          |  END AS z FROM s)
          |SELECT n_a, k_a, n_b, k_b, z,
          |  CASE WHEN abs(z) > CAST(1.96 AS DOUBLE) THEN CAST(1 AS BIGINT)
          |    ELSE CAST(0 AS BIGINT) END AS significant
          |FROM z""".stripMargin,

      // χ² feature selection: presence cells are exact ints, ad/bc
      // multiply as doubles (overflow-safe at 100 TB counts), the χ²
      // chain mirrors the Spark left-to-right order term by term
      "text_chi2_terms" ->
        s"""WITH t AS (SELECT doc_id,
           |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS cls,
           |  $normTextSql AS t FROM documents),
           |pres AS (SELECT DISTINCT doc_id, cls, u.w AS term
           |  FROM t, LATERAL unnest(string_split(t, ' ')) u(w)
           |  WHERE length(u.w) > 0),
           |cells AS (SELECT term, CAST(sum(cls) AS BIGINT) AS a,
           |  count(*) AS df FROM pres GROUP BY 1 HAVING count(*) >= 5),
           |tot AS (SELECT count(*) AS n_docs,
           |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_pos FROM documents),
           |sc0 AS (SELECT term, df, a, n_docs, n_pos,
           |  CAST(a AS DOUBLE) * CAST(n_docs - n_pos - (df - a) AS DOUBLE)
           |    - CAST(df - a AS DOUBLE) * CAST(n_pos - a AS DOUBLE) AS diff
           |  FROM cells CROSS JOIN tot
           |  WHERE df < n_docs AND n_pos > 0 AND n_pos < n_docs),
           |sc AS (SELECT term, df, a,
           |  CAST(n_docs AS DOUBLE) * diff * diff
           |    / CAST(df AS DOUBLE) / CAST(n_docs - df AS DOUBLE)
           |    / CAST(n_pos AS DOUBLE) / CAST(n_docs - n_pos AS DOUBLE)
           |    AS chi2 FROM sc0)
           |SELECT CAST(row_number() OVER (ORDER BY chi2 DESC, term ASC)
           |    AS BIGINT) AS rank, term, df, a, chi2
           |FROM sc ORDER BY chi2 DESC, term ASC LIMIT 50""".stripMargin,

      // Bloom prefilter audit: identical md5-window probe positions,
      // 32-bit word packing (1<<63 overflows signed BIGINT), bit_or
      // build, 3-probe AND, ground truth from the exact key join
      // identical filter build; key-level tallies + bit_count occupancy,
      // expectation = s³/2⁴⁸ mirrored as one double division
      "bloom_fpr_audit" ->
        """WITH dk AS (SELECT DISTINCT c_custkey AS k FROM customer
          |  WHERE c_mktsegment = 'BUILDING'),
          |dpos AS (SELECT k, CAST('0x' ||
          |    substr(md5(CAST(k AS VARCHAR)), i*4 + 1, 4) AS BIGINT) AS h
          |  FROM dk, LATERAL unnest(generate_series(0, 2)) u(i)),
          |bloom AS (SELECT h // 32 AS word,
          |  bit_or(CAST(1 AS BIGINT) << CAST(h % 32 AS INT)) AS bits
          |  FROM dpos GROUP BY 1),
          |occ AS (SELECT CAST(sum(bit_count(bits)) AS BIGINT)
          |    AS n_bits_set FROM bloom),
          |fk AS (SELECT DISTINCT o_custkey AS k FROM orders),
          |fpos AS (SELECT k, CAST('0x' ||
          |    substr(md5(CAST(k AS VARCHAR)), i*4 + 1, 4) AS BIGINT) AS h
          |  FROM fk, LATERAL unnest(generate_series(0, 2)) u(i)),
          |probe AS (SELECT k,
          |  min(CASE WHEN bits IS NOT NULL AND (bits & mask) = mask
          |    THEN 1 ELSE 0 END) AS pass
          |  FROM (SELECT k, h // 32 AS word,
          |    CAST(1 AS BIGINT) << CAST(h % 32 AS INT) AS mask FROM fpos) f
          |  LEFT JOIN bloom USING (word) GROUP BY k),
          |fin AS (SELECT p.k, p.pass,
          |  CASE WHEN dk.k IS NOT NULL THEN 1 ELSE 0 END AS in_dim
          |  FROM probe p LEFT JOIN dk ON dk.k = p.k),
          |t AS (SELECT
          |  CAST(sum(CASE WHEN in_dim = 0 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_neg_keys,
          |  CAST(sum(CASE WHEN in_dim = 0 AND pass = 1 THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_fp_keys FROM fin)
          |SELECT n_neg_keys, n_fp_keys, n_bits_set,
          |  CASE WHEN n_neg_keys > 0 THEN
          |    CAST(round(10000.0 * n_fp_keys / n_neg_keys) AS BIGINT)
          |  END AS fpr4_measured,
          |  CAST(round(10000.0 * (n_bits_set*n_bits_set*n_bits_set)
          |    / 281474976710656) AS BIGINT) AS fpr4_expected
          |FROM t CROSS JOIN occ""".stripMargin,

      "bloom_prefilter" ->
        """WITH dk AS (SELECT DISTINCT c_custkey AS k FROM customer
          |  WHERE c_mktsegment = 'BUILDING'),
          |dpos AS (SELECT k, CAST('0x' ||
          |    substr(md5(CAST(k AS VARCHAR)), i*4 + 1, 4) AS BIGINT) AS h
          |  FROM dk, LATERAL unnest(generate_series(0, 2)) u(i)),
          |bloom AS (SELECT h // 32 AS word,
          |  bit_or(CAST(1 AS BIGINT) << CAST(h % 32 AS INT)) AS bits
          |  FROM dpos GROUP BY 1),
          |fk AS (SELECT o_custkey AS k, count(*) AS mult
          |  FROM orders GROUP BY 1),
          |fpos AS (SELECT k, mult, CAST('0x' ||
          |    substr(md5(CAST(k AS VARCHAR)), i*4 + 1, 4) AS BIGINT) AS h
          |  FROM fk, LATERAL unnest(generate_series(0, 2)) u(i)),
          |probe AS (SELECT k, mult,
          |  min(CASE WHEN bits IS NOT NULL AND (bits & mask) = mask
          |    THEN 1 ELSE 0 END) AS pass
          |  FROM (SELECT k, mult, h // 32 AS word,
          |    CAST(1 AS BIGINT) << CAST(h % 32 AS INT) AS mask FROM fpos) f
          |  LEFT JOIN bloom USING (word) GROUP BY k, mult),
          |fin AS (SELECT p.k, p.mult, p.pass,
          |  CASE WHEN dk.k IS NOT NULL THEN 1 ELSE 0 END AS in_dim
          |  FROM probe p LEFT JOIN dk ON dk.k = p.k)
          |SELECT CAST(sum(mult) AS BIGINT) AS n_fact_rows,
          |  count(*) AS n_fact_keys,
          |  CAST(sum(CASE WHEN pass = 1 THEN mult ELSE 0 END) AS BIGINT)
          |    AS n_candidate_rows,
          |  CAST(sum(CASE WHEN pass = 1 AND in_dim = 1 THEN mult ELSE 0 END)
          |    AS BIGINT) AS n_true_rows,
          |  CAST(sum(CASE WHEN pass = 1 AND in_dim = 0 THEN mult ELSE 0 END)
          |    AS BIGINT) AS n_false_pos_rows,
          |  CAST(sum(CASE WHEN pass = 0 AND in_dim = 1 THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_missed
          |FROM fin""".stripMargin,

      // Count–Min rebuild: identical md5 3-hex column windows, the
      // bounded 3×4096 grid, min-over-rows estimate, exact-count audit
      // ("over" is a DuckDB keyword → overcount)
      "sketch_cms_topk" ->
        s"""WITH toks AS (SELECT u.w AS term
           |  FROM (SELECT $normTextSql AS t FROM documents) s,
           |  LATERAL unnest(string_split(t, ' ')) u(w)
           |  WHERE length(u.w) > 0),
           |pos AS (SELECT term, i AS rw,
           |  CAST('0x' || substr(md5(term), i*3 + 1, 3) AS BIGINT) AS cell
           |  FROM toks, LATERAL unnest(generate_series(0, 2)) u(i)),
           |grid AS (SELECT rw, cell, count(*) AS c FROM pos GROUP BY 1, 2),
           |exact AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
           |probe AS (SELECT e.term, e.cnt, i AS rw,
           |  CAST('0x' || substr(md5(e.term), i*3 + 1, 3) AS BIGINT) AS cell
           |  FROM exact e, LATERAL unnest(generate_series(0, 2)) u(i)),
           |est AS (SELECT term, cnt, min(c) AS est
           |  FROM probe JOIN grid USING (rw, cell) GROUP BY 1, 2)
           |SELECT CAST(row_number() OVER (ORDER BY est DESC, term ASC)
           |    AS BIGINT) AS rank,
           |  term, est, cnt, est - cnt AS overcount
           |FROM est ORDER BY est DESC, term ASC LIMIT 20""".stripMargin,

      // HLL rebuild: identical md5 bucket/rank derivation (rho via
      // bin()-length — both engines' bin() is minimal binary), exact
      // power-of-two register sum, the same pinned estimator chain
      // (7.213e-1 etc. — DuckDB bare decimals are exact DECIMAL)
      "sketch_hll_distinct" ->
        """WITH base AS (SELECT event_type,
          |  md5(CAST(user_id AS VARCHAR)) AS h FROM events),
          |r AS (SELECT event_type,
          |  CAST('0x' || substr(h, 1, 3) AS BIGINT) AS bucket,
          |  CAST('0x' || substr(h, 4, 8) AS BIGINT) AS w FROM base),
          |regs AS (SELECT event_type, bucket,
          |  max(CASE WHEN w = 0 THEN 33
          |    ELSE 33 - length(bin(w)) END) AS m
          |  FROM r GROUP BY 1, 2),
          |agg AS (SELECT event_type, count(*) AS n_regs,
          |  sum(1e0 / CAST(CAST(1 AS BIGINT) << CAST(m AS INT) AS DOUBLE))
          |    AS s_present
          |  FROM regs GROUP BY 1),
          |ex AS (SELECT event_type,
          |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
          |  FROM events GROUP BY 1),
          |fin AS (SELECT a.event_type, e.n_exact,
          |  CAST(a.n_regs AS BIGINT) AS n_regs,
          |  4096 - a.n_regs AS zeros,
          |  a.s_present + CAST(4096 - a.n_regs AS DOUBLE) AS s
          |  FROM agg a JOIN ex e USING (event_type)),
          |est AS (SELECT event_type, n_exact, n_regs,
          |  CASE WHEN (7.213e-1 / (1e0 + 1.079e0 / 4.096e3)) * 4.096e3
          |        * 4.096e3 / s <= 2.5e0 * 4.096e3 AND zeros > 0
          |    THEN 4.096e3 * ln(4.096e3 / CAST(zeros AS DOUBLE))
          |    ELSE (7.213e-1 / (1e0 + 1.079e0 / 4.096e3)) * 4.096e3
          |        * 4.096e3 / s END AS est
          |  FROM fin)
          |SELECT event_type, n_exact, n_regs, round(est, 4) AS est4
          |FROM est""".stripMargin,

      // KMV rebuild: same 48-bit dyadic uniforms, per-group K-smallest
      // via a PARTITIONED rank, merged-K via ORDER BY + LIMIT, the two
      // estimator divisions in the same pinned order (e-notation
      // literals — the DuckDB bare-decimal DECIMAL trap)
      "sketch_kmv_setops" ->
        """WITH two AS (SELECT event_type AS grp, user_id AS key,
          |  CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
          |    AS BIGINT) AS DOUBLE) / 281474976710656e0 AS u
          |  FROM events WHERE event_type IN ('click', 'purchase')),
          |vals AS (SELECT DISTINCT grp, u FROM two),
          |sk AS (SELECT grp, u FROM (SELECT grp, u,
          |  row_number() OVER (PARTITION BY grp ORDER BY u) AS rn
          |  FROM vals) WHERE rn <= 128),
          |merged AS (SELECT u, count(*) AS n_grps FROM sk
          |  GROUP BY 1 ORDER BY u LIMIT 128),
          |kth AS (SELECT max(u) AS u_k, count(*) AS k_used,
          |  CAST(sum(CASE WHEN n_grps = 2 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_both FROM merged),
          |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_union,
          |  CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_exact_inter
          |  FROM (SELECT key, count(DISTINCT grp) AS g FROM two
          |    GROUP BY 1))
          |SELECT n_exact_union, n_exact_inter,
          |  round(CASE WHEN k_used < 128 THEN CAST(n_exact_union AS DOUBLE)
          |    ELSE 1.27e2 / u_k END, 4) AS est_union4,
          |  round(CASE WHEN k_used < 128 THEN CAST(n_exact_inter AS DOUBLE)
          |    ELSE CAST(n_both AS DOUBLE) / CAST(k_used AS DOUBLE)
          |      * (1.27e2 / u_k) END, 4)
          |    AS est_inter4,
          |  CAST(k_used AS BIGINT) AS k_used
          |FROM ex CROSS JOIN kth""".stripMargin,

      // order-statistic sketch rebuild: identical 48-bit md5 uniforms
      // of event_id, bottom-1024 per type via a partitioned rank with
      // the same (u, v) tie-break, nearest-rank pick 1 + floor(q·(k−1))
      // as the same single IEEE multiply + floor; estimates and exact
      // twins are raw data values — bit-exact compare, no rounding
      "sketch_quantiles" ->
        """WITH base AS (SELECT event_type AS grp, value AS v,
          |  CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12)
          |    AS BIGINT) AS u
          |  FROM events),
          |sample AS (SELECT grp, v FROM (SELECT grp, v,
          |  row_number() OVER (PARTITION BY grp ORDER BY u, v) AS rn
          |  FROM base) WHERE rn <= 1024),
          |k AS (SELECT grp, CAST(count(*) AS BIGINT) AS k_used
          |  FROM sample GROUP BY 1),
          |sr AS (SELECT grp, v,
          |  row_number() OVER (PARTITION BY grp ORDER BY v) AS vr
          |  FROM sample),
          |est AS (SELECT s.grp, k.k_used,
          |  max(CASE WHEN s.vr = CAST(floor(5e-1 *
          |    CAST(k.k_used - 1 AS DOUBLE)) AS BIGINT) + 1
          |    THEN s.v END) AS q50_est,
          |  max(CASE WHEN s.vr = CAST(floor(9.5e-1 *
          |    CAST(k.k_used - 1 AS DOUBLE)) AS BIGINT) + 1
          |    THEN s.v END) AS q95_est,
          |  max(CASE WHEN s.vr = CAST(floor(9.9e-1 *
          |    CAST(k.k_used - 1 AS DOUBLE)) AS BIGINT) + 1
          |    THEN s.v END) AS q99_est
          |  FROM sr s JOIN k USING (grp) GROUP BY 1, 2),
          |n AS (SELECT grp, CAST(count(*) AS BIGINT) AS n
          |  FROM base GROUP BY 1),
          |fr AS (SELECT grp, v,
          |  row_number() OVER (PARTITION BY grp ORDER BY v) AS vr
          |  FROM base),
          |ex AS (SELECT f.grp, n.n,
          |  max(CASE WHEN f.vr = CAST(floor(5e-1 *
          |    CAST(n.n - 1 AS DOUBLE)) AS BIGINT) + 1
          |    THEN f.v END) AS q50_exact,
          |  max(CASE WHEN f.vr = CAST(floor(9.5e-1 *
          |    CAST(n.n - 1 AS DOUBLE)) AS BIGINT) + 1
          |    THEN f.v END) AS q95_exact,
          |  max(CASE WHEN f.vr = CAST(floor(9.9e-1 *
          |    CAST(n.n - 1 AS DOUBLE)) AS BIGINT) + 1
          |    THEN f.v END) AS q99_exact
          |  FROM fr f JOIN n USING (grp) GROUP BY 1, 2)
          |SELECT e.grp AS event_type, x.n, e.k_used,
          |  e.q50_est, x.q50_exact, e.q95_est, x.q95_exact,
          |  e.q99_est, x.q99_exact
          |FROM est e JOIN ex x USING (grp)""".stripMargin,

      // full-file BMP rebuild: header pieces concatenated (size 246,
      // pixOff 54, 8×8, 24bpp) + 64 pixels in FILE order; output file
      // row y samples input image row 15−2y (bottom-up anchoring), so
      // the single-pixel id%4 perturbation at image row 0 never
      // survives the resample — pixels are pure base pattern
      // valid arms: the full file-hex re-derivation as before, now with
      // resized=true; quarantine arms (id%7 = 5 JPEG header / 6 8-bit
      // BMP): pass-through hex graded against the SAME fixture
      // constants the synthesis uses (Multimodal.jpegHeaderHex/bmp8Hex)
      "multimodal_image_resize" ->
        s"""WITH px AS (SELECT d.doc_id AS media_id, y.y AS y, x.x AS x,
          |  CASE WHEN substr(md5(CAST(d.doc_id // 4 AS VARCHAR) || ':' ||
          |      CAST(2 * x.x AS VARCHAR) || ',' ||
          |      CAST(15 - 2 * y.y AS VARCHAR)), 1, 1)
          |      BETWEEN '0' AND '7'
          |    THEN '000000' ELSE 'ffffff' END AS h
          |  FROM documents d,
          |    LATERAL unnest(generate_series(0, 7)) y(y),
          |    LATERAL unnest(generate_series(0, 7)) x(x)
          |  WHERE d.doc_id % 7 NOT IN (5, 6)),
          |agg AS (SELECT media_id,
          |  string_agg(h, '' ORDER BY y, x) AS pix FROM px GROUP BY 1)
          |SELECT media_id, TRUE AS resized,
          |  '424d' || 'f6000000' || '00000000' || '36000000' ||
          |  '28000000' || '08000000' || '08000000' || '0100' || '1800' ||
          |  repeat('00', 24) || pix AS bmp_hex
          |FROM agg
          |UNION ALL
          |SELECT doc_id AS media_id, FALSE AS resized,
          |  '${Multimodal.jpegHeaderHex}' AS bmp_hex
          |FROM documents WHERE doc_id % 7 = 5
          |UNION ALL
          |SELECT doc_id AS media_id, FALSE AS resized,
          |  '${Multimodal.bmp8Hex}' AS bmp_hex
          |FROM documents WHERE doc_id % 7 = 6""".stripMargin,

      // arithmetic re-derivation of the sampled frame grid: every
      // id%3==2 video carries frames 0..2 whose BYTES are the md5
      // digest of 'id:i' — hex(frame) can only equal md5('id:i') if
      // the RIFF walk returned exactly the right byte ranges
      "multimodal_frame_sample" ->
        """SELECT doc_id AS media_id, CAST(i AS BIGINT) AS frame_idx,
          |  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR))
          |    AS frame_hex
          |FROM documents, LATERAL unnest(generate_series(0, 2, 2)) u(i)
          |WHERE doc_id % 3 = 2""".stripMargin,

      // frame energies re-derived from the waveform formula (the
      // audio_energy oracle's derivation) + the same islands SQL; the
      // active test is the exact integer cross-multiply
      "multimodal_audio_vad" ->
        """WITH i AS (SELECT doc_id AS media_id, u.i AS i FROM documents,
          |  LATERAL unnest(generate_series(0, 3999)) u(i)),
          |v AS (SELECT media_id, i // 512 AS frame_idx,
          |  ((media_id * 31 + i * 7) % 2003) - 1001 AS s FROM i),
          |f AS (SELECT media_id, frame_idx, count(*) AS n,
          |  CAST(sum(s * s) AS BIGINT) AS sq FROM v GROUP BY 1, 2),
          |a AS (SELECT media_id, frame_idx FROM f
          |  WHERE sq > n * 334000),
          |r AS (SELECT media_id, frame_idx - row_number()
          |  OVER (PARTITION BY media_id ORDER BY frame_idx) AS grp
          |  FROM a),
          |g AS (SELECT media_id, grp, count(*) AS run_len
          |  FROM r GROUP BY 1, 2),
          |m AS (SELECT media_id, count(*) AS n_segments,
          |  CAST(sum(run_len) AS BIGINT) AS n_active,
          |  CAST(max(run_len) AS BIGINT) AS longest_run
          |  FROM g GROUP BY 1),
          |nf AS (SELECT media_id, count(*) AS n_frames FROM f GROUP BY 1)
          |SELECT nf.media_id, nf.n_frames,
          |  coalesce(m.n_active, 0) AS n_active,
          |  coalesce(m.n_segments, 0) AS n_segments,
          |  coalesce(m.longest_run, 0) AS longest_run
          |FROM nf LEFT JOIN m ON m.media_id = nf.media_id""".stripMargin,

      // every frame byte re-derived from the md5 hex formula, the
      // per-pair delta summed over the 16 byte positions — grading the
      // container offsets AND the delta arithmetic. Frame count and
      // pair range derive from the SAME layout formula the synthesizer
      // uses (Multimodal.videoFrameCountSql), not a literal copy of it
      // (ADVICE r11) — if the synthetic layout changes, this oracle
      // follows instead of grading its own stale assumption.
      // r14: valid arm (id%3=2) as before with decoded=true (the
      // single-frame case pairs zero rows, hence the LEFT JOIN);
      // quarantine arms (id%3 = 0 truncated RIFF / 1 MP4 ftyp) grade as
      // explicit decoded=false zero rows
      "multimodal_scene_cut" ->
        s"""WITH v AS (SELECT doc_id AS media_id,
          |  CAST(${Multimodal.videoFrameCountSql} AS BIGINT) AS n_frames
          |  FROM (SELECT doc_id, doc_id AS media_id FROM documents
          |    WHERE doc_id % 3 = 2)),
          |b AS (SELECT media_id, u.i AS pair_idx,
          |  CAST(sum(abs(
          |    CAST('0x' || substr(md5(CAST(media_id AS VARCHAR) || ':'
          |      || CAST(u.i AS VARCHAR)), j.j*2 + 1, 2) AS BIGINT)
          |    - CAST('0x' || substr(md5(CAST(media_id AS VARCHAR) || ':'
          |      || CAST(u.i + 1 AS VARCHAR)), j.j*2 + 1, 2) AS BIGINT)))
          |    AS BIGINT) AS delta
          |  FROM v, LATERAL unnest(generate_series(0, n_frames - 2)) u(i),
          |    LATERAL unnest(generate_series(0, 15)) j(j)
          |  GROUP BY 1, 2)
          |SELECT v.media_id, TRUE AS decoded, v.n_frames,
          |  count(b.media_id) AS n_pairs,
          |  CAST(coalesce(sum(delta), 0) AS BIGINT) AS sum_delta,
          |  CAST(coalesce(sum(CASE WHEN delta > 1360 THEN 1 ELSE 0 END),
          |    0) AS BIGINT) AS n_cuts
          |FROM v LEFT JOIN b ON b.media_id = v.media_id
          |GROUP BY 1, 2, 3
          |UNION ALL
          |SELECT doc_id AS media_id, FALSE AS decoded,
          |  0 AS n_frames, 0 AS n_pairs, 0 AS sum_delta, 0 AS n_cuts
          |FROM documents WHERE doc_id % 3 IN (0, 1)""".stripMargin,

      // VanRaden GRM: the same per-cell ×10⁴ / per-site ×10⁸ rounding
      // sequence term by term — the 10⁸ scales cancel in the final
      // ratio, so both engines divide the identical exact longs
      "popgen_grm" ->
        s"""WITH $dosageCellCtes,
           |st AS (SELECT chr, pos, count(*) AS n,
           |  sum(CASE WHEN gv = 1 THEN 1 ELSE 0 END) AS n1,
           |  sum(CASE WHEN gv = 2 THEN 1 ELSE 0 END) AS n2
           |  FROM c GROUP BY 1, 2),
           |pk AS (SELECT chr, pos,
           |  (2.0 * n2 + n1) / (2.0 * n) AS p,
           |  CAST(round(100000000.0 * 2.0 * ((2.0 * n2 + n1) / (2.0 * n))
           |    * (1.0 - (2.0 * n2 + n1) / (2.0 * n))) AS BIGINT) AS dq8
           |  FROM st
           |  WHERE (2.0 * n2 + n1) / (2.0 * n) > 0
           |    AND (2.0 * n2 + n1) / (2.0 * n) < 1),
           |z AS (SELECT c.chr, c.pos, c.sample,
           |  CAST(round(10000.0 * (c.gv - 2.0 * pk.p)) AS BIGINT) AS zq4,
           |  pk.dq8
           |  FROM c JOIN pk ON pk.chr = c.chr AND pk.pos = c.pos)
           |SELECT a.sample AS s1, b.sample AS s2,
           |  count(*) AS n_shared,
           |  CAST(round(10000.0 * sum(a.zq4 * b.zq4) / sum(a.dq8))
           |    AS BIGINT) AS grm4
           |FROM z a JOIN z b ON a.chr = b.chr AND a.pos = b.pos
           |  AND a.sample < b.sample
           |GROUP BY 1, 2""".stripMargin,

      // life table: day = epoch_us // 86400000000 (the shared daily
      // idiom), censoring at the global max day, at-risk via the
      // bounded tail self-join — counts exact, one rounded division
      "events_lifetable" ->
        """WITH ud AS (SELECT user_id,
          |  min(epoch_us(ts) // 86400000000) AS fd,
          |  max(epoch_us(ts) // 86400000000) AS ld
          |  FROM events GROUP BY 1),
          |co AS (SELECT max(epoch_us(ts) // 86400000000) AS cutoff
          |  FROM events),
          |d AS (SELECT ld - fd AS t,
          |  CASE WHEN ld = cutoff THEN 1 ELSE 0 END AS cen
          |  FROM ud, co),
          |bt AS (SELECT t, CAST(sum(1 - cen) AS BIGINT) AS n_churn,
          |  CAST(sum(cen) AS BIGINT) AS n_censored FROM d GROUP BY 1)
          |SELECT a.t,
          |  CAST(sum(b.n_churn + b.n_censored) AS BIGINT) AS n_risk,
          |  a.n_churn, a.n_censored,
          |  CAST(round(100000000.0 * a.n_churn
          |    / sum(b.n_churn + b.n_censored)) AS BIGINT) AS hazard8
          |FROM bt a JOIN bt b ON b.t >= a.t
          |GROUP BY 1, 3, 4""".stripMargin,

      // the graph_triangles orientation chain extended per node: each
      // closed wedge credited to its three corners via unnest, then
      // the per-degree rollup of ×10⁴-rounded per-node coefficients
      "graph_clustering_coeff" ->
        s"""WITH $jaccardPairCtes,
           |e AS (SELECT id_a AS u, id_b AS v FROM jp),
           |dg AS (SELECT id, count(*) AS deg FROM (
           |  SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e)
           |  GROUP BY 1),
           |o AS (SELECT
           |  CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
           |    THEN e.u ELSE e.v END AS src,
           |  CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
           |    THEN e.v ELSE e.u END AS dst
           |  FROM e JOIN dg du ON du.id = e.u JOIN dg dv ON dv.id = e.v),
           |w AS (SELECT o1.src AS s, o1.dst AS w1, o2.dst AS w2
           |  FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst),
           |tri AS (SELECT * FROM w WHERE EXISTS (SELECT 1 FROM e
           |  WHERE e.u = least(w.w1, w.w2) AND e.v = greatest(w.w1, w.w2))),
           |pn AS (SELECT id, count(*) AS tri FROM (
           |  SELECT unnest([s, w1, w2]) AS id FROM tri) GROUP BY 1),
           |cc AS (SELECT dg.id, dg.deg, coalesce(pn.tri, 0) AS tri,
           |  CAST(round(10000.0 * 2.0 * coalesce(pn.tri, 0)
           |    / (dg.deg * (dg.deg - 1))) AS BIGINT) AS cc4
           |  FROM dg LEFT JOIN pn ON pn.id = dg.id WHERE dg.deg >= 2)
           |SELECT deg, count(*) AS n_nodes,
           |  CAST(sum(tri) AS BIGINT) AS tri_inc,
           |  CAST(round(sum(cc4) / count(*)) AS BIGINT) AS avg_cc4
           |FROM cc GROUP BY 1""".stripMargin,

      // TextRank: the graph_pagerank round template on the adjacent-
      // token co-occurrence graph, 3 rounds, ×10¹² exact contributions
      "text_textrank" ->
        s"""WITH t AS (SELECT $normTextSql AS t FROM documents),
           |a AS (SELECT string_split(t, ' ') AS ws FROM t),
           |bg AS (SELECT ws[CAST(i AS INT)] AS wa, ws[CAST(i AS INT) + 1] AS wb
           |  FROM (SELECT ws, unnest(generate_series(1, length(ws) - 1)) AS i
           |        FROM a WHERE length(ws) >= 2)),
           |ue AS (SELECT DISTINCT least(wa, wb) AS u, greatest(wa, wb) AS v
           |  FROM bg WHERE wa <> wb AND length(wa) > 0 AND length(wb) > 0),
           |e AS (SELECT u AS src, v AS dst FROM ue
           |  UNION ALL SELECT v, u FROM ue),
           |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
           |nodes AS (SELECT DISTINCT src AS id FROM e),
           |nn AS (SELECT count(*) AS n_nodes FROM nodes),
           |p0 AS (SELECT id, 1.0 / n_nodes AS pr FROM nodes, nn),
           |c1 AS (SELECT dst, CAST(sum(CAST(round(pr / outdeg
           |    * 1000000000000.0) AS BIGINT)) AS BIGINT) AS s12
           |  FROM e JOIN p0 ON p0.id = e.src JOIN deg USING (src)
           |  GROUP BY 1),
           |p1 AS (SELECT dst AS id, (CAST(1.0 AS DOUBLE) - 0.85) / n_nodes
           |    + 0.85 * (s12 / 1000000000000.0) AS pr FROM c1, nn),
           |c2 AS (SELECT dst, CAST(sum(CAST(round(pr / outdeg
           |    * 1000000000000.0) AS BIGINT)) AS BIGINT) AS s12
           |  FROM e JOIN p1 ON p1.id = e.src JOIN deg USING (src)
           |  GROUP BY 1),
           |p2 AS (SELECT dst AS id, (CAST(1.0 AS DOUBLE) - 0.85) / n_nodes
           |    + 0.85 * (s12 / 1000000000000.0) AS pr FROM c2, nn),
           |c3 AS (SELECT dst, CAST(sum(CAST(round(pr / outdeg
           |    * 1000000000000.0) AS BIGINT)) AS BIGINT) AS s12
           |  FROM e JOIN p2 ON p2.id = e.src JOIN deg USING (src)
           |  GROUP BY 1),
           |p3 AS (SELECT dst AS id, (CAST(1.0 AS DOUBLE) - 0.85) / n_nodes
           |    + 0.85 * (s12 / 1000000000000.0) AS pr FROM c3, nn)
           |SELECT rank, word, pr FROM (
           |  SELECT CAST(row_number() OVER (ORDER BY pr DESC, id)
           |    AS BIGINT) AS rank, id AS word, pr FROM p3)
           |WHERE rank <= 25""".stripMargin,

      // conductance: the modularity chain's edge/degree/label CTEs with
      // a per-community cut tally (each boundary edge credits BOTH
      // sides) and the integer min-volume guard
      "graph_conductance" ->
        s"""WITH $lpaCtes,
           |eu AS (SELECT id_a AS u, id_b AS v FROM jp),
           |mm AS (SELECT 2 * count(*) AS vol2m FROM eu),
           |el AS (SELECT a.label AS lu, b.label AS lv FROM eu
           |  JOIN l3 a ON a.id = eu.u JOIN l3 b ON b.id = eu.v),
           |ct AS (SELECT label, count(*) AS cut FROM (
           |  SELECT lu AS label FROM el WHERE lu <> lv
           |  UNION ALL SELECT lv FROM el WHERE lu <> lv) GROUP BY 1),
           |deg AS (SELECT id, count(*) AS deg FROM (
           |  SELECT u AS id FROM eu UNION ALL SELECT v FROM eu)
           |  GROUP BY 1),
           |vl AS (SELECT l.label, count(*) AS n_nodes,
           |  CAST(sum(d.deg) AS BIGINT) AS vol
           |  FROM deg d JOIN l3 l ON l.id = d.id GROUP BY 1)
           |SELECT vl.label, vl.n_nodes, vl.vol,
           |  CAST(coalesce(ct.cut, 0) AS BIGINT) AS cut,
           |  CASE WHEN least(vl.vol, vol2m - vl.vol) > 0
           |    THEN CAST(round(1000000.0 * coalesce(ct.cut, 0)
           |      / CAST(least(vl.vol, vol2m - vl.vol) AS DOUBLE)) AS BIGINT)
           |  END AS conductance6
           |FROM vl LEFT JOIN ct ON ct.label = vl.label, mm""".stripMargin,

      // buckets from the integerized jaccard (j4 DIV 1000) — no
      // float×10 floor boundary
      "dedup_jaccard_hist" ->
        s"""WITH $jaccardPairCtes,
           |j AS (SELECT CAST(round(jaccard * 10000) AS BIGINT) AS j4
           |  FROM jp)
           |SELECT j4 // 1000 AS bucket, count(*) AS n_pairs,
           |  CAST(min(j4) AS BIGINT) AS min_j4,
           |  CAST(max(j4) AS BIGINT) AS max_j4
           |FROM j GROUP BY 1""".stripMargin,

      // the composed audit: ONE label chain (l3) feeds the modularity
      // rational, the per-community conductance AND the size census —
      // same CTEs as the standalone oracles so the three derivations
      // cannot drift from their standalone twins
      "graph_community_audit" ->
        s"""WITH $lpaCtes,
           |eu AS (SELECT id_a AS u, id_b AS v FROM jp),
           |mm AS (SELECT count(*) AS m FROM eu),
           |ein AS (SELECT count(*) AS e_in FROM eu
           |  JOIN l3 a ON a.id = eu.u JOIN l3 b ON b.id = eu.v
           |  WHERE a.label = b.label),
           |deg AS (SELECT id, count(*) AS deg FROM
           |  (SELECT u AS id FROM eu UNION ALL SELECT v FROM eu)
           |  GROUP BY 1),
           |dc AS (SELECT l.label, count(*) AS n_nodes,
           |  CAST(sum(d.deg) AS BIGINT) AS vol
           |  FROM deg d JOIN l3 l ON l.id = d.id GROUP BY 1),
           |s AS (SELECT count(*) AS n_communities,
           |  CAST(sum(vol*vol) AS BIGINT) AS sum_d2 FROM dc),
           |el AS (SELECT a.label AS lu, b.label AS lv FROM eu
           |  JOIN l3 a ON a.id = eu.u JOIN l3 b ON b.id = eu.v),
           |ct AS (SELECT label, count(*) AS cut FROM (
           |  SELECT lu AS label FROM el WHERE lu <> lv
           |  UNION ALL SELECT lv FROM el WHERE lu <> lv) GROUP BY 1),
           |cen AS (SELECT n_nodes, count(*) AS n_size_peers
           |  FROM dc GROUP BY 1),
           |gaud AS (SELECT n_communities, CAST(m AS BIGINT) AS n_edges,
           |  CAST(round(1000000.0 * (4*m*e_in - sum_d2) / (4*m*m))
           |    AS BIGINT) AS modularity6, 2*m AS vol2m
           |  FROM mm CROSS JOIN ein CROSS JOIN s)
           |SELECT dc.label, dc.n_nodes AS n_members, dc.vol,
           |  CAST(coalesce(ct.cut, 0) AS BIGINT) AS cut,
           |  CASE WHEN least(dc.vol, gaud.vol2m - dc.vol) > 0
           |    THEN CAST(round(1000000.0 * coalesce(ct.cut, 0)
           |      / CAST(least(dc.vol, gaud.vol2m - dc.vol) AS DOUBLE))
           |      AS BIGINT)
           |  END AS conductance6,
           |  CAST(cen.n_size_peers AS BIGINT) AS n_size_peers,
           |  gaud.n_communities, gaud.n_edges, gaud.modularity6
           |FROM dc LEFT JOIN ct ON ct.label = dc.label
           |JOIN cen ON cen.n_nodes = dc.n_nodes
           |CROSS JOIN gaud""".stripMargin,

      // totals arithmetic (Σ max(len−2,0)), distincts through the same
      // per-source trigram derivation as the shingle family
      "text_compression_proxy" ->
        s"""WITH d AS (SELECT source, $normTextSql AS t FROM documents),
           |tot AS (SELECT source,
           |  CAST(sum(greatest(length(t) - 2, 0)) AS BIGINT)
           |    AS n_trigrams FROM d GROUP BY 1),
           |sh AS (SELECT DISTINCT source, substr(t, CAST(i AS INT), 3) AS sh
           |  FROM (SELECT source, t,
           |    unnest(generate_series(1, length(t) - 2)) AS i
           |    FROM d WHERE length(t) >= 3)),
           |ds AS (SELECT source, count(*) AS n_distinct FROM sh GROUP BY 1)
           |SELECT tot.source, n_trigrams,
           |  CAST(coalesce(n_distinct, 0) AS BIGINT) AS n_distinct,
           |  CASE WHEN n_trigrams > 0 THEN
           |    CAST(round(10000.0 * coalesce(n_distinct, 0) / n_trigrams)
           |      AS BIGINT) END AS ratio4
           |FROM tot LEFT JOIN ds ON ds.source = tot.source""".stripMargin,

      // CpG counts by replace/translate-erase, the island gate as the
      // identical all-integer comparisons
      "dna_cpg_oe" ->
        s"""WITH d AS (SELECT doc_id, $docDnaSql AS seq FROM documents),
           |c AS (SELECT doc_id, CAST(length(seq) AS BIGINT) AS len,
           |  CAST((length(seq) - length(replace(seq, 'CG', ''))) // 2
           |    AS BIGINT) AS n_cg,
           |  CAST(length(seq) - length(replace(seq, 'C', '')) AS BIGINT)
           |    AS n_c,
           |  CAST(length(seq) - length(replace(seq, 'G', '')) AS BIGINT)
           |    AS n_g
           |  FROM d)
           |SELECT doc_id, len, n_cg, n_c, n_g,
           |  CASE WHEN n_c > 0 AND n_g > 0 THEN
           |    CAST(round(10000.0 * n_cg * len / (n_c * n_g)) AS BIGINT)
           |  END AS oe4,
           |  (n_c > 0 AND n_g > 0
           |    AND n_cg * len * 10 >= n_c * n_g * 6
           |    AND (n_c + n_g) * 2 >= len) AS island
           |FROM c""".stripMargin,

      // norms x1e4-rounded to exact ints; the 2-sigma flag chain runs
      // in HUGEINT exactly as Spark runs it in decimal(38)
      "embed_norm_outliers" ->
        """WITH e AS (SELECT label, CAST(round(10000 * sqrt(
          |    list_dot_product(CAST(embedding AS DOUBLE[]),
          |      CAST(embedding AS DOUBLE[])))) AS BIGINT) AS x4
          |  FROM embeddings),
          |st AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(x4) AS BIGINT) AS s,
          |  CAST(sum(x4*x4) AS BIGINT) AS ss FROM e GROUP BY 1),
          |f AS (SELECT e.label, n, s,
          |  CASE WHEN CAST(n*x4 - s AS HUGEINT) * CAST(n*x4 - s AS HUGEINT)
          |    > 4 * (CAST(n AS HUGEINT) * CAST(ss AS HUGEINT)
          |      - CAST(s AS HUGEINT) * CAST(s AS HUGEINT))
          |    THEN 1 ELSE 0 END AS flag
          |  FROM e JOIN st USING (label))
          |SELECT label, any_value(n) AS n, any_value(s) AS sum_norm4,
          |  CAST(sum(flag) AS BIGINT) AS n_outliers
          |FROM f GROUP BY 1""".stripMargin,

      // Simpson diversity: exact-integer Σc(c−1) and N(N−1), the two
      // denominator factors cast to double separately (the
      // variance-product rule), one rounded division
      "text_simpson" ->
        s"""WITH w AS (SELECT source, uw.w FROM
           |  (SELECT source, $normTextSql AS t FROM documents) d,
           |  LATERAL unnest(string_split(t, ' ')) uw(w)
           |  WHERE length(uw.w) > 0),
           |c AS (SELECT source, w, count(*) AS c FROM w GROUP BY 1, 2),
           |a AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
           |  count(*) AS n_types, CAST(sum(c * (c - 1)) AS BIGINT) AS coll
           |  FROM c GROUP BY 1)
           |SELECT source, n_tokens, n_types,
           |  CASE WHEN n_tokens >= 2
           |    THEN CAST(round(100000000.0 * coll /
           |      (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE)))
           |      AS BIGINT)
           |  END AS simpson8
           |FROM a""".stripMargin,

      // IVF balance: the ann_ivf assignment chain (argmin by (d, c)
      // over the same centroid literals), then the numC-domain left
      // join so empty lists surface as zero rows
      "embed_ivf_balance" ->
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
           |d AS (
           |  ${coarseDistRows(Similarity.ivfQuantizer(16, 64))}),
           |rnk AS (SELECT vec_id, c,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM d),
           |cnt AS (SELECT c AS list_id, count(*) AS n_vecs FROM rnk
           |  WHERE rn = 1 GROUP BY 1),
           |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total FROM cnt),
           |ls AS (SELECT unnest(generate_series(0, 15)) AS list_id)
           |SELECT CAST(ls.list_id AS BIGINT) AS list_id,
           |  CAST(coalesce(cnt.n_vecs, 0) AS BIGINT) AS n_vecs,
           |  CAST(round(10000.0 * (coalesce(cnt.n_vecs, 0) * 16)
           |    / CAST(total AS DOUBLE)) AS BIGINT) AS load4
           |FROM ls LEFT JOIN cnt ON cnt.list_id = ls.list_id, tot""".stripMargin,

      // minimizers: hash·2¹⁶+pos packing, ONE bounded window min per
      // position, window starts only, distinct argmin positions
      "dna_minimizers" ->
        s"""WITH d AS (SELECT doc_id, $docDnaSql AS dna FROM documents),
           |km AS (SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos,
           |  substr(dna, CAST(u.i AS INT), 5) AS kmer
           |  FROM d, LATERAL unnest(generate_series(1, length(dna) - 4)) u(i)),
           |ky AS (SELECT doc_id, pos,
           |  CAST('0x' || substr(md5(kmer), 1, 10) AS BIGINT) * 65536 + pos
           |    AS key FROM km),
           |wm AS (SELECT doc_id, pos,
           |  min(key) OVER (PARTITION BY doc_id ORDER BY pos
           |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mink,
           |  count(*) OVER (PARTITION BY doc_id) AS nk FROM ky),
           |sel AS (SELECT DISTINCT doc_id, nk, mink % 65536 AS minpos
           |  FROM wm WHERE pos <= nk - 8)
           |SELECT doc_id, CAST(nk - 7 AS BIGINT) AS n_windows,
           |  count(*) AS n_minimizers,
           |  CAST(round(1000000.0 * count(*) / CAST(nk - 7 AS DOUBLE))
           |    AS BIGINT) AS density6
           |FROM sel GROUP BY doc_id, nk""".stripMargin,

      // burstiness: gap = same-(type,user) µs delta // 60e6 exact
      // minutes; μ/σ/B evaluate in the identical pinned double
      // sequence (each long cast separately, sqrt the one
      // transcendental, variance clamped at 0)
      "events_burstiness" ->
        """WITH e AS (SELECT event_type, user_id, epoch_us(ts) AS us
          |  FROM events),
          |g AS (SELECT event_type, (us - lag(us) OVER (
          |    PARTITION BY event_type, user_id ORDER BY us)) // 60000000
          |    AS gap FROM e),
          |m AS (SELECT event_type, count(*) AS n_gaps,
          |  CAST(sum(gap) AS BIGINT) AS s1,
          |  CAST(sum(gap * gap) AS BIGINT) AS s2
          |  FROM g WHERE gap IS NOT NULL GROUP BY 1),
          |b AS (SELECT event_type, n_gaps, s1,
          |  sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(n_gaps AS DOUBLE)
          |    - (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE))
          |      * (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 0.0)) AS sig,
          |  CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu FROM m)
          |SELECT event_type AS etype, n_gaps, s1 AS sum_gap_min,
          |  CASE WHEN sig + mu > 0
          |    THEN CAST(round(10000.0 * (sig - mu) / (sig + mu)) AS BIGINT)
          |  END AS burstiness4
          |FROM b""".stripMargin,

      // GRM power step: the popgen_grm rounding chain over ALL ordered
      // pairs (incl. the diagonal), md5-parity ±1 start vector, exact
      // matvec, one normalization division
      "popgen_pca_step" ->
        s"""WITH $dosageCellCtes,
           |st AS (SELECT chr, pos, count(*) AS n,
           |  sum(CASE WHEN gv = 1 THEN 1 ELSE 0 END) AS n1,
           |  sum(CASE WHEN gv = 2 THEN 1 ELSE 0 END) AS n2
           |  FROM c GROUP BY 1, 2),
           |pk AS (SELECT chr, pos,
           |  (2.0 * n2 + n1) / (2.0 * n) AS p,
           |  CAST(round(100000000.0 * 2.0 * ((2.0 * n2 + n1) / (2.0 * n))
           |    * (1.0 - (2.0 * n2 + n1) / (2.0 * n))) AS BIGINT) AS dq8
           |  FROM st
           |  WHERE (2.0 * n2 + n1) / (2.0 * n) > 0
           |    AND (2.0 * n2 + n1) / (2.0 * n) < 1),
           |z AS (SELECT c.chr, c.pos, c.sample,
           |  CAST(round(10000.0 * (c.gv - 2.0 * pk.p)) AS BIGINT) AS zq4,
           |  pk.dq8
           |  FROM c JOIN pk ON pk.chr = c.chr AND pk.pos = c.pos),
           |g AS (SELECT a.sample AS s1, b.sample AS s2,
           |  CAST(round(10000.0 * sum(a.zq4 * b.zq4) / sum(a.dq8))
           |    AS BIGINT) AS grm4
           |  FROM z a JOIN z b ON a.chr = b.chr AND a.pos = b.pos
           |  GROUP BY 1, 2),
           |v1 AS (SELECT s1, count(*) AS n_terms,
           |  CAST(sum(grm4 * ((CAST('0x' || substr(md5(
           |    CAST(s2 AS VARCHAR)), 1, 6) AS BIGINT) % 2) * 2 - 1))
           |    AS BIGINT) AS v1 FROM g GROUP BY 1),
           |mx AS (SELECT max(abs(v1)) AS mx FROM v1)
           |SELECT s1 AS sample, n_terms, v1,
           |  CASE WHEN mx > 0 THEN CAST(round(10000.0 * v1
           |    / CAST(mx AS DOUBLE)) AS BIGINT) END AS r4
           |FROM v1, mx""".stripMargin,

      // Mann-Kendall: exact S over day pairs, exact tie-corrected
      // variance numerator, one pinned z sequence
      "events_trend_mk" ->
        """WITH d AS (SELECT event_type,
          |  epoch_us(ts) // 86400000000 AS day FROM events),
          |dc AS (SELECT event_type, day, count(*) AS x FROM d
          |  GROUP BY 1, 2),
          |sr AS (SELECT a.event_type, CAST(sum(CASE WHEN b.x > a.x THEN 1
          |    WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
          |  FROM dc a JOIN dc b ON a.event_type = b.event_type
          |    AND a.day < b.day GROUP BY 1),
          |ti AS (SELECT event_type, x, count(*) AS t FROM dc GROUP BY 1, 2),
          |tn AS (SELECT event_type, CAST(sum(t) AS BIGINT) AS n_days,
          |  CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_num
          |  FROM ti GROUP BY 1),
          |v AS (SELECT tn.event_type, n_days,
          |  CAST(coalesce(s_stat, 0) AS BIGINT) AS s_stat,
          |  CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_num
          |    AS BIGINT) AS var_num
          |  FROM tn LEFT JOIN sr ON sr.event_type = tn.event_type)
          |SELECT event_type AS etype, n_days, s_stat, var_num,
          |  CASE WHEN var_num = 0 THEN NULL
          |    WHEN s_stat > 0 THEN CAST(round(10000.0
          |      * CAST(s_stat - 1 AS DOUBLE)
          |      / sqrt(CAST(var_num AS DOUBLE) / 18.0)) AS BIGINT)
          |    WHEN s_stat < 0 THEN CAST(round(10000.0
          |      * CAST(s_stat + 1 AS DOUBLE)
          |      / sqrt(CAST(var_num AS DOUBLE) / 18.0)) AS BIGINT)
          |    ELSE CAST(0 AS BIGINT) END AS z4
          |FROM v""".stripMargin,

      // session-size profile: the q20 chain rolled up by session size
      "events_session_stats" ->
        """WITH e AS (SELECT user_id, event_id,
          |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events),
          |m AS (SELECT user_id, event_id, ts_sec,
          |  CASE WHEN lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) IS NULL
          |    OR ts_sec - lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) > 1800
          |    THEN 1 ELSE 0 END AS new_s FROM e),
          |s AS (SELECT user_id, ts_sec,
          |  CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
          |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM m),
          |ses AS (SELECT user_id, session_id, count(*) AS n_events,
          |  max(ts_sec) - min(ts_sec) AS dur FROM s GROUP BY 1, 2)
          |SELECT n_events, count(*) AS n_sessions,
          |  CAST(sum(dur) AS BIGINT) AS sum_dur_sec,
          |  CAST(round(10000.0 * sum(dur) / CAST(count(*) AS DOUBLE))
          |    AS BIGINT) AS avg_dur4
          |FROM ses GROUP BY 1""".stripMargin,

      // component-size census: the dedup_groups reachability chain
      // rolled up twice
      "dedup_cluster_sizes" ->
        s"""WITH RECURSIVE $jaccardPairCtes,
           |edges AS (SELECT id_a AS src, id_b AS dst FROM jp
           |  UNION SELECT id_b AS src, id_a AS dst FROM jp),
           |reach(id, lbl) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.lbl),
           |g AS (SELECT id, min(lbl) AS group_id FROM reach GROUP BY 1),
           |sz AS (SELECT group_id, count(*) AS gsize FROM g GROUP BY 1)
           |SELECT gsize, count(*) AS n_groups FROM sz GROUP BY 1""".stripMargin,

      // seq entropy: the four translate-erase counts and the identical
      // su4 term sequence per base
      "dna_seq_entropy" ->
        s"""WITH d AS (SELECT doc_id, $docDnaSql AS seq FROM documents),
           |c AS (SELECT doc_id, CAST(length(seq) AS BIGINT) AS len,
           |  CAST(length(seq) - length(translate(seq, 'A', '')) AS BIGINT) AS n_a,
           |  CAST(length(seq) - length(translate(seq, 'C', '')) AS BIGINT) AS n_c,
           |  CAST(length(seq) - length(translate(seq, 'G', '')) AS BIGINT) AS n_g,
           |  CAST(length(seq) - length(translate(seq, 'T', '')) AS BIGINT) AS n_t
           |  FROM d)
           |SELECT doc_id, len, n_a, n_c, n_g, n_t,
           |  CAST((CASE WHEN n_a > 0 THEN 1 ELSE 0 END)
           |    + (CASE WHEN n_c > 0 THEN 1 ELSE 0 END)
           |    + (CASE WHEN n_g > 0 THEN 1 ELSE 0 END)
           |    + (CASE WHEN n_t > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_distinct,
           |  CAST((CASE WHEN n_a > 0 THEN CAST(round((CAST(n_a AS DOUBLE) / CAST(len AS DOUBLE)) * round(log2(CAST(n_a AS DOUBLE) / CAST(len AS DOUBLE)), 4) * (-1e4)) AS BIGINT) ELSE 0 END)
           |    + (CASE WHEN n_c > 0 THEN CAST(round((CAST(n_c AS DOUBLE) / CAST(len AS DOUBLE)) * round(log2(CAST(n_c AS DOUBLE) / CAST(len AS DOUBLE)), 4) * (-1e4)) AS BIGINT) ELSE 0 END)
           |    + (CASE WHEN n_g > 0 THEN CAST(round((CAST(n_g AS DOUBLE) / CAST(len AS DOUBLE)) * round(log2(CAST(n_g AS DOUBLE) / CAST(len AS DOUBLE)), 4) * (-1e4)) AS BIGINT) ELSE 0 END)
           |    + (CASE WHEN n_t > 0 THEN CAST(round((CAST(n_t AS DOUBLE) / CAST(len AS DOUBLE)) * round(log2(CAST(n_t AS DOUBLE) / CAST(len AS DOUBLE)), 4) * (-1e4)) AS BIGINT) ELSE 0 END)
           |    AS BIGINT) AS entropy4
           |FROM c""".stripMargin,

      // readability: the identical count approximations and the two
      // pinned formula sequences
      "text_readability" ->
        s"""WITH d AS (SELECT doc_id, text, $normTextSql AS t FROM documents),
           |c AS (SELECT doc_id,
           |  CAST(CASE WHEN length(t) = 0 THEN 0
           |    ELSE array_length(string_split(t, ' ')) END AS BIGINT)
           |    AS n_words,
           |  CAST(greatest(1, length(text)
           |    - length(translate(text, '.!?', ''))) AS BIGINT)
           |    AS n_sentences,
           |  CAST(len(regexp_extract_all(t, '[aeiouy]+')) AS BIGINT)
           |    AS n_syllables
           |  FROM d)
           |SELECT doc_id, n_words, n_sentences, n_syllables,
           |  CASE WHEN n_words > 0 THEN CAST(round(100.0 * (0.39
           |    * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
           |    + 11.8 * (CAST(n_syllables AS DOUBLE)
           |      / CAST(n_words AS DOUBLE)) - 15.59)) AS BIGINT)
           |  END AS fk2,
           |  CASE WHEN n_words > 0 THEN CAST(round(100.0 * (206.835
           |    - 1.015 * (CAST(n_words AS DOUBLE)
           |      / CAST(n_sentences AS DOUBLE))
           |    - 84.6 * (CAST(n_syllables AS DOUBLE)
           |      / CAST(n_words AS DOUBLE)))) AS BIGINT)
           |  END AS flesch2
           |FROM c""".stripMargin,

      // code detection: translate-erase symbol density + the langScore
      // keyword-count formula over the SAME keyword list (built from
      // TextAnalysis.codeKeywords so the two engines cannot drift)
      "text_code_detect" -> {
        val kwSum = TextAnalysis.codeKeywords.map(w =>
          s"CAST(floor((length(t) - length(regexp_replace(t, " +
            s"'\\b$w\\b', '', 'g'))) / ${w.length}) AS BIGINT)")
          .mkString(" + ")
        s"""WITH d AS (SELECT doc_id, text, $normTextSql AS t FROM documents),
           |c AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
           |  CAST(length(text) - length(translate(text, '{};()=<>[]', ''))
           |    AS BIGINT) AS n_sym,
           |  CAST($kwSum AS BIGINT) AS n_kw FROM d),
           |r AS (SELECT *, CAST(round(10000.0 * n_sym
           |  / CAST(greatest(1, n_chars) AS DOUBLE)) AS BIGINT)
           |  AS sym_ratio4 FROM c)
           |SELECT doc_id, n_chars, n_sym, n_kw, sym_ratio4,
           |  CAST(CASE WHEN sym_ratio4 >= 300 OR n_kw >= 3 THEN 1
           |    ELSE 0 END AS BIGINT) AS is_code
           |FROM r""".stripMargin
      },

      // hapax census: the simpson count frame with the c = 1 tally and
      // two exact-ratio normalizations
      "text_hapax" ->
        s"""WITH w AS (SELECT source, uw.w FROM
           |  (SELECT source, $normTextSql AS t FROM documents) d,
           |  LATERAL unnest(string_split(t, ' ')) uw(w)
           |  WHERE length(uw.w) > 0),
           |c AS (SELECT source, w, count(*) AS c FROM w GROUP BY 1, 2)
           |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
           |  count(*) AS n_types,
           |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_hapax,
           |  CAST(round(10000.0 * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
           |    / CAST(count(*) AS DOUBLE)) AS BIGINT) AS hapax_type_rate4,
           |  CAST(round(10000.0 * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
           |    / CAST(sum(c) AS DOUBLE)) AS BIGINT) AS hapax_tok_rate4
           |FROM c GROUP BY 1""".stripMargin,

      // context96: the Md5Genome base formula inlined three times
      // (pos−1, pos, pos+1), rotation alt, pyrimidine revcomp CASE
      "variant_context96" ->
        """WITH li AS (SELECT CAST(l_orderkey % 5 AS BIGINT) AS chr,
          |  CAST((l_orderkey*31 + l_linenumber*7) % 100000 AS BIGINT) AS pos,
          |  CAST(l_suppkey % 3 + 1 AS INT) AS rot FROM lineitem),
          |b AS (SELECT chr, pos, rot,
          |  translate(substr(md5(CAST(chr AS VARCHAR) || ':' ||
          |    CAST(pos AS VARCHAR)), 1, 1),
          |    '0123456789abcdef', 'ACGTACGTACGTACGT') AS ref,
          |  translate(substr(md5(CAST(chr AS VARCHAR) || ':' ||
          |    CAST(pos - 1 AS VARCHAR)), 1, 1),
          |    '0123456789abcdef', 'ACGTACGTACGTACGT') AS lb,
          |  translate(substr(md5(CAST(chr AS VARCHAR) || ':' ||
          |    CAST(pos + 1 AS VARCHAR)), 1, 1),
          |    '0123456789abcdef', 'ACGTACGTACGTACGT') AS rb
          |  FROM li WHERE pos >= 1),
          |v AS (SELECT DISTINCT chr, pos, ref,
          |  CASE rot WHEN 1 THEN translate(ref, 'ACGT', 'CGTA')
          |    WHEN 2 THEN translate(ref, 'ACGT', 'GTAC')
          |    ELSE translate(ref, 'ACGT', 'TACG') END AS alt, lb, rb
          |  FROM b),
          |n AS (SELECT
          |  CASE WHEN ref IN ('C','T') THEN ref || '>' || alt
          |    ELSE translate(ref, 'ACGT', 'TGCA') || '>' ||
          |      translate(alt, 'ACGT', 'TGCA') END AS subst,
          |  CASE WHEN ref IN ('C','T') THEN lb || ref || rb
          |    ELSE translate(rb, 'ACGT', 'TGCA') ||
          |      translate(ref, 'ACGT', 'TGCA') ||
          |      translate(lb, 'ACGT', 'TGCA') END AS context
          |  FROM v)
          |SELECT subst, context, count(*) AS n FROM n
          |GROUP BY 1, 2""".stripMargin,

      // DAU/MAU: the coverage-explode shape — each active (user, day)
      // covers its 30 forward days, distinct collapses re-activations
      "events_dau_mau" ->
        """WITH ud AS (SELECT DISTINCT user_id,
          |  epoch_us(ts) // 86400000000 AS day FROM events),
          |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
          |cov AS (SELECT DISTINCT user_id, day + u.i AS cday FROM ud,
          |  LATERAL unnest(generate_series(0, 29)) u(i)),
          |mau AS (SELECT cday, count(*) AS mau FROM cov GROUP BY 1)
          |SELECT d.day, d.dau, m.mau,
          |  CAST(round(10000.0 * d.dau / CAST(m.mau AS DOUBLE))
          |    AS BIGINT) AS stickiness4
          |FROM dau d JOIN mau m ON m.cday = d.day""".stripMargin,

      // missingness: called cells per sample vs the distinct-site count
      "popgen_missingness" ->
        s"""WITH $dosageCellCtes,
           |ns AS (SELECT count(*) AS n_sites FROM
           |  (SELECT DISTINCT chr, pos FROM c)),
           |pc AS (SELECT sample, count(*) AS n_called FROM c GROUP BY 1)
           |SELECT sample, n_called, n_sites,
           |  CAST(round(10000.0 * n_called / CAST(n_sites AS DOUBLE))
           |    AS BIGINT) AS call_rate4
           |FROM pc, ns""".stripMargin,

      // closest: widened inequality join + the same total-order
      // row_number the Spark window applies
      "interval_closest" ->
        s"""WITH g AS ($partGenesSql),
           |cl AS (SELECT CAST(o_orderkey % 5 AS BIGINT) AS chr,
           |  CAST(o_orderkey AS BIGINT) AS call_id,
           |  CAST((o_orderkey*211) % 100000 AS BIGINT) AS c_start,
           |  CAST((o_orderkey*211) % 100000 + 30 + (o_orderkey*53) % 3000
           |    AS BIGINT) AS c_stop FROM orders),
           |cand AS (SELECT cl.chr, cl.call_id, g.gene_id, g.gstart,
           |  greatest(0, g.gstart - cl.c_stop, cl.c_start - g.gstop)
           |    AS distance
           |  FROM cl JOIN g ON g.chr = cl.chr
           |    AND cl.c_start <= g.gstop + 500
           |    AND g.gstart - 500 <= cl.c_stop),
           |r AS (SELECT chr, call_id, gene_id, distance, row_number()
           |  OVER (PARTITION BY chr, call_id
           |    ORDER BY distance, gstart, gene_id) AS rn FROM cand)
           |SELECT chr, call_id, CAST(gene_id AS BIGINT) AS gene_id,
           |  CAST(distance AS BIGINT) AS distance
           |FROM r WHERE rn = 1""".stripMargin,

      // N50: histogram + sum-from-above self-join + the integer
      // crossing rule 2·cum ≥ T, L50's partial bucket by exact
      // integer ceil-div
      "interval_n50" ->
        s"""WITH g AS ($partGenesSql),
           |h AS (SELECT gstop - gstart + 1 AS len, count(*) AS cnt
           |  FROM g GROUP BY 1),
           |tot AS (SELECT CAST(sum(len * cnt) AS BIGINT) AS t,
           |  CAST(sum(cnt) AS BIGINT) AS n FROM h),
           |cum AS (SELECT a.len, a.cnt,
           |  CAST(coalesce(sum(b.len * b.cnt), 0) AS BIGINT) AS over,
           |  CAST(coalesce(sum(b.cnt), 0) AS BIGINT) AS cnt_over
           |  FROM h a LEFT JOIN h b ON b.len > a.len GROUP BY 1, 2),
           |x AS (SELECT t, n, max({'len': len, 'over': over,
           |    'cnt_over': cnt_over}) AS m
           |  FROM cum, tot WHERE 2 * (over + len * cnt) >= t
           |  GROUP BY 1, 2)
           |SELECT n AS n_contigs, t AS total_len,
           |  CAST(m.len AS BIGINT) AS n50,
           |  CAST(m.cnt_over + (t - 2 * m.over + 2 * m.len - 1)
           |    // (2 * m.len) AS BIGINT) AS l50
           |FROM x""".stripMargin,

      // audio stats: the waveform formula re-derives every sample;
      // ratios in the identical pinned sequences (round HALF away from
      // zero both engines — the column-side rounding rule)
      "multimodal_audio_stats" ->
        """WITH i AS (SELECT doc_id AS media_id, u.i AS i FROM documents,
          |  LATERAL unnest(generate_series(0, 3999)) u(i)),
          |v AS (SELECT media_id,
          |  ((media_id * 31 + i * 7) % 2003) - 1001 AS s FROM i),
          |a AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_samples,
          |  CAST(sum(s) AS BIGINT) AS sum_s,
          |  CAST(sum(s * s) AS BIGINT) AS sum_sq,
          |  CAST(max(abs(s)) AS BIGINT) AS peak FROM v GROUP BY 1)
          |SELECT media_id, n_samples, sum_s, sum_sq, peak,
          |  CAST(round(10000.0 * sum_s / CAST(n_samples AS DOUBLE))
          |    AS BIGINT) AS mean4,
          |  CASE WHEN sum_sq > 0 THEN CAST(round(10000.0 * peak
          |    / sqrt(CAST(sum_sq AS DOUBLE) / CAST(n_samples AS DOUBLE)))
          |    AS BIGINT) END AS crest4
          |FROM a""".stripMargin,

      // FASTQ: the oracle re-derives every read's stats from the
      // synthesis formulas directly — the Spark side must reproduce
      // them THROUGH the 4-line record assembly
      "fastq_read_stats" ->
        s"""WITH d AS (SELECT doc_id, $docDnaSql AS seq,
           |  translate(md5(text), '0123456789abcdef', 'ABCDEFGHIJKLMNOP')
           |    AS qual FROM documents),
           |s AS (SELECT doc_id,
           |  sum(ascii(substr(qual, CAST(u.i AS INT), 1)) - 33) AS sum_q
           |  FROM d, LATERAL unnest(generate_series(1, length(qual))) u(i)
           |  GROUP BY 1)
           |SELECT 'r' || CAST(d.doc_id AS VARCHAR) AS read_id,
           |  CAST(length(d.seq) AS BIGINT) AS read_len,
           |  CAST(length(d.seq) - length(translate(d.seq, 'GC', ''))
           |    AS BIGINT) AS gc_n,
           |  CAST(s.sum_q AS BIGINT) AS sum_q,
           |  CAST(round(10000.0 * s.sum_q / CAST(length(d.seq) AS DOUBLE))
           |    AS BIGINT) AS mean_q4
           |FROM d JOIN s USING (doc_id)""".stripMargin,

      // attribution: simultaneous touches pre-collapse to max channel,
      // last touch via a per-conversion max, horizon applied after —
      // the identical at-or-before tie rule the as-of window uses
      "events_attribution" ->
        """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
          |  FROM events),
          |cv AS (SELECT user_id, us, count(*) AS m FROM e
          |  WHERE event_type = 'purchase' GROUP BY 1, 2),
          |tc AS (SELECT user_id, us AS tus, max(event_type) AS channel
          |  FROM e WHERE event_type <> 'purchase' GROUP BY 1, 2),
          |j AS (SELECT c.user_id, c.us, c.m, max(t.tus) AS ltus
          |  FROM cv c LEFT JOIN tc t ON t.user_id = c.user_id
          |    AND t.tus <= c.us
          |  GROUP BY 1, 2, 3),
          |att AS (SELECT CASE WHEN j.ltus IS NOT NULL
          |    AND j.us - j.ltus <= 604800000000 THEN t2.channel
          |    ELSE 'unattributed' END AS channel, j.m
          |  FROM j LEFT JOIN tc t2 ON t2.user_id = j.user_id
          |    AND t2.tus = j.ltus),
          |b AS (SELECT channel, CAST(sum(m) AS BIGINT) AS n_conversions
          |  FROM att GROUP BY 1),
          |t AS (SELECT CAST(sum(n_conversions) AS BIGINT) AS tot FROM b)
          |SELECT channel, n_conversions,
          |  CAST(round(10000.0 * n_conversions / CAST(tot AS DOUBLE))
          |    AS BIGINT) AS share4
          |FROM b, t""".stripMargin,

      // keep-best: the dedup_groups chain + the longest-doc argmin
      // (negated length, then id — the same struct order)
      "dedup_keep_best" ->
        s"""WITH RECURSIVE $jaccardPairCtes,
           |edges AS (SELECT id_a AS src, id_b AS dst FROM jp
           |  UNION SELECT id_b AS src, id_a AS dst FROM jp),
           |reach(id, lbl) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.lbl),
           |g AS (SELECT id, CAST(min(lbl) AS BIGINT) AS group_id
           |  FROM reach GROUP BY 1),
           |gg AS (SELECT g.id, g.group_id, d.n_chars FROM g
           |  JOIN documents d ON d.doc_id = g.id),
           |best AS (SELECT group_id,
           |  min({'neg': -n_chars, 'id': id}) AS b FROM gg GROUP BY 1)
           |SELECT gg.id AS doc_id, gg.group_id,
           |  CAST(CASE WHEN gg.id = best.b.id THEN 1 ELSE 0 END AS BIGINT)
           |    AS keep
           |FROM gg JOIN best ON best.group_id = gg.group_id""".stripMargin,

      // norm: the identical trim loop as a recursive CTE — suffix
      // branch first, prefix advances pos, terminal rows are those
      // where neither applies
      "vcf_norm_split" ->
        """WITH RECURSIVE li AS (SELECT CAST(l_orderkey % 5 AS BIGINT) AS chr,
          |  CAST((l_orderkey*31 + l_linenumber*7) % 100000 AS BIGINT) AS pos,
          |  CAST(l_suppkey % 3 AS INT) AS c FROM lineitem),
          |b3 AS (SELECT chr, pos, c,
          |  translate(substr(md5(CAST(chr AS VARCHAR) || ':' ||
          |    CAST(pos AS VARCHAR)), 1, 1),
          |    '0123456789abcdef', 'ACGTACGTACGTACGT') AS r1,
          |  translate(substr(md5(CAST(chr AS VARCHAR) || ':' ||
          |    CAST(pos + 1 AS VARCHAR)), 1, 1),
          |    '0123456789abcdef', 'ACGTACGTACGTACGT') AS r2,
          |  translate(substr(md5(CAST(chr AS VARCHAR) || ':' ||
          |    CAST(pos + 2 AS VARCHAR)), 1, 1),
          |    '0123456789abcdef', 'ACGTACGTACGTACGT') AS r3
          |  FROM li WHERE pos >= 1),
          |v0 AS (SELECT chr, pos, r1 || r2 || r3 AS ref,
          |  CASE c WHEN 0 THEN [r1]
          |         WHEN 1 THEN [r1 || r2, r1]
          |         ELSE [r1 || r2 || translate(r3, 'ACGT', 'CGTA')]
          |  END AS alts FROM b3),
          |sp AS (SELECT chr, pos, ref,
          |  CAST(len(alts) AS INT) AS n_alts,
          |  alts[CAST(u.i AS INT)] AS alt,
          |  CAST(u.i - 1 AS INT) AS allele_idx
          |  FROM v0, LATERAL unnest(generate_series(1, len(alts))) u(i)),
          |tr(chr, pos, ref, alt, allele_idx, n_alts) AS (
          |  SELECT chr, pos, ref, alt, allele_idx, n_alts FROM sp
          |  UNION ALL
          |  SELECT chr,
          |    CASE WHEN sfx THEN pos ELSE pos + 1 END,
          |    CASE WHEN sfx THEN substr(ref, 1, length(ref) - 1)
          |         ELSE substr(ref, 2) END,
          |    CASE WHEN sfx THEN substr(alt, 1, length(alt) - 1)
          |         ELSE substr(alt, 2) END,
          |    allele_idx, n_alts
          |  FROM (SELECT *,
          |    length(ref) > 1 AND length(alt) > 1 AND
          |      substr(ref, length(ref), 1) = substr(alt, length(alt), 1)
          |      AS sfx,
          |    length(ref) > 1 AND length(alt) > 1 AND
          |      substr(ref, 1, 1) = substr(alt, 1, 1) AS pfx FROM tr)
          |  WHERE sfx OR pfx)
          |SELECT chr, pos, ref, alt,
          |  CAST(allele_idx AS BIGINT) AS allele_idx,
          |  CAST(n_alts AS BIGINT) AS n_alts
          |FROM (SELECT *,
          |  length(ref) > 1 AND length(alt) > 1 AND
          |    (substr(ref, length(ref), 1) = substr(alt, length(alt), 1)
          |     OR substr(ref, 1, 1) = substr(alt, 1, 1)) AS more FROM tr)
          |WHERE NOT more""".stripMargin,
    )
  }
}
