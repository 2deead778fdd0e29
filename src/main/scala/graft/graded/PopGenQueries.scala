package graft
package graded

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Dna
import graft.operators._

import Derivations._

/** Population-genetics graded queries over the synthetic dosage matrix,
  * and DNA-sequence kernels over document-derived DNA. */
private[graft] object PopGenQueries {

  /** The 64 codon→AA pairs as a SQL VALUES list — interpolated from
    * [[graft.functions.Dna.codonTable]], the one source of truth. */
  private val codonValuesSql = graft.functions.DnaOps.codonTable
    .map { case (c, a) => s"('$c', '$a')" }.mkString(", ")

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

  val queries: Seq[GradedQuery] = Seq(

    GradedQuery("q16_translate_dna", (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), docDna.as("dna"))
        .withColumn("protein", Dna.translateDna(col("dna")))
        .withColumn("protein_rc", Dna.translateDna(Dna.reverseComplement(col("dna"))))
    },
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
         |FROM agg a JOIN d USING (doc_id)""".stripMargin),

    GradedQuery("q17_revcomp", (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), docDna.as("dna"))
        .withColumn("revcomp", Dna.reverseComplement(col("dna")))
    },
      s"""SELECT doc_id, $docDnaSql AS dna,
         |reverse(translate($docDnaSql, 'ACGT', 'TGCA')) AS revcomp
         |FROM documents""".stripMargin),

    GradedQuery("popgen_king", (s, dir) => {
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
    },
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
         |FROM p GROUP BY 1, 2""".stripMargin),

    GradedQuery("dna_orf_finder", (s, dir) => {
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
    },
    // same conditional running-min-over-FOLLOWING window; 1-based
    // substr indexing vs Spark's 0-based is safe because the output
    // is the offset-free length histogram
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
         |GROUP BY 1""".stripMargin),

    GradedQuery("dna_kmer_spectrum", (s, dir) => {
      // 4-mer occurrence spectrum over the derived DNA sequences (the
      // k-mer counting classic; spectrum = histogram of multiplicities)
      Tables.documents(s, dir)
        .select(explode(Dna.kmers(docDna, 4)).as("kmer"))
        .groupBy("kmer").agg(count(lit(1)).as("n_occ"))
        .groupBy("n_occ").agg(count(lit(1)).as("n_kmers"))
    },
      s"""WITH d AS (SELECT $docDnaSql AS dna FROM documents),
         |km AS (SELECT substr(dna, CAST(u.i AS INT), 4) AS kmer FROM d,
         |  LATERAL unnest(generate_series(1, length(dna) - 3)) u(i)),
         |c AS (SELECT kmer, count(*) AS n_occ FROM km GROUP BY 1)
         |SELECT n_occ, count(*) AS n_kmers FROM c GROUP BY 1""".stripMargin),

    GradedQuery("dna_codon_usage", (s, dir) => {
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
    },
    // codon→AA VALUES interpolated from Dna.codonTable (one truth);
    // RSCU = n_occ·n_syn/total_aa with exact ints
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
         |FROM j JOIN tt USING (aa)""".stripMargin),

    GradedQuery("dna_palindrome_sites", (s, dir) => {
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
    },
      s"""WITH d AS (SELECT doc_id, $docDnaSql AS dna FROM documents),
         |km AS (SELECT doc_id,
         |  substr(dna, CAST(u.i AS INT), 6) AS kmer FROM d,
         |  LATERAL unnest(generate_series(1, length(dna) - 5)) u(i)),
         |pal AS (SELECT doc_id, kmer FROM km
         |  WHERE reverse(translate(kmer, 'ACGT', 'TGCA')) = kmer)
         |SELECT kmer, count(*) AS n_occ,
         |  count(DISTINCT doc_id) AS n_docs
         |FROM pal GROUP BY 1""".stripMargin),

    GradedQuery("dna_gc_windows", (s, dir) => {
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
    },
    // same width-8 step-4 window walk; G/C counts via translate,
    // both divisions mirrored as 10000.0 * BIGINT / BIGINT
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
         |FROM a""".stripMargin),

    GradedQuery("dna_debruijn_stats", (s, dir) => {
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
    },
    // distinct 8-mer edges, 7-mer prefix/suffix degree aggs
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
         |  (SELECT count(*) FROM ind WHERE ideg >= 2) AS n_branch_in""".stripMargin),

    GradedQuery("dna_kmer_canonical", (s, dir) => {
      // strand-independent k-mer spectrum: canonical = min(kmer,
      // revcomp) — the standard k-mer-counter normalization (Jellyfish)
      Tables.documents(s, dir)
        .select(explode(Dna.kmers(docDna, 4)).as("kmer"))
        .select(least(col("kmer"),
          Dna.reverseComplement(col("kmer"))).as("canon"))
        .groupBy("canon").agg(count(lit(1)).as("n_occ"))
        .groupBy("n_occ").agg(count(lit(1)).as("n_kmers"))
    },
      s"""WITH d AS (SELECT $docDnaSql AS dna FROM documents),
         |km AS (SELECT substr(dna, CAST(u.i AS INT), 4) AS kmer FROM d,
         |  LATERAL unnest(generate_series(1, length(dna) - 3)) u(i)),
         |cn AS (SELECT least(kmer,
         |  reverse(translate(kmer, 'ACGT', 'TGCA'))) AS canon FROM km),
         |c AS (SELECT canon, count(*) AS n_occ FROM cn GROUP BY 1)
         |SELECT n_occ, count(*) AS n_kmers FROM c GROUP BY 1""".stripMargin),

    GradedQuery("hwe_test", (s, dir) => {
      // per-site Hardy–Weinberg chi-square over synthetic genotypes,
      // rolled up per chr; the ×10⁴ integer statistic makes sums and
      // the 3.841 (1 df, α=.05) threshold integer-exact
      val g = (col("l_orderkey") * 13 + col("l_linenumber") * 17) % 10
      val d = Tables.lineitem(s, dir).select(
        liChr.cast("long").as("chr"),
        liPos.cast("long").as("pos"),
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
    },
    // HWE twin: the chi-square operation order mirrors PopGen.hweChi4
    // term by term (load-bearing for the ×10⁴ round's parity)
      s"""WITH d AS (SELECT CAST($liChrSql AS BIGINT) AS chr,
        |  CAST($liPosSql AS BIGINT) AS pos,
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
        |FROM c GROUP BY 1""".stripMargin),

    GradedQuery("popgen_fst", (s, dir) => {
      // Hudson Fst between two populations (Bhatia 2013 ratio-of-sums),
      // per chr: ONE partial-agg shuffle pivots both pops' genotype
      // counts into a single site row (conditional sums — no
      // site-vs-site join), per-site num/den ×10⁸-rounded to exact
      // longs, summed per chr, ONE final division
      val g = (col("l_orderkey") * 13 + col("l_linenumber") * 17) % 10
      val d = Tables.lineitem(s, dir).select(
        liChr.cast("long").as("chr"),
        liPos.cast("long").as("pos"),
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
    },
    // op order mirrors PopGen.fstNum8/fstDen8 term by term; the ×10⁸
    // per-site rounding is what makes the per-chr sums order-free
      s"""WITH d AS (SELECT CAST($liChrSql AS BIGINT) AS chr,
        |  CAST($liPosSql AS BIGINT) AS pos,
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
        |FROM g""".stripMargin),

    GradedQuery("ld_prune_step", (s, dir) => {
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
    },
    // the oracle pairs sites by a plain inequality self-join — the
    // Spark side's bin replication is the scale strategy, not the
    // semantics, so the twin skips it
    // site domain = variance-filtered pair participants; conflicts =
    // distinct later-site of every r² > 0.2 pair
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
         |FROM t JOIN k ON k.chr = t.chr""".stripMargin),

    GradedQuery("ld_pairwise", (s, dir) => {
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
    },
      s"""WITH $ldPairCtes
         |SELECT chr, count(*) AS n_pairs,
         |  CAST(sum(r2e4) AS BIGINT) AS sum_r2e4,
         |  CAST(sum(CASE WHEN r2e4 >= 8000 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_high
         |FROM r GROUP BY 1""".stripMargin),

    GradedQuery("ld_decay", (s, dir) => {
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
    },
    // same shared pair CTEs as ld_pairwise, rolled up on DISTANCE;
    // mean is a ratio of exact-long sums, rounded once
      s"""WITH $ldPairCtes
         |SELECT pos2 - pos1 AS dist, count(*) AS n_pairs,
         |  CAST(sum(r2e4) AS BIGINT) AS sum_r2e4,
         |  CAST(round(1.0 * sum(r2e4) / count(*)) AS BIGINT)
         |    AS mean_r2e4
         |FROM r GROUP BY 1""".stripMargin),

    GradedQuery("popgen_sfs", (s, dir) => {
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
    },
    // folded MAC histogram over the shared dosage cells
      s"""WITH $dosageCellCtes,
         |s AS (SELECT chr, pos, CAST(sum(gv) AS BIGINT) AS ac,
         |  count(*) * 2 AS an FROM c GROUP BY 1, 2)
         |SELECT least(ac, an - ac) AS mac, count(*) AS n_sites
         |FROM s GROUP BY 1""".stripMargin),

    GradedQuery("popgen_pi_windows", (s, dir) => {
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
    },
    // plain site-keyed self-join over the shared dosage cells; the
    // IBS classes are integer CASE logic on the dosage difference
    // varying-n per-site π, windowed; ×10⁸ per-site rounding before
    // the order-free window sums
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
         |FROM p GROUP BY 1, 2""".stripMargin),

    GradedQuery("popgen_tajima_d", (s, dir) => {
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
    },
    // the tajA1/E1/E2 constants interpolate from the SAME Scala vals
    // the Spark literals use; π ×10⁸ rounded per site before summing
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
         |FROM a""".stripMargin),

    GradedQuery("popgen_ibs", (s, dir) => {
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
    },
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
         |FROM p GROUP BY 1, 2""".stripMargin),

    GradedQuery("popgen_inbreeding", (s, dir) => {
      // per-sample method-of-moments inbreeding coefficient F (the
      // plink --het screen) over the shared dosage-cell frame — the
      // per-SAMPLE homozygosity audit next to hwe_test's per-SITE one
      // (PopGen.inbreedingF: sites-bounded agg + co-keyed join +
      // sample agg; per-site ×10⁸ rounding keeps the sums order-free)
      PopGen.inbreedingF(dosageCells(s, dir))
    },
    // same per-site ×10⁸ expected-hom rounding as PopGen.expHomE8,
    // so both engines sum identical longs; the F division mirrors
    // the Spark formulation term by term
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
         |FROM a""".stripMargin),

    GradedQuery("mendel_errors", (s, dir) => {
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
    },
    // trio pivot by conditional max over the shared dosage cells;
    // the feasible-interval Mendel test is pure integer CASE logic
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
         |FROM e GROUP BY 1""".stripMargin),

    GradedQuery("roh_runs", (s, dir) => {
      // runs of homozygosity: consecutive hom sites per chr in pos
      // order, run-grouped by the lag/cumsum trick (the sessionize
      // pattern on genomic coordinates), kept at length >= 5; rolled
      // up per chr. One shuffle on chr, windows over pos order.
      val g = (col("l_orderkey") * 13 + col("l_linenumber") * 17) % 10
      val d = Tables.lineitem(s, dir).select(
          liChr.cast("long").as("chr"),
          liPos.cast("long").as("pos"),
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
    },
      s"""WITH d0 AS (SELECT CAST($liChrSql AS BIGINT) AS chr,
        |  CAST($liPosSql AS BIGINT) AS pos,
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
        |FROM runs GROUP BY 1""".stripMargin),

    GradedQuery("popgen_grm", (s, dir) => {
      // VanRaden GRM entries per sample pair (the mixed-model GWAS
      // kinship input next to popgen_king's robust classes): centered
      // dosages rounded ×10⁴ per cell, denominator 2p(1−p) rounded
      // ×10⁸ per site — both pairwise sums order-free exact longs,
      // one final division (PopGen.grmPairs)
      PopGen.grmPairs(dosageCells(s, dir))
    },
    // VanRaden GRM: the same per-cell ×10⁴ / per-site ×10⁸ rounding
    // sequence term by term — the 10⁸ scales cancel in the final
    // ratio, so both engines divide the identical exact longs
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
         |GROUP BY 1, 2""".stripMargin),

    GradedQuery("dna_cpg_oe", (s, dir) => {
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
    },
    // CpG counts by replace/translate-erase, the island gate as the
    // identical all-integer comparisons
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
         |FROM c""".stripMargin),

    GradedQuery("dna_minimizers", (s, dir) => {
      // (w=8, k=5)-minimizer selection density per derived DNA
      // sequence (the minimap2/Kraken2 sampling scheme; winnowing's
      // genomic twin): density6 vs the ~2/(w+1) expectation flags
      // repetitive composition under-sampling (Sketches.minimizers)
      Sketches.minimizers(
          Tables.documents(s, dir).select(col("doc_id"), docDna.as("dna")),
          "doc_id", "dna", k = 5, w = 8)
        .select(col("id").as("doc_id"), col("n_windows"),
          col("n_minimizers"), col("density6"))
    },
    // minimizers: hash·2¹⁶+pos packing, ONE bounded window min per
    // position, window starts only, distinct argmin positions
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
         |FROM sel GROUP BY doc_id, nk""".stripMargin),

    GradedQuery("popgen_pca_step", (s, dir) => {
      // one power-iteration step on the quantized GRM — the first move
      // of a kinship PCA (the top eigenvector IS the leading ancestry
      // axis a mixed model corrects for); matrix entries are the
      // ×10⁴-rounded longs popgen_grm grades, start vector md5-parity
      // ±1, so the matvec is an exact-long sum (PopGen.grmPowerStep)
      PopGen.grmPowerStep(dosageCells(s, dir))
    },
    // GRM power step: the popgen_grm rounding chain over ALL ordered
    // pairs (incl. the diagonal), md5-parity ±1 start vector, exact
    // matvec, one normalization division
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
         |FROM v1, mx""".stripMargin),

    GradedQuery("dna_seq_entropy", (s, dir) => {
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
    },
    // seq entropy: the four translate-erase counts and the identical
    // su4 term sequence per base
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
         |FROM c""".stripMargin),

    GradedQuery("variant_context96", (s, dir) => {
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
      val li = Tables.lineitem(s, dir).select(
        liChr.cast("long").as("chr"),
        liPos.cast("long").as("pos"),
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
    },
    // context96: the Md5Genome base formula inlined three times
    // (pos−1, pos, pos+1), rotation alt, pyrimidine revcomp CASE
      s"""WITH li AS (SELECT CAST($liChrSql AS BIGINT) AS chr,
        |  CAST($liPosSql AS BIGINT) AS pos,
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
        |GROUP BY 1, 2""".stripMargin),

    GradedQuery("popgen_missingness", (s, dir) => {
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
    },
    // missingness: called cells per sample vs the distinct-site count
      s"""WITH $dosageCellCtes,
         |ns AS (SELECT count(*) AS n_sites FROM
         |  (SELECT DISTINCT chr, pos FROM c)),
         |pc AS (SELECT sample, count(*) AS n_called FROM c GROUP BY 1)
         |SELECT sample, n_called, n_sites,
         |  CAST(round(10000.0 * n_called / CAST(n_sites AS DOUBLE))
         |    AS BIGINT) AS call_rate4
         |FROM pc, ns""".stripMargin),
  )
}
