package graft
package graded

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{VariantF, Zygosity}
import graft.operators._

import Derivations._

/** Variant graded queries: VCF parse, format and round-trip, merge and
  * upsert, zygosity and genotype calls, conservation, SnpEff, PolyPhen
  * and ClinVar loads, and the transcript annotator. */
private[graft] object VariantQueries {

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
  private def annotatedVariantTranscripts(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val variants = liVariants(s, dir)
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
      features, TranscriptAnnotator.Md5Genome()).toDF()
    (ann, transcripts)
  }

  // Shared q24/q32 CTE chain: synthetic variants + gene models +
  // Md5Genome CDS rebuild through per-row ref/var AA (aa3). Both the
  // row-level annotation oracle (q24) and the verifyAA audit oracle
  // (q32) splice this, so the two derivations cannot drift.
  private val annotateAaCtes =
    s"""vars AS (SELECT DISTINCT CAST($liChrSql AS VARCHAR) AS chr,
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

  val queries: Seq[GradedQuery] = Seq(

    GradedQuery("q7_merge_upsert", (s, dir) => {
      val v = liVariants(s, dir)
      val existing = v.filter(col("l_linenumber") <= 3)
        .groupBy("chr", "pos", "ref_nuc", "var_nuc")
        .agg(min(col("l_orderkey") * 8 + col("l_linenumber")).as("variant_id"))
      val incoming = v.filter(col("l_linenumber") >= 3)
      VariantMerge.classify(incoming, existing,
          Seq("chr", "pos", "ref_nuc", "var_nuc"), "variant_id")
        .groupBy("merge_action").agg(count(lit(1)).as("n"))
    },
      s"""WITH v AS ($liVariantsSql),
         |existing AS (SELECT chr, pos, ref_nuc, var_nuc,
         |  MIN(l_orderkey*8 + l_linenumber) AS variant_id
         |  FROM v WHERE l_linenumber <= 3 GROUP BY chr, pos, ref_nuc, var_nuc),
         |incoming AS (SELECT * FROM v WHERE l_linenumber >= 3)
         |SELECT merge_action, count(*) AS n FROM (
         |  SELECT CASE WHEN e.variant_id IS NOT NULL THEN 'already_in_rgd'
         |    ELSE 'insert' END AS merge_action
         |  FROM incoming i LEFT JOIN existing e USING (chr, pos, ref_nuc, var_nuc))
         |GROUP BY merge_action""".stripMargin),

    GradedQuery("q10_zygosity", (s, dir) => {
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
    },
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
         |GROUP BY zygosity_status, zygosity_ref_allele, zygosity_possible_error, num_alleles""".stripMargin),

    GradedQuery("q11_variant_type", (s, dir) => {
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
    },
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
        |FROM t GROUP BY variant_type""".stripMargin),

    GradedQuery("q12_quality_score", (s, dir) => {
      Tables.lineitem(s, dir)
        .select(col("l_quantity").cast("long").as("rd"),
          (col("l_partkey") % 120).cast("long").as("td"))
        .select(VariantF.qualityScore(col("rd"), col("td")).as("quality_score"))
        .groupBy("quality_score").agg(count(lit(1)).as("n"))
    },
      """SELECT quality_score, count(*) AS n FROM (
        |  SELECT CASE WHEN td > 0
        |    THEN CAST(floor((100*rd + floor(td/2)) / td) AS BIGINT)
        |    ELSE 0 END AS quality_score
        |  FROM (SELECT CAST(l_quantity AS BIGINT) AS rd,
        |    CAST(l_partkey % 120 AS BIGINT) AS td FROM lineitem))
        |GROUP BY quality_score""".stripMargin),

    GradedQuery("q13_dbsnp_split", (s, dir) => {
      Tables.documents(s, dir)
        .select(when(col("doc_id") % 3 === 0, "")
          .otherwise(concat(lit("rs"), col("doc_id").cast("string"))).as("rs_id"))
        .select(VariantF.dbSnpClass(col("rs_id")).as("dbsnp_class"))
        .groupBy("dbsnp_class").agg(count(lit(1)).as("n"))
    },
      """SELECT dbsnp_class, count(*) AS n FROM (
        |  SELECT CASE WHEN rs_id IS NOT NULL AND length(rs_id) > 0 THEN 'dbsnp'
        |    ELSE 'novel' END AS dbsnp_class
        |  FROM (SELECT CASE WHEN doc_id % 3 = 0 THEN ''
        |    ELSE 'rs' || CAST(doc_id AS VARCHAR) END AS rs_id FROM documents))
        |GROUP BY dbsnp_class""".stripMargin),

    GradedQuery("q14_conservation_agg", (s, dir) => {
      Tables.events(s, dir)
        .groupBy((col("user_id") % 100).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(avg("value"), 4).as("avg_score"),
          round(min("value"), 4).as("min_score"),
          round(max("value"), 4).as("max_score"))
    },
      """SELECT CAST(user_id % 100 AS BIGINT) AS bucket, count(*) AS n,
        |round(avg(value),4) AS avg_score, round(min(value),4) AS min_score,
        |round(max(value),4) AS max_score
        |FROM events GROUP BY user_id % 100""".stripMargin),

    GradedQuery("conservation_sliding", (s, dir) => {
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
    },
    // the oracle pairs sites by plain inequality self-join — the bin
    // replication is the Spark side's scale strategy, not semantics
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
        |GROUP BY 1""".stripMargin),

    GradedQuery("vcf_merge_multisample", (s, dir) => {
      // multi-sample VCF row assembly (the output side of the
      // reference's per-sample detail merge): per-site genotype columns
      // in sample order; collect_list order is nondeterministic — the
      // array_sort is what makes retries agree
      val d = Tables.lineitem(s, dir).select(
          concat(lit("S"), (col("l_suppkey") % 4).cast("string"))
            .as("sample"),
          liChr.cast("long").as("chr"),
          liPos.cast("long").as("pos"),
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
    },
      s"""WITH d AS (SELECT 'S' || CAST(l_suppkey % 4 AS VARCHAR)
        |    AS sample,
        |  CAST($liChrSql AS BIGINT) AS chr,
        |  CAST($liPosSql AS BIGINT)
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
        |WHERE n_samples = 4""".stripMargin),

    GradedQuery("q27_frameshift", (s, dir) => {
      val refSeq = when(col("l_partkey") % 4 === 0, "").when(col("l_partkey") % 4 === 1, "A")
        .when(col("l_partkey") % 4 === 2, "AC").otherwise("ACGT")
      val varSeq = when(col("l_suppkey") % 4 === 0, "").when(col("l_suppkey") % 4 === 1, "G")
        .when(col("l_suppkey") % 4 === 2, "GT").otherwise("GTCA")
      Tables.lineitem(s, dir)
        .select(refSeq.as("ref_seq"), varSeq.as("var_seq"))
        .select(VariantF.variantType(col("ref_seq"), col("var_seq")).as("variant_type"),
          VariantF.isFrameShift(col("ref_seq"), col("var_seq")).as("frame_shift"))
        .groupBy("variant_type", "frame_shift").agg(count(lit(1)).as("n"))
    },
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
        |FROM v GROUP BY 1, 2""".stripMargin),

    GradedQuery("q18_vcf_format", (s, dir) => {
      val v = liVariants(s, dir)
      v.select(VcfFormat.toVcfLine(
          concat(lit("chr"), col("chr").cast("string")), col("pos"),
          when(col("l_orderkey") % 3 === 0, concat(lit("rs"), col("l_orderkey").cast("string"))),
          col("ref_nuc"), col("var_nuc")).as("line"))
    },
      s"""SELECT concat_ws(chr(9), 'chr' || CAST(chr AS VARCHAR),
         |  CAST(pos AS VARCHAR),
         |  CASE WHEN l_orderkey % 3 = 0 THEN 'rs' || CAST(l_orderkey AS VARCHAR)
         |    ELSE '.' END,
         |  ref_nuc, var_nuc, '.', 'PASS', '.') AS line
         |FROM ($liVariantsSql)""".stripMargin),

    GradedQuery("q19_point_lookup", (s, dir) => {
      liVariants(s, dir)
        .filter(col("chr") === 2 && col("pos").between(10000, 30000))
        .select("chr", "pos", "ref_nuc", "var_nuc", "l_orderkey", "l_linenumber")
    },
      s"""SELECT chr, pos, ref_nuc, var_nuc, l_orderkey, l_linenumber
         |FROM ($liVariantsSql)
         |WHERE chr = 2 AND pos BETWEEN 10000 AND 30000""".stripMargin),

    GradedQuery("q21_iupac_expand", (s, dir) => {
      val codes = Seq("A", "C", "G", "T", "R", "Y", "M", "K", "S", "W", "N")
      val code = element_at(
        array(codes.map(lit): _*), (col("l_partkey") % 11 + 1).cast("int"))
      Tables.lineitem(s, dir)
        .select(code.as("code"))
        .select(col("code"), VcfFormat.expandIupac(col("code")).as("allele"))
        .groupBy("code", "allele").agg(count(lit(1)).as("n"))
    },
      """WITH v AS (SELECT CASE CAST(l_partkey % 11 AS INT)
        |  WHEN 0 THEN 'A' WHEN 1 THEN 'C' WHEN 2 THEN 'G' WHEN 3 THEN 'T'
        |  WHEN 4 THEN 'R' WHEN 5 THEN 'Y' WHEN 6 THEN 'M' WHEN 7 THEN 'K'
        |  WHEN 8 THEN 'S' WHEN 9 THEN 'W' ELSE 'N' END AS code FROM lineitem),
        |x AS (SELECT code, unnest(string_split(CASE code
        |  WHEN 'A' THEN 'A' WHEN 'C' THEN 'C' WHEN 'G' THEN 'G' WHEN 'T' THEN 'T'
        |  WHEN 'R' THEN 'A,G' WHEN 'Y' THEN 'C,T' WHEN 'M' THEN 'A,C'
        |  WHEN 'K' THEN 'G,T' WHEN 'S' THEN 'G,C' WHEN 'W' THEN 'A,T'
        |  ELSE 'A,T,C,G' END, ',')) AS allele FROM v)
        |SELECT code, allele, count(*) AS n FROM x GROUP BY code, allele""".stripMargin),

    GradedQuery("q22_snpeff_parse", (s, dir) => {
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
          Tables.lineitem(s, dir).select(info.as("info")), "info")
        .groupBy("effect", "impact")
        .agg(count(lit(1)).as("n"),
          countDistinct("gene_symbol").as("n_genes"))
    },
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
         |FROM parsed GROUP BY effect, impact""".stripMargin),

    GradedQuery("q23_polyphen_prep", (s, dir) => {
      val protein = upper(md5(col("text")))
      val pos = (col("doc_id") % 32 + 1).cast("int")
      Tables.documents(s, dir).select(
        col("doc_id"),
        pos.cast("long").as("aa_pos"),
        Polyphen.refAa(protein, pos).as("ref_aa"),
        Polyphen.aaWindow(protein, pos, flank = 5).as("aa_window"))
    },
      """SELECT doc_id, CAST(doc_id % 32 + 1 AS BIGINT) AS aa_pos,
        |substr(upper(md5(text)), CAST(doc_id % 32 + 1 AS INT), 1) AS ref_aa,
        |substr(upper(md5(text)),
        |  greatest(1, CAST(doc_id % 32 + 1 AS INT) - 5), 11) AS aa_window
        |FROM documents""".stripMargin),

    GradedQuery("polyphen_fasta", (s, dir) => {
      // PolyphenFasta recovery: proteins (md5-derived acc + a 96-char
      // synthetic sequence) attempted by all docs, known only for
      // doc_id % 4 != 0 → FASTA records for the rest
      val d = Tables.documents(s, dir).select(col("doc_id"),
        upper(md5(col("text"))).as("protein_id"),
        repeat(upper(md5(col("text"))), 3).as("protein_seq"))
      Polyphen.fastaForMissing(
        d.select("protein_id", "protein_seq"),
        d.filter(col("doc_id") % 4 =!= 0).select("protein_id"))
    },
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
        |FROM lines WHERE line <> ''""".stripMargin),

    GradedQuery("q24_annotate_variants", (s, dir) => {
      // full row-level output (not an aggregate): every (variant,
      // transcript) annotation is hash-checked against the DuckDB twin,
      // which rebuilds the identical Md5Genome in SQL
      annotatedVariantTranscripts(s, dir)._1
        .select(col("chr"), col("pos"), col("ref_nuc"), col("var_nuc"),
          col("tr_id").cast("long").as("tr_id"), col("location"),
          col("near_splice_site"), col("syn_status"), col("ref_aa"),
          col("var_aa"), col("aa_pos").cast("long").as("aa_pos"),
          col("triplet_error"), col("frame_shift"))
    },
    // Full SQL twin of the VariantPostProcessing pipeline: same synthetic
    // gene models, same Md5Genome (md5-nibble bases), UTR trimming,
    // relative-position walk, strand-aware mutate+translate, and the
    // INTRON / NON-CODING location rules — checked row-by-row.
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
         |SELECT * FROM out1 UNION ALL SELECT * FROM out2""".stripMargin),

    GradedQuery("vcf_genotype_concordance", (s, dir) => {
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
    },
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
         |FROM j GROUP BY 1""".stripMargin),

    GradedQuery("variant_tstv", (s, dir) => {
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
    },
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
        |FROM s GROUP BY 1""".stripMargin),

    GradedQuery("variant_dnds", (s, dir) => {
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
    },
    // the q24 annotation chain rolled up to per-gene syn/nonsyn
    // counts (tr_id // 10 = gene_id by construction)
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
         |FROM g WHERE n_syn > 0""".stripMargin),

    GradedQuery("q32_verify_aa", (s, dir) => {
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
    },
    // verifyAA audit twin: re-derives the codon from the stored CDS
    // (rdna = full_ref_nuc, relp = full_ref_nuc_pos) exactly as the
    // Spark entry does from the Annotated stored columns, then tallies
    // agreement with the stored ref_aa/var_aa/syn_status
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
         |FROM fl2""".stripMargin),

    GradedQuery("q26_conservation_parse", (s, dir) => {
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
    },
      """WITH n AS (SELECT count(*) AS cnt FROM lineitem),
        |ids AS (SELECT unnest(generate_series(0, (SELECT cnt - 1 FROM n))) AS id),
        |d AS (SELECT id, id // 101 AS b FROM ids WHERE id % 101 <> 0),
        |x AS (SELECT b % 6 AS c, (b*977) % 100000 + 1 AS st, b % 3 + 1 AS sp,
        |  id - b*101 - 1 AS k, id FROM d)
        |SELECT CAST(c AS VARCHAR) AS chr, CAST(st + k*sp AS BIGINT) AS pos,
        |  CAST(CAST((id*37) % 97 AS VARCHAR) || '.' ||
        |    CAST((id*13) % 10 AS VARCHAR) AS DOUBLE) AS score
        |FROM x WHERE c <> 5""".stripMargin),

    GradedQuery("q28_polyphen_load", (s, dir) => {
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
    },
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
        |FROM a""".stripMargin),

    GradedQuery("q29_clinvar_vcf", (s, dir) => {
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
    },
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
         |  AND (vr = '-' OR regexp_matches(vr, '^[ACGTN]+$$'))""".stripMargin),

    GradedQuery("q31_sample_query", (s, dir) => {
      // VariantSampleQuery surface: multi-predicate detail query by
      // sample set + chr + position range + quality floor
      val li = Tables.lineitem(s, dir).select(
        concat(lit("S"), (col("l_suppkey") % 4).cast("string")).as("sample"),
        liChr.cast("long").as("chr"),
        liPos.cast("long").as("pos"),
        baseOf(col("l_partkey")).as("ref_nuc"),
        baseOf(col("l_suppkey")).as("var_nuc"),
        col("l_quantity").cast("long").as("rd"),
        (col("l_partkey") % 120).cast("long").as("td"))
      li.select(col("sample"), col("chr"), col("pos"), col("ref_nuc"),
          col("var_nuc"),
          VariantF.qualityScore(col("rd"), col("td")).as("quality_score"))
        .filter(col("sample").isin("S1", "S2") && col("chr") === 3 &&
          col("pos").between(20000, 60000) && col("quality_score") >= 50)
    },
      s"""WITH li AS (SELECT 'S' || CAST(l_suppkey % 4 AS VARCHAR) AS sample,
         |  CAST($liChrSql AS BIGINT) AS chr,
         |  CAST($liPosSql AS BIGINT) AS pos,
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
         |    ELSE 0 END) >= 50""".stripMargin),

    GradedQuery("sample_load", (s, dir) => {
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
    },
    // sample dim twin: same suffix filter, same name-ordered sequential
    // ids, same metadata overlay for ids divisible by 3
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
        |FROM r""".stripMargin),

    GradedQuery("feature_count", (s, dir) => {
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
    },
    // feature census twin: same synthesis, same handleUtr case ladder
    // (3-UTR tested first, hit short-circuits), same three rollups
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
        |FROM ga LEFT JOIN ta ON ta.chr = ga.chr""".stripMargin),

    GradedQuery("vcf_parse", (s, dir) => {
      VcfParser.parse(synthVcfLines(s, dir), Seq("STRAIN_A", "STRAIN_B"))
        .groupBy("strain", "chr")
        .agg(count(lit(1)).as("n_variants"),
          sum("read_depth").cast("long").as("sum_read_depth"),
          sum("allele_depth").cast("long").as("sum_allele_depth"))
    },
    // vcf_parse input lines are deterministic concats of lineitem columns
    // (see the queries entry), so the oracle re-derives the parser's
    // output per VcfToCommonFormat2Converter semantics: one row per
    // strain per non-ref allele; "./." genotypes dropped; AD[1] is the
    // alt allele's depth; read_depth = sum(AD); DP = total_depth.
      s"""WITH li AS (SELECT CAST($liChrSql + 1 AS VARCHAR) AS chr, l_orderkey,
        |  CAST(l_quantity AS BIGINT) % 40 AS q40, CAST(l_linenumber AS BIGINT) AS ln,
        |  CAST(l_suppkey % 9 AS BIGINT) AS s9 FROM lineitem),
        |u AS (
        |  SELECT 'STRAIN_A' AS strain, chr, q40 + ln AS read_depth, ln AS allele_depth FROM li
        |  UNION ALL
        |  SELECT 'STRAIN_B', chr, s9, s9 FROM li WHERE l_orderkey % 7 <> 0)
        |SELECT strain, chr, count(*) AS n_variants,
        |  CAST(sum(read_depth) AS BIGINT) AS sum_read_depth,
        |  CAST(sum(allele_depth) AS BIGINT) AS sum_allele_depth
        |FROM u GROUP BY strain, chr""".stripMargin),

    GradedQuery("vcf_roundtrip", (s, dir) => {
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
      val cells = Tables.lineitem(s, dir).select(
          liChr.cast("long").as("chr"),
          liPos.cast("long").as("pos"),
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
    },
    // arithmetic re-derivation of the write→parse cycle: surviving
    // cells are exactly the non-0/0 genotypes (missing cells are
    // written ./.:0,0:0 and parser-dropped); allele_depth = the AD
    // alt slot, read_depth = AD sum, total_depth = the DP field
      s"""WITH c AS (SELECT CAST($liChrSql AS BIGINT) AS chr,
        |  CAST($liPosSql AS BIGINT) AS pos,
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
        |FROM k GROUP BY 1, 2""".stripMargin),

    GradedQuery("variant_pipeline", (s, dir) => {
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
    },
    // composed pipeline twin: same synthesized lines; strain A rows
    // always survive the zygosity filter (varReads = linenumber ≥ 1),
    // strain B rows survive when present (okey % 7 ≠ 0) and s9 > 0;
    // all synthesized variants are SNVs so end_pos = pos + 1
      s"""WITH li AS (SELECT CAST($liChrSql + 1 AS VARCHAR) AS chr,
         |  CAST($liPosSql AS BIGINT) AS pos,
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
         |GROUP BY merge_action""".stripMargin),

    GradedQuery("vcf8_parse", (s, dir) => {
      import s.implicits._
      val multi = col("l_orderkey") % 4 === 0
      val alt = when(multi,
        concat(baseOf(col("l_partkey") + 1), lit(","), baseOf(col("l_partkey") + 2)))
        .otherwise(baseOf(col("l_partkey") + 1))
      val ac = when(multi,
        concat((col("l_linenumber") + 2).cast("string"), lit(","),
          (col("l_suppkey") % 5 + 1).cast("string")))
        .otherwise((col("l_linenumber") + 2).cast("string"))
      val lines = Tables.lineitem(s, dir).select(concat_ws("\t",
        (liChr + 1).cast("string"),
        liPos.cast("string"),
        lit("."), baseOf(col("l_partkey")), alt, lit("."), lit("."),
        concat(lit("DP="), (col("l_quantity").cast("long") + 10).cast("string"),
          lit(";AC="), ac)).as("line")).as[String]
      VcfParser.parse8Col(lines)
        .groupBy("chr")
        .agg(count(lit(1)).as("n_rows"),
          sum("allele_depth").cast("long").as("sum_allele_depth"),
          sum("count_a").cast("long").as("sum_count_a"))
    },
    // vcf8_parse: INFO DP/AC depths; ref-allele depth imputed as
    // DP − ΣAC when positive; one row per ALT allele. ACGT counts read
    // off the allele→depth table (ref at base index k=l_partkey%4,
    // alt1 at (k+1)%4, alt2 — multi-allelic lines only — at (k+2)%4).
      s"""WITH li AS (SELECT CAST($liChrSql + 1 AS VARCHAR) AS chr,
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
        |FROM r GROUP BY chr""".stripMargin),

    GradedQuery("vcf_genotype_counts", (s, dir) => {
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
      val lines = Tables.lineitem(s, dir).select(concat_ws("\t",
        (liChr + 1).cast("string"),
        liPos.cast("string"),
        lit("."), baseOf(col("l_partkey")), alt, lit("100"), lit("PASS"),
        lit("."), when(noAd, "GT:PL").otherwise("GT:AD:DP"),
        cellA, cellB).as("line")).as[String]
      VcfParser.genotypeCounts(lines, Seq("STRAIN_A", "STRAIN_B"))
    },
    // genotype tallies: lines failing the gate (multi-allelic %11,
    // AD/DP-less %13) never tally; kept lines tally BOTH strains' cells
      """WITH li AS (SELECT l_orderkey AS o FROM lineitem
        |  WHERE l_orderkey % 11 <> 0 AND l_orderkey % 13 <> 0),
        |u AS (
        |  SELECT 'STRAIN_A' AS strain,
        |    CASE WHEN o % 3 = 0 THEN '0/0' ELSE '0/1' END AS genotype FROM li
        |  UNION ALL
        |  SELECT 'STRAIN_B',
        |    CASE WHEN o % 7 = 0 THEN './.' ELSE '1/1' END FROM li)
        |SELECT strain, genotype, count(*) AS n
        |FROM u GROUP BY strain, genotype""".stripMargin),

    GradedQuery("variant_density", (s, dir) => {
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
    },
      s"""WITH v AS ($liVariantsSql),
         |d AS (SELECT DISTINCT chr, pos, ref_nuc, var_nuc FROM v
         |  WHERE ref_nuc <> var_nuc)
         |SELECT chr, pos // 1000 AS win1k, count(*) AS n_variants
         |FROM d GROUP BY 1, 2""".stripMargin),

    GradedQuery("tstv_ratio", (s, dir) => {
      // transition/transversion ratio per chr — the one-number callset
      // sanity check; ratio UNROUNDED (one division of exact ints)
      val v = liVariants(s, dir).filter(col("ref_nuc") =!= col("var_nuc"))
      v.groupBy("chr").agg(
          sum(when(PopGen.isTransition(col("ref_nuc"), col("var_nuc")), 1L)
            .otherwise(0L)).as("n_ts"),
          sum(when(PopGen.isTransition(col("ref_nuc"), col("var_nuc")), 0L)
            .otherwise(1L)).as("n_tv"))
        .withColumn("tstv", col("n_ts") / col("n_tv"))
    },
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
         |FROM t GROUP BY 1""".stripMargin),

    GradedQuery("vcf_norm_split", (s, dir) => {
      // bcftools-norm core: split multi-allelic records (one row per
      // ALT) and trim each pair to parsimonious form — suffix first,
      // then prefix advancing pos, while both alleles keep length > 1
      // (VcfNorm.splitAndTrim; the pass that makes ACG>AC,A and CG>C
      // merge as the same deletion instead of double-loading)
      def base(chr: Column, pos: Column): Column =
        translate(substring(md5(concat(chr.cast("string"), lit(":"),
          pos.cast("string"))), 1, 1),
          "0123456789abcdef", "ACGTACGTACGTACGT")
      val li = Tables.lineitem(s, dir).select(
          liChr.cast("long").as("chr"),
          liPos.cast("long").as("pos"),
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
    },
    // norm: the identical trim loop as a recursive CTE — suffix
    // branch first, prefix advances pos, terminal rows are those
    // where neither applies
      s"""WITH RECURSIVE li AS (SELECT CAST($liChrSql AS BIGINT) AS chr,
        |  CAST($liPosSql AS BIGINT) AS pos,
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
        |WHERE NOT more""".stripMargin),
  )
}
