package graft
package graded

import org.apache.spark.sql.functions._

import graft.functions.VariantF
import graft.operators._

import Derivations._

/** Genomic-interval graded queries over the synthetic gene models: range
  * and nearest-feature joins, merge, gaps, coverage, liftover, SV overlap. */
private[graft] object IntervalQueries {

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

  val queries: Seq[GradedQuery] = Seq(

    GradedQuery("q9_range_join_genic", (s, dir) => {
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
    },
      s"""WITH p AS (SELECT chr, pos FROM ($liVariantsSql)),
         |g AS ($partGenesSql)
         |SELECT p.chr, count(*) AS n_hits, count(DISTINCT pos) AS n_pos
         |FROM p JOIN g ON p.chr = g.chr AND p.pos BETWEEN g.gstart AND g.gstop
         |GROUP BY p.chr""".stripMargin),

    GradedQuery("q15_transcript_features", (s, dir) => {
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
    },
      s"""WITH p AS (SELECT chr, pos FROM ($liVariantsSql)),
         |g AS ($partGenesSql)
         |SELECT p.chr, count(*) AS n_near_splice
         |FROM p JOIN g ON p.chr = g.chr
         |  AND (abs(p.pos - g.gstart) <= 10 OR abs(p.pos - g.gstop) <= 10)
         |GROUP BY p.chr""".stripMargin),

    GradedQuery("q25_nearest_gene", (s, dir) => {
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
    },
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
         |FROM best WHERE rn = 1 GROUP BY chr""".stripMargin),

    GradedQuery("q30_fixups", (s, dir) => {
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
          liChr.cast("long").as("chr"),
          liPos.cast("long").as("pos"),
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
    },
      s"""WITH li AS (SELECT CAST($liChrSql AS BIGINT) AS chr,
         |  CAST($liPosSql AS BIGINT) AS pos,
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
         |FROM a GROUP BY 1, 2, 3""".stripMargin),

    GradedQuery("interval_coverage", (s, dir) => {
      // sweep-line coverage-depth histogram over the gene intervals
      // (read-depth / feature-density primitive)
      Intervals.coverageHistogram(partGenes(s, dir), Seq("chr"),
        col("gstart"), col("gstop"))
    },
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
         |GROUP BY 1""".stripMargin),

    GradedQuery("liftover_positions", (s, dir) => {
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
    },
    // per-POSITION chain pick weighted by multiplicity: every variant
    // row lifts (the synthetic lineitem key is NOT unique — a
    // per-row-key dedup silently dropped 14k genuine rows, caught
    // live when the position-level rewrite disagreed). The oracle
    // derives the ungapped blocks ARITHMETICALLY from part — the same
    // numbers the Spark side serializes into chain text and re-parses
    // — so the comparison also proves the chain parser's offset math,
    // negative strand included.
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
         |FROM j WHERE rk = 1 GROUP BY 1""".stripMargin),

    GradedQuery("interval_overlap_join", (s, dir) => {
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
    },
    // plain theta self-join twin of the binned overlap join (DuckDB
    // plans it as an IEJoin; the binning is only Spark's equi-join
    // strategy and must not change results)
      s"""WITH g AS ($partGenesSql)
         |SELECT a.chr, count(*) AS n_pairs,
         |  CAST(sum(least(a.gstop, b.gstop) - greatest(a.gstart, b.gstart)
         |    + 1) AS BIGINT) AS total_overlap
         |FROM g a JOIN g b ON a.chr = b.chr AND a.gene_id < b.gene_id
         |  AND a.gstart <= b.gstop AND b.gstart <= a.gstop
         |GROUP BY 1""".stripMargin),

    GradedQuery("interval_merge", (s, dir) => {
      // bedtools-merge: fuse overlapping-or-adjacent gene intervals into
      // maximal disjoint blocks per chromosome (gaps-and-islands —
      // per-chr windows + one partial-agg shuffle on the block key)
      Intervals.mergeIntervals(partGenes(s, dir), Seq("chr"),
        col("gstart"), col("gstop"))
    },
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
         |FROM b GROUP BY chr, blk""".stripMargin),

    GradedQuery("interval_gaps", (s, dir) => {
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
    },
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
         |FROM n WHERE next_start IS NOT NULL""".stripMargin),

    GradedQuery("interval_jaccard", (s, dir) => {
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
    },
    // gaps-and-islands twin: same (start, stop)-ordered per-chr
    // windows — running max stop decides block opens, prefix-sum of
    // opens is the block id
    // both sides merged by the shared gaps-and-islands chain, then a
    // plain overlap inequality join of the DISJOINT blocks
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
         |LEFT JOIN ii ON ii.chr = la.chr""".stripMargin),

    GradedQuery("sv_reciprocal_overlap", (s, dir) => {
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
    },
    // plain inequality pair join (the bin replication is strategy,
    // not semantics) + the integer reciprocal rule
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
         |FROM p WHERE 2*ov >= la AND 2*ov >= lb GROUP BY 1""".stripMargin),

    GradedQuery("variant_burden", (s, dir) => {
      // rare-variant burden collapse (the SKAT/burden-test input): count
      // QUALIFYING variants per (gene, sample) through the binned range
      // join, then per-gene carrier/burden stats; genes with >= 2
      // carriers survive (the multi-carrier signal threshold)
      val li = Tables.lineitem(s, dir).select(
        concat(lit("S"), (col("l_suppkey") % 4).cast("string")).as("sample"),
        liChr.cast("long").as("chr"),
        liPos.cast("long").as("pos"),
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
    },
      s"""WITH li AS (SELECT 'S' || CAST(l_suppkey % 4 AS VARCHAR)
         |    AS sample,
         |  CAST($liChrSql AS BIGINT) AS chr,
         |  CAST($liPosSql AS BIGINT)
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
         |FROM pg GROUP BY 1 HAVING count(*) >= 2""".stripMargin),

    GradedQuery("interval_n50", (s, dir) => {
      // N50/L50 assembly-style length census over the part-gene
      // interval set (the one-number length-distribution summary every
      // assembler reports): everything runs on the bounded length
      // HISTOGRAM — bounded self-join for the sum-from-above, argmax
      // crossing row, exact integer ceil-div for L50's partial bucket
      // (Intervals.n50Stats)
      val g = partGenes(s, dir)
      Intervals.n50Stats(
        g.select((col("gstop") - col("gstart") + 1L).as("len")), "len")
    },
    // N50: histogram + sum-from-above self-join + the integer
    // crossing rule 2·cum ≥ T, L50's partial bucket by exact
    // integer ceil-div
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
         |FROM x""".stripMargin),

    GradedQuery("interval_closest", (s, dir) => {
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
    },
    // closest: widened inequality join + the same total-order
    // row_number the Spark window applies
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
         |FROM r WHERE rn = 1""".stripMargin),
  )
}
