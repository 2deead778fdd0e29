package graft
package graded

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._

import Derivations._

/** Read graded queries over synthetic SAM and FASTQ records. */
private[graft] object ReadQueries {

  val queries: Seq[GradedQuery] = Seq(

    GradedQuery("sam_alignment_stats", (s, dir) => {
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
    },
    // every span re-derived ARITHMETICALLY from the synthesis
    // numbers — the comparison proves the SAM field split and the
    // CIGAR walk's op classification (ref: M/D consume reference,
    // I/S do not); header/unmapped rows excluded by the same mods
      s"""WITH $samReadsCtes
        |SELECT chr, count(*) AS n_reads,
        |  CAST(sum(ref_span) AS BIGINT) AS sum_ref_span,
        |  CAST(sum(aligned) AS BIGINT) AS sum_aligned,
        |  CAST(sum(clipped) AS BIGINT) AS sum_clipped,
        |  CAST(max(pos + ref_span - 1) AS BIGINT) AS max_end
        |FROM sam_reads GROUP BY 1""".stripMargin),

    GradedQuery("sam_mapq_profile", (s, dir) => {
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
    },
    // the same sweep-line derivation interval_coverage's oracle uses,
    // run over the arithmetically re-derived read spans ([pos,
    // pos+ref_span-1] inclusive → −1 breakpoint at pos+ref_span)
    // decade = mapq - mapq % 10, over the arithmetically re-derived
    // mapq (20 + p % 40); low fraction mirrored per chr
      s"""WITH $samReadsCtes,
        |d AS (SELECT chr, (mapq - mapq % 10) // 10 AS mapq_decade,
        |  count(*) AS n_reads FROM sam_reads GROUP BY 1, 2),
        |tt AS (SELECT chr, CAST(sum(n_reads) AS BIGINT) AS total,
        |  CAST(sum(CASE WHEN mapq_decade < 3 THEN n_reads ELSE 0 END)
        |    AS BIGINT) AS n_low FROM d GROUP BY 1)
        |SELECT d.chr, mapq_decade, n_reads,
        |  CAST(round(10000.0 * n_low / total) AS BIGINT) AS low_frac4
        |FROM d JOIN tt USING (chr)""".stripMargin),

    GradedQuery("sam_coverage_uniformity", (s, dir) => {
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
    },
    // the sam_pileup sweep extended to the (depth, Σbp) histogram,
    // then the events_user_gini rank-sum identity per chr
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
        |FROM a""".stripMargin),

    GradedQuery("sam_pileup", (s, dir) => {
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
    },
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
        |FROM s2 GROUP BY 1""".stripMargin),

    GradedQuery("sam_gene_coverage", (s, dir) => {
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
    },
    // pileup segments (same sweep as sam_pileup's oracle) clipped
    // against the gene intervals with a plain inequality join — the
    // binned strategy is Spark-side physics, the overlap predicate
    // is the semantics both engines share
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
        |  USING (gene_id)""".stripMargin),

    GradedQuery("sam_insert_size", (s, dir) => {
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
      val lines = Tables.lineitem(s, dir)
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
    },
    // TLEN/proper re-derived arithmetically from the pair-synthesis
    // residues — the compare proves the mate-field parse AND the
    // R1-only (tlen > 0) template convention cross-engine
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
        |FROM t GROUP BY 1""".stripMargin),

    GradedQuery("sam_flagstat", (s, dir) => {
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
        Tables.lineitem(s, dir).select(line.as("line")).as[String])
      def hasBit(b: Long) =
        (col("flag").cast("long").bitwiseAND(b) =!= 0L)
      aln.agg(count(lit(1)).as("n_total"),
        sum(when(hasBit(1), 1L).otherwise(0L)).as("n_paired"),
        sum(when(hasBit(2), 1L).otherwise(0L)).as("n_proper"),
        sum(when(hasBit(16), 1L).otherwise(0L)).as("n_reverse"),
        sum(when(hasBit(256), 1L).otherwise(0L)).as("n_secondary"),
        sum(when(hasBit(1024), 1L).otherwise(0L)).as("n_dup"))
    },
    // flag bits re-derived from the same residues — the oracle never
    // touches the bitfield, so the compare proves the Spark-side
    // bitwise decode against plain arithmetic
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
        |FROM lineitem""".stripMargin),

    GradedQuery("sam_markdup", (s, dir) => {
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
    },
    // same window derivation over the arithmetically re-derived
    // reads; qname is unique so the (mapq desc, qname) order is total
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
        |FROM r2 GROUP BY 1""".stripMargin),

    GradedQuery("fastq_read_stats", (s, dir) => {
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
    },
    // FASTQ: the oracle re-derives every read's stats from the
    // synthesis formulas directly — the Spark side must reproduce
    // them THROUGH the 4-line record assembly
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
         |FROM d JOIN s USING (doc_id)""".stripMargin),
  )
}
