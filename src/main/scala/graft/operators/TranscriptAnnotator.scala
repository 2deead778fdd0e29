package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

import graft.functions.DnaOps
import org.apache.spark.unsafe.types.UTF8String

/** The reference's core module — VariantPostProcessing.java:168-668 — as a
  * composed Spark pipeline: map every variant onto every transcript of
  * every gene whose range contains it, name the transcript location
  * (EXON / INTRON / UTR / NON-CODING), flag near-splice-site variants,
  * and for coding exonic variants rebuild the UTR-trimmed CDS, apply the
  * variant (SNV, insertion, deletion or MNV — the branch ladder at
  * VariantPostProcessing.java:472-492), translate both strands and call
  * the AA change, synonymous status and frameshift.
  *
  * Spark shape vs the reference's: the GeneCache / TranscriptCache
  * HashMaps → [[model]], one collected query (the transcripts, built in
  * one tr_id-keyed pass, and the gene rows), broadcast as a per-chromosome
  * gene index whose rows carry their transcripts; the per-variant cursor
  * loop → [[apply]], one typed pass that looks each variant up in that
  * index and computes the flags and the AA call in plain Scala, with no
  * join and no shuffle; chromosome FASTA file reads → a pluggable
  * [[GenomeSource]] read in the model pass, once per coding transcript
  * (real deployments back it with [[graft.sources.PackedGenome]]; tests
  * use [[FixedGenome]]; the synthetic default [[Md5Genome]] is
  * reproducible in SQL, so the full pipeline has a DuckDB oracle).
  */
object TranscriptAnnotator {

  /** 1-based inclusive genomic sequence access. Every source answers an
    * out-of-range request the same way and never throws: positions
    * below 1 and past the chromosome's end do not exist, so the range is
    * clamped to the chromosome, and an empty or inverted range, or a
    * chromosome the source does not hold, gives "". Sources are
    * therefore interchangeable even on malformed gene models. */
  trait GenomeSource extends Serializable {
    def chunk(chr: String, start: Long, stopInclusive: Long): String
  }

  /** In-memory genome for tests / small references. */
  case class FixedGenome(chrs: Map[String, String]) extends GenomeSource {
    def chunk(chr: String, start: Long, stop: Long): String = {
      val s = chrs.getOrElse(chr, "")
      val b = math.max(0L, start - 1)
      val e = math.min(s.length.toLong, stop)
      if (e <= b) "" else s.substring(b.toInt, e.toInt)
    }
  }

  /** md5-derived genome: the base at (chr,pos) is the first hex nibble of
    * md5("chr:pos") mapped through "ACGTACGTACGTACGT" — i.e. exactly
    * DuckDB's `translate(substr(md5(chr||':'||pos),1,1),
    * '0123456789abcdef','ACGTACGTACGTACGT')`, so an external SQL engine
    * can rebuild the identical genome and oracle-check the whole
    * annotation pipeline. Chromosomes have no end. */
  case class Md5Genome() extends GenomeSource {
    private val bases = "ACGTACGTACGTACGT"
    def chunk(chr: String, start: Long, stop: Long): String = {
      val from = math.max(1L, start)
      if (stop < from) return ""
      val md = java.security.MessageDigest.getInstance("MD5")
      val sb = new java.lang.StringBuilder((stop - from + 1).toInt)
      // byte-identical input to (chr + ":" + p).getBytes("UTF-8"), built
      // without the per-base String + byte[] allocations (this loop runs
      // once per genome BASE and dominates the annotator's CPU)
      val prefix = (chr + ":").getBytes("UTF-8")
      val digits = new Array[Byte](20)
      val out = new Array[Byte](16)
      var p = from
      while (p <= stop) {
        md.update(prefix)
        var i = 20; var q = p
        while (q > 0) { i -= 1; digits(i) = ('0' + (q % 10)).toByte; q /= 10 }
        md.update(digits, i, 20 - i)
        md.digest(out, 0, 16)
        sb.append(bases.charAt((out(0) >> 4) & 0xf))
        p += 1
      }
      sb.toString
    }
  }

  /** One (variant, transcript) pair ready for the AA call. `exons` and
    * `cds_plus` (the transcript's reference CDS) ride only on pairs that
    * can reach it — exonic pairs of coding transcripts — and are empty /
    * None on every other pair. */
  case class VarTr(
      var_id: Long, chr: String, pos: Long, var_stop: Long,
      ref_nuc: String, var_nuc: String,
      tr_id: Long, strand: String, non_coding: Boolean,
      in_exon: Boolean, in_u3: Boolean, in_u5: Boolean, near_splice: Boolean,
      exons: Seq[ExonIv], cds_plus: Option[String])
  case class ExonIv(start: Long, stop: Long)

  /** One transcript of the model. A missing bound fails every comparison,
    * as SQL's null does: start Long.MaxValue, stop Long.MinValue. */
  private[operators] case class Tr(gene_id: String, chr: String,
      tr_id: Long, strand: String, non_coding: Boolean,
      ex_start: Array[Long], ex_stop: Array[Long],
      u3s: Long, u3e: Long, u5s: Long, u5e: Long,
      trimmed: Seq[ExonIv], cds_plus: Option[String])
  private[operators] case class Var(var_id: Long, chr: String,
      pos: Long, ref_nuc: String, var_nuc: String)
  private[operators] case class GeneRow(gene_id: String, chr: String,
      gstart: Long, gstop: Long)
  /** A row of [[model]]'s collected query: a transcript or a gene row. */
  private[operators] case class ModelRow(tr: Tr, gene: GeneRow)

  /** One chromosome's gene rows, each with its transcripts, sorted by
    * gstart. `reach(i)` is the largest gstop of rows 0..i, so the walk
    * back from the last row starting at or before a position ends at the
    * first row whose reach falls short of it: no earlier row holds it.
    * A lookup costs O(log n + rows walked), and the walk passes every row
    * after a long one: past a gene row spanning the chromosome each lookup
    * reads all rows before it. Genes of a few kb keep the walk short; an
    * index for long intervals needs the max gstop per subtree instead. */
  private[operators] final class ChrGenes(rows: Seq[(GeneRow, Array[Tr])])
      extends Serializable {
    private val sorted = rows.sortBy(_._1.gstart).toArray
    private val reach =
      sorted.scanLeft(Long.MinValue)((m, r) => math.max(m, r._1.gstop)).tail

    /** The transcripts of every gene row whose [gstart, gstop] holds `pos`. */
    def containing(pos: Long): Iterator[Tr] = {
      var (lo, hi) = (0, sorted.length)
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid)._1.gstart <= pos) lo = mid + 1 else hi = mid
      }
      Iterator.range(lo - 1, -1, -1).takeWhile(reach(_) >= pos)
        .filter(sorted(_)._1.gstop >= pos).flatMap(sorted(_)._2)
    }
  }

  /** Built by [[model]]: the broadcast gene index, keyed by chr. */
  final class Model private[operators] (
      private[operators] val byChr: Broadcast[Map[String, ChrGenes]])

  /** Output row — the VARIANT_TRANSCRIPT analog (natural variant key
    * carried through so results are joinable/verifiable without var_id).
    * `full_ref_nuc` / `full_ref_nuc_pos` are the stored-CDS columns of the
    * reference's VARIANT_TRANSCRIPT table (strand-adjusted untrimmed CDS
    * and the variant's 1-based position within it) — populated only on
    * rows that reached an AA call, which is exactly the
    * `syn_status IS NOT NULL` set the post-hoc verifyAA audit
    * (VariantPostProcessing.java:1067-1280) re-derives codons from. */
  case class Annotated(
      var_id: Long, chr: String, pos: Long, ref_nuc: String, var_nuc: String,
      tr_id: Long, location: String, near_splice_site: String,
      syn_status: Option[String], ref_aa: Option[String],
      var_aa: Option[String], aa_pos: Option[Int], triplet_error: String,
      frame_shift: Option[String],
      full_ref_nuc: Option[String] = None,
      full_ref_nuc_pos: Option[Int] = None)

  /** '-' and null normalize to the empty sequence (the reference uses
    * both conventions for ins/del alleles). */
  private def normSeq(s: String): String =
    if (s == null || s == "-") "" else s

  /** [[apply]] over a fresh [[model]], which is built eagerly: its Spark
    * jobs run before this returns.
    *
    * @param variants    var_id, chr, pos, ref_nuc, var_nuc ('' or '-' for
    *                    the empty side of an ins/del)
    * @param genes       gene_id, chr, gstart, gstop
    * @param transcripts tr_id, gene_id, strand ('+'/'-'), non_coding
    * @param features    tr_id, ftype ('EXONS'|'3UTRS'|'5UTRS'), fstart, fstop
    */
  def annotate(variants: DataFrame, genes: DataFrame, transcripts: DataFrame,
               features: DataFrame, genome: GenomeSource): Dataset[Annotated] =
    apply(variants, model(genes, transcripts, features, genome))

  /** One typed flatMap over the model, with no join: each variant looks
    * up the gene rows of its chromosome that contain it and yields one row
    * per (variant, gene row, transcript). A variant with a null chr or pos
    * matches nothing, and the model holds no gene row with a null key or
    * bound. */
  def apply(variants: DataFrame, model: Model): Dataset[Annotated] = {
    val spark = variants.sparkSession
    import spark.implicits._
    val byChr = model.byChr
    variants.filter(col("chr").isNotNull && col("pos").isNotNull)
      .select(col("var_id"), col("chr").cast("string").as("chr"), col("pos"),
        col("ref_nuc"), col("var_nuc"))
      .as[Var]
      .flatMap(v => byChr.value.get(v.chr).iterator
        .flatMap(_.containing(v.pos)).map(t => annotateOne(pair(v, t))))
  }

  /** The pair, flagged against [pos, var_stop] (endPos, VariantLoad3.java:
    * 299-315: snv/mnv pos+1, insertion pos, deletion pos+len(ref)): in an
    * exon, within 10 bp of an inner splice site, in a UTR. */
  private def pair(v: Var, t: Tr): VarTr = {
    val (refLen, varLen) = (normSeq(v.ref_nuc).length, normSeq(v.var_nuc).length)
    val (pos, n) = (v.pos, t.ex_start.length)
    val stop = if (refLen > 0 && varLen > 0) pos + 1 else pos + refLen
    var inExon = false; var nearSplice = false; var i = 0
    while (i < n) {
      val (s, e) = (t.ex_start(i), t.ex_stop(i))
      inExon ||= s <= pos && e >= stop
      nearSplice ||= (i != 0 && s - 10 <= pos && s + 10 >= stop) ||
        (i != n - 1 && e - 10 <= pos && e + 10 >= stop)
      i += 1
    }
    val coding = inExon && !t.non_coding
    VarTr(v.var_id, v.chr, pos, stop, v.ref_nuc, v.var_nuc, t.tr_id,
      t.strand, t.non_coding, inExon, t.u3s <= pos && t.u3e >= stop,
      t.u5s <= pos && t.u5e >= stop, nearSplice,
      if (coding) t.trimmed else Nil, if (coding) t.cds_plus else None)
  }

  /** The variant-independent side, built EAGERLY: per (gene_id, chr,
    * tr_id) of the genes passed in, the sorted exon and UTR bounds, the
    * UTR-trimmed exons and, if coding, the plus-strand CDS. Transcript
    * rows and feature rows meet in ONE tr_id-hashed exchange; the stage
    * after it reads each CDS once, on the executors. The result is
    * collected (as a broadcast join of it would be) together with the gene
    * rows, a second branch of the same query, and broadcast once as a
    * [[ChrGenes]] index per chromosome. A transcript under several genes
    * (GFF3 `Parent=a,b`) yields one entry per gene, a gene_id on two
    * chromosomes one per chromosome (each CDS read from its own);
    * identical duplicate transcript rows collapse, duplicate gene rows do
    * not. A gene row with a null key or bound, or with gstart > gstop,
    * holds no position and is dropped. */
  def model(genes: DataFrame, transcripts: DataFrame, features: DataFrame,
            genome: GenomeSource): Model = {
    val spark = genes.sparkSession
    import spark.implicits._
    val txRows = transcripts
      .join(broadcast(genes.select("gene_id", "chr")), "gene_id")
      .select(col("tr_id"), struct(col("gene_id"), col("chr"),
        col("strand"), col("non_coding")).as("tx"))
    val rows = txRows
      .unionByName(features.select(col("tr_id"), col("ftype"),
          col("fstart").cast("long").as("fstart"),
          col("fstop").cast("long").as("fstop")),
        allowMissingColumns = true)
      // The partition count is EXPLICIT: this exchange carries tens of
      // bytes per row but the stage after it does per-BASE genome work,
      // so AQE's byte-sized coalescing would fold it onto one core
      // (measured: 1 task, 1.7 s of a 4.3 s query)
      .repartition(spark.sparkContext.defaultParallelism, col("tr_id"))

    val ftype = col("ftype")
    def utr(kind: String, c: String) = min(when(ftype === kind, col(c)))
    val perTr = rows.groupBy("tr_id").agg(
      collect_set(col("tx")).as("txs"),
      array_sort(collect_list(when(ftype === "EXONS",
        struct(col("fstart"), col("fstop"))))).as("ex"),
      // at most one UTR of each kind per transcript (reference assumption)
      utr("3UTRS", "fstart").as("u3s"), utr("3UTRS", "fstop").as("u3e"),
      utr("5UTRS", "fstart").as("u5s"), utr("5UTRS", "fstop").as("u5e"))

    val g = genome
    val cds = udf((chr: String, ex: Seq[Row]) =>
      ex.map(e => g.chunk(chr, e.getLong(0), e.getLong(1))).mkString
        .toLowerCase)
    def or(c: Column, absent: Long) = coalesce(c, lit(absent))
    // explode drops tr_ids with features but no transcript under the
    // genes passed in; a transcript with no EXONS features keeps its row
    // with an empty `ex` (the reference emits an INTRON VARIANT_TRANSCRIPT
    // for it — processChromosome "not found means INTRON")
    val trs = perTr.withColumn("tx", explode(col("txs")))
      .select(col("tx.*"), col("tr_id"), col("ex"),
        col("u3s"), col("u3e"), col("u5s"), col("u5e"))
      .withColumn("trimmed", trimmedOf(col("ex")))
      .select(col("gene_id").cast("string").as("gene_id"),
        col("chr").cast("string").as("chr"), col("tr_id").cast("long").as("tr_id"),
        col("strand"), col("non_coding"),
        transform(col("ex"), e => or(e("fstart"), Long.MaxValue)).as("ex_start"),
        transform(col("ex"), e => or(e("fstop"), Long.MinValue)).as("ex_stop"),
        or(col("u3s"), Long.MaxValue).as("u3s"), or(col("u3e"), Long.MinValue).as("u3e"),
        or(col("u5s"), Long.MaxValue).as("u5s"), or(col("u5e"), Long.MinValue).as("u5e"),
        col("trimmed"), when(!col("non_coding") && size(col("trimmed")) > 0,
          cds(col("chr").cast("string"), col("trimmed"))).as("cds_plus"))
    val geneRows = genes.select(col("gene_id").cast("string").as("gene_id"),
        col("chr").cast("string").as("chr"), col("gstart").cast("long").as("gstart"),
        col("gstop").cast("long").as("gstop"))
      .filter(col("gene_id").isNotNull && col("chr").isNotNull &&
        col("gstart") <= col("gstop"))
    def nested(df: DataFrame, name: String) =
      df.select(struct(df.columns.map(col).toIndexedSeq: _*).as(name))
    val parts = nested(trs, "tr")
      .unionByName(nested(geneRows, "gene"), allowMissingColumns = true)
      .as[ModelRow].collect()
    val byGene = parts.flatMap(p => Option(p.tr)).groupBy(t => (t.gene_id, t.chr))
    val byChr = parts.flatMap(p => Option(p.gene))
      .flatMap(g => byGene.get((g.gene_id, g.chr)).map(g -> _))
      .groupBy(_._1.chr).map { case (c, rows) => c -> new ChrGenes(rows.toSeq) }
    new Model(spark.sparkContext.broadcast(byChr))
  }
  /** handleUTRs (VariantPostProcessing.java:626-668): trim each exon of
    * `ex` against the 3'UTR tail and 5'UTR head (columns u3s/u5e, or
    * u5s/u3e on the '-' strand, where the UTRs swap roles —
    * VariantPostProcessing.java:405-412); fully-covered exons drop.
    * Exons are disjoint and fstart-sorted, trimming only shrinks spans,
    * so the result stays sorted — array_sort kept for caller-supplied
    * overlapping exon models. */
  private def trimmedOf(ex: Column): Column = {
    val minus = col("strand") === "-"
    val e3s = when(minus, col("u5s")).otherwise(col("u3s"))
    val e5e = when(minus, col("u3e")).otherwise(col("u5e"))
    array_sort(filter(
      transform(ex, e => {
        val ts = when(e5e.isNull || e.getField("fstart") > e5e,
            e.getField("fstart"))
          .when(e.getField("fstop") > e5e, e5e + 1)
          .otherwise(lit(null))
        val te = when(e3s.isNull || e.getField("fstop") < e3s,
            e.getField("fstop"))
          .when(e.getField("fstart") < e3s, e3s - 1)
          .otherwise(lit(null))
        struct(ts.cast("long").as("start"), te.cast("long").as("stop"))
      }),
      s => s.getField("start").isNotNull && s.getField("stop").isNotNull &&
        s.getField("start") <= s.getField("stop")))
  }

  /** `--verifyIfInRgd` (the EVA runs, postProcessingEva.sh): drop
    * annotations whose (variant, transcript) pair is already loaded —
    * the reference preloads VARIANT_TRANSCRIPT into a HashMap and skips
    * matches (VariantTranscriptBatch.preloadVariantTranscriptData); here
    * it is a left-anti join on the pair key, shuffle-partitioned on both
    * sides at scale. `existing` needs var_id + tr_id columns. */
  def verifyIfInRgd(annotated: Dataset[Annotated],
                    existing: DataFrame): Dataset[Annotated] = {
    val spark = annotated.sparkSession
    import spark.implicits._
    annotated.toDF()
      .join(existing.select("var_id", "tr_id"), Seq("var_id", "tr_id"),
        "left_anti")
      .as[Annotated]
  }

  /** The per-(variant, transcript) core — processTranscript +
    * handleTranslatedProtein (VariantPostProcessing.java:402-624).
    * The reference CDS arrives pre-computed on the row (`cds_plus`,
    * plus-strand orientation); the function is pure. */
  private def annotateOne(v: VarTr): Annotated = {
    val parts = Seq(
      if (v.in_u3) Some("3UTRS") else None,
      if (v.in_u5) Some("5UTRS") else None,
      if (v.in_exon) Some("EXON") else None).flatten
    val nearSplice = if (v.near_splice) "T" else "F"
    // NON-CODING is appended whenever the transcript is non-coding,
    // regardless of inExon (VariantPostProcessing.java:274-283)
    val ncSuffix = if (v.non_coding) Seq("NON-CODING") else Nil

    def locationOnly(extra: Seq[String], tripletError: String = "F") =
      Annotated(v.var_id, v.chr, v.pos, v.ref_nuc, v.var_nuc, v.tr_id,
        (parts ++ extra).mkString(","), nearSplice,
        None, None, None, None, tripletError, None)

    if (!v.in_exon) return locationOnly(Seq("INTRON") ++ ncSuffix)
    if (v.non_coding) return locationOnly(ncSuffix)

    val refSeq = normSeq(v.ref_nuc)
    val varSeq = normSeq(v.var_nuc)

    // locate the containing trimmed exon: start <= pos && stop > varStop
    // (strict, VariantPostProcessing.java:431), accumulating the relative
    // position over the preceding kept exons
    var relPos = 0L
    var found = false
    val it = v.exons.iterator
    while (it.hasNext && !found) {
      val e = it.next()
      if (e.start <= v.pos && e.stop > v.var_stop) {
        relPos += v.pos - (e.start - 1)
        found = true
      } else relPos += e.stop - e.start + 1
    }
    if (!found) return locationOnly(Nil)

    // found ⇒ the trimmed exon list is non-empty, so the model carries
    // this coding transcript's CDS, and relPos is bounded by its length
    // unless the genome holds fewer bases than the exons span (a model
    // reaching past the chromosome end, where every source clamps).
    // Quarantine such a row (one malformed gene model must not kill a
    // 100 TB job) — counted downstream via location='ERROR'.
    var refDna = v.cds_plus.getOrElse("")
    val rp = relPos.toInt
    if (rp < 1 || rp > refDna.length)
      return Annotated(v.var_id, v.chr, v.pos, v.ref_nuc, v.var_nuc, v.tr_id,
        "ERROR", nearSplice, None, None, None, None, "T", None)

    // apply the variant — the branch ladder of
    // VariantPostProcessing.java:472-492 (deletion / insertion /
    // anchored insertion / complex / snv)
    val sb = new java.lang.StringBuilder(refDna)
    if (v.var_nuc == null || v.var_nuc.isEmpty || v.var_nuc.contains("-")) {
      // deletion — VariantPostProcessing.java:473-479: the deleted span is
      // len(var_nuc) for dash-denoted alleles ('-'→1, '---'→3) and 1 when
      // the allele is null/empty; NOT len(ref). For ref='ACG', var='-'
      // the reference removes ONE base — faithful even though the ref
      // allele says three (fidelity over biology, like the MNV branch).
      val delLen =
        if (v.var_nuc == null || v.var_nuc.isEmpty) 1 else v.var_nuc.length
      sb.delete(rp - 1, math.min(sb.length, rp - 1 + delLen))
    } else if (refSeq.isEmpty) {
      sb.insert(rp - 1, varSeq.toLowerCase)
    } else if (refSeq.length == 1 && varSeq.length > 1) {
      sb.insert(rp, varSeq.substring(1).toLowerCase)
    } else if (refSeq.length != 1 || varSeq.length != 1) {
      // MNV/complex — faithful to the reference's endPos formula: var_stop
      // is pos+1 for any both-alleles-non-empty variant, so the replace
      // consumes delLen = 1 ref base even for a length-preserving MNV
      // (AT→GC yields a stray ref base and frame_shift='T'). This is the
      // reference's arithmetic (VariantPostProcessing.java:487-490 with
      // VariantLoad3.java:299-303), reproduced verbatim — biologically
      // questionable, deliberately not "fixed" so outputs stay comparable.
      val delLen = (v.var_stop - v.pos).toInt
      sb.replace(rp - 1, math.min(sb.length, rp - 1 + delLen),
        varSeq.toLowerCase)
    } else {
      sb.setCharAt(rp - 1, Character.toLowerCase(varSeq.charAt(0)))
    }
    var varDna = sb.toString

    var relP = rp
    if (v.strand == "-") {
      relP = refDna.length - relP + 1
      refDna = DnaOps.reverseComplement(UTF8String.fromString(refDna))
        .toString.toLowerCase
      varDna = DnaOps.reverseComplement(UTF8String.fromString(varDna))
        .toString.toLowerCase
    }

    val tripletError = if (refDna.length % 3 != 0) "T" else "F"
    // codon-only translation: the old code translated the ENTIRE trimmed
    // CDS of both strands per (variant, transcript) row and then read one
    // AA out of each — only the codon at aaPos is observable, so
    // translate exactly that codon (identical output: translate is
    // codon-independent). Bounds identical: aaPos ≤ len(trim)/3.
    val refAaLen = refDna.length / 3
    val varAaLen = varDna.length / 3
    if (relP < 1) return locationOnly(Nil, tripletError)

    val aaPos = 1 + (relP - 1) / 3
    if (aaPos < 1 || aaPos > refAaLen || aaPos > varAaLen)
      return locationOnly(Nil, tripletError)

    val refAa = DnaOps.translate(UTF8String.fromString(
      refDna.substring(3 * (aaPos - 1), 3 * aaPos))).toString
    val varAa = DnaOps.translate(UTF8String.fromString(
      varDna.substring(3 * (aaPos - 1), 3 * aaPos))).toString
    val syn =
      if (refAa == "X" || varAa == "X") "unassignable"
      else if (refAa == varAa) "synonymous"
      else "nonsynonymous"
    val frameShift =
      if (math.abs(3 * refAaLen - 3 * varAaLen) % 3 != 0) "T" else "F"

    Annotated(v.var_id, v.chr, v.pos, v.ref_nuc, v.var_nuc, v.tr_id,
      parts.mkString(","), nearSplice,
      Some(syn), Some(refAa), Some(varAa), Some(aaPos), tripletError,
      Some(frameShift),
      Some(refDna.toUpperCase), Some(relP))
  }
}
