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
  * HashMaps → [[model]], one collected narrow query (the gene rows, the
  * transcript rows and their exon and UTR rows, with no join, exchange
  * or aggregate) that the driver assembles into a per-chromosome gene
  * index whose rows carry their transcripts, broadcast once; the
  * per-variant cursor loop → [[apply]], one typed pass that looks each
  * variant up in that index and computes the flags and the AA call in
  * plain Scala, with no join and no shuffle; chromosome FASTA file reads
  * → a pluggable [[GenomeSource]] read in the apply tasks, once per
  * coding transcript a coding exonic variant reaches (real deployments
  * back it with [[graft.sources.PackedGenome]]; tests use
  * [[FixedGenome]]; the synthetic default [[Md5Genome]] is reproducible
  * in SQL, so the full pipeline has a DuckDB oracle).
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

  /** One transcript of the model, under one gene row's chromosome. A
    * missing bound fails every comparison, as SQL's null does: start
    * Long.MaxValue, stop Long.MinValue. `cds_plus`, a coding transcript's
    * plus-strand CDS (its trimmed exons read from `genome`, lower case), is
    * read on first use, by the first coding exonic pair that reaches the
    * transcript: a transcript no variant reaches is never read. The value
    * is not shipped with the broadcast, so each JVM that deserializes the
    * model reads it once: in local mode the broadcast value is one shared
    * object, so once per session; on a cluster once per executor. */
  private[operators] final case class Tr(chr: String,
      tr_id: Long, strand: String, non_coding: Boolean,
      ex_start: Array[Long], ex_stop: Array[Long],
      u3s: Long, u3e: Long, u5s: Long, u5e: Long,
      trimmed: Seq[ExonIv], genome: GenomeSource) {
    @transient lazy val cds_plus: Option[String] =
      if (non_coding || trimmed.isEmpty) None
      else Some(trimmed.map(e => genome.chunk(chr, e.start, e.stop)).mkString
        .toLowerCase)
  }
  private[operators] case class Var(var_id: Long, chr: String,
      pos: Long, ref_nuc: String, var_nuc: String)
  private[operators] case class GeneRow(gene_id: String, chr: String,
      gstart: Long, gstop: Long)

  /** One chromosome's gene rows, each with its transcripts, sorted by
    * gstart: an implicit augmented interval tree. The subtree over rows
    * [lo, hi) has its root at mid = (lo + hi) / 2, and `maxStop(mid)` is
    * the largest gstop in that subtree. A lookup skips every subtree
    * whose maxStop falls short of the position and every right subtree of
    * a row starting after it, so it visits one root-to-leaf path plus
    * the paths to the rows it finds: O(log n) per row found, O(log n)
    * when none holds the position, however long the genes are. */
  private[operators] final class ChrGenes(rows: Seq[(GeneRow, Array[Tr])])
      extends Serializable {
    private val sorted = rows.sortBy(_._1.gstart).toArray
    private val maxStop = new Array[Long](sorted.length)
    private def build(lo: Int, hi: Int): Long =
      if (lo >= hi) Long.MinValue
      else {
        val mid = (lo + hi) >>> 1
        maxStop(mid) = math.max(sorted(mid)._1.gstop,
          math.max(build(lo, mid), build(mid + 1, hi)))
        maxStop(mid)
      }
    build(0, sorted.length)

    /** The transcripts of every gene row whose [gstart, gstop] holds
      * `pos`, the rows in gstart order. */
    def containing(pos: Long): Iterator[Tr] = {
      val hits = scala.collection.mutable.ArrayBuffer[Int]()
      def visit(lo: Int, hi: Int): Unit = if (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (maxStop(mid) >= pos) {
          visit(lo, mid)
          if (sorted(mid)._1.gstart <= pos) {
            if (sorted(mid)._1.gstop >= pos) hits += mid
            visit(mid + 1, hi)
          }
        }
      }
      visit(0, sorted.length)
      hits.iterator.flatMap(sorted(_)._2)
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

  /** [[apply]] over a fresh [[model]], which is built eagerly: its one
    * Spark job runs before this returns.
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
    * tr_id) of the genes passed in, the sorted exon and UTR bounds and
    * the UTR-trimmed exons, broadcast once as a [[ChrGenes]] index per
    * chromosome. One narrow query runs one job: the union of the gene
    * rows, the transcript rows and the EXONS / 3UTRS / 5UTRS feature rows,
    * each input scanned once, with no join, exchange or aggregate; the
    * driver assembles the model from the collected rows in plain Scala.
    * The collect moves every transcript row and every feature row of
    * those three types passed in, so a per-chromosome call over
    * genome-wide tables moves the whole feature table to the driver once.
    * No CDS is read here: each coding [[Tr]] reads its own on first use,
    * in the apply tasks.
    *
    * A transcript row matches every kept gene row of its gene_id (keys
    * compared as strings); one with a null tr_id, gene_id or non_coding
    * matches nothing. A transcript under several genes (GFF3
    * `Parent=a,b`) yields one entry per gene, a gene_id on two chromosomes
    * one per chromosome (each CDS read from its own); identical duplicate
    * transcript rows collapse, duplicate gene rows do not. A gene row with
    * a null key or bound, or with gstart > gstop, holds no position and
    * is dropped. */
  def model(genes: DataFrame, transcripts: DataFrame, features: DataFrame,
            genome: GenomeSource): Model = {
    val spark = genes.sparkSession
    def nested(name: String, cols: Column*) = struct(cols: _*).as(name)
    val geneRows = genes
      .filter(col("gene_id").isNotNull && col("chr").isNotNull &&
        col("gstart").cast("long") <= col("gstop").cast("long"))
      .select(nested("gene", col("gene_id").cast("string").as("gene_id"),
        col("chr").cast("string").as("chr"), col("gstart").cast("long").as("gstart"),
        col("gstop").cast("long").as("gstop")))
    val txRows = transcripts
      .filter(col("tr_id").isNotNull && col("gene_id").isNotNull &&
        col("non_coding").isNotNull)
      .select(nested("tx", col("tr_id").cast("long").as("tr_id"),
        col("gene_id").cast("string").as("gene_id"),
        col("strand").cast("string").as("strand"),
        col("non_coding").cast("boolean").as("non_coding")))
    // other feature types feed no bound of the model
    val featRows = features
      .filter(col("tr_id").isNotNull && col("ftype").isin("EXONS", "3UTRS", "5UTRS"))
      .select(nested("ft", col("tr_id").cast("long").as("tr_id"), col("ftype"),
        col("fstart").cast("long").as("fstart"), col("fstop").cast("long").as("fstop")))
    val rows = geneRows.unionByName(txRows, allowMissingColumns = true)
      .unionByName(featRows, allowMissingColumns = true).collect()
    def part(name: String) = rows.flatMap(r => Option(r.getAs[Row](name)))
    def bound(r: Row, i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))

    val kept = part("gene").map(g =>
      GeneRow(g.getString(0), g.getString(1), g.getLong(2), g.getLong(3)))
    val chrsOf = kept.groupBy(_.gene_id).map { case (id, gs) => id -> gs.map(_.chr).distinct }
    // per tr_id, one entry per distinct (gene_id, chr, strand, non_coding)
    val txs = part("tx").flatMap(t => chrsOf.getOrElse(t.getString(1), Array.empty[String])
      .map(c => (t.getLong(0), t.getString(1), c, t.getString(2), t.getBoolean(3)))).distinct
    val trIds = txs.map(_._1).toSet
    val featsOf = part("ft").filter(f => trIds(f.getLong(0))).groupBy(_.getLong(0))
      .map { case (id, fs) => id -> new Feats(fs.toSeq.map(f =>
        (f.getString(1), bound(f, 2), bound(f, 3)))) }
    val none = new Feats(Nil)
    val byGene = txs.groupBy(t => (t._2, t._3)).map { case (key, ts) =>
      key -> ts.map { case (id, _, chr, strand, nc) =>
        featsOf.getOrElse(id, none).tr(chr, id, strand, nc, genome) }
    }
    val byChr = kept.flatMap(g => byGene.get((g.gene_id, g.chr)).map(g -> _))
      .groupBy(_._1.chr).map { case (c, rs) => c -> new ChrGenes(rs.toSeq) }
    new Model(spark.sparkContext.broadcast(byChr))
  }

  /** One tr_id's features as (ftype, fstart, fstop), a missing bound None. */
  private final class Feats(fs: Seq[(String, Option[Long], Option[Long])]) {
    /** EXONS bounds sorted as Spark's `array_sort` sorts the structs: by
      * start then stop, a missing bound first. */
    private val ex = fs.collect { case ("EXONS", s, e) => (s, e) }.sorted
    // at most one UTR of each kind per transcript (reference assumption)
    private def least(kind: String,
        bound: ((String, Option[Long], Option[Long])) => Option[Long]) =
      fs.filter(_._1 == kind).flatMap(bound).minOption
    private val (u3s, u3e) = (least("3UTRS", _._2), least("3UTRS", _._3))
    private val (u5s, u5e) = (least("5UTRS", _._2), least("5UTRS", _._3))

    /** handleUTRs (VariantPostProcessing.java:626-668): trim each exon
      * against the 3'UTR tail and 5'UTR head (u3s/u5e, or u5s/u3e on the
      * '-' strand, where the UTRs swap roles — VariantPostProcessing.java:
      * 405-412); fully-covered exons drop. A comparison with a missing
      * bound fails, as SQL's null does. Exons are disjoint and sorted,
      * trimming only shrinks spans, so the result stays sorted; the sort
      * is kept for caller-supplied overlapping exon models. */
    private def trimmed(minus: Boolean): Seq[ExonIv] = {
      val (e3s, e5e) = if (minus) (u5s, u3e) else (u3s, u5e)
      ex.flatMap { case (fs, fe) =>
        val ts = e5e.fold(fs)(h =>
          if (fs.exists(_ > h)) fs else if (fe.exists(_ > h)) Some(h + 1) else None)
        val te = e3s.fold(fe)(t =>
          if (fe.exists(_ < t)) fe else if (fs.exists(_ < t)) Some(t - 1) else None)
        for (s <- ts; e <- te if s <= e) yield ExonIv(s, e)
      }.sortBy(e => (e.start, e.stop))
    }

    def tr(chr: String, trId: Long, strand: String, nonCoding: Boolean,
           genome: GenomeSource): Tr =
      Tr(chr, trId, strand, nonCoding,
        ex.map(_._1.getOrElse(Long.MaxValue)).toArray,
        ex.map(_._2.getOrElse(Long.MinValue)).toArray,
        u3s.getOrElse(Long.MaxValue), u3e.getOrElse(Long.MinValue),
        u5s.getOrElse(Long.MaxValue), u5e.getOrElse(Long.MinValue),
        trimmed(strand == "-"), genome)
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
