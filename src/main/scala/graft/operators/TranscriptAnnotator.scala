package graft.operators

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
  * HashMaps → a per-transcript model (exon array, UTR bounds, UTR-trimmed
  * exons, reference CDS) built once per call in one tr_id-keyed pass and
  * broadcast; the per-variant cursor loop → one narrow pass over
  * [[RangeJoin]]'s binned gene containment joined to that model, with no
  * exchange on the variant stream; chromosome FASTA file reads → a
  * pluggable [[GenomeSource]] read in the model pass, once per coding
  * transcript (real deployments back it with a broadcast FASTA index,
  * see [[graft.sources.FastaGenome]] and [[graft.sources.PackedGenome]];
  * tests use [[FixedGenome]]; the synthetic default [[Md5Genome]] is
  * deterministic AND reproducible in SQL, so the full pipeline has a
  * DuckDB oracle).
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

  /** Deterministic synthetic genome: base at (chr,pos) from a mixed hash.
    * Chromosomes have no end. */
  case class HashGenome() extends GenomeSource {
    private val bases = "ACGT"
    def chunk(chr: String, start: Long, stop: Long): String = {
      val from = math.max(1L, start)
      if (stop < from) return ""
      val sb = new java.lang.StringBuilder((stop - from + 1).toInt)
      var p = from
      val ch = chr.hashCode.toLong
      while (p <= stop) {
        var h = p * 0x9E3779B97F4A7C15L + ch * 0xC2B2AE3D27D4EB4FL
        h ^= h >>> 29; h *= 0xBF58476D1CE4E5B9L; h ^= h >>> 32
        sb.append(bases.charAt((h & 3).toInt))
        p += 1
      }
      sb.toString
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
    * `cds_plus` (the transcript's reference CDS) ride only on rows that
    * can reach it — exonic rows of coding transcripts — and are empty /
    * None on every other row. */
  case class VarTr(
      var_id: Long, chr: String, pos: Long, var_stop: Long,
      ref_nuc: String, var_nuc: String,
      tr_id: Long, strand: String, non_coding: Boolean,
      in_exon: Boolean, in_u3: Boolean, in_u5: Boolean, near_splice: Boolean,
      exons: Seq[ExonIv], cds_plus: Option[String])
  case class ExonIv(start: Long, stop: Long)

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

  /** endPos semantics from VariantLoad3.java:299-315: snv/mnv → pos+1,
    * insertion (empty ref) → pos, deletion (empty var) → pos+len(ref). */
  private def varStopCol(pos: Column, refNuc: Column, varNuc: Column): Column = {
    val refLen = when(refNuc.isNull || refNuc === "" || refNuc === "-", lit(0L))
      .otherwise(length(refNuc).cast("long"))
    val varLen = when(varNuc.isNull || varNuc === "" || varNuc === "-", lit(0L))
      .otherwise(length(varNuc).cast("long"))
    when(refLen > 0 && varLen > 0, pos + 1)
      .when(refLen === 0, pos)
      .otherwise(pos + refLen)
  }

  /** @param variants    var_id, chr, pos, ref_nuc, var_nuc ('' or '-' for
    *                    the empty side of an ins/del)
    * @param genes       gene_id, chr, gstart, gstop
    * @param transcripts tr_id, gene_id, strand ('+'/'-'), non_coding
    * @param features    tr_id, ftype ('EXONS'|'3UTRS'|'5UTRS'), fstart, fstop
    */
  def annotate(variants: DataFrame, genes: DataFrame, transcripts: DataFrame,
               features: DataFrame, genome: GenomeSource,
               binWidth: Long = 1 << 20): Dataset[Annotated] = {
    val spark = variants.sparkSession
    import spark.implicits._

    // variant ∈ gene range (binned equi-join). RangeJoin emits each
    // (variant, gene row) pair exactly once (the point side maps to a
    // single bin) and the model is one row per (gene_id, chr, tr_id), so
    // the stream below is unique per (variant, gene row, transcript) and
    // needs no aggregation
    val vg = RangeJoin.joined(
      variants.select(col("var_id"), col("chr"), col("pos"),
        col("ref_nuc"), col("var_nuc"),
        varStopCol(col("pos"), col("ref_nuc"), col("var_nuc")).as("var_stop")),
      genes.select("gene_id", "chr", "gstart", "gstop"),
      "pos", "gstart", "gstop", keys = Seq("chr"), binWidth = binWidth)

    // per-row flags against the variant [pos, var_stop] — codegen array
    // predicates over the transcript's exon array
    val pos = col("pos"); val varStop = col("var_stop")
    val inExon = coalesce(exists(col("ex"),
        e => e.getField("fstart") <= pos && e.getField("fstop") >= varStop),
      lit(false))
    val nEx = size(col("ex"))
    val nearSplice = coalesce(exists(transform(col("ex"), (e, i) =>
        (i =!= 0 &&
          e.getField("fstart") - 10 <= pos &&
          e.getField("fstart") + 10 >= varStop) ||
        (i =!= nEx - 1 &&
          e.getField("fstop") - 10 <= pos &&
          e.getField("fstop") + 10 >= varStop)),
      b => b), lit(false))
    val inU3 = coalesce(col("u3s") <= pos && col("u3e") >= varStop,
      lit(false))
    val inU5 = coalesce(col("u5s") <= pos && col("u5e") >= varStop,
      lit(false))
    // only exonic rows of coding transcripts reach the AA call; every
    // other row leaves the CDS and exon payload behind
    val coding = inExon && !col("non_coding")

    vg.join(broadcast(transcriptModel(genes, transcripts, features, genome)),
        Seq("gene_id", "chr"))
      .select(
        col("var_id"), col("chr"), col("pos"), col("var_stop"),
        col("ref_nuc"), col("var_nuc"), col("tr_id"), col("strand"),
        col("non_coding"),
        inExon.as("in_exon"), inU3.as("in_u3"), inU5.as("in_u5"),
        nearSplice.as("near_splice"),
        when(coding, col("trimmed"))
          .otherwise(typedLit(Seq.empty[ExonIv])).as("exons"),
        when(coding, col("cds_plus")).as("cds_plus"))
      .as[VarTr].map(annotateOne)
  }

  /** The variant-independent side: one row per (gene_id, chr, tr_id) of
    * the genes passed in — strand, non_coding, the fstart-sorted exon
    * array `ex`, the UTR bounds `u3s/u3e/u5s/u5e`, the UTR-trimmed exons
    * `trimmed` and, for coding transcripts with a non-empty trimmed list,
    * the plus-strand reference CDS `cds_plus`.
    *
    * Transcript rows (carrying their gene's chromosome) and feature rows
    * meet in ONE tr_id-hashed exchange; the aggregation, the trimming and
    * the per-base genome reads all run in the stage after it, so each
    * transcript's CDS is read once and the result is broadcast once. A
    * transcript listed under several genes (GFF3 `Parent=a,b`) yields
    * one row per gene, a gene_id listed on two chromosomes one row per
    * chromosome (each CDS read from its own); identical duplicate
    * transcript or gene rows collapse.
    */
  private def transcriptModel(genes: DataFrame, transcripts: DataFrame,
                              features: DataFrame,
                              genome: GenomeSource): DataFrame = {
    val spark = genes.sparkSession
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
    // explode drops tr_ids with features but no transcript under the
    // genes passed in; a transcript with no EXONS features keeps its row
    // with an empty `ex` (the reference emits an INTRON VARIANT_TRANSCRIPT
    // for it — processChromosome "not found means INTRON")
    perTr.withColumn("tx", explode(col("txs")))
      .select(col("tx.*"), col("tr_id"), col("ex"),
        col("u3s"), col("u3e"), col("u5s"), col("u5e"))
      .withColumn("trimmed", trimmedOf(col("ex")))
      .withColumn("cds_plus", when(!col("non_coding") &&
        size(col("trimmed")) > 0,
        cds(col("chr").cast("string"), col("trimmed"))))
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
