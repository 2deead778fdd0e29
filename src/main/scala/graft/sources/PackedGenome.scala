package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.operators.TranscriptAnnotator.GenomeSource

/** FASTA-backed [[GenomeSource]], packed at 2 bits per base — the
  * reference reads per-chromosome `chr<N>.fa.gz` files through a
  * memory-mapped `.nuc` cache (ChrFastaFile.java:20-104: concatenate
  * non-header non-empty lines).
  *
  * Spark shape: parse the FASTA once on the driver, broadcast the packed
  * chromosome map, and let every executor slice locally — the
  * distributed analog of the reference's one mmap per JVM. A mammalian
  * genome held as a JVM String costs ~1-2 bytes per base per executor
  * (3-6 GB); packing ACGT at 2 bits/base cuts that to ~0.25 byte/base
  * (~775 MB for human), the same layout as UCSC's .2bit.
  * Non-ACGT symbols (the long telomeric/centromeric N runs, IUPAC
  * codes) are range-encoded in a sorted exception table — real genomes
  * have few, long runs, so the table stays tiny — and resolved by
  * binary search at slice time.
  *
  * Bases are stored case-folded (like .2bit, which keeps case as a
  * separate mask); `chunk` returns uppercase. The transcript annotator
  * lowercases the rebuilt CDS itself, so annotation output does not
  * depend on the FASTA's case.
  */
object PackedGenome {

  /** Parse FASTA text into chromosome → sequence. Header names take the
    * first word after '>' and drop a leading "chr" (the reference's file
    * naming tolerates chr/Chr/ch/c prefixes — ChrFastaFile.java:49). */
  def parse(lines: Iterator[String]): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, java.lang.StringBuilder]
    var cur: java.lang.StringBuilder = null
    lines.foreach { raw =>
      val line = raw.trim
      if (line.nonEmpty) {
        if (line.charAt(0) == '>') {
          var name = line.substring(1).split("\\s+")(0)
          if (name.length > 3 && name.substring(0, 3).equalsIgnoreCase("chr"))
            name = name.substring(3)
          cur = new java.lang.StringBuilder
          out(name) = cur
        } else if (cur != null) cur.append(line)
      }
    }
    out.iterator.map { case (k, v) => k -> v.toString }.toMap
  }

  /** Default cap on driver-side genome materialization: 8 G bases covers
    * any vertebrate reference (human ~3.1 G) with headroom; past that the
    * broadcast-map design itself is wrong, not just the collect. */
  val DefaultMaxBases: Long = 8L << 30

  /** One packed chromosome: 2-bit codes + sorted non-ACGT runs. */
  final case class PackedChr(length: Int, packed: Array[Byte],
                             excStart: Array[Int], excEnd: Array[Int],
                             excChar: Array[Char]) extends Serializable

  private val code: Array[Byte] = {
    val a = Array.fill[Byte](128)(-1)
    a('A') = 0; a('C') = 1; a('G') = 2; a('T') = 3
    a('a') = 0; a('c') = 1; a('g') = 2; a('t') = 3
    a
  }
  private val bases = Array('A', 'C', 'G', 'T')

  private[sources] def packChr(seq: String): PackedChr = {
    val n = seq.length
    val packed = new Array[Byte]((n + 3) / 4)
    val es = scala.collection.mutable.ArrayBuffer.empty[Int]
    val ee = scala.collection.mutable.ArrayBuffer.empty[Int]
    val ec = scala.collection.mutable.ArrayBuffer.empty[Char]
    var i = 0
    while (i < n) {
      val ch = seq.charAt(i)
      val c = if (ch < 128) code(ch) else -1
      if (c >= 0) {
        packed(i >> 2) = (packed(i >> 2) | (c << ((i & 3) << 1))).toByte
        i += 1
      } else {
        // open a run of this exception char (case-folded)
        val up = Character.toUpperCase(ch)
        val start = i
        while (i < n && Character.toUpperCase(seq.charAt(i)) == up &&
          (seq.charAt(i) >= 128 || code(seq.charAt(i)) < 0)) i += 1
        es += start; ee += i; ec += up
      }
    }
    PackedChr(n, packed, es.toArray, ee.toArray, ec.toArray)
  }

  private def charAt(p: PackedChr, i: Int): Char = {
    // binary search the exception runs: last run with start <= i
    var lo = 0; var hi = p.excStart.length - 1; var hit = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (p.excStart(mid) <= i) { hit = mid; lo = mid + 1 } else hi = mid - 1
    }
    if (hit >= 0 && i < p.excEnd(hit)) p.excChar(hit)
    else bases((p.packed(i >> 2) >> ((i & 3) << 1)) & 3)
  }

  /** Packed genome map + 1-based inclusive slicing. */
  final case class Packed(bc: Broadcast[Map[String, PackedChr]])
      extends GenomeSource {
    def chunk(chr: String, start: Long, stop: Long): String = {
      val p = bc.value.getOrElse(chr, null)
      if (p == null) return ""
      val s = math.max(0, (start - 1).toInt)
      val e = math.min(p.length, stop.toInt)
      if (e <= s) return ""
      val sb = new java.lang.StringBuilder(e - s)
      var i = s
      while (i < e) { sb.append(charAt(p, i)); i += 1 }
      sb.toString
    }
  }

  /** Pack an in-memory chromosome map and broadcast it. */
  def fromChrs(spark: SparkSession, chrs: Map[String, String]): Packed =
    Packed(spark.sparkContext.broadcast(
      chrs.map { case (k, v) => k -> packChr(v) }))

  /** FASTA text → packed broadcast genome. FASTA files are
    * header-delimited, so the per-chromosome grouping must see lines in
    * order: the text streams through the driver once (`toLocalIterator`,
    * one partition in memory at a time), like the reference's one-time
    * `.nuc` conversion. Only the packed map is broadcast; the unpacked
    * strings are a transient driver-local value.
    *
    * Memory bound: the driver holds the parsed genome (~1 byte/base plus
    * StringBuilder overhead) while packing, and every executor one packed
    * copy. That is the deliberate design point for reference genomes
    * (≤ a few GB); it is NOT a general FASTA ingestion path. `maxBases`
    * fails fast with a clear message instead of an eventual driver OOM
    * when fed something bigger (a metagenome, a concatenated corpus). */
  def fromLines(spark: SparkSession, lines: Dataset[String],
                maxBases: Long = DefaultMaxBases): Packed = {
    var total = 0L
    val guarded = lines.toLocalIterator().asScala.map { l =>
      if (l.nonEmpty && l.charAt(0) != '>') {
        total += l.length
        if (total > maxBases) throw new IllegalArgumentException(
          s"FASTA exceeds maxBases=$maxBases; a genome this large cannot " +
            "be driver-materialized and broadcast - shard it or raise the " +
            "cap explicitly if the driver/executors have the memory")
      }
      l
    }
    fromChrs(spark, parse(guarded))
  }
}
