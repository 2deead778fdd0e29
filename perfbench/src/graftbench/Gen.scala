package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators for the workloads. Everything a run
  * reads is written here, before any timing starts, together with the
  * generator's own truth (what a correct load or annotation must
  * produce), so the output checks never call graft to know the answer.
  *
  * The same seed gives byte-identical text files and parquet files with
  * identical rows; another seed gives other content with the same sizes
  * and planted shares.
  */
object Gen {

  /** Input sizes, scaled so a run fits its time: generation takes a
    * few seconds and an op 1–2 s on four cores, most of it Spark's fixed
    * work per job (see README). The ratios follow the workload design:
    * the pre-loaded store holds 7.5 batches' worth of sites, half of
    * every batch is already in it. */
  object Sizes {
    val storeVariants = 22500
    val vcfBatches = 80
    val sitesPerBatch = 3000
    val chromosomes = 4
    val chrLen = 500000
    val genesPerChr = 15
    val annotateVariants = 200000
    val sampleSnvsPerChr = 30
  }

  val strainPool: Seq[(String, String)] = Seq(
    "ACI" -> "M", "BN" -> "F", "F344" -> "M", "SHR" -> "F",
    "WKY" -> "M", "LEW" -> "F")
  val vcfChrs: Seq[String] = (1 to 8).map(_.toString) :+ "X"
  private val bases = "ACGT"

  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  def writeText(p: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(p.getParent)
    val w = Files.newBufferedWriter(p, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  // ---------------------------------------------------------------- vcf_load

  /** One VCF site. `present` marks a site drawn from the pre-loaded
    * store; `cells` are the per-strain sample columns. */
  final case class Site(chr: String, pos: Int, ref: Char, alt: Char,
                        rs: String, present: Boolean, cells: Seq[String])

  /** Plain-Scala recount of what the reference keeps from one sample
    * cell: not `0/0`, not `./.`, and at least one read of the ALT allele. */
  def cellKept(cell: String): Boolean = {
    val f = cell.split(":")
    val gt = f(0)
    if (gt == "0/0" || gt == "./.") false
    else f(1).split(",")(1).toInt > 0
  }

  final case class BatchTruth(name: String, lines: Int, bytes: Long,
                              inserts: Long, present: Long, detail: Long)

  private def cell(r: SplittableRandom): String = {
    val u = r.nextDouble()
    val ref = 1 + r.nextInt(40)
    if (u < 0.15) s"0/0:$ref,0:$ref"
    else if (u < 0.25) "./.:.:."
    else if (u < 0.35) s"0/1:$ref,0:$ref" // called, but zero ALT reads
    else {
      val alt = 1 + r.nextInt(40)
      val gt = if (r.nextBoolean()) "0/1" else "1/1"
      s"$gt:$ref,$alt:${ref + alt}"
    }
  }

  private def vcfLine(s: Site): String =
    (Seq(s"chr${s.chr}", s.pos.toString, s.rs, s.ref.toString, s.alt.toString,
      "50", "PASS", "DP=40", "GT:AD:DP") ++ s.cells).mkString("\t")

  /** Store rows are (chr, pos, ref, alt, rs); the batches draw half
    * their sites from them and half from positions no other batch uses. */
  def vcfLoad(seed: Long, dir: Path): Unit = {
    val r = rng(seed, "vcf_load")
    val nChr = vcfChrs.length
    // position k of the shared pool: unique by construction, so store
    // sites and every batch's new sites never collide
    def site(k: Int): (String, Int) =
      (vcfChrs(k % nChr), 1000 + (k / nChr) * 10 + r.nextInt(10))
    def snv(): (Char, Char) = {
      val ref = bases.charAt(r.nextInt(4))
      var alt = ref
      while (alt == ref) alt = bases.charAt(r.nextInt(4))
      (ref, alt)
    }
    def rsOf(): String = if (r.nextDouble() < 0.4) s"rs${1 + r.nextInt(9999999)}" else "."
    val store = (0 until Sizes.storeVariants).map { k =>
      val (c, p) = site(k); val (ref, alt) = snv(); (c, p, ref, alt, rsOf())
    }.toArray
    ParquetOut.storeVariants(dir.resolve("store_pristine/variants/part-00000.parquet"),
      store.toSeq)
    var nextNew = Sizes.storeVariants
    val truth = ArrayBuffer.empty[BatchTruth]
    val names = "warmup" +: (0 until Sizes.vcfBatches).map(i => f"batch$i%03d")
    names.zipWithIndex.foreach { case (name, k) =>
      // 2, 3, 4 strains in turn, so every seed loads the same cell count
      val strains = new scala.util.Random(r.nextLong()).shuffle(strainPool)
        .take(2 + k % 3)
      val half = Sizes.sitesPerBatch / 2
      val fromStore = Iterator.continually(store(r.nextInt(store.length)))
        .map(s => (s._1, s._2)).distinct.take(half).toSet
      val present = store.filter(s => fromStore((s._1, s._2))).map { s =>
        Site(s._1, s._2, s._3, s._4, s._5, present = true,
          strains.map(_ => cell(r)))
      }
      val fresh = (0 until half).map { _ =>
        val (c, p) = site(nextNew); nextNew += 1
        val (ref, alt) = snv()
        Site(c, p, ref, alt, rsOf(), present = false, strains.map(_ => cell(r)))
      }
      val sites = (present.toSeq ++ fresh).sortBy(s => (vcfChrs.indexOf(s.chr), s.pos))
      val header = Seq("##fileformat=VCFv4.2",
        "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
        "##FORMAT=<ID=AD,Number=R,Type=Integer,Description=\"Allelic depths\">",
        "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"Read depth\">",
        (Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO",
          "FORMAT") ++ strains.map(_._1)).mkString("\t"))
      val p = dir.resolve(s"batches/$name.vcf")
      writeText(p, header.iterator ++ sites.iterator.map(vcfLine))
      val kept = sites.map(s => s -> s.cells.count(cellKept))
      truth += BatchTruth(name, sites.length, Files.size(p),
        kept.count { case (s, k) => k > 0 && !s.present },
        kept.count { case (s, k) => k > 0 && s.present },
        kept.map(_._2.toLong).sum)
    }
    writeText(dir.resolve("truth/batches.tsv"), truth.iterator.map(t =>
      Seq(t.name, t.lines, t.bytes, t.inserts, t.present, t.detail).mkString("\t")))
    writeText(dir.resolve("truth/store.tsv"), Iterator(s"${store.length}") ++
      strainPool.iterator.map { case (s, g) => s"$s\t$g" })
  }

  // -------------------------------------------------------- variant_annotate

  final case class Exon(start: Int, stop: Int)
  final case class Transcript(id: String, coding: Boolean, exons: Seq[Exon],
                              head: Option[Exon], tail: Option[Exon])
  final case class Gene(id: String, chr: String, start: Int, stop: Int,
                        strand: Char, transcripts: Seq[Transcript])

  /** The annotator's UTR trimming: the low-coordinate UTR cuts the head
    * of the exon list, the high-coordinate one its tail. */
  def trimmed(t: Transcript): Seq[Exon] = t.exons.flatMap { e =>
    val s = t.head.fold(e.start)(h => if (e.start > h.stop) e.start
      else if (e.stop > h.stop) h.stop + 1 else Int.MaxValue)
    val st = t.tail.fold(e.stop)(u => if (e.stop < u.start) e.stop
      else if (e.start < u.start) u.start - 1 else Int.MinValue)
    if (s <= st) Some(Exon(s, st)) else None
  }

  private val codonAa = "KNKNTTTTRSRSIIMIQHQHPPPPRRRRLLLLEDEDAAAAGGGGVVVV*Y*YSSSS*CWCLFLF"
  def translateCodon(c: String): Char = {
    def idx(ch: Char) = bases.indexOf(Character.toUpperCase(ch))
    val (a, b, d) = (idx(c(0)), idx(c(1)), idx(c(2)))
    if (a < 0 || b < 0 || d < 0) 'X' else codonAa.charAt(16 * a + 4 * b + d)
  }
  def revComp(s: String): String = s.reverse.map {
    case 'A' => 'T'; case 'T' => 'A'; case 'C' => 'G'; case 'G' => 'C'; case o => o
  }

  def genome(seed: Long): Seq[(String, String)] = {
    val r = rng(seed, "genome")
    (1 to Sizes.chromosomes).map { c =>
      val sb = new java.lang.StringBuilder(Sizes.chrLen)
      var i = 0
      while (i < Sizes.chrLen) { sb.append(bases.charAt(r.nextInt(4))); i += 1 }
      c.toString -> sb.toString
    }
  }

  /** `n` values evenly spread over [lo, hi), in a seeded order: every
    * seed draws the same values, so the work per chromosome stays the
    * same from seed to seed while the layout changes. */
  private def spread(r: SplittableRandom, n: Int, lo: Int, hi: Int): IndexedSeq[Int] =
    new scala.util.Random(r.nextLong()).shuffle((0 until n).map(k => lo + ((hi - lo) * (k + 0.5) / n).toInt))

  def genes(seed: Long, chr: String): Seq[Gene] = {
    val r = rng(seed, s"genes$chr")
    val n = Sizes.genesPerChr
    val gaps = spread(r, n, 3000, 20000)
    val lens = spread(r, n, 4000, 30000)
    // transcripts per gene: half have 1, 30 % have 2, 20 % have 3
    val nTrs = spread(r, n, 0, 10).map(d => if (d < 5) 1 else if (d < 8) 2 else 3)
    var cursor = 1000
    (0 until n).map { gi =>
      val gs = cursor + gaps(gi)
      val ge = gs + lens(gi)
      cursor = ge
      val gid = s"g$chr.$gi"
      val trs = (0 until nTrs(gi)).map { ti =>
        val exons = ArrayBuffer.empty[Exon]
        var p = gs + r.nextInt(500)
        val k = 1 + r.nextInt(8)
        while (exons.length < k && p + 400 < ge) {
          val e = Exon(p, p + 60 + r.nextInt(340))
          exons += e
          p = e.stop + 100 + r.nextInt(2900)
        }
        if (exons.isEmpty) exons += Exon(gs, gs + 200)
        val coding = r.nextDouble() < 0.8
        val (head, tail) =
          if (!coding || exons.length < 2) (None, None)
          else {
            val f = exons.head; val l = exons.last
            (Some(Exon(f.start, f.start + 10 + r.nextInt(30))),
              Some(Exon(l.stop - 10 - r.nextInt(30), l.stop)))
          }
        Transcript(s"$gid.t$ti", coding, exons.toSeq, head, tail)
      }
      Gene(gid, chr, gs, ge, if (r.nextBoolean()) '+' else '-', trs)
    }
  }

  def gff3Lines(gs: Seq[Gene]): Iterator[String] = Iterator("##gff-version 3") ++
    gs.iterator.flatMap { g =>
      def row(t: String, s: Int, e: Int, attrs: String) =
        s"chr${g.chr}\tbench\t$t\t$s\t$e\t.\t${g.strand}\t.\t$attrs"
      Iterator(row("gene", g.start, g.stop, s"ID=${g.id}")) ++
        g.transcripts.iterator.flatMap { t =>
          // on '-' the low-coordinate UTR is the 3' one
          val (lowType, highType) =
            if (g.strand == '+') ("five_prime_UTR", "three_prime_UTR")
            else ("three_prime_UTR", "five_prime_UTR")
          Iterator(row(if (t.coding) "mRNA" else "lnc_RNA",
            t.exons.head.start, t.exons.last.stop, s"ID=${t.id};Parent=${g.id}")) ++
            t.exons.iterator.map(e => row("exon", e.start, e.stop, s"Parent=${t.id}")) ++
            t.head.iterator.map(e => row(lowType, e.start, e.stop, s"Parent=${t.id}")) ++
            t.tail.iterator.map(e => row(highType, e.start, e.stop, s"Parent=${t.id}"))
        }
    }

  final case class Variant(id: Long, chr: String, pos: Int, ref: String, alt: String)

  /** Expected (ref AA, var AA) of an SNV in the interior of a coding
    * transcript's trimmed CDS, recomputed from the genome; None when the
    * annotator makes no amino-acid call there. */
  def expectedAa(seq: String, g: Gene, t: Transcript, pos: Int, alt: Char): Option[(Char, Char)] = {
    val cds = trimmed(t)
    var rel = 0; var found = false
    cds.foreach { e =>
      if (!found) {
        if (e.start <= pos && pos <= e.stop - 2) { rel += pos - e.start + 1; found = true }
        else rel += e.stop - e.start + 1
      }
    }
    if (!found) return None
    var ref = cds.map(e => seq.substring(e.start - 1, e.stop)).mkString
    val sb = new java.lang.StringBuilder(ref); sb.setCharAt(rel - 1, alt)
    var mut = sb.toString
    if (g.strand == '-') { rel = ref.length - rel + 1; ref = revComp(ref); mut = revComp(mut) }
    val aaPos = 1 + (rel - 1) / 3
    if (aaPos > ref.length / 3) None
    else Some((translateCodon(ref.substring(3 * aaPos - 3, 3 * aaPos)),
      translateCodon(mut.substring(3 * aaPos - 3, 3 * aaPos))))
  }

  def variantAnnotate(seed: Long, dir: Path): Unit = {
    val chrs = genome(seed)
    writeText(dir.resolve("genome.fa"), chrs.iterator.flatMap { case (c, s) =>
      Iterator(s">chr$c") ++ s.grouped(60)
    })
    val geneMap = chrs.map { case (c, _) => c -> genes(seed, c) }.toMap
    writeText(dir.resolve("genes.gff3"), gff3Lines(chrs.flatMap(c => geneMap(c._1))))
    val r = rng(seed, "variants")
    val perChr = Sizes.annotateVariants / chrs.length
    var nextId = 1L
    val all = ArrayBuffer.empty[Variant]
    val chrTruth = ArrayBuffer.empty[String]
    val sample = ArrayBuffer.empty[String]
    chrs.foreach { case (c, seq) =>
      val gs = geneMap(c)
      val starts = gs.map(_.start).toArray
      def geneAt(pos: Int): Option[Gene] = {
        val i = java.util.Arrays.binarySearch(starts, pos)
        val j = if (i >= 0) i else -i - 2
        if (j >= 0 && gs(j).stop >= pos) Some(gs(j)) else None
      }
      var overlaps = 0L
      val sampled = ArrayBuffer.empty[String]
      (0 until perChr).foreach { _ =>
        val pos =
          if (r.nextBoolean()) { val g = gs(r.nextInt(gs.length)); g.start + r.nextInt(g.stop - g.start + 1) }
          else 1 + r.nextInt(seq.length - 10)
        val u = r.nextDouble()
        def randBases(n: Int) = (0 until n).map(_ => bases.charAt(r.nextInt(4))).mkString
        val v =
          if (u < 0.7) {
            val ref = seq.charAt(pos - 1)
            var alt = ref
            while (alt == ref) alt = bases.charAt(r.nextInt(4))
            Variant(nextId, c, pos, ref.toString, alt.toString)
          } else if (u < 0.8) Variant(nextId, c, pos, seq.substring(pos - 1, pos + 1), randBases(2))
          else if (u < 0.9) Variant(nextId, c, pos, "", randBases(1 + r.nextInt(3)))
          else Variant(nextId, c, pos, seq.substring(pos - 1, pos + r.nextInt(3)), "")
        nextId += 1
        all += v
        geneAt(pos).foreach { g =>
          overlaps += g.transcripts.length
          if (v.ref.length == 1 && v.alt.length == 1 && g.transcripts.length == 1 &&
            g.transcripts.head.coding && sampled.length < Sizes.sampleSnvsPerChr)
            expectedAa(seq, g, g.transcripts.head, pos, v.alt.charAt(0)).foreach {
              case (ra, va) => sampled += s"${v.id}:$ra:$va"
            }
        }
      }
      chrTruth += s"$c\t$perChr\t$overlaps"
      sample ++= sampled.map(s => s"$c\t$s")
    }
    // random order, so every file holds every chromosome
    val shuffled = new scala.util.Random(r.nextLong()).shuffle(all.toSeq)
    val files = math.max(8, Runtime.getRuntime.availableProcessors())
    shuffled.grouped((shuffled.length + files - 1) / files).zipWithIndex.foreach { case (part, i) =>
      ParquetOut.variants(dir.resolve(f"variants/part-$i%05d.parquet"), part)
    }
    writeText(dir.resolve("truth/chromosomes.tsv"), chrTruth.iterator)
    writeText(dir.resolve("truth/aa_sample.tsv"), sample.iterator)
  }

  /** Writes the workload's inputs and a manifest (file count, bytes and
    * a SHA-256 over every input file, in path order). */
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, dirS) = args
    val dir = Path.of(dirS)
    val seed = seedS.toLong
    workload match {
      case "vcf_load" => vcfLoad(seed, dir)
      case "variant_annotate" => variantAnnotate(seed, dir)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val (files, bytes, hash) = Manifest.digest(dir)
    writeText(dir.resolve("manifest.tsv"),
      Iterator(s"files\t$files", s"bytes\t$bytes", s"sha256\t$hash"))
  }
}

object Manifest {
  /** (files, bytes, sha256) over the non-hidden files under `dir`,
    * excluding the manifest itself. Parquet files enter the hash as their
    * rows: parquet-mr writes a column's encoding set in hash order, so
    * the footer bytes of the same rows differ from one JVM to the next. */
  def digest(dir: Path): (Int, Long, String) = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val files = {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(p => p.getFileName.toString.startsWith(".") ||
          p.getFileName.toString == "manifest.tsv").toSeq
        .sortBy(p => dir.relativize(p).toString)
      finally s.close()
    }
    var bytes = 0L
    files.foreach { p =>
      md.update(dir.relativize(p).toString.getBytes(UTF_8))
      bytes += Files.size(p)
      if (p.toString.endsWith(".parquet")) ParquetOut.rows(p).foreach(r => md.update(r.getBytes(UTF_8)))
      else md.update(Files.readAllBytes(p))
    }
    (files.length, bytes, md.digest().map("%02x".format(_)).mkString)
  }
  private implicit class JIt[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext; def next(): T = it.next()
    }
  }

  def read(dir: Path): Map[String, String] =
    scala.io.Source.fromFile(dir.resolve("manifest.tsv").toFile, "UTF-8")
      .getLines().map(_.split("\t", 2)).map(a => a(0) -> a(1)).toMap
}
