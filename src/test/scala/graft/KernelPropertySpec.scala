package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{DnaOps, TextKernelOps}
import org.apache.spark.unsafe.types.UTF8String

/** Property-based checks of the scalar kernels (pure JVM, no Spark). */
class KernelPropertySpec extends AnyFunSuite {

  private def holds(p: Prop): Boolean =
    SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p).passed

  private val dnaGen: Gen[String] =
    Gen.listOf(Gen.oneOf('A', 'C', 'G', 'T', 'a', 'c', 'g', 't', 'N'))
      .map(_.mkString)

  test("reverse complement is an involution (modulo case)") {
    assert(holds(Prop.forAll(dnaGen) { s =>
      val rc = DnaOps.reverseComplement(UTF8String.fromString(s)).toString
      DnaOps.reverseComplement(UTF8String.fromString(rc)).toString ==
        s.toUpperCase
    }))
  }

  test("translate emits exactly len/3 residues and X only for N codons") {
    assert(holds(Prop.forAll(dnaGen) { s =>
      val aa = DnaOps.translate(UTF8String.fromString(s)).toString
      aa.length == s.length / 3 &&
        aa.zipWithIndex.forall { case (c, i) =>
          val codon = s.substring(3 * i, 3 * i + 3).toUpperCase
          (c == 'X') == codon.exists(ch => !"ACGT".contains(ch))
        }
    }))
  }

  private val textGen: Gen[String] =
    Gen.listOf(Gen.frequency(
      6 -> Gen.alphaLowerChar, 2 -> Gen.const(' '), 1 -> Gen.const('\t'),
      1 -> Gen.oneOf('.', ',', '!', 'Z'))).map(_.mkString)

  test("chromosome normalization: total function, stable outputs") {
    import graft.operators.VcfParser.normalizeChr
    val chrGen = Gen.oneOf(
      Gen.choose(1, 99).map(_.toString),
      Gen.choose(1, 99).map("chr" + _),
      Gen.oneOf("chrM", "M", "chrX", "Y", "Un", "scaffold_12", "NC_005100.4",
        "chrUn_xx", "c7"))
    assert(holds(Prop.forAll(chrGen) { raw =>
      val out = normalizeChr(raw, Map.empty)
      // accepted names are 1-2 chars, never 'M' (maps to MT), no 'r'
      out.forall(c => c.nonEmpty && c.length <= 2 && c != "M" &&
        !c.contains("r")) &&
        // idempotence: a normalized name re-normalizes to itself
        out.forall(c => normalizeChr(c, Map.empty).contains(
          if (c == "MT") "MT" else c))
    }))
  }

  test("Md5Genome chunks compose: chunk(a,b) + chunk(b+1,c) = chunk(a,c)") {
    import graft.operators.TranscriptAnnotator.Md5Genome
    val g = Md5Genome()
    val gen = for {
      a <- Gen.choose(1L, 100000L)
      len1 <- Gen.choose(0, 20)
      len2 <- Gen.choose(0, 20)
    } yield (a, a + len1, a + len1 + 1 + len2)
    assert(holds(Prop.forAll(gen) { case (a, b, c) =>
      g.chunk("5", a, b) + g.chunk("5", b + 1, c) == g.chunk("5", a, c)
    }))
  }

  test("variant typing and endPos are consistent (span ≥ 0, type-specific)") {
    import org.apache.spark.sql.functions.col
    val spark = TestSpark.spark
    import spark.implicits._
    val pairs = (for { r <- Seq("", "A", "AC", "ACG", "ACGT")
                       v <- Seq("", "G", "GT", "GTA", "GTAC") } yield (r, v))
    val df = pairs.toDF("r", "v")
    val out = df.select(
      graft.functions.VariantF.variantType(col("r"), col("v")).as("t"),
      (graft.functions.VariantF.endPos(org.apache.spark.sql.functions.lit(1000L),
        col("r"), col("v")) - 1000L).as("span"),
      col("r"), col("v")).collect()
    out.foreach { row =>
      val (t, span, r) = (row.getString(0), row.getLong(1), row.getString(2))
      assert(span >= 0)
      t match {
        case "insertion" => assert(span == 0 && r.isEmpty)
        case "deletion"  => assert(span == r.length)
        case "snv"       => assert(span == 1)
      }
    }
  }

  test("parseLine emits rows only for lines that pass the shared gate") {
    import graft.operators.VcfParser
    // random VCF-ish lines spanning every gate branch: header, short,
    // bad chr, multi-allelic ALT, AD/DP-less FORMAT
    val cell = Gen.oneOf("0/1:3,4:7", "1/1:0,9:9", "0/0:5,0:5", "./.", "0/1:99")
    val lineGen = for {
      chr <- Gen.oneOf("1", "chr2", "scaffold_9", "Un", "#x", "M")
      alt <- Gen.oneOf("C", "C,G")
      fmt <- Gen.oneOf("GT:AD:DP", "GT:PL", "GT:AD")
      c1 <- cell
      c2 <- cell
      short <- Gen.oneOf(true, false)
    } yield
      if (short) s"$chr\t100\t.\tA"
      else Seq(chr, "100", ".", "A", alt, "10", "PASS", ".", fmt, c1, c2)
        .mkString("\t")
    val strains = Array("S1", "S2")
    assert(holds(Prop.forAll(lineGen) { line =>
      val gate = VcfParser.gateLine(line, missingADDP = false, Map.empty)
      val rows = VcfParser.parseLine(line, strains, sameAsRef = false)
      val tallies = gate.map { g =>
        (0 until math.min(strains.length, g.v.length - 9)).size
      }.getOrElse(0)
      // no gate -> no rows and no tallies; gate passed -> every emitted
      // row's strain is one of the tallied cells
      (gate.isEmpty && rows.isEmpty && tallies == 0) ||
        (gate.nonEmpty && rows.forall(r => strains.contains(r.strain)))
    }))
  }

  test("normText is idempotent and matches the regex formulation") {
    assert(holds(Prop.forAll(textGen) { s =>
      val k = TextKernelOps.normText(UTF8String.fromString(s)).toString
      val ref = s.trim.toLowerCase.replaceAll("\\s+", " ")
      k == ref &&
        TextKernelOps.normText(UTF8String.fromString(k)).toString == k
    }))
  }

  test("countWord matches the regex length-difference formula") {
    val wordGen = Gen.oneOf("the", "and", "der", "a")
    assert(holds(Prop.forAll(textGen, wordGen) { (s, w) =>
      val k = TextKernelOps.countWord(UTF8String.fromString(s), w)
      val removed = s.replaceAll(s"\\b$w\\b", "")
      k == (s.length - removed.length) / w.length
    }))
    // the several-word form is the sum of the one-word counts
    val ws = Array("the", "and", "der", "a")
    assert(holds(Prop.forAll(textGen) { s =>
      val u = UTF8String.fromString(s)
      TextKernelOps.countWords(u, ws) == ws.map(TextKernelOps.countWord(u, _)).sum
    }))
  }

  test("shingles are distinct, length-n substrings") {
    assert(holds(Prop.forAll(textGen, Gen.choose(2, 5)) { (s, n) =>
      val arr = graft.functions.ShingleOps
        .shingles(UTF8String.fromString(s), n)
      val out = (0 until arr.numElements())
        .map(i => arr.getUTF8String(i).toString)
      out.forall(_.length == n) &&
        out.distinct == out &&
        out.toSet == (if (s.length < n) Set.empty
          else s.sliding(n).toSet)
    }))
  }

  /** Packing 16 bits per code unit is injective for n ≤ 4, so the packed
    * set must be exactly the string shingle set mapped through the
    * packing — the equivalence the ngramJaccardPairs long fast path
    * rides on. */
  test("packedShingles is the string shingle set under char16 packing") {
    def pack(g: String): Long = g.foldLeft(0L)((v, c) => (v << 16) | c)
    assert(holds(Prop.forAll(textGen, Gen.choose(2, 4)) { (s, n) =>
      val arr = graft.functions.ShingleOps
        .packedShingles(UTF8String.fromString(s), n)
      val out = (0 until arr.numElements()).map(arr.getLong)
      out.distinct == out &&
        out.toSet == (if (s.length < n) Set.empty[Long]
          else s.sliding(n).map(pack).toSet)
    }))
  }

  test("intersectCountLong equals the set-intersection size") {
    assert(holds(Prop.forAll(textGen, textGen) { (a, b) =>
      val pa = graft.functions.ShingleOps
        .packedShingles(UTF8String.fromString(a), 3)
      val pb = graft.functions.ShingleOps
        .packedShingles(UTF8String.fromString(b), 3)
      val want =
        (if (a.length < 3) Set.empty[String] else a.sliding(3).toSet)
          .intersect(
            if (b.length < 3) Set.empty[String] else b.sliding(3).toSet)
          .size
      graft.functions.ArraySetOps.intersectCountLong(pa, pb) == want
    }))
  }
}
