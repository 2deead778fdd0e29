package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VcfParser

class VcfParserSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val vcf = Seq(
    "##fileformat=VCFv4.2",
    "##contig=<ID=1>",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tSHR\tBN",
    // simple het snv for SHR; BN missing genotype
    "1\t100\trs1\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:7,3:10\t./.",
    // hom alt for both
    "2\t200\t.\tC\tT\t99\tPASS\t.\tGT:AD:DP\t1/1:0,9:9\t1/1:1,8:9",
    // multi-allelic ALT -> skipped entirely
    "1\t300\t.\tA\tG,T\t10\tPASS\t.\tGT:AD:DP\t0/1:5,2,1:8\t0/0:8,0,0:8",
    // 0/0 genotype -> dropped for that strain
    "3\t400\t.\tG\tA\t10\tPASS\t.\tGT:AD:DP\t0/0:9,0:9\t0/1:4,4:8",
    // AD='.' handled as zeros
    "4\t500\t.\tT\tC\t10\tPASS\t.\tGT:AD:DP\t1/1:.:5\t./.",
    // no AD/DP in FORMAT -> line skipped (default)
    "5\t600\t.\tA\tC\t10\tPASS\t.\tGT:GQ\t0/1:99\t0/1:99",
    // invalid chromosome name (>2 chars) -> skipped
    "chrUn_xx\t700\t.\tA\tC\t10\tPASS\t.\tGT:AD:DP\t0/1:3,3:6\t./.")

  private lazy val parsed = {
    VcfParser.parse(spark.createDataset(vcf), Seq("SHR", "BN")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3),
        r.getString(4), r.getInt(6), r.getInt(7), r.getInt(8), r.getInt(9),
        r.getInt(10), r.getInt(15)))
  }
  // (strain, chr, pos, ref, var, cA, cC, cG, cT, totalDepth, readDepth)

  test("multi-strain explode with genotype filtering") {
    val byKey = parsed.groupBy(t => (t._1, t._3)).view.mapValues(_.head).toMap
    assert(parsed.length == 5)
    // SHR@100: AD 7,3 -> A=7 G=3
    val shr100 = byKey(("SHR", 100))
    assert(shr100._2 == "1" && shr100._4 == "A" && shr100._5 == "G")
    assert(shr100._6 == 7 && shr100._8 == 3 && shr100._10 == 10 && shr100._11 == 10)
    // BN@100 missing genotype -> absent
    assert(!byKey.contains(("BN", 100)))
    // both strains at 200
    assert(byKey.contains(("SHR", 200)) && byKey.contains(("BN", 200)))
    // multi-allelic 300 absent; 0/0 SHR@400 absent but BN@400 present
    assert(!parsed.exists(_._3 == 300))
    assert(!byKey.contains(("SHR", 400)) && byKey.contains(("BN", 400)))
    // AD='.' -> zero counts, still emitted
    val shr500 = byKey(("SHR", 500))
    assert(shr500._6 == 0 && shr500._9 == 0 && shr500._11 == 0)
    // missing AD/DP and bad chromosome skipped
    assert(!parsed.exists(_._3 == 600) && !parsed.exists(_._3 == 700))
  }

  test("CLCAD2 is accepted as the AD field") {
    val lines = spark.createDataset(Seq(
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
      "1\t10\t.\tA\tC\t9\tPASS\t.\tGT:CLCAD2:DP\t0/1:2,6:8"))
    val out = VcfParser.parse(lines, Seq("S1")).collect()
    assert(out.length == 1)
    assert(out(0).getInt(6) == 2 && out(0).getInt(7) == 6) // count_a, count_c
  }

  test("chromosome normalization: chrM→MT, NC_ accessions, reject contigs") {
    // VcfToCommonFormat2Base.getChromosome semantics
    assert(VcfParser.normalizeChr("chrM", Map.empty).contains("MT"))
    assert(VcfParser.normalizeChr("M", Map.empty).contains("MT"))
    assert(VcfParser.normalizeChr("chrX", Map.empty).contains("X"))
    assert(VcfParser.normalizeChr("c12", Map.empty).contains("12"))
    assert(VcfParser.normalizeChr("Un", Map.empty).isEmpty)
    assert(VcfParser.normalizeChr("scaffold_1", Map.empty).isEmpty)
    assert(VcfParser.normalizeChr("NC_005100.4", Map.empty).isEmpty)
    assert(VcfParser.normalizeChr("NC_005100.4",
      Map("NC_005100.4" -> "2")).contains("2"))
    assert(VcfParser.normalizeChr("NC_fake", Map("NC_fake" -> "M")).contains("MT"))
  }

  test("--ADDP option keeps lines with missing AD/DP, substituting depth 9") {
    val lines = Seq(
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
      "5\t600\t.\tA\tC\t10\tPASS\t.\tGT:GQ\t0/1:99")
    val dropped = VcfParser.parse(spark.createDataset(lines), Seq("S1")).collect()
    assert(dropped.isEmpty)
    val kept = VcfParser.parse(spark.createDataset(lines), Seq("S1"),
      processLinesWithMissingADDP = true).collect()
    assert(kept.length == 1)
    val r = kept.head
    // counts substitute 9 per allele slot; readDepth and totalDepth = 9
    assert(r.getInt(6) == 9 && r.getInt(7) == 9)  // count_a, count_c
    assert(r.getInt(10) == 9 && r.getInt(15) == 9) // total_depth, read_depth
    assert(r.getInt(14) == 9)                      // allele_depth
  }

  test("genotype tally counts './.'/'0/0' but not gate-dropped lines") {
    val lines = Seq(
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2",
      // tallied: S1 0/1, S2 ./.
      "1\t100\t.\tA\tC\t10\tPASS\t.\tGT:AD:DP\t0/1:3,4:7\t./.",
      // tallied: S1 0/0 (then skipped for emission), S2 1/1
      "1\t200\t.\tG\tT\t10\tPASS\t.\tGT:AD:DP\t0/0:5,0:5\t1/1:0,9:9",
      // multi-allelic: dropped at the line gate, nothing tallied
      "1\t300\t.\tA\tC,G\t10\tPASS\t.\tGT:AD:DP\t0/1:1,2,3:6\t1/1:0,4,5:9",
      // AD/DP missing: dropped (no --ADDP), nothing tallied
      "1\t400\t.\tA\tC\t10\tPASS\t.\tGT:PL\t0/1:99\t1/1:55")
    val out = VcfParser.genotypeCounts(spark.createDataset(lines), Seq("S1", "S2"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("S1", "0/1") -> 1L, ("S1", "0/0") -> 1L,
      ("S2", "./.") -> 1L, ("S2", "1/1") -> 1L))
    // with --ADDP the AD/DP-less line passes the gate and tallies
    val withAddp = VcfParser.genotypeCounts(spark.createDataset(lines),
        Seq("S1", "S2"), processLinesWithMissingADDP = true)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(withAddp(("S1", "0/1")) == 2L && withAddp(("S2", "1/1")) == 2L)
  }

  private val hdr = "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT"

  /** Two VCFs with different #CHROM strains in `dir`. */
  private def twoHeaders(dir: Path, a: String = "a.vcf",
                         b: String = "b.vcf"): Path = {
    Files.write(dir.resolve(a), java.util.Arrays.asList(
      "##fileformat=VCFv4.2", s"$hdr\tSHR",
      "1\t100\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:7,3:10"))
    Files.write(dir.resolve(b), java.util.Arrays.asList(
      "##fileformat=VCFv4.2", s"$hdr\tBN\tF344",
      "2\t200\t.\tC\tT\t99\tPASS\t.\tGT:AD:DP\t1/1:0,9:9\t0/1:4,4:8"))
    dir
  }

  private def strainSites(path: String): Set[(String, String, Int)] =
    VcfParser.fromPath(spark, path).select("strain", "chr", "pos")
      .as[(String, String, Int)].collect().toSet

  test("per-file VCF headers bind each file's own strains") {
    val dir = twoHeaders(Files.createTempDirectory("graft_vcf"))
    assert(strainSites(dir.toString) ==
      Set(("SHR", "1", 100), ("BN", "2", 200), ("F344", "2", 200)))
    val tally = VcfParser.genotypeCountsFromPath(spark, dir.toString)
      .as[(String, String, Long)].collect().toSet
    assert(tally == Set(("SHR", "0/1", 1L), ("BN", "1/1", 1L), ("F344", "0/1", 1L)))
  }

  test("fromPath reads the header of a gzipped VCF") {
    val dir = Files.createTempDirectory("graft_vcf_gz")
    val gz = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(dir.resolve("s.vcf.gz")))
    try gz.write(Seq("##fileformat=VCFv4.2", s"$hdr\tWKY",
      "3\t300\t.\tG\tA\t10\tPASS\t.\tGT:AD:DP\t1/1:0,6:6", "")
      .mkString("\n").getBytes("UTF-8"))
    finally gz.close()
    Files.write(dir.resolve("p.vcf"), java.util.Arrays.asList(s"$hdr\tSHR",
      "1\t100\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:7,3:10"))
    assert(strainSites(dir.toString) == Set(("WKY", "3", 300), ("SHR", "1", 100)))
  }

  test("fromPath binds strains under a path that contains a space") {
    val dir = twoHeaders(Files.createDirectory(
      Files.createTempDirectory("graft vcf").resolve("data dir")),
      "a a.vcf", "b b.vcf")
    val want = Set(("SHR", "1", 100), ("BN", "2", 200), ("F344", "2", 200))
    assert(strainSites(dir.toString) == want)
    assert(strainSites(dir.resolve("b b.vcf").toString) ==
      Set(("BN", "2", 200), ("F344", "2", 200)))
  }

  test("building fromPath over a directory of VCFs starts no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val dir = twoHeaders(Files.createTempDirectory("graft_vcf_jobs")).toString
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val built = try {
      sc.setJobGroup("vcf-build", "build fromPath")
      val df = VcfParser.fromPath(spark, dir)
      val counts = VcfParser.genotypeCountsFromPath(spark, dir)
      sc.clearJobGroup()
      ListenerBarrier.await(sc)
      (df, counts)
    } finally sc.removeSparkListener(listener)
    assert(jobs.asScala.count(_._2 == "vcf-build") == 0)
    assert(built._1.count() == 3 && built._2.count() == 3)
  }
}
