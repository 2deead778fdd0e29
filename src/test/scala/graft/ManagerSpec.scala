package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end checks for the Manager CLI dispatch: temp files in, parquet
  * out, driven through runTool with the shared test session. */
class ManagerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmpDir(): String =
    Files.createTempDirectory("graft-manager").toString

  private def writeText(name: String, text: String): String = {
    val p = Files.createTempDirectory("graft-in").resolve(name)
    Files.writeString(p, text)
    p.toString
  }

  test("VcfConverter2 tool: VCF file to common-format parquet") {
    val vcf = writeText("a.vcf",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\n" +
        "1\t100\t.\tA\tC\t10\tPASS\t.\tGT:AD:DP\t0/1:3,4:7\n" +
        "1\t200\t.\tG\tT\t10\tPASS\t.\tGT:AD:DP\t1/1:0,9:9\n")
    val out = tmpDir()
    Manager.runTool(spark, "VcfConverter2",
      Array("--inputFile", vcf, "--outDir", out))
    val df = spark.read.parquet(s"$out/common_format2")
    assert(df.count() == 2)
    assert(df.columns.contains("allele_depth"))
  }

  test("GenotypeCounts tool: per-strain tallies from the header strains") {
    val vcf = writeText("b.vcf",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2\n" +
        "1\t100\t.\tA\tC\t10\tPASS\t.\tGT:AD:DP\t0/1:3,4:7\t./.\n")
    val out = tmpDir()
    Manager.runTool(spark, "GenotypeCounts",
      Array("--inputFile", vcf, "--outDir", out))
    val rows = spark.read.parquet(s"$out/genotype_counts")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rows == Map(("S1", "0/1") -> 1L, ("S2", "./.") -> 1L))
  }

  test("ConservationScore tool: wiggle to (chr,pos,score) parquet") {
    val wig = writeText("c.wig",
      "fixedStep chrom=chr1 start=100 step=1\n0.5\n0.25\n")
    val out = tmpDir()
    Manager.runTool(spark, "ConservationScore",
      Array("--inputFile", wig, "--outDir", out))
    assert(spark.read.parquet(s"$out/conservation").count() == 2)
  }

  test("VariantLoad3 tool: parse + score to variants parquet") {
    val vcf = writeText("d.vcf",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\n" +
        "1\t100\trs1\tA\tG\t50\tPASS\t.\tGT:AD:DP\t1/1:0,10:10\n")
    val out = tmpDir()
    Manager.runTool(spark, "VariantLoad3",
      Array("--inputFile", vcf, "--outDir", out, "--genders", "S1=M"))
    val r = spark.read.parquet(s"$out/variants").collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[String]("variant_type") == "snv")
    assert(row.getAs[Long]("quality_score") == 100L)
    assert(row.getAs[String]("zygosity_status") == "homozygous")
  }

  test("VariantLoad3 tool: each file's rows carry its own header's strains") {
    val dir = Files.createTempDirectory("graft-in")
    for ((f, strain, pos) <- Seq(("a.vcf", "S1", 100), ("b.vcf", "S2", 200)))
      Files.writeString(dir.resolve(f), "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\t" +
        s"FORMAT\t$strain\n1\t$pos\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t1/1:0,10:10\n")
    val out = tmpDir()
    Manager.runTool(spark, "VariantLoad3", Array("--inputFile", dir.toString, "--outDir", out))
    val got = spark.read.parquet(s"$out/variants").collect()
      .map(r => r.getAs[Int]("pos") -> r.getAs[String]("strain")).toMap
    assert(got == Map(100 -> "S1", 200 -> "S2"))
  }

  test("FrameShiftFixUp tool: recomputed column over a variants parquet") {
    val dir = tmpDir()
    import spark.implicits._
    Seq(("AC", "A"), ("A", "G")).toDF("ref_nuc", "var_nuc")
      .write.parquet(s"$dir/in")
    val out = tmpDir()
    Manager.runTool(spark, "FrameShiftFixUp",
      Array("--variants", s"$dir/in", "--outDir", out))
    val fs = spark.read.parquet(s"$out/frame_shift_fixup")
      .collect().map(r => r.getAs[String]("ref_nuc") ->
        r.getAs[String]("frame_shift_computed")).toMap
    assert(fs("AC") == "T" && fs("A") == "F")
  }

  test("VariantRatLoaderFromDb tool: self re-load is idempotent") {
    val dir = tmpDir()
    import spark.implicits._
    Seq(("1", 100L, 101L, "A", "G", "snv", 11L),
        ("1", 200L, 201L, "C", "T", "snv", 12L),
        ("2", 300L, 303L, "ACG", "", "del", 13L))
      .toDF("chr", "pos", "end_pos", "ref_nuc", "var_nuc", "variant_type",
        "variant_id")
      .write.parquet(s"$dir/store")
    val out = tmpDir()
    Manager.runTool(spark, "VariantRatLoaderFromDb",
      Array("--variants", s"$dir/store", "--outDir", out))
    val r = spark.read.parquet(s"$out/reload").collect()
    assert(r.length == 3)
    assert(r.forall(_.getAs[String]("merge_action") == "already_in_rgd"),
      "self re-load must produce zero inserts")
    assert(r.forall(x =>
      x.getAs[Long]("assigned_id") == x.getAs[Long]("existing_id")),
      "matches must keep their store ids")
  }

  test("VariantRatLoaderFromDb tool: new batch rows insert, --chr filters") {
    val dir = tmpDir()
    import spark.implicits._
    Seq(("1", 100L, 101L, "A", "G", "snv", 11L))
      .toDF("chr", "pos", "end_pos", "ref_nuc", "var_nuc", "variant_type",
        "variant_id")
      .write.parquet(s"$dir/store")
    // batch: the stored variant + one novel + one on another chromosome
    Seq(("1", 100L, 101L, "A", "G", "snv"),
        ("1", 500L, 501L, "G", "C", "snv"),
        ("2", 900L, 901L, "T", "A", "snv"))
      .toDF("chr", "pos", "end_pos", "ref_nuc", "var_nuc", "variant_type")
      .write.parquet(s"$dir/batch")
    val out = tmpDir()
    Manager.runTool(spark, "VariantRatLoaderFromDb",
      Array("--variants", s"$dir/store", "--batch", s"$dir/batch",
        "--chr", "1", "--outDir", out))
    val r = spark.read.parquet(s"$out/reload").collect()
    assert(r.length == 2, "--chr 1 must drop the chr-2 batch row")
    val byPos = r.map(x => x.getAs[Long]("pos") -> x).toMap
    assert(byPos(100L).getAs[String]("merge_action") == "already_in_rgd")
    assert(byPos(100L).getAs[Long]("assigned_id") == 11L)
    assert(byPos(500L).getAs[String]("merge_action") == "insert")
    assert(byPos(500L).isNullAt(byPos(500L).fieldIndex("existing_id")))
  }

  test("GenicStatusFixUp tool: recompute + fixup action vs stored column") {
    val dir = tmpDir()
    import spark.implicits._
    // pos 150 sits inside the gene range, 500 does not; the stored
    // column is wrong for the second row
    Seq(("1", 150L, "genic"), ("1", 500L, "genic"))
      .toDF("chr", "pos", "genic_status").write.parquet(s"$dir/v")
    Seq(("1", 100L, 200L)).toDF("chr", "gstart", "gstop")
      .write.parquet(s"$dir/g")
    val out = tmpDir()
    Manager.runTool(spark, "GenicStatusFixUp",
      Array("--variants", s"$dir/v", "--genes", s"$dir/g", "--outDir", out))
    val r = spark.read.parquet(s"$out/genic_status_fixup")
      .collect().map(x => x.getAs[Long]("pos") ->
        (x.getAs[String]("genic_status_computed"),
          x.getAs[String]("fixup_action"))).toMap
    assert(r == Map(150L -> ("genic", "up_to_date"),
      500L -> ("intergenic", "update")))
  }

  test("VariantPostProcessing tool: GFF3 + FASTA to variant_transcripts; " +
      "--verifyIfInRgd drops loaded pairs") {
    import spark.implicits._
    // chr 1: 100 A's, then ATG GGG TAA (CDS 101-109), coding '+' transcript
    val fasta = writeText("g.fa", ">1\n" + ("A" * 100) + "ATGGGGTAA\n")
    val gff = writeText("m.gff3", Seq(
      "##gff-version 3",
      "1\tx\tgene\t101\t109\t.\t+\t.\tID=g1",
      "1\tx\tmRNA\t101\t109\t.\t+\t.\tID=t1;Parent=g1",
      "1\tx\texon\t101\t109\t.\t+\t.\tID=e1;Parent=t1").mkString("\n") + "\n")
    val dir = tmpDir()
    // A->G at pos 101: ATG -> GTG, M -> V nonsynonymous
    Seq((1L, "1", 101L, "A", "G"))
      .toDF("var_id", "chr", "pos", "ref_nuc", "var_nuc")
      .write.parquet(s"$dir/v")
    val out = tmpDir()
    Manager.runTool(spark, "VariantPostProcessing",
      Array("--variants", s"$dir/v", "--gff3", gff, "--fasta", fasta,
        "--outDir", out))
    val r = spark.read.parquet(s"$out/variant_transcripts").collect()
    assert(r.length == 1)
    assert(r.head.getAs[String]("ref_aa") == "M")
    assert(r.head.getAs[String]("var_aa") == "V")
    assert(r.head.getAs[String]("syn_status") == "nonsynonymous")
    // feeding the output back as the loaded set drops everything
    val out2 = tmpDir()
    Manager.runTool(spark, "VariantPostProcessing",
      Array("--variants", s"$dir/v", "--gff3", gff, "--fasta", fasta,
        "--outDir", out2, "--verifyIfInRgd", s"$out/variant_transcripts"))
    assert(spark.read.parquet(s"$out2/variant_transcripts").count() == 0)
  }

  test("Polyphen + PolyphenFasta + PolyphenLoader tools: the round trip") {
    import spark.implicits._
    val dir = tmpDir()
    // one nonsynonymous record (kept) and one synonymous (dropped)
    Seq((1L, 10L, "P1", 3L, "M", "V", "Gx", "+", "AAMRR", "nonsynonymous"),
        (2L, 10L, "P2", 1L, "K", "K", "Gy", "+", "KRR", "synonymous"))
      .toDF("variant_id", "tr_id", "protein_id", "aa_pos", "ref_aa",
        "var_aa", "gene_symbol", "strand", "protein_seq", "syn_status")
      .write.parquet(s"$dir/ann")
    val out = tmpDir()
    Manager.runTool(spark, "Polyphen",
      Array("--annotations", s"$dir/ann", "--outDir", out))
    val in = spark.read.parquet(s"$out/polyphen_input").collect()
    assert(in.length == 1)
    assert(in.head.getAs[String]("input_line") == "P1 3 M V")
    // the alias dispatches the same flow
    val outAlias = tmpDir()
    Manager.runTool(spark, "Polyphen2",
      Array("--annotations", s"$dir/ann", "--outDir", outAlias))
    assert(spark.read.parquet(s"$outAlias/polyphen_input").count() == 1)
    // PolyphenFasta: P2 missing from the known set -> one FASTA record
    Seq(("P1", "AAMRR"), ("P2", "KRR")).toDF("protein_id", "protein_seq")
      .write.parquet(s"$dir/att")
    Seq(Tuple1("P1")).toDF("protein_id").write.parquet(s"$dir/known")
    val outF = tmpDir()
    Manager.runTool(spark, "PolyphenFasta",
      Array("--attempted", s"$dir/att", "--known", s"$dir/known",
        "--outDir", outF))
    val fa = spark.read.parquet(s"$outF/polyphen_fasta")
      .orderBy("line_no").collect().map(_.getAs[String]("line"))
    assert(fa.toSeq == Seq(">P2", "KRR"))
    // PolyphenLoader: 16-column TSV joins back on (protein,pos,aa1,aa2)
    val cols = Array.fill(16)("")
    cols(0) = "P1"; cols(1) = "3"; cols(2) = "M"; cols(3) = "V"
    cols(5) = "U1"; cols(7) = "M"; cols(8) = "V"; cols(11) = "probably damaging"
    cols(12) = "alignment"; cols(13) = "x"; cols(14) = "damaging"
    cols(15) = "0.98"
    val tsv = writeText("r.tsv",
      "#header\n" + cols.mkString("\t") + "\n")
    Seq(("P1", 3L, "M", "V", 1L))
      .toDF("protein_id", "aa_pos", "ref_aa", "var_aa", "variant_id")
      .write.parquet(s"$dir/info")
    val outL = tmpDir()
    Manager.runTool(spark, "PolyphenLoader",
      Array("--results", tsv, "--info", s"$dir/info", "--outDir", outL))
    val pred = spark.read.parquet(s"$outL/polyphen_predictions").collect()
    assert(pred.length == 1)
    assert(pred.head.getAs[String]("prediction") == "probably damaging")
    assert(pred.head.getAs[Long]("variant_id") == 1L)
  }

  test("ClinVar2Vcf / DbSnp2Vcf / GwasCat2Vcf tools: VCF text lines out") {
    import spark.implicits._
    val dir = tmpDir()
    // second row fails allele QC (non-ACGTN ref) and must drop
    Seq(("1", 100L, 7L, "nm", "A", "G", "rs5"),
        ("1", 200L, 8L, "nm2", "XX", "G", null))
      .toDF("chr", "pos", "rgd_id", "name", "ref_nuc", "var_nuc", "rs_id")
      .write.parquet(s"$dir/cv")
    val out = tmpDir()
    Manager.runTool(spark, "ClinVar2Vcf",
      Array("--input", s"$dir/cv", "--outDir", out))
    val lines = spark.read.textFile(s"$out/vcf").collect()
    assert(lines.length == 1)
    assert(lines.head.startsWith("1\t100\tRGDID:7;nm\tA\tG\tPASS\t"))
    assert(lines.head.contains("DB:rs5"))
    // ClinVar2Vcf.java:83 object-type gate: only the five listed types
    // survive when the input carries object_type (microsatellite added
    // Feb 2025 per changes.txt); CNVs/inversions drop even with clean
    // alleles
    Seq(("1", 100L, 7L, "nm", "A", "G", "rs5", "single nucleotide variant"),
        ("1", 110L, 9L, "nm3", "A", "G", "rs6", "copy number gain"),
        ("1", 120L, 10L, "nm4", "A", "G", "rs7", "inversion"),
        ("1", 130L, 11L, "nm5", "ACA", "A", null, "microsatellite"))
      .toDF("chr", "pos", "rgd_id", "name", "ref_nuc", "var_nuc", "rs_id",
        "object_type")
      .write.parquet(s"$dir/cvt")
    val outT = tmpDir()
    Manager.runTool(spark, "ClinVar2Vcf",
      Array("--input", s"$dir/cvt", "--outDir", outT))
    val typed = spark.read.textFile(s"$outT/vcf").collect().sorted
    assert(typed.length == 2, s"type gate failed: ${typed.mkString("; ")}")
    assert(typed(0).startsWith("1\t100\tRGDID:7;nm\tA\tG\t"))
    assert(typed(1).startsWith("1\t130\tRGDID:11;nm5\tACA\tA\t"))
    // dbSnp: ID = snp name, empty INFO slot
    Seq(("2", 300L, "rs9", "C", "T"))
      .toDF("chr", "pos", "snp_name", "ref_nuc", "var_nuc")
      .write.parquet(s"$dir/ds")
    val out2 = tmpDir()
    Manager.runTool(spark, "DbSnp2Vcf",
      Array("--input", s"$dir/ds", "--outDir", out2))
    val l2 = spark.read.textFile(s"$out2/vcf").collect()
    assert(l2.length == 1 && l2.head.startsWith("2\t300\trs9\tC\tT\t"))
    // gwas: same line shape keyed by the snps field
    Seq(("3", 400L, "rs11", "G", "A"))
      .toDF("chr", "pos", "snps", "ref_nuc", "var_nuc")
      .write.parquet(s"$dir/gw")
    val out3 = tmpDir()
    Manager.runTool(spark, "GwasCat2Vcf",
      Array("--input", s"$dir/gw", "--outDir", out3))
    assert(spark.read.textFile(s"$out3/vcf").collect()
      .head.startsWith("3\t400\trs11\tG\tA\t"))
  }

  test("every reference Manager.java tool name dispatches") {
    // Manager.java:30-84's switch: each name must be wired (anything
    // unknown throws "unknown tool"; missing-arg errors prove dispatch)
    val refTools = Seq("VariantRatLoaderFromDb", "VcfConverter2",
      "Vcf8ColConverter2", "VariantLoad3", "VariantPostProcessing",
      "Polyphen", "Polyphen2", "PolyphenFasta", "PolyphenLoader",
      "PolyphenLoader2", "VariantTypeFixUp", "FrameShiftFixUp",
      "GenicStatusFixUp", "ClinVar2Vcf", "DbSnp2Vcf", "ConservationScore",
      "GwasCat2Vcf")
    for (t <- refTools) {
      val e = intercept[IllegalArgumentException] {
        Manager.runTool(spark, t, Array.empty)
      }
      assert(e.getMessage.startsWith("missing --"),
        s"$t did not dispatch: ${e.getMessage.linesIterator.next()}")
    }
  }

  test("--props supplies defaults: scoped beats bare, CLI beats both, " +
      "flags load as =true") {
    import spark.implicits._
    val dir = tmpDir()
    Seq(("AC", "A")).toDF("ref_nuc", "var_nuc").write.parquet(s"$dir/scoped")
    Seq(("A", "G")).toDF("ref_nuc", "var_nuc").write.parquet(s"$dir/bare")
    val outScoped = tmpDir()
    val props = writeText("m.properties", Seq(
      s"variants=$dir/bare",
      s"FrameShiftFixUp.variants=$dir/scoped",
      s"outDir=$outScoped",
      "VcfConverter2.ADDP=true").mkString("\n") + "\n")
    // no CLI args beyond --props: the scoped variants path wins
    Manager.runTool(spark, "FrameShiftFixUp", Array("--props", props))
    assert(spark.read.parquet(s"$outScoped/frame_shift_fixup")
      .collect().head.getAs[String]("ref_nuc") == "AC")
    // CLI overrides the props value
    val outCli = tmpDir()
    Manager.runTool(spark, "FrameShiftFixUp",
      Array("--props", props, "--variants", s"$dir/bare", "--outDir", outCli))
    assert(spark.read.parquet(s"$outCli/frame_shift_fixup")
      .collect().head.getAs[String]("ref_nuc") == "A")
    // a flag arriving via props: ADDP lets an AD/DP-less variant line
    // through the converter (dropped without the flag)
    val vcf = writeText("p.vcf",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\n" +
        "1\t100\t.\tA\tC\t10\tPASS\t.\tGT\t0/1\n")
    val outF = tmpDir()
    Manager.runTool(spark, "VcfConverter2",
      Array("--props", props, "--inputFile", vcf, "--outDir", outF))
    assert(spark.read.parquet(s"$outF/common_format2").count() == 1,
      "props-supplied ADDP flag must let the DP-less line through")
    val outNoF = tmpDir()
    Manager.runTool(spark, "VcfConverter2",
      Array("--inputFile", vcf, "--outDir", outNoF))
    assert(spark.read.parquet(s"$outNoF/common_format2").count() == 0,
      "without the flag the DP-less line drops")
  }

  test("unknown tool and missing option fail with usage") {
    val e = intercept[IllegalArgumentException] {
      Manager.runTool(spark, "NoSuchTool", Array.empty)
    }
    assert(e.getMessage.contains("unknown tool"))
    val m = intercept[IllegalArgumentException] {
      Manager.runTool(spark, "VcfConverter2", Array("--outDir", "/tmp/x"))
    }
    assert(m.getMessage.contains("missing --inputFile"))
  }

  test("Bench CLI: /-prefixed arg is the sf dir, the rest filter queries") {
    assert(Bench.parseArgs(Array[String]()) == ((None, Set.empty[String])))
    assert(Bench.parseArgs(Array("/root/testdata/sf0.01", "q1_pricing_summary")) ==
      ((Some("/root/testdata/sf0.01"), Set("q1_pricing_summary"))))
    // path position is free (Bench-only convention; Verify itself is
    // strictly positional) and env-only (no path) still works
    assert(Bench.parseArgs(Array("ann_pq", "/data/sf1", "ann_ivf")) ==
      ((Some("/data/sf1"), Set("ann_pq", "ann_ivf"))))
  }

  test("Bench contamination: a slow mid-sentinel flips the flag") {
    val F = Bench.SentinelFloorSec
    // the r10 quiet-box run: pre/post sentinel well under 1.25x floor,
    // mid probes in their normal post-query 0.26-0.49 s band, loadavg
    // low before launch — clean
    val quietMids = Seq(0.31, 0.28, 0.42, 0.35, 0.30, 0.44, 0.27)
    assert(!Bench.contaminatedFlag(0.06, quietMids, 0.6, 32))
    // ONE mid-run load burst (a concurrent 32-thread job lands a probe
    // at multiples of the idle floor) must stamp the artifact — the r9
    // failure mode: 16 phantom >2x flags and nothing in the artifact
    // recording the burst. Both spike tests fire here: 3.2 s is >3x the
    // run's own mid-median and >8x the idle floor.
    assert(Bench.contaminatedFlag(0.06, quietMids :+ 3.2, 0.6, 32))
    // a spike relative to the run's own baseline flags even when it
    // stays under the absolute 8x-floor bar
    assert(Bench.contaminatedFlag(0.06, Seq(0.30, 0.28, 0.31, 1.0), 0.6, 32))
    // uniform mid samples at the steady post-query level do NOT flag
    // (absolute thresholds against the idle floor false-positive every
    // run — the r10 calibration)
    assert(!Bench.contaminatedFlag(0.06, Seq(0.45, 0.49, 0.46), 0.6, 32))
    // the two non-mid signals still fire on their own: slow pre/post
    // sentinel; pre-existing box load above cpus/8
    assert(Bench.contaminatedFlag(1.26 * F, quietMids, 0.6, 32))
    assert(Bench.contaminatedFlag(0.06, quietMids, 9.0, 32))
    // no mids at all (short filtered runs probe nothing) → pre/post
    // sentinel alone decides
    assert(!Bench.contaminatedFlag(0.06, Nil, 0.6, 32))
  }

  test("Bench contamination: the r11 close-run meta self-identifies") {
    // replay of the ACTUAL r11 artifacts (VERDICT r11 item 4).
    // Driver close run: loadavg_pre 5.24 on 32 cores passed the old
    // cpus/4 gate while four sub-second queries read >2x their floors
    // from box load alone — must now flag.
    val r11CloseMids =
      Seq(0.2652, 0.4527, 0.2946, 0.2455, 0.2518, 0.2489, 0.3097,
        0.2603, 0.2556)
    assert(Bench.contaminatedFlag(0.068781884, r11CloseMids, 5.24, 32))
    // Judge quiet-box run the same session: loadavg_pre 1.27 — must
    // stay clean under the tightened gate.
    val r11QuietMids =
      Seq(0.2515, 0.3366, 0.2484, 0.3818, 0.4784, 0.3979, 0.2495,
        0.2272, 0.3118)
    assert(!Bench.contaminatedFlag(0.0581607, r11QuietMids, 1.27, 32))
  }

  test("Bench busy cores: literal /proc/stat lines, a quiet 4-core box") {
    val cpus = (0 to 3).map(i => s"\ncpu$i 0 0 0 0 0 0 0 0 0 0").mkString
    // 400 ticks: user 60 + nice 10 + system 20 + softirq 10 busy; idle
    // 250, iowait 10 and steal 40 not: a quarter of 4 cores
    assert(Bench.busyCores("cpu  1000 0 200 5000 10 0 50 30 0 0" + cpus,
      "cpu  1060 10 220 5250 20 0 60 70 0 0" + cpus) == 1.0)
    assert(Bench.busyCores("", cpus) == -1.0)
    // a quiet second, 6 busy ticks of 400: clean, where the 0.6 loadavg
    // a previous run leaves behind is over the 4-core gate of 0.5
    val quiet = Bench.busyCores(
      "cpu  8233029 0 404454 20084781 3075 0 174951 234971 0 0" + cpus,
      "cpu  8233033 0 404456 20085173 3075 0 174951 234973 0 0" + cpus)
    assert(math.abs(quiet - 0.06) < 1e-9)
    assert(!Bench.contaminatedFlag(0.06, Nil, quiet, 4))
    assert(Bench.contaminatedFlag(0.06, Nil, 0.6, 4))
  }

  test("Bench artifacts: filtered runs get their own collision-safe file") {
    // VERDICT r11 item 3: a filtered adjudication run overwrote the
    // full-suite BENCH_FULL.json twice. The artifact name is a pure
    // function of the filter set: full → BENCH_FULL.json, filtered →
    // a BENCH_FILTERED_<hash>.json stable under ordering.
    assert(Bench.artifactFile(Set.empty) == "BENCH_FULL.json")
    val a = Bench.artifactFile(Set("ann_pq", "ann_ivf"))
    val b = Bench.artifactFile(Set("ann_ivf", "ann_pq"))
    assert(a == b && a.startsWith("BENCH_FILTERED_") &&
      a.endsWith(".json"))
    assert(Bench.artifactFile(Set("dedup_exact")) != a)
  }
}
