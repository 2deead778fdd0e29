package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Conservation, Polyphen, SourceConverters, TranscriptAnnotator}
import graft.sources.FastaGenome

/** Specs for the round-2 source/converter operators: fixedStep wiggle,
  * Polyphen result load-back, source→VCF converters, FASTA genome. */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- Conservation.parseFixedStep ----

  test("wiggle: blocks, steps, chr-prefix strip and contig skip") {
    val lines = Seq(
      "fixedStep chrom=chr1 start=100 step=1",
      "0.5", "0.25",
      "fixedStep chrom=scaffold_77 start=9 step=1",
      "0.9",                                    // unmapped contig: skipped
      "fixedStep chrom=2 start=50 step=5",
      "1.0", "2.0", "3.0").toDS()
    val out = Conservation.parseFixedStep(lines).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == Set(
      ("1", 100L, 0.5), ("1", 101L, 0.25),
      ("2", 50L, 1.0), ("2", 55L, 2.0), ("2", 60L, 3.0)))
  }

  test("wiggle: default step is 1 when the attribute is missing") {
    val lines = Seq("fixedStep chrom=chr3 start=7", "0.1", "0.2").toDS()
    val out = Conservation.parseFixedStep(lines).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out == Set(("3", 7L), ("3", 8L)))
  }

  test("wiggle: chunked lead stitches blocks across chunk boundaries") {
    // chunkWidth=2 puts consecutive declarations in different idx-chunks,
    // exercising the per-chunk-firsts stitch path; interleaved chrs prove
    // blocks end at the next declaration of ANY chromosome
    val lines = Seq(
      "fixedStep chrom=chr1 start=10 step=1",
      "0.1",
      "fixedStep chrom=chr2 start=20 step=2",
      "0.2", "0.3",
      "fixedStep chrom=chr1 start=30 step=1",
      "0.4").toDS()
    for (cw <- Seq(2L, 3L, 1L << 20)) {
      val out = Conservation.parseFixedStep(lines, chunkWidth = cw).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(out == Set(
        ("1", 10L, 0.1), ("2", 20L, 0.2), ("2", 22L, 0.3), ("1", 30L, 0.4)),
        s"chunkWidth=$cw")
    }
  }

  // ---- ChainFile.blocks ----

  test("chain: multi-block offsets, negative strand, optional id, " +
      "quarantined t-strand") {
    import graft.sources.ChainFile
    val lines = Seq(
      // 2 blocks with gaps (dt=5 source, dq=3 target), '+' strand, id 7
      "chain 100 chr1 1000 + 10 40 chrQ 100 + 5 33 7",
      "15 5 3",
      "10",
      "",
      // '-' strand single block, NO trailing id (falls back to line idx)
      "chain 50 chr2 500 + 0 20 chrQ2 100 - 10 30",
      "20",
      "",
      // malformed t-strand: dropped entirely
      "chain 9 chr3 500 - 0 5 chrQ3 100 + 0 5 8",
      "5").toDS()
    val b = ChainFile.blocks(lines).collect()
      .map(r => (r.getAs[Long]("chain_id"), r.getAs[String]("s_chr"),
        r.getAs[Long]("s_start"), r.getAs[Long]("s_stop"),
        r.getAs[Long]("t_first"), r.getAs[Long]("dir"))).toSet
    assert(b == Set(
      // chain 7 block 1: src 0-based 10..25 -> 1-based [11,25], q 5 -> 6
      (7L, "1", 11L, 25L, 6L, 1L),
      // block 2: src 10+15+5=30 -> [31,40], q 5+15+3=23 -> 24
      (7L, "1", 31L, 40L, 24L, 1L),
      // '-' chain (id = header line idx 4): src [1,20]; strand-coord q
      // [10,30) on the reversed seq = forward [71,90] 1-based, source
      // start pairing with the HIGHEST forward position: 100-10 = 90
      (4L, "2", 1L, 20L, 90L, -1L)))
    // lifting through the '-' block walks the target descending:
    // p=1 -> 90, p=20 -> 71; '+' block 2: p=31 -> 24, p=40 -> 33
    def lift(p: Long, blk: (Long, String, Long, Long, Long, Long)) =
      blk._5 + blk._6 * (p - blk._3)
    val neg = b.find(_._1 == 4L).get
    assert(lift(1L, neg) == 90L && lift(20L, neg) == 71L)
    val b2 = b.find(x => x._1 == 7L && x._3 == 31L).get
    assert(lift(31L, b2) == 24L && lift(40L, b2) == 33L)
  }

  test("chain: chunked lead stitches chains across chunk boundaries") {
    import graft.sources.ChainFile
    val lines = Seq(
      "chain 1 chr1 1000 + 0 4 chrQ 100 + 0 4 1",
      "4",
      "chain 1 chr1 1000 + 50 54 chrQ 100 + 10 14 2",
      "4").toDS()
    for (cw <- Seq(1L, 2L, 1L << 20)) {
      val b = ChainFile.blocks(lines, chunkWidth = cw).collect()
        .map(r => (r.getAs[Long]("chain_id"), r.getAs[Long]("s_start"),
          r.getAs[Long]("t_first"))).toSet
      assert(b == Set((1L, 1L, 1L), (2L, 51L, 11L)), s"chunkWidth=$cw")
    }
  }

  test("wiggle: empty input yields empty output (no NPE)") {
    assert(Conservation.parseFixedStep(spark.emptyDataset[String]).count() == 0)
  }

  // ---- Polyphen.parseResults / loadPredictions ----

  private def resultLine(prot: String, pos: Int, oa1: String, oa2: String,
                         a1: String, a2: String, pred: String): String =
    Seq(prot, pos.toString, oa1, oa2, "", s"Q-$prot", "", a1, a2,
      "", "", pred, "alignment", "", "neutral", "0.42").mkString("\t")

  test("polyphen: header dropped, swapped-AA records skipped, fields parsed") {
    val lines = Seq(
      "#o_acc\to_pos\to_aa1\to_aa2",
      resultLine("NP_1", 7, "D", "N", "D", "N", "benign"),
      resultLine("NP_2", 9, "K", "E", "E", "K", "benign") // swapped → skip
    ).toDS()
    val out = Polyphen.parseResults(lines).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("protein_id") == "NP_1")
    assert(r.getAs[Long]("o_pos") == 7L)
    assert(r.getAs[String]("prediction") == "benign")
    assert(r.getAs[Double]("pph2_prob") == 0.42)
  }

  test("polyphen: join-back on (protein, pos, ref, var)") {
    val results = Polyphen.parseResults(Seq(
      resultLine("NP_1", 7, "D", "N", "D", "N", "benign"),
      resultLine("NP_9", 1, "A", "V", "A", "V", "benign") // no info row
    ).toDS())
    val info = Seq(("NP_1", 7L, "D", "N", 1234L, "Fam83h"))
      .toDF("protein_id", "aa_pos", "ref_aa", "var_aa", "variant_id", "gene_symbol")
    val out = Polyphen.loadPredictions(results, info).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("variant_id") == 1234L)
    assert(out.head.getAs[String]("gene_symbol") == "Fam83h")
  }

  test("polyphen input generation: lines, info, fasta, mid-stop QC") {
    val ann = Seq(
      // clean nonsynonymous record
      (1L, 10L, "NP_1", 5L, "A", "V", "Fam1", "+", "MKLAAVTWYRK", "nonsynonymous"),
      // stop codon right after the variant → disqualified
      (2L, 11L, "NP_2", 3L, "K", "E", "Fam2", "-", "MK*LAAVT", "nonsynonymous"),
      // terminal stop only → fine
      (3L, 12L, "NP_3", 2L, "L", "P", "Fam3", "+", "MLAAVT*", "nonsynonymous"),
      // synonymous → not submitted
      (4L, 13L, "NP_4", 2L, "L", "L", "Fam4", "+", "MLAAVT", "synonymous")
    ).toDF("variant_id", "tr_id", "protein_id", "aa_pos", "ref_aa", "var_aa",
      "gene_symbol", "strand", "protein_seq", "syn_status")
    val out = Polyphen.inputRecords(ann).collect()
      .map(r => r.getAs[Long]("variant_id") -> r).toMap
    assert(out.keySet == Set(1L, 3L))
    assert(out(1L).getAs[String]("input_line") == "NP_1 5 A V")
    assert(out(1L).getAs[String]("info_line") ==
      "1\tFam1\tNP_1\t5\tA\tV\t+\t10")
    assert(out(1L).getAs[String]("fasta") == ">NP_1\nMKLAAVTWYRK")
  }

  test("per-file VCF headers bind each file's own strains") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vcf")
    java.nio.file.Files.write(dir.resolve("a.vcf"), java.util.Arrays.asList(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tSHR",
      "1\t100\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:7,3:10"))
    java.nio.file.Files.write(dir.resolve("b.vcf"), java.util.Arrays.asList(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tBN\tF344",
      "2\t200\t.\tC\tT\t99\tPASS\t.\tGT:AD:DP\t1/1:0,9:9\t0/1:4,4:8"))
    val out = graft.operators.VcfParser.fromPathPerFile(spark, dir.toString)
      .select("strain", "chr", "pos").as[(String, String, Int)].collect().toSet
    assert(out == Set(("SHR", "1", 100), ("BN", "2", 200), ("F344", "2", 200)))
  }

  // ---- SourceConverters ----

  test("clinvar line layout matches ClinVar2Vcf.writeVcfLine") {
    val df = Seq((12, 7135L, 628932L, "FAM83H:c.749C>T", "C", "T", "rs12345"))
      .toDF("chr", "pos", "rgd", "name", "ref", "vr", "rs")
    val line = SourceConverters.clinVarToVcf(df, col("chr").cast("string"),
      col("pos"), col("rgd"), col("name"), col("ref"), col("vr"), col("rs"))
      .as[String].head()
    assert(line ==
      "12\t7135\tRGDID:628932;FAM83H:c.749C>T\tC\tT\tPASS\tVALIDATED=1\tDB:rs12345\tGT;AD;DP\t0/1:8,1:9")
  }

  test("allele QC: non-ACGTN dropped, '-' placeholder kept") {
    val df = Seq(
      (1, 10L, 1L, "n", "C", "T", ""),   // ok
      (1, 11L, 2L, "n", "CZ", "T", ""),  // bad ref char
      (1, 12L, 3L, "n", "-", "ACGT", ""),// ins: ok
      (1, 13L, 4L, "n", "", "T", "")     // empty ref: dropped
    ).toDF("chr", "pos", "rgd", "name", "ref", "vr", "rs")
    val out = SourceConverters.clinVarToVcf(df, col("chr").cast("string"),
      col("pos"), col("rgd"), col("name"), col("ref"), col("vr"), col("rs"))
      .as[String].collect()
    assert(out.length == 2)
  }

  test("dbsnp line: snp name id, empty info") {
    val df = Seq((5, 999L, "rs777", "G", "A")).toDF("chr", "pos", "nm", "ref", "vr")
    val line = SourceConverters.dbSnpToVcf(df, col("chr").cast("string"),
      col("pos"), col("nm"), col("ref"), col("vr")).as[String].head()
    assert(line == "5\t999\trs777\tG\tA\tPASS\tVALIDATED=1\t\tGT;AD;DP\t0/1:8,1:9")
  }

  // ---- Fixups ----

  test("fixup recomputes: type ladder, frameshift, genic status") {
    import graft.operators.Fixups
    val df = Seq(
      ("A", "G", "snv", "F"),     // snv, no shift
      ("AC", "-", "snv", "F"),    // dash → del; lenDiff 2 → T
      ("A", "ACGT", "del", "T"),  // ins; lenDiff 3 → F
      ("ACGT", "A", "del", "F")   // del; lenDiff 3 → F
    ).toDF("ref", "vr", "stored_type", "stored_fs")
    val out = df.select(
      Fixups.variantTypeComputed(col("ref"), col("vr")).as("t"),
      Fixups.frameShiftComputed(col("ref"), col("vr")).as("f"),
      Fixups.fixupAction(col("stored_type"),
        Fixups.variantTypeComputed(col("ref"), col("vr"))).as("ta"),
      Fixups.fixupAction(col("stored_fs"),
        Fixups.frameShiftComputed(col("ref"), col("vr"))).as("fa"))
      .as[(String, String, String, String)].collect()
    assert(out(0) == ("snv", "F", "up_to_date", "up_to_date"))
    assert(out(1) == ("del", "T", "update", "update"))
    assert(out(2) == ("ins", "F", "update", "update"))
    assert(out(3) == ("del", "F", "up_to_date", "up_to_date"))
  }

  test("genic status: inside vs outside gene ranges") {
    import graft.operators.Fixups
    val v = Seq((1L, 100L), (1L, 900L)).toDF("chr", "pos")
    val g = Seq((1L, 50L, 150L)).toDF("chr", "gstart", "gstop")
    val out = Fixups.withGenicStatus(v, g, binWidth = 64)
      .select("pos", "genic_status_computed").as[(Long, String)].collect().toMap
    assert(out(100L) == "genic" && out(900L) == "intergenic")
  }

  test("txt2vcf: allele collection, H/N calls, same-as-ref drop") {
    import graft.operators.{SourceConverters, TranscriptAnnotator}
    val genome = TranscriptAnnotator.FixedGenome(Map("13" -> "GATC"))
    val rows = Seq(
      ("13", 2L, Seq("A", "T", "N", "H")), // ref A; alleles A,T; H→first alt T
      ("13", 1L, Seq("G", "G", "G", "G")), // all same as ref → dropped
      ("13", 3L, Seq("T", "T", "T", "T"))  // ref T... all ref → dropped
    ).toDF("chr", "pos", "calls")
    val out = SourceConverters.txtToVcf(rows, col("chr"), col("pos"),
      col("calls"), genome).as[String].collect()
    assert(out.length == 1)
    assert(out.head ==
      "13\t2\t.\tA\tT\tPASS\tVALIDATED=1\t\tGT;AD\t0/0:9,0\t0/1:9,9\t./.:0,0\t1/1:0,9")
  }

  test("streaming vcf ingest: parse + score over MemoryStream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamVcf
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val out = StreamVcf.scored(mem.toDS(), Seq("SHR"), Map("SHR" -> "M"))
      .select("strain", "chr", "pos", "variant_type", "quality_score",
        "zygosity_status")
    val q = out.writeStream.format("memory").queryName("vcf_scored")
      .outputMode("append").start()
    try {
      mem.addData(
        "##fileformat=VCFv4.2",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tSHR",
        "1\t100\trs1\tA\tG\t50\tPASS\t.\tGT:AD:DP\t1/1:0,10:10")
      q.processAllAvailable()
      val rows = spark.table("vcf_scored")
        .as[(String, String, Int, String, Long, String)].collect().toSeq
      assert(rows == Seq(("SHR", "1", 100, "snv", 100L, "homozygous")))
    } finally q.stop()
  }

  test("streaming genotype tallies accumulate across triggers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamVcf
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = StreamVcf.genotypeCounts(mem.toDS(), Seq("S1"))
      .writeStream.format("memory").queryName("gt_counts")
      .outputMode("complete").start()
    try {
      mem.addData("1\t100\t.\tA\tC\t10\tPASS\t.\tGT:AD:DP\t0/1:3,4:7")
      q.processAllAvailable()
      mem.addData(
        "1\t200\t.\tG\tT\t10\tPASS\t.\tGT:AD:DP\t0/1:1,2:3",
        "1\t300\t.\tG\tT\t10\tPASS\t.\tGT:AD:DP\t./.")
      q.processAllAvailable()
      val byKey = spark.table("gt_counts").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(byKey == Map(("S1", "0/1") -> 2L, ("S1", "./.") -> 1L))
    } finally q.stop()
  }

  // ---- Gff3 ----

  test("gff3 model tables drive the annotator end to end") {
    import graft.sources.Gff3
    val gff = Seq(
      "##gff-version 3",
      "chr1\tsrc\tgene\t1\t18\t.\t+\t.\tID=g1;Name=Fam",
      "chr1\tsrc\tmRNA\t1\t18\t.\t+\t.\tID=t1;Parent=g1",
      "chr1\tsrc\texon\t1\t9\t.\t+\t.\tID=e1;Parent=t1",
      "chr1\tsrc\tlnc_RNA\t1\t18\t.\t+\t.\tID=t2;Parent=g1",
      "chr1\tsrc\texon\t2\t8\t.\t+\t.\tID=e2;Parent=t2",
      "bad line",
      "chr1\tsrc\tCDS\t1\t9\t.\t+\t.\tID=c1;Parent=t1" // unmapped type
    ).toDS()
    val m = Gff3.modelTables(gff)
    assert(m.genes.count() == 1 && m.features.count() == 2)
    // GENCODE shared-exon convention: Parent=t1,t2 emits one feature
    // row per parent; chrM normalizes to MT like the variant path
    val multi = Gff3.modelTables(Seq(
      "chrM\tsrc\tgene\t1\t100\t.\t+\t.\tID=g9",
      "chrM\tsrc\tmRNA\t1\t100\t.\t+\t.\tID=t8;Parent=g9",
      "chrM\tsrc\tmRNA\t1\t100\t.\t+\t.\tID=t9;Parent=g9",
      "chrM\tsrc\texon\t1\t50\t.\t+\t.\tID=e9;Parent=t8,t9").toDS())
    assert(multi.features.count() == 2)
    assert(multi.genes.select("chr").head.getString(0) == "MT")
    val tr = m.transcripts.collect().map(r =>
      r.getBoolean(3)).sorted.toSeq
    assert(tr == Seq(false, true)) // mRNA coding, lnc_RNA non-coding
    // end-to-end: a SNV inside the mRNA exon gets an AA call, and the
    // non-coding transcript row carries NON-CODING
    val v = Seq((1L, "1", 5L, "C", "T"))
      .toDF("var_id", "chr", "pos", "ref_nuc", "var_nuc")
    val genome = TranscriptAnnotator.FixedGenome(Map("1" -> "ATGGCCTAAGGGTTTCCC"))
    val out = TranscriptAnnotator.annotate(v, m.genes, m.transcripts,
        m.features, genome, binWidth = 8)
      .collect().map(a => a.location -> a).toMap
    assert(out("EXON").syn_status.contains("nonsynonymous"))
    assert(out.keys.exists(_.contains("NON-CODING")))
  }

  test("bed intervals: 0-based half-open to 1-based inclusive, headers skipped") {
    import graft.sources.Bed
    import graft.operators.RangeJoin
    val bed = Seq(
      "track name=targets",
      "# comment",
      "chr1\t0\t100\tt1",
      "2\t999\t2000",
      "bad").toDS()
    val iv = Bed.parse(bed)
    val rows = iv.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(rows == Set(("1", 1L, 100L, "t1"), ("2", 1000L, 2000L, "")))
    // positions 1 and 100 are inside the first interval; 101 is not
    val pts = Seq(("1", 1L), ("1", 100L), ("1", 101L)).toDF("chr", "pos")
    val hit = RangeJoin.joined(pts, iv, "pos", "start", "stop",
      keys = Seq("chr"), binWidth = 64).select("pos").collect().map(_.getLong(0)).toSet
    assert(hit == Set(1L, 100L))
  }

  // ---- FastaGenome ----

  test("fasta parse: headers, chr-prefix strip, multi-line concat") {
    val g = FastaGenome.parse(Iterator(
      ">chr1 Homo sapiens", "ACGT", "TTAA", "", ">MT", "GGCC"))
    assert(g == Map("1" -> "ACGTTTAA", "MT" -> "GGCC"))
  }

  test("fasta-backed genome drives the annotator like FixedGenome") {
    val fa = FastaGenome.fromText(spark, ">chr1\nATGGCCTAAGGGTTTCCC")
    assert(fa.chunk("1", 4, 6) == "GCC")
    // out-of-range requests clamp (same as PackedGenome), never throw
    assert(fa.chunk("1", 100, 110) == "" && fa.chunk("1", 10, 5) == "")
    val v = Seq((1L, "1", 5L, "C", "T")).toDF("var_id", "chr", "pos", "ref_nuc", "var_nuc")
    val g = Seq((1L, "1", 1L, 18L)).toDF("gene_id", "chr", "gstart", "gstop")
    val t = Seq((10L, 1L, "+", false)).toDF("tr_id", "gene_id", "strand", "non_coding")
    val f = Seq((10L, "EXONS", 1L, 9L)).toDF("tr_id", "ftype", "fstart", "fstop")
    val a = TranscriptAnnotator.annotate(v, g, t, f, fa, binWidth = 8)
      .collect().head
    assert(a.ref_aa.contains("A") && a.var_aa.contains("V"))
  }

  // ---- SampleMeta ----

  test("samplesFromFiles: suffix filter, name-ordered sequential ids") {
    import graft.operators.SampleMeta
    val files = Seq(
      "/data/rn6/S2_SNPs_HF_SnpEff.vcf.gz",
      "/data/rn6/S1_SNPs_HF_SnpEff.vcf.gz",
      "/data/rn6/readme.txt").toDF("path")
    val out = SampleMeta.samplesFromFiles(files, "path",
        "_SNPs_HF_SnpEff.vcf.gz", 1000L, 360, 600, "U", "rn6")
      .orderBy("sample_id").collect()
    assert(out.map(_.getString(1)).toSeq == Seq("S1", "S2"))
    assert(out.map(_.getLong(0)).toSeq == Seq(1000L, 1001L))
    assert(SampleMeta.sampleId(
      SampleMeta.samplesFromFiles(files, "path", "_SNPs_HF_SnpEff.vcf.gz",
        1000L, 360, 600, "U", "rn6"), "S2").contains(1001L))
  }

  test("metadata TSV overlay: matched rows update, others pass through") {
    import graft.operators.SampleMeta
    val samples = Seq((1000L, "S1", "U"), (1001L, "S2", "U"))
      .toDF("sample_id", "sample_name", "gender")
    val meta = SampleMeta.parseMetadataTsv(spark, Seq(
      "sample_id\tgender\ttissue",
      "1001\tF\tliver",
      "\tM\tskipped-empty-id").toDS())
    val out = SampleMeta.applyMetadata(samples, meta)
      .orderBy("sample_id").collect()
    assert(out.map(r => (r.getAs[String]("gender"), r.getAs[String]("tissue")))
      .toSeq == Seq(("U", null), ("F", "liver")))
  }

  test("packed genome round-trips slices, N runs and case folding") {
    import graft.sources.PackedGenome
    val rnd = new scala.util.Random(11)
    val seq = (1 to 500).map { i =>
      if (i % 97 < 5) 'N'
      else if (i % 43 == 0) 'n'
      else "ACGTacgt".charAt(rnd.nextInt(8))
    }.mkString
    val g = PackedGenome.fromChrs(spark, Map("1" -> seq))
    // every slice matches the uppercase substring semantics of FixedGenome
    for (_ <- 1 to 50) {
      val a = 1 + rnd.nextInt(500)
      val b = math.min(500, a + rnd.nextInt(40))
      assert(g.chunk("1", a, b) == seq.substring(a - 1, b).toUpperCase,
        s"slice [$a,$b]")
    }
    assert(g.chunk("2", 1, 5) == "" && g.chunk("1", 600, 610) == "")
  }

  test("packed genome drives the annotator identically to FixedGenome") {
    import graft.sources.PackedGenome
    val g = PackedGenome.fromChrs(spark, Map("1" -> "ATGGCCTAAGGGTTTCCC"))
    assert(PackedGenome.fromLines(spark,
      Seq(">chr1", "ATGGCC", "TAA").toDS()).chunk("1", 4, 9) == "GCCTAA")
    val v = Seq((1L, "1", 5L, "C", "T")).toDF("var_id", "chr", "pos", "ref_nuc", "var_nuc")
    val gn = Seq((1L, "1", 1L, 18L)).toDF("gene_id", "chr", "gstart", "gstop")
    val t = Seq((10L, 1L, "+", false)).toDF("tr_id", "gene_id", "strand", "non_coding")
    val f = Seq((10L, "EXONS", 1L, 9L)).toDF("tr_id", "ftype", "fstart", "fstop")
    val a = TranscriptAnnotator.annotate(v, gn, t, f, g, binWidth = 8)
      .collect().head
    assert(a.ref_aa.contains("A") && a.var_aa.contains("V"))
  }

  test("every genome source answers out-of-range requests with \"\"") {
    import graft.sources.PackedGenome
    val seq = "ATGGCCTAAGGGTTTCCC" // 18 bases
    val finite = Seq(
      "FixedGenome" -> TranscriptAnnotator.FixedGenome(Map("1" -> seq)),
      "BroadcastGenome" -> FastaGenome.fromText(spark, s">chr1\n$seq"),
      "PackedGenome" -> PackedGenome.fromChrs(spark, Map("1" -> seq)))
    val endless = Seq(
      "Md5Genome" -> TranscriptAnnotator.Md5Genome(),
      "HashGenome" -> TranscriptAnnotator.HashGenome())
    for ((name, g) <- finite ++ endless) {
      // empty (start = stop + 1) and inverted ranges
      assert(g.chunk("1", 6, 5) == "", name)
      assert(g.chunk("1", 9, 3) == "", name)
      assert(g.chunk("1", 0, -4) == "", name)
      // positions below 1 do not exist: the range starts at 1
      assert(g.chunk("1", -2, 3) == g.chunk("1", 1, 3), name)
      assert(g.chunk("1", 1, 3).length == 3, name)
    }
    for ((name, g) <- finite) {
      assert(g.chunk("1", 20, 25) == "", name) // wholly past the end
      assert(g.chunk("1", 19, 18) == "", name)
      assert(g.chunk("1", 16, 25) == "CCC", name) // clamped to the end
      assert(g.chunk("2", 1, 5) == "", name) // chromosome not held
      assert(g.chunk("1", 1, 18) == seq, name)
    }
  }

  test("fasta driver-memory guard fails fast over maxBases") {
    val lines = Seq(">chr1", "ACGTACGT", "ACGTACGT").toDS()
    val ok = FastaGenome.fromLines(spark, lines, maxBases = 16L)
    assert(ok.chunk("1", 1, 4) == "ACGT")
    val e = intercept[IllegalArgumentException] {
      FastaGenome.fromLines(spark, lines, maxBases = 15L)
    }
    assert(e.getMessage.contains("maxBases"))
  }
}
