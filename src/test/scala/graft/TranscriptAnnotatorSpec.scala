package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TranscriptAnnotator
import graft.operators.TranscriptAnnotator.{Annotated, FixedGenome}

/** Hand-derived expectations for the VariantPostProcessing pipeline.
  *
  * Genome chr1 = ATGGCCTAAGGGTTTCCC (1-based positions 1..18).
  */
class TranscriptAnnotatorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val genome = FixedGenome(Map("1" -> "ATGGCCTAAGGGTTTCCC"))

  private def run(variants: Seq[(Long, String, Long, String, String)],
                  transcripts: Seq[(Long, Long, String, Boolean)],
                  features: Seq[(Long, String, Long, Long)]): Map[(Long, Long), Annotated] = {
    val v = variants.toDF("var_id", "chr", "pos", "ref_nuc", "var_nuc")
    val g = Seq((1L, "1", 1L, 18L)).toDF("gene_id", "chr", "gstart", "gstop")
    val t = transcripts.toDF("tr_id", "gene_id", "strand", "non_coding")
    val f = features.toDF("tr_id", "ftype", "fstart", "fstop")
    TranscriptAnnotator.annotate(v, g, t, f, genome, binWidth = 8)
      .collect().map(a => (a.var_id, a.tr_id) -> a).toMap
  }

  test("plus-strand exonic SNV: GCC->GTC is A->V nonsynonymous at AA 2") {
    val out = run(
      variants = Seq((1L, "1", 5L, "C", "T")),
      transcripts = Seq((10L, 1L, "+", false)),
      features = Seq((10L, "EXONS", 1L, 9L)))
    val a = out((1L, 10L))
    assert(a.location == "EXON" && a.syn_status.contains("nonsynonymous"))
    assert(a.ref_aa.contains("A") && a.var_aa.contains("V") && a.aa_pos.contains(2))
    assert(a.triplet_error == "F" && a.frame_shift.contains("F"))
  }

  test("second exon SNV accumulates relative position across exons") {
    // CDS = chunk(1,6) + chunk(10,18) = ATGGCC GGGTTTCCC; pos 11 is relPos 8
    // codon 3 GGG -> GAG = G -> E
    val out = run(
      variants = Seq((2L, "1", 11L, "G", "A")),
      transcripts = Seq((10L, 1L, "+", false)),
      features = Seq((10L, "EXONS", 1L, 6L), (10L, "EXONS", 10L, 18L)))
    val a = out((2L, 10L))
    assert(a.syn_status.contains("nonsynonymous"))
    assert(a.ref_aa.contains("G") && a.var_aa.contains("E") && a.aa_pos.contains(3))
    // pos 11 is within 10bp of the second exon's start (10) -> near splice
    assert(a.near_splice_site == "T")
  }

  test("minus strand: reverse complement + flipped relative position") {
    // refDna revcomp(ATGGCCTAA) = TTAGGCCAT -> L,G,H; relPos 9-5+1=5 -> AA 2 G
    // varDna ATGGTCTAA -> revcomp TTAGACCAT -> L,D,H -> G->D nonsynonymous
    val out = run(
      variants = Seq((3L, "1", 5L, "C", "T")),
      transcripts = Seq((11L, 1L, "-", false)),
      features = Seq((11L, "EXONS", 1L, 9L)))
    val a = out((3L, 11L))
    assert(a.ref_aa.contains("G") && a.var_aa.contains("D"))
    assert(a.aa_pos.contains(2) && a.syn_status.contains("nonsynonymous"))
  }

  test("synonymous third-position change") {
    // pos 6: GCC -> GCA, both A
    val out = run(
      variants = Seq((4L, "1", 6L, "C", "A")),
      transcripts = Seq((10L, 1L, "+", false)),
      features = Seq((10L, "EXONS", 1L, 9L)))
    assert(out((4L, 10L)).syn_status.contains("synonymous"))
  }

  test("intronic variant gets INTRON row with no AA call") {
    val out = run(
      variants = Seq((5L, "1", 8L, "A", "C")),
      transcripts = Seq((10L, 1L, "+", false)),
      features = Seq((10L, "EXONS", 1L, 6L), (10L, "EXONS", 10L, 18L)))
    val a = out((5L, 10L))
    assert(a.location == "INTRON" && a.syn_status.isEmpty && a.ref_aa.isEmpty)
  }

  test("non-coding transcript short-circuits to NON-CODING") {
    val out = run(
      variants = Seq((6L, "1", 5L, "C", "T")),
      transcripts = Seq((12L, 1L, "+", true)),
      features = Seq((12L, "EXONS", 1L, 9L)))
    assert(out((6L, 12L)).location == "EXON,NON-CODING")
  }

  test("variant in 5'UTR-trimmed region: UTR location, no AA call") {
    val out = run(
      variants = Seq((7L, "1", 2L, "T", "A")),
      transcripts = Seq((10L, 1L, "+", false)),
      features = Seq((10L, "5UTRS", 1L, 3L), (10L, "EXONS", 1L, 9L)))
    val a = out((7L, 10L))
    assert(a.location == "5UTRS,EXON")
    assert(a.syn_status.isEmpty)
  }

  test("transcript with no EXONS features still yields an INTRON row") {
    // reference emits a VARIANT_TRANSCRIPT with location INTRON when no
    // feature contains the variant (processChromosome "not found" branch)
    val out = run(
      variants = Seq((20L, "1", 5L, "C", "T")),
      transcripts = Seq((13L, 1L, "+", false)),
      features = Seq((99L, "EXONS", 1L, 9L))) // features of another transcript
    assert(out((20L, 13L)).location == "INTRON")
  }

  test("intronic variant on non-coding transcript: INTRON,NON-CODING") {
    // NON-CODING appends regardless of inExon (VariantPostProcessing:274-283)
    val out = run(
      variants = Seq((21L, "1", 8L, "A", "C")),
      transcripts = Seq((12L, 1L, "+", true)),
      features = Seq((12L, "EXONS", 1L, 6L), (12L, "EXONS", 10L, 18L)))
    assert(out((21L, 12L)).location == "INTRON,NON-CODING")
  }

  test("deletion: CDS rebuilt without the deleted base, trimmed to codons") {
    // ref C at pos 5 deleted: varDna ATGGCTAA -> trim ATGGCT -> M,A
    // aaPos 2: ref GCC=A, var GCT=A -> synonymous (reference trim quirk:
    // |9-6| = 3 -> frame_shift F, faithful to handleTranslatedProtein)
    val out = run(
      variants = Seq((22L, "1", 5L, "C", "")),
      transcripts = Seq((10L, 1L, "+", false)),
      features = Seq((10L, "EXONS", 1L, 9L)))
    val a = out((22L, 10L))
    assert(a.ref_aa.contains("A") && a.var_aa.contains("A"))
    assert(a.syn_status.contains("synonymous") && a.frame_shift.contains("F"))
  }

  test("dash deletion removes len(var_nuc) bases, not len(ref)") {
    // ref='GCC', var='-' at pos 4: the reference's deletion branch
    // (VariantPostProcessing.java:473-479) removes varNuc.length()=1 base
    // — varDna atg_cctaa -> atgcctaa, trim 6 -> M,P; refAa A -> P
    val out = run(
      variants = Seq((26L, "1", 4L, "GCC", "-")),
      transcripts = Seq((10L, 1L, "+", false)),
      features = Seq((10L, "EXONS", 1L, 9L)))
    val a = out((26L, 10L))
    assert(a.ref_aa.contains("A") && a.var_aa.contains("P"))
    assert(a.aa_pos.contains(2) && a.syn_status.contains("nonsynonymous"))
  }

  test("multi-dash deletion removes one base per dash") {
    // var='---' at pos 4 deletes 3 bases: atg[gcc]taa -> atgtaa -> M,*
    val out = run(
      variants = Seq((27L, "1", 4L, "GCC", "---")),
      transcripts = Seq((10L, 1L, "+", false)),
      features = Seq((10L, "EXONS", 1L, 9L)))
    val a = out((27L, 10L))
    assert(a.ref_aa.contains("A") && a.var_aa.contains("*"))
    assert(a.frame_shift.contains("F"))
  }

  test("insertion (empty ref): base inserted before relPos") {
    // insert G before pos 5: varDna ATGGGCCTAA -> trim 9 -> M,G,L
    // aaPos 2: ref A, var G -> nonsynonymous
    val out = run(
      variants = Seq((23L, "1", 5L, "", "G")),
      transcripts = Seq((10L, 1L, "+", false)),
      features = Seq((10L, "EXONS", 1L, 9L)))
    val a = out((23L, 10L))
    assert(a.ref_aa.contains("A") && a.var_aa.contains("G"))
    assert(a.syn_status.contains("nonsynonymous"))
  }

  test("minus-strand deletion: flip position against the REF length") {
    // del C at pos 5 on '-': refDna revcomp(ATGGCCTAA)=TTAGGCCAT -> L,G,H
    // varDna revcomp(ATGGCTAA)=TTAGCCAT -> trim 6 -> L,A
    // relP = 9-5+1 = 5 -> aaPos 2: G -> A nonsynonymous; |9-6|%3=0 -> F
    val out = run(
      variants = Seq((25L, "1", 5L, "C", "")),
      transcripts = Seq((11L, 1L, "-", false)),
      features = Seq((11L, "EXONS", 1L, 9L)))
    val a = out((25L, 11L))
    assert(a.ref_aa.contains("G") && a.var_aa.contains("A"))
    assert(a.aa_pos.contains(2) && a.syn_status.contains("nonsynonymous"))
    assert(a.frame_shift.contains("F") && a.triplet_error == "F")
  }

  test("VCF-style anchored insertion: suffix inserted after the anchor") {
    // ref C -> var CG at pos 5: varDna ATGGCGCTAA -> trim ATGGCGCTA
    // aaPos 2: GCC=A vs GCG=A -> synonymous
    val out = run(
      variants = Seq((24L, "1", 5L, "C", "CG")),
      transcripts = Seq((10L, 1L, "+", false)),
      features = Seq((10L, "EXONS", 1L, 9L)))
    val a = out((24L, 10L))
    assert(a.ref_aa.contains("A") && a.var_aa.contains("A"))
    assert(a.syn_status.contains("synonymous"))
  }

  test("verifyIfInRgd drops already-loaded (variant, transcript) pairs") {
    val v = Seq((1L, "1", 5L, "C", "T"), (2L, "1", 6L, "C", "A"))
      .toDF("var_id", "chr", "pos", "ref_nuc", "var_nuc")
    val g = Seq((1L, "1", 1L, 18L)).toDF("gene_id", "chr", "gstart", "gstop")
    val t = Seq((10L, 1L, "+", false)).toDF("tr_id", "gene_id", "strand", "non_coding")
    val f = Seq((10L, "EXONS", 1L, 9L)).toDF("tr_id", "ftype", "fstart", "fstop")
    val ann = TranscriptAnnotator.annotate(v, g, t, f, genome, binWidth = 8)
    val existing = Seq((1L, 10L)).toDF("var_id", "tr_id")
    val out = TranscriptAnnotator.verifyIfInRgd(ann, existing).collect()
    assert(out.map(a => (a.var_id, a.tr_id)).toSet == Set((2L, 10L)))
  }

  test("Md5Genome matches the SQL definition") {
    // translate(substr(md5('1:5'),1,1),'0123456789abcdef','ACGTACGTACGTACGT')
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("1:5".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expect = "ACGTACGTACGTACGT"("0123456789abcdef".indexOf(hex.charAt(0)))
    assert(TranscriptAnnotator.Md5Genome().chunk("1", 5, 5) == expect.toString)
  }

  // ---- model edge cases: genes, transcripts and features that do not
  // line up one-to-one ----

  private def rows(genome: TranscriptAnnotator.GenomeSource,
                   variants: Seq[(Long, String, Long, String, String)],
                   genes: Seq[(Long, String, Long, Long)],
                   transcripts: Seq[(Long, Long, String, Boolean)],
                   features: Seq[(Long, String, Long, Long)]): Seq[Annotated] =
    TranscriptAnnotator.annotate(
        variants.toDF("var_id", "chr", "pos", "ref_nuc", "var_nuc"),
        genes.toDF("gene_id", "chr", "gstart", "gstop"),
        transcripts.toDF("tr_id", "gene_id", "strand", "non_coding"),
        features.toDF("tr_id", "ftype", "fstart", "fstop"),
        genome, binWidth = 8)
      .collect().toSeq.sortBy(a => (a.var_id, a.tr_id, a.location))

  // plus-strand exon 1..9 with C>T at 5: GCC -> GTC, A -> V at AA 2
  private val snv5 = Seq((1L, "1", 5L, "C", "T"))
  private def isAtoV(a: Annotated) =
    a.location == "EXON" && a.ref_aa.contains("A") && a.var_aa.contains("V") &&
      a.aa_pos.contains(2) && a.full_ref_nuc.contains("ATGGCCTAA") &&
      a.full_ref_nuc_pos.contains(5)

  test("transcript listed under two genes: one row per containing gene") {
    // GFF3 Parent=g1,g2 puts one tr_id under both genes; the variant lies
    // in both genes, so the pair (variant, transcript) is reached once
    // through each gene and annotated the same way both times
    val out = rows(genome, snv5,
      genes = Seq((1L, "1", 1L, 18L), (2L, "1", 1L, 12L)),
      transcripts = Seq((10L, 1L, "+", false), (10L, 2L, "+", false)),
      features = Seq((10L, "EXONS", 1L, 9L)))
    assert(out.length == 2 && out.forall(isAtoV), out.mkString("\n"))
  }

  test("transcript under two genes, variant inside only one of them") {
    val out = rows(genome, Seq((1L, "1", 15L, "T", "A")),
      genes = Seq((1L, "1", 1L, 18L), (2L, "1", 1L, 12L)),
      transcripts = Seq((10L, 1L, "+", false), (10L, 2L, "+", false)),
      features = Seq((10L, "EXONS", 1L, 9L)))
    assert(out.map(a => (a.tr_id, a.location)) == Seq((10L, "INTRON")))
  }

  test("gene_id listed twice in genes: the variant is emitted per gene row") {
    // the containment join matches each gene row, so the duplicate gene
    // row doubles the (variant, transcript) rows; the CDS is unaffected
    val out = rows(genome, snv5,
      genes = Seq((1L, "1", 1L, 18L), (1L, "1", 1L, 18L)),
      transcripts = Seq((10L, 1L, "+", false)),
      features = Seq((10L, "EXONS", 1L, 9L)))
    assert(out.length == 2 && out.forall(isAtoV), out.mkString("\n"))
  }

  test("gene_id on two chromosomes: each variant reads its own CDS") {
    val g2 = FixedGenome(Map("1" -> "ATGGCCTAAGGGTTTCCC",
      "2" -> "ATGAAATAAGGGTTTCCC"))
    val out = rows(g2, snv5 :+ ((2L, "2", 5L, "A", "T")),
      genes = Seq((1L, "1", 1L, 18L), (1L, "2", 1L, 18L)),
      transcripts = Seq((10L, 1L, "+", false)),
      features = Seq((10L, "EXONS", 1L, 9L)))
    // chr 2 codon 2 AAA -> ATA: K -> I
    assert(out.length == 2 && isAtoV(out(0)), out.mkString("\n"))
    assert(out(1).ref_aa.contains("K") && out(1).var_aa.contains("I") &&
      out(1).full_ref_nuc.contains("ATGAAATAA"), out(1))
  }

  test("UTR features but no EXONS: UTR flags with an INTRON location") {
    val out = rows(genome,
      Seq((1L, "1", 2L, "T", "A"), (2L, "1", 8L, "A", "C"),
        (3L, "1", 17L, "C", "G")),
      genes = Seq((1L, "1", 1L, 18L)),
      transcripts = Seq((10L, 1L, "+", false)),
      features = Seq((10L, "5UTRS", 1L, 3L), (10L, "3UTRS", 16L, 18L)))
    assert(out.map(a => (a.var_id, a.location, a.near_splice_site)) == Seq(
      (1L, "5UTRS,INTRON", "F"), (2L, "INTRON", "F"),
      (3L, "3UTRS,INTRON", "F")))
    assert(out.forall(a => a.syn_status.isEmpty && a.full_ref_nuc.isEmpty))
  }

  test("genes of one chromosome, transcripts and features of all") {
    // the benchmark's call shape: only chromosome 1's genes are passed,
    // while the transcript and feature tables span both chromosomes.
    // Chromosome 2's transcript and variant produce nothing, and
    // transcript 10's CDS is read from chromosome 1
    val g2 = FixedGenome(Map("1" -> "ATGGCCTAAGGGTTTCCC",
      "2" -> "ATGAAATAAGGGTTTCCC"))
    val out = rows(g2, snv5 :+ ((2L, "2", 5L, "A", "T")),
      genes = Seq((1L, "1", 1L, 18L)),
      transcripts = Seq((10L, 1L, "+", false), (20L, 2L, "+", false)),
      features = Seq((10L, "EXONS", 1L, 9L), (20L, "EXONS", 1L, 9L)))
    assert(out.length == 1 && isAtoV(out.head) && out.head.var_id == 1L,
      out.mkString("\n"))
  }

  test("one chromosome over persisted tables: one model pass, no stream " +
    "exchange, at most 6 jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      BroadcastQueryStageExec, QueryStageExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
      ReusedExchangeExec, ShuffleExchangeLike}
    import org.apache.spark.storage.StorageLevel

    TestSpark.withExtensions() { spark =>
      import spark.implicits._
      val rnd = new scala.util.Random(5)
      val chrs = Seq("1", "2")
      val genomeMap = chrs.map(_ -> Seq.fill(4000)("ACGT"(rnd.nextInt(4)))
        .mkString).toMap
      // 10 genes per chromosome, 1-2 transcripts each (one non-coding in
      // five), three exons and both UTRs per transcript
      val genes = for (c <- chrs; k <- 0 until 10)
        yield (c.toLong * 100 + k, c, 100L + 350 * k, 400L + 350 * k)
      val trs = genes.flatMap { case (gid, _, _, _) =>
        (0 to (gid % 2).toInt).map(j => (gid * 10 + j, gid,
          if (j == 0) "+" else "-", gid % 5 == 0 && j == 1))
      }
      val startOf = genes.map(g => g._1 -> g._3).toMap
      val feats = trs.flatMap { case (tid, gid, _, _) =>
        val s = startOf(gid)
        Seq((tid, "5UTRS", s, s + 10), (tid, "EXONS", s, s + 80),
          (tid, "EXONS", s + 120, s + 200), (tid, "EXONS", s + 240, s + 300),
          (tid, "3UTRS", s + 290, s + 300))
      }
      def held[T](ds: org.apache.spark.sql.Dataset[T]) = {
        val h = ds.toDF().persist(StorageLevel.MEMORY_ONLY); h.count(); h
      }
      val g = held(genes.toDF("gene_id", "chr", "gstart", "gstop"))
      val t = held(trs.toDF("tr_id", "gene_id", "strand", "non_coding"))
      val f = held(feats.toDF("tr_id", "ftype", "fstart", "fstop"))
      val v = held((1 to 600).map { i =>
        val c = chrs(i % 2); val p = 1L + rnd.nextInt(3800)
        (i.toLong, c, p, genomeMap(c).substring(p.toInt - 1, p.toInt), "A")
      }.toDF("var_id", "chr", "pos", "ref_nuc", "var_nuc"))

      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      val ended = new java.util.concurrent.ConcurrentHashMap[Int, Unit]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          jobs.put(e.jobId, Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .getOrElse(""))
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          ended.put(e.jobId, ())
      }
      val sc = spark.sparkContext
      sc.addSparkListener(listener)
      val out = try {
        sc.setJobGroup("annotate-one-chr", "annotate one chromosome")
        val ann = TranscriptAnnotator.annotate(
          v.filter($"chr" === "1"), g.filter($"chr" === "1"), t, f,
          FixedGenome(genomeMap))
        val rows = ann.collect()
        sc.clearJobGroup()
        // events reach a listener in order: once a later marker job has
        // ended, every job of the call above has been seen
        sc.setJobGroup("marker", "marker")
        val marker = sc.parallelize(Seq(1), 1).map(identity)
        marker.collect(); sc.clearJobGroup()
        val deadline = System.nanoTime() + 30L * 1000000000L
        def markerEnded = jobs.asScala.exists { case (id, grp) =>
          grp == "marker" && ended.containsKey(id) }
        while (!markerEnded && System.nanoTime() < deadline) Thread.sleep(20)
        assert(markerEnded, "listener never saw the marker job")
        (rows, ann.queryExecution.executedPlan)
      } finally sc.removeSparkListener(listener)
      val (rows, plan) = out

      assert(rows.nonEmpty && rows.forall(_.chr == "1"))
      assert(rows.exists(_.syn_status.isDefined), "no AA call reached")

      // every node of the plan as it ran, through adaptive wrappers,
      // query stages and reused exchanges; `into` prunes subtrees
      def nodes(p: SparkPlan, into: SparkPlan => Boolean): Seq[SparkPlan] = {
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case s: QueryStageExec => Seq(s.plan)
          case r: ReusedExchangeExec => Seq(r.child)
          case _ => p.children
        }
        p +: kids.filter(into).flatMap(nodes(_, into))
      }
      val all = nodes(plan, _ => true)
      val featureScans = all.collect {
        case s: InMemoryTableScanExec
          if s.relation.output.exists(_.name == "ftype") => s }
      val finalAggs = all.collect {
        case a: BaseAggregateExec
          if a.aggregateExpressions.forall(e => e.mode == Final ||
            e.mode == Complete) => a }
      assert(featureScans.length == 1 && finalAggs.length == 1,
        s"features scanned ${featureScans.length}x, " +
          s"${finalAggs.length} final aggregates:\n$plan")

      // the stream: everything outside the broadcast subtrees
      val stream = nodes(plan, {
        case _: BroadcastQueryStageExec | _: BroadcastExchangeLike => false
        case _ => true
      })
      val streamShuffles = stream.collect {
        case e: ShuffleExchangeLike => e
        case s: ShuffleQueryStageExec => s
      }
      assert(streamShuffles.isEmpty, s"exchange on the stream side:\n$plan")

      val ours = jobs.asScala.count(_._2 == "annotate-one-chr")
      assert(ours >= 1 && ours <= 6, s"$ours jobs for one annotate call")
      Seq(g, t, f, v).foreach(_.unpersist())
    }
  }

  test("triplet error flagged when CDS length not divisible by 3") {
    val out = run(
      variants = Seq((8L, "1", 5L, "C", "T")),
      transcripts = Seq((10L, 1L, "+", false)),
      features = Seq((10L, "EXONS", 1L, 8L))) // 8 bases
    val a = out((8L, 10L))
    assert(a.triplet_error == "T")
    assert(a.syn_status.contains("nonsynonymous")) // still callable at AA 2
  }
}
