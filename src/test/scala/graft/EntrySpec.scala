package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.scalatest.funsuite.AnyFunSuite

import graft.graded.GradedQuery

/** What the sweep's plan invariants read off one query: a
  * CartesianProductExec (partitions x partitions, a run-forever plan at
  * 100 TB; the deliberate 1-row scalar crossJoins plan as broadcast
  * nested-loop joins and do not match); the largest generated method
  * (above HotSpot's 8 KB JIT bailout a "codegen'd" stage runs as
  * interpreted bytecode); an unpartitioned window (one task); and the
  * higher-order functions, which are `CodegenFallback` and fold
  * row-at-a-time interpreted (the r12 Sam lesson: an `aggregate` CIGAR
  * fold was the suite's most expensive stage). */
final case class PlanFacts(cartesian: Boolean, maxMethodCodeSize: Int,
    globalWindow: Boolean, hofs: Seq[String])

object PlanFacts {
  /** Builds a DataFrame and reads its facts, both with AQE off: an
    * unexecuted adaptive plan is one leaf node that reports zero codegen
    * subtrees and hides every operator below it, so each detector would
    * pass blind. With AQE off the plan and its codegen are final without
    * running any data. The facts cover every query run or turned into an
    * RDD while the frame was built (a collected model, a checkpointed
    * input, TopK's ranked input) as well as the frame's own plan. */
  def audit(build: => DataFrame): (DataFrame, PlanFacts) =
    TestSpark.withConf("spark.sql.adaptive.enabled" -> "false") {
      val (df, eager) = QueryCapture.during(TestSpark.spark)(build)
      val plans = eager.map(_._2) :+ df.queryExecution
      val optimized = plans.map(_.optimizedPlan)
      val executed = plans.map(_.executedPlan)
      df -> PlanFacts(
        cartesian = executed.exists(_.exists(_.isInstanceOf[CartesianProductExec])),
        maxMethodCodeSize = (0 +: executed.flatMap(codegenStringSeq(_))
          .map(_._3.maxMethodCodeSize)).max,
        globalWindow = optimized.exists(_.exists {
          case w: Window => w.partitionSpec.isEmpty
          case _ => false
        }),
        hofs = optimized.flatMap(_.flatMap(_.expressions.flatMap(_.collect {
          case h: HigherOrderFunction => h.prettyName
        }))).distinct.sorted)
    }
}

/** The graded-query sweep: each `SparkEntry.graded` query is built once
  * on sf0.001, its plan facts recorded, and it must return rows. The
  * suite-wide plan invariants then run over the recorded facts. Both
  * whitelists are two-sided: each entry documents its bound, and a stale
  * entry fails so a list cannot rot into a blanket pass. */
class EntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Unpartitioned windows over frames driver-scale BY CONSTRUCTION —
    * name → the bound. Rank-top-k shapes go through
    * [[graft.operators.TopK.ranked]] (sort+limit), never a global window. */
  private val windowWhitelist: Map[String, String] = Map(
    "vocab_growth" -> "running sum over the checkpoint frame (≤ max_id/step rows; TextAnalysis.vocabGrowth)",
    "corpus_budget_select" -> "bin-totals frame (≤ score-range/binWidth rows; the phase-1 output of its two-phase prefix sum)")

  /** Queries whose plans apply higher-order functions to PROVABLY
    * BOUNDED arrays — name → the bound. The interpreted cost is
    * O(rows × bound); every bound below is either a constant (embedding
    * dim, centroid count), per-row input length (a ~10²-token synthetic
    * document — same order as the explode the query already pays), or a
    * driver-scale frame. A HOF over an UNBOUNDED corpus-sized array
    * (the r12 Sam CIGAR fold) must move to a codegen kernel or
    * mapPartitions pass instead of joining this list. */
  private val hofWhitelist: Map[String, String] = Map(
    "ann_ivf" -> "sort/transform over nprobe-of-16 coarse centroid list",
    "ann_ivf_probe_disk" -> "sort/transform over nprobe-of-16 coarse centroid list (the ann_ivf probe side, query rows only)",
    "ann_ivf_probe_batch" -> "sort/transform over nprobe-of-16 coarse centroid list (the ann_ivf probe side, query rows only)",
    "events_mase_baseline" -> "fold over per-type day series (calendar-bounded, the events_holt class)",
    "events_mase" -> "both parents' folds over ONE densified per-type day series (calendar-bounded, the events_holt class)",
    "text_compression_proxy" -> "transform over per-document trigram index sequence (≤ text length ~102)",
    "ann_ivf_pq" -> "sort/transform over 16-entry centroid list",
    "ann_recall_audit" -> "sort/transform over 16-entry centroid list",
    "corpus_budget_select" -> "fold over bin-totals frame (score-range/binWidth rows; the documented two-phase prefix-sum phase-1 output)",
    "corpus_mix_temperature" -> "filter over vocabulary-sized source list",
    "dna_debruijn_stats" -> "transform over per-document k-mer array (≤ text length ~102)",
    "dna_kmer_canonical" -> "transform over per-document k-mer array (≤ text length ~102)",
    "dna_minimizers" -> "transform over per-document k-mer array (≤ text length ~102)",
    "dna_orf_finder" -> "transform over the 32-char derived-DNA codon array (≤ 30 elements)",
    "dna_kmer_spectrum" -> "transform over per-document k-mer array (≤ text length ~102)",
    "dna_palindrome_sites" -> "transform over per-document k-mer array (≤ text length ~102)",
    "embed_covariance" -> "transform over the 64-dim embedding vector",
    "embedding_stats" -> "fold over the 64-dim embedding vector",
    "events_ewma" -> "fold over per-type day series (calendar-bounded)",
    "events_holt" -> "fold over per-type day series (calendar-bounded)",
    "events_holt_backtest" -> "fold over per-type day series (calendar-bounded)",
    "events_holt_winters" -> "fold over per-type day series (calendar-bounded)",
    "quality_classifier" -> "fold over per-document token array (≤ text length ~102)",
    "fastq_read_stats" -> "fold over the per-read 32-char quality string (bounded by read length)",
    "text_collocations" -> "transform over per-document bigram array (≤ text length ~102)",
    "vcf_merge_multisample" -> "sort/transform over per-site sample list (bounded by strain count)",
    "vocab_growth" -> "transform over the driver-scale checkpoint frame (the documented bounded window frame)",
    "q24_annotate_variants" -> "transform/filter/array_sort over the per-transcript exon array in the eagerly collected annotator model (bounded by exons-per-transcript, ≤3 here, ~tens in a real gene model; one row per transcript, not per variant — the apply plan has none)",
    "q32_verify_aa" -> "same annotator model query as q24 (shared derivation)",
    "variant_dnds" -> "same annotator model query as q24 (shared derivation)",
    "bpe_merge_step" -> "transform over a distinct word's character positions (≤ word length), in the sorted input TopK.ranked turns into an RDD to number ranks (the returned plan shows only the RDD scan)",
    "events_top_paths" -> "array_sort/transform over each user's first 3 events (rn ≤ 3), in the sorted input TopK.ranked turns into an RDD to number ranks (the returned plan shows only the RDD scan)",
    "text_bigram_ppl" -> "transform over per-document word positions (≤ text length ~102), in the checkpointed bigram frame",
    "text_jm_ppl" -> "transform over per-document word positions (≤ text length ~102), in the checkpointed bigram frame",
    "text_kn_ppl" -> "transform over per-document word positions (≤ text length ~102), in the checkpointed bigram frame",
    "text_textrank" -> "transform over per-document word positions (≤ text length ~102), in its checkpointed inputs")

  private val facts = scala.collection.mutable.Map[String, PlanFacts]()

  /** Every query's facts; a query whose sweep test failed before
    * recording them fails each invariant too, by name. */
  private def swept: Map[String, PlanFacts] = {
    val missing = SparkEntry.graded.keySet -- facts.keySet
    assert(missing.isEmpty,
      s"no plan facts (sweep test failed or did not run): ${missing.toSeq.sorted}")
    facts.toMap
  }

  // the sweep below runs q1_pricing_summary; this only pins that the
  // entry point is that query, without running a job
  test("entry is q1_pricing_summary on sf0.001") {
    val entry = SparkEntry.entry(spark).queryExecution.analyzed
    val q1 = SparkEntry.graded("q1_pricing_summary").run(spark, dir)
    assert(entry.sameResult(q1.queryExecution.analyzed))
  }

  test("select: name-sorted, filtered, unknown names rejected") {
    assert(SparkEntry.select(Set.empty).map(_.name) == SparkEntry.graded.keySet.toSeq.sorted)
    assert(SparkEntry.select(Set("feature_count", "ann_ivf")).map(_.name) == Seq("ann_ivf", "feature_count"))
    intercept[IllegalArgumentException](SparkEntry.select(Set("ann_ivf", "no_such_query")))
  }

  for (GradedQuery(name, fn, _) <- SparkEntry.select(Set.empty)) {
    test(s"query $name runs and returns rows on sf0.001") {
      val (df, f) = PlanFacts.audit(fn(spark, dir))
      facts(name) = f
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("no cartesian product in any graded query") {
    val offenders = swept.collect { case (n, f) if f.cartesian => n }
    assert(offenders.isEmpty, s"cartesian product in: ${offenders.toSeq.sorted}")
  }

  test("no generated method above the 8KB JIT threshold in any query") {
    val offenders = swept.toSeq.sortBy(_._1).collect {
      case (n, f) if f.maxMethodCodeSize > 8000 => s"$n(${f.maxMethodCodeSize}B)"
    }
    assert(offenders.isEmpty, s"over-JIT-limit methods in: $offenders")
  }

  test("no unpartitioned window in any graded query outside the whitelist") {
    val offenders = swept.collect { case (n, f) if f.globalWindow => n }.toSet
    assert(offenders.subsetOf(windowWhitelist.keySet),
      s"unpartitioned window in: ${(offenders -- windowWhitelist.keySet).toSeq.sorted}")
    assert(windowWhitelist.keySet.subsetOf(offenders),
      s"stale whitelist entries: ${windowWhitelist.keySet -- offenders}")
  }

  test("higher-order folds only over documented bounded frames") {
    val offenders = swept.filter(_._2.hofs.nonEmpty)
    assert(offenders.keySet.subsetOf(hofWhitelist.keySet),
      s"undocumented higher-order fold in: " + offenders.toSeq.sortBy(_._1)
        .collect { case (n, f) if !hofWhitelist.contains(n) => n -> f.hofs })
    assert(hofWhitelist.keySet.subsetOf(offenders.keySet),
      s"stale HOF whitelist entries: ${hofWhitelist.keySet -- offenders.keySet}")
  }

  // oracle parity inside `sbt test`: dump the queries as graft.Verify
  // does, then grade the dump with tools/compare.py, which runs each
  // oracle in DuckDB and compares columns, rows and values exactly.
  // event_funnel's windowed join is the one graded plan with a range
  // predicate that no RangeJoin call bins. sam_alignment_stats,
  // decontam_ngram and corpus_mix run the Sam and Curation rollups that
  // streaming callers share.
  test("oracle parity at sf0.001: annotator, funnel, SAM, decontam, corpus_mix queries") {
    val names = Seq("q24_annotate_variants", "q32_verify_aa", "variant_dnds",
      "event_funnel", "sam_alignment_stats", "decontam_ngram", "corpus_mix")
    val canRun =
      try new ProcessBuilder("python3", "-c", "import duckdb").start().waitFor() == 0
      catch { case _: Exception => false }
    assume(canRun && new java.io.File(dir).isDirectory,
      "python3+duckdb or testdata unavailable here")
    val out = java.nio.file.Files.createTempDirectory("graft_parity")
    try {
      Verify.run(spark, dir, out.toString, names.toSet)
      val pb = new ProcessBuilder(
        (Seq("python3", "tools/compare.py", dir, out.toString) ++ names): _*)
      pb.redirectErrorStream(true)
      val proc = pb.start()
      val log = new String(proc.getInputStream.readAllBytes(), "UTF-8")
      assert(proc.waitFor() == 0 && names.forall(n => log.contains(s"OK   $n ")),
        s"oracle parity failed:\n$log")
    } finally {
      val walk = java.nio.file.Files.walk(out)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(java.nio.file.Files.delete(_))
      finally walk.close()
    }
  }

  test("Inspect's plan masking hides run-varying ids and keeps the codegen star") {
    // a limit's "Arguments: 20" is plan content, a query stage's is an id
    assert(tools.Inspect.masked(
      """*(12) Project [transform(a#7L, lambdafunction((lambda x_3#41 + 1), lambda x_3#41, false)) AS b#9]
        |+- BroadcastQueryStage 20 MapPartitionsRDD[57] [plan_id=2405]
        |(55) BroadcastQueryStage
        |Output [1]: [doc_id#55L]
        |Arguments: 20
        |(56) CollectLimit [codegen id : 18]
        |Arguments: 20, PqModel@14d7a962, Strategy$$Lambda$4488/0x00007f9ed1302a18@2f32fe68
        |+- Scan ExistingRDD[doc_id#3L] MapPartitionsRDD[57] at createDataFrame at Curation.scala:396, ExistingRDD
        |Location: InMemoryFileIndex [file:/home/a/graft/spark-warehouse/ann_ivf_disk]""".stripMargin) ==
      """*(N) Project [transform(a#NL, lambdafunction((lambda x_N#N + 1), lambda x_N#N, false)) AS b#N]
        |+- BroadcastQueryStage N MapPartitionsRDD[N] [plan_id=N]
        |(55) BroadcastQueryStage
        |Output [1]: [doc_id#NL]
        |Arguments: N
        |(56) CollectLimit [codegen id : N]
        |Arguments: 20, PqModel@H, Strategy$$Lambda@H
        |+- Scan ExistingRDD[doc_id#NL] MapPartitionsRDD[N] at createDataFrame at Curation.scala:N, ExistingRDD
        |Location: InMemoryFileIndex [file:<dir>/spark-warehouse/ann_ivf_disk]""".stripMargin)
  }

  // each detector on hand-made plans, so a blinded one cannot pass the
  // sweep silently. The repartitions put an exchange in the plan, which
  // is what makes AQE wrap it. Every DataFrame is built fresh, as plans
  // are cached.
  test("plan facts: each detector flags its fixture and passes a clean plan") {
    import org.apache.spark.sql.expressions.{Window => W, WindowSpec}
    import org.apache.spark.sql.functions._
    def of(df: => DataFrame): PlanFacts = PlanFacts.audit(df)._2
    def cross = spark.range(3).repartition(2).crossJoin(spark.range(3))
    assert(TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(of(cross)).cartesian)
    assert(!of(cross).cartesian)
    def ranked(w: WindowSpec) = of(spark.range(5).withColumn("r", row_number().over(w)))
    assert(ranked(W.orderBy("id")).globalWindow)
    assert(!ranked(W.partitionBy(col("id") % 2).orderBy("id")).globalWindow)
    def arr = array(col("id"), lit(1L))
    assert(of(spark.range(3).select(transform(arr, _ + 1))).hofs == Seq("transform"))
    assert(of(spark.range(3).select(size(arr))).hofs.isEmpty)
    // a query that runs while the frame is built is audited too
    assert(of { spark.range(3).select(transform(arr, _ + 1)).collect()
      spark.range(3).toDF() }.hofs == Seq("transform"))
    // nonzero: an unexecuted adaptive plan would report no subtrees
    val method = of(spark.range(10).repartition(2).selectExpr("id * 2 AS x"))
      .maxMethodCodeSize
    assert(method > 0 && method <= 8000, s"maxMethodCodeSize $method")
  }
}
