package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.scalatest.funsuite.AnyFunSuite

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
    * running any data. */
  def audit(build: => DataFrame): (DataFrame, PlanFacts) =
    TestSpark.withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = build
      val optimized = df.queryExecution.optimizedPlan
      val executed = df.queryExecution.executedPlan
      df -> PlanFacts(
        cartesian = executed.exists(_.isInstanceOf[CartesianProductExec]),
        maxMethodCodeSize = (0 +: codegenStringSeq(executed)
          .map(_._3.maxMethodCodeSize)).max,
        globalWindow = optimized.exists {
          case w: Window => w.partitionSpec.isEmpty
          case _ => false
        },
        hofs = optimized.flatMap(_.expressions.flatMap(_.collect {
          case h: HigherOrderFunction => h.prettyName
        })).distinct.sorted)
    }
}

/** The graded-query sweep: each `SparkEntry.queries` entry is built once
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
    "q24_annotate_variants" -> "exists/transform/filter/array_sort over the per-transcript exon array (bounded by exons-per-transcript, ≤3 here, ~tens in a real gene model)",
    "q32_verify_aa" -> "same per-transcript exon array as q24 (shared derivation)",
    "variant_dnds" -> "same per-transcript exon array as q24 (shared derivation)")

  private val facts = scala.collection.mutable.Map[String, PlanFacts]()

  /** Every query's facts; a query whose sweep test failed before
    * recording them fails each invariant too, by name. */
  private def swept: Map[String, PlanFacts] = {
    val missing = SparkEntry.queries.keySet -- facts.keySet
    assert(missing.isEmpty,
      s"no plan facts (sweep test failed or did not run): ${missing.toSeq.sorted}")
    facts.toMap
  }

  // the sweep below runs q1_pricing_summary; this only pins that the
  // entry point is that query, without running a job
  test("entry is q1_pricing_summary on sf0.001") {
    val entry = SparkEntry.entry(spark).queryExecution.analyzed
    val q1 = SparkEntry.queries("q1_pricing_summary")(spark, dir)
    assert(entry.sameResult(q1.queryExecution.analyzed))
  }

  test("select: name-sorted, filtered, unknown names rejected") {
    assert(SparkEntry.select(Set.empty).map(_._1) == SparkEntry.queries.keySet.toSeq.sorted)
    assert(SparkEntry.select(Set("feature_count", "ann_ivf")).map(_._1) == Seq("ann_ivf", "feature_count"))
    intercept[IllegalArgumentException](SparkEntry.select(Set("ann_ivf", "no_such_query")))
  }

  for ((name, fn) <- SparkEntry.select(Set.empty)) {
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
    // nonzero: an unexecuted adaptive plan would report no subtrees
    val method = of(spark.range(10).repartition(2).selectExpr("id * 2 AS x"))
      .maxMethodCodeSize
    assert(method > 0 && method <= 8000, s"maxMethodCodeSize $method")
  }
}
