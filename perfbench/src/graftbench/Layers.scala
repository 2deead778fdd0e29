package graftbench

/** The traced run's per-layer figures. Every workload reports every
  * metric; a layer the workload does not call reads 0. Per-op figures are
  * medians over ops: spans over the traced ops, Spark stage and plan
  * figures over the untraced ops (the plans the user actually runs). */
object Layers {
  val opSpans: Seq[String] = Seq("vcf_parse", "score", "merge_classify", "store_write", "annotate")
  val kernelNames: Seq[String] = Seq("translate", "revcomp")

  def metrics(tr: Tracer, runs: Seq[Main.OpRun],
              plans: Map[String, Seq[PlanListener#Rec]], stages: StageListener,
              kernels: Map[String, Kernels.Result], cores: Int): Seq[(String, Double, String)] = {
    import Stats.median
    def spanSelf(name: String) = median(tr.named(name).map(tr.selfSeconds))
    def layerFig(key: String) = median(runs.filter(_.traced)
      .flatMap(_.check.layer.get(key)))
    val untraced = runs.filterNot(_.traced)
    val traced = runs.filter(_.traced)
    def perOp(f: (Main.OpRun, StageListener#OpStats) => Double) =
      median(untraced.map(r => f(r, stages.get(r.group))))
    val untracedP50 = median(untraced.map(_.seconds))
    val tracedP50 = median(traced.map(_.seconds))
    val planOf = untraced.flatMap(r => plans.get(r.group))

    Seq(
      ("sources.fasta_load_s", spanSelf("sources.fasta_load"), "s"),
      ("sources.gff3_models_s", spanSelf("sources.gff3_models"), "s"),
      ("sources.genome_chunk_ns", kernels.get("genome_chunk").fold(0.0)(_.nsPerCall), "ns"),
      ("sources.genome_chunk_bytes_per_s", kernels.get("genome_chunk").fold(0.0)(_.bytesPerSec), "B/s")) ++
    kernelNames.flatMap { k =>
      val r = kernels.get(k)
      Seq((s"functions.${k}_ns", r.fold(0.0)(_.nsPerCall), "ns"),
        (s"functions.${k}_bytes_per_s", r.fold(0.0)(_.bytesPerSec), "B/s"))
    } ++
    opSpans.map(s => (s"operators.${s}_s", spanSelf(s"operators.$s"), "s")) ++ Seq(
      ("operators.annotate_rows_out", layerFig("operators.annotate_rows_out"), "count"),
      ("store_bytes_per_input_byte", median(runs.flatMap(_.check.layer.get("store_bytes_per_input_byte"))), "ratio"),
      ("plans.plan_s", median(planOf.map(_.map(_.planMs).sum / 1e3)), "s"),
      ("plans.plan_nodes", median(planOf.map(_.map(_.nodes).sum.toDouble)), "count"),
      ("plans.exchanges", median(planOf.map(_.map(_.exchanges).sum.toDouble)), "count"),
      ("sessions.session_s", spanSelf("sessions.session"), "s"),
      ("sessions.warmup_s", spanSelf("sessions.warmup"), "s"),
      ("stage.jobs", perOp((_, s) => s.jobs), "count"),
      ("stage.stages", perOp((_, s) => s.stages), "count"),
      ("stage.tasks", perOp((_, s) => s.tasks), "count"),
      ("stage.one_task_stages", perOp((_, s) => s.oneTaskStages), "count"),
      ("stage.scan_tasks", perOp((_, s) => s.scanTasks), "count"),
      ("stage.executor_busy_frac", perOp((r, s) => s.runMs / 1e3 / (r.seconds * cores)), "ratio"),
      ("stage.task_skew", perOp((_, s) => s.skew), "ratio"),
      ("stage.shuffle_write_bytes", perOp((_, s) => s.shuffleWrite.toDouble), "B"),
      ("stage.shuffle_read_bytes", perOp((_, s) => s.shuffleRead.toDouble), "B"),
      ("stage.spill_bytes", perOp((_, s) => s.spill.toDouble), "B"),
      ("stage.gc_s", perOp((_, s) => s.gcMs / 1e3), "s"),
      ("trace.untraced_op_p50_s", untracedP50, "s"),
      ("trace.traced_op_p50_s", tracedP50, "s"),
      ("trace.overhead_frac", if (untracedP50 > 0) tracedP50 / untracedP50 - 1 else 0.0, "ratio"))
  }
}
