package perfbench

/** Per-layer metrics of a traced run: each is the median over traced
  * passes of that pass's value (see README.md for the metric → layer
  * map). Layers a workload does not use report 0. */
object Layers {
  private val MB = 1024.0 * 1024.0

  /** Every per-layer metric name with its unit, in report order. */
  val names: Seq[(String, String)] = Seq(
    "entry.build_s" -> "s", "entry.build_jobs" -> "count",
    "catalyst.plan_s" -> "s",
    "codegen.compile_s" -> "s", "codegen.compiles" -> "count",
    "sched.jobs" -> "count", "sched.tasks" -> "count", "sched.busy_frac" -> "fraction",
    "shuffle.write_mb" -> "MB", "shuffle.fetch_wait_s" -> "s", "shuffle.spill_mb" -> "MB",
    "exec.gc_s" -> "s") ++
    QueryMix.pipelines.flatMap(q => Seq(s"operators.$q.s" -> "s",
      s"operators.$q.jobs" -> "count", s"operators.$q.shuffle_mb" -> "MB")) ++ Seq(
    "sources.scan_s" -> "s", "sources.read_mb" -> "MB", "sources.records" -> "count",
    "sources.tasks" -> "count", "sources.busy_frac" -> "fraction",
    "sources.pushdown_keep_frac" -> "fraction",
    "kernels.links_s" -> "s", "kernels.diff_s" -> "s", "kernels.tokens_s" -> "s",
    "sinks.write_s" -> "s", "sinks.write_mb" -> "MB", "sinks.files" -> "count",
    "streaming.batches" -> "count", "streaming.batch_s" -> "s",
    "setup.session_s" -> "s", "setup.datagen_s" -> "s", "setup.warmup_s" -> "s",
    "setup.warm_rep_s" -> "s",
    "trace.overhead_frac" -> "fraction")

  def metrics(w: Workload, ops: Seq[Op], warm: Seq[Pass], traced: Seq[Pass],
              kernelRuns: Seq[Map[String, Double]], sinkRuns: Seq[Double],
              setup: Map[String, Double], cores: Int): Seq[(String, (Double, String))] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def per(f: (Pass, PassLayers) => Double): Double =
      med(traced.flatMap(p => p.layers.map(l => f(p, l))))
    val scans = w.scanOps
    val values: Map[String, Double] = Map(
      "entry.build_s" -> per((p, _) => p.buildSeconds.values.sum),
      "entry.build_jobs" -> per((_, l) => l.buildJobs.toDouble),
      "catalyst.plan_s" -> per((_, l) => l.total.planMs / 1e3),
      "codegen.compile_s" -> per((_, l) => l.compileS),
      "codegen.compiles" -> per((_, l) => l.compiles.toDouble),
      "sched.jobs" -> per((_, l) => l.total.jobs.toDouble),
      "sched.tasks" -> per((_, l) => l.total.tasks.toDouble),
      "sched.busy_frac" -> per((p, l) => l.total.taskRunMs / 1e3 / (p.wall * cores)),
      "shuffle.write_mb" -> per((_, l) => l.total.shuffleWriteB / MB),
      "shuffle.fetch_wait_s" -> per((_, l) => l.total.fetchWaitMs / 1e3),
      "shuffle.spill_mb" -> per((_, l) => l.total.spillB / MB),
      "exec.gc_s" -> per((_, l) => l.gcS),
      "sources.scan_s" -> per((p, _) => scans.map(p.opSeconds).sum),
      "sources.read_mb" -> per((_, l) => scans.map(l.byOp(_).inputB).sum / MB),
      "sources.records" -> per((_, l) => scans.map(l.byOp(_).inputRecords).sum.toDouble),
      "sources.tasks" -> per((_, l) => scans.map(l.byOp(_).tasks).sum.toDouble),
      "sources.busy_frac" -> per { (p, l) =>
        val s = scans.map(p.opSeconds).sum
        if (s == 0) 0.0 else scans.map(l.byOp(_).taskRunMs).sum / 1e3 / (s * cores)
      },
      "sources.pushdown_keep_frac" -> per { (_, l) =>
        w.pushdownPair.fold(0.0) { case (kept, all) =>
          l.byOp(kept).inputRecords.toDouble / math.max(1L, l.byOp(all).inputRecords)
        }
      },
      "sinks.write_s" -> med(sinkRuns),
      "sinks.write_mb" -> per((_, l) => l.total.sinkB / MB),
      "sinks.files" -> per((_, l) => l.total.sinkFiles.toDouble),
      "streaming.batches" -> per((_, l) => l.total.batches.toDouble),
      "streaming.batch_s" -> per((_, l) =>
        if (l.total.batches == 0) 0.0 else l.total.batchMs / 1e3 / l.total.batches),
      "trace.overhead_frac" -> (med(traced.map(_.wall)) / med(warm.map(_.wall)) - 1.0)
    ) ++ setup ++
      Seq("kernels.links_s", "kernels.diff_s", "kernels.tokens_s")
        .map(k => k -> med(kernelRuns.flatMap(_.get(k)))) ++
      w.operatorOps.flatMap { q =>
        Seq(s"operators.$q.s" -> per((p, _) => p.opSeconds(q)),
          s"operators.$q.jobs" -> per((_, l) => l.byOp(q).jobs.toDouble),
          s"operators.$q.shuffle_mb" -> per((_, l) => l.byOp(q).shuffleWriteB / MB))
      }
    names.map { case (n, unit) => n -> (values.getOrElse(n, 0.0), unit) }
  }

  /** Traced per-operation time (build + action, summed over the
    * sequence) against the untraced time of the same operations, as a
    * fraction: 0 means they agree. */
  def reconcile(ops: Seq[Op], warm: Seq[Pass], traced: Seq[Pass]): Double = {
    def sum(ps: Seq[Pass]) = Stats.median(ps.map(p => ops.map(o => p.opSeconds(o.name)).sum))
    sum(traced) / sum(warm) - 1.0
  }
}
