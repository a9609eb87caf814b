package graft.perfbench

import scala.collection.immutable.ListMap

import Workload._

/** Every metric the benchmark prints, with its unit and direction. The
  * self-test checks that `BENCHMARK.json` lists exactly these. */
object Metrics {

  final case class Def(name: String, unit: String, better: String = "lower")

  /** Printed by every untraced run. `op_s` is the geometric mean, over
    * the workload's primary operations (the delivery, or each query), of
    * an operation's median time across the timed passes; `pass_s` is the
    * median time of one closed-loop pass (`delivery_s` + `lookup_s`, or
    * `suite_s`). */
  val endToEnd: Seq[Def] = Seq(Def("setup_s", "s"), Def("op_s", "s"), Def("pass_s", "s"))

  /** Files whose Spark jobs are reported one by one; jobs launched
    * elsewhere count as `callsite.other`. `RetentionDelta` and
    * `QueryWorkloads` are the benchmark's own actions: the keyed
    * read-back, and the action that runs each query to its output. */
  val CallSiteFiles: Seq[String] = Seq(
    "Protocol", "KeyedUpsert", "Tables", "LoopCheckpoint", "GlobalOrder", "DedupIndex",
    "ImpactIndex", "RetentionDelta", "QueryWorkloads", "other")

  private val sparkDefs = Seq(
    Def("spark.executor_run_s", "s"), Def("spark.executor_cpu_s", "s"), Def("spark.gc_s", "s"),
    Def("spark.shuffle_read_bytes", "bytes"), Def("spark.shuffle_write_bytes", "bytes"),
    Def("spark.spill_bytes", "bytes"), Def("spark.peak_exec_mem_bytes", "bytes"),
    Def("spark.input_bytes", "bytes"), Def("spark.output_bytes", "bytes"),
    Def("spark.jobs", "count"), Def("spark.stages", "count"), Def("spark.tasks", "count"),
    Def("spark.core_busy_frac", "ratio", "higher"))

  private val planDefs = Seq("exchanges", "broadcast_exchanges", "sort_merge_joins", "windows",
    "in_memory_scans", "codegen_fallbacks").map(n => Def(s"plan.$n", "count"))

  /** Printed by every traced run; a layer the workload does not run
    * reads 0. Per-pass values are means over the traced passes;
    * `session.pass_drift_frac` is the last untraced pass over the first
    * untraced one, minus 1; `retention.RetentionJob.run_s` is the median
    * sink bootstrap of the set-ups. */
  val perLayer: Seq[Def] = Seq(
    Def("retention.RetentionJob.run_s", "s"),
    Def("retention.Retention.self_s", "s"),
    Def("retention.Retention.shuffle_bytes_per_encounter", "bytes"),
    Def("retention.Retention.spill_bytes", "bytes"),
    Def("retention.StarAdapter.config_s", "s"),
    Def("retention.Protocol.jobs", "count"),
    Def("retention.Protocol.rescan_factor", "ratio"),
    Def("retention.Protocol.orchestration_s", "s"),
    Def("sources.KeyedUpsert.self_s", "s"),
    Def("sources.KeyedUpsert.snapshot_s", "s"),
    Def("sources.KeyedUpsert.rows_written_per_row_updated", "ratio"),
    Def("sources.KeyedUpsert.buckets_rewritten_frac", "ratio"),
    Def("sources.KeyedUpsert.sink_files", "count"),
    Def("sources.KeyedUpsert.read_s", "s")) ++
    Queries.buildMetrics.map(Def(_, "s")) ++
    Seq(Def("session.pass_drift_frac", "ratio"), Def("session.storage_mem_bytes", "bytes"),
        Def("operators.CheckpointScope.pending", "count")) ++
    sparkDefs ++ planDefs ++
    Queries.families.flatMap(f => Seq(
      Def(s"registry.$f.self_s", "s"), Def(s"registry.$f.shuffle_bytes", "bytes"),
      Def(s"registry.$f.spill_bytes", "bytes"), Def(s"registry.$f.gc_s", "s"),
      Def(s"registry.$f.exchanges", "count"), Def(s"registry.$f.codegen_fallbacks", "count"))) ++
    CallSiteFiles.flatMap(f => Seq(Def(s"callsite.$f.run_s", "s"), Def(s"callsite.$f.jobs", "count"))) :+
    Def("trace.overhead_frac", "ratio")

  private lazy val units = (endToEnd ++ perLayer).map(d => d.name -> d.unit).toMap

  def unit(name: String): String = units.getOrElse(name, "")

  private def opTimes(passes: Seq[Pass], kind: String): Seq[Double] =
    passes.flatMap(_.ops).filter(_.kind == kind).map(_.seconds)

  def endToEnd(w: Workload, setupS: Double, passes: Seq[Pass]): ListMap[String, Double] = ListMap(
    "setup_s" -> setupS,
    "op_s" -> geomean(passes.flatMap(_.ops).filter(_.kind == w.primaryKind)
      .groupBy(_.name).values.map(ops => median(ops.map(_.seconds))).toSeq),
    "pass_s" -> median(passes.map(_.seconds)))

  /** The workload's metrics under the names it has in its own terms,
    * each with its sample count. */
  def workloadOwn(w: Workload, setupS: Double, passes: Seq[Pass], attempted: Int,
                  failed: Int): ListMap[String, Any] = {
    def m(v: Double, unit: String, n: Int) = Json.obj("value" -> v, "unit" -> unit, "samples" -> n)
    val kinds = w.kindNames.flatMap { case (kind, name) =>
      val xs = opTimes(passes, kind)
      if (kind == "query") Seq(
        "suite_s" -> m(median(passes.map(_.seconds)), "s", passes.size),
        "query_p50_s" -> m(median(xs), "s", xs.size),
        "query_p90_s" -> m(quantile(xs, 0.9), "s", xs.size))
      else Seq(name -> m(median(xs), "s", xs.size))
    }
    ListMap(("setup_s" -> m(setupS, "s", Main.SetupReps)) +:
      ("error_rate" -> m(failed.toDouble / math.max(1, attempted), "ratio", attempted)) +: kinds: _*)
  }

  /** Jobs of the traced passes' operations: not the decomposition, and
    * not the output checks, which run outside every span. */
  private def passJobs(tr: Tracer) =
    tr.allJobs.filter(j => j.span.nonEmpty && !j.span.startsWith("decompose"))

  /** Per pass: the job time and job count of each file that launched
    * jobs, the busiest first; `fileOf` names the file of a job. */
  private def byFile(jobs: Seq[Job], passes: Int, fileOf: Job => String): Seq[(String, Double)] = {
    val n = math.max(1, passes).toDouble
    jobs.groupBy(fileOf).toSeq.sortBy(-_._2.size).flatMap { case (f, js) =>
      Seq(s"$f.run_s" -> js.map(j => (j.endMs - j.startMs) / 1e3).sum / n, s"$f.jobs" -> js.size / n)
    }
  }

  /** Every file's jobs, for the run record. */
  def callsites(tr: Tracer, passes: Int): ListMap[String, Double] =
    ListMap(byFile(passJobs(tr), passes, j => Tracer.callSiteFile(j.callSite)): _*)

  def perLayer(w: Workload, ctx: Context, builds: Seq[Seq[(String, Double)]], untraced: Seq[Pass],
               traced: Seq[Pass], layers: Seq[(String, Double)]): ListMap[String, Double] = {
    val tr = ctx.tracer
    val n = math.max(1, traced.size).toDouble
    val jobs = passJobs(tr)
    val t = tr.totals(jobs)
    val c = tr.census(jobs)
    val wall = traced.map(_.seconds).sum
    val buildMedians = builds.flatten.groupBy(_._1).map { case (k, v) => k -> median(v.map(_._2)) }
    val files = byFile(jobs, traced.size, { j =>
      val f = Tracer.callSiteFile(j.callSite)
      if (CallSiteFiles.contains(f)) f else "other"
    }).map { case (k, v) => s"callsite.$k" -> v }
    val untracedPass = median(untraced.map(_.seconds))
    val measured: Map[String, Double] = layers.toMap ++ buildMedians ++ Map(
      "session.pass_drift_frac" -> (untraced.last.seconds - untraced.head.seconds) / untraced.head.seconds,
      "session.storage_mem_bytes" -> traced.last.storageMemBytes.toDouble,
      "operators.CheckpointScope.pending" -> traced.map(_.checkpointsPending).sum / n,
      "spark.executor_run_s" -> t.runS / n, "spark.executor_cpu_s" -> t.cpuS / n,
      "spark.gc_s" -> t.gcS / n,
      "spark.shuffle_read_bytes" -> t.shuffleRead / n, "spark.shuffle_write_bytes" -> t.shuffleWrite / n,
      "spark.spill_bytes" -> t.spill / n, "spark.peak_exec_mem_bytes" -> t.peakMem.toDouble,
      "spark.input_bytes" -> t.inputBytes / n, "spark.output_bytes" -> t.outputBytes / n,
      "spark.jobs" -> t.jobs / n, "spark.stages" -> t.stages / n, "spark.tasks" -> t.tasks / n,
      "spark.core_busy_frac" -> t.runS / math.max(1e-9, wall * ctx.cpus),
      "plan.exchanges" -> c.exchanges / n, "plan.broadcast_exchanges" -> c.broadcasts / n,
      "plan.sort_merge_joins" -> c.sortMergeJoins / n, "plan.windows" -> c.windows / n,
      "plan.in_memory_scans" -> c.inMemoryScans / n, "plan.codegen_fallbacks" -> c.codegenFallbacks / n,
      "trace.overhead_frac" -> (median(traced.map(_.seconds)) - untracedPass) / untracedPass) ++ files
    ListMap(perLayer.map(d => d.name -> measured.getOrElse(d.name, 0.0)): _*)
  }
}
