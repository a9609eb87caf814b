package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

import Workload._

/** The benchmark's JVM entry point; `perfbench/run.py` builds the
  * classpath and launches it.
  *
  * One run: start a session, set the workload up [[SetupReps]] times on
  * fresh state, warm it up, run closed-loop passes
  * for `--seconds` (at least [[MinPasses]]), and with `--trace 1` run
  * them again with the tracer attached, then the workload's
  * decomposition pass. Output checks run
  * after every operation. `setup_s` is the session start, plus the
  * median set-up, plus the warm-up. The run record goes to
  * `<work>/records/`, one file per run; the result is the last stdout
  * line. */
object Main {
  /** The workloads, as `BENCHMARK.json` lists them. */
  val Workloads = Seq("retention_delta", "registry_queries")
  val SetupReps = 2
  /** Timed passes per window, however long they take: the per-query
    * p90 and the pass drift need more than one. */
  val MinPasses = 2
  /** Persons in the retention workload's base input. */
  val RetentionPersons = 3000

  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 10, trace: Boolean = false,
                        work: String = "", bench: String = "", cpus: Int = 4,
                        selftest: Boolean = false, recordExpected: String = "")

  def parse(args: Array[String]): Args = args.grouped(2).foldLeft(Args()) {
    case (a, Array("--workload", v)) => a.copy(workload = v)
    case (a, Array("--seed", v)) => a.copy(seed = v.toLong)
    case (a, Array("--seconds", v)) => a.copy(seconds = v.toInt)
    case (a, Array("--trace", v)) => a.copy(trace = v == "1")
    case (a, Array("--work", v)) => a.copy(work = v)
    case (a, Array("--bench", v)) => a.copy(bench = v)
    case (a, Array("--cpus", v)) => a.copy(cpus = v.toInt)
    case (a, Array("--selftest", "1")) => a.copy(selftest = true)
    case (a, Array("--record-expected", v)) => a.copy(recordExpected = v)
    case (_, other) => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(ctx: Context, name: String): Workload = name match {
    case "retention_delta" => new RetentionDelta(ctx, RetentionPersons)
    case "registry_queries" =>
      new QueryWorkload(ctx, Queries.loadExpected(s"${ctx.bench}/expected/queries.json"))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def loadavg(): Seq[Double] =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").trim.split(" ")
      .take(3).map(_.toDouble).toSeq).getOrElse(Nil)

  /** Closed-loop passes until `seconds` have passed and at least
    * [[MinPasses]] have run; a pass that has started always finishes. */
  def window(w: Workload, seconds: Int, first: Int): Seq[Pass] = {
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer[Pass]()
    while (out.size < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds)
      out += w.pass(first + out.size)
    out.toSeq
  }

  def main(argv: Array[String]): Unit = {
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    if (a.selftest) sys.exit(SelfTest.run(a))
    if (a.recordExpected.nonEmpty) sys.exit(RecordExpected.run(a))
    val load0 = loadavg()
    val spark = session(a)
    val code =
      try run(a, spark, startMs, load0)
      catch { case e: Throwable =>
        System.err.println(s"perfbench: run failed: ${describe(e)}")
        e.printStackTrace()
        2
      } finally spark.stop()
    sys.exit(code)
  }

  def run(a: Args, spark: SparkSession, startMs: Long, load0: Seq[Double]): Int = {
    val sessionS = (System.currentTimeMillis() - startMs) / 1e3
    val tracer = new Tracer(spark)
    val ctx = Context(spark, a.work, a.bench, a.seed, a.cpus, tracer)
    val w = workload(ctx, a.workload)
    val reps = (0 until SetupReps).map(r => timed(w.setup(r)).swap)
    val ((warmChecks, caches), warmS) = timed(w.warmUp())
    val setupS = sessionS + median(reps.map(_._1)) + warmS
    val untraced = window(w, a.seconds, 0)
    val (traced, layers) =
      if (!a.trace) (Nil, Nil)
      else {
        tracer.attach()
        val t = window(w, a.seconds, untraced.size)
        val l = w.decompose(t)
        tracer.drain()
        (t, l)
      }
    tracer.detach()
    val load1 = loadavg()

    val failedNames = warmChecks.map(_._1).toSet
    val ops = (untraced ++ traced).flatMap(_.ops)
    val failedOps = ops.filter(o => !o.ok || failedNames(o.name))
    val e2e = Metrics.endToEnd(w, setupS, untraced)
    val perLayer =
      if (!a.trace) ListMap.empty[String, Double]
      else Metrics.perLayer(w, ctx, reps.map(_._2) :+ caches, untraced, traced, layers)
    val own = Metrics.workloadOwn(w, setupS, untraced, ops.size, failedOps.size)

    val record = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "commit" -> sys.props.getOrElse("perfbench.commit", "unknown"),
      "nproc" -> a.cpus, "heap" -> sys.props.getOrElse("perfbench.heap", ""),
      "loadavg_start" -> load0, "loadavg_end" -> load1,
      "spark_conf" -> ListMap(spark.sparkContext.getConf.getAll.sortBy(_._1).toIndexedSeq: _*),
      "session_start_s" -> sessionS, "warmup_s" -> warmS, "warmup_builds" -> ListMap(caches: _*),
      "setup_reps" -> reps.map { case (s, builds) => Json.obj("seconds" -> s, "builds" -> ListMap(builds: _*)) },
      "inputs" -> ListMap(w.inputs: _*),
      "passes" -> Json.obj("untraced" -> untraced.map(passJson), "traced" -> traced.map(passJson)),
      "attempted" -> ops.size, "failed" -> failedOps.size,
      "failures" -> (failedOps.filterNot(_.ok).map(o => Json.obj("op" -> o.name, "check" -> o.check)) ++
        warmChecks.map { case (n, m) => Json.obj("op" -> n, "check" -> s"warm-up: $m") }),
      "workload_metrics" -> own,
      "end_to_end" -> e2e,
      "per_layer" -> perLayer,
      "callsites" -> (if (a.trace) Metrics.callsites(tracer, traced.size) else ListMap.empty),
      "unattributed_plans" -> (if (a.trace) tracer.unattributedPlans else 0),
      "spans" -> tracer.spans.map(s => Json.obj("name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    val records = Paths.get(a.work, "records")
    Files.createDirectories(records)
    Files.write(records.resolve(s"${a.workload}_s${a.seed}_t${if (a.trace) 1 else 0}_$startMs.json"),
      Json.render(record).getBytes("UTF-8"))

    own.foreach { case (k, v) => println(f"$k%-24s ${Json.render(v)}") }
    val shown = if (a.trace) perLayer.map { case (k, v) => k -> (v, Metrics.unit(k)) }
                else e2e.map { case (k, v) => k -> (v, Metrics.unit(k)) }
    val correct = failedOps.isEmpty
    println(Json.render(Json.obj(
      "correct" -> correct, "attempted" -> ops.size, "failed" -> failedOps.size,
      "metrics" -> shown.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) })))
    if (correct) 0 else 1
  }

  private def passJson(p: Pass) = Json.obj(
    "index" -> p.index, "seconds" -> p.seconds, "storage_mem_bytes" -> p.storageMemBytes,
    "checkpoints_pending" -> p.checkpointsPending,
    "ops" -> p.ops.map(o => Json.obj("kind" -> o.kind, "name" -> o.name, "seconds" -> o.seconds,
      "check" -> o.check)))
}
