package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try, Using}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.operators.CheckpointScope
import graft.retention.{Protocol, Retention, RetentionConfig, RetentionJob, StarAdapter}
import graft.sources.KeyedUpsert

import Workload._

/** `retention_delta`: set-up generates the seeded input and bootstraps
  * the sink with the batch job (`RetentionJob.run`); each pass delivers
  * about 1% new persons in new households, upserts them with
  * `Protocol.run` against a materialized snapshot of the sink's history,
  * then reads them back by key. */
final class RetentionDelta(ctx: Context, persons: Int) extends Workload {
  import ctx._

  val Buckets = 64
  def primaryKind = "delivery"
  def kindNames = Seq("delivery" -> "delivery_s", "lookup" -> "lookup_s")
  private var input: RetentionInput = _
  private var dir: String = _
  private var cfg: RetentionConfig = _
  private var generateS = 0.0
  private def sink = s"$dir/sink"
  private def deliverySize = math.max(2, persons / 100)
  private val snapshots = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
  private var delivered = 0L
  private var deliveries = 0
  /** The sink as the last check read it: the state before the next delivery. */
  private var lastRead: Map[Long, Row] = Map.empty

  private def read(sink: String): DataFrame =
    KeyedUpsert.read(spark, sink).select("person_id", "household_retention_history")

  /** Fresh inputs in a fresh directory, then the batch job into a fresh
    * sink. The program's own as-of date must be the generator's. */
  def setup(rep: Int): Seq[(String, Double)] = {
    dir = s"$work/retention_delta/r$rep"
    deleteTree(dir)
    val (in, genS) = timed {
      val in = new RetentionInput(seed, persons)
      in.write(spark, dir, 0, in.size, cpus)
      in
    }
    input = in
    generateS = genS
    cfg = RetentionConfig(asOf = RetentionInput.AsOf)
    val asOf = StarAdapter.config(spark, dir).asOf
    require(asOf == cfg.asOf, s"the program's as-of date $asOf is not ${cfg.asOf}")
    val (written, bootS) = timed(quiet(
      RetentionJob.run(spark, RetentionJob.JobConfig("ALL", dir, sink, 10000))))
    if (written != input.size) throw new IllegalStateException(s"bootstrap wrote $written persons")
    Seq("input.generate_s" -> generateS, "retention.RetentionJob.run_s" -> bootS)
  }

  /** Checks the bootstrapped sink, then runs one untimed delivery. */
  def warmUp(): (Seq[(String, String)], Seq[(String, Double)]) = {
    val boot = Try { lastRead = readAll(); checkAll(lastRead) }.fold(describe, identity)
    if (boot.nonEmpty) (Seq("Protocol.run" -> s"bootstrap: $boot"), Nil)
    else (pass(-1).ops.filterNot(_.ok).map(o => o.name -> o.check), Nil)
  }

  /** The sink's history, read once and held in memory, so that the
    * upsert below never reads files it is replacing. */
  private def snapshot(): DataFrame = read(sink).localCheckpoint(true)

  def pass(index: Int): Pass = {
    val (lo, hi) = arrive()
    var snap: DataFrame = null
    val (res, deliveryS) = timed(Try(tracer.span("delivery") {
      val (s, snapS) = timed(tracer.span("snapshot")(snapshot()))
      snapshots += ((index, snapS))
      snap = s
      Protocol.run(spark, StarAdapter.persons(spark, dir).join(s, Seq("person_id"), "left"),
        StarAdapter.encounters(spark, dir), cfg, sink, Buckets)
    }))
    if (snap != null) CheckpointScope.release(snap)
    val keys = lo until hi
    val (rows, lookupS) = timed(Try(tracer.span("lookup")(
      read(sink).filter(col("person_id").isInCollection(keys)).collect().toSeq)))
    val sinkCheck = check(lo)
    val deliveryCheck = res match {
      case Failure(e) => describe(e)
      case Success(w) if w != hi - lo => s"delivery wrote $w persons, expected ${hi - lo}"
      case Success(_) => sinkCheck
    }
    val lookupCheck = rows.fold(describe, checkRows(_, keys.size))
    Pass(index, Seq(Op("delivery", "Protocol.run", deliveryS, deliveryCheck),
                    Op("lookup", "KeyedUpsert.read", lookupS, lookupCheck)), storageMemBytes(spark), 0)
  }

  /** A delivery arrives: new persons and their encounters are appended
    * to the input. Not timed. */
  private def arrive(): (Long, Long) = {
    val (lo, hi) = input.deliver(spark, dir, deliverySize, cpus)
    delivered += hi - lo
    deliveries += 1
    (lo, hi)
  }

  /** Every row of the sink, keyed by person. */
  private def readAll(): Map[Long, Row] = {
    val rows = read(sink).collect()
    val byPerson = rows.map(r => r.getLong(0) -> r).toMap
    if (byPerson.size != rows.length) throw new IllegalStateException(
      s"sink holds ${rows.length - byPerson.size} duplicate persons")
    byPerson
  }

  /** Sink checks: the person count, and the history of every person
    * against `Incremental.rangesFor`. */
  private def checkAll(rows: Map[Long, Row]): String =
    if (rows.size != input.size) s"sink holds ${rows.size} persons, expected ${input.size}"
    else checkRows(rows.values.toSeq, rows.size)

  private def checkRows(rows: Seq[Row], expected: Int): String = {
    if (rows.size != expected) return s"read ${rows.size} persons, expected $expected"
    val bad = RetentionInput.mismatches(input, rows, cfg)
    if (bad.isEmpty) "" else s"${bad.size} persons with wrong ranges, e.g. ${bad.head}"
  }

  /** After a delivery of the keys from `lo` on: the whole sink must be
    * right, and the persons that were there before (keys below `lo`)
    * must read back unchanged. */
  private def check(lo: Long): String = Try {
    val before = lastRead
    lastRead = readAll()
    val want = RetentionInput.checksum(before.values)
    val got = RetentionInput.checksum(lastRead.collect { case (k, r) if k < lo => r })
    Seq(checkAll(lastRead),
        if (got == want) "" else s"untouched persons changed: checksum $got, expected $want")
      .filter(_.nonEmpty).mkString("; ")
  }.fold(describe, identity)

  /** The decomposition pass: one more delivery, with the layer functions
    * called one at a time, each as its own span. */
  def decompose(traced: Seq[Pass]): Seq[(String, Double)] = {
    val (lo, hi) = arrive()
    val keys = lo until hi
    val tr = tracer
    val rows = tr.span("decompose") {
      val snap = tr.span("KeyedUpsert.snapshot")(snapshot())
      val cfg2 = tr.span("StarAdapter.config")(StarAdapter.config(spark, dir))
      val people = StarAdapter.persons(spark, dir).join(snap, Seq("person_id"), "left")
      val encounters = StarAdapter.encounters(spark, dir)
      val pending = tr.span("Protocol.countPersonsWithoutRetention")(
        Protocol.countPersonsWithoutRetention(people))
      val nested = tr.span("Retention.nestRanges")(
        Retention.nestRanges(Retention.personRanges(
          Protocol.personsWithoutRetention(people), encounters, cfg2)).localCheckpoint(true))
      val before = bucketFiles()
      tr.span("KeyedUpsert.upsert")(KeyedUpsert.upsert(spark, sink, nested, "person_id", Buckets))
      val after = bucketFiles()
      val rows = tr.span("KeyedUpsert.read")(
        read(sink).filter(col("person_id").isInCollection(keys)).collect().toSeq)
      CheckpointScope.release(nested)
      CheckpointScope.release(snap)
      (rows, pending, after.count { case (b, files) => !before.get(b).contains(files) })
    }
    tr.drain()
    val (got, pending, changed) = rows
    val failed = Seq(checkRows(got, keys.size), check(lo)).filter(_.nonEmpty)
    if (failed.nonEmpty) throw new IllegalStateException(s"decomposition check failed: ${failed.mkString("; ")}")

    val nest = tr.totals(tr.jobsUnder("decompose/Retention.nestRanges"))
    val upsert = tr.totals(tr.jobsUnder("decompose/KeyedUpsert.upsert"))
    val decomposeS = Seq("KeyedUpsert.snapshot", "StarAdapter.config",
      "Protocol.countPersonsWithoutRetention", "Retention.nestRanges", "KeyedUpsert.upsert")
      .map(p => tr.spanSeconds(s"decompose/$p")).sum
    val ops = traced.flatMap(_.ops)
    val deliveryOps = ops.filter(_.kind == "delivery")
    val jobs = tr.jobsUnder("delivery")
    val n = math.max(1, deliveryOps.size)
    val rowsPerDelivery = deliverySize + input.encounters(lo, hi).toDouble
    val tracedIdx = traced.map(_.index).toSet
    Seq(
      "retention.Retention.self_s" -> tr.spanSeconds("decompose/Retention.nestRanges"),
      "retention.Retention.shuffle_bytes_per_encounter" ->
        nest.shuffleWrite.toDouble / input.encounters(0, input.size),
      "retention.Retention.spill_bytes" -> nest.spill.toDouble,
      "retention.StarAdapter.config_s" -> tr.spanSeconds("decompose/StarAdapter.config"),
      "retention.Protocol.jobs" -> jobs.size.toDouble / n,
      "retention.Protocol.rescan_factor" -> tr.totals(jobs).inputRows / n / math.max(1.0, rowsPerDelivery),
      "retention.Protocol.orchestration_s" -> (median(deliveryOps.map(_.seconds)) - decomposeS),
      "sources.KeyedUpsert.self_s" -> tr.spanSeconds("decompose/KeyedUpsert.upsert"),
      "sources.KeyedUpsert.snapshot_s" -> median(snapshots.collect { case (i, s) if tracedIdx(i) => s }.toSeq),
      "sources.KeyedUpsert.rows_written_per_row_updated" -> upsert.outputRows.toDouble / math.max(1L, pending),
      "sources.KeyedUpsert.buckets_rewritten_frac" -> changed.toDouble / Buckets,
      "sources.KeyedUpsert.sink_files" -> bucketFiles().values.map(_.count(_.endsWith(".parquet"))).sum.toDouble,
      "sources.KeyedUpsert.read_s" -> median(ops.filter(_.kind == "lookup").map(_.seconds)))
  }

  /** Bucket directory name -> its sorted file names. */
  private def bucketFiles(): Map[String, Seq[String]] = {
    val root = Paths.get(sink)
    if (!Files.isDirectory(root)) Map.empty
    else Using.resource(Files.list(root))(_.iterator().asScala.toSeq)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(KeyedUpsert.BucketCol + "="))
      .map(p => p.getFileName.toString ->
        Using.resource(Files.list(p))(_.iterator().asScala.map(_.getFileName.toString).toSeq.sorted))
      .toMap
  }

  def inputs: Seq[(String, Any)] =
    Seq("persons" -> input.size, "encounters" -> input.encounters(0, input.size),
        "input_checksum" -> input.checksum, "generate_s" -> generateS,
        "delivery_persons" -> deliverySize, "deliveries" -> deliveries,
        "delivered_persons" -> delivered) ++
      input.shares(cfg).map { case (k, v) => s"share_$k" -> v }
}
