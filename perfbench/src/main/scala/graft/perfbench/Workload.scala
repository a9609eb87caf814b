package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.SparkSession

/** One timed operation of a pass. `check` is empty when the operation
  * succeeded and its output check passed, and otherwise says why not. */
final case class Op(kind: String, name: String, seconds: Double, check: String = "") {
  def ok: Boolean = check.isEmpty
}

/** One closed-loop pass: its operations in the order they ran, and the
  * session's state right after it. */
final case class Pass(index: Int, ops: Seq[Op], storageMemBytes: Long, checkpointsPending: Int) {
  def seconds: Double = ops.map(_.seconds).sum
}

/** What every workload gives the runner. */
final case class Context(spark: SparkSession, work: String, bench: String, seed: Long,
                         cpus: Int, tracer: Tracer)

/** A workload: repeatable set-up, then closed-loop passes. */
trait Workload {
  /** The operation kind whose per-operation median times make the
    * workload's `op_s`. */
  def primaryKind: String

  /** The names this workload's time metrics have in its own terms,
    * per operation kind, e.g. `job_s` for a retention job. */
  def kindNames: Seq[(String, String)]

  /** One complete set-up on fresh state: inputs and shared builds.
    * Returns the time of each named build. */
  def setup(rep: Int): Seq[(String, Double)]

  /** Once, after the last set-up: builds the session's shared caches
    * and, where the set-ups leave code cold, runs one untimed pass.
    * Returns one message per failed output check, keyed by the name of
    * the operation it fails, and the time of each named build. */
  def warmUp(): (Seq[(String, String)], Seq[(String, Double)])

  /** One pass of the closed loop. */
  def pass(index: Int): Pass

  /** Traced runs only: calls the layers one at a time, each as its own
    * span, and returns the per-layer metrics that need those spans. */
  def decompose(traced: Seq[Pass]): Seq[(String, Double)]

  /** Facts about the inputs, for the run record. */
  def inputs: Seq[(String, Any)]
}

object Workload {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Bytes held in the block managers' storage memory. */
  def storageMemBytes(spark: SparkSession): Long =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum

  /** Runs `body` with stdout discarded: program entry points print
    * progress lines that must not mix with the benchmark's output. */
  def quiet[T](body: => T): T =
    Console.withOut(new java.io.PrintStream(java.io.OutputStream.nullOutputStream()))(body)

  /** Copies the directory tree `from` to `to`. */
  def copyFixture(from: String, to: String): Unit = {
    val src = Paths.get(from)
    if (!Files.isDirectory(src)) throw new IllegalStateException(s"missing fixture $from")
    Using.resource(Files.walk(src))(_.iterator().asScala.foreach { p =>
      val d = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.REPLACE_EXISTING)
    })
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Using.resource(Files.walk(p))(_.iterator().asScala.toSeq.reverse.foreach(Files.delete))
  }

  def describe(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
    s"${e.getClass.getSimpleName}: ${m.take(300)}"
  }
}
