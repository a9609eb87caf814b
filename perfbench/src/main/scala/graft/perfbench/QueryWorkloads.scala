package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{BusinessQueries, DedupQueries, GraphQueries, QueryHelpers, SimilarityQueries,
  StatsQueries, Tables, TemporalCQueries, TextQueries}
import graft.operators.CheckpointScope
import graft.sources.{DedupIndex, ImpactIndex}

import Workload._

/** One query of a query workload: its registry family, its name, the
  * registry query whose DuckDB oracle checks it, and how to build it
  * from (session, data dir, index dir). */
final case class Query(family: String, name: String, oracle: String,
                       build: (SparkSession, String, String) => DataFrame)

/** A query's expected output: row count, an order-independent hash of
  * its non-floating-point columns, and the sum of each floating-point
  * column. */
final case class Expected(rows: Long, hash: String, sums: Seq[Double], oracle: String)

object Queries {
  private def registry(family: String, entries: Seq[(String, (SparkSession, String) => DataFrame)],
                       names: String*): Seq[Query] = {
    val byName = entries.toMap
    names.map { n =>
      val f = byName.getOrElse(n, throw new IllegalArgumentException(s"no query $n in $family"))
      Query(family, n, n, (s, dir, _) => f(s, dir))
    }
  }

  /** The registry's shared-index queries build their indexes under a
    * fixed scratch path; these two run the same calls against an index
    * the benchmark builds inside its own work directory. */
  private val indexReads = Seq(
    Query("Dedup", "DedupIndex.pairs", "q_dedup_minhash_lsh",
      (s, _, idx) => DedupIndex.pairs(s, s"$idx/dedup")),
    Query("Retrieval", "ImpactIndex.search", "q_bm25_bucketed",
      (s, _, idx) => ImpactIndex.search(s, s"$idx/impact", "doc_id", Seq("spark", "window", "stream"), 10)))

  /** Shingles and SimHash, cosine, BPE, n-gram novelty, TF-IDF, and
    * the dedup (MinHash) and impact (BM25) indexes, for the curation
    * families; then one query of each analytics family: grouped and
    * ungrouped `GlobalOrder` numbering, TemporalC interval windows, and
    * a `LoopCheckpoint` graph loop over `coEdgesFor`. */
  val all: Seq[Query] =
    registry("Dedup", DedupQueries.queries, "q_dedup_simhash") ++
    registry("Similarity", SimilarityQueries.queries, "q_sim_cosine_topk") ++
    registry("Text", TextQueries.queries, "q_bpe_encode", "q_ngram_novelty", "q_tfidf_topk") ++
    indexReads ++
    registry("Stats", StatsQueries.queries, "q_percentile_rank") ++
    registry("Business", BusinessQueries.queries, "q_rfm") ++
    registry("TemporalC", TemporalCQueries.queries, "q_allen_intervals") ++
    registry("Graph", GraphQueries.queries, "q_label_prop")

  val families: Seq[String] = all.map(_.family).distinct

  /** Indexes each set-up builds, by metric name. */
  val indexes: Seq[(String, (SparkSession, String, String) => Unit)] = Seq(
    "sources.DedupIndex.build_s" -> ((s, dir, idx) =>
      DedupIndex.build(Tables.load(s, dir, "documents"), "doc_id", "text", s"$idx/dedup", 3, 16, 4)),
    "sources.ImpactIndex.build_s" -> ((s, dir, idx) =>
      ImpactIndex.build(Tables.load(s, dir, "documents"), "doc_id", "text", s"$idx/impact",
        termBuckets = 16, docBuckets = 8)))

  /** The session caches (`QueryHelpers.*For`) the warm-up builds, by
    * metric name. */
  val caches: Seq[(String, (SparkSession, String, String) => Unit)] = Seq(
    "QueryHelpers.bpeModelFor.build_s" -> ((s, dir, _) => {
      val (merges, words) = QueryHelpers.bpeModelFor(s, dir, 6)
      merges.count(); words.count(); ()
    }),
    "QueryHelpers.coEdgesFor.build_s" -> ((s, dir, _) => { QueryHelpers.coEdgesFor(s, dir).count(); () }))

  val buildMetrics: Seq[String] = (indexes ++ caches).map(_._1)

  private val FloatTypes: Set[DataType] = Set(DoubleType, FloatType)

  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case a: ArrayType => hasFloat(a.elementType)
    case m: MapType => hasFloat(m.keyType) || hasFloat(m.valueType)
    case s: StructType => s.fields.exists(f => hasFloat(f.dataType))
    case _ => false
  }

  /** The hashed form of one non-floating-point column. Nested values
    * holding floating-point numbers hash with those numbers masked:
    * their last bits depend on the order Spark adds them in. */
  private def hashed(f: StructField): Column = {
    val c = col(s"`${f.name.replace("`", "``")}`")
    f.dataType match {
      case t if hasFloat(t) =>
        regexp_replace(to_json(c), "-?[0-9]+\\.[0-9]+([eE][-+]?[0-9]+)?|NaN|-?Infinity", "#")
      case _: MapType => to_json(c)
      case _ => c
    }
  }

  /** Row count, order-independent hash and floating-point column sums. */
  def checksum(df: DataFrame): (Long, String, Seq[Double]) = {
    val (floats, others) = df.schema.fields.toSeq.partition(f => FloatTypes(f.dataType))
    val rowHash = xxhash64((lit(0) +: others.map(hashed)): _*).cast(DecimalType(38, 0))
    val aggs = Seq(count(lit(1)), sum(rowHash)) ++
      floats.map(f => sum(col(s"`${f.name.replace("`", "``")}`").cast(DoubleType)))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    (r.getLong(0), String.valueOf(r.get(1)),
     floats.indices.map(i => if (r.isNullAt(2 + i)) 0.0 else r.getDouble(2 + i)))
  }

  def sumsAgree(a: Seq[Double], b: Seq[Double]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      (x.isNaN && y.isNaN) || x == y ||
        math.abs(x - y) <= 1e-6 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    }

  def loadExpected(path: String): Map[String, Expected] = {
    val root = Json.read(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
    root.get("queries").properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Expected(v.get("rows").asLong(), v.get("hash").asText(),
        v.get("sums").elements().asScala.map(x => if (x.isNull) Double.NaN else x.asDouble()).toSeq,
        v.get("oracle").asText())
    }.toMap
  }
}

/** `registry_queries`: passes over [[Queries.all]] on the benchmark's
  * copy of the sf0.01 star fixture, each query under
  * `CheckpointScope.scoped`, in an order the seed shuffles anew for
  * every pass. */
final class QueryWorkload(ctx: Context, expected: Map[String, Expected]) extends Workload {
  import ctx._

  def primaryKind = "query"
  def kindNames = Seq("query" -> "query_p50_s")
  private var dir: String = _
  private var idx: String = _

  def setup(rep: Int): Seq[(String, Double)] = {
    val base = s"$work/registry_queries/r$rep"
    deleteTree(base)
    dir = s"$base/data"
    idx = s"$base/index"
    val (_, loadS) = timed(copyFixture(s"$bench/fixture/sf0.01", dir))
    ("fixture.load_s" -> loadS) +: build(Queries.indexes)
  }

  private def build(builds: Seq[(String, (SparkSession, String, String) => Unit)]): Seq[(String, Double)] =
    builds.map { case (metric, b) => metric -> timed(b(spark, dir, idx))._2 }

  /** One operation is one query, run to its full output: the order-
    * independent checksum of every output row, which is also the output
    * check. A bare `.count()` would let Spark prune output columns and
    * skip the kernels that compute them. */
  def pass(index: Int): Pass = {
    val order = new scala.util.Random(seed * 7919 + index).shuffle(Queries.all)
    var pending = 0
    val ops = order.map { q =>
      val (res, s) = timed(Try(tracer.span(s"registry.${q.family}")(tracer.span(q.name)(
        CheckpointScope.scoped {
          val sum = Queries.checksum(q.build(spark, dir, idx))
          pending += CheckpointScope.pendingCount
          sum
        }))))
      Op("query", q.name, s, res.fold(describe, check(q, _)))
    }
    Pass(index, ops, storageMemBytes(spark), pending)
  }

  /** Builds the session caches, then runs one untimed pass. */
  def warmUp(): (Seq[(String, String)], Seq[(String, Double)]) = {
    val caches = build(Queries.caches)
    (pass(-1).ops.filterNot(_.ok).map(o => o.name -> o.check), caches)
  }

  /** A query's output against the recorded row count, hash and sums,
    * and the oracle verdict recorded with them. */
  private def check(q: Query, got: (Long, String, Seq[Double])): String = {
    val (rows, hash, sums) = got
    expected.get(q.name) match {
      case None => "no expected output recorded"
      case Some(e) =>
        if (e.oracle != "pass") s"the DuckDB oracle disagreed with the recorded output (${e.oracle})"
        else if (rows != e.rows || hash != e.hash) s"output hash $rows/$hash, expected ${e.rows}/${e.hash}"
        else if (!Queries.sumsAgree(sums, e.sums)) s"column sums $sums, expected ${e.sums}"
        else ""
    }
  }

  def decompose(traced: Seq[Pass]): Seq[(String, Double)] = {
    tracer.drain()
    val n = math.max(1, traced.size)
    Queries.families.flatMap { f =>
      val t = tracer.totals(tracer.jobsUnder(s"registry.$f"))
      val c = tracer.census(tracer.jobsUnder(s"registry.$f"))
      Seq(
        s"registry.$f.self_s" -> tracer.spans.filter(_.name.startsWith(s"registry.$f/")).map(_.seconds).sum / n,
        s"registry.$f.shuffle_bytes" -> (t.shuffleRead + t.shuffleWrite).toDouble / n,
        s"registry.$f.spill_bytes" -> t.spill.toDouble / n,
        s"registry.$f.gc_s" -> t.gcS / n,
        s"registry.$f.exchanges" -> c.exchanges.toDouble / n,
        s"registry.$f.codegen_fallbacks" -> c.codegenFallbacks.toDouble / n)
    }
  }

  def inputs: Seq[(String, Any)] =
    Seq("fixture" -> "sf0.01", "queries" -> Queries.all.map(_.name))
}
