package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import graft.SparkEntry
import graft.operators.CheckpointScope

import Workload._

/** Records the query workload's expected outputs (`perfbench/expected/
  * queries.json`) from the program as built, and dumps each output as
  * parquet with the registry's DuckDB oracle SQL beside it, so that
  * `tools/check.py` can cross-check them. `run.py --record-expected`
  * runs this and then the cross-check, which fills in each query's
  * `oracle` verdict. */
object RecordExpected {
  def run(a: Main.Args): Int = {
    val spark = Main.session(a)
    try {
      val out = a.recordExpected
      val dir = s"${a.work}/expected/data"
      val idx = s"${a.work}/expected/index"
      deleteTree(s"${a.work}/expected")
      deleteTree(out)
      copyFixture(s"${a.bench}/fixture/sf0.01", dir)
      (Queries.indexes ++ Queries.caches).foreach { case (_, build) => build(spark, dir, idx) }
      val queries = Queries.all
      val recorded = queries.map { q =>
        val (rows, hash, sums) = CheckpointScope.scoped {
          val df = q.build(spark, dir, idx)
          df.coalesce(1).write.mode("overwrite").parquet(s"$out/${q.oracle}")
          Queries.checksum(df)
        }
        q.name -> Json.obj("oracle_query" -> q.oracle, "rows" -> rows, "hash" -> hash,
          "sums" -> sums, "oracle" -> "unchecked")
      }
      Files.write(Paths.get(s"${a.bench}/expected/queries.json"),
        (Json.render(Json.obj("fixture" -> "sf0.01", "queries" -> ListMap(recorded: _*))) + "\n")
          .getBytes("UTF-8"))
      val sql = SparkEntry.oracleSql
      Files.write(Paths.get(s"$out/oracle_sql.json"),
        Json.render(ListMap(queries.map(q => q.oracle -> sql(q.oracle)): _*)).getBytes("UTF-8"))
      println(s"recorded ${recorded.size} queries")
      0
    } finally spark.stop()
  }
}
