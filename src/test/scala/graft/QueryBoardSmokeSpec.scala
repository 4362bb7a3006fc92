package graft

import org.scalatest.funsuite.AnyFunSuite

/** Fixture-drift tripwire: every `SparkEntry.queries` entry must BUILD
  * (analysis — schema/type resolution against the real parquet fixtures) and
  * EXECUTE (a `.count()` action) on sf0.001.
  *
  * Exists because of the round-4 regression: the driver regenerated
  * `events.parquet` with `ts` as TIMESTAMP_NTZ and six queries silently fell
  * off the correctness board with analysis-time DATATYPE_MISMATCH — no spec
  * caught it because each operator spec synthesizes its own inputs. This
  * spec runs the whole board against the fixtures themselves, so a fixture
  * schema change fails `sbt test` immediately, per-query.
  */
class QueryBoardSmokeSpec extends AnyFunSuite {

  private lazy val spark = Sessions
    .builder("local[8]", 8)
    .appName("query-board-smoke")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  SparkEntry.queries.toList.sortBy(_._1).foreach { case (name, fn) =>
    test(s"board query '$name' builds and counts on sf0.001") {
      spark.sparkContext.setLogLevel("WARN")
      val n = fn(spark, dir).count()
      assert(n >= 0)
    }
  }

  test("board rejects a duplicate query name") {
    val q = SparkEntry.BoardQuery("dup", (s, _) => s.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException](
      SparkEntry.board(q, q.copy(oracleSql = "SELECT 2")))
    assert(e.getMessage.contains("duplicate board query names: dup"))
  }
}
