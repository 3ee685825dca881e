package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The `Bench --serve` protocol used by the interleaved DuckDB anchor
  * (scripts/anchor_interleaved.py): a crashed query must answer
  * `ERR failed <q>` — which the harness DROPS — never a near-zero TIME
  * line that would silently deflate the committed anchor ratio. */
class BenchServeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "q_ok" -> ((s, _) => s.range(5).toDF("n")),
      "q_boom_plan" -> ((_, _) =>
        throw new IllegalStateException("planning crash")),
      "q_boom_exec" -> ((s, _) => {
        import s.implicits._
        s.range(5).toDF("n").filter(
          org.apache.spark.sql.functions.expr("assert_true(n < 2) is null"))
      }))

  test("a successful run answers TIME with a parseable duration") {
    val line = Bench.serveOne(queries, spark, TestSpark.sfDir, "q_ok")
    val parts = line.split(" ")
    assert(parts.length === 3 && parts(0) === "TIME" && parts(1) === "q_ok")
    assert(parts(2).toDouble >= 0.0)
  }

  test("a crash — at planning or mid-execution — answers ERR failed, " +
      "never a TIME line") {
    assert(Bench.serveOne(queries, spark, TestSpark.sfDir, "q_boom_plan")
      === "ERR failed q_boom_plan")
    assert(Bench.serveOne(queries, spark, TestSpark.sfDir, "q_boom_exec")
      === "ERR failed q_boom_exec")
  }

  test("a crashed timed pass is an error, never a sample") {
    var n = 0
    val flaky = Bench.timePasses(3) { () =>
      n += 1
      if (n == 2) throw new IllegalStateException("boom") else (0.001, 0.0)
    }
    assert(flaky === Left("java.lang.IllegalStateException: boom"))
    assert(n === 2, "passes after a crash still ran")
    assert(Bench.timePasses(3)(() => (0.5, 0.25)) ===
      Right(Seq.fill(3)((0.5, 0.25))))
  }

  test("an unknown query name answers ERR unknown") {
    assert(Bench.serveOne(queries, spark, TestSpark.sfDir, "q_nope")
      === "ERR unknown q_nope")
  }
}
