package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** Verify counts every query it could not write: the oracle checks only
  * compare the outputs that exist, so an unknown name or a crashed query
  * must be a failure here, never a silent absence from "N/N OK". */
class VerifySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def out(): Path = Files.createTempDirectory("graft_verify")

  private val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "q_ok" -> ((s, _) => s.range(3).toDF("n")),
      "q_boom" -> ((_, _) => throw new IllegalStateException("boom")))

  test("a written query counts no failure and writes its result") {
    val o = out()
    assert(Verify.run(spark, TestSpark.sfDir, o.toString, Set("q_ok"),
      queries) == 0)
    assert(spark.read.parquet(o.resolve("q_ok").toString).count() == 3)
  }

  test("an unknown name is a failure and the known one is still written") {
    val o = out()
    assert(Verify.run(spark, TestSpark.sfDir, o.toString,
      Set("q_agg_minmax", "q_no_such_query")) == 1)
    assert(Files.exists(o.resolve("q_agg_minmax")))
    assert(!Files.exists(o.resolve("q_no_such_query")))
  }

  test("a crashing query is a failure and the others are still written") {
    val o = out()
    assert(Verify.run(spark, TestSpark.sfDir, o.toString, Set.empty,
      queries) == 1)
    assert(Files.exists(o.resolve("q_ok")))
    assert(!Files.exists(o.resolve("q_boom")))
  }

  test("oracle_sql.json is written even when a query fails") {
    val o = out()
    assert(Verify.run(spark, TestSpark.sfDir, o.toString, Set("q_boom"),
      queries) == 1)
    val json = Files.readString(o.resolve("oracle_sql.json"))
    assert(json.contains("\"q_agg_minmax\""), json.take(200))
  }

  test("a battery registry refuses a name declared twice, naming it") {
    import graft.battery.{Battery, BatteryQuery}
    def decl(name: String) =
      BatteryQuery(name, "SELECT 1")((s, _) => s.range(1).toDF())
    val e = intercept[IllegalArgumentException] {
      Battery.registry(Seq(decl("q_twice"), decl("q_once")), Seq(decl("q_twice")))
    }
    assert(e.getMessage.contains("q_twice"), e.getMessage)
    assert(!e.getMessage.contains("q_once"), e.getMessage)
  }
}
