package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** PlanDump reports every plan it could not write: an unknown name and a
  * failing query each count, so its main exits non-zero. */
class PlanDumpSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def out(): Path = Files.createTempDirectory("graft_plandump")

  test("a dumped plan counts no failure and writes its file") {
    val o = out()
    assert(PlanDump.run(spark, TestSpark.sfDir, o.toString,
      Set("q_agg_minmax"), "_t") == 0)
    val plan = Files.readString(o.resolve("q_agg_minmax_t.txt"))
    assert(plan.contains("== Physical Plan =="))
    // the dumped plan is the executed, AQE-final one
    assert(plan.contains("isFinalPlan=true"), plan)
  }

  test("an unknown name is a failure and the known ones still dump") {
    val o = out()
    assert(PlanDump.run(spark, TestSpark.sfDir, o.toString,
      Set("q_agg_minmax", "q_no_such_query"), "") == 1)
    assert(Files.exists(o.resolve("q_agg_minmax.txt")))
    assert(!Files.exists(o.resolve("q_no_such_query.txt")))
  }

  test("a query that fails to run is a failure") {
    val o = out()
    val missing = o.resolve("no_data").toString
    assert(PlanDump.run(spark, missing, o.toString,
      Set("q_agg_minmax"), "") == 1)
    assert(!Files.exists(o.resolve("q_agg_minmax.txt")))
  }

  test("digests.tsv holds one plan digest per dumped query, equal across " +
      "two dumps of the same build") {
    val (a, b) = (out(), out())
    Seq(a, b).foreach(o => assert(PlanDump.run(spark, TestSpark.sfDir,
      o.toString, Set("q_agg_minmax", "q_multi_hop"), "") == 0))
    val lines = Files.readAllLines(a.resolve("digests.tsv"))
    assert(lines.size == 2)
    assert(lines.get(0).matches("q_agg_minmax\\t[0-9a-f]{32}"), lines)
    assert(lines.get(1).startsWith("q_multi_hop\t"), lines)
    assert(lines == Files.readAllLines(b.resolve("digests.tsv")))
  }
}
