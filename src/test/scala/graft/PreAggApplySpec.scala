package graft

import graft.gen.Generator
import graft.model._
import graft.plan.SemanticQuery
import graft.preagg.{PreAggApply, PreAggRecommender, PreAggStore}
import org.scalatest.funsuite.AnyFunSuite

/** The recommend → patch YAML → materialize → route loop (reference:
  * core/preagg_management.py + `preagg apply`). */
class PreAggApplySpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def freshDir(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("preagg_apply_").toFile
    val yaml =
      """models:
        |  - name: pa_orders
        |    source_uri: "{dir}/orders.parquet"
        |    primary_key: o_orderkey
        |    description: hand-written definition that must survive patching
        |    dimensions:
        |      - name: orderstatus
        |        sql: o_orderstatus
        |      - name: order_date
        |        type: time
        |        sql: o_orderdate
        |        granularity: day
        |    metrics:
        |      - name: revenue
        |        agg: sum
        |        sql: o_totalprice
        |      - name: order_count
        |        agg: count
        |""".stripMargin
    java.nio.file.Files.write(new java.io.File(d, "models.yml").toPath,
      yaml.getBytes("UTF-8"))
    d
  }

  private val query = SemanticQuery(
    metrics = Seq("pa_orders.revenue", "pa_orders.order_count"),
    dimensions = Seq("pa_orders.orderstatus"))

  test("recommend -> patch -> materialize -> route, idempotently") {
    val dir = freshDir()
    val cat0 = graft.load.YamlLoader.loadDirectory(
      dir.getPath, dataDir = TestSpark.sfDir)
    val rec = new PreAggRecommender(cat0)
    rec.record(query); rec.record(query) // 2 hits >= minHits
    val base = java.nio.file.Files.createTempDirectory("preagg_store_").toString

    val (cat, store, result) = PreAggApply.applyAndMaterialize(
      spark, dir.getPath, rec, base, dataDir = TestSpark.sfDir)
    assert(result.added == 1 && result.skipped == 0, result.toString)
    assert(result.changedFiles.nonEmpty)

    // the YAML file itself now carries the rollup AND the hand-written bits
    val text = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "models.yml").toPath), "UTF-8")
    assert(text.contains("pre_aggregations"), text)
    assert(text.contains("hand-written definition"), text)

    // reloaded catalog has it; the materialized rollup serves the query
    val pa = cat.model("pa_orders").preAggregations.head
    assert(pa.measures.toSet == Set("order_count", "revenue"))
    val routed = store.plan(query)
    assert(routed.isDefined, "query did not route to the new rollup")
    // routed result equals the direct plan
    val direct = new Generator(spark, cat).plan(query)
      .orderBy("orderstatus").collect().map(_.toSeq).toSeq
    val viaRollup = routed.get.toDF.orderBy("orderstatus")
      .collect().map(_.toSeq).toSeq
    assert(viaRollup == direct)

    // second apply is a no-op: identical definition skips, file unchanged
    val r2 = PreAggApply.applyToYaml(dir.getPath,
      Seq(("pa_orders", pa)))
    assert(r2.added == 0 && r2.skipped == 1 && r2.changedFiles.isEmpty,
      r2.toString)

    // a same-name different-content definition is rejected, not overwritten
    val e = intercept[IllegalArgumentException] {
      PreAggApply.applyToYaml(dir.getPath,
        Seq(("pa_orders", pa.copy(measures = Seq("revenue")))))
    }
    assert(e.getMessage.contains("refusing to overwrite"), e.getMessage)
  }

  test("unknown and duplicate model targets are rejected") {
    val dir = freshDir()
    val pa = PreAggregation("r", measures = Seq("revenue"))
    val e1 = intercept[IllegalArgumentException] {
      PreAggApply.applyToYaml(dir.getPath, Seq(("nope", pa)))
    }
    assert(e1.getMessage.contains("Could not find YAML definition"))
    // duplicate definition across files → refuse to choose
    java.nio.file.Files.write(new java.io.File(dir, "dup.yml").toPath,
      "models:\n  - name: pa_orders\n    table: t\n".getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException] {
      PreAggApply.applyToYaml(dir.getPath, Seq(("pa_orders", pa)))
    }
    assert(e2.getMessage.contains("more than once"), e2.getMessage)
  }

  test("dry run reports the plan without touching files") {
    val dir = freshDir()
    val before = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "models.yml").toPath), "UTF-8")
    val r = PreAggApply.applyToYaml(dir.getPath,
      Seq(("pa_orders", PreAggregation("r", measures = Seq("revenue")))),
      dryRun = true)
    assert(r.added == 1 && r.changedFiles.nonEmpty)
    val after = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "models.yml").toPath), "UTF-8")
    assert(after == before)
  }
}
