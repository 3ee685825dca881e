package graft

import graft.adapters._
import graft.load.{YamlLoader, YamlWriter}
import graft.model.Model
import org.scalatest.funsuite.AnyFunSuite

/** Round-trip contract for the native-format exporter: any set of loaded
  * models (native fixtures, the TPC-H catalog, adapter imports) must
  * export to YAML that [[YamlLoader]] reloads into EQUAL model values —
  * the reference's `export-native` fidelity property. */
class YamlWriterSpec extends AnyFunSuite {

  private def roundTrip(models: Seq[Model], label: String): Unit = {
    val yaml = YamlWriter.write(models)
    val reloaded =
      try YamlLoader.loadString(yaml)
      catch {
        case e: Exception => fail(s"$label: reload failed: ${e.getMessage}\n$yaml")
      }
    val (orig, back) = (models.sortBy(_.name), reloaded.sortBy(_.name))
    assert(back.map(_.name) == orig.map(_.name), s"$label: model set differs")
    orig.zip(back).foreach { case (o, b) =>
      assert(b == o, s"$label/${o.name}: reload differs\n--- yaml ---\n$yaml")
    }
  }

  test("round-trip: TPC-H catalog package (preaggs, security, segments, windows)") {
    val cat = TpchCatalog.build(TestSpark.sfDir)
    val yaml = YamlWriter.writePackage(cat)
    val pkg = YamlLoader.loadPackageString(yaml)
    assert(pkg.models.sortBy(_.name) == cat.models.values.toSeq.sortBy(_.name))
    assert(pkg.graphMetrics.sortBy(_.name) ==
      cat.graphMetrics.values.toSeq.sortBy(_.name))
    assert(pkg.explores.sortBy(_.name) == cat.explores.values.toSeq.sortBy(_.name))
    assert(pkg.paramDefaults == cat.paramDefaults)
    assert(pkg.paramTypes == cat.paramTypes)
  }

  test("round-trip: native fixture corpus") {
    FixtureHarness.manifest().filter(_.valid).foreach { fx =>
      val cat = YamlLoader.loadDirectory(s"${FixtureHarness.root}/${fx.name}/models")
      val yaml = YamlWriter.writePackage(cat)
      val pkg = YamlLoader.loadPackageString(yaml)
      assert(pkg.models.sortBy(_.name) == cat.models.values.toSeq.sortBy(_.name),
        s"${fx.name}: models differ after round-trip\n$yaml")
      assert(pkg.graphMetrics.sortBy(_.name) ==
        cat.graphMetrics.values.toSeq.sortBy(_.name), s"${fx.name}: graph metrics")
      assert(pkg.explores.sortBy(_.name) ==
        cat.explores.values.toSeq.sortBy(_.name), s"${fx.name}: explores")
    }
  }

  test("round-trip: adapter imports export to loadable native YAML") {
    val fx = "/root/reference/tests/fixtures"
    val cases: Seq[(String, Seq[Model])] = Seq(
      "cube" -> CubeAdapter.loadFile(s"$fx/cube/kitchen_sink.yml"),
      "lookml" -> LookMLAdapter.loadFile(s"$fx/lookml/orders.lkml").models,
      "tableau" -> TableauAdapter.loadFile(s"$fx/tableau/kitchen_sink.tds"),
      "metricflow" -> MetricFlowAdapter.toCatalog(MetricFlowAdapter.loadFile(
        s"$fx/metricflow/semantic_models.yml")).models.values.toSeq,
      "bsl" -> BslAdapter.loadFile(s"$fx/bsl/orders.yml").models,
      "snowflake" -> SnowflakeAdapter.loadFile(s"$fx/snowflake/revenue_timeseries.yaml").models,
      "thoughtspot" -> ThoughtSpotAdapter.loadFile(s"$fx/thoughtspot/orders.table.tml").models,
      "tmdl" -> TmdlAdapter.loadDirectory(s"$fx/tmdl/definition").models)
    cases.foreach { case (label, models) => roundTrip(models, label) }
  }
}
