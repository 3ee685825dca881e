package graft.testing

import graft.GraftSession
import graft.model.{Catalog, Model}
import graft.sqlfront.SqlFront
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.yaml.snakeyaml.constructor.SafeConstructor
import org.yaml.snakeyaml.{LoaderOptions, Yaml}

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Golden-query test runner and live schema drift checks
  * (reference: sidemantic/testing.py:1-273, docs/testing.md:7-55 — the
  * `sidemantic test` / `sidemantic validate --live` surface).
  *
  * Test files are YAML documents with a top-level `tests` list:
  * {{{
  * tests:
  *   - name: total revenue
  *     sql: SELECT orders.revenue FROM orders
  *     expect:
  *       value: 250.0
  *       tolerance: 0.01
  * }}}
  * `expect` supports `value` (single row, single column), `rows` (full
  * in-order result comparison), `row_count`, `columns` (result column
  * names), and `tolerance` for numeric comparisons. Queries run through
  * [[SqlFront]], so semantic SQL, Yardstick measures, and plain Spark SQL
  * all work as test subjects.
  */
object GoldenRunner {

  final case class Expectation(
      value: Option[Any] = None,
      rows: Option[Seq[Seq[Any]]] = None,
      rowCount: Option[Int] = None,
      columns: Option[Seq[String]] = None,
      tolerance: Double = 0.0) {
    def assertions: Seq[String] =
      value.map(_ => "value").toSeq ++ rows.map(_ => "rows") ++
        rowCount.map(_ => "row_count") ++ columns.map(_ => "columns")
  }

  final case class GoldenCase(name: String, sql: String, expect: Expectation,
      source: String)

  final case class GoldenResult(testCase: GoldenCase, passed: Boolean,
      message: Option[String])

  final case class GoldenReport(results: Seq[GoldenResult]) {
    def passed: Boolean = results.forall(_.passed)
    def failures: Seq[GoldenResult] = results.filterNot(_.passed)
    /** reference: testing.py TestRunReport.to_dict (the --json payload). */
    def toMap: Map[String, Any] = Map(
      "passed" -> passed,
      "total" -> results.size,
      "failed" -> failures.size,
      "tests" -> results.map(r => Map(
        "name" -> r.testCase.name,
        "source" -> r.testCase.source,
        "passed" -> r.passed,
        "message" -> r.message.orNull)))
    /** Human-readable diff report (one line per case, failure detail). */
    def render: String = results.map { r =>
      val status = if (r.passed) "ok  " else "FAIL"
      s"$status ${r.testCase.name}" +
        r.message.map(m => s"\n     $m").getOrElse("")
    }.mkString("\n") +
      s"\n${results.size} test(s), ${failures.size} failed"
  }

  // ------------------------------------------------------------------
  // discovery + loading (reference: testing.py:102-160)
  // ------------------------------------------------------------------

  private val TestFileSuffixes = Set(".yml", ".yaml")

  /** The project's golden-test files: `tests/` dir with .yml/.yaml files. */
  def discoverTestFiles(root: Path): Seq[Path] = {
    val dir = root.resolve("tests")
    if (!Files.isDirectory(dir)) Seq.empty
    else Files.list(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        TestFileSuffixes.exists(p.getFileName.toString.toLowerCase.endsWith))
      .toSeq.sortBy(_.toString)
  }

  def loadTestFile(path: Path): Seq[GoldenCase] =
    loadString(new String(Files.readAllBytes(path), "UTF-8"), path.toString)

  def loadTestFiles(paths: Seq[Path]): Seq[GoldenCase] =
    paths.flatMap(loadTestFile)

  def loadTestFile(path: String): Seq[GoldenCase] = loadTestFile(Paths.get(path))

  /** Parse one golden-test YAML document, validating its shape eagerly
    * (same error contract as the reference loader). */
  def loadString(yaml: String, source: String = "<string>"): Seq[GoldenCase] = {
    val root = toScala(new Yaml(new SafeConstructor(new LoaderOptions()))
      .load[Object](yaml))
    val tests = root match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]].get("tests") match {
        case Some(l: Seq[_]) => l
        case _ => throw new IllegalArgumentException(
          s"$source: expected a top-level 'tests' list")
      }
      case _ => throw new IllegalArgumentException(
        s"$source: expected a top-level 'tests' list")
    }
    tests.zipWithIndex.map { case (entry, index) =>
      val label = s"$source: tests[$index]"
      val m = entry match {
        case mm: Map[_, _] => mm.asInstanceOf[Map[String, Any]]
        case _ => throw new IllegalArgumentException(s"$label must be a mapping")
      }
      val name = m.get("name").map(_.toString).filter(_.nonEmpty)
        .getOrElse(s"test ${index + 1}")
      val sql = m.get("sql") match {
        case Some(s: String) if s.nonEmpty => s
        case _ => throw new IllegalArgumentException(
          s"$label ('$name') is missing a 'sql' string")
      }
      val rawExpect = m.get("expect") match {
        case Some(e: Map[_, _]) => e.asInstanceOf[Map[String, Any]]
        case _ => throw new IllegalArgumentException(
          s"$label ('$name') is missing an 'expect' mapping")
      }
      val unknown = rawExpect.keySet --
        Set("value", "rows", "row_count", "columns", "tolerance")
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"$label ('$name') has unknown expect keys: ${unknown.toSeq.sorted.mkString(", ")}")
      val expect = Expectation(
        value = rawExpect.get("value"),
        rows = rawExpect.get("rows").map(_.asInstanceOf[Seq[Any]]
          .map(_.asInstanceOf[Seq[Any]])),
        rowCount = rawExpect.get("row_count").map(_.toString.toInt),
        columns = rawExpect.get("columns").map(_.asInstanceOf[Seq[Any]]
          .map(_.toString)),
        tolerance = rawExpect.get("tolerance")
          .map(_.toString.toDouble).getOrElse(0.0))
      if (expect.assertions.isEmpty) throw new IllegalArgumentException(
        s"$label ('$name') needs at least one of: value, rows, row_count, columns")
      GoldenCase(name, sql.trim, expect, source)
    }
  }

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, vv) => k.toString -> toScala(vv) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toSeq
    case other => other
  }

  // ------------------------------------------------------------------
  // execution (reference: testing.py:163-221)
  // ------------------------------------------------------------------

  /** Numeric values compare within max(tolerance, 1e-9); everything else
    * by canonical rendering (dates/timestamps normalize, so a YAML date
    * matches a Spark DATE column). Booleans are never numeric. */
  private def valuesMatch(actual: Any, expected: Any, tolerance: Double): Boolean =
    (num(actual), num(expected)) match {
      case (Some(a), Some(e)) => math.abs(a - e) <= math.max(tolerance, 1e-9)
      case _ => canon(actual) == canon(expected)
    }

  private def num(v: Any): Option[Double] = v match {
    case _: Boolean | _: java.lang.Boolean => None
    case n: java.lang.Number => Some(n.doubleValue)
    case _ => None
  }

  private def canon(v: Any): String = v match {
    case null => "NULL"
    case d: java.sql.Date => d.toString
    case t: java.sql.Timestamp => t.toString
    case d: java.util.Date => new java.sql.Date(d.getTime).toString // YAML date
    case s: Seq[_] => s.map(canon).mkString("[", ", ", "]")
    case other => other.toString
  }

  private def checkCase(c: GoldenCase, columns: Seq[String],
      rows: Seq[Seq[Any]]): Option[String] = {
    val e = c.expect
    e.columns.filter(_ != columns).map(exp =>
      s"expected columns ${exp.mkString("[", ", ", "]")}, " +
        s"got ${columns.mkString("[", ", ", "]")}")
      .orElse(e.rowCount.filter(_ != rows.size).map(exp =>
        s"expected $exp row(s), got ${rows.size}"))
      .orElse(e.value.flatMap { exp =>
        if (rows.size != 1 || rows.head.size != 1)
          Some(s"expected a single value but query returned ${rows.size} " +
            s"row(s) x ${rows.headOption.map(_.size).getOrElse(0)} column(s)")
        else if (!valuesMatch(rows.head.head, exp, e.tolerance))
          Some(s"expected value $exp, got ${rows.head.head}")
        else None
      })
      .orElse(e.rows.flatMap { exp =>
        if (rows.size != exp.size)
          Some(s"expected ${exp.size} row(s), got ${rows.size}")
        else rows.zip(exp).zipWithIndex.collectFirst {
          case ((actualRow, expectedRow), ri)
              if actualRow.size != expectedRow.size =>
            s"row $ri: expected ${expectedRow.size} column(s), got ${actualRow.size}"
          case ((actualRow, expectedRow), ri)
              if actualRow.zip(expectedRow)
                .exists { case (a, x) => !valuesMatch(a, x, e.tolerance) } =>
            val (a, x) = actualRow.zip(expectedRow)
              .find { case (av, xv) => !valuesMatch(av, xv, e.tolerance) }.get
            val ci = actualRow.zip(expectedRow)
              .indexWhere { case (av, xv) => !valuesMatch(av, xv, e.tolerance) }
            s"row $ri, column $ci: expected $x, got $a"
        }
      })
  }

  /** Hard ceiling on rows a golden case may materialize on the driver —
    * expected-value assertions are small by construction, so a case
    * returning more than this is miswritten (missing LIMIT), and failing
    * it beats OOMing the driver. */
  val MaxGoldenRows = 100000

  /** Execute golden cases through an arbitrary SQL runner. */
  def run(runSql: String => DataFrame, cases: Seq[GoldenCase]): GoldenReport =
    GoldenReport(cases.map { c =>
      val outcome =
        try {
          val df = runSql(c.sql)
          val columns = df.columns.toSeq
          // take(N+1) bounds the driver-side transfer even when the case
          // is miswritten; a full collect() would pull the whole result
          val rows = df.take(MaxGoldenRows + 1).toSeq.map(_.toSeq)
          if (rows.size > MaxGoldenRows)
            Some(s"query returned more than $MaxGoldenRows rows — golden " +
              "cases assert small expected sets; add a LIMIT")
          else checkCase(c, columns, rows)
        } catch {
          case e: Exception => Some(s"query failed: ${e.getMessage}")
        }
      GoldenResult(c, outcome.isEmpty, outcome)
    })

  /** Execute golden cases against a loaded semantic catalog via SqlFront. */
  def run(spark: SparkSession, cat: Catalog, cases: Seq[GoldenCase]): GoldenReport = {
    val front = new SqlFront(spark, cat, GraftSession.generator(spark, cat))
    run(front.sql, cases)
  }

  // ------------------------------------------------------------------
  // live schema drift (reference: testing.py:224-273, `validate --live`)
  // ------------------------------------------------------------------

  final case class DriftReport(errors: Seq[String], warnings: Seq[String],
      checkedModels: Int)

  /** Best-effort single-part column references in a SQL fragment. */
  private def referencedColumns(expression: String): Set[String] = {
    val candidate = expression.trim
    val bare = candidate.nonEmpty &&
      (candidate.head.isLetter || candidate.head == '_') &&
      candidate.forall(ch => ch.isLetterOrDigit || ch == '_')
    if (bare) Set(candidate)
    else try CatalystSqlParser.parseExpression(expression).collect {
      case ua: UnresolvedAttribute if ua.nameParts.size == 1 =>
        ua.nameParts.head
    }.toSet
    catch { case _: Exception => Set.empty }
  }

  /** Compare loaded models against the live schema: probe every model's
    * relation and check plainly-referenced columns (primary keys,
    * dimension/metric expressions, foreign keys) against the live column
    * list. Catches drops/renames that static validation cannot see. */
  def checkSchemaDrift(spark: SparkSession, cat: Catalog): DriftReport = {
    var errors = Vector.empty[String]
    var checked = 0
    cat.models.toSeq.sortBy(_._1).foreach { case (name, model) =>
      val live: Option[Set[String]] =
        try Some(cat.scan(spark, model).columns.map(_.toLowerCase).toSet)
        catch {
          case e: Exception =>
            errors :+= s"Model '$name': cannot read source: ${e.getMessage}"
            None
        }
      live.foreach { columns =>
        checked += 1
        def check(kind: String, label: String, expression: String): Unit =
          referencedColumns(expression).foreach { c =>
            if (!columns(c.toLowerCase))
              errors :+= s"Model '$name': $kind '$label' references missing column '$c'"
          }
        model.primaryKey.foreach { pk =>
          if (!columns(pk.toLowerCase))
            errors :+= s"Model '$name': primary key column '$pk' not found in database"
        }
        model.dimensions.foreach(d => check("dimension", d.name, d.expr))
        model.metrics.foreach(m => m.sql.foreach(check("metric", m.name, _)))
        model.relationships.foreach { r =>
          (r.foreignKey ++ r.throughForeignKey).foreach { fk =>
            if (!columns(fk.toLowerCase))
              errors :+= s"Model '$name': relationship '${r.to}' foreign key '$fk' not found in database"
          }
        }
      }
    }
    DriftReport(errors, Vector.empty, checked)
  }

  /** `Model` convenience overload for single-model drift probes. */
  def checkSchemaDrift(spark: SparkSession, models: Seq[Model]): DriftReport =
    checkSchemaDrift(spark, Catalog().add(models: _*))
}
