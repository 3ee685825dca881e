package graft

import graft.gen.{Generator, TableCalcs}
import graft.load.{YamlLoader, YamlTree}
import graft.load.YamlTree.strList
import graft.plan.SemanticQuery
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Row, SparkSession}
import scala.jdk.CollectionConverters._

/** Generic runner for the reference's native-fixture contract, driven by
  * the corpus manifest: parse seed/duckdb.sql into temp views, load model
  * YAML/SQL through the loaders, run each manifest query, compare against
  * its expected result rows. Each fixture runs in its own
  * `spark.newSession()` so seed table names stay unprefixed without
  * cross-fixture collisions.
  */
object FixtureHarness {

  val root = "/root/reference/tests/native-fixtures"

  // ---- manifest ------------------------------------------------------

  final case class ManifestQuery(file: String, expected: Option[String])
  final case class ManifestFixture(name: String, valid: Boolean,
      queries: Seq[ManifestQuery], rewriteSqls: Seq[String])

  def manifest(): Seq[ManifestFixture] = {
    val m = YamlTree.parse(YamlTree.readText(s"$root/manifest.yml"))
      .asInstanceOf[Map[String, Any]]
    m("fixtures").asInstanceOf[Seq[Any]].map(_.asInstanceOf[Map[String, Any]]).map { f =>
      ManifestFixture(
        name = f("name").toString,
        valid = f.get("valid").forall(_.toString.toBoolean),
        queries = f.getOrElse("queries", Seq.empty).asInstanceOf[Seq[Any]]
          .map(_.asInstanceOf[Map[String, Any]])
          .map(q => ManifestQuery(q("file").toString,
            q.get("expected_result").map(_.toString))),
        rewriteSqls = f.getOrElse("rewrite_queries", Seq.empty).asInstanceOf[Seq[Any]]
          .map(_.asInstanceOf[Map[String, Any]])
          .flatMap(q => q.get("sql").map(_.toString)))
    }
  }

  // ---- fixture execution ---------------------------------------------

  /** Load the fixture's models into a catalog (throws on invalid input —
    * the invalid_* fixture contract). */
  def loadCatalog(spark: SparkSession, fixture: String): graft.model.Catalog = {
    seedIfPresent(spark, s"$root/$fixture/seed/duckdb.sql")
    YamlLoader.loadDirectory(s"$root/$fixture/models")
  }

  def run(spark0: SparkSession, fx: ManifestFixture,
      baseModel: Option[String] = None): Unit = {
    val spark = spark0.newSession()
    val cat = loadCatalog(spark, fx.name)
    val gen = new Generator(spark, cat)

    fx.queries.foreach { mq =>
      val expected = YamlTree.parse(YamlTree.readText(
        s"$root/${fx.name}/expected/${mq.expected
          .getOrElse("result.json").stripPrefix("expected/")}"))
        .asInstanceOf[Seq[Any]].map(_.asInstanceOf[Map[String, Any]])
      val (q0, calcs) = parseQuery(YamlTree.readText(s"$root/${fx.name}/queries/${
        mq.file.stripPrefix("queries/")}"))
      // window metrics expose their base metric alongside (reference
      // result contract: cumulative/time_comparison rows carry the inner
      // aggregate too)
      val withBases = q0.metrics.flatMap { r =>
        val (owner, met) = cat.resolveMetric(r) match {
          case (m, met) => (m.map(_.name), met)
        }
        met.kind match {
          case "cumulative" | "time_comparison" =>
            met.baseMetric.map(b =>
              if (b.contains(".")) b else s"${owner.getOrElse("")}.$b").toSeq :+ r
          case _ => Seq(r)
        }
      }.distinct
      val q = q0.copy(metrics = withBases, baseModel = baseModel)
      var df = gen.plan(q)
      calcs.foreach { c =>
        val field = c("field").toString
        val name = c("name").toString
        df = c("type").toString match {
          case "running_total" => TableCalcs.runningTotal(df, field,
            strList(c.get("order_by")).map(outName), name)
          case "percent_of_total" => TableCalcs.percentOfTotal(df, field, name)
          case "percent_of_previous" => TableCalcs.percentOfPrevious(df, field,
            strList(c.get("order_by")).map(outName), name)
          case "rank" => TableCalcs.rankBy(df, field, name)
          case "moving_average" => TableCalcs.movingAverage(df, field,
            strList(c.get("order_by")).map(outName),
            c.getOrElse("window_size", 3).toString.toInt, name)
          case other => throw new IllegalArgumentException(
            s"Unsupported table calculation '$other'")
        }
      }
      if (calcs.nonEmpty && q.orderBy.nonEmpty) {
        // table calcs append columns after shape(); re-apply the ordering
        df = df.orderBy(q.orderBy.map(o =>
          if (o.startsWith("-")) org.apache.spark.sql.functions.col(o.drop(1)).desc
          else org.apache.spark.sql.functions.col(o).asc): _*)
      }
      compare(s"${fx.name}/${mq.file}", df.columns.toSeq,
        df.collect().toSeq, expected)
    }
  }

  /** Run a manifest rewrite query (semantic SQL) through SqlFront; the
    * conformance claim is compile+execute, result shape is query-defined. */
  def runRewrite(spark0: SparkSession, fixture: String, sql: String): Unit = {
    val spark = spark0.newSession()
    val cat = loadCatalog(spark, fixture)
    val front = new graft.sqlfront.SqlFront(spark, cat, new Generator(spark, cat))
    val rows = front.sql(sql).collect()
    assert(rows.nonEmpty, s"$fixture rewrite query returned no rows: $sql")
  }

  // ---- seed/duckdb.sql → temp views --------------------------------

  private def seedIfPresent(spark: SparkSession, path: String): Unit =
    if (new java.io.File(path).exists()) seed(spark, path)

  private def seed(spark: SparkSession, path: String): Unit = {
    val stmts = YamlTree.readText(path).split(";").map(_.trim).filter(_.nonEmpty)
    val creates = raw"(?is)create\s+table\s+(\w+)\s*\((.*)\)".r
    val inserts = raw"(?is)insert\s+into\s+(\w+)\s+values\s*(.*)".r
    val schemas = scala.collection.mutable.Map[String, StructType]()
    stmts.foreach {
      case creates(table, colsDef) =>
        val fields = colsDef.split(",").map(_.trim).filter(_.nonEmpty).map { c =>
          val parts = c.split("\\s+", 2)
          StructField(parts(0), sqlType(parts(1)))
        }
        schemas(table) = StructType(fields.toIndexedSeq)
      case inserts(table, values) =>
        val schema = schemas(table)
        val rows = splitTuples(values).map(t => Row.fromSeq(
          splitValues(t).zip(schema.fields).map { case (v, f) => literal(v, f.dataType) }))
        spark.createDataFrame(rows.asJava, schema).createOrReplaceTempView(table)
      case other => throw new IllegalArgumentException(s"Unparsed seed stmt: $other")
    }
  }

  private def sqlType(t: String): DataType = t.trim.toLowerCase match {
    case s if s.startsWith("int")     => IntegerType
    case s if s.startsWith("bigint")  => LongType
    case s if s.startsWith("varchar") => StringType
    case s if s.startsWith("text")    => StringType
    case s if s.startsWith("timestamp") => TimestampType
    case s if s.startsWith("date")    => DateType
    case s if s.startsWith("decimal") || s.startsWith("numeric") =>
      DecimalType(18, 2)
    case s if s.startsWith("double") || s.startsWith("float") => DoubleType
    case s if s.startsWith("bool")    => BooleanType
    case other => throw new IllegalArgumentException(s"Unmapped seed type '$other'")
  }

  /** Split "( … ), ( … )" into tuple bodies (quotes respected). */
  private def splitTuples(s: String): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    var depth = 0; var inQ = false; val cur = new StringBuilder
    s.foreach {
      case '\'' => inQ = !inQ; cur += '\''
      case '(' if !inQ => depth += 1; if (depth > 1) cur += '('
      case ')' if !inQ =>
        depth -= 1
        if (depth == 0) { out += cur.toString; cur.clear() } else cur += ')'
      case c => if (depth > 0) cur += c
    }
    out.toList
  }

  private def splitValues(t: String): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    var inQ = false; val cur = new StringBuilder
    t.foreach {
      case '\'' => inQ = !inQ; cur += '\''
      case ',' if !inQ => out += cur.toString.trim; cur.clear()
      case c => cur += c
    }
    out += cur.toString.trim
    out.toList
  }

  private def literal(v: String, dt: DataType): Any = {
    val ts = raw"(?i)timestamp\s*'(.*)'".r
    val dl = raw"(?i)date\s*'(.*)'".r
    val str = raw"'(.*)'".r
    v match {
      case "null" | "NULL" => null
      case ts(x) => java.sql.Timestamp.valueOf(x)
      case dl(x) => java.sql.Date.valueOf(x)
      case str(x) => dt match {
        case TimestampType => java.sql.Timestamp.valueOf(
          if (x.contains(" ")) x else x + " 00:00:00")
        case DateType      => java.sql.Date.valueOf(x)
        case _             => x
      }
      case n => dt match {
        case IntegerType      => n.toInt
        case LongType         => n.toLong
        case DoubleType       => n.toDouble
        case _: DecimalType   => new java.math.BigDecimal(n).setScale(2)
        case BooleanType      => n.toBoolean
        case _                => n
      }
    }
  }

  // ---- query YAML files → SemanticQuery -------------------------

  private def parseQuery(yaml: String): (SemanticQuery, Seq[Map[String, Any]]) = {
    val m = YamlTree.parse(yaml).asInstanceOf[Map[String, Any]]
    def list(k: String): Seq[String] = strList(m.get(k))
    // raw values: the engine formats declared parameters by their type
    // (Generator.mergedParams via Params.format)
    val params = m.get("parameter_values").map(_.asInstanceOf[Map[String, Any]])
      .getOrElse(Map.empty)
      .map { case (k, v) => k -> v.toString }
    val q = SemanticQuery(
      metrics = list("metrics"),
      dimensions = list("dimensions"),
      filters = list("filters"),
      segments = list("segments"),
      orderBy = list("order_by").map(outName),
      limit = m.get("limit").map(_.toString.toInt),
      offset = m.get("offset").map(_.toString.toInt),
      parameters = params)
    val calcs = m.getOrElse("table_calculations", Seq.empty).asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[Map[String, Any]])
    (q, calcs)
  }

  /** order_by entries reference fields (optionally with DESC/ASC suffix);
    * output columns use short names. */
  private def outName(ref: String): String = {
    val dir = raw"(?i)(.*?)\s+(asc|desc)\s*$$".r
    val (body, desc) = ref.trim match {
      case dir(b, d) => (b, d.equalsIgnoreCase("desc"))
      case b         => (b, false)
    }
    val neg = body.startsWith("-") || desc
    val name = body.stripPrefix("-").split('.').last
    if (neg) s"-$name" else name
  }

  // ---- expected/result.json comparison -----------------------------

  private def compare(fixture: String, cols: Seq[String], got: Seq[Row],
      expected: Seq[Map[String, Any]]): Unit = {
    assert(got.size == expected.size,
      s"$fixture: row count ${got.size} != expected ${expected.size}\n" +
        s"got: ${got.mkString("; ")}\nexpected: ${expected.mkString("; ")}")
    got.zip(expected).zipWithIndex.foreach { case ((row, exp), i) =>
      exp.foreach { case (col0, want) =>
        // expected keys may be qualified ("events.revenue_mom") while
        // output columns are short names
        val col = if (cols.contains(col0)) col0 else col0.split('.').last
        require(cols.contains(col),
          s"$fixture: expected column '$col0' missing from ${cols.mkString(",")}")
        val g = row.get(cols.indexOf(col))
        assert(valueMatches(g, want),
          s"$fixture row $i col $col: got '$g' want '$want'")
      }
    }
  }

  private def valueMatches(got: Any, want: Any): Boolean = (got, want) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (g: java.sql.Timestamp, w: String) =>
      val s = g.toString
      s == w || s.startsWith(w) || s.take(10) == w
    case (g: java.sql.Date, w: String) => g.toString == w
    case (g: java.sql.Timestamp, w: java.util.Date) =>
      g.getTime == w.getTime
    case (g: java.sql.Date, w: java.util.Date) =>
      g.toString == new java.sql.Date(w.getTime).toString
    case (g: Number, w: Number) =>
      math.abs(g.doubleValue() - w.doubleValue()) <=
        1e-6 * math.max(1.0, math.abs(w.doubleValue()))
    case (g: java.math.BigDecimal, w: Number) =>
      math.abs(g.doubleValue() - w.doubleValue()) <= 1e-6
    case (g, w) => g.toString == w.toString
  }
}
