package graft

import graft.battery.Battery
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query battery ([[graft.battery.Battery]]) as the two maps that
  * Bench, Verify and PlanDump read, keyed by query name. Each query and its
  * DuckDB oracle are declared together, once, in a `graft.battery`
  * family file; these maps are derived from those declarations. */
object SparkEntry {

  /** Each battery query's closure over (session, data dir). */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Battery.all.map(b => b.name -> b.run).toMap

  /** Each battery query's DuckDB oracle SQL. */
  lazy val oracleSql: Map[String, String] =
    Battery.all.map(b => b.name -> b.oracle).toMap
}
