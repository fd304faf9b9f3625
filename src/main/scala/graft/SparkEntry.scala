package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.{Dml, Pipeline, Relational}
import graft.{queries => gq}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The operator inventory lives in graft.queries.{Relational, Dml,
  * Pipeline}; each entry pairs the Spark implementation with DuckDB oracle
  * SQL (where SQL-expressible) for the driver's hash-compare.
  */
object SparkEntry {

  private val allDefs: Seq[gq.QDef] =
    Relational.defs ++ Dml.defs ++ Pipeline.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    functions.SnowflakeExtensions.register(spark)
    allDefs.head.fn(spark, "/root/testdata/sf0.001")
  }

  private val inventories =
    new java.util.concurrent.ConcurrentHashMap[Knobs, Map[String, (SparkSession, String) => DataFrame]]()

  /** The inventory over `knobs`, built once per value. */
  def queriesFor(knobs: Knobs): Map[String, (SparkSession, String) => DataFrame] =
    inventories.computeIfAbsent(knobs,
      k => queriesOf(Relational.defs ++ Dml.defs ++ Pipeline.defsFor(k)))

  /** One entry per implemented operator from SURVEY.md §2, over the knobs
    * the JVM started with. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    queriesFor(Knobs.jvm)

  private def queriesOf(defs: Seq[gq.QDef]) =
    defs.map { q =>
      q.name -> { (spark: SparkSession, dir: String) =>
        // idempotent: covers sessions built without GraftSession extensions
        functions.SnowflakeExtensions.register(spark)
        q.fn(spark, dir)
      }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] =
    allDefs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
