package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Copy-on-write UPDATE / DELETE semantics over immutable datasets.
  *
  * The reference delegates UPDATE/DELETE to DuckDB and reports affected row
  * counts (reference `pkg/query/executor.go:298-356`). Parquet-backed Spark
  * tables have no in-place mutation, so the engine expresses both as pure
  * transformations — `when(cond, new).otherwise(old)` / `filter(!cond)` —
  * that the table layer then writes back in one write, into a staging table
  * renamed into the table's place (`Catalog.overwriteTable`). At scale this
  * is one full scan + one write, embarrassingly parallel, with no shuffle.
  */
object MutableOps {

  /** SQL UPDATE: rows matching `cond` get `set` applied; all other rows
    * pass through unchanged. NULL cond counts as no-match (SQL three-valued
    * logic). Output schema and column order match the input.
    */
  def update(df: DataFrame, cond: Column, set: Map[String, Column]): DataFrame = {
    val hit = coalesce(cond, lit(false))
    df.select(df.columns.toSeq.map { c =>
      if (set.contains(c))
        when(hit, set(c).cast(df.schema(c).dataType)).otherwise(col(c)).as(c)
      else col(c)
    }: _*)
  }

  /** SQL DELETE: drop rows matching `cond`; NULL cond keeps the row. */
  def delete(df: DataFrame, cond: Column): DataFrame =
    df.filter(!coalesce(cond, lit(false)))

  /** Affected-row count for an UPDATE/DELETE predicate (Spark DML returns
    * no counts; the reference surfaces RowsAffected — `result.go:29-32`).
    * One job summing per-partition counts: `Dataset.count` plans an
    * aggregate whose shuffle stage runs as a job of its own.
    */
  def affectedCount(df: DataFrame, cond: Column): Long =
    df.filter(coalesce(cond, lit(false))).select().rdd.count()
}
