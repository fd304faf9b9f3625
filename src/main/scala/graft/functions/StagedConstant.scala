package graft.functions

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.DataType

/** One column of a small immutable ONE-row frame (a staged index row, a
  * codebook row) as a constant of the plans that read it. The row is
  * collected to the driver once per (SparkContext, key) and each column
  * ships to executors as a torrent broadcast variable; `eval` hands back
  * the broadcast value itself.
  *
  * Against the alternative, `crossJoin(broadcast(row))`, this saves two
  * things per query: the broadcast exchange (one Spark job each time the
  * plan runs) and the per-row copy of the whole row into every joined
  * input row that a downstream Generate or shuffle materializes. Against
  * a Literal it keeps the value out of every serialized task (the value
  * grows with the index: k centroid vectors).
  *
  * SQL surface: `staged_const('<id>')`, where the id comes from
  * [[StagedConstant.of]] — the only way to create one.
  */
case class StagedConstant(id: String, source: String, value: Broadcast[Any],
    dataType: DataType, nullable: Boolean)
    extends LeafExpression with CodegenFallback {
  override def eval(input: InternalRow): Any = value.value
  override def prettyName: String = "staged_const"
  override def toString: String = s"staged_const($source)"
  override def sql: String = s"staged_const('$id')"
}

object StagedConstant {
  private case class Entry(sc: SparkContext, cols: Map[String, StagedConstant])
  private val byKey = new java.util.concurrent.ConcurrentHashMap[String, Entry]()
  private val byId = new java.util.concurrent.ConcurrentHashMap[String, StagedConstant]()

  /** The columns of `row` (which must hold exactly one row) as SQL
    * constant texts, by column name. `key` names the row's content: the
    * same key must always denote the same row (a staged table's path
    * does). Collected and broadcast once per (SparkContext, key). */
  def of(sc: SparkContext, key: String)(row: => DataFrame): Map[String, String] = {
    // no lock is held while `row` runs: building it may stage tables
    // whose own plans read other constants. Two racing builders each
    // broadcast an equal value; either entry serves.
    val cur = byKey.get(key)
    val e = if (cur != null && (cur.sc eq sc) && !sc.isStopped) cur else {
      val df = row
      val rows = df.collect()
      require(rows.length == 1, s"staged_const: $key holds ${rows.length} rows, not 1")
      // unsafe (flat) layout: the kernels read these values in their
      // innermost loops
      val internal = UnsafeProjection.create(df.schema)(
        CatalystTypeConverters.createToCatalystConverter(df.schema)(rows(0))
          .asInstanceOf[InternalRow])
      val built = Entry(sc, df.schema.fields.zipWithIndex.map { case (f, i) =>
        val v = InternalRow.copyValue(internal.get(i, f.dataType))
        val id = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$key#${f.name}".getBytes("UTF-8")).map("%02x".format(_)).mkString
        val c = StagedConstant(id, s"$key#${f.name}", sc.broadcast[Any](v),
          f.dataType, v == null)
        byId.put(id, c)
        f.name -> c
      }.toMap)
      byKey.put(key, built)
      built
    }
    e.cols.map { case (name, c) => name -> c.sql }
  }

  /** The function builder behind `staged_const(id)`. */
  def lookup(args: Seq[Expression]): Expression = args match {
    case Seq(Literal(id, _)) if id != null && byId.containsKey(id.toString) =>
      byId.get(id.toString)
    case _ => throw new IllegalArgumentException(
      s"staged_const: unknown constant ${args.mkString(", ")}")
  }
}
