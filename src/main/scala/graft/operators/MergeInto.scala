package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** MERGE INTO, re-expressed as ONE declarative join plan.
  *
  * The reference decomposes MERGE into up to three sequential statements —
  * `UPDATE..FROM`, `DELETE..USING`, `INSERT..SELECT..WHERE NOT EXISTS`
  * (reference `pkg/query/merge_processor.go:446-631`) — which is non-atomic
  * between statements and scans the target up to three times. Here the whole
  * MERGE is a single full-outer join of target and source followed by a
  * per-row action decision, so the target is scanned once, the shuffle on
  * the join key happens once, and the result is produced atomically by a
  * single overwrite. Skew on the join key is handled by AQE's skew-join
  * splitting (enabled in GraftSession).
  *
  * The statement path ([[run]]) executes the join exactly once: the tagged
  * join is persisted, the nondeterminism check, the per-action counts and
  * the written result all read the cache. At scale that trades one extra
  * materialization (≈ |target|+|source| rows, spilling to disk) against a
  * second full scan+shuffle of both inputs — the right trade whenever the
  * join is the dominant cost, which is always at 100 TB.
  *
  * Clause semantics follow Snowflake/ANSI MERGE: WHEN [NOT] MATCHED clauses
  * are evaluated in declaration order, the first clause whose AND-condition
  * holds wins, a matched row with no applicable clause passes through
  * unchanged, a source-only row with no applicable insert clause is dropped
  * (reference grammar: `merge_processor.go:174-272`). When several source
  * rows match one target row and more than one of them would update/delete
  * it, the merge is nondeterministic and raises the Snowflake duplicate-row
  * error (ERROR_ON_NONDETERMINISTIC_MERGE default behavior); when the extra
  * matches are all pass-through, the target row is kept exactly once.
  */
object MergeInto {

  sealed trait MatchedAction
  /** UPDATE SET col -> expr (expr over joined target+source columns). */
  final case class Update(set: Map[String, Column]) extends MatchedAction
  case object Delete extends MatchedAction

  final case class WhenMatched(condition: Option[Column], action: MatchedAction)
  /** INSERT with explicit value per target column (missing cols -> NULL). */
  final case class WhenNotMatched(condition: Option[Column], values: Map[String, Column])

  /** Per-action row counts (inserted / updated / deleted), mirroring the
    * reference's MergeResult (`pkg/query/result.go:43-47`). */
  final case class Counts(inserted: Long, updated: Long, deleted: Long)

  /** Raised when one target row is updated/deleted by more than one source
    * row — Snowflake's ERROR_ON_NONDETERMINISTIC_MERGE contract. The
    * executor maps it onto a Snowflake execution error. */
  final class NondeterministicMergeException
      extends RuntimeException("Duplicate row detected during DML action")

  private val TMark = "__graft_t_mark"
  private val SMark = "__graft_s_mark"
  private val TId = "__graft_t_id"
  private val SId = "__graft_s_id"
  private val ActionCol = "__graft_action"
  private val RowNum = "__graft_rn"

  /** Pass-through action index for matched rows with no applicable clause. */
  private val Keep = -1

  /** The one join plan all paths share: marks + per-target/source row ids +
    * the winning clause index per row. */
  private final case class Tagged(
      joined: DataFrame,
      isMatched: Column,
      targetOnly: Column,
      sourceOnly: Column,
      matchedIdx: Column,
      insertIdx: Column,
      updateIdxs: Set[Int],
      deleteIdxs: Set[Int]) {
    /** A matched row to which some WHEN MATCHED clause applies. */
    def applied: Column = isMatched && matchedIdx =!= lit(Keep)
  }

  private def tag(
      target: DataFrame,
      source: DataFrame,
      condition: Column,
      matched: Seq[WhenMatched],
      notMatched: Seq[WhenNotMatched]): Tagged = {
    val t = target.withColumn(TMark, lit(1))
      .withColumn(TId, monotonically_increasing_id())
    val s = source.withColumn(SMark, lit(1))
      .withColumn(SId, monotonically_increasing_id())
    val joined = t.join(s, condition, "full_outer")
    val isMatched = col(TMark).isNotNull && col(SMark).isNotNull
    val targetOnly = col(TMark).isNotNull && col(SMark).isNull
    val sourceOnly = col(TMark).isNull && col(SMark).isNotNull

    // First applicable clause index (evaluated in declaration order).
    def firstApplicable(conds: Seq[Option[Column]]): Column =
      conds.zipWithIndex.foldRight(lit(Keep)) { case ((c, i), rest) =>
        c.map(cc => when(cc, lit(i)).otherwise(rest)).getOrElse(lit(i))
      }

    val deleteIdxs = matched.zipWithIndex.collect {
      case (WhenMatched(_, Delete), i) => i
    }.toSet
    Tagged(joined, isMatched, targetOnly, sourceOnly,
      matchedIdx = firstApplicable(matched.map(_.condition)),
      insertIdx = firstApplicable(notMatched.map(_.condition)),
      updateIdxs = matched.indices.filterNot(deleteIdxs.contains).toSet,
      deleteIdxs = deleteIdxs)
  }

  /** Action decision + final projection over the tagged join. With
    * `dedupeFanout`, target rows that matched several source rows are
    * first collapsed to one join row (the applying one, if any) — only
    * taken when fanout was actually observed, so the common unique-key
    * merge never pays the extra window shuffle. */
  private def finish(
      tg: Tagged,
      target: DataFrame,
      matched: Seq[WhenMatched],
      notMatched: Seq[WhenNotMatched],
      dedupeFanout: Boolean): DataFrame = {
    import tg._
    val targetCols = target.columns.toSeq

    val withAction = joined.withColumn(
      ActionCol,
      when(isMatched, matchedIdx)
        .when(targetOnly, lit(Keep))
        .otherwise(insertIdx))

    val deduped =
      if (!dedupeFanout) withAction
      else {
        // one window partition per target row; source-only rows get unique
        // negative keys, so no partition holds more than one source row
        val part = coalesce(col(TId), -col(SId) - 1)
        val w = Window.partitionBy(part)
          .orderBy(when(applied, 0).otherwise(1), col(SId))
        withAction.withColumn(RowNum, row_number().over(w))
          .filter(col(RowNum) === 1).drop(RowNum)
      }

    // Row survives unless a DELETE clause selected it, or it is a
    // source-only row with no applicable insert clause.
    val survives =
      when(sourceOnly, col(ActionCol) =!= lit(Keep))
        .otherwise(
          if (deleteIdxs.isEmpty) lit(true)
          else !col(ActionCol).isin(deleteIdxs.toSeq.map(_.asInstanceOf[Any]): _*)
            || !isMatched)

    val outCols = targetCols.map { name =>
      val base = target(name)
      val matchedValue = matched.zipWithIndex.foldRight(base) {
        case ((WhenMatched(_, Update(set)), i), rest) if set.contains(name) =>
          when(col(ActionCol) === lit(i), set(name)).otherwise(rest)
        case (_, rest) => rest
      }
      val insertValue = notMatched.zipWithIndex.foldRight(lit(null).cast(target.schema(name).dataType): Column) {
        case ((WhenNotMatched(_, values), i), rest) =>
          when(col(ActionCol) === lit(i),
            values.getOrElse(name, lit(null)).cast(target.schema(name).dataType))
            .otherwise(rest)
      }
      when(isMatched || targetOnly, matchedValue)
        .otherwise(insertValue)
        .as(name)
    }

    deduped.filter(survives).select(outCols: _*)
  }

  /** One aggregation over the tagged join: the fan-out probe (the most
    * matches, and the most applying matches, of one target row) and the
    * per-action counts. Matched rows group by their target row; every
    * other row falls into one NULL group, which partial aggregation
    * collapses map-side. */
  private def probe(tg: Tagged): (Long, Long, Counts) = {
    import tg._
    def cnt(cond: Column): Column = sum(when(cond, 1L).otherwise(0L))
    def in(c: Column, idxs: Set[Int]): Column =
      if (idxs.isEmpty) lit(false)
      else c.isin(idxs.toSeq.map(_.asInstanceOf[Any]): _*)
    val row = joined.groupBy(when(isMatched, col(TId)))
      .agg(cnt(isMatched).as("m"), cnt(applied).as("ap"),
        cnt(sourceOnly && insertIdx =!= lit(Keep)).as("ins"),
        cnt(isMatched && in(matchedIdx, updateIdxs)).as("upd"),
        cnt(isMatched && in(matchedIdx, deleteIdxs)).as("del"))
      .agg(max("m"), max("ap"), sum("ins"), sum("upd"), sum("del"))
      .collect()(0)
    def l(i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
    (l(0), l(1), Counts(l(2), l(3), l(4)))
  }

  /** Execute the merge and return the new target content (same schema as
    * `target`). Column expressions in clauses/condition may reference
    * `target("col")` / `source("col")` or plain `col("name")` when
    * unambiguous. Query-path entry — no fanout handling; the statement
    * path is [[run]]. */
  def apply(
      target: DataFrame,
      source: DataFrame,
      condition: Column,
      matched: Seq[WhenMatched] = Nil,
      notMatched: Seq[WhenNotMatched] = Nil): DataFrame =
    finish(tag(target, source, condition, matched, notMatched),
      target, matched, notMatched, dedupeFanout = false)

  /** Per-action counts alone (spec surface); [[run]] shares the plan. */
  def counts(
      target: DataFrame,
      source: DataFrame,
      condition: Column,
      matched: Seq[WhenMatched] = Nil,
      notMatched: Seq[WhenNotMatched] = Nil): Counts =
    probe(tag(target, source, condition, matched, notMatched))._3

  /** Statement-path execution: ONE join, persisted, feeding (a) the
    * nondeterminism check, (b) the per-action counts, and (c) the written
    * result via `write`. Returns the counts. */
  def run(
      target: DataFrame,
      source: DataFrame,
      condition: Column,
      matched: Seq[WhenMatched],
      notMatched: Seq[WhenNotMatched])(write: DataFrame => Unit): Counts = {
    val tg = tag(target, source, condition, matched, notMatched)
    val cached = tg.joined.persist(StorageLevel.MEMORY_AND_DISK)
    val tgc = tg.copy(joined = cached)
    try {
      val (maxMatches, maxApplies, c) = probe(tgc)
      if (maxApplies > 1) throw new NondeterministicMergeException
      write(finish(tgc, target, matched, notMatched,
        dedupeFanout = maxMatches > 1))
      c
    } finally cached.unpersist()
  }
}
