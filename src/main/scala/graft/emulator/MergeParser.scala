package graft.emulator

import scala.util.matching.Regex

/** MERGE INTO statement parser — same grammar as the reference
  * (`pkg/query/merge_processor.go:66-272`): `MERGE INTO target [AS alias]
  * USING (subquery)|table [AS alias] ON cond` followed by N `WHEN [NOT]
  * MATCHED [AND cond] THEN UPDATE SET ... | DELETE | INSERT [(cols)]
  * VALUES (vals)` clauses in declaration order. Produces a structured
  * statement the executor turns into the single-join MergeInto plan.
  */
object MergeParser {

  sealed trait Action
  final case class UpdateAction(set: Seq[(String, String)]) extends Action
  case object DeleteAction extends Action
  final case class InsertAction(cols: Seq[String], vals: Seq[String]) extends Action

  final case class WhenClause(isMatched: Boolean, condition: Option[String], action: Action)

  final case class MergeStatement(
      targetTable: String, targetAlias: Option[String],
      source: String, sourceAlias: Option[String],
      onCondition: String,
      whenClauses: Seq[WhenClause])

  private val mergeIntoRe: Regex =
    """(?is)MERGE\s+INTO\s+(\S+)(?:\s+AS\s+(\w+)|\s+([a-zA-Z_][a-zA-Z0-9_]*))?\s+USING""".r
  private val usingRe: Regex = """(?is)\bUSING(?:\s+|(?=\())""".r
  /** What follows the USING source: an optional alias, then ON. */
  private val usingTailRe: Regex =
    """(?is)(?:\s+AS\s+(\w+)|\s+([a-zA-Z_][a-zA-Z0-9_]*))?\s+ON""".r
  private val tableNameRe: Regex = """[^\s(]+""".r
  private val whenRe: Regex = """(?i)\bWHEN\s+""".r
  private val whenMatchedRe: Regex =
    """(?is)WHEN\s+MATCHED(?:\s+AND\s+(.+?))?\s+THEN""".r
  private val whenNotMatchedRe: Regex =
    """(?is)WHEN\s+NOT\s+MATCHED(?:\s+AND\s+(.+?))?\s+THEN""".r
  private val thenUpdateRe: Regex = """(?is)THEN\s+UPDATE\s+SET\s+(.+)""".r
  private val thenInsertRe: Regex = """(?is)THEN\s+INSERT\s*""".r
  private val valuesRe: Regex = """(?is)\s*VALUES\b""".r

  /** Split by top-level commas (respecting parens and quotes), the analog of
    * the reference's splitByCommaRespectingParens / paren-aware arg split
    * (`translator.go:263-288`). */
  def splitTopLevel(s: String): Seq[String] = {
    val out = Vector.newBuilder[String]
    var depth = 0
    var inQuote = false
    val cur = new StringBuilder
    s.foreach { c =>
      c match {
        case '\'' => inQuote = !inQuote; cur.append(c)
        case '(' if !inQuote => depth += 1; cur.append(c)
        case ')' if !inQuote => depth -= 1; cur.append(c)
        case ',' if !inQuote && depth == 0 =>
          out += cur.toString.trim; cur.clear()
        case _ => cur.append(c)
      }
    }
    if (cur.nonEmpty) out += cur.toString.trim
    out.result().filter(_.nonEmpty)
  }

  /** The parenthesized group opening at the first non-blank character at
    * or after `from`, at any nesting depth (quotes respected, as in
    * [[splitTopLevel]]): its inner text and the index after its `)`.
    * None when no group opens there or it never closes. */
  private def parenGroup(s: String, from: Int): Option[(String, Int)] = {
    var i = from
    while (i < s.length && s.charAt(i).isWhitespace) i += 1
    if (i >= s.length || s.charAt(i) != '(') return None
    val open = i
    var depth = 0
    var inQuote = false
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => inQuote = !inQuote
        case '(' if !inQuote => depth += 1
        case ')' if !inQuote =>
          depth -= 1
          if (depth == 0) return Some((s.substring(open + 1, i), i + 1))
        case _ =>
      }
      i += 1
    }
    None
  }

  def parse(sql: String): MergeStatement = {
    val text = sql.trim

    val mi = mergeIntoRe.findFirstMatchIn(text).getOrElse(
      throw SnowflakeError.compilation("invalid MERGE INTO syntax: missing target table"))
    val targetAlias = Option(mi.group(2)).orElse(Option(mi.group(3)))
      .filter(a => a != null && !a.equalsIgnoreCase("USING"))

    def noUsing = SnowflakeError.compilation("invalid MERGE syntax: missing USING clause")
    val usingEnd = usingRe.findFirstMatchIn(text).getOrElse(throw noUsing).end
    // the source: a subquery (balanced parentheses, any depth) or a name
    val (source, sourceEnd) = parenGroup(text, usingEnd) match {
      case Some((inner, end)) => (s"($inner)", end)
      case None =>
        val name = tableNameRe.findPrefixOf(text.substring(usingEnd)).getOrElse(throw noUsing)
        (name, usingEnd + name.length)
    }
    val tail = usingTailRe.findPrefixMatchOf(text.substring(sourceEnd)).getOrElse(throw noUsing)
    val sourceAlias = Option(tail.group(1)).orElse(Option(tail.group(2)))
      .filter(a => a != null && !a.equalsIgnoreCase("ON"))

    // ON condition runs from after the USING...ON match to the first WHEN
    val afterOn = text.substring(sourceEnd + tail.end)
    val firstWhen = whenRe.findFirstMatchIn(afterOn).map(_.start).getOrElse(
      throw SnowflakeError.compilation("invalid MERGE syntax: at least one WHEN clause required"))
    val onCondition = afterOn.substring(0, firstWhen).trim
    if (onCondition.isEmpty)
      throw SnowflakeError.compilation("invalid MERGE syntax: missing ON condition")

    // WHEN clause sections, in order
    val whenPart = afterOn.substring(firstWhen)
    val starts = whenRe.findAllMatchIn(whenPart).map(_.start).toSeq
    val sections = starts.zipAll(starts.drop(1), 0, whenPart.length).map {
      case (a, b) => whenPart.substring(a, b)
    }

    val clauses = sections.map(parseWhenClause)
    MergeStatement(mi.group(1), targetAlias, source, sourceAlias,
      onCondition, clauses)
  }

  private def parseWhenClause(section: String): WhenClause = {
    val upper = section.toUpperCase(java.util.Locale.ROOT)
    val (isMatched, condition) =
      if (upper.contains("NOT MATCHED"))
        (false, whenNotMatchedRe.findFirstMatchIn(section)
          .flatMap(m => Option(m.group(1))).map(_.trim))
      else if (upper.contains("MATCHED"))
        (true, whenMatchedRe.findFirstMatchIn(section)
          .flatMap(m => Option(m.group(1))).map(_.trim))
      else throw SnowflakeError.compilation(s"invalid WHEN clause: $section")

    val action =
      if (upper.contains("THEN DELETE")) DeleteAction
      else if (upper.contains("THEN UPDATE")) {
        val setStr0 = thenUpdateRe.findFirstMatchIn(section).map(_.group(1))
          .getOrElse(throw SnowflakeError.compilation(s"invalid UPDATE clause: $section"))
        // truncate at a following WHEN (multi-clause merge)
        val wi = setStr0.toUpperCase(java.util.Locale.ROOT).indexOf(" WHEN")
        val setStr = if (wi >= 0) setStr0.substring(0, wi) else setStr0
        val sets = splitTopLevel(setStr).map { kv =>
          val eq = kv.indexOf('=')
          if (eq < 0) throw SnowflakeError.compilation(s"invalid SET clause: $kv")
          (kv.substring(0, eq).trim, kv.substring(eq + 1).trim)
        }
        UpdateAction(sets)
      } else if (upper.contains("THEN INSERT")) {
        def invalid = SnowflakeError.compilation(s"invalid INSERT clause: $section")
        val at = thenInsertRe.findFirstMatchIn(section).getOrElse(throw invalid).end
        // optional (cols), then VALUES (vals) — each a balanced group
        val (cols, afterCols) = parenGroup(section, at)
          .map { case (c, end) => (splitTopLevel(c), end) }.getOrElse((Nil, at))
        val v = valuesRe.findPrefixMatchOf(section.substring(afterCols)).getOrElse(throw invalid)
        val (vals, _) = parenGroup(section, afterCols + v.end).getOrElse(throw invalid)
        InsertAction(cols, splitTopLevel(vals))
      } else throw SnowflakeError.compilation(s"invalid WHEN clause action: $section")

    WhenClause(isMatched, condition, action)
  }
}
