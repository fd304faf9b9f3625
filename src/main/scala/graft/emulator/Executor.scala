package graft.emulator

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}
import graft.Knobs
import graft.operators.{CopyInto, MergeInto, MutableOps}
import graft.stage.StageManager
import scala.jdk.CollectionConverters._

/** Statement executor — the analog of the reference's
  * `pkg/query/executor.go`: classify (`classifier.go:44-130`), bind
  * parameters (`executor.go:148-280`), route to query / DML / DDL / COPY /
  * MERGE / transaction handling, materialize results with Snowflake-shaped
  * column metadata (`type_mapper.go:69-103`) and record query history
  * (`executor.go:516-573`).
  *
  * Where the reference hands the translated SQL to DuckDB, this executor
  * hands it to Spark SQL after flattened-name rewriting; the Snowflake
  * scalar-function surface is already injected into the session's
  * FunctionRegistry (graft.functions.SnowflakeExtensions), so no text-level
  * function rewriting exists at all.
  */
final class Executor(
    val catalog: Catalog,
    val stages: StageManager,
    val warehouses: WarehouseManager,
    val history: QueryHistory,
    val knobs: Knobs = Knobs.jvm) {

  import Executor._

  private val spark: SparkSession = catalog.spark
  private val transactions = new ConcurrentHashMap[String, Txn]()

  /** Bounded retention of completed query results for RESULT_SCAN
    * (Snowflake serves 24 h from result storage; the emulator keeps the
    * last 200 result sets under 100k rows — same spirit as the REST
    * statement store's 1 h TTL). Maps queryId -> (schema, external rows). */
  private val retainedResults =
    new java.util.LinkedHashMap[String, (org.apache.spark.sql.types.StructType, Seq[Seq[Any]])](
      16, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (org.apache.spark.sql.types.StructType, Seq[Seq[Any]])]) =
        size() > 200
    }
  private val RetainMaxRows = 100000

  /** Per-session last completed statement id, for LAST_QUERY_ID(). */
  private val lastQueryIds = new ConcurrentHashMap[String, String]()

  /** Session variables (SET x = expr; referenced as $x): per-session
    * name -> (spliceable SQL literal, display value, Snowflake type).
    * Primary eviction is LIFECYCLE-DRIVEN: the server registers
    * [[releaseSessionState]] as a SessionManager close listener, so
    * logout/expiry frees the state the moment the session dies. The LRU
    * cap is only a backstop for ids that never pass through the session
    * manager (REST v2 statement handles), sized far above any live
    * session count and LOGGED on eviction — silently dropping a live
    * session's variables mid-session is the failure mode this avoids. */
  private final case class SessionVar(lit: String, display: String, tpe: String)
  private val SessionStateCap = 100000
  private def warnEvict(kind: String, sessionId: String): Unit =
    System.err.println(
      s"[graft] WARN: $kind store exceeded $SessionStateCap sessions; " +
        s"evicting least-recently-used session state for '$sessionId'")
  private val sessionVars =
    new java.util.LinkedHashMap[String, scala.collection.mutable.LinkedHashMap[String, SessionVar]](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, scala.collection.mutable.LinkedHashMap[String, SessionVar]]) = {
        val evict = size() > SessionStateCap
        if (evict) warnEvict("session-variable", e.getKey)
        evict
      }
    }
  private def varsOf(sessionId: String) = sessionVars.synchronized {
    sessionVars.computeIfAbsent(sessionId,
      _ => scala.collection.mutable.LinkedHashMap.empty[String, SessionVar])
  }

  /** Per-session parameter overrides (ALTER SESSION SET/UNSET), merged
    * over the login defaults by SHOW PARAMETERS. Same lifecycle-driven
    * eviction + logged LRU backstop as the variable store. */
  private val sessionParams =
    new java.util.LinkedHashMap[String, scala.collection.mutable.LinkedHashMap[String, String]](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, scala.collection.mutable.LinkedHashMap[String, String]]) = {
        val evict = size() > SessionStateCap
        if (evict) warnEvict("session-parameter", e.getKey)
        evict
      }
    }
  private def sessionParamsOf(sessionId: String) = sessionParams.synchronized {
    sessionParams.computeIfAbsent(sessionId,
      _ => scala.collection.mutable.LinkedHashMap.empty[String, String])
  }

  /** Free all per-session state for a closed/expired session — wired as a
    * SessionManager close listener by the server, so eviction tracks the
    * session LIFECYCLE instead of a count cap. */
  def releaseSessionState(sessionId: String): Unit = {
    sessionVars.synchronized { sessionVars.remove(sessionId); () }
    sessionParams.synchronized { sessionParams.remove(sessionId); () }
    lastQueryIds.remove(sessionId)
    // an open transaction dies with its session: roll it back (Snowflake's
    // session-end contract) so snapshot temp dirs are freed, not leaked
    Option(transactions.remove(sessionId)).foreach(rollbackTxn)
    ()
  }

  /** Re-key all per-session state on token renewal — the session is the
    * same, only its token changed (wired to SessionManager.onRename). */
  def migrateSessionState(oldId: String, newId: String): Unit = {
    sessionVars.synchronized {
      Option(sessionVars.remove(oldId)).foreach(sessionVars.put(newId, _))
    }
    sessionParams.synchronized {
      Option(sessionParams.remove(oldId)).foreach(sessionParams.put(newId, _))
    }
    Option(lastQueryIds.remove(oldId)).foreach(lastQueryIds.put(newId, _))
    Option(transactions.remove(oldId)).foreach(transactions.put(newId, _))
    ()
  }

  /** Streams on tables (CDC): name -> (source table, baseline snapshot).
    * A stream's content is the row-level delta between the source's
    * current state and the baseline; consuming the stream in a DML
    * statement advances the baseline to the current state — Snowflake's
    * stream contract, computed with Spark set operations instead of
    * offset bookkeeping. */
  private final case class StreamMeta(name: String,
      @volatile var table: TableNaming.Ref,
      @volatile var baseline: Catalog.Snapshot, appendOnly: Boolean = false,
      @volatile var stale: Boolean = false)
  private val streams = new ConcurrentHashMap[String, StreamMeta]()

  /** Time Travel: per-table ring of content versions, one recorded after
    * each write statement (queryId, snapshot path, wall time). AT/BEFORE
    * clauses resolve against this ring. Like Snowflake's metadata over
    * immutable micro-partitions, a version is a directory of hard links to
    * the table's parquet files at that statement ([[Catalog.snapshotTable]]):
    * no data is copied, and a version only keeps alive the files later
    * writes unlinked from the table. Bounded at 8 versions per table. */
  private final case class TableVersion(queryId: String,
      snapshot: Catalog.Snapshot, atMillis: Long)
  private val tableVersions =
    new ConcurrentHashMap[String, java.util.ArrayDeque[TableVersion]]()
  private val MaxVersionsPerTable = 8

  private def tableKey(r: TableNaming.Ref) =
    s"${r.database}.${r.schema}.${r.table}"

  /** The `TABLE(PIPELINE())` inventory over this executor's knobs. */
  private lazy val pipelineEntries = graft.SparkEntry.queriesFor(knobs)

  /** Every snapshot directory (versions, stream baselines, UNDROP
    * retention, transaction snapshots) lives under this root, which
    * [[close]] deletes. */
  private val snapshotRoot = Files.createTempDirectory("graft_snapshots")

  /** Snapshot a table's current content as the post-state of `queryId`. */
  private def recordVersion(ref: TableNaming.Ref, queryId: String): Unit =
    if (catalog.tableExists(ref))
      catalog.snapshotTable(ref, snapshotRoot, knobs.timeTravelMaxBytes).foreach { snap =>
        val ring = tableVersions.computeIfAbsent(tableKey(ref),
          _ => new java.util.ArrayDeque[TableVersion]())
        ring.synchronized {
          ring.addLast(TableVersion(queryId, snap, System.currentTimeMillis()))
          while (ring.size() > MaxVersionsPerTable) ring.removeFirst().snapshot.delete()
        }
      }

  /** Delete every snapshot this executor holds; the server calls it when
    * it stops, after which the executor takes no more statements. */
  def close(): Unit =
    if (Files.exists(snapshotRoot)) Catalog.deleteRecursively(snapshotRoot)

  /** Identity bookkeeping when a table is dropped or replaced: streams on
    * it go stale (Snowflake: the stream can no longer resolve its source's
    * change offsets) and its time-travel history is discarded — a table
    * later created under the same name is a NEW table and must not serve
    * the old table's versions through AT/BEFORE. */
  private def invalidateTableIdentity(ref: TableNaming.Ref): Unit = {
    streams.asScala.values.foreach(sm => if (sm.table == ref) sm.stale = true)
    Option(tableVersions.remove(tableKey(ref))).foreach { ring =>
      ring.synchronized {
        while (!ring.isEmpty) ring.removeFirst().snapshot.delete()
      }
    }
  }

  /** Snowflake tracks tables by id, not name: ALTER TABLE RENAME carries
    * streams and time-travel history along to the new name. */
  private def retargetTableIdentity(from: TableNaming.Ref,
      to: TableNaming.Ref): Unit = {
    streams.asScala.values.foreach(sm => if (sm.table == from) sm.table = to)
    Option(tableVersions.remove(tableKey(from)))
      .foreach(ring => tableVersions.put(tableKey(to), ring))
  }

  /** Drop-retention for UNDROP TABLE: the last 20 dropped tables' metadata
    * and a snapshot of their content at drop time. */
  private val droppedTables =
    new java.util.LinkedHashMap[String, (Catalog.TableMeta, Catalog.Snapshot)](
      16, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Catalog.TableMeta, Catalog.Snapshot)]) = {
        if (size() > 20) { e.getValue._2.delete(); true } else false
      }
    }

  // ------------------------------------------------------------------
  // entry point
  // ------------------------------------------------------------------

  /** `queryId`: an externally-assigned statement id (REST v2 passes its
    * statementHandle so the handle IS the query id, like Snowflake —
    * RESULT_SCAN and AT(STATEMENT =>) then work against wire handles). */
  def execute(ctx: Context, sql: String,
      bindings: Map[String, Bindings.Binding] = Map.empty,
      queryId0: Option[String] = None): Result = {
    val queryId = queryId0.getOrElse(newQueryId())
    val bound = Bindings.apply(sql, bindings)
    // the session's QUERY_TAG (ALTER SESSION SET QUERY_TAG = ...) rides
    // on every history record — Snowflake's workload-attribution contract
    val tag = {
      val ps = sessionParamsOf(ctx.sessionId)
      ps.synchronized(ps.getOrElse("QUERY_TAG", ""))
    }
    val t0 = history.start(queryId, bound, tag)
    try {
      val r = route(ctx, rewriteIdentifierFn(substituteVariables(ctx, bound)), queryId)
      history.success(queryId, bound, r.rows.size.toLong max r.rowsAffected.getOrElse(0L), t0)
      lastQueryIds.put(ctx.sessionId, queryId)
      r
    } catch {
      case t: Throwable =>
        val err = SnowflakeError.fromThrowable(t)
        history.failure(queryId, err.getMessage, t0)
        throw err
    }
  }

  private def route(ctx: Context, sql: String, queryId: String): Result = {
    if (Classifier.isUse(sql)) return useStatement(ctx, sql, queryId)
    val u = sql.trim.toUpperCase(java.util.Locale.ROOT)
    if (u.startsWith("LIST ") || u.startsWith("LS "))
      return listStage(sql, queryId)
    if (u.startsWith("REMOVE ") || u.startsWith("RM "))
      return removeStage(sql, queryId)
    if (u.startsWith("PUT ")) return putStage(sql, queryId)
    if (u.startsWith("GET ")) return getStage(sql, queryId)
    if (u.startsWith("UNDROP ")) return undrop(ctx, sql, queryId)
    // ACL statements: acknowledged without an ACL model (single-user
    // emulator; dbt and friends issue these unconditionally)
    if (u.startsWith("GRANT ") || u.startsWith("REVOKE "))
      return status(queryId, "Statement executed successfully.")
    if (u.startsWith("COMMENT ")) return commentOn(ctx, sql, queryId)
    if (u.startsWith("SET ") || u.startsWith("SET("))
      return setVariable(ctx, sql, queryId)
    if (u.startsWith("UNSET ") || u.startsWith("UNSET("))
      return unsetVariable(ctx, sql, queryId)
    val cls = Classifier.classify(sql)
    cls.tpe match {
      case Classifier.Query => query(ctx, sql, queryId)
      case Classifier.DdlCreate => ddlCreate(ctx, sql, queryId)
      case Classifier.DdlDrop => ddlDrop(ctx, sql, queryId)
      case Classifier.DdlAlter => ddlAlter(ctx, sql, queryId)
      case Classifier.Copy => copyInto(ctx, sql, queryId)
      case Classifier.Merge => mergeInto(ctx, sql, queryId)
      case Classifier.Transaction => transaction(ctx, sql, queryId)
      case _ => dml(ctx, sql, queryId)
    }
  }

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  private def query(ctx: Context, sql: String, queryId: String): Result = {
    // comment-blind routing: SHOW/DESCRIBE may arrive behind tool comments
    val bare = Classifier.stripLeading(sql)
    val u = bare.trim.toUpperCase(java.util.Locale.ROOT)
    if (u.startsWith("SHOW")) return show(ctx, bare, queryId)
    if (u.startsWith("DESC")) return describe(ctx, bare, queryId)
    collectResult(fullQueryDf(ctx, bare), queryId, Classifier.StatementTypeSelect)
  }

  /** The full SELECT rewrite chain ending in a DataFrame — shared by
    * query() and session-variable SET evaluation (SET runs an arbitrary
    * scalar expression, including subqueries, through the same path a
    * SELECT takes). [[queryDf]] below is the lighter streams+naming-only
    * chain used by MERGE USING subqueries. */
  private def fullQueryDf(ctx: Context, bare: String): DataFrame = {
    val withHistory = rewriteTopSample(
      rewriteQueryHistory(rewriteJsonPath(sessionContextFns(ctx,
        rewriteTimeTravel(ctx, rewriteStreams(ctx, rewriteGenerator(
          rewriteResultScan(ctx, rewritePipelineTable(ctx, bare)))))))))
    val rewritten = TableNaming.rewrite(rewriteFlatten(rewriteSplitToTable(rewriteQualify(withHistory))),
      ctx.database, ctx.schema)
    spark.sql(rewritten)
  }

  /** Snowflake `SELECT TOP n ...` -> trailing LIMIT (Snowflake forbids
    * combining TOP with LIMIT, so appending is safe), and
    * `SAMPLE [ROW|BLOCK] (p)` / `SAMPLE (n ROWS)` -> Spark TABLESAMPLE. */
  private[emulator] def rewriteTopSample(sql: String): String = {
    var s = sql.trim.stripSuffix(";")
    val topRe = """(?is)^(SELECT)\s+TOP\s+(\d+)\s+(.*)$""".r
    s = s match {
      case topRe(sel, n, rest) => s"$sel $rest LIMIT $n"
      case other => other
    }
    replaceOutsideQuotes(s,
      """(?is)\bSAMPLE\s+(?:ROW\s+|BLOCK\s+)?\(\s*(\d+(?:\.\d+)?)\s*(ROWS?)?\s*\)""".r)(m =>
        if (m.group(2) != null) s"TABLESAMPLE (${m.group(1)} ROWS)"
        else s"TABLESAMPLE (${m.group(1)} PERCENT)")
  }

  /** Snowflake semi-structured path access `col:field[.sub...]` ->
    * `get_json_object(col, '$.field.sub')` (VARIANT-as-JSON-text model,
    * SURVEY §1.2). Quote-aware scan; `::` stays the cast operator, so
    * `props:k::int` becomes `get_json_object(props, '$.k')::int` — Spark 4
    * parses `::` casts natively. Applied after parameter binding, so `:N`
    * markers are long gone. */
  private[emulator] def rewriteJsonPath(sql: String): String = {
    if (!sql.contains(":")) return sql
    val out = new StringBuilder(sql.length + 32)
    var i = 0; var inQ = false; var inDq = false
    def identChar(c: Char) = c.isLetterOrDigit || c == '_' || c == '.'
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inQ) { out.append(c); if (c == '\'') inQ = false; i += 1 }
      else if (inDq) { out.append(c); if (c == '"') inDq = false; i += 1 }
      else c match {
        case '\'' => inQ = true; out.append(c); i += 1
        case '"' => inDq = true; out.append(c); i += 1
        case ':' if i + 1 < sql.length && sql.charAt(i + 1) == ':' =>
          out.append("::"); i += 2
        case ':' if i + 1 < sql.length &&
            (sql.charAt(i + 1).isLetter || sql.charAt(i + 1) == '_') =>
          // identifier immediately before the colon = the VARIANT column
          var j = out.length
          while (j > 0 && identChar(out.charAt(j - 1))) j -= 1
          val ident = out.substring(j)
          if (ident.nonEmpty && (ident.head.isLetter || ident.head == '_')) {
            var k = i + 1
            val path = new StringBuilder
            while (k < sql.length && identChar(sql.charAt(k))) {
              path.append(sql.charAt(k)); k += 1
            }
            out.delete(j, out.length)
            out.append(s"get_json_object($ident, '$$.$path')")
            i = k
          } else { out.append(c); i += 1 }
        case _ => out.append(c); i += 1
      }
    }
    out.toString
  }

  private val QualifyCol = "__graft_qualify"

  /** Find the first top-level (outside parens/quotes) occurrence of a
    * keyword, or -1. */
  private def topLevelIndexOf(sql: String, word: String, from: Int): Int = {
    val u = sql.toUpperCase(java.util.Locale.ROOT)
    val w = word.toUpperCase(java.util.Locale.ROOT)
    var i = from; var depth = 0; var inQ = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inQ) { if (c == '\'') inQ = false }
      else c match {
        case '\'' => inQ = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && u.startsWith(w, i) &&
            (i == 0 || !sql.charAt(i - 1).isLetterOrDigit) &&
            (i + w.length >= sql.length || !sql.charAt(i + w.length).isLetterOrDigit))
            return i
      }
      i += 1
    }
    -1
  }

  /** Snowflake QUALIFY — filter on a window expression after windows are
    * computed. Spark has no QUALIFY (the reference inherits DuckDB's,
    * `translator.go:121-127`), so rewrite
    * `SELECT <list> FROM <rest> QUALIFY <cond> [ORDER BY/LIMIT <suffix>]`
    * into `SELECT * EXCEPT (q) FROM (SELECT <list>, (<cond>) AS q FROM
    * <rest>) WHERE q <suffix>` — star-EXCEPT keeps the marker out of the
    * result schema, so the rewrite is safe at ANY nesting level. The
    * rewrite recurses into every parenthesized group first (derived
    * tables, CTE bodies, IN/EXISTS subqueries), then de-QUALIFYs what is
    * top-level in its own scope — Snowflake users nest QUALIFY
    * routinely. */
  private[emulator] def rewriteQualify(sql: String): String = {
    // recurse into parenthesized groups (quote-aware), innermost-first
    val out = new StringBuilder(sql.length)
    var i = 0; var inQ = false; var inDq = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inQ) { out.append(c); if (c == '\'') inQ = false; i += 1 }
      else if (inDq) { out.append(c); if (c == '"') inDq = false; i += 1 }
      else c match {
        case '\'' => inQ = true; out.append(c); i += 1
        case '"' => inDq = true; out.append(c); i += 1
        case '(' =>
          var depth = 1; var j = i + 1; var q = false; var dq = false
          while (j < sql.length && depth > 0) {
            val cj = sql.charAt(j)
            if (q) { if (cj == '\'') q = false }
            else if (dq) { if (cj == '"') dq = false }
            else cj match {
              case '\'' => q = true
              case '"' => dq = true
              case '(' => depth += 1
              case ')' => depth -= 1
              case _ =>
            }
            j += 1
          }
          val inner = sql.substring(i + 1, math.max(i + 1, j - 1))
          out.append('(').append(rewriteQualify(inner)).append(')')
          i = j
        case _ => out.append(c); i += 1
      }
    }
    rewriteQualifyHere(out.toString)
  }

  /** De-QUALIFY the current scope only (subqueries already handled). */
  private def rewriteQualifyHere(sql: String): String = {
    val qIdx = topLevelIndexOf(sql, "QUALIFY", 0)
    if (qIdx < 0) return sql
    val head = sql.substring(0, qIdx).trim
    val tail = sql.substring(qIdx + "QUALIFY".length)
    val suffixAt = Seq(topLevelIndexOf(tail, "ORDER", 0), topLevelIndexOf(tail, "LIMIT", 0))
      .filter(_ >= 0).sorted.headOption.getOrElse(tail.length)
    val cond = tail.substring(0, suffixAt).trim.stripSuffix(";")
    val suffix = tail.substring(suffixAt).trim.stripSuffix(";")
    val fromIdx = topLevelIndexOf(head, "FROM", 0)
    if (fromIdx < 0)
      throw SnowflakeError.compilation(s"QUALIFY without FROM: $sql")
    val selectPart = head.substring(0, fromIdx).trim
    val fromPart = head.substring(fromIdx).trim
    val inner = s"$selectPart, ($cond) AS $QualifyCol $fromPart"
    s"SELECT * EXCEPT ($QualifyCol) FROM ($inner) __graft_qs WHERE $QualifyCol $suffix"
  }

  /** Session-context functions resolved against the statement's context:
    * Spark's native current_database()/current_schema() would answer from
    * the JVM-global catalog (wrong per-session), so the emulator inlines
    * the session values the way the reference answers from its session
    * store (`session.go:94-127`). */
  private def sessionContextFns(ctx: Context, sql: String): String =
    replaceOutsideQuotes(sql,
      """(?i)\bCURRENT_(DATABASE|SCHEMA|WAREHOUSE|ROLE|USER)\s*\(\s*\)""".r)(m =>
        m.group(1).toUpperCase(java.util.Locale.ROOT) match {
          case "DATABASE" => s"'${ctx.database}'"
          case "SCHEMA" => s"'${ctx.schema}'"
          case "WAREHOUSE" => "'COMPUTE_WH'"
          case "ROLE" => "'ACCOUNTADMIN'"
          case _ => "'GRAFT'"
        })

  private val timeTravelRe =
    ("""(?is)\b([A-Za-z_][\w.]*)\s+(AT|BEFORE)\s*\(\s*""" +
      """(STATEMENT|OFFSET|TIMESTAMP)\s*=>\s*('[^']*'|-?\d+)\s*(?:::\s*TIMESTAMP\w*\s*)?\)""").r

  /** Snowflake Time Travel: `t AT(STATEMENT => '<qid>')` serves the
    * table's content as recorded after that statement; `BEFORE` the
    * version immediately preceding it; `AT(OFFSET => -n)` the newest
    * version at least n seconds old. Resolved against the bounded
    * version ring and served through a temp view the name rewriter
    * leaves alone. */
  private def rewriteTimeTravel(ctx: Context, sql: String): String = {
    val upper = sql.toUpperCase(java.util.Locale.ROOT)
    if (!upper.contains(" AT") && !upper.contains("BEFORE")) return sql
    var n = 0
    replaceOutsideQuotes(sql, timeTravelRe)(m => {
      val ref = TableNaming.parse(m.group(1), ctx.database, ctx.schema)
      val mode = m.group(2).toUpperCase(java.util.Locale.ROOT)
      val kind = m.group(3).toUpperCase(java.util.Locale.ROOT)
      val arg = m.group(4).stripPrefix("'").stripSuffix("'")
      val ring = Option(tableVersions.get(tableKey(ref))).getOrElse(
        throw SnowflakeError.compilation(
          s"Time travel data is not available for table ${ref.table}"))
      val versions = ring.synchronized {
        scala.jdk.CollectionConverters.IteratorHasAsScala(ring.iterator).asScala.toVector
      }
      val chosen = (mode, kind) match {
        case (_, "STATEMENT") =>
          val idx = versions.indexWhere(_.queryId == arg)
          if (idx < 0) throw SnowflakeError.compilation(
            s"Time travel data is not available for statement $arg")
          if (mode == "AT") Some(versions(idx))
          else if (idx == 0) None else Some(versions(idx - 1))
        case (_, "OFFSET") =>
          val cutoff = System.currentTimeMillis() + arg.toLong * 1000L
          versions.reverseIterator.find(_.atMillis <= cutoff)
        case (_, "TIMESTAMP") =>
          // Lenient ISO-ish parse: 'YYYY-MM-DD[ HH:MM:SS[.fff]][offset]'.
          // Offset forms keep their zone; zone-less forms are session-UTC;
          // date-only means midnight UTC. A malformed value is a
          // compilation error, not a raw DateTimeParseException.
          val t = arg.trim.replace(" ", "T")
          val cutoff =
            try java.time.OffsetDateTime.parse(t).toInstant.toEpochMilli
            catch { case _: java.time.format.DateTimeParseException =>
              try java.time.LocalDateTime.parse(t)
                .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
              catch { case _: java.time.format.DateTimeParseException =>
                try java.time.LocalDate.parse(t).atStartOfDay
                  .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
                catch { case _: java.time.format.DateTimeParseException =>
                  throw SnowflakeError.compilation(
                    s"Invalid timestamp '$arg' in AT/BEFORE clause")
                }
              }
            }
          versions.reverseIterator.find(_.atMillis <= cutoff)
        case _ => None
      }
      val v = chosen.getOrElse(throw SnowflakeError.compilation(
        s"Time travel data is not available for table ${ref.table} at the requested point"))
      n += 1
      val view = s"graft_tt_$n"
      v.snapshot.read(spark).createOrReplaceTempView(view)
      java.util.regex.Matcher.quoteReplacement(s"`$view`")
    })
  }

  private def streamNameRe(name: String): scala.util.matching.Regex =
    ("""(?i)\b""" + java.util.regex.Pattern.quote(name) + """\b""").r

  /** Replace registered stream names in FROM position with a temp view of
    * the stream's current delta: rows in the source but not the baseline
    * (METADATA$ACTION = INSERT) plus rows in the baseline but not the
    * source (DELETE), via exceptAll in both directions. Runs before table
    * naming so the stream name is never flattened. Quoted spans are left
    * untouched: a stream name inside a string literal is data. */
  private def rewriteStreams(ctx: Context, sql: String): String = {
    if (streams.isEmpty) return sql
    var out = sql
    streams.asScala.foreach { case (key, sm) =>
      if (key.startsWith(s"${norm(ctx.database)}.${norm(ctx.schema)}.")) {
        val re = streamNameRe(sm.name)
        if (mentionsOutsideQuotes(out, re)) {
          if (sm.stale || !catalog.tableExists(sm.table))
            throw SnowflakeError.compilation(
              s"Stream ${sm.name} is stale: source table " +
                s"${sm.table.table} was dropped or replaced")
          val cur = catalog.tableDf(sm.table)
          val base = sm.baseline.read(spark)
          val inserted = cur.exceptAll(base)
            .withColumn("METADATA$ACTION", org.apache.spark.sql.functions.lit("INSERT"))
          // APPEND_ONLY streams surface inserts only (cheaper: one
          // exceptAll instead of two — Snowflake's append-only contract)
          val delta = (if (sm.appendOnly) inserted
            else inserted.union(base.exceptAll(cur)
              .withColumn("METADATA$ACTION", org.apache.spark.sql.functions.lit("DELETE"))))
            .withColumn("METADATA$ISUPDATE", org.apache.spark.sql.functions.lit(false))
          val view = s"graft_stream_${sm.name.toLowerCase(java.util.Locale.ROOT)}"
          delta.createOrReplaceTempView(view)
          val spans = quotedSpans(out)
          out = re.replaceAllIn(out, m =>
            if (spans.exists(s => m.start >= s._1 && m.start <= s._2))
              java.util.regex.Matcher.quoteReplacement(m.matched)
            else s"`$view`")
        }
      }
    }
    if (out ne sql) {
      // Snowflake spells the stream metadata columns "METADATA$ACTION"
      // (double-quoted) or bare metadata$action; Spark needs backticks
      out = """(?i)"(METADATA\$(?:ACTION|ISUPDATE))"|\b(METADATA\$(?:ACTION|ISUPDATE))""".r
        .replaceAllIn(out, m => java.util.regex.Matcher.quoteReplacement(
          "`" + Option(m.group(1)).getOrElse(m.group(2))
            .toUpperCase(java.util.Locale.ROOT) + "`"))
    }
    out
  }

  /** After a DML that read from streams: advance each referenced stream's
    * baseline to the source's current state (Snowflake consumes streams
    * transactionally on DML; the emulator advances on statement success). */
  private def advanceConsumedStreams(ctx: Context, sql: String): Unit =
    streams.asScala.foreach { case (key, sm) =>
      if (key.startsWith(s"${norm(ctx.database)}.${norm(ctx.schema)}.") &&
        !sm.stale && catalog.tableExists(sm.table) &&
        mentionsOutsideQuotes(sql, streamNameRe(sm.name))) {
        catalog.snapshotTable(sm.table, snapshotRoot, knobs.streamSnapshotMaxBytes) match {
          case Some(snap) =>
            val old = sm.baseline
            sm.baseline = snap
            old.delete()
          case None =>
            // the DML already succeeded; refusing the snapshot must not
            // fail it. The stream can no longer track its source within
            // the cap, so it goes stale (later reads raise the stale error).
            sm.stale = true
        }
      }
    }

  private def norm(s: String): String = s.trim.toUpperCase(java.util.Locale.ROOT)

  private val generatorRe =
    """(?is)TABLE\s*\(\s*GENERATOR\s*\(\s*ROWCOUNT\s*=>\s*(\d+)\s*\)\s*\)""".r

  /** Snowflake row generator: `TABLE(GENERATOR(ROWCOUNT => n))` -> Spark's
    * `range(n)` table-valued function (distributed, no driver loop);
    * SEQ4()/SEQ8() become range's `id` ordinal. The canonical Snowflake
    * test-data idiom. */
  private def rewriteGenerator(sql: String): String = {
    if (!sql.toUpperCase(java.util.Locale.ROOT).contains("GENERATOR")) return sql
    val ranged = replaceOutsideQuotes(sql, generatorRe)(m => s"range(${m.group(1)})")
    replaceOutsideQuotes(ranged, """(?i)\bSEQ[48]\s*\(\s*\)""".r)(_ => "id")
  }

  private val resultScanRe =
    """(?is)(?:TABLE\s*\(\s*)?RESULT_SCAN\s*\(\s*'([^']+)'\s*\)(?:\s*\))?""".r

  /** Snowflake RESULT_SCAN('<query-id>') / LAST_QUERY_ID(): re-query a
    * completed statement's result set. The retained (schema, rows) pair
    * is rebuilt as a DataFrame and served through a temp view that the
    * name rewriter knows to leave alone. Beyond reference parity (the Go
    * emulator has no result storage on the SQL surface; its REST layer
    * retains statements the same way). */
  private def rewriteResultScan(ctx: Context, sql: String): String = {
    if (!sql.toUpperCase(java.util.Locale.ROOT).contains("RESULT_SCAN")) return sql
    val withLast = replaceOutsideQuotes(sql, """(?i)LAST_QUERY_ID\s*\(\s*\)""".r)(_ =>
      "'" + Option(lastQueryIds.get(ctx.sessionId)).getOrElse("") + "'")
    replaceOutsideQuotes(withLast, resultScanRe)(m => {
      val qid = m.group(1)
      val retained = retainedResults.synchronized(Option(retainedResults.get(qid)))
      val (schema, rows) = retained.getOrElse(throw SnowflakeError.compilation(
        s"Result for query id $qid is not available"))
      val df = spark.createDataFrame(
        rows.map(r => org.apache.spark.sql.Row.fromSeq(r)).asJava, schema)
      // per-qid view name so one query can scan several results
      val view = s"graft_result_scan_$qid"
      df.createOrReplaceTempView(view)
      s"`$view`"
    })
  }

  private val queryHistoryRe =
    """(?is)(?:TABLE\s*\(\s*)?INFORMATION_SCHEMA\.QUERY_HISTORY(?:\s*\(\s*\)\s*\))?""".r

  /** SQL-queryable query history (reference persists history to a
    * selectable table, `repository.go:1213-1313`): references to
    * INFORMATION_SCHEMA.QUERY_HISTORY — bare or in Snowflake's
    * TABLE(...()) form — are served from a temp view refreshed from the
    * in-memory ring, so WHERE/ORDER BY/aggregation all work over it. The
    * backticked substitute name is invisible to the table-name rewriter. */
  private def rewriteQueryHistory(sql: String): String = {
    // quote-aware guard: a literal mentioning QUERY_HISTORY must not pay
    // the 10k-row history collection + temp-view rebuild
    if (!mentionsOutsideQuotes(sql, queryHistoryRe)) return sql
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("QUERY_ID", StringType),
      StructField("QUERY_TEXT", StringType),
      StructField("EXECUTION_STATUS", StringType),
      StructField("ROWS_PRODUCED", LongType),
      StructField("TOTAL_ELAPSED_TIME", LongType),
      StructField("ERROR_MESSAGE", StringType),
      StructField("START_TIME", TimestampType),
      StructField("QUERY_TAG", StringType)))
    val rows = history.recent(10000).map(r => Row(
      r.queryId, r.sqlText, r.status, r.rows, r.elapsedMs, r.errorMessage,
      new java.sql.Timestamp(r.startedAt), r.queryTag))
    spark.createDataFrame(rows.asJava, schema)
      .createOrReplaceTempView("graft_query_history")
    replaceOutsideQuotes(sql, queryHistoryRe)(_ => "`graft_query_history`")
  }

  /** Curated SQL-surface names for the beyond-parity pipeline operators
    * (SURVEY §2 extension families). Each maps to a `SparkEntry.queries`
    * entry; the generic `TABLE(PIPELINE('<entry>'))` form reaches every
    * entry by its internal name. */
  private[emulator] val pipelineAliases: Map[String, String] = Map(
    "GOPHER_RULES" -> "p52_gopher_rules",
    "EXACT_DEDUP" -> "p01_dedup_exact",
    "MINHASH_DEDUP" -> "p03_dedup_minhash_lsh",
    "SIMHASH_DEDUP" -> "p04_dedup_simhash",
    "CORPUS_FILTER" -> "p17_corpus_filter",
    "LANG_ID" -> "p08_lang_id",
    "QUALITY_SCORE" -> "p09_quality_score",
    "TOKEN_STATS" -> "p10_token_stats",
    "BM25_TOPK" -> "p29_bm25_topk",
    "CHUNK_BM25" -> "p60_chunk_bm25",
    "LM_PERPLEXITY" -> "p53_lm_perplexity",
    "DSIR_SELECT" -> "p54_dsir_select",
    "LR_QUALITY_SELECT" -> "p55_lr_quality_select",
    "TEMPERATURE_MIX" -> "p56_temperature_mix",
    "PII_REDACT" -> "p18_pii_redact",
    "CORPUS_CARD" -> "p62_corpus_card",
    "IMAGE_DHASH" -> "p63_image_dhash",
    "IMAGE_NEARDUP" -> "p63b_image_neardup",
    "MMR_RERANK" -> "p64_mmr_rerank",
    "MMR_MANY" -> "p64b_mmr_many",
    "RRF_FUSION" -> "p65_rrf_fusion",
    "UNIGRAM_VOCAB" -> "p66_unigram_vocab",
    "UNIGRAM_SEGMENTS" -> "p66b_unigram_segments",
    "PHRASE_BM25" -> "p29b_bm25_phrase",
    "WORDPIECE_SEGMENTS" -> "p67_wordpiece_segments",
    "WORDPIECE_FERTILITY" -> "p67b_wordpiece_fertility",
    "JL_DISTORTION" -> "p68_jl_distortion",
    "JL_RECALL" -> "p68b_jl_recall",
    "CHUNK_BM25_MANY" -> "p60b_chunk_bm25_many",
    "RRF_MANY" -> "p65b_rrf_many",
    "TOKENIZER_COMPARE" -> "p69_tokenizer_compare",
    "SEQ_PACK_WP" -> "p23b_seq_pack_wp",
    "UNIGRAM_EM" -> "p66c_unigram_em",
    "HEDGE_MIX" -> "p70_hedge_mix",
    "MAXSIM_RERANK" -> "p71_maxsim_rerank",
    "CDC_CHUNKS" -> "p72_cdc_chunks",
    "CONTAINMENT_DEDUP" -> "p73_containment",
    "LR_CALIBRATION" -> "p74_lr_calibration",
    "QUALITY_FUNNEL" -> "p75_quality_funnel",
    "RETENTION_COHORTS" -> "p76_retention_cohorts",
    "HOURLY_ANOMALY" -> "p77_hourly_anomaly",
    "KN_PERPLEXITY" -> "p78_kn_perplexity",
    "CLUSTER_BEST" -> "p79_cluster_best",
    "LEXRANK" -> "p80_lexrank",
    "WINNOW_DEDUP" -> "p81_winnow_dedup",
    "READABILITY" -> "p82_readability",
    "READABILITY_PROFILE" -> "p82b_readability_profile",
    "RETRIEVAL_NDCG" -> "p83_retrieval_ndcg",
    "RETRIEVAL_EVAL" -> "p83b_retrieval_eval",
    "PCA_COMPONENT" -> "p84_pca_power",
    "PCA_SCORECARD" -> "p84b_pca_scorecard",
    "PCA_PROJECT" -> "p84c_pca_project",
    "SOURCE_DIVERGENCE" -> "p85_source_divergence",
    "SOURCE_NEIGHBORS" -> "p85b_source_neighbors",
    "LEXICAL_STATS" -> "p86_lexical_stats",
    "ZIPF_FIT" -> "p86b_zipf_fit",
    "EXCESS_LOSS" -> "p87_excess_loss",
    "PROTO_PRUNE" -> "p88_proto_prune",
    "PCA_SECOND" -> "p84d_pca_second",
    "EMBED_OOD" -> "p89_embed_ood",
    "QUALITY_FUSION" -> "p90_quality_fusion",
    "EDIT_SIMILARITY" -> "p91_edit_similarity",
    "EXACT_QUANTILES" -> "p92_exact_quantiles",
    "CONFORMAL_GATE" -> "p93_conformal_gate",
    "AB_ZTEST" -> "p94_ab_ztest",
    "TFIDF_KEYWORDS" -> "p95_tfidf_keywords",
    "RATER_KAPPA" -> "p96_rater_kappa",
    "UNIFORM_KSAMPLE" -> "p97_uniform_ksample",
    "STRATIFIED_KSAMPLE" -> "p97b_stratified_ksample",
    "WELCH_TTEST" -> "p98_welch_ttest",
    "EVENT_TRANSITIONS" -> "p99_event_transitions",
    "RFM_SEGMENTS" -> "p100_rfm_segments",
    "PMI_COLLOCATIONS" -> "p101_pmi_collocations",
    "WEIGHTED_KSAMPLE" -> "p102_weighted_ksample",
    "DUP_SPAN_COVERAGE" -> "p103_dup_span_coverage",
    "SPRT" -> "p104_sprt",
    "CUSUM" -> "p105_cusum",
    "ROBUST_OUTLIERS" -> "p106_robust_outliers",
    "KAPLAN_MEIER" -> "p107_kaplan_meier",
    "POISSON_BOOTSTRAP" -> "p108_poisson_bootstrap",
    // the streaming monitors' batch-equivalent readbacks: p109/p110 run
    // the EventStreams monitor code over the static events table; the
    // stateful monitors' batch equivalents already have aliases
    // (EVENT_TRANSITIONS = transitionPairsStream's pair multiset, SPRT /
    // CUSUM = the sequential folds' trajectories, spec-proven bit-equal)
    "AB_MONITOR" -> "p109_ab_monitor",
    "WELCH_MONITOR" -> "p110_welch_monitor")

  /** Match only the OPENING of a pipeline table-function call; the
    * argument span is found by a quote-aware paren scan (a ')' inside a
    * string-literal argument must not close the call). */
  private val pipelineFnStartRe = {
    val names =
      (pipelineAliases.keys.toSeq.sorted ++ Seq("PIPELINE", "BM25_SEARCH"))
        .mkString("|")
    s"""(?is)TABLE\\s*\\(\\s*($names)\\s*\\(""".r
  }

  /** The pipeline/selection stack on the SQL wire:
    * `SELECT * FROM TABLE(GOPHER_RULES())` (curated names above) or
    * `TABLE(PIPELINE('p52_gopher_rules'))` (any entry). The batch entry's
    * DataFrame — the SAME code path the driver's correctness gate pins —
    * is registered as a lazily-evaluated temp view and spliced in
    * backticked (invisible to the name rewriter), so outer
    * WHERE/JOIN/aggregation compose into ONE Catalyst plan with the
    * operator (filters push into it; nothing materializes eagerly).
    *
    * The data directory resolves per call: an optional trailing string
    * literal argument wins, else the session parameter GRAFT_PIPELINE_DIR
    * (ALTER SESSION SET), else the JVM default -Dgraft.pipelineDir. */
  private def rewritePipelineTable(ctx: Context, sql: String): String = {
    if (!mentionsOutsideQuotes(sql, pipelineFnStartRe)) return sql
    val spans = Executor.quotedSpans(sql)
    val starts = pipelineFnStartRe.findAllMatchIn(sql)
      .filterNot(m => spans.exists(s => m.start >= s._1 && m.start <= s._2))
      .toList
    val sb = new StringBuilder
    var pos = 0
    starts.foreach { m =>
      if (m.start < pos) () // inside a previously replaced span
      else {
        val fn = m.group(1).toUpperCase(java.util.Locale.ROOT)
        // quote-aware scan for the argument list's closing paren
        var i = m.end; var depth = 1; var inStr = false; var argEnd = -1
        while (i < sql.length && argEnd < 0) {
          val c = sql.charAt(i)
          if (inStr) {
            if (c == '\'') {
              if (i + 1 < sql.length && sql.charAt(i + 1) == '\'') i += 1
              else inStr = false
            }
          } else c match {
            case '\'' => inStr = true
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) argEnd = i
            case _ =>
          }
          i += 1
        }
        if (argEnd < 0) throw SnowflakeError.compilation(
          s"unbalanced parens in TABLE($fn(...))")
        var j = argEnd + 1
        while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
        if (j >= sql.length || sql.charAt(j) != ')')
          throw SnowflakeError.compilation(
            s"expected ')' closing TABLE($fn(...))")
        sb.append(sql.substring(pos, m.start))
          .append(pipelineView(ctx, fn, sql.substring(m.end, argEnd)))
        pos = j + 1
      }
    }
    sb.append(sql.substring(pos))
    sb.toString
  }

  /** Build (or re-register) the temp view for one pipeline call and
    * return its backticked name. */
  private def pipelineView(ctx: Context, fn: String, argsText: String): String = {
      val args = MergeParser.splitTopLevel(argsText).map(_.trim)
        .filter(_.nonEmpty).map { a =>
          if (a.length >= 2 && a.startsWith("'") && a.endsWith("'"))
            a.substring(1, a.length - 1).replace("''", "'")
          else throw SnowflakeError.compilation(
            s"$fn arguments must be string literals, got: $a")
        }
      def resolveDir(dirArg: Option[String]): String = dirArg.orElse {
        val ps = sessionParamsOf(ctx.sessionId)
        ps.synchronized(ps.get("GRAFT_PIPELINE_DIR"))
      }.orElse(knobs.pipelineDir).getOrElse(
        throw SnowflakeError.compilation(
          s"pipeline data directory not set: pass TABLE($fn(...'<dir>')) or " +
            "ALTER SESSION SET GRAFT_PIPELINE_DIR = '<dir>'"))
      val (df, viewKey) =
        if (fn == "BM25_SEARCH") {
          // parameterized retrieval: TABLE(BM25_SEARCH('<query>'[, '<dir>'])).
          // Query grammar: whitespace-separated units; a double-quoted
          // span is a PHRASE (exact consecutive-token match); bare
          // AND / OR (any case) are operators — any AND makes the whole
          // query conjunctive (every unit must occur), else disjunctive
          // (the default). Top-k comes from ALTER SESSION SET
          // GRAFT_BM25_K, clamped [1, 1000], default 50. Every word is
          // whitelist-tokenized (lowercase [a-z0-9_]+) BEFORE it
          // reaches the engine — words splice into expression text, so
          // anything else (including '-', which would read as
          // subtraction or open a '--' comment) is dropped, never
          // quoted through.
          val query = args.headOption.getOrElse(throw SnowflakeError.compilation(
            "BM25_SEARCH requires a query: TABLE(BM25_SEARCH('spark vector'))"))
          def words(x: String): Seq[String] = x
            .toLowerCase(java.util.Locale.ROOT).split("\\s+").toSeq
            .filter(_.matches("[a-z0-9_]+"))
          var requireAll = false
          val unitRe = """"([^"]*)"|(\S+)""".r
          val phrases = unitRe.findAllMatchIn(query).toSeq.flatMap { m =>
            if (m.group(1) != null) {
              val ws = words(m.group(1))
              if (ws.isEmpty) None else Some(ws)
            } else m.group(2).toLowerCase(java.util.Locale.ROOT) match {
              case "and" => requireAll = true; None
              case "or" => None
              case w => words(w).headOption.map(Seq(_))
            }
          }.distinct
          if (phrases.isEmpty) throw SnowflakeError.compilation(
            s"BM25_SEARCH: no searchable terms in '$query'")
          val k = {
            val ps = sessionParamsOf(ctx.sessionId)
            ps.synchronized(ps.get("GRAFT_BM25_K"))
              .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
              .map(v => math.min(1000, math.max(1, v))).getOrElse(50)
          }
          val dir = resolveDir(args.lift(1))
          val key = phrases.map(_.mkString("+")).mkString(" ") +
            s" all=$requireAll k=$k" + "\u0000" + dir
          (graft.queries.Pipeline.bm25Search(spark, dir, phrases, requireAll, k)(knobs),
            "bm25_" + java.lang.Integer.toHexString(key.hashCode))
        } else {
          val (entry, dirArg) =
            if (fn == "PIPELINE") {
              if (args.isEmpty) throw SnowflakeError.compilation(
                "PIPELINE requires an entry name: TABLE(PIPELINE('p52_gopher_rules'))")
              (args.head.toLowerCase(java.util.Locale.ROOT), args.lift(1))
            } else (pipelineAliases(fn), args.headOption)
          val dir = resolveDir(dirArg)
          val fnImpl = pipelineEntries.getOrElse(entry,
            throw SnowflakeError.compilation(
              s"unknown pipeline entry '$entry' (see SparkEntry.queries)"))
          (fnImpl(spark, dir),
            entry + "_" + java.lang.Integer.toHexString(dir.hashCode))
        }
      // deterministic per (entry/query, dir): concurrent sessions
      // re-register the same plan under the same name — idempotent
      val view = "graft_pipe_" + viewKey
      df.createOrReplaceTempView(view)
      s"`$view`"
  }

  /** Snowflake `FROM t, LATERAL FLATTEN(input => expr) f` / `TABLE(
    * FLATTEN(expr)) f` -> Spark `LATERAL VIEW posexplode(expr) f AS index,
    * value`, so `f.value` / `f.index` references keep working. The
    * reference renames FLATTEN to UNNEST and leans on DuckDB
    * (`translator.go:38`); Spark's generator needs the LATERAL VIEW form. */
  /** Words that can legally FOLLOW a generator clause and therefore must
    * not be captured as its alias when no explicit AS is present. */
  private val generatorAliasStopWords = Set(
    "WHERE", "ON", "GROUP", "ORDER", "LIMIT", "HAVING", "QUALIFY",
    "JOIN", "LEFT", "RIGHT", "INNER", "CROSS", "FULL", "LATERAL",
    "UNION", "INTERSECT", "EXCEPT", "AND", "OR", "SELECT", "FROM",
    "WHEN", "SET", "USING", "TABLE", "SAMPLE")

  /** Resolve the optional trailing alias of a rewritten generator: with an
    * explicit AS the captured word always wins; without one a reserved
    * keyword is NOT an alias and is re-emitted after the clause. Returns
    * (alias, trailing-text-to-restore). */
  private def generatorAlias(asKw: String, cand: String): (String, String) = {
    val c = Option(cand)
    val isKw = c.exists(w =>
      generatorAliasStopWords.contains(w.toUpperCase(java.util.Locale.ROOT)))
    if (asKw != null) (c.getOrElse("f"), "")
    else if (isKw) ("f", c.map(w => s" $w ").getOrElse(""))
    else (c.getOrElse("f"), "")
  }

  private[emulator] def rewriteFlatten(sql: String): String = {
    val re = ("""(?is),?\s*(?:LATERAL\s+FLATTEN|TABLE\s*\(\s*FLATTEN)\s*\(?\s*""" +
      """(?:INPUT\s*=>\s*)?([^()]+(?:\([^()]*\))?[^()]*)\)\s*\)?\s*""" +
      """(?:(AS)\s+)?([A-Za-z_]\w*)?""").r
    replaceOutsideQuotes(sql, re)(m => {
      val (alias, trail) = generatorAlias(m.group(2), m.group(3))
      java.util.regex.Matcher.quoteReplacement(
        s" LATERAL VIEW posexplode(${m.group(1).trim}) $alias AS index, value $trail")
    })
  }

  /** Snowflake `TABLE(SPLIT_TO_TABLE(expr, delim)) f` -> `LATERAL VIEW
    * posexplode(split(expr, delim)) f AS index, value`, the FLATTEN
    * pattern specialized to string splitting; `f.value` / `f.index`
    * references keep working (Snowflake's SEQ column is per-input-row
    * metadata the emulator does not track). */
  private[emulator] def rewriteSplitToTable(sql: String): String = {
    val re = ("""(?is),?\s*TABLE\s*\(\s*SPLIT_TO_TABLE\s*\(\s*""" +
      """([^,()]+(?:\([^()]*\))?[^,()]*)\s*,\s*('[^']*'|[^()]+?)\s*\)\s*\)\s*""" +
      """(?:(AS)\s+)?([A-Za-z_]\w*)?""").r
    replaceOutsideQuotes(sql, re)(m => {
      val (alias, trail) = generatorAlias(m.group(3), m.group(4))
      java.util.regex.Matcher.quoteReplacement(
        s" LATERAL VIEW posexplode(split(${m.group(1).trim}, ${m.group(2).trim})) " +
          s"$alias AS index, value $trail")
    })
  }

  /** Run a query and get the DataFrame (internal; used by CTAS, MERGE
    * USING subqueries and tests that want plans, not materialized rows). */
  def queryDf(ctx: Context, sql: String): DataFrame =
    spark.sql(TableNaming.rewrite(rewriteStreams(ctx, rewriteGenerator(sql)),
      ctx.database, ctx.schema))

  private def show(ctx: Context, sql0: String, queryId: String): Result = {
    // LIKE '<pattern>' filters on the object-name column (Snowflake
    // wildcards: % any run, _ one char, case-insensitive); TERSE is
    // accepted and ignored (we already return the short shape). dbt
    // issues `SHOW TERSE OBJECTS ... LIKE ...` unconditionally.
    val likeRe = """(?is)\s+LIKE\s+'([^']*)'""".r
    val likePat = likeRe.findFirstMatchIn(sql0).map(_.group(1))
    val sql = likeRe.replaceAllIn(
      """(?is)\bTERSE\s+""".r.replaceAllIn(sql0, ""), "")
    val nameMatches: String => Boolean = likePat match {
      case None => _ => true
      case Some(p) =>
        val rx = java.util.regex.Pattern.compile(
          p.flatMap {
            case '%' => ".*"
            case '_' => "."
            case c => java.util.regex.Pattern.quote(c.toString)
          }.mkString, java.util.regex.Pattern.CASE_INSENSITIVE)
        n => rx.matcher(n).matches()
    }
    val u = sql.trim.toUpperCase(java.util.Locale.ROOT).stripSuffix(";")
    // Snowflake SHOW column shapes, minimally: name-first like the real
    // SHOW output; the reference passes SHOW to DuckDB, we synthesize from
    // our catalog (richer than the reference, same spirit).
    def result(cols: Seq[String], rows: Seq[Seq[Any]]) = {
      // the LIKE filter applies to the object-name column of whichever
      // SHOW shape this is ("name", or "column_name" for SHOW COLUMNS)
      val nameIdx = math.max(0,
        cols.indexOf("name") max cols.indexOf("column_name"))
      localResult(queryId, cols,
        rows.filter(r => nameMatches(String.valueOf(r(nameIdx)))))
    }
    if (u.startsWith("SHOW DATABASES"))
      result(Seq("name", "created_on"),
        catalog.listDatabases().map(d => Seq[Any](d.name, d.createdOn)))
    else if (u.startsWith("SHOW SCHEMAS"))
      result(Seq("name", "database_name"),
        catalog.listSchemas(ctx.database).map(s => Seq[Any](s.name, s.database)))
    else if (u.startsWith("SHOW WAREHOUSES"))
      result(Seq("name", "state", "type", "size"),
        warehouses.list().map(w => Seq[Any](w.name, w.state, "STANDARD", w.size)))
    else if (u.startsWith("SHOW TABLES"))
      result(Seq("name", "database_name", "schema_name", "kind", "comment"),
        catalog.listTables(ctx.database).map(t =>
          Seq[Any](t.table, t.database, t.schema, t.tableType, t.comment)))
    else if (u.startsWith("SHOW OBJECTS"))
      // tables + views in one listing — the dbt catalog crawl shape
      result(Seq("name", "database_name", "schema_name", "kind"),
        catalog.listTables(ctx.database).map(t =>
          Seq[Any](t.table, t.database, t.schema, t.tableType)))
    else if (u.startsWith("SHOW VIEWS"))
      result(Seq("name", "database_name", "schema_name", "comment"),
        catalog.listTables(ctx.database).filter(_.tableType == "VIEW").map(t =>
          Seq[Any](t.table, t.database, t.schema, t.comment)))
    else if (u.startsWith("SHOW STAGES"))
      result(Seq("name", "database_name", "schema_name", "type"),
        stages.listStages().map(n =>
          Seq[Any](n, ctx.database, ctx.schema, "INTERNAL")))
    else if (u.startsWith("SHOW PIPELINE FUNCTIONS"))
      // discoverability for the beyond-parity table functions: every
      // curated alias plus its entry name (all entries are reachable via
      // TABLE(PIPELINE('<entry>')))
      result(Seq("name", "entry", "usage"),
        pipelineAliases.toSeq.sortBy(_._1).map { case (alias, entry) =>
          Seq[Any](alias, entry, s"SELECT * FROM TABLE($alias(['<dir>']))")
        })
    else if (u.startsWith("SHOW STREAMS"))
      result(Seq("name", "database_name", "schema_name", "table_name", "stale"),
        streams.asScala.toSeq.sortBy(_._1).collect {
          case (key, sm) if key.startsWith(s"${norm(ctx.database)}.") =>
            Seq[Any](sm.name, sm.table.database, sm.table.schema,
              sm.table.table, String.valueOf(sm.stale))
        })
    else if (u.startsWith("SHOW PARAMETERS")) {
      val ps = sessionParamsOf(ctx.sessionId)
      val merged = SessionManager.defaultParameters ++
        ps.synchronized(ps.toMap)
      result(Seq("key", "value", "default", "level"),
        merged.toSeq.sortBy(_._1).map { case (k, v) =>
          val dflt = SessionManager.defaultParameters.getOrElse(k, "")
          Seq[Any](k, v, dflt, if (v == dflt) "" else "SESSION")
        })
    } else if (u.startsWith("SHOW VARIABLES")) {
      val vars = varsOf(ctx.sessionId)
      result(Seq("name", "value", "type"),
        vars.synchronized(vars.toSeq).map { case (n, v) =>
          Seq[Any](n, v.display, v.tpe) }.sortBy(_.head.toString))
    } else if (u.startsWith("SHOW FILE FORMATS"))
      result(Seq("name", "database_name", "schema_name", "type"),
        catalog.listFileFormats(ctx.database).map(f =>
          Seq[Any](f.name, f.database, f.schema, f.formatType)))
    else if (u.startsWith("SHOW COLUMNS")) {
      val tbl = """(?is)SHOW\s+COLUMNS\s+IN\s+(?:TABLE\s+)?(\S+)""".r
        .findFirstMatchIn(sql.trim).map(_.group(1))
        .getOrElse(throw SnowflakeError.compilation(s"invalid SHOW COLUMNS: $sql"))
      val ref = TableNaming.parse(tbl, ctx.database, ctx.schema)
      val meta = catalog.getTable(ref).getOrElse(
        throw SnowflakeError.notFound(s"table $tbl does not exist"))
      result(Seq("table_name", "schema_name", "column_name", "data_type", "null?"),
        meta.columns.map(c => Seq[Any](
          meta.table, meta.schema, c.name, c.snowflakeType,
          if (c.nullable) "true" else "false")))
    } else
      throw SnowflakeError.compilation(s"unsupported SHOW statement: $sql")
  }

  private def describe(ctx: Context, sql: String, queryId: String): Result = {
    // DESC RESULT '<query id>' / DESC RESULT LAST_QUERY_ID(): the schema
    // of a prior statement's retained result (the RESULT_SCAN store)
    val dr = """(?is)DESC(?:RIBE)?\s+RESULT\s+(?:'([^']+)'|LAST_QUERY_ID\s*\(\s*\))""".r
      .findFirstMatchIn(sql.trim)
    dr.foreach { dm =>
      val qid = Option(dm.group(1))
        .orElse(Option(lastQueryIds.get(ctx.sessionId)))
        .getOrElse(throw SnowflakeError.notFound(
          "no last query id in this session"))
      val schema = retainedResults.synchronized(
        Option(retainedResults.get(qid))).map(_._1)
        .getOrElse(throw SnowflakeError.notFound(
          s"result for query id $qid is not available"))
      return localResult(queryId,
        Seq("name", "type", "kind", "null?", "default", "primary key"),
        schema.fields.toSeq.map(f => Seq[Any](
          f.name, TypeMapper.toSnowflakeTypeName(f.dataType), "COLUMN",
          if (f.nullable) "Y" else "N", null, "N")))
    }
    val m = """(?is)DESC(?:RIBE)?\s+(?:TABLE\s+|VIEW\s+)?(\S+)""".r
      .findFirstMatchIn(sql.trim)
      .getOrElse(throw SnowflakeError.compilation(s"invalid DESCRIBE: $sql"))
    val ref = TableNaming.parse(m.group(1), ctx.database, ctx.schema)
    val meta = catalog.getTable(ref).getOrElse(
      throw SnowflakeError.notFound(s"table ${m.group(1)} does not exist"))
    localResult(queryId,
      Seq("name", "type", "kind", "null?", "default", "primary key"),
      meta.columns.map(c => Seq[Any](
        c.name, c.snowflakeType, "COLUMN",
        if (c.nullable) "Y" else "N", c.default.orNull,
        if (c.primaryKey) "Y" else "N")))
  }

  // ------------------------------------------------------------------
  // session variables (SET x = expr; $x references; UNSET; SHOW VARIABLES)
  // ------------------------------------------------------------------

  private val setMultiRe =
    """(?is)^\s*SET\s*\(\s*([^)]+?)\s*\)\s*=\s*\((.*)\)\s*;?\s*$""".r
  private val setSingleRe =
    """(?is)^\s*SET\s+([A-Za-z_][A-Za-z0-9_$]*)\s*=\s*(.+?);?\s*$""".r
  private val unsetMultiRe =
    """(?is)^\s*UNSET\s*\(\s*([^)]+?)\s*\)\s*;?\s*$""".r
  private val unsetSingleRe =
    """(?is)^\s*UNSET\s+([A-Za-z_][A-Za-z0-9_$]*)\s*;?\s*$""".r

  /** `SET v = expr` / `SET (a, b) = (e1, e2)`: the right side is an
    * arbitrary scalar expression — including subqueries — evaluated
    * through the same rewrite chain as a SELECT ($refs to OTHER
    * variables were already substituted at the execute() edge). The
    * typed result is stored per session and spliced back as a literal
    * of the same Snowflake type wherever `$v` appears. */
  private def setVariable(ctx: Context, sql: String, queryId: String): Result = {
    val (names, exprs) = sql match {
      case setMultiRe(ns, es) =>
        (ns.split(",").map(_.trim).toSeq,
          MergeParser.splitTopLevel(es).map(_.trim))
      case setSingleRe(n, e) => (Seq(n.trim), Seq(e.trim))
      case _ => throw SnowflakeError.compilation(s"invalid SET statement: $sql")
    }
    if (names.length != exprs.length)
      throw SnowflakeError.compilation(
        s"SET: ${names.length} variables but ${exprs.length} expressions")
    names.find(!_.matches("[A-Za-z_][A-Za-z0-9_$]*")).foreach(n =>
      throw SnowflakeError.compilation(s"invalid session variable name: $n"))
    val sel = exprs.zipWithIndex
      .map { case (e, i) => s"($e) AS __graft_v$i" }
      .mkString("SELECT ", ", ", "")
    val df = fullQueryDf(ctx, sel)
    val row = df.collect().headOption.getOrElse(
      throw SnowflakeError.compilation("SET expression produced no row"))
    val vars = varsOf(ctx.sessionId)
    vars.synchronized {
      names.indices.foreach { i =>
        vars.update(names(i).toUpperCase(java.util.Locale.ROOT),
          toSessionVar(row.get(i), df.schema.fields(i).dataType))
      }
    }
    status(queryId, "Statement executed successfully.")
  }

  private def toSessionVar(v: Any,
      dt: org.apache.spark.sql.types.DataType): SessionVar = {
    import org.apache.spark.sql.types._
    val tpe = TypeMapper.toSnowflakeTypeName(dt)
    if (v == null) return SessionVar("NULL", "NULL", tpe)
    val s = String.valueOf(v)
    // Spark SQL's default string parsing is backslash-escaped, so a
    // spliced literal must escape `\` as well as `'` — a value ending in
    // `\` would otherwise yield '...\' whose closing quote is consumed.
    def qlit(x: String): String =
      "'" + x.replace("\\", "\\\\").replace("'", "''") + "'"
    dt match {
      case StringType => SessionVar(qlit(s), s, tpe)
      case DateType => SessionVar(s"'$s'::DATE", s, tpe)
      case TimestampType => SessionVar(s"'$s'::TIMESTAMP", s, tpe)
      case TimestampNTZType => SessionVar(s"'$s'::TIMESTAMP_NTZ", s, tpe)
      case BooleanType | _: NumericType => SessionVar(s, s, tpe)
      // arrays/structs/variants splice as their JSON-ish repr in quotes
      case _ => SessionVar(qlit(s), s, tpe)
    }
  }

  private def unsetVariable(ctx: Context, sql: String, queryId: String): Result = {
    val names = sql match {
      case unsetMultiRe(ns) => ns.split(",").map(_.trim).toSeq
      case unsetSingleRe(n) => Seq(n.trim)
      case _ => throw SnowflakeError.compilation(s"invalid UNSET statement: $sql")
    }
    val vars = varsOf(ctx.sessionId)
    vars.synchronized {
      names.foreach(n => vars.remove(n.toUpperCase(java.util.Locale.ROOT)))
    }
    status(queryId, "Statement executed successfully.")
  }

  /** `IDENTIFIER('name')` → the bare identifier — Snowflake's indirection
    * for using a (usually variable-supplied) string as an object name,
    * the dbt pattern `IDENTIFIER($table)`. Runs AFTER variable
    * substitution, so the argument is a string literal by then; the name
    * is validated against the same shape TableNaming accepts, which is
    * what keeps this from being a string-splice injection hole. */
  private[emulator] def rewriteIdentifierFn(sql: String): String = {
    if (!sql.toUpperCase(java.util.Locale.ROOT).contains("IDENTIFIER")) return sql
    replaceOutsideQuotes(sql,
      """(?is)\bIDENTIFIER\s*\(\s*'([^']*)'\s*\)""".r)(m => {
      val name = m.group(1)
      if (!name.matches("""[A-Za-z_$][A-Za-z0-9_$]*(\.[A-Za-z_$][A-Za-z0-9_$]*){0,2}"""))
        throw SnowflakeError.compilation(
          s"invalid identifier in IDENTIFIER(): '$name'")
      java.util.regex.Matcher.quoteReplacement(name)
    })
  }

  /** Splice `$name` references (quote-aware AND comment-aware, outside
    * string literals and comments only) with the session's stored
    * literals. `$` inside an identifier (Snowflake allows ABC$DEF), `$1`
    * stage-file column refs and `$$` are left untouched. A `$word` inside
    * a `--` line comment or `/*...*/` block comment is comment text, not a
    * reference — real Snowflake strips comments before variable
    * resolution, and dbt/tool-injected comment headers routinely contain
    * `$`-words that must not error. An undefined `$name` OUTSIDE comments
    * is the Snowflake compilation error, not a pass-through. */
  private[emulator] def substituteVariables(ctx: Context, sql: String): String = {
    if (!sql.contains("$")) return sql
    val vars = varsOf(ctx.sessionId)
    def identTail(c: Char) = c.isLetterOrDigit || c == '_' || c == '$'
    val out = new StringBuilder(sql.length + 16)
    var i = 0; var inQ = false; var inDq = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inQ) { out.append(c); if (c == '\'') inQ = false; i += 1 }
      else if (inDq) { out.append(c); if (c == '"') inDq = false; i += 1 }
      else if (c == '-' && i + 1 < sql.length && sql.charAt(i + 1) == '-') {
        // -- to end of line: copy verbatim, no substitution inside
        val eol = sql.indexOf('\n', i)
        val end = if (eol < 0) sql.length else eol + 1
        out.append(sql.substring(i, end)); i = end
      }
      else if (c == '/' && i + 1 < sql.length && sql.charAt(i + 1) == '*') {
        // /* ... */ block comment (unterminated -> rest of text)
        val close = sql.indexOf("*/", i + 2)
        val end = if (close < 0) sql.length else close + 2
        out.append(sql.substring(i, end)); i = end
      }
      else c match {
        case '\'' => inQ = true; out.append(c); i += 1
        case '"' => inDq = true; out.append(c); i += 1
        case '$' if i + 1 < sql.length &&
            (sql.charAt(i + 1).isLetter || sql.charAt(i + 1) == '_') &&
            (out.isEmpty || !identTail(out.charAt(out.length - 1))) =>
          var k = i + 1
          while (k < sql.length &&
            (sql.charAt(k).isLetterOrDigit || sql.charAt(k) == '_')) k += 1
          val name = sql.substring(i + 1, k).toUpperCase(java.util.Locale.ROOT)
          val sv = vars.synchronized(vars.get(name)).getOrElse(
            throw SnowflakeError.compilation(
              s"Session variable '$$$name' does not exist"))
          out.append(sv.lit); i = k
        case _ => out.append(c); i += 1
      }
    }
    out.toString
  }

  // ------------------------------------------------------------------
  // DDL
  // ------------------------------------------------------------------

  private val createDbRe =
    """(?is)CREATE\s+(?:OR\s+REPLACE\s+)?DATABASE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\S+?);?\s*$""".r
  private val createSchemaRe =
    """(?is)CREATE\s+(?:OR\s+REPLACE\s+)?SCHEMA\s+(?:IF\s+NOT\s+EXISTS\s+)?(\S+?);?\s*$""".r
  private val createTableRe =
    """(?is)CREATE\s+(OR\s+REPLACE\s+)?(?:TRANSIENT\s+|TEMPORARY\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([^\s(]+)\s*\((.*)\)\s*;?\s*$""".r
  private val createLikeRe =
    """(?is)CREATE\s+(?:OR\s+REPLACE\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([^\s(]+)\s+LIKE\s+(\S+?);?\s*$""".r
  private val createCloneRe =
    """(?is)CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([^\s(]+)\s+CLONE\s+(\S+?);?\s*$""".r
  private val ctasRe =
    """(?is)CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([^\s(]+)\s+AS\s+(SELECT.*)$""".r
  private val createViewRe =
    """(?is)CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?([^\s(]+)\s+AS\s+(SELECT.*)$""".r
  private val createWarehouseRe =
    """(?is)CREATE\s+(?:OR\s+REPLACE\s+)?WAREHOUSE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\S+)(.*)$""".r
  private val createStageRe =
    """(?is)CREATE\s+(?:OR\s+REPLACE\s+)?STAGE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\S+?);?\s*$""".r
  private val createStreamRe =
    """(?is)CREATE\s+(?:OR\s+REPLACE\s+)?STREAM\s+(?:IF\s+NOT\s+EXISTS\s+)?(\S+)\s+ON\s+TABLE\s+([^\s;]+)(\s+APPEND_ONLY\s*=\s*(?:TRUE|FALSE))?\s*;?\s*$""".r
  private val createFileFormatRe =
    """(?is)CREATE\s+(?:OR\s+REPLACE\s+)?FILE\s+FORMAT\s+(?:IF\s+NOT\s+EXISTS\s+)?(\S+)\s+(.*?);?\s*$""".r

  private def status(queryId: String, msg: String): Result =
    localResult(queryId, Seq("status"), Seq(Seq[Any](msg)),
      Classifier.StatementTypeDdl)

  private val clusterByRe = """(?is)\s*CLUSTER\s+BY\s*\(\s*([^)]+?)\s*\)\s*;?\s*$""".r

  private def ddlCreate(ctx: Context, sql0: String, queryId: String): Result = {
    // strip a trailing CLUSTER BY first: the column-def regex is greedy and
    // would otherwise swallow it into the defs
    val clusterKey = clusterByRe.findFirstMatchIn(sql0).map(_.group(1).trim
      .toUpperCase(java.util.Locale.ROOT))
    val sql = clusterByRe.replaceFirstIn(sql0, "")
    sql.trim match {
      case createDbRe(name) =>
        catalog.createDatabase(name, ifNotExists = true)
        status(queryId, s"Database ${name.toUpperCase} successfully created.")
      case createSchemaRe(name) =>
        val parts = name.split('.')
        val (db, sc) = if (parts.length == 2) (parts(0), parts(1))
          else (ctx.database, name)
        catalog.createSchema(db, sc, ifNotExists = true)
        status(queryId, s"Schema ${sc.toUpperCase} successfully created.")
      case createViewRe(name, select) =>
        val ref = TableNaming.parse(name, ctx.database, ctx.schema)
        catalog.createDatabase(ref.database)
        catalog.createSchema(ref.database, ref.schema, ifNotExists = true)
        val rewritten = TableNaming.rewrite(
          rewriteFlatten(rewriteSplitToTable(select)), ctx.database, ctx.schema)
        spark.sql(s"CREATE OR REPLACE VIEW ${catalog.sparkTableName(ref)} AS $rewritten")
        catalog.registerView(ref)
        status(queryId, s"View ${ref.table} successfully created.")
      case createWarehouseRe(name, rest) =>
        val size = """(?is)WAREHOUSE_SIZE\s*=\s*'?([\w-]+)'?""".r
          .findFirstMatchIn(rest).map(_.group(1)).getOrElse("X-SMALL")
        warehouses.create(name, size, ifNotExists = true)
        status(queryId, s"Warehouse ${name.toUpperCase} successfully created.")
      case createStageRe(name) =>
        stages.stageDir(name.toUpperCase(java.util.Locale.ROOT))
        status(queryId, s"Stage area ${name.toUpperCase} successfully created.")
      case createStreamRe(name, tableName, appendOpt) =>
        // stream baseline = the source's content at creation time
        val ref = TableNaming.parse(name, ctx.database, ctx.schema)
        val srcRef = TableNaming.parse(tableName, ctx.database, ctx.schema)
        if (!catalog.tableExists(srcRef))
          throw SnowflakeError.notFound(s"table $tableName does not exist")
        val appendOnly = appendOpt != null &&
          appendOpt.toUpperCase(java.util.Locale.ROOT).contains("TRUE")
        val baseline = catalog.snapshotTable(srcRef, snapshotRoot,
          knobs.streamSnapshotMaxBytes).getOrElse(
          throw SnowflakeError.compilation(
            s"Cannot create stream on $tableName: source exceeds the " +
              s"${knobs.streamSnapshotMaxBytes}-byte baseline snapshot cap " +
              "(-Dgraft.streamSnapshotMaxBytes to raise)"))
        val old = streams.put(s"${ref.database}.${ref.schema}.${ref.table}",
          StreamMeta(ref.table, srcRef, baseline, appendOnly))
        if (old != null) old.baseline.delete()
        status(queryId, s"Stream ${ref.table} successfully created.")
      case createFileFormatRe(name, optionsText) =>
        val tpe = """(?is)TYPE\s*=\s*'?(\w+)'?""".r
          .findFirstMatchIn(optionsText).map(_.group(1)).getOrElse("CSV")
        catalog.createFileFormat(ctx.database, ctx.schema, name, tpe, optionsText)
        status(queryId, s"File format ${name.toUpperCase} successfully created.")
      // CREATE TABLE ... CLONE: schema + cluster key + DATA snapshot.
      // Zero-copy like Snowflake's: the clone's files are hard links to
      // the source's (Catalog.cloneTable). Both tables stay independent,
      // since a later write to either replaces files, never edits them.
      case createCloneRe(orReplace, name, srcName) =>
        val ref = TableNaming.parse(name, ctx.database, ctx.schema)
        val srcRef = TableNaming.parse(srcName, ctx.database, ctx.schema)
        if (!catalog.tableExists(srcRef))
          throw SnowflakeError.notFound(s"table $srcName does not exist")
        if (catalog.tableExists(ref) && orReplace == null)
          throw SnowflakeError.alreadyExists(s"table ${ref.table} already exists")
        beforeWrite(ctx, ref, created = !catalog.tableExists(ref))
        if (catalog.tableExists(ref)) invalidateTableIdentity(ref)
        catalog.cloneTable(srcRef, ref)
        recordVersion(ref, queryId)
        status(queryId, s"Table ${ref.table} successfully created.")
      case createLikeRe(name, srcName) =>
        // CREATE TABLE ... LIKE: clone columns + cluster key, no data
        // (reference delegates to DuckDB's LIKE support via pass-through)
        val ref = TableNaming.parse(name, ctx.database, ctx.schema)
        val srcRef = TableNaming.parse(srcName, ctx.database, ctx.schema)
        val src = catalog.getTable(srcRef).getOrElse(
          throw SnowflakeError.notFound(s"table $srcName does not exist"))
        beforeWrite(ctx, ref, created = !catalog.tableExists(ref))
        catalog.createTable(ref, src.columns, orReplace = true,
          clusterKey = src.clusterKey)
        status(queryId, s"Table ${ref.table} successfully created.")
      case ctasRe(orReplace, ifNotExists, name, select) =>
        val ref = TableNaming.parse(name, ctx.database, ctx.schema)
        if (catalog.tableExists(ref) && ifNotExists != null)
          return status(queryId, s"${ref.table} already exists, statement skipped.")
        if (catalog.tableExists(ref) && orReplace == null)
          throw SnowflakeError.alreadyExists(s"table ${ref.table} already exists")
        beforeWrite(ctx, ref, created = !catalog.tableExists(ref))
        if (catalog.tableExists(ref)) invalidateTableIdentity(ref)
        val df = queryDf(ctx, select)
        catalog.createDatabase(ref.database)
        catalog.createSchema(ref.database, ref.schema, ifNotExists = true)
        catalog.overwriteTable(ref)(df)
        catalog.registerExisting(ref)
        recordVersion(ref, queryId)
        // after the write materialized: a stream read by the CTAS is
        // consumed (advancing earlier would delete the baseline the
        // not-yet-executed plan still reads)
        advanceConsumedStreams(ctx, select)
        status(queryId, s"Table ${ref.table} successfully created.")
      case createTableRe(orReplace, ifNotExists, name, colDefs) =>
        val ref = TableNaming.parse(name, ctx.database, ctx.schema)
        if (catalog.tableExists(ref) && ifNotExists != null)
          return status(queryId, s"${ref.table} already exists, statement skipped.")
        beforeWrite(ctx, ref, created = !catalog.tableExists(ref))
        if (catalog.tableExists(ref) && orReplace != null)
          invalidateTableIdentity(ref)
        catalog.createTable(ref, parseColumnDefs(colDefs),
          orReplace = orReplace != null, ifNotExists = ifNotExists != null,
          clusterKey = clusterKey)
        recordVersion(ref, queryId)
        status(queryId, s"Table ${ref.table} successfully created.")
      case other =>
        throw SnowflakeError.compilation(s"unsupported CREATE statement: $other")
    }
  }

  /** Parse `(name TYPE [NOT NULL] [DEFAULT x] [PRIMARY KEY], ...)` bodies.
    * The reference leaves raw-SQL CREATE TABLE unparsed (TODO at
    * `executor.go:370-372`); we parse so the catalog has real column defs. */
  private[emulator] def parseColumnDefs(body: String): Seq[Catalog.ColumnDef] =
    MergeParser.splitTopLevel(body).flatMap { colDef =>
      val d = colDef.trim
      val upper = d.toUpperCase(java.util.Locale.ROOT)
      if (upper.startsWith("PRIMARY KEY") || upper.startsWith("FOREIGN KEY") ||
        upper.startsWith("CONSTRAINT") || upper.startsWith("UNIQUE")) None
      else {
        val m = """^("[^"]+"|\S+)\s+(\w+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)(.*)$""".r
          .findFirstMatchIn(d)
          .getOrElse(throw SnowflakeError.compilation(s"invalid column def: $d"))
        val rest = m.group(3).toUpperCase(java.util.Locale.ROOT)
        val default = """(?is)DEFAULT\s+(\S+)""".r
          .findFirstMatchIn(m.group(3)).map(_.group(1))
        Some(Catalog.ColumnDef(
          m.group(1).stripPrefix("\"").stripSuffix("\"")
            .toUpperCase(java.util.Locale.ROOT),
          m.group(2).toUpperCase(java.util.Locale.ROOT).replaceAll("\\s", ""),
          nullable = !rest.contains("NOT NULL"),
          default = default,
          primaryKey = rest.contains("PRIMARY KEY")))
      }
    }

  private val commentRe =
    """(?is)COMMENT\s+(?:IF\s+EXISTS\s+)?ON\s+(TABLE|VIEW|COLUMN)\s+(\S+)\s+IS\s+'((?:[^']|'')*)'\s*;?\s*$""".r

  /** COMMENT ON TABLE/VIEW stores the comment in catalog metadata (shown
    * by SHOW TABLES); COLUMN comments are acknowledged (column-level
    * comment storage is not modeled, like the reference). */
  private def commentOn(ctx: Context, sql: String, queryId: String): Result =
    sql.trim match {
      case commentRe(kind, name, text) =>
        if (!kind.equalsIgnoreCase("COLUMN")) {
          val ref = TableNaming.parse(name, ctx.database, ctx.schema)
          if (!catalog.tableExists(ref))
            throw SnowflakeError.notFound(s"table $name does not exist")
          catalog.setTableComment(ref, text.replace("''", "'"))
        }
        status(queryId, "Statement executed successfully.")
      case _ =>
        throw SnowflakeError.compilation(s"unsupported COMMENT statement: $sql")
    }

  private val undropRe = """(?is)UNDROP\s+TABLE\s+(\S+?);?\s*$""".r

  /** Snowflake UNDROP TABLE: restore the most recent drop of that name
    * from the retention snapshot (content AND metadata, cluster key
    * included, so the restoring write re-buckets identically). */
  private def undrop(ctx: Context, sql: String, queryId: String): Result =
    sql.trim match {
      case undropRe(name) =>
        val ref = TableNaming.parse(name, ctx.database, ctx.schema)
        val key = s"${ref.database}.${ref.schema}.${ref.table}"
        val entry = droppedTables.synchronized(Option(droppedTables.remove(key)))
        val (meta, snap) = entry.getOrElse(throw SnowflakeError.notFound(
          s"table $name does not exist or was not recently dropped"))
        if (catalog.tableExists(ref)) {
          droppedTables.synchronized(droppedTables.put(key, (meta, snap)))
          throw SnowflakeError.alreadyExists(s"table ${ref.table} already exists")
        }
        catalog.restoreMeta(meta)
        catalog.overwriteTable(ref)(snap.read(spark))
        snap.delete()
        status(queryId, s"Table ${ref.table} successfully restored.")
      case _ =>
        throw SnowflakeError.compilation(s"unsupported UNDROP statement: $sql")
    }

  private def ddlDrop(ctx: Context, sql: String, queryId: String): Result = {
    val m = """(?is)DROP\s+(DATABASE|SCHEMA|TABLE|VIEW|WAREHOUSE|STAGE|STREAM|FILE\s+FORMAT)\s+(IF\s+EXISTS\s+)?(\S+?);?\s*$""".r
      .findFirstMatchIn(sql.trim)
      .getOrElse(throw SnowflakeError.compilation(s"unsupported DROP statement: $sql"))
    val ifExists = m.group(2) != null
    val name = m.group(3)
    m.group(1).toUpperCase(java.util.Locale.ROOT).replaceAll("\\s+", " ") match {
      case "DATABASE" => catalog.dropDatabase(name, ifExists)
      case "VIEW" =>
        catalog.dropView(TableNaming.parse(name, ctx.database, ctx.schema), ifExists)
      case "SCHEMA" =>
        val parts = name.split('.')
        if (parts.length == 2) catalog.dropSchema(parts(0), parts(1), ifExists)
        else catalog.dropSchema(ctx.database, name, ifExists)
      case "TABLE" =>
        val ref = TableNaming.parse(name, ctx.database, ctx.schema)
        if (catalog.tableExists(ref)) {
          beforeWrite(ctx, ref, created = false)
          // drop retention for UNDROP: snapshot content + metadata before
          // the physical drop (Snowflake Time Travel's drop window; the
          // emulator keeps the last few drops instead of a 24 h clock)
          // same cap as time travel: an over-sized table is dropped
          // without an UNDROP snapshot (UNDROP then reports not-found)
          // rather than keeping its files on disk
          val meta = catalog.getTable(ref).get
          catalog.snapshotTable(ref, snapshotRoot, knobs.timeTravelMaxBytes).foreach { snap =>
            droppedTables.synchronized {
              droppedTables.put(s"${ref.database}.${ref.schema}.${ref.table}",
                (meta, snap))
            }
          }
          invalidateTableIdentity(ref)
        }
        catalog.dropTable(ref, ifExists)
      case "WAREHOUSE" => warehouses.drop(name, ifExists)
      case "STREAM" =>
        val ref = TableNaming.parse(name, ctx.database, ctx.schema)
        val removed = streams.remove(s"${ref.database}.${ref.schema}.${ref.table}")
        if (removed == null && !ifExists)
          throw SnowflakeError.notFound(s"stream $name does not exist")
        if (removed != null) removed.baseline.delete()
      case "STAGE" => stages.dropStage(name.toUpperCase(java.util.Locale.ROOT))
      case "FILE FORMAT" =>
        catalog.dropFileFormat(ctx.database, ctx.schema, name, ifExists)
    }
    status(queryId, s"${name.toUpperCase} successfully dropped.")
  }

  private val alterDropColRe =
    """(?is)ALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?(\S+)\s+DROP\s+(?:COLUMN\s+)?(?:IF\s+EXISTS\s+)?([\w"]+(?:\s*,\s*[\w"]+)*)\s*;?\s*$""".r
  private val alterRenameColRe =
    """(?is)ALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?(\S+)\s+RENAME\s+COLUMN\s+("?\w+"?)\s+TO\s+("?\w+"?)\s*;?\s*$""".r
  private val alterRenameTableRe =
    """(?is)ALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?(\S+)\s+RENAME\s+TO\s+(\S+?)\s*;?\s*$""".r

  private def ddlAlter(ctx: Context, sql: String, queryId: String): Result = {
    val whAlter =
      """(?is)ALTER\s+WAREHOUSE\s+(\S+)\s+(SUSPEND|RESUME|SET\s+WAREHOUSE_SIZE\s*=\s*'?([\w-]+)'?).*""".r
    // ALTER SESSION SET k = v: accepted and acknowledged (the reference
    // stores session parameters only at login, constants.go:28-56; clients
    // routinely issue this, so it must not error)
    if (sql.trim.toUpperCase(java.util.Locale.ROOT).startsWith("ALTER SESSION")) {
      // ALTER SESSION SET k = v [, k2 = v2 ...] / UNSET k [, k2 ...]:
      // stored per session (the reference only acks); SHOW PARAMETERS
      // reads the merged view over the login defaults. Values are kept
      // verbatim — parameters are metadata to this engine, but tools
      // (dbt sets QUERY_TAG/TIMEZONE unconditionally) expect readback.
      val ps = sessionParamsOf(ctx.sessionId)
      val setRe = """(?is)^ALTER\s+SESSION\s+SET\s+(.+?);?\s*$""".r
      val unsetRe = """(?is)^ALTER\s+SESSION\s+UNSET\s+(.+?);?\s*$""".r
      sql.trim match {
        case setRe(body) =>
          MergeParser.splitTopLevel(body).foreach { kv =>
            val eq = kv.indexOf('=')
            if (eq < 0) throw SnowflakeError.compilation(
              s"invalid ALTER SESSION SET clause: $kv")
            val k = kv.take(eq).trim.toUpperCase(java.util.Locale.ROOT)
            val raw = kv.drop(eq + 1).trim
            // quoted values unescape SQL's doubled quote (SET QUERY_TAG =
            // 'it''s' stores it's); a trailing comment after the literal
            // (or after an unquoted value) is ignored — tools append
            // `-- reason` annotations and Snowflake strips them
            val v =
              if (raw.startsWith("'")) {
                // locate the literal's closing quote, honoring '' doubling
                var i = 1; var end = -1
                while (i < raw.length && end < 0) {
                  if (raw.charAt(i) == '\'') {
                    if (i + 1 < raw.length && raw.charAt(i + 1) == '\'') i += 2
                    else end = i
                  } else i += 1
                }
                if (end >= 0 && Executor.commentOnly(raw.substring(end + 1)))
                  raw.substring(1, end).replace("''", "'")
                else raw // unterminated / trailed by non-comment: verbatim
              } else {
                val cut = raw.indexOf("--")
                val cutB = raw.indexOf("/*")
                val c = Seq(cut, cutB).filter(_ >= 0).sorted.headOption
                c.filter(p => Executor.commentOnly(raw.substring(p)))
                  .map(p => raw.take(p).trim).getOrElse(raw)
              }
            ps.synchronized { ps.update(k, v) }
          }
        case unsetRe(body) =>
          MergeParser.splitTopLevel(body).foreach(k =>
            ps.synchronized { ps.remove(k.trim.toUpperCase(java.util.Locale.ROOT)); () })
        case _ => () // other ALTER SESSION forms: acknowledged
      }
      return status(queryId, "Statement executed successfully.")
    }
    sql.trim match {
      case whAlter(name, action, size) =>
        val u = action.toUpperCase(java.util.Locale.ROOT)
        if (u == "SUSPEND") warehouses.suspend(name)
        else if (u == "RESUME") warehouses.resume(name)
        else warehouses.resize(name, size)
        status(queryId, "Statement executed successfully.")
      // DROP/RENAME COLUMN: Spark's v1 parquet tables reject both, while
      // the reference gets real drops from DuckDB pass-through
      // (`pkg/query/executor.go:358-377`). Same copy-on-write shape as
      // UPDATE/DELETE: one scan + one write of the projected table, no
      // shuffle — embarrassingly parallel at any scale.
      case alterDropColRe(name, colsRaw)
          if !colsRaw.trim.toUpperCase(java.util.Locale.ROOT).startsWith("CLUSTERING") =>
        val ref = TableNaming.parse(name, ctx.database, ctx.schema)
        val drops = colsRaw.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty).toSeq
        val df = catalog.tableDf(ref)
        drops.find(d => !df.columns.exists(_.equalsIgnoreCase(d))).foreach { missing =>
          throw SnowflakeError.compilation(s"invalid identifier '$missing'")
        }
        val remaining = df.columns.filterNot(c => drops.exists(_.equalsIgnoreCase(c)))
        if (remaining.isEmpty)
          throw SnowflakeError.compilation("cannot drop all columns of a table")
        if (catalog.getTable(ref).flatMap(_.clusterKey)
            .exists(k => drops.exists(_.equalsIgnoreCase(k))))
          throw SnowflakeError.compilation(
            "cannot drop a clustering key column; drop the clustering key first")
        beforeWrite(ctx, ref, created = false)
        catalog.lockFor(ref).synchronized {
          catalog.overwriteTable(ref)(catalog.tableDf(ref)
            .select(remaining.map(org.apache.spark.sql.functions.col).toSeq: _*))
          catalog.registerExisting(ref)
        }
        status(queryId, "Statement executed successfully.")
      // table rename: physical Spark rename + catalog metadata move
      // (reference: DuckDB pass-through; flattened names need both sides)
      case alterRenameTableRe(from0, to0) =>
        val rf = TableNaming.parse(from0, ctx.database, ctx.schema)
        val rt = TableNaming.parse(to0, ctx.database, ctx.schema)
        if (!catalog.tableExists(rf))
          throw SnowflakeError.notFound(
            s"table ${rf.database}.${rf.schema}.${rf.table} does not exist")
        // txn posture: snapshot the old name, mark the new one created —
        // ROLLBACK then restores the old table and drops the renamed one
        beforeWrite(ctx, rf, created = false)
        beforeWrite(ctx, rt, created = true)
        catalog.lockFor(rf).synchronized {
          spark.sql(s"ALTER TABLE ${catalog.sparkTableName(rf)} " +
            s"RENAME TO ${catalog.sparkTableName(rt)}")
          catalog.renameTable(rf, rt)
          retargetTableIdentity(rf, rt)
        }
        status(queryId, s"Table ${rf.table} successfully renamed to ${rt.table}.")
      case alterRenameColRe(name, from0, to0) =>
        val ref = TableNaming.parse(name, ctx.database, ctx.schema)
        val from = from0.stripPrefix("\"").stripSuffix("\"")
        val to = to0.stripPrefix("\"").stripSuffix("\"")
        val df = catalog.tableDf(ref)
        if (!df.columns.exists(_.equalsIgnoreCase(from)))
          throw SnowflakeError.compilation(s"invalid identifier '$from'")
        if (df.columns.exists(_.equalsIgnoreCase(to)))
          throw SnowflakeError.compilation(s"column '$to' already exists")
        if (catalog.getTable(ref).flatMap(_.clusterKey).exists(_.equalsIgnoreCase(from)))
          throw SnowflakeError.compilation(
            "cannot rename a clustering key column; drop the clustering key first")
        beforeWrite(ctx, ref, created = false)
        catalog.lockFor(ref).synchronized {
          catalog.overwriteTable(ref)(catalog.tableDf(ref).withColumnRenamed(from, to))
          catalog.registerExisting(ref)
        }
        status(queryId, "Statement executed successfully.")
      case other =>
        // ALTER TABLE pass-through (reference: `integration_test.go:414-421`)
        val rewritten = TableNaming.rewrite(other, ctx.database, ctx.schema)
        spark.sql(rewritten)
        """(?is)ALTER\s+TABLE\s+(\S+)""".r.findFirstMatchIn(other).foreach { m =>
          val ref = TableNaming.parse(m.group(1), ctx.database, ctx.schema)
          if (catalog.tableExists(ref)) catalog.registerExisting(ref)
        }
        status(queryId, "Statement executed successfully.")
    }
  }

  // ------------------------------------------------------------------
  // DML
  // ------------------------------------------------------------------

  private val updateRe =
    """(?is)UPDATE\s+(\S+)\s+SET\s+(.+?)(?:\s+WHERE\s+(.+?))?;?\s*$""".r
  private val deleteRe =
    """(?is)DELETE\s+FROM\s+(\S+)(?:\s+WHERE\s+(.+?))?;?\s*$""".r
  private val truncateRe =
    """(?is)TRUNCATE\s+(?:TABLE\s+)?(\S+?);?\s*$""".r
  private val insertRe = """(?is)INSERT\s+INTO\s+([^\s(]+).*""".r

  private val insertOverwriteRe =
    """(?is)INSERT\s+OVERWRITE\s+INTO\s+([^\s(]+)(.*)$""".r

  private def dml(ctx: Context, sql: String, queryId: String): Result =
    sql.trim match {
      case insertOverwriteRe(name, rest) =>
        // Snowflake INSERT OVERWRITE: atomic truncate-then-insert
        val ref = TableNaming.parse(name, ctx.database, ctx.schema)
        beforeWrite(ctx, ref, created = false)
        catalog.lockFor(ref).synchronized {
          catalog.overwriteTable(ref)(catalog.tableDf(ref).limit(0))
          dml(ctx, s"INSERT INTO $name$rest", queryId)
        }
      case insertRe(name) =>
        val ref = TableNaming.parse(name, ctx.database, ctx.schema)
        beforeWrite(ctx, ref, created = false)
        // a stream read inside INSERT .. SELECT resolves to its delta view
        // and is consumed (baseline advanced) once the insert succeeds
        val genSql = rewriteGenerator(sql)
        val streamSql = rewriteStreams(ctx, genSql)
        val r = catalog.lockFor(ref).synchronized {
          // rows-affected without scanning the target (VERDICT r1 #3):
          // VALUES -> tuple count from the text, INSERT..SELECT -> count the
          // source plan once; count-delta full scans only as last resort
          val n = insertedRowCount(ctx, streamSql)
          n match {
            case Some(rows) =>
              spark.sql(TableNaming.rewrite(streamSql, ctx.database, ctx.schema))
              dmlResult(queryId, "number of rows inserted", rows)
            case None =>
              val before = catalog.tableDf(ref).count()
              spark.sql(TableNaming.rewrite(streamSql, ctx.database, ctx.schema))
              val after = catalog.tableDf(ref).count()
              dmlResult(queryId, "number of rows inserted", after - before)
          }
        }
        recordVersion(ref, queryId)
        if (streamSql ne genSql) advanceConsumedStreams(ctx, sql)
        r
      case updateRe(name, sets, where) =>
        val ref = TableNaming.parse(name, ctx.database, ctx.schema)
        beforeWrite(ctx, ref, created = false)
        val cond = Option(where).map(expr).getOrElse(lit(true))
        // read, count and write back under the table lock, so that a
        // write committed in between is not lost
        val affected = catalog.lockFor(ref).synchronized {
          val df = catalog.tableDf(ref)
          // resolve SET keys case-insensitively against the physical schema —
          // catalog columns are upper-cased, SQL references usually aren't
          val setMap = MergeParser.splitTopLevel(sets).map { kv =>
            val eq = kv.indexOf('=')
            if (eq < 0) throw SnowflakeError.compilation(s"invalid SET clause: $kv")
            val key = kv.substring(0, eq).trim
            df.columns.find(_.equalsIgnoreCase(key)).getOrElse(
              throw SnowflakeError.compilation(s"invalid identifier '$key'")) ->
              expr(kv.substring(eq + 1).trim)
          }.toMap
          val n = MutableOps.affectedCount(df, cond)
          catalog.overwriteTable(ref)(MutableOps.update(df, cond, setMap))
          n
        }
        recordVersion(ref, queryId)
        dmlResult(queryId, "number of rows updated", affected)
      case deleteRe(name, where) =>
        val ref = TableNaming.parse(name, ctx.database, ctx.schema)
        beforeWrite(ctx, ref, created = false)
        val cond = Option(where).map(expr).getOrElse(lit(true))
        val affected = catalog.lockFor(ref).synchronized {
          val df = catalog.tableDf(ref)
          val n = MutableOps.affectedCount(df, cond)
          catalog.overwriteTable(ref)(MutableOps.delete(df, cond))
          n
        }
        recordVersion(ref, queryId)
        dmlResult(queryId, "number of rows deleted", affected)
      case truncateRe(name) =>
        val ref = TableNaming.parse(name, ctx.database, ctx.schema)
        beforeWrite(ctx, ref, created = false)
        catalog.overwriteTable(ref)(catalog.tableDf(ref).limit(0))
        recordVersion(ref, queryId)
        status(queryId, "Statement executed successfully.")
      case other =>
        // unknown statements pass through, the reference's contract
        // (`translator.go:121-127`: DuckDB may accept what we don't parse)
        val df = spark.sql(TableNaming.rewrite(other, ctx.database, ctx.schema))
        collectResult(df, queryId, Classifier.StatementTypeDml)
    }

  private val insertValuesRe =
    """(?is)INSERT\s+INTO\s+\S+\s*(?:\([^)]*\))?\s*VALUES\s*(.+?);?\s*$""".r
  private val insertSelectRe =
    """(?is)INSERT\s+INTO\s+\S+\s*(?:\([^)]*\))?\s*((?:SELECT|WITH)\b.*?);?\s*$""".r

  /** Rows an INSERT will add, computed without touching the target table:
    * the VALUES tuple count, or one count of the source SELECT. None when
    * the statement shape isn't recognized. */
  private def insertedRowCount(ctx: Context, sql: String): Option[Long] =
    sql.trim match {
      case insertValuesRe(body) =>
        Some(MergeParser.splitTopLevel(body).size.toLong)
      case insertSelectRe(select) =>
        Some(spark.sql(TableNaming.rewrite(rewriteFlatten(select),
          ctx.database, ctx.schema)).count())
      case _ => None
    }

  // ------------------------------------------------------------------
  // COPY INTO
  // ------------------------------------------------------------------

  /** `COPY INTO @stage[/path] FROM <table | (query)>` — the UNLOAD
    * direction (beyond-parity: the reference only loads). Writes the
    * source as CSV (default; FIELD_DELIMITER/HEADER honored), JSON
    * lines or PARQUET into the stage directory; the default appends new
    * part files (Snowflake's unique-name append semantics) and
    * OVERWRITE=TRUE replaces only files the unload direction itself
    * writes (prior part files), never unrelated staged files — matching
    * Snowflake's replace-matching-names behavior at the location.
    * Returns rows_unloaded, counted from the WRITTEN files so the
    * number always agrees with the output even for non-deterministic
    * sources (SAMPLE, random()). */
  private val unloadRe =
    """(?is)^\s*COPY\s+INTO\s+@([^\s/]+)(/\S*)?\s+FROM\s+([\s\S]+)$""".r

  private def copyUnload(ctx: Context, queryId: String,
      stageName: String, stagePath: String, rest: String): Result = {
    val restTrim = rest.trim
    val (sourceText, tail) =
      if (restTrim.startsWith("(")) {
        // paren-depth scan that skips single-quoted literals (with ''
        // escapes) so a ')' inside a string doesn't truncate the query
        var depth = 0; var i = 0; var end = -1; var inStr = false
        while (i < restTrim.length && end < 0) {
          val c = restTrim.charAt(i)
          if (inStr) {
            if (c == '\'') {
              if (i + 1 < restTrim.length && restTrim.charAt(i + 1) == '\'') i += 1
              else inStr = false
            }
          } else c match {
            case '\'' => inStr = true
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) end = i
            case _ =>
          }
          i += 1
        }
        if (end < 0)
          throw SnowflakeError.compilation("unbalanced parens in COPY INTO <location>")
        (restTrim.substring(1, end), restTrim.substring(end + 1))
      } else {
        val sp = restTrim.indexWhere(_.isWhitespace)
        if (sp < 0) (restTrim, "") else (restTrim.substring(0, sp), restTrim.substring(sp))
      }
    val df =
      if (restTrim.startsWith("(")) fullQueryDf(ctx, sourceText)
      else catalog.tableDf(TableNaming.parse(sourceText, ctx.database, ctx.schema))
    val ffText = """(?is)FILE_FORMAT\s*=\s*\(([^)]*)\)""".r
      .findFirstMatchIn(tail).map(_.group(1)).getOrElse("")
    val fmtType = """(?is)TYPE\s*=\s*'?(\w+)'?""".r
      .findFirstMatchIn(ffText).map(_.group(1).toUpperCase(java.util.Locale.ROOT))
      .getOrElse("CSV")
    val delim = """(?is)FIELD_DELIMITER\s*=\s*'([^']*)'""".r
      .findFirstMatchIn(ffText).map(_.group(1)).getOrElse(",")
    val header = """(?is)HEADER\s*=\s*TRUE""".r
      .findFirstIn(ffText + " " + tail).isDefined
    val overwrite = """(?is)OVERWRITE\s*=\s*TRUE""".r.findFirstIn(tail).isDefined
    // traversal-sanitized like the load side
    val dir = stages.resolve(stageName, stagePath)
    // Single evaluation: write ONCE to a scratch directory, count the
    // rows that were actually written by reading the files back (with
    // the source schema pinned — no inference), then move the part
    // files into the stage location.
    val tmp = Files.createTempDirectory("graft-unload-")
    val out = tmp.resolve("out")
    try {
      fmtType match {
        case "CSV" => df.write.option("sep", delim)
          .option("header", header.toString).csv(out.toString)
        case "JSON" => df.write.json(out.toString)
        case "PARQUET" => df.write.parquet(out.toString)
        case other =>
          throw SnowflakeError.compilation(s"unsupported unload format $other")
      }
      val n = fmtType match {
        case "CSV" => spark.read.schema(df.schema).option("sep", delim)
          .option("header", header.toString).csv(out.toString).count()
        case "JSON" => spark.read.schema(df.schema).json(out.toString).count()
        case _ => spark.read.parquet(out.toString).count()
      }
      if (overwrite && Files.isDirectory(dir)) {
        // OVERWRITE replaces only what an unload writes: prior part
        // files and markers. A PUT-staged load file at the same
        // location survives (ADVICE r10: save-mode 'overwrite' wiped
        // the whole directory, including unrelated staged files).
        val prior = Files.list(dir)
        try prior.iterator().asScala
          .filter(p => Files.isRegularFile(p) && {
            val nm = p.getFileName.toString
            nm.startsWith("part-") || nm == "_SUCCESS" || nm.startsWith(".part-")
          })
          .foreach(Files.delete(_))
        finally prior.close()
      }
      Files.createDirectories(dir)
      val parts = Files.list(out)
      try parts.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.startsWith("part-"))
        .foreach(p => Files.move(p, dir.resolve(p.getFileName.toString)))
      finally parts.close()
      localResult(queryId, Seq("rows_unloaded"), Seq(Seq[Any](n)),
        Classifier.StatementTypeDml, rowsAffected = Some(n))
    } finally {
      val walk = Files.walk(tmp)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  private def copyInto(ctx: Context, sql: String, queryId: String): Result = {
    unloadRe.findFirstMatchIn(sql) match {
      case Some(m) =>
        return copyUnload(ctx, queryId,
          m.group(1).toUpperCase(java.util.Locale.ROOT),
          Option(m.group(2)).map(_.stripPrefix("/")).getOrElse(""), m.group(3))
      case None =>
    }
    val stmt = CopyParser.parse(sql, ctx.database, ctx.schema,
      formatLookup = n => {
        val parts = n.split('.')
        val (db, sc, fmt) = parts.length match {
          case 3 => (parts(0), parts(1), parts(2))
          case 2 => (ctx.database, parts(0), parts(1))
          case _ => (ctx.database, ctx.schema, n)
        }
        catalog.getFileFormat(db, sc, fmt).map(_.rawOptions)
      })
    val meta = catalog.getTable(stmt.target).getOrElse(
      throw SnowflakeError.notFound(s"table ${stmt.target.table} does not exist"))
    val schema = catalog.tableDf(stmt.target).schema
    // traversal-sanitized: `@stage/../..` must not escape the stage root
    // (ADVICE r1 #2; reference manager.go:89-130)
    val dir = stages.resolve(stmt.stageName, stmt.stagePath)
    val (df, res) = CopyInto.load(spark, dir, schema, stmt.options)
    if (stmt.validationMode)
      return localResult(queryId, Seq("rows_validated", "files_validated"),
        Seq(Seq[Any](res.rowsLoaded, res.filesLoaded)), Classifier.StatementTypeDml)
    beforeWrite(ctx, stmt.target, created = false)
    catalog.appendToTable(stmt.target, df)
    recordVersion(stmt.target, queryId)
    localResult(queryId,
      Seq("file", "status", "rows_parsed", "rows_loaded", "errors_seen"),
      Seq(Seq[Any](s"@${stmt.stageName}/${stmt.stagePath}",
        if (res.errorsSeen > 0) "PARTIALLY_LOADED" else "LOADED",
        res.rowsLoaded + res.errorsSeen, res.rowsLoaded, res.errorsSeen)),
      Classifier.StatementTypeDml, rowsAffected = Some(res.rowsLoaded))
  }

  // ------------------------------------------------------------------
  // MERGE INTO
  // ------------------------------------------------------------------

  private def mergeInto(ctx: Context, sql: String, queryId: String): Result = {
    val stmt = MergeParser.parse(sql)
    val targetRef = TableNaming.parse(stmt.targetTable, ctx.database, ctx.schema)
    val targetCols = catalog.tableDf(targetRef).columns
    val tAlias = stmt.targetAlias.getOrElse(targetRef.table.toLowerCase)

    val (source0, sDefault) =
      if (stmt.source.startsWith("("))
        (queryDf(ctx, stmt.source.stripPrefix("(").stripSuffix(")")), "src")
      else {
        // a bare `USING <stream>` resolves through the streams map first —
        // the canonical incremental-CDC MERGE pattern; rewriteStreams
        // returns the input unchanged when no stream name matches
        val streamed = rewriteStreams(ctx, stmt.source)
        val sRef = TableNaming.parse(stmt.source, ctx.database, ctx.schema)
        if (streamed ne stmt.source)
          (spark.sql(s"SELECT * FROM $streamed"), sRef.table.toLowerCase)
        else
          // unaliased `USING t ON t.x = ...` must keep resolving via the
          // bare table name, same as the target side
          (catalog.tableDf(sRef), sRef.table.toLowerCase)
      }
    val sAlias = stmt.sourceAlias.getOrElse(sDefault)
    val source = source0.alias(sAlias)

    // strip the target alias prefix and resolve against the physical column
    // case (catalog metadata is upper-cased, SQL refs usually lower)
    def targetCol(c: String): String = {
      val dot = c.indexOf('.')
      val bare = if (dot > 0) c.substring(dot + 1) else c
      targetCols.find(_.equalsIgnoreCase(bare)).getOrElse(
        throw SnowflakeError.compilation(s"invalid identifier '$bare'"))
    }

    val matched = stmt.whenClauses.filter(_.isMatched).map { w =>
      val action = w.action match {
        case MergeParser.UpdateAction(sets) =>
          MergeInto.Update(sets.map { case (k, v) => targetCol(k) -> expr(v) }.toMap)
        case MergeParser.DeleteAction => MergeInto.Delete
        case _ => throw SnowflakeError.compilation(
          "INSERT is not valid in WHEN MATCHED")
      }
      MergeInto.WhenMatched(w.condition.map(expr), action)
    }
    val notMatched = stmt.whenClauses.filterNot(_.isMatched).map { w =>
      val (cols, vals) = w.action match {
        case MergeParser.InsertAction(cs, vs) =>
          (if (cs.nonEmpty) cs.map(targetCol) else targetCols.toSeq, vs)
        case _ => throw SnowflakeError.compilation(
          "only INSERT is valid in WHEN NOT MATCHED")
      }
      if (cols.size != vals.size)
        throw SnowflakeError.compilation(
          s"INSERT column/value count mismatch: ${cols.size} vs ${vals.size}")
      MergeInto.WhenNotMatched(w.condition.map(expr),
        cols.zip(vals.map(expr)).toMap)
    }

    val condition = expr(stmt.onCondition)
    beforeWrite(ctx, targetRef, created = false)
    // single-pass: one persisted join feeds the nondeterminism check, the
    // counts, and the written result (VERDICT r1 "What's wrong" #2). The
    // target is read under the lock that commits the result, so that a
    // write committed in between is not lost.
    val counts =
      try catalog.lockFor(targetRef).synchronized {
        MergeInto.run(catalog.tableDf(targetRef).alias(tAlias), source, condition,
            matched, notMatched) { result =>
          catalog.overwriteTable(targetRef)(result)
        }
      } catch {
        case e: MergeInto.NondeterministicMergeException =>
          throw SnowflakeError.execution(e.getMessage)
      }

    recordVersion(targetRef, queryId)
    // a MERGE that read from streams consumes them, exactly like other
    // stream-reading DML (Snowflake advances the offset transactionally
    // on DML success; the emulator advances after the successful write)
    advanceConsumedStreams(ctx, stmt.source)
    // Snowflake MERGE result shape: one row of per-action counts
    val cols = Seq("number of rows inserted", "number of rows updated",
      "number of rows deleted")
    localResult(queryId, cols,
      Seq(Seq[Any](counts.inserted, counts.updated, counts.deleted)),
      Classifier.StatementTypeDml,
      rowsAffected = Some(counts.inserted + counts.updated + counts.deleted))
  }

  // ------------------------------------------------------------------
  // transactions (reference `executor.go:399-426`; Spark has none, so BEGIN
  // snapshots tables on first write and ROLLBACK restores — SURVEY §7 hard
  // part 2)
  // ------------------------------------------------------------------

  private final class Txn {
    val snapshots = new ConcurrentHashMap[String, (TableNaming.Ref, Catalog.Snapshot, Catalog.TableMeta)]()
    val created = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val createdRefs = new ConcurrentHashMap[String, TableNaming.Ref]()
  }

  private def key(r: TableNaming.Ref) = s"${r.database}.${r.schema}.${r.table}"

  /** Snapshot a table before its first modification inside a transaction. */
  private def beforeWrite(ctx: Context, ref: TableNaming.Ref, created: Boolean): Unit = {
    val txn = transactions.get(ctx.sessionId)
    if (txn == null) return
    val k = key(ref)
    if (created) {
      txn.created.add(k)
      txn.createdRefs.put(k, ref)
    } else if (!txn.snapshots.containsKey(k) && !txn.created.contains(k)
        && catalog.tableExists(ref)) {
      txn.snapshots.put(k,
        (ref, catalog.snapshotTable(ref, snapshotRoot).get, catalog.getTable(ref).get))
    }
  }

  private def transaction(ctx: Context, sql: String, queryId: String): Result = {
    if (Classifier.isBegin(sql)) {
      transactions.putIfAbsent(ctx.sessionId, new Txn)
      status(queryId, "Statement executed successfully.")
    } else if (Classifier.isCommit(sql)) {
      Option(transactions.remove(ctx.sessionId)).foreach { txn =>
        txn.snapshots.values.asScala.foreach(_._2.delete())
      }
      status(queryId, "Statement executed successfully.")
    } else { // ROLLBACK
      Option(transactions.remove(ctx.sessionId)).foreach(rollbackTxn)
      status(queryId, "Statement executed successfully.")
    }
  }

  private def rollbackTxn(txn: Txn): Unit = {
    txn.snapshots.values.asScala.foreach { case (ref, snap, meta) =>
      // a DROP/REPLACE inside the txn removed the catalog entry;
      // re-install the snapshotted meta first so the restoring write
      // re-buckets with the original cluster key (ADVICE r1 #4)
      catalog.restoreMeta(meta)
      catalog.overwriteTable(ref)(snap.read(spark))
      snap.delete()
    }
    txn.createdRefs.values.asScala.foreach(r =>
      catalog.dropTable(r, ifExists = true))
  }

  def inTransaction(sessionId: String): Boolean =
    transactions.containsKey(sessionId)

  // ------------------------------------------------------------------
  // stage listing / removal (Snowflake LIST/REMOVE statements; the
  // reference implements the same ops via its stage manager,
  // `stage/manager.go:165-249`)
  // ------------------------------------------------------------------

  private val stageRefRe =
    """(?is)(?:LIST|LS|REMOVE|RM)\s+@([^\s/]+)(/\S*)?(?:\s+PATTERN\s*=\s*'([^']+)')?""".r

  private def listStage(sql: String, queryId: String): Result = {
    val m = stageRefRe.findFirstMatchIn(sql.trim).getOrElse(
      throw SnowflakeError.compilation(s"invalid LIST statement: $sql"))
    val stage = m.group(1).toUpperCase(java.util.Locale.ROOT)
    val prefix = Option(m.group(2)).map(_.stripPrefix("/")).getOrElse("")
    val pattern = Option(m.group(3))
    val files = stages.list(stage)
      .filter(f => f.relativePath.startsWith(prefix))
      .filter(f => pattern.forall(p => f.relativePath.matches(p)))
    localResult(queryId, Seq("name", "size", "md5", "last_modified"),
      files.map(f => Seq[Any](s"$stage/${f.relativePath}", f.sizeBytes, null, null)))
  }

  private def removeStage(sql: String, queryId: String): Result = {
    val m = stageRefRe.findFirstMatchIn(sql.trim).getOrElse(
      throw SnowflakeError.compilation(s"invalid REMOVE statement: $sql"))
    val stage = m.group(1).toUpperCase(java.util.Locale.ROOT)
    val prefix = Option(m.group(2)).map(_.stripPrefix("/")).getOrElse("")
    val pattern = Option(m.group(3))
    val victims = stages.list(stage)
      .filter(f => f.relativePath.startsWith(prefix))
      .filter(f => pattern.forall(p => f.relativePath.matches(p)))
    victims.foreach(f => stages.remove(stage, f.relativePath))
    localResult(queryId, Seq("name", "result"),
      victims.map(f => Seq[Any](s"$stage/${f.relativePath}", "removed")))
  }

  // ------------------------------------------------------------------
  // PUT / GET — local-file <-> stage transfer as SQL statements. The
  // reference's stage manager implements the same ops behind its REST
  // surface (`stage/manager.go:89-162`); the SQL forms are what SnowSQL
  // and connectors issue. file:// URIs only (this is a local emulator).
  // ------------------------------------------------------------------

  private val putRe =
    """(?is)PUT\s+'?file://([^'\s]+)'?\s+@([^\s/]+)(/\S*)?.*""".r
  private val getRe =
    """(?is)GET\s+@([^\s/]+)(/\S+)\s+'?file://([^'\s]+)'?.*""".r

  private def putStage(sql: String, queryId: String): Result = sql.trim match {
    case putRe(localPath, stage, subdir) =>
      val src = java.nio.file.Paths.get(localPath)
      if (!Files.isRegularFile(src))
        throw SnowflakeError.notFound(s"file not found: $localPath")
      val stageName = stage.toUpperCase(java.util.Locale.ROOT)
      val rel = Option(subdir).map(_.stripPrefix("/").stripSuffix("/") + "/")
        .getOrElse("") + src.getFileName.toString
      val in = Files.newInputStream(src)
      val staged = try stages.put(stageName, rel, in) finally in.close()
      localResult(queryId,
        Seq("source", "target", "source_size", "target_size", "status"),
        Seq(Seq[Any](src.getFileName.toString, rel,
          Files.size(src), staged.sizeBytes, "UPLOADED")))
    case _ => throw SnowflakeError.compilation(s"invalid PUT statement: $sql")
  }

  private def getStage(sql: String, queryId: String): Result = sql.trim match {
    case getRe(stage, path, localDir) =>
      val stageName = stage.toUpperCase(java.util.Locale.ROOT)
      val rel = path.stripPrefix("/")
      val dst = java.nio.file.Paths.get(localDir)
      Files.createDirectories(dst)
      val target = dst.resolve(java.nio.file.Paths.get(rel).getFileName.toString)
      val in = stages.get(stageName, rel)
      try Files.copy(in, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      localResult(queryId, Seq("file", "size", "status"),
        Seq(Seq[Any](target.getFileName.toString, Files.size(target), "DOWNLOADED")))
    case _ => throw SnowflakeError.compilation(s"invalid GET statement: $sql")
  }

  // ------------------------------------------------------------------
  // USE
  // ------------------------------------------------------------------

  private def useStatement(ctx: Context, sql: String, queryId: String): Result = {
    val m = """(?is)USE\s+(?:(DATABASE|SCHEMA|WAREHOUSE)\s+)?(\S+?);?\s*$""".r
      .findFirstMatchIn(sql.trim)
      .getOrElse(throw SnowflakeError.compilation(s"invalid USE: $sql"))
    val kind = Option(m.group(1)).map(_.toUpperCase(java.util.Locale.ROOT))
      .getOrElse("DATABASE")
    val name = m.group(2).toUpperCase(java.util.Locale.ROOT)
    kind match {
      case "DATABASE" => ctx.onUse.foreach(f => f(Some(name), None))
      case "SCHEMA" => ctx.onUse.foreach(f => f(None, Some(name)))
      case "WAREHOUSE" => () // warehouses carry no compute
    }
    status(queryId, "Statement executed successfully.")
  }

  // ------------------------------------------------------------------
  // result materialization
  // ------------------------------------------------------------------

  private def collectResult(df: DataFrame, queryId: String,
      statementTypeId: Long): Result = {
    // full materialization at the protocol edge, like the reference's
    // fetch loop (`executor.go:99-119`) — but conf-gated: a stray
    // SELECT * over a 100 TB table must fail with a clean Snowflake-shaped
    // error instead of OOMing the shared server JVM. Fetching cap+1 rows
    // detects overflow without counting the full result.
    val cap = knobs.maxResultRows
    val fetched = df.limit(
      if (cap < Int.MaxValue) cap + 1 else Int.MaxValue).collect()
    if (fetched.length > cap)
      throw SnowflakeError.execution(
        s"Result set exceeds the maximum of $cap rows supported at the " +
          "protocol edge; add a LIMIT, or raise -Dgraft.maxResultRows")
    val rows = fetched.toSeq.map(_.toSeq)
    if (rows.size <= RetainMaxRows)
      retainedResults.synchronized { retainedResults.put(queryId, (df.schema, rows)) }
    Result(TypeMapper.inferRowType(df.schema), rows, statementTypeId, None, queryId)
  }

  private def dmlResult(queryId: String, label: String, n: Long): Result =
    localResult(queryId, Seq(label), Seq(Seq[Any](n)),
      Classifier.StatementTypeDml, rowsAffected = Some(n))

  private def localResult(queryId: String, cols: Seq[String],
      rows: Seq[Seq[Any]], statementTypeId: Long = Classifier.StatementTypeSelect,
      rowsAffected: Option[Long] = None): Result = {
    val meta = cols.map { c =>
      val sample = rows.iterator.map(r => r(cols.indexOf(c)))
        .find(_ != null).orNull
      val tpe = sample match {
        case _: java.lang.Long | _: java.lang.Integer => "NUMBER"
        case _ => "TEXT"
      }
      TypeMapper.ColumnMetadata(c, tpe, nullable = true)
    }
    Result(meta, rows, statementTypeId, rowsAffected, queryId)
  }

  /** A fresh query id; a protocol layer takes one ahead of [[execute]] to
    * tag the statement's Spark jobs with it. */
  def newQueryId(): String =
    "01" + UUID.randomUUID().toString.replace("-", "")
}

object Executor {
  /** Character spans of '...' literals and "..." quoted identifiers, so
    * name rewrites can skip text the parser would treat as data. Doubled
    * quotes ('' / "") scan as two adjacent literals, which still lands
    * every quoted character inside some span. Inside single-quoted
    * literals a backslash escapes the next character (Snowflake supports
    * \\' — without the skip, 'it\'s x' would end the span at the escaped
    * quote and flip quoted/unquoted classification for the rest of the
    * statement); quoted identifiers have no backslash escapes. */
  private[emulator] def quotedSpans(sql: String): IndexedSeq[(Int, Int)] = {
    val spans = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'' || c == '"') {
        val start = i; i += 1
        while (i < sql.length && sql.charAt(i) != c) {
          if (c == '\'' && sql.charAt(i) == '\\' && i + 1 < sql.length) i += 2
          else i += 1
        }
        spans += ((start, math.min(i, sql.length - 1)))
        i += 1
      } else i += 1
    }
    spans.toIndexedSeq
  }

  /** True when `re` matches somewhere OUTSIDE every quoted span — a stream
    * name inside a string literal is data, not a table reference, and must
    * be neither rewritten nor consumed. */
  private[emulator] def mentionsOutsideQuotes(sql: String, re: scala.util.matching.Regex): Boolean = {
    val spans = Executor.quotedSpans(sql)
    re.findAllMatchIn(sql).exists(m =>
      !spans.exists(s => m.start >= s._1 && m.start <= s._2))
  }

  /** replaceAllIn that leaves matches starting INSIDE a quoted span
    * untouched — a rewrite trigger inside a string literal or quoted
    * identifier is data, not syntax (the [[mentionsOutsideQuotes]]
    * contract, applied to replacement). Every textual rewriter
    * (CURRENT_* inlining, IDENTIFIER(), GENERATOR/SEQ, RESULT_SCAN /
    * LAST_QUERY_ID, QUERY_HISTORY, time travel, FLATTEN /
    * SPLIT_TO_TABLE, SAMPLE) goes through this, so `SELECT 'see
    * CURRENT_USER() docs'` returns its literal verbatim. Replacer side
    * effects (temp-view creation) are skipped for quoted matches. */
  private[emulator] def replaceOutsideQuotes(sql: String,
      re: scala.util.matching.Regex)(
      f: scala.util.matching.Regex.Match => String): String = {
    val spans = Executor.quotedSpans(sql)
    if (spans.isEmpty) re.replaceAllIn(sql, f)
    else re.replaceAllIn(sql, m =>
      if (spans.exists(s => m.start >= s._1 && m.start <= s._2))
        java.util.regex.Matcher.quoteReplacement(m.matched)
      else f(m))
  }

  /** Split a multi-statement text on top-level semicolons — quote-,
    * paren- AND comment-aware (a `;` inside a string literal, quoted
    * identifier, parenthesized body, `--` line comment or `/*...*/`
    * block comment never splits). Fragments that contain only comments
    * and whitespace are dropped, so `SELECT 1; -- done` counts as ONE
    * statement on the REST v2 path (which rejects >1 statement when
    * MULTI_STATEMENT_COUNT is absent). Used by the REST v2
    * MULTI_STATEMENT_COUNT path. */
  def splitStatements(sql: String): Seq[String] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0; var inQ = false; var inDq = false
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inQ) { cur.append(c); if (c == '\'') inQ = false; i += 1 }
      else if (inDq) { cur.append(c); if (c == '"') inDq = false; i += 1 }
      else if (c == '-' && i + 1 < sql.length && sql.charAt(i + 1) == '-') {
        val eol = sql.indexOf('\n', i)
        val end = if (eol < 0) sql.length else eol + 1
        cur.append(sql.substring(i, end)); i = end
      }
      else if (c == '/' && i + 1 < sql.length && sql.charAt(i + 1) == '*') {
        val close = sql.indexOf("*/", i + 2)
        val end = if (close < 0) sql.length else close + 2
        cur.append(sql.substring(i, end)); i = end
      }
      else {
        c match {
          case '\'' => inQ = true; cur.append(c)
          case '"' => inDq = true; cur.append(c)
          case '(' => depth += 1; cur.append(c)
          case ')' => depth -= 1; cur.append(c)
          case ';' if depth == 0 => out += cur.toString.trim; cur.clear()
          case _ => cur.append(c)
        }
        i += 1
      }
      ()
    }
    out += cur.toString.trim
    out.result().filter(s => s.nonEmpty && !commentOnly(s))
  }

  /** True when the text holds nothing but whitespace and comments — a
    * trailing `-- done` fragment after the final `;` is not a statement
    * and must not count against MULTI_STATEMENT_COUNT. */
  private[emulator] def commentOnly(sql: String): Boolean = {
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '-' && i + 1 < sql.length && sql.charAt(i + 1) == '-') {
        val eol = sql.indexOf('\n', i)
        i = if (eol < 0) sql.length else eol + 1
      }
      else if (c == '/' && i + 1 < sql.length && sql.charAt(i + 1) == '*') {
        val close = sql.indexOf("*/", i + 2)
        i = if (close < 0) sql.length else close + 2
      }
      else return false
    }
    true
  }

  /** Per-statement execution context: the session's identity and current
    * database/schema drive name resolution; `onUse` lets USE statements
    * update the owning session. */
  final case class Context(
      sessionId: String,
      database: String,
      schema: String,
      onUse: Option[(Option[String], Option[String]) => Unit] = None)

  final case class Result(
      columns: Seq[TypeMapper.ColumnMetadata],
      rows: Seq[Seq[Any]],
      statementTypeId: Long,
      rowsAffected: Option[Long],
      queryId: String)
}
