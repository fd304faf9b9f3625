package graft.server

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import graft.emulator._

/** HTTP protocol layer speaking the reference's two Snowflake wire
  * protocols (reference `cmd/server/main.go:77-134` routes): the
  * gosnowflake driver protocol (login/token/heartbeat/query/abort, errors
  * as HTTP 200 + success:false — `server/handlers/session.go:282-293`) and
  * the SQL REST API v2 (`/api/v2/statements` incl. handle replay + cancel —
  * `server/handlers/rest_api_v2.go`). Built on the JDK's HttpServer and
  * Spark's bundled Jackson; no extra dependencies.
  */
final class EmulatorServer(
    val executor: Executor,
    val sessions: SessionManager,
    val statements: StatementManager,
    port: Int = 0,
    ownedStageRoot: Option[java.nio.file.Path] = None) {

  private val mapper = new ObjectMapper()
  private val server = EmulatorServer.newHttpServer(port)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
  server.setExecutor(pool)

  // session variables / parameters / open transactions live in the
  // executor keyed by token: release them when the session closes or
  // expires, migrate them when renewal issues a fresh token
  sessions.onClose(executor.releaseSessionState)
  sessions.onRename(executor.migrateSessionState)

  def actualPort: Int = server.getAddress.getPort

  /** Running gosnowflake statements: (session token, URL `requestId`) to
    * the query id, which is the statement's Spark job group. */
  private val running = new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  /** Query ids an abort-request cancelled, so they report Snowflake's
    * cancel error rather than Spark's. */
  private val aborted = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // ------------------------------------------------------------------
  // routing
  // ------------------------------------------------------------------

  server.createContext("/health", exchange =>
    respond(exchange, 200, obj(o => o.put("status", "ok"))))

  server.createContext("/session/v1/login-request", handler(login))
  server.createContext("/session/token-request", handler(tokenRenew))
  // legacy renewal alias — the reference delegates it to token-request
  // (`session.go:224-227`)
  server.createContext("/session/renew", handler(tokenRenew))
  server.createContext("/session/logout", handler(logout))
  server.createContext("/session/use", handler(useContext))
  server.createContext("/session/heartbeat", handler(heartbeat))
  server.createContext("/session", handler(sessionDelete)) // ?delete=true
  server.createContext("/queries/v1/query-request", handler(queryRequest))
  server.createContext("/queries/v1/abort-request", handler(abortRequest))
  server.createContext("/api/v2/statements", handler(restStatements))
  server.createContext("/api/v2/databases", v2handler(restObjects))
  server.createContext("/api/v2/warehouses", v2handler(restWarehouses))
  server.createContext("/telemetry/send", exchange =>
    respond(exchange, 200, obj(o => o.put("success", true)))) // accepted+ignored

  def start(): Unit = server.start()

  /** Stop serving and delete what this server wrote to disk: the
    * executor's snapshots and a stage root it created itself. */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    executor.close()
    ownedStageRoot.filter(java.nio.file.Files.exists(_))
      .foreach(Catalog.deleteRecursively)
  }

  private def handler(f: HttpExchange => Unit): com.sun.net.httpserver.HttpHandler =
    exchange =>
      try f(exchange)
      catch {
        case t: Throwable =>
          val e = SnowflakeError.fromThrowable(t)
          respond(exchange, 200, gosnowflakeError(e))
      }

  /** REST v2 errors carry real HTTP status codes (unlike the gosnowflake
    * protocol's HTTP-200-with-success:false). */
  private def v2handler(f: HttpExchange => Unit): com.sun.net.httpserver.HttpHandler =
    exchange =>
      try f(exchange)
      catch {
        case t: Throwable =>
          val e = SnowflakeError.fromThrowable(t)
          val status = e.code match {
            case SnowflakeError.CodeObjectNotFound => 404
            case SnowflakeError.CodeObjectAlreadyExists => 409
            case SnowflakeError.CodeInvalidParameter => 400
            case _ => 400
          }
          respond(exchange, status, obj { o =>
            o.put("code", e.code); o.put("message", e.getMessage)
            o.put("sqlState", e.sqlState)
          })
      }

  // ------------------------------------------------------------------
  // gosnowflake protocol
  // ------------------------------------------------------------------

  /** POST /session/v1/login-request — any credentials accepted (reference
    * `README.md:299`); auto-creates the default database like
    * `session.go:94-102`. */
  private def login(exchange: HttpExchange): Unit = {
    val body = readJson(exchange)
    val data = Option(body.get("data")).getOrElse(mapper.createObjectNode())
    val user = textOf(data, "LOGIN_NAME").getOrElse("")
    if (user.isEmpty) {
      respond(exchange, 200, gosnowflakeError(
        SnowflakeError(SnowflakeError.CodeAuthenticationFailed, "LOGIN_NAME is required")))
      return
    }
    val params = queryParams(exchange)
    val db = params.getOrElse("databaseName", "TEST_DB")
    val schema = params.getOrElse("schemaName", "PUBLIC")
    executor.catalog.createDatabase(db)
    val sess = sessions.create(user, db, schema)
    respond(exchange, 200, obj { o =>
      o.put("success", true)
      val d = o.putObject("data")
      d.put("token", sess.token)
      d.put("masterToken", sess.masterToken)
      d.put("sessionId", sess.token.hashCode.toLong)
      val ps = d.putArray("parameters")
      sessions.defaultParameters.foreach { case (k, v) =>
        val p = ps.addObject(); p.put("name", k); p.put("value", v)
      }
      val si = d.putObject("sessionInfo")
      si.put("databaseName", sess.database)
      si.put("schemaName", sess.schema)
    })
  }

  /** POST /session/token-request — renewal via master token
    * (reference `session.go:164-197`). */
  private def tokenRenew(exchange: HttpExchange): Unit = {
    val body = readJson(exchange)
    val master = Option(body.get("data"))
      .flatMap(d => textOf(d, "masterToken").orElse(textOf(d, "MASTER_TOKEN")))
      .getOrElse("")
    sessions.renew(master) match {
      case Some(s) => respond(exchange, 200, obj { o =>
        o.put("success", true)
        val d = o.putObject("data")
        d.put("sessionToken", s.token)
        d.put("masterToken", s.masterToken)
      })
      case None => respond(exchange, 200, gosnowflakeError(
        SnowflakeError(SnowflakeError.CodeSessionNotFound, "invalid master token")))
    }
  }

  private def heartbeat(exchange: HttpExchange): Unit =
    withSession(exchange)(_ => respond(exchange, 200, obj(_.put("success", true))))

  /** POST /session/logout — body `{token}` (reference `session.go:231-253`). */
  private def logout(exchange: HttpExchange): Unit = {
    val token = textOf(readJson(exchange), "token").getOrElse("")
    if (sessions.close(token))
      respond(exchange, 200, obj(_.put("success", true)))
    else respond(exchange, 200, gosnowflakeError(
      SnowflakeError(SnowflakeError.CodeInternalError, "Failed to close session")))
  }

  /** POST /session/use — body `{token, database?, schema?}` switches the
    * session context (reference `session.go:256-279`). */
  private def useContext(exchange: HttpExchange): Unit = {
    val body = readJson(exchange)
    val token = textOf(body, "token").getOrElse("")
    sessions.use(token, textOf(body, "database"), textOf(body, "schema")) match {
      case Some(_) => respond(exchange, 200, obj(_.put("success", true)))
      case None => respond(exchange, 200, gosnowflakeError(
        SnowflakeError(SnowflakeError.CodeInvalidParameter,
          "Failed to update session context")))
    }
  }

  /** POST /session?delete=true — logout (reference `session.go:230-253`). */
  private def sessionDelete(exchange: HttpExchange): Unit = {
    if (queryParams(exchange).get("delete").contains("true")) {
      tokenOf(exchange).foreach(sessions.close)
      respond(exchange, 200, obj(_.put("success", true)))
    } else respond(exchange, 404, obj(_.put("success", false)))
  }

  /** POST /queries/v1/query-request — execute; all values stringified to
    * `rowset [][]string` (reference `query.go:179-193`); errors are HTTP
    * 200 with success:false + Snowflake code (`session.go:282-293`). */
  private def queryRequest(exchange: HttpExchange): Unit =
    withSession(exchange) { sess =>
      val body = readJson(exchange)
      val sqlText = textOf(body, "sqlText").getOrElse("")
      if (sqlText.isEmpty) {
        respond(exchange, 200, gosnowflakeError(
          SnowflakeError(SnowflakeError.CodeInvalidParameter, "SQL text is required")))
        return
      }
      val bindings = parseBindings(body.get("bindings"))
      val ctx = Executor.Context(sess.token, sess.database, sess.schema,
        onUse = Some((d, s) => { sessions.use(sess.token, d, s); () }))
      // the query id doubles as the Spark job group, as on REST v2, so the
      // statement's jobs can be attributed to it
      val queryId = executor.newQueryId()
      val spark = executor.catalog.spark
      val request = queryParams(exchange).get("requestId").map(sess.token -> _)
      request.foreach(running.put(_, queryId))
      try {
        spark.sparkContext.setJobGroup(queryId, sqlText, interruptOnCancel = true)
        val r = executor.execute(ctx, sqlText, bindings, queryId0 = Some(queryId))
        respond(exchange, 200, obj { o =>
          o.put("success", true)
          val d = o.putObject("data")
          d.put("queryId", r.queryId)
          d.put("sqlState", SnowflakeError.SQLStateSuccess)
          d.put("statementTypeId", r.statementTypeId)
          putRowType(d.putArray("rowtype"), r)
          val rs = d.putArray("rowset")
          r.rows.foreach { row =>
            val jr = rs.addArray()
            row.foreach(v => if (v == null) jr.addNull() else jr.add(stringify(v)))
          }
          d.put("total", r.rowsAffected.getOrElse(r.rows.size.toLong))
          d.put("returned", r.rows.size.toLong)
          d.put("queryResultFormat", "json")
        })
      } catch {
        case t: Throwable =>
          respond(exchange, 200, gosnowflakeError(
            if (aborted.contains(queryId))
              SnowflakeError(SnowflakeError.CodeQueryCanceled, "SQL execution canceled")
            else SnowflakeError.fromThrowable(t)))
      } finally {
        request.foreach(running.remove(_, queryId))
        aborted.remove(queryId)
        spark.sparkContext.clearJobGroup()
      }
    }

  /** POST /queries/v1/abort-request — cancels the session's running
    * statement whose query-request carried the body's `requestId` (a
    * stub in the reference, `handlers/query.go:149-165`). An unknown or
    * finished request is a no-op. */
  private def abortRequest(exchange: HttpExchange): Unit =
    withSession(exchange) { sess =>
      textOf(readJson(exchange), "requestId").foreach { id =>
        running.computeIfPresent(sess.token -> id, (_, queryId) => {
          aborted.add(queryId)
          executor.catalog.spark.sparkContext.cancelJobGroup(queryId)
          queryId
        })
      }
      respond(exchange, 200, obj(_.put("success", true)))
    }

  // ------------------------------------------------------------------
  // REST API v2
  // ------------------------------------------------------------------

  private def restStatements(exchange: HttpExchange): Unit = {
    val path = exchange.getRequestURI.getPath.stripPrefix("/api/v2/statements")
    (exchange.getRequestMethod, path) match {
      case ("POST", "" | "/") => submitStatement(exchange)
      case ("GET", p) => getStatement(exchange, p.stripPrefix("/"))
      case ("POST", p) if p.endsWith("/cancel") =>
        cancelStatement(exchange, p.stripPrefix("/").stripSuffix("/cancel"))
      case _ => respond(exchange, 404, obj(_.put("message", "not found")))
    }
  }

  /** POST /api/v2/statements — synchronous execution, result stored on the
    * handle for later GET replay (reference `rest_api_v2.go:45-122`). */
  private def submitStatement(exchange: HttpExchange): Unit = {
    // malformed JSON is HTTP 400 on this route (reference
    // `rest_api_v2.go:46-49`; e2e InvalidJSON `rest_api_v2_test.go:407-419`)
    val body =
      try readJson(exchange)
      catch {
        case _: com.fasterxml.jackson.core.JacksonException =>
          respond(exchange, 400, obj { o =>
            o.put("message", "Invalid request body")
            o.put("sqlState", SnowflakeError.SQLStateSyntaxError)
          })
          return
      }
    val statement = textOf(body, "statement").getOrElse("")
    if (statement.isEmpty) {
      respond(exchange, 400, obj { o =>
        o.put("message", "Statement is required")
        o.put("sqlState", SnowflakeError.SQLStateSyntaxError)
      })
      return
    }
    // Session affinity (beyond parity — the reference's v2 handler
    // tracks no sessions): the real Snowflake SQL API carries the
    // session token in Authorization, and when a VALID one rides the
    // request the statement executes under that v1 session's state —
    // ALTER SESSION parameters (GRAFT_BM25_K, GRAFT_PIPELINE_DIR,
    // QUERY_TAG), variables, transactions AND the session's current
    // database/schema persist across v2 calls (an explicit
    // database/schema in the request body still wins for that call).
    // Tokenless requests keep the per-statement contract unchanged.
    val boundSession = tokenOf(exchange).flatMap(sessions.validate)
    val db = textOf(body, "database")
      .orElse(boundSession.map(_.database)).getOrElse("TEST_DB")
    val schema = textOf(body, "schema")
      .orElse(boundSession.map(_.schema)).getOrElse("PUBLIC")
    executor.catalog.createDatabase(db)
    val bindings = parseBindings(body.get("bindings"))
    // MULTI_STATEMENT_COUNT (Snowflake SQL API): absent => exactly one
    // statement allowed; 0 => any number; N => exactly N. The reference
    // has no multi-statement support at all.
    val parts = Executor.splitStatements(statement)
    val multiCount = Option(body.get("parameters"))
      .filter(_.isObject).flatMap(p => Option(p.get("MULTI_STATEMENT_COUNT")))
      .map(_.asText.trim)
    val wanted = multiCount.map(_.toIntOption.getOrElse(-1))
    val countOk = wanted match {
      case None => parts.size == 1
      case Some(0) => parts.nonEmpty
      case Some(n) => n == parts.size
    }
    if (!countOk) {
      respond(exchange, 422, obj { o =>
        o.put("code", "000008")
        o.put("sqlState", SnowflakeError.SQLStateSyntaxError)
        o.put("message",
          s"Actual statement count ${parts.size} did not match the " +
            s"desired statement count ${wanted.getOrElse(1)}.")
      })
      return
    }
    if (parts.size > 1) {
      submitMultiStatement(exchange, parts, db, schema, bindings,
        boundSession.map(_.token))
      return
    }
    val st = statements.create(statement)
    val spark = executor.catalog.spark
    statements.markRunning(st,
      () => spark.sparkContext.cancelJobGroup(st.handle))
    val ctx = boundSession match {
      case Some(sess) => Executor.Context(sess.token, db, schema,
        onUse = Some((d, s) => { sessions.use(sess.token, d, s); () }))
      case None => Executor.Context(st.handle, db, schema)
    }
    try {
      spark.sparkContext.setJobGroup(st.handle, statement,
        interruptOnCancel = true)
      // the wire handle doubles as the executor query id, so the handle a
      // client got back works in RESULT_SCAN / AT(STATEMENT =>) like a
      // Snowflake statement handle does
      val r = executor.execute(ctx, statement, bindings, queryId0 = Some(st.handle))
      statements.complete(st, r)
      respond(exchange, 200, statementResponse(st, Some(r), None))
    } catch {
      case t: Throwable =>
        val e = SnowflakeError.fromThrowable(t)
        statements.fail(st, e)
        respond(exchange, 200, statementResponse(st, None, Some(e)))
    } finally {
      spark.sparkContext.clearJobGroup()
      // tokenless: the handle IS the request's session id and never
      // recurs — free any state the statement created under it (a lone
      // BEGIN's Txn, SET vars), same end-of-batch contract as the
      // multi-statement path. Token-bound state belongs to the v1
      // session and is released when THAT session closes.
      if (boundSession.isEmpty) executor.releaseSessionState(st.handle)
    }
  }

  /** The MULTI_STATEMENT_COUNT path: each sub-statement executes
    * sequentially under its OWN child handle (so GET /statements/{h}
    * replays any of them individually, and each handle works in
    * RESULT_SCAN / AT(STATEMENT =>)), sharing ONE session identity (the
    * parent handle) so session variables and USE carry across the
    * sequence. A failure aborts the remainder — Snowflake's contract.
    * The submit response is the parent with `statementHandles` listing
    * the children in order. */
  private def submitMultiStatement(exchange: HttpExchange,
      parts: Seq[String], db: String, schema: String,
      bindings: Map[String, Bindings.Binding],
      boundToken: Option[String] = None): Unit = {
    val parent = statements.create(parts.mkString("; "))
    val spark = executor.catalog.spark
    // Token-bound batches (session affinity, see submitStatement) run
    // every sub-statement under the v1 session's identity: ALTER SESSION
    // dials, variables and open transactions persist on that session
    // after the batch, and USE writes back to it. Tokenless batches keep
    // the batch-is-the-session contract byte-identical to before.
    val sessionId = boundToken.getOrElse(parent.handle)
    var curDb = db; var curSchema = schema
    val done = scala.collection.mutable.ArrayBuffer[String]()
    var failure: Option[SnowflakeError] = None
    var lastResult: Option[Executor.Result] = None
    parts.iterator.takeWhile(_ => failure.isEmpty).foreach { sub =>
      val child = statements.create(sub)
      statements.markRunning(child,
        () => spark.sparkContext.cancelJobGroup(child.handle))
      val ctx = Executor.Context(sessionId, curDb, curSchema,
        onUse = Some((d, s) => {
          d.foreach(curDb = _); s.foreach(curSchema = _)
          boundToken.foreach(t => { sessions.use(t, d, s); () })
        }))
      try {
        spark.sparkContext.setJobGroup(child.handle, sub, interruptOnCancel = true)
        val r = executor.execute(ctx, sub, bindings, queryId0 = Some(child.handle))
        statements.complete(child, r)
        lastResult = Some(r)
        done += child.handle
        ()
      } catch {
        case t: Throwable =>
          val e = SnowflakeError.fromThrowable(t)
          statements.fail(child, e)
          done += child.handle
          failure = Some(e)
      } finally spark.sparkContext.clearJobGroup()
    }
    // Tokenless: the batch IS the session (its identity is the parent
    // handle, which never recurs): a transaction left open — by a
    // mid-batch failure aborting before COMMIT, or by a batch that simply
    // never commits — rolls back now, exactly Snowflake's end-of-session
    // contract. This also frees the batch's session variables and the txn
    // snapshot dirs instead of leaking them under an unreachable id.
    // Token-bound: the state belongs to the v1 session and is released
    // when THAT session closes.
    if (boundToken.isEmpty) executor.releaseSessionState(parent.handle)
    val resp = failure match {
      case Some(e) =>
        statements.fail(parent, e)
        statementResponse(parent, None, Some(e))
      case None =>
        // the parent's stored result replays the LAST statement (GET by
        // child handle replays any specific one)
        lastResult.foreach(statements.complete(parent, _))
        val o = statementResponse(parent, lastResult, None)
        o.put("message", "Multiple statements executed successfully.")
        o
    }
    val arr = resp.putArray("statementHandles")
    done.foreach(arr.add)
    respond(exchange, 200, resp)
  }

  /** GET /api/v2/statements/{handle}[?partition=N] — replay by status
    * (reference `rest_api_v2.go:125-170`; the reference returns data
    * inline only). `partition=N` is Snowflake's large-result fetch: the
    * submit response carries partition 0 plus `partitionInfo`, and each
    * further partition is fetched here by index — the friendly path for
    * results bigger than one response, with `-Dgraft.maxResultRows` kept
    * as the absolute memory guard above it. */
  private def getStatement(exchange: HttpExchange, handle: String): Unit =
    statements.get(handle) match {
      case None => respond(exchange, 404, obj { o =>
        o.put("message", "Statement not found")
        o.put("sqlState", SnowflakeError.SQLStateNoData)
      })
      case Some(st) =>
        val partition = Option(exchange.getRequestURI.getQuery).toSeq
          .flatMap(_.split('&')).collectFirst {
            case kv if kv.startsWith("partition=") =>
              kv.stripPrefix("partition=").toIntOption.getOrElse(-1)
          }.getOrElse(0)
        val nParts = st.result.map(r => math.max(1,
          (r.rows.size + resultPartitionRows - 1) / resultPartitionRows))
          .getOrElse(1)
        if (partition < 0 || partition >= nParts)
          respond(exchange, 422, obj { o =>
            o.put("message",
              s"partition $partition out of range (result has $nParts partitions)")
            o.put("sqlState", SnowflakeError.SQLStateNoData)
          })
        else respond(exchange, 200,
          statementResponse(st, st.result, st.error, partition))
    }

  /** POST /api/v2/statements/{handle}/cancel — fires the stored cancel
    * (reference `rest_api_v2.go:173-197` + `statement_manager.go:150-171`). */
  private def cancelStatement(exchange: HttpExchange, handle: String): Unit =
    if (statements.cancel(handle))
      respond(exchange, 200, obj(_.put("status", "canceled")))
    else respond(exchange, 404, obj(_.put("message",
      "Statement not found or not cancellable")))

  // ------------------------------------------------------------------
  // REST v2 object CRUD (reference routes `cmd/server/main.go:100-126`)
  // ------------------------------------------------------------------

  /** /api/v2/databases[/{db}[/schemas[/{schema}[/tables[/{table}]]]]] */
  private def restObjects(exchange: HttpExchange): Unit = {
    val segs = exchange.getRequestURI.getPath
      .stripPrefix("/api/v2/databases").stripPrefix("/").stripSuffix("/")
      .split('/').toSeq.filter(_.nonEmpty)
      .map(s => java.net.URLDecoder.decode(s, "UTF-8"))
    val method = exchange.getRequestMethod
    val cat = executor.catalog
    (method, segs) match {
      // databases
      case ("GET", Seq()) =>
        respond(exchange, 200, arr(cat.listDatabases()) { (o, d) =>
          o.put("name", d.name); o.put("created_on", d.createdOn)
        })
      // 201 + DatabaseResponse, the reference contract
      // (`rest_api_v2.go:320-350`; e2e pins 201+name at
      // `tests/e2e/rest_api_v2_test.go:209-235`)
      case ("POST", Seq()) =>
        val body = readJson(exchange)
        val name = textOf(body, "name").getOrElse(
          throw SnowflakeError(SnowflakeError.CodeInvalidParameter, "name is required"))
        cat.createDatabase(name, ifNotExists = false)
        textOf(body, "comment").foreach(cat.setDatabaseComment(name, _))
        val d = cat.listDatabases().find(_.name.equalsIgnoreCase(name)).get
        respond(exchange, 201, obj { o =>
          o.put("name", d.name); o.put("comment", d.comment)
          o.put("created_on", d.createdOn)
        })
      case ("GET", Seq(db)) =>
        cat.listDatabases().find(_.name.equalsIgnoreCase(db)) match {
          case Some(d) => respond(exchange, 200, obj { o =>
            o.put("name", d.name); o.put("created_on", d.createdOn)
          })
          case None => respond(exchange, 404, obj(_.put("message", s"database $db not found")))
        }
      case ("DELETE", Seq(db)) =>
        // 204 no-content (`rest_api_v2.go:370`; e2e `:821-824`)
        cat.dropDatabase(db); respondNoContent(exchange)
      // PUT /api/v2/databases/{db} — alter (comment), reference
      // `rest_api_v2.go:620-660` + `types/rest_api_v2.go:130-132`
      case ("PUT", Seq(db)) =>
        val body = readJson(exchange)
        cat.listDatabases().find(_.name.equalsIgnoreCase(db)) match {
          case Some(d) =>
            textOf(body, "comment").foreach(cat.setDatabaseComment(db, _))
            val updated = cat.listDatabases().find(_.name.equalsIgnoreCase(db)).get
            respond(exchange, 200, obj { o =>
              o.put("name", updated.name); o.put("created_on", updated.createdOn)
              o.put("comment", updated.comment)
            })
          case None =>
            respond(exchange, 404, obj(_.put("message", s"database $db not found")))
        }
      // schemas — SchemaResponse field names per reference
      // `types/rest_api_v2.go:102-108` (name, database_name)
      case ("GET", Seq(db, "schemas")) =>
        respond(exchange, 200, arr(cat.listSchemas(db)) { (o, s) =>
          o.put("name", s.name); o.put("database_name", s.database)
        })
      case ("POST", Seq(db, "schemas")) =>
        // 201 + SchemaResponse (`rest_api_v2.go:474`; e2e `:293-319`)
        val name = textOf(readJson(exchange), "name").getOrElse(
          throw SnowflakeError(SnowflakeError.CodeInvalidParameter, "name is required"))
        cat.createSchema(db, name)
        val s = cat.listSchemas(db).find(_.name.equalsIgnoreCase(name)).get
        respond(exchange, 201, obj { o =>
          o.put("name", s.name); o.put("database_name", s.database)
        })
      case ("GET", Seq(db, "schemas", schema)) =>
        cat.listSchemas(db).find(_.name.equalsIgnoreCase(schema)) match {
          case Some(s) => respond(exchange, 200, obj { o =>
            o.put("name", s.name); o.put("database_name", s.database)
          })
          case None => respond(exchange, 404, obj(_.put("message", s"schema $schema not found")))
        }
      case ("DELETE", Seq(db, "schemas", schema)) =>
        // 204 no-content (`rest_api_v2.go:501`)
        cat.dropSchema(db, schema); respondNoContent(exchange)
      // tables — TableResponse field names per reference
      // `types/rest_api_v2.go:140-150` (name, database_name, schema_name,
      // table_type)
      case ("GET", Seq(db, "schemas", schema, "tables")) =>
        respond(exchange, 200,
          arr(cat.listTables(db).filter(_.schema.equalsIgnoreCase(schema))) { (o, t) =>
            o.put("name", t.table); o.put("database_name", t.database)
            o.put("schema_name", t.schema); o.put("table_type", t.tableType)
          })
      case ("POST", Seq(db, "schemas", schema, "tables")) =>
        val body = readJson(exchange)
        val name = textOf(body, "name").getOrElse(
          throw SnowflakeError(SnowflakeError.CodeInvalidParameter, "name is required"))
        val cols = Option(body.get("columns")).filter(_.isArray).map { a =>
          (0 until a.size()).map { i =>
            val c = a.get(i)
            Catalog.ColumnDef(
              textOf(c, "name").getOrElse(s"C$i").toUpperCase(java.util.Locale.ROOT),
              textOf(c, "datatype").orElse(textOf(c, "type")).getOrElse("VARCHAR"),
              nullable = Option(c.get("nullable")).forall(_.asBoolean(true)))
          }.toSeq
        }.getOrElse(throw SnowflakeError(SnowflakeError.CodeInvalidParameter,
          "columns are required"))
        cat.createTable(TableNaming.parse(s"$db.$schema.$name", db, schema), cols)
        // 201 + TableResponse (`rest_api_v2.go:726`)
        val created = cat.getTable(TableNaming.parse(s"$db.$schema.$name", db, schema)).get
        respond(exchange, 201, obj { o =>
          o.put("name", created.table); o.put("database_name", created.database)
          o.put("schema_name", created.schema); o.put("table_type", created.tableType)
        })
      case ("GET", Seq(db, "schemas", schema, table)) if segs.size == 4 =>
        respond(exchange, 404, obj(_.put("message", "not found")))
      case ("GET", Seq(db, "schemas", schema, "tables", table)) =>
        cat.getTable(TableNaming.parse(s"$db.$schema.$table", db, schema)) match {
          case Some(t) => respond(exchange, 200, obj { o =>
            o.put("name", t.table); o.put("database_name", t.database)
            o.put("schema_name", t.schema); o.put("table_type", t.tableType)
            val cs = o.putArray("columns")
            t.columns.foreach { c =>
              val cn = cs.addObject()
              cn.put("name", c.name); cn.put("datatype", c.snowflakeType)
              cn.put("nullable", c.nullable)
            }
          })
          case None => respond(exchange, 404, obj(_.put("message", s"table $table not found")))
        }
      case ("DELETE", Seq(db, "schemas", schema, "tables", table)) =>
        cat.dropTable(TableNaming.parse(s"$db.$schema.$table", db, schema))
        // 204 no-content (`rest_api_v2.go:616`)
        respondNoContent(exchange)
      // PUT .../tables/{table} — alter (comment), reference
      // `rest_api_v2.go:731-789` + `types/rest_api_v2.go:135-137`
      case ("PUT", Seq(db, "schemas", schema, "tables", table)) =>
        val ref = TableNaming.parse(s"$db.$schema.$table", db, schema)
        cat.getTable(ref) match {
          case Some(_) =>
            textOf(readJson(exchange), "comment")
              .foreach(cat.setTableComment(ref, _))
            val t = cat.getTable(ref).get
            respond(exchange, 200, obj { o =>
              o.put("name", t.table); o.put("database_name", t.database)
              o.put("schema_name", t.schema); o.put("table_type", t.tableType)
              o.put("comment", t.comment)
            })
          case None =>
            respond(exchange, 404, obj(_.put("message", s"table $table not found")))
        }
      case _ => respond(exchange, 404, obj(_.put("message", "not found")))
    }
  }

  /** /api/v2/warehouses[/{name}[:resume|:suspend]] */
  private def restWarehouses(exchange: HttpExchange): Unit = {
    val seg = exchange.getRequestURI.getPath
      .stripPrefix("/api/v2/warehouses").stripPrefix("/")
    val method = exchange.getRequestMethod
    val wm = executor.warehouses
    // WarehouseResponse shape per reference `types/rest_api_v2.go:165-175`
    // (name, state, size, type, auto_suspend, auto_resume, created_on) —
    // the e2e pins create=201+SUSPENDED, resume=200+ACTIVE,
    // suspend=200+SUSPENDED, delete=204 (`rest_api_v2_test.go:442-596`)
    def whJson(o: ObjectNode, w: wm.Warehouse): Unit = {
      o.put("name", w.name); o.put("state", w.state); o.put("size", w.size)
      o.put("type", "STANDARD")
      o.put("auto_suspend", w.autoSuspend); o.put("auto_resume", w.autoResume)
      ()
    }
    (method, seg) match {
      case ("GET", "") =>
        respond(exchange, 200, arr(wm.list())(whJson))
      case ("POST", "") =>
        val body = readJson(exchange)
        val name = textOf(body, "name").getOrElse(
          throw SnowflakeError(SnowflakeError.CodeInvalidParameter, "name is required"))
        // the reference's WarehouseRequest marshals size under the
        // "warehouse_size" json tag (`types/rest_api_v2.go:158`); accept
        // a bare "size" too for lenient clients
        val w = wm.create(name, textOf(body, "warehouse_size")
          .orElse(textOf(body, "size")).getOrElse("X-SMALL"))
        respond(exchange, 201, obj(whJson(_, w)))
      case ("POST", s) if s.endsWith(":resume") =>
        val w = wm.resume(s.stripSuffix(":resume"))
        respond(exchange, 200, obj(whJson(_, w)))
      case ("POST", s) if s.endsWith(":suspend") =>
        val w = wm.suspend(s.stripSuffix(":suspend"))
        respond(exchange, 200, obj(whJson(_, w)))
      case ("GET", name) =>
        wm.get(name) match {
          case Some(w) => respond(exchange, 200, obj(whJson(_, w)))
          case None => respond(exchange, 404, obj(_.put("message", s"warehouse $name not found")))
        }
      case ("DELETE", name) =>
        wm.drop(name); respondNoContent(exchange)
      case _ => respond(exchange, 404, obj(_.put("message", "not found")))
    }
  }

  private def arr[A](items: Seq[A])(f: (ObjectNode, A) => Unit): ArrayNode = {
    val a = mapper.createArrayNode()
    items.foreach { it => f(a.addObject(), it) }
    a
  }

  /** Rows per REST v2 result partition. Results larger than this return
    * partition 0 inline with `resultSetMetaData.partitionInfo` describing
    * the rest, fetched via GET `?partition=N` — Snowflake's large-result
    * shape. */
  private def resultPartitionRows: Int = executor.knobs.resultPartitionRows

  private def statementResponse(st: statements.Statement,
      result: Option[Executor.Result], error: Option[SnowflakeError],
      partition: Int = 0): ObjectNode =
    obj { o =>
      o.put("statementHandle", st.handle)
      o.put("statementStatusUrl", "/api/v2/statements/" + st.handle)
      o.put("createdOn", System.currentTimeMillis())
      error match {
        case Some(e) =>
          o.put("code", e.code)
          o.put("sqlState", e.sqlState)
          o.put("message", e.getMessage)
        case None => result match {
          case Some(r) =>
            o.put("code", "090001")
            o.put("sqlState", SnowflakeError.SQLStateSuccess)
            o.put("message", "Statement executed successfully.")
            val md = o.putObject("resultSetMetaData")
            md.put("numRows", r.rowsAffected.getOrElse(r.rows.size.toLong))
            md.put("format", "jsonv2")
            putRowType(md.putArray("rowType"), r)
            // partitionInfo is always present (Snowflake's SQL API shape);
            // data carries the REQUESTED partition — 0 on submit, any
            // other via the GET ?partition=N fetch
            val parts = r.rows.grouped(resultPartitionRows).toIndexedSeq
            val pi = md.putArray("partitionInfo")
            (if (parts.isEmpty) IndexedSeq(Seq.empty[Seq[Any]]) else parts)
              .foreach { p =>
                val e = pi.addObject()
                e.put("rowCount", p.size.toLong)
                ()
              }
            val data = o.putArray("data")
            parts.lift(partition).getOrElse(Seq.empty).foreach { row =>
              val jr = data.addArray()
              row.foreach(v => addTyped(jr, v))
            }
          case None =>
            o.put("code", "090001")
            o.put("sqlState", SnowflakeError.SQLStateSuccess)
            o.put("message", "Statement is running.")
        }
      }
    }

  // ------------------------------------------------------------------
  // helpers
  // ------------------------------------------------------------------

  private def putRowType(arr: ArrayNode, r: Executor.Result): Unit =
    r.columns.foreach { c =>
      val t = arr.addObject()
      t.put("name", c.name)
      t.put("type", c.snowflakeType.toLowerCase(java.util.Locale.ROOT))
      t.put("length", c.length)
      t.put("precision", c.precision)
      t.put("scale", c.scale)
      t.put("nullable", c.nullable)
    }

  /** gosnowflake stringification — the analog of the reference's
    * `fmt.Sprintf("%v")` loop (`query.go:179-193`). */
  private def stringify(v: Any): String = v match {
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case other => other.toString
  }

  private def addTyped(arr: ArrayNode, v: Any): Unit = v match {
    case null => arr.addNull()
    case b: Boolean => arr.add(b)
    case i: Int => arr.add(i)
    case l: Long => arr.add(l)
    case d: Double => arr.add(d)
    case f: Float => arr.add(f.toDouble)
    case s: Short => arr.add(s.toInt)
    case b: Byte => arr.add(b.toInt)
    case d: java.math.BigDecimal => arr.add(d)
    case d: scala.math.BigDecimal => arr.add(d.bigDecimal)
    case other => arr.add(stringify(other))
  }

  private def withSession(exchange: HttpExchange)(
      f: sessions.Session => Unit): Unit =
    tokenOf(exchange).flatMap(sessions.validate) match {
      case Some(s) => f(s)
      case None => respond(exchange, 200, gosnowflakeError(
        SnowflakeError(SnowflakeError.CodeSessionNotFound, "session not found")))
    }

  /** `Authorization: Snowflake Token="…"` or `Bearer …`
    * (reference `handlers/session.go:329-355`). */
  private def tokenOf(exchange: HttpExchange): Option[String] =
    Option(exchange.getRequestHeaders.getFirst("Authorization")).flatMap { h =>
      val sf = """Snowflake\s+Token="([^"]+)"""".r
      sf.findFirstMatchIn(h).map(_.group(1))
        .orElse(if (h.startsWith("Bearer ")) Some(h.stripPrefix("Bearer ")) else None)
    }

  private def gosnowflakeError(e: SnowflakeError): ObjectNode =
    obj { o =>
      o.put("success", false)
      o.put("code", e.code)
      o.put("message", e.getMessage)
      val d = o.putObject("data")
      d.put("sqlState", e.sqlState)
    }

  private def parseBindings(node: JsonNode): Map[String, Bindings.Binding] =
    if (node == null || !node.isObject) Map.empty
    else {
      val it = node.fields()
      val b = Map.newBuilder[String, Bindings.Binding]
      while (it.hasNext) {
        val e = it.next()
        b += e.getKey -> Bindings.Binding(
          textOf(e.getValue, "type").getOrElse("TEXT"),
          textOf(e.getValue, "value").getOrElse(""))
      }
      b.result()
    }

  private def readJson(exchange: HttpExchange): JsonNode = {
    val bytes = exchange.getRequestBody.readAllBytes()
    if (bytes.isEmpty) mapper.createObjectNode()
    else mapper.readTree(bytes)
  }

  private def textOf(n: JsonNode, field: String): Option[String] =
    Option(n.get(field)).filterNot(_.isNull).map(_.asText())

  private def queryParams(exchange: HttpExchange): Map[String, String] =
    Option(exchange.getRequestURI.getQuery).map { q =>
      q.split('&').toSeq.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(k -> java.net.URLDecoder.decode(v, "UTF-8"))
          case _ => None
        }
      }.toMap
    }.getOrElse(Map.empty)

  private def obj(f: ObjectNode => Unit): ObjectNode = {
    val o = mapper.createObjectNode()
    f(o)
    o
  }

  /** 204 No Content — the REST v2 delete contract (no body). */
  private def respondNoContent(exchange: HttpExchange): Unit =
    exchange.sendResponseHeaders(204, -1)

  private def respond(exchange: HttpExchange, status: Int, body: JsonNode): Unit = {
    val bytes = mapper.writeValueAsBytes(body)
    exchange.getResponseHeaders.set("Content-Type", "application/json")
    exchange.sendResponseHeaders(status, bytes.length)
    val os = exchange.getResponseBody
    os.write(bytes)
    os.close()
  }
}

object EmulatorServer {
  // The JDK server writes a response's headers and body as two segments;
  // with Nagle on, the body waits for the client's delayed ACK of the
  // headers (40 ms on Linux) on every small response. The server reads
  // this property once, when it loads its configuration at the first
  // HttpServer.create, so it is set here, ahead of that; a value the user
  // set explicitly wins.
  if (System.getProperty("sun.net.httpserver.nodelay") == null)
    System.setProperty("sun.net.httpserver.nodelay", "true")

  private def newHttpServer(port: Int): HttpServer =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  /** Wire up a complete emulator (session factory + managers + server).
    * Without a `stageRoot` the server makes a temporary one and deletes it
    * when it stops. */
  def apply(spark: org.apache.spark.sql.SparkSession, port: Int = 0,
      stageRoot: Option[java.nio.file.Path] = None): EmulatorServer = {
    val root = stageRoot.getOrElse(java.nio.file.Files.createTempDirectory("graft_stages"))
    val catalog = new Catalog(spark)
    // history persists under the warehouse dir (the reference keeps its
    // _metadata_query_history table in the same DuckDB file as the data),
    // so a server restart over the same warehouse keeps QUERY_HISTORY
    val historyFile = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "_graft_query_history.jsonl")
    val executor = new Executor(catalog, new graft.stage.StageManager(root),
      new WarehouseManager(), new QueryHistory(persistPath = Some(historyFile)))
    new EmulatorServer(executor, new SessionManager(), new StatementManager(), port,
      ownedStageRoot = if (stageRoot.isEmpty) Some(root) else None)
  }
}
