package graft.server

import com.fasterxml.jackson.databind.ObjectMapper
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end protocol tests through real HTTP sockets — the analog of the
  * reference's server integration suite
  * (`tests/integration/server_integration_test.go:107-1014`: login,
  * query flow, error shapes, sessions) and REST v2 e2e
  * (`tests/e2e/rest_api_v2_test.go`: statements, bindings validation,
  * handle status URL, cancel).
  */
class EmulatorServerSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private lazy val server = {
    val s = EmulatorServer(graft.GraftSession.local(4))
    s.start()
    s
  }
  private lazy val base = s"http://127.0.0.1:${server.actualPort}"
  private val client = HttpClient.newHttpClient()

  private def post(path: String, body: String, headers: Seq[(String, String)] = Nil,
      base: String = base) = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .header("Content-Type", "application/json")
    headers.foreach { case (k, v) => b.header(k, v) }
    val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), mapper.readTree(resp.body()))
  }

  private def get(path: String, headers: Seq[(String, String)] = Nil,
      base: String = base) = {
    val b = HttpRequest.newBuilder(URI.create(base + path)).GET()
    headers.foreach { case (k, v) => b.header(k, v) }
    val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), mapper.readTree(resp.body()))
  }

  private def login(base: String): String = {
    val (_, body) = post(
      "/session/v1/login-request?databaseName=TEST_DB&schemaName=PUBLIC",
      """{"data":{"LOGIN_NAME":"tester","PASSWORD":"anything"}}""", base = base)
    assert(body.get("success").asBoolean())
    body.get("data").get("token").asText()
  }
  private lazy val token: String = login(base)
  private def auth = Seq("Authorization" -> s"""Snowflake Token="$token"""")

  private def query(sql: String, auth: => Seq[(String, String)] = auth, base: String = base) = {
    val sqlEsc = sql.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ")
    post("/queries/v1/query-request", s"""{"sqlText":"$sqlEsc"}""", auth, base)
  }

  /** A second server over the same Spark session whose executor runs on
    * `knobs`, stopped after `body` (given its base URL). */
  private def withServer(knobs: graft.Knobs)(body: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_stages")
    val ex = new graft.emulator.Executor(new graft.emulator.Catalog(server.executor.catalog.spark),
      new graft.stage.StageManager(root), new graft.emulator.WarehouseManager(),
      new graft.emulator.QueryHistory(), knobs)
    val s = new EmulatorServer(ex, new graft.emulator.SessionManager(),
      new graft.emulator.StatementManager(), ownedStageRoot = Some(root))
    s.start()
    try body(s"http://127.0.0.1:${s.actualPort}") finally s.stop()
  }

  test("health endpoint") {
    val (code, body) = get("/health")
    assert(code == 200 && body.get("status").asText() == "ok")
  }

  test("small responses do not wait for a delayed ACK: 50 keep-alive /health round trips, p50 < 20 ms") {
    // headers and body leave as two segments; with Nagle on, each body
    // waits out the client's delayed ACK (>= 40 ms on Linux)
    val keepAlive = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val req = HttpRequest.newBuilder(URI.create(base + "/health")).GET().build()
    keepAlive.send(req, HttpResponse.BodyHandlers.ofString()) // connect
    val ms = (1 to 50).map { _ =>
      val t0 = System.nanoTime()
      val resp = keepAlive.send(req, HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    assert(ms(25) < 20.0, s"p50 ${ms(25)} ms; sorted round trips: $ms")
  }

  test("login issues tokens and default parameters") {
    val (_, body) = post("/session/v1/login-request",
      """{"data":{"LOGIN_NAME":"u2","PASSWORD":"p"}}""")
    assert(body.get("success").asBoolean())
    val d = body.get("data")
    assert(d.get("token").asText().nonEmpty)
    assert(d.get("masterToken").asText().nonEmpty)
    val params = d.get("parameters").elements()
    var found = false
    while (params.hasNext) {
      val p = params.next()
      if (p.get("name").asText() == "TIMEZONE")
        found = p.get("value").asText() == "UTC"
    }
    assert(found, "TIMEZONE=UTC parameter expected")
  }

  test("login without LOGIN_NAME fails with auth error code") {
    val (code, body) = post("/session/v1/login-request", """{"data":{}}""")
    assert(code == 200) // errors ride HTTP 200 in this protocol
    assert(!body.get("success").asBoolean())
    assert(body.get("code").asText() == "390100")
  }

  test("gosnowflake query flow: DDL + DML + SELECT with string rowset") {
    val (_, c) = query("CREATE TABLE gs_users (id INTEGER, name VARCHAR(50), score NUMBER(5,2))")
    assert(c.get("success").asBoolean())
    val (_, i) = query("INSERT INTO gs_users VALUES (1, 'Ann', 90.5), (2, 'Ben', 80.25)")
    assert(i.get("success").asBoolean())
    assert(i.get("data").get("total").asLong() == 2L)
    val (_, s) = query("SELECT id, name, IFF(score >= 90, 'A', 'B') AS grade FROM gs_users ORDER BY id")
    assert(s.get("success").asBoolean())
    val data = s.get("data")
    assert(data.get("statementTypeId").asLong() == 1L)
    assert(data.get("queryResultFormat").asText() == "json")
    val rowset = data.get("rowset")
    assert(rowset.size() == 2)
    // all-strings rowset, like the reference's convertRowsToStrings
    assert(rowset.get(0).get(0).asText() == "1")
    assert(rowset.get(0).get(1).asText() == "Ann")
    assert(rowset.get(0).get(2).asText() == "A")
    val rowtype = data.get("rowtype")
    assert(rowtype.get(0).get("type").asText() == "number")
    assert(rowtype.get(1).get("type").asText() == "text")
  }

  test("query errors: HTTP 200 + success:false + snowflake code") {
    val (code, body) = query("SELECT * FROM table_that_does_not_exist")
    assert(code == 200)
    assert(!body.get("success").asBoolean())
    assert(body.get("code").asText() == "001003")
    assert(body.get("data").get("sqlState").asText() == "42000")
  }

  test("oversized result fails cleanly over the wire instead of OOMing the server") {
    withServer(graft.Knobs.jvm.copy(maxResultRows = 50)) { base =>
      val auth = Seq("Authorization" -> s"""Snowflake Token="${login(base)}"""")
      def query(sql: String) = this.query(sql, auth, base)
      val (code, body) = query("SELECT id FROM range(1000)")
      assert(code == 200) // errors ride HTTP 200 in this protocol
      assert(!body.get("success").asBoolean())
      assert(body.get("code").asText() == "001007")
      assert(body.get("message").asText().contains("maximum of 50 rows"))
      // a capped query on the same session still succeeds afterwards
      val (_, ok) = query("SELECT id FROM range(1000) LIMIT 50")
      assert(ok.get("success").asBoolean())
      assert(ok.get("data").get("rowset").size() == 50)
    }
  }

  test("unauthorized query rejected with session error") {
    val (_, body) = post("/queries/v1/query-request", """{"sqlText":"SELECT 1"}""")
    assert(!body.get("success").asBoolean())
    assert(body.get("code").asText() == "390144")
  }

  test("token renewal via master token") {
    val (_, login) = post("/session/v1/login-request",
      """{"data":{"LOGIN_NAME":"u3","PASSWORD":"p"}}""")
    val master = login.get("data").get("masterToken").asText()
    val (_, renewed) = post("/session/token-request",
      s"""{"data":{"masterToken":"$master"}}""")
    assert(renewed.get("success").asBoolean())
    assert(renewed.get("data").get("sessionToken").asText().nonEmpty)
  }

  test("heartbeat + logout lifecycle") {
    val (_, login) = post("/session/v1/login-request",
      """{"data":{"LOGIN_NAME":"u4","PASSWORD":"p"}}""")
    val t = login.get("data").get("token").asText()
    val a = Seq("Authorization" -> s"""Snowflake Token="$t"""")
    val (_, hb) = post("/session/heartbeat", "", a)
    assert(hb.get("success").asBoolean())
    val (_, out) = post("/session?delete=true", "", a)
    assert(out.get("success").asBoolean())
    val (_, hb2) = post("/session/heartbeat", "", a)
    assert(!hb2.get("success").asBoolean())
  }

  test("USE switches session context") {
    val (_, r1) = query("CREATE DATABASE other_db")
    assert(r1.get("success").asBoolean())
    assert(query("USE DATABASE other_db")._2.get("success").asBoolean())
    assert(query("CREATE TABLE ot (x INTEGER)")._2.get("success").asBoolean())
    val (_, s) = query("SHOW TABLES")
    val names = (0 until s.get("data").get("rowset").size())
      .map(i => s.get("data").get("rowset").get(i).get(0).asText())
    assert(names.contains("OT"))
    assert(query("USE DATABASE test_db")._2.get("success").asBoolean())
  }

  test("session endpoints: /renew, /use, /logout") {
    val (_, login) = post("/session/v1/login-request",
      """{"data":{"LOGIN_NAME":"u5","PASSWORD":"p"}}""")
    val t0 = login.get("data").get("token").asText()
    val master = login.get("data").get("masterToken").asText()
    // /session/renew delegates to token renewal (reference session.go:224-227)
    val (_, renewed) = post("/session/renew", s"""{"data":{"masterToken":"$master"}}""")
    assert(renewed.get("success").asBoolean(), renewed)
    val t1 = renewed.get("data").get("sessionToken").asText()
    assert(t1.nonEmpty && t1 != t0)
    // /session/use switches database/schema by token in the body
    val a1 = Seq("Authorization" -> s"""Snowflake Token="$t1"""")
    post("/queries/v1/query-request",
      """{"sqlText":"CREATE DATABASE use_db"}""", a1)
    val (_, used) = post("/session/use",
      s"""{"token":"$t1","database":"USE_DB","schema":"PUBLIC"}""")
    assert(used.get("success").asBoolean(), used)
    val (_, shown) = post("/queries/v1/query-request",
      """{"sqlText":"CREATE TABLE use_t (x INTEGER)"}""", a1)
    assert(shown.get("success").asBoolean())
    val (_, sel) = post("/queries/v1/query-request",
      """{"sqlText":"SELECT * FROM use_db.public.use_t"}""", a1)
    assert(sel.get("success").asBoolean())
    // /session/logout closes by token in the body
    val (_, out) = post("/session/logout", s"""{"token":"$t1"}""")
    assert(out.get("success").asBoolean(), out)
    val (_, hb) = post("/session/heartbeat", "", a1)
    assert(!hb.get("success").asBoolean())
    // unknown session: use fails with invalid-parameter error
    val (_, bad) = post("/session/use", """{"token":"nope","database":"X"}""")
    assert(!bad.get("success").asBoolean())
    assert(bad.get("code").asText() == "000002")
  }

  test("REST v2 PUT alters: database and table comments") {
    val mk = post("/api/v2/databases", """{"name":"alter_db"}""")
    assert(mk._1 == 201) // creates are 201 per reference rest_api_v2.go:348
    assert(post("/api/v2/databases/alter_db/schemas", """{"name":"s1"}""")._1 == 201)
    val cols = """{"name":"t1","columns":[{"name":"id","datatype":"INTEGER"}]}"""
    assert(post("/api/v2/databases/alter_db/schemas/s1/tables", cols)._1 == 201)
    def put(path: String, body: String) = {
      val b = HttpRequest.newBuilder(URI.create(base + path))
        .PUT(HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json")
      val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), mapper.readTree(resp.body()))
    }
    val (dc, dbody) = put("/api/v2/databases/alter_db", """{"comment":"db note"}""")
    assert(dc == 200 && dbody.get("comment").asText() == "db note", dbody)
    val (tc, tbody) = put("/api/v2/databases/alter_db/schemas/s1/tables/t1",
      """{"comment":"tbl note"}""")
    assert(tc == 200 && tbody.get("comment").asText() == "tbl note", tbody)
    assert(tbody.get("name").asText() == "T1")
    assert(tbody.get("table_type").asText() == "BASE TABLE")
    // 404s for unknown objects
    assert(put("/api/v2/databases/no_such_db", """{"comment":"x"}""")._1 == 404)
    assert(put("/api/v2/databases/alter_db/schemas/s1/tables/nope",
      """{"comment":"x"}""")._1 == 404)
  }

  test("REST v2: submit statement, replay by handle, status url") {
    val (_, sub) = post("/api/v2/statements",
      """{"statement":"SELECT id, name FROM gs_users ORDER BY id","database":"TEST_DB","schema":"PUBLIC"}""",
      Seq("Authorization" -> s"Bearer $token"))
    assert(sub.get("code").asText() == "090001")
    val handle = sub.get("statementHandle").asText()
    assert(handle.startsWith("01") && handle.length == 34)
    assert(sub.get("statementStatusUrl").asText() == s"/api/v2/statements/$handle")
    assert(sub.get("resultSetMetaData").get("numRows").asLong() == 2L)
    assert(sub.get("resultSetMetaData").get("format").asText() == "jsonv2")
    // typed data: numbers are numbers in v2 (not strings)
    assert(sub.get("data").get(0).get(0).isNumber)
    assert(sub.get("data").get(0).get(1).asText() == "Ann")
    assert(sub.get("createdOn").isNumber) // ms epoch (rest_api_v2_test.go:841)
    // replay
    val (_, replay) = get(s"/api/v2/statements/$handle")
    assert(replay.get("data").get(1).get(1).asText() == "Ben")
  }

  test("REST v2: large result pages by partition (partitionInfo + ?partition=N)") {
    withServer(graft.Knobs.jvm.copy(resultPartitionRows = 10)) { base =>
      def post(path: String, body: String) = this.post(path, body, base = base)
      def get(path: String) = this.get(path, base = base)
      val (_, sub) = post("/api/v2/statements",
        """{"statement":"SELECT seq4() AS n FROM TABLE(GENERATOR(ROWCOUNT => 25)) ORDER BY n","database":"TEST_DB"}""")
      assert(sub.get("code").asText() == "090001", sub)
      val handle = sub.get("statementHandle").asText()
      // partitionInfo: 25 rows at 10/partition -> 10, 10, 5
      val pi = sub.get("resultSetMetaData").get("partitionInfo")
      assert(pi.size() == 3, pi)
      assert(pi.get(0).get("rowCount").asLong() == 10L)
      assert(pi.get(2).get("rowCount").asLong() == 5L)
      assert(sub.get("resultSetMetaData").get("numRows").asLong() == 25L)
      // submit response carries partition 0 inline
      assert(sub.get("data").size() == 10)
      assert(sub.get("data").get(0).get(0).asLong() == 0L)
      // each further partition fetched by index, same envelope
      val (_, p1) = get(s"/api/v2/statements/$handle?partition=1")
      assert(p1.get("data").size() == 10)
      assert(p1.get("data").get(0).get(0).asLong() == 10L)
      val (_, p2) = get(s"/api/v2/statements/$handle?partition=2")
      assert(p2.get("data").size() == 5)
      assert(p2.get("data").get(4).get(0).asLong() == 24L)
      // out-of-range partition is a clean 422, not an empty success
      val (code422, err) = get(s"/api/v2/statements/$handle?partition=3")
      assert(code422 == 422, err)
      assert(err.get("message").asText().contains("out of range"))
      // a single-partition result still carries partitionInfo (one entry)
      val (_, small) = post("/api/v2/statements",
        """{"statement":"SELECT 1 AS one","database":"TEST_DB"}""")
      assert(small.get("resultSetMetaData").get("partitionInfo").size() == 1)
    }
  }

  test("REST v2: COPY unload + reload round-trip over the wire") {
    post("/api/v2/statements",
      """{"statement":"CREATE STAGE wire_un","database":"TEST_DB"}""")
    val (_, u) = post("/api/v2/statements",
      """{"statement":"COPY INTO @wire_un/x FROM (SELECT id, name FROM gs_users) FILE_FORMAT = (TYPE = PARQUET)","database":"TEST_DB"}""")
    assert(u.get("data").get(0).get(0).asLong() >= 1L, u.toString)
    post("/api/v2/statements",
      """{"statement":"CREATE TABLE wire_rt (id INTEGER, name VARCHAR)","database":"TEST_DB"}""")
    val (_, c) = post("/api/v2/statements",
      """{"statement":"COPY INTO wire_rt FROM @wire_un/x PATTERN = '.*\\.parquet' FILE_FORMAT = (TYPE = PARQUET)","database":"TEST_DB"}""")
    assert(c.get("code").asText() == "090001", c.toString)
    val (_, q) = post("/api/v2/statements",
      """{"statement":"SELECT COUNT(*) AS n FROM wire_rt","database":"TEST_DB"}""")
    assert(q.get("data").get(0).get(0).asLong() ==
      u.get("data").get(0).get(0).asLong(), "round trip must be lossless")
  }

  test("REST v2: DML returns rows-affected shape") {
    val (_, r) = post("/api/v2/statements",
      """{"statement":"UPDATE gs_users SET score = 99.0 WHERE id = 1","database":"TEST_DB"}""")
    assert(r.get("code").asText() == "090001")
    assert(r.get("resultSetMetaData").get("numRows").asLong() == 1L)
    assert(r.get("resultSetMetaData").get("rowType").get(0).get("name").asText()
      == "number of rows updated")
  }

  test("REST v2: bindings with validation error (bad date rejected)") {
    val (_, ok) = post("/api/v2/statements",
      """{"statement":"SELECT name FROM gs_users WHERE id = :1",
         "database":"TEST_DB",
         "bindings":{"1":{"type":"FIXED","value":"2"}}}""")
    assert(ok.get("data").get(0).get(0).asText() == "Ben")
    val (_, bad) = post("/api/v2/statements",
      """{"statement":"SELECT * FROM gs_users WHERE created < :1",
         "bindings":{"1":{"type":"DATE","value":"not-a-date"}}}""")
    assert(bad.get("code").asText() == "001003")
    assert(bad.get("message").asText().contains("invalid DATE"))
  }

  test("REST v2: unknown handle 404; merge through v2") {
    val (code, _) = get("/api/v2/statements/01ffffffffffffffffffffffffffffffff")
    assert(code == 404)
    post("/api/v2/statements",
      """{"statement":"CREATE TABLE m_src (id INTEGER, v NUMBER(5,2))","database":"TEST_DB"}""")
    post("/api/v2/statements",
      """{"statement":"INSERT INTO m_src VALUES (1, 10.0), (7, 70.0)","database":"TEST_DB"}""")
    val (_, m) = post("/api/v2/statements",
      """{"statement":"MERGE INTO gs_users t USING m_src s ON t.id = s.id WHEN MATCHED THEN UPDATE SET t.score = s.v WHEN NOT MATCHED THEN INSERT (id, name, score) VALUES (s.id, 'merged', s.v)","database":"TEST_DB"}""")
    assert(m.get("code").asText() == "090001")
    assert(m.get("resultSetMetaData").get("numRows").asLong() == 2L)
  }

  test("telemetry accepted and ignored") {
    val (code, _) = post("/telemetry/send", """{"logs":[]}""")
    assert(code == 200)
  }

  private def req(method: String, path: String, body: String = "") = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
      .method(method, if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
        else HttpRequest.BodyPublishers.ofString(body))
      .header("Content-Type", "application/json")
    val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    // 204 deletes carry no body
    (resp.statusCode(), if (resp.body().isEmpty) mapper.createObjectNode()
      else mapper.readTree(resp.body()))
  }

  test("REST v2 object CRUD: databases, schemas, tables, warehouses") {
    // databases (reference main.go:100-106; create is 201+DatabaseResponse
    // per rest_api_v2.go:348)
    val (c1, created) = req("POST", "/api/v2/databases", """{"name":"crud_db"}""")
    assert(c1 == 201)
    assert(created.get("name").asText() == "CRUD_DB")
    val (c2, dbs) = req("GET", "/api/v2/databases")
    assert(c2 == 200)
    assert((0 until dbs.size()).exists(i => dbs.get(i).get("name").asText() == "CRUD_DB"))
    val (conflict, _) = req("POST", "/api/v2/databases", """{"name":"crud_db"}""")
    assert(conflict == 409)
    // schemas (main.go:108-112; create is 201 per rest_api_v2.go:474)
    assert(req("POST", "/api/v2/databases/crud_db/schemas", """{"name":"s1"}""")._1 == 201)
    val (_, schemas) = req("GET", "/api/v2/databases/crud_db/schemas")
    assert((0 until schemas.size()).map(schemas.get(_).get("name").asText()).toSet
      == Set("PUBLIC", "S1"))
    // tables with typed columns (main.go:114-119; ColumnDef shape rest_api_v2.go:121-127)
    val (ct, _) = req("POST", "/api/v2/databases/crud_db/schemas/s1/tables",
      """{"name":"t1","columns":[
          {"name":"id","datatype":"NUMBER(10,0)","nullable":false},
          {"name":"label","datatype":"VARCHAR(50)"}]}""")
    assert(ct == 201)
    val (gt, table) = req("GET", "/api/v2/databases/crud_db/schemas/s1/tables/t1")
    assert(gt == 200)
    assert(table.get("columns").get(0).get("datatype").asText() == "NUMBER(10,0)")
    assert(!table.get("columns").get(0).get("nullable").asBoolean())
    // table visible to SQL through the same catalog
    val (_, ins) = post("/api/v2/statements",
      """{"statement":"INSERT INTO s1.t1 VALUES (1, 'x')","database":"CRUD_DB"}""")
    assert(ins.get("code").asText() == "090001")
    // warehouses (main.go:121-126; shapes rest_api_v2_test.go:442-596:
    // create=201+SUSPENDED, resume=ACTIVE, delete=204)
    val (cw, wNew) = req("POST", "/api/v2/warehouses",
      """{"name":"wh_v2","warehouse_size":"SMALL"}""")
    assert(cw == 201)
    assert(wNew.get("state").asText() == "SUSPENDED")
    val (_, wAct) = req("POST", "/api/v2/warehouses/wh_v2:resume")
    assert(wAct.get("state").asText() == "ACTIVE")
    assert(req("POST", "/api/v2/warehouses/wh_v2:suspend")._2
      .get("state").asText() == "SUSPENDED")
    val (_, w) = req("GET", "/api/v2/warehouses/wh_v2")
    assert(w.get("state").asText() == "SUSPENDED")
    assert(req("DELETE", "/api/v2/warehouses/wh_v2")._1 == 204)
    assert(req("GET", "/api/v2/warehouses/wh_v2")._1 == 404)
    // deletes cascade (204 no-content per rest_api_v2.go:370,501,616)
    assert(req("DELETE", "/api/v2/databases/crud_db/schemas/s1/tables/t1")._1 == 204)
    assert(req("DELETE", "/api/v2/databases/crud_db")._1 == 204)
    assert(req("GET", "/api/v2/databases/crud_db")._1 == 404)
  }

  test("RESULT_SCAN over the gosnowflake protocol") {
    val (_, c) = query("CREATE TABLE rsp_t (id INTEGER, v VARCHAR(10))")
    assert(c.get("success").asBoolean())
    query("INSERT INTO rsp_t VALUES (1, 'a'), (2, 'b')")
    val (_, s) = query("SELECT id, v FROM rsp_t ORDER BY id")
    assert(s.get("success").asBoolean())
    val qid = s.get("data").get("queryId").asText()
    assert(qid.nonEmpty)
    val (_, scan) = query(
      s"SELECT COUNT(*) AS n FROM TABLE(RESULT_SCAN('$qid'))")
    assert(scan.get("success").asBoolean(), scan)
    assert(scan.get("data").get("rowset").get(0).get(0).asText() == "2")
  }

  test("a gosnowflake statement's Spark jobs carry its queryId as their job group") {
    query("CREATE TABLE jg_t (id INTEGER)")
    query("INSERT INTO jg_t VALUES (1), (2), (3)")
    var qid = ""
    val groups = graft.SparkJobs.groupsDuring(server.executor.catalog.spark) {
      val (_, s) = query("SELECT SUM(id) AS s FROM jg_t")
      assert(s.get("success").asBoolean(), s)
      assert(s.get("data").get("rowset").get(0).get(0).asText() == "6")
      qid = s.get("data").get("queryId").asText()
    }
    assert(qid.nonEmpty && groups.contains(qid), s"queryId $qid, job groups $groups")
  }

  test("abort-request cancels a running gosnowflake statement; the session then works") {
    val sc = server.executor.catalog.spark.sparkContext
    val requestId = java.util.UUID.randomUUID().toString
    val marker = s"slow_${requestId.take(8)}"
    // ~25 s of task time on 4 cores: 2000 rows sleeping 50 ms each (the
    // row-dependent argument keeps the call from being constant-folded)
    val slowSql = s"SELECT COUNT(z) AS $marker FROM (SELECT reflect('java.lang.Thread', " +
      "'sleep', CAST(50 + id * 0 AS BIGINT)) AS z FROM range(0, 2000, 1, 4))"
    val started = new java.util.concurrent.CountDownLatch(1)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val d = Option(e.properties).map(_.toString).getOrElse("")
        seen.add(d)
        if (d.contains(marker)) started.countDown()
      }
    }
    sc.addSparkListener(listener)
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val t0 = System.nanoTime()
      val slow = pool.submit(() => post(s"/queries/v1/query-request?requestId=$requestId",
        s"""{"sqlText":"$slowSql"}""", auth))
      if (!started.await(60, java.util.concurrent.TimeUnit.SECONDS))
        fail(s"slow job never started: ${if (slow.isDone) slow.get()._2 else "pending"} $seen")
      val (code, ab) = post("/queries/v1/abort-request",
        s"""{"sqlText":"$slowSql","requestId":"$requestId"}""", auth)
      assert(code == 200 && ab.get("success").asBoolean(), ab)
      val (_, body) = slow.get(60, java.util.concurrent.TimeUnit.SECONDS)
      val secs = (System.nanoTime() - t0) / 1e9
      assert(!body.get("success").asBoolean(), body)
      assert(body.get("code").asText() == "000604", body)
      assert(body.get("data").get("sqlState").asText() == "57014", body)
      assert(secs < 20, s"the aborted statement ran its course: $secs s")
      val (_, ok) = query("SELECT 1")
      assert(ok.get("success").asBoolean(), ok)
      assert(ok.get("data").get("rowset").get(0).get(0).asText() == "1")
      // an abort of a finished or unknown request is a harmless no-op
      val (_, again) = post("/queries/v1/abort-request",
        s"""{"requestId":"$requestId"}""", auth)
      assert(again.get("success").asBoolean())
    } finally {
      pool.shutdown()
      sc.removeSparkListener(listener)
    }
  }

  test("concurrent sessions over real sockets: isolated DDL/DML + serialized shared-table writes") {
    // the emulator's purpose is backing PARALLEL CI test suites: N
    // clients with their own sessions must not corrupt each other
    // (per-table locks serialize shared-table writers — the role the
    // reference's connection manager plays, connection/manager.go:39-43)
    def loginToken(): String = {
      val (_, body) = post(
        "/session/v1/login-request?databaseName=TEST_DB&schemaName=PUBLIC",
        """{"data":{"LOGIN_NAME":"ccr","PASSWORD":"p"}}""")
      body.get("data").get("token").asText()
    }
    def q(tok: String, sql: String) = {
      val esc = sql.replace("\\", "\\\\").replace("\"", "\\\"")
      val (_, body) = post("/queries/v1/query-request",
        s"""{"sqlText":"$esc"}""",
        Seq("Authorization" -> s"""Snowflake Token="$tok""""))
      body
    }
    assert(q(token, "CREATE TABLE ccr_shared (id INTEGER)")
      .get("success").asBoolean())
    val nThreads = 6
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    val futures = (0 until nThreads).map { i =>
      pool.submit(new Runnable {
        def run(): Unit = try {
          val tok = loginToken() // each worker is its own session
          require(q(tok, s"CREATE TABLE ccr_t$i (id INTEGER)")
            .get("success").asBoolean(), s"create ccr_t$i failed")
          for (j <- 0 until 4) {
            require(q(tok, s"INSERT INTO ccr_t$i VALUES ($j), (${j + 100})")
              .get("success").asBoolean(), s"own insert $i/$j failed")
            require(q(tok, s"INSERT INTO ccr_shared VALUES (${i * 100 + j})")
              .get("success").asBoolean(), s"shared insert $i/$j failed")
          }
          val own = q(tok, s"SELECT COUNT(*) AS n FROM ccr_t$i")
          val n = own.get("data").get("rowset").get(0).get(0).asText()
          require(n == "8", s"ccr_t$i expected 8 rows, got $n")
        } catch { case e: Throwable => errs.add(s"worker $i: ${e.getMessage}"); () }
      })
    }
    futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(errs.isEmpty, errs.toArray.mkString("; "))
    val total = q(token, "SELECT COUNT(*) AS n FROM ccr_shared")
    assert(total.get("data").get("rowset").get(0).get(0).asText() ==
      (nThreads * 4).toString, total)
  }

  // --- wire-level pinning for the surface the reference lacks: streams,
  // time travel, CLONE, UNDROP each get one REST-v2 round-trip over a
  // real socket (the reference pins its whole surface the same way,
  // tests/e2e/rest_api_v2_test.go:93-1194) -----------------------------

  private def v2(sql: String) = {
    val esc = sql.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ")
    post("/api/v2/statements",
      s"""{"statement":"$esc","database":"TEST_DB","schema":"PUBLIC"}""")._2
  }

  /** v2 with session affinity: the v1 session token rides Authorization
    * (the real SQL API's convention), binding the statement to that
    * session's ALTER SESSION state. */
  private def v2As(tok: String, sql: String) = {
    val esc = sql.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ")
    post("/api/v2/statements",
      s"""{"statement":"$esc","database":"TEST_DB","schema":"PUBLIC"}""",
      Seq("Authorization" -> s"""Snowflake Token="$tok""""))._2
  }

  test("REST v2 e2e: stream delta and DML consumption over the wire") {
    assert(v2("CREATE TABLE v2s_src (id INTEGER, v VARCHAR(10))")
      .get("code").asText() == "090001")
    v2("CREATE STREAM v2s_st ON TABLE v2s_src")
    v2("INSERT INTO v2s_src VALUES (1, 'a')")
    val d = v2("""SELECT id, "METADATA$ACTION" AS act FROM v2s_st ORDER BY id""")
    assert(d.get("resultSetMetaData").get("numRows").asLong() == 1L, d)
    assert(d.get("data").get(0).get(0).asLong() == 1L)
    assert(d.get("data").get(0).get(1).asText() == "INSERT")
    v2("CREATE TABLE v2s_sink (id INTEGER)")
    v2("INSERT INTO v2s_sink SELECT id FROM v2s_st")
    val after = v2("SELECT COUNT(*) AS n FROM v2s_st")
    assert(after.get("data").get(0).get(0).asLong() == 0L, after)
  }

  test("session variables persist across statements of one gosnowflake session") {
    // variables live on the SESSION: the gosnowflake protocol's token is
    // the session identity (REST v2 statements are per-request contexts,
    // faithfully stateless like Snowflake's SQL API)
    val (_, s1) = query("SET wirevar = 40 + 2")
    assert(s1.get("success").asBoolean(), s1)
    val (_, r) = query("SELECT $wirevar AS v")
    assert(r.get("success").asBoolean(), r)
    assert(r.get("data").get("rowset").get(0).get(0).asText() == "42", r)
    val (_, shown) = query("SHOW VARIABLES")
    val names = (0 until shown.get("data").get("rowset").size())
      .map(i => shown.get("data").get("rowset").get(i).get(0).asText())
    assert(names.contains("WIREVAR"), names)
    query("UNSET wirevar")
    val (_, err) = query("SELECT $wirevar")
    assert(!err.get("success").asBoolean(), err)
    assert(err.get("message").asText().contains("does not exist"), err)
  }

  test("REST v2 e2e: MULTI_STATEMENT_COUNT executes a sequence under one session") {
    // without the parameter, a multi-statement body is rejected (000008)
    val rejected = v2("CREATE TABLE ms_t (id INTEGER); INSERT INTO ms_t VALUES (1)")
    assert(rejected.get("code").asText() == "000008", rejected)
    // with it: children run in order, share session state (SET then $ref),
    // and each child handle replays individually
    val (_, ok) = post("/api/v2/statements",
      """{"statement":"CREATE TABLE ms_t (id INTEGER); SET msv = 41; INSERT INTO ms_t VALUES ($msv + 1); SELECT id FROM ms_t",
         "database":"TEST_DB","schema":"PUBLIC",
         "parameters":{"MULTI_STATEMENT_COUNT":"4"}}""")
    assert(ok.get("message").asText().contains("Multiple statements"), ok)
    val handles = ok.get("statementHandles")
    assert(handles.size() == 4, ok)
    // the parent's inline data is the LAST statement's result
    assert(ok.get("data").get(0).get(0).asLong() == 42L, ok)
    // a child handle replays its own result: the INSERT's rows-affected
    val (_, ins) = get(s"/api/v2/statements/${handles.get(2).asText()}")
    assert(ins.get("resultSetMetaData").get("numRows").asLong() == 1L, ins)
    // count 0 = any number; a failing statement aborts the remainder
    val (_, aborted) = post("/api/v2/statements",
      """{"statement":"INSERT INTO ms_t VALUES (2); SELECT * FROM nope_ms; INSERT INTO ms_t VALUES (3)",
         "database":"TEST_DB","schema":"PUBLIC",
         "parameters":{"MULTI_STATEMENT_COUNT":"0"}}""")
    assert(aborted.get("statementHandles").size() == 2, aborted)
    assert(aborted.get("message").asText().toLowerCase.contains("not") ||
      aborted.get("code").asText() != "090001", aborted)
    val n = v2("SELECT COUNT(*) AS n FROM ms_t")
    assert(n.get("data").get(0).get(0).asLong() == 2L, n)
  }

  test("REST v2 e2e: multi-statement transactions — commit persists, failure rolls back") {
    // a batch-scoped BEGIN..COMMIT persists its DML
    val (_, committed) = post("/api/v2/statements",
      """{"statement":"CREATE TABLE mstx (id INTEGER); BEGIN; INSERT INTO mstx VALUES (1); COMMIT",
         "database":"TEST_DB","schema":"PUBLIC",
         "parameters":{"MULTI_STATEMENT_COUNT":"4"}}""")
    assert(committed.get("message").asText().contains("Multiple statements"), committed)
    assert(v2("SELECT COUNT(*) AS n FROM mstx").get("data").get(0).get(0).asLong() == 1L)
    // a failure mid-transaction aborts the remainder AND rolls back the
    // open transaction's earlier DML — the batch is the session, and an
    // uncommitted txn dies with it
    val (_, failed) = post("/api/v2/statements",
      """{"statement":"BEGIN; INSERT INTO mstx VALUES (2); SELECT * FROM nope_mstx; INSERT INTO mstx VALUES (3)",
         "database":"TEST_DB","schema":"PUBLIC",
         "parameters":{"MULTI_STATEMENT_COUNT":"0"}}""")
    // error shape: the failing child's error surfaces on the parent, with
    // only the statements that ran listed
    assert(failed.get("statementHandles").size() == 3, failed)
    assert(failed.get("message").asText().nonEmpty, failed)
    assert(failed.get("sqlState") != null, failed)
    assert(v2("SELECT COUNT(*) AS n FROM mstx").get("data").get(0).get(0).asLong() == 1L,
      "insert inside the aborted transaction must be rolled back")
    // a batch that BEGINs but never COMMITs: the txn rolls back when the
    // batch (= its session) ends, Snowflake's end-of-session contract
    val (_, open) = post("/api/v2/statements",
      """{"statement":"BEGIN; INSERT INTO mstx VALUES (9)",
         "database":"TEST_DB","schema":"PUBLIC",
         "parameters":{"MULTI_STATEMENT_COUNT":"2"}}""")
    assert(open.get("message").asText().contains("Multiple statements"), open)
    assert(v2("SELECT COUNT(*) AS n FROM mstx").get("data").get(0).get(0).asLong() == 1L,
      "uncommitted batch transaction must roll back at end of batch")
  }

  test("REST v2 e2e: time travel AT OFFSET and AT STATEMENT by handle") {
    v2("CREATE TABLE v2tt (id INTEGER)")
    val ins1 = v2("INSERT INTO v2tt VALUES (1)")
    val h1 = ins1.get("statementHandle").asText()
    v2("INSERT INTO v2tt VALUES (2)")
    val now = v2("SELECT COUNT(*) AS n FROM v2tt AT(OFFSET => 0)")
    assert(now.has("data"), now.toString)
    assert(now.get("data").get(0).get(0).asLong() == 2L, now)
    // the v2 statement handle IS the query id time travel resolves
    val at1 = v2(s"SELECT COUNT(*) AS n FROM v2tt AT(STATEMENT => '$h1')")
    assert(at1.get("data").get(0).get(0).asLong() == 1L, at1)
  }

  test("REST v2 e2e: CLONE is an independent copy") {
    v2("CREATE TABLE v2c_src (id INTEGER)")
    v2("INSERT INTO v2c_src VALUES (1), (2)")
    v2("CREATE TABLE v2c_dst CLONE v2c_src")
    v2("INSERT INTO v2c_src VALUES (3)")
    val src = v2("SELECT COUNT(*) AS n FROM v2c_src")
    val dst = v2("SELECT COUNT(*) AS n FROM v2c_dst")
    assert(src.get("data").get(0).get(0).asLong() == 3L, src)
    assert(dst.get("data").get(0).get(0).asLong() == 2L, dst)
  }

  test("REST v2 e2e: DROP then UNDROP restores content") {
    v2("CREATE TABLE v2u_t (id INTEGER)")
    v2("INSERT INTO v2u_t VALUES (1)")
    v2("DROP TABLE v2u_t")
    val gone = v2("SELECT COUNT(*) AS n FROM v2u_t")
    assert(gone.get("code").asText() != "090001", gone)
    val und = v2("UNDROP TABLE v2u_t")
    assert(und.get("code").asText() == "090001", und)
    val back = v2("SELECT COUNT(*) AS n FROM v2u_t")
    assert(back.get("data").get(0).get(0).asLong() == 1L, back)
  }

  test("REST v2 e2e: unload + LIST + GET — the full stage-file loop over sockets") {
    // the reference's stage-file e2e inverted (its
    // server_integration_test.go:740-829 PUTs then COPYs IN; here the
    // engine unloads OUT, the client discovers the file with LIST and
    // downloads it with GET — all over the wire)
    v2("CREATE TABLE wire_getsrc (id INTEGER, name VARCHAR)")
    v2("INSERT INTO wire_getsrc VALUES (7, 'gee'), (8, 'aych')")
    v2("CREATE STAGE wire_get")
    val u = v2("COPY INTO @wire_get/exp FROM (SELECT id, name FROM wire_getsrc ORDER BY id) FILE_FORMAT = (TYPE = CSV HEADER = TRUE)")
    assert(u.get("data").get(0).get(0).asLong() == 2L, u.toString)
    // discover the unloaded part file by LIST with a glob
    val ls = v2("LIST @wire_get PATTERN = 'exp/part-.*csv'")
    assert(ls.get("data").size() == 1, ls.toString)
    // LIST names are stage-prefixed (Snowflake's `stagename/path` shape)
    val rel = ls.get("data").get(0).get(0).asText().stripPrefix("WIRE_GET/")
    assert(rel.startsWith("exp/part-"), rel)
    // download it with GET into a scratch dir and check the bytes
    val outDir = java.nio.file.Files.createTempDirectory("wire_get_dl")
    val g = v2(s"GET @wire_get/$rel file://$outDir")
    assert(g.get("data").get(0).get(2).asText() == "DOWNLOADED", g.toString)
    val fname = g.get("data").get(0).get(0).asText()
    val lines = java.nio.file.Files.readAllLines(outDir.resolve(fname))
    assert(lines.get(0) == "id,name" && lines.contains("7,gee")
      && lines.contains("8,aych"), lines.toString)
  }

  test("REST v2 e2e: pipeline table functions reachable over the wire") {
    // a SQL-only client reaches the beyond-parity selection stack: the
    // curated TABLE(FN('<dir>')) form and the generic PIPELINE form,
    // composed with WHERE/aggregation in the same statement
    val dir = "/root/testdata/sf0.001"
    val g = v2(s"SELECT COUNT(*) AS n, SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS kept FROM TABLE(GOPHER_RULES('$dir'))")
    assert(g.get("code").asText() == "090001", g.toString)
    val n = g.get("data").get(0).get(0).asLong()
    val kept = g.get("data").get(0).get(1).asLong()
    assert(n > 0L && kept > 0L && kept < n, g.toString)
    val p = v2(s"SELECT predicted, COUNT(*) AS docs FROM TABLE(PIPELINE('p08_lang_id', '$dir')) GROUP BY predicted ORDER BY predicted")
    assert(p.get("code").asText() == "090001", p.toString)
    assert(p.get("data").size() > 0, p.toString)
    // a missing dir is a clean SQL error on the wire, not a 500
    val bad = v2("SELECT * FROM TABLE(EXACT_DEDUP())")
    assert(bad.get("message").asText().contains("GRAFT_PIPELINE_DIR"), bad.toString)
  }

  test("REST v2 e2e: r11-late table functions (phrase BM25, query fans, tokenizers, JL)") {
    val dir = "/root/testdata/sf0.001"
    // phrase + AND through a real socket: the conjunctive gate admits
    // the same docs as the oracle-pinned batch entry p29b (both k caps
    // exceed the match count on this corpus, so the counts agree); the
    // k dial itself is session-scoped and spec'd in ExecutorSpec 69d
    val ph = v2(s"""SELECT COUNT(*) AS n FROM TABLE(BM25_SEARCH('"table hash" AND vector', '$dir')) WHERE score_r > 0""")
    assert(ph.get("code").asText() == "090001", ph.toString)
    val nWire = ph.get("data").get(0).get(0).asLong()
    val pb = v2(s"SELECT COUNT(*) AS n FROM TABLE(PHRASE_BM25('$dir')) WHERE score_r > 0")
    assert(pb.get("code").asText() == "090001", pb.toString)
    assert(nWire > 0L && nWire == pb.get("data").get(0).get(0).asLong(),
      s"$ph vs $pb")
    // the many-queries fans return one block per query over the wire
    val mm = v2(s"SELECT query_id, COUNT(*) AS picks FROM TABLE(MMR_MANY('$dir')) GROUP BY query_id ORDER BY query_id")
    assert(mm.get("code").asText() == "090001", mm.toString)
    assert(mm.get("data").size() == 4, mm.toString)
    // tokenizer comparison: three families, identical occurrence mass
    val tc = v2(s"SELECT tokenizer, occurrences FROM TABLE(PIPELINE('p69_tokenizer_compare', '$dir')) ORDER BY tokenizer")
    assert(tc.get("code").asText() == "090001", tc.toString)
    assert(tc.get("data").size() == 3, tc.toString)
    val occs = (0 until 3).map(i => tc.get("data").get(i).get(1).asText()).distinct
    assert(occs.size == 1, s"occurrence mass must match across families: $occs")
    // WordPiece segments compose with WHERE on the wire
    val wp = v2(s"SELECT COUNT(*) AS multi FROM TABLE(WORDPIECE_SEGMENTS('$dir')) WHERE n_pieces > 1")
    assert(wp.get("code").asText() == "090001", wp.toString)
    assert(wp.get("data").get(0).get(0).asLong() > 0L, wp.toString)
    // JL distortion rows arrive with their ratio column
    val jl = v2(s"SELECT COUNT(*) AS n FROM TABLE(JL_DISTORTION('$dir')) WHERE ratio_r IS NOT NULL")
    assert(jl.get("code").asText() == "090001", jl.toString)
    assert(jl.get("data").get(0).get(0).asLong() > 0L, jl.toString)
  }

  test("REST v2 e2e: r12 table functions (Hedge mix, MaxSim, CDC chunks)") {
    val dir = "/root/testdata/sf0.001"
    // Hedge: 6 rounds, each round's weights a distribution at 2dp
    val hm = v2(s"SELECT t, COUNT(*) AS d, round(SUM(weight_r), 2) AS tot FROM TABLE(HEDGE_MIX('$dir')) GROUP BY t ORDER BY t")
    assert(hm.get("code").asText() == "090001", hm.toString)
    assert(hm.get("data").size() == 6, hm.toString)
    (0 until 6).foreach { i =>
      assert(hm.get("data").get(i).get(2).asText().toDouble == 1.0, hm.toString)
    }
    // MaxSim: the top-10 arrives, composable with WHERE
    val ms = v2(s"SELECT COUNT(*) AS n FROM TABLE(MAXSIM_RERANK('$dir')) WHERE score_r IS NOT NULL")
    assert(ms.get("code").asText() == "090001", ms.toString)
    assert(ms.get("data").get(0).get(0).asLong() == 10L, ms.toString)
    // CDC: every source row carries a sane savings ratio
    val cc = v2(s"SELECT COUNT(*) AS n FROM TABLE(CDC_CHUNKS('$dir')) WHERE total_chars > 0 AND savings_r BETWEEN 0 AND 1")
    assert(cc.get("code").asText() == "090001", cc.toString)
    assert(cc.get("data").get(0).get(0).asLong() > 0L, cc.toString)
    // containment: the quote detector's pairs arrive with both ratios
    val ct = v2(s"SELECT COUNT(*) AS n FROM TABLE(CONTAINMENT_DEDUP('$dir')) WHERE cont_r >= jaccard_r")
    assert(ct.get("code").asText() == "090001", ct.toString)
    assert(ct.get("data").get(0).get(0).asLong() > 0L, ct.toString)
    // calibration: bins conserve document mass vs the LR selection view
    val cal = v2(s"SELECT SUM(n) AS docs FROM TABLE(LR_CALIBRATION('$dir'))")
    val sel = v2(s"SELECT COUNT(*) AS docs FROM TABLE(LR_QUALITY_SELECT('$dir'))")
    assert(cal.get("data").get(0).get(0).asText() ==
      sel.get("data").get(0).get(0).asText(), s"$cal vs $sel")
    // the funnel: five chained stages, n_in of each = n_out of previous
    val fn = v2(s"SELECT stage, n_in, n_out FROM TABLE(QUALITY_FUNNEL('$dir')) ORDER BY stage")
    assert(fn.get("code").asText() == "090001", fn.toString)
    assert(fn.get("data").size() == 5, fn.toString)
    (1 until 5).foreach { i =>
      assert(fn.get("data").get(i).get(1).asText() ==
        fn.get("data").get(i - 1).get(2).asText(), fn.toString)
    }
  }

  test("REST v2 e2e: retention, anomaly, KN perplexity, cluster-best functions") {
    val dir = "/root/testdata/sf0.001"
    // retention: week-0 of every cohort is total (retention 1.0)
    val rt = v2("SELECT COUNT(*) AS n FROM " +
      s"TABLE(RETENTION_COHORTS('$dir')) WHERE week_offset = 0 AND retention = 1.0")
    assert(rt.get("code").asText() == "090001", rt.toString)
    assert(rt.get("data").get(0).get(0).asLong() > 0L, rt.toString)
    // anomaly: the flag column is consistent with its own z threshold
    val an = v2("SELECT COUNT(*) AS n FROM " +
      s"TABLE(HOURLY_ANOMALY('$dir')) WHERE is_anomaly AND abs(z_r) < 3.0")
    assert(an.get("code").asText() == "090001", an.toString)
    assert(an.get("data").get(0).get(0).asLong() == 0L, an.toString)
    // KN: scores arrive for every document that has bigrams
    val kn = v2(s"SELECT COUNT(*) AS n FROM TABLE(KN_PERPLEXITY('$dir')) WHERE kn_nll IS NOT NULL")
    assert(kn.get("code").asText() == "090001", kn.toString)
    assert(kn.get("data").get(0).get(0).asLong() > 0L, kn.toString)
    // cluster-best: survivors per component = number of components
    val cb = v2(s"SELECT COUNT(DISTINCT comp) AS c FROM TABLE(CLUSTER_BEST('$dir'))")
    val cbKept = v2(s"SELECT COUNT(*) AS k FROM TABLE(CLUSTER_BEST('$dir')) WHERE is_kept")
    assert(cb.get("data").get(0).get(0).asText() ==
      cbKept.get("data").get(0).get(0).asText(), s"$cb vs $cbKept")
  }

  test("REST v2 e2e: lexrank, winnowing, readability, retrieval-eval functions") {
    val dir = "/root/testdata/sf0.001"
    // lexrank: the damping floor is a universal lower bound
    val lx = v2(s"SELECT COUNT(*) AS n FROM TABLE(LEXRANK('$dir')) WHERE rank_scaled < 150000")
    assert(lx.get("code").asText() == "090001", lx.toString)
    assert(lx.get("data").get(0).get(0).asLong() == 0L, lx.toString)
    // winnowing: every surviving pair clears the containment threshold
    val wn = v2(s"SELECT COUNT(*) AS n FROM TABLE(WINNOW_DEDUP('$dir')) WHERE score_r < 0.5")
    assert(wn.get("data").get(0).get(0).asLong() == 0L, wn.toString)
    // readability: the profile's doc mass equals the per-doc frame's
    val rd = v2(s"SELECT COUNT(*) AS n FROM TABLE(READABILITY('$dir'))")
    val rp = v2(s"SELECT SUM(n_docs) AS n FROM TABLE(READABILITY_PROFILE('$dir'))")
    assert(rd.get("data").get(0).get(0).asText() ==
      rp.get("data").get(0).get(0).asText(), s"$rd vs $rp")
    // retrieval eval: per-query nDCG is a [0, 1e6] scaled integer and the
    // scorecard's recall lives in [0, 1]
    val nd = v2("SELECT COUNT(*) AS n FROM " +
      s"TABLE(RETRIEVAL_NDCG('$dir')) WHERE ndcg_s < 0 OR ndcg_s > 1000000")
    assert(nd.get("data").get(0).get(0).asLong() == 0L, nd.toString)
    val ev = v2(s"SELECT recall_r, mean_ndcg_r FROM TABLE(RETRIEVAL_EVAL('$dir'))")
    assert(ev.get("code").asText() == "090001", ev.toString)
    val rc = ev.get("data").get(0).get(0).asText().toDouble
    assert(rc >= 0.0 && rc <= 1.0, ev.toString)
  }

  test("REST v2 e2e: PCA and source-divergence functions") {
    val dir = "/root/testdata/sf0.001"
    // the component is renormalized to max-abs exactly 1e6
    val pc = v2(s"SELECT MAX(ABS(comp_s)) AS m FROM TABLE(PCA_COMPONENT('$dir'))")
    assert(pc.get("code").asText() == "090001", pc.toString)
    assert(pc.get("data").get(0).get(0).asLong() == 1000000L, pc.toString)
    // the top component explains at least the mean share of the trace
    val sc = v2(s"SELECT var_ratio_r FROM TABLE(PCA_SCORECARD('$dir'))")
    assert(sc.get("data").get(0).get(0).asText().toDouble >= 1.0 / 64.0, sc.toString)
    // projections exist for every vector
    val pj = v2(s"SELECT COUNT(*) AS n FROM TABLE(PCA_PROJECT('$dir'))")
    assert(pj.get("data").get(0).get(0).asLong() > 0L, pj.toString)
    // JS divergence is symmetric storage: n_sources choose 2 rows, [0,1]
    val dv = v2("SELECT COUNT(*) AS n FROM " +
      s"TABLE(SOURCE_DIVERGENCE('$dir')) WHERE js_r < 0 OR js_r > 1")
    assert(dv.get("data").get(0).get(0).asLong() == 0L, dv.toString)
    val nb = v2(s"SELECT COUNT(*) AS n FROM TABLE(SOURCE_NEIGHBORS('$dir'))")
    val ds0 = v2(s"SELECT COUNT(DISTINCT src_a) FROM TABLE(SOURCE_DIVERGENCE('$dir'))")
    assert(nb.get("data").get(0).get(0).asLong() >
      ds0.get("data").get(0).get(0).asLong(), s"$nb vs $ds0")
    // lexical stats: TTR never exceeds 1, entropy is non-negative
    val lx2 = v2("SELECT COUNT(*) AS n FROM " +
      s"TABLE(LEXICAL_STATS('$dir')) WHERE ttr_r > 1.0 OR entropy_bits_r < 0")
    assert(lx2.get("data").get(0).get(0).asLong() == 0L, lx2.toString)
    // Zipf: every source's rank-frequency slope is negative
    val zp = v2(s"SELECT COUNT(*) AS n FROM TABLE(ZIPF_FIT('$dir')) WHERE slope_r >= 0")
    assert(zp.get("data").get(0).get(0).asLong() == 0L, zp.toString)
    // excess loss: the keep budget is a quarter of the scored docs
    val el = v2(s"SELECT COUNT(*) AS n FROM TABLE(EXCESS_LOSS('$dir'))")
    val elk = v2(s"SELECT COUNT(*) AS k FROM TABLE(EXCESS_LOSS('$dir')) WHERE kept")
    assert(elk.get("data").get(0).get(0).asLong() ==
      el.get("data").get(0).get(0).asLong() / 4, s"$elk vs $el")
    // proto prune: nothing pruned outside the top-quarter prototype ranks
    val pp = v2("SELECT COUNT(*) AS n FROM " +
      s"TABLE(PROTO_PRUNE('$dir')) WHERE NOT kept AND proto_rank * 4 > cell_n")
    assert(pp.get("data").get(0).get(0).asLong() == 0L, pp.toString)
    // second PCA component: renormalized to max-abs exactly 1e6 too
    val p2 = v2(s"SELECT MAX(ABS(comp2_s)) AS m FROM TABLE(PCA_SECOND('$dir'))")
    assert(p2.get("data").get(0).get(0).asLong() == 1000000L, p2.toString)
    // OOD: outlier flags agree with the 3-sigma ellipse on the score
    val od = v2("SELECT COUNT(*) AS n FROM " +
      s"TABLE(EMBED_OOD('$dir')) WHERE is_outlier <> (score_r >= 9.0)")
    assert(od.get("data").get(0).get(0).asLong() == 0L, od.toString)
    // fusion: the keep budget is a quarter of the fused docs
    val qf = v2(s"SELECT COUNT(*) AS n FROM TABLE(QUALITY_FUSION('$dir'))")
    val qfk = v2(s"SELECT COUNT(*) AS k FROM TABLE(QUALITY_FUSION('$dir')) WHERE kept")
    assert(qfk.get("data").get(0).get(0).asLong() ==
      qf.get("data").get(0).get(0).asLong() / 4, s"$qfk vs $qf")
  }

  test("REST v2 session affinity: ALTER SESSION dials stick across token-bound calls") {
    val dir = "/root/testdata/sf0.001"
    // the v1 session token binds separate v2 calls to ONE session
    val a = v2As(token, "ALTER SESSION SET GRAFT_BM25_K = 3")
    assert(a.get("code").asText() == "090001", a.toString)
    try {
      val bound = v2As(token,
        s"SELECT COUNT(*) AS n FROM TABLE(BM25_SEARCH('table', '$dir'))")
      assert(bound.get("code").asText() == "090001", bound.toString)
      assert(bound.get("data").get(0).get(0).asLong() == 3L, bound.toString)
      // a TOKENLESS call keeps its own fresh per-statement session:
      // the dial does not leak, default k=50 applies
      val loose = v2(
        s"SELECT COUNT(*) AS n FROM TABLE(BM25_SEARCH('table', '$dir'))")
      assert(loose.get("data").get(0).get(0).asLong() == 50L, loose.toString)
    } finally v2As(token, "ALTER SESSION UNSET GRAFT_BM25_K")
  }

  test("REST v2 session affinity: USE persists and db/schema default from the session") {
    // a v2 body WITHOUT database/schema: bound requests resolve from the
    // session's current context; USE DATABASE writes back to the session
    def v2Bare(tok: Option[String], sql: String) = {
      val esc = sql.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ")
      post("/api/v2/statements", s"""{"statement":"$esc"}""",
        tok.toSeq.map(t => "Authorization" -> s"""Snowflake Token="$t""""))._2
    }
    val (_, login) = post(
      "/session/v1/login-request?databaseName=TEST_DB&schemaName=PUBLIC",
      """{"data":{"LOGIN_NAME":"v2use","PASSWORD":"p"}}""")
    val t = login.get("data").get("token").asText()
    val mk = v2Bare(Some(t), "CREATE DATABASE IF NOT EXISTS v2use_db")
    assert(mk.get("code").asText() == "090001", mk.toString)
    val use = v2Bare(Some(t), "USE DATABASE v2use_db")
    assert(use.get("code").asText() == "090001", use.toString)
    // the NEXT bound call, with no database in the body, lands in v2use_db
    val mkT = v2Bare(Some(t), "CREATE TABLE aff_t (id INTEGER)")
    assert(mkT.get("code").asText() == "090001", mkT.toString)
    val probe = v2Bare(Some(t),
      "SELECT COUNT(*) AS n FROM v2use_db.public.aff_t")
    assert(probe.get("code").asText() == "090001", probe.toString)
    // a tokenless bare call still defaults to TEST_DB: aff_t is not there
    val miss = v2Bare(None, "SELECT COUNT(*) AS n FROM aff_t")
    assert(miss.get("message").asText().toLowerCase.contains("not"), miss.toString)
    // bound MULTI-statement batches share the same affinity: USE inside
    // the batch persists to the session after it
    val esc = "USE DATABASE TEST_DB; SELECT 1 AS one"
    val multi = post("/api/v2/statements",
      s"""{"statement":"$esc","parameters":{"MULTI_STATEMENT_COUNT":"0"}}""",
      Seq("Authorization" -> s"""Snowflake Token="$t""""))._2
    assert(multi.get("statementHandles").size() == 2, multi.toString)
    val back = v2Bare(Some(t), "SELECT COUNT(*) AS n FROM aff_t")
    assert(back.get("message").asText().toLowerCase.contains("not"), back.toString)
    v2Bare(Some(t), "DROP DATABASE v2use_db")
  }
}
