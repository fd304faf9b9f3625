package graft.emulator

import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the pure emulator layers, ported from the reference's
  * table-driven suites: classifier (`classifier_test.go`), bindings incl.
  * injection rejection (`executor_test.go:450`), table naming
  * (`table_naming_test.go:9-157`), type mapping (`type_mapper_test.go:9`),
  * COPY parse (`copy_processor_test.go:51`), MERGE parse
  * (`merge_processor_test.go:39`).
  */
class PureLogicSpec extends AnyFunSuite {

  // ---- classifier ----------------------------------------------------

  test("classifier maps statement kinds and statementTypeIds") {
    assert(Classifier.classify("SELECT 1").tpe == Classifier.Query)
    assert(Classifier.classify("SELECT 1").statementTypeId == 1L)
    assert(Classifier.classify("  show tables ").tpe == Classifier.Query)
    assert(Classifier.classify("EXPLAIN SELECT 1").isQuery)
    assert(Classifier.classify("WITH x AS (SELECT 1) SELECT * FROM x").isQuery)
    assert(Classifier.classify("CREATE TABLE t (i INT)").tpe == Classifier.DdlCreate)
    assert(Classifier.classify("CREATE TABLE t (i INT)").statementTypeId == 4L)
    assert(Classifier.classify("DROP TABLE t").tpe == Classifier.DdlDrop)
    assert(Classifier.classify("DROP TABLE t").statementTypeId == 5L)
    assert(Classifier.classify("ALTER TABLE t ADD COLUMN c INT").tpe == Classifier.DdlAlter)
    assert(Classifier.classify("COPY INTO t FROM @s").tpe == Classifier.Copy)
    assert(Classifier.classify("MERGE INTO t USING s ON 1=1 WHEN MATCHED THEN DELETE").tpe == Classifier.Merge)
    assert(Classifier.classify("BEGIN").tpe == Classifier.Transaction)
    assert(Classifier.classify("START TRANSACTION").tpe == Classifier.Transaction)
    assert(Classifier.classify("COMMIT").tpe == Classifier.Transaction)
    assert(Classifier.classify("ROLLBACK").tpe == Classifier.Transaction)
    assert(Classifier.classify("INSERT INTO t VALUES (1)").tpe == Classifier.Dml)
    assert(Classifier.classify("UPDATE t SET a=1").isDml)
  }

  // ---- bindings ------------------------------------------------------

  test("bindings: :N descending replace, so :1 does not clobber :10") {
    val b = (1 to 10).map(i =>
      i.toString -> Bindings.Binding("FIXED", (i * 100).toString)).toMap
    val out = Bindings.apply("SELECT :1, :2, :10", b)
    assert(out == "SELECT 100, 200, 1000")
  }

  test("bindings: ? placeholders 1-based left to right") {
    val b = Map(
      "1" -> Bindings.Binding("TEXT", "a'b"),
      "2" -> Bindings.Binding("FIXED", "42"))
    assert(Bindings.apply("SELECT ?, ?", b) == "SELECT 'a''b', 42")
  }

  test("bindings: typed formatting and validation") {
    assert(Bindings.formatValue(Bindings.Binding("TEXT", "x'y")) == "'x''y'")
    assert(Bindings.formatValue(Bindings.Binding("BOOLEAN", "1")) == "TRUE")
    assert(Bindings.formatValue(Bindings.Binding("BOOLEAN", "no")) == "FALSE")
    assert(Bindings.formatValue(Bindings.Binding("DATE", "2024-01-15")) == "DATE '2024-01-15'")
    assert(Bindings.formatValue(Bindings.Binding("TIMESTAMP", "2024-01-15 10:30:00"))
      == "TIMESTAMP '2024-01-15 10:30:00'")
    // injection guards (reference executor_test.go:450)
    intercept[SnowflakeError](
      Bindings.formatValue(Bindings.Binding("FIXED", "1; DROP TABLE users")))
    intercept[SnowflakeError](
      Bindings.formatValue(Bindings.Binding("DATE", "2024-01-15'; DROP TABLE t;--")))
    intercept[SnowflakeError](
      Bindings.formatValue(Bindings.Binding("FLOAT", "abc")))
  }

  // ---- table naming --------------------------------------------------

  test("flattening: DATABASE.SCHEMA_TABLE") {
    assert(TableNaming.flatten("test_db", "public", "users") == "TEST_DB.PUBLIC_USERS")
    assert(TableNaming.flatten("", "public", "users") == "PUBLIC_USERS")
    assert(TableNaming.flatten("", "", "users") == "USERS")
  }

  test("parse fills session context and uppercases") {
    assert(TableNaming.parse("users", "test_db", "public")
      == TableNaming.Ref("TEST_DB", "PUBLIC", "USERS"))
    assert(TableNaming.parse("myschema.users", "test_db", "public")
      == TableNaming.Ref("TEST_DB", "MYSCHEMA", "USERS"))
    assert(TableNaming.parse("db2.s2.t2", "test_db", "public")
      == TableNaming.Ref("DB2", "S2", "T2"))
  }

  test("rewrite qualifies table refs after FROM/JOIN/INTO/UPDATE") {
    val out = TableNaming.rewrite(
      "SELECT a.x FROM users a JOIN db2.s.orders o ON a.id = o.uid",
      "TEST_DB", "PUBLIC")
    assert(out.contains("FROM `TEST_DB`.`PUBLIC_USERS` a"))
    assert(out.contains("JOIN `DB2`.`S_ORDERS` o"))
    // subqueries untouched
    val sub = TableNaming.rewrite("SELECT * FROM (SELECT 1) t", "D", "S")
    assert(sub.contains("FROM (SELECT 1)"))
  }

  test("rewrite leaves CTE and window names alone") {
    val cte = TableNaming.rewrite(
      "WITH recent AS (SELECT * FROM orders WHERE o_orderdate > '1998-01-01') " +
        "SELECT COUNT(*) FROM recent", "TEST_DB", "PUBLIC")
    assert(cte.contains("FROM `TEST_DB`.`PUBLIC_ORDERS`"), cte)
    assert(cte.contains("FROM recent"), cte)
    assert(!cte.contains("PUBLIC_RECENT"), cte)
    // multiple CTEs, one joined with a real table
    val multi = TableNaming.rewrite(
      "WITH a AS (SELECT 1 AS x), b (y) AS (SELECT 2) " +
        "SELECT * FROM a JOIN b ON a.x = b.y JOIN t ON t.id = a.x",
      "D", "S")
    assert(multi.contains("FROM a JOIN b"), multi)
    assert(multi.contains("JOIN `D`.`S_T`"), multi)
    // a qualified ref is never a CTE, even if the last part collides
    val qual = TableNaming.rewrite(
      "WITH t AS (SELECT 1) SELECT * FROM other.t", "D", "S")
    assert(qual.contains("FROM `D`.`OTHER_T`"), qual)
  }

  test("bindings leave placeholders inside quoted literals untouched") {
    val b = Map("1" -> Bindings.Binding("TEXT", "X"),
      "30" -> Bindings.Binding("FIXED", "42"))
    // ':30' inside the time literal must survive; the real :1 is replaced
    val out = Bindings("SELECT * FROM t WHERE ts = '10:30:00' AND a = :1", b)
    assert(out == "SELECT * FROM t WHERE ts = '10:30:00' AND a = 'X'", out)
    // '?' inside a string is not a positional marker
    val q = Bindings("SELECT 'why?' AS w, ? AS v", Map("1" -> Bindings.Binding("FIXED", "7")))
    assert(q == "SELECT 'why?' AS w, 7 AS v", q)
    // '' escape keeps the literal context; :2 after it is replaced
    val esc = Bindings("SELECT 'it''s :1 ok', :2",
      Map("2" -> Bindings.Binding("FIXED", "9")))
    assert(esc == "SELECT 'it''s :1 ok', 9", esc)
    // double-quoted identifier with a colon-digit sequence
    val dq = Bindings("""SELECT "c:1" FROM t WHERE x = :1""",
      Map("1" -> Bindings.Binding("FIXED", "5")))
    assert(dq == """SELECT "c:1" FROM t WHERE x = 5""", dq)
  }

  // ---- type mapper ---------------------------------------------------

  test("snowflake->spark->snowflake type collapse") {
    import org.apache.spark.sql.types._
    assert(TypeMapper.toSparkType("NUMBER(10,2)") == DecimalType(10, 2))
    assert(TypeMapper.toSparkType("VARCHAR(255)") == StringType)
    assert(TypeMapper.toSparkType("TIMESTAMP_NTZ") == TimestampNTZType)
    assert(TypeMapper.toSparkType("TIMESTAMP_TZ") == TimestampType)
    assert(TypeMapper.toSparkType("VARIANT") == StringType)
    assert(TypeMapper.toSparkType("WEIRD_TYPE") == StringType)
    assert(TypeMapper.toSnowflakeTypeName(LongType) == "NUMBER")
    assert(TypeMapper.toSnowflakeTypeName(DecimalType(10, 2)) == "NUMBER")
    assert(TypeMapper.toSnowflakeTypeName(DoubleType) == "FLOAT")
    assert(TypeMapper.toSnowflakeTypeName(StringType) == "TEXT")
    assert(TypeMapper.toSnowflakeTypeName(TimestampNTZType) == "TIMESTAMP_NTZ")
    assert(TypeMapper.toSnowflakeTypeName(TimestampType) == "TIMESTAMP_TZ")
    assert(TypeMapper.toSnowflakeTypeName(ArrayType(LongType)) == "ARRAY")
  }

  // ---- error codes ---------------------------------------------------

  test("snowflake error codes map to sql states") {
    assert(SnowflakeError.compilation("x").sqlState == "42000")
    assert(SnowflakeError.execution("x").sqlState == "22000")
    assert(SnowflakeError.notFound("x").sqlState == "02000")
    assert(SnowflakeError.alreadyExists("x").sqlState == "42S01")
    assert(SnowflakeError("390114", "expired").sqlState == "28000")
  }

  // ---- COPY parser ---------------------------------------------------

  test("copy parse: full option surface") {
    val s = CopyParser.parse(
      """COPY INTO db1.s1.t1 FROM @mystage/sub/dir
         FILE_FORMAT = (TYPE = CSV FIELD_DELIMITER = '|' SKIP_HEADER = 1 TRIM_SPACE = TRUE NULL_IF = ('NULL', 'n/a'))
         PATTERN = '.*[.]csv' ON_ERROR = SKIP_FILE PURGE = TRUE""",
      "TEST_DB", "PUBLIC")
    assert(s.target == TableNaming.Ref("DB1", "S1", "T1"))
    assert(s.stageName == "MYSTAGE")
    assert(s.stagePath == "sub/dir")
    assert(s.options.format == "CSV")
    assert(s.options.fieldDelimiter == "|")
    assert(s.options.skipHeader == 1)
    assert(s.options.trimSpace)
    assert(s.options.nullIf == Seq("NULL", "n/a"))
    assert(s.options.pattern.contains(".*[.]csv"))
    assert(s.options.onError == graft.operators.CopyInto.SkipFile)
    assert(s.options.purge)
  }

  test("copy parse: defaults and JSON strip_outer_array") {
    val s = CopyParser.parse("COPY INTO t FROM @s", "D", "SC")
    assert(s.target == TableNaming.Ref("D", "SC", "T"))
    assert(s.options.format == "CSV" && s.options.fieldDelimiter == ","
      && s.options.skipHeader == 0
      && s.options.onError == graft.operators.CopyInto.Abort)
    val j = CopyParser.parse(
      "COPY INTO t FROM @s FILE_FORMAT = (TYPE = JSON STRIP_OUTER_ARRAY = TRUE)",
      "D", "SC")
    assert(j.options.format == "JSON" && j.options.stripOuterArray)
  }

  // ---- MERGE parser --------------------------------------------------

  test("merge parse: aliases, conditions, multi-clause") {
    val m = MergeParser.parse(
      """MERGE INTO target_table AS t USING (SELECT id, v FROM src WHERE v > 0) s
         ON t.id = s.id
         WHEN MATCHED AND s.v > 100 THEN UPDATE SET t.v = s.v, t.flag = 'hot'
         WHEN MATCHED THEN DELETE
         WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    assert(m.targetTable == "target_table")
    assert(m.targetAlias.contains("t"))
    assert(m.source.startsWith("(SELECT"))
    assert(m.sourceAlias.contains("s"))
    assert(m.onCondition == "t.id = s.id")
    assert(m.whenClauses.size == 3)
    val Seq(c1, c2, c3) = m.whenClauses
    assert(c1.isMatched && c1.condition.contains("s.v > 100"))
    assert(c1.action == MergeParser.UpdateAction(
      Seq("t.v" -> "s.v", "t.flag" -> "'hot'")))
    assert(c2.isMatched && c2.condition.isEmpty
      && c2.action == MergeParser.DeleteAction)
    assert(!c3.isMatched && c3.action ==
      MergeParser.InsertAction(Seq("id", "v"), Seq("s.id", "s.v")))
  }

  test("merge parse: bare table source without aliases") {
    val m = MergeParser.parse(
      """MERGE INTO t1 USING t2 ON t1.k = t2.k
         WHEN NOT MATCHED THEN INSERT VALUES (t2.k, t2.x)""")
    assert(m.targetTable == "t1" && m.targetAlias.isEmpty)
    assert(m.source == "t2" && m.sourceAlias.isEmpty)
    val ins = m.whenClauses.head.action.asInstanceOf[MergeParser.InsertAction]
    assert(ins.cols.isEmpty && ins.vals == Seq("t2.k", "t2.x"))
  }

  test("merge parse: function call with comma inside SET value") {
    val m = MergeParser.parse(
      """MERGE INTO t USING s ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET v = coalesce(s.v, 0), w = s.w""")
    val upd = m.whenClauses.head.action.asInstanceOf[MergeParser.UpdateAction]
    assert(upd.set == Seq("v" -> "coalesce(s.v, 0)", "w" -> "s.w"))
  }

  // ---- managers ------------------------------------------------------

  test("session manager: create/validate/renew/use/close") {
    val m = new SessionManager()
    val s = m.create("alice")
    assert(s.database == "TEST_DB" && s.schema == "PUBLIC")
    assert(m.validate(s.token).isDefined)
    assert(m.validate("bogus").isEmpty)
    m.use(s.token, Some("db2"), Some("s2"))
    assert(m.validate(s.token).get.database == "DB2")
    val renewed = m.renew(s.masterToken).get
    assert(renewed.token != s.token)
    assert(m.validate(s.token).isEmpty) // old token dead
    assert(renewed.database == "DB2") // context carried over
    assert(m.close(renewed.token))
    assert(m.validate(renewed.token).isEmpty)
  }

  test("session manager: expiry") {
    val m = new SessionManager(ttlMillis = -1)
    val s = m.create("bob")
    assert(m.validate(s.token).isEmpty)
  }

  test("statement manager: lifecycle + handle shape + cancel") {
    val m = new StatementManager()
    val st = m.create("SELECT 1")
    assert(st.handle.startsWith("01") && st.handle.length == 34)
    var cancelled = false
    m.markRunning(st, () => cancelled = true)
    assert(m.cancel(st.handle))
    assert(cancelled && st.status == m.Canceled)
    val st2 = m.create("SELECT 2")
    m.markRunning(st2, () => ())
    m.complete(st2, Executor.Result(Nil, Nil, 1L, None, "q"))
    assert(st2.status == m.Success)
    assert(!m.cancel(st2.handle)) // completed: not cancellable
  }

  test("warehouse manager: crud + validation") {
    val m = new WarehouseManager()
    val w = m.create("wh1", "SMALL")
    // reference default state + resume target (`warehouse/manager.go:82,
    // 18-23`: created SUSPENDED, resume -> ACTIVE)
    assert(w.state == "SUSPENDED")
    assert(m.resume("WH1").state == "ACTIVE")
    assert(m.suspend("wh1").state == "SUSPENDED")
    assert(m.resize("wh1", "LARGE").size == "LARGE")
    intercept[SnowflakeError](m.create("wh2", "HUGE"))
    intercept[SnowflakeError](m.create("wh1"))
    assert(m.create("wh1", ifNotExists = true).name == "WH1")
    assert(m.drop("wh1"))
    intercept[SnowflakeError](m.drop("wh1"))
  }

  test("query history: start/success ring, most recent first") {
    val h = new QueryHistory(capacity = 3)
    (1 to 5).foreach { i =>
      val t0 = h.start(s"q$i", s"SELECT $i")
      h.success(s"q$i", s"SELECT $i", i.toLong, t0)
    }
    val r = h.recent()
    assert(r.size == 3)
    assert(r.head.queryId == "q5" && r.head.status == "SUCCESS" && r.head.rows == 5)
  }

  test("query history survives a restart via the persisted file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_qh")
    val file = dir.resolve("_graft_query_history.jsonl")
    try {
      // "process 1": completed + failed + still-running statements
      val h1 = new QueryHistory(capacity = 100, persistPath = Some(file))
      val t0 = h1.start("q1", "SELECT 1")
      h1.success("q1", "SELECT 1", 7L, t0)
      val t1 = h1.start("q2", "SELECT broken")
      h1.failure("q2", "boom", t1)
      h1.start("q3", "SELECT runs_forever")
      // "process 2": a fresh instance over the same warehouse file
      val h2 = new QueryHistory(capacity = 100, persistPath = Some(file))
      val r = h2.recent()
      // completed records survive (most recent first); the in-flight one
      // died with the process and is not resurrected
      assert(r.map(_.queryId) == Seq("q2", "q1"), r)
      assert(r.head.status == "FAILED" && r.head.errorMessage == "boom")
      assert(r(1).status == "SUCCESS" && r(1).rows == 7L)
      // and the revived instance keeps appending to the same file
      val t2 = h2.start("q4", "SELECT 4")
      h2.success("q4", "SELECT 4", 1L, t2)
      val h3 = new QueryHistory(capacity = 100, persistPath = Some(file))
      assert(h3.recent().map(_.queryId) == Seq("q4", "q2", "q1"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }
  }

  test("query history persistence compacts: file stays bounded at ~ring size") {
    val dir = java.nio.file.Files.createTempDirectory("graft_qh_compact")
    val file = dir.resolve("h.jsonl")
    try {
      val h = new QueryHistory(capacity = 10, persistPath = Some(file))
      (1 to 35).foreach { i =>
        val t0 = h.start(s"q$i", s"SELECT $i")
        h.success(s"q$i", s"SELECT $i", i.toLong, t0)
      }
      val lines = java.nio.file.Files.readAllLines(file)
      assert(lines.size() <= 20, s"history file grew unbounded: ${lines.size()}")
      // a fresh instance still sees the most recent records
      val h2 = new QueryHistory(capacity = 10, persistPath = Some(file))
      assert(h2.recent().head.queryId == "q35")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }
  }
}
