package graft.emulator

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.stage.StageManager

/** Executor conformance suite — ports the de-facto conformance list of the
  * reference (`pkg/query/integration_test.go:339`
  * TestIntegration_AllSQLOperations: SELECT/SHOW/DESCRIBE, CREATE/ALTER/
  * DROP TABLE, INSERT/UPDATE/DELETE with affected counts, BEGIN/COMMIT +
  * BEGIN/ROLLBACK visibility, MERGE, bindings) and the function-semantics
  * value assertions of `tests/e2e/gosnowflake_test.go:175-338`
  * (IFF/NVL/NVL2/DATEADD/DATEDIFF/LISTAGG).
  */
class ExecutorSpec extends AnyFunSuite {

  private lazy val spark = graft.GraftSession.local(4)
  private lazy val executor = {
    val catalog = new Catalog(spark)
    new Executor(catalog, new StageManager(Files.createTempDirectory("graft_stages")),
      new WarehouseManager(), new QueryHistory())
  }
  private def ctx = Executor.Context("sess1", "TEST_DB", "PUBLIC")

  private def exec(sql: String, bindings: Map[String, Bindings.Binding] = Map.empty) =
    executor.execute(ctx, sql, bindings)

  private def bootstrap(): Unit = executor.catalog.createDatabase("TEST_DB")

  test("00 bootstrap + create table + insert + select") {
    bootstrap()
    exec("""CREATE TABLE users (
        id INTEGER, name VARCHAR(100), email VARCHAR(255),
        score NUMBER(5,2), created TIMESTAMP_NTZ)""")
    val ins = exec("""INSERT INTO users VALUES
        (1, 'Alice', 'alice@example.com', 95.5, '2024-01-01 10:00:00'),
        (2, 'Bob', NULL, 72.25, '2024-01-02 11:00:00'),
        (3, 'Carol', 'carol@example.com', 88.0, '2024-01-03 12:00:00')""")
    assert(ins.rowsAffected.contains(3L))
    assert(ins.columns.head.name == "number of rows inserted")
    val r = exec("SELECT id, name FROM users ORDER BY id")
    assert(r.rows.map(_.head) == Seq(1, 2, 3))
    assert(r.columns.map(_.snowflakeType) == Seq("NUMBER", "TEXT"))
  }

  test("01 flagship README query: IFF + NVL with snowflake metadata") {
    // the reference README's own headline query (README.md:129-135)
    val r = exec("""SELECT name, IFF(score >= 90, 'A', 'B') AS grade,
        NVL(email, 'no-email') AS email FROM users ORDER BY id""")
    assert(r.rows == Seq(
      Seq("Alice", "A", "alice@example.com"),
      Seq("Bob", "B", "no-email"),
      Seq("Carol", "B", "carol@example.com")))
  }

  test("02 function semantics: NVL2, DATEADD=2024-01-08, DATEDIFF=9") {
    // value assertions from gosnowflake_test.go:175-338
    val r = exec("""SELECT
        NVL2(email, 'has', 'none') AS n2,
        CAST(sf_dateadd('day', 7, DATE'2024-01-01') AS DATE) AS d7,
        sf_datediff('day', DATE'2024-01-01', DATE'2024-01-10') AS dd
        FROM users WHERE id = 2""")
    assert(r.rows.head(0) == "none")
    assert(r.rows.head(1).toString == "2024-01-08")
    assert(r.rows.head(2) == 9L)
  }

  test("03 update + delete with affected counts") {
    val u = exec("UPDATE users SET score = 100.0 WHERE id = 2")
    assert(u.rowsAffected.contains(1L))
    assert(u.columns.head.name == "number of rows updated")
    val check = exec("SELECT score FROM users WHERE id = 2")
    assert(check.rows.head.head.toString.startsWith("100"))
    val d = exec("DELETE FROM users WHERE id = 3")
    assert(d.rowsAffected.contains(1L))
    assert(exec("SELECT COUNT(*) AS n FROM users").rows.head.head == 2L)
  }

  test("04 transactions: rollback restores, commit persists") {
    // reference integration_test.go:470-487 rollback-visibility contract
    exec("BEGIN")
    exec("INSERT INTO users VALUES (10, 'Temp', NULL, 1.0, '2024-01-04 00:00:00')")
    assert(exec("SELECT COUNT(*) AS n FROM users").rows.head.head == 3L)
    exec("ROLLBACK")
    assert(exec("SELECT COUNT(*) AS n FROM users").rows.head.head == 2L)
    exec("BEGIN")
    exec("UPDATE users SET name = 'Alicia' WHERE id = 1")
    exec("COMMIT")
    assert(exec("SELECT name FROM users WHERE id = 1").rows.head.head == "Alicia")
  }

  test("05 merge into: matched update + not-matched insert") {
    exec("CREATE TABLE src (id INTEGER, score NUMBER(5,2))")
    exec("INSERT INTO src VALUES (1, 50.0), (99, 75.0)")
    val m = exec("""MERGE INTO users t USING src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET t.score = s.score
        WHEN NOT MATCHED THEN INSERT (id, name, score) VALUES (s.id, 'New', s.score)""")
    assert(m.rows.head == Seq(1L, 1L, 0L)) // inserted, updated, deleted
    val r = exec("SELECT id, name, score FROM users ORDER BY id")
    assert(r.rows.size == 3)
    assert(r.rows.last.head == 99)
    assert(r.rows.last(1) == "New")
  }

  test("06 copy into from stage (CSV)") {
    exec("CREATE STAGE mystage")
    val stageDir = executor.stages.stageDir("MYSTAGE")
    Files.writeString(stageDir.resolve("data.csv"),
      "id,name,email,score,created\n20,Dave,d@e.com,55.5,2024-02-01 09:00:00\n21,Eve,,66.6,2024-02-02 09:00:00\n")
    val c = exec("""COPY INTO users FROM @mystage
        FILE_FORMAT = (TYPE = CSV SKIP_HEADER = 1)""")
    assert(c.rowsAffected.contains(2L))
    assert(exec("SELECT COUNT(*) AS n FROM users WHERE id IN (20, 21)").rows.head.head == 2L)
  }

  test("06b copy into from stage (PARQUET, name-matched)") {
    exec("CREATE STAGE pqstage")
    val stageDir = executor.stages.stageDir("PQSTAGE")
    // write a real parquet with shuffled/re-cased columns via Spark
    import spark.implicits._
    Seq(("p@q.com", 30L, "Pia", 77.7))
      .toDF("EMAIL", "ID", "NAME", "SCORE")
      .coalesce(1).write.parquet(stageDir.resolve("pq").toString)
    val c = exec(
      "COPY INTO users FROM @pqstage PATTERN = '.*\\.parquet' FILE_FORMAT = (TYPE = PARQUET)")
    assert(c.rowsAffected.contains(1L))
    val r = exec("SELECT name, score, created FROM users WHERE id = 30")
    assert(r.rows.head.head == "Pia")
    assert(r.rows.head(2) == null, "absent created column loads as NULL")
  }

  test("06c copy UNLOAD to stage and round-trip back") {
    exec("CREATE STAGE unstage")
    // unload a query's result as parquet into a stage sub-path
    val u = exec("""COPY INTO @unstage/exp FROM
        (SELECT id, name, score FROM users WHERE id IN (20, 21))
        FILE_FORMAT = (TYPE = PARQUET)""")
    assert(u.rowsAffected.contains(2L))
    assert(u.rows.head.head == 2L)
    // round trip: the unloaded files load back losslessly by name-match
    exec("CREATE TABLE users_rt (id INTEGER, name VARCHAR, score DOUBLE)")
    val c = exec(
      "COPY INTO users_rt FROM @unstage/exp PATTERN = '.*\\.parquet' FILE_FORMAT = (TYPE = PARQUET)")
    assert(c.rowsAffected.contains(2L))
    val r = exec("SELECT name FROM users_rt WHERE id = 20")
    assert(r.rows.head.head == "Dave")
    // CSV unload with header honors the delimiter
    val cu = exec("""COPY INTO @unstage/csv FROM users_rt
        FILE_FORMAT = (TYPE = CSV FIELD_DELIMITER = '|' HEADER = TRUE)""")
    assert(cu.rowsAffected.contains(2L))
    val stageDir = executor.stages.stageDir("UNSTAGE")
    val files = java.nio.file.Files.list(stageDir.resolve("csv")).toArray
      .map(_.toString).filter(_.endsWith(".csv"))
    assert(files.nonEmpty)
    val head = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(files.head)).get(0)
    assert(head.split('|').length == 3, head)
  }

  test("06d unload OVERWRITE replaces only prior unload part files") {
    exec("CREATE STAGE ovstage")
    // an unrelated PUT-staged load file lives at the unload location
    executor.stages.put("OVSTAGE", "keep/manual.csv", "id\n7\n".getBytes)
    exec("""COPY INTO @ovstage/keep FROM (SELECT id FROM users WHERE id = 20)
        FILE_FORMAT = (TYPE = PARQUET)""")
    val u2 = exec("""COPY INTO @ovstage/keep FROM
        (SELECT id FROM users WHERE id IN (20, 21))
        FILE_FORMAT = (TYPE = PARQUET) OVERWRITE = TRUE""")
    assert(u2.rowsAffected.contains(2L))
    val dir = executor.stages.stageDir("OVSTAGE").resolve("keep")
    val names = java.nio.file.Files.list(dir).toArray
      .map(_.toString.split('/').last).toSeq
    assert(names.contains("manual.csv"), s"unrelated staged file wiped: $names")
    // only the second unload's parts remain: reading them back sees
    // exactly 2 rows (the first unload's 1-row part was replaced)
    val rows = spark.read.option("pathGlobFilter", "part-*")
      .parquet(dir.toString).count()
    assert(rows == 2L, s"expected 2 rows after overwrite, got $rows")
  }

  test("06e unload source query may contain parens inside string literals") {
    exec("CREATE STAGE parstage")
    val u = exec("""COPY INTO @parstage/p FROM
        (SELECT id, ')literal(' || name AS tagged, 'it''s' AS q
           FROM users WHERE id = 20)
        FILE_FORMAT = (TYPE = PARQUET)""")
    assert(u.rowsAffected.contains(1L))
    val dir = executor.stages.stageDir("PARSTAGE").resolve("p")
    val r = spark.read.parquet(dir.toString).collect()
    assert(r.head.getAs[String]("tagged") == ")literal(Dave")
    assert(r.head.getAs[String]("q") == "it's")
  }

  test("06f unload rows_unloaded counts the written files once (SAMPLE source)") {
    exec("CREATE STAGE sampstage")
    // non-deterministic source: rows_unloaded must agree with the files
    val u = exec("""COPY INTO @sampstage/s FROM
        (SELECT id FROM users SAMPLE (50))
        FILE_FORMAT = (TYPE = CSV HEADER = TRUE)""")
    val dir = executor.stages.stageDir("SAMPSTAGE").resolve("s")
    val written = spark.read.option("header", "true").csv(dir.toString).count()
    assert(u.rowsAffected.contains(written),
      s"rows_unloaded ${u.rowsAffected} != written $written")
  }

  test("07 show / describe / history") {
    val t = exec("SHOW TABLES")
    assert(t.rows.exists(_.head == "USERS"))
    val d = exec("DESCRIBE TABLE users")
    assert(d.rows.exists(r => r.head == "ID" && r(1) == "INTEGER"))
    assert(executor.history.recent().nonEmpty)
    assert(executor.history.recent().forall(_.status != "RUNNING"))
  }

  test("08 bindings: :N and ? with validation error surfaced") {
    val r = exec("SELECT name FROM users WHERE id = :1",
      Map("1" -> Bindings.Binding("FIXED", "1")))
    assert(r.rows.head.head == "Alicia")
    val e = intercept[SnowflakeError](
      exec("SELECT * FROM users WHERE created < ?",
        Map("1" -> Bindings.Binding("TIMESTAMP", "not-a-date"))))
    assert(e.code == SnowflakeError.CodeSQLCompilationError)
  }

  test("09 errors carry snowflake codes") {
    val e = intercept[SnowflakeError](exec("SELECT * FROM nonexistent_t"))
    assert(e.code == SnowflakeError.CodeSQLCompilationError)
    assert(e.sqlState == "42000")
    val e2 = intercept[SnowflakeError](exec("SELEC 1"))
    assert(e2.code == SnowflakeError.CodeSQLCompilationError)
  }

  test("10 ctas + truncate + drop") {
    exec("CREATE TABLE users2 AS SELECT * FROM users")
    assert(exec("SELECT COUNT(*) AS n FROM users2").rows.head.head ==
      exec("SELECT COUNT(*) AS n FROM users").rows.head.head)
    exec("TRUNCATE TABLE users2")
    assert(exec("SELECT COUNT(*) AS n FROM users2").rows.head.head == 0L)
    exec("DROP TABLE users2")
    intercept[SnowflakeError](exec("SELECT * FROM users2"))
  }

  test("11 warehouses via SQL") {
    exec("CREATE WAREHOUSE compute_wh WAREHOUSE_SIZE = 'SMALL'")
    val w = exec("SHOW WAREHOUSES")
    assert(w.rows.exists(r => r.head == "COMPUTE_WH" && r(3) == "SMALL"))
    exec("ALTER WAREHOUSE compute_wh SUSPEND")
    assert(exec("SHOW WAREHOUSES").rows
      .exists(r => r.head == "COMPUTE_WH" && r(1) == "SUSPENDED"))
    exec("DROP WAREHOUSE compute_wh")
    assert(!exec("SHOW WAREHOUSES").rows.exists(_.head == "COMPUTE_WH"))
  }

  test("12 use statement switches context via callback") {
    var db = "TEST_DB"; var sc = "PUBLIC"
    val c = Executor.Context("sess2", db, sc, onUse = Some((d, s) => {
      d.foreach(db = _); s.foreach(sc = _)
    }))
    executor.execute(c, "USE DATABASE other_db")
    assert(db == "OTHER_DB")
    executor.execute(c, "USE SCHEMA analytics")
    assert(sc == "ANALYTICS")
  }

  test("13 object_construct / to_variant json surface") {
    val r = exec("""SELECT object_construct('a', id, 'b', name) AS obj,
        to_variant(name) AS v FROM users WHERE id = 1""")
    assert(r.rows.head.head == """{"a":1,"b":"Alicia"}""")
    assert(r.rows.head(1) == "\"Alicia\"")
  }

  test("14 alter session accepted without error") {
    val r = exec("ALTER SESSION SET QUERY_TAG = 'ci'")
    assert(r.rows.head.head == "Statement executed successfully.")
  }

  test("15 lateral flatten in FROM position") {
    exec("CREATE TABLE flat_t (id INTEGER, tags VARCHAR(200))")
    exec("INSERT INTO flat_t VALUES (1, 'a,b'), (2, 'c')")
    val r = exec("""SELECT id, f.index, f.value
        FROM flat_t, LATERAL FLATTEN(input => split(tags, ',')) f
        ORDER BY id, f.index""")
    assert(r.rows == Seq(Seq(1, 0, "a"), Seq(1, 1, "b"), Seq(2, 0, "c")))
  }

  test("16 copy with custom record delimiter") {
    exec("CREATE TABLE rd_t (a INTEGER, b VARCHAR(10))")
    exec("CREATE STAGE rdstage")
    Files.writeString(executor.stages.stageDir("RDSTAGE").resolve("d.csv"),
      "1,x;2,y;3,z")
    val c = exec("""COPY INTO rd_t FROM @rdstage
        FILE_FORMAT = (TYPE = CSV RECORD_DELIMITER = ';')""")
    assert(c.rowsAffected.contains(3L))
    assert(exec("SELECT COUNT(*) AS n FROM rd_t").rows.head.head == 3L)
  }

  test("17 create view, query it, show kind, drop") {
    exec("CREATE TABLE v_base (id INTEGER, v NUMBER(5,2))")
    exec("INSERT INTO v_base VALUES (1, 10.0), (2, 20.0), (3, 30.0)")
    exec("CREATE VIEW v_high AS SELECT id, v FROM v_base WHERE v >= 20.0")
    val r = exec("SELECT id FROM v_high ORDER BY id")
    assert(r.rows.map(_.head) == Seq(2, 3))
    assert(exec("SHOW TABLES").rows.exists(row =>
      row.head == "V_HIGH" && row(3) == "VIEW"))
    // view reflects base-table mutations (it is a real view, not a copy)
    exec("UPDATE v_base SET v = 25.0 WHERE id = 1")
    assert(exec("SELECT COUNT(*) AS n FROM v_high").rows.head.head == 3L)
    exec("DROP VIEW v_high")
    intercept[SnowflakeError](exec("SELECT * FROM v_high"))
    intercept[SnowflakeError](exec("DROP VIEW v_high"))
  }

  test("18 LIST and REMOVE stage statements") {
    exec("CREATE STAGE lr_stage")
    val d = executor.stages.stageDir("LR_STAGE")
    Files.writeString(d.resolve("a.csv"), "1")
    Files.createDirectories(d.resolve("sub"))
    Files.writeString(d.resolve("sub").resolve("b.csv"), "22")
    val l = exec("LIST @lr_stage")
    assert(l.rows.map(_.head).toSet ==
      Set("LR_STAGE/a.csv", "LR_STAGE/sub/b.csv"))
    assert(l.rows.find(_.head == "LR_STAGE/sub/b.csv").get(1) == 2L)
    val lp = exec("LIST @lr_stage/sub")
    assert(lp.rows.map(_.head) == Seq("LR_STAGE/sub/b.csv"))
    val rm = exec("REMOVE @lr_stage/sub")
    assert(rm.rows.map(_.head) == Seq("LR_STAGE/sub/b.csv"))
    assert(exec("LIST @lr_stage").rows.size == 1)
  }

  test("19 cluster by: co-clustered join runs without a shuffle exchange") {
    exec("CREATE TABLE ck_a (k INTEGER, va NUMBER(5,2)) CLUSTER BY (k)")
    exec("CREATE TABLE ck_b (k INTEGER, vb NUMBER(5,2)) CLUSTER BY (k)")
    exec("INSERT INTO ck_a VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    exec("INSERT INTO ck_b VALUES (2, 20.0), (3, 30.0), (4, 40.0)")
    val r = exec("SELECT ck_a.k, va, vb FROM ck_a JOIN ck_b ON ck_a.k = ck_b.k ORDER BY ck_a.k")
    assert(r.rows.map(_.head) == Seq(2, 3))
    // plan check: bucketed scan on both sides, no hash-partition exchange
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = executor.queryDf(ctx,
        "SELECT ck_a.k, va, vb FROM ck_a JOIN ck_b ON ck_a.k = ck_b.k")
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"expected bucketed scans in:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-clustered join must not shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("20 CTE: simple, nested, and shadowing a real table") {
    // the reference serves CTEs by pass-through (translator.go:121-127);
    // our rewriter must not flatten WITH-bound names into catalog names
    exec("CREATE TABLE cte_base (id INTEGER, v NUMBER(5,2))")
    exec("INSERT INTO cte_base VALUES (1, 10.0), (2, 20.0), (3, 30.0)")
    val simple = exec(
      "WITH recent AS (SELECT * FROM cte_base WHERE id > 1) SELECT COUNT(*) AS n FROM recent")
    assert(simple.rows.head.head == 2L)
    val nested = exec(
      """WITH a AS (SELECT * FROM cte_base WHERE id > 1),
         b AS (SELECT id FROM a WHERE v > 25.0)
         SELECT COUNT(*) AS n FROM b""")
    assert(nested.rows.head.head == 1L)
    // CTE shadowing the physical table name: CTE wins, per SQL scoping
    val shadow = exec(
      "WITH cte_base AS (SELECT 99 AS id) SELECT id FROM cte_base")
    assert(shadow.rows == Seq(Seq(99)))
    // CTE joined against a real table in the same statement
    val mixed = exec(
      """WITH big AS (SELECT id FROM cte_base WHERE v >= 20.0)
         SELECT COUNT(*) AS n FROM cte_base t JOIN big ON t.id = big.id""")
    assert(mixed.rows.head.head == 2L)
  }

  test("21 insert counts: VALUES tuples and INSERT..SELECT, no target scan") {
    exec("CREATE TABLE ins_t (id INTEGER, txt VARCHAR(50))")
    // tricky literal: comma + paren inside the string must not split tuples
    val v = exec("INSERT INTO ins_t VALUES (1, 'a,b(c'), (2, 'd'')x')")
    assert(v.rowsAffected.contains(2L))
    val sel = exec("INSERT INTO ins_t SELECT id + 10, txt FROM ins_t")
    assert(sel.rowsAffected.contains(2L))
    assert(exec("SELECT COUNT(*) AS n FROM ins_t").rows.head.head == 4L)
    val r = exec("SELECT txt FROM ins_t WHERE id = 1")
    assert(r.rows.head.head == "a,b(c")
  }

  test("22 rollback after DROP TABLE restores table AND catalog entry") {
    exec("CREATE TABLE rb_t (id INTEGER, v NUMBER(5,2))")
    exec("INSERT INTO rb_t VALUES (1, 1.5), (2, 2.5)")
    exec("BEGIN")
    exec("DROP TABLE rb_t")
    exec("ROLLBACK")
    // table must be fully usable again: DESCRIBE, SELECT, INSERT, SHOW
    assert(exec("DESCRIBE TABLE rb_t").rows.nonEmpty)
    assert(exec("SELECT COUNT(*) AS n FROM rb_t").rows.head.head == 2L)
    assert(exec("INSERT INTO rb_t VALUES (3, 3.5)").rowsAffected.contains(1L))
    val shown = exec("SHOW TABLES").rows.map(_.head.toString)
    assert(shown.contains("RB_T"), shown)
  }

  test("23 copy into rejects stage path traversal") {
    exec("CREATE TABLE esc_t (id INTEGER)")
    exec("CREATE STAGE esc_stage")
    val e = intercept[SnowflakeError] {
      exec("COPY INTO esc_t FROM @esc_stage/../../../etc FILE_FORMAT = (TYPE = 'CSV')")
    }
    assert(e.getMessage.toLowerCase.contains("traversal") ||
      e.getMessage.toLowerCase.contains("escape"), e.getMessage)
  }

  test("25 named file format drives COPY; SHOW FILE FORMATS lists it") {
    exec("CREATE FILE FORMAT my_psv TYPE = 'CSV' FIELD_DELIMITER = '|' SKIP_HEADER = 1")
    exec("CREATE TABLE ff_t (id INTEGER, name VARCHAR(50))")
    exec("CREATE STAGE ff_stage")
    val d = executor.stages.stageDir("FF_STAGE")
    Files.writeString(d.resolve("data.csv"), "id|name\n1|alice\n2|bob\n")
    val r = exec("COPY INTO ff_t FROM @ff_stage FILE_FORMAT = (FORMAT_NAME = 'my_psv')")
    assert(r.rowsAffected.contains(2L))
    assert(exec("SELECT name FROM ff_t ORDER BY id").rows.map(_.head) ==
      Seq("alice", "bob"))
    val shown = exec("SHOW FILE FORMATS")
    assert(shown.rows.exists(row => row.head == "MY_PSV" && row(3) == "CSV"))
    // bare-name form
    exec("TRUNCATE TABLE ff_t")
    val r2 = exec("COPY INTO ff_t FROM @ff_stage FILE_FORMAT = my_psv")
    assert(r2.rowsAffected.contains(2L))
    // unknown format -> object-not-found
    val e = intercept[SnowflakeError](
      exec("COPY INTO ff_t FROM @ff_stage FILE_FORMAT = (FORMAT_NAME = 'nope')"))
    assert(e.code == SnowflakeError.CodeObjectNotFound)
    exec("DROP FILE FORMAT my_psv")
    intercept[SnowflakeError](exec("DROP FILE FORMAT my_psv"))
  }

  test("26 SHOW VIEWS / SHOW STAGES / SHOW COLUMNS") {
    exec("CREATE TABLE sc_t (id INTEGER NOT NULL, txt VARCHAR(20))")
    exec("CREATE VIEW sc_v AS SELECT id FROM sc_t")
    exec("CREATE STAGE sc_stage")
    val views = exec("SHOW VIEWS")
    assert(views.rows.exists(_.head == "SC_V"), views.rows)
    val stagesShown = exec("SHOW STAGES")
    assert(stagesShown.rows.exists(_.head == "SC_STAGE"), stagesShown.rows)
    val cols = exec("SHOW COLUMNS IN TABLE sc_t")
    assert(cols.rows.map(r => (r(2), r(4))) ==
      Seq(("ID", "false"), ("TXT", "true")), cols.rows)
    exec("DROP VIEW sc_v")
  }

  test("27 COPY ON_ERROR=CONTINUE reports errors_seen through the statement") {
    exec("CREATE TABLE oe_t (id INTEGER, name VARCHAR(50))")
    exec("CREATE STAGE oe_stage")
    val d = executor.stages.stageDir("OE_STAGE")
    Files.writeString(d.resolve("data.csv"), "1,alice\nBAD,ROW,EXTRA\n3,carol\n")
    val r = exec("COPY INTO oe_t FROM @oe_stage ON_ERROR = CONTINUE")
    val row = r.rows.head
    val cols = r.columns.map(_.name)
    assert(row(cols.indexOf("rows_loaded")) == 2L, r.rows)
    assert(row(cols.indexOf("errors_seen")) == 1L, r.rows)
    assert(row(cols.indexOf("status")) == "PARTIALLY_LOADED", r.rows)
    assert(exec("SELECT COUNT(*) AS n FROM oe_t").rows.head.head == 2L)
  }

  test("28 query history is SQL-queryable with status and elapsed") {
    exec("CREATE TABLE qh_t (id INTEGER)")
    exec("INSERT INTO qh_t VALUES (1), (2)")
    intercept[SnowflakeError](exec("SELECT nope FROM qh_t"))
    val r = exec(
      """SELECT query_id, query_text, execution_status, rows_produced
         FROM TABLE(INFORMATION_SCHEMA.QUERY_HISTORY())
         WHERE query_text LIKE '%qh_t%' AND query_text NOT LIKE '%QUERY_HISTORY%'
         ORDER BY start_time""")
    val statuses = r.rows.map(row => (row(1).toString, row(2)))
    assert(statuses.exists { case (t, s) => t.startsWith("INSERT") && s == "SUCCESS" })
    assert(statuses.exists { case (t, s) => t.startsWith("SELECT nope") && s == "FAILED" })
    // aggregation over history works too (it is a real relation)
    val agg = exec(
      """SELECT execution_status, COUNT(*) AS n
         FROM INFORMATION_SCHEMA.QUERY_HISTORY
         GROUP BY execution_status""")
    assert(agg.rows.nonEmpty)
    // elapsed column is a non-negative number for completed statements
    val el = exec(
      """SELECT total_elapsed_time FROM INFORMATION_SCHEMA.QUERY_HISTORY
         WHERE execution_status = 'SUCCESS' LIMIT 1""")
    assert(el.rows.head.head.asInstanceOf[Long] >= 0L)
  }

  test("29 session context functions + EXPLAIN") {
    val r = exec("SELECT CURRENT_DATABASE() AS db, CURRENT_SCHEMA() AS sc, CURRENT_ROLE() AS rl")
    assert(r.rows.head == Seq("TEST_DB", "PUBLIC", "ACCOUNTADMIN"), r.rows)
    exec("CREATE TABLE ex_t (id INTEGER)")
    val ex = exec("EXPLAIN SELECT * FROM ex_t WHERE id > 1")
    assert(ex.rows.nonEmpty)
    assert(ex.rows.map(_.mkString).mkString.contains("Physical Plan"), ex.rows)
  }

  test("30 QUALIFY filters on window expressions") {
    exec("CREATE TABLE ql_t (grp VARCHAR(10), id INTEGER, v NUMBER(5,2))")
    exec("""INSERT INTO ql_t VALUES
        ('a', 1, 10.0), ('a', 2, 30.0), ('a', 3, 20.0),
        ('b', 4, 5.0), ('b', 5, 50.0)""")
    // top row per group
    val r = exec(
      """SELECT grp, id, v FROM ql_t
         QUALIFY ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v DESC) = 1
         ORDER BY grp""")
    assert(r.rows.map(row => (row.head, row(1))) == Seq(("a", 2), ("b", 5)), r.rows)
    // marker column must not leak into the result
    assert(r.columns.map(_.name.toLowerCase) == Seq("grp", "id", "v"))
    // QUALIFY with LIMIT suffix
    val l = exec(
      """SELECT grp, id FROM ql_t
         QUALIFY RANK() OVER (PARTITION BY grp ORDER BY v DESC) <= 2
         ORDER BY grp, id LIMIT 3""")
    assert(l.rows.size == 3, l.rows)
  }

  test("37 QUALIFY nested in derived tables and CTE bodies") {
    exec("CREATE TABLE qn_t (grp VARCHAR(10), id INTEGER, v NUMBER(5,2))")
    exec("""INSERT INTO qn_t VALUES
        ('a', 1, 10.0), ('a', 2, 30.0), ('a', 3, 20.0),
        ('b', 4, 5.0), ('b', 5, 50.0)""")
    // QUALIFY inside a derived table
    val d = exec(
      """SELECT grp, id FROM (
           SELECT grp, id, v FROM qn_t
           QUALIFY ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v DESC) = 1
         ) t ORDER BY grp""")
    assert(d.rows.map(r => (r.head, r(1))) == Seq(("a", 2), ("b", 5)), d.rows)
    assert(d.columns.map(_.name.toLowerCase) == Seq("grp", "id"))
    // QUALIFY inside a CTE body, with an outer aggregate over it
    val c = exec(
      """WITH best AS (
           SELECT grp, id, v FROM qn_t
           QUALIFY RANK() OVER (PARTITION BY grp ORDER BY v DESC) <= 2
         )
         SELECT grp, COUNT(*) AS n FROM best GROUP BY grp ORDER BY grp""")
    assert(c.rows.map(r => (r.head, r(1))) == Seq(("a", 2), ("b", 2)), c.rows)
    // nested + outer QUALIFY at once: outer filters over the CTE's result
    val b = exec(
      """WITH best AS (
           SELECT grp, id, v FROM qn_t
           QUALIFY ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v DESC) <= 2
         )
         SELECT grp, id FROM best
         QUALIFY ROW_NUMBER() OVER (PARTITION BY grp ORDER BY id) = 1
         ORDER BY grp""")
    assert(b.rows.map(r => (r.head, r(1))) == Seq(("a", 2), ("b", 4)), b.rows)
  }

  test("38 ALTER TABLE ADD / DROP / RENAME COLUMN with data preserved") {
    exec("CREATE TABLE ac_t (id INTEGER, a VARCHAR(10), b NUMBER(5,2))")
    exec("INSERT INTO ac_t VALUES (1, 'x', 1.5), (2, 'y', 2.5)")
    // ADD stays a pass-through (works on parquet tables)
    exec("ALTER TABLE ac_t ADD COLUMN c INTEGER")
    val d1 = exec("DESCRIBE TABLE ac_t")
    assert(d1.rows.map(_.head.toString.toLowerCase) == Seq("id", "a", "b", "c"), d1.rows)
    // DROP COLUMN is copy-on-write (Spark v1 tables reject it natively)
    exec("ALTER TABLE ac_t DROP COLUMN a, c")
    val d2 = exec("DESCRIBE TABLE ac_t")
    assert(d2.rows.map(_.head.toString.toLowerCase) == Seq("id", "b"), d2.rows)
    val r = exec("SELECT id, b FROM ac_t ORDER BY id")
    assert(r.rows.map(_.head) == Seq(1, 2), r.rows)
    assert(r.rows.map(_(1).toString) == Seq("1.50", "2.50"), r.rows)
    // RENAME COLUMN, also copy-on-write
    exec("ALTER TABLE ac_t RENAME COLUMN b TO amount")
    val d3 = exec("DESCRIBE TABLE ac_t")
    assert(d3.rows.map(_.head.toString.toLowerCase) == Seq("id", "amount"), d3.rows)
    val r2 = exec("SELECT SUM(amount) AS s FROM ac_t")
    assert(r2.rows.head.head.toString == "4.00", r2.rows)
    // dropping an unknown column is a compilation error
    intercept[SnowflakeError] { exec("ALTER TABLE ac_t DROP COLUMN nope") }
    // dropping every remaining column is refused
    intercept[SnowflakeError] { exec("ALTER TABLE ac_t DROP COLUMN id, amount") }
  }

  test("39 SQL comments: leading, inline, and line comments execute cleanly") {
    exec("CREATE TABLE cm_t (id INTEGER, name VARCHAR(20))")
    exec("/* tool header */ INSERT INTO cm_t VALUES (1, 'a'), (2, 'b')")
    // leading block comment on a query (reference exercises inline forms,
    // `integration_test.go` IFF/NVL comment cases)
    val r = exec("/* hint */ SELECT /* mid */ id, name FROM cm_t ORDER BY id")
    assert(r.rows.map(_.head) == Seq(1, 2), r.rows)
    // line comment ahead of the statement
    val l = exec("-- generated\nSELECT COUNT(*) AS n FROM cm_t")
    assert(l.rows.head.head == 2L, l.rows)
    // leading comment before SHOW still routes to the SHOW surface
    val s = exec("/* c */ SHOW TABLES")
    assert(s.rows.exists(_.exists(v => v != null &&
      v.toString.equalsIgnoreCase("cm_t"))), s.rows.take(5))
  }

  test("40 ALTER TABLE RENAME TO moves data and catalog entry") {
    exec("CREATE TABLE rn_t (id INTEGER, v VARCHAR(10))")
    exec("INSERT INTO rn_t VALUES (1, 'a'), (2, 'b')")
    val r = exec("ALTER TABLE rn_t RENAME TO rn_t2")
    assert(r.rows.head.head.toString.contains("renamed"), r.rows)
    val sel = exec("SELECT COUNT(*) AS n FROM rn_t2")
    assert(sel.rows.head.head == 2L, sel.rows)
    // the old name is gone from catalog and engine
    intercept[SnowflakeError] { exec("SELECT * FROM rn_t") }
    val shown = exec("SHOW TABLES")
    val names = shown.rows.flatMap(_.map(v => Option(v).map(_.toString.toUpperCase)))
    assert(names.flatten.contains("RN_T2"), names.take(10))
    assert(!names.flatten.contains("RN_T"), names.take(10))
    // renaming onto an existing table is refused
    exec("CREATE TABLE rn_t3 (id INTEGER)")
    intercept[SnowflakeError] { exec("ALTER TABLE rn_t2 RENAME TO rn_t3") }
    // and the source survived the refused rename
    assert(exec("SELECT COUNT(*) AS n FROM rn_t2").rows.head.head == 2L)
    // ROLLBACK undoes a rename: old name restored, new name dropped
    exec("BEGIN")
    exec("ALTER TABLE rn_t2 RENAME TO rn_tx")
    assert(exec("SELECT COUNT(*) AS n FROM rn_tx").rows.head.head == 2L)
    exec("ROLLBACK")
    assert(exec("SELECT COUNT(*) AS n FROM rn_t2").rows.head.head == 2L)
    intercept[SnowflakeError] { exec("SELECT * FROM rn_tx") }
  }

  test("41 numeric/variant conveniences: TO_NUMBER, TRY_*, DIV0, GET_PATH, ARRAY_CONSTRUCT") {
    val r = exec(
      """SELECT TO_NUMBER('42') AS a, TO_NUMBER('3.75', 10, 2) AS b,
           TRY_TO_NUMBER('oops') AS c, TO_DOUBLE('2.5') AS d,
           TRY_TO_DOUBLE('nah') AS e, DIV0(10, 0) AS f, DIV0(10, 4) AS g,
           NULLIFZERO(0) AS h, NULLIFZERO(7) AS i""")
    val row = r.rows.head
    assert(row(0).toString == "42", row)
    assert(row(1).toString == "3.75", row)
    assert(row(2) == null, row)
    assert(row(3) == 2.5, row)
    assert(row(4) == null, row)
    assert(row(5) == 0.0 && row(6) == 2.5, row)
    assert(row(7) == null && row(8) == 7, row)
    // try date/timestamp: bare and Snowflake-format forms
    val t = exec(
      """SELECT TRY_TO_DATE('2024-03-05') AS d1,
           TRY_TO_DATE('05/03/2024', 'DD/MM/YYYY') AS d2,
           TRY_TO_DATE('garbage', 'DD/MM/YYYY') AS d3,
           TRY_TO_TIMESTAMP('2024-03-05 10:30:00') AS t1,
           TRY_TO_TIMESTAMP('nope') AS t2""")
    val tr = t.rows.head
    assert(tr(0).toString == "2024-03-05", tr)
    assert(tr(1).toString == "2024-03-05", tr)
    assert(tr(2) == null && tr(4) == null, tr)
    assert(tr(3).toString.startsWith("2024-03-05"), tr)
    // variant constructors and path access
    val v = exec(
      """SELECT ARRAY_CONSTRUCT(1, 2, 3) AS arr,
           OBJECT_KEYS('{"a": 1, "b": 2}') AS ks,
           GET_PATH('{"a": {"b": 42}}', 'a.b') AS p""")
    val vr = v.rows.head
    assert(vr(0).toString == "[1,2,3]", vr)
    assert(vr(1).toString.contains("a") && vr(1).toString.contains("b"), vr)
    assert(vr(2).toString == "42", vr)
    // uuid_string returns 36-char v4 text
    val u = exec("SELECT UUID_STRING() AS u")
    assert(u.rows.head.head.toString.length == 36, u.rows)
  }

  test("41b TRY_PARSE_JSON, OBJECT_INSERT, ZEROIFNULL") {
    val r = exec(
      """SELECT TRY_PARSE_JSON('{"a": 1}') AS ok,
           TRY_PARSE_JSON('not json') AS bad,
           ZEROIFNULL(NULL) AS z0, ZEROIFNULL(9) AS z9,
           OBJECT_INSERT('{"a":1}', 'b', 2) AS ins,
           OBJECT_INSERT('{"a":1}', 'a', 5, TRUE) AS upd,
           OBJECT_INSERT('{"a":1}', 's', 'txt') AS str""")
    val row = r.rows.head
    assert(row(0).toString.replaceAll("\\s", "") == """{"a":1}""", row)
    assert(row(1) == null, row)
    assert(row(2) == 0 && row(3) == 9, row)
    assert(row(4).toString == """{"a":1,"b":2}""", row)
    assert(row(5).toString == """{"a":5}""", row)
    assert(row(6).toString == """{"a":1,"s":"txt"}""", row)
    // duplicate key without the update flag is an error, like Snowflake
    val e = intercept[SnowflakeError](
      exec("""SELECT OBJECT_INSERT('{"a":1}', 'a', 2) AS boom"""))
    assert(e.getMessage.toLowerCase.contains("already exists"), e.getMessage)
  }

  test("42 RESULT_SCAN re-queries retained results; LAST_QUERY_ID resolves") {
    exec("CREATE TABLE rs_t (id INTEGER, v VARCHAR(10))")
    exec("INSERT INTO rs_t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val first = exec("SELECT id, v FROM rs_t WHERE id <= 2 ORDER BY id")
    assert(first.rows.size == 2)
    // by explicit query id — full result with schema, further filterable
    val scanned = exec(
      s"SELECT v FROM TABLE(RESULT_SCAN('${first.queryId}')) WHERE id = 2")
    assert(scanned.rows.map(_.head) == Seq("b"), scanned.rows)
    // bare function form without TABLE()
    val bare = exec(s"SELECT COUNT(*) AS n FROM RESULT_SCAN('${first.queryId}')")
    assert(bare.rows.head.head == 2L, bare.rows)
    // LAST_QUERY_ID() points at the immediately preceding statement
    val prev = exec("SELECT id FROM rs_t WHERE id = 3")
    assert(prev.rows.size == 1)
    val viaLast = exec("SELECT * FROM TABLE(RESULT_SCAN(LAST_QUERY_ID()))")
    assert(viaLast.rows.map(_.head) == Seq(3), viaLast.rows)
    // unknown id is a compilation error
    intercept[SnowflakeError] { exec("SELECT * FROM TABLE(RESULT_SCAN('01ffffffff'))") }
  }

  test("43 GENERATOR(ROWCOUNT) and SEQ4 produce distributed row sequences") {
    val r = exec("SELECT SEQ4() AS s FROM TABLE(GENERATOR(ROWCOUNT => 5)) ORDER BY s")
    assert(r.rows.map(_.head) == Seq(0L, 1L, 2L, 3L, 4L), r.rows)
    val agg = exec(
      "SELECT COUNT(*) AS n, SUM(SEQ8()) AS total FROM TABLE(GENERATOR(ROWCOUNT => 100))")
    assert(agg.rows.head == Seq(100L, 4950L), agg.rows)
    // generator joined against a real table
    exec("CREATE TABLE gen_t (id INTEGER)")
    exec("INSERT INTO gen_t VALUES (0), (1), (2)")
    val j = exec(
      """SELECT g.id AS s FROM TABLE(GENERATOR(ROWCOUNT => 10)) g
         JOIN gen_t t ON g.id = t.id ORDER BY s""")
    assert(j.rows.map(_.head) == Seq(0L, 1L, 2L), j.rows)
  }

  test("43b GENERATOR feeds INSERT ... SELECT and CTAS") {
    exec("CREATE TABLE gen_ins (id INTEGER, v INTEGER)")
    val ins = exec(
      "INSERT INTO gen_ins SELECT SEQ4(), SEQ4() * 2 FROM TABLE(GENERATOR(ROWCOUNT => 50))")
    assert(ins.rowsAffected.contains(50L), ins)
    assert(exec("SELECT SUM(v) AS s FROM gen_ins").rows.head.head == 2450L)
    exec("CREATE TABLE gen_ctas AS SELECT SEQ8() AS id FROM TABLE(GENERATOR(ROWCOUNT => 7))")
    assert(exec("SELECT COUNT(*), MAX(id) FROM gen_ctas").rows.head == Seq(7L, 6L))
  }

  test("44 SPLIT_TO_TABLE, PIVOT and UNPIVOT") {
    exec("CREATE TABLE stt_t (id INTEGER, csv VARCHAR(50))")
    exec("INSERT INTO stt_t VALUES (1, 'a,b,c'), (2, 'x,y')")
    val st = exec(
      """SELECT id, f.index, f.value FROM stt_t,
         TABLE(SPLIT_TO_TABLE(csv, ',')) f ORDER BY id, f.index""")
    assert(st.rows.size == 5, st.rows)
    assert(st.rows.head == Seq(1, 0, "a") && st.rows.last == Seq(2, 1, "y"), st.rows)
    // Snowflake-style PIVOT parses natively on Spark
    exec("CREATE TABLE pv_t (grp VARCHAR(5), k VARCHAR(5), v INTEGER)")
    exec("""INSERT INTO pv_t VALUES
        ('g1', 'a', 1), ('g1', 'b', 2), ('g2', 'a', 3), ('g2', 'b', 4)""")
    val pv = exec(
      """SELECT * FROM pv_t PIVOT (SUM(v) FOR k IN ('a', 'b')) ORDER BY grp""")
    assert(pv.rows.size == 2, pv.rows)
    assert(pv.rows.head.drop(1) == Seq(1L, 2L), pv.rows)
    // UNPIVOT back to long form
    exec("CREATE TABLE upv_t (id INTEGER, a INTEGER, b INTEGER)")
    exec("INSERT INTO upv_t VALUES (1, 10, 20)")
    val up = exec(
      """SELECT id, k, v FROM upv_t UNPIVOT (v FOR k IN (a, b)) ORDER BY k""")
    assert(up.rows == Seq(Seq(1, "a", 10), Seq(1, "b", 20)), up.rows)
  }

  test("45 CREATE TABLE CLONE snapshots data independently") {
    exec("CREATE TABLE cl_src (id INTEGER, v VARCHAR(10))")
    exec("INSERT INTO cl_src VALUES (1, 'a'), (2, 'b')")
    exec("CREATE TABLE cl_dst CLONE cl_src")
    assert(exec("SELECT COUNT(*) AS n FROM cl_dst").rows.head.head == 2L)
    // the clone is point-in-time: later writes to the source don't leak
    exec("INSERT INTO cl_src VALUES (3, 'c')")
    assert(exec("SELECT COUNT(*) AS n FROM cl_dst").rows.head.head == 2L)
    assert(exec("SELECT COUNT(*) AS n FROM cl_src").rows.head.head == 3L)
    // and writes to the clone don't touch the source
    exec("DELETE FROM cl_dst WHERE id = 1")
    assert(exec("SELECT COUNT(*) AS n FROM cl_src").rows.head.head == 3L)
    // clone onto an existing name requires OR REPLACE
    intercept[SnowflakeError] { exec("CREATE TABLE cl_dst CLONE cl_src") }
    exec("CREATE OR REPLACE TABLE cl_dst CLONE cl_src")
    assert(exec("SELECT COUNT(*) AS n FROM cl_dst").rows.head.head == 3L)
  }

  test("46 UNDROP TABLE restores the most recent drop with data intact") {
    exec("CREATE TABLE ud_t (id INTEGER, v VARCHAR(10))")
    exec("INSERT INTO ud_t VALUES (1, 'a'), (2, 'b')")
    exec("DROP TABLE ud_t")
    intercept[SnowflakeError] { exec("SELECT * FROM ud_t") }
    val r = exec("UNDROP TABLE ud_t")
    assert(r.rows.head.head.toString.contains("restored"), r.rows)
    val sel = exec("SELECT id, v FROM ud_t ORDER BY id")
    assert(sel.rows == Seq(Seq(1, "a"), Seq(2, "b")), sel.rows)
    // a second UNDROP of the same drop is refused (retention consumed)
    exec("DROP TABLE ud_t")
    exec("UNDROP TABLE ud_t")
    intercept[SnowflakeError] { exec("UNDROP TABLE ud_t") }
    // UNDROP when a new table took the name is refused, retention kept
    exec("DROP TABLE ud_t")
    exec("CREATE TABLE ud_t (x INTEGER)")
    intercept[SnowflakeError] { exec("UNDROP TABLE ud_t") }
    exec("DROP TABLE ud_t")
    exec("UNDROP TABLE ud_t") // restores the REPLACEMENT (most recent drop)
    val d = exec("DESCRIBE TABLE ud_t")
    assert(d.rows.map(_.head.toString.toLowerCase) == Seq("x"), d.rows)
  }

  test("47 streams on tables: delta tracking and DML consumption") {
    exec("CREATE TABLE st_src (id INTEGER, v VARCHAR(10))")
    exec("INSERT INTO st_src VALUES (1, 'a')")
    exec("CREATE STREAM st_delta ON TABLE st_src")
    // freshly created stream is empty
    assert(exec("SELECT COUNT(*) AS n FROM st_delta").rows.head.head == 0L)
    // inserts surface as INSERT actions
    exec("INSERT INTO st_src VALUES (2, 'b'), (3, 'c')")
    val ins = exec(
      """SELECT id, "METADATA$ACTION" FROM st_delta ORDER BY id""")
    assert(ins.rows.map(r => (r.head, r(1))) ==
      Seq((2, "INSERT"), (3, "INSERT")), ins.rows)
    // deletes surface as DELETE actions
    exec("DELETE FROM st_src WHERE id = 1")
    val del = exec(
      """SELECT id, "METADATA$ACTION" AS act FROM st_delta ORDER BY act, id""")
    assert(del.rows.map(r => (r.head, r(1))) ==
      Seq((1, "DELETE"), (2, "INSERT"), (3, "INSERT")), del.rows)
    // consuming the stream in a DML advances the baseline
    exec("CREATE TABLE st_sink (id INTEGER, v VARCHAR(10))")
    val consumed = exec(
      """INSERT INTO st_sink SELECT id, v FROM st_delta
         WHERE "METADATA$ACTION" = 'INSERT'""")
    assert(consumed.rowsAffected.contains(2L) || consumed.rows.nonEmpty, consumed)
    assert(exec("SELECT COUNT(*) AS n FROM st_sink").rows.head.head == 2L)
    assert(exec("SELECT COUNT(*) AS n FROM st_delta").rows.head.head == 0L)
    // CTAS reading a stream also consumes it, after the write lands
    exec("INSERT INTO st_src VALUES (9, 'z')")
    assert(exec("SELECT COUNT(*) AS n FROM st_delta").rows.head.head == 1L)
    exec("""CREATE TABLE st_ctas AS SELECT id, v FROM st_delta""")
    assert(exec("SELECT COUNT(*) AS n FROM st_ctas").rows.head.head == 1L)
    assert(exec("SELECT COUNT(*) AS n FROM st_delta").rows.head.head == 0L)
    // SHOW STREAMS lists it; DROP STREAM removes it
    val shown = exec("SHOW STREAMS")
    assert(shown.rows.exists(_.head.toString.equalsIgnoreCase("st_delta")), shown.rows)
    exec("DROP STREAM st_delta")
    intercept[SnowflakeError] { exec("DROP STREAM st_delta") }
    // APPEND_ONLY stream surfaces inserts only
    exec("CREATE STREAM st_ao ON TABLE st_src APPEND_ONLY = TRUE")
    exec("INSERT INTO st_src VALUES (7, 'g')")
    exec("DELETE FROM st_src WHERE id = 2")
    val ao = exec("""SELECT id, "METADATA$ACTION" AS act FROM st_ao ORDER BY id""")
    assert(ao.rows.map(r => (r.head, r(1))) == Seq((7, "INSERT")), ao.rows)
    exec("DROP STREAM st_ao")
  }

  test("48 time travel: AT/BEFORE STATEMENT and AT OFFSET") {
    exec("CREATE TABLE tt_t (id INTEGER, v VARCHAR(10))")
    val ins1 = exec("INSERT INTO tt_t VALUES (1, 'a'), (2, 'b')")
    val upd = exec("UPDATE tt_t SET v = 'z' WHERE id = 2")
    exec("DELETE FROM tt_t WHERE id = 1")
    // current state: one row (2, 'z')
    assert(exec("SELECT COUNT(*) AS n FROM tt_t").rows.head.head == 1L)
    // AT the insert statement: both original rows
    val atIns = exec(
      s"SELECT id, v FROM tt_t AT(STATEMENT => '${ins1.queryId}') ORDER BY id")
    assert(atIns.rows == Seq(Seq(1, "a"), Seq(2, "b")), atIns.rows)
    // AT the update: both rows, v updated
    val atUpd = exec(
      s"SELECT v FROM tt_t AT(STATEMENT => '${upd.queryId}') WHERE id = 2")
    assert(atUpd.rows.head.head == "z", atUpd.rows)
    // BEFORE the update = the insert's post-state
    val before = exec(
      s"SELECT v FROM tt_t BEFORE(STATEMENT => '${upd.queryId}') WHERE id = 2")
    assert(before.rows.head.head == "b", before.rows)
    // time-travel relation joins with the current table
    val joined = exec(
      s"""SELECT COUNT(*) AS n FROM tt_t cur
          JOIN tt_t AT(STATEMENT => '${ins1.queryId}') old ON cur.id = old.id""")
    assert(joined.rows.head.head == 1L, joined.rows)
    // AT(OFFSET => 0) = newest version (now-cutoff includes everything)
    val off = exec("SELECT COUNT(*) AS n FROM tt_t AT(OFFSET => 0)")
    assert(off.rows.head.head == 1L, off.rows)
    // unknown statement id is a compilation error
    intercept[SnowflakeError] {
      exec("SELECT * FROM tt_t AT(STATEMENT => '01deadbeef')")
    }
    // AT(TIMESTAMP => future) = newest version; far past = unavailable
    val fut = exec(
      "SELECT COUNT(*) AS n FROM tt_t AT(TIMESTAMP => '2099-01-01 00:00:00'::TIMESTAMP_NTZ)")
    assert(fut.rows.head.head == 1L, fut.rows)
    intercept[SnowflakeError] {
      exec("SELECT * FROM tt_t AT(TIMESTAMP => '2000-01-01 00:00:00')")
    }
  }

  test("49 GRANT/REVOKE acknowledged; COMMENT ON TABLE stored") {
    exec("CREATE TABLE gr_t (id INTEGER)")
    val g = exec("GRANT SELECT ON TABLE gr_t TO ROLE analyst")
    assert(g.rows.head.head.toString.contains("success"), g.rows)
    exec("REVOKE SELECT ON TABLE gr_t FROM ROLE analyst")
    exec("COMMENT ON TABLE gr_t IS 'it''s a table'")
    val shown = exec("SHOW TABLES")
    val row = shown.rows.find(_.head.toString.equalsIgnoreCase("gr_t")).get
    assert(row.last == "it's a table", row)
    exec("COMMENT ON COLUMN gr_t.id IS 'pk'") // ack'd, not stored
    intercept[SnowflakeError] { exec("COMMENT ON TABLE nope_t IS 'x'") }
  }

  test("50 table identity: streams and time travel across DROP/REPLACE/RENAME") {
    // -- stream goes stale when its source is dropped
    exec("CREATE TABLE id_src (id INTEGER)")
    exec("INSERT INTO id_src VALUES (1)")
    exec("CREATE STREAM id_st ON TABLE id_src")
    exec("DROP TABLE id_src")
    val e1 = intercept[SnowflakeError] { exec("SELECT * FROM id_st") }
    assert(e1.getMessage.toLowerCase.contains("stale"), e1.getMessage)
    val shown = exec("SHOW STREAMS")
    val row = shown.rows.find(_.head.toString.equalsIgnoreCase("id_st")).get
    assert(shown.columns.exists(_.name == "stale") && row.last == "true", row)
    // recreating the source under the same name does NOT revive the stream
    exec("CREATE TABLE id_src (id INTEGER)")
    intercept[SnowflakeError] { exec("SELECT * FROM id_st") }
    exec("DROP STREAM id_st")
    // -- a recreated table must not inherit the old table's history
    exec("INSERT INTO id_src VALUES (1), (2)")
    assert(exec("SELECT COUNT(*) AS n FROM id_src AT(OFFSET => 0)")
      .rows.head.head == 2L)
    exec("DROP TABLE id_src")
    exec("CREATE TABLE id_src (id INTEGER)")
    // fresh table: history starts at its (empty) creation version,
    // NOT the dropped table's two rows
    assert(exec("SELECT COUNT(*) AS n FROM id_src AT(OFFSET => 0)")
      .rows.head.head == 0L)
    // -- CREATE OR REPLACE resets history the same way
    val ins = exec("INSERT INTO id_src VALUES (7)")
    exec("CREATE OR REPLACE TABLE id_src (id INTEGER, v VARCHAR(5))")
    intercept[SnowflakeError] {
      exec(s"SELECT * FROM id_src AT(STATEMENT => '${ins.queryId}')")
    }
    // -- RENAME carries streams and history to the new name
    exec("INSERT INTO id_src VALUES (1, 'a')")
    exec("CREATE STREAM id_st2 ON TABLE id_src")
    val ins2 = exec("INSERT INTO id_src VALUES (2, 'b')")
    exec("ALTER TABLE id_src RENAME TO id_dst")
    // the stream keeps tracking the renamed table: prior insert visible,
    // new inserts under the new name accumulate
    exec("INSERT INTO id_dst VALUES (3, 'c')")
    val delta = exec("SELECT id FROM id_st2 ORDER BY id")
    assert(delta.rows.map(_.head) == Seq(2, 3), delta.rows)
    // time travel resolves under the new name, including pre-rename versions
    val atOld = exec(
      s"SELECT COUNT(*) AS n FROM id_dst AT(STATEMENT => '${ins2.queryId}')")
    assert(atOld.rows.head.head == 2L, atOld.rows)
    exec("DROP STREAM id_st2")
    exec("DROP TABLE id_dst")
  }

  test("31 PUT and GET move files between local paths and stages") {
    exec("CREATE STAGE pg_stage")
    val src = Files.createTempFile("put_src", ".csv")
    Files.writeString(src, "1,alice\n2,bob\n")
    val put = exec(s"PUT file://$src @pg_stage/sub")
    assert(put.rows.head(4) == "UPLOADED", put.rows)
    val listed = exec("LIST @pg_stage")
    assert(listed.rows.map(_.head.toString)
      .contains(s"PG_STAGE/sub/${src.getFileName}"), listed.rows)
    // round-trip through COPY proves the staged bytes are intact
    exec("CREATE TABLE pg_t (id INTEGER, name VARCHAR(20))")
    val copied = exec("COPY INTO pg_t FROM @pg_stage/sub")
    assert(copied.rowsAffected.contains(2L))
    val outDir = Files.createTempDirectory("get_dst")
    val get = exec(s"GET @pg_stage/sub/${src.getFileName} file://$outDir")
    assert(get.rows.head(2) == "DOWNLOADED", get.rows)
    assert(Files.readString(outDir.resolve(src.getFileName.toString)) ==
      "1,alice\n2,bob\n")
    // PUT of a missing file errors with object-not-found
    val e = intercept[SnowflakeError](exec("PUT file:///nope/missing.csv @pg_stage"))
    assert(e.code == SnowflakeError.CodeObjectNotFound)
  }

  test("32 VARIANT path access col:field with :: casts") {
    exec("CREATE TABLE vp_t (id INTEGER, props VARIANT)")
    exec("""INSERT INTO vp_t VALUES
        (1, '{"k": 7, "nest": {"deep": "x"}}'),
        (2, '{"k": 9, "nest": {"deep": "y"}}')""")
    val r = exec(
      "SELECT id, props:k::int AS k, props:nest.deep AS d FROM vp_t ORDER BY id")
    assert(r.rows == Seq(Seq(1, 7, "x"), Seq(2, 9, "y")), r.rows)
    // path in WHERE; a time literal with a colon stays untouched
    val w = exec(
      "SELECT id FROM vp_t WHERE props:k::int > 7 AND 'a:b' = 'a:b'")
    assert(w.rows == Seq(Seq(2)), w.rows)
  }

  test("33 CREATE TABLE LIKE and INSERT OVERWRITE") {
    exec("CREATE TABLE like_src (id INTEGER, v NUMBER(5,2)) CLUSTER BY (id)")
    exec("INSERT INTO like_src VALUES (1, 1.0)")
    exec("CREATE TABLE like_dst LIKE like_src")
    // clone has the columns and cluster key, but no rows
    assert(exec("SELECT COUNT(*) AS n FROM like_dst").rows.head.head == 0L)
    val d = exec("DESCRIBE TABLE like_dst")
    assert(d.rows.map(_.head) == Seq("ID", "V"), d.rows)
    assert(executor.catalog.getTable(
      TableNaming.parse("like_dst", "TEST_DB", "PUBLIC")).get.clusterKey
      .contains("ID"))
    exec("INSERT INTO like_dst VALUES (1, 1.0), (2, 2.0)")
    val ow = exec("INSERT OVERWRITE INTO like_dst VALUES (9, 9.0)")
    assert(ow.rowsAffected.contains(1L))
    val r = exec("SELECT id FROM like_dst")
    assert(r.rows == Seq(Seq(9)), r.rows)
  }

  test("34 TOP n, SAMPLE, DESCRIBE VIEW") {
    exec("CREATE TABLE ts_t (id INTEGER)")
    exec("INSERT INTO ts_t VALUES (5), (3), (1), (4), (2)")
    val top = exec("SELECT TOP 2 id FROM ts_t ORDER BY id")
    assert(top.rows.map(_.head) == Seq(1, 2), top.rows)
    val sampled = exec("SELECT COUNT(*) AS n FROM (SELECT * FROM ts_t SAMPLE (3 ROWS))")
    assert(sampled.rows.head.head == 3L, sampled.rows)
    val pct = exec("SELECT COUNT(*) AS n FROM (SELECT * FROM ts_t SAMPLE (100))")
    assert(pct.rows.head.head == 5L, pct.rows)
    exec("CREATE VIEW ts_v AS SELECT id FROM ts_t")
    val dv = exec("DESCRIBE VIEW ts_v")
    assert(dv.rows.map(_.head) == Seq("ID"), dv.rows)
    exec("DROP VIEW ts_v")
  }

  test("35 TO_DATE / TO_TIMESTAMP / TO_CHAR with Snowflake format tokens") {
    val r = exec(
      """SELECT TO_DATE('2024/01/05', 'YYYY/MM/DD') AS d,
           TO_CHAR(TO_DATE('2024/01/05', 'YYYY/MM/DD'), 'DD.MM.YYYY') AS s,
           TO_CHAR(TO_TIMESTAMP('05-01-2024 13:45:07', 'DD-MM-YYYY HH24:MI:SS'),
                   'YYYY-MM-DD HH24:MI') AS t,
           TO_DATE('2024-02-03') AS plain""")
    assert(r.rows.head(0).toString == "2024-01-05", r.rows)
    assert(r.rows.head(1) == "05.01.2024", r.rows)
    assert(r.rows.head(2) == "2024-01-05 13:45", r.rows)
    assert(r.rows.head(3).toString == "2024-02-03", r.rows)
    // invalid input errors (Snowflake semantics), not silent null
    intercept[SnowflakeError](
      exec("SELECT TO_DATE('not a date', 'YYYY-MM-DD') AS x"))
  }

  test("36 snowflake function surface: charindex/editdistance + Spark-4 natives") {
    val r = exec(
      """SELECT CHARINDEX('lo', 'hello world') AS ci,
           EDITDISTANCE('kitten', 'sitting') AS ed,
           ZEROIFNULL(CAST(NULL AS INT)) AS z,
           EQUAL_NULL(CAST(NULL AS INT), CAST(NULL AS INT)) AS eqn,
           REGEXP_SUBSTR('a1b22c333', '[0-9]+') AS rs,
           STARTSWITH('graft', 'gr') AS sw""")
    assert(r.rows.head == Seq(4, 3, 0, true, "1", true), r.rows)
  }

  test("24 nondeterministic merge surfaces the Snowflake duplicate-row error") {
    exec("CREATE TABLE nd_t (id INTEGER, v NUMBER(5,2))")
    exec("INSERT INTO nd_t VALUES (1, 1.0)")
    exec("CREATE TABLE nd_s (id INTEGER, v NUMBER(5,2))")
    exec("INSERT INTO nd_s VALUES (1, 2.0), (1, 3.0)")
    val e = intercept[SnowflakeError] {
      exec("""MERGE INTO nd_t USING nd_s ON nd_t.id = nd_s.id
              WHEN MATCHED THEN UPDATE SET v = nd_s.v""")
    }
    assert(e.code == SnowflakeError.CodeSQLExecutionError)
    assert(e.getMessage.contains("Duplicate row detected"), e.getMessage)
  }

  test("51 MERGE consumes streams; bare stream as the USING source") {
    exec("CREATE TABLE ms_src (id INTEGER, v VARCHAR(10))")
    exec("INSERT INTO ms_src VALUES (1, 'a')")
    exec("CREATE TABLE ms_tgt (id INTEGER, v VARCHAR(10))")
    exec("INSERT INTO ms_tgt VALUES (1, 'old')")
    exec("CREATE STREAM ms_st ON TABLE ms_src")
    exec("INSERT INTO ms_src VALUES (3, 'c')")
    // bare (non-parenthesized) stream name as the USING source — the
    // canonical incremental-CDC MERGE shape
    val m = exec("""MERGE INTO ms_tgt t USING ms_st s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    assert(m.rowsAffected.contains(1L), m.rowsAffected)
    assert(exec("SELECT v FROM ms_tgt WHERE id = 3").rows.head.head == "c")
    // the MERGE consumed the stream: re-running must be a no-op, not a
    // silent re-application of the same CDC rows
    assert(exec("SELECT COUNT(*) AS n FROM ms_st").rows.head.head == 0L)
    // subquery USING form consumes too
    exec("INSERT INTO ms_src VALUES (4, 'd')")
    val m2 = exec("""MERGE INTO ms_tgt t USING (
          SELECT id, v FROM ms_st WHERE "METADATA$ACTION" = 'INSERT') s
        ON t.id = s.id
        WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    assert(m2.rowsAffected.contains(1L), m2.rowsAffected)
    assert(exec("SELECT COUNT(*) AS n FROM ms_st").rows.head.head == 0L)
  }

  test("52 stream name inside a string literal is neither rewritten nor consumed") {
    exec("CREATE TABLE lit_src (id INTEGER)")
    exec("CREATE STREAM lit_st ON TABLE lit_src")
    exec("INSERT INTO lit_src VALUES (1)")
    assert(exec("SELECT COUNT(*) AS n FROM lit_st").rows.head.head == 1L)
    // a DML whose text mentions the stream name only inside a literal:
    // the value must arrive intact and the pending CDC row must survive
    exec("CREATE TABLE lit_sink (note VARCHAR(50))")
    exec("INSERT INTO lit_sink SELECT 'lit_st pending' FROM lit_src")
    assert(exec("SELECT note FROM lit_sink").rows.head.head == "lit_st pending")
    assert(exec("SELECT COUNT(*) AS n FROM lit_st").rows.head.head == 1L)
  }

  test("52b backslash-escaped quote does not end the literal span early") {
    exec("CREATE TABLE esc_src (id INTEGER)")
    exec("CREATE STREAM esc_st ON TABLE esc_src")
    exec("INSERT INTO esc_src VALUES (1)")
    assert(exec("SELECT COUNT(*) AS n FROM esc_st").rows.head.head == 1L)
    // the \' must not end the span: esc_st here is still INSIDE the
    // literal — before the fix the scanner closed the span at the escaped
    // quote and the stream was wrongly rewritten and consumed
    exec("CREATE TABLE esc_sink (note VARCHAR(50))")
    exec("""INSERT INTO esc_sink SELECT 'don\'t touch esc_st' FROM esc_src""")
    assert(exec("SELECT note FROM esc_sink").rows.head.head == "don't touch esc_st")
    assert(exec("SELECT COUNT(*) AS n FROM esc_st").rows.head.head == 1L)
  }

  test("53 SPLIT_TO_TABLE with a trailing keyword instead of an alias") {
    exec("CREATE TABLE stt_kw (id INTEGER, csv VARCHAR(50))")
    exec("INSERT INTO stt_kw VALUES (1, 'a b c'), (2, 'd e')")
    // no alias: the following WHERE must not be captured as one
    val r = exec("""SELECT id, f.value AS part FROM stt_kw,
        TABLE(SPLIT_TO_TABLE(csv, ' ')) WHERE id = 1 ORDER BY part""")
    assert(r.rows.map(_(1)) == Seq("a", "b", "c"), r.rows)
    // explicit alias still wins
    val r2 = exec("""SELECT id, g.value AS part FROM stt_kw,
        TABLE(SPLIT_TO_TABLE(csv, ' ')) g WHERE id = 2 ORDER BY part""")
    assert(r2.rows.map(_(1)) == Seq("d", "e"), r2.rows)
  }

  test("56 session variables: SET/$ref/UNSET/SHOW VARIABLES, typed splicing") {
    exec("SET min_score = 80")
    exec("SET who = 'O''Brien'")
    // $refs splice as typed literals into any statement
    exec("CREATE OR REPLACE TABLE sv_t AS SELECT * FROM VALUES " +
      "(1, 85.0, 'O''Brien'), (2, 75.0, 'Smith') AS t(id, score, name)")
    val r = exec("SELECT id FROM sv_t WHERE score >= $min_score AND name = $who")
    assert(r.rows.map(_.head) == Seq(1), r.rows)
    // expressions (incl. other $vars and subqueries) evaluate through the
    // full SELECT chain; multi-assign sets both
    exec("SET bar = $min_score + 20")
    exec("SET (lo, hi) = ((SELECT MIN(score) FROM sv_t), (SELECT MAX(score) FROM sv_t))")
    val r2 = exec("SELECT $bar AS b, $lo AS l, $hi AS h")
    // VALUES decimals stay DECIMAL end to end: the typed splice keeps
    // Snowflake NUMBER semantics, so compare canonically
    assert(r2.rows.head.map(String.valueOf) == Seq("100", "75.0", "85.0"), r2.rows)
    // SHOW VARIABLES lists name/value/type; names are case-insensitive
    val shown = exec("SHOW VARIABLES")
    val names = shown.rows.map(_.head.toString)
    assert(Seq("BAR", "HI", "LO", "MIN_SCORE", "WHO").forall(names.contains), names)
    val whoRow = shown.rows.find(_.head == "WHO").get
    assert(whoRow(1) == "O'Brien" && whoRow(2) == "TEXT", whoRow)
    // a $ inside a string literal or an identifier is never substituted
    val lit = exec("SELECT '$who' AS s")
    assert(lit.rows.head.head == "$who", lit.rows)
    // UNSET removes; an undefined reference is the Snowflake error
    exec("UNSET (min_score, bar)")
    exec("UNSET who")
    val e = intercept[SnowflakeError] { exec("SELECT $who") }
    assert(e.getMessage.contains("Session variable '$WHO' does not exist"),
      e.getMessage)
    // variables are per-session: another session does not see ours
    val other = Executor.Context("sess_other", "TEST_DB", "PUBLIC")
    val e2 = intercept[SnowflakeError] {
      executor.execute(other, "SELECT $lo")
    }
    assert(e2.getMessage.contains("does not exist"), e2.getMessage)
    assert(String.valueOf(exec("SELECT $lo").rows.head.head) == "75.0")
  }

  test("57 IDENTIFIER() indirection: variable-supplied object names, injection rejected") {
    exec("CREATE OR REPLACE TABLE idf_t AS SELECT 7 AS v")
    exec("SET tname = 'idf_t'")
    // the dbt pattern: IDENTIFIER($var) as a table name, in SELECT and DML
    val r = exec("SELECT v FROM IDENTIFIER($tname)")
    assert(r.rows.head.head == 7, r.rows)
    exec("INSERT INTO IDENTIFIER($tname) VALUES (8)")
    assert(exec("SELECT COUNT(*) AS n FROM idf_t").rows.head.head == 2L)
    // literal form works without a variable
    assert(exec("SELECT COUNT(*) AS n FROM IDENTIFIER('idf_t')")
      .rows.head.head == 2L)
    // a non-identifier payload must be rejected, not spliced into SQL
    exec("SET evil = 'idf_t WHERE 1=0; DROP TABLE idf_t'")
    val e = intercept[SnowflakeError] {
      exec("SELECT * FROM IDENTIFIER($evil)")
    }
    assert(e.getMessage.contains("invalid identifier"), e.getMessage)
    exec("UNSET tname")
    exec("UNSET evil")
  }

  test("59 ALTER SESSION SET is stored; SHOW PARAMETERS merges over defaults") {
    val before = exec("SHOW PARAMETERS")
    val tz0 = before.rows.find(_.head == "TIMEZONE").get
    assert(tz0(1) == "UTC" && tz0(3) == "", tz0)
    exec("ALTER SESSION SET QUERY_TAG = 'ci-run-7', TIMEZONE = 'America/New_York'")
    val after = exec("SHOW PARAMETERS")
    val tz = after.rows.find(_.head == "TIMEZONE").get
    assert(tz(1) == "America/New_York" && tz(3) == "SESSION", tz)
    assert(after.rows.find(_.head == "QUERY_TAG").get(1) == "ci-run-7")
    exec("ALTER SESSION UNSET TIMEZONE")
    val reset = exec("SHOW PARAMETERS")
    assert(reset.rows.find(_.head == "TIMEZONE").get(1) == "UTC")
    // unknown-but-valid parameters are stored verbatim (Snowflake has
    // hundreds; tools set them freely)
    exec("ALTER SESSION SET WEEK_START = 1")
    assert(exec("SHOW PARAMETERS").rows.exists(r =>
      r.head == "WEEK_START" && r(1) == "1"))
  }

  test("61 SHOW ... LIKE filters by name; TERSE tolerated; SHOW OBJECTS lists tables+views") {
    exec("CREATE OR REPLACE TABLE like_alpha (id INTEGER)")
    exec("CREATE OR REPLACE TABLE like_beta (id INTEGER)")
    exec("CREATE OR REPLACE VIEW like_v AS SELECT id FROM like_alpha")
    val filtered = exec("SHOW TABLES LIKE 'like!_a%'".replace("!", ""))
    assert(filtered.rows.map(_.head.toString.toLowerCase) == Seq("like_alpha"),
      filtered.rows)
    // _ matches exactly one character, case-insensitively
    val one = exec("SHOW TABLES LIKE 'LIKE_BET_'")
    assert(one.rows.map(_.head.toString.toLowerCase) == Seq("like_beta"), one.rows)
    // TERSE is accepted; OBJECTS = tables + views in one listing
    val objs = exec("SHOW TERSE OBJECTS LIKE 'like%'")
    val names = objs.rows.map(_.head.toString.toLowerCase)
    assert(names.contains("like_alpha") && names.contains("like_v"), names)
    val kinds = objs.rows.map(r => (r.head.toString.toLowerCase, r(3).toString))
    assert(kinds.contains(("like_v", "VIEW")), kinds)
  }

  test("60 QUERY_TAG rides on history records and is SQL-queryable") {
    exec("ALTER SESSION SET QUERY_TAG = 'nightly-etl'")
    exec("SELECT 11 AS tagged_probe")
    exec("ALTER SESSION UNSET QUERY_TAG")
    exec("SELECT 12 AS untagged_probe")
    val tagged = exec("""SELECT query_text FROM INFORMATION_SCHEMA.QUERY_HISTORY
      WHERE query_tag = 'nightly-etl' AND query_text LIKE '%tagged_probe%'""")
    assert(tagged.rows.exists(_.head.toString.contains("11")), tagged.rows)
    val untagged = exec("""SELECT query_tag FROM INFORMATION_SCHEMA.QUERY_HISTORY
      WHERE query_text LIKE '%untagged_probe%' AND query_text NOT LIKE '%QUERY_HISTORY%'""")
    assert(untagged.rows.nonEmpty && untagged.rows.forall(_.head == ""), untagged.rows)
  }

  test("58 DESC RESULT: schema of a retained result, by id and LAST_QUERY_ID()") {
    val r = exec("SELECT 1 AS a, 'x' AS b, CAST(2.5 AS DOUBLE) AS c")
    val byId = exec(s"DESC RESULT '${r.queryId}'")
    assert(byId.rows.map(_.head) == Seq("a", "b", "c"), byId.rows)
    assert(byId.rows(1)(1) == "TEXT", byId.rows)
    exec("SELECT 9 AS only_col")
    val byLast = exec("DESCRIBE RESULT LAST_QUERY_ID()")
    assert(byLast.rows.map(_.head) == Seq("only_col"), byLast.rows)
    intercept[SnowflakeError] { exec("DESC RESULT 'no-such-id'") }
  }

  test("54 AT(TIMESTAMP) accepts date-only and offset forms; rejects junk cleanly") {
    exec("CREATE TABLE ttl_t (id INTEGER)")
    exec("INSERT INTO ttl_t VALUES (1)")
    val r = exec("SELECT COUNT(*) AS n FROM ttl_t AT(TIMESTAMP => '2099-01-01')")
    assert(r.rows.head.head == 1L)
    val r2 = exec(
      "SELECT COUNT(*) AS n FROM ttl_t AT(TIMESTAMP => '2099-01-01 00:00:00+00:00')")
    assert(r2.rows.head.head == 1L)
    val e = intercept[SnowflakeError] {
      exec("SELECT * FROM ttl_t AT(TIMESTAMP => 'not-a-time')")
    }
    assert(e.getMessage.contains("Invalid timestamp"), e.getMessage)
  }

  test("62 variable substitution is comment-blind: $word in comments never resolves") {
    // dbt/tool-injected comment headers routinely contain $-words; real
    // Snowflake strips comments before variable resolution
    val r = exec("-- header: $not_a_var and $also_not\nSELECT 1 AS x")
    assert(r.rows.head.head == 1)
    val r2 = exec("/* block $nope\n spanning lines $still_nope */ SELECT 2 AS x")
    assert(r2.rows.head.head == 2)
    // a real reference OUTSIDE the comment still resolves in the same text
    exec("SET c62 = 7")
    val r3 = exec("SELECT $c62 AS x -- trailing $undefined stays text")
    assert(String.valueOf(r3.rows.head.head) == "7", r3.rows)
    // and an undefined reference outside comments still errors
    intercept[SnowflakeError] { exec("SELECT $undefined_c62 -- $c62") }
    exec("UNSET c62")
  }

  test("63 splitStatements is comment-aware; trailing comment-only fragments dropped") {
    assert(Executor.splitStatements("SELECT 1; -- done") == Seq("SELECT 1"))
    assert(Executor.splitStatements("SELECT 1 -- trailing ; semicolon\n, 2")
      == Seq("SELECT 1 -- trailing ; semicolon\n, 2"))
    assert(Executor.splitStatements("/* a;b */ SELECT 1; SELECT 2 /* ; */")
      == Seq("/* a;b */ SELECT 1", "SELECT 2 /* ; */"))
    assert(Executor.splitStatements("SELECT 1;\n-- all done\n/* bye */")
      == Seq("SELECT 1"))
    // quoted semicolons still never split; comment markers inside strings
    // are data
    assert(Executor.splitStatements("SELECT 'a;--b'; SELECT ';/*'")
      == Seq("SELECT 'a;--b'", "SELECT ';/*'"))
  }

  test("64 string variable ending in backslash splices losslessly") {
    exec("""SET winpath = 'C:\\dir\\'""")
    val r = exec("SELECT $winpath AS p, LENGTH($winpath) AS n")
    assert(r.rows.head.head == "C:\\dir\\", r.rows)
    // a SHOW VARIABLES readback displays the raw value
    val shown = exec("SHOW VARIABLES LIKE 'winpath'")
    assert(shown.rows.head(1) == "C:\\dir\\", shown.rows)
    exec("UNSET winpath")
  }

  test("65 ALTER SESSION SET unescapes doubled quotes; trailing comments ignored") {
    exec("ALTER SESSION SET QUERY_TAG = 'it''s a tag'")
    val r = exec("SHOW PARAMETERS LIKE 'QUERY_TAG'")
    assert(r.rows.head(1) == "it's a tag", r.rows)
    // tool-appended annotations after the value are not part of it
    exec("ALTER SESSION SET QUERY_TAG = 'ci-42' -- set by tooling")
    assert(exec("SHOW PARAMETERS LIKE 'QUERY_TAG'").rows.head(1) == "ci-42")
    exec("ALTER SESSION SET WEEK_START = 1 /* iso weeks */")
    assert(exec("SHOW PARAMETERS LIKE 'WEEK_START'").rows.head(1) == "1")
    // a comment-looking sequence INSIDE the quoted value is data
    exec("ALTER SESSION SET QUERY_TAG = 'a -- b'")
    assert(exec("SHOW PARAMETERS LIKE 'QUERY_TAG'").rows.head(1) == "a -- b")
    exec("ALTER SESSION UNSET QUERY_TAG")
    exec("ALTER SESSION UNSET WEEK_START")
  }

  test("66 session close releases vars/params and rolls back an open txn") {
    val dying = Executor.Context("sess_dying", "TEST_DB", "PUBLIC")
    executor.execute(dying, "SET v66 = 42")
    executor.execute(dying, "ALTER SESSION SET QUERY_TAG = 't66'")
    executor.execute(dying, "CREATE OR REPLACE TABLE t66 (id INTEGER)")
    executor.execute(dying, "INSERT INTO t66 VALUES (1)")
    executor.execute(dying, "BEGIN")
    executor.execute(dying, "INSERT INTO t66 VALUES (2)")
    assert(executor.inTransaction("sess_dying"))
    // the lifecycle hook the server wires to SessionManager.onClose
    executor.releaseSessionState("sess_dying")
    assert(!executor.inTransaction("sess_dying"))
    // uncommitted insert rolled back
    val n = exec("SELECT COUNT(*) AS n FROM t66")
    assert(n.rows.head.head == 1L, n.rows)
    // vars gone for that session id
    val e = intercept[SnowflakeError] {
      executor.execute(Executor.Context("sess_dying", "TEST_DB", "PUBLIC"),
        "SELECT $v66")
    }
    assert(e.getMessage.contains("does not exist"), e.getMessage)
  }

  test("68 rewrite triggers inside string literals are data, not syntax") {
    // every textual rewriter must leave quoted spans verbatim: a literal
    // that MENTIONS a rewritable construct is documentation, not SQL
    val lits = Seq(
      "see CURRENT_USER() and CURRENT_DATABASE() docs",
      "IDENTIFIER('not a real; identifier!')",
      "try TABLE(GENERATOR(ROWCOUNT => 3)) and SEQ4()",
      "RESULT_SCAN('0000') or LAST_QUERY_ID()",
      "INFORMATION_SCHEMA.QUERY_HISTORY notes",
      "orders AT(OFFSET => -5) example",
      "SAMPLE (10 ROWS) hint")
    lits.foreach { s =>
      val r = exec(s"SELECT '${s.replace("'", "''")}' AS v")
      assert(r.rows.head.head == s, s"literal corrupted: $s -> ${r.rows.head.head}")
    }
    // and the construct OUTSIDE the literal still rewrites in the same
    // statement
    val mixed = exec(
      "SELECT CURRENT_DATABASE() AS db, 'call CURRENT_DATABASE() here' AS doc")
    assert(mixed.rows.head == Seq("TEST_DB", "call CURRENT_DATABASE() here"),
      mixed.rows)
  }

  test("67 token renewal migrates session state instead of dropping it") {
    val sm = new SessionManager()
    val released = scala.collection.mutable.ArrayBuffer[String]()
    val renamed = scala.collection.mutable.ArrayBuffer[(String, String)]()
    sm.onClose(released += _)
    sm.onRename((o, n) => renamed += ((o, n)))
    val s = sm.create("u")
    val s2 = sm.renew(s.masterToken).get
    assert(renamed == Seq((s.token, s2.token)))
    assert(released.isEmpty, "renew must not fire close listeners")
    assert(sm.validate(s.token).isEmpty && sm.validate(s2.token).isDefined)
    sm.close(s2.token)
    assert(released == Seq(s2.token))
    // executor-side migration moves vars to the new id
    executor.execute(Executor.Context("old_id", "TEST_DB", "PUBLIC"), "SET m67 = 5")
    executor.migrateSessionState("old_id", "new_id")
    val r = executor.execute(Executor.Context("new_id", "TEST_DB", "PUBLIC"),
      "SELECT $m67 AS x")
    assert(String.valueOf(r.rows.head.head) == "5", r.rows)
    intercept[SnowflakeError] {
      executor.execute(Executor.Context("old_id", "TEST_DB", "PUBLIC"), "SELECT $m67")
    }
  }

  test("69 pipeline table functions: TABLE(FN()) = batch entry on same data") {
    val dir = "/root/testdata/sf0.001"
    exec(s"ALTER SESSION SET GRAFT_PIPELINE_DIR = '$dir'")
    // five curated operators from the selection/dedup/retrieval families:
    // the wire row count equals the batch entry's count on the same dir
    val cases = Seq(
      "GOPHER_RULES" -> "p52_gopher_rules",
      "EXACT_DEDUP" -> "p01_dedup_exact",
      "BM25_TOPK" -> "p29_bm25_topk",
      "CORPUS_FILTER" -> "p17_corpus_filter",
      "LM_PERPLEXITY" -> "p53_lm_perplexity",
      "EXACT_QUANTILES" -> "p92_exact_quantiles",
      "TFIDF_KEYWORDS" -> "p95_tfidf_keywords")
    cases.foreach { case (fn, entry) =>
      val wire = exec(s"SELECT COUNT(*) AS n FROM TABLE($fn())").rows.head.head
      val batch = graft.SparkEntry.queries(entry)(spark, dir).count()
      assert(String.valueOf(wire) == batch.toString, s"$fn vs $entry")
    }
    // value-level equality on one operator: every (doc_id, n_words, pass)
    // row of the wire result matches the batch frame
    val batchRows = graft.SparkEntry.queries("p52_gopher_rules")(spark, dir)
      .select("doc_id", "n_words", "pass").collect()
      .map(r => (String.valueOf(r.get(0)), String.valueOf(r.get(1)),
        String.valueOf(r.get(2)))).sorted.toSeq
    val wireRows = exec(
      "SELECT doc_id, n_words, pass FROM TABLE(GOPHER_RULES()) ORDER BY 1").rows
      .map(r => (String.valueOf(r.head), String.valueOf(r(1)),
        String.valueOf(r(2)))).sorted
    assert(wireRows == batchRows)
    // composition: the table function is a real relation — WHERE /
    // aggregation / joins against emulator tables all work over it
    val kept = exec(
      """SELECT COUNT(*) AS n FROM TABLE(GOPHER_RULES()) WHERE pass""").rows.head.head
    val keptBatch = graft.SparkEntry.queries("p52_gopher_rules")(spark, dir)
      .filter("pass").count()
    assert(String.valueOf(kept) == keptBatch.toString)
  }

  test("69d streaming-monitor readbacks: TABLE(AB_MONITOR()/WELCH_MONITOR()) serve the hourly rows") {
    val dir = "/root/testdata/sf0.001"
    exec(s"ALTER SESSION SET GRAFT_PIPELINE_DIR = '$dir'")
    // the readback entries ARE the EventStreams monitor code run over
    // the static events table; the wire rows must match the batch frame
    for ((fn, entry) <- Seq("AB_MONITOR" -> "p109_ab_monitor",
        "WELCH_MONITOR" -> "p110_welch_monitor")) {
      val wire = exec(s"SELECT COUNT(*) AS n FROM TABLE($fn())").rows.head.head
      val batch = graft.SparkEntry.queries(entry)(spark, dir).count()
      assert(String.valueOf(wire) == batch.toString, s"$fn vs $entry")
    }
    // value-level: every hourly z row of the wire result matches batch
    val batchRows = graft.SparkEntry.queries("p109_ab_monitor")(spark, dir)
      .select("hour", "n0", "c1", "z_r").collect()
      .map(r => (0 to 3).map(i => String.valueOf(r.get(i))).mkString("|"))
      .sorted.toSeq
    val wireRows = exec(
      "SELECT hour, n0, c1, z_r FROM TABLE(AB_MONITOR()) ORDER BY hour").rows
      .map(_.map(String.valueOf).mkString("|")).sorted
    assert(wireRows == batchRows)
    // composition: significant is a real two-valued boolean on the wire
    val sig = exec(
      "SELECT COUNT(*) AS n FROM TABLE(AB_MONITOR()) WHERE significant IS NULL")
      .rows.head.head
    assert(String.valueOf(sig) == "0")
  }

  test("69b PIPELINE generic form, literal dir arg, and clean errors") {
    val dir = "/root/testdata/sf0.001"
    // literal dir argument wins over (absent) session parameter
    exec("ALTER SESSION UNSET GRAFT_PIPELINE_DIR")
    val g = exec(s"SELECT COUNT(*) AS n FROM TABLE(PIPELINE('p08_lang_id', '$dir'))")
    assert(g.rows.head.head.toString.toLong > 0L)
    // no dir anywhere: a clean compilation error naming the fix
    val e1 = intercept[SnowflakeError](
      exec("SELECT * FROM TABLE(GOPHER_RULES())"))
    assert(e1.getMessage.contains("GRAFT_PIPELINE_DIR"), e1.getMessage)
    // unknown entry: clean error
    val e2 = intercept[SnowflakeError](
      exec(s"SELECT * FROM TABLE(PIPELINE('p99_nope', '$dir'))"))
    assert(e2.getMessage.contains("unknown pipeline entry"), e2.getMessage)
    // a string literal mentioning the function shape stays data
    val lit = exec("SELECT 'TABLE(GOPHER_RULES())' AS s")
    assert(lit.rows.head.head == "TABLE(GOPHER_RULES())")
    // discoverability: SHOW PIPELINE FUNCTIONS lists every curated alias
    val shown = exec("SHOW PIPELINE FUNCTIONS")
    assert(shown.rows.size == executor.pipelineAliases.size)
    assert(shown.rows.exists(_.head == "GOPHER_RULES"))
  }

  test("69c BM25_SEARCH: parameterized retrieval on the wire") {
    val dir = "/root/testdata/sf0.001"
    // p29's fixed query through the parameterized surface = the batch entry
    val wire = exec(
      s"SELECT doc_id, score_r FROM TABLE(BM25_SEARCH('spark vector merge', '$dir')) ORDER BY score_r DESC, doc_id")
      .rows.map(r => (String.valueOf(r.head), String.valueOf(r(1))))
    val batch = graft.SparkEntry.queries("p29_bm25_topk")(spark, dir)
      .select("doc_id", "score_r").collect()
      .map(r => (String.valueOf(r.get(0)), String.valueOf(r.get(1)))).toSeq
    assert(wire == batch, s"wire ${wire.take(3)} vs batch ${batch.take(3)}")
    // a different query returns a DIFFERENT ranking (the parameter is live)
    val other = exec(
      s"SELECT doc_id FROM TABLE(BM25_SEARCH('window', '$dir'))").rows
    assert(other.nonEmpty && other.map(_.head) != wire.map(_._1))
    // hostile tokens are dropped by the whitelist, never spliced: the
    // query degrades to its sane terms instead of reaching the engine
    // (fixture is self-created only when absent, so the test runs
    // standalone without touching the suite's richer users table)
    val usersCount = scala.util.Try(
      exec("SELECT COUNT(*) AS n FROM users").rows.head.head.toString.toLong)
      .getOrElse(-1L)
    if (usersCount < 0L) exec("CREATE TABLE users (id INTEGER)")
    if (usersCount <= 0L) exec("INSERT INTO users VALUES (999001)")
    val safe = exec(
      s"SELECT COUNT(*) AS n FROM TABLE(BM25_SEARCH('spark '')); DROP TABLE users; --', '$dir'))")
    assert(safe.rows.head.head.toString.toLong > 0L)
    assert(exec("SELECT COUNT(*) AS n FROM users").rows.head.head.toString.toLong > 0L,
      "users must survive an injection attempt")
    // all-hostile query: clean error naming the problem
    val e = intercept[SnowflakeError](
      exec(s"SELECT * FROM TABLE(BM25_SEARCH('%%% ^^', '$dir'))"))
    assert(e.getMessage.contains("no searchable terms"), e.getMessage)
  }

  test("69d BM25_SEARCH: phrases, AND semantics, and the k dial") {
    val dir = "/root/testdata/sf0.001"
    try {
      // the k dial is a live session parameter, clamped
      exec("ALTER SESSION SET GRAFT_BM25_K = 5")
      val five = exec(
        s"SELECT COUNT(*) AS n FROM TABLE(BM25_SEARCH('table', '$dir'))")
      assert(five.rows.head.head.toString.toLong == 5L)
      // AND + phrase through the wire = the oracle-pinned batch entry
      // p29b (same phrases, same conjunctive gate, same k)
      exec("ALTER SESSION SET GRAFT_BM25_K = 30")
      val wire = exec(
        s"""SELECT doc_id, score_r FROM TABLE(BM25_SEARCH('"table hash" AND vector', '$dir')) ORDER BY score_r DESC, doc_id""")
        .rows.map(r => (String.valueOf(r.head), String.valueOf(r(1))))
      val batch = graft.SparkEntry.queries("p29b_bm25_phrase")(spark, dir)
        .select("doc_id", "score_r").collect()
        .map(r => (String.valueOf(r.get(0)), String.valueOf(r.get(1)))).toSeq
      assert(wire == batch, s"wire ${wire.take(3)} vs batch ${batch.take(3)}")
      assert(wire.nonEmpty)
      // OR (the default) admits a superset of the conjunctive result;
      // count SCORING docs (OR mode keeps zero-score rows, like p29)
      exec("ALTER SESSION SET GRAFT_BM25_K = 500")
      val nOr = exec(
        s"""SELECT COUNT(*) AS n FROM TABLE(BM25_SEARCH('"table hash" vector', '$dir')) WHERE score_r > 0""")
        .rows.head.head.toString.toLong
      val nAnd = exec(
        s"""SELECT COUNT(*) AS n FROM TABLE(BM25_SEARCH('"table hash" AND vector', '$dir')) WHERE score_r > 0""")
        .rows.head.head.toString.toLong
      assert(nAnd < nOr, s"AND $nAnd must be a strict subset of OR $nOr here")
      // a phrase is a stricter unit than its words as independent terms
      val asPhrase = exec(
        s"""SELECT doc_id FROM TABLE(BM25_SEARCH('"table hash"', '$dir')) WHERE score_r > 0""").rows.size
      val asTerms = exec(
        s"SELECT doc_id FROM TABLE(BM25_SEARCH('table hash', '$dir')) WHERE score_r > 0").rows.size
      assert(asPhrase < asTerms,
        s"phrase matches ($asPhrase) must be rarer than bag-of-words ($asTerms)")
    } finally exec("ALTER SESSION UNSET GRAFT_BM25_K")
  }
}
