package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** MERGE semantics from the reference's grammar and tests
  * (reference `pkg/query/merge_processor.go:174-272`,
  * `tests/e2e/gosnowflake_test.go:427`): matched-update, matched-delete,
  * conditional clauses in declaration order, not-matched-insert,
  * pass-through for untouched rows, and per-action counts.
  */
class MergeIntoSpec extends SparkSpecBase {
  import spark.implicits._

  private def target = Seq(
    (1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)
  ).toDF("id", "name", "bal")

  private def source = Seq(
    (2, 200.0), (3, -1.0), (4, 400.0)
  ).toDF("sid", "amount")

  test("matched update + not matched insert") {
    val t = target; val s = source
    val out = MergeInto(
      target = t, source = s,
      condition = t("id") === s("sid"),
      matched = Seq(MergeInto.WhenMatched(None,
        MergeInto.Update(Map("bal" -> s("amount"))))),
      notMatched = Seq(MergeInto.WhenNotMatched(None, Map(
        "id" -> s("sid"), "name" -> lit("new"), "bal" -> s("amount"))))
    ).orderBy("id").collect()

    assert(out.map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1, "a", 10.0), (2, "b", 200.0), (3, "c", -1.0), (4, "new", 400.0)))
  }

  test("conditional matched clauses evaluated in declaration order") {
    val t = target; val s = source
    val out = MergeInto(
      target = t, source = s,
      condition = t("id") === s("sid"),
      matched = Seq(
        MergeInto.WhenMatched(Some(s("amount") < 0), MergeInto.Delete),
        MergeInto.WhenMatched(None, MergeInto.Update(Map("bal" -> s("amount")))))
    ).orderBy("id").collect()

    // id=3 matched the delete clause (amount<0); id=2 the update; id=1 kept;
    // id=4 dropped (no insert clause).
    assert(out.map(r => (r.getInt(0), r.getDouble(2))).toSeq ==
      Seq((1, 10.0), (2, 200.0)))
  }

  test("matched row with non-applicable conditions passes through") {
    val t = target; val s = source
    val out = MergeInto(
      target = t, source = s,
      condition = t("id") === s("sid"),
      matched = Seq(MergeInto.WhenMatched(Some(lit(false)),
        MergeInto.Update(Map("bal" -> lit(0.0)))))
    ).orderBy("id").collect()
    assert(out.map(_.getDouble(2)).toSeq == Seq(10.0, 20.0, 30.0))
  }

  test("conditional insert clause filters source-only rows") {
    val t = target; val s = source
    val out = MergeInto(
      target = t, source = s,
      condition = t("id") === s("sid"),
      notMatched = Seq(MergeInto.WhenNotMatched(Some(s("amount") > 1000), Map(
        "id" -> s("sid"), "name" -> lit("new"), "bal" -> s("amount"))))
    ).orderBy("id").collect()
    // amount=400 fails the insert condition -> row dropped
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
  }

  test("run: one pass — counts + cached-plan write, no second join") {
    val t = target; val s = source
    var written: Array[org.apache.spark.sql.Row] = Array.empty
    val c = MergeInto.run(
      target = t, source = s,
      condition = t("id") === s("sid"),
      matched = Seq(MergeInto.WhenMatched(None,
        MergeInto.Update(Map("bal" -> s("amount"))))),
      notMatched = Seq(MergeInto.WhenNotMatched(None, Map(
        "id" -> s("sid"), "name" -> lit("new"), "bal" -> s("amount"))))) { result =>
      // the written plan must read the persisted join, not re-execute it
      val plan = result.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"), s"expected cache reuse in:\n$plan")
      written = result.orderBy("id").collect()
    }
    assert(c == MergeInto.Counts(inserted = 1, updated = 2, deleted = 0))
    assert(written.map(r => (r.getInt(0), r.getDouble(2))).toSeq ==
      Seq((1, 10.0), (2, 200.0), (3, -1.0), (4, 400.0)))
  }

  test("run: duplicate source matches applying an update raise the Snowflake error") {
    val t = target
    val dupSource = Seq((2, 200.0), (2, 201.0)).toDF("sid", "amount")
    val ex = intercept[MergeInto.NondeterministicMergeException] {
      MergeInto.run(
        target = t, source = dupSource,
        condition = t("id") === dupSource("sid"),
        matched = Seq(MergeInto.WhenMatched(None,
          MergeInto.Update(Map("bal" -> dupSource("amount"))))),
        notMatched = Nil) { _ => fail("must not write") }
    }
    assert(ex.getMessage.contains("Duplicate row detected"))
  }

  test("run: pass-through fanout keeps the target row exactly once") {
    val t = target
    // two source rows match id=2 but neither satisfies the clause condition;
    // one matches id=3 and applies -> deterministic, no error, no row growth
    val dupSource = Seq((2, 200.0), (2, 201.0), (3, -5.0)).toDF("sid", "amount")
    var written: Array[org.apache.spark.sql.Row] = Array.empty
    val c = MergeInto.run(
      target = t, source = dupSource,
      condition = t("id") === dupSource("sid"),
      matched = Seq(MergeInto.WhenMatched(Some(dupSource("amount") < 0),
        MergeInto.Update(Map("bal" -> dupSource("amount"))))),
      notMatched = Nil) { result => written = result.orderBy("id").collect() }
    assert(c == MergeInto.Counts(inserted = 0, updated = 1, deleted = 0))
    assert(written.map(r => (r.getInt(0), r.getDouble(2))).toSeq ==
      Seq((1, 10.0), (2, 20.0), (3, -5.0)))
  }

  test("counts reports inserted/updated/deleted") {
    val t = target; val s = source
    val c = MergeInto.counts(
      target = t, source = s,
      condition = t("id") === s("sid"),
      matched = Seq(
        MergeInto.WhenMatched(Some(s("amount") < 0), MergeInto.Delete),
        MergeInto.WhenMatched(None, MergeInto.Update(Map("bal" -> s("amount"))))),
      notMatched = Seq(MergeInto.WhenNotMatched(None, Map("id" -> s("sid")))))
    assert(c == MergeInto.Counts(inserted = 1, updated = 1, deleted = 1))
  }

  test("parser: USING subquery and INSERT VALUES nest parentheses to any depth") {
    // three levels in the source (the subquery, TABLE(, GENERATOR(), three
    // in the VALUES list (the list, COALESCE(, UPPER()
    val m = graft.emulator.MergeParser.parse(
      """MERGE INTO t USING (SELECT SEQ4() AS id FROM TABLE(GENERATOR(ROWCOUNT => 60))) s
         ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET t.name = 'x)'
         WHEN NOT MATCHED THEN INSERT (id, name) VALUES (s.id, COALESCE(s.a, UPPER(s.b)))""")
    assert(m.source == "(SELECT SEQ4() AS id FROM TABLE(GENERATOR(ROWCOUNT => 60)))")
    assert(m.sourceAlias.contains("s"))
    assert(m.onCondition == "t.id = s.id")
    assert(m.whenClauses.map(_.action) == Seq(
      graft.emulator.MergeParser.UpdateAction(Seq("t.name" -> "'x)'")),
      graft.emulator.MergeParser.InsertAction(Seq("id", "name"),
        Seq("s.id", "COALESCE(s.a, UPPER(s.b))"))))
    // a quoted parenthesis does not close the group
    val q = graft.emulator.MergeParser.parse(
      """MERGE INTO t USING (SELECT ')' AS p) s ON t.p = s.p
         WHEN NOT MATCHED THEN INSERT VALUES ('(', s.p)""")
    assert(q.source == "(SELECT ')' AS p)")
    assert(q.whenClauses.map(_.action) ==
      Seq(graft.emulator.MergeParser.InsertAction(Nil, Seq("'('", "s.p"))))
  }

  test("MERGE statement: TABLE(GENERATOR(ROWCOUNT => 60)) source, nested VALUES expressions") {
    import graft.emulator._
    val executor = new Executor(new Catalog(spark),
      new graft.stage.StageManager(java.nio.file.Files.createTempDirectory("graft_stages")),
      new WarehouseManager(), new QueryHistory())
    executor.catalog.createDatabase("MERGE_GEN_DB")
    val ctx = Executor.Context("merge-gen", "MERGE_GEN_DB", "PUBLIC")
    def exec(sql: String) = executor.execute(ctx, sql)
    exec("CREATE TABLE mg_t (id INTEGER, name VARCHAR(20))")
    exec("INSERT INTO mg_t VALUES (0, 'zero')")
    val r = exec(
      """MERGE INTO mg_t t
         USING (SELECT SEQ4() AS id, CAST(NULL AS VARCHAR(20)) AS a, 'x' || SEQ4() AS b
                FROM TABLE(GENERATOR(ROWCOUNT => 60))) s
         ON t.id = s.id
         WHEN NOT MATCHED THEN INSERT (id, name) VALUES (s.id, COALESCE(s.a, UPPER(s.b)))""")
    assert(r.rows.head == Seq(59L, 0L, 0L), r.rows) // inserted, updated, deleted
    assert(exec("SELECT COUNT(*) FROM mg_t").rows.head.head == 60L)
    assert(exec("SELECT name FROM mg_t WHERE id = 7").rows.head.head == "X7")
    assert(exec("SELECT name FROM mg_t WHERE id = 0").rows.head.head == "zero")
  }
}
