package graft

import java.nio.file.Files
import graft.emulator._
import graft.stage.StageManager

/** Tests that observe PROCESS-WIDE session state — the persistent-block
  * accounting of the shared SparkContext — quarantined into their own
  * forked JVM (see `Test / testGrouping` in build.sbt) so the main test
  * group can run its suites concurrently: a foreign suite pinning blocks
  * mid-measurement would fail the leak check spuriously. */
class SessionStateSpec extends SparkSpecBase {

  test("p35 releases its persisted truth sets (no pinned blocks leak)") {
    // p35 persists the two exact truth sets internally; a library caller
    // invoking it directly must not inherit pinned tables in the session
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = SparkEntry.queries("p35_ann_recall")(spark, sf0001)
    assert(df.count() == 10)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"p35 leaked persisted RDDs: ${after -- before}")
  }

  test("protocol-edge result cap: oversized SELECT fails cleanly, capped fetch") {
    val catalog = new Catalog(spark)
    def executor(knobs: Knobs) = new Executor(catalog,
      new StageManager(Files.createTempDirectory("graft_stages")),
      new WarehouseManager(), new QueryHistory(), knobs)
    val capped = executor(Knobs.jvm.copy(maxResultRows = 10))
    val ctx = Executor.Context("sess_cap", "CAP_DB", "PUBLIC")
    def exec(sql: String, e: Executor = capped) = e.execute(ctx, sql, Map.empty)
    catalog.createDatabase("CAP_DB")
    exec("CREATE OR REPLACE TABLE cap_t AS SELECT id AS v FROM range(100)")
    val e = intercept[SnowflakeError] { exec("SELECT * FROM cap_t") }
    assert(e.code == SnowflakeError.CodeSQLExecutionError, e.getMessage)
    assert(e.getMessage.contains("maximum of 10 rows"), e.getMessage)
    // within the cap still works, including exactly-at-cap
    assert(exec("SELECT * FROM cap_t LIMIT 10").rows.size == 10)
    assert(exec("SELECT COUNT(*) AS n FROM cap_t").rows.head.head == 100L)
    // an executor on the default cap materializes the full table
    assert(exec("SELECT * FROM cap_t", executor(Knobs.jvm)).rows.size == 100)
  }
}
