package graft.emulator

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite
import graft.stage.StageManager
import scala.jdk.CollectionConverters._

/** Statements that replace a table's content write it once, into a staging
  * table renamed into the table's place ([[Catalog.overwriteTable]]). These
  * specs pin the write count, that the content may read the table it
  * replaces, that a failed write leaves nothing behind, that a clustered
  * table keeps its buckets, and that a read-modify-write is not raced by a
  * concurrent INSERT. */
class OverwriteSpec extends AnyFunSuite {

  private lazy val spark = graft.SharedSpark.spark
  private lazy val executor = {
    val e = new Executor(new Catalog(spark),
      new StageManager(Files.createTempDirectory("graft_stages")),
      new WarehouseManager(), new QueryHistory())
    e.catalog.createDatabase("OVW_DB")
    e
  }
  private def catalog = executor.catalog
  private val ctx = Executor.Context("ovw", "OVW_DB", "PUBLIC")
  private def exec(sql: String) = executor.execute(ctx, sql)
  private def rows(sql: String) = exec(sql).rows
  private def count(t: String) = rows(s"SELECT COUNT(*) FROM $t").head.head
  private def ref(t: String) = TableNaming.parse(t, "OVW_DB", "PUBLIC")
  private def jobs(sql: String) = graft.SparkJobs.count(spark)(exec(sql))
  /** `VALUES (i, v(i)), ...` for i in 0 until n. */
  private def values(n: Int)(v: Int => Int) =
    (0 until n).map(i => s"($i, ${v(i)})").mkString("VALUES ", ", ", "")

  private def sparkMeta(t: String) = spark.sessionState.catalog.getTableMetadata(
    spark.sessionState.sqlParser.parseTableIdentifier(catalog.sparkTableName(ref(t))))
  private def databaseDir: Path =
    Paths.get(spark.sessionState.catalog.getDatabaseMetadata("OVW_DB").locationUri)
  private def listed(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }
  private def stagingTables: Seq[String] =
    spark.catalog.listTables("OVW_DB").collect().toSeq.map(_.name)
      .filter(_.toUpperCase(java.util.Locale.ROOT).contains("__GRAFT_STAGE_"))

  test("each table-replacing statement writes the table once") {
    def fill(t: String): Unit = {
      exec(s"CREATE OR REPLACE TABLE $t (id INTEGER, v INTEGER)")
      exec(s"INSERT INTO $t ${values(200)(i => i)}")
    }
    fill("ow_jobs")
    fill("ow_src")
    val update = jobs("UPDATE ow_jobs SET v = v + 1 WHERE id < 50")
    val delete = jobs("DELETE FROM ow_jobs WHERE id < 10")
    val merge = jobs("""MERGE INTO ow_jobs t USING ow_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.v * 2
        WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    val truncate = jobs("TRUNCATE TABLE ow_jobs")
    fill("ow_jobs")
    exec("BEGIN")
    exec("DELETE FROM ow_jobs WHERE id >= 100")
    val rollback = jobs("ROLLBACK")
    exec("DROP TABLE ow_jobs")
    val undrop = jobs("UNDROP TABLE ow_jobs")
    info(s"jobs: UPDATE $update, DELETE $delete, MERGE $merge, TRUNCATE $truncate, " +
      s"ROLLBACK $rollback, UNDROP $undrop")
    assert(count("ow_jobs") == 200L)
    assert(update <= 2 && delete <= 2, s"UPDATE $update, DELETE $delete")
    assert(truncate == 1 && rollback == 1 && undrop == 1,
      s"TRUNCATE $truncate, ROLLBACK $rollback, UNDROP $undrop")
    // the persisted join, its fan-out probe, its counts and one write
    assert(merge <= 9, s"MERGE $merge")
  }

  test("CREATE OR REPLACE TABLE ... AS SELECT may read the table it replaces") {
    exec("CREATE TABLE ow_self (id INTEGER, v VARCHAR(10))")
    exec("INSERT INTO ow_self VALUES (1, 'a'), (1, 'a'), (2, 'b'), (2, 'b'), (3, 'c')")
    exec("CREATE OR REPLACE TABLE ow_self AS SELECT DISTINCT id, v FROM ow_self")
    assert(rows("SELECT id, v FROM ow_self ORDER BY id") ==
      Seq(Seq(1, "a"), Seq(2, "b"), Seq(3, "c")))
    // a self-read that changes the schema
    exec("CREATE OR REPLACE TABLE ow_self AS SELECT id, v, id * 10 AS w FROM ow_self")
    assert(rows("SELECT id, w FROM ow_self ORDER BY id") ==
      Seq(Seq(1, 10), Seq(2, 20), Seq(3, 30)))
    exec("INSERT INTO ow_self VALUES (4, 'd', 40)")
    assert(count("ow_self") == 4L)
    assert(stagingTables.isEmpty)
  }

  test("an UPDATE whose SET fails at run time changes nothing and leaves nothing behind") {
    exec("CREATE TABLE ow_fail (id INTEGER, v INTEGER)")
    exec("INSERT INTO ow_fail VALUES (1, 10), (2, 20), (3, 30)")
    val before = listed(databaseDir)
    val failing = Seq(
      "UPDATE ow_fail SET v = raise_error('no update')",
      "UPDATE ow_fail SET v = CAST(assert_true(id < 2) AS INT) WHERE id > 1")
    failing.foreach { sql =>
      intercept[Exception](exec(sql))
      assert(rows("SELECT id, v FROM ow_fail ORDER BY id") ==
        Seq(Seq(1, 10), Seq(2, 20), Seq(3, 30)), sql)
      assert(stagingTables.isEmpty, sql)
      assert(listed(databaseDir) == before, sql)
    }
    exec("UPDATE ow_fail SET v = v + 1")
    assert(rows("SELECT SUM(v) FROM ow_fail").head.head == 63L)
  }

  test("a clustered table keeps its buckets and rows after UPDATE, MERGE and ROLLBACK") {
    exec("CREATE TABLE ow_ck (id INTEGER, v INTEGER) CLUSTER BY (id)")
    exec(s"INSERT INTO ow_ck ${values(100)(_ => 0)}")
    def buckets = sparkMeta("ow_ck").bucketSpec.map(_.numBuckets)
    def check(stmt: String, rowsWanted: Long, sumWanted: Long): Unit = {
      assert(buckets.contains(catalog.ClusterBuckets), stmt)
      assert(sparkMeta("ow_ck").tableType.name == "MANAGED", stmt)
      assert(rows("SELECT COUNT(*), SUM(v) FROM ow_ck").head == Seq(rowsWanted, sumWanted), stmt)
    }
    exec("UPDATE ow_ck SET v = 1 WHERE id < 10")
    check("UPDATE", 100L, 10L)
    exec(s"""MERGE INTO ow_ck t USING (SELECT col1 AS id, col2 AS v FROM ${values(120)(_ => 2)}
        WHERE col1 >= 90) s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    check("MERGE", 120L, 10L + 2 * 30)
    exec("BEGIN")
    exec("DELETE FROM ow_ck WHERE id < 50")
    exec("ROLLBACK")
    check("ROLLBACK", 120L, 70L)
    // co-clustered join still reads the buckets
    assert(rows("SELECT COUNT(*) FROM ow_ck a JOIN ow_ck b ON a.id = b.id").head.head == 120L)
  }

  test("an UPDATE racing INSERTs loses none of the inserted rows") {
    exec("CREATE TABLE ow_race (id INTEGER, v INTEGER)")
    exec(s"INSERT INTO ow_race ${values(50)(_ => 0)}")
    val pool = Executors.newFixedThreadPool(2)
    try {
      val updates = pool.submit(new Callable[Unit] {
        def call(): Unit = (1 to 20).foreach(_ => exec("UPDATE ow_race SET v = v + 1"))
      })
      val inserts = pool.submit(new Callable[Unit] {
        def call(): Unit = (1 to 20).foreach(i => exec(s"INSERT INTO ow_race VALUES (${1000 + i}, 0)"))
      })
      updates.get(300, TimeUnit.SECONDS)
      inserts.get(300, TimeUnit.SECONDS)
    } finally pool.shutdownNow()
    assert(count("ow_race") == 70L)
    // the first 50 rows saw every UPDATE
    assert(rows("SELECT MIN(v), MAX(v) FROM ow_race WHERE id < 1000").head == Seq(20, 20))
  }

  test("two CLONEs in opposite directions do not deadlock") {
    exec("CREATE TABLE ow_ca (id INTEGER)")
    exec("INSERT INTO ow_ca VALUES (1), (2)")
    exec("CREATE TABLE ow_cb (id INTEGER)")
    exec("INSERT INTO ow_cb VALUES (3)")
    val pool = Executors.newFixedThreadPool(2)
    try {
      val ab = pool.submit(new Callable[Unit] {
        def call(): Unit = (1 to 20).foreach(_ => exec("CREATE OR REPLACE TABLE ow_cb CLONE ow_ca"))
      })
      val ba = pool.submit(new Callable[Unit] {
        def call(): Unit = (1 to 20).foreach(_ => exec("CREATE OR REPLACE TABLE ow_ca CLONE ow_cb"))
      })
      ab.get(300, TimeUnit.SECONDS)
      ba.get(300, TimeUnit.SECONDS)
    } finally pool.shutdownNow()
    // each clone copies one table's whole content to the other, so both
    // end up holding one of the two original contents
    val a = rows("SELECT id FROM ow_ca ORDER BY id")
    val b = rows("SELECT id FROM ow_cb ORDER BY id")
    assert(a == b && (a == Seq(Seq(1), Seq(2)) || a == Seq(Seq(3))), s"$a / $b")
  }
}
