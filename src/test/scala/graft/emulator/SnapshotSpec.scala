package graft.emulator

import java.nio.file.{FileSystemException, Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.stage.StageManager
import scala.jdk.CollectionConverters._

/** Table snapshots are directories of hard links to the table's immutable
  * parquet files ([[Catalog.snapshotTable]]). These specs pin what rides on
  * them: time travel, UNDROP, ROLLBACK, stream baselines and CLONE keep
  * their contents after the table's files are replaced, eviction frees only
  * links, and a write statement launches no snapshot job. */
class SnapshotSpec extends AnyFunSuite {

  private lazy val spark = graft.SharedSpark.spark
  private lazy val executor = {
    val e = new Executor(new Catalog(spark),
      new StageManager(Files.createTempDirectory("graft_stages")),
      new WarehouseManager(), new QueryHistory())
    e.catalog.createDatabase("SNAP_DB")
    e
  }
  private def catalog = executor.catalog
  private val ctx = Executor.Context("snap", "SNAP_DB", "PUBLIC")
  private def exec(sql: String) = executor.execute(ctx, sql)
  private def rows(sql: String) = exec(sql).rows
  private def ref(t: String) = TableNaming.parse(t, "SNAP_DB", "PUBLIC")

  private def tableFiles(t: String): Seq[Path] =
    spark.table(catalog.sparkTableName(ref(t))).inputFiles.toSeq
      .map(f => Paths.get(new java.net.URI(f)))
  private def listed(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }
  private def ino(p: Path) = Files.getAttribute(p, "unix:ino")
  private def nlink(p: Path) = Files.getAttribute(p, "unix:nlink").asInstanceOf[Int]

  test("a snapshot links the table's files: same inodes, nothing above the cap") {
    exec("CREATE TABLE sn_ino (id INTEGER, v VARCHAR(10))")
    exec("INSERT INTO sn_ino VALUES (1, 'a'), (2, 'b')")
    val table = tableFiles("sn_ino")
    val bytes = table.map(Files.size).sum
    val root = Files.createTempDirectory("snap_ino")
    val snap = catalog.snapshotTable(ref("sn_ino"), root, maxBytes = bytes).get
    assert(snap.dir.getParent == root)
    assert(listed(snap.dir).map(_.getFileName.toString).sorted ==
      table.map(_.getFileName.toString).sorted)
    table.foreach(f => assert(ino(snap.dir.resolve(f.getFileName)) == ino(f), f))
    assert(snap.read(spark).count() == 2L)
    snap.delete()
    assert(catalog.snapshotTable(ref("sn_ino"), root, maxBytes = bytes - 1).isEmpty)
    assert(listed(root).isEmpty, "a refused snapshot leaves no directory")
    Catalog.deleteRecursively(root)
    assert(rows("SELECT COUNT(*) FROM sn_ino").head.head == 2L)
  }

  test("snapshots keep a column added after the files were written") {
    // each table's files all predate ADD COLUMN, so none of their footers
    // has the column the table now has
    def withAdded(t: String): Unit = {
      exec(s"CREATE TABLE $t (id INTEGER)")
      exec(s"INSERT INTO $t VALUES (1), (2)")
      exec(s"ALTER TABLE $t ADD COLUMN c INTEGER")
    }
    val added = Seq(Seq(1, null), Seq(2, null))
    withAdded("sn_add_rb")
    exec("BEGIN")
    exec("UPDATE sn_add_rb SET c = 5")
    exec("ROLLBACK")
    assert(rows("SELECT id, c FROM sn_add_rb ORDER BY id") == added)

    withAdded("sn_add_ud")
    exec("DROP TABLE sn_add_ud")
    exec("UNDROP TABLE sn_add_ud")
    assert(rows("SELECT id, c FROM sn_add_ud ORDER BY id") == added)

    // the clone's version links the source's files
    withAdded("sn_add_tt")
    val q = exec("CREATE TABLE sn_add_cl CLONE sn_add_tt")
    exec("INSERT INTO sn_add_cl VALUES (3, 30)")
    assert(rows(s"SELECT id, c FROM sn_add_cl AT(STATEMENT => '${q.queryId}') ORDER BY id") ==
      added)

    withAdded("sn_add_src")
    exec("CREATE STREAM sn_add_st ON TABLE sn_add_src")
    exec("INSERT INTO sn_add_src VALUES (3, 30)")
    assert(rows("SELECT id, c FROM sn_add_st") == Seq(Seq(3, 30)))
    exec("DROP STREAM sn_add_st")
  }

  test("a file the filesystem will not link is copied") {
    val dir = Files.createTempDirectory("snap_copy")
    val src = Files.write(dir.resolve("part-0.parquet"), Array[Byte](1, 2, 3, 4))
    val refusals: Seq[(Path, Path) => Unit] = Seq(
      (_, _) => throw new FileSystemException("Invalid cross-device link"),
      (_, _) => throw new UnsupportedOperationException("no hard links"))
    refusals.zipWithIndex.foreach { case (refuse, i) =>
      val dst = dir.resolve(s"copy-$i.parquet")
      Catalog.linkOrCopy(src, dst, refuse)
      assert(Files.readAllBytes(dst).toSeq == Seq[Byte](1, 2, 3, 4))
      assert(ino(dst) != ino(src))
    }
    val linked = dir.resolve("link.parquet")
    Catalog.linkOrCopy(src, linked)
    assert(ino(linked) == ino(src))
    Catalog.deleteRecursively(dir)
  }

  test("AT(STATEMENT) keeps its rows after two UPDATEs replaced every table file") {
    exec("CREATE TABLE sn_tt (id INTEGER, v VARCHAR(10))")
    val q1 = exec("INSERT INTO sn_tt VALUES (1, 'a'), (2, 'b')")
    val atQ1 = tableFiles("sn_tt")
    exec("UPDATE sn_tt SET v = 'x'")
    exec("UPDATE sn_tt SET v = 'y' WHERE id = 1")
    assert(atQ1.nonEmpty && atQ1.forall(f => !Files.exists(f)),
      "the UPDATEs replace every file the table had at q1")
    assert(rows(s"SELECT id, v FROM sn_tt AT(STATEMENT => '${q1.queryId}') ORDER BY id") ==
      Seq(Seq(1, "a"), Seq(2, "b")))
    assert(rows("SELECT id, v FROM sn_tt ORDER BY id") == Seq(Seq(1, "y"), Seq(2, "x")))
  }

  test("evicting a version deletes only its links; the table still reads") {
    val create = exec("CREATE TABLE sn_ev (id INTEGER)")
    // the create's schema-carrying empty file stays in the table, so every
    // version links it
    val carrier = tableFiles("sn_ev")
    assert(carrier.size == 1, carrier)
    val inserts = (1 to 9).map(i => exec(s"INSERT INTO sn_ev VALUES ($i)"))
    // 10 versions recorded (the CREATE and 9 INSERTs), 8 kept: one link
    // per kept version plus the table's own entry
    assert(nlink(carrier.head) == 1 + 8)
    assert(rows("SELECT COUNT(*) FROM sn_ev").head.head == 9L)
    Seq(create, inserts.head).foreach { evicted =>
      intercept[SnowflakeError] {
        exec(s"SELECT * FROM sn_ev AT(STATEMENT => '${evicted.queryId}')")
      }
    }
    assert(rows(s"SELECT COUNT(*) FROM sn_ev AT(STATEMENT => '${inserts(1).queryId}')")
      .head.head == 2L)
    // dropping the table's history (CREATE OR REPLACE) unlinks every
    // version: only this spec's own link to the old file is left
    val probe = Files.createTempDirectory("snap_probe").resolve("carrier")
    Files.createLink(probe, carrier.head)
    exec("CREATE OR REPLACE TABLE sn_ev (id INTEGER)")
    assert(nlink(probe) == 1)
    Catalog.deleteRecursively(probe.getParent)
  }

  test("UNDROP, ROLLBACK and a stream's delta hold over linked snapshots") {
    exec("CREATE TABLE sn_ud (id INTEGER)")
    exec("INSERT INTO sn_ud VALUES (1), (2)")
    exec("DROP TABLE sn_ud")
    exec("UNDROP TABLE sn_ud")
    assert(rows("SELECT id FROM sn_ud ORDER BY id") == Seq(Seq(1), Seq(2)))
    exec("BEGIN")
    exec("UPDATE sn_ud SET id = id + 10")
    exec("DELETE FROM sn_ud WHERE id = 11")
    exec("ROLLBACK")
    assert(rows("SELECT id FROM sn_ud ORDER BY id") == Seq(Seq(1), Seq(2)))

    exec("CREATE TABLE sn_src (id INTEGER)")
    exec("INSERT INTO sn_src VALUES (1)")
    exec("CREATE STREAM sn_st ON TABLE sn_src")
    exec("INSERT INTO sn_src VALUES (2)")
    exec("CREATE TABLE sn_sink (id INTEGER)")
    exec("INSERT INTO sn_sink SELECT id FROM sn_st")
    assert(rows("SELECT COUNT(*) FROM sn_st").head.head == 0L)
    // rewrites every file of the source; the advanced baseline keeps {1, 2}
    exec("UPDATE sn_src SET id = 3 WHERE id = 1")
    assert(rows("""SELECT id, "METADATA$ACTION" AS a FROM sn_st ORDER BY id""") ==
      Seq(Seq(1, "DELETE"), Seq(3, "INSERT")))
    exec("DROP STREAM sn_st")
  }

  test("a CLONE shares the source's files and stays independent both ways") {
    exec("CREATE TABLE sn_cs (id INTEGER, v VARCHAR(10))")
    exec("INSERT INTO sn_cs VALUES (2, 'b'), (3, 'c')")
    exec("CREATE TABLE sn_cl CLONE sn_cs")
    assert(tableFiles("sn_cl").map(ino).toSet == tableFiles("sn_cs").map(ino).toSet)
    exec("INSERT INTO sn_cl VALUES (9, 'z')")
    exec("DELETE FROM sn_cl WHERE id = 2")
    assert(rows("SELECT id FROM sn_cs ORDER BY id") == Seq(Seq(2), Seq(3)))
    exec("UPDATE sn_cs SET id = 4 WHERE id = 3")
    assert(rows("SELECT id FROM sn_cl ORDER BY id") == Seq(Seq(3), Seq(9)))
    assert(rows("SELECT id FROM sn_cs ORDER BY id") == Seq(Seq(2), Seq(4)))
  }

  test("a CLONE keeps a clustered source's buckets and a CTAS source's physical types") {
    exec("CREATE TABLE sn_ck (id INTEGER, v VARCHAR(10)) CLUSTER BY (id)")
    // an empty bucketed table has no files: its snapshot is an empty
    // directory, read with the schema the snapshot keeps
    assert(rows("SELECT COUNT(*) FROM sn_ck AT(OFFSET => 0)").head.head == 0L)
    exec("CREATE TABLE sn_ck0 CLONE sn_ck")
    assert(rows("SELECT COUNT(*) FROM sn_ck0").head.head == 0L)
    exec("INSERT INTO sn_ck VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    exec("CREATE TABLE sn_ck2 CLONE sn_ck")
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(catalog.sparkTableName(ref("sn_ck2"))))
    assert(meta.bucketSpec.map(_.numBuckets).contains(catalog.ClusterBuckets))
    assert(rows("""SELECT a.id, b.v FROM sn_ck a JOIN sn_ck2 b ON a.id = b.id
        ORDER BY a.id""") == Seq(Seq(1, "a"), Seq(2, "b"), Seq(3, "c")))

    exec("CREATE TABLE sn_ctas AS SELECT CAST(id AS INT) AS id, v FROM sn_ck")
    exec("CREATE TABLE sn_ctas2 CLONE sn_ctas")
    assert(rows("SELECT SUM(id) AS s FROM sn_ctas2").head.head == 6L)
    exec("INSERT INTO sn_ctas2 VALUES (4, 'd')")
    assert(rows("SELECT SUM(id) AS s FROM sn_ctas2").head.head == 10L)
    assert(spark.table(catalog.sparkTableName(ref("sn_ctas2"))).schema ==
      spark.table(catalog.sparkTableName(ref("sn_ctas"))).schema)
  }

  test("an INSERT ... VALUES launches no more Spark jobs than the bare INSERT it wraps") {
    exec("CREATE TABLE sn_jobs (id INTEGER, v VARCHAR(10))")
    exec("INSERT INTO sn_jobs VALUES (0, 'w')")
    val emulated = graft.SparkJobs.count(spark)(exec("INSERT INTO sn_jobs VALUES (1, 'a')"))
    val bare = graft.SparkJobs.count(spark)(spark.sql(
      s"INSERT INTO ${catalog.sparkTableName(ref("sn_jobs"))} VALUES (2, 'b')"))
    assert(bare >= 1 && emulated <= bare, s"emulated $emulated, bare $bare")
    assert(rows("SELECT COUNT(*) FROM sn_jobs").head.head == 3L)
  }
}
