package graft.emulator

import java.io.IOException
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Snowflake object model over Spark's 2-level catalog (reference
  * `pkg/metadata/repository.go`): databases are Spark databases, Snowflake
  * schemas are metadata-only and flattened into the table name
  * (`DATABASE.SCHEMA_TABLE`, `table_naming.go:23-40`), tables are managed
  * parquet tables. Our own metadata rows (comments, column defs, schema
  * list) live in memory the way the reference keeps `_metadata_*` tables.
  *
  * Writes that replace table content (`overwriteTable`) write the new rows
  * once into a staging table and rename it into the table's place, since
  * Spark refuses to overwrite a table from a plan that reads it. The
  * reference serializes all writes (`pkg/connection/manager.go:39-63`);
  * here each table has a lock.
  */
final class Catalog(val spark: SparkSession) {
  import Catalog._

  private val databases = new ConcurrentHashMap[String, DatabaseMeta]()
  private val schemas = new ConcurrentHashMap[String, SchemaMeta]() // key db.schema
  private val tables = new ConcurrentHashMap[String, TableMeta]() // key db.schema.table
  private val fileFormats = new ConcurrentHashMap[String, FileFormatMeta]()
  private val tableLocks = new ConcurrentHashMap[String, Object]()

  private def up(s: String) = s.trim.toUpperCase(java.util.Locale.ROOT)
  private def tKey(r: TableNaming.Ref) = s"${r.database}.${r.schema}.${r.table}"

  def lockFor(r: TableNaming.Ref): Object =
    tableLocks.computeIfAbsent(tKey(r), _ => new Object)

  // ---- databases -----------------------------------------------------

  /** Create database + its PUBLIC schema (the reference auto-creates both
    * on login, `server/handlers/session.go:94-102`, `repository.go:193-232`). */
  def createDatabase(name: String, ifNotExists: Boolean = true): Unit = {
    val n = up(name)
    if (databases.containsKey(n) && !ifNotExists)
      throw SnowflakeError.alreadyExists(s"database $n already exists")
    databases.putIfAbsent(n, DatabaseMeta(n))
    schemas.putIfAbsent(s"$n.PUBLIC", SchemaMeta(n, "PUBLIC"))
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$n`")
  }

  def dropDatabase(name: String, ifExists: Boolean = false): Unit = {
    val n = up(name)
    if (!databases.containsKey(n)) {
      if (ifExists) return
      throw SnowflakeError.notFound(s"database $n does not exist")
    }
    databases.remove(n)
    schemas.keySet.asScala.filter(_.startsWith(n + ".")).toSeq
      .foreach(schemas.remove)
    tables.keySet.asScala.filter(_.startsWith(n + ".")).toSeq
      .foreach(tables.remove)
    spark.sql(s"DROP DATABASE IF EXISTS `$n` CASCADE")
  }

  def listDatabases(): Seq[DatabaseMeta] =
    databases.values.asScala.toSeq.sortBy(_.name)

  def setDatabaseComment(name: String, comment: String): Unit =
    Option(databases.get(up(name))).foreach(_.comment = comment)

  // ---- schemas -------------------------------------------------------

  def createSchema(db: String, name: String, ifNotExists: Boolean = false): Unit = {
    val key = s"${up(db)}.${up(name)}"
    if (schemas.containsKey(key) && !ifNotExists)
      throw SnowflakeError.alreadyExists(s"schema $key already exists")
    createDatabase(up(db))
    schemas.putIfAbsent(key, SchemaMeta(up(db), up(name)))
  }

  def dropSchema(db: String, name: String, ifExists: Boolean = false): Unit = {
    val key = s"${up(db)}.${up(name)}"
    if (schemas.remove(key) == null && !ifExists)
      throw SnowflakeError.notFound(s"schema $key does not exist")
    tables.values.asScala
      .filter(t => t.database == up(db) && t.schema == up(name)).toSeq
      .foreach(t => dropTable(TableNaming.Ref(t.database, t.schema, t.table),
        ifExists = true))
  }

  def listSchemas(db: String): Seq[SchemaMeta] =
    schemas.values.asScala.filter(_.database == up(db)).toSeq.sortBy(_.name)

  // ---- tables --------------------------------------------------------

  def sparkTableName(r: TableNaming.Ref): String = TableNaming.sparkName(r)

  def tableExists(r: TableNaming.Ref): Boolean = tables.containsKey(tKey(r))

  def getTable(r: TableNaming.Ref): Option[TableMeta] = Option(tables.get(tKey(r)))

  /** Buckets per clustered table: fixed so appends always match the
    * existing spec; sized for local mode, a deployment would raise it. */
  val ClusterBuckets = 16

  def createTable(r: TableNaming.Ref, columns: Seq[ColumnDef],
      orReplace: Boolean = false, ifNotExists: Boolean = false,
      clusterKey: Option[String] = None): Unit = {
    if (tableExists(r)) {
      if (ifNotExists) return
      if (!orReplace) throw SnowflakeError.alreadyExists(
        s"table ${r.database}.${r.schema}.${r.table} already exists")
    }
    val struct = StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(
        c.name, TypeMapper.toSparkType(c.snowflakeType), c.nullable)))
    install(r, struct, TableMeta(r.database, r.schema, r.table, "BASE TABLE",
      columns, clusterKey = clusterKey))
  }

  /** Create the physical table with `struct` (one write of the empty frame,
    * which leaves a schema-carrying empty file unless the table is
    * bucketed) and register `meta` for it. */
  private def install(r: TableNaming.Ref, struct: StructType, meta: TableMeta): Unit = {
    createDatabase(r.database)
    createSchema(r.database, r.schema, ifNotExists = true)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], struct)
    write(empty, meta.clusterKey).mode(SaveMode.Overwrite)
      .saveAsTable(sparkTableName(r))
    tables.put(tKey(r), meta)
  }

  /** CREATE TABLE ... CLONE: the new table's files are hard links to the
    * source's current files, with their names — Spark's bucket ids among
    * them, so a clustered clone keeps its buckets. They replace the empty
    * file the create wrote. The clone takes the source's physical schema,
    * which a CTAS table's catalog types do not always round-trip to. Both
    * tables are locked, in key order, so that neither a write to the
    * source nor one to an existing destination lands mid-clone. A table
    * cloned onto itself keeps its content. */
  def cloneTable(src: TableNaming.Ref, dst: TableNaming.Ref): Unit = {
    val meta = getTable(src).getOrElse(throw SnowflakeError.notFound(
      s"table ${src.database}.${src.schema}.${src.table} does not exist"))
    val Seq(first, second) = Seq(src, dst).sortBy(tKey)
    if (src != dst) lockFor(first).synchronized(lockFor(second).synchronized {
      val df = tableDf(src)
      install(dst, df.schema, TableMeta(dst.database, dst.schema, dst.table,
        "BASE TABLE", meta.columns, clusterKey = meta.clusterKey))
      val loc = Paths.get(spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(sparkTableName(dst))).location)
      val written = Files.list(loc)
      try written.iterator().asScala.toSeq.foreach(Files.delete)
      finally written.close()
      dataFiles(df).foreach(f => linkOrCopy(f, loc.resolve(f.getFileName)))
      spark.catalog.refreshTable(sparkTableName(dst))
    })
  }

  /** Snowflake CLUSTER BY -> Spark bucketed table: joins/aggregations on
    * the cluster key between co-clustered tables read pre-partitioned data
    * and skip the shuffle entirely — the physical meaning clustering has in
    * Snowflake, expressed in Spark's storage layer. */
  private def write(df: DataFrame, clusterKey: Option[String]) =
    clusterKey match {
      case Some(k) =>
        df.write.format("parquet").bucketBy(ClusterBuckets, k).sortBy(k)
      case None => df.write.format("parquet")
    }

  /** Register a table created via raw SQL pass-through (CTAS etc.), reading
    * the column defs back from the physical table. */
  def registerExisting(r: TableNaming.Ref): Unit = {
    val df = spark.table(sparkTableName(r))
    val cols = df.schema.fields.toSeq.map(f =>
      ColumnDef(up(f.name), TypeMapper.toSnowflakeTypeName(f.dataType), f.nullable))
    createDatabase(r.database)
    createSchema(r.database, r.schema, ifNotExists = true)
    val ck = getTable(r).flatMap(_.clusterKey)
    tables.put(tKey(r), TableMeta(r.database, r.schema, r.table, "BASE TABLE",
      cols, clusterKey = ck))
  }

  /** Register a view just created via SQL; columns read from the resolved
    * plan. Views carry type VIEW in metadata like the reference's table
    * rows (`repository.go:42-52`). */
  def registerView(r: TableNaming.Ref): Unit = {
    val df = spark.table(sparkTableName(r))
    val cols = df.schema.fields.toSeq.map(f =>
      ColumnDef(up(f.name), TypeMapper.toSnowflakeTypeName(f.dataType), f.nullable))
    tables.put(tKey(r), TableMeta(r.database, r.schema, r.table, "VIEW", cols))
  }

  def dropView(r: TableNaming.Ref, ifExists: Boolean = false): Unit = {
    if (tables.remove(tKey(r)) == null && !ifExists)
      throw SnowflakeError.notFound(
        s"view ${r.database}.${r.schema}.${r.table} does not exist")
    spark.sql(s"DROP VIEW IF EXISTS ${sparkTableName(r)}")
  }

  def dropTable(r: TableNaming.Ref, ifExists: Boolean = false): Unit = {
    if (tables.remove(tKey(r)) == null && !ifExists)
      throw SnowflakeError.notFound(
        s"table ${r.database}.${r.schema}.${r.table} does not exist")
    spark.sql(s"DROP TABLE IF EXISTS ${sparkTableName(r)}")
  }

  def listTables(db: String): Seq[TableMeta] =
    tables.values.asScala.filter(_.database == up(db)).toSeq
      .sortBy(t => (t.schema, t.table))

  def tableDf(r: TableNaming.Ref): DataFrame = {
    if (!tableExists(r))
      throw SnowflakeError.notFound(
        s"table ${r.database}.${r.schema}.${r.table} does not exist")
    spark.table(sparkTableName(r))
  }

  /** Replace a table's content with `content`, evaluated under the table
    * lock, so a read-modify-write commits over the version it read. One
    * write, then a metadata swap: the rows go into a staging table beside
    * the table (a name clash fails, it never replaces), the table is
    * dropped and the staging table renamed into its place. Since the write
    * targets another table, `content` may read the table it replaces. A
    * failed write leaves the table as it was, with no staging table or
    * directory behind. */
  def overwriteTable(r: TableNaming.Ref)(content: => DataFrame): Unit =
    lockFor(r).synchronized {
      val id = java.util.UUID.randomUUID().toString.replace("-", "")
      val staging = sparkTableName(r.copy(table = s"${r.table}__GRAFT_STAGE_$id"))
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(staging)
      try write(content, getTable(r).flatMap(_.clusterKey))
        .mode(SaveMode.ErrorIfExists).saveAsTable(staging)
      catch {
        case e: Throwable if !spark.sessionState.catalog.tableExists(ident) =>
          val dir = Paths.get(spark.sessionState.catalog.defaultTablePath(ident))
          if (Files.exists(dir)) deleteRecursively(dir)
          throw e
      }
      spark.sql(s"DROP TABLE IF EXISTS ${sparkTableName(r)}")
      spark.sql(s"ALTER TABLE $staging RENAME TO ${sparkTableName(r)}")
      spark.catalog.refreshTable(sparkTableName(r))
    }

  /** Snapshot a table's current data files into a new directory under
    * `root` without copying them: Spark never rewrites a parquet file in
    * place (an overwrite only unlinks directory entries), so a hard link
    * keeps this version's bytes for as long as the snapshot holds it. Runs
    * under the table lock, so a concurrent overwrite cannot unlink a file
    * between the listing and the link. The snapshot keeps the table's
    * schema: files written before an ADD COLUMN lack the column, and a
    * table without files (an empty bucketed one) has no footer at all.
    * None, and no directory, when the files exceed `maxBytes`. */
  def snapshotTable(r: TableNaming.Ref, root: Path,
      maxBytes: Long = Long.MaxValue): Option[Snapshot] =
    lockFor(r).synchronized {
      val df = tableDf(r)
      val files = dataFiles(df)
      if (files.map(Files.size).sum > maxBytes) None
      else {
        val dir = Files.createTempDirectory(root, "s")
        files.foreach(f => linkOrCopy(f, dir.resolve(f.getFileName)))
        Some(Snapshot(dir, df.schema))
      }
    }

  private def dataFiles(df: DataFrame): Seq[Path] =
    df.inputFiles.toSeq.map(f => Paths.get(new java.net.URI(f)))

  def appendToTable(r: TableNaming.Ref, df: DataFrame): Unit =
    lockFor(r).synchronized {
      write(df, getTable(r).flatMap(_.clusterKey))
        .mode(SaveMode.Append)
        .saveAsTable(sparkTableName(r))
    }

  def setTableComment(r: TableNaming.Ref, comment: String): Unit =
    Option(tables.get(tKey(r))).foreach(_.comment = comment)

  /** Move a table's catalog entry under a new name (the physical rename is
    * the caller's ALTER TABLE RENAME; metadata moves here). */
  def renameTable(from: TableNaming.Ref, to: TableNaming.Ref): Unit =
    lockFor(from).synchronized {
      val m = Option(tables.remove(tKey(from))).getOrElse(
        throw SnowflakeError.notFound(
          s"table ${from.database}.${from.schema}.${from.table} does not exist"))
      if (tables.containsKey(tKey(to))) {
        tables.put(tKey(from), m) // restore — rename refused
        throw SnowflakeError.alreadyExists(
          s"table ${to.database}.${to.schema}.${to.table} already exists")
      }
      tables.put(tKey(to),
        m.copy(database = to.database, schema = to.schema, table = to.table))
    }

  /** Re-install a snapshotted metadata row (transaction ROLLBACK after a
    * DROP/REPLACE restores the parquet AND the catalog entry, preserving
    * the cluster key so the restoring write re-buckets identically). */
  def restoreMeta(m: TableMeta): Unit = {
    createDatabase(m.database)
    createSchema(m.database, m.schema, ifNotExists = true)
    tables.put(s"${m.database}.${m.schema}.${m.table}", m)
  }

  // ---- file formats (reference `repository.go:76-85`) ----------------

  def createFileFormat(db: String, schema: String, name: String,
      formatType: String, rawOptions: String): Unit =
    fileFormats.put(s"${up(db)}.${up(schema)}.${up(name)}",
      FileFormatMeta(up(db), up(schema), up(name), up(formatType), rawOptions))

  def getFileFormat(db: String, schema: String, name: String): Option[FileFormatMeta] =
    Option(fileFormats.get(s"${up(db)}.${up(schema)}.${up(name)}"))

  def dropFileFormat(db: String, schema: String, name: String,
      ifExists: Boolean = false): Unit =
    if (fileFormats.remove(s"${up(db)}.${up(schema)}.${up(name)}") == null && !ifExists)
      throw SnowflakeError.notFound(s"file format ${up(name)} does not exist")

  def listFileFormats(db: String): Seq[FileFormatMeta] =
    fileFormats.values.asScala.filter(_.database == up(db)).toSeq.sortBy(_.name)
}

object Catalog {
  /** A table's data files at one point, linked into `dir`, with the
    * table's schema at that point ([[Catalog.snapshotTable]]). */
  final case class Snapshot(dir: Path, schema: StructType) {
    def read(spark: SparkSession): DataFrame =
      spark.read.schema(schema).parquet(dir.toString)
    def delete(): Unit = deleteRecursively(dir)
  }

  /** Hard-link `dst` to `src`; where the filesystem refuses (`dst` on
    * another filesystem, or one without hard links), copy the file. */
  private[emulator] def linkOrCopy(src: Path, dst: Path,
      link: (Path, Path) => Unit = (d, s) => { Files.createLink(d, s); () }): Unit =
    try link(dst, src)
    catch { case _: IOException | _: UnsupportedOperationException => Files.copy(src, dst) }

  private[graft] def deleteRecursively(p: Path): Unit = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  final case class ColumnDef(
      name: String, snowflakeType: String, nullable: Boolean = true,
      default: Option[String] = None, primaryKey: Boolean = false)

  final case class TableMeta(
      database: String, schema: String, table: String,
      tableType: String, // BASE TABLE | VIEW
      columns: Seq[ColumnDef],
      var comment: String = "",
      createdOn: Long = System.currentTimeMillis(),
      clusterKey: Option[String] = None)

  final case class SchemaMeta(database: String, name: String,
      createdOn: Long = System.currentTimeMillis())
  final case class DatabaseMeta(name: String,
      createdOn: Long = System.currentTimeMillis(),
      var comment: String = "")
  /** Named file format (reference `repository.go:76-85`): the option text
    * is stored raw and re-parsed by CopyParser when COPY references the
    * format by name, so format options have one parsing code path. */
  final case class FileFormatMeta(database: String, schema: String,
      name: String, formatType: String, rawOptions: String)
}
