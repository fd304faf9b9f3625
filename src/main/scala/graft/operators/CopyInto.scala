package graft.operators

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** COPY INTO <table> FROM @stage — vectorized load of staged CSV/JSON files.
  *
  * The reference parses the statement with regexes and then loads row by
  * row, issuing one `INSERT INTO ... VALUES` per CSV/JSON row (reference
  * `pkg/query/copy_processor.go:301-445`) — an O(rows) round-trip pathology
  * called out in BASELINE.md. Here the load is a single `spark.read` job
  * per file group: the CSV/JSON parsing is distributed, columnar, and
  * pipelined straight into the target append, so throughput scales with
  * executors instead of being bounded by statement dispatch.
  *
  * Option surface mirrors `copy_processor.go:178-212`: FILE_FORMAT
  * TYPE=CSV|JSON, FIELD_DELIMITER, RECORD_DELIMITER, SKIP_HEADER,
  * TRIM_SPACE, NULL_IF, STRIP_OUTER_ARRAY, plus PATTERN='glob regex',
  * ON_ERROR=CONTINUE|SKIP_FILE|ABORT and PURGE.
  */
object CopyInto {

  sealed trait OnError
  case object Abort extends OnError
  case object Continue extends OnError
  case object SkipFile extends OnError

  final case class Options(
      format: String = "CSV", // CSV | JSON
      fieldDelimiter: String = ",",
      recordDelimiter: String = "\n",
      skipHeader: Int = 0,
      trimSpace: Boolean = false,
      nullIf: Seq[String] = Seq(""),
      stripOuterArray: Boolean = false,
      pattern: Option[String] = None,
      onError: OnError = Abort,
      purge: Boolean = false)

  /** Result shape of the reference (`pkg/query/result.go:35-40`):
    * `errorsSeen` counts every rejected row/file, `errors` holds a bounded
    * sample of messages (the reference collects per-row errors,
    * `copy_processor.go:270-281`). */
  final case class Result(rowsLoaded: Long, filesLoaded: Int,
      errorsSeen: Long, errors: Seq[String])

  /** List stage files honoring PATTERN (a regex over the relative path, as
    * in Snowflake; reference applies it at `copy_processor.go:242-250`). */
  def matchingFiles(stageDir: Path, opts: Options): Seq[Path] = {
    if (!Files.isDirectory(stageDir)) return Nil
    val re: Option[Regex] = opts.pattern.map(_.r)
    val stream = Files.walk(stageDir)
    try {
      stream.iterator().asScala
        .filter(Files.isRegularFile(_))
        .filter { p =>
          val rel = stageDir.relativize(p).toString
          re.forall(_.pattern.matcher(rel).matches())
        }
        .toVector.sortBy(_.toString)
    } finally stream.close()
  }

  /** Column recording the raw text of a row Spark could not parse into the
    * target schema (PERMISSIVE mode's corrupt-record channel). */
  val CorruptCol = "_graft_corrupt_record"

  /** Read one file group into a DataFrame with the target schema.
    * `mode` is the Spark parse mode; with PERMISSIVE the returned frame
    * carries [[CorruptCol]] holding the raw text of each rejected row. */
  def read(spark: SparkSession, files: Seq[String], schema: StructType,
           opts: Options, mode: String = "FAILFAST"): DataFrame = {
    val readSchema =
      if (mode == "PERMISSIVE")
        schema.add(CorruptCol, org.apache.spark.sql.types.StringType)
      else schema
    opts.format.toUpperCase match {
      case "CSV" =>
        var r = spark.read.schema(readSchema)
          .option("sep", opts.fieldDelimiter)
          .option("header", (opts.skipHeader > 0).toString)
        if (opts.recordDelimiter != "\n")
          r = r.option("lineSep", opts.recordDelimiter)
        r = r
          .option("ignoreLeadingWhiteSpace", opts.trimSpace.toString)
          .option("ignoreTrailingWhiteSpace", opts.trimSpace.toString)
          .option("mode", mode)
          .option("columnNameOfCorruptRecord", CorruptCol)
        // Snowflake NULL_IF list; Spark CSV supports one nullValue token —
        // the first is mapped natively, the rest post-mapped below.
        opts.nullIf.headOption.foreach(nv => r = r.option("nullValue", nv))
        val df = r.csv(files: _*)
        if (opts.nullIf.size > 1) {
          val extra = opts.nullIf.tail
          df.select(df.columns.toSeq.map { c =>
            if (c != CorruptCol &&
              schema(c).dataType == org.apache.spark.sql.types.StringType)
              when(col(c).isin(extra.map(_.asInstanceOf[Any]): _*), lit(null))
                .otherwise(col(c)).as(c)
            else col(c)
          }: _*)
        } else df
      case "JSON" =>
        // STRIP_OUTER_ARRAY=TRUE -> one row per array element (Spark's
        // JSON parser reads a top-level array exactly that way, so each
        // file is read whole); default JSON-lines otherwise
        // (copy_processor.go:378-445). Spark matches JSON keys to schema
        // fields case-sensitively; Snowflake matches them to columns
        // case-insensitively, as the PARQUET branch does, so each record's
        // keys are respelled as the table's columns before the parse.
        val columns = schema.fieldNames
        val records = spark.read.option("wholetext", opts.stripOuterArray)
          .text(files: _*).as(Encoders.STRING)
          .map(respellKeys(_, columns))(Encoders.STRING)
        spark.read.schema(readSchema)
          .option("mode", mode)
          .option("columnNameOfCorruptRecord", CorruptCol)
          .json(records)
      case "PARQUET" =>
        // Beyond-parity (the reference loads CSV/JSON only): parquet is
        // self-describing, so columns are matched to the target table BY
        // NAME (case-insensitive, Snowflake's MATCH_BY_COLUMN_NAME
        // semantics), cast to the target types, and absent columns load
        // as NULL. There are no row-level parse errors in a columnar
        // file — a corrupt/mis-typed file fails as a whole, which
        // ON_ERROR=SKIP_FILE isolates via its per-file read and ABORT
        // propagates; the PERMISSIVE corrupt channel is vacuously empty.
        val df = spark.read.parquet(files: _*)
        val byName = df.columns.map(c => c.toLowerCase -> c).toMap
        val out = df.select(schema.fields.toSeq.map { f =>
          byName.get(f.name.toLowerCase) match {
            case Some(c) => col(c).cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }: _*)
        if (mode == "PERMISSIVE")
          out.withColumn(CorruptCol,
            lit(null).cast(org.apache.spark.sql.types.StringType))
        else out
      case other => throw new IllegalArgumentException(s"unsupported format $other")
    }
  }

  private val jsonFactory = new com.fasterxml.jackson.core.JsonFactory()

  /** `record` with the keys of its top-level object — or of each object
    * of a top-level array — respelled as the `columns` entry they match
    * case-insensitively; every other character is kept. Text that does not
    * parse is returned as it is, so the reader still rejects it. */
  private[operators] def respellKeys(record: String, columns: Array[String]): String = {
    import com.fasterxml.jackson.core.JsonToken._
    val edits = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    val p = jsonFactory.createParser(record)
    try {
      var depth = 0
      var recordDepth = 1
      var t = p.nextToken()
      while (t != null) {
        t match {
          case START_OBJECT | START_ARRAY =>
            if (depth == 0) recordDepth = if (t == START_ARRAY) 2 else 1
            depth += 1
          case END_OBJECT | END_ARRAY => depth -= 1
          case FIELD_NAME if depth == recordDepth && !columns.contains(p.currentName()) =>
            columns.find(_.equalsIgnoreCase(p.currentName())).foreach(c =>
              edits += ((p.currentTokenLocation().getCharOffset.toInt, p.currentName(), c)))
          case _ =>
        }
        t = p.nextToken()
      }
    } catch { case _: java.io.IOException => return record }
    finally p.close()
    if (edits.isEmpty) return record
    val out = new java.lang.StringBuilder(record.length)
    var copied = 0
    edits.foreach { case (at, key, column) =>
      // a key written with escapes keeps its spelling
      if (record.startsWith("\"" + key + "\"", at)) {
        out.append(record, copied, at).append('"').append(column).append('"')
        copied = at + key.length + 2
      }
    }
    out.append(record, copied, record.length).toString
  }

  /** Load the matching staged files and return (rows ready to append,
    * result). ON_ERROR=SKIP_FILE reads file by file, dropping files that
    * fail outright; CONTINUE loads good rows and ACCOUNTS for each rejected
    * row via PERMISSIVE + corrupt-record column (reference
    * `copy_processor.go:270-281` collects per-row errors — DROPMALFORMED
    * would silently zero `errors_seen`); ABORT fails fast on the whole
    * batch in one vectorized read.
    */
  def load(spark: SparkSession, stageDir: Path, schema: StructType,
           opts: Options): (DataFrame, Result) = {
    val files = matchingFiles(stageDir, opts)
    if (files.isEmpty)
      return (spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
        Result(0, 0, 0, Nil))

    opts.onError match {
      case SkipFile =>
        var errors = Vector.empty[String]
        var parts = Vector.empty[DataFrame]
        var loaded = 0
        files.foreach { f =>
          try {
            val df = read(spark, Seq(f.toString), schema, opts)
            df.cache()
            df.count() // force parse errors now, per file
            parts :+= df
            loaded += 1
          } catch {
            case e: Exception =>
              errors :+= s"${stageDir.relativize(f)}: ${e.getMessage}"
          }
        }
        val all =
          if (parts.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          else parts.reduce(_ union _)
        val n = if (parts.isEmpty) 0L else all.count()
        if (opts.purge) files.foreach(Files.deleteIfExists(_))
        (all, Result(n, loaded, errors.size.toLong, errors))
      case Continue =>
        // caching before filtering on the corrupt column is Spark's
        // documented contract for referencing it; it also pins the parsed
        // rows so PURGE can delete inputs before the append executes
        val raw = read(spark, files.map(_.toString), schema, opts,
          mode = "PERMISSIVE").cache()
        val bad = raw.filter(col(CorruptCol).isNotNull)
        val errorsSeen = bad.count()
        val samples = bad.select(col(CorruptCol)).take(10)
          .map(r => s"rejected: ${r.getString(0)}").toSeq
        val good = raw.filter(col(CorruptCol).isNull)
          .select(schema.fieldNames.toSeq.map(col): _*)
        val n = good.count()
        if (opts.purge) files.foreach(Files.deleteIfExists(_))
        (good, Result(n, files.size, errorsSeen, samples))
      case Abort =>
        var df = read(spark, files.map(_.toString), schema, opts)
        // PURGE deletes the inputs after a successful load, so the result
        // must be materialized before the files go away.
        if (opts.purge) df = df.cache()
        val n = df.count()
        if (opts.purge) files.foreach(Files.deleteIfExists(_))
        (df, Result(n, files.size, 0, Nil))
    }
  }
}
