package graft.operators

import java.nio.file.Files
import graft.SparkSpecBase
import org.apache.spark.sql.types._

/** COPY option surface from the reference
  * (`pkg/query/copy_processor.go:178-212,301-445`): delimiters, SKIP_HEADER,
  * NULL_IF, PATTERN, STRIP_OUTER_ARRAY, ON_ERROR modes, PURGE.
  */
class CopyIntoSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("name", StringType),
    StructField("bal", DoubleType)))

  private def writeFile(dir: java.nio.file.Path, name: String, s: String) = {
    val p = dir.resolve(name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, s)
    p
  }

  test("CSV with header skip, custom delimiter, NULL_IF list") {
    val dir = Files.createTempDirectory("copy_csv")
    writeFile(dir, "a.csv", "id|name|bal\n1|alice|10.5\n2|NULLTOKEN|20.0\n3||5.0\n")
    val (df, res) = CopyInto.load(spark, dir, schema, CopyInto.Options(
      format = "CSV", fieldDelimiter = "|", skipHeader = 1,
      nullIf = Seq("", "NULLTOKEN")))
    val rows = df.orderBy("id").collect()
    assert(res.rowsLoaded == 3 && res.filesLoaded == 1)
    assert(rows(1).isNullAt(1) && rows(2).isNullAt(1))
    assert(rows(0).getString(1) == "alice")
  }

  test("PARQUET loads by column name: case-insensitive match, casts, absent -> NULL") {
    import spark.implicits._
    val dir = Files.createTempDirectory("copy_parquet")
    // columns deliberately upper-cased, re-ordered, `bal` absent, and an
    // extra column the table does not have; id arrives as a LONG
    Seq((1L, "x", "alice"), (2L, "y", "bob"))
      .toDF("ID", "EXTRA", "NAME")
      .coalesce(1).write.parquet(dir.resolve("part").toString)
    val (df, res) = CopyInto.load(spark, dir, schema, CopyInto.Options(
      format = "PARQUET", pattern = Some(".*\\.parquet")))
    val rows = df.orderBy("id").collect()
    assert(res.rowsLoaded == 2)
    assert(rows(0).getInt(0) == 1 && rows(0).getString(1) == "alice")
    assert(rows(0).isNullAt(2) && rows(1).isNullAt(2), "absent bal loads as NULL")
    assert(df.columns.toSeq == Seq("id", "name", "bal"))
  }

  test("PARQUET ON_ERROR=SKIP_FILE isolates an unreadable file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("copy_parquet_skip")
    Seq((1, "alice", 1.0)).toDF("id", "name", "bal")
      .coalesce(1).write.parquet(dir.resolve("good").toString)
    writeFile(dir, "bad/junk.parquet", "this is not parquet")
    val (df, res) = CopyInto.load(spark, dir, schema, CopyInto.Options(
      format = "PARQUET", pattern = Some(".*\\.parquet"),
      onError = CopyInto.SkipFile))
    assert(df.count() == 1)
    assert(res.errors.nonEmpty, "the bad file must be reported, not silently dropped")
  }

  test("PATTERN filters files by regex over the relative path") {
    val dir = Files.createTempDirectory("copy_pat")
    writeFile(dir, "x.csv", "1,a,1.0\n")
    writeFile(dir, "sub/y.csv", "2,b,2.0\n")
    writeFile(dir, "skip.txt", "junk")
    val (df, res) = CopyInto.load(spark, dir, schema,
      CopyInto.Options(pattern = Some(".*\\.csv")))
    assert(res.filesLoaded == 2)
    assert(df.count() == 2)
  }

  test("JSON lines and STRIP_OUTER_ARRAY") {
    val dir1 = Files.createTempDirectory("copy_jsonl")
    writeFile(dir1, "a.json", """{"id":1,"name":"a","bal":1.0}""" + "\n" +
      """{"id":2,"name":"b","bal":2.0}""")
    val (df1, _) = CopyInto.load(spark, dir1, schema, CopyInto.Options(format = "JSON"))
    assert(df1.count() == 2)

    val dir2 = Files.createTempDirectory("copy_jsona")
    writeFile(dir2, "a.json",
      """[{"id":1,"name":"a","bal":1.0},{"id":2,"name":"b","bal":2.0}]""")
    val (df2, _) = CopyInto.load(spark, dir2, schema,
      CopyInto.Options(format = "JSON", stripOuterArray = true))
    assert(df2.count() == 2)
  }

  test("JSON keys match columns case-insensitively: lower, upper and mixed case load alike") {
    // the emulator's catalog columns are upper-case
    val upper = StructType(schema.fields.map(f => f.copy(name = f.name.toUpperCase)))
    def load(keys: (String, String, String), onError: CopyInto.OnError) = {
      val (id, name, bal) = keys
      val dir = Files.createTempDirectory("copy_json_case")
      writeFile(dir, "a.json",
        s"""{"$id":1,"$name":"a","$bal":1.5}""" + "\n" + "{{{nope\n" +
          s"""{"$id":2,"$name":null,"$bal":2.5}""")
      CopyInto.load(spark, dir, upper, CopyInto.Options(format = "JSON", onError = onError))
    }
    val spellings = Seq(("id", "name", "bal"), ("ID", "NAME", "BAL"), ("Id", "nAmE", "Bal"))
    val loaded = spellings.map { k =>
      val (df, res) = load(k, CopyInto.Continue)
      assert(res.rowsLoaded == 2 && res.errorsSeen == 1, (k, res))
      assert(df.columns.toSeq == Seq("ID", "NAME", "BAL"), k)
      df.orderBy("ID").collect().toSeq.map(_.toSeq)
    }
    assert(loaded.head == Seq(Seq(1, "a", 1.5), Seq(2, null, 2.5)), loaded.head)
    assert(loaded.forall(_ == loaded.head), loaded)
    // ABORT still fails fast on the corrupt line, whatever the key case
    intercept[Exception] { load(spellings.head, CopyInto.Abort)._1.collect() }
  }

  test("JSON key spellings may change from row to row, from file to file and inside an outer array") {
    val upper = StructType(schema.fields.map(f => f.copy(name = f.name.toUpperCase)))
    val expected = Seq(Seq(1, "a", 1.5), Seq(2, "b", 2.5), Seq(3, "c", 3.5))
    val dir = Files.createTempDirectory("copy_json_mixed")
    writeFile(dir, "a.json", """{"id":1,"name":"a","bal":1.5}""" + "\n" +
      """{"ID":2,"Name":"b","BAL":2.5}""")
    writeFile(dir, "b.json", """{"iD":3,"NAME":"c","bal":3.5,"extra":{"id":9}}""")
    val (df, res) = CopyInto.load(spark, dir, upper, CopyInto.Options(format = "JSON"))
    assert(res.rowsLoaded == 3, res)
    assert(df.orderBy("ID").collect().toSeq.map(_.toSeq) == expected)
    val arr = Files.createTempDirectory("copy_json_array")
    writeFile(arr, "a.json", """[{"id":1,"name":"a","bal":1.5},""" + "\n" +
      """ {"ID":2,"Name":"b","BAL":2.5}, {"Id":3,"nAme":"c","bAl":3.5}]""")
    val (df2, _) = CopyInto.load(spark, arr, upper,
      CopyInto.Options(format = "JSON", stripOuterArray = true))
    assert(df2.orderBy("ID").collect().toSeq.map(_.toSeq) == expected)
    // only top-level keys are respelled, and nothing else in the text moves
    val cols = Array("ID", "NAME")
    assert(CopyInto.respellKeys("""{ "id" : 1.50, "meta": {"name": 2}, "Name":"id"}""", cols) ==
      """{ "ID" : 1.50, "meta": {"name": 2}, "NAME":"id"}""")
    assert(CopyInto.respellKeys("{{{nope", cols) == "{{{nope")
  }

  test("ON_ERROR=SKIP_FILE drops bad files and reports errors") {
    val dir = Files.createTempDirectory("copy_skip")
    writeFile(dir, "good.json", """{"id":1,"name":"a","bal":1.0}""")
    writeFile(dir, "bad.json", """{{{not json""")
    val (df, res) = CopyInto.load(spark, dir, schema, CopyInto.Options(
      format = "JSON", onError = CopyInto.SkipFile))
    // Spark's permissive JSON read may represent the bad file as all-null
    // rows rather than a hard error; accept either skip-or-null handling but
    // the good row must load.
    assert(df.filter("id = 1").count() == 1)
    assert(res.filesLoaded >= 1)
  }

  test("ON_ERROR=CONTINUE loads good rows and accounts for each bad row") {
    val dir = Files.createTempDirectory("copy_cont")
    // row 2 has a non-numeric id, row 4 has too many columns
    writeFile(dir, "a.csv",
      "1,alice,10.5\nBADID,bob,20.0\n3,carol,30.0\n4,dan,40.0,EXTRA,COLS\n")
    val (df, res) = CopyInto.load(spark, dir, schema, CopyInto.Options(
      format = "CSV", onError = CopyInto.Continue))
    assert(res.rowsLoaded == 2, res)
    assert(res.errorsSeen == 2, res)
    assert(res.errors.exists(_.contains("BADID")), res.errors)
    assert(df.orderBy("id").collect().map(_.getInt(0)).toSeq == Seq(1, 3))
    // the corrupt-record bookkeeping column must not leak into the output
    assert(df.columns.toSeq == schema.fieldNames.toSeq)
  }

  test("ON_ERROR=CONTINUE on JSON counts unparseable lines") {
    val dir = Files.createTempDirectory("copy_cont_json")
    writeFile(dir, "a.json",
      """{"id":1,"name":"a","bal":1.0}""" + "\n" + "{{{nope\n" +
        """{"id":2,"name":"b","bal":2.0}""")
    val (df, res) = CopyInto.load(spark, dir, schema, CopyInto.Options(
      format = "JSON", onError = CopyInto.Continue))
    assert(res.rowsLoaded == 2 && res.errorsSeen == 1, res)
    assert(df.count() == 2)
  }

  test("PURGE deletes staged files after a successful load") {
    val dir = Files.createTempDirectory("copy_purge")
    val f = writeFile(dir, "a.csv", "1,a,1.0\n2,b,2.0\n")
    val (df, res) = CopyInto.load(spark, dir, schema,
      CopyInto.Options(purge = true))
    assert(res.rowsLoaded == 2)
    assert(df.count() == 2) // still readable post-purge (cached)
    assert(!Files.exists(f))
  }

  test("empty stage loads zero rows with empty result") {
    val dir = Files.createTempDirectory("copy_empty")
    val (df, res) = CopyInto.load(spark, dir, schema, CopyInto.Options())
    assert(df.count() == 0 && res.rowsLoaded == 0 && res.filesLoaded == 0)
  }
}
