package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.json.JSONOptions
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Snowflake scalar-function surface, registered directly in the session
  * `FunctionRegistry` instead of the reference's string/AST rewriting layer
  * (reference `pkg/query/translator.go:31-94` renames FuncExpr nodes and
  * post-processes marker functions in the SQL text).
  *
  * Registering builders that expand to *builtin* Catalyst expressions keeps
  * every call whole-stage-codegen'd — there is no UDF boundary and no extra
  * plan node, so a query using IFF/NVL2/OBJECT_CONSTRUCT compiles to exactly
  * the same physical plan as the equivalent native Spark SQL.
  *
  * Functions that Spark 4.x already ships natively (nvl, nvl2, ifnull,
  * listagg, parse_json, timestampadd, timestampdiff) are NOT re-registered.
  */
object SnowflakeExtensions {

  /** JSON-encode a scalar value the way `CAST(x AS JSON)` does in the
    * reference's DuckDB backend (reference `translator.go:61-67` rewrites
    * TO_VARIANT(x) to CAST(x AS JSON)): strings quote+escape, numbers and
    * booleans verbatim, date/timestamp quoted ISO text, NULL -> SQL NULL.
    * Non-hot-path (result-shaping), so CodegenFallback is acceptable.
    */
  case class ToVariantJson(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def prettyName: String = "to_variant"

    private lazy val childToString: Any => String = child.dataType match {
      case StringType =>
        (v: Any) => jsonQuote(v.asInstanceOf[UTF8String].toString)
      case BooleanType | _: NumericType =>
        (v: Any) => v.toString
      case DateType =>
        (v: Any) =>
          jsonQuote(java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString)
      case TimestampType | TimestampNTZType =>
        (v: Any) =>
          jsonQuote(java.time.LocalDateTime
            .ofEpochSecond(Math.floorDiv(v.asInstanceOf[Long], 1000000L),
              (Math.floorMod(v.asInstanceOf[Long], 1000000L) * 1000).toInt,
              java.time.ZoneOffset.UTC)
            .toString.replace('T', ' '))
      case _ =>
        (v: Any) => jsonQuote(v.toString)
    }

    private def jsonQuote(s: String): String = {
      val sb = new StringBuilder(s.length + 2)
      sb.append('"')
      s.foreach {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
      sb.toString
    }

    override def nullSafeEval(v: Any): Any = UTF8String.fromString(childToString(v))
    override protected def withNewChildInternal(newChild: Expression): ToVariantJson =
      copy(child = newChild)
  }

  /** PARSE_JSON in the JSON-text VARIANT model: validate and canonicalize
    * (DuckDB's CAST(s AS JSON) behavior — reference `translator.go:70-75`);
    * invalid JSON -> null, matching DuckDB TRY_CAST-leniency for the
    * emulator surface. Result-shaping, not hot path: CodegenFallback. */
  case class ParseJsonText(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true // invalid JSON evaluates to null
    override def prettyName: String = "parse_json"
    @transient private lazy val om = new com.fasterxml.jackson.databind.ObjectMapper()
    override def nullSafeEval(v: Any): Any =
      try UTF8String.fromString(
        om.writeValueAsString(om.readTree(v.asInstanceOf[UTF8String].toString)))
      catch { case _: Exception => null }
    override protected def withNewChildInternal(newChild: Expression): ParseJsonText =
      copy(child = newChild)
  }

  /** OBJECT_INSERT(object_text, key, value_json_text[, update]) in the
    * VARIANT-as-JSON-text model: parses the object, inserts/replaces the
    * key with the already-JSON-rendered value (the builder wraps the raw
    * value arg in [[ToVariantJson]], so value typing matches
    * OBJECT_CONSTRUCT's). Snowflake errors when the key exists and the
    * update flag is absent/false — mirrored here. */
  case class ObjectInsertText(children: Seq[Expression])
      extends Expression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def prettyName: String = "object_insert"
    @transient private lazy val om = new com.fasterxml.jackson.databind.ObjectMapper()
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val objV = children(0).eval(input)
      val keyV = children(1).eval(input)
      if (objV == null || keyV == null) return null
      val valJson = children(2).eval(input) // ToVariantJson: null -> "null"
      val update = children.length >= 4 && {
        val u = children(3).eval(input)
        u != null && u.asInstanceOf[Boolean]
      }
      val root = try om.readTree(objV.asInstanceOf[UTF8String].toString)
        catch { case _: Exception => null }
      root match {
        case obj: com.fasterxml.jackson.databind.node.ObjectNode =>
          val key = keyV.asInstanceOf[UTF8String].toString
          if (obj.has(key) && !update)
            throw new IllegalArgumentException(
              s"OBJECT_INSERT: key '$key' already exists (pass update=true to replace)")
          if (!obj.has(key) && update && children.length >= 4)
            throw new IllegalArgumentException(
              s"OBJECT_INSERT: key '$key' does not exist (update=true requires an existing key)")
          obj.set[com.fasterxml.jackson.databind.JsonNode](key,
            om.readTree(if (valJson == null) "null" else valJson.toString))
          UTF8String.fromString(om.writeValueAsString(obj))
        case _ =>
          throw new IllegalArgumentException(
            "OBJECT_INSERT: first argument is not a JSON object")
      }
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): ObjectInsertText =
      copy(children = newChildren)
  }

  /** Snowflake date/time format tokens -> java.time pattern (the token set
    * Snowflake documents for TO_CHAR/TO_DATE/TO_TIMESTAMP; the reference
    * leans on DuckDB's strptime and never translates). Longest token wins;
    * stray letters are quoted so they stay literal. */
  private[functions] def sfDateFormatToJava(fmt: String): String = {
    val tokens = Seq(
      "YYYY" -> "yyyy", "YY" -> "yy", "MON" -> "MMM", "MM" -> "MM",
      "DY" -> "EEE", "DD" -> "dd", "HH24" -> "HH", "HH12" -> "hh",
      "HH" -> "HH", "MI" -> "mm", "SS" -> "ss",
      "FF9" -> "SSSSSSSSS", "FF6" -> "SSSSSS", "FF3" -> "SSS",
      "FF" -> "SSSSSS", "AM" -> "a", "PM" -> "a")
    val upper = fmt.toUpperCase(java.util.Locale.ROOT)
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      tokens.find { case (t, _) => upper.startsWith(t, i) } match {
        case Some((t, j)) => sb.append(j); i += t.length
        case None =>
          val c = fmt.charAt(i)
          if (c.isLetter) sb.append('\'').append(c).append('\'')
          else sb.append(c)
          i += 1
      }
    }
    sb.toString
  }

  private def formatterOf(fmtExpr: Expression): java.time.format.DateTimeFormatter = {
    val raw = fmtExpr match {
      case Literal(s: UTF8String, StringType) => s.toString
      case other => other.sql.stripPrefix("'").stripSuffix("'")
    }
    java.time.format.DateTimeFormatter
      .ofPattern(sfDateFormatToJava(raw), java.util.Locale.ROOT)
  }

  /** TO_DATE(string, 'snowflake-format') — Snowflake token semantics.
    * Invalid input raises, as Snowflake does; the TRY_ variant (`lenient`)
    * evaluates to null instead. Result-shaping: CodegenFallback. */
  case class SfToDate(child: Expression, format: Expression,
      lenient: Boolean = false)
      extends BinaryExpression with CodegenFallback {
    override def left: Expression = child
    override def right: Expression = format
    override def dataType: DataType = DateType
    override def nullable: Boolean = true
    override def prettyName: String = if (lenient) "try_to_date" else "to_date"
    @transient private lazy val fmt = formatterOf(format)
    override def nullSafeEval(v: Any, f: Any): Any =
      try java.time.LocalDate.parse(v.toString, fmt).toEpochDay.toInt
      catch { case e: java.time.DateTimeException => if (lenient) null else throw e }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(child = l, format = r)
  }

  /** TO_TIMESTAMP(string, 'snowflake-format') — parses date-only patterns
    * at midnight, date+time patterns fully; micros since epoch (NTZ model).
    * The TRY_ variant (`lenient`) evaluates to null on parse failure. */
  case class SfToTimestamp(child: Expression, format: Expression,
      lenient: Boolean = false)
      extends BinaryExpression with CodegenFallback {
    override def left: Expression = child
    override def right: Expression = format
    override def dataType: DataType = TimestampNTZType
    override def nullable: Boolean = true
    override def prettyName: String = if (lenient) "try_to_timestamp" else "to_timestamp"
    @transient private lazy val fmt = formatterOf(format)
    override def nullSafeEval(v: Any, f: Any): Any =
      try {
        val parsed = fmt.parse(v.toString)
        val date = java.time.LocalDate.from(parsed)
        val time =
          if (parsed.isSupported(java.time.temporal.ChronoField.HOUR_OF_DAY))
            java.time.LocalTime.from(parsed)
          else java.time.LocalTime.MIDNIGHT
        val ldt = java.time.LocalDateTime.of(date, time)
        ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          ldt.getNano / 1000L
      } catch { case e: java.time.DateTimeException => if (lenient) null else throw e }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(child = l, format = r)
  }

  /** TO_CHAR(date/timestamp, 'snowflake-format'); any other input renders
    * via toString (Snowflake's numeric format surface is out of scope). */
  case class SfToChar(child: Expression, format: Expression)
      extends BinaryExpression with CodegenFallback {
    override def left: Expression = child
    override def right: Expression = format
    override def dataType: DataType = StringType
    override def prettyName: String = "to_char"
    @transient private lazy val fmt = formatterOf(format)
    override def nullSafeEval(v: Any, f: Any): Any = {
      val rendered = child.dataType match {
        case DateType =>
          java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).format(fmt)
        case TimestampType | TimestampNTZType =>
          val micros = v.asInstanceOf[Long]
          java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(micros, 1000000L),
            (Math.floorMod(micros, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC).format(fmt)
        case _ => v.toString
      }
      UTF8String.fromString(rendered)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(child = l, format = r)
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo(SnowflakeExtensions.getClass.getCanonicalName, null, name, usage, "")

  private type Builder = Seq[Expression] => Expression

  /** name -> (usage, builder). All builders expand to builtin expressions. */
  val builders: Seq[(String, String, Builder)] = Seq(
    // IFF(cond, t, f) — reference translator.go:33 renames to IF.
    ("iff", "iff(cond, t, f)",
      (args: Seq[Expression]) => If(args(0), args(1), args(2))),
    // OBJECT_CONSTRUCT('k1', v1, ...) — reference translator.go:37 renames
    // to DuckDB json_object; here: to_json(named_struct(...)).
    ("object_construct", "object_construct(k1, v1, ...)",
      (args: Seq[Expression]) =>
        StructsToJson(Map.empty, CreateNamedStruct(args))),
    // TO_VARIANT(x) — reference translator.go:61-67 -> CAST(x AS JSON).
    ("to_variant", "to_variant(x)",
      (args: Seq[Expression]) => ToVariantJson(args.head)),
    // FLATTEN(arr) in select position — reference translator.go:38 renames
    // to UNNEST; Spark's generator equivalent is explode.
    ("flatten_array", "flatten_array(arr)",
      (args: Seq[Expression]) => Explode(args.head)),
    // DATEADD(part, n, d) / DATEDIFF(part, a, b) with a *string* part
    // argument (the translator pre-pass turns the bare-identifier form into
    // this; Snowflake also accepts 'day' quoted). TimestampAdd/Diff are the
    // builtin codegen'd expressions behind timestampadd/timestampdiff.
    ("sf_dateadd", "sf_dateadd('part', n, d)",
      (args: Seq[Expression]) => TimestampAdd(unitOf(args(0)), args(1), args(2))),
    ("sf_datediff", "sf_datediff('part', start, end)",
      (args: Seq[Expression]) => TimestampDiff(unitOf(args(0)), args(1), args(2))),
    // PARSE_JSON(s) — reference translator.go:70-75 rewrites to CAST(s AS
    // JSON), which validates + canonicalizes the text. The engine's VARIANT
    // model is JSON-in-string (SURVEY §1.2), so this validates/normalizes
    // and stays a string; it intentionally shadows Spark's VariantType
    // parse_json inside emulator sessions for reference parity.
    ("parse_json", "parse_json(json_text)",
      (args: Seq[Expression]) => ParseJsonText(args.head)),
    // TO_DATE/TO_TIMESTAMP/TO_CHAR with Snowflake format tokens (the
    // native Spark forms expect java.time patterns; Snowflake users write
    // YYYY/DD/HH24/MI — reference inherits DuckDB strptime). 1-arg forms
    // stay plain casts.
    ("to_date", "to_date(s[, 'YYYY-MM-DD'])",
      (args: Seq[Expression]) =>
        if (args.length >= 2) SfToDate(args(0), args(1))
        else Cast(args.head, DateType)),
    ("to_timestamp", "to_timestamp(s[, 'YYYY-MM-DD HH24:MI:SS'])",
      (args: Seq[Expression]) =>
        if (args.length >= 2) SfToTimestamp(args(0), args(1))
        else Cast(args.head, TimestampNTZType)),
    ("to_char", "to_char(x[, 'YYYY-MM-DD'])",
      (args: Seq[Expression]) =>
        if (args.length >= 2) SfToChar(args(0), args(1))
        else Cast(args.head, StringType)),
    // CHARINDEX(needle, haystack[, start]) — Snowflake arg order onto
    // Spark's locate/StringLocate (which is needle-first too).
    ("charindex", "charindex(needle, haystack[, start])",
      (args: Seq[Expression]) =>
        if (args.length >= 3) StringLocate(args(0), args(1), args(2))
        else new StringLocate(args(0), args(1))),
    // EDITDISTANCE -> levenshtein (same semantics, optional max).
    ("editdistance", "editdistance(a, b[, max])",
      (args: Seq[Expression]) =>
        if (args.length >= 3) Levenshtein(args(0), args(1), Some(args(2)))
        else Levenshtein(args(0), args(1))),
    // Vector / dedup expressions (graft.functions.VectorExpressions) — the
    // engine's own codegen'd primitives for the data-pipeline operators.
    // Input casts replace ExpectsInputTypes (private[sql] in Spark 4): the
    // kernels read ArrayData as float/long, so coerce at build time.
    ("cosine_sim", "cosine_sim(vec1, vec2)",
      (args: Seq[Expression]) => CosineSimilarity(
        Cast(args(0), ArrayType(FloatType)), Cast(args(1), ArrayType(FloatType)))),
    ("dot_product", "dot_product(vec1, vec2)",
      (args: Seq[Expression]) => DotProduct(
        Cast(args(0), ArrayType(FloatType)), Cast(args(1), ArrayType(FloatType)))),
    ("simhash64", "simhash64(array_of_int64_token_hashes)",
      (args: Seq[Expression]) => SimHash64(Cast(args.head, ArrayType(LongType)))),
    // Fused ANN assignment kernels (r17): one JVM loop per row instead
    // of an interpreted lambda per index entry + comparator per sort
    // comparison; arithmetic and ordering pinned to the expression
    // chains they replace (see VectorExpressions scaladoc).
    ("top_cells", "top_cells(vec, array_of_(cell,cv)_structs, k)",
      (args: Seq[Expression]) => TopCells(
        Cast(args(0), ArrayType(FloatType)), args(1), Cast(args(2), IntegerType))),
    ("nearest_sub_cell", "nearest_sub_cell(subvec, array_of_(sub,cell,cv)_structs, sub)",
      (args: Seq[Expression]) => NearestSubCell(
        Cast(args(0), ArrayType(FloatType)), args(1), Cast(args(2), IntegerType))),
    ("adc_sum", "adc_sum(lut_rows, codes)",
      (args: Seq[Expression]) => AdcSum(args(0), Cast(args(1), ArrayType(IntegerType)))),
    // a staged one-row table's column, read from a broadcast variable
    ("staged_const", "staged_const(id)",
      (args: Seq[Expression]) => StagedConstant.lookup(args)),
    // TO_NUMBER / TO_DECIMAL(x[, precision, scale]) — Snowflake defaults
    // to NUMBER(38,0); the TRY_ forms null out on conversion failure via
    // Spark's TRY-mode cast.
    ("to_number", "to_number(x[, precision, scale])",
      (args: Seq[Expression]) => Cast(args.head, numberTypeOf(args))),
    ("to_decimal", "to_decimal(x[, precision, scale])",
      (args: Seq[Expression]) => Cast(args.head, numberTypeOf(args))),
    ("try_to_number", "try_to_number(x[, precision, scale])",
      (args: Seq[Expression]) =>
        Cast(args.head, numberTypeOf(args), None, EvalMode.TRY)),
    ("to_double", "to_double(x)",
      (args: Seq[Expression]) => Cast(args.head, DoubleType)),
    ("try_to_double", "try_to_double(x)",
      (args: Seq[Expression]) => Cast(args.head, DoubleType, None, EvalMode.TRY)),
    // TRY_TO_DATE / TRY_TO_TIMESTAMP: null instead of error — TRY cast for
    // the bare form, lenient Snowflake-token parse for the format form.
    ("try_to_date", "try_to_date(s[, 'YYYY-MM-DD'])",
      (args: Seq[Expression]) =>
        if (args.length >= 2) SfToDate(args(0), args(1), lenient = true)
        else Cast(args.head, DateType, None, EvalMode.TRY)),
    ("try_to_timestamp", "try_to_timestamp(s[, 'YYYY-MM-DD HH24:MI:SS'])",
      (args: Seq[Expression]) =>
        if (args.length >= 2) SfToTimestamp(args(0), args(1), lenient = true)
        else Cast(args.head, TimestampNTZType, None, EvalMode.TRY)),
    // ARRAY_CONSTRUCT(v1, ...) in the VARIANT-as-JSON model: a JSON array
    // string, the collection analog of OBJECT_CONSTRUCT.
    ("array_construct", "array_construct(v1, ...)",
      (args: Seq[Expression]) => StructsToJson(Map.empty, CreateArray(args))),
    // OBJECT_KEYS(json_text) -> array of top-level keys.
    ("object_keys", "object_keys(json_text)",
      (args: Seq[Expression]) => JsonObjectKeys(args.head)),
    // GET_PATH(v, 'a.b') — function form of the `v:a.b` path operator.
    ("get_path", "get_path(json_text, 'path.to.field')",
      (args: Seq[Expression]) =>
        GetJsonObject(args(0), Concat(Seq(Literal(UTF8String.fromString("$."),
          StringType), args(1))))),
    // TRY_PARSE_JSON — Snowflake's null-on-invalid variant. ParseJsonText
    // already evaluates invalid JSON to null (the reference passes both
    // spellings to DuckDB's lenient json parse), so it IS the try form.
    ("try_parse_json", "try_parse_json(json_text)",
      (args: Seq[Expression]) => ParseJsonText(args.head)),
    // OBJECT_INSERT(obj, key, value[, update]) — value rendered to JSON
    // the same way OBJECT_CONSTRUCT/TO_VARIANT render values.
    ("object_insert", "object_insert(object, key, value[, update])",
      (args: Seq[Expression]) => ObjectInsertText(
        Seq(args(0), args(1), ToVariantJson(args(2))) ++ args.drop(3))),
    // ZEROIFNULL — the NULLIFZERO inverse.
    ("zeroifnull", "zeroifnull(x)",
      (args: Seq[Expression]) => Coalesce(Seq(args.head, Literal(0)))),
    // NULLIFZERO / DIV0 — Snowflake numeric conveniences.
    ("nullifzero", "nullifzero(x)",
      (args: Seq[Expression]) =>
        If(EqualTo(args.head, Literal(0)), Literal.create(null, NullType), args.head)),
    ("div0", "div0(a, b)",
      (args: Seq[Expression]) =>
        If(EqualTo(Cast(args(1), DoubleType), Literal(0.0)),
          Literal(0.0),
          Divide(Cast(args(0), DoubleType), Cast(args(1), DoubleType)))),
    // UUID_STRING() — random v4 uuid text.
    ("uuid_string", "uuid_string()",
      (_: Seq[Expression]) => Uuid())
  )

  /** DecimalType from optional (precision, scale) literal args; Snowflake's
    * NUMBER default is (38, 0). */
  private def numberTypeOf(args: Seq[Expression]): DataType =
    if (args.length >= 3) DecimalType(intOf(args(1)), intOf(args(2)))
    else DecimalType(38, 0)

  private def intOf(e: Expression): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case Literal(l: Long, LongType) => l.toInt
    case other => other.sql.trim.toInt
  }

  /** Extract the constant date-part from a foldable string arg and
    * normalize Snowflake's abbreviations (d/dd/days, mm/mons, ...). */
  private def unitOf(e: Expression): String = {
    val raw = e match {
      case Literal(s: UTF8String, StringType) => s.toString
      case other => other.sql.stripPrefix("'").stripSuffix("'")
    }
    raw.toUpperCase(java.util.Locale.ROOT) match {
      case "D" | "DD" | "DAYS" | "DAYOFMONTH" | "DAY" => "DAY"
      case "Y" | "YY" | "YYY" | "YYYY" | "YR" | "YEARS" | "YEAR" => "YEAR"
      case "MM" | "MON" | "MONS" | "MONTHS" | "MONTH" => "MONTH"
      case "WK" | "WEEKS" | "W" | "WEEK" => "WEEK"
      case "Q" | "QTR" | "QUARTERS" | "QUARTER" => "QUARTER"
      case "H" | "HH" | "HR" | "HOURS" | "HOUR" => "HOUR"
      case "M" | "MI" | "MIN" | "MINUTES" | "MINUTE" => "MINUTE"
      case "S" | "SEC" | "SECONDS" | "SECOND" => "SECOND"
      case "MS" | "MSEC" | "MILLISECONDS" | "MILLISECOND" => "MILLISECOND"
      case "US" | "USEC" | "MICROSECONDS" | "MICROSECOND" => "MICROSECOND"
      case other => other
    }
  }

  /** Install into a SparkSessionExtensions (used by GraftSession). */
  def inject(ext: SparkSessionExtensions): Unit =
    builders.foreach { case (name, usage, b) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), b))
    }

  /** Install into an already-running session (used by tests). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    builders.foreach { case (name, usage, b) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), info(name, usage), b)
    }
}
