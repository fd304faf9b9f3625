package graft.emulator

/** Snowflake-compatible error codes and SQL states (reference
  * `server/apierror/error.go:11-58`). Queries that fail compile/analysis
  * surface as code 001003 / sqlstate 42000, execution failures as 001007 /
  * 22000, exactly as the reference maps them.
  */
final case class SnowflakeError(
    code: String,
    message: String,
    sqlState: String)
    extends RuntimeException(s"[$code] $message")

object SnowflakeError {
  // Authentication & session (390xxx)
  val CodeAuthenticationFailed = "390100"
  val CodeSessionExpired = "390114"
  val CodeSessionNotFound = "390144"
  // SQL compilation & execution (001xxx)
  val CodeSQLCompilationError = "001003"
  val CodeSQLExecutionError = "001007"
  // Objects (002xxx)
  val CodeObjectNotFound = "002003"
  val CodeObjectAlreadyExists = "002043"
  // System (000xxx)
  val CodeInternalError = "000001"
  val CodeInvalidParameter = "000002"
  val CodePermissionDenied = "000003"
  val CodeQueryCanceled = "000604"

  val SQLStateSuccess = "00000"
  val SQLStateAuthenticationFailed = "28000"
  val SQLStateSyntaxError = "42000"
  val SQLStateDataException = "22000"
  val SQLStateNoData = "02000"
  val SQLStateTableExists = "42S01"
  val SQLStateGeneralError = "HY000"
  val SQLStateQueryCanceled = "57014"

  /** Code -> SQL state (reference `error.go:42-58`). */
  def sqlStateFor(code: String): String = code match {
    case CodeAuthenticationFailed | CodeSessionExpired | CodeSessionNotFound =>
      SQLStateAuthenticationFailed
    case CodeSQLCompilationError => SQLStateSyntaxError
    case CodeSQLExecutionError => SQLStateDataException
    case CodeObjectNotFound => SQLStateNoData
    case CodeObjectAlreadyExists => SQLStateTableExists
    case CodeQueryCanceled => SQLStateQueryCanceled
    case _ => SQLStateGeneralError
  }

  def apply(code: String, message: String): SnowflakeError =
    SnowflakeError(code, message, sqlStateFor(code))

  def compilation(msg: String): SnowflakeError = apply(CodeSQLCompilationError, msg)
  def execution(msg: String): SnowflakeError = apply(CodeSQLExecutionError, msg)
  def notFound(msg: String): SnowflakeError = apply(CodeObjectNotFound, msg)
  def alreadyExists(msg: String): SnowflakeError = apply(CodeObjectAlreadyExists, msg)

  /** Wrap an arbitrary engine exception the way the reference maps DuckDB
    * errors: analysis/parse problems -> compilation error, the rest ->
    * execution error. */
  def fromThrowable(t: Throwable): SnowflakeError = t match {
    case e: SnowflakeError => e
    case e: org.apache.spark.sql.catalyst.parser.ParseException =>
      compilation(e.getMessage)
    case e: org.apache.spark.sql.AnalysisException =>
      compilation(e.getMessage)
    case e => execution(Option(e.getMessage).getOrElse(e.toString))
  }
}
