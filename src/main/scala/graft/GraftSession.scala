package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory for the graft engine.
  *
  * All entry points (Verify, Bench, tests, the emulator server) build their
  * session here so that the scale-oriented defaults are applied uniformly:
  *
  *  - AQE on (runtime shuffle coalescing + skew-join splitting) so plans
  *    tuned at sf0.1 survive a 1000x scale-up without re-tuning.
  *  - `spark.sql.shuffle.partitions` sized to the local core count; on a
  *    real cluster AQE's coalescing makes the initial number far less
  *    critical than a hard-coded 200.
  *  - UTC session timezone (the reference pins TIMEZONE=UTC in its default
  *    session parameters — reference `config/constants.go:28-56`).
  *  - Parquet pushdown/pruning left at defaults (on) — the query layer is
  *    written so filters and projections reach the scan.
  */
object GraftSession {

  /** Managed-table warehouse location — static config, so it is fixed once
    * per JVM at session build (a fresh temp dir keeps test runs isolated
    * and is removed when the JVM exits; a real deployment overrides via
    * -Dspark.sql.warehouse.dir). */
  lazy val warehouseDir: String =
    sys.props.getOrElse("spark.sql.warehouse.dir", {
      val d = java.nio.file.Files.createTempDirectory("graft_warehouse")
      sys.addShutdownHook(
        scala.util.Try(graft.emulator.Catalog.deleteRecursively(d)))
      d.toString
    })

  /** Shuffle/spill scratch directory. An explicit `-Dspark.local.dir` always
    * wins; otherwise prefer RAM-backed /dev/shm when it is writable —
    * single-node local mode on a RAM-rich box can sit behind very slow
    * block storage, and shuffle scratch is transient by definition. On a
    * real cluster this never fires from props: spark.local.dir comes from
    * the node/cluster-manager config (SPARK_LOCAL_DIRS), which Spark
    * prefers over this conf anyway. */
  lazy val scratchDir: Option[String] =
    sys.props.get("spark.local.dir").orElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) {
        // per-user path: on a multi-user host a fixed name can be owned by
        // someone else; and verify writability AFTER mkdirs — an
        // unwritable scratch dir must fall back to Spark's java.io.tmpdir
        // default, not fail the session at startup
        val d = new java.io.File(shm,
          s"graft-local-${sys.props.getOrElse("user.name", "anon")}")
        d.mkdirs()
        if (d.isDirectory && d.canWrite) Some(d.getAbsolutePath) else None
      } else None
    }

  /** Configure an existing builder with graft defaults (shared by every main). */
  def configure(b: SparkSession.Builder, cores: Int): SparkSession.Builder = {
    scratchDir.foreach(d => b.config("spark.local.dir", d))
    b.config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.sql.session.timeZone", "UTC")
      // `-Dgraft.aqe=off` measurement dial (r18): most pipeline lines
      // are k-row frames where AQE's per-stage re-planning round trips
      // are pure driver latency; the dial exists to MEASURE that cost
      // (see OPTIMIZATION_r18.md). Default stays ON — at 100 TB the
      // skew-join splitting and partition coalescing are load-bearing.
      .config("spark.sql.adaptive.enabled",
        (!Dials.str("graft.aqe", Set("on", "off")).contains("off")).toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // Default is 300 s; under memory/GC pressure a broadcast future can
      // legitimately take longer, and a timeout fails the whole query. A
      // generous ceiling turns "environment-sensitive tail failure" into
      // "slow but correct" — iterative queries additionally disable
      // broadcasts inside their loops (see Pipeline p20).
      .config("spark.sql.broadcastTimeout", "1200")
      // Snowflake/DuckDB-style implicit casts on INSERT (string literals
      // into timestamp/number columns); Spark 4's ANSI default refuses them.
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.storeAssignmentPolicy", "LEGACY")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .withExtensions(functions.SnowflakeExtensions.inject)
  }

  /** JDK17 module opens Spark needs (the same list build.sbt injects into
    * the forked driver JVM). Executor JVMs launched by a `local-cluster`
    * or standalone master build their command from
    * `spark.executor.extraJavaOptions`, not from sbt, so the list must
    * also ship through the conf. */
  private[graft] val jdk17AddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Session builder for the driver mains (Verify/Bench): the master is
    * `SPARK_GRAFT_MASTER` when set — `local-cluster[2,8,8192]` is the
    * multi-JVM falsification rig: real executor processes, real closure/
    * broadcast serialization, real remote shuffle fetches on one machine —
    * else `local[cpus]`. A multi-process master needs two more things a
    * `local[n]` session gets for free:
    *
    *  - the application classes: executors fetch `spark.jars` from the
    *    driver's file server — `SPARK_GRAFT_JARS` points at the
    *    sbt-packaged jar;
    *  - the JVM configuration: the JDK17 `--add-opens` list and every
    *    `-Dgraft.*` dial live in the DRIVER's command line (build.sbt);
    *    executor JVMs are launched by the worker and inherit neither, so
    *    both are mirrored into `spark.executor.extraJavaOptions`.
    */
  def forMain(cpus: Int): SparkSession.Builder = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val b = SparkSession.builder().master(master)
    sys.env.get("SPARK_GRAFT_JARS").foreach(j => b.config("spark.jars", j))
    if (!master.startsWith("local[")) {
      val dials = sys.props.toSeq.sortBy(_._1)
        .collect { case (k, v) if k.startsWith("graft.") => s"-D$k=$v" }
      b.config("spark.executor.extraJavaOptions",
        (jdk17AddOpens ++ dials).mkString(" "))
      // the worker OFFERS the bracket's MB but executors still request
      // the spark.executor.memory default (1g) unless told otherwise:
      // size the request to the offer so local-cluster[2,8,8192] actually
      // runs 8 GiB executors
      "local-cluster\\[\\s*\\d+\\s*,\\s*\\d+\\s*,\\s*(\\d+)\\s*\\]".r
        .findFirstMatchIn(master)
        .foreach(m => b.config("spark.executor.memory", s"${m.group(1)}m"))
    }
    configure(b, cpus)
  }

  /** Local session for tests / ad-hoc use. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = configure(
      SparkSession.builder().master(s"local[$cores]").appName("graft"),
      cores
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
