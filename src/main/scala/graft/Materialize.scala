package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lineage-truncating materialization for iterative and multi-consumer
  * plans, behind the `checkpointMode` knob ([[Knobs]]).
  *
  * Every round-materialization in the suite (connected-components
  * min-label rounds, k-means/PQ rounds, LexRank rounds, the p81/p85/p90b
  * shared signal fronts) needs the SAME thing: evaluate the frame once,
  * hand consumers a flat `LogicalRDD`/scan plan instead of a
  * depth-O(rounds) tree that Catalyst re-analyzes per level. How the
  * materialized bytes are stored is a durability/cost trade the caller
  * should not hard-code:
  *
  *  - `local` (default): eager `localCheckpoint` — blocks live in the
  *    executors' block managers, non-replicated, executor-lifetime.
  *    Fastest (no serialization to a filesystem), but on a real cluster
  *    ANY executor loss mid-job is fatal to the plan (the blocks cannot
  *    be recomputed: lineage was truncated), and under heavy concurrent
  *    load the same loss shows up in-process as
  *    `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`. The right mode for a
  *    single-tenant benchmark run, the wrong one for a 1000-executor
  *    job where some executor WILL be preempted.
  *  - `reliable`: `Dataset.checkpoint` into the SparkContext checkpoint
  *    directory (`sc.setCheckpointDir`; defaulted to a JVM-lifetime temp
  *    dir when the deployment has not set one — a cluster points it at
  *    shared storage via `-Dgraft.checkpointDir` or its own
  *    `setCheckpointDir` call). Files survive executor loss; tasks
  *    re-read them on retry. The cluster-safe mode.
  *  - `stage`: write-parquet-and-read-back under a staging root (the
  *    ShingleStage discipline, per-call rather than keyed-and-shared).
  *    Durable like `reliable`, plus columnar — consumers that prune
  *    columns read less than the checkpoint's row format.
  *
  * Checkpointing changes PLAN SHAPE only, never values, so the oracle
  * contract is mode-independent (MaterializeSpec pins representative
  * entries bit-equal across all three modes).
  *
  * Tracking is EXACT, not diff-based: the materialized RDD is read back
  * out of the returned Dataset's own `LogicalRDD` leaf, so releasing a
  * handle can never touch a concurrent query's blocks (the former
  * global `getPersistentRDDs` before/after diff could capture a foreign
  * query's in-flight checkpoint and unpersist it mid-job — fatal for
  * localCheckpointed RDDs, which cannot be recomputed).
  */
object Materialize {

  /** A materialized frame plus the release handle for its backing
    * storage (blocks / checkpoint files / staged parquet). Releasing is
    * only safe once no consumer will read `df` again — the same
    * contract as unpersisting a localCheckpoint. Handles that are never
    * released are reclaimed at JVM exit (temp roots) or by the
    * deployment's retention policy (explicit roots). */
  final case class Handle(df: DataFrame, release: () => Unit)

  /** JVM-lifetime temp root for `stage` mode (and the default reliable
    * checkpoint dir), preferring RAM-backed /dev/shm. NODE-LOCAL — the
    * single-process default; a cluster deployment MUST point
    * `-Dgraft.matStageDir` (any Hadoop-resolvable URI: hdfs://, s3a://,
    * a shared mount) at storage every executor can read, which is used
    * as-is and never deleted on exit. */
  private lazy val defaultTempRoot: java.nio.file.Path = {
    val shm = new java.io.File("/dev/shm")
    val base = if (shm.isDirectory && shm.canWrite) shm.toPath
               else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    val d = java.nio.file.Files.createTempDirectory(base, "graft_mat")
    sys.addShutdownHook(rmLocal(d.toFile))
    d
  }

  private def rmLocal(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmLocal)); f.delete(); ()
  }

  /** Staging root as a STRING path: an explicit `-Dgraft.matStageDir`
    * passes through verbatim (it may be an hdfs://, s3a:// or other
    * Hadoop URI — parquet write creates the directory and [[rmFs]]
    * releases through the same filesystem), otherwise the node-local
    * temp root. */
  private def stageRoot(implicit knobs: Knobs): String =
    knobs.matStageDir.getOrElse(defaultTempRoot.toString)

  private val counter = new java.util.concurrent.atomic.AtomicLong(0L)

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Lazily point the context at a checkpoint dir if the deployment has
    * not already done so. `-Dgraft.checkpointDir` wins (a cluster sets
    * it to shared storage); otherwise the JVM-lifetime temp root. */
  private def ensureCheckpointDir(s: SparkSession)(implicit knobs: Knobs): Unit = synchronized {
    val sc = s.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(knobs.checkpointDir.getOrElse(s"$stageRoot/ck"))
  }

  /** The materialized RDD backing a checkpointed Dataset — read from
    * its own plan leaf, never from global session state. Empty only if a
    * future Spark version stops planning checkpoints as `LogicalRDD`;
    * release would then be a no-op and blocks/files would leak, so the
    * drift is LOGGED loudly instead of silently swallowed (r14 ADVICE). */
  private def planRdd(ck: DataFrame): Option[org.apache.spark.rdd.RDD[_]] = {
    val r = ck.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    if (r.isEmpty) log.warn(
      "Materialize: checkpointed plan has no LogicalRDD leaf (Spark plan-" +
        "shape drift?) — release will be a no-op and storage may leak: " +
        ck.queryExecution.analyzed.getClass.getName)
    r
  }

  /** Recursive delete through the Hadoop filesystem API so an explicit
    * checkpoint dir on shared/cluster storage releases correctly too. */
  private def rmFs(s: SparkSession, path: String): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    } catch { case _: java.io.IOException => () }

  /** Materialize `df` eagerly under the active mode and return it with
    * its release handle. `tag` names the site in staged paths (and
    * nothing else) — diagnostics, not identity. */
  def tracked(df: DataFrame, tag: String)(implicit knobs: Knobs): Handle =
    knobs.checkpointMode match {
      case "reliable" =>
        val s = df.sparkSession
        ensureCheckpointDir(s)
        val ck = df.checkpoint(eager = true)
        val rdd = planRdd(ck)
        Handle(ck, () => rdd.foreach { r =>
          // release = delete this RDD's checkpoint files; the unpersist is
          // belt-and-braces (reliable checkpoints don't pin block memory)
          r.getCheckpointFile.foreach(rmFs(s, _))
          r.unpersist(blocking = false); ()
        })
      case "stage" =>
        val s = df.sparkSession
        // path uniqueness: counter disambiguates sites within this JVM, and
        // the Spark applicationId disambiguates JVMs — two concurrent jobs
        // sharing an explicit -Dgraft.matStageDir on different hosts can
        // collide on (pid, counter) but never on applicationId (r14 ADVICE)
        val out = s"$stageRoot/m_${tag}_${counter.getAndIncrement()}_" +
          s.sparkContext.applicationId
        df.write.mode("overwrite").parquet(out)
        Handle(s.read.parquet(out), () => rmFs(s, out))
      case _ =>
        val ck = df.localCheckpoint(eager = true)
        val rdd = planRdd(ck)
        Handle(ck, () => rdd.foreach(_.unpersist(blocking = false)))
    }

  /** Fire-and-forget materialization: callers that hand the frame to a
    * lazily-consumed downstream plan (the p81/p85 shared fronts) cannot
    * release before their own result is consumed — under `local` the
    * blocks stay pinned for the session (the documented caller-must-
    * clean contract); under `reliable`/`stage` nothing pins block
    * memory and files are reclaimed at JVM exit / by retention. */
  def apply(df: DataFrame, tag: String)(implicit knobs: Knobs): DataFrame =
    tracked(df, tag).df
}
