package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Knobs, Materialize}
import graft.queries.Q._

/** LLM-training-data pipeline operators over `documents` / `embeddings` /
  * `events`: deduplication (exact, n-gram Jaccard, MinHash+LSH, SimHash),
  * similarity search (brute-force cosine KNN and LSH-bucketed ANN),
  * text analysis (language ID, quality scoring, token stats,
  * fingerprinting), and the batch analog of streaming windowed aggregation.
  *
  * Scale design: everything here is shuffle-on-key relational work — no
  * driver-side collects, no per-row UDF boxing (the cosine/simhash kernels
  * are codegen'd Catalyst expressions from graft.functions). The LSH
  * variants exist precisely so the quadratic brute-force paths are only the
  * small-scale baselines.
  */
object Pipeline {

  private def docs(s: SparkSession, dir: String) = t(s, dir, "documents")
  private def emb(s: SparkSession, dir: String) = t(s, dir, "embeddings")

  /** Pre-explode spread (r17): `-Dgraft.explodeSpread` — partition width
    * forced ahead of a corpus-scale explode whose per-row work dominates
    * a stage (shingling, tokenizing, replica blowups). Default = the
    * session's default parallelism; 0 disables. Rationale: the bench
    * corpus ships as single-row-group parquet, so such explodes
    * otherwise run on ONE split regardless of `maxPartitionBytes`
    * (guide §2.5, input skew). A many-file 100 TB table is already
    * split, so a production deployment sets 0 and skips the shuffle —
    * the scale-dependent setting stays a dial with a local default, per
    * the optimization contract. Values are repartition-invariant. */
  private def spread(s: SparkSession, df: DataFrame)(implicit knobs: Knobs): DataFrame = {
    val w = knobs.explodeSpread.getOrElse(s.sparkContext.defaultParallelism)
    if (w <= 0) df
    else {
      // scale-adaptive (r18): a many-file / multi-row-group table
      // already scans as multiple splits — repartitioning it would ADD
      // a full shuffle at exactly the scale where this dial exists to
      // be a no-op. The planned split count is read off the physical
      // scan (driver-only planning, no job); only a scan narrower than
      // half the target width pays the spread shuffle. The bench corpus
      // (single-row-group files) still plans as 1 split per table, so
      // local behavior is unchanged.
      val natural = df.rdd.getNumPartitions
      if (natural * 2 >= w) df else df.repartition(w)
    }
  }

  /** Materialize-once staging of the shingle front shared by p02 / p03 /
    * p20 / p21. The explode of every document into distinct 3-token
    * shingles plus the per-shingle document frequency is by far the most
    * expensive common prefix of the dedup family; previously each of the
    * four queries recomputed it from scratch — at 100 TB that is the same
    * multi-hour explode run four times. Staging it once as parquet (not a
    * cached view: the bench and any production scheduler may clear the
    * block-manager cache between queries, and parquet survives executor
    * loss on a real cluster) makes every dependent read a ready columnar
    * table with the document frequency precomputed.
    *
    * Lifecycle: one staged copy per distinct input dir per JVM, written
    * lazily by the first consumer under a temp dir deleted on JVM exit.
    * Inputs are immutable for the life of a pipeline run (parquet dirs);
    * a production deployment points this at an explicit staged table with
    * its own retention policy.
    */
  private[graft] object ShingleStage {
    private val staged = scala.collection.mutable.HashMap[String, String]()
    /** Staging root. `-Dgraft.shingleStageDir` points production at an
      * explicit shared location (object store / shared filesystem) with its
      * own retention — nothing is deleted on exit there. The local-mode
      * default is a JVM-lifetime temp dir, preferring RAM-backed /dev/shm
      * (the staged table is written once and re-read by four queries; on a
      * box with slow block storage the re-reads should not pay disk). */
    private lazy val defaultRoot: java.nio.file.Path = {
      val shm = new java.io.File("/dev/shm")
      val base = if (shm.isDirectory && shm.canWrite) shm.toPath
                 else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
      val d = java.nio.file.Files.createTempDirectory(base, "graft_shingle_stage")
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(d.toFile)
      }
      d
    }

    /** Resolved per call (not once-per-JVM) so a deployment can point
      * different runs at different staged locations; the explicit dir is
      * never deleted on exit. */
    private def root(implicit knobs: Knobs): java.nio.file.Path =
      knobs.shingleStageDir match {
        case Some(p) =>
          val d = java.nio.file.Paths.get(p)
          java.nio.file.Files.createDirectories(d)
          d
        case None => defaultRoot
      }
    /** Generic stage-once: build `df` lazily, write it as parquet under
      * the staging root, hand every caller the columnar read. One staged
      * copy per (tag, root, canonical input dir) per JVM — and, under an
      * EXPLICIT `-Dgraft.shingleStageDir`, per root across JVMs: a staged
      * table that already exists there (committed `_SUCCESS`) is reused
      * rather than rebuilt, which is what makes the shared-filesystem
      * deployment real — each pipeline stage of a multi-job run pays the
      * explode/join once, not once per JVM. (Inputs are immutable parquet
      * for the life of a run; an explicit staging dir carries its own
      * retention policy, so deleting it is how you invalidate.) */
    private[graft] def stage(s: SparkSession, dir: String, tag: String)(
        build: => DataFrame)(implicit knobs: Knobs): DataFrame = {
      val path = synchronized {
        val canonical = new java.io.File(dir).getCanonicalPath
        val r = root
        staged.getOrElseUpdate(s"$tag|$r|$canonical", {
          // name derives from the input path, not an in-JVM counter, so an
          // explicit (cross-JVM) staging dir maps each input to a stable
          // location instead of colliding on sh_0
          val key = java.security.MessageDigest.getInstance("MD5")
            .digest(canonical.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
          val out = r.resolve(s"${tag}_$key")
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
          }
          if (!java.nio.file.Files.exists(out.resolve("_SUCCESS"))) {
            // Repair paths before building: a final dir WITHOUT _SUCCESS is
            // torn state (a crash mid-commit, or a pre-atomic-commit
            // leftover) — the rename below would refuse to replace it, so
            // delete it now. Re-check _SUCCESS immediately before the rm:
            // between the outer check and here another JVM can COMMIT, and
            // deleting the freshly committed table would fail its readers'
            // in-flight scans mid-file. Orphan temp siblings from builders
            // that died after writing are likewise swept, but only when
            // their DEEPEST file is old enough (>10 min) that they cannot
            // be a LIVE concurrent builder's in-progress copy — Spark
            // writes land under _temporary/, so the tmp dir's own
            // top-level mtime does not advance during a long build and
            // would mis-flag a >10-min live build as orphaned.
            if (java.nio.file.Files.exists(out) &&
              !java.nio.file.Files.exists(out.resolve("_SUCCESS")))
              rm(out.toFile)
            def maxMtime(f: java.io.File): Long =
              (f.lastModified() +: Option(f.listFiles()).toSeq.flatten
                .map(maxMtime)).max
            val cutoff = System.currentTimeMillis() - 10L * 60 * 1000
            Option(r.toFile.listFiles()).foreach(_.filter(f =>
              f.getName.startsWith(s"$tag-$key.tmp.") &&
                maxMtime(f) < cutoff).foreach(rm))
            // Concurrency-safe commit across JVMs sharing one staging root:
            // build into a unique temp sibling, then atomically rename onto
            // the final path (rename(2) — same filesystem by construction).
            // Two racing builders each write their own temp dir; the first
            // rename wins, the loser deletes its copy and reads the
            // winner's. Readers only ever see a fully-committed table —
            // never the torn state a concurrent write.mode(overwrite) into
            // a shared path could expose.
            val tmp = r.resolve(
              s"$tag-$key.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
            build.write.mode("overwrite").parquet(tmp.toString)
            try java.nio.file.Files.move(tmp, out,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            catch {
              case _: java.nio.file.FileSystemException
                  if java.nio.file.Files.exists(out.resolve("_SUCCESS")) =>
                // lost the race: another builder committed first — its
                // table is the one all readers share; discard ours
                rm(tmp.toFile)
              case _: java.nio.file.FileSystemException
                  if !java.nio.file.Files.exists(out.resolve("_SUCCESS")) =>
                // a racing builder re-created torn state (or the repair
                // above raced a crash): clear the stale target and retry
                // the rename once; if THAT loses to a real commit, read
                // the winner's table
                if (java.nio.file.Files.exists(out)) rm(out.toFile)
                try java.nio.file.Files.move(tmp, out,
                  java.nio.file.StandardCopyOption.ATOMIC_MOVE)
                catch {
                  case _: java.nio.file.FileSystemException
                      if java.nio.file.Files.exists(out.resolve("_SUCCESS")) =>
                    rm(tmp.toFile)
                }
            }
          }
          out.toString
        })
      }
      // per-(session, path) frame cache (r17): staged tables are
      // immutable once committed, yet every consumer load re-ran schema
      // inference over the staged files — with multi-file staged tables
      // that is dozens of serial driver footer reads per query. Reusing
      // the immutable plan is free; the Tables.load discipline. Weakly
      // keyed by session (r18, ADVICE) so a server churning sessions
      // never pins dead sessions' plans.
      sessionFrames(s).computeIfAbsent(path, _ => s.read.parquet(path))
    }

    private val frames = new java.util.WeakHashMap[
      SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()

    private def sessionFrames(s: SparkSession) = frames.synchronized {
      var m = frames.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        frames.put(s, m)
      }
      m
    }

    /** Test hook: forget the in-JVM staging map (simulates a fresh JVM
      * against the same staging root). */
    private[graft] def resetForTest(): Unit = synchronized {
      staged.clear(); frames.clear()
    }

    /** Distinct 3-token shingles per document plus each shingle's
      * document frequency (a window count over the same hash-partitioning
      * the downstream joins need). Schema: (doc_id, h, df) — h is the
      * engine-portable 60-bit md5 of the shingle text; the text itself is
      * dropped at staging. */
    def load(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame =
      stage(s, dir, "sh") {
        spread(s, docs(s, dir)
            .select(col("doc_id"), split(col("text"), " ").as("arr"))
            .filter(size(col("arr")) >= 3))
            .select(col("doc_id"), explode(array_distinct(expr(
              "transform(sequence(0, size(arr)-3), i -> concat_ws(' ', arr[i], arr[i+1], arr[i+2]))")))
              .as("shingle"))
            // the shingle TEXT dies here: every consumer joins, groups and
            // verifies on the engine-portable 60-bit hash (p03 derives its
            // whole signature family from it), so the staged table carries
            // 8 bytes per shingle instead of ~30 — the DF window's shuffle,
            // the parquet files and every downstream scan shrink ~4x
            .select(col("doc_id"), md560(col("shingle")).as("h"))
            .withColumn("df",
              count(lit(1)).over(Window.partitionBy(col("h"))))
            // hash-repartition on doc_id before the write: the window's
            // shuffle output is size-coalesced by AQE into a handful of
            // skewed files, and every consumer's first (map-side-heaviest)
            // stage inherits that scan parallelism. Uniform doc_id files
            // keep the staged scan embarrassingly parallel at any scale.
            .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
              col("doc_id"))
      }
  }

  /** Candidate pair table (a_id < b_id, shared-shingle intersection count
    * plus both shingle-set sizes, PRE-threshold) staged once per input
    * dir. The posting-list expansion behind it is the most expensive join
    * in the suite, and it feeds TWO different similarity thresholds —
    * Jaccard (p02/p20/p31/p58, >= 0.5) and Broder containment
    * (p73, >= 0.7 of the smaller set). Staging the raw (a_id, b_id,
    * inter, sza, szb) front lets every consumer apply its own threshold
    * as a literal filter over one staged scan; at 100 TB the alternative
    * is each family re-running the dominant shuffle. Same
    * lifecycle/root as [[ShingleStage]].
    *
    * The tag is VERSIONED: "pr" staged the post-threshold
    * (a_id, b_id, jaccard) schema; the pre-threshold widening to
    * (a_id, b_id, inter, sza, szb) bumped it to "pr2" so a
    * shared-filesystem deployment (`-Dgraft.shingleStageDir` across
    * JVM generations) ignores a committed old-format table and
    * rebuilds instead of failing every consumer's `inter` select with
    * AnalysisException. Any future schema change bumps the tag again. */
  private[graft] object PairStage {
    def load(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame =
      ShingleStage.stage(s, dir, "pr2")(buildRawPairs(s, dir))
  }

  /** p00g: the exact ANN truth sets, staged once per corpus. Both are
    * deterministic pure functions of the embeddings table — the exact
    * top-5 cosine neighbors per query (p05's result, the recall
    * denominator of every method p35 measures) and the exact near-dup
    * pair truth (p14's cosine >= 0.4 pairs, the candidate-recall
    * denominator for the LSH rows). Before staging, p35 re-derived both
    * guarded all-pairs cross joins on every run and its cost grew with
    * each ANN method added (the r9 verdict's #1 bench line); staged, the
    * truth is built once and every recall line is an additive cheap join
    * against a small parquet table. The exact-baseline scale guard moves
    * here: it fires when the truth is BUILT (the only expensive moment),
    * at validation scale only — a 100 TB corpus measures recall on a
    * sampled validation slice, never all-pairs (`knobs.evalQueries` IS
    * that slice: with `-Dgraft.evalQueries=m` the query side is the
    * m-vector hash sample and the build costs m*n, not n^2). Same
    * commit protocol / lifecycle as [[ShingleStage]]; the sample size
    * is part of the staging tag (a fit dial — the p91 lesson). */
  private[graft] object TruthStage {
    /** Exact top-5 cosine neighbors: (qid, neighbor_id, rank, sim_r). */
    def loadKnn(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame =
      ShingleStage.stage(s, dir, evalTag(s, dir, "tk")) {
        guardExactBaseline(s, dir, "p05_knn_exact (truth stage)",
          "p06_knn_lsh / p16_knn_ivf")
        // the candidate side broadcasts; parallelism comes from the
        // streamed side's partitioning, and a single parquet file gives
        // too few partitions to use the machine — spread the O(n^2) work
        val e0 = emb(s, dir)
        val q = evalSampleFilter(e0, embCount(s, dir))
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
          .repartition(s.sparkContext.defaultParallelism)
        val c = emb(s, dir).select(col("vec_id").as("cid"), col("embedding").as("cv"))
        val rn = Window.partitionBy(col("qid"))
          .orderBy(col("sim").desc, col("cid"))
        q.crossJoin(c).filter(col("qid") =!= col("cid"))
          .withColumn("sim", expr("cosine_sim(qv, cv)"))
          .withColumn("rank", row_number().over(rn))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("cid").as("neighbor_id"),
            col("rank"), round(col("sim"), 6).as("sim_r"))
      }

    /** Exact near-dup pair truth: (a_id, b_id, sim_r), cosine >= 0.4.
      * Under `knobs.evalQueries` the slice is "pairs whose a-side (the
      * smaller id) is sampled" — recall over it stays well-defined for
      * every consumer because each joins candidates AGAINST this truth. */
    def loadPairs(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame =
      ShingleStage.stage(s, dir, evalTag(s, dir, "tp")) {
        guardExactBaseline(s, dir, "p14_embedding_neardup (truth stage)",
          "p06_knn_lsh")
        // same parallelism spread as the KNN truth: the streamed side
        // drives task count
        val e0 = emb(s, dir)
        val a = evalSampleFilter(e0, embCount(s, dir))
          .select(col("vec_id").as("a_id"), col("embedding").as("av"))
          .repartition(s.sparkContext.defaultParallelism)
        val b = emb(s, dir).select(col("vec_id").as("b_id"), col("embedding").as("bv"))
        a.crossJoin(b).filter(col("a_id") < col("b_id"))
          .withColumn("sim", expr("cosine_sim(av, bv)"))
          .filter(col("sim") >= 0.4)
          .select(col("a_id"), col("b_id"), round(col("sim"), 6).as("sim_r"))
      }
  }

  /** Shingles with a document-frequency guard: shingles present in more
    * than max(5, 1%) of documents are dropped before any self-join. A
    * shingle shared by k documents produces k² join rows — one viral
    * shingle at 100 TB makes the inverted-index join quadratic, and
    * near-dup evidence from boilerplate shingles is noise anyway (standard
    * stop-shingle hygiene). The document frequency is precomputed in the
    * staged table, so the guard is a plain literal filter on the staged
    * scan; the doc count is a one-row aggregate-pushdown parquet read. */
  private def shingles(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame = {
    val nDocs = docsCount(s, dir)
    ShingleStage.load(s, dir)
      .filter(col("df").cast("double") <= lit(math.max(5.0, nDocs * 0.01)))
      .select(col("doc_id"), col("h"))
  }

  /** Engine-portable 60-bit hash: the first 15 hex chars of md5, parsed
    * base 16. Spark computes it via conv(); the oracle side reproduces the
    * identical value in DuckDB with a generated Horner chain over
    * instr('0123456789abcdef', …). Making the hash function part of the
    * cross-engine contract (instead of an engine internal like xxhash64)
    * is what promotes the MinHash/SimHash oracles from rows-only to
    * hash-matched. 60 bits keeps every value positive in a signed BIGINT
    * in both engines, so shifts and comparisons agree. */
  private def md560(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Horner parse of the first 15 hex chars of expression `h` (an md5 hex
    * string) as DuckDB SQL — the oracle half of [[md560]]. Split out so an
    * oracle can compute the md5 once in a CTE and chain over the column. */
  private def duckHex60(h: String): String =
    (1 to 15).map(i => s"(instr('0123456789abcdef', substr($h, $i, 1)) - 1)")
      .reduce((acc, d) => s"($acc * 16 + $d)")

  /** The same 60-bit hash as DuckDB SQL over expression `x`. */
  private def duckMd560(x: String): String = duckHex60(s"md5($x)")

  // ---- deterministic sketch family (p38/p39/p40): Bloom prescreen,
  // HyperLogLog cardinality, count-min heavy hitters. Every position /
  // register / rank derives from the engine-portable md560 with integer
  // shifts and masks only — no float log, no engine-internal hash — so
  // the sketch CONTENTS (not just the final answers) are reproducible
  // cross-engine and can themselves be oracle-pinned (p38b).

  /** Bloom probe positions: w-bit slices of the 60-bit hash at evenly
    * spaced shifts (Kirsch-Mitzenmacher-style derivation of k probes
    * from one strong hash; slice i uses bits [i·step, i·step+w) ⊂
    * [0, 60), step = (60−w) div k — at the defaults, [11i, 11i+16)).
    * The bits pack into 32-bit words kept in signed longs so neither
    * engine's `<<` ever touches the sign bit. */
  private def bloomHashShifts(implicit knobs: Knobs): Seq[Int] = {
    val step = (60 - knobs.bloomLogBits) / knobs.bloomProbes
    (0 until knobs.bloomProbes).map(_ * step)
  }
  private def bloomMask(implicit knobs: Knobs): Int = (1 << knobs.bloomLogBits) - 1
  private def bloomPosSpark(h: String, s: Int)(
      implicit knobs: Knobs) = s"(shiftright($h, $s) & $bloomMask)"
  private def bloomPosDuck(h: String, s: Int)(implicit knobs: Knobs) = s"(($h >> $s) & $bloomMask)"

  /** Fold a set of 60-bit hashes into the (word, bits) Bloom bitset —
    * ≤2048 rows, map-side-combined bit_or, broadcastable as one row. */
  private def bloomBits(hashes: DataFrame)(implicit knobs: Knobs): DataFrame = hashes
    .select(explode(array(bloomHashShifts.map(sh =>
      expr(bloomPosSpark("h", sh))): _*)).as("pos"))
    .groupBy(expr("CAST(shiftright(pos, 5) AS INT)").as("word"))
    .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos & 31 AS INT)))")
      .as("bits"))

  /** Integer bit-length of non-negative expression `w` (< 2^52) as a sum
    * of literal threshold comparisons — the same no-float-log2 trick as
    * [[lshNumPlanes]], rendered textually identically into Spark SQL and
    * DuckDB so the HLL register ranks can never disagree. */
  private def bitlenSql(w: String): String =
    (0 until 52).map(p => s"(CASE WHEN $w >= ${1L << p} THEN 1 ELSE 0 END)")
      .mkString(" + ")

  /** The HLL estimator constant α₂₅₆·m²·2⁵³, folded to ONE IEEE double in
    * Scala and rendered into both engines' SQL as the same shortest-round-
    * trip literal (Double.toString round-trips exactly). It cannot be
    * spelled as decimal literals inside the SQL: Spark types
    * decimal÷decimal as a scale-capped DECIMAL (0.7213/(1+1.079/256)
    * rounds at the 8th significant digit) while DuckDB promotes the same
    * spelling to DOUBLE — a divergence of ~3 counts on a 3·10⁵ vocabulary,
    * far above the 10⁻⁴ rounding guard. With the constant pre-folded, the
    * only float ops left in the chain are one division by s_scaled and the
    * floor(x·10⁴+0.5) rounding — identical IEEE in both engines. The
    * string-cast (CAST('…' AS DOUBLE)) pins the literal's type on both
    * sides regardless of engine literal-typing rules. */
  private[graft] val hllEstConst: Double =
    0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 * 9007199254740992.0
  private def hllEstConstSql: String =
    s"CAST('${java.lang.Double.toString(hllEstConst)}' AS DOUBLE)"

  /** Count-min row positions: w-bit slices of the hash at evenly spaced
    * shifts (slice j uses bits [j·step, j·step+w) ⊂ [0, 60), step =
    * min(w, (60−w) div max(1, d−1)) — at the defaults, [13j, 13j+13)). */
  private def cmsShifts(implicit knobs: Knobs): Seq[Int] = {
    val step = math.min(knobs.cmsLogWidth,
      (60 - knobs.cmsLogWidth) / math.max(1, knobs.cmsDepth - 1))
    (0 until knobs.cmsDepth).map(_ * step)
  }
  private def cmsMask(implicit knobs: Knobs): Int = (1 << knobs.cmsLogWidth) - 1
  private def cmsPosSpark(h: String, j: Int)(implicit knobs: Knobs) =
    s"(shiftright($h, ${cmsShifts.apply(j)}) & $cmsMask)"
  private def cmsPosDuck(h: String, j: Int)(implicit knobs: Knobs) =
    s"(($h >> ${cmsShifts.apply(j)}) & $cmsMask)"

  /** Per-row text → distinct-3-gram-shingle → HLL register update
    * projection: the same shingle front [[ShingleStage]] stages and the
    * same register arithmetic batch p39/p39b apply to the staged hashes,
    * as ONE stateless projection — the streaming counterpart's map side
    * ([[graft.streaming.EventStreams.vocabRegistersStream]]). One
    * (idx, rho) row per distinct shingle per document; max-merging rho
    * per idx — batch agg or streaming stateful agg — yields the
    * identical ≤256-row register table either way (spec-proven). */
  private[graft] def hllRegisterUpdates(docs: DataFrame): DataFrame =
    docs
      .select(split(col("text"), " ").as("arr"))
      .filter(size(col("arr")) >= 3)
      .select(explode(array_distinct(expr(
        "transform(sequence(0, size(arr)-3), i -> concat_ws(' ', arr[i], arr[i+1], arr[i+2]))")))
        .as("shingle"))
      .select(md560(col("shingle")).as("h"))
      .select(expr("CAST(h & 255 AS INT)").as("idx"),
        expr(s"53 - (${bitlenSql("shiftright(h, 8)")})").as("rho"))

  /** Per-row text → bigram → 60-bit hash projection shared by batch p40
    * and the streaming CMS ([[cmsCellUpdates]]): one (bigram, h) row per
    * bigram INSTANCE (not distinct — the sketch counts occurrences). */
  private[graft] def bigramHashes(docs: DataFrame): DataFrame =
    docs
      .select(split(col("text"), " ").as("arr"))
      .filter(size(col("arr")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(arr)-2), i -> concat_ws(' ', arr[i], arr[i+1]))"))
        .as("bigram"))
      .withColumn("h", md560(col("bigram")))

  /** Per-row CMS cell updates — one (j, pos) row per bigram instance per
    * sketch row: count-merging per (j, pos) — batch agg or streaming
    * stateful agg — yields the identical ≤ depth·width cell table
    * ([[graft.streaming.EventStreams.bigramCellsStream]]). */
  private[graft] def cmsCellUpdates(docs: DataFrame)(implicit knobs: Knobs): DataFrame =
    bigramHashes(docs)
      .select(posexplode(array(cmsShifts.indices.map(j =>
        expr(cmsPosSpark("h", j))): _*)).as(Seq("j", "pos")))

  /** The shingle → staged-hash CTE prefix shared by the contamination and
    * vocabulary oracles (mirrors what [[ShingleStage]] stages). */
  private def duckShingleCtes: String = s"""toks AS (
          SELECT doc_id, string_split(text, ' ') AS arr FROM documents
          WHERE len(string_split(text, ' ')) >= 3),
        sh0 AS (
          SELECT doc_id, unnest(list_distinct(
            [arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] FOR i IN range(1, len(arr) - 1)])) AS shingle
          FROM toks),
        sh AS (SELECT doc_id, ${duckMd560("shingle")} AS h FROM sh0)"""

  /** The DF-guarded shingle → posting-list → intersection-count CTE
    * prefix (what [[buildJaccardPairs]] computes before the Jaccard
    * threshold), shared by p02's oracle and the staged-pair consumers
    * (p58). Ends at `pr` (a_id, b_id, inter) with `sz` alongside. */
  private def duckGuardedPairCtes: String = s"""toks AS (
          SELECT doc_id, string_split(text, ' ') AS arr FROM documents
          WHERE len(string_split(text, ' ')) >= 3),
        sh0 AS (
          SELECT doc_id, unnest(list_distinct(
            [arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] FOR i IN range(1, len(arr) - 1)])) AS shingle
          FROM toks),
        nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        sh1 AS (SELECT doc_id, ${duckMd560("shingle")} AS h FROM sh0),
        hot AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM sh1 GROUP BY h) d, nd
                WHERE CAST(d.df AS DOUBLE) > greatest(5.0, CAST(nd.n_docs AS DOUBLE) * 0.01)),
        sh AS (SELECT doc_id, h FROM sh1
               WHERE h NOT IN (SELECT h FROM hot)),
        sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
               FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
               GROUP BY 1, 2)"""

  /** Every document's near-dup component label (min doc_id in its
    * connected component; singletons label themselves) — p20's result,
    * shared with the dedup-yield report (p59). */
  private def dedupComponents(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame = {
    val fix = minLabelComponents(s,
      jaccardPairs(s, dir).select(col("a_id"), col("b_id")))
    docs(s, dir)
      .select(col("doc_id"))
      .join(fix.withColumnRenamed("comp", "edge_comp"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("edge_comp"), col("doc_id")).as("comp"))
  }

  /** The full component chain as DuckDB CTEs (caller writes `WITH
    * RECURSIVE` — `reach` is the recursive closure): the guarded pair
    * prefix, the Jaccard threshold, symmetric edges, min-label reach.
    * Shared by p20's oracle and p59's. */
  private def duckComponentCtes: String = s"""$duckGuardedPairCtes,
        pairs AS (
          SELECT a_id, b_id
          FROM pr JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
          WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5),
        edges AS (SELECT a_id AS s, b_id AS d FROM pairs
                  UNION SELECT b_id, a_id FROM pairs),
        reach(id, comp) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id)"""

  /** p21's oracle SQL — and p38's: the Bloom prescreen provably cannot
    * change the result (no false negatives; false positives die in the
    * exact verify join), and sharing the oracle is what pins exactly that
    * invariance cross-engine. */
  private def duckContaminationSql: String = s"""WITH $duckShingleCtes,
        bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 20 = 0),
        cand AS (SELECT * FROM sh WHERE doc_id % 20 <> 0),
        sz AS (SELECT doc_id, COUNT(*) AS n_shingles FROM cand GROUP BY 1),
        hits AS (SELECT doc_id, COUNT(*) AS n_hit FROM cand
                 WHERE h IN (SELECT h FROM bench) GROUP BY 1)
        SELECT sz.doc_id, sz.n_shingles,
          CAST(COALESCE(hits.n_hit, 0) AS BIGINT) AS n_hit,
          CAST(COALESCE(hits.n_hit, 0) AS DOUBLE) / sz.n_shingles AS contamination
        FROM sz LEFT JOIN hits ON sz.doc_id = hits.doc_id
        WHERE CAST(COALESCE(hits.n_hit, 0) AS DOUBLE) / sz.n_shingles >= 0.2
        ORDER BY sz.doc_id"""

  /** MinHash permutation family: h_i(x) = (a_i·x + b_i) mod (2³¹−1) over
    * the 31-bit reduction of one md560 per shingle. One strong hash per
    * shingle plus k cheap codegen'd multiply-mods replaces k independent
    * md5 invocations (the textbook universal-hash construction) — ~30×
    * less per-row work in the signature stage, and every operand stays
    * < 2⁶² so the arithmetic is overflow-free (hence engine-portable) in
    * both Spark and DuckDB. Coefficients are deterministic LCG draws,
    * interpolated as the same literals into the oracle SQL. */
  private val minhashP = 2147483647L // 2^31 − 1 (Mersenne prime)
  private val minhashCoef: IndexedSeq[(Long, Long)] = {
    var state = 0x5DEECE66DL
    def next(): Long = { state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 33) % minhashP }
    (0 until 32).map { _ =>
      val a = { val v = next(); if (v == 0) 1L else v }
      (a, next())
    }
  }

  /** Connected components over an undirected pair graph, restricted to
    * the edge-connected vertex set. Returns (doc_id, comp) for every
    * vertex that appears in `pairs`, comp = min vertex id in the
    * component.
    *
    * Two physical strategies behind one contract:
    *  - edge list <= `knobs.ccDriverMaxEdges`: collect the pairs and run
    *    union-find (path-halving) on the driver. One job, no iteration,
    *    immune to scheduler/codegen variance — the right plan whenever
    *    the thresholded pair graph fits in driver memory.
    *  - larger graphs: Pregel-style min-label propagation + pointer
    *    jumping, O(log diameter) rounds. Runs until the fixpoint, not to
    *    a fixed iteration count — a silent cap would return split
    *    components with no error; `maxIter` is a safety valve that
    *    THROWS when hit, because a wrong clustering is worse than a
    *    failed query.
    *
    * Distributed path: eager [[Materialize]] per iteration, NOT persist:
    * the checkpoint truncates lineage so iteration k analyzes a flat
    * LogicalRDD plan instead of a depth-O(k) tree that AQE re-plans
    * (and re-broadcasts) each round. Each handle releases exactly the
    * previous iteration's storage without touching anything a caller may
    * have pinned (`-Dgraft.checkpointMode` picks local blocks vs durable
    * checkpoint/parquet — mandatory durability on a preemptible
    * cluster, see Materialize's scaladoc). */
  private[graft] def minLabelComponents(
      s: SparkSession, pairs: DataFrame, maxIter: Int = 200)(
      implicit knobs: Knobs): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val sc = s.sparkContext
    val p2 = pairs.toDF("a_id", "b_id")
    val nPairs = p2.count()
    if (nPairs <= knobs.ccDriverMaxEdges) {
      val rows = p2.collect()
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) {
          // path halving: point r at its grandparent as we walk
          parent.put(r, parent.get(parent.get(r)))
          r = parent.get(r)
        }
        r
      }
      rows.foreach { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          // union by min id keeps the root the component minimum, which
          // is the same label the distributed fixpoint converges to
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      parent.keySet().forEach(v => out += ((v, find(v))))
      import s.implicits._
      return out.toSeq.toDF("doc_id", "comp")
    }
    val edges = p2
      .union(p2.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .toDF("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = edges.count()
    // only vertices that appear in the edge set can change label
    var labels = Materialize.tracked(
      edges.select(col("src").as("doc_id"))
        .distinct()
        .withColumn("comp", col("doc_id")), "cc")
    var prevTotal = Long.MaxValue
    var iter = 0
    var converged = nEdges == 0
    // No broadcasts INSIDE the loop: a per-iteration broadcast future is
    // the one thing that can time out under memory/GC pressure (r4's
    // driver bench recorded exactly spark.sql.broadcastTimeout for this
    // query); shuffle joins on the tiny label set are cheap and bounded.
    val savedThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = s.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    // loop parallelism follows the edge count, not the session default:
    // the working set is the edge-connected subgraph (typically orders of
    // magnitude smaller than the corpus), and a dozen iterations of
    // near-empty 32-partition stages is pure task-launch overhead. At
    // scale the same formula grows the partition count with the graph.
    s.conf.set("spark.sql.shuffle.partitions",
      math.max(4L, math.min(savedParts.toLong, nEdges / 10000L)).toString)
    try {
      while (!converged && iter < maxIter) {
        val itT0 = System.nanoTime()
        // labels is a flat checkpointed plan, so its attributes no
        // longer share lineage with edges — plain column refs resolve
        val prop = labels.df.join(edges, col("doc_id") === col("src"))
          .select(col("dst").as("doc_id"), col("comp"))
        // pointer jump: adopt the label of one's current representative
        // (comp is always itself an edge-vertex id, so the self-join
        // resolves). Neighbor propagation alone needs O(diameter) rounds;
        // with jumping the reach doubles per round — O(log d) — which is
        // what makes chain-shaped components tractable at 100×.
        val jump = labels.df.select(col("doc_id"), col("comp").as("via"))
          .join(labels.df.select(col("doc_id").as("via"), col("comp").as("jcomp")), "via")
          .select(col("doc_id"), col("jcomp").as("comp"))
        val next = Materialize.tracked(
          labels.df.union(prop).union(jump)
            .groupBy(col("doc_id")).agg(min(col("comp")).as("comp")), "cc")
        // convergence metric over the already-materialized checkpoint
        // (sum of min-labels is monotone decreasing)
        val total = Option(next.df.agg(sum(col("comp"))).collect()(0).get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        labels.release()
        converged = total == prevTotal
        prevTotal = total
        labels = next
        iter += 1
        // an iteration of this loop is sub-second on healthy state; a slow
        // one indicates external pressure (GC, cleaner backlog) — log it
        val itSec = (System.nanoTime() - itT0) / 1e9
        if (itSec > 2.0)
          System.err.println(f"[minLabelComponents] slow iteration $iter%d: $itSec%.2f s")
      }
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThresh)
      s.conf.set("spark.sql.shuffle.partitions", savedParts)
      savedAqe match {
        case Some(v) => s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => s.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
    if (!converged) {
      labels.release()
      edges.unpersist()
      throw new IllegalStateException(
        s"minLabelComponents did not converge in $maxIter iterations " +
          "(graph diameter exceeds the safety cap); raise maxIter")
    }
    // pin ONLY the tiny fixpoint (edge-connected vertices), then free the
    // edge cache — successors inherit at most O(near-dups) of state
    edges.unpersist()
    labels.df
  }

  /** Near-dup pairs (a_id < b_id) with exact shingle-Jaccard >= 0.5 —
    * p02's result and p20's edge set.
    *
    * Pair generation is a grouped posting-list expansion, not a self-join:
    * group the inverted index by shingle, emit the unordered doc-id pairs
    * of each posting list locally. The DF guard bounds every list at
    * max(5, 1%·docs) entries, so the per-shingle expansion is O(cap²)
    * constant work — one shuffle on `shingle` total, versus the self-join's
    * two full shuffles of the exploded index plus the join itself. */
  private def jaccardPairs(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame =
    PairStage.load(s, dir)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("a_id"), col("b_id"), col("jaccard"))

  private def buildRawPairs(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame = {
    val sh = shingles(s, dir)
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // the posting-list shuffle keys on the staged 60-bit hash, not the
    // shingle string: at 100 TB the one big shuffle of this query moves
    // 8 bytes per row instead of ~30. The oracle mirrors the same hash
    // join, so the check still verifies the exact computation.
    val pairs = sh.groupBy(col("h"))
      .agg(expr("array_sort(collect_list(doc_id))").as("ids"))
      // successors-only expansion over the SORTED posting list: builds
      // the k(k-1)/2 (a < b) pairs directly instead of all k² ordered
      // pairs filtered after — same pair set (ids are distinct per h;
      // sorted, so position order IS value order), half the struct
      // allocations of the suite's biggest expansion (r17).
      // INVARIANT (r18, ADVICE): "distinct per h" rests on the shingle
      // table being DISTINCT (doc_id, h) rows upstream; a 60-bit md5
      // collision between two distinct shingles of ONE document would
      // emit a (a, a) self-pair the old a<b filter dropped. That
      // collision risk is accepted AND shared with the oracle — the
      // DuckDB mirror expands the same md560 posting lists — so the
      // engines can only diverge together, never from each other.
      .select(explode(expr(
        """flatten(transform(ids, (a, i) ->
             transform(slice(ids, i + 2, size(ids) - i - 1),
               b -> struct(a, b))))""")).as("p"))
      .groupBy(col("p.a").as("a_id"), col("p.b").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sz.select(col("doc_id").as("a_id"), col("sz").as("sza")), "a_id")
      .join(sz.select(col("doc_id").as("b_id"), col("sz").as("szb")), "b_id")
      .select(col("a_id"), col("b_id"), col("inter"), col("sza"), col("szb"))
  }

  /** p91's cached broadcast decision, keyed on (staged-pair dir, cap):
    * the staged table is written once per (JVM, dir) and immutable, so
    * the counted guard never needs re-running for the same dir — but the
    * decision also depends on the cap dial, so a changed
    * -Dgraft.broadcastFrontMaxRows re-decides instead of serving the
    * stale verdict. */
  private val p91BroadcastByDirCap =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), java.lang.Boolean]()

  /** Auto-slice derivations already announced (one line per corpus size
    * per JVM — the derivation is deterministic, repeating it is noise). */
  private val evalAutoLogged = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  /** Effective eval-query sample size for a corpus of `n` vectors — the
    * r17 default policy that makes the dial's 100 TB form the default
    * behavior instead of an operator's memory:
    *
    *  - explicit `-Dgraft.evalQueries=m` wins (identity when m >= n:
    *    the full corpus was asked for);
    *  - UNSET, when the unsampled build would exceed the exact-baseline
    *    guard product (n² > cap², cap = `knobs.exactBaselineMaxRows` — i.e.
    *    n > cap), the slice auto-derives as m = max(1, cap²/n), the
    *    largest m the guard's q·n <= cap² admission formula accepts,
    *    and the derivation is logged once. The auto m is always < n
    *    (cap²/n < cap < n whenever the branch fires), so the filter is
    *    never a spurious near-identity;
    *  - None = full corpus (identity; every published gate hash at
    *    n <= cap is byte-identical to the pre-policy behavior).
    *
    * The oracle SQL mirrors the same three-way rule ([[duckEvalAnd]]),
    * and the staged truths bake the effective m into their tag
    * ([[evalTag]]), so an auto-derived slice re-keys its artifacts
    * exactly like an explicit dial (the p91 lesson). */
  private[graft] def effectiveEvalM(n: Long)(implicit knobs: Knobs): Option[Long] =
    knobs.evalQueries match {
      case Some(m) => Some(m).filter(_ < n)
      case None =>
        val cap = knobs.exactBaselineMaxRows
        if (n > cap) {
          val m = math.max(1L,
            ((BigInt(cap) * BigInt(cap)) / BigInt(math.max(n, 1L))).toLong)
          if (evalAutoLogged.add(n))
            System.err.println(
              s"[graft] eval-query auto-slice: corpus n=$n exceeds " +
                s"exactBaselineMaxRows=$cap; sampling m=$m eval queries " +
                "(set -Dgraft.evalQueries to choose the slice explicitly)")
          Some(m)
        } else None
    }

  /** Restrict `df` (must carry `vec_id`) to the eval-query sample — the
    * identity when [[effectiveEvalM]] resolves to the full corpus
    * (mirroring the oracle's `m >= n OR hash < threshold` disjunct: at
    * m >= n the integer threshold can land at 2^60 - 1 and would
    * spuriously drop a max-hash row). */
  private def evalSampleFilter(df: DataFrame, n: Long)(implicit knobs: Knobs): DataFrame =
    effectiveEvalM(n)
      .map(m => df.filter(
        md560(col("vec_id").cast("string")) < lit((1L << 60) / math.max(n, 1L) * m)))
      .getOrElse(df)

  /** The eval-sample predicate as a DuckDB conjunct (" AND (...)") —
    * injected on the QUERY side of every eval oracle so both engines
    * observe the identical validation slice. `vecId` is the
    * alias-qualified query-id column. Mirrors [[effectiveEvalM]]'s
    * three-way rule with n as a scalar subquery (the SQL is built before
    * the corpus is read, so the rule must be self-deciding): explicit
    * dial → `m >= n OR hash < thr(m)` with the multiplier clamped to n
    * (unclamped, a huge m on a small corpus overflows BIGINT, which
    * DuckDB raises on even though the m >= n disjunct already admits
    * every row — Spark's side treats m >= n as the identity); unset →
    * `n <= cap OR hash < thr(max(1, cap²//n))`, the auto-slice rule,
    * which folds to TRUE at every gate scale (n <= cap). */
  private def duckEvalAnd(vecId: String)(implicit knobs: Knobs): String = {
    val n = "(SELECT COUNT(*) FROM embeddings)"
    def thr(mExpr: String) =
      s"""${duckMd560(s"CAST($vecId AS VARCHAR)")}
         |      < ((CAST(1 AS BIGINT) << 60) // greatest($n, 1)) * ($mExpr)""".stripMargin
    knobs.evalQueries match {
      case Some(m) =>
        s""" AND ($m >= $n
           |   OR ${thr(s"least(CAST($m AS BIGINT), greatest($n, 1))")})""".stripMargin
      case None =>
        val cap = knobs.exactBaselineMaxRows
        val capSq = BigInt(cap) * BigInt(cap)
        // the same least(·, n) clamp: when the n <= cap disjunct already
        // admits the row, cap²//n >= n and the unclamped multiplier
        // overflows BIGINT if DuckDB evaluates the dead arithmetic arm
        s""" AND ($n <= $cap
           |   OR ${thr(s"least(greatest(CAST(1 AS BIGINT), $capSq // greatest($n, 1)), greatest($n, 1))")})""".stripMargin
    }
  }

  /** The query SIDE of an eval pair join as a DuckDB table expression: a
    * derived table filtering `src` by the sample predicate BEFORE the
    * join (since the r17 auto-slice policy the predicate always exists;
    * it folds to TRUE when [[effectiveEvalM]] is the identity). The
    * predicate must never sit in the pair join's ON/WHERE: its scalar
    * COUNT subqueries and the 15-step md560 Horner chain would then
    * evaluate once per CANDIDATE PAIR (n·m evaluations) instead of once
    * per row — the sf1 gate measured the ON-clause form stalling p68b's
    * oracle for hours while the WHERE-over-a-scan form ([[duckEvalAnd]]
    * in the probes CTEs) stayed fast. */
  private def duckEvalFrom(src: String, alias: String)(implicit knobs: Knobs): String =
    s"(SELECT * FROM $src WHERE TRUE${duckEvalAnd("vec_id")}) $alias"

  /** Per-dir embedding count for [[evalTag]] — the tag is consulted on
    * every staged-truth load, and the count behind it is immutable per
    * corpus dir, so one aggregate-pushdown parquet read per (JVM, dir). */
  private val embCountByDir =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def embCount(s: SparkSession, dir: String): Long =
    embCountByDir.computeIfAbsent(dir, d => emb(s, d).count())

  /** Per-dir document count, same memo discipline as [[embCount]] (r17):
    * immutable per corpus dir, consulted by every shingle consumer and
    * the LR/readability fronts — one aggregate-pushdown read per
    * (JVM, dir) instead of a driver-serialized job per query.
    *
    * ASSUMPTION (shared by embCount, CellStage.count and every staged
    * artifact): a corpus dir's contents are never regenerated in place
    * within one JVM — a deployment that rewrites a dir must use a new
    * path (the copy-on-write discipline UPDATE/DELETE already follow),
    * or these memos and the staged tables keyed on the dir go stale
    * together (r18, ADVICE). */
  private val docsCountByDir =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def docsCount(s: SparkSession, dir: String): Long =
    docsCountByDir.computeIfAbsent(dir, d => docs(s, d).count())

  /** Staging tag for eval-sampled artifacts: the EFFECTIVE sample size
    * (explicit dial or auto-derived slice) is a fit dial for the truth
    * tables, so it is part of the staging key (the p91 lesson — see
    * DialCacheAuditSpec); an auto-derived m re-keys exactly like an
    * explicit one. Identity resolutions (unset at n <= cap, or an
    * explicit m >= n) keep the bare tag, so full-corpus runs reuse
    * previously staged truths instead of duplicating them under
    * `-e<m>`. */
  private def evalTag(s: SparkSession, dir: String, base: String)(implicit knobs: Knobs): String =
    effectiveEvalM(embCount(s, dir)).map(m => s"$base-e$m").getOrElse(base)

  private def guardExactBaseline(s: SparkSession, dir: String,
      name: String, scalePath: String)(implicit knobs: Knobs): Unit = {
    val n = embCount(s, dir)
    // cost model: q*n pair evaluations, q = the eval-query sample size
    // (= n unsampled, where the test reduces to the original n > cap).
    // Sampled, a corpus of any size passes with m <= cap^2 / n — the
    // dial (or the auto-derived slice, which picks exactly m = cap^2/n)
    // is what makes the truth build legal at scale.
    val q = effectiveEvalM(n).getOrElse(n)
    val cap = knobs.exactBaselineMaxRows.toDouble
    if (q.toDouble * n.toDouble > cap * cap)
      throw new IllegalStateException(
        s"$name is an exact all-pairs baseline and was refused at $n rows " +
          s"(eval queries $q, limit ${knobs.exactBaselineMaxRows}); use $scalePath " +
          "at this scale, or sample the validation slice with -Dgraft.evalQueries")
  }

  /** IVF cell count: `-Dgraft.ivfCells` wins; default grows with the
    * corpus as max(16, ceil(sqrt(n))) — the standard IVF sizing rule, so
    * per-cell population n/k shrinks as sqrt(n) instead of growing
    * linearly the way any fixed-k quantizer's would. sqrt and ceil are
    * correctly-rounded IEEE ops, so the JVM and DuckDB compute the
    * identical k from the identical n. */
  private[graft] def ivfK(n: Long)(implicit knobs: Knobs): Int =
    knobs.ivfCells.getOrElse(math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** A pinned count dial as it appears in staging keys. */
  private def auto(v: Option[Int]): String = v.fold("auto")(_.toString)

  /** The fitted coarse quantizer shared by p16 (IVF ANN), p32 (SemDeDup)
    * and p34 (hard negatives), staged once per input dir like the shingle
    * front: a deterministic k-means over the embedding corpus.
    *
    *  - k = [[ivfK]](n): grows with the corpus (the r6 verdict's one real
    *    scale-killer was a label-derived cell count that could not).
    *  - Seeds: the k vectors with the smallest md5(vec_id) — a stratified
    *    deterministic sample (md5 scatters ids uniformly), selected via
    *    orderBy+limit = TakeOrderedAndProject, never a global sort.
    *  - `knobs.kmeansIters` rounds of assign (zero-shuffle broadcast top-1,
    *    see [[nearestCells]]) + decimal-exact mean recompute (the p07
    *    trick), so the DuckDB oracle reproduces the fitted centroids
    *    bit-for-bit and every consumer stays hash-matched.
    *
    * Staged as parquet (tag `cl`): the three consumers and the bench's
    * p00c line read the fitted index instead of re-fitting it — at 100 TB
    * re-fitting per query would triple the family's dominant cost. */
  private[graft] object CellStage {
    private[graft] def tag(implicit knobs: Knobs): String = {
      // the fitted index depends on the index knobs, not just the
      // corpus: bake them into the staging key so two runs sharing one
      // staging root with different k / iteration / sample settings can
      // never silently read each other's index
      val params = s"${auto(knobs.ivfCells)}" +
        s"-${knobs.kmeansIters}-${knobs.kmeansFitPoints}"
      val ph = java.security.MessageDigest.getInstance("MD5")
        .digest(params.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s"cl$ph"
    }
    def load(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame =
      ShingleStage.stage(s, dir, tag)(buildKmeansCells(s, dir))

    /** The fitted index's cell count, memoized per (staging key, dir):
      * every two-level consumer (nearestCellsStaged — most ANN queries
      * call it 1-3×) re-counted the staged table, a ~100 ms driver-
      * serialized job per call that can never change for an immutable
      * staged artifact (r17; the [[embCount]] discipline). */
    private val cnt = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    def count(s: SparkSession, dir: String)(implicit knobs: Knobs): Long =
      cnt.computeIfAbsent(s"$tag|${new java.io.File(dir).getCanonicalPath}",
        _ => load(s, dir).count())
  }

  /** Fit-sample size: the k-means iterations train on at most
    * max(p·k, 64·p) vectors, p = points-per-centroid (the FAISS-style
    * training rule; default 256, `-Dgraft.kmeansFitPoints` — a JVM-start
    * knob like the others, since the oracle SQL interpolates it at
    * init). Below that corpus size the full corpus trains (so nothing
    * changes at validation scale); above it, fitting costs k·m per round
    * instead of k·n — at n = 1e9, k ≈ 32k that is a 123× cheaper fit,
    * and the quantizer a sample that size trains is statistically the
    * same index. Selection is a per-row hash-threshold filter
    * (md560(vec_id) < (2⁶⁰ div n)·m) — fully parallel, no global sort,
    * and integer-exact in both engines. */

  private[graft] def kmeansFitSample(n: Long, k: Int)(implicit knobs: Knobs): Long = {
    val p = knobs.kmeansFitPoints
    math.min(n, math.max(p * k, 64L * p))
  }

  /** The k-means assign/recompute loop shared by the corpus fit
    * (buildKmeansCells) and the super-centroid fit over the fitted cells
    * (buildSuperCells). `fit` carries any id column + `embedding`; `seed`
    * is the initial (cell, cv) index; the result is the converged index
    * in the same shape. Means are decimal-exact (the p07 trick) so the
    * DuckDB oracle reproduces every round bit-for-bit. */
  private def kmeansRounds(fit: DataFrame, seed: DataFrame, iters: Int)(
      implicit knobs: Knobs): DataFrame = {
    var cent = seed
    for (i <- 1 to iters) {
      val assigned = nearestCells(fit, cent, 1)
      val next = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg((sum(col("v").cast(org.apache.spark.sql.types.DecimalType(16, 8)))
          .cast("double") / count(lit(1))).as("c"))
        .groupBy(col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> CAST(x.c AS FLOAT))")
          .as("cv"))
      // r17: rounds chain LAZILY — each round is a straight groupBy→
      // broadcast pipeline over a k-row state, so a ≤4-deep nested plan
      // analyzes in milliseconds and the whole fit runs as ONE action
      // instead of an eager localCheckpoint job per round (the eager
      // form cost ~2-3 driver-serialized jobs/round; p00c read 5.3 s
      // wall vs 2.6 executor-s at sf0.1). Beyond every 4th round a
      // fire-and-forget barrier still caps plan depth for large-iters
      // dials (state is k rows — a few hundred KB at any fitted k).
      cent = if (i < iters && i % 4 == 0) Materialize(next, "km") else next
    }
    cent
  }

  private def buildKmeansCells(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame = {
    val e = emb(s, dir)
    val n = embCount(s, dir)
    val k = ivfK(n)
    val m = kmeansFitSample(n, k)
    val fit =
      if (m >= n) e.select(col("vec_id"), col("embedding"))
      else e.select(col("vec_id"), col("embedding"))
        .filter(md560(col("vec_id").cast("string")) < lit((1L << 60) / n * m))
    val seed = e.select(col("vec_id").as("cell"), col("embedding").as("cv"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(k)
    kmeansRounds(fit, seed, knobs.kmeansIters)
  }

  /** Super-cell count over a fitted index of `k` cells: max(2, ceil(
    * sqrt(k))) by default (`-Dgraft.ivfSuperCells` pins it) — the
    * FAISS-style two-level rule. With k = sqrt(n) cells grouped under
    * sqrt(k) super-cells, per-vector assignment scores ~sqrt(k) super-
    * centroids plus the members of the probed super-cells (~sqrt(k)
    * each) instead of all k — at n = 1e9, k ≈ 32k that cuts the
    * dominant cost of p16/p32/p34 ~8-90x depending on probe width. */
  private[graft] def superKFor(k: Long)(implicit knobs: Knobs): Int =
    knobs.ivfSuperCells.getOrElse(math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt))

  /** Coarse probe width: how many super-cells each vector descends into.
    *
    * Small-k flat-probe rule: when k ≤ 25, probe ALL super-cells — the
    * descent then ranks every cell (each cell is in exactly one member
    * list), i.e. it IS flat assignment, recovering the flat index's full
    * recall (measured: two-level floors 2/3/4 cost 3.6/1.0/0.4 pt of
    * recall@5 at nprobe=3, k=23) while STILL satisfying the 6·sqrt(k)
    * scored-cell bound by arithmetic: scored = k + ks ≤ 5·sqrt(k) +
    * sqrt(k) exactly when k ≤ 25. The coarse layer only throttles once
    * throttling fits the budget.
    *
    * Above 25: sized so the EXPECTED candidate-cell count (sprobe * k/ks)
    * is at least twice the fine probe width the consumer needs —
    * integer-exact ceil-div, floor 3 (floor 2 measured 3.6 pt of recall@5
    * below the flat index), capped at ks — so both engines compute the
    * same width from the same counts. */
  private[graft] def superProbe(ks: Int, k: Long, nprobe: Int): Int =
    if (k <= 25) ks
    else math.max(3, math.min(ks, ((2L * nprobe * ks + k - 1) / k).toInt))

  /** The two-level index over CellStage as ONE ready row, staged once
    * per input dir like the index itself: `sidx`, the fitted
    * super-centroids as (scell, scv) structs, and `midx`, every
    * super-cell's member (cell, cv) list keyed by scell (each cell sits
    * under its nearest super-centroid, assigned once at build time). Both
    * are fit over the k centroids, not the corpus. Consumers read the row
    * as constants ([[indexConsts]]): no query re-aggregates or
    * re-broadcasts the index. The tag is versioned like [[PairStage]]'s,
    * so a shared staging root never serves an older layout. */
  private[graft] object SuperStage {
    def load(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame = {
      val params = s"${auto(knobs.ivfCells)}" +
        s"-${knobs.kmeansIters}-${knobs.kmeansFitPoints}" +
        s"-${auto(knobs.ivfSuperCells)}"
      val ph = java.security.MessageDigest.getInstance("MD5")
        .digest(params.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      ShingleStage.stage(s, dir, s"sy2$ph") {
        // the super fit feeds both columns — materialize its k rows once
        // so the row does not run the fit twice
        val sc = Materialize(buildSuperCells(s, dir), "sx")
        val sidx = sc.groupBy()
          .agg(collect_list(struct(col("scell"), col("scv"))).as("sidx"))
        val midx = CellStage.load(s, dir).join(buildCellMap(s, dir, sc), "cell")
          .groupBy(col("scell"))
          .agg(collect_list(struct(col("cell"), col("cv"))).as("members"))
          .groupBy()
          .agg(map_from_entries(collect_list(struct(col("scell"), col("members"))))
            .as("midx"))
        sidx.crossJoin(midx)
      }
    }
  }

  /** Fit sqrt(k) super-centroids over the k fitted cell centroids — the
    * same deterministic machinery as the corpus fit (md5-ordered seeds,
    * [[kmeansRounds]]), with the CELLS as the training points. */
  private def buildSuperCells(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame = {
    val cells = CellStage.load(s, dir)
    val ks = superKFor(CellStage.count(s, dir))
    val fit = cells.select(col("cell").as("cid0"), col("cv").as("embedding"))
    val seed = cells.select(col("cell"), col("cv"))
      .orderBy(md5(col("cell").cast("string")), col("cell"))
      .limit(ks)
    kmeansRounds(fit, seed, knobs.kmeansIters)
      .select(col("cell").as("scell"), col("cv").as("scv"))
  }

  /** Each cell's nearest super-centroid, assigned ONCE at index-build
    * time (k rows) — per-vector assignment then only consults this map.
    * (A 2-nearest variant was measured and rejected: it lifts recall@5
    * only 0.424→0.449 at nprobe=3 while doubling every probed super's
    * member list — the small-k flat-probe rule in [[superProbe]] buys
    * the full flat recall instead, inside the same scored-cell bound.) */
  private def buildCellMap(s: SparkSession, dir: String,
      supers: DataFrame)(implicit knobs: Knobs): DataFrame =
    nearestCells(
      CellStage.load(s, dir).select(col("cell").as("mcell"), col("cv").as("embedding")),
      supers.select(col("scell").as("cell"), col("scv").as("cv")), 1)
      .select(col("mcell").as("cell"), col("cell").as("scell"))

  // ====================================================================
  //  Product quantization (PQ): per-subspace codebooks, corpus codes,
  //  ADC-scored IVF-PQ ANN. The memory lever the similarity family was
  //  missing at 100 TB: a d-dim float vector (4d bytes) compresses to M
  //  small codes (M bytes at k' <= 256), so the candidate-scoring side
  //  of ANN reads codes + a per-query lookup table instead of re-reading
  //  full embeddings. Jegou et al., "Product Quantization for Nearest
  //  Neighbor Search" (TPAMI 2011) — public provenance.
  // ====================================================================

  /** (sub, sv) generator: the M subvectors of `embedding`, dim/M floats
    * each, sliced by expression (no driver-side dim probe — the plan
    * works for any dim). */
  private def pqSubvecsCol(implicit knobs: Knobs) =
    posexplode(expr(
      s"""transform(sequence(0, ${knobs.pqM - 1}),
            m -> slice(embedding, m * (size(embedding) div ${knobs.pqM}) + 1,
                       size(embedding) div ${knobs.pqM}))"""))

  /** For every row of `e` (any cols + `sub` + `sv`), the nearest
    * codebook centroid OF THAT SUBSPACE by squared L2 — the zero-shuffle
    * broadcast argmin shape of [[nearestCells]]: the whole codebook
    * (M·k' rows) collapses to ONE broadcast row and each input row
    * filters it to its own subspace. Adds (cell, d). */
  private def nearestPqCell(e: DataFrame, cb: DataFrame): DataFrame = {
    // fixed element layout for the fused kernel: (sub INT, cell BIGINT,
    // cv) — the codes path passes the dense code (INT) as `cell`, the
    // fit path the seed vec_id (BIGINT); the widening cast is order-
    // preserving so tie-breaks are unchanged
    val idx = cb.groupBy()
      .agg(collect_list(struct(col("sub").cast("int").as("sub"),
        col("cell").cast("long").as("cell"), col("cv"))).as("pidx"))
    val keep = e.columns.map(col).toSeq
    // fused argmin kernel (r17): one JVM loop over the codebook row per
    // (row, subspace) — no per-element lambda, no per-comparison
    // comparator machinery; arithmetic and ordering pinned in
    // [[graft.functions.NearestSubCell]].
    e.crossJoin(broadcast(idx))
      .select(keep :+ expr("nearest_sub_cell(sv, pidx, sub)").as("pc"): _*)
      .select(keep ++ Seq(col("pc.cell").as("cell"), col("pc.d").as("d")): _*)
  }

  /** Fit the M per-subspace codebooks in ONE chain (`sub` is a column,
    * not a loop): the same deterministic recipe as [[buildKmeansCells]]
    * — md5-ordered seed sample, `knobs.kmeansIters` rounds of zero-shuffle
    * broadcast argmin + decimal-exact mean recompute — per subspace,
    * under L2. Codes are densely renumbered 0..k'-1 per subspace (stable
    * ROW_NUMBER over the surviving centroids' seed ids) so a code fits
    * one byte regardless of which seeds survived. `src` carries
    * (vec_id, embedding) — the raw corpus for p41, the per-vector cell
    * RESIDUALS for p45. */
  private def buildPqCodebookFrom(s: SparkSession, src: DataFrame)(
      implicit knobs: Knobs): DataFrame = {
    val n = src.count()
    val m = kmeansFitSample(n, knobs.pqK)
    val fitRows =
      if (m >= n) src.select(col("vec_id"), col("embedding"))
      else src.select(col("vec_id"), col("embedding"))
        .filter(md560(col("vec_id").cast("string")) < lit((1L << 60) / n * m))
    // slice once and pin: each round re-evaluates `fit`, and without the
    // checkpoint that re-runs the explode+slice per round; repartition
    // spreads the bounded sample across the executor width (the filtered
    // parquet scan otherwise yields 1-2 partitions and the 4 assign
    // rounds run nearly serial). Neither changes any arithmetic.
    // Fire-and-forget materialization (r17): the rounds are lazy now, so
    // the sample's blocks must outlive this function — they are consumed
    // by the caller's staging write and reclaimed by the session's next
    // cache clear / JVM exit (the documented Materialize.apply contract;
    // the sample is dial-bounded, ~MBs at any corpus size).
    val fit = Materialize(
      fitRows.select(col("vec_id"), pqSubvecsCol.as(Seq("sub", "sv")))
        .repartition(s.sparkContext.defaultParallelism), "pqfit")
    var cent = src.select(col("vec_id"), col("embedding"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(knobs.pqK)
      .select(col("vec_id").as("cell"), pqSubvecsCol.as(Seq("sub", "cv")))
      .select(col("sub"), col("cell"), col("cv"))
    for (_ <- 1 to knobs.kmeansIters) {
      val assigned = nearestPqCell(fit, cent)
      // eager Materialize per round: measured FASTER than lazy chaining
      // here (unlike kmeansRounds) — the M-subspace state makes each
      // round's exchanges wide enough that AQE's per-stage scheduling of
      // the nested chain costs more than the per-round checkpoint jobs
      cent = Materialize(assigned
        .select(col("sub"), col("cell"), posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy(col("sub"), col("cell"), col("pos"))
        .agg((sum(col("v").cast(org.apache.spark.sql.types.DecimalType(16, 8)))
          .cast("double") / count(lit(1))).as("c"))
        .groupBy(col("sub"), col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> CAST(x.c AS FLOAT))")
          .as("cv")), "pq")
    }
    cent.withColumn("code",
      (row_number().over(Window.partitionBy(col("sub")).orderBy(col("cell"))) - 1)
        .cast("int"))
      .select(col("sub"), col("code"), col("cell"), col("cv"))
  }

  /** SQL for each row's M PQ codes (ARRAY<INT>) against the flat
    * codebook constant `pidx` ([[codebookConsts]]): per subspace the
    * argmin sub-centroid by squared L2, the same kernel and arguments as
    * the fit's own assignment ([[nearestPqCell]]) — a pure map over the
    * scan, zero shuffle. Tie-break is on the code, which is monotone in
    * the seed id per subspace, so it equals the fit's seed-id tie-break. */
  private def pqCodesSql(pidx: String)(implicit knobs: Knobs): String = {
    val dsub = s"(size(embedding) div ${knobs.pqM})"
    s"""transform(sequence(0, ${knobs.pqM - 1}), mm ->
          CAST(nearest_sub_cell(slice(embedding, mm * $dsub + 1, $dsub), $pidx, mm).cell
          AS INT))"""
  }

  /** Σ_m `t`[m][codes[m]] as SQL: a per-code BIGINT table summed over a
    * row's codes (exact in any order). */
  private def codeSumSql(t: String)(implicit knobs: Knobs): String =
    s"aggregate(sequence(0, ${knobs.pqM - 1}), CAST(0 AS BIGINT), (acc, mm) -> acc + $t[mm][codes[mm]])"

  /** Per-vector cell residual (embedding − assigned cell centroid), the
    * residual-PQ training/encode source, with the cell and its centroid
    * `ccv`. Assignment is the kTop=1 two-level descent (the p32
    * contract); the subtraction happens in DOUBLE (exact for float32
    * inputs) and rounds back to FLOAT — both correctly-rounded IEEE ops,
    * so the oracle reproduces the residual bit-for-bit. NEVER staged: the
    * residual table is corpus-sized. */
  private def residuals(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame = {
    val assigned = nearestCellsStaged(s, dir,
      emb(s, dir).select(col("vec_id"), col("embedding")), 1)
      .filter(col("crank") === 1)
    assigned.join(broadcast(CellStage.load(s, dir)), "cell")
      .select(col("vec_id"), col("cell"), col("cv").as("ccv"), expr(
        """zip_with(embedding, cv,
             (x, y) -> CAST(CAST(x AS DOUBLE) - CAST(y AS DOUBLE) AS FLOAT))""")
        .as("embedding"))
  }

  private def pqParamsHash(extra: String = "")(implicit knobs: Knobs): String = {
    val params = s"${knobs.pqM}-${knobs.pqK}-${knobs.kmeansIters}-${knobs.kmeansFitPoints}$extra"
    java.security.MessageDigest.getInstance("MD5")
      .digest(params.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
  }
  /** The residual stages' staging key also covers the IVF index knobs:
    * residuals are defined AGAINST the fitted cells. */
  private def pqResidualParams(implicit knobs: Knobs): String =
    s"-${auto(knobs.ivfCells)}" +
      s"-${auto(knobs.ivfSuperCells)}"

  /** The fitted PQ codebook (sub, code, cell, cv), staged once per input
    * dir like CellStage — knobs baked into the staging key. */
  private[graft] object PqStage {
    def load(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame =
      ShingleStage.stage(s, dir, s"pq${pqParamsHash()}")(
        buildPqCodebookFrom(s, emb(s, dir).select(col("vec_id"), col("embedding"))))
  }

  /** The IVF-PQ inverted lists (IVFADC, Jegou et al. 2011), staged once:
    * one row per corpus vector, (vec_id, cell, codes, r_s) — its list
    * (the crank-1 cell of the two-level descent at the ADC probe width,
    * the assignment the query side's probes rank against; NULL when all
    * its probed super-cells are empty), its M PQ codes and r_s = Σ_m
    * floor(|c_m|²·10⁸+0.5) over its codes' centroids, the integer-scaled
    * squared norm of its reconstruction. The compressed vector store every
    * ADC consumer reads: M bytes + 12 per vector instead of 4·d. The key
    * covers the PQ knobs and each IVF knob the cell depends on; the tag
    * is versioned like [[PairStage]]'s. */
  private[graft] object PqCodesStage {
    def load(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame =
      ShingleStage.stage(s, dir,
          s"pv2${pqParamsHash(s"$pqResidualParams-${auto(knobs.ivfNprobe)}")}") {
        val nprobe = ivfNprobe(ivfK(embCount(s, dir)))
        val cb = codebookConsts(s, PqStage.load(s, dir))
        emb(s, dir).select(col("vec_id"), col("embedding"))
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("vec_id"),
            expr(s"try_element_at(${nearestCellsSql(s, dir, 1, nprobe)}, 1).cell")
              .as("cell"),
            expr(pqCodesSql(cb("pidx"))).as("codes"))
          .select(col("vec_id"), col("cell"), col("codes"),
            expr(codeSumSql(cb("cn"))).as("r_s"))
      }
  }

  /** The RESIDUAL codebook (p45): same fit machinery, training points =
    * per-vector cell residuals. Residuals are far smaller than raw
    * vectors (the cell centroid already explains most of the energy),
    * so the same M×k' budget quantizes them much more faithfully — the
    * classical IVF-PQ design (Jegou et al. 2011, §IV). */
  private[graft] object PqResidualStage {
    def load(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame =
      ShingleStage.stage(s, dir, s"rq${pqParamsHash(pqResidualParams)}")(
        // materialize the residual frame ONCE for the fit (r17): the
        // codebook build consumes its source three times (count for the
        // sample size, the hash-sliced fit rows, the md5-ordered seeds),
        // and each lazy evaluation re-runs the full two-level assignment
        // over the corpus. One eager pass, three cheap reads; values
        // unchanged (plan shape only). Blocks are reclaimed at the next
        // cache clear — the build runs once per (JVM, corpus).
        buildPqCodebookFrom(s, Materialize(
          residuals(s, dir).select(col("vec_id"), col("embedding")), "resid")))
  }

  /** The residual inverted lists (p45b-p47), staged once: (vec_id, cell,
    * codes, r_s) like [[PqCodesStage]], against the residual codebook.
    * The cell is the kTop=1 assignment the residual was taken against
    * (so the code's reference centroid is always the list's own cell),
    * and r_s = (|c|² + 2·Σ_m c_m·r̂_m) + Σ_m |r̂_m|² = |c + r̂|², each
    * term a floor(·10⁸+0.5) BIGINT: the reconstruction's squared norm,
    * exact in integers. Vectors without a cell have no residual and no
    * row. The tag is versioned like [[PairStage]]'s. */
  private[graft] object PqResidualCodesStage {
    def load(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame =
      ShingleStage.stage(s, dir, s"rv2${pqParamsHash(pqResidualParams)}") {
        val rcb = codebookConsts(s, PqResidualStage.load(s, dir))
        val m = knobs.pqM
        val cr = s"""CAST(floor(dot_product(
            slice(ccv, mm * (size(ccv) div $m) + 1, size(ccv) div $m), ${rcb("cb")}[mm][codes[mm]])
            * 100000000.0 + 0.5) AS BIGINT)"""
        residuals(s, dir)
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("vec_id"), col("cell"), col("ccv"),
            expr(pqCodesSql(rcb("pidx"))).as("codes"))
          .select(col("vec_id"), col("cell"), col("codes"), expr(
            s"""(CAST(floor(dot_product(ccv, ccv) * 100000000.0 + 0.5) AS BIGINT)
                  + 2 * aggregate(sequence(0, ${m - 1}), CAST(0 AS BIGINT), (acc, mm) -> acc + $cr))
                + ${codeSumSql(rcb("cn"))}""").as("r_s"))
      }
  }

  /** A staged codebook (sub, code, cell, cv) as SQL constants: `cb`,
    * cb[m][c] = the centroid of code c in subspace m (codes are dense
    * 0..k'−1 per subspace, so the position IS the code); `cn`, cn[m][c] =
    * floor(|cb[m][c]|²·10⁸+0.5); and `pidx`, the flat (sub, cell = code,
    * cv) struct array [[graft.functions.NearestSubCell]] reads. */
  private def codebookConsts(s: SparkSession, cb: DataFrame): Map[String, String] =
    stagedConsts(s, cb, "cb") {
      _.groupBy(col("sub"))
        .agg(sort_array(collect_list(struct(col("code"), col("cv")))).as("byCode"))
        .agg(sort_array(collect_list(struct(col("sub"), col("byCode")))).as("bySub"))
        .select(expr("transform(bySub, x -> transform(x.byCode, y -> y.cv))").as("cb"))
        .select(col("cb"),
          expr("""transform(cb, r -> transform(r, cv ->
                    CAST(floor(dot_product(cv, cv) * 100000000.0 + 0.5) AS BIGINT)))""")
            .as("cn"),
          expr("""flatten(transform(cb, (r, mm) -> transform(r, (cv, c) ->
                    named_struct('sub', mm, 'cell', CAST(c AS BIGINT), 'cv', cv))))""")
            .as("pidx"))
    }

  /** The fitted cells as SQL constants: `idx`, the flat index as
    * (cell, cv) structs, and `cvs`, cell -> centroid. */
  private def cellConsts(s: SparkSession, dir: String)(implicit knobs: Knobs): Map[String, String] =
    stagedConsts(s, CellStage.load(s, dir), "cells") {
      _.agg(collect_list(struct(col("cell"), col("cv"))).as("idx"))
        .select(col("idx"), map_from_entries(col("idx")).as("cvs"))
    }

  /** The one row `shape` derives from the staged table `staged`, as SQL
    * constants by column name ([[graft.functions.StagedConstant]]):
    * collected once per (SparkContext, staged files, view). */
  private def stagedConsts(s: SparkSession, staged: DataFrame, view: String)(
      shape: DataFrame => DataFrame): Map[String, String] =
    graft.functions.StagedConstant.of(s.sparkContext,
      staged.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getParent.toString)
        .distinct.sorted.mkString(",") + s"#$view")(shape(staged))

  /** Stateless per-row projections for STREAMING semantic dedup: assign
    * the row's embedding to its nearest fitted cell (the flat index as
    * one constant) and compress it to the M PQ codes (the codebook as
    * one constant) in the same pass — no shuffle, no join, no streaming
    * state, safe on a streaming DataFrame. The code arithmetic is the
    * exact batch p41b argmin ([[pqCodesSql]]), so in-stream codes equal
    * the staged codes for the same vector — the parity spec proves it. */
  private[graft] def streamSemanticPrep(s: SparkSession, dir: String,
      docs: DataFrame)(implicit knobs: Knobs): DataFrame = {
    val cells = cellConsts(s, dir)
    val cb = codebookConsts(s, PqStage.load(s, dir))
    docs
      .withColumn("cell", expr(s"element_at(top_cells(embedding, ${cells("idx")}, 1), 1).cell"))
      .withColumn("codes", expr(pqCodesSql(cb("pidx"))))
  }

  /** Append per-row PQ squared reconstruction error (`sse`, double) —
    * p44's fidelity measure as a reusable zero-shuffle transform: the
    * codebook is one constant and the error a single expression over the
    * input (works on batch AND streaming frames, like
    * [[streamSemanticPrep]]); each subspace's argmin distance rounds to
    * an integer-scaled BIGINT before the sum, so evaluation order cannot
    * perturb it. The streaming index-staleness monitor is built on this. */
  private[graft] def withPqSse(s: SparkSession, dir: String,
      df: DataFrame)(implicit knobs: Knobs): DataFrame = {
    val cb = codebookConsts(s, PqStage.load(s, dir))
    val m = knobs.pqM
    val dsub = s"(size(embedding) div $m)"
    // fused argmin kernel (r18) — arithmetic and ordering pinned in
    // [[graft.functions.NearestSubCell]]
    df.withColumn("sse", expr(
      s"""CAST(aggregate(
            transform(sequence(0, ${m - 1}), mm ->
              nearest_sub_cell(
                slice(embedding, mm * $dsub + 1, $dsub), ${cb("pidx")}, mm).d),
            CAST(0 AS BIGINT),
            (acc, dd) -> acc + CAST(floor(dd * 100000000.0 + 0.5) AS BIGINT))
          AS DOUBLE) / 100000000.0"""))
  }

  /** The fitted corpus's mean PQ reconstruction error — the baseline the
    * streaming drift monitor compares arriving vectors against. One batch
    * aggregate over the corpus the index was fitted on; deterministic
    * (integer-scaled per-row errors, exact decimal mean). */
  private[graft] def pqSseBaseline(s: SparkSession, dir: String)(implicit knobs: Knobs): Double = {
    val row = withPqSse(s, dir, emb(s, dir).select(col("embedding")))
      .agg(avg(col("sse"))).collect()(0)
    if (row.isNullAt(0)) 0.0 else row.getDouble(0) // empty corpus -> 0
  }

  /** Symmetric-distance tables for code-to-code scoring, collected once
    * from the staged codebook (M·k'² doubles — ~2 KB at the defaults):
    * per-subspace centroid-pair dots and centroid self-norms. With
    * these, approximate cosine between two CODE vectors needs no float
    * vectors at all — the streaming dedup's whole state stays M bytes
    * per row. */
  private[graft] def pqSdcTables(s: SparkSession, dir: String)(implicit knobs: Knobs)
      : (Int, Map[(Int, Int, Int), Double], Map[(Int, Int), Double]) = {
    val rows = PqStage.load(s, dir)
      .select(col("sub"), col("code"), col("cv")).collect()
    val vecs = rows.map(r => ((r.getInt(0), r.getInt(1)),
      r.getSeq[Float](2).toArray)).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var x = 0.0; var i = 0
      while (i < a.length) { x += a(i).toDouble * b(i).toDouble; i += 1 }
      x
    }
    val dots = for (((sa, ca), va) <- vecs; ((sb, cbc), vb) <- vecs if sa == sb)
      yield ((sa, ca, cbc), dot(va, vb))
    val norms = vecs.map { case ((sub, code), v) => ((sub, code), dot(v, v)) }
    (knobs.pqM, dots.toMap, norms)
  }

  /** One IVF-PQ ADC pass over inverted lists (IVFADC, Jegou et al.
    * 2011): p42/p43 over [[PqCodesStage]], p46/p47 over
    * [[PqResidualCodesStage]]. One projection over the eval-sampled
    * queries computes each query's nprobe probe cells (the two-level
    * descent at p16's probe width), its M×k' lookup table lut[m][c] =
    * floor(q_m·cb[m][c]·10⁸+0.5) against the codebook constant, and its
    * norm; only the probe rows are exploded, they join the lists on
    * `cell`, and the join's own stage sums each candidate's M lookups
    * ([[graft.functions.AdcSum]]). The LUT rides the probe rows and dies
    * in that stage: no exchange carries an embedding, and the corpus side
    * is a scan of the staged lists.
    *
    * Residual lists reconstruct x̂ = c + r̂ around the list's cell c, so
    * each probe row also carries qc_s = floor(q·c·10⁸+0.5):
    * cos(q, x̂) = (q·c + Σ_m q_m·r̂_m) / (|q|·|x̂|), |x̂|² being the
    * lists' r_s. Every dot is a BIGINT, so the sums are exact in any
    * order and the one float expression per candidate is the only
    * rounding. Output: (qid, cid, ascore). */
  private def adcScored(s: SparkSession, dir: String, codebook: DataFrame,
      lists: DataFrame, residual: Boolean)(implicit knobs: Knobs): DataFrame = {
    val n = embCount(s, dir)
    val nprobe = ivfNprobe(ivfK(n))
    val cb = codebookConsts(s, codebook)
    val dsub = s"(size(embedding) div ${knobs.pqM})"
    val qc =
      if (residual) {
        val cells = cellConsts(s, dir)
        s"""CAST(floor(dot_product(embedding, element_at(${cells("cvs")}, p.cell))
              * 100000000.0 + 0.5) AS BIGINT)"""
      } else "CAST(0 AS BIGINT)"
    // the query side honors the eval sample; the lists never do —
    // membership is a corpus property
    evalSampleFilter(emb(s, dir).select(col("vec_id"), col("embedding")), n)
      .select(col("vec_id").as("qid"),
        expr(s"""transform(${nearestCellsSql(s, dir, nprobe, nprobe)},
                   p -> named_struct('cell', p.cell, 'qc_s', $qc))""").as("probes"),
        expr(s"""transform(${cb("cb")}, (rows, mm) -> transform(rows, cv ->
                   CAST(floor(dot_product(slice(embedding, mm * $dsub + 1, $dsub), cv)
                     * 100000000.0 + 0.5) AS BIGINT)))""").as("lut"),
        expr("dot_product(embedding, embedding)").as("qn"))
      // explode_outer, not explode: for a plain explode of a column Spark
      // infers a size(probes) > 0 filter and pushes it below this
      // projection, running the descent twice per query. A query without
      // probe cells keeps one NULL-cell row, which joins no list.
      .select(col("qid"), explode_outer(col("probes")).as("p"), col("lut"), col("qn"))
      .select(col("qid"), col("p.cell").as("cell"), col("p.qc_s").as("qc_s"),
        col("lut"), col("qn"))
      .join(lists.select(col("vec_id").as("cid"), col("cell"), col("codes"), col("r_s")),
        "cell")
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), expr(
        """CAST(qc_s + adc_sum(lut, codes) AS DOUBLE)
           / (sqrt(qn) * sqrt(CAST(r_s AS DOUBLE) / 100000000.0) * 100000000.0)""")
        .as("ascore"))
  }

  /** p42/p43's scored candidates: raw-vector PQ. */
  private[graft] def adcScored(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame =
    adcScored(s, dir, PqStage.load(s, dir), PqCodesStage.load(s, dir), residual = false)

  /** p46/p47's scored candidates: residual PQ. */
  private[graft] def residualAdcScored(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame =
    adcScored(s, dir, PqResidualStage.load(s, dir), PqResidualCodesStage.load(s, dir),
      residual = true)

  /** Top-5 by ADC score — the shared final ranking of p42/p46. Factored
    * so p35 can rank a PERSISTED scored set: the expensive ADC pass then
    * runs once per family inside the recall measurement instead of once
    * per derived row (top-5 and refine both re-derived it before). */
  private def adcTop5(scored: DataFrame): DataFrame = {
    val rn = Window.partitionBy(col("qid")).orderBy(col("ascore").desc, col("cid"))
    scored
      .withColumn("rank", row_number().over(rn))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("cid").as("neighbor_id"), col("rank"),
        round(col("ascore"), 6).as("ascore_r"))
  }

  /** Shortlist top-C by ADC score, refine with exact cosine over just
    * those C full vectors — p43/p47's shared shape, same factoring
    * rationale as [[adcTop5]]. */
  private def adcRefined(s: SparkSession, dir: String, scored: DataFrame)(
      implicit knobs: Knobs): DataFrame = {
    val e = emb(s, dir)
    val rnA = Window.partitionBy(col("qid")).orderBy(col("ascore").desc, col("cid"))
    val short = scored
      .withColumn("arank", row_number().over(rnA))
      .filter(col("arank") <= knobs.pqRerank)
      .select(col("qid"), col("cid"))
    // both re-joins read the same (vec_id, embedding) frame, so one
    // broadcast of it serves the query and the candidate side
    val ev = e.select(col("vec_id"), col("embedding"))
    val rn = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    short.join(ev.as("q"), col("qid") === col("q.vec_id"))
      .join(ev.as("c"), col("cid") === col("c.vec_id"))
      .withColumn("sim", expr("cosine_sim(q.embedding, c.embedding)"))
      .withColumn("rank", row_number().over(rn))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("cid").as("neighbor_id"), col("rank"),
        round(col("sim"), 6).as("sim_r"))
  }

  /** The staged two-level index row ([[SuperStage]]) as SQL constants
    * `sidx` and `midx`. */
  private def indexConsts(s: SparkSession, dir: String)(implicit knobs: Knobs): Map[String, String] =
    stagedConsts(s, SuperStage.load(s, dir), "index")(identity)

  /** SQL for the per-row candidate-cell array: rank the super index,
    * keep the top `sprobe` super-cells, concatenate their member lists
    * (empty super-cells — possible when no cell chose a super-centroid —
    * contribute nothing, mirroring the oracle's join). */
  private def twoLevelCandidateArr(ix: Map[String, String], sprobe: Int): String =
    s"""flatten(filter(
          transform(
            top_cells(embedding, ${ix("sidx")}, $sprobe),
            ps -> try_element_at(${ix("midx")}, ps.cell)),
          ms -> ms IS NOT NULL))"""

  /** Two-level (coarse -> fine) variant of [[nearestCells]] as SQL over a
    * row's `embedding`: score the ~sqrt(k) super-centroids, descend into
    * the top super-cells, rank ONLY their member cells — per-vector work
    * drops from k to ~sqrt(k) + sprobe * k/ks similarity evaluations. The
    * result is the fused top-k kernel's ARRAY<STRUCT<csim, cell>> of the
    * `kTop` nearest cells; the coarse width ([[superProbe]]) is sized for
    * a consumer that probes `width` cells. A vector whose probed
    * super-cells are all empty gets an empty array, mirrored by the
    * oracle's join (see [[graft.functions.TopCells]]). */
  private def nearestCellsSql(s: SparkSession, dir: String, kTop: Int,
      width: Int)(implicit knobs: Knobs): String = {
    val kAct = CellStage.count(s, dir)
    val sprobe = superProbe(superKFor(kAct), kAct, width)
    s"top_cells(embedding, ${twoLevelCandidateArr(indexConsts(s, dir), sprobe)}, $kTop)"
  }

  /** Diagnostic for the scale bound the two-level descent exists to
    * provide: per vector, how many similarity evaluations assignment
    * costs (the ks super-centroid scores + every candidate member
    * scored) — the number KMeansCellsSpec asserts stays O(sqrt(k))
    * instead of k. */
  private[graft] def twoLevelScoredCounts(s: SparkSession, dir: String,
      kTop: Int)(implicit knobs: Knobs): DataFrame = {
    val kAct = CellStage.count(s, dir)
    val sprobe = superProbe(superKFor(kAct), kAct, kTop)
    val ix = indexConsts(s, dir)
    emb(s, dir).select(col("vec_id"),
      (size(expr(ix("sidx"))) + size(expr(twoLevelCandidateArr(ix, sprobe))))
        .as("n_scored"))
  }

  /** Rank each row of `e` against the staged two-level index: the
    * per-consumer entry point (p16/p32/p34/p35). kTop is the fine probe
    * width the consumer needs; the coarse width follows via
    * [[superProbe]]. Same output contract as [[nearestCells]] (crank
    * 1..kTop, cell, csim). */
  private[graft] def nearestCellsStaged(s: SparkSession, dir: String, e: DataFrame,
      kTop: Int)(implicit knobs: Knobs): DataFrame = {
    val keep = e.columns.map(col).toSeq
    e.select(keep :+ posexplode(expr(nearestCellsSql(s, dir, kTop, kTop)))
        .as(Seq("crank0", "pc")): _*)
      .select(keep ++ Seq((col("crank0") + 1).cast("int").as("crank"),
        col("pc.cell").as("cell"), col("pc.csim").as("csim")): _*)
  }

  /** For every row of `e` (any columns + `embedding`), its `kTop` nearest
    * cells of the fitted index, as extra columns (crank 1..kTop, cell,
    * csim) — computed with ZERO shuffle: the whole index collapses to ONE
    * row (collect_list of k (cell, cv) structs), broadcasts, and the
    * per-row top-k is a bounded sort of a k-element array. The previous
    * shape (explode to n*k rows + row_number window) shuffled n*k rows —
    * with k = sqrt(n) that is an n^1.5 shuffle, the thing that would
    * actually die at 100 TB. */
  private def nearestCells(e: DataFrame, cells: DataFrame, kTop: Int): DataFrame = {
    val idx = cells.groupBy().agg(collect_list(struct(col("cell"), col("cv"))).as("idx"))
    val keep = e.columns.map(col).toSeq
    // the same fused top-k kernel as the two-level descent (r17) — every
    // k-means assign round rides this
    e.crossJoin(broadcast(idx))
      .select(keep :+ posexplode(expr(s"top_cells(embedding, idx, $kTop)"))
        .as(Seq("crank0", "pc")): _*)
      .select(keep ++ Seq((col("crank0") + 1).cast("int").as("crank"),
        col("pc.cell").as("cell"), col("pc.csim").as("csim")): _*)
  }

  /** IVF probe width: how many nearest cells each query scores — the
    * recall/cost dial. Default grows with the index (k/16, floor 3) so
    * recall does not silently collapse as k follows the corpus — at k=23
    * (sf0.01) this is the r6 constant 3; at k=30k (n=1e9) it probes 1875
    * of 30k cells ≈ 6% of the corpus. `-Dgraft.ivfNprobe` (JVM-start,
    * mirrored into the oracle) pins it; the measured recall curve is in
    * SCALE.md. */
  private[graft] def ivfNprobe(k: Int)(implicit knobs: Knobs): Int =
    knobs.ivfNprobe.getOrElse(math.max(3, k / 16))

  /** The same probe width as DuckDB SQL over the kmeans `kk` CTE. */
  private def duckNprobe(implicit knobs: Knobs): String =
    knobs.ivfNprobe.map(_.toString).getOrElse("greatest(3, kk.k // 16)")

  /** The k expression as DuckDB SQL — a literal when `-Dgraft.ivfCells`
    * pins it, else the same max(16, ceil(sqrt(n))) the Spark side uses. */
  private def duckKmeansK(implicit knobs: Knobs): String =
    knobs.ivfCells.map(_.toString).getOrElse(
      "greatest(16, CAST(ceil(sqrt(CAST((SELECT COUNT(*) FROM embeddings) AS DOUBLE))) AS INTEGER))")

  /** The fitted k-means index as a DuckDB CTE chain mirroring
    * [[buildKmeansCells]] round for round; the final CTE is `cells`
    * (cell, cv) — a drop-in for the old per-label centroid CTEs. */
  private def duckKmeansCells(implicit knobs: Knobs): String = {
    val seed =
      s"""kk AS (SELECT $duckKmeansK AS k),
         |  seedr AS (
         |    SELECT vec_id AS cell, embedding AS cv,
         |      ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |    FROM embeddings),
         |  cent0 AS (SELECT cell, cv FROM seedr, kk WHERE rn <= kk.k),
         |  knn AS (SELECT COUNT(*) AS n FROM embeddings),
         |  kmm AS (SELECT least(knn.n,
         |            greatest(CAST(${knobs.kmeansFitPoints} AS BIGINT) * kk.k,
         |                     ${64L * knobs.kmeansFitPoints})) AS m
         |          FROM knn, kk),
         |  kfit AS (
         |    SELECT vec_id, embedding FROM embeddings, knn, kmm
         |    WHERE kmm.m >= knn.n
         |       OR ${duckMd560("CAST(vec_id AS VARCHAR)")}
         |            < ((CAST(1 AS BIGINT) << 60) // greatest(knn.n, 1)) * kmm.m)""".stripMargin
    val iters = (1 to knobs.kmeansIters).map { it =>
      s"""  kscored$it AS (
         |    SELECT e.vec_id, e.embedding, c.cell, ${duckCosine("e.embedding", "c.cv")} AS csim
         |    FROM kfit e CROSS JOIN cent${it - 1} c),
         |  kasg$it AS (
         |    SELECT vec_id, embedding, cell FROM (
         |      SELECT vec_id, embedding, cell,
         |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS crank
         |      FROM kscored$it) WHERE crank = 1),
         |  kcm$it AS (
         |    SELECT cell, CAST(idx - 1 AS INTEGER) AS pos,
         |      CAST(CAST(SUM(CAST(CAST(embedding[idx] AS DOUBLE) AS DECIMAL(16,8))) AS DOUBLE) / COUNT(*) AS FLOAT) AS c
         |    FROM kasg$it, unnest(range(1, len(embedding) + 1)) AS u(idx)
         |    GROUP BY 1, 2),
         |  cent$it AS (SELECT cell, list(c ORDER BY pos) AS cv FROM kcm$it GROUP BY cell)""".stripMargin
    }
    (seed +: iters).mkString(",\n") +
      // MATERIALIZED: the fitted index is referenced by the super layer
      // and every consumer CTE; DuckDB would otherwise inline (re-run)
      // the whole training chain per reference — measured 66x slower
      s",\n  cells AS MATERIALIZED (SELECT cell, cv FROM cent${knobs.kmeansIters})"
  }

  /** The super-cell count as DuckDB SQL over the `ck` CTE (a literal when
    * `-Dgraft.ivfSuperCells` pins it) — mirrors [[superKFor]]. */
  private def duckSuperKs(implicit knobs: Knobs): String =
    knobs.ivfSuperCells.map(_.toString)
      .getOrElse("greatest(2, CAST(ceil(sqrt(CAST(ck.k AS DOUBLE))) AS INTEGER))")

  /** The two-level index layer as DuckDB CTEs over `cells`, mirroring
    * [[buildSuperCells]] (same md5-ordered seeds, same decimal-exact
    * assign/recompute rounds — the training points are the k centroids)
    * and [[buildCellMap]]. Final CTEs: `supercells` (scell, scv) and
    * `cellmap` (cell, scell). */
  private def duckSuperLayer(implicit knobs: Knobs): String = {
    val seed =
      s"""  ck AS (SELECT COUNT(*) AS k FROM cells),
         |  sks AS (SELECT $duckSuperKs AS ks FROM ck),
         |  ssr AS (
         |    SELECT cell, cv,
         |      ROW_NUMBER() OVER (ORDER BY md5(CAST(cell AS VARCHAR)), cell) AS rn
         |    FROM cells),
         |  scent0 AS (SELECT cell AS scell, cv AS scv FROM ssr, sks WHERE rn <= sks.ks)""".stripMargin
    val iters = (1 to knobs.kmeansIters).map { it =>
      s"""  sscored$it AS (
         |    SELECT e.cell, e.cv, c.scell, ${duckCosine("e.cv", "c.scv")} AS csim
         |    FROM cells e CROSS JOIN scent${it - 1} c),
         |  sasg$it AS (
         |    SELECT cell, cv, scell FROM (
         |      SELECT cell, cv, scell,
         |        ROW_NUMBER() OVER (PARTITION BY cell ORDER BY csim DESC, scell) AS crank
         |      FROM sscored$it) WHERE crank = 1),
         |  scm$it AS (
         |    SELECT scell, CAST(idx - 1 AS INTEGER) AS pos,
         |      CAST(CAST(SUM(CAST(CAST(cv[idx] AS DOUBLE) AS DECIMAL(16,8))) AS DOUBLE) / COUNT(*) AS FLOAT) AS c
         |    FROM sasg$it, unnest(range(1, len(cv) + 1)) AS u(idx)
         |    GROUP BY 1, 2),
         |  scent$it AS (SELECT scell, list(c ORDER BY pos) AS scv FROM scm$it GROUP BY scell)""".stripMargin
    }
    val map =
      s"""  supercells AS MATERIALIZED (SELECT scell, scv FROM scent${knobs.kmeansIters}),
         |  cellmap AS MATERIALIZED (
         |    SELECT cell, scell FROM (
         |      SELECT m.cell, s.scell,
         |        ROW_NUMBER() OVER (PARTITION BY m.cell
         |          ORDER BY ${duckCosine("m.cv", "s.scv")} DESC, s.scell) AS r
         |      FROM cells m CROSS JOIN supercells s) WHERE r = 1)""".stripMargin
    (seed +: iters :+ map).mkString(",\n")
  }

  /** [[duckKmeansCells]] plus the two-level layer — the index prefix for
    * every two-level consumer's oracle (p16/p32/p34/p35). */
  private def duckSuperCells(implicit knobs: Knobs): String =
    duckKmeansCells + ",\n" + duckSuperLayer

  /** The per-vector two-level candidate ranking as DuckDB CTEs, mirroring
    * [[nearestCellsSql]]: `<p>sp` (coarse probe width via
    * [[superProbe]]'s integer formula), `<p>ss` (super-centroid ranks),
    * `<p>cand` (member cells of the probed super-cells), `<p>cranked`
    * (fine rank over candidates). `extra` columns ride along (e.g.
    * label); `nprobeSql` is the consumer's fine probe width. */
  private def duckTwoLevel(p: String, src: String, extra: Seq[String],
      nprobeSql: String): String = {
    val exE = extra.map(c => s", e.$c").mkString
    val exQ = extra.map(c => s", q.$c").mkString
    val ex = extra.map(c => s", $c").mkString
    s"""  ${p}sp AS (
       |    SELECT CASE WHEN ck.k <= 25 THEN sks.ks
       |      ELSE greatest(3, least(sks.ks,
       |        (2 * CAST(($nprobeSql) AS BIGINT) * sks.ks + ck.k - 1) // ck.k))
       |      END AS sp
       |    FROM sks, ck, kk),
       |  ${p}ss AS (
       |    SELECT e.vec_id, e.embedding$exE, s.scell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckCosine("e.embedding", "s.scv")} DESC, s.scell) AS srank
       |    FROM $src e CROSS JOIN supercells s),
       |  ${p}cand AS (
       |    SELECT q.vec_id, q.embedding$exQ, c.cell, c.cv
       |    FROM ${p}ss q
       |    JOIN cellmap m ON m.scell = q.scell
       |    JOIN cells c ON c.cell = m.cell
       |    CROSS JOIN ${p}sp
       |    WHERE q.srank <= ${p}sp.sp),
       |  ${p}cranked AS (
       |    SELECT vec_id, embedding$ex, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |        ORDER BY ${duckCosine("embedding", "cv")} DESC, cell) AS crank
       |    FROM ${p}cand)""".stripMargin
  }

  /** Deterministic pseudo-random +-1 hyperplanes for p06's LSH buckets.
    * Shared by the Spark plan (shipped as literal arrays, so bucket
    * computation is codegen'd with no shuffle) AND rendered into the
    * DuckDB oracle SQL as list literals — the seed is an implementation
    * detail, the planes themselves are the contract, so the oracle can
    * hash-match instead of rows-only. */
  private val lshDim = 64
  private[graft] val lshMaxPlanes = 24
  private val lshTargetBucket = 64L
  /** Independent hash tables for the banded OR-construction (p37): one
    * plane family per table, seeded 42+t so table 0 is bit-identical to
    * the single-table p06 family (its contract is frozen). The pool is
    * rendered at its max size; `knobs.lshTables` picks L within it. */
  private[graft] val lshMaxTables = 8
  private val lshPlaneTables: Array[Array[Array[Float]]] =
    Array.tabulate(lshMaxTables) { t =>
      val rnd = new scala.util.Random(42 + t)
      // sequential draws: the first 8 planes of table 0 are bit-identical
      // to the r6 8-plane family, so growing the pool only ADDS buckets
      Array.fill(lshMaxPlanes)(Array.fill(lshDim)(if (rnd.nextBoolean()) 1.0f else -1.0f))
    }

  /** Plane count for a corpus of n vectors — the r6 fix for the constant
    * 256-bucket problem: enough hyperplanes that the expected bucket
    * population n/2^np stays near [[lshTargetBucket]] at EVERY n, i.e.
    * np = ceil(log2(ceil(n/target))), floor 2, cap [[lshMaxPlanes]]
    * (2^24 = 16M buckets at n = 1e9). The floor is 2, not the r6
    * constant 8: an 8-plane floor forces 256 buckets onto a 500-vector
    * corpus (population ~2 — candidate generation starves, measured
    * recall@5 of 0.018), contradicting the rule's own ~64 target; with
    * the population held at ~64 the candidate budget is ~64·n pairs at
    * any scale. Computed with INTEGER arithmetic only (count of p with
    * 2^p < ceil-div(n, target)) so the JVM and the oracle SQL can never
    * disagree the way float log2 around a power-of-two boundary could.
    * `-Dgraft.lshPlanes` pins it. */
  private[graft] def lshNumPlanes(n: Long)(implicit knobs: Knobs): Int =
    knobs.lshPlanes.getOrElse {
        val m = (n + lshTargetBucket - 1) / lshTargetBucket
        math.max(2, (0 until lshMaxPlanes).count(p => (1L << p) < m))
      }

  /** The signed-random-projection bucket id over the first `np` planes
    * of table `t` — hyperplanes shipped as literal arrays so the dot
    * products stay codegen'd and bucketing needs no shuffle. Shared by
    * p06 (table 0), p37 (all tables) and p35. */
  private def lshBucketColT(t: Int, np: Int,
      v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until np).map { p =>
      val plane = array(lshPlaneTables(t)(p).toSeq.map(x => lit(x)): _*)
      when(call_function("dot_product", v, plane) > 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  private def lshBucketCol(np: Int,
      v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lshBucketColT(0, np, v)

  /** (t, bucket) pairs for every table of the OR-construction, as one
    * posexploded column pair — the banding shape p03 uses, with
    * hyperplane buckets as the band keys. */
  private def lshMultiBuckets(np: Int,
      v: org.apache.spark.sql.Column)(implicit knobs: Knobs): org.apache.spark.sql.Column =
    posexplode(array((0 until knobs.lshTables).map(t => lshBucketColT(t, np, v)): _*))

  /** The same plane count as DuckDB SQL (a literal under -Dgraft.lshPlanes,
    * clamped identically to the Spark side). */
  private def duckLshNp(implicit knobs: Knobs): String =
    knobs.lshPlanes.map(_.toString).getOrElse(
      s"""greatest(2, CAST((SELECT COUNT(*) FROM range(0, $lshMaxPlanes) r(p)
         |  WHERE (CAST(1 AS BIGINT) << CAST(p AS INTEGER))
         |    < ((SELECT COUNT(*) FROM embeddings) + ${lshTargetBucket - 1}) // $lshTargetBucket) AS INTEGER))""".stripMargin)

  /** DuckDB double-accumulation cosine over two float-list columns —
    * mirrors the CosineSimilarity kernel's index-order double loop. */
  private def duckCosine(a: String, b: String): String =
    s"""list_sum([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) FOR i IN range(1, len($a) + 1)])
       | / (sqrt(list_sum([CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE) FOR i IN range(1, len($a) + 1)]))
       |  * sqrt(list_sum([CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) FOR i IN range(1, len($b) + 1)])))""".stripMargin

  /** DuckDB double-accumulation dot product — mirrors the DotProduct
    * kernel's index-order double loop (the numerator of [[duckCosine]]). */
  private def duckDot(a: String, b: String): String =
    s"list_sum([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) FOR i IN range(1, len($a) + 1)])"

  /** Squared L2 as three index-order double dots combined as
    * ((aa - (2*ab)) + bb) — the parenthesization and IEEE evaluation order
    * of [[graft.functions.NearestSubCell]], so both engines' doubles are
    * bit-identical. */
  private def duckL2Sq(a: String, b: String): String =
    s"((${duckDot(a, a)} - (CAST(2 AS DOUBLE) * ${duckDot(a, b)})) + ${duckDot(b, b)})"

  /** The PQ codebook fit as DuckDB CTEs mirroring [[buildPqCodebook]]
    * round for round — one chain with `sub` as a column (same fit-sample
    * rule with k', same md5-ordered seeds, same decimal-exact means,
    * argmin ties on the seed id). Final CTE: `pqcb` (sub, cell, cv,
    * code) with codes densely renumbered per subspace. */
  private def duckPqCodebookFrom(p: String, src: String)(implicit knobs: Knobs): String = {
    val m = knobs.pqM
    val seed =
      s"""${p}n AS (SELECT COUNT(*) AS n FROM $src),
         |  ${p}d AS (SELECT len(embedding) // $m AS ds FROM $src LIMIT 1),
         |  ${p}mm AS (SELECT least(${p}n.n,
         |             greatest(CAST(${knobs.kmeansFitPoints} AS BIGINT) * ${knobs.pqK},
         |                      ${64L * knobs.kmeansFitPoints})) AS m FROM ${p}n),
         |  ${p}fit AS (
         |    SELECT vec_id, embedding FROM $src, ${p}n, ${p}mm
         |    WHERE ${p}mm.m >= ${p}n.n
         |       OR ${duckMd560("CAST(vec_id AS VARCHAR)")}
         |            < ((CAST(1 AS BIGINT) << 60) // greatest(${p}n.n, 1)) * ${p}mm.m),
         |  ${p}sv AS (
         |    SELECT vec_id, r.sub,
         |      [embedding[i] FOR i IN range(r.sub * ${p}d.ds + 1, (r.sub + 1) * ${p}d.ds + 1)] AS sv
         |    FROM ${p}fit, ${p}d, range(0, $m) r(sub)),
         |  ${p}seedr AS (
         |    SELECT vec_id, embedding,
         |      ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |    FROM $src),
         |  ${p}cent0 AS (
         |    SELECT r.sub, vec_id AS cell,
         |      [embedding[i] FOR i IN range(r.sub * ${p}d.ds + 1, (r.sub + 1) * ${p}d.ds + 1)] AS cv
         |    FROM ${p}seedr, ${p}d, range(0, $m) r(sub) WHERE rn <= ${knobs.pqK})""".stripMargin
    val iters = (1 to knobs.kmeansIters).map { it =>
      s"""  ${p}sc$it AS (
         |    SELECT f.vec_id, f.sub, f.sv, c.cell, ${duckL2Sq("f.sv", "c.cv")} AS d
         |    FROM ${p}sv f JOIN ${p}cent${it - 1} c ON f.sub = c.sub),
         |  ${p}as$it AS (
         |    SELECT vec_id, sub, sv, cell FROM (
         |      SELECT vec_id, sub, sv, cell,
         |        ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, cell) AS rr
         |      FROM ${p}sc$it) WHERE rr = 1),
         |  ${p}cm$it AS (
         |    SELECT sub, cell, CAST(idx - 1 AS INTEGER) AS pos,
         |      CAST(CAST(SUM(CAST(CAST(sv[idx] AS DOUBLE) AS DECIMAL(16,8))) AS DOUBLE) / COUNT(*) AS FLOAT) AS c
         |    FROM ${p}as$it, unnest(range(1, len(sv) + 1)) AS u(idx)
         |    GROUP BY 1, 2, 3),
         |  ${p}cent$it AS (SELECT sub, cell, list(c ORDER BY pos) AS cv FROM ${p}cm$it GROUP BY 1, 2)""".stripMargin
    }
    val fin =
      s"""  ${p}cb AS MATERIALIZED (
         |    SELECT sub, cell, cv,
         |      CAST(ROW_NUMBER() OVER (PARTITION BY sub ORDER BY cell) - 1 AS INTEGER) AS code
         |    FROM ${p}cent${knobs.kmeansIters})""".stripMargin
    (seed +: iters :+ fin).mkString(",\n")
  }

  private def duckPqCodebook(implicit knobs: Knobs): String = duckPqCodebookFrom("pq", "embeddings")

  /** The corpus encode as DuckDB CTEs over `${p}cb`, mirroring
    * [[pqCodesSql]] (argmin per (vec_id, sub), ties on code).
    * CTEs: `${p}all` (source subvectors) and `${p}codes`. */
  private def duckPqCodesFrom(p: String, src: String)(implicit knobs: Knobs): String =
    s"""  ${p}all AS (
       |    SELECT vec_id, r.sub,
       |      [embedding[i] FOR i IN range(r.sub * ${p}d.ds + 1, (r.sub + 1) * ${p}d.ds + 1)] AS sv
       |    FROM $src, ${p}d, range(0, ${knobs.pqM}) r(sub)),
       |  ${p}esc AS (
       |    SELECT a.vec_id, a.sub, c.code, ${duckL2Sq("a.sv", "c.cv")} AS d
       |    FROM ${p}all a JOIN ${p}cb c ON a.sub = c.sub),
       |  ${p}codes AS MATERIALIZED (
       |    SELECT vec_id, sub, code FROM (
       |      SELECT vec_id, sub, code,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, code) AS rr
       |      FROM ${p}esc) WHERE rr = 1)""".stripMargin

  private def duckPqCodes(implicit knobs: Knobs): String = duckPqCodesFrom("pq", "embeddings")

  /** The residual ADC chain as DuckDB CTEs, mirroring
    * [[residualAdcScored]] — prefix `p` namespaces; `vp` is the
    * nprobe-descent prefix supplying probes. Requires upstream: `cells`,
    * `kk`, `${vp}cranked`, `rzcranked` (kTop=1 assignment), `rqd`,
    * `rqcb`, `rqcodes`. Final CTE: `${p}rk` (qid, cid, ascore, rank). */
  private def duckResidualAdcCtes(p: String, vp: String)(implicit knobs: Knobs): String =
    s"""  ${p}qsv AS (
       |    SELECT vec_id, r.sub,
       |      [embedding[i] FOR i IN range(r.sub * rqd.ds + 1, (r.sub + 1) * rqd.ds + 1)] AS sv
       |    FROM embeddings, rqd, range(0, ${knobs.pqM}) r(sub)),
       |  ${p}qc AS (
       |    SELECT t.vec_id AS qid, t.cell,
       |      CAST(floor(${duckDot("t.embedding", "c.cv")} * 100000000.0 + 0.5) AS BIGINT) AS qc_s
       |    FROM (SELECT vec_id, embedding, cell FROM ${vp}cranked, kk
       |          WHERE crank <= $duckNprobe${duckEvalAnd("vec_id")}) t
       |    JOIN cells c ON t.cell = c.cell),
       |  ${p}qr AS (
       |    SELECT q.vec_id AS qid, c.sub, c.code,
       |      CAST(floor(${duckDot("q.sv", "c.cv")} * 100000000.0 + 0.5) AS BIGINT) AS qr_s
       |    FROM ${p}qsv q JOIN rqcb c ON q.sub = c.sub),
       |  ${p}cx AS (
       |    SELECT l.cell, c.sub, c.code,
       |      CAST(floor(list_sum([CAST(l.cv[c.sub * rqd.ds + i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE) FOR i IN range(1, len(c.cv) + 1)])
       |        * 100000000.0 + 0.5) AS BIGINT) AS cr_s
       |    FROM cells l, rqcb c, rqd),
       |  ${p}rn AS (
       |    SELECT sub, code,
       |      CAST(floor(${duckDot("cv", "cv")} * 100000000.0 + 0.5) AS BIGINT) AS rr_s
       |    FROM rqcb),
       |  ${p}cn AS (
       |    SELECT cell,
       |      CAST(floor(${duckDot("cv", "cv")} * 100000000.0 + 0.5) AS BIGINT) AS cn2_s
       |    FROM cells),
       |  ${p}qnn AS (SELECT vec_id AS qid, ${duckDot("embedding", "embedding")} AS qn FROM embeddings),
       |  ${p}cand AS (
       |    SELECT p.qid, a.cid, a.cell
       |    FROM (SELECT vec_id AS qid, cell FROM ${vp}cranked, kk
       |          WHERE crank <= $duckNprobe${duckEvalAnd("vec_id")}) p
       |    JOIN (SELECT vec_id AS cid, cell FROM rzcranked WHERE crank = 1) a
       |      ON p.cell = a.cell AND p.qid <> a.cid),
       |  ${p}agg AS (
       |    SELECT d.qid, d.cid, d.cell,
       |      SUM(l.qr_s) AS sqr, SUM(x.cr_s) AS scr, SUM(n.rr_s) AS srr
       |    FROM ${p}cand d
       |    JOIN rqcodes k ON d.cid = k.vec_id
       |    JOIN ${p}qr l ON l.qid = d.qid AND l.sub = k.sub AND l.code = k.code
       |    JOIN ${p}cx x ON x.cell = d.cell AND x.sub = k.sub AND x.code = k.code
       |    JOIN ${p}rn n ON n.sub = k.sub AND n.code = k.code
       |    GROUP BY 1, 2, 3),
       |  ${p}sc AS (
       |    SELECT g.qid, g.cid,
       |      CAST(q.qc_s + g.sqr AS DOUBLE)
       |        / (sqrt(w.qn) * sqrt(CAST((c.cn2_s + (2 * g.scr)) + g.srr AS DOUBLE) / 100000000.0) * 100000000.0) AS ascore
       |    FROM ${p}agg g
       |    JOIN ${p}qc q ON q.qid = g.qid AND q.cell = g.cell
       |    JOIN ${p}cn c ON c.cell = g.cell
       |    JOIN ${p}qnn w ON w.qid = g.qid),
       |  ${p}rk AS (
       |    SELECT qid, cid, ascore,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ascore DESC, cid) AS INTEGER) AS rank
       |    FROM ${p}sc)""".stripMargin

  /** The residual source as DuckDB CTEs: kTop=1 two-level assignment
    * (prefix `rz`, must be emitted by the caller via [[duckTwoLevel]])
    * joined to the fitted cells; the subtraction runs in DOUBLE and
    * rounds to FLOAT — both correctly-rounded, mirroring [[residuals]].
    * Final CTE: `rsrc` (vec_id, embedding). */
  private def duckResidualSrc: String =
    s"""  rsrc AS MATERIALIZED (
       |    SELECT x.vec_id,
       |      [CAST(CAST(x.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE) AS FLOAT)
       |        FOR i IN range(1, len(x.embedding) + 1)] AS embedding
       |    FROM (SELECT vec_id, embedding, cell FROM rzcranked WHERE crank = 1) x
       |    JOIN cells c ON x.cell = c.cell)""".stripMargin

  /** The ADC scoring chain as DuckDB CTEs, mirroring p42's Spark plan:
    * candidates from the `${cr}cranked` descent (same probe width as
    * p16), integer-scaled lookup tables (floor(dot·10⁸+0.5) — BIGINT
    * sums are order-independent, so the per-candidate Σ over subspaces
    * can never diverge on aggregation order), approximate cosine
    * recombined from the exact integer sums. Prefix `p` namespaces the
    * CTEs; requires `pqcb`/`pqcodes`/`pqall` and `kk` upstream. Final
    * CTE: `${p}rk` (qid, cid, ascore, rank). */
  private def duckAdcCtes(p: String, cr: String)(implicit knobs: Knobs): String =
    s"""  ${p}assigned AS (SELECT vec_id AS cid, cell FROM ${cr}cranked WHERE crank = 1),
       |  ${p}probes AS (SELECT vec_id AS qid, cell FROM ${cr}cranked, kk
       |    WHERE crank <= $duckNprobe${duckEvalAnd("vec_id")}),
       |  ${p}cand AS (
       |    SELECT p.qid, a.cid FROM ${p}probes p
       |    JOIN ${p}assigned a ON p.cell = a.cell AND p.qid <> a.cid),
       |  ${p}qlut AS (
       |    SELECT q.vec_id AS qid, c.sub, c.code,
       |      CAST(floor(${duckDot("q.sv", "c.cv")} * 100000000.0 + 0.5) AS BIGINT) AS dq_s
       |    FROM pqall q JOIN pqcb c ON q.sub = c.sub),
       |  ${p}cn AS (
       |    SELECT sub, code,
       |      CAST(floor(${duckDot("cv", "cv")} * 100000000.0 + 0.5) AS BIGINT) AS cn_s
       |    FROM pqcb),
       |  ${p}qn AS (SELECT vec_id AS qid, ${duckDot("embedding", "embedding")} AS qn FROM embeddings),
       |  ${p}adc AS (
       |    SELECT d.qid, d.cid, SUM(l.dq_s) AS s_s, SUM(n.cn_s) AS r_s
       |    FROM ${p}cand d
       |    JOIN pqcodes k ON d.cid = k.vec_id
       |    JOIN ${p}qlut l ON l.qid = d.qid AND l.sub = k.sub AND l.code = k.code
       |    JOIN ${p}cn n ON n.sub = k.sub AND n.code = k.code
       |    GROUP BY 1, 2),
       |  ${p}sc AS (
       |    SELECT a.qid, a.cid,
       |      CAST(s_s AS DOUBLE)
       |        / (sqrt(qn) * sqrt(CAST(r_s AS DOUBLE) / 100000000.0) * 100000000.0) AS ascore
       |    FROM ${p}adc a JOIN ${p}qn q ON a.qid = q.qid),
       |  ${p}rk AS (
       |    SELECT qid, cid, ascore,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ascore DESC, cid) AS INTEGER) AS rank
       |    FROM ${p}sc)""".stripMargin

  /** The bucket id of plane-table `t` as DuckDB SQL: sum over planes of
    * 2^p when dot(embedding, plane_p) > 0, with the plane rendered as a
    * literal double list — bit-identical to the Spark side's codegen'd
    * dot_product > 0 test (both accumulate in double, index order). All
    * [[lshMaxPlanes]] planes are rendered; each term is gated on
    * `p < np.np` so the SQL adapts to the same n-derived plane count the
    * Spark plan compiled in (the query must expose a one-row CTE `np`). */
  private def duckLshBucketT(t: Int, vec: String): String =
    lshPlaneTables(t).zipWithIndex.map { case (plane, p) =>
      val planeLit = plane.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"""(CASE WHEN $p < np.np AND list_sum([CAST($vec[i] AS DOUBLE) * ($planeLit)[i]
         |  FOR i IN range(1, len($vec) + 1)]) > 0 THEN ${1L << p} ELSE 0 END)""".stripMargin
    }.mkString(" + ")

  private def duckLshBucket(vec: String): String = duckLshBucketT(0, vec)

  /** The OR-construction's (t, bucket) table as a DuckDB CTE body: one
    * UNION ALL branch per plane table. */
  private def duckLshMultiBuckets(vec: String)(implicit knobs: Knobs): String =
    (0 until knobs.lshTables).map { t =>
      s"""SELECT vec_id, $t AS t, ${duckLshBucketT(t, vec)} AS bucket
         |FROM embeddings, np""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** The p63b plan with EXPLICIT dials — the QDef passes
    * `knobs.imageBands`/`knobs.imageHamming`; tests pass alternatives. */
  private[graft] def imageNearDupPlan(s: SparkSession, dir: String,
      nb: Int, ham: Int): DataFrame = {
    val width = 64 / nb
    val mask = (1L << width) - 1; val perHalf = nb / 2
    val h = graft.operators.Multimodal.imageDHash(
      docs(s, dir).select(col("doc_id").as("media_id"),
        col("text").cast("binary").as("payload")))
    val bandStructs = (0 until nb).map { b =>
      val half = if (b < perHalf) col("dh_hi") else col("dh_lo")
      val shift = 32 - ((b % perHalf) + 1) * width
      struct(lit(b).as("band"),
        shiftrightunsigned(half, shift).bitwiseAND(lit(mask)).as("chunk"))
    }
    val banded = h.select(col("media_id"), col("dh_hi"), col("dh_lo"),
      explode(array(bandStructs: _*)).as("bk"))
      .select(col("media_id"), col("dh_hi"), col("dh_lo"),
        col("bk.band"), col("bk.chunk"))
    banded.select(col("media_id").as("a_id"), col("dh_hi").as("ha"),
        col("dh_lo").as("la"), col("band"), col("chunk"))
      .join(banded.select(col("media_id").as("b_id"), col("dh_hi").as("hb"),
        col("dh_lo").as("lb"), col("band"), col("chunk")),
        Seq("band", "chunk"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (bit_count(col("ha").bitwiseXOR(col("hb"))) +
          bit_count(col("la").bitwiseXOR(col("lb")))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= ham)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** The oracle's band-collision disjunction, generated from the SAME
    * `knobs.imageBands` dial as the Spark plan's band structs. */
  private def duckImageBandCollisions(implicit knobs: Knobs): String = {
    val nb = knobs.imageBands; val width = 64 / nb
    val mask = (1L << width) - 1; val perHalf = nb / 2
    (0 until nb).map { b =>
      val half = if (b < perHalf) "hi" else "lo"
      val shift = 32 - ((b % perHalf) + 1) * width
      s"(a.$half >> $shift) & $mask = (b.$half >> $shift) & $mask"
    }.mkString("\n            OR ")
  }

  // ---- Johnson-Lindenstrauss random projection (p68): ±1/√k sign
  // matrix (Achlioptas 2001's database-friendly construction), signs
  // derandomized from md5("jl_<i>_<j>") so the matrix is a pure
  // deterministic constant — generated ONCE here in Scala and rendered
  // as a literal into BOTH engines, so the Spark plan does zero per-row
  // hashing and parity holds by construction. -------------------------
  private[graft] val jlInDim = 64
  private[graft] val jlOutDim = 16

  /** Sign s(j)(i) = +1 iff the MSB of md5("jl_<i>_<j>") is 0 (i.e. the
    * first hex char is '0'..'7'). */
  private lazy val jlSigns: Seq[Seq[Double]] =
    (0 until jlOutDim).map(j => (0 until jlInDim).map { i =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"jl_${i}_$j".getBytes("UTF-8"))
      if ((h(0) & 0x80) == 0) 1.0 else -1.0
    })

  private def jlSignsSparkLit: String =
    jlSigns.map(row => "array(" + row.map(v =>
      if (v > 0) "1.0D" else "-1.0D").mkString(", ") + ")")
      .mkString("array(", ", ", ")")

  private def jlSignsDuckLit: String =
    jlSigns.map(row => "[" + row.map(v =>
      if (v > 0) "1.0" else "-1.0").mkString(", ") + "]")
      .mkString("[", ", ", "]")

  /** The projection kernel, Spark dialect — shared VERBATIM by batch
    * p68 and the streaming `jlProjectStream` (stream/batch outputs are
    * definitionally identical). */
  /** The 1/√k JL scale, rendered as one Scala double so both engines'
    * generated text tracks [[jlOutDim]] (4.0 at the default k=16). */
  private[graft] def jlScaleDiv: String =
    math.sqrt(jlOutDim.toDouble).toString

  private[graft] def jlProjectSql(c: String): String =
    s"""transform(sequence(1, $jlOutDim), j ->
       |  aggregate(sequence(1, least($jlInDim, size($c))), 0D,
       |    (acc, i) -> acc + CAST(element_at($c, i) AS DOUBLE)
       |      * element_at(element_at($jlSignsSparkLit, j), i)) / $jlScaleDiv)""".stripMargin

  /** p29's query terms — fixed vocabulary of the synthetic corpus with a
    * spread of document frequencies (rare -> common). Declared BEFORE
    * `defs`: the oracle strings interpolate these eagerly at object init. */
  private val bm25Terms = Seq("spark", "vector", "merge")

  // ---- late-interaction (p71) token-embedding constants: 8 integer
  // components per token derived from md560("li_<tok>_<j>"), the same
  // value both engines compute over the vocabulary; the QUERY tokens'
  // vectors are computed once here on the driver and rendered as
  // literals into both dialects (the jlSigns derandomization pattern).
  private[graft] val liDim = 8
  private val liQueryToks = bm25Terms

  /** Driver-side md560 — identical to the engines' first-15-hex-chars-
    * of-md5 parse, so literal query vectors match in-engine vocab ones. */
  private def md560Scala(s0: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s0.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.map(b => f"${b & 0xff}%02x").mkString.substring(0, 15), 16)
  }

  private[graft] val liQueryVecs: Seq[(String, IndexedSeq[Long])] =
    liQueryToks.map(t =>
      t -> (1 to liDim).map(j => md560Scala(s"li_${t}_$j") % 2001 - 1000))

  // ---- content-defined chunking (p72) constants: the 256-entry gear
  // table (one draw per byte value, derandomized from md5 so both
  // engines render the SAME literal), the fixed 13-char gear window,
  // and the boundary mask dial. Gear CDC: h_i = Σ_{j=0..12}
  // G[char(i-j)]·2^j — the closed form of the h = (h<<1) + G[b]
  // recurrence restricted to the bits the mask can see — cut where
  // h_i mod 2^maskBits = 0 (Xia et al., FastCDC, USENIX ATC 2016).
  private[graft] val cdcWindow = 13
  private[graft] val cdcGear: IndexedSeq[Long] =
    (0 until 256).map(c => md560Scala(s"gear_$c") % 1048576L)

  /** The gear cut-position kernel, Spark dialect — references columns
    * `n` (length) and `gv` (the per-char gear values, precomputed in
    * ONE pass by [[cdcChunked]]: `substr(text, i, 1)` re-walks the
    * UTF-8 string from the start on every call, so indexing characters
    * inside the position loop is O(len²·13) — splitting to a char
    * array once and reading `element_at(gv, i-j)` is O(len·13)).
    * Shared VERBATIM by batch p72 and the streaming `cdcChunkStream`. */
  private[graft] def cdcCutsSql(implicit knobs: Knobs): String = {
    val mod = 1L << knobs.cdcMaskBits
    val hsum = (0 until cdcWindow).map(j =>
      s"element_at(gv, i - $j) * ${1L << j}")
      .mkString(" + ")
    s"""filter(transform(filter(sequence($cdcWindow, greatest($cdcWindow, n)), i -> i <= n),
       |  i -> CASE WHEN i < n AND ($hsum) % $mod = 0
       |       THEN i ELSE CAST(NULL AS INT) END),
       |  x -> x IS NOT NULL)""".stripMargin
  }

  /** Chunk reconstruction from `starts`/`ends` — the other half of the
    * shared kernel. */
  private[graft] val cdcChunksSql: String =
    """transform(sequence(1, size(starts)), k ->
         substr(text, element_at(starts, k),
           element_at(ends, k) - element_at(starts, k) + 1))"""

  /** Applies the full Gear-CDC kernel: doc frame (incl. `text`) in,
    * exploded (original columns, chunk) out. */
  private[graft] def cdcChunked(in: DataFrame, keep: Seq[String])(
      implicit knobs: Knobs): DataFrame =
    in.withColumn("g", array(cdcGear.map(v => lit(v)): _*))
      .withColumn("n", length(col("text")))
      .withColumn("gv", expr(
        "transform(split(text, ''), c -> element_at(g, ascii(c) % 256 + 1))"))
      .withColumn("cuts", expr(cdcCutsSql))
      .withColumn("starts", expr("concat(array(1), transform(cuts, c -> c + 1))"))
      .withColumn("ends", expr("concat(cuts, array(n))"))
      .select(keep.map(col) :+ explode(expr(cdcChunksSql)).as("chunk"): _*)

  /** p29b's conjunctive phrase query: one real corpus bigram + one
    * plain term, AND semantics — pins [[bm25Search]]'s phrase-tf and
    * require-all paths (the features `TABLE(BM25_SEARCH('"table hash"
    * AND vector'))` exercises on the wire). */
  private val bm25PhraseQuery: Seq[Seq[String]] =
    Seq(Seq("table", "hash"), Seq("vector"))

  /** p64b's query fan: four fixed term-set queries over the corpus
    * vocabulary — the many-queries MMR workload whose greedy must run
    * per group INSIDE executors (p64's single-query greedy runs on the
    * driver; that shape cannot fan out). */
  private val mmrQueries: Seq[(String, Seq[String])] = Seq(
    "q_join" -> Seq("merge", "join"),
    "q_scan" -> Seq("scan", "filter"),
    "q_stream" -> Seq("stream", "window"),
    "q_vector" -> Seq("spark", "vector"))

  /** The MMR greedy (0.7·rel − 0.3·max-cos-to-selected, doc_id
    * tiebreak) as ONE generated SQL expression over a collected,
    * dial-bounded candidate array `array<struct<doc_id, score_r, v>>`
    * — no driver loop, so thousands of queries run their greedies in
    * parallel inside executors. Pairwise sims are 6dp-rounded
    * (`cosine_sim` + round — the p05/p64 parity plane), so the
    * selection compares the same doubles DuckDB's recursive-CTE replay
    * compares. The empty-remainder case needs no guard: `slice(..,1,1)`
    * of an empty array is empty and `concat` a no-op. */
  private[graft] def mmrGreedySql(cands: String, k: Int): String = {
    val bySel = "(l, r) -> CASE WHEN l.score_r > r.score_r THEN -1" +
      " WHEN l.score_r < r.score_r THEN 1 WHEN l.doc_id < r.doc_id THEN -1 ELSE 1 END"
    val byM = "(l, r) -> CASE WHEN l.m > r.m THEN -1" +
      " WHEN l.m < r.m THEN 1 WHEN l.doc_id < r.doc_id THEN -1 ELSE 1 END"
    val srt = s"array_sort($cands, $bySel)"
    // k is a generation-time constant; sequence(2, k) DESCENDS for k=1
    // ([2,1] — two spurious greedy steps), so the k<=1 case short-circuits
    // to the seed alone instead of ever rendering that sequence.
    if (k <= 1) return s"slice($srt, 1, 1)"
    s"""aggregate(
       |  sequence(2, $k),
       |  slice($srt, 1, 1),
       |  (sel, step) -> concat(sel, transform(
       |    slice(array_sort(transform(
       |      filter($srt, c -> NOT exists(sel, s -> s.doc_id = c.doc_id)),
       |      c -> named_struct(
       |        'm', 0.7 * c.score_r - 0.3 * array_max(transform(sel, s -> round(cosine_sim(c.v, s.v), 6))),
       |        'doc_id', c.doc_id, 'score_r', c.score_r, 'v', c.v)),
       |      $byM), 1, 1),
       |    b -> named_struct('doc_id', b.doc_id, 'score_r', b.score_r, 'v', b.v))))""".stripMargin
  }

  /** Parameterized BM25 retrieval — the engine behind p29 (fixed terms,
    * oracle-pinned) and the SQL wire's `TABLE(BM25_SEARCH('<query>'))`
    * (caller-supplied terms). One corpus scan, one broadcast one-row
    * stats reduction, TakeOrderedAndProject top-k — no join, no sort of
    * the corpus. Terms are spliced into filter lambdas, so callers MUST
    * pre-sanitize (the wire layer admits only `[a-z0-9_]+` tokens);
    * they are also deduplicated here. */
  private[graft] def bm25TopK(s: SparkSession, dir: String,
      terms0: Seq[String], k: Int = 50)(implicit knobs: Knobs): DataFrame =
    bm25Search(s, dir, terms0.map(Seq(_)), requireAll = false, k)

  /** The generalized form: each query unit is a PHRASE (word sequence;
    * single-word phrases degenerate to plain terms). A phrase's tf is
    * its exact consecutive-occurrence count in the token array — a pure
    * per-row scan, no explode, no shuffle — and it enters the standard
    * BM25 sum as one unit with its own document frequency.
    * `requireAll` = AND semantics (every phrase must occur, the
    * conjunctive-query convention); false = OR (score any match).
    * The plan shape is identical to the term form: one corpus scan +
    * one broadcast one-row stats reduction + TakeOrderedAndProject. */
  private[graft] def bm25Search(s: SparkSession, dir: String,
      phrases0: Seq[Seq[String]], requireAll: Boolean, k: Int)(implicit knobs: Knobs): DataFrame = {
    val phrases = phrases0.filter(_.nonEmpty).distinct
    require(phrases.nonEmpty, "bm25Search: no query phrases")
    val base = spread(s, docs(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), " ").as("arr"))
      .withColumn("dl", size(col("arr")).cast("double"))
    val tf = phrases.zipWithIndex.map { case (ws, ix) =>
      expr(phraseTfSql("arr", ws)).as(s"tf_$ix") }
    val withTf = base.select(col("doc_id") +: col("dl") +: tf: _*)
    // dl and the tf/df counts are whole numbers: double sums over
    // integers < 2^53 are exact, hence accumulation-order-independent
    val stats = withTf.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")) / count(lit(1))).as("avgdl") +:
        phrases.indices.map(ix =>
          sum(when(col(s"tf_$ix") > 0, 1.0).otherwise(0.0)).as(s"df_$ix")): _*)
    val scoreExpr = phrases.indices
      .map(ix => bm25Term(s"tf_$ix", s"df_$ix")).mkString(" + ")
    val scored = withTf.crossJoin(broadcast(stats))
      .withColumn("score_r", round(expr(scoreExpr), 6))
    val gated =
      if (requireAll)
        scored.filter(phrases.indices.map(ix => col(s"tf_$ix") > 0).reduce(_ && _))
      else scored
    gated
      .select(col("doc_id"), col("dl").cast("bigint").as("n_tokens"),
        col("score_r"))
      .orderBy(col("score_r").desc, col("doc_id"))
      .limit(k)
  }

  /** One phrase's tf over a token array, Spark dialect: count of start
    * positions where every word matches consecutively. The guard keeps
    * `sequence` ascending (Spark's sequence(1, 0) would DESCEND). */
  private[graft] def phraseTfSql(arr: String, ws: Seq[String]): String =
    if (ws.size == 1)
      s"CAST(size(filter($arr, x -> x = '${ws.head}')) AS DOUBLE)"
    else {
      val n = ws.size
      val conds = ws.zipWithIndex
        .map { case (w, o) => s"element_at($arr, i + $o) = '$w'" }
        .mkString(" AND ")
      s"""CASE WHEN size($arr) >= $n
         |  THEN CAST(size(filter(sequence(1, size($arr) - ${n - 1}), i -> $conds)) AS DOUBLE)
         |  ELSE CAST(0.0 AS DOUBLE) END""".stripMargin
    }

  /** [[phraseTfSql]]'s DuckDB mirror (1-based list indexing; `range` is
    * end-exclusive and empty when start >= end, so no guard needed). */
  private def duckPhraseTf(arr: String, ws: Seq[String]): String =
    if (ws.size == 1)
      s"CAST(len(list_filter($arr, x -> x = '${ws.head}')) AS DOUBLE)"
    else {
      val n = ws.size
      val conds = ws.zipWithIndex
        .map { case (w, o) => s"$arr[i + $o] = '$w'" }
        .mkString(" AND ")
      s"CAST(len(list_filter(range(1, len($arr) - ${n - 2}), i -> $conds)) AS DOUBLE)"
    }

  /** One BM25 term contribution, k1=1.2 b=0.75, as SQL text shared
    * verbatim by the Spark plan and the DuckDB oracle — identical
    * parenthesization means identical IEEE double evaluation order. */
  private def bm25Term(tf: String, df: String): String =
    s"""(CASE WHEN $tf > 0 THEN
       |  ln(1.0 + (n_docs - $df + 0.5) / ($df + 0.5))
       |    * ($tf * (1.0 + 1.2))
       |    / ($tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
       |  ELSE 0.0 END)""".stripMargin

  // ---- BPE merge learning (p48/p48b): tokenizer TRAINING as a
  // declarative plan. The classical byte-pair-encoding fit (Sennrich et
  // al. 2016; the algorithm behind GPT-2/LLaMA-style tokenizers) is an
  // iterative argmax: count adjacent symbol pairs over the word table
  // (weighted by word frequency), merge the most frequent pair, repeat.
  // Each round here is pure DataFrame algebra — one pair-count shuffle
  // over the DISTINCT-WORD table (bounded by vocabulary, not corpus
  // size), a TakeOrderedAndProject argmax with a total-order tie-break
  // (count desc, then pair lexicographic), and a one-row broadcast
  // splice applying the merge via string `replace` — no driver loop, no
  // mutable state, and the corpus-sized work (word counting) happens
  // once with every round's subtree deduping via ReuseExchange. Words
  // are symbolized as "(h)(e)(l)(l)(o)": per-symbol parentheses make
  // `replace`'s leftmost-non-overlapping semantics EXACTLY the BPE merge
  // rule (a chain "aaaa" merges to "aa","aa", not "aa","a","a" — and
  // both engines' replace() shares those semantics), and the [a-z]+
  // word filter guarantees the delimiters can never collide with symbol
  // text.

  /** The per-row chunk explode shared VERBATIM by p50/p50b and the
    * streaming chunk dedup (EventStreams.chunkDedupStream): carries the
    * input's other columns and adds (start, chunk_no, n_tok, fp); the
    * window TEXT dies here — only the md5 fingerprint leaves. */
  private[graft] def chunkFingerprints(docs: DataFrame)(implicit knobs: Knobs): DataFrame = {
    val c = knobs.chunkTokens; val st = knobs.chunkStride
    docs.filter(col("text").isNotNull)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .withColumn("start", explode(expr(s"sequence(0, n - 1, $st)")))
      .withColumn("chunk_no", expr(s"CAST(start div $st AS INT)"))
      .withColumn("n_tok", expr(s"CAST(least($c, n - start) AS INT)"))
      .withColumn("fp",
        expr(s"md5(concat_ws(' ', slice(toks, start + 1, least($c, n - start))))"))
      .drop("toks", "n", "text")
  }

  /** The per-row token-count bucket projection shared VERBATIM by batch
    * p49/p49b and the streaming histogram (the cmsCellUpdates pattern):
    * one definition, so a bucket-width change can never silently break
    * the spec-proven stream=batch parity. Expects a `text` column. */
  private[graft] def tokenBucketProjection(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(expr("least(size(split(text, ' ')) div 16, 255)")
        .cast("int").as("bucket"))

  // ---- unigram (SentencePiece-family) tokenizer segmentation: the
  // Viterbi half of Kudo 2018 — a frequency-scored piece lexicon and
  // per-word max-likelihood segmentation by dynamic programming. The
  // BPE sibling (p48 learns merges; p66 segments under a unigram
  // lexicon). All scores are integer-scaled logs (the p53 sln trick),
  // so DP sums are exact BIGINTs; the DP/backpointer/reconstruction
  // expression text is GENERATED once and rendered into both dialects.
  private[graft] val uniMaxWordLen = 12
  private[graft] val uniMaxPieceLen = 4
  /** Lookup-miss sentinel for DP candidates: more negative than any
    * reachable path sum (12 pieces × |score| ≤ ~12·ln(total)·1e8 ≪ 1e15)
    * yet safe from Long overflow across ≤ 12 additions. Rendered as a
    * CAST literal so both engines read the same BIGINT. */
  private[graft] val uniSentinel = "CAST(-1000000000000000 AS BIGINT)"

  /** The valid (j, i) DP candidate grid: end position j in [1, 12],
    * start i in [max(0, j-4), j-1] — piece length ≤ [[uniMaxPieceLen]]. */
  private[graft] def uniGrid: Seq[(Int, Int)] =
    for (j <- 1 to uniMaxWordLen;
         i <- math.max(0, j - uniMaxPieceLen) until j) yield (j, i)

  /** Generated DP text, dialect-rendered. `elemAt(arr, idx)` and list
    * ops differ between engines; everything else is shared verbatim.
    * Yields (ordered column defs): best_j / bp_j for j in 1..12, then
    * bp_arr, e_k / s_k / piece_k for k in 1..12, then seg. */
  private[graft] def uniDpColumns(
      elemAt: (String, String) => String,
      arrayOf: Seq[String] => String,
      filterNotNull: String => String,
      reverseArr: String => String): Seq[(String, String)] = {
    val cols = Seq.newBuilder[(String, String)]
    cols += ("best_0" -> "CAST(0 AS BIGINT)")
    for (j <- 1 to uniMaxWordLen) {
      val is = uniGrid.filter(_._1 == j).map(_._2)
      val cands = is.map(i => s"COALESCE(best_$i + cs_${j}_$i, $uniSentinel)")
      cols += (s"best_$j" ->
        (if (cands.size == 1) cands.head
         else s"GREATEST(${cands.mkString(", ")})"))
      cols += (s"bp_$j" -> is.map(i =>
        s"WHEN COALESCE(best_$i + cs_${j}_$i, $uniSentinel) = best_$j THEN $i")
        .mkString("CASE ", " ", " END"))
    }
    cols += ("bp_arr" -> arrayOf((1 to uniMaxWordLen).map(j => s"bp_$j")))
    cols += ("e_0" -> "length(w)")
    for (k <- 1 to uniMaxWordLen) {
      cols += (s"s_$k" ->
        s"CASE WHEN e_${k - 1} IS NULL OR e_${k - 1} = 0 THEN NULL ELSE ${elemAt("bp_arr", s"e_${k - 1}")} END")
      cols += (s"piece_$k" ->
        s"CASE WHEN s_$k IS NULL THEN NULL ELSE substring(w, s_$k + 1, e_${k - 1} - s_$k) END")
      cols += (s"e_$k" -> s"s_$k")
    }
    cols += ("seg" -> reverseArr(filterNotNull(
      arrayOf((1 to uniMaxWordLen).map(k => s"piece_$k")))))
    // the word's exact Viterbi path score (BIGINT): best at the final
    // position — the quantity hard-EM's likelihood accounting sums
    cols += ("ll" -> elemAt(
      arrayOf((1 to uniMaxWordLen).map(j => s"best_$j")), "length(w)"))
    cols.result()
  }

  /** The piece lexicon: substrings of length 1..4 over the distinct
    * [a-z]+ word table (length ≤ 12), occurrence-weighted by word
    * frequency; vocabulary = top `knobs.uniSeed` by (cnt DESC, piece ASC)
    * plus ALL single-character pieces (coverage — every word position
    * is always reachable); score = sln(cnt) − sln(Σ cnt over the
    * vocabulary). Vocabulary-bounded at any corpus size. */
  private[graft] def uniVocab(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame = {
    val w = bpeWords(s, dir).filter(length(col("w")) <= uniMaxWordLen)
    val cnts = w.select(col("w"), col("freq"),
        explode(expr(
          s"""flatten(transform(sequence(1, length(w)),
                i -> transform(sequence(1, least($uniMaxPieceLen, length(w) - i + 1)),
                  l -> substring(w, i, l))))""")).as("p"))
      .groupBy(col("p")).agg(sum(col("freq")).as("cnt"))
    val top = cnts.orderBy(col("cnt").desc, col("p")).limit(knobs.uniSeed)
    val chars = cnts.filter(length(col("p")) === 1)
    val vocab0 = top.unionByName(chars).distinct()
    val tot = vocab0.agg(sum(col("cnt")).as("vt"))
    vocab0.crossJoin(broadcast(tot))
      .withColumn("score", expr(sln("cnt") + " - " + sln("vt")))
      .select(col("p"), col("cnt"), col("score"))
  }

  /** Per-word Viterbi segmentation: (w, freq, seg ARRAY<STRING>). One
    * candidate-grid explode + ONE broadcast vocab join pivoted to the
    * 42 cs_j_i score columns, then the generated DP columns — pure
    * per-row expressions, zero shuffles beyond the word aggregation. */
  private[graft] def uniSegments(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame =
    uniSegmentsFrom(s, dir, uniVocab(s, dir))

  /** The same chain under a CALLER-SUPPLIED piece lexicon (p, score) —
    * the E/M halves of hard-EM re-segment with re-estimated scores
    * through here — also emitting `ll`, the word's exact Viterbi path
    * score.
    *
    * r17 shape: the lexicon collapses to ONE broadcast map row and the
    * whole DP runs as two `aggregate` higher-order expressions over a
    * per-row candidate grid — no candidate explode, no pivot shuffle,
    * no lineage barriers. The previous shape (42-column pivot + ~70
    * chained withColumns with an RDD-conversion barrier every 6 to cap
    * Catalyst's fanout^depth inlining) was DRIVER-bound: 7.2 s wall vs
    * 4.3 executor-seconds on 32 cores at sf0.1, all of it plan
    * analysis + per-barrier optimize passes + InternalRow↔Row
    * round-trips. The accumulator form references each best_i exactly
    * once through the array, so there is nothing to inline and the
    * plan is a single narrow codegen'd projection. Arithmetic is
    * unchanged (same BIGINT sums, same GREATEST/first-i tie-break,
    * same NULL→sentinel coalesce), so seg/ll are bit-identical — the
    * DuckDB mirror ([[duckUniChain]], rendered from [[uniDpColumns]])
    * is untouched and the oracle gate proves the equivalence. */
  private[graft] def uniSegmentsFrom(s: SparkSession, dir: String,
      vocab: DataFrame)(implicit knobs: Knobs): DataFrame = {
    val words = bpeWords(s, dir).filter(length(col("w")) <= uniMaxWordLen)
      .select(col("w"), col("freq"))
    val vmap = vocab.groupBy().agg(
      map_from_entries(collect_list(struct(col("p"), col("score"))))
        .as("vmap"))
    // csa[j] = the (i, score) candidate list for end position j, ascending
    // i (the pivot's column order — the bp tie-break depends on it);
    // score NULL when the piece is absent from the lexicon OR j overruns
    // the word, exactly the NULL the pivot's cs_j_i carried
    val csaEntries = (1 to uniMaxWordLen).map { j =>
      val entries = uniGrid.filter(_._1 == j).map(_._2).map { i =>
        s"""named_struct('i', $i, 'sc',
              CASE WHEN $j <= length(w)
                   THEN try_element_at(vmap, substring(w, ${i + 1}, ${j - i}))
              END)"""
      }
      s"array(${entries.mkString(", ")})"
    }
    val dpExpr =
      s"""aggregate(
            sequence(1, $uniMaxWordLen),
            named_struct('best', array(CAST(0 AS BIGINT)),
                         'bp', CAST(array() AS ARRAY<INT>)),
            (acc, j) -> named_struct(
              'best', concat(acc.best, array(
                array_max(transform(element_at(csa, j),
                  c -> coalesce(element_at(acc.best, c.i + 1) + c.sc,
                                $uniSentinel))))),
              'bp', concat(acc.bp, array(
                element_at(filter(element_at(csa, j),
                  c -> coalesce(element_at(acc.best, c.i + 1) + c.sc,
                                $uniSentinel)
                       = array_max(transform(element_at(csa, j),
                           c2 -> coalesce(element_at(acc.best, c2.i + 1) + c2.sc,
                                          $uniSentinel)))), 1).i))))"""
    // the backpointer walk: e_0 = len(w); s_k = bp[e_{k-1}]; piece_k =
    // w[s_k+1 .. e_{k-1}]; saturates at e = 0. Pieces emit end→start
    // (the walk order), reversed at the end — the original
    // reverse(filter(...)) contract.
    val walkExpr =
      s"""aggregate(
            sequence(1, $uniMaxWordLen),
            named_struct('e', CAST(length(w) AS INT),
                         'seg', CAST(array() AS ARRAY<STRING>)),
            (acc, k) -> CASE WHEN acc.e IS NULL OR acc.e = 0 THEN acc ELSE
              named_struct(
                'e', CAST(element_at(dp.bp, acc.e) AS INT),
                'seg', concat(acc.seg, array(substring(w,
                  element_at(dp.bp, acc.e) + 1,
                  acc.e - element_at(dp.bp, acc.e))))) END)"""
    words.crossJoin(broadcast(vmap))
      .withColumn("csa", expr(s"array(${csaEntries.mkString(", ")})"))
      .withColumn("dp", expr(dpExpr))
      .withColumn("seg", expr(s"reverse(($walkExpr).seg)"))
      .withColumn("ll", expr("element_at(dp.best, length(w) + 1)"))
      .select(col("w"), col("freq"), col("seg"), col("ll"))
  }

  /** The DuckDB mirror of [[uniVocab]]+[[uniSegments]] as CTE text up to
    * `useg(w, freq, seg)` — the shared front of both p66 oracles. */
  /** One dialect-rendered Viterbi chain over `uwt` under the lexicon
    * CTE `vocabCte`, every CTE name prefixed `pfx` — `${pfx}seg(w,
    * freq, seg, ll)` is the result. Prefix "u" reproduces the p66
    * chain; hard-EM's second pass renders the SAME text under prefix
    * "e" with the re-estimated lexicon. */
  private[graft] def duckUniChain(pfx: String, vocabCte: String): String = {
    val gridVals = uniGrid.map { case (j, i) => s"($j, $i)" }.mkString(", ")
    val pivCols = uniGrid.map { case (j, i) =>
      s"MAX(CASE WHEN j = $j AND i = $i THEN score END) AS cs_${j}_$i"
    }.mkString(", ")
    // the DP chain must not inline into one expression tree (fanout^depth
    // explosion — the BPE-oracle lesson): chain MATERIALIZED CTEs, a few
    // columns per layer, so each alias is evaluated once
    val dpLayers = uniDpColumns(
      elemAt = (arr, idx) => s"$arr[$idx]",
      arrayOf = es => s"[${es.mkString(", ")}]",
      filterNotNull = a => s"list_filter($a, x -> x IS NOT NULL)",
      reverseArr = a => s"list_reverse($a)"
    ).grouped(6).toSeq
    val dpChain = dpLayers.zipWithIndex.map { case (layer, li) =>
      val prev = if (li == 0) s"${pfx}dp0" else s"${pfx}dp$li"
      val defs = layer.map { case (name, text) => s"$text AS $name" }
        .mkString(",\n            ")
      s"""${pfx}dp${li + 1} AS MATERIALIZED (
          SELECT *,
            $defs
          FROM $prev)"""
    }.mkString(",\n        ")
    val lastDp = s"${pfx}dp${dpLayers.size}"
    s"""${pfx}cand AS (
          SELECT t.w, g.j, g.i,
            substr(t.w, CAST(g.i + 1 AS INTEGER), CAST(g.j - g.i AS INTEGER)) AS piece
          FROM uwt t CROSS JOIN (VALUES $gridVals) g(j, i)
          WHERE g.j <= length(t.w)),
        ${pfx}sc AS (
          SELECT c.w, c.j, c.i, v.score
          FROM ${pfx}cand c LEFT JOIN $vocabCte v ON v.p = c.piece),
        ${pfx}piv AS (SELECT w, $pivCols FROM ${pfx}sc GROUP BY w),
        ${pfx}dp0 AS MATERIALIZED (
          SELECT t0.w, t0.freq AS freq, p.* EXCLUDE (w)
          FROM ${pfx}piv p JOIN uwt t0 ON t0.w = p.w),
        $dpChain,
        ${pfx}seg AS (SELECT w, freq, seg, ll FROM $lastDp)"""
  }

  private[graft] def duckUniCtes(implicit knobs: Knobs): String = {
    s"""uwt AS (
          SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
          FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
          WHERE regexp_full_match(w, '[a-z]+') AND length(w) <= $uniMaxWordLen
          GROUP BY w),
        uocc AS (
          SELECT substr(t.w, CAST(i.i AS INTEGER), CAST(l.l AS INTEGER)) AS p,
            CAST(SUM(t.freq) AS BIGINT) AS cnt
          FROM uwt t
          CROSS JOIN range(1, ${uniMaxWordLen + 1}) i(i)
          CROSS JOIN range(1, ${uniMaxPieceLen + 1}) l(l)
          WHERE i.i + l.l - 1 <= length(t.w)
          GROUP BY 1),
        utop AS (SELECT p, cnt FROM uocc ORDER BY cnt DESC, p LIMIT ${knobs.uniSeed}),
        uvoc0 AS (SELECT p, cnt FROM utop
          UNION SELECT p, cnt FROM uocc WHERE length(p) = 1),
        utot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS vt FROM uvoc0),
        uvocab AS (
          SELECT p, cnt, ${sln("cnt")} - ${sln("vt")} AS score
          FROM uvoc0, utot),
        ${duckUniChain("u", "uvocab")}"""
  }

  // ---- WordPiece-style greedy longest-match segmentation (the BERT
  // tokenizer's MaxMatch inference; Wu et al. 2016 / Devlin et al. 2018
  // describe the scheme publicly). Two differences from p66's unigram
  // Viterbi: the vocabulary is POSITION-CLASSED (word-initial pieces
  // and '##'-continuation pieces are distinct entries, the WordPiece
  // convention) and the segmentation is greedy longest-match, not a DP
  // argmax — so the per-word walk needs only a 12-slot greedy-length
  // array, no backpointers. All expression text is GENERATED once and
  // rendered into both dialects, the p66 discipline. -------------------

  /** WordPiece lexicon seed size (top (piece, class) rows by count);
    * all single-character pieces of each class are always added, so
    * every position of every word is matchable and the greedy needs no
    * UNK path. */
  private[graft] val wpSeed = 200

  /** The position-classed piece lexicon: (p, init, cnt) where init=1
    * marks word-initial occurrences. Substrings of length 1..4 over
    * the distinct word table (length ≤ 12), frequency-weighted —
    * vocabulary-bounded at any corpus size. */
  private[graft] def wpVocab(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame = {
    val w = bpeWords(s, dir).filter(length(col("w")) <= uniMaxWordLen)
    val occ = w.select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)),
              i -> transform(sequence(1, least($uniMaxPieceLen, length(w) - i + 1)),
                l -> named_struct('p', substring(w, i, l),
                  'init', CASE WHEN i = 1 THEN 1 ELSE 0 END))))""")).as("x"))
      .select(col("x.p").as("p"), col("x.init").as("init"), col("freq"))
      .groupBy(col("p"), col("init")).agg(sum(col("freq")).as("cnt"))
    val top = occ.orderBy(col("cnt").desc, col("p"), col("init")).limit(wpSeed)
    val chars = occ.filter(length(col("p")) === 1)
    top.unionByName(chars).distinct()
  }

  /** Generated greedy-walk text, dialect-rendered: g_i = longest vocab
    * match starting at 0-based position i (NULL past the word end);
    * then a 12-step saturating walk wpos/wlen/wpiece emitting each
    * matched piece ('##'-prefixed when continuation); seg = the
    * non-null pieces. Terminates in ≤ 12 steps because every
    * single-char piece of each class is in the vocabulary (g_i ≥ 1). */
  private[graft] def wpColumns(
      elemAt: (String, String) => String,
      arrayOf: Seq[String] => String,
      filterNotNull: String => String): Seq[(String, String)] = {
    val cols = Seq.newBuilder[(String, String)]
    for (i <- 0 until uniMaxWordLen) {
      val lens = math.min(uniMaxPieceLen, uniMaxWordLen - i) to 1 by -1
      cols += (s"g_$i" -> lens
        .map(l => s"WHEN cs_${i + l}_$i IS NOT NULL THEN $l")
        .mkString("CASE ", " ", " END"))
    }
    cols += ("g_arr" -> arrayOf((0 until uniMaxWordLen).map(i => s"g_$i")))
    cols += ("wpos_0" -> "0")
    for (k <- 1 to uniMaxWordLen) {
      cols += (s"wlen_$k" ->
        s"CASE WHEN wpos_${k - 1} >= length(w) THEN NULL ELSE ${elemAt("g_arr", s"wpos_${k - 1} + 1")} END")
      cols += (s"wpiece_$k" ->
        (s"CASE WHEN wlen_$k IS NULL THEN NULL ELSE " +
          s"(CASE WHEN wpos_${k - 1} = 0 THEN '' ELSE '##' END) || " +
          s"substring(w, wpos_${k - 1} + 1, wlen_$k) END"))
      cols += (s"wpos_$k" ->
        s"CASE WHEN wlen_$k IS NULL THEN wpos_${k - 1} ELSE wpos_${k - 1} + wlen_$k END")
    }
    cols += ("seg" -> filterNotNull(
      arrayOf((1 to uniMaxWordLen).map(k => s"wpiece_$k"))))
    cols.result()
  }

  /** Per-word greedy segmentation: (w, freq, seg ARRAY<STRING>). Same
    * shape as [[uniSegments]]: one candidate-grid explode + ONE
    * broadcast vocab join (keyed (piece, init)) pivoted to presence
    * columns, then the generated walk — pure per-row expressions, zero
    * shuffles beyond the word aggregation. */
  private[graft] def wpSegments(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame = {
    val words = bpeWords(s, dir).filter(length(col("w")) <= uniMaxWordLen)
      .select(col("w"), col("freq"))
    val vocab = wpVocab(s, dir)
    // r17 shape, the [[uniSegmentsFrom]] rewrite applied to the greedy
    // walk: the position-classed lexicon collapses to ONE broadcast map
    // (key "<init>:<piece>", value 1 — (p, init) is unique post-distinct)
    // and the per-word walk is a single `aggregate` expression. No
    // candidate explode, no 42-column pivot shuffle, no RDD barriers;
    // g/walk semantics unchanged (longest-match with the j <= length(w)
    // bound the candidate filter enforced, saturating 12-step walk), so
    // seg is bit-identical — the DuckDB mirror ([[duckWpCtes]], rendered
    // from [[wpColumns]]) is untouched and the oracle proves it.
    val vmap = vocab.groupBy().agg(
      map_from_entries(collect_list(struct(
        concat_ws(":", col("init").cast("string"), col("p")),
        lit(1)))).as("vmap"))
    // g[i+1] = longest piece length at 0-based position i: first l from
    // min(4, 12-i) down with (i+l <= len) and the classed piece present —
    // the generated CASE's order, so ties resolve identically
    val gEntries = (0 until uniMaxWordLen).map { i =>
      val lens = math.min(uniMaxPieceLen, uniMaxWordLen - i) to 1 by -1
      lens.map { l =>
        s"""WHEN ${i + l} <= length(w) AND try_element_at(vmap,
              '${if (i == 0) 1 else 0}:' || substring(w, ${i + 1}, $l))
              IS NOT NULL THEN $l"""
      }.mkString("CASE ", " ", " END")
    }
    val walkExpr =
      s"""aggregate(
            sequence(1, $uniMaxWordLen),
            named_struct('pos', CAST(0 AS INT),
                         'seg', CAST(array() AS ARRAY<STRING>)),
            (acc, k) -> CASE
              WHEN acc.pos >= length(w)
                   OR element_at(garr, acc.pos + 1) IS NULL THEN acc
              ELSE named_struct(
                'pos', CAST(acc.pos + element_at(garr, acc.pos + 1) AS INT),
                'seg', concat(acc.seg, array(
                  (CASE WHEN acc.pos = 0 THEN '' ELSE '##' END)
                    || substring(w, acc.pos + 1,
                         element_at(garr, acc.pos + 1))))) END)"""
    words.crossJoin(broadcast(vmap))
      .withColumn("garr", expr(s"array(${gEntries.mkString(", ")})"))
      .withColumn("seg", expr(s"($walkExpr).seg"))
      .select(col("w"), col("freq"), col("seg"))
  }

  /** The DuckDB mirror of [[wpVocab]]+[[wpSegments]] as CTE text up to
    * `wseg(w, freq, seg)` — the shared front of both p67 oracles. */
  private[graft] def duckWpCtes: String = {
    val gridVals = uniGrid.map { case (j, i) => s"($j, $i)" }.mkString(", ")
    val pivCols = uniGrid.map { case (j, i) =>
      s"MAX(CASE WHEN j = $j AND i = $i THEN hit END) AS cs_${j}_$i"
    }.mkString(", ")
    val layers = wpColumns(
      elemAt = (arr, idx) => s"$arr[$idx]",
      arrayOf = es => s"[${es.mkString(", ")}]",
      filterNotNull = a => s"list_filter($a, x -> x IS NOT NULL)"
    ).grouped(6).toSeq
    val chain = layers.zipWithIndex.map { case (layer, li) =>
      val prev = if (li == 0) "wdp0" else s"wdp$li"
      val defs = layer.map { case (name, text) => s"$text AS $name" }
        .mkString(",\n            ")
      s"""wdp${li + 1} AS MATERIALIZED (
          SELECT *,
            $defs
          FROM $prev)"""
    }.mkString(",\n        ")
    val last = s"wdp${layers.size}"
    s"""wwt AS (
          SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
          FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
          WHERE regexp_full_match(w, '[a-z]+') AND length(w) <= $uniMaxWordLen
          GROUP BY w),
        wocc AS (
          SELECT substr(t.w, CAST(i.i AS INTEGER), CAST(l.l AS INTEGER)) AS p,
            CASE WHEN i.i = 1 THEN 1 ELSE 0 END AS init,
            CAST(SUM(t.freq) AS BIGINT) AS cnt
          FROM wwt t
          CROSS JOIN range(1, ${uniMaxWordLen + 1}) i(i)
          CROSS JOIN range(1, ${uniMaxPieceLen + 1}) l(l)
          WHERE i.i + l.l - 1 <= length(t.w)
          GROUP BY 1, 2),
        wtop AS (SELECT p, init FROM wocc ORDER BY cnt DESC, p, init LIMIT $wpSeed),
        wvoc AS (SELECT p, init FROM wtop
          UNION SELECT p, init FROM wocc WHERE length(p) = 1),
        wcand AS (
          SELECT t.w, g.j, g.i,
            CASE WHEN g.i = 0 THEN 1 ELSE 0 END AS init,
            substr(t.w, CAST(g.i + 1 AS INTEGER), CAST(g.j - g.i AS INTEGER)) AS piece
          FROM wwt t CROSS JOIN (VALUES $gridVals) g(j, i)
          WHERE g.j <= length(t.w)),
        wsc AS (
          SELECT c.w, c.j, c.i,
            CASE WHEN v.p IS NOT NULL THEN 1 END AS hit
          FROM wcand c LEFT JOIN wvoc v
            ON v.p = c.piece AND v.init = c.init),
        wpiv AS (SELECT w, $pivCols FROM wsc GROUP BY w),
        wdp0 AS MATERIALIZED (
          SELECT t0.w, t0.freq AS freq, p.* EXCLUDE (w)
          FROM wpiv p JOIN wwt t0 ON t0.w = p.w),
        $chain,
        wseg AS (SELECT w, freq, seg FROM $last)"""
  }

  /** The unigram (p66) and WordPiece (p67) SEGMENT TABLES staged once
    * per corpus: (w, freq, seg) is vocabulary-bounded and tiny, but the
    * DP/greedy expression chains that produce it are the families'
    * dominant cost — p66/p66b/p69 (unigram) and p67/p67b/p69/p23b
    * (WordPiece) all read the same staged copy instead of re-running
    * the chain per consumer (the LrStage/BpeStage discipline). Dials
    * bake into the staging key. */
  private[graft] object UniSegStage {
    // tag v2: the staged schema widened from (w, freq, seg) to carry
    // the exact Viterbi path score ll (p66c/p66d read it) — versioned
    // so a shared staging dir rebuilds instead of breaking consumers
    def load(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame =
      ShingleStage.stage(s, dir, s"us${knobs.uniSeed}v2") {
        uniSegments(s, dir).repartition(1)
      }
  }

  /** The hard-EM ROUND-2 segmentation (E-step under the round-2
    * lexicon), staged like round 1: p66c reads both staged rounds
    * (before this stage it re-ran the round-1 DP chain in-plan — the
    * r12 bench's #1 line), and p66d unrolls round 3 from this copy.
    * Same versioned-tag/lifecycle discipline as [[UniSegStage]]. */
  private[graft] object UniSeg2Stage {
    def load(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame =
      ShingleStage.stage(s, dir, s"ue${knobs.uniSeed}") {
        uniSegmentsFrom(s, dir, uniVocab2(s, dir)).repartition(1)
      }
  }

  /** One hard-EM M-step: usage-count the previous round's staged
    * segmentation, drop unused multi-char pieces (single chars keep a
    * count-1 floor so coverage never breaks), re-estimate scores.
    * Vocabulary-bounded at any corpus size. */
  private[graft] def uniNextVocab(vPrev: DataFrame, segPrev: DataFrame)
      : DataFrame = {
    val used = segPrev.select(col("freq"), explode(col("seg")).as("p"))
      .groupBy(col("p")).agg(sum(col("freq")).as("u"))
    val kept = vPrev.join(used, Seq("p"), "left")
      .withColumn("u", coalesce(col("u"), lit(0L)))
      .filter(col("u") > 0 || length(col("p")) === 1)
      .withColumn("u2", when(length(col("p")) === 1,
        greatest(col("u"), lit(1L))).otherwise(col("u")))
    val tot2 = kept.agg(sum(col("u2")).as("vt"))
    kept.crossJoin(broadcast(tot2))
      .withColumn("score", expr(sln("u2") + " - " + sln("vt")))
      .select(col("p"), col("u2").as("cnt"), col("score"))
  }

  /** The round-2 lexicon: M-step over the staged round-1 segmentation. */
  private[graft] def uniVocab2(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame =
    uniNextVocab(uniVocab(s, dir), UniSegStage.load(s, dir))

  private[graft] object WpSegStage {
    def load(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame =
      ShingleStage.stage(s, dir, s"ws$wpSeed") {
        wpSegments(s, dir).repartition(1)
      }
  }

  /** ^[a-z]+$ as a char-map test: translate deletes every [a-z], so the
    * token matches iff nonempty and the deletion empties it — same
    * predicate as DuckDB's regexp_full_match, no per-token regex engine
    * (r17; this runs once per corpus TOKEN, the hottest scalar in the
    * tokenizer front). Shared helper (r18, ADVICE): every Spark-side
    * [a-z]+ word filter routes through here so the engines can never
    * disagree on newline-edge tokens (Java regex '$' matches before a
    * final line terminator; this test and the oracle do not). */
  private def lowerAlphaOnly(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c =!= "" && translate(c, "abcdefghijklmnopqrstuvwxyz", "") === ""

  /** The distinct lowercase-alpha word table with occurrence counts and
    * the per-symbol parenthesized encoding BPE iterates on. */
  private[graft] def bpeWordsRaw(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame =
    spread(s, docs(s, dir).select(col("text")))
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(lowerAlphaOnly(col("w")))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("enc", regexp_replace(col("w"), "(.)", "($1)"))

  /** The word table STAGED once per corpus (tag `bw1`) — the shared
    * front of the whole tokenizer family. Before staging, every
    * consumer (BPE fit p48/p00i, unigram p66 family ×2 lexicons + 3
    * segmentation rounds, WordPiece p67 family ×2) re-ran the
    * corpus-scale token explode + word aggregation from scratch — at
    * 100 TB that is the same full-corpus pass up to eight times per
    * suite run. Staged, the pass runs once and every consumer reads a
    * vocabulary-bounded columnar table (guide §2.4: remove shuffles
    * outright). Values are identical by determinism; the oracles keep
    * deriving the same table from `documents` in SQL. */
  private[graft] object BpeWordsStage {
    def load(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame =
      ShingleStage.stage(s, dir, "bw1") {
        bpeWordsRaw(s, dir).repartition(
          s.conf.get("spark.sql.shuffle.partitions").toInt, col("w"))
      }
  }

  private[graft] def bpeWords(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame =
    BpeWordsStage.load(s, dir)

  /** Adjacent symbol pairs of the current encoding, frequency-weighted. */
  private[graft] def bpePairs(words: DataFrame): DataFrame =
    words
      .withColumn("syms",
        expr("""split(substring(enc, 2, length(enc) - 2), '\\)\\(')"""))
      .filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(0, size(syms) - 2), i -> struct(syms[i] AS l, syms[i + 1] AS r))"))
        .as("pr"))
      .select(col("pr.l").as("l"), col("pr.r").as("r"), col("freq"))

  /** The round's winning pair: max total count, ties broken by the pair
    * itself — a TakeOrderedAndProject, never a global sort. */
  private[graft] def bpeBest(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("l"), col("r")).agg(sum(col("freq")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("l"), col("r")).limit(1)

  /** Apply a (one-row, broadcast) winning merge to every word's encoding.
    * LEFT join, not cross join: a round with NO remaining pairs (the
    * vocabulary fully merged before the dial ran out) must be a no-op on
    * the word table, not wipe it — the oracle mirrors the same shape. */
  private[graft] def bpeApply(words: DataFrame, best: DataFrame): DataFrame =
    words.join(broadcast(best.select(col("l").as("_l"), col("r").as("_r"))),
        lit(true), "left")
      .withColumn("enc", expr(
        """CASE WHEN _l IS NULL THEN enc
           ELSE replace(enc, '(' || _l || ')(' || _r || ')', '(' || _l || _r || ')')
           END"""))
      .drop("_l", "_r")

  /** The iterative merge fit with DRIVER-PACED rounds (r17): each
    * round's argmax is a bounded 1-row collect (≤ `knobs.bpeMerges` ≤ 12
    * rows total per fit — the MergeInto 1-row-aggregate class, not a
    * data collect) applied to the next round's encoding as LITERAL
    * replace arguments (symbols are [a-z]+ by construction, so inlining
    * is injection-safe). The previous shape kept every round's argmax
    * as a nested broadcast-join subplan, so round k's plan contained
    * k-1 nested aggregate+join trees — 366 Exchange nodes in p48's
    * physical plan, 3.9 s wall against 1.4 executor-seconds at sf0.1:
    * pure Catalyst analysis cost, growing with the dial. Driver-paced,
    * every round is one FLAT aggregation over the staged word table
    * with the merges so far as a chain of literal `replace` calls.
    * Returns the fully-merged word table and each round's argmax frame
    * (the frame, not the row, so p48's output keeps its exact plan
    * shape/schema). Merge choice and application are value-identical:
    * same count/tie-break argmax, same replace semantics, and an empty
    * round is a no-op exactly like [[bpeApply]]'s NULL branch. */
  private[graft] def bpeFit(s: SparkSession, dir: String)(implicit knobs: Knobs)
      : (DataFrame, Seq[DataFrame]) = {
    var cur = bpeWords(s, dir)
    val bests = (1 to knobs.bpeMerges).map { _ =>
      val bestDf = bpeBest(bpePairs(cur))
      bestDf.collect().headOption.foreach { row =>
        val l = row.getString(0)
        val r = row.getString(1)
        cur = cur.withColumn("enc",
          expr(s"replace(enc, '($l)($r)', '($l$r)')"))
      }
      bestDf
    }
    (cur, bests)
  }

  /** The trained BPE word table's END-STATE (w, freq, enc after all
    * `knobs.bpeMerges` rounds) staged once per corpus — p48b (trained
    * tokenizer applied) and p48c (fertility) both consume the same
    * fitted vocabulary, and the iterative fit is the expensive part;
    * re-deriving it per consumer triples the tokenizer family's
    * dominant cost (the LrStage/CellStage discipline). p48 itself keeps
    * its inline chain — the per-round merge rows ARE its output. The
    * merge dial is baked into the staging key. */
  private[graft] object BpeStage {
    def load(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame = {
      val ph = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${knobs.bpeMerges}".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      ShingleStage.stage(s, dir, s"bp$ph") {
        bpeFit(s, dir)._1.repartition(1)
      }
    }
  }

  /** The unrolled DuckDB mirror: bw0 (word table) then per round r the
    * pair counts (bp_r), the argmax (bb_r) and the merged table (bw_r).
    * Every CTE is MATERIALIZED: bw_{r-1} is referenced by both bp_r and
    * bw_r, and bb_r feeds the merge splice — with DuckDB's default CTE
    * inlining the chain re-expands the word count exponentially per
    * round (measured: a 6-round chain never finished); materialization
    * restores the once-per-CTE evaluation the Spark side gets from
    * ReuseExchange. */
  private def duckBpeChain(implicit knobs: Knobs): String = {
    val sb = new StringBuilder
    sb.append("""bw0 AS MATERIALIZED (
          SELECT w, COUNT(*) AS freq,
            regexp_replace(w, '(.)', '(\1)', 'g') AS enc
          FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
          WHERE regexp_full_match(w, '[a-z]+')
          GROUP BY w)""")
    (1 to knobs.bpeMerges).foreach { r =>
      val prev = s"bw${r - 1}"
      sb.append(s""",
        bp$r AS MATERIALIZED (
          SELECT pr.l AS l, pr.r AS r, SUM(freq) AS pair_count FROM (
            SELECT freq, unnest([{'l': syms[i], 'r': syms[i + 1]} FOR i IN range(1, len(syms))]) AS pr
            FROM (SELECT freq, string_split(substr(enc, 2, length(enc) - 2), ')(') AS syms FROM $prev))
          GROUP BY 1, 2),
        bb$r AS MATERIALIZED (
          SELECT l, r, pair_count FROM bp$r ORDER BY pair_count DESC, l, r LIMIT 1),
        bw$r AS MATERIALIZED (
          SELECT w, freq,
            CASE WHEN b.pat IS NULL THEN enc ELSE replace(enc, b.pat, b.rep) END AS enc
          FROM $prev LEFT JOIN (SELECT '(' || l || ')(' || r || ')' AS pat,
                                       '(' || l || r || ')' AS rep FROM bb$r) b ON TRUE)""")
    }
    sb.toString
  }

  // ---- corpus quality & data-selection family (p52-p54): Gopher
  // repetition-free quality rules, CCNet-style LM perplexity filtering,
  // and DSIR hashed-n-gram importance resampling. All three are the
  // published, load-bearing selection steps of real LLM pretraining
  // pipelines (Gopher: Rae et al. 2021 §A1.1; CCNet: Wenzek et al. 2020;
  // DSIR: Xie et al. 2023), re-expressed as declarative plans. ----------

  /** The Gopher required-stopword list (Rae et al. 2021 §A1.1). */
  private val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher metric/flag projection (adds n_words, mwl, stw, alr,
    * n_stop, pass to any frame with a `text` column) — per-row string
    * algebra shared VERBATIM by batch p52 and the streaming gate, so the
    * two are definitionally identical. Flags compare UNROUNDED metrics. */
  private[graft] def gopherMetrics(df: DataFrame): DataFrame = df
    .withColumn("arr", split(col("text"), " "))
    .withColumn("n_words", size(col("arr")).cast("bigint"))
    .withColumn("mwl",
      length(regexp_replace(col("text"), " ", "")).cast("double") / col("n_words"))
    .withColumn("stw", (
      (length(col("text")) - length(expr("replace(text, '#', '')"))).cast("double") +
        (length(col("text")) - length(expr("replace(text, '...', '')"))).cast("double") / 3.0
      ) / col("n_words"))
    .withColumn("alr",
      expr("CAST(size(filter(arr, w -> w rlike '[A-Za-z]')) AS DOUBLE)") / col("n_words"))
    .withColumn("n_stop", expr(
      s"CAST(size(filter(arr, w -> w IN (${gopherStops.map("'" + _ + "'").mkString(", ")}))) AS BIGINT)"))
    .withColumn("pass",
      col("n_words").between(50, 100000) && col("mwl").between(3.0, 10.0) &&
        col("stw") <= 0.1 && col("alr") >= 0.8 && col("n_stop") >= 2)

  /** Integer-scaled natural log: floor(ln(x)·1e8 + 0.5) as BIGINT. The
    * SQL text is valid in BOTH engines (ln/floor/CAST agree), and every
    * call site passes an INTEGER-valued argument, so the two engines feed
    * ln the identical double and the scaled result sums exactly (BIGINT)
    * in any accumulation order — the same order-proofing trick as the
    * p42 ADC LUTs, applied to log-probabilities. */
  private def sln(x: String): String =
    s"CAST(floor(ln(CAST(($x) AS DOUBLE)) * 100000000.0 + 0.5) AS BIGINT)"

  /** (doc_id, lang, w1, w2): adjacent-token bigrams of every document.
    * One row per position — the token stream a bigram LM conditions on. */
  private def docBigrams(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("arr"))
      .filter(size(col("arr")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(expr(
          "transform(sequence(0, size(arr)-2), i -> struct(arr[i] AS w1, arr[i+1] AS w2))"))
          .as("b"))
      .select(col("doc_id"), col("lang"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** The DuckDB mirror of [[docBigrams]]: parallel unnest of the two
    * shifted slices zips positionally (1-based inclusive slicing). */
  private val duckBigrams: String =
    """bg AS (SELECT doc_id, lang,
        unnest(arr[1:len(arr)-1]) AS w1, unnest(arr[2:len(arr)]) AS w2
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS arr FROM documents))"""

  /** Add-one-smoothed bigram LM fitted on the English slice (the CCNet
    * "reference corpus"): per-context counts c1(w1), per-bigram counts
    * c2(w1,w2), vocabulary size V over the reference token stream.
    * Size bound, honestly: m1 is vocabulary-bounded (V rows) but m2 is
    * DISTINCT-BIGRAM-bounded — it grows with reference-corpus token
    * mass (up to V², in practice ~linear in reference tokens until
    * saturation). The broadcast in [[lmDocNll]] therefore holds as long
    * as the REFERENCE corpus (a curated slice, not the 100 TB target)
    * stays at the usual CCNet scale; a 100 TB reference corpus needs the
    * pruned fallback documented in SCALE.md (count-threshold or top-N
    * bigrams per context — standard LM pruning; unpruned mass folds into
    * the smoothing floor) before the model ships to executors or to the
    * streaming literal maps. p(w2|w1) = (c2+1)/(c1+V) and the per-token
    * negative log-prob is sln(c1+V) − sln(c2+1) — two logs of integers. */
  private def lmModel(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val ref = docBigrams(s, dir).filter(col("lang") === "en")
    val m2 = ref.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val m1 = ref.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = docs(s, dir).filter(col("lang") === "en")
      .select(explode(split(col("text"), " ")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    (m2, m1, v)
  }

  /** [[lmModel]] fitted on the WHOLE corpus (no language filter) — the
    * "training distribution" model of p87's excess-loss pairing. Same
    * size posture: m1 vocabulary-bounded, m2 distinct-bigram-bounded
    * (the SCALE.md pruning fallback applies identically). */
  private def lmModelAll(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val all = docBigrams(s, dir)
    val m2 = all.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val m1 = all.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    (m2, m1, v)
  }

  /** p78's per-bigram Kneser-Ney score as ONE expression string rendered
    * into both engines (columns c1/c2/n1v/n1w/dd resolve identically on
    * the Spark joined frame and in the DuckDB `sc` CTE). Both CASE arms
    * are differences of [[sln]] logs of integer-valued arguments, so the
    * scaled sums are exact BIGINTs on both sides. Bounds: with D = B+V
    * and c1 <= reference tokens, 4·D·c1 stays far inside BIGINT for any
    * model that can broadcast at all. */
  private def knNlsExpr: String =
    "CASE WHEN c1 IS NULL THEN " + sln("dd") + " - " +
      sln("coalesce(n1w, 0) + 1") +
    " ELSE " + sln("4 * dd * c1") + " - " +
      sln("greatest(4 * coalesce(c2, 0) - 3, 0) * dd + 3 * n1v * (coalesce(n1w, 0) + 1)") +
    " END"

  /** The KN model as DuckDB CTEs (needs `bg`; defines `kn2` per-bigram
    * counts, `knc` context totals + distinct-successor counts, `knw`
    * continuation counts, `knd` the smoothing denominator D = B+V). */
  private def duckKnModelCtes: String =
    """kn2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
          FROM bg WHERE lang = 'en' GROUP BY 1, 2),
        knc AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
            CAST(count(*) AS BIGINT) AS n1v
          FROM kn2 GROUP BY 1),
        knw AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1w
          FROM kn2 GROUP BY 1),
        knd AS (SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM kn2)
            + (SELECT CAST(count(DISTINCT w) AS BIGINT)
               FROM (SELECT unnest(string_split(text, ' ')) AS w
                     FROM documents WHERE lang = 'en')) AS dd)"""

  /** The DuckDB mirror of [[lmModel]] (CTEs `m2`, `m1`, `refv`). */
  private val duckLmModel: String =
    """refv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents WHERE lang = 'en')),
      m2 AS (SELECT w1, w2, count(*) AS c2 FROM bg WHERE lang = 'en' GROUP BY 1, 2),
      m1 AS (SELECT w1, count(*) AS c1 FROM bg WHERE lang = 'en' GROUP BY 1)"""

  /** The fitted LM collected to driver maps for STREAMING scoring: the
    * whole fit ships as two literal lookup maps — per-bigram
    * `"w1 w2" → sln(c2+1)`, per-context `w1 → sln(c1+V)` — plus the
    * unseen-context constant sln(V). A stream scores each row statelessly
    * from these (no join, no state); parity with batch p53 is spec-proven.
    * Size caveat (see [[lmModel]]): the bigram map is bounded by the
    * reference corpus's DISTINCT bigrams, not by V; a driver collect and
    * a literal map in the plan both assume a curated-scale reference. If
    * the reference corpus outgrows driver memory / plan-size limits,
    * prune the model first (count threshold or top-N per context) —
    * scoring semantics degrade gracefully because pruned bigrams already
    * score as the smoothed (c2=0) floor. */
  /** The literal lookup maps the streaming LM gates ship inside the
    * plan. `maxBigrams` is the documented scale fallback for the
    * distinct-bigram bound (SCALE.md): keep only the top-N bigrams by
    * count (ties → bigram string); a PRUNED bigram then scores exactly
    * like an unseen one — sln(c1+V) instead of sln(c1+V) − sln(c2+1) —
    * which is strictly MORE perplexed, so pruning can only over-filter
    * borderline docs, never admit what the full model rejects. The
    * context map stays full (unigram-vocabulary-bounded already). */
  private[graft] def lmScoreMaps(s: SparkSession, dir: String,
      maxBigrams: Int = Int.MaxValue)
      : (Map[String, Long], Map[String, Long], Long) = {
    val (m2, m1, v) = lmModel(s, dir)
    val vv = v.collect()(0).getLong(0)
    def slnL(x: Long): Long =
      math.floor(math.log(x.toDouble) * 100000000.0 + 0.5).toLong
    val rows = m2.collect().map(r =>
      (r.getString(0) + " " + r.getString(1), r.getLong(2)))
    val kept =
      if (rows.length <= maxBigrams) rows
      else rows.sortBy { case (b, c) => (-c, b) }.take(maxBigrams)
    val mb = kept.map { case (b, c) => b -> slnL(c + 1L) }.toMap
    val mc = m1.collect().map(r =>
      r.getString(0) -> slnL(r.getLong(1) + vv)).toMap
    (mb, mc, slnL(vv))
  }

  /** [[lmScoreMaps]] for the WHOLE-CORPUS model ([[lmModelAll]]) — the
    * second literal model the streaming excess-loss gate ships. Same
    * size posture and the same prune-only-over-filters fallback. */
  private[graft] def lmScoreMapsAll(s: SparkSession, dir: String,
      maxBigrams: Int = Int.MaxValue)
      : (Map[String, Long], Map[String, Long], Long) = {
    val (m2, m1, v) = lmModelAll(s, dir)
    val vv = v.collect()(0).getLong(0)
    def slnL(x: Long): Long =
      math.floor(math.log(x.toDouble) * 100000000.0 + 0.5).toLong
    val rows = m2.collect().map(r =>
      (r.getString(0) + " " + r.getString(1), r.getLong(2)))
    val kept =
      if (rows.length <= maxBigrams) rows
      else rows.sortBy { case (b, c) => (-c, b) }.take(maxBigrams)
    val mb = kept.map { case (b, c) => b -> slnL(c + 1L) }.toMap
    val mc = m1.collect().map(r =>
      r.getString(0) -> slnL(r.getLong(1) + vv)).toMap
    (mb, mc, slnL(vv))
  }

  /** Per-document LM scores (doc_id, n_bigrams, oov_ratio, nll) — p53's
    * scoring front, shared with the sketch-bucketed scale path (p53c).
    * Model joins broadcast; nll sums are sln-scaled BIGINTs. */
  private def lmDocNll(s: SparkSession, dir: String): DataFrame = {
    val (m2, m1, v) = lmModel(s, dir)
    lmDocNllOn(s, dir, m2, m1, v)
  }

  /** [[lmDocNll]] generalized over the model triple — the same scoring
    * front run against any add-one bigram LM (p87 scores every document
    * under TWO models with this). */
  private def lmDocNllOn(s: SparkSession, dir: String,
      m2: DataFrame, m1: DataFrame, v: DataFrame): DataFrame = {
    docBigrams(s, dir)
      .join(broadcast(m2), Seq("w1", "w2"), "left")
      .join(broadcast(m1), Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .withColumn("nls",
        expr(sln("coalesce(c1, 0) + v") + " - " + sln("coalesce(c2, 0) + 1")))
      .withColumn("oov", when(col("c2").isNull, 1L).otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("oov")).as("n_oov"),
        sum(col("nls")).as("nll_sum"))
      .withColumn("oov_ratio",
        round(col("n_oov").cast("double") / col("n_bigrams"), 6))
      .withColumn("nll",
        round(col("nll_sum").cast("double") / 100000000.0 / col("n_bigrams"), 6))
  }

  /** The DuckDB mirror of [[lmDocNll]]: bigrams + model + per-doc
    * scores, ending at `rk` (doc_id, n_bigrams, oov_ratio, nll). */
  private def duckLmScoreCtes: String = s"""$duckBigrams,
        $duckLmModel,
        sc AS (SELECT g.doc_id,
            ${sln("coalesce(m1.c1, 0) + refv.v")} - ${sln("coalesce(m2.c2, 0) + 1")} AS nls,
            CASE WHEN m2.c2 IS NULL THEN 1 ELSE 0 END AS oov
          FROM bg g CROSS JOIN refv
          LEFT JOIN m2 ON g.w1 = m2.w1 AND g.w2 = m2.w2
          LEFT JOIN m1 ON g.w1 = m1.w1),
        ds AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
            sum(oov) AS n_oov, sum(nls) AS nll_sum
          FROM sc GROUP BY 1),
        rk AS (SELECT doc_id, n_bigrams,
            round(CAST(n_oov AS DOUBLE) / n_bigrams, 6) AS oov_ratio,
            round(CAST(nll_sum AS DOUBLE) / 100000000.0 / n_bigrams, 6) AS nll
          FROM ds)"""

  /** The fitted corpus's own mean bigram-OOV rate under the fitted LM —
    * the baseline the streaming drift monitor compares arriving windows
    * against (the lm analog of [[pqSseBaseline]]). One broadcast join +
    * one aggregate over the model corpus. */
  private[graft] def lmOovBaseline(s: SparkSession, dir: String): Double = {
    val (m2, _, _) = lmModel(s, dir)
    val r = docBigrams(s, dir)
      .join(broadcast(m2), Seq("w1", "w2"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("c2").isNull, 1L).otherwise(0L)).as("o"))
      .collect()(0)
    r.getLong(1).toDouble / r.getLong(0)
  }

  /** Hashed unigram+bigram features per document: (doc_id, lang, b) with
    * b = md560(feature) mod `knobs.dsirBuckets` — the DSIR representation.
    * Feature text dies at the hash; downstream moves 8-byte ints. */
  private def dsirFeatures(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame = {
    val uni = docs(s, dir)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), col("lang"), (md560(col("w")) % knobs.dsirBuckets).as("b"))
    val bi = docBigrams(s, dir)
      .select(col("doc_id"), col("lang"),
        (md560(concat(col("w1"), lit(" "), col("w2"))) % knobs.dsirBuckets).as("b"))
    uni.unionAll(bi)
  }

  /** The DuckDB mirror of [[dsirFeatures]] (CTEs `tk`, `ft`; needs `bg`). */
  private def duckDsirFeatures(implicit knobs: Knobs): String =
    s"""tk AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
      ft AS (SELECT doc_id, lang, (${duckMd560("w")}) % ${knobs.dsirBuckets} AS b FROM tk
        UNION ALL
        SELECT doc_id, lang, (${duckMd560("w1 || ' ' || w2")}) % ${knobs.dsirBuckets} AS b FROM bg)"""

  // ---- trained quality classifier (p55/p55b): sparse logistic
  // regression over hashed n-gram features, the GPT-3/PaLM-style
  // "looks like the reference corpus" filter (Brown et al. 2020 §A;
  // the fasttext-shaped selection step), TRAINED as deterministic
  // batch gradient descent with ALL cross-iteration state held as
  // integer-scaled BIGINTs: per-(doc,bucket) tf is floor(n·10⁶/dl+0.5),
  // weights are scaled BIGINTs, margins are exact integer dot products,
  // and each step's per-doc residual and per-bucket gradient are
  // floor-scaled before summing — so the entire training trajectory is
  // exact integer arithmetic plus a per-doc sigmoid of an identical
  // double, reproducible bit-for-bit on any engine and any
  // aggregation order. ------------------------------------------------

  /** GD iterations (fixed — part of the model's identity). */
  private[graft] val lrIters = 12
  /** Per-round learning rate: 100/t decay. Full-batch GD with a constant
    * step oscillates period-2 on this objective (measured: top-k
    * precision flip-flopped 35↔72 with (T, η) parity); the classical 1/t
    * decay damps the oscillation — both validation corpora stabilize at
    * ~72/100 top-k reference-class precision from round ~6 on. Each
    * round's η is a Scala-computed constant interpolated into BOTH
    * engines, so the schedule cannot diverge them. */
  private[graft] def lrEtaAt(it: Int): Double = 100.0 / it

  /** Per-(doc, bucket) integer-scaled tf features + the intercept
    * bucket (-1, tf = 10⁶): (doc_id, y, b, c). Bucket space is
    * `knobs.dsirBuckets`; y = "is reference corpus" (the English slice). */
  private[queries] def lrFeatures(s: SparkSession, dir: String)(
      implicit knobs: Knobs): DataFrame = {
    val raw = dsirFeatures(s, dir)
    val fdl = raw.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val tf = raw.groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("nb"))
      .join(fdl, Seq("doc_id"))
      .select(col("doc_id"),
        when(col("lang") === "en", 1).otherwise(0).as("y"), col("b"),
        expr("CAST(floor(CAST(nb AS DOUBLE) * 1000000.0 / dl + 0.5) AS BIGINT)").as("c"))
    val intercept = docs(s, dir)
      .select(col("doc_id"), when(col("lang") === "en", 1).otherwise(0).as("y"),
        lit(-1L).as("b"), lit(1000000L).as("c"))
    tf.unionAll(intercept)
  }

  /** The per-doc sigmoid residual, floor-scaled — textually identical in
    * both engines (`ms` is the exact integer margin, `y` the label). */
  private[queries] val lrPdExpr: String =
    "CAST(floor(((1.0/(1.0 + exp(-(CAST(ms AS DOUBLE)/100000000000000.0)))) - y)" +
      "*100000000.0 + 0.5) AS BIGINT)"

  /** The fitted weight table staged once per corpus (the CellStage/
    * PqStage discipline applied to classifier training): [[lrIters]]
    * rounds of batch GD, each round two aggregations over the cached
    * feature table — per-doc margins/residuals (shuffle on doc_id),
    * per-bucket gradients (shuffle on b) — with the ≤ dsirBuckets+1-row
    * weight state collected to the driver between rounds (bounded by
    * the DIAL, never the corpus, like the PQ SDC table) and shipped
    * back as a literal lookup map. Schema: (b, ws). */
  private[graft] object LrStage {
    def load(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame = {
      // the fitted weights depend on the bucket dial (and the fixed
      // schedule): bake it into the staging key so two runs sharing one
      // staging root with different dsirBuckets never read each other's
      // model (the CellStage/PqStage discipline)
      val params = s"${knobs.dsirBuckets}-$lrIters"
      val ph = java.security.MessageDigest.getInstance("MD5")
        .digest(params.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      ShingleStage.stage(s, dir, s"lr$ph") {
        import s.implicits._
        fitWeights(s, dir).toSeq.map { case (b, ws) => (b, ws) }
          .toDF("b", "ws").repartition(1)
      }
    }

    /** The 12-round GD trajectory itself. Two paths, bit-identical by
      * construction (exact BIGINT feature sums; the same double
      * expression for the sigmoid residual — [[lrPdExpr]] textually on
      * the distributed side, the same IEEE ops in Scala on the driver
      * side; spec-pinned equal):
      *
      *   - DRIVER path (feature rows ≤ `-Dgraft.lrDriverRows`, default
      *     2M): collect the per-(doc,bucket) features once and run the
      *     rounds in-process — the dial-guarded driver pattern the
      *     connected-components stage already uses. At validation scale
      *     each distributed round is pure job overhead (0.3-0.9 s for a
      *     sub-400k-row table), so 12 rounds of it was the #1 bench
      *     line; the driver loop is microseconds.
      *   - DISTRIBUTED path (above the dial, and the only shape that
      *     holds at 100 TB): one fused job per round over the doc_id-
      *     partitioned cache — weights arrive as a broadcast join
      *     (dial-bounded, never corpus-bounded), the margin aggregation
      *     carries each doc's (b, c) features along via collect_list
      *     (bounded per doc by the bucket dial), and the gradient is an
      *     explode + map-side-combined bucket sum in the SAME job, so
      *     nothing corpus-sized is ever broadcast or re-shuffled. */
    private[graft] def fitWeights(s: SparkSession, dir: String,
        forceDistributed: Boolean = false)(implicit knobs: Knobs): Map[Long, Long] = {
      // persist WITHOUT pre-partitioning (r17): the doc_id repartition
      // only pays off on the DISTRIBUTED path, where 12 rounds of
      // groupBy(doc_id) reuse the cached partitioning; the driver path
      // (validation scale) collects once and the repartition was a pure
      // wasted shuffle of the whole feature table. The distributed
      // branch re-partitions (and re-persists) itself below. Values are
      // path-independent — every per-bucket/per-doc sum is an exact
      // BIGINT, order-free.
      val ftc0 = lrFeatures(s, dir).persist()
      var ftc = ftc0
      try {
        val nDocs = docsCount(s, dir)
        val nRows = ftc.count()
        val cap = knobs.lrDriverRows
        var wm = Map.empty[Long, Long]
        if (!forceDistributed && nRows <= cap) {
          val docsF = ftc.select(col("doc_id"), col("y"), col("b"), col("c"))
            .collect().groupBy(_.getLong(0)).iterator.map { case (_, rs) =>
              (rs.head.getInt(1), rs.map(r => (r.getLong(2), r.getLong(3))))
            }.toArray
          (1 to lrIters).foreach { it =>
            val g = scala.collection.mutable.Map.empty[Long, Long]
              .withDefaultValue(0L)
            docsF.foreach { case (y, tf) =>
              var ms = 0L
              tf.foreach { case (b, c) => ms += c * wm.getOrElse(b, 0L) }
              val pd = math.floor(
                (1.0 / (1.0 + math.exp(-(ms.toDouble / 100000000000000.0))) - y)
                  * 100000000.0 + 0.5).toLong
              tf.foreach { case (b, c) => g(b) += c * pd }
            }
            g.foreach { case (b, gg) =>
              val delta = math.floor(
                gg.toDouble / 1000000.0 / nDocs * lrEtaAt(it) + 0.5).toLong
              wm = wm.updated(b, wm.getOrElse(b, 0L) - delta)
            }
          }
        } else {
          // distributed path: NOW pre-partition on doc_id so the 12
          // per-round groupBys reuse one cached partitioning
          ftc = ftc0.repartition(col("doc_id")).persist()
          (1 to lrIters).foreach { it =>
          val withWv =
            if (wm.isEmpty) ftc.withColumn("wv", lit(0L))
            else {
              import s.implicits._
              val wDf = wm.toSeq.toDF("b", "wsv")
              ftc.join(broadcast(wDf), Seq("b"), "left")
                .withColumn("wv", coalesce(col("wsv"), lit(0L)))
            }
          val g = withWv
            .groupBy(col("doc_id"), col("y"))
            .agg(sum(col("c") * col("wv")).as("ms"),
              collect_list(struct(col("b"), col("c"))).as("feats"))
            .withColumn("pd", expr(lrPdExpr))
            .select(explode(col("feats")).as("f"), col("pd"))
            .groupBy(col("f.b")).agg(sum(col("f.c") * col("pd")).as("g"))
            .collect()
          g.foreach { r =>
            val (b, gg) = (r.getLong(0), r.getLong(1))
            val delta = math.floor(
              gg.toDouble / 1000000.0 / nDocs * lrEtaAt(it) + 0.5).toLong
            wm = wm.updated(b, wm.getOrElse(b, 0L) - delta)
          }
        } }
        wm
      } finally { ftc0.unpersist(); if (ftc ne ftc0) ftc.unpersist(); () }
    }
  }

  /** The fitted DSIR bucket table collected for STREAMING scoring:
    * bucket → integer-scaled log-ratio, plus the unseen-bucket default
    * (ct = cr = 0 in the smoothed formula — a bucket the fitted corpus
    * never produced). Bucket-bounded (≤ dsirBuckets rows), the
    * lmScoreMaps discipline. */
  private[graft] def dsirWeightMaps(s: SparkSession, dir: String)(
      implicit knobs: Knobs): (Map[Long, Long], Long) = {
    val ft = dsirFeatures(s, dir)
    val ct = ft.filter(col("lang") === "en")
      .groupBy(col("b")).agg(count(lit(1)).as("tc"))
    val cr = ft.groupBy(col("b")).agg(count(lit(1)).as("rc"))
    val st = ft.agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("nt"),
      count(lit(1)).as("nr"))
    val lw = cr.join(broadcast(ct), Seq("b"), "left")
      .crossJoin(broadcast(st))
      .withColumn("lwt", expr(
        sln("coalesce(tc, 0) + 1") + s" - ${sln(s"nt + ${knobs.dsirBuckets}")}" +
          s" - ${sln("rc + 1")} + ${sln(s"nr + ${knobs.dsirBuckets}")}"))
    val stRow = st.collect()(0)
    val (nt, nr) = (stRow.getLong(0), stRow.getLong(1))
    def slnL(x: Long): Long =
      math.floor(math.log(x.toDouble) * 100000000.0 + 0.5).toLong
    val default = slnL(nr + knobs.dsirBuckets) - slnL(nt + knobs.dsirBuckets)
    (lw.select(col("b"), col("lwt")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap, default)
  }

  /** Per-document classifier scores (doc_id, y, score_r) against the
    * STAGED weights — p55's scoring front, shared with the
    * Pareto-threshold sampler (p61). */
  private def lrDocScores(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame = {
    val w = LrStage.load(s, dir)
    lrFeatures(s, dir).join(broadcast(w), Seq("b"))
      .groupBy(col("doc_id"), col("y"))
      .agg(sum(col("c") * col("ws")).as("ms"))
      .withColumn("score_r", round(expr(
        "1.0/(1.0 + exp(-(CAST(ms AS DOUBLE)/100000000000000.0)))"), 6))
  }

  /** The DuckDB mirror of [[lrDocScores]] (CTE `lsc`; needs the fit
    * chain's `lftc` and `lw<lrIters>`). */
  private def duckLrScoreCte: String =
    s"""lsc AS (SELECT f.doc_id, any_value(f.y) AS y,
            round(1.0/(1.0 + exp(-(CAST(sum(f.c * w.ws) AS DOUBLE)/100000000000000.0))), 6) AS score_r
          FROM lftc f JOIN lw$lrIters w ON f.b = w.b GROUP BY f.doc_id)"""

  /** The DuckDB mirror of the whole LR fit: the feature CTE then per
    * round r the per-doc residuals (lpd_r) and the updated weights
    * (lw_r), every CTE MATERIALIZED for the same reason as
    * [[duckBpeChain]] (default CTE inlining re-expands the chain
    * exponentially). `lw0` seeds every observed bucket at 0. */
  private def duckLrChain: String = {
    val sb = new StringBuilder
    sb.append(s"""lfdl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM ft GROUP BY 1),
      lftc AS MATERIALIZED (
        SELECT f.doc_id, CASE WHEN any_value(f.lang) = 'en' THEN 1 ELSE 0 END AS y, f.b,
          CAST(floor(CAST(count(*) AS DOUBLE) * 1000000.0 / any_value(d.dl) + 0.5) AS BIGINT) AS c
        FROM ft f JOIN lfdl d ON f.doc_id = d.doc_id GROUP BY f.doc_id, f.b
        UNION ALL
        SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
          -1 AS b, CAST(1000000 AS BIGINT) AS c
        FROM documents),
      lrn AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS cnt FROM lftc),
      lw0 AS (SELECT DISTINCT b, CAST(0 AS BIGINT) AS ws FROM lftc)""")
    (1 to lrIters).foreach { r =>
      val prev = s"lw${r - 1}"
      sb.append(s""",
      lpd$r AS MATERIALIZED (
        SELECT doc_id, y, $lrPdExpr AS pd FROM (
          SELECT f.doc_id, any_value(f.y) AS y, sum(f.c * w.ws) AS ms
          FROM lftc f JOIN $prev w ON f.b = w.b GROUP BY f.doc_id)),
      lw$r AS MATERIALIZED (
        SELECT w.b,
          w.ws - CAST(floor(CAST(g.g AS DOUBLE)/1000000.0/lrn.cnt*${lrEtaAt(r)} + 0.5) AS BIGINT) AS ws
        FROM $prev w, lrn
        JOIN (SELECT f.b, sum(f.c * p.pd) AS g
              FROM lftc f JOIN lpd$r p ON f.doc_id = p.doc_id GROUP BY 1) g
        ON w.b = g.b)""")
    }
    sb.toString
  }

  /** Entry `name` of the inventory over `knobs`, for entries built on
    * another entry's result. */
  private def entry(name: String)(implicit knobs: Knobs): QDef =
    defsFor.find(_.name == name).get

  /** The inventory over the knobs the JVM started with. */
  lazy val defs: Seq[QDef] = defsFor(Knobs.jvm)

  // one inventory per distinct Knobs value; values come only from code
  // (Knobs.jvm and test/bench copies), never from a statement, so the
  // map stays as small as the set of configurations a process names
  private val inventories = new java.util.concurrent.ConcurrentHashMap[Knobs, Seq[QDef]]()

  /** The inventory over `knobs`, built once per value: every Spark plan,
    * oracle string and staging key in it reads this one value, so the two
    * engines always observe the same dials. */
  def defsFor(implicit knobs: Knobs): Seq[QDef] =
    inventories.computeIfAbsent(knobs, k => build(k))

  private def build(implicit knobs: Knobs): Seq[QDef] = Seq(

    // ---- exact dedup: hash-groupBy, keep lowest doc_id. The group key
    // is the 128-bit md5 fingerprint, not the document text: at 100 TB
    // the dedup shuffle moves 32 bytes per document instead of the whole
    // body. The oracle groups on the same fingerprint. ------------------
    QDef("p01_dedup_exact",
      (s, dir) => docs(s, dir)
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("keep_id")),
      Some("""SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        FROM documents GROUP BY md5(text) ORDER BY keep_id""")),

    // ---- n-gram Jaccard near-dup: inverted index self-join ------------
    QDef("p02_dedup_ngram_jaccard",
      (s, dir) => jaccardPairs(s, dir).orderBy(col("a_id"), col("b_id")),
      Some(s"""WITH $duckGuardedPairCtes
        SELECT a_id, b_id,
          CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
        FROM pr JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
        ORDER BY a_id, b_id""")),

    // ---- MinHash + LSH banding: candidate pairs then exact verify -----
    // The hash family is one engine-portable md560 per shingle permuted by
    // the universal-hash coefficients above, so the oracle reproduces the
    // identical signatures, bands, candidate set and final pairs — a full
    // hash-matched check, not rows-only. The band key is the raw 4-tuple
    // of signature values (a struct, not a re-hash): equality is exactly
    // band-signature equality in both engines.
    QDef("p03_dedup_minhash_lsh",
      (s, dir) => {
        val numHashes = 32
        val bands = 8 // 8 bands x 4 rows
        val rowsPerBand = numHashes / bands
        val sh = shingles(s, dir)
        // signature[i] = min over shingles of (a_i·h31 + b_i) mod p, where
        // h31 is the 31-bit reduction of the staged md560 column — no
        // hashing happens at query time at all
        val sh31 = sh.select(col("doc_id"),
          (col("h") % lit(minhashP)).as("h31"))
        val sigCols = minhashCoef.take(numHashes).zipWithIndex.map {
          case ((a, b), i) =>
            min((col("h31") * lit(a) + lit(b)) % lit(minhashP)).as(s"h$i")
        }
        val sigs = sh31.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
        val bandCols = (0 until bands).map { b =>
          // uniform inner field names (r0..r3): array(b0..b7) requires every
          // band struct to have the identical type, so the signature fields
          // are positional, not named after their source column
          val parts = (0 until rowsPerBand).map(r =>
            col(s"h${b * rowsPerBand + r}").as(s"r$r"))
          struct(lit(b).as("band"), struct(parts: _*).as("sig")).as(s"b$b")
        }
        val banded = sigs.select(col("doc_id") +: bandCols: _*)
          .select(col("doc_id"), explode(array((0 until bands).map(b => col(s"b$b")): _*)).as("bk"))
          .select(col("doc_id"), col("bk.band").as("band"), col("bk.sig").as("sig"))
        val candidates = banded.select(col("doc_id").as("a_id"), col("band"), col("sig"))
          .join(banded.select(col("doc_id").as("b_id"), col("band"), col("sig")),
            Seq("band", "sig"))
          .filter(col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id")).distinct()
        // exact-verify ONLY the candidate pairs: expand each candidate by
        // doc A's shingles, then inner-join doc B's shingles on (b_id,
        // shingle) to count the intersection. Cost is O(candidates x
        // shingles-per-doc), not the full quadratic shingle self-join —
        // that asymmetry is the whole point of the LSH pass. The join key
        // is the 60-bit shingle hash, not the string: at 100 TB the
        // shuffle moves 8 bytes per shingle instead of ~30.
        val shh = sh.select(col("doc_id"), col("h").as("hs"))
        val sz = shh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
        val inter = candidates
          .join(shh.select(col("doc_id").as("a_id"), col("hs")), "a_id")
          .join(shh.select(col("doc_id").as("b_id"), col("hs")),
            Seq("b_id", "hs"))
          .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
        inter
          .join(sz.select(col("doc_id").as("a_id"), col("sz").as("sza")), "a_id")
          .join(sz.select(col("doc_id").as("b_id"), col("sz").as("szb")), "b_id")
          .withColumn("jaccard",
            col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
          .filter(col("jaccard") >= 0.5)
          .select(col("a_id"), col("b_id"), col("jaccard"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS arr FROM documents
          WHERE len(string_split(text, ' ')) >= 3),
        sh0 AS (
          SELECT doc_id, unnest(list_distinct(
            [arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] FOR i IN range(1, len(arr) - 1)])) AS shingle
          FROM toks),
        nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        sh1 AS (SELECT doc_id, ${duckMd560("shingle")} AS h FROM sh0),
        hot AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM sh1 GROUP BY h) d, nd
                WHERE CAST(d.df AS DOUBLE) > greatest(5.0, CAST(nd.n_docs AS DOUBLE) * 0.01)),
        sh AS (SELECT doc_id, h FROM sh1 WHERE h NOT IN (SELECT h FROM hot)),
        hs31 AS (
          SELECT doc_id, h % 2147483647 AS h31 FROM sh),
        coefs(i, a, b) AS (VALUES ${minhashCoef.zipWithIndex
            .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")}),
        sig AS (
          SELECT doc_id, i, MIN((h31 * a + b) % 2147483647) AS h
          FROM hs31 CROSS JOIN coefs GROUP BY doc_id, i),
        band AS (
          SELECT doc_id, CAST(i // 4 AS INTEGER) AS band, list(h ORDER BY i) AS sig
          FROM sig GROUP BY doc_id, CAST(i // 4 AS INTEGER)),
        cand AS (
          SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM band a JOIN band b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        shh AS (SELECT doc_id, h AS hs FROM sh),
        sz AS (SELECT doc_id, COUNT(*) AS sz FROM shh GROUP BY doc_id),
        inter AS (
          SELECT c.a_id, c.b_id, COUNT(*) AS inter
          FROM cand c
          JOIN shh a ON a.doc_id = c.a_id
          JOIN shh b ON b.doc_id = c.b_id AND b.hs = a.hs
          GROUP BY 1, 2)
        SELECT i.a_id, i.b_id,
          CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) AS jaccard
        FROM inter i JOIN sz sa ON sa.doc_id = i.a_id JOIN sz sb ON sb.doc_id = i.b_id
        WHERE CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) >= 0.5
        ORDER BY a_id, b_id""")),

    // ---- SimHash near-dup: 64-bit fingerprint + banded hamming join ---
    // Token hashes are the engine-portable md560 (not xxhash64), and the
    // SimHash64 expression's strict-majority rule (votes > 0 over ±1 per
    // token, duplicates counted) is mirrored bit-for-bit in the oracle's
    // per-position sign sums — a full hash-matched check. md560 < 2⁶⁰, so
    // fingerprint bits 60–63 vote all-negative and are 0 in both engines.
    QDef("p04_dedup_simhash",
      (s, dir) => {
        val hashed = spread(s, docs(s, dir).select(col("doc_id"), col("text")))
          .select(col("doc_id"),
            expr("simhash64(transform(split(text, ' '), " +
              "t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)))").as("sh"))
        // 4 bands of 16 bits: near-dups (hamming <= 3) must collide on
        // at least one full band.
        val banded = hashed.select(col("doc_id"), col("sh"),
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("band"),
              shiftrightunsigned(col("sh"), b * 16).bitwiseAND(lit(0xFFFFL)).as("chunk"))): _*))
            .as("bk"))
          .select(col("doc_id"), col("sh"), col("bk.band"), col("bk.chunk"))
        banded.select(col("doc_id").as("a_id"), col("sh").as("sha"), col("band"), col("chunk"))
          .join(banded.select(col("doc_id").as("b_id"), col("sh").as("shb"), col("band"), col("chunk")),
            Seq("band", "chunk"))
          .filter(col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            bit_count(col("sha").bitwiseXOR(col("shb"))).as("hamming"))
          .distinct()
          .filter(col("hamming") <= 3)
          .orderBy(col("a_id"), col("b_id"))
      },
      Some(s"""WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        th AS (SELECT doc_id, md5(t) AS m FROM tok),
        hb AS (SELECT doc_id, ${duckHex60("m")} AS h FROM th),
        bits AS (
          SELECT doc_id, j,
            CASE WHEN SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0
                 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END AS bv
          FROM hb CROSS JOIN range(0, 60) r(j)
          GROUP BY doc_id, j),
        fp AS (SELECT doc_id, CAST(SUM(bv) AS BIGINT) AS sh FROM bits GROUP BY doc_id),
        banded AS (
          SELECT doc_id, sh, b.band, (sh >> CAST(b.band * 16 AS INTEGER)) & 65535 AS chunk
          FROM fp CROSS JOIN range(0, 4) b(band)),
        pairs AS (
          SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
            CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
        SELECT a_id, b_id, hamming FROM pairs
        WHERE hamming <= 3 ORDER BY a_id, b_id""")),

    // ---- brute-force cosine KNN (exact baseline) ----------------------
    QDef("p05_knn_exact",
      // the guarded all-pairs build lives in TruthStage (p00g): built
      // once per corpus, read here and by every p35 recall line
      (s, dir) => TruthStage.loadKnn(s, dir)
        .orderBy(col("qid"), col("rank")),
      Some(s"""WITH sims AS (
          SELECT a.vec_id AS qid, b.vec_id AS cid,
            list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) FOR i IN range(1, len(a.embedding) + 1)])
              / (sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE) FOR i IN range(1, len(a.embedding) + 1)]))
               * sqrt(list_sum([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) FOR i IN range(1, len(b.embedding) + 1)]))) AS sim
          FROM ${duckEvalFrom("embeddings", "a")} JOIN embeddings b ON a.vec_id <> b.vec_id),
        ranked AS (
          SELECT qid, cid, sim,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INTEGER) AS rank
          FROM sims)
        SELECT qid, cid AS neighbor_id, rank, round(sim, 6) AS sim_r
        FROM ranked WHERE rank <= 5 ORDER BY qid, rank""")),

    // ---- LSH-bucketed ANN (the scale path) ----------------------------
    QDef("p06_knn_lsh",
      (s, dir) => {
        val e = emb(s, dir)
        // plane count follows the corpus (np = ceil(log2(n/64)), floor 2):
        // the count is one aggregate-pushdown scan, and the bucket space
        // 2^np tracks n so expected bucket population stays ~64 at any
        // scale — the candidate budget is ~64 per query by construction
        val np = lshNumPlanes(embCount(s, dir))
        val q = e.select(col("vec_id").as("qid"), col("embedding").as("qv"),
          lshBucketCol(np, col("embedding")).as("bucket"))
        val c = e.select(col("vec_id").as("cid"), col("embedding").as("cv"),
          lshBucketCol(np, col("embedding")).as("bucket"))
        val rn = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
        q.join(c, Seq("bucket")).filter(col("qid") =!= col("cid"))
          .withColumn("sim", expr("cosine_sim(qv, cv)"))
          .withColumn("rank", row_number().over(rn))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("cid").as("neighbor_id"), col("rank"),
            round(col("sim"), 6).as("sim_r"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH np AS (SELECT $duckLshNp AS np),
        buck AS (
          SELECT vec_id, embedding, ${duckLshBucket("embedding")} AS bucket
          FROM embeddings, np),
        sims AS (
          SELECT a.vec_id AS qid, b.vec_id AS cid,
            ${duckCosine("a.embedding", "b.embedding")} AS sim
          FROM buck a JOIN buck b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        ranked AS (
          SELECT qid, cid, sim,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INTEGER) AS rank
          FROM sims)
        SELECT qid, cid AS neighbor_id, rank, round(sim, 6) AS sim_r
        FROM ranked WHERE rank <= 5 ORDER BY qid, rank""")),

    // ---- multi-table LSH ANN (banded OR-construction): L=4 independent
    // hyperplane tables; a candidate pair collides in ANY table. Lifts
    // the single-table collision ceiling (≈ agree^np per pair) toward
    // 1-(1-agree^np)^L at L× the candidate budget — the textbook remedy
    // for exactly the recall p35 measures on p06. Candidate generation
    // stays an equi-join on (t, bucket) band keys (the p03 shape); the
    // pair set dedups on 8-byte ids BEFORE re-joining embeddings, so the
    // distinct shuffle carries ids, never vectors. ------------------------
    QDef("p37_knn_lsh_multi",
      (s, dir) => {
        val e = emb(s, dir)
        val np = lshNumPlanes(embCount(s, dir))
        val b = e.select(col("vec_id"),
          lshMultiBuckets(np, col("embedding")).as(Seq("t", "bucket")))
        val cand = b.select(col("vec_id").as("qid"), col("t"), col("bucket"))
          .join(b.select(col("vec_id").as("cid"), col("t"), col("bucket")),
            Seq("t", "bucket"))
          .filter(col("qid") =!= col("cid"))
          .select(col("qid"), col("cid")).distinct()
        val rn = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
        cand
          .join(e.select(col("vec_id").as("qid"), col("embedding").as("qv")), "qid")
          .join(e.select(col("vec_id").as("cid"), col("embedding").as("cv")), "cid")
          .withColumn("sim", expr("cosine_sim(qv, cv)"))
          .withColumn("rank", row_number().over(rn))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("cid").as("neighbor_id"), col("rank"),
            round(col("sim"), 6).as("sim_r"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH np AS (SELECT $duckLshNp AS np),
        mbuck AS MATERIALIZED (
          ${duckLshMultiBuckets("embedding")}),
        cand AS (
          SELECT DISTINCT a.vec_id AS qid, b.vec_id AS cid
          FROM mbuck a JOIN mbuck b
            ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        sims AS (
          SELECT c.qid, c.cid, ${duckCosine("ea.embedding", "eb.embedding")} AS sim
          FROM cand c
          JOIN embeddings ea ON ea.vec_id = c.qid
          JOIN embeddings eb ON eb.vec_id = c.cid),
        ranked AS (
          SELECT qid, cid, sim,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INTEGER) AS rank
          FROM sims)
        SELECT qid, cid AS neighbor_id, rank, round(sim, 6) AS sim_r
        FROM ranked WHERE rank <= 5 ORDER BY qid, rank""")),

    // ---- IVF-style ANN: coarse-quantize to the staged k-means cells
    // (CellStage — k grows with n), probe the nprobe nearest cells, score
    // only their members. Cell assignment/probing is the zero-shuffle
    // broadcast top-k of nearestCells; candidate generation is one equi-
    // join on the cell id — no quadratic pair shuffle anywhere. ----------
    QDef("p16_knn_ivf",
      (s, dir) => {
        val e = emb(s, dir)
        val nprobe = ivfNprobe(ivfK(embCount(s, dir)))
        // two-level descent: ~sqrt(k) super-centroid scores, then only
        // the probed super-cells' members — never all k cells per vector
        val top = nearestCellsStaged(s, dir,
          e.select(col("vec_id"), col("embedding")), nprobe)
        // membership = nearest candidate cell; probe list = nprobe nearest
        val assigned = top.filter(col("crank") === 1)
          .select(col("vec_id").as("cid"), col("cell"), col("embedding").as("cv2"))
        val probes = top
          .select(col("vec_id").as("qid"), col("cell"), col("embedding").as("qv"))
        val rn = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
        probes.join(assigned, "cell")
          .filter(col("qid") =!= col("cid"))
          .withColumn("sim", expr("cosine_sim(qv, cv2)"))
          .withColumn("rank", row_number().over(rn))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("cid").as("neighbor_id"), col("rank"),
            round(col("sim"), 6).as("sim_r"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH $duckSuperCells,
${duckTwoLevel("i", "embeddings", Nil, duckNprobe)},
        assigned AS (SELECT vec_id AS cid, cell, embedding AS cv2 FROM icranked WHERE crank = 1),
        probes AS (SELECT vec_id AS qid, cell, embedding AS qv
                   FROM icranked, kk WHERE crank <= $duckNprobe),
        sims AS (
          SELECT p.qid, a.cid, ${duckCosine("p.qv", "a.cv2")} AS sim
          FROM probes p JOIN assigned a ON p.cell = a.cell AND p.qid <> a.cid),
        ranked AS (
          SELECT qid, cid, sim,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INTEGER) AS rank
          FROM sims)
        SELECT qid, cid AS neighbor_id, rank, round(sim, 6) AS sim_r
        FROM ranked WHERE rank <= 5 ORDER BY qid, rank""")),

    // ---- per-label centroids (element-wise mean over vectors) ---------
    QDef("p07_centroids",
      (s, dir) => emb(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("v").cast(org.apache.spark.sql.types.DecimalType(16, 8)))
          .cast("double") / count(lit(1))).as("centroid"))
        .orderBy(col("label"), col("pos")),
      // CAST(... AS DOUBLE) before DECIMAL: DuckDB's direct FLOAT->DECIMAL
      // cast rounds via the float's shortest decimal repr, Spark via the
      // exact double expansion; going through DOUBLE makes both identical.
      Some("""SELECT label, CAST(i - 1 AS INTEGER) AS pos,
        CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(16,8))) AS DOUBLE) / COUNT(*) AS centroid
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
        GROUP BY 1, 2 ORDER BY label, pos""")),

    // ---- language ID (stopword-ratio heuristic) -----------------------
    QDef("p08_lang_id",
      (s, dir) => docs(s, dir)
        .withColumn("n_tok", size(split(col("text"), " ")))
        .withColumn("n_stop", expr(
          "size(filter(split(text, ' '), w -> w IN ('the', 'a', 'of', 'and', 'in', 'to')))"))
        .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tok"))
        .withColumn("predicted",
          when(col("stop_ratio") >= 0.08, "en")
            .when(col("stop_ratio") >= 0.03, "mixed")
            .otherwise("other"))
        .select(col("doc_id"), col("stop_ratio"), col("predicted"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
        CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a', 'of', 'and', 'in', 'to'))) AS DOUBLE)
          / len(string_split(text, ' ')) AS stop_ratio,
        CASE WHEN CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a', 'of', 'and', 'in', 'to'))) AS DOUBLE)
          / len(string_split(text, ' ')) >= 0.08 THEN 'en'
          WHEN CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a', 'of', 'and', 'in', 'to'))) AS DOUBLE)
          / len(string_split(text, ' ')) >= 0.03 THEN 'mixed'
          ELSE 'other' END AS predicted
        FROM documents ORDER BY doc_id""")),

    // ---- quality scoring ----------------------------------------------
    QDef("p09_quality_score",
      (s, dir) => docs(s, dir)
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .withColumn("avg_token_len",
          length(regexp_replace(col("text"), " ", "")).cast("double") / col("n_tokens"))
        .withColumn("punct_ratio",
          (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")))
            .cast("double") / length(col("text")))
        .withColumn("quality",
          (when(col("n_tokens").between(5, 1000), 0.4).otherwise(0.0) +
            when(col("avg_token_len").between(3.0, 10.0), 0.3).otherwise(0.0) +
            when(col("punct_ratio") < 0.1, 0.3).otherwise(0.0)).cast("double"))
        .select(col("doc_id"), col("n_tokens"), col("avg_token_len"),
          col("punct_ratio"), col("quality"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len,
        CAST(length(text) - length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
        CAST((CASE WHEN len(string_split(text, ' ')) BETWEEN 5 AND 1000 THEN 0.4 ELSE 0.0 END
          + CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END
          + CASE WHEN CAST(length(text) - length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) < 0.1 THEN 0.3 ELSE 0.0 END) AS DOUBLE) AS quality
        FROM documents ORDER BY doc_id""")),

    // ---- token counting (whitespace + BPE-ish regex) ------------------
    QDef("p10_token_stats",
      (s, dir) => docs(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("n_ws"),
          regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).as("n_bpe"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpe
        FROM documents ORDER BY doc_id""")),

    // ---- document fingerprinting --------------------------------------
    QDef("p11_fingerprint",
      (s, dir) => docs(s, dir)
        .select(col("doc_id"),
          md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp_md5"),
          sha2(col("text"), 256).as("fp_sha256"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_md5,
        sha256(text) AS fp_sha256
        FROM documents ORDER BY doc_id""")),

    // ---- windowed event aggregation (batch analog of streaming) -------
    QDef("p12_events_hourly",
      (s, dir) => t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumd(d(col("value"))).as("total"))
        .orderBy(col("hour"), col("event_type")),
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")),

    // ---- embedding-cosine near-dup (exact baseline; p06 is the LSH
    // scale path for the same shape) ------------------------------------
    QDef("p14_embedding_neardup",
      // the guarded all-pairs build lives in TruthStage (p00g)
      (s, dir) => TruthStage.loadPairs(s, dir)
        .orderBy(col("a_id"), col("b_id")),
      Some(s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
          round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) FOR i IN range(1, len(a.embedding) + 1)])
            / (sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE) FOR i IN range(1, len(a.embedding) + 1)]))
             * sqrt(list_sum([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) FOR i IN range(1, len(b.embedding) + 1)]))), 6) AS sim_r
        FROM ${duckEvalFrom("embeddings", "a")} JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) FOR i IN range(1, len(a.embedding) + 1)])
            / (sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE) FOR i IN range(1, len(a.embedding) + 1)]))
             * sqrt(list_sum([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) FOR i IN range(1, len(b.embedding) + 1)]))) >= 0.4
        ORDER BY a_id, b_id""")),

    // ---- multimodal REAL-codec decode, hash-matched: per document, a
    // valid BMP and a valid PCM WAV are CONSTRUCTED from the payload
    // bytes by plain arithmetic (hand-built headers per the published
    // format specs, independent of the JDK), then decoded by the real
    // JDK codecs (ImageIO for pixels dims, javax.sound for rate/
    // channels/duration). The oracle predicts the decoded metadata from
    // the same arithmetic — a decoder mis-parse breaks the hash. This
    // retired the suite's only rows-only entry: the codec path itself is
    // now oracle-pinned, not just the p15b stub plumbing around it. ------
    QDef("p15_multimodal_decode",
      (s, dir) => {
        val media = docs(s, dir).select(
          col("doc_id").as("media_id"),
          col("text").cast("binary").as("payload"))
        graft.operators.Multimodal.codecRoundTrip(media)
          .orderBy(col("media_id"))
      },
      // width/height reuse p15b's first-two-raw-bytes hex machinery; the
      // audio fields are integer arithmetic over (n_bytes, doc_id); the
      // duration replays javax.sound's frames*1000.0/rate in double —
      // exact on both engines for frames<=1000, rate in [8000,15000]
      Some("""WITH hx AS (
          SELECT doc_id, hex(encode(text)) AS h,
            COALESCE(octet_length(encode(text)), 0) AS nb
          FROM documents)
        SELECT doc_id AS media_id,
          CAST(nb AS INTEGER) AS n_bytes,
          CAST(1 + COALESCE(('0x' || NULLIF(substr(h, 1, 2), ''))::INTEGER % 64, 0)
            AS INTEGER) AS width,
          CAST(1 + COALESCE(('0x' || NULLIF(substr(h, 3, 2), ''))::INTEGER % 64, 0)
            AS INTEGER) AS height,
          CAST(8000 + (nb % 8) * 1000 AS INTEGER) AS sample_rate,
          CAST(1 + doc_id % 2 AS INTEGER) AS channels,
          CAST(FLOOR((1 + nb % 1000) * 1000.0 / (8000 + (nb % 8) * 1000))
            AS BIGINT) AS duration_ms
        FROM hx ORDER BY media_id""")),

    // ---- the deterministic half of the multimodal contract, promoted to
    // a full hash-matched check: the stub codec's metadata (decodeStub —
    // width/height from the first two payload bytes, frames from size) is
    // a pure function of the bytes, so DuckDB reproduces it exactly. This
    // pins the ENTIRE mapPartitions plumbing — schema, batch iteration,
    // row shape — end to end; only real-codec output (p15) and the
    // float32 feature accumulation stay rows-only, because those are
    // genuinely engine-internal. -----------------------------------------
    QDef("p15b_multimodal_stub",
      (s, dir) => {
        val media = docs(s, dir).select(
          col("doc_id").as("media_id"),
          col("text").cast("binary").as("payload"),
          lit("text").as("media_type"))
        graft.operators.Multimodal.decodeAndFeaturize(media)
          .select(col("media_id"), col("n_bytes"), col("width"), col("height"),
            col("n_frames"))
          .orderBy(col("media_id"))
      },
      // encode() is DuckDB's VARCHAR -> UTF-8 BLOB (CAST errors on
      // non-ASCII); hex() + '0x' cast extracts the first two RAW BYTES,
      // matching decodeStub's payload(0)/payload(1) & 0x3F exactly even
      // when the first character is multi-byte. NULL text maps to the
      // stub's empty payload (n_bytes 0, width/height/frames 1).
      Some("""WITH hx AS (
          SELECT doc_id, hex(encode(text)) AS h,
            COALESCE(octet_length(encode(text)), 0) AS nb
          FROM documents)
        SELECT doc_id AS media_id,
          CAST(nb AS INTEGER) AS n_bytes,
          CAST(1 + COALESCE(('0x' || NULLIF(substr(h, 1, 2), ''))::INTEGER % 64, 0)
            AS INTEGER) AS width,
          CAST(1 + COALESCE(('0x' || NULLIF(substr(h, 3, 2), ''))::INTEGER % 64, 0)
            AS INTEGER) AS height,
          CAST(1 + nb // 4096 AS INTEGER) AS n_frames
        FROM hx ORDER BY media_id""")),

    // ---- perceptual image dedup (dHash, the pHash-family fingerprint
    // used for image dedup at corpus scale): pixels are CONSTRUCTED from
    // document bytes (the p15 discipline), decoded by the REAL ImageIO
    // codec, area-averaged to the canonical 9x8 grid and reduced to the
    // 64 horizontal-gradient bits as two 32-bit halves. The oracle
    // re-derives the hash from the same byte arithmetic — a codec
    // mis-parse (row order, padding, channel order) or resample drift
    // breaks the hash. Output is 20 bytes/row whatever the image size:
    // at 100 TB the corpus-scaled state is the fingerprint table, and
    // pixels never leave their partition. --------------------------------
    QDef("p63_image_dhash",
      (s, dir) => graft.operators.Multimodal.imageDHash(
        docs(s, dir).select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("payload")))
        .orderBy(col("media_id")),
      Some(s"""WITH hx AS (
          SELECT doc_id, hex(encode(text)) AS h,
            COALESCE(octet_length(encode(text)), 0) AS nb
          FROM documents),
        g AS (
          SELECT doc_id, nb, x.x AS x, y.y AS y,
            CASE WHEN nb = 0 THEN 0
              ELSE ('0x' || substr(h, 2*((y.y*18 + x.x) % nb) + 1, 2))::INTEGER
            END AS gv
          FROM hx CROSS JOIN range(0, 18) x(x) CROSS JOIN range(0, 16) y(y)),
        c AS (
          SELECT doc_id, nb, x//2 AS cx, y//2 AS cy, SUM(gv)//4 AS cv
          FROM g GROUP BY doc_id, nb, x//2, y//2),
        bits AS (
          SELECT a.doc_id, a.nb, a.cy,
            CASE WHEN a.cv > b.cv
              THEN (CAST(1 AS BIGINT) << CAST((a.cy % 4) * 8 + a.cx AS INTEGER))
              ELSE CAST(0 AS BIGINT) END AS bv
          FROM c a JOIN c b ON a.doc_id = b.doc_id AND a.cy = b.cy
            AND b.cx = a.cx + 1
          WHERE a.cx < 8)
        SELECT doc_id AS media_id,
          CAST(ANY_VALUE(nb) AS INTEGER) AS n_bytes,
          CAST(COALESCE(SUM(CASE WHEN cy < 4 THEN bv END), 0) AS BIGINT) AS dh_hi,
          CAST(COALESCE(SUM(CASE WHEN cy >= 4 THEN bv END), 0) AS BIGINT) AS dh_lo
        FROM bits GROUP BY doc_id ORDER BY media_id""")),

    // ---- near-duplicate images by banded dHash: p04's LSH shape over
    // the perceptual fingerprint — `imageBands` bands tiling the two
    // 32-bit halves (default 4 bands of 16 bits), a candidate pair must
    // collide on a full band, survivors filtered by exact hamming <=
    // `imageHamming` over both halves. Both dials render into BOTH
    // engines from the same values, so the recall contract (any pair
    // with hamming < bands shares a band by pigeonhole) stays matched
    // by construction. The banding bounds candidate generation exactly
    // like the text families (p03/p04): the n² risk is confined to
    // same-band buckets, and only (id, hash) integers ever shuffle.
    // Oracle: the n² self-join with the SAME band-collision semantics. --
    QDef("p63b_image_neardup",
      (s, dir) => imageNearDupPlan(s, dir, knobs.imageBands, knobs.imageHamming),
      Some(s"""WITH hx AS (
          SELECT doc_id, hex(encode(text)) AS h,
            COALESCE(octet_length(encode(text)), 0) AS nb
          FROM documents),
        g AS (
          SELECT doc_id, x.x AS x, y.y AS y,
            CASE WHEN nb = 0 THEN 0
              ELSE ('0x' || substr(h, 2*((y.y*18 + x.x) % nb) + 1, 2))::INTEGER
            END AS gv
          FROM hx CROSS JOIN range(0, 18) x(x) CROSS JOIN range(0, 16) y(y)),
        c AS (
          SELECT doc_id, x//2 AS cx, y//2 AS cy, SUM(gv)//4 AS cv
          FROM g GROUP BY doc_id, x//2, y//2),
        bits AS (
          SELECT a.doc_id, a.cy,
            CASE WHEN a.cv > b.cv
              THEN (CAST(1 AS BIGINT) << CAST((a.cy % 4) * 8 + a.cx AS INTEGER))
              ELSE CAST(0 AS BIGINT) END AS bv
          FROM c a JOIN c b ON a.doc_id = b.doc_id AND a.cy = b.cy
            AND b.cx = a.cx + 1
          WHERE a.cx < 8),
        fp AS (
          SELECT doc_id,
            COALESCE(SUM(CASE WHEN cy < 4 THEN bv END), 0) AS hi,
            COALESCE(SUM(CASE WHEN cy >= 4 THEN bv END), 0) AS lo
          FROM bits GROUP BY doc_id)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
            AS INTEGER) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE (${duckImageBandCollisions})
          AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= ${knobs.imageHamming}
        ORDER BY a_id, b_id""")),

    // ---- corpus filtering (C4-style): language whitelist + length band
    // + quality threshold, reported as per-source keep rates -------------
    QDef("p17_corpus_filter",
      (s, dir) => docs(s, dir)
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .withColumn("avg_token_len",
          length(regexp_replace(col("text"), " ", "")).cast("double") / col("n_tokens"))
        .withColumn("punct_ratio",
          (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")))
            .cast("double") / length(col("text")))
        .withColumn("quality",
          (when(col("n_tokens").between(5, 1000), 0.4).otherwise(0.0) +
            when(col("avg_token_len").between(3.0, 10.0), 0.3).otherwise(0.0) +
            when(col("punct_ratio") < 0.1, 0.3).otherwise(0.0)).cast("double"))
        .withColumn("keep",
          col("lang").isin("en", "es") && col("n_tokens").between(10, 400) &&
            col("quality") >= 0.7)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .withColumn("keep_rate",
          col("n_kept").cast("double") / col("n_total"))
        .orderBy(col("source")),
      Some("""WITH scored AS (
          SELECT source, lang,
            len(string_split(text, ' ')) AS n_tokens,
            CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len,
            CAST(length(text) - length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio
          FROM documents),
        flagged AS (
          SELECT source,
            (lang IN ('en', 'es') AND n_tokens BETWEEN 10 AND 400 AND
             (CASE WHEN n_tokens BETWEEN 5 AND 1000 THEN 0.4 ELSE 0.0 END
              + CASE WHEN avg_token_len BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END
              + CASE WHEN punct_ratio < 0.1 THEN 0.3 ELSE 0.0 END) >= 0.7) AS keep
          FROM scored)
        SELECT source, COUNT(*) AS n_total,
          CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS keep_rate
        FROM flagged GROUP BY source ORDER BY source""")),

    // ---- PII redaction: regex scrub of emails/phones with per-doc
    // counts (PII injected deterministically so the redactor has real
    // work at every scale factor) ---------------------------------------
    QDef("p18_pii_redact",
      (s, dir) => {
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phoneRe = "\\+1-555-01[0-9]{2}"
        docs(s, dir)
          .withColumn("with_pii", concat(col("text"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
              .otherwise(lit("")),
            when(col("doc_id") % 4 === 0,
              concat(lit(" call +1-555-01"),
                lpad((col("doc_id") % 100).cast("string"), 2, "0")))
              .otherwise(lit(""))))
          .select(col("doc_id"),
            regexp_count(col("with_pii"), lit(emailRe)).as("n_emails"),
            regexp_count(col("with_pii"), lit(phoneRe)).as("n_phones"),
            md5(regexp_replace(regexp_replace(col("with_pii"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>")).as("redacted_fp"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH pii AS (
          SELECT doc_id, text ||
            CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
            CASE WHEN doc_id % 4 = 0 THEN ' call +1-555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ELSE '' END
            AS with_pii
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(with_pii, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
          CAST(len(regexp_extract_all(with_pii, '\+1-555-01[0-9]{2}')) AS INTEGER) AS n_phones,
          md5(regexp_replace(regexp_replace(with_pii, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '\+1-555-01[0-9]{2}', '<PHONE>', 'g')) AS redacted_fp
        FROM pii ORDER BY doc_id""")),

    // ---- n-gram statistics: top-5 bigrams per language (tokenizer-
    // training shape: partial agg, then per-group top-k window) ----------
    QDef("p19_bigram_topk",
      (s, dir) => {
        val bi = docs(s, dir)
          .select(col("lang"), split(col("text"), " ").as("arr"))
          .filter(size(col("arr")) >= 2)
          .select(col("lang"), explode(expr(
            "transform(sequence(0, size(arr)-2), i -> concat_ws(' ', arr[i], arr[i+1]))"))
            .as("bigram"))
        val counted = bi.groupBy(col("lang"), col("bigram"))
          .agg(count(lit(1)).as("cnt"))
        counted
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("lang"))
              .orderBy(col("cnt").desc, col("bigram"))))
          .filter(col("rk") <= 5)
          .select(col("lang"), col("bigram"), col("cnt"), col("rk"))
          .orderBy(col("lang"), col("rk"))
      },
      Some("""WITH toks AS (
          SELECT lang, string_split(text, ' ') AS arr FROM documents
          WHERE len(string_split(text, ' ')) >= 2),
        bi AS (
          SELECT lang, unnest([arr[i] || ' ' || arr[i+1] FOR i IN range(1, len(arr))]) AS bigram
          FROM toks),
        counted AS (SELECT lang, bigram, COUNT(*) AS cnt FROM bi GROUP BY 1, 2),
        ranked AS (
          SELECT lang, bigram, cnt,
            CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram) AS INTEGER) AS rk
          FROM counted)
        SELECT lang, bigram, cnt, rk FROM ranked WHERE rk <= 5 ORDER BY lang, rk""")),

    // ---- near-dup clustering: connected components over the Jaccard
    // pair graph via Pregel-style min-label propagation, restricted to
    // the edge-connected vertex set. A vertex with no near-dup edge can
    // never change label, and the near-dup subgraph is orders of
    // magnitude smaller than the corpus, so the loop's working set is
    // O(near-dups), not O(corpus) — each iteration is one join + one
    // min-agg over that tiny frame. The fixpoint (tiny) is the only
    // state the returned plan pins; every loop block is released before
    // return, and isolated docs get their component via
    // coalesce(comp, doc_id) in a final left join that AQE turns into a
    // broadcast of the fixpoint. The canonical doc per cluster (min id)
    // is what a dedup pipeline keeps. -----------------------------------
    QDef("p20_dedup_clusters",
      (s, dir) => dedupComponents(s, dir)
        .select(col("doc_id"), col("comp"),
          when(col("doc_id") === col("comp"), 1).otherwise(0).as("is_kept"))
        .orderBy(col("doc_id")),
      Some(s"""WITH RECURSIVE $duckComponentCtes
        SELECT id AS doc_id, CAST(MIN(comp) AS BIGINT) AS comp,
          CAST(CASE WHEN MIN(comp) = id THEN 1 ELSE 0 END AS INTEGER) AS is_kept
        FROM reach GROUP BY id ORDER BY doc_id""")),

    // ---- multimodal column plumbing (binary payload + metadata) -------
    QDef("p13_media_meta",
      (s, dir) => docs(s, dir)
        .withColumn("payload", col("text").cast("binary"))
        .select(col("doc_id"),
          length(col("payload")).as("n_bytes"),
          (ascii(substring(col("text"), 1, 1)) % 64).as("fake_w"),
          (ascii(substring(col("text"), 2, 1)) % 64).as("fake_h"),
          md5(col("text")).as("fp"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
        CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
        CAST(ascii(substr(text, 1, 1)) % 64 AS INTEGER) AS fake_w,
        CAST(ascii(substr(text, 2, 1)) % 64 AS INTEGER) AS fake_h,
        md5(text) AS fp
        FROM documents ORDER BY doc_id""")),

    // ---- benchmark contamination check: fraction of a candidate doc's
    // distinct 3-gram shingles that appear anywhere in a held-out
    // benchmark set (docs with id % 20 == 0 stand in for an eval set).
    // One shuffle on the shingle key; the benchmark shingle set is the
    // small side and broadcasts at any realistic eval-set size. ----------
    QDef("p21_contamination",
      (s, dir) => {
        // contamination needs ALL distinct shingles per doc (no DF guard),
        // which is exactly what the staged front stores before `shingles()`
        // applies its filter — so this query re-reads the staged parquet
        // instead of exploding the corpus a second time, and its joins key
        // on the staged 8-byte hash (mirrored in the oracle) rather than
        // the shingle string.
        val grams = ShingleStage.load(s, dir).select(col("doc_id"), col("h"))
        val bench = grams.filter(col("doc_id") % 20 === 0)
          .select(col("h")).distinct()
        val cand = grams.filter(col("doc_id") % 20 =!= 0)
        val sz = cand.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
        val hits = cand.join(bench, "h")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
        sz.join(hits, Seq("doc_id"), "left")
          .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
          .withColumn("contamination",
            col("n_hit").cast("double") / col("n_shingles"))
          .filter(col("contamination") >= 0.2)
          .select(col("doc_id"), col("n_shingles"), col("n_hit"), col("contamination"))
          .orderBy(col("doc_id"))
      },
      Some(duckContaminationSql)),

    // ---- intra-document repetition (Gopher-style repetition rule):
    // duplicate-3-gram ratio per document. Pure per-row array math — no
    // explode, no shuffle, embarrassingly parallel. ----------------------
    QDef("p22_repetition",
      (s, dir) => docs(s, dir)
        .withColumn("arr", split(col("text"), " "))
        .filter(size(col("arr")) >= 3)
        .withColumn("grams", expr(
          "transform(sequence(0, size(arr)-3), i -> concat_ws(' ', arr[i], arr[i+1], arr[i+2]))"))
        .select(col("doc_id"),
          size(col("grams")).as("n_grams"),
          size(array_distinct(col("grams"))).as("n_distinct"))
        .withColumn("rep_ratio",
          lit(1.0) - col("n_distinct").cast("double") / col("n_grams"))
        .orderBy(col("doc_id")),
      Some("""WITH g AS (
          SELECT doc_id,
            [arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] FOR i IN range(1, len(arr) - 1)] AS grams
          FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)
          WHERE len(arr) >= 3)
        SELECT doc_id, CAST(len(grams) AS INTEGER) AS n_grams,
          CAST(len(list_distinct(grams)) AS INTEGER) AS n_distinct,
          1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams) AS rep_ratio
        FROM g ORDER BY doc_id""")),

    // ---- sequence packing: assign documents to ~512-token context
    // windows. Deterministic bucket partitioning (doc_id % packBuckets),
    // greedy in-order chunking via a running token sum per bucket — one
    // shuffle on the bucket key, windows computed partition-locally. At
    // 100 TB raise -Dgraft.packBuckets to executor-width parallelism; the
    // oracle SQL interpolates the same constant so the check follows. ----
    QDef("p23_seq_pack",
      (s, dir) => {
        val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs(s, dir)
          .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
          .withColumn("bucket", (col("doc_id") % knobs.packBuckets).cast("int"))
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .withColumn("pack_id",
            floor((col("cum") - col("n_tokens")) / lit(512)).cast("long"))
          .select(col("doc_id"), col("bucket"), col("n_tokens"), col("pack_id"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, CAST(doc_id % ${knobs.packBuckets} AS INTEGER) AS bucket,
          CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
          CAST(FLOOR((SUM(len(string_split(text, ' ')))
              OVER (PARTITION BY doc_id % ${knobs.packBuckets} ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - len(string_split(text, ' '))) / 512) AS BIGINT) AS pack_id
        FROM documents ORDER BY doc_id""")),

    // ---- tokenizer-FAITHFUL sequence packing (p23b): p23's greedy
    // window fill, but budgeted in WORDPIECE PIECES, not whitespace
    // tokens — the number the training loader actually packs by. Each
    // document's piece count folds its words through the p67 segment
    // table (vocabulary-bounded broadcast); words outside the segment
    // domain (non-[a-z], length > 12) charge ceil(len/4) pieces — the
    // max-piece-length floor, deterministic in both engines. One word
    // explode + one doc_id sum (the p53 per-doc shape), then p23's
    // bucket shuffle unchanged. -----------------------------------------
    QDef("p23b_seq_pack_wp",
      (s, dir) => {
        val seg = WpSegStage.load(s, dir)
          .select(col("w"), size(col("seg")).cast("bigint").as("np"))
        val pieces = docs(s, dir)
          .select(col("doc_id"),
            explode(split(lower(col("text")), " ")).as("w"))
          .join(broadcast(seg), Seq("w"), "left")
          .withColumn("np", coalesce(col("np"),
            expr("CAST(greatest(1, ceil(length(w) / 4.0)) AS BIGINT)")))
          .groupBy(col("doc_id")).agg(sum(col("np")).as("n_pieces"))
        val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pieces
          .withColumn("bucket", (col("doc_id") % knobs.packBuckets).cast("int"))
          .withColumn("cum", sum(col("n_pieces")).over(w))
          .withColumn("pack_id",
            floor((col("cum") - col("n_pieces")) / lit(512)).cast("long"))
          .select(col("doc_id"), col("bucket"), col("n_pieces"), col("pack_id"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $duckWpCtes,
        wnp AS (SELECT w, CAST(len(seg) AS BIGINT) AS np FROM wseg),
        wl AS (
          SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          FROM documents),
        dp AS (
          SELECT wl.doc_id,
            CAST(SUM(COALESCE(wnp.np,
              CAST(greatest(1, ceil(length(wl.w) / 4.0)) AS BIGINT))) AS BIGINT) AS n_pieces
          FROM wl LEFT JOIN wnp ON wnp.w = wl.w
          GROUP BY wl.doc_id)
        SELECT doc_id, CAST(doc_id % ${knobs.packBuckets} AS INTEGER) AS bucket,
          n_pieces,
          CAST(FLOOR((SUM(n_pieces)
              OVER (PARTITION BY doc_id % ${knobs.packBuckets} ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - n_pieces) / 512) AS BIGINT) AS pack_id
        FROM dp ORDER BY doc_id""")),

    // ---- deterministic stratified sampling: per-language keep rates
    // driven by a uniform hash byte derived from md5(text) — the same
    // rows are kept on any cluster, any partitioning, any engine (the
    // oracle reproduces the exact sample). Per-row filter, no shuffle. ----
    QDef("p24_stratified_sample",
      (s, dir) => docs(s, dir)
        .withColumn("h", (
          (expr("instr('0123456789abcdef', substring(md5(text), 1, 1))") - 1) * 16 +
            expr("instr('0123456789abcdef', substring(md5(text), 2, 1))") - 1) % 100)
        .withColumn("rate",
          when(col("lang") === "en", 10).when(col("lang") === "es", 30).otherwise(50))
        .filter(col("h") < col("rate"))
        .select(col("doc_id"), col("lang"),
          col("h").cast("int").as("h"), col("rate").cast("int").as("rate"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, lang,
          CAST(((instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
            + instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1) % 100 AS INTEGER) AS h,
          CAST(CASE WHEN lang = 'en' THEN 10 WHEN lang = 'es' THEN 30 ELSE 50 END AS INTEGER) AS rate
        FROM documents
        WHERE ((instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
            + instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1) % 100
          < CASE WHEN lang = 'en' THEN 10 WHEN lang = 'es' THEN 30 ELSE 50 END
        ORDER BY doc_id""")),

    // ---- text normalization: lowercase, whitespace collapse, strip
    // non-alphanumerics — the canonical form a tokenizer sees. Per-row,
    // no shuffle. --------------------------------------------------------
    QDef("p25_text_normalize",
      (s, dir) => docs(s, dir)
        .withColumn("norm", regexp_replace(
          regexp_replace(lower(trim(col("text"))), "[^a-z0-9 ]", ""),
          "\\s+", " "))
        .select(col("doc_id"),
          md5(col("norm")).as("norm_md5"),
          length(col("norm")).as("n_chars_norm"),
          size(split(col("norm"), " ")).as("n_tokens_norm"))
        .orderBy(col("doc_id")),
      Some("""WITH n AS (
          SELECT doc_id, regexp_replace(
            regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'),
            '\s+', ' ', 'g') AS norm
          FROM documents)
        SELECT doc_id, md5(norm) AS norm_md5,
          CAST(length(norm) AS INTEGER) AS n_chars_norm,
          CAST(len(string_split(norm, ' ')) AS INTEGER) AS n_tokens_norm
        FROM n ORDER BY doc_id""")),

    // ---- domain-mixture weights: per-source sampling weight that moves
    // the corpus from its actual source distribution to a target mixture
    // (integer mixture parts -> exact cross-engine shares). Two tiny
    // aggregations, broadcast total. -------------------------------------
    QDef("p26_domain_mix",
      (s, dir) => {
        val parts = when(col("source") === "src0", 4)
          .when(col("source") === "src1", 3)
          .when(col("source") === "src2", 2).otherwise(1)
        val counts = docs(s, dir).groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("parts", parts)
        val totals = counts.agg(sum(col("n_docs")).as("total"),
          sum(col("parts")).as("total_parts"))
        counts.crossJoin(broadcast(totals))
          .withColumn("actual_share", col("n_docs").cast("double") / col("total"))
          .withColumn("target_share", col("parts").cast("double") / col("total_parts"))
          .withColumn("weight", col("target_share") / col("actual_share"))
          .select(col("source"), col("n_docs"), col("actual_share"),
            col("target_share"), col("weight"))
          .orderBy(col("source"))
      },
      Some("""WITH c AS (
          SELECT source, COUNT(*) AS n_docs,
            CASE source WHEN 'src0' THEN 4 WHEN 'src1' THEN 3 WHEN 'src2' THEN 2 ELSE 1 END AS parts
          FROM documents GROUP BY 1),
        t AS (SELECT SUM(n_docs) AS total, SUM(parts) AS total_parts FROM c)
        SELECT source, n_docs,
          CAST(n_docs AS DOUBLE) / total AS actual_share,
          CAST(parts AS DOUBLE) / total_parts AS target_share,
          (CAST(parts AS DOUBLE) / total_parts) / (CAST(n_docs AS DOUBLE) / total) AS weight
        FROM c, t ORDER BY source""")),

    // ---- batch sessionization: gap-based sessions (30-minute idle
    // boundary) via lag + running sum of boundary flags — the batch
    // analog of EventStreams.sessionize (mapGroupsWithState). One shuffle
    // on user_id; both windows reuse the same partitioning. --------------
    QDef("p27_sessionize",
      (s, dir) => {
        // event_id tiebreak: equal timestamps must order identically in
        // any engine or the lag/running-sum assignment diverges
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .withColumn("us", unix_micros(col("ts")))
          .withColumn("prev_us", lag(col("us"), 1).over(byUser))
          .withColumn("brk",
            when(col("prev_us").isNull ||
              col("us") - col("prev_us") > 1800L * 1000000L, 1L)
              .otherwise(0L))
          .withColumn("session_id", sum(col("brk")).over(run))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            (max(col("us")) - min(col("us"))).as("duration_us"))
          .orderBy(col("user_id"), col("session_id"))
      },
      Some("""WITH b AS (
          SELECT user_id, event_id, epoch_us(ts) AS us,
            CASE WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
              OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > 1800000000
              THEN 1 ELSE 0 END AS brk
          FROM events),
        sess AS (
          SELECT user_id, us,
            SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM b)
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
          COUNT(*) AS n_events,
          CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us
        FROM sess GROUP BY 1, 2 ORDER BY user_id, session_id""")),

    // ---- cross-document span dedup (Lee et al., "Deduplicating Training
    // Data Makes Language Models Better"; C4's line-level analog): chunk
    // each document into 10-token spans, drop any span whose exact text
    // occurs in >= 2 distinct documents, reassemble the survivors in
    // order. One shuffle keyed on the span for the document-frequency
    // count, one left-anti join back, one groupBy(doc_id) to rebuild —
    // all partial-aggregated. The span key on the wire is the
    // engine-portable 60-bit md5 hash (8 bytes instead of the span text),
    // mirrored in the oracle so the check stays hash-matched.
    QDef("p28_span_dedup",
      (s, dir) => {
        val segs = docs(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("a"))
          .select(col("doc_id"), posexplode(expr(
            "transform(sequence(0, cast(ceil(size(a)/10.0) as int) - 1)," +
              " i -> concat_ws(' ', slice(a, i*10+1, 10)))"))
            .as(Seq("pos", "seg")))
          .withColumn("hseg", md560(col("seg")))
        val boiler = segs.groupBy(col("hseg"))
          .agg(countDistinct(col("doc_id")).as("df"))
          .filter(col("df") >= 2).select(col("hseg"))
        val kept = segs.join(boiler, Seq("hseg"), "left_anti")
        val rebuilt = kept.groupBy(col("doc_id")).agg(
          count(lit(1)).as("n_kept"),
          array_join(expr(
            "transform(array_sort(collect_list(struct(pos, seg))), x -> x.seg)"),
            " ").as("clean_text"))
        segs.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
          .join(rebuilt, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_chunks"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            coalesce(col("clean_text"), lit("")).as("clean_text"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH arr AS (
          SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        segs0 AS (
          SELECT doc_id,
            unnest(range(0, CAST(ceil(len(a)/10.0) AS BIGINT))) AS pos,
            unnest([array_to_string(a[(i*10)+1:(i*10)+10], ' ')
              FOR i IN range(0, CAST(ceil(len(a)/10.0) AS BIGINT))]) AS seg
          FROM arr),
        segs AS (SELECT doc_id, pos, seg, ${duckMd560("seg")} AS hseg FROM segs0),
        boiler AS (
          SELECT hseg FROM segs GROUP BY hseg HAVING COUNT(DISTINCT doc_id) >= 2),
        kept AS (SELECT * FROM segs WHERE hseg NOT IN (SELECT hseg FROM boiler)),
        rebuilt AS (
          SELECT doc_id, COUNT(*) AS n_kept,
            string_agg(seg, ' ' ORDER BY pos) AS clean_text
          FROM kept GROUP BY doc_id),
        counts AS (SELECT doc_id, COUNT(*) AS n_chunks FROM segs GROUP BY doc_id)
        SELECT counts.doc_id, counts.n_chunks,
          CAST(COALESCE(rebuilt.n_kept, 0) AS BIGINT) AS n_kept,
          COALESCE(rebuilt.clean_text, '') AS clean_text
        FROM counts LEFT JOIN rebuilt ON counts.doc_id = rebuilt.doc_id
        ORDER BY counts.doc_id""")),

    // ---- BM25 relevance top-k (retrieval scoring for RAG / data
    // selection). Scale shape: tf and dl are per-row array ops (no
    // explode, no shuffle); N / avgdl / df all come from ONE tiny scalar
    // aggregation that is broadcast back; the top-k is
    // TakeOrderedAndProject (per-partition heap + driver merge), never a
    // full sort. So the whole query is one corpus scan + one scalar
    // reduction — the optimal 100 TB plan for this shape. Scores are
    // computed in double with an expression mirrored TEXTUALLY in the
    // oracle (same parenthesization -> same IEEE evaluation order), term
    // contributions added in fixed order, and rounded to 6 dp; ordering is
    // on the ROUNDED score so rank agrees across engines. ----------------
    QDef("p29_bm25_topk",
      (s, dir) => bm25TopK(s, dir, bm25Terms),
      Some(s"""WITH t AS (
          SELECT doc_id, CAST(len(arr) AS DOUBLE) AS dl,
            ${bm25Terms.map(t =>
              s"CAST(len(list_filter(arr, x -> x = '$t')) AS DOUBLE) AS tf_$t")
              .mkString(", ")}
          FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)),
        st AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, SUM(dl) / COUNT(*) AS avgdl,
            ${bm25Terms.map(t =>
              s"SUM(CASE WHEN tf_$t > 0 THEN 1.0 ELSE 0.0 END) AS df_$t")
              .mkString(", ")}
          FROM t)
        SELECT doc_id, CAST(dl AS BIGINT) AS n_tokens,
          round(${bm25Terms.map(t => bm25Term(s"tf_$t", s"df_$t")).mkString(" + ")}, 6) AS score_r
        FROM t, st
        ORDER BY score_r DESC, doc_id LIMIT 50""")),

    // ---- conjunctive phrase BM25 (p29's engine, generalized): each
    // query unit is a PHRASE whose tf is its exact consecutive-
    // occurrence count — still a pure per-row scan of the token array
    // (no explode, no positional index, no shuffle) — and AND
    // semantics gate the result to documents matching EVERY unit. Same
    // optimal shape as p29: one corpus scan + one broadcast one-row
    // stats reduction + TakeOrderedAndProject. This is the oracle pin
    // for the wire's TABLE(BM25_SEARCH('"table hash" AND vector')). ----
    QDef("p29b_bm25_phrase",
      (s, dir) => bm25Search(s, dir, bm25PhraseQuery, requireAll = true, 30),
      Some({
        val ph = bm25PhraseQuery.zipWithIndex
        s"""WITH t AS (
          SELECT doc_id, CAST(len(arr) AS DOUBLE) AS dl,
            ${ph.map { case (ws, ix) => s"${duckPhraseTf("arr", ws)} AS tf_$ix" }
              .mkString(", ")}
          FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)),
        st AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, SUM(dl) / COUNT(*) AS avgdl,
            ${ph.map { case (_, ix) =>
              s"SUM(CASE WHEN tf_$ix > 0 THEN 1.0 ELSE 0.0 END) AS df_$ix" }
              .mkString(", ")}
          FROM t)
        SELECT doc_id, CAST(dl AS BIGINT) AS n_tokens,
          round(${ph.map { case (_, ix) => bm25Term(s"tf_$ix", s"df_$ix") }
            .mkString(" + ")}, 6) AS score_r
        FROM t, st
        WHERE ${ph.map { case (_, ix) => s"tf_$ix > 0" }.mkString(" AND ")}
        ORDER BY score_r DESC, doc_id LIMIT 30"""
      })),

    // ---- int8 embedding quantization (symmetric, per-vector scale) —
    // the standard compression step before ANN index build at scale;
    // entirely per-row array math (no shuffle, embarrassingly parallel).
    // Quantization uses floor(x/scale + 0.5) — explicit round-half-up —
    // because round() semantics differ across engines; the dequantization
    // RMSE folds in index order on both sides (sequential aggregate() in
    // Spark, list_sum over an index comprehension in DuckDB). ------------
    // ---- MMR diversified reranking (Carbonell & Goldstein 1998) — the
    // RAG-standard answer to a redundant top-k: greedily re-rank p29's
    // BM25 top-50 by 0.7*relevance − 0.3*max-cosine-to-already-selected,
    // doc_id tiebreak, k=10. The cross-engine contract is the 6dp-rounded
    // plane both families already pin (p29's score_r, p05's sim_r round
    // identically in Spark and DuckDB), so the greedy argmax runs on
    // identical doubles in both engines. Corpus-scaled work (BM25 scan,
    // candidate×candidate sims over a broadcast 50-row side) is
    // distributed; the greedy itself runs on the driver over the
    // DIAL-bounded candidate set (50 rels + 2450 sims — PQ-SDC-class
    // state, never corpus-scaled). The oracle replays the same greedy as
    // a recursive CTE carrying the selected-id list. -------------------
    QDef("p64_mmr_rerank",
      (s, dir) => {
        // diversity needs vectors: the MMR pool is the BM25 top-50
        // RESTRICTED to docs carrying an embedding (at larger SFs the
        // embeddings table covers a subset of documents)
        val ce = bm25TopK(s, dir, bm25Terms, 50)
          .select(col("doc_id"), col("score_r"))
          .join(emb(s, dir).select(col("vec_id").as("doc_id"), col("embedding")),
            Seq("doc_id"))
        val a = ce.select(col("doc_id").as("a_id"), col("embedding").as("av"))
        val b = ce.select(col("doc_id").as("b_id"), col("embedding").as("bv"))
        val sims = a.crossJoin(b).filter(col("a_id") =!= col("b_id"))
          .withColumn("sim_r", round(expr("cosine_sim(av, bv)"), 6))
        val rel = ce.select(col("doc_id"), col("score_r")).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val sim = sims.select(col("a_id"), col("b_id"), col("sim_r")).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        val ids = rel.keys.toSeq.sorted
        val first = ids.minBy(i => (-rel(i), i))
        val sel = scala.collection.mutable.ArrayBuffer(first)
        while (sel.size < 10 && sel.size < ids.size) {
          var bestId = -1L; var bestM = 0.0
          ids.filterNot(sel.contains).foreach { c =>
            val m = 0.7 * rel(c) - 0.3 * sel.map(sid => sim((c, sid))).max
            if (bestId < 0L || m > bestM || (m == bestM && c < bestId)) {
              bestM = m; bestId = c
            }
          }
          sel += bestId
        }
        import s.implicits._
        sel.toSeq.zipWithIndex
          .map { case (id, i) => (i + 1, id, rel(id)) }
          .toDF("rank", "doc_id", "score_r")
      },
      Some(s"""WITH RECURSIVE t AS (
          SELECT doc_id, CAST(len(arr) AS DOUBLE) AS dl,
            ${bm25Terms.map(t =>
              s"CAST(len(list_filter(arr, x -> x = '$t')) AS DOUBLE) AS tf_$t")
              .mkString(", ")}
          FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)),
        st AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, SUM(dl) / COUNT(*) AS avgdl,
            ${bm25Terms.map(t =>
              s"SUM(CASE WHEN tf_$t > 0 THEN 1.0 ELSE 0.0 END) AS df_$t")
              .mkString(", ")}
          FROM t),
        cand0 AS (
          SELECT doc_id,
            round(${bm25Terms.map(t => bm25Term(s"tf_$t", s"df_$t")).mkString(" + ")}, 6) AS score_r
          FROM t, st ORDER BY score_r DESC, doc_id LIMIT 50),
        cand AS (
          SELECT c.doc_id, c.score_r
          FROM cand0 c JOIN embeddings e ON e.vec_id = c.doc_id),
        sims AS (
          SELECT ca.doc_id AS a_id, cb.doc_id AS b_id,
            round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) FOR i IN range(1, len(a.embedding) + 1)])
              / (sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE) FOR i IN range(1, len(a.embedding) + 1)]))
               * sqrt(list_sum([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) FOR i IN range(1, len(b.embedding) + 1)]))), 6) AS sim_r
          FROM cand ca JOIN embeddings a ON a.vec_id = ca.doc_id
               JOIN cand cb ON ca.doc_id <> cb.doc_id
               JOIN embeddings b ON b.vec_id = cb.doc_id),
        sel AS (
          SELECT 1 AS rnk, [f.doc_id] AS chosen, f.doc_id AS picked,
            f.score_r AS rel
          FROM (SELECT doc_id, score_r FROM cand
                ORDER BY score_r DESC, doc_id LIMIT 1) f
          UNION ALL
          SELECT r.rnk + 1, list_append(r.chosen, nxt.doc_id), nxt.doc_id,
            nxt.score_r
          FROM sel r, LATERAL (
            SELECT c.doc_id, c.score_r
            FROM cand c
            WHERE NOT list_contains(r.chosen, c.doc_id)
            ORDER BY 0.7 * c.score_r - 0.3 * (
                SELECT MAX(s.sim_r) FROM sims s
                WHERE s.a_id = c.doc_id AND list_contains(r.chosen, s.b_id))
              DESC, c.doc_id
            LIMIT 1) nxt
          WHERE r.rnk < 10)
        SELECT CAST(rnk AS INTEGER) AS rank, picked AS doc_id, rel AS score_r
        FROM sel ORDER BY rank""")),

    // ---- many-queries MMR (p64's scale path): the per-query greedy
    // moves OFF the driver into a generated SQL expression over each
    // query's collected candidate array, so per-query fan-out is just
    // a groupBy — thousands of queries rerank in parallel, each with
    // dial-bounded state (20 candidates × vector). Corpus-scaled work
    // is ONE scan computing every query's tf columns + one window
    // top-20 per query (shuffle keyed by query_id — the fan-out axis);
    // the embedding join ships only candidate vectors. Oracle: the
    // p64 recursive-CTE greedy with query_id threaded through the
    // recursion state, all four queries advancing in lockstep. --------
    QDef("p64b_mmr_many",
      (s, dir) => {
        val qs = mmrQueries
        val allTerms = qs.flatMap(_._2).distinct
        val base = docs(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("arr"))
          .withColumn("dl", size(col("arr")).cast("double"))
        val tf = allTerms.map(t =>
          expr(s"CAST(size(filter(arr, x -> x = '$t')) AS DOUBLE)").as(s"tf_$t"))
        val withTf = base.select(col("doc_id") +: col("dl") +: tf: _*)
        val stats = withTf.agg(
          count(lit(1)).cast("double").as("n_docs"),
          (sum(col("dl")) / count(lit(1))).as("avgdl") +:
            allTerms.map(t =>
              sum(when(col(s"tf_$t") > 0, 1.0).otherwise(0.0)).as(s"df_$t")): _*)
        val scoreStructs = qs.map { case (qid, ts) =>
          s"named_struct('query_id', '$qid', 'score_r', " +
            s"round(${ts.map(t => bm25Term(s"tf_$t", s"df_$t")).mkString(" + ")}, 6))"
        }
        val scores = withTf.crossJoin(broadcast(stats))
          .select(col("doc_id"),
            explode(expr(s"array(${scoreStructs.mkString(", ")})")).as("q"))
          .select(col("doc_id"), col("q.query_id").as("query_id"),
            col("q.score_r").as("score_r"))
        // the top-20 cut runs on SLIM rows (doc_id, query_id, score —
        // the MMR pool is docs carrying an embedding, enforced by a
        // semi join on the 8-byte key); vectors attach only to the
        // 20×|queries| survivors via a broadcast, so no embedding ever
        // rides the query_id shuffle
        val slim = scores
          .join(emb(s, dir).select(col("vec_id").as("doc_id")),
            Seq("doc_id"), "left_semi")
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("score_r").desc, col("doc_id"))))
          .filter(col("rn") <= 20)
          .select(col("query_id"), col("doc_id"), col("score_r"))
        val cand = emb(s, dir)
          .select(col("vec_id").as("doc_id"), col("embedding"))
          .join(broadcast(slim), Seq("doc_id"))
        cand.groupBy(col("query_id"))
          .agg(collect_list(expr(
            "named_struct('doc_id', doc_id, 'score_r', score_r, 'v', embedding)"))
            .as("cands"))
          .select(col("query_id"),
            posexplode(expr(mmrGreedySql("cands", 8))).as(Seq("pos", "s")))
          .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
            col("s.doc_id").as("doc_id"), col("s.score_r").as("score_r"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some({
        val qs = mmrQueries
        val allTerms = qs.flatMap(_._2).distinct
        val scUnions = qs.map { case (qid, ts) =>
          s"""SELECT '$qid' AS query_id, doc_id,
            round(${ts.map(t => bm25Term(s"tf_$t", s"df_$t")).mkString(" + ")}, 6) AS score_r
          FROM t, st"""
        }.mkString("\n          UNION ALL\n          ")
        s"""WITH RECURSIVE t AS (
          SELECT doc_id, CAST(len(arr) AS DOUBLE) AS dl,
            ${allTerms.map(t =>
              s"CAST(len(list_filter(arr, x -> x = '$t')) AS DOUBLE) AS tf_$t")
              .mkString(", ")}
          FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)),
        st AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, SUM(dl) / COUNT(*) AS avgdl,
            ${allTerms.map(t =>
              s"SUM(CASE WHEN tf_$t > 0 THEN 1.0 ELSE 0.0 END) AS df_$t")
              .mkString(", ")}
          FROM t),
        sc AS (
          $scUnions),
        cand AS (
          SELECT query_id, doc_id, score_r FROM (
            SELECT s.query_id, s.doc_id, s.score_r,
              row_number() OVER (PARTITION BY s.query_id
                ORDER BY s.score_r DESC, s.doc_id) AS rn
            FROM sc s JOIN embeddings e ON e.vec_id = s.doc_id)
          WHERE rn <= 20),
        sims AS (
          SELECT ca.query_id, ca.doc_id AS a_id, cb.doc_id AS b_id,
            round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) FOR i IN range(1, len(a.embedding) + 1)])
              / (sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE) FOR i IN range(1, len(a.embedding) + 1)]))
               * sqrt(list_sum([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) FOR i IN range(1, len(b.embedding) + 1)]))), 6) AS sim_r
          FROM cand ca JOIN embeddings a ON a.vec_id = ca.doc_id
               JOIN cand cb ON cb.query_id = ca.query_id AND ca.doc_id <> cb.doc_id
               JOIN embeddings b ON b.vec_id = cb.doc_id),
        sel AS (
          SELECT query_id, 1 AS rnk, [doc_id] AS chosen, doc_id AS picked,
            score_r AS rel
          FROM (SELECT query_id, doc_id, score_r,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY score_r DESC, doc_id) AS rn
                FROM cand) WHERE rn = 1
          UNION ALL
          SELECT r.query_id, r.rnk + 1, list_append(r.chosen, nxt.doc_id),
            nxt.doc_id, nxt.score_r
          FROM sel r, LATERAL (
            SELECT c.doc_id, c.score_r
            FROM cand c
            WHERE c.query_id = r.query_id
              AND NOT list_contains(r.chosen, c.doc_id)
            ORDER BY 0.7 * c.score_r - 0.3 * (
                SELECT MAX(s.sim_r) FROM sims s
                WHERE s.query_id = r.query_id AND s.a_id = c.doc_id
                  AND list_contains(r.chosen, s.b_id))
              DESC, c.doc_id
            LIMIT 1) nxt
          WHERE r.rnk < 8)
        SELECT query_id, CAST(rnk AS INTEGER) AS rank, picked AS doc_id,
          rel AS score_r
        FROM sel ORDER BY query_id, rank"""
      })),

    // ---- hybrid retrieval by Reciprocal Rank Fusion (Cormack et al.
    // 2009, the standard BM25+dense fusion): the sparse list is p29's
    // BM25 top-50; the dense list is cosine top-50 against a
    // pseudo-relevance query vector — the embedding of the best BM25 doc
    // that has one (the classic PRF move when the query itself has no
    // embedding). rrf = 1/(60+rank_sparse) + 1/(60+rank_dense), absent
    // list contributes 0; both ranks are over 6dp-rounded scores with
    // doc_id tiebreaks, so ranks — and hence the exact rational rrf
    // sums — are engine-identical. One corpus scan per list, a 1-row
    // broadcast query vector, top-k by TakeOrderedAndProject; nothing
    // corpus-sized shuffles. ------------------------------------------
    QDef("p65_rrf_fusion",
      (s, dir) => {
        val w = Window.orderBy(col("score_r").desc, col("doc_id"))
        val bmRanked = bm25TopK(s, dir, bm25Terms, 50)
          .select(col("doc_id"), col("score_r"))
          .withColumn("br", row_number().over(w))
        val qdf = bmRanked
          .join(emb(s, dir).select(col("vec_id").as("doc_id"),
            col("embedding").as("qv")), Seq("doc_id"))
          .orderBy(col("br")).limit(1).select(col("qv"))
        val scored = emb(s, dir)
          .crossJoin(broadcast(qdf))
          .withColumn("sim_r", round(expr("cosine_sim(embedding, qv)"), 6))
          .select(col("vec_id").as("doc_id"), col("sim_r"))
        val wd = Window.orderBy(col("sim_r").desc, col("doc_id"))
        val denseRanked = scored
          .withColumn("dr", row_number().over(wd))
          .filter(col("dr") <= 50)
        bmRanked.select(col("doc_id"), col("br"))
          .join(denseRanked.select(col("doc_id"), col("dr")), Seq("doc_id"), "full")
          .withColumn("rrf_r", round(
            coalesce(lit(1.0) / (lit(60) + col("br")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("dr")), lit(0.0)), 6))
          .orderBy(col("rrf_r").desc, col("doc_id"))
          .limit(20)
          .select(col("doc_id"), col("br").as("bm25_rank"),
            col("dr").as("dense_rank"), col("rrf_r"))
      },
      Some(s"""WITH t AS (
          SELECT doc_id, CAST(len(arr) AS DOUBLE) AS dl,
            ${bm25Terms.map(t =>
              s"CAST(len(list_filter(arr, x -> x = '$t')) AS DOUBLE) AS tf_$t")
              .mkString(", ")}
          FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)),
        st AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, SUM(dl) / COUNT(*) AS avgdl,
            ${bm25Terms.map(t =>
              s"SUM(CASE WHEN tf_$t > 0 THEN 1.0 ELSE 0.0 END) AS df_$t")
              .mkString(", ")}
          FROM t),
        bm AS (
          SELECT doc_id,
            round(${bm25Terms.map(t => bm25Term(s"tf_$t", s"df_$t")).mkString(" + ")}, 6) AS score_r
          FROM t, st ORDER BY score_r DESC, doc_id LIMIT 50),
        bmr AS (
          SELECT doc_id,
            CAST(ROW_NUMBER() OVER (ORDER BY score_r DESC, doc_id) AS INTEGER) AS br
          FROM bm),
        qv AS (
          SELECT e.embedding AS qv
          FROM bmr JOIN embeddings e ON e.vec_id = bmr.doc_id
          ORDER BY bmr.br LIMIT 1),
        dense AS (
          SELECT e.vec_id AS doc_id,
            round(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE) FOR i IN range(1, len(e.embedding) + 1)])
              / (sqrt(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) FOR i IN range(1, len(e.embedding) + 1)]))
               * sqrt(list_sum([CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE) FOR i IN range(1, len(q.qv) + 1)]))), 6) AS sim_r
          FROM embeddings e, qv q),
        dr AS (
          SELECT doc_id,
            CAST(ROW_NUMBER() OVER (ORDER BY sim_r DESC, doc_id) AS INTEGER) AS dr
          FROM dense QUALIFY dr <= 50)
        SELECT COALESCE(bmr.doc_id, dr.doc_id) AS doc_id,
          bmr.br AS bm25_rank, dr.dr AS dense_rank,
          round(COALESCE(1.0 / (60 + bmr.br), 0.0)
            + COALESCE(1.0 / (60 + dr.dr), 0.0), 6) AS rrf_r
        FROM bmr FULL JOIN dr ON bmr.doc_id = dr.doc_id
        ORDER BY rrf_r DESC, doc_id LIMIT 20""")),

    // ---- many-queries RRF (p65b): the fusion under the p64b/p60b
    // query fan, completing the retrieval family's fan-out story. One
    // scan scores every query's BM25 terms; per-query sparse ranks,
    // the per-query pseudo-relevance vector (best embedded BM25 doc,
    // Q one-row broadcasts in one Q-row frame), dense scoring as one
    // embeddings scan × Q broadcast qvecs (slim (vec_id, query_id,
    // sim) rows into the rank window — embeddings never shuffle), and
    // the exact rational rrf sums fused per (query_id, doc_id). -------
    QDef("p65b_rrf_many",
      (s, dir) => {
        val qs = mmrQueries
        val allTerms = qs.flatMap(_._2).distinct
        val base = docs(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("arr"))
          .withColumn("dl", size(col("arr")).cast("double"))
        val tf = allTerms.map(t =>
          expr(s"CAST(size(filter(arr, x -> x = '$t')) AS DOUBLE)").as(s"tf_$t"))
        val withTf = base.select(col("doc_id") +: col("dl") +: tf: _*)
        val stats = withTf.agg(
          count(lit(1)).cast("double").as("n_docs"),
          (sum(col("dl")) / count(lit(1))).as("avgdl") +:
            allTerms.map(t =>
              sum(when(col(s"tf_$t") > 0, 1.0).otherwise(0.0)).as(s"df_$t")): _*)
        val scoreStructs = qs.map { case (qid, ts) =>
          s"named_struct('query_id', '$qid', 'score_r', " +
            s"round(${ts.map(t => bm25Term(s"tf_$t", s"df_$t")).mkString(" + ")}, 6))"
        }
        val scores = withTf.crossJoin(broadcast(stats))
          .select(col("doc_id"),
            explode(expr(s"array(${scoreStructs.mkString(", ")})")).as("q"))
          .select(col("doc_id"), col("q.query_id").as("query_id"),
            col("q.score_r").as("score_r"))
        val bmRanked = scores
          .withColumn("br", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("score_r").desc, col("doc_id"))))
          .filter(col("br") <= 50)
          .select(col("query_id"), col("doc_id"), col("br"))
        // per-query PRF vector in two steps so no vector ever shuffles:
        // the best-ranked EMBEDDED candidate resolves on slim rows
        // (semi join on the 8-byte key + rank window), then the Q-row
        // winner frame broadcasts into the embeddings scan to attach qv
        val bestDoc = bmRanked
          .join(emb(s, dir).select(col("vec_id").as("doc_id")),
            Seq("doc_id"), "left_semi")
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("query_id")).orderBy(col("br"))))
          .filter(col("rn") === 1)
          .select(col("query_id").as("qid"), col("doc_id"))
        val qvecs = emb(s, dir)
          .select(col("vec_id").as("doc_id"), col("embedding").as("qv"))
          .join(broadcast(bestDoc), Seq("doc_id"))
          .select(col("qid"), col("qv"))
        val denseRanked = emb(s, dir)
          .crossJoin(broadcast(qvecs))
          .withColumn("sim_r", round(expr("cosine_sim(embedding, qv)"), 6))
          .select(col("vec_id").as("doc_id"), col("qid").as("query_id"),
            col("sim_r"))
          .withColumn("dr", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("sim_r").desc, col("doc_id"))))
          .filter(col("dr") <= 50)
          .select(col("query_id"), col("doc_id"), col("dr"))
        bmRanked.join(denseRanked, Seq("query_id", "doc_id"), "full")
          .withColumn("rrf_r", round(
            coalesce(lit(1.0) / (lit(60) + col("br")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("dr")), lit(0.0)), 6))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("rrf_r").desc, col("doc_id"))))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("rank"), col("doc_id"),
            col("br").as("bm25_rank"), col("dr").as("dense_rank"),
            col("rrf_r"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some({
        val qs = mmrQueries
        val allTerms = qs.flatMap(_._2).distinct
        val scUnions = qs.map { case (qid, ts) =>
          s"""SELECT '$qid' AS query_id, doc_id,
            round(${ts.map(t => bm25Term(s"tf_$t", s"df_$t")).mkString(" + ")}, 6) AS score_r
          FROM t, st"""
        }.mkString("\n          UNION ALL\n          ")
        s"""WITH t AS (
          SELECT doc_id, CAST(len(arr) AS DOUBLE) AS dl,
            ${allTerms.map(t =>
              s"CAST(len(list_filter(arr, x -> x = '$t')) AS DOUBLE) AS tf_$t")
              .mkString(", ")}
          FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)),
        st AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, SUM(dl) / COUNT(*) AS avgdl,
            ${allTerms.map(t =>
              s"SUM(CASE WHEN tf_$t > 0 THEN 1.0 ELSE 0.0 END) AS df_$t")
              .mkString(", ")}
          FROM t),
        sc AS (
          $scUnions),
        bmr AS (
          SELECT query_id, doc_id, br FROM (
            SELECT query_id, doc_id,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY score_r DESC, doc_id) AS INTEGER) AS br
            FROM sc) WHERE br <= 50),
        qvs AS (
          SELECT query_id AS qid, qv FROM (
            SELECT b.query_id, e.embedding AS qv,
              ROW_NUMBER() OVER (PARTITION BY b.query_id ORDER BY b.br) AS rn
            FROM bmr b JOIN embeddings e ON e.vec_id = b.doc_id)
          WHERE rn = 1),
        dense AS (
          SELECT q.qid AS query_id, e.vec_id AS doc_id,
            round(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE) FOR i IN range(1, len(e.embedding) + 1)])
              / (sqrt(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) FOR i IN range(1, len(e.embedding) + 1)]))
               * sqrt(list_sum([CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE) FOR i IN range(1, len(q.qv) + 1)]))), 6) AS sim_r
          FROM embeddings e CROSS JOIN qvs q),
        dr AS (
          SELECT query_id, doc_id, dr FROM (
            SELECT query_id, doc_id,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim_r DESC, doc_id) AS INTEGER) AS dr
            FROM dense) WHERE dr <= 50),
        fused AS (
          SELECT COALESCE(bmr.query_id, dr.query_id) AS query_id,
            COALESCE(bmr.doc_id, dr.doc_id) AS doc_id,
            bmr.br AS bm25_rank, dr.dr AS dense_rank,
            round(COALESCE(1.0 / (60 + bmr.br), 0.0)
              + COALESCE(1.0 / (60 + dr.dr), 0.0), 6) AS rrf_r
          FROM bmr FULL JOIN dr
            ON bmr.query_id = dr.query_id AND bmr.doc_id = dr.doc_id)
        SELECT query_id, rank, doc_id, bm25_rank, dense_rank, rrf_r FROM (
          SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY rrf_r DESC, doc_id) AS INTEGER) AS rank
          FROM fused) WHERE rank <= 10
        ORDER BY query_id, rank"""
      })),

    // ---- LATE-INTERACTION retrieval (p71): ColBERT's MaxSim operator
    // (Khattab & Zaharia, SIGIR 2020) — score(q, d) = Σ_{t∈q} max_{w∈d}
    // cos(E(t), E(w)) — over deterministic token embeddings: component
    // j of token w is (md560("li_<w>_<j>") mod 2001) − 1000, an exact
    // integer in [−1000, 1000], so every dot product is BIGINT
    // arithmetic and only the final sqrt/divide runs in (identical
    // IEEE) doubles. The query tokens' vectors are driver-computed once
    // and rendered as literals into BOTH dialects (the jlSigns
    // pattern). 100 TB shape: embeddings and per-query-token sims are
    // computed on the DISTINCT token table (vocabulary-bounded, never
    // corpus-scaled); the corpus-sized work is one slim tok-keyed join
    // + a per-doc max/sum aggregate; the top-10 is
    // TakeOrderedAndProject, never a global sort. ----------------------
    QDef("p71_maxsim_rerank",
      (s, dir) => {
        val comps = (1 to liDim).map(j => (md560(concat(lit("li_"), col("tok"),
          lit(s"_$j"))) % 2001 - 1000).as(s"c$j"))
        val tk = docs(s, dir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val tv = tk.select("tok").distinct().select(col("tok") +: comps: _*)
          .withColumn("ww",
            expr((1 to liDim).map(j => s"c$j * c$j").mkString(" + ")))
        val simCols = liQueryVecs.zipWithIndex.map { case ((_, qv), i) =>
          val dot = (1 to liDim).map(j => s"c$j * ${qv(j - 1)}").mkString(" + ")
          val qq = qv.map(x => x.toLong * x).sum
          expr(s"""CASE WHEN ww = 0 THEN 0D ELSE ($dot) /
                   (sqrt(CAST(ww AS DOUBLE)) * sqrt(CAST($qq AS DOUBLE))) END""")
            .as(s"s${i + 1}")
        }
        val sims = tv.select(col("tok") +: simCols: _*)
        val aggCols = liQueryVecs.indices.map(i =>
          max(col(s"s${i + 1}")).as(s"m${i + 1}"))
        val dm = tk.join(sims, Seq("tok"))
          .groupBy(col("doc_id"))
          .agg(aggCols.head, aggCols.tail: _*)
        val scoreE = liQueryVecs.indices.map(i => s"m${i + 1}").mkString(" + ")
        dm.select(col("doc_id") +:
            liQueryVecs.indices.map(i => round(col(s"m${i + 1}"), 6).as(s"m${i + 1}_r")) :+
            round(expr(scoreE), 6).as("score_r"): _*)
          .orderBy(col("score_r").desc, col("doc_id"))
          .limit(10)
      },
      Some {
        val comps = (1 to liDim).map(j =>
          s"(${duckMd560(s"'li_' || tok || '_$j'")} % 2001 - 1000) AS c$j").mkString(", ")
        val simCols = liQueryVecs.zipWithIndex.map { case ((_, qv), i) =>
          val dot = (1 to liDim).map(j => s"c$j * ${qv(j - 1)}").mkString(" + ")
          val qq = qv.map(x => x.toLong * x).sum
          s"""CASE WHEN ww = 0 THEN CAST(0 AS DOUBLE) ELSE ($dot) /
              (sqrt(CAST(ww AS DOUBLE)) * sqrt(CAST($qq AS DOUBLE))) END AS s${i + 1}"""
        }.mkString(", ")
        val maxes = liQueryVecs.indices.map(i =>
          s"MAX(s.s${i + 1}) AS m${i + 1}").mkString(", ")
        val mrs = liQueryVecs.indices.map(i =>
          s"round(m${i + 1}, 6) AS m${i + 1}_r").mkString(", ")
        val scoreE = liQueryVecs.indices.map(i => s"m${i + 1}").mkString(" + ")
        s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents),
          tv AS (SELECT tok, $comps FROM (SELECT DISTINCT tok FROM tk)),
          tn AS (SELECT *, ${(1 to liDim).map(j => s"c$j * c$j").mkString(" + ")} AS ww
            FROM tv),
          sims AS (SELECT tok, $simCols FROM tn),
          dm AS (SELECT t.doc_id, $maxes
            FROM tk t JOIN sims s ON t.tok = s.tok GROUP BY t.doc_id)
          SELECT doc_id, $mrs, round($scoreE, 6) AS score_r
          FROM dm ORDER BY score_r DESC, doc_id LIMIT 10"""
      }),

    // ---- content-defined chunking (p72): Gear-CDC (Xia et al.,
    // FastCDC, USENIX ATC 2016) — the storage-dedup view of a corpus.
    // Each document is cut where the 13-char gear hash h_i =
    // Σ_j G[char(i-j)]·2^j hits 0 mod 2^maskBits (the windowed closed
    // form of the h=(h<<1)+G[b] recurrence — shifting drops a term's
    // bits out of the mask after maskBits steps, so only the last 13
    // terms can matter at any mask ≤ 12); unlike fixed-size blocks,
    // an insertion only re-chunks its neighborhood. Chunks die at
    // md5 immediately (the p50b discipline: no chunk text on any
    // shuffle); per-source within-source dedup stats are additive
    // aggregates. 100 TB shape: per-row O(len·13) arithmetic, one
    // (source, fp) shuffle of fingerprints, one per-source rollup. ----
    QDef("p72_cdc_chunks",
      (s, dir) => {
        // the per-char arithmetic is the dominant cost and a single
        // parquet file scans as a handful of partitions — spread it
        cdcChunked(docs(s, dir)
            .repartition(s.sparkContext.defaultParallelism), Seq("source"))
          .select(col("source"), md5(col("chunk")).as("fp"),
            length(col("chunk")).as("l"))
          .groupBy(col("source"), col("fp"))
          .agg(count(lit(1)).as("c"), max(col("l")).as("l2"))
          .groupBy(col("source"))
          .agg(sum(col("c")).as("n_chunks"), count(lit(1)).as("n_uniq"),
            sum(col("c") * col("l2")).as("total_chars"),
            sum((col("c") - 1) * col("l2")).as("saved_chars"))
          .withColumn("savings_r", when(col("total_chars") === 0, lit(0.0))
            .otherwise(round(col("saved_chars").cast("double") / col("total_chars"), 6)))
          .select(col("source"), col("n_chunks"), col("n_uniq"),
            col("total_chars"), col("saved_chars"), col("savings_r"))
          .orderBy(col("source"))
      },
      Some {
        val mod = 1L << knobs.cdcMaskBits
        val w = cdcWindow
        val gl = cdcGear.mkString("[", ", ", "]")
        val hsum = (0 until w).map(j =>
          s"g[ascii(substr(text, i - $j, 1)) % 256 + 1] * CAST(${1L << j} AS BIGINT)")
          .mkString(" + ")
        s"""WITH gl AS (SELECT $gl AS g),
          base AS (SELECT source, text, CAST(length(text) AS INTEGER) AS n, g
            FROM documents, gl),
          cut AS (SELECT source, text, n,
              [CAST(i AS INTEGER) FOR i IN range($w, n + 1)
                IF i < n AND ($hsum) % $mod = 0] AS cuts
            FROM base),
          seg AS (SELECT source, text, n,
              list_prepend(1, [c + 1 FOR c IN cuts]) AS starts,
              list_append(cuts, n) AS ends
            FROM cut),
          ch AS (SELECT source,
              unnest([substr(text, starts[k], ends[k] - starts[k] + 1)
                FOR k IN range(1, len(starts) + 1)]) AS chunk
            FROM seg),
          cf AS (SELECT source, md5(chunk) AS fp,
              CAST(COUNT(*) AS BIGINT) AS c,
              MAX(CAST(length(chunk) AS INTEGER)) AS l2
            FROM ch GROUP BY 1, 2)
          SELECT source, CAST(SUM(c) AS BIGINT) AS n_chunks,
            CAST(COUNT(*) AS BIGINT) AS n_uniq,
            CAST(SUM(c * l2) AS BIGINT) AS total_chars,
            CAST(SUM((c - 1) * l2) AS BIGINT) AS saved_chars,
            CASE WHEN SUM(c * l2) = 0 THEN 0.0
              ELSE round(CAST(SUM((c - 1) * l2) AS DOUBLE) / SUM(c * l2), 6)
            END AS savings_r
          FROM cf GROUP BY source ORDER BY source"""
      }),

    // ---- asymmetric CONTAINMENT dedup (p73): Broder's containment
    // c(A,B) = |A∩B| / min(|A|,|B|) (On the resemblance and containment
    // of documents, 1997) over the staged DF-guarded shingle table —
    // the quote/excerpt detector resemblance misses: a short document
    // embedded verbatim in a long one has high containment but LOW
    // Jaccard, so p02's >= 0.5 resemblance gate never sees the pair.
    // `asym` marks exactly those (containment >= 0.7, Jaccard < 0.5).
    // Same 100 TB shape as the pair stage it complements: the posting
    // join keys on the staged 8-byte hash, the DF guard bounds every
    // posting list, only (id, id, count) integers shuffle. -------------
    QDef("p73_containment",
      // additive over the staged pre-threshold pair front (p00b): the
      // containment threshold is a literal filter on the SAME staged
      // (inter, sza, szb) table the Jaccard family reads — the posting
      // expansion is never re-run per similarity measure
      (s, dir) => {
        PairStage.load(s, dir)
          .withColumn("cont_r",
            round(col("inter").cast("double") / least(col("sza"), col("szb")), 6))
          .filter(col("cont_r") >= 0.7)
          .withColumn("jaccard_r", round(col("inter").cast("double") /
            (col("sza") + col("szb") - col("inter")), 6))
          .withColumn("asym", col("jaccard_r") < 0.5)
          .select(col("a_id"), col("b_id"), col("inter"), col("sza"),
            col("szb"), col("cont_r"), col("jaccard_r"), col("asym"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some(s"""WITH $duckGuardedPairCtes
        SELECT a_id, b_id, CAST(inter AS BIGINT) AS inter,
          CAST(sa.sz AS BIGINT) AS sza, CAST(sb.sz AS BIGINT) AS szb,
          round(CAST(inter AS DOUBLE) / least(sa.sz, sb.sz), 6) AS cont_r,
          round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard_r,
          round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) < 0.5 AS asym
        FROM pr JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
        WHERE round(CAST(inter AS DOUBLE) / least(sa.sz, sb.sz), 6) >= 0.7
        ORDER BY a_id, b_id""")),

    // ---- unigram (SentencePiece-family) tokenizer: Viterbi
    // segmentation under a frequency-scored piece lexicon (the
    // inference/E-step half of Kudo 2018, next to p48's BPE merge
    // learning). Lexicon = top-200 substrings (len ≤ 4) of the distinct
    // word table + all single chars; score = integer-scaled log
    // frequency (p53's sln), so every DP path sum is exact BIGINT
    // arithmetic and the argmax (ties → smallest start = longest last
    // piece) is engine-identical. The DP/backpointer/reconstruction
    // expression text is GENERATED once and rendered into both
    // dialects. p66 pins the lexicon + its realized usage under the
    // segmentation (the E-step counts); p66b pins the top-50 words'
    // actual segmentations — the end-to-end Viterbi witness. ----------
    QDef("p66_unigram_vocab",
      (s, dir) => {
        val used = UniSegStage.load(s, dir)
          .select(col("freq"), explode(col("seg")).as("p"))
          .groupBy(col("p")).agg(sum(col("freq")).as("u"))
        uniVocab(s, dir).join(used, Seq("p"), "left")
          .withColumn("used", coalesce(col("u"), lit(0L)))
          .select(col("p").as("piece"), col("cnt"), col("score"), col("used"))
          .orderBy(col("used").desc, col("cnt").desc, col("piece"))
      },
      Some(s"""WITH $duckUniCtes,
        uused AS (
          SELECT s.p AS p, CAST(SUM(u.freq) AS BIGINT) AS used
          FROM useg u, UNNEST(u.seg) AS s(p) GROUP BY 1)
        SELECT v.p AS piece, v.cnt, v.score,
          COALESCE(uu.used, 0) AS used
        FROM uvocab v LEFT JOIN uused uu ON uu.p = v.p
        ORDER BY used DESC, cnt DESC, piece""")),

    QDef("p66b_unigram_segments",
      (s, dir) => UniSegStage.load(s, dir)
        .withColumn("seg", expr("array_join(seg, '|')"))
        .select(col("w"), col("freq"), col("seg"))
        .orderBy(col("freq").desc, col("w")).limit(50),
      Some(s"""WITH $duckUniCtes
        SELECT w, freq, array_to_string(seg, '|') AS seg
        FROM useg ORDER BY freq DESC, w LIMIT 50""")),

    // ---- one full HARD-EM round (p66c): tokenizer training actually
    // ITERATES. E-step = p66's Viterbi usage counts; M-step = scores
    // re-estimated from those counts (unused multi-char pieces drop;
    // single chars keep a count-1 floor so coverage never breaks);
    // then the corpus re-segments under the new lexicon through the
    // SAME generated chain. Likelihood accounting is EXACT: per-word
    // path scores are sln-scaled BIGINTs, so ll sums — and the EM
    // gain — are integer arithmetic, no float drift across engines.
    // Corpus-scaled work is still only the word aggregation; both
    // passes are vocabulary-bounded broadcasts. -----------------------
    QDef("p66c_unigram_em",
      (s, dir) => {
        // both rounds read their STAGED segmentations (UniSegStage /
        // UniSeg2Stage): before staging round 1 this entry re-ran the
        // full DP chain in-plan — the r12 bench's #1 line (7.9 s)
        val r1 = UniSegStage.load(s, dir)
        val r2 = UniSeg2Stage.load(s, dir)
        val sizes = uniVocab(s, dir).agg(count(lit(1)).as("n_vocab1"))
          .crossJoin(broadcast(
            uniVocab2(s, dir).agg(count(lit(1)).as("n_vocab2"))))
        r1.select(col("w"), col("freq"), col("seg").as("seg1"),
            col("ll").as("ll1"))
          .join(r2.select(col("w"), col("seg").as("seg2"),
            col("ll").as("ll2")), Seq("w"))
          .agg(count(lit(1)).as("n_words"),
            sum(col("freq")).as("occurrences"),
            sum(col("freq") * col("ll1")).as("ll1_sum"),
            sum(col("freq") * col("ll2")).as("ll2_sum"),
            sum(when(col("seg1") =!= col("seg2"), 1L).otherwise(0L))
              .as("n_changed"))
          .crossJoin(broadcast(sizes))
          .withColumn("gain", col("ll2_sum") - col("ll1_sum"))
          .select(col("n_words"), col("occurrences"), col("n_vocab1"),
            col("n_vocab2"), col("ll1_sum"), col("ll2_sum"), col("gain"),
            col("n_changed"))
      },
      Some(s"""WITH $duckUniCtes,
        cused AS (
          SELECT s.p AS p, CAST(SUM(u.freq) AS BIGINT) AS u
          FROM useg u, UNNEST(u.seg) AS s(p) GROUP BY 1),
        ekept AS (
          SELECT v.p,
            CASE WHEN length(v.p) = 1 THEN greatest(COALESCE(uu.u, 0), 1)
              ELSE COALESCE(uu.u, 0) END AS u2
          FROM uvocab v LEFT JOIN cused uu ON uu.p = v.p
          WHERE COALESCE(uu.u, 0) > 0 OR length(v.p) = 1),
        etot AS (SELECT CAST(SUM(u2) AS BIGINT) AS vt FROM ekept),
        evocab AS (
          SELECT p, u2 AS cnt, ${sln("u2")} - ${sln("vt")} AS score
          FROM ekept, etot),
        ${duckUniChain("e", "evocab")},
        emj AS (
          SELECT u1.w, u1.freq, u1.seg AS seg1, u1.ll AS ll1,
            e1.seg AS seg2, e1.ll AS ll2
          FROM useg u1 JOIN eseg e1 ON e1.w = u1.w),
        vsz AS (
          SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM uvocab) AS n_vocab1,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM evocab) AS n_vocab2)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
          CAST(SUM(freq) AS BIGINT) AS occurrences,
          vsz.n_vocab1, vsz.n_vocab2,
          CAST(SUM(freq * ll1) AS BIGINT) AS ll1_sum,
          CAST(SUM(freq * ll2) AS BIGINT) AS ll2_sum,
          CAST(SUM(freq * ll2) - SUM(freq * ll1) AS BIGINT) AS gain,
          CAST(SUM(CASE WHEN seg1 <> seg2 THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
        FROM emj, vsz GROUP BY vsz.n_vocab1, vsz.n_vocab2""")),

    // ---- hard-EM ROUND 3 (p66d): one more M/E round unrolled from the
    // STAGED round-2 segmentation — M-step re-estimates the lexicon
    // from round-2 usage, the corpus re-segments under it through the
    // same generated DP chain, and the round-2→3 likelihood trajectory
    // is reported in the same exact-BIGINT accounting as p66c (the
    // spec asserts both rounds' gains non-negative — the hard-EM
    // monotonicity the math demands). Corpus-scaled work: the word
    // aggregation feeding round 3's chain; both M-steps are
    // vocabulary-bounded broadcasts over staged reads. ------------------
    QDef("p66d_unigram_em2",
      (s, dir) => {
        val r2 = UniSeg2Stage.load(s, dir)
        // vocab frames are consumed twice each (the next M-step + the
        // size row); they are vocabulary-bounded (~2k rows), so a
        // fire-and-forget materialization flattens the repeated
        // lexicon-derivation subtrees out of the plan (r17)
        val v2 = Materialize(uniVocab2(s, dir), "uv2")
        val v3 = Materialize(uniNextVocab(v2, r2), "uv3")
        val r3 = uniSegmentsFrom(s, dir, v3)
        val sizes = v2.agg(count(lit(1)).as("n_vocab2"))
          .crossJoin(broadcast(v3.agg(count(lit(1)).as("n_vocab3"))))
        r2.select(col("w"), col("freq"), col("seg").as("seg2"),
            col("ll").as("ll2"))
          .join(r3.select(col("w"), col("seg").as("seg3"),
            col("ll").as("ll3")), Seq("w"))
          .agg(count(lit(1)).as("n_words"),
            sum(col("freq")).as("occurrences"),
            sum(col("freq") * col("ll2")).as("ll2_sum"),
            sum(col("freq") * col("ll3")).as("ll3_sum"),
            sum(when(col("seg2") =!= col("seg3"), 1L).otherwise(0L))
              .as("n_changed"))
          .crossJoin(broadcast(sizes))
          .withColumn("gain", col("ll3_sum") - col("ll2_sum"))
          .select(col("n_words"), col("occurrences"), col("n_vocab2"),
            col("n_vocab3"), col("ll2_sum"), col("ll3_sum"), col("gain"),
            col("n_changed"))
      },
      Some(s"""WITH $duckUniCtes,
        cused AS (
          SELECT s.p AS p, CAST(SUM(u.freq) AS BIGINT) AS u
          FROM useg u, UNNEST(u.seg) AS s(p) GROUP BY 1),
        ekept AS (
          SELECT v.p,
            CASE WHEN length(v.p) = 1 THEN greatest(COALESCE(uu.u, 0), 1)
              ELSE COALESCE(uu.u, 0) END AS u2
          FROM uvocab v LEFT JOIN cused uu ON uu.p = v.p
          WHERE COALESCE(uu.u, 0) > 0 OR length(v.p) = 1),
        etot AS (SELECT CAST(SUM(u2) AS BIGINT) AS vt FROM ekept),
        evocab AS (
          SELECT p, u2 AS cnt, ${sln("u2")} - ${sln("vt")} AS score
          FROM ekept, etot),
        ${duckUniChain("e", "evocab")},
        fused AS (
          SELECT s.p AS p, CAST(SUM(u.freq) AS BIGINT) AS u
          FROM eseg u, UNNEST(u.seg) AS s(p) GROUP BY 1),
        fkept AS (
          SELECT v.p,
            CASE WHEN length(v.p) = 1 THEN greatest(COALESCE(uu.u, 0), 1)
              ELSE COALESCE(uu.u, 0) END AS u2
          FROM evocab v LEFT JOIN fused uu ON uu.p = v.p
          WHERE COALESCE(uu.u, 0) > 0 OR length(v.p) = 1),
        ftot AS (SELECT CAST(SUM(u2) AS BIGINT) AS vt FROM fkept),
        fvocab AS (
          SELECT p, u2 AS cnt, ${sln("u2")} - ${sln("vt")} AS score
          FROM fkept, ftot),
        ${duckUniChain("f", "fvocab")},
        fmj AS (
          SELECT u1.w, u1.freq, u1.seg AS seg2, u1.ll AS ll2,
            e1.seg AS seg3, e1.ll AS ll3
          FROM eseg u1 JOIN fseg e1 ON e1.w = u1.w),
        fsz AS (
          SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM evocab) AS n_vocab2,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM fvocab) AS n_vocab3)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
          CAST(SUM(freq) AS BIGINT) AS occurrences,
          fsz.n_vocab2, fsz.n_vocab3,
          CAST(SUM(freq * ll2) AS BIGINT) AS ll2_sum,
          CAST(SUM(freq * ll3) AS BIGINT) AS ll3_sum,
          CAST(SUM(freq * ll3) - SUM(freq * ll2) AS BIGINT) AS gain,
          CAST(SUM(CASE WHEN seg2 <> seg3 THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
        FROM fmj, fsz GROUP BY fsz.n_vocab2, fsz.n_vocab3""")),

    // ---- WordPiece (BERT-family) greedy segmentation: the MaxMatch
    // sibling of p66's Viterbi, under a position-classed lexicon
    // (word-initial vs '##'-continuation pieces — the convention that
    // makes detokenization lossless). p67 pins the top-50 words'
    // actual greedy segmentations; p67b pins the corpus fertility
    // distribution (pieces-per-word histogram + weighted continuation
    // mass). Zero shuffles beyond the word aggregation; lexicon joins
    // broadcast (vocabulary-bounded at any corpus size). --------------
    QDef("p67_wordpiece_segments",
      (s, dir) => WpSegStage.load(s, dir)
        .withColumn("n_pieces", size(col("seg")))
        .withColumn("seg", expr("array_join(seg, '|')"))
        .orderBy(col("freq").desc, col("w")).limit(50)
        .select(col("w"), col("freq"), col("seg"), col("n_pieces")),
      Some(s"""WITH $duckWpCtes
        SELECT w, freq, array_to_string(seg, '|') AS seg,
          CAST(len(seg) AS INTEGER) AS n_pieces
        FROM wseg ORDER BY freq DESC, w LIMIT 50""")),

    QDef("p67b_wordpiece_fertility",
      (s, dir) => WpSegStage.load(s, dir)
        .withColumn("n_pieces", size(col("seg")))
        .withColumn("n_cont", expr(
          "size(filter(seg, x -> substring(x, 1, 2) = '##'))"))
        .groupBy(col("n_pieces"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("freq")).as("occurrences"),
          sum(col("freq") * col("n_cont")).as("cont_mass"))
        .orderBy(col("n_pieces")),
      Some(s"""WITH $duckWpCtes
        SELECT CAST(len(seg) AS INTEGER) AS n_pieces,
          CAST(COUNT(*) AS BIGINT) AS n_words,
          CAST(SUM(freq) AS BIGINT) AS occurrences,
          CAST(SUM(freq * len(list_filter(seg, x -> substr(x, 1, 2) = '##'))) AS BIGINT) AS cont_mass
        FROM wseg GROUP BY 1 ORDER BY n_pieces""")),

    // ---- the three tokenizer families on ONE fertility surface
    // (p69): BPE merges (p48), unigram Viterbi (p66) and WordPiece
    // greedy (p67) segment the SAME word domain (distinct [a-z]+ words
    // ≤ 12 chars), and this entry reports each family's
    // occurrence-weighted pieces-per-word — the standard "which
    // tokenizer fits this corpus" comparison, now pinned cross-engine.
    // Corpus-scaled work is the shared distinct-word aggregation; all
    // three fertility folds are vocabulary-bounded. The oracle runs
    // all three unrolled chains (BPE rounds, Viterbi DP, greedy walk)
    // in one statement. -------------------------------------------------
    QDef("p69_tokenizer_compare",
      (s, dir) => {
        def summarize(name: String, seg: DataFrame): DataFrame =
          seg.agg(count(lit(1)).as("n_words"),
              sum(col("freq")).as("occurrences"),
              sum(col("freq") * col("np")).as("pieces_mass"))
            .select(lit(name).as("tokenizer"), col("n_words"),
              col("occurrences"), col("pieces_mass"),
              round(col("pieces_mass").cast("double") / col("occurrences"), 6)
                .as("fertility_r"))
        val bpe = BpeStage.load(s, dir)
          .filter(length(col("w")) <= uniMaxWordLen)
          .select(col("freq"),
            size(split(expr("substring(enc, 2, length(enc) - 2)"), "\\)\\("))
              .cast("bigint").as("np"))
        val uni = UniSegStage.load(s, dir)
          .select(col("freq"), size(col("seg")).cast("bigint").as("np"))
        val wp = WpSegStage.load(s, dir)
          .select(col("freq"), size(col("seg")).cast("bigint").as("np"))
        summarize("bpe", bpe)
          .unionByName(summarize("unigram", uni))
          .unionByName(summarize("wordpiece", wp))
          .orderBy(col("tokenizer"))
      },
      Some(s"""WITH $duckBpeChain,
        $duckUniCtes,
        $duckWpCtes,
        b69 AS (
          SELECT freq,
            CAST(len(string_split(substr(enc, 2, length(enc) - 2), ')(')) AS BIGINT) AS np
          FROM bw${knobs.bpeMerges} WHERE length(w) <= $uniMaxWordLen),
        u69 AS (SELECT freq, CAST(len(seg) AS BIGINT) AS np FROM useg),
        w69 AS (SELECT freq, CAST(len(seg) AS BIGINT) AS np FROM wseg),
        s69 AS (
          SELECT 'bpe' AS tokenizer, CAST(COUNT(*) AS BIGINT) AS n_words,
            CAST(SUM(freq) AS BIGINT) AS occurrences,
            CAST(SUM(freq * np) AS BIGINT) AS pieces_mass
          FROM b69
          UNION ALL
          SELECT 'unigram', CAST(COUNT(*) AS BIGINT),
            CAST(SUM(freq) AS BIGINT), CAST(SUM(freq * np) AS BIGINT)
          FROM u69
          UNION ALL
          SELECT 'wordpiece', CAST(COUNT(*) AS BIGINT),
            CAST(SUM(freq) AS BIGINT), CAST(SUM(freq * np) AS BIGINT)
          FROM w69)
        SELECT tokenizer, n_words, occurrences, pieces_mass,
          round(CAST(pieces_mass AS DOUBLE) / occurrences, 6) AS fertility_r
        FROM s69 ORDER BY tokenizer""")),

    // ---- JL random projection + measured distortion (p68): compress
    // 64-dim embeddings to 16 dims with the ±1/√k sign matrix (the
    // standard pre-ANN dimensionality-reduction at scale) and MEASURE
    // what it does to pairwise distances on a deterministic 1-in-7
    // sample of consecutive-id pairs. Projection is a pure per-row
    // expression against the broadcast-free LITERAL sign matrix (no
    // hashing, no lookup, fully codegen-friendly); the pair join
    // filters BOTH sides at the scan (vec_id%7==0 vs ==1) so only the
    // sampled vectors ever shuffle. All sums fold in index order via
    // sequential aggregate/list_sum — the p30 parity plane. ------------
    QDef("p68_jl_distortion",
      (s, dir) => {
        def projExpr(c: String): String = jlProjectSql(c)
        val e = emb(s, dir)
        val a = e.filter(expr("vec_id % 7 = 0"))
          .select(col("vec_id").as("a_id"), col("embedding").as("ea"))
        val b = e.filter(expr("vec_id % 7 = 1"))
          .select(col("vec_id").as("b_id"), col("embedding").as("eb"))
        a.join(b, expr("b_id = a_id + 1"))
          .withColumn("pa", expr(projExpr("ea")))
          .withColumn("pb", expr(projExpr("eb")))
          .withColumn("d_orig", expr(
            s"""sqrt(aggregate(sequence(1, least($jlInDim, size(ea))), 0D, (acc, i) ->
               |  acc + (CAST(element_at(ea, i) AS DOUBLE) - CAST(element_at(eb, i) AS DOUBLE))
               |      * (CAST(element_at(ea, i) AS DOUBLE) - CAST(element_at(eb, i) AS DOUBLE))))""".stripMargin))
          .withColumn("d_proj", expr(
            s"""sqrt(aggregate(sequence(1, $jlOutDim), 0D, (acc, j) ->
               |  acc + (element_at(pa, j) - element_at(pb, j))
               |      * (element_at(pa, j) - element_at(pb, j))))""".stripMargin))
          .select(col("a_id"), col("b_id"),
            round(col("d_orig"), 6).as("d_orig_r"),
            round(col("d_proj"), 6).as("d_proj_r"),
            expr("CASE WHEN d_orig = 0.0 THEN CAST(NULL AS DOUBLE) ELSE round(d_proj / d_orig, 6) END").as("ratio_r"))
          .orderBy(col("a_id"))
      },
      Some(s"""WITH jls AS (SELECT $jlSignsDuckLit AS s),
        pe AS (
          -- signs come from the one-row jls CTE: a nested list LITERAL
          -- inside the double comprehension is re-constructed per
          -- element access (measured 0.65 s/row at 16x64)
          SELECT vec_id,
            [list_sum([CAST(embedding[i] AS DOUBLE) * jls.s[j][i]
                FOR i IN range(1, least($jlInDim, len(embedding)) + 1)]) / $jlScaleDiv
              FOR j IN range(1, ${jlOutDim + 1})] AS pv,
            embedding
          FROM embeddings, jls
          WHERE vec_id % 7 = 0 OR vec_id % 7 = 1),
        pr AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
            sqrt(list_sum([(CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))
                * (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))
                FOR i IN range(1, least($jlInDim, len(a.embedding)) + 1)])) AS d_orig,
            sqrt(list_sum([(a.pv[j] - b.pv[j]) * (a.pv[j] - b.pv[j])
                FOR j IN range(1, ${jlOutDim + 1})])) AS d_proj
          FROM pe a JOIN pe b ON b.vec_id = a.vec_id + 1
          WHERE a.vec_id % 7 = 0)
        SELECT a_id, b_id, round(d_orig, 6) AS d_orig_r,
          round(d_proj, 6) AS d_proj_r,
          CASE WHEN d_orig = 0.0 THEN CAST(NULL AS DOUBLE)
            ELSE round(d_proj / d_orig, 6) END AS ratio_r
        FROM pr ORDER BY a_id""")),

    // ---- JL recall (p68b): does ANN in the 16-dim projected space
    // still find the true 64-dim neighbors? Top-5 by projected cosine
    // (rounded ranks, cid tiebreak) vs the exact p00g truth — the JL
    // point on p35's recall/cost curve (4× less vector memory and 4×
    // cheaper dot products than raw, vs PQ's 32× at lower recall).
    // The projected all-pairs is a VALIDATION-scale measurement like
    // p35, behind the same exact-baseline guard; the production path
    // in projected space would be the IVF/LSH families unchanged.
    // Oracle re-derives BOTH lists (truth and projected) from scratch. -
    QDef("p68b_jl_recall",
      (s, dir) => {
        guardExactBaseline(s, dir, "p68b_jl_recall (projected all-pairs)",
          "p16_knn_ivf over jl-projected vectors")
        val dot = (a: String, b: String) =>
          s"aggregate(sequence(1, $jlOutDim), 0D, (acc, j) -> acc + element_at($a, j) * element_at($b, j))"
        // the all-pairs hot loop runs per PAIR, so everything per-VECTOR
        // (projection, norm) is computed once before the join, and the
        // 16-dim vectors are flattened to scalar columns: the per-pair
        // similarity is then a plain codegen'd multiply-add chain, not an
        // interpreted higher-order aggregate over arrays (~25x less CPU).
        // Bit-identity with the previous form: the explicit sum seeds the
        // SAME `0D` and adds in the same order as the aggregate fold, and
        // the norms are the identical sqrt values factored out of the
        // pair expression.
        val e0 = emb(s, dir)
        val nEmb = embCount(s, dir)
        val pe = e0
          .select(col("vec_id"), expr(jlProjectSql("embedding")).as("pv"))
          .withColumn("nrm", expr(s"sqrt(${dot("pv", "pv")})"))
        def flat(src: DataFrame, idC: String, nC: String, p: String) =
          src.select(col("vec_id").as(idC) +: col("nrm").as(nC) +:
            (1 to jlOutDim).map(j => expr(s"element_at(pv, $j)").as(s"$p$j")): _*)
        // query side honors the eval sample (same slice as the staged
        // truth it is judged against); candidate side stays full
        val q = flat(evalSampleFilter(pe, nEmb), "qid", "qn", "qp")
          .repartition(s.sparkContext.defaultParallelism)
        val c = flat(pe, "cid", "cn", "cp")
        val dotE = "0D" + (1 to jlOutDim).map(j => s" + qp$j * cp$j").mkString
        val rn = Window.partitionBy(col("qid"))
          .orderBy(col("sim_r").desc, col("cid"))
        val top = q.crossJoin(c).filter(col("qid") =!= col("cid"))
          .select(col("qid"), col("cid"),
            round(expr(s"($dotE) / (qn * cn)"), 6).as("sim_r"))
          .withColumn("rank", row_number().over(rn))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("cid"))
        val truth = TruthStage.loadKnn(s, dir)
          .select(col("qid"), col("neighbor_id").as("cid"))
        val hits = truth.join(top, Seq("qid", "cid"), "left_semi")
        truth.agg(count(lit(1)).as("possible"),
            countDistinct(col("qid")).as("n_queries"))
          .crossJoin(broadcast(hits.agg(count(lit(1)).as("hits"))))
          .select(col("n_queries"), col("hits"), col("possible"),
            round(col("hits").cast("double") / col("possible"), 6).as("recall_r"))
      },
      Some(s"""WITH jls AS (SELECT $jlSignsDuckLit AS s),
        pe AS MATERIALIZED (
          -- MATERIALIZED: referenced as BOTH join sides; DuckDB inlines
          -- non-materialized CTEs, re-running the projection per pair
          -- side (sf0.01 oracle measured 662 s inlined vs 267 s
          -- materialized). The signs come from the one-row jls CTE: a
          -- nested list LITERAL inside the double comprehension is
          -- re-constructed per element access — profiled as ONE
          -- projection burning 322 of those 267+ seconds (0.65 s/row
          -- at 16x64); via jls the whole oracle is ~2 s
          SELECT vec_id,
            [list_sum([CAST(embedding[i] AS DOUBLE) * jls.s[j][i]
                FOR i IN range(1, least($jlInDim, len(embedding)) + 1)]) / $jlScaleDiv
              FOR j IN range(1, ${jlOutDim + 1})] AS pv
          FROM embeddings, jls),
        psims AS (
          SELECT a.vec_id AS qid, b.vec_id AS cid,
            round(list_sum([a.pv[j] * b.pv[j] FOR j IN range(1, ${jlOutDim + 1})])
              / (sqrt(list_sum([a.pv[j] * a.pv[j] FOR j IN range(1, ${jlOutDim + 1})]))
               * sqrt(list_sum([b.pv[j] * b.pv[j] FOR j IN range(1, ${jlOutDim + 1})]))), 6) AS sim_r
          FROM ${duckEvalFrom("pe", "a")} JOIN pe b ON a.vec_id <> b.vec_id),
        ptop AS (
          SELECT qid, cid FROM (
            SELECT qid, cid,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim_r DESC, cid) AS rank
            FROM psims) WHERE rank <= 5),
        tsims AS (
          SELECT a.vec_id AS qid, b.vec_id AS cid,
            ${duckCosine("a.embedding", "b.embedding")} AS sim
          FROM ${duckEvalFrom("embeddings", "a")} JOIN embeddings b ON a.vec_id <> b.vec_id),
        truth AS (
          SELECT qid, cid FROM (
            SELECT qid, cid,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
            FROM tsims) WHERE rank <= 5),
        h AS (SELECT COUNT(*) AS hits FROM truth t
          WHERE EXISTS (SELECT 1 FROM ptop p
            WHERE p.qid = t.qid AND p.cid = t.cid))
        SELECT CAST(COUNT(DISTINCT qid) AS BIGINT) AS n_queries,
          CAST(h.hits AS BIGINT) AS hits,
          CAST(COUNT(*) AS BIGINT) AS possible,
          round(CAST(h.hits AS DOUBLE) / COUNT(*), 6) AS recall_r
        FROM truth, h GROUP BY h.hits""")),

    QDef("p30_embed_quantize",
      (s, dir) => emb(s, dir)
        .withColumn("scale", expr(
          "aggregate(embedding, 0D, (m, x) -> greatest(m, abs(CAST(x AS DOUBLE)))) / 127.0"))
        .withColumn("qv", expr(
          """transform(embedding, x -> CASE WHEN scale = 0.0 THEN 0L
             ELSE CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT) END)"""))
        .withColumn("rmse_r", round(expr(
          """sqrt(aggregate(sequence(0, size(embedding) - 1), 0D,
               (acc, i) -> acc + pow(CAST(embedding[i] AS DOUBLE) - qv[i] * scale, 2))
             / size(embedding))"""), 6))
        .select(col("vec_id"), round(col("scale"), 6).as("scale_r"),
          expr("array_join(transform(qv, x -> CAST(x AS STRING)), ',')").as("q_str"),
          col("rmse_r"))
        .orderBy(col("vec_id")),
      Some("""WITH q AS (
          SELECT vec_id, embedding,
            list_max([abs(CAST(embedding[i] AS DOUBLE))
              FOR i IN range(1, len(embedding) + 1)]) / 127.0 AS scale
          FROM embeddings),
        qq AS (
          SELECT vec_id, embedding, scale,
            [CASE WHEN scale = 0.0 THEN 0
              ELSE CAST(floor(CAST(embedding[i] AS DOUBLE) / scale + 0.5) AS BIGINT) END
              FOR i IN range(1, len(embedding) + 1)] AS qv
          FROM q)
        SELECT vec_id, round(scale, 6) AS scale_r,
          array_to_string(qv, ',') AS q_str,
          round(sqrt(list_sum([pow(CAST(embedding[i] AS DOUBLE) - qv[i] * scale, 2)
            FOR i IN range(1, len(embedding) + 1)]) / len(embedding)), 6) AS rmse_r
        FROM qq ORDER BY vec_id""")),

    // ---- leakage-safe train/val split: the split key is the NEAR-DUP
    // COMPONENT (p20's connected components), not the document, so a
    // near-copy of a training document can never land in validation —
    // the standard guard against eval contamination when training on a
    // deduplicated-but-not-fully-pruned corpus. The side is decided by an
    // engine-portable md5 byte of the component id (p24's trick), so any
    // engine reproduces the identical split. Scale shape: everything is
    // p20's machinery plus one per-row hash — no extra shuffle. ----------
    QDef("p31_leakage_split",
      (s, dir) => {
        val fix = minLabelComponents(s,
          jaccardPairs(s, dir).select(col("a_id"), col("b_id")))
        docs(s, dir)
          .select(col("doc_id"))
          .join(fix.withColumnRenamed("comp", "edge_comp"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("edge_comp"), col("doc_id")).as("comp"))
          .withColumn("u", (
            (expr("instr('0123456789abcdef', substring(md5(cast(comp AS string)), 1, 1))") - 1) * 16 +
              expr("instr('0123456789abcdef', substring(md5(cast(comp AS string)), 2, 1))") - 1) % 100)
          .withColumn("split", when(col("u") < 10, lit("val")).otherwise(lit("train")))
          .select(col("doc_id"), col("comp"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE toks AS (
          SELECT doc_id, string_split(text, ' ') AS arr FROM documents
          WHERE len(string_split(text, ' ')) >= 3),
        sh0 AS (
          SELECT doc_id, unnest(list_distinct(
            [arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] FOR i IN range(1, len(arr) - 1)])) AS shingle
          FROM toks),
        nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        sh1 AS (SELECT doc_id, ${duckMd560("shingle")} AS h FROM sh0),
        hot AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM sh1 GROUP BY h) d, nd
                WHERE CAST(d.df AS DOUBLE) > greatest(5.0, CAST(nd.n_docs AS DOUBLE) * 0.01)),
        sh AS (SELECT doc_id, h FROM sh1
               WHERE h NOT IN (SELECT h FROM hot)),
        sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
               FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
        pairs AS (
          SELECT a_id, b_id
          FROM pr JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
          WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5),
        edges AS (SELECT a_id AS s, b_id AS d FROM pairs
                  UNION SELECT b_id, a_id FROM pairs),
        reach(id, comp) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id),
        comps AS (
          SELECT id AS doc_id, CAST(MIN(comp) AS BIGINT) AS comp FROM reach GROUP BY id)
        SELECT doc_id, comp,
          CASE WHEN ((instr('0123456789abcdef', substr(md5(CAST(comp AS VARCHAR)), 1, 1)) - 1) * 16
              + instr('0123456789abcdef', substr(md5(CAST(comp AS VARCHAR)), 2, 1)) - 1) % 100 < 10
            THEN 'val' ELSE 'train' END AS split
        FROM comps ORDER BY doc_id""")),

    // ---- SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    // at web-scale through semantic deduplication"): cluster the embedding
    // space, then inside each cluster drop every vector that has a
    // semantic near-copy (cosine >= 0.4, the p14 near-dup threshold) with
    // a lower id. Scale shape: cluster assignment is the zero-shuffle
    // broadcast top-1 against the staged k-means index (CellStage), and
    // the pair scan is quadratic ONLY within a cell — with k = sqrt(n)
    // cells that is n²/k = n^1.5 total comparisons that SHRINK relative
    // to brute force as the corpus grows (the paper's regime), never a
    // global self-join. ---------------------------------------------------
    QDef("p32_semdedup",
      (s, dir) => {
        val e = emb(s, dir)
        val assigned = nearestCellsStaged(s, dir,
          e.select(col("vec_id"), col("embedding")), 1)
          .select(col("vec_id"), col("cell"), col("embedding"))
        val dropped = assigned.select(col("cell"), col("vec_id").as("a_id"), col("embedding").as("av"))
          .join(assigned.select(col("cell"), col("vec_id").as("b_id"), col("embedding").as("bv")), "cell")
          .filter(col("a_id") < col("b_id"))
          .filter(expr("cosine_sim(av, bv)") >= 0.4)
          .select(col("b_id").as("vec_id")).distinct()
        assigned
          .join(dropped.withColumn("hit", lit(1)), Seq("vec_id"), "left")
          .select(col("vec_id"), col("cell"),
            when(col("hit").isNull, 1).otherwise(0).as("is_kept"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH $duckSuperCells,
${duckTwoLevel("a", "embeddings", Nil, "1")},
        assigned AS (
          SELECT vec_id, cell, embedding FROM acranked WHERE crank = 1),
        dropped AS (
          SELECT DISTINCT b.vec_id
          FROM assigned a JOIN assigned b
            ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE ${duckCosine("a.embedding", "b.embedding")} >= 0.4)
        SELECT s.vec_id, s.cell,
          CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_kept
        FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.vec_id
        ORDER BY s.vec_id""")),

    // ---- ordered funnel per user (MATCH_RECOGNIZE-lite): did the user's
    // event history contain view -> click-after-view ->
    // purchase-after-click, in that order? Each stage is a conditional
    // MIN over the previous stage's timestamp (event_id tiebreak via the
    // timestamp ordering), so the whole query is three partial-aggregated
    // MINs + joins all keyed on user_id — ONE shuffle key end to end, no
    // per-row state machine, no collect. ---------------------------------
    QDef("p33_funnel",
      (s, dir) => {
        val se = t(s, dir, "events")
          .withColumn("us", unix_micros(col("ts")))
          .select(col("user_id"), col("event_type"), col("us"))
        val v = se.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("us")).as("t_view"))
        val c = se.join(v, "user_id")
          .filter(col("event_type") === "click" && col("us") >= col("t_view"))
          .groupBy(col("user_id")).agg(min(col("us")).as("t_click"))
        val p = se.join(c, "user_id")
          .filter(col("event_type") === "purchase" && col("us") >= col("t_click"))
          .groupBy(col("user_id")).agg(min(col("us")).as("t_purchase"))
        se.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
          .join(v, Seq("user_id"), "left")
          .join(c, Seq("user_id"), "left")
          .join(p, Seq("user_id"), "left")
          .select(col("user_id"), col("n_events"),
            // the stage timestamps are part of the output contract: they
            // pin the conditional-MIN chain itself in the hash check, not
            // just the (saturating) reached flags
            col("t_view"), col("t_click"), col("t_purchase"),
            (when(col("t_view").isNotNull, 1).otherwise(0) +
              when(col("t_click").isNotNull, 1).otherwise(0) +
              when(col("t_purchase").isNotNull, 1).otherwise(0)).as("funnel_depth"))
          .orderBy(col("user_id"))
      },
      Some("""WITH se AS (
          SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        v AS (SELECT user_id, MIN(us) AS t_view FROM se
              WHERE event_type = 'view' GROUP BY 1),
        c AS (SELECT se.user_id, MIN(se.us) AS t_click
              FROM se JOIN v ON se.user_id = v.user_id
              WHERE se.event_type = 'click' AND se.us >= v.t_view GROUP BY 1),
        p AS (SELECT se.user_id, MIN(se.us) AS t_purchase
              FROM se JOIN c ON se.user_id = c.user_id
              WHERE se.event_type = 'purchase' AND se.us >= c.t_click GROUP BY 1),
        base AS (SELECT user_id, COUNT(*) AS n_events FROM se GROUP BY 1)
        SELECT base.user_id, base.n_events,
          v.t_view, c.t_click, p.t_purchase,
          CAST(CASE WHEN v.t_view IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN c.t_click IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN p.t_purchase IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS funnel_depth
        FROM base
        LEFT JOIN v ON base.user_id = v.user_id
        LEFT JOIN c ON base.user_id = c.user_id
        LEFT JOIN p ON base.user_id = p.user_id
        ORDER BY base.user_id""")),

    // ---- hard-negative mining (contrastive training data): for every
    // vector, the top-3 most-similar vectors with a DIFFERENT label —
    // the embeddings a contrastive loss most needs to push apart. Same
    // scale shape as p16 (staged k-means cells, zero-shuffle broadcast
    // probing, no global pair shuffle); the label-differ filter rides
    // the probe join, so negatives cost no more than neighbors. ----------
    QDef("p34_hard_negatives",
      (s, dir) => {
        val e = emb(s, dir)
        val nprobe = ivfNprobe(ivfK(embCount(s, dir)))
        val top = nearestCellsStaged(s, dir,
          e.select(col("vec_id"), col("label"), col("embedding")), nprobe)
        val assigned = top.filter(col("crank") === 1)
          .select(col("vec_id").as("cid"), col("label").as("clabel"),
            col("cell"), col("embedding").as("cv2"))
        val probes = top
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("cell"), col("embedding").as("qv"))
        val rn = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
        probes.join(assigned, "cell")
          .filter(col("qlabel") =!= col("clabel"))
          .withColumn("sim", expr("cosine_sim(qv, cv2)"))
          .withColumn("rank", row_number().over(rn))
          .filter(col("rank") <= 3)
          .select(col("qid"), col("cid").as("negative_id"), col("rank"),
            round(col("sim"), 6).as("sim_r"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH $duckSuperCells,
${duckTwoLevel("h", "embeddings", Seq("label"), duckNprobe)},
        assigned AS (SELECT vec_id AS cid, label AS clabel, cell, embedding AS cv2
                     FROM hcranked WHERE crank = 1),
        probes AS (SELECT vec_id AS qid, label AS qlabel, cell, embedding AS qv
                   FROM hcranked, kk WHERE crank <= $duckNprobe),
        sims AS (
          SELECT p.qid, a.cid, ${duckCosine("p.qv", "a.cv2")} AS sim
          FROM probes p JOIN assigned a ON p.cell = a.cell AND p.qlabel <> a.clabel),
        ranked AS (
          SELECT qid, cid, sim,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INTEGER) AS rank
          FROM sims)
        SELECT qid, cid AS negative_id, rank, round(sim, 6) AS sim_r
        FROM ranked WHERE rank <= 3 ORDER BY qid, rank""")),

    // ---- ANN recall@5: how many of the TRUE top-5 neighbors (p05 exact)
    // each approximate index recovers — the quality number that separates
    // "deterministic and oracle-exact" from "actually finds neighbors".
    // One row per method; a third row measures the LSH buckets on their
    // ACTUAL job — candidate generation for near-dup pairs (p14's truth
    // set: cosine >= 0.4) — because single-table bucket equality is a
    // high-similarity collider, not a top-k retriever, and grading it
    // only on top-5 would misread the design. n_queries is the
    // denominator entity count (query vectors / true pairs). Runs the
    // exact baselines, so it carries their scale guard: recall is
    // measured at validation scale (sf0.01/sf0.1) and quoted in
    // SCALE.md, never computed over the full corpus. All arithmetic is
    // integer counts + one final double division. ------------------------
    QDef("p35_ann_recall",
      (s, dir) => {
        def res(name: String) = entry(name).fn(s, dir)
        // the truth sets are STAGED (p00g, TruthStage): each reference
        // below is a cheap parquet re-read of a small committed table, so
        // no persist/unpersist lifecycle is needed and adding an ANN
        // method adds one small join, not another all-pairs derivation
        val exact = TruthStage.loadKnn(s, dir)
          .select(col("qid"), col("neighbor_id"))
        val nq = exact.agg(countDistinct(col("qid")).as("n_queries"))
        def rowOf(method: String, df: DataFrame): DataFrame =
          df.select(col("qid"), col("neighbor_id"))
            .join(exact, Seq("qid", "neighbor_id"))
            .agg(count(lit(1)).as("n_hits"))
            .crossJoin(broadcast(nq))
            .select(lit(method).as("method"), col("n_queries"), col("n_hits"),
              round(col("n_hits").cast("double") / (col("n_queries") * 5.0), 6)
                .as("recall_r"))
        def row(method: String, name: String): DataFrame =
          rowOf(method, res(name))
        // each PQ family's ADC scoring pass feeds BOTH its top-5 row and
        // its refine row: build ONE lineage per family and derive both
        // rows through the same adcTop5/adcRefined the QDefs use — the
        // identical aggregate subtrees dedupe via ReuseExchange inside
        // the single output action (measured cheaper than persist(),
        // which pays block-manager serialization for multi-M-row sets;
        // re-measured in r18: eager Materialize of both scored sets
        // read 4.84 -> 7.2 s wall / 15.1 -> 20.2 executor-s — the
        // runtime-final plan already reuses the scored aggregates, so
        // the checkpoint only added serialization; see OPTIMIZATION_r18)
        val adc = adcScored(s, dir)
        val radc = residualAdcScored(s, dir)
        val e = emb(s, dir)
        val np = lshNumPlanes(embCount(s, dir))
        val b = e.select(col("vec_id"),
          lshBucketCol(np, col("embedding")).as("bucket"))
        val pairs = TruthStage.loadPairs(s, dir).select(col("a_id"), col("b_id"))
        val nearDup = pairs
          .join(b.select(col("vec_id").as("a_id"), col("bucket").as("ba")), "a_id")
          .join(b.select(col("vec_id").as("b_id"), col("bucket").as("bb")), "b_id")
          .agg(count(lit(1)).as("n_queries"),
            sum(when(col("ba") === col("bb"), 1L).otherwise(0L)).as("n_hits"))
          .select(lit("p06_lsh_neardup").as("method"), col("n_queries"),
            col("n_hits"),
            round(col("n_hits").cast("double") / col("n_queries"), 6)
              .as("recall_r"))
        // the OR-construction's near-dup candidate recall: a true pair
        // counts if it co-buckets in ANY of the L tables
        val bm = e.select(col("vec_id"),
          lshMultiBuckets(np, col("embedding")).as(Seq("t", "bucket")))
        val nearDupMulti = pairs
          .join(bm.select(col("vec_id").as("a_id"), col("t"), col("bucket").as("ba")), "a_id")
          .join(bm.select(col("vec_id").as("b_id"), col("t"), col("bucket").as("bb")),
            Seq("b_id", "t"))
          .groupBy(col("a_id"), col("b_id"))
          .agg(max(when(col("ba") === col("bb"), 1L).otherwise(0L)).as("hit"))
          .agg(count(lit(1)).as("n_queries"), sum(col("hit")).as("n_hits"))
          .select(lit("p37_lsh_multi_neardup").as("method"), col("n_queries"),
            col("n_hits"),
            round(col("n_hits").cast("double") / col("n_queries"), 6)
              .as("recall_r"))
        // SemDeDup's effective near-dup recall: it only compares within a
        // k-means cell, so a true pair it can ever see must co-locate
        val assign1 = nearestCellsStaged(s, dir,
          e.select(col("vec_id"), col("embedding")), 1)
          .select(col("vec_id"), col("cell"))
        val colocated = pairs
          .join(assign1.select(col("vec_id").as("a_id"), col("cell").as("ca")), "a_id")
          .join(assign1.select(col("vec_id").as("b_id"), col("cell").as("cb")), "b_id")
          .agg(count(lit(1)).as("n_queries"),
            sum(when(col("ca") === col("cb"), 1L).otherwise(0L)).as("n_hits"))
          .select(lit("p32_cell_colocation").as("method"), col("n_queries"),
            col("n_hits"),
            round(col("n_hits").cast("double") / col("n_queries"), 6)
              .as("recall_r"))
        val out = row("p06_lsh", "p06_knn_lsh")
          .unionAll(nearDup)
          .unionAll(row("p16_ivf", "p16_knn_ivf"))
          .unionAll(colocated)
          .unionAll(row("p37_lsh_multi", "p37_knn_lsh_multi"))
          .unionAll(nearDupMulti)
          .unionAll(rowOf("p42_ivfpq", adcTop5(adc)))
          .unionAll(rowOf("p43_ivfpq_rerank", adcRefined(s, dir, adc)))
          .unionAll(rowOf("p46_ivfpq_residual", adcTop5(radc)))
          .unionAll(rowOf("p47_ivfpq_residual_rerank", adcRefined(s, dir, radc)))
          .orderBy(col("method"))
        out
      },
      Some(s"""WITH $duckSuperCells,
${duckTwoLevel("i", "embeddings", Nil, duckNprobe)},
${duckTwoLevel("a", "embeddings", Nil, "1")},
$duckPqCodebook,
$duckPqCodes,
${duckAdcCtes("z", "i")},
${duckTwoLevel("rz", "embeddings", Nil, "1")},
$duckResidualSrc,
${duckPqCodebookFrom("rq", "rsrc")},
${duckPqCodesFrom("rq", "rsrc")},
${duckResidualAdcCtes("y", "i")},
        ivfpqres AS (SELECT qid, cid FROM yrk WHERE rank <= 5),
        ysh AS (SELECT qid, cid FROM yrk WHERE rank <= ${knobs.pqRerank}),
        yxs AS (
          SELECT s.qid, s.cid, ${duckCosine("qa.embedding", "qb.embedding")} AS sim
          FROM ysh s
          JOIN embeddings qa ON qa.vec_id = s.qid
          JOIN embeddings qb ON qb.vec_id = s.cid),
        ivfpqresr AS (
          SELECT qid, cid FROM (
            SELECT qid, cid,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
            FROM yxs) WHERE rank <= 5),
        ivfpq AS (SELECT qid, cid FROM zrk WHERE rank <= 5),
        zsh AS (SELECT qid, cid FROM zrk WHERE rank <= ${knobs.pqRerank}),
        zxs AS (
          SELECT s.qid, s.cid, ${duckCosine("qa.embedding", "qb.embedding")} AS sim
          FROM zsh s
          JOIN embeddings qa ON qa.vec_id = s.qid
          JOIN embeddings qb ON qb.vec_id = s.cid),
        ivfpqr AS (
          SELECT qid, cid FROM (
            SELECT qid, cid,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
            FROM zxs) WHERE rank <= 5),
        esims AS (
          SELECT a.vec_id AS qid, b.vec_id AS cid,
            ${duckCosine("a.embedding", "b.embedding")} AS sim
          FROM ${duckEvalFrom("embeddings", "a")} JOIN embeddings b ON a.vec_id <> b.vec_id),
        eranked AS (
          SELECT qid, cid,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
          FROM esims),
        exact AS (SELECT qid, cid FROM eranked WHERE rank <= 5),
        np AS (SELECT $duckLshNp AS np),
        buck AS (
          SELECT vec_id, embedding, ${duckLshBucket("embedding")} AS bucket
          FROM embeddings, np),
        mbuck AS MATERIALIZED (
          ${duckLshMultiBuckets("embedding")}),
        mcand AS (
          SELECT DISTINCT a.vec_id AS qid, b.vec_id AS cid
          FROM mbuck a JOIN mbuck b
            ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        msims AS (
          SELECT c.qid, c.cid, ${duckCosine("ea.embedding", "eb.embedding")} AS sim
          FROM mcand c
          JOIN embeddings ea ON ea.vec_id = c.qid
          JOIN embeddings eb ON eb.vec_id = c.cid),
        mranked AS (
          SELECT qid, cid,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
          FROM msims),
        mlsh AS (SELECT qid, cid FROM mranked WHERE rank <= 5),
        lsims AS (
          SELECT a.vec_id AS qid, b.vec_id AS cid,
            ${duckCosine("a.embedding", "b.embedding")} AS sim
          FROM buck a JOIN buck b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        lranked AS (
          SELECT qid, cid,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
          FROM lsims),
        lsh AS (SELECT qid, cid FROM lranked WHERE rank <= 5),
        iassigned AS (SELECT vec_id AS cid, cell, embedding AS cv2 FROM icranked WHERE crank = 1),
        aassigned AS (SELECT vec_id AS cid, cell FROM acranked WHERE crank = 1),
        iprobes AS (SELECT vec_id AS qid, cell, embedding AS qv
                    FROM icranked, kk WHERE crank <= $duckNprobe),
        isims AS (
          SELECT p.qid, a.cid, ${duckCosine("p.qv", "a.cv2")} AS sim
          FROM iprobes p JOIN iassigned a ON p.cell = a.cell AND p.qid <> a.cid),
        iranked AS (
          SELECT qid, cid,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
          FROM isims),
        ivf AS (SELECT qid, cid FROM iranked WHERE rank <= 5),
        ndpairs AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id
          FROM ${duckEvalFrom("embeddings", "a")} JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE ${duckCosine("a.embedding", "b.embedding")} >= 0.4),
        ndstat AS (
          SELECT COUNT(*) AS n_queries,
            CAST(SUM(CASE WHEN ba.bucket = bb.bucket THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
          FROM ndpairs p
          JOIN buck ba ON ba.vec_id = p.a_id
          JOIN buck bb ON bb.vec_id = p.b_id),
        ndmstat AS (
          SELECT COUNT(*) AS n_queries, CAST(SUM(hit) AS BIGINT) AS n_hits
          FROM (
            SELECT p.a_id, p.b_id,
              MAX(CASE WHEN ba.bucket = bb.bucket THEN 1 ELSE 0 END) AS hit
            FROM ndpairs p
            JOIN mbuck ba ON ba.vec_id = p.a_id
            JOIN mbuck bb ON bb.vec_id = p.b_id AND bb.t = ba.t
            GROUP BY p.a_id, p.b_id)),
        cellstat AS (
          SELECT COUNT(*) AS n_queries,
            CAST(SUM(CASE WHEN ca.cell = cb.cell THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
          FROM ndpairs p
          JOIN aassigned ca ON ca.cid = p.a_id
          JOIN aassigned cb ON cb.cid = p.b_id),
        nq AS (SELECT COUNT(DISTINCT qid) AS n_queries FROM exact)
        SELECT 'p06_lsh' AS method, nq.n_queries,
          (SELECT COUNT(*) FROM lsh l JOIN exact e ON l.qid = e.qid AND l.cid = e.cid) AS n_hits,
          round((SELECT COUNT(*) FROM lsh l JOIN exact e ON l.qid = e.qid AND l.cid = e.cid)
            / (nq.n_queries * 5.0), 6) AS recall_r
        FROM nq
        UNION ALL
        SELECT 'p06_lsh_neardup' AS method, n_queries, n_hits,
          round(n_hits / CAST(n_queries AS DOUBLE), 6) AS recall_r
        FROM ndstat
        UNION ALL
        SELECT 'p16_ivf' AS method, nq.n_queries,
          (SELECT COUNT(*) FROM ivf l JOIN exact e ON l.qid = e.qid AND l.cid = e.cid) AS n_hits,
          round((SELECT COUNT(*) FROM ivf l JOIN exact e ON l.qid = e.qid AND l.cid = e.cid)
            / (nq.n_queries * 5.0), 6) AS recall_r
        FROM nq
        UNION ALL
        SELECT 'p32_cell_colocation' AS method, n_queries, n_hits,
          round(n_hits / CAST(n_queries AS DOUBLE), 6) AS recall_r
        FROM cellstat
        UNION ALL
        SELECT 'p37_lsh_multi' AS method, nq.n_queries,
          (SELECT COUNT(*) FROM mlsh l JOIN exact e ON l.qid = e.qid AND l.cid = e.cid) AS n_hits,
          round((SELECT COUNT(*) FROM mlsh l JOIN exact e ON l.qid = e.qid AND l.cid = e.cid)
            / (nq.n_queries * 5.0), 6) AS recall_r
        FROM nq
        UNION ALL
        SELECT 'p37_lsh_multi_neardup' AS method, n_queries, n_hits,
          round(n_hits / CAST(n_queries AS DOUBLE), 6) AS recall_r
        FROM ndmstat
        UNION ALL
        SELECT 'p42_ivfpq' AS method, nq.n_queries,
          (SELECT COUNT(*) FROM ivfpq l JOIN exact e ON l.qid = e.qid AND l.cid = e.cid) AS n_hits,
          round((SELECT COUNT(*) FROM ivfpq l JOIN exact e ON l.qid = e.qid AND l.cid = e.cid)
            / (nq.n_queries * 5.0), 6) AS recall_r
        FROM nq
        UNION ALL
        SELECT 'p43_ivfpq_rerank' AS method, nq.n_queries,
          (SELECT COUNT(*) FROM ivfpqr l JOIN exact e ON l.qid = e.qid AND l.cid = e.cid) AS n_hits,
          round((SELECT COUNT(*) FROM ivfpqr l JOIN exact e ON l.qid = e.qid AND l.cid = e.cid)
            / (nq.n_queries * 5.0), 6) AS recall_r
        FROM nq
        UNION ALL
        SELECT 'p46_ivfpq_residual' AS method, nq.n_queries,
          (SELECT COUNT(*) FROM ivfpqres l JOIN exact e ON l.qid = e.qid AND l.cid = e.cid) AS n_hits,
          round((SELECT COUNT(*) FROM ivfpqres l JOIN exact e ON l.qid = e.qid AND l.cid = e.cid)
            / (nq.n_queries * 5.0), 6) AS recall_r
        FROM nq
        UNION ALL
        SELECT 'p47_ivfpq_residual_rerank' AS method, nq.n_queries,
          (SELECT COUNT(*) FROM ivfpqresr l JOIN exact e ON l.qid = e.qid AND l.cid = e.cid) AS n_hits,
          round((SELECT COUNT(*) FROM ivfpqresr l JOIN exact e ON l.qid = e.qid AND l.cid = e.cid)
            / (nq.n_queries * 5.0), 6) AS recall_r
        FROM nq
        ORDER BY method""")),

    // ---- the fitted k-means coarse quantizer itself (CellStage), pinned
    // as a first-class verifiable artifact: one row per (cell, dimension)
    // of the staged index. A hash match here proves the whole training
    // loop — deterministic seed sample, zero-shuffle assignment rounds,
    // decimal-exact mean recompute — is reproduced bit-for-bit by another
    // engine, which is what makes every CellStage consumer's check
    // meaningful rather than self-referential. ---------------------------
    QDef("p36_kmeans_index",
      (s, dir) => CellStage.load(s, dir)
        .select(col("cell"), posexplode(col("cv")).as(Seq("pos", "c")))
        .select(col("cell"), col("pos"), col("c").cast("double").as("c"))
        .orderBy(col("cell"), col("pos")),
      Some(s"""WITH $duckKmeansCells
        SELECT cell, CAST(idx - 1 AS INTEGER) AS pos, CAST(cv[idx] AS DOUBLE) AS c
        FROM cells, unnest(range(1, len(cv) + 1)) AS u(idx)
        ORDER BY cell, pos""")),

    // ---- Bloom-filter contamination prescreen: the 100 TB path for p21.
    // The benchmark shingle set folds into a 2^16-bit Bloom filter (2048
    // 32-bit-packed words; 4 probes = md560 slices) via one tiny bit_or
    // aggregation, and the corpus side is filtered against the ONE-ROW
    // broadcast bitset BEFORE the exact join — at scale the verify
    // shuffle carries only probable hits (~the contamination rate of the
    // corpus) instead of every shingle. Result-invariant by construction
    // (Bloom filters have no false negatives; false positives die in the
    // exact join), so the oracle is p21's own SQL and the hash match pins
    // exactly that invariance. Spark's runtime bloom-join optimization is
    // best-effort and engine-internal; this one is explicit,
    // deterministic, and verified — and the bitset itself is pinned
    // cross-engine as p38b. -----------------------------------------------
    QDef("p38_contamination_bloom",
      (s, dir) => {
        val grams = ShingleStage.load(s, dir).select(col("doc_id"), col("h"))
        val bench = grams.filter(col("doc_id") % 20 === 0)
          .select(col("h")).distinct()
        val cand = grams.filter(col("doc_id") % 20 =!= 0)
        val bloomRow = bloomBits(bench).agg(
          map_from_entries(collect_list(struct(col("word"), col("bits"))))
            .as("bloom"))
        val pass = bloomHashShifts.map { sh =>
          val pos = bloomPosSpark("h", sh)
          expr(s"""(coalesce(element_at(bloom, CAST(shiftright($pos, 5) AS INT)),
                     CAST(0 AS BIGINT))
                   & shiftleft(CAST(1 AS BIGINT), CAST($pos & 31 AS INT))) != 0""")
        }.reduce(_ && _)
        val candPass = cand.crossJoin(broadcast(bloomRow)).filter(pass)
          .select(col("doc_id"), col("h"))
        val sz = cand.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
        val hits = candPass.join(bench, "h")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
        sz.join(hits, Seq("doc_id"), "left")
          .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
          .withColumn("contamination",
            col("n_hit").cast("double") / col("n_shingles"))
          .filter(col("contamination") >= 0.2)
          .select(col("doc_id"), col("n_shingles"), col("n_hit"), col("contamination"))
          .orderBy(col("doc_id"))
      },
      Some(duckContaminationSql)),

    // ---- the Bloom bitset itself, pinned cross-engine (the p36 pattern:
    // verifying the sketch's CONTENTS is what makes p38's shared-oracle
    // check meaningful rather than vacuous). One row per non-empty word. --
    QDef("p38b_bloom_index",
      (s, dir) => {
        val bench = ShingleStage.load(s, dir)
          .filter(col("doc_id") % 20 === 0).select(col("h")).distinct()
        bloomBits(bench).orderBy(col("word"))
      },
      Some(s"""WITH $duckShingleCtes,
        bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 20 = 0),
        pos AS (SELECT unnest([${bloomHashShifts
          .map(sh => bloomPosDuck("h", sh)).mkString(", ")}]) AS pos FROM bench)
        SELECT CAST(pos >> 5 AS INTEGER) AS word,
          bit_or(CAST(1 AS BIGINT) << CAST(pos & 31 AS INTEGER)) AS bits
        FROM pos GROUP BY 1 ORDER BY 1""")),

    // ---- corpus vocabulary cardinality via HyperLogLog (m = 256
    // registers): the scale path for "how many distinct shingles does the
    // corpus have" — the question exact COUNT(DISTINCT) answers with a
    // full shuffle of every key, answered here by a 256-row map-side-
    // combined aggregate the driver could hold in one hand. Register =
    // low 8 bits of the staged md560; rank = leading zeros of the
    // remaining 52 bits + 1, computed by the integer threshold-count
    // trick (no float log2, no bin()-string semantics); the harmonic sum
    // folds as EXACT integers (Σ 2^(53−rho) ≤ 2^61 fits a long), so the
    // only float ops are one division and the final rounding — identical
    // IEEE in both engines. The exact count is computed alongside as the
    // validation-scale error measurement (the p35 pattern); a 100 TB run
    // drops that column and keeps the sketch. Raw HLL estimator, no
    // small-range correction: ln() is libm-dependent, and the corpus
    // vocabulary sits far above the 2.5m small-range regime at every SF
    // (the rel_err_r column is the proof). ---------------------------------
    QDef("p39_vocab_hll",
      (s, dir) => {
        val sh = ShingleStage.load(s, dir).select(col("h"))
        val regs = sh
          .select(expr("CAST(h & 255 AS INT)").as("idx"),
            expr("shiftright(h, 8)").as("w"))
          .select(col("idx"), expr(s"53 - (${bitlenSql("w")})").as("rho"))
          .groupBy(col("idx")).agg(max(col("rho")).as("rho"))
        val sStat = regs.agg(
          count(lit(1)).as("m_present"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - rho AS INT))"))
            .as("s_present"))
          .select(expr(s"(256 - m_present) * ${1L << 53} + s_present")
            .as("s_scaled"))
        // floor(x·10^4 + 0.5), not round(x, 4): the p30 rule — round()
        // half-way semantics differ between engines, and the estimate DID
        // land on a .xxxx5 boundary at sf0.1
        sh.agg(countDistinct(col("h")).as("n_exact"))
          .crossJoin(broadcast(sStat))
          // CAST(floor(…) AS DOUBLE) before the /10⁴: Spark's floor yields
          // BIGINT and bigint÷decimal-literal is DECIMAL division (DuckDB's
          // floor is already DOUBLE) — the cast pins the quotient to the
          // same IEEE double on both engines
          .withColumn("n_est_r", expr(
            s"""CAST(floor(($hllEstConstSql / CAST(s_scaled AS DOUBLE))
               * 10000.0 + 0.5) AS DOUBLE) / 10000.0"""))
          .select(lit(256).as("m"), col("n_exact"), col("n_est_r"),
            expr("""CAST(floor(((n_est_r - CAST(n_exact AS DOUBLE)) / n_exact)
               * 10000.0 + 0.5) AS DOUBLE) / 10000.0""").as("rel_err_r"))
      },
      Some(s"""WITH $duckShingleCtes,
        regs AS (
          SELECT CAST(h & 255 AS INTEGER) AS idx,
            MAX(53 - (${bitlenSql("(h >> 8)")})) AS rho
          FROM sh GROUP BY 1),
        sstat AS (
          SELECT (256 - COUNT(*)) * ${1L << 53}
            + SUM(CAST(1 AS BIGINT) << CAST(53 - rho AS INTEGER)) AS s_scaled
          FROM regs),
        ex AS (SELECT COUNT(DISTINCT h) AS n_exact FROM sh),
        est AS (
          SELECT CAST(floor(($hllEstConstSql / CAST(s_scaled AS DOUBLE))
            * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS n_est_r
          FROM sstat)
        SELECT CAST(256 AS INTEGER) AS m, CAST(n_exact AS BIGINT) AS n_exact,
          n_est_r,
          CAST(floor(((n_est_r - CAST(n_exact AS DOUBLE)) / n_exact)
            * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS rel_err_r
        FROM ex, est""")),

    // ---- the HLL register table itself, pinned cross-engine (the
    // p36/p38b family rule: every sketch's CONTENTS get their own
    // oracle-pinned entry, not just its final answer — a register diff
    // localizes a future estimator bug to one row in seconds where the
    // one-row estimate only says "something diverged"). All-integer:
    // register index = low 8 hash bits, rank = 53 − bitlen of the
    // remaining bits, max-merged per register. ---------------------------
    QDef("p39b_hll_registers",
      (s, dir) => ShingleStage.load(s, dir)
        .select(expr("CAST(h & 255 AS INT)").as("idx"),
          expr("shiftright(h, 8)").as("w"))
        .select(col("idx"), expr(s"53 - (${bitlenSql("w")})").as("rho"))
        .groupBy(col("idx")).agg(max(col("rho")).as("rho"))
        .orderBy(col("idx")),
      Some(s"""WITH $duckShingleCtes
        SELECT CAST(h & 255 AS INTEGER) AS idx,
          CAST(MAX(53 - (${bitlenSql("(h >> 8)")})) AS INTEGER) AS rho
        FROM sh GROUP BY 1 ORDER BY 1""")),

    // ---- heavy-hitter bigrams via count-min sketch (depth 4 × width
    // 8192): the bounded-memory path for p19's exact bigram counting. The
    // sketch is ONE aggregation into ≤32768 cells (map-side combined —
    // state is 256 KiB per task regardless of corpus size); estimates are
    // a broadcast join of candidates against the cell table; the exact
    // counts are computed ONLY for the 25 winners (one scan + broadcast
    // semi-filter), so the overcount column — CMS is always ≥ exact — is
    // measured without ever building the full exact count table the
    // sketch exists to avoid. All-integer arithmetic end to end. -----------
    QDef("p40_bigram_cms",
      (s, dir) => {
        val bg = bigramHashes(docs(s, dir))
        def positions = array(cmsShifts.indices.map(j =>
          expr(cmsPosSpark("h", j))): _*)
        val cells = cmsCellUpdates(docs(s, dir))
          .groupBy(col("j"), col("pos")).agg(count(lit(1)).as("c"))
        val est = bg.select(col("bigram"), col("h")).distinct()
          .select(col("bigram"), posexplode(positions).as(Seq("j", "pos")))
          .join(broadcast(cells), Seq("j", "pos"))
          .groupBy(col("bigram")).agg(min(col("c")).as("est_count"))
        val top = est
          .orderBy(col("est_count").desc, col("bigram")).limit(25)
        val exact = bg.join(broadcast(top.select(col("bigram"))), "bigram")
          .groupBy(col("bigram")).agg(count(lit(1)).as("exact_count"))
        top.join(broadcast(exact), "bigram")
          .select(col("bigram"), col("est_count"), col("exact_count"),
            (col("est_count") - col("exact_count")).as("overcount"))
          .orderBy(col("est_count").desc, col("bigram"))
      },
      Some(s"""WITH toks AS (
          SELECT string_split(text, ' ') AS arr FROM documents
          WHERE len(string_split(text, ' ')) >= 2),
        bg0 AS (
          SELECT unnest([arr[i] || ' ' || arr[i+1] FOR i IN range(1, len(arr))]) AS bigram
          FROM toks),
        bg AS (SELECT bigram, ${duckMd560("bigram")} AS h FROM bg0),
        cells AS (
          SELECT j, pos, COUNT(*) AS c FROM (
            SELECT unnest([${cmsShifts.indices.mkString(", ")}]) AS j,
              unnest([${cmsShifts.indices.map(j => cmsPosDuck("h", j)).mkString(", ")}]) AS pos
            FROM bg)
          GROUP BY 1, 2),
        cand AS (SELECT DISTINCT bigram, h FROM bg),
        candpos AS (
          SELECT bigram, unnest([${cmsShifts.indices.mkString(", ")}]) AS j,
            unnest([${cmsShifts.indices.map(j => cmsPosDuck("h", j)).mkString(", ")}]) AS pos
          FROM cand),
        est AS (
          SELECT bigram, MIN(c) AS est_count
          FROM candpos JOIN cells USING (j, pos) GROUP BY 1),
        top AS (
          SELECT bigram, est_count FROM est
          ORDER BY est_count DESC, bigram LIMIT 25),
        exact AS (
          SELECT bigram, COUNT(*) AS exact_count FROM bg
          WHERE bigram IN (SELECT bigram FROM top) GROUP BY 1)
        SELECT t.bigram, CAST(t.est_count AS BIGINT) AS est_count,
          CAST(e.exact_count AS BIGINT) AS exact_count,
          CAST(t.est_count - e.exact_count AS BIGINT) AS overcount
        FROM top t JOIN exact e USING (bigram)
        ORDER BY est_count DESC, t.bigram""")),

    // ---- the fitted PQ codebook itself, pinned cross-engine (the
    // p36/p38b/p39b family rule: every index/sketch's CONTENTS get
    // their own oracle-pinned entry). One row per (subspace, code,
    // dimension) of the staged codebook — a hash match proves both
    // engines fit the identical M per-subspace quantizers. ---------------
    QDef("p41_pq_codebook",
      (s, dir) => PqStage.load(s, dir)
        .select(col("sub"), col("code"), posexplode(col("cv")).as(Seq("pos", "c")))
        .select(col("sub"), col("code"), col("pos"), col("c").cast("double").as("c"))
        .orderBy(col("sub"), col("code"), col("pos")),
      Some(s"""WITH $duckPqCodebook
        SELECT CAST(sub AS INTEGER) AS sub, code, CAST(idx - 1 AS INTEGER) AS pos,
          CAST(CAST(cv[idx] AS FLOAT) AS DOUBLE) AS c
        FROM pqcb, unnest(range(1, len(cv) + 1)) AS u(idx)
        ORDER BY sub, code, pos""")),

    // ---- the encoded corpus: every vector compressed to M one-byte
    // codes (vec_id, sub, code). The encode is a ZERO-shuffle broadcast
    // argmin map over the corpus scan — at 100 TB this table IS the
    // vector store the ADC scorer reads: M bytes per vector instead of
    // 4·d, a 64x reduction at the defaults. -----------------------------
    QDef("p41b_pq_codes",
      (s, dir) => PqCodesStage.load(s, dir)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
        .orderBy(col("vec_id"), col("sub")),
      Some(s"""WITH $duckPqCodebook,
$duckPqCodes
        SELECT vec_id, CAST(sub AS INTEGER) AS sub, code
        FROM pqcodes ORDER BY vec_id, sub""")),

    // ---- IVF-PQ ANN: p16's two-level descent picks each query's probe
    // cells; the staged inverted lists of those cells are the candidates,
    // scored by the query's lookup table (asymmetric distance
    // computation) in one pass — see [[adcScored]]. No exchange moves an
    // embedding, and the per-candidate sums are BIGINT
    // (each LUT entry is floor(dot·10⁸+0.5)), so aggregation order
    // cannot perturb the result: the one float op per candidate is the
    // final cosine recombination from exact integer sums. Approximate
    // cosine = Σ_m dot(q_m, c_m) / (|q|·|x̂|) with |x̂|² = Σ_m |c_m|² —
    // exact for the reconstructed vector since subspaces are disjoint
    // coordinate blocks. ------------------------------------------------
    QDef("p42_knn_ivfpq",
      (s, dir) => adcTop5(adcScored(s, dir))
        .orderBy(col("qid"), col("rank")),
      Some(s"""WITH $duckSuperCells,
${duckTwoLevel("v", "embeddings", Nil, duckNprobe)},
$duckPqCodebook,
$duckPqCodes,
${duckAdcCtes("w", "v")}
        SELECT qid, cid AS neighbor_id, rank, round(ascore, 6) AS ascore_r
        FROM wrk WHERE rank <= 5 ORDER BY qid, rank""")),

    // ---- IVF-PQ with exact refine (the FAISS IVFPQ+refine shape, and
    // the production default): the ADC pass shortlists the top-C
    // candidates per query from CODES ALONE (C = -Dgraft.pqRerank,
    // default 25), then the exact pass fetches just those C full vectors
    // by id — bounded IO per query at any corpus size — and re-ranks
    // with true cosine. Quantization error then only costs recall when
    // a true neighbor falls outside the top-C shortlist, not the top-5:
    // measured in p35 as p43_ivfpq_rerank. ------------------------------
    QDef("p43_knn_ivfpq_rerank",
      (s, dir) => adcRefined(s, dir, adcScored(s, dir))
        .orderBy(col("qid"), col("rank")),
      Some(s"""WITH $duckSuperCells,
${duckTwoLevel("v", "embeddings", Nil, duckNprobe)},
$duckPqCodebook,
$duckPqCodes,
${duckAdcCtes("w", "v")},
        wsh AS (SELECT qid, cid FROM wrk WHERE rank <= ${knobs.pqRerank}),
        wxs AS (
          SELECT s.qid, s.cid, ${duckCosine("qa.embedding", "qb.embedding")} AS sim
          FROM wsh s
          JOIN embeddings qa ON qa.vec_id = s.qid
          JOIN embeddings qb ON qb.vec_id = s.cid),
        wxr AS (
          SELECT qid, cid, sim,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INTEGER) AS rank
          FROM wxs)
        SELECT qid, cid AS neighbor_id, rank, round(sim, 6) AS sim_r
        FROM wxr WHERE rank <= 5 ORDER BY qid, rank""")),

    // ---- PQ reconstruction fidelity: per-vector squared quantization
    // error (the sum over subspaces of the argmin L2 — the distance to
    // the chosen code IS the subspace's reconstruction error). The p30
    // int8 entry measures the 4x-compression fidelity; this measures the
    // 32x path, so a deployment can choose its point on the
    // memory/fidelity curve from two pinned numbers. ZERO shuffle: the
    // codebook is one constant and the per-vector error is a
    // single codegen-able expression over the corpus scan; each
    // subspace term rounds to an integer-scaled BIGINT before the sum,
    // so evaluation order cannot perturb the hash. ----------------------
    QDef("p44_pq_reconstruction",
      (s, dir) => withPqSse(s, dir, emb(s, dir).select(col("vec_id"), col("embedding")))
        .select(col("vec_id"), col("sse").as("sse_r"))
        .orderBy(col("vec_id")),
      Some(s"""WITH $duckPqCodebook,
$duckPqCodes,
        pmin AS (
          SELECT vec_id, sub, MIN(d) AS d FROM pqesc GROUP BY 1, 2)
        SELECT vec_id,
          CAST(SUM(CAST(floor(d * 100000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
            / 100000000.0 AS sse_r
        FROM pmin GROUP BY vec_id ORDER BY vec_id""")),

    // ---- RESIDUAL PQ codebook (the classical IVF-PQ design, Jegou et
    // al. 2011 §IV): quantize embedding − cell centroid instead of the
    // raw vector, spending the same M×k' budget on the part of the
    // signal the coarse quantizer left unexplained. Measured at sf0.01
    // (p35): ADC-only recall@5 0.215 → 0.240 and refined 0.416 → 0.430
    // vs the 0.460 candidate ceiling — a real but modest lift here,
    // because the synthetic embeddings are nearly isotropic (cell
    // centroids explain little energy); clustered real-world embedding
    // fields are where residual PQ pulls far ahead. Pinned like p41: a
    // hash match proves both engines fit identical quantizers over the
    // identical residual field (which itself depends on the fitted
    // cells — the whole tower is cross-engine-exact). --------------------
    QDef("p45_pqr_codebook",
      (s, dir) => PqResidualStage.load(s, dir)
        .select(col("sub"), col("code"), posexplode(col("cv")).as(Seq("pos", "c")))
        .select(col("sub"), col("code"), col("pos"), col("c").cast("double").as("c"))
        .orderBy(col("sub"), col("code"), col("pos")),
      Some(s"""WITH $duckSuperCells,
${duckTwoLevel("rz", "embeddings", Nil, "1")},
$duckResidualSrc,
${duckPqCodebookFrom("rq", "rsrc")}
        SELECT CAST(sub AS INTEGER) AS sub, code, CAST(idx - 1 AS INTEGER) AS pos,
          CAST(CAST(cv[idx] AS FLOAT) AS DOUBLE) AS c
        FROM rqcb, unnest(range(1, len(cv) + 1)) AS u(idx)
        ORDER BY sub, code, pos""")),

    // ---- the residual-encoded corpus: (vec_id, sub, code) against the
    // residual codebook — still M bytes per vector, now spent on the
    // informative part of the signal. ------------------------------------
    QDef("p45b_pqr_codes",
      (s, dir) => PqResidualCodesStage.load(s, dir)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
        .orderBy(col("vec_id"), col("sub")),
      Some(s"""WITH $duckSuperCells,
${duckTwoLevel("rz", "embeddings", Nil, "1")},
$duckResidualSrc,
${duckPqCodebookFrom("rq", "rsrc")},
${duckPqCodesFrom("rq", "rsrc")}
        SELECT vec_id, CAST(sub AS INTEGER) AS sub, code
        FROM rqcodes ORDER BY vec_id, sub""")),

    // ---- residual IVF-PQ ANN: candidates from the residual inverted
    // lists of the probed cells, scored by reconstructing cos(q, c + r̂)
    // from integer-scaled dots (q·c per probe row, q·r̂ in the query's
    // lookup table, |c + r̂|² staged per vector) — the per-candidate work
    // is M lookups + ONE float expression; no exchange moves an
    // embedding. ----------------------------------------------------------
    QDef("p46_knn_ivfpq_residual",
      (s, dir) => adcTop5(residualAdcScored(s, dir))
        .orderBy(col("qid"), col("rank")),
      Some(s"""WITH $duckSuperCells,
${duckTwoLevel("v", "embeddings", Nil, duckNprobe)},
${duckTwoLevel("rz", "embeddings", Nil, "1")},
$duckResidualSrc,
${duckPqCodebookFrom("rq", "rsrc")},
${duckPqCodesFrom("rq", "rsrc")},
${duckResidualAdcCtes("y", "v")}
        SELECT qid, cid AS neighbor_id, rank, round(ascore, 6) AS ascore_r
        FROM yrk WHERE rank <= 5 ORDER BY qid, rank""")),

    // ---- BPE merge learning: the learned merge table, one row per
    // round — (round, l_sym, r_sym, pair_count). See the bpe* helpers
    // for the algebra; the oracle unrolls the identical rounds. --------
    QDef("p48_bpe_merges",
      (s, dir) => {
        // driver-paced rounds (see bpeFit): each round's output frame is
        // the SAME bpeBest plan as before, but over a flat literal-merge
        // lineage instead of k-1 nested aggregate subplans
        val rounds = bpeFit(s, dir)._2.zipWithIndex.map { case (best, r0) =>
          best.select(lit(r0 + 1).as("round"), col("l").as("l_sym"),
            col("r").as("r_sym"), col("pair_count"))
        }
        rounds.reduce(_.unionAll(_)).orderBy(col("round"))
      },
      // CAST: DuckDB's SUM(BIGINT) widens to HUGEINT; Spark's stays long
      Some(s"""WITH $duckBpeChain
        SELECT round, l_sym, r_sym, CAST(pair_count AS BIGINT) AS pair_count FROM (
          ${(1 to knobs.bpeMerges).map(r =>
            s"SELECT $r AS round, l AS l_sym, r AS r_sym, pair_count FROM bb$r")
            .mkString("\n          UNION ALL ")})
        ORDER BY round""")),

    // ---- the trained tokenizer APPLIED: the 50 most frequent words'
    // final segmentations after all merges — pins the end-state of the
    // whole merge sequence (a wrong merge anywhere reshapes these). -----
    QDef("p48b_bpe_tokenize",
      (s, dir) => {
        val cur = BpeStage.load(s, dir)
        cur.select(col("w").as("word"), col("freq"),
          expr("replace(substring(enc, 2, length(enc) - 2), ')(', ' ')")
            .as("tokens_s"))
          .orderBy(col("freq").desc, col("word")).limit(50)
          .orderBy(col("freq").desc, col("word"))
      },
      Some(s"""WITH $duckBpeChain
        SELECT w AS word, freq,
          replace(substr(enc, 2, length(enc) - 2), ')(', ' ') AS tokens_s
        FROM bw${knobs.bpeMerges} ORDER BY freq DESC, word LIMIT 50""")),

    // ---- tokenizer FERTILITY by language (p48c): BPE tokens emitted
    // per whitespace word — the standard measure of how well a trained
    // tokenizer fits each language slice (the metric behind the
    // multilingual-tokenizer analyses of mBERT/XLM-R). Segment counts
    // come from the TRAINED vocabulary (p48's end-state applied to
    // every distinct word), so the per-language numbers pin the merge
    // sequence from a third angle; the corpus join is vocab-bounded and
    // broadcasts. -----------------------------------------------------
    QDef("p48c_bpe_fertility",
      (s, dir) => {
        val seg = BpeStage.load(s, dir).select(col("w"),
          size(split(expr("substring(enc, 2, length(enc) - 2)"), "\\)\\("))
            .cast("bigint").as("ntok"))
        docs(s, dir)
          .select(col("lang"), explode(split(lower(col("text")), " ")).as("w"))
          // the shared translate-based [a-z]+ test (r18): same predicate
          // as the word stage and the oracle's regexp_full_match — the
          // rlike it replaces ran a regex engine per corpus token AND
          // admitted tokens ending in '\n' that the other two reject
          .filter(lowerAlphaOnly(col("w")))
          .join(broadcast(seg), Seq("w"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_words"), sum(col("ntok")).as("n_tokens"))
          .withColumn("fertility",
            round(col("n_tokens").cast("double") / col("n_words"), 6))
          .orderBy(col("lang"))
      },
      Some(s"""WITH $duckBpeChain,
        seg AS (SELECT w,
            CAST(len(string_split(substr(enc, 2, length(enc) - 2), ')(')) AS BIGINT) AS ntok
          FROM bw${knobs.bpeMerges}),
        wl AS (SELECT lang, w
          FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS w FROM documents)
          WHERE regexp_full_match(w, '[a-z]+'))
        SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
          CAST(sum(s.ntok) AS BIGINT) AS n_tokens,
          round(CAST(sum(s.ntok) AS DOUBLE) / count(*), 6) AS fertility
        FROM wl JOIN seg s ON wl.w = s.w GROUP BY lang ORDER BY lang""")),

    // ---- AS-OF JOIN (time-series attribution): each purchase matched
    // to the user's most recent click AT OR BEFORE it. Spark has no
    // native as-of operator, so this is the canonical distributed
    // composition — union both event kinds, ONE shuffle on user_id, and
    // a running max of click times over (ts, kind) so a click at the
    // same instant sorts before the purchase it explains (inclusive
    // at-or-before semantics). No join fan-out at any scale: the cost
    // is one user-partitioned sort, the same shuffle key p12/p27/p33
    // already ride. The oracle is DuckDB's NATIVE ASOF LEFT JOIN — two
    // independent implementations of the operator, hash-compared. ------
    QDef("p51_asof_join",
      (s, dir) => {
        val se = t(s, dir, "events")
          .withColumn("us", unix_micros(col("ts")))
        val clicks = se.filter(col("event_type") === "click")
          .select(col("user_id"), lit(0).as("kind"), col("us"),
            lit(null).cast("long").as("purchase_id"))
        val purchases = se.filter(col("event_type") === "purchase")
          .select(col("user_id"), lit(1).as("kind"), col("us"),
            col("event_id").as("purchase_id"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("kind"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        clicks.unionAll(purchases)
          .withColumn("t_click_us",
            max(when(col("kind") === 0, col("us"))).over(w))
          .filter(col("kind") === 1)
          .select(col("purchase_id"), col("user_id"),
            col("us").as("t_purchase_us"), col("t_click_us"),
            (col("us") - col("t_click_us")).as("gap_us"))
          .orderBy(col("purchase_id"))
      },
      Some("""SELECT p.event_id AS purchase_id, p.user_id,
          epoch_us(p.ts) AS t_purchase_us,
          epoch_us(c.ts) AS t_click_us,
          epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY purchase_id""")),

    // ---- chunking for embedding/RAG pipelines: overlapping token
    // windows of `-Dgraft.chunkTokens` (default 64) at stride
    // `-Dgraft.chunkStride` (default 48), the standard retrieval-prep
    // step. Pure per-row explode (fan-out ~n/stride per doc), no shuffle
    // except the presentation sort, and the CHUNK TEXT dies immediately:
    // each window leaves as its md5 fingerprint + (start, length)
    // metadata, so downstream chunk-level dedup/indexing moves 32-byte
    // keys, never window text (the p01/p02 shuffle discipline applied at
    // sub-document granularity). Windows start at 0, stride, 2·stride, …
    // while start < n; the last windows may be short — the overlap
    // contract both engines mirror literally. --------------------------
    QDef("p50_chunk_windows",
      (s, dir) =>
        chunkFingerprints(docs(s, dir).select(col("doc_id"), col("text")))
          .select(col("doc_id"), col("chunk_no"),
            col("start").cast("int").as("start_tok"), col("n_tok"), col("fp"))
          .orderBy(col("doc_id"), col("chunk_no")),
      Some(s"""WITH ck AS (
          SELECT doc_id, string_split(text, ' ') AS toks,
            len(string_split(text, ' ')) AS n
          FROM documents WHERE text IS NOT NULL),
        st AS (
          SELECT doc_id, toks, n, unnest(range(0, n, ${knobs.chunkStride})) AS start
          FROM ck WHERE n > 0)
        SELECT doc_id,
          CAST(start // ${knobs.chunkStride} AS INTEGER) AS chunk_no,
          CAST(start AS INTEGER) AS start_tok,
          CAST(least(${knobs.chunkTokens}, n - start) AS INTEGER) AS n_tok,
          md5(array_to_string(toks[start + 1 : start + least(${knobs.chunkTokens}, n - start)], ' ')) AS fp
        FROM st ORDER BY doc_id, chunk_no""")),

    // ---- chunk-level dedup pressure: how much of the corpus' chunk set
    // is redundant BEFORE paying for embeddings — distinct fingerprints
    // vs total windows, grouped by source. One aggregate over p50's
    // 32-byte keys. ----------------------------------------------------
    QDef("p50b_chunk_dedup_stats",
      (s, dir) =>
        chunkFingerprints(docs(s, dir).select(col("source"), col("text")))
          .select(col("source"), col("fp"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_chunks"),
            countDistinct(col("fp")).as("n_distinct"))
          .withColumn("dup_ratio_r",
            round(lit(1.0) - col("n_distinct").cast("double") / col("n_chunks"), 6))
          .orderBy(col("source")),
      Some(s"""WITH ck AS (
          SELECT source, string_split(text, ' ') AS toks,
            len(string_split(text, ' ')) AS n
          FROM documents WHERE text IS NOT NULL),
        st AS (
          SELECT source, toks, n, unnest(range(0, n, ${knobs.chunkStride})) AS start
          FROM ck WHERE n > 0),
        fps AS (
          SELECT source,
            md5(array_to_string(toks[start + 1 : start + least(${knobs.chunkTokens}, n - start)], ' ')) AS fp
          FROM st)
        SELECT source, COUNT(*) AS n_chunks,
          CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct,
          round(1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 6) AS dup_ratio_r
        FROM fps GROUP BY source ORDER BY source""")),

    // ---- token-count quantile sketch: per-doc whitespace token counts
    // fold into a FIXED 256-bucket histogram (width 16, top bucket
    // open-ended) — constant sketch state like p39/p40, one shuffle of
    // at most 256 rows regardless of corpus size — and p50/p90/p99 read
    // off the cumulative with linear interpolation inside the straddling
    // bucket. Integer counts end-to-end; the only float math is the
    // final target/interpolation arithmetic, mirrored textually. The
    // histogram CONTENTS are pinned as p49b (the p38b/p39b pattern), and
    // the streaming form (EventStreams.tokenHistogramStream) shares the
    // same per-row projection with spec-proven stream=batch parity. -----
    QDef("p49_token_quantiles",
      (s, dir) => {
        val hist = tokenBucketProjection(docs(s, dir))
          .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
        val w = Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
        val tot = hist.agg(sum(col("cnt")).as("n_docs"))
        val qs = s.range(1).select(
          explode(array(lit(0.5), lit(0.9), lit(0.99))).as("q"))
        qs.crossJoin(broadcast(tot))
          .join(broadcast(cum),
            expr("cum >= q * n_docs AND (cum - cnt) < q * n_docs"))
          .select(col("q"), col("n_docs"),
            round(expr("bucket * 16 + 16.0 * (q * n_docs - (cum - cnt)) / cnt"), 6)
              .as("est_r"))
          .orderBy(col("q"))
      },
      Some("""WITH th AS (
          SELECT CAST(least(len(string_split(text, ' ')) // 16, 255) AS INTEGER) AS bucket,
            COUNT(*) AS cnt
          FROM documents WHERE text IS NOT NULL GROUP BY 1),
        tc AS (SELECT bucket, cnt, SUM(cnt) OVER (ORDER BY bucket) AS cum FROM th),
        tt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_docs FROM th),
        qq AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q)
        SELECT q, n_docs,
          round(bucket * 16 + 16.0 * (q * n_docs - (cum - cnt)) / cnt, 6) AS est_r
        FROM qq, tt, tc
        WHERE cum >= q * n_docs AND (cum - cnt) < q * n_docs
        ORDER BY q""")),

    // ---- the sketch's accuracy, measured (the p35 pattern): the
    // histogram estimate next to the EXACT percentile — both engines
    // compute R-7 linear interpolation ((n-1)·q index) over the sorted
    // counts, so the exact side is cross-engine-identical too. The
    // absolute error is the number a deployment reads to size the
    // bucket width dial against its accuracy need. --------------------
    QDef("p49c_quantile_error",
      (s, dir) => {
        val est = entry("p49_token_quantiles").fn(s, dir)
          .select(col("q"), col("est_r"))
        val toks = docs(s, dir).filter(col("text").isNotNull)
          .select(size(split(col("text"), " ")).as("n_tok"))
        val exact = toks.agg(
          expr("percentile(n_tok, array(0.5D, 0.9D, 0.99D))").as("ex"))
          .select(explode(expr(
            "arrays_zip(array(0.5D, 0.9D, 0.99D), ex)")).as("z"))
          .select(col("z.0").as("q"), round(col("z.ex"), 6).as("exact_r"))
        est.join(exact, "q")
          .select(col("q"), col("exact_r"), col("est_r"),
            round(expr("abs(est_r - exact_r)"), 6).as("abs_err_r"))
          .orderBy(col("q"))
      },
      Some("""WITH th AS (
          SELECT CAST(least(len(string_split(text, ' ')) // 16, 255) AS INTEGER) AS bucket,
            COUNT(*) AS cnt
          FROM documents WHERE text IS NOT NULL GROUP BY 1),
        tc AS (SELECT bucket, cnt, SUM(cnt) OVER (ORDER BY bucket) AS cum FROM th),
        tt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_docs FROM th),
        qq AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q),
        est AS (
          SELECT q,
            round(bucket * 16 + 16.0 * (q * n_docs - (cum - cnt)) / cnt, 6) AS est_r
          FROM qq, tt, tc
          WHERE cum >= q * n_docs AND (cum - cnt) < q * n_docs),
        tn AS (
          SELECT CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok
          FROM documents WHERE text IS NOT NULL),
        xt AS (
          SELECT 0.5::DOUBLE AS q, round(quantile_cont(n_tok, 0.5), 6) AS exact_r FROM tn
          UNION ALL
          SELECT 0.9::DOUBLE, round(quantile_cont(n_tok, 0.9), 6) FROM tn
          UNION ALL
          SELECT 0.99::DOUBLE, round(quantile_cont(n_tok, 0.99), 6) FROM tn)
        SELECT e.q, x.exact_r, e.est_r,
          round(abs(e.est_r - x.exact_r), 6) AS abs_err_r
        FROM est e JOIN xt x ON e.q = x.q
        ORDER BY e.q""")),

    // ---- the sketch contents themselves (the p38b/p39b pattern) -------
    QDef("p49b_token_histogram",
      (s, dir) => tokenBucketProjection(docs(s, dir))
        .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("bucket")),
      Some("""SELECT CAST(least(len(string_split(text, ' ')) // 16, 255) AS INTEGER) AS bucket,
          COUNT(*) AS cnt
        FROM documents WHERE text IS NOT NULL GROUP BY 1 ORDER BY bucket""")),

    // ---- residual IVF-PQ + exact refine: the production default —
    // residual-ADC shortlists top-C from codes alone, the refine reads
    // exactly C full vectors per query. ----------------------------------
    QDef("p47_knn_ivfpq_residual_rerank",
      (s, dir) => adcRefined(s, dir, residualAdcScored(s, dir))
        .orderBy(col("qid"), col("rank")),
      Some(s"""WITH $duckSuperCells,
${duckTwoLevel("v", "embeddings", Nil, duckNprobe)},
${duckTwoLevel("rz", "embeddings", Nil, "1")},
$duckResidualSrc,
${duckPqCodebookFrom("rq", "rsrc")},
${duckPqCodesFrom("rq", "rsrc")},
${duckResidualAdcCtes("y", "v")},
        ysh AS (SELECT qid, cid FROM yrk WHERE rank <= ${knobs.pqRerank}),
        yxs AS (
          SELECT s.qid, s.cid, ${duckCosine("qa.embedding", "qb.embedding")} AS sim
          FROM ysh s
          JOIN embeddings qa ON qa.vec_id = s.qid
          JOIN embeddings qb ON qb.vec_id = s.cid),
        yxr AS (
          SELECT qid, cid, sim,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INTEGER) AS rank
          FROM yxs)
        SELECT qid, cid AS neighbor_id, rank, round(sim, 6) AS sim_r
        FROM yxr WHERE rank <= 5 ORDER BY qid, rank""")),

    // ---- Gopher quality rules (Rae et al. 2021 §A1.1): the published
    // per-document heuristic gates — word-count band, mean-word-length
    // band, symbol-to-word ratio, alphabetic-word ratio, required
    // stopwords — each surfaced as its metric plus one combined pass
    // flag. Entirely per-row string algebra: no shuffle, no UDF, scales
    // as a map-only stage at any corpus size. Thresholds are the paper's
    // own. Flags compare the UNROUNDED metrics; rounding is output-only.
    QDef("p52_gopher_rules",
      (s, dir) => gopherMetrics(docs(s, dir))
        .select(col("doc_id"), col("n_words"), round(col("mwl"), 6).as("mean_word_len"),
          round(col("stw"), 6).as("symbol_to_word"), round(col("alr"), 6).as("alpha_ratio"),
          col("n_stop"), col("pass"))
        .orderBy(col("doc_id")),
      Some(s"""WITH m AS (SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
          CAST(length(replace(text, ' ', '')) AS DOUBLE)
            / len(string_split(text, ' ')) AS mwl,
          (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
            + CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3.0)
            / len(string_split(text, ' ')) AS stw,
          CAST(len(list_filter(string_split(text, ' '), w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
            / len(string_split(text, ' ')) AS alr,
          CAST(len(list_filter(string_split(text, ' '),
            w -> w IN (${gopherStops.map("'" + _ + "'").mkString(", ")}))) AS BIGINT) AS n_stop
        FROM documents)
        SELECT doc_id, n_words, round(mwl, 6) AS mean_word_len,
          round(stw, 6) AS symbol_to_word, round(alr, 6) AS alpha_ratio, n_stop,
          (n_words BETWEEN 50 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0)
            AND stw <= 0.1 AND alr >= 0.8 AND n_stop >= 2 AS pass
        FROM m ORDER BY doc_id""")),

    // ---- CCNet-style LM perplexity filter (Wenzek et al. 2020): score
    // every document under an add-one bigram LM fitted on the English
    // reference slice, then cut the corpus into the head/middle/tail
    // perplexity terciles CCNet feeds to training. The model is
    // vocabulary-bounded so both model joins BROADCAST; per-token
    // log-probs are integer-scaled (sln) so the per-doc sum is exact
    // BIGINT arithmetic — aggregation-order-proof across engines. The
    // tercile rank is a global sort over per-DOC scores (bounded at
    // validation scale; a 100 TB run derives the two cut points from
    // approx quantiles instead — the bucket rule, not the rank, is the
    // operator's contract). -------------------------------------------
    QDef("p53_lm_perplexity",
      (s, dir) => lmDocNll(s, dir)
          .withColumn("rn",
            row_number().over(Window.orderBy(col("nll"), col("doc_id"))).cast("bigint"))
          .withColumn("nd", count(lit(1)).over(Window.partitionBy()))
          .withColumn("bucket",
            when(col("rn") * 3 <= col("nd"), "head")
              .when(col("rn") * 3 <= col("nd") * 2, "middle")
              .otherwise("tail"))
          .select(col("doc_id"), col("n_bigrams"), col("oov_ratio"), col("nll"),
            col("bucket"))
          .orderBy(col("doc_id")),
      Some(s"""WITH $duckLmScoreCtes,
        rr AS (SELECT *,
            CAST(ROW_NUMBER() OVER (ORDER BY nll, doc_id) AS BIGINT) AS rn,
            CAST(COUNT(*) OVER () AS BIGINT) AS nd
          FROM rk)
        SELECT doc_id, n_bigrams, oov_ratio, nll,
          CASE WHEN rn * 3 <= nd THEN 'head'
               WHEN rn * 3 <= nd * 2 THEN 'middle' ELSE 'tail' END AS bucket
        FROM rr ORDER BY doc_id""")),

    // ---- the tercile bucketing's SCALE PATH implemented (p53c): cut
    // points from a FIXED 1024-bucket histogram of nll (the p49 sketch
    // discipline — at most 1024 shuffled rows at ANY corpus size,
    // linear interpolation inside the straddling bucket), documents
    // bucketed by THRESHOLD comparison instead of global rank, and the
    // sketch's agreement with the exact rank terciles measured in the
    // same row. This is the production form of p53's bucket rule (and
    // p54/p55's top-k: same histogram, one cut) — the global sort is a
    // validation-scale convenience, not the contract. -----------------
    QDef("p53c_lm_buckets_sketch",
      (s, dir) => {
        val perDoc = lmDocNll(s, dir)
        val hb = perDoc
          .withColumn("b", expr("least(1023, greatest(0, CAST(floor(nll * 64.0) AS INT)))"))
          .groupBy(col("b")).agg(count(lit(1)).as("n"))
        val cum = hb
          .withColumn("cum", sum(col("n")).over(Window.orderBy(col("b"))))
          .withColumn("nt", sum(col("n")).over(Window.partitionBy()))
        def cutAt(fracSql: String, as: String) = cum
          .filter(expr(s"CAST(cum AS DOUBLE) >= $fracSql"))
          .orderBy(col("b")).limit(1)
          .select(expr(
            s"round((CAST(b AS DOUBLE) + ($fracSql - CAST(cum - n AS DOUBLE)) / n) / 64.0, 6)")
            .as(as))
        val c1 = cutAt("CAST(nt AS DOUBLE)/3.0", "cut_lo")
        val c2 = cutAt("CAST(nt AS DOUBLE)*2.0/3.0", "cut_hi")
        // `-Dgraft.sketchAgreement=off` (the 100 TB form): no exact
        // rank side at all — the plan is histogram + threshold compare,
        // zero corpus-scaled windows; n_agree is NULL by contract.
        val base = if (knobs.sketchAgreement) perDoc
          .withColumn("rn",
            row_number().over(Window.orderBy(col("nll"), col("doc_id"))).cast("bigint"))
          .withColumn("nd", count(lit(1)).over(Window.partitionBy()))
          .withColumn("ebucket",
            when(col("rn") * 3 <= col("nd"), "head")
              .when(col("rn") * 3 <= col("nd") * 2, "middle")
              .otherwise("tail"))
        else perDoc
        base.crossJoin(broadcast(c1)).crossJoin(broadcast(c2))
          .withColumn("sbucket",
            when(col("nll") <= col("cut_lo"), "head")
              .when(col("nll") <= col("cut_hi"), "middle")
              .otherwise("tail"))
          .groupBy(col("cut_lo"), col("cut_hi"))
          .agg(
            sum(when(col("sbucket") === "head", 1L).otherwise(0L)).as("n_head"),
            sum(when(col("sbucket") === "middle", 1L).otherwise(0L)).as("n_middle"),
            sum(when(col("sbucket") === "tail", 1L).otherwise(0L)).as("n_tail"),
            (if (knobs.sketchAgreement)
              sum(when(col("sbucket") === col("ebucket"), 1L).otherwise(0L))
            else lit(null).cast("bigint")).as("n_agree"))
      },
      Some(s"""WITH $duckLmScoreCtes,
        hb AS (SELECT least(1023, greatest(0, CAST(floor(nll * 64.0) AS INT))) AS b,
            CAST(count(*) AS BIGINT) AS n FROM rk GROUP BY 1),
        cum AS (SELECT b, n, sum(n) OVER (ORDER BY b) AS cum,
            (SELECT sum(n) FROM hb) AS nt FROM hb),
        c1 AS (SELECT round((CAST(b AS DOUBLE) + (CAST(nt AS DOUBLE)/3.0 - CAST(cum - n AS DOUBLE)) / n) / 64.0, 6) AS cut_lo
          FROM cum WHERE CAST(cum AS DOUBLE) >= CAST(nt AS DOUBLE)/3.0 ORDER BY b LIMIT 1),
        c2 AS (SELECT round((CAST(b AS DOUBLE) + (CAST(nt AS DOUBLE)*2.0/3.0 - CAST(cum - n AS DOUBLE)) / n) / 64.0, 6) AS cut_hi
          FROM cum WHERE CAST(cum AS DOUBLE) >= CAST(nt AS DOUBLE)*2.0/3.0 ORDER BY b LIMIT 1),
        ex AS (SELECT doc_id, nll,
            CAST(ROW_NUMBER() OVER (ORDER BY nll, doc_id) AS BIGINT) AS rn,
            CAST(COUNT(*) OVER () AS BIGINT) AS nd
          FROM rk),
        eb AS (SELECT doc_id, nll,
            CASE WHEN rn * 3 <= nd THEN 'head'
                 WHEN rn * 3 <= nd * 2 THEN 'middle' ELSE 'tail' END AS ebucket
          FROM ex),
        sk AS (SELECT e.*, c1.cut_lo, c2.cut_hi,
            CASE WHEN e.nll <= c1.cut_lo THEN 'head'
                 WHEN e.nll <= c2.cut_hi THEN 'middle' ELSE 'tail' END AS sbucket
          FROM eb e, c1, c2)
        SELECT cut_lo, cut_hi,
          CAST(sum(CASE WHEN sbucket = 'head' THEN 1 ELSE 0 END) AS BIGINT) AS n_head,
          CAST(sum(CASE WHEN sbucket = 'middle' THEN 1 ELSE 0 END) AS BIGINT) AS n_middle,
          CAST(sum(CASE WHEN sbucket = 'tail' THEN 1 ELSE 0 END) AS BIGINT) AS n_tail,
          CAST(sum(CASE WHEN sbucket = ebucket THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
        FROM sk GROUP BY 1, 2""")),

    // ---- the fitted LM pinned (p53b): the 100 most frequent bigrams
    // with their integer-scaled negative log-probs — the model CONTENTS,
    // so a wrong count, smoothing constant or vocabulary size anywhere
    // in the fit breaks the hash (same pinning discipline as p39b/p41).
    QDef("p53b_lm_model",
      (s, dir) => {
        val (m2, m1, v) = lmModel(s, dir)
        m2.join(m1, Seq("w1"))
          .crossJoin(broadcast(v))
          .withColumn("nll_scaled",
            expr(sln("c1 + v") + " - " + sln("c2 + 1")))
          .select(col("w1"), col("w2"), col("c2").as("c"), col("nll_scaled"))
          .orderBy(col("c").desc, col("w1"), col("w2")).limit(100)
          .orderBy(col("c").desc, col("w1"), col("w2"))
      },
      Some(s"""WITH $duckBigrams,
        $duckLmModel
        SELECT m2.w1, m2.w2, m2.c2 AS c,
          ${sln("m1.c1 + refv.v")} - ${sln("m2.c2 + 1")} AS nll_scaled
        FROM m2 JOIN m1 ON m2.w1 = m1.w1 CROSS JOIN refv
        ORDER BY c DESC, m2.w1, m2.w2 LIMIT 100""")),

    // ---- DSIR importance resampling (Xie et al. 2023): hashed
    // unigram+bigram features, per-bucket smoothed log-ratio
    // ln p_target(b) − ln p_raw(b) against the English target slice,
    // per-document importance weight = Σ over feature OCCURRENCES, then
    // select the top-k. The bucket table is ≤ dsirBuckets rows at ANY
    // corpus size (broadcasts), feature text dies at the 8-byte hash,
    // and the only corpus-scaled shuffle is the per-doc weight sum on
    // doc_id. Log-ratios are sln-scaled BIGINTs — order-proof sums. ----
    QDef("p54_dsir_select",
      (s, dir) => {
        val ft = dsirFeatures(s, dir)
        val ct = ft.filter(col("lang") === "en")
          .groupBy(col("b")).agg(count(lit(1)).as("tc"))
        val cr = ft.groupBy(col("b")).agg(count(lit(1)).as("rc"))
        val st = ft.agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("nt"),
          count(lit(1)).as("nr"))
        // both sides are bucket-bounded (≤ dsirBuckets rows) but their
        // post-aggregate sizes are unknown to the planner — hint it
        val lw = cr.join(broadcast(ct), Seq("b"), "left")
          .crossJoin(broadcast(st))
          .withColumn("lwt", expr(
            sln("coalesce(tc, 0) + 1") + s" - ${sln(s"nt + ${knobs.dsirBuckets}")}" +
              s" - ${sln("rc + 1")} + ${sln(s"nr + ${knobs.dsirBuckets}")}"))
          .select(col("b"), col("lwt"))
        val dw = ft.join(broadcast(lw), Seq("b"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_feats"), sum(col("lwt")).as("ws"))
          .withColumn("weight",
            round(col("ws").cast("double") / 100000000.0 / col("n_feats"), 6))
        dw.withColumn("rn",
            row_number().over(Window.orderBy(col("weight").desc, col("doc_id"))).cast("bigint"))
          .select(col("doc_id"), col("n_feats"), col("weight"),
            (col("rn") <= 100).as("selected"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $duckBigrams,
        $duckDsirFeatures,
        ct AS (SELECT b, count(*) AS tc FROM ft WHERE lang = 'en' GROUP BY b),
        cr AS (SELECT b, count(*) AS rc FROM ft GROUP BY b),
        st AS (SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt,
            CAST(count(*) AS BIGINT) AS nr FROM ft),
        lw AS (SELECT cr.b,
            ${sln("coalesce(ct.tc, 0) + 1")} - ${sln(s"st.nt + ${knobs.dsirBuckets}")}
            - ${sln("cr.rc + 1")} + ${sln(s"st.nr + ${knobs.dsirBuckets}")} AS lwt
          FROM cr CROSS JOIN st LEFT JOIN ct ON cr.b = ct.b),
        dw AS (SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
            round(CAST(sum(lw.lwt) AS DOUBLE) / 100000000.0 / count(*), 6) AS weight
          FROM ft f JOIN lw ON f.b = lw.b GROUP BY 1),
        rr AS (SELECT *,
            CAST(ROW_NUMBER() OVER (ORDER BY weight DESC, doc_id) AS BIGINT) AS rn
          FROM dw)
        SELECT doc_id, n_feats, weight, rn <= 100 AS selected
        FROM rr ORDER BY doc_id""")),

    // ---- trained quality classifier (GPT-3-style, Brown et al. 2020):
    // sparse logistic regression over the hashed n-gram features,
    // trained by deterministic integer-state batch GD (weights staged
    // once per corpus — LrStage), scoring every document and selecting
    // the top-k most reference-like. Selection is by RANK, not the 0.5
    // threshold — the published filter thresholds scores too (Pareto
    // sampling over the score), and rank is the engine-portable form.
    // The top-100 holds ~72 reference-class docs at both validation
    // corpora vs base rates of 38.6%/43.6% (≥1.6x lift) — learned
    // signal, pinned in the hash. --------------------------------------
    QDef("p55_lr_quality_select",
      (s, dir) => lrDocScores(s, dir)
          .withColumn("rn", row_number()
            .over(Window.orderBy(col("score_r").desc, col("doc_id"))).cast("bigint"))
          .select(col("doc_id"), col("y"), col("score_r"),
            (col("rn") <= 100).as("selected"))
          .orderBy(col("doc_id")),
      Some(s"""WITH $duckBigrams,
        $duckDsirFeatures,
        $duckLrChain,
        $duckLrScoreCte,
        lrr AS (SELECT *,
            CAST(ROW_NUMBER() OVER (ORDER BY score_r DESC, doc_id) AS BIGINT) AS rn
          FROM lsc)
        SELECT doc_id, y, score_r, rn <= 100 AS selected
        FROM lrr ORDER BY doc_id""")),

    // ---- the top-k selection's SCALE PATH implemented (p55c): p53c's
    // histogram discipline with ONE cut — the score threshold at the
    // (n−100)-th cumulative position of a fixed 1024-bucket histogram
    // of classifier scores (≤1024 shuffled rows at ANY corpus size,
    // in-bucket interpolation), documents selected by COMPARISON
    // against the cut instead of a global rank, and the sketch's
    // agreement with the exact rank top-100 measured in-row. Retires
    // the last "global sort at scale" caveat in the selection family.
    QDef("p55c_lr_select_sketch",
      (s, dir) => {
        val sc = lrDocScores(s, dir)
        val hb = sc
          .withColumn("b", expr("least(1023, greatest(0, CAST(floor(score_r * 1024.0) AS INT)))"))
          .groupBy(col("b")).agg(count(lit(1)).as("n"))
        val cum = hb
          .withColumn("cum", sum(col("n")).over(Window.orderBy(col("b"))))
          .withColumn("nt", sum(col("n")).over(Window.partitionBy()))
        val cut = cum
          .filter(expr("CAST(cum AS DOUBLE) >= CAST(nt - 100 AS DOUBLE)"))
          .orderBy(col("b")).limit(1)
          .select(expr(
            "round((CAST(b AS DOUBLE) + (CAST(nt - 100 AS DOUBLE) - CAST(cum - n AS DOUBLE)) / n) / 1024.0, 6)")
            .as("cut_r"))
        // dial-off (100 TB form): selection is the threshold compare
        // alone — no global rank window; n_agree NULL by contract
        val base = if (knobs.sketchAgreement) sc
          .withColumn("rn", row_number()
            .over(Window.orderBy(col("score_r").desc, col("doc_id"))).cast("bigint"))
        else sc
        base.crossJoin(broadcast(cut))
          .withColumn("sk", col("score_r") > col("cut_r"))
          .groupBy(col("cut_r"))
          .agg(
            sum(when(col("sk"), 1L).otherwise(0L)).as("n_selected"),
            (if (knobs.sketchAgreement)
              sum(when(col("sk") && col("rn") <= 100, 1L).otherwise(0L))
            else lit(null).cast("bigint")).as("n_agree"))
      },
      Some(s"""WITH $duckBigrams,
        $duckDsirFeatures,
        $duckLrChain,
        $duckLrScoreCte,
        shb AS (SELECT least(1023, greatest(0, CAST(floor(score_r * 1024.0) AS INT))) AS b,
            CAST(count(*) AS BIGINT) AS n FROM lsc GROUP BY 1),
        scum AS (SELECT b, n, sum(n) OVER (ORDER BY b) AS cum,
            (SELECT sum(n) FROM shb) AS nt FROM shb),
        sct AS (SELECT round((CAST(b AS DOUBLE) + (CAST(nt - 100 AS DOUBLE) - CAST(cum - n AS DOUBLE)) / n) / 1024.0, 6) AS cut_r
          FROM scum WHERE CAST(cum AS DOUBLE) >= CAST(nt - 100 AS DOUBLE)
          ORDER BY b LIMIT 1),
        sex AS (SELECT doc_id, score_r,
            CAST(ROW_NUMBER() OVER (ORDER BY score_r DESC, doc_id) AS BIGINT) AS rn
          FROM lsc)
        SELECT sct.cut_r,
          CAST(sum(CASE WHEN e.score_r > sct.cut_r THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
          CAST(sum(CASE WHEN e.score_r > sct.cut_r AND e.rn <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
        FROM sex e, sct GROUP BY sct.cut_r""")),

    // ---- the trained classifier's weights pinned (p55b): every
    // non-zero integer-scaled weight — the model CONTENTS, so a drift
    // anywhere in the lrIters-round trajectory (feature scaling, residual
    // flooring, update order) breaks the hash. ------------------------
    QDef("p55b_lr_weights",
      (s, dir) => LrStage.load(s, dir)
        .filter(col("ws") =!= 0L)
        .orderBy(col("b")),
      Some(s"""WITH $duckBigrams,
        $duckDsirFeatures,
        $duckLrChain
        SELECT b, ws FROM lw$lrIters WHERE ws <> 0 ORDER BY b""")),

    // ---- classifier CALIBRATION by score bin (p74): the reliability
    // diagram (Guo et al. 2017's evaluation for exactly this kind of
    // quality classifier) over p55's staged-weight scores — ten
    // predicted-probability bins, each reporting mean predicted rate vs
    // observed positive rate and the gap. Predicted-rate means sum
    // MICRO-UNIT INTEGERS (floor(score·1e6 + 0.5)) so the aggregate is
    // order-independent across engines and partitions; observed rates
    // are exact rationals. One slim groupBy over the scoring front;
    // 10 rows out at any corpus size. ----------------------------------
    QDef("p74_lr_calibration",
      (s, dir) => lrDocScores(s, dir)
        .withColumn("bin",
          expr("least(9, greatest(0, CAST(floor(score_r * 10.0) AS INT)))"))
        .withColumn("micro",
          expr("CAST(floor(score_r * 1000000.0 + 0.5) AS BIGINT)"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
          sum(col("micro")).as("sm"))
        .withColumn("pred_rate_r",
          round(col("sm").cast("double") / col("n") / 1000000.0, 6))
        .withColumn("obs_rate_r",
          round(col("n_pos").cast("double") / col("n"), 6))
        .withColumn("gap_r", round(col("obs_rate_r") - col("pred_rate_r"), 6))
        .select(col("bin"), col("n"), col("n_pos"), col("pred_rate_r"),
          col("obs_rate_r"), col("gap_r"))
        .orderBy(col("bin")),
      Some(s"""WITH $duckBigrams,
        $duckDsirFeatures,
        $duckLrChain,
        $duckLrScoreCte,
        cb AS (SELECT
            least(9, greatest(0, CAST(floor(score_r * 10.0) AS INTEGER))) AS bin,
            y, CAST(floor(score_r * 1000000.0 + 0.5) AS BIGINT) AS micro
          FROM lsc),
        cg AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(y) AS BIGINT) AS n_pos, CAST(SUM(micro) AS BIGINT) AS sm
          FROM cb GROUP BY bin)
        SELECT bin, n, n_pos,
          round(CAST(sm AS DOUBLE) / n / 1000000.0, 6) AS pred_rate_r,
          round(CAST(n_pos AS DOUBLE) / n, 6) AS obs_rate_r,
          round(round(CAST(n_pos AS DOUBLE) / n, 6)
            - round(CAST(sm AS DOUBLE) / n / 1000000.0, 6), 6) AS gap_r
        FROM cg ORDER BY bin""")),

    // ---- the published PREPROCESSING PIPELINE composed (p75): Gopher
    // rules -> C4-style filter -> CCNet perplexity tail cut -> exact
    // dedup -> GPT-3 Pareto-threshold classifier sampling, as ONE
    // declarative plan reporting per-stage attrition — the funnel view
    // a dataset paper leads with. Every stage's per-doc flag is the
    // SAME arithmetic its standalone entry pins (p52/p17/p53/p01/p61),
    // computed corpus-wide and AND-folded in sequence, so the funnel
    // is definitionally consistent with the family (spec'd). Counts
    // are exact integers; one row per stage. 100 TB shape: five flag
    // frames (each the standalone entry's shape — broadcast model
    // joins, slim shuffles), one doc_id-keyed join spine, one
    // aggregate. ------------------------------------------------------
    QDef("p75_quality_funnel",
      (s, dir) => {
        val f1 = gopherMetrics(docs(s, dir))
          .select(col("doc_id"), col("pass").as("f1"))
        val f2 = docs(s, dir)
          .withColumn("n_tokens", size(split(col("text"), " ")))
          .withColumn("avg_token_len",
            length(regexp_replace(col("text"), " ", "")).cast("double") / col("n_tokens"))
          .withColumn("punct_ratio",
            (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")))
              .cast("double") / length(col("text")))
          .withColumn("quality",
            (when(col("n_tokens").between(5, 1000), 0.4).otherwise(0.0) +
              when(col("avg_token_len").between(3.0, 10.0), 0.3).otherwise(0.0) +
              when(col("punct_ratio") < 0.1, 0.3).otherwise(0.0)).cast("double"))
          .select(col("doc_id"),
            (col("lang").isin("en", "es") && col("n_tokens").between(10, 400) &&
              col("quality") >= 0.7).as("f2"))
        val f3 = lmDocNll(s, dir)
          .withColumn("rn", row_number()
            .over(Window.orderBy(col("nll"), col("doc_id"))).cast("bigint"))
          .withColumn("nd", count(lit(1)).over(Window.partitionBy()))
          .select(col("doc_id"), (col("rn") * 3 <= col("nd") * 2).as("f3"))
        val f4 = docs(s, dir)
          .withColumn("keep_id",
            min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
          .select(col("doc_id"), (col("doc_id") === col("keep_id")).as("f4"))
        val d = (1 to 4).map(i =>
          s"(instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), $i, 1)) - 1)")
          .reduce((a, b) => s"($a * 16 + $b)")
        val f5 = lrDocScores(s, dir)
          .withColumn("u", expr(s"CAST($d AS DOUBLE) / 65536.0"))
          .withColumn("x", expr(s"pow(1.0 - u, ${-1.0 / 9.0}) - 1.0"))
          .select(col("doc_id"), (col("x") > lit(1.0) - col("score_r")).as("f5"))
        val flags = docs(s, dir).select(col("doc_id"))
          .join(f1, Seq("doc_id"), "left").join(f2, Seq("doc_id"), "left")
          .join(f3, Seq("doc_id"), "left").join(f4, Seq("doc_id"), "left")
          .join(f5, Seq("doc_id"), "left")
          .select(col("doc_id") +: (1 to 5).map(i =>
            coalesce(col(s"f$i"), lit(false)).as(s"f$i")): _*)
        val c = flags.agg(
          count(lit(1)).as("n0"),
          sum(when(col("f1"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("f1") && col("f2"), 1L).otherwise(0L)).as("n2"),
          sum(when(col("f1") && col("f2") && col("f3"), 1L).otherwise(0L)).as("n3"),
          sum(when(col("f1") && col("f2") && col("f3") && col("f4"), 1L)
            .otherwise(0L)).as("n4"),
          sum(when(col("f1") && col("f2") && col("f3") && col("f4") && col("f5"), 1L)
            .otherwise(0L)).as("n5"))
        c.select(explode(expr(
            """array(
              named_struct('stage', 1, 'name', 'gopher_rules', 'n_in', n0, 'n_out', n1),
              named_struct('stage', 2, 'name', 'c4_filter', 'n_in', n1, 'n_out', n2),
              named_struct('stage', 3, 'name', 'lm_tail_cut', 'n_in', n2, 'n_out', n3),
              named_struct('stage', 4, 'name', 'exact_dedup', 'n_in', n3, 'n_out', n4),
              named_struct('stage', 5, 'name', 'pareto_classifier', 'n_in', n4, 'n_out', n5))"""))
            .as("st"))
          .select(col("st.stage").as("stage"), col("st.name").as("name"),
            col("st.n_in").as("n_in"), col("st.n_out").as("n_out"))
          .withColumn("drop_r", expr(
            "CASE WHEN n_in = 0 THEN 0.0 ELSE round(1.0 - CAST(n_out AS DOUBLE) / n_in, 6) END"))
          .orderBy(col("stage"))
      },
      Some {
        val d = (1 to 4).map(i =>
          s"(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)")
          .reduce((a, b) => s"($a * 16 + $b)")
        s"""WITH $duckLmScoreCtes,
        $duckDsirFeatures,
        $duckLrChain,
        $duckLrScoreCte,
        gm AS (SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
            CAST(length(replace(text, ' ', '')) AS DOUBLE)
              / len(string_split(text, ' ')) AS mwl,
            (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
              + CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3.0)
              / len(string_split(text, ' ')) AS stw,
            CAST(len(list_filter(string_split(text, ' '), w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
              / len(string_split(text, ' ')) AS alr,
            CAST(len(list_filter(string_split(text, ' '),
              w -> w IN (${gopherStops.map("'" + _ + "'").mkString(", ")}))) AS BIGINT) AS n_stop
          FROM documents),
        gf AS (SELECT doc_id, (n_words BETWEEN 50 AND 100000)
            AND (mwl BETWEEN 3.0 AND 10.0) AND stw <= 0.1 AND alr >= 0.8
            AND n_stop >= 2 AS f1 FROM gm),
        c4s AS (SELECT doc_id, lang,
            len(string_split(text, ' ')) AS n_tokens,
            CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len,
            CAST(length(text) - length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio
          FROM documents),
        c4f AS (SELECT doc_id,
            (lang IN ('en', 'es') AND n_tokens BETWEEN 10 AND 400 AND
             (CASE WHEN n_tokens BETWEEN 5 AND 1000 THEN 0.4 ELSE 0.0 END
              + CASE WHEN avg_token_len BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END
              + CASE WHEN punct_ratio < 0.1 THEN 0.3 ELSE 0.0 END) >= 0.7) AS f2
          FROM c4s),
        lb AS (SELECT doc_id, (rn * 3 <= nd * 2) AS f3 FROM (
          SELECT doc_id,
            CAST(ROW_NUMBER() OVER (ORDER BY nll, doc_id) AS BIGINT) AS rn,
            CAST(COUNT(*) OVER () AS BIGINT) AS nd
          FROM rk)),
        ddp AS (SELECT doc_id,
            doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS f4
          FROM documents),
        ptf AS (SELECT doc_id,
            (pow(1.0 - CAST($d AS DOUBLE) / 65536.0, ${-1.0 / 9.0}) - 1.0)
              > 1.0 - score_r AS f5
          FROM lsc),
        fl AS (SELECT dd.doc_id,
            COALESCE(gf.f1, FALSE) AS f1, COALESCE(c4f.f2, FALSE) AS f2,
            COALESCE(lb.f3, FALSE) AS f3, COALESCE(ddp.f4, FALSE) AS f4,
            COALESCE(ptf.f5, FALSE) AS f5
          FROM documents dd
          LEFT JOIN gf ON gf.doc_id = dd.doc_id
          LEFT JOIN c4f ON c4f.doc_id = dd.doc_id
          LEFT JOIN lb ON lb.doc_id = dd.doc_id
          LEFT JOIN ddp ON ddp.doc_id = dd.doc_id
          LEFT JOIN ptf ON ptf.doc_id = dd.doc_id),
        cc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
            CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            CAST(SUM(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
            CAST(SUM(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
            CAST(SUM(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
            CAST(SUM(CASE WHEN f1 AND f2 AND f3 AND f4 AND f5 THEN 1 ELSE 0 END) AS BIGINT) AS n5
          FROM fl),
        stg AS (
          SELECT 1 AS stage, 'gopher_rules' AS name, n0 AS n_in, n1 AS n_out FROM cc
          UNION ALL SELECT 2, 'c4_filter', n1, n2 FROM cc
          UNION ALL SELECT 3, 'lm_tail_cut', n2, n3 FROM cc
          UNION ALL SELECT 4, 'exact_dedup', n3, n4 FROM cc
          UNION ALL SELECT 5, 'pareto_classifier', n4, n5 FROM cc)
        SELECT stage, name, n_in, n_out,
          CASE WHEN n_in = 0 THEN 0.0
            ELSE round(1.0 - CAST(n_out AS DOUBLE) / n_in, 6) END AS drop_r
        FROM stg ORDER BY stage"""
      }),

    // ---- Pareto-threshold stochastic selection (p61): the EXACT
    // mechanism GPT-3 used to apply its quality classifier (Brown et
    // al. 2020 §A: keep a document iff a Pareto(9) draw exceeds
    // 1 − score) — high-scoring docs are kept near-certainly, low
    // scorers survive with small probability, preserving tail
    // diversity instead of a hard cutoff. The "draw" is the
    // inverse-CDF Lomax sample of a 16-bit md5 hash of the doc id
    // (p24's deterministic-sampling idiom), so the selection is
    // identical on any cluster and both engines. ----------------------
    QDef("p61_pareto_sample",
      (s, dir) => {
        val d = (1 to 4).map(i =>
          s"(instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), $i, 1)) - 1)")
          .reduce((a, b) => s"($a * 16 + $b)")
        // the exponent is a Scala-computed double rendered into BOTH
        // engines: written as the SQL text `-1.0/9.0` Spark would
        // evaluate it in DECIMAL arithmetic (literal `1.0` is
        // DECIMAL(2,1)) and truncate to -0.111111 — measured 3e-8 skew
        lrDocScores(s, dir)
          .withColumn("u", expr(s"CAST($d AS DOUBLE) / 65536.0"))
          .withColumn("x", expr(s"pow(1.0 - u, ${-1.0 / 9.0}) - 1.0"))
          .select(col("doc_id"), col("y"), col("score_r"),
            round(col("x"), 6).as("pareto_r"),
            (col("x") > lit(1.0) - col("score_r")).as("kept"))
          .orderBy(col("doc_id"))
      },
      Some {
        val d = (1 to 4).map(i =>
          s"(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)")
          .reduce((a, b) => s"($a * 16 + $b)")
        s"""WITH $duckBigrams,
        $duckDsirFeatures,
        $duckLrChain,
        $duckLrScoreCte,
        pu AS (SELECT doc_id, y, score_r,
            pow(1.0 - CAST($d AS DOUBLE) / 65536.0, ${-1.0 / 9.0}) - 1.0 AS x
          FROM lsc)
        SELECT doc_id, y, score_r, round(x, 6) AS pareto_r,
          x > 1.0 - score_r AS kept
        FROM pu ORDER BY doc_id"""
      }),

    // ---- corpus DATASHEET row (p62): the one-row summary a dataset
    // card leads with (Gebru et al. 2021, Datasheets for Datasets) —
    // volume, provenance breadth, vocabulary, exact-duplicate mass and
    // quality-gate pass rate, each a single-pass aggregate over
    // machinery other entries pin individually. Cross-entry consistency
    // is spec'd (counts must agree with p01/p52). --------------------
    QDef("p62_corpus_card",
      (s, dir) => {
        val base = docs(s, dir).agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          sum(size(split(col("text"), " ")).cast("bigint")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"),
          (count(lit(1)) - countDistinct(md5(col("text")))).as("exact_dup_docs"))
        val words = docs(s, dir)
          .select(explode(split(col("text"), " ")).as("w"))
          .agg(countDistinct(col("w")).as("distinct_words"))
        val shing = ShingleStage.load(s, dir)
          .agg(countDistinct(col("h")).as("distinct_shingles"))
        val pass = gopherMetrics(docs(s, dir))
          .agg(round(sum(when(col("pass"), 1.0).otherwise(0.0)) / count(lit(1)), 6)
            .as("gopher_pass_rate"))
        base.crossJoin(broadcast(words)).crossJoin(broadcast(shing))
          .crossJoin(broadcast(pass))
      },
      Some(s"""WITH $duckShingleCtes,
        b AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
            CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
            CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
            CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
            CAST(sum(n_chars) AS BIGINT) AS n_chars,
            CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS exact_dup_docs
          FROM documents),
        wd AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS distinct_words
          FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
        sg AS (SELECT CAST(count(DISTINCT h) AS BIGINT) AS distinct_shingles FROM sh),
        gp AS (SELECT round(
            sum(CASE WHEN (len(string_split(text, ' ')) BETWEEN 50 AND 100000)
              AND (CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) BETWEEN 3.0 AND 10.0)
              AND (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
                + CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3.0)
                / len(string_split(text, ' ')) <= 0.1
              AND CAST(len(list_filter(string_split(text, ' '), w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
                / len(string_split(text, ' ')) >= 0.8
              AND len(list_filter(string_split(text, ' '),
                w -> w IN (${gopherStops.map("'" + _ + "'").mkString(", ")}))) >= 2
              THEN 1.0 ELSE 0.0 END) / count(*), 6) AS gopher_pass_rate
          FROM documents)
        SELECT b.*, wd.distinct_words, sg.distinct_shingles, gp.gopher_pass_rate
        FROM b, wd, sg, gp""")),

    // ---- temperature-based language-mixture weights (Conneau et al.
    // 2019 XLM-R §3.1 / mT5): sampling weight q_l ∝ p_l^α with α = 0.3,
    // the standard up-weighting of low-resource slices when assembling
    // a multilingual pretraining mix. One grouped count + a one-row
    // broadcast total; p^α is floor-scaled to a BIGINT before the
    // normalizing sum, so the normalization is exact integer arithmetic
    // (the only transcendental is pow of an identical double). boost_r
    // = q/p is the per-language oversampling factor a sampler applies.
    QDef("p56_temperature_mix",
      (s, dir) => {
        val byLang = docs(s, dir).groupBy(col("lang")).agg(count(lit(1)).as("n"))
        val tot = docs(s, dir).agg(count(lit(1)).as("nt"))
        byLang.crossJoin(broadcast(tot))
          .withColumn("pa", expr(
            "CAST(floor(pow(CAST(n AS DOUBLE)/nt, 0.3)*1000000000000.0 + 0.5) AS BIGINT)"))
          .withColumn("spa", sum(col("pa")).over(Window.partitionBy()))
          .withColumn("p_r", round(expr("CAST(n AS DOUBLE)/nt"), 6))
          .withColumn("q_r", round(expr("CAST(pa AS DOUBLE)/spa"), 6))
          .withColumn("boost_r", round(expr(
            "(CAST(pa AS DOUBLE)/spa)/(CAST(n AS DOUBLE)/nt)"), 6))
          .select(col("lang"), col("n"), col("p_r"), col("q_r"), col("boost_r"))
          .orderBy(col("lang"))
      },
      Some("""WITH bl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        tt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM documents),
        pa AS (SELECT lang, n, nt,
            CAST(floor(pow(CAST(n AS DOUBLE)/nt, 0.3)*1000000000000.0 + 0.5) AS BIGINT) AS pa
          FROM bl, tt),
        sp AS (SELECT *, sum(pa) OVER () AS spa FROM pa)
        SELECT lang, n, round(CAST(n AS DOUBLE)/nt, 6) AS p_r,
          round(CAST(pa AS DOUBLE)/spa, 6) AS q_r,
          round((CAST(pa AS DOUBLE)/spa)/(CAST(n AS DOUBLE)/nt), 6) AS boost_r
        FROM sp ORDER BY lang""")),

    // ---- ONLINE domain reweighting (p70): the Hedge / multiplicative-
    // weights trajectory (Freund & Schapire 1997; the linear-update MWU
    // form of Arora-Hazan-Kale 2012, §2) over per-domain LM losses —
    // the update rule DoReMi (Xie et al. 2023) runs with a training
    // proxy, here driven by the staged bigram LM so the whole
    // trajectory is declarative. Rounds are event-order corpus shards
    // (doc_id mod 6): each round t scores every domain by its shard's
    // mean bigram NLL, normalized per-mille against the round's worst
    // domain, and updates w <- w * (S - eta*m) / S in EXACT BIGINT
    // arithmetic (S = 1e6, eta = 300 per-mille = 0.3; the p55 LR
    // discipline — every division is integer floor, so the trajectory
    // is bit-reproducible in any engine). A domain absent from a shard
    // is charged the round's max loss (absence is evidence of nothing,
    // Hedge charges the pessimistic bound). Weights normalize only at
    // readout: a BIGINT window sum per round, order-independent.
    // 100 TB shape: the corpus-scaled work is lmDocNll's broadcast-join
    // scoring front + one slim (shard, source) aggregation; the
    // trajectory itself folds a 6-element factor list per domain —
    // dial-bounded rows from there on. --------------------------------
    QDef("p70_hedge_mix",
      (s, dir) => {
        val T = 6
        val perDoc = lmDocNll(s, dir)
          .select(col("doc_id"), col("nll_sum"), col("n_bigrams"))
        val rt = perDoc
          .join(docs(s, dir).select(col("doc_id"), col("source")), Seq("doc_id"))
          .groupBy(expr("doc_id % 6").as("shard"), col("source"))
          .agg(sum(col("nll_sum")).as("sn"), sum(col("n_bigrams")).as("sb"))
          .select(col("shard"), col("source"), expr("sn DIV sb").as("L"))
        // rounds are DENSIFIED over the full 0..5 shard domain: a shard
        // with no scorable docs (empty corpus slice) must still emit a
        // round, or the per-source factor lists shorten and slice(fs,
        // 1, t) silently shifts factors across rounds. An all-empty
        // round charges every domain m_pm = 0 — a uniform factor, so
        // normalized weights pass through unchanged (charging everyone
        // the pessimistic bound would normalize identically).
        val shards = s.range(0, 6).select(col("id").as("shard"))
        val mx = shards.join(
          rt.groupBy(col("shard")).agg(max(col("L")).as("lmax")),
          Seq("shard"), "left")
        val sources = docs(s, dir).select(col("source")).distinct()
        val pm = mx.crossJoin(sources)
          .join(rt, Seq("shard", "source"), "left")
          .select(col("shard"), col("source"),
            expr("(coalesce(L, lmax, CAST(0 AS BIGINT)) * 1000)" +
              " DIV greatest(coalesce(lmax, CAST(1 AS BIGINT)), CAST(1 AS BIGINT))")
              .as("m_pm"))
        val fl = pm.groupBy(col("source"))
          .agg(sort_array(collect_list(struct(col("shard"),
            (lit(1000000L) - lit(300L) * col("m_pm")).as("f")))).as("tf"))
          .select(col("source"), expr("transform(tf, x -> x.f)").as("fs"))
        val tw = fl
          .select(col("source"), col("fs"), explode(expr(s"sequence(1, $T)")).as("t"))
          .select(col("source"), col("t"),
            expr("""aggregate(slice(fs, 1, t), CAST(1000000000000 AS BIGINT),
                    (a, b) -> (a * b) DIV 1000000)""").as("w"))
        tw.join(pm.select((col("shard") + 1).cast("int").as("t"),
            col("source"), col("m_pm")), Seq("t", "source"))
          .withColumn("sw", sum(col("w")).over(Window.partitionBy(col("t"))))
          .select(col("t"), col("source"), col("m_pm"), col("w"),
            round(col("w").cast("double") / col("sw"), 6).as("weight_r"))
          .orderBy(col("t"), col("source"))
      },
      Some(s"""WITH $duckLmScoreCtes,
        dl AS (SELECT ds.doc_id % 6 AS shard, d.source, ds.nll_sum, ds.n_bigrams
          FROM ds JOIN documents d ON ds.doc_id = d.doc_id),
        rt AS (SELECT shard, source,
            CAST(SUM(nll_sum) // SUM(n_bigrams) AS BIGINT) AS L
          FROM dl GROUP BY 1, 2),
        mxx AS (SELECT r.r AS shard, m.lmax
          FROM range(0, 6) r(r)
          LEFT JOIN (SELECT shard, MAX(L) AS lmax FROM rt GROUP BY 1) m
            ON m.shard = r.r),
        srcs AS (SELECT DISTINCT source FROM documents),
        pm AS (SELECT m.shard, s.source,
            CAST((COALESCE(rt.L, m.lmax, 0) * 1000)
              // GREATEST(COALESCE(m.lmax, 1), 1) AS BIGINT) AS m_pm
          FROM mxx m CROSS JOIN srcs s
          LEFT JOIN rt ON rt.shard = m.shard AND rt.source = s.source),
        fl AS (SELECT source, list(1000000 - 300 * m_pm ORDER BY shard) AS fs
          FROM pm GROUP BY source),
        tw AS (SELECT f.source, CAST(t.t AS INTEGER) AS t,
            CAST(list_reduce(
              list_prepend(CAST(1000000000000 AS BIGINT), f.fs[1:CAST(t.t AS INTEGER)]),
              (a, b) -> (a * b) // 1000000) AS BIGINT) AS w
          FROM fl f CROSS JOIN range(1, 7) t(t)),
        nt AS (SELECT t, SUM(w) AS sw FROM tw GROUP BY t)
        SELECT tw.t, tw.source, pm.m_pm, tw.w,
          round(CAST(tw.w AS DOUBLE) / nt.sw, 6) AS weight_r
        FROM tw JOIN nt ON nt.t = tw.t
        JOIN pm ON pm.shard = tw.t - 1 AND pm.source = tw.source
        ORDER BY tw.t, tw.source""")),

    // ---- n-gram NOVELTY profile (p57): per document, the fraction of
    // its distinct 3-shingles whose FIRST corpus occurrence (min doc_id)
    // is this document — the memorization-analysis view of a corpus
    // (Lee et al. 2021's duplicated-text lens inverted: what fraction of
    // each doc is new text vs text seen earlier in ingestion order).
    // Rides the STAGED shingle table (un-guarded — common shingles are
    // exactly the non-novel mass): one window min on the existing h
    // partitioning, one per-doc aggregate. ----------------------------
    QDef("p57_ngram_novelty",
      (s, dir) => ShingleStage.load(s, dir)
        .select(col("doc_id"), col("h"))
        .withColumn("first_id", min(col("doc_id")).over(Window.partitionBy(col("h"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_id") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel").cast("double") / col("n_shingles"), 6))
        .orderBy(col("doc_id")),
      Some(s"""WITH $duckShingleCtes,
        fo AS (SELECT h, min(doc_id) AS first_id FROM sh GROUP BY h)
        SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
          CAST(sum(CASE WHEN fo.first_id = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
          round(CAST(sum(CASE WHEN fo.first_id = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*), 6) AS novelty
        FROM sh s JOIN fo ON s.h = fo.h GROUP BY s.doc_id ORDER BY doc_id""")),

    // ---- cross-source near-dup overlap (p58): the contamination audit
    // BETWEEN corpus slices — every staged near-dup pair (p00b, Jaccard
    // >= 0.5) attributed to its (source_a, source_b) combination, so a
    // source pair with heavy off-diagonal mass is one corpus scraped
    // twice under two names. Additive over the staged pair table: two
    // id→source joins and one grouped count. --------------------------
    QDef("p58_source_overlap",
      (s, dir) => {
        val src = docs(s, dir).select(col("doc_id"), col("source"))
        jaccardPairs(s, dir)
          .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")), Seq("a_id"))
          .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")), Seq("b_id"))
          .select(least(col("sa"), col("sb")).as("source_a"),
            greatest(col("sa"), col("sb")).as("source_b"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .withColumn("within_source", col("source_a") === col("source_b"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some(s"""WITH $duckGuardedPairCtes,
        jp AS (SELECT a_id, b_id
          FROM pr JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
          WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5),
        sp AS (SELECT least(da.source, db.source) AS source_a,
            greatest(da.source, db.source) AS source_b
          FROM jp JOIN documents da ON da.doc_id = jp.a_id
          JOIN documents db ON db.doc_id = jp.b_id)
        SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
          source_a = source_b AS within_source
        FROM sp GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- chunk-level BM25 retrieval (p60): the RAG-standard retrieval
    // unit — p50's overlapping token windows scored as BM25 documents
    // (dl = window length, df/avgdl over the CHUNK population), top-50
    // windows returned with (doc_id, chunk_no) provenance. Same
    // scan-plus-broadcast-stats shape as p29: per-row window explode
    // and tf (no shuffle), ONE one-row stats reduction, per-partition
    // heap top-k. ------------------------------------------------------
    QDef("p60_chunk_bm25",
      (s, dir) => {
        val c = knobs.chunkTokens; val st = knobs.chunkStride
        val base = docs(s, dir).filter(col("text").isNotNull)
          .withColumn("toks", split(col("text"), " "))
          .withColumn("n", size(col("toks")))
          .filter(col("n") > 0)
          .withColumn("start", explode(expr(s"sequence(0, n - 1, $st)")))
          .withColumn("chunk_no", expr(s"CAST(start div $st AS INT)"))
          .withColumn("carr", expr(s"slice(toks, start + 1, least($c, n - start))"))
          .withColumn("dl", expr(s"CAST(least($c, n - start) AS DOUBLE)"))
        val withTf = base.select(
          col("doc_id") +: col("chunk_no") +: col("dl") +:
            bm25Terms.map(t =>
              expr(s"CAST(size(filter(carr, x -> x = '$t')) AS DOUBLE)").as(s"tf_$t")): _*)
        val stats = withTf.agg(
          count(lit(1)).cast("double").as("n_docs"),
          (sum(col("dl")) / count(lit(1))).as("avgdl") +:
            bm25Terms.map(t =>
              sum(when(col(s"tf_$t") > 0, 1.0).otherwise(0.0)).as(s"df_$t")): _*)
        withTf.crossJoin(broadcast(stats))
          .withColumn("score_r", round(
            expr(bm25Terms.map(t => bm25Term(s"tf_$t", s"df_$t")).mkString(" + ")), 6))
          .select(col("doc_id"), col("chunk_no"),
            col("dl").cast("int").as("n_tok"), col("score_r"))
          .orderBy(col("score_r").desc, col("doc_id"), col("chunk_no"))
          .limit(50)
      },
      Some(s"""WITH ck AS (
          SELECT doc_id, st AS start,
            CAST(st // ${knobs.chunkStride} AS INT) AS chunk_no,
            arr[st + 1 : st + least(${knobs.chunkTokens}, n - st)] AS carr,
            CAST(least(${knobs.chunkTokens}, n - st) AS DOUBLE) AS dl
          FROM (SELECT doc_id, arr, len(arr) AS n, unnest(range(0, len(arr), ${knobs.chunkStride})) AS st
                FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents
                      WHERE text IS NOT NULL)
                WHERE len(arr) > 0)),
        t AS (SELECT doc_id, chunk_no, dl,
            ${bm25Terms.map(t =>
              s"CAST(len(list_filter(carr, x -> x = '$t')) AS DOUBLE) AS tf_$t")
              .mkString(", ")}
          FROM ck),
        stx AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, SUM(dl) / COUNT(*) AS avgdl,
            ${bm25Terms.map(t =>
              s"SUM(CASE WHEN tf_$t > 0 THEN 1.0 ELSE 0.0 END) AS df_$t")
              .mkString(", ")}
          FROM t)
        SELECT doc_id, chunk_no, CAST(dl AS INTEGER) AS n_tok,
          round(${bm25Terms.map(t => bm25Term(s"tf_$t", s"df_$t")).mkString(" + ")}, 6) AS score_r
        FROM t, stx
        ORDER BY score_r DESC, doc_id, chunk_no LIMIT 50""")),

    // ---- many-queries chunk retrieval (p60b): p60's RAG unit under
    // p64b's query fan — ONE chunk explode computes tf columns for the
    // union of every query's terms, a one-row broadcast carries the
    // chunk-population stats, each chunk's per-query scores explode
    // from a literal struct array, and the per-query top-10 is a
    // window over SLIM (ids, score) rows keyed on query_id — the
    // fan-out axis; at thousands of queries the cut distributes, and
    // nothing chunk-sized rides the shuffle (the chunk text dies at
    // the tf projection). -----------------------------------------------
    QDef("p60b_chunk_bm25_many",
      (s, dir) => {
        val c = knobs.chunkTokens; val st = knobs.chunkStride
        val qs = mmrQueries
        val allTerms = qs.flatMap(_._2).distinct
        val base = docs(s, dir).filter(col("text").isNotNull)
          .withColumn("toks", split(col("text"), " "))
          .withColumn("n", size(col("toks")))
          .filter(col("n") > 0)
          .withColumn("start", explode(expr(s"sequence(0, n - 1, $st)")))
          .withColumn("chunk_no", expr(s"CAST(start div $st AS INT)"))
          .withColumn("carr", expr(s"slice(toks, start + 1, least($c, n - start))"))
          .withColumn("dl", expr(s"CAST(least($c, n - start) AS DOUBLE)"))
        val withTf = base.select(
          col("doc_id") +: col("chunk_no") +: col("dl") +:
            allTerms.map(t =>
              expr(s"CAST(size(filter(carr, x -> x = '$t')) AS DOUBLE)").as(s"tf_$t")): _*)
        val stats = withTf.agg(
          count(lit(1)).cast("double").as("n_docs"),
          (sum(col("dl")) / count(lit(1))).as("avgdl") +:
            allTerms.map(t =>
              sum(when(col(s"tf_$t") > 0, 1.0).otherwise(0.0)).as(s"df_$t")): _*)
        val scoreStructs = qs.map { case (qid, ts) =>
          s"named_struct('query_id', '$qid', 'score_r', " +
            s"round(${ts.map(t => bm25Term(s"tf_$t", s"df_$t")).mkString(" + ")}, 6))"
        }
        withTf.crossJoin(broadcast(stats))
          .select(col("doc_id"), col("chunk_no"), col("dl"),
            explode(expr(s"array(${scoreStructs.mkString(", ")})")).as("q"))
          .select(col("doc_id"), col("chunk_no"), col("dl"),
            col("q.query_id").as("query_id"), col("q.score_r").as("score_r"))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("query_id")).orderBy(
              col("score_r").desc, col("doc_id"), col("chunk_no"))))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("rank"), col("doc_id"),
            col("chunk_no"), col("dl").cast("int").as("n_tok"), col("score_r"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some({
        val qs = mmrQueries
        val allTerms = qs.flatMap(_._2).distinct
        val scUnions = qs.map { case (qid, ts) =>
          s"""SELECT '$qid' AS query_id, doc_id, chunk_no, dl,
            round(${ts.map(t => bm25Term(s"tf_$t", s"df_$t")).mkString(" + ")}, 6) AS score_r
          FROM t, stx"""
        }.mkString("\n          UNION ALL\n          ")
        s"""WITH ck AS (
          SELECT doc_id, st AS start,
            CAST(st // ${knobs.chunkStride} AS INT) AS chunk_no,
            arr[st + 1 : st + least(${knobs.chunkTokens}, n - st)] AS carr,
            CAST(least(${knobs.chunkTokens}, n - st) AS DOUBLE) AS dl
          FROM (SELECT doc_id, arr, len(arr) AS n, unnest(range(0, len(arr), ${knobs.chunkStride})) AS st
                FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents
                      WHERE text IS NOT NULL)
                WHERE len(arr) > 0)),
        t AS (SELECT doc_id, chunk_no, dl,
            ${allTerms.map(t =>
              s"CAST(len(list_filter(carr, x -> x = '$t')) AS DOUBLE) AS tf_$t")
              .mkString(", ")}
          FROM ck),
        stx AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, SUM(dl) / COUNT(*) AS avgdl,
            ${allTerms.map(t =>
              s"SUM(CASE WHEN tf_$t > 0 THEN 1.0 ELSE 0.0 END) AS df_$t")
              .mkString(", ")}
          FROM t),
        sc AS (
          $scUnions),
        rk AS (
          SELECT query_id, doc_id, chunk_no, dl, score_r,
            CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY score_r DESC, doc_id, chunk_no) AS INTEGER) AS rank
          FROM sc)
        SELECT query_id, rank, doc_id, chunk_no,
          CAST(dl AS INTEGER) AS n_tok, score_r
        FROM rk WHERE rank <= 10
        ORDER BY query_id, rank"""
      })),

    // ---- dedup YIELD report (p59): what near-dup dedup would buy —
    // cluster-size histogram with total vs duplicate bytes (bytes of
    // every non-representative member) per size class. The ROI number a
    // pipeline owner reads before paying for the dedup pass; additive
    // over p20's component labels: one n_chars join + two grouped
    // aggregations, all integer arithmetic. ----------------------------
    QDef("p59_dedup_yield",
      (s, dir) => {
        val byCluster = dedupComponents(s, dir)
          .join(docs(s, dir).select(col("doc_id"), col("n_chars")), Seq("doc_id"))
          .groupBy(col("comp"))
          .agg(count(lit(1)).as("csize"),
            sum(col("n_chars")).as("bytes_total"),
            sum(when(col("doc_id") === col("comp"), 0L)
              .otherwise(col("n_chars"))).as("bytes_dupe"))
        byCluster.groupBy(col("csize"))
          .agg(count(lit(1)).as("n_clusters"),
            sum(col("csize")).as("n_docs"),
            sum(col("bytes_total")).as("bytes_total"),
            sum(col("bytes_dupe")).as("bytes_dupe"))
          .withColumnRenamed("csize", "cluster_size")
          .orderBy(col("cluster_size"))
      },
      Some(s"""WITH RECURSIVE $duckComponentCtes,
        cmp AS (SELECT id AS doc_id, MIN(comp) AS comp FROM reach GROUP BY id),
        cl AS (SELECT c.comp, CAST(count(*) AS BIGINT) AS csize,
            CAST(sum(d.n_chars) AS BIGINT) AS bytes_total,
            CAST(sum(CASE WHEN c.doc_id = c.comp THEN 0 ELSE d.n_chars END) AS BIGINT) AS bytes_dupe
          FROM cmp c JOIN documents d ON d.doc_id = c.doc_id GROUP BY c.comp)
        SELECT csize AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
          CAST(sum(csize) AS BIGINT) AS n_docs,
          CAST(sum(bytes_total) AS BIGINT) AS bytes_total,
          CAST(sum(bytes_dupe) AS BIGINT) AS bytes_dupe
        FROM cl GROUP BY csize ORDER BY cluster_size""")),

    // ---- cohort retention (p76): the classic warehouse retention
    // matrix over the event stream — users cohorted by the ISO week of
    // their first event, each later active week attributed to its
    // week-offset from the cohort, retention = active/cohort-size.
    // Scale shape: one user_id shuffle for the first-touch aggregate,
    // one (cohort_week, offset) shuffle for the activity counts; the
    // countDistinct is per (cohort, offset) — bounded keys, partial
    // aggregation upstream. Week arithmetic stays exact: both engines
    // truncate to the ISO Monday, and the day-difference of two Mondays
    // is an exact multiple of 7, so the float division is integer-valued
    // on both sides. --------------------------------------------------
    QDef("p76_retention_cohorts",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("user_id"), col("ts").cast("date").as("d"))
        val first = ev.groupBy(col("user_id"))
          .agg(min(col("d")).as("first_d"))
          .withColumn("cohort_week", date_trunc("week", col("first_d")).cast("date"))
        val sizes = first.groupBy(col("cohort_week"))
          .agg(count(lit(1)).as("cohort_size"))
        ev.join(first.select(col("user_id"), col("cohort_week")), Seq("user_id"))
          .withColumn("week_offset",
            (datediff(date_trunc("week", col("d")).cast("date"), col("cohort_week")) / 7)
              .cast("int"))
          .groupBy(col("cohort_week"), col("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_active"))
          .join(sizes, Seq("cohort_week"))
          .withColumn("retention",
            round(col("n_active").cast("double") / col("cohort_size"), 6))
          .select(col("cohort_week"), col("week_offset"), col("n_active"),
            col("cohort_size"), col("retention"))
          .orderBy(col("cohort_week"), col("week_offset"))
      },
      Some("""WITH ev AS (
          SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        fu AS (
          SELECT user_id, CAST(date_trunc('week', MIN(d)) AS DATE) AS cohort_week
          FROM ev GROUP BY user_id),
        sz AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
          FROM fu GROUP BY 1),
        act AS (
          SELECT f.cohort_week,
            CAST(date_diff('day', f.cohort_week,
              CAST(date_trunc('week', e.d) AS DATE)) / 7 AS INTEGER) AS week_offset,
            CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
          FROM ev e JOIN fu f ON f.user_id = e.user_id
          GROUP BY 1, 2)
        SELECT act.cohort_week, act.week_offset, act.n_active, sz.cohort_size,
          round(CAST(act.n_active AS DOUBLE) / sz.cohort_size, 6) AS retention
        FROM act JOIN sz ON sz.cohort_week = act.cohort_week
        ORDER BY act.cohort_week, act.week_offset""")),

    // ---- rolling z-score anomaly detection (p77): hourly event-type
    // counts scored against the trailing 24 observed hours (ROWS window,
    // so gaps don't silently shrink the baseline mass; >= 12 history rows
    // required before scoring). All window state is three BIGINT sums —
    // exact in any accumulation order — and the mean/stddev/z float math
    // is ONE textually-mirrored expression over those integers, rounded
    // to 6 dp before the threshold compare, so both engines flag the
    // identical hours. Scale shape: one (event_type) shuffle, windows
    // partition-local; the sample stddev uses the sum-of-squares form so
    // no second pass over the window is needed. ------------------------
    QDef("p77_hourly_anomaly",
      (s, dir) => {
        val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
          .rowsBetween(-24, -1)
        val zExpr = "round((CAST(n AS DOUBLE) - CAST(w_sum AS DOUBLE) / w_cnt) / " +
          "sqrt((CAST(w_sum2 AS DOUBLE) - CAST(w_sum AS DOUBLE) * w_sum / w_cnt) " +
          "/ (w_cnt - 1)), 6)"
        t(s, dir, "events")
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("n"))
          .withColumn("w_cnt", count(col("n")).over(w))
          .withColumn("w_sum", sum(col("n")).over(w))
          .withColumn("w_sum2", sum(col("n") * col("n")).over(w))
          .filter(col("w_cnt") >= 12)
          .withColumn("mean_r",
            round(col("w_sum").cast("double") / col("w_cnt"), 6))
          .withColumn("z_r", expr(
            s"CASE WHEN w_cnt * w_sum2 > w_sum * w_sum THEN $zExpr END"))
          .withColumn("is_anomaly",
            coalesce(abs(col("z_r")) >= 3.0, lit(false)))
          .select(col("event_type"), col("hour"), col("n"), col("w_cnt"),
            col("mean_r"), col("z_r"), col("is_anomaly"))
          .orderBy(col("event_type"), col("hour"))
      },
      Some("""WITH h AS (
          SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2),
        wr AS (
          SELECT event_type, hour, n,
            CAST(COUNT(n) OVER wnd AS BIGINT) AS w_cnt,
            CAST(SUM(n) OVER wnd AS BIGINT) AS w_sum,
            CAST(SUM(n * n) OVER wnd AS BIGINT) AS w_sum2
          FROM h
          WINDOW wnd AS (PARTITION BY event_type ORDER BY hour
            ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        zc AS (
          SELECT event_type, hour, n, w_cnt,
            round(CAST(w_sum AS DOUBLE) / w_cnt, 6) AS mean_r,
            CASE WHEN w_cnt * w_sum2 > w_sum * w_sum THEN
              round((CAST(n AS DOUBLE) - CAST(w_sum AS DOUBLE) / w_cnt) /
                sqrt((CAST(w_sum2 AS DOUBLE) - CAST(w_sum AS DOUBLE) * w_sum / w_cnt)
                / (w_cnt - 1)), 6)
            END AS z_r
          FROM wr WHERE w_cnt >= 12)
        SELECT event_type, hour, n, w_cnt, mean_r, z_r,
          COALESCE(abs(z_r) >= 3.0, FALSE) AS is_anomaly
        FROM zc ORDER BY event_type, hour""")),

    // ---- interpolated Kneser-Ney bigram perplexity (p78): the KenLM
    // smoothing (Kneser & Ney 1995; Heafield 2011) next to p53's
    // add-one CCNet model — the discounted bigram estimate interpolated
    // with a CONTINUATION unigram distribution (how many distinct
    // contexts precede w, not how often w occurs), absolute discount
    // d = 3/4. With d rational, every per-token probability is a ratio
    // of integers: p(w2|w1) = (max(4·c2−3,0)·D + 3·n1v·(n1w+1)) /
    // (4·D·c1) with D = B+V (continuation distribution add-one-smoothed
    // over D so unseen words keep nonzero mass), and an unseen context
    // backs off to the continuation distribution alone. So each nls is
    // a difference of two sln() integer logs — exact BIGINT sums in any
    // order, engine-identical. Scale shape: identical to p53 — model
    // tables are vocabulary/bigram-type-bounded broadcasts (same pruned
    // fallback documented there), the only corpus-scaled work is the
    // per-doc aggregation. --------------------------------------------
    QDef("p78_kn_perplexity",
      (s, dir) => {
        val ref = docBigrams(s, dir).filter(col("lang") === "en")
        val m2 = ref.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
        val ctx = m2.groupBy(col("w1"))
          .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1v"))
        val cont = m2.groupBy(col("w2")).agg(count(lit(1)).as("n1w"))
        val dd = m2.agg(count(lit(1)).as("bt"))
          .crossJoin(docs(s, dir).filter(col("lang") === "en")
            .select(explode(split(col("text"), " ")).as("w"))
            .agg(countDistinct(col("w")).as("v")))
          .select((col("bt") + col("v")).as("dd"))
        docBigrams(s, dir)
          .join(broadcast(m2), Seq("w1", "w2"), "left")
          .join(broadcast(ctx), Seq("w1"), "left")
          .join(broadcast(cont), Seq("w2"), "left")
          .crossJoin(broadcast(dd))
          .withColumn("nls", expr(knNlsExpr))
          .withColumn("coov", when(col("c1").isNull, 1L).otherwise(0L))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"), sum(col("coov")).as("n_ctx_oov"),
            sum(col("nls")).as("nll_sum"))
          .withColumn("ctx_oov_ratio",
            round(col("n_ctx_oov").cast("double") / col("n_bigrams"), 6))
          .withColumn("kn_nll",
            round(col("nll_sum").cast("double") / 100000000.0 / col("n_bigrams"), 6))
          .select(col("doc_id"), col("n_bigrams"), col("n_ctx_oov"),
            col("ctx_oov_ratio"), col("kn_nll"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $duckBigrams,
        $duckKnModelCtes,
        sc AS (
          SELECT g.doc_id, $knNlsExpr AS nls,
            CASE WHEN c1 IS NULL THEN 1 ELSE 0 END AS coov
          FROM bg g CROSS JOIN knd
          LEFT JOIN kn2 ON g.w1 = kn2.w1 AND g.w2 = kn2.w2
          LEFT JOIN knc ON g.w1 = knc.w1
          LEFT JOIN knw ON g.w2 = knw.w2),
        ds AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
            CAST(sum(coov) AS BIGINT) AS n_ctx_oov, sum(nls) AS nll_sum
          FROM sc GROUP BY 1)
        SELECT doc_id, n_bigrams, n_ctx_oov,
          round(CAST(n_ctx_oov AS DOUBLE) / n_bigrams, 6) AS ctx_oov_ratio,
          round(CAST(nll_sum AS DOUBLE) / 100000000.0 / n_bigrams, 6) AS kn_nll
        FROM ds ORDER BY doc_id""")),

    // ---- the fitted KN context model surfaced (p78b): per context w1,
    // its total count c1, distinct-successor count n1v, and the
    // interpolation mass the discount releases to the continuation
    // distribution (3·n1v / 4·c1 — KN's lambda). Pins the model half of
    // p78 on its own: a wrong continuation count breaks this hash even
    // where doc-level nll sums happen to cancel. ------------------------
    QDef("p78b_kn_model",
      (s, dir) => {
        val ref = docBigrams(s, dir).filter(col("lang") === "en")
        val m2 = ref.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
        m2.groupBy(col("w1"))
          .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1v"))
          .withColumn("backoff_mass",
            round((lit(3L) * col("n1v")).cast("double") / (lit(4L) * col("c1")), 6))
          .select(col("w1"), col("c1"), col("n1v"), col("backoff_mass"))
          .orderBy(col("c1").desc, col("w1"))
      },
      Some(s"""WITH $duckBigrams,
        kn2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
          FROM bg WHERE lang = 'en' GROUP BY 1, 2),
        knc AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
            CAST(count(*) AS BIGINT) AS n1v
          FROM kn2 GROUP BY 1)
        SELECT w1, c1, n1v,
          round(CAST(3 * n1v AS DOUBLE) / (4 * c1), 6) AS backoff_mass
        FROM knc ORDER BY c1 DESC, w1""")),

    // ---- quality-aware dedup survivor selection (p79): p20 keeps the
    // min-id member of each near-dup component; the published refinement
    // keeps the HIGHEST-QUALITY member (the dedup pass should not
    // discard the clean copy because a boilerplate-ridden one has a
    // smaller id). Composes two already-pinned fronts — the staged
    // near-dup components and p09's quality score — with one window
    // rank; ties break on doc_id so the choice is total. Per-doc output
    // keeps the audit trail (who was dropped in favor of whom). --------
    QDef("p79_cluster_best",
      (s, dir) => {
        val comp = dedupComponents(s, dir)
        val ql = docs(s, dir)
          .withColumn("n_tokens", size(split(col("text"), " ")))
          .withColumn("avg_token_len",
            length(regexp_replace(col("text"), " ", "")).cast("double") / col("n_tokens"))
          .withColumn("punct_ratio",
            (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")))
              .cast("double") / length(col("text")))
          .withColumn("quality",
            (when(col("n_tokens").between(5, 1000), 0.4).otherwise(0.0) +
              when(col("avg_token_len").between(3.0, 10.0), 0.3).otherwise(0.0) +
              when(col("punct_ratio") < 0.1, 0.3).otherwise(0.0)).cast("double"))
          .select(col("doc_id"), col("quality"))
        val w = Window.partitionBy(col("comp"))
          .orderBy(col("quality").desc, col("doc_id"))
        comp.join(ql, Seq("doc_id"))
          .withColumn("csize", count(lit(1)).over(Window.partitionBy(col("comp"))))
          .withColumn("rk", row_number().over(w))
          .select(col("doc_id"), col("comp"), col("csize"), col("quality"),
            (col("rk") === 1).as("is_kept"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $duckComponentCtes,
        cmp AS (SELECT id AS doc_id, CAST(MIN(comp) AS BIGINT) AS comp
          FROM reach GROUP BY id),
        ql AS (SELECT doc_id,
          CAST((CASE WHEN len(string_split(text, ' ')) BETWEEN 5 AND 1000 THEN 0.4 ELSE 0.0 END
            + CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END
            + CASE WHEN CAST(length(text) - length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) < 0.1 THEN 0.3 ELSE 0.0 END) AS DOUBLE) AS quality
          FROM documents)
        SELECT c.doc_id, c.comp,
          CAST(COUNT(*) OVER (PARTITION BY c.comp) AS BIGINT) AS csize,
          q.quality,
          (ROW_NUMBER() OVER (PARTITION BY c.comp
            ORDER BY q.quality DESC, c.doc_id) = 1) AS is_kept
        FROM cmp c JOIN ql q ON q.doc_id = c.doc_id
        ORDER BY c.doc_id""")),

    // ---- LexRank centrality (p80): graph centrality over the near-dup
    // similarity graph (Erkan & Radev 2004 — representative-document
    // selection by eigenvector centrality instead of p79's pointwise
    // quality argmax). PageRank with damping 0.85 over the p02 edge set
    // (Jaccard >= 0.5, symmetric), run as a FIXED-POINT INTEGER
    // trajectory: ranks are scaled by 1e6, each neighbor contribution is
    // integer division r div deg, each round is 150000 + (85·mass) div
    // 100 — every value a BIGINT, every sum order-independent, so both
    // engines walk bit-identical trajectories (the same trick as the p55
    // GD fit and p78's integer-ratio KN model; float PageRank would be
    // accumulation-order-dependent). Scale shape: the edge list is the
    // staged pre-threshold pair front (p00b) thresholded — bounded by
    // the corpus near-dup rate, NOT n² — and each of the 5 rounds is one
    // join + one shuffle keyed on dst (16-byte rows); at production scale
    // each round's rank table would be checkpointed, at validation scale
    // the 5-deep plan is cheap. Singletons stay at the damping floor by
    // construction. ----------------------------------------------------
    QDef("p80_lexrank",
      (s, dir) => {
        val pairs = jaccardPairs(s, dir).select(col("a_id"), col("b_id"))
        val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
          .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
        val dg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        val nodes = docs(s, dir).select(col("doc_id"))
        val contribSrc = edges.join(dg, "src")
        var rank = nodes.withColumn("r", lit(1000000L))
        // Production-depth checkpointing: every `-Dgraft.lexCheckpoint`
        // rounds, materialize the rank frame (eager Materialize — the
        // CC-loop machinery) and release the previous materialized
        // copy. Checkpointing changes PLAN SHAPE only, never values, so
        // the oracle contract is dial-independent; at the default
        // (unset/0 = off) the plan is the unchanged 5-deep join tree.
        // At depth >5 an uncheckpointed chain re-plans a join tree that
        // deepens per round — the lineage-growth failure mode the CC
        // loop documents. Tracking is per-handle (the RDD read from the
        // checkpointed plan itself), so a concurrent query's checkpoint
        // can never be captured and released from here.
        val ckEvery = knobs.lexCheckpoint
        var prevCk: Option[Materialize.Handle] = None
        for (i <- 1 to lexIters) {
          val mass = contribSrc
            .join(rank.select(col("doc_id").as("src"), col("r")), "src")
            .select(col("dst").as("doc_id"), expr("r div deg").as("c"))
            .groupBy(col("doc_id")).agg(sum(col("c")).as("mass"))
          rank = nodes.join(mass, Seq("doc_id"), "left")
            .select(col("doc_id"), expr(
              "CAST(150000 + ((85 * coalesce(mass, 0)) div 100) AS BIGINT)").as("r"))
          if (ckEvery.exists(c => i % c == 0 && i < lexIters)) {
            val h = Materialize.tracked(rank, "lex")
            rank = h.df
            prevCk.foreach(_.release())
            prevCk = Some(h)
          }
        }
        rank.join(dg.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("deg"), lit(0L)).as("degree"),
            col("r").as("rank_scaled"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $duckGuardedPairCtes,
        lpairs AS (
          SELECT a_id, b_id
          FROM pr JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
          WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5),
        ledges AS (SELECT a_id AS src, b_id AS dst FROM lpairs
                   UNION ALL SELECT b_id, a_id FROM lpairs),
        ldeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM ledges GROUP BY 1),
        lr0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM documents),
${(1 to lexIters).map(duckLexIter).mkString(",\n")}
        SELECT n.doc_id, CAST(COALESCE(d.deg, 0) AS BIGINT) AS degree,
          f.r AS rank_scaled
        FROM documents n
        LEFT JOIN ldeg d ON d.src = n.doc_id
        JOIN lr$lexIters f ON f.doc_id = n.doc_id
        ORDER BY n.doc_id""")),

    // ---- winnowing fingerprints (p81): the MOSS local fingerprinting
    // scheme (Schleimer, Wilkerson & Aiken, SIGMOD 2003) as the third
    // point on the dedup cost/recall curve next to full-shingle Jaccard
    // (p02) and MinHash-LSH (p03). Each doc's positional 3-gram hash
    // sequence is windowed (w=4); the fingerprint set is the distinct
    // window minima — the paper's guarantee: any shared run of >= w+k-1
    // tokens produces a shared fingerprint (no false negatives for long
    // matches), at expected density 2/(w+1), so the posting join runs on
    // ~2.5x fewer rows than p02's full index. Same engine-portable md560
    // hash, same hot-fingerprint DF guard, same grouped posting-list
    // pair expansion; score is containment against the SMALLER
    // fingerprint set (a near-dup of a fragment still scores high).
    // Scale shape: one shuffle on the 8-byte fingerprint hash over a
    // winnowed (sub-sampled by construction) index; windows are
    // partition-local per doc. -----------------------------------------
    QDef("p81_winnow_dedup",
      (s, dir) => {
        val tk = docs(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("arr"))
          .filter(size(col("arr")) >= 3)
        val grams = tk.select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, size(arr) - 3), i -> concat_ws(' ', arr[i], arr[i+1], arr[i+2]))"))
          .as(Seq("pos", "g")))
        val hashed = grams.select(col("doc_id"), col("pos"), md560(col("g")).as("h"))
        val wdoc = Window.partitionBy(col("doc_id"))
        val wwin = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(0, winnowW - 1)
        val fps = hashed
          .withColumn("n", count(lit(1)).over(wdoc))
          .withColumn("wmin", min(col("h")).over(wwin))
          .filter(col("pos") <= col("n") - winnowW)
          .select(col("doc_id"), col("wmin").as("h")).distinct()
        val nDocs = docsCount(s, dir)
        val dfp = fps.groupBy(col("h")).agg(count(lit(1)).as("df"))
        // the kept-fingerprint front feeds FOUR consumers (the pair
        // expansion plus both size joins); eager Materialize (the
        // p20/k-means trick) materializes the tokenize->window->guard
        // chain once instead of re-running it per consumer
        val kept = Materialize(fps.join(
          dfp.filter(col("df").cast("double") <= lit(math.max(5.0, nDocs * 0.01))), "h")
          .select(col("doc_id"), col("h")), "p81")
        val fsz = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("fsz"))
        val pairs = kept.groupBy(col("h"))
          .agg(collect_list(col("doc_id")).as("ids"))
          .select(explode(expr(
            """filter(
                 flatten(transform(ids, a -> transform(ids, b -> struct(a, b)))),
                 p -> p.a < p.b)""")).as("p"))
          .groupBy(col("p.a").as("a_id"), col("p.b").as("b_id"))
          .agg(count(lit(1)).as("shared"))
        pairs
          .join(fsz.select(col("doc_id").as("a_id"), col("fsz").as("fa")), "a_id")
          .join(fsz.select(col("doc_id").as("b_id"), col("fsz").as("fb")), "b_id")
          .withColumn("score_r",
            round(col("shared").cast("double") / least(col("fa"), col("fb")), 6))
          .filter(col("shared").cast("double") / least(col("fa"), col("fb")) >= 0.5)
          .select(col("a_id"), col("b_id"), col("shared"), col("fa"), col("fb"),
            col("score_r"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some(s"""WITH wt AS (
          SELECT doc_id, string_split(text, ' ') AS arr FROM documents
          WHERE len(string_split(text, ' ')) >= 3),
        wg AS (SELECT doc_id, arr, unnest(range(1, len(arr) - 1)) AS i FROM wt),
        wh AS (SELECT doc_id, i - 1 AS pos,
            ${duckMd560("arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]")} AS h
          FROM wg),
        ww AS (SELECT doc_id, pos, h,
            COUNT(*) OVER (PARTITION BY doc_id) AS n,
            MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN CURRENT ROW AND ${winnowW - 1} FOLLOWING) AS wmin
          FROM wh),
        wfp AS (SELECT DISTINCT doc_id, wmin AS h FROM ww WHERE pos <= n - $winnowW),
        wnd AS (SELECT COUNT(*) AS n_docs FROM documents),
        whot AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM wfp GROUP BY h) d, wnd
                 WHERE CAST(d.df AS DOUBLE) > greatest(5.0, CAST(wnd.n_docs AS DOUBLE) * 0.01)),
        wk AS (SELECT doc_id, h FROM wfp WHERE h NOT IN (SELECT h FROM whot)),
        wsz AS (SELECT doc_id, COUNT(*) AS fsz FROM wk GROUP BY 1),
        wpr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(COUNT(*) AS BIGINT) AS shared
                FROM wk a JOIN wk b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)
        SELECT a_id, b_id, shared,
          CAST(sa.fsz AS BIGINT) AS fa, CAST(sb.fsz AS BIGINT) AS fb,
          round(CAST(shared AS DOUBLE) / least(sa.fsz, sb.fsz), 6) AS score_r
        FROM wpr JOIN wsz sa ON sa.doc_id = a_id JOIN wsz sb ON sb.doc_id = b_id
        WHERE CAST(shared AS DOUBLE) / least(sa.fsz, sb.fsz) >= 0.5
        ORDER BY a_id, b_id""")),

    // ---- readability scoring (p82): Flesch reading ease (Flesch 1948;
    // the Kincaid et al. 1975 recalibration uses the same inputs) with a
    // fully deterministic syllable proxy — vowel-group count ([aeiouy]+
    // runs never span the whitespace tokenizer, so the corpus-level count
    // equals the per-word sum without a per-word loop. All three inputs
    // are exact BIGINTs from regexp counts; the score is ONE textually
    // mirrored float expression rounded to 6 dp, and the band thresholds
    // compare the ROUNDED value, so both engines bucket identically.
    // Scale shape: pure per-row scalar work, no shuffle at all before
    // the output sort. A quality-family sibling to p09/p52: readability
    // is the classic curriculum / difficulty-stratification signal. ----
    QDef("p82_readability",
      (s, dir) =>
        readabilityPerDoc(s, dir)
          .select(col("doc_id"), col("words"), col("sentences"),
            col("syllables"), col("fre_r"), col("band"))
          .orderBy(col("doc_id")),
      Some(s"""WITH $duckReadabilityCtes
        SELECT doc_id, words, sentences, syllables, fre_r, band
        FROM rb ORDER BY doc_id""")),

    // ---- per-source readability profile (p82b): the corpus curriculum
    // card — band histogram and mean score per source. The mean is exact
    // cross-engine because each doc's score is pre-scaled to an integer
    // (round(fre·1e6) as BIGINT) before the SUM: BIGINT sums are
    // order-independent, and the final mean is one mirrored float
    // division over (sum, count). ---------------------------------------
    QDef("p82b_readability_profile",
      (s, dir) =>
        readabilityPerDoc(s, dir)
          .groupBy(col("source"), col("band"))
          .agg(count(lit(1)).as("n_docs"), sum(col("fre_s")).as("ssum"))
          .withColumn("mean_fre_r",
            expr("round(CAST(ssum AS DOUBLE) / n_docs / 1000000.0, 6)"))
          .select(col("source"), col("band"), col("n_docs"), col("mean_fre_r"))
          .orderBy(col("source"), col("band")),
      Some(s"""WITH $duckReadabilityCtes
        SELECT source, band, CAST(COUNT(*) AS BIGINT) AS n_docs,
          round(CAST(SUM(fre_s) AS DOUBLE) / COUNT(*) / 1000000.0, 6) AS mean_fre_r
        FROM rb GROUP BY 1, 2 ORDER BY source, band""")),

    // ---- retrieval evaluation (p83): graded ranking metrics — nDCG@5
    // and MRR@5 — for the IVF ANN (p16) against the staged exact truth
    // (p00g), per query. p35 measures set-overlap recall only; position-
    // aware metrics are what published ANN/retrieval evals actually
    // report. The DCG position weights round(1e6/log2(r+1)) are computed
    // ONCE at plan-build time and spliced into BOTH engines as the same
    // literal CASE table, so no runtime log() (libm-dependent) enters
    // the cross-engine contract; per-query DCG is an exact BIGINT sum
    // and nDCG/MRR are integer divisions of scaled values. Scale shape:
    // the eval is one broadcast-size join per query set — additive over
    // the staged truth like every p35 row. ------------------------------
    QDef("p83_retrieval_ndcg",
      (s, dir) => retrievalEvalPerQuery(s, dir).orderBy(col("qid")),
      Some(s"""WITH $duckRetrievalEvalCtes
        SELECT qid, n_hits, first_hit, dcg_s, ndcg_s, mrr_s
        FROM perq ORDER BY qid""")),

    // ---- retrieval eval summary (p83b): the one-row corpus scorecard
    // over p83's per-query frame — mean nDCG@5 / mean MRR@5 / recall@5
    // (the recall column cross-checks p35's IVF row from an independent
    // aggregation path). Exact: all sums are BIGINT over pre-scaled
    // integers; the three means are mirrored float divisions. -----------
    QDef("p83b_retrieval_eval",
      (s, dir) =>
        retrievalEvalPerQuery(s, dir)
          .agg(count(lit(1)).as("n_queries"),
            sum(col("n_hits")).as("n_hits"),
            sum(col("ndcg_s")).as("sn"),
            sum(col("mrr_s")).as("sm"))
          .select(lit("ivf_top5").as("method"),
            col("n_queries"), col("n_hits"),
            expr("round(CAST(n_hits AS DOUBLE) / (5.0 * n_queries), 6)").as("recall_r"),
            expr("round(CAST(sn AS DOUBLE) / n_queries / 1000000.0, 6)").as("mean_ndcg_r"),
            expr("round(CAST(sm AS DOUBLE) / n_queries / 1000000.0, 6)").as("mean_mrr_r")),
      Some(s"""WITH $duckRetrievalEvalCtes
        SELECT 'ivf_top5' AS method,
          CAST(COUNT(*) AS BIGINT) AS n_queries,
          CAST(SUM(n_hits) AS BIGINT) AS n_hits,
          round(CAST(SUM(n_hits) AS DOUBLE) / (5.0 * COUNT(*)), 6) AS recall_r,
          round(CAST(SUM(ndcg_s) AS DOUBLE) / COUNT(*) / 1000000.0, 6) AS mean_ndcg_r,
          round(CAST(SUM(mrr_s) AS DOUBLE) / COUNT(*) / 1000000.0, 6) AS mean_mrr_r
        FROM perq""")),

    // ---- PCA top component (p84): the whitening/decorrelation step
    // embedding pipelines run before quantization or ANN, as an EXACT-
    // INTEGER power iteration so both engines produce bit-identical
    // components. The uncentered second-moment (Gram) matrix is ONE
    // corpus pass: per vector, the 64x64 outer product floor-scaled to
    // BIGINT (floor(xi*xj*1e8+0.5) — per-row identical doubles, exact
    // order-independent sums), partial-aggregated map-side so the only
    // shuffle carries <= d^2 rows per partition. The d^2=4096-cell
    // matrix is driver-bounded state (the PQ-SDC-table class); the
    // 8-round iteration runs on it in exact integers — matrix normalized
    // to 1e5 by its max-abs cell, the vector renormalized to 1e6 by
    // max-abs each round (sign-split truncating division, identical in
    // both engines) — and the oracle walks the SAME trajectory as
    // unrolled CTEs. Headroom is engineered, not hoped for: |mn|<=1e5,
    // |v|<=1e6 => |w|<=64e11, and w*1e6<=6.4e18 < 2^63. At 100 TB the
    // Gram pass is the only corpus-scaled work and the fit would be
    // staged like p00c. -------------------------------------------------
    QDef("p84_pca_power",
      (s, dir) => {
        val fit = pcaFit(s, dir)
        val rows = fit.v.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
        s.createDataFrame(rows).toDF("dim", "comp_s")
          .select(col("dim"), col("comp_s"),
            round(col("comp_s").cast("double") / 1000000.0, 6).as("comp_r"))
          .orderBy(col("dim"))
      },
      Some(s"""WITH $duckPcaCtes
        SELECT CAST(j AS INTEGER) AS dim, v AS comp_s,
          round(CAST(v AS DOUBLE) / 1000000.0, 6) AS comp_r
        FROM pv$pcaIters ORDER BY dim""")),

    // ---- PCA scorecard (p84b): the Rayleigh quotient of the fitted
    // component over the normalized matrix and its share of the trace
    // (explained-variance ratio of the top component). num/den/trace are
    // exact BIGINTs on both engines (the final mat-vec's entries are
    // sign-split pre-divided by 1e3 so v.w fits); the two readout
    // ratios are mirrored float divisions. ------------------------------
    QDef("p84b_pca_scorecard",
      (s, dir) => {
        val fit = pcaFit(s, dir)
        s.createDataFrame(Seq((pcaIters, fit.mx, fit.num, fit.den, fit.tr)))
          .toDF("iters", "gram_maxabs", "num_s", "den_s", "trace_s")
          .select(col("iters"), col("gram_maxabs"), col("num_s"),
            col("den_s"), col("trace_s"),
            round(col("num_s").cast("double") * 1000.0 / col("den_s").cast("double"), 6)
              .as("eigval_r"),
            round(col("num_s").cast("double") * 1000.0 /
              (col("den_s").cast("double") * col("trace_s").cast("double")), 6)
              .as("var_ratio_r"))
      },
      Some(s"""WITH $duckPcaCtes,
        pwf AS MATERIALIZED (
          SELECT mn.i, CAST(SUM(mn.mn * v.v) AS BIGINT) AS w
          FROM pmn mn JOIN pv$pcaIters v ON v.j = mn.j GROUP BY 1),
        sc AS (
          SELECT
            (SELECT SUM(v.v * (CASE WHEN w.w < 0 THEN -((-w.w) // 1000)
                               ELSE w.w // 1000 END))
             FROM pv$pcaIters v JOIN pwf w ON w.i = v.j) AS num_s,
            (SELECT SUM(v * v) FROM pv$pcaIters) AS den_s,
            (SELECT SUM(mn) FROM pmn WHERE i = j) AS trace_s,
            (SELECT x FROM pmx) AS gram_maxabs)
        SELECT CAST($pcaIters AS INTEGER) AS iters, gram_maxabs,
          CAST(num_s AS BIGINT) AS num_s, CAST(den_s AS BIGINT) AS den_s,
          CAST(trace_s AS BIGINT) AS trace_s,
          round(CAST(num_s AS DOUBLE) * 1000.0 / CAST(den_s AS DOUBLE), 6) AS eigval_r,
          round(CAST(num_s AS DOUBLE) * 1000.0 /
            (CAST(den_s AS DOUBLE) * CAST(trace_s AS DOUBLE)), 6) AS var_ratio_r
        FROM sc""")),

    // ---- PCA projections (p84c): every vector's scalar coordinate on
    // the fitted component — the 1-D whitened feature. Exact: per-dim
    // floor-scaled embedding (1e6) times the integer component (1e6),
    // BIGINT-summed in any order; the readout is one mirrored division
    // by 1e12. Spark splices the driver-fitted component in as a literal
    // array (pure per-row map work, zero shuffle); the oracle re-fits
    // the identical trajectory and joins pv8. ---------------------------
    QDef("p84c_pca_project",
      (s, dir) => {
        val fit = pcaFit(s, dir)
        emb(s, dir).select(col("vec_id"), expr(
          s"""aggregate(zip_with(embedding, array(${fit.v.mkString(", ")}),
                (x, c) -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) * c),
              CAST(0 AS BIGINT), (a, y) -> a + y)""").as("proj_s"))
          .withColumn("proj_r",
            round(col("proj_s").cast("double") / 1000000000000.0, 6))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH $duckPcaCtes
        SELECT e.vec_id,
          CAST(SUM(CAST(floor(CAST(e.embedding[r.i + 1] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
            * v.v) AS BIGINT) AS proj_s,
          round(CAST(SUM(CAST(floor(CAST(e.embedding[r.i + 1] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
            * v.v) AS DOUBLE) / 1000000000000.0, 6) AS proj_r
        FROM embeddings e, range(0, $pcaD) r(i)
        JOIN pv$pcaIters v ON v.j = r.i
        GROUP BY e.vec_id ORDER BY e.vec_id""")),

    // ---- pairwise source divergence (p85): the corpus-audit drift
    // matrix — Jensen-Shannon divergence between every pair of sources'
    // hashed-unigram distributions (the p54 DSIR representation: md560
    // mod dsirBuckets, so the state is dial-bounded at any corpus size).
    // The JS integrand is made EXACT by clearing denominators:
    // KL(Pa||M) = (1/Ta)·Σ_b na·[ln(2·na·Tb) − ln(na·Tb + nb·Ta)] — every
    // ln argument an exact integer, so the sln() floor-scaling makes each
    // per-bucket term an exact BIGINT and the sums order-independent
    // (same trick as the p53 LM). Absent buckets contribute zero to the
    // owning arm by 0·ln(0)=0. js_r normalizes by ln(2) — spelled ln(2.0)
    // in BOTH engines so the constant is the identical double — putting
    // the score in [0,1]. Scale shape: one corpus-scaled aggregation to
    // (source, bucket) counts (≤ sources×8192 rows), then a bucket-keyed
    // pair join bounded by dials, not the corpus. -----------------------
    QDef("p85_source_divergence",
      // the matrix is <= sources²/2 rows: localized — evaluated eagerly
      // so the materialized fronts release inside the entry instead of
      // pinning storage for the session (the pinned blocks were the
      // exact site of the r13 test flake). p85b inherits the local
      // relation — its windows re-rank 28 rows, no recompute.
      (s, dir) => {
        val (out, release) = sourceDivergencePlan(s, dir)
        localized(out, release)
      },
      Some(s"""WITH $duckJsCtes
        SELECT f.sa AS src_a, f.sb AS src_b,
          ta.t AS tok_a, tb.t AS tok_b,
          round((CAST(f.s AS DOUBLE) / ta.t + CAST(r.s AS DOUBLE) / tb.t) /
            (2.0 * ln(2.0) * 100000000.0), 6) AS js_r
        FROM jsums f
        JOIN jsums r ON r.sa = f.sb AND r.sb = f.sa
        JOIN jtot ta ON ta.source = f.sa
        JOIN jtot tb ON tb.source = f.sb
        WHERE f.sa < f.sb
        ORDER BY src_a, src_b""")),

    // ---- nearest source (p85b): each source's closest other source by
    // JS divergence — the one-glance readout of the drift matrix (which
    // sources are interchangeable, which are outliers). Ties break on
    // source name; comparisons use the SAME rounded js_r both engines
    // already agree on. --------------------------------------------------
    QDef("p85b_source_neighbors",
      (s, dir) => {
        val js = entry("p85_source_divergence").fn(s, dir)
        val both = js.select(col("src_a").as("src"), col("src_b").as("other"),
            col("js_r"))
          .unionByName(js.select(col("src_b").as("src"),
            col("src_a").as("other"), col("js_r")))
        val w = Window.partitionBy(col("src"))
          .orderBy(col("js_r"), col("other"))
        both.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("src"), col("other").as("nearest"), col("js_r"))
          .orderBy(col("src"))
      },
      Some(s"""WITH $duckJsCtes,
        jm AS (
          SELECT f.sa AS src_a, f.sb AS src_b,
            round((CAST(f.s AS DOUBLE) / ta.t + CAST(r.s AS DOUBLE) / tb.t) /
              (2.0 * ln(2.0) * 100000000.0), 6) AS js_r
          FROM jsums f
          JOIN jsums r ON r.sa = f.sb AND r.sb = f.sa
          JOIN jtot ta ON ta.source = f.sa
          JOIN jtot tb ON tb.source = f.sb
          WHERE f.sa < f.sb),
        jboth AS (
          SELECT src_a AS src, src_b AS other, js_r FROM jm
          UNION ALL SELECT src_b, src_a, js_r FROM jm),
        jrk AS (
          SELECT src, other, js_r,
            ROW_NUMBER() OVER (PARTITION BY src ORDER BY js_r, other) AS rk
          FROM jboth)
        SELECT src, other AS nearest, js_r FROM jrk WHERE rk = 1
        ORDER BY src""")),

    // ---- per-source lexical statistics (p86): the diversity card next
    // to p85's drift matrix — token/type counts, type-token ratio,
    // Shannon entropy and the Simpson repeat-probability, each EXACT.
    // Entropy clears its denominator the p53/p85 way:
    // H = ln T − (1/T)·Σ n·ln n, so Hs = T·sln(T) − Σ n·sln(n) is an
    // exact BIGINT (sums order-independent) and the readout is one
    // mirrored division by T·1e8·ln(2) into bits. Simpson is pure
    // integer algebra: Σ n·(n−1) / (T·(T−1)). State is the per-source
    // WORD table — vocabulary-bounded like p48's distinct-word front,
    // not corpus-bounded. -----------------------------------------------
    QDef("p86_lexical_stats",
      (s, dir) => {
        val agg = sourceWordCounts(s, dir).groupBy(col("source")).agg(
          sum(col("n")).as("tokens"),
          count(lit(1)).as("types"),
          sum(expr(s"n * ${sln("n")}")).as("hsum"),
          sum(expr("n * (n - 1)")).as("simp"))
        agg.select(col("source"), col("tokens"), col("types"),
          round(col("types").cast("double") / col("tokens"), 6).as("ttr_r"),
          round((expr(sln("tokens")) * col("tokens") - col("hsum")).cast("double") /
            (col("tokens").cast("double") * lit(100000000.0) * expr("ln(2.0)")), 6)
            .as("entropy_bits_r"),
          round(col("simp").cast("double") /
            (col("tokens").cast("double") * greatest(col("tokens") - 1, lit(1L))), 6)
            .as("simpson_r"))
          .orderBy(col("source"))
      },
      Some(s"""WITH $duckSourceWordCtes,
        lagg AS (
          SELECT source, CAST(SUM(n) AS BIGINT) AS tokens,
            CAST(COUNT(*) AS BIGINT) AS types,
            CAST(SUM(n * ${sln("n")}) AS BIGINT) AS hsum,
            CAST(SUM(n * (n - 1)) AS BIGINT) AS simp
          FROM swc GROUP BY 1)
        SELECT source, tokens, types,
          round(CAST(types AS DOUBLE) / tokens, 6) AS ttr_r,
          round(CAST(${sln("tokens")} * tokens - hsum AS DOUBLE) /
            (CAST(tokens AS DOUBLE) * 100000000.0 * ln(2.0)), 6) AS entropy_bits_r,
          round(CAST(simp AS DOUBLE) /
            (CAST(tokens AS DOUBLE) * greatest(tokens - 1, 1)), 6) AS simpson_r
        FROM lagg ORDER BY source""")),

    // ---- Zipf-law fit (p86b): the published rank-frequency power law
    // (Zipf 1949; Piantadosi 2014 review) checked per source — OLS of
    // ln(freq) on ln(rank) over each source's top-256 words. The fit is
    // exact-integer until the last division: x = sln(rank) div 1000 and
    // y = sln(n) div 1000 (pre-divided so Σx·y over 256 terms keeps ~1e14
    // headroom), the five OLS sums are BIGINTs, and slope/r² are mirrored
    // float expressions of those exact sums. Rank ties break on the word
    // itself so both engines rank identically. A healthy natural-language
    // source reads slope ≈ −1; the dial-bounded top-R keeps state at
    // R·sources rows regardless of corpus size. --------------------------
    QDef("p86b_zipf_fit",
      (s, dir) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(col("n").desc, col("w"))
        val xy = sourceWordCounts(s, dir)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= zipfR)
          .select(col("source"),
            expr(s"${sln("rank")} div 1000").as("x"),
            expr(s"${sln("n")} div 1000").as("y"))
        val sums = xy.groupBy(col("source")).agg(
          count(lit(1)).as("r"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(expr("x * x")).as("sxx"),
          sum(expr("x * y")).as("sxy"),
          sum(expr("y * y")).as("syy"))
          .filter(col("r") >= 2)
        sums.select(col("source"), col("r").as("n_terms"),
          round((col("r") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("r") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
            .as("slope_r"),
          round(
            (col("r") * col("sxy") - col("sx") * col("sy")).cast("double") *
              (col("r") * col("sxy") - col("sx") * col("sy")).cast("double") /
              ((col("r") * col("sxx") - col("sx") * col("sx")).cast("double") *
                (col("r") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
            .as("r2_r"))
          .orderBy(col("source"))
      },
      Some(s"""WITH $duckSourceWordCtes,
        zrk AS (
          SELECT source, n,
            ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, w) AS rank
          FROM swc),
        zxy AS (
          SELECT source, ${sln("rank")} // 1000 AS x, ${sln("n")} // 1000 AS y
          FROM zrk WHERE rank <= $zipfR),
        zs AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS r,
            CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
            CAST(SUM(x * x) AS BIGINT) AS sxx,
            CAST(SUM(x * y) AS BIGINT) AS sxy,
            CAST(SUM(y * y) AS BIGINT) AS syy
          FROM zxy GROUP BY 1 HAVING COUNT(*) >= 2)
        SELECT source, r AS n_terms,
          round(CAST(r * sxy - sx * sy AS DOUBLE) /
            CAST(r * sxx - sx * sx AS DOUBLE), 6) AS slope_r,
          round(CAST(r * sxy - sx * sy AS DOUBLE) * CAST(r * sxy - sx * sy AS DOUBLE) /
            (CAST(r * sxx - sx * sx AS DOUBLE) * CAST(r * syy - sy * sy AS DOUBLE)), 6)
            AS r2_r
        FROM zs ORDER BY source""")),

    // ---- excess-loss selection (p87): the RHO-loss pairing (Mindermann
    // et al. 2022 — "prioritize learnable, worth-learning points") over
    // the two LMs the suite already fits: every document scored under
    // BOTH the whole-corpus add-one bigram LM (the training
    // distribution) and p53's English-reference LM (the holdout model);
    // excess = nll_corpus − nll_ref. High excess = hard under the
    // training distribution yet NOT hard under the reference — the
    // published keep signal; low/negative = either trivial or
    // reference-unexplainable noise. Exactness is free: both per-doc
    // NLLs are sln-scaled BIGINT sums over the SAME bigram rows, so the
    // excess numerator is one exact integer difference and the readout
    // one mirrored division. kept = top quarter by (rounded excess,
    // doc_id) — the global rank is the validation-scale convenience,
    // p53c's histogram cut is the documented 100 TB form. Both model
    // joins broadcast (vocabulary/distinct-bigram-bounded); the only
    // corpus-scaled shuffles are the two per-doc aggregations. ----------
    QDef("p87_excess_loss",
      (s, dir) => {
        excessPerDoc(s, dir)
          .withColumn("rn", row_number()
            .over(Window.orderBy(col("excess_r").desc, col("doc_id"))).cast("bigint"))
          .withColumn("nd", count(lit(1)).over(Window.partitionBy()))
          .withColumn("kept", col("rn") * 4 <= col("nd"))
          .select(col("doc_id"), col("n_bigrams"), col("nll_ref"),
            col("nll_corpus"), col("excess_r"), col("kept"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $duckExcessCtes,
        exr AS (SELECT *,
            CAST(ROW_NUMBER() OVER (ORDER BY excess_r DESC, doc_id) AS BIGINT) AS rn,
            CAST(COUNT(*) OVER () AS BIGINT) AS nd
          FROM ex)
        SELECT doc_id, n_bigrams, nll_ref, nll_corpus, excess_r,
          (rn * 4 <= nd) AS kept
        FROM exr ORDER BY doc_id""")),

    // ---- the excess-loss selection's SCALE PATH implemented (p87c):
    // the keep decision from a FIXED 1024-bucket histogram of excess_r
    // (the p53c discipline — at most 1024 shuffled rows at ANY corpus
    // size, linear interpolation inside the straddling bucket, cut at
    // the 3/4 mass position = keep the top quarter), with the sketch's
    // agreement against p87's exact global rank measured in the same
    // row (measured %, not asserted). The sketch path itself contains
    // ZERO window operators — cumulative histogram by bounded
    // self-join, cut as a one-row broadcast, decision a literal
    // comparison (PlanAssertionsSpec pins the window-free plan); the
    // exact side exists here only to measure agreement at validation
    // scale. ------------------------------------------------------------
    QDef("p87c_excess_sketch",
      (s, dir) => {
        val sk = excessSketch(s, dir)
        // dial-off (100 TB form): the sketch decision alone — no exact
        // rank join; exact/agreement columns NULL by contract
        val joined = if (knobs.sketchAgreement) {
          val exact = excessPerDoc(s, dir)
            .withColumn("rn", row_number()
              .over(Window.orderBy(col("excess_r").desc, col("doc_id"))).cast("bigint"))
            .withColumn("nd", count(lit(1)).over(Window.partitionBy()))
            .select(col("doc_id"), (col("rn") * 4 <= col("nd")).as("kept_ex"))
          sk.join(exact, "doc_id")
        } else sk
        joined
          .groupBy(col("cut_r"))
          .agg(
            sum(when(col("kept_sk"), 1L).otherwise(0L)).as("n_kept_sketch"),
            (if (knobs.sketchAgreement) sum(when(col("kept_ex"), 1L).otherwise(0L))
            else lit(null).cast("bigint")).as("n_kept_exact"),
            (if (knobs.sketchAgreement)
              sum(when(col("kept_sk") === col("kept_ex"), 1L).otherwise(0L))
            else lit(null).cast("bigint")).as("n_agree"),
            count(lit(1)).as("nd"))
      },
      Some(s"""WITH $duckExcessCtes,
        exr AS (SELECT doc_id,
            CAST(ROW_NUMBER() OVER (ORDER BY excess_r DESC, doc_id) AS BIGINT) AS rn,
            CAST(COUNT(*) OVER () AS BIGINT) AS nd
          FROM ex),
        xb AS (SELECT doc_id, excess_r,
            least(1023, greatest(0, CAST(floor((excess_r + 8.0) * 64.0) AS INT))) AS b
          FROM ex),
        xh AS (SELECT b, CAST(count(*) AS BIGINT) AS n FROM xb GROUP BY 1),
        xnt AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM xh),
        xcum AS (SELECT x.b, x.n,
            (SELECT CAST(sum(y.n) AS BIGINT) FROM xh y WHERE y.b <= x.b) AS cum
          FROM xh x),
        xcut AS (SELECT round((CAST(b AS DOUBLE)
              + (CAST(nt AS DOUBLE) * 3.0 / 4.0 - CAST(cum - n AS DOUBLE)) / n) / 64.0 - 8.0, 6) AS cut_r
          FROM xcum, xnt
          WHERE CAST(cum AS DOUBLE) >= CAST(nt AS DOUBLE) * 3.0 / 4.0
          ORDER BY b LIMIT 1),
        xk AS (SELECT e.doc_id, c.cut_r, (e.excess_r > c.cut_r) AS kept_sk
          FROM xb e, xcut c)
        SELECT x.cut_r,
          CAST(sum(CASE WHEN x.kept_sk THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_sketch,
          CAST(sum(CASE WHEN (r.rn * 4 <= r.nd) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_exact,
          CAST(sum(CASE WHEN x.kept_sk = (r.rn * 4 <= r.nd) THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
          CAST(count(*) AS BIGINT) AS nd
        FROM xk x JOIN exr r ON r.doc_id = x.doc_id GROUP BY 1""")),

    // ---- prototypicality pruning (p88): the SSL-prototypes rule
    // (Sorscher et al. 2022 "Beyond neural scaling laws"; the
    // cluster-based half of D4, Tirumala et al. 2023) — on LARGE
    // datasets, prune the EASY/prototypical examples: within each
    // staged k-means cell, rank members by similarity to their centroid
    // and drop the most-prototypical quarter (floor(n/4) per cell, so
    // small cells keep everything). Complements p32: SemDeDup removes
    // within-cell DUPLICATES, this removes within-cell REDUNDANCY at
    // the distribution's core. Scale shape: the zero-shuffle staged
    // assignment (one broadcast index row), then ONE shuffle keyed on
    // cell for the per-cell window — no pairwise work at all, strictly
    // cheaper than p32. csim ties break on vec_id; both engines order
    // NaN above +inf (zero-norm guard, see [[graft.functions.TopCells]]). -
    QDef("p88_proto_prune",
      (s, dir) => {
        val e = emb(s, dir)
        val assigned = nearestCellsStaged(s, dir,
          e.select(col("vec_id"), col("embedding")), 1)
          .filter(col("crank") === 1)
          .select(col("vec_id"), col("cell"), col("csim"))
        val w = Window.partitionBy(col("cell"))
          .orderBy(col("csim").desc, col("vec_id"))
        assigned
          .withColumn("proto_rank", row_number().over(w))
          .withColumn("cell_n", count(lit(1)).over(Window.partitionBy(col("cell"))))
          .select(col("vec_id"), col("cell"),
            round(col("csim"), 6).as("csim_r"),
            col("proto_rank"), col("cell_n"),
            (col("proto_rank") * 4 > col("cell_n")).as("kept"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH $duckSuperCells,
${duckTwoLevel("a", "embeddings", Nil, "1")},
        passigned AS (
          SELECT vec_id, cell, embedding FROM acranked WHERE crank = 1),
        psim AS (
          SELECT a.vec_id, a.cell, ${duckCosine("a.embedding", "c.cv")} AS csim
          FROM passigned a JOIN cells c ON c.cell = a.cell),
        prk AS (
          SELECT vec_id, cell, csim,
            CAST(ROW_NUMBER() OVER (PARTITION BY cell
              ORDER BY csim DESC, vec_id) AS INTEGER) AS proto_rank,
            CAST(COUNT(*) OVER (PARTITION BY cell) AS BIGINT) AS cell_n
          FROM psim)
        SELECT vec_id, cell, round(csim, 6) AS csim_r, proto_rank, cell_n,
          (proto_rank * 4 > cell_n) AS kept
        FROM prk ORDER BY vec_id""")),

    // ---- second PCA component (p84d): Hotelling deflation in exact
    // integers — subtract λ·u·uᵀ from the fitted matrix (λ and the outer
    // product as mirrored sign-split integer formulas), renormalize to
    // the 1e5 scale by the deflated matrix's own max-abs (deflated
    // entries can reach λ' ≈ trace, 64× the original scale — the
    // renormalization restores the iteration's overflow headroom), and
    // run the same 8 rounds. Both engines walk the identical second
    // trajectory; with the top component this gives the 2-D whitening
    // basis (and the spec checks near-orthogonality + the eigenvalue
    // ordering the math demands). Scale: everything after the p84 Gram
    // pass is d²-bounded driver/oracle-local work. ----------------------
    QDef("p84d_pca_second",
      (s, dir) => {
        val (_, v2) = pcaFit2(s, dir)
        val rows = v2.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
        s.createDataFrame(rows).toDF("dim", "comp2_s")
          .select(col("dim"), col("comp2_s"),
            round(col("comp2_s").cast("double") / 1000000.0, 6).as("comp2_r"))
          .orderBy(col("dim"))
      },
      Some(s"""WITH $duckPcaCtes,
$duckPcaDeflateCtes
        SELECT CAST(j AS INTEGER) AS dim, v AS comp2_s,
          round(CAST(v AS DOUBLE) / 1000000.0, 6) AS comp2_r
        FROM dv$pcaIters ORDER BY dim""")),

    // ---- embedding OOD scoring (p89): Mahalanobis-style outlier
    // detection in the fitted 2-D whitening basis (Lee et al. 2018's
    // Mahalanobis OOD detector, reduced to the top components the suite
    // already fits) — the anomalous-embedding audit a training pipeline
    // runs before contamination can poison a corpus. Each vector's two
    // projections are the p84c exact integers pre-divided to 1e7 scale
    // (headroom for the sum of squares: |p| <= 6.4e6, p^2 <= 4.1e13,
    // corpus sums exact BIGINTs at validation scale; at larger corpora
    // pre-divide further — the trade is resolution, not correctness);
    // per-component mean/variance come from one tiny (n, Σp, Σp²)
    // aggregate, and the standardized score z1²+z2² is one mirrored
    // float expression of exact integers. Outliers flag at 9.0 (the
    // 3-sigma ellipse) on the ROUNDED score, so both engines flag
    // identically. Scale shape: pure per-row math + one one-row
    // aggregate broadcast back — no corpus-keyed shuffle at all. --------
    QDef("p89_embed_ood",
      (s, dir) => {
        val (fit, v2) = pcaFit2(s, dir)
        def projExpr(v: Array[Long]): String =
          s"""aggregate(zip_with(embedding, array(${v.mkString(", ")}),
                (x, c) -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) * c),
              CAST(0 AS BIGINT), (a, y) -> a + y)"""
        val pr = emb(s, dir).select(col("vec_id"),
          expr(s"CASE WHEN ${projExpr(fit.v)} < 0 THEN -((-(${projExpr(fit.v)})) div 10000000) " +
            s"ELSE (${projExpr(fit.v)}) div 10000000 END").as("p1"),
          expr(s"CASE WHEN ${projExpr(v2)} < 0 THEN -((-(${projExpr(v2)})) div 10000000) " +
            s"ELSE (${projExpr(v2)}) div 10000000 END").as("p2"))
        val st = pr.agg(count(lit(1)).as("n"),
          sum(col("p1")).as("s1"), sum(expr("p1 * p1")).as("q1"),
          sum(col("p2")).as("s2"), sum(expr("p2 * p2")).as("q2"))
        // zero-variance guard (p77's discipline): a degenerate corpus
        // (constant projected component) would make the standardized
        // score NaN/Inf and is_outlier null — emit a NULL score and a
        // defined false flag instead. The comparison runs in DOUBLE
        // (n·q can exceed BIGINT at worst-case projection magnitude);
        // exact integer equality survives the conversion, so the
        // true-zero case is detected identically in both engines.
        pr.crossJoin(broadcast(st))
          .withColumn("score_r", expr(
            """CASE WHEN CAST(n AS DOUBLE) * q1 > CAST(s1 AS DOUBLE) * s1
                     AND CAST(n AS DOUBLE) * q2 > CAST(s2 AS DOUBLE) * s2
               THEN round(
                 power((CAST(p1 AS DOUBLE) - CAST(s1 AS DOUBLE) / n) /
                   sqrt((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)), 2)
               + power((CAST(p2 AS DOUBLE) - CAST(s2 AS DOUBLE) / n) /
                   sqrt((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n) / (n - 1)), 2), 6)
               ELSE CAST(NULL AS DOUBLE) END"""))
          .select(col("vec_id"), col("p1"), col("p2"), col("score_r"),
            coalesce(col("score_r") >= 9.0, lit(false)).as("is_outlier"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH $duckPcaCtes,
$duckPcaDeflateCtes,
        oproj AS MATERIALIZED (
          SELECT e.vec_id,
            CAST(SUM(CAST(floor(CAST(e.embedding[r.i + 1] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
              * a.v) AS BIGINT) AS j1,
            CAST(SUM(CAST(floor(CAST(e.embedding[r.i + 1] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
              * b.v) AS BIGINT) AS j2
          FROM embeddings e, range(0, $pcaD) r(i)
          JOIN pv$pcaIters a ON a.j = r.i
          JOIN dv$pcaIters b ON b.j = r.i
          GROUP BY e.vec_id),
        opr AS MATERIALIZED (
          SELECT vec_id,
            CAST(CASE WHEN j1 < 0 THEN -((-j1) // 10000000)
                 ELSE j1 // 10000000 END AS BIGINT) AS p1,
            CAST(CASE WHEN j2 < 0 THEN -((-j2) // 10000000)
                 ELSE j2 // 10000000 END AS BIGINT) AS p2
          FROM oproj),
        ost AS MATERIALIZED (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(p1) AS BIGINT) AS s1, CAST(SUM(p1 * p1) AS BIGINT) AS q1,
            CAST(SUM(p2) AS BIGINT) AS s2, CAST(SUM(p2 * p2) AS BIGINT) AS q2
          FROM opr),
        osc AS (
          SELECT vec_id, p1, p2,
            CASE WHEN CAST(n AS DOUBLE) * q1 > CAST(s1 AS DOUBLE) * s1
                  AND CAST(n AS DOUBLE) * q2 > CAST(s2 AS DOUBLE) * s2
            THEN round(
              power((CAST(p1 AS DOUBLE) - CAST(s1 AS DOUBLE) / n) /
                sqrt((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)), 2)
            + power((CAST(p2 AS DOUBLE) - CAST(s2 AS DOUBLE) / n) /
                sqrt((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n) / (n - 1)), 2), 6)
            ELSE CAST(NULL AS DOUBLE) END AS score_r
          FROM opr, ost)
        SELECT vec_id, p1, p2, score_r,
          COALESCE(score_r >= 9.0, false) AS is_outlier
        FROM osc ORDER BY vec_id""")),

    // ---- quality-signal fusion (p90): Borda rank fusion of three
    // independent pinned quality signals — the heuristic score (p09),
    // the trained classifier probability (p55's staged-weight scoring)
    // and Flesch readability (p82) — the multi-filter ensembling modern
    // curation pipelines run instead of trusting any single signal
    // (rank fusion because the three scores live on incomparable
    // scales; Borda is the classic positional method, and the suite's
    // RRF entry p65 is its retrieval sibling). Each rank is ascending
    // with doc_id ties, so both engines rank identically; borda is an
    // exact integer sum; kept = top quarter by (borda, doc_id). The
    // three global sorts are the validation-scale convenience — at
    // 100 TB each rank becomes a p53c histogram position (monotone in
    // the score, so fusion order is preserved up to bucket width). ------
    QDef("p90_quality_fusion",
      (s, dir) => fusionExact(s, dir).orderBy(col("doc_id")),
      Some(s"""WITH $duckFusionCtes
        SELECT doc_id, rq, rl, rf, borda, (rn * 4 <= nd) AS kept
        FROM bk ORDER BY doc_id""")),

    // ---- the rank fusion's SCALE PATH implemented (p90b): each of the
    // three global ranks replaced by its HISTOGRAM position — the count
    // of documents in strictly-lower fixed-width buckets (1024 buckets
    // per signal; monotone in the score, so fusion order is preserved
    // up to bucket width) — and the top-quarter cut on the fused score
    // taken from a second bounded histogram (cut at the first bucket
    // where 4·cum ≥ 3·n). Everything is integer arithmetic, so the
    // sketch is bit-reproducible cross-engine; agreement with p90's
    // exact Borda kept-set is measured in the same row (the p53c
    // discipline). The sketch path contains ZERO window operators
    // (PlanAssertionsSpec pins it): per-signal rank = broadcast join
    // against a ≤1024-row exclusive-cumulative table, where p90's
    // exact form funnels the corpus through four single-reducer
    // row_number() sorts. ----------------------------------------------
    QDef("p90b_fusion_sketch",
      (s, dir) => {
        // the sketch AND exact sides both consume all three signal
        // frames; the LR-scored front in particular is a corpus pass.
        // Materialize each slim (doc_id, signal) frame ONCE (eager
        // Materialize — the p81/p85 recompute-count discipline) so
        // the agreement measurement pays each signal's corpus work once,
        // not twice.
        val (q0, l0, f0) = fusionSignals(s, dir)
        val hs = Seq(Materialize.tracked(q0, "p90q"),
          Materialize.tracked(l0, "p90l"), Materialize.tracked(f0, "p90f"))
        val sig = Some((hs(0).df, hs(1).df, hs(2).df))
        val sk = bordaSketch(s, dir, sig)
        // dial-off (100 TB form): the sketch's kept-set alone — no
        // exact Borda join; exact/agreement columns NULL by contract
        val joined = if (knobs.sketchAgreement)
          sk.join(fusionExact(s, dir, sig).select(col("doc_id"), col("kept")),
            "doc_id")
        else sk
        val agg = joined
          .groupBy(col("cut_bucket"))
          .agg(
            sum(when(col("kept_sk"), 1L).otherwise(0L)).as("n_kept_sketch"),
            (if (knobs.sketchAgreement) sum(when(col("kept"), 1L).otherwise(0L))
            else lit(null).cast("bigint")).as("n_kept_exact"),
            (if (knobs.sketchAgreement)
              sum(when(col("kept_sk") === col("kept"), 1L).otherwise(0L))
            else lit(null).cast("bigint")).as("n_agree"),
            count(lit(1)).as("nd"))
        // the agreement aggregate is one row per cut bucket (a handful);
        // localized — evaluated eagerly so the three corpus-scaled
        // signal frames release HERE instead of pinning storage for the
        // session (r13 ADVICE).
        localized(agg, () => hs.foreach(_.release()))
      },
      Some(s"""WITH $duckFusionCtes,
        hq AS (SELECT doc_id,
            least(1023, greatest(0, CAST(floor(quality * 1024.0) AS INT))) AS b FROM bq),
        hqh AS (SELECT b, CAST(count(*) AS BIGINT) AS n FROM hq GROUP BY 1),
        hqr AS (SELECT x.doc_id, COALESCE(
            (SELECT CAST(sum(y.n) AS BIGINT) FROM hqh y WHERE y.b < x.b), 0) AS rq
          FROM hq x),
        hl AS (SELECT doc_id,
            least(1023, greatest(0, CAST(floor(score_r * 1024.0) AS INT))) AS b FROM lsc),
        hlh AS (SELECT b, CAST(count(*) AS BIGINT) AS n FROM hl GROUP BY 1),
        hlr AS (SELECT x.doc_id, COALESCE(
            (SELECT CAST(sum(y.n) AS BIGINT) FROM hlh y WHERE y.b < x.b), 0) AS rl
          FROM hl x),
        hf AS (SELECT doc_id,
            least(1023, greatest(0, CAST(floor((fre_r + 100.0) * 4.0) AS INT))) AS b FROM rb),
        hfh AS (SELECT b, CAST(count(*) AS BIGINT) AS n FROM hf GROUP BY 1),
        hfr AS (SELECT x.doc_id, COALESCE(
            (SELECT CAST(sum(y.n) AS BIGINT) FROM hfh y WHERE y.b < x.b), 0) AS rf
          FROM hf x),
        hj AS (SELECT q.doc_id, CAST(q.rq + l.rl + f.rf AS BIGINT) AS borda_sk
          FROM hqr q JOIN hlr l ON l.doc_id = q.doc_id
          JOIN hfr f ON f.doc_id = q.doc_id),
        hnd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM hj),
        hjb AS (SELECT hj.doc_id, hj.borda_sk,
            CAST((hj.borda_sk * 1024) // (3 * hnd.nd) AS INT) AS bb
          FROM hj, hnd),
        hh AS (SELECT bb, CAST(count(*) AS BIGINT) AS n FROM hjb GROUP BY 1),
        hcum AS (SELECT x.bb,
            (SELECT CAST(sum(y.n) AS BIGINT) FROM hh y WHERE y.bb <= x.bb) AS cum
          FROM hh x),
        hcut AS (SELECT bb AS cut_bucket FROM hcum, hnd
          WHERE cum * 4 >= hnd.nd * 3 ORDER BY bb LIMIT 1),
        hk AS (SELECT j.doc_id, c.cut_bucket, (j.bb > c.cut_bucket) AS kept_sk
          FROM hjb j, hcut c)
        SELECT k.cut_bucket,
          CAST(sum(CASE WHEN k.kept_sk THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_sketch,
          CAST(sum(CASE WHEN (e.rn * 4 <= e.nd) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_exact,
          CAST(sum(CASE WHEN k.kept_sk = (e.rn * 4 <= e.nd) THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
          CAST(count(*) AS BIGINT) AS nd
        FROM hk k JOIN bk e ON e.doc_id = k.doc_id GROUP BY 1""")),

    // ---- character-level edit similarity over the staged pair front
    // (p91): the near-dup families so far score at shingle granularity;
    // Levenshtein is the exact character-level verdict (normalized
    // edit similarity), and it only ever runs on the CANDIDATE front —
    // the Jaccard >= 0.3 literal filter over the staged pre-threshold
    // pair table (p00b), whose size is bounded by the corpus near-dup
    // rate, never n². The O(len·len) distance kernel therefore touches
    // a vanishing fraction of the corpus at any scale. The two text
    // joins broadcast the front against the document scan — but only
    // when a cheap count over the staged parquet confirms it is small:
    // the near-dup rate is a CORPUS property, not a constant, and a
    // duplicate-heavy crawl would otherwise force a driver-sized
    // broadcast (r13 ADVICE). Above the cap the hint is dropped and the
    // joins shuffle on the id keys like every other pair consumer —
    // values identical either way. Both engines implement classic full
    // Levenshtein, so the distance — and the normalized similarity
    // after round(…,6) — is engine-identical. ---------------------------
    QDef("p91_edit_similarity",
      (s, dir) => {
        val base = PairStage.load(s, dir)
        val front0 = base
          .withColumn("jaccard_r", round(col("inter").cast("double") /
            (col("sza") + col("szb") - col("inter")), 6))
          .filter(col("jaccard_r") >= 0.3)
          .select(col("a_id"), col("b_id"), col("jaccard_r"))
        // two-tier decision: the staged table's parquet metadata count
        // (reads no data pages) is an upper bound on the filtered
        // front and usually decides for free; the exact filtered count
        // runs only above the cap, where getting the broadcast call
        // right is worth one extra pass over the staged scan. The staged
        // pair table is immutable per (JVM, dir), so the decision is
        // CACHED per (dir, cap) — repeat invocations pay zero counting
        // passes, and a changed -Dgraft.broadcastFrontMaxRows re-decides
        // instead of serving a stale verdict (r15 regression fix)
        val cap = knobs.broadcastFrontMaxRows
        val doBroadcast = p91BroadcastByDirCap.computeIfAbsent((dir, cap), _ =>
          base.count() <= cap || front0.count() <= cap)
        val front = if (doBroadcast) broadcast(front0) else front0
        val texts = docs(s, dir).select(col("doc_id"), col("text"))
        front
          .join(texts.select(col("doc_id").as("a_id"), col("text").as("ta")), "a_id")
          .join(texts.select(col("doc_id").as("b_id"), col("text").as("tb")), "b_id")
          .withColumn("lev", levenshtein(col("ta"), col("tb")).cast("long"))
          .withColumn("edit_sim_r", round(lit(1.0) - col("lev").cast("double") /
            greatest(length(col("ta")), length(col("tb"))), 6))
          .select(col("a_id"), col("b_id"), col("jaccard_r"), col("lev"),
            col("edit_sim_r"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some(s"""WITH $duckGuardedPairCtes,
        jp AS (SELECT a_id, b_id,
            round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard_r
          FROM pr JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
          WHERE round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) >= 0.3)
        SELECT jp.a_id, jp.b_id, jp.jaccard_r,
          CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
          round(1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
            / greatest(length(da.text), length(db.text)), 6) AS edit_sim_r
        FROM jp JOIN documents da ON da.doc_id = jp.a_id
        JOIN documents db ON db.doc_id = jp.b_id
        ORDER BY a_id, b_id""")),

    // ---- exact distributed order statistics (p92): exact corpus
    // percentiles WITHOUT a global sort. The single-reducer
    // `row_number() OVER (ORDER BY …)` anti-pattern the p87/p90 sketch
    // forms exist to avoid is unnecessary here because the value domain
    // is bounded: group by the VALUE (one shuffle on a bounded-domain
    // key), then run the cumulative sum over the DISTINCT-VALUE table —
    // whose cardinality is capped by the value domain (document length),
    // not the corpus — the same boundedness class as the vocabulary
    // windows. The percentile probe is a broadcast theta-join of five
    // literal ranks against the cumsum. k-th value semantics: smallest
    // v with cum(v)·100 >= pct·total (type-1 / lower quantile), exact
    // integer arithmetic end to end. -------------------------------------
    QDef("p92_exact_quantiles",
      (s, dir) => {
        val h = docs(s, dir).groupBy(col("n_chars").as("v"))
          .agg(count(lit(1)).as("n"))
        val cum = h.withColumn("cum",
          sum(col("n")).over(Window.orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val tot = docs(s, dir).agg(count(lit(1)).as("total"))
        val pcts = docs(s, dir).sparkSession.range(1)
          .select(explode(array(lit(25), lit(50), lit(75), lit(90), lit(99)))
            .as("pct"))
        cum.crossJoin(broadcast(tot))
          .join(broadcast(pcts), col("cum") * 100 >= col("pct") * col("total"))
          .groupBy(col("pct"), col("total"))
          .agg(min(col("v")).as("value"))
          .select(col("pct").cast("int").as("pct"), col("value"), col("total"))
          .orderBy(col("pct"))
      },
      Some("""WITH h AS (
          SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS n
          FROM documents GROUP BY 1),
        c AS (SELECT v, CAST(SUM(n) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          FROM h),
        t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM documents),
        p AS (SELECT unnest([25, 50, 75, 90, 99]) AS pct)
        SELECT CAST(p.pct AS INTEGER) AS pct, MIN(c.v) AS value, t.total AS total
        FROM c, t, p WHERE c.cum * 100 >= p.pct * t.total
        GROUP BY p.pct, t.total ORDER BY pct""")),

    // ---- split-conformal quality gate (p93): a distribution-free
    // admission rule with a finite-sample marginal coverage bound
    // (Vovk et al.; Papadopoulos et al. 2002 split form). Calibration
    // split = md5(doc_id) first hex digit < 8 (the deterministic-uniform
    // idiom of p24/p61); score = the Flesch value QUANTIZED to p90b's
    // 1024-bucket histogram form — quantizing first is what keeps the
    // exact threshold scale-safe: the k-th smallest calibration score is
    // read off a cumulative sum over a BOUNDED [0,1023] domain (no
    // global sort, no corpus-sized window), and conformal validity is
    // preserved because the guarantee holds for ANY fixed measurable
    // score. With α = 1/4, k = ceil((n_cal+1)/4) — rendered as the pure
    // integer predicate 4·cum >= n_cal+1 — and the gate admits test docs
    // with score >= that k-th value: miscoverage <= α by exchangeability.
    QDef("p93_conformal_gate",
      (s, dir) => {
        val scored = conformalScored(docs(s, dir)
          .select(col("doc_id"), col("source"), col("text")))
        val cal = scored.filter(col("is_cal"))
        val nCal = cal.agg(count(lit(1)).as("n_cal"))
        val cum = cal.groupBy(col("q").as("v")).agg(count(lit(1)).as("n"))
          .withColumn("cum", sum(col("n")).over(Window.orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val thr = cum.crossJoin(broadcast(nCal))
          .filter(col("cum") * 4 >= col("n_cal") + 1)
          .agg(min(col("v")).as("thr"))
        scored.filter(!col("is_cal"))
          .crossJoin(broadcast(thr))
          .groupBy(col("source"), col("thr"))
          .agg(count(lit(1)).as("n_test"),
            sum(when(col("q") >= col("thr"), 1L).otherwise(0L)).as("n_admit"))
          .select(col("source"), col("thr"), col("n_test"), col("n_admit"))
          .orderBy(col("source"))
      },
      Some(s"""WITH $duckReadabilityCtes,
        sc AS (SELECT doc_id, source,
            least(1023, greatest(0, CAST(floor((fre_r + 100.0) * 4.0) AS INT))) AS q,
            (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 8) AS is_cal
          FROM rb),
        nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM sc WHERE is_cal),
        h AS (SELECT q AS v, CAST(COUNT(*) AS BIGINT) AS n
          FROM sc WHERE is_cal GROUP BY 1),
        c AS (SELECT v, CAST(SUM(n) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          FROM h),
        th AS (SELECT MIN(v) AS thr FROM c, nc WHERE cum * 4 >= n_cal + 1)
        SELECT s.source, th.thr AS thr, CAST(COUNT(*) AS BIGINT) AS n_test,
          CAST(SUM(CASE WHEN s.q >= th.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_admit
        FROM sc s, th WHERE NOT s.is_cal GROUP BY 1, 2 ORDER BY source""")),

    // ---- two-proportion A/B z-test on events (p94): deterministic
    // variant assignment (user_id parity — a hash in production), unit =
    // user, conversion = the user's FIRST event (ts, event_id tiebreak)
    // is a purchase — "any purchase ever" saturates to 100% at this
    // event density and degenerates the statistic. One user-partitioned
    // window to the first event, then two one-row arms cross-joined.
    // Every term is IEEE-exact cross-engine: the inputs are exact BIGINT
    // counts and +,-,×,÷,sqrt are all correctly rounded, so the z value
    // is bit-identical before the defensive round. 1/n0 + 1/n1 is
    // rewritten (n0+n1)/(n0·n1) so both engines evaluate ONE division
    // tree; a pooled-variance-zero corpus (all or no users convert)
    // yields NULL z on BOTH engines instead of a NaN-vs-null mismatch.
    QDef("p94_ab_ztest",
      (s, dir) => {
        val firsts = t(s, dir, "events")
          .withColumn("rn", row_number().over(Window
            .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))))
          .filter(col("rn") === 1)
          .withColumn("variant", (col("user_id") % 2).cast("int"))
          .withColumn("converted",
            when(col("event_type") === "purchase", 1).otherwise(0))
        val arms = firsts.groupBy(col("variant"))
          .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
        val a = arms.filter(col("variant") === 0)
          .select(col("n").as("n0"), col("conv").as("c0"))
        val b = arms.filter(col("variant") === 1)
          .select(col("n").as("n1"), col("conv").as("c1"))
        a.crossJoin(broadcast(b))
          .withColumn("p0", col("c0").cast("double") / col("n0"))
          .withColumn("p1", col("c1").cast("double") / col("n1"))
          .withColumn("pp",
            (col("c0") + col("c1")).cast("double") / (col("n0") + col("n1")))
          .withColumn("invn",
            (col("n0") + col("n1")).cast("double") /
              (col("n0") * col("n1")).cast("double"))
          .withColumn("z_r",
            when(col("c0") + col("c1") > 0 &&
                 col("c0") + col("c1") < col("n0") + col("n1"),
              round((col("p0") - col("p1")) /
                sqrt((col("pp") * (lit(1.0) - col("pp"))) * col("invn")), 6)))
          .withColumn("significant", abs(col("z_r")) >= 1.959964)
          .select(col("n0"), col("c0"), col("n1"), col("c1"),
            col("p0"), col("p1"), col("z_r"), col("significant"))
      },
      Some("""WITH f AS (
          SELECT user_id, event_type,
            ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events),
        u AS (SELECT user_id, CAST(user_id % 2 AS INTEGER) AS variant,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS converted
          FROM f WHERE rn = 1),
        arms AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(converted) AS BIGINT) AS conv
          FROM u GROUP BY 1),
        a AS (SELECT n AS n0, conv AS c0 FROM arms WHERE variant = 0),
        b AS (SELECT n AS n1, conv AS c1 FROM arms WHERE variant = 1),
        z AS (SELECT n0, c0, n1, c1,
            CAST(c0 AS DOUBLE) / n0 AS p0,
            CAST(c1 AS DOUBLE) / n1 AS p1,
            CAST(c0 + c1 AS DOUBLE) / (n0 + n1) AS pp,
            CAST(n0 + n1 AS DOUBLE) / CAST(n0 * n1 AS DOUBLE) AS invn
          FROM a, b),
        zz AS (SELECT n0, c0, n1, c1, p0, p1,
            CASE WHEN c0 + c1 > 0 AND c0 + c1 < n0 + n1
              THEN round((p0 - p1) / sqrt((pp * (CAST(1 AS DOUBLE) - pp)) * invn), 6)
            END AS z_r
          FROM z)
        SELECT n0, c0, n1, c1, p0, p1, z_r,
          abs(z_r) >= 1.959964 AS significant
        FROM zz""")),

    // ---- tf-idf keyword extraction (p95): top-3 terms per document by
    // tf · idf with idf in p53's sln integer-log scale — score_s =
    // tf · (sln(N+1) − sln(df+1)) is exact BIGINT arithmetic, so the
    // per-document ranking (ties → token asc) is engine-identical with
    // no float drift. The document-frequency side is vocabulary-bounded
    // and broadcast; the only corpus-scaled shuffle is the (doc, token)
    // term-frequency aggregation; the top-k window partitions BY
    // DOCUMENT (never a global sort). ------------------------------------
    QDef("p95_tfidf_keywords",
      (s, dir) => {
        val toks = docs(s, dir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val tf = toks.groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("tf"))
        val df = toks.distinct().groupBy(col("tok"))
          .agg(count(lit(1)).as("df"))
        val nd = docs(s, dir).agg((count(lit(1)) + 1).as("np1"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score_s").desc, col("tok"))
        tf.join(broadcast(df), "tok").crossJoin(broadcast(nd))
          .withColumn("score_s",
            col("tf") * expr(sln("np1") + " - " + sln("df + 1")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("rank"), col("tok"), col("tf"),
            col("df"), col("score_s"))
          .orderBy(col("doc_id"), col("rank"))
      },
      Some(s"""WITH tk AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
          FROM tk GROUP BY 1, 2),
        df AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
          FROM tk GROUP BY 1),
        nd AS (SELECT CAST(COUNT(*) + 1 AS BIGINT) AS np1 FROM documents),
        sc AS (SELECT tf.doc_id, tf.tok, tf.tf, df.df,
            tf.tf * (${sln("np1")} - ${sln("df + 1")}) AS score_s
          FROM tf JOIN df ON df.tok = tf.tok, nd),
        rk AS (SELECT doc_id, tok, tf, df, score_s,
            CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY score_s DESC, tok) AS INTEGER) AS rank
          FROM sc)
        SELECT doc_id, rank, tok, tf, df, score_s
        FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""")),

    // ---- inter-rater agreement (p96): Cohen's kappa between two
    // independent quality raters — the p09 composite-quality rule
    // (quality >= 0.7) and the Flesch readability rule (fre_s >=
    // 50·10⁶, i.e. 'medium or easier'). Agreement-beyond-chance is the
    // standard audit before trusting either as a training-data filter.
    // One corpus pass to four exact BIGINT confusion cells; p_o / p_e /
    // kappa are rational arithmetic over those cells with the identical
    // expression tree on both engines. ------------------------------------
    QDef("p96_rater_kappa",
      (s, dir) => {
        val qualified = docs(s, dir)
          .withColumn("n_tokens", size(split(col("text"), " ")))
          .withColumn("avg_token_len",
            length(regexp_replace(col("text"), " ", "")).cast("double") / col("n_tokens"))
          .withColumn("punct_ratio",
            (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")))
              .cast("double") / length(col("text")))
          .withColumn("ra",
            (when(col("n_tokens").between(5, 1000), 0.4).otherwise(0.0) +
              when(col("avg_token_len").between(3.0, 10.0), 0.3).otherwise(0.0) +
              when(col("punct_ratio") < 0.1, 0.3).otherwise(0.0)) >= 0.7)
          .select(col("doc_id"), col("ra"), col("text"))
        val rated = readabilityMetrics(qualified)
          .select(col("ra"), (col("fre_s") >= 50000000L).as("rb"))
        rated.agg(
            count(lit(1)).as("n"),
            sum(when(col("ra") && col("rb"), 1L).otherwise(0L)).as("n11"),
            sum(when(col("ra") && !col("rb"), 1L).otherwise(0L)).as("n10"),
            sum(when(!col("ra") && col("rb"), 1L).otherwise(0L)).as("n01"),
            sum(when(!col("ra") && !col("rb"), 1L).otherwise(0L)).as("n00"))
          .withColumn("po", (col("n11") + col("n00")).cast("double") / col("n"))
          .withColumn("pa1", (col("n11") + col("n10")).cast("double") / col("n"))
          .withColumn("pb1", (col("n11") + col("n01")).cast("double") / col("n"))
          .withColumn("pe",
            (col("pa1") * col("pb1")) +
              ((lit(1.0) - col("pa1")) * (lit(1.0) - col("pb1"))))
          .withColumn("kappa_r",
            round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 6))
          .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
            col("po"), col("kappa_r"))
      },
      Some(s"""WITH $duckReadabilityCtes,
        qa AS (SELECT doc_id,
            (CASE WHEN len(string_split(text, ' ')) BETWEEN 5 AND 1000 THEN 0.4 ELSE 0.0 END
              + CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END
              + CASE WHEN CAST(length(text) - length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) < 0.1 THEN 0.3 ELSE 0.0 END) >= 0.7 AS ra
          FROM documents),
        rr AS (SELECT qa.ra, (rb.fre_s >= 50000000) AS rb
          FROM qa JOIN rb ON rb.doc_id = qa.doc_id),
        cc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS BIGINT) AS n11,
            CAST(SUM(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT) AS n10,
            CAST(SUM(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END) AS BIGINT) AS n01,
            CAST(SUM(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT) AS n00
          FROM rr),
        pp AS (SELECT n, n11, n10, n01, n00,
            CAST(n11 + n00 AS DOUBLE) / n AS po,
            CAST(n11 + n10 AS DOUBLE) / n AS pa1,
            CAST(n11 + n01 AS DOUBLE) / n AS pb1
          FROM cc),
        pe AS (SELECT n, n11, n10, n01, n00, po,
            (pa1 * pb1) + ((CAST(1 AS DOUBLE) - pa1) * (CAST(1 AS DOUBLE) - pb1)) AS pe
          FROM pp)
        SELECT n, n11, n10, n01, n00, po,
          round((po - pe) / (CAST(1 AS DOUBLE) - pe), 6) AS kappa_r
        FROM pe""")),

    // ---- exact-k uniform sample by hash order statistics (p97/p97b):
    // the k documents with the smallest md5('ks:'||doc_id) ARE a uniform
    // k-sample (the hash is a fixed PRF over the exchangeable ids —
    // sampling without RNG state, reproducible across runs and engines).
    // Unlike p24's Bernoulli thinning this yields an EXACT sample size,
    // and the plan is the distributed top-k (TakeOrderedAndProject:
    // per-partition heaps merged at k) — no global sort. p97b is the
    // stratified form: per-source top-3 through a window partitioned BY
    // SOURCE. ------------------------------------------------------------
    QDef("p97_uniform_ksample",
      (s, dir) => docs(s, dir)
        .withColumn("hk", md5(concat(lit("ks:"), col("doc_id").cast("string"))))
        .orderBy(col("hk")).limit(20)
        .select(col("doc_id"), col("source"), col("hk"))
        .orderBy(col("hk")),
      Some("""SELECT doc_id, source, md5('ks:' || CAST(doc_id AS VARCHAR)) AS hk
        FROM documents ORDER BY hk LIMIT 20""")),

    QDef("p97b_stratified_ksample",
      (s, dir) => {
        val w = Window.partitionBy(col("source")).orderBy(col("hk"))
        docs(s, dir)
          .withColumn("hk", md5(concat(lit("ks:"), col("doc_id").cast("string"))))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("source"), col("rank"), col("doc_id"), col("hk"))
          .orderBy(col("source"), col("rank"))
      },
      Some("""WITH h AS (
          SELECT source, doc_id, md5('ks:' || CAST(doc_id AS VARCHAR)) AS hk
          FROM documents),
        r AS (SELECT source, doc_id, hk,
            CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY hk) AS INTEGER) AS rank
          FROM h)
        SELECT source, rank, doc_id, hk FROM r WHERE rank <= 3
        ORDER BY source, rank""")),

    // ---- Welch's unequal-variance t-test (p98): does purchase VALUE
    // differ between the p94 variants? Sums and sums-of-squares
    // accumulate in exact DECIMAL (the q01/p12 order-proofing trick —
    // value is 2dp, so DECIMAL(12,2) and its square are exact), cast to
    // double only once per arm; mean/variance/t/Welch-df are then a
    // fixed double expression tree over identical inputs, identical on
    // both engines. One event-keyed aggregation; two one-row arms. -------
    QDef("p98_welch_ttest",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .withColumn("variant", (col("user_id") % 2).cast("int"))
          .withColumn("vd", d(col("value")))
        val arms = ev.groupBy(col("variant"))
          .agg(count(lit(1)).as("n"),
            sum(col("vd")).cast("double").as("sv"),
            sum(col("vd") * col("vd")).cast("double").as("sv2"))
          .withColumn("m", col("sv") / col("n"))
          .withColumn("s2",
            (col("sv2") - (col("sv") * col("sv")) / col("n")) / (col("n") - 1))
          .withColumn("vn", col("s2") / col("n"))
        val a = arms.filter(col("variant") === 0)
          .select(col("n").as("n0"), col("m").as("m0"), col("vn").as("vn0"))
        val b = arms.filter(col("variant") === 1)
          .select(col("n").as("n1"), col("m").as("m1"), col("vn").as("vn1"))
        a.crossJoin(broadcast(b))
          .withColumn("se2", col("vn0") + col("vn1"))
          .withColumn("t_r",
            round((col("m0") - col("m1")) / sqrt(col("se2")), 6))
          .withColumn("df_r", round((col("se2") * col("se2")) /
            ((col("vn0") * col("vn0")) / (col("n0") - 1) +
              (col("vn1") * col("vn1")) / (col("n1") - 1)), 6))
          .select(col("n0"), col("n1"),
            round(col("m0"), 6).as("m0_r"), round(col("m1"), 6).as("m1_r"),
            col("t_r"), col("df_r"))
      },
      Some("""WITH pv AS (
          SELECT CAST(user_id % 2 AS INTEGER) AS variant,
            CAST(CAST(value AS DOUBLE) AS DECIMAL(12,2)) AS vd
          FROM events WHERE event_type = 'purchase'),
        arms AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(vd) AS DOUBLE) AS sv,
            CAST(SUM(vd * vd) AS DOUBLE) AS sv2
          FROM pv GROUP BY 1),
        st AS (SELECT variant, n, sv / n AS m,
            ((sv2 - (sv * sv) / n) / (n - 1)) / n AS vn
          FROM arms),
        a AS (SELECT n AS n0, m AS m0, vn AS vn0 FROM st WHERE variant = 0),
        b AS (SELECT n AS n1, m AS m1, vn AS vn1 FROM st WHERE variant = 1),
        w AS (SELECT n0, n1, m0, m1, vn0, vn1, vn0 + vn1 AS se2 FROM a, b)
        SELECT n0, n1, round(m0, 6) AS m0_r, round(m1, 6) AS m1_r,
          round((m0 - m1) / sqrt(se2), 6) AS t_r,
          round((se2 * se2) / ((vn0 * vn0) / (n0 - 1) + (vn1 * vn1) / (n1 - 1)), 6) AS df_r
        FROM w""")),

    // ---- first-order event-transition matrix (p99): the user-journey
    // Markov view product analytics builds on — P(next event | current)
    // from consecutive per-user event pairs. ONE user-keyed window
    // shuffle produces the lead pairs; everything after is bounded by
    // |event_type|² (25 cells here), so the normalizing join broadcasts
    // at any corpus size. Counts exact BIGINT; the readout division is
    // one mirrored float op. ---------------------------------------------
    QDef("p99_event_transitions",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val trans = t(s, dir, "events")
          .withColumn("nxt", lead(col("event_type"), 1).over(w))
          .filter(col("nxt").isNotNull)
          .groupBy(col("event_type").as("cur"), col("nxt"))
          .agg(count(lit(1)).as("n"))
        val tot = trans.groupBy(col("cur")).agg(sum(col("n")).as("n_cur"))
        trans.join(broadcast(tot), "cur")
          .withColumn("p_r", round(col("n").cast("double") / col("n_cur"), 6))
          .select(col("cur"), col("nxt"), col("n"), col("n_cur"), col("p_r"))
          .orderBy(col("cur"), col("nxt"))
      },
      Some("""WITH sq AS (
          SELECT user_id, event_type,
            LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
          FROM events),
        tr AS (SELECT event_type AS cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
          FROM sq WHERE nxt IS NOT NULL GROUP BY 1, 2),
        tt AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS n_cur FROM tr GROUP BY 1)
        SELECT tr.cur, tr.nxt, tr.n, tt.n_cur,
          round(CAST(tr.n AS DOUBLE) / tt.n_cur, 6) AS p_r
        FROM tr JOIN tt ON tt.cur = tr.cur ORDER BY tr.cur, tr.nxt""")),

    // ---- RFM segmentation (p100): the classic recency / frequency /
    // monetary customer grading, each dimension cut into exact tertiles
    // by p92's discipline — NO ntile (a single-reducer global sort at
    // scale): each dimension quantizes to a BOUNDED integer domain first
    // (days since last event; event count; whole-unit spend — floor of
    // the exact DECIMAL sum), then the two tertile boundaries read off a
    // cumulative sum over the distinct-value table and broadcast back.
    // score = 1 + (v > b1) + (v > b2) per dimension (3 = top third by
    // VALUE order; recency scores read low = recent). One user-keyed
    // aggregation; three bounded cumsums; exact integers end to end. ----
    QDef("p100_rfm_segments",
      (s, dir) => {
        val maxTs = t(s, dir, "events").agg(max(col("ts")).as("mx"))
        val rfm = t(s, dir, "events").crossJoin(broadcast(maxTs))
          .groupBy(col("user_id"))
          .agg(
            datediff(max(col("mx")), max(col("ts"))).cast("bigint").as("rec"),
            count(lit(1)).as("freq"),
            floor(sum(when(col("event_type") === "purchase",
              d(col("value"))).otherwise(lit(0).cast("decimal(12,2)"))))
              .cast("bigint").as("mon"))
        def cuts(dim: String): DataFrame = {
          val h = rfm.groupBy(col(dim).as("v")).agg(count(lit(1)).as("n"))
          val cum = h.withColumn("cum", sum(col("n")).over(Window.orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          val nu = rfm.agg(count(lit(1)).as("nu"))
          cum.crossJoin(broadcast(nu)).agg(
            min(when(col("cum") * 3 >= col("nu"), col("v"))).as(s"${dim}_b1"),
            min(when(col("cum") * 3 >= col("nu") * 2, col("v"))).as(s"${dim}_b2"))
        }
        def score(dim: String): org.apache.spark.sql.Column =
          (lit(1) + when(col(dim) > col(s"${dim}_b1"), 1).otherwise(0) +
            when(col(dim) > col(s"${dim}_b2"), 1).otherwise(0)).cast("int")
        rfm.crossJoin(broadcast(cuts("rec")))
          .crossJoin(broadcast(cuts("freq")))
          .crossJoin(broadcast(cuts("mon")))
          .withColumn("r_score", score("rec"))
          .withColumn("f_score", score("freq"))
          .withColumn("m_score", score("mon"))
          .withColumn("segment", concat(lit("R"), col("r_score"),
            lit("F"), col("f_score"), lit("M"), col("m_score")))
          .select(col("user_id"), col("rec"), col("freq"), col("mon"),
            col("r_score"), col("f_score"), col("m_score"), col("segment"))
          .orderBy(col("user_id"))
      },
      Some("""WITH mx AS (SELECT MAX(ts) AS mx FROM events),
        rfm AS (
          SELECT user_id,
            CAST(date_diff('day', CAST(MAX(ts) AS DATE), CAST(MAX(mx.mx) AS DATE)) AS BIGINT) AS rec,
            CAST(COUNT(*) AS BIGINT) AS freq,
            CAST(floor(SUM(CASE WHEN event_type = 'purchase'
              THEN CAST(CAST(value AS DOUBLE) AS DECIMAL(12,2))
              ELSE CAST(0 AS DECIMAL(12,2)) END)) AS BIGINT) AS mon
          FROM events, mx GROUP BY 1),
        nu AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu FROM rfm),
        rc AS (SELECT v, CAST(SUM(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          FROM (SELECT rec AS v, CAST(COUNT(*) AS BIGINT) AS n FROM rfm GROUP BY 1)),
        rb AS (SELECT MIN(CASE WHEN cum * 3 >= nu THEN v END) AS b1,
            MIN(CASE WHEN cum * 3 >= nu * 2 THEN v END) AS b2 FROM rc, nu),
        fc AS (SELECT v, CAST(SUM(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          FROM (SELECT freq AS v, CAST(COUNT(*) AS BIGINT) AS n FROM rfm GROUP BY 1)),
        fb AS (SELECT MIN(CASE WHEN cum * 3 >= nu THEN v END) AS b1,
            MIN(CASE WHEN cum * 3 >= nu * 2 THEN v END) AS b2 FROM fc, nu),
        mc AS (SELECT v, CAST(SUM(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          FROM (SELECT mon AS v, CAST(COUNT(*) AS BIGINT) AS n FROM rfm GROUP BY 1)),
        mb AS (SELECT MIN(CASE WHEN cum * 3 >= nu THEN v END) AS b1,
            MIN(CASE WHEN cum * 3 >= nu * 2 THEN v END) AS b2 FROM mc, nu),
        sc AS (SELECT r.user_id, r.rec, r.freq, r.mon,
            CAST(1 + (CASE WHEN r.rec > rb.b1 THEN 1 ELSE 0 END)
              + (CASE WHEN r.rec > rb.b2 THEN 1 ELSE 0 END) AS INTEGER) AS r_score,
            CAST(1 + (CASE WHEN r.freq > fb.b1 THEN 1 ELSE 0 END)
              + (CASE WHEN r.freq > fb.b2 THEN 1 ELSE 0 END) AS INTEGER) AS f_score,
            CAST(1 + (CASE WHEN r.mon > mb.b1 THEN 1 ELSE 0 END)
              + (CASE WHEN r.mon > mb.b2 THEN 1 ELSE 0 END) AS INTEGER) AS m_score
          FROM rfm r, rb, fb, mb)
        SELECT user_id, rec, freq, mon, r_score, f_score, m_score,
          'R' || r_score || 'F' || f_score || 'M' || m_score AS segment
        FROM sc ORDER BY user_id""")),

    // ---- PMI collocations (p101): the standard collocation-extraction
    // score (Church & Hanks 1990) over adjacent-token bigrams —
    // PMI = ln(c12·N1² / (N2·c1·c2)), assembled ENTIRELY from sln
    // integer logs of exact counts ([sln(c12)+2·sln(N1)] −
    // [sln(N2)+sln(c1)+sln(c2)]), so ranking needs no float at all.
    // Unigram/bigram tables are vocabulary-bounded and broadcast; the
    // only corpus-scaled work is the two counting aggregations; top-25
    // (min support 5) is TakeOrderedAndProject. ---------------------------
    QDef("p101_pmi_collocations",
      (s, dir) => {
        val toks = docs(s, dir)
          .select(explode(split(col("text"), " ")).as("w"))
        val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
        val n1 = toks.agg(count(lit(1)).as("n1"))
        val bg = docBigrams(s, dir)
          .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        val n2 = docBigrams(s, dir).agg(count(lit(1)).as("n2"))
        bg.filter(col("c12") >= 5)
          .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), "w1")
          .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))), "w2")
          .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
          .withColumn("pmi_s",
            expr(s"(${sln("c12")} + 2 * ${sln("n1")}) - " +
              s"(${sln("n2")} + ${sln("c1")} + ${sln("c2")})"))
          .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
            col("pmi_s"))
          .orderBy(col("pmi_s").desc, col("w1"), col("w2"))
          .limit(25)
      },
      Some(s"""WITH tk AS (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tk GROUP BY 1),
        n1t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1 FROM tk),
        $duckBigrams,
        bgc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
          FROM bg GROUP BY 1, 2),
        n2t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n2 FROM bg)
        SELECT bgc.w1, bgc.w2, bgc.c12, u1.c AS c1, u2.c AS c2,
          ((${sln("bgc.c12")} + 2 * ${sln("n1")}) -
            (${sln("n2")} + ${sln("u1.c")} + ${sln("u2.c")})) AS pmi_s
        FROM bgc JOIN uni u1 ON u1.w = bgc.w1 JOIN uni u2 ON u2.w = bgc.w2,
          n1t, n2t
        WHERE bgc.c12 >= 5
        ORDER BY pmi_s DESC, w1, w2 LIMIT 25""")),

    // ---- weighted exact-k sampling (p102): Efraimidis-Spirakis A-ES —
    // keep the k items with the largest u^(1/w), which is EXACTLY a
    // weight-proportional sample without replacement — derandomized:
    // u = (h16+1)/65537 from p61's 16-bit md5 idiom, and the sort key
    // is ln(u)/w (same argmax as u^(1/w)) assembled from sln integer
    // logs of exact integers — lnu_s = sln(h16+1) − sln(65537), an
    // exact BIGINT — with ONE IEEE-exact double division by the weight.
    // Weight = document length (longer docs proportionally likelier).
    // Plans as TakeOrderedAndProject (per-partition heaps) — the same
    // no-global-sort shape as p97, now weight-aware. -------------------
    QDef("p102_weighted_ksample",
      (s, dir) => {
        val h16 = (1 to 4).map(i =>
          s"(instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), $i, 1)) - 1)")
          .reduce((a, b) => s"($a * 16 + $b)")
        docs(s, dir)
          .withColumn("lnu_s", expr(s"${sln(s"$h16 + 1")} - ${sln("65537")}"))
          .withColumn("key", col("lnu_s").cast("double") / col("n_chars"))
          .orderBy(col("key").desc, col("doc_id")).limit(20)
          .select(col("doc_id"), col("n_chars"), col("lnu_s"),
            round(col("key"), 6).as("key_r"))
          .orderBy(col("key_r").desc, col("doc_id"))
      },
      Some {
        val h16 = (1 to 4).map(i =>
          s"(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)")
          .reduce((a, b) => s"($a * 16 + $b)")
        s"""WITH k AS (
          SELECT doc_id, n_chars,
            (${sln(s"$h16 + 1")} - ${sln("65537")}) AS lnu_s
          FROM documents),
        t AS (SELECT doc_id, n_chars, lnu_s,
            CAST(lnu_s AS DOUBLE) / n_chars AS key
          FROM k ORDER BY key DESC, doc_id LIMIT 20)
        SELECT doc_id, n_chars, lnu_s, round(key, 6) AS key_r
        FROM t ORDER BY key_r DESC, doc_id"""
      }),

    // ---- duplicated-substring coverage (p103): the EXACT character-
    // granularity duplication criterion of Lee et al. 2022
    // ("Deduplicating Training Data Makes Language Models Better"):
    // a character position is duplicated iff it lies inside some
    // 30-char substring that occurs >= 2 times in the corpus
    // (within-doc repeats count, as in the paper's suffix-array
    // formulation). p28 is the REMEDIATION at 10-token disjoint spans;
    // p103 is the exact MEASUREMENT: stride-1 overlapping windows, so
    // coverage is the true interval union, not a block approximation.
    // Plan: a stride-1 explode to (doc, start, 8-byte window hash) —
    // the window text dies at md560 in the same projection. The >= 2
    // filter is a partial-aggregated groupBy(h) count joined back on h,
    // NOT an h-partitioned count window: a window must co-locate every
    // row of a partition in one task, so a degenerate corpus (megabytes
    // of one repeated character = one ultra-common window hash) funnels
    // the whole explode into a single reducer with no escape. The
    // aggregate form map-side-combines the repeats (a one-char map
    // partition collapses to ONE (h, n) row before the shuffle), and
    // the join back on h is exactly the shape AQE's skew-join splitting
    // handles — the hot h's probe partition splits across tasks (the
    // r13 verdict's "residual skew policy" applied; the window had no
    // salting analog). Costs one extra explode pass; measured ~0.1 s at
    // sf0.1 against a 0.25 s line.
    //
    // Window extraction splits the text to a char array ONCE and takes
    // each window as an O(L) slice. The direct form — substring(text,
    // i, 30) inside the position transform — re-walks the UTF-8 string
    // from the start on every call (UTF8String.substring is O(i)), so
    // ONE long document turns the whole entry into an O(len²)
    // single-straggler task: the r16 adversarial corpus' 500 kB
    // mega-doc is ~10^11 interpreted char steps that way (observed >20
    // CPU-min, the same re-walk trap cdcCutsSql documents) and ~10^7
    // as slices. The DuckDB mirror has the identical trap in substr()
    // and no cheap char-array slice, so it windows in two levels:
    // 1029-char extended segments cut once (O(len²/1000) scan total),
    // then stride-1 windows local to a segment (O(j≤1000) each) —
    // validated equal to the naive shape on 30/1000/1029/1030/2000-char
    // edges and 330× faster on the mega-doc. Then the per-DOC
    // gaps-and-islands
    // interval union (running max + run cumsum + per-run min/max — all
    // windows partitioned by doc_id). The explode factor (~n_chars
    // rows/doc) is the price the paper's suffix array also pays, here
    // shuffling 12 bytes per window. DuplicatedWindowSpec pins the
    // degenerate one-character corpus. ----------------------------------
    QDef("p103_dup_span_coverage",
      (s, dir) => {
        val L = 30
        def wins = docs(s, dir)
          .filter(length(col("text")) >= L)
          .select(col("doc_id"), expr("split(text, '')").as("chs"),
            (length(col("text")) - (L - 1)).as("nw"))
          .select(col("doc_id"), explode(expr(
            s"transform(sequence(1, nw)," +
              s" i -> struct(i AS st, array_join(slice(chs, i, $L), '') AS w))")).as("u"))
          .select(col("doc_id"), col("u.st").as("st"), md560(col("u.w")).as("h"))
        val dupH = wins.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 2)
          .select(col("h"))
        val dup = wins.join(dupH, "h")
          .select(col("doc_id"), col("st"), (col("st") + L - 1).as("en"))
        val wd = Window.partitionBy(col("doc_id")).orderBy(col("st"))
        val runs = dup
          .withColumn("pmax", max(col("en"))
            .over(wd.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("nr", when(col("pmax").isNull ||
            col("st") > col("pmax") + 1, 1L).otherwise(0L))
          .withColumn("run", sum(col("nr"))
            .over(wd.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("doc_id"), col("run"))
          .agg(min(col("st")).as("rs"), max(col("en")).as("re"))
        val per = runs.groupBy(col("doc_id"))
          .agg(sum(col("re") - col("rs") + 1).as("dc"),
            count(lit(1)).as("nr2"))
        docs(s, dir)
          .select(col("doc_id"), col("source"),
            length(col("text")).cast("long").as("n_chars"))
          .join(per, Seq("doc_id"), "left")
          .withColumn("n_runs", coalesce(col("nr2"), lit(0L)))
          .withColumn("dup_chars", coalesce(col("dc"), lit(0L)))
          .withColumn("cov_r",
            round(col("dup_chars").cast("double") / col("n_chars"), 6))
          .select(col("doc_id"), col("source"), col("n_chars"),
            col("n_runs"), col("dup_chars"), col("cov_r"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH base AS (
          SELECT doc_id, source, text, length(text) AS len FROM documents),
        segs AS (
          SELECT doc_id, len, k, substr(text, k * 1000 + 1, 1029) AS seg
          FROM base, LATERAL (SELECT unnest(range(0,
            CAST(ceil((len - 29) / 1000.0) AS BIGINT))) AS k)
          WHERE len >= 30),
        w0 AS (
          SELECT doc_id, unnest([{'st': k * 1000 + j, 'w': substr(seg, j, 30)}
            FOR j IN range(1, least(1000, len - k * 1000 - 29) + 1)]) AS u
          FROM segs),
        ws AS (SELECT doc_id, u.st AS st, ${duckMd560("u.w")} AS h FROM w0),
        dup AS (SELECT doc_id, st, st + 29 AS en
          FROM (SELECT doc_id, st, COUNT(*) OVER (PARTITION BY h) AS cnt FROM ws)
          WHERE cnt >= 2),
        isl AS (SELECT doc_id, st, en,
            MAX(en) OVER (PARTITION BY doc_id ORDER BY st
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
          FROM dup),
        rn AS (SELECT doc_id, st, en,
            SUM(CASE WHEN pmax IS NULL OR st > pmax + 1 THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY st
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
          FROM isl),
        runs AS (SELECT doc_id, run, MIN(st) AS rs, MAX(en) AS re
          FROM rn GROUP BY 1, 2),
        per AS (SELECT doc_id, CAST(SUM(re - rs + 1) AS BIGINT) AS dup_chars,
            CAST(COUNT(*) AS BIGINT) AS n_runs
          FROM runs GROUP BY 1)
        SELECT b.doc_id, b.source, CAST(b.len AS BIGINT) AS n_chars,
          COALESCE(p.n_runs, 0) AS n_runs,
          COALESCE(p.dup_chars, 0) AS dup_chars,
          round(CAST(COALESCE(p.dup_chars, 0) AS DOUBLE) / b.len, 6) AS cov_r
        FROM base b LEFT JOIN per p ON p.doc_id = b.doc_id
        ORDER BY b.doc_id"""))
  ) ++ monitoringDefs

  /** Poisson(1) CDF thresholds on the 16-bit hash scale, computed ONCE
    * at plan build (the p83 DCG-weight discipline — exp only runs in
    * Scala) and rendered as the same literal CASE into both dialects:
    * the bootstrap weight of row r in replica b is the Poisson(1)
    * quantile of its 16-bit hash — the Poisson bootstrap's
    * one-pass-per-replica resampling, derandomized. */
  private val poisThresholds: Seq[Long] = {
    var acc = 0.0
    (0 to 5).map { k =>
      acc += math.exp(-1.0) / (1 to k).foldLeft(1L)(_ * _)
      math.floor(acc * 65536.0).toLong
    }
  }
  private def poisCase(u: String): String =
    "CASE " + poisThresholds.zipWithIndex.map { case (t, k) =>
      s"WHEN ($u) < $t THEN $k" }.mkString(" ") +
      " ELSE 6 END"

  /** Wald's SPRT boundaries and Bernoulli log-likelihood increments as
    * integer-scaled PLAN-BUILD literals (the p83 DCG-weight discipline:
    * the only ln calls happen in Scala at plan construction and the
    * same scaled integers render into both dialects, so the whole LLR
    * trajectory is exact BIGINT arithmetic). H0: p = 0.15 vs
    * H1: p = 0.25; alpha = beta = 0.05. */
  private val sprtP0 = 0.15
  private val sprtP1 = 0.25
  private def sl(x: Double): Long = math.round(math.log(x) * 1e8)
  // private[graft]: the streaming monitors (EventStreams.sprtMonitorStream)
  // carry the SAME scaled literals so the stream=batch parity is exact
  private[graft] val sprtL1: Long = sl(sprtP1 / sprtP0)
  private[graft] val sprtL0: Long = sl((1.0 - sprtP1) / (1.0 - sprtP0))
  private[graft] val sprtA: Long = sl(0.95 / 0.05)
  private[graft] val sprtB: Long = sl(0.05 / 0.95)

  /** Sequential/monitoring analytics over event-time hours. The hourly
    * aggregation is the only corpus-scaled shuffle; every cumulative
    * window runs over the DISTINCT-HOUR table, whose cardinality is
    * bounded by the time span, not the event volume — the same
    * boundedness class as the vocabulary/value-domain windows. */
  private def monitoringDefs(implicit knobs: Knobs): Seq[QDef] = Seq(

    // ---- Wald SPRT on the treatment arm (p104): sequential testing is
    // HOW a production experiment monitor decides — a fixed-n z-test
    // (p94) peeked at hourly would inflate alpha; the SPRT's
    // likelihood-ratio boundaries keep alpha/beta by construction
    // (Wald 1945). Per event-time hour, the variant-1 arm's cumulative
    // conversions C and trials N give LLR = C·l1 + (N−C)·l0 — exact
    // BIGINT with the scaled-literal increments — and the decision
    // reads off the A/B boundaries; `decided_at` pins the FIRST
    // crossing hour. -----------------------------------------------------
    QDef("p104_sprt",
      (s, dir) => {
        val hourly = t(s, dir, "events")
          .filter(col("user_id") % 2 === 1)
          .groupBy(date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("c"))
        val wh = Window.orderBy(col("hour"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val traj = hourly
          .withColumn("n_cum", sum(col("n")).over(wh))
          .withColumn("c_cum", sum(col("c")).over(wh))
          .withColumn("llr_s",
            col("c_cum") * sprtL1 + (col("n_cum") - col("c_cum")) * sprtL0)
          .withColumn("decision",
            when(col("llr_s") >= sprtA, "accept_h1")
              .when(col("llr_s") <= sprtB, "accept_h0")
              .otherwise("continue"))
        val first = traj.filter(col("decision") =!= "continue")
          .agg(min(col("hour")).as("decided_at"))
        traj.crossJoin(broadcast(first))
          .select(col("hour"), col("n_cum"), col("c_cum"), col("llr_s"),
            col("decision"), col("decided_at"))
          .orderBy(col("hour"))
      },
      Some(s"""WITH hourly AS (
          SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
            CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c
          FROM events WHERE user_id % 2 = 1 GROUP BY 1),
        traj AS (SELECT hour,
            CAST(SUM(n) OVER w AS BIGINT) AS n_cum,
            CAST(SUM(c) OVER w AS BIGINT) AS c_cum
          FROM hourly
          WINDOW w AS (ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        sc AS (SELECT hour, n_cum, c_cum,
            c_cum * ${sprtL1} + (n_cum - c_cum) * ${sprtL0} AS llr_s
          FROM traj),
        dc AS (SELECT hour, n_cum, c_cum, llr_s,
            CASE WHEN llr_s >= ${sprtA} THEN 'accept_h1'
                 WHEN llr_s <= ${sprtB} THEN 'accept_h0'
                 ELSE 'continue' END AS decision
          FROM sc),
        fst AS (SELECT MIN(hour) AS decided_at FROM dc WHERE decision <> 'continue')
        SELECT dc.hour, dc.n_cum, dc.c_cum, dc.llr_s, dc.decision,
          fst.decided_at AS decided_at
        FROM dc, fst ORDER BY dc.hour""")),

    // ---- one-sided CUSUM drift alarm on hourly volume (p105): Page
    // 1954's cumulative-sum chart, the standard changepoint monitor.
    // S_t = max(0, S_{t-1} + x_t − k) rewritten to its prefix form
    // S_t = P_t − min(0, min_{j<=t} P_j) with P = the running sum of
    // (x·10⁶ − k_s) — two cumulative windows over the bounded
    // distinct-hour table instead of a sequential recursion, exact
    // BIGINT throughout. k = the overall mean hourly volume (exact
    // integer division), alarm at 3k above reference. --------------------
    QDef("p105_cusum",
      (s, dir) => {
        val hourly = t(s, dir, "events")
          .groupBy(date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("x"))
        val ref = hourly.agg(
          (sum(col("x")) * 1000000L).as("tot"), count(lit(1)).as("nh"))
          .select(expr("tot div nh").as("k_s"))
        val wh = Window.orderBy(col("hour"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        hourly.crossJoin(broadcast(ref))
          .withColumn("p_s", sum(col("x") * 1000000L - col("k_s")).over(wh))
          .withColumn("minp", min(col("p_s")).over(wh))
          .withColumn("cusum_s", col("p_s") - least(col("minp"), lit(0L)))
          .withColumn("alarm", col("cusum_s") > col("k_s") * 3)
          .select(col("hour"), col("x"), col("k_s"), col("cusum_s"),
            col("alarm"))
          .orderBy(col("hour"))
      },
      Some("""WITH hourly AS (
          SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
            CAST(COUNT(*) AS BIGINT) AS x
          FROM events GROUP BY 1),
        ref AS (SELECT CAST((SUM(x) * 1000000) // COUNT(*) AS BIGINT) AS k_s
          FROM hourly),
        pr AS (SELECT hour, x, k_s,
            CAST(SUM(x * 1000000 - k_s) OVER w AS BIGINT) AS p_s
          FROM hourly, ref
          WINDOW w AS (ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        cu AS (SELECT hour, x, k_s, p_s,
            CAST(MIN(p_s) OVER (ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS minp
          FROM pr)
        SELECT hour, x, k_s, p_s - least(minp, 0) AS cusum_s,
          (p_s - least(minp, 0)) > k_s * 3 AS alarm
        FROM cu ORDER BY hour""")),

    // ---- robust outlier flags by median/MAD (p106): mean/stddev
    // outlier rules (p77's z-scores) are themselves distorted by the
    // outliers they hunt; the robust pair — median and the median
    // absolute deviation — is the standard hardened form. BOTH medians
    // come from p92's bounded distinct-value cumsum (doc length, then
    // |x − med| — both bounded integer domains; no global sort), and
    // the flag |x − med|·10000 > 44478·MAD is the 3σ-equivalent rule
    // (3·1.4826 = 4.4478, the normal-consistency constant) as PURE
    // integer arithmetic — no float anywhere in the entry. ---------------
    QDef("p106_robust_outliers",
      (s, dir) => {
        def medianOf(d: DataFrame, vcol: String): DataFrame = {
          val h = d.groupBy(col(vcol).as("v")).agg(count(lit(1)).as("n"))
          val cum = h.withColumn("cum", sum(col("n")).over(Window.orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          val tot = d.agg(count(lit(1)).as("total"))
          cum.crossJoin(broadcast(tot))
            .filter(col("cum") * 2 >= col("total"))
            .agg(min(col("v")).as("med"))
        }
        val base = docs(s, dir).select(col("doc_id"), col("n_chars"))
        val med = medianOf(base, "n_chars")
        val dev = base.crossJoin(broadcast(med))
          .withColumn("adev", abs(col("n_chars") - col("med")))
        val mad = medianOf(dev.select(col("adev")), "adev")
          .withColumnRenamed("med", "mad")
        dev.crossJoin(broadcast(mad))
          .withColumn("is_outlier",
            col("adev") * 10000L > lit(44478L) * col("mad"))
          .select(col("doc_id"), col("n_chars"), col("med"), col("adev"),
            col("mad"), col("is_outlier"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH h1 AS (SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS n
          FROM documents GROUP BY 1),
        c1 AS (SELECT v, CAST(SUM(n) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM h1),
        t1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM documents),
        m1 AS (SELECT MIN(v) AS med FROM c1, t1 WHERE cum * 2 >= total),
        dv AS (SELECT doc_id, n_chars, m1.med AS med,
            abs(n_chars - m1.med) AS adev
          FROM documents, m1),
        h2 AS (SELECT adev AS v, CAST(COUNT(*) AS BIGINT) AS n FROM dv GROUP BY 1),
        c2 AS (SELECT v, CAST(SUM(n) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM h2),
        m2 AS (SELECT MIN(v) AS mad FROM c2, t1 WHERE cum * 2 >= total)
        SELECT dv.doc_id, dv.n_chars, dv.med, dv.adev, m2.mad AS mad,
          dv.adev * 10000 > 44478 * m2.mad AS is_outlier
        FROM dv, m2 ORDER BY dv.doc_id""")),

    // ---- Kaplan-Meier time-to-conversion (p107): the survival view of
    // activation — hours from each user's FIRST event to their FIRST
    // purchase, administratively censored at a 24-hour follow-up
    // horizon (the standard fixed-window design; horizon-crossers and
    // never-converters censor at 24). The KM estimator's product
    // Π(1 − d_j/n_j) is carried in sln log space: each time point's
    // term sln(n_j − d_j) − sln(n_j) is an exact BIGINT of exact
    // integer counts, so the cumulative log-survival trajectory is
    // engine-identical (a risk set fully eventing floors at
    // greatest(…,1) and is flagged). Durations come from unix_micros
    // integer arithmetic (no float time math); the cumulative windows
    // run over the DISTINCT-DURATION table, bounded by the 25-value
    // horizon domain. One user-keyed aggregation is the only
    // corpus-scaled shuffle. ----------------------------------------------
    QDef("p107_kaplan_meier",
      (s, dir) => {
        val firsts = t(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(min(col("ts")).as("fe"),
            min(when(col("event_type") === "purchase", col("ts"))).as("fp"))
        val du = firsts
          .withColumn("dur_h", expr(
            "CASE WHEN fp IS NOT NULL THEN (unix_micros(fp) - unix_micros(fe)) div 3600000000 END"))
          .withColumn("evt", col("dur_h").isNotNull && col("dur_h") <= 24)
          .withColumn("d",
            when(col("evt"), col("dur_h")).otherwise(lit(24L)))
        val pts = du.groupBy(col("d")).agg(
          sum(when(col("evt"), 1L).otherwise(0L)).as("d_t"),
          sum(when(!col("evt"), 1L).otherwise(0L)).as("c_t"))
        val tot = du.agg(count(lit(1)).as("total"))
        val whPrev = Window.orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wh = Window.orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pts.crossJoin(broadcast(tot))
          .withColumn("n_risk", col("total") -
            coalesce(sum(col("d_t") + col("c_t")).over(whPrev), lit(0L)))
          .withColumn("term", when(col("d_t") > 0,
            expr(s"${sln("greatest(n_risk - d_t, 1)")} - ${sln("n_risk")}"))
            .otherwise(lit(0L)))
          .withColumn("km_s", sum(col("term")).over(wh))
          .withColumn("extinct", max(col("d_t") === col("n_risk")).over(wh))
          .select(col("d"), col("n_risk"), col("d_t"), col("c_t"),
            col("km_s"), col("extinct"))
          .orderBy(col("d"))
      },
      Some(s"""WITH firsts AS (
          SELECT user_id, MIN(ts) AS fe,
            MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
          FROM events GROUP BY 1),
        du AS (SELECT user_id,
            CASE WHEN fp IS NOT NULL
              THEN (epoch_us(fp) - epoch_us(fe)) // 3600000000 END AS dur_h
          FROM firsts),
        dd AS (SELECT user_id,
            (dur_h IS NOT NULL AND dur_h <= 24) AS evt,
            CASE WHEN dur_h IS NOT NULL AND dur_h <= 24
              THEN dur_h ELSE 24 END AS d
          FROM du),
        pts AS (SELECT d,
            CAST(SUM(CASE WHEN evt THEN 1 ELSE 0 END) AS BIGINT) AS d_t,
            CAST(SUM(CASE WHEN evt THEN 0 ELSE 1 END) AS BIGINT) AS c_t
          FROM dd GROUP BY 1),
        tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM dd),
        rk AS (SELECT d, d_t, c_t,
            tt.total - CAST(COALESCE(SUM(d_t + c_t) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
          FROM pts, tt),
        tm AS (SELECT d, n_risk, d_t, c_t,
            CASE WHEN d_t > 0
              THEN ${sln("greatest(n_risk - d_t, 1)")} - ${sln("n_risk")}
              ELSE CAST(0 AS BIGINT) END AS term
          FROM rk)
        SELECT d, n_risk, d_t, c_t,
          CAST(SUM(term) OVER (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS km_s,
          CAST(MAX(CASE WHEN d_t = n_risk THEN 1 ELSE 0 END) OVER (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BOOLEAN) AS extinct
        FROM tm ORDER BY d""")),

    // ---- Poisson bootstrap CI (p108): the scale-out bootstrap — each
    // of B = 200 replicas weights every row by an independent
    // Poisson(1) count, which approximates multinomial resampling
    // without ever materializing a resample (the one bootstrap that
    // works in one pass over distributed data). Derandomized: the
    // weight is the Poisson(1) quantile of a 16-bit md5 of
    // (event_id, replica), with the CDF thresholds computed at plan
    // build and rendered as the same literal CASE into both engines —
    // zero runtime randomness, zero runtime exp. Replica means are
    // exact-DECIMAL-sum ratios; the CI reads the 2.5th/97.5th
    // percentile replica means off a cumulative count over the
    // B-row replica table (B is a dial-class bound — the PQ-SDC
    // bounded-state argument, NOT corpus-scaled). The corpus-scaled
    // work is ONE explode×B aggregation; at 100 TB B caps the blowup
    // and each exploded row is (replica, weight, value) slim. ------------
    QDef("p108_poisson_bootstrap",
      (s, dir) => {
        val B = 200
        // ONE md5 per (row, replica): the 16-bit uniform is a single
        // conv of the hash prefix, not a per-digit re-hash
        val u = "CAST(conv(substring(md5(concat('bs:', CAST(event_id AS STRING), " +
          "':', CAST(b AS STRING))), 1, 4), 16, 10) AS BIGINT)"
        val pv = t(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), d(col("value")).as("vd"))
        // a replica whose Poisson weights are ALL zero (P = e^-n) has no
        // mean; both engines drop it BEFORE ranking — otherwise its NULL
        // replica mean sorts first in Spark and last in DuckDB and the
        // percentile ranks diverge cross-engine (r13 ADVICE)
        // spread the ×B explode (one md5 + Poisson-CDF CASE per
        // exploded row — the line's entire cost) across the executor
        // width (r17; measured 5.9 executor-s over 10 tasks pre-spread)
        val reps = spread(s, pv)
          .select(col("event_id"), col("vd"),
            explode(expr(s"sequence(0, ${B - 1})")).as("b"))
          .withColumn("u", expr(u))
          .withColumn("w", expr(poisCase("u")).cast("long"))
          .groupBy(col("b"))
          .agg(sum(col("w") * col("vd")).as("swv"), sum(col("w")).as("sw"))
          .filter(col("sw") > 0)
          .select(col("b"), (col("swv").cast("double") / col("sw")).as("m"))
        // percentile ranks scale to the SURVIVING replica count (= B on
        // any non-degenerate corpus, so values are unchanged there): a
        // tiny-n corpus can drop enough replicas that a literal-B upper
        // threshold would select over an empty set
        val wc = Window.orderBy(col("m"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val nrep = reps.agg(count(lit(1)).as("nb"))
        val ranked = reps.withColumn("rk", count(lit(1)).over(wc))
          .crossJoin(broadcast(nrep))
        val lo = ranked.filter(col("rk") * 40 >= col("nb"))
          .agg(min(col("m")).as("ci_lo"))
        val hi = ranked.filter(col("rk") * 40 >= lit(39L) * col("nb"))
          .agg(min(col("m")).as("ci_hi"))
        val pt = pv.agg(count(lit(1)).as("n"),
          (sum(col("vd")).cast("double") / count(lit(1))).as("mean"))
        pt.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
          .select(col("n"), round(col("mean"), 6).as("mean_r"),
            lit(B.toLong).as("b"),
            round(col("ci_lo"), 6).as("ci_lo_r"),
            round(col("ci_hi"), 6).as("ci_hi_r"))
      },
      Some {
        val uChain = (1 to 4).map(i =>
          s"(instr('0123456789abcdef', substr(h, $i, 1)) - 1)")
          .reduce((acc, d0) => s"($acc * 16 + $d0)")
        s"""WITH pv AS (
          SELECT event_id, CAST(CAST(value AS DOUBLE) AS DECIMAL(12,2)) AS vd
          FROM events WHERE event_type = 'purchase'),
        ex AS (SELECT event_id, vd, unnest(range(0, 200)) AS b FROM pv),
        uu AS (SELECT vd, b, $uChain AS u
          FROM (SELECT vd, b,
            md5('bs:' || CAST(event_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)) AS h
          FROM ex)),
        reps AS (
          SELECT b,
            CAST(SUM(CAST(${poisCase("u")} AS BIGINT) * vd) AS DOUBLE)
              / SUM(CAST(${poisCase("u")} AS BIGINT)) AS m
          FROM uu GROUP BY b
          HAVING SUM(CAST(${poisCase("u")} AS BIGINT)) > 0),
        nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM reps),
        rk AS (SELECT m, CAST(COUNT(*) OVER (ORDER BY m
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rk
          FROM reps),
        lo AS (SELECT MIN(m) AS ci_lo FROM rk, nb WHERE rk * 40 >= nb.nb),
        hi AS (SELECT MIN(m) AS ci_hi FROM rk, nb WHERE rk * 40 >= 39 * nb.nb),
        pt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(vd) AS DOUBLE) / COUNT(*) AS mean
          FROM pv)
        SELECT pt.n, round(pt.mean, 6) AS mean_r, CAST(200 AS BIGINT) AS b,
          round(lo.ci_lo, 6) AS ci_lo_r, round(hi.ci_hi, 6) AS ci_hi_r
        FROM pt, lo, hi"""
      }),

    // ---- the streaming A/B monitor's batch readback (p109): the SAME
    // function (EventStreams.abMonitorStream) evaluated over the static
    // events table — Spark eliminates the watermark on batch input, the
    // hourly window groupBy runs as a plain aggregation, and every
    // column (z tree included) is the streaming code path, so the SQL
    // surface (TABLE(AB_MONITOR())) serves exactly what the live
    // monitor emits per closed hour. The per-hour z is the EVENT-level
    // conversion unit (the monitor's documented stateless trade), which
    // is why this is a separate readback from p94's per-user z. One
    // corpus-scaled shuffle (the hourly aggregation), rows bounded by
    // the time span. ------------------------------------------------------
    QDef("p109_ab_monitor",
      (s, dir) => graft.streaming.EventStreams
        .abMonitorStream(t(s, dir, "events"))
        // the stream's three-valued `significant` (NULL = the hour had
        // no testable split) presents as FALSE on the SQL surface: an
        // undecided hour is by definition not a significant one, and a
        // two-valued boolean is what downstream WHERE clauses expect
        .withColumn("significant", coalesce(col("significant"), lit(false)))
        .orderBy(col("hour")),
      Some("""WITH hourly AS (
          SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
            CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
            CAST(SUM(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
              THEN 1 ELSE 0 END) AS BIGINT) AS c0,
            CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            CAST(SUM(CASE WHEN user_id % 2 = 1 AND event_type = 'purchase'
              THEN 1 ELSE 0 END) AS BIGINT) AS c1
          FROM events GROUP BY 1),
        z AS (SELECT hour, n0, c0, n1, c1,
            CASE WHEN n0 > 0 AND n1 > 0 AND c0 + c1 > 0 AND c0 + c1 < n0 + n1
              THEN round((CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
                / sqrt(((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (CAST(1 AS DOUBLE) - CAST(c0 + c1 AS DOUBLE) / (n0 + n1)))
                  * (CAST(n0 + n1 AS DOUBLE) / CAST(n0 * n1 AS DOUBLE))), 6)
            END AS z_r
          FROM hourly)
        SELECT hour, n0, c0, n1, c1, z_r,
          COALESCE(abs(z_r) >= 1.959964, FALSE) AS significant
        FROM z ORDER BY hour""")),

    // ---- the streaming Welch monitor's batch readback (p110): same
    // discipline as p109 — EventStreams.welchMonitorStream evaluated
    // over the static events table, so TABLE(WELCH_MONITOR()) serves
    // the live monitor's per-hour rows. Decimal-exact conditional sums
    // cast to double once; Welch's t per hour on purchase VALUE between
    // the parity arms; NULL t when either arm has < 2 purchases or the
    // variance term is zero. -----------------------------------------------
    QDef("p110_welch_monitor",
      (s, dir) => graft.streaming.EventStreams
        .welchMonitorStream(t(s, dir, "events"))
        .orderBy(col("hour")),
      Some("""WITH hourly AS (
          SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
            CAST(SUM(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
              THEN 1 ELSE 0 END) AS BIGINT) AS n0,
            CAST(SUM(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
              THEN CAST(CAST(value AS DECIMAL(12,2)) AS DECIMAL(25,4))
              ELSE CAST(0 AS DECIMAL(25,4)) END) AS DOUBLE) AS sv0,
            CAST(SUM(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
              THEN CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))
              ELSE CAST(0 AS DECIMAL(25,4)) END) AS DOUBLE) AS sv20,
            CAST(SUM(CASE WHEN user_id % 2 = 1 AND event_type = 'purchase'
              THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            CAST(SUM(CASE WHEN user_id % 2 = 1 AND event_type = 'purchase'
              THEN CAST(CAST(value AS DECIMAL(12,2)) AS DECIMAL(25,4))
              ELSE CAST(0 AS DECIMAL(25,4)) END) AS DOUBLE) AS sv1,
            CAST(SUM(CASE WHEN user_id % 2 = 1 AND event_type = 'purchase'
              THEN CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))
              ELSE CAST(0 AS DECIMAL(25,4)) END) AS DOUBLE) AS sv21
          FROM events GROUP BY 1),
        m AS (SELECT hour, n0, n1,
            CASE WHEN n0 > 0 THEN sv0 / n0 END AS m0,
            CASE WHEN n1 > 0 THEN sv1 / n1 END AS m1,
            CASE WHEN n0 >= 2
              THEN ((sv20 - (sv0 * sv0) / n0) / (n0 - 1)) / n0 END AS vn0,
            CASE WHEN n1 >= 2
              THEN ((sv21 - (sv1 * sv1) / n1) / (n1 - 1)) / n1 END AS vn1
          FROM hourly)
        SELECT hour, n0, n1, round(m0, 6) AS m0_r, round(m1, 6) AS m1_r,
          CASE WHEN n0 >= 2 AND n1 >= 2 AND vn0 + vn1 > CAST(0 AS DOUBLE)
            THEN round((m0 - m1) / sqrt(vn0 + vn1), 6)
          END AS t_r
        FROM m ORDER BY hour"""))
  )

  // ---- helpers for the p87 excess-loss family --------------------------

  /** Per-document excess-loss front shared by p87 (exact global-rank
    * readout) and p87c (histogram-cut sketch): every document scored
    * under BOTH the English-reference LM and the whole-corpus LM;
    * excess = nll_corpus − nll_ref derives from ONE exact integer
    * difference (both sums are sln-scaled BIGINTs over the same bigram
    * rows). Columns: (doc_id, n_bigrams, nll_ref, nll_corpus,
    * excess_r) plus the raw sums. */
  private def excessPerDoc(s: SparkSession, dir: String): DataFrame = {
    val ref = lmDocNll(s, dir).select(col("doc_id"), col("n_bigrams"),
      col("nll_sum").as("ref_sum"), col("nll").as("nll_ref"))
    val (m2a, m1a, va) = lmModelAll(s, dir)
    val cor = lmDocNllOn(s, dir, m2a, m1a, va).select(col("doc_id"),
      col("nll_sum").as("cor_sum"), col("nll").as("nll_corpus"))
    ref.join(cor, "doc_id")
      .withColumn("excess_r", round(
        (col("cor_sum") - col("ref_sum")).cast("double") /
          lit(100000000.0) / col("n_bigrams"), 6))
  }

  /** p87c's sketch side: (doc_id, cut_r, kept_sk) — the keep decision
    * from a fixed 1024-bucket histogram of excess_r (bucket width 1/64
    * covering [-8, 8), extremes clamped) with NO window operator
    * anywhere in the plan (PlanAssertionsSpec pins this): the
    * cumulative histogram is a ≤1024-row self-join, the interpolated
    * 3/4-mass cut a one-row broadcast, the decision a literal
    * comparison. This is the form that survives 100 TB — the per-doc
    * side is embarrassingly parallel and the only synchronization is
    * the bounded histogram aggregate, where p87's exact readout funnels
    * every row through one row_number() reducer. */
  private[graft] def excessSketch(s: SparkSession, dir: String): DataFrame = {
    val ex = excessPerDoc(s, dir).select(col("doc_id"), col("excess_r"))
    val xb = ex.withColumn("b", expr(
      "least(1023, greatest(0, CAST(floor((excess_r + 8.0) * 64.0) AS INT)))"))
    val hb = xb.groupBy(col("b")).agg(count(lit(1)).as("n"))
    val nt = hb.agg(sum(col("n")).as("nt"))
    val h2 = hb.select(col("b").as("b2"), col("n").as("n2"))
    // non-equi self-join over the ≤1024-row histogram: broadcast the
    // probe copy or Spark plans an actual CartesianProduct
    val cum = hb.join(broadcast(h2), col("b2") <= col("b"))
      .groupBy(col("b"), col("n")).agg(sum(col("n2")).as("cum"))
    val cut = cum.crossJoin(broadcast(nt))
      .filter(expr("CAST(cum AS DOUBLE) >= CAST(nt AS DOUBLE) * 3.0 / 4.0"))
      .orderBy(col("b")).limit(1)
      .select(expr("round((CAST(b AS DOUBLE) + (CAST(nt AS DOUBLE) * 3.0 / 4.0" +
        " - CAST(cum - n AS DOUBLE)) / n) / 64.0 - 8.0, 6)").as("cut_r"))
    xb.crossJoin(broadcast(cut))
      .select(col("doc_id"), col("cut_r"),
        (col("excess_r") > col("cut_r")).as("kept_sk"))
  }

  /** The DuckDB mirror of [[excessPerDoc]] (appends to
    * [[duckLmScoreCtes]]; final CTE `ex`). */
  private def duckExcessCtes: String = s"""$duckLmScoreCtes,
        allv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
          FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
        am2 AS MATERIALIZED (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        am1 AS MATERIALIZED (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
        sc2 AS (SELECT g.doc_id,
            ${sln("coalesce(m1.c1, 0) + allv.v")} - ${sln("coalesce(m2.c2, 0) + 1")} AS nls
          FROM bg g CROSS JOIN allv
          LEFT JOIN am2 m2 ON g.w1 = m2.w1 AND g.w2 = m2.w2
          LEFT JOIN am1 m1 ON g.w1 = m1.w1),
        ds2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams2,
            sum(nls) AS nll_sum2
          FROM sc2 GROUP BY 1),
        ex AS (SELECT d.doc_id, d.n_bigrams,
            round(CAST(d.nll_sum AS DOUBLE) / 100000000.0 / d.n_bigrams, 6) AS nll_ref,
            round(CAST(d2.nll_sum2 AS DOUBLE) / 100000000.0 / d.n_bigrams, 6) AS nll_corpus,
            round(CAST(d2.nll_sum2 - d.nll_sum AS DOUBLE) / 100000000.0 / d.n_bigrams, 6)
              AS excess_r
          FROM ds d JOIN ds2 d2 ON d2.doc_id = d.doc_id)"""

  // ---- helpers for the p90 rank-fusion family --------------------------

  /** The three pinned quality signals the fusion family combines:
    * heuristic quality (p09), trained-classifier probability (p55's
    * staged-weight scoring), Flesch readability (p82). */
  private def fusionSignals(s: SparkSession, dir: String)(implicit knobs: Knobs)
      : (DataFrame, DataFrame, DataFrame) = (
    entry("p09_quality_score").fn(s, dir)
      .select(col("doc_id"), col("quality")),
    lrDocScores(s, dir).select(col("doc_id"), col("score_r")),
    readabilityPerDoc(s, dir).select(col("doc_id"), col("fre_r")))

  /** p90's exact Borda fusion: one ascending global rank per signal
    * (doc_id ties), integer rank sum, kept = top quarter by (borda,
    * doc_id). The global sorts are the validation-scale convenience —
    * p90b is the histogram form that replaces them at 100 TB. */
  private def fusionExact(s: SparkSession, dir: String,
      sig: Option[(DataFrame, DataFrame, DataFrame)] = None)(implicit knobs: Knobs): DataFrame = {
    val (q, l, f) = sig.getOrElse(fusionSignals(s, dir))
    def rk(d: DataFrame, c: String, as: String): DataFrame =
      d.withColumn(as, row_number()
        .over(Window.orderBy(col(c), col("doc_id"))).cast("bigint"))
        .select(col("doc_id"), col(as))
    rk(q, "quality", "rq")
      .join(rk(l, "score_r", "rl"), "doc_id")
      .join(rk(f, "fre_r", "rf"), "doc_id")
      .withColumn("borda", col("rq") + col("rl") + col("rf"))
      .withColumn("rn", row_number()
        .over(Window.orderBy(col("borda").desc, col("doc_id"))).cast("bigint"))
      .withColumn("nd", count(lit(1)).over(Window.partitionBy()))
      .select(col("doc_id"), col("rq"), col("rl"), col("rf"),
        col("borda"), (col("rn") * 4 <= col("nd")).as("kept"))
  }

  /** p90b's sketch side: (doc_id, cut_bucket, kept_sk) with each global
    * rank replaced by its histogram position — the exact count of
    * documents in strictly-LOWER fixed-width buckets (1024 per signal:
    * quality and score_r at width 1/1024 over [0, 1]; Flesch at width
    * 1/4 over [-100, 156), extremes clamped). The position is monotone
    * in the score, so the fused sum preserves Borda order up to bucket
    * width; everything is integer arithmetic, so both engines agree
    * bit-for-bit. The top-quarter cut comes from a second bounded
    * histogram over the fused score (first bucket where 4·cum ≥ 3·n).
    * ZERO window operators in this plan (PlanAssertionsSpec pins it):
    * per-doc work is embarrassingly parallel; the only synchronization
    * is three ≤1024-row histogram aggregates plus one more for the
    * cut. */
  private[graft] def bordaSketch(s: SparkSession, dir: String,
      sig: Option[(DataFrame, DataFrame, DataFrame)] = None)(implicit knobs: Knobs): DataFrame = {
    val (q, l, f) = sig.getOrElse(fusionSignals(s, dir))
    def hrank(d: DataFrame, bucketExpr: String, as: String): DataFrame = {
      val b = d.withColumn("b", expr(bucketExpr)).select(col("doc_id"), col("b"))
      val hb = b.groupBy(col("b")).agg(count(lit(1)).as("n"))
      val h2 = hb.select(col("b").as("b2"), col("n").as("n2"))
      // broadcast the probe copy of the bounded histogram (see
      // excessSketch) — never a CartesianProduct
      val cum = hb.select(col("b"))
        .join(broadcast(h2), col("b2") < col("b"), "left")
        .groupBy(col("b")).agg(coalesce(sum(col("n2")), lit(0L)).as(as))
      b.join(broadcast(cum), "b").select(col("doc_id"), col(as))
    }
    val j = hrank(q,
        "least(1023, greatest(0, CAST(floor(quality * 1024.0) AS INT)))", "rq")
      .join(hrank(l,
        "least(1023, greatest(0, CAST(floor(score_r * 1024.0) AS INT)))", "rl"),
        "doc_id")
      .join(hrank(f,
        "least(1023, greatest(0, CAST(floor((fre_r + 100.0) * 4.0) AS INT)))", "rf"),
        "doc_id")
      .withColumn("borda_sk", col("rq") + col("rl") + col("rf"))
    val nd = j.agg(count(lit(1)).as("nd"))
    val jb = j.crossJoin(broadcast(nd))
      .withColumn("bb", expr("CAST((borda_sk * 1024) div (3 * nd) AS INT)"))
    val hb = jb.groupBy(col("bb")).agg(count(lit(1)).as("n"))
    val h2 = hb.select(col("bb").as("b2"), col("n").as("n2"))
    val cum = hb.join(broadcast(h2), col("b2") <= col("bb"))
      .groupBy(col("bb")).agg(sum(col("n2")).as("cum"))
    val cut = cum.crossJoin(broadcast(nd))
      .filter(col("cum") * 4 >= col("nd") * 3)
      .orderBy(col("bb")).limit(1)
      .select(col("bb").as("cut_bucket"))
    jb.crossJoin(broadcast(cut))
      .select(col("doc_id"), col("cut_bucket"),
        (col("bb") > col("cut_bucket")).as("kept_sk"))
  }

  /** The shared DuckDB preamble of the fusion family: the three signal
    * CTEs (`bq` quality, `lsc` classifier score, `rb` readability) plus
    * p90's exact rank chain ending at `bk` (doc_id, rq, rl, rf, borda,
    * rn, nd). */
  private def duckFusionCtes(implicit knobs: Knobs): String = s"""$duckBigrams,
        $duckDsirFeatures,
        $duckLrChain,
        $duckLrScoreCte,
        bq AS (SELECT doc_id,
            CAST((CASE WHEN len(string_split(text, ' ')) BETWEEN 5 AND 1000 THEN 0.4 ELSE 0.0 END
              + CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END
              + CASE WHEN CAST(length(text) - length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) < 0.1 THEN 0.3 ELSE 0.0 END) AS DOUBLE) AS quality
          FROM documents),
        $duckReadabilityCtes,
        brq AS (SELECT doc_id,
            CAST(ROW_NUMBER() OVER (ORDER BY quality, doc_id) AS BIGINT) AS rq FROM bq),
        brl AS (SELECT doc_id,
            CAST(ROW_NUMBER() OVER (ORDER BY score_r, doc_id) AS BIGINT) AS rl FROM lsc),
        brf AS (SELECT doc_id,
            CAST(ROW_NUMBER() OVER (ORDER BY fre_r, doc_id) AS BIGINT) AS rf FROM rb),
        bj AS (
          SELECT q.doc_id, q.rq, l.rl, f.rf, CAST(q.rq + l.rl + f.rf AS BIGINT) AS borda
          FROM brq q JOIN brl l ON l.doc_id = q.doc_id
          JOIN brf f ON f.doc_id = q.doc_id),
        bk AS (SELECT *,
            CAST(ROW_NUMBER() OVER (ORDER BY borda DESC, doc_id) AS BIGINT) AS rn,
            CAST(COUNT(*) OVER () AS BIGINT) AS nd
          FROM bj)"""

  // ---- helpers for the p84/p85/p86 families ----------------------------

  /** Zipf-fit truncation depth: the per-source top-R word table the OLS
    * runs on — R·sources rows of state at any corpus size. */
  private val zipfR = 256

  /** (source, w, n): exact per-source word frequencies — the shared
    * front of p86/p86b. Vocabulary-bounded, not corpus-bounded. */
  private def sourceWordCounts(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("n"))

  /** The DuckDB half of [[sourceWordCounts]]; final CTE `swc`. */
  private def duckSourceWordCtes: String = s"""swc AS MATERIALIZED (
          SELECT source, w, CAST(COUNT(*) AS BIGINT) AS n
          FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
          GROUP BY 1, 2)"""

  /** Power-iteration rounds and the (asserted) embedding dimensionality
    * the generated oracle CTEs are specialized to. */
  private val pcaIters = 8
  private val pcaD = 64

  /** The driver-bounded PCA fit state: the final component (max-abs
    * 1e6), the Gram max-abs cell, the exact-integer Rayleigh pieces,
    * and the normalized matrix itself (for p84d's deflation). */
  private final case class PcaFit(v: Array[Long], mx: Long, num: Long,
    den: Long, tr: Long, mn: Array[Array[Long]])

  /** Sign-split truncating scaled division — `sign(a)·((|a|·s) div q)` —
    * the ONE rescaling primitive of the power iteration. Spelled this way
    * because Spark's `div`/Scala's `/` truncate toward zero while
    * DuckDB's `//` floors: splitting the sign makes all three agree. */
  private def pcaScale(a: Long, s0: Long, q: Long): Long =
    if (a < 0) -((-a) * s0 / q) else a * s0 / q

  /** p00l: the PCA Gram matrix — d² = [[pcaD]]² BIGINT cells from ONE
    * corpus pass (map-side partial agg) — staged once per input dir.
    * The Gram pass is the ONLY corpus-scaled cost of the p84 family;
    * before staging, each of p84/p84b/p84c/p84d re-ran it per entry
    * (4× the same scan — the r12 verdict's missing #2). The power
    * iteration stays a driver-local walk over the collected d² longs
    * (the PQ-SDC class of bounded collect), so consumers pay one tiny
    * parquet read + microseconds of integer arithmetic. Tag carries
    * the param hash of the iteration/dim/scale contract constants
    * (the CellStage key discipline): a future change to any of them
    * re-keys the staged artifact instead of silently reusing it. */
  private[graft] object PcaStage {
    def load(s: SparkSession, dir: String)(implicit knobs: Knobs): DataFrame = {
      val ph = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$pcaIters-$pcaD-1e8".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(6)
      ShingleStage.stage(s, dir, s"pg$ph") {
        emb(s, dir).select(posexplode(expr(
          """transform(embedding, xi -> transform(embedding, xj ->
               CAST(floor(CAST(xi AS DOUBLE) * CAST(xj AS DOUBLE) * 100000000.0 + 0.5) AS BIGINT)))"""))
          .as(Seq("i", "prow")))
          .select(col("i"), posexplode(col("prow")).as(Seq("j", "p")))
          .groupBy(col("i"), col("j")).agg(sum(col("p")).as("m"))
      }
    }
  }

  /** Collect a FEW-ROW result eagerly, release the given storage, and
    * hand the caller a local relation with the same rows and schema —
    * the discipline that lets an entry pin corpus-scaled materialized
    * fronts only for the duration of its own execution (p85, p90b)
    * instead of leaking them for the session. Only for outputs bounded
    * BY CONSTRUCTION (sources², cut buckets — never corpus-scaled). */
  private def localized(out: DataFrame, release: () => Unit): DataFrame = {
    val rows = out.collect().toSeq
    release()
    out.sparkSession.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, out.schema)
  }

  /** The staged Gram read plus the exact-integer power iteration —
    * driver state d² longs, the PQ-SDC class of bounded `.collect()`. */
  private def pcaFit(s: SparkSession, dir: String)(implicit knobs: Knobs): PcaFit = {
    val cells = PcaStage.load(s, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val d = cells.map(_._1).max + 1
    require(d == pcaD, s"oracle CTEs are specialized to dim $pcaD, got $d")
    val m = Array.ofDim[Long](d, d)
    cells.foreach { case (i, j, x) => m(i)(j) = x }
    val mx = cells.map(c => math.abs(c._3)).max
    val mn = Array.tabulate(d, d)((i, j) => pcaScale(m(i)(j), 100000L, mx))
    var v = Array.fill(d)(1000000L)
    def matvec(u: Array[Long]): Array[Long] =
      Array.tabulate(d)(i => (0 until d).foldLeft(0L)((a, j) => a + mn(i)(j) * u(j)))
    for (_ <- 1 to pcaIters) {
      val w = matvec(v)
      val wx = w.map(math.abs).max
      v = w.map(pcaScale(_, 1000000L, wx))
    }
    val wf = matvec(v)
    val num = (0 until d).foldLeft(0L)((a, i) => a + v(i) * pcaScale(wf(i), 1L, 1000L))
    val den = v.foldLeft(0L)((a, x) => a + x * x)
    val tr = (0 until d).foldLeft(0L)((a, i) => a + mn(i)(i))
    PcaFit(v, mx, num, den, tr, mn)
  }

  /** The SECOND component by Hotelling deflation, exact-integer: the
    * fitted matrix minus λ·u·uᵀ rendered as the mirrored integer formula
    * term_ij = sdiv(lam · sdiv(v_i·v_j, 1e3), den div 1e3) with
    * lam = sdiv(num, den div 1e3), then renormalized to the 1e5 scale by
    * ITS max-abs (restoring the iteration's overflow headroom — deflated
    * entries can reach λ' ≈ trace, 64× the original scale), then the same
    * 8 rounds. Every step is the sign-split truncating division both
    * engines share, so trajectories stay bit-identical. */
  private def pcaFit2(s: SparkSession, dir: String)(
      implicit knobs: Knobs): (PcaFit, Array[Long]) = {
    val fit = pcaFit(s, dir)
    val d = fit.v.length
    val dd = fit.den / 1000L
    val lam = pcaScale(fit.num, 1L, dd)
    val m2 = Array.tabulate(d, d)((i, j) =>
      fit.mn(i)(j) - pcaScale(lam * pcaScale(fit.v(i) * fit.v(j), 1L, 1000L), 1L, dd))
    val mx2 = m2.flatten.map(math.abs).max
    val m2n = Array.tabulate(d, d)((i, j) => pcaScale(m2(i)(j), 100000L, mx2))
    def matvec(u: Array[Long]): Array[Long] =
      Array.tabulate(d)(i => (0 until d).foldLeft(0L)((a, j) => a + m2n(i)(j) * u(j)))
    var v2 = Array.fill(d)(1000000L)
    for (_ <- 1 to pcaIters) {
      val w = matvec(v2)
      val wx = w.map(math.abs).max
      v2 = w.map(pcaScale(_, 1000000L, wx))
    }
    (fit, v2)
  }

  /** The p84d oracle chain appended to [[duckPcaCtes]]: Rayleigh pieces,
    * the integer deflation, renormalization, and [[pcaIters]] more
    * rounds. Final CTE `dv$pcaIters` (j, v). */
  private def duckPcaDeflateCtes: String = {
    val base = s"""        qwf AS MATERIALIZED (
          SELECT mn.i, CAST(SUM(mn.mn * v.v) AS BIGINT) AS w
          FROM pmn mn JOIN pv$pcaIters v ON v.j = mn.j GROUP BY 1),
        qnd AS MATERIALIZED (SELECT
            CAST((SELECT SUM(v.v * (CASE WHEN w.w < 0 THEN -((-w.w) // 1000)
                                    ELSE w.w // 1000 END))
                  FROM pv$pcaIters v JOIN qwf w ON w.i = v.j) AS BIGINT) AS num,
            CAST((SELECT SUM(v * v) FROM pv$pcaIters) AS BIGINT) AS den),
        qlam AS MATERIALIZED (
          SELECT CAST(CASE WHEN num < 0 THEN -((-num) // (den // 1000))
                      ELSE num // (den // 1000) END AS BIGINT) AS lam,
            den // 1000 AS dd
          FROM qnd),
        qraw AS MATERIALIZED (
          SELECT i, j, CAST(mn - (CASE WHEN t2 < 0 THEN -((-t2) // dd)
                            ELSE t2 // dd END) AS BIGINT) AS m
          FROM (
            SELECT m.i, m.j, m.mn, l.dd,
              l.lam * (CASE WHEN a.v * b.v < 0 THEN -((-(a.v * b.v)) // 1000)
                       ELSE (a.v * b.v) // 1000 END) AS t2
            FROM pmn m
            JOIN pv$pcaIters a ON a.j = m.i
            JOIN pv$pcaIters b ON b.j = m.j
            CROSS JOIN qlam l)),
        qmx AS MATERIALIZED (SELECT MAX(ABS(m)) AS x FROM qraw),
        qmn AS MATERIALIZED (
          SELECT i, j, CAST(CASE WHEN m < 0 THEN -((-m) * 100000 // x)
                       ELSE (m * 100000) // x END AS BIGINT) AS mn
          FROM qraw, qmx),
        dv0 AS MATERIALIZED (
          SELECT t.i AS j, CAST(1000000 AS BIGINT) AS v FROM range(0, $pcaD) t(i))"""
    val rounds = (1 to pcaIters).map { k =>
      s"""        dw$k AS MATERIALIZED (
         |          SELECT mn.i, CAST(SUM(mn.mn * v.v) AS BIGINT) AS w
         |          FROM qmn mn JOIN dv${k - 1} v ON v.j = mn.j GROUP BY 1),
         |        dx$k AS MATERIALIZED (SELECT MAX(ABS(w)) AS x FROM dw$k),
         |        dv$k AS MATERIALIZED (
         |          SELECT i AS j, CAST(CASE WHEN w < 0 THEN -((-w) * 1000000 // x)
         |                         ELSE (w * 1000000) // x END AS BIGINT) AS v
         |          FROM dw$k, dx$k)""".stripMargin
    }
    (base +: rounds).mkString(",\n")
  }

  /** The shared PCA oracle chain: Gram matrix -> max-abs normalization ->
    * [[pcaIters]] unrolled power-iteration rounds. Final CTE `pv$pcaIters`
    * (j, v) is the fitted component. */
  private def duckPcaCtes: String = {
    val base = s"""pm AS MATERIALIZED (
          SELECT r1.i AS i, r2.i AS j,
            CAST(SUM(CAST(floor(CAST(e.embedding[r1.i + 1] AS DOUBLE)
              * CAST(e.embedding[r2.i + 1] AS DOUBLE) * 100000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS m
          FROM embeddings e, range(0, $pcaD) r1(i), range(0, $pcaD) r2(i)
          GROUP BY 1, 2),
        pmx AS MATERIALIZED (SELECT MAX(ABS(m)) AS x FROM pm),
        pmn AS MATERIALIZED (
          SELECT i, j, CAST(CASE WHEN m < 0 THEN -((-m) * 100000 // x)
                       ELSE (m * 100000) // x END AS BIGINT) AS mn
          FROM pm, pmx),
        pv0 AS MATERIALIZED (SELECT t.i AS j, CAST(1000000 AS BIGINT) AS v FROM range(0, $pcaD) t(i))"""
    val rounds = (1 to pcaIters).map { k =>
      s"""        pw$k AS MATERIALIZED (
         |          SELECT mn.i, CAST(SUM(mn.mn * v.v) AS BIGINT) AS w
         |          FROM pmn mn JOIN pv${k - 1} v ON v.j = mn.j GROUP BY 1),
         |        px$k AS MATERIALIZED (SELECT MAX(ABS(w)) AS x FROM pw$k),
         |        pv$k AS MATERIALIZED (
         |          SELECT i AS j, CAST(CASE WHEN w < 0 THEN -((-w) * 1000000 // x)
         |                         ELSE (w * 1000000) // x END AS BIGINT) AS v
         |          FROM pw$k, px$k)""".stripMargin
    }
    (base +: rounds).mkString(",\n")
  }

  /** Ordered-direction JS sums: for every ordered source pair (sa, sb),
    * S = Σ over sa's occupied buckets of na·[sln(2·na·Tb) −
    * sln(na·Tb + nb·Ta)] — KL(Pa||M) scaled by Ta·1e8, exact BIGINT.
    * Returns (sums DF (sa, sb, s), totals DF (source, t)). */
  private def jsOrderedSums(s: SparkSession,
      dir: String)(implicit knobs: Knobs): (DataFrame, DataFrame, () => Unit) = {
    // the bucket-count table feeds SIX consumers across the two ordered
    // directions (totals, a-side, b-side per direction); it is bounded
    // at sources x dsirBuckets rows, so one eager Materialize turns
    // every consumer into a read of a tiny materialized table instead
    // of re-running the corpus-scaled tokenize+hash+aggregate
    val cntH = Materialize.tracked(docs(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .select(col("source"), (md560(col("w")) % knobs.dsirBuckets).as("b"))
      .groupBy(col("source"), col("b")).agg(count(lit(1)).as("n")), "jscnt")
    val cnt = cntH.df
    val tot = cnt.groupBy(col("source")).agg(sum(col("n")).as("t"))
    val srcs = tot.select(col("source").as("sb"), col("t").as("tb"))
    val a = cnt.select(col("source").as("sa"), col("b"), col("n").as("na"))
      .join(tot.select(col("source").as("sa"), col("t").as("ta")), "sa")
      .join(broadcast(srcs), col("sa") =!= col("sb"))
    val withB = a.join(
      cnt.select(col("source").as("sb"), col("b"), col("n").as("nb0")),
      Seq("sb", "b"), "left")
      .withColumn("nb", coalesce(col("nb0"), lit(0L)))
    // <= sources^2 rows; checkpointed so the fwd/rev split (and p85b's
    // reuse) reads it instead of re-running the bucket pair join
    val sumsH = Materialize.tracked(withB
      .withColumn("term", col("na") *
        (expr(sln("2 * na * tb")) - expr(sln("na * tb + nb * ta"))))
      .groupBy(col("sa"), col("sb")).agg(sum(col("term")).as("s")), "jsums")
    (sumsH.df, tot, () => { sumsH.release(); cntH.release() })
  }

  /** p85's divergence matrix as the LAZY plan over the materialized
    * fronts, plus their release thunk — the shape PlanAssertionsSpec
    * pins (the published QDef localizes it, so pinning the QDef's plan
    * would only ever see a LocalRelation). Both join sides are
    * <= sources² rows — broadcast beats the size-estimate-blind
    * sort-merge Spark picks for agg outputs. */
  private[graft] def sourceDivergencePlan(s: SparkSession,
      dir: String)(implicit knobs: Knobs): (DataFrame, () => Unit) = {
    val (sab, tot, release) = jsOrderedSums(s, dir)
    val fwd = sab.filter(col("sa") < col("sb"))
    val rev = sab.filter(col("sa") > col("sb"))
      .select(col("sb").as("sa"), col("sa").as("sb"), col("s").as("s_rev"))
    val out = fwd.join(broadcast(rev), Seq("sa", "sb"))
      .join(tot.select(col("source").as("sa"), col("t").as("ta")), "sa")
      .join(tot.select(col("source").as("sb"), col("t").as("tb")), "sb")
      .select(col("sa").as("src_a"), col("sb").as("src_b"),
        col("ta").as("tok_a"), col("tb").as("tok_b"),
        round((col("s").cast("double") / col("ta") +
          col("s_rev").cast("double") / col("tb")) /
          (lit(2.0) * expr("ln(2.0)") * lit(100000000.0)), 6).as("js_r"))
      .orderBy(col("src_a"), col("src_b"))
    (out, release)
  }

  /** The DuckDB half of [[jsOrderedSums]]: final CTEs `jsums` (sa, sb, s)
    * and `jtot` (source, t). */
  private def duckJsCtes(implicit knobs: Knobs): String = s"""jtk AS MATERIALIZED (
          SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        jcnt AS MATERIALIZED (
          SELECT source, (${duckMd560("w")}) % ${knobs.dsirBuckets} AS b,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM jtk GROUP BY 1, 2),
        jtot AS MATERIALIZED (SELECT source, CAST(SUM(n) AS BIGINT) AS t FROM jcnt GROUP BY 1),
        jsums AS MATERIALIZED (
          SELECT a.source AS sa, sb.source AS sb,
            SUM(a.n * (${sln("2 * a.n * sb.t")} -
              ${sln("a.n * sb.t + COALESCE(b.n, 0) * ta.t")})) AS s
          FROM jcnt a
          JOIN jtot ta ON ta.source = a.source
          JOIN jtot sb ON sb.source <> a.source
          LEFT JOIN jcnt b ON b.source = sb.source AND b.b = a.b
          GROUP BY 1, 2)"""

  // ---- helpers for the p80-p83 families ------------------------------

  /** LexRank damping rounds; each round is exact-integer, see p80. */
  private val lexIters = 5

  /** One integer-PageRank round as a DuckDB CTE — the oracle half of
    * p80's Spark loop body, generated from the same constants. */
  private def duckLexIter(k: Int): String =
    s"""        lr$k AS (
       |          SELECT n.doc_id,
       |            CAST(150000 + ((85 * COALESCE(m.mass, 0)) // 100) AS BIGINT) AS r
       |          FROM documents n LEFT JOIN (
       |            SELECT e.dst AS doc_id, SUM(p.r // d.deg) AS mass
       |            FROM ledges e JOIN ldeg d ON d.src = e.src
       |            JOIN lr${k - 1} p ON p.doc_id = e.src
       |            GROUP BY 1) m ON m.doc_id = n.doc_id)""".stripMargin

  /** Winnowing window width (MOSS w): fingerprint density 2/(w+1). */
  private val winnowW = 4

  /** The p82 readability projection on an ARBITRARY (…, text) frame —
    * shared verbatim by the streaming readability gate, so stream and
    * batch scores/bands are definitionally identical. Adds exact integer
    * word / sentence / vowel-group counts, the mirrored Flesch expression
    * rounded to 6 dp (fre_r) and pre-scaled to BIGINT (fre_s), and the
    * band classification over the rounded value; drops `text`. */
  private[graft] def readabilityMetrics(d: DataFrame): DataFrame =
    d.withColumn("words", expr("CAST(size(split(text, ' ')) AS BIGINT)"))
      .withColumn("sentences", expr(
        "CAST(greatest(1, size(regexp_extract_all(text, '[.!?]+', 0))) AS BIGINT)"))
      .withColumn("syllables", expr(
        "CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS BIGINT)"))
      .withColumn("fre_r", expr(
        "round(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences) " +
          "- 84.6 * (CAST(syllables AS DOUBLE) / words), 6)"))
      .withColumn("fre_s", expr(
        "CAST(round((206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences) " +
          "- 84.6 * (CAST(syllables AS DOUBLE) / words)) * 1000000) AS BIGINT)"))
      .withColumn("band", expr(
        "CASE WHEN fre_r >= 90.0 THEN 'very_easy' WHEN fre_r >= 70.0 THEN 'easy' " +
          "WHEN fre_r >= 50.0 THEN 'medium' WHEN fre_r >= 30.0 THEN 'difficult' " +
          "ELSE 'very_difficult' END"))
      .drop("text")

  /** The quantized conformal-score frame shared by batch p93 and the
    * streaming conformal gate: readability metrics + p90b's bounded
    * 1024-bucket quantization + the md5 calibration split. Sharing the
    * projection is what makes stream and batch admission decisions
    * definitionally identical. */
  private[graft] def conformalScored(d: DataFrame): DataFrame =
    readabilityMetrics(d)
      .withColumn("q", expr(
        "least(1023, greatest(0, CAST(floor((fre_r + 100.0) * 4.0) AS INT)))"))
      .withColumn("is_cal", expr(
        "instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 1, 1)) - 1 < 8"))

  /** The fitted conformal threshold for [[conformalScored]] over a batch
    * corpus — the ceil((n_cal+1)/4)-th smallest calibration bucket,
    * p93's exact integer rule (4·cum >= n_cal+1). The collect is ONE
    * bounded row (the PQ-SDC class of driver state); a stream ships it
    * as a literal. */
  private[graft] def conformalThreshold(s: SparkSession, dir: String): Int = {
    val cal = conformalScored(docs(s, dir)
        .select(col("doc_id"), col("source"), col("text")))
      .filter(col("is_cal"))
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
    val row = cal.groupBy(col("q").as("v")).agg(count(lit(1)).as("n"))
      .withColumn("cum", sum(col("n")).over(Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(nCal))
      .filter(col("cum") * 4 >= col("n_cal") + 1)
      .agg(min(col("v")).as("thr"))
      .collect()(0)
    // empty calibration split (possible on a 1-4 doc corpus where every
    // md5 digit lands >= 8): min() is NULL — the gate genuinely cannot be
    // fitted, so refuse with the suite's clean degenerate-corpus error
    // instead of an NPE at the wire (r14 VERDICT "What's wrong" #1)
    if (row.isNullAt(0)) throw new IllegalStateException(
      "conformal threshold cannot be fitted: the calibration split is " +
        "empty (corpus too small for the md5(doc_id) half-split)")
    row.getInt(0)
  }

  /** Per-doc readability frame shared by p82/p82b. */
  private def readabilityPerDoc(s: SparkSession, dir: String): DataFrame =
    readabilityMetrics(
      docs(s, dir).select(col("doc_id"), col("source"), col("text")))

  /** The DuckDB half of [[readabilityPerDoc]]; final CTE `rb`. */
  private def duckReadabilityCtes: String = s"""rf AS (
          SELECT doc_id, source,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
            CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT) AS sentences,
            CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syllables
          FROM documents),
        rb AS (
          SELECT doc_id, source, words, sentences, syllables,
            round(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences) - 84.6 * (CAST(syllables AS DOUBLE) / words), 6) AS fre_r,
            CAST(round((206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences) - 84.6 * (CAST(syllables AS DOUBLE) / words)) * 1000000) AS BIGINT) AS fre_s,
            CASE WHEN round(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences) - 84.6 * (CAST(syllables AS DOUBLE) / words), 6) >= 90.0 THEN 'very_easy'
                 WHEN round(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences) - 84.6 * (CAST(syllables AS DOUBLE) / words), 6) >= 70.0 THEN 'easy'
                 WHEN round(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences) - 84.6 * (CAST(syllables AS DOUBLE) / words), 6) >= 50.0 THEN 'medium'
                 WHEN round(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences) - 84.6 * (CAST(syllables AS DOUBLE) / words), 6) >= 30.0 THEN 'difficult'
                 ELSE 'very_difficult' END AS band
          FROM rf)"""

  /** nDCG truncation depth and the pre-scaled DCG weight table — see
    * p83's comment for why these are plan-build-time literals. */
  private val ndcgK = 5
  private val dcgW: Seq[Long] =
    (1 to ndcgK).map(r => math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))
  private val idcgS: Long = dcgW.sum
  private def dcgCase(rank: String): String =
    s"CASE $rank " + dcgW.zipWithIndex.map { case (w, i) =>
      s"WHEN ${i + 1} THEN $w" }.mkString(" ") + " END"

  /** The per-query retrieval-eval frame shared by p83/p83b: IVF (p16)
    * top-5 judged against the staged exact truth (p00g). Queries with
    * zero hits keep a row (first_hit = 0 sentinel, all metrics 0). */
  private def retrievalEvalPerQuery(s: SparkSession, dir: String)(
      implicit knobs: Knobs): DataFrame = {
    val ivf = entry("p16_knn_ivf").fn(s, dir)
      .select(col("qid"), col("neighbor_id"), col("rank"))
    val truth = TruthStage.loadKnn(s, dir).select(col("qid"), col("neighbor_id"))
    val hits = ivf.join(truth, Seq("qid", "neighbor_id"))
      .select(col("qid"), col("rank"),
        expr(s"CAST(${dcgCase("rank")} AS BIGINT)").as("w"))
    val per = hits.groupBy(col("qid")).agg(
      count(lit(1)).as("nh"),
      min(col("rank")).as("fh"),
      sum(col("w")).as("dc"))
    truth.select(col("qid")).distinct()
      .join(per, Seq("qid"), "left")
      .withColumn("n_hits", coalesce(col("nh"), lit(0L)))
      .withColumn("first_hit", coalesce(col("fh"), lit(0)).cast("int"))
      .withColumn("dcg_s", coalesce(col("dc"), lit(0L)))
      .withColumn("ndcg_s", expr(s"(dcg_s * 1000000) div $idcgS"))
      .withColumn("mrr_s", expr(
        "CASE WHEN first_hit > 0 THEN 1000000 div first_hit ELSE CAST(0 AS BIGINT) END"))
      .select(col("qid"), col("n_hits"), col("first_hit"), col("dcg_s"),
        col("ndcg_s"), col("mrr_s"))
  }

  /** The p83/p83b oracle prefix: the p16 IVF oracle chain + the p05
    * exact-truth chain + the judged per-query metrics. Final CTE `perq`. */
  private def duckRetrievalEvalCtes(implicit knobs: Knobs): String = s"""$duckSuperCells,
${duckTwoLevel("i", "embeddings", Nil, duckNprobe)},
        assigned AS (SELECT vec_id AS cid, cell, embedding AS cv2 FROM icranked WHERE crank = 1),
        probes AS (SELECT vec_id AS qid, cell, embedding AS qv
                   FROM icranked, kk WHERE crank <= $duckNprobe),
        asims AS (
          SELECT p.qid, a.cid, ${duckCosine("p.qv", "a.cv2")} AS sim
          FROM probes p JOIN assigned a ON p.cell = a.cell AND p.qid <> a.cid),
        aranked AS (
          SELECT qid, cid,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INTEGER) AS rank
          FROM asims),
        ivf AS (SELECT qid, cid AS neighbor_id, rank FROM aranked WHERE rank <= 5),
        tsims AS (
          SELECT a.vec_id AS qid, b.vec_id AS cid,
            ${duckCosine("a.embedding", "b.embedding")} AS sim
          FROM ${duckEvalFrom("embeddings", "a")} JOIN embeddings b ON a.vec_id <> b.vec_id),
        tranked AS (
          SELECT qid, cid,
            CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INTEGER) AS rank
          FROM tsims),
        truth AS (SELECT qid, cid AS neighbor_id FROM tranked WHERE rank <= 5),
        hits AS (
          SELECT i.qid, i.rank, CAST(${dcgCase("i.rank")} AS BIGINT) AS w
          FROM ivf i JOIN truth t
            ON t.qid = i.qid AND t.neighbor_id = i.neighbor_id),
        per AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS nh, MIN(rank) AS fh,
                  CAST(SUM(w) AS BIGINT) AS dc
                FROM hits GROUP BY 1),
        qids AS (SELECT DISTINCT qid FROM truth),
        perq AS (
          SELECT q.qid,
            COALESCE(p.nh, CAST(0 AS BIGINT)) AS n_hits,
            CAST(COALESCE(p.fh, 0) AS INTEGER) AS first_hit,
            COALESCE(p.dc, CAST(0 AS BIGINT)) AS dcg_s,
            CAST((COALESCE(p.dc, 0) * 1000000) // $idcgS AS BIGINT) AS ndcg_s,
            CAST(CASE WHEN COALESCE(p.fh, 0) > 0 THEN 1000000 // p.fh ELSE 0 END AS BIGINT) AS mrr_s
          FROM qids q LEFT JOIN per p ON p.qid = q.qid)"""
}
