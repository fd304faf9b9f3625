package graft

/** r16 dial-cache audit (VERDICT r15 "Next round" #6): the p91 regression
  * generalized. Any memoized decision or staged artifact whose computation
  * reads a knob must include that knob in its cache key — otherwise two
  * [[Knobs]] values sharing one staging root (two inventories in one JVM,
  * or two JVMs on one shared root) silently serve each other's fits.
  *
  * The audited inventory lives in SCALE.md ("r16: dial-cache audit"); this
  * spec pins the two properties the audit relies on, against the live
  * staging machinery:
  *
  *  1. key-includes-dial: a different fit knob re-keys the staged artifact
  *     (a fresh parquet path), it does not reuse the other value's fit;
  *  2. key-stability: an unchanged knob reuses the SAME staged path (the
  *     whole point of staging — no knob in the key may be resolved
  *     non-deterministically per call).
  *
  * Every test stages under its own root, passed in the knobs, so no JVM
  * property is written and the suite runs beside the others.
  */
class DialCacheAuditSpec extends SparkSpecBase {

  /** Root directory of the staged parquet behind a DataFrame. */
  private def stagedRoot(df: org.apache.spark.sql.DataFrame): String = {
    val f = df.inputFiles.headOption.getOrElse(fail("staged table has no files"))
    new java.io.File(new java.net.URI(f)).getParentFile.getAbsolutePath
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  /** Knobs staging under a fresh root, deleted after `body`. */
  private def withStageDir[A](body: Knobs => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("dial_audit_stage")
    try body(Knobs.jvm.copy(shingleStageDir = Some(dir.toString)))
    finally rm(dir.toFile)
  }

  test("CellStage re-keys when graft.ivfCells flips, reuses when it does not") {
    withStageDir { k =>
      val a1 = stagedRoot(queries.Pipeline.CellStage.load(spark, sf0001)(k.copy(ivfCells = Some(2))))
      val a2 = stagedRoot(queries.Pipeline.CellStage.load(spark, sf0001)(k.copy(ivfCells = Some(2))))
      assert(a1 == a2, "unchanged dial must reuse the staged fit")
      val b = stagedRoot(queries.Pipeline.CellStage.load(spark, sf0001)(k.copy(ivfCells = Some(3))))
      assert(a1 != b, "flipping graft.ivfCells must re-key the staged " +
        s"k-means fit, not serve the k=2 index: both at $b")
    }
  }

  test("PqStage re-keys when graft.pqSubspaces flips") {
    withStageDir { k =>
      val a = stagedRoot(queries.Pipeline.PqStage.load(spark, sf0001)(k.copy(pqM = 2)))
      val b = stagedRoot(queries.Pipeline.PqStage.load(spark, sf0001)(k.copy(pqM = 4)))
      assert(a != b, "flipping graft.pqSubspaces must re-key the staged " +
        "PQ codebook")
    }
  }

  test("the IVF-PQ inverted lists re-key when graft.ivfNprobe flips") {
    // a list's cell is the crank-1 cell at the ADC probe width, so the
    // probe dial is a fit dial of the staged lists
    withStageDir { k =>
      val a = stagedRoot(queries.Pipeline.PqCodesStage.load(spark, sf0001)(k))
      val b = stagedRoot(queries.Pipeline.PqCodesStage.load(spark, sf0001)(
        k.copy(ivfNprobe = Some(2))))
      assert(a != b, "flipping graft.ivfNprobe must re-key the staged inverted lists")
    }
  }

  test("BpeStage re-keys when graft.bpeMerges flips") {
    withStageDir { k =>
      val a = stagedRoot(queries.Pipeline.BpeStage.load(spark, sf0001)(k.copy(bpeMerges = 1)))
      val b = stagedRoot(queries.Pipeline.BpeStage.load(spark, sf0001)(k.copy(bpeMerges = 2)))
      assert(a != b, "flipping graft.bpeMerges must re-key the staged " +
        "BPE vocabulary")
    }
  }

  test("explicit staging root (the shared-filesystem dial) is part of the key") {
    // graft.shingleStageDir itself is a knob the staging map must key on:
    // two roots in one JVM (e.g. a test then a production path) must not
    // share in-JVM entries. stage() keys on "tag|root|dir" — prove it by
    // staging under root A, then under root B, and observing a fresh
    // write rather than the root-A path served from the map.
    withStageDir { ka =>
      withStageDir { kb =>
        val a = stagedRoot(queries.Pipeline.ShingleStage.load(spark, sf0001)(ka))
        assert(a.startsWith(ka.shingleStageDir.get))
        val b = stagedRoot(queries.Pipeline.ShingleStage.load(spark, sf0001)(kb))
        assert(b.startsWith(kb.shingleStageDir.get),
          s"root flip served the stale root-A table: $b")
      }
    }
  }
}
