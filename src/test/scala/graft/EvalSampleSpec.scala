package graft

import org.apache.spark.sql.functions._

/** `-Dgraft.evalQueries` — the ANN-eval validation-slice dial (the r16
  * fix for the one super-linear family the sf1 scaling run exposed: the
  * recall/eval entries query with the whole corpus, so their cost grew
  * 38.8x for 10x data while every production family stayed <= linear).
  *
  * Pinned properties:
  *
  *  1. slice-consistency: a sampled eval entry equals the full entry
  *     restricted to the sampled query ids — per-query results are
  *     independent, so the sample changes WHICH queries are measured,
  *     never their rows;
  *  2. the sample is the documented hash rule
  *     md560(vec_id) < (2^60 div n) * m, shared with the oracle SQL;
  *  3. the staged truths re-key on the dial (the p91 lesson: a fit
  *     dial must be part of its artifact's staging key) and the p35
  *     denominators follow the slice;
  *  4. the exact-baseline guard admits a bounded slice over a corpus
  *     the unsampled build would refuse (q*n cost model).
  *
  * Every test stages under its own root and builds its inventories over
  * explicit [[Knobs]], so it runs beside the other suites.
  */
class EvalSampleSpec extends SparkSpecBase {

  private val dialM = 100L

  private def entry(name: String)(k: Knobs) =
    SparkEntry.queriesFor(k)(name)(spark, sf0001)

  /** The documented hash rule, computed independently of Pipeline code. */
  private def sampledIds(n: Long, m: Long): Set[Long] = {
    val thr = (1L << 60) / n * m
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"),
        conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .filter(col("h") < lit(thr))
      .collect().map(_.getLong(0)).toSet
  }

  /** The JVM's knobs staging under a fresh root, deleted afterwards. */
  private def withEvalDial[A](body: Knobs => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("eval_sample_stage")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    try body(Knobs.jvm.copy(shingleStageDir = Some(dir.toString)))
    finally rm(dir.toFile)
  }

  test("sampled eval entries equal the full entries restricted to the slice") {
    withEvalDial { root =>
      val sampled = root.copy(evalQueries = Some(dialM))
      val n = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
      val ids = sampledIds(n, dialM)
      assert(ids.nonEmpty && ids.size < n,
        s"hash sample degenerate: ${ids.size} of $n")

      // full results first (dial unset; stages under tags tk/tp)
      val full05 = entry("p05_knn_exact")(root).collect().toSeq
      val full14 = entry("p14_embedding_neardup")(root).collect().toSeq
      val full42 = entry("p42_knn_ivfpq")(root).collect().toSeq

      val s05 = entry("p05_knn_exact")(sampled).collect().toSeq
      val s14 = entry("p14_embedding_neardup")(sampled).collect().toSeq
      val s42 = entry("p42_knn_ivfpq")(sampled).collect().toSeq

      assert(s05 == full05.filter(r => ids(r.getLong(0))),
        "sampled p05 != full p05 restricted to sampled qids")
      assert(s14 == full14.filter(r => ids(r.getLong(0))),
        "sampled p14 != full p14 restricted to sampled a_ids")
      assert(s42 == full42.filter(r => ids(r.getLong(0))),
        "sampled p42 != full p42 restricted to sampled qids")
      assert(s05.map(_.getLong(0)).toSet == ids,
        "every sampled qid must appear in the sampled truth (n >= 6)")
    }
  }

  test("staged truths re-key on the dial; p35/p68b denominators follow the slice") {
    withEvalDial { root =>
      val sampled = root.copy(evalQueries = Some(dialM))
      val n = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
      val ids = sampledIds(n, dialM)

      def stagedRoot(df: org.apache.spark.sql.DataFrame): String = {
        val f = df.inputFiles.headOption.getOrElse(fail("no staged files"))
        new java.io.File(new java.net.URI(f)).getParentFile.getAbsolutePath
      }
      val fullPath = stagedRoot(queries.Pipeline.TruthStage.loadKnn(spark, sf0001)(root))
      val samplePath = stagedRoot(queries.Pipeline.TruthStage.loadKnn(spark, sf0001)(sampled))
      assert(fullPath != samplePath,
        "flipping graft.evalQueries must re-key the staged truth, " +
          s"not serve the full-corpus table: both at $samplePath")

      val p35 = entry("p35_ann_recall")(sampled).collect()
      val knnRows = p35.filter(r => Set("p06_lsh", "p16_ivf", "p42_ivfpq")
        .contains(r.getString(0)))
      assert(knnRows.nonEmpty)
      knnRows.foreach { r =>
        assert(r.getLong(1) == ids.size.toLong,
          s"${r.getString(0)}: n_queries ${r.getLong(1)} != slice ${ids.size}")
      }

      val p68b = entry("p68b_jl_recall")(sampled).collect()
      assert(p68b.length == 1 && p68b(0).getLong(0) == ids.size.toLong,
        s"p68b n_queries != slice: ${p68b.mkString}")
    }
  }

  test("unset dial auto-derives the guard-admissible slice; explicit dial wins; " +
      "full-corpus asks past the guard still refuse") {
    withEvalDial { root =>
      val n = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
      // sf0.001 has 500 vectors; cap 60 refuses the unsampled 500^2
      // build (> 3600), so the r17 default policy must auto-derive
      // m = max(1, cap^2/n) = 7 (7*500 = 3500 <= 3600) instead of
      // running the quadratic contract until memory dies
      val k = root.copy(exactBaselineMaxRows = 60L)
      val autoM = math.max(1L, 60L * 60L / n)
      assert(autoM == 7L, s"test premise: corpus moved, autoM=$autoM")
      assert(entry("p05_knn_exact")(k).count() == 5L * sampledIds(n, autoM).size,
        "unset dial must auto-sample exactly the cap²/n hash slice")
      // the auto-derived m bakes into the staged-truth tag exactly like
      // an explicit dial (re-keying is what DialCacheAuditSpec pins)
      val f = queries.Pipeline.TruthStage.loadKnn(spark, sf0001)(k)
        .inputFiles.headOption.getOrElse(fail("no staged files"))
      assert(f.contains(s"-e$autoM"),
        s"auto slice must re-key the staged truth under -e$autoM: $f")
      // explicit dial overrides the auto derivation
      assert(entry("p05_knn_exact")(k.copy(evalQueries = Some(5L))).count() == 5L * sampledIds(n, 5L).size)
      // an explicit full-corpus ask (m >= n) past the guard product is
      // a refusal, never a silent auto-sample of an explicit setting
      val e = intercept[IllegalStateException] {
        entry("p05_knn_exact")(k.copy(evalQueries = Some(n))).count()
      }
      assert(e.getMessage.contains("exact all-pairs baseline"), e.getMessage)
    }
  }
}
