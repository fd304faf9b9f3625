package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.Pipeline

/** IVF-PQ ADC scoring (p42/p43 over raw-vector PQ, p46/p47 over residual
  * PQ): the one-pass scorer over the staged inverted lists must return
  * exactly what the M-fanout join chain it replaced returns. That chain is
  * kept here as the reference: every query (and, independently, every
  * candidate) re-ranked against the two-level index, candidates joined
  * per subspace to (qid, sub, code) lookup rows, grouped back per
  * (qid, cid), then ranked by a window.
  *
  * Corpora are random and small: clustered float vectors plus exact
  * duplicates under other ids (score ties, broken by cid) and zero
  * vectors (a zero query scores NULL everywhere and every NULL ranks
  * last). Each configuration stages under its own root and runs with the
  * eval sample on or off and with default or other `pqM`/`pqK`.
  */
class AdcScoringSpec extends SparkSpecBase {
  import spark.implicits._

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  /** A corpus dir holding `embeddings.parquet`: n clustered d-dim vectors,
    * then 6 exact duplicates of earlier rows and 3 zero vectors. */
  private def corpus(root: java.nio.file.Path, seed: Long, n: Int, d: Int): String = {
    val rnd = new scala.util.Random(seed)
    val centers = Seq.fill(6)(Array.fill(d)(rnd.nextGaussian().toFloat))
    val base = (0 until n).map { _ =>
      val c = centers(rnd.nextInt(centers.size))
      c.map(x => (x + 0.6 * rnd.nextGaussian()).toFloat)
    }
    val vecs = base ++ Seq.fill(6)(base(rnd.nextInt(n))) ++ Seq.fill(3)(Array.fill(d)(0f))
    // ids are scattered so the tie-breaking cid order is not insertion order
    val ids = rnd.shuffle((0 until vecs.size).map(i => 1000L + 7L * i))
    val dir = root.resolve(s"corpus$seed")
    ids.zip(vecs).map { case (id, v) => (id, v.toSeq, (id % 3).toInt) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(dir.resolve("embeddings.parquet").toString)
    dir.toString
  }

  /** The eval-sample rule, computed independently of Pipeline. */
  private def sampled(n: Long, e: DataFrame)(implicit k: Knobs): DataFrame =
    Pipeline.effectiveEvalM(n).fold(e)(m => e.filter(
      conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10).cast("long") <
        lit((1L << 60) / n * m)))

  private def subvecs(implicit k: Knobs) = posexplode(expr(
    s"""transform(sequence(0, ${k.pqM - 1}), m -> slice(embedding,
          m * (size(embedding) div ${k.pqM}) + 1, size(embedding) div ${k.pqM}))"""))

  private def scaled(dot: String) =
    expr(s"CAST(floor($dot * 100000000.0 + 0.5) AS BIGINT)")

  /** The codes as (vec_id, sub, code) rows — the pre-lists layout. */
  private def codeRows(lists: DataFrame): DataFrame =
    lists.select(col("vec_id").as("cid"), posexplode(col("codes")).as(Seq("sub", "code")))

  /** The replaced p42/p43 scorer. */
  private def referenceAdc(dir: String)(implicit k: Knobs): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = e.count()
    val nprobe = Pipeline.ivfNprobe(Pipeline.ivfK(n))
    val top = Pipeline.nearestCellsStaged(spark, dir,
      e.select(col("vec_id"), col("embedding")), nprobe)
    val assigned = top.filter(col("crank") === 1).select(col("vec_id").as("cid"), col("cell"))
    val probes = sampled(n, top).select(col("vec_id").as("qid"), col("cell"))
    val cand = probes.join(assigned, "cell").filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"))
    val cb = Pipeline.PqStage.load(spark, dir)
    val qlut = e.select(col("vec_id").as("qid"), subvecs.as(Seq("sub", "sv")))
      .join(cb.select(col("sub"), col("code"), col("cv")), Seq("sub"))
      .select(col("qid"), col("sub"), col("code"), scaled("dot_product(sv, cv)").as("dq_s"))
    val cnorm = cb.select(col("sub"), col("code"), scaled("dot_product(cv, cv)").as("cn_s"))
    val qn = e.select(col("vec_id").as("qid"), expr("dot_product(embedding, embedding)").as("qn"))
    cand.join(codeRows(Pipeline.PqCodesStage.load(spark, dir)), "cid")
      .join(qlut, Seq("qid", "sub", "code"))
      .join(cnorm, Seq("sub", "code"))
      .groupBy(col("qid"), col("cid"))
      .agg(sum(col("dq_s")).as("s_s"), sum(col("cn_s")).as("r_s"))
      .join(qn, "qid")
      .select(col("qid"), col("cid"), expr(
        "CAST(s_s AS DOUBLE) / (sqrt(qn) * sqrt(CAST(r_s AS DOUBLE) / 100000000.0) * 100000000.0)")
        .as("ascore"))
  }

  /** The replaced p46/p47 scorer. */
  private def referenceResidualAdc(dir: String)(implicit k: Knobs): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = e.count()
    val nprobe = Pipeline.ivfNprobe(Pipeline.ivfK(n))
    val cells = Pipeline.CellStage.load(spark, dir)
    val m = k.pqM
    val probes = sampled(n, Pipeline.nearestCellsStaged(spark, dir,
      e.select(col("vec_id"), col("embedding")), nprobe))
      .select(col("vec_id").as("qid"), col("cell"), col("embedding").as("qv"))
    val assigned = Pipeline.nearestCellsStaged(spark, dir,
      e.select(col("vec_id"), col("embedding")), 1)
      .filter(col("crank") === 1).select(col("vec_id").as("cid"), col("cell"))
    val cand = probes.select(col("qid"), col("cell")).join(assigned, "cell")
      .filter(col("qid") =!= col("cid")).select(col("qid"), col("cid"), col("cell"))
    val rcb = Pipeline.PqResidualStage.load(spark, dir)
    val qc = probes.join(cells, "cell")
      .select(col("qid"), col("cell"), scaled("dot_product(qv, cv)").as("qc_s"))
    val qr = e.select(col("vec_id").as("qid"), subvecs.as(Seq("sub", "sv")))
      .join(rcb.select(col("sub"), col("code"), col("cv")), Seq("sub"))
      .select(col("qid"), col("sub"), col("code"), scaled("dot_product(sv, cv)").as("qr_s"))
    val cellcross = cells.select(col("cell"), col("cv").as("ccv"))
      .crossJoin(rcb.select(col("sub"), col("code"), col("cv").as("rcv")))
      .select(col("cell"), col("sub"), col("code"), scaled(
        s"dot_product(slice(ccv, sub * (size(ccv) div $m) + 1, size(ccv) div $m), rcv)")
        .as("cr_s"))
    val cellnorm = cells.select(col("cell"), scaled("dot_product(cv, cv)").as("cn2_s"))
    val rnorm = rcb.select(col("sub"), col("code"), scaled("dot_product(cv, cv)").as("rr_s"))
    val qn = e.select(col("vec_id").as("qid"), expr("dot_product(embedding, embedding)").as("qn"))
    cand.join(codeRows(Pipeline.PqResidualCodesStage.load(spark, dir)), "cid")
      .join(qr, Seq("qid", "sub", "code"))
      .join(cellcross, Seq("cell", "sub", "code"))
      .join(rnorm, Seq("sub", "code"))
      .groupBy(col("qid"), col("cid"), col("cell"))
      .agg(sum(col("qr_s")).as("sqr"), sum(col("cr_s")).as("scr"), sum(col("rr_s")).as("srr"))
      .join(qc, Seq("qid", "cell"))
      .join(cellnorm, Seq("cell"))
      .join(qn, "qid")
      .select(col("qid"), col("cid"), expr(
        """CAST(qc_s + sqr AS DOUBLE)
           / (sqrt(qn) * sqrt(CAST((cn2_s + (2 * scr)) + srr AS DOUBLE) / 100000000.0) * 100000000.0)""")
        .as("ascore"))
  }

  /** The replaced window ranking (adcTop5's shape). */
  private def top5(scored: DataFrame): Seq[(Long, Long, Int, java.lang.Double)] =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("ascore").desc, col("cid"))))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("cid"), col("rank"), round(col("ascore"), 6))
      .orderBy(col("qid"), col("rank"))
      .as[(Long, Long, Int, java.lang.Double)].collect().toSeq

  private def rows(df: DataFrame): Seq[(Long, Long, java.lang.Double)] =
    df.select(col("qid"), col("cid"), col("ascore"))
      .as[(Long, Long, java.lang.Double)].collect().toSeq.sortBy(r => (r._1, r._2))

  private def check(seed: Long, n: Int, d: Int, knobs: Knobs => Knobs): Unit = {
    val root = java.nio.file.Files.createTempDirectory("adc_scoring")
    try {
      val dir = corpus(root, seed, n, d)
      implicit val k: Knobs = knobs(Knobs.jvm.copy(
        shingleStageDir = Some(root.resolve("stage").toString)))
      val inv = SparkEntry.queriesFor(k)
      for ((name, scored, reference) <- Seq(
          ("p42_knn_ivfpq", Pipeline.adcScored(spark, dir), referenceAdc(dir)),
          ("p46_knn_ivfpq_residual", Pipeline.residualAdcScored(spark, dir),
            referenceResidualAdc(dir)))) {
        val got = rows(scored)
        val want = rows(reference)
        assert(got.nonEmpty, s"$name: no candidates")
        assert(got == want, s"$name (seed $seed): scored candidates differ from the " +
          s"M-fanout chain: ${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
        val ranked = inv(name)(spark, dir)
          .as[(Long, Long, Int, java.lang.Double)].collect().toSeq
        assert(ranked == top5(reference), s"$name (seed $seed): top-5 differs")
        // ties are real and broken by cid; NULL scores rank last
        val byQuery = ranked.groupBy(_._1)
        assert(byQuery.values.exists { r =>
          val scores = r.flatMap(o => Option(o._4))
          scores.distinct.size < scores.size
        },
          s"$name (seed $seed): the corpus produced no score ties")
        byQuery.values.foreach { r =>
          val scores = r.sortBy(_._3).map(_._4)
          assert(scores.dropWhile(_ != null).forall(_ == null),
            s"$name: a NULL score ranked above a number: $r")
        }
      }
    } finally rm(root.toFile)
  }

  test("one-pass ADC == M-fanout chain: defaults, full query set") {
    check(seed = 11, n = 220, d = 16, identity)
  }

  test("one-pass ADC == M-fanout chain: pqM=4 pqK=8, eval sample on") {
    check(seed = 12, n = 180, d = 16, _.copy(pqM = 4, pqK = 8, evalQueries = Some(60)))
  }

  test("one-pass ADC == M-fanout chain: pqM=3 pqK=5, nprobe=5, eval sample on") {
    check(seed = 13, n = 150, d = 12,
      _.copy(pqM = 3, pqK = 5, ivfNprobe = Some(5), evalQueries = Some(90)))
  }

  test("a zero query vector scores NULL against every candidate") {
    val root = java.nio.file.Files.createTempDirectory("adc_scoring")
    try {
      val dir = corpus(root, 14, 120, 16)
      implicit val k: Knobs = Knobs.jvm.copy(
        shingleStageDir = Some(root.resolve("stage").toString))
      val zero = spark.read.parquet(s"$dir/embeddings.parquet")
        .filter(expr("aggregate(embedding, 0.0D, (a, x) -> a + abs(x)) = 0"))
        .select(col("vec_id")).as[Long].collect().toSet
      assert(zero.size == 3)
      val scored = rows(Pipeline.adcScored(spark, dir)).filter(r => zero(r._1))
      assert(scored.nonEmpty && scored.forall(_._3 == null), scored.take(3))
    } finally rm(root.toFile)
  }

  test("warm calls: p42 runs in at most 5 Spark jobs, p43 in at most 6") {
    implicit val k: Knobs = Knobs.jvm
    // the lists, the index row and the codebook constants are built by
    // the first call; a warm call runs the lists broadcast, the ranking
    // shuffle, the output sort (sample + shuffle) and the result stage
    for ((name, bound) <- Seq("p42_knn_ivfpq" -> 5, "p43_knn_ivfpq_rerank" -> 6)) {
      val q = SparkEntry.queries(name)
      q(spark, sf001).collect()
      val jobs = SparkJobs.count(spark) { q(spark, sf001).collect(); () }
      assert(jobs <= bound, s"$name ran $jobs Spark jobs per warm call (bound $bound)")
    }
  }
}
