package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions for the scale-critical queries: these guard the
  * properties that make the engine viable at 100 TB — filter/column
  * pushdown into the parquet scan, broadcast of small dimensions, top-k
  * via TakeOrderedAndProject, whole-stage codegen coverage, and the
  * absence of unbounded cartesian products outside the declared exact
  * baselines. A green correctness run with a regressed plan is exactly the
  * failure mode these tests catch.
  */
class PlanAssertionsSpec extends AnyFunSuite {
  private implicit val knobs: Knobs = Knobs.jvm

  private lazy val spark = GraftSession.local(4)
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** Codegen explain — compiles the plan and reports WholeStageCodegen
    * subtrees, which the adaptive initial-plan toString does not show. */
  private def codegen(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))

  test("q01: shipdate filter and column pruning reach the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    // projection pruning: the scan must not read join-irrelevant columns
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_orderkey"), s"q01 must not read l_orderkey:\n$p")
    val cg = codegen("q01_pricing_summary")
    assert(cg.contains("WholeStageCodegen subtrees"),
      s"q01 hot path must be whole-stage codegen'd:\n${cg.take(500)}")
  }

  test("q02: selective filters pushed, 4-column read schema") {
    val p = plan("q02_revenue_filter")
    // the PushedFilters metadata string truncates at 100 chars, so assert
    // the head of the pushed list plus the pruned scan column list
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert(p.contains("FileScan parquet [l_quantity"), p)
    assert(!p.contains("l_returnflag"), s"q02 must not read l_returnflag:\n$p")
  }

  test("q05: nation and region dimensions are broadcast") {
    val p = plan("q05_nation_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"expected >=2 broadcast joins in:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q11: order+limit plans as TakeOrderedAndProject (top-k, no global sort)") {
    val p = plan("q11_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("p02: reads the staged pair table — no explode, no window, no cartesian") {
    // the shingle explode + DF guard + posting-list expansion all run ONCE
    // at staging time; the query plan itself is a scan of the staged pair
    // parquet plus the presentation sort
    val df = SparkEntry.queries("p02_dedup_ngram_jaccard")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Parquet"), s"staged parquet scan missing:\n$p")
    assert(!p.contains("Window"), s"window should be staged, not inline:\n$p")
    assert(!p.contains("Generate"), s"explode should be staged, not inline:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pair staging build: df-guard filter over the staged shingle parquet, no cartesian") {
    // the staging build itself must keep the guarded posting-list shape:
    // a plain filter on the precomputed df column over the shingle
    // parquet, pair expansion via grouped posting lists (never a
    // cartesian or unguarded self-join)
    val build = queries.Pipeline.PairStage.load(spark, dir)
    val p = build.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p06/p16: ANN paths have no unbounded cartesian product") {
    val p06 = plan("p06_knn_lsh")
    assert(!p06.contains("CartesianProduct"), p06)
    val p16 = plan("p16_knn_ivf")
    // the tiny centroid index reaches every row as a broadcast constant
    // (the staged two-level index row), so no nested-loop join remains
    assert(!p16.contains("CartesianProduct"), p16)
    assert(!p16.contains("NestedLoopJoin"), p16)
    assert("staged_const\\([^)]*#index#sidx\\)".r.findFirstIn(p16).isDefined, p16)
  }

  test("p37: banded candidates dedup on ids before the vector re-join; top-k is group-limited") {
    val p = plan("p37_knn_lsh_multi")
    assert(!p.contains("CartesianProduct"), p)
    // both sides band to (t, bucket) via one posexplode each
    assert("Generate".r.findAllIn(p).size == 2, s"expected 2 Generates (one per side):\n$p")
    // the candidate distinct is an aggregate whose shuffle carries only the
    // two 8-byte ids — never embeddings
    assert(p.contains("HashAggregate"), s"id-distinct missing:\n$p")
    val exchange = "Exchange hashpartitioning\\(qid#\\d+L, cid#\\d+L".r
    assert(exchange.findFirstIn(p).isDefined,
      s"candidate distinct must shuffle on (qid, cid) ids only:\n$p")
    // per-query top-5 via window group limit, not a global materialize+sort
    assert(p.contains("WindowGroupLimit"), p)
  }

  /** The physical plan of `name` (AQE's current plan, not executed). */
  private def physical(name: String): org.apache.spark.sql.execution.SparkPlan =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def scannedPaths(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
    p.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
      f.relation.location.rootPaths.map(_.toString) }.flatten

  /** The IVF-PQ scorers over the staged inverted lists (tag `lists`):
    * no exchange (shuffle or broadcast) carries an embedding-typed column
    * — the LUT (BIGINT rows) is the widest thing that moves; the only
    * Generate explodes the queries' probe cells, never the index side
    * (the per-query corpus reassignment is gone); the codebook reaches
    * the query side as the broadcast constant of its staged table (tag
    * `codebook`); the ranking is the group-limited window. */
  private def assertAdcShape(name: String, lists: String, codebook: String): Unit = {
    import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, MapType, StructType}
    def embedding(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case ArrayType(e, _) => embedding(e)
      case StructType(fs) => fs.exists(f => embedding(f.dataType))
      case MapType(k, v, _) => embedding(k) || embedding(v)
      case _ => false
    }
    val root = physical(name)
    val text = root.toString
    assert(!text.contains("CartesianProduct"), text)
    val exchanges = root.collect { case e: org.apache.spark.sql.execution.exchange.Exchange => e }
    assert(exchanges.nonEmpty, text)
    exchanges.foreach(e => assert(!e.output.exists(a => embedding(a.dataType)),
      s"$name: an exchange carries an embedding-typed column: ${e.output}\n$text"))
    val listsScan = s"/$lists[0-9a-f]{6}_[0-9a-f]{12}$$".r
    assert(scannedPaths(root).exists(listsScan.findFirstIn(_).isDefined),
      s"$name must scan the staged inverted lists:\n$text")
    val generates = root.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(generates.size == 1, s"$name: expected one Generate (the probe cells):\n$text")
    generates.foreach(g => assert(scannedPaths(g).forall(_.endsWith("embeddings.parquet")),
      s"$name: a Generate runs over the index side:\n$text"))
    assert(s"$codebook[0-9a-f]{6}_[0-9a-f]{12}#cb#cb\\)".r.findFirstIn(text).isDefined,
      s"$name: the LUT must read the staged codebook constant:\n$text")
    assert(text.contains("WindowGroupLimit"), text)
  }

  test("p42: ADC scoring joins move integer codes, never embeddings; " +
      "codebook and cnorm broadcast") {
    assertAdcShape("p42_knn_ivfpq", lists = "pv2", codebook = "pq")
  }

  test("p46: residual-ADC scoring moves integers only; LUT sides broadcast") {
    assertAdcShape("p46_knn_ivfpq_residual", lists = "rv2", codebook = "rq")
  }

  test("q34 CTE: aggregate pushed below the join (partial aggregation)") {
    val p = plan("q34_cte")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p22/p24/p25: per-row operators plan without any join or aggregate shuffle") {
    // these are narrow per-row transforms; the only exchange allowed is
    // the final presentation sort
    Seq("p22_repetition", "p24_stratified_sample", "p25_text_normalize").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must not join:\n$p")
      assert(!p.contains("HashAggregate"), s"$q must not aggregate:\n$p")
      val exchanges = "Exchange".r.findAllIn(p).size
      assert(exchanges <= 1, s"$q expected at most the sort exchange, got $exchanges:\n$p")
    }
  }

  test("p23: sequence packing shuffles once on the bucket key") {
    val p = plan("p23_seq_pack")
    assert(p.contains("Window"), s"running-sum window missing:\n$p")
    assert(!p.contains("Join"), p)
    // one hashpartitioning exchange for the bucket window + the final sort
    val hashEx = "hashpartitioning".r.findAllIn(p).size
    assert(hashEx >= 1, s"bucket partitioning missing:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p21: contamination joins on the shingle key, no cartesian product") {
    val p = plan("p21_contamination")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p29: BM25 is one scan + broadcast scalar stats + top-k, no full sort") {
    val p = plan("p29_bm25_topk")
    // the corpus-wide stats (N, avgdl, df) join back as a broadcast of a
    // single row — never a shuffle join keyed on the corpus
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"stats must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle for a join:\n$p")
  }

  test("p32/p34: centroid index broadcasts; no unbounded cartesian") {
    Seq("p32_semdedup", "p34_hard_negatives").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
        s"$q centroid index must broadcast:\n$p")
    }
  }

  test("p16/p32/p34 read the STAGED k-means index; assignment has no window shuffle") {
    // the fitted quantizer must come from the staged index, never be
    // re-fit inline — and cell
    // assignment is the zero-shuffle broadcast top-k: p32 (assignment
    // only) must plan without ANY Window; the old explode+row_number
    // shape would shuffle n*k rows (n^1.5 at k=sqrt(n))
    Seq("p16_knn_ivf", "p32_semdedup", "p34_hard_negatives").foreach { q =>
      val p = plan(q)
      // the quantizer reaches the descent as the ready two-level index
      // row staged over the cl fit (SuperStage: sy2<param-hash>_<corpus-
      // hash>), read as constants — its centroids, never a fit
      assert("sy2[0-9a-f]{6}_[0-9a-f]{12}#index#midx".r.findFirstIn(p).isDefined,
        s"$q must read the staged two-level index:\n$p")
    }
    val p32 = plan("p32_semdedup")
    assert(!p32.contains("Window"),
      s"p32 assignment must not use a window (n*k shuffle):\n$p32")
  }

  test("audit/retrieval family plan shapes: staged reads, no sort-merge, p29's top-k shape") {
    // p57 rides the STAGED shingle scan: one window + one aggregate, no join
    val p57 = plan("p57_ngram_novelty")
    assert(!p57.contains("Join"), s"p57 must not join:\n$p57")
    assert(p57.contains("Window"), p57)
    assert("sh[0-9a-f]*_".r.findFirstIn(p57).isDefined ||
      p57.contains("Scan parquet"), p57)
    // p58/p59 join only id→dimension (broadcast at validation scale)
    Seq("p58_source_overlap", "p59_dedup_yield").foreach { q =>
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"),
        s"$q: dimension joins must broadcast at validation scale:\n$p")
    }
    // p60 is p29's shape at chunk granularity: one-row broadcast stats,
    // per-partition heap top-k, no shuffle of chunk text
    val p60 = plan("p60_chunk_bm25")
    assert(p60.contains("TakeOrderedAndProject"),
      s"p60 top-k must be TakeOrderedAndProject:\n$p60")
    assert(!p60.contains("SortMergeJoin"), p60)
    // p62 is a crossJoin of one-row aggregates — every join side broadcast
    val p62 = plan("p62_corpus_card")
    assert(!p62.contains("SortMergeJoin") && !p62.contains("CartesianProduct"), p62)
  }

  test("p64b: per-query top-k shuffles slim rows; candidate vectors attach by broadcast") {
    val ex = SparkEntry.queries("p64b_mmr_many")(spark, dir)
      .queryExecution.executedPlan
    val p = ex.toString
    assert(!p.contains("CartesianProduct"), p)
    // the window's query_id shuffle must carry only (doc_id, query_id,
    // score) — a raw `embedding` attribute riding ANY exchange means the
    // corpus's vectors shuffle. (The post-cut collect_list buffer is
    // candidate-bounded — 20 vectors per query — and carries structs,
    // not this attribute.)
    // collect() does not descend into the AQE wrapper's captured plan
    val inner = ex match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val shuffles = inner.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }
    assert(shuffles.nonEmpty, p)
    shuffles.foreach { s =>
      assert(!s.output.exists(_.name == "embedding"),
        s"exchange carries raw embeddings: ${s.simpleString(200)}\n$p")
    }
    // the 20×|queries| candidate set joins the embeddings table by
    // broadcast, never a sort-merge of the corpus
    assert(p.contains("BroadcastHashJoin"), s"candidate join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("p60b/p65b: query-fan shuffles carry slim rows; no corpus-side sort-merge") {
    def shuffleOutputs(name: String): Seq[Seq[String]] = {
      val ex = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
      val inner = ex match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      inner.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          s.output.map(_.name).toSeq
      }
    }
    // p60b: the chunk token arrays (toks/carr) die at the tf projection —
    // no exchange may carry them, and nothing joins at all
    val p60b = plan("p60b_chunk_bm25_many")
    assert(!p60b.contains("CartesianProduct") && !p60b.contains("SortMergeJoin"), p60b)
    shuffleOutputs("p60b_chunk_bm25_many").foreach { cols =>
      assert(!cols.exists(c => c == "toks" || c == "carr" || c == "arr"),
        s"chunk arrays ride a shuffle: $cols")
    }
    // p65b: embeddings feed the dense ranks via a broadcast of the Q-row
    // qvec frame; no exchange carries a raw embedding attribute. (The
    // rrf fusion's keyed FULL OUTER join is a SortMergeJoin — Spark
    // cannot broadcast keyed full-outer — but both its sides are the
    // ≤50-per-query RANK frames, list-size-bounded at any corpus size,
    // so that SMJ is fine; the invariant that matters is below.)
    val p65b = plan("p65b_rrf_many")
    assert(!p65b.contains("CartesianProduct"), p65b)
    assert("SortMergeJoin".r.findAllIn(p65b).size == 1 &&
      p65b.contains("FullOuter"), s"only the bounded fusion may sort-merge:\n$p65b")
    assert(p65b.contains("BroadcastHashJoin") ||
      p65b.contains("BroadcastNestedLoopJoin"), s"qvecs must broadcast:\n$p65b")
    shuffleOutputs("p65b_rrf_many").foreach { cols =>
      assert(!cols.exists(c => c == "embedding" || c == "qv"),
        s"embeddings ride a shuffle: $cols")
    }
  }

  test("p71: MaxSim is a slim tok-join + TakeOrderedAndProject; no text on exchanges") {
    val ex = SparkEntry.queries("p71_maxsim_rerank")(spark, dir)
      .queryExecution.executedPlan
    val p = ex.toString
    // top-10 must never global-sort the per-doc score frame
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    val inner = ex match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    // the corpus-scaled exchanges carry (doc_id, tok)-grade rows: the
    // document text dies at the explode, and the sim columns attach on
    // the vocabulary-bounded side
    inner.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }.foreach { s =>
      assert(!s.output.exists(_.name == "text"),
        s"document text rides a shuffle: ${s.simpleString(200)}")
    }
  }

  test("blanket invariant: NO query plans a CartesianProduct — not even the exact baselines") {
    // the declared all-pairs baselines (p05/p14) cross-join, but with a
    // broadcast side they plan as BroadcastNestedLoopJoin; an actual
    // CartesianProduct (both sides shuffled full-cross) appearing in ANY
    // of the 74 entries means a broadcast hint or size estimate
    // regressed — the single worst plan shape at 100 TB
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val p = fn(spark, dir).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name plans a CartesianProduct:\n$p")
    }
  }

  test("p30: quantization is pure per-row math — no join, no aggregate shuffle") {
    val p = plan("p30_embed_quantize")
    assert(!p.contains("Join"), s"p30 must not join:\n$p")
    assert(!p.contains("HashAggregate"), s"p30 must not aggregate:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"p30 expected at most the sort exchange, got $exchanges:\n$p")
  }

  test("p84c: projections are pure per-row math over the literal component") {
    // the fit happens before the plan (driver-bounded Gram eigensolve);
    // the returned projection frame must be map work + the output sort
    val p = plan("p84c_pca_project")
    assert(!p.contains("Join"), s"p84c must not join:\n$p")
    assert(!p.contains("HashAggregate"), s"p84c must not aggregate:\n$p")
  }

  test("p87: both LM scoring fronts broadcast their models — no sort-merge") {
    val p = plan("p87_excess_loss")
    assert(!p.contains("SortMergeJoin"), s"p87 model joins must broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("p85/p81/p88: the r12 audit/dedup/prune families never sort-merge a corpus side") {
    Seq("p81_winnow_dedup", "p88_proto_prune").foreach { n =>
      val p = plan(n)
      assert(!p.contains("SortMergeJoin"), s"$n plans a SortMergeJoin:\n$p")
    }
    // p85's published QDef is localized (a LocalRelation — nothing to
    // pin there); the r12 "p85 surprise" pin targets the INNER lazy
    // plan over the materialized fronts instead
    val (p85Plan, p85Release) = queries.Pipeline.sourceDivergencePlan(spark, dir)
    try {
      val p = p85Plan.queryExecution.executedPlan.toString
      assert(!p.contains("SortMergeJoin"), s"p85 inner plans a SortMergeJoin:\n$p")
    } finally p85Release()
    // p88's only real exchange keys on the cell (plus the output sort and
    // the one-row staged-index collects) and never moves embeddings
    val ex = SparkEntry.queries("p88_proto_prune")(spark, dir)
      .queryExecution.executedPlan
    val inner = ex match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    inner.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }.foreach { s =>
      assert(!s.output.exists(_.name == "embedding"),
        s"p88 exchange carries embeddings: ${s.simpleString(200)}")
    }
  }

  test("p87c/p90b sketch paths: zero window operators anywhere in the plan") {
    // the scale forms of the two global-rank selections must never fall
    // back to a single-reducer row_number(): the cumulative histogram is
    // a bounded self-join, the cut a one-row broadcast, the keep
    // decision a literal comparison. (The QDef entries join the exact
    // form back in to MEASURE agreement — these are the production
    // paths a 100 TB run would call.)
    Seq(
      queries.Pipeline.excessSketch(spark, dir),
      queries.Pipeline.bordaSketch(spark, dir)
    ).foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Window"), s"sketch path plans a window:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("q03/q05/q37 at sf0.1: dim sides broadcast — no sort-merge join") {
    // the three heaviest relational lines; Spark's size estimates have
    // silently picked SortMergeJoin before (the p85 surprise), so the
    // strategy is pinned at the bench SF, not just sf0.001
    val sf01 = "/root/testdata/sf0.1"
    Seq("q03_top_orders" -> 2, "q05_nation_revenue" -> 5,
        "q37_small_qty" -> 2).foreach { case (n, minBhj) =>
      val p = SparkEntry.queries(n)(spark, sf01)
        .queryExecution.executedPlan.toString
      assert("BroadcastHashJoin".r.findAllIn(p).size >= minBhj,
        s"$n expected >=$minBhj broadcast joins at sf0.1:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$n plans a SortMergeJoin at sf0.1:\n$p")
    }
  }

  test("r13 stats family plan shapes: broadcast df, per-doc windows, heap top-k") {
    // p95: the vocabulary-bounded df side broadcasts into the corpus tf
    // scan — never a corpus-keyed sort-merge — and the top-k window
    // partitions BY DOCUMENT (no single-reducer global sort)
    val p95 = plan("p95_tfidf_keywords")
    assert(!p95.contains("SortMergeJoin"),
      s"p95 df join must broadcast:\n$p95")
    assert(p95.contains("BroadcastHashJoin") || p95.contains("BroadcastExchange"),
      s"p95 df join must broadcast:\n$p95")
    // p97: exact-k sampling is the distributed top-k — per-partition
    // heaps merged at k, not a global sort feeding a limit
    val p97 = plan("p97_uniform_ksample")
    assert(p97.contains("TakeOrderedAndProject"),
      s"p97 must plan TakeOrderedAndProject:\n$p97")
    // p91: the Levenshtein kernel runs on broadcast-front joins — the
    // corpus text scan must never shuffle for the pair attach
    val p91 = plan("p91_edit_similarity")
    assert(!p91.contains("SortMergeJoin"),
      s"p91 text joins must broadcast the pair front:\n$p91")
  }

  test("p91 broadcast guard: above the cap the hint is dropped, values unchanged") {
    // -Dgraft.broadcastFrontMaxRows=0 forces the over-cap path: the
    // LOGICAL plan must carry no broadcast hint on the front (AQE may
    // still pick a broadcast at runtime from real sizes — that is the
    // point: the decision moves from a forced hint to measured sizes).
    val base = SparkEntry.queries("p91_edit_similarity")(spark, dir)
    val baseRows = base.collect().map(_.toString).sorted.toSeq
    assert(base.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      "default plan should hint the bounded front broadcast")
    val capped = SparkEntry.queriesFor(Knobs.jvm.copy(broadcastFrontMaxRows = 0L))(
      "p91_edit_similarity")(spark, dir)
    assert(!capped.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      "over-cap plan must not force a broadcast of a corpus-property front")
    assert(capped.collect().map(_.toString).sorted.toSeq == baseRows)
  }

  test("p109/p110 batch readbacks: the watermark is eliminated, one hourly aggregation") {
    for (name <- Seq("p109_ab_monitor", "p110_welch_monitor")) {
      val qe = SparkEntry.queries(name)(spark, dir).queryExecution
      val opt = qe.optimizedPlan.toString
      assert(!opt.contains("EventTimeWatermark"),
        s"$name: watermark must be eliminated on batch input:\n$opt")
      val ex = qe.executedPlan.toString
      // the only corpus-scaled work is the single hourly aggregation:
      // partial+final HashAggregate, no window operator, no join
      assert(!ex.contains("Window") && !ex.contains("SortMergeJoin"),
        s"$name plans corpus-scaled extras:\n$ex")
      assert(ex.contains("HashAggregate"), ex)
    }
  }
}
