package graft

/** Every SparkEntry query must run on sf0.001 and produce a schema and
  * rows. This is the driver's t1 smoke contract, run per query so a single
  * regression is pinpointed by name.
  */
class QueriesSmokeSpec extends SparkSpecBase {
  private implicit val knobs: Knobs = Knobs.jvm

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs on sf0.001") {
      val df = fn(spark, sf0001)
      assert(df.schema.fields.nonEmpty)
      val n = df.count()
      assert(n >= 0)
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("p63b band/hamming dials are live, clamped, and monotone") {
    // explicit-dial plans over the one staged image hash
    def pairs(nb: Int = 4, ham: Int = 6): Long =
      queries.Pipeline.imageNearDupPlan(spark, sf0001, nb, ham).count()
    val base = pairs()
    // the QDef default must BE the explicit-default plan
    assert(SparkEntry.queries("p63b_image_neardup")(spark, sf0001).count() == base)
    // hamming 0 keeps only identical fingerprints: never more pairs
    assert(pairs(ham = 0) <= base)
    // narrower bands (8 x 8-bit) admit MORE candidate collisions;
    // wider bands (2 x 32-bit) admit fewer — monotone around default 4
    val loose = pairs(nb = 8)
    val tight = pairs(nb = 2)
    assert(tight <= base && base <= loose, s"$tight <= $base <= $loose")
    // dial parsing clamps: invalid values fall back to the defaults
    val k = Knobs.from(Map("graft.imageBands" -> "7", "graft.imageHamming" -> "not-a-number"))
    assert(k.imageBands == 4)
    assert(k.imageHamming == 6)
  }

  test("p39 estimate is exactly the estimator applied to p39b's registers") {
    // the sketch-contents entry (p39b) and the answer entry (p39) must be
    // two views of ONE state: recomputing the raw-HLL estimate from the
    // pinned register table reproduces n_est_r bit-for-bit
    val regs = SparkEntry.queries("p39b_hll_registers")(spark, sf0001)
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(regs.map(_._1).distinct.length == regs.length)
    assert(regs.forall { case (i, rho) => i >= 0 && i < 256 && rho >= 1 && rho <= 53 })
    val sScaled = (256L - regs.length) * (1L << 53) +
      regs.map { case (_, rho) => 1L << (53 - rho) }.sum
    val est = queries.Pipeline.hllEstConst / sScaled.toDouble
    val estR = math.floor(est * 10000.0 + 0.5) / 10000.0
    val row = SparkEntry.queries("p39_vocab_hll")(spark, sf0001).collect().head
    assert(row.getAs[Double]("n_est_r") == estR)
  }

  test("p41/p41b/p42 are three views of ONE PQ state: codes are dense, " +
      "complete, and p42's scores recompute from the pinned artifacts") {
    val m = knobs.pqM
    val kp = knobs.pqK
    val cb = SparkEntry.queries("p41_pq_codebook")(spark, sf0001).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getInt(2), r.getDouble(3))))
    // codebook codes are dense 0..<k' per subspace, every code has the
    // same dimensionality
    val bySub = cb.groupBy(_._1._1)
    assert(bySub.keySet == (0 until m).toSet)
    bySub.foreach { case (_, rows) =>
      val codes = rows.map(_._1._2).distinct.sorted
      assert(codes.head == 0 && codes.last == codes.length - 1 && codes.length <= kp)
    }
    // every vector carries exactly M codes, each within the codebook
    val codes = SparkEntry.queries("p41b_pq_codes")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val byVec = codes.groupBy(_._1)
    assert(byVec.values.forall(v => v.map(_._2).sorted.toSeq == (0 until m).toSeq))
    val cbSet = cb.map(_._1).toSet
    assert(codes.forall(c => cbSet.contains((c._2, c._3))))
    // recompute a handful of p42 scores from the pinned artifacts: the
    // integer-scaled LUT sums + one cosine recombination must reproduce
    // ascore_r bit-for-bit (the p39=estimator(p39b) rule for ADC)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](r.fieldIndex("embedding")).toArray)).toMap
    val cvBy = SparkEntry.queries("p41_pq_codebook")(spark, sf0001).collect()
      .groupBy(r => (r.getInt(0), r.getInt(1)))
      .map { case (k, rows) =>
        k -> rows.sortBy(_.getInt(2)).map(_.getDouble(3).toFloat) }
    val codeBy = codes.groupBy(_._1)
      .map { case (v, rs) => v -> rs.sortBy(_._2).map(_._3) }
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val out = SparkEntry.queries("p42_knn_ivfpq")(spark, sf0001).collect().take(20)
    assert(out.nonEmpty)
    out.foreach { r =>
      val (qid, cid) = (r.getLong(0), r.getLong(1))
      val qv = emb(qid); val ds = qv.length / m
      def sub(v: Array[Float], i: Int) = v.slice(i * ds, (i + 1) * ds)
      val (sS, rS) = (0 until m).map { i =>
        val cv = cvBy((i, codeBy(cid)(i)))
        (math.floor(dot(sub(qv, i), cv) * 1e8 + 0.5).toLong,
         math.floor(dot(cv, cv) * 1e8 + 0.5).toLong)
      }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      val ascore = sS.toDouble / (math.sqrt(dot(qv, qv)) * math.sqrt(rS.toDouble / 1e8) * 1e8)
      val expect = BigDecimal(ascore).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) == expect, s"qid=$qid cid=$cid")
    }
  }

  test("sketch dials do not change answers: p38 result-invariant, CMS dominates") {
    // the Bloom prescreen is result-invariant BY CONSTRUCTION (no false
    // negatives; false positives die in the verify join) — so any dial,
    // including a deliberately collision-heavy one, must reproduce the
    // default-dial answer exactly
    val base = SparkEntry.queries("p38_contamination_bloom")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    // 2^12 bits: 16x the false-positive mass
    val coarseKnobs = Knobs.jvm.copy(bloomLogBits = 12, bloomProbes = 2)
    val coarse = SparkEntry.queriesFor(coarseKnobs)("p38_contamination_bloom")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(coarse == base, "Bloom prescreen must be result-invariant at any dial")
    // the CMS estimate must dominate the exact count at any dial (the
    // sketch's one-sided error guarantee), including a narrow noisy one
    val narrow = Knobs.jvm.copy(cmsLogWidth = 10, cmsDepth = 2)
    val cms = SparkEntry.queriesFor(narrow)("p40_bigram_cms")(spark, sf0001).collect()
    assert(cms.nonEmpty && cms.forall(_.getAs[Long]("overcount") >= 0L),
      "CMS estimate must be >= the exact count at any dial")
  }

  test("BPE merge rule: left-to-right non-overlap, boundary-safe, lexicographic ties") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def enc(words: (String, Long)*) =
      words.toDF("w", "freq")
        .withColumn("enc", regexp_replace(col("w"), "(.)", "($1)"))
    // the chain rule: "aaaa" under merge (a,a) becomes (aa)(aa) — NOT
    // (aa)(a)(a) — because replace consumes matches left to right
    val chain = enc(("aaaa", 1L), ("aaa", 1L))
    val best = queries.Pipeline.bpeBest(queries.Pipeline.bpePairs(chain))
    val b = best.collect()(0)
    assert((b.getString(0), b.getString(1), b.getLong(2)) == ("a", "a", 5L),
      b.toString) // aaaa yields 3 adjacent pairs, aaa yields 2
    val merged = queries.Pipeline.bpeApply(chain, best)
      .select("w", "enc").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(merged("aaaa") == "(aa)(aa)", merged.toString)
    assert(merged("aaa") == "(aa)(a)", merged.toString)
    // boundary safety: merge (l, r) must not fire inside symbol "al"
    val bound = enc(("alr", 1L)).withColumn("enc", lit("(al)(r)"))
    val fake = Seq(("l", "r", 1L)).toDF("l", "r", "pair_count")
    assert(queries.Pipeline.bpeApply(bound, fake).select("enc").collect()(0)
      .getString(0) == "(al)(r)")
    // lexicographic tie-break: (ab, ba each appear once) -> (a, b) wins
    val tie = enc(("ab", 1L), ("ba", 1L))
    val tb = queries.Pipeline.bpeBest(queries.Pipeline.bpePairs(tie)).collect()(0)
    assert((tb.getString(0), tb.getString(1)) == ("a", "b"), tb.toString)
    // dial clamps
    assert(Knobs.from(Map("graft.bpeMerges" -> "99")).bpeMerges == 12)
    assert(Knobs.from(Map("graft.bpeMerges" -> "0")).bpeMerges == 1)
  }

  test("p48c fertility: >= 1 everywhere, word total matches the corpus filter, " +
      "and merges strictly reduce it") {
    import org.apache.spark.sql.functions._
    val f = SparkEntry.queries("p48c_bpe_fertility")(spark, sf0001).collect()
    assert(f.nonEmpty)
    // a BPE segmentation can never emit fewer than 1 token per word,
    // and with finitely many merges over multi-char words it stays > 1
    f.foreach(r => assert(r.getAs[Double]("fertility") >= 1.0, r.toString))
    // every [a-z]+ lowercase word is measured exactly once
    val total = f.map(_.getAs[Long]("n_words")).sum
    val expect = graft.Tables.load(spark, sf0001, "documents")
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$")).count()
    assert(total == expect, s"$total vs $expect")
    // the trained tokenizer must BEAT the character baseline: fertility
    // strictly below chars-per-word (chars = fertility of zero merges)
    val charsPerWord = graft.Tables.load(spark, sf0001, "documents")
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .agg((sum(length(col("w"))).cast("double") / count(lit(1))).as("cpw"))
      .collect()(0).getDouble(0)
    f.foreach(r => assert(r.getAs[Double]("fertility") < charsPerWord, r.toString))
  }

  test("p57 novelty: first doc is all-novel; novel counts partition the distinct shingles") {
    val rows = SparkEntry.queries("p57_ngram_novelty")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // the lowest doc_id can only contain first-occurrences
    val first = rows.minBy(_._1)
    assert(first._4 == 1.0 && first._2 == first._3, first.toString)
    // every distinct shingle is novel in EXACTLY one doc (its min),
    // so the novel counts sum to the corpus's distinct-shingle count
    val distinctH = queries.Pipeline.ShingleStage.load(spark, sf0001)
      .select("h").distinct().count()
    assert(rows.map(_._3).sum == distinctH)
    rows.foreach { case (id, n, nov, _) =>
      assert(nov >= 0 && nov <= n, s"doc $id") }
  }

  test("p58 source overlap: pair mass equals p02's near-dup pairs exactly") {
    val byPair = SparkEntry.queries("p58_source_overlap")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    byPair.foreach { case (a, b, _, within) =>
      assert(a <= b && within == (a == b)) }
    val totalPairs = SparkEntry.queries("p02_dedup_ngram_jaccard")(spark, sf0001).count()
    assert(byPair.map(_._3).sum == totalPairs,
      s"${byPair.map(_._3).sum} vs $totalPairs")
  }

  test("p59 dedup yield: doc and byte mass conserved; singletons carry no dupe bytes") {
    val rows = SparkEntry.queries("p59_dedup_yield")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    import org.apache.spark.sql.functions._
    val d = graft.Tables.load(spark, sf0001, "documents")
      .agg(count(lit(1)), sum(col("n_chars"))).collect()(0)
    // every document lands in exactly one cluster-size class
    assert(rows.map(_._3).sum == d.getLong(0))
    assert(rows.map(_._4).sum == d.getLong(1))
    rows.foreach { case (size, nc, nd, _, dupe) =>
      assert(nd == size * nc, s"size $size")
      if (size == 1) assert(dupe == 0L, "singletons have no duplicates")
      else assert(dupe > 0L, s"size-$size clusters must carry dupe bytes")
    }
  }

  test("p60 chunk BM25: retrieval units are exactly p50's windows; scores positive") {
    val top = SparkEntry.queries("p60_chunk_bm25")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(top.length == 50)
    val c = knobs.chunkTokens
    top.foreach { case (id, no, nTok, score) =>
      assert(nTok >= 1 && nTok <= c, s"doc $id chunk $no")
      assert(score > 0.0, "a top-50 chunk must match at least one term")
    }
    // every (doc_id, chunk_no) must be a window p50 emits
    val p50 = SparkEntry.queries("p50_chunk_windows")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    top.foreach { case (id, no, _, _) =>
      assert(p50.contains((id, no)), s"($id, $no) not a p50 window") }
  }

  test("p62 corpus card agrees with the entries it summarizes (p01, p52, p57)") {
    val card = SparkEntry.queries("p62_corpus_card")(spark, sf0001).collect()(0)
    val nDocs = card.getAs[Long]("n_docs")
    // exact-dup mass = docs minus p01's surviving representatives
    val p01 = SparkEntry.queries("p01_dedup_exact")(spark, sf0001).count()
    assert(card.getAs[Long]("exact_dup_docs") == nDocs - p01)
    // gopher pass rate = p52's pass count over the corpus
    val p52pass = SparkEntry.queries("p52_gopher_rules")(spark, sf0001)
      .filter("pass").count()
    val expRate = java.math.BigDecimal.valueOf(p52pass.toDouble / nDocs)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    assert(card.getAs[Double]("gopher_pass_rate") == expRate)
    // distinct shingles = the staged table's distinct h (p57's partition total)
    val distinctH = queries.Pipeline.ShingleStage.load(spark, sf0001)
      .select("h").distinct().count()
    assert(card.getAs[Long]("distinct_shingles") == distinctH)
    assert(card.getAs[Long]("n_langs") == 5 && card.getAs[Long]("n_sources") >= 2)
  }

  test("BPE end-to-end on a hand-computable corpus") {
    import spark.implicits._
    // corpus: "low low low lower lower" + noise filtered by [a-z]+
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_micro")
    Seq((1L, "low low low lower lower X9 -"), (2L, "low lowest"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val q = SparkEntry.queriesFor(Knobs.jvm.copy(bpeMerges = 3))
    try {
      val merges = q("p48_bpe_merges")(spark, dir.toString)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      // words: low x4, lower x2, lowest x1
      // round 1 pairs: (l,o)=7, (o,w)=7 ... tie -> (l,o) wins
      assert(merges(0) == ((1, "l", "o", 7L)), merges.mkString("; "))
      // round 2: (lo,w)=7 dominates
      assert(merges(1) == ((2, "lo", "w", 7L)), merges.mkString("; "))
      // round 3: (low,e)=3 (lower x2 + lowest x1)
      assert(merges(2) == ((3, "low", "e", 3L)), merges.mkString("; "))
      val tok = q("p48b_bpe_tokenize")(spark, dir.toString)
        .collect().map(r => r.getString(0) -> r.getString(2)).toMap
      assert(tok("low") == "low", tok.toString)
      assert(tok("lower") == "lowe r", tok.toString)
      assert(tok("lowest") == "lowe s t", tok.toString)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }
  }

  test("BPE: rounds past a fully-merged vocabulary are no-ops, not wipes") {
    import spark.implicits._
    // 'ab' and 'cd' fully merge in 2 rounds; the remaining 4 rounds at
    // the default dial have NO pairs left — the word table must survive
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_dry")
    Seq((1L, "ab cd ab")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val q = SparkEntry.queriesFor(Knobs.jvm.copy(bpeMerges = 6))
    try {
      val merges = q("p48_bpe_merges")(spark, dir.toString)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      assert(merges.toSeq == Seq((1, "a", "b"), (2, "c", "d")), merges.mkString("; "))
      val tok = q("p48b_bpe_tokenize")(spark, dir.toString)
        .collect().map(r => r.getString(0) -> r.getString(2)).toMap
      assert(tok == Map("ab" -> "ab", "cd" -> "cd"), tok.toString)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }
  }

  test("chunk windows: stride coverage, short tails, fingerprint-level dedup") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_chunk_micro")
    val words = (0 until 100).map(i => s"t$i").mkString(" ")
    // two identical docs (every chunk duplicated) + one distinct
    Seq((1L, words, "web"), (2L, words, "web"), (3L, "a b c", "books"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val q = SparkEntry.queriesFor(Knobs.jvm.copy(chunkTokens = 10, chunkStride = 8))
    try {
      val rows = q("p50_chunk_windows")(spark, dir.toString)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
          r.getString(4)))
      val d1 = rows.filter(_._1 == 1L)
      // starts 0, 8, ..., 96 -> 13 chunks; the last covers 4 tokens
      assert(d1.length == 13, d1.length)
      assert(d1.map(_._3).toSeq == (0 until 100 by 8).toSeq)
      assert(d1.last._4 == 4 && d1.head._4 == 10, d1.last.toString)
      // identical docs produce identical fingerprints, chunk for chunk
      val d2 = rows.filter(_._1 == 2L)
      assert(d1.map(c => (c._2, c._5)).toSeq == d2.map(c => (c._2, c._5)).toSeq)
      // the tiny doc yields one short chunk
      val d3 = rows.filter(_._1 == 3L)
      assert(d3.length == 1 && d3.head._4 == 3, d3.toSeq.toString)
      // dedup stats: web's chunks are fully duplicated pairwise
      val stats = q("p50b_chunk_dedup_stats")(spark, dir.toString)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(stats("web") == ((26L, 13L, 0.5)), stats.toString)
      assert(stats("books") == ((1L, 1L, 0.0)), stats.toString)
      // stride clamps to the window (no token ever skipped)
      val wide = Knobs.from(Map("graft.chunkTokens" -> "10", "graft.chunkStride" -> "999"))
      assert(wide.chunkStride == wide.chunkTokens)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }
  }

  test("as-of join semantics: inclusive ties, null before first click, per-user isolation") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_asof_micro")
    def ev(id: Long, us: Long, user: Long, tpe: String) =
      (id, new java.sql.Timestamp(us / 1000), user, tpe, 0.0, "{}")
    // user 1: purchase BEFORE any click (null match), click, purchase at
    // the SAME instant as a click (inclusive tie), later purchase picks
    // the LATEST prior click. user 2's clicks must not leak into user 1.
    Seq(
      ev(10L, 1000000L, 1L, "purchase"), // before any click -> null
      ev(11L, 2000000L, 1L, "click"),
      ev(12L, 3000000L, 1L, "click"),
      ev(13L, 3000000L, 1L, "purchase"), // tie with click 12 -> matches it
      ev(14L, 5000000L, 1L, "purchase"), // latest prior click = 12
      ev(20L, 4000000L, 2L, "click"),
      ev(21L, 4500000L, 2L, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    try {
      val rows = SparkEntry.queries("p51_asof_join")(spark, dir.toString)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))
      assert(rows.toSeq == Seq(
        (10L, None, None),
        (13L, Some(3000000L), Some(0L)),
        (14L, Some(3000000L), Some(2000000L)),
        (21L, Some(4000000L), Some(500000L))), rows.mkString("; "))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }
  }

  test("exact all-pairs truth BUILDS refuse to run above the size guard") {
    // the guard moved to the TruthStage build (p00g): a committed staged
    // truth table reads freely (that's the point of staging), so force a
    // fresh staging root to exercise the build path
    val freshRoot = java.nio.file.Files.createTempDirectory("graft_guard_probe")
    val q = SparkEntry.queriesFor(Knobs.jvm.copy(exactBaselineMaxRows = 10L,
      shingleStageDir = Some(freshRoot.toString)))
    try {
      Seq("p05_knn_exact", "p14_embedding_neardup").foreach { name =>
        val e = intercept[IllegalStateException] {
          q(name)(spark, sf0001).count()
        }
        assert(e.getMessage.contains("exact all-pairs baseline"), e.getMessage)
        assert(e.getMessage.contains("p06_knn_lsh"), e.getMessage)
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(freshRoot.toFile)
    }
  }
}
