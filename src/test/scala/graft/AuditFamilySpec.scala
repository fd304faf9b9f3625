package graft

/** The corpus-audit family (p70 Hedge, p78 Kneser-Ney, p80 LexRank,
  * p81 winnowing, p85 JS divergence, p86 lexical/Zipf, p87 excess
  * loss, p90 Borda fusion) against the plain-Scala re-derivations —
  * split from SelectionFamilySpec so the test wall parallelizes.
  */
class AuditFamilySpec extends SparkSpecBase with PlainScalaFixtures {
  private implicit val knobs: Knobs = Knobs.jvm

  test("p70: the Hedge trajectory equals the plain-Scala MWU re-derivation") {
    val (c2, c1, v) = lm
    val srcOf = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val perDoc = corpus.flatMap { case (id, text, _) =>
      val bs = bigrams(text)
      if (bs.isEmpty) None
      else Some((id, srcOf(id),
        bs.map(b => sln(c1.getOrElse(b._1, 0L) + v) -
          sln(c2.getOrElse(b, 0L) + 1L)).sum,
        bs.length.toLong))
    }
    // per-(shard, source) floor-div mean loss, per-round per-mille vs max
    val rt = perDoc.groupBy(d => (d._1 % 6, d._2)).map { case (k, ds) =>
      k -> ds.map(_._3).sum / ds.map(_._4).sum
    }
    val shards = rt.keys.map(_._1).toSeq.distinct.sorted
    val lmax = shards.map(t => t -> rt.collect {
      case ((`t`, _), l) => l }.max).toMap
    val sources = srcOf.values.toSeq.distinct.sorted
    val mpm = (for { t <- shards; s0 <- sources } yield
      (t, s0) -> rt.getOrElse((t, s0), lmax(t)) * 1000L /
        math.max(lmax(t), 1L)).toMap
    // the exact-integer MWU fold, one prefix per round
    val wMap = sources.map { s0 =>
      val fs = shards.map(t => 1000000L - 300L * mpm((t, s0)))
      s0 -> (1 to 6).map(t =>
        fs.take(t).foldLeft(1000000000000L)((a, b) => a * b / 1000000L))
    }.toMap
    val rows = SparkEntry.queries("p70_hedge_mix")(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(rows.size == shards.size * sources.size, rows.size.toString)
    (1 to 6).filter(t => shards.contains((t - 1).toLong)).foreach { t =>
      val sw = sources.map(s0 => wMap(s0)(t - 1)).sum
      sources.foreach { s0 =>
        val e = (mpm(((t - 1).toLong, s0)), wMap(s0)(t - 1),
          r6(wMap(s0)(t - 1).toDouble / sw))
        assert(rows((t, s0)) == e, s"t=$t src=$s0: ${rows((t, s0))} vs $e")
      }
    }
    // weights per round are a distribution up to readout rounding
    (1 to 6).foreach { t =>
      val ws = rows.collect { case ((`t`, _), (_, _, wr)) => wr }
      assert(math.abs(ws.sum - 1.0) < 1e-4, s"round $t sums ${ws.sum}")
    }
  }

  test("p78: Kneser-Ney doc scores equal the plain-Scala re-derivation; " +
    "the smoothed distribution normalizes EXACTLY per context") {
    // independent model fit over the English slice, plain collections
    val ref = corpus.filter(_._3 == "en")
    val refBigs = ref.flatMap { case (_, text, _) => bigrams(text) }
    val c2 = refBigs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c1 = refBigs.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n1v = c2.keys.toSeq.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n1w = c2.keys.toSeq.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val vocab = ref.flatMap { case (_, text, _) => toks(text) }.distinct
    val dd = c2.size.toLong + vocab.size.toLong
    def num(w1: String, w2: String): Long =
      math.max(4L * c2.getOrElse((w1, w2), 0L) - 3L, 0L) * dd +
        3L * n1v(w1) * (n1w.getOrElse(w2, 0L) + 1L)
    def nls(w1: String, w2: String): Long = c1.get(w1) match {
      case None => sln(dd) - sln(n1w.getOrElse(w2, 0L) + 1L)
      case Some(cc1) => sln(4L * dd * cc1) - sln(num(w1, w2))
    }
    val expected = corpus.flatMap { case (id, text, _) =>
      val bs = bigrams(text)
      if (bs.isEmpty) None else {
        val n = bs.length.toLong
        val oov = bs.count { case (w1, _) => !c1.contains(w1) }.toLong
        val s = bs.map { case (w1, w2) => nls(w1, w2) }.sum
        Some(id -> ((n, oov, r6(oov.toDouble / n), r6(s.toDouble / 1e8 / n))))
      }
    }.toMap
    val got = SparkEntry.queries("p78_kn_perplexity")(spark, sf0001).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got == expected,
      s"${got.size} vs ${expected.size}; diff=${
        (got.keySet | expected.keySet).find(k => got.get(k) != expected.get(k))}")
    // KN with the add-one continuation distribution is a PROPER
    // distribution: for every seen context, the integer numerators over
    // the whole reference vocabulary sum to exactly the denominator
    // 4·D·c1 (sum of (n1w+1) over the vocab = B + V = D by construction)
    c1.foreach { case (w1, cc1) =>
      val mass = vocab.iterator.map(w2 => num(w1, w2)).sum
      assert(mass == 4L * dd * cc1, s"context $w1: $mass != ${4L * dd * cc1}")
    }
    // unseen-context arm too: sum over vocab of (n1w+1) = D exactly
    assert(vocab.iterator.map(w2 => n1w.getOrElse(w2, 0L) + 1L).sum == dd)
    // and the surfaced model table (p78b) matches the same fit
    val model = SparkEntry.queries("p78b_kn_model")(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(model.keySet == c1.keySet)
    c1.foreach { case (w1, cc1) =>
      assert(model(w1) ==
        ((cc1, n1v(w1), r6((3L * n1v(w1)).toDouble / (4L * cc1)))), w1)
    }
  }

  test("p80: the integer PageRank trajectory equals a plain-Scala walk " +
    "over the pinned p02 edge set; isolated docs sit at the damping floor") {
    // edges re-read from p02's already-oracle-pinned output (NOT from
    // p80's own plan), symmetrized; 5 exact-integer damping rounds
    val pairs = SparkEntry.queries("p02_dedup_ngram_jaccard")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges: Seq[(Long, Long)] =
      pairs.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg: Map[Long, Long] =
      edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val nodes = corpus.map(_._1)
    var rank: Map[Long, Long] = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 5) {
      val mass: Map[Long, Long] = edges
        .map { case (src, dst) => dst -> rank(src) / deg(src) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
      rank = nodes.map(n => n -> (150000L + 85L * mass.getOrElse(n, 0L) / 100L)).toMap
    }
    val got = SparkEntry.queries("p80_lexrank")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == nodes.toSet)
    nodes.foreach { n =>
      assert(got(n) == ((deg.getOrElse(n, 0L), rank(n))),
        s"doc $n: ${got(n)} vs (${deg.getOrElse(n, 0L)}, ${rank(n)})")
    }
    // no in-edges => rank is exactly the damping floor, every round
    nodes.filterNot(deg.contains).foreach { n =>
      assert(got(n)._2 == 150000L, s"isolated doc $n")
    }
    // the damping floor is a universal lower bound
    nodes.foreach(n => assert(got(n)._2 >= 150000L, s"doc $n below floor"))
  }

  test("p85: every pairwise JS divergence equals the plain-Scala " +
    "re-derivation; scores live in [0,1] and p85b picks the argmin") {
    val bkts = knobs.dsirBuckets
    val rows = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    // counts per (source, bucket) and totals, plain collections
    val cnt: Map[(String, Long), Long] = rows
      .flatMap { case (src, text) =>
        toks(text).map(w => (src, md560(w) % bkts)) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val tot: Map[String, Long] =
      cnt.groupBy(_._1._1).map { case (s0, m) => s0 -> m.values.sum }
    val srcs = tot.keys.toSeq.sorted
    // ordered-direction exact-integer KL sums
    def sOrd(a: String, b: String): Long = {
      val (ta, tb) = (tot(a), tot(b))
      cnt.collect { case ((`a`, bk), na) =>
        val nb = cnt.getOrElse((b, bk), 0L)
        na * (sln(2L * na * tb) - sln(na * tb + nb * ta))
      }.sum
    }
    val expected = (for {
      a <- srcs; b <- srcs if a < b
    } yield (a, b) -> ((tot(a), tot(b), r6(
      (sOrd(a, b).toDouble / tot(a) + sOrd(b, a).toDouble / tot(b)) /
        (2.0 * math.log(2.0) * 100000000.0))))).toMap
    val got = SparkEntry.queries("p85_source_divergence")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == expected, s"${got.size} vs ${expected.size}; diff=${
      (got.keySet | expected.keySet).find(k => got.get(k) != expected.get(k))}")
    // JS normalized by ln 2 is bounded: [0, 1] (integer rounding slack)
    got.values.foreach { case (_, _, js) =>
      assert(js >= -1e-6 && js <= 1.0 + 1e-6, js.toString)
    }
    // p85b: for each source, the (js, name)-min over its row+column
    val nn = SparkEntry.queries("p85b_source_neighbors")(spark, sf0001)
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getDouble(2))))
      .toMap
    assert(nn.keySet == srcs.toSet)
    srcs.foreach { s0 =>
      val cands = expected.collect {
        case ((a, b), (_, _, js)) if a == s0 => (js, b)
        case ((a, b), (_, _, js)) if b == s0 => (js, a)
      }.toSeq.sorted
      assert(nn(s0) == ((cands.head._2, cands.head._1)), s0)
    }
  }

  test("p81: fingerprints and pairs equal the plain-Scala winnowing " +
    "re-derivation; each fingerprint set is a sub-sample of the doc's grams") {
    val w = 4
    // plain-Scala winnowing: positional 3-gram hashes, window minima
    val fps: Map[Long, Set[Long]] = corpus.flatMap { case (id, text, _) =>
      val arr = toks(text)
      if (arr.length < 3) None else {
        val hs = (0 to arr.length - 3)
          .map(i => md560(s"${arr(i)} ${arr(i + 1)} ${arr(i + 2)}"))
        val mins = (0 to hs.length - w).map(p => hs.slice(p, p + w).min)
        Some(id -> mins.toSet)
      }
    }.toMap
    val nDocs = corpus.size.toLong
    val dfCap = math.max(5.0, nDocs * 0.01)
    val dfm = fps.toSeq.flatMap(_._2.toSeq).groupBy(identity)
      .map { case (h, v) => h -> v.size.toLong }
    val kept: Map[Long, Set[Long]] = fps.map { case (id, s0) =>
      id -> s0.filter(h => dfm(h).toDouble <= dfCap)
    }
    val expected = (for {
      (a, sa) <- kept.toSeq; (b, sb) <- kept.toSeq
      if a < b
      shared = (sa & sb).size.toLong
      if shared > 0
      score = shared.toDouble / math.min(sa.size, sb.size)
      if score >= 0.5
    } yield (a, b) -> ((shared, sa.size.toLong, sb.size.toLong, r6(score)))).toMap
    val got = SparkEntry.queries("p81_winnow_dedup")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got == expected, s"${got.size} vs ${expected.size}; diff=${
      (got.keySet | expected.keySet).find(k => got.get(k) != expected.get(k))}")
    // the winnowing density property: every fingerprint is one of the
    // doc's own gram hashes, and there are at most #windows of them —
    // in expectation 2/(w+1) of the grams (MOSS, SIGMOD 2003 §4)
    corpus.foreach { case (id, text, _) =>
      val arr = toks(text)
      if (arr.length >= 3 + w - 1) {
        val grams = (0 to arr.length - 3)
          .map(i => md560(s"${arr(i)} ${arr(i + 1)} ${arr(i + 2)}")).toSet
        assert(fps(id).subsetOf(grams), s"doc $id")
        assert(fps(id).size <= arr.length - 3 - w + 2, s"doc $id")
      }
    }
  }

  test("p86/p86b: lexical stats and the Zipf OLS equal the plain-Scala " +
    "re-derivation; entropy <= log2(types) and slopes are negative") {
    val rows = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val wc: Map[String, Map[String, Long]] = rows.groupBy(_._1).map {
      case (src, v) =>
        src -> v.flatMap(t => toks(t._2)).groupBy(identity)
          .map { case (w, o) => w -> o.size.toLong }
    }
    val got = SparkEntry.queries("p86_lexical_stats")(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    assert(got.keySet == wc.keySet)
    wc.foreach { case (src, m) =>
      val t = m.values.sum
      val hs = sln(t) * t - m.values.map(n => n * sln(n)).sum
      val ent = r6(hs.toDouble / (t.toDouble * 1e8 * math.log(2.0)))
      val simp = r6(m.values.map(n => n * (n - 1)).sum.toDouble /
        (t.toDouble * math.max(t - 1, 1)))
      assert(got(src) ==
        ((t, m.size.toLong, r6(m.size.toDouble / t), ent, simp)), src)
      // Shannon bound: H <= log2(V), equality iff uniform
      assert(ent <= math.log(m.size.toDouble) / math.log(2.0) + 1e-6, src)
      assert(got(src)._3 <= 1.0 + 1e-9)
    }
    // Zipf: OLS over the top-256 by (freq desc, word asc), exact sums
    val zg = SparkEntry.queries("p86b_zipf_fit")(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    wc.foreach { case (src, m) =>
      val top = m.toSeq.sortBy { case (w, n) => (-n, w) }.take(256)
      val xy = top.zipWithIndex.map { case ((_, n), i) =>
        (sln(i + 1L) / 1000L, sln(n) / 1000L) }
      val r = xy.size.toLong
      val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
      val sxx = xy.map(p => p._1 * p._1).sum
      val sxy = xy.map(p => p._1 * p._2).sum
      val syy = xy.map(p => p._2 * p._2).sum
      val num = r * sxy - sx * sy
      val den = r * sxx - sx * sx
      val slope = r6(num.toDouble / den.toDouble)
      val r2 = r6(num.toDouble * num.toDouble /
        (den.toDouble * (r * syy - sy * sy).toDouble))
      assert(zg(src) == ((r, slope, r2)), s"$src: ${zg(src)} vs ($r, $slope, $r2)")
      // rank-frequency law: frequency falls with rank
      assert(slope < 0.0, src)
      assert(r2 >= 0.0 && r2 <= 1.0 + 1e-9, src)
    }
  }

  test("p87: excess losses equal the plain-Scala two-model re-derivation; " +
    "kept is exactly the top quarter") {
    def fit(sel: Seq[(Long, String, String)])
        : (Map[(String, String), Long], Map[String, Long], Long) = {
      val bs = sel.flatMap { case (_, t, _) => bigrams(t) }
      (bs.groupBy(identity).map { case (k, v) => k -> v.size.toLong },
        bs.groupBy(_._1).map { case (k, v) => k -> v.size.toLong },
        sel.flatMap { case (_, t, _) => toks(t) }.distinct.size.toLong)
    }
    val (rc2, rc1, rv) = fit(corpus.filter(_._3 == "en"))
    val (ac2, ac1, av) = fit(corpus)
    def nllSum(t: String, c2: Map[(String, String), Long],
        c1: Map[String, Long], v: Long): Long =
      bigrams(t).map { case (w1, w2) =>
        sln(c1.getOrElse(w1, 0L) + v) - sln(c2.getOrElse((w1, w2), 0L) + 1L)
      }.sum
    val per = corpus.flatMap { case (id, t, _) =>
      val n = bigrams(t).length.toLong
      if (n == 0) None else {
        val rs = nllSum(t, rc2, rc1, rv)
        val cs = nllSum(t, ac2, ac1, av)
        Some(id -> ((n, r6(rs.toDouble / 1e8 / n), r6(cs.toDouble / 1e8 / n),
          r6((cs - rs).toDouble / 1e8 / n))))
      }
    }.toMap
    val nd = per.size.toLong
    val ranked = per.toSeq.sortBy { case (id, (_, _, _, ex)) => (-ex, id) }
    val keptIds = ranked.zipWithIndex
      .filter { case (_, i) => (i + 1).toLong * 4 <= nd }.map(_._1._1).toSet
    val got = SparkEntry.queries("p87_excess_loss")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5)))).toMap
    assert(got.size == per.size)
    per.foreach { case (id, (n, nr, nc, ex)) =>
      assert(got(id) == ((n, nr, nc, ex, keptIds.contains(id))),
        s"doc $id: ${got(id)} vs ($n, $nr, $nc, $ex, ${keptIds.contains(id)})")
    }
    // the keep budget is exactly floor(nd/4)
    assert(got.values.count(_._5).toLong == nd / 4)
    // the excess identity holds row-by-row on the rounded columns too
    got.values.foreach { case (_, nr, nc, ex, _) =>
      assert(math.abs((nc - nr) - ex) < 2e-6, s"$nc - $nr != $ex")
    }
  }

  test("p90: Borda fusion equals the re-ranking of the three pinned " +
    "signals; ranks are permutations and the keep budget is floor(n/4)") {
    def scores(name: String, idCol: Int, scoreCol: Int): Map[Long, Double] =
      SparkEntry.queries(name)(spark, sf0001).collect()
        .map(r => r.getLong(idCol) -> r.getDouble(scoreCol)).toMap
    val q = scores("p09_quality_score", 0, 4)
    val l = scores("p55_lr_quality_select", 0, 2)
    val f = scores("p82_readability", 0, 4)
    def rk(m: Map[Long, Double]): Map[Long, Long] =
      m.toSeq.sortBy { case (id, v) => (v, id) }.zipWithIndex
        .map { case ((id, _), i) => id -> (i + 1).toLong }.toMap
    val (rq, rl, rf) = (rk(q), rk(l), rk(f))
    val borda = q.keys.map(id => id -> (rq(id) + rl(id) + rf(id))).toMap
    val nd = borda.size.toLong
    val keptIds = borda.toSeq.sortBy { case (id, b) => (-b, id) }
      .zipWithIndex.filter { case (_, i) => (i + 1).toLong * 4 <= nd }
      .map(_._1._1).toSet
    val got = SparkEntry.queries("p90_quality_fusion")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))).toMap
    assert(got.size == borda.size)
    borda.keys.foreach { id =>
      assert(got(id) == ((rq(id), rl(id), rf(id), borda(id),
        keptIds.contains(id))), s"doc $id: ${got(id)}")
    }
    // each rank column is a permutation of 1..n
    Seq(got.values.map(_._1), got.values.map(_._2), got.values.map(_._3))
      .foreach(c => assert(c.toSeq.sorted == (1L to nd).toSeq))
    assert(got.values.count(_._5).toLong == nd / 4)
  }
}
