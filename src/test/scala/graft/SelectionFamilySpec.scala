package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

/** The corpus quality & data-selection family (p52 Gopher rules, p53/p53b
  * CCNet-style LM perplexity, p54 DSIR importance resampling) re-derived by
  * an INDEPENDENT plain-Scala implementation over the same sf0.001 corpus:
  * driver-collected strings, Scala collections, Math.log — no Spark
  * expressions. Every row of every entry must agree exactly, so a drift in
  * tokenization, smoothing, scaling, hashing or tie-breaking anywhere in the
  * DataFrame plans breaks this suite even without the DuckDB oracle.
  */
class SelectionFamilySpec extends SparkSpecBase with PlainScalaFixtures {
  private implicit val knobs: Knobs = Knobs.jvm

  test("p52: every row equals the plain-Scala Gopher metrics") {
    val got = SparkEntry.queries("p52_gopher_rules")(spark, sf0001).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5), r.getBoolean(6)))).toMap
    assert(got.size == corpus.size)
    corpus.foreach { case (id, text, _) =>
      val arr = toks(text)
      val n = arr.length.toLong
      val mwl = text.replace(" ", "").length.toDouble / n
      val stw = ((text.length - text.replace("#", "").length).toDouble +
        (text.length - text.replace("...", "").length).toDouble / 3.0) / n
      val alr = arr.count(w => w.exists(c =>
        (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z'))).toDouble / n
      val nStop = arr.count(stops.contains).toLong
      val pass = n >= 50 && n <= 100000 && mwl >= 3.0 && mwl <= 10.0 &&
        stw <= 0.1 && alr >= 0.8 && nStop >= 2
      assert(got(id) == ((n, r6(mwl), r6(stw), r6(alr), nStop, pass)), s"doc $id")
    }
  }

  test("p53: per-doc nll/oov/bucket equal the plain-Scala LM scoring") {
    val (c2, c1, v) = lm
    val perDoc = corpus.map { case (id, text, _) =>
      val bs = bigrams(text)
      val nls = bs.map { b =>
        sln(c1.getOrElse(b._1, 0L) + v) - sln(c2.getOrElse(b, 0L) + 1L)
      }.sum
      val nOov = bs.count(b => !c2.contains(b)).toLong
      (id, bs.length.toLong, r6(nOov.toDouble / bs.length),
        r6(nls.toDouble / 100000000.0 / bs.length))
    }
    val nd = perDoc.size
    val rank = perDoc.sortBy(d => (d._4, d._1)).zipWithIndex
      .map { case (d, i) => d._1 -> (i + 1) }.toMap
    val expect = perDoc.map { case (id, n, oov, nll) =>
      val rn = rank(id)
      val bucket = if (rn * 3 <= nd) "head"
        else if (rn * 3 <= nd * 2) "middle" else "tail"
      id -> ((n, oov, nll, bucket))
    }.toMap
    val got = SparkEntry.queries("p53_lm_perplexity")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getString(4)))).toMap
    assert(got.size == expect.size)
    expect.foreach { case (id, e) => assert(got(id) == e, s"doc $id") }
  }

  test("p53b: the pinned model rows are exactly the Scala fit's top-100") {
    val (c2, c1, v) = lm
    val expect = c2.toSeq
      .map { case ((w1, w2), c) => (w1, w2, c, sln(c1(w1) + v) - sln(c + 1L)) }
      .sortBy { case (w1, w2, c, _) => (-c, w1, w2) }.take(100)
    val got = SparkEntry.queries("p53b_lm_model")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expect)
  }

  test("p54: weights and selection equal the plain-Scala DSIR computation") {
    val b = knobs.dsirBuckets
    def feats(text: String): Array[Long] =
      toks(text).map(w => md560(w) % b) ++
        bigrams(text).map(p => md560(p._1 + " " + p._2) % b)
    val all = corpus.map { case (id, text, lang) => (id, lang, feats(text)) }
    val tgt = all.filter(_._2 == "en").flatMap(_._3)
    val raw = all.flatMap(_._3)
    val ct = tgt.groupBy(identity).map { case (k, x) => k -> x.size.toLong }
    val cr = raw.groupBy(identity).map { case (k, x) => k -> x.size.toLong }
    val (nt, nr) = (tgt.size.toLong, raw.size.toLong)
    val lwt = cr.map { case (k, c) =>
      k -> (sln(ct.getOrElse(k, 0L) + 1L) - sln(nt + b) - sln(c + 1L) + sln(nr + b))
    }
    val perDoc = all.map { case (id, _, fs) =>
      (id, fs.length.toLong, r6(fs.map(lwt).sum.toDouble / 100000000.0 / fs.length))
    }
    val sel = perDoc.sortBy(d => (-d._3, d._1)).take(100).map(_._1).toSet
    val got = SparkEntry.queries("p54_dsir_select")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(got.size == perDoc.size)
    perDoc.foreach { case (id, n, w) =>
      assert(got(id) == ((n, w, sel.contains(id))), s"doc $id")
    }
  }

  test("p55b: the staged LR weights equal the plain-Scala full-GD fit") {
    val (wm, _) = lrFit
    val got = SparkEntry.queries("p55b_lr_weights")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == wm,
      s"weight divergence: ${got.size} vs ${wm.size} non-zero weights")
  }

  test("LR fit: the dial-guarded driver path and the distributed path are bit-identical") {
    // the stage picks the driver loop under the row dial and the fused
    // per-round jobs above it; both must produce the same weight table
    // (exact integer state; same IEEE residual expression)
    val driver = queries.Pipeline.LrStage.fitWeights(spark, sf0001)
    val dist = queries.Pipeline.LrStage.fitWeights(spark, sf0001,
      forceDistributed = true)
    assert(driver == dist,
      s"path divergence: ${driver.size} vs ${dist.size} weights")
  }

  test("p55: scores and top-k selection equal the plain-Scala scoring") {
    val (_, scores) = lrFit
    val expect = scores.map { case (id, y, ms) =>
      (id, y, r6(1.0 / (1.0 + math.exp(-(ms.toDouble / 100000000000000.0)))))
    }
    val sel = expect.sortBy(d => (-d._3, d._1)).take(100).map(_._1).toSet
    val got = SparkEntry.queries("p55_lr_quality_select")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(got.size == expect.size)
    expect.foreach { case (id, y, s) =>
      assert(got(id) == ((y, s, sel.contains(id))), s"doc $id")
    }
    // the classifier must LIFT the reference class in its selection
    val base = expect.count(_._2 == 1).toDouble / expect.size
    val inSel = expect.filter(e => sel.contains(e._1)).count(_._2 == 1) / 100.0
    assert(inSel > base,
      s"selection precision $inSel must beat the base rate $base")
  }

  test("p61: Pareto-threshold sampling equals the plain-Scala mechanism and favors high scores") {
    val (_, scores) = lrFit
    val expect = scores.map { case (id, y, ms) =>
      val score = r6(1.0 / (1.0 + math.exp(-(ms.toDouble / 100000000000000.0))))
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(2).map(b => f"${b & 0xff}%02x").mkString
      val u = java.lang.Integer.parseInt(h, 16).toDouble / 65536.0
      val x = math.pow(1.0 - u, -1.0 / 9.0) - 1.0
      id -> ((y, score, r6(x), x > 1.0 - score))
    }.toMap
    val got = SparkEntry.queries("p61_pareto_sample")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4)))).toMap
    assert(got.size == expect.size)
    expect.foreach { case (id, e) => assert(got(id) == e, s"doc $id") }
    // the mechanism's closed form: P(keep | score s) = (2 - s)^-9, so
    // the realized keep rate must sit within binomial noise of the
    // per-doc expectation (deterministic given the fixed corpus)
    val vals = expect.values.toSeq
    val expKeep = vals.map(v => math.pow(2.0 - v._2, -9.0)).sum / vals.size
    val gotKeep = vals.count(_._4).toDouble / vals.size
    val sd = math.sqrt(expKeep * (1 - expKeep) / vals.size)
    assert(math.abs(gotKeep - expKeep) < 4 * sd,
      s"keep rate $gotKeep vs Lomax expectation $expKeep (sd $sd)")
    assert(vals.exists(_._4) && vals.exists(!_._4))
  }

  test("p55c: the one-cut sketch selects near-100 docs, overwhelmingly inside the exact top-100") {
    val r = SparkEntry.queries("p55c_lr_select_sketch")(spark, sf0001).collect()
    assert(r.length == 1)
    val (cut, nSel, nAgree) =
      (r(0).getDouble(0), r(0).getLong(1), r(0).getLong(2))
    assert(cut > 0.0 && cut < 1.0)
    // the threshold form targets k=100; interpolation in a dense
    // boundary bucket trades recall for precision, never the reverse
    assert(nSel > 0 && nSel <= 150, s"selected $nSel")
    assert(nAgree.toDouble / nSel >= 0.9,
      s"sketch precision $nAgree/$nSel vs the exact top-100")
  }

  test("p55 scores against the STAGED weight table (fit-once discipline)") {
    val p = SparkEntry.queries("p55_lr_quality_select")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert("lr[0-9a-f]{6}_".r.findFirstIn(p).isDefined,
      s"p55 must scan the staged lr weights:\n$p")
  }

  test("p53c: sketch cut-points bucket nearly all docs like the exact terciles") {
    val r = SparkEntry.queries("p53c_lm_buckets_sketch")(spark, sf0001).collect()
    assert(r.length == 1)
    val row = r(0)
    val (lo, hi) = (row.getDouble(0), row.getDouble(1))
    assert(lo <= hi, s"$lo > $hi")
    val (nh, nm, nt, agree) =
      (row.getLong(2), row.getLong(3), row.getLong(4), row.getLong(5))
    val total = nh + nm + nt
    assert(total == corpus.size)
    // threshold buckets from a 1024-bucket histogram must track the
    // exact global-rank terciles on ≥ 90% of documents
    assert(agree.toDouble / total >= 0.9, s"agreement $agree/$total")
    // and each sketch bucket must hold roughly a third (±20% absolute)
    Seq(nh, nm, nt).foreach(n =>
      assert(math.abs(n.toDouble / total - 1.0 / 3) < 0.2, s"$nh/$nm/$nt"))
  }

  test("p56: temperature weights equal the plain-Scala computation and up-weight minorities") {
    val byLang = corpus.groupBy(_._3).map { case (l, ds) => l -> ds.size.toLong }
    val nt = corpus.size.toLong
    val pa = byLang.map { case (l, n) =>
      l -> math.floor(math.pow(n.toDouble / nt, 0.3) * 1000000000000.0 + 0.5).toLong
    }
    val spa = pa.values.sum
    val expect = byLang.keys.toSeq.sorted.map { l =>
      val (n, a) = (byLang(l), pa(l))
      (l, n, r6(n.toDouble / nt), r6(a.toDouble / spa),
        r6((a.toDouble / spa) / (n.toDouble / nt)))
    }
    val got = SparkEntry.queries("p56_temperature_mix")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    assert(got == expect)
    // α < 1 up-weights minority languages, down-weights the majority
    val maxLang = byLang.maxBy(_._2)._1
    got.foreach { case (l, _, _, _, boost) =>
      if (l == maxLang) assert(boost < 1.0) else assert(boost > 1.0, l)
    }
  }

  test("plan shapes: p52 is map-only; p53/p54 join only by broadcast") {
    val p52 = SparkEntry.queries("p52_gopher_rules")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!p52.contains("Join"), s"p52 must not join:\n$p52")
    assert(!p52.contains("HashAggregate"), s"p52 must not aggregate:\n$p52")
    Seq("p53_lm_perplexity", "p53b_lm_model", "p54_dsir_select").foreach { q =>
      val p = SparkEntry.queries(q)(spark, sf0001)
        .queryExecution.executedPlan.toString
      assert(!p.contains("SortMergeJoin"),
        s"$q: vocabulary/bucket-bounded sides must broadcast, not sort-merge:\n$p")
    }
  }
}
