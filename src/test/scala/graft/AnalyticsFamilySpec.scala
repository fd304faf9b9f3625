package graft

/** The analytics/embedding-audit family (p76 retention, p77 anomaly,
  * p79 best-of-cluster, p82 readability, p83 retrieval eval, p84 PCA,
  * p88 prototypes, p89 OOD) against plain-Scala re-derivations — split
  * from QueriesSmokeSpec so the test wall parallelizes across suites.
  */
class AnalyticsFamilySpec extends SparkSpecBase {
  private implicit val knobs: Knobs = Knobs.jvm

  test("p76 retention: equals the plain-Scala cohort matrix; week-0 retention is 1.0") {
    import java.time.{DayOfWeek, Instant, LocalDate, ZoneOffset}
    import java.time.temporal.TemporalAdjusters
    def utcDate(t: java.sql.Timestamp): LocalDate =
      Instant.ofEpochMilli(t.getTime).atZone(ZoneOffset.UTC).toLocalDate
    def week(d: LocalDate): LocalDate =
      d.`with`(TemporalAdjusters.previousOrSame(DayOfWeek.MONDAY))
    val ev = graft.queries.Q.t(spark, sf0001, "events")
      .select("user_id", "ts").collect()
      .map(r => (r.getLong(0), utcDate(r.getTimestamp(1))))
    val cohort: Map[Long, LocalDate] = ev.groupBy(_._1)
      .map { case (u, rows) => u -> week(rows.map(_._2).minBy(_.toEpochDay)) }
    val sizes: Map[LocalDate, Long] =
      cohort.values.groupBy(identity).map { case (cw, v) => cw -> v.size.toLong }
    val active: Map[(LocalDate, Int), Long] = ev
      .map { case (u, d) =>
        val cw = cohort(u)
        ((cw, ((week(d).toEpochDay - cw.toEpochDay) / 7).toInt), u)
      }.distinct.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val expected = active.map { case ((cw, off), nAct) =>
      (cw.toString, off) -> ((nAct, sizes(cw),
        java.math.BigDecimal.valueOf(nAct.toDouble / sizes(cw))
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue))
    }
    val got = SparkEntry.queries("p76_retention_cohorts")(spark, sf0001).collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == expected, s"${got.toSeq.sortBy(_._1).take(3)} vs ${
      expected.toSeq.sortBy(_._1).take(3)}")
    // every user is active in their own cohort week, so offset 0 is total
    sizes.keys.foreach { cw =>
      assert(got((cw.toString, 0)) == ((sizes(cw), sizes(cw), 1.0)), cw.toString)
    }
  }

  test("p77 anomaly: equals the plain-Scala trailing-window z-scores") {
    import java.time.{Instant, ZoneOffset}
    import java.time.temporal.ChronoUnit
    def r6(d: Double): Double = java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val ev = graft.queries.Q.t(spark, sf0001, "events")
      .select("event_type", "ts").collect()
      .map(r => (r.getString(0), Instant.ofEpochMilli(r.getTimestamp(1).getTime)
        .atZone(ZoneOffset.UTC).truncatedTo(ChronoUnit.HOURS).toInstant))
    val hourly = ev.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val expected = hourly.keys.toSeq.map(_._1).distinct.flatMap { et =>
      val series = hourly.collect { case ((`et`, h), n) => (h, n) }
        .toSeq.sortBy(_._1)
      series.indices.flatMap { i =>
        val wnd = series.slice(math.max(0, i - 24), i).map(_._2)
        val (wc, ws, ws2) = (wnd.size.toLong, wnd.sum, wnd.map(x => x * x).sum)
        if (wc < 12) None else {
          val n = series(i)._2
          val z = if (wc * ws2 > ws * ws)
            Some(r6((n.toDouble - ws.toDouble / wc) /
              math.sqrt((ws2.toDouble - ws.toDouble * ws / wc) / (wc - 1))))
          else None
          Some((et, series(i)._1) ->
            ((n, wc, r6(ws.toDouble / wc), z, z.exists(v => math.abs(v) >= 3.0))))
        }
      }
    }.toMap
    val got = SparkEntry.queries("p77_hourly_anomaly")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toInstant) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)),
          r.getBoolean(6)))).toMap
    assert(got.size == expected.size, s"${got.size} vs ${expected.size}")
    assert(got == expected, (got.keySet | expected.keySet)
      .find(k => got.get(k) != expected.get(k)).toString)
  }

  test("p79: one survivor per cluster, and it is the max-quality member") {
    def q(text: String): Double = {
      val n = text.split(" ", -1).length
      val mwl = text.replace(" ", "").length.toDouble / n
      // mirrors p09's pinned expression: length(text) - length(text
      // stripped of [A-Za-z0-9 ]) counts the KEPT class
      val pr = text.count(c => (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (c >= '0' && c <= '9') || c == ' ').toDouble / text.length
      (if (n >= 5 && n <= 1000) 0.4 else 0.0) +
        (if (mwl >= 3.0 && mwl <= 10.0) 0.3 else 0.0) +
        (if (pr < 0.1) 0.3 else 0.0)
    }
    val quality = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> q(r.getString(1))).toMap
    val rows = SparkEntry.queries("p79_cluster_best")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
    // same component labels as p20 (the already-pinned clustering)
    val comp20 = SparkEntry.queries("p20_dedup_clusters")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.map(t => t._1 -> t._2).toMap == comp20)
    // quality column is the independent re-derivation
    rows.foreach { case (id, _, _, ql, _) => assert(ql == quality(id), id.toString) }
    rows.groupBy(_._2).foreach { case (comp, members) =>
      // csize is the group size on every row
      members.foreach { m => assert(m._3 == members.length.toLong, comp.toString) }
      // exactly one survivor: the (quality desc, doc_id asc) argmax
      val kept = members.filter(_._5)
      assert(kept.length == 1, s"comp $comp kept ${kept.length}")
      val best = members.minBy(m => (-m._4, m._1))
      assert(kept.head._1 == best._1, s"comp $comp kept ${kept.head._1} != ${best._1}")
    }
  }

  test("p82/p82b: Flesch scores equal the plain-Scala re-derivation; " +
    "the per-source profile conserves mass") {
    def r6(d: Double): Double = java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    def nMatches(s0: String, re: String): Long =
      re.r.findAllMatchIn(s0).size.toLong
    val docsRows = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val expected = docsRows.map { case (id, source, text) =>
      val words = text.split(" ", -1).length.toLong
      val sentences = math.max(1L, nMatches(text, "[.!?]+"))
      val syllables = nMatches(text.toLowerCase, "[aeiouy]+")
      val fre = 206.835 - 1.015 * (words.toDouble / sentences) -
        84.6 * (syllables.toDouble / words)
      val freR = r6(fre)
      val freS = java.math.BigDecimal.valueOf(fre * 1000000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue
      val band =
        if (freR >= 90.0) "very_easy" else if (freR >= 70.0) "easy"
        else if (freR >= 50.0) "medium" else if (freR >= 30.0) "difficult"
        else "very_difficult"
      id -> ((source, words, sentences, syllables, freR, freS, band))
    }.toMap
    val got = SparkEntry.queries("p82_readability")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getString(5)))).toMap
    assert(got.size == expected.size)
    expected.foreach { case (id, (_, w, sn, sy, freR, _, band)) =>
      assert(got(id) == ((w, sn, sy, freR, band)), s"doc $id: ${got(id)}")
    }
    // profile: counts and integer-sum means re-derived from the same frame
    val prof = SparkEntry.queries("p82b_readability_profile")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val byKey = expected.values.toSeq.groupBy(v => (v._1, v._7))
    assert(prof.keySet == byKey.keySet)
    byKey.foreach { case (k, vs) =>
      val mean = r6(vs.map(_._6).sum.toDouble / vs.size / 1000000.0)
      assert(prof(k) == ((vs.size.toLong, mean)), s"$k: ${prof(k)}")
    }
    // mass conservation: profile counts sum to the corpus
    assert(prof.values.map(_._1).sum == docsRows.length.toLong)
  }

  test("p84: the power-iteration component, scorecard and projections " +
    "equal a plain-Scala fit from the raw embeddings") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](r.fieldIndex("embedding")).toArray)).sortBy(_._1)
    val d = emb.head._2.length
    // independent exact-integer fit: gram -> normalize -> 8 rounds
    val g = Array.ofDim[Long](d, d)
    emb.foreach { case (_, e) =>
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) {
          g(i)(j) += math.floor(
            e(i).toDouble * e(j).toDouble * 100000000.0 + 0.5).toLong
          j += 1
        }
        i += 1
      }
    }
    def sdiv(a: Long, s0: Long, q: Long): Long =
      if (a < 0) -((-a) * s0 / q) else a * s0 / q
    val mx = g.flatten.map(math.abs).max
    val mn = Array.tabulate(d, d)((i, j) => sdiv(g(i)(j), 100000L, mx))
    def mv(u: Array[Long]): Array[Long] =
      Array.tabulate(d)(i => (0 until d).map(j => mn(i)(j) * u(j)).sum)
    var v = Array.fill(d)(1000000L)
    for (_ <- 1 to 8) {
      val w = mv(v); val wx = w.map(math.abs).max
      v = w.map(sdiv(_, 1000000L, wx))
    }
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val comp = SparkEntry.queries("p84_pca_power")(spark, sf0001).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(comp.size == d)
    (0 until d).foreach { i =>
      assert(comp(i) == ((v(i), r6(v(i).toDouble / 1000000.0))), s"dim $i")
    }
    // the renormalized component peaks at exactly 1e6
    assert(v.map(math.abs).max == 1000000L)
    // scorecard: exact Rayleigh pieces; top component beats the mean
    val wf = mv(v)
    val num = (0 until d).map(i => v(i) * sdiv(wf(i), 1L, 1000L)).sum
    val den = v.map(x => x * x).sum
    val tr = (0 until d).map(i => mn(i)(i)).sum
    val sc = SparkEntry.queries("p84b_pca_scorecard")(spark, sf0001).collect().head
    assert((sc.getInt(0), sc.getLong(1), sc.getLong(2), sc.getLong(3),
      sc.getLong(4)) == ((8, mx, num, den, tr)))
    assert(sc.getDouble(5) == r6(num.toDouble * 1000.0 / den))
    assert(sc.getDouble(6) == r6(num.toDouble * 1000.0 / (den.toDouble * tr)))
    // dominant eigenvalue of mn >= trace/d (it is the max of d eigenvalues)
    assert(sc.getDouble(5) >= tr.toDouble / d - 1e-6)
    // projections: per-vector scaled dot with the component
    val proj = SparkEntry.queries("p84c_pca_project")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    emb.foreach { case (id, e) =>
      val ps = (0 until d).map(i =>
        math.floor(e(i).toDouble * 1000000.0 + 0.5).toLong * v(i)).sum
      assert(proj(id) == ((ps, r6(ps.toDouble / 1000000000000.0))), s"vec $id")
    }
    // second component (p84d): deflation re-derivation + spectral order
    val dd = den / 1000L
    val lam = sdiv(num, 1L, dd)
    val m2 = Array.tabulate(d, d)((i, j) =>
      mn(i)(j) - sdiv(lam * sdiv(v(i) * v(j), 1L, 1000L), 1L, dd))
    val mx2 = m2.flatten.map(math.abs).max
    val m2n = Array.tabulate(d, d)((i, j) => sdiv(m2(i)(j), 100000L, mx2))
    def mv2(u: Array[Long]): Array[Long] =
      Array.tabulate(d)(i => (0 until d).map(j => m2n(i)(j) * u(j)).sum)
    var v2 = Array.fill(d)(1000000L)
    for (_ <- 1 to 8) {
      val w = mv2(v2); val wx = w.map(math.abs).max
      v2 = w.map(sdiv(_, 1000000L, wx))
    }
    val got2 = SparkEntry.queries("p84d_pca_second")(spark, sf0001).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    (0 until d).foreach { i =>
      assert(got2(i) == ((v2(i), r6(v2(i).toDouble / 1000000.0))), s"dim $i")
    }
    // near-orthogonality of the two fitted directions
    def rayleigh(u: Array[Long]): Double = {
      val w = (0 until d).map(i =>
        (0 until d).map(j => mn(i)(j).toDouble * u(j)).sum)
      (0 until d).map(i => u(i).toDouble * w(i)).sum /
        u.map(x => x.toDouble * x).sum
    }
    val cosUV = (0 until d).map(i => v(i).toDouble * v2(i)).sum /
      (math.sqrt(v.map(x => x.toDouble * x).sum) *
        math.sqrt(v2.map(x => x.toDouble * x).sum))
    assert(math.abs(cosUV) < 0.1, s"|cos(u1,u2)| = ${math.abs(cosUV)}")
    // spectral order, with slack: the synthetic embeddings are
    // near-isotropic (clustered spectrum), so 8 power rounds separate
    // the top directions only approximately — the quotients must be
    // within a few percent, never wildly inverted
    assert(rayleigh(v2) <= rayleigh(v) * 1.05,
      s"${rayleigh(v2)} > 1.05 * ${rayleigh(v)}")
  }

  test("p88: prototype ranks equal the plain-Scala cosine re-derivation; " +
    "the prune budget is floor(n/4) per cell; assignments match p32") {
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](r.fieldIndex("embedding")).toArray)).toMap
    val cents = graft.queries.Pipeline.CellStage.load(spark, sf0001).collect()
      .map(r => r.getAs[Number](r.fieldIndex("cell")).longValue ->
        r.getSeq[Float](r.fieldIndex("cv")).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (s, na, nb) = (0.0, 0.0, 0.0); var i = 0
      while (i < a.length) {
        s += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      s / (math.sqrt(na) * math.sqrt(nb))
    }
    val rows = SparkEntry.queries("p88_proto_prune")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue, r.getDouble(2),
        r.getInt(3), r.getLong(4), r.getBoolean(5)))
    assert(rows.length == emb.size)
    // same nearest-cell assignment as p32 (independently oracle-pinned)
    val p32m = SparkEntry.queries("p32_semdedup")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    rows.foreach { case (v, c, _, _, _, _) => assert(p32m(v) == c, s"vec $v") }
    // exact cosine re-derivation, per-cell rank and budget
    rows.groupBy(_._2).foreach { case (cell, members) =>
      val exact = members.map { case (v, _, _, _, _, _) =>
        v -> cos(emb(v), cents(cell)) }.toMap
      val order = members.map(_._1).sortBy(v => (-exact(v), v))
      val n = members.length.toLong
      members.foreach { case (v, _, csimR, rank, cellN, kept) =>
        assert(cellN == n, s"vec $v")
        assert(csimR == r6(exact(v)), s"vec $v: $csimR vs ${r6(exact(v))}")
        assert(order(rank - 1) == v, s"vec $v rank $rank")
        assert(kept == (rank * 4 > n), s"vec $v")
      }
      assert(members.count(!_._6).toLong == n / 4, s"cell $cell budget")
    }
  }

  test("p89: OOD scores equal the plain-Scala standardization of the " +
    "pinned projections; the score mass satisfies the chi-square identity") {
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](r.fieldIndex("embedding")).toArray)).sortBy(_._1)
    // components from the pinned entries (independently oracle-matched)
    val v1 = SparkEntry.queries("p84_pca_power")(spark, sf0001).collect()
      .sortBy(_.getInt(0)).map(_.getLong(1))
    val v2 = SparkEntry.queries("p84d_pca_second")(spark, sf0001).collect()
      .sortBy(_.getInt(0)).map(_.getLong(1))
    def p(e: Array[Float], v: Array[Long]): Long = {
      val raw = e.indices.map(i =>
        math.floor(e(i).toDouble * 1000000.0 + 0.5).toLong * v(i)).sum
      if (raw < 0) -((-raw) / 10000000L) else raw / 10000000L
    }
    val pr = emb.map { case (id, e) => (id, p(e, v1), p(e, v2)) }
    val n = pr.length.toLong
    def zOf(ps: Seq[Long]): Map[Long, Double] = {
      val (s0, q0) = (ps.sum, ps.map(x => x * x).sum)
      val mean = s0.toDouble / n
      val sd = math.sqrt((q0.toDouble - s0.toDouble * s0 / n) / (n - 1))
      pr.map(_._1).zip(ps.map(x => (x.toDouble - mean) / sd)).toMap
    }
    val (z1, z2) = (zOf(pr.map(_._2)), zOf(pr.map(_._3)))
    val got = SparkEntry.queries("p89_embed_ood")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))).toMap
    assert(got.size == pr.length)
    pr.foreach { case (id, p1, p2) =>
      val sc = r6(z1(id) * z1(id) + z2(id) * z2(id))
      assert(got(id) == ((p1, p2, sc, sc >= 9.0)), s"vec $id: ${got(id)}")
    }
    // empirical standardization identity: sum z^2 = n-1 per component,
    // so total score mass = 2(n-1) exactly (up to float accumulation)
    val mass = pr.map { case (id, _, _) =>
      z1(id) * z1(id) + z2(id) * z2(id) }.sum
    assert(math.abs(mass - 2.0 * (n - 1)) < 1e-6 * n, mass.toString)
  }

  test("p83/p83b: nDCG@5 / MRR@5 equal the plain-Scala judgment of the " +
    "pinned IVF rows against the pinned exact truth; recall cross-checks p35") {
    val ndcgK = 5
    val w: Map[Int, Long] = (1 to ndcgK).map(r =>
      r -> math.round(1e6 / (math.log(r + 1.0) / math.log(2.0)))).toMap
    val idcg = w.values.sum
    val truth = SparkEntry.queries("p05_knn_exact")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, v) => q -> v.map(_._2).toSet }
    val ivf = SparkEntry.queries("p16_knn_ivf")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).groupBy(_._1)
    val expected = truth.map { case (qid, tset) =>
      val hits = ivf.getOrElse(qid, Array.empty[(Long, Long, Int)])
        .filter(t => tset.contains(t._2)).map(_._3).sorted
      val dcg = hits.map(r => w(r)).sum
      val fh = hits.headOption.getOrElse(0)
      qid -> ((hits.length.toLong, fh, dcg, dcg * 1000000L / idcg,
        if (fh > 0) 1000000L / fh else 0L))
    }
    val got = SparkEntry.queries("p83_retrieval_ndcg")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got == expected, s"${got.size} vs ${expected.size}; diff=${
      (got.keySet | expected.keySet).find(k => got.get(k) != expected.get(k))}")
    // summary row equals the means of the per-query frame
    def r6(d: Double): Double = java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val s0 = SparkEntry.queries("p83b_retrieval_eval")(spark, sf0001)
      .collect().head
    val nq = expected.size.toLong
    assert(s0.getLong(1) == nq)
    assert(s0.getLong(2) == expected.values.map(_._1).sum)
    assert(s0.getDouble(3) ==
      r6(expected.values.map(_._1).sum.toDouble / (5.0 * nq)))
    assert(s0.getDouble(4) ==
      r6(expected.values.map(_._4).sum.toDouble / nq / 1000000.0))
    assert(s0.getDouble(5) ==
      r6(expected.values.map(_._5).sum.toDouble / nq / 1000000.0))
    // recall@5 agrees with p35's independent p16_ivf aggregation path
    val p35 = SparkEntry.queries("p35_ann_recall")(spark, sf0001).collect()
      .find(_.getString(0) == "p16_ivf").get
    assert(s0.getDouble(3) == p35.getDouble(3),
      s"p83b ${s0.getDouble(3)} vs p35 ${p35.getDouble(3)}")
  }
}
