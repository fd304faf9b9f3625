package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based tests for the pipeline's text kernels over RANDOM
  * corpora — the fixed-testdata specs pin exact values; these pin the
  * algebra on inputs the testdata never exercises (empty-ish docs, words
  * with symbols/digits only, stride/window edge ratios). Each case runs
  * the real Spark projection over a generated batch and compares against
  * an independent plain-Scala evaluation.
  */
class PipelinePropertySpec extends SparkSpecBase {
  private implicit val knobs: Knobs = Knobs.jvm

  private def check(prop: Prop, cases: Int = 10): Unit = {
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(cases), prop)
    assert(result.passed, result.status.toString)
  }

  private def r6(d: Double): Double =
    JBigDecimal.valueOf(d).setScale(6, RoundingMode.HALF_UP).doubleValue

  private val word: Gen[String] = for {
    n <- Gen.choose(1, 10)
    cs <- Gen.listOfN(n, Gen.frequency(
      8 -> Gen.alphaLowerChar, 2 -> Gen.alphaUpperChar,
      2 -> Gen.numChar, 1 -> Gen.oneOf('#', '.', '!', '?')))
  } yield cs.mkString

  private val doc: Gen[String] = for {
    n <- Gen.choose(1, 80)
    ws <- Gen.listOfN(n, Gen.frequency(
      6 -> word, 1 -> Gen.oneOf("the", "of", "and", "to", "be")))
  } yield ws.mkString(" ")

  private val batch: Gen[List[String]] =
    Gen.choose(5, 25).flatMap(k => Gen.listOfN(k, doc))

  test("gopherMetrics equals the plain-Scala evaluation on random documents") {
    import spark.implicits._
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    check(Prop.forAll(batch) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = queries.Pipeline.gopherMetrics(df)
        .select(col("doc_id"), col("n_words"), round(col("mwl"), 6),
          round(col("stw"), 6), round(col("alr"), 6), col("n_stop"), col("pass"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getLong(5), r.getBoolean(6)))).toMap
      texts.zipWithIndex.forall { case (t, i) =>
        val arr = t.split(" ", -1)
        val n = arr.length.toLong
        val mwl = t.replace(" ", "").length.toDouble / n
        val stw = ((t.length - t.replace("#", "").length).toDouble +
          (t.length - t.replace("...", "").length).toDouble / 3.0) / n
        val alr = arr.count(w => w.exists(c =>
          (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z'))).toDouble / n
        val nStop = arr.count(stops.contains).toLong
        val pass = n >= 50 && n <= 100000 && mwl >= 3.0 && mwl <= 10.0 &&
          stw <= 0.1 && alr >= 0.8 && nStop >= 2
        got(i.toLong) == ((n, r6(mwl), r6(stw), r6(alr), nStop, pass))
      }
    })
  }

  test("chunk windows tile every token: stride-aligned starts, full coverage, no overflow") {
    import spark.implicits._
    val c = knobs.chunkTokens
    val st = knobs.chunkStride
    check(Prop.forAll(batch) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val wins = queries.Pipeline.chunkFingerprints(df)
        .select(col("doc_id"), col("chunk_no"), col("start"), col("n_tok"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
        .groupBy(_._1)
      texts.zipWithIndex.forall { case (t, i) =>
        val n = t.split(" ", -1).length
        val ws = wins.getOrElse(i.toLong, Array.empty).sortBy(_._3)
        // starts are exactly 0, st, 2st, ... < n — so every token index
        // is inside at least the window that starts at (idx / st) * st
        ws.map(_._3).toSeq == (0 until n by st) &&
          ws.forall { case (_, no, s, len) =>
            no == s / st && len == math.min(c, n - s) && len >= 1 } &&
          ws.map(w => w._3 until (w._3 + w._4)).foldLeft(Set.empty[Int])(_ ++ _) ==
            (0 until n).toSet
      }
    })
  }

  test("phrase tf equals a naive sliding count on random token arrays") {
    import spark.implicits._
    val tok: Gen[String] = Gen.oneOf("a", "b", "c", "ab")
    val arrGen: Gen[List[String]] = Gen.choose(0, 30).flatMap(Gen.listOfN(_, tok))
    val phraseGen: Gen[List[String]] = Gen.choose(2, 3).flatMap(Gen.listOfN(_, tok))
    check(Prop.forAll(Gen.zip(Gen.listOfN(8, arrGen), phraseGen)) {
      case (arrs, ws) =>
        val df = arrs.zipWithIndex.map { case (a, i) => (i.toLong, a) }
          .toDF("id", "arr")
          .withColumn("tf", expr(queries.Pipeline.phraseTfSql("arr", ws)))
        val got = df.select(col("id"), col("tf")).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        arrs.zipWithIndex.forall { case (a, i) =>
          val naive = (0 to a.length - ws.length)
            .count(p => ws.indices.forall(k => a(p + k) == ws(k)))
          got(i.toLong) == naive.toDouble
        }
    })
  }

  test("JL projection equals the plain-Scala matrix fold at any vector length") {
    import spark.implicits._
    val signs = (0 until 16).map(j => (0 until 64).map { i =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"jl_${i}_$j".getBytes("UTF-8"))
      if ((h(0) & 0x80) == 0) 1.0 else -1.0
    })
    // lengths 1..70 exercise the least(64, size) clamp in both directions
    val vecGen: Gen[List[Float]] = Gen.choose(1, 70)
      .flatMap(Gen.listOfN(_, Gen.choose(-2.0f, 2.0f)))
    check(Prop.forAll(Gen.listOfN(6, vecGen)) { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "embedding")
        .withColumn("pv", expr(queries.Pipeline.jlProjectSql("embedding")))
      val got = df.select(col("id"), col("pv")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      vecs.zipWithIndex.forall { case (v, i) =>
        val exp = (0 until 16).map(j =>
          (0 until math.min(64, v.size)).foldLeft(0.0)((acc, k) =>
            acc + v(k).toDouble * signs(j)(k)) / 4.0)
        got(i.toLong) == exp
      }
    })
  }

  test("sln-scaled log sums are accumulation-order-invariant by construction") {
    // the invariant every selection entry's correctness rests on: scaled
    // BIGINT summands commute exactly (no float accumulation anywhere)
    val gen = Gen.listOfN(200, Gen.choose(1L, 1000000L))
    check(Prop.forAll(gen) { xs =>
      def sln(x: Long): Long =
        math.floor(math.log(x.toDouble) * 100000000.0 + 0.5).toLong
      val terms = xs.map(sln)
      terms.sum == terms.reverse.sum &&
        terms.sum == terms.sorted.sum &&
        terms.grouped(7).map(_.sum).sum == terms.sum
    }, cases = 50)
  }

  test("mmrGreedySql k=1 short-circuits to the seed (no descending sequence)") {
    // sequence(2, 1) DESCENDS ([2, 1]) — the k=1 guard must never render
    // it; the result is exactly the top-relevance candidate
    val cands = "array(" +
      "named_struct('doc_id', CAST(2 AS BIGINT), 'score_r', 0.5D, 'v', array(1.0D, 0.0D))," +
      "named_struct('doc_id', CAST(1 AS BIGINT), 'score_r', 0.9D, 'v', array(0.5D, 0.5D)))"
    val sel = spark.sql(
      s"SELECT ${queries.Pipeline.mmrGreedySql(cands, 1)} AS sel")
      .selectExpr("size(sel) AS n", "sel[0].doc_id AS d").collect()(0)
    assert(sel.getInt(0) == 1 && sel.getLong(1) == 1L, sel.toString)
    // and k=2 over the same candidates selects both, seed first
    val two = spark.sql(
      s"SELECT ${queries.Pipeline.mmrGreedySql(cands, 2)} AS sel")
      .selectExpr("transform(sel, s -> s.doc_id) AS ds").collect()(0)
    assert(two.getSeq[Long](0) == Seq(1L, 2L), two.toString)
  }

  test("readabilityMetrics equals the plain-Scala Flesch evaluation on " +
    "random documents (no-punctuation, all-vowel, single-word included)") {
    import spark.implicits._
    def nMatches(s0: String, re: String): Long =
      re.r.findAllMatchIn(s0).size.toLong
    check(Prop.forAll(batch) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = queries.Pipeline.readabilityMetrics(df)
        .select(col("doc_id"), col("words"), col("sentences"),
          col("syllables"), col("fre_r"), col("band"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getString(5)))).toMap
      texts.zipWithIndex.forall { case (t, i) =>
        val words = t.split(" ", -1).length.toLong
        val sentences = math.max(1L, nMatches(t, "[.!?]+"))
        val syllables = nMatches(t.toLowerCase, "[aeiouy]+")
        val fre = 206.835 - 1.015 * (words.toDouble / sentences) -
          84.6 * (syllables.toDouble / words)
        val freR = r6(fre)
        val band =
          if (freR >= 90.0) "very_easy" else if (freR >= 70.0) "easy"
          else if (freR >= 50.0) "medium" else if (freR >= 30.0) "difficult"
          else "very_difficult"
        got(i.toLong) == ((words, sentences, syllables, freR, band))
      }
    })
  }

  test("winnowing guarantee: any shared token run of >= w+k-1 yields a " +
    "shared fingerprint (MOSS, SIGMOD 2003 thm 1); density never exceeds windows") {
    // the plain-Scala winnow mirroring p81 (3-gram md560, w=4 window
    // minima, distinct) — SelectionFamilySpec ties this form to Spark
    val w = 4
    def md560(s0: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s0.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map(b => f"${b & 0xff}%02x").mkString.substring(0, 15), 16)
    }
    def winnow(tokens: List[String]): Set[Long] = {
      if (tokens.length < 3) Set.empty
      else {
        val hs = tokens.sliding(3).map(g => md560(g.mkString(" "))).toVector
        if (hs.length < w) Set.empty
        else (0 to hs.length - w).map(p => hs.slice(p, p + w).min).toSet
      }
    }
    val tok: Gen[String] = Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString)
    val gen = for {
      runLen <- Gen.choose(w + 2, 20) // >= w + k - 1 = 6 shared tokens
      run <- Gen.listOfN(runLen, tok)
      pre1 <- Gen.listOfN(5, tok); suf1 <- Gen.listOfN(5, tok)
      pre2 <- Gen.listOfN(9, tok); suf2 <- Gen.listOfN(2, tok)
    } yield (pre1 ++ run ++ suf1, pre2 ++ run ++ suf2, run)
    check(Prop.forAll(gen) { case (d1, d2, run) =>
      val (f1, f2) = (winnow(d1), winnow(d2))
      // theorem: the shared run is long enough to contain one full
      // gram window entirely inside it, and that window's minimum is
      // position-independent — so at least one fingerprint is shared
      val guarantee = (f1 & f2).nonEmpty
      // density: never more fingerprints than windows
      val bound = f1.size <= d1.length - 2 - w + 1 &&
        f2.size <= d2.length - 2 - w + 1
      guarantee && bound
    }, cases = 40)
  }

  test("DF-guard saturation: a corpus where EVERY shingle exceeds the cap " +
    "degrades to an empty pair front, never to wrong answers") {
    // worst case for the stop-shingle guard: 8 identical documents ->
    // cap = max(5, 8*0.01) = 5 < df = 8 for every shingle, so the guard
    // drops the ENTIRE index. The documented degradation: shingle-based
    // near-dup evidence disappears (empty pair front -> no pairs, all
    // singleton components), while the answers that don't ride the
    // shingle index stay exactly right (p01 exact dedup still collapses
    // the 8 copies) — drop, not corrupt.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dfguard").toString
    val text = "the same boilerplate sentence repeated in every single document"
    (1L to 8L).map(i => (i, text, "en", "crawl", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // p02: the pair front is EMPTY by the guard's construction
    assert(SparkEntry.queries("p02_dedup_ngram_jaccard")(spark, dir).count() == 0L)
    // p20: every doc survives as its own singleton component
    val comps = SparkEntry.queries("p20_dedup_clusters")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(comps.toSeq == (1L to 8L).map(i => (i, i, 1)))
    // p01 (no shingle index): the 8 exact copies still collapse to one
    val exact = SparkEntry.queries("p01_dedup_exact")(spark, dir).collect()
    assert(exact.length == 1 &&
      exact(0).getLong(1) == 1L && exact(0).getLong(2) == 8L)
  }
}
