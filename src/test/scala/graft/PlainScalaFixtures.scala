package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

/** The INDEPENDENT plain-Scala re-derivations shared by the family
  * suites (SelectionFamilySpec / TokenizerFamilySpec /
  * AuditFamilySpec): driver-collected strings, Scala collections,
  * Math.log — no Spark expressions — over the same sf0.001 corpus.
  * Mixed into each split suite; the fits are instance-lazy, so a suite
  * only pays for the fixtures its tests actually touch.
  */
trait PlainScalaFixtures { this: SparkSpecBase =>

  protected val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Spark round(col, 6) semantics: HALF_UP over the decimal string form. */
  protected def r6(d: Double): Double =
    JBigDecimal.valueOf(d).setScale(6, RoundingMode.HALF_UP).doubleValue

  /** The sln() scaling: floor(ln(x)·1e8 + 0.5) as Long (Spark ln = Math.log). */
  protected def sln(x: Long): Long =
    math.floor(math.log(x.toDouble) * 100000000.0 + 0.5).toLong

  /** The engine-portable 60-bit md5 hash (first 15 hex chars, base 16). */
  protected def md560(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val hex = d.map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  protected lazy val corpus: Seq[(Long, String, String)] =
    spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sortBy(_._1)

  protected def toks(text: String): Array[String] = text.split(" ", -1)
  protected def bigrams(text: String): Array[(String, String)] = {
    val a = toks(text)
    if (a.length < 2) Array.empty else a.zip(a.tail)
  }

  /** The reference LM fitted in plain Scala: (c2, c1, V). */
  protected lazy val lm: (Map[(String, String), Long], Map[String, Long], Long) = {
    val en = corpus.filter(_._3 == "en")
    val bg = en.flatMap(d => bigrams(d._2))
    val c2 = bg.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c1 = bg.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val v = en.flatMap(d => toks(d._2)).distinct.size.toLong
    (c2, c1, v)
  }

  /** The whole LR fit re-derived in plain Scala: hashed features,
    * integer-scaled tf, lrIters (12) rounds of integer-state GD. */
  protected lazy val lrFit: (Map[Long, Long], Seq[(Long, Int, Long)]) = {
    val b = Knobs.jvm.dsirBuckets
    val eta = queries.Pipeline.lrEtaAt _
    def feats(text: String): Array[Long] =
      toks(text).map(w => md560(w) % b) ++
        bigrams(text).map(p => md560(p._1 + " " + p._2) % b)
    // (doc_id, y, Map(bucket -> scaled tf)) with the intercept bucket -1
    val docsF = corpus.map { case (id, text, lang) =>
      val fs = feats(text)
      val dl = fs.length
      val tf = fs.groupBy(identity).map { case (k, v) =>
        k -> math.floor(v.size.toDouble * 1000000.0 / dl + 0.5).toLong
      } + (-1L -> 1000000L)
      (id, if (lang == "en") 1 else 0, tf)
    }
    val n = docsF.size
    var wm = Map.empty[Long, Long].withDefaultValue(0L)
    (1 to queries.Pipeline.lrIters).foreach { it =>
      val pds = docsF.map { case (id, y, tf) =>
        val ms = tf.map { case (k, c) => c * wm(k) }.sum
        val p = 1.0 / (1.0 + math.exp(-(ms.toDouble / 100000000000000.0)))
        (id, math.floor((p - y) * 100000000.0 + 0.5).toLong)
      }.toMap
      val g = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      docsF.foreach { case (id, _, tf) =>
        tf.foreach { case (k, c) => g(k) += c * pds(id) }
      }
      g.foreach { case (k, gg) =>
        wm = wm.updated(k, wm(k) -
          math.floor(gg.toDouble / 1000000.0 / n * eta(it) + 0.5).toLong)
      }
    }
    val scores = docsF.map { case (id, y, tf) =>
      val ms = tf.map { case (k, c) => c * wm(k) }.sum
      (id, y, ms)
    }
    (wm.filter(_._2 != 0L), scores)
  }

  /** The unigram tokenizer (p66/p66b) re-derived in plain Scala: piece
    * counting, top-200+chars lexicon, sln scores, the exact Viterbi DP
    * with the COALESCE-to-sentinel miss rule and smallest-start
    * tie-break, and the back-walk. */
  protected lazy val uniFit
      : (Map[String, (Long, Long)], Map[String, Seq[String]], Map[String, Long]) = {
    val words = corpus.flatMap(_._2.toLowerCase.split(" ", -1))
      .filter(w => w.matches("[a-z]+") && w.length <= 12)
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val cnt = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for ((w, f) <- words; i <- 0 until w.length;
         l <- 1 to math.min(4, w.length - i))
      cnt(w.substring(i, i + l)) += f
    val top = cnt.toSeq.sortBy { case (p, c) => (-c, p) }.take(200)
    val vocab = (top ++ cnt.filter(_._1.length == 1)).toMap
    val tot = vocab.values.sum
    val score = vocab.map { case (p, c) => p -> (sln(c) - sln(tot)) }
    val SENT = -1000000000000000L
    def segment(w: String): Seq[String] = {
      val L = w.length
      val best = Array.fill(L + 1)(0L)
      val bp = Array.fill(L + 1)(-1)
      for (j <- 1 to L) {
        var bs = Long.MinValue; var bi = -1
        for (i <- math.max(0, j - 4) until j) {
          val c = score.get(w.substring(i, j)) match {
            case Some(sc) => best(i) + sc
            case None => SENT
          }
          if (c > bs) { bs = c; bi = i }
        }
        best(j) = bs; bp(j) = bi
      }
      val out = scala.collection.mutable.Buffer.empty[String]
      var e = L
      while (e > 0) { val s0 = bp(e); out.prepend(w.substring(s0, e)); e = s0 }
      out.toSeq
    }
    val segs = words.keys.map(w => w -> segment(w)).toMap
    val used = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for ((w, f) <- words; p <- segs(w)) used(p) += f
    (vocab.map { case (p, c) => p -> ((c, score(p))) }, segs,
      words.map { case (w, f) => w -> f })
  }

  /** The WordPiece tokenizer (p67/p67b) re-derived in plain Scala:
    * position-classed piece counting, top-200+chars lexicon with the
    * (cnt DESC, p, init) tie order, and the greedy longest-match walk
    * with '##' continuation marking. */
  protected lazy val wpFit: (Map[String, Seq[String]], Map[String, Long]) = {
    val words = corpus.flatMap(_._2.toLowerCase.split(" ", -1))
      .filter(w => w.matches("[a-z]+") && w.length <= 12)
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val cnt = scala.collection.mutable.Map
      .empty[(String, Int), Long].withDefaultValue(0L)
    for ((w, f) <- words; i <- 0 until w.length;
         l <- 1 to math.min(4, w.length - i))
      cnt((w.substring(i, i + l), if (i == 0) 1 else 0)) += f
    val top = cnt.toSeq
      .sortBy { case ((p, init), c) => (-c, p, init) }.take(200).map(_._1)
    val vocab = (top ++ cnt.keys.filter(_._1.length == 1)).toSet
    def segment(w: String): Seq[String] = {
      val out = scala.collection.mutable.Buffer.empty[String]
      var pos = 0
      while (pos < w.length) {
        val init = if (pos == 0) 1 else 0
        val l = (math.min(4, w.length - pos) to 1 by -1)
          .find(l => vocab((w.substring(pos, pos + l), init))).get
        out += (if (pos == 0) "" else "##") + w.substring(pos, pos + l)
        pos += l
      }
      out.toSeq
    }
    (words.keys.map(w => w -> segment(w)).toMap, words)
  }
}
