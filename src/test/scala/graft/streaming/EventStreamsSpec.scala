package graft.streaming

import graft.Knobs
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming semantics through real micro-batch execution: MemoryStream
  * source -> windowed agg / stateful sessionization -> memory sink. */
class EventStreamsSpec extends AnyFunSuite {
  private implicit val knobs: Knobs = Knobs.jvm

  private lazy val spark = graft.GraftSession.local(4)

  private def ts(minute: Int) =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("hourly windowed aggregation with watermark") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EventStreams.Event]
    input.addData(
      EventStreams.Event(1, ts(5), 100, "click", 1.0),
      EventStreams.Event(2, ts(10), 100, "click", 2.0),
      EventStreams.Event(3, ts(20), 200, "purchase", 30.0))
    val q = EventStreams.toMemorySink(
      EventStreams.hourlyCounts(input.toDF()), "hourly").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT event_type, n, total FROM hourly ORDER BY event_type")
        .collect()
      assert(rows.length == 2)
      assert(rows(0).getString(0) == "click" && rows(0).getLong(1) == 2
        && rows(0).getDouble(2) == 3.0)
      assert(rows(1).getString(0) == "purchase" && rows(1).getLong(1) == 1)
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped from finalized windows") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.toMemorySink(
      EventStreams.hourlyCounts(input.toDF()), "late", complete = false).start()
    try {
      input.addData(EventStreams.Event(1, ts(5), 1, "click", 1.0))
      q.processAllAvailable()
      // advance watermark far past the 10:00 window (+1h watermark)
      input.addData(EventStreams.Event(2,
        Timestamp.valueOf("2024-01-01 13:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // this event is 3h late: its window is already finalized
      input.addData(EventStreams.Event(3, ts(6), 1, "click", 100.0))
      q.processAllAvailable()
      val total = spark.sql(
        "SELECT sum(n) FROM late WHERE event_type = 'click'").collect()(0).getLong(0)
      assert(total == 2, "late row must not be re-aggregated")
    } finally q.stop()
  }

  test("streaming A/B monitor: windowed z equals the plain formula; degenerate window NULL") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    def r6(d: Double) = java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val input = MemoryStream[EventStreams.Event]
    // hour 10:00 — variant 0 = even user ids: n0=3 c0=1; variant 1: n1=4 c1=1
    input.addData(
      EventStreams.Event(1, ts(5), 100, "purchase", 1.0),
      EventStreams.Event(2, ts(6), 100, "click", 1.0),
      EventStreams.Event(3, ts(7), 102, "click", 1.0),
      EventStreams.Event(4, ts(8), 101, "purchase", 1.0),
      EventStreams.Event(5, ts(9), 103, "click", 1.0),
      EventStreams.Event(6, ts(10), 101, "click", 1.0),
      EventStreams.Event(7, ts(11), 105, "click", 1.0))
    // hour 12:00 — every event a purchase: pooled variance zero -> NULL z
    input.addData(
      EventStreams.Event(8, Timestamp.valueOf("2024-01-01 12:05:00"), 100, "purchase", 1.0),
      EventStreams.Event(9, Timestamp.valueOf("2024-01-01 12:06:00"), 101, "purchase", 1.0))
    val q = EventStreams.toMemorySink(
      EventStreams.abMonitorStream(input.toDF()), "abmon").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT hour, n0, c0, n1, c1, z_r, significant FROM abmon ORDER BY hour")
        .collect()
      assert(rows.length == 2, rows.mkString("; "))
      val r0 = rows(0)
      assert((r0.getLong(1), r0.getLong(2), r0.getLong(3), r0.getLong(4)) ==
        ((3L, 1L, 4L, 1L)))
      val (p0, p1) = (1.0 / 3, 1.0 / 4)
      val pp = 2.0 / 7
      val invn = 7.0 / 12.0
      val z = r6((p0 - p1) / math.sqrt((pp * (1.0 - pp)) * invn))
      assert(r0.getDouble(5) == z, s"${r0.getDouble(5)} vs $z")
      assert(!r0.getBoolean(6))
      val r1 = rows(1)
      assert((r1.getLong(1) + r1.getLong(3), r1.getLong(2) + r1.getLong(4)) == ((2L, 2L)))
      assert(r1.isNullAt(5) && r1.isNullAt(6), r1.toString)
    } finally q.stop()
  }

  test("streaming transition pairs reproduce batch p99 exactly across a batch split") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("p99_event_transitions")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val evs = graft.queries.Q.t(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value").collect()
      .map(r => EventStreams.Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
      .sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.transitionPairsStream(input.toDS())
      .writeStream.format("memory").queryName("transitions")
      .outputMode("append").start()
    try {
      // split mid-stream: the per-user boundary pairs must come from state
      val (a, b) = evs.splitAt(evs.size / 2)
      input.addData(a)
      q.processAllAvailable()
      input.addData(b)
      q.processAllAvailable()
      val got = spark.sql("SELECT cur, nxt, COUNT(*) AS n FROM transitions GROUP BY 1, 2")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == batch, s"${got.size} cells vs ${batch.size}")
      // state is exactly one tuple per user
      assert(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty ||
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum ==
          evs.map(_.user_id).distinct.size)
    } finally q.stop()
  }

  test("streaming Welch monitor: windowed t equals the plain formula; tiny arms NULL") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    def r6(d: Double) = java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val input = MemoryStream[EventStreams.Event]
    // hour 10:00 — variant 0 purchases: 10, 20, 30; variant 1: 12, 14, 40
    input.addData(
      EventStreams.Event(1, ts(5), 100, "purchase", 10.0),
      EventStreams.Event(2, ts(6), 102, "purchase", 20.0),
      EventStreams.Event(3, ts(7), 104, "purchase", 30.0),
      EventStreams.Event(4, ts(8), 101, "purchase", 12.0),
      EventStreams.Event(5, ts(9), 103, "purchase", 14.0),
      EventStreams.Event(6, ts(10), 105, "purchase", 40.0),
      EventStreams.Event(7, ts(11), 100, "click", 999.0))
    // hour 12:00 — one purchase per arm: n < 2 -> NULL t
    input.addData(
      EventStreams.Event(8, Timestamp.valueOf("2024-01-01 12:05:00"), 100, "purchase", 5.0),
      EventStreams.Event(9, Timestamp.valueOf("2024-01-01 12:06:00"), 101, "purchase", 7.0))
    val q = EventStreams.toMemorySink(
      EventStreams.welchMonitorStream(input.toDF()), "welchmon").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT hour, n0, n1, m0_r, m1_r, t_r FROM welchmon ORDER BY hour").collect()
      assert(rows.length == 2, rows.mkString("; "))
      val r0 = rows(0)
      assert((r0.getLong(1), r0.getLong(2)) == ((3L, 3L)))
      def stats(vs: Seq[Double]): (Double, Double) = {
        val n = vs.size
        val sv = vs.sum; val sv2 = vs.map(v => v * v).sum
        val m = sv / n
        (m, ((sv2 - (sv * sv) / n) / (n - 1)) / n)
      }
      val (m0, vn0) = stats(Seq(10.0, 20.0, 30.0))
      val (m1, vn1) = stats(Seq(12.0, 14.0, 40.0))
      val t = r6((m0 - m1) / math.sqrt(vn0 + vn1))
      assert((r0.getDouble(3), r0.getDouble(4)) == ((r6(m0), r6(m1))))
      assert(r0.getDouble(5) == t, s"${r0.getDouble(5)} vs $t")
      assert(rows(1).isNullAt(5), rows(1).toString)
    } finally q.stop()
  }

  test("sessionization via mapGroupsWithState accumulates per user") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionize(input.toDS(), timeoutMs = 0)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("update").start()
    try {
      input.addData(
        EventStreams.Event(1, ts(0), 7, "click", 1.5),
        EventStreams.Event(2, ts(1), 7, "click", 2.5),
        EventStreams.Event(3, ts(2), 9, "view", 0.0))
      q.processAllAvailable()
      input.addData(EventStreams.Event(4, ts(3), 7, "purchase", 10.0))
      q.processAllAvailable()
      val row = spark.sql(
        "SELECT events, total_value FROM sessions WHERE user_id = 7 ORDER BY events DESC LIMIT 1")
        .collect()(0)
      assert(row.getLong(0) == 3 && row.getDouble(1) == 14.0)
    } finally q.stop()
  }

  test("event-time gap sessions reproduce batch p27 exactly on the same data") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // the batch truth: p27's gap sessions over sf0.001 events
    val batch = graft.SparkEntry.queries("p27_sessionize")(spark, "/root/testdata/sf0.001")
      .select("user_id", "n_events", "duration_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val events = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Event].collect().toSeq
    val maxTs = events.map(_.ts.getTime).max
    val input = MemoryStream[EventStreams.Event]
    // the PLAIN p27 gap: sessionizeByGap applies the +1-microsecond
    // boundary adjustment internally, so default-arg callers get
    // p27-identical sessions without knowing about it
    val q = EventStreams.sessionizeByGap(input.toDF(),
        gap = "30 minutes")
      .writeStream.format("memory").queryName("gap_sessions")
      .outputMode("append").start()
    try {
      input.addData(events)
      q.processAllAvailable()
      // two sentinel batches push the watermark past every real session's
      // end (watermark computed at batch N applies at batch N+1)
      input.addData(EventStreams.Event(-1,
        new Timestamp(maxTs + 3L * 3600 * 1000), -1, "view", 0.0))
      q.processAllAvailable()
      input.addData(EventStreams.Event(-2,
        new Timestamp(maxTs + 6L * 3600 * 1000), -1, "view", 0.0))
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT user_id, n_events, duration_us FROM gap_sessions WHERE user_id >= 0")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
      assert(streamed == batch,
        s"stream/batch divergence: ${streamed.size} vs ${batch.size} sessions; " +
          s"first diff: ${streamed.zip(batch).find(p => p._1 != p._2)}")
    } finally q.stop()
  }

  test("streaming HLL registers equal batch p39b on the same documents") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // the batch truth: p39b's pinned register table over sf0.001
    val batch = graft.SparkEntry.queries("p39b_hll_registers")(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    val texts = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("text").collect().map(_.getString(0)).toSeq
    val input = MemoryStream[String]
    val q = EventStreams.vocabRegistersStream(input.toDF().toDF("text"))
      .writeStream.format("memory").queryName("hll_regs")
      .outputMode("complete").start()
    try {
      // two chunks: the register table must MERGE across micro-batches
      // (max per register), not recompute per batch
      val (a, b) = texts.splitAt(texts.size / 2)
      input.addData(a)
      q.processAllAvailable()
      input.addData(b)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT idx, rho FROM hll_regs")
        .collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
      assert(streamed == batch,
        s"register divergence: ${streamed.size} vs ${batch.size} registers")
      // bounded state, the sketch's whole point: never more than 256 rows
      assert(streamed.size <= 256)
      // the p39b -> p39 relationship holds over the STREAMED registers:
      // applying the estimator reproduces batch p39's estimate exactly
      val sScaled = (256L - streamed.size) * (1L << 53) +
        streamed.map { case (_, rho) => 1L << (53 - rho) }.sum
      val estR = math.floor(
        graft.queries.Pipeline.hllEstConst / sScaled.toDouble * 10000.0 + 0.5) / 10000.0
      val batchEst = graft.SparkEntry.queries("p39_vocab_hll")(
          spark, "/root/testdata/sf0.001")
        .collect().head.getAs[Double]("n_est_r")
      assert(estR == batchEst)
    } finally q.stop()
  }

  test("streaming chunk dedup: batch-identical fingerprints, one survivor per fp") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .filter(!_.isNullAt(1))
      .map(r => (r.getLong(0),
        new Timestamp(1704103200000L + r.getLong(0) * 1000L), r.getString(1)))
      .sortBy(_._1)
    val input = MemoryStream[(Long, Timestamp, String)]
    val out = EventStreams.chunkDedupStream(
      input.toDF().toDF("doc_id", "ts", "text").select("ts", "doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("chunkdedup")
      .outputMode("append").start()
    try {
      val (a, b) = docs.splitAt(docs.length / 2)
      input.addData(a.toSeq.map(d => (d._1, d._2, d._3)))
      q.processAllAvailable()
      input.addData(b.toSeq.map(d => (d._1, d._2, d._3)))
      q.processAllAvailable()
      val streamed = spark.sql("SELECT doc_id, chunk_no, fp FROM chunkdedup")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      // batch truth: p50's chunk table on the same corpus
      val batch = graft.SparkEntry.queries("p50_chunk_windows")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(4)))
      // the streamed fingerprints ARE the batch fingerprints (shared
      // projection), and exactly one survivor per distinct fp
      assert(streamed.map(_._3).toSet == batch.map(_._3).toSet)
      assert(streamed.length == streamed.map(_._3).distinct.length,
        "a fingerprint survived twice")
      assert(streamed.length == batch.map(_._3).distinct.length)
      // survivors carry real (doc_id, chunk_no) coordinates from the batch set
      val batchSet = batch.map(c => (c._1, c._2, c._3)).toSet
      assert(streamed.forall(batchSet.contains), "survivor not in batch chunk set")
    } finally q.stop()
  }

  test("streaming token histogram equals batch p49b on the same documents") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val batch = graft.SparkEntry.queries("p49b_token_histogram")(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    val texts = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("text").collect().map(_.getString(0)).toSeq
    val input = MemoryStream[String]
    val q = EventStreams.tokenHistogramStream(input.toDF().toDF("text"))
      .writeStream.format("memory").queryName("tok_hist")
      .outputMode("complete").start()
    try {
      // two chunks: bucket counts must ACCUMULATE across micro-batches
      val (a, b) = texts.splitAt(texts.size / 2)
      input.addData(a)
      q.processAllAvailable()
      input.addData(b)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT bucket, cnt FROM tok_hist")
        .collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
      assert(streamed == batch,
        s"histogram divergence: ${streamed.size} vs ${batch.size} buckets")
      // bounded state by construction: never more than 256 rows
      assert(streamed.size <= 256)
    } finally q.stop()
  }

  test("streaming CMS cells equal the batch p40 sketch state on the same documents") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    // the batch truth: the same shared projection, aggregated in batch
    val batch = graft.queries.Pipeline.cmsCellUpdates(docs.select("text"))
      .groupBy("j", "pos").count()
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val texts = docs.select("text").collect().map(_.getString(0)).toSeq
    val input = MemoryStream[String]
    val q = EventStreams.bigramCellsStream(input.toDF().toDF("text"))
      .writeStream.format("memory").queryName("cms_cells")
      .outputMode("complete").start()
    try {
      val (a, b) = texts.splitAt(texts.size / 2)
      input.addData(a)
      q.processAllAvailable()
      input.addData(b)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT j, pos, c FROM cms_cells")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(streamed == batch,
        s"cell divergence: ${streamed.size} vs ${batch.size} cells")
      // bounded state: depth * width cells max
      assert(streamed.size <= 4 * 8192)
    } finally q.stop()
  }

  test("streaming semantic dedup: PQ-coded state implements the sequential " +
      "rule; in-stream codes equal batch p41b") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    graft.functions.SnowflakeExtensions.register(spark)
    val dir = "/root/testdata/sf0.001"
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0),
        new Timestamp(1704103200000L + r.getLong(0) * 1000L),
        r.getSeq[Float](1)))
      .sortBy(_._1)
    val input = MemoryStream[(Long, Timestamp, Seq[Float])]
    val docs = input.toDF().toDF("vec_id", "ts", "embedding")
    val out = EventStreams.semanticDedupStream(spark, dir, docs)
    val q = out.writeStream.format("memory").queryName("semstream")
      .outputMode("append").start()
    try {
      // two chunks in event-time order: state must carry ACROSS batches
      val (a, b) = emb.splitAt(emb.length / 2)
      input.addData(a.toSeq)
      q.processAllAvailable()
      input.addData(b.toSeq)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT vec_id, cell, kept FROM semstream")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
      assert(streamed.size == emb.length)
      // reference: the SAME stateless projections in batch mode + the
      // declared sequential rule folded in (ts, id) order per cell
      val prepped = graft.queries.Pipeline.streamSemanticPrep(spark, dir,
          spark.createDataFrame(emb.toSeq.map(e => (e._1, e._2, e._3)))
            .toDF("vec_id", "ts", "embedding"))
        .select("vec_id", "ts", "cell", "codes").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
          r.getSeq[Int](3)))
      // in-stream codes equal the staged batch codes (p41b) per vector
      val batchCodes = graft.SparkEntry.queries("p41b_pq_codes")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
      prepped.foreach { case (id, _, _, codes) =>
        codes.zipWithIndex.foreach { case (c, sub) =>
          assert(batchCodes((id, sub)) == c, s"vec $id sub $sub") } }
      val (m, dots, norms) = graft.queries.Pipeline.pqSdcTables(spark, dir)
      def sim(x: Seq[Int], y: Seq[Int]): Double = {
        val s = (0 until m).map(i => dots((i, x(i), y(i)))).sum
        val na = (0 until m).map(i => norms((i, x(i)))).sum
        val nb = (0 until m).map(i => norms((i, y(i)))).sum
        s / (math.sqrt(na) * math.sqrt(nb))
      }
      val expected = prepped.toSeq.groupBy(_._3).flatMap { case (cell, rows) =>
        var kept = List.empty[Seq[Int]]
        rows.sortBy(r => (r._2.getTime, r._1)).map { case (id, _, _, codes) =>
          val dup = kept.exists(kc => sim(kc, codes) >= 0.4)
          if (!dup) kept = codes :: kept
          id -> ((cell, !dup))
        }
      }.toMap
      assert(streamed == expected)
      // the operator actually deduplicates on this corpus
      val drops = streamed.values.count(!_._2)
      assert(drops > 0 && drops < emb.length, s"drops=$drops")
    } finally q.stop()
  }

  test("streaming exact dedup drops repeated fingerprints within watermark") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String)]
    val docs = input.toDF().toDF("ts", "text")
    val q = EventStreams.dedupStream(docs)
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      input.addData(
        (ts(0), "alpha doc"), (ts(1), "beta doc"), (ts(2), "alpha doc"))
      q.processAllAvailable()
      // duplicate within the same batch is dropped
      input.addData((ts(3), "alpha doc"), (ts(4), "gamma doc"))
      q.processAllAvailable()
      val texts = spark.sql("SELECT text FROM dedup ORDER BY text")
        .collect().map(_.getString(0)).toSeq
      assert(texts == Seq("alpha doc", "beta doc", "gamma doc"), texts)
    } finally q.stop()
  }

  test("streaming near-dup drops token-reordered copies, keeps distinct docs") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // simhash64 comes from the session extensions; register for this spark
    graft.functions.SnowflakeExtensions.register(spark)
    val input = MemoryStream[(Timestamp, String)]
    val docs = input.toDF().toDF("ts", "text")
    val q = EventStreams.nearDedupStream(docs)
      .writeStream.format("memory").queryName("neardedup")
      .outputMode("append").start()
    try {
      // same token bag, different order: md5 differs, SimHash collides
      input.addData(
        (ts(0), "spark shuffles the hash join build side"),
        (ts(1), "the hash join build side spark shuffles"),
        (ts(2), "an entirely different document about vectors"))
      q.processAllAvailable()
      val texts = spark.sql("SELECT text FROM neardedup ORDER BY text")
        .collect().map(_.getString(0)).toSeq
      assert(texts.size == 2, texts)
      assert(texts.contains("an entirely different document about vectors"), texts)
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases to in-window clicks") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[EventStreams.Event]
    val purchases = MemoryStream[EventStreams.Event]
    val q = EventStreams.attribute(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      clicks.addData(
        EventStreams.Event(10, ts(0), 1, "click", 0.0),   // in window for p1
        EventStreams.Event(11, Timestamp.valueOf("2024-01-01 09:00:00"),
          3, "click", 0.0))                               // 70 min before p3: out
      purchases.addData(
        EventStreams.Event(20, ts(10), 1, "purchase", 9.99), // attributed to 10
        EventStreams.Event(21, ts(10), 2, "purchase", 5.0),  // no click: dropped
        EventStreams.Event(22, ts(10), 3, "purchase", 7.0))  // click too old
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, purchase_id, click_id, value FROM attrib").collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq == Seq((1L, 20L, 10L, 9.99)), rows.mkString(","))
    } finally q.stop()
  }

  test("stream-static enrichment joins a broadcast dimension per batch") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EventStreams.Event]
    val dim = Seq((100L, "gold"), (200L, "basic")).toDF("user_id", "tier")
    val q = EventStreams.enrich(input.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      input.addData(
        EventStreams.Event(1, ts(0), 100, "click", 1.0),
        EventStreams.Event(2, ts(1), 300, "click", 2.0)) // 300 not in dim
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, tier FROM enriched ORDER BY user_id").collect()
      assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((100L, "gold"), (300L, null)), rows.mkString(","))
    } finally q.stop()
  }

  test("streaming quality gate filters low-quality docs in-flight") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String)]
    val docs = input.toDF().toDF("ts", "text")
    val q = EventStreams.qualityGate(docs)
      .select("text", "quality")
      .writeStream.format("memory").queryName("gated")
      .outputMode("append").start()
    try {
      input.addData(
        (ts(0), "the quick brown fox jumps over the lazy sleeping dog"),
        (ts(1), "!!! ??? ###"),
        (ts(2), "ok"))
      q.processAllAvailable()
      val kept = spark.sql("SELECT text FROM gated").collect().map(_.getString(0)).toSeq
      assert(kept == Seq("the quick brown fox jumps over the lazy sleeping dog"), kept)
    } finally q.stop()
  }

  private def rmdir(p: java.nio.file.Path): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(p.toFile)
  }

  test("checkpoint recovery: semantic dedup's PQ-coded state survives a restart") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    graft.functions.SnowflakeExtensions.register(spark)
    val dir = "/root/testdata/sf0.001"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_sem")
    val out = java.nio.file.Files.createTempDirectory("graft_out_sem")
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0),
        new Timestamp(1704103200000L + r.getLong(0) * 1000L),
        r.getSeq[Float](1)))
      .sortBy(_._1)
    val input = MemoryStream[(Long, Timestamp, Seq[Float])]
    val docs = input.toDF().toDF("vec_id", "ts", "embedding")
    def start() = EventStreams.semanticDedupStream(spark, dir, docs)
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try {
      val (a, b) = emb.splitAt(emb.length / 2)
      val q1 = start()
      try { input.addData(a.toSeq); q1.processAllAvailable() }
      finally q1.stop() // the "crash": checkpoint + state store survive
      input.addData(b.toSeq)
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      // across the restart the decisions equal the uninterrupted stream's:
      // the declared sequential rule folded over the full feed per cell
      val streamed = spark.read.parquet(out.toString)
        .select("vec_id", "cell", "kept").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
      assert(streamed.size == emb.length)
      val prepped = graft.queries.Pipeline.streamSemanticPrep(spark, dir,
          spark.createDataFrame(emb.toSeq).toDF("vec_id", "ts", "embedding"))
        .select("vec_id", "ts", "cell", "codes").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getSeq[Int](3)))
      val (m, dots, norms) = graft.queries.Pipeline.pqSdcTables(spark, dir)
      def sim(x: Seq[Int], y: Seq[Int]): Double = {
        val s = (0 until m).map(i => dots((i, x(i), y(i)))).sum
        s / (math.sqrt((0 until m).map(i => norms((i, x(i)))).sum) *
          math.sqrt((0 until m).map(i => norms((i, y(i)))).sum))
      }
      val expected = prepped.toSeq.groupBy(_._3).flatMap { case (cell, rows) =>
        var kept = List.empty[Seq[Int]]
        rows.sortBy(r => (r._2.getTime, r._1)).map { case (id, _, _, codes) =>
          val dup = kept.exists(kc => sim(kc, codes) >= 0.4)
          if (!dup) kept = codes :: kept
          id -> ((cell, !dup))
        }
      }.toMap
      assert(streamed == expected,
        "restart must not lose or rebuild the per-cell kept-codes state")
    } finally { rmdir(ckpt); rmdir(out) }
  }

  test("index-staleness monitor: drifted vectors raise refit_due; refit restores health") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    graft.functions.SnowflakeExtensions.register(spark)
    val dir = "/root/testdata/sf0.001"
    val hour = 3600L * 1000
    val t0 = 1704103200000L
    val src = graft.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    // drift = scale + shift per component (float math shared verbatim by
    // the stream rows and the refit corpus written below)
    def drift(v: Seq[Float]): Seq[Float] = v.map(x => x * 3.0f + 1.0f)
    // hour 1: in-distribution (the fitted corpus itself -> ratio exactly 1
    // when the window holds the whole corpus); hour 2: drifted
    val fitted = src.map { case (id, v) => (id, new Timestamp(t0 + id), v) }
    val drifted = src.map { case (id, v) =>
      (id + 1000000L, new Timestamp(t0 + hour + id), drift(v)) }
    val input = MemoryStream[(Long, Timestamp, Seq[Float])]
    val docs = input.toDF().toDF("vec_id", "ts", "embedding")
    val out = EventStreams.indexDriftStream(spark, dir, docs,
      windowDur = "1 hour", refitRatio = 1.5)
    val q = EventStreams.toMemorySink(out, "driftmon", complete = true).start()
    try {
      input.addData(fitted.toSeq)
      input.addData(drifted.toSeq)
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT window_start, n, drift_ratio, refit_due FROM driftmon ORDER BY window_start")
        .collect()
      assert(rows.length == 2, rows.mkString("; "))
      // the fitted window IS the baseline corpus: ratio 1.0 by definition
      assert(rows(0).getLong(1) == src.length)
      assert(math.abs(rows(0).getDouble(2) - 1.0) < 1e-6, rows(0).toString)
      assert(!rows(0).getBoolean(3))
      // the drifted window crosses the refit threshold
      assert(rows(1).getDouble(2) > 1.5, rows(1).toString)
      assert(rows(1).getBoolean(3))
    } finally q.stop()
    // THE REFIT RULE, executed: re-stage the index over the drifted
    // corpus (step 1 of the documented rule) and verify the re-fitted
    // quantizer measures the drifted stream as healthy again
    val refitDir = java.nio.file.Files.createTempDirectory("graft_refit")
    spark.createDataFrame(src.toSeq.map { case (id, v) => (id, drift(v)) })
      .toDF("vec_id", "embedding")
      .write.parquet(s"$refitDir/embeddings.parquet")
    val input2 = MemoryStream[(Long, Timestamp, Seq[Float])]
    val docs2 = input2.toDF().toDF("vec_id", "ts", "embedding")
    val out2 = EventStreams.indexDriftStream(spark, refitDir.toString, docs2,
      windowDur = "1 hour", refitRatio = 1.5)
    val q2 = EventStreams.toMemorySink(out2, "driftmon2", complete = true).start()
    try {
      input2.addData(drifted.toSeq)
      q2.processAllAvailable()
      val r = spark.sql("SELECT drift_ratio, refit_due FROM driftmon2").collect()
      assert(r.length == 1)
      assert(math.abs(r(0).getDouble(0) - 1.0) < 1e-6, r(0).toString)
      assert(!r(0).getBoolean(1),
        "the re-fitted index must measure the drifted stream as healthy")
    } finally { q2.stop(); rmdir(refitDir) }
  }

  test("checkpoint recovery: dedupStream state survives a restart (no loss, no re-emit)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_dedup")
    val out = java.nio.file.Files.createTempDirectory("graft_out_dedup")
    val input = MemoryStream[(Timestamp, String)]
    val docs = input.toDF().toDF("ts", "text")
    // the FILE sink, not memory: it is the sink that supports checkpoint
    // recovery (and gives exactly-once output via its _spark_metadata
    // commit log — the production shape for a dedup feed)
    def start() = EventStreams.dedupStream(docs)
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try {
      // incarnation 1: two distinct docs plus an in-batch duplicate
      val q1 = start()
      try {
        input.addData((ts(0), "alpha"), (ts(1), "beta"), (ts(2), "alpha"))
        q1.processAllAvailable()
      } finally q1.stop() // the "crash": the query dies, the checkpoint stays
      // data that arrived while the process was down: duplicates of
      // PRE-restart docs (dropping them proves the fingerprint state was
      // recovered from the state store, not rebuilt empty) + new docs
      input.addData((ts(3), "alpha"), (ts(4), "gamma"),
        (ts(5), "beta"), (ts(6), "gamma"))
      // incarnation 2: same plan, same checkpoint, same sink
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      // across the restart: exactly the batch-dedup of the full feed —
      // nothing lost, nothing emitted twice
      val emitted = spark.read.parquet(out.toString)
        .select("text").collect().map(_.getString(0)).toSeq
      assert(emitted.sorted == Seq("alpha", "beta", "gamma"), emitted)
    } finally { rmdir(ckpt); rmdir(out) }
  }

  test("checkpoint recovery: a gap session OPEN across the restart closes as ONE session") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_gap")
    val out = java.nio.file.Files.createTempDirectory("graft_out_gap")
    val input = MemoryStream[EventStreams.Event]
    def start() = EventStreams.sessionizeByGap(input.toDF())
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try {
      // incarnation 1: user 7's session is two events, 10 min apart —
      // still open (append emits only on close) when the query dies
      val q1 = start()
      try {
        input.addData(
          EventStreams.Event(1, ts(0), 7, "click", 1.0),
          EventStreams.Event(2, ts(10), 7, "click", 1.0))
        q1.processAllAvailable()
      } finally q1.stop()
      // incarnation 2: an event 10 min later EXTENDS the same session —
      // only possible if the open-session state survived the restart
      val q2 = start()
      try {
        input.addData(EventStreams.Event(3, ts(20), 7, "click", 1.0))
        q2.processAllAvailable()
        // sentinel batches push the watermark past the session's close
        input.addData(EventStreams.Event(-1,
          Timestamp.valueOf("2024-01-01 14:00:00"), 999, "view", 0.0))
        q2.processAllAvailable()
        input.addData(EventStreams.Event(-2,
          Timestamp.valueOf("2024-01-01 15:00:00"), 999, "view", 0.0))
        q2.processAllAvailable()
        val rows = spark.read.parquet(out.toString)
          .filter(org.apache.spark.sql.functions.col("user_id") === 7)
          .select("n_events", "duration_us").collect()
        // ONE 3-event session spanning the restart — a lost state store
        // would have split it into two (2-event + 1-event) sessions
        assert(rows.length == 1, s"expected one recovered session, got ${rows.length}")
        assert(rows(0).getLong(0) == 3, s"events: ${rows(0).getLong(0)}")
        assert(rows(0).getLong(1) == 20L * 60 * 1000000, s"duration: ${rows(0).getLong(1)}")
      } finally q2.stop()
    } finally { rmdir(ckpt); rmdir(out) }
  }

  test("streaming perplexity gate scores bit-identical to batch p53 in-flight") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // batch truth: p53's per-doc (n_bigrams, nll)
    val batch = graft.SparkEntry.queries("p53_lm_perplexity")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    // gate at the batch median so both outcomes exist in the stream
    val thr = batch.values.map(_._2).toSeq.sorted.apply(batch.size / 2)
    val docsRows = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.perplexityGateStream(spark, dir,
        input.toDF().toDF("doc_id", "text"), maxNll = thr)
      .writeStream.format("memory").queryName("ppl_gate")
      .outputMode("append").start()
    try {
      val (a, b) = docsRows.splitAt(docsRows.size / 2)
      input.addData(a)
      q.processAllAvailable()
      input.addData(b)
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, n_bigrams, nll, kept FROM ppl_gate")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      assert(got.length == docsRows.size)
      got.foreach { case (id, n, nll, kept) =>
        val (bn, bnll) = batch(id)
        assert(n == bn && nll == bnll,
          s"doc $id: stream ($n, $nll) vs batch ($bn, $bnll)")
        assert(kept == (nll <= thr))
      }
      assert(got.exists(_._4) && got.exists(!_._4),
        "the median threshold must split the corpus")
      // stateless by construction: the running query holds NO state rows
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.isEmpty,
        "perplexity gate must not create streaming state")
    } finally q.stop()
  }

  test("pruned perplexity gate: subset-keep contract, exact where the cap is moot") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("p53_lm_perplexity")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val thr = batch.values.toSeq.sorted.apply(batch.size / 2)
    val docsRows = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    def run(name: String, cap: Int): Map[Long, (Double, Boolean)] = {
      val input = MemoryStream[(Long, String)]
      val q = EventStreams.perplexityGateStream(spark, dir,
          input.toDF().toDF("doc_id", "text"), maxNll = thr,
          maxBigramEntries = cap)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        input.addData(docsRows)
        q.processAllAvailable()
        assert(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty)
        spark.sql(s"SELECT doc_id, nll, kept FROM $name").collect()
          .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
      } finally q.stop()
    }
    val full = run("ppl_full_cap", Int.MaxValue)
    val pruned = run("ppl_pruned", 50)
    assert(full.size == docsRows.size && pruned.size == full.size)
    // a pruned bigram scores as unseen = strictly more perplexed, so
    // per-doc nll can only rise and the kept set can only SHRINK
    full.foreach { case (id, (nllF, keptF)) =>
      val (nllP, keptP) = pruned(id)
      assert(nllP >= nllF, s"doc $id: pruned nll $nllP < full $nllF")
      assert(!keptP || keptF, s"doc $id admitted only under pruning")
    }
    // the cap bites at 50 entries on this corpus: some docs shift...
    assert(full.exists { case (id, (nllF, _)) => pruned(id)._1 > nllF })
    // ...and the full cap is bit-identical to batch (both paths share
    // lmScoreMaps; the default-cap gate is already spec'd above)
    full.foreach { case (id, (nllF, _)) => assert(nllF == batch(id)) }
  }

  test("pruned excess gate: both per-model NLLs only rise under the cap") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docsRows = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    def run(name: String, cap: Int): Map[Long, (Double, Double)] = {
      val input = MemoryStream[(Long, String)]
      val q = EventStreams.excessGateStream(spark, dir,
          input.toDF().toDF("doc_id", "text"), maxBigramEntries = cap)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        input.addData(docsRows)
        q.processAllAvailable()
        assert(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty)
        spark.sql(s"SELECT doc_id, nll_ref, nll_corpus FROM $name").collect()
          .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      } finally q.stop()
    }
    val full = run("exc_full_cap", Int.MaxValue)
    val pruned = run("exc_pruned", 50)
    assert(full.size == docsRows.size && pruned.size == full.size)
    // a pruned bigram scores as unseen under EITHER model — strictly
    // more perplexed — so BOTH per-model NLLs are monotone under the
    // cap (the excess difference itself can move either way; the
    // per-model monotonicity is the gate's documented contract)
    full.foreach { case (id, (refF, corF)) =>
      val (refP, corP) = pruned(id)
      assert(refP >= refF, s"doc $id: pruned nll_ref $refP < full $refF")
      assert(corP >= corF, s"doc $id: pruned nll_corpus $corP < full $corF")
    }
    // the cap bites on this corpus under at least one model
    assert(full.exists { case (id, (refF, corF)) =>
      pruned(id)._1 > refF || pruned(id)._2 > corF })
  }

  test("LM-staleness monitor: vocabulary shift raises refit_due; refit restores health") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val hour = 3600L * 1000
    val t0 = 1704103200000L
    val src = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4))).sortBy(_._1)
    // vocabulary shift: every word gains a suffix, so every bigram is
    // OOV under the fitted model (the same shift trains the refit model)
    def shift(text: String): String =
      text.split(" ", -1).map(_ + "q").mkString(" ")
    val fitted = src.map { case (id, t, _, _, _) => (id, new Timestamp(t0 + id), t) }
    val shifted = src.map { case (id, t, _, _, _) =>
      (id + 1000000L, new Timestamp(t0 + hour + id), shift(t)) }
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val out = EventStreams.lmDriftStream(spark, dir, docs,
      windowDur = "1 hour", refitRatio = 3.0)
    val q = EventStreams.toMemorySink(out, "lmdrift", complete = true).start()
    try {
      input.addData(fitted.toSeq)
      input.addData(shifted.toSeq)
      q.processAllAvailable()
      val rows = spark.sql("""SELECT window_start, n_docs, oov_rate,
          drift_ratio, refit_due FROM lmdrift ORDER BY window_start""").collect()
      assert(rows.length == 2, rows.mkString("; "))
      // the fitted window IS the baseline corpus: ratio 1.0 by definition
      assert(rows(0).getLong(1) == src.length)
      assert(math.abs(rows(0).getDouble(3) - 1.0) < 1e-6, rows(0).toString)
      assert(!rows(0).getBoolean(4))
      // the shifted window is fully OOV — far past any sane dial
      assert(rows(1).getDouble(2) == 1.0, rows(1).toString)
      assert(rows(1).getBoolean(4))
    } finally q.stop()
    // THE REFIT RULE, executed: re-fit the LM on the shifted slice and
    // verify the new model measures the shifted stream as healthy
    val refitDir = java.nio.file.Files.createTempDirectory("graft_lm_refit")
    spark.createDataFrame(src.toSeq.map { case (id, t, l, sc, nc) =>
        (id, shift(t), l, sc, nc) })
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$refitDir/documents.parquet")
    val input2 = MemoryStream[(Long, Timestamp, String)]
    val out2 = EventStreams.lmDriftStream(spark, refitDir.toString,
      input2.toDF().toDF("doc_id", "ts", "text"),
      windowDur = "1 hour", refitRatio = 3.0)
    val q2 = EventStreams.toMemorySink(out2, "lmdrift2", complete = true).start()
    try {
      input2.addData(shifted.toSeq)
      q2.processAllAvailable()
      val r = spark.sql("SELECT drift_ratio, refit_due FROM lmdrift2").collect()
      assert(r.length == 1)
      assert(math.abs(r(0).getDouble(0) - 1.0) < 1e-6, r(0).toString)
      assert(!r(0).getBoolean(1),
        "the re-fitted LM must measure the shifted stream as healthy")
    } finally { q2.stop(); rmdir(refitDir) }
  }

  test("streaming Gopher gate keeps exactly batch p52's passing docs") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("p52_gopher_rules")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    val docsRows = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.gopherGateStream(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gopher_gate")
      .outputMode("append").start()
    try {
      input.addData(docsRows)
      q.processAllAvailable()
      val kept = spark.sql("SELECT doc_id FROM gopher_gate")
        .collect().map(_.getLong(0)).toSet
      assert(kept == batch.filter(_._2).keySet,
        s"${kept.size} streamed vs ${batch.count(_._2)} batch passes")
      assert(kept.nonEmpty && kept.size < docsRows.size)
    } finally q.stop()
  }

  test("streaming readability gate scores bit-identical to batch p82") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("p82_readability")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getString(5)))).toMap
    val docsRows = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.readabilityGateStream(
        input.toDF().toDF("doc_id", "text"), minFre = 50.0)
      .writeStream.format("memory").queryName("read_gate")
      .outputMode("append").start()
    try {
      input.addData(docsRows)
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT doc_id, words, sentences, syllables, fre_r, band FROM read_gate")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getString(5)))).toMap
      // exactly the batch rows at or above the threshold, values identical
      val expected = batch.filter(_._2._4 >= 50.0)
      assert(got == expected, s"${got.size} streamed vs ${expected.size} batch")
      assert(got.nonEmpty && got.size < docsRows.size)
      // the gate never emits a difficult band at this threshold
      got.values.foreach { case (_, _, _, _, band) =>
        assert(Set("very_easy", "easy", "medium").contains(band), band)
      }
      // and the gate's query plan holds no state stores
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.isEmpty ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("streaming conformal gate reproduces batch p93's threshold and admits; zero state") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("p93_conformal_gate")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2),
        r.getLong(3)))).toMap
    val thr = batch.values.head._1
    val meta = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.conformalGateStream(spark, dir,
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("conformal_gate")
      .outputMode("append").start()
    try {
      input.addData(meta.map(d => (d._1, d._3)))
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, thr, admitted FROM conformal_gate")
        .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
      assert(got.size == meta.size)
      got.values.foreach { case (t, _) => assert(t == thr, s"$t vs batch $thr") }
      // over the TEST half (p93's md5 split re-derived independently),
      // the streamed admit flags aggregate to exactly p93's per-source rows
      def calSide(id: Long): Boolean = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
        ((d(0) >> 4) & 0xf) < 8
      }
      val gotBySource = meta.filterNot(d => calSide(d._1)).groupBy(_._2)
        .map { case (src, g) =>
          src -> ((thr, g.size.toLong, g.count(d => got(d._1)._2).toLong)) }
      assert(gotBySource == batch,
        s"${gotBySource.toSeq.sortBy(_._1).take(3)} vs ${batch.toSeq.sortBy(_._1).take(3)}")
      // conformal bound sanity: the gate admits most of the stream
      assert(got.values.count(_._2) * 4 >= got.size * 3 - got.size / 10)
      // and the gate's query plan holds no state stores
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.isEmpty ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("streaming excess-loss gate scores bit-identical to batch p87") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("p87_excess_loss")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    val docsRows = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.excessGateStream(spark, dir,
        input.toDF().toDF("doc_id", "text"), minExcess = 0.0)
      .writeStream.format("memory").queryName("excess_gate")
      .outputMode("append").start()
    try {
      val (a, b) = docsRows.splitAt(docsRows.size / 2)
      input.addData(a)
      q.processAllAvailable()
      input.addData(b)
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, n_bigrams, nll_ref, nll_corpus, " +
        "excess_r, kept FROM excess_gate").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getBoolean(5)))).toMap
      assert(got.size == batch.size, s"${got.size} vs ${batch.size}")
      batch.foreach { case (id, (n, nr, nc, ex)) =>
        assert(got(id) == ((n, nr, nc, ex, ex >= 0.0)),
          s"doc $id: ${got(id)} vs batch ($n, $nr, $nc, $ex)")
      }
      // stateless: no state-store rows
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.isEmpty ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("streaming DSIR gate weights bit-identical to batch p54") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("p54_dsir_select")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val thr = batch.values.map(_._2).toSeq.sorted.apply(batch.size / 2)
    val docsRows = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.dsirGateStream(spark, dir,
        input.toDF().toDF("doc_id", "text"), minWeight = thr)
      .writeStream.format("memory").queryName("dsir_gate")
      .outputMode("append").start()
    try {
      val (a, b) = docsRows.splitAt(docsRows.size / 2)
      input.addData(a)
      q.processAllAvailable()
      input.addData(b)
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, n_feats, weight, kept FROM dsir_gate")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      assert(got.length == docsRows.size)
      got.foreach { case (id, n, w, kept) =>
        val (bn, bw) = batch(id)
        assert(n == bn && w == bw, s"doc $id: stream ($n, $w) vs batch ($bn, $bw)")
        assert(kept == (w >= thr))
      }
      assert(got.exists(_._4) && got.exists(!_._4))
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("streaming LR gate scores bit-identical to batch p55 from the staged weights") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("p55_lr_quality_select")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val thr = batch.values.toSeq.sorted.apply(batch.size / 2)
    val docsRows = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.lrGateStream(spark, dir,
        input.toDF().toDF("doc_id", "text"), minScore = thr)
      .writeStream.format("memory").queryName("lr_gate")
      .outputMode("append").start()
    try {
      val (a, b) = docsRows.splitAt(docsRows.size / 2)
      input.addData(a)
      q.processAllAvailable()
      input.addData(b)
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, score_r, kept FROM lr_gate")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
      assert(got.length == docsRows.size)
      got.foreach { case (id, s, kept) =>
        assert(s == batch(id), s"doc $id: stream $s vs batch ${batch(id)}")
        assert(kept == (s >= thr))
      }
      assert(got.exists(_._3) && got.exists(!_._3))
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.isEmpty,
        "LR gate must not create streaming state")
    } finally q.stop()
  }

  test("streaming Gear-CDC chunker = batch p72 fingerprints; zero state") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // texts long enough to cut (>= the 13-char window, with repetition so
    // at least one boundary fires at the default 7-bit mask is likely),
    // plus a short one and an empty one (single whole-text chunk each)
    val texts = Seq(
      1L -> ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4),
      2L -> "short",
      3L -> "",
      4L -> ("the quick brown fox jumps over the lazy dog again and again " * 3))
    val input = MemoryStream[(Long, Timestamp, String)]
    val q = EventStreams.cdcChunkStream(
        input.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("cdc_chunks")
      .outputMode("append").start()
    try {
      input.addData(texts.map { case (id, t) => (id, ts(id.toInt), t) })
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, fp, l FROM cdc_chunks ORDER BY doc_id, fp")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
      // bit-identical to the batch kernel over the same rows
      val batch = graft.queries.Pipeline.cdcChunked(
          texts.toDF("doc_id", "text"), Seq("doc_id"))
        .selectExpr("doc_id", "md5(chunk) AS fp", "length(chunk) AS l")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
        .sortBy(x => (x._1, x._2))
      assert(got == batch, s"stream $got vs batch $batch")
      // every doc chunks (short/empty -> one chunk); the long ones cut
      assert(got.map(_._1).distinct.sorted == Seq(1L, 2L, 3L, 4L))
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.isEmpty,
        "CDC chunker must not create streaming state")
    } finally q.stop()
  }

  test("streaming JL projection bit-identical to the plain-Scala matrix; zero state") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val vecs = graft.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    // independent sign-matrix re-derivation (md5 MSB rule) + a fold in
    // the same index order as the streamed aggregate => identical doubles
    val signs = (0 until 16).map(j => (0 until 64).map { i =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"jl_${i}_$j".getBytes("UTF-8"))
      if ((h(0) & 0x80) == 0) 1.0 else -1.0
    })
    def proj(e: Seq[Float]): Seq[Double] =
      (0 until 16).map(j =>
        (0 until math.min(64, e.size)).foldLeft(0.0)((acc, i) =>
          acc + e(i).toDouble * signs(j)(i)) / 4.0)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = EventStreams.jlProjectStream(
        input.toDF().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("jl_proj")
      .outputMode("append").start()
    try {
      val (a, b) = vecs.splitAt(vecs.size / 2)
      input.addData(a)
      q.processAllAvailable()
      input.addData(b)
      q.processAllAvailable()
      val got = spark.sql("SELECT vec_id, pv FROM jl_proj").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      assert(got.size == vecs.size)
      vecs.foreach { case (id, e) =>
        assert(got(id) == proj(e), s"vec $id projection drift")
      }
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.isEmpty,
        "JL projection must not create streaming state")
    } finally q.stop()
  }

  test("streaming image-dedup gate: dHash state, payloads never in state; = batch fingerprints") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog".getBytes
    val b = "an entirely different image payload with other bytes".getBytes
    val input = MemoryStream[(Long, Timestamp, Array[Byte])]
    val docs = input.toDF().toDF("media_id", "ts", "payload")
    val q = EventStreams.toMemorySink(
      EventStreams.imageDedupStream(docs), "imgdedup", complete = false).start()
    try {
      // two distinct images, one exact dup (same bytes, later id)
      input.addData((1L, ts(0), a), (2L, ts(1), b), (3L, ts(2), a.clone()))
      q.processAllAvailable()
      val kept = spark.sql("SELECT media_id, dh_hi, dh_lo FROM imgdedup ORDER BY media_id")
        .collect()
      assert(kept.map(_.getLong(0)).toSeq == Seq(1L, 2L), kept.mkString("; "))
      // stream hashes are bit-identical to the batch operator's
      val batch = graft.operators.Multimodal.imageDHash(
        spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(
            org.apache.spark.sql.Row(1L, a), org.apache.spark.sql.Row(2L, b))),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("media_id",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("payload",
              org.apache.spark.sql.types.BinaryType, nullable = true)))))
        .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
      kept.foreach { r =>
        assert(batch(r.getLong(0)) == ((r.getLong(1), r.getLong(2))),
          s"stream/batch fingerprint divergence for ${r.getLong(0)}") }
      // the state schema carries the 16-byte fingerprint, not payloads:
      // the stateful operator exists and holds exactly the kept rows
      val stateOps = q.lastProgress.stateOperators
      assert(stateOps.nonEmpty && stateOps.head.numRowsTotal == 2L,
        stateOps.mkString("; "))
    } finally q.stop()
  }

  test("AUTOMATED LM refit: drift fires the foreachBatch hook unattended; post-refit reads healthy") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val hour = 3600L * 1000
    val t0 = 1704103200000L
    val src = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4))).sortBy(_._1)
    def shift(text: String): String =
      text.split(" ", -1).map(_ + "q").mkString(" ")
    val fitted = src.map { case (id, t, _, _, _) => (id, new Timestamp(t0 + id), t) }
    val driftedH2 = src.map { case (id, t, _, _, _) =>
      (id + 1000000L, new Timestamp(t0 + hour + id), shift(t)) }
    val driftedH3 = src.map { case (id, t, _, _, _) =>
      (id + 2000000L, new Timestamp(t0 + 2 * hour + id), shift(t)) }
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_refit_ckpt")
    val root = java.nio.file.Files.createTempDirectory("graft_refit_models")
    val ptr = root.resolve("current")
    var refitCalls = 0
    val controller = new DriftRefitController(
      spark,
      makeMonitor = d => EventStreams.lmDriftStream(spark, d, docs,
        windowDur = "1 hour", refitRatio = 3.0),
      refit = _ => {
        // re-fit on the current (shifted) slice into a versioned dir
        refitCalls += 1
        val v = root.resolve(s"v$refitCalls")
        spark.createDataFrame(src.toSeq.map { case (id, t, l, sc, nc) =>
            (id, shift(t), l, sc, nc) })
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .write.parquet(s"$v/documents.parquet")
        v.toString
      },
      checkpointDir = ckpt.toString,
      pointerFile = Some(ptr))
    controller.start(dir)
    try {
      // healthy hour: no refit fires
      input.addData(fitted.toSeq)
      controller.processAll()
      assert(controller.refitCount == 0 && controller.activeDir == dir)
      // drifted hour: the hook detects, re-stages, swaps, restarts — with
      // no further action from this test beyond feeding data
      input.addData(driftedH2.toSeq)
      controller.processAll()
      assert(controller.awaitRefits(1), "refit hook did not fire unattended")
      assert(controller.activeDir != dir)
      assert(new String(java.nio.file.Files.readAllBytes(ptr), "UTF-8")
        == controller.activeDir, "pointer file must track the swap atomically")
      // post-refit drifted traffic reads healthy under the new model
      input.addData(driftedH3.toSeq)
      controller.processAll()
      val last = controller.results().last
      assert(math.abs(last.getAs[Double]("drift_ratio") - 1.0) < 1e-6, last.toString)
      assert(!last.getAs[Boolean]("refit_due"), last.toString)
      // history windows re-emitted by Complete mode must not re-trigger
      assert(controller.refitCount == 1 && refitCalls == 1)
    } finally { controller.stop(); rmdir(ckpt); rmdir(root) }
  }

  test("AUTOMATED index refit: PQ drift fires the hook unattended; post-refit reads healthy") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    graft.functions.SnowflakeExtensions.register(spark)
    val dir = "/root/testdata/sf0.001"
    val hour = 3600L * 1000
    val t0 = 1704103200000L
    val src = graft.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    def drift(v: Seq[Float]): Seq[Float] = v.map(x => x * 3.0f + 1.0f)
    val fitted = src.map { case (id, v) => (id, new Timestamp(t0 + id), v) }
    val driftedH2 = src.map { case (id, v) =>
      (id + 1000000L, new Timestamp(t0 + hour + id), drift(v)) }
    val driftedH3 = src.map { case (id, v) =>
      (id + 2000000L, new Timestamp(t0 + 2 * hour + id), drift(v)) }
    val input = MemoryStream[(Long, Timestamp, Seq[Float])]
    val docs = input.toDF().toDF("vec_id", "ts", "embedding")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pqrefit_ckpt")
    val root = java.nio.file.Files.createTempDirectory("graft_pqrefit_models")
    var refitCalls = 0
    val controller = new DriftRefitController(
      spark,
      makeMonitor = d => EventStreams.indexDriftStream(spark, d, docs,
        windowDur = "1 hour", refitRatio = 1.5),
      refit = _ => {
        refitCalls += 1
        val v = root.resolve("v" + refitCalls)
        spark.createDataFrame(src.toSeq.map { case (id, e) => (id, drift(e)) })
          .toDF("vec_id", "embedding")
          .write.parquet(s"$v/embeddings.parquet")
        v.toString
      },
      checkpointDir = ckpt.toString)
    controller.start(dir)
    try {
      input.addData(fitted.toSeq)
      controller.processAll()
      assert(controller.refitCount == 0)
      input.addData(driftedH2.toSeq)
      controller.processAll()
      assert(controller.awaitRefits(1), "refit hook did not fire unattended")
      input.addData(driftedH3.toSeq)
      controller.processAll()
      val last = controller.results().last
      assert(math.abs(last.getAs[Double]("drift_ratio") - 1.0) < 1e-6, last.toString)
      assert(!last.getAs[Boolean]("refit_due"), last.toString)
      assert(controller.refitCount == 1)
    } finally { controller.stop(); rmdir(ckpt); rmdir(root) }
  }

  test("streaming Hedge controller reproduces batch p70's trajectory bit-for-bit") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // the batch truth: (round, source) -> (w, weight_r)
    val batch = graft.SparkEntry.queries("p70_hedge_mix")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1)) ->
        ((r.getLong(3), r.getDouble(4)))).toMap
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val domains = docs.map(_._2).distinct.sorted.toSeq
    val ctrl = new HedgeMixController(domains)
    val input = MemoryStream[(Long, String, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("hedge_ckpt").toString
    val q = HedgeMix.hedgeMixStream(spark, dir,
      input.toDF().toDF("doc_id", "source", "text"), ctrl, ckpt)
    try {
      // each micro-batch is one Hedge round: feed the batch entry's
      // event-order shards (doc_id mod 6) one at a time — after every
      // round the controller's exact-BIGINT weights and 6dp readout
      // must equal the batch trajectory's row for that round
      (0 until 6).foreach { t =>
        input.addData(docs.filter(_._1 % 6 == t).toSeq)
        q.processAllAvailable()
        assert(ctrl.rounds == t + 1, s"round count after shard $t")
        ctrl.snapshot.foreach { case (d, w, wr) =>
          assert(batch((t + 1, d)) == ((w, wr)),
            s"round ${t + 1} $d: ($w, $wr) vs ${batch((t + 1, d))}")
        }
      }
      // an empty micro-batch is NOT a round (no scorable docs)
      input.addData(Seq.empty[(Long, String, String)])
      q.processAllAvailable()
      assert(ctrl.rounds == 6)
    } finally q.stop()
  }

  /** sf0.001 hourly deltas in event-time order, via the same grouping
    * the batch entries run; callers split them into micro-batches. */
  private def hourlyDeltas(dir: String, treatmentOnly: Boolean): Seq[EventStreams.HourDelta] = {
    import org.apache.spark.sql.functions._
    val ev = graft.queries.Q.t(spark, dir, "events")
    val base = if (treatmentOnly) ev.filter(col("user_id") % 2 === 1) else ev
    base.groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c"))
      .orderBy(col("hour")).collect()
      .map(r => EventStreams.HourDelta(r.getTimestamp(0), r.getLong(1), r.getLong(2)))
      .toSeq
  }

  test("streaming SPRT monitor reproduces batch p104 exactly across micro-batch splits") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // batch truth: hour -> (n_cum, c_cum, llr_s, decision, decided_at)
    val batch = graft.SparkEntry.queries("p104_sprt")(spark, dir).collect()
      .map(r => r.getTimestamp(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), Option(r.getTimestamp(5))))).toMap
    val deltas = hourlyDeltas(dir, treatmentOnly = true)
    assert(deltas.size == batch.size)
    val input = MemoryStream[EventStreams.HourDelta]
    val q = EventStreams.sprtMonitorStream(input.toDS())
      .writeStream.format("memory").queryName("sprtmon")
      .outputMode("append").start()
    try {
      // three uneven splits: the cumulative LLR must stitch across state
      val cut1 = deltas.size / 3
      val cut2 = 2 * deltas.size / 3 + 1
      Seq(deltas.slice(0, cut1), deltas.slice(cut1, cut2), deltas.drop(cut2))
        .foreach { part => input.addData(part); q.processAllAvailable() }
      val got = spark.sql(
        "SELECT hour, n_cum, c_cum, llr_s, decision, decided_at FROM sprtmon")
        .collect()
      assert(got.length == deltas.size)
      for (r <- got) {
        val (n, c, llr, dec, dAt) = batch(r.getTimestamp(0))
        assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)) ==
          ((n, c, llr, dec)), s"hour ${r.getTimestamp(0)}")
        // decided_at: the batch retrospective backfills it onto every
        // row; the live monitor knows it only from the crossing onward
        dAt match {
          case Some(d) if !r.getTimestamp(0).before(d) =>
            assert(r.getTimestamp(5) == d, s"decided_at at ${r.getTimestamp(0)}")
          case Some(_) => assert(r.isNullAt(5), s"premature decided_at")
          case None => assert(r.isNullAt(5))
        }
      }
      // the sf0.001 trajectory actually decides (guards test strength)
      assert(batch.values.exists(_._4 != "continue"))
    } finally q.stop()
  }

  test("streaming CUSUM monitor reproduces batch p105 exactly across micro-batch splits") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // batch truth: hour -> (x, k_s, cusum_s, alarm); k is the chart's
    // reference parameter — the retrospective derives it, the live
    // monitor is CONFIGURED with it
    val batchRows = graft.SparkEntry.queries("p105_cusum")(spark, dir).collect()
    val k = batchRows.head.getLong(2)
    val batch = batchRows.map(r => r.getTimestamp(0) ->
      ((r.getLong(1), r.getLong(3), r.getBoolean(4)))).toMap
    val deltas = hourlyDeltas(dir, treatmentOnly = false)
    assert(deltas.size == batch.size)
    val input = MemoryStream[EventStreams.HourDelta]
    val q = EventStreams.cusumMonitorStream(input.toDS(), k)
      .writeStream.format("memory").queryName("cusummon")
      .outputMode("append").start()
    try {
      val cut = deltas.size / 2
      Seq(deltas.take(cut), deltas.drop(cut))
        .foreach { part => input.addData(part); q.processAllAvailable() }
      val got = spark.sql("SELECT hour, x, k_s, cusum_s, alarm FROM cusummon")
        .collect()
      assert(got.length == deltas.size)
      for (r <- got) {
        assert(r.getLong(2) == k)
        assert(batch(r.getTimestamp(0)) ==
          ((r.getLong(1), r.getLong(3), r.getBoolean(4))),
          s"hour ${r.getTimestamp(0)}")
      }
      // bounded state: one tuple for the single monitor key
      assert(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty ||
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum == 1)
    } finally q.stop()
  }

  test("SPRT stage 1: the watermarked hourly delta stream matches the batch front") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EventStreams.Event]
    // hour 10: treatment (odd users) n=3 c=1; control rows must not count
    input.addData(
      EventStreams.Event(1, ts(5), 101, "purchase", 1.0),
      EventStreams.Event(2, ts(6), 101, "click", 1.0),
      EventStreams.Event(3, ts(7), 103, "click", 1.0),
      EventStreams.Event(4, ts(8), 100, "purchase", 1.0))
    input.addData(
      EventStreams.Event(5, Timestamp.valueOf("2024-01-01 12:05:00"), 105, "click", 1.0))
    val q = EventStreams.toMemorySink(
      EventStreams.sprtHourlyDeltas(input.toDF()), "sprtdeltas").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT hour, n, c FROM sprtdeltas ORDER BY hour").collect()
      assert(rows.map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSeq ==
        Seq((ts(0), 3L, 1L),
          (Timestamp.valueOf("2024-01-01 12:00:00"), 1L, 0L)))
    } finally q.stop()
  }

  test("SPRT stage 1 (append mode): only watermark-closed hours are emitted") {
    // the documented two-query composition runs stage 1 in APPEND mode
    // (closed hours to a durable sink; the fold reads them back) — the
    // Complete-mode test above cannot exercise the close-on-watermark
    // behavior the contract relies on (r14 ADVICE). Here the open hour
    // must stay UNEMITTED until a later event's watermark closes it.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.sprtHourlyDeltas(input.toDF())
      .writeStream.format("memory").queryName("sprtdeltas_append")
      .outputMode("append").start()
    try {
      // hour 10: treatment n=3 c=1 (same fixture as the Complete test)
      input.addData(
        EventStreams.Event(1, ts(5), 101, "purchase", 1.0),
        EventStreams.Event(2, ts(6), 101, "click", 1.0),
        EventStreams.Event(3, ts(7), 103, "click", 1.0),
        EventStreams.Event(4, ts(8), 100, "purchase", 1.0))
      q.processAllAvailable()
      // watermark (10:08 - 1h) has not passed 11:00 — NOTHING emitted
      assert(spark.sql("SELECT * FROM sprtdeltas_append").count() == 0,
        "open hour leaked into an append-mode sink")
      // a 12:05 treatment event advances the watermark to 11:05: hour 10
      // closes and is emitted; hour 12 is open and must NOT be
      input.addData(EventStreams.Event(5,
        Timestamp.valueOf("2024-01-01 12:05:00"), 105, "click", 1.0))
      q.processAllAvailable()
      val afterClose = spark.sql(
        "SELECT hour, n, c FROM sprtdeltas_append ORDER BY hour").collect()
      assert(afterClose.map(r =>
        (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSeq ==
        Seq((ts(0), 3L, 1L)),
        s"expected exactly the closed hour 10; got ${afterClose.mkString(",")}")
      // closing hour 12 needs the watermark past 13:00, i.e. an event at
      // >= 14:00 (a 13:05 event only moves it to 12:05) — feed 14:05
      input.addData(EventStreams.Event(6,
        Timestamp.valueOf("2024-01-01 14:05:00"), 107, "click", 1.0))
      q.processAllAvailable()
      val all = spark.sql(
        "SELECT hour, n, c FROM sprtdeltas_append ORDER BY hour").collect()
      assert(all.map(r =>
        (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSeq ==
        Seq((ts(0), 3L, 1L),
          (Timestamp.valueOf("2024-01-01 12:00:00"), 1L, 0L)))
    } finally q.stop()
  }
}
