package graft

/** The `-Dgraft.sketchAgreement` dial: `off` must emit the
  * histogram-sketch side of the agreement entries alone — identical
  * schema, identical sketch-side values, agreement columns NULL — and
  * the default must remain the full in-row agreement measurement the
  * DuckDB oracle mirrors. `off` CHANGES RESULT VALUES of p53c/p55c/
  * p87c/p90b, so it is tested on an inventory of its own
  * (`SparkEntry.queriesFor`), which leaves the JVM's inventory — and
  * every suite running beside this one — untouched. */
class SketchAgreementSpec extends SparkSpecBase {

  /** (entry, sketch-side columns, agreement columns). */
  private val entries = Seq(
    ("p53c_lm_buckets_sketch",
      Seq("cut_lo", "cut_hi", "n_head", "n_middle", "n_tail"), Seq("n_agree")),
    ("p55c_lr_select_sketch", Seq("cut_r", "n_selected"), Seq("n_agree")),
    ("p87c_excess_sketch", Seq("cut_r", "n_kept_sketch", "nd"),
      Seq("n_kept_exact", "n_agree")),
    ("p90b_fusion_sketch", Seq("cut_bucket", "n_kept_sketch", "nd"),
      Seq("n_kept_exact", "n_agree")))

  private lazy val off = SparkEntry.queriesFor(Knobs.jvm.copy(sketchAgreement = false))

  test("off: same schema, same sketch values, NULL agreement columns") {
    for ((name, sketchCols, agreeCols) <- entries) {
      val on = SparkEntry.queries(name)(spark, sf0001)
      val onRows = on.collect()
      val offDf = off(name)(spark, sf0001)
      val (offSchema, offRows) = (offDf.schema, offDf.collect())
      assert(offSchema == on.schema, s"$name: schema drifted with the dial off")
      def proj(rows: Array[org.apache.spark.sql.Row], cols: Seq[String]) =
        rows.map(r => cols.map(c => String.valueOf(r.get(r.fieldIndex(c))))
          .mkString("|")).sorted.toSeq
      assert(proj(offRows, sketchCols) == proj(onRows, sketchCols),
        s"$name: sketch side changed with the dial off")
      for (r <- offRows; c <- agreeCols)
        assert(r.isNullAt(r.fieldIndex(c)), s"$name: $c not NULL with dial off")
      // the default (on) run measures real agreement — non-NULL
      for (r <- onRows; c <- agreeCols)
        assert(!r.isNullAt(r.fieldIndex(c)), s"$name: $c NULL with dial on")
    }
  }

  test("a malformed dial value behaves as on") {
    val k = Knobs.from(sys.props.toMap + ("graft.sketchAgreement" -> "offf"))
    assert(k.sketchAgreement)
    val rows = SparkEntry.queriesFor(k)("p55c_lr_select_sketch")(spark, sf0001).collect()
    assert(rows.forall(r => !r.isNullAt(r.fieldIndex("n_agree"))))
  }
}
