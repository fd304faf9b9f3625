package graft

/** p80's production-depth checkpointing dial: `-Dgraft.lexCheckpoint`
  * must change PLAN SHAPE only — bit-identical ranks with the dial on
  * vs off. */
class LexRankCheckpointSpec extends SparkSpecBase {

  test("lexCheckpoint=2 reproduces the default ranks bit-for-bit") {
    val dir = "/root/testdata/sf0.001"
    def run(k: Knobs): Seq[(Long, Long, Long)] =
      SparkEntry.queriesFor(k)("p80_lexrank")(spark, dir)
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(run(Knobs.jvm.copy(lexCheckpoint = Some(2))) == run(Knobs.jvm))
  }

  test("a malformed or non-positive dial behaves as off") {
    val dir = "/root/testdata/sf0.001"
    for (v <- Seq("zero", "0", "-3")) {
      val k = Knobs.from(sys.props.toMap + ("graft.lexCheckpoint" -> v))
      assert(k.lexCheckpoint.isEmpty, v)
      assert(SparkEntry.queriesFor(k)("p80_lexrank")(spark, dir).count() > 0)
    }
  }
}
