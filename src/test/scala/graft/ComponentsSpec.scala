package graft

import org.apache.spark.sql.functions._

/** minLabelComponents has two physical strategies behind one contract —
  * driver union-find below the edge threshold, distributed min-label
  * propagation above it. Both must produce identical components, the
  * distributed path must reach the fixpoint on graphs whose diameter
  * exceeds any fixed iteration budget, and an unconverged loop must THROW
  * rather than silently return split components (r5 shipped a hard
  * 20-iteration cap; that failure mode is the worst possible one for a
  * dedup clustering).
  */
class ComponentsSpec extends SparkSpecBase {

  private def solve(pairs: org.apache.spark.sql.DataFrame,
      distributed: Boolean): Map[Long, Long] =
    queries.Pipeline.minLabelComponents(spark, pairs)(
        Knobs.jvm.copy(ccDriverMaxEdges = if (distributed) 0L else Long.MaxValue))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain with diameter 25 converges to a single component (both paths)") {
    import spark.implicits._
    // path graph 100-101-...-125: min-label needs ~25 rounds to reach
    // the far end, past the old cap of 20
    val pairs = (100L until 125L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    Seq(false, true).foreach { dist =>
      val comps = solve(pairs, dist)
      assert(comps.size == 26, s"distributed=$dist")
      assert(comps.values.forall(_ == 100L), s"distributed=$dist split: $comps")
    }
  }

  test("two disjoint chains keep distinct labels (both paths)") {
    import spark.implicits._
    val pairs = ((1L to 3L).map(i => (i, i + 1)) ++
      (10L to 12L).map(i => (i, i + 1))).toDF("a_id", "b_id")
    Seq(false, true).foreach { dist =>
      val comps = solve(pairs, dist)
      assert((1L to 4L).forall(comps(_) == 1L), s"distributed=$dist")
      assert((10L to 13L).forall(comps(_) == 10L), s"distributed=$dist")
    }
  }

  test("driver and distributed paths agree on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(200)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("a_id", "b_id")
    assert(solve(pairs, distributed = false) == solve(pairs, distributed = true))
  }

  test("unconverged distributed loop throws instead of returning split components") {
    import spark.implicits._
    val pairs = (1L to 5L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    assertThrows[IllegalStateException] {
      queries.Pipeline.minLabelComponents(spark, pairs, maxIter = 2)(
        Knobs.jvm.copy(ccDriverMaxEdges = 0L)).count()
    }
  }
}
