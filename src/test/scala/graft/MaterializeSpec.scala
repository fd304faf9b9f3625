package graft

import org.apache.spark.sql.functions._

/** The `checkpointMode` knob: every mode must produce
  * bit-identical results (checkpointing changes plan shape, never
  * values), release must free exactly the handle's own storage, and the
  * durable modes must leave nothing pinned in the block manager — the
  * r13 flake (`CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND` in AuditFamilySpec
  * p85 under the 26-suite parallel load) was evicted localCheckpoint
  * blocks, which `reliable`/`stage` make impossible by construction.
  *
  * Quarantined into its own forked test group (build.sbt): it asserts on
  * the SparkContext's persistent-RDD set, which every concurrently
  * running suite adds to and removes from. */
class MaterializeSpec extends SparkSpecBase {

  private def withMode[A](m: String)(body: Knobs => A): A =
    body(Knobs.jvm.copy(checkpointMode = m))

  test("mode parsing: durable names resolve, anything else is local") {
    def mode(v: String) = Knobs.from(Map("graft.checkpointMode" -> v)).checkpointMode
    assert(mode("reliable") == "reliable")
    assert(mode(" Stage ") == "stage")
    assert(mode("durable-ish") == "local")
    assert(Knobs.from(Map.empty[String, String]).checkpointMode == "local")
  }

  test("p85/p20 (the AuditFamilySpec-class consumers) are bit-equal across all three modes") {
    // p85 rides the jsOrderedSums shared front (the exact site of the
    // r13 on-disk failure); p20 rides the CC loop.
    def run(name: String)(k: Knobs): Set[String] =
      SparkEntry.queriesFor(k)(name)(spark, sf0001).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).toSet
    for (name <- Seq("p85_source_divergence", "p20_dedup_clusters")) {
      val byMode = Seq("local", "reliable", "stage")
        .map(m => m -> withMode(m)(run(name))).toMap
      assert(byMode("reliable") == byMode("local"),
        s"$name: reliable != local")
      assert(byMode("stage") == byMode("local"), s"$name: stage != local")
      assert(byMode("local").nonEmpty)
    }
  }

  test("local: release unpersists exactly the handle's RDD, not a concurrent handle's") {
    withMode("local") { implicit k =>
      import spark.implicits._
      val sc = spark.sparkContext
      val h1 = Materialize.tracked((1 to 100).toDF("x"), "t1")
      val h2 = Materialize.tracked((1 to 100).toDF("y"), "t2")
      val before = sc.getPersistentRDDs.keySet
      h1.release()
      // releasing h1 must leave h2's blocks intact and re-readable
      val after = sc.getPersistentRDDs.keySet
      assert((before -- after).size == 1)
      assert(h2.df.agg(sum($"y")).collect()(0).getLong(0) == 5050L)
      h2.release()
    }
  }

  test("reliable: no block-manager pinning; files exist until release") {
    withMode("reliable") { implicit k =>
      import spark.implicits._
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val h = Materialize.tracked((1 to 100).toDF("x"), "t3")
      // reliable checkpoints don't pin executor block memory
      assert(sc.getPersistentRDDs.keySet == before)
      assert(h.df.count() == 100)
      assert(sc.getCheckpointDir.nonEmpty)
      h.release()
    }
  }

  test("stage: parquet round-trip; release deletes the staged copy") {
    withMode("stage") { implicit k =>
      import spark.implicits._
      val h = Materialize.tracked(
        (1 to 50).toDF("x").withColumn("s", concat(lit("v"), $"x")), "t4")
      val path = h.df.inputFiles.headOption.getOrElse(fail("no staged file"))
      assert(path.contains("m_t4_"))
      assert(h.df.count() == 50)
      h.release()
      val dir = new java.io.File(new java.net.URI(path)).getParentFile
      assert(!dir.exists(), s"release left $dir")
    }
  }

  test("an EMPTY aggregated frame round-trips under every mode with its schema") {
    // the DF-guard saturation path can materialize empty fronts (p81's
    // kept set on a saturated corpus); the parquet read-back must still
    // carry the schema, not fail inference on a part-less directory
    import spark.implicits._
    import org.apache.spark.sql.functions._
    for (m <- Seq("local", "reliable", "stage")) withMode(m) { implicit k =>
      val empty = (1 to 10).toDF("x").filter($"x" > 100)
        .groupBy($"x").agg(count(lit(1)).as("n"))
      val h = Materialize.tracked(empty, "empty")
      assert(h.df.count() == 0L, m)
      assert(h.df.schema.fieldNames.toSeq == Seq("x", "n"), m)
      h.release()
    }
  }

  test("an iterative consumer releasing per round survives the durable mode") {
    // kmeansRounds-shaped loop: round i+1 built from round i's
    // materialization, previous handle released each round.
    withMode("reliable") { implicit k =>
      import spark.implicits._
      var cur = Materialize.tracked((1L to 64L).toDF("v"), "loop")
      for (_ <- 1 to 5) {
        val next = Materialize.tracked(
          cur.df.select(($"v" * 2 % 1000003L).as("v")), "loop")
        cur.release()
        cur = next
      }
      assert(cur.df.agg(sum($"v")).collect()(0).getLong(0) ==
        (1L to 64L).map(v => v * 32 % 1000003L).sum)
      cur.release()
    }
  }
}
