package graft

/** The staged shingle front honors the `shingleStageDir` knob
  * (`-Dgraft.shingleStageDir`), the hook a production deployment uses to
  * point staging at a shared filesystem / object store instead of a
  * node-local temp dir. Each test stages under a root of its own, passed
  * in the knobs.
  */
class ShingleStageSpec extends SparkSpecBase {

  private def withRoot[A](prefix: String)(body: (java.nio.file.Path, Knobs) => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    try body(dir, Knobs.jvm.copy(shingleStageDir = Some(dir.toString)))
    finally rm(dir.toFile)
  }

  test("explicit graft.shingleStageDir receives the staged parquet") {
    withRoot("shingle_override") { (dir, k) =>
      val df = queries.Pipeline.ShingleStage.load(spark, sf0001)(k)
      assert(df.columns.toSet == Set("doc_id", "h", "df"))
      assert(df.count() > 0)
      val staged = dir.toFile.listFiles()
      assert(staged != null && staged.exists(_.getName.startsWith("sh_")),
        s"no staged table under $dir: ${Option(staged).map(_.toSeq)}")
    }
  }

  test("commit is atomic: a builder that loses the cross-JVM race adopts the winner") {
    // Simulates two JVMs that both miss the _SUCCESS check: while our
    // build is in flight, the "other JVM" commits the final path. The
    // loser must not clobber the committed table (the old
    // write.mode(overwrite) bug) — it discards its temp copy and reads
    // the winner's.
    withRoot("shingle_race") { (dir, k) =>
      import spark.implicits._
      val canonical = new java.io.File(sf0001).getCanonicalPath
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(canonical.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val finalPath = dir.resolve(s"rc_$key")
      val df = queries.Pipeline.ShingleStage.stage(spark, sf0001, "rc") {
        // the racing JVM wins while we are still building
        Seq((1L, "winner")).toDF("id", "who")
          .write.mode("overwrite").parquet(finalPath.toString)
        Seq((2L, "loser")).toDF("id", "who")
      }(k)
      assert(df.select("who").as[String].collect().toSeq == Seq("winner"),
        "loser overwrote the committed table")
      val leftovers = dir.toFile.listFiles().filter(_.getName.contains(".tmp."))
      assert(leftovers.isEmpty, s"temp build dirs not cleaned: ${leftovers.toSeq}")
    }
  }

  test("explicit staging dir is reused across JVMs, not rebuilt") {
    withRoot("shingle_reuse") { (dir, k) =>
      queries.Pipeline.ShingleStage.load(spark, sf0001)(k).count()
      val staged = dir.toFile.listFiles().filter(_.getName.startsWith("sh_"))
      assert(staged.nonEmpty)
      val before = staged.head.listFiles().map(f => f.getName -> f.lastModified()).toMap
      // a fresh JVM has an empty staging map but sees the committed table
      queries.Pipeline.ShingleStage.resetForTest()
      queries.Pipeline.ShingleStage.load(spark, sf0001)(k).count()
      val after = staged.head.listFiles().map(f => f.getName -> f.lastModified()).toMap
      assert(after == before, "staged table was rebuilt instead of reused")
    }
  }
}
