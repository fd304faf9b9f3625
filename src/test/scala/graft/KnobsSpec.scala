package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Pipeline

/** One knob path: two [[Knobs]] values build their inventories side by
  * side in one JVM, each with its own oracle strings and staging keys, and
  * nothing in `src/main` writes a `graft.*` property at run time. */
class KnobsSpec extends AnyFunSuite {

  private def graftProps: Map[String, String] =
    sys.props.toMap.filter(_._1.startsWith("graft."))

  test("two knob values build their inventories concurrently without crosstalk") {
    val a = Knobs.jvm.copy(ivfCells = Some(2), lshTables = 2)
    val b = Knobs.jvm.copy(ivfCells = Some(3), lshTables = 4)
    def oracles(k: Knobs) = Pipeline.defsFor(k).flatMap(q => q.oracle.map(q.name -> _)).toMap

    // the first build of each value happens on the pool, 4 threads racing
    val props = graftProps
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val got = try {
      val jobs = (1 to 8).map { i =>
        val k = if (i % 2 == 0) a else b
        pool.submit(() => (k, oracles(k), Pipeline.CellStage.tag(k)))
      }
      jobs.map(_.get())
    } finally pool.shutdown()
    assert(graftProps == props, "building an inventory wrote a graft.* property")

    val (refA, refB) = (oracles(a), oracles(b))
    assert(refA("p36_kmeans_index").contains("kk AS (SELECT 2 AS k)"))
    assert(refB("p36_kmeans_index").contains("kk AS (SELECT 3 AS k)"))
    assert(refA("p37_knn_lsh_multi") != refB("p37_knn_lsh_multi"))
    assert(Pipeline.CellStage.tag(a) != Pipeline.CellStage.tag(b))
    got.foreach { case (k, o, tag) =>
      assert(o == (if (k == a) refA else refB))
      assert(tag == Pipeline.CellStage.tag(k))
    }
  }

  test("each inventory is built once per knob value") {
    assert(Pipeline.defs eq Pipeline.defs)
    assert(Pipeline.defsFor(Knobs.jvm) eq Pipeline.defs)
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.queriesFor(Knobs.jvm) eq SparkEntry.queries)
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
    val k = Knobs.jvm.copy(lshTables = 3)
    assert(Pipeline.defsFor(k) eq Pipeline.defsFor(k.copy()))
    assert(SparkEntry.queriesFor(k) eq SparkEntry.queriesFor(k.copy()))
    assert(SparkEntry.queriesFor(k) ne SparkEntry.queries)
  }

  test("no code in src/main writes a graft.* property") {
    val write = Seq(
      """sys\.props\s*\(\s*"graft\.[^"]*"\s*\)\s*=(?!=)""",
      """sys\.props\s*(\+=|-=)\s*\(?\s*"graft\.""",
      """sys\.props\.(put|update|remove|getOrElseUpdate)\s*\(\s*"graft\.""",
      """System\.(setProperty|clearProperty)\s*\(\s*"graft\.""",
      """System\.getProperties\s*\.\s*(put|setProperty|remove)\s*\(\s*"graft\.""").map(_.r)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .filter(_.toString.endsWith(".scala")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
    assert(files.nonEmpty, "src/main not found from the test working directory")
    val hits = for {
      f <- files
      (line, n) <- java.nio.file.Files.readAllLines(f).toArray.toSeq
        .map(_.toString).zipWithIndex
      if write.exists(_.findFirstIn(line).nonEmpty)
    } yield s"$f:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
    // the scan does flag a write, and leaves the start-up default of a
    // JDK property alone
    assert(write.exists(_.findFirstIn("""sys.props("graft.x") = "1"""").nonEmpty))
    assert(write.exists(_.findFirstIn("""System.setProperty("graft.x", "1")""").nonEmpty))
    assert(write.forall(_.findFirstIn(
      """System.setProperty("sun.net.httpserver.nodelay", "true")""").isEmpty))
  }
}
