package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** Wire-path latency/throughput bench (r17): every bench number recorded
  * through r16 is `SparkEntry` in-process; this main measures the HTTP
  * surface itself — the reference's qualitative bar is "cheap & fast CI
  * smoke tests" (`README.md:33`), so the emulator's wire overhead is a
  * first-class number, not an implementation detail.
  *
  * Three statement classes, each over BOTH wire protocols (REST v2
  * `/api/v2/statements` and the gosnowflake driver protocol
  * `/queries/v1/query-request`) and, for comparison, straight through
  * `Executor.execute` in-process (same executor instance the server
  * routes to, so the delta is exactly the wire layer: HTTP + JSON
  * encode/decode + session/statement management):
  *
  *  - `select1`   — `SELECT 1`: the minimal round trip, isolating fixed
  *                  per-statement overhead;
  *  - `pipeline`  — `SELECT * FROM TABLE(PIPELINE('q01_pricing_summary'))`
  *                  at `SPARK_GRAFT_SF_DIR`: a real scan+agg riding the
  *                  wire, the CI-smoke-shaped workload;
  *  - `dml`       — INSERT VALUES + point UPDATE + COUNT against a
  *                  server-side table: the stateful path (catalog,
  *                  copy-on-write, history).
  *
  * Output: one JSON line (and `SPARK_GRAFT_BENCH_OUT`, default
  * `target/bench_wire.json`) with per-(wire, class) n/mean/p50/p95/p99 ms
  * and the derived per-statement wire overhead vs in-process. Latencies
  * are single-client sequential — the number a CI test suite sees. */
object WireBench {

  private def pct(sorted: Array[Double], p: Double): Double =
    sorted(math.min(sorted.length - 1, math.max(0, (p * sorted.length).toInt)))

  private def stats(samples: Seq[Double]): String = {
    val s = samples.toArray.sorted
    def r2(v: Double) = math.round(v * 100) / 100.0
    s"""{"n":${s.length},"meanMs":${r2(s.sum / math.max(1, s.length))},""" +
      s""""p50Ms":${r2(pct(s, 0.50))},"p95Ms":${r2(pct(s, 0.95))},""" +
      s""""p99Ms":${r2(pct(s, 0.99))},"maxMs":${r2(s.last)}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = graft.GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val server = EmulatorServer(spark)
    server.start()
    val base = s"http://127.0.0.1:${server.actualPort}"
    val client = HttpClient.newHttpClient()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

    def post(path: String, body: String, headers: Seq[(String, String)] = Nil)
        : com.fasterxml.jackson.databind.JsonNode = {
      val b = HttpRequest.newBuilder(URI.create(base + path))
        .POST(HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json")
      headers.foreach { case (k, v) => b.header(k, v) }
      mapper.readTree(
        client.send(b.build(), HttpResponse.BodyHandlers.ofString()).body())
    }

    // login once per wire — session setup is not part of per-statement cost
    val login = post(
      "/session/v1/login-request?databaseName=TEST_DB&schemaName=PUBLIC",
      """{"data":{"LOGIN_NAME":"wirebench","PASSWORD":"x"}}""")
    require(login.get("success").asBoolean(), s"login failed: $login")
    val token = login.get("data").get("token").asText()
    val gsAuth = Seq("Authorization" -> s"""Snowflake Token="$token"""")

    def esc(sql: String): String =
      sql.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ")
    def gs(sql: String): Unit = {
      val r = post("/queries/v1/query-request",
        s"""{"sqlText":"${esc(sql)}"}""", gsAuth)
      require(r.get("success").asBoolean(), s"gosnowflake failed: $sql -> $r")
    }
    def v2(sql: String): Unit = {
      val r = post("/api/v2/statements",
        s"""{"statement":"${esc(sql)}","database":"TEST_DB","schema":"PUBLIC"}""")
      require(Option(r.get("code")).exists(_.asText() == "090001"),
        s"v2 failed: $sql -> $r")
    }
    val inprocCtx = graft.emulator.Executor.Context("wirebench-inproc", "TEST_DB", "PUBLIC")
    def inproc(sql: String): Unit = {
      server.executor.execute(inprocCtx, sql); ()
    }

    // setup (untimed): the DML target, plus one untimed run per class per
    // path so JIT/codegen/first-scan costs don't land in sample 0
    gs("CREATE OR REPLACE TABLE wb_dml (k INT, v DOUBLE)")
    gs("INSERT INTO wb_dml VALUES (0, 0.0)")
    val pipelineSql = "SELECT * FROM TABLE(PIPELINE('q01_pricing_summary', '" +
      sfDir.replace("'", "''") + "'))"
    Seq(gs _, v2 _, inproc _).foreach { run =>
      run("SELECT 1"); run(pipelineSql)
      run("INSERT INTO wb_dml VALUES (-1, -1.0)")
      run("UPDATE wb_dml SET v = v + 1 WHERE k = -1")
      run("SELECT COUNT(*) AS c FROM wb_dml")
    }

    def timed(run: String => Unit, sqls: Seq[String], iters: Int): Seq[Double] =
      (1 to iters).flatMap { i =>
        sqls.map { sqlT =>
          val sql = sqlT.replace("$I", i.toString)
          val t0 = System.nanoTime()
          run(sql)
          (System.nanoTime() - t0) / 1e6
        }
      }

    val classes = Seq(
      ("select1", Seq("SELECT 1"),
        sys.env.getOrElse("WIRE_N_SELECT1", "200").toInt),
      ("pipeline", Seq(pipelineSql),
        sys.env.getOrElse("WIRE_N_PIPELINE", "30").toInt),
      ("dml", Seq("INSERT INTO wb_dml VALUES ($I, 1.0)",
        "UPDATE wb_dml SET v = v + 1 WHERE k = $I",
        "SELECT COUNT(*) AS c FROM wb_dml"),
        sys.env.getOrElse("WIRE_N_DML", "40").toInt))
    val wires = Seq[(String, String => Unit)](
      ("gosnowflake", gs), ("restv2", v2), ("inprocess", inproc))

    val cells = for ((wName, wRun) <- wires; (cName, sqls, iters) <- classes)
      yield (wName, cName, timed(wRun, sqls, iters))
    val byKey = cells.map { case (w, c, s) => (s"$w.$c", s) }.toMap
    def p50(k: String) = byKey(k).toArray.sorted.pipe(a => pct(a, 0.50))

    val cellJson = cells
      .map { case (w, c, s) => s""""$w.$c":${stats(s)}""" }.mkString(",")
    // per-statement wire tax = wire p50 - in-process p50, per class
    val overhead = classes.map { case (c, _, _) =>
      s""""$c":{"gosnowflakeMs":${math.round((p50(s"gosnowflake.$c") - p50(s"inprocess.$c")) * 100) / 100.0},""" +
        s""""restv2Ms":${math.round((p50(s"restv2.$c") - p50(s"inprocess.$c")) * 100) / 100.0}}"""
    }.mkString(",")
    val line =
      s"""{"metric":"wire_bench","unit":"ms","sf":"$sfDir","cpus":$cpus,""" +
        s""""cells":{$cellJson},"wireOverheadP50":{$overhead}}"""
    println(line)
    val outFile = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_wire.json"))
    Option(outFile.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(outFile,
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    server.stop()
    spark.stop()
    // the HttpServer handler pool is non-daemon; don't let it pin the JVM
    sys.exit(0)
  }

  private implicit class PipeOps[A](private val a: A) extends AnyVal {
    def pipe[B](f: A => B): B = f(a)
  }
}
