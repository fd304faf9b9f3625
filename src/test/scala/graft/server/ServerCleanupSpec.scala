package graft.server

import com.fasterxml.jackson.databind.ObjectMapper
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** A stopped server leaves nothing in its tmpdir: `ServerMain` runs in a
  * JVM of its own, with its own `java.io.tmpdir`, takes a stage, a PUT, a
  * table and writes to it, and is then stopped with SIGTERM, as a service
  * manager stops it. Its shutdown hooks must remove the stage root, the
  * snapshot root and the warehouse the session made. */
class ServerCleanupSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  test("a SIGTERM-stopped ServerMain leaves no graft_* directory in its tmpdir") {
    val root = Files.createTempDirectory("server_cleanup")
    val tmp = Files.createDirectories(root.resolve("tmp"))
    val log = root.resolve("server.log")
    val csv = Files.writeString(root.resolve("f.csv"), "1,a\n2,b\n")
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++
      graft.GraftSession.jdk17AddOpens ++ Seq(
        "-Xmx1g", s"-Djava.io.tmpdir=$tmp",
        s"-Dspark.local.dir=${root.resolve("local")}",
        "-cp", sys.props("java.class.path"), "graft.server.ServerMain")
    val pb = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      .redirectOutput(log.toFile)
    pb.environment().put("GRAFT_PORT", "0")
    pb.environment().put("SPARK_GRAFT_CPUS", "1")
    pb.environment().remove("SPARK_GRAFT_MASTER")
    val proc = pb.start()
    def graftDirs: Seq[String] = {
      val s = Files.list(tmp)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_")).toSeq.sorted
      finally s.close()
    }
    try {
      val port = awaitPort(log, proc)
      val base = s"http://127.0.0.1:$port"
      def post(path: String, body: String, token: Option[String] = None) = {
        val b = HttpRequest.newBuilder(URI.create(base + path))
          .POST(HttpRequest.BodyPublishers.ofString(body))
          .header("Content-Type", "application/json")
        token.foreach(t => b.header("Authorization", s"""Snowflake Token="$t""""))
        mapper.readTree(client.send(b.build(), HttpResponse.BodyHandlers.ofString()).body())
      }
      val token = post("/session/v1/login-request?databaseName=TEST_DB&schemaName=PUBLIC",
        """{"data":{"LOGIN_NAME":"tester"}}""").get("data").get("token").asText()
      Seq("CREATE STAGE s1", s"PUT file://$csv @s1",
        "CREATE TABLE t (id INTEGER, v VARCHAR(5))", "INSERT INTO t VALUES (1, 'a')")
        .foreach { sql =>
          val r = post("/queries/v1/query-request", s"""{"sqlText":"$sql"}""", Some(token))
          assert(r.get("success").asBoolean(), s"$sql: $r")
        }
      val live = graftDirs
      Seq("graft_stages", "graft_snapshots", "graft_warehouse").foreach(p =>
        assert(live.exists(_.startsWith(p)), s"no $p* directory while serving: $live"))
      proc.destroy() // SIGTERM
      assert(proc.waitFor(60, TimeUnit.SECONDS), "server did not exit on SIGTERM")
      assert(graftDirs.isEmpty, s"left behind: $graftDirs")
    } finally {
      proc.destroyForcibly()
      proc.waitFor(30, TimeUnit.SECONDS)
      graft.emulator.Catalog.deleteRecursively(root)
    }
  }

  /** The port ServerMain prints once it listens. */
  private def awaitPort(log: Path, proc: Process): Int = {
    val listening = """listening on 127\.0\.0\.1:(\d+)""".r
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(120)
    while (System.nanoTime() < deadline) {
      listening.findFirstMatchIn(Files.readString(log)).foreach(m => return m.group(1).toInt)
      assert(proc.isAlive, s"server exited: ${Files.readString(log)}")
      Thread.sleep(200)
    }
    fail(s"server not listening after 120 s: ${Files.readString(log)}")
  }
}
