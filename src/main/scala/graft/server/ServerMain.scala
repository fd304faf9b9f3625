package graft.server

/** Standalone emulator entry point: starts the HTTP server on
  * GRAFT_PORT (default 8085) against a local Spark session, the
  * counterpart of the reference's `cmd/server/main.go`.
  *
  * `SPARK_GRAFT_MASTER` (e.g. `local-cluster[2,8,8192]`, with
  * `SPARK_GRAFT_JARS` pointing at the packaged jar) serves the wire
  * protocols from a MULTI-JVM session — the rig `tools/wire_chaos_gate.sh`
  * uses to kill an executor mid-statement. */
object ServerMain {
  def main(args: Array[String]): Unit = {
    val port = sys.env.getOrElse("GRAFT_PORT", "8085").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark =
      if (sys.env.contains("SPARK_GRAFT_MASTER")) {
        val s = graft.GraftSession.forMain(cpus).appName("graft-server").getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        s
      } else graft.GraftSession.local(cpus)
    val server = EmulatorServer(spark, port)
    server.start()
    sys.addShutdownHook(server.stop())
    println(s"graft emulator listening on 127.0.0.1:${server.actualPort}")
    Thread.currentThread().join()
  }
}
