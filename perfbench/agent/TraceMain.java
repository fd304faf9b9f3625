package perfbench;

import com.fasterxml.jackson.databind.JsonNode;
import com.fasterxml.jackson.databind.ObjectMapper;
import com.fasterxml.jackson.databind.node.ArrayNode;
import com.fasterxml.jackson.databind.node.ObjectNode;
import com.sun.net.httpserver.HttpExchange;
import com.sun.net.httpserver.HttpServer;
import java.io.IOException;
import java.lang.management.GarbageCollectorMXBean;
import java.lang.management.ManagementFactory;
import java.lang.management.MemoryPoolMXBean;
import java.net.InetSocketAddress;
import java.util.Arrays;
import java.util.concurrent.ConcurrentLinkedQueue;
import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerJobEnd;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerTaskEnd;
import org.apache.spark.scheduler.TaskInfo;
import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.execution.QueryExecution;
import org.apache.spark.sql.util.QueryExecutionListener;

/**
 * The traced run's server: the same construction as graft.server.ServerMain
 * (GraftSession.local + EmulatorServer.apply on GRAFT_PORT), plus
 *
 *  - a SparkListener and a QueryExecutionListener that keep job, task and
 *    query-compile events in memory;
 *  - a side HTTP endpoint on PERFBENCH_TRACE_PORT that hands those events
 *    out, reads the emulator's state through its public members, snapshots
 *    the JVM's GC/heap/code-cache beans, and times the emulator's
 *    rewrite-path functions on statements the client posts.
 *
 * Nothing here changes how a statement is served.
 */
public final class TraceMain {
  private static final ObjectMapper M = new ObjectMapper();
  private static final ConcurrentLinkedQueue<ObjectNode> EVENTS = new ConcurrentLinkedQueue<>();

  static final class Listener extends SparkListener {
    @Override public void onJobStart(SparkListenerJobStart e) {
      ObjectNode o = M.createObjectNode();
      o.put("ev", "job_start"); o.put("job", e.jobId()); o.put("t", e.time());
      o.put("group", e.properties() == null ? null
          : e.properties().getProperty("spark.jobGroup.id"));
      EVENTS.add(o);
    }

    @Override public void onJobEnd(SparkListenerJobEnd e) {
      ObjectNode o = M.createObjectNode();
      o.put("ev", "job_end"); o.put("job", e.jobId()); o.put("t", e.time());
      EVENTS.add(o);
    }

    @Override public void onTaskEnd(SparkListenerTaskEnd e) {
      TaskInfo ti = e.taskInfo();
      TaskMetrics tm = e.taskMetrics();
      ObjectNode o = M.createObjectNode();
      o.put("ev", "task"); o.put("stage", e.stageId());
      o.put("launch", ti.launchTime()); o.put("finish", ti.finishTime());
      if (tm != null) {
        o.put("run_ms", tm.executorRunTime());
        o.put("cpu_ns", tm.executorCpuTime());
        o.put("in_bytes", tm.inputMetrics().bytesRead());
        o.put("shuffle_w", tm.shuffleWriteMetrics().bytesWritten());
        o.put("spill", tm.memoryBytesSpilled() + tm.diskBytesSpilled());
      }
      EVENTS.add(o);
    }
  }

  static final class QeListener implements QueryExecutionListener {
    private void record(QueryExecution qe, long durationNs, boolean ok) {
      ObjectNode o = M.createObjectNode();
      o.put("ev", "qe"); o.put("t", System.currentTimeMillis());
      o.put("dur_ns", durationNs); o.put("ok", ok);
      long compile = 0;
      scala.collection.Iterator<org.apache.spark.sql.catalyst.QueryPlanningTracker.PhaseSummary> it =
          qe.tracker().phases().valuesIterator();
      while (it.hasNext()) compile += it.next().durationMs();
      o.put("compile_ms", compile);
      EVENTS.add(o);
    }

    @Override public void onSuccess(String funcName, QueryExecution qe, long durationNs) {
      record(qe, durationNs, true);
    }

    @Override public void onFailure(String funcName, QueryExecution qe, Exception exception) {
      record(qe, 0L, false);
    }
  }

  public static void main(String[] args) throws Exception {
    int port = Integer.parseInt(env("GRAFT_PORT", "8085"));
    int cpus = Integer.parseInt(env("SPARK_GRAFT_CPUS",
        Integer.toString(Runtime.getRuntime().availableProcessors())));
    SparkSession spark = graft.GraftSession.local(cpus);
    spark.sparkContext().addSparkListener(new Listener());
    spark.listenerManager().register(new QeListener());
    graft.server.EmulatorServer server = graft.server.EmulatorServer$.MODULE$.apply(
        spark, port, graft.server.EmulatorServer$.MODULE$.apply$default$3());
    server.start();

    HttpServer side = HttpServer.create(
        new InetSocketAddress("127.0.0.1", Integer.parseInt(env("PERFBENCH_TRACE_PORT", "0"))), 0);
    side.createContext("/events", x -> {
      ArrayNode a = M.createArrayNode();
      for (ObjectNode o : EVENTS) a.add(o);
      reply(x, a);
    });
    side.createContext("/jvm", x -> reply(x, jvm()));
    side.createContext("/emulator", x -> reply(x, emulator(server)));
    side.createContext("/microbench", x -> reply(x, microbench(M.readTree(x.getRequestBody()))));
    side.start();
    System.out.println("graft emulator listening on 127.0.0.1:" + server.actualPort());
    Thread.currentThread().join();
  }

  private static String env(String k, String d) {
    String v = System.getenv(k);
    return v == null ? d : v;
  }

  private static void reply(HttpExchange x, JsonNode body) throws IOException {
    byte[] b = M.writeValueAsBytes(body);
    x.getResponseHeaders().set("Content-Type", "application/json");
    x.sendResponseHeaders(200, b.length);
    x.getResponseBody().write(b);
    x.close();
  }

  private static ObjectNode jvm() {
    ObjectNode o = M.createObjectNode();
    long gcCount = 0, gcMs = 0;
    for (GarbageCollectorMXBean gc : ManagementFactory.getGarbageCollectorMXBeans()) {
      gcCount += Math.max(0, gc.getCollectionCount());
      gcMs += Math.max(0, gc.getCollectionTime());
    }
    o.put("gc_count", gcCount);
    o.put("gc_ms", gcMs);
    o.put("heap_used", ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed());
    long code = 0;
    for (MemoryPoolMXBean p : ManagementFactory.getMemoryPoolMXBeans()) {
      if (p.getName().startsWith("CodeHeap") || p.getName().equals("Code Cache")) {
        code += p.getUsage().getUsed();
      }
    }
    o.put("code_cache", code);
    return o;
  }

  private static ObjectNode emulator(graft.server.EmulatorServer server) {
    ObjectNode o = M.createObjectNode();
    int historySize = server.executor().history().recent(Integer.MAX_VALUE).size();
    o.put("live_sessions", server.sessions().activeCount());
    o.put("statements_retained", server.statements().count());
    o.put("history_size", historySize);
    ArrayNode hist = o.putArray("history");
    scala.collection.Iterator<graft.emulator.QueryHistory.Record> it =
        server.executor().history().recent(Integer.MAX_VALUE).iterator();
    while (it.hasNext()) {
      graft.emulator.QueryHistory.Record r = it.next();
      hist.addArray().add(r.queryId()).add(r.elapsedMs());
    }
    // QueryHistory.start + success on a history holding as many records as
    // the server's does
    graft.emulator.QueryHistory h =
        new graft.emulator.QueryHistory(10000, scala.Option.empty());
    for (int i = 0; i < historySize; i++) {
      h.success("f" + i, "SELECT 1", 1L, h.start("f" + i, "SELECT 1", ""));
    }
    int n = 200;
    long[] ns = new long[n];
    for (int i = 0; i < n; i++) {
      String id = "m" + i;
      long t0 = System.nanoTime();
      h.success(id, "SELECT 1", 1L, h.start(id, "SELECT 1", ""));
      ns[i] = System.nanoTime() - t0;
    }
    o.put("history_success_us", median(ns) / 1000.0);
    return o;
  }

  /** Body: [{"sql": ..., "bindings": [[type, value], ...]}, ...]. Each
   * function is called on every statement, `reps` times; the reply holds
   * the median per-call time in microseconds over all calls. */
  private static ObjectNode microbench(JsonNode body) {
    int reps = 50;
    int n = body.size();
    long[] bind = new long[n * reps], cls = new long[n * reps], rw = new long[n * reps];
    long sink = 0;
    int k = 0;
    for (int r = 0; r < reps; r++) {
      for (JsonNode st : body) {
        String sql = st.get("sql").asText();
        scala.collection.immutable.Map<String, graft.emulator.Bindings.Binding> b =
            scala.collection.immutable.Map$.MODULE$.empty();
        JsonNode bs = st.get("bindings");
        if (bs != null) {
          for (int i = 0; i < bs.size(); i++) {
            b = b.updated(Integer.toString(i + 1), new graft.emulator.Bindings.Binding(
                bs.get(i).get(0).asText(), bs.get(i).get(1).asText()));
          }
        }
        long t0 = System.nanoTime();
        String bound = graft.emulator.Bindings.apply(sql, b);
        long t1 = System.nanoTime();
        Object c = graft.emulator.Classifier.classify(bound);
        long t2 = System.nanoTime();
        String out = graft.emulator.TableNaming.rewrite(bound, "BENCH", "PUBLIC");
        long t3 = System.nanoTime();
        sink += bound.length() + out.length() + c.hashCode();
        bind[k] = t1 - t0; cls[k] = t2 - t1; rw[k] = t3 - t2;
        k++;
      }
    }
    ObjectNode o = M.createObjectNode();
    o.put("bind_us", median(bind) / 1000.0);
    o.put("classify_us", median(cls) / 1000.0);
    o.put("rewrite_us", median(rw) / 1000.0);
    long[] defs = new long[20];
    for (int i = 0; i < defs.length; i++) {
      long t0 = System.nanoTime();
      sink += graft.queries.Pipeline.defs().size();
      defs[i] = System.nanoTime() - t0;
    }
    o.put("defs_lookup_us", median(defs) / 1000.0);
    o.put("sink", sink);
    return o;
  }

  private static double median(long[] xs) {
    if (xs.length == 0) return 0.0;
    long[] s = xs.clone();
    Arrays.sort(s);
    return s.length % 2 == 1 ? s[s.length / 2] : (s[s.length / 2 - 1] + s[s.length / 2]) / 2.0;
  }
}
