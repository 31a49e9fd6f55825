import com.sun.net.httpserver.HttpExchange;
import com.sun.net.httpserver.HttpServer;

import java.io.BufferedReader;
import java.io.ByteArrayOutputStream;
import java.io.InputStreamReader;
import java.io.OutputStream;
import java.io.PrintStream;
import java.lang.management.ManagementFactory;
import java.net.InetSocketAddress;
import java.nio.charset.StandardCharsets;
import java.util.ArrayList;
import java.util.List;
import java.util.Map;
import java.util.concurrent.ConcurrentHashMap;
import java.util.concurrent.Executors;
import java.util.concurrent.atomic.AtomicLong;

import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerJobEnd;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerStageCompleted;
import org.apache.spark.scheduler.StageInfo;
import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;

/**
 * The JVM side of the benchmark: it hosts the program in one process and
 * calls only its public entry points (graft.Main modes, QueryServer,
 * Sparql.query, JsonResults, Update). It reads one JSON command per line
 * on stdin and answers each with one line "@@ {json}" on stdout; anything
 * else on stdout is the program's own output.
 *
 * With tracing on it also serves /q and /u on a second port: the same
 * read and write paths as QueryServer's /query and /update, with a span
 * around each call into a layer, and a SparkListener that sums each
 * request's jobs, stages, tasks, busy time, shuffle, spill and rows read.
 */
public final class Host {
  private static SparkSession spark;
  private static HttpServer server;
  private static HttpServer traced;
  private static final PrintStream out = System.out;

  // ---- spans ---------------------------------------------------------------
  /** One span: name, start/end (ns), parent span id, request id. */
  static final class Span {
    final long id, parent, req; final String name; final long start; long end;
    Span(long id, long parent, long req, String name) {
      this.id = id; this.parent = parent; this.req = req; this.name = name; this.start = now();
    }
  }
  private static final AtomicLong spanIds = new AtomicLong();
  private static final AtomicLong reqIds = new AtomicLong();
  private static final List<Span> spans = java.util.Collections.synchronizedList(new ArrayList<>());

  static Span open(String name, long req, Span parent) {
    Span s = new Span(spanIds.incrementAndGet(), parent == null ? 0 : parent.id, req, name);
    spans.add(s);
    return s;
  }
  static void close(Span s) { s.end = now(); }

  /** Epoch nanoseconds, so spans line up with the listener's job times. */
  private static final long epochBase = System.currentTimeMillis() * 1_000_000L - System.nanoTime();
  static long now() { return epochBase + System.nanoTime(); }

  /** Each traced job: [request id, start ms, end ms]. */
  private static final List<long[]> jobs = java.util.Collections.synchronizedList(new ArrayList<>());
  private static final Map<Integer, Long> jobReq = new ConcurrentHashMap<>();

  // ---- Spark listener: per-request execution counts -----------------------
  /** Sums per job-group prefix ("q" reads, "u" updates, "m" maintenance). */
  static final class Acc {
    final AtomicLong jobs = new AtomicLong(), stages = new AtomicLong(), tasks = new AtomicLong(),
        busyMs = new AtomicLong(), shuffleBytes = new AtomicLong(), spillBytes = new AtomicLong(),
        rowsRead = new AtomicLong(), bytesWritten = new AtomicLong(), jobMs = new AtomicLong();
    String json() {
      return String.format("{\"jobs\":%d,\"stages\":%d,\"tasks\":%d,\"busy_ms\":%d,\"shuffle_bytes\":%d," +
          "\"spill_bytes\":%d,\"rows_read\":%d,\"bytes_written\":%d,\"job_ms\":%d}", jobs.get(), stages.get(), tasks.get(),
          busyMs.get(), shuffleBytes.get(), spillBytes.get(), rowsRead.get(), bytesWritten.get(), jobMs.get());
    }
  }
  private static final Map<String, Acc> accs = new ConcurrentHashMap<>();
  private static final Map<Integer, String> stageKind = new ConcurrentHashMap<>();
  private static final Map<Integer, Long> jobStart = new ConcurrentHashMap<>();
  private static final Map<Integer, String> jobKind = new ConcurrentHashMap<>();

  static String kindOf(String group) {
    if (group == null || !group.startsWith("bench-")) return null;
    return group.substring(6, 7);
  }

  static final class Listener extends SparkListener {
    @Override public void onJobStart(SparkListenerJobStart e) {
      String kind = kindOf(e.properties() == null ? null : e.properties().getProperty("spark.jobGroup.id"));
      if (kind == null) return;
      accs.computeIfAbsent(kind, k -> new Acc()).jobs.incrementAndGet();
      jobStart.put(e.jobId(), e.time());
      jobKind.put(e.jobId(), kind);
      String group = e.properties().getProperty("spark.jobGroup.id");
      int dash = group.lastIndexOf('-');
      jobReq.put(e.jobId(), dash > 6 ? Long.parseLong(group.substring(dash + 1)) : 0L);
      scala.jdk.javaapi.CollectionConverters.asJava(e.stageIds())
          .forEach(id -> stageKind.put((Integer) id, kind));
    }
    @Override public void onJobEnd(SparkListenerJobEnd e) {
      Long t0 = jobStart.remove(e.jobId());
      String kind = jobKind.remove(e.jobId());
      Long req = jobReq.remove(e.jobId());
      if (t0 == null || kind == null) return;
      accs.computeIfAbsent(kind, k -> new Acc()).jobMs.addAndGet(e.time() - t0);
      jobs.add(new long[] {req == null ? 0 : req, t0, e.time()});
    }
    @Override public void onStageCompleted(SparkListenerStageCompleted e) {
      StageInfo si = e.stageInfo();
      String kind = stageKind.get(si.stageId());
      if (kind == null) return;
      Acc a = accs.computeIfAbsent(kind, k -> new Acc());
      a.stages.incrementAndGet();
      a.tasks.addAndGet(si.numTasks());
      TaskMetrics m = si.taskMetrics();
      if (m == null) return;
      a.busyMs.addAndGet(m.executorRunTime());
      a.shuffleBytes.addAndGet(m.shuffleReadMetrics().totalBytesRead() + m.shuffleWriteMetrics().bytesWritten());
      a.spillBytes.addAndGet(m.memoryBytesSpilled() + m.diskBytesSpilled());
      a.rowsRead.addAndGet(m.inputMetrics().recordsRead());
      a.bytesWritten.addAndGet(m.outputMetrics().bytesWritten());
    }
  }

  // ---- helpers -------------------------------------------------------------
  static String str(Map<String, Object> cmd, String k) { return (String) cmd.get(k); }

  static String esc(String s) {
    StringBuilder b = new StringBuilder();
    for (char c : s.toCharArray()) {
      if (c == '"' || c == '\\') b.append('\\').append(c);
      else if (c < ' ') b.append(String.format("\\u%04x", (int) c));
      else b.append(c);
    }
    return b.toString();
  }

  static void reply(String json) {
    synchronized (out) { out.println("@@ " + json); out.flush(); }
  }

  static double secs(long t0) { return (System.nanoTime() - t0) / 1e9; }

  /** Run graft.Main in-process, returning its exit code and stdout. */
  static String runMain(List<String> args, String group) {
    ByteArrayOutputStream buf = new ByteArrayOutputStream();
    long t0 = System.nanoTime();
    int code;
    PrintStream saved = System.out;
    if (spark != null && group != null) spark.sparkContext().setJobGroup(group, group, false);
    synchronized (out) {
      System.setOut(new PrintStream(buf, true, StandardCharsets.UTF_8));
      try {
        code = graft.Main.run(args.toArray(new String[0]));
      } catch (Throwable t) {
        code = -1;
        System.err.println("graft.Main failed: " + t);
        t.printStackTrace();
      } finally {
        System.setOut(saved);
      }
    }
    if (spark != null) spark.sparkContext().clearJobGroup();
    return String.format("{\"code\":%d,\"secs\":%.6f,\"out\":\"%s\"}", code, secs(t0),
        esc(buf.toString(StandardCharsets.UTF_8)));
  }

  /** Heap in use after full collections, once Spark's ContextCleaner has
   *  released what the previous collection made unreachable: collect until
   *  two readings agree within 2% (at most five rounds). */
  static double heapAfterGc() throws InterruptedException {
    double mb = Double.MAX_VALUE;
    for (int i = 0; i < 5; i++) {
      System.gc();
      Thread.sleep(200);
      double now = ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 1048576.0;
      boolean settled = now > mb * 0.98;
      mb = Math.min(mb, now);
      if (settled) break;
    }
    return mb;
  }

  static void respond(HttpExchange ex, int code, String body) throws java.io.IOException {
    byte[] b = body.getBytes(StandardCharsets.UTF_8);
    ex.getResponseHeaders().add("Content-Type", "application/json");
    ex.sendResponseHeaders(code, b.length);
    try (OutputStream os = ex.getResponseBody()) { os.write(b); }
  }

  /** Traced read: the calls QueryServer makes, one span per layer. */
  static void tracedQuery(HttpExchange ex, String dir) throws java.io.IOException {
    String text = new String(ex.getRequestBody().readAllBytes(), StandardCharsets.UTF_8);
    long rid = reqIds.incrementAndGet();
    spark.sparkContext().setJobGroup("bench-q-" + rid, "traced query", true);
    Span root = open("request", rid, null);
    try {
      Span s = open("parse", rid, root);
      graft.sparql.Parser.parse(text);
      close(s);
      // Sparql.query parses again; translate self time = build - parse
      s = open("build", rid, root);
      Dataset<Row> df = graft.sparql.Sparql.query(spark, text, dir);
      close(s);
      s = open("optimize", rid, root);
      df.queryExecution().optimizedPlan();
      close(s);
      s = open("plan", rid, root);
      df.queryExecution().executedPlan();
      close(s);
      s = open("execute_render", rid, root);
      String json = graft.result.JsonResults.toJson(df, graft.result.JsonResults.toJson$default$2());
      close(s);
      close(root);
      respond(ex, 200, json);
    } catch (Throwable t) {
      close(root);
      respond(ex, 500, "error: " + t);
    } finally {
      spark.sparkContext().clearJobGroup();
      ex.close();
    }
  }

  static void tracedUpdate(HttpExchange ex, String dir) throws java.io.IOException {
    String text = new String(ex.getRequestBody().readAllBytes(), StandardCharsets.UTF_8);
    long rid = reqIds.incrementAndGet();
    spark.sparkContext().setJobGroup("bench-u-" + rid, "traced update", true);
    Span root = open("update_request", rid, null);
    try {
      Span s = open("update", rid, root);
      graft.sparql.Update.Result r;
      synchronized (Host.class) { r = graft.sparql.Update.execute(spark, text, dir); }
      close(s);
      close(root);
      respond(ex, 200, String.format("{\"inserted\": %d, \"deleted\": %d, \"undeleted\": %d}",
          r.inserted(), r.deleted(), r.undeleted()));
    } catch (Throwable t) {
      close(root);
      respond(ex, 500, "error: " + t);
    } finally {
      spark.sparkContext().clearJobGroup();
      ex.close();
    }
  }

  static String traceJson() {
    StringBuilder b = new StringBuilder("{\"spans\":[");
    synchronized (spans) {
      boolean first = true;
      for (Span s : spans) {
        if (!first) b.append(',');
        first = false;
        b.append(String.format("[%d,%d,%d,\"%s\",%d,%d]", s.id, s.parent, s.req, s.name, s.start, s.end));
      }
    }
    b.append("],\"jobs\":[");
    synchronized (jobs) {
      boolean firstJob = true;
      for (long[] j : jobs) {
        if (!firstJob) b.append(',');
        firstJob = false;
        b.append(String.format("[%d,%d,%d]", j[0], j[1], j[2]));
      }
    }
    b.append("],\"spark\":{");
    boolean first = true;
    for (Map.Entry<String, Acc> e : accs.entrySet()) {
      if (!first) b.append(',');
      first = false;
      b.append('"').append(e.getKey()).append("\":").append(e.getValue().json());
    }
    return b.append("}}").toString();
  }

  // ---- command loop ----------------------------------------------------------
  @SuppressWarnings("unchecked")
  public static void main(String[] argv) throws Exception {
    com.fasterxml.jackson.databind.ObjectMapper mapper = new com.fasterxml.jackson.databind.ObjectMapper();
    BufferedReader in = new BufferedReader(new InputStreamReader(System.in, StandardCharsets.UTF_8));
    String line;
    while ((line = in.readLine()) != null) {
      Map<String, Object> cmd = mapper.readValue(line, Map.class);
      String op = str(cmd, "op");
      long t0 = System.nanoTime();
      switch (op) {
        case "session": {
          spark = graft.GraftSession.get();
          spark.sparkContext().addSparkListener(new Listener());
          reply(String.format("{\"secs\":%.6f,\"parallelism\":%d}", secs(t0),
              spark.sparkContext().defaultParallelism()));
          break;
        }
        case "main":
          reply(runMain((List<String>) cmd.get("args"), str(cmd, "group")));
          break;
        case "serve": {
          String dir = str(cmd, "dir");
          server = graft.server.QueryServer.start(spark, dir, 0);
          int tracedPort = 0;
          if (Boolean.TRUE.equals(cmd.get("trace"))) {
            traced = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0);
            traced.createContext("/q", ex -> tracedQuery(ex, dir));
            traced.createContext("/u", ex -> tracedUpdate(ex, dir));
            traced.setExecutor(Executors.newCachedThreadPool());
            traced.start();
            tracedPort = traced.getAddress().getPort();
          }
          reply(String.format("{\"port\":%d,\"traced_port\":%d,\"secs\":%.6f}",
              server.getAddress().getPort(), tracedPort, secs(t0)));
          break;
        }
        case "gc":
          reply(String.format("{\"heap_mb\":%.3f}", heapAfterGc()));
          break;
        case "trace":
          // drain the listener bus, hand over everything traced so far, start afresh
          spark.sparkContext().listenerBus().waitUntilEmpty();
          reply(traceJson());
          spans.clear();
          jobs.clear();
          accs.clear();
          break;
        case "stop":
          if (traced != null) traced.stop(0);
          if (server != null) server.stop(0);
          if (spark != null) spark.stop();
          reply("{\"stopped\":true}");
          System.exit(0);
          break;
        default:
          reply("{\"error\":\"unknown op " + esc(op) + "\"}");
      }
    }
    if (spark != null) spark.stop();
  }
}
