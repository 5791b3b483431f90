package perfbench;

import java.io.ByteArrayOutputStream;
import java.io.IOException;
import java.lang.management.ManagementFactory;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Path;
import java.nio.file.Paths;
import java.nio.file.StandardCopyOption;
import java.time.Instant;
import java.util.ArrayList;
import java.util.HashMap;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;
import java.util.stream.Stream;

import com.fasterxml.jackson.databind.ObjectMapper;
import org.apache.spark.metrics.source.CodegenMetrics;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.catalyst.QueryPlanningTracker;
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$;
import org.apache.spark.sql.execution.QueryExecution;
import org.apache.spark.sql.streaming.StateOperatorProgress;
import org.apache.spark.sql.streaming.StreamingQueryListener;
import org.apache.spark.sql.util.QueryExecutionListener;

import graft.RunPipeline;
import graft.SparkEntry;
import graft.TranscriptPipeline;
import graft.enrich.Enrich;
import graft.model.TranscriptGen;
import graft.model.Turn;
import graft.pipeline.Pipeline;
import graft.route.Router;

/**
 * The JVM side of the benchmark. It calls the program's public entry
 * points in a closed loop, one job at a time, and writes what it measured
 * to a JSON file that {@code perfbench/run.py} turns into metrics and
 * checks against DuckDB.
 *
 * <p>Usage: {@code Harness <mode> key=value...}, where mode is {@code gen},
 * {@code flagship_route}, {@code production_commit} or {@code query_mix}.
 * The measuring modes take {@code work}, {@code result}, {@code seconds},
 * {@code warmup}, {@code min_jobs}, {@code cores}, {@code trace},
 * {@code t0} (the epoch second at which the JVM was launched) and
 * {@code steal0} (the machine's steal seconds then), plus
 * {@code input} (and {@code buckets}) or {@code data} and {@code queries}.
 */
public final class Harness {

  private static final ObjectMapper JSON = new ObjectMapper();

  private static final com.sun.management.OperatingSystemMXBean OS =
      (com.sun.management.OperatingSystemMXBean) ManagementFactory.getOperatingSystemMXBean();

  private final Map<String, String> opt;
  private final boolean trace;
  private final String work;
  private final Map<String, Object> result = new LinkedHashMap<>();
  private final List<Map<String, Object>> spans = new ArrayList<>();

  private Harness(Map<String, String> opt) {
    this.opt = opt;
    this.trace = "1".equals(opt.getOrDefault("trace", "0"));
    this.work = opt.get("work");
  }

  public static void main(String[] args) throws Exception {
    double mainStart = epochS();
    Map<String, String> opt = new HashMap<>();
    for (int i = 1; i < args.length; i++) {
      int eq = args[i].indexOf('=');
      opt.put(args[i].substring(0, eq), args[i].substring(eq + 1));
    }
    Harness h = new Harness(opt);
    h.result.put("main_start", mainStart);
    switch (args[0]) {
      case "gen": h.gen(); break;
      case "flagship_route": h.flagship(); break;
      case "production_commit": h.commit(); break;
      case "query_mix": h.queries(); break;
      default: throw new IllegalArgumentException("unknown mode " + args[0]);
    }
    if (opt.containsKey("result")) {
      h.result.put("spans", h.spans);
      Path tmp = Paths.get(opt.get("result") + ".tmp");
      JSON.writeValue(tmp.toFile(), h.result);
      Files.move(tmp, Paths.get(opt.get("result")), StandardCopyOption.ATOMIC_MOVE);
    }
    // Spark leaves non-daemon threads behind after stop()
    System.exit(0);
  }

  // ------------------------------------------------------------------ clocks

  static double epochS() {
    Instant i = Instant.now();
    return i.getEpochSecond() + i.getNano() / 1e9;
  }

  static double cpuS() {
    return OS.getProcessCpuTime() / 1e9;
  }

  /** Machine-wide steal seconds so far, summed over CPUs (USER_HZ = 100). */
  static double stealS() {
    try {
      String cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0);
      String[] f = cpu.trim().split("\\s+");
      return f.length > 8 ? Long.parseLong(f[8]) / 100.0 : 0.0;
    } catch (IOException | RuntimeException e) {
      return 0.0;
    }
  }

  /** Wall, process CPU and machine steal over one region. */
  final class Region {
    final double t0 = epochS();
    final double c0 = cpuS();
    final double s0 = stealS();

    Map<String, Object> close() {
      Map<String, Object> j = new LinkedHashMap<>();
      double t1 = epochS();
      j.put("start", t0);
      j.put("wall_s", t1 - t0);
      j.put("cpu_s", cpuS() - c0);
      j.put("steal_s", stealS() - s0);
      return j;
    }
  }

  static double num(Map<String, Object> m, String k) {
    return ((Number) m.get(k)).doubleValue();
  }

  void span(String name, double start, double end, String parent, int job) {
    Map<String, Object> s = new LinkedHashMap<>();
    s.put("name", name);
    s.put("start", start);
    s.put("end", end);
    s.put("parent", parent);
    s.put("job", job);
    spans.add(s);
  }

  // --------------------------------------------------------------- sessions

  int cores() {
    return Integer.parseInt(opt.get("cores"));
  }

  /** The session settings of {@code RunPipeline}, so that the flagship
   *  job and the production batch run under one configuration. */
  SparkSession session() {
    SparkSession s = SparkSession.builder()
        .appName("perfbench")
        .master("local[" + cores() + "]")
        .config("spark.sql.shuffle.partitions", cores())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .getOrCreate();
    s.sparkContext().setLogLevel("WARN");
    result.put("session_ready", epochS());
    return s;
  }

  static void waitListeners(SparkSession spark) {
    try {
      spark.sparkContext().listenerBus().waitUntilEmpty();
    } catch (java.util.concurrent.TimeoutException e) {
      throw new IllegalStateException(e);
    }
  }

  static <T> scala.collection.immutable.Seq<T> seq(List<T> xs) {
    return scala.jdk.javaapi.CollectionConverters.asScala(xs).toSeq();
  }

  // -------------------------------------------------------- planning phases

  /** Sums the QueryPlanningTracker phases of every query that finishes. */
  static final class Phases implements QueryExecutionListener {
    final Map<String, Double> sum = new LinkedHashMap<>();

    synchronized void reset() {
      sum.clear();
      for (String p : new String[] {"analysis", "optimization", "planning"}) sum.put(p, 0.0);
    }

    synchronized Map<String, Double> snapshot() {
      return new LinkedHashMap<>(sum);
    }

    @Override
    public synchronized void onSuccess(String f, QueryExecution qe, long ns) {
      scala.collection.Iterator<scala.Tuple2<String, QueryPlanningTracker.PhaseSummary>> it =
          qe.tracker().phases().iterator();
      while (it.hasNext()) {
        scala.Tuple2<String, QueryPlanningTracker.PhaseSummary> p = it.next();
        sum.merge(p._1(), p._2().durationMs() / 1000.0, Double::sum);
      }
    }

    @Override
    public void onFailure(String f, QueryExecution qe, Exception e) {}
  }

  /** Watermark drops and state rows reported by streaming progress. */
  static final class Streams extends StreamingQueryListener {
    long dropped;
    final Map<java.util.UUID, Long> stateRows = new HashMap<>();

    synchronized void reset() {
      dropped = 0;
      stateRows.clear();
    }

    synchronized long stateRowsTotal() {
      long n = 0;
      for (long v : stateRows.values()) n += v;
      return n;
    }

    @Override public void onQueryStarted(QueryStartedEvent e) {}
    @Override public void onQueryTerminated(QueryTerminatedEvent e) {}

    @Override
    public synchronized void onQueryProgress(QueryProgressEvent e) {
      long rows = 0;
      for (StateOperatorProgress op : e.progress().stateOperators()) {
        dropped += op.numRowsDroppedByWatermark();
        rows += op.numRowsTotal();
      }
      // the last trigger of a query holds its final state size
      stateRows.put(e.progress().id(), rows);
    }
  }

  static long compiles() {
    return CodegenMetrics.METRIC_COMPILATION_TIME().getCount();
  }

  static double compileS() {
    return CodeGenerator$.MODULE$.compileTime() / 1e9;
  }

  void putCodegen(Map<String, Object> j, long n0, double s0) {
    j.put("compiles", compiles() - n0);
    j.put("compile_s", compileS() - s0);
  }

  static void putTotals(Map<String, Object> j, Probe.Totals a, Probe.Totals b) {
    j.put("tasks", b.tasks - a.tasks);
    j.put("gc_s", (b.gcMs - a.gcMs) / 1000.0);
    j.put("executor_cpu_s", (b.executorCpuNs - a.executorCpuNs) / 1e9);
    j.put("input_records", b.inputRecords - a.inputRecords);
    j.put("shuffle_write_mb", (b.shuffleWriteBytes - a.shuffleWriteBytes) / 1e6);
    j.put("records_written", b.outputRecords - a.outputRecords);
  }

  static long countParquetFiles(String dir) throws IOException {
    try (Stream<Path> s = Files.walk(Paths.get(dir))) {
      return s.filter(p -> p.getFileName().toString().endsWith(".parquet")).count();
    }
  }

  /** One job of a workload; {@code phase} is "warm" or "out". */
  interface Job {
    Map<String, Object> run(String phase, int k) throws Exception;
  }

  void loop(Job job) {
    loop(result, Integer.parseInt(opt.get("warmup")), Integer.parseInt(opt.get("min_jobs")),
        Double.parseDouble(opt.get("seconds")), job);
  }

  /** Runs one job; a job that throws is kept with its wall time and an
   *  {@code error}, which run.py counts as a failed operation. */
  Map<String, Object> attempt(Job job, String phase, int k) {
    Region r = new Region();
    try {
      return job.run(phase, k);
    } catch (Throwable t) {
      Map<String, Object> j = r.close();
      j.put("error", String.valueOf(t));
      return j;
    }
  }

  /** Runs timed jobs until both the seconds and the minimum job count are
   *  reached; the last job may end after the seconds. */
  void loop(Map<String, Object> into, int warmup, int minJobs, double seconds, Job job) {
    long n0 = compiles();
    double c0 = compileS();
    List<Map<String, Object>> warm = new ArrayList<>();
    for (int k = 0; k < warmup; k++) warm.add(attempt(job, "warm", k));
    Map<String, Object> setup = new LinkedHashMap<>();
    putCodegen(setup, n0, c0);
    double first = epochS();
    setup.put("setup_s", first - Double.parseDouble(opt.get("t0")));
    setup.put("steal_s", stealS() - Double.parseDouble(opt.get("steal0")));
    into.put("setup", setup);
    into.put("warmup", warm);
    List<Map<String, Object>> jobs = new ArrayList<>();
    Region r = new Region();
    n0 = compiles();
    c0 = compileS();
    for (int k = 0; k < minJobs || epochS() - first < seconds; k++) {
      jobs.add(attempt(job, "out", k));
    }
    Map<String, Object> timed = r.close();
    putCodegen(timed, n0, c0);
    into.put("timed", timed);
    into.put("jobs", jobs);
  }

  String dir(String phase, String kind, int k) {
    return work + "/" + phase + "/" + kind + "_" + k;
  }

  /** Span job ids: timed jobs count from 0, warm-up jobs from -1000. */
  static int jobId(String phase, int k) {
    return "warm".equals(phase) ? k - 1000 : k;
  }

  // ------------------------------------------------------------------- gen

  /** Writes the TranscriptGen rows of one seed as JSON lines, one file per
   *  slice of conversations as {@code spark.range} would slice them, with
   *  {@code ts} in epoch microseconds. The caller converts them to parquet;
   *  no SparkSession is started, so generation stays cheap. */
  void gen() throws IOException {
    long seed = Long.parseLong(opt.get("seed"));
    long convs = Long.parseLong(opt.get("convs"));
    int files = Integer.parseInt(opt.get("files"));
    Files.createDirectories(Paths.get(opt.get("out")));
    for (int f = 0; f < files; f++) {
      Path path = Paths.get(opt.get("out"), String.format("part-%05d.jsonl", f));
      try (java.io.BufferedWriter w = Files.newBufferedWriter(path)) {
        for (long c = f * convs / files; c < (f + 1) * convs / files; c++) {
          scala.collection.Iterator<Turn> it =
              TranscriptGen.storageOrderTurnsFor(seed, c).iterator();
          while (it.hasNext()) {
            Turn t = it.next();
            Map<String, Object> j = new LinkedHashMap<>();
            j.put("conv_id", t.conv_id());
            j.put("turn_idx", t.turn_idx());
            j.put("role", t.role());
            j.put("text", t.text());
            j.put("tool", t.tool());
            j.put("ts", t.ts().getTime() * 1000L);
            w.write(JSON.writeValueAsString(j));
            w.newLine();
          }
        }
      }
    }
  }

  // --------------------------------------------------------- flagship_route

  void flagship() throws Exception {
    SparkSession spark = session();
    String input = opt.get("input");
    Phases phases = new Phases();
    if (trace) spark.listenerManager().register(phases);
    int lastWarm = Integer.parseInt(opt.get("warmup")) - 1;
    loop((phase, k) -> {
      String out = dir(phase, "job", k);
      int jobId = jobId(phase, k);
      Map<String, Object> prefixes = new LinkedHashMap<>();
      // the prefixes double a job's work, so of the warm-up jobs only the
      // last runs them, which compiles their code before the timed jobs
      if (trace && ("out".equals(phase) || k == lastWarm)) {
        // successive prefixes of the flagship plan, each sent to the noop sink
        Dataset<Row> read = spark.read().parquet(input);
        Dataset<Row> parsed = Pipeline.apply(read, TranscriptPipeline.stages());
        Dataset<Row> enriched = Enrich.withLookup(
            Enrich.withLookup(parsed, Enrich.roleLookup(spark), seq(List.of("role"))),
            Enrich.toolLookup(spark), seq(List.of("tool")));
        Dataset<Row> assigned =
            Router.assign(enriched, TranscriptPipeline.sinks(), TranscriptPipeline.DefaultSink());
        String[] names = {"scan", "pipeline", "enrich", "assign"};
        List<Dataset<Row>> plans = List.of(read, parsed, enriched, assigned);
        for (int i = 0; i < names.length; i++) {
          double t = epochS();
          plans.get(i).write().format("noop").mode("overwrite").save();
          double e = epochS();
          prefixes.put(names[i], e - t);
          span("prefix." + names[i], t, e, "job", jobId);
        }
        waitListeners(spark);
      }
      Probe.Totals before = trace ? Probe.totals() : null;
      long n0 = compiles();
      double c0 = compileS();
      phases.reset();
      Region r = new Region();
      Dataset<Row> turns = spark.read().parquet(input);
      Router.write(TranscriptPipeline.run(spark, turns), out);
      Map<String, Object> j = r.close();
      j.put("out", out);
      if (trace) {
        double end = num(j, "start") + num(j, "wall_s");
        span("route.write", num(j, "start"), end, "job", jobId);
        waitListeners(spark);
        putCodegen(j, n0, c0);
        putTotals(j, before, Probe.totals());
        j.put("output_files", countParquetFiles(out));
        j.put("phases", phases.snapshot());
        j.put("prefixes", prefixes);
      }
      return j;
    });
    if (trace && opt.containsKey("queries")) querySetAfterJobs(spark);
    spark.stop();
  }

  // ------------------------------------------------------ production_commit

  void commit() throws Exception {
    String input = opt.get("input");
    String buckets = opt.getOrDefault("buckets", "64");
    loop((phase, k) -> {
      String root = dir(phase, "batch", k);
      String[] args = {input, root, "batch-" + k, buckets};
      ByteArrayOutputStream captured = new ByteArrayOutputStream();
      int jobs0 = Probe.jobCount();
      Probe.Totals before = trace ? Probe.totals() : null;
      Region r = new Region();
      scala.Console$.MODULE$.withOut(captured, new scala.runtime.AbstractFunction0<Object>() {
        @Override
        public Object apply() {
          RunPipeline.main(args);
          return null;
        }
      });
      Map<String, Object> j = r.close();
      j.put("out", root);
      String stdout = captured.toString(StandardCharsets.UTF_8);
      for (String line : stdout.split("\n")) {
        if (line.startsWith("COMMIT ")) j.put("commit", JSON.readTree(line.substring(7)));
      }
      if (trace) {
        j.put("app_start", Probe.lastAppStartMs() / 1000.0);
        putTotals(j, before, Probe.totals());
        List<Map<String, Object>> sparkJobs = new ArrayList<>();
        for (Probe.Job pj : Probe.jobsSince(jobs0)) {
          Map<String, Object> s = new LinkedHashMap<>();
          s.put("start", pj.startMs / 1000.0);
          s.put("end", pj.endMs / 1000.0);
          s.put("site", pj.callSite);
          s.put("write", pj.write ? 1 : 0);
          sparkJobs.add(s);
          span("spark." + pj.callSite, pj.startMs / 1000.0, pj.endMs / 1000.0, "batch",
              jobId(phase, k));
        }
        j.put("spark_jobs", sparkJobs);
        j.put("files_written", countParquetFiles(root + "/data"));
      }
      return j;
    });
  }

  // -------------------------------------------------------------- query_mix

  void queries() throws Exception {
    SparkSession spark = session();
    querySet(spark, result, true);
    spark.stop();
  }

  /** The query set of query_mix, run once after the jobs of a traced
   *  flagship_route run, in the same session. It is the set's first pass,
   *  so each query's codegen compile time is recorded apart. */
  void querySetAfterJobs(SparkSession spark) throws Exception {
    Map<String, Object> into = new LinkedHashMap<>();
    querySet(spark, into, false);
    result.put("query_set", into);
  }

  private Phases phases;
  private Streams streams;

  void querySet(SparkSession spark, Map<String, Object> into, boolean ownLoop) throws Exception {
    Map<String, String> oracle = new LinkedHashMap<>();
    for (String q : opt.get("queries").split(",")) {
      oracle.put(q, SparkEntry.oracleSql().apply(q));
    }
    into.put("oracle_sql", oracle);
    phases = new Phases();
    streams = new Streams();
    if (trace) {
      spark.listenerManager().register(phases);
      spark.streams().addListener(streams);
    }
    Job pass = (phase, k) -> pass(spark, phase, k);
    if (ownLoop) loop(pass);
    else loop(into, 0, 1, 0.0, pass);
  }

  /** One pass over the query set; each result is written as parquet. */
  Map<String, Object> pass(SparkSession spark, String phase, int k) throws Exception {
    String data = opt.get("data");
    scala.collection.immutable.Map<String,
        scala.Function2<SparkSession, String, Dataset<Row>>> all = SparkEntry.queries();
    String passDir = dir(phase, "pass", k);
    int jobId = jobId(phase, k);
    if (trace) streams.reset();
    long n0 = compiles();
    double c0 = compileS();
    List<Map<String, Object>> qs = new ArrayList<>();
    Region pass = new Region();
    for (String q : opt.get("queries").split(",")) {
      String out = passDir + "/" + q;
      if (trace) {
        waitListeners(spark);
        phases.reset();
      }
      double qc0 = compileS();
      Region r = new Region();
      String error = null;
      try {
        all.apply(q).apply(spark, data).write().mode("overwrite").parquet(out);
      } catch (Throwable t) {
        error = String.valueOf(t);
      }
      Map<String, Object> j = r.close();
      j.put("name", q);
      j.put("out", out);
      if (error != null) j.put("error", error);
      if (trace) {
        span("query." + q, num(j, "start"), num(j, "start") + num(j, "wall_s"),
            "pass", jobId);
        waitListeners(spark);
        j.put("phases", phases.snapshot());
        j.put("compile_s", compileS() - qc0);
      }
      qs.add(j);
    }
    Map<String, Object> p = pass.close();
    p.put("out", passDir);
    p.put("queries", qs);
    if (trace) {
      waitListeners(spark);
      putCodegen(p, n0, c0);
      p.put("rows_dropped_by_watermark", streams.dropped);
      p.put("state_rows", streams.stateRowsTotal());
    }
    return p;
  }
}
