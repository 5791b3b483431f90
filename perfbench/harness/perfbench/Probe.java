package perfbench;

import java.util.ArrayList;
import java.util.List;

import org.apache.spark.SparkConf;
import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerApplicationStart;
import org.apache.spark.scheduler.SparkListenerEvent;
import org.apache.spark.scheduler.SparkListenerJobEnd;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerTaskEnd;
import org.apache.spark.scheduler.StageInfo;
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart;

/**
 * Listener attached to every SparkContext of a traced run through
 * {@code spark.extraListeners}, so it also sees the contexts that
 * {@code RunPipeline.main} builds for itself. Task counters are summed
 * since the JVM started; callers take differences around the region they
 * measure. Each finished Spark job is kept with its call site, which says
 * which source line of the program started it.
 */
public final class Probe extends SparkListener {

  /** One finished Spark job. Times are epoch milliseconds. */
  public static final class Job {
    public final long startMs;
    public final long endMs;
    public final String callSite;
    public final boolean write;

    Job(long startMs, long endMs, String callSite, boolean write) {
      this.startMs = startMs;
      this.endMs = endMs;
      this.callSite = callSite;
      this.write = write;
    }
  }

  /** Counter totals; all fields only grow. */
  public static final class Totals {
    public long tasks;
    public long gcMs;
    public long executorCpuNs;
    public long inputRecords;
    public long shuffleWriteBytes;
    public long outputRecords;

    Totals copy() {
      Totals t = new Totals();
      t.tasks = tasks;
      t.gcMs = gcMs;
      t.executorCpuNs = executorCpuNs;
      t.inputRecords = inputRecords;
      t.shuffleWriteBytes = shuffleWriteBytes;
      t.outputRecords = outputRecords;
      return t;
    }
  }

  private static final Object LOCK = new Object();
  private static final Totals TOTALS = new Totals();
  private static final List<Job> JOBS = new ArrayList<>();
  private static final java.util.Map<Integer, Long> STARTS = new java.util.HashMap<>();
  private static final java.util.Map<Integer, String> SITES = new java.util.HashMap<>();
  private static final java.util.Map<Integer, Boolean> WRITES = new java.util.HashMap<>();
  /** SQL execution id -> its call site, and whether it writes files. */
  private static final java.util.Map<Long, String> EXEC_SITES = new java.util.HashMap<>();
  private static final java.util.Map<Long, Boolean> EXEC_WRITES = new java.util.HashMap<>();
  private static volatile long lastAppStartMs = -1;

  public Probe(SparkConf conf) {}

  public static Totals totals() {
    synchronized (LOCK) {
      return TOTALS.copy();
    }
  }

  /** Jobs that ended since index {@code from} of the finished-job list. */
  public static List<Job> jobsSince(int from) {
    synchronized (LOCK) {
      return new ArrayList<>(JOBS.subList(Math.min(from, JOBS.size()), JOBS.size()));
    }
  }

  public static int jobCount() {
    synchronized (LOCK) {
      return JOBS.size();
    }
  }

  /** Epoch ms at which the newest SparkContext announced itself ready. */
  public static long lastAppStartMs() {
    return lastAppStartMs;
  }

  @Override
  public void onApplicationStart(SparkListenerApplicationStart e) {
    lastAppStartMs = System.currentTimeMillis();
  }

  @Override
  public void onOtherEvent(SparkListenerEvent e) {
    if (e instanceof SparkListenerSQLExecutionStart) {
      SparkListenerSQLExecutionStart s = (SparkListenerSQLExecutionStart) e;
      synchronized (LOCK) {
        EXEC_SITES.put(s.executionId(), s.description());
        EXEC_WRITES.put(s.executionId(),
            s.physicalPlanDescription().contains("InsertIntoHadoopFsRelationCommand"));
      }
    }
  }

  @Override
  public void onJobStart(SparkListenerJobStart e) {
    // A job of a SQL execution takes the execution's call site: adaptive
    // execution submits its jobs from a pool thread, whose own call site
    // names no line of the program. Other jobs (schema inference) are
    // named after their call site through their result stage.
    String exec = e.properties() == null ? null
        : e.properties().getProperty("spark.sql.execution.root.id",
            e.properties().getProperty("spark.sql.execution.id"));
    String site = "";
    int last = -1;
    scala.collection.Iterator<StageInfo> it = e.stageInfos().iterator();
    while (it.hasNext()) {
      StageInfo si = it.next();
      if (si.stageId() > last) {
        last = si.stageId();
        site = si.name();
      }
    }
    synchronized (LOCK) {
      boolean write = false;
      if (exec != null && EXEC_SITES.containsKey(Long.parseLong(exec))) {
        site = EXEC_SITES.get(Long.parseLong(exec));
        write = EXEC_WRITES.get(Long.parseLong(exec));
      }
      STARTS.put(e.jobId(), e.time());
      SITES.put(e.jobId(), site);
      WRITES.put(e.jobId(), write);
    }
  }

  @Override
  public void onJobEnd(SparkListenerJobEnd e) {
    synchronized (LOCK) {
      Long s = STARTS.remove(e.jobId());
      String site = SITES.remove(e.jobId());
      Boolean write = WRITES.remove(e.jobId());
      JOBS.add(new Job(s == null ? e.time() : s, e.time(),
          site == null ? "" : site, write != null && write));
    }
  }

  @Override
  public void onTaskEnd(SparkListenerTaskEnd e) {
    TaskMetrics m = e.taskMetrics();
    synchronized (LOCK) {
      TOTALS.tasks += 1;
      if (m == null) return;
      TOTALS.gcMs += m.jvmGCTime();
      TOTALS.executorCpuNs += m.executorCpuTime();
      TOTALS.inputRecords += m.inputMetrics().recordsRead();
      TOTALS.shuffleWriteBytes += m.shuffleWriteMetrics().bytesWritten();
      TOTALS.outputRecords += m.outputMetrics().recordsWritten();
    }
  }
}
