package perfbench;

import java.io.File;
import java.util.ArrayList;
import java.util.HashMap;
import java.util.HashSet;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;
import java.util.Set;
import java.util.regex.Matcher;
import java.util.regex.Pattern;

import com.fasterxml.jackson.databind.ObjectMapper;
import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.scheduler.AccumulableInfo;
import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerApplicationEnd;
import org.apache.spark.scheduler.SparkListenerApplicationStart;
import org.apache.spark.scheduler.SparkListenerEvent;
import org.apache.spark.scheduler.SparkListenerJobEnd;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerStageCompleted;
import org.apache.spark.scheduler.SparkListenerTaskEnd;
import org.apache.spark.scheduler.TaskInfo;
import org.apache.spark.sql.execution.SparkPlanInfo;
import org.apache.spark.sql.execution.metric.SQLMetricInfo;
import org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates;
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate;
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd;
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart;
import scala.jdk.javaapi.CollectionConverters;

/**
 * The benchmark's listener, attached to a `graft.Pipeline` process with
 * `-Dspark.extraListeners=perfbench.Trace`.
 *
 * System properties:
 *   perfbench.trace.out  file the record is written to when the application ends
 *   perfbench.trace      "1" records jobs, SQL executions and task totals;
 *                        otherwise only the application-start instant is kept
 *   perfbench.rundir     artifact root of the run (outDir/runId)
 *   perfbench.corpus     corpus directory whose parquet scans count as table scans
 *
 * Everything is kept in memory and written once, at application end.
 */
public class Trace extends SparkListener {
  private final boolean full = "1".equals(System.getProperty("perfbench.trace"));
  private final String out = System.getProperty("perfbench.trace.out");
  private final String runDir = System.getProperty("perfbench.rundir", "");
  private final String corpus = System.getProperty("perfbench.corpus", "");
  private final Pattern ref = Pattern.compile(Pattern.quote(runDir + "/") + "(\\w+)");

  private long appStartMs = -1;
  private final Map<Long, Map<String, Object>> executions = new LinkedHashMap<>();
  private final Map<Integer, Map<String, Object>> jobs = new LinkedHashMap<>();
  private final Map<Integer, Integer> stageToJob = new HashMap<>();
  private final Map<Integer, long[]> stageTotals = new HashMap<>();
  private final Map<Integer, List<Long>> stageTaskMs = new HashMap<>();
  private final Set<Long> scanRowAccums = new HashSet<>();
  private final Set<Long> scanByteAccums = new HashSet<>();
  private long scanRows = 0;
  private long scanBytes = 0;

  // Per-stage task totals, indexed by these slots.
  private static final int TASKS = 0, FAILED = 1, RUN_MS = 2, CPU_NS = 3, SHUFFLE_W = 4,
      SPILL = 5, SLOTS = 6;
  private static final String[] SLOT_NAMES = {"tasks", "failed", "run_ms", "cpu_ns",
      "shuffle_write_bytes", "spill_bytes"};

  @Override
  public synchronized void onApplicationStart(SparkListenerApplicationStart e) {
    // The event's own time: delivery on the listener bus comes later, by
    // however long the bus takes to drain what was posted before it.
    appStartMs = e.time();
  }

  @Override
  public synchronized void onJobStart(SparkListenerJobStart e) {
    if (!full) return;
    Map<String, Object> j = new LinkedHashMap<>();
    j.put("id", e.jobId());
    j.put("start", e.time());
    String exec = e.properties() == null ? null : e.properties().getProperty("spark.sql.execution.id");
    j.put("execution", exec == null ? -1L : Long.parseLong(exec));
    for (Object sid : CollectionConverters.asJava(e.stageIds())) stageToJob.put((Integer) sid, e.jobId());
    jobs.put(e.jobId(), j);
  }

  @Override
  public synchronized void onJobEnd(SparkListenerJobEnd e) {
    if (!full) return;
    Map<String, Object> j = jobs.get(e.jobId());
    if (j != null) j.put("end", e.time());
  }

  @Override
  public synchronized void onTaskEnd(SparkListenerTaskEnd e) {
    if (!full) return;
    long[] t = stageTotals.computeIfAbsent(e.stageId(), k -> new long[SLOTS]);
    TaskInfo info = e.taskInfo();
    t[TASKS]++;
    if (info.failed() || info.killed()) t[FAILED]++;
    TaskMetrics m = e.taskMetrics();
    if (m != null) {
      t[RUN_MS] += m.executorRunTime();
      t[CPU_NS] += m.executorCpuTime();
      t[SHUFFLE_W] += m.shuffleWriteMetrics().bytesWritten();
      t[SPILL] += m.memoryBytesSpilled() + m.diskBytesSpilled();
      stageTaskMs.computeIfAbsent(e.stageId(), k -> new ArrayList<>()).add(m.executorRunTime());
    }
  }

  @Override
  public synchronized void onStageCompleted(SparkListenerStageCompleted e) {
    if (!full || scanRowAccums.isEmpty()) return;
    for (AccumulableInfo a : CollectionConverters.asJava(e.stageInfo().accumulables()).values()) {
      if (scanRowAccums.contains(a.id()) && a.value().isDefined()) {
        Object v = a.value().get();
        if (v instanceof Long) scanRows += (Long) v;
      }
    }
  }

  @Override
  public synchronized void onOtherEvent(SparkListenerEvent e) {
    if (!full) return;
    if (e instanceof SparkListenerSQLExecutionStart) {
      SparkListenerSQLExecutionStart s = (SparkListenerSQLExecutionStart) e;
      Map<String, Object> x = new LinkedHashMap<>();
      x.put("id", s.executionId());
      x.put("start", s.time());
      String plan = s.physicalPlanDescription();
      x.put("write", plan.contains("InsertIntoHadoopFsRelationCommand"));
      Set<String> refs = new HashSet<>();
      if (!runDir.isEmpty()) {
        Matcher r = ref.matcher(plan);
        while (r.find()) refs.add(r.group(1));
      }
      x.put("refs", new ArrayList<>(refs));
      executions.put(s.executionId(), x);
      collectScanMetrics(s.sparkPlanInfo());
    } else if (e instanceof SparkListenerSQLAdaptiveExecutionUpdate) {
      collectScanMetrics(((SparkListenerSQLAdaptiveExecutionUpdate) e).sparkPlanInfo());
    } else if (e instanceof SparkListenerSQLExecutionEnd) {
      SparkListenerSQLExecutionEnd s = (SparkListenerSQLExecutionEnd) e;
      Map<String, Object> x = executions.get(s.executionId());
      if (x != null) x.put("end", s.time());
    } else if (e instanceof SparkListenerDriverAccumUpdates) {
      for (scala.Tuple2<Object, Object> u :
          CollectionConverters.asJava(((SparkListenerDriverAccumUpdates) e).accumUpdates())) {
        if (scanByteAccums.contains((Long) u._1())) scanBytes += (Long) u._2();
      }
    }
  }

  /** Remembers the row and file-size metrics of every parquet scan of the corpus. */
  private void collectScanMetrics(SparkPlanInfo node) {
    if (node.nodeName().startsWith("Scan")) {
      scala.Option<String> loc = node.metadata().get("Location");
      if (loc.isDefined() && !corpus.isEmpty() && loc.get().contains(corpus)) {
        for (SQLMetricInfo m : CollectionConverters.asJava(node.metrics())) {
          if (m.name().equals("number of output rows")) scanRowAccums.add(m.accumulatorId());
          if (m.name().equals("size of files read")) scanByteAccums.add(m.accumulatorId());
        }
      }
    }
    for (SparkPlanInfo c : CollectionConverters.asJava(node.children())) collectScanMetrics(c);
  }

  @Override
  public synchronized void onApplicationEnd(SparkListenerApplicationEnd e) {
    if (out == null) return;
    Map<String, Object> rec = new LinkedHashMap<>();
    rec.put("app_start_ms", appStartMs);
    rec.put("app_end_ms", e.time());
    if (full) {
      rec.put("executions", new ArrayList<>(executions.values()));
      List<Map<String, Object>> stages = new ArrayList<>();
      for (Map.Entry<Integer, long[]> s : stageTotals.entrySet()) {
        Map<String, Object> st = new LinkedHashMap<>();
        st.put("id", s.getKey());
        st.put("job", stageToJob.getOrDefault(s.getKey(), -1));
        for (int i = 0; i < SLOTS; i++) st.put(SLOT_NAMES[i], s.getValue()[i]);
        List<Long> ms = stageTaskMs.getOrDefault(s.getKey(), new ArrayList<>());
        ms.sort(null);
        st.put("task_ms_max", ms.isEmpty() ? 0L : ms.get(ms.size() - 1));
        st.put("task_ms_median", ms.isEmpty() ? 0L : ms.get(ms.size() / 2));
        stages.add(st);
      }
      rec.put("jobs", new ArrayList<>(jobs.values()));
      rec.put("stages", stages);
      rec.put("scan_rows", scanRows);
      rec.put("scan_bytes", scanBytes);
    }
    try {
      new ObjectMapper().writeValue(new File(out), rec);
    } catch (Exception ex) {
      throw new RuntimeException("perfbench trace write failed: " + out, ex);
    }
  }
}
