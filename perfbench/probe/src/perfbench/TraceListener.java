package perfbench;

import java.io.IOException;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Paths;
import java.util.ArrayList;
import java.util.List;
import java.util.Map;
import java.util.Properties;
import java.util.TreeMap;

import org.apache.spark.SparkConf;
import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.metrics.source.CodegenMetrics;
import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerApplicationEnd;
import org.apache.spark.scheduler.SparkListenerApplicationStart;
import org.apache.spark.scheduler.SparkListenerEvent;
import org.apache.spark.scheduler.SparkListenerEnvironmentUpdate;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerStageCompleted;
import org.apache.spark.scheduler.SparkListenerStageSubmitted;
import org.apache.spark.scheduler.StageInfo;
import org.apache.spark.sql.execution.QueryExecution;
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart;
import org.apache.spark.sql.util.QueryExecutionListener;
import org.apache.spark.storage.RDDInfo;

import scala.Tuple2;
import scala.jdk.javaapi.CollectionConverters;

/**
 * Out-of-process tracing for one Spark JVM: attached from the command line
 * with {@code -Dspark.extraListeners=perfbench.TraceListener} and
 * {@code -Dspark.sql.queryExecutionListeners=perfbench.TraceListener}, so
 * the traced program keeps the session it builds itself.
 *
 * Each completed stage is recorded with its wall interval, aggregated task
 * metrics and the layer it belongs to:
 * <ol>
 *   <li>the {@code perfbench.layer} local property, when the board runner set one;
 *   <li>{@code ingest} for a stage of the load step that really reads text
 *       (the VCV XML; stages that only carry the cached scan in their
 *       lineage read no input bytes);
 *   <li>{@code ops.SnapshotStore} when the stage's call site (or its SQL
 *       execution's) is in SnapshotStore;
 *   <li>otherwise the JVM's own layer, {@code -Dperfbench.layer}.
 * </ol>
 * Planning phases come from each query's {@code QueryExecution.tracker}.
 * Everything stays in memory and is written once, as JSON, to
 * {@code -Dperfbench.trace.out} when the application ends; the state starts
 * over with the next application in the same JVM.
 */
public final class TraceListener extends SparkListener implements QueryExecutionListener {

  private static final Object LOCK = new Object();
  private static final List<String> STAGES = new ArrayList<>();
  private static final List<String> PLANS = new ArrayList<>();
  private static final Map<Integer, String> STAGE_LAYER = new TreeMap<>();
  private static final Map<Integer, String> STAGE_SPAN = new TreeMap<>();
  private static final Map<Integer, Boolean> STAGE_TEXT = new TreeMap<>();
  private static final java.util.Set<Integer> MATERIALIZED = new java.util.HashSet<>();
  private static final Map<String, String> EXEC_SITE = new java.util.concurrent.ConcurrentHashMap<>();
  private static final Map<String, String> CONF = new TreeMap<>();
  private static long appStartMs = -1;
  private static long readyMs = -1;
  private static int jobs = 0;
  /** Time spent inside this listener's callbacks: the tracing's own cost. */
  private static final java.util.concurrent.atomic.AtomicLong BUSY_NS =
      new java.util.concurrent.atomic.AtomicLong();
  private static long codegenCount0 = 0;
  private static double codegenMs0 = 0;

  public TraceListener() {}

  public TraceListener(SparkConf conf) {}

  private static String defaultLayer() {
    return System.getProperty("perfbench.layer", "unknown");
  }

  /**
   * Layer at submission: the local property, else SnapshotStore by call
   * site, else the JVM's. Under AQE a stage is submitted from a pool thread,
   * so a SQL stage's call site is its query execution's, recorded when the
   * execution started.
   */
  private static String layerOf(StageInfo info, Properties props) {
    String set = props == null ? null : props.getProperty("perfbench.layer");
    if (set != null) return set;
    String exec = props == null ? null : props.getProperty("spark.sql.execution.id");
    String site = exec == null ? null : EXEC_SITE.get(exec);
    if (info.details().contains("SnapshotStore") || (site != null && site.contains("SnapshotStore"))) {
      return "ops.SnapshotStore";
    }
    return defaultLayer();
  }

  @Override
  public void onOtherEvent(SparkListenerEvent e) {
    long t0 = System.nanoTime();
    try {
      if (e instanceof SparkListenerSQLExecutionStart) {
        SparkListenerSQLExecutionStart s = (SparkListenerSQLExecutionStart) e;
        EXEC_SITE.put(String.valueOf(s.executionId()), s.details());
      }
    } finally {
      BUSY_NS.addAndGet(System.nanoTime() - t0);
    }
  }

  /**
   * Whether the stage reads the text files itself: it has a text scan in its
   * lineage and no persisted RDD of that lineage was materialized by an
   * earlier stage (then the stage reads the cached blocks instead).
   */
  private static boolean scansText(StageInfo info) {
    boolean text = false;
    for (RDDInfo r : CollectionConverters.asJava(info.rddInfos())) {
      if (r.scope().isDefined() && r.scope().get().name().startsWith("Scan text")) text = true;
      if (r.storageLevel().isValid() && MATERIALIZED.contains(r.id())) return false;
    }
    return text;
  }

  @Override
  public void onApplicationStart(SparkListenerApplicationStart e) {
    synchronized (LOCK) {
      STAGES.clear();
      PLANS.clear();
      STAGE_LAYER.clear();
      STAGE_SPAN.clear();
      STAGE_TEXT.clear();
      MATERIALIZED.clear();
      EXEC_SITE.clear();
      BUSY_NS.set(0);
      jobs = 0;
      codegenCount0 = CodegenMetrics.METRIC_COMPILATION_TIME().getCount();
      codegenMs0 = codegenCount0 * CodegenMetrics.METRIC_COMPILATION_TIME().getSnapshot().getMean();
      appStartMs = e.time();
      readyMs = System.currentTimeMillis();
    }
  }

  @Override
  public void onEnvironmentUpdate(SparkListenerEnvironmentUpdate e) {
    scala.collection.Seq<Tuple2<String, String>> props =
        e.environmentDetails().get("Spark Properties").get();
    synchronized (LOCK) {
      for (Tuple2<String, String> kv : CollectionConverters.asJava(props)) {
        CONF.put(kv._1(), kv._2());
      }
    }
  }

  @Override
  public void onJobStart(SparkListenerJobStart e) {
    synchronized (LOCK) {
      jobs++;
    }
  }

  @Override
  public void onStageSubmitted(SparkListenerStageSubmitted e) {
    long t0 = System.nanoTime();
    try {
      StageInfo info = e.stageInfo();
      String layer = layerOf(info, e.properties());
      String span = e.properties() == null ? null : e.properties().getProperty("perfbench.span");
      synchronized (LOCK) {
        boolean text = defaultLayer().equals("pipelines.load")
            && (e.properties() == null || e.properties().getProperty("perfbench.layer") == null)
            && scansText(info);
        STAGE_LAYER.put(info.stageId(), layer);
        STAGE_TEXT.put(info.stageId(), text);
        if (span != null) STAGE_SPAN.put(info.stageId(), span);
      }
    } finally {
      BUSY_NS.addAndGet(System.nanoTime() - t0);
    }
  }

  @Override
  public void onStageCompleted(SparkListenerStageCompleted e) {
    long t0 = System.nanoTime();
    try {
      StageInfo info = e.stageInfo();
      TaskMetrics m = info.taskMetrics();
      long start = info.submissionTime().isDefined() ? (Long) info.submissionTime().get() : -1L;
      long end = info.completionTime().isDefined() ? (Long) info.completionTime().get() : -1L;
      StringBuilder sb = new StringBuilder("{");
      synchronized (LOCK) {
        String layer = STAGE_LAYER.getOrDefault(info.stageId(), defaultLayer());
        if (STAGE_TEXT.getOrDefault(info.stageId(), false) && m != null
            && m.inputMetrics().bytesRead() > 0) {
          layer = "ingest";
        }
        sb.append("\"id\":").append(info.stageId())
            .append(",\"layer\":").append(str(layer))
            .append(",\"span\":").append(str(STAGE_SPAN.get(info.stageId())));
      }
      sb.append(",\"start_ms\":").append(start)
          .append(",\"end_ms\":").append(end)
          .append(",\"tasks\":").append(info.numTasks())
          .append(",\"failed\":").append(info.failureReason().isDefined())
          .append(",\"name\":").append(str(info.name()));
      if (m != null) {
        sb.append(",\"run_ms\":").append(m.executorRunTime())
            .append(",\"cpu_ns\":").append(m.executorCpuTime())
            .append(",\"gc_ms\":").append(m.jvmGCTime())
            .append(",\"shuffle_read_b\":").append(
                m.shuffleReadMetrics().remoteBytesRead() + m.shuffleReadMetrics().localBytesRead())
            .append(",\"shuffle_write_b\":").append(m.shuffleWriteMetrics().bytesWritten())
            .append(",\"spill_b\":").append(m.memoryBytesSpilled() + m.diskBytesSpilled())
            .append(",\"output_b\":").append(m.outputMetrics().bytesWritten())
            .append(",\"input_b\":").append(m.inputMetrics().bytesRead())
            .append(",\"input_records\":").append(m.inputMetrics().recordsRead());
      }
      sb.append("}");
      synchronized (LOCK) {
        STAGES.add(sb.toString());
        if (!info.failureReason().isDefined()) {
          for (RDDInfo r : CollectionConverters.asJava(info.rddInfos())) {
            if (r.storageLevel().isValid()) MATERIALIZED.add(r.id());
          }
        }
      }
    } finally {
      BUSY_NS.addAndGet(System.nanoTime() - t0);
    }
  }

  @Override
  public void onSuccess(String funcName, QueryExecution qe, long durationNs) {
    record(funcName, qe);
  }

  @Override
  public void onFailure(String funcName, QueryExecution qe, Exception exception) {
    record(funcName, qe);
  }

  private static void record(String funcName, QueryExecution qe) {
    long t0 = System.nanoTime();
    try {
      long start = Long.MAX_VALUE;
      long end = Long.MIN_VALUE;
      long ms = 0;
      for (Map.Entry<String, org.apache.spark.sql.catalyst.QueryPlanningTracker.PhaseSummary> p
          : CollectionConverters.asJava(qe.tracker().phases()).entrySet()) {
        if (p.getKey().equals("parsing")) continue;
        start = Math.min(start, p.getValue().startTimeMs());
        end = Math.max(end, p.getValue().endTimeMs());
        ms += p.getValue().durationMs();
      }
      if (start > end) return;
      String row = "{\"func\":" + str(funcName) + ",\"start_ms\":" + start
          + ",\"end_ms\":" + end + ",\"ms\":" + ms + "}";
      synchronized (LOCK) {
        PLANS.add(row);
      }
    } finally {
      BUSY_NS.addAndGet(System.nanoTime() - t0);
    }
  }

  @Override
  public void onApplicationEnd(SparkListenerApplicationEnd e) {
    write(e.time());
  }

  private static void write(long endMs) {
    String out = System.getProperty("perfbench.trace.out");
    if (out == null) return;
    StringBuilder sb = new StringBuilder();
    synchronized (LOCK) {
      // compile-time histogram is JVM-wide: report this application's share
      long count = CodegenMetrics.METRIC_COMPILATION_TIME().getCount();
      double ms = count * CodegenMetrics.METRIC_COMPILATION_TIME().getSnapshot().getMean();
      sb.append("{\"layer\":").append(str(defaultLayer()))
          .append(",\"app_start_ms\":").append(appStartMs)
          .append(",\"ready_ms\":").append(readyMs)
          .append(",\"end_ms\":").append(endMs)
          .append(",\"jobs\":").append(jobs)
          .append(",\"listener_ms\":").append(BUSY_NS.get() / 1e6)
          .append(",\"codegen_compiles\":").append(count - codegenCount0)
          .append(",\"codegen_ms\":").append(Math.max(0.0, ms - codegenMs0))
          .append(",\"conf\":{");
      List<String> kv = new ArrayList<>();
      CONF.forEach((k, v) -> kv.add(str(k) + ":" + str(v)));
      sb.append(String.join(",", kv)).append("}")
          .append(",\"stages\":[").append(String.join(",", STAGES)).append("]")
          .append(",\"plans\":[").append(String.join(",", PLANS)).append("]}");
      CONF.clear();
    }
    try {
      Files.write(Paths.get(out), sb.toString().getBytes(StandardCharsets.UTF_8));
    } catch (IOException ex) {
      throw new RuntimeException(ex);
    }
  }

  /** JSON string literal (null for a null reference). */
  static String str(String s) {
    if (s == null) return "null";
    StringBuilder sb = new StringBuilder("\"");
    for (char c : s.toCharArray()) {
      if (c == '"' || c == '\\') sb.append('\\').append(c);
      else if (c < 0x20) sb.append(String.format("\\u%04x", (int) c));
      else sb.append(c);
    }
    return sb.append('"').toString();
  }
}
