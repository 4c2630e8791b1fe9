package perfbench;

import java.io.IOException;
import java.lang.management.ManagementFactory;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Paths;
import java.util.ArrayList;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;

import org.apache.spark.sql.Column;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DoubleType;
import org.apache.spark.sql.types.FloatType;
import org.apache.spark.sql.types.MapType;
import org.apache.spark.sql.types.StructField;

import scala.Function2;

/**
 * Curation-board runner: one Spark session built with graft.Bench's
 * session confs, {@link #WARM_PASSES} untimed passes over the slice, then
 * timed passes for a given number of seconds (at least
 * {@link #MIN_PASSES}), each query reported as the median of its runs.
 *
 * Every query is timed through an aggregate that reads every output
 * column (row count plus an order-independent sum of per-row hashes), not
 * through {@code count()}, which lets Catalyst prune columns the count
 * does not need. The same aggregate is the golden-set fingerprint.
 *
 * Usage: BoardMain sfDir q1,q2,... out.json seconds [gap]
 * With "gap", each query is additionally timed once through
 * {@code count()} so the count-vs-full difference can be recorded.
 */
public final class BoardMain {

  /**
   * Copy of the {@code .config(...)} pairs in graft.Bench. The drift
   * check in perfbench/checks.py compares this block with Bench.scala;
   * "&lt;cpus&gt;" stands for Bench's non-literal core-count value.
   */
  static final String[][] BENCH_CONFS = {
    {"spark.sql.shuffle.partitions", "<cpus>"},
    {"spark.sql.session.timeZone", "UTC"},
    {"spark.sql.legacy.parquet.nanosAsLong", "true"},
    {"spark.shuffle.sort.bypassMergeThreshold", "0"},
    {"spark.sql.codegen.cache.maxEntries", "20000"},
    {"spark.sql.adaptive.coalescePartitions.minPartitionSize", "64KB"},
    {"spark.sql.join.preferSortMergeJoin", "false"},
    {"spark.ui.enabled", "false"},
  };

  static final int WARM_PASSES = 3;
  static final int MIN_PASSES = 3;

  private BoardMain() {}

  public static void main(String[] args) throws IOException {
    long jvmStartMs = ManagementFactory.getRuntimeMXBean().getStartTime();
    String sfDir = args[0];
    String[] names = args[1].split(",");
    String out = args[2];
    double seconds = Double.parseDouble(args[3]);
    boolean gap = args.length > 4 && args[4].equals("gap");
    String cpus = System.getenv().getOrDefault(
        "SPARK_GRAFT_CPUS", String.valueOf(Runtime.getRuntime().availableProcessors()));

    SparkSession.Builder b = SparkSession.builder().master("local[" + cpus + "]");
    for (String[] kv : BENCH_CONFS) b = b.config(kv[0], kv[1].equals("<cpus>") ? cpus : kv[1]);
    SparkSession spark = b.getOrCreate();
    long readyMs = System.currentTimeMillis();
    spark.sparkContext().setLogLevel("WARN");

    // warm-up passes on the timed tables: the first pays codegen, the
    // others let the JIT catch up (runs kept getting faster for several
    // passes after a single warm-up)
    Map<String, List<String>> warm = new LinkedHashMap<>();
    for (int pass = 0; pass < WARM_PASSES; pass++) {
      for (String n : names) {
        spark.sparkContext().setLocalProperty("perfbench.layer", "board.warmup");
        long w0 = System.nanoTime();
        try { fingerprint(query(n).apply(spark, sfDir)); } catch (Exception e) { /* counted in the timed passes */ }
        warm.computeIfAbsent(n, k -> new ArrayList<>()).add(String.valueOf((System.nanoTime() - w0) / 1e9));
        graft.ops.CacheScope.releaseAll();
      }
    }
    long warmEndMs = System.currentTimeMillis();

    // timed passes over the slice until `seconds` have gone by, at least
    // MIN_PASSES; a query's time is the median of its runs. Every run
    // recomputes from the scans (operator caches released between) and
    // must give the first run's fingerprint.
    Map<String, List<Double>> times = new LinkedHashMap<>();
    Map<String, long[]> fps = new LinkedHashMap<>();
    Map<String, String> errors = new LinkedHashMap<>();
    Map<String, List<String>> runs = new LinkedHashMap<>();
    for (String n : names) {
      times.put(n, new ArrayList<>());
      runs.put(n, new ArrayList<>());
    }
    long timedStart = System.nanoTime();
    int passes = 0;
    while (passes < MIN_PASSES || (System.nanoTime() - timedStart) / 1e9 < seconds) {
      for (String n : names) {
        if (errors.containsKey(n)) continue;
        spark.sparkContext().setLocalProperty("perfbench.layer", "board");
        spark.sparkContext().setLocalProperty("perfbench.span", n);
        long startMs = System.currentTimeMillis();
        long t0 = System.nanoTime();
        try {
          long[] fp = fingerprint(query(n).apply(spark, sfDir));
          double s = (System.nanoTime() - t0) / 1e9;
          times.get(n).add(s);
          runs.get(n).add("{\"s\":" + s + ",\"start_ms\":" + startMs + ",\"end_ms\":" + System.currentTimeMillis() + "}");
          long[] first = fps.putIfAbsent(n, fp);
          if (first != null && !java.util.Arrays.equals(first, fp)) errors.put(n, "runs differ");
        } catch (Exception e) {
          errors.put(n, String.valueOf(e.getMessage()));
        }
        graft.ops.CacheScope.releaseAll();
      }
      passes++;
    }
    spark.sparkContext().setLocalProperty("perfbench.span", null);

    Map<String, String> rows = new LinkedHashMap<>();
    for (String n : names) {
      String body;
      if (errors.containsKey(n)) {
        body = "{\"ok\":false,\"error\":" + TraceListener.str(errors.get(n));
      } else {
        body = "{\"ok\":true,\"s\":" + median(times.get(n)) + ",\"runs\":[" + String.join(",", runs.get(n)) + "]"
            + ",\"rows\":" + fps.get(n)[0] + ",\"hash\":" + fps.get(n)[1];
      }
      if (gap) {
        spark.sparkContext().setLocalProperty("perfbench.layer", "board.gap");
        long c0 = System.nanoTime();
        try { query(n).apply(spark, sfDir).count(); } catch (Exception e) { /* reported above */ }
        body += ",\"count_s\":" + (System.nanoTime() - c0) / 1e9;
        graft.ops.CacheScope.releaseAll();
      }
      rows.put(n, body + "}");
    }

    List<String> warmParts = new ArrayList<>();
    warm.forEach((k, v) -> warmParts.add(TraceListener.str(k) + ":[" + String.join(",", v) + "]"));
    StringBuilder sb = new StringBuilder();
    sb.append("{\"jvm_start_ms\":").append(jvmStartMs)
        .append(",\"ready_ms\":").append(readyMs)
        .append(",\"warm_end_ms\":").append(warmEndMs)
        .append(",\"passes\":").append(passes)
        .append(",\"end_ms\":").append(System.currentTimeMillis())
        .append(",\"warmup_s\":{").append(String.join(",", warmParts)).append("}")
        .append(",\"queries\":{");
    List<String> parts = new ArrayList<>();
    rows.forEach((k, v) -> parts.add(TraceListener.str(k) + ":" + v));
    sb.append(String.join(",", parts)).append("}}");
    Files.write(Paths.get(out), sb.toString().getBytes(StandardCharsets.UTF_8));
    spark.stop();
  }

  static double median(List<Double> xs) {
    List<Double> s = new ArrayList<>(xs);
    java.util.Collections.sort(s);
    int k = s.size() / 2;
    return s.size() % 2 == 1 ? s.get(k) : (s.get(k - 1) + s.get(k)) / 2;
  }

  @SuppressWarnings("unchecked")
  private static Function2<SparkSession, String, Dataset<Row>> query(String name) {
    return (Function2<SparkSession, String, Dataset<Row>>) graft.SparkEntry.queries().apply(name);
  }

  /**
   * Row count and an order-independent sum of per-row hashes over every
   * output column. Doubles are rounded to 6 places so a summation-order
   * difference in the last bits does not change the fingerprint; maps are
   * hashed through their sorted entries.
   */
  static long[] fingerprint(Dataset<Row> query) {
    StructField[] fields = query.schema().fields();
    String[] plain = new String[fields.length];
    for (int i = 0; i < fields.length; i++) plain[i] = "c" + i;
    Dataset<Row> df = query.toDF(plain);
    Column[] cols = new Column[fields.length + 1];
    cols[0] = functions.lit(0);
    for (int i = 0; i < fields.length; i++) {
      Column c = df.col(plain[i]);
      DataType t = fields[i].dataType();
      if (t instanceof DoubleType || t instanceof FloatType) c = functions.round(c, 6);
      else if (t instanceof MapType) c = functions.array_sort(functions.map_entries(c));
      cols[i + 1] = c;
    }
    Row r = df.agg(
        functions.count(functions.lit(1)),
        functions.coalesce(functions.sum(functions.hash(cols).cast("long")), functions.lit(0L)))
        .head();
    return new long[] {r.getLong(0), r.getLong(1)};
  }
}
