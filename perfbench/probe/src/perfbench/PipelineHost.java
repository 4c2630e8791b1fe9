package perfbench;

import java.lang.reflect.Method;
import java.util.ArrayList;
import java.util.List;

import org.apache.logging.log4j.Level;
import org.apache.logging.log4j.core.config.Configurator;

/**
 * Runs a sequence of the program's CLI entry points, each through its own
 * {@code main}, one after the other in this JVM. Each CLI builds and stops
 * its own SparkSession, as it does when launched alone.
 *
 * Usage: PipelineHost name layer mainClass arg... [-- name layer mainClass arg...]...
 *
 * Around every step it prints {@code @@perfbench <name> start|end <epoch-ms>
 * [exit-status]} to stdout, so the caller can split the output and the wall
 * time by step. Before a step the root log level is reset to INFO, so the
 * step's SparkContext logs when it is up (the CLIs lower it to WARN once
 * their session exists). With {@code -Dperfbench.trace=<prefix>} the trace
 * of each step goes to {@code <prefix>.<name>.json}, with the step's layer
 * as the default layer of its stages.
 */
public final class PipelineHost {

  private PipelineHost() {}

  public static void main(String[] args) throws Exception {
    String tracePrefix = System.getProperty("perfbench.trace");
    int failed = 0;
    for (List<String> step : split(args)) {
      String name = step.get(0);
      System.setProperty("perfbench.layer", step.get(1));
      Method main = Class.forName(step.get(2)).getMethod("main", String[].class);
      String[] rest = step.subList(3, step.size()).toArray(new String[0]);
      if (tracePrefix != null) System.setProperty("perfbench.trace.out", tracePrefix + "." + name + ".json");
      Configurator.setRootLevel(Level.INFO);
      System.out.println("@@perfbench " + name + " start " + System.currentTimeMillis());
      String status = "ok";
      try {
        main.invoke(null, (Object) rest);
      } catch (java.lang.reflect.InvocationTargetException e) {
        e.getCause().printStackTrace();
        status = "error";
        failed++;
      }
      System.out.println("@@perfbench " + name + " end " + System.currentTimeMillis() + " " + status);
      System.out.flush();
    }
    System.exit(failed == 0 ? 0 : 1);
  }

  private static List<List<String>> split(String[] args) {
    List<List<String>> out = new ArrayList<>();
    List<String> cur = new ArrayList<>();
    for (String a : args) {
      if (a.equals("--")) {
        out.add(cur);
        cur = new ArrayList<>();
      } else {
        cur.add(a);
      }
    }
    if (!cur.isEmpty()) out.add(cur);
    return out;
  }
}
