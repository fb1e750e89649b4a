import java.io.IOException;
import java.io.PrintWriter;
import java.lang.instrument.Instrumentation;
import java.nio.file.Files;
import java.nio.file.Paths;
import java.util.HashMap;
import java.util.Map;

/** Wall-clock sampler of the JVM's main thread: every period (5 ms by
  * default) it records the main thread's whole stack in whatever state the
  * thread is in (running, blocked on a job, waiting for a child process),
  * which JFR's execution samples skip. On exit it writes one line per
  * distinct stack, "count state;outermost;...;innermost", to
  * <prefix>.<pid>.txt. Agent arguments: "<prefix>[,<period ms>]". */
public final class WallProf {
  public static void premain(String args, Instrumentation inst) {
    String[] a = (args == null || args.isEmpty() ? "wallprof" : args).split(",");
    long periodMs = a.length > 1 ? Long.parseLong(a[1]) : 5L;
    String out = a[0] + "." + ProcessHandle.current().pid() + ".txt";
    Thread main = Thread.currentThread(); // premain runs on the main thread
    Map<String, Integer> counts = new HashMap<>();
    Thread sampler = new Thread(() -> {
      try {
        while (main.isAlive()) {
          Thread.State state = main.getState();
          StackTraceElement[] st = main.getStackTrace();
          StringBuilder sb = new StringBuilder(state.name());
          for (int i = st.length - 1; i >= 0; i--)
            sb.append(';').append(st[i].getClassName()).append('.').append(st[i].getMethodName());
          synchronized (counts) { counts.merge(sb.toString(), 1, Integer::sum); }
          Thread.sleep(periodMs);
        }
      } catch (InterruptedException e) { Thread.currentThread().interrupt(); }
    }, "wallprof-sampler");
    sampler.setDaemon(true);
    sampler.start();
    Runtime.getRuntime().addShutdownHook(new Thread(() -> {
      try (PrintWriter w = new PrintWriter(Files.newBufferedWriter(Paths.get(out)))) {
        w.println("# period_ms " + periodMs);
        synchronized (counts) { counts.forEach((k, n) -> w.println(n + " " + k)); }
      } catch (IOException e) { System.err.println("wallprof: " + e); }
    }));
  }
}
