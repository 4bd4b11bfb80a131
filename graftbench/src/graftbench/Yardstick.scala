package graftbench

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.util.concurrent.TimeUnit

/** Host-speed yardstick. A virtual machine whose cores are shared with
  * other machines drifts in speed by tens of percent within tens of
  * seconds, and by up to 2.5x between phases minutes apart (measured on a
  * 4-vCPU VM). A run's times are divided by yardstick passes timed close to
  * them, which cancels most of that drift.
  *
  * The yardstick runs in its own small JVM ([[Yardstick.main]]), started
  * with the benchmark and asked for one pass at a time while the benchmark
  * JVM waits between set-ups and between ops. It loads no graft or Spark
  * code and shares no heap, so nothing the engine does or leaves behind
  * (cached blocks, live heap, JIT state) can move it. One pass is
  * single-threaded sorting and hashing: it varies by about 4% from one
  * pass to the next, where the same work spread over four threads varies
  * by about 9% (any core's stall holds up the pass). Every divisor is the
  * median of many passes. */
object Yardstick {
  /** Reference time of one pass: times are reported as
    * `seconds * Reference / pass`, i.e. in seconds of a host whose pass
    * takes exactly this long. */
  val Reference = 0.1
  /** Passes the yardstick JVM runs at start to warm its own code. */
  val WarmupPasses = 10

  /** Serves one pass per line read from stdin and prints its seconds;
    * exits when stdin closes. */
  def main(args: Array[String]): Unit = {
    (0 until WarmupPasses).foreach(_ => pass())
    val in = new BufferedReader(new InputStreamReader(System.in))
    while (in.readLine() != null) {
      println(pass())
      System.out.flush()
    }
  }

  @volatile private var sink = 0L

  private def mix(h: Long, x: Long): Long =
    java.lang.Long.rotateLeft(h ^ x, 13) * 0x9E3779B97F4A7C15L

  def pass(): Double = {
    val t0 = System.nanoTime
    val rnd = new java.util.SplittableRandom(7L)
    val xs = Array.fill(400000)(rnd.nextLong())
    java.util.Arrays.sort(xs)
    var h = 0L
    xs.foreach(x => h = mix(h, x))
    (0 until 4000000).foreach(i => h = mix(h, i.toLong))
    sink = h
    (System.nanoTime - t0) / 1e9
  }
}

/** The benchmark's handle on the yardstick JVM. */
final class YardstickProcess extends AutoCloseable {
  private val proc = {
    val java = ProcessHandle.current().info().command().orElse("java")
    new ProcessBuilder(java, "-Xmx256m", "-XX:+UseSerialGC", "-XX:-UsePerfData",
      "-cp", System.getProperty("java.class.path"), "graftbench.Yardstick")
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
  }
  private val to = new OutputStreamWriter(proc.getOutputStream)
  private val from = new BufferedReader(new InputStreamReader(proc.getInputStream))

  /** Time one pass; the caller does nothing while it runs. */
  def pass(): Double = {
    to.write("pass\n")
    to.flush()
    val line = from.readLine()
    if (line == null) throw new IllegalStateException("the yardstick JVM exited")
    line.trim.toDouble
  }

  def close(): Unit = {
    try to.close() catch { case _: java.io.IOException => }
    if (!proc.waitFor(10, TimeUnit.SECONDS)) { proc.destroyForcibly(); proc.waitFor() }
  }
}
