package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one measured window.
  *
  * {{{
  * graftbench.Main --workload cdc_serve|llm_ingest
  *   --seed N --seconds S --trace 0|1 --out DIR
  *   [--tiny] [--inject-failure] [--cpus N]
  * }}}
  *
  * Prints human-readable lines, then as its LAST stdout line one JSON
  * object {correct, attempted, failed, metrics}: the end-to-end metrics
  * with `--trace 0`, the per-layer metrics with `--trace 1`. */
/** Wall-clock phase boundaries of a run, from JVM start, for the log. */
object Phase {
  private val start = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private var last = start
  val all = scala.collection.mutable.ArrayBuffer.empty[String]
  def apply(name: String): Unit = {
    val now = System.currentTimeMillis
    all += f"$name=${(now - last) / 1000.0}%.1fs"
    last = now
  }
}

object Main {
  final case class Opts(workload: String = "", seed: Long = 1L,
                        seconds: Double = 10.0, trace: Boolean = false,
                        out: String = ".bench_build", tiny: Boolean = false,
                        inject: Boolean = false, cpus: Int = 4)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--out" :: v :: t => parse(t, o.copy(out = v))
    case "--cpus" :: v :: t => parse(t, o.copy(cpus = v.toInt))
    case "--tiny" :: t => parse(t, o.copy(tiny = true))
    case "--inject-failure" :: t => parse(t, o.copy(inject = true))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.files.maxPartitionBytes", (8L << 20).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val out = Paths.get(o.out).toAbsolutePath
    val work = out.resolve(s"work-${ProcessHandle.current().pid()}")
    Workload.freshDir(work)
    // started first: it warms up while the Spark session starts
    val yard = new YardstickProcess
    val spark = session(o.cpus, work)
    Phase("session")
    val result =
      try Some(run(o, spark, work, out, yard))
      catch { case e: Throwable => e.printStackTrace(); None }
      finally {
        yard.close()
        spark.stop()
        Storage.deleteTree(work)
        Phase("stop")
        System.err.println(s"[graftbench] phases: ${Phase.all.mkString(" ")}")
      }
    // the result line is printed only by a run that completed
    result.foreach(println)
    System.out.flush()
    sys.exit(if (result.isDefined) 0 else 1)
  }

  def run(o: Opts, spark: SparkSession, work: Path, out: Path,
          yard: YardstickProcess): String = {
    val scale = if (o.tiny) Scale.tiny else Scale.full
    val wl: Workload = o.workload match {
      case "cdc_serve" => new CdcServe(spark, o.seed, scale)
      case "llm_ingest" => new LlmIngest(spark, o.seed, scale)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    val trace = new Trace(o.trace, spark.sparkContext, o.cpus)
    val h = new Harness(trace, o.inject)

    // Yardstick passes taken during the set-ups and during the loop; each
    // phase's times are divided by the median of its own passes.
    val setupYard, loopYard = scala.collection.mutable.ArrayBuffer.empty[Double]

    // set up several times and report the median; the last one is measured
    val setupS = (0 until 3).map { i =>
      if (i > 0) Storage.deleteTree(work.resolve(s"setup-${i - 1}"))
      val d = Workload.freshDir(work.resolve(s"setup-$i"))
      System.gc() // the previous set-up's garbage is not this one's cost
      setupYard ++= Seq(yard.pass(), yard.pass())
      val t0 = System.nanoTime
      wl.setup(d)
      (System.nanoTime - t0) / 1e9
    }
    setupYard ++= Seq(yard.pass(), yard.pass())
    // The first set-up paid the JVM's one-time costs (class loading, JIT,
    // query codegen); one unmeasured op of every kind warms the op paths.
    wl.cycle.distinct.foreach(op => op(h))
    Phase("setups")
    val heapSetup = Host.liveHeapMb()

    val storeBefore = Storage.inodes(wl.storageRoots)
    val (gc0, gcn0) = Host.gc
    val (rd0, wr0) = Host.io
    h.measuring = true
    val ops = wl.cycle
    // Amplification is taken once the first cycle ran, so it measures a
    // fixed amount of work however fast the loop runs.
    def amplification(): (Double, Double) = {
      val now = Storage.inodes(wl.storageRoots)
      val added = now.iterator.filterNot(e => storeBefore.contains(e._1)).map(_._2).sum
      (added.toDouble / wl.batchBytes,
        Storage.bytes(now).toDouble / wl.tables.map(Storage.manifestBytes).sum)
    }
    var amp = (0.0, 0.0)
    // Every run, traced or not, completes at least one cycle; a traced run
    // alternates traced and untraced ops of each type (Trace.beginOp).
    // A yardstick pass runs between ops once half a second of ops passed.
    loopYard ++= Seq(yard.pass(), yard.pass())
    var lastPass = System.nanoTime
    val deadline = lastPass + (o.seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime < deadline || i < ops.size) {
      ops(i % ops.size)(h)
      i += 1
      if (i == ops.size) amp = amplification()
      if (System.nanoTime - lastPass > 500000000L) {
        loopYard += yard.pass()
        lastPass = System.nanoTime
      }
    }
    trace.opTraced = false
    Phase("loop")
    val (gc1, gcn1) = Host.gc
    val (rd1, wr1) = Host.io
    wl.finish(h)
    h.runDeferred()
    h.measuring = false
    val heapLoop = Host.liveHeapMb()
    trace.close()
    Phase("checks")

    val prim = h.okByKind(_.primary)
    val opP50 = Stats.gmeanOfMedians(prim)
    // A run holds too few samples of each op type for any percentile
    // above the median to have 10 samples beyond it, so no tail is
    // reported; the log states the sample counts.
    println(f"[graftbench] ${wl.name} seed=${o.seed} setups=" +
      setupS.map(s => f"$s%.3f").mkString(",") + f" ops=$i attempted=${h.attempted} " +
      f"failed=${h.failed}")
    (prim ++ h.okByKind(_.write)).toSeq.sortBy(_._1).foreach { case (k, xs) =>
      println(f"[graftbench]   $k%-18s n=${xs.size}%3d p50=${Stats.median(xs)}%.4f s " +
        xs.map(x => f"$x%.3f").mkString(" ")) }
    h.failures.take(10).foreach(f => System.err.println(s"[graftbench] FAILED $f"))

    // host-normalized seconds: see Yardstick
    val setupNorm = Yardstick.Reference / Stats.median(setupYard.toSeq)
    val norm = Yardstick.Reference / Stats.median(loopYard.toSeq)
    val writeP50 = Stats.gmeanOfMedians(h.okByKind(_.write))
    println(f"[graftbench] raw: setup_s=${Stats.median(setupS)}%.3f op_p50_s=$opP50%.4f " +
      f"write_p50_s=$writeP50%.4f; yardstick passes: set-up " +
      setupYard.map(v => f"$v%.3f").mkString(",") + f" s -> scale $setupNorm%.4f; loop " +
      loopYard.map(v => f"$v%.3f").mkString(",") + f" s -> scale $norm%.4f")
    val e2e = Seq(
      ("setup_s", Stats.median(setupS) * setupNorm, "s"),
      ("op_p50_s", opP50 * norm, "s"),
      ("write_p50_s", writeP50 * norm, "s"),
      ("write_rows_per_s", Stats.gmeanRate(h.all(_.kind.write), _.rows) / norm, "rows/s"),
      ("write_amp", amp._1, "ratio"),
      ("space_amp", amp._2, "ratio"),
      ("heap_live_peak_mb", math.max(heapSetup, heapLoop), "MB"),
      ("ops_ok_frac", (h.attempted - h.failed).toDouble / h.attempted, "ratio"))

    val shown =
      if (!o.trace) e2e
      else {
        val own = wl.layerMetrics(trace)
        val file = out.resolve("traces").resolve(s"${wl.name}-seed${o.seed}.json")
        trace.writeFile(file, Map("workload" -> wl.name, "seed" -> o.seed.toString))
        println(s"[graftbench] spans and counters written to $file")
        Workload.spanOps.flatMap(trace.opMetrics) ++ trace.sparkTotals ++
          Workload.layerNames.map { case (n, u) => (n, own.getOrElse(n, 0.0), u) } ++
          Seq(
            ("jvm.gc_ms", (gc1 - gc0).toDouble, "ms"),
            ("jvm.gc_count", (gcn1 - gcn0).toDouble, "count"),
            ("io.read_bytes", (rd1 - rd0).toDouble, "bytes"),
            ("io.write_bytes", (wr1 - wr0).toDouble, "bytes"),
            ("trace.overhead_frac", trace.overheadFrac, "ratio"),
            // the end-to-end times before host normalization, and the divisor
            ("raw.setup_s", Stats.median(setupS), "s"),
            ("raw.op_p50_s", opP50, "s"),
            ("raw.write_p50_s", writeP50, "s"),
            ("yardstick.setup_pass_s", Stats.median(setupYard.toSeq), "s"),
            ("yardstick.loop_pass_s", Stats.median(loopYard.toSeq), "s"))
      }

    shown.foreach { case (n, v, u) => println(f"[graftbench] $n%-36s ${Json.num(v)} $u") }
    val metrics = shown.map { case (n, v, u) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    s"""{"correct": ${h.failed == 0}, "attempted": ${h.attempted}, """ +
      s""""failed": ${h.failed}, "metrics": {$metrics}}"""
  }
}
