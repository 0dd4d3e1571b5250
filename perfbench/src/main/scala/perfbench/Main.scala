package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: one workload, one process, one client.
  *
  * {{{
  * perfbench.Main --workload <name> --seconds <s> --trace <0|1>
  *     --work <dir with generated inputs> --out <result.json>
  * }}}
  *
  * Sets up five times (session start, a warm-up query, the state the
  * workload seeds) and keeps the last session; runs the workload on a
  * small input of its own, untimed, so the timed rounds start warm;
  * then runs whole rounds of the workload until `--seconds` have passed
  * and the last maintenance cycle is complete, and writes the run's
  * timings, accounting and (traced) per-layer figures to `--out`. Input
  * generation and output checking happen outside this process
  * (`run.py`); the program sees only the generated inputs. */
object Main {
  val SetupRounds = 5

  def session(cores: Int, work: Path): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()

  private def warmup(spark: SparkSession): Unit = {
    spark.range(0, 200000, 1, spark.sparkContext.defaultParallelism)
      .selectExpr("sum(id)", "count(distinct id % 97)").collect()
    ()
  }

  /** /proc/self/io counters (rchar, wchar); zeros where unreadable. */
  def procIo(): (Long, Long) = {
    val kv = try {
      scala.io.Source.fromFile("/proc/self/io").getLines().map(_.split(":\\s*"))
        .collect { case Array(k, v) => k -> v.trim.toLong }.toMap
    } catch { case _: Exception => Map.empty[String, Long] }
    (kv.getOrElse("rchar", 0L), kv.getOrElse("wchar", 0L))
  }

  /** Peak resident set (VmHWM) of this process in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  private def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors()

    Harness.selfCheck()
    val wl = Workload(opts("workload"), work)
    val warm = Workload(opts("workload"), work.resolve("warm"), warm = true)

    val setupTimes = (1 to SetupRounds).map { i =>
      val t0 = System.nanoTime()
      val spark = session(cores, work)
      spark.sparkContext.setLogLevel("WARN")
      warmup(spark)
      wl.setup(spark)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SetupRounds) spark.stop()
      dt
    }
    val spark = SparkSession.active

    // untimed warm-up: the workload's own rounds on its small input, so
    // the timed rounds do not pay first-use code generation and JIT
    val w0 = System.nanoTime()
    val wh = new Harness()
    warm.setup(spark)
    while (warm.round(spark, wh)) ()
    if (wh.failed > 0)
      throw new IllegalStateException(s"warm-up round failed: ${wh.failures}")
    val warmS = (System.nanoTime() - w0) / 1e9

    val trace = if (traced) {
      val t = new SparkTrace
      spark.sparkContext.addSparkListener(t)
      spark.streams.addListener(t.streaming)
      Some(t)
    } else None
    val h = new Harness(trace.map(_ => spark.sparkContext))

    val (rchar0, wchar0) = procIo()
    val gc0 = gcMs()
    val cpu0 = cpuNs()
    val t0 = System.nanoTime()
    var rounds = 0
    while (((System.nanoTime() - t0) / 1e9 < seconds || !wl.cycleDone) &&
        wl.round(spark, h))
      rounds += 1
    val windowS = (System.nanoTime() - t0) / 1e9
    val cpuS = (cpuNs() - cpu0) / 1e9
    val gcS = (gcMs() - gc0) / 1000.0
    val (rchar1, wchar1) = procIo()

    val e2e = mutable.LinkedHashMap.empty[String, Double]
    e2e("setup_s") = Harness.median(setupTimes)
    e2e ++= wl.endToEnd(h)

    val layers = mutable.LinkedHashMap.empty[String, Double]
    trace.foreach { t =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val perRound = Layers.compute(t, h.spans.filter(_.ok).toSeq)
      perRound("jvm.gc_s") = gcS
      perRound("jvm.cpu_s") = cpuS
      perRound ++= wl.perLayer(spark, h, t,
        rchar1 - rchar0, wchar1 - wchar0)
      val ratios = Set("operators.shuffle_per_input", "ingest.jobs_per_batch",
        "ingest.batch_slope_ms", "ingest.registry_files", "ingest.registry_mb",
        "proc.read_per_payload_byte", "proc.write_per_payload_byte",
        "functions.fits_parse_mb_per_s", "admit.state_mb", "admit.state_files",
        "report.render_s", "report.collected_rows", "trace.reconcile_err")
      // additive figures are reported per round, so runs of different
      // lengths compare
      perRound.foreach { case (k, v) =>
        layers(k) = if (ratios(k) || rounds == 0) v else v / rounds
      }
      layers("proc.cpu_util") = cpuS / (windowS * cores)
      t.dump(work.resolve("trace.jsonl"), h.spans.toSeq)
    }
    val outputs = wl.outputs(spark, h)
    val peak = peakRssMb()
    e2e("peak_rss_mb") = peak

    def m(kv: collection.Map[String, Double]) =
      Json.obj(kv.toSeq.map { case (k, v) => k -> Json.num(v) })
    val record = Json.obj(Seq(
      "workload" -> Json.str(wl.name),
      "attempted" -> h.attempted.toString,
      "failed" -> h.failed.toString,
      "failures" -> h.failures.map { case (n, e) =>
        Json.obj(Seq("op" -> Json.str(n), "error" -> Json.str(e))) }
        .mkString("[", ",", "]"),
      "rounds" -> rounds.toString,
      "window_s" -> Json.num(windowS),
      "setup_rounds_s" -> setupTimes.map(Json.num).mkString("[", ",", "]"),
      "warm_s" -> Json.num(warmS),
      "cores" -> cores.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "end_to_end" -> m(e2e),
      "named" -> m(mutable.LinkedHashMap(wl.named(e2e): _*)),
      "per_layer" -> m(layers),
      "samples" -> Json.obj(h.samples.toSeq.map { case (k, v) =>
        k -> v.map(Json.num).mkString("[", ",", "]") }),
      "outputs" -> outputs))
    Files.write(Paths.get(opts("out")), record.getBytes("UTF-8"))
    spark.stop()
  }
}
