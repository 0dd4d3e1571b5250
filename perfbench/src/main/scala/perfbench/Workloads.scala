package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

import graft.functions.FitsHeader
import graft.report.MonitorJob
import graft.streaming.{IngestPipeline, StreamingAnalytics}

/** One workload over the inputs under one directory: state it seeds during
  * set-up, one closed-loop round, and the figures it derives from the
  * timed operations. `round` returns false (running nothing) once the
  * generated inputs are used up. Staging copies input files (keeping
  * their mtimes), so a workload can be set up and run again. */
trait Workload {
  def name: String
  def setup(spark: SparkSession): Unit
  def round(spark: SparkSession, h: Harness): Boolean
  /** Whether the rounds run so far end a cycle of the workload's state
    * maintenance; the timed loop only stops at a cycle's end, so every
    * run has the same make-up of plain and maintenance rounds. */
  def cycleDone: Boolean = true
  /** `items_per_s` and `latency_s` — the two end-to-end figures every
    * workload defines, each in its workload's own terms. */
  def endToEnd(h: Harness): Seq[(String, Double)]
  /** The same figures under the names they have for this workload. */
  def named(e2e: collection.Map[String, Double]): Seq[(String, Double)]
  def perLayer(spark: SparkSession, h: Harness, t: SparkTrace,
      rchar: Long, wchar: Long): Seq[(String, Double)] = Nil
  /** Facts the external output checks need (JSON object). */
  def outputs(spark: SparkSession, h: Harness): String = "{}"
}

object Workload {
  /** The workload over `work`. The warm-up instance runs until its input
    * is used up: two stage-in ticks (the first runs against an empty
    * registry), two monitor cycles (over the timed run's own tables,
    * which the monitor only reads; after one cycle the next still ran
    * 10–20% slower), one micro-batch that also compacts. */
  def apply(name: String, work: Path, warm: Boolean = false): Workload = name match {
    case "stagein_ingest" => new StageInIngest(work)
    case "monitor_report" =>
      if (warm) new MonitorReport(work, work.getParent.resolve("data"), cycles = 2)
      else new MonitorReport(work, work.resolve("data"), Int.MaxValue)
    case "stream_admit" =>
      new StreamAdmit(work, compactEvery = if (warm) 1 else StreamAdmit.CompactEvery)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def inputs(work: Path) = mapper.readTree(work.resolve("inputs.json").toFile)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** Data files (no markers, no checksums) under a directory: count, bytes. */
  def dataFiles(p: Path): (Int, Long) = if (!Files.exists(p)) (0, 0L) else {
    val s = Files.walk(p)
    try {
      val fs = s.iterator().asScala.filter(Files.isRegularFile(_)).filter { f =>
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }.toSeq
      (fs.size, fs.map(Files.size).sum)
    } finally s.close()
  }

  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Least-squares slope of ys against their index, in ys' unit per step. */
  def slope(ys: Seq[Double]): Double = if (ys.size < 2) 0.0 else {
    val n = ys.size
    val mx = (n - 1) / 2.0
    val my = ys.sum / n
    val num = ys.indices.map(i => (i - mx) * (ys(i) - my)).sum
    val den = ys.indices.map(i => (i - mx) * (i - mx)).sum
    num / den
  }
}

/** Reference E1 as cron ticks: each round stages one generated delivery
  * (untimed) and runs `IngestPipeline.runBatch` over it; every
  * [[CompactEvery]] ticks the registry is compacted as its own
  * operation. */
final class StageInIngest(work: Path) extends Workload {
  val name = "stagein_ingest"
  val CompactEvery = 4
  private val deliveries = {
    val s = Files.list(work.resolve("deliveries"))
    try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
  }
  val cfg = IngestPipeline.Config(
    stageDir = work.resolve("stage").toString,
    archiveDir = work.resolve("archive").toString,
    quarantineDir = work.resolve("quarantine").toString,
    registryDir = work.resolve("registry").toString,
    badFileDir = work.resolve("bad_files").toString,
    compactEveryBatches = CompactEvery)
  private var next = 0
  private var routed = 0L
  private var payloadBytes = 0L
  private val stateDirs = Seq("stage", "archive", "quarantine", "registry",
    "registry_location", "registry_batch", "registry_batch_moves", "bad_files")

  def setup(spark: SparkSession): Unit = {
    // the deliveries are only staged during the timed loop, so set-up
    // starts every round from the same empty archive
    stateDirs.foreach(d => Workload.deleteTree(work.resolve(d)))
    Files.createDirectories(work.resolve("stage"))
    next = 0
    routed = 0L
    payloadBytes = 0L
  }

  /** Copies one delivery's files into the stage dir, mtimes kept. */
  private def stage(d: Path): Unit = {
    val s = Files.walk(d)
    val files = try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
    files.foreach { f =>
      val dst = work.resolve("stage").resolve(work.resolve("deliveries").relativize(f))
      Files.createDirectories(dst.getParent)
      if (!f.getFileName.toString.endsWith(".dbb")) payloadBytes += Files.size(f)
      Files.copy(f, dst, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  def round(spark: SparkSession, h: Harness): Boolean = {
    if (next >= deliveries.size) return false
    stage(deliveries(next))
    next += 1
    h.op("runBatch")(IngestPipeline.runBatch(spark, cfg)).foreach { r =>
      routed += r.archived + r.quarantined
    }
    if (next % CompactEvery == 0)
      h.op("compact")(IngestPipeline.maybeCompact(spark, cfg, next))
    true
  }

  def endToEnd(h: Harness): Seq[(String, Double)] = Seq(
    "items_per_s" -> routed / h.times("runBatch").sum,
    "latency_s" -> Harness.median(h.times("runBatch")))

  def named(e: collection.Map[String, Double]): Seq[(String, Double)] = Seq(
    "ingest_files_per_s" -> e("items_per_s"),
    "ingest_batch_p50_s" -> e("latency_s"))

  override def perLayer(spark: SparkSession, h: Harness, t: SparkTrace,
      rchar: Long, wchar: Long): Seq[(String, Double)] = {
    val (rf, rb) = Workload.dataFiles(work.resolve("registry"))
    val (lf, lb) = Workload.dataFiles(work.resolve("registry_location"))
    Seq(
      "ingest.registry_files" -> (rf + lf).toDouble,
      "ingest.registry_mb" -> (rb + lb) / 1e6,
      "ingest.batch_slope_ms" -> Workload.slope(h.times("runBatch")) * 1000,
      "proc.read_per_payload_byte" -> rchar.toDouble / payloadBytes,
      "proc.write_per_payload_byte" -> wchar.toDouble / payloadBytes,
      "functions.fits_parse_mb_per_s" -> fitsParseMbPerS())
  }

  /** `FitsHeader.parseAll` throughput over this run's archived raw
    * payloads (read into memory first; only the parse is timed). */
  private def fitsParseMbPerS(): Double = {
    val raw = work.resolve("archive").resolve("raw")
    if (!Files.exists(raw)) return 0.0
    val s = Files.list(raw)
    val payloads = try s.iterator().asScala.map(Files.readAllBytes).toSeq finally s.close()
    val bytes = payloads.map(_.length.toLong).sum
    var n = 0L
    var hdus = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 300000000L || n == 0) {
      payloads.foreach(p => hdus += FitsHeader.parseAll(p).size)
      n += 1
    }
    require(hdus > 0, "no HDU parsed from the archived payloads")
    bytes * n / 1e6 / ((System.nanoTime() - t0) / 1e9)
  }

  override def outputs(spark: SparkSession, h: Harness): String =
    Json.obj(Seq("deliveries_staged" -> next.toString,
      "files_routed" -> routed.toString,
      "payload_bytes" -> payloadBytes.toString))
}

/** Reference E2: the four-page monitor run over static generated tables
  * (`dataDir`), each cycle writing its pages to its own directory under
  * `work` with the timestamp and took-seconds stamps pinned. */
final class MonitorReport(work: Path, dataDir: Path, cycles: Int) extends Workload {
  val name = "monitor_report"
  private val data = dataDir.toString
  private val inputRows = Workload.inputs(dataDir.getParent).get("input_rows").asLong()
  private var cycle = 0
  private val collected = mutable.ArrayBuffer.empty[Int]

  def setup(spark: SparkSession): Unit = {
    Workload.deleteTree(work.resolve("pages"))
    cycle = 0
    collected.clear()
  }

  def round(spark: SparkSession, h: Harness): Boolean = {
    if (cycle >= cycles) return false
    val out = work.resolve("pages").resolve(f"cycle_$cycle%03d").toString
    cycle += 1
    h.op("MonitorJob.run")(MonitorJob.run(spark, data, out,
      generatedAt = "2026-01-01T00:00:00Z", tookSecs = 0.0)).foreach { pages =>
      // data rows collected to the driver: every table row but its header
      collected += pages.values.map { html =>
        "<tr".r.findAllIn(html).size - "<table".r.findAllIn(html).size }.sum
    }
    true
  }

  def endToEnd(h: Harness): Seq[(String, Double)] = Seq(
    "items_per_s" -> inputRows * h.times("MonitorJob.run").size /
      h.times("MonitorJob.run").sum,
    "latency_s" -> Harness.median(h.times("MonitorJob.run")))

  def named(e: collection.Map[String, Double]): Seq[(String, Double)] = Seq(
    "monitor_report_s" -> e("latency_s"))

  override def perLayer(spark: SparkSession, h: Harness, t: SparkTrace,
      rchar: Long, wchar: Long): Seq[(String, Double)] = {
    val runs = h.spans.filter(o => o.ok && o.name == "MonitorJob.run")
    val render = runs.map { o =>
      val iv = t.jobs.filter(j => j.group == o.id && j.endMs >= 0)
        .map(j => (math.max(j.startMs, o.startMs), math.min(j.endMs, o.endMs)))
      (o.endMs - o.startMs) - Layers.unionMs(iv.toSeq)
    }
    Seq(
      "report.render_s" -> render.sum / 1000.0 / math.max(1, runs.size),
      "report.collected_rows" -> collected.sum.toDouble / math.max(1, collected.size))
  }

  override def outputs(spark: SparkSession, h: Harness): String =
    Json.obj(Seq("cycles" -> cycle.toString))
}

/** The streaming admission loop: each round copies one generated
  * micro-batch file into the source dir and runs
  * `StreamingAnalytics.runCuratedIngest` under `AvailableNow` until the
  * query ends, so a round is one query start and one micro-batch. The
  * checkpoint keeps the batch ids running across rounds, so every
  * `compactEvery`-th round's batch also compacts the index. The corpus
  * index is seeded from part of the corpus during set-up. */
final class StreamAdmit(work: Path, compactEvery: Int) extends Workload {
  val name = "stream_admit"
  private val batchFiles = {
    val s = Files.list(work.resolve("batches"))
    try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
  }
  private val src = work.resolve("stream_src")
  private val idx = work.resolve("stream_idx").toString
  private val verdictsDir = work.resolve("stream_verdicts").toString
  private val inputs = Workload.inputs(work)
  private val batchDocs = inputs.get("batch_docs").asLong()
  private val probes = inputs.get("probe_tokens").elements()
    .asScala.map(_.asText()).toSeq
  private var next = 0
  private var docs = 0L
  private var sourceRows = 0L
  private val batchSeconds = mutable.ArrayBuffer.empty[Double]
  private val schema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, text STRING")

  def setup(spark: SparkSession): Unit = {
    Seq("stream_src", "stream_idx", "stream_ckpt", "stream_verdicts")
      .foreach(d => Workload.deleteTree(work.resolve(d)))
    Files.createDirectories(src)
    StreamingAnalytics.writeCorpusIndex(
      spark.read.parquet(work.resolve("seed").toString), idx)
    next = 0
    docs = 0L
    sourceRows = 0L
    batchSeconds.clear()
  }

  def round(spark: SparkSession, h: Harness): Boolean = {
    if (next >= batchFiles.size) return false
    val f = batchFiles(next)
    Files.copy(f, src.resolve(f.getFileName), StandardCopyOption.COPY_ATTRIBUTES)
    next += 1
    h.op("stream_round") {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src.toString)
      val q = StreamingAnalytics.runCuratedIngest(stream, idx,
        work.resolve("stream_ckpt").toString,
        compactEveryBatches = compactEvery) { (verdicts, id) =>
        verdicts.withColumn("batch", lit(id))
          .write.mode("append").parquet(verdictsDir)
      }
      q.awaitTermination()
      q.recentProgress.toSeq
    }.foreach { ps =>
      // every file holds `batchDocs` docs; the progress row counts are
      // not used for this, since each action the batch function runs on
      // the micro-batch re-scans the source and adds to them
      docs += batchDocs
      sourceRows += ps.map(_.numInputRows).sum
      batchSeconds ++= ps.filter(_.numInputRows > 0).map(_.batchDuration / 1000.0)
    }
    true
  }

  override def cycleDone: Boolean = next % compactEvery == 0

  def endToEnd(h: Harness): Seq[(String, Double)] = Seq(
    "items_per_s" -> docs / h.times("stream_round").sum,
    "latency_s" -> Harness.median(batchSeconds.toSeq))

  def named(e: collection.Map[String, Double]): Seq[(String, Double)] = Seq(
    "admit_docs_per_s" -> e("items_per_s"),
    "admit_batch_p50_s" -> e("latency_s"))

  override def perLayer(spark: SparkSession, h: Harness, t: SparkTrace,
      rchar: Long, wchar: Long): Seq[(String, Double)] = {
    val (n, b) = Workload.dataFiles(work.resolve("stream_idx"))
    Seq("admit.state_mb" -> b / 1e6, "admit.state_files" -> n.toDouble)
  }

  /** The maintained sketch's estimates for the generator's probe tokens. */
  override def outputs(spark: SparkSession, h: Harness): String = {
    val est = StreamingAnalytics.tokenSketchEst(spark, idx, probes).collect()
    Json.obj(Seq(
      "files_delivered" -> next.toString,
      "docs" -> docs.toString,
      "source_rows" -> sourceRows.toString,
      "batches" -> batchSeconds.size.toString,
      "batch_s" -> batchSeconds.map(Json.num).mkString("[", ",", "]"),
      "sketch" -> est.map { r =>
        Json.obj(Seq("tok" -> Json.str(r.getString(0)),
          "est" -> r.getAs[Number](1).longValue.toString,
          "n_tok" -> r.getAs[Number](2).longValue.toString))
      }.mkString("[", ",", "]")))
  }
}

object StreamAdmit {
  val CompactEvery = 3
}
