package perfbench

import scala.collection.mutable

/** Attribution of traced Spark jobs to the program's layers, and the
  * per-layer figures computed from them.
  *
  * A job belongs to the layer of the innermost `graft.*` frame of its
  * call site (class and method names only; line numbers are ignored, so
  * edits that shift lines do not move a job between layers). Frames of
  * `graft.report` only collect report-sized frames that `graft.operators`
  * built, so a job whose only program frames are report frames counts as
  * operators work; report's own time is what its calls spend outside job
  * spans. Jobs with no program frame at all are the benchmark's own. */
object Layers {
  final case class Frame(cls: String, method: String)

  def frames(site: String): Seq[Frame] =
    Option(site).getOrElse("").split("\n").toSeq.flatMap { line =>
      val head = line.trim.takeWhile(_ != '(')
      val dot = head.lastIndexOf('.')
      if (dot <= 0) None else Some(Frame(head.substring(0, dot), head.substring(dot + 1)))
    }

  def layerOf(site: String): String = {
    val fs = frames(site).filter(_.cls.startsWith("graft."))
    fs.find(!_.cls.startsWith("graft.report.")) match {
      case Some(f) => f.cls.split('.') match {
        case Array(_, "plans", _*) => "functions"
        case Array(_, pkg, _, _*) => pkg
        case _ => "driver"
      }
      case None => if (fs.nonEmpty) "operators" else "bench"
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  /** Steps of a sequence of jobs (one `runBatch`, one compaction, or one
    * micro-batch), read off the write targets of their SQL executions. A
    * job that writes takes its target's step; a job that writes nothing
    * belongs to the next write after it (the reads that write needs), or
    * to `first` before any write and to `last` after the final one.
    * Structured Streaming submits every micro-batch job with the call
    * site of the query's `start()`, so write targets, not stack frames,
    * are what tell the steps of a batch apart. Returns (job, step, the
    * write target the job serves). */
  def steps(jobs: Seq[JobSpan], execs: collection.Map[Long, ExecInfo],
      stepOf: String => String, first: String, last: String)
      : Seq[(JobSpan, String, String)] = {
    val sorted = jobs.sortBy(j => (j.startMs, j.id))
    val target = sorted.map(j => execs.get(j.execId).map(_.writePath).getOrElse(""))
    val firstWrite = target.indexWhere(_.nonEmpty)
    sorted.indices.map { i =>
      val next = target.indexWhere(_.nonEmpty, i)
      val (step, tgt) =
        if (firstWrite < 0 || i < firstWrite) (first, "")
        else if (next < 0) (last, "")
        else (stepOf(target(next)), target(next))
      (sorted(i), step, tgt)
    }
  }

  /** `runBatch` steps: the routing manifest (`<registry>_batch`), the
    * move log (`<registry>_batch_moves`), then the table appends; jobs
    * after the last append (notify deletion, tallies) are the commit. */
  def ingestStep(target: String): String =
    if (target.endsWith("_batch_moves")) "move"
    else if (target.endsWith("_batch")) "plan"
    else "register"

  /** `curatedIngestStep` steps by the index table each job writes. */
  def admitStep(target: String): String =
    if (target.endsWith("_compacting") || target.endsWith("groups_folding")) "compact"
    else if (target.endsWith("/band_keys") || target.endsWith("/shingles")) "index_append"
    else if (target.endsWith("/group_edges")) "edges"
    else if (target.endsWith("/ingest_metrics")) "metrics"
    else if (target.contains("token_sketch")) "sketch"
    else "output"

  /** Per-layer figures over the timed operations. Keys are the benchmark's
    * per-layer metric names; a figure that does not apply to the workload
    * is absent here and reported as 0. */
  def compute(t: SparkTrace, ops: Seq[OpSpan]): mutable.LinkedHashMap[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val opIds = ops.map(_.id).toSet
    val ended = t.jobs.filter(_.endMs >= 0).toSeq
    val jobsOf: Map[OpSpan, Seq[JobSpan]] = ops.map { o =>
      o -> ended.filter { j =>
        if (opIds(j.group)) j.group == o.id
        else j.startMs >= o.startMs && j.startMs <= o.endMs
      }
    }.toMap
    def clip(o: OpSpan, js: Seq[JobSpan]) =
      js.map(j => (math.max(j.startMs, o.startMs), math.min(j.endMs, o.endMs)))
    def seconds(pick: JobSpan => Boolean): Double =
      ops.map(o => unionMs(clip(o, jobsOf(o).filter(pick)))).sum / 1000.0

    // driver gap, and how well layer spans plus the gap cover each op
    var gapMs = 0L
    var worstErr = 0.0
    ops.foreach { o =>
      val js = jobsOf(o)
      val wall = math.max(1L, o.endMs - o.startMs)
      val gap = wall - unionMs(clip(o, js))
      gapMs += gap
      val layered = js.groupBy(j => layerOf(j.site)).values
        .map(lj => unionMs(clip(o, lj))).sum
      worstErr = math.max(worstErr, math.abs(layered + gap - wall).toDouble / wall)
    }
    out("driver.gap_s") = gapMs / 1000.0
    out("trace.reconcile_err") = worstErr

    val stagesByJob = t.stages.groupBy(_.jobId)
    val opJobs = ops.flatMap(jobsOf).distinct
    val opStages = opJobs.flatMap(j => stagesByJob.getOrElse(j.id, Nil))
    out("sources.input_mb") = opStages.map(_.inputBytes).sum / 1e6
    out("sources.scan_tasks") =
      opStages.filter(_.inputBytes > 0).map(_.tasks).sum.toDouble

    val opsJobs = opJobs.filter(j => layerOf(j.site) == "operators")
    if (opsJobs.nonEmpty) {
      val st = opsJobs.flatMap(j => stagesByJob.getOrElse(j.id, Nil))
      val input = st.map(_.inputBytes).sum
      val shufW = st.map(_.shuffleWriteBytes).sum
      out("operators.busy_s") = seconds(j => layerOf(j.site) == "operators")
      out("operators.jobs") = opsJobs.size
      out("operators.stages") = st.size
      out("operators.tasks") = st.map(_.tasks).sum
      out("operators.task_cpu_s") = st.map(_.cpuNs).sum / 1e9
      out("operators.input_mb") = input / 1e6
      out("operators.shuffle_write_mb") = shufW / 1e6
      out("operators.shuffle_read_mb") = st.map(_.shuffleReadBytes).sum / 1e6
      out("operators.spill_mb") = st.map(_.spillBytes).sum / 1e6
      out("operators.output_mb") = st.map(_.outputBytes).sum / 1e6
      out("operators.generate_nodes") = opsJobs.map(_.execId).distinct
        .flatMap(t.execs.get).map(_.generateNodes).sum
      out("operators.shuffle_per_input") =
        if (input > 0) shufW.toDouble / input else 0.0
    }

    // per job: its step and the write target it serves; a runBatch or a
    // compaction op is one sequence, a stream round one per micro-batch
    val stepped: Seq[(OpSpan, (JobSpan, String, String))] = ops.flatMap { o =>
      val seqs =
        if (o.name == "stream_round")
          jobsOf(o).groupBy(_.streamBatch).values.toSeq
            .flatMap(steps(_, t.execs, admitStep, "gate", "output"))
        else steps(jobsOf(o), t.execs, ingestStep, "plan", "commit")
      seqs.map(o -> _)
    }
    def stepSeconds(pick: ((OpSpan, (JobSpan, String, String))) => Boolean): Double =
      stepped.filter(pick).groupBy(_._1).map { case (o, xs) =>
        unionMs(clip(o, xs.map(_._2._1)))
      }.sum / 1000.0

    // ScaleUtils.compactParquet stages every rewrite in `<dir>_compacting`
    val compact = stepSeconds(_._2._3.endsWith("_compacting"))
    if (compact > 0) out("functions.compact_s") = compact

    val ingestOps = ops.filter(_.name == "runBatch")
    if (ingestOps.nonEmpty) {
      Seq("plan", "move", "register", "commit").foreach { p =>
        out(s"ingest.${p}_s") = stepSeconds(x => x._1.name == "runBatch" && x._2._2 == p)
      }
      out("ingest.jobs_per_batch") =
        ingestOps.map(o => jobsOf(o).size).sum.toDouble / ingestOps.size
    }

    if (ops.exists(_.name == "stream_round")) {
      Seq("gate", "index_append", "edges", "metrics", "sketch", "compact").foreach { p =>
        out(s"admit.${p}_s") =
          stepSeconds(x => x._1.name == "stream_round" && x._2._2 == p)
      }
      out("admit.trigger_overhead_s") =
        t.batches.map(b => math.max(0L, b.triggerMs - b.addBatchMs)).sum / 1000.0
    }
    out
  }
}
