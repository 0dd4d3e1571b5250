package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A Spark job as the listener saw it. `site` is the long-form call site
  * (the user stack at the action that submitted it). */
final case class JobSpan(id: Int, startMs: Long, var endMs: Long,
    group: String, execId: Long, streamBatch: Long, site: String,
    stageIds: Seq[Int])

/** Task metrics summed over one completed stage. */
final case class StageStats(stageId: Int, jobId: Int, tasks: Int,
    cpuNs: Long, inputBytes: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long, outputBytes: Long)

/** What the SQL execution-start event tells about one execution: its
  * call site, its `Generate` operators (one per explode pass) and the
  * directory it writes, if any. */
final case class ExecInfo(site: String, generateNodes: Int, writePath: String)

/** One streaming micro-batch progress report. */
final case class BatchProgress(batchId: Long, durationMs: Long,
    addBatchMs: Long, triggerMs: Long, inputRows: Long)

/** In-memory span store fed by a [[SparkListener]] and a
  * [[StreamingQueryListener]]. Events only append to buffers; every
  * per-layer figure is computed once after the run ([[Layers]]). */
final class SparkTrace extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobSpan]
  val stages = mutable.ArrayBuffer.empty[StageStats]
  val execs = mutable.HashMap.empty[Long, ExecInfo]
  val batches = mutable.ArrayBuffer.empty[BatchProgress]
  private val active = mutable.LinkedHashMap.empty[Int, JobSpan]

  private def prop(e: SparkListenerJobStart, k: String): Option[String] =
    Option(e.properties).flatMap(p => Option(p.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val execId = prop(e, "spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    // the job's own call site when it was submitted from program code;
    // jobs submitted from helper threads (broadcasts) carry no program
    // frame and take their SQL execution's call site instead
    val stageSite = if (e.stageInfos.isEmpty) ""
      else e.stageInfos.maxBy(_.stageId).details
    val site = if (stageSite.contains("graft.")) stageSite
      else execs.get(execId).map(_.site).getOrElse(stageSite)
    val j = JobSpan(e.jobId, e.time, -1L,
      prop(e, "spark.jobGroup.id").getOrElse(""), execId,
      prop(e, "streaming.sql.batchId").map(_.toLong).getOrElse(-1L), site,
      e.stageIds)
    jobs += j
    active(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    active.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val owner = active.values.toSeq.reverse
        .find(_.stageIds.contains(info.stageId)).map(_.id).getOrElse(-1)
      val tm = info.taskMetrics
      if (tm != null) stages += StageStats(info.stageId, owner, info.numTasks,
        tm.executorCpuTime, tm.inputMetrics.bytesRead,
        tm.shuffleReadMetrics.remoteBytesRead + tm.shuffleReadMetrics.localBytesRead,
        tm.shuffleWriteMetrics.bytesWritten,
        tm.memoryBytesSpilled + tm.diskBytesSpilled,
        tm.outputMetrics.bytesWritten)
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val nodes = SparkTrace.nodes(s.sparkPlanInfo)
      execs(s.executionId) = ExecInfo(s.details,
        nodes.count(_.nodeName == "Generate"), SparkTrace.writePath(nodes))
    }
    case _ =>
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      SparkTrace.this.synchronized {
        batches += SparkTrace.progress(e.progress)
      }
  }

  /** Spans as JSON lines, written once at the end of a traced run. */
  def dump(path: java.nio.file.Path, ops: Seq[OpSpan]): Unit = synchronized {
    def q(s: String) = Json.str(s)
    val lines = ops.map(o => s"""{"kind":"op","id":${q(o.id)},"name":${q(o.name)},"start_ms":${o.startMs},"end_ms":${o.endMs},"ok":${o.ok}}""") ++
      jobs.map(j => s"""{"kind":"job","id":${j.id},"start_ms":${j.startMs},"end_ms":${j.endMs},"group":${q(j.group)},"exec":${j.execId},"batch":${j.streamBatch},"write":${q(execs.get(j.execId).map(_.writePath).getOrElse(""))},"layer":${q(Layers.layerOf(j.site))},"frames":${Layers.frames(j.site).filter(_.cls.startsWith("graft.")).take(6).map(f => q(f.cls + "." + f.method)).mkString("[", ",", "]")}}""") ++
      batches.map(b => s"""{"kind":"batch","id":${b.batchId},"duration_ms":${b.durationMs},"add_batch_ms":${b.addBatchMs},"trigger_ms":${b.triggerMs},"rows":${b.inputRows}}""")
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object SparkTrace {
  def nodes(p: org.apache.spark.sql.execution.SparkPlanInfo)
      : Seq[org.apache.spark.sql.execution.SparkPlanInfo] =
    if (p == null) Nil else p +: p.children.flatMap(nodes)

  /** Target directory of a file write: the first path of the insert
    * command's own description. */
  def writePath(ns: Seq[org.apache.spark.sql.execution.SparkPlanInfo]): String =
    ns.find(_.nodeName.contains("InsertIntoHadoopFsRelationCommand"))
      .flatMap(n => "file:[^\\s,\\]]+".r.findFirstIn(n.simpleString))
      .getOrElse("")

  def progress(p: org.apache.spark.sql.streaming.StreamingQueryProgress)
      : BatchProgress = {
    def d(k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    BatchProgress(p.batchId, p.batchDuration, d("addBatch"),
      d("triggerExecution"), p.numInputRows)
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
