package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** One timed workload operation: its id (also the Spark job group the
  * traced run tags its jobs with), name, wall-clock window and outcome. */
final case class OpSpan(id: String, name: String, startMs: Long, endMs: Long,
    seconds: Double, ok: Boolean)

/** Operation accounting for one run: every call through [[op]] counts as
  * attempted; one that throws is counted as failed, logged by name, and
  * kept out of every timing (its span is recorded with `ok = false` so the
  * trace can still place it, but no sample list ever sees its duration). */
final class Harness(tagJobs: Option[org.apache.spark.SparkContext] = None) {
  private var seq = 0
  var attempted = 0
  var failed = 0
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  val spans = mutable.ArrayBuffer.empty[OpSpan]

  def op[T](name: String)(body: => T): Option[T] = {
    seq += 1
    attempted += 1
    val id = f"op-$seq%05d-$name"
    tagJobs.foreach(_.setJobGroup(id, name))
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result =
      try Right(body)
      catch { case NonFatal(e) => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    val wall1 = System.currentTimeMillis()
    tagJobs.foreach(_.clearJobGroup())
    result match {
      case Right(v) =>
        samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dt
        spans += OpSpan(id, name, wall0, wall1, dt, ok = true)
        Some(v)
      case Left(e) =>
        failed += 1
        failures += name -> e.toString
        spans += OpSpan(id, name, wall0, wall1, dt, ok = false)
        System.err.println(s"[perfbench] operation $name failed: $e")
        e.printStackTrace(System.err)
        None
    }
  }

  def times(name: String): Seq[Double] =
    samples.get(name).map(_.toSeq).getOrElse(Nil)
}

object Harness {
  /** Median; NaN (reported as null) when every operation failed. */
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The accounting rule checked on every run, before any timing: a seeded
    * throwing operation is counted as attempted and failed, leaves no
    * timing sample, and does not disturb the samples of its neighbours. */
  def selfCheck(): Unit = {
    val h = new Harness()
    val quiet = System.err
    System.setErr(new java.io.PrintStream(java.io.OutputStream.nullOutputStream()))
    try {
      h.op("ok")(1)
      h.op("seeded_throw")(throw new IllegalStateException("seeded failure"))
      h.op("ok")(2)
    } finally System.setErr(quiet)
    require(h.attempted == 3, s"self-check: attempted ${h.attempted} != 3")
    require(h.failed == 1, s"self-check: failed ${h.failed} != 1")
    require(h.failures.map(_._1) == Seq("seeded_throw"),
      s"self-check: failures ${h.failures}")
    require(h.times("seeded_throw").isEmpty,
      "self-check: a failed operation was timed")
    require(h.times("ok").size == 2, "self-check: successful samples lost")
  }
}
