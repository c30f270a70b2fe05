package graftbench

import scala.collection.mutable

import org.apache.spark.{BenchShim, SparkContext}
import org.apache.spark.scheduler._

/** The raw record one run hands to perfbench/run.py: samples, counters,
  * checks and spans. All arithmetic over it (medians, quantiles, self
  * time, ratios) lives in perfbench/stats.py.
  */
final class Record {
  private val fields = mutable.LinkedHashMap[String, Any]()
  private val checks = mutable.ArrayBuffer[Map[String, Any]]()
  var attempted = 0L
  var failed = 0L

  def update(key: String, value: Any): Unit = fields(key) = value

  /** Append one sample to the series `key`. */
  def add(key: String, value: Double): Unit =
    fields(key) = fields.getOrElse(key, Vector.empty[Double])
      .asInstanceOf[Vector[Double]] :+ value

  /** Record an output check; a failed check fails `ops` operations. */
  def check(name: String, ok: Boolean, detail: => String, ops: Long): Unit = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))
    if (!ok) {
      failed += ops
      System.err.println(s"[perfbench] check failed: $name: $detail")
    }
  }

  def toJson: String = Json(fields.toMap ++ Map(
    "checks" -> checks.toSeq, "attempted" -> attempted, "failed" -> failed))
}

object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case s: String => quote(s)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** In-memory span tree. A span wraps one call from the benchmark into a
  * layer; every Spark job started inside it carries the span id in its
  * job description, which is how the [[TaskLedger]] parents jobs (and
  * their stages) to the calling span. While disabled, a span costs one
  * branch.
  */
final class Tracer {
  var enabled = false
  private val spans = mutable.ArrayBuffer[Map[String, Any]]()
  private var stack: List[Int] = List(0)
  private var nextId = 1
  var sc: SparkContext = _

  def apply[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.head
      stack = id :: stack
      if (sc != null) sc.setJobDescription(s"span=$id")
      val t0 = Clock.epochMs()
      try body
      finally {
        spans += Map("id" -> id, "parent" -> parent, "name" -> name,
          "layer" -> layer, "start_ms" -> t0, "end_ms" -> Clock.epochMs())
        stack = stack.tail
        if (sc != null)
          sc.setJobDescription(if (stack.head == 0) null else s"span=${stack.head}")
      }
    }

  def all: Seq[Map[String, Any]] = spans.toSeq
}

object Clock {
  private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  /** Wall-clock milliseconds with nanoTime resolution, comparable with
    * the epoch-millisecond times Spark puts on job and stage events.
    */
  def epochMs(): Double = offsetMs + System.nanoTime() / 1e6
  def secondsSince(t0Ns: Long): Double = (System.nanoTime() - t0Ns) / 1e9
}

/** Spark's own account of the jobs a workload ran: one record per job and
  * per stage attempt, with the task metrics Spark reports. Jobs link to
  * the benchmark span named in their description.
  */
final class TaskLedger extends SparkListener {
  private final class StageAcc(val job: Int) {
    var name = ""
    var submitMs = 0L
    var completeMs = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    val taskMs = mutable.ArrayBuffer[Long]()
  }
  private val jobs = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.LinkedHashMap[(Int, Int), StageAcc]()

  private def stage(id: Int, attempt: Int): StageAcc =
    stages.getOrElseUpdate((id, attempt), new StageAcc(stageJob.getOrElse(id, -1)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    val span = if (desc.startsWith("span=")) desc.stripPrefix("span=").toInt else 0
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    jobs(e.jobId) = mutable.Map("id" -> e.jobId, "span" -> span,
      "start_ms" -> e.time, "end_ms" -> e.time, "ok" -> true)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j("end_ms") = e.time
      j("ok") = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.name = i.name
    s.submitMs = i.submissionTime.getOrElse(0L)
    s.completeMs = i.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled
    }
  }

  /** Every job and stage attempt seen, as plain maps. Drains the bus
    * first, so it is complete once the measured actions have returned.
    */
  def dump(sc: SparkContext): Map[String, Any] = {
    BenchShim.drainListenerBus(sc)
    synchronized {
      val js = jobs.values.map(_.toMap).toSeq
      val ss = stages.toSeq.map {
        case ((id, attempt), s) => Map[String, Any](
          "id" -> id, "attempt" -> attempt, "job" -> s.job, "name" -> s.name,
          "start_ms" -> s.submitMs, "end_ms" -> s.completeMs,
          "run_ms" -> s.runMs, "gc_ms" -> s.gcMs,
          "shuffle_write_bytes" -> s.shuffleWrite,
          "shuffle_read_bytes" -> s.shuffleRead, "spill_bytes" -> s.spill,
          "task_ms" -> s.taskMs.toSeq)
      }
      Map("jobs" -> js, "stages" -> ss)
    }
  }
}
