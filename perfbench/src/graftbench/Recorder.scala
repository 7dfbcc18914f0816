package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Everything one run records, kept in memory and written out once at the
  * end ([[toJson]]): timed operation samples, set-up times, and — in a
  * traced run — spans around calls into the engine's layers plus the Spark
  * jobs and tasks a listener saw. The metric arithmetic (percentiles,
  * driver gap, self time, ratios) lives in `perfbench/metrics.py`; this
  * side only measures.
  *
  * Jobs are charged to spans by TIME INTERVAL (a job belongs to every
  * span open when it started). With one client thread that is
  * exact, and unlike thread-local job properties it also covers jobs that
  * the engine launches from its own helper threads.
  */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  import Recorder._

  final class JobRec(val id: Int, val start: Long) {
    var end: Long = 0L
    var tasks = 0
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var bytesWritten = 0L
  }

  val samples = mutable.ArrayBuffer.empty[Sample]
  val spans = mutable.ArrayBuffer.empty[Span]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private var stack: List[Int] = Nil
  private var nextId = 1
  // true while a traced operation runs: spans are only recorded then
  private var recording = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = new JobRec(e.jobId, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
        j.tasks += 1
        j.taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          j.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Time one client operation. In a traced run the workload traces every
    * other operation or cycle (`traceThis`): the listener is attached and
    * spans are recorded. The untraced ones give the same run its own
    * baseline, so tracing overhead is traced minus untraced. */
  def op[A](cls: String, traceThis: Boolean)(body: => A): Option[A] = {
    val tr = traced && traceThis
    if (tr) {
      spark.sparkContext.addSparkListener(listener)
      recording = true
    }
    val gc0 = gcMillis
    val t0 = System.nanoTime()
    val res: Either[Throwable, A] =
      try Right(if (tr) span[A](s"client.$cls")(body) else body)
      catch { case scala.util.control.NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    if (tr) {
      recording = false
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      add("traced_gc_ms", (gcMillis - gc0).toDouble)
    }
    samples += Sample(cls, ms, tr, res.isRight)
    res match {
      case Left(e) =>
        System.err.println(s"[perfbench] $cls failed: $e")
        e.printStackTrace()
        None
      case Right(a) => Some(a)
    }
  }

  /** A span around a call into one engine layer; `attrs` is evaluated
    * after the timed body (outside the span) from its result. */
  def span[A](name: String, attrs: A => Map[String, Any] = (_: A) =>
      Map.empty[String, Any])(body: => A): A = {
    if (!recording) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try body finally stack = stack.tail
    val wall = (System.nanoTime() - t0) / 1e6
    val s1 = System.currentTimeMillis()
    spans += Span(id, parent, name, s0, s1, wall, attrs(r))
    r
  }

  def isRecording: Boolean = recording

  def add(key: String, v: Double): Unit =
    extra(key) = extra.get(key).map(_.asInstanceOf[Double]).getOrElse(0.0) + v

  def check(name: String, ok: Boolean, detail: String): Unit = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }

  def toJson(meta: Map[String, Any]): String = synchronized {
    Json.write(meta ++ Map(
      "samples" -> samples.map(s => Map("cls" -> s.cls, "ms" -> s.ms,
        "traced" -> s.traced, "ok" -> s.ok)),
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start" -> s.startMs, "end" -> s.endMs,
        "wall_ms" -> s.wallMs, "attrs" -> s.attrs)),
      "jobs" -> jobs.values.filter(_.end > 0).map(j => Map("id" -> j.id,
        "start" -> j.start, "end" -> j.end, "tasks" -> j.tasks,
        "task_ms" -> j.taskMs, "shuffle_bytes" -> j.shuffleBytes,
        "spill_bytes" -> j.spillBytes, "bytes_written" -> j.bytesWritten)),
      "checks" -> checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "extra" -> extra))
  }
}

object Recorder {
  final case class Sample(cls: String, ms: Double, traced: Boolean,
                          ok: Boolean)
  final case class Span(id: Int, parent: Int, name: String,
                        startMs: Long, endMs: Long, wallMs: Double,
                        attrs: Map[String, Any])
}
