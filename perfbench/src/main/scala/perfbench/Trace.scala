package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One clock for spans and Spark events: epoch milliseconds with sub-ms
  * resolution. Listener events carry `System.currentTimeMillis` stamps, so
  * spans are anchored to the same epoch once, then advanced by `nanoTime`.
  */
object Clock {
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

/** A timed interval: `kind` is "op" for a unit op of the workload (always
  * recorded; the end-to-end metrics come from these) or "span" for a layer
  * call recorded only in the traced run.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    run: String, start: Double, end: Double)

/** In-memory span recorder. Spans nest through a stack (one thread records:
  * the benchmark's main thread), and are written out once at the end.
  */
final class Recorder(val tracing: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack = List.empty[Int]

  private def timed[T](kind: String, name: String, run: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = Clock.nowMs
    try body
    finally {
      stack = stack.tail
      spans += Span(id, parent, kind, name, run, t0, Clock.nowMs)
    }
  }

  /** A unit op: the sample the end-to-end latency metrics are taken from. */
  def op[T](name: String, run: String)(body: => T): T = timed("op", name, run)(body)

  /** A layer call: recorded in the traced run only. */
  def span[T](name: String, run: String)(body: => T): T =
    if (tracing) timed("span", name, run)(body) else body

  /** Extra work that only the traced run performs (e.g. forcing a plan). */
  def traced(body: => Unit): Unit = if (tracing) body
}

final case class JobRec(id: Int, start: Long, var end: Long,
    var tasks: Int, var runMs: Long, var shuffleBytes: Long)

/** Job, task and stage accounting from Spark's public listener API. */
final class JobListener extends SparkListener {
  val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = scala.collection.mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, 0, 0L, 0L)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageToJob.get(e.stageId); r <- jobs.get(j)) {
      r.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        r.runMs += m.executorRunTime
        r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def open: Int = synchronized(jobs.values.count(_.end < 0))

  /** Events arrive on Spark's listener bus thread: wait until every started
    * job has ended and no new job appeared for a short quiet period.
    */
  def settle(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val n = synchronized(jobs.size)
      if (n != last || open > 0) { last = n; quietSince = System.currentTimeMillis() }
      else if (System.currentTimeMillis() - quietSince > 300) return
      Thread.sleep(20)
    }
  }
}

/** Streaming progress events, as JSON, in arrival order. */
final class ProgressListener extends StreamingQueryListener {
  val events = ArrayBuffer.empty[String]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { events += e.progress.json }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Minimal JSON writer for the result file `run.py` reads. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
