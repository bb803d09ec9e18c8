package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.http.{JArr, JBool, JNum, JObj, JStr, JVal}

/** Everything one run measures, filled from any thread and rendered once
  * at exit: latency samples by name, operation counts, named scalars and
  * the output-check verdicts. */
final class Recorder {
  private val samples = new ConcurrentHashMap[String, ArrayBuffer[Double]]()
  private val counts = new ConcurrentHashMap[String, AtomicLong]()
  private val scalars = new ConcurrentHashMap[String, Double]()
  private val checks = ArrayBuffer.empty[(String, Boolean, String)]
  private val blobs = new ConcurrentHashMap[String, JVal]()

  def sample(name: String, v: Double): Unit = {
    val buf = samples.computeIfAbsent(name, _ => ArrayBuffer.empty[Double])
    buf.synchronized(buf += v)
  }
  def count(name: String, n: Long = 1L): Unit =
    counts.computeIfAbsent(name, _ => new AtomicLong).addAndGet(n)
  def scalar(name: String, v: Double): Unit = scalars.put(name, v)
  def blob(name: String, v: JVal): Unit = blobs.put(name, v)
  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks.synchronized(checks += ((name, ok, detail)))

  /** One attempted operation of kind `op`; a throw counts as a failure and
    * propagates only when `rethrow`. */
  def attempt[A](op: String)(body: => A): Option[A] = {
    count(s"attempted.$op")
    try Some(body)
    catch {
      case scala.util.control.NonFatal(e) =>
        count(s"failed.$op")
        check(s"no_error.$op", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        None
    }
  }

  def toJson: JObj = {
    def num(d: Double) = JNum(BigDecimal(d))
    JObj.of(
      "samples" -> JObj(samples.asScala.toVector.sortBy(_._1).map { case (k, b) =>
        k -> (JArr(b.synchronized(b.toVector).map(num)): JVal) }),
      "counts" -> JObj(counts.asScala.toVector.sortBy(_._1).map { case (k, v) =>
        k -> (JNum(BigDecimal(v.get)): JVal) }),
      "scalars" -> JObj(scalars.asScala.toVector.sortBy(_._1).map { case (k, v) =>
        k -> (num(v): JVal) }),
      "checks" -> JArr(checks.synchronized(checks.toVector).map { case (n, ok, d) =>
        JObj.of("name" -> JStr(n), "ok" -> JBool(ok), "detail" -> JStr(d)) }),
      "blobs" -> JObj(blobs.asScala.toVector.sortBy(_._1)))
  }
}

object Clock {
  def nowS: Double = System.nanoTime() / 1e9
  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = body; (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** Spans around the benchmark's calls into each engine layer. Off unless
  * the run is traced; when on, each span also tags the Spark jobs its
  * thread (and threads it spawns) launches, via a local property the job
  * listener reads back. Spans live in memory until [[write]]. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  final case class Span(id: Long, parent: Long, name: String, req: String,
      startNs: Long, endNs: Long)
  val SpanProp = "graftbench.span"
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  val originNs: Long = System.nanoTime()

  def span[A](name: String, req: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      val prevProp = sc.getLocalProperty(SpanProp)
      current.set(id)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, req, t0 - originNs, System.nanoTime() - originNs))
        current.set(parent)
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  /** One JSON object per line: id, parent, name, req, start_s, end_s
    * (seconds since the tracer was created). */
  def write(path: String): Unit = {
    val lines = spans.asScala.toVector.sortBy(_.startNs).map { s =>
      JObj.of("id" -> JNum(s.id), "parent" -> JNum(s.parent), "name" -> JStr(s.name),
        "req" -> JStr(s.req), "start_s" -> JNum(BigDecimal(s.startNs / 1e9)),
        "end_s" -> JNum(BigDecimal(s.endNs / 1e9))).render
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Per-job Spark scheduler facts: pool, originating span, when the job was
  * submitted and when its first task launched, and its tasks' run time, CPU
  * time and shuffle bytes. Listener events arrive on Spark's bus thread. */
final class JobListener(originNs: Long, spanProp: String) extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val pool: String, val span: Long) {
    var endMs = 0L; var firstTaskMs = 0L; var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  // wall-clock ms of the tracer's origin, to put job times on the span axis
  private val originMs = System.currentTimeMillis() - (System.nanoTime() - originNs) / 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val pool = props.flatMap(p => Option(p.getProperty("spark.scheduler.pool"))).getOrElse("default")
    val span = props.flatMap(p => Option(p.getProperty(spanProp))).map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, new Job(e.jobId, e.time, pool, span))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(j => j.synchronized(j.endMs = e.time))
  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    job(e.stageId).foreach { j => j.synchronized {
      if (j.firstTaskMs == 0L || e.taskInfo.launchTime < j.firstTaskMs)
        j.firstTaskMs = e.taskInfo.launchTime
    } }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    job(e.stageId).foreach { j => j.synchronized {
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    } }
  private def job(stage: Int): Option[Job] =
    Option(stageJob.get(stage)).flatMap(id => Option(jobs.get(id)))

  /** One JSON object per job; times in seconds on the tracer's axis. */
  def write(path: String): Unit = {
    def s(ms: Long) = JNum(BigDecimal((ms - originMs) / 1e3))
    val lines = jobs.values.asScala.toVector.sortBy(_.id).map { j => j.synchronized {
      JObj.of("job" -> JNum(j.id), "pool" -> JStr(j.pool), "span" -> JNum(j.span),
        "start_s" -> s(j.startMs), "end_s" -> (if (j.endMs > 0) s(j.endMs) else JNum(-1)),
        "first_task_s" -> (if (j.firstTaskMs > 0) s(j.firstTaskMs) else JNum(-1)),
        "tasks" -> JNum(j.tasks), "run_s" -> JNum(BigDecimal(j.runMs / 1e3)),
        "cpu_s" -> JNum(BigDecimal(j.cpuNs / 1e9)),
        "shuffle_read_b" -> JNum(j.shuffleRead), "shuffle_write_b" -> JNum(j.shuffleWrite)).render
    } }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
