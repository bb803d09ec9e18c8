package graftbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.http.{JArr, JNum}

/** What a workload needs from the harness. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, tracer: Tracer, rec: Recorder)

/** One benchmark workload. The harness calls [[prepare]] once per set-up
  * repetition (each into a fresh directory, replacing the one before; the
  * last one is kept and measured), then [[warmUp]], [[timed]], [[settle]]
  * and [[verify]]. */
trait Workload {
  /** Benchmark inputs used only by the timed phase, generated once. */
  def generate(dir: String): Unit = ()
  def prepare(rep: Int, dir: String): Unit
  def warmUp(): Unit
  def timed(seconds: Double): Unit
  /** Untimed: let background work started in the timed phase finish. */
  def settle(): Unit = ()
  /** Traced runs only: untimed per-layer probes after the timed phase. */
  def probe(): Unit = ()
  def verify(): Unit
  def close(): Unit = ()
}

/** JVM side of the benchmark: runs one workload in one process on
  * `local[4]` with 4 shuffle partitions and writes the raw measurements as
  * JSON; `perfbench/run.py` turns them into metrics.
  *
  * Args: --workload --seed --seconds --trace 0|1 --setup-reps <n>
  * --work <dir> --out <json> --fair-xml <fairscheduler.xml>
  * [--input <dir with rep1..repN corpora>]. */
object Main {
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch { case t: Throwable => t.printStackTrace(); 1 }
    System.exit(code) // engine threads must not outlive the run
  }

  private def run(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val spark = graft.core.SparkSessionFactory.create(
      master = "local[4]", appName = "graft-perfbench",
      shufflePartitions = Some(4), fairSchedulerXml = Some(o("fair-xml")))
    val rec = new Recorder
    rec.scalar("session_ready_epoch_s", System.currentTimeMillis() / 1e3)
    val tracer = new Tracer(o("trace") == "1", spark.sparkContext)
    val listener = if (!tracer.enabled) None else {
      val l = new JobListener(tracer.originNs, tracer.SpanProp)
      spark.sparkContext.addSparkListener(l)
      Some(l)
    }
    val ctx = Ctx(spark, o("seed").toLong, o("seconds").toDouble, tracer, rec)
    val work = o("work")
    val w: Workload = o("workload") match {
      case "service_mix" => new ServiceMix(ctx)
      case "suite_churn" => new SuiteChurn(ctx, o("input"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      rec.scalar("setup.generate_s", Clock.time(w.generate(s"$work/inputs"))._2)
      val reps = (1 to o("setup-reps").toInt).map { r =>
        Clock.time(w.prepare(r, s"$work/rep$r"))._2
      }
      rec.blob("setup.prepare_s", JArr(reps.toVector.map(x => JNum(BigDecimal(x)))))
      rec.scalar("setup.warmup_s", Clock.time(w.warmUp())._2)
      rec.scalar("timed.start_s", (System.nanoTime() - tracer.originNs) / 1e9)
      rec.scalar("timed.wall_s", Clock.time(w.timed(ctx.seconds))._2)
      rec.scalar("timed.end_s", (System.nanoTime() - tracer.originNs) / 1e9)
      w.settle()
      // the context cleaner frees broadcasts and shuffles asynchronously
      // after a collection, so collect, let it run, collect again
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
      rec.scalar("heap_used_mb",
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
      if (tracer.enabled) w.probe()
      rec.scalar("verify_s", Clock.time(w.verify())._2)
    } finally {
      try w.close() catch { case scala.util.control.NonFatal(_) => () }
      if (tracer.enabled) {
        Thread.sleep(500) // let the listener bus drain the last task events
        tracer.write(s"${o("out")}.spans.jsonl")
        listener.foreach(_.write(s"${o("out")}.jobs.jsonl"))
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(o("out")),
        rec.toJson.render.getBytes("UTF-8"))
      spark.stop()
    }
  }
}
