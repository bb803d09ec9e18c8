package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.batch.Upsert
import graft.core.TxnLog

/** Churn phase of `suite_churn`: one writer runs back-to-back `mergeByKey`
  * calls on a date-partitioned keyed table while one reader loops committed
  * reads.
  *
  * Table: `Parts` day partitions × `KeysPerPart` keys (`day`, `k`, `v`).
  * Merge `i` carries `Updates` distinct existing keys (a seeded permutation
  * slice) plus `Inserts` keys new to the table — 1/8 of the base table in
  * all, so every committed version has a distinct row count. */
final class MergeChurn(ctx: Ctx) extends Workload {
  import ctx._
  import MergeChurn._
  import spark.implicits._

  private var table = ""
  private val merged = new AtomicInteger(0) // merges committed so far
  private val readCounts = new ConcurrentLinkedQueue[Long]()

  private val days = (1 to Parts).map(i => f"2026-06-$i%02d")
  private val offsets = {
    val r = new scala.util.Random(seed)
    Vector.fill(4096)(r.nextInt(BaseRows))
  }

  private def base: DataFrame =
    spark.range(BaseRows.toLong).select(
      element_at(typedLit(days), (col("id") % Parts + 1).cast("int")).as("day"),
      concat(lit("k"), (col("id") / Parts).cast("long").cast("string")).as("k"),
      col("id").cast("double").as("v"))

  /** Merge `i` (1-based): updates then inserts, with `v` = i·1e6 + row. */
  private def frame(i: Int): DataFrame = {
    val upd = spark.range(Updates.toLong)
      .select(((col("id") * Stride + offsets(i % offsets.size)) % BaseRows).as("row"))
      .select(
        element_at(typedLit(days), (col("row") % Parts + 1).cast("int")).as("day"),
        concat(lit("k"), (col("row") / Parts).cast("long").cast("string")).as("k"),
        (col("row").cast("double") + i * 1e6).as("v"))
    val ins = spark.range(Inserts.toLong).select(
      element_at(typedLit(days), (col("id") % Parts + 1).cast("int")).as("day"),
      concat(lit(s"n${i}_"), col("id").cast("string")).as("k"),
      (col("id").cast("double") + i * 1e6 + 0.5).as("v"))
    upd.unionByName(ins)
  }

  private def mergeNext(): Unit = {
    val i = merged.get + 1
    tracer.span("batch.mergeByKey", s"merge-$i") {
      Upsert.mergeByKey(spark, table, frame(i), "day", Seq("k"), parallelism = 4)
    }
    merged.set(i)
  }

  def prepare(rep: Int, dir: String): Unit = {
    table = s"$dir/table"
    merged.set(0)
    base.write.partitionBy("day").parquet(table)
  }

  def warmUp(): Unit = (1 to WarmMerges).foreach { _ =>
    val t0 = Clock.nowS
    mergeNext()
    rec.sample("warmup.merge_s", Clock.nowS - t0)
  }

  def timed(seconds: Double): Unit = {
    val deadline = Clock.nowS + seconds
    val writer = new Thread(() => {
      // no merge starts that the last one says cannot end inside the window
      var lastS = 0.0
      while (Clock.nowS + lastS < deadline) {
        val t0 = Clock.nowS
        if (rec.attempt("merge")(mergeNext()).isDefined) {
          lastS = Clock.nowS - t0
          rec.sample("merge_s", lastS)
        } else Thread.sleep(100)
      }
    }, "bench-writer")
    val reader = new Thread(() => {
      while (Clock.nowS < deadline) {
        if (tracer.enabled) tracer.span("core.txnlog_version")(TxnLog.currentVersion(spark, table))
        val t0 = Clock.nowS
        rec.attempt("read")(readWithRetry()).foreach { n =>
          rec.sample("read_committed_s", Clock.nowS - t0)
          readCounts.add(n)
        }
      }
    }, "bench-reader")
    writer.start(); reader.start()
    writer.join(); reader.join()
  }

  /** A committed read and its count. A live partition replaced under the
    * read surfaces as a FILE_NOT_EXIST error — the documented retryable
    * contract of `readCommitted` — so the read is retried, the latency
    * clock keeps running, and each retry is counted. */
  private def readWithRetry(): Long = {
    var tries = 0
    while (true) {
      try {
        val df = tracer.span("batch.read_resolve")(Upsert.readCommitted(spark, table, "day"))
        return tracer.span("batch.read_execute")(df.count())
      } catch {
        case e: Exception if retryable(e) && tries < MaxRetries =>
          tries += 1
          rec.count("retries.read")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def verify(): Unit = {
    val m = merged.get
    // A merge commits partition by partition, so a committed read sees
    // merges 1..i-1 in full plus any subset of merge i's partitions.
    val perPart = (0 until Parts).map(p => (0 until Inserts).count(_ % Parts == p))
    val subsetSums = (0 until (1 << Parts)).map(bits =>
      perPart.indices.filter(p => (bits >> p & 1) == 1).map(perPart).sum.toLong).toSet
    val versions = (1 to m).flatMap(i =>
      subsetSums.map(_ + BaseRows + (i - 1).toLong * Inserts)).toSet + BaseRows.toLong
    val torn = readCounts.asScala.filterNot(versions.contains).toSeq
    rec.check("reads_not_torn", torn.isEmpty,
      s"${torn.size} reads match no committed state, e.g. ${torn.take(3)}")
    rec.check("reads_happened", !readCounts.isEmpty, "no committed read succeeded")
    // expected state: per key, the row of the last merge that carried it
    val all = (1 to m).foldLeft(base.withColumn("seq", lit(0)))(
      (acc, i) => acc.unionByName(frame(i).withColumn("seq", lit(i))))
    val expected = all
      .withColumn("r", row_number().over(Window.partitionBy("day", "k").orderBy(col("seq").desc)))
      .filter($"r" === 1).select("day", "k", "v")
    val actual = Upsert.readCommitted(spark, table, "day").select("day", "k", "v")
    val extra = actual.exceptAll(expected).count()
    val missing = expected.exceptAll(actual).count()
    rec.check("final_state_matches", extra == 0 && missing == 0,
      s"after $m merges: $extra unexpected rows, $missing missing rows")
    rec.scalar("merge_churn.merges_committed", m)
  }
}

object MergeChurn {
  val Parts = 8
  val KeysPerPart = 25000
  val BaseRows: Int = Parts * KeysPerPart
  val Inserts: Int = BaseRows / 80          // 2,500 new keys per merge
  val Updates: Int = BaseRows / 8 - Inserts // 22,500 updated keys per merge
  val Stride = 7919L                        // coprime with BaseRows: distinct rows
  val WarmMerges = 1
  val MaxRetries = 20

  def retryable(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("FILE_NOT_EXIST")))
}
