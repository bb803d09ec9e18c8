package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.{Duration, Instant}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.batch.{BatchRegistry, BatchService, BatchStatus, MaintenanceService}
import graft.core.{GraftConfig, TransactionGen}
import graft.http.{HttpApi, JArr, JNum, JObj, JStr, JVal, Json}
import graft.operators.Analytics
import graft.streaming.StreamingIngest

/** `service_mix`: the product path. Stream ingest of transaction files runs
  * beside two closed-loop HTTP clients that submit batch analyses, poll
  * them to completion and page their results back.
  *
  *  - Set-up lands a `SeedRows`-row seed table (30 days) through the stream.
  *  - Open loop: one pre-generated `RowsPerFile`-row JSON file every
  *    `PeriodMs` lands in the drop directory by atomic rename, on schedule
  *    whether or not ingest keeps up (2,000 rows/s).
  *  - Each client: `POST /batch/run` (analysis types in turn, a seeded 4–10
  *    day window), poll `/batch/status/{id}`, then read `Pages` offset pages
  *    of 100 rows from `/batch/data/{id}`. Requests still open when the
  *    timed window closes are abandoned uncounted, so every measured
  *    request ran under the same ingest load. */
final class ServiceMix(ctx: Ctx) extends Workload {
  import ctx._
  import ServiceMix._

  private var dir = ""
  private var stream: StreamingQuery = _
  private var seedFiles: Seq[String] = Nil
  private var staged: IndexedSeq[String] = IndexedSeq.empty
  private var service: BatchService = _
  private var api: HttpApi = _
  private val landed = ArrayBuffer.empty[(String, Long, Long)] // name, due ms, landed ms
  private val completed = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String)]()
  private val types = Analytics.validAnalysisTypes.toSeq.sorted

  private def table = s"$dir/table"
  private def drop = s"$dir/drop"
  private def checkpoint = s"$dir/checkpoint"

  /** The seed table as JSON, and the live files for the open loop:
    * `RowsPerFile` JSON lines each, cut in id order from one generated file. */
  override def generate(d: String): Unit = {
    TransactionGen.generate(spark, SeedRows.toLong, days = 30, seed = seed).toDF()
      .coalesce(4).write.json(s"$d/seed-json")
    seedFiles = jsonParts(s"$d/seed-json")
    val files = (seconds * 1000 / PeriodMs).toInt + 2
    TransactionGen.generate(spark, files.toLong * RowsPerFile, days = 30, seed = seed + 1).toDF()
      .withColumn("transaction_id", concat(lit("live-"), substring_index(col("transaction_id"), "-", -1)))
      .coalesce(1).write.json(s"$d/live-json")
    val lines = jsonParts(s"$d/live-json").flatMap(p => Files.readAllLines(Paths.get(p)).asScala)
    require(lines.size == files * RowsPerFile, s"generated ${lines.size} live rows")
    Files.createDirectories(Paths.get(s"$d/staged"))
    staged = lines.grouped(RowsPerFile).zipWithIndex.map { case (chunk, i) =>
      Files.write(Paths.get(d, "staged", f"live-$i%05d.json"), chunk.asJava).toString
    }.toIndexedSeq
  }

  /** Lands the `SeedRows`-row seed table through a fresh stream, after
    * stopping the stream of the repetition before. */
  def prepare(rep: Int, d: String): Unit = {
    if (stream != null) stream.stop()
    dir = d
    Files.createDirectories(Paths.get(drop))
    seedFiles.zipWithIndex.foreach { case (p, i) =>
      Files.copy(Paths.get(p), Paths.get(drop, f"seed-$i%02d.json"))
    }
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    stream = StreamingIngest.start(spark, drop, table, checkpoint)
    stream.processAllAvailable()
  }

  private def jsonParts(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.map(_.toString).filter(_.endsWith(".json")).toSeq.sorted

  def warmUp(): Unit = {
    val registry = new BatchRegistry()
    service = new BatchService(spark, registry, s"$dir/batch-out")
    val maint = new MaintenanceService(spark, registry, GraftConfig.load().maintenance,
      s"$dir/maintenance-out")
    api = new HttpApi(spark, service, registry, table, maintenance = Some(maint)).start()
    new Client(-1, new scala.util.Random(seed), Double.MaxValue, warm = true).cycle()
  }

  /** Each client walks the analysis types in sorted order from its own
    * fixed start, so every run offers the same batch mix; the seed picks
    * the date windows. */
  private def firstType(client: Int): Int =
    if (client < 0) types.size - 1 else client * types.size / Clients

  def timed(seconds: Double): Unit = {
    val t0Ms = System.currentTimeMillis() + 100
    val endMs = t0Ms + (seconds * 1000).toLong
    val deadline = Clock.nowS + seconds + 0.1
    val gen = new Thread(() => {
      var i = 0
      var due = t0Ms
      while (due < endMs && i < staged.size) {
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val name = Paths.get(staged(i)).getFileName.toString
        Files.move(Paths.get(staged(i)), Paths.get(drop, name), StandardCopyOption.ATOMIC_MOVE)
        landed.synchronized(landed += ((name, due, System.currentTimeMillis())))
        i += 1
        due = t0Ms + i.toLong * PeriodMs
      }
    }, "bench-generator")
    val clients = (0 until Clients).map { c =>
      val rng = new scala.util.Random(seed * 7919 + c)
      new Thread(() => {
        val cl = new Client(c, rng, deadline)
        while (Clock.nowS < deadline) cl.cycle()
      }, s"bench-client-$c")
    }
    gen.start(); clients.foreach(_.start())
    gen.join(); clients.foreach(_.join())
    rec.scalar("service_mix.open_loop_start_epoch_s", t0Ms / 1e3)
    rec.scalar("service_mix.open_loop_end_epoch_s", endMs / 1e3)
  }

  /** The stream commits everything that landed, and abandoned batches run
    * to their end, before heap and outputs are read. */
  override def settle(): Unit = {
    stream.processAllAvailable()
    recordStream()
    val giveUp = Clock.nowS + BatchTimeoutS
    while (service.list().exists(r => r.status == BatchStatus.Pending || r.status == BatchStatus.Running)
        && Clock.nowS < giveUp) Thread.sleep(100)
  }

  /** Landed files, micro-batch progress and which batch committed which
    * file (from the file source's own log), for the lag computation. */
  private def recordStream(): Unit = {
    rec.blob("stream.files", JArr(landed.synchronized(landed.toVector).map { case (n, due, at) =>
      JObj.of("name" -> JStr(n), "due_ms" -> JNum(due), "landed_ms" -> JNum(at),
        "rows" -> JNum(RowsPerFile)) }))
    rec.blob("stream.progress", JArr(stream.recentProgress.toVector.map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> BigDecimal(v.longValue) }
      val startMs = Instant.parse(p.timestamp).toEpochMilli
      JObj.of("batch" -> JNum(p.batchId), "start_ms" -> JNum(startMs),
        "trigger_ms" -> JNum(d.getOrElse("triggerExecution", BigDecimal(0))),
        "add_batch_ms" -> JNum(d.getOrElse("addBatch", BigDecimal(0))),
        "latest_offset_ms" -> JNum(d.getOrElse("latestOffset", BigDecimal(0))),
        "query_planning_ms" -> JNum(d.getOrElse("queryPlanning", BigDecimal(0))),
        "rows" -> JNum(p.numInputRows))
    }))
    rec.blob("stream.file_batch", JObj(sourceLog().toVector.map { case (f, b) =>
      f -> (JNum(b): JVal) }))
  }

  /** file name → micro-batch id, from `<checkpoint>/sources/0` (plain and
    * compacted log files list one JSON entry per file with its batchId). */
  private def sourceLog(): Map[String, Long] = {
    val logDir = Paths.get(checkpoint, "sources", "0")
    Files.list(logDir).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1))
      .filter(_.trim.startsWith("{"))
      .map { line =>
        val o = Json.parse(line).asObj
        val path = o("path").str
        path.substring(path.lastIndexOf('/') + 1) -> (o("batchId") match {
          case JNum(v) => v.toLong; case other => other.str.toLong })
      }.toMap
  }

  def verify(): Unit = {
    val landedRows = landed.size.toLong * RowsPerFile
    val t = StreamingIngest.readTable(spark, table)
    val row = t.agg(count(lit(1)), countDistinct(col("transaction_id"))).head()
    val (rows, distinct) = (row.getLong(0), row.getLong(1))
    val want = SeedRows + landedRows
    rec.check("ingest_exactly_once", rows == want && distinct == want,
      s"rows=$rows distinct=$distinct expected=$want")
    completed.asScala.foreach { case (id, rowCount, rawPath) =>
      val n = spark.read.parquet(rawPath).count()
      rec.check(s"batch_row_count.$id", n == rowCount, s"record says $rowCount, snapshot has $n")
    }
    rec.check("batches_completed", !completed.isEmpty, "no batch completed")
  }

  override def close(): Unit = {
    if (api != null) api.stop()
    if (service != null) service.shutdown()
    if (stream != null) stream.stop()
  }

  /** One closed-loop HTTP client over loopback. A warm-up client records
    * nothing. */
  private final class Client(idx: Int, rng: scala.util.Random, deadline: Double,
      warm: Boolean = false) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()
    private var typeIdx = firstType(idx)
    private def url(p: String) = URI.create(s"http://127.0.0.1:${api.port}$p")

    private def get(p: String): HttpResponse[String] =
      http.send(HttpRequest.newBuilder(url(p)).timeout(Duration.ofSeconds(60)).GET().build(),
        HttpResponse.BodyHandlers.ofString())

    private def ok(r: HttpResponse[String], what: String): JObj = {
      if (r.statusCode() != 200 && r.statusCode() != 202)
        throw new IllegalStateException(s"$what: HTTP ${r.statusCode()} ${r.body().take(200)}")
      Json.parse(r.body()).asInstanceOf[JObj]
    }

    private def open = Clock.nowS < deadline

    /** Submit, poll to a terminal state, then page. */
    def cycle(): Unit = {
      val analysis = types(typeIdx % types.size)
      typeIdx += 1
      val len = 4 + rng.nextInt(7)
      val start = java.time.LocalDate.of(2026, 1, 1).plusDays(rng.nextInt(30 - len + 1).toLong)
      val body = JObj.of("startDate" -> JStr(start.toString),
        "endDate" -> JStr(start.plusDays(len - 1L).toString),
        "analysisType" -> JStr(analysis)).render
      val t0 = Clock.nowS
      val req = s"${if (warm) "warm" else s"client$idx"}-$t0"
      val done = if (warm) runBatch(body, req) else rec.attempt("batch")(runBatch(body, req)).flatten
      done.foreach { case (id, rowCount) =>
        if (!warm) {
          rec.sample("batch_e2e_s", Clock.nowS - t0)
          rec.count("batches_completed")
          rec.scalar("service_mix.last_completion_epoch_s", System.currentTimeMillis() / 1e3)
          if (tracer.enabled) service.status(id).foreach { r =>
            rec.sample("batch.queue_wait_s", (r.startedAt.get - r.submittedAt) / 1e3)
            rec.sample("batch.run_s", (r.completedAt.get - r.startedAt.get) / 1e3)
          }
        }
        var lastKey = ""
        (0 until Pages).filter(_ * PageSize < rowCount).takeWhile(_ => open).foreach { p =>
          val off = p * PageSize
          val t1 = Clock.nowS
          val page = if (warm) Some(readPage(id, off, req)) else rec.attempt("page")(readPage(id, off, req))
          page.foreach { keys =>
            if (!warm) rec.sample("page_read_s", Clock.nowS - t1)
            val expected = math.min(PageSize.toLong, rowCount - off).toInt
            val ordered = keys.size == expected && keys == keys.sorted && keys.forall(_ > lastKey)
            if (!ordered) rec.check(s"page_order.$id.$off", ok = false,
              s"${keys.size} rows (expected $expected), first ${keys.headOption}, previous page ended at $lastKey")
            keys.lastOption.foreach(lastKey = _)
          }
          if (!warm && tracer.enabled) {
            val t2 = Clock.nowS
            tracer.span("batch.readData", req) {
              service.readData(id, off, PageSize).fold(m => throw new IllegalStateException(m), identity).collect()
            }
            rec.sample("batch.readdata_s", Clock.nowS - t2)
          }
        }
      }
    }

    /** The batch id and row count once COMPLETED; None when the timed
      * window closed first (the attempt is then withdrawn). */
    private def runBatch(body: String, req: String): Option[(String, Long)] = {
      val sub = tracer.span("http.submit", req) {
        ok(http.send(HttpRequest.newBuilder(url("/batch/run")).timeout(Duration.ofSeconds(60))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString()), "submit")
      }
      val id = sub.asObj("batchId").str
      val giveUp = Clock.nowS + BatchTimeoutS
      while (true) {
        val t = Clock.nowS
        val st = tracer.span("http.status", req)(ok(get(s"/batch/status/$id"), "status")).asObj
        if (tracer.enabled) rec.sample("http.status_s", Clock.nowS - t)
        st("status").str match {
          case "COMPLETED" =>
            val rows = st("rowCount") match { case JNum(v) => v.toLong; case o => o.str.toLong }
            completed.add((id, rows, st("rawPath").str))
            return Some((id, rows))
          case "FAILED" =>
            throw new IllegalStateException(s"batch $id FAILED: ${st.get("errorMessage")}")
          case _ if !open =>
            rec.count("attempted.batch", -1)
            rec.count("abandoned.batch")
            return None
          case _ =>
            if (Clock.nowS > giveUp) throw new IllegalStateException(s"batch $id timed out")
            Thread.sleep(PollMs)
        }
      }
      throw new IllegalStateException("unreachable")
    }

    private def readPage(id: String, off: Int, req: String): Vector[String] = {
      val r = tracer.span("http.page", req)(ok(get(s"/batch/data/$id?limit=$PageSize&offset=$off"), "page"))
      r.asObj("data") match {
        case JArr(rows) => rows.map(_.asObj("transaction_id").str)
        case other => throw new IllegalStateException(s"page data is not an array: $other")
      }
    }
  }
}

object ServiceMix {
  val SeedRows = 50000L
  val RowsPerFile = 200
  val PeriodMs = 100L // 200 rows / 100 ms = 2,000 rows/s
  val Clients = 2
  val Pages = 5
  val PageSize = 100
  val PollMs = 50L
  val BatchTimeoutS = 120.0
}
