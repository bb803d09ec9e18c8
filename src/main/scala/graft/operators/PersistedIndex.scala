package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.batch.ChangeFeed

/** The lifecycle shared by every index that follows a TxnLog-maintained
  * table through its change data feed ([[IvfIndex]], [[PqIndex]],
  * [[IvfPqIndex]], [[DedupIndex]]). The table is the source of truth; the
  * index is a derived artifact under `indexDir`, laid out as
  *
  *   - `meta.json` — `{"version":V,"rows":N}`: the table version the index
  *     reflects and the rows it holds. Written last, always through
  *     [[graft.core.AtomicWrite.replaceFile]] (an in-place overwrite can
  *     tear and wedge [[sync]]; a delete+rename gap reads as "no index"
  *     and forces a spurious full build). The reader also accepts the
  *     legacy `"docs"` count older dedup indexes wrote. A malformed file
  *     fails loudly.
  *   - one data dir (`dataName`), partitioned by `part`, keyed by `key`;
  *   - whatever trained state the index pins (codebooks), which refresh
  *     never changes.
  *
  * [[refreshWith]] consumes the feed from `meta.version` to the table tip:
  * the changed keys leave their partitions, net-new rows land in theirs,
  * and only the AFFECTED partitions rewrite. They are written whole into
  * a staging dir ([[PersistedIndex.Staging]] + tip version; writing over a
  * path read in the same plan is undefined), then each live partition is
  * deleted and its staged copy renamed in — a partition emptied by deletes
  * has no staged copy and simply goes away. The meta advances only after
  * every partition is installed and the staging dir deleted.
  *
  * So staging debris at the next refresh means: debris NEWER than
  * meta.version (or unparsable) may be a refresh that died MID-SWAP, whose
  * staged copy is a partition's only surviving image (unchanged rows are
  * not in the feed). It is recovered by a full rebuild pinned to the
  * surviving trained state, and swept only after. Debris at or below
  * meta.version is from a fully-installed swap and sweeps safely.
  *
  * An index supplies only what differs: its layout (constructor), its
  * pinned-state [[rebuild]], the [[delta]] of one change window, and its
  * [[rowCount]]. */
abstract class PersistedIndex(dataName: String, part: String, key: String) {
  import PersistedIndex._

  protected def dataDir(indexDir: String): String = s"$indexDir/$dataName"

  /** Full build from the table's committed snapshot; `pinned` keeps the
    * trained state already in `indexDir` where it is readable. */
  protected def rebuild(
      s: SparkSession, table: String, partCol: String, indexDir: String,
      pinned: Boolean): Unit

  /** (affected `part` values, net-new rows in the data dir's schema) of one
    * change window; evaluated lazily by the refresh skeleton. */
  protected def delta(s: SparkSession, indexDir: String, legs: Legs): (DataFrame, DataFrame)

  /** The count meta.json records. */
  protected def rowCount(s: SparkSession, indexDir: String): Long =
    s.read.parquet(dataDir(indexDir)).count()

  /** The drift bound [[sync]] refreshes with; None = no drift rebuild. */
  protected def syncDrift: Option[Double] = Some(DefaultMaxStale)

  /** Run `write` (a full build into `indexDir`) and record the table
    * version read BEFORE it, so the next refresh tails the feed from
    * there. Returns the recorded row count. */
  protected def fromTable(s: SparkSession, table: String, indexDir: String)(
      write: => Unit): Long = {
    val version = graft.core.TxnLog.currentVersion(s, table)
    write
    val n = rowCount(s, indexDir)
    writeMeta(s, indexDir, Meta(version, n))
    n
  }

  /** Scheduled-maintenance entry ([[graft.Maintain]]): build the index
    * when none exists at `indexDir`, refresh it from the feed otherwise. */
  def sync(s: SparkSession, table: String, partCol: String, indexDir: String): RefreshStats =
    if (fsOf(s, indexDir).exists(metaFile(indexDir)))
      refreshWith(s, table, partCol, indexDir, syncDrift)
    else {
      rebuild(s, table, partCol, indexDir, pinned = false)
      RefreshStats(rebuilt = true, 0L, 0L, 0L, readMeta(s, indexDir).version)
    }

  /** Catch the index up to the table tip from the change feed (see the
    * class doc). More than `maxStale` × indexed rows changed retrains via
    * an unpinned [[rebuild]] instead. */
  protected def refreshWith(
      s: SparkSession, table: String, partCol: String, indexDir: String,
      maxStale: Option[Double]): RefreshStats = {
    val meta = readMeta(s, indexDir)
    val tip = graft.core.TxnLog.currentVersion(s, table)
    // staging-debris triage BEFORE any early return
    val fs = fsOf(s, indexDir)
    val debris = fs.listStatus(new Path(indexDir))
      .filter(_.getPath.getName.startsWith(".refresh-"))
    val suspectSwap = debris.exists { st =>
      Try(st.getPath.getName.stripPrefix(Staging).toLong).toOption.forall(_ > meta.version)
    }
    if (suspectSwap) rebuild(s, table, partCol, indexDir, pinned = true)
    debris.foreach(st => fs.delete(st.getPath, true))
    if (suspectSwap) return RefreshStats(rebuilt = true, 0L, 0L, meta.version, tip)
    if (tip <= meta.version) return RefreshStats(rebuilt = false, 0L, 0L, meta.version, tip)
    val changes = ChangeFeed.readChanges(s, table, partCol, meta.version, Some(tip)).cache()
    try {
      val changedIds = changes.select(key).distinct()
      val changed = changedIds.count()
      if (maxStale.exists(f => changed > f * math.max(1L, meta.rows))) {
        rebuild(s, table, partCol, indexDir, pinned = false) // retrain: drift too large
        return RefreshStats(rebuilt = true, changed, 0L, meta.version, tip)
      }
      // the OLDEST delete leg per key carries the row as of meta.version
      // (later legs are states the index never held); the NEWEST leg, if
      // an insert, is the key's net state at the tip
      val oldest = Window.partitionBy(key).orderBy(col(ChangeFeed.CommitVersionCol).asc)
      val newest = Window.partitionBy(key)
        .orderBy(col(ChangeFeed.CommitVersionCol).desc, col(ChangeFeed.ChangeTypeCol).desc)
      val (parts, netNew) = delta(s, indexDir, Legs(changedIds,
        removed = changes.filter(col(ChangeFeed.ChangeTypeCol) === "delete")
          .withColumn("_rd", row_number().over(oldest)).filter(col("_rd") === 1),
        inserted = changes.withColumn("_rn", row_number().over(newest))
          .filter(col("_rn") === 1 && col(ChangeFeed.ChangeTypeCol) === "insert")))
      val affected = parts.distinct().collect().map(_.get(0)).sortBy(_.toString)
      if (affected.nonEmpty) {
        val live = dataDir(indexDir)
        val staging = s"$indexDir/$Staging$tip"
        s.read.parquet(live).filter(col(part).isin(affected.toIndexedSeq: _*))
          .join(changedIds, Seq(key), "left_anti")
          .withColumn(part, col(part).cast(netNew.schema(part).dataType))
          .unionByName(netNew)
          .write.mode("overwrite").partitionBy(part).parquet(staging)
        affected.foreach { p =>
          val (livePart, staged) = (new Path(s"$live/$part=$p"), new Path(s"$staging/$part=$p"))
          fs.delete(livePart, true)
          if (fs.exists(staged) && !fs.rename(staged, livePart))
            throw new java.io.IOException(s"refresh: failed to install $staged")
        }
        fs.delete(new Path(staging), true)
      }
      writeMeta(s, indexDir, Meta(tip, rowCount(s, indexDir)))
      RefreshStats(rebuilt = false, changed, affected.length.toLong, meta.version, tip)
    } finally changes.unpersist()
  }
}

object PersistedIndex {

  /** What a refresh read and rewrote. `rebuilt = true` means a suspected
    * torn swap, drift, or a first [[PersistedIndex.sync]] forced a full
    * build instead. */
  final case class RefreshStats(
      rebuilt: Boolean, changedRows: Long, partsTouched: Long,
      fromVersion: Long, toVersion: Long)

  /** One change window, split for [[PersistedIndex.delta]]: the distinct
    * changed keys, each removed key's oldest delete leg, and each net-new
    * key's newest insert leg (both carry the table's full row). */
  final case class Legs(changedIds: DataFrame, removed: DataFrame, inserted: DataFrame)

  private final case class Meta(version: Long, rows: Long)

  /** Default drift bound of the trained (ANN) indexes' refresh. */
  val DefaultMaxStale = 0.2

  /** Staging dir name prefix; the tip version follows. */
  private val Staging = ".refresh-v"

  private def fsOf(s: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(s.sessionState.newHadoopConf())

  private def metaFile(indexDir: String) = new Path(s"$indexDir/meta.json")

  private def writeMeta(s: SparkSession, indexDir: String, m: Meta): Unit =
    graft.core.AtomicWrite.replaceFile(s, metaFile(indexDir),
      s"""{"version":${m.version},"rows":${m.rows}}""".getBytes(UTF_8))

  private def readMeta(s: SparkSession, indexDir: String): Meta = {
    val in = fsOf(s, indexDir).open(metaFile(indexDir))
    val o = try graft.http.Json.parse(new String(in.readAllBytes(), UTF_8)).asObj
    finally in.close()
    def num(k: String*): Long = k.flatMap(o.get).headOption match {
      case Some(graft.http.JNum(n)) => n.toLong
      case other => throw new IllegalStateException(s"index meta ${k.head}: $other")
    }
    Meta(num("version"), num("rows", "docs"))
  }

  // ------------------------------------------------------- codebook I/O

  /** Centroid rows `(cid, cqv)` of an IVF (coarse) codebook dir, by cid. */
  private[operators] def readCentroids(s: SparkSession, dir: String): Seq[(Long, Seq[Long])] =
    s.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toSeq.sortBy(_._1)

  private[operators] def writeCentroids(
      s: SparkSession, rows: Seq[(Long, Seq[Long])], dir: String): Unit = {
    import s.implicits._
    s.createDataset(rows).toDF("cid", "cqv").coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Sub-codebook rows `(sub, cid, cqv)` of a PQ codebook dir, by (sub, cid). */
  private[operators] def readPqCodebook(s: SparkSession, dir: String): Seq[(Int, Long, Seq[Long])] =
    s.read.parquet(dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toSeq)).toSeq
      .sortBy(t => (t._1, t._2))

  // ------------------------------------------- corpus-dir artifact memo

  /** Sorted (path, length, modTime) of a corpus root's TOP-LEVEL entries
    * — changes whenever the corpus is rewritten. Deliberately ONE
    * `listStatus` call, not a recursive walk: this runs before every memo
    * lookup, and O(files) metadata RPCs per query on an object store would
    * tax the hot path the memo exists to keep cheap. Sufficient because a
    * parquet rewrite replaces files directly under the root (new names /
    * lengths / mtimes), and adding or removing entries inside a nested
    * subdirectory updates that subdirectory's own mtime. */
  private[operators] def fingerprint(s: SparkSession, path: String): String = {
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(root)
    val entries = if (st.isDirectory) fs.listStatus(root).toSeq else Seq(st)
    entries.map(e => s"${e.getPath.getName}:${e.getLen}:${e.getModificationTime}")
      .sorted.mkString("|")
  }

  /** (session → "kind:corpus dir" → (fingerprint, temp dir)). */
  private val built =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Map[String, (String, String)]]())

  /** One lock per artifact kind: a slow first build of one kind never
    * blocks lookups or builds of another. */
  private val kindLocks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** The temp dir holding `kind`'s artifact for the corpus at `d`, built
    * by `build` once per state of `$d/$file`: repeated bench/verify rounds
    * reuse it instead of materializing a corpus-sized copy each time. A
    * changed fingerprint builds afresh and deletes the superseded dir. */
  private[operators] def memoDir(s: SparkSession, kind: String, d: String, file: String)(
      build: String => Unit): String =
    kindLocks.computeIfAbsent(kind, _ => new AnyRef).synchronized {
      val fp = fingerprint(s, s"$d/$file")
      val k = s"$kind:$d"
      Option(built.get(s)).flatMap(_.get(k)) match {
        case Some((oldFp, dir)) if oldFp == fp => dir
        case stale =>
          val dir = java.nio.file.Files.createTempDirectory(kind).toString
          build(dir)
          stale.foreach { case (_, old) => Try(fsOf(s, old).delete(new Path(old), true)) }
          built.synchronized {
            built.put(s, Option(built.get(s)).getOrElse(Map.empty).updated(k, (fp, dir)))
          }
          dir
      }
    }
}
