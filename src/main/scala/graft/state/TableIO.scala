package graft.state

import java.io.InputStream

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable
import scala.util.Try

/** Iceberg-shaped snapshot table over plain Parquet (SURVEY.md §7).
  *
  * No Iceberg jar ships in this sandbox, so the snapshot/resume semantics the
  * north rule requires are provided by a minimal table format with the same
  * guarantees Iceberg gives a crawler:
  *
  *   <root>/data/snap-<id>-<nonce>/part-*.parquet   immutable data dirs
  *   <root>/snapshots/v<id>.json                    manifest: id, parent,
  *                                                  data dirs, row count,
  *                                                  lineage payload
  *   <root>/snapshots/CURRENT                       pointer, atomic rename
  *
  * - append(df) writes a NEW data dir, then a manifest listing parent dirs +
  *   the new one, then atomically swings CURRENT -> the new manifest. A
  *   killed run leaves either the old CURRENT (data dir is orphaned garbage,
  *   never referenced) or the new one (commit completed) — never a torn
  *   table. Readers only ever see committed snapshots.
  * - overwrite(df) starts a fresh lineage (new manifest referencing only the
  *   new dir).
  * - read() at a snapshot id = time travel; read() = CURRENT.
  *
  * Uses the Hadoop FileSystem API so the same code runs on HDFS/S3A on a
  * real cluster (rename atomicity caveats on S3 are Iceberg's to solve; this
  * sandbox and HDFS give atomic rename).
  *
  * ATOMICITY ASSUMPTION (deployment note): commit safety rests on
  * `fs.rename(tmp, CURRENT)` being atomic-and-immediately-visible, which
  * local filesystems and HDFS guarantee but S3-like object stores do NOT
  * (rename there is copy+delete; a reader can observe a missing or torn
  * CURRENT mid-"rename"). An object-store deployment must swap this class
  * for a real Iceberg catalog (the trait-shaped boundary here exists for
  * exactly that swap) or front CURRENT with a conditional-put/DynamoDB-style
  * pointer commit. On a filesystem with atomic rename, the delete-before-
  * rename window of every pointer swap is closed by `TableIO.readPointer`.
  */
final class SnapshotTable(spark: SparkSession, root: String) {

  private val mapper = new ObjectMapper()
  private val rootPath = new Path(root)
  private val fs: FileSystem = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val snapsDir = new Path(rootPath, "snapshots")
  private val dataDir = new Path(rootPath, "data")
  private val currentPtr = new Path(snapsDir, "CURRENT")

  final case class Snapshot(id: Int, parent: Int, dataDirs: Seq[String], rowCount: Long, lineageJson: String)

  private def writeManifest(s: Snapshot): Path = {
    fs.mkdirs(snapsDir)
    val node = mapper.createObjectNode()
    node.put("id", s.id)
    node.put("parent", s.parent)
    node.put("rowCount", s.rowCount)
    val arr = node.putArray("dataDirs")
    s.dataDirs.foreach(arr.add)
    node.put("lineage", s.lineageJson)
    val p = new Path(snapsDir, f"v${s.id}%06d.json")
    TableIO.replacePointer(fs, p, mapper.writeValueAsBytes(node))
    p
  }

  private def swingCurrent(id: Int): Unit =
    TableIO.replacePointer(fs, currentPtr, f"v$id%06d.json".getBytes("UTF-8"))

  def currentSnapshot: Option[Snapshot] =
    TableIO.readPointer(fs, currentPtr)(in =>
      new Path(snapsDir, scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim))
      .flatMap(readManifest)

  private def readManifest(p: Path): Option[Snapshot] =
    TableIO.readPointer(fs, p)(in => mapper.readTree(in)).map { node =>
      val dirs = (0 until node.path("dataDirs").size()).map(i => node.path("dataDirs").get(i).asText())
      Snapshot(node.path("id").asInt(), node.path("parent").asInt(),
        dirs, node.path("rowCount").asLong(), node.path("lineage").asText(""))
    }

  def snapshotAt(id: Int): Option[Snapshot] = readManifest(new Path(snapsDir, f"v$id%06d.json"))

  private def nextId: Int = currentSnapshot.map(_.id + 1).getOrElse(1)

  private def writeData(df: DataFrame, id: Int): (String, Long) = {
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val dir = new Path(dataDir, f"snap-$id%06d-$nonce").toString
    // row count via plan-attached observe metrics: the count rides the write
    // job for free instead of re-reading the freshly written parquet
    val obs = org.apache.spark.sql.Observation(s"graft_write_$nonce")
    df.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .write.mode("errorifexists").parquet(dir)
    val n = obs.get("n").asInstanceOf[Long]
    (dir, n)
  }

  /** The snapshot a new round commit must parent from: the HIGHEST snapshot
    * whose whole ancestry back to `baseId` (the checkpointed id) carries
    * `onlyLineage` (streaming-ingest appends are legitimate state). A torn
    * round's commits (kill between table appends and the checkpoint write)
    * sit ABOVE that head and are left orphaned rather than chained into the
    * next round's manifest — while ingest appends that landed BEFORE the
    * torn commit stay visible. (The original all-or-nothing resolution
    * silently orphaned those pre-tear ingest rows together with the torn
    * snapshot — an exactly-once violation exposed by
    * CrawlEngineRecrawlSpec's mid-re-crawl tear.) */
  def resolveBase(baseId: Int, onlyLineage: String): Int = {
    var s = currentSnapshot
    val path = mutable.ListBuffer.empty[Snapshot] // CURRENT -> ... (top-down)
    while (s.exists(_.id > baseId)) {
      path += s.get
      s = s.flatMap(x => snapshotAt(x.parent))
    }
    // a chain that never reaches baseId (fork above an orphaned tear) keeps
    // the checkpointed base authoritative
    if (!(s.exists(_.id == baseId) || baseId == 0)) return baseId
    var resolved = baseId
    path.reverseIterator // bottom-up: extend through consecutive ingest appends
      .takeWhile(_.lineageJson == onlyLineage)
      .foreach(snap => resolved = snap.id)
    resolved
  }

  /** Append df as a new snapshot (previous data retained). Returns id.
    * `baseId` >= 0 parents the new manifest from THAT snapshot instead of
    * CURRENT — the resume-safety hook: a torn snapshot sitting on top of the
    * checkpointed base is orphaned, never re-chained (see resolveBase). */
  def append(df: DataFrame, lineageJson: String = "", baseId: Int = -1): Int = {
    val id = nextId
    val base = if (baseId >= 0) snapshotAt(baseId) else currentSnapshot
    val parent = base.map(_.id).getOrElse(0)
    val (dir, n) = writeData(df, id)
    val parentDirs = base.map(_.dataDirs).getOrElse(Nil)
    val total = base.map(_.rowCount).getOrElse(0L) + n
    writeManifest(Snapshot(id, parent, parentDirs :+ dir, total, lineageJson))
    swingCurrent(id)
    id
  }

  /** Replace table contents (new lineage root). Returns id. */
  def overwrite(df: DataFrame, lineageJson: String = ""): Int = {
    val id = nextId
    val parent = currentSnapshot.map(_.id).getOrElse(0)
    val (dir, n) = writeData(df, id)
    writeManifest(Snapshot(id, parent, Seq(dir), n, lineageJson))
    swingCurrent(id)
    id
  }

  def isEmpty: Boolean = currentSnapshot.isEmpty

  /** Read CURRENT (None -> caller supplies empty). */
  def read(): Option[DataFrame] =
    currentSnapshot.flatMap(readSnapshot)

  /** Read ONLY the data dirs snapshot `toId` has beyond snapshot `fromId`
    * (both on the committed chain; dir lists are cumulative, so this is the
    * appended delta — e.g. the seen rows a checkpointed sketch has not yet
    * folded in). None when there is no delta. `fromId <= 0` means "all of
    * toId". */
  def readDelta(fromId: Int, toId: Int): Option[DataFrame] = {
    val toDirs = snapshotAt(toId).map(_.dataDirs).getOrElse(Nil)
    val fromDirs = if (fromId <= 0) Set.empty[String]
      else snapshotAt(fromId).map(_.dataDirs.toSet).getOrElse(Set.empty)
    val delta = toDirs.filterNot(fromDirs)
    if (delta.isEmpty) None else Some(spark.read.parquet(delta: _*))
  }

  /** Time travel. */
  def readAt(id: Int): Option[DataFrame] = snapshotAt(id).flatMap(readSnapshot)

  private def readSnapshot(s: Snapshot): Option[DataFrame] =
    if (s.dataDirs.isEmpty) None
    else Some(spark.read.parquet(s.dataDirs: _*))
}

/** Replace-and-read of the small files that name committed state: a table's
  * `CURRENT` pointer and manifests, the engine's `checkpoint.json`. */
object TableIO {

  private def tmpOf(ptr: Path): Path = new Path(ptr.getParent, s".${ptr.getName}.tmp")

  /** Replaces `ptr` with `bytes`: write and close the sibling `.<name>.tmp`,
    * delete `ptr`, rename the temp into place (atomic on HDFS/local). */
  def replacePointer(fs: FileSystem, ptr: Path, bytes: Array[Byte]): Unit = {
    val tmp = tmpOf(ptr)
    val out = fs.create(tmp, true)
    out.write(bytes); out.close()
    if (fs.exists(ptr)) fs.delete(ptr, false)
    fs.rename(tmp, ptr)
  }

  /** `parse` of `ptr`'s content; None when there is none. A missing `ptr`
    * beside its temp is a replace killed between delete and rename: the
    * temp was closed before the delete, so it holds the new content and is
    * rolled forward into place. The one temp that can be partial belongs to
    * a first write killed mid-write (no `ptr` ever existed); it fails
    * `parse`, reads as absent, and the retried replace overwrites it. */
  def readPointer[T](fs: FileSystem, ptr: Path)(parse: InputStream => T): Option[T] = {
    def parseAt(p: Path): T = { val in = fs.open(p); try parse(in) finally in.close() }
    if (fs.exists(ptr)) return Some(parseAt(ptr))
    val tmp = tmpOf(ptr)
    if (!fs.exists(tmp)) return None
    val rolled = Try(parseAt(tmp)).toOption
    if (rolled.isDefined) fs.rename(tmp, ptr)
    rolled
  }
}
