package graft.operators

import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** The manifest lifecycle shared by the three versioned stores
  * ([[graft.sources.CorpusStore]], [[TextIndex]], [[AnnIndex]]): each
  * store republishes a new manifest instead of mutating its data (the
  * idempotent versioned-artifact pattern of `hi-csa-db.Rmd:105-131`),
  * with the Delta log discipline (Armbrust et al., VLDB 2020) for
  * snapshots, restore and vacuum.
  *
  * Layout at `root`:
  *  - `<manifest>` — the live state, one entry per line; readers
  *    resolve every data dir through it and ignore unknown prefixes.
  *  - `<manifest>.v<V>` — the immutable snapshot of version V, the
  *    `asOf`/`snapshotDiff`/`rollbackTo` substrate.
  *  - `_GRAFT_PINS` — `pin:<tag>=<V>` lines, the training-run registry.
  *  - data dirs matching `dataDir`, referenced from manifest lines
  *    through `refsOf`; `companions` names what dies with a dir.
  *  - `.manifest-*` / `.pins-*` — temp files of in-flight (or crashed)
  *    writes.
  *
  * The manifest, its snapshots and the registry are each written as a
  * temp file plus a `FileContext` rename with OVERWRITE, so no reader
  * sees a torn file where that rename is atomic (HDFS; on the local FS
  * Hadoop's default rename deletes the destination first). All IO goes
  * through the Hadoop FS layer, so a non-local root works like a local
  * one. Writers hold the
  * root's [[PublishLock]]; the stores take it around their own
  * read-manifest → write-data → [[publish]] critical sections.
  *
  * == Publish order ==
  * Live manifest first, then the `.v<V>` copy, then a read-back of the
  * live manifest. A crash between the two writes costs only the
  * snapshot, never the live state, and every retained snapshot is a
  * state that WAS live. The read-back turns a writer that bypassed the
  * lock (its move landed after ours and dropped our lines) into a named
  * error instead of silently lost data.
  *
  * == Rollback order ==
  * (1) refuse if a pin holds a version past `v`; (2) delete the suffix
  * snapshots, newest first; (3) restore `v`'s lines as the live
  * manifest; (4) delete data dirs no remaining manifest references. The
  * stores number their next data dir from the live manifest, so the
  * next write REUSES the suffix's dir names with an overwrite. Were the
  * live restore done first, a crash before (2) would leave suffix
  * snapshots retained over dirs the next write then overwrites — an
  * `asOf` serving a state that never existed. In this order a crash
  * leaves either the pre-rollback state live with its suffix history
  * gone, or the restored state plus unreferenced dirs; rerunning the
  * rollback (or a sweep) finishes it.
  *
  * == What a sweep keeps ==
  * Pass 1 expires snapshots older than the grace window, except pinned
  * versions and the `keep` set a store passes (the corpus keeps its
  * current version because it numbers the next one off the snapshot
  * list). Pass 2 deletes, past the grace window, every data dir that
  * neither the live manifest nor a retained snapshot references (with
  * its companions), and every stale temp file. A reader holding an
  * older manifest gets the grace window to finish.
  *
  * What stays with each store, passed in as plain arguments: its
  * manifest name, version rule, reference set, data-dir pattern and
  * sweep `keep` set, plus its payload and probe code.
  */
private[graft] final class VersionedRoot(
    manifestName: String,
    refsOf: Seq[String] => Set[String],
    dataDir: scala.util.matching.Regex,
    companions: String => Seq[String] = _ => Nil,
    readCheck: (Seq[String], String) => Unit = (_, _) => ()) {

  private val PinsName = "_GRAFT_PINS"
  private val TempPrefixes = Seq(".manifest-", ".pins-")
  private val SnapshotName = (java.util.regex.Pattern.quote(manifestName) + "\\.v(\\d+)").r

  private def versionName(v: Long) = s"$manifestName.v$v"

  private def fsOf(s: SparkSession, root: String): (Path, FileSystem) = {
    val p = new Path(root)
    (p, p.getFileSystem(s.sparkContext.hadoopConfiguration))
  }

  /** Non-empty lines of `root/name`; empty when the file is absent. */
  private def linesOf(s: SparkSession, root: String, name: String): Seq[String] = {
    val (rootPath, fs) = fsOf(s, root)
    val p = new Path(rootPath, name)
    if (!fs.isFile(p)) Seq.empty
    else {
      val in = fs.open(p)
      val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
        finally in.close()
      new String(bytes, "UTF-8").split("\n").toSeq.filter(_.nonEmpty)
    }
  }

  private def writeAtomically(s: SparkSession, root: String, name: String,
      lines: Seq[String], tmpPrefix: String): Unit = {
    val (rootPath, fs) = fsOf(s, root)
    val tmp = new Path(rootPath, s"$tmpPrefix${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    FileContext.getFileContext(rootPath.toUri, s.sparkContext.hadoopConfiguration)
      .rename(tmp, new Path(rootPath, name), Options.Rename.OVERWRITE)
  }

  /** The live manifest's lines; empty when nothing was published. */
  def live(s: SparkSession, root: String): Seq[String] = linesOf(s, root, manifestName)

  /** Retained snapshot `v`'s lines. */
  def asOf(s: SparkSession, root: String, v: Long): Seq[String] = {
    val lines = linesOf(s, root, versionName(v))
    require(lines.nonEmpty,
      s"no retained snapshot v$v at $root — it never existed, or a rollback or " +
        "sweepUnreferenced past the retention grace window dropped it")
    readCheck(lines, root)
    lines
  }

  /** Retained snapshot versions at `root`, ascending. */
  def snapshots(s: SparkSession, root: String): Seq[Long] = {
    val (rootPath, fs) = fsOf(s, root)
    if (!fs.exists(rootPath)) Seq.empty
    else fs.listStatus(rootPath).toSeq.flatMap(st => snapshotOf(st.getPath.getName)).sorted
  }

  private def snapshotOf(name: String): Option[Long] = name match {
    case SnapshotName(v) => Some(v.toLong)
    case _ => None
  }

  /** The live manifest's version under the store's own rule. */
  def currentVersion(s: SparkSession, root: String,
      versionOf: Seq[String] => Long): Long = {
    val lines = live(s, root)
    require(lines.nonEmpty, s"nothing published at $root")
    versionOf(lines)
  }

  /** Publish `lines` as the live manifest and as snapshot `v` (see the
    * class doc for the order). Returns `v`. */
  def publish(s: SparkSession, root: String, lines: Seq[String], v: Long): Long = {
    val (rootPath, fs) = fsOf(s, root)
    fs.mkdirs(rootPath)
    writeAtomically(s, root, manifestName, lines, ".manifest-")
    writeAtomically(s, root, versionName(v), lines, ".manifest-")
    val seen = live(s, root)
    if (seen != lines)
      throw new IllegalStateException(
        s"concurrent manifest publish detected at $root: wrote ${lines.mkString(",")} " +
          s"but read back ${seen.mkString(",")} — serialize writers (one per root)")
    v
  }

  /** Has a streamed batch's `batch:<tag>` line ridden a published
    * manifest? The exactly-once check for foreachBatch replays. */
  def batchApplied(s: SparkSession, root: String, tag: String): Boolean =
    live(s, root).contains(s"batch:$tag")

  /** Data dirs that `liveLines` or any retained snapshot references. */
  private def referenced(s: SparkSession, root: String,
      liveLines: Seq[String]): Set[String] =
    (liveLines +: snapshots(s, root).map(asOf(s, root, _)))
      .filter(_.nonEmpty).flatMap(refsOf).toSet

  private def dropDir(fs: FileSystem, rootPath: Path, name: String): Unit = {
    companions(name).foreach(c => fs.delete(new Path(rootPath, c), true))
    fs.delete(new Path(rootPath, name), true); ()
  }

  /** RESTORE retained snapshot `v` as the live state (the Delta RESTORE
    * shape) and drop the abandoned suffix at once, no grace (see the
    * class doc for the order). History at and before `v` stays
    * readable. The `batch:` ledger rolls back with the manifest. */
  def rollbackTo(s: SparkSession, root: String, v: Long): Unit =
    PublishLock.withLock(s, root) {
      val suffix = snapshots(s, root).filter(_ > v)
      requireUnpinned(s, root, suffix)
      val lines = asOf(s, root, v)
      val (rootPath, fs) = fsOf(s, root)
      suffix.reverse.foreach(x => fs.delete(new Path(rootPath, versionName(x)), false))
      writeAtomically(s, root, manifestName, lines, ".manifest-")
      val refs = referenced(s, root, lines)
      fs.listStatus(rootPath).toSeq.map(_.getPath.getName)
        .filter(n => dataDir.matches(n) && !refs(n))
        .foreach(dropDir(fs, rootPath, _))
    }

  /** GC past `graceMs` (the Delta VACUUM shape, see the class doc):
    * expired snapshots, unreferenced data dirs and stale temp files.
    * `keep` lists versions the store never lets expire. Returns the
    * deleted names. */
  def sweepUnreferenced(s: SparkSession, root: String, graceMs: Long,
      keep: Set[Long] = Set.empty): Seq[String] = {
    val (rootPath, fs) = fsOf(s, root)
    if (!fs.exists(rootPath)) return Seq.empty
    val now = System.currentTimeMillis()
    def stale(st: FileStatus) = now - st.getModificationTime > graceMs
    val spared = keep ++ pins(s, root).values
    val expired = fs.listStatus(rootPath).toSeq
      .filter(st => st.isFile && stale(st) &&
        snapshotOf(st.getPath.getName).exists(v => !spared(v)))
      .map { st => fs.delete(st.getPath, false); st.getPath.getName }
    val refs = referenced(s, root, live(s, root))
    expired ++ fs.listStatus(rootPath).toSeq.filter(stale).map(_.getPath.getName)
      .flatMap { n =>
        if (dataDir.matches(n) && !refs(n)) { dropDir(fs, rootPath, n); Some(n) }
        else if (TempPrefixes.exists(n.startsWith)) {
          fs.delete(new Path(rootPath, n), false); Some(n)
        } else None
      }
  }

  // ----------------------------------------------------------------
  // Training-run pins: retention as a contract, not a race against the
  // grace window. A sweep never expires a pinned version (its data dirs
  // survive through the retained snapshot's references), and a
  // rollback refuses to discard one — losing a registered run's replay
  // is a two-step, named decision.
  // ----------------------------------------------------------------

  /** The registry at `root`: tag → pinned version. */
  def pins(s: SparkSession, root: String): Map[String, Long] =
    linesOf(s, root, PinsName).filter(_.startsWith("pin:")).map { line =>
      val kv = line.stripPrefix("pin:").split("=", 2)
      kv(0) -> kv(1).toLong
    }.toMap

  private def writePins(s: SparkSession, root: String, m: Map[String, Long]): Unit =
    if (m.isEmpty) {
      val (rootPath, fs) = fsOf(s, root)
      fs.delete(new Path(rootPath, PinsName), false); ()
    } else writeAtomically(s, root, PinsName,
      m.toSeq.sortBy(_._1).map { case (t, v) => s"pin:$t=$v" }, ".pins-")

  /** Pin retained version `v` under `tag`; re-pinning a tag moves it.
    * Pinning a version that is not retained fails now, not at replay. */
  def pin(s: SparkSession, root: String, tag: String, v: Long): Unit = {
    require(tag.nonEmpty && !tag.contains("=") && !tag.contains("\n"),
      s"pin tag must be a single line without '=': '$tag'")
    require(snapshots(s, root).contains(v),
      s"cannot pin version $v at $root — not a retained snapshot (it never " +
        "existed, or the retention sweep already dropped it)")
    PublishLock.withLock(s, root)(writePins(s, root, pins(s, root) + (tag -> v)))
  }

  /** Drop `tag`'s pin (unknown tags are a no-op). */
  def unpin(s: SparkSession, root: String, tag: String): Unit =
    PublishLock.withLock(s, root)(writePins(s, root, pins(s, root) - tag))

  private def requireUnpinned(s: SparkSession, root: String,
      dropping: Seq[Long]): Unit = {
    val hit = pins(s, root).filter { case (_, v) => dropping.contains(v) }
    require(hit.isEmpty,
      s"rollback at $root would discard pinned version(s) " +
        hit.map { case (t, v) => s"v$v (pin '$t')" }.mkString(", ") +
        " — unpin first if losing those replays is intended")
  }
}
