package graft.operators

import org.apache.spark.sql.SparkSession

/** Create-exclusive publish lock shared by all three versioned stores
  * ([[graft.sources.CorpusStore]], [[TextIndex]], [[AnnIndex]]) — the
  * serializer in front of each root's read-manifest → write-data →
  * publish critical section, and around [[VersionedRoot]]'s rollback
  * and pin writes, so two well-behaved writers SERIALIZE instead of one
  * erroring at the post-publish read-back after its data bytes were
  * already written (the read-back stays as the backstop against a
  * writer that bypasses the lock).
  *
  * Mechanics: `FileSystem.create(path, overwrite = false)` is atomic
  * create-exclusive on HDFS and local filesystems — exactly one of N
  * racing writers gets the file. A loser polls until `timeoutMs`. A
  * lock older than `staleMs` is presumed abandoned by a crashed writer
  * and broken (deleted + re-raced): the store itself needs no
  * recovery, because a crash mid-critical-section leaves only an
  * unreferenced data dir the next writer's `mode-overwrite` write
  * replaces and [[VersionedRoot.sweepUnreferenced]] GCs.
  *
  * Everything goes through the Hadoop FS layer, so a non-local root
  * locks the same way the manifest IO reads. Two layers, because
  * `create(overwrite = false)` is only atomic where the FILESYSTEM
  * makes it so (HDFS does; the local RawLocalFileSystem's is
  * check-then-act, and object stores vary): a per-root in-process
  * ReentrantLock serializes same-JVM writers FIRST (two threads of
  * one local[] driver — the spec-pinned case), and the lock FILE
  * serializes cross-process writers where the store's create is
  * atomic. Where neither holds the lock degrades to advisory — the
  * post-publish read-back backstop still turns a lost race into a
  * named error. */
private[graft] object PublishLock {
  private val LockName = ".publish-lock"

  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()

  /** Run `body` holding the root's exclusive publish lock. */
  def withLock[T](s: SparkSession, root: String,
      timeoutMs: Long = 60000, staleMs: Long = 10L * 60 * 1000)(body: => T): T = {
    val conf = s.sparkContext.hadoopConfiguration
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(conf)
    fs.mkdirs(rootPath)
    val jl = jvmLocks.computeIfAbsent(fs.makeQualified(rootPath).toString,
      _ => new java.util.concurrent.locks.ReentrantLock())
    if (!jl.tryLock(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS))
      throw new IllegalStateException(
        s"timed out after ${timeoutMs}ms waiting for the in-process publish lock on " +
          s"$root — another writer thread holds it")
    try withFileLock(s, fs, rootPath, timeoutMs, staleMs)(body)
    finally jl.unlock()
  }

  private def withFileLock[T](s: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      rootPath: org.apache.hadoop.fs.Path,
      timeoutMs: Long, staleMs: Long)(body: => T): T = {
    val lock = new org.apache.hadoop.fs.Path(rootPath, LockName)
    val deadline = System.currentTimeMillis() + timeoutMs
    var held = false
    while (!held) {
      try {
        val out = fs.create(lock, false) // atomic create-exclusive
        try out.write(
          s"pid=${ProcessHandle.current().pid()} t=${System.currentTimeMillis()}"
            .getBytes("UTF-8"))
        finally out.close()
        held = true
      } catch {
        case _: java.io.IOException => // exists (or transient): poll
          val st = scala.util.Try(fs.getFileStatus(lock)).toOption
          st match {
            case Some(f)
                if System.currentTimeMillis() - f.getModificationTime > staleMs =>
              // abandoned by a crashed writer — break it and re-race
              fs.delete(lock, false); ()
            case _ =>
              if (System.currentTimeMillis() > deadline)
                throw new IllegalStateException(
                  s"timed out after ${timeoutMs}ms waiting for publish lock $lock — " +
                    "another index writer holds it (or crashed < staleMs ago)")
              Thread.sleep(25)
          }
      }
    }
    try body
    finally { fs.delete(lock, false); () }
  }
}
