package graft

import java.io.IOException
import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** A local filesystem on the `crash://` scheme that fails on demand —
  * the crash-point harness for the versioned stores. Every create,
  * rename and delete first calls [[CrashFs.hook]]; a hook that throws
  * is a crash at that step. A crashed create leaves its empty file
  * behind (a torn write). Reads, listings and mkdirs never crash. */
object CrashFs {
  @volatile var hook: (String, Path) => Unit = (_, _) => ()

  /** Crash at the `k`-th create/rename/delete whose target `counted`
    * accepts. Returns the running count of such operations. */
  def crashAt(k: Int, counted: Path => Boolean = _ => true): AtomicInteger = {
    val n = new AtomicInteger()
    hook = (op, p) =>
      if (counted(p) && n.incrementAndGet() == k)
        throw new IOException(s"injected crash at $op #$k of $p")
    n
  }

  def disarm(): Unit = hook = (_, _) => ()

  /** Register the scheme in the session's Hadoop conf, uncached, for
    * both `FileSystem` and `FileContext` lookups. */
  def register(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.crash.impl", classOf[CrashFs].getName)
    conf.set("fs.AbstractFileSystem.crash.impl", classOf[CrashAbstractFs].getName)
    conf.setBoolean("fs.crash.impl.disable.cache", true)
  }

  /** A fresh local temp dir, as a `crash://` root. */
  def tempRoot(prefix: String): String =
    "crash://" + java.nio.file.Files.createTempDirectory(prefix).toString
}

class CrashFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("crash:///")
  override def getScheme: String = "crash"

  private def torn(f: Path)(create: => FSDataOutputStream): FSDataOutputStream = {
    try CrashFs.hook("create", f)
    catch { case e: IOException => create.close(); throw e }
    create
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    torn(f)(super.create(f, overwrite, bufferSize, replication, blockSize, progress))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    torn(f)(super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress))

  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.hook("rename", dst)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFs.hook("delete", p)
    super.delete(p, recursive)
  }
}

/** `FileContext` binding for [[CrashFs]]. A rename over an existing
  * file is ONE atomic POSIX rename, as on HDFS; Hadoop's default
  * deletes the destination first, which is a second crash point no
  * atomic-rename filesystem has. */
class CrashAbstractFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CrashFs, conf, "crash", false) {
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit =
    if (!fsImpl.rename(src, dst)) throw new IOException(s"rename $src -> $dst failed")
}
