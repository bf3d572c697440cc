package graft

import java.io.{File, IOException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import graft.operators.VersionedRoot

/** Crash-point matrix for the versioned-root lifecycle shared by the
  * three stores: every create/rename/delete of [[VersionedRoot]]'s
  * `publish`, `rollbackTo`, `sweepUnreferenced` and `pin` is failed in
  * turn on a `crash://` root ([[CrashFs]]), and after each crash the
  * root must hold a state some complete history explains. */
class VersionedRootSpec extends SparkSpec {
  private val Manifest = "_TEST_MANIFEST"
  private val core = new VersionedRoot(Manifest,
    refsOf = _.filter(_.startsWith("d-")).toSet, dataDir = "d-\\d+".r)

  /** A model store: publishing version n adds data dir `d-n` (holding
    * a fresh marker) to the live lines, n = highest live dir + 1, so a
    * rolled-back suffix's dir names are reused — the stores' rule. */
  private class Model(prefix: String) {
    val root: String = CrashFs.tempRoot(prefix)
    val dir = new File(new java.net.URI(root).getPath)
    /** Every manifest byte string observed live. */
    val everLive = mutable.Set.empty[String]
    /** Per version, the bytes and dir markers its publish wrote. */
    val published = mutable.Map.empty[Long, (String, Map[String, String])]
    private var epoch = 0

    def file(name: String): Option[String] = {
      val f = new File(dir, name)
      if (f.isFile) Some(new String(Files.readAllBytes(f.toPath), UTF_8)) else None
    }
    def live: String = file(Manifest).getOrElse(fail(s"no live manifest at $root"))
    def snapshot(v: Long): String = file(s"$Manifest.v$v").get
    def dirs(bytes: String): Seq[String] = bytes.split("\n").toSeq.filter(_.startsWith("d-"))
    def observe(): Unit = { everLive += live; () }
    /** What a crash may tear: the live manifest and the pin registry. */
    def state: (String, Map[String, Long]) = (live, core.pins(spark, root))

    def writeDir(d: String): Unit = {
      val f = new File(dir, d)
      org.apache.commons.io.FileUtils.deleteDirectory(f) // mode("overwrite")
      f.mkdirs()
      epoch += 1
      Files.write(new File(f, "marker").toPath, s"epoch-$epoch".getBytes(UTF_8)); ()
    }

    /** The lines the next publish writes, its version, and its record. */
    def next(): (Seq[String], Long) = {
      val lines = core.live(spark, root)
      val n = (lines.map(_.stripPrefix("d-").toLong) :+ 0L).max + 1
      writeDir(s"d-$n")
      val out = lines :+ s"d-$n"
      published(n) = (out.mkString("\n"),
        out.map(d => d -> file(s"$d/marker").get).toMap)
      (out, n)
    }

    def publishNext(): Long = {
      val (lines, n) = next()
      core.publish(spark, root, lines, n)
      observe()
      n
    }

    /** The crash invariants: the live manifest and the registry are
      * the state before or after the interrupted call, every retained
      * snapshot is a manifest that was once live, every pinned version
      * is retained, and every referenced dir exists. */
    def checkCrashed(before: (String, Map[String, Long]),
        after: (String, Map[String, Long])): Unit = {
      assert(state == before || state == after, s"state: $state")
      observe()
      val retained = core.snapshots(spark, root)
      retained.foreach(v => assert(everLive(snapshot(v)), s"v$v never live"))
      core.pins(spark, root).values.foreach(v => assert(retained.contains(v), s"pinned v$v"))
      (live +: retained.map(snapshot)).flatMap(dirs).foreach(d =>
        assert(new File(dir, d).isDirectory, s"$d referenced but missing"))
    }

    /** Every retained snapshot still replays what its publish wrote:
      * the same bytes over dirs holding the same markers. */
    def checkReplays(): Unit = core.snapshots(spark, root).foreach { v =>
      val (bytes, markers) = published(v)
      assert(snapshot(v) == bytes, s"v$v bytes")
      markers.foreach { case (d, m) =>
        assert(file(s"$d/marker").contains(m), s"v$v replays a rewritten $d")
      }
    }

    /** A sweep past grace leaves no temp file and no unreferenced dir. */
    def checkSweptClean(): Unit = {
      core.sweepUnreferenced(spark, root, graceMs = -1L)
      val names = dir.list().toSeq
      assert(!names.exists(n => n.startsWith(".manifest-") || n.startsWith(".pins-")),
        names.mkString(","))
      val refs = (live +: core.snapshots(spark, root).map(snapshot)).flatMap(dirs).toSet
      assert(names.filter(_.startsWith("d-")).forall(refs), names.mkString(","))
    }
  }

  /** Run `op` once per crash point k = 1, 2, … until it completes
    * uncrashed; after each crash check the invariants, then that the
    * next publish succeeds and leaves a root that replays and sweeps
    * clean. `after` is the state the completed call leaves. Lock-file
    * IO is [[PublishLock]]'s and is not a crash point here. */
  private def crashMatrix(name: String)(setup: Model => Unit)(op: Model => Unit)(
      after: Model => (String, Map[String, Long])): Int = {
    var k = 0
    var done = false
    while (!done) {
      k += 1
      val m = new Model(s"vr_${name}_$k")
      setup(m)
      val before = m.state
      val expected = after(m)
      CrashFs.crashAt(k, _.getName != ".publish-lock")
      val crashed =
        try { op(m); false }
        catch { case e: IOException if e.getMessage.startsWith("injected crash") => true }
        finally CrashFs.disarm()
      if (crashed) {
        m.checkCrashed(before, expected)
        m.publishNext()
        m.checkReplays()
        m.checkSweptClean()
      } else {
        assert(m.state == expected)
        done = true
      }
    }
    assert(k > 1, s"$name: no crash point was exercised")
    k - 1
  }

  test("publish: a crash at any step leaves the old or the new live manifest and only once-live snapshots") {
    CrashFs.register(spark)
    val points = crashMatrix("publish")(m => { m.publishNext(); m.publishNext(); () })(
      m => { val (lines, n) = m.next(); core.publish(spark, m.root, lines, n); m.observe() })(
      m => ((m.dirs(m.live) :+ "d-3").mkString("\n"), Map.empty))
    assert(points == 4, s"$points crash points") // tmp, live move, tmp, snapshot move
  }

  test("rollbackTo: a crash at any step leaves a root whose retained snapshots replay their publishes after the next write") {
    CrashFs.register(spark)
    val points = crashMatrix("rollback")(m => (1 to 3).foreach(_ => m.publishNext()))(
      m => core.rollbackTo(spark, m.root, 1L))(
      m => (m.snapshot(1L), Map.empty))
    assert(points == 6, s"$points crash points") // 2 snapshots, tmp, live move, 2 dirs
  }

  test("sweepUnreferenced: a crash at any step keeps the pinned snapshot and every referenced dir") {
    CrashFs.register(spark)
    val points = crashMatrix("sweep") { m =>
      (1 to 3).foreach(_ => m.publishNext())
      core.pin(spark, m.root, "run", 2L)
      m.writeDir("d-9")
      Seq(".manifest-1", ".pins-1").foreach(n => Files.write(new File(m.dir, n).toPath,
        "torn".getBytes(UTF_8)))
    } { m =>
      core.sweepUnreferenced(spark, m.root, graceMs = -1L)
      assert(core.snapshots(spark, m.root) == Seq(2L)); ()
    }(_.state)
    assert(points == 5, s"$points crash points") // v1, v3, d-9, two temps
  }

  test("pin: a crash at any step leaves the old or the new registry") {
    CrashFs.register(spark)
    val points = crashMatrix("pin") { m =>
      (1 to 2).foreach(_ => m.publishNext())
      core.pin(spark, m.root, "old", 2L)
    }(m => core.pin(spark, m.root, "run", 1L))(
      m => (m.live, Map("old" -> 2L, "run" -> 1L)))
    assert(points == 2, s"$points crash points") // tmp, registry move
  }
}
