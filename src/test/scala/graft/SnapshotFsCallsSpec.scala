package graft

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SnapshotTable

/** `file:` filesystem that counts `getFileStatus` and `listStatus`
  * calls on paths under [[ManifestCountingFs.scope]] (made by
  * [[ManifestCountingFs.thread]] only, when set), and runs a one-shot
  * hook right after an armed listing returns. */
class ManifestCountingFs extends LocalFileSystem {
  import ManifestCountingFs._
  override def getFileStatus(f: Path): FileStatus = {
    hit(f, stats); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    hit(f, lists)
    val out = super.listStatus(f)
    val armed = afterList.get
    armed.foreach { case (matches, run) =>
      if (matches(f) && afterList.compareAndSet(armed, None)) run()
    }
    out
  }
}

object ManifestCountingFs {
  @volatile var scope: Option[String] = None
  @volatile var thread: Option[Thread] = None
  val stats = new AtomicLong
  val lists = new AtomicLong
  private val afterList =
    new AtomicReference[Option[(Path => Boolean, () => Unit)]](None)

  /** Run `f` once, right after the next listing of [[scope]]. */
  def onNextList(f: => Unit): Unit =
    afterList.set(Some((p: Path) => scope.contains(p.toUri.getPath),
      () => f))

  /** Run `f` once, right after the calling thread next lists a
    * directory directly under `parent` — for `data/`, a batch
    * directory, listed once its write has finished. */
  def onNextListUnder(parent: Path)(f: => Unit): Unit = {
    val armedBy = Thread.currentThread()
    val pp = parent.toUri.getPath
    afterList.set(Some((p: Path) => (Thread.currentThread() eq armedBy) &&
      Option(p.getParent).exists(_.toUri.getPath == pp), () => f))
  }
  def disarm(): Unit = afterList.set(None)

  private def hit(f: Path, c: AtomicLong): Unit =
    if (scope.exists(f.toUri.getPath.startsWith) &&
        thread.forall(_ eq Thread.currentThread())) {
      c.incrementAndGet(); ()
    }
}

/** Pins the manifest filesystem calls of one table operation:
  * `getFileStatus` and `listStatus` on `_manifests/` for commits (a
  * ledger-only commit, a property commit, an append, a delete and a
  * merge) and for reads (a full read, a point lookup and a SQL point
  * lookup). Each is measured at v4 and at v14 (both delta manifests)
  * and must cost the same — an operation resolves its snapshot once,
  * whatever the table's history. Also pins that a read resolves ONE
  * version even when a commit lands between its steps, that a
  * compaction whose input a delete rewrote meanwhile fails instead of
  * resurrecting rows, that a writer whose base a vacuum removed
  * meanwhile commits on the new head, and that a read plans from
  * manifest-recorded sizes without stat calls on its data files. The
  * counting filesystem is installed through `fs.file.impl` with the
  * FileSystem cache disabled, for this suite only. */
class SnapshotFsCallsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val confKeys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
  private var saved: Seq[(String, Option[String])] = Nil

  override def beforeAll(): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    saved = confKeys.map(k => k -> Option(hc.get(k)))
    hc.set("fs.file.impl", classOf[ManifestCountingFs].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
  }

  override def afterAll(): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    saved.foreach { case (k, v) => v.fold(hc.unset(k))(hc.set(k, _)) }
  }

  private def head(dir: String): Long =
    SnapshotTable.latestVersion(spark, dir).get

  /** Ledger-only commits until the head is `v`. */
  private def growTo(dir: String, v: Long): Unit =
    while (head(dir) < v)
      SnapshotTable.advanceTxn(spark, dir, "grow", head(dir) + 1)

  /** (getFileStatus, listStatus) calls made by `op` under `scope`. */
  private def calls(scope: Path, thread: Option[Thread] = None)
                   (op: => Unit): (Long, Long) = {
    val s0 = ManifestCountingFs.stats.get
    val l0 = ManifestCountingFs.lists.get
    ManifestCountingFs.thread = thread
    ManifestCountingFs.scope = Some(scope.toUri.getPath)
    try op
    finally {
      ManifestCountingFs.scope = None
      ManifestCountingFs.thread = None
    }
    (ManifestCountingFs.stats.get - s0, ManifestCountingFs.lists.get - l0)
  }

  /** (getFileStatus, listStatus) calls on `dir`'s `_manifests/` made by
    * `op`, with the head state already resolved — as any caller finds
    * it after the previous commit. */
  private def manifestCalls(dir: String)(op: => Unit): (Long, Long) = {
    SnapshotTable.manifestFiles(spark, dir, head(dir))
    calls(new Path(dir, "_manifests"))(op)
  }

  private def newTable(name: String): String = {
    val dir = Files.createTempDirectory(s"graft-fscalls-$name")
      .toString + "/t"
    SnapshotTable.append((0L to 20L).map(i => (i, s"a$i")).toDF("id", "v"),
      dir, statsCols = Seq("id"))
    dir
  }

  /** (name, operation at key v, commits?, expected (stat, list)). A
    * committing operation runs on base version v and commits v+1; a
    * read runs with the head at v. */
  private val ops: Seq[(String, (String, Long) => Unit, Boolean, (Long, Long))] =
    Seq(
      ("advanceTxn",
        (d, v) => SnapshotTable.advanceTxn(spark, d, "app", v), true,
        (3L, 1L)),
      ("setProperties",
        (d, v) => SnapshotTable.setProperties(spark, d, Map("k" -> s"$v")),
        true, (3L, 1L)),
      ("append",
        (d, v) => SnapshotTable.append(Seq((v, "x")).toDF("id", "v"), d),
        true, (3L, 1L)),
      ("deleteWhere",
        (d, v) => SnapshotTable.deleteWhere(spark, d, col("id") === v),
        true, (3L, 1L)),
      ("merge",
        (d, v) => SnapshotTable.merge(spark, d,
          Seq((v, "m")).toDF("id", "v"), Seq("id")), true, (3L, 1L)),
      ("read",
        (d, _) => SnapshotTable.read(spark, d).collect(), false, (1L, 1L)),
      ("readWhereEq",
        (d, v) => SnapshotTable.readWhereEq(spark, d, "id", v).collect(),
        false, (1L, 1L)),
      ("sqlLookup",
        (d, v) => spark.sql(s"SELECT * FROM graft.`$d` WHERE id = $v")
          .collect(), false, (1L, 1L)))

  ops.foreach { case (name, op, commits, expected) =>
    val per = if (commits) "commit" else "read"
    test(s"$name: manifest stat/list calls per $per are pinned and " +
      "independent of the version") {
      val dir = newTable(name)
      val got = Seq(4L, 14L).map { at =>
        val v = if (commits) at - 1 else at
        growTo(dir, v)
        val c = manifestCalls(dir)(op(dir, v))
        assert(head(dir) == (if (commits) v + 1 else v),
          s"$name moved the head to v${head(dir)}")
        at -> c
      }
      assert(got.map(_._2).distinct == Seq(expected),
        s"$name (stat, list) by version: $got")
    }
  }

  test("a read resolves one version even when a compaction commits " +
    "between its steps") {
    // The commit lands right after the read's listing of _manifests/
    // returns: a read that resolved the head again for a later step
    // would pair the pre-compaction file list with the compacted
    // version's (empty) deletion vectors and resurrect the deleted
    // row.
    val reads: Seq[(String, String => Array[org.apache.spark.sql.Row])] =
      Seq(
        "readWhereEq" -> (d => SnapshotTable.readWhereEq(spark, d, "id", 5L)
          .collect()),
        "readWhere" -> (d => SnapshotTable.readWhere(spark, d, "id", 5L, 5L)
          .collect()))
    reads.foreach { case (name, read) =>
      val dir = Files.createTempDirectory(s"graft-torn-$name")
        .toString + "/t"
      SnapshotTable.append((1L to 10L).map(i => (i, s"a$i")).toDF("id", "v"),
        dir, statsCols = Seq("id"))
      SnapshotTable.append((11L to 20L).map(i => (i, s"a$i")).toDF("id", "v"),
        dir, statsCols = Seq("id"))
      SnapshotTable.deleteWhereMor(spark, dir, col("id") === 5L)
      val before = head(dir)
      ManifestCountingFs.scope =
        Some(new Path(dir, "_manifests").toUri.getPath)
      ManifestCountingFs.onNextList {
        assert(SnapshotTable.compact(spark, dir).nonEmpty)
      }
      val rows =
        try read(dir)
        finally {
          ManifestCountingFs.scope = None
          ManifestCountingFs.disarm()
        }
      assert(head(dir) == before + 1, s"$name: the compaction did not commit")
      assert(rows.isEmpty, s"$name after compaction: ${rows.toSeq}")
    }
  }

  test("compact fails loudly when a delete rewrites one of its input " +
    "files before it commits") {
    val dir = Files.createTempDirectory("graft-fscalls-cdel").toString + "/t"
    SnapshotTable.append((1L to 10L).map(i => (i, s"a$i")).toDF("id", "v"),
      dir, statsCols = Seq("id"))
    SnapshotTable.append((11L to 20L).map(i => (i, s"a$i")).toDF("id", "v"),
      dir, statsCols = Seq("id"))
    // the delete commits right after compact resolved its snapshot
    ManifestCountingFs.scope = Some(new Path(dir, "_manifests").toUri.getPath)
    ManifestCountingFs.onNextList {
      assert(SnapshotTable.deleteWhere(spark, dir, col("id") === 5L).nonEmpty)
    }
    try intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.compact(spark, dir)
    } finally {
      ManifestCountingFs.scope = None
      ManifestCountingFs.disarm()
    }
    val ids = SnapshotTable.read(spark, dir).collect().map(_.getLong(0))
    assert(ids.sorted.toSeq == (1L to 20L).filter(_ != 5L))
  }

  test("a writer whose base version was vacuumed meanwhile commits on " +
    "the new head") {
    // Right after the append has written its data files, two other
    // appends land and a vacuum keeping one version deletes every
    // manifest below the new head — including the slot right after
    // the append's base. Committing into that free slot would publish
    // a version below the head: never listed, later vacuumed, its rows
    // lost while the append reported success.
    Seq(true, false).foreach { committed =>
      val dir = Files.createTempDirectory("graft-fscalls-vac")
        .toString + "/t"
      if (committed)
        SnapshotTable.append(Seq((1L, "a")).toDF("id", "v"), dir)
      else // an empty _manifests/: the base is "no table yet"
        Files.createDirectories(java.nio.file.Paths.get(dir, "_manifests"))
      val base = SnapshotTable.latestVersion(spark, dir)
      ManifestCountingFs.onNextListUnder(new Path(dir, "data")) {
        SnapshotTable.append(Seq((2L, "b")).toDF("id", "v"), dir)
        SnapshotTable.append(Seq((3L, "c")).toDF("id", "v"), dir)
        SnapshotTable.vacuum(spark, dir, keepVersions = 1)
        assert(SnapshotTable.latestVersion(spark, dir) ==
          Some(base.fold(0L)(_ + 1) + 1))
      }
      try SnapshotTable.append(Seq((4L, "d")).toDF("id", "v"), dir)
      finally ManifestCountingFs.disarm()
      assert(head(dir) == base.fold(0L)(_ + 1) + 2,
        s"committed=$committed: head v${head(dir)}")
      val ids = SnapshotTable.read(spark, dir).collect().map(_.getLong(0))
      val want = (if (committed) Seq(1L) else Nil) ++ Seq(2L, 3L, 4L)
      assert(ids.sorted.toSeq == want, s"committed=$committed")
    }
  }

  test("a read plans from manifest sizes: no data-file stat calls on " +
    "the driver") {
    val dir = Files.createTempDirectory("graft-fscalls-sizes")
      .toString + "/t"
    (1L to 3L).foreach(i =>
      SnapshotTable.append(Seq((i, s"a$i")).toDF("id", "v"), dir))
    assert(SnapshotTable.manifestFiles(spark, dir, head(dir)).length == 3)
    val (stats, _) = calls(new Path(dir, "data"),
        Some(Thread.currentThread())) {
      assert(SnapshotTable.read(spark, dir).collect().length == 3)
    }
    assert(stats == 0L, s"getFileStatus calls under data/: $stats")
  }
}
