package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SnapshotTable

/** `file:` filesystem that counts `getFileStatus` and `listStatus`
  * calls on paths under [[ManifestCountingFs.scope]]. */
class ManifestCountingFs extends LocalFileSystem {
  import ManifestCountingFs._
  override def getFileStatus(f: Path): FileStatus = {
    hit(f, stats); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    hit(f, lists); super.listStatus(f)
  }
}

object ManifestCountingFs {
  @volatile var scope: Option[String] = None
  val stats = new AtomicLong
  val lists = new AtomicLong
  private def hit(f: Path, c: AtomicLong): Unit =
    if (scope.exists(f.toUri.getPath.startsWith)) { c.incrementAndGet(); () }
}

/** Pins the manifest filesystem calls of one commit: `getFileStatus`
  * and `listStatus` on `_manifests/` for a ledger-only commit, a
  * property commit and an append. Each is measured as the commit of
  * v4 and of v14 (both delta manifests) and must cost the same — the
  * commit protocol reads the base state once per attempt, whatever
  * the table's history. The counting filesystem is installed through
  * `fs.file.impl` with the FileSystem cache disabled, for this suite
  * only. */
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

  /** (getFileStatus, listStatus) calls on `dir`'s `_manifests/` made by
    * `commit`, with the head state already resolved — as any writer
    * finds it after the previous commit. */
  private def manifestCalls(dir: String)(commit: => Unit): (Long, Long) = {
    SnapshotTable.manifestFiles(spark, dir, head(dir))
    val s0 = ManifestCountingFs.stats.get
    val l0 = ManifestCountingFs.lists.get
    ManifestCountingFs.scope = Some(new Path(dir, "_manifests").toUri.getPath)
    try commit finally ManifestCountingFs.scope = None
    (ManifestCountingFs.stats.get - s0, ManifestCountingFs.lists.get - l0)
  }

  /** (name, commit onto base version v, expected (stat, list)). */
  private val commits: Seq[(String, (String, Long) => Unit, (Long, Long))] =
    Seq(
      ("advanceTxn",
        (d, v) => SnapshotTable.advanceTxn(spark, d, "app", v), (3L, 1L)),
      ("setProperties",
        (d, v) => SnapshotTable.setProperties(spark, d, Map("k" -> s"$v")),
        (3L, 1L)),
      ("append",
        (d, v) => SnapshotTable.append(Seq((v, "x")).toDF("id", "v"), d),
        (13L, 5L)))

  commits.foreach { case (name, commit, expected) =>
    test(s"$name: manifest stat/list calls per commit are pinned and " +
      "independent of the version") {
      val dir = Files.createTempDirectory(s"graft-fscalls-$name")
        .toString + "/t"
      SnapshotTable.append(Seq((0L, "a")).toDF("id", "v"), dir)
      val got = Seq(3L, 13L).map { v =>
        growTo(dir, v)
        val calls = manifestCalls(dir)(commit(dir, v))
        assert(head(dir) == v + 1, s"$name did not commit v${v + 1}")
        v -> calls
      }
      assert(got.map(_._2).distinct == Seq(expected),
        s"$name (stat, list) by base version: $got")
    }
  }
}
