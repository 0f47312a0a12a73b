package perfbench

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SnapshotTable

class FsCounterSpec extends AnyFunSuite {
  private val kinds = CountingLocalFileSystem.Kinds

  private def delta(f: => Unit): Map[String, (Long, Long)] = {
    val a = CountingLocalFileSystem.snapshot()
    f
    val b = CountingLocalFileSystem.snapshot()
    kinds.indices.map { i =>
      kinds(i) -> ((b(i) - a(i), b(kinds.length + i) - a(kinds.length + i)))
    }.toMap
  }

  test("the fs counter sees a known append, in the op's bucket") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("perfbench-fs")
    val dir = root.toString + "/t"
    SnapshotTable.append(Seq((0L, "a")).toDF("id", "v"), dir)
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.OpProperty, "1")
    val d = try delta {
      SnapshotTable.append(Seq((1L, "b"), (2L, "c")).toDF("id", "v"), dir, statsCols = Seq("id"))
    } finally sc.setLocalProperty(Trace.OpProperty, null)
    // The data file is written through Hadoop's FileSystem by a task of
    // the op's job; the commit protocol stats and renames around it.
    assert(d("create")._1 >= 1, d)
    assert(d("stat")._1 >= 1, d)
    assert(d.values.map(_._2).sum == 0, s"work outside the op's bucket: $d")
    assert(SnapshotTable.read(spark, dir).count() == 3)
    Workload.deleteTree(root)
  }

  test("calls outside any op land in the other bucket") {
    val spark = TestSpark.spark
    val root = java.nio.file.Files.createTempDirectory("perfbench-fs2")
    val d = try delta { spark.read.text(root.toString).collect() } finally Workload.deleteTree(root)
    assert(d.values.map(_._1).sum == 0, d)
    assert(d.values.map(_._2).sum >= 1, d)
  }
}
