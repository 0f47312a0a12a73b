package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** One benchmark workload: set up, run a closed loop from one client
  * thread until the deadline, then check every output against the
  * generator's model. */
trait Workload {
  /** Build the workload's state under `dir`. */
  def setup(dir: Path): Unit
  /** Directory of the state [[setup]] built. */
  def stateDir: String
  def run(deadlineMs: Double): Unit
  /** Mismatches found outside the timed loop, one line each. */
  def check(): Seq[String]
  /** Operation kinds of the workload's heavy and light classes
    * (ingest: waves and top-100 reads; table_ops: writes and reads;
    * analytics: data-path and fixed-cost queries). */
  def heavyKinds: Seq[String]
  def lightKinds: Seq[String]
  /** End-to-end figures beyond the pooled latency ones (name -> value, unit). */
  def figures(): Seq[(String, Double, String)]
  /** Per-layer figures only the workload knows (traced run). */
  def layerFigures(b: Trace.Breakdown): Map[String, Double]
  /** Lines describing the workload's sizes, for the artifact. */
  def describe(): Map[String, Any]
  def close(): Unit = ()
}

object Workload {
  def freshDir(p: Path): Path = {
    if (Files.exists(p)) deleteTree(p)
    Files.createDirectories(p)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.deleteIfExists(q))
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def make(name: String, spark: SparkSession, rec: Recorder, seed: Long, cores: Int): Workload =
    name match {
      case "ingest" => new IngestWorkload(spark, rec, seed, cores)
      case "table_ops" => new TableOpsWorkload(spark, rec, seed, cores)
      case "analytics" => new AnalyticsWorkload(spark, rec, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}
