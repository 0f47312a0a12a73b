package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import graft.queries.Queries

/** Read-only passes over a fixed list of graft's queries on a seeded
  * TPC-H-like dataset, each sent to the `noop` sink. The seed sets the
  * data and the query order within each pass; a pass always completes,
  * so every run covers the whole list equally. Results are checked
  * against the DuckDB oracles after the timed loop (by the runner). */
final class AnalyticsWorkload(spark: SparkSession, rec: Recorder, seed: Long) extends Workload {
  import AnalyticsWorkload._

  private var data: String = _
  private var root: Path = _
  private val rnd = new scala.util.Random(seed)
  private var passes = 0

  override def stateDir: String = root.toString

  override def setup(dir: Path): Unit = {
    root = Workload.freshDir(dir)
    data = root.resolve("data").toString
    AnalyticsGen.write(spark, seed, data)
    // Warm-up pass: table listing, footers and codegen stay out of the
    // timing. It writes each result for the oracle check.
    val out = root.resolve("results")
    Queries_.foreach(q => Queries.queries(q)(spark, data).write.mode("overwrite").parquet(out.resolve(q).toString))
  }

  override def run(deadlineMs: Double): Unit =
    while (Trace.nowMs() < deadlineMs) {
      rnd.shuffle(Queries_).foreach { q =>
        rec.op(q) { _ =>
          val df = rec.layer("queries", "build")(Queries.queries(q)(spark, data))
          rec.layer("queries", "exec")(df.write.format("noop").mode("overwrite").save())
        }
      }
      passes += 1
    }

  /** Writes the oracle SQL beside the warm-up pass's results for the
    * runner's DuckDB comparison. */
  override def check(): Seq[String] = {
    val out = root.resolve("results")
    val oracle = new com.fasterxml.jackson.databind.ObjectMapper().createObjectNode()
    Queries_.foreach(q => oracle.put(q, graft.SparkEntry.oracleSql(q)))
    java.nio.file.Files.writeString(out.resolve("oracle_sql.json"), oracle.toString)
    Nil
  }

  private def pooled(qs: Seq[String]) = rec.ops.filter(o => qs.contains(o.kind)).map(_.ms).toSeq

  override def heavyKinds: Seq[String] = DataPath
  override def lightKinds: Seq[String] = FixedCost

  override def figures(): Seq[(String, Double, String)] = {
    val all = pooled(Queries_)
    val s = all.sum / 1000.0
    Seq(("queries_per_s", if (s > 0) all.size / s else 0.0, "q/s")) ++
      IngestWorkload.latency("query", all) ++
      IngestWorkload.latency("fixed_cost_query", pooled(FixedCost)) ++
      IngestWorkload.latency("data_path_query", pooled(DataPath))
  }

  override def layerFigures(b: Trace.Breakdown): Map[String, Double] = Map.empty

  override def describe(): Map[String, Any] = Map(
    "fixed_cost" -> FixedCost, "data_path" -> DataPath, "passes" -> passes,
    "data_dir" -> data, "rows" -> AnalyticsGen.Rows)
}

object AnalyticsWorkload {
  /** Single-stage or two-stage relational plans: at this scale their
    * time is driver, Catalyst and job-launch work, not rows. */
  val FixedCost: Seq[String] = Seq("q_agg_group", "q_join_hash", "q_window_rank", "q_distinct",
    "q_rollup", "q_proj_filter", "q_join_semi", "q_topk_global", "q_group_topk", "q_conditional_agg")
  /** Multi-stage operator pipelines (character shingling, embedding
    * LSH, link ranking): their time is graft's operator data path. The
    * slower q_ann_ivfpq and q_text_index are left out to keep a pass
    * near five seconds. */
  val DataPath: Seq[String] = Seq("q_near_dup_char", "q_semdedup", "q_link_rank")
  val Queries_ : Seq[String] = FixedCost ++ DataPath
}
