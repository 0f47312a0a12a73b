package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out DIR`.
  * State lives under `--work`. Prints one `PERFBENCH_RESULT {...}`
  * line; with `--trace 1` it also writes the per-layer artifact and
  * the spans under `--out`. */
object Main {
  val Ops: Seq[String] = Seq("wave", "topk", "append", "merge", "delete", "lookup", "scan", "compact")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = Paths.get(opt("out")).toAbsolutePath
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.ui.explainMode", "simple")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
    if (traced) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) Trace.context = Some(spark.sparkContext)
    val sessionS = (Trace.nowMs() - jvmStartMs) / 1000.0

    val rec = new Recorder(spark, traced)
    val w = Workload.make(workload, spark, rec, seed, cores)
    val result = try {
      w.setup(work.resolve("state"))
      val setupS = (Trace.nowMs() - jvmStartMs) / 1000.0
      rec.reset()
      val t0 = Trace.nowMs()
      val failedOps = try { w.run(t0 + seconds * 1000.0); 0 } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run aborted: $e"); e.printStackTrace(); 1
      }
      val loopS = (Trace.nowMs() - t0) / 1000.0
      val mismatches = w.check()
      mismatches.take(20).foreach(m => System.err.println(s"[perfbench] mismatch: $m"))
      report(workload, seed, traced, w, rec, setupS, sessionS, loopS, failedOps, mismatches, out)
    } finally {
      w.close()
      spark.stop()
    }
    println("PERFBENCH_RESULT " + json(result))
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def json(x: Any): String = mapper.writeValueAsString(x)

  private def opKind(kind: String): String = if (kind.startsWith("q_")) "query" else kind

  private def report(workload: String, seed: Long, traced: Boolean, w: Workload, rec: Recorder,
                     setupS: Double, sessionS: Double, loopS: Double,
                     abortedRun: Int, mismatches: Seq[String], out: Path): Map[String, Any] = {
    val lat = rec.ops.map(_.ms).toSeq
    val figures = w.figures()
    val workPerS = workload match {
      case "ingest" => figures.find(_._1 == "docs_per_s").get._2
      case _ => lat.size / math.max(1e-9, lat.sum / 1000.0)
    }
    // A class mixes kinds of different cost, so its pooled median sits
    // wherever the kinds' shares put it; the geometric mean of the
    // per-kind medians weighs each kind equally and stays put.
    def gmP50(kinds: Seq[String]): Double = {
      val meds = kinds.map(k => rec.ops.filter(_.kind == k).map(_.ms).toSeq).filter(_.nonEmpty).map(Stats.median)
      math.exp(meds.map(math.log).sum / meds.size)
    }
    val light = rec.ops.filter(o => w.lightKinds.contains(o.kind)).map(_.ms).toSeq
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "peak_rss_mb" -> (Trace.peakRssMb(), "MB"),
      "work_per_s" -> (workPerS, "1/s"),
      "heavy_p50_gm_ms" -> (gmP50(w.heavyKinds), "ms"),
      "light_p50_gm_ms" -> (gmP50(w.lightKinds), "ms"),
      "light_tail_ms" -> (Stats.tail(light).value, "ms"))
    val failedOps = rec.ops.count(_.failed) + abortedRun
    val attempted = rec.ops.size + abortedRun
    val failed = failedOps + mismatches.size
    // Every end-to-end figure the workload defines, by its own name.
    val named = mutable.LinkedHashMap[String, Any](
      "setup_s" -> unit(setupS, "s"), "peak_rss_mb" -> unit(e2e("peak_rss_mb")._1, "MB"),
      "failed_frac" -> unit(failed.toDouble / math.max(1, attempted), "ratio"))
    figures.foreach { case (n, v, u) => named(n) = unit(v, u) }
    val tails = tailsOf(workload, rec)
    val base = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "attempted" -> attempted, "failed" -> failed, "mismatches" -> mismatches.take(50),
      "metrics" -> e2e.map { case (k, (v, u)) => k -> unit(v, u) },
      "named" -> named, "tails" -> tails,
      "setup" -> Map("session_s" -> sessionS, "workload_s" -> (setupS - sessionS), "total_s" -> setupS),
      "op_p50_ms_by_kind" -> rec.ops.groupBy(_.kind).map { case (k, os) => k -> Stats.median(os.map(_.ms).toSeq) },
      "loop_s" -> loopS, "state_dir" -> w.stateDir, "ops" -> rec.ops.size, "workload_params" -> w.describe())
    if (!traced) base
    else {
      val b = rec.finish()
      val layer = perLayer(workload, w, rec, b)
      val artifact = base ++ Map("per_layer" -> layer, "self_time" -> selfTime(b),
        "job_ms_by_label" -> jobLabels(b),
        "blind_spot" -> ("the fs counters see only Hadoop FileSystem calls; java.nio paths " +
          "(SnapshotTable manifest commit and sidecars via TableIO, GraftLocalCheckpointFileManager, " +
          "the benchmark's own landing writes) bypass them and show only in the io.* byte deltas"))
      Files.createDirectories(out)
      Files.writeString(out.resolve(s"trace-$workload-$seed.json"),
        mapper.writerWithDefaultPrettyPrinter().writeValueAsString(artifact))
      val spans = b.spans.map(s => json(Map("op" -> s.op, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end)))
      Files.writeString(out.resolve(s"spans-$workload-$seed.jsonl"), spans.mkString("\n") + "\n")
      base ++ Map("per_layer" -> layer, "self_time" -> selfTime(b))
    }
  }

  private def unit(v: Double, u: String) = Map("value" -> v, "unit" -> u)

  private def tailsOf(workload: String, rec: Recorder): Map[String, Any] = {
    val groups: Seq[(String, Seq[Double])] = workload match {
      case "ingest" => Seq("fresh" -> rec.ops.filter(_.kind == "wave").map(_.ms).toSeq,
        "topk" -> rec.ops.filter(_.kind == "topk").map(_.ms).toSeq)
      case "table_ops" => Seq("write" -> rec.ops.filter(o => TableOpsWorkload.WriteKinds(o.kind)).map(_.ms).toSeq,
        "read" -> rec.ops.filter(o => !TableOpsWorkload.WriteKinds(o.kind)).map(_.ms).toSeq)
      case _ => Seq("query" -> rec.ops.map(_.ms).toSeq)
    }
    (groups :+ ("all" -> rec.ops.map(_.ms).toSeq)).filter(_._2.nonEmpty).map { case (n, xs) =>
      val t = Stats.tail(xs)
      n -> Map("percentile" -> t.percentile, "value_ms" -> t.value, "samples" -> t.n, "beyond" -> t.beyond)
    }.toMap
  }

  private def selfTime(b: Trace.Breakdown): Map[String, Any] = {
    val wall = math.max(1e-9, b.wallMs)
    Map("wall_ms" -> b.wallMs,
      "unattributed_share" -> b.unattributedMs / wall,
      "by_layer_ms" -> b.selfMs,
      "by_layer_share" -> b.selfMs.map { case (k, v) => k -> v / wall },
      "by_op_kind_ms" -> b.selfByKind)
  }

  /** Job milliseconds by label: graft's `graft:<op> | <step>`
    * descriptions as they are, a streaming micro-batch's (query and run
    * ids, batch number) as one label. */
  private def jobLabels(b: Trace.Breakdown): Map[String, Double] =
    b.jobsByOp.values.flatten.groupBy { j =>
      if (j.label.contains("runId =")) "(streaming micro-batch)" else j.label.trim.take(80)
    }.map { case (k, js) => k -> js.map(j => j.end - j.start).sum }

  /** The fixed per-layer metric set; a layer a workload does not touch
    * reports 0. */
  def perLayer(workload: String, w: Workload, rec: Recorder, b: Trace.Breakdown): Map[String, Double] = {
    val ops = rec.ops.toSeq
    val n = math.max(1, ops.size).toDouble
    def union(ivs: Seq[(Double, Double)]): Double =
      ivs.sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, end), (a, z)) =>
        if (z <= end) (acc, end) else (acc + z - math.max(a, end), z)
      }._1
    def clippedJobs(o: Trace.Op) =
      b.jobsByOp.getOrElse(o.id, Nil).map(j => (math.max(j.start, o.start), math.min(j.end, o.end)))
        .filter { case (a, z) => z > a }
    val busy = ops.map(o => union(clippedJobs(o)))
    val jobs = ops.flatMap(o => b.jobsByOp.getOrElse(o.id, Nil))
    def spanMean(layer: String, name: String): Double = {
      val xs = b.spans.filter(s => s.layer == layer && s.name == name).map(s => s.end - s.start)
      Stats.mean(xs)
    }
    def phaseMs(p: String) = ops.flatMap(o => b.phasesByOp.getOrElse(o.id, Nil)).filter(_.name == p)
      .map(x => x.end - x.start).sum / n
    val m = mutable.LinkedHashMap[String, Double]()
    Seq("triggers_per_wave", "latest_offset_ms", "get_batch_ms", "query_planning_ms", "add_batch_ms",
      "wal_commit_ms").foreach(k => m(s"streaming.$k") = 0.0)
    m("streaming.restart_ms") = spanMean("streaming", "restart")
    Seq("rpc_calls", "docs_per_rpc", "rpc_retried", "rpc_busy_ms", "rpc_inflight_max")
      .foreach(k => m(s"extract.$k") = 0.0)
    m("catalog.train_ms") = spanMean("catalog", "train")
    m("catalog.load_ms") = spanMean("catalog", "load")
    Seq("append", "merge", "delete", "lookup", "scan", "compact", "sql")
      .foreach(k => m(s"sources.${k}_ms") = spanMean("sources", k))
    Seq("lookup_rows_examined_per_result", "topk_rows_examined_per_result", "lookup_files_opened",
      "topk_files", "live_files", "versions").foreach(k => m(s"sources.$k") = 0.0)
    m("queries.build_ms") = spanMean("queries", "build")
    m("queries.exec_ms") = spanMean("queries", "exec")
    m("catalyst.analysis_ms") = phaseMs("analysis")
    m("catalyst.optimization_ms") = phaseMs("optimization")
    m("catalyst.planning_ms") = phaseMs("planning")
    val byKind = ops.groupBy(o => opKind(o.kind))
    (Ops :+ "query").foreach { k =>
      val os = byKind.getOrElse(k, Nil)
      val d = math.max(1, os.size).toDouble
      m(s"spark.jobs_per_$k") = os.map(o => b.jobsByOp.getOrElse(o.id, Nil).size).sum / d
      m(s"spark.query_executions_per_$k") = os.map(o => b.sqlByOp.getOrElse(o.id, 0)).sum / d
    }
    m("spark.job_busy_ms") = busy.sum / n
    m("spark.driver_gap_ms") = ops.zip(busy).map { case (o, u) => o.ms - u }.sum / n
    m("spark.task_cpu_ms") = jobs.map(_.cpuNs).sum / 1e6 / n
    m("spark.gc_ms") = jobs.map(_.gcMs).sum / n
    m("spark.shuffle_write_bytes") = jobs.map(_.shuffleWrite).sum / n
    m("spark.spill_bytes") = jobs.map(_.spill).sum / n
    m("spark.input_records") = jobs.map(_.records).sum / n
    // A wave's stream works outside the op's bucket; every other op
    // counts only the calls its own jobs and thread made.
    val kinds = CountingLocalFileSystem.Kinds
    Ops.foreach { k =>
      val os = byKind.getOrElse(k, Nil)
      val d = math.max(1, os.size).toDouble
      kinds.indices.foreach { i =>
        m(s"fs.${kinds(i)}_per_$k") = os.map { o =>
          if (o.fs.isEmpty) 0L
          else o.fs(i) + (if (k == "wave") o.fs(kinds.length + i) else 0L)
        }.sum / d
      }
      m(s"io.rchar_per_$k") = os.map(_.io(0)).sum / d
      m(s"io.wchar_per_$k") = os.map(_.io(1)).sum / d
    }
    val wall = math.max(1e-9, b.wallMs)
    (Trace.Layers :+ "unattributed").foreach(l => m(s"self.${l}_share") = b.selfMs.getOrElse(l, 0.0) / wall)
    w.layerFigures(b).foreach { case (k, v) =>
      require(m.contains(k), s"per-layer metric $k is not in the fixed set"); m(k) = v
    }
    m.toMap
  }
}
