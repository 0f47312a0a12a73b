package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.desc
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.catalog.{Catalog, FolderMeta}
import graft.extract.{BatchedRpcExtractor, HttpExtractionClient}
import graft.streaming.Ingest

/** The paper's path: seeded PDF waves land under
  * `incoming/<tenant>/<folder>/batch/`, one long-running
  * [[Ingest.start]] stream extracts them through the stub gateway and
  * appends them to per-folder tables, and after each wave the client
  * reads each touched table's newest-first top-100. */
final class IngestWorkload(spark: SparkSession, rec: Recorder, seed: Long, cores: Int)
    extends Workload {
  import IngestGen._
  import IngestWorkload._

  private val gen = new IngestGen(seed)
  private val stub = new StubGateway(StubServiceMs, cores, _.exists(gen.isFlaky),
    (a, b) => rec.interval("extract", "rpc", a, b))
  private val extractor = new BatchedRpcExtractor(new HttpExtractionClient(stub.endpoint))

  private var root: Path = _
  private var catalog: Catalog = Catalog.empty
  private var query: StreamingQuery = _
  private val landedDocs = mutable.ArrayBuffer.empty[Doc]
  private val junk = mutable.ArrayBuffer.empty[String]
  private val mismatches = mutable.ArrayBuffer.empty[String]
  private var waves = 0
  private var waveDocs = 0L
  private var stub0 = Array(0L, 0L, 0L, 0L)

  private def landing = root.resolve("landing")
  private def warehouse = root.resolve("warehouse").toString

  private def startStream(): StreamingQuery =
    Ingest.start(spark, landing.toString, warehouse, root.resolve("processed").toString,
      root.resolve("checkpoint").toString, catalog, extractor,
      trigger = Trigger.ProcessingTime(TriggerMs))

  override def stateDir: String = root.toString

  override def setup(dir: Path): Unit = {
    root = Workload.freshDir(dir)
    Files.createDirectories(landing)
    catalog = gen.tables.foldLeft(Catalog.empty) { case (c, (u, f)) =>
      c.add(Catalog.train(u, f, "quarterly kpis", BaseKpis))
    }
    Catalog.save(spark, catalog, warehouse)
    catalog = Catalog.load(spark, warehouse)
    query = startStream()
    // Warm-up wave: same shape as a timed wave, kept out of the timing.
    land(gen.wave(-1))
    drain(gen.wave(-1))
    topk(gen.wave(-1).table, -1)
  }

  private def land(w: Wave): Unit = {
    val staging = Files.createDirectories(root.resolve("staging"))
    w.files.foreach { f =>
      val dst = landing.resolve(f.relPath)
      Files.createDirectories(dst.getParent)
      val tmp = staging.resolve(dst.getFileName.toString)
      Files.write(tmp, f.bytes)
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
      f.doc match {
        case Some(d) => landedDocs += d
        case None => junk += f.relPath
      }
    }
  }

  /** Wait until every admitted file of the wave is committed and
    * archived. One processAllAvailable is not enough: a trigger that
    * listed the landing zone just before the wave landed can finish
    * empty after the call started and end it early. */
  private def drain(w: Wave): Unit = {
    val pending = w.files.filter(_.doc.isDefined).map(f => landing.resolve(f.relPath))
    query.processAllAvailable()
    while (pending.exists(Files.exists(_))) query.processAllAvailable()
  }

  private def meta(t: (String, String)): FolderMeta = catalog.get(t._1, t._2).get

  /** Newest-first top-100 of one folder's table, checked against the
    * docs landed so far: ordered by wave, and complete for every wave
    * newer than the oldest one it reaches into. */
  private def topk(t: (String, String), wave: Int): Unit = {
    val rows = rec.op("topk") { o =>
      val r = rec.layer("sources", "topk") {
        Ingest.readTable(spark, warehouse, meta(t)).orderBy(desc("uploaded_at")).limit(TopK).collect()
      }
      o.rows = r.length; r
    }
    val docs = landedDocs.filter(_.table == t).map(d => d.fileName -> d).toMap
    val got = rows.toSeq.map(r => r.getAs[String]("file_name"))
    val where = s"topk ${t._1}/${t._2} after wave $wave"
    if (got.length != math.min(TopK, docs.size))
      mismatches += s"$where: ${got.length} rows, expected ${math.min(TopK, docs.size)}"
    else if (!got.forall(docs.contains)) mismatches += s"$where: unknown file"
    else {
      val waves = got.map(docs(_).wave)
      if (waves.sliding(2).exists { case Seq(a, b) => a < b; case _ => false })
        mismatches += s"$where: not newest-first"
      else if (got.nonEmpty) {
        val oldest = waves.min
        val newer = docs.values.count(_.wave > oldest)
        if (waves.count(_ > oldest) != newer) mismatches += s"$where: missing newer docs"
      }
      rows.foreach(r => checkRow(r, docs(r.getAs[String]("file_name")), where))
    }
  }

  private def checkRow(r: Row, d: Doc, where: String): Unit = {
    val cols = r.schema.fieldNames.toSet
    val got = d.expected.map { case (c, _) =>
      c -> (if (!cols.contains(c) || r.isNullAt(r.fieldIndex(c))) None else Some(r.get(r.fieldIndex(c)).toString))
    }
    if (got.values.forall(_.isEmpty)) mismatches += s"$where: ${d.fileName} degraded to all N/A"
    else if (got != d.expected) mismatches += s"$where: ${d.fileName} got $got, expected ${d.expected}"
  }

  override def run(deadlineMs: Double): Unit = {
    stub0 = Array(stub.calls.get, stub.docs.get, stub.retried.get, stub.busyMicros.get)
    var w = 0
    while (Trace.nowMs() < deadlineMs) {
      val wave = gen.wave(w)
      rec.op("wave") { _ =>
        gen.evolutions.get(w).foreach { t =>
          val evolved = rec.layer("catalog", "train") {
            Catalog.train(t._1, t._2, "quarterly kpis", EvolvedKpis)
          }
          rec.layer("catalog", "load") {
            Catalog.save(spark, catalog.add(evolved), warehouse)
            catalog = Catalog.load(spark, warehouse)
          }
          rec.layer("streaming", "restart") {
            query.stop()
            query = startStream()
          }
        }
        rec.layer("client", "land")(land(wave))
        rec.layer("streaming", "process")(drain(wave))
      }
      waves += 1
      waveDocs += wave.docs.size
      topk(wave.table, w)
      // and one other tenant table that already holds documents
      val others = gen.tables.filter(t => t != wave.table && landedDocs.exists(_.table == t))
      if (others.nonEmpty) topk(others(wave.otherDraw % others.size), w)
      w += 1
    }
  }

  override def check(): Seq[String] = {
    query.stop()
    gen.tables.foreach { t =>
      val docs = landedDocs.filter(_.table == t)
      val exists = Files.exists(java.nio.file.Paths.get(warehouse, meta(t).tableName))
      val rows = if (!exists) Array.empty[Row] else Ingest.readTable(spark, warehouse, meta(t)).collect()
      val names = rows.map(_.getAs[String]("file_name"))
      if (names.length != names.distinct.length) mismatches += s"table ${t._1}/${t._2}: duplicate rows"
      if (names.toSet != docs.map(_.fileName).toSet)
        mismatches += s"table ${t._1}/${t._2}: ${names.length} rows, expected ${docs.size}"
      val byName = docs.map(d => d.fileName -> d).toMap
      rows.foreach(r => byName.get(r.getAs[String]("file_name")).foreach(checkRow(r, _, s"table ${t._1}/${t._2}")))
    }
    val processed = root.resolve("processed")
    landedDocs.foreach { d =>
      val rel = s"incoming/${d.table._1}/${d.table._2}/batch/${d.fileName}"
      if (Files.exists(landing.resolve(rel)) || !Files.exists(processed.resolve(rel)))
        mismatches += s"$rel not archived"
    }
    junk.foreach(j => if (!Files.exists(landing.resolve(j))) mismatches += s"rejected $j left landing")
    mismatches.toSeq
  }

  override def heavyKinds: Seq[String] = Seq("wave")
  override def lightKinds: Seq[String] = Seq("topk")

  override def figures(): Seq[(String, Double, String)] = {
    val waveOps = rec.ops.filter(_.kind == "wave").map(_.ms)
    val waveS = waveOps.sum / 1000.0
    Seq(("docs_per_s", if (waveS > 0) waveDocs / waveS else 0.0, "docs/s")) ++
      latency("fresh", waveOps.toSeq) ++ latency("topk", rec.ops.filter(_.kind == "topk").map(_.ms).toSeq)
  }

  override def layerFigures(b: Trace.Breakdown): Map[String, Double] = {
    val waveOps = rec.ops.filter(_.kind == "wave")
    val n = math.max(1, waveOps.size).toDouble
    val trig = rec.triggers.toArray(Array.empty[Trace.Trigger]).toSeq
      .filter(t => t.rows > 0 && waveOps.exists(o => o.start <= t.start && t.start <= o.end))
    def phase(k: String) = trig.map(_.durations.getOrElse(k, 0L)).sum / n
    val calls = stub.calls.get - stub0(0)
    val topkOps = rec.ops.filter(_.kind == "topk")
    val topkRecords = topkOps.flatMap(o => b.jobsByOp.getOrElse(o.id, Nil)).map(_.records).sum
    Map(
      "streaming.triggers_per_wave" -> trig.size / n,
      "streaming.latest_offset_ms" -> phase("latestOffset"),
      "streaming.get_batch_ms" -> phase("getBatch"),
      "streaming.query_planning_ms" -> phase("queryPlanning"),
      "streaming.add_batch_ms" -> phase("addBatch"),
      "streaming.wal_commit_ms" -> phase("walCommit"),
      "extract.rpc_calls" -> calls / n,
      "extract.docs_per_rpc" -> (if (calls > 0) (stub.docs.get - stub0(1)).toDouble / (calls - (stub.retried.get - stub0(2))) else 0.0),
      "extract.rpc_retried" -> (stub.retried.get - stub0(2)) / n,
      "extract.rpc_busy_ms" -> (stub.busyMicros.get - stub0(3)) / 1000.0 / n,
      "extract.rpc_inflight_max" -> stub.inflightMax.get.toDouble,
      "sources.topk_rows_examined_per_result" ->
        topkRecords.toDouble / math.max(1L, topkOps.map(_.rows).sum),
      "sources.topk_files" -> gen.tables.map(t =>
        countParquet(java.nio.file.Paths.get(warehouse, meta(t).tableName))).sum.toDouble / gen.tables.size)
  }

  private def countParquet(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(q => q.getFileName.toString.endsWith(".parquet")).count() finally s.close()
    }

  override def describe(): Map[String, Any] = Map(
    "tenants" -> Tenants, "folders_per_tenant" -> FoldersPerTenant,
    "tables_per_wave" -> 1, "topk_reads_per_wave" -> 2, "files_per_wave" -> FilesPerWave,
    "junk_per_wave" -> JunkPerWave, "pages_per_doc" -> s"2..$PagesMax",
    "compressed_share" -> CompressedShare, "evolution_waves" -> EvolutionWaves,
    "stub_service_ms" -> StubServiceMs,
    "stub_failures" -> "first attempt of the batch holding one seeded document per wave",
    "extractor" -> "BatchedRpcExtractor(batchSize 8, 3 attempts, backoff 100 ms doubling, 4 in flight)",
    "trigger_ms" -> TriggerMs, "waves" -> waves, "admitted_docs" -> landedDocs.size)

  override def close(): Unit = {
    if (query != null && query.isActive) query.stop()
    stub.stop()
  }
}

object IngestWorkload {
  val StubServiceMs = 50L
  val TriggerMs = 100L
  val TopK = 100

  def latency(name: String, xs: Seq[Double]): Seq[(String, Double, String)] =
    if (xs.isEmpty) Nil
    else {
      val t = Stats.tail(xs)
      Seq((s"${name}_p50_ms", Stats.median(xs), "ms"), (s"${name}_tail_ms", t.value, "ms"))
    }
}
