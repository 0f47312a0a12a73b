package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

object Trace {
  /** Local property naming the client operation a Spark job serves. */
  val OpProperty = "perfbench.op"
  @volatile var context: Option[SparkContext] = None

  private val baseNanos = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  /** Wall-clock milliseconds on the same scale as Spark's event times. */
  def nowMs(): Double = baseEpochMs + (System.nanoTime() - baseNanos) / 1e6

  /** Layers in attribution order: where intervals overlap, the first
    * layer listed owns the time. `client` is the benchmark's own work
    * inside an operation (landing files, building a source frame). */
  val Layers: Seq[String] = Seq("extract", "spark", "catalyst", "streaming",
    "sources", "queries", "catalog", "client")

  final case class Span(op: Long, layer: String, name: String, start: Double, end: Double)

  final class Op(val id: Long, val kind: String, val sql: Boolean, val start: Double) {
    var end: Double = start
    var rows: Long = 0
    var failed: Boolean = false
    var fs: Array[Long] = Array.empty
    var io: Array[Long] = Array(0L, 0L)
    def ms: Double = end - start
  }

  final class Job(val id: Int, val start: Double, val op: Option[Long], val label: String) {
    var end: Double = start
    var cpuNs, gcMs, shuffleWrite, spill, records = 0L
  }

  final case class Breakdown(
      spans: Seq[Span], jobsByOp: Map[Long, Seq[Job]], sqlByOp: Map[Long, Int],
      phasesByOp: Map[Long, Seq[Phase]], selfMs: Map[String, Double],
      unattributedMs: Double, wallMs: Double, selfByKind: Map[String, Map[String, Double]])

  final case class Phase(name: String, start: Double, end: Double)
  final case class Trigger(start: Double, durations: Map[String, Long], rows: Long)

  /** `/proc/self/io` read and written character counts. */
  def procIo(): Array[Long] = {
    val f = new java.io.File("/proc/self/io")
    if (!f.exists()) Array(0L, 0L)
    else {
      val kv = scala.io.Source.fromFile(f).getLines().map(_.split(":\\s*"))
        .collect { case Array(k, v) => k -> v.trim.toLong }.toMap
      Array(kv.getOrElse("rchar", 0L), kv.getOrElse("wchar", 0L))
    }
  }

  /** Peak resident set of this process in MB (`VmHWM`). */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) 0.0
    else scala.io.Source.fromFile(f).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }
}

/** Times every client operation; with `traced` it also records spans
  * around the calls into each layer, Spark job, SQL-execution,
  * Catalyst-phase and streaming-trigger events through Spark's public
  * listeners, and per-operation filesystem and IO counter deltas. All
  * of it stays in memory until [[finish]]. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  import Trace._

  val ops = mutable.ArrayBuffer.empty[Op]
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val sqlStarts = new ConcurrentLinkedQueue[java.lang.Double]()
  private val phases = new ConcurrentLinkedQueue[Phase]()
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  private var current: Option[Op] = None
  private var nextId = 0L

  if (traced) install()

  private def install(): Unit = {
    val sc = spark.sparkContext
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val op = p.flatMap(x => Option(x.getProperty(OpProperty))).map(_.toLong)
        val label = p.flatMap(x => Option(x.getProperty("spark.job.description")))
          .getOrElse("(unlabelled)")
        jobs.put(e.jobId, new Job(e.jobId, e.time.toDouble, op, label))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        for (jid <- Option(stageJob.get(e.stageId)); j <- Option(jobs.get(jid));
             m <- Option(e.taskMetrics)) j.synchronized {
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.records += m.inputMetrics.recordsRead
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sqlStarts.add(s.time.toDouble)
        case _ =>
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
      private def record(qe: QueryExecution): Unit =
        qe.tracker.phases.foreach { case (name, p) =>
          phases.add(Phase(name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
        }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        triggers.add(Trigger(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows))
      }
    })
  }

  /** Forget the operations and spans recorded so far (set-up work). */
  def reset(): Unit = { ops.clear(); spans.clear() }

  /** Time one client operation. Its latency is recorded in both modes;
    * a throw marks it failed and is rethrown. */
  def op[T](kind: String, sql: Boolean = false)(f: Op => T): T = {
    val sc = spark.sparkContext
    val o = new Op(nextId, kind, sql, nowMs()); nextId += 1
    val fs0 = if (traced) CountingLocalFileSystem.snapshot() else null
    val io0 = if (traced) procIo() else null
    if (traced) sc.setLocalProperty(OpProperty, o.id.toString)
    current = Some(o)
    try f(o)
    catch { case e: Throwable => o.failed = true; throw e }
    finally {
      o.end = nowMs()
      current = None
      if (traced) {
        sc.setLocalProperty(OpProperty, null)
        val fs1 = CountingLocalFileSystem.snapshot()
        o.fs = fs1.indices.map(i => fs1(i) - fs0(i)).toArray
        val io1 = procIo()
        o.io = Array(io1(0) - io0(0), io1(1) - io0(1))
      }
      ops += o
    }
  }

  /** A call into one of graft's layers from inside the current op. */
  def layer[T](layer: String, name: String)(f: => T): T =
    if (!traced) f
    else {
      val t0 = nowMs()
      try f finally current.foreach(o => spans.add(Span(o.id, layer, name, t0, nowMs())))
    }

  /** An interval measured outside the client thread (the stub's busy
    * time), attributed to whichever op it falls in. */
  def interval(layer: String, name: String, start: Double, end: Double): Unit =
    if (traced) spans.add(Span(-1, layer, name, start, end))

  // ------------------------------------------------------------------
  // Attribution, after the run
  // ------------------------------------------------------------------

  private def opAt(t: Double, sorted: IndexedSeq[Op]): Option[Op] = {
    // ops never overlap (one client thread): the last op starting at
    // or before t owns t if t is before its end.
    var lo = 0; var hi = sorted.length - 1; var best = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (sorted(mid).start <= t) { best = mid; lo = mid + 1 } else hi = mid - 1
    }
    if (best >= 0 && t <= sorted(best).end) Some(sorted(best)) else None
  }

  def finish(): Breakdown = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val sorted = ops.sortBy(_.start).toIndexedSeq
    val byId = sorted.map(o => o.id -> o).toMap
    val allSpans = spans.asScala.toSeq.flatMap { s =>
      if (s.op >= 0) Some(s) else opAt(s.start, sorted).map(o => s.copy(op = o.id))
    }
    val jobList = jobs.values.asScala.toSeq
    val jobsByOp = jobList.flatMap(j =>
      j.op.filter(byId.contains).orElse(opAt(j.start, sorted).map(_.id)).map(_ -> j))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val sqlByOp = sqlStarts.asScala.toSeq.flatMap(t => opAt(t, sorted).map(_.id))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val phasesByOp = phases.asScala.toSeq.flatMap(p => opAt(p.start, sorted).map(_.id -> p))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val trigList = triggers.asScala.toSeq.flatMap { t =>
      opAt(t.start, sorted).map(o =>
        Span(o.id, "streaming", "trigger", t.start, t.start + t.durations.getOrElse("triggerExecution", 0L)))
    }
    val spansByOp = allSpans.groupBy(_.op)
    val trigByOp = trigList.groupBy(_.op)
    val selfTotals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val selfByKind = mutable.Map.empty[String, mutable.Map[String, Double]]
    var unattributed = 0.0
    sorted.foreach { o =>
      val ivs: Seq[(String, Double, Double)] =
        spansByOp.getOrElse(o.id, Nil).map(s => (s.layer, s.start, s.end)) ++
          trigByOp.getOrElse(o.id, Nil).map(s => (s.layer, s.start, s.end)) ++
          jobsByOp.getOrElse(o.id, Nil).map(j => ("spark", j.start, j.end)) ++
          phasesByOp.getOrElse(o.id, Nil).map(p => ("catalyst", p.start, p.end))
      val clipped = ivs.map { case (l, a, b) => (l, math.max(a, o.start), math.min(b, o.end)) }
        .filter { case (_, a, b) => b > a }
      val cuts = (clipped.flatMap { case (_, a, b) => Seq(a, b) } ++ Seq(o.start, o.end)).distinct.sorted
      val k = selfByKind.getOrElseUpdate(o.kind, mutable.Map.empty[String, Double].withDefaultValue(0.0))
      cuts.sliding(2).foreach {
        case Seq(a, b) =>
          val mid = (a + b) / 2
          val owner = Layers.find(l => clipped.exists { case (cl, ca, cb) => cl == l && ca <= mid && mid < cb })
          val key = owner.getOrElse("unattributed")
          if (owner.isEmpty) unattributed += b - a
          selfTotals(key) += b - a
          k(key) += b - a
        case _ =>
      }
      k("wall") += o.ms
    }
    Breakdown(allSpans ++ trigList, jobsByOp, sqlByOp, phasesByOp, selfTotals.toMap,
      unattributed, sorted.map(_.ms).sum, selfByKind.map { case (k, v) => k -> v.toMap }.toMap)
  }
}
