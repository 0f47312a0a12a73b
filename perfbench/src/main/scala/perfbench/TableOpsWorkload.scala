package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.types._
import graft.sources.{SnapshotSql, SnapshotTable}
import graft.sources.SnapshotTable.{MergeAction, MergeClause}

/** Small writes beside reads on many snapshot tables: more tables than
  * `SnapshotTable`'s 48-entry state and segment caches hold, picked
  * with Zipf skew so the hot ones stay cached and the tail misses.
  * Every result is checked against an in-memory key -> row model. */
final class TableOpsWorkload(spark: SparkSession, rec: Recorder, seed: Long, cores: Int)
    extends Workload {
  import TableOpsWorkload._

  private type R = (Int, Double, String) // grp, val, name
  private var root: Path = _
  private val model = Array.fill(Tables + 1)(mutable.TreeMap.empty[Long, R])
  private val nextId = Array.fill(Tables + 1)(0L)
  private val commits = Array.fill(Tables + 1)(0)
  private val mismatches = mutable.ArrayBuffer.empty[String]
  private val rnd = new scala.util.Random(seed)
  private val rank = rnd.shuffle((0 until Tables).toVector)
  private val zipfCdf = {
    val w = (1 to Tables).map(r => 1.0 / math.pow(r, ZipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }

  private def dir(t: Int) = root.resolve(f"t$t%02d").toString
  private def name(t: Int) = f"bench_t$t%02d"

  private def frame(rows: Seq[(Long, R)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, (g, v, n)) => Row(id, g, v, n) }, 1), Schema)

  private def newRow(id: Long, r: scala.util.Random): (Long, R) =
    id -> ((id % Groups).toInt, r.nextInt(4000) / 4.0, s"n$id")

  override def stateDir: String = root.toString

  override def setup(d: Path): Unit = {
    root = Workload.freshDir(d)
    val r = new scala.util.Random(seed * 7 + 1)
    All.foreach { t =>
      model(t) ++= (0L until InitialRows).map(newRow(_, r))
      nextId(t) = InitialRows
    }
    // Set-up only: create the tables from `cores` threads.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      All.map { t =>
        pool.submit(new Runnable {
          def run(): Unit = SnapshotTable.append(frame(model(t).toSeq), dir(t), statsCols = Seq("id"))
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    All.foreach(t => SnapshotSql.bind(spark, name(t), dir(t)))
    // Warm every operation and SQL path once on the extra table, which
    // the timed loop never picks; the model checks it like the rest.
    val w = Tables
    Seq(false, true).foreach { sql =>
      lookup(w, sql); scan(w, sql); merge(w, sql); delete(w, sql)
    }
    append(w); maintain(w)
  }

  private def pickTable(): Int = {
    val u = rnd.nextDouble()
    val i = zipfCdf.indexWhere(_ >= u)
    rank(if (i < 0) Tables - 1 else i)
  }

  private def randomKey(t: Int): Long =
    if (model(t).nonEmpty && rnd.nextDouble() < 0.8) {
      val ks = model(t).keysIterator.drop(rnd.nextInt(model(t).size)); ks.next()
    } else rnd.nextLong(math.max(1L, nextId(t)))

  override def run(deadlineMs: Double): Unit =
    while (Trace.nowMs() < deadlineMs) {
      // Deal the mix as shuffled decks, so every run of any seed sees
      // the same proportions of each kind and of SQL-surface calls.
      rnd.shuffle(Deck).foreach { case (kind, sql) =>
        val t = pickTable()
        kind match {
          case "lookup" => lookup(t, sql)
          case "scan" => scan(t, sql)
          case _ =>
            kind match {
              case "append" => append(t)
              case "merge" => merge(t, sql)
              case _ => delete(t, sql)
            }
            commits(t) += 1
            if (commits(t) % MaintainEvery == 0) maintain(t)
        }
      }
    }

  private def lookup(t: Int, sql: Boolean): Unit = {
    val k = randomKey(t)
    val got = rec.op("lookup", sql) { o =>
      val r = rec.layer("sources", if (sql) "sql" else "lookup") {
        if (sql) spark.sql(s"SELECT * FROM graft.`${dir(t)}` WHERE id = $k").collect()
        else SnapshotTable.readWhereEq(spark, dir(t), "id", k).collect()
      }
      o.rows = r.length; r
    }
    val want = model(t).get(k).map { case (g, v, n) => Seq((k, g, v, n)) }.getOrElse(Nil)
    val have = got.toSeq.map(r => (r.getAs[Long]("id"), r.getAs[Int]("grp"), r.getAs[Double]("val"), r.getAs[String]("name")))
    if (have != want) mismatches += s"lookup t$t id=$k: got $have, expected $want"
  }

  private def scan(t: Int, sql: Boolean): Unit = {
    val g = rnd.nextInt(Groups)
    val got = rec.op("scan", sql) { o =>
      val r = rec.layer("sources", if (sql) "sql" else "scan") {
        if (sql) spark.sql(s"SELECT count(*) AS n, sum(val) AS s FROM graft.`${dir(t)}` WHERE grp = $g").collect()
        else SnapshotTable.read(spark, dir(t)).filter(col("grp") === g)
          .agg(count(lit(1)).as("n"), sum("val").as("s")).collect()
      }
      o.rows = r.length; r.head
    }
    val vals = model(t).valuesIterator.filter(_._1 == g).map(_._2).toSeq
    val have = (got.getLong(0), if (got.isNullAt(1)) 0.0 else got.getDouble(1))
    if (have != ((vals.size.toLong, vals.sum))) mismatches += s"scan t$t grp=$g: got $have, expected ${(vals.size, vals.sum)}"
  }

  private def append(t: Int): Unit = {
    val rows = (nextId(t) until nextId(t) + BatchRows).map(newRow(_, rnd))
    nextId(t) += BatchRows
    rec.op("append") { _ =>
      val df = rec.layer("client", "frame")(frame(rows))
      rec.layer("sources", "append")(SnapshotTable.append(df, dir(t), statsCols = Seq("id")))
    }
    model(t) ++= rows
  }

  private def merge(t: Int, sql: Boolean): Unit = {
    val existing = (0 until BatchRows / 2).map(_ => randomKey(t)).filter(model(t).contains).distinct
    val fresh = (nextId(t) until nextId(t) + BatchRows / 2)
    nextId(t) += BatchRows / 2
    val rows = existing.map(k => k -> ((k % Groups).toInt, rnd.nextInt(4000) / 4.0, s"m$k")) ++
      fresh.map(newRow(_, rnd))
    rec.op("merge", sql) { _ =>
      val src = rec.layer("client", "frame")(frame(rows))
      if (sql) rec.layer("sources", "sql") {
        src.createOrReplaceTempView("bench_src")
        spark.sql(s"MERGE INTO ${name(t)} t USING bench_src s ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *").collect()
      } else rec.layer("sources", "merge") {
        SnapshotTable.mergeInto(spark, dir(t), src, Seq("id"),
          matched = Seq(MergeClause(None, MergeAction.UpdateAll)),
          notMatched = Seq(MergeClause(None, MergeAction.InsertAll)))
      }
    }
    model(t) ++= rows
  }

  private def delete(t: Int, sql: Boolean): Unit = {
    val a = randomKey(t); val b = a + DeleteSpan - 1
    rec.op("delete", sql) { _ =>
      if (sql) rec.layer("sources", "sql") {
        spark.sql(s"DELETE FROM ${name(t)} WHERE id BETWEEN $a AND $b").collect()
      } else rec.layer("sources", "delete") {
        SnapshotTable.deleteWhere(spark, dir(t), col("id").between(a, b))
      }
    }
    model(t) --= (a to b)
  }

  private def maintain(t: Int): Unit =
    rec.op("compact") { _ =>
      rec.layer("sources", "compact") {
        SnapshotTable.compact(spark, dir(t))
        SnapshotTable.vacuum(spark, dir(t), keepVersions = KeepVersions, minAgeMs = 0L)
      }
    }

  override def check(): Seq[String] = {
    All.foreach { t =>
      val have = SnapshotTable.read(spark, dir(t)).collect()
        .map(r => r.getAs[Long]("id") -> ((r.getAs[Int]("grp"), r.getAs[Double]("val"), r.getAs[String]("name"))))
        .sortBy(_._1).toSeq
      if (have != model(t).toSeq) mismatches += s"table t$t: final contents differ (${have.size} rows, expected ${model(t).size})"
    }
    mismatches.toSeq
  }

  private def liveBytes(t: Int): (Long, Int) = {
    val v = SnapshotTable.latestVersion(spark, dir(t)).get
    val files = SnapshotTable.manifestFiles(spark, dir(t), v)
    (files.map(f => Files.size(Paths.get(dir(t)).resolve(f))).sum, files.size)
  }

  // compact runs a few times a run: too rare for a steady median.
  override def heavyKinds: Seq[String] = Seq("append", "merge", "delete")
  override def lightKinds: Seq[String] = Seq("lookup", "scan")

  override def figures(): Seq[(String, Double, String)] = {
    val live = All.map(liveBytes)
    val writes = rec.ops.filter(o => WriteKinds(o.kind)).map(_.ms).toSeq
    val reads = rec.ops.filter(o => !WriteKinds(o.kind)).map(_.ms).toSeq
    IngestWorkload.latency("write", writes) ++ IngestWorkload.latency("read", reads) :+
      (("space_amp", Workload.treeBytes(root).toDouble / math.max(1L, live.map(_._1).sum), "ratio"))
  }

  override def layerFigures(b: Trace.Breakdown): Map[String, Double] = {
    val lookups = rec.ops.filter(_.kind == "lookup")
    val recs = lookups.flatMap(o => b.jobsByOp.getOrElse(o.id, Nil)).map(_.records).sum
    val opens = lookups.map(o => if (o.fs.isEmpty) 0L else o.fs(2)).sum
    Map(
      "sources.lookup_rows_examined_per_result" -> recs.toDouble / math.max(1L, lookups.map(_.rows).sum),
      "sources.lookup_files_opened" -> opens.toDouble / math.max(1, lookups.size),
      "sources.live_files" -> All.map(liveBytes(_)._2).sum.toDouble / All.size,
      "sources.versions" -> All.map(t => SnapshotTable.latestVersion(spark, dir(t)).get).sum.toDouble / All.size)
  }

  override def describe(): Map[String, Any] = Map(
    "tables" -> Tables, "state_cache_entries" -> 48, "zipf_s" -> ZipfS,
    "initial_rows_per_table" -> InitialRows, "batch_rows" -> BatchRows,
    "delete_span_keys" -> DeleteSpan,
    "mix_deck" -> Deck.map { case (k, q) => if (q) s"$k(sql)" else k },
    "maintenance" -> s"compact + vacuum(keepVersions=$KeepVersions, minAgeMs=0) every $MaintainEvery commits per table",
    "ops" -> rec.ops.size)
}

object TableOpsWorkload {
  val Tables = 64
  /** The timed tables plus one more that only the warm-up touches. */
  val All: Seq[Int] = 0 to Tables
  val ZipfS = 1.1
  val InitialRows = 200L
  val BatchRows = 20
  val DeleteSpan = 10
  val Groups = 8
  /** One deck of the mix: (kind, through the SQL surface). */
  val Deck: Seq[(String, Boolean)] =
    Seq.fill(7)(("lookup", false)) ++ Seq(("lookup", true)) ++
      Seq.fill(3)(("scan", false)) ++ Seq(("scan", true)) ++
      Seq.fill(3)(("append", false)) ++ Seq(("merge", false), ("merge", true)) ++
      Seq(("delete", false), ("delete", true))
  val MaintainEvery = 3
  val KeepVersions = 2
  val WriteKinds = Set("append", "merge", "delete", "compact")
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("grp", IntegerType),
    StructField("val", DoubleType), StructField("name", StringType)))
}
