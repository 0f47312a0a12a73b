package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, concat, count, expr, greatest, hash, input_file_name, least, lit, max, min, not, pmod, regexp_replace, shiftleft, shiftright, sum, when}
import org.apache.spark.sql.types._

/** Minimal manifest-committed table format — the consistency layer the
  * plain-directory warehouse documents itself as lacking
  * ([[Warehouse.compactSmallFiles]]: "a reader racing the swap can
  * transiently see a PARTIAL listing ... point-in-time readers need a
  * manifest format"). This is that format, reduced to the essentials
  * the 100 TB design point needs and nothing else:
  *
  *   - **A table is a sequence of versioned manifests**
  *     (`_manifests/v<N>.json`), each the COMPLETE list of data files
  *     (relative paths under `data/`) of that snapshot. Readers never
  *     list `data/` — they read one manifest, then exactly those
  *     files. A reader therefore sees every snapshot fully or not at
  *     all: no partial listings, ever.
  *   - **Commits are atomic** via create-exclusive of the next
  *     manifest file (create(overwrite=false) is the filesystem CAS;
  *     HDFS and POSIX both give it). Two racing committers both
  *     prepare their file lists; one wins v<N>, the loser observes the
  *     conflict and RETRIES the commit against v<N> (append = re-union
  *     file lists, no data rewrite — optimistic concurrency, the
  *     Delta/Iceberg commit loop in miniature). There is ONE commit
  *     loop ([[commitLoop]]): each attempt resolves the head state
  *     once, hands it to the operation, which maps it to the complete
  *     next [[TableState]] (`base.copy(...)` — whatever the operation
  *     does not touch is inherited by construction) after its conflict
  *     checks, and publishes that state as v<N+1>.
  *   - **Appends write data files FIRST, then commit.** A crash
  *     between the two leaves orphan files invisible to every reader
  *     (the manifest never references them) — cleaned by [[vacuum]],
  *     never double-counted.
  *   - **Compaction is a new snapshot, not a swap**: rewritten files
  *     are added, superseded files dropped from the NEW manifest only.
  *     Readers of older versions keep reading the old files
  *     ([[snapshot]] time travel) until [[vacuum]] retires them —
  *     compaction can never race a reader.
  *   - **File-level column stats → data skipping.** An append may
  *     record per-file min/max for chosen columns in the manifest;
  *     [[readWhere]] then opens ONLY the files whose range intersects
  *     the predicate. At 100 TB this is the difference between a
  *     full-table scan and touching a handful of files — the
  *     manifest-stats pruning layer of the public Delta/Iceberg
  *     designs, one level ABOVE parquet's row-group pruning (which
  *     still applies inside each opened file). Pruning is effective
  *     when file ranges are disjoint: [[compact]] takes `clusterBy`
  *     columns and range-repartitions the rewrite so they are.
  *   - **Row-level DELETE and MERGE are copy-on-write**: only the
  *     files that actually contain affected rows are rewritten; all
  *     other files carry forward untouched. Both detect write-write
  *     conflicts (a touched file vanishing from the current manifest
  *     means a concurrent compaction/delete rewrote it) and fail
  *     loudly rather than resurrect rows.
  *   - **Bloom point-lookup skipping**: per-file Bloom bitsets (an
  *     append-time native aggregate) let [[readWhereEq]] prune an
  *     equality probe on a high-cardinality unsorted key that min/max
  *     stats cannot touch.
  *   - **Manifest-recorded schema with add-column evolution**: new
  *     columns append (type conflicts refused before any data write);
  *     reads apply the unified schema so pre-evolution files
  *     NULL-backfill, and time travel reads each version under ITS
  *     schema.
  *   - **Hidden partitioning** ([[appendPartitioned]]): the hive
  *     writer over duplicated routing columns guarantees
  *     single-valued files; partition pruning is exact through the
  *     ordinary stats path — no path parsing, renaming-free
  *     partition evolution.
  *   - **Layout maintenance**: [[compact]] with `clusterBy`
  *     (range-disjoint files) or `zOrderBy` (one interleaved-bit
  *     layout serving range predicates on every z-ordered column at
  *     once); [[readWhereAll]] intersects per-column pruning for
  *     conjunctive predicates.
  *   - **CDC**: [[changeFeed]] (exact row-level deltas confined to
  *     changed files), [[applyChanges]] (delete+upsert of a tagged
  *     batch in ONE commit), and [[replicate]] (exactly-once
  *     table-to-table pipe — the destination's transaction ledger is
  *     the cursor, advanced in the same commit as the rows).
  *   - **Zero-copy branching** ([[shallowClone]]): any-size tables
  *     branch in one manifest write, diverge copy-on-write, and
  *     promote to independence via [[compact]]; [[vacuum]] never
  *     touches foreign references (lifecycle caveat on the method).
  *   - **O(batch) commits at every size** — delta manifests between
  *     checkpoints, and above [[SegmentInlineMax]] files the
  *     checkpoints themselves go SEGMENTED (the public Iceberg
  *     manifest-list design): per-file maps live in immutable
  *     segment files, unchanged segments are referenced as-is across
  *     checkpoint generations, and only the batch + churn is ever
  *     rewritten (smallest segments fold into the new one to bound
  *     segment count). At 100 TB file counts the manifest write no
  *     longer scales with the table.
  *
  *   - **Column mapping** ([[renameColumn]]/[[dropColumn]] — the
  *     public Delta column-mapping design): data files keep STABLE
  *     physical column names; the manifest maps logical→physical, so
  *     RENAME and DROP COLUMN are one metadata commit with zero
  *     rewrite at any table size. Dropped physical names RETIRE
  *     (re-adding the logical name takes a fresh physical — old bytes
  *     never resurrect); stats/Bloom pruning key physically and keep
  *     working across renames; time travel serves each version under
  *     its own names. Feature-guarded: pre-mapping readers refuse a
  *     mapped manifest loudly instead of serving physical names.
  *     (The bucketed/hive-partitioned WRITERS refuse mapped tables —
  *     their layouts derive from column names; plain append inherits
  *     everything.)
  *
  * Deliberately out of scope (and documented as such): multi-table
  * transactions. */
object SnapshotTable {

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Label every Spark job an internal phase launches (guide §1.5 —
    * "label your jobs"): the phase tag is APPENDED to whatever
    * description the caller already set, so a profiler/UI reading
    * `spark.job.description` can attribute each control-plane job
    * (probe, stats scan, rewrite, ...) to the table operation that
    * ran it. Pure observability — restores the previous description
    * on exit. */
  private[graft] def labeled[T](spark: SparkSession, tag: String)
                               (body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(
      if (prev == null || prev.isEmpty) s"graft:$tag"
      else s"$prev | $tag")
    try body
    finally sc.setJobDescription(prev)
  }

  /** [[labeled]] plus ADAPTIVE EXECUTION OFF for the scope: every
    * control-plane probe ends in a bounded `collect()` over at most a
    * few thousand rows (affected keys, touched files, validation
    * counts), so AQE's runtime re-optimization buys nothing — but each
    * probe action pays its `withFinalPlanUpdate` re-planning rounds
    * and plan-update events on the driver, the single largest
    * driver-gap frame in the lifecycle-query profiles (multi-action
    * queries run dozens of probes). Data-path jobs (batch writes,
    * rewrites, reads the caller composes) keep AQE untouched — the
    * conf flips only around the probe's own action and restores on
    * exit. Valid at any scale: the probe result size is bounded by
    * contract (collect caps / file counts), not by table size. */
  private[graft] def probe[T](spark: SparkSession, tag: String)
                             (body: => T): T = labeled(spark, tag) {
    withSessionConf(spark, AqeKey, "false")(body)
  }

  private val AqeKey = "spark.sql.adaptive.enabled"

  /** Depth-counted SESSION-CONF LEASE: the FIRST concurrent scope for
    * a (session, key) saves the session's value and sets the
    * override; the LAST one out restores it. Plain per-scope
    * set/restore pairs are NOT safe here — internal scopes run
    * concurrently (streaming maintenance threads vs the caller's
    * thread), and interleaving two pairs can restore the inner
    * scope's saved override LAST, leaking it onto every later query
    * in the shared session (a thread-local SQLConf overlay cannot fix
    * this: InsertAdaptiveSparkPlan — and the parquet write path's
    * prepareWrite — read the session conf directly, not SQLConf.get).
    * All in-repo scopes for a given key use the SAME value, so
    * overlapping leases never conflict. Weak keys: a stopped
    * session's entries just age out. */
  private final class ConfLease {
    var depth = 0
    var prev: Option[String] = None
  }
  private val confLeases = new java.util.WeakHashMap[
    SparkSession, java.util.HashMap[String, ConfLease]]()

  private[graft] def withSessionConf[T](spark: SparkSession, key: String,
                                        value: String)(body: => T): T = {
    confLeases.synchronized {
      var m = confLeases.get(spark)
      if (m == null) {
        m = new java.util.HashMap[String, ConfLease]()
        confLeases.put(spark, m)
      }
      var st = m.get(key)
      if (st == null) { st = new ConfLease; m.put(key, st) }
      if (st.depth == 0) {
        st.prev = spark.conf.getOption(key)
        spark.conf.set(key, value)
      }
      st.depth += 1
    }
    try body
    finally confLeases.synchronized {
      val m = confLeases.get(spark)
      val st = m.get(key)
      st.depth -= 1
      if (st.depth == 0) {
        st.prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
        m.remove(key)
        if (m.isEmpty) confLeases.remove(spark)
      }
    }
  }

  /** Internal batch writer with the Hadoop job-commit ceremony cut
    * down: the MANIFEST is this format's atomicity boundary — a batch
    * directory is invisible until a committed manifest names its
    * files, and a failed write's partials are unreferenced orphans
    * for [[vacuum]] — so the FileOutputCommitter's crash-safe v1
    * double-rename and _SUCCESS marker are pure redundancy here.
    * Algorithm v2 moves task output straight to the destination at
    * task commit (one rename fewer per file, and no O(files) serial
    * job-commit rename pass on the driver — on local FS each rename
    * is also a Shell permission call). Valid at any scale: these are
    * the standard settings for manifest-committed tables on object
    * stores, where the v1 dance is slowest. Options ride per-write
    * (sessionState.newHadoopConfWithOptions), never mutating session
    * or global Hadoop conf. */
  private def internalWriter(df: DataFrame)
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    df.write
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")

  /** Run an internal batch write with parquet timestamps pinned to
    * TIMESTAMP_MICROS (the footer-stats-capable encoding). Spark's
    * default INT96 carries NO usable footer statistics, so a table
    * tracking stats on a timestamp column would pay the post-write
    * re-scan fallback on EVERY commit — the one remaining
    * write-amplification residue after the footer-stats path landed.
    * MICROS round-trips bit-identically (Spark timestamps ARE micros;
    * INT96 nanos were zero-padding) and is the recommended modern
    * encoding anyway; INT96 is parquet-deprecated. The pin must ride
    * the SESSION conf for the write's duration (a writer option is
    * clobbered by prepareWrite, which copies the session value into
    * the job conf), hence the depth-counted lease. */
  private def internalWrite(df: DataFrame, path: String,
                            partitionBy: Seq[String] = Nil): Unit =
    withSessionConf(df.sparkSession,
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS") {
      val w = internalWriter(df)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(path)
    }

  private def manifestDir(dir: String) = new Path(dir, "_manifests")
  private def manifestPath(dir: String, v: Long) =
    new Path(manifestDir(dir), s"v$v.json")

  /** Per-file, per-column [min,max] with a comparison-domain tag:
    * `num` (all numerics — compared as BigDecimal), `str` (raw string,
    * lexical), `date` (epoch day), `ts` (epoch micros). Values are
    * stored as strings in the manifest; a value that fails to parse in
    * its domain (e.g. a NaN min) simply makes the file un-prunable —
    * stats can only ever SKIP a file that provably has no matching
    * row, never hide one. */
  final case class ColStat(tag: String, min: String, max: String)

  /** Manifest JSON is written and parsed with Jackson (ships with
    * Spark) — file paths are machine-generated but stat min/max of
    * string columns carry arbitrary user text, which hand-rolled
    * escaping would get wrong. */
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Latest committed version, or None for an empty/uninitialized
    * table. One directory listing of `_manifests/` — never of the
    * data. */
  def latestVersion(spark: SparkSession, dir: String): Option[Long] = {
    val f = fs(spark, dir)
    val md = manifestDir(dir)
    if (!f.exists(md)) return None
    val vs = f.listStatus(md).toSeq
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json") }
      .flatMap(s => scala.util.Try(s.toLong).toOption)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Reader features THIS code understands. A manifest written by a
    * newer engine lists the features its resolution depends on
    * (`"features"`); an entry outside this set means silently reading
    * would misinterpret the table (e.g. a reader that doesn't apply
    * deletion vectors would resurrect deleted rows) — so the read
    * fails loudly instead. The public Delta/Iceberg
    * protocol-versioning idea reduced to a feature list: plain old
    * manifests carry no list and every reader accepts them. */
  private val SupportedFeatures = Set(
    "dv", "dvremoves", "constraints", "segments", "bucket", "colmap",
    "defaults")

  private def manifestNode(spark: SparkSession, dir: String,
                           v: Long): com.fasterxml.jackson.databind.JsonNode = {
    val f = fs(spark, dir)
    val p = manifestPath(dir, v)
    if (!f.exists(p))
      throw new java.io.IOException(
        s"manifest v$v missing under $dir — vacuumed past the time-travel " +
          "horizon, or the table directory was modified out of band")
    val in = f.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val node = mapper.readTree(txt)
    val unknown = strSeq(node, "features").filterNot(SupportedFeatures)
    if (unknown.nonEmpty)
      throw new java.io.IOException(
        s"manifest v$v under $dir requires reader features this engine " +
          s"does not implement: ${unknown.mkString(", ")} — written by a " +
          "newer writer; upgrade before reading")
    node
  }

  /** The fully-resolved table state at one version. Immutable once
    * committed, hence cacheable. `bloomRefs` points at the per-batch
    * Bloom SIDECAR file each data file's bitsets live in (the
    * Delta-bloom-index layout — bitsets never ride inside manifests);
    * `legacyBlooms` holds inline bitsets from pre-sidecar manifests.
    * `segments` records the SEGMENTED checkpoint composition this
    * state was resolved through (segment file name → its file list,
    * carried unchanged through deltas) — what lets the NEXT
    * checkpoint writer reuse unchanged segments; `dvDirty` accumulates
    * the files whose deletion-vector ref was overridden by a delta
    * since that checkpoint (their segment entries are stale and the
    * segment must be rewritten at the next checkpoint). */
  private[graft] final case class TableState(
      files: Seq[String],
      txns: Map[String, Long],
      stats: Map[String, Map[String, ColStat]],
      bloomRefs: Map[String, String],
      bloomCols: Seq[String],
      legacyBlooms: Map[String, Map[String, Array[Byte]]],
      schema: Option[StructType],
      sizes: Map[String, Long],
      dvRefs: Map[String, String] = Map.empty,
      segments: Seq[(String, Seq[String])] = Nil,
      dvDirty: Set[String] = Set.empty,
      bucket: Option[BucketLayout] = None,
      constraints: Map[String, String] = Map.empty,
      // COLUMN MAPPING (the public Delta column-mapping idea): the
      // manifest schema holds LOGICAL names; data files, stats keys,
      // Bloom keys and tracked-column lists hold stable PHYSICAL
      // names. The map is SPARSE — only non-identity entries are
      // recorded; a logical name absent from it IS its physical name.
      // `retired` lists physical names of DROPPED columns: their data
      // still sits in old files (explicit-schema reads never touch
      // it) and a re-added logical column of the same name must take
      // a FRESH physical name, never resurrect the old bytes.
      colMap: Map[String, String] = Map.empty,
      retired: Seq[String] = Nil,
      // TABLE PROPERTIES (the public TBLPROPERTIES surface): free-form
      // key->value metadata; behavior-bearing keys are documented on
      // [[setProperties]]. Read semantics never depend on them (no
      // reader feature guard needed) — they steer WRITE-side routing
      // (e.g. graft.enableDeletionVectors -> SQL DELETE/UPDATE go
      // merge-on-read).
      props: Map[String, String] = Map.empty,
      // ADD COLUMN ... DEFAULT (the Iceberg initial-default idea):
      // logical column -> (canonical literal string, the file keys
      // present when the column was added). Reads serve the literal —
      // cast to the column's type — for exactly those files; every
      // other file reads its physical bytes (absent -> NULL). The
      // pre-file sets only SHRINK: rewrites materialize the default
      // into new files, and commits prune entries to live files.
      defaults: Map[String, (String, Set[String])] = Map.empty)

  /** The state a table's first commit builds on. */
  private val EmptyState = TableState(Nil, Map.empty, Map.empty, Map.empty,
    Nil, Map.empty, None, Map.empty)

  /** A table-wide bucketing CLAIM: every data file of the version was
    * written by [[appendBucketed]] with this spec — file names carry
    * Spark-parseable bucket ids, and each file holds exactly the rows
    * whose `pmod(hash(cols), n)` equals its id (Spark's own
    * HashPartitioning.partitionIdExpression). The claim is recorded
    * per-manifest and CLEARS on any commit that does not re-assert it
    * (plain appends, CoW rewrites, compaction) — a stale claim could
    * silently co-locate a join wrong, so absence is always safe. */
  final case class BucketLayout(numBuckets: Int, cols: Seq[String],
                                sortCols: Seq[String])

  /** Bounded cache of resolved states — a COMMITTED manifest is
    * immutable, so the only size concern would be capacity; but a
    * table directory deleted and recreated at the same path (or a
    * vacuum checkpoint-rewrite of the oldest kept manifest) replaces
    * the manifest FILE, and a (dir, version) key would keep serving
    * the pre-replacement state. The key therefore carries the
    * manifest file's (modificationTime, length) fingerprint: a
    * replaced v<N>.json forms a new key and can never be served from
    * the old entry (the stale entry just ages out of the LRU). */
  private val stateCache =
    new java.util.LinkedHashMap[(String, Long, Long, Long), TableState](
        64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long, Long), TableState]
         ): Boolean = size() > 48
    }

  /** Resolve the state at version `v`: read manifests BACKWARD from v
    * to the nearest full (checkpoint-form) manifest, then replay the
    * delta chain forward — the Delta-log checkpoint+delta model. A
    * full manifest is written every [[CheckpointEvery]] commits (and
    * at v0), so the chain is at most CheckpointEvery deltas long and
    * a COMMIT only ever writes O(batch) bytes, not O(table). */
  private def stateOf(spark: SparkSession, dir: String,
                      v: Long): TableState = {
    val fst = try fs(spark, dir).getFileStatus(manifestPath(dir, v))
    catch { case _: java.io.FileNotFoundException =>
      throw new java.io.IOException(
        s"manifest v$v missing under $dir — vacuumed past the time-travel " +
          "horizon, or the table directory was modified out of band")
    }
    val key = (new Path(dir).toUri.getPath, v,
      fst.getModificationTime, fst.getLen)
    stateCache.synchronized {
      val hit = stateCache.get(key)
      if (hit != null) return hit
    }
    val node = manifestNode(spark, dir, v)
    val st =
      if (node.get("files") != null || node.get("segments") != null ||
          v == 0L)
        fullState(spark, dir, node)
      else deltaState(stateOf(spark, dir, v - 1), node)
    stateCache.synchronized { stateCache.put(key, st); () }
    st
  }

  private def strSeq(n: com.fasterxml.jackson.databind.JsonNode,
                     field: String): Seq[String] = {
    val a = n.get(field)
    if (a == null) Seq.empty else (0 until a.size).map(a.get(_).asText)
  }

  private def txnsOf(n: com.fasterxml.jackson.databind.JsonNode
                    ): Map[String, Long] = {
    val t = n.get("txns")
    if (t == null) Map.empty
    else {
      val it = t.fieldNames()
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) { val k = it.next(); b += k -> t.get(k).asLong }
      b.result()
    }
  }

  private def statsOf(n: com.fasterxml.jackson.databind.JsonNode
                     ): Map[String, Map[String, ColStat]] = {
    val s = n.get("stats")
    if (s == null) return Map.empty
    val b = Map.newBuilder[String, Map[String, ColStat]]
    val files = s.fieldNames()
    while (files.hasNext) {
      val file = files.next()
      val fileNode = s.get(file)
      val cb = Map.newBuilder[String, ColStat]
      val cols = fileNode.fieldNames()
      while (cols.hasNext) {
        val c = cols.next(); val a = fileNode.get(c)
        if (a != null && a.size == 3)
          cb += c -> ColStat(a.get(0).asText, a.get(1).asText,
            a.get(2).asText)
      }
      b += file -> cb.result()
    }
    b.result()
  }

  private def bloomRefsOf(n: com.fasterxml.jackson.databind.JsonNode
                         ): Map[String, String] =
    refMapOf(n, "bloomrefs")

  private def dvRefsOf(n: com.fasterxml.jackson.databind.JsonNode
                      ): Map[String, String] =
    refMapOf(n, "dvrefs")

  private def refMapOf(n: com.fasterxml.jackson.databind.JsonNode,
                       field: String): Map[String, String] = {
    val s = n.get(field)
    if (s == null) return Map.empty
    val it = s.fieldNames()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val k = it.next(); b += k -> s.get(k).asText }
    b.result()
  }

  private def legacyBloomsOf(n: com.fasterxml.jackson.databind.JsonNode
                            ): Map[String, Map[String, Array[Byte]]] =
    bloomMapOf(n.get("blooms"))

  /** Parse a {file: {col: base64}} node (a bloom sidecar's root, or a
    * legacy manifest's inline "blooms" object). */
  private def bloomMapOf(s: com.fasterxml.jackson.databind.JsonNode
                        ): Map[String, Map[String, Array[Byte]]] = {
    if (s == null) return Map.empty
    val b = Map.newBuilder[String, Map[String, Array[Byte]]]
    val files = s.fieldNames()
    while (files.hasNext) {
      val file = files.next()
      val fileNode = s.get(file)
      val cb = Map.newBuilder[String, Array[Byte]]
      val cols = fileNode.fieldNames()
      while (cols.hasNext) {
        val c = cols.next()
        cb += c -> java.util.Base64.getDecoder.decode(fileNode.get(c).asText)
      }
      b += file -> cb.result()
    }
    b.result()
  }

  private def bucketOf(n: com.fasterxml.jackson.databind.JsonNode
                      ): Option[BucketLayout] = {
    val b = n.get("bucket")
    if (b == null) None
    else Some(BucketLayout(b.get("n").asInt, strSeq(b, "cols"),
      strSeq(b, "sort")))
  }

  /** Parse the `defaults` object: {col: {"v": str, "files": [...]}}. */
  private def defaultsOf(n: com.fasterxml.jackson.databind.JsonNode
                        ): Map[String, (String, Set[String])] = {
    val d = n.get("defaults")
    if (d == null) return Map.empty
    val it = d.fieldNames()
    val b = Map.newBuilder[String, (String, Set[String])]
    while (it.hasNext) {
      val c = it.next(); val e = d.get(c)
      b += c -> (e.get("v").asText, strSeq(e, "files").toSet)
    }
    b.result()
  }

  private def sizesOf(n: com.fasterxml.jackson.databind.JsonNode
                     ): Map[String, Long] = {
    val t = n.get("sizes")
    if (t == null) Map.empty
    else {
      val it = t.fieldNames()
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) { val k = it.next(); b += k -> t.get(k).asLong }
      b.result()
    }
  }

  private def schemaOf(n: com.fasterxml.jackson.databind.JsonNode
                      ): Option[StructType] = {
    val s = n.get("schema")
    if (s == null) None
    else Some(DataType.fromJson(s.toString).asInstanceOf[StructType])
  }

  /** One parsed checkpoint segment — the per-file maps of a slice of
    * the table. Segment files (`_manifests/seg-v<N>-<uuid>.json`) are
    * immutable once referenced (writers only ever create NEW segment
    * names), so the cache key is just (dir, name). */
  private final case class Segment(
      files: Seq[String],
      stats: Map[String, Map[String, ColStat]],
      bloomRefs: Map[String, String],
      sizes: Map[String, Long],
      dvRefs: Map[String, String])

  private val segmentCache =
    new java.util.LinkedHashMap[(String, String), Segment](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Segment]): Boolean =
        size() > 48
    }

  private def loadSegment(spark: SparkSession, dir: String,
                          name: String): Segment = {
    val key = (new Path(dir).toUri.getPath, name)
    segmentCache.synchronized {
      val hit = segmentCache.get(key)
      if (hit != null) return hit
    }
    val f = fs(spark, dir)
    val p = new Path(manifestDir(dir), name)
    if (!f.exists(p))
      throw new java.io.IOException(
        s"checkpoint segment $name missing under $dir — vacuumed past " +
          "the horizon, or the table directory was modified out of band")
    val in = f.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val n = mapper.readTree(txt)
    val seg = Segment(strSeq(n, "files"), statsOf(n), bloomRefsOf(n),
      sizesOf(n), dvRefsOf(n))
    segmentCache.synchronized { segmentCache.put(key, seg); () }
    seg
  }

  private def fullState(spark: SparkSession, dir: String,
                        n: com.fasterxml.jackson.databind.JsonNode
                       ): TableState = {
    val legacy = legacyBloomsOf(n)
    // SEGMENTED checkpoint: the per-file maps live in referenced
    // segment files; the manifest itself is O(segments) small.
    if (n.get("segments") != null) {
      val names = strSeq(n, "segments")
      val segs = names.map(nm => nm -> loadSegment(spark, dir, nm))
      return TableState(
        files = segs.flatMap(_._2.files),
        txns = txnsOf(n),
        stats = segs.iterator.flatMap(_._2.stats).toMap,
        bloomRefs = segs.iterator.flatMap(_._2.bloomRefs).toMap,
        bloomCols = strSeq(n, "bloomcols"),
        legacyBlooms = legacy,
        schema = schemaOf(n),
        sizes = segs.iterator.flatMap(_._2.sizes).toMap,
        dvRefs = segs.iterator.flatMap(_._2.dvRefs).toMap,
        segments = segs.map { case (nm, s) => nm -> s.files },
        bucket = bucketOf(n),
        constraints = refMapOf(n, "constraints"),
        colMap = refMapOf(n, "colmap"),
        retired = strSeq(n, "retired"),
        props = refMapOf(n, "props"),
        defaults = defaultsOf(n))
    }
    val refs = bloomRefsOf(n)
    val cols = strSeq(n, "bloomcols") match {
      case Seq() => legacy.values.flatMap(_.keys).toSeq.distinct
      case cs => cs
    }
    // A delta-form v0 (never written by this code, but a truncated
    // chain must fail loudly, not silently read half a table).
    if (n.get("files") == null && strSeq(n, "removes").nonEmpty)
      throw new java.io.IOException(
        "manifest v0 is delta-form with removes — corrupt chain")
    TableState(
      files = if (n.get("files") != null) strSeq(n, "files")
              else strSeq(n, "adds"),
      txns = txnsOf(n), stats = statsOf(n), bloomRefs = refs,
      bloomCols = cols, legacyBlooms = legacy, schema = schemaOf(n),
      sizes = sizesOf(n), dvRefs = dvRefsOf(n), bucket = bucketOf(n),
      constraints = refMapOf(n, "constraints"),
      colMap = refMapOf(n, "colmap"),
      retired = strSeq(n, "retired"),
      props = refMapOf(n, "props"),
      defaults = defaultsOf(n))
  }

  private def deltaState(parent: TableState,
                         n: com.fasterxml.jackson.databind.JsonNode
                        ): TableState = {
    val adds = strSeq(n, "adds")
    val removes = strSeq(n, "removes").toSet
    val dvOverrides = dvRefsOf(n)
    val dvRemoves = strSeq(n, "dvremoves").toSet
    TableState(
      files = parent.files.filterNot(removes) ++ adds,
      txns = txnsOf(n), // full ledger rides in every manifest (small)
      stats = (parent.stats -- removes) ++ statsOf(n),
      bloomRefs = (parent.bloomRefs -- removes) ++ bloomRefsOf(n),
      bloomCols = strSeq(n, "bloomcols") match {
        case Seq() => parent.bloomCols
        case cs => cs
      },
      legacyBlooms = parent.legacyBlooms -- removes,
      schema = schemaOf(n).orElse(parent.schema),
      sizes = (parent.sizes -- removes) ++ sizesOf(n),
      // deletion-vector refs: delta entries REPLACE per file (a MoR
      // delete supersedes the file's previous vector); removed files
      // drop theirs with the file; explicit dvremoves (restore to a
      // pre-vector version) drop a CARRIED file's vector.
      dvRefs = (parent.dvRefs -- removes -- dvRemoves) ++ dvOverrides,
      // segment composition rides through deltas untouched; overridden
      // (or dropped) vectors mark their files' segment entries stale.
      segments = parent.segments,
      dvDirty = parent.dvDirty ++ dvOverrides.keySet ++ dvRemoves,
      // The bucketing claim never inherits: each commit must
      // re-assert it (appendBucketed does) or the table is no longer
      // uniformly bucketed and the claim clears.
      bucket = bucketOf(n),
      // CHECK constraints DO inherit (they are table policy): a delta
      // carries the field only when the set changed — present-but-
      // empty means an explicit clear.
      constraints = if (n.get("constraints") != null)
        refMapOf(n, "constraints") else parent.constraints,
      // Column mapping inherits the same way (present = replace,
      // absent = inherit; an explicit empty object clears — the
      // rename-back-to-identity case).
      colMap = if (n.get("colmap") != null || n.get("retired") != null)
        refMapOf(n, "colmap") else parent.colMap,
      retired = if (n.get("colmap") != null || n.get("retired") != null)
        strSeq(n, "retired") else parent.retired,
      // properties inherit like constraints (present = replace,
      // explicit-empty = clear, absent = inherit)
      props = if (n.get("props") != null) refMapOf(n, "props")
        else parent.props,
      // column defaults: same change-only discipline
      defaults = if (n.get("defaults") != null) defaultsOf(n)
        else parent.defaults)
  }

  /** The file list of a version (relative paths). */
  def manifestFiles(spark: SparkSession, dir: String, v: Long): Seq[String] =
    stateOf(spark, dir, v).files

  /** Highest committed transaction version per writer app id (the
    * exactly-once ledger [[transactionalAppend]] checks). */
  def manifestTxns(spark: SparkSession, dir: String, v: Long): Map[String, Long] =
    stateOf(spark, dir, v).txns

  /** Per-file column stats of a version (file → column → ColStat).
    * Files or columns without recorded stats are absent — and treated
    * as un-prunable by [[readWhere]]. */
  def manifestStats(spark: SparkSession, dir: String,
                    v: Long): Map[String, Map[String, ColStat]] =
    stateOf(spark, dir, v).stats

  /** Per-file Bloom bitsets of a version (file → column → packed
    * bitset): the point-lookup skipping summary — min/max stats
    * cannot prune an equality probe on a high-cardinality UNSORTED
    * key; a per-file Bloom filter can ([[pruneFilesEq]]). Bitsets
    * live in per-batch SIDECAR files under `_blooms/` (the public
    * Delta bloom-index layout) with the manifest holding only
    * path-sized pointers — at 100 TB file counts the bitsets would
    * otherwise dominate every manifest write. This accessor
    * materializes the WHOLE map (sidecars included) for
    * inspection/specs; the probe path ([[pruneFilesEq]]) loads only
    * the sidecars of files that survive range pruning. */
  def manifestBlooms(spark: SparkSession, dir: String,
                     v: Long): Map[String, Map[String, Array[Byte]]] = {
    val st = stateOf(spark, dir, v)
    val bySidecar = st.bloomRefs.groupBy(_._2)
    val fromSidecars = bySidecar.flatMap { case (ref, fileRefs) =>
      val side = loadBloomSidecar(spark, dir, ref)
      fileRefs.keys.flatMap(f => sidecarLookup(side, f, ref).map(f -> _))
    }
    st.legacyBlooms ++ fromSidecars
  }

  /** Find `file`'s entry in a sidecar. A shallow clone absolutizes
    * both the file key and the sidecar ref, but the sidecar's OWN
    * keys stay source-relative — so an absolute miss retries under
    * the source-relative key derived from the ref's location. */
  private def sidecarLookup(side: Map[String, Map[String, Array[Byte]]],
                            file: String,
                            ref: String): Option[Map[String, Array[Byte]]] =
    side.get(file).orElse {
      if (ref.startsWith("_blooms/")) None
      else {
        val srcDir = new Path(ref).getParent.getParent // …/_blooms/x.json
        val prefix = srcDir.toUri.getPath + "/data/"
        if (file.startsWith(prefix))
          side.get("data/" + file.stripPrefix(prefix))
        else None
      }
    }

  /** The table schema a version's manifest records (absent on
    * pre-evolution manifests → readers fall back to parquet
    * inference over the snapshot's files). */
  def manifestSchema(spark: SparkSession, dir: String,
                     v: Long): Option[StructType] =
    stateOf(spark, dir, v).schema

  /** Per-file byte sizes a version's manifest records (absent for
    * files committed by pre-r7 writers) — what lets planners build
    * their file listing from the manifest alone, with zero
    * per-file filesystem RPCs. */
  def manifestSizes(spark: SparkSession, dir: String,
                    v: Long): Map[String, Long] =
    stateOf(spark, dir, v).sizes

  /** Per-file deletion-vector refs of a version (file → `_dv/<batch>`
    * sidecar, or a clone's absolute ref) — nonEmpty means the
    * snapshot carries merge-on-read deletes that every row-level read
    * must apply. */
  def manifestDvRefs(spark: SparkSession, dir: String,
                     v: Long): Map[String, String] =
    stateOf(spark, dir, v).dvRefs

  /** The version's bucketing claim ([[BucketLayout]]), if every data
    * file was written by [[appendBucketed]] under one spec. The SQL
    * read surfaces turn this into Spark's `BucketSpec`, so joins and
    * aggregations on the bucket columns skip their Exchange. */
  def manifestBucket(spark: SparkSession, dir: String,
                     v: Long): Option[BucketLayout] =
    stateOf(spark, dir, v).bucket

  /** Commit AUDIT LOG (the public DESCRIBE HISTORY shape): one row per
    * surviving manifest — (version, op, files added, files removed,
    * live file count, live bytes). Driver-side over the manifest
    * chain (control plane; bounded by the vacuum window), surfaced as
    * a DataFrame so it composes with SQL. Vacuumed versions are
    * simply absent — the log is exactly as durable as time travel. */
  def history(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val latest = latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(s"history: no committed version under $dir"))
    val f = fs(spark, dir)
    // One ASCENDING pass carrying the previous version's state: each
    // manifest is read exactly once (op and delta come from the same
    // node), and nothing routes through the global LRU state cache —
    // a per-version stateOf chain here would thrash it on tables with
    // more surviving versions than the cache holds, costing
    // O(versions × CheckpointEvery) manifest reads. The first
    // surviving manifest is always full-form (v0, or vacuum's
    // checkpoint rewrite of the oldest kept version); stateOf stays
    // as a fallback for a chain that violates that.
    var prev: Option[(Long, TableState)] = None
    val rows = (0L to latest)
      .filter(v => f.exists(manifestPath(dir, v)))
      .map { v =>
        val node = manifestNode(spark, dir, v)
        val st =
          if (node.get("files") != null || node.get("segments") != null ||
              v == 0L) fullState(spark, dir, node)
          else prev match {
            case Some((pv, ps)) if pv == v - 1 => deltaState(ps, node)
            case _ => stateOf(spark, dir, v)
          }
        val op = Option(node.get("op")).map(_.asText).getOrElse("commit")
        val prevFiles = prev match {
          case Some((pv, ps)) if pv == v - 1 => ps.files.toSet
          case _ => Set.empty[String]
        }
        prev = Some((v, st))
        val cur = st.files.toSet
        (v, op,
          Option(node.get("ts")).map(t => java.lang.Long.valueOf(t.asLong))
            .orNull.asInstanceOf[java.lang.Long],
          (cur -- prevFiles).size.toLong, (prevFiles -- cur).size.toLong,
          st.files.length.toLong, st.sizes.values.sum)
      }
    import spark.implicits._
    rows.toDF("version", "op", "commit_ts", "n_added", "n_removed",
      "n_files", "total_bytes")
  }

  /** EXACT metadata-only COUNT(*): Σ per-file [[RowsCol]] footer
    * counts − Σ deletion-vector masked positions. At 100 TB this is
    * the difference between an instant manifest fold and an
    * hour-long scan. Files written before counts existed (legacy) are
    * counted by scanning JUST those files; vectors are exact by
    * construction (each sidecar row is one masked live position), so
    * the result equals `read().count()` bit-for-bit — pinned in
    * SnapshotOpsSpec and oracle-checked by q_snapshot_count. */
  def countRows(spark: SparkSession, dir: String,
                version: Option[Long] = None): Long = {
    val v = version.orElse(latestVersion(spark, dir)).getOrElse(
      throw new java.io.IOException(
        s"countRows: no committed version under $dir"))
    val st = stateOf(spark, dir, v)
    if (st.files.isEmpty) return 0L
    val (counted, uncounted) = st.files.partition(f =>
      st.stats.get(f).exists(_.contains(RowsCol)))
    val base = counted.iterator
      .map(f => st.stats(f)(RowsCol).min.toLong).sum +
      (if (uncounted.isEmpty) 0L
       else readFiles(spark, dir, uncounted,
         manifestSchema(spark, dir, v)).count())
    // distinct() is load-bearing here (COUNT is duplicate-sensitive):
    // dvRows serves raw sidecar rows, unique by writer invariant, but
    // exactness of the subtraction must not rest on that invariant
    // alone — a hand-edited or foreign sidecar with a duplicate
    // position must still count each masked row once.
    val masked = dvRows(spark, dir, st.dvRefs, st.files)
      .map(_.distinct().count()).getOrElse(0L)
    base - masked
  }

  /** The raw commit wall-clock of version `v` (epoch millis); None for
    * manifests stamped before timestamps existed. */
  def manifestCommitTime(spark: SparkSession, dir: String,
                         v: Long): Option[Long] =
    Option(manifestNode(spark, dir, v).get("ts")).map(_.asLong)

  /** The surviving versions with their MONOTONICITY-ADJUSTED commit
    * times — the public Delta discipline: `adj(v) = max(adj(v-1)+1,
    * ts(v))`, so clock skew between committers (or a re-stamped
    * manifest) can never make history run backwards; a legacy
    * manifest with no stamp inherits `adj(prev)+1` (unknown-age
    * history sorts as old as possible). This is the timeline
    * `TIMESTAMP AS OF` resolves against. One manifest read per
    * surviving version — control plane. */
  def commitTimeline(spark: SparkSession, dir: String): Seq[(Long, Long)] = {
    val latest = latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(
        s"commitTimeline: no committed version under $dir"))
    val f = fs(spark, dir)
    var adj = Long.MinValue
    (0L to latest)
      .filter(v => f.exists(manifestPath(dir, v)))
      .map { v =>
        val raw = Option(manifestNode(spark, dir, v).get("ts"))
          .map(_.asLong).getOrElse(Long.MinValue)
        adj = math.max(adj + 1, raw)
        v -> adj
      }
  }

  /** Resolve `TIMESTAMP AS OF tsMillis`: the LATEST version whose
    * adjusted commit time is at or before the target. Throws when the
    * target predates the oldest surviving version ([[vacuum]] may
    * have retired older history — resolving to it silently would read
    * the wrong snapshot). */
  def versionAtTimestamp(spark: SparkSession, dir: String,
                         tsMillis: Long): Long = {
    val tl = commitTimeline(spark, dir)
    val at = tl.filter(_._2 <= tsMillis)
    if (at.isEmpty) throw new java.io.IOException(
      s"versionAtTimestamp: $tsMillis predates the oldest surviving " +
        s"version (v${tl.head._1} at ${tl.head._2}) under $dir")
    at.last._1
  }

  /** [[read]] at `TIMESTAMP AS OF` (see [[versionAtTimestamp]]). */
  def readAsOf(spark: SparkSession, dir: String,
               tsMillis: Long): DataFrame =
    read(spark, dir, Some(versionAtTimestamp(spark, dir, tsMillis)))

  /** Per-version (op, added files, removed files) over
    * `(fromExclusive, to]` — the commit-granular delta walk the
    * streaming source consumes. One manifest read per version (same
    * ascending-carry discipline as [[history]]); every version in the
    * range must still exist (a vacuumed manifest fails loudly — a
    * stream restarted past the retention horizon must not silently
    * skip data). */
  private[graft] final case class VersionDelta(
      version: Long, op: String, adds: Seq[String], removes: Seq[String],
      dvChanged: Seq[String] = Nil)

  private[graft] def versionDeltas(spark: SparkSession, dir: String,
                                   fromExclusive: Long, to: Long
                                  ): Seq[VersionDelta] = {
    if (fromExclusive >= to) return Seq.empty
    var prev: Option[(Long, TableState)] = None
    (math.max(0L, fromExclusive) to to).flatMap { v =>
      val node = manifestNode(spark, dir, v)
      val op = Option(node.get("op")).map(_.asText).getOrElse("commit")
      val st =
        if (node.get("files") != null || node.get("segments") != null ||
            v == 0L) fullState(spark, dir, node)
        else prev match {
          case Some((pv, ps)) if pv == v - 1 => deltaState(ps, node)
          case _ => stateOf(spark, dir, v)
        }
      val out =
        if (v <= fromExclusive) None
        else {
          val (prevFiles, prevDv) = prev match {
            case Some((pv, ps)) if pv == v - 1 => (ps.files.toSet, ps.dvRefs)
            case _ if v == 0L => (Set.empty[String], Map.empty[String, String])
            case _ =>
              val ps = stateOf(spark, dir, v - 1)
              (ps.files.toSet, ps.dvRefs)
          }
          val cur = st.files
          Some(VersionDelta(v, op,
            cur.filterNot(prevFiles).sorted,
            prevFiles.diff(cur.toSet).toSeq.sorted,
            // carried files whose deletion vector moved: a MoR delete
            // changed rows without changing the file list
            cur.filter(f => prevFiles.contains(f) &&
              prevDv.get(f) != st.dvRefs.get(f)).sorted))
        }
      prev = Some((v, st))
      out
    }
  }

  // ------------------------------------------------------------------
  // Bloom sidecars
  // ------------------------------------------------------------------

  /** Write one batch's bitsets as `_blooms/<batch>.json`
    * ({file: {col: base64}}), returning the per-file refs the
    * manifest records. Sidecars are immutable once written, named by
    * the batch UUID — no commit races. */
  private def writeBloomSidecar(spark: SparkSession, dir: String,
                                batch: String,
                                blooms: Map[String, Map[String, Array[Byte]]]
                               ): Map[String, String] = {
    if (blooms.isEmpty) return Map.empty
    val rel = s"_blooms/$batch.json"
    val root = new java.util.LinkedHashMap[String, Object]()
    blooms.toSeq.sortBy(_._1).foreach { case (file, cols) =>
      val cj = new java.util.LinkedHashMap[String, Object]()
      cols.toSeq.sortBy(_._1).foreach { case (c, bits) =>
        cj.put(c, java.util.Base64.getEncoder.encodeToString(bits))
      }
      root.put(file, cj)
    }
    val p = new Path(dir, rel)
    val f = fs(spark, dir)
    // uniquely named per batch, referenced only by the manifest
    // committed after it — writeTextFile's no-rename contract applies
    TableIO.writeTextFile(f, p, mapper.writeValueAsString(root))
    blooms.keys.map(_ -> rel).toMap
  }

  /** Load one sidecar (relative ref under this table, or a shallow
    * clone's absolute ref into its source table). */
  private def loadBloomSidecar(spark: SparkSession, dir: String,
                               ref: String
                              ): Map[String, Map[String, Array[Byte]]] = {
    val p = if (ref.startsWith("_blooms/")) new Path(dir, ref)
            else new Path(ref)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) return Map.empty // vacuumed sidecar: un-probeable, kept
    val in = f.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    bloomMapOf(mapper.readTree(txt))
  }

  /** Add-column schema evolution (the [[graft.catalog.Catalog]] /
    * reference-O16 discipline, enforced at the table-format layer):
    * every existing column keeps its type — a same-name type conflict
    * fails loudly — and genuinely new columns append. Everything is
    * marked nullable: rows in pre-evolution files surface NULL for
    * columns their file predates, and an append may itself omit
    * existing columns (its rows read NULL there). */
  private def evolveSchema(prev: StructType, next: StructType): StructType = {
    val prevNames = prev.fields.map(f => f.name -> f.dataType).toMap
    next.fields.foreach { f =>
      prevNames.get(f.name).foreach { pt =>
        require(pt.catalogString == f.dataType.catalogString ||
            widens(f.dataType, pt),
          s"schema evolution: column ${f.name} arrives as " +
            s"${f.dataType.simpleString} but the table holds ${pt.simpleString}")
      }
    }
    StructType((prev.fields ++
      next.fields.filterNot(f => prevNames.contains(f.name)))
      .map(_.copy(nullable = true)))
  }

  /** The TYPE-WIDENING lattice (the public Delta/Iceberg
    * type-promotion set, restricted to conversions every summary
    * stays correct under): integral chain byte→short→int→long,
    * float→double, and decimal precision growth at fixed scale.
    * Widening is safe because (a) Spark's vectorized parquet reader
    * upcasts a narrower on-disk type to the requested schema natively
    * (an int32 page reads as bigint — no rewrite), (b) min/max stats
    * live in the shared canonical "num" domain, and (c) Bloom bitsets
    * hash `toString`, which is STABLE along the integral chain ("5"
    * is "5" at every width) while float/decimal columns are never
    * bloom-eligible. Conversions outside this set (int→double,
    * long→int, anything→string) are refused — int→double in
    * particular would silently break existing Bloom bitsets ("5" vs
    * "5.0"). */
  private[sources] def widens(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (f, t) if f == t => false
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case _ => false
    }

  /** Read exactly `files` (relative paths), under the table schema
    * when the manifest records one — an explicit schema makes parquet
    * surface NULL for columns a file predates, which is what lets one
    * scan span an evolving file population. */
  /** Above this many explicit files, [[readFiles]] hands path
    * resolution back to Spark's (distributed) listing machinery; at
    * or below it, the scan plans from driver-side statuses with zero
    * listing jobs. Manifest-driven reads pass bounded file subsets
    * (touched files, pruned candidates), so the fast path is the
    * norm; a full-table read of a million-file table still gets the
    * parallel listing it needs. */
  private val ExplicitIndexMaxFiles = 4096

  private def readFiles(spark: SparkSession, dir: String,
                        files: Seq[String],
                        schema: Option[StructType]): DataFrame = {
    // Relative entries live under THIS table; absolute entries are a
    // shallow clone's references into its source table.
    val paths = files.map(p => if (p.startsWith("data/")) s"$dir/$p" else p)
    schema match {
      case Some(st) if files.nonEmpty &&
          files.length <= ExplicitIndexMaxFiles =>
        // EXPLICIT-FILE relation: the caller already knows the exact
        // file set from the manifest, so handing the paths to
        // spark.read.parquet — which re-stats every one and, above
        // spark.sql.sources.parallelPartitionDiscovery.threshold
        // (32), launches a whole LISTING JOB per read — is pure
        // overhead on every probe, rewrite and feed read. One
        // driver-side getFileStatus per file feeds a fixed FileIndex
        // instead (the SnapshotFileIndex manifest-only-planning idea,
        // applied to the programmatic read path).
        val f = fs(spark, dir)
        // Independent metadata RPCs — overlap on a bounded pool (the
        // footerSummaries pattern): serial per-file stats on an
        // object store would cost more than the listing job this
        // path removes.
        val statuses =
          if (paths.lengthCompare(4) <= 0)
            paths.map(p => f.getFileStatus(new Path(p)))
          else {
            val pool = java.util.concurrent.Executors.newFixedThreadPool(
              math.min(8, paths.length))
            implicit val ec: scala.concurrent.ExecutionContext =
              scala.concurrent.ExecutionContext.fromExecutor(pool)
            try scala.concurrent.Await.result(
              scala.concurrent.Future.sequence(paths.map(p =>
                scala.concurrent.Future(f.getFileStatus(new Path(p))))),
              scala.concurrent.duration.Duration.Inf)
            finally pool.shutdown()
          }
        val index = new ExplicitFileIndex(new Path(dir), statuses)
        val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
          index, new StructType(), st, None,
          new org.apache.spark.sql.execution.datasources.parquet
            .ParquetFileFormat(), Map.empty)(spark)
        org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
          org.apache.spark.sql.execution.datasources.LogicalRelation(
            rel, org.apache.spark.sql.catalyst.types.DataTypeUtils
              .toAttributes(rel.dataSchema), None, isStreaming = false, None))
      case Some(st) => spark.read.schema(st).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** Fixed file set as a [[org.apache.spark.sql.execution.datasources
    * .FileIndex]]: no directory listing, no refresh — the statuses
    * ARE the table subset being read (see [[readFiles]]). */
  private final class ExplicitFileIndex(
      root: Path, statuses: Seq[FileStatus])
    extends org.apache.spark.sql.execution.datasources.FileIndex {
    override def rootPaths: Seq[Path] = Seq(root)
    override def partitionSchema: StructType = new StructType()
    override def inputFiles: Array[String] =
      statuses.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = statuses.map(_.getLen).sum
    override def listFiles(
        partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
        dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory] =
      Seq(org.apache.spark.sql.execution.datasources.PartitionDirectory(
        org.apache.spark.sql.catalyst.InternalRow.empty,
        statuses.toArray[FileStatus]))
  }

  // ------------------------------------------------------------------
  // Deletion vectors (merge-on-read deletes)
  // ------------------------------------------------------------------

  /** The manifest key of a scanned row's physical file, as a Column —
    * the scan-side twin of [[manifestKey]], computed from
    * `_metadata.file_path` entirely in builtin string expressions so
    * deletion-vector application stays inside codegen. */
  private def fileKeyExpr(dir: String, fp: Column): Column = {
    val prefix = new Path(dir).toUri.getPath + "/data/"
    val p = regexp_replace(fp, "^[a-zA-Z][a-zA-Z0-9+.\\-]*:(//)?", "")
    when(p.startsWith(prefix),
      concat(lit("data/"), p.substr(lit(prefix.length + 1),
        lit(Int.MaxValue)))).otherwise(p)
  }

  private def resolveDvRef(dir: String, ref: String): String =
    if (ref.startsWith("_dv/")) new Path(dir, ref).toString else ref

  /** The deletion-vector rows covering `files` —
    * (`__dv_file` manifest key, `__dv_rowidx` in-file row position) —
    * loading ONLY the sidecars those files' refs name. A foreign
    * (clone-absolute) sidecar stores source-relative keys; they are
    * absolutized against the ref's own location so a clone's reads
    * honor the source's vectors. None when no covered file carries a
    * vector. */
  private def dvRows(spark: SparkSession, dir: String,
                     dvRefs: Map[String, String],
                     files: Seq[String]): Option[DataFrame] = {
    val relevant = dvRefs.view.filterKeys(files.toSet).toMap
    if (relevant.isEmpty) return None
    // One sidecar can cover MANY files (a single MoR delete writes one
    // vector file for every file it touched). Positions must be
    // restricted to the files that CURRENTLY reference the sidecar: a
    // sibling file's later rewrite materializes ITS deletes and drops
    // ITS dvRefs entry, but the shared sidecar lives on — serving its
    // stale positions would make position-COUNTING consumers
    // (countRows) subtract deletes that no longer exist. (The
    // anti-join mask was accidentally immune — a rewritten file's name
    // never matches — but the filter is the correctness contract, not
    // the join's luck.)
    import spark.implicits._
    // Sidecar layout is fixed by the writers (deleteWhereMor /
    // updateWhereMor / replicate-carry): (file STRING, row_index
    // LONG). Reading with the schema EXPLICIT skips the per-read
    // footer schema-inference pass (a driver-side footer open — or a
    // mergeSchemasInParallel job — on EVERY DV'd read path: probes,
    // feeds, masked reads).
    val dvSchema = StructType(Seq(
      StructField("file", StringType), StructField("row_index", LongType)))
    val frames = relevant.groupBy(_._2).toSeq.map { case (ref, fs) =>
      val df0 = spark.read.schema(dvSchema).parquet(resolveDvRef(dir, ref))
        .select(col("file").as("__dv_file"),
          col("row_index").as("__dv_rowidx"))
      val df =
        if (ref.startsWith("_dv/")) df0
        else {
          val srcDir = new Path(ref).getParent.getParent.toUri.getPath
          df0.withColumn("__dv_file",
            when(col("__dv_file").startsWith("data/"),
              concat(lit(s"$srcDir/"), col("__dv_file")))
              .otherwise(col("__dv_file")))
        }
      df.join(broadcast(fs.keys.toSeq.toDF("__dv_file")),
        Seq("__dv_file"), "left_semi")
    }
    // No distinct here — (file, row_index) rows are unique by
    // construction: every sidecar writer (deleteWhereMor /
    // updateWhereMor) distincts its positions before writing, and
    // dvRefs maps each file to exactly ONE sidecar, so the per-ref
    // frames cover disjoint file sets. A distinct would add a full
    // shuffle of the mask to EVERY DV'd read (masked reads, probes,
    // feeds) for nothing. Consumers that are duplicate-SENSITIVE
    // (countRows) re-assert uniqueness themselves.
    Some(frames.reduce(_ unionByName _))
  }

  /** Apply the deletion vectors covering `files` to ANY frame whose
    * scan exposes `_metadata` (a parquet file relation — programmatic
    * [[readFiles]], [[SnapshotFileIndex]] SQL relations, and
    * streaming micro-batch file relations alike): rows whose
    * (file, row position) appear in a covering vector are filtered
    * out by a BROADCAST anti-join on `_metadata.row_index` — vectors
    * are deleted-row-count-sized, orders of magnitude under the data
    * they mask (that asymmetry is the whole point of merge-on-read).
    * Files without a vector pass through untouched; no covering
    * vector at all returns `base` unchanged. For a STREAMING `base`
    * this is a stream-static left-anti join (a supported shape), so
    * the SQL/format and streaming surfaces honor vectors instead of
    * refusing DV'd snapshots. */
  private[sources] def dvMaskOver(spark: SparkSession, dir: String,
                                  dvRefs: Map[String, String],
                                  files: Seq[String],
                                  base: DataFrame): DataFrame =
    dvRows(spark, dir, dvRefs, files) match {
      case None => base
      case Some(dv) =>
        val cols = base.columns.map(col)
        base.select(cols :+
            fileKeyExpr(dir, col("_metadata.file_path")).as("__dv_fp") :+
            col("_metadata.row_index").as("__dv_ri"): _*)
          .join(broadcast(dv),
            col("__dv_fp") === col("__dv_file") &&
              col("__dv_ri") === col("__dv_rowidx"), "left_anti")
          .select(cols: _*)
    }

  // ------------------------------------------------------------------
  // Column mapping (logical ↔ physical names)
  // ------------------------------------------------------------------

  /** The stable physical (in-file) name of logical column `c` under a
    * sparse mapping — identity when unmapped. */
  private[sources] def physName(colMap: Map[String, String],
                                c: String): String =
    colMap.getOrElse(c, c)

  /** The schema a snapshot's parquet FILES carry: the logical fields
    * renamed to their stable physical names. */
  private[sources] def physSchemaOf(colMap: Map[String, String],
                           logical: StructType): StructType =
    StructType(logical.fields.map(f =>
      f.copy(name = physName(colMap, f.name))))

  /** Rename a physical-named frame to its logical names in ONE atomic
    * select — pairwise withColumnRenamed would collide on swapped
    * names. Extra (non-schema) columns in `df` are preserved as-is,
    * appended after the logical fields. */
  private def toLogicalFrame(df: DataFrame, colMap: Map[String, String],
                             logical: StructType): DataFrame = {
    val physToExtra = {
      val phys = logical.fields.map(f => physName(colMap, f.name)).toSet
      df.columns.filterNot(phys)
    }
    df.select(logical.fields.map(f =>
      col(physName(colMap, f.name)).as(f.name)).toSeq ++
      physToExtra.map(col): _*)
  }

  /** [[readFiles]] with each file's deletion vector applied (see
    * [[dvMaskOver]]); a snapshot with no vectors is exactly
    * [[readFiles]]. Under an active column mapping the files are read
    * with the PHYSICAL schema (the names actually in the parquet),
    * vectors applied (they key on `_metadata`, name-independent), and
    * the frame then renamed to the LOGICAL schema — callers only ever
    * see logical names. */
  private def readFilesWithDv(spark: SparkSession, dir: String,
                              files: Seq[String],
                              schema: Option[StructType],
                              dvRefs: Map[String, String],
                              colMap: Map[String, String] = Map.empty,
                              defaults: Map[String, (String, Set[String])] =
                                Map.empty
                             ): DataFrame = {
    // ADD COLUMN initial DEFAULTS — group-split read: files are
    // grouped by WHICH default columns consider them pre-ADD, each
    // group scans once, and the pre-ADD groups replace those columns
    // with the recorded literal (cast to the column type). One union
    // of a handful of scans (group count <= distinct default
    // signatures, in practice #defaults + 1) — no per-row file
    // comparisons, pushed filters prune each branch independently,
    // and a table without live defaults takes the single-scan path
    // untouched.
    val relevant = defaults.filter { case (_, (_, pre)) =>
      files.exists(pre) }
    if (relevant.nonEmpty) {
      val logical = schema.getOrElse(throw new IllegalStateException(
        s"column defaults active under $dir but the manifest records " +
          "no schema — corrupt metadata"))
      return files
        .groupBy(f => relevant.keySet.filter(c => relevant(c)._2(f)))
        .toSeq.sortBy(_._2.head)
        .map { case (cols, fs) =>
          val base = readFilesWithDv(spark, dir, fs, schema, dvRefs, colMap)
          if (cols.isEmpty) base
          else base.select(logical.fields.map { f =>
            if (cols.contains(f.name))
              lit(relevant(f.name)._1).cast(f.dataType).as(f.name)
            else col(f.name)
          }.toIndexedSeq: _*)
        }.reduce(_ unionByName _)
    }
    if (colMap.isEmpty)
      dvMaskOver(spark, dir, dvRefs, files,
        readFiles(spark, dir, files, schema))
    else {
      val logical = schema.getOrElse(throw new IllegalStateException(
        s"column mapping active under $dir but the manifest records no " +
          "schema — corrupt metadata"))
      val masked = dvMaskOver(spark, dir, dvRefs, files,
        readFiles(spark, dir, files, Some(physSchemaOf(colMap, logical))))
      toLogicalFrame(masked, colMap, logical)
    }
  }

  /** Serializes same-JVM committers. Commit atomicity rests on a
    * rename-that-fails-if-destination-exists — which HDFS-class
    * stores give and the LOCAL filesystem does NOT (Hadoop's local
    * create/rename are check-then-act; POSIX rename overwrites).
    * That is precisely the public "LogStore" contract of
    * manifest-log formats: multi-PROCESS commits need a store with
    * an atomic no-overwrite publish; on local filesystems this JVM
    * lock makes multi-THREAD commits (the local[32] reality) exact,
    * and cross-process local commits remain best-effort. */
  private val commitLock = new Object

  /** A full (checkpoint-form) manifest is written every this-many
    * commits; every other commit is a DELTA (adds/removes only). The
    * dial between commit cost (O(batch) for deltas) and read-side
    * replay length (≤ CheckpointEvery manifest reads, amortized away
    * by the state cache). */
  private val CheckpointEvery = 10L

  /** Checkpoints at or below this many files inline the complete
    * per-file maps (one self-contained JSON — simplest to read and
    * debug, and every small table stays in the format it always had);
    * above it they write SEGMENTED form. */
  private[sources] val SegmentInlineMax = 256

  /** Bound on a segmented checkpoint's segment-file count; crossing
    * it folds the smallest reusable segments into the commit's new
    * segment (log-structured merge, amortized O(batch·log)). */
  private val MaxSegments = 16

  /** Write one immutable checkpoint segment (content-atomic:
    * tmp + rename) holding the per-file maps of exactly `segFiles`.
    * Written BEFORE the manifest CAS — a lost commit race leaves an
    * orphan segment that [[vacuum]] age-GCs, never a dangling
    * reference. Returns the segment file name. */
  private def writeSegment(spark: SparkSession, dir: String, v: Long,
                           segFiles: Seq[String],
                           stats: Map[String, Map[String, ColStat]],
                           bloomRefs: Map[String, String],
                           sizes: Map[String, Long],
                           dvRefs: Map[String, String]): String = {
    val segSet = segFiles.toSet
    val root = new java.util.LinkedHashMap[String, Object]()
    val fj = new java.util.ArrayList[String]()
    segFiles.foreach(fj.add)
    root.put("files", fj)
    def putMap[A](field: String, m: Map[String, A])(js: A => Object): Unit = {
      val restricted = m.view.filterKeys(segSet).toMap
      if (restricted.nonEmpty) {
        val o = new java.util.LinkedHashMap[String, Object]()
        restricted.toSeq.sortBy(_._1).foreach { case (k, x) =>
          o.put(k, js(x)) }
        root.put(field, o)
      }
    }
    putMap("stats", stats) { cols =>
      val cj = new java.util.LinkedHashMap[String, Object]()
      cols.toSeq.sortBy(_._1).foreach { case (c, st) =>
        val a = new java.util.ArrayList[String]()
        a.add(st.tag); a.add(st.min); a.add(st.max)
        cj.put(c, a)
      }
      cj
    }
    putMap("bloomrefs", bloomRefs)(r => r)
    putMap("sizes", sizes)(n => java.lang.Long.valueOf(n))
    putMap("dvrefs", dvRefs)(r => r)
    val name = s"seg-v$v-${java.util.UUID.randomUUID()}.json"
    val f = fs(spark, dir)
    f.mkdirs(manifestDir(dir))
    TableIO.atomicWriteText(f, new Path(manifestDir(dir), name),
      mapper.writeValueAsString(root))
    name
  }

  /** THE commit loop — every committing operation runs through it.
    * Each attempt resolves the head once (`latestVersion`, then its
    * state — None for a table with no commits) and hands it to
    * `next`, which runs the operation's conflict checks and returns
    * the complete state to publish as the next version, or None for a
    * no-op (a replayed transaction, nothing left to change) — returned
    * as-is. A lost publish race re-resolves the new head and retries.
    * `op` names the operation in errors; `recordAs` overrides the op
    * recorded in the manifest. */
  private def commitLoop(spark: SparkSession, dir: String, op: String,
                         maxRetries: Int, recordAs: Option[String] = None)
                        (next: Option[TableState] => Option[TableState]
                        ): Option[Long] = {
    var attempt = 0
    while (attempt < maxRetries) {
      val base = latestVersion(spark, dir)
      val parent = base.map(stateOf(spark, dir, _))
      val v = base.fold(0L)(_ + 1)
      next(parent) match {
        case None => return None
        case Some(target) =>
          if (tryCommit(spark, dir, v, parent, target, recordAs.getOrElse(op)))
            return Some(v)
      }
      attempt += 1 // lost the race: re-read the new head and retry
    }
    throw new java.io.IOException(
      s"$op: lost the commit race $maxRetries times under $dir")
  }

  /** The head state for an operation that needs a committed table. */
  private def headState(st: Option[TableState], op: String,
                        dir: String): TableState =
    st.getOrElse(throw new java.io.IOException(
      s"$op: no committed version under $dir"))

  /** True when `st`'s ledger already holds `txn` (or a later version
    * of its app id): the exactly-once writer's replay no-op. */
  private def replayed(st: TableState,
                       txn: Option[(String, Long)]): Boolean =
    txn.exists { case (appId, tv) =>
      st.txns.getOrElse(appId, Long.MinValue) >= tv }

  /** `st` under a batch's column-mapping claim (the possibly extended
    * mapping its files were written with). */
  private def withClaim(st: TableState, claim: Option[MapClaim]): TableState =
    claim.fold(st)(c => st.copy(colMap = c.colMap, retired = c.retired))

  /** Try to publish `target` — the COMPLETE next state — as version
    * `v` on top of `parent` (the state at v-1, None for v0). True iff
    * this writer won the publish race for v<N>. What lands on disk is
    * a DELTA against the parent (adds/removes + adds' stats/bloom refs
    * — O(batch) bytes) except every [[CheckpointEvery]]-th version and
    * v0, which write the full checkpoint form; readers reconstruct via
    * [[stateOf]]. Column defaults PRUNE to the target's live files
    * here: a rewritten pre-ADD file materialized its default, so its
    * entry (and, eventually, the whole column's) retires.
    * Content-atomic: the body is fully written to a hidden temp file,
    * then renamed into place — a reader can never observe a
    * partially-written manifest. */
  private def tryCommit(spark: SparkSession, dir: String, v: Long,
                        parent: Option[TableState], target: TableState,
                        op: String): Boolean = commitLock.synchronized {
    val f = fs(spark, dir)
    f.mkdirs(manifestDir(dir))
    val path = manifestPath(dir, v)
    if (f.exists(path)) return false
    val live = target.files.toSet
    val pruned = target.copy(defaults = target.defaults
      .map { case (c, (dv, pre)) => c -> (dv, pre.intersect(live)) }
      .filter(_._2._2.nonEmpty))
    val full = v == 0L || v % CheckpointEvery == 0L
    TableIO.createTextExclusive(f, path,
      manifestBody(spark, dir, v, parent, pruned, full, op))
  }

  /** Serialize `target` as manifest v — full checkpoint form, or a
    * delta against `parent` (the already committed, hence stable,
    * state at v-1). A full checkpoint uses `parent` only to reuse its
    * unchanged segments. The target's resolution-only fields
    * (`segments`, `dvDirty`, `legacyBlooms`) are never written. */
  private def manifestBody(spark: SparkSession, dir: String, v: Long,
                           parent: Option[TableState], target: TableState,
                           full: Boolean, op: String,
                           tsOverride: Option[Long] = None,
                           stampTs: Boolean = true): String = {
    import target.{bloomCols, bloomRefs, bucket, colMap, constraints,
      defaults, dvRefs, files, props, retired, schema, sizes, stats, txns}
    val root = new java.util.LinkedHashMap[String, Object]()
    root.put("version", java.lang.Long.valueOf(v))
    // Commit wall-clock — what TIMESTAMP AS OF resolves against
    // (monotonicity-adjusted at read time, see [[commitTimeline]]).
    // tsOverride preserves the ORIGINAL stamp when vacuum rewrites
    // the keepFrom manifest in checkpoint form — and a rewrite of a
    // LEGACY stampless manifest must stay stampless (stampTs = false):
    // stamping it "now" would adjust every later version past the
    // vacuum time and corrupt historical resolution.
    tsOverride match {
      case Some(t) => root.put("ts", java.lang.Long.valueOf(t))
      case None if stampTs =>
        root.put("ts", java.lang.Long.valueOf(System.currentTimeMillis()))
      case None => // legacy rewrite: omit, commitTimeline floors it
    }
    root.put("op", op)
    schema.foreach(st => root.put("schema", mapper.readTree(st.json)))
    bucket.foreach { b =>
      val bj = new java.util.LinkedHashMap[String, Object]()
      bj.put("n", java.lang.Integer.valueOf(b.numBuckets))
      val cj = new java.util.ArrayList[String]()
      b.cols.foreach(cj.add)
      bj.put("cols", cj)
      if (b.sortCols.nonEmpty) {
        val sj = new java.util.ArrayList[String]()
        b.sortCols.foreach(sj.add)
        bj.put("sort", sj)
      }
      root.put("bucket", bj)
    }
    val tj = new java.util.LinkedHashMap[String, Object]()
    txns.toSeq.sortBy(_._1).foreach { case (a, tv) =>
      tj.put(a, java.lang.Long.valueOf(tv)) }
    root.put("txns", tj)
    val fileSet = files.toSet
    // Only stats/refs of committed files: a retry loop may carry maps
    // from a superseded read — intersect, never invent.
    def putStats(m: Map[String, Map[String, ColStat]]): Unit =
      if (m.nonEmpty) {
        val sj = new java.util.LinkedHashMap[String, Object]()
        m.toSeq.sortBy(_._1).foreach { case (file, cols) =>
          val cj = new java.util.LinkedHashMap[String, Object]()
          cols.toSeq.sortBy(_._1).foreach { case (c, st) =>
            val a = new java.util.ArrayList[String]()
            a.add(st.tag); a.add(st.min); a.add(st.max)
            cj.put(c, a)
          }
          sj.put(file, cj)
        }
        root.put("stats", sj)
      }
    def putRefMap(field: String, m: Map[String, String]): Unit =
      if (m.nonEmpty) {
        val bj = new java.util.LinkedHashMap[String, Object]()
        m.toSeq.sortBy(_._1).foreach { case (file, ref) => bj.put(file, ref) }
        root.put(field, bj)
      }
    def putRefs(m: Map[String, String]): Unit = putRefMap("bloomrefs", m)
    // Per-file byte sizes: planners (SnapshotFileIndex, compact) read
    // them from the manifest instead of paying one filesystem RPC per
    // file — the manifest-only-planning property object stores need.
    def putSizes(m: Map[String, Long]): Unit =
      if (m.nonEmpty) {
        val zj = new java.util.LinkedHashMap[String, Object]()
        m.toSeq.sortBy(_._1).foreach { case (file, n) =>
          zj.put(file, java.lang.Long.valueOf(n)) }
        root.put("sizes", zj)
      }
    if (bloomCols.nonEmpty) {
      val cj = new java.util.ArrayList[String]()
      bloomCols.distinct.sorted.foreach(cj.add)
      root.put("bloomcols", cj)
    }
    def putConstraints(m: Map[String, String]): Unit = {
      val cj = new java.util.LinkedHashMap[String, Object]()
      m.toSeq.sortBy(_._1).foreach { case (nm, sql) => cj.put(nm, sql) }
      root.put("constraints", cj)
    }
    // Column mapping: `colmap` (sparse logical→physical) + `retired`
    // (dropped physical names). An explicit EMPTY colmap object is a
    // clear (rename-back-to-identity); absence inherits in deltas.
    def putColMap(): Unit = {
      val mj = new java.util.LinkedHashMap[String, Object]()
      colMap.toSeq.sortBy(_._1).foreach { case (l, p) => mj.put(l, p) }
      root.put("colmap", mj)
      if (retired.nonEmpty) {
        val rj = new java.util.ArrayList[String]()
        retired.foreach(rj.add)
        root.put("retired", rj)
      }
    }
    def putProps(m: Map[String, String]): Unit = {
      val pj = new java.util.LinkedHashMap[String, Object]()
      m.toSeq.sortBy(_._1).foreach { case (k, v2) => pj.put(k, v2) }
      root.put("props", pj)
    }
    def putDefaults(m: Map[String, (String, Set[String])]): Unit = {
      val dj = new java.util.LinkedHashMap[String, Object]()
      m.toSeq.sortBy(_._1).foreach { case (c, (dv, pre)) =>
        val ej = new java.util.LinkedHashMap[String, Object]()
        ej.put("v", dv)
        val fj = new java.util.ArrayList[String]()
        pre.toSeq.sorted.foreach(fj.add)
        ej.put("files", fj)
        dj.put(c, ej)
      }
      root.put("defaults", dj)
    }
    if (full) { if (constraints.nonEmpty) putConstraints(constraints) }
    if (full) { if (colMap.nonEmpty || retired.nonEmpty) putColMap() }
    if (full) { if (props.nonEmpty) putProps(props) }
    if (full) { if (defaults.nonEmpty) putDefaults(defaults) }
    if (full && files.size > SegmentInlineMax) {
      // SEGMENTED checkpoint — the 100 TB commit-cost answer (the
      // public Iceberg manifest-list design): the checkpoint
      // references immutable SEGMENT files instead of inlining the
      // complete per-file maps. Segments of the previous checkpoint
      // whose files all survive (and carry no overridden deletion
      // vector) are referenced AS-IS — zero bytes rewritten; only the
      // batch's new files plus the survivors of broken segments land
      // in one new segment. A commit's manifest write is therefore
      // O(batch + churn), never O(table). Segment count is bounded by
      // folding the smallest reusable segments into the new one
      // (log-structured merging — amortized O(batch·log) bytes).
      val parentSegs = parent.map(_.segments).getOrElse(Nil)
      val dirty = parent.map(p => p.dvDirty ++
        files.filter(f => dvRefs.get(f) != p.dvRefs.get(f)))
        .getOrElse(Set.empty[String])
      var keep = parentSegs.filter { case (_, segFiles) =>
        segFiles.nonEmpty &&
          segFiles.forall(f => fileSet(f) && !dirty(f)) }
      val covered = keep.iterator.flatMap(_._2).toSet
      var fold = files.filterNot(covered)
      while (keep.size + 1 > MaxSegments) {
        val smallest = keep.minBy { case (nm, fs2) => (fs2.size, nm) }
        keep = keep.filterNot(_ == smallest)
        fold = fold ++ smallest._2
      }
      val segNames = keep.map(_._1) ++ (
        if (fold.nonEmpty)
          Seq(writeSegment(spark, dir, v, fold.sorted,
            stats.view.filterKeys(fileSet).toMap,
            bloomRefs.view.filterKeys(fileSet).toMap,
            sizes.view.filterKeys(fileSet).toMap,
            dvRefs.view.filterKeys(fileSet).toMap))
        else Nil)
      val sj = new java.util.ArrayList[String]()
      segNames.foreach(sj.add)
      root.put("segments", sj)
    } else if (full) {
      val fj = new java.util.ArrayList[String]()
      files.sorted.foreach(fj.add)
      root.put("files", fj)
      putStats(stats.view.filterKeys(fileSet).toMap)
      putRefs(bloomRefs.view.filterKeys(fileSet).toMap)
      putSizes(sizes.view.filterKeys(fileSet).toMap)
      putRefMap("dvrefs", dvRefs.view.filterKeys(fileSet).toMap)
    } else {
      val base = parent.get // v > 0: the commit resolved v-1
      val parentSet = base.files.toSet
      val adds = files.filterNot(parentSet)
      val removes = base.files.filterNot(fileSet)
      val aj = new java.util.ArrayList[String]()
      adds.sorted.foreach(aj.add)
      root.put("adds", aj)
      val rj = new java.util.ArrayList[String]()
      removes.sorted.foreach(rj.add)
      root.put("removes", rj)
      putStats(stats.view.filterKeys(adds.toSet).toMap)
      putRefs(bloomRefs.view.filterKeys(adds.toSet).toMap)
      putSizes(sizes.view.filterKeys(adds.toSet).toMap)
      // dv refs in a delta are per-file OVERRIDES — record exactly
      // the entries that changed vs the parent (new files' vectors
      // and MoR-superseded vectors of carried files).
      putRefMap("dvrefs", dvRefs.view.filterKeys(fileSet)
        .filter { case (f, r) => !base.dvRefs.get(f).contains(r) }.toMap)
      // A CARRIED file whose vector is DROPPED (restore to a
      // pre-vector version) needs an explicit remove record — an
      // override map alone can't say "no vector anymore".
      val dvRemoves = base.files.filter(f => fileSet(f) &&
        base.dvRefs.contains(f) && !dvRefs.contains(f)).sorted
      if (dvRemoves.nonEmpty) {
        val dj = new java.util.ArrayList[String]()
        dvRemoves.foreach(dj.add)
        root.put("dvremoves", dj)
      }
      // constraints in a delta only when the set CHANGED — a
      // present-but-empty object is an explicit clear, absence
      // inherits (see deltaState).
      if (constraints != base.constraints) putConstraints(constraints)
      // column mapping in a delta only when it CHANGED (same
      // discipline: present = replace, explicit-empty = clear).
      if (colMap != base.colMap || retired != base.retired) putColMap()
      // properties: same change-only discipline. No reader feature
      // guard — props never change READ semantics, only write routing.
      if (props != base.props) putProps(props)
      // column defaults: change-only (present = replace, explicit
      // empty = clear — the last-pre-file-rewritten case)
      if (defaults != base.defaults) putDefaults(defaults)
    }
    // Stamp exactly the reader features this manifest's resolution
    // depends on (see [[SupportedFeatures]]); a plain manifest stays
    // list-free and readable by every release. "dv" must key off the
    // EFFECTIVE refs, not the root key — a segmented checkpoint's
    // vectors live inside segment files (a segments-capable but
    // DV-unaware reader would otherwise pass the guard and resurrect
    // masked rows).
    val usesDv = root.containsKey("dvrefs") ||
      (full && dvRefs.view.filterKeys(fileSet).nonEmpty)
    // "colmap" guards only manifests that RECORD a live mapping: a
    // reader unaware of it would serve physical column names (or
    // resurrect dropped columns). An explicit-empty clear needs no
    // guard — identity is what a legacy reader assumes anyway.
    val usesColMap = (root.containsKey("colmap") ||
      root.containsKey("retired")) && (colMap.nonEmpty || retired.nonEmpty)
    // "defaults" keys off the EFFECTIVE map (the dv discipline): a
    // reader unaware of initial defaults would serve NULL where the
    // table's contract says the default value.
    val feats = Seq("segments", "dvremoves", "constraints",
      "bucket").filter(root.containsKey) ++
      (if (usesDv) Seq("dv") else Nil) ++
      (if (usesColMap) Seq("colmap") else Nil) ++
      (if (defaults.nonEmpty) Seq("defaults") else Nil)
    if (feats.nonEmpty) {
      val fj = new java.util.ArrayList[String]()
      feats.foreach(fj.add)
      root.put("features", fj)
    }
    mapper.writeValueAsString(root)
  }

  // ------------------------------------------------------------------
  // Column stats (data skipping)
  // ------------------------------------------------------------------

  /** Comparison-domain tag for a stats-eligible type; None = the
    * column type carries no file-skipping stats (complex/binary). */
  private def statTag(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | _: DecimalType => Some("num")
    case StringType => Some("str")
    case DateType => Some("date")
    case TimestampType | TimestampNTZType => Some("ts")
    case _ => None
  }

  /** Canonical stored form of a min/max value in its tag domain. */
  private def statStr(tag: String, v: Any): String = (tag, v) match {
    case ("date", d: java.sql.Date) => d.toLocalDate.toEpochDay.toString
    case ("date", d: java.time.LocalDate) => d.toEpochDay.toString
    case ("ts", t: java.sql.Timestamp) =>
      (t.getTime * 1000L + (t.getNanos / 1000) % 1000).toString
    case ("ts", t: java.time.LocalDateTime) =>
      (t.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L +
        t.getNano / 1000).toString
    case ("ts", t: java.time.Instant) =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case (_, x) => x.toString
  }

  /** A user-supplied predicate bound, canonicalized into `tag`'s
    * domain; None = not canonicalizable → caller must include the
    * file (pruning stays conservative). */
  private def canonBound(tag: String, v: Any): Option[String] =
    scala.util.Try {
      tag match {
        case "str" => v.toString
        case "num" => new java.math.BigDecimal(v.toString).toString
        case "date" => v match {
          case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
          case d: java.time.LocalDate => d.toEpochDay.toString
          case s: String => java.time.LocalDate.parse(s).toEpochDay.toString
          case n: Number => n.toString
        }
        case "ts" => v match {
          case t: java.sql.Timestamp => statStr("ts", t)
          case t: java.time.Instant => statStr("ts", t)
          case s: String => statStr("ts", java.sql.Timestamp.valueOf(s))
          case n: Number => n.toString
        }
      }
    }.toOption

  /** Domain compare of two stored stat strings; None on parse failure
    * (→ un-prunable). String bounds compare by UNSIGNED UTF-8 byte
    * order — Spark's min/max over strings is UTF8String binary order
    * (code-POINT order), while Java's String.compareTo is UTF-16
    * code-UNIT order; the two diverge for strings mixing
    * supplementary characters with [U+E000, U+FFFF]. A mismatched
    * comparator here would let pruneFiles skip a file that contains
    * matching rows — silent wrong results — so the probe must use the
    * same order the stored bounds were computed in. */
  private def statCompare(tag: String, a: String, b: String): Option[Int] =
    scala.util.Try {
      if (tag == "str") {
        val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val n = math.min(x.length, y.length)
        var i = 0
        var r = 0
        while (r == 0 && i < n) {
          r = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
          i += 1
        }
        if (r != 0) r else java.lang.Integer.compare(x.length, y.length)
      }
      else new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    }.toOption

  /** Canonical manifest key for a data file: files under THIS table's
    * `data/` store relative (`data/<batch>/...` — survives moving the
    * table directory); anything else (a [[shallowClone]]'s references
    * into its source table) stores as the scheme-less absolute path.
    * `input_file_name()` URIs and `Path.toString` forms normalize to
    * the same key through `Path.toUri.getPath`. */
  private def manifestKey(dir: String, uri: String): String = {
    val p = new Path(uri).toUri.getPath
    val prefix = new Path(dir).toUri.getPath + "/data/"
    if (p.startsWith(prefix)) "data/" + p.stripPrefix(prefix) else p
  }

  /** Reserved per-file stats pseudo-column carrying the file's ROW
    * COUNT (min == max == count, tag "num"): counts ride the existing
    * stats plumbing — delta manifests, segmented checkpoints,
    * rewrites, restore, clone — with zero new manifest machinery, and
    * [[countRows]] answers COUNT(*) from metadata alone. Real columns
    * can never collide (Spark rejects leading-__ names nowhere, but
    * the stats tracking filters to batch columns, and the name is
    * documented reserved). */
  private[graft] val RowsCol = "__rows"

  /** Per-file row counts from the parquet FOOTERS of freshly written
    * files — driver-side metadata reads (no executor job, no data
    * pages): the count every parquet file already carries. Shaped as
    * [[RowsCol]] pseudo-stats for direct merging into a batch's stats
    * map. */
  private def footerRowCounts(spark: SparkSession, dir: String,
                              statuses: Seq[FileStatus]
                             ): Map[String, Map[String, ColStat]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    statuses.map { st =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      val cnt = try rd.getRecordCount finally rd.close()
      manifestKey(dir, st.getPath.toString) ->
        Map(RowsCol -> ColStat("num", cnt.toString, cnt.toString))
    }.toMap
  }

  /** One column chunk's (tag, min, max) rendered EXACTLY as
    * [[computeStats]]/[[statStr]] would render the same values, or
    * Left(()) when the column's physical encoding carries no usable
    * footer statistics (INT96 timestamps — Spark's default parquet
    * timestamp encoding — and any exotic annotation), or Right(None)
    * when this chunk's statistics are absent/empty (conservative:
    * the file simply stays un-prunable on the column).
    *
    * Order-compatibility is the load-bearing fact: parquet footer
    * min/max for UTF8 binary use UNSIGNED byte order — the SAME order
    * Spark's min/max over strings (UTF8String binary order) and this
    * manifest's [[statCompare]] use — and numeric/date/ts chunk stats
    * are exact typed values, so footer bounds are valid [min,max]
    * bounds in every stat domain pruning compares in. */
  private def chunkStat(
      ccmd: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
     ): Either[Unit, Option[(String, String, String)]] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    val pt = ccmd.getPrimitiveType
    val ann = pt.getLogicalTypeAnnotation
    // tag + renderer from the parquet type itself (self-contained:
    // works for every writer in this file without threading schemas)
    val render: Either[Unit, (String, Any => String)] =
      (pt.getPrimitiveTypeName, ann) match {
        case (INT96, _) => Left(())                 // no usable stats
        case (_, d: DecimalLogicalTypeAnnotation) =>
          val scale = d.getScale
          Right(("num", {
            case i: java.lang.Integer =>
              java.math.BigDecimal.valueOf(i.longValue, scale).toString
            case l: java.lang.Long =>
              java.math.BigDecimal.valueOf(l, scale).toString
            case b: org.apache.parquet.io.api.Binary =>
              new java.math.BigDecimal(
                new java.math.BigInteger(b.getBytes), scale).toString
            case x => x.toString
          }))
        case (INT32, _: DateLogicalTypeAnnotation) =>
          Right(("date", _.toString))
        case (INT64, t: TimestampLogicalTypeAnnotation)
            if t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
          Right(("ts", _.toString))
        case (INT64, _: TimestampLogicalTypeAnnotation) => Left(())
        case (BINARY, _: StringLogicalTypeAnnotation) =>
          Right(("str", {
            case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
            case x => x.toString
          }))
        case (INT32 | INT64, null) => Right(("num", _.toString))
        case (INT32 | INT64, _: IntLogicalTypeAnnotation) =>
          Right(("num", _.toString))
        case (FLOAT | DOUBLE, _) => Right(("num", _.toString))
        case _ => Left(())
      }
    render.map { case (tag, r) =>
      val st = ccmd.getStatistics
      if (st == null || st.isEmpty || !st.hasNonNullValue) None
      else scala.util.Try(
        (tag, r(st.genericGetMin), r(st.genericGetMax))).toOption
    }
  }

  /** Per-file min/max of `statsCols` (PHYSICAL names) plus [[RowsCol]]
    * counts, read from the parquet FOOTERS of freshly written files —
    * the metadata the write already produced, so the batch is never
    * re-scanned for stats (guide §6: use file metadata, don't re-read
    * data). Returns the stats map and the set of requested columns
    * whose encoding carries no footer stats (INT96 timestamps) — the
    * caller routes exactly those through the scan-based path.
    * A chunk with absent/all-null statistics just drops the column
    * for that file: stats can only ever SKIP a provably-unmatching
    * file, so absence is always safe. */
  private def footerSummaries(spark: SparkSession, dir: String,
                              statuses: Seq[FileStatus],
                              statsCols: Seq[String]
                             ): (Map[String, Map[String, ColStat]],
                                 Set[String]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val wanted = statsCols.distinct
    // Name resolution mirrors the session's analyzer: the scan-based
    // path this replaced resolved stat columns case-insensitively
    // under the default resolver, so a statsCol differing only in
    // case from the file's physical name must keep its stats here
    // too. Exact match wins; a unique case-insensitive match is
    // accepted when spark.sql.caseSensitive is false; an ambiguous
    // one drops the column for the file (pruning-only, safe).
    val caseInsensitive = !spark.sessionState.conf.caseSensitiveAnalysis
    val unsupported =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // Footer opens are independent metadata reads — overlap them
    // (bounded pool; a 32-file batch's serial opens were ~100ms of
    // driver wall per commit).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, math.max(1, statuses.length)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val perFileFutures = statuses.map { st =>
      scala.concurrent.Future {
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try {
        val cnt = rd.getRecordCount
        val blocks = rd.getFooter.getBlocks
        // per column: fold chunk stats across row groups in the stat
        // domain; any unusable chunk drops the column for this file
        val colStats = wanted.flatMap { c =>
          var tag: String = null
          var mn: String = null
          var mx: String = null
          var ok = true
          val it = blocks.iterator()
          while (ok && it.hasNext) {
            val block = it.next()
            if (block.getRowCount > 0) {
              val chunk = {
                val cit = block.getColumns.iterator()
                var exact: org.apache.parquet.hadoop.metadata
                  .ColumnChunkMetaData = null
                var ci: org.apache.parquet.hadoop.metadata
                  .ColumnChunkMetaData = null
                var ciAmbiguous = false
                while (exact == null && cit.hasNext) {
                  val cc = cit.next()
                  if (cc.getPath.size == 1) {
                    val n = cc.getPath.toDotString
                    if (n == c) exact = cc
                    else if (caseInsensitive && n.equalsIgnoreCase(c)) {
                      if (ci == null) ci = cc else ciAmbiguous = true
                    }
                  }
                }
                if (exact != null) exact
                else if (ciAmbiguous) null
                else ci
              }
              if (chunk == null) ok = false
              else chunkStat(chunk) match {
                case Left(()) => unsupported.add(c); ok = false
                case Right(None) => ok = false
                case Right(Some((t, lo, hi))) =>
                  if (tag == null) { tag = t; mn = lo; mx = hi }
                  else if (tag != t) ok = false
                  else {
                    (statCompare(tag, lo, mn), statCompare(tag, hi, mx)) match {
                      case (Some(a), Some(b)) =>
                        if (a < 0) mn = lo
                        if (b > 0) mx = hi
                      case _ => ok = false
                    }
                  }
              }
            }
          }
          if (ok && tag != null) Some(c -> ColStat(tag, mn, mx)) else None
        }.toMap
        manifestKey(dir, st.getPath.toString) ->
          (colStats + (RowsCol -> ColStat("num", cnt.toString, cnt.toString)))
      } finally rd.close()
      }
    }
    val perFile =
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(perFileFutures),
        scala.concurrent.duration.Duration.Inf).toMap
      finally pool.shutdown()
    import scala.jdk.CollectionConverters._
    val unsup = unsupported.asScala.toSet
    // a column that fell back to the scan must not ALSO carry partial
    // footer entries (the scan result is authoritative for it)
    val cleaned =
      if (unsup.isEmpty) perFile
      else perFile.view.mapValues(_.filterNot(kv => unsup(kv._1))).toMap
    (cleaned, unsup)
  }

  /** The one batch-summary entry point every committer uses: footer
    * stats + row counts in ONE footer pass per file (no executor job,
    * no data re-read), with the scan-based [[batchSummaries]] retained
    * for exactly (a) Bloom bitsets — data-dependent by nature — and
    * (b) stat columns whose parquet encoding has no usable footer
    * statistics (INT96 timestamps). A stats-only table therefore
    * commits with ZERO post-write jobs; before this, every append and
    * every CoW rewrite re-read every byte it had just written. */
  private def summarizeBatch(spark: SparkSession, dir: String,
                             batchDir: Path, listed: Seq[FileStatus],
                             statsCols: Seq[String],
                             bloomCols: Seq[String], strictBlooms: Boolean
                            ): (Map[String, Map[String, ColStat]],
                                Map[String, Map[String, Array[Byte]]]) = {
    val (footer, scanCols) =
      footerSummaries(spark, dir, listed, statsCols)
    val (scanStats, blooms) = batchSummaries(spark, batchDir,
      scanCols.toSeq, bloomCols, strictBlooms)
    (withRowCounts(scanStats, footer), blooms)
  }

  /** Outer per-file merge of a batch's column stats with its
    * [[RowsCol]] counts (computeStats drops stat-less files; counts
    * cover every file). */
  private def withRowCounts(stats: Map[String, Map[String, ColStat]],
                            rows: Map[String, Map[String, ColStat]]
                           ): Map[String, Map[String, ColStat]] =
    (stats.keySet ++ rows.keySet).iterator.map(f =>
      f -> (stats.getOrElse(f, Map.empty) ++ rows.getOrElse(f, Map.empty))
    ).toMap

  /** Per-file min/max of `statsCols` for every parquet file under
    * `batchDir` — ONE column-pruned scan of the freshly written batch,
    * aggregated per input file. The collect is file-count-bounded
    * control-plane (one row per written file). */
  private def computeStats(spark: SparkSession, batchDir: Path,
                           statsCols: Seq[String]
                          ): Map[String, Map[String, ColStat]] = {
    if (statsCols.isEmpty) return Map.empty
    val df = spark.read.parquet(batchDir.toString)
    val typed = statsCols.distinct
      .filter(df.columns.contains)
      .flatMap(c => statTag(df.schema(c).dataType).map(c -> _))
    if (typed.isEmpty) return Map.empty
    val aggs = typed.flatMap { case (c, _) =>
      Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c")) }
    val rows = df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val tableDir = batchDir.getParent.getParent.toString
    rows.flatMap { r =>
      val rel = manifestKey(tableDir, r.getString(0))
      val cols = typed.flatMap { case (c, tag) =>
        val mn = r.getAs[Any](s"__mn_$c"); val mx = r.getAs[Any](s"__mx_$c")
        if (mn == null || mx == null) None
        else Some(c -> ColStat(tag, statStr(tag, mn), statStr(tag, mx)))
      }.toMap
      if (cols.isEmpty) None else Some(rel -> cols)
    }.toMap
  }

  /** Bloom sizing — part of the on-disk contract (a committed bitset
    * is only probeable at the same m and k). 16384 bits / 6 probes:
    * ~2 KB per (file, column), FPR ≈ 2% at ~2000 distinct keys per
    * file; size m up with file row counts (FPR only ever costs a
    * wasted file open, never a missed row). */
  private val BloomBits = 16384
  private val BloomProbes = 6

  /** Only string and integral columns may carry Bloom bitsets: for
    * exactly these types, the build side's `CAST(col AS STRING)` and
    * the probe side's JVM `value.toString` render identically. Other
    * types (timestamp/date/decimal/floating) have diverging renderings
    * (e.g. java.sql.Timestamp.toString appends ".0" where Spark's cast
    * does not), which would make the probe FALSE-NEGATIVE — silently
    * skipping files that contain matching rows. */
  private def bloomEligible(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Per-file Bloom bitsets of `bloomCols` over the freshly written
    * batch — same one-scan shape as [[computeStats]]. The key is the
    * column CAST TO STRING: exactly reproducible on the probe side via
    * `value.toString` for the [[bloomEligible]] (string/integral)
    * point-lookup types, which are REQUIRED at build time. */
  private def computeBlooms(spark: SparkSession, batchDir: Path,
                            bloomCols: Seq[String],
                            strict: Boolean = true
                           ): Map[String, Map[String, Array[Byte]]] = {
    if (bloomCols.isEmpty) return Map.empty
    val df = spark.read.parquet(batchDir.toString)
    // strict (user-supplied bloomCols on a NEW write): an ineligible
    // column is a caller error — fail loudly. Non-strict (rewrite
    // paths re-tracking a table's RECORDED bloom columns): a legacy
    // manifest may track a column the eligibility rules have since
    // rejected; drop it rather than wedge every compact/delete/merge
    // of a pre-r7 table.
    val (ok, dropped) = bloomCols.distinct.filter(df.columns.contains)
      .partition(c => bloomEligible(df.schema(c).dataType))
    dropped.foreach { c =>
      require(!strict,
        s"bloomCols: column $c (${df.schema(c).dataType.simpleString}) is " +
          "not bloom-eligible; only string and integral key columns probe " +
          "consistently (build casts to string, probe renders via toString)")
      // (non-strict) un-track: the column simply stops carrying
      // bitsets for the rewritten files — pruning degrades,
      // correctness does not.
    }
    val present = ok
    if (present.isEmpty) return Map.empty
    val aggs = present.map { c =>
      graft.plans.GraftFunctions.bloomFilterBits(
        col(c).cast("string"), BloomBits, BloomProbes).as(s"__bf_$c") }
    val rows = df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val tableDir = batchDir.getParent.getParent.toString
    rows.map { r =>
      manifestKey(tableDir, r.getString(0)) ->
        present.map(c => c -> r.getAs[Array[Byte]](s"__bf_$c")).toMap
    }.toMap
  }

  /** [[computeStats]] + [[computeBlooms]] fused into ONE scan of the
    * freshly written batch: both are per-input-file aggregations over
    * the same files, so computing them separately pays a second full
    * read of every byte just written — on a stats+Bloom table that
    * second pass is pure waste on every append and every CoW rewrite.
    * The fused plan aggregates min/max and bitsets in one
    * groupBy(input_file_name); semantics (type filtering, bloom
    * eligibility, strictness) are exactly the two helpers', which
    * remain for single-summary callers. */
  private def batchSummaries(spark: SparkSession, batchDir: Path,
                             statsCols: Seq[String],
                             bloomCols: Seq[String],
                             strictBlooms: Boolean
                            ): (Map[String, Map[String, ColStat]],
                                Map[String, Map[String, Array[Byte]]]) = {
    if (statsCols.isEmpty || bloomCols.isEmpty)
      return (computeStats(spark, batchDir, statsCols),
        computeBlooms(spark, batchDir, bloomCols, strictBlooms))
    val df = spark.read.parquet(batchDir.toString)
    val typed = statsCols.distinct
      .filter(df.columns.contains)
      .flatMap(c => statTag(df.schema(c).dataType).map(c -> _))
    val (bOk, bDropped) = bloomCols.distinct.filter(df.columns.contains)
      .partition(c => bloomEligible(df.schema(c).dataType))
    bDropped.foreach { c =>
      require(!strictBlooms,
        s"bloomCols: column $c (${df.schema(c).dataType.simpleString}) is " +
          "not bloom-eligible; only string and integral key columns probe " +
          "consistently (build casts to string, probe renders via toString)")
    }
    if (typed.isEmpty && bOk.isEmpty) return (Map.empty, Map.empty)
    val aggs =
      typed.flatMap { case (c, _) =>
        Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c")) } ++
      bOk.map { c =>
        graft.plans.GraftFunctions.bloomFilterBits(
          col(c).cast("string"), BloomBits, BloomProbes).as(s"__bf_$c") }
    val rows = df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val tableDir = batchDir.getParent.getParent.toString
    val stats = rows.flatMap { r =>
      val rel = manifestKey(tableDir, r.getString(0))
      val cols = typed.flatMap { case (c, tag) =>
        val mn = r.getAs[Any](s"__mn_$c"); val mx = r.getAs[Any](s"__mx_$c")
        if (mn == null || mx == null) None
        else Some(c -> ColStat(tag, statStr(tag, mn), statStr(tag, mx)))
      }.toMap
      if (cols.isEmpty) None else Some(rel -> cols)
    }.toMap
    val blooms =
      if (bOk.isEmpty) Map.empty[String, Map[String, Array[Byte]]]
      else rows.map { r =>
        manifestKey(tableDir, r.getString(0)) ->
          bOk.map(c => c -> r.getAs[Array[Byte]](s"__bf_$c")).toMap
      }.toMap
    (stats, blooms)
  }

  /** Driver-side probe of a manifest bitset (see
    * [[graft.plans.BloomFilterBits.mightContain]]). */
  private def bloomMightContain(bits: Array[Byte], value: Any): Boolean =
    graft.plans.BloomFilterBits.mightContain(bits, value.toString, BloomProbes)

  // ------------------------------------------------------------------
  // Writes
  // ------------------------------------------------------------------

  /** The caller's stats/bloom column lists unioned with the table's
    * already-TRACKED ones (filtered to columns the batch actually
    * carries): stats and Bloom tracking are TABLE POLICY, not
    * per-call options — one writer that forgets `statsCols` must not
    * silently strip file-skipping from every file it lands (at 100 TB
    * that's an unprunable stripe in the middle of the table, invisible
    * until someone profiles the scans). Caller-passed bloom columns
    * keep the strict eligibility check here (a typo fails loudly);
    * the downstream compute runs non-strict so INHERITED legacy
    * columns degrade instead of wedging the append. */
  private def inheritTracking(spark: SparkSession, dir: String,
                              df: DataFrame, statsCols: Seq[String],
                              bloomCols: Seq[String])
      : (Seq[String], Seq[String]) = {
    bloomCols.filter(df.columns.contains).foreach { c =>
      require(bloomEligible(df.schema(c).dataType),
        s"bloomCols: column $c (${df.schema(c).dataType.simpleString}) is " +
          "not bloom-eligible; only string and integral key columns probe " +
          "consistently (build casts to string, probe renders via toString)")
    }
    val base = latestVersion(spark, dir)
    // Tracked lists are recorded in PHYSICAL names; caller-supplied
    // columns arrive LOGICAL — translate before merging, and filter
    // inherited columns by the batch's PHYSICAL field set.
    val cm = base.map(stateOf(spark, dir, _).colMap).getOrElse(Map.empty)
    val fields = df.schema.fieldNames.map(physName(cm, _)).toSet
    val ts = base.map(trackedStatsCols(spark, dir, _)).getOrElse(Nil)
    val tb = base.map(trackedBloomCols(spark, dir, _)).getOrElse(Nil)
    ((statsCols.map(physName(cm, _)) ++ ts.filter(fields)).distinct,
      (bloomCols.map(physName(cm, _)) ++ tb.filter(fields)).distinct)
  }

  /** Append `df` as a new snapshot: write data files under a unique
    * subdir of `data/`, then commit previous files + new files with
    * the optimistic retry loop. `statsCols` names columns whose
    * per-file min/max land in the manifest for [[readWhere]] skipping
    * — and tracking INHERITS: columns any prior commit tracked are
    * tracked for this batch too (see [[inheritTracking]]).
    * Returns the committed version. */
  def append(df: DataFrame, dir: String, statsCols: Seq[String] = Nil,
             bloomCols: Seq[String] = Nil, maxRetries: Int = 20): Long = {
    val spark = df.sparkSession
    // Pre-flight evolution check BEFORE the data write: a type
    // conflict must not cost a doomed batch (the authoritative check
    // re-runs against whatever manifest the commit loop lands on).
    latestVersion(spark, dir).flatMap(manifestSchema(spark, dir, _))
      .foreach(evolveSchema(_, df.schema))
    val vcs = enforceConstraints(spark, dir, df, "append")
    val (sCols, bCols) = inheritTracking(spark, dir, df, statsCols, bloomCols)
    val wb = labeled(spark, "append") {
      writeBatch(df, dir, sCols, bCols, strictBlooms = false)
    }
    commitAppend(spark, dir, df.schema, wb.added, wb.stats, wb.refs,
      wb.bloomCols, maxRetries, "append",
      addedSizes = wb.sizes,
      validatedConstraints = vcs,
      claim = wb.claim).get // non-txn append never no-ops
  }

  /** Atomic REPLACE: commit a snapshot containing ONLY `df`'s freshly
    * written files — the table-format form of `mode("overwrite")`.
    * One commit, so readers see the old table or the new, never a
    * mixture; superseded versions stay time-travelable until
    * [[vacuum]] (an overwrite is a logical replace, not a physical
    * delete). The schema REPLACES too (an overwrite is a new table
    * body; add-column evolution is [[append]]'s contract), and the
    * txn ledger carries forward so exactly-once writers survive an
    * interleaved rebuild. */
  def overwrite(df: DataFrame, dir: String, statsCols: Seq[String] = Nil,
                bloomCols: Seq[String] = Nil, maxRetries: Int = 20): Long = {
    val spark = df.sparkSession
    var validated = enforceConstraints(spark, dir, df, "overwrite")
    // table POLICY (tracked stats/bloom columns) survives a replace,
    // same as constraints do — one overwrite must not strip pruning
    val (sCols, bCols) = inheritTracking(spark, dir, df, statsCols, bloomCols)
    val wb = writeBatch(df, dir, sCols, bCols, strictBlooms = false)
    commitLoop(spark, dir, "overwrite", maxRetries) { st =>
      checkMapClaim(st, wb.claim, "overwrite")
      val base = st.getOrElse(EmptyState)
      validated = recheckConstraints(spark, dir, base.constraints, validated,
        wb.added, Some(df.schema), "overwrite",
        wb.claim.map(_.colMap).getOrElse(Map.empty))
      // only the ledger and table policy (constraints, properties,
      // mapping) survive a replace
      Some(withClaim(base.copy(files = wb.added, stats = wb.stats,
        schema = Some(StructType(df.schema.fields.map(_.copy(nullable = true)))),
        bloomRefs = wb.refs, bloomCols = wb.bloomCols, sizes = wb.sizes,
        dvRefs = Map.empty, bucket = None), wb.claim))
    }.get
  }

  /** The append commit, shared by every already-written-batch
    * committer: through [[commitLoop]], union the head's file list
    * with `added`, carry txns/stats/bloom refs forward and evolve the
    * schema. None = a replayed `txn`. */
  private def commitAppend(spark: SparkSession, dir: String,
                           dfSchema: StructType, added: Seq[String],
                           addedStats: Map[String, Map[String, ColStat]],
                           addedRefs: Map[String, String],
                           addedBloomCols: Seq[String],
                           maxRetries: Int, op: String,
                           txn: Option[(String, Long)] = None,
                           addedSizes: Map[String, Long] = Map.empty,
                           bucket: Option[BucketLayout] = None,
                           validatedConstraints: Map[String, String] =
                             Map.empty,
                           claim: Option[MapClaim] = None
                          ): Option[Long] = {
    var validated = validatedConstraints
    commitLoop(spark, dir, op, maxRetries) { st =>
      checkMapClaim(st, claim, op)
      // A bucketing claim only survives the commit if whatever table
      // state this attempt lands on still supports it (empty, or
      // bucketed with the SAME spec) — a racing unbucketed writer
      // degrades the claim instead of corrupting co-location.
      val effBucket = bucket.filter(b =>
        st.forall(s => s.files.isEmpty || s.bucket.contains(b)))
      val base = st.getOrElse(EmptyState)
      // a racing replay won; our files stay orphaned
      if (replayed(base, txn)) None
      else {
        val unified = evolveSchema(base.schema.getOrElse(new StructType()),
          dfSchema)
        // a concurrently-added constraint must gate THIS batch too
        validated = recheckConstraints(spark, dir, base.constraints,
          validated, added, Some(unified), op,
          claim.map(_.colMap).getOrElse(Map.empty))
        Some(withClaim(base.copy(files = base.files ++ added,
          txns = base.txns ++ txn, stats = base.stats ++ addedStats,
          schema = Some(unified), bloomRefs = base.bloomRefs ++ addedRefs,
          bloomCols = (base.bloomCols ++ addedBloomCols).distinct,
          sizes = base.sizes ++ addedSizes, bucket = effBucket), claim))
      }
    }
  }

  /** Partition-disciplined append — HIDDEN partitioning (the public
    * Iceberg idea): readers prune through per-file stats in the
    * manifest, never through path parsing. The write routes rows with
    * the hive writer over DUPLICATED partition columns (`__pv_<c>`),
    * which guarantees every data file holds EXACTLY ONE value
    * combination of `partitionBy` — while the REAL columns stay in
    * the data files, so reads (which always open explicit file lists,
    * ignoring directory names) need no partition-column
    * reconstruction, and the per-file min==max stats make
    * [[readWhere]]/[[readWhereEq]] on a partition column prune to
    * exactly the owning files. Later appends may partition
    * differently — pruning stays per-file-true regardless, the
    * renaming-free partition-evolution story hive layouts can't give.
    * One file per partition value per append: size the partition
    * granularity (date/bucket) accordingly, and re-coarsen accreted
    * appends with [[compact]]`(clusterBy = partitionBy)`. */
  def appendPartitioned(df: DataFrame, dir: String,
                        partitionBy: Seq[String],
                        statsCols: Seq[String] = Nil,
                        bloomCols: Seq[String] = Nil,
                        maxRetries: Int = 20): Long = {
    require(partitionBy.nonEmpty,
      "appendPartitioned: at least one partition column required")
    partitionBy.foreach { c =>
      require(df.columns.contains(c), s"appendPartitioned: no such column $c")
      require(statTag(df.schema(c).dataType).nonEmpty,
        s"appendPartitioned: column $c (${df.schema(c).dataType.simpleString})" +
          " cannot carry pruning stats")
    }
    val spark = df.sparkSession
    latestVersion(spark, dir).foreach { v =>
      manifestSchema(spark, dir, v).foreach(evolveSchema(_, df.schema))
      val cur = stateOf(spark, dir, v)
      require(cur.colMap.isEmpty && cur.retired.isEmpty,
        "appendPartitioned: not supported on a column-mapped table — " +
          "the hive-routed writer derives its layout from column names; " +
          "use append (pruning stats still inherit), or recreate the " +
          "table without a mapping")
    }
    val vcs = enforceConstraints(spark, dir, df, "appendPartitioned")
    val (sCols, bCols) = inheritTracking(spark, dir, df, statsCols, bloomCols)
    val f = fs(spark, dir)
    val batch = java.util.UUID.randomUUID().toString
    val batchDir = new Path(dir, s"data/$batch")
    val routed = partitionBy.foldLeft(df)((d, c) =>
      d.withColumn(s"__pv_$c", col(c)))
    internalWrite(routed, batchDir.toString,
      partitionBy.map(c => s"__pv_$c"))
    val listed = listParquetRec(f, batchDir)
    val added = listed.map(st => manifestKey(dir, st.getPath.toString))
    val sizes = listed.map(st =>
      manifestKey(dir, st.getPath.toString) -> st.getLen).toMap
    val (stats, blooms) = summarizeBatch(spark, dir, batchDir, listed,
      (partitionBy ++ sCols).distinct, bCols, strictBlooms = false)
    val refs = writeBloomSidecar(spark, dir, batch, blooms)
    commitAppend(spark, dir, df.schema, added, stats, refs, bCols,
      maxRetries, "appendPartitioned", addedSizes = sizes,
      validatedConstraints = vcs).get // non-txn append never no-ops
  }

  /** BUCKETED append — the shuffle-elimination layout (the public
    * Spark bucketing design, committed through the manifest instead
    * of a metastore): rows route to `numBuckets` files by Spark's OWN
    * bucket function (`pmod(hash(cols), n)` — exactly
    * `HashPartitioning.partitionIdExpression`, so the claim is
    * byte-compatible with Spark's bucketed read path), file names
    * carry the bucket id in Spark's parseable `_NNNNN` form, and the
    * manifest records the [[BucketLayout]]. The SQL surfaces
    * ([[SnapshotSql]] views, `format("graft")`) then hand Spark a
    * `BucketSpec`: a join of two tables bucketed the same way on the
    * join key — or a groupBy on the bucket columns — runs with ZERO
    * Exchange, the difference between re-shuffling 100 TB per query
    * and reading co-located files. `sortBy` additionally sorts rows
    * within each bucket file (elides the SortMergeJoin sorts while
    * each bucket holds one file; degrades to a re-sort, never a
    * shuffle, after further appends).
    *
    * Later [[appendBucketed]] calls with the SAME spec preserve the
    * claim (buckets accrete one file per append — reads group them);
    * any other commit clears it (see [[BucketLayout]]). Appending
    * bucketed to a non-empty differently-bucketed (or unbucketed)
    * table is rejected up front. */
  def appendBucketed(df: DataFrame, dir: String, bucketBy: Seq[String],
                     numBuckets: Int, sortBy: Seq[String] = Nil,
                     statsCols: Seq[String] = Nil,
                     bloomCols: Seq[String] = Nil,
                     maxRetries: Int = 20): Long = {
    require(bucketBy.nonEmpty, "appendBucketed: bucket columns required")
    require(numBuckets > 0 && numBuckets <= 100000,
      s"appendBucketed: numBuckets $numBuckets out of range")
    (bucketBy ++ sortBy).foreach { c =>
      require(df.columns.contains(c), s"appendBucketed: no such column $c") }
    val spark = df.sparkSession
    val layout = BucketLayout(numBuckets, bucketBy, sortBy)
    latestVersion(spark, dir).foreach { v =>
      manifestSchema(spark, dir, v).foreach(evolveSchema(_, df.schema))
      val cur = stateOf(spark, dir, v)
      require(cur.colMap.isEmpty && cur.retired.isEmpty,
        "appendBucketed: not supported on a column-mapped table — the " +
          "bucketed writer derives its layout from column names; use " +
          "append, or recreate the table without a mapping")
      require(cur.files.isEmpty || cur.bucket.contains(layout),
        s"appendBucketed: table under $dir is not bucketed as $layout " +
          s"(found ${cur.bucket.orNull}) — overwrite or compact first")
    }
    val vcs = enforceConstraints(spark, dir, df, "appendBucketed")
    val (sCols, bCols) = inheritTracking(spark, dir, df, statsCols, bloomCols)
    val f = fs(spark, dir)
    val batch = java.util.UUID.randomUUID().toString
    val batchDir = new Path(dir, s"data/$batch")
    writeBucketedBatch(df, f, batchDir, layout)
    val listed = listParquetRec(f, batchDir)
    val added = listed.map(st => manifestKey(dir, st.getPath.toString))
    val sizes = listed.map(st =>
      manifestKey(dir, st.getPath.toString) -> st.getLen).toMap
    val (stats, blooms) = summarizeBatch(spark, dir, batchDir, listed,
      sCols, bCols, strictBlooms = false)
    val refs = writeBloomSidecar(spark, dir, batch, blooms)
    commitAppend(spark, dir, df.schema, added, stats, refs, bCols,
      maxRetries, "appendBucketed", addedSizes = sizes,
      bucket = Some(layout),
      validatedConstraints = vcs).get // non-txn append never no-ops
  }

  /** The bucketed data write shared by [[appendBucketed]] and
    * [[compact]]`(bucketBy=…)`: rows route to `layout.numBuckets`
    * files by Spark's bucket id (`pmod(hash(cols), n)` — all rows of
    * a bucket land in ONE task, so the write emits exactly one file
    * per non-empty bucket), written through the hive layout writer
    * and then flattened to `part-*_0000K.<ext>` names at the batch
    * root — the `.*_(\d+)(?:\..*)?$` form BucketingUtils parses the
    * bucket id from on the read side. */
  private def writeBucketedBatch(df: DataFrame, f: FileSystem,
                                 batchDir: Path,
                                 layout: BucketLayout): Unit = {
    val bk = pmod(hash(layout.cols.map(col): _*), lit(layout.numBuckets))
    val routed = df.withColumn("__bk", bk)
      .repartition(layout.numBuckets, col("__bk"))
      .sortWithinPartitions(("__bk" +: layout.sortCols).map(col): _*)
    internalWrite(routed, batchDir.toString, Seq("__bk"))
    for (d <- f.listStatus(batchDir) if d.isDirectory &&
         d.getPath.getName.startsWith("__bk=")) {
      val id = d.getPath.getName.stripPrefix("__bk=").toInt
      for (s <- f.listStatus(d.getPath)
           if s.isFile && s.getPath.getName.endsWith(".parquet")) {
        val name = s.getPath.getName
        val dot = name.indexOf('.')
        val renamed = name.substring(0, dot) + f"_$id%05d" +
          name.substring(dot)
        if (!f.rename(s.getPath, new Path(batchDir, renamed)))
          throw new java.io.IOException(
            s"bucketed write: rename failed for ${s.getPath}")
      }
      f.delete(d.getPath, true)
    }
  }

  /** EXACTLY-ONCE [[appendPartitioned]] — the transactional-ledger
    * twin ([[transactionalAppend]]'s contract) for partitioned
    * layouts: a replayed (appId, txnVersion) is a manifest no-op
    * (None; its data files stay as vacuumable orphans), so a
    * Structured Streaming foreachBatch that routes rows into
    * partition-disciplined files lands each micro-batch exactly once
    * across checkpoint-recovery replays. The shape the streaming ANN
    * index needs: cells as hidden partitions, replays no-ops. */
  def transactionalAppendPartitioned(df: DataFrame, dir: String,
                                     partitionBy: Seq[String],
                                     appId: String, txnVersion: Long,
                                     statsCols: Seq[String] = Nil,
                                     bloomCols: Seq[String] = Nil,
                                     maxRetries: Int = 20): Option[Long] = {
    require(appId.nonEmpty,
      "transactionalAppendPartitioned: appId must be non-empty")
    require(partitionBy.nonEmpty,
      "transactionalAppendPartitioned: at least one partition column required")
    val spark = df.sparkSession
    // Cheap pre-check saves the data write on the common replay path;
    // the authoritative check re-runs inside the commit loop.
    val pre = latestVersion(spark, dir)
      .map(manifestTxns(spark, dir, _)).getOrElse(Map.empty)
    if (pre.getOrElse(appId, Long.MinValue) >= txnVersion) return None
    partitionBy.foreach { c =>
      require(df.columns.contains(c),
        s"transactionalAppendPartitioned: no such column $c")
      require(statTag(df.schema(c).dataType).nonEmpty,
        s"transactionalAppendPartitioned: column $c " +
          s"(${df.schema(c).dataType.simpleString}) cannot carry pruning stats")
    }
    latestVersion(spark, dir).flatMap(manifestSchema(spark, dir, _))
      .foreach(evolveSchema(_, df.schema))
    val vcs =
      enforceConstraints(spark, dir, df, "transactionalAppendPartitioned")
    val (sCols, bCols) = inheritTracking(spark, dir, df, statsCols, bloomCols)
    val f = fs(spark, dir)
    val batch = java.util.UUID.randomUUID().toString
    val batchDir = new Path(dir, s"data/$batch")
    val routed = partitionBy.foldLeft(df)((d, c) =>
      d.withColumn(s"__pv_$c", col(c)))
    internalWrite(routed, batchDir.toString,
      partitionBy.map(c => s"__pv_$c"))
    val listed = listParquetRec(f, batchDir)
    val added = listed.map(st => manifestKey(dir, st.getPath.toString))
    val sizes = listed.map(st =>
      manifestKey(dir, st.getPath.toString) -> st.getLen).toMap
    val (stats, blooms) = summarizeBatch(spark, dir, batchDir, listed,
      (partitionBy ++ sCols).distinct, bCols, strictBlooms = false)
    val refs = writeBloomSidecar(spark, dir, batch, blooms)
    commitAppend(spark, dir, df.schema, added, stats, refs, bCols,
      maxRetries, "transactionalAppendPartitioned",
      txn = Some(appId -> txnVersion), addedSizes = sizes,
      validatedConstraints = vcs)
  }

  private def listParquetRec(f: FileSystem, p: Path): Seq[FileStatus] = {
    val it = f.listFiles(p, true)
    val b = Seq.newBuilder[FileStatus]
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && s.getPath.getName.endsWith(".parquet"))
        b += s
    }
    b.result()
  }

  /** Write `df` into a fresh unique batch dir; return (relative file
    * paths, their stats). No two writers can collide on data paths,
    * so data writes need no coordination at all. */
  /** The column-mapping state a batch was written under: the head
    * mapping observed at write time (`base*` — commit loops fail
    * loudly if a concurrent rename/drop moved it, because the batch's
    * physical column names were derived from it) and the possibly
    * EXTENDED mapping to commit (new logical columns get fresh
    * physical names here, never resurrecting a retired one). */
  private[sources] final case class MapClaim(
      baseColMap: Map[String, String], baseRetired: Seq[String],
      colMap: Map[String, String], retired: Seq[String])

  /** A physical name for newly-added logical column `logical`: the
    * logical name itself when never used physically, else the first
    * free `<logical>_pN` (the re-add-after-drop / post-swap case —
    * old bytes under the previous physical name must stay dead). */
  private def freshPhys(logical: String, taken: Set[String]): String =
    if (!taken(logical)) logical
    else Iterator.from(1).map(i => s"${logical}_p$i")
      .find(c => !taken(c)).get

  /** Write `df`'s rows as a new data batch. `df` carries LOGICAL
    * column names; under an active mapping the files are written with
    * PHYSICAL names (stable across renames), and `statsCols`/
    * `bloomCols` are interpreted as PHYSICAL names (the recorded
    * tracking lists — public entry points translate caller-supplied
    * logical names in [[inheritTracking]]); entries naming a NEW
    * logical column are re-pointed at the fresh physical name chosen
    * here (a re-added column's tracking must key the column it
    * actually lands in). Returns the batch's files/stats/refs/sizes
    * plus the [[MapClaim]] the commit must thread (None when the
    * table has no mapping — the legacy path is byte-identical to
    * before), and the possibly-repointed stats/bloom lists.
    *
    * `basis`: the table state `df`'s LOGICAL column names were
    * resolved against. CoW/MoR rewrites MUST pass their base state —
    * their frame was built by reading at base, so a rename landing
    * between the base read and this write would otherwise have the
    * batch written under the NEW mapping while the frame's names are
    * the OLD logical ones (silent wrong physical names → NULLs on
    * every read). With the base as the claim's compare point, the
    * commit loop's [[checkMapClaim]] turns that race into a loud
    * ConcurrentModificationException. Appends (frame authored by the
    * caller against the current table) default to the head. */
  private def writeBatch(df: DataFrame, dir: String,
                         statsCols: Seq[String],
                         bloomCols: Seq[String] = Nil,
                         strictBlooms: Boolean = true,
                         basis: Option[TableState] = None
                        ): WrittenBatch = {
    val spark = df.sparkSession
    val baseSt = basis.orElse(
      latestVersion(spark, dir).map(stateOf(spark, dir, _)))
    val baseMap = baseSt.map(_.colMap).getOrElse(Map.empty)
    val baseRet = baseSt.map(_.retired).getOrElse(Seq.empty)
    var sCols = statsCols
    var bCols = bloomCols
    val claim =
      if (baseMap.isEmpty && baseRet.isEmpty) None
      else {
        val known = baseSt.flatMap(_.schema)
          .map(_.fieldNames.toSet).getOrElse(Set.empty)
        var taken = known.map(physName(baseMap, _)) ++ baseRet
        var m = baseMap
        df.schema.fieldNames.filterNot(known).foreach { l =>
          val p = freshPhys(l, taken)
          taken += p
          if (p != l) {
            m += l -> p
            // tracking entries that named the new column by its
            // logical name follow it to the fresh physical name
            sCols = sCols.map(c => if (c == l) p else c)
            bCols = bCols.map(c => if (c == l) p else c)
          }
        }
        Some(MapClaim(baseMap, baseRet, m, baseRet))
      }
    val physDf = claim match {
      case None => df
      case Some(c) => df.select(df.columns.map(cn =>
        col(cn).as(physName(c.colMap, cn))).toSeq: _*)
    }
    val f = fs(spark, dir)
    val batch = java.util.UUID.randomUUID().toString
    val batchDir = new Path(dir, s"data/$batch")
    labeled(spark, "write-batch:data") {
      internalWrite(physDf, batchDir.toString)
    }
    val listed = f.listStatus(batchDir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val added = listed.map(s => s"data/$batch/${s.getPath.getName}")
    val sizes = listed.map(s =>
      s"data/$batch/${s.getPath.getName}" -> s.getLen).toMap
    val (stats, blooms) = labeled(spark, "write-batch:summaries") {
      summarizeBatch(spark, dir, batchDir, listed, sCols, bCols, strictBlooms)
    }
    // Bitsets land in the batch's sidecar file; the manifest only ever
    // carries the path-sized refs.
    val refs = writeBloomSidecar(spark, dir, batch, blooms)
    WrittenBatch(added, stats, refs, sizes, claim, bCols)
  }

  /** [[writeBatch]]'s result: the batch's files/stats/refs/sizes, the
    * column-mapping claim the commit must thread, and the bloom
    * tracking list with new-column entries re-pointed at their fresh
    * physical names (commit sites must record THIS list, not the one
    * they passed in). */
  private final case class WrittenBatch(
      added: Seq[String], stats: Map[String, Map[String, ColStat]],
      refs: Map[String, String], sizes: Map[String, Long],
      claim: Option[MapClaim], bloomCols: Seq[String])

  /** Commit-loop guard for column-mapping races: the batch's physical
    * column names were derived from the mapping observed at write
    * time — a rename/drop landing in between would make the commit
    * record rows under a superseded mapping. Loud and rare (mapping
    * changes are admin ops), exactly like the vanished-file
    * conflict. */
  private def checkMapClaim(st: Option[TableState],
                            claim: Option[MapClaim], op: String): Unit = {
    val curMap = st.map(_.colMap).getOrElse(Map.empty)
    val curRet = st.map(_.retired).getOrElse(Seq.empty)
    val baseMap = claim.map(_.baseColMap).getOrElse(Map.empty)
    val baseRet = claim.map(_.baseRetired).getOrElse(Seq.empty)
    if (curMap != baseMap || curRet != baseRet)
      throw new java.util.ConcurrentModificationException(
        s"$op: the table's column mapping changed while this batch was " +
          "being written (a concurrent renameColumn/dropColumn) — retry " +
          "the operation against the new head")
  }

  /** EXACTLY-ONCE append for replayable writers (the Structured
    * Streaming foreachBatch contract): the manifest carries a
    * per-`appId` high-water transaction version, and a commit whose
    * `txnVersion` is not strictly above the recorded one is a NO-OP
    * (returns None, its data files left as vacuumable orphans). A
    * retried micro-batch therefore lands its rows exactly once no
    * matter how many times the batch replays — the idempotent-sink
    * half of Structured Streaming's end-to-end guarantee, which the
    * plain parquet `mode("append")` sinks in this repo explicitly
    * lack (their contract is at-least-once + downstream dedup).
    * Monotonicity check and commit happen under the same optimistic
    * loop, so two replays racing each other still commit once. */
  def transactionalAppend(df: DataFrame, dir: String, appId: String,
                          txnVersion: Long, statsCols: Seq[String] = Nil,
                          bloomCols: Seq[String] = Nil,
                          maxRetries: Int = 20): Option[Long] = {
    require(appId.nonEmpty, "transactionalAppend: appId must be non-empty")
    val spark = df.sparkSession
    // Cheap pre-check saves the data write on the common replay path;
    // the authoritative check re-runs inside the commit loop.
    val pre = latestVersion(spark, dir)
      .map(manifestTxns(spark, dir, _)).getOrElse(Map.empty)
    if (pre.getOrElse(appId, Long.MinValue) >= txnVersion) return None
    val vcs = enforceConstraints(spark, dir, df, "transactionalAppend")
    val (sCols, bCols) = inheritTracking(spark, dir, df, statsCols, bloomCols)
    val wb = writeBatch(df, dir, sCols, bCols, strictBlooms = false)
    commitAppend(spark, dir, df.schema, wb.added, wb.stats, wb.refs,
      wb.bloomCols, maxRetries, "transactionalAppend",
      txn = Some(appId -> txnVersion), addedSizes = wb.sizes,
      validatedConstraints = vcs, claim = wb.claim)
  }

  /** Initialize an EMPTY table: one v0 manifest recording `schema`
    * and no data files — the SQL `CREATE TABLE (cols)` DDL shape, and
    * the clean way to start a streaming consumer or bind DML before
    * any data lands. Later appends must be compatible with the
    * declared schema (the evolveSchema contract: add-column widening
    * only). Refuses an existing table. */
  def createEmpty(spark: SparkSession, dir: String,
                  schema: StructType): Long = {
    require(schema.nonEmpty, "createEmpty: schema must have columns")
    latestVersion(spark, dir).foreach(v => throw new IllegalStateException(
      s"createEmpty: a snapshot table already exists under $dir (v$v)"))
    if (!tryCommit(spark, dir, 0L, None,
        EmptyState.copy(schema = Some(schema)), "create"))
      throw new java.io.IOException(
        s"createEmpty: lost the v0 commit race under $dir")
    0L
  }

  /** Manifest-only EXACTLY-ONCE ledger advance: record `(appId,
    * txnVersion)` with zero data movement and zero Spark jobs — the
    * cursor-only commit a materialized view's refresh lands when a
    * source commit produced no net row change (compaction, identical
    * rewrite), where a zero-row [[transactionalAppend]] would still
    * pay a full empty write job + file listing. Same ledger
    * discipline: a replayed or raced advance returns None. */
  def advanceTxn(spark: SparkSession, dir: String, appId: String,
                 txnVersion: Long, maxRetries: Int = 20): Option[Long] = {
    require(appId.nonEmpty, "advanceTxn: appId must be non-empty")
    val txn = Some(appId -> txnVersion)
    commitLoop(spark, dir, "advanceTxn", maxRetries) { st =>
      val base = headState(st, "advanceTxn", dir)
      if (replayed(base, txn)) None
      else Some(base.copy(txns = base.txns ++ txn))
    }
  }

  // ------------------------------------------------------------------
  // Reads
  // ------------------------------------------------------------------

  /** Read a snapshot: the latest by default, or a pinned `version`
    * (time travel). The scan reads EXACTLY the manifest's files — a
    * concurrent append/compaction/vacuum of later versions is
    * invisible. An uninitialized table is an error (no schema to
    * return). */
  def read(spark: SparkSession, dir: String,
           version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, dir)).getOrElse(
      throw new java.io.IOException(s"read: no committed version under $dir"))
    val files = manifestFiles(spark, dir, v)
    val schema = manifestSchema(spark, dir, v)
    if (files.isEmpty)
      schema.map(st => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st))
        .getOrElse(spark.emptyDataFrame)
    else {
      val st = stateOf(spark, dir, v)
      readFilesWithDv(spark, dir, files, schema, st.dvRefs, st.colMap,
        st.defaults)
    }
  }

  /** The manifest-level file-pruning decision for
    * `column BETWEEN lower AND upper` (inclusive): returns (files to
    * open, total files in the snapshot). A file is skipped only when
    * its recorded [min,max] provably misses the bound's domain; files
    * or columns without stats — and bounds that do not canonicalize —
    * are always kept. Exposed separately so specs (and operators) can
    * pin how many files a predicate actually touches. */
  def pruneFiles(spark: SparkSession, dir: String, column: String,
                 lower: Any, upper: Any,
                 version: Option[Long] = None): (Seq[String], Int) =
    pruneFilesBounds(spark, dir, column, Some(lower), Some(upper), version)

  /** [[pruneFiles]] with OPEN sides: None on a side never excludes a
    * file on that side — `column >= v` prunes as (Some(v), None).
    * The shape [[SnapshotSql]]'s one-sided SQL predicates need. */
  def pruneFilesBounds(spark: SparkSession, dir: String, column: String,
                       lower: Option[Any], upper: Option[Any],
                       version: Option[Long] = None): (Seq[String], Int) = {
    val v = version.orElse(latestVersion(spark, dir)).getOrElse(
      throw new java.io.IOException(s"pruneFiles: no committed version under $dir"))
    // Stats are keyed by PHYSICAL column name; the caller's predicate
    // names the LOGICAL one.
    pruneFilesBoundsPhys(spark, dir,
      physName(stateOf(spark, dir, v).colMap, column), lower, upper, v)
  }

  /** [[pruneFilesBounds]] with `pc` ALREADY physical — the
    * scan-relation path ([[SnapshotFileIndex]]) pushes filters whose
    * attribute names come from the physical scan schema; translating
    * them again through the logical→physical map would mis-prune
    * swapped-name tables. */
  private[sources] def pruneFilesBoundsPhys(spark: SparkSession,
                       dir: String, pc: String,
                       lower: Option[Any], upper: Option[Any],
                       v: Long): (Seq[String], Int) = {
    val files = manifestFiles(spark, dir, v)
    val stats = manifestStats(spark, dir, v)
    val selected = files.filter { file =>
      stats.get(file).flatMap(_.get(pc)) match {
        case None => true
        case Some(st) =>
          val okLo = lower.forall { l =>
            (for {
              lo <- canonBound(st.tag, l)
              cMaxLo <- statCompare(st.tag, st.max, lo)
            } yield cMaxLo >= 0).getOrElse(true)
          }
          val okHi = upper.forall { h =>
            (for {
              hi <- canonBound(st.tag, h)
              cMinHi <- statCompare(st.tag, st.min, hi)
            } yield cMinHi <= 0).getOrElse(true)
          }
          okLo && okHi
      }
    }
    (selected, files.length)
  }

  /** Range read with manifest-stats file skipping: opens only the
    * files [[pruneFiles]] selects, then applies the exact residual
    * `column BETWEEN lower AND upper` filter (stats skip whole files;
    * the filter — pushed into the parquet scan by Catalyst — decides
    * rows, so the result is identical to filtering a full [[read]]). */
  def readWhere(spark: SparkSession, dir: String, column: String,
                lower: Any, upper: Any,
                version: Option[Long] = None): DataFrame = {
    val (selected, _) = pruneFiles(spark, dir, column, lower, upper, version)
    val residual = col(column) >= lit(lower) && col(column) <= lit(upper)
    if (selected.isEmpty) read(spark, dir, version).filter(lit(false))
    else {
      val v = version.orElse(latestVersion(spark, dir)).get
      val st = stateOf(spark, dir, v)
      readFilesWithDv(spark, dir, selected, manifestSchema(spark, dir, v),
        st.dvRefs, st.colMap, st.defaults)
        .filter(residual)
    }
  }

  /** Conjunctive multi-predicate read: `AND` of
    * `column BETWEEN lower AND upper` bounds. File pruning is the
    * INTERSECTION of the per-column stats decisions (a file survives
    * only if every predicate's range intersects its stats — exactly
    * how a Z-ordered layout pays off on several columns at once), and
    * the full conjunction applies as the residual row filter. Result
    * identical to filtering a full [[read]]. */
  def readWhereAll(spark: SparkSession, dir: String,
                   bounds: Seq[(String, Any, Any)],
                   version: Option[Long] = None): DataFrame = {
    require(bounds.nonEmpty, "readWhereAll: at least one predicate required")
    val v = version.orElse(latestVersion(spark, dir)).getOrElse(
      throw new java.io.IOException(
        s"readWhereAll: no committed version under $dir"))
    val selected = bounds
      .map { case (c, lo, hi) => pruneFiles(spark, dir, c, lo, hi, Some(v))._1.toSet }
      .reduce(_ intersect _)
    val residual = bounds
      .map { case (c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi) }
      .reduce(_ && _)
    if (selected.isEmpty) read(spark, dir, Some(v)).filter(lit(false))
    else readFilesWithDv(spark, dir, selected.toSeq.sorted,
      manifestSchema(spark, dir, v), stateOf(spark, dir, v).dvRefs,
      stateOf(spark, dir, v).colMap, stateOf(spark, dir, v).defaults)
      .filter(residual)
  }

  /** Bulk key-set file pruning by STATS ENVELOPE — the above-cap
    * sibling of [[pruneFilesForKeys]]: when a key set is too large to
    * collect, its per-column [min, max] envelope (one bounded
    * aggregate on the caller's side, never a driver round-trip of the
    * keys) still prunes files whose recorded stats provably miss the
    * whole set. Columns whose envelope failed to compute (all-NULL
    * keys, non-canonicalizable types) prune nothing for that column —
    * conservative, never wrong: a file outside a column's envelope
    * cannot hold ANY key of the set (stats ignore NULLs, and NULL
    * keys never equi-join anyway). Returns the surviving files. */
  private[graft] def pruneFilesEnvelope(spark: SparkSession, dir: String,
                                        v: Long,
                                        bounds: Seq[(String, Any, Any)]
                                       ): Seq[String] = {
    val sets = bounds.collect { case (c, lo, hi) if lo != null && hi != null =>
      pruneFiles(spark, dir, c, lo, hi, Some(v))._1.toSet
    }
    if (sets.isEmpty) manifestFiles(spark, dir, v)
    else sets.reduce(_ intersect _).toSeq.sorted
  }

  /** Read the files a bulk key set could possibly live in — envelope
    * pruning ([[pruneFilesEnvelope]]) plus the full masked read of
    * the survivors. The caller applies the EXACT key predicate (a
    * semi-join against its key frame); this only guarantees a
    * superset of the matching rows, like every pruning read here. */
  def readWhereKeyEnvelope(spark: SparkSession, dir: String,
                           bounds: Seq[(String, Any, Any)],
                           version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, dir)).getOrElse(
      throw new java.io.IOException(
        s"readWhereKeyEnvelope: no committed version under $dir"))
    val kept = pruneFilesEnvelope(spark, dir, v, bounds)
    if (kept.isEmpty) read(spark, dir, Some(v)).filter(lit(false))
    else {
      val st = stateOf(spark, dir, v)
      readFilesWithDv(spark, dir, kept, manifestSchema(spark, dir, v),
        st.dvRefs, st.colMap, st.defaults)
    }
  }

  /** Multi-value point lookup — `column IN (values)` with Bloom +
    * stats file skipping: the opened set is the UNION of each value's
    * range+Bloom decision, the residual an `isin`. The probe shape of
    * an inverted-index query: k terms open only the posting files
    * that might hold them, never the table. Sidecars load ONCE across
    * the whole value list (range pruning is an in-memory manifest
    * fold per value; the shared Bloom bitsets then answer every
    * value) — a k-term probe reads each needed sidecar exactly once,
    * not up to k times. A truly large IN-list still belongs in a
    * semi-join. */
  def readWhereEqAny(spark: SparkSession, dir: String, column: String,
                     values: Seq[Any],
                     version: Option[Long] = None,
                     semiJoinThreshold: Int = 256): DataFrame = {
    require(values.nonEmpty, "readWhereEqAny: at least one value required")
    val v = version.orElse(latestVersion(spark, dir)).getOrElse(
      throw new java.io.IOException(
        s"readWhereEqAny: no committed version under $dir"))
    val st = stateOf(spark, dir, v)
    val pc = physName(st.colMap, column)
    // A WIDE IN-list flips from per-value pruning to a broadcast
    // semi-join: the per-value path costs O(values × files) driver
    // work plus a values-long In literal, both of which stop scaling
    // around a few hundred values. Above the threshold the files
    // prune ONCE against the value set's [min, max] envelope (sharp
    // on range-clustered layouts like the BM25 term shards), the
    // values broadcast as a one-column frame, and the match is a
    // single codegen'd LeftSemi hash join — a 10k-value probe is one
    // join, not 10k probes.
    if (values.length >= semiJoinThreshold) {
      val distinctVals = values.distinct
      implicit val ord: Ordering[Any] =
        (a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b)
      val kept = scala.util.Try(
        (distinctVals.min(ord), distinctVals.max(ord))).toOption match {
        case Some((lo, hi)) =>
          pruneFilesBoundsPhys(spark, dir, pc, Some(lo), Some(hi), v)._1
        case None => st.files // non-comparable values: no envelope
      }
      if (kept.isEmpty) return read(spark, dir, Some(v)).filter(lit(false))
      val dt = manifestSchema(spark, dir, v)
        .flatMap(_.fields.find(_.name == column).map(_.dataType))
        .getOrElse(read(spark, dir, Some(v)).schema(column).dataType)
      // The probe frame is TYPED BY THE VALUES and then cast to the
      // table's column type — createDataFrame against `dt` directly
      // would crash on boxed-type mismatches (Integer values probing
      // a BIGINT column) that the narrow isin() path happily coerces.
      // Decimal values type directly as the COLUMN's decimal (their
      // own precision/scale vary per value); everything else types by
      // Catalyst's own boxed-class mapping (Literal), which must be
      // ONE type across the list — mixed classes fail loudly here
      // instead of deep in a task.
      val valDt: DataType = dt match {
        case _: DecimalType => dt
        case _ =>
          val dts = distinctVals.map(x => scala.util.Try(
            org.apache.spark.sql.catalyst.expressions.Literal(x).dataType)
            .getOrElse(dt)).distinct
          require(dts.length == 1,
            s"readWhereEqAny: IN-list values mix types " +
              s"(${dts.map(_.simpleString).mkString(", ")}) — pass one " +
              "runtime type")
          dts.head
      }
      val probe = spark.createDataFrame(
        java.util.Arrays.asList(distinctVals.map(x =>
          org.apache.spark.sql.Row(x match {
            case bd: scala.math.BigDecimal => bd.bigDecimal
            case other => other
          })): _*),
        StructType(Seq(StructField(column, valDt))))
        .select(col(column).cast(dt).as(column))
      return readFilesWithDv(spark, dir, kept,
        manifestSchema(spark, dir, v), st.dvRefs, st.colMap, st.defaults)
        .join(broadcast(probe), Seq(column), "left_semi")
    }
    val ranged: Seq[(Any, Seq[String])] = values.map(x =>
      x -> pruneFilesBoundsPhys(spark, dir, pc, Some(x), Some(x), v)._1)
    val needed = ranged.iterator.flatMap(_._2).toSet
    val neededRefs = st.bloomRefs.view.filterKeys(needed).toMap
    val blooms = st.legacyBlooms ++ neededRefs.groupBy(_._2).flatMap {
      case (ref, fileRefs) =>
        val side = loadBloomSidecar(spark, dir, ref)
        fileRefs.keys.flatMap(f => sidecarLookup(side, f, ref).map(f -> _))
    }
    val selected = ranged.flatMap { case (x, files) =>
      files.filter { file =>
        blooms.get(file).flatMap(_.get(pc)) match {
          case None => true
          case Some(bits) => bloomMightContain(bits, x)
        }
      }
    }.distinct.sorted
    if (selected.isEmpty) read(spark, dir, Some(v)).filter(lit(false))
    else readFilesWithDv(spark, dir, selected,
      manifestSchema(spark, dir, v), st.dvRefs, st.colMap, st.defaults)
      .filter(col(column).isin(values: _*))
  }

  /** Point-lookup file pruning for `column = value`: a file is opened
    * only if BOTH summaries allow it — its min/max range contains the
    * value (when stats exist) AND its Bloom bitset reports
    * might-contain (when a bloom exists). Files with neither summary
    * are always kept. Returns (files to open, total). */
  def pruneFilesEq(spark: SparkSession, dir: String, column: String,
                   value: Any,
                   version: Option[Long] = None): (Seq[String], Int) = {
    val v = version.orElse(latestVersion(spark, dir)).getOrElse(
      throw new java.io.IOException(
        s"pruneFilesEq: no committed version under $dir"))
    pruneFilesEqPhys(spark, dir,
      physName(stateOf(spark, dir, v).colMap, column), value, v)
  }

  /** [[pruneFilesEq]] with `pc` ALREADY physical (see
    * [[pruneFilesBoundsPhys]]). */
  private[sources] def pruneFilesEqPhys(spark: SparkSession, dir: String,
                   pc: String, value: Any, v: Long): (Seq[String], Int) = {
    val (rangeKept, total) =
      pruneFilesBoundsPhys(spark, dir, pc, Some(value), Some(value), v)
    // Sidecar-lazy probe: load only the sidecars of files that
    // survived range pruning — a point lookup on a well-clustered
    // table reads O(selected files) bloom bytes, not O(table).
    val st = stateOf(spark, dir, v)
    val rangeSet = rangeKept.toSet
    val neededRefs = st.bloomRefs.view.filterKeys(rangeSet).toMap
    val bySidecar = neededRefs.groupBy(_._2)
    val blooms = st.legacyBlooms ++ bySidecar.flatMap {
      case (ref, fileRefs) =>
        val side = loadBloomSidecar(spark, dir, ref)
        fileRefs.keys.flatMap(f => sidecarLookup(side, f, ref).map(f -> _))
    }
    val selected = rangeKept.filter { file =>
      blooms.get(file).flatMap(_.get(pc)) match {
        case None => true
        case Some(bits) => bloomMightContain(bits, value)
      }
    }
    (selected, total)
  }

  /** Equality read with manifest Bloom + stats file skipping: opens
    * only the files [[pruneFilesEq]] selects, then applies the exact
    * `column = value` residual — identical result to filtering a full
    * [[read]], at point-lookup cost (the O19 metadata-get shape at
    * table scale). */
  def readWhereEq(spark: SparkSession, dir: String, column: String,
                  value: Any, version: Option[Long] = None): DataFrame = {
    val (selected, _) = pruneFilesEq(spark, dir, column, value, version)
    if (selected.isEmpty) read(spark, dir, version).filter(lit(false))
    else {
      val v = version.orElse(latestVersion(spark, dir)).get
      val st = stateOf(spark, dir, v)
      readFilesWithDv(spark, dir, selected, manifestSchema(spark, dir, v),
        st.dvRefs, st.colMap, st.defaults)
        .filter(col(column) === lit(value))
    }
  }

  /** File pruning for a BOUNDED, COLLECTED key set — the touched-file
    * probe of [[applyChanges]] and [[graft.operators.Scd2]]'s
    * open-interval lookup at 100 TB. A file can hold a row whose key
    * columns take values from `keyRows` only if EVERY key column's
    * summaries admit at least one of that column's values:
    *
    *   - stats range: binary search of the column's sorted canonical
    *     value list against the file's recorded [min,max] —
    *     O(files × keyCols × log values) in-memory driver work, sharp
    *     on key-clustered layouts (compact-by-key dimensions, bucketed
    *     tables);
    *   - Bloom (when the file has one for the column):
    *     any-value-might-contain, sidecars loaded once per column
    *     across the candidate set — budgeted, because values × files
    *     bitset probes stop being control-plane work past a few
    *     million.
    *
    * Files or columns without summaries never exclude; values that do
    * not canonicalize never exclude; NULL key values are dropped (an
    * equi-join key of NULL matches no row). Returns a sound SUPERSET
    * of the files holding matching keys — the caller's exact semi-join
    * stays the row-level decision, this only bounds what it scans. */
  def pruneFilesForKeys(spark: SparkSession, dir: String, v: Long,
                        keyCols: Seq[String],
                        keyRows: Seq[org.apache.spark.sql.Row]): Seq[String] = {
    val st = stateOf(spark, dir, v)
    val stats = manifestStats(spark, dir, v)
    var kept = st.files
    keyCols.zipWithIndex.foreach { case (c, i) =>
      if (kept.nonEmpty) {
        val pc = physName(st.colMap, c)
        val vals = keyRows.iterator.map(_.get(i)).filter(_ != null)
          .toArray.distinct
        if (vals.isEmpty) kept = Nil // all-NULL key column: no match
        else {
          // Sorted canonical values, cached per stats tag (tags are
          // uniform per column in practice; the cache keeps this
          // correct even if a mixed-history manifest disagrees). A
          // canonicalization or compare failure marks the whole tag
          // un-prunable — never a skip.
          val canonCache =
            scala.collection.mutable.Map.empty[String, Option[IndexedSeq[String]]]
          def canonSorted(tag: String): Option[IndexedSeq[String]] =
            canonCache.getOrElseUpdate(tag, {
              val cs = vals.map(canonBound(tag, _))
              if (cs.contains(None)) None
              else scala.util.Try(cs.map(_.get).toIndexedSeq.sortWith((a, b) =>
                statCompare(tag, a, b)
                  .getOrElse(throw new IllegalStateException) < 0)).toOption
            })
          kept = kept.filter { f =>
            stats.get(f).flatMap(_.get(pc)) match {
              case None => true
              case Some(cs) => canonSorted(cs.tag) match {
                case None => true
                case Some(sorted) =>
                  // smallest value >= file min, then check <= file max
                  var lo = 0; var hi = sorted.length; var open = false
                  while (lo < hi && !open)
                    statCompare(cs.tag, sorted((lo + hi) >>> 1), cs.min) match {
                      case Some(r) =>
                        if (r < 0) lo = ((lo + hi) >>> 1) + 1
                        else hi = (lo + hi) >>> 1
                      case None => open = true
                    }
                  open || (lo < sorted.length &&
                    statCompare(cs.tag, sorted(lo), cs.max).forall(_ <= 0))
              }
            }
          }
          if (kept.nonEmpty &&
              vals.length.toLong * kept.length <= 4000000L) {
            val keptSet = kept.toSet
            val neededRefs = st.bloomRefs.view.filterKeys(keptSet).toMap
            val blooms = st.legacyBlooms ++ neededRefs.groupBy(_._2).flatMap {
              case (ref, fileRefs) =>
                val side = loadBloomSidecar(spark, dir, ref)
                fileRefs.keys.flatMap(f =>
                  sidecarLookup(side, f, ref).map(f -> _))
            }
            kept = kept.filter { f =>
              blooms.get(f).flatMap(_.get(pc)) match {
                case None => true
                case Some(bits) => vals.exists(bloomMightContain(bits, _))
              }
            }
          }
        }
      }
    }
    kept
  }

  /** Bounded-key-set read: the rows whose key columns equal one of
    * `keyRows` (fields positionally matching `keyCols`), opening only
    * [[pruneFilesForKeys]]' candidate files and deciding membership
    * with ONE broadcast semi-join against the collected key set — the
    * dimension-lookup shape of [[graft.operators.Scd2]] at scale: an
    * incremental maintain's open-interval probe reads O(affected key
    * clusters) files, never the dimension. Result identical to
    * `read(...).join(keyFrame, keyCols, "left_semi")`. */
  def readWhereKeySet(spark: SparkSession, dir: String,
                      keyCols: Seq[String], keyRows: Seq[org.apache.spark.sql.Row],
                      version: Option[Long] = None): DataFrame = {
    require(keyCols.nonEmpty, "readWhereKeySet: at least one key column")
    val v = version.orElse(latestVersion(spark, dir)).getOrElse(
      throw new java.io.IOException(
        s"readWhereKeySet: no committed version under $dir"))
    val base = read(spark, dir, Some(v))
    if (keyRows.isEmpty) return base.filter(lit(false))
    val probe = spark.createDataFrame(
      java.util.Arrays.asList(keyRows: _*),
      StructType(keyCols.map(c => base.schema(c))))
    val cand = pruneFilesForKeys(spark, dir, v, keyCols, keyRows)
    if (cand.isEmpty) base.filter(lit(false))
    else {
      val st = stateOf(spark, dir, v)
      readFilesWithDv(spark, dir, cand, manifestSchema(spark, dir, v),
        st.dvRefs, st.colMap, st.defaults)
        .join(broadcast(probe), keyCols, "left_semi")
    }
  }

  /** Row-level CHANGE FEED between two committed versions — the CDC
    * read side of the format. Because every write is copy-on-write,
    * files carried forward by reference cancel exactly: the diff is
    * confined to files DROPPED from `fromVersion` and files ADDED by
    * `toVersion`, so the cost is bounded by what actually changed,
    * never by table size (at 100 TB, a small MERGE's feed reads a few
    * files, not the table). Within those files the multiset difference
    * (`exceptAll` both ways) yields exact row-level changes: an
    * `_change='insert'` row per added row, `_change='delete'` per
    * removed row — an update surfaces as its delete+insert pair, and
    * rewritten-but-identical rows (the untouched remainder of a
    * touched file) cancel out. Both sides read under `toVersion`'s
    * schema, so feeds spanning a schema evolution NULL-backfill the
    * old side. */
  def changeFeed(spark: SparkSession, dir: String,
                 fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"changeFeed: fromVersion $fromVersion > toVersion $toVersion")
    val fromSt = stateOf(spark, dir, fromVersion)
    val toSt = stateOf(spark, dir, toVersion)
    val fromFiles = fromSt.files
    val toFiles = toSt.files
    val schema = manifestSchema(spark, dir, toVersion)
    val dropped = fromFiles.filterNot(toFiles.toSet)
    val added = toFiles.filterNot(fromFiles.toSet)
    // A merge-on-read delete changes rows WITHOUT changing the file
    // list: carried files whose deletion-vector ref differs between
    // the two versions join both sides — old content under the FROM
    // vector, new under the TO vector — and the multiset difference
    // surfaces exactly the newly-masked rows as deletes.
    val fromSet = fromFiles.toSet
    val dvChanged = toFiles.filter(f =>
      fromSet.contains(f) && fromSt.dvRefs.get(f) != toSt.dvRefs.get(f))
    // Both sides resolve under TO-version's column mapping (physical
    // names are rename-stable, so old files read correctly under it)
    // — a feed spanning a rename surfaces end-state logical names
    // throughout, exactly like the schema discipline above.
    def side(files: Seq[String], refs: Map[String, String]): DataFrame =
      if (files.nonEmpty)
        readFilesWithDv(spark, dir, files, schema, refs, toSt.colMap,
          toSt.defaults)
      else schema.map(st => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st))
        .getOrElse(read(spark, dir, Some(toVersion)).filter(lit(false)))
    val oldFiles = dropped ++ dvChanged
    val newFiles = added ++ dvChanged
    val oldRows = side(oldFiles, fromSt.dvRefs)
    val newRows = side(newFiles, toSt.dvRefs)
    // The multiset difference needs its two exceptAll shuffles only
    // when BOTH sides carry rows. A pure append (old side statically
    // empty — the overwhelmingly common commit) is its added rows
    // verbatim, map-only; a pure removal is symmetric. The empty
    // frames above are RDD-backed, which PropagateEmptyRelation can't
    // see through — so short-circuit here, not in the optimizer.
    if (oldFiles.isEmpty && newFiles.isEmpty)
      newRows.withColumn("_change", lit("insert")).filter(lit(false))
    else if (oldFiles.isEmpty)
      newRows.withColumn("_change", lit("insert"))
    else if (newFiles.isEmpty)
      oldRows.withColumn("_change", lit("delete"))
    else {
      // COMMIT-KIND shortcuts: manifests record each commit's op, and
      // some op kinds bound what a diff can contain — knowledge the
      // generic multiset diff cannot see (guide §8: use what you know
      // that the engine does not).
      //   - compact / compactWhere / binPackSmall REARRANGE live rows
      //     (DV materialization included): a span of only these nets
      //     to NO row change — skip both exceptAll legs and the file
      //     reads entirely. This is what makes a refresh across a
      //     compaction boundary metadata-only.
      //   - a single deleteWhere commit is a pure FILTER of its
      //     touched files: the insert leg is empty by construction,
      //     so only the delete-side exceptAll runs (one shuffle pair
      //     instead of two over the touched bytes).
      // Both shortcuts demand dvChanged empty (true by construction
      // for these ops — they never advance a carried file's vector);
      // guarded anyway so an unforeseen writer degrades to the
      // generic diff, never to a wrong feed.
      val spanOps = (fromVersion + 1 to toVersion).map(v =>
        Option(manifestNode(spark, dir, v).get("op")).map(_.asText)
          .getOrElse("commit"))
      val rowPreserving = Set("compact", "compactWhere", "binPackSmall")
      if (dvChanged.isEmpty && spanOps.forall(rowPreserving))
        newRows.withColumn("_change", lit("insert")).filter(lit(false))
      else if (dvChanged.isEmpty && spanOps == Seq("deleteWhere"))
        oldRows.exceptAll(newRows).withColumn("_change", lit("delete"))
      else if (dropped.isEmpty && added.isEmpty &&
          spanOps.forall(_ == "deleteMor") &&
          dvChanged.forall(toSt.dvRefs.contains)) {
        //   - a span of ONLY merge-on-read deletes: every file carries
        //     forward, so the net change is exactly the rows whose
        //     positions entered the TO-side vectors. Read the affected
        //     files ONCE (unmasked) and semi-join the position DELTA
        //     (to ∖ from — both sides deleted-row-count-sized and
        //     broadcastable) instead of scanning the affected bytes
        //     TWICE through two exceptAll shuffle pairs. The insert
        //     leg is empty by construction (deleteMor only ever adds
        //     masked positions); a vanished vector ref (impossible for
        //     these ops) falls through to the generic diff above.
        val newMask = dvRows(spark, dir, toSt.dvRefs, dvChanged).get
        val delta = dvRows(spark, dir, fromSt.dvRefs, dvChanged) match {
          case None => newMask
          case Some(old) => newMask.join(old,
            Seq("__dv_file", "__dv_rowidx"), "left_anti")
        }
        val outCols = schema.map(_.fieldNames.toSeq)
          .getOrElse(newRows.columns.toSeq)
        withFile(spark, dir, toVersion, Some(dvChanged), applyDv = false)
          .join(broadcast(delta),
            col("__file") === col("__dv_file") &&
              col("__row_index") === col("__dv_rowidx"), "left_semi")
          .select(outCols.map(col): _*)
          .withColumn("_change", lit("delete"))
      }
      else
        newRows.exceptAll(oldRows)
          .withColumn("_change", lit("insert"))
          .unionByName(oldRows.exceptAll(newRows)
            .withColumn("_change", lit("delete")))
    }
  }

  // ------------------------------------------------------------------
  // Maintenance
  // ------------------------------------------------------------------

  /** Compact the CURRENT snapshot's small files into ~targetBytes
    * files, committed as a new version whose manifest drops the
    * superseded files and adds the rewritten ones. Old versions stay
    * fully readable (their files are untouched until [[vacuum]]).
    * If an append commits concurrently, the commit loop re-bases:
    * files added since the compaction read are carried forward
    * unchanged — only the files actually rewritten are swapped out.
    *
    * `clusterBy` range-repartitions + sorts the rewrite on the given
    * columns, making per-file ranges (near-)disjoint so that
    * [[readWhere]] pruning on those columns becomes effective — the
    * clustering half of the data-skipping story. `zOrderBy` (mutually
    * exclusive; 2-3 NUMERIC columns) instead lays files along a
    * Z-curve: each column linearly min/max-scales to a 16-bit rank
    * (one 1-row aggregate, broadcast into the scan — the scale-true
    * rank proxy; `repartitionByRange` on the z-value then absorbs
    * z-skew by sampling, the RangePartitioner discipline), ranks
    * bit-interleave round-robin, and the rewrite range-partitions on
    * that z-value — every output file covers a small hyper-rectangle,
    * so [[readWhere]] prunes on EVERY z-ordered column at once (the
    * public OPTIMIZE ZORDER idea). `bucketBy`+`numBuckets` (mutually
    * exclusive with both) instead rewrites the table through the
    * BUCKETED writer and asserts the [[BucketLayout]] claim — the
    * in-place conversion of an existing table to the zero-Exchange
    * join layout ([[appendBucketed]]'s contract, without a second
    * copy). File stats are recomputed for the
    * rewritten files over every column the current manifest already
    * tracks (plus the layout columns), so skipping survives
    * compaction. Returns the new version, or None when already
    * compact. */
  def compact(spark: SparkSession, dir: String,
              targetBytes: Long = 128L * 1024 * 1024,
              clusterBy: Seq[String] = Nil,
              zOrderBy: Seq[String] = Nil,
              bucketBy: Seq[String] = Nil,
              numBuckets: Int = 0,
              bucketSortBy: Seq[String] = Nil,
              maxRetries: Int = 20): Option[Long] = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    require(Seq(clusterBy, zOrderBy, bucketBy).count(_.nonEmpty) <= 1,
      "compact: clusterBy, zOrderBy and bucketBy are mutually exclusive")
    require(bucketBy.isEmpty == (numBuckets == 0),
      "compact: bucketBy and numBuckets go together")
    require(bucketBy.nonEmpty || bucketSortBy.isEmpty,
      "compact: bucketSortBy requires bucketBy")
    val f = fs(spark, dir)
    val base = latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(s"compact: no committed version under $dir"))
    val baseSt = stateOf(spark, dir, base)
    val old = baseSt.files
    if (old.isEmpty) return None
    // Manifest sizes when recorded (every writer since r7); RPC
    // fallback per legacy file.
    val totalBytes = old.map(p => baseSt.sizes.getOrElse(p,
      f.getFileStatus(new Path(dir, p)).getLen)).sum
    val nTarget = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    if (old.length <= nTarget && clusterBy.isEmpty && zOrderBy.isEmpty &&
        bucketBy.isEmpty)
      return None
    // Column mapping: layout columns arrive LOGICAL (they drive
    // repartition/sort on the logical frame below); the recorded
    // stats/bloom tracking is PHYSICAL — translate before merging.
    val cm = baseSt.colMap
    val cRet = baseSt.retired
    require(bucketBy.isEmpty || (cm.isEmpty && cRet.isEmpty),
      "compact(bucketBy): not supported on a column-mapped table — " +
        "the bucketed writer derives file layout from column names; " +
        "drop the mapping (recreate the table) or skip bucketing")
    val trackedCols =
      (baseSt.stats.values.flatMap(_.keys).toSeq ++
        (clusterBy ++ zOrderBy ++ bucketBy ++ bucketSortBy)
          .map(physName(cm, _))).distinct
    val trackedBlooms = baseSt.bloomCols
    val batch = java.util.UUID.randomUUID().toString
    val batchDir = new Path(dir, s"data/$batch")
    // Deletion vectors applied: the rewrite MATERIALIZES merge-on-read
    // deletes — compaction is also the vector-purge operation.
    val baseDv = baseSt.dvRefs
    val src = readFilesWithDv(spark, dir, old, baseSt.schema, baseDv, cm,
      baseSt.defaults)
    val bucketLayout = if (bucketBy.isEmpty) None
      else Some(BucketLayout(numBuckets, bucketBy, bucketSortBy))
    bucketLayout match {
      // BUCKETING compaction — the in-place conversion TO (or re-
      // establishment of) a bucketed layout: the full rewrite routes
      // through the bucketed writer, and the commit (re-)asserts the
      // claim — how an existing 100 TB table earns zero-Exchange
      // joins without a second copy.
      case Some(bl) => writeBucketedBatch(src, f, batchDir, bl)
      case None =>
        val laid =
          if (zOrderBy.nonEmpty) {
            val z = zValue(src, zOrderBy)
            src.withColumn("__z", z)
              .repartitionByRange(nTarget, col("__z"))
              .sortWithinPartitions("__z")
              .drop("__z")
          }
          else if (clusterBy.isEmpty) src.coalesce(nTarget)
          else src.repartitionByRange(nTarget, clusterBy.map(col): _*)
            .sortWithinPartitions(clusterBy.map(col): _*)
        // Data files always carry PHYSICAL names — layout ran on the
        // logical frame; rename in one atomic select before writing.
        val laidPhys =
          if (cm.isEmpty) laid
          else laid.select(laid.columns.map(c =>
            col(c).as(physName(cm, c))).toSeq: _*)
        internalWrite(laidPhys, batchDir.toString)
    }
    val rewrittenList = f.listStatus(batchDir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    val rewritten = rewrittenList.map(st => s"data/$batch/${st.getPath.getName}")
    val rewrittenSizes = rewritten.zip(rewrittenList.map(_.getLen)).toMap
    // strict=false: trackedBlooms is the table's RECORDED column list,
    // which on a pre-r7 table may include since-rejected types —
    // compaction must complete, dropping those bitsets, not throw.
    val (rewrittenStats, rwBlooms) = summarizeBatch(spark, dir, batchDir,
      rewrittenList, trackedCols, trackedBlooms, strictBlooms = false)
    val rewrittenRefs = writeBloomSidecar(spark, dir, batch, rwBlooms)
    commitLoop(spark, dir, "compact", maxRetries) { st =>
      val curSt = headState(st, "compact", dir)
      if (curSt.colMap != cm || curSt.retired != cRet)
        throw new java.util.ConcurrentModificationException(
          "compact: the table's column mapping changed during the " +
            "rewrite (a concurrent renameColumn/dropColumn) — retry")
      // A deletion vector advanced on a compacted file since our read
      // would be silently dropped by the rewrite — conflict, loudly.
      val dvMoved = old.filter(f => curSt.dvRefs.get(f) != baseDv.get(f))
      if (dvMoved.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"compact: deletion vectors advanced concurrently on " +
            s"${dvMoved.take(3).mkString(", ")}")
      // Re-base: keep files that appeared after our read; drop only
      // the ones we actually rewrote. The txn ledger carries forward
      // untouched — compaction commits no writer transaction.
      val next = curSt.files.filterNot(old.toSet) ++ rewritten
      // The bucketing claim only holds when the rewrite IS the whole
      // table — files a concurrent writer landed since our read are
      // carried forward unbucketed, so the claim degrades to None
      // (and any prior claim clears: this rewrite renamed files).
      val effBucket = bucketLayout.filter(_ =>
        next.toSet == rewritten.toSet)
      Some(curSt.copy(files = next, stats = curSt.stats ++ rewrittenStats,
        bloomRefs = curSt.bloomRefs ++ rewrittenRefs,
        sizes = curSt.sizes ++ rewrittenSizes, dvRefs = curSt.dvRefs -- old,
        bucket = effBucket))
    }
  }

  /** SCOPED compaction — the public `OPTIMIZE … WHERE` shape: rewrite
    * ONLY the files whose recorded `column` stats overlap
    * `[lower, upper]`, bin-packed to `targetBytes`; every file outside
    * the range carries forward untouched by reference. At 100 TB this
    * is the only compaction anyone actually runs — "optimize
    * yesterday's partition" touches yesterday's gigabytes, never the
    * table's history. Files without a recorded stat for `column`
    * conservatively join the candidate set (they MIGHT hold in-range
    * rows — skipping them could leave masked-row or small-file debt
    * invisible to the caller). Deletion vectors on rewritten files
    * materialize and retire; the bucket claim clears (a partial
    * rewrite can't re-assert a whole-table layout). Returns the new
    * version, or None when the scope has nothing to gain (already ≤
    * the packed file count and vector-free). */
  def compactWhere(spark: SparkSession, dir: String, column: String,
                   lower: Any, upper: Any,
                   targetBytes: Long = 128L * 1024 * 1024,
                   maxRetries: Int = 20): Option[Long] = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val base = latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(
        s"compactWhere: no committed version under $dir"))
    val (candidates, _) =
      pruneFiles(spark, dir, column, lower, upper, Some(base))
    compactFiles(spark, dir, base, candidates.sorted, targetBytes,
      "compactWhere", maxRetries)
  }

  /** Small-file bin-packing — the streaming-ingest janitor: rewrite
    * ONLY the files below `smallerThanBytes`, packed to `targetBytes`;
    * every right-sized file carries forward by reference. Micro-batch
    * sinks accrete thousands of kilobyte files per day — this folds
    * them into scan-efficient files for the cost of the small files
    * alone, where a full [[compact]] would re-copy the terabytes that
    * are already well-laid-out. Same DV-materialization and
    * claim-clearing semantics as [[compactWhere]]. */
  def binPackSmall(spark: SparkSession, dir: String,
                   smallerThanBytes: Long,
                   targetBytes: Long = 128L * 1024 * 1024,
                   maxRetries: Int = 20): Option[Long] = {
    require(smallerThanBytes > 0,
      s"smallerThanBytes must be positive, got $smallerThanBytes")
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val base = latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(
        s"binPackSmall: no committed version under $dir"))
    val st = stateOf(spark, dir, base)
    val f = fs(spark, dir)
    val candidates = st.files.filter { p =>
      st.sizes.getOrElse(p,
        f.getFileStatus(new Path(dir, p)).getLen) < smallerThanBytes
    }.sorted
    compactFiles(spark, dir, base, candidates, targetBytes,
      "binPackSmall", maxRetries)
  }

  /** The shared scoped-rewrite kernel of [[compactWhere]] and
    * [[binPackSmall]]: bin-pack `candidates` (live rows only — their
    * deletion vectors apply and retire) into ceil(bytes/targetBytes)
    * files and commit through [[commitRewrite]], which carries every
    * non-candidate file forward and supplies the full conflict
    * surface (a candidate rewritten or re-vectored concurrently
    * throws). No-op (None) when the candidates are already at or
    * under the packed count with no vectors to materialize. */
  private def compactFiles(spark: SparkSession, dir: String, base: Long,
                           candidates: Seq[String], targetBytes: Long,
                           op: String, maxRetries: Int): Option[Long] = {
    if (candidates.isEmpty) return None
    val st = stateOf(spark, dir, base)
    val f = fs(spark, dir)
    val totalBytes = candidates.map(p => st.sizes.getOrElse(p,
      f.getFileStatus(new Path(dir, p)).getLen)).sum
    val nTarget =
      math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    if (candidates.length <= nTarget &&
        !candidates.exists(st.dvRefs.contains))
      return None
    val src = readFilesWithDv(spark, dir, candidates,
      manifestSchema(spark, dir, base), st.dvRefs, st.colMap, st.defaults)
      .coalesce(nTarget)
    commitRewrite(spark, dir, candidates, src,
      trackedStatsCols(spark, dir, base),
      trackedBloomCols(spark, dir, base), maxRetries, op,
      baseDv = st.dvRefs, basis = Some(st))
  }

  /** The interleaved-bit z-value of `cols` over `src`'s value ranges —
    * composed entirely from built-in bit expressions (shiftleft/
    * shiftright/&/|), so the whole computation stays inside
    * whole-stage codegen; bit i of column j's 16-bit rank lands at
    * output bit `i*k + j`. NULLs rank 0 (sort together at the curve's
    * origin). */
  private def zValue(src: DataFrame, cols: Seq[String]): Column = {
    val k = cols.length
    require(k >= 2 && k <= 3, s"zOrderBy takes 2-3 columns, got $k")
    cols.foreach { c =>
      require(src.schema(c).dataType.isInstanceOf[NumericType],
        s"zOrderBy column $c must be numeric, got " +
          src.schema(c).dataType.simpleString)
    }
    // One 1-row bounds aggregate — control plane, broadcast into the
    // scan as literals.
    val aggCols = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__mn_$c"),
      max(col(c).cast("double")).as(s"__mx_$c")))
    val bRow = src.agg(aggCols.head, aggCols.tail: _*).head()
    def bound(name: String): Double = {
      val v = bRow.getAs[java.lang.Double](name)
      if (v == null) 0.0 else v.doubleValue()
    }
    val ranks = cols.map { c =>
      val mn = bound(s"__mn_$c"); val mx = bound(s"__mx_$c")
      val span = if (mx > mn) mx - mn else 1.0
      coalesce(least(greatest(
        ((col(c).cast("double") - lit(mn)) / lit(span) * 65535.0)
          .cast("long"), lit(0L)), lit(65535L)), lit(0L))
    }
    val terms = for { j <- 0 until k; i <- 0 until 16 } yield
      shiftleft(shiftright(ranks(j), i).bitwiseAND(lit(1L)), i * k + j)
    terms.reduce(_ bitwiseOR _)
  }

  /** ZERO-COPY SHALLOW CLONE — table branching, the public Delta
    * `CLONE`/Iceberg-snapshot idea: the clone's v0 manifest references
    * the source's CURRENT data files by absolute path (no bytes move,
    * any table size clones in one manifest write), with stats, blooms
    * and schema carried over, so pruning works immediately. From then
    * on the clone is a fully independent table: appends land under its
    * own `data/`; copy-on-write DELETE/MERGE on cloned rows rewrite
    * the touched foreign file INTO the clone and drop the reference —
    * the branch diverges without ever mutating the source. Cloning a
    * clone re-uses whatever references the source holds.
    *
    * Lifecycle contract (same as the public shallow-clone designs): a
    * clone pins nothing in the source — [[vacuum]] on the SOURCE can
    * retire files the clone still references once the source's own
    * manifests drop them (after a source compact/delete). Shallow
    * clones are for short-lived branches (experiments, dev, what-if
    * DELETE/MERGE runs); promote to an independent table by
    * [[compact]]-ing the clone, which rewrites every referenced byte
    * into the clone's own `data/`. */
  def shallowClone(spark: SparkSession, srcDir: String,
                   dstDir: String, versionAsOf: Option[Long] = None): Long = {
    // versionAsOf: branch from table HISTORY (the public
    // `CLONE … VERSION AS OF` shape) — an experiment forks from last
    // week's snapshot in one manifest write; the clone's own lifecycle
    // is independent of what the source committed since.
    val v = versionAsOf.getOrElse(latestVersion(spark, srcDir).getOrElse(
      throw new java.io.IOException(
        s"shallowClone: no committed version under $srcDir")))
    require(latestVersion(spark, dstDir).isEmpty,
      s"shallowClone: destination $dstDir already has commits")
    def absolutize(e: String): String =
      if (e.startsWith("data/"))
        new Path(new Path(srcDir), e).toUri.getPath
      else e // clone-of-clone: already absolute
    def absolutizeRef(r: String): String =
      if (r.startsWith("_blooms/") || r.startsWith("_dv/"))
        new Path(new Path(srcDir), r).toUri.getPath
      else r
    val st = stateOf(spark, srcDir, v)
    val files = st.files.map(absolutize)
    val stats = st.stats.map { case (k, cs) => absolutize(k) -> cs }
    // Bloom and deletion-vector SIDECARS reference-carry exactly like
    // data files: the clone's refs point (absolutely) into the
    // source's `_blooms/` / `_dv/` until a compact/rewrite gives the
    // clone its own.
    val refs = st.bloomRefs
      .map { case (k, r) => absolutize(k) -> absolutizeRef(r) }
    val dvRefs = st.dvRefs
      .map { case (k, r) => absolutize(k) -> absolutizeRef(r) }
    val sizes = st.sizes.map { case (k, n) => absolutize(k) -> n }
    // defaults' pre-ADD file keys absolutize exactly like the file
    // list — the clone's reads must keep serving the source's
    // initial defaults for its referenced files
    val defaults = st.defaults.map { case (c, (dv, pre)) =>
      c -> (dv, pre.map(absolutize)) }
    // a new table: schema, tracking, mapping, properties and defaults
    // come along; the ledger, the bucket claim and CHECK constraints
    // start empty
    if (!tryCommit(spark, dstDir, 0L, None, st.copy(files = files,
        txns = Map.empty, stats = stats, bloomRefs = refs, sizes = sizes,
        dvRefs = dvRefs, bucket = None, constraints = Map.empty,
        defaults = defaults), "clone"))
      throw new java.io.IOException(
        s"shallowClone: destination $dstDir committed concurrently")
    0L
  }

  /** The CHECK constraints recorded at version `v` (name → SQL
    * expression). */
  def manifestConstraints(spark: SparkSession, dir: String,
                          v: Long): Map[String, String] =
    stateOf(spark, dir, v).constraints

  /** The column initial-defaults recorded at version `v`:
    * column → (canonical literal, pre-ADD file keys still live). */
  def manifestDefaults(spark: SparkSession, dir: String, v: Long
                      ): Map[String, (String, Set[String])] =
    stateOf(spark, dir, v).defaults

  /** Record a CHECK constraint (the public `ALTER TABLE … ADD
    * CONSTRAINT … CHECK (expr)` shape): `exprSql` must hold — SQL
    * CHECK semantics, violated only when the expression evaluates to
    * FALSE; NULL passes — for every CURRENT row (validated here with
    * one scan) and for every batch any future commit lands (enforced
    * in the write paths BEFORE data lands, so a bad batch costs
    * nothing and corrupts nothing). Constraints are table policy:
    * they inherit through every commit until [[dropConstraint]].
    * At 100 TB this is the difference between quarantining a bad
    * producer at its first batch and discovering a month of NULL keys
    * during a join investigation. Returns the committed version. */
  def addConstraint(spark: SparkSession, dir: String, name: String,
                    exprSql: String, maxRetries: Int = 20): Long = {
    require(name.nonEmpty, "addConstraint: name must be non-empty")
    val base = latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(
        s"addConstraint: no committed version under $dir"))
    // Parse errors AND existing-data violations surface here, before
    // any manifest changes.
    val bad = read(spark, dir, Some(base))
      .filter(not(coalesce(expr(exprSql), lit(true)))).limit(1).collect()
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"addConstraint: existing rows violate $name ($exprSql), e.g. " +
        bad.head.mkString(","))
    commitLoop(spark, dir, "addConstraint", maxRetries) { st =>
      val base = headState(st, "addConstraint", dir)
      require(!base.constraints.contains(name),
        s"addConstraint: constraint $name already exists " +
          s"(${base.constraints(name)})")
      Some(base.copy(constraints = base.constraints + (name -> exprSql)))
    }.get
  }

  /** Drop a recorded CHECK constraint. Returns the committed
    * version. */
  def dropConstraint(spark: SparkSession, dir: String, name: String,
                     maxRetries: Int = 20): Long = {
    val base = latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(
        s"dropConstraint: no committed version under $dir"))
    require(stateOf(spark, dir, base).constraints.contains(name),
      s"dropConstraint: no such constraint $name")
    commitLoop(spark, dir, "dropConstraint", maxRetries) { st =>
      val base = headState(st, "dropConstraint", dir)
      Some(base.copy(constraints = base.constraints - name))
    }.get
  }

  // ------------------------------------------------------------------
  // Table properties (the TBLPROPERTIES surface)
  // ------------------------------------------------------------------

  /** The table properties recorded at version `v`. */
  def manifestProps(spark: SparkSession, dir: String,
                    v: Long): Map[String, String] =
    stateOf(spark, dir, v).props

  /** The property key that flips SQL DELETE/UPDATE from copy-on-write
    * to MERGE-ON-READ deletion vectors (the public Delta
    * `delta.enableDeletionVectors` idea): set it `"true"` and the DML
    * surface routes through [[deleteWhereMor]]/[[updateWhereMor]] —
    * write cost ∝ matched rows, [[compact]] materializes later. */
  val EnableDeletionVectorsKey = "graft.enableDeletionVectors"

  /** SET TBLPROPERTIES: merge `kvs` into the table's recorded
    * properties in one metadata commit. Properties are free-form
    * metadata plus documented behavior keys
    * ([[EnableDeletionVectorsKey]]); they never change READ semantics
    * (no reader feature guard), survive restore like constraints do,
    * and clone with the table. Returns the committed version. */
  def setProperties(spark: SparkSession, dir: String,
                    kvs: Map[String, String],
                    maxRetries: Int = 20): Long = {
    require(kvs.nonEmpty, "setProperties: at least one property required")
    commitProps(spark, dir, _ ++ kvs, "setProperties", maxRetries)
  }

  /** UNSET TBLPROPERTIES: drop `keys` (absent keys are fine — the SQL
    * IF EXISTS semantics). Returns the committed version. */
  def unsetProperties(spark: SparkSession, dir: String,
                      keys: Seq[String],
                      maxRetries: Int = 20): Long = {
    require(keys.nonEmpty, "unsetProperties: at least one key required")
    commitProps(spark, dir, _ -- keys, "unsetProperties", maxRetries)
  }

  private def commitProps(spark: SparkSession, dir: String,
                          f: Map[String, String] => Map[String, String],
                          op: String, maxRetries: Int): Long =
    commitLoop(spark, dir, op, maxRetries) { st =>
      val base = headState(st, op, dir)
      Some(base.copy(props = f(base.props)))
    }.get

  // ------------------------------------------------------------------
  // Column mapping admin ops (metadata-only RENAME / DROP COLUMN)
  // ------------------------------------------------------------------

  /** The column mapping recorded at version `v` (logical → physical,
    * SPARSE — identity columns are absent). Empty = logical and
    * physical names coincide (every table until its first rename). */
  def manifestColMap(spark: SparkSession, dir: String,
                     v: Long): Map[String, String] =
    stateOf(spark, dir, v).colMap

  /** Physical names of DROPPED columns at version `v` — still present
    * in old data files, never served, never reused. */
  def manifestRetired(spark: SparkSession, dir: String,
                      v: Long): Seq[String] =
    stateOf(spark, dir, v).retired

  /** The first recorded CHECK constraint whose SQL mentions column
    * `c` (word-boundary match — conservative: a false positive
    * refuses a rename/drop loudly, which is always safe). */
  private def constraintReferencing(constraints: Map[String, String],
                                    c: String): Option[(String, String)] = {
    val re = ("""(?i)(?<![A-Za-z0-9_`])""" +
      java.util.regex.Pattern.quote(c) + """(?![A-Za-z0-9_`])""").r
    constraints.toSeq.sortBy(_._1)
      .find { case (_, sql) => re.findFirstIn(sql).isDefined }
  }

  /** METADATA-ONLY column rename — the public Delta column-mapping
    * idea: data files keep their stable PHYSICAL column names; one
    * manifest commit moves the LOGICAL name, so a 100 TB table
    * renames in milliseconds with zero rewrite. Every read surface
    * serves the new name immediately; time travel reads each version
    * under ITS schema; stats/Bloom pruning keep working (their keys
    * are physical). Refused while a CHECK constraint references the
    * column (drop the constraint first — silently rewriting user SQL
    * would be worse). A bucketing claim on the renamed column carries
    * through with its column list renamed (the files' hash layout is
    * value-based, names never entered it). Returns the committed
    * version. */
  def renameColumn(spark: SparkSession, dir: String, from: String,
                   to: String, maxRetries: Int = 20): Long = {
    require(to.nonEmpty, "renameColumn: target name must be non-empty")
    require(from != to, s"renameColumn: $from -> $to is a no-op")
    commitLoop(spark, dir, "renameColumn", maxRetries) { head =>
      val st = headState(head, "renameColumn", dir)
      val schema = st.schema.getOrElse(throw new IllegalStateException(
        s"renameColumn: table under $dir records no schema (legacy " +
          "manifest) — append once to record one, then rename"))
      require(schema.fieldNames.contains(from),
        s"renameColumn: no such column $from " +
          s"(have ${schema.fieldNames.mkString(", ")})")
      require(!schema.fieldNames.contains(to),
        s"renameColumn: column $to already exists")
      constraintReferencing(st.constraints, from).foreach { case (n, sql) =>
        throw new IllegalArgumentException(
          s"renameColumn: CHECK constraint $n ($sql) references $from — " +
            "drop the constraint, rename, then re-add it under the new name")
      }
      val phys = physName(st.colMap, from)
      val newMap0 = st.colMap - from
      val newMap = if (phys == to) newMap0 else newMap0 + (to -> phys)
      val newSchema = StructType(schema.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      val newBucket = st.bucket.map(b => b.copy(
        cols = b.cols.map(c => if (c == from) to else c),
        sortCols = b.sortCols.map(c => if (c == from) to else c)))
      Some(st.copy(schema = Some(newSchema), bucket = newBucket,
        colMap = newMap))
    }.get
  }

  /** METADATA-ONLY type widening (`ALTER COLUMN … TYPE`, the public
    * Delta type-widening design): one manifest commit moves the
    * column to a wider type from the [[widens]] lattice; existing
    * data files keep their narrower pages and every read upcasts
    * through the explicit scan schema (Spark's vectorized parquet
    * reader does int32→bigint natively), so a 100 TB table widens
    * with zero rewrite. Appends may keep arriving at EITHER width
    * ([[evolveSchema]] accepts widening-compatible columns; the
    * manifest schema stays wide). Stats and Bloom summaries remain
    * valid by the lattice's construction. Time travel serves each
    * version under its own type. Returns the committed version. */
  /** METADATA-ONLY column ADD: one manifest commit appends a NULLABLE
    * column to the logical schema — zero rewrite at any table size;
    * every existing file NULL-backfills on read (the parquet
    * missing-column contract) and later appends may supply values.
    * The column is forced nullable (a non-null column over
    * NULL-backfilled history would lie). Under an active column
    * mapping a logical name that was ever used physically takes a
    * FRESH physical name (the re-add discipline — dropped bytes never
    * resurrect). Returns the committed version. */
  def addColumn(spark: SparkSession, dir: String, column: String,
                dt: DataType, maxRetries: Int = 20,
                default: Option[Any] = None): Long = {
    latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(
        s"addColumn: no committed version under $dir"))
    // DEFAULT <literal>: recorded in the manifest as a canonical
    // string and served (cast to `dt`) for exactly the files present
    // at this ADD — Iceberg's initial-default semantics. Validated by
    // actually casting it before any commit; a default that casts to
    // NULL is meaningless (plain nullable ADD does that for free).
    val defStr = default.map { dv =>
      require(dv != null, "addColumn: default must be a non-null literal")
      val str = dv.toString
      val got = spark.range(1)
        .select(lit(str).cast(dt)).collect()(0)
      require(!got.isNullAt(0),
        s"addColumn: default '$str' does not cast to ${dt.simpleString}")
      str
    }
    commitLoop(spark, dir, "addColumn", maxRetries) { head =>
      val st = headState(head, "addColumn", dir)
      val schema = st.schema.getOrElse(throw new IllegalStateException(
        s"addColumn: table under $dir records no schema (legacy " +
          "manifest) — append once to record one, then add"))
      // case-INsensitive guard: Spark's default resolution would make
      // a case-variant duplicate unreadable (ambiguous column)
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(column)),
        s"addColumn: column $column already exists")
      val newSchema = StructType(schema.fields :+
        StructField(column, dt, nullable = true))
      // mapped tables: route the new logical name through the same
      // fresh-physical discipline as append-evolution
      val newMap =
        if (st.colMap.isEmpty && st.retired.isEmpty) st.colMap
        else {
          val taken = schema.fieldNames
            .map(physName(st.colMap, _)).toSet ++ st.retired
          val p = freshPhys(column, taken)
          if (p != column) st.colMap + (column -> p) else st.colMap
        }
      Some(st.copy(schema = Some(newSchema), colMap = newMap,
        defaults = st.defaults ++
          defStr.map(d => column -> (d, st.files.toSet))))
    }.get
  }

  def widenColumn(spark: SparkSession, dir: String, column: String,
                  to: DataType, maxRetries: Int = 20): Long =
    commitLoop(spark, dir, "widenColumn", maxRetries) { head =>
      val st = headState(head, "widenColumn", dir)
      val schema = st.schema.getOrElse(throw new IllegalStateException(
        s"widenColumn: table under $dir records no schema (legacy " +
          "manifest) — append once to record one, then widen"))
      val field = schema.fields.find(_.name == column).getOrElse(
        throw new IllegalArgumentException(
          s"widenColumn: no such column $column " +
            s"(have ${schema.fieldNames.mkString(", ")})"))
      require(widens(field.dataType, to),
        s"widenColumn: ${field.dataType.simpleString} -> " +
          s"${to.simpleString} is not a supported widening " +
          "(integral chain byte->short->int->long, float->double, " +
          "decimal precision growth at fixed scale)")
      // A bucket claim HASHES on its columns, and Spark's murmur3
      // hashes an int and the same value as long differently — the
      // claim would silently become false. (sort columns are fine:
      // widening preserves order.)
      require(!st.bucket.exists(_.cols.contains(column)),
        s"widenColumn: $column is a bucket-hash column of the table's " +
          "bucketing claim — hashing is width-sensitive; compact away " +
          "the bucket layout first")
      val newSchema = StructType(schema.fields.map(f =>
        if (f.name == column) f.copy(dataType = to) else f))
      Some(st.copy(schema = Some(newSchema)))
    }.get

  /** METADATA-ONLY column drop: one manifest commit removes the
    * column from the logical schema and RETIRES its physical name —
    * the bytes stay in old files (time travel still serves them at
    * pre-drop versions) but no current read ever touches them, and a
    * later re-add of the same logical name takes a FRESH physical
    * name so the dead values can never resurrect (the Delta
    * drop-column contract). Tracked Bloom columns forget the dropped
    * physical; per-file stats entries for it become dead weight until
    * the next rewrite of each file (harmless — nothing consults
    * them). Refused while a CHECK constraint references the column; a
    * bucketing claim that hashes on it CLEARS (the layout can no
    * longer be asserted over the visible schema). Returns the
    * committed version. */
  def dropColumn(spark: SparkSession, dir: String, column: String,
                 maxRetries: Int = 20): Long =
    commitLoop(spark, dir, "dropColumn", maxRetries) { head =>
      val st = headState(head, "dropColumn", dir)
      val schema = st.schema.getOrElse(throw new IllegalStateException(
        s"dropColumn: table under $dir records no schema (legacy " +
          "manifest) — append once to record one, then drop"))
      require(schema.fieldNames.contains(column),
        s"dropColumn: no such column $column " +
          s"(have ${schema.fieldNames.mkString(", ")})")
      require(schema.fields.length > 1,
        s"dropColumn: $column is the table's only column")
      constraintReferencing(st.constraints, column).foreach {
        case (n, sql) => throw new IllegalArgumentException(
          s"dropColumn: CHECK constraint $n ($sql) references $column — " +
            "drop the constraint first")
      }
      val phys = physName(st.colMap, column)
      val newMap = st.colMap - column
      val newRetired = (st.retired :+ phys).distinct
      val newSchema = StructType(schema.fields.filterNot(_.name == column))
      val newBucket = st.bucket.filterNot(b =>
        b.cols.contains(column) || b.sortCols.contains(column))
      Some(st.copy(schema = Some(newSchema),
        bloomCols = st.bloomCols.filterNot(_ == phys), bucket = newBucket,
        colMap = newMap, retired = newRetired))
    }.get

  /** Enforce the table's recorded CHECK constraints on a batch (or a
    * rewrite that can introduce new values) BEFORE it lands: one
    * violation-probe action per constraint, each a `LIMIT 1` over the
    * batch — zero cost when the table records none. SQL CHECK
    * semantics: a row violates only when the expression is FALSE
    * (NULL passes); a constraint whose columns the batch doesn't
    * carry resolves against the NULL backfill, i.e. passes (caught as
    * the analysis error it raises on the batch frame). */
  private def enforceConstraints(spark: SparkSession, dir: String,
                                 df: DataFrame,
                                 op: String): Map[String, String] = {
    val cs = latestVersion(spark, dir)
      .map(stateOf(spark, dir, _).constraints).getOrElse(Map.empty)
    enforceConstraintSet(cs, df, op)
    cs // the VALIDATED set — commit loops re-check against it when a
       // concurrent addConstraint rebases them onto a stricter head
  }

  private def enforceConstraintSet(cs: Map[String, String], df: DataFrame,
                                   op: String): Unit =
    cs.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      val bad =
        try df.filter(not(coalesce(expr(sql), lit(true)))).limit(1).collect()
        catch {
          case _: org.apache.spark.sql.AnalysisException =>
            Array.empty[org.apache.spark.sql.Row]
        }
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"$op: CHECK constraint $name ($sql) violated, e.g. row " +
          bad.head.mkString(","))
    }

  /** The commit-loop side of constraint enforcement: when the head
    * this attempt rebases onto records constraints the caller did NOT
    * validate against (a concurrent [[addConstraint]] won the race),
    * re-probe the ALREADY-WRITTEN batch files against exactly the new
    * entries — otherwise the rebase would land rows the table's own
    * policy forbids. Returns the now-validated set. Costs nothing on
    * the common no-race path (set equality short-circuit). */
  private[graft] def recheckConstraints(spark: SparkSession, dir: String,
                                 cur: Map[String, String],
                                 validated: Map[String, String],
                                 added: Seq[String],
                                 schema: Option[StructType],
                                 op: String,
                                 colMap: Map[String, String] = Map.empty
                                ): Map[String, String] = {
    val fresh = cur.filter { case (k, sql) => !validated.get(k).contains(sql) }
    if (fresh.nonEmpty && added.nonEmpty) {
      // Constraint SQL is written against LOGICAL names; the batch
      // files carry physical ones — probe through the rename.
      val frame =
        if (colMap.isEmpty) readFiles(spark, dir, added, schema)
        else {
          val logical = schema.getOrElse(throw new IllegalStateException(
            s"$op: column mapping active under $dir but no schema"))
          toLogicalFrame(
            readFiles(spark, dir, added, Some(physSchemaOf(colMap, logical))),
            colMap, logical)
        }
      enforceConstraintSet(fresh, frame, op)
    }
    validated ++ fresh
  }

  /** RESTORE the table to a prior version's contents as a NEW commit
    * (the public `RESTORE TABLE … VERSION AS OF` shape): ONE manifest
    * write reinstating `toVersion`'s complete state — files, stats,
    * Bloom refs, deletion vectors, schema, bucket claim — with zero
    * data movement (at 100 TB an accidental table-wide DELETE undoes
    * in milliseconds, not a rewrite). History is preserved: a restore
    * is itself a versioned, restorable commit, and [[changeFeed]]
    * surfaces it as the exact row-level diff (files dropped since the
    * target re-add; files added since drop).
    *
    * The CURRENT head's transaction ledger carries forward, NOT the
    * target's: a streaming writer's replayed (appId, txnVersion) must
    * stay a manifest no-op after the rollback, or the restore would
    * re-admit every ledgered batch since the target a second time.
    * Corollary (shared with the public RESTORE designs): batches
    * landed after the target — including one committed CONCURRENTLY
    * with this restore (the retry loop re-bases and still reinstates
    * the target file set) — are undone and will NOT re-land on
    * replay; a restore serializes after every commit it observes,
    * and undoing them is exactly its contract.
    * Files the target references that the head no longer does are the
    * only ones [[vacuum]] could have retired — each is
    * existence-checked and a vacuumed-away file fails loudly BEFORE
    * any commit. Returns the new version; None when the head already
    * reads identically to the target (same files, same vectors, same
    * schema/mapping/bucket — metadata-only commits like renameColumn
    * are restorable state too, not no-ops; constraints and properties
    * are NOT compared because they inherit forward from the head
    * rather than rolling back). */
  def restore(spark: SparkSession, dir: String, toVersion: Long,
              maxRetries: Int = 20): Option[Long] = {
    val f = fs(spark, dir)
    val target = stateOf(spark, dir, toVersion) // throws once vacuumed
    val cur = latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(
        s"restore: no committed version under $dir"))
    require(toVersion <= cur,
      s"restore: target v$toVersion is beyond the head v$cur")
    commitLoop(spark, dir, "restore", maxRetries) { head =>
      val curSt = headState(head, "restore", dir)
      // The no-op check covers exactly the state a restore REINSTATES
      // (files, vectors, schema, mapping, bucket). Constraints/props
      // deliberately inherit FORWARD from the current head (policy
      // survives rollback), so they must not participate here — a
      // head differing from the target only in constraints would
      // otherwise commit a version identical to itself.
      val unchanged = curSt.files.toSet == target.files.toSet &&
        curSt.dvRefs == target.dvRefs &&
        curSt.schema == target.schema &&
        curSt.colMap == target.colMap &&
        curSt.retired == target.retired &&
        curSt.defaults == target.defaults &&
        curSt.bucket == target.bucket
      if (unchanged) None
      else {
        val gone = target.files.filterNot(curSt.files.toSet)
          .filterNot { p =>
            f.exists(if (p.startsWith("data/")) new Path(dir, p)
                     else new Path(p))
          }
        if (gone.nonEmpty) throw new java.io.IOException(
          s"restore: v$toVersion data files already vacuumed: " +
            gone.take(3).mkString(", "))
        // The target's state reinstates whole — files, vectors, schema,
        // bucket claim, its column mapping (a restore across a
        // rename/drop rolls the names back too) and column defaults
        // (schema-adjacent structure) — while the ledger and table
        // policy carry forward from the head.
        Some(target.copy(txns = curSt.txns,
          constraints = curSt.constraints, props = curSt.props))
      }
    }
  }

  /** Retire data files referenced by NO manifest among the latest
    * `keepVersions` (orphans from crashed appends included), and drop
    * the manifests older than that window. Time travel shrinks to the
    * kept window; the latest snapshot is never touched. `minAgeMs`
    * guards the append-in-flight race: a writer that has written data
    * files but not yet committed its manifest looks exactly like a
    * crashed append, so only unreferenced files older than the age
    * floor are deleted — pick it longer than any plausible
    * write-to-commit gap (the Delta retention discipline). Returns
    * the number of data files deleted. */
  /** READ-ONLY [[vacuum]] preview — what the same (keepVersions,
    * minAgeMs) run would retire, without touching anything: (data
    * files eligible for deletion, manifests below the keep window).
    * The dry run every retention change gets pointed at first — at
    * 100 TB a mis-set keepVersions is the difference between "freed
    * some orphans" and "destroyed a month of time travel". */
  def vacuumPreview(spark: SparkSession, dir: String, keepVersions: Int = 2,
                    minAgeMs: Long = 60L * 60 * 1000): (Int, Int) = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val f = fs(spark, dir)
    val latest = latestVersion(spark, dir).getOrElse(return (0, 0))
    val keepFrom = math.max(0L, latest - (keepVersions - 1))
    val referenced = (keepFrom to latest)
      .filter(v => f.exists(manifestPath(dir, v)))
      .flatMap(v => manifestFiles(spark, dir, v)).toSet
    val dataRoot = new Path(dir, "data")
    val cutoff = System.currentTimeMillis() - minAgeMs
    var files = 0
    if (f.exists(dataRoot)) {
      val it = f.listFiles(dataRoot, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile &&
            !referenced.contains(manifestKey(dir, st.getPath.toString)) &&
            st.getModificationTime <= cutoff)
          files += 1
      }
    }
    val manifests = (0L until keepFrom)
      .count(v => f.exists(manifestPath(dir, v)))
    (files, manifests)
  }

  /** TIME-based retention (the public `VACUUM … RETAIN n HOURS`
    * semantic), translated onto the version-count kernel: every
    * version whose monotonicity-adjusted commit time is at or after
    * `now − retainMs` survives — time travel within the window keeps
    * working, the latest version always survives. Returns the
    * keepVersions equivalent, so callers can preview with
    * [[vacuumPreview]] before [[vacuum]]. Legacy stampless manifests
    * sort as old as possible (the [[commitTimeline]] contract) — they
    * fall outside any finite window. */
  def keepVersionsForRetention(spark: SparkSession, dir: String,
                               retainMs: Long): Int = {
    val latest = latestVersion(spark, dir).getOrElse(return 1)
    val cutoff = System.currentTimeMillis() - retainMs
    // keepFrom = the version CURRENT AT the window boundary (the last
    // one committed at-or-before the cutoff): TIMESTAMP AS OF any
    // instant inside the window must keep resolving, including
    // instants before the first in-window commit. All commits inside
    // the window → keep everything.
    val keepFrom = commitTimeline(spark, dir)
      .filter(_._2 <= cutoff).map(_._1).lastOption.getOrElse(0L)
    math.max(1, (latest - keepFrom + 1).toInt)
  }

  def vacuum(spark: SparkSession, dir: String, keepVersions: Int = 2,
             minAgeMs: Long = 60L * 60 * 1000): Int = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val f = fs(spark, dir)
    val latest = latestVersion(spark, dir).getOrElse(return 0)
    val keepFrom = math.max(0L, latest - (keepVersions - 1))
    val referenced = (keepFrom to latest)
      .filter(v => f.exists(manifestPath(dir, v)))
      .flatMap(v => manifestFiles(spark, dir, v)).toSet
    val dataRoot = new Path(dir, "data")
    if (!f.exists(dataRoot)) return 0
    val cutoff = System.currentTimeMillis() - minAgeMs
    var deleted = 0
    // Recursive walk: appendPartitioned nests partition directories
    // under the batch dir, so a two-level listing would silently leak
    // partitioned orphans forever. Only files under OUR data/ are
    // candidates; a shallowClone's foreign absolute references are
    // never touched (they are not under this listing), and our files
    // a clone references ARE still referenced by our own kept
    // manifests — the clone-vs-source-vacuum contract is documented
    // on [[shallowClone]].
    val it = f.listFiles(dataRoot, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile) {
        val key = manifestKey(dir, st.getPath.toString)
        if (!referenced.contains(key) && st.getModificationTime <= cutoff) {
          if (f.delete(st.getPath, false)) deleted += 1
        }
      }
    }
    def pruneEmptyDirs(p: Path): Boolean = { // true = now empty+removed
      val children = f.listStatus(p)
      val allGone = children.forall { c =>
        c.isDirectory && pruneEmptyDirs(c.getPath)
      }
      if (allGone && children.nonEmpty || children.isEmpty) {
        if (p != dataRoot) f.delete(p, false) else false
      } else false
    }
    pruneEmptyDirs(dataRoot)
    // Before the pre-window manifests go, the window's OLDEST version
    // must become self-contained: a delta-form manifest at keepFrom
    // would need the very chain being deleted to reconstruct. Rewrite
    // it in full checkpoint form (equivalent state, so any reader sees
    // the same snapshot; janitor-only op per this method's contract).
    if (keepFrom > 0L) {
      val st = stateOf(spark, dir, keepFrom)
      val node = manifestNode(spark, dir, keepFrom)
      // A segmented checkpoint is already self-contained (its
      // segments are kept by the segment GC below) — only delta-form
      // manifests need the rewrite.
      if (node.get("files") == null && node.get("segments") == null) {
        val origOp = Option(node.get("op")).map(_.asText)
          .getOrElse("commit")
        // The rewrite must carry the COMPLETE state — including the
        // bucket claim and CHECK constraints, which the original
        // delta-form manifest asserted/inherited; omitting either
        // would silently strip table policy at the keepFrom version.
        val origTs = Option(node.get("ts")).map(_.asLong)
        // The parent is read only for segment reuse.
        val parent = scala.util.Try(stateOf(spark, dir, keepFrom - 1)).toOption
        val body = manifestBody(spark, dir, keepFrom, parent, st,
          full = true, origOp, tsOverride = origTs,
          // a legacy stampless manifest stays stampless — see
          // manifestBody's ts discipline
          stampTs = origTs.isDefined)
        commitLock.synchronized {
          // Rename OVER the target (POSIX/local rename overwrites in
          // place — no instant at which v<keepFrom> is missing for a
          // concurrent reader, who takes no lock). Filesystems whose
          // rename refuses an existing destination (HDFS-class) fall
          // back inside atomicWriteText to delete+rename — the only
          // remaining (store-imposed) window.
          TableIO.atomicWriteText(f, manifestPath(dir, keepFrom), body)
        }
      }
    }
    // Old manifests: anything before the keep window. Cached states
    // below the horizon are dropped too — a vacuumed version must
    // fail loudly, not serve stale file lists whose data is gone.
    (0L until keepFrom).foreach { v =>
      val p = manifestPath(dir, v)
      if (f.exists(p)) f.delete(p, false)
    }
    val dirKey = new Path(dir).toUri.getPath
    stateCache.synchronized {
      val it = stateCache.keySet.iterator()
      while (it.hasNext) {
        val (d, v, _, _) = it.next()
        if (d == dirKey && v < keepFrom) it.remove()
      }
    }
    // Checkpoint SEGMENTS referenced by no kept manifest are orphans
    // (superseded by later checkpoints' folds, lost commit races,
    // vacuumed versions). Age-guarded: a segment written by an
    // in-flight checkpoint that has not CAS'd its manifest yet must
    // survive. Segment names are UUID-fresh, so a kept reference can
    // never be confused with an orphan.
    val keptSegs = (keepFrom to latest)
      .filter(v => f.exists(manifestPath(dir, v)))
      .flatMap(v => stateOf(spark, dir, v).segments.map(_._1)).toSet
    f.listStatus(manifestDir(dir)).foreach { s =>
      val nm = s.getPath.getName
      if (s.isFile && nm.startsWith("seg-") && nm.endsWith(".json") &&
          !keptSegs.contains(nm) && s.getModificationTime <= cutoff)
        f.delete(s.getPath, false)
    }
    // Bloom sidecars referenced by NO kept manifest are orphans too
    // (crashed appends, vacuumed batches). Age-guarded like data
    // files: a written-not-yet-committed sidecar must survive.
    val bloomRoot = new Path(dir, "_blooms")
    if (f.exists(bloomRoot)) {
      val keptRefs = (keepFrom to latest)
        .filter(v => f.exists(manifestPath(dir, v)))
        .flatMap(v => stateOf(spark, dir, v).bloomRefs.values).toSet
      f.listStatus(bloomRoot).foreach { s =>
        val rel = s"_blooms/${s.getPath.getName}"
        if (s.isFile && !keptRefs.contains(rel) &&
            s.getModificationTime <= cutoff)
          f.delete(s.getPath, false)
      }
    }
    // Deletion-vector sidecars (parquet DIRECTORIES under _dv/): same
    // orphan rule — superseded vectors (a later MoR delete replaced
    // the file's ref) and vectors of vacuumed versions GC once no
    // kept manifest references them.
    val dvRoot = new Path(dir, "_dv")
    if (f.exists(dvRoot)) {
      val keptDvRefs = (keepFrom to latest)
        .filter(v => f.exists(manifestPath(dir, v)))
        .flatMap(v => stateOf(spark, dir, v).dvRefs.values).toSet
      f.listStatus(dvRoot).foreach { s =>
        val rel = s"_dv/${s.getPath.getName}"
        if (s.isDirectory && !keptDvRefs.contains(rel) &&
            s.getModificationTime <= cutoff)
          f.delete(s.getPath, true)
      }
    }
    deleted
  }

  // ------------------------------------------------------------------
  // Row-level operations (copy-on-write)
  // ------------------------------------------------------------------

  /** Columns the current manifest tracks stats for — rewrites keep
    * tracking them so data skipping survives row-level ops. */
  private def trackedStatsCols(spark: SparkSession, dir: String,
                               v: Long): Seq[String] =
    manifestStats(spark, dir, v).values.flatMap(_.keys).toSeq.distinct

  private def trackedBloomCols(spark: SparkSession, dir: String,
                               v: Long): Seq[String] =
    stateOf(spark, dir, v).bloomCols

  /** The current snapshot (deletion vectors applied — a row-level op
    * must never see, match, or rewrite a MoR-deleted row) with a
    * `__file` column carrying each row's manifest key and
    * `__row_index` its in-file position. Both are computed at the
    * SCAN (from `_metadata`) because a post-join `input_file_name()`
    * is undefined. */
  private def withFile(spark: SparkSession, dir: String, v: Long,
                       only: Option[Seq[String]] = None,
                       applyDv: Boolean = true): DataFrame = {
    val st = stateOf(spark, dir, v)
    val files = only.getOrElse(st.files)
    val schema = manifestSchema(spark, dir, v)
    // Under an active column mapping the scan reads PHYSICAL names;
    // the final select below renames to logical, so callers' keys and
    // predicates resolve as users wrote them.
    val physSchema =
      if (st.colMap.isEmpty) schema
      else Some(physSchemaOf(st.colMap, schema.getOrElse(
        throw new IllegalStateException(
          s"column mapping active under $dir but no recorded schema"))))
    val base = readFiles(spark, dir, files, physSchema)
    val cols = base.columns.map(col)
    val keyed0 = base.select(cols :+
      fileKeyExpr(dir, col("_metadata.file_path")).as("__file") :+
      col("_metadata.row_index").as("__row_index"): _*)
    // initial DEFAULTS: row-level conditions (delete/update/merge
    // probes) must see the served values, or a predicate on a
    // defaulted column would silently miss every pre-ADD row. __file
    // is in hand here, so the replacement is a per-column when() over
    // the scanned subset's pre-ADD files (bounded by `files`).
    val keyed = st.defaults.foldLeft(keyed0) {
      case (df, (c, (dv, pre))) =>
        val subset = files.filter(pre)
        val dt = schema.flatMap(_.fields.find(_.name == c)).map(_.dataType)
        if (subset.isEmpty || dt.isEmpty) df
        else {
          val pc = physName(st.colMap, c)
          df.withColumn(pc, when(col("__file").isin(subset: _*),
            lit(dv).cast(dt.get)).otherwise(col(pc)))
        }
    }
    val live =
      if (!applyDv) keyed // position-delta consumers mask themselves
      else dvRows(spark, dir, st.dvRefs, files) match {
        case None => keyed
        case Some(dv) => keyed.join(broadcast(dv),
          col("__file") === col("__dv_file") &&
            col("__row_index") === col("__dv_rowidx"), "left_anti")
      }
    val physOut = live.select(cols :+ col("__file") :+ col("__row_index"): _*)
    if (st.colMap.isEmpty) physOut
    else toLogicalFrame(physOut, st.colMap, schema.get)
  }

  /** The shared tail of every touched/affected-file probe: distinct
    * values of a file-name column, collected. The final aggregation
    * stage is COALESCED TO ONE TASK: map-side partial aggregation has
    * already cut each scan task's output to at most the file count,
    * the result is driver-bounded by contract (it is about to be
    * collected), and with adaptive execution off inside probes the
    * exchange would otherwise run `spark.sql.shuffle.partitions`
    * near-empty reduce tasks on every probe. */
  private def collectFileCol(df: DataFrame, c: String): Seq[String] =
    df.select(c).distinct().coalesce(1)
      .collect().map(_.getString(0)).toSeq

  /** Copy-on-write row DELETE: rewrites ONLY the files that contain a
    * matching row (found via one `input_file_name()` scan), commits a
    * snapshot dropping them and adding their filtered rewrites; every
    * untouched file carries forward by reference. Returns the new
    * version, or None when nothing matched (no commit at all).
    *
    * Concurrency: an append racing the commit re-bases fine; but if a
    * TOUCHED file vanishes from the current manifest (a concurrent
    * compact/delete/merge rewrote it), committing would resurrect its
    * deleted rows — that is a genuine write-write conflict and this
    * throws ConcurrentModificationException, the same surface Delta's
    * conflict checker gives. The touched-file collect is
    * file-count-bounded control plane. */
  def deleteWhere(spark: SparkSession, dir: String, condition: Column,
                  maxRetries: Int = 20): Option[Long] = {
    val base = latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(s"deleteWhere: no committed version under $dir"))
    if (manifestFiles(spark, dir, base).isEmpty) return None
    val touched = probe(spark, "delete-where:touched-probe") {
      collectFileCol(withFile(spark, dir, base).filter(condition), "__file")
        .map(manifestKey(dir, _)).sorted
    }
    if (touched.isEmpty) return None
    val baseDv = stateOf(spark, dir, base).dvRefs
    val survivors =
      readFilesWithDv(spark, dir, touched, manifestSchema(spark, dir, base),
        baseDv, stateOf(spark, dir, base).colMap,
        stateOf(spark, dir, base).defaults)
        .filter(not(condition))
    commitRewrite(spark, dir, touched, survivors,
      trackedStatsCols(spark, dir, base),
      trackedBloomCols(spark, dir, base), maxRetries, "deleteWhere",
      baseDv = baseDv, basis = Some(stateOf(spark, dir, base)))
  }

  /** Copy-on-write row UPDATE — the remaining corner of the CRUD
    * surface ([[deleteWhere]]/[[merge]]'s sibling, the public
    * `UPDATE t SET c = expr WHERE cond` shape): rewrites ONLY the
    * files containing a matching row; within them, matched rows take
    * the SET expressions (evaluated against the pre-update row, as
    * SQL UPDATE defines) and unmatched rows carry byte-unchanged.
    * SET columns must already exist (add-column evolution is
    * [[append]]'s job; a typo'd SET column must not silently fork the
    * schema). Same conflict surface as deleteWhere: a touched file
    * rewritten concurrently throws ConcurrentModificationException.
    * Returns the new version, or None when nothing matched. */
  def updateWhere(spark: SparkSession, dir: String, condition: Column,
                  set: Seq[(String, Column)],
                  maxRetries: Int = 20): Option[Long] = {
    require(set.nonEmpty, "updateWhere: at least one SET column required")
    // SQL UPDATE rejects duplicate assignments; set.toMap below would
    // otherwise silently keep only the last one.
    require(set.map(_._1).distinct.length == set.length,
      s"updateWhere: duplicate SET columns: " +
        s"${set.map(_._1).diff(set.map(_._1).distinct).distinct.mkString(", ")}")
    val base = latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(s"updateWhere: no committed version under $dir"))
    val schema = manifestSchema(spark, dir, base)
    // Typo'd-SET guard must hold on pre-schema-recording manifests
    // too (schema == None): fall back to the table's read schema —
    // otherwise a misspelled column silently no-ops the update.
    val fieldNames = schema.map(_.fieldNames.toSeq)
      .getOrElse(read(spark, dir, Some(base)).columns.toSeq)
    set.foreach { case (c, _) =>
      require(fieldNames.contains(c),
        s"updateWhere: SET column $c does not exist (columns: " +
          s"${fieldNames.mkString(", ")})")
    }
    if (manifestFiles(spark, dir, base).isEmpty) return None
    val touched = probe(spark, "update-where:touched-probe") {
      collectFileCol(withFile(spark, dir, base).filter(condition), "__file")
        .map(manifestKey(dir, _)).sorted
    }
    if (touched.isEmpty) return None
    val baseDv = stateOf(spark, dir, base).dvRefs
    val src = readFilesWithDv(spark, dir, touched, schema, baseDv,
      stateOf(spark, dir, base).colMap,
      stateOf(spark, dir, base).defaults)
    // All SET expressions see the PRE-update row: project them in one
    // select, not a fold of withColumn (which would let later SETs
    // read earlier SETs' outputs — not SQL UPDATE semantics).
    val setMap = set.toMap
    val rewritten = src.select(src.columns.map { c =>
      setMap.get(c) match {
        case Some(v) => when(condition, v).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)
    val vcs = enforceConstraints(spark, dir, rewritten, "updateWhere")
    commitRewrite(spark, dir, touched, rewritten,
      trackedStatsCols(spark, dir, base),
      trackedBloomCols(spark, dir, base), maxRetries, "updateWhere",
      baseDv = baseDv, checkConstraints = Some(vcs),
      basis = Some(stateOf(spark, dir, base)))
  }

  /** MERGE-ON-READ row DELETE — the write-cheap sibling of
    * [[deleteWhere]]: instead of rewriting every file that holds a
    * matching row (CoW — write cost proportional to TOUCHED BYTES),
    * commit a DELETION VECTOR per affected file (the matched rows'
    * in-file positions, a parquet sidecar under `_dv/`) and leave
    * every data byte in place — write cost proportional to DELETED
    * ROWS. Readers apply the vectors as a broadcast anti-join on
    * `_metadata.row_index` ([[readFilesWithDv]]); [[compact]] is the
    * purge: its rewrite materializes the deletes and retires the
    * vectors. The CoW/MoR trade is the public Delta/Iceberg one —
    * MoR wins when deletes are small and frequent (GDPR erasure,
    * streaming retractions) against huge files; CoW wins for bulk
    * deletes that would mask most of a file anyway.
    *
    * Vectors COMPOSE: a second MoR delete unions its positions with
    * the file's existing vector into a fresh sidecar (the manifest's
    * per-file ref replaces — old sidecars become vacuumable once out
    * of the retention window). Conflicts are loud: a concurrently
    * rewritten file, or a concurrently advanced vector on an
    * affected file, throws ConcurrentModificationException. Returns
    * the committed version; None when nothing matched. */
  def deleteWhereMor(spark: SparkSession, dir: String, condition: Column,
                     maxRetries: Int = 20): Option[Long] = {
    val base = latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(
        s"deleteWhereMor: no committed version under $dir"))
    val baseSt = stateOf(spark, dir, base)
    if (baseSt.files.isEmpty) return None
    // Matches among LIVE rows only (existing vectors applied): a
    // row already masked must not land in the new vector twice.
    // Persisted: the affected-files collect and the vector write both
    // consume it — uncached each re-runs the scan + DV anti-join.
    val matches = withFile(spark, dir, base)
      .filter(condition)
      .select(col("__file").as("file"), col("__row_index").as("row_index"))
      .persist()
    try {
    val affected = probe(spark, "delete-mor:affected-probe") {
      collectFileCol(matches, "file").sorted
    }
    if (affected.isEmpty) return None
    // Cumulative vector per affected file: previous positions ∪ new.
    val prior = dvRows(spark, dir, baseSt.dvRefs, affected)
      .map(_.filter(col("__dv_file").isin(affected: _*))
        .select(col("__dv_file").as("file"),
          col("__dv_rowidx").as("row_index")))
    val vector = prior.map(matches.unionByName(_).distinct())
      .getOrElse(matches)
    val batch = java.util.UUID.randomUUID().toString
    val ref = s"_dv/$batch"
    labeled(spark, "delete-mor:vector-write") {
      internalWrite(vector, new Path(dir, ref).toString)
    }
    commitLoop(spark, dir, "deleteWhereMor", maxRetries,
        recordAs = Some("deleteMor")) { head =>
      val curSt = headState(head, "deleteWhereMor", dir)
      val missing = affected.filterNot(curSt.files.toSet)
      if (missing.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"deleteWhereMor: affected files rewritten concurrently: " +
            missing.take(3).mkString(", "))
      val dvMoved = affected.filter(f =>
        curSt.dvRefs.get(f) != baseSt.dvRefs.get(f))
      if (dvMoved.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"deleteWhereMor: deletion vectors advanced concurrently on " +
            s"${dvMoved.take(3).mkString(", ")}")
      Some(curSt.copy(dvRefs = curSt.dvRefs ++ affected.map(_ -> ref),
        bucket = None))
    }
    } finally matches.unpersist(false)
  }

  /** MERGE-ON-READ row UPDATE — [[updateWhere]]'s write-cheap sibling
    * (the Delta DV-update design): matched rows are MASKED by a
    * deletion vector on their current files while their UPDATED forms
    * (SET expressions over the pre-update row) land as NEW files —
    * one commit, write cost proportional to MATCHED ROWS, not touched
    * bytes. At 100 TB, updating a handful of rows scattered across
    * thousand-file terabytes costs kilobytes of vector plus one small
    * data file, where CoW would rewrite every touched gigabyte.
    * Readers see the update immediately (vectors apply on every read
    * path); [[changeFeed]] surfaces it as exact delete+insert pairs
    * (dv-advanced files re-diff, new files are inserts), so
    * [[MaterializedAgg]] maintenance keeps working; [[compact]]
    * materializes the masks away. Same SET-column guards as
    * [[updateWhere]], same conflict surface as [[deleteWhereMor]]
    * (concurrently rewritten or re-vectored affected files throw).
    * The bucket claim clears (the new files aren't bucket-routed).
    * Returns the committed version; None when nothing matched. */
  def updateWhereMor(spark: SparkSession, dir: String, condition: Column,
                     set: Seq[(String, Column)],
                     maxRetries: Int = 20): Option[Long] = {
    require(set.nonEmpty, "updateWhereMor: at least one SET column required")
    require(set.map(_._1).distinct.length == set.length,
      s"updateWhereMor: duplicate SET columns: " +
        s"${set.map(_._1).diff(set.map(_._1).distinct).distinct.mkString(", ")}")
    val base = latestVersion(spark, dir).getOrElse(
      throw new java.io.IOException(
        s"updateWhereMor: no committed version under $dir"))
    val baseSt = stateOf(spark, dir, base)
    if (baseSt.files.isEmpty) return None
    val schema = manifestSchema(spark, dir, base)
    val fieldNames = schema.map(_.fieldNames.toSeq)
      .getOrElse(read(spark, dir, Some(base)).columns.toSeq)
    set.foreach { case (c, _) =>
      require(fieldNames.contains(c),
        s"updateWhereMor: SET column $c does not exist (columns: " +
          s"${fieldNames.mkString(", ")})")
    }
    // Matches among LIVE rows only, carrying their physical
    // positions. PERSISTED: the affected-files collect, the new-file
    // write, the vector write and any constraint probes all derive
    // from this frame — uncached, each would re-run the full
    // scan + DV anti-join, betraying the op's write-cost-∝-matched-
    // rows pitch.
    val matches = withFile(spark, dir, base).filter(condition).persist()
    try {
    val positions = matches.select(col("__file").as("file"),
      col("__row_index").as("row_index"))
    val affected = probe(spark, "update-mor:affected-probe") {
      collectFileCol(positions, "file").sorted
    }
    if (affected.isEmpty) return None
    // The updated forms: every row here matched, so the SET columns
    // project unconditionally — all against the PRE-update row.
    val setMap = set.toMap
    val updated = matches.select(fieldNames.map(c =>
      setMap.get(c).map(_.as(c)).getOrElse(col(c))): _*)
    var validated = enforceConstraints(spark, dir, updated, "updateWhereMor")
    // basis = base state: `updated` carries base-version logical names
    val wb = writeBatch(updated, dir, trackedStatsCols(spark, dir, base),
        trackedBloomCols(spark, dir, base), strictBlooms = false,
        basis = Some(baseSt))
    // Cumulative vector per affected file: previous positions ∪ new.
    val prior = dvRows(spark, dir, baseSt.dvRefs, affected)
      .map(_.filter(col("__dv_file").isin(affected: _*))
        .select(col("__dv_file").as("file"),
          col("__dv_rowidx").as("row_index")))
    val vector = prior.map(positions.unionByName(_).distinct())
      .getOrElse(positions)
    val batch = java.util.UUID.randomUUID().toString
    val ref = s"_dv/$batch"
    labeled(spark, "update-mor:vector-write") {
      internalWrite(vector, new Path(dir, ref).toString)
    }
    commitLoop(spark, dir, "updateWhereMor", maxRetries,
        recordAs = Some("updateMor")) { head =>
      val curSt = headState(head, "updateWhereMor", dir)
      checkMapClaim(Some(curSt), wb.claim, "updateWhereMor")
      val missing = affected.filterNot(curSt.files.toSet)
      if (missing.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"updateWhereMor: affected files rewritten concurrently: " +
            missing.take(3).mkString(", "))
      val dvMoved = affected.filter(f =>
        curSt.dvRefs.get(f) != baseSt.dvRefs.get(f))
      if (dvMoved.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"updateWhereMor: deletion vectors advanced concurrently on " +
            s"${dvMoved.take(3).mkString(", ")}")
      val nextSchema = Some(curSt.schema
        .map(evolveSchema(_, updated.schema))
        .getOrElse(evolveSchema(new StructType(), updated.schema)))
      validated = recheckConstraints(spark, dir, curSt.constraints,
        validated, wb.added, nextSchema, "updateWhereMor",
        wb.claim.map(_.colMap).getOrElse(Map.empty))
      Some(withClaim(curSt.copy(files = curSt.files ++ wb.added,
        stats = curSt.stats ++ wb.stats, schema = nextSchema,
        bloomRefs = curSt.bloomRefs ++ wb.refs,
        bloomCols = (curSt.bloomCols ++ wb.bloomCols).distinct,
        sizes = curSt.sizes ++ wb.sizes,
        dvRefs = curSt.dvRefs ++ affected.map(_ -> ref), bucket = None),
        wb.claim))
    }
    } finally matches.unpersist(false)
  }

  /** Copy-on-write MERGE (upsert): for key-matched rows the source row
    * replaces the target row; unmatched source rows are inserted.
    * Only files containing a matched key are rewritten (matched via a
    * key semi-join against one `input_file_name()` scan — at 100 TB
    * this is what makes a small CDC batch cheap: the untouched bulk of
    * the table is never read past its stats, let alone rewritten).
    * `source` must be key-unique (the classic MERGE precondition —
    * enforced, failing loudly on duplicate keys) and schema-compatible
    * (union by name). Returns the committed version. */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
            keys: Seq[String], maxRetries: Int = 20): Long =
    mergeImpl(spark, dir, source, keys, None, maxRetries).getOrElse(
      throw new IllegalStateException("merge: rewrite commit returned no version"))

  /** EXACTLY-ONCE MERGE for replayable writers — [[merge]] under the
    * same per-appId transaction ledger as [[transactionalAppend]]: a
    * replayed (appId, txnVersion) is a manifest no-op (None, data
    * files left as vacuumable orphans), so a Structured Streaming
    * foreachBatch CDC apply lands each micro-batch's upsert exactly
    * once across checkpoint-recovery replays
    * ([[graft.streaming.SnapshotSink.startMerge]] is the sink twin).
    * Batches must be applied in batch-id order per app — which the
    * ledger's monotonicity enforces for free. */
  def transactionalMerge(spark: SparkSession, dir: String,
                         source: DataFrame, keys: Seq[String],
                         appId: String, txnVersion: Long,
                         maxRetries: Int = 20): Option[Long] = {
    require(appId.nonEmpty, "transactionalMerge: appId must be non-empty")
    val pre = latestVersion(spark, dir)
      .map(manifestTxns(spark, dir, _)).getOrElse(Map.empty)
    if (pre.getOrElse(appId, Long.MinValue) >= txnVersion) return None
    mergeImpl(spark, dir, source, keys, Some(appId -> txnVersion), maxRetries)
  }

  private def mergeImpl(spark: SparkSession, dir: String, source: DataFrame,
                        keys: Seq[String], txn: Option[(String, Long)],
                        maxRetries: Int): Option[Long] = {
    require(keys.nonEmpty, "merge: at least one key column required")
    // An uninitialized table is a valid merge target: everything
    // inserts (what a streaming CDC apply's FIRST micro-batch needs).
    val base = latestVersion(spark, dir)
    // Only SOURCE rows introduce new values — carried rows were
    // validated when they landed.
    val vcs = enforceConstraints(spark, dir, source, "merge")
    val dupKeys = source.groupBy(keys.map(col): _*)
      .count().filter(col("count") > 1).limit(1).collect()
    require(dupKeys.isEmpty,
      s"merge: source has duplicate keys, e.g. ${dupKeys.head.mkString(",")}")
    val srcKeys = source.select(keys.map(col): _*).distinct()
    val touched = base match {
      case Some(v) if manifestFiles(spark, dir, v).nonEmpty =>
        collectFileCol(withFile(spark, dir, v)
          .join(srcKeys, keys, "left_semi"), "__file")
          .map(manifestKey(dir, _)).sorted
      case _ => Seq.empty[String]
    }
    val baseDv = base.map(stateOf(spark, dir, _).dvRefs).getOrElse(Map.empty)
    val rewrite =
      if (touched.isEmpty) source
      else readFilesWithDv(spark, dir, touched,
          base.flatMap(manifestSchema(spark, dir, _)), baseDv,
          base.map(stateOf(spark, dir, _).colMap).getOrElse(Map.empty),
          base.map(stateOf(spark, dir, _).defaults).getOrElse(Map.empty))
        .join(srcKeys, keys, "left_anti")
        .unionByName(source)
    commitRewrite(spark, dir, touched, rewrite,
      base.map(trackedStatsCols(spark, dir, _)).getOrElse(Nil),
      base.map(trackedBloomCols(spark, dir, _)).getOrElse(Nil),
      maxRetries, "merge", txn,
      keyConflict = Some((
        base.map(manifestFiles(spark, dir, _)).getOrElse(Nil).toSet,
        keys, srcKeys)),
      baseDv = baseDv, checkConstraints = Some(vcs),
      basis = base.map(stateOf(spark, dir, _)))
  }

  /** One action of a generalized [[mergeInto]] clause. Expression
    * payloads are SQL text, resolved by Spark's analyzer against the
    * joined target/source frame — qualify column references with the
    * aliases passed to [[mergeInto]] where both sides share a name. */
  sealed trait MergeAction
  object MergeAction {
    /** `UPDATE SET col = expr, …` — unassigned target columns keep
      * their value. */
    final case class Update(assigns: Seq[(String, String)]) extends MergeAction
    /** `UPDATE SET *` — every target column the source also has takes
      * the source value; the rest keep theirs. */
    case object UpdateAll extends MergeAction
    /** Remove the target row. */
    case object Delete extends MergeAction
    /** `INSERT (cols) VALUES (exprs)` — unassigned target columns
      * land NULL. */
    final case class Insert(assigns: Seq[(String, String)]) extends MergeAction
    /** `INSERT *` — by name; target columns the source lacks land
      * NULL. */
    case object InsertAll extends MergeAction
  }

  /** `WHEN … [AND condition] THEN action`. `condition` is SQL text
    * over the joined frame (aliases in scope); None = unconditional —
    * allowed only on a group's LAST clause (an earlier unconditional
    * clause would shadow the rest). */
  final case class MergeClause(condition: Option[String],
                               action: MergeAction)

  /** Generalized copy-on-write MERGE — the full public MERGE grammar
    * over equi-key matching (the key-upsert contract [[merge]]
    * established, extended to arbitrary clause logic):
    *
    *   - `matched` clauses apply, first-match-wins, to target rows a
    *     source row key-matches: conditional `UPDATE SET col = expr`,
    *     `UPDATE SET *`, or `DELETE`.
    *   - `notMatched` clauses apply to source rows matching no target
    *     row: conditional `INSERT (cols) VALUES (exprs)` / `INSERT *`.
    *   - `notMatchedBySource` clauses apply to target rows no source
    *     row matches: conditional `UPDATE SET …` / `DELETE`. Their
    *     conditions may reference the TARGET side only.
    *
    * Scale shape: only files that can change are rewritten — files
    * holding a source key (one semi-join against a single
    * `input_file_name()` scan), plus, when `notMatchedBySource`
    * clauses exist, files holding an unmatched row that satisfies ANY
    * by-source condition (one anti-join scan with the disjunction
    * pushed down, so stats-pruning bounds it). The untouched bulk of
    * a 100 TB table is never read past its stats. The decision logic
    * itself is ONE full-outer join of the touched rows with the
    * source, compiled to a single when-chain select — no per-clause
    * passes.
    *
    * Source must be key-unique (the classic MERGE cardinality
    * precondition — enforced, failing loudly). Computed values cast
    * to the target column types under the session's
    * `spark.sql.storeAssignmentPolicy` (ANSI default: overflow or
    * malformed values fail the merge loudly; STRICT refuses unsafe
    * casts at COMMAND time — the when-chains' types resolve against
    * the join schema before anything is written). The output schema is
    * exactly the target schema — the whole-row [[merge]] remains the
    * add-column-evolution path. Commit-time conflict checks match
    * [[merge]]: touched files rewritten or deletion-vector-advanced
    * concurrently, and concurrently-added files holding source keys,
    * fail with ConcurrentModificationException. An INSERT-ONLY merge
    * additionally reads (never rewrites) the files holding its source
    * keys to suppress inserts of present keys; those holder files are
    * conflict-GUARDED like touched files (a concurrent DELETE or DV
    * advance on one invalidates the suppression decision and fails the
    * commit loudly instead of letting the suppression silently stand).
    * Returns the committed version; None when nothing could change. */
  def mergeInto(spark: SparkSession, dir: String, source: DataFrame,
                keys: Seq[String],
                matched: Seq[MergeClause] = Nil,
                notMatched: Seq[MergeClause] = Nil,
                notMatchedBySource: Seq[MergeClause] = Nil,
                targetAlias: String = "t", sourceAlias: String = "s",
                maxRetries: Int = 20,
                sourceKeys: Seq[String] = Nil): Option[Long] = {
    import MergeAction._
    require(keys.nonEmpty, "mergeInto: at least one key column required")
    // ON may pair DIFFERENTLY-NAMED columns (t.id = s.src_id):
    // `sourceKeys` gives the source-side names positionally; empty =
    // same names. All internal key probes use the TARGET names (the
    // source key frame renames up front); UPDATE SET * / INSERT *
    // route a target key column to its PAIRED source column.
    val sKeys = if (sourceKeys.isEmpty) keys else sourceKeys
    require(sKeys.length == keys.length,
      "mergeInto: sourceKeys must pair keys positionally")
    sKeys.foreach(sk => require(source.columns.contains(sk),
      s"mergeInto: source key column $sk is not in the source"))
    val keyPair: Map[String, String] =
      keys.zip(sKeys).filter(p => p._1 != p._2).toMap
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "mergeInto: no clauses")
    require(targetAlias != sourceAlias,
      s"mergeInto: target and source aliases must differ ($targetAlias)")
    def checkGroup(g: String, cs: Seq[MergeClause],
                   ok: MergeAction => Boolean): Unit =
      cs.zipWithIndex.foreach { case (c, i) =>
        require(ok(c.action), s"mergeInto: $g cannot ${c.action}")
        require(c.condition.nonEmpty || i == cs.size - 1,
          s"mergeInto: only the last $g clause may omit its condition " +
            "(an earlier unconditional clause would shadow the rest)")
      }
    checkGroup("WHEN MATCHED", matched,
      a => a.isInstanceOf[Update] || a == UpdateAll || a == Delete)
    checkGroup("WHEN NOT MATCHED", notMatched,
      a => a.isInstanceOf[Insert] || a == InsertAll)
    checkGroup("WHEN NOT MATCHED BY SOURCE", notMatchedBySource,
      a => a.isInstanceOf[Update] || a == Delete)
    val base = latestVersion(spark, dir).getOrElse(throw
      new java.io.IOException(s"mergeInto: no committed version under " +
        s"$dir — initialize the table first (the whole-row merge " +
        "accepts an empty target)"))
    val st = stateOf(spark, dir, base)
    val schema = manifestSchema(spark, dir, base)
      .getOrElse(read(spark, dir, Some(base)).schema)
    val fieldNames = schema.fieldNames.toSet
    keys.foreach(k => require(fieldNames.contains(k),
      s"mergeInto: key column $k is not in the target schema"))
    (matched ++ notMatchedBySource).foreach(_.action match {
      case Update(as) =>
        val names = as.map(_._1)
        require(names.distinct == names,
          s"mergeInto: duplicate SET targets: ${names.mkString(", ")}")
        names.foreach(n => require(fieldNames.contains(n),
          s"mergeInto: SET target $n is not a target column"))
      case _ => ()
    })
    notMatched.foreach(_.action match {
      case Insert(as) =>
        val names = as.map(_._1)
        require(names.distinct == names,
          s"mergeInto: duplicate INSERT columns: ${names.mkString(", ")}")
        names.foreach(n => require(fieldNames.contains(n),
          s"mergeInto: INSERT column $n is not a target column"))
      case _ => ()
    })
    val TM = "__graft_t_present"; val SM = "__graft_s_present"
    val RW = "__graft_rewrite"
    require(!source.columns.contains(TM) && !source.columns.contains(SM) &&
      !source.columns.contains(RW) && !fieldNames.contains(TM) &&
      !fieldNames.contains(SM) && !fieldNames.contains(RW),
      s"mergeInto: reserved marker column name in use ($TM/$SM/$RW)")
    // ONE probe: cardinality (max rows per key) + source emptiness.
    // NULL-keyed source rows are EXCLUDED from the duplicate check —
    // a NULL key can never equi-match a target row (SQL/Delta MERGE
    // semantics), so each such row is an independent WHEN NOT MATCHED
    // insert, not a multi-match hazard. They still count toward
    // emptiness (an all-NULL-key source must still run its inserts).
    val keysNonNull = sKeys.map(col(_).isNotNull).reduce(_ && _)
    val probe = source.groupBy(sKeys.map(col): _*)
      .agg(count(lit(1)).as("__graft_n"))
      .agg(coalesce(max(when(keysNonNull, col("__graft_n"))), lit(0L)),
        count(lit(1))).collect()(0)
    if (probe.getLong(0) > 1) {
      val dup = source.filter(keysNonNull).groupBy(sKeys.map(col): _*)
        .count().filter(col("count") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"mergeInto: source has duplicate keys, e.g. ${dup.head.mkString(",")}")
    }
    val srcHasRows = probe.getLong(1) > 0
    // renamed to the TARGET key names: every file/conflict probe joins
    // on them
    val srcKeys = source.select(sKeys.zip(keys).map { case (sk, k) =>
      col(sk).as(k) }: _*).distinct()
    // Touched files: exactly the files that can CHANGE. Files holding
    // a source key must be REWRITTEN only when a matched clause exists
    // — an insert-only merge (WHEN NOT MATCHED alone, the classic
    // insert-if-absent) needs those files READ (to suppress inserts of
    // present keys) but never rewritten: they join into the decision
    // with a rewrite=false flag and their rows are excluded from the
    // output (the files carry forward by reference, and they stay out
    // of the commit's conflict set).
    val hasFiles = st.files.nonEmpty
    val keyFiles =
      if (!hasFiles || !srcHasRows || (matched.isEmpty && notMatched.isEmpty))
        Seq.empty[String]
      else collectFileCol(withFile(spark, dir, base)
        .join(srcKeys, keys, "left_semi"), "__file")
        .map(manifestKey(dir, _))
    val touchedMatch = if (matched.isEmpty) Seq.empty[String] else keyFiles
    val touchedBySrc =
      if (!hasFiles || notMatchedBySource.isEmpty) Seq.empty[String]
      else {
        val anyCond = notMatchedBySource
          .map(_.condition.map(expr).getOrElse(lit(true))).reduce(_ || _)
        collectFileCol(withFile(spark, dir, base).alias(targetAlias)
          .join(srcKeys, keys, "left_anti").filter(anyCond), "__file")
          .map(manifestKey(dir, _))
      }
    val touched = (touchedMatch ++ touchedBySrc).distinct.sorted
    if (touched.isEmpty && (notMatched.isEmpty || !srcHasRows)) return None
    // read-only side: key-holding files NOT being rewritten
    val holderOnly = keyFiles.filterNot(touched.toSet)
    // The decision join: (touched ∪ holder) target rows FULL OUTER
    // source on the keys (null keys never match — SQL `=`), markers
    // disambiguating presence from null-valued rows, the rewrite flag
    // separating output rows from read-only suppression rows.
    val tParts = Seq(touched -> true, holderOnly -> false)
      .filter(_._1.nonEmpty)
      .map { case (files, rw) =>
        readFilesWithDv(spark, dir, files, Some(schema), st.dvRefs,
          st.colMap, st.defaults).withColumn(RW, lit(rw))
      }
    val tFrame =
      (if (tParts.isEmpty)
         spark.createDataFrame(
           spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
           .withColumn(RW, lit(true))
       else tParts.reduce(_ unionByName _))
        .withColumn(TM, lit(true)).alias(targetAlias)
    val sFrame = source.withColumn(SM, lit(true)).alias(sourceAlias)
    val joinCond = keys.zip(sKeys).map { case (k, sk) =>
      col(s"$targetAlias.`$k`") === col(s"$sourceAlias.`$sk`") }
      .reduce(_ && _)
    val joined = tFrame.join(sFrame, joinCond, "full_outer")
    val isM = col(TM).isNotNull && col(SM).isNotNull
    val tOnly = col(TM).isNotNull && col(SM).isNull
    val sOnly = col(TM).isNull && col(SM).isNotNull
    def branchPred(b: Column, c: MergeClause): Column =
      c.condition.map(t => b && coalesce(expr(t), lit(false))).getOrElse(b)
    val branches: Seq[(Column, MergeAction)] =
      matched.map(c => (branchPred(isM, c), c.action)) ++
      notMatchedBySource.map(c => (branchPred(tOnly, c), c.action)) ++
      notMatched.map(c => (branchPred(sOnly, c), c.action))
    val srcCols = source.columns.toSet
    def tc(c: String) = col(s"$targetAlias.`$c`")
    def scl(c: String) = col(s"$sourceAlias.`$c`")
    def valueOf(a: MergeAction, c: String): Column = a match {
      case Update(as) => as.toMap.get(c).map(expr).getOrElse(tc(c))
      case UpdateAll =>
        if (srcCols.contains(c)) scl(c)
        else keyPair.get(c).map(scl).getOrElse(tc(c))
      case Delete => tc(c) // row dropped; branch must still consume
      case Insert(as) => as.toMap.get(c).map(expr)
        .getOrElse(lit(null))
      case InsertAll =>
        if (srcCols.contains(c)) scl(c)
        else keyPair.get(c).map(scl).getOrElse(lit(null))
    }
    def chain(value: MergeAction => Column, default: Column): Column =
      branches.tail.foldLeft(
        when(branches.head._1, value(branches.head._2))) {
        case (acc, (p, a)) => acc.when(p, value(a))
      }.otherwise(default)
    val KEEP = "__graft_keep"; val NEW = "__graft_new"
    // STRICT storeAssignmentPolicy is a COMMAND-TIME check here, not
    // an ANSI-runtime fallback: the when-chains' types ARE known once
    // resolved against the joined schema — one driver-side analysis
    // of all chains at once (no job) yields each output column's
    // resolved source type, which storeCast then refuses to down-cast
    // before any data is written.
    val chainCols = schema.fields.map(f =>
      chain(valueOf(_, f.name), tc(f.name)).as(f.name))
    val fromTypes: Map[String, DataType] =
      if (spark.conf.get("spark.sql.storeAssignmentPolicy", "ANSI")
          .equalsIgnoreCase("STRICT"))
        joined.select(chainCols.toIndexedSeq: _*).schema.fields
          .map(f => f.name -> f.dataType).toMap
      else Map.empty
    val valueCols = schema.fields.zip(chainCols).map { case (f, cc) =>
      GraftSqlCommands.storeCast(spark, cc, f.dataType,
        fromTypes.get(f.name)).as(f.name)
    }
    // keep: REWRITABLE target rows default-keep (read-only holder rows
    // drop — their files carry forward untouched), unmatched source
    // rows default-drop; new: rows whose values this merge introduced
    // (constraint validation scope).
    val keepCol = chain(a => lit(a != Delete),
      col(TM).isNotNull && coalesce(col(RW), lit(false))).as(KEEP)
    val newCol = chain(a => lit(a != Delete), lit(false)).as(NEW)
    val resultAll = joined.select(valueCols :+ keepCol :+ newCol: _*)
    val introduced = resultAll.filter(col(KEEP) && col(NEW))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val vcs = enforceConstraints(spark, dir, introduced, "mergeInto")
    val rewrite = resultAll.filter(col(KEEP))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    commitRewrite(spark, dir, touched, rewrite,
      trackedStatsCols(spark, dir, base),
      trackedBloomCols(spark, dir, base),
      maxRetries, "mergeInto", None,
      keyConflict = Some((st.files.toSet, keys, srcKeys)),
      baseDv = st.dvRefs, checkConstraints = Some(vcs),
      basis = Some(st), readOnly = holderOnly)
  }

  /** Apply a CDC batch — rows tagged by a `_change` column with
    * 'insert' / 'delete' (exactly [[changeFeed]]'s shape) — in ONE
    * copy-on-write commit: inserts upsert by key, deletes whose key
    * has no accompanying insert remove the row (an update's
    * delete+insert pair collapses to its upsert). Because removal,
    * upsert, and the optional transaction-ledger advance land in a
    * single manifest commit, a replayed apply is all-or-nothing —
    * the primitive [[replicate]] builds exactly-once replication on.
    * Insert rows must be key-unique per batch (enforced). Only files
    * containing an affected key are rewritten. Returns the committed
    * version; None when the batch is empty or a racing replay already
    * applied this (appId, txnVersion). */
  def applyChanges(spark: SparkSession, dir: String, changes: DataFrame,
                   keys: Seq[String], txn: Option[(String, Long)] = None,
                   maxRetries: Int = 20,
                   preValidated: Boolean = false,
                   pruneKeyLimit: Int = 65536): Option[Long] = {
    require(keys.nonEmpty, "applyChanges: at least one key column required")
    require(changes.columns.contains("_change"),
      "applyChanges: changes must carry a _change column (insert|delete)")
    // Ledger pre-check FIRST: a replayed batch must be a no-op without
    // even scanning the change frame.
    txn.foreach { case (appId, tv) =>
      val pre = latestVersion(spark, dir)
        .map(manifestTxns(spark, dir, _)).getOrElse(Map.empty)
      if (pre.getOrElse(appId, Long.MinValue) >= tv) return None
    }
    val inserts = changes.filter(col("_change") === "insert").drop("_change")
    // The affected key set — every key any change row names. (The
    // insert∪(delete∖insert) formulation this replaces is the same
    // SET, built with two extra shuffles — an anti-join and a union —
    // that a single distinct never pays.)
    val affectedKeysFull = changes.select(keys.map(col): _*).distinct()
    // FUSED probe + key collect: ONE bounded action over the change
    // frame yields (a) the affected key set for file pruning, (b) the
    // per-key validation aggregates — bad-tag count, insert
    // multiplicity — and (c) emptiness. Up to pruneKeyLimit the
    // per-key rows ARE control-plane data, so collecting them with
    // the validation columns attached replaces what used to be two
    // separate actions (a global validation aggregate + a distinct
    // key collect), each of which re-ran the caller's whole change
    // plan. Past the cap (bulk applies) the key set is no longer
    // collectable and validation falls back to the global aggregate.
    // The tag guard must be NULL-safe: `!isin(...)` evaluates to NULL
    // for a NULL tag — a mistyped or NULL tag silently vanishing from
    // the apply would be a data-loss bug, not a skip. Example rows
    // for error messages are fetched only on the (rare) failure path.
    // `preValidated` spares internal callers the validation half —
    // their batches are valid by construction (MaterializedAgg
    // .refresh tags via when/otherwise, keys via groupBy, emptiness
    // via its own fused probe) — but the key collect still runs: the
    // file-pruned touched probe needs it.
    val badTagC = col("_change").isNull ||
      !col("_change").isin("insert", "delete")
    val fused: Option[Array[org.apache.spark.sql.Row]] =
      if (pruneKeyLimit <= 0) None
      else probe(spark, "apply-changes:probe+keys") {
        val rows = changes.groupBy(keys.map(col): _*)
          .agg(
            sum(when(col("_change") === "insert", 1L).otherwise(0L))
              .as("__ac_ni"),
            sum(when(badTagC, 1L).otherwise(0L)).as("__ac_nb"))
          .limit(pruneKeyLimit + 1).collect()
        if (rows.length > pruneKeyLimit) None else Some(rows)
      }
    // The affected-key MIN/MAX ENVELOPE of an above-cap batch: too
    // many keys to collect, but their bounds still prune the touched
    // probe's scan through manifest stats (guide §6 — file pruning
    // with no driver round-trip of the keys). Fused into the global
    // validation aggregate when that runs anyway; preValidated bulk
    // callers pay one dedicated bounded aggregate instead of an
    // unpruned table scan in the probe.
    var envelope: Option[Seq[(String, Any, Any)]] = None
    def keyEnvelopeAggs = keys.flatMap(k =>
      Seq(min(col(k)).as(s"__env_mn_$k"), max(col(k)).as(s"__env_mx_$k")))
    def envelopeOf(r: org.apache.spark.sql.Row,
                   offset: Int): Seq[(String, Any, Any)] =
      keys.zipWithIndex.map { case (k, i) =>
        (k, r.get(offset + 2 * i), r.get(offset + 2 * i + 1)) }
    if (!preValidated) {
      fused match {
        case Some(rows) =>
          val nb = rows.iterator.map(_.getLong(keys.length + 1)).sum
          if (nb > 0) {
            val badTag = changes.filter(badTagC).limit(1).collect()
            require(badTag.isEmpty,
              s"applyChanges: unknown _change tag in e.g. " +
                s"${badTag.headOption.orNull} — only insert|delete are defined")
          }
          if (rows.iterator.map(_.getLong(keys.length)).maxOption
              .getOrElse(0L) > 1) {
            val dupKeys = inserts.groupBy(keys.map(col): _*)
              .count().filter(col("count") > 1).limit(1).collect()
            require(dupKeys.isEmpty,
              s"applyChanges: duplicate insert keys, e.g. " +
                s"${dupKeys.head.mkString(",")}")
          }
          if (rows.isEmpty) return None
        case None =>
          // past the collect cap: the global validation aggregate
          // (carrying the key envelope — same action, free)
          val probed = probe(spark, "apply-changes:probe") {
            changes.groupBy(keys.map(col): _*)
              .agg(
                sum(when(col("_change") === "insert", 1L).otherwise(0L))
                  .as("_ni"),
                sum(when(badTagC, 1L).otherwise(0L)).as("_nb"))
              .agg(coalesce(sum(col("_nb")), lit(0L)),
                (coalesce(max(col("_ni")), lit(0L)) +: count(lit(1)) +:
                  keyEnvelopeAggs): _*)
              .collect()(0)
          }
          envelope = Some(envelopeOf(probed, 3))
          if (probed.getLong(0) > 0) {
            val badTag = changes.filter(badTagC).limit(1).collect()
            require(badTag.isEmpty,
              s"applyChanges: unknown _change tag in e.g. " +
                s"${badTag.headOption.orNull} — only insert|delete are defined")
          }
          if (probed.getLong(1) > 1) {
            val dupKeys = inserts.groupBy(keys.map(col): _*)
              .count().filter(col("count") > 1).limit(1).collect()
            require(dupKeys.isEmpty,
              s"applyChanges: duplicate insert keys, e.g. " +
                s"${dupKeys.head.mkString(",")}")
          }
          if (probed.getLong(2) == 0) return None
      }
    }
    // Only the insert half introduces new values.
    val vcs = enforceConstraints(spark, dir, inserts, "applyChanges")
    // BOUNDED-KEY-SET FILE PRUNING. The touched-file probe's semi-join
    // is exact but, unpruned, SCANS the whole table per apply — at a
    // 100 TB dimension that scan IS the operation's cost. The
    // incremental case (keys come from a change feed) has a small key
    // set by construction: the fused collect above bounded it, the
    // probe's scan prunes to the files whose stats/Bloom summaries
    // might hold ANY affected key, and the collected set feeds back
    // as a BROADCAST frame so the probe, the rewrite's anti-join, and
    // the conflict check stop re-running the caller's change plan.
    val keySchema = StructType(affectedKeysFull.schema.fields)
    val collectedKeys: Option[Array[org.apache.spark.sql.Row]] =
      fused.map(_.map(r =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(2))))
    val affectedKeys = collectedKeys match {
      case Some(rows) => broadcast(spark.createDataFrame(
        java.util.Arrays.asList(rows.toSeq: _*), keySchema))
      case None => affectedKeysFull
    }
    val base = latestVersion(spark, dir)
    val touched = base match {
      case Some(v) if manifestFiles(spark, dir, v).nonEmpty =>
        val candidates = collectedKeys
          .map(rows => pruneFilesForKeys(spark, dir, v, keys, rows))
          .orElse {
            // above the cap: stats-envelope pruning instead of an
            // unpruned table scan. The envelope rode the validation
            // aggregate when it ran; preValidated bulk callers pay
            // one dedicated bounded aggregate here.
            val env = envelope.getOrElse(
              probe(spark, "apply-changes:key-envelope") {
                val r = changes.agg(keyEnvelopeAggs.head,
                  keyEnvelopeAggs.tail: _*).collect()(0)
                envelopeOf(r, 0)
              })
            Some(pruneFilesEnvelope(spark, dir, v, env))
          }
        if (candidates.exists(_.isEmpty)) Seq.empty[String]
        else probe(spark, "apply-changes:touched-probe") {
          collectFileCol(withFile(spark, dir, v, candidates)
            .join(affectedKeys, keys, "left_semi"), "__file")
            .map(manifestKey(dir, _)).sorted
        }
      case _ => Seq.empty[String]
    }
    val baseDv = base.map(stateOf(spark, dir, _).dvRefs).getOrElse(Map.empty)
    // WRITE SIZING for the bounded case: when the fused collect
    // bounded the key set, the insert half is key-unique and at most
    // pruneKeyLimit rows — but it arrives carrying the caller's full
    // shuffle partitioning (e.g. 32+ near-empty partitions from a
    // change-feed exceptAll), and the batch writer lands one file PER
    // non-empty partition: dozens of tiny files per incremental
    // apply, each paying a task commit, a footer-summary open, a
    // manifest entry, and a file open on every later probe. Coalesce
    // to a partition count derived from the PLANNED BYTE SIZE (the
    // callers persist their change frames, so the estimate is the
    // materialized cache size — guide §2: derive partitioning from
    // input size, never from the core count). The unbounded path
    // (bulk applies past the cap) keeps its parallelism untouched.
    val insertsSized = collectedKeys match {
      case Some(_) =>
        val bytes = inserts.queryExecution.optimizedPlan.stats.sizeInBytes
        val target = (bytes / (64L << 20)).toLong + 1L
        inserts.coalesce(math.max(1L, math.min(1024L, target)).toInt)
      case None => inserts
    }
    val rewrite =
      if (touched.isEmpty) insertsSized
      else readFilesWithDv(spark, dir, touched,
          base.flatMap(manifestSchema(spark, dir, _)), baseDv,
          base.map(stateOf(spark, dir, _).colMap).getOrElse(Map.empty),
          base.map(stateOf(spark, dir, _).defaults).getOrElse(Map.empty))
        .join(affectedKeys, keys, "left_anti")
        .unionByName(insertsSized, allowMissingColumns = true)
    commitRewrite(spark, dir, touched, rewrite,
      base.map(trackedStatsCols(spark, dir, _)).getOrElse(Nil),
      base.map(trackedBloomCols(spark, dir, _)).getOrElse(Nil),
      maxRetries, "applyChanges", txn,
      keyConflict = Some((
        base.map(manifestFiles(spark, dir, _)).getOrElse(Nil).toSet,
        keys, affectedKeys)),
      baseDv = baseDv, checkConstraints = Some(vcs),
      basis = base.map(stateOf(spark, dir, _)))
  }

  /** EXACTLY-ONCE incremental table-to-table replication: advance the
    * destination to the source's latest snapshot by consuming ONLY
    * the change feed since the last applied source version — the
    * destination's own transaction ledger IS the cursor (the source
    * version lands as `txnVersion` in the same commit as the row
    * changes, so cursor and data can never disagree; a crashed or
    * replayed run re-applies as a manifest no-op). The incremental
    * cost is bounded by what changed: [[changeFeed]] reads only
    * dropped+added files, [[applyChanges]] rewrites only files
    * holding affected keys — at 100 TB a small upstream MERGE
    * replicates in a few file reads and one small rewrite, never a
    * table scan.
    *
    * First call (no cursor) bootstraps: the full source snapshot
    * applies as inserts. `keys` name the source's row identity
    * (key-unique tables); an EMPTY `keys` selects append-only mode —
    * the feed must then contain no deletes (violations throw) and
    * rows land via [[transactionalAppend]], right for event/fact
    * streams. Returns (appliedSourceVersion, newDstVersion), or None
    * when the destination is already current.
    *
    * The cursor's source version must still have its manifest (the
    * [[vacuum]] `keepVersions` window): a replica lagging past the
    * source's vacuum horizon must re-bootstrap into a fresh
    * destination — the same contract as any log-shipping consumer. */
  def replicate(spark: SparkSession, srcDir: String, dstDir: String,
                keys: Seq[String], appId: String,
                maxRetries: Int = 20): Option[(Long, Long)] = {
    require(appId.nonEmpty, "replicate: appId must be non-empty")
    val srcV = latestVersion(spark, srcDir).getOrElse(
      throw new java.io.IOException(
        s"replicate: no committed version under $srcDir"))
    val cursor = latestVersion(spark, dstDir)
      .map(manifestTxns(spark, dstDir, _)).getOrElse(Map.empty)
      .get(appId)
    if (cursor.exists(_ >= srcV)) return None
    val feed = cursor match {
      case Some(c) =>
        try changeFeed(spark, srcDir, c, srcV)
        catch { case e: java.io.FileNotFoundException =>
          throw new java.io.IOException(
            s"replicate: cursor version $c of $srcDir is beyond the " +
              "source's vacuum horizon (its manifest is gone) — " +
              "re-bootstrap into a fresh destination", e)
        }
      case None => read(spark, srcDir, Some(srcV))
        .withColumn("_change", lit("insert"))
    }
    if (keys.nonEmpty)
      applyChanges(spark, dstDir, feed, keys, Some(appId -> srcV), maxRetries)
        .map(srcV -> _)
    else {
      // Append-only mode: deletes are a contract violation, not a skip.
      val rows = feed.filter(col("_change") === "delete").limit(1).collect()
      require(rows.isEmpty,
        s"replicate: append-only mode (empty keys) but the source feed " +
          s"contains deletes under $srcDir")
      transactionalAppend(feed.filter(col("_change") === "insert")
          .drop("_change"), dstDir, appId, srcV, maxRetries = maxRetries)
        .map(srcV -> _)
    }
  }

  /** Shared commit path for row-level rewrites: write `rewrite` as a
    * new batch, then commit current-files − touched + new, with the
    * touched-file conflict guard. `keyConflict = (baseFiles, keys,
    * srcKeys)` additionally guards KEY-level write-write races: two
    * concurrent MERGEs upserting the same not-yet-present key both
    * see touched = [] (the key is in neither's base snapshot), so the
    * vanished-file check alone would let both commit their insert and
    * silently duplicate the key. Before committing, any file ADDED to
    * the manifest since our base read is probed for rows matching the
    * operation's keys; a hit throws ConcurrentModificationException
    * (same surface as Delta's conflict checker). The probe reads only
    * the concurrently-added files — zero cost on the no-race path.
    * `readOnly` names files the operation's DECISION read without
    * rewriting (mergeInto's insert-suppression holders): they carry
    * forward by reference, but a concurrent rewrite or DV advance on
    * one invalidates the decision (e.g. a racing DELETE of a
    * suppressed key would silently stand) — guarded exactly like
    * touched files, minus the commit math. */
  private[graft] def commitRewrite(spark: SparkSession, dir: String,
                            touched: Seq[String], rewrite: DataFrame,
                            statsCols: Seq[String],
                            bloomCols: Seq[String], maxRetries: Int,
                            op: String,
                            txn: Option[(String, Long)] = None,
                            keyConflict: Option[(Set[String], Seq[String],
                              DataFrame)] = None,
                            baseDv: Map[String, String] = Map.empty,
                            checkConstraints: Option[Map[String, String]] =
                              None,
                            basis: Option[TableState] = None,
                            readOnly: Seq[String] = Nil
                           ): Option[Long] = {
    // strictBlooms=false: bloomCols here is the table's RECORDED
    // tracking list — legacy ineligible entries drop, never wedge a
    // row-level op on a pre-r7 table. basis = the state the rewrite
    // frame's logical names were resolved against (see writeBatch's
    // column-mapping race contract).
    val wb = labeled(spark, op) {
      writeBatch(rewrite, dir, statsCols, bloomCols,
        strictBlooms = false, basis = basis)
    }
    val (added, addedStats, addedRefs, addedSizes, claim) =
      (wb.added, wb.stats, wb.refs, wb.sizes, wb.claim)
    val touchedSet = touched.toSet
    val addedSet = added.toSet
    // None = this op introduces no new values (delete/compaction);
    // Some(v) = the set the caller validated — recheck on rebase.
    var validated = checkConstraints
    commitLoop(spark, dir, op, maxRetries) { head =>
      checkMapClaim(head, claim, op)
      val curSt = head.getOrElse(EmptyState)
      // a racing replay won; our files stay orphaned
      if (replayed(curSt, txn)) None
      else {
        val guarded = touched ++ readOnly
        val missing = guarded.filterNot(curSt.files.toSet)
        if (missing.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"$op: touched/read files rewritten concurrently: " +
              missing.take(3).mkString(", "))
        // A deletion vector committed on a touched file AFTER our base
        // read means our rewrite (built from the base vector state)
        // would resurrect those freshly-deleted rows — same write-write
        // conflict as a vanished file, same loud surface. Read-only
        // decision inputs (insert-suppression holders) get the same
        // guard: their rows decided what this commit suppresses.
        val dvMoved = guarded.filter(f => curSt.dvRefs.get(f) != baseDv.get(f))
        if (dvMoved.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"$op: deletion vectors advanced concurrently on touched " +
              s"files: ${dvMoved.take(3).mkString(", ")}")
        keyConflict.foreach { case (baseFiles, keys, srcKeys) =>
          val newSinceBase = curSt.files
            .filterNot(baseFiles).filterNot(addedSet).filterNot(touchedSet)
          if (newSinceBase.nonEmpty) {
            // keys are logical; concurrently-added files are physical —
            // probe through the rename under an active mapping.
            val cm = claim.map(_.colMap).getOrElse(Map.empty)
            val probeFrame =
              if (cm.isEmpty) readFiles(spark, dir, newSinceBase, curSt.schema)
              else {
                val logical = curSt.schema.getOrElse(
                  throw new IllegalStateException(
                    s"$op: column mapping active under $dir but no schema"))
                toLogicalFrame(readFiles(spark, dir, newSinceBase,
                  Some(physSchemaOf(cm, logical))), cm, logical)
              }
            val clash = probeFrame
              .join(srcKeys, keys, "left_semi").limit(1).collect()
            if (clash.nonEmpty)
              throw new java.util.ConcurrentModificationException(
                s"$op: a concurrent commit added rows for key " +
                  s"${clash.head.mkString(",")} — committing would duplicate it")
          }
        }
        val schema = Some(evolveSchema(curSt.schema.getOrElse(new StructType()),
          rewrite.schema))
        validated = validated.map(v => recheckConstraints(spark, dir,
          curSt.constraints, v, added, schema, op,
          claim.map(_.colMap).getOrElse(Map.empty)))
        // rewritten files physically exclude their masked rows, so
        // their vectors retire with them
        Some(withClaim(curSt.copy(
          files = curSt.files.filterNot(touchedSet) ++ added,
          txns = curSt.txns ++ txn,
          stats = (curSt.stats -- touched) ++ addedStats, schema = schema,
          bloomRefs = (curSt.bloomRefs -- touched) ++ addedRefs,
          bloomCols = (curSt.bloomCols ++ wb.bloomCols).distinct,
          sizes = (curSt.sizes -- touched) ++ addedSizes,
          dvRefs = curSt.dvRefs -- touched, bucket = None), claim))
      }
    }
  }
}
