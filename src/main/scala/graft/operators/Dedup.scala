package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline, from exact to
  * approximate:
  *
  *  - exact content-hash dedup lives in the query inventory
  *    (q_dedup_exact: sha2 + groupBy);
  *  - [[jaccardPairs]]: exact w-shingle Jaccard pairs via a shingle
  *    equi-join (candidate pairs share ≥1 shingle — no O(n²) cross
  *    join; the shuffle key is the shingle);
  *  - [[minHashSignatures]] / [[minHashCandidates]]: MinHash + LSH
  *    banding, the 100 TB path — signature computation is one map-side
  *    partial-agg groupBy, banding turns near-dup search into b
  *    equi-joins on (band, bandHash);
  *  - [[simHashPairs]]: 64-bit SimHash, 2×32-bit bands with
  *    single-bit multiprobe (pigeonhole: hamming ≤ 3 ⇒ some band
  *    differs by ≤ 1 bit);
  *  - [[cosinePairs]]: embedding-cosine near-dup, label-blocked;
  *  - [[cosineLshPairs]]: embedding-cosine near-dup via random-
  *    hyperplane LSH banding — the full-corpus scale path (no label
  *    needed, candidates meet on band equi-join keys).
  *
  * All signature math is Column-expression only (codegen, no UDFs);
  * the only shuffles are the candidate equi-joins and final groupBys.
  *
  * Operators that persist intermediates take a [[CacheRegistry]]
  * (default [[CacheRegistry.global]]); the caller releases it once the
  * results are materialized. Concurrent drivers in one JVM should pass
  * their own registries.
  */
object Dedup {

  /** STRING shingle generation: posexplode tokens, build each
    * w-shingle from window lead()s (all codegen'd), keep only
    * full-width shingles. NOT deduplicated per doc. Costs one shuffle
    * on doc_id (the window) — the operators below that only need gram
    * EQUALITY use [[hashedShingleRows]] instead (map-only, no window);
    * this string form remains for consumers that need the shingle
    * TEXT (q_repetition_stats' oracle-side mirror, equivalence tests)
    * and as the reference implementation the native hasher is pinned
    * against. */
  def shingleRows(docs: DataFrame, w: Int): DataFrame = {
    require(w >= 1, s"shingle width must be >= 1, got $w")
    val toks = docs.select(col("doc_id"),
      posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
    // w = 1: unigrams need no window carry — skip the shuffle entirely.
    if (w == 1) return toks.select(col("doc_id"), col("tok").as("s"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val leads = (1 until w).map(i => lead(col("tok"), i).over(win))
    toks
      // window expressions must live in a projection; _ok marks rows
      // whose last lead is null (tail positions with short shingles)
      .select(col("doc_id"),
        concat_ws(" ", col("tok") +: leads: _*).as("s"),
        leads.last.isNotNull.as("_ok"))
      .filter(col("_ok"))
      .select("doc_id", "s")
  }

  /** Map-only hashed shingle stream (doc_id, s: long): all w-word-gram
    * hashes per doc from the native rolling expression
    * ([[graft.plans.WordGramHashes]]) — no window, no shuffle, the
    * grams materialize scan-side. Multiplicity kept (consumers dedup
    * or aggregate). Structurally equivalent to
    * xxhash64(shingleRows(...)) — same per-doc gram/distinct counts,
    * different hash VALUES — pinned in DedupSpec. */
  def hashedShingleRows(docs: DataFrame, w: Int): DataFrame = {
    require(w >= 1, s"shingle width must be >= 1, got $w")
    docs.select(col("doc_id"),
      explode(graft.plans.GraftFunctions.wordGramHashes(
        lower(col("text")), w)).as("s"))
  }

  /** [[hashedShingleRows]] with per-doc dedup fused into the hasher:
    * distinct (doc_id, s) rows with NO shuffle — the array is
    * deduplicated row-locally before the explode, so a downstream
    * `dropDuplicates(doc_id, s)` (a corpus-wide exchange) is
    * unnecessary by construction. */
  def hashedShingleRowsDistinct(docs: DataFrame, w: Int): DataFrame = {
    require(w >= 1, s"shingle width must be >= 1, got $w")
    docs.select(col("doc_id"),
      explode(graft.plans.GraftFunctions.wordGramHashesDistinct(
        lower(col("text")), w)).as("s"))
  }

  /** Exact w-shingle Jaccard ≥ threshold pairs.
    * Shape: scan-side gram hashing into per-doc ARRAYS (dedup and
    * cardinality are row-local array ops — no pre-join shuffle at
    * all; see [[pairsFromGramArrays]]) → equi-join on gram hash →
    * per-pair common count → jaccard filter. At 100 TB the
    * explode+join shuffles on the gram hash, so
    * only docs sharing a gram ever meet; hot shingles (stopword runs)
    * are the skew risk — mitigate upstream by using a larger w
    * (default 5 here) so bucket sizes stay small, and AQE skew-split
    * for the tail. */
  def jaccardPairs(docs: DataFrame, w: Int = 5, threshold: Double = 0.8,
                   registry: CacheRegistry = CacheRegistry.global): DataFrame = {
    require(w >= 1, s"shingle width must be >= 1, got $w")
    pairsFromGramArrays(
      docs.select(col("doc_id"),
        graft.plans.GraftFunctions.wordGramHashesDistinct(
          lower(col("text")), w).as("d")),
      threshold, registry)
  }

  /** Character n-gram variant of [[jaccardPairs]]: shingles are the
    * distinct n-char substrings of the lowercased text — finer-grained
    * than word shingles (robust to tokenization differences), larger
    * shingle sets. Same candidate-join pipeline, but grams enter it
    * PRE-HASHED by the native rolling-hash expression
    * ([[graft.plans.CharGramHashes]]): one O(len) pass per document
    * instead of one substring allocation + full rehash per gram —
    * the dominant cost of this operator's scan stage. */
  def charJaccardPairs(docs: DataFrame, n: Int = 20,
                       threshold: Double = 0.8,
                       registry: CacheRegistry = CacheRegistry.global): DataFrame =
    pairsFromGramArrays(
      docs.select(col("doc_id"),
        graft.plans.GraftFunctions.charGramHashesDistinct(
          lower(col("text")), n).as("d")),
      threshold, registry)

  /** Distinct character n-grams per doc, codegen'd: explode the start
    * positions, substr per position (Column.substr takes Column args,
    * unlike functions.substring). */
  def charShingleRows(docs: DataFrame, n: Int): DataFrame = {
    val txt = lower(col("text"))
    docs.select(col("doc_id"), txt.as("_t"),
        explode(when(length(txt) >= n,
            sequence(lit(1), length(txt) - (n - 1)))
          .otherwise(array().cast("array<int>"))).as("_i"))
      .select(col("doc_id"), col("_t").substr(col("_i"), lit(n)).as("s"))
  }

  // Shuffle longs, not shingle strings: every downstream step
  // (prune/self-join/pair-agg) only needs shingle EQUALITY, so a
  // 64-bit hash at the entrance replaces 20-40 byte strings with 8
  // bytes in every exchange. A hash collision would merge two grams
  // (P ≈ n²/2^65 ≈ 1e-7 at millions of distinct shingles) — the
  // standard shingling trade, noted here because the oracle counts
  // strings.
  /** Candidate pipeline over (doc_id, d: array<long>) rows — one
    * DISTINCT gram-hash ARRAY per document, straight from the native
    * rolling hashers' fused-dedup form. Holding the grams as a per-row
    * array until the last moment makes the two per-doc steps that used
    * to shuffle the whole gram stream MAP-SIDE row-local ops instead:
    * per-doc dedup is fused INSIDE the hasher expression (one
    * open-addressed pass — no separate array_distinct traversal),
    * cardinality = size — so the FIRST shuffle any gram pays is the
    * candidate self-join itself (plus the single-holder prune agg).
    * Two fewer corpus-wide exchanges than the exploded shape
    * (dropDuplicates + window). */
  private def pairsFromGramArrays(withDistinct: DataFrame, threshold: Double,
                                  registry: CacheRegistry): DataFrame = {
    val common = commonCounts(withDistinct, registry)
    val jac = col("com").cast("double") / (col("ca") + col("cb") - col("com"))
    common
      .filter(jac >= threshold)
      // floor-form rounding: jaccard is a small-integer ratio, which
      // lands on exact .5 decimal boundaries where round() diverges
      // across engines (see TextAnalysis.roundStable).
      .select(col("i"), col("j"),
        graft.functions.TextAnalysis.roundStable(jac, 6).as("jaccard"))
  }

  /** Asymmetric near-dup pairs by shingle CONTAINMENT — |A∩B| over the
    * SMALLER doc's gram set, ≥ threshold. Catches the duplication mode
    * Jaccard structurally misses: a short document pasted inside a
    * long one has |A∩B| ≈ |A| but a tiny union, so its Jaccard never
    * clears a dedup threshold while its containment sits at ~1.0 (the
    * boilerplate-inclusion / quote-expansion case in web corpora).
    * Identical candidate pipeline to [[jaccardPairs]] — scan-side
    * fused-distinct gram arrays, single-holder prune, gram-hash
    * equi-join — only the closing score differs, so the 100 TB story
    * (first shuffle = candidate join, hot-shingle skew mitigated by
    * w and AQE) carries over unchanged. */
  def containmentPairs(docs: DataFrame, w: Int = 5, threshold: Double = 0.9,
                       registry: CacheRegistry = CacheRegistry.global): DataFrame = {
    require(w >= 1, s"shingle width must be >= 1, got $w")
    val common = commonCounts(
      docs.select(col("doc_id"),
        graft.plans.GraftFunctions.wordGramHashesDistinct(
          lower(col("text")), w).as("d")),
      registry)
    val cont = col("com").cast("double") / least(col("ca"), col("cb"))
    common
      .filter(cont >= threshold)
      .select(col("i"), col("j"),
        graft.functions.TextAnalysis.roundStable(cont, 6).as("containment"))
  }

  /** All candidate pairs (≥1 shared gram) with cardinalities and the
    * exact intersection count — the raw surface behind
    * [[jaccardPairs]]/[[containmentPairs]], exposed for threshold-
    * sensitivity analysis (count pairs per similarity band BEFORE
    * committing to a dedup threshold). Same pipeline, no similarity
    * filter: output size = number of gram-sharing pairs, so callers
    * aggregate it immediately rather than materializing it. */
  def jaccardCandidates(docs: DataFrame, w: Int = 5,
                        registry: CacheRegistry = CacheRegistry.global): DataFrame = {
    require(w >= 1, s"shingle width must be >= 1, got $w")
    commonCounts(
      docs.select(col("doc_id"),
        graft.plans.GraftFunctions.wordGramHashesDistinct(
          lower(col("text")), w).as("d")),
      registry)
  }

  /** Shared candidate stage of the exact-shingle pair family:
    * (i, j, ca, cb, com) — distinct-gram cardinalities of both docs
    * plus their exact intersection count, for every pair meeting on at
    * least one gram hash. See the shape notes on the public callers. */
  private def commonCounts(withDistinct: DataFrame,
                           registry: CacheRegistry): DataFrame = {
    // Persisted because the prune and both join sides re-read it;
    // MEMORY_AND_DISK so a 100 TB run spills instead of OOMing.
    val sh = registry.track(withDistinct
      .select(col("doc_id"), size(col("d")).cast("long").as("c"),
        explode(col("d")).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // A shingle held by a single doc can never form a pair — drop it
    // before the self-join. Cardinalities were attached BEFORE this
    // prune, so results are exactly unchanged; on a mostly-unique
    // corpus this shrinks the join input by an order of magnitude.
    val hot = sh.groupBy("s").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("s")
    val sh2 = sh.join(hot, "s")
    sh2.as("a").join(sh2.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        col("a.c").as("ca"), col("b.c").as("cb"))
      .agg(count(lit(1)).as("com"))
  }

  /** Exact-Jaccard refine of an LSH candidate pair set — the
    * production dedup-decision shape: banding prunes the n² pair
    * space, then each surviving (i, j) candidate joins the two docs'
    * DISTINCT gram-hash arrays and the TRUE word-shingle Jaccard is
    * computed row-locally (array_intersect over 64-bit gram hashes),
    * keeping pairs ≥ threshold. Precision is exact by construction;
    * recall equals the banding recall (DedupSpec pins candidates ⊇
    * exact pairs on this corpus). Shuffle cost: the candidate ids (two
    * longs per row) move to meet the per-doc gram rows — the gram
    * arrays themselves never self-join, so the refine is O(|cand|)
    * exchange bytes, not O(corpus). Docs shorter than w words have an
    * empty gram set and can never reach the threshold (0/0 → NaN →
    * filtered). */
  def jaccardRefinePairs(docs: DataFrame, candidates: DataFrame,
                         w: Int = 5, threshold: Double = 0.8,
                         registry: CacheRegistry = CacheRegistry.global): DataFrame = {
    require(w >= 1, s"shingle width must be >= 1, got $w")
    // Persisted: both join sides (gi, gj) read the gram arrays — an
    // unpersisted plan would run the corpus-wide gram hashing TWICE.
    val grams = registry.track(docs.select(col("doc_id"),
      graft.plans.GraftFunctions.wordGramHashesDistinct(
        lower(col("text")), w).as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    refineJoin(candidates,
      grams.select(col("doc_id").as("i"), col("d").as("di")),
      grams.select(col("doc_id").as("j"), col("d").as("dj")),
      threshold)
  }

  /** Prefix-filtering set-similarity self-join (the AllPairs / PPJoin
    * family — Bayardo et al. WWW'07, Xiao et al. WWW'08): the
    * EXACT-RECALL alternative to MinHash banding. Under one global
    * canonical gram order (document frequency ascending, gram hash
    * tiebreak — rarest first), any pair with Jaccard ≥ tNum/tDen must
    * share a gram inside both docs' first p = n − ⌈t·n⌉ + 1 grams.
    * Proof: J ≥ t ⇒ overlap ≥ t·|union| ≥ t·n ⇒ overlap ≥ ⌈t·n⌉
    * (integer); at most n − overlap ≤ n − ⌈t·n⌉ non-shared grams can
    * precede the globally-smallest shared gram within either doc, so
    * that gram sits at position ≤ p in BOTH prefixes. So only
    * prefixes (~(1−t) of each doc's grams) enter the candidate join —
    * no signature computation at all, recall exact by construction —
    * and the shared exact-Jaccard refine decides.
    *
    * The threshold is a RATIONAL (tNum/tDen) so the prefix length is
    * exact integer arithmetic — ⌈t·n⌉ as (tNum·n + tDen − 1) div tDen
    * — immune to the 0.8·5 → 4.0000000000000002 float-ceil trap that
    * would silently shorten prefixes and lose recall.
    *
    * Scale shape: gram df is one hash-keyed count over gram longs;
    * the per-doc rank-and-slice is one doc-keyed agg whose sort_array
    * is row-local over that doc's own grams; candidate generation
    * explodes PREFIXES only, with single-holder grams (df = 1)
    * dropped from the probe stream AFTER positions are fixed (so
    * prefixes stay correct — a df-1 gram can never produce a pair);
    * the refine moves candidate id pairs only. Hot-gram skew risk is
    * structurally smaller than the exact pipeline's: stopword-run
    * grams have the highest df, which the rarest-first order pushes
    * OUT of prefixes. */
  def prefixFilterPairs(docs: DataFrame, w: Int = 5,
                        tNum: Int = 4, tDen: Int = 5,
                        registry: CacheRegistry = CacheRegistry.global): DataFrame = {
    require(w >= 1 && tNum > 0 && tDen >= tNum,
      s"need w >= 1 and 0 < tNum/tDen <= 1, got w=$w t=$tNum/$tDen")
    // Persisted: the prefix build and both refine sides read the
    // per-doc gram arrays.
    val grams = registry.track(docs.select(col("doc_id"),
      graft.plans.GraftFunctions.wordGramHashesDistinct(
        lower(col("text")), w).as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val exploded = grams.select(col("doc_id"), explode(col("d")).as("s"))
    val dfTab = exploded.groupBy("s").agg(count(lit(1)).as("df"))
    val prefix = exploded.join(dfTab, "s")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("g"))
      .select(col("doc_id"),
        expr(s"slice(g, 1, size(g) - (($tNum * size(g) + $tDen - 1) div $tDen) + 1)")
          .as("p"))
      .select(col("doc_id"), explode(col("p")).as("e"))
      .select(col("doc_id"), col("e.s").as("s"), col("e.df").as("df"))
      .filter(col("df") >= 2)
    val candidates = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    refineJoin(candidates,
      grams.select(col("doc_id").as("i"), col("d").as("di")),
      grams.select(col("doc_id").as("j"), col("d").as("dj")),
      tNum.toDouble / tDen)
  }

  /** The refine join itself, shared by [[jaccardRefinePairs]] and the
    * incremental forms: candidates (i, j) meet the two gram-array
    * sides and the TRUE Jaccard decides. Only candidate ids shuffle to
    * the gram rows — gram arrays never self-join. */
  private def refineJoin(candidates: DataFrame, gi: DataFrame,
                         gj: DataFrame, threshold: Double): DataFrame = {
    val inter = size(array_intersect(col("di"), col("dj"))).cast("double")
    val jac = inter / ((size(col("di")) + size(col("dj"))).cast("double") - inter)
    candidates.select("i", "j")
      .join(gi, "i").join(gj, "j")
      .filter(size(col("di")) > 0 && size(col("dj")) > 0)
      .filter(jac >= threshold)
      .select(col("i"), col("j"),
        graft.functions.TextAnalysis.roundStable(jac, 6).as("jaccard"))
  }

  /** Shingle-containment text search: score each doc by the fraction
    * of the query's w-shingles it contains, return the top-k. The
    * query's gram hashes are computed driver-side with the SAME native
    * hasher the corpus side uses (it is a literal) and pushed as an IN
    * filter — the scan keeps only matching gram rows, map-only, so the
    * aggregate sees |matches|, not the corpus. Top-k via
    * TakeOrderedAndProject. */
  def shingleSearchTopK(docs: DataFrame, query: String, w: Int = 3,
                        k: Int = 20): DataFrame = {
    // Strip TRAILING spaces before hashing: the native tokenizer keeps
    // trailing empty tokens (matching Spark's split on the corpus
    // side), but a query phrase ending in spaces would then carry a
    // near-unmatchable "... <empty>" gram into the denominator and
    // deflate every score. Leading/interior runs stay as typed — they
    // are part of the phrase on both sides. The length gate derives
    // from the SAME tokenization as the hashes (empty gram array =
    // too short), not from a second split with different semantics.
    val q = query.toLowerCase.replaceAll(" +$", "")
    val qArr = graft.plans.ExprHelpers.wordGramHashes(
      org.apache.spark.unsafe.types.UTF8String.fromString(q), w)
    require(qArr.numElements() > 0, s"query shorter than $w tokens")
    val qHashes = qArr.toLongArray().toSeq.distinct
    // Fused-distinct generator: (doc_id, s) rows are unique by
    // construction, so no dedup exchange between the filter and the
    // aggregate — the whole pre-agg pipeline is map-only.
    hashedShingleRowsDistinct(docs, w)
      .filter(col("s").isin(qHashes: _*))
      .groupBy("doc_id").agg(count(lit(1)).as("matched"))
      .withColumn("score", graft.functions.TextAnalysis.roundStable(
        col("matched") / qHashes.size.toDouble, 6))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** MinHash parameters: k independent hashes h_i(x) = (a_i·x + b_i)
    * mod P over the native 64-bit word-gram hash folded into [0, P)
    * by pmod (see [[hashedShingleRows]]). a/b come from a fixed LCG so
    * signatures are reproducible across runs and executors. The
    * algebra's single source of truth is
    * [[graft.plans.ExprHelpers.minHashCoefArrays]] — both forms below
    * derive from it and DedupSpec pins them equal. */
  val MinHashP: Long = graft.plans.ExprHelpers.MinHashP
  def minHashCoefs(k: Int): Seq[(Long, Long)] = {
    val (as, bs) = graft.plans.ExprHelpers.minHashCoefArrays(k)
    as.zip(bs).toSeq
  }

  /** Per-doc MinHash signature (doc_id, sig: array<long>[k]) — MAP
    * ONLY: the fused native expression
    * ([[graft.plans.MinHashSigs]]) tokenizes, rolls the gram hash and
    * folds each gram into the k minima in one scan-side pass, so
    * signing a corpus costs ZERO shuffle (the previous form exploded
    * the gram stream into a groupBy(doc_id) with k min() aggregates —
    * map-side combined, but still a corpus-wide exchange). Scan-side
    * signatures are also what make dedup-on-ingest streaming-trivial:
    * no aggregation state, a micro-batch signs itself. Docs shorter
    * than w tokens have no grams, hence no signature row (the
    * aggregate form's semantics, pinned in DedupSpec). */
  def minHashSignatures(docs: DataFrame, w: Int = 5, k: Int = 32,
                        registry: CacheRegistry = CacheRegistry.global): DataFrame =
    registry.track(docs.select(col("doc_id"),
      graft.plans.GraftFunctions.minHashSigs(lower(col("text")), w, k).as("sig"))
      .filter(col("sig").isNotNull)
      // Both LSH join sides consume the signatures — persist so the
      // text scan + signing runs once. Released by the caller via
      // CacheRegistry once results materialize.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The AGGREGATE signature form the fused expression replaced — kept
    * as the independently-derived reference implementation DedupSpec
    * pins [[minHashSignatures]] against (explode grams → groupBy(doc)
    * → k·min; one corpus-wide exchange). Not used by any operator. */
  def minHashSignaturesViaAgg(docs: DataFrame, w: Int = 5, k: Int = 32): DataFrame = {
    // duplicate shingles are harmless here: min() is idempotent.
    val sh = hashedShingleRows(docs, w)
      .withColumn("h", pmod(col("s"), lit(MinHashP)))
    val mins = minHashCoefs(k).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(MinHashP))).as(s"m$i")
    }
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH banding over the signature: bands of r rows hashed together;
    * docs colliding in ANY band are candidates. Estimated similarity =
    * fraction of equal signature components; pairs below minEst are
    * dropped. b=8, r=4 targets the J≈0.8 near-dup band (collision
    * prob 1-(1-J^4)^8 ≈ 0.99 at J=0.8). */
  def minHashCandidates(docs: DataFrame, w: Int = 5, k: Int = 32,
                        bands: Int = 8, minEst: Double = 0.5,
                        registry: CacheRegistry = CacheRegistry.global): DataFrame = {
    require(k % bands == 0,
      s"signature length $k must divide evenly into $bands bands — " +
        "a remainder would silently drop signature tail components from banding")
    val r = k / bands
    val sigs = minHashSignatures(docs, w, k, registry)
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        j => hash(slice(col("sig"), j * r + 1, lit(r))))).as(Seq("band", "bh")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        col("a.sig").as("sa"), col("b.sig").as("sb"))
      .dropDuplicates("i", "j")
    val est = size(filter(zip_with(col("sa"), col("sb"),
      (x, y) => when(x === y, 1).otherwise(0)), v => v === 1))
      .cast("double") / k
    cand.select(col("i"), col("j"), round(est, 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
  }

  /** (doc_id, bkey) rows from a signature table — band id and band
    * value folded into ONE hashed 64-bit key, so a banded join needs a
    * single equi-key and a materialized index can bucket by it. A bkey
    * collision across bands can only ADD a candidate (the exact-Jaccard
    * refine decides), never lose one. */
  private def minhashBandRows(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    sigs.select(col("doc_id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        j => xxhash64(j, hash(slice(col("sig"), j * r + 1, lit(r)))))).as("bkey"))
  }

  /** Per-doc CHAR-GRAM MinHash signature — the char twin of
    * [[minHashSignatures]]: the fused native expression
    * ([[graft.plans.CharMinHashSigs]]) rolls the n-char polynomial
    * hash and folds each gram into the k minima in one scan-side
    * pass, so signing is map-only (zero shuffle) and streaming-safe.
    * Docs shorter than n chars have no grams, hence no signature
    * row. */
  def charMinHashSignatures(docs: DataFrame, n: Int = 20, k: Int = 32,
                            registry: CacheRegistry = CacheRegistry.global): DataFrame =
    registry.track(docs.select(col("doc_id"),
      graft.plans.GraftFunctions.charMinHashSigs(lower(col("text")), n, k).as("sig"))
      .filter(col("sig").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Char-gram banded near-dup DECISION — the scale path of
    * [[charJaccardPairs]], completing the chain the word-gram family
    * already has (banding prunes, exact refine decides): char MinHash
    * banding proposes candidates (b bands of k/b rows over the
    * signature — the only corpus-sized exchange carries (doc_id,
    * bkey) 16 B rows), then each candidate pair joins the two docs'
    * DISTINCT char-gram hash arrays and the TRUE char-n-gram Jaccard
    * is computed row-locally, keeping pairs >= threshold. Precision
    * exact by construction; recall = banding recall (DedupSpec pins
    * candidates ⊇ exact char pairs on the test corpus, so the output
    * EQUALS [[charJaccardPairs]] there — the exact pipeline's
    * all-gram equi-join is what this path never pays). */
  def charBandedDupPairs(docs: DataFrame, n: Int = 20, k: Int = 32,
                         bands: Int = 8, threshold: Double = 0.8,
                         registry: CacheRegistry = CacheRegistry.global): DataFrame = {
    require(k % bands == 0, s"signature length $k must divide into $bands bands")
    val sb = minhashBandRows(charMinHashSignatures(docs, n, k, registry), k, bands)
    val cand = sb.as("a").join(sb.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .dropDuplicates("i", "j")
    // Persisted: both refine sides read the gram arrays — an
    // unpersisted plan would run the corpus-wide char hashing twice.
    val grams = registry.track(docs.select(col("doc_id"),
      graft.plans.GraftFunctions.charGramHashesDistinct(
        lower(col("text")), n).as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    refineJoin(cand,
      grams.select(col("doc_id").as("i"), col("d").as("di")),
      grams.select(col("doc_id").as("j"), col("d").as("dj")),
      threshold)
  }

  /** INCREMENTAL dedup decision — the shape a production pipeline runs
    * every ingest epoch: a (small) delta of new documents is checked
    * against the (huge) existing corpus, and only cross pairs
    * (delta i, base j) are ever generated. The delta×delta and
    * base×base pair spaces are never entered — the banded join is
    * delta-side × base-side, so its output is linear in the delta's
    * candidate count, and the base corpus is never self-joined.
    *
    * Candidates = banded MinHash collisions (no estimated-similarity
    * gate: banding-only candidates are a SUPERSET of the est-filtered
    * ones, so recall over true ≥-threshold pairs is at least
    * q_minhash_cluster's pinned recall); decision = exact-Jaccard
    * refine over the two docs' distinct gram arrays. Output:
    * (i delta doc, j base doc, jaccard) for every true pair ≥
    * threshold. For repeated epochs, materialize the base side once
    * with [[writeMinhashIndex]] and use
    * [[incrementalDupPairsIndexed]] — signing the base corpus is the
    * full-corpus pass the index amortizes away. */
  def incrementalDupPairs(base: DataFrame, delta: DataFrame,
                          w: Int = 5, k: Int = 32, bands: Int = 8,
                          threshold: Double = 0.8,
                          registry: CacheRegistry = CacheRegistry.global): DataFrame = {
    require(k % bands == 0, s"signature length $k must divide into $bands bands")
    val sb = minhashBandRows(minHashSignatures(base, w, k, registry), k, bands)
    val sd = minhashBandRows(minHashSignatures(delta, w, k, registry), k, bands)
    val cand = sd.as("a").join(sb.as("b"), col("a.bkey") === col("b.bkey"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .dropDuplicates("i", "j")
    jaccardRefinePairs(base.unionByName(delta), cand, w, threshold, registry)
  }

  /** Materialized MinHash index over a corpus — the text twin of
    * [[writeLshIndex]], two catalog tables:
    *
    *   - `<table>`: thin `(doc_id, bkey)` rows (16 B each), one per
    *     doc per band, bucketed by bkey — a delta probe joins it on
    *     the bucket key, so the INDEX SIDE never exchanges (pinned in
    *     ScaleOpsSpec);
    *   - `<table>_grams`: `(doc_id, d array<long>)` distinct gram
    *     hashes once per doc, bucketed by doc_id — the refine reads
    *     base grams from here instead of re-hashing the corpus.
    *
    * Build once per epoch boundary; each epoch's delta then pays only
    * its own signing + a probe join, never a base-corpus pass. */
  def writeMinhashIndex(docs: DataFrame, table: String,
                        w: Int = 5, k: Int = 32, bands: Int = 8,
                        nBuckets: Int = 16,
                        registry: CacheRegistry = CacheRegistry.global): Unit = {
    val sigs = minHashSignatures(docs, w, k, registry)
    graft.sources.Warehouse.writeBucketed(
      minhashBandRows(sigs, k, bands), table, "bkey", nBuckets)
    graft.sources.Warehouse.writeBucketed(
      docs.select(col("doc_id"),
        graft.plans.GraftFunctions.wordGramHashesDistinct(
          lower(col("text")), w).as("d")),
      table + "_grams", "doc_id", nBuckets)
  }

  /** [[incrementalDupPairs]] against a [[writeMinhashIndex]] base: the
    * delta signs itself map-only and probes the bucketed signature
    * table (index side shuffle-free by layout); the refine joins the
    * delta's gram arrays with the index's `<table>_grams` side table.
    * The base corpus is re-read only at the candidate docs' gram rows
    * — no re-signing, no base self-join, no corpus-sized exchange.
    * MUST be called with the same (w, k, bands) the index was built
    * with — signatures are parameter-specific. */
  def incrementalDupPairsIndexed(spark: org.apache.spark.sql.SparkSession,
                                 delta: DataFrame, table: String,
                                 w: Int = 5, k: Int = 32, bands: Int = 8,
                                 threshold: Double = 0.8,
                                 registry: CacheRegistry = CacheRegistry.global): DataFrame = {
    require(k % bands == 0, s"signature length $k must divide into $bands bands")
    val sd = minhashBandRows(minHashSignatures(delta, w, k, registry), k, bands)
    val cand = sd.as("a").join(spark.table(table).as("b"),
        col("a.bkey") === col("b.bkey"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .dropDuplicates("i", "j")
    refineJoin(cand,
      delta.select(col("doc_id").as("i"),
        graft.plans.GraftFunctions.wordGramHashesDistinct(
          lower(col("text")), w).as("di")),
      spark.table(table + "_grams")
        .select(col("doc_id").as("j"), col("d").as("dj")),
      threshold)
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming (< 4):
    * the 64-bit signature splits into 2 bands of 32 bits; by pigeonhole
    * a pair within hamming 3 differs by ≤1 bit in SOME band, so
    * candidates come from 2 equi-joins where one side probes its band
    * value plus all 32 single-bit flips (multiprobe LSH), then the
    * exact hamming filter.
    *
    * Why 32-bit bands + multiprobe instead of 4×16-bit exact bands:
    * exact k-bit bands collide at n²/2^k per band — at 16 bits a
    * 10⁸-doc corpus shuffles ~10¹¹ candidate pairs per band, the
    * scale-killer of this family. Multiprobe replicates the PROBE side
    * 33× (linear in n) to push collisions to n²·33/2^32 — a ~2000×
    * candidate reduction for a 33× linear cost. Output pairs are
    * IDENTICAL to the exact-band scheme: both are complete for
    * hamming ≤ 3 and both apply the same exact hamming filter. */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3,
                   registry: CacheRegistry = CacheRegistry.global): DataFrame = {
    require(maxHamming < 4, "2-band multiprobe with 1-bit flips assumes hamming <= 3")
    // Signature via the fused native expression — one scan-side pass
    // per doc (tokenize on the space byte, XXH64 per token, 64 ±1 bit
    // votes), ZERO shuffle. The previous explode + groupBy + 64·sum()
    // aggregate combined map-side but still paid a corpus-wide
    // exchange; bit-identical output pinned in DedupSpec against that
    // form ([[simHashBandsViaAgg]]).
    // Bands as plain 32-bit values in longs, no bit array: hamming
    // distance is sum of bit_count(xor) over the 2 bands — native
    // codegen'd integer ops. The hamming filter runs INSIDE each join
    // stage, before the union + distinct, so only true near-dups reach
    // the dedup shuffle.
    // Both join sides consume the bands — persist (tiny: 3 longs/doc).
    val withBands = registry.track(
      docs.select(col("doc_id"),
          graft.plans.GraftFunctions.simHashBands(lower(col("text"))).as("_b"))
        .select(col("doc_id"),
          element_at(col("_b"), 1).as("band0"),
          element_at(col("_b"), 2).as("band1"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val hamming = (0 until 2).map(j =>
      bit_count(col(s"a.band$j").bitwiseXOR(col(s"b.band$j"))).cast("long"))
      .reduce(_ + _)
    // A pair within hamming 3 has ≤1 differing bit in some band, so
    // probing band ⊕ {0, each single bit} on one side and the exact
    // band on the other is complete. The flip relation is symmetric,
    // so probing only side "a" still finds every ordered (i < j) pair.
    val cands = (0 until 2).map { j =>
      val probed = withBands.withColumn("_pb",
        explode(array(col(s"band$j") +:
          (0 until 32).map(kk => col(s"band$j").bitwiseXOR(lit(1L << kk))): _*)))
      probed.as("a").join(withBands.as("b"),
          col("a._pb") === col(s"b.band$j")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
          hamming.as("hamming"))
        .filter(col("hamming") <= maxHamming)
    }.reduce(_ unionByName _).dropDuplicates("i", "j")
    cands
  }

  /** The AGGREGATE SimHash band form the fused expression replaced —
    * kept as the independently-derived reference (explode tokens →
    * xxhash64 → groupBy(doc) → 64·sum votes → band assembly) that
    * DedupSpec pins [[simHashPairs]]' scan-side signer against.
    * Not used by any operator. */
  def simHashBandsViaAgg(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val bitSums = (0 until 64).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1L) === 1L, 1L)
        .otherwise(-1L)).as(s"s$b"))
    val sums = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val bandCols = (0 until 2).map { j =>
      (0 until 32).map(kk =>
        when(col(s"s${j * 32 + kk}") > 0, lit(1L << kk)).otherwise(lit(0L)))
        .reduce(_ + _).as(s"band$j")
    }
    sums.select(col("doc_id") +: bandCols: _*)
  }

  /** Connected components over a near-dup pair set: the step that turns
    * pairwise output ([[jaccardPairs]] / [[minHashCandidates]] /
    * [[simHashPairs]] / [[cosineLshPairs]]) into actionable dedup
    * clusters — every doc labeled with the minimum doc_id reachable
    * through the pair graph, so "keep one per cluster" is just
    * `doc_id === cluster_id`.
    *
    * Algorithm: alternating large-star / small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014). The edge list is kept as (child, parent) pointers
    * with parent < child; each round runs
    *
    *   - large-star: every node attaches its LARGER neighbors to the
    *     minimum of its neighborhood (incl. itself), and
    *   - small-star: every node attaches its smaller neighbors and
    *     itself to the minimum of its smaller neighborhood,
    *
    * each one equi-join + one min-groupBy (map-side combining).
    * Converges in O(log² n) rounds on ANY graph shape — a length-n
    * chain contracts in ~log n rounds where plain min-label
    * propagation needs n (the property test in DedupSpec pins a
    * 3000-link chain) — and near-dup graphs (clique-ish) still finish
    * in 2-3 rounds. At fixpoint the edges form a star forest, detected
    * structurally and EXACTLY each round: every child points at one
    * parent and no parent is itself a child — both conditions provably
    * hold iff the rounds are no-ops, so there is no probabilistic
    * hash-compare in the loop. An eager `localCheckpoint` after each
    * phase cuts lineage every round — without it the plan doubles per
    * iteration and the job DAG blows up long before the data does.
    * Eager beats lazy checkpoints (fused into the fixpoint probe, two
    * fewer job submissions per round) on all four cluster queries at
    * sf0.1 (5.60 s vs 6.35 s summed, min-of-5 on 32 cores): the saved
    * round-trips never amortize the fused probe's cost. Per-round
    * cost is O(|E|) shuffle on the node id; at 100 TB the edge list
    * (near-dup pairs) is orders of magnitude smaller than the corpus,
    * so rounds are cheap relative to the pair generation that feeds
    * this.
    *
    * Throws rather than returning a half-merged labeling if maxIter
    * rounds don't reach the fixpoint (with star contraction that
    * would take a graph of ~2^sqrt(maxIter) chained nodes). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    // Canonicalize to (child, parent) with parent <= child and
    // materialize FIRST: acting on the raw input twice would evaluate
    // the (possibly expensive) upstream pair pipeline a second time —
    // measured as ~2x the whole pair-join cost on q_dedup_cluster.
    // Self-loops are kept through the checkpoint (then split off): a
    // doc appearing ONLY as (i, i) must still be labeled (i → i) —
    // the contract is "every endpoint of the input gets a label".
    val canon = pairs
      .select(greatest(col("i").cast("long"), col("j").cast("long")).as("c"),
        least(col("i").cast("long"), col("j").cast("long")).as("p"))
      .distinct()
      .localCheckpoint(false) // lazy: the edge count below materializes it
    val e0Raw = canon.filter(col("c") =!= col("p"))
    val selfOnly = canon.filter(col("c") === col("p")).select(col("c"))
    // Right-size the loop's partitioning from the MEASURED edge count
    // (free — the data is checkpointed): a near-dup pair graph is
    // orders of magnitude smaller than the corpus that produced it,
    // and iterating a few-thousand-edge graph across the corpus's
    // partition count pays per-round scheduler overhead for empty
    // tasks. ~500k edges per partition; coalesce is narrow (no
    // shuffle); large graphs keep their parallelism untouched.
    val edgeCount = e0Raw.count()
    val curParts = e0Raw.rdd.getNumPartitions
    val targetParts = math.max(1L,
      math.min(curParts.toLong, edgeCount / 500000L + 1L)).toInt
    var edges = if (targetParts < curParts) e0Raw.coalesce(targetParts)
      else e0Raw
    val selfLabels = selfOnly
      .select(col("c").as("doc_id"), col("c").as("cluster_id"))
    if (edgeCount == 0L) return selfLabels
    // Full adjacency (both directions) of the current pointer set.
    def sym(e: DataFrame): DataFrame =
      e.select(col("c").as("n"), col("p").as("nbr"))
        .unionByName(e.select(col("p").as("n"), col("c").as("nbr")))
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      // large-star: node n attaches each LARGER neighbor to
      // min(Γ(n) ∪ {n}). Emitted pointers always target a node smaller
      // than their child, preserving the parent < child invariant.
      val adj = sym(edges)
      val largeMins = adj.groupBy("n")
        .agg(min("nbr").as("mn"))
        .select(col("n"), least(col("n"), col("mn")).as("m"))
      // Per-phase eager checkpoints: 3 jobs/round, each phase
      // materialized before the next reads it twice through sym().
      val afterLarge = adj.filter(col("nbr") > col("n"))
        .join(largeMins, "n")
        .select(col("nbr").as("c"), col("m").as("p"))
        .filter(col("c") =!= col("p"))
        .distinct()
        .localCheckpoint()
      // small-star: node n attaches its smaller neighbors and itself
      // to the minimum of its smaller neighborhood.
      val adj2 = sym(afterLarge)
      val small = adj2.filter(col("nbr") < col("n"))
      val smallMins = small.groupBy("n").agg(min("nbr").as("m"))
      val afterSmall = small.join(smallMins, "n")
        .filter(col("nbr") =!= col("m"))
        .select(col("nbr").as("c"), col("m").as("p"))
        .unionByName(smallMins.select(col("n").as("c"), col("m").as("p")))
        .distinct()
        .localCheckpoint()
      // EXACT fixpoint test, no hash-compare: the pointer set is a
      // star forest iff (1) every child has exactly one parent and
      // (2) no parent is itself a child — and a star forest is
      // provably a no-op for both phases. Both conditions fold into
      // ONE aggregation over node roles (a violating node either has
      // >1 parent rows or plays both roles), so the check costs a
      // single action on the checkpointed edge list.
      val violations = afterSmall
        .select(col("c").as("x"), lit(1L).as("nc"), lit(0L).as("ip"))
        .unionByName(afterSmall
          .select(col("p").as("x"), lit(0L).as("nc"), lit(1L).as("ip")))
        .groupBy("x").agg(sum("nc").as("nc"), max("ip").as("ip"))
        .filter(col("nc") > 1L || (col("nc") > 0L && col("ip") === 1L))
        .limit(1)
      converged = violations.count() == 0L
      edges = afterSmall
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds - " +
          "star contraction should finish any real graph in O(log^2 n); " +
          "raise maxIter")
    val labeled = edges.select(col("c").as("doc_id"), col("p").as("cluster_id"))
      .unionByName(edges.select(col("p").as("doc_id"),
        col("p").as("cluster_id")).distinct())
    // Docs that appeared ONLY as self-loops label themselves; one that
    // also has real edges keeps its component label (anti-join).
    labeled.unionByName(selfLabels
      .join(labeled.select("doc_id"), Seq("doc_id"), "left_anti"))
  }

  /** Embedding-cosine near-dup pairs, blocked on `label` (the coarse
    * cluster id) so the pair space is |block|² not n² — the same
    * blocking an IVF index gives. `sample` further thins the corpus
    * deterministically for the oracle-checked exact variant; the
    * full-corpus path at 100 TB goes through LSH/IVF instead. */
  def cosinePairs(embeddings: DataFrame, threshold: Double = 0.4,
                  sampleMod: Int = 1): DataFrame = {
    // Native codegen'd dot product (same fold order as the HOF form —
    // see graft.plans.DotProductFloat), float arrays kept as-is.
    val base = embeddings
      .filter(pmod(col("vec_id"), lit(sampleMod)) === 0)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("nrm",
        sqrt(graft.plans.GraftFunctions.dotProductFloat(col("v"), col("v"))))
    val dot = graft.plans.GraftFunctions.dotProductFloat(col("a.v"), col("b.v"))
    val cos = round(dot / (col("a.nrm") * col("b.nrm")), 6)
    base.as("a").join(base.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        cos.as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Full-corpus embedding near-dup via random-hyperplane LSH: no
    * label/block column needed, so this is the 100 TB path
    * [[cosinePairs]]' scaladoc defers to.
    *
    * Signatures: `numBands*bandBits` Rademacher (±1) hyperplanes,
    * derived from the bits of one xxhash64 per dimension index —
    * deterministic across runs and engines. A vector's sign bit for
    * hyperplane b is `sign(Σ_pos ±x_pos)`, computed as bandBits*numBands
    * conditional sums over ONE posexplode + groupBy (map-side partial
    * agg — the same proven shape as [[simHashPairs]]' bit sums).
    *
    * Banding: bits fold into `numBands` integer band values; candidates
    * meet on (band index, band value) equi-joins — n²/2^bandBits
    * collision volume per band on random data. Each join refines with
    * the EXACT cosine (native dot product) before the union + distinct,
    * so only true ≥-threshold pairs reach the final dedup shuffle:
    * precision is 1.0 by construction, recall ≈
    * 1-(1-p^bandBits)^numBands with p = 1-θ/π. The 8×8 default gives
    * ~0.99998 recall at cosine 0.99 (planted-dup regime), ~0.85 at
    * 0.85; raise bandBits (up to 32) to cut candidate volume on huge
    * corpora, raise numBands for recall at lower thresholds. At 100 TB,
    * write the signature table partitioned by (band, value) and each
    * band join becomes a co-located bucket join. */
  /** Shared signature builder for the hyperplane-LSH family:
    * (vec_id, band0..band{numBands-1}, v, nrm) — one row per vector,
    * band values as longs. See [[cosineLshPairs]] for the hyperplane
    * derivation. */
  private[graft] def lshBands(embeddings: DataFrame, bandBits: Int,
                       numBands: Int): DataFrame = {
    require(bandBits >= 1 && bandBits <= 32, s"bandBits in [1,32], got $bandBits")
    require(bandBits * numBands <= 64,
      s"bandBits*numBands <= 64 (one xxhash64 of the dimension index " +
        s"supplies the hyperplane signs), got ${bandBits * numBands}")
    // Map-only: the native [[graft.plans.LshBandSigns]] kernel signs
    // each vector in one per-row loop — where the aggregate twin
    // below pays a d-row posexplode, a (bandBits×numBands)-sum
    // groupBy shuffle and a join back PER CORPUS PASS. Bit-identical
    // (DedupSpec pins it against the twin).
    val bands = graft.plans.GraftFunctions.lshBandSigns(
      col("v"), bandBits, numBands)
    embeddings
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm",
        sqrt(graft.plans.GraftFunctions.dotProductFloat(col("v"), col("v"))))
      .withColumn("__bands", bands)
      .select(
        col("vec_id") +:
          (0 until numBands).map(j =>
            element_at(col("__bands"), j + 1).as(s"band$j")) :+
          col("v") :+ col("nrm"): _*)
  }

  /** The pre-native AGGREGATE signer — posexplode → per-bit
    * conditional sums → bit packing → join back. Kept purely as the
    * independent twin DedupSpec pins [[lshBands]] against: it reaches
    * the same signatures through Spark's own explode/agg machinery.
    * Never a hot path. */
  private[graft] def lshBandsAgg(embeddings: DataFrame, bandBits: Int,
                                 numBands: Int): DataFrame = {
    val nBits = bandBits * numBands
    val base = embeddings
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm",
        sqrt(graft.plans.GraftFunctions.dotProductFloat(col("v"), col("v"))))
    // One hash per dimension index; bit b of it is hyperplane b's ±1
    // coefficient for that dimension.
    val contrib = base.select(col("vec_id"),
      posexplode(col("v")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("x").cast("double").as("x"),
        xxhash64(col("pos").cast("long")).as("h"))
    val bitSums = (0 until nBits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1L) === 1L, col("x"))
        .otherwise(-col("x"))).as(s"s$b"))
    val sums = contrib.groupBy("vec_id").agg(bitSums.head, bitSums.tail: _*)
    val bandCols = (0 until numBands).map { j =>
      (0 until bandBits).map(kk =>
        when(col(s"s${j * bandBits + kk}") > 0, lit(1L << kk)).otherwise(lit(0L)))
        .reduce(_ + _).as(s"band$j")
    }
    sums.select(col("vec_id") +: bandCols: _*).join(base, "vec_id")
  }

  def cosineLshPairs(embeddings: DataFrame, threshold: Double = 0.9,
                     bandBits: Int = 8, numBands: Int = 8,
                     registry: CacheRegistry = CacheRegistry.global): DataFrame = {
    val withBands = registry.track(
      lshBands(embeddings, bandBits, numBands)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val dot = graft.plans.GraftFunctions.dotProductFloat(col("a.v"), col("b.v"))
    val cos = round(dot / (col("a.nrm") * col("b.nrm")), 6)
    (0 until numBands).map { j =>
      withBands.as("a").join(withBands.as("b"),
          col(s"a.band$j") === col(s"b.band$j")
            && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
          cos.as("cos_sim"))
        .filter(col("cos_sim") >= threshold)
    }.reduce(_ unionByName _).dropDuplicates("i", "j")
  }

  /** MATERIALIZED form of the [[cosineLshPairs]] index — two catalog
    * tables, signatures and vectors SEPARATED so the index truly is a
    * small fraction of corpus bytes at 100 TB:
    *
    *   - `<table>`: thin `(vec_id, bkey)` rows (16 B each), one per
    *     vector per band, bucketed by `bkey = xxhash64(band,
    *     bandValue)` — folding (band, value) into one hashed key makes
    *     the candidate self-join key equal the bucket key, so that
    *     join plans with ZERO Exchange (pinned in ScaleOpsSpec).
    *   - `<table>_vec`: `(vec_id, v, nrm)` exactly ONCE per vector,
    *     bucketed by vec_id, consulted only in the refine step.
    *
    * Storing v/nrm in the band rows instead would duplicate every
    * corpus embedding numBands× and make each epoch's candidate scan
    * pay numBands× corpus-embedding bytes — the thin layout's refine
    * joins shuffle only the candidate-pair ids (16 B/row), never the
    * vectors. A bkey hash collision can only ADD a candidate pair, and
    * every candidate is refined with the exact cosine — completeness
    * and the emitted threshold are unaffected (ScaleOpsSpec pins
    * indexed ⊇ in-memory on planted twins).
    *
    * Build once, then every dedup/search epoch reads the index instead
    * of re-signing the corpus — the re-sign (a full corpus pass) is
    * the expensive step. */
  def writeLshIndex(embeddings: DataFrame, table: String,
                    bandBits: Int = 8, numBands: Int = 8,
                    nBuckets: Int = 16): Unit = {
    // Persisted across the two table writes: signing is the full
    // corpus pass this index exists to amortize — without the persist
    // both saveAsTable calls would run it once each.
    val bands = lshBands(embeddings, bandBits, numBands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = bands.select(col("vec_id"),
        explode(array((0 until numBands).map(j =>
          xxhash64(lit(j), col(s"band$j"))): _*)).as("bkey"))
      graft.sources.Warehouse.writeBucketed(rows, table, "bkey", nBuckets)
      graft.sources.Warehouse.writeBucketed(
        bands.select(col("vec_id"), col("v"), col("nrm")),
        table + "_vec", "vec_id", nBuckets)
    } finally {
      bands.unpersist()
      ()
    }
  }

  /** Distinct candidate id-pairs from a [[writeLshIndex]] signature
    * table: one self-join on the bucket key (shuffle-free by layout) +
    * the pair dedup — the ONLY Exchange in this plan carries bare
    * (i, j) longs. */
  def lshIndexCandidates(spark: org.apache.spark.sql.SparkSession,
                         table: String): DataFrame = {
    val idx = spark.table(table)
    idx.as("a").join(idx.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"))
      .dropDuplicates("i", "j")
  }

  /** ≥-threshold cosine pairs from a [[writeLshIndex]] table:
    * [[lshIndexCandidates]] refined against the `<table>_vec` side
    * table. The refine joins move only candidate ids — the vector
    * table is bucketed by vec_id, so Spark shuffles the thin pair
    * stream to the buckets and the embeddings stay put (pinned in
    * ScaleOpsSpec: no Exchange in the plan carries an array column). */
  def cosineLshPairsIndexed(spark: org.apache.spark.sql.SparkSession,
                            table: String,
                            threshold: Double = 0.9): DataFrame = {
    val vec = spark.table(table + "_vec")
    val va = vec.select(col("vec_id").as("i"), col("v").as("va"),
      col("nrm").as("na"))
    val vb = vec.select(col("vec_id").as("j"), col("v").as("vb"),
      col("nrm").as("nb"))
    val dot = graft.plans.GraftFunctions.dotProductFloat(col("va"), col("vb"))
    val cos = round(dot / (col("na") * col("nb")), 6)
    lshIndexCandidates(spark, table)
      .join(va, "i").join(vb, "j")
      .select(col("i"), col("j"), cos.as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }
}
