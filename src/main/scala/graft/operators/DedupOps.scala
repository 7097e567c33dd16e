package graft.operators

import graft.{OpFamily, Tables}
import graft.functions.{NativeExprs, VecOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY.md §2.11
  * #63/#64): exact (content-hash), near-dup by shingle Jaccard, hand-rolled
  * MinHash+LSH banding, SimHash, and embedding-cosine near-dup.
  *
  * The corpus has no exact duplicates, so the exact/near queries first plant
  * deterministic duplicates (a shifted-id copy, resp. a truncated copy) via
  * UNION — the planted ids are offset so the (original, duplicate) pairs are
  * recognizable, and the same construction is replayed in the DuckDB oracle.
  *
  * Scale notes: exact dedup is one hash-groupBy (map-side partial, shuffle =
  * one row per distinct hash). Jaccard/minhash/simhash never do an O(n²)
  * pass: exact-Jaccard candidates come from an AllPairs/PPJoin prefix
  * filter (equi-join on each doc's rarest shingle hashes — see
  * [[prefixCandidates]]), so even a single popular (lang, source) block
  * stays token-stream-linear; MinHash candidates only within LSH band
  * buckets (the standard sub-quadratic shape: shingle → signature → band →
  * bucket-join); SimHash pairs only within lang blocks. At 100 TB the
  * band-bucket join is the only shuffle whose fan-in needs watching —
  * skewed buckets mean a too-lax band width, tuned here to 8 bands × 4
  * rows.
  */
object DedupOps extends OpFamily {

  private val P = 2147483647L // 2^31 − 1, Mersenne prime for the perm family
  private val NumPerm = 32
  private val Bands = 8
  private val RowsPerBand = NumPerm / Bands
  /** Deterministic MinHash permutation params (fixed-seed LCG). */
  private[graft] val perms: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(NumPerm)((rnd.nextInt(Int.MaxValue - 1).toLong + 1,
      rnd.nextInt(Int.MaxValue).toLong))
  }

  /** The REGISTERED planted-dup fixtures offset copies by +PlantBase /
    * +2·PlantBase with PlantBase pinned at 100000, because the DuckDB
    * oracles replay those literal offsets; original ids must then stay
    * below PlantBase for the three id spaces to be disjoint, and
    * [[guardedDocId]] asserts that per row ON the normal scan (zero extra
    * jobs) — once the corpus outgrows the pinned offset the fixture fails
    * loudly instead of silently aliasing planted ids onto originals.
    * Corpora of ANY size use [[plantBaseFor]] + the parameterized builders
    * instead: the offset is derived from max(doc_id), so no guard (and no
    * 100k ceiling) applies.
    */
  private[operators] val PlantBase = 100000L
  private[operators] def guardedDocId: Column =
    when(col("doc_id") < PlantBase, col("doc_id"))
      .otherwise(raise_error(concat(
        lit(s"planted-dup fixture requires doc_id < $PlantBase, got "),
        col("doc_id").cast("string"))))

  /** Scale-adaptive plant offset: one tiny max() aggregate over the corpus
    * (parquet sources answer it from footer statistics). ≥ PlantBase so
    * small-corpus ids coincide with the pinned fixtures' shape.
    */
  private[graft] def plantBaseFor(docs: DataFrame): Long =
    math.max(PlantBase,
      docs.agg(max(col("doc_id"))).head().getLong(0) + 1)

  /** `docs` (doc_id, text) plus a planted exact copy of every 5th doc at
    * id + base. Callers pass a base exceeding every doc_id
    * ([[plantBaseFor]]) with the default raw `baseIdCol`, or PlantBase
    * with [[guardedDocId]]; the guard column applies ONLY to the all-rows
    * base branch (which covers every id) so the % 5 filter stays on the
    * raw column and pushes to the scan.
    */
  private[graft] def withExactDupesOn(docs: DataFrame, base: Long,
      baseIdCol: Column = col("doc_id")): DataFrame =
    docs.select(baseIdCol.as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + base).as("doc_id"), col("text")))

  /** Registered fixture: pinned base (the oracle replays +100000),
    * per-row-guarded ids.
    */
  private def withExactDupes(s: SparkSession, d: String): DataFrame =
    withExactDupesOn(Tables.documents(s, d), PlantBase, guardedDocId)

  /** `docs` (doc_id, lang, source, text) plus a planted near-dup of every
    * 7th doc at id + 2·base: the same text with the last 5 tokens dropped.
    * Base/guard contract as in [[withExactDupesOn]].
    */
  private[graft] def withNearDupesOn(docs: DataFrame, base: Long,
      baseIdCol: Column = col("doc_id")): DataFrame = {
    val truncated = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2 * base).as("doc_id"), col("lang"),
        col("source"),
        concat_ws(" ", slice(TextOps.toks, lit(1),
          greatest(size(TextOps.toks) - 5, lit(1)))).as("text"))
    docs.select(baseIdCol.as("doc_id"), col("lang"), col("source"),
        col("text"))
      .unionByName(truncated)
  }

  /** Registered fixture: pinned base (the oracle replays +200000). */
  private[graft] def withNearDupes(s: SparkSession, d: String): DataFrame =
    withNearDupesOn(Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("text")),
      PlantBase, guardedDocId)

  /** Exact dedup: group by content hash, surface the duplicate groups. */
  def exactDupGroups(s: SparkSession, d: String): DataFrame =
    withExactDupes(s, d)
      .groupBy(md5(TextOps.normalizedText(col("text"))).as("fp"))
      .agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("keep_id"),
        max(col("doc_id")).as("dup_id"))
      .filter(col("n") > 1)
      .orderBy(col("keep_id"))

  /** Canonicalization: keep the lowest doc_id per (lang, source) group. */
  def keepFirst(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(min(col("doc_id")).as("kept_id"),
        (count(lit(1)) - 1).as("n_dropped"))
      .orderBy(col("lang"), col("source"))

  /** Near-dup pairs by word-3-shingle Jaccard ≥ 0.3 within (lang, source)
    * blocks, over the planted-near-dup corpus. Output is (a, b, jaccard).
    *
    * Shingles are hashed to 64-bit longs before any pairing, so the arrays
    * shipped through shuffles are 8-byte elements (not strings) and the
    * intersect/union run on long equality — the jaccard VALUE is unchanged
    * (collision probability ~2⁻⁶⁴). This exact variant is the
    * oracle-checkable baseline; candidate generation is prefix-filtered
    * (AllPairs/PPJoin), never all-pairs — see [[blockedJaccardPairs]].
    */
  def nearJaccard(s: SparkSession, d: String): DataFrame =
    cachedPairs(s, d, "neardup_tau30")(
      blockedJaccardPairs(withNearDupes(s, d)))
      .orderBy(col("a"), col("b"))

  /** Content-addressed NEAR-DUP PAIR INDEX — the dedup twin of
    * [[SimOps.lloydCells]]'s persisted IVF index: the prefix-filtered
    * exact-Jaccard pair table is a pure function of (corpus file,
    * corpus recipe tag, τ), so it is built ONCE, written to parquet,
    * and re-attached by every consumer (the pair listing, the CC
    * clustering, the survivor report, and the three dup-graph analytics
    * in GraphOps) instead of re-running the similarity join per query.
    * At 100 TB the pair build is the batch job and everything downstream
    * — clustering, survivor materialization, graph analytics — reads
    * the artifact. Keyed on the documents file's (size, mtime)
    * fingerprint so a regenerated fixture invalidates (the r8 lesson);
    * doubles round-trip parquet bit-exactly, so cached results hash
    * identically to fresh ones. The PROBABILISTIC detectors (MinHash-LSH,
    * SimHash ×2, mllib MinHash) persist under their own tags too — their
    * signatures are deterministic (fixed perms/seeds), so the pair table
    * is as content-addressable as the exact one, and [[recallReport]]
    * re-attaches all five tables instead of re-running five pipelines.
    */
  private[graft] def cachedPairs(s: SparkSession, d: String, tag: String)(
      build: => DataFrame): DataFrame =
    ArtifactCache.readOrBuild(s,
      ArtifactCache.dir(s, d, "documents", "graft_pairs", s"$tag@r1"))(build)

  /** Exact-jaccard pair core over any (doc_id, lang, source, text) corpus —
    * shared by [[nearJaccard]] and the dup-graph consumers
    * ([[GraphOps.triangleCensus]]).
    *
    * Candidate generation is PREFIX FILTERING (the AllPairs/PPJoin family:
    * Bayardo et al. WWW'07, Xiao et al. WWW'08), not a within-block
    * all-pairs self-join: under any global total order of the shingle
    * universe, two sets with |x∩y| ≥ α must share an element among the
    * first |x|−α+1 resp. |y|−α+1 elements of their orderings, and J ≥ τ
    * implies |x∩y| ≥ ⌈τ·max(|x|,|y|)⌉ ≥ ⌈τ·|x|⌉. So an equi-join on the
    * per-doc prefix keys generates a candidate SUPERSET of the qualifying
    * pairs, and the exact merge-scan verify makes the output identical to
    * all-pairs. At 100 TB this is the difference between O(n²) pairs in a
    * popular (lang, source) block and a token-stream-linear equi-join on
    * rare hashes: ordering the universe by ascending per-block document
    * frequency puts each doc's RAREST shingles in its prefix, so prefix-key
    * collisions — the candidates — are mostly genuine near-dups.
    */
  private[graft] def blockedJaccardPairs(corpus: DataFrame,
      tau: Double = 0.3): DataFrame = {
    val s = corpus.sparkSession
    val sh = blockShingles(corpus)
    val cand = prefixCandidates(sh, tau)
    // verify candidates with the exact codegen'd merge scan (one expression
    // replaces array_intersect + array_union: |A∪B| = |A|+|B|−|A∩B|)
    cand
      .join(sh.select(col("doc_id").as("a"), col("sh").as("sha")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("sh").as("shb")), Seq("b"))
      .withColumn("inter",
        NativeExprs.sortedIntersectCount(s, col("sha"), col("shb")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("a"), col("b"), col("jaccard"))
      .orderBy(col("a"), col("b"))
  }

  /** (doc_id, lang, source, sh): sorted distinct 64-bit shingle hashes per
    * doc. localCheckpoint = a hard materialization boundary: without it
    * every downstream consumer (frequency count, prefix build, both verify
    * sides) re-evaluates the interpreted shingle-build chain — jstack-
    * verified ~20× slower when it re-ran per PAIR in the pre-r6 all-pairs
    * shape; with it each doc's array is built exactly once.
    */
  private[graft] def blockShingles(corpus: DataFrame): DataFrame =
    corpus
      .select(col("doc_id"), col("lang"), col("source"),
        array_sort(array_distinct(transform(TextOps.shingles3(TextOps.toks),
          xxhash64(_)))).as("sh"))
      .localCheckpoint()

  /** Prefix-filtered candidate pairs (a, b) within (lang, source) blocks
    * over a [[blockShingles]] frame, for Jaccard threshold `tau`: a
    * candidate SUPERSET of all pairs with J ≥ tau (prefix-filter theorem),
    * sub-quadratically via an equi-join on each doc's rarest
    * |sh|−⌈τ·|sh|⌉+1 shingle hashes.
    *
    * Numeric care: the prefix length uses ceil(τ·n − 1e-6). The epsilon
    * guards the UNSAFE float direction — if ceil(0.3·n) rounded UP past the
    * exact rational (e.g. 0.3·10 = 3.0000000000000004 → 4) the prefix would
    * be one too short and could drop a true pair; the epsilon can only make
    * the prefix one element longer, which costs candidates, never recall.
    * The (least ≥ τ·greatest − ε) size filter prunes pairs whose set sizes
    * alone already cap Jaccard below τ (|x∩y| ≤ min, |x∪y| ≥ max), with the
    * slack on the same safe side.
    */
  private[graft] def prefixCandidates(sh: DataFrame, tau: Double): DataFrame = {
    // per-block document frequency of each shingle hash — the global order
    // (freq asc, hash asc) that makes prefixes rare; per-block counts are
    // consistent for any candidate pair, which by construction shares the
    // block. Deliberately groupBy + join-back, NOT count-over-window on
    // (block, hash): a window partition buffers ALL rows sharing the key
    // in one task, so a stopword shingle in a popular block would pin an
    // O(block)-row partition to a single task at corpus scale — the
    // groupBy's map-side partials are skew-immune and the join-back's hot
    // hash keys are AQE-splittable. Costs one more exchange of the token
    // stream (~0.7 s at sf0.1), which is the right trade at 100 TB.
    val exploded = sh.select(col("doc_id"), col("lang"), col("source"),
      explode(col("sh")).as("h"))
    val freq = exploded.groupBy(col("lang"), col("source"), col("h"))
      .agg(count(lit(1)).as("f"))
    // re-assemble each doc's hashes rarest-first; array_sort on (f, h)
    // structs orders lexicographically = by frequency, ties by hash
    val pref = exploded
      .join(freq, Seq("lang", "source", "h"))
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(array_sort(collect_list(struct(col("f"), col("h")))).as("fh"))
      .select(col("doc_id"), col("lang"), col("source"),
        size(col("fh")).as("n"),
        slice(transform(col("fh"), x => x.getField("h")), lit(1),
          (size(col("fh"))
            - ceil(size(col("fh")) * lit(tau) - lit(1e-6)).cast("int")
            + 1)).as("pref"))
    val pk = pref.select(col("doc_id"), col("lang"), col("source"), col("n"),
      explode(col("pref")).as("pk"))
    pk.select(col("doc_id").as("a"), col("lang"), col("source"), col("pk"),
        col("n").as("na"))
      .join(pk.select(col("doc_id").as("b"), col("lang"), col("source"),
        col("pk"), col("n").as("nb")), Seq("lang", "source", "pk"))
      .filter(col("a") < col("b"))
      .filter(least(col("na"), col("nb")).cast("double") >=
        greatest(col("na"), col("nb")) * lit(tau) - lit(1e-6))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** Asymmetric CONTAINMENT join: every ORDERED pair (a, b) with
    * C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)| ≥ 0.8 — "most of a's shingles
    * appear in b", the quote/subset/snippet detector that symmetric
    * Jaccard misses (a short doc fully quoted inside a long one has high
    * containment but low Jaccard). Directional by nature: the planted
    * truncations satisfy C(truncated→original) = 1.0 exactly (a prefix's
    * 3-shingles are a subset of the full doc's), while the reverse
    * direction scores ~0.85 — both emitted when ≥ τ.
    */
  def containmentPairs(s: SparkSession, d: String): DataFrame =
    containmentPairsOn(withNearDupes(s, d), 0.8)

  /** Containment core over any (doc_id, lang, source, text) corpus.
    *
    * Candidate generation is ONE-SIDED prefix filtering against an
    * inverted index: with t = ⌈τ·|A|⌉, if none of A's |A|−t+1 rarest
    * shingles (global frequency order) occurs in B then |A∩B| ≤ t−1 < t,
    * so equi-joining A's prefix hashes against B's FULL posting lists
    * yields a complete candidate set — B is unconstrained (that is what
    * makes the join asymmetric), so B cannot be prefix-truncated, but
    * A's prefix holds its RAREST hashes and rare keys have short posting
    * lists, keeping candidates near the true positives instead of n².
    * The ⌈·⌉ epsilon errs on the longer-prefix side (costs candidates,
    * never recall) and the |sh(B)| ≥ τ·|A| size filter prunes pairs the
    * sizes alone disqualify — both the [[prefixCandidates]] conventions.
    * Exact merge-scan verify ⇒ output identical to brute force.
    *
    * Oracle-collision assumption (shared with every shingle-hash oracle
    * here): Spark intersects 64-bit xxhash64 shingle hashes while the
    * DuckDB oracle intersects the shingle STRINGS, so a 64-bit collision
    * between two distinct shingles of a candidate pair would make the
    * engines disagree on the ratio. P(any collision) ≈ s²/2⁶⁵ for s
    * distinct shingles corpus-wide — negligible at any tested scale. If a
    * differential run ever flags a one-pair mismatch, diff that pair's
    * shingle sets as strings first.
    */
  private[graft] def containmentPairsOn(corpus: DataFrame,
      tau: Double): DataFrame = {
    val sp = corpus.sparkSession
    val sh = blockShingles(corpus)
    val exploded = sh.select(col("doc_id"), explode(col("sh")).as("h"))
    // GLOBAL document frequency (containment ignores blocks: quotes cross
    // languages/sources); skew-immune groupBy + join-back as in
    // [[prefixCandidates]]
    val freq = exploded.groupBy(col("h")).agg(count(lit(1)).as("f"))
    val pref = exploded
      .join(freq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("f"), col("h")))).as("fh"))
      .select(col("doc_id"), size(col("fh")).as("n"),
        slice(transform(col("fh"), x => x.getField("h")), lit(1),
          (size(col("fh"))
            - ceil(size(col("fh")) * lit(tau) - lit(1e-6)).cast("int")
            + 1)).as("pref"))
    val pk = pref.select(col("doc_id").as("a"), col("n").as("na"),
      explode(col("pref")).as("h"))
    val cand = pk
      .join(exploded.select(col("doc_id").as("b"), col("h")), Seq("h"))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"), col("na"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("a"), col("sh").as("sha")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("sh").as("shb")), Seq("b"))
      .filter(size(col("shb")).cast("double") >= col("na") * lit(tau) - lit(1e-6))
      .withColumn("inter",
        NativeExprs.sortedIntersectCount(sp, col("sha"), col("shb")))
      .withColumn("containment", col("inter").cast("double") / col("na"))
      .filter(col("containment") >= tau)
      .select(col("a"), col("b"), col("containment"))
      .orderBy(col("a"), col("b"))
  }

  /** INCREMENTAL NEAR-DEDUP: today's batch against yesterday's corpus —
    * the shape every production dedup pipeline actually runs (a full
    * corpus re-dedup per ingest is a non-starter at 100 TB). Fixture:
    * the [[withNearDupes]] corpus split into INDEX (the originals,
    * doc_id < PlantBase) and INCOMING (the planted re-crawls,
    * doc_id ≥ 2·PlantBase); every incoming doc reports its ≥ τ Jaccard
    * matches in the index. See [[incrementalNearDupsOn]] for why the
    * index×index quadratic never runs.
    */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val corpus = withNearDupes(s, d)
    // the index side really IS write-once here: its three tables are
    // content-addressed artifacts (the [[cachedPairs]] discipline), so
    // repeated ingests — and every bench/verify rerun — only ever compute
    // the incoming batch's side of the join
    val parts = ArtifactCache.readOrBuildAll(s,
      ArtifactCache.dir(s, d, "documents", "graft_pairs",
        "incr_index_tau30@r1"),
      Seq("shingles", "freq", "prefix"))(
      dedupIndexTables(corpus.filter(col("doc_id") < PlantBase), 0.3))
    incrementalNearDupsProbe(parts("shingles"), parts("freq"),
      parts("prefix"), corpus.filter(col("doc_id") >= 2 * PlantBase), 0.3)
  }

  /** INCREMENTAL NEAR-DEDUP THROUGH THE PERSISTED LSH BAND INDEX — the
    * same ingest fixture as [[dedupIncremental]] at the stricter
    * τ = 0.5, but candidates come from probing the index's PERSISTED
    * minhash band-bucket artifact (built exactly once per corpus
    * version, the write-once table a production pipeline keeps between
    * daily batches), unioned with the deterministic prefix candidates
    * that guarantee the output is EXACTLY the ≥ τ pair set
    * ([[incrementalLshProbe]] for the superset-completeness argument).
    * Scale shape: per batch, signature + band-key computation over the
    * batch only, one equi-join against the bucket table on (band, key),
    * one verify — nothing rescans or rebuilds the index side.
    */
  def dedupIncrementalLsh(s: SparkSession, d: String): DataFrame = {
    val corpus = withNearDupes(s, d)
    val parts = ArtifactCache.readOrBuildAll(s,
      ArtifactCache.dir(s, d, "documents", "graft_pairs",
        "incr_lsh_index_tau50@r1"),
      Seq("shingles", "freq", "prefix", "buckets"))(
      lshIndexTables(corpus.filter(col("doc_id") < PlantBase), 0.5))
    incrementalLshProbe(parts("shingles"), parts("freq"), parts("prefix"),
      parts("buckets"), corpus.filter(col("doc_id") >= 2 * PlantBase), 0.5)
  }

  /** DAY-N INGEST THROUGH AN APPENDED INDEX — the registered evidence
    * that [[appendDedupIndexTables]] closes the cross-batch blind spot:
    * the r15 incremental fixtures froze the index at the initial build
    * (doc_id < PlantBase), so two near-dups BOTH arriving after that
    * build could never see each other. Here day 0 builds the index from
    * the originals EXCEPT the % 7 == 0 docs; day 1 ingests exactly
    * those docs (probe → survivors → append, the production loop); day
    * 2 ingests the planted truncations (id + 2·PlantBase), whose
    * sources arrived on day 1 — after the initial build — and each
    * still reports its ≥ τ match because the appended index carries the
    * day-1 survivors. Output: day 2's (new_id, matched_id, jaccard).
    *
    * The appended index version is a content-addressed artifact (pure
    * function of the corpus — day-1 survivorship replays
    * deterministically), so warm runs pay only day 2's probe; the
    * probe stays exact through the append (frozen-order argument at
    * [[appendDedupIndexTables]]), which is what makes the full DuckDB
    * replay possible: survivors = day-1 docs with no ≥ τ brute-force
    * match, appended index = day 0 ∪ survivors, day-2 matches =
    * brute-force ≥ τ against that union.
    */
  def dedupIndexAppend(s: SparkSession, d: String): DataFrame = {
    val corpus = withNearDupes(s, d)
    val tau = 0.3
    val parts1 = ArtifactCache.readOrBuildAll(s,
      ArtifactCache.dir(s, d, "documents", "graft_pairs",
        "incr_index_appended_tau30@r1"),
      Seq("shingles", "freq", "prefix")) {
      val day0 = corpus.filter(col("doc_id") < PlantBase
        && col("doc_id") % 7 =!= 0)
      val batch1 = corpus.filter(col("doc_id") < PlantBase
        && col("doc_id") % 7 === 0)
      val parts0 = dedupIndexTables(day0, tau).toMap
      val matched1 = incrementalNearDupsProbe(parts0("shingles"),
        parts0("freq"), parts0("prefix"), batch1, tau)
        .select(col("new_id").as("doc_id")).distinct()
      appendDedupIndexTables(parts0,
        batch1.join(matched1, Seq("doc_id"), "left_anti"), tau)
    }
    incrementalNearDupsProbe(parts1("shingles"), parts1("freq"),
      parts1("prefix"), corpus.filter(col("doc_id") >= 2 * PlantBase), tau)
  }

  /** INGEST THROUGH AN EXPIRED INDEX — the registered evidence for the
    * delete half ([[expireDedupIndexTables]]): build the day-0 index
    * from all originals, expire every doc_id % 3 == 0 (a takedown /
    * retention tombstone set — the [[IoOps.snapshotDiffOn]] `removed`
    * arm's shape), then ingest the planted truncations. A truncation
    * whose source was expired reports NO match (the takedown contract:
    * expired content can never resurface through the index), while
    * every surviving source still matches exactly. The expired index
    * version is content-addressed like the appended one; the DuckDB
    * replay probes brute-force against exactly the surviving docs.
    */
  def dedupIndexExpire(s: SparkSession, d: String): DataFrame = {
    val corpus = withNearDupes(s, d)
    val parts = ArtifactCache.readOrBuildAll(s,
      ArtifactCache.dir(s, d, "documents", "graft_pairs",
        "incr_index_expired_tau30@r1"),
      Seq("shingles", "freq", "prefix")) {
      val parts0 =
        dedupIndexTables(corpus.filter(col("doc_id") < PlantBase), 0.3).toMap
      expireDedupIndexTables(parts0,
        corpus.filter(col("doc_id") < PlantBase
          && col("doc_id") % 3 === 0))
    }
    incrementalNearDupsProbe(parts("shingles"), parts("freq"),
      parts("prefix"), corpus.filter(col("doc_id") >= 2 * PlantBase), 0.3)
  }

  /** [[blockShingles]] with the CROSS-ENGINE md5-prefix hash
    * (conv(substr(md5(g), 1, 10), 16, 10) — the 40-bit winnowing
    * fingerprint idiom, TextOps.winnowSelectOn) instead of xxhash64 —
    * only for the registered decision instrument: its candidate counts
    * depend on the (f, h) tie-break ORDER inside the f = 0 ties, and
    * xxhash64 has no DuckDB twin to replay that order. The physics
    * measured — frozen vs re-derived frequency order — is
    * hash-independent; the production entry
    * ([[graft.api.Graft.dedupCompactionDecision]]) runs on the real
    * xxhash index tables.
    */
  private def mdBlockShingles(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"), col("lang"), col("source"),
      array_sort(array_distinct(transform(TextOps.shingles3(TextOps.toks),
        g => conv(substring(md5(g), 1, 10), 16, 10).cast("long"))))
        .as("sh"))
      .localCheckpoint()

  /** The decision threshold of the registered fixture: compact once
    * the appended order generates > 25% more candidates than the
    * re-derived one would. */
  private[graft] val DecisionExcessTau = 1250L

  /** DEDUP-INDEX COMPACTION DECISION — the registered monitor evidence
    * for [[compactionDecisionOn]], graded against TWO fixture shapes so
    * the keep→compact threshold is evidenced by a fixture on EACH side
    * of it (r18 verdict #6):
    *
    *   - `drift90` (heavy): day 0 indexes every 10th original — the
    *     frozen frequency order covers only ~10% of the corpus — and
    *     the other 90% APPEND (every shingle unseen at build time
    *     ranks f = 0, the maximally drifted LSM state) → excess far
    *     above [[DecisionExcessTau]] → `compact`;
    *   - `drift30` (moderate): day 0 indexes originals with
    *     doc_id % 10 < 7 (~70% of the corpus — the frozen order is
    *     mostly representative) and only ~30% append → excess under
    *     the threshold → `keep` at the gate SFs (1208‰ at sf0.001,
    *     1041‰ at sf0.01).
    *
    * The excess is NOT scale-invariant — each appended doc contributes
    * its own novel vocabulary, all ranking f = 0 under the frozen
    * order, so candidate excess ACCUMULATES with corpus size (drift90:
    * 1375‰ → 3997‰ from sf0.001 to sf0.1; drift30 crosses the
    * threshold at sf0.1 with 1907‰). That is the measured reason the
    * monitor runs on a cadence instead of being tuned once: the same
    * appended FRACTION costs more as the corpus grows.
    *
    * Both arms share the probe batch (the planted truncations), the
    * accumulated index contents (ALL originals — only the ORDER the
    * prefixes were computed under differs), and therefore the compacted
    * twin's candidate count and the verified pair count; what separates
    * the rows is exactly the physics the monitor measures — how much
    * candidate selectivity the frozen order lost. Two-row report
    * (arm, counts, permilles, decision), the dashboard a rollout reads
    * on the LSM cadence. Content-addressed build-once artifact (pure
    * function of the corpus version). Fully oracle-checked: DuckDB
    * replays the md5-prefix shingle hashes, all three frequency orders
    * (two frozen arms + compacted), every prefix-candidate join, and
    * the exact verify.
    */
  def dedupIndexDecision(s: SparkSession, d: String): DataFrame =
    ArtifactCache.readOrBuild(s,
      ArtifactCache.dir(s, d, "documents", "graft_pairs",
        "index_decision_tau30@r2")) {
      val corpus = withNearDupes(s, d)
      // shingle the originals ONCE (mdBlockShingles pins); each arm only
      // re-splits the pinned frame by its base predicate
      val shOrig = mdBlockShingles(corpus.filter(col("doc_id") < PlantBase))
      val shProbe =
        mdBlockShingles(corpus.filter(col("doc_id") >= 2 * PlantBase))
      DecisionArms.map { case (arm, basePred) =>
        val partsApp = appendIndexFromShingles(
          indexTablesFromShingles(shOrig.filter(expr(basePred)), 0.3).toMap,
          shOrig.filter(!expr(basePred)), 0.3).toMap
        compactionDecisionOn(partsApp, shProbe, 0.3, DecisionExcessTau)
          .select(lit(arm).as("arm"), col("*"))
      }.reduce(_ unionByName _)
    }.orderBy(col("arm"))

  /** The two decision-fixture arms: (name, day-0 base predicate over
    * the originals) as SQL text — interpolated verbatim into BOTH
    * engines (Spark via expr(), DuckDB via the oracle generator), so
    * the split definition cannot diverge between them. */
  private[graft] val DecisionArms: Seq[(String, String)] = Seq(
    ("drift30", "doc_id % 10 < 7"),
    ("drift90", "doc_id % 10 = 0"))

  /** One arm's oracle CTE block: the frozen day-0 frequency order
    * (fb_arm over the arm's base split), index and probe prefix keys
    * under it, and the appended-arm candidate count. Shared upstream
    * CTEs (idx/probe/ei/ep) come from the main oracle body. */
  private def decisionArmSql(arm: String, pred: String): String =
    s"""fb_$arm AS (SELECT lang, source, h, CAST(count(*) AS BIGINT) AS f
           FROM (SELECT lang, source, unnest(sh) AS h
                 FROM idx WHERE $pred)
           GROUP BY lang, source, h),
         pia_$arm AS (SELECT doc_id, lang, source, n, h AS pk FROM (
             SELECT e.*, row_number() OVER (PARTITION BY e.doc_id
               ORDER BY coalesce(fb.f, 0), e.h) AS rn
             FROM ei e LEFT JOIN fb_$arm fb ON e.lang = fb.lang
               AND e.source = fb.source AND e.h = fb.h)
           WHERE rn <= n - CAST(ceil(n * 0.3 - 1e-6) AS BIGINT) + 1),
         ppa_$arm AS (SELECT doc_id, lang, source, n, h AS pk FROM (
             SELECT e.*, row_number() OVER (PARTITION BY e.doc_id
               ORDER BY coalesce(fb.f, 0), e.h) AS rn
             FROM ep e LEFT JOIN fb_$arm fb ON e.lang = fb.lang
               AND e.source = fb.source AND e.h = fb.h)
           WHERE rn <= n - CAST(ceil(n * 0.3 - 1e-6) AS BIGINT) + 1),
         ca_$arm AS (SELECT CAST(count(*) AS BIGINT)
             AS n_candidates_appended
           FROM (SELECT DISTINCT p.doc_id AS a, i.doc_id AS b
             FROM ppa_$arm p JOIN pia_$arm i ON p.lang = i.lang
               AND p.source = i.source AND p.pk = i.pk
             WHERE CAST(least(p.n, i.n) AS DOUBLE)
               >= greatest(p.n, i.n) * 0.3 - 1e-6))"""

  /** One arm's final report row over its ca_arm and the shared cc/vv. */
  private def decisionRowSql(arm: String): String =
    s"""SELECT '$arm' AS arm, n_candidates_appended,
             n_candidates_compacted, n_verified,
             n_verified * 1000 // greatest(n_candidates_appended, 1)
               AS sel_appended_permille,
             n_verified * 1000 // greatest(n_candidates_compacted, 1)
               AS sel_compacted_permille,
             n_candidates_appended * 1000
               // greatest(n_candidates_compacted, 1) AS excess_permille,
             CASE WHEN n_candidates_appended * 1000
                 // greatest(n_candidates_compacted, 1) > $DecisionExcessTau
               THEN 'compact' ELSE 'keep' END AS decision
           FROM ca_$arm, cc, vv"""

  /** The incremental core: (new_id, matched_id, jaccard) for every
    * incoming×index pair with J ≥ tau — NEVER any incoming×incoming or
    * index×index pair. Same prefix-filter theorem as
    * [[prefixCandidates]], with the global shingle order defined by
    * INDEX-side document frequency (unseen incoming shingles get f = 0,
    * sorting first — rarest — which can only lengthen the safe side of
    * a prefix). That ordering choice is the production contract: the
    * index's (freq, shingles, prefix-keys) tables are write-once
    * artifacts of the index build ([[dedupIndexTables]], persisted
    * content-addressed by [[dedupIncremental]] — the dedup analogue of
    * [[SimOps.lloydCells]]'s persisted IVF index) and an ingest batch
    * ([[incrementalNearDupsProbe]]) computes only ITS side of the join,
    * so candidates are bounded by the batch's posting lists and
    * per-batch cost is independent of how many batches preceded it.
    * This convenience overload builds index tables in-line for one-shot
    * callers ([[graft.api.Graft.incrementalNearDupPairs]]). Exact
    * merge-scan verify ⇒ identical to brute-force incoming×index.
    * Equality property in AnalyticsOpsSpec; shingle-hash collision
    * caveat as in [[containmentPairsOn]].
    */
  private[graft] def incrementalNearDupsOn(index: DataFrame,
      incoming: DataFrame, tau: Double): DataFrame = {
    val parts = dedupIndexTables(index, tau).toMap
    incrementalNearDupsProbe(parts("shingles"), parts("freq"),
      parts("prefix"), incoming, tau)
  }

  /** The index-side build: the three write-once tables an ingest batch
    * probes — block shingles, per-(lang, source) shingle document
    * frequency, and each index doc's prefix keys under the
    * frequency-ascending order. Returned as (name, frame) pairs in the
    * [[ArtifactCache.readOrBuildAll]] shape so [[dedupIncremental]]
    * persists them content-addressed and the streaming
    * incrementalDedupSink builds them exactly once at stream start.
    */
  private[graft] def dedupIndexTables(index: DataFrame,
      tau: Double): Seq[(String, DataFrame)] =
    indexTablesFromShingles(blockShingles(index), tau)

  /** The trio from an already-shingled frame: derive the per-block
    * document frequency and prefix every doc under the (f asc, h asc)
    * order that frequency defines. This is both the initial build
    * ([[dedupIndexTables]]) and the COMPACTION step of the incremental
    * index ([[compactDedupIndexTables]] re-derives the order from the
    * accumulated shingles).
    */
  private[graft] def indexTablesFromShingles(shI: DataFrame,
      tau: Double): Seq[(String, DataFrame)] = {
    val freq = shingleFreq(shI)
    Seq("shingles" -> shI, "freq" -> freq,
      "prefix" -> prefixKeysBy(shI, freq, tau))
  }

  /** Per-(lang, source) shingle document frequency of a shingled frame
    * — the order-defining table of every index build/compaction. */
  private def shingleFreq(shI: DataFrame): DataFrame = shI
    .select(col("lang"), col("source"), explode(col("sh")).as("h"))
    .groupBy(col("lang"), col("source"), col("h"))
    .agg(count(lit(1)).as("f"))

  /** INDEX APPEND — the LSM merge that turns the write-once incremental
    * index into a LIVING one: fold an accepted batch (day-N survivors)
    * into the index tables so day-N+1 incoming is checked against every
    * survivor to date, not just the initial build. Pure row merges, no
    * rescan of the existing index:
    *
    *   - shingles: union with the batch's [[blockShingles]] rows;
    *   - prefix: union with the batch's prefix keys computed under the
    *     index's FROZEN frequency order (`freq` is carried over
    *     unchanged — see below);
    *   - buckets (when present, the LSH variant): union with the
    *     batch's band rows — signatures are fixed-permutation, so
    *     bucket rows are order-free and the merged table is IDENTICAL
    *     to a rebuild's.
    *
    * Why the order freezes: the prefix-filter theorem needs both sides
    * of a candidate pair prefixed under ONE shared total order, but it
    * holds for ANY fixed order — frequency-ascending is purely the
    * selectivity heuristic. Freezing the order at build time (appended
    * docs' unseen shingles rank f = 0, the safe rare end, exactly the
    * probe's own convention) therefore keeps every later probe EXACT,
    * while what decays as the corpus drifts is only candidate
    * selectivity. [[compactDedupIndexTables]] is the LSM compaction
    * that restores it. Probes against an appended index use the same
    * frozen `freq` for their own keys, so order agreement is automatic.
    *
    * Contract: batch doc ids must be disjoint from the index's (an
    * ingest pipeline's survivors are new by construction). The caller
    * persists the returned tables as a NEW content-addressed version
    * ([[dedupIndexAppend]] shows the discipline); appending in place
    * would corrupt the old version for concurrent probes.
    *
    * Equivalence: probe ∘ append ≡ probe ∘ rebuild (both are the exact
    * ≥ τ pair set — property-pinned in AnalyticsOpsSpec).
    */
  private[graft] def appendDedupIndexTables(parts: Map[String, DataFrame],
      batch: DataFrame, tau: Double): Seq[(String, DataFrame)] = {
    val base = appendIndexFromShingles(parts, blockShingles(batch), tau)
    parts.get("buckets").fold(base)(b => base :+ ("buckets" ->
      b.unionByName(bandBuckets(minhashSigs(shingleHashes(batch))))))
  }

  /** The append trio from an already-shingled batch — the hash-agnostic
    * half of [[appendDedupIndexTables]], shared with the compaction-
    * decision instrument (whose registered twin runs on md5-hashed
    * shingles so DuckDB can replay the order-dependent candidates). */
  private[graft] def appendIndexFromShingles(parts: Map[String, DataFrame],
      shB: DataFrame, tau: Double): Seq[(String, DataFrame)] = {
    val freq = parts("freq")
    Seq(
      "shingles" -> parts("shingles").unionByName(shB),
      "freq" -> freq,
      "prefix" -> parts("prefix").unionByName(prefixKeysBy(shB, freq, tau)))
  }

  /** INDEX EXPIRY — the delete half of the LSM loop ([[
    * appendDedupIndexTables]] is the insert half): drop a tombstone
    * set of doc ids (the `removed` arm of [[IoOps.snapshotDiffOn]], a
    * takedown list, a retention cutoff) from every per-doc table with
    * one anti-join each. The FROZEN frequency order is deliberately
    * kept — dropping rows under a fixed order can never break the
    * prefix theorem (both sides of any surviving pair still share the
    * same total order), it only leaves the order's selectivity
    * slightly stale, exactly append's trade; the next
    * [[compactDedupIndexTables]] re-derives it from the surviving
    * shingles. Probes after expiry can no longer match the expired
    * docs — the correctness contract a takedown actually needs —
    * pinned against a from-scratch rebuild in AnalyticsOpsSpec.
    */
  private[graft] def expireDedupIndexTables(parts: Map[String, DataFrame],
      tombstones: DataFrame): Seq[(String, DataFrame)] = {
    val ids = tombstones.select(col("doc_id"))
    def drop(df: DataFrame): DataFrame =
      df.join(ids, Seq("doc_id"), "left_anti")
    val base = Seq(
      "shingles" -> drop(parts("shingles")),
      "freq" -> parts("freq"),
      "prefix" -> drop(parts("prefix")))
    parts.get("buckets").fold(base)(b => base :+ ("buckets" -> drop(b)))
  }

  /** SNAPSHOT ADVANCE — the daily corpus job as ONE composition (r18
    * verdict #1), because the composition is where contract bugs hide,
    * not the pieces: diff the snapshots, advance the snapshot store,
    * and advance the dedup index through expire-BEFORE-probe-BEFORE-
    * append (a changed doc needs its OLD version expired before its
    * new version probes, or it would match itself; append must come
    * LAST or the batch would match its own survivors):
    *
    *   1. [[IoOps.snapshotDiffOn]](old, new) — per-id status;
    *   2. CDC changelog (D = removed, U = changed, I = added, payload
    *      = the NEW snapshot's rows) folded by [[IoOps.applyCdcOn]]
    *      into the old snapshot — `applied` is row-for-row the new
    *      snapshot (property-pinned), the store's advance;
    *   3. EXPIRE removed ∪ changed from the index (changed docs need
    *      expire + re-append, not update-in-place — there is no
    *      in-place under content-addressed index versions);
    *   4. PROBE the ingest batch (added ∪ changed, NEW text) against
    *      the post-expire index — exact ≥ τ matches, batch-bounded;
    *   5. APPEND the survivors (batch docs with no match).
    *
    * Returns the stage frames under their names (diff / applied /
    * tombstones / matches / survivors) PLUS the advanced index tables
    * under the standard keys (shingles / freq / prefix / [buckets]),
    * so the result drops into every probe/compact consumer unchanged.
    * Probes of the advanced index are EXACTLY a fresh rebuild's over
    * (unchanged ∪ survivors) — the prefix theorem under the frozen
    * shared order, property-pinned in PrefixJoinSpec. Batch-internal
    * near-dups are out of scope by design (probe is batch×index; the
    * pipeline_corpus greedy rule is the batch-internal pass).
    *
    * Scale shape: one full-outer id join (diff), one anti-join + union
    * (apply), one anti-join per index table (expire), a batch-bounded
    * prefix probe, and row-merge appends — no stage rescans the index
    * beyond its single anti-join, no pair join anywhere outside the
    * probe's candidate-verify.
    */
  private[graft] def advanceSnapshotTables(parts: Map[String, DataFrame],
      oldSnap: DataFrame, newSnap: DataFrame, tau: Double)
      : Map[String, DataFrame] = {
    val diff = IoOps.snapshotDiffOn(oldSnap, newSnap, "doc_id", "text")
      .localCheckpoint() // consumers: changelog, tombstones, batch, report
    val st = diff.select(col("doc_id"), col("status"))
    // payload rows come from the NEW snapshot (U/I carry new text); D
    // rows carry the old row only for schema alignment — applyCdc drops
    // them before the union
    val changelog = newSnap
      .join(st.filter(col("status").isin("added", "changed")), Seq("doc_id"))
      .select(when(col("status") === "added", lit("I")).otherwise(lit("U"))
          .as("op"),
        col("doc_id"), col("lang"), col("source"), col("text"))
      .unionByName(oldSnap
        .join(st.filter(col("status") === "removed"), Seq("doc_id"),
          "left_semi")
        .select(lit("D").as("op"), col("doc_id"), col("lang"),
          col("source"), col("text")))
    val applied = IoOps.applyCdcOn(oldSnap, changelog, "doc_id", "op")
    val tombstones = st.filter(col("status").isin("removed", "changed"))
      .select(col("doc_id"))
    val partsExp = expireDedupIndexTables(parts, tombstones).toMap
    val batch = newSnap
      .join(st.filter(col("status").isin("added", "changed")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .localCheckpoint() // consumers: probe, survivor split, append
    val matches = incrementalNearDupsProbe(partsExp("shingles"),
        partsExp("freq"), partsExp("prefix"), batch, tau)
      .localCheckpoint() // consumers: survivor split, report
    val survivors = batch
      .join(matches.select(col("new_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .localCheckpoint() // consumers: append, report
    val partsAdv = appendDedupIndexTables(partsExp, survivors, tau).toMap
    partsAdv ++ Map("diff" -> diff, "applied" -> applied,
      "tombstones" -> tombstones, "matches" -> matches,
      "survivors" -> survivors)
  }

  /** COMPACTION DECISION — the monitor that closes the dedup-LSM loop
    * (the [[SimOps.rebuildDecisionOn]] shape applied to this index):
    * appends keep probes EXACT but compute batch prefixes under the
    * FROZEN build-time frequency order, so what decays as the corpus
    * drifts is candidate SELECTIVITY — probes generate ever more
    * candidate pairs per verified match, and candidate generation is
    * the per-batch cost. This instrument measures that decay directly:
    * probe one batch against (a) the index AS APPENDED and (b) its
    * COMPACTED twin ([[compactDedupIndexTables]] — order re-derived,
    * the candidate count a fresh build would pay), and compare. One
    * row: candidate counts per arm, the verified ≥ τ pair count (arm-
    * independent — both candidate sets are supersets of the true
    * pairs), per-arm selectivity ‰, the appended/compacted candidate
    * EXCESS ‰, and the verdict — `compact` when excess crosses the
    * caller's threshold (the appended order is costing more than the
    * one-off compaction would save), else `keep`. Cost: two
    * probe-bounded candidate joins + one verify + the compacted twin's
    * order re-derivation (index-linear, the price of measuring against
    * it — run on the LSM cadence, not per batch).
    */
  private[graft] def compactionDecisionOn(parts: Map[String, DataFrame],
      shProbe: DataFrame, tau: Double,
      excessTauPermille: Long): DataFrame = {
    require(excessTauPermille >= 1000,
      s"excess is appended/compacted candidates in permille — a " +
        s"threshold below 1000 would always compact: $excessTauPermille")
    val com = compactDedupIndexTables(parts, tau).toMap
    val cApp = incrPrefixCandidates(shProbe, parts("freq"), parts("prefix"),
        tau)
      .agg(count(lit(1)).as("n_candidates_appended"))
    val cCom = incrPrefixCandidates(shProbe, com("freq"), com("prefix"),
        tau)
      .agg(count(lit(1)).as("n_candidates_compacted"))
    val ver = probeShingled(com("shingles"), com("freq"), com("prefix"),
        shProbe, tau)
      .agg(count(lit(1)).as("n_verified"))
    cApp.crossJoin(broadcast(cCom)).crossJoin(broadcast(ver))
      .select(col("n_candidates_appended"), col("n_candidates_compacted"),
        col("n_verified"),
        expr("n_verified * 1000 DIV greatest(n_candidates_appended, 1)")
          .as("sel_appended_permille"),
        expr("n_verified * 1000 DIV greatest(n_candidates_compacted, 1)")
          .as("sel_compacted_permille"),
        expr("n_candidates_appended * 1000 " +
          "DIV greatest(n_candidates_compacted, 1)").as("excess_permille"))
      .select(col("*"),
        when(col("excess_permille") > excessTauPermille, lit("compact"))
          .otherwise(lit("keep")).as("decision"))
  }

  /** INDEX COMPACTION — re-derive the frequency order and every doc's
    * prefix keys from the ACCUMULATED shingles table (which append
    * keeps complete), restoring prefix selectivity after the corpus has
    * drifted from the frozen build-time order. Output is bit-identical
    * to a from-scratch [[dedupIndexTables]] build over the same docs —
    * the shingles table carries everything the rebuild needs, so
    * compaction never touches original text. Bucket rows are order-free
    * and pass through untouched. When to run it: the LSM answer —
    * amortized, e.g. when appended rows exceed a fraction of the base,
    * or when a drift monitor ([[SimOps.driftReportOn]] on the embedding
    * side, candidate-ratio growth here) crosses its threshold.
    */
  private[graft] def compactDedupIndexTables(parts: Map[String, DataFrame],
      tau: Double): Seq[(String, DataFrame)] = {
    val base = indexTablesFromShingles(parts("shingles"), tau)
    parts.get("buckets").fold(base)(b => base :+ ("buckets" -> b))
  }

  /** Per-doc prefix keys of a [[blockShingles]] frame under the index
    * frequency order `freq` (left join: unseen shingles get f = 0 —
    * rarest — which only lengthens the safe side of a prefix). Output:
    * (doc_id, lang, source, n = |sh|, pk) with one row per prefix key.
    */
  private def prefixKeysBy(sh: DataFrame, freq: DataFrame,
      tau: Double): DataFrame =
    sh.select(col("doc_id"), col("lang"), col("source"),
        explode(col("sh")).as("h"))
      .join(freq, Seq("lang", "source", "h"), "left")
      .withColumn("f", coalesce(col("f"), lit(0L)))
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(array_sort(collect_list(struct(col("f"), col("h")))).as("fh"))
      .select(col("doc_id"), col("lang"), col("source"),
        size(col("fh")).as("n"),
        explode(slice(transform(col("fh"), x => x.getField("h")), lit(1),
          (size(col("fh"))
            - ceil(size(col("fh")) * lit(tau) - lit(1e-6)).cast("int")
            + 1))).as("pk"))

  /** The probe half: candidates and exact verification of `incoming`
    * against PREBUILT index tables — the only part that runs per ingest
    * batch. Candidate generation joins batch prefix keys to index prefix
    * keys, so cost is bounded by the batch's posting lists regardless of
    * corpus age.
    */
  private[graft] def incrementalNearDupsProbe(shI: DataFrame,
      freq: DataFrame, prefixI: DataFrame, incoming: DataFrame,
      tau: Double): DataFrame =
    probeShingled(shI, freq, prefixI, blockShingles(incoming), tau)

  /** The probe over an ALREADY-SHINGLED batch — the hash-agnostic core
    * of [[incrementalNearDupsProbe]], shared with the compaction-
    * decision instrument's verified-pair arm. */
  private def probeShingled(shI: DataFrame, freq: DataFrame,
      prefixI: DataFrame, shN: DataFrame, tau: Double): DataFrame =
    incrVerify(incrPrefixCandidates(shN, freq, prefixI, tau), shN, shI, tau)

  /** Candidate half of the incremental probe: batch prefix keys joined
    * to index prefix keys within (lang, source) blocks, size-filtered —
    * a guaranteed SUPERSET of the ≥ tau pairs (prefix-filter theorem
    * under the index frequency order). Returns (new_id, matched_id).
    */
  private def incrPrefixCandidates(shN: DataFrame, freq: DataFrame,
      prefixI: DataFrame, tau: Double): DataFrame =
    prefixKeysBy(shN, freq, tau)
      .select(col("doc_id").as("new_id"), col("lang"), col("source"),
        col("pk"), col("n").as("nn"))
      .join(prefixI
        .select(col("doc_id").as("matched_id"), col("lang"), col("source"),
          col("pk"), col("n").as("ni")), Seq("lang", "source", "pk"))
      .filter(least(col("nn"), col("ni")).cast("double") >=
        greatest(col("nn"), col("ni")) * lit(tau) - lit(1e-6))
      .select(col("new_id"), col("matched_id"))
      .distinct()

  /** Exact-verify half: merge-scan Jaccard of candidate (new_id,
    * matched_id) pairs over the two shingle frames, ≥ tau kept. Block
    * equality (lang, source) is enforced HERE, so candidate generators
    * that do not pre-block (the LSH band probe) cannot leak cross-block
    * pairs — a no-op for the already-blocked prefix candidates.
    */
  private def incrVerify(cand: DataFrame, shN: DataFrame, shI: DataFrame,
      tau: Double): DataFrame = {
    val sp = shN.sparkSession
    cand
      .join(shN.select(col("doc_id").as("new_id"), col("lang"),
        col("source"), col("sh").as("shn")), Seq("new_id"))
      .join(shI.select(col("doc_id").as("matched_id"),
        col("lang").as("lang_i"), col("source").as("source_i"),
        col("sh").as("shi")), Seq("matched_id"))
      .filter(col("lang") === col("lang_i")
        && col("source") === col("source_i"))
      .withColumn("inter",
        NativeExprs.sortedIntersectCount(sp, col("shn"), col("shi")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("shn")) + size(col("shi")) - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("new_id"), col("matched_id"), col("jaccard"))
      .orderBy(col("new_id"), col("matched_id"))
  }

  /** Index-side tables of the LSH-BANDED incremental dedup index: the
    * prefix trio of [[dedupIndexTables]] plus the minhash BAND-BUCKET
    * table (doc_id, band, key) — the artifact a daily-ingest pipeline
    * persists once and probes per batch ([[incrementalLshProbe]]).
    */
  private[graft] def lshIndexTables(index: DataFrame,
      tau: Double): Seq[(String, DataFrame)] =
    dedupIndexTables(index, tau) :+
      ("buckets" -> bandBuckets(minhashSigs(shingleHashes(index))))

  /** INCREMENTAL LSH-BAND PROBE — the minhash twin of
    * incrementalAnnAssign: an ingest batch computes ONLY its own
    * signatures and band keys, joins them against the index's PERSISTED
    * bucket table (cost bounded by the batch's bucket postings,
    * independent of corpus age), and exact-verifies the hits. Band
    * candidates are unioned with the deterministic prefix candidates
    * before the ONE verify pass: banding is probabilistic (a ≥ tau pair
    * missing every band would silently vanish), so the prefix leg is
    * what turns "probably all matches" into the exact ≥ tau pair set —
    * the candidates-superset + exact-verify idiom that also makes the
    * DuckDB oracle possible. The band leg's own recall is pinned in
    * LlmOpsSpec (planted exact copies share every band by construction)
    * and measured corpus-wide by dedup_recall_report's minhash row.
    */
  private[graft] def incrementalLshProbe(shI: DataFrame, freq: DataFrame,
      prefixI: DataFrame, bucketsI: DataFrame, incoming: DataFrame,
      tau: Double): DataFrame = {
    val shN = blockShingles(incoming)
    val candP = incrPrefixCandidates(shN, freq, prefixI, tau)
    val candL = bandBuckets(minhashSigs(shingleHashes(incoming)))
      .select(col("doc_id").as("new_id"), col("band"), col("key"))
      .join(bucketsI.select(col("doc_id").as("matched_id"), col("band"),
        col("key")), Seq("band", "key"))
      .select(col("new_id"), col("matched_id"))
      .distinct()
    incrVerify(candP.unionByName(candL).distinct(), shN, shI, tau)
  }

  /** doc_id + sorted distinct 31-bit shingle hashes (`hs`), one narrow
    * scan (sorted so verification can merge-scan instead of hash-set).
    */
  private def shingleHashes(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"),
      array_sort(array_distinct(transform(TextOps.shingles3(TextOps.toks),
        sh => pmod(xxhash64(sh), lit(P))))).as("hs"))

  /** doc_id → sig: array of 32 min-of-permuted-shingle-hash values.
    *
    * Shape matters here: the shingle hashes are exploded through a Generate
    * (evaluated once per doc) and min-reduced with 32 plain min() aggregates
    * (map-side combine ⇒ shuffle is one row per doc per partition). A pure
    * higher-order-function formulation reads nicer but is a trap:
    * CollapseProject inlines the text→shingle→hash chain into every lambda
    * use site and nested substitution re-evaluates split(text) per element —
    * measured 40× slower at sf0.1.
    */
  private[graft] def minhashSigs(hashed: DataFrame): DataFrame = {
    val base = hashed.select(col("doc_id"), explode(col("hs")).as("h"))
    val minCols = perms.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(P))).as(s"m$i")
    }
    base.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until NumPerm).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Per-doc LSH band buckets of a (doc_id, sig) minhash frame: one
    * (doc_id, band, key) row per band, key = the band's signature rows
    * joined as a string. Two docs sharing a (band, key) bucket are LSH
    * candidates. sig elements are aggregate attributes, so element_at
    * folds to a cheap reference (no recompute of the signature chain).
    */
  private[graft] def bandBuckets(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map { bIdx =>
      struct(lit(bIdx).as("band"),
        concat_ws(",", (0 until RowsPerBand).map(r =>
          element_at(col("sig"), bIdx * RowsPerBand + r + 1)): _*).as("key"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.key").as("key"))
  }

  /** MinHash + LSH banding near-dup candidates, verified by exact Jaccard.
    * Probabilistic candidate generation → no SQL oracle (rows-only check);
    * the planted-dupe recall property is asserted in scalatest.
    */
  def minhashLsh(s: SparkSession, d: String): DataFrame =
    cachedPairs(s, d, "minhash_lsh_tau30")(
      minhashLshOn(withNearDupes(s, d), 0.3))
      .orderBy(col("a"), col("b"))

  /** Generalized MinHash+LSH near-dup pairs over any (doc_id, text)
    * DataFrame — the [[graft.api.Graft.nearDuplicatePairs]] core.
    */
  private[graft] def minhashLshOn(corpus: DataFrame,
      threshold: Double): DataFrame = {
    // localCheckpoint: the signature source is consumed three times (sig
    // build + both sides of candidate verification) — materialize it once,
    // eagerly, with lineage truncated; the blocks are released when the
    // plan is garbage-collected (ContextCleaner), so no persist lifecycle
    // leaks into the long-lived session
    val hashed = shingleHashes(corpus).localCheckpoint()
    val buckets = bandBuckets(minhashSigs(hashed))
    val cand = buckets.as("x").join(buckets.as("y"), Seq("band", "key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    cand
      .join(hashed.select(col("doc_id").as("a"), col("hs").as("ha")), Seq("a"))
      .join(hashed.select(col("doc_id").as("b"), col("hs").as("hb")), Seq("b"))
      .withColumn("inter",
        NativeExprs.sortedIntersectCount(corpus.sparkSession,
          col("ha"), col("hb")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("ha")) + size(col("hb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
      .orderBy(col("a"), col("b"))
  }

  /** 63-bit SimHash per document: token-hash bit votes, sign-aggregated.
    * Engine-specific hashing → no SQL oracle (rows-only); hamming-distance
    * properties asserted in scalatest.
    */
  private[graft] def simhashSigs(docs: DataFrame): DataFrame =
    // per-row: token hashes vote ±1 on each of 63 bit positions (votes
    // weighted by token frequency), positive votes set the bit — one
    // codegen'd pass over the token-hash array, narrow and shuffle-free
    docs.select(col("doc_id"),
      NativeExprs.simhash63(docs.sparkSession,
        transform(split(col("text"), " "), t => xxhash64(t))).as("simhash"))

  /** SimHash near-dup pairs (hamming ≤ 6, high-precision band) within
    * (lang, source) blocks — the SAME blocking contract as the exact
    * reference table, so a detection crossing source can never be a
    * guaranteed-false positive anymore (r12's lang-only blocking
    * measured 71‰ precision at sf0.1; every cross-source hit was wrong
    * by contract). On this corpus's tiny shared vocabulary simhash
    * separates weakly (frequency profiles are all similar), so the cut
    * is tight; identical texts are always hamming 0 (property-tested).
    * [[recallReport]] documents the measured trade.
    */
  def simhashPairs(s: SparkSession, d: String): DataFrame =
    cachedPairs(s, d, "simhash_ls_h6")(simhashPairsBuild(s, d))
      .orderBy(col("a"), col("b"))

  private def simhashPairsBuild(s: SparkSession, d: String): DataFrame = {
    val corpus = withNearDupes(s, d)
    val sigs = simhashSigs(corpus)
      .join(corpus.select(col("doc_id"), col("lang"), col("source")),
        Seq("doc_id"))
      .localCheckpoint() // materialize signatures once before pairing
    val a = sigs.select(col("doc_id").as("a"), col("simhash").as("ha"),
      col("lang"), col("source"))
    val b = sigs.select(col("doc_id").as("b"), col("simhash").as("hb"),
      col("lang"), col("source"))
    a.join(b, Seq("lang", "source"))
      .filter(col("a") < col("b"))
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= 6)
      .select(col("a"), col("b"), col("hamming"))
      .orderBy(col("a"), col("b"))
  }

  /** SimHash pairing by SORT NEIGHBORHOOD (Manku et al., WWW'07): for four
    * 16-bit rotations of the 63-bit signature, bucket rows by the rotated
    * top 16 bits and compare each row only to its 4 successors in
    * signature sort order within the bucket. Hamming-close signatures
    * share a long prefix under at least one rotation, so they land
    * adjacent — candidate generation is O(n · perms · window) instead of
    * all-pairs within blocks, which is the shape that survives when a
    * blocking key (lang, source) no longer bounds block size at corpus
    * scale. Final hamming is exact-verified on the ORIGINAL signature.
    * The registered query additionally verify-filters pairs to equal
    * (lang, source) — candidate GENERATION stays block-free (the scale
    * story), but a detection the blocked exact reference excludes by
    * contract is dropped at the verify stage (r13 precision fix,
    * measured in [[recallReport]]).
    * Rows-only (xxhash64-based signatures are not SQL-replayable); the
    * candidate-subset and planted-dupe properties are scalatest-verified.
    */
  def simhashSorted(s: SparkSession, d: String): DataFrame =
    cachedPairs(s, d, "simhash_sorted_ls_h6")(
      simhashSortedOn(withNearDupes(s, d),
        blockCols = Seq("lang", "source")))
      .orderBy(col("a"), col("b"))

  /** [[simhashSorted]] core over any (doc_id, text) DataFrame — the
    * [[graft.api.Graft.simhashNearDupPairs]] entry point. `blockCols`
    * (attributes of `corpus`) verify-filter emitted pairs to
    * equal-valued groups; generation is unaffected.
    */
  private[graft] def simhashSortedOn(corpus: DataFrame,
      maxHamming: Int = 6, blockCols: Seq[String] = Nil): DataFrame = {
    val sigs = simhashSigs(corpus).localCheckpoint()
    val mask63 = (1L << 63) - 1
    val rotated = (0 to 3).map { p =>
      val r = p * 16
      sigs.select(col("doc_id"), col("simhash"),
        (shiftleft(col("simhash"), r).bitwiseAND(lit(mask63))
          .bitwiseOR(shiftrightunsigned(col("simhash"), 63 - r))).as("key"),
        lit(p).as("perm"))
    }.reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("perm"), col("bucket"))
      .orderBy(col("key"), col("doc_id"))
    // window exprs must be materialized as columns BEFORE the explode —
    // Spark rejects window functions inside a generator
    val withLeads = (1 to 4).foldLeft(
        rotated.withColumn("bucket", shiftrightunsigned(col("key"), 47))) {
      case (df, k) => df.withColumn(s"n$k", struct(
        lead(col("doc_id"), k).over(w).as("nid"),
        lead(col("simhash"), k).over(w).as("nsig")))
    }
    val pairs = withLeads
      .withColumn("nb",
        explode(array((1 to 4).map(k => col(s"n$k")): _*)))
      .filter(col("nb.nid").isNotNull)
      .select(least(col("doc_id"), col("nb.nid")).as("a"),
        greatest(col("doc_id"), col("nb.nid")).as("b"),
        expr("bit_count(simhash ^ nb.nsig)").as("hamming"))
      .filter(col("a") < col("b") && col("hamming") <= maxHamming)
      .distinct()
    // verify-stage block filter: two bounded joins against the (tiny
    // relative to candidates) per-doc attribute projection — never part
    // of candidate generation, so the sort-neighborhood scale shape is
    // untouched
    val blocked =
      if (blockCols.isEmpty) pairs
      else {
        val attrs = corpus.select(col("doc_id") +: blockCols.map(col): _*)
        def side(idCol: String) = blockCols.foldLeft(
          attrs.withColumnRenamed("doc_id", idCol))((df, c) =>
          df.withColumnRenamed(c, s"${c}_$idCol"))
        pairs.join(side("a"), Seq("a")).join(side("b"), Seq("b"))
          .filter(blockCols.map(c => col(s"${c}_a") === col(s"${c}_b"))
            .reduce(_ && _))
          .select(col("a"), col("b"), col("hamming"))
      }
    blocked.orderBy(col("a"), col("b"))
  }

  /** MinHash near-dup via spark-mllib's MinHashLSH (the packaged
    * alternative to the hand-rolled [[minhashLsh]]): term-presence vectors
    * from a fitted CountVectorizer, LSH model with a fixed seed,
    * approxSimilarityJoin at Jaccard distance ≤ 0.7. Rows-only (model
    * hashing isn't SQL-replayable); agreement with the hand-rolled
    * pipeline is asserted in scalatest.
    */
  def minhashMllib(s: SparkSession, d: String): DataFrame =
    cachedPairs(s, d, "minhash_mllib_j07")(minhashMllibBuild(s, d))
      .orderBy(col("a"), col("b"))

  private def minhashMllibBuild(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
    val docs = withNearDupes(s, d)
      .select(col("doc_id"),
        TextOps.shingles3(TextOps.toks).as("tokens")) // shingle-set jaccard
    // HashingTF instead of CountVectorizer: no vocabulary-build pass (the
    // CountVectorizer fit was a full extra scan + a driver-held vocab that
    // would not fit at corpus scale); 2^18 binary features keep shingle
    // collisions rare enough for candidate generation, and the exact
    // hand-rolled pipeline remains the precision reference (agreement
    // property test).
    val tf = new HashingTF().setInputCol("tokens").setOutputCol("tf")
      .setBinary(true).setNumFeatures(1 << 18)
    // localCheckpoint: the vectorized frame is consumed three times (LSH
    // fit + both sides of approxSimilarityJoin) — without it each consumer
    // re-runs the shingle + hashing chain
    val vectorized = tf.transform(docs).select(col("doc_id"), col("tf"))
      .localCheckpoint()
    val lsh = new MinHashLSH().setInputCol("tf").setOutputCol("sig")
      .setNumHashTables(8).setSeed(42)
    val model = lsh.fit(vectorized)
    model.approxSimilarityJoin(vectorized, vectorized, 0.7, "jdist")
      .select(col("datasetA.doc_id").as("a"), col("datasetB.doc_id").as("b"),
        col("jdist"))
      .filter(col("a") < col("b"))
      .orderBy(col("a"), col("b"))
  }

  /** DEDUP QUALITY REPORT — the near-dup twin of
    * [[SimOps.recallReport]]: recall AND precision of every probabilistic
    * pair detector against the exact prefix-filtered τ ≥ 0.3 pair table
    * (read from its persisted index), measured IN THE ENGINE on the
    * corpus' own geometry. (method, n_detected, n_hits, n_exact,
    * recall_permille, precision_permille), all integral. The
    * `exact_prefix` row is the internal control — it must read
    * 1000/1000, pinning the report's own plumbing. This is the number a
    * production rollout tunes MinHash bands/rows and SimHash hamming
    * cuts against — banding theory gives an S-curve, the report gives
    * the truth on YOUR corpus. Engine-probabilistic inputs (xxhash64 /
    * mllib hashing) ⇒ no SQL oracle; the control row and range
    * properties are scalatest-pinned.
    */
  def recallReport(s: SparkSession, d: String): DataFrame = {
    val exact = nearJaccard(s, d).select(col("a"), col("b"))
      .localCheckpoint() // joined by every leg + the control + the total
    val tot = exact.agg(count(lit(1)).as("n_exact"))
    def leg(name: String, df: DataFrame): DataFrame = {
      val det = df.select(col("a"), col("b"))
      val hits = det.join(exact, Seq("a", "b"))
        .agg(count(lit(1)).as("n_hits"))
      det.agg(count(lit(1)).as("n_detected"))
        .crossJoin(hits)
        .select(lit(name).as("method"), col("n_detected"), col("n_hits"))
    }
    leg("exact_prefix", exact)
      .unionByName(leg("minhash_lsh", minhashLsh(s, d)))
      .unionByName(leg("minhash_mllib", minhashMllib(s, d)))
      .unionByName(leg("simhash", simhashPairs(s, d)))
      .unionByName(leg("simhash_sorted", simhashSorted(s, d)))
      .crossJoin(broadcast(tot))
      .select(col("method"), col("n_detected"), col("n_hits"), col("n_exact"),
        expr("n_hits * 1000 DIV n_exact").as("recall_permille"),
        expr("IF(n_detected = 0, 0, n_hits * 1000 DIV n_detected)")
          .as("precision_permille"))
      .orderBy(col("method"))
  }

  /** DEDUP THRESHOLD SENSITIVITY REPORT — the curation-tuning instrument
    * for the Jaccard cutoff (the [[recallReport]] discipline applied to
    * the τ knob): one row per τ ∈ {300, 450, 600, 750, 900}‰ with the
    * pair count above τ, how many docs those pairs link, the connected
    * components they form, and — the number a data owner actually tunes
    * against — how many docs and how many TOKENS keep-min survivorship
    * would drop at that cutoff. Reading it: τ too low merges distinct
    * docs into mega-clusters (tokens_dropped explodes), τ too high
    * leaves planted near-dups unlinked; the elbow is corpus-specific
    * and this makes it measured. Scale shape: the τ=0.3 pair table is
    * the persisted [[cachedPairs]] artifact (built once, prefix-filtered
    * candidates); each τ re-filters THE SAME pair frame (higher τ ⊆
    * τ=0.3 by containment) and runs the O(log d) star-contraction CC on
    * a pair set that only shrinks with τ — no similarity join ever
    * reruns. Fully oracle-checked: jaccard doubles are bit-identical
    * across engines (the dedup_near_jaccard precedent), so the τ
    * comparisons can never disagree, and DuckDB replays each τ's
    * components via per-τ recursive-CTE closures.
    */
  def thresholdReport(s: SparkSession, d: String): DataFrame =
    // The 5-row report is itself a content-addressed build-once artifact
    // (r16 verdict: the per-τ CC + token joins were ~4.7 s of every warm
    // cycle recomputing a pure function of the corpus version); the
    // parameterized Graft.dedupThresholdReport core below stays uncached
    // — arbitrary caller frames have no content address.
    ArtifactCache.readOrBuild(s,
      ArtifactCache.dir(s, d, "documents", "graft_pairs",
        "threshold_report@r1")) {
      thresholdReportOn(
        cachedPairs(s, d, "neardup_tau30")(
          blockedJaccardPairs(withNearDupes(s, d))),
        withNearDupes(s, d)
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tok")),
        Seq(300, 450, 600, 750, 900))
    }.orderBy(col("tau_permille"))

  /** The sweep core over any (a, b, jaccard) pair frame and a
    * (doc_id, n_tok) token-count frame — also the
    * [[graft.api.Graft.dedupThresholdReport]] core.
    *
    * Contract: every doc id appearing in `pairDf` should have a row in
    * `tokDf`. Ids missing from `tokDf` still COUNT (left join below, so
    * n_docs_linked/n_clusters/n_dropped see them) but contribute 0 to
    * tokens_dropped — visible rather than silently vanishing (r15
    * advice; an inner join here let a caller's under-covering docs frame
    * shrink the cluster counts while n_pairs still counted the pairs).
    */
  private[graft] def thresholdReportOn(pairDf: DataFrame, tokDf: DataFrame,
      taus: Seq[Int]): DataFrame = {
    require(taus.nonEmpty, "thresholdReport needs at least one tau")
    val pairs = pairDf.select(col("a"), col("b"), col("jaccard"))
      .localCheckpoint() // re-filtered once per τ
    val toks = tokDf.localCheckpoint() // joined once per τ
    taus.map { tau =>
      val p = pairs.filter(col("jaccard") >= tau / 1000.0)
        .select(col("a"), col("b"))
      val np = p.agg(count(lit(1)).as("n_pairs"))
      val dropped = when(col("cluster_id") =!= col("doc_id"), true)
      clusterPairsOn(p)
        .join(toks, Seq("doc_id"), "left_outer")
        .withColumn("n_tok", coalesce(col("n_tok"), lit(0L)))
        .agg(count(lit(1)).as("n_docs_linked"),
          countDistinct(col("cluster_id")).as("n_clusters"),
          coalesce(sum(when(dropped, 1L)), lit(0L)).as("n_dropped"),
          coalesce(sum(when(dropped, col("n_tok"))), lit(0L))
            .as("tokens_dropped"))
        .crossJoin(broadcast(np))
        .select(lit(tau).as("tau_permille"), col("n_pairs"),
          col("n_docs_linked"), col("n_clusters"), col("n_dropped"),
          col("tokens_dropped"))
    }.reduce(_ unionByName _).orderBy(col("tau_permille"))
  }

  /** Near-dup CLUSTERING: connected components over the blocked-jaccard
    * pair graph (label propagation to fixpoint — each node takes the min
    * label among itself and its neighbors; iterate until no change, with
    * localCheckpoint truncating lineage per round). Output is (doc_id,
    * cluster_id = min doc id reachable). The duplicate-cluster consumer
    * keeps cluster_id as canonical and drops the rest.
    *
    * Scale notes: this is the standard iterative min-label CC — per round
    * one join + one min-aggregate, rounds bounded by component diameter
    * (near-dup clusters are shallow; capped at 20). The DuckDB oracle
    * computes the same components via a recursive-CTE transitive closure.
    */
  def nearDupClusters(s: SparkSession, d: String): DataFrame =
    clusterPairsOn(nearJaccard(s, d).select(col("a"), col("b")))

  /** Generalized connected components over any pair DataFrame with edge
    * columns `aCol`/`bCol` — the [[graft.api.Graft.clusterPairs]] core.
    *
    * Engine: alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14). Each round
    * is two join+aggregate passes and HALVES long paths, so rounds grow as
    * O(log d) in component diameter d — a 50-node chain converges in ~7
    * rounds where plain min-label propagation needs 49. Exceeding
    * `maxRounds` without a fixpoint throws rather than silently returning
    * wrong cluster ids. [[clusterPairsMinLabelOn]] keeps the simple
    * propagation engine as an independently-implemented reference; a
    * property test asserts both reach the same fixpoint on random graphs.
    */
  private[graft] def clusterPairsOn(pairDf: DataFrame, aCol: String = "a",
      bCol: String = "b", maxRounds: Int = 20): DataFrame = {
    val pairs = pairDf.select(col(aCol).cast("long").as("u"),
        col(bCol).cast("long").as("v"))
      .localCheckpoint()
    // every node that appears anywhere — the output must label all of them.
    // Derived lazily from the checkpointed pairs (a cheap re-scan), used
    // once in the final join; checkpointing it would be a wasted job.
    val nodes = pairs.select(col("u").as("n"))
      .unionByName(pairs.select(col("v").as("n")))
      .distinct()
    // large-star: connect every neighbor v > u to m(u) = min(N(u) ∪ {u}).
    // The explicit repartition(u) is the star's ONLY edge shuffle: both the
    // min-aggregate and the self-join require hashpartitioning(u), and
    // with the shared exchange underneath Catalyst satisfies both from one
    // pass instead of exchanging the (doubled) edge set separately for
    // each subtree.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u"))
      val m = sym.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      sym.join(m, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    // small-star: orient each edge large→small, connect every smaller
    // neighbor AND u itself to m(u)
    def smallStar(e: DataFrame): DataFrame = {
      val t = e.filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .repartition(col("u")) // shared exchange for the agg + join (as above)
      val m = t.groupBy(col("u")).agg(min(col("v")).as("m"))
      t.join(m, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(m.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // Convergence: endpoints only ever DECREASE, so the decimal sum over
    // the (deduped) edge list is monotone non-increasing and strictly
    // falls whenever a pass changed anything. The signature rides the
    // round's own materializing action via observe() — zero extra jobs
    // per round (verified: observe metrics fire on localCheckpoint).
    def checkpointWithSig(e: DataFrame)
        : (DataFrame, Long, java.math.BigDecimal) = {
      val obs = org.apache.spark.sql.Observation()
      val ck = e.observe(obs, count(lit(1)).as("cnt"),
        sum((col("u") + col("v")).cast("decimal(38,0)")).as("s"))
        .localCheckpoint()
      val m = obs.get
      (ck, m("cnt").asInstanceOf[Long],
        m("s").asInstanceOf[java.math.BigDecimal])
    }
    var (edges, cnt, s) =
      checkpointWithSig(pairs.filter(col("u") =!= col("v")).distinct())
    var converged = cnt == 0L
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val (e2, c2, s2) = checkpointWithSig(smallStar(largeStar(edges)))
      converged = c2 == cnt && (s2 == null || s2.compareTo(s) == 0)
      edges = e2; cnt = c2; s = s2
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"clusterPairs: star contraction did not converge in $maxRounds " +
          "rounds; raise maxRounds")
    // fixpoint edges are (node → component min); roots and isolated nodes
    // label themselves
    nodes.join(edges.select(col("u").as("n"), col("v").as("lbl")), Seq("n"),
        "left")
      .select(col("n").as("doc_id"),
        coalesce(col("lbl"), col("n")).as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** The end-to-end dedup OUTPUT consumers actually apply: keep the
    * canonical (minimum-id) document of every near-dup cluster, drop the
    * rest, and report per-(lang, source) corpus shrinkage. Cluster labels
    * come from [[nearDupClusters]] (label = min reachable id, so the
    * canonical doc is exactly the row whose label equals its own id);
    * documents in no cluster survive trivially via the left anti-ness of
    * the null-flag join. One extra broadcast-sized join over the cluster
    * table — the pair graph and CC dominate, both scale-shaped already.
    */
  def dedupSurvivors(s: SparkSession, d: String): DataFrame = {
    val corpus = withNearDupes(s, d)
    val dropped = nearDupClusters(s, d)
      .filter(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id"), lit(1).as("is_dup"))
    corpus.join(dropped, Seq("doc_id"), "left")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("is_dup").isNotNull, 1L).otherwise(0L)).as("n_dropped"))
      .orderBy(col("lang"), col("source"))
  }

  /** The straightforward min-label-propagation CC (rounds = component
    * diameter) — kept as an independent reference implementation for the
    * engine-agreement property test of [[clusterPairsOn]].
    */
  private[graft] def clusterPairsMinLabelOn(pairDf: DataFrame,
      aCol: String = "a", bCol: String = "b", maxRounds: Int = 20): DataFrame = {
    val pairs = pairDf.select(col(aCol).as("a"), col(bCol).as("b"))
      .localCheckpoint()
    val sym = pairs
      .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
      .unionByName(pairs.select(col("a"), col("a").as("b")))
      .unionByName(pairs.select(col("b").as("a"), col("b")))
      .distinct()
      .toDF("x", "y")
      .localCheckpoint()
    // sym carries self-loops, so min-over-neighbors from identity labels IS
    // the first propagation round — initialize with one aggregate instead
    // of a distinct + a full join round
    var labels = sym.groupBy(col("x")).agg(min(col("y")).as("lbl"))
      .localCheckpoint()
    // Convergence check exploits monotonicity: min-propagation can only
    // DECREASE labels, so the fixpoint is reached exactly when sum(lbl)
    // stops falling — one cheap aggregate per round instead of a
    // next⋈previous join + count.
    def lblSum(df: DataFrame): java.math.BigDecimal = // decimal: no overflow
      df.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0)
    var labelSum = lblSum(labels)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val next = sym
        .join(labels.select(col("x").as("y"), col("lbl")), Seq("y"))
        .groupBy(col("x")).agg(min(col("lbl")).as("lbl"))
        .localCheckpoint()
      val nextSum = lblSum(next)
      labels = next
      converged = nextSum.compareTo(labelSum) == 0
      labelSum = nextSum
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"clusterPairs: label propagation did not converge in $maxRounds " +
          "rounds — a component's diameter exceeds the cap; raise maxRounds")
    labels.select(col("x").as("doc_id"), col("lbl").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Embedding near-dup: intra-label pairs with cosine ≥ 0.35 (blocked
    * brute force — label is the blocking key, the IVF-style scale path).
    * Norms are precomputed per vector BEFORE the pair join (O(n) instead of
    * O(pairs)); the per-pair work is one codegen'd dot product.
    */
  def embeddingNearDup(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .withColumn("nrm",
        sqrt(NativeExprs.dot(s, col("embedding"), col("embedding"))))
    val a = e.select(col("vec_id").as("a"), col("label"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("b"), col("label"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("label"))
      .filter(col("a") < col("b"))
      .withColumn("cos",
        NativeExprs.dot(s, col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.35)
      .select(col("label"), col("a"), col("b"), col("cos"))
      .orderBy(col("a"), col("b"))
  }

  /** LEAKAGE-SAFE TRAIN/VALID/TEST SPLIT — the decontamination rule a
    * training pipeline must honor: near-duplicate documents MUST land
    * in the same split, or the eval set silently overlaps the training
    * set and benchmark numbers inflate. A per-document hash split
    * (filter_split_assign) violates this whenever a near-dup pair
    * straddles the cut; here the split key is the near-dup CLUSTER root
    * ([[nearDupClusters]] connected components), so an entire dup
    * cluster moves as one unit — zero cross-split pairs by
    * construction (asserted mechanically in scalatest). The hash is the
    * [[graft.api.Graft.sampleByStratum]] wrap-safe multiplicative
    * idiom; same corpus → same split, across engines and re-runs.
    * Output: per-split document and cluster counts.
    */
  def leakfreeSplit(s: SparkSession, d: String): DataFrame =
    leakageSafeSplitOn(withNearDupes(s, d).select(col("doc_id")),
      "doc_id", nearDupClusters(s, d))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("root")).as("n_clusters"))
      .orderBy(col("split"))

  /** Per-doc assignment core: `clusters` is a (doc_id, cluster_id)
    * frame (docs absent from it are their own singleton cluster).
    */
  private[graft] def leakageSafeSplitOn(docs: DataFrame, idCol: String,
      clusters: DataFrame, trainPerMille: Int = 800,
      validPerMille: Int = 100): DataFrame = {
    require(trainPerMille >= 0 && validPerMille >= 0 &&
      trainPerMille + validPerMille <= 1000,
      s"split shares are per mille: $trainPerMille/$validPerMille")
    val r = pmod(pmod(col("root"), lit(1000)) * lit(761L), lit(1000))
    docs
      .join(clusters.select(col("doc_id").as(idCol), col("cluster_id")),
        Seq(idCol), "left")
      .withColumn("root", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("split",
        when(r < trainPerMille, "train")
          .when(r < trainPerMille + validPerMille, "valid")
          .otherwise("test"))
      .select(col(idCol), col("root"), col("split"))
  }

  /** COPY-PROVENANCE PAIRS — "who copied whom": the doc pairs sharing
    * the most distinct 3-gram shingles, counting only DISCRIMINATIVE
    * grams (corpus frequency 2..8 — singletons can't pair, higher
    * frequencies are boilerplate hubs whose pair fan-out is quadratic
    * in the hub size; the cap IS the candidate bound, the same
    * rare-feature principle as the prefix filter). Complements
    * [[nearDupClusters]] (symmetric Jaccard) and repeated_spans
    * (per-doc islands): this ranks PAIRS by shared evidence mass, the
    * lineage/provenance read. Shingles ride [[blockShingles]]'s hashed
    * arrays (64-bit xxhash64 — the same hash-vs-string-oracle parity
    * the whole dedup family is hash-green on); top 20 by
    * (n_shared, a, b) via TakeOrderedAndProject.
    */
  def copyPairs(s: SparkSession, d: String): DataFrame =
    copyPairsOnShingles(blockShingles(withNearDupes(s, d)),
      maxFreq = 8, k = 20)

  /** Core over any (doc_id, sh: array of distinct shingle keys) frame. */
  private[graft] def copyPairsOnShingles(sh: DataFrame, maxFreq: Long,
      k: Int): DataFrame = {
    val g = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    val rare = g.join(
      g.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt").between(2L, maxFreq)), Seq("g"))
    rare.select(col("g"), col("doc_id").as("a"))
      .join(rare.select(col("g"), col("doc_id").as("b")), Seq("g"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(desc("n_shared"), col("a"), col("b"))
      .limit(k)
  }

  val queries = Map(
    "dedup_copy_pairs" -> (copyPairs _),
    "dedup_leakfree_split" -> (leakfreeSplit _),
    "dedup_exact_groups" -> (exactDupGroups _),
    "dedup_keep_first" -> (keepFirst _),
    "dedup_near_jaccard" -> (nearJaccard _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_index_append" -> (dedupIndexAppend _),
    "dedup_index_expire" -> (dedupIndexExpire _),
    "dedup_index_decision" -> (dedupIndexDecision _),
    "dedup_incremental_lsh" -> (dedupIncrementalLsh _),
    "dedup_containment" -> (containmentPairs _),
    "dedup_clusters" -> (nearDupClusters _),
    "dedup_threshold_report" -> (thresholdReport _),
    "dedup_survivors" -> (dedupSurvivors _),
    "dedup_minhash_lsh" -> (minhashLsh _),
    "dedup_minhash_mllib" -> (minhashMllib _),
    "dedup_simhash" -> (simhashPairs _),
    "dedup_simhash_sorted" -> (simhashSorted _),
    "dedup_recall_report" -> (recallReport _),
    "dedup_embedding" -> (embeddingNearDup _))

  // threshold/recall sweep the τ / detector grids against exact-pair
  // baselines; the decision probes the compacted-twin baseline
  override val instruments: Set[String] = Set("dedup_threshold_report",
    "dedup_recall_report", "dedup_index_decision")

  // private[operators]: PipelineOps' incremental admission oracle reads
  // the same corpus CTE
  private[operators] val planted =
    """SELECT doc_id, lang, source, text FROM documents
       UNION ALL
       SELECT doc_id + 200000, lang, source,
         array_to_string(w[1:greatest(len(w) - 5, 1)], ' ')
       FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS w
             FROM documents)
       WHERE doc_id % 7 = 0"""

  // planted corpus → shingles → jaccard≥0.3 pairs → transitive closure:
  // the shared CTE chain of the cluster-consuming oracles
  private val clusterCtes =
    s"""corpus AS ($planted),
       sh AS (SELECT doc_id, lang, source,
           list_distinct(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
         FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS w
               FROM corpus)),
       pairs AS (SELECT a.doc_id AS a, b.doc_id AS b
         FROM sh a JOIN sh b
           ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.3),
       sym(x, y) AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
         UNION SELECT a, a FROM pairs UNION SELECT b, b FROM pairs),
       reach(x, y) AS (
         SELECT x, y FROM sym
         UNION
         SELECT r.x, s.y FROM reach r JOIN sym s ON r.y = s.x)"""

  /** One τ's replay block for the [[thresholdReport]] oracle: the τ
    * pair filter over the shared jaccard-valued `jp` table, its own
    * recursive closure, components, and the one-row stats frame.
    */
  private def tauBlockCtes(tau: Int): String = {
    val drop = "c.cluster_id <> c.doc_id"
    s"""p$tau AS (SELECT a, b FROM jp WHERE j >= ${tau / 1000.0}),
       sym$tau(x, y) AS (SELECT a, b FROM p$tau
         UNION SELECT b, a FROM p$tau
         UNION SELECT a, a FROM p$tau UNION SELECT b, b FROM p$tau),
       reach$tau(x, y) AS (
         SELECT x, y FROM sym$tau
         UNION
         SELECT r.x, s.y FROM reach$tau r JOIN sym$tau s ON r.y = s.x),
       cl$tau AS (SELECT x AS doc_id, min(y) AS cluster_id
         FROM reach$tau GROUP BY x),
       st$tau AS (SELECT CAST($tau AS INT) AS tau_permille,
           (SELECT CAST(count(*) AS BIGINT) FROM p$tau) AS n_pairs,
           CAST(count(*) AS BIGINT) AS n_docs_linked,
           CAST(count(DISTINCT c.cluster_id) AS BIGINT) AS n_clusters,
           CAST(coalesce(sum(CASE WHEN $drop THEN 1 END), 0) AS BIGINT)
             AS n_dropped,
           CAST(coalesce(sum(CASE WHEN $drop THEN t.n_tok END), 0)
             AS BIGINT) AS tokens_dropped
         FROM cl$tau c JOIN toks t USING (doc_id))"""
  }

  private val thresholdReportOracleSql: String = {
    val taus = Seq(300, 450, 600, 750, 900)
    s"""WITH RECURSIVE corpus AS ($planted),
       sh AS (SELECT doc_id, lang, source,
           list_distinct(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
         FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS w
               FROM corpus)),
       jp AS (SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) AS j
         FROM sh a JOIN sh b
           ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.3),
       toks AS (SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         FROM corpus),
       ${taus.map(tauBlockCtes).mkString(",\n       ")}
       ${taus.map(t => s"SELECT * FROM st$t")
        .mkString("\n       UNION ALL ")}
       ORDER BY tau_permille"""
  }

  val oracle = Map(
    "dedup_threshold_report" -> thresholdReportOracleSql,
    "dedup_exact_groups" ->
      """SELECT md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fp,
           count(*) AS n, min(doc_id) AS keep_id, max(doc_id) AS dup_id
         FROM (SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0)
         GROUP BY fp HAVING count(*) > 1 ORDER BY keep_id""",
    "dedup_keep_first" ->
      """SELECT lang, source, min(doc_id) AS kept_id,
           count(*) - 1 AS n_dropped
         FROM documents GROUP BY lang, source ORDER BY lang, source""",
    "dedup_incremental_lsh" ->
      s"""WITH corpus AS ($planted),
         sh AS (SELECT doc_id, lang, source,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS w
                 FROM corpus))
         SELECT n.doc_id AS new_id, i.doc_id AS matched_id,
           CAST(len(list_intersect(n.sh, i.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(n.sh, i.sh))) AS jaccard
         FROM sh n JOIN sh i
           ON n.lang = i.lang AND n.source = i.source
           AND n.doc_id >= 200000 AND i.doc_id < 100000
         WHERE CAST(len(list_intersect(n.sh, i.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(n.sh, i.sh))) >= 0.5
         ORDER BY new_id, matched_id""",
    "dedup_index_append" ->
      // survivorship replay: day-1 docs (originals % 7 == 0) survive iff
      // no brute-force >= tau match in the day-0 index (originals
      // % 7 <> 0, same block); the appended index is day 0 + survivors,
      // and day 2 (the planted truncations) matches against that union —
      // exact because the engine's probe is candidates-superset +
      // exact-verify through the append
      s"""WITH corpus AS ($planted),
         sh AS (SELECT doc_id, lang, source,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS w
                 FROM corpus)),
         i0 AS (SELECT * FROM sh
           WHERE doc_id < 100000 AND doc_id % 7 <> 0),
         b1 AS (SELECT * FROM sh
           WHERE doc_id < 100000 AND doc_id % 7 = 0),
         caught1 AS (SELECT DISTINCT b1.doc_id FROM b1 JOIN i0
             ON b1.lang = i0.lang AND b1.source = i0.source
           WHERE CAST(len(list_intersect(b1.sh, i0.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(b1.sh, i0.sh))) >= 0.3),
         idx AS (SELECT * FROM i0 UNION ALL
                 SELECT * FROM b1 WHERE doc_id NOT IN
                   (SELECT doc_id FROM caught1)),
         b2 AS (SELECT * FROM sh WHERE doc_id >= 200000)
         SELECT n.doc_id AS new_id, i.doc_id AS matched_id,
           CAST(len(list_intersect(n.sh, i.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(n.sh, i.sh))) AS jaccard
         FROM b2 n JOIN idx i ON n.lang = i.lang AND n.source = i.source
         WHERE CAST(len(list_intersect(n.sh, i.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(n.sh, i.sh))) >= 0.3
         ORDER BY new_id, matched_id""",
    "dedup_index_decision" ->
      // full replay of the order-dependent candidate counts: md5-prefix
      // shingle hashes, per-block frequency under all THREE orders (one
      // frozen day-0 base per arm + fc = compacted full corpus), per-doc
      // prefix keys under each (rank by (f, h), keep
      // n - ceil(0.3n - 1e-6) + 1), probe-side prefix joins per arm,
      // brute-force exact verify, and the engine's integer
      // permille/verdict arithmetic. Arm base predicates interpolate
      // from the SAME DecisionArms list the engine reads. The compacted
      // side (fc/pic/ppc/cc) and the verify (vv) are shared: both arms
      // accumulate the identical index CONTENTS — only the order the
      // prefixes were computed under differs.
      graft.operators.SimOps.materializeCtes(s"""
         WITH corpus AS ($planted),
         shm AS (SELECT doc_id, lang, source,
             list_sort(list_distinct(list_transform(range(1, len(w) - 1),
               i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' '
                 || w[i+2]), 1, 10))::BIGINT))) AS sh
           FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS w
                 FROM corpus)),
         idx AS (SELECT * FROM shm WHERE doc_id < 100000),
         probe AS (SELECT * FROM shm WHERE doc_id >= 200000),
         fc AS (SELECT lang, source, h, CAST(count(*) AS BIGINT) AS f
           FROM (SELECT lang, source, unnest(sh) AS h FROM idx)
           GROUP BY lang, source, h),
         ei AS (SELECT doc_id, lang, source, len(sh) AS n, unnest(sh) AS h
           FROM idx),
         ep AS (SELECT doc_id, lang, source, len(sh) AS n, unnest(sh) AS h
           FROM probe),
         pic AS (SELECT doc_id, lang, source, n, h AS pk FROM (
             SELECT e.*, row_number() OVER (PARTITION BY e.doc_id
               ORDER BY coalesce(fc.f, 0), e.h) AS rn
             FROM ei e LEFT JOIN fc ON e.lang = fc.lang
               AND e.source = fc.source AND e.h = fc.h)
           WHERE rn <= n - CAST(ceil(n * 0.3 - 1e-6) AS BIGINT) + 1),
         ppc AS (SELECT doc_id, lang, source, n, h AS pk FROM (
             SELECT e.*, row_number() OVER (PARTITION BY e.doc_id
               ORDER BY coalesce(fc.f, 0), e.h) AS rn
             FROM ep e LEFT JOIN fc ON e.lang = fc.lang
               AND e.source = fc.source AND e.h = fc.h)
           WHERE rn <= n - CAST(ceil(n * 0.3 - 1e-6) AS BIGINT) + 1),
         cc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates_compacted
           FROM (SELECT DISTINCT p.doc_id AS a, i.doc_id AS b
             FROM ppc p JOIN pic i ON p.lang = i.lang
               AND p.source = i.source AND p.pk = i.pk
             WHERE CAST(least(p.n, i.n) AS DOUBLE)
               >= greatest(p.n, i.n) * 0.3 - 1e-6)),
         vv AS (SELECT CAST(count(*) AS BIGINT) AS n_verified
           FROM probe n JOIN idx i
             ON n.lang = i.lang AND n.source = i.source
           WHERE CAST(len(list_intersect(n.sh, i.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(n.sh, i.sh))) >= 0.3),
         ${DecisionArms.map { case (a, p) => decisionArmSql(a, p) }
          .mkString(",\n         ")}
         SELECT * FROM (
           ${DecisionArms.map { case (a, _) => decisionRowSql(a) }
            .mkString("\n           UNION ALL\n           ")})
         ORDER BY arm"""),
    "dedup_index_expire" ->
      // surviving index docs = originals with doc_id % 3 <> 0; the
      // truncations (>= 200000) probe brute-force against exactly them
      s"""WITH corpus AS ($planted),
         sh AS (SELECT doc_id, lang, source,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS w
                 FROM corpus))
         SELECT n.doc_id AS new_id, i.doc_id AS matched_id,
           CAST(len(list_intersect(n.sh, i.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(n.sh, i.sh))) AS jaccard
         FROM sh n JOIN sh i
           ON n.lang = i.lang AND n.source = i.source
           AND n.doc_id >= 200000
           AND i.doc_id < 100000 AND i.doc_id % 3 <> 0
         WHERE CAST(len(list_intersect(n.sh, i.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(n.sh, i.sh))) >= 0.3
         ORDER BY new_id, matched_id""",
    "dedup_incremental" ->
      s"""WITH corpus AS ($planted),
         sh AS (SELECT doc_id, lang, source,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS w
                 FROM corpus))
         SELECT n.doc_id AS new_id, i.doc_id AS matched_id,
           CAST(len(list_intersect(n.sh, i.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(n.sh, i.sh))) AS jaccard
         FROM sh n JOIN sh i
           ON n.lang = i.lang AND n.source = i.source
           AND n.doc_id >= 200000 AND i.doc_id < 100000
         WHERE CAST(len(list_intersect(n.sh, i.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(n.sh, i.sh))) >= 0.3
         ORDER BY new_id, matched_id""",
    "dedup_near_jaccard" ->
      s"""WITH corpus AS ($planted),
         sh AS (SELECT doc_id, lang, source,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS w
                 FROM corpus))
         SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
         FROM sh a JOIN sh b
           ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.3
         ORDER BY a, b""",
    "dedup_containment" ->
      // r14 replay-cost fix: the old form was an all-pairs n² double
      // list_intersect (694 s alone at sf0.1). This inverted-index join
      // computes the SAME |a∩b| (shingle lists are distinct, so the
      // per-pair match count IS the intersection size) and the same
      // containment division; pairs with zero shared shingles can never
      // reach 0.8, so dropping them changes nothing. Strict-checked
      // identical at all three SFs.
      s"""WITH corpus AS ($planted),
         sh AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS w
                 FROM corpus)),
         sz AS (SELECT doc_id, len(sh) AS n FROM sh),
         g AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         p AS (SELECT a.doc_id AS a, b.doc_id AS b,
             CAST(count(*) AS BIGINT) AS inter
           FROM g a JOIN g b ON a.g = b.g AND a.doc_id <> b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         SELECT p.a, p.b, CAST(p.inter AS DOUBLE) / sa.n AS containment
         FROM p JOIN sz sa ON p.a = sa.doc_id
         WHERE CAST(p.inter AS DOUBLE) / sa.n >= 0.8
         ORDER BY a, b""",
    "dedup_clusters" ->
      s"""WITH RECURSIVE $clusterCtes
         SELECT x AS doc_id, min(y) AS cluster_id FROM reach
         GROUP BY x ORDER BY doc_id""",
    "dedup_copy_pairs" ->
      s"""WITH corpus AS ($planted),
         sh AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)),
         g AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         freq AS (SELECT g, count(*) AS cnt FROM g GROUP BY g),
         rare AS (SELECT g.doc_id, g.g FROM g JOIN freq USING (g)
           WHERE cnt BETWEEN 2 AND 8),
         p AS (SELECT a.doc_id AS a, b.doc_id AS b,
             CAST(count(*) AS BIGINT) AS n_shared
           FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         SELECT a, b, n_shared FROM p
         ORDER BY n_shared DESC, a, b LIMIT 20""",
    "dedup_leakfree_split" ->
      s"""WITH RECURSIVE $clusterCtes,
         clusters AS (SELECT x AS doc_id, min(y) AS cluster_id FROM reach
           GROUP BY x),
         lab AS (SELECT c.doc_id,
             coalesce(cl.cluster_id, c.doc_id) AS root
           FROM corpus c LEFT JOIN clusters cl USING (doc_id)),
         sp AS (SELECT doc_id, root,
             CASE WHEN (root % 1000) * 761 % 1000 < 800 THEN 'train'
                  WHEN (root % 1000) * 761 % 1000 < 900 THEN 'valid'
                  ELSE 'test' END AS split
           FROM lab)
         SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT root) AS BIGINT) AS n_clusters
         FROM sp GROUP BY split ORDER BY split""",
    "dedup_survivors" ->
      s"""WITH RECURSIVE $clusterCtes,
         clusters AS (SELECT x AS doc_id, min(y) AS cluster_id FROM reach
           GROUP BY x),
         dropped AS (SELECT doc_id FROM clusters WHERE cluster_id <> doc_id)
         SELECT c.lang, c.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dropped
         FROM corpus c LEFT JOIN dropped d USING (doc_id)
         GROUP BY c.lang, c.source ORDER BY c.lang, c.source""",
    "dedup_embedding" ->
      """SELECT a.label, a.vec_id AS a, b.vec_id AS b,
           list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             CAST(b.embedding AS DOUBLE[])) AS cos
         FROM embeddings a JOIN embeddings b
           ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             CAST(b.embedding AS DOUBLE[])) >= 0.35
         ORDER BY a, b""")
}
