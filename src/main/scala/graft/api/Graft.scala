package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.NativeExprs

/** User-facing library surface: the LLM-pipeline operators parameterized
  * over arbitrary DataFrames (the `SparkEntry.queries` registry binds the
  * same logic to the gate fixtures; this is what an application imports).
  *
  * Conventions: every function takes the input DataFrame plus column NAMES
  * (not Columns) so results compose with plain `spark.read` sources; id
  * columns must be unique per row; outputs carry the caller's id values.
  */
object Graft {

  private def toks(textCol: String): Column = split(col(textCol), " ")

  // ---------------------------------------------------------------- dedup

  /** Exact duplicate groups by normalized content hash: one row per
    * duplicated content value with the kept (min) id and group size.
    */
  def exactDuplicates(df: DataFrame, id: String, text: String): DataFrame = {
    val normalized = graft.operators.TextOps.normalizedText(col(text))
    df.groupBy(md5(normalized).as("fp"))
      .agg(count(lit(1)).as("n"), min(col(id)).as("keep_id"))
      .filter(col("n") > 1)
  }

  /** MinHash+LSH near-duplicate pairs over the whole corpus, verified by
    * exact shingle jaccard ≥ `threshold`. Sub-quadratic: candidates come
    * only from LSH band buckets. Output columns are `a`, `b` (the caller's
    * id values), `jaccard` — directly composable with [[clusterPairs]].
    */
  def nearDuplicatePairs(df: DataFrame, id: String, text: String,
      threshold: Double = 0.3): DataFrame =
    graft.operators.DedupOps.minhashLshOn(
      df.select(col(id).as("doc_id"), col(text).as("text")), threshold)

  /** EXACT near-duplicate pairs: every pair with shingle jaccard ≥
    * `threshold`, guaranteed complete (unlike the probabilistic
    * [[nearDuplicatePairs]] / [[simhashNearDupPairs]] candidate
    * generators). Sub-quadratic despite exactness: candidates come from
    * AllPairs/PPJoin prefix filtering on frequency-ordered shingle hashes,
    * so even a single huge block never enumerates all pairs. Optional
    * `blockCols` restrict pairing to equal-valued groups (a metadata
    * pre-filter, not a correctness requirement). Output columns `a`, `b`,
    * `jaccard` — composable with [[clusterPairs]].
    */
  def exactNearDuplicatePairs(df: DataFrame, id: String, text: String,
      threshold: Double = 0.3, blockCols: Seq[String] = Nil): DataFrame = {
    val lang = blockCols.headOption.map(col).getOrElse(lit("")).cast("string")
    val source =
      if (blockCols.size > 1) concat_ws("\u0001", blockCols.tail.map(col): _*)
      else lit("")
    graft.operators.DedupOps.blockedJaccardPairs(
      df.select(col(id).as("doc_id"), lang.as("lang"), source.as("source"),
        col(text).as("text")),
      threshold)
  }

  /** Incremental near-dedup: every `incoming` row's Jaccard-≥-threshold
    * matches in `index` — (new_id, matched_id, jaccard), never any
    * incoming×incoming or index×index pair, so ingest cost is bounded by
    * the batch's posting lists regardless of corpus size (the
    * build-once/probe-many shape of production dedup). Exact and
    * complete via prefix filtering ordered by INDEX-side shingle
    * frequency (unseen incoming shingles rank rarest — the safe side).
    * Both frames need (id, text); optional `blockCols` restrict pairing
    * to equal-valued groups as in [[exactNearDuplicatePairs]].
    */
  def incrementalNearDupPairs(index: DataFrame, incoming: DataFrame,
      id: String, text: String, threshold: Double = 0.3,
      blockCols: Seq[String] = Nil): DataFrame =
    graft.operators.DedupOps.incrementalNearDupsOn(
      shapedCorpus(index, id, text, blockCols),
      shapedCorpus(incoming, id, text, blockCols), threshold)

  /** [[incrementalNearDupPairs]] routed through the index's minhash LSH
    * BAND BUCKETS — the probe shape a production pipeline runs against
    * a PERSISTED band index (the minhash twin of
    * [[incrementalAnnAssign]]): the batch computes only its own
    * signatures and band keys and equi-joins the index's bucket table,
    * so candidate cost is bounded by the batch's bucket postings. Band
    * candidates union with the deterministic prefix candidates before
    * ONE exact-verify pass, so the output is still EXACTLY the ≥
    * `threshold` pair set (banding alone is probabilistic); same
    * columns (new_id, matched_id, jaccard) and the same block-column
    * semantics as [[incrementalNearDupPairs]]. This one-shot overload
    * builds the index tables in-line; keep them persisted (the
    * registered dedup_incremental_lsh shows the artifact discipline)
    * when batches repeat against the same index.
    */
  def incrementalNearDupPairsLsh(index: DataFrame, incoming: DataFrame,
      id: String, text: String, threshold: Double = 0.5,
      blockCols: Seq[String] = Nil): DataFrame = {
    val parts = graft.operators.DedupOps.lshIndexTables(
      shapedCorpus(index, id, text, blockCols), threshold).toMap
    graft.operators.DedupOps.incrementalLshProbe(parts("shingles"),
      parts("freq"), parts("prefix"), parts("buckets"),
      shapedCorpus(incoming, id, text, blockCols), threshold)
  }

  /** The (doc_id, lang, source, text) shape the DedupOps cores expect:
    * first block column -> lang, the rest \u0001-joined -> source (the
    * delimiter keeps distinct tuples ("a","bc")/("ab","c") from
    * collapsing into one block key). */
  private def shapedCorpus(df: DataFrame, id: String, text: String,
      blockCols: Seq[String]): DataFrame = {
    val lang = blockCols.headOption.map(col).getOrElse(lit("")).cast("string")
    val source =
      if (blockCols.size > 1) concat_ws("\u0001", blockCols.tail.map(col): _*)
      else lit("")
    df.select(col(id).as("doc_id"), lang.as("lang"), source.as("source"),
      col(text).as("text"))
  }

  /** BUILD the persistent incremental near-dedup index over a corpus:
    * the [[DedupIndex]] handle every later ingest batch probes
    * ([[probeDedupIndex]]) and appends its survivors into
    * ([[appendToDedupIndex]]) — the build-once / probe-and-grow-daily
    * loop of a production dedup pipeline. Persist the handle's tables
    * (plain parquet writes) between batches; reconstruct the handle
    * from the re-read frames. `withLsh = true` additionally builds the
    * minhash band-bucket table, routing probes through bucket postings
    * (cheapest at scale) while keeping results exact. `blockCols`
    * restrict pairing to equal-valued groups (fixed for the index's
    * lifetime — they are part of its identity, so the handle carries
    * them instead of trusting every call site to repeat them).
    */
  def buildDedupIndex(docs: DataFrame, id: String, text: String,
      threshold: Double = 0.3, blockCols: Seq[String] = Nil,
      withLsh: Boolean = false): DedupIndex = {
    val shaped = shapedCorpus(docs, id, text, blockCols)
    val parts =
      if (withLsh) graft.operators.DedupOps.lshIndexTables(shaped, threshold)
      else graft.operators.DedupOps.dedupIndexTables(shaped, threshold)
    val m = parts.toMap
    DedupIndex(m("shingles"), m("freq"), m("prefix"), m.get("buckets"),
      threshold, blockCols)
  }

  /** PROBE an ingest batch against a [[DedupIndex]]: every incoming
    * row's Jaccard-≥-threshold matches among the index's docs —
    * (new_id, matched_id, jaccard), never any incoming×incoming or
    * index×index pair, cost bounded by the batch's posting lists
    * regardless of index age. Exact and complete: prefix candidates
    * under the index's frozen frequency order (∪ band candidates when
    * the index carries buckets) then merge-scan verify.
    */
  def probeDedupIndex(index: DedupIndex, incoming: DataFrame, id: String,
      text: String): DataFrame = {
    val shaped = shapedCorpus(incoming, id, text, index.blockCols)
    index.buckets match {
      case Some(b) => graft.operators.DedupOps.incrementalLshProbe(
        index.shingles, index.freq, index.prefix, b, shaped, index.threshold)
      case None => graft.operators.DedupOps.incrementalNearDupsProbe(
        index.shingles, index.freq, index.prefix, shaped, index.threshold)
    }
  }

  /** APPEND a batch's accepted docs (its dedup survivors) into the
    * index — the LSM merge that closes the cross-batch blind spot: a
    * frozen index checks day N only against the initial build, so two
    * near-dups both arriving after it never see each other; an appended
    * index checks day N against every survivor of days 1..N−1. Pure
    * row merges (batch shingles, batch prefix keys under the index's
    * FROZEN frequency order, batch band rows when present) — the
    * existing index is never rescanned, and probes stay EXACT because
    * the prefix theorem holds for any fixed shared order (frequency
    * ordering is only the selectivity heuristic; see the operator-layer
    * note at DedupOps.appendDedupIndexTables). Persist the returned
    * handle's tables as a NEW index version (content-addressed, the
    * registered dedup_index_append discipline) — never overwrite the
    * old version in place under concurrent probes. Batch ids must be
    * new (survivors are, by construction) — ENFORCED by a
    * short-circuit semi-join check that fails loudly on the first
    * re-appended id. Selectivity — not correctness — decays as the
    * corpus drifts from the frozen order; [[compactDedupIndex]]
    * restores it ([[dedupCompactionDecision]] measures when).
    */
  def appendToDedupIndex(index: DedupIndex, batchSurvivors: DataFrame,
      id: String, text: String, checkDisjoint: Boolean = true): DedupIndex = {
    val shaped = shapedCorpus(batchSurvivors, id, text, index.blockCols)
    // ENFORCED contract (r17 verdict #4): a re-appended id would
    // silently duplicate its shingle/prefix rows and inflate every
    // later probe's Jaccard-verify denominators — fail loudly instead.
    // One semi-join, short-circuited at the first hit: batch ids are
    // the build side, the index's per-doc table streams, so the check
    // is one bounded pass and finds a violation without draining it.
    // `checkDisjoint = false` (r18 advice) is the opt-out for hot
    // ingest paths whose ids are disjoint BY CONSTRUCTION (fresh
    // monotonic ids, a probe-then-append loop) — the check is an eager
    // blocking scan of the per-doc table, a real per-append latency on
    // a large index, and pure insurance when the caller already
    // guarantees the contract.
    if (checkDisjoint) {
      val clash = shaped.select(col("doc_id"))
        .join(index.shingles.select(col("doc_id")), Seq("doc_id"),
          "left_semi")
        .limit(1).collect()
      require(clash.isEmpty,
        s"appendToDedupIndex: batch doc id ${clash.head.get(0)} already " +
          "exists in the index — batch ids must be disjoint (probe first " +
          "and append only the survivors; re-embedding/replacing a doc " +
          "means expireFromDedupIndex then append)")
    }
    val m = graft.operators.DedupOps.appendDedupIndexTables(
      index.tables, shaped, index.threshold).toMap
    index.copy(shingles = m("shingles"), freq = m("freq"),
      prefix = m("prefix"), buckets = m.get("buckets"))
  }

  /** EXPIRE a tombstone set from the index — the delete half of the
    * LSM loop ([[appendToDedupIndex]] is the insert half): drop the
    * given ids (the `removed` arm of [[snapshotDiff]], a takedown
    * list, a retention cutoff) from every per-doc table with one
    * anti-join each, so later probes can never match expired content.
    * The frozen frequency order stays (dropping rows under a fixed
    * order cannot break probe exactness — it only leaves selectivity
    * slightly stale, append's same trade); [[compactDedupIndex]]
    * re-derives it from the survivors. Persist as a new version, as
    * with append.
    */
  def expireFromDedupIndex(index: DedupIndex, tombstones: DataFrame,
      idCol: String): DedupIndex = {
    val m = graft.operators.DedupOps.expireDedupIndexTables(
      index.tables, tombstones.select(col(idCol).as("doc_id"))).toMap
    index.copy(shingles = m("shingles"), freq = m("freq"),
      prefix = m("prefix"), buckets = m.get("buckets"))
  }

  /** COMPACT a grown index: re-derive the frequency order and all
    * prefix keys from the accumulated shingles table (append keeps it
    * complete — compaction never needs original text), restoring the
    * prefix selectivity that decayed while appends reused the frozen
    * build-time order. Output probes identically (exactness is
    * order-independent); run it on the LSM schedule — appended volume
    * crossing a fraction of the base, or candidate-ratio growth in
    * your probe metrics.
    */
  def compactDedupIndex(index: DedupIndex): DedupIndex = {
    val m = graft.operators.DedupOps.compactDedupIndexTables(
      index.tables, index.threshold).toMap
    index.copy(shingles = m("shingles"), freq = m("freq"),
      prefix = m("prefix"), buckets = m.get("buckets"))
  }

  /** COMPACTION DECISION — the measured answer to "when do I run
    * [[compactDedupIndex]]?", closing the dedup-LSM monitoring loop
    * the way [[ivfRebuildDecision]] closes the IVF one. Appends keep
    * probes EXACT; what decays under the frozen build-time order is
    * candidate SELECTIVITY — the per-batch probe cost. This probes
    * `probe` against the index AS IS and against its compacted twin
    * (order re-derived) and returns one row: (n_candidates_appended,
    * n_candidates_compacted, n_verified, sel_appended_permille,
    * sel_compacted_permille, excess_permille, decision) — `compact`
    * when the appended order generates more than
    * `excessTauPermille`‰ of the compacted candidates (default 1250 =
    * 25% excess), else `keep`. n_verified is arm-independent (both
    * candidate sets are supersets of the true ≥ threshold pairs), so
    * selectivity is directly comparable across arms. Cost: two
    * probe-bounded candidate joins + one verify + the twin's
    * index-linear order re-derivation — run it on the LSM cadence
    * (every Nth batch), not per batch; the registered
    * dedup_index_decision fixture shows a drifted index tripping the
    * threshold. Property-pinned: the verdict flips from keep to
    * compact as appended volume grows.
    */
  def dedupCompactionDecision(index: DedupIndex, probe: DataFrame,
      id: String, text: String,
      excessTauPermille: Long = 1250L): DataFrame =
    graft.operators.DedupOps.compactionDecisionOn(index.tables,
      graft.operators.DedupOps.blockShingles(
        shapedCorpus(probe, id, text, index.blockCols)),
      index.threshold, excessTauPermille)

  /** SNAPSHOT ADVANCE — the daily job as one call: diff the corpus
    * snapshots, advance the snapshot store by CDC merge, and advance
    * this index through expire(removed ∪ changed) → probe(added ∪
    * changed, new text) → append(survivors) — the stage ORDER is the
    * contract (a changed doc's old version must expire before its new
    * version probes; append must come last), which is exactly why the
    * composition ships as one operator instead of five calls every
    * pipeline re-derives. Returns the advanced index (persist as a new
    * content-addressed version, as with every index mutation) plus the
    * stage frames: `diff` (per-id status), `applied` (the advanced
    * snapshot — row-for-row the new snapshot, the applyCdc invariant),
    * `matches` (the probe ledger: batch docs rejected as near-dups of
    * surviving index content), `appended` (the survivors folded in).
    * Frames are in the index's shaped space (doc_id / lang / source /
    * text per the index's blockCols). The advanced index probes
    * EXACTLY like a fresh [[buildDedupIndex]] over (unchanged ∪
    * appended) — property-pinned in PrefixJoinSpec; the registered
    * pipeline_snapshot_advance query is the oracle-checked per-stage
    * funnel over this core. Scale shape documented at the operator
    * layer (DedupOps.advanceSnapshotTables): one full-outer id join,
    * one anti-join per table, a batch-bounded probe — no stage rescans
    * the index.
    */
  def advanceSnapshot(index: DedupIndex, oldSnap: DataFrame,
      newSnap: DataFrame, id: String, text: String): SnapshotAdvance = {
    val adv = graft.operators.DedupOps.advanceSnapshotTables(
      index.tables,
      shapedCorpus(oldSnap, id, text, index.blockCols),
      shapedCorpus(newSnap, id, text, index.blockCols),
      index.threshold)
    SnapshotAdvance(
      index.copy(shingles = adv("shingles"), freq = adv("freq"),
        prefix = adv("prefix"), buckets = adv.get("buckets")),
      adv("diff"), adv("applied"), adv("matches"), adv("survivors"))
  }

  /** Asymmetric CONTAINMENT pairs: every ordered pair (a, b) where at
    * least `threshold` of a's shingles appear in b — the quote/subset/
    * snippet detector symmetric Jaccard misses. Exact and complete via
    * one-sided prefix filtering against an inverted index (a's rarest
    * shingles vs b's full posting lists), never all-pairs. Output columns
    * `a`, `b`, `containment`.
    */
  def containmentPairs(df: DataFrame, id: String, text: String,
      threshold: Double = 0.8): DataFrame =
    graft.operators.DedupOps.containmentPairsOn(
      df.select(col(id).as("doc_id"), lit("").as("lang"),
        lit("").as("source"), col(text).as("text")),
      threshold)

  /** SimHash near-duplicate pairs by rotate+sort neighborhood (Manku-style;
    * candidate generation O(n·perms·window), no all-pairs block) with the
    * final hamming distance exact-verified on the full 63-bit signature.
    * Output columns `a`, `b`, `hamming` — composable with [[clusterPairs]]
    * via the aCol/bCol defaults.
    */
  def simhashNearDupPairs(df: DataFrame, id: String, text: String,
      maxHamming: Int = 6): DataFrame =
    graft.operators.DedupOps.simhashSortedOn(
      df.select(col(id).as("doc_id"), col(text).as("text")), maxHamming)

  /** Exact Levenshtein-≤`maxDist` pairs (maxDist 1..6) over an
    * (id, string) frame — fuzzy key matching / record linkage. Guaranteed
    * complete, never all-pairs: candidates come from FastSS deletion
    * neighborhoods for maxDist ≤ 2 (O(len^maxDist) keys per row) and from
    * a PassJoin segment index for maxDist ≥ 3 (even d+1-way string
    * partition, position-aware ±d substring probes — key count
    * independent of string length), each followed by a banded
    * edit-distance verify, so the output is identical to brute force.
    * Output columns `a`, `b`, `dist` — composable with [[clusterPairs]].
    */
  def editDistancePairs(df: DataFrame, id: String, str: String,
      maxDist: Int = 1): DataFrame =
    graft.operators.JoinOps.editDistancePairsOn(df, id, str, maxDist)

  /** Connected components over a pair DataFrame (edge endpoint columns
    * `aCol`/`bCol`, defaults matching [[nearDuplicatePairs]] output):
    * returns (id, cluster_id = min reachable id). */
  def clusterPairs(pairs: DataFrame, aCol: String = "a",
      bCol: String = "b"): DataFrame =
    graft.operators.DedupOps.clusterPairsOn(pairs, aCol, bCol)

  // ---------------------------------------------------------------- graph

  /** k-core of an undirected graph: (node, degree) of every node
    * surviving the degree-< k peel, run to the fixpoint (early exit on a
    * no-op round) with `maxRounds` as a safety cap — hitting the cap
    * before the fixpoint THROWS rather than silently returning a
    * non-k-core (the same loud-failure contract as converged PageRank).
    * `edges` must list every undirected edge in BOTH directions (symmetry
    * contract; use union with the swapped columns if yours are
    * one-directional). `edges` is materialized once up front, so its
    * pipeline is evaluated once however many peel rounds run; each round
    * then materializes only its node-sized survivor set.
    */
  def kCore(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", k: Int = 3, maxRounds: Int = 30): DataFrame =
    graft.operators.GraphOps.kCoreFrom(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .localCheckpoint(),
      k, maxRounds, requireFixpoint = true)
      .withColumnRenamed("src", "node")

  /** HyperANF approximate neighborhood function over an undirected
    * graph (both-directions symmetry contract, like [[kCore]]): one row
    * per hop t with the estimated total reach N(t) = Σ_v |ball(v, t)|,
    * its per-mille ratio to the final reach, and the 90%-effective-
    * diameter flag (Boldi–Rosa–Vigna 2011). Per-node HLL sketch state
    * (2^lgK registers each), one algebraic sketch-union round per hop,
    * early stop on estimate fixpoint, `maxT` as the safety cap. A
    * radius-t reach ratio needs percent-level accuracy: lgK = 9
    * (±4.6%) is the profiled sweet spot; raise it for count-grade
    * estimates.
    */
  def neighborhoodFunction(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxT: Int = 12, lgK: Int = 9): DataFrame =
    graft.operators.GraphOps.hyperAnfOn(edges.sparkSession,
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")),
      maxT, lgK)

  /** k-truss of an undirected graph: the edges participating in ≥ k−2
    * triangles after iterative support peeling (fixpoint early exit;
    * hitting `maxRounds` before the fixpoint throws rather than returning
    * a partial peel). `pairs` lists each undirected edge ONCE with
    * aCol < bCol (the [[clusterPairs]] input convention).
    */
  def kTruss(pairs: DataFrame, aCol: String = "a", bCol: String = "b",
      k: Int = 3, maxRounds: Int = 30): DataFrame =
    graft.operators.GraphOps.trussFrom(
      pairs.select(col(aCol).as("a"), col(bCol).as("b")), k, maxRounds,
      requireFixpoint = true)

  /** Neighborhood link prediction over a bipartite incidence frame:
    * top-k (a, b) pairs of `nodeCol` values sharing `viaCol` neighbors,
    * scored by common neighbors, Jaccard, and the resource-allocation
    * index in exact pico-units (Σ 10¹² DIV deg(via) — the
    * integer-replayable cousin of Adamic–Adar). `maxViaDegree` caps the
    * via-side degree at pair GENERATION, bounding the self-join blow-up
    * to maxViaDegree·|rows| — raise it only with a skew profile in hand.
    */
  def linkPrediction(incidence: DataFrame, viaCol: String, nodeCol: String,
      maxViaDegree: Int = 64, k: Int = 20): DataFrame =
    graft.operators.GraphOps.linkPredictionOn(
      incidence, viaCol, nodeCol, maxViaDegree, k)

  /** Single-source shortest path by weighted cost from the minimum node
    * id: (node, cost) of the cheapest ≤`maxHops`-hop path. `edges` needs
    * (src, dst, w) with positive integer weights, both directions for
    * undirected graphs.
    */
  def shortestPaths(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", wCol: String = "w",
      maxHops: Int = 10): DataFrame =
    graft.operators.GraphOps.ssspFrom(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wCol).as("w")),
      maxHops)

  /** PageRank over any SYMMETRIC edge frame (every undirected edge in
    * both directions — no dangling-node mass correction needed), in
    * integer micro-units (1.0 ≡ 10⁶): (node, rank_units) after `iters`
    * damped rounds at damping `dampingPermille`/1000. The integral
    * update (teleport + (d·Σ units DIV deg) DIV 1000) makes the result
    * independent of partitioning and summation order — replayable
    * bit-for-bit in any engine — where a float fixpoint would not be.
    * Defaults (850, 5) are the registered graph_pagerank fixture; for
    * run-to-convergence semantics see the registered
    * graph_pagerank_converged's loud-failure contract. Cost: one edge
    * checkpoint + `iters` (join + partial-agg) rounds composed into one
    * job; no broadcast hints, so AQE picks per-round strategies at any
    * scale.
    */
  def pageRank(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", dampingPermille: Long = 850L,
      iters: Int = 5): DataFrame =
    graft.operators.GraphOps.pageRankFrom(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")),
      dampingPermille, iters)
      .withColumnRenamed("units", "rank_units")

  /** Synchronous label propagation over any SYMMETRIC edge frame:
    * (node, lbl) community labels after `rounds` synchronous updates —
    * each node takes the most frequent label among its neighbors, ties
    * to the smallest label (deterministic, replayable; node ids must be
    * in [0, 2³¹) — the argmax encoding guards and raises otherwise).
    * The round count is THE resolution knob: more rounds merge
    * communities along bridges; the registered graph_label_prop pins 3.
    */
  def labelPropagate(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst",
      rounds: Int = graft.operators.GraphOps.LpaRounds): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    graft.operators.GraphOps.labelPropFrom(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")), rounds)
  }

  /** Landmark-approximated HARMONIC centrality over any SYMMETRIC edge
    * frame (every undirected edge in both directions; `src` must cover
    * all nodes): (node, harm_units = Σ_landmarks 10⁶ DIV d(l, node),
    * n_lm = landmarks reaching the node within `maxHops`). Landmarks
    * are the `nLandmarks` smallest node ids — deterministic, replayable.
    * The estimator of the full harmonic is harm_units · n / nLandmarks
    * (uniform-from-V inflation; [[harmonicLandmarkSweep]] measures what
    * quality each landmark count buys on YOUR graph). `nLandmarks` and
    * `maxHops` are THE accuracy/cost knobs at scale — the engine packs
    * landmarks into one 64-bit BFS bitmask, so frontier traffic is
    * |nodes|-sized for any count up to 64 and cost is O(maxHops·|E|).
    * Defaults = the registered graph_harmonic fixture constants.
    */
  def harmonicCentrality(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst",
      nLandmarks: Int = graft.operators.GraphOps.HarmonicLandmarks,
      maxHops: Int = graft.operators.GraphOps.HarmonicMaxHops): DataFrame =
    graft.operators.GraphOps.harmonicFrom(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")),
      nLandmarks, maxHops)

  /** Landmark-approximated BETWEENNESS centrality (Brandes–Pich pivot
    * sampling, hop-bounded) over any SYMMETRIC edge frame: (node,
    * betw_units = Σ_landmark-sources δ in micro-units, betw_est_units =
    * the n/L-inflated unbiased estimate of the full hop-bounded
    * betweenness). Landmark sources are the `nLandmarks` smallest node
    * ids; `maxDepth` bounds path length (k-bounded betweenness — also
    * what keeps σ·(10⁶+δ) inside long range). Cost is
    * O(nLandmarks · maxDepth · |E|) — 2·depth bounded join rounds, no
    * node² state; [[betweennessLandmarkSweep]] measures the
    * landmark-count/quality tradeoff. Defaults = the registered
    * graph_betweenness fixture constants.
    */
  def betweennessCentrality(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst",
      nLandmarks: Int = graft.operators.GraphOps.BetwLandmarks,
      maxDepth: Int = graft.operators.GraphOps.BetwMaxDepth): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val n = e.select(col("src")).distinct().agg(
      count(lit(1)).as("n_nodes"))
    require(nLandmarks >= 1, s"nLandmarks must be >= 1: $nLandmarks")
    graft.operators.GraphOps.betweennessFrom(e, nLandmarks, maxDepth)
      .crossJoin(broadcast(n))
      .select(col("node"), col("betw_units"),
        expr(s"(betw_units * n_nodes) DIV least($nLandmarks, n_nodes)")
          .as("betw_est_units"))
  }

  /** ESTIMATE-vs-EXACT landmark sweep for [[betweennessCentrality]] on
    * YOUR graph: one all-sources Brandes pass (the exact hop-bounded
    * baseline — O(n·m), run it on a bounded slice of the graph), read
    * back per landmark count L ∈ `ls`. One row per L: (n_landmarks,
    * n_nodes, top20_overlap, err_units_top20, exact_units_top20,
    * err_permille) — pick the smallest L whose error meets your floor.
    */
  def betweennessLandmarkSweep(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst",
      ls: Seq[Int] = graft.operators.GraphOps.SweepLandmarks,
      maxDepth: Int = graft.operators.GraphOps.BetwMaxDepth): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("node")).distinct()
    val deltas = graft.operators.GraphOps.brandesDeltas(e,
      nodes.select(col("node").as("lm")), maxDepth)
      .select(col("lm"), col("node"), col("du").as("cu"))
    graft.operators.GraphOps.landmarkReportFrom(deltas, nodes, ls)
  }

  /** [[betweennessLandmarkSweep]]'s harmonic twin: exact all-sources
    * hop-bounded harmonic vs the L-landmark estimate, from one
    * multi-source BFS pass. Same report shape and reading.
    */
  def harmonicLandmarkSweep(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst",
      ls: Seq[Int] = graft.operators.GraphOps.SweepLandmarks,
      maxHops: Int = graft.operators.GraphOps.HarmonicMaxHops): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("node")).distinct()
    val contrib = graft.operators.GraphOps.bfsDistancesFrom(e,
      nodes.select(col("node").as("lm")), maxHops)
      .select(col("lm"), col("node"), expr("1000000L DIV dist").as("cu"))
    graft.operators.GraphOps.landmarkReportFrom(contrib, nodes, ls)
  }

  // ----------------------------------------------------------- similarity

  /** Exact top-k cosine neighbors of `queries` (id + float/double array
    * vector column) within `corpus` (same shape). Queries are broadcast;
    * the corpus is streamed once.
    */
  def knnExact(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int = 5): DataFrame = {
    val s = corpus.sparkSession
    def normed(df: DataFrame, pid: String, pv: String, pn: String) =
      df.select(col(id).as(pid), col(vec).as(pv),
        sqrt(NativeExprs.dot(s, col(vec), col(vec))).as(pn))
    val q = normed(queries, "qid", "qv", "qn")
    val w = Window.partitionBy(col("qid")).orderBy(desc("cos"), col("nid"))
    normed(corpus, "nid", "nv", "nn")
      .crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos",
        NativeExprs.dot(s, col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }

  /** Radius similarity search: every corpus vector within cosine ≥
    * `minCos` of each query (the faiss range_search shape). Queries are
    * broadcast; the corpus streams once. Returns (qid, nid, cos).
    */
  def rangeSearch(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, minCos: Double = 0.35): DataFrame = {
    val s = corpus.sparkSession
    def normed(df: DataFrame, pid: String, pv: String, pn: String) =
      df.select(col(id).as(pid), col(vec).as(pv),
        sqrt(NativeExprs.dot(s, col(vec), col(vec))).as(pn))
    normed(corpus, "nid", "nv", "nn")
      .crossJoin(broadcast(normed(queries, "qid", "qv", "qn")))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos",
        NativeExprs.dot(s, col("qv"), col("nv")) / (col("qn") * col("nn")))
      .filter(col("cos") >= minCos)
      .select(col("qid"), col("nid"), col("cos"))
  }

  /** Vectors least similar to their own label's centroid — the
    * label-noise review list. Returns the bottom-k (id, label, cos).
    */
  def labelOutliers(df: DataFrame, idCol: String, labelCol: String,
      vecCol: String, k: Int = 20): DataFrame =
    graft.operators.SimOps.labelOutliersOn(df.sparkSession,
      df.select(col(idCol).as("vec_id"), col(labelCol).as("label"),
        transform(col(vecCol), _.cast("double")).as("v")), k)

  /** MMR diversified top-k: greedy re-rank of each query's
    * `shortlist`-sized cosine shortlist maximizing λ·relevance −
    * (1−λ)·max-similarity-to-picked. Returns (qid, step, nid, mmr);
    * step 1's mmr is the raw relevance. Everything past the shortlist
    * scan is per-query bounded (shortlist² pair sims, one argmax window
    * per step).
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, shortlist: Int = 12, k: Int = 5,
      lambda: Double = 0.7): DataFrame =
    graft.operators.SimOps.mmrRerankOn(corpus.sparkSession,
      corpus.select(col(id).as("nid"), col(vec).as("ne")),
      queries.select(col(id).as("qid"), col(vec).as("qe")),
      shortlist, k, lambda)

  // ------------------------------------------------------ rank / sampling

  /** Exact 1-based global rank over a total order — distributed (range
    * partition + per-partition offsets; no single-task sort, no approx
    * sketch). `sortCols` must define a total order (include a unique
    * tiebreaker). Output: input columns + `rank`.
    */
  def withGlobalRank(df: DataFrame, sortCols: Seq[String]): DataFrame =
    graft.operators.WindowOps
      .withExactGlobalRank(df, sortCols.map(col))._1
      .withColumnRenamed("r", "rank")

  /** EXACT percentile values of `valueCol`: the value at rank ceil(p·n/100)
    * for each p. `tiebreakers` complete the total order among equal values.
    * The reproducible-to-the-bit alternative to approx_percentile.
    *
    * Distributed order-statistic selection: range-partition, count rows
    * per partition (bounded driver collect), then sort ONLY the partitions
    * that contain a target rank — at k requested quantiles that is ≤ k
    * partitions touched past the shuffle, regardless of data size.
    */
  def exactQuantiles(df: DataFrame, valueCol: String,
      tiebreakers: Seq[String], percents: Seq[Int] = Seq(25, 50, 75, 95))
      : DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val sortCols = (valueCol +: tiebreakers).map(col)
    // localCheckpoint: the range partitioning feeds two jobs (counts +
    // selection); resampling between them would invalidate the offsets
    val base = df.select(sortCols: _*).repartitionByRange(sortCols: _*)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val perPart = base.groupBy(col("pid")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = perPart.map(_._1)
      .zip(perPart.map(_._2).scanLeft(0L)(_ + _)).toMap
    val n = perPart.map(_._2).sum
    val targets = percents.map(p => (p, math.ceil(p * n / 100.0).toLong))
    val wanted = perPart.filter { case (pid, c) =>
      val off = offsets(pid)
      targets.exists { case (_, r) => r > off && r <= off + c }
    }.map(_._1)
    val offCol = wanted.foldLeft(lit(0L)) { case (acc, pid) =>
      when(col("pid") === pid, lit(offsets(pid))).otherwise(acc)
    }
    val w = Window.partitionBy(col("pid")).orderBy(sortCols: _*)
    val ranked = base.filter(col("pid")
        .isin(wanted.toIndexedSeq.map(x => x: Any): _*))
      .withColumn("r", row_number().over(w).cast("long") + offCol)
    ranked.join(broadcast(targets.toDF("pct", "r")), Seq("r"))
      .select(col("pct"), col("r").as("pos"), col(valueCol).as("value"))
      .orderBy(col("pct"))
  }

  /** Deterministic per-stratum sampling (the training data-MIXING step):
    * keep a row iff hash(id) mod 1000 < the stratum's per-mille keep rate.
    * The hash is wrap-safe multiplicative (replayable in any engine), so
    * the mix is stable across re-runs, backfills and engines. `idCol`
    * must be numeric and unique — AND its values mod 1000 must be
    * unstructured: the multiplicative hash is a bijection on id mod 1000,
    * so selection is a residue-class filter (unbiased for dense or
    * sequential ids; ids striped with a period dividing 1000 would bias
    * the mix — use xxhash64(id) % 1000 instead if engine-replayability
    * isn't needed; see the note on FilterOps.sampleHash).
    */
  def sampleByStratum(df: DataFrame, idCol: String, stratumCol: String,
      keepPerMille: Map[String, Long],
      defaultPerMille: Long = 1000L): DataFrame =
    df.filter(pmod(pmod(col(idCol), lit(1000)) * lit(761L), lit(1000)) <
      coalesce(element_at(typedLit(keepPerMille), col(stratumCol)),
        lit(defaultPerMille)))

  /** Deterministic reservoir sample of EXACTLY k rows per group (vs
    * [[sampleByStratum]]'s rate-based thinning): the bottom-k by a
    * seeded affine priority mod 2³¹−1 — the associative form of the
    * classic sequential reservoir ([[graft.functions.ReservoirK]]; a
    * coin-flip Algorithm R would depend on partition order, which Spark
    * does not contract). O(k) state per (group, partition), map-side
    * combined; a different `seed` draws a different (still
    * deterministic) sample. `idCol` must be unique per row (the total
    * tiebreak). Returns (groupCols..., h, id); groups with fewer than k
    * rows return all of them.
    */
  def reservoirSample(df: DataFrame, groupCols: Seq[String], idCol: String,
      k: Int, seed: Long = 0L): DataFrame =
    graft.operators.ReduceOps.reservoirOn(df, groupCols, col(idCol), k,
      seed)

  /** The END-TO-END corpus pipeline over any (id, text, stratum) frame —
    * the five-stage composition PipelineOps proves against a DuckDB
    * oracle, parameterized for application data: token-count quality
    * gate → exact dedup (keep the minimum id per normalized content) →
    * near-dedup (drop rows with a smaller-id Jaccard ≥ `threshold`
    * near-duplicate; candidates from the exact prefix-filtered join,
    * never all-pairs) → temperature mixing (keep-rate ∝ (n_min/n)^alpha
    * per stratum, derived from survivor counts) → train/val/test split
    * (80/10/10). Returns (id, stratum, split) for the shipped rows.
    *
    * Mix and split use different coprime hash multipliers so the split
    * bands are not a function of the mix cut; `idCol` must be numeric
    * and unique, with the [[sampleByStratum]] residue-class caveat.
    */
  def corpusPipeline(df: DataFrame, id: String, text: String,
      stratumCol: String, minTokens: Int = 20, threshold: Double = 0.3,
      alpha: Double = 0.5): DataFrame = {
    val base = df.select(col(id).as("doc_id"),
      col(stratumCol).cast("string").as("stratum"), col(text).as("text"))
    val quality = base.filter(size(toks("text")) >= minTokens)
    val fped = quality.withColumn("fp",
      md5(graft.operators.TextOps.normalizedText(col("text"))))
    val exact = fped.join(
        fped.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id")),
        Seq("fp", "doc_id"), "left_semi")
      .drop("fp")
    val dropped = graft.operators.DedupOps.blockedJaccardPairs(
        exact.select(col("doc_id"), col("stratum").as("lang"),
          lit("").as("source"), col("text")), threshold)
      .select(col("b").as("doc_id")).distinct()
    val survivors = exact.join(dropped, Seq("doc_id"), "left_anti")
    val counts = survivors.groupBy(col("stratum")).agg(count(lit(1)).as("n"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(min(col("n")).as("nmin"))))
      .select(col("stratum"),
        floor(lit(1000.0) *
          pow(col("nmin").cast("double") / col("n"), alpha))
          .cast("long").as("rate"))
    val h503 = pmod(pmod(col("doc_id"), lit(1000)) * lit(503L), lit(1000))
    val h761 = pmod(pmod(col("doc_id"), lit(1000)) * lit(761L), lit(1000))
    survivors.join(broadcast(rates), Seq("stratum"))
      .filter(h503 < col("rate"))
      .select(col("doc_id").as("id"), col("stratum"),
        when(h761 < 800, lit("train")).when(h761 < 900, lit("val"))
          .otherwise(lit("test")).as("split"))
  }

  /** TOKEN-BUDGET temperature mixing over any frame: keep rows so each
    * stratum's token mass approaches target ∝ √(stratum tokens), with a
    * global budget of (total tokens)/`budgetDiv` — the α = ½ multilingual
    * mixing rule provisioned in tokens rather than documents. Returns
    * the input rows that survive, original schema intact. Deterministic
    * per-mille keep-rates over the shared multiplicative hash (the
    * [[sampleByStratum]] residue-class caveat applies); the rate
    * derivation is exact 128-bit integer arithmetic, identical to the
    * oracle-checked filter_mix_token_budget query.
    */
  def mixByTokenBudget(df: DataFrame, idCol: String, textCol: String,
      stratumCol: String, budgetDiv: Int = 4): DataFrame = {
    require(budgetDiv >= 1, s"budgetDiv must be positive, got $budgetDiv")
    val withTok = df.withColumn("__tok",
      size(split(col(textCol), " ")).cast("long"))
    val per = withTok
      .groupBy(col(stratumCol).cast("string").as("__st"))
      .agg(sum(col("__tok")).as("t"),
        floor(sqrt(sum(col("__tok")).cast("double"))).cast("long").as("sq"))
    val tot = per.agg(sum(col("t")).as("tt"), sum(col("sq")).as("ss"))
    val rates = per.crossJoin(broadcast(tot))
      .select(col("__st"), col("t"),
        expr(s"""CAST((CAST(tt AS DECIMAL(38,0)) * sq)
                  DIV (CAST($budgetDiv AS DECIMAL(38,0)) * ss) AS BIGINT)""")
          .as("__target"))
      .select(col("__st"),
        least(lit(1000L),
          expr("""CAST((CAST(1000 AS DECIMAL(38,0)) * __target)
                   DIV CAST(t AS DECIMAL(38,0)) AS BIGINT)""")).as("__rate"))
    withTok
      .join(broadcast(rates),
        col(stratumCol).cast("string") === col("__st"))
      .filter(pmod(pmod(col(idCol), lit(1000)) * lit(761L), lit(1000)) <
        col("__rate"))
      .drop("__tok", "__st", "__rate")
  }

  /** TARGET-SHARE MIXING REPORT over any frame — the reweighting step a
    * pretraining rollout tunes: given per-stratum target TOKEN shares
    * (per-mille), report each stratum's deterministic sampling rate and
    * the achieved mix. The budget is the largest token mass servable
    * WITHOUT upsampling (B = min_s ⌊1000·t_s/share_s⌋ — the binding
    * stratum samples at ~full rate); selection is the shared wrap-safe
    * multiplicative hash, so the mix replays across engines, re-runs
    * and backfills ([[sampleByStratum]] residue-class caveat on
    * `idCol`). One row per stratum: (lang = the stratum, total_tokens,
    * target_permille, wanted_tokens, rate, n_kept, kept_tokens,
    * achieved_permille). Strata absent from `targetsPermille` are
    * dropped — a mixing config names every source it ships. All
    * integer floor-division in 128-bit forms; the oracle-checked
    * filter_mix_reweight query is this exact derivation.
    */
  def mixTargetReport(df: DataFrame, idCol: String, textCol: String,
      stratumCol: String,
      targetsPermille: Map[String, Long]): DataFrame =
    graft.operators.FilterOps.mixReweightOn(df, idCol, textCol,
      stratumCol, targetsPermille.toSeq.sortBy(_._1))

  /** DATA-CONSTRAINED BUDGET PLANNER (water-filling under repeat caps):
    * given a total training-token budget, per-stratum target shares
    * (per-mille), and a maximum repeat factor (capPermille; 1500 =
    * at most 1.5 epochs of any source), allocate the budget —
    * proportionally each round among uncapped strata, capping
    * overdrawn ones and redistributing their excess the next round.
    * Returns per stratum: tokens, share, cap, allocated tokens,
    * epochs_permille (1000 = one full pass), and whether the cap
    * bound. Set `rounds` ≥ the number of strata for guaranteed
    * convergence (each round caps at least one stratum or reaches the
    * fixpoint). All integer floor division — deterministic and
    * backfill-stable.
    */
  def budgetPlan(df: DataFrame, textCol: String, stratumCol: String,
      targetsPermille: Map[String, Long], budget: Long,
      capPermille: Int = 1500, rounds: Int = 8): DataFrame =
    graft.operators.FilterOps.budgetPlanOn(df, textCol, stratumCol,
      targetsPermille.toSeq.sortBy(_._1), budget, capPermille, rounds)

  /** Corpus-relative rarity score per document: mean inverse document
    * frequency over the document's tokens in integral per-mille units
    * (each token contributes (1000·n_docs) DIV df). High = rare/garbage
    * vocabulary, low = boilerplate — the model-free stand-in for an
    * LM-perplexity quality filter. The vocabulary joins by term
    * equi-join (never a driver broadcast), so it scales with the corpus.
    */
  def rarityScores(df: DataFrame, id: String, text: String): DataFrame = {
    val base = df.select(col(id).as("id"), col(text).as("text"))
    val nDf = base.agg(count(lit(1)).as("n_docs"))
    val terms = base.select(col("id"), explode(toks("text")).as("term"))
    val df_ = terms.distinct().groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    terms.join(df_, "term").crossJoin(broadcast(nDf))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(expr("(1000L * n_docs) DIV df")).as("__u"))
      .select(col("id"), col("n_toks"),
        expr("__u DIV n_toks").as("rarity_units"))
  }

  /** Route binary payloads through the real pure-JVM media decoders
    * (PCM WAV, binary PPM/PGM, plus header-only dimensions for
    * PNG/JPEG/GIF/BMP): returns (asset_id, format, decoded, feat_a,
    * feat_b, feat_c) per [[graft.operators.MultimodalOps.decodeMediaOn]].
    * Total over malformed bytes — corrupt payloads yield decoded=false
    * rows, never task failures.
    */
  def decodeMedia(df: DataFrame, idCol: String, payloadCol: String)
      : DataFrame =
    graft.operators.MultimodalOps.decodeMediaOn(df.sparkSession,
      df.select(col(idCol).as("asset_id"), col(payloadCol).as("payload")))

  /** Windowed audio ENERGY features over PCM16 WAV payloads — the table
    * VAD / loudness-normalization / clip-detection stages read: one row
    * per (asset, window of `window` samples) with the exact integral
    * Σ amplitude² , its sample count, and the derived RMS. Non-WAV,
    * non-16-bit or malformed payloads contribute no rows (total
    * decoder), so one bad asset can never fail the stage. Returns
    * (asset_id, win, sum_sq, n_samples, rms).
    */
  def audioEnergyWindows(df: DataFrame, idCol: String,
      payloadCol: String, window: Int = 1024): DataFrame =
    graft.operators.MultimodalOps.audioEnergyOn(df.sparkSession,
      df.select(col(idCol).as("asset_id"), col(payloadCol).as("payload")),
      window)

  // ------------------------------------------------------- event analytics

  /** Strictly-ordered conversion funnel over any event frame, for an
    * arbitrary ordered step list: a user converts step k only with an
    * event STRICTLY after their step-(k−1) time. Returns (step,
    * n_users) with steps labeled `1_<name>`, `2_<name>`, … One shuffle
    * regardless of step count (chained window minimums).
    */
  def funnel(df: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String],
      horizonMicros: Option[Long] = None): DataFrame =
    graft.operators.EventOps.funnelOn(
      df.select(col(userCol).as("user_id"), col(typeCol).as("event_type"),
        col(tsCol).as("ts")), steps, horizonMicros)

  /** Conversion latency between consecutive funnel steps over any event
    * frame: (transition, n_users, min_s, median_s, max_s) with an exact
    * lower-middle median in whole seconds.
    */
  def timeToConvert(df: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String]): DataFrame =
    graft.operators.EventOps.timeToConvertOn(
      df.select(col(userCol).as("user_id"), col(typeCol).as("event_type"),
        col(tsCol).as("ts")), steps)

  /** User-lifetime survival curve over any (key, ts) event frame:
    * lifetime = whole days between a key's first and last event,
    * S(t) = share of keys with lifetime ≥ t at every observed lifetime.
    * Returns (lifetime_days, n_users_at_least, survival_permille).
    */
  def survivalCurve(df: DataFrame, keyCol: String,
      tsCol: String): DataFrame =
    graft.operators.EventOps.survivalOn(
      df.select(col(keyCol).as("user_id"), col(tsCol).as("ts")))

  /** Weekly cohort retention triangle over any event frame: cohort =
    * week of each user's first event (integer days since `epoch`),
    * offset = whole weeks since that first day. Returns (cohort_week,
    * week_offset, n_users).
    */
  def cohortRetention(df: DataFrame, userCol: String, tsCol: String,
      epoch: String = "2024-01-01"): DataFrame =
    graft.operators.EventOps.cohortRetentionOn(
      df.select(col(userCol).as("user_id"), col(tsCol).as("ts")), epoch)

  /** Per-user next-event transition matrix over any event frame; ties
    * on the timestamp break by `seqCol`. Returns (event_type,
    * next_type, n) with '(end)' terminal rows.
    */
  def transitions(df: DataFrame, userCol: String, typeCol: String,
      tsCol: String, seqCol: String): DataFrame =
    graft.operators.EventOps.transitionsOn(
      df.select(col(userCol).as("user_id"), col(typeCol).as("event_type"),
        col(tsCol).as("ts"), col(seqCol).as("event_id")))

  /** Stationary distribution of the per-key behavior Markov chain:
    * transition counts from consecutive (tsCol, seqCol)-ordered events,
    * a uniform integer-micro-unit start vector, and `rounds`
    * power-iteration rounds of exact `units·cnt DIV tot` mass pushes
    * (replayable — no float summation order in the chain). Returns
    * (event_type, stat_units) sorted by long-run mass.
    */
  def markovStationary(df: DataFrame, keyCol: String, typeCol: String,
      tsCol: String, seqCol: String, rounds: Int = 4): DataFrame =
    graft.operators.EventOps.markovStationaryOn(
      df.select(col(keyCol).as("user_id"), col(typeCol).as("event_type"),
        col(tsCol).as("ts"), col(seqCol).as("event_id")), rounds)

  /** Time-decayed engagement score per key over any (key, ts, value)
    * frame: each event's milli-unit value halves per `halfLifeDays` of
    * age against the frame's newest timestamp. Values must be
    * non-negative (the integral floor-division identity). Returns
    * (key, n_events, raw_units, decay_units) by descending decayed mass.
    */
  def decayScore(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, halfLifeDays: Int = 7): DataFrame =
    graft.operators.EventOps.decayScoreOn(
      df.select(col(keyCol).as("event_type"), col(tsCol).as("ts"),
        col(valueCol).as("value")), halfLifeDays)
      .withColumnRenamed("event_type", keyCol)

  /** Expected remaining events before the per-key sequence ends, per
    * starting state: t = 1 + P_live·t iterated `rounds` times in exact
    * integer micro-units over the observed transition matrix with the
    * sequence end as the absorbing state. Returns (event_type,
    * exp_steps_units) by descending expectation.
    */
  def markovAbsorption(df: DataFrame, keyCol: String, typeCol: String,
      tsCol: String, seqCol: String, rounds: Int = 8): DataFrame =
    graft.operators.EventOps.markovAbsorptionOn(
      df.select(col(keyCol).as("user_id"), col(typeCol).as("event_type"),
        col(tsCol).as("ts"), col(seqCol).as("event_id")), rounds)

  // ----------------------------------------------------------------- text

  /** Per-document quality features + composite score. */
  def qualityScore(df: DataFrame, id: String, text: String,
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in"))
      : DataFrame = {
    val w = toks(text)
    df.select(col(id),
        length(col(text)).as("n_chars"), w.as("w"))
      .select(col(id),
        size(col("w")).as("n_tokens"),
        (size(array_distinct(col("w"))).cast("double") / size(col("w")))
          .as("type_token_ratio"),
        (size(filter(col("w"), t => t.isin(stopwords.map(x => x: Any): _*)))
          .cast("double") / size(col("w"))).as("stopword_ratio"),
        (col("n_chars").cast("double") / size(col("w")))
          .as("chars_per_token"))
      .withColumn("quality",
        col("type_token_ratio") * 2.0 + col("stopword_ratio") * 1.0 +
          col("chars_per_token") * 0.1)
  }

  /** Content fingerprints of whitespace-normalized text. */
  def fingerprints(df: DataFrame, id: String, text: String): DataFrame = {
    val normalized = graft.operators.TextOps.normalizedText(col(text))
    df.select(col(id), md5(normalized).as("fp_md5"),
      substring(sha2(normalized, 256), 1, 16).as("fp64"))
  }

  /** PII-style masking: digit runs and id-like tokens replaced by
    * placeholder tags, with per-row match counts.
    */
  def redact(df: DataFrame, id: String, text: String): DataFrame = {
    val idLike = "[a-z]+[0-9]+[a-z0-9]*"
    df.select(col(id),
      size(expr(s"regexp_extract_all($text, '$idLike', 0)")).as("n_idlike"),
      size(expr(s"regexp_extract_all(regexp_replace($text, '$idLike', " +
        "'<ID>'), '[0-9]+', 0)")).as("n_nums"),
      regexp_replace(regexp_replace(col(text), idLike, "<ID>"),
        "[0-9]+", "<NUM>").as("masked"))
  }

  /** Repeated-trigram boilerplate ratio per document (0 = all distinct). */
  def repetitionRatio(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id),
        graft.operators.TextOps.shingles3(toks(text)).as("tg"))
      .select(col(id), size(col("tg")).as("n_trigrams"),
        size(array_distinct(col("tg"))).as("n_distinct"))
      .withColumn("repetition_ratio",
        when(col("n_trigrams") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_trigrams"))
          .otherwise(lit(0.0)))

  /** Sliding-window chunking (the RAG / pretraining chunker): explode each
    * doc into overlapping `window`-token chunks at `stride`, addressed by
    * (id, chunk_idx) deterministically — re-chunking after a backfill
    * yields identical ids. Output keeps the chunk's token array.
    */
  def chunkDocuments(df: DataFrame, id: String, text: String,
      window: Int = 50, stride: Int = 25): DataFrame = {
    val w = toks(text)
    df.select(col(id), w.as("w"), size(w).as("n"))
      .filter(col("n") > 0)
      .select(col(id), col("w"), col("n"),
        explode(sequence(lit(0), col("n") - 1, lit(stride))).as("st"))
      .select(col(id),
        (col("st") / stride).cast("int").as("chunk_idx"),
        slice(col("w"), col("st") + 1, lit(window)).as("chunk_tokens"),
        least(lit(window), col("n") - col("st")).as("n_chunk_tokens"))
  }

  /** Whitespace / alpha / BPE-ish token counts per document. */
  def tokenCounts(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id),
      size(toks(text)).as("n_tokens"),
      size(expr(s"regexp_extract_all($text, '[a-z]+', 0)"))
        .as("n_alpha_tokens"),
      size(expr(s"regexp_extract_all($text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .as("n_bpe_tokens"))

  // ------------------------------------------------------------ analytics

  /** 3σ outliers per key, decided in exact integer micro-units (no float
    * compare — see AggOps.zscoreOutliersOn). Returns the top-5 deviants
    * per key as (key, rank, id, value_micro, side).
    */
  def outliers(df: DataFrame, keyCol: String, idCol: String,
      valueCol: String): DataFrame =
    graft.operators.AggOps.zscoreOutliersOn(
      df.select(col(keyCol).as("event_type"), col(idCol).as("event_id"),
        col(valueCol).as("value")))
      .select(col("event_type").as("key"), col("rank"),
        col("event_id").as("id"), col("value_micro"), col("side"))

  /** Per-(key, hour) OHLC resampling bars; first/last pinned by
    * (ts, id) so equal timestamps resolve deterministically. Returns
    * (key, w_start, open, high, low, close, n, sum_v).
    */
  def ohlc(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String): DataFrame =
    graft.operators.StreamOps.ohlcOn(
      df.select(col(keyCol).as("event_type"), col(tsCol).as("ts"),
        col(idCol).as("event_id"), col(valueCol).as("value")))
      .withColumnRenamed("event_type", "key")

  /** Modal value per group, ties toward the smallest value. Returns
    * (group, mode_value, n).
    */
  def modeBy(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    graft.operators.AggOps.modeOn(
      df.select(col(groupCol).as("source"), col(valueCol).as("lang")))
      .select(col("source").as("group"), col("mode_lang").as("mode_value"),
        col("n"))

  /** One-scan data-quality profile of the named columns: per column,
    * (column_name, n_rows, n_distinct, n_nulls). Exact distinct counts —
    * swap in approx_count_distinct for 100 TB feeds.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame =
    graft.operators.IoOps.profileOn(df, cols)

  /** Entity resolution over a dirty string column: edit-distance
    * blocking+verify (deletion neighborhoods / PassJoin) at `maxDist`,
    * transitive closure into entities, canonical = minimum id. Returns
    * one row per multi-record entity: (entity_id, n_members, max_member,
    * canonical_value).
    */
  def linkEntities(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 1): DataFrame = {
    val feed = df.select(col(idCol).as("id"), col(strCol).as("str"))
    val pairs = graft.operators.JoinOps
      .editDistancePairsOn(feed, "id", "str", maxDist)
    graft.operators.DedupOps.clusterPairsOn(pairs)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"), max(col("doc_id")).as("max_member"))
      .join(feed.select(col("id").as("cluster_id"),
        col("str").as("canonical_value")), Seq("cluster_id"))
      .select(col("cluster_id").as("entity_id"), col("n_members"),
        col("max_member"), col("canonical_value"))
      .orderBy(col("entity_id"))
  }

  /** Cross-doc repeated 5-gram spans (the exact-substring dedup marker):
    * (id, n_grams, n_repeated, n_spans, covered_tokens); zeros pass
    * through for clean docs.
    */
  def repeatedSpans(df: DataFrame, id: String, text: String): DataFrame =
    graft.operators.TextOps.repeatedSpansOn(
      df.select(col(id).as("doc_id"), col(text).as("text")))
      .withColumnRenamed("doc_id", id)

  /** Integral bigram-continuation fluency score per document — the
    * deterministic stand-in for LM-perplexity filtering. Returns
    * (id, n_bigrams, fluency_permille); single-token docs are absent.
    */
  def bigramFluency(df: DataFrame, id: String, text: String): DataFrame =
    graft.operators.TextOps.bigramFluencyOn(
      df.select(col(id).as("doc_id"), col(text).as("text")))
      .withColumnRenamed("doc_id", id)

  /** Unigram cross-entropy of every document under the corpus's own
    * unigram LM (the CCNet-family quality filter): (id, n_tokens,
    * nll_units, xent_nats), nll in integral micro-nats. High = rare-token
    * salad, low = boilerplate; unlike [[rarityScores]] (doc-frequency
    * weighted) every repeated occurrence pays its token's surprisal.
    */
  def unigramCrossEntropy(df: DataFrame, id: String,
      text: String): DataFrame =
    graft.operators.TextOps.unigramXentOn(
      df.select(col(id).as("doc_id"), col(text).as("text")))
      .withColumnRenamed("doc_id", id)

  /** Per-doc BIGRAM log-perplexity under the corpus's own first-order
    * LM — the fluency quality filter one level above
    * [[unigramCrossEntropy]]: each doc's mean negative log MLE
    * conditional ln p(w_i | w_{i-1}) in nats. High = improbable
    * word-to-word transitions (garbled/boilerplate/wrong-language
    * docs). Docs with < 2 tokens carry no bigram and drop. Returns
    * (id, n_bigrams, nll_units, xent_nats), nll in integral micro-nats.
    */
  def bigramPerplexity(df: DataFrame, id: String, text: String): DataFrame =
    graft.operators.TextOps.docPerplexityOn(
      df.select(col(id).as("doc_id"), lit("").as("lang"),
        col(text).as("text")))
      .drop("lang").withColumnRenamed("doc_id", id)

  /** Quality filter FUNNEL over any (id, text) corpus: the ordered
    * rule chain (too_short → low_diversity → token_dominance →
    * low_fluency) with first-failing-rule attribution — per rule
    * (rule_rank, rule, n_failed, n_remaining), so the rows answer
    * "which gate costs how much corpus" without double counting.
    * Every comparison runs in exact integers; the fluency rule is the
    * [[bigramPerplexity]] LM at 3.45 nats.
    */
  def qualityFunnel(df: DataFrame, id: String, text: String): DataFrame =
    graft.operators.TextOps.qualityFunnelOn(df.sparkSession,
      df.select(col(id).as("doc_id"), lit("").as("lang"),
        col(text).as("text")))

  /** QUALITY CUTOFF SWEEP over any corpus: per candidate fluency cutoff
    * (mean bigram cross-entropy under the corpus's own LM, micro-nats),
    * the docs and tokens a drop-above-cutoff policy removes vs keeps —
    * the instrument that turns "pick a perplexity threshold" into a
    * measured elbow. The corpus is LM-scored ONCE; each cutoff
    * re-aggregates the same bounded per-doc frame. Docs with < 2 tokens
    * cannot be scored and pass every cutoff. Integer-exact drop test.
    */
  def qualityTradeoff(df: DataFrame, idCol: String, textCol: String,
      cutoffsMicronats: Seq[Long] =
        graft.operators.TextOps.TradeoffCutoffs): DataFrame =
    graft.operators.TextOps.qualityTradeoffOn(df.sparkSession,
      df.select(col(idCol).as("doc_id"), lit("").as("lang"),
        col(textCol).as("text")), cutoffsMicronats)

  /** EXACT-SUBSTRING SCRUB (Lee et al.): remove every 5-gram span whose
    * gram already occurred earlier in corpus order (idCol, position) —
    * the FIRST occurrence of each duplicated substring survives, later
    * copies are cut from the text. Returns one row per doc:
    * (doc_id, n_tokens, n_kept, n_cut, kept_text); untouched docs pass
    * through verbatim with n_cut = 0. First-occurrence selection is a
    * partial-aggregable min per gram (no per-gram window), so a
    * boilerplate gram repeated millions of times at 100 TB costs a
    * combiner-side min, not a single-task sort.
    */
  def scrubRepeatedSpans(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    graft.operators.TextOps.spanScrubOn(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")))

  /** WINNOWING FINGERPRINTS (SIGMOD'03 MOSS): per-doc selected k-gram
    * hashes — one row (doc_id, selpos, selh) per selected position,
    * where each sliding window of 4 consecutive 3-gram hashes selects
    * its rightmost minimum. Any ≥6-token substring two docs share
    * yields at least one shared selh (the winnowing guarantee), at
    * ~2/(w+1) selection density — join two corpora on selh for
    * position-robust copy detection where whole-doc hashing flips on a
    * single edit. Linear: one hash pass + one per-doc window.
    */
  def winnowFingerprints(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    graft.operators.TextOps.winnowSelectOn(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")))

  /** Dedup THRESHOLD SENSITIVITY sweep over any scored near-dup pair
    * frame (`aCol`, `bCol`, `simCol` in [0,1]) and a doc frame for
    * token accounting: one row per τ (per-mille) with the pair count
    * at or above τ, docs linked, connected components, and the docs
    * and tokens keep-min survivorship would drop. The instrument a
    * curation rollout tunes its cutoff against — τ too low merges
    * distinct docs (tokens_dropped explodes), τ too high leaves
    * near-dups unlinked. Pairs are filtered once per τ from the same
    * frame (build the expensive pair table once); each τ runs the
    * O(log d) star-contraction CC on a shrinking subgraph.
    *
    * Contract: `docs` should cover every id appearing in `pairs`. Ids
    * missing from `docs` still count in n_docs_linked / n_clusters /
    * n_dropped (left join inside) but contribute 0 tokens — they stay
    * visible in the counts rather than silently vanishing.
    */
  def dedupThresholdReport(pairs: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, aCol: String = "a",
      bCol: String = "b", simCol: String = "jaccard",
      tausPermille: Seq[Int] = Seq(300, 450, 600, 750, 900)): DataFrame =
    graft.operators.DedupOps.thresholdReportOn(
      pairs.select(col(aCol).as("a"), col(bCol).as("b"),
        col(simCol).as("jaccard")),
      docs.select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ")).cast("long").as("n_tok")),
      tausPermille)

  /** Learn the top-k BPE merges from any text column: one corpus pass
    * builds the word-frequency table, then k rounds of most-frequent-
    * adjacent-pair merging run on the vocabulary-bounded frame
    * (deterministic tie-breaks). Returns (merge_rank, left, right,
    * pair_count) — the merge list a tokenizer trainer ships.
    */
  def bpeMerges(df: DataFrame, textCol: String, k: Int = 8): DataFrame =
    graft.operators.TextOps.bpeMergesOn(df.sparkSession,
      df.select(explode(split(col(textCol), " ")).as("word")), k)

  /** Encode a text column with a learned merge list ([[bpeMerges]]
    * output order): each word decomposes to characters and the merges
    * replay left-to-right in rank order, entirely row-local. Adds
    * `bpe_tokens` and `n_bpe_tokens` columns.
    */
  def bpeTokenize(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    graft.operators.TextOps.bpeApplyOn(df, textCol, merges)

  /** Top-k collocations by PMI over any text column: word pairs
    * co-occurring above chance (count ≥ minCount against the rare-pair
    * bias), micro-quantized for exact ranking. Returns (bigram, c_ab,
    * pmi_micro).
    */
  def collocations(df: DataFrame, textCol: String, minCount: Long = 3,
      k: Int = 20): DataFrame =
    graft.operators.TextOps.collocationsOn(
      df.select(col(textCol).as("text")), minCount, k)

  /** Zipf rank–frequency slope per group over any (group, text) frame:
    * log-log OLS over each group's top-`topK` term frequencies, with
    * both axes quantized to exact integer micro-nats so the slope is one
    * double division of exact moments. Natural language fits ≈ −1;
    * boilerplate flattens toward 0. Returns (group, n_terms,
    * zipf_slope); a single-term group has nothing to fit → NaN.
    */
  def zipfSlope(df: DataFrame, groupCol: String, textCol: String,
      topK: Int = 100): DataFrame =
    graft.operators.TextOps.zipfSlopeOn(
      df.select(col(groupCol).as("grp"), col(textCol).as("text")),
      "grp", topK)
      .withColumnRenamed("grp", groupCol)

  /** Integral EWMA (α = 1/4) of the hourly sum series per key over any
    * (key, ts, value) frame: (key, w_start, sum_units, ewma_units) in
    * micro-units via the exact integer recurrence eₕ = (sₕ + 3·eₕ₋₁)
    * div 4 — deterministic, no float accumulation drift. Values must be
    * non-negative (floor-division identity across engines).
    */
  def ewma(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame =
    graft.operators.StreamOps.ewmaOn(
      df.select(col(keyCol).as("event_type"), col(tsCol).as("ts"),
        col(valueCol).as("value")))
      .withColumnRenamed("event_type", keyCol)

  /** Holt linear trend (double exponential smoothing, α = β = 1/4) of
    * the hourly sum series per key: (key, w_start, sum_units,
    * level_units, trend_units, forecast_units) in exact micro-units via
    * arithmetic-shift floor division — valid on falling series (negative
    * trend), no non-negativity contract. The trend-aware upgrade of
    * [[ewma]] for ramp-shaped load.
    */
  def holt(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame =
    graft.operators.StreamOps.holtOn(
      df.select(col(keyCol).as("event_type"), col(tsCol).as("ts"),
        col(valueCol).as("value")))
      .withColumnRenamed("event_type", keyCol)

  /** One-step-ahead backtest of [[holt]]'s hourly forecasts after a
    * 24-hour warm-up: per key, micro-unit absolute-error sums for Holt
    * and the persistence baseline, plus skill_permille =
    * 1000·(1 − MAE_holt/MAE_naive) (floor). Positive = the smoother
    * beats "next hour equals this hour".
    */
  def holtBacktest(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame =
    graft.operators.StreamOps.holtBacktestOn(
      df.select(col(keyCol).as("event_type"), col(tsCol).as("ts"),
        col(valueCol).as("value")))
      .withColumnRenamed("event_type", keyCol)

  /** Hours whose raw sum deviates from the PRIOR hour's EWMA baseline by
    * ≥ thresholdPermille (integral rule over [[ewma]]'s series — the
    * baseline excludes the hour under test). Returns (key, w_start,
    * sum_units, baseline_units, dev_permille).
    */
  def anomalies(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, thresholdPermille: Long = 3000L): DataFrame =
    graft.operators.StreamOps.anomalyOn(
      df.select(col(keyCol).as("event_type"), col(tsCol).as("ts"),
        col(valueCol).as("value")), thresholdPermille)
      .withColumnRenamed("event_type", keyCol)

  // ------------------------------------------------------ time-series joins

  /** As-of join: match each left row to the LATEST right row with the
    * same key and right ts ≤ left ts (ties count as matches). Returns
    * (idCol, keyCol, tsCol, asof_<pickCol>). The union + last-non-null
    * ordered-window idiom: one shuffle on the key, one in-partition sort
    * — never a range cross product. Among equal-ts right rows the
    * largest pickCol wins (deterministic).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, idCol: String, pickCol: String): DataFrame = {
    val l = left.select(col(keyCol).as("k"), col(tsCol).as("t"),
      col(idCol).as("lid"), lit(null).cast("long").as("pick"),
      lit(1).as("is_left"))
    val r = right.select(col(keyCol).as("k"), col(tsCol).as("t"),
      lit(null).cast(left.schema(idCol).dataType).as("lid"),
      col(pickCol).cast("long").as("pick"), lit(0).as("is_left"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
      .orderBy(col("t"), col("is_left"), col("pick"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    l.unionByName(r)
      .withColumn("asof", last(col("pick"), ignoreNulls = true).over(w))
      .filter(col("is_left") === 1)
      .select(col("lid").as(idCol), col("k").as(keyCol),
        col("t").as(tsCol), col("asof").as(s"asof_$pickCol"))
  }

  /** Lag-gap sessionization over any (key, id, ts) frame: contiguous
    * activity runs per key, cut when the gap STRICTLY exceeds gapUs.
    * Returns (keyCol, session_id, start_us, end_us) in exact integer µs.
    */
  def sessionize(df: DataFrame, keyCol: String, idCol: String,
      tsCol: String, gapUs: Long): DataFrame =
    graft.operators.JoinOps.sessionIntervals(
      df.select(col(keyCol).as("user_id"), col(idCol).as("event_id"),
        unix_micros(col(tsCol)).as("us")), gapUs)
      .select(col("user_id").as(keyCol), col("sid").as("session_id"),
        col("st").as("start_us"), col("en").as("end_us"))

  /** Interval-overlap join over any (owner, interval_id, start_us,
    * end_us) frame: every cross-owner pair of CLOSED intervals that
    * intersect, each pair exactly once — time-binned equi-join with the
    * first-shared-bucket filter, never an all-pairs theta join.
    * bucketUs should approximate the typical interval length.
    */
  def overlapJoin(intervals: DataFrame, ownerCol: String, idCol: String,
      startUsCol: String, endUsCol: String, bucketUs: Long): DataFrame =
    graft.operators.JoinOps.overlapPairs(
      intervals.select(col(ownerCol).as("user_id"), col(idCol).as("sid"),
        col(startUsCol).as("st"), col(endUsCol).as("en")), bucketUs)
      .select(col("ua").as(s"${ownerCol}_a"), col("sa").as(s"${idCol}_a"),
        col("ub").as(s"${ownerCol}_b"), col("sb").as(s"${idCol}_b"))

  // --------------------------------------------------------- URL analytics

  /** Parse a URL string column into components, appended as columns:
    * url_scheme, url_host (lowercased, port stripped), url_port (long, 0
    * when absent), url_regdomain (eTLD+1 with a bounded multi-label
    * suffix list), url_path, url_query, url_fragment. Pure codegen'd
    * Column expressions, total over malformed input (scheme-less strings
    * parse as empty components, never throw).
    */
  def parseUrls(df: DataFrame, urlCol: String): DataFrame = {
    val u = col(urlCol)
    import graft.operators.UrlOps
    df.withColumn("url_scheme", UrlOps.urlScheme(u))
      .withColumn("url_host", UrlOps.urlHost(u))
      .withColumn("url_port",
        when(UrlOps.urlPortStr(u) === "", lit(0L))
          .otherwise(UrlOps.urlPortStr(u).cast("long")))
      .withColumn("url_regdomain", UrlOps.registrableDomain(UrlOps.urlHost(u)))
      .withColumn("url_path", UrlOps.urlPath(u))
      .withColumn("url_query", UrlOps.urlQuery(u))
      .withColumn("url_fragment", UrlOps.urlFragment(u))
  }

  /** Append `url_normalized`: the canonical dedup key for a URL column —
    * lowercase host, default ports (443/https, 80/http) stripped, real
    * ports kept, trailing slashes trimmed from non-root paths, utm_*
    * tracking params dropped, surviving params sorted, fragment dropped.
    * Idempotent: normalizing an already-normalized URL is the identity.
    */
  def normalizeUrls(df: DataFrame, urlCol: String): DataFrame =
    df.withColumn("url_normalized",
      graft.operators.UrlOps.normalizedUrl(col(urlCol)))

  // ------------------------------------------- association & retrieval (r9)

  /** Market-basket association: every item pair co-occurring in ≥
    * minSupport baskets, scored by lift = P(a,b)/(P(a)·P(b)). Returns
    * (a, b, n_ab, n_a, n_b, lift), unranked — order by lift and limit at
    * the call site. Candidate volume is Σ basket_size², never catalog².
    */
  def copurchaseLift(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long = 2L): DataFrame =
    graft.operators.AggOps.copurchaseLiftOn(
      df.select(col(basketCol).as("ok"), col(itemCol).as("pk")), minSupport)

  /** Okapi BM25 (k1=1.2, b=0.75) top-k characteristic terms per document
    * over a whitespace tokenization. Returns (idCol, rn, term, bm25).
    */
  def bm25TopTerms(df: DataFrame, id: String, text: String,
      k: Int = 3): DataFrame =
    graft.operators.TextOps.bm25On(
      df.select(col(id).as("doc_id"), col(text).as("text")), lit(true), k)
      .select(col("doc_id").as(id), col("rn"), col("term"), col("bm25"))

  /** Okapi BM25 DOCUMENT SEARCH: the docs matching `queryPred` — a
    * predicate over the internal `doc_id` column (the renamed id, e.g.
    * `col("doc_id") < 10`), selecting a BOUNDED query set (it
    * broadcasts) — retrieve their top-k matches from the rest of the
    * corpus by Σ idf·tf-saturation over each query's `maxQueryTerms`
    * RAREST distinct terms (lowest df — the discriminative signature,
    * and the per-query posting-read bound: at most K lists are ever
    * read per query). Returns (qid, rank, did, bm25_units) with scores
    * in integral micro-units (order-independent sums — reproducible on
    * any engine).
    */
  def bm25Search(df: DataFrame, id: String, text: String,
      queryPred: Column, k: Int = 10,
      maxQueryTerms: Int = 8): DataFrame = {
    val ix = graft.operators.TextOps.lexIndexTables(
      df.select(col(id).as("doc_id"), col(text).as("text"))).toMap
    graft.operators.TextOps.bm25SearchFromIndex(
      ix("tf"), ix("dl"), ix("df"), ix("stats"), queryPred, k,
      maxQueryTerms)
  }

  /** SemDeDup ledger over an embedding column: k-means cells as the
    * near-dup blocking key, intra-cell cosine ≥ threshold, keep-min
    * survivorship. Returns (cid, n_members, n_dup_pairs, n_dropped).
    * Ids must be DENSE from 0 (the nlist lowest seed the clusters);
    * remap sparse ids with [[withGlobalRank]] first. nlist is the scale
    * knob: grow it with the corpus so cells stay bounded — the default
    * `nlist = 0` derives ⌈√n⌉ from the corpus count (one eager count
    * action; the published IVF sizing rule, which keeps cells AND the
    * centroid table both ~√n so intra-cell pair work stays bounded at
    * any corpus size).
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 0, threshold: Double = 0.35): DataFrame = {
    val shaped = df.select(col(idCol).as("vec_id"),
      transform(col(vecCol), _.cast("double")).as("v"))
    graft.operators.SimOps.semanticDedupOn(df.sparkSession, shaped,
      resolveNlist(nlist, shaped), threshold)
  }

  /** `nlist = 0` → the ⌈√n⌉ default policy (one eager metadata-cheap
    * count action at plan-build time); any positive value passes
    * through. See [[graft.operators.SimOps.sqrtNlist]] for why √n is
    * what bounds IVF candidate growth at 100 TB.
    */
  private def resolveNlist(nlist: Int, shaped: DataFrame): Int = {
    require(nlist >= 0, s"nlist must be >= 0 (0 = sqrt(n) default): $nlist")
    if (nlist > 0) nlist
    else graft.operators.SimOps.sqrtNlist(shaped.count())
  }

  /** IVF (k-means cell) approximate nearest-neighbor search over an
    * embedding column — the production-scale kNN path: the corpus is
    * Lloyd-clustered into `nlist` cells, each query row (rows matching
    * `queryPred` over the internal `vec_id` column — keep the batch
    * broadcast-small) probes its `nprobe` nearest centroids and ranks
    * by exact cosine ONLY within probed cells, so a search reads
    * ~nprobe/nlist of the corpus. `nlist = 0` (default) derives ⌈√n⌉
    * from the corpus count — the sizing rule that keeps per-query
    * candidates ~nprobe·√n as data grows. Ids must be DENSE from 0
    * (the nlist lowest seed the clusters); remap sparse ids with
    * [[withGlobalRank]] first. Returns (qid, rank, nid, cos).
    */
  def knnIvf(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, nlist: Int = 0, nprobe: Int = 2,
      k: Int = 5): DataFrame = {
    val s = df.sparkSession
    val shaped = df.select(col(idCol).as("vec_id"),
      transform(col(vecCol), _.cast("double")).as("v"))
    val (cells, centroids) = graft.operators.SimOps.lloydCellsOn(s,
      shaped, resolveNlist(nlist, shaped))
    graft.operators.SimOps.knnIvfOn(s, cells, centroids, queryPred,
      nprobe, k)
  }

  /** RANK-METRIC EVALUATION of any retriever against any graded
    * relevance set — MRR, NDCG@k and recall@5 as PURE INTEGER
    * arithmetic (micro-unit discount weights precomputed once in
    * Scala), so the numbers are bit-reproducible across runs and
    * engines: the IR eval a retrieval stack tunes against. `ranked`
    * is the system's output (query id, item id, 1-based rank);
    * `relevant` the graded truth (rel ≥ 1) — e.g. exact search
    * results, click labels, editorial judgments. Queries come from
    * the RELEVANT side, so a system returning nothing for a query
    * scores 0 for it rather than vanishing. Returns one row:
    * (n_queries, mrr_units ×1e6, ndcg_permille, recall_at5_permille).
    * Rank-sensitive on purpose: a retriever can hold recall@5 at
    * 1000‰ while burying the best hit — MRR/NDCG catch that (the
    * registered sim_rank_eval shows ivf_nprobe1 vs 2 separating).
    */
  def rankEval(ranked: DataFrame, qidCol: String, nidCol: String,
      rankCol: String, relevant: DataFrame, relQidCol: String,
      relNidCol: String, relCol: String, k: Int = 10): DataFrame =
    graft.operators.SimOps.rankEvalOn(
      ranked.select(col(qidCol).as("qid"), col(nidCol).as("nid"),
        col(rankCol).as("rank")),
      relevant.select(col(relQidCol).as("qid"), col(relNidCol).as("nid"),
        col(relCol).cast("long").as("rel")), k)

  /** PREFIX-DIM (MATRYOSHKA) IVF SEARCH — [[knnIvf]] under an m-dim
    * storage budget: slice every vector (and so every query) to its
    * first `mDims` dimensions BEFORE the index build, then run the
    * identical Lloyd-build + probe path. Pick `mDims` off the flat
    * part of [[matryoshkaRecallSweep]]'s curve (the registered
    * sim_matryoshka_ivf shows the same decision measured through this
    * real search path) and vectors, centroids, shuffle width and every
    * dot product shrink fullDim/mDims everywhere downstream. Ids must
    * be DENSE from 0, as in [[knnIvf]]. Returns (qid, rank, nid, cos)
    * — cosines are in the SLICED space; rerank against full vectors
    * downstream if exact full-dim scores matter.
    */
  def knnIvfPrefix(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, mDims: Int, nlist: Int = 0, nprobe: Int = 2,
      k: Int = 5): DataFrame = {
    require(mDims >= 1, s"mDims must be >= 1: $mDims")
    val s = df.sparkSession
    // upper bound too (r18 advice): slice(vec, 1, m) with m beyond the
    // vector length silently returns the full vector, so a typo'd budget
    // (160 on a 64-dim corpus) would report full-dim results as if the
    // budget applied. min(size) over a BOUNDED sample (r19 advice: a
    // single arbitrary row was nondeterministic on ragged corpora and a
    // null vector in it NPE'd) — nulls drop out of min; the check assumes
    // near-uniform dimensionality and stays a bounded-cost guard, not a
    // full-corpus scan.
    val sampledDim = df.select(size(col(vecCol)).as("n")).limit(64)
      .agg(min(col("n")).as("n")).collect()
    sampledDim.headOption.filterNot(_.isNullAt(0)).foreach { r =>
      require(mDims <= r.getInt(0),
        s"knnIvfPrefix: mDims = $mDims exceeds the vectors' " +
          s"dimensionality ${r.getInt(0)} — the slice would silently be " +
          "a full-dim no-op; pass mDims <= dim (or omit the prefix path)")
    }
    val shaped = df.select(col(idCol).as("vec_id"),
      transform(slice(col(vecCol), 1, mDims), _.cast("double")).as("v"))
    val (cells, centroids) = graft.operators.SimOps.lloydCellsOn(s,
      shaped, resolveNlist(nlist, shaped))
    graft.operators.SimOps.knnIvfOn(s, cells, centroids, queryPred,
      nprobe, k)
  }

  /** BUILD the persistent IVF index pair: Lloyd-cluster the corpus into
    * `nlist` cells (0 → ⌈√n⌉) and return (cells, centroids) — the two
    * frames a rollout persists (plain parquet) and every probe/monitor/
    * repair entry reads: [[knnIvf]]-style search, [[embeddingDriftReport]]
    * between snapshots, [[recenterIvf]] when the report says drift, a
    * fresh build when [[ivfRebuildDecision]] says rebuild. Ids must be
    * DENSE from 0 (the nlist lowest seed the clusters); remap sparse
    * ids with [[withGlobalRank]] first. Cells carry (cid, vec_id, v,
    * vn), centroids (cid, centroid, cn).
    */
  def buildIvfIndex(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 0): (DataFrame, DataFrame) = {
    val shaped = df.select(col(idCol).as("vec_id"),
      transform(col(vecCol), _.cast("double")).as("v"))
    graft.operators.SimOps.lloydCellsOn(df.sparkSession, shaped,
      resolveNlist(nlist, shaped))
  }

  /** IVF RE-CENTERING — one exact Lloyd step over index ∪ batch, the
    * cheap repair arm of the drift loop: when
    * [[embeddingDriftReport]] shows the population moved but
    * [[ivfRebuildDecision]] says `recenter` (not `rebuild`), fold the
    * batch in — assign it to the FROZEN centroids, take micro-unit
    * exact per-cell means over the union, re-assign the union — and
    * persist the returned (cells, centroids) as a NEW index version
    * (never overwrite the old in place under concurrent probes; the
    * registered sim_ivf_recenter shows the content-addressed
    * discipline). Centroid identity is preserved — cells keep their
    * cid meaning, only positions move — so drift reports stay
    * comparable across versions. Cost: one batch×centroids broadcast
    * assign + one index-linear mean + one re-assign; never quadratic,
    * and far below a re-seeded full build.
    *
    * Shared-id contract: a vec_id present in BOTH the base cells and
    * the batch (the natural case — a re-embedded snapshot of the same
    * corpus) is counted ONCE, with the BATCH vector winning (newest
    * embedding); the base twin is anti-joined out before the union,
    * so duplicates can neither double-count the means nor silently
    * lose a row in the re-assign window (r17 advice).
    */
  def recenterIvf(baseCells: DataFrame, baseCentroids: DataFrame,
      batch: DataFrame, idCol: String, vecCol: String)
      : (DataFrame, DataFrame) =
    graft.operators.SimOps.recenterIvfOn(baseCells.sparkSession, baseCells,
      baseCentroids,
      batch.select(col(idCol).as("vec_id"),
        transform(col(vecCol), _.cast("double")).as("v")))

  /** REBUILD DECISION — the rule closing the monitoring loop: from an
    * [[embeddingDriftReport]] frame, total variation distance
    * (Σ|Δ‰| DIV 2) and a three-way verdict — `keep` under
    * `recenterTauPermille`, `recenter` (run [[recenterIvf]]) between,
    * `rebuild` (full re-seeded build — the frozen cid geometry itself
    * is stale) at or above `rebuildTauPermille`. One row:
    * (tv_permille, n_cells_emptied, n_cells_new, decision); the
    * emptied/new cell counts flag topics vanishing or appearing — a
    * rollout may rebuild on emptied > 0 regardless of TV.
    */
  def ivfRebuildDecision(driftReport: DataFrame,
      recenterTauPermille: Long = 50L,
      rebuildTauPermille: Long = 400L): DataFrame =
    graft.operators.SimOps.rebuildDecisionOn(driftReport,
      recenterTauPermille, rebuildTauPermille)

  /** MATRYOSHKA DIMENSION SWEEP on YOUR corpus — the embedding
    * STORAGE-budget instrument (MRL, Kusupati et al. NeurIPS'22):
    * recall@`k` of brute-force cosine over only the first m dims vs
    * the full-dim exact top-`k` for the `queryPred` batch, one row per
    * m ∈ `dims`. Pick the smallest m on the flat part of the curve and
    * every downstream consumer (storage, shuffle width, dot cost, the
    * IVF/PQ paths) shrinks by fullDim/m. Returns (m_dims, knn_hits,
    * n_exact, recall_permille). Contains an exact-search instrument
    * bound — measurement twin, not the production search.
    */
  def matryoshkaRecallSweep(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, dims: Seq[Int], k: Int = 5): DataFrame = {
    require(dims.nonEmpty && dims == dims.sorted && dims.head >= 1,
      s"dims must be ascending, >= 1: $dims")
    val s = df.sparkSession
    val shaped = df.select(col(idCol).as("vec_id"),
      transform(col(vecCol), _.cast("double")).as("v"))
      .localCheckpoint() // one exact pass + one ranking per swept m
    def top(m: Option[Int]): DataFrame = {
      val e = m.fold(shaped)(mm => shaped.select(col("vec_id"),
          slice(col("v"), 1, mm).as("v")))
        .withColumn("vn", sqrt(NativeExprs.dot(s, col("v"), col("v"))))
      val q = e.filter(queryPred).select(col("vec_id").as("qid"),
        col("v").as("qv"), col("vn").as("qn"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(desc("cos"), col("nid"))
      e.select(col("vec_id").as("nid"), col("v").as("nv"),
          col("vn").as("nn"))
        .crossJoin(broadcast(q))
        .filter(col("nid") =!= col("qid"))
        .withColumn("cos",
          NativeExprs.dot(s, col("qv"), col("nv")) / (col("qn") * col("nn")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("qid"), col("nid"))
    }
    val exact = top(None).localCheckpoint()
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    dims.map { m =>
      top(Some(m)).join(exact, Seq("qid", "nid"))
        .agg(count(lit(1)).as("knn_hits"))
        .crossJoin(broadcast(nExact))
        .select(lit(m).cast("long").as("m_dims"), col("knn_hits"),
          col("n_exact"),
          expr("knn_hits * 1000 div n_exact").as("recall_permille"))
    }.reduce(_ unionByName _).orderBy(col("m_dims"))
  }

  /** EXACT WEIGHTED QUANTILES per group: the smallest value whose
    * running weight (ordered by (value, id)) reaches q‰ of the group's
    * total weight — the curation cut a TOKEN budget needs where plain
    * quantiles weight a stub and a book equally. All integral; one
    * window cumsum per group, one filter-min per q over the same
    * cumulated frame. Weights non-negative; ids unique; value and
    * weight columns must already be INTEGRAL types (byte/short/int/
    * long) — a fractional column is rejected here rather than
    * silently truncated toward zero (r17 advice: a double weight
    * column cast to long would quietly zero out sub-1 weights); scale
    * fractional inputs to integer units (e.g. micro-units) first.
    * Groups with total weight 0 are dropped (they have no weighted
    * quantile — see the operator note). Returns
    * (grp, q_permille, weighted_q, total_w).
    */
  def weightedQuantiles(df: DataFrame, grpCol: String, idCol: String,
      valueCol: String, weightCol: String, qs: Seq[Int]): DataFrame = {
    def integral(c: String): Unit = {
      val dt = df.schema(c).dataType
      require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(dt),
        s"weightedQuantiles: column '$c' must be an integral type, " +
          s"got ${dt.simpleString} — scale to integer units explicitly " +
          "instead of relying on a silent truncating cast")
    }
    integral(valueCol); integral(weightCol)
    graft.operators.AggOps.weightedQuantilesOn(
      df.select(col(grpCol).as("grp"), col(idCol).as("id"),
        col(valueCol).cast("long").as("v"),
        col(weightCol).cast("long").as("w")), qs)
  }

  /** PER-ITEM OOD (NOVELTY) REPORT — the admission-control complement
    * to [[embeddingDriftReport]]: drift says the batch's MASS moved;
    * this says which cells receive items outside the base population's
    * local geometry. Each incoming vector is assigned to its home cell
    * (frozen centroids from [[buildIvfIndex]]) and its micro-unit
    * centroid distance is compared to the cell's base 95th-percentile
    * radius (exact discrete quantile). Per cell: (cid, n_base,
    * p95_units, n_incoming, n_flagged, flagged_permille) — ~50‰
    * flagged is the base rate; far above it means content the index
    * has no precedent for. Route flagged items to review, or feed the
    * signal into [[ivfRebuildDecision]]'s thresholds. Cost: one
    * batch×centroids broadcast assign + index-linear distances +
    * per-cell windows — no pair joins.
    */
  def oodReport(baseCells: DataFrame, baseCentroids: DataFrame,
      incoming: DataFrame, idCol: String, vecCol: String): DataFrame =
    graft.operators.SimOps.oodReportOn(baseCells.sparkSession, baseCells,
      baseCentroids,
      incoming.select(col(idCol).as("vec_id"),
        transform(col(vecCol), _.cast("double")).as("v")))

  /** PER-ITEM OOD ADMISSION FILTER — the actuator beside [[oodReport]]
    * (which only aggregates per cell): every incoming item with its
    * home cell, micro-unit centroid distance `du`, the cell's exact
    * p95 base radius `p95_units`, and a `flagged` verdict — true when
    * the distance exceeds the radius, or when the home cell has no
    * base population at all (no precedent; `p95_units` is NULL there).
    * Compose it directly into an ingest pipeline:
    * `.filter(col("flagged"))` is the quarantine/review route,
    * `.filter(!col("flagged"))` the admission gate feeding
    * [[appendToDedupIndex]]/[[recenterIvf]]. ~50‰ flagged is the base
    * rate by construction; a spike is the per-item novelty alarm. Cost:
    * one batch×centroids broadcast assign + two broadcast joins — the
    * batch is never sort-merged, no pair joins. Returns
    * (vec_id, cid, du, p95_units, flagged), one row per incoming item.
    */
  def oodFilter(baseCells: DataFrame, baseCentroids: DataFrame,
      incoming: DataFrame, idCol: String, vecCol: String): DataFrame =
    graft.operators.SimOps.oodFlagsOn(baseCells.sparkSession, baseCells,
      baseCentroids,
      incoming.select(col(idCol).as("vec_id"),
        transform(col(vecCol), _.cast("double")).as("v")))

  /** IVF INDEX EXPIRY — the takedown half of the vector-index
    * lifecycle ([[expireFromDedupIndex]]'s twin): drop the tombstoned
    * ids from the cells table with one anti-join and return the
    * surviving cells (same shape — persist as a new version). No probe
    * of the returned index can ever return the expired vectors — the
    * compliance contract a deletion request needs. Centroids are
    * deliberately NOT touched: expiry is membership, not drift; the
    * population shift it causes is what the next
    * [[embeddingDriftReport]]/[[ivfRebuildDecision]] cadence reads,
    * and [[recenterIvf]] is the repair if mass takedowns moved it.
    * The registered sim_ivf_expire query is the per-cell evidence.
    */
  def expireFromIvfIndex(cells: DataFrame, tombstones: DataFrame,
      idCol: String): DataFrame =
    graft.operators.SimOps.expireIvfCells(cells,
      tombstones.select(col(idCol).as("vec_id")))

  /** QUARANTINE RE-ADMISSION — closes the admission loop the way
    * [[recenterIvf]] closes the drift loop: gate `incoming` with the
    * OLD radii ([[oodFilter]]'s rule), recenter the index with ONLY
    * the admitted mass (quarantine never contaminates the index), then
    * re-probe the quarantined items against the repaired centroids and
    * freshly-derived p95 radii. Items that re-admit were flagged only
    * because the centroids were stale — the population had moved out
    * from under the frozen geometry; items still out are genuinely
    * unprecedented and stay in review. Returns (repaired (cells,
    * centroids) — persist as a new version — and the re-flag frame
    * (vec_id, cid, du, p95_units, flagged) over the quarantine:
    * `!flagged` IS the re-admission list). The registered
    * sim_ood_readmit query is the oracle-checked rollup of this loop
    * on the drift fixture. Cost: one batch-bounded gate, one
    * index-linear recenter + radius pass, one quarantine-bounded
    * re-probe — nothing quadratic.
    */
  def oodReadmit(baseCells: DataFrame, baseCentroids: DataFrame,
      incoming: DataFrame, idCol: String, vecCol: String)
      : ((DataFrame, DataFrame), DataFrame) =
    graft.operators.SimOps.oodReadmitOn(baseCells.sparkSession, baseCells,
      baseCentroids,
      incoming.select(col(idCol).as("vec_id"),
        transform(col(vecCol), _.cast("double")).as("v")))

  /** IVF RECALL SWEEP on YOUR corpus — the sizing instrument behind the
    * ⌈√n⌉ default: for each candidate `nlist`, Lloyd-build an index and
    * measure top-`k` recall vs the exact search for the `queryPred`
    * batch. `nlists` empty (default) sweeps {⌈√n⌉/2, ⌈√n⌉, 2⌈√n⌉} —
    * bracketing the policy, so the output directly answers "is √n on
    * the flat part of MY corpus's recall curve". Per-query search cost
    * is ~nprobe·n/nlist candidates; pick the largest nlist whose recall
    * still meets the application floor. Ids must be DENSE from 0.
    * Returns (nlist, knn_hits, n_exact, recall_permille).
    */
  def ivfRecallSweep(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, nlists: Seq[Int] = Nil, nprobe: Int = 2,
      k: Int = 5): DataFrame = {
    val s = df.sparkSession
    val shaped = df.select(col(idCol).as("vec_id"),
      transform(col(vecCol), _.cast("double")).as("v"))
    val swept =
      if (nlists.nonEmpty) nlists
      else {
        val r = graft.operators.SimOps.sqrtNlist(shaped.count())
        Seq(math.max(1, r / 2), r, 2 * r).distinct
      }
    graft.operators.SimOps.ivfRecallSweepOn(s, shaped, queryPred, swept,
      nprobe, k)
  }

  /** [[lofOutliers]] on the IVF shortlist — the 100 TB LOF path: every
    * point's candidate neighborhood comes from its `nprobe` nearest
    * k-means cells instead of the full corpus, and the downstream LOF
    * algebra is IDENTICAL to the exact variant (so any recall gap is a
    * candidate-coverage property, measurable against [[lofOutliers]]).
    * `nlist = 0` (default) derives ⌈√n⌉ from the corpus count, which
    * bounds per-point candidates at ~nprobe·√n. Ids must be DENSE from
    * 0; `idCol`/`vecCol`/`labelCol` name the id, embedding and label
    * columns (defaults match the fixture's (vec_id, label, embedding)
    * shape) — the session derives from the frame, for parity with
    * [[knnIvf]]/[[semanticDedup]]/[[ivfRecallSweep]] (r15 advice).
    * Returns top-`topN` (vec_id, label, k_dist, lrd_units, lof).
    */
  def lofIvf(embeddings: DataFrame, k: Int = 10, nlist: Int = 0,
      nprobe: Int = 2, topN: Int = 20, idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val spark = embeddings.sparkSession
    val shaped = embeddings.select(col(idCol).as("vec_id"),
      transform(col(vecCol), _.cast("double")).as("v"))
    val index = graft.operators.SimOps.lloydCellsOn(spark, shaped,
      resolveNlist(nlist, shaped))
    graft.operators.SimOps.lofIvfCells(spark, index, k, nprobe)
      .join(embeddings.select(col(idCol).as("qid"),
        col(labelCol).as("label")), Seq("qid"))
      .selectExpr("qid AS vec_id", "label", "k_dist", "lrd_units", "lof")
      .orderBy(desc_nulls_last("lof"), col("vec_id"))
      .limit(topN)
  }

  /** Product-quantization ANN search (PQ/ADC): vectors encode as `m`
    * sub-centroid codes (k-means per `subDim`-wide subspace — the
    * vector dim must equal m·subDim) and queries rank the corpus by the
    * exact cosine against each vector's RECONSTRUCTION, computed from a
    * per-query m·nlist dot-product LUT — the memory-compression scale
    * path (codes are m small ints per vector). `queryPred` selects the
    * query rows by the internal `vec_id` column; ids must be DENSE from
    * 0 (per-subspace seeding). Returns (qid, rank, nid, cos_adc).
    */
  def pqKnn(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, m: Int = 4, subDim: Int = 16, nlist: Int = 16,
      k: Int = 5): DataFrame =
    graft.operators.SimOps.knnPqOn(df.sparkSession,
      df.select(col(idCol).as("vec_id"),
        transform(col(vecCol), _.cast("double")).as("v")),
      queryPred, m, subDim, nlist, k)

  /** Incremental ANN ingest — an `incoming` embedding batch against a
    * k-means (IVF) index built over `index`: each incoming vector gets
    * its HOME cell (nearest centroid — where the ingest appends it) and
    * its top-k index-side cosine neighbors within `nprobe` probed cells
    * (the admission-time near-dup/link check). Never any
    * incoming×incoming pair, and at scale the index build is the batch
    * job ([[graft.operators.SimOps]] persists the registered fixture's
    * via its artifact store) while per-batch cost is the
    * batch×centroids probe plus the probed posting lists. Index ids
    * must be DENSE from 0 (the nlist lowest seed the clusters); remap
    * sparse ids with [[withGlobalRank]] first. Returns
    * (new_id, home_cid, rank, nid, cos).
    */
  def incrementalAnnAssign(index: DataFrame, incoming: DataFrame,
      idCol: String, vecCol: String, nlist: Int = 0, nprobe: Int = 2,
      k: Int = 3): DataFrame = {
    val s = index.sparkSession
    def shaped(df: DataFrame): DataFrame =
      df.select(col(idCol).as("vec_id"),
        transform(col(vecCol), _.cast("double")).as("v"))
    val shapedIndex = shaped(index)
    // nlist = 0 → ⌈√n_index⌉, the same sizing policy as knnIvf/lofIvf
    val (cells, centroids) = graft.operators.SimOps.lloydCellsOn(s,
      shapedIndex, resolveNlist(nlist, shapedIndex))
    graft.operators.SimOps.incrementalAssignOn(s, cells, centroids,
      shaped(incoming), nprobe, k)
  }

  /** CORPUS SNAPSHOT DIFF (CDC between two crawl snapshots): classify
    * every doc id as added / removed / changed / unchanged by comparing
    * content fingerprints across the two frames — `changed + added` is
    * the work an incremental re-embed/re-dedup pass must touch,
    * `removed` the tombstone set the index must expire. Returns one row
    * per id: (doc_id, status, tok_old, tok_new), token counts NULL on
    * the absent side. One id equi-join + md5 compare — never
    * content×content; precompute the fingerprint at ingest and the
    * join moves id + 16 bytes per side.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, idCol: String,
      textCol: String): DataFrame =
    graft.operators.IoOps.snapshotDiffOn(oldSnap, newSnap, idCol, textCol)

  /** CDC MERGE-APPLY (the lakehouse MERGE INTO as one operator —
    * [[snapshotDiff]]'s actuator): fold a changelog into a base
    * snapshot and return the NEW snapshot. `changelog` must carry the
    * base's columns plus `opCol` ∈ {"I", "U", "D"}: D drops the id, U
    * replaces its row with the payload, I inserts — and an I whose id
    * still exists upserts (payload wins), keeping the apply IDEMPOTENT
    * on replayed changelogs (at-least-once ingestion). Unknown ops
    * raise through the projection instead of silently keeping or
    * dropping rows. Contract: one changelog row per id per apply —
    * collapse multi-op streams by sequence number upstream. Cost: one
    * anti-join + one union; the base is scanned once, the changelog
    * never self-joins — the nightly snapshot-advance job at any scale.
    */
  def applyCdc(base: DataFrame, changelog: DataFrame, idCol: String,
      opCol: String = "op"): DataFrame =
    graft.operators.IoOps.applyCdcOn(base, changelog, idCol, opCol)

  /** DETERMINISTIC EPOCH SHUFFLE — assign every row a pseudorandom
    * training-order position for one epoch: returns the input columns
    * plus (h, shard, pos), where h is a wrap-safe multiplicative hash
    * of (idCol, epoch), shard = h mod nShards (the file a data loader
    * reads), and pos is the row's rank within its shard. Seedless and
    * replayable: a preempted trainer re-derives the identical order
    * from (epoch, id) alone — no stored permutation, no rand() drift
    * between attempts; bumping `epoch` reshuffles everything with zero
    * state. One narrow hash pass + one window over nShards balanced
    * partitions — the layout a 1000-executor epoch writer needs.
    *
    * The input must not already carry the output columns (h, shard,
    * pos) or the internal __epoch — withColumn would silently
    * overwrite caller data otherwise (r16 advice); rename or drop
    * them first.
    */
  def epochShuffle(df: DataFrame, idCol: String, epoch: Int,
      nShards: Int = 1024): DataFrame = {
    val clashes = Seq("h", "shard", "pos", "__epoch")
      .filter(df.columns.contains)
    require(clashes.isEmpty,
      s"epochShuffle writes columns (h, shard, pos); the input already " +
        s"has ${clashes.mkString(", ")} — rename or drop before calling")
    graft.operators.IoOps.epochShuffleOn(
      df.withColumn("__epoch", lit(epoch)), idCol, "__epoch", nShards)
      .drop("__epoch")
  }

  /** EMBEDDING SNAPSHOT DRIFT REPORT — cluster the base corpus once
    * (nlist cells; nlist = 0 → ⌈√n⌉, the standard sizing policy),
    * assign the new snapshot to the same FROZEN centroids, and report
    * per cell the population share of each snapshot in per-mille plus
    * |Δ| (summing the drift column / 2 gives total variation distance).
    * Frozen-centroid assignment is deliberate: re-clustering the union
    * would conflate centroid motion with population motion — drift is
    * measured against the old map (the PSI monitoring discipline).
    * Cost: one Lloyd build on the base (persist it — the index is
    * build-once) + one newer×centroids broadcast assign; never
    * newer×newer or newer×base.
    *
    * Seeding contract as [[knnIvf]]: base ids should be dense from 0
    * (the nlist lowest ids seed the clustering).
    */
  def embeddingDriftReport(base: DataFrame, newer: DataFrame,
      idCol: String, vecCol: String, nlist: Int = 0): DataFrame = {
    val s = base.sparkSession
    def shaped(df: DataFrame): DataFrame =
      df.select(col(idCol).as("vec_id"),
        transform(col(vecCol), _.cast("double")).as("v"))
    val shapedBase = shaped(base)
    val (cells, centroids) = graft.operators.SimOps.lloydCellsOn(s,
      shapedBase, resolveNlist(nlist, shapedBase))
    graft.operators.SimOps.driftReportOn(s, cells, centroids,
      shaped(newer))
  }

  /** Reciprocal Rank Fusion (k=60 by default) over any number of rank
    * lists: each input frame carries (qCol, dCol, rankCol); a candidate's
    * fused score is Σ 1/(kRrf + rank) over the lists it appears in.
    * Returns the top-k fused (qCol, rank, dCol, rrf) per query.
    */
  def rrfFuse(ranks: Seq[DataFrame], qCol: String, dCol: String,
      rankCol: String, kRrf: Int = 60, topK: Int = 10): DataFrame = {
    require(ranks.nonEmpty, "rrfFuse needs at least one ranking")
    val scored = ranks.map(_.select(col(qCol).as("q"), col(dCol).as("d"),
      (lit(1.0) / (lit(kRrf) + col(rankCol))).as("s")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q")).orderBy(desc("rrf"), col("d"))
    scored.reduce(_ unionByName _)
      .groupBy(col("q"), col("d")).agg(sum(col("s")).as("rrf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q").as(qCol), col("rank"), col("d").as(dCol), col("rrf"))
  }

  /** Nearest join — the bidirectional [[asofJoin]]: match each left row
    * to the right row with the same key whose TimestampType tsCol is
    * CLOSEST in either direction (ties → the earlier right row). Returns
    * (idCol, keyCol, tsCol, nearest_<pickCol>, delta_us) with the signed
    * distance in raw microseconds (negative = the match precedes the
    * left row). One union relation, one key shuffle, one sort.
    */
  def nearestJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, idCol: String, pickCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val l = left.select(col(keyCol).as("k"), col(tsCol).as("t"),
      col(idCol).as("lid"), lit(1).as("is_left"),
      lit(null).cast("long").as("pick"))
    val r = right.select(col(keyCol).as("k"), col(tsCol).as("t"),
      lit(null).cast(left.schema(idCol).dataType).as("lid"),
      lit(0).as("is_left"), col(pickCol).cast("long").as("pick"))
    val u = l.unionByName(r).withColumn("p",
      when(col("is_left") === 0,
        struct(col("t").as("pts"), col("pick").as("pid"))))
    val ord = Seq(col("t"), col("is_left"), col("pick"))
    val wPrev = W.partitionBy(col("k")).orderBy(ord: _*)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val wNext = W.partitionBy(col("k")).orderBy(ord: _*)
      .rowsBetween(W.currentRow, W.unboundedFollowing)
    u.withColumn("prev", last(col("p"), ignoreNulls = true).over(wPrev))
      .withColumn("nxt", first(col("p"), ignoreNulls = true).over(wNext))
      .filter(col("is_left") === 1)
      .filter(col("prev").isNotNull || col("nxt").isNotNull)
      .withColumn("d_prev",
        unix_micros(col("t")) - unix_micros(col("prev.pts")))
      .withColumn("d_next",
        unix_micros(col("nxt.pts")) - unix_micros(col("t")))
      .withColumn("take_prev", col("prev").isNotNull &&
        (col("nxt").isNull || col("d_prev") <= col("d_next")))
      .select(col("lid").as(idCol), col("k").as(keyCol),
        col("t").as(tsCol),
        when(col("take_prev"), col("prev.pid"))
          .otherwise(col("nxt.pid")).as(s"nearest_$pickCol"),
        when(col("take_prev"), -col("d_prev"))
          .otherwise(col("d_next")).as("delta_us"))
  }

  /** Deterministic weighted sampling without replacement (Efraimidis-
    * Spirakis A-Res): top-k rows by u^(1/weight) where u is an
    * avalanche-hash uniform of the id — replayable across runs and
    * backfills, works for any id type. Appends the `wkey` column.
    */
  def sampleWeighted(df: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame =
    df.withColumn("wkey", aresKey(idCol, weightCol))
      .orderBy(desc("wkey"), col(idCol))
      .limit(k)

  /** Per-group [[sampleWeighted]]: k quality-weighted rows per group via
    * one WindowGroupLimit pass. Appends `wkey` and the per-group `rn`.
    */
  def sampleWeightedByGroup(df: DataFrame, groupCol: String, idCol: String,
      weightCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(desc("wkey"), col(idCol))
    df.withColumn("wkey", aresKey(idCol, weightCol))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** The A-Res key: an xxhash64-derived uniform on a 10⁵ grid raised to
    * 1/weight. The grid keeps the uniform exactly representable; ties
    * across rows resolve by id at the call sites.
    */
  private def aresKey(idCol: String, weightCol: String): Column =
    pow((pmod(xxhash64(col(idCol)), lit(100000)).cast("double") + 0.5)
        / 100000.0,
      lit(1.0) / col(weightCol))

  /** Single-touch marketing attribution over arbitrary frames: each
    * conversion credits the campaign of the key's latest
    * (firstTouch=false, the default last-touch model) or earliest
    * (firstTouch=true) touch at-or-before it; unattributed conversions
    * are dropped. touches = (keyCol, tsCol, idCol, campaignCol);
    * conversions = (keyCol, tsCol, idCol, valueCol). Returns (campaign,
    * n_conversions, revenue) with the decimal-exact revenue sum. One
    * shuffle on the key, one sort — the as-of union+window idiom.
    */
  def attribution(touches: DataFrame, conversions: DataFrame,
      keyCol: String, tsCol: String, idCol: String, campaignCol: String,
      valueCol: String, firstTouch: Boolean = false): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val t = touches.select(col(keyCol).as("k"), col(tsCol).as("t"),
      col(idCol).cast("long").as("eid"),
      col(campaignCol).as("campaign"), lit(null).cast("double").as("value"))
    val c = conversions.select(col(keyCol).as("k"), col(tsCol).as("t"),
      col(idCol).cast("long").as("eid"),
      lit(null).cast(touches.schema(campaignCol).dataType).as("campaign"),
      col(valueCol).cast("double").as("value"))
    val w = W.partitionBy(col("k"))
      .orderBy(col("t"),
        when(col("campaign").isNull, 1).otherwise(0), col("eid"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val attr =
      if (firstTouch) first(col("campaign"), ignoreNulls = true).over(w)
      else last(col("campaign"), ignoreNulls = true).over(w)
    t.unionByName(c)
      .withColumn("attr", attr)
      .filter(col("value").isNotNull && col("attr").isNotNull)
      .groupBy(col("attr").as(campaignCol))
      .agg(count(lit(1)).as("n_conversions"),
        graft.functions.Num.dsum(col("value")).as("revenue"))
  }

  /** MULTI-touch attribution over arbitrary frames — the generic form of
    * ev_attribution_linear / _position / _decay: each conversion's value
    * splits across the key's last ≤`lookback` prior touches under the
    * chosen model:
    *
    *  - "linear": equal split over the DISTINCT campaigns in the window;
    *  - "position": U-shape — first and last touch 40% each, middle
    *    touches split the remaining 20% (1 touch → 100%, 2 → 50/50);
    *  - "decay": weight 2^(−age/halflifeDays), ages capped at 7
    *    half-lives, credit = (units·w) DIV Σw.
    *
    * Credit is integral micro-cent units (floor(value·10⁴), split with
    * DIV — every divisor positive), so the rollup is order-independent
    * where a float split would ulp-drift under Spark's partial-sum
    * order. ONE key-partitioned window (no touch×conversion join), the
    * explode bounded by `lookback`. `tsCol` must be a TIMESTAMP column
    * on both frames. Returns (campaignCol, n_creditings, credit_units).
    */
  def attributionMultiTouch(touches: DataFrame, conversions: DataFrame,
      keyCol: String, tsCol: String, idCol: String, campaignCol: String,
      valueCol: String, model: String = "linear", lookback: Int = 5,
      halflifeDays: Int = 7): DataFrame = {
    require(Seq("linear", "position", "decay").contains(model),
      s"model must be linear|position|decay, got '$model'")
    require(lookback >= 1 && halflifeDays >= 1,
      s"lookback and halflifeDays must be positive")
    val W = org.apache.spark.sql.expressions.Window
    val t = touches.select(col(keyCol).as("k"), col(tsCol).as("t"),
      col(idCol).cast("long").as("eid"),
      col(campaignCol).as("campaign"), lit(null).cast("double").as("value"))
    val c = conversions.select(col(keyCol).as("k"), col(tsCol).as("t"),
      col(idCol).cast("long").as("eid"),
      lit(null).cast(touches.schema(campaignCol).dataType).as("campaign"),
      col(valueCol).cast("double").as("value"))
    val w = W.partitionBy(col("k"))
      .orderBy(col("t"),
        when(col("campaign").isNull, 1).otherwise(0), col("eid"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val base = t.unionByName(c)
      .withColumn("touches", collect_list(
        when(col("campaign").isNotNull,
          struct(col("campaign"), unix_micros(col("t")).as("tus"))))
        .over(w))
      .filter(col("value").isNotNull && size(col("touches")) > 0)
      .withColumn("tl", expr(s"slice(touches, " +
        s"greatest(size(touches) - ${lookback - 1}, 1), $lookback)"))
      .withColumn("units", expr("CAST(floor(value * 1e4) AS BIGINT)"))
    val credits = model match {
      case "linear" =>
        base
          .withColumn("cset",
            array_distinct(expr("transform(tl, x -> x.campaign)")))
          .withColumn("credit_units", expr("units DIV size(cset)"))
          .select(explode(col("cset")).as("campaign"), col("credit_units"))
      case "position" =>
        base
          .withColumn("n", size(col("tl")))
          .selectExpr("posexplode(tl) AS (pos, tc)", "units", "n")
          .withColumn("credit_units", expr(
            """CASE WHEN n = 1 THEN units
                    WHEN n = 2 THEN units DIV 2
                    WHEN pos = 0 OR pos = n - 1 THEN (units * 4) DIV 10
                    ELSE ((units * 2) DIV 10) DIV (n - 2) END"""))
          .select(col("tc.campaign").as("campaign"), col("credit_units"))
      case "decay" =>
        base
          .withColumn("pus", unix_micros(col("t")))
          .withColumn("wl", expr(
            s"""transform(tl, x -> shiftleft(1L,
                 7 - CAST(least((pus - x.tus) DIV ${86400000000L *
                   halflifeDays}, 7) AS INT)))"""))
          .withColumn("wsum", expr("aggregate(wl, 0L, (acc, x) -> acc + x)"))
          .selectExpr("posexplode(tl) AS (pos, tc)", "wl", "units", "wsum")
          .withColumn("credit_units", expr("(units * wl[pos]) DIV wsum"))
          .select(col("tc.campaign").as("campaign"), col("credit_units"))
    }
    credits
      .groupBy(col("campaign").as(campaignCol))
      .agg(count(lit(1)).as("n_creditings"),
        sum(col("credit_units")).as("credit_units"))
  }

  /** Per-group quantile estimates via the mergeable KLL/MRL sketch
    * ([[graft.functions.KllSketch]]): one O(k·log(n/k)) buffer per
    * (group, partition) through the shuffle with map-side partials —
    * the shape that survives groups exact percentile() cannot (it holds
    * every value in memory) and [[exactQuantiles]] pays a total-order
    * sort for. Returns groupCols + one `q<NN>` double column per
    * requested quantile (estimates, rank error ≈ log(n/k)/(2k)).
    */
  def sketchQuantiles(df: DataFrame, valueCol: String,
      groupCols: Seq[String], quantiles: Seq[Double],
      k: Int = 512): DataFrame = {
    val kll = udaf(new graft.functions.KllSketch(k, quantiles.toArray))
    val agged = df.groupBy(groupCols.map(col): _*)
      .agg(kll.apply(col(valueCol).cast("double")).as("qs"))
    val qCols = quantiles.zipWithIndex.map { case (q, i) =>
      col("qs")(i).as(f"q${math.round(q * 100)}%02d")
    }
    agged.select(groupCols.map(col) ++ qCols: _*)
  }

  /** RFM segmentation over an arbitrary purchases frame — the generic
    * ev_rfm: per key, Recency in whole days from the key's last purchase
    * to the frame's max timestamp (or `anchorUs` when the caller has an
    * external "now"), Frequency, and integral micro-cent Monetary, each
    * scored 1..`buckets` by [[graft.operators.WindowOps.ntileBucket]]'s
    * exact-rank arithmetic (no single-task global sort). Returns one row
    * per key: (key, recency_days, frequency, monetary_units, r_score,
    * f_score, m_score).
    */
  def rfm(purchases: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, buckets: Long = 4L,
      anchorUs: Option[Long] = None): DataFrame = {
    val per0 = purchases
      .select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("us"),
        expr(s"CAST(floor($valueCol * 1e4) AS BIGINT)").as("units"))
      .groupBy(col("k"))
      .agg(max(col("us")).as("last_us"), count(lit(1)).as("frequency"),
        sum(col("units")).as("monetary_units"))
    val per = anchorUs match {
      case Some(a) => per0.withColumn("aus", lit(a))
      case None => per0.crossJoin(broadcast(
        purchases.agg(max(unix_micros(col(tsCol))).as("aus"))))
    }
    val metrics = per
      .withColumn("recency_days", expr("(aus - last_us) DIV 86400000000"))
      .select(col("k").as(keyCol), col("recency_days"), col("frequency"),
        col("monetary_units"))
    Seq(("recency_days", "r_score"), ("frequency", "f_score"),
      ("monetary_units", "m_score"))
      .foldLeft(metrics) { case (df, (metric, out)) =>
        graft.operators.WindowOps.ntileBucket(df,
          Seq(col(metric), col(keyCol)), buckets, out)
      }
  }

  /** Shannon entropy (bits) of the `symbolCol` mix within each
    * `groupCol`: (group, n_rows, n_symbols, entropy_bits) — 0 for a
    * pure group, log₂(k) for a uniform k-way mix. One aggregate pass.
    */
  def entropyProfile(df: DataFrame, groupCol: String,
      symbolCol: String): DataFrame =
    graft.operators.AggOps.entropyOn(df, groupCol, symbolCol)
      .withColumnRenamed("grp", "group")

  /** Per-group Jensen–Shannon drift (nats) of each group's unigram
    * distribution against the corpus-wide mixture — the mixture
    * monitoring metric (symmetric, bounded by ln 2, defined on
    * disjoint supports). Returns (group, n_terms, div_units, js_nats)
    * with div_units an order-independent integral nano-nat sum, so the
    * number is reproducible on any engine.
    */
  def divergenceProfile(df: DataFrame, groupCol: String,
      textCol: String): DataFrame =
    graft.operators.TextOps.sourceDivergenceOn(
      df.select(col(groupCol).as("grp"), col(textCol).as("text")), "grp")
      .withColumnRenamed("grp", "group")

  /** Exact audience-overlap matrix: for every unordered pair of
    * categories sharing ≥ 1 key, the number of keys carrying both (the
    * diagonal is each category's key-set size). One distinct + one
    * bounded aggregate — the fact table is never self-joined, so cost is
    * one corpus-sized shuffle regardless of category skew. Returns
    * (type_a, type_b, n_keys), type_a ≤ type_b.
    */
  def overlapMatrix(df: DataFrame, keyCol: String,
      categoryCol: String): DataFrame =
    graft.operators.AggOps.overlapMatrixOn(df, keyCol, categoryCol)

  /** Median/MAD robust outlier stats per key (Iglewicz–Hoaglin modified
    * z-score, |0.6745·dev/MAD| > 3.5), all integral micro-units: (key,
    * n, med_micro, mad_micro, n_outliers, max_absdev_micro). Survives
    * contaminated feeds where mean/stddev rules mask every outlier.
    * Input magnitude cap: values quantize via floor(value·1e6) AS BIGINT,
    * which wraps silently for |value| above ~9.2e12 (Long.MaxValue/1e6) —
    * pre-scale inputs living beyond that range.
    */
  def robustOutlierStats(df: DataFrame, keyCol: String, idCol: String,
      valueCol: String): DataFrame =
    graft.operators.AggOps.madOutliersOn(
      df.select(col(keyCol).as("event_type"), col(idCol).as("event_id"),
        col(valueCol).as("value")))
      .withColumnRenamed("event_type", "key")

  /** Equi-depth histogram of `valueCol`: k buckets of (as close as
    * possible to) equal row counts with exact order-statistic
    * boundaries — (bucket 1..k, n, lo, hi). Bucket membership is
    * `ntile(k) OVER (ORDER BY value, tieCols…)` semantics computed by
    * [[graft.operators.WindowOps.ntileBucket]]'s range-partitioned
    * exact rank (no single-task global sort); `tieCols` must complete a
    * total order or ties at a boundary land nondeterministically.
    */
  def equidepthHistogram(df: DataFrame, valueCol: String,
      tieCols: Seq[String], k: Long = 10L): DataFrame =
    graft.operators.AggOps.equidepthHistOn(df, valueCol, tieCols, k)

  /** Per-group ntile bucketing: appends `out` = `ntile(k) OVER
    * (PARTITION BY groupCol ORDER BY valueCol, tieCols…)` without the
    * window's group-count parallelism ceiling (the heavy sort
    * range-partitions on (group, value, ties)). Built for
    * LOW-cardinality groups — feature binning per dimension, per-key
    * deciles; with many groups an ordinary window already parallelizes.
    * `pid`/`r`/`n`/`c`/`off` are reserved internal names the input must
    * not carry; (valueCol, tieCols…) must totally order each group.
    */
  def groupedNtile(df: DataFrame, groupCol: String, valueCol: String,
      tieCols: Seq[String], k: Long = 4L,
      out: String = "bucket"): DataFrame =
    graft.operators.WindowOps.groupNtile(df, groupCol,
      (valueCol +: tieCols).map(col), k, out)

  /** Quantile (rank) normalization of `valueCol` within each `groupCol`:
    * appends `out` = (rank − 0.5) / n ∈ (0, 1), the distribution-free
    * feature transform (invariant under any monotone rescaling of the
    * input, robust to outliers by construction). Ranks ride
    * [[graft.operators.WindowOps.withExactGroupRank]], so low-cardinality
    * groups don't cap the sort parallelism; reserved internal names and
    * total-order requirements as in [[groupedNtile]].
    */
  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
      tieCols: Seq[String], out: String = "qnorm"): DataFrame =
    graft.operators.WindowOps.withExactGroupRank(df, groupCol,
        (valueCol +: tieCols).map(col))
      .withColumn(out, (col("r").cast("double") - 0.5) / col("n"))
      .drop("r", "n")

  /** Top principal direction (uncentered Gram) of a fixed-`dim` vector
    * column by `rounds` deterministic power iterations — every float
    * reduction is order-independent (micro-unit integer accumulation,
    * exact-integer norms), so results are reproducible across cluster
    * sizes and replayable by an external engine. Returns (pos, loading),
    * a unit vector. The input is scanned once per round — persist it
    * when it isn't already a cheap re-read.
    */
  def topPrincipalComponent(df: DataFrame, vecCol: String, dim: Int,
      rounds: Int = 3): DataFrame =
    graft.operators.SimOps.topComponentOn(df.sparkSession,
      df.select(transform(col(vecCol), _.cast("double")).as("v")),
      dim, rounds)

  /** Top-2 principal directions of a fixed-`dim` vector column:
    * [[topPrincipalComponent]] plus its Hotelling deflation — u₁ is
    * projected out of every row and the power iteration re-runs on the
    * residual. Returns (component, pos, loading) with component ∈
    * {1, 2}; u₁·u₂ ≈ 0 up to the micro-unit quantization grid.
    */
  def top2PrincipalComponents(df: DataFrame, vecCol: String, dim: Int,
      rounds: Int = 3): DataFrame = {
    val s = df.sparkSession
    val e = df.select(transform(col(vecCol), _.cast("double")).as("v"))
      .localCheckpoint() // scanned once per round by BOTH iterations
    val c1 = graft.operators.SimOps.topComponentOn(s, e, dim, rounds)
    val u1 = c1.collect()
      .map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).map(_._2).toSeq
    val c2 = graft.operators.SimOps.topComponentOn(s,
      graft.operators.SimOps.deflateOn(s, e, u1).localCheckpoint(),
      dim, rounds)
    c1.withColumn("component", lit(1))
      .unionByName(c2.withColumn("component", lit(2)))
      .select(col("component"), col("pos"), col("loading"))
      .orderBy(col("component"), col("pos"))
  }

  /** Nearest-centroid confusion matrix over any (id, label, vector)
    * frame: full-dimension integer-micro-unit label centroids, cosine
    * assignment with deterministic tie-breaks, (label, pred_label, n)
    * counts. The embedding-quality eval: diagonal-heavy = labels are
    * recoverable from geometry.
    */
  def centroidConfusion(df: DataFrame, idCol: String, labelCol: String,
      vecCol: String): DataFrame =
    graft.operators.SimOps.centroidClassifyOn(df.sparkSession,
      df.select(col(idCol).as("vec_id"), col(labelCol).as("label"),
        transform(col(vecCol), _.cast("double")).as("v")))

  /** Data-contract expectations over any frame: each (name, SQL
    * predicate) rule evaluates in ONE shared scan; returns (rule,
    * n_checked, n_violations, pass) — the ingestion gate report.
    */
  def expectations(df: DataFrame,
      rules: Seq[(String, String)]): DataFrame =
    graft.operators.IoOps.expectationsOn(df, rules)

  /** k-anonymity risk profile over any quasi-identifier column set:
    * one row with n_rows, n_groups, min_group, groups and rows below
    * k, and the at-risk per-mille — the pre-sharing governance screen.
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String],
      k: Int = 5): DataFrame =
    graft.operators.AggOps.kAnonymityOn(df, quasiCols, k)

  /** Welch two-sample t statistic comparing `valCol` means between the
    * two named groups of `grpCol` (unequal variances allowed). Exact
    * milli-unit moment sums; returns one row (n1, n2, mean1, mean2,
    * t_stat).
    */
  def ttest(df: DataFrame, grpCol: String, valCol: String,
      group1: String, group2: String): DataFrame =
    graft.operators.AggOps.ttestOn(df, grpCol, valCol, group1, group2)

  /** l-diversity risk profile — the sensitive-attribute sibling of
    * [[kAnonymity]]: per quasi-identifier group, how many DISTINCT
    * values of `sensitive` appear; one row with n_rows, n_groups,
    * min_l, groups/rows below l, at-risk per-mille, and the rows in
    * >90%-homogeneous groups (the homogeneity-attack exposure).
    */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
      sensitive: Column, l: Int = 3): DataFrame =
    graft.operators.AggOps.lDiversityOn(df, quasiCols, sensitive, l)

  /** Mann–Whitney U comparing `valCol` distributions between the two
    * named groups of `grpCol` — the rank-based, distribution-free
    * sibling of [[ttest]]. Exact integer rank algebra on milli-unit
    * values with average-rank tie handling; returns one row (n_a, n_b,
    * r2_a = doubled rank-sum, tie_sum, u2_a/u2_b = doubled U, z_value
    * under the tie-corrected normal approximation). Rows must carry a
    * unique `idCol` for the total-order tiebreak.
    */
  def mannWhitney(df: DataFrame, grpCol: String, valCol: String,
      group1: String, group2: String, idCol: String): DataFrame =
    graft.operators.AggOps.mannWhitneyOn(df, grpCol, valCol,
      group1, group2, idCol)

  /** Kruskal–Wallis H across ALL groups of `grpCol` — the k-group
    * extension of [[mannWhitney]] with the same exact integer rank
    * algebra; the cross-group Σ R²/n term folds left-to-right over the
    * group-sorted list so the float reduction is deterministic. One row
    * (n, k, tie_sum, h_value, h_corrected).
    */
  def kruskalWallis(df: DataFrame, grpCol: String, valCol: String,
      idCol: String): DataFrame =
    graft.operators.AggOps.kruskalWallisOn(df, grpCol, valCol, idCol)

  /** Benjamini–Hochberg FDR screen over every (g1, g2) cell of the
    * frame: Welch z of each cell's mean `valCol` against the rest of
    * the data (exact milli-unit moments, one corpus pass), two-sided
    * p by the Abramowitz–Stegun normal-CDF polynomial, then the BH
    * step-up at rate q = `qPerMille`/1000 across all m cells. Returns
    * one row per cell (g1, g2, n, mean_v, z_value, p_value, p_rank,
    * bh_crit, significant) — `significant` already carries the
    * step-up rule (every rank ≤ the last passing rank rejects).
    */
  def bhFdr(df: DataFrame, g1Col: String, g2Col: String, valCol: String,
      qPerMille: Int = 50): DataFrame =
    graft.operators.AggOps.bhFdrOn(df, g1Col, g2Col, valCol, qPerMille)

  /** Sequence entropy rate: per from-state conditional next-event
    * entropy H(next | from) in nats over per-`userCol` consecutive
    * pairs (ordered by `tsCol`, ties by `idCol`), plus each state's
    * contribution (from-state share × H) — the rows sum to the
    * first-order entropy rate of the journey process. Low ⇒
    * predictable/funnel-like; high ⇒ exploratory.
    */
  def sequenceEntropy(df: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String): DataFrame =
    graft.operators.EventOps.sequenceEntropyOn(
      df.select(col(userCol).as("user_id"), col(typeCol).as("event_type"),
        col(tsCol).as("ts"), col(idCol).as("event_id")))

  /** t-closeness (Li et al., ICDE 2007) — the third privacy leg after
    * [[kAnonymity]]/[[lDiversity]]: per quasi-identifier group, the
    * Earth-Mover's Distance between the group's ORDERED sensitive
    * distribution and the global one (normalized cumulative-difference
    * form), on an exact integer grid. Returns the `topN` worst groups
    * (quasi cols, n_rows, m_bands, t_value, above at
    * t > tPerMille/1000) — the skewness-attack review queue.
    */
  def tCloseness(df: DataFrame, quasi: Seq[String],
      sensitive: org.apache.spark.sql.Column, tPerMille: Int = 200,
      topN: Int = 15): DataFrame =
    graft.operators.AggOps.tClosenessOn(df, quasi, sensitive, tPerMille,
      topN)

  /** CUPED variance-reduced A/B uplift (Deng et al., WSDM 2013): per
    * `userCol` pre/post milli-unit sums (rows matching the SQL predicate
    * `preExpr` are the pre-period), deterministic residue-class arm
    * assignment, pooled θ = cov(X,Y)/var(X) from exact moments, and the
    * adjusted uplift (meanY_A − meanY_B) − θ(meanX_A − meanX_B). One
    * row (n, n_a, n_b, theta, rho2_permille, uplift_raw, uplift_cuped);
    * rho2_permille is the expected variance-reduction share.
    */
  def cuped(df: DataFrame, userCol: String, valCol: String,
      preExpr: String): DataFrame =
    graft.operators.AggOps.cupedOn(df, userCol, valCol, preExpr)

  /** Local Outlier Factor (Breunig et al. 2000) over an embedding
    * frame (vec_id, label, embedding): exactly-k cosine neighborhoods
    * with deterministic tie-breaks, integer-unit reachability sums,
    * top-`topN` rows by LOF descending (vec_id, label, k_dist,
    * lrd_units, lof). LOF ≈ 1 is locally dense; ≫ 1 flags isolated
    * vectors a curation pass should inspect.
    */
  def lofOutliers(spark: org.apache.spark.sql.SparkSession,
      embeddings: DataFrame, k: Int = 10, topN: Int = 20): DataFrame =
    graft.operators.SimOps.lofOn(spark, embeddings, k, topN)

  /** Poisson-bootstrap percentile confidence interval for the mean of
    * `valCol`: B replicates, each weighting every row by a
    * deterministic hash-derived Poisson(1) draw (one map-side pass, no
    * resample shuffle), CI = 2.5/97.5 order statistics of the replicate
    * means. One row (n, b_reps, mean_v, ci_lo, ci_hi); replayable
    * bit-identically in any engine.
    */
  def bootstrapCi(df: DataFrame, valCol: String, idCol: String,
      bReps: Int = 200): DataFrame =
    graft.operators.AggOps.bootstrapCiOn(df, valCol, idCol, bReps)

  /** Contrastive hard-negative triplet mining: for each anchor row
    * (rows matching `anchorPred` — keep the batch broadcast-small),
    * emit its exact top-1 neighbor as the positive and the
    * highest-ranked top-`k` shortlist entry at least `margin` cosine
    * below the positive as the hard negative (NULL when the shortlist
    * has none — deepen k). Returns
    * (qid, pos_id, pos_cos, neg_id, neg_cos, gap).
    */
  def mineTriplets(df: DataFrame, idCol: String, vecCol: String,
      anchorPred: Column, k: Int = 20, margin: Double = 0.05): DataFrame = {
    val s = df.sparkSession
    val withNrm = df.withColumn("nrm",
      sqrt(graft.functions.NativeExprs.dot(s, col(vecCol), col(vecCol))))
    graft.operators.SimOps.tripletsOn(s, withNrm, idCol, vecCol,
      anchorPred, k, margin)
  }

  /** Copy-provenance pairs: the `k` document pairs sharing the most
    * distinct 3-gram shingles, counting only grams with corpus
    * frequency 2..`maxFreq` (the hub cap bounds candidates). Returns
    * (a, b, n_shared) — the "who copied whom" lineage read.
    */
  def copyPairs(docs: DataFrame, idCol: String, textCol: String,
      maxFreq: Long = 8, k: Int = 20): DataFrame = {
    val sh = docs.select(col(idCol).as("doc_id"),
      array_sort(array_distinct(transform(
        graft.operators.TextOps.shingles3(split(col(textCol), " ")),
        xxhash64(_)))).as("sh"))
    graft.operators.DedupOps.copyPairsOnShingles(sh, maxFreq, k)
  }

  /** Leakage-safe train/valid/test split: near-duplicate documents land
    * in the SAME split — the split key is the connected-component root
    * of `pairs` (any (a, b) near-dup edge frame, e.g. from
    * [[nearDuplicatePairs]]), hashed with the deterministic
    * multiplicative idiom. Docs in no pair are singleton clusters.
    * Returns per-doc (idCol, root, split); zero cross-split pairs by
    * construction.
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "a", bCol: String = "b", trainPerMille: Int = 800,
      validPerMille: Int = 100): DataFrame = {
    val clusters = graft.operators.DedupOps
      .clusterPairsOn(pairs, aCol, bCol)
    graft.operators.DedupOps.leakageSafeSplitOn(docs, idCol, clusters,
      trainPerMille, validPerMille)
  }

  /** T5-style span corruption over (doc_id, lang, text) rows: contiguous
    * 3-token blocks are masked by a deterministic (doc, block) hash,
    * each masked block collapses to one '<x>' sentinel in the corrupted
    * text, and the dropped tokens become the reconstruction target.
    * Returns (doc_id, lang, n_tokens, n_spans, n_masked,
    * corrupted_text, targets_text).
    */
  def spanCorrupt(docs: DataFrame, ratePerMille: Int = 150): DataFrame =
    graft.operators.TextOps.spanCorruptOn(docs, ratePerMille)

  /** Deterministic MLM-style token masking over (doc_id, lang, text)
    * rows: token i of doc d is replaced by '<m>' iff a wrap-safe
    * multiplicative hash of (d, i) lands under `ratePerMille`. The same
    * input always yields the same corruption — reproducible masked
    * pre-training data. Returns
    * (doc_id, lang, n_tokens, n_masked, masked_text).
    */
  def mlmMask(docs: DataFrame, ratePerMille: Int = 150): DataFrame =
    graft.operators.TextOps.mlmMaskOn(docs, ratePerMille)

  /** Hill tail-index estimate of `valCol`'s upper tail:
    * α̂ = k / Σ ln(x_(i)/x_(k+1)) over the k largest positive values.
    * Bounded top-(k+1) selection, micro-quantized ln sum (engine-
    * replayable). One row (k_tail, ref_milli, alpha_hill). Contract:
    * more than k positive values — CHECKED EAGERLY: this call runs a
    * bounded count action and throws IllegalArgumentException during
    * DataFrame construction when the contract fails, unlike the
    * lazy plan-building of the other Graft entries (an estimator over
    * too few tail points would silently return garbage otherwise).
    */
  def hillTailIndex(df: DataFrame, valCol: String, k: Int = 200): DataFrame =
    graft.operators.AggOps.hillTailOn(df, valCol, k)

  /** Exact trimmed + winsorized mean of `valCol`: drop (trimmed) or
    * clamp (winsorized) the k = floor(n·trim‰/1000) most extreme values
    * per tail. No global sort — four exact order statistics via
    * range-partition rank selection plus one conditional-sum pass, all
    * in milli-unit BIGINT arithmetic. One row
    * (n, k, mean_v, trimmed_mean, winsorized_mean).
    */
  def trimmedMean(df: DataFrame, valCol: String,
      trimPerMille: Int = 100): DataFrame =
    graft.operators.AggOps.trimmedMeanOn(df, valCol, trimPerMille)

  /** Max drawdown per group over a signed delta series: running sum,
    * running peak, max(peak − cum). `orderCols` must totally order each
    * group; `deltaCol` is an integer (e.g. milli-unit) net flow.
    * Returns (grpCol, n_events, max_drawdown_milli, final_milli) —
    * all-integer, no float drift.
    */
  def maxDrawdown(df: DataFrame, grpCol: String, orderCols: Seq[String],
      deltaCol: String): DataFrame =
    graft.operators.WindowOps.drawdownOn(df, grpCol, orderCols, deltaCol)

  /** Mutual information I(X;Y) in nats between two categorical columns:
    * one pass for the cell counts, margins from the bounded cell table,
    * micro-quantized ln terms (engine-replayable). One row
    * (n, n_cells, mi_nats).
    */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame =
    graft.operators.AggOps.mutualInfoOn(df, xCol, yCol)

  /** Shard-growth rebalance report: fraction of rows that move when the
    * shard count grows `nBefore` → `nAfter`, under naive modulo
    * placement vs a consistent-hashing ring with `vnodes` virtual nodes
    * per shard. Two rows (strategy, n_docs, n_moved, moved_permille);
    * the ring compiles to a static expression — no join.
    */
  def shardRebalance(df: DataFrame, idCol: String, nBefore: Int = 16,
      nAfter: Int = 17, vnodes: Int = 8): DataFrame =
    graft.operators.IoOps.shardRebalanceOn(df, idCol, nBefore, nAfter,
      vnodes)

  /** Burstiness B = (σ−μ)/(σ+μ) of inter-arrival gaps (minutes) within
    * each (grpCol, subjCol) stream, reported per grpCol: −1 periodic,
    * ≈ 0 Poisson, → 1 heavy-tailed bursts. One partitioned window +
    * one aggregate; engine-replayable moments.
    */
  def burstiness(df: DataFrame, grpCol: String, subjCol: String,
      tsCol: String, idCol: String): DataFrame =
    graft.operators.EventOps.burstinessOn(df, grpCol, subjCol, tsCol,
      idCol)

  /** Per-group OLS trend of `valCol` vs `tsCol` in value-units per day:
    * one aggregation pass computing five integer moments per group
    * (t in minutes since the group's first event, v in milli-units),
    * then a single double expression — engine-replayable. Groups with
    * fewer than two distinct minutes yield a NULL slope.
    */
  def trend(df: DataFrame, grpCol: String, tsCol: String,
      valCol: String): DataFrame =
    graft.operators.EventOps.trendOn(df, grpCol, tsCol, valCol)

  /** A/B uplift readout: difference of group means (grpA − grpB) with a
    * paired Poisson-bootstrap 2.5/97.5 percentile band (replicate b
    * draws the same hash stream in both groups). One row
    * (n_a, n_b, mean_a, mean_b, uplift, ci_lo, ci_hi); significant at
    * ~5% when the band excludes zero.
    */
  def abBootstrap(df: DataFrame, grpCol: String, valCol: String,
      idCol: String, grpA: String, grpB: String,
      bReps: Int = 200): DataFrame =
    graft.operators.AggOps.abBootstrapOn(df, grpCol, valCol, idCol,
      grpA, grpB, bReps)

  /** 2-D skyline (Pareto front): rows not dominated on
    * (minimize `minCol`, maximize `maxCol`) — no other row is at most
    * as expensive AND at least as good with one strict inequality.
    * Bucket-pruned prefix-max plan (no all-pairs join, no global
    * window); `minCol` is quantized to integer cents. Returns
    * (idCol, price_cents, size_v) ordered along the frontier.
    */
  def skyline(df: DataFrame, idCol: String, minCol: String,
      maxCol: String, buckets: Int = 256): DataFrame =
    graft.operators.CoreOps.skylineOn(df, idCol, minCol, maxCol, buckets)

  /** Spearman rank correlation between two numeric columns: exact
    * doubled average ranks (milli-unit value blocks, BIGINT moments),
    * Pearson over the ranks with decimal-exact covariance products;
    * one row (n, six moment sums, rho). Rows need a unique `idCol`.
    */
  def spearman(df: DataFrame, xCol: String, yCol: String,
      idCol: String): DataFrame =
    graft.operators.AggOps.spearmanOn(df, xCol, yCol, idCol)

  /** [[spearman]] past the BIGINT exactness bound: the same rank
    * pipeline with the moment sums LIFTED to decimal(38,0) — exact to
    * n ≈ 2.9·10¹² rows (4n³ ≤ 10³⁸), where [[spearman]] refuses loudly
    * past ~1.3·10⁶. The ρ chain is the identical expression; the cost
    * is decimal-vs-long summation on the rank join, dwarfed by the two
    * global ranks both paths pay. Sum columns come back as
    * DECIMAL(38,0). Below the bound the two paths agree bit-for-bit
    * (spec-pinned); use this one when your frame can exceed the bound,
    * the BIGINT path when you want the cheaper buffers and the
    * overflow refusal as a data-size tripwire.
    */
  def spearmanLifted(df: DataFrame, xCol: String, yCol: String,
      idCol: String): DataFrame =
    graft.operators.AggOps.spearmanDecimalOn(df, xCol, yCol, idCol)

  /** Lag-k autocorrelation of the hourly event-count series of any
    * timestamped frame (`tsCol` is read as `ts`): gap-filled dense
    * spine, exact integer moments, one row per lag with (lag, n_hours,
    * n_terms, num, den, acf) — the seasonality screen.
    */
  def autocorr(df: DataFrame, lags: Seq[Int] = Seq(1, 2, 3, 6, 12, 24))
      : DataFrame =
    graft.operators.StreamOps.autocorrOn(df, lags)

  /** Perceptual-hash image near-dup over any (id, PNM payload) frame:
    * each payload runs through the real PNM decoder into an 8×8
    * average-hash, candidates block on shared 16-bit hash bands (banded
    * LSH — never all-pairs), and surviving pairs report their 64-bit
    * hamming distance ≤ `maxHamming` as (a, b, hamming). Undecodable
    * payloads are skipped.
    */
  def imageNearDup(spark: SparkSession, df: DataFrame, idCol: String,
      payloadCol: String, maxHamming: Int = 6): DataFrame =
    graft.operators.MultimodalOps.phashPairsOn(spark, df, idCol,
      payloadCol, maxHamming)

  /** χ² independence statistic + Cramér's V for any two categorical
    * columns: the full contingency grid (zero cells included), exact
    * micro-unit cell sums, one-row summary (n, n_a, n_b, chi2_units,
    * cramers_v). A single-category axis yields inf/NaN (nothing to
    * associate).
    */
  def chi2(df: DataFrame, aCol: String, bCol: String): DataFrame =
    graft.operators.AggOps.chi2On(df, aCol, bCol)

  /** Pairwise Pearson correlation matrix over the named numeric columns
    * in ONE aggregate pass (all moment sums together, DECIMAL-exact
    * accumulation): one (ma, mb, n, r) row per unordered pair — the
    * redundant-feature screen run before training. Constant columns
    * yield r = NaN (zero variance).
    */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame =
    graft.operators.AggOps.corrMatrixOn(df, cols.map(c => c -> c))

  /** Gini concentration coefficient of the non-negative long `valueCol`
    * per `groupCol` (tie order pinned by `keyCol`): (group, n, total,
    * gini) with gini ∈ [0, (n−1)/n]. Exact rank-formula arithmetic.
    * Degenerate case: a group whose values are ALL zero has total = 0 and
    * the rank formula divides by n·total, so its gini is NaN (the
    * concentration of nothing is undefined); filter zero-total groups
    * first if 0.0 is the wanted convention.
    */
  def gini(df: DataFrame, groupCol: String, keyCol: String,
      valueCol: String): DataFrame =
    graft.operators.AggOps.giniOn(df, groupCol, keyCol, valueCol)
      .withColumnRenamed("grp", "group")

  /** Top-20 opening event paths (first `steps` types per user in
    * (ts, id) order, joined " > "): (path, n_users).
    */
  def topPaths(df: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String, steps: Int = 5): DataFrame =
    graft.operators.EventOps.pathsTopkOn(
      df.select(col(userCol).as("user_id"), col(typeCol).as("event_type"),
        col(tsCol).as("ts"), col(idCol).as("event_id")), steps)

  /** DAU/MAU stickiness per calendar month, integral per-mille:
    * (month, n_days, sum_dau, mau, stickiness_permille).
    */
  def stickiness(df: DataFrame, userCol: String, tsCol: String): DataFrame =
    graft.operators.EventOps.stickinessOn(
      df.select(col(userCol).as("user_id"), col(tsCol).as("ts")))

  /** Per-node local clustering coefficient of an undirected edge list
    * (self-loops dropped, duplicate/reversed edges deduped): top-20
    * (node, deg, n_tri, local_cc) — degree-oriented triangle
    * enumeration, safe on skewed graphs.
    */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    graft.operators.GraphOps.clusteringCoeffOn(
      edges.select(least(col(srcCol), col(dstCol)).as("a"),
          greatest(col(srcCol), col(dstCol)).as("b"))
        .filter(col("a") < col("b"))
        .distinct())

  /** Newman modularity profile of ANY community labeling over a
    * SYMMETRIC edge list (every undirected edge present in both
    * orientations): per community (top-20 by size),
    * q_part = e_in/m − (deg_sum/2m)²; Σ q_part over all communities is
    * the partition's modularity Q. Compose with [[clusterPairs]] (CC
    * labels) or any external clustering. Returns
    * (lbl, n_nodes, deg_sum, e_in, q_part).
    */
  def modularityProfile(edges: DataFrame, labels: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      nodeCol: String = "node", labelCol: String = "lbl"): DataFrame =
    graft.operators.GraphOps.modularityOn(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")),
      labels.select(col(nodeCol).as("node"), col(labelCol).as("lbl")))
}

/** Handle for a persisted incremental near-dedup index — the tables an
  * ingest pipeline keeps between batches ([[Graft.buildDedupIndex]]
  * builds it, [[Graft.probeDedupIndex]] checks a batch against it,
  * [[Graft.appendToDedupIndex]] folds the batch's survivors in,
  * [[Graft.compactDedupIndex]] re-derives the order after drift):
  *
  *   - `shingles`: (doc_id, lang, source, sh) — every indexed doc's
  *     sorted distinct shingle hashes (complete: compaction rebuilds
  *     everything else from it);
  *   - `freq`: (lang, source, h, f) — the FROZEN frequency table
  *     defining the prefix order (part of the index's identity; append
  *     reuses it, compaction re-derives it);
  *   - `prefix`: (doc_id, lang, source, n, pk) — each doc's prefix keys
  *     under that order;
  *   - `buckets`: (doc_id, band, key) minhash band rows when built
  *     `withLsh` (order-free, so append-exact).
  *
  * Persist the four frames as parquet between batches and rebuild the
  * handle from the re-read frames; `threshold` and `blockCols` travel
  * with it so every probe/append replays the build's parameters.
  */
final case class DedupIndex(shingles: DataFrame, freq: DataFrame,
    prefix: DataFrame, buckets: Option[DataFrame], threshold: Double,
    blockCols: Seq[String]) {
  private[api] def tables: Map[String, DataFrame] =
    Map("shingles" -> shingles, "freq" -> freq, "prefix" -> prefix) ++
      buckets.map("buckets" -> _)
}

/** The result bundle of [[Graft.advanceSnapshot]]: the advanced index
  * plus the stage frames (diff / applied / matches / appended), all in
  * the index's shaped space (doc_id, lang, source, text). */
final case class SnapshotAdvance(index: DedupIndex, diff: DataFrame,
    applied: DataFrame, matches: DataFrame, appended: DataFrame)
