package graft.operators

import graft.{OpFamily, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The END-TO-END training-corpus pipeline — every stage the other
  * families prove in isolation, composed in production order over the
  * planted duplication corpus: quality gate → exact dedup (keep-first)
  * → near-dedup (keep docs with no smaller-id near-duplicate) →
  * temperature mixing → split assignment → per-(split, lang) summary.
  * This is the query a user of the library actually ships; registering
  * the composition catches the integration bugs the per-stage oracles
  * cannot (stage order, column threading, filter interactions).
  *
  * Determinism stance (what makes a five-stage pipeline oracle-able):
  * every stage is a pure function of (doc_id, text, lang, source) —
  * token-count gate, md5 of normalized content, exact blocked Jaccard
  * with the keep-smallest rule, per-lang rates derived integrally from
  * survivor counts, multiplicative-hash selection. The mix and split
  * stages deliberately use DIFFERENT coprime multipliers (503 vs 761):
  * reusing one hash for both decisions would make the split bands a
  * deterministic function of the mix cut (a real pipeline bug — the
  * kept residue classes would fill 'train' first); two coprime
  * multipliers scatter the residues independently-enough while staying
  * engine-replayable (the [[FilterOps.sampleHash]] residue-class
  * assumption applies to both).
  *
  * Near-dedup here is the SORTED-GREEDY rule (drop any doc with a
  * smaller-id near-dup) rather than full connected components: one
  * anti-join instead of an iterative contraction, and on duplicate
  * CLUSTERS (planted copies/truncations) it keeps exactly the minimum
  * id — the same canonical choice as [[DedupOps.dedupSurvivors]] — while
  * on similarity CHAINS it is the standard streaming-dedup
  * approximation. Candidates still come from the prefix-filtered exact
  * Jaccard join ([[DedupOps.blockedJaccardPairs]]), never all-pairs.
  */
object PipelineOps extends OpFamily {

  /** The five-stage frame chain, shared by both registered queries. */
  private def stages(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val corpus = GraphOps.dupCorpus(s, d)
    // 1. quality gate: whitespace token count ≥ 20 (the cheap fraction
    // of the text_quality feature set that gates real crawls first)
    val quality = corpus.filter(size(split(col("text"), " ")) >= 20)
    // 2. exact dedup: keep the minimum doc_id per normalized content
    // fingerprint (one groupBy + semi-join, the dedup_keep_first rule)
    val fped = quality.withColumn("fp",
      md5(TextOps.normalizedText(col("text"))))
    // exact has TWO consumers (the Jaccard pair build and the anti-join
    // probe) and survivors THREE (rates, mixed, the funnel count) — the
    // two-consumers rule: materialize, or every downstream stage (and
    // each of the funnel's five counts) re-executes the whole upstream
    // chain. Lazy composition planned 184 exchanges for pipeline_funnel;
    // checkpointed, each stage's subtree runs once.
    val exact = fped.join(
        fped.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id")),
        Seq("fp", "doc_id"), "left_semi")
      .drop("fp")
      .localCheckpoint()
    // 3. near-dedup survivors: drop every doc that appears as the LARGER
    // id of a Jaccard ≥ 0.3 pair over the exact-surviving corpus.
    // PROBE, don't rebuild: J(a,b) ≥ τ is a pairwise predicate of the
    // two documents alone (shingle sets fixed per doc, blocks are doc
    // attributes), so the persisted full-[[GraphOps.dupCorpus]] pair
    // artifact semi-joined to the exact-survivor id set on BOTH
    // endpoints is row-for-row identical to running
    // blockedJaccardPairs(exact) inline (equality property:
    // PrefixJoinSpec "pipeline probe equals inline build"). Turns the
    // two most expensive bench entries from a per-run pair build into a
    // parquet probe of the artifact the graph suite already shares.
    val ids = exact.select(col("doc_id"))
    val dropped = GraphOps.dupGraphPairs(s, d)
      .join(ids.select(col("doc_id").as("a")), Seq("a"), "left_semi")
      .join(ids.select(col("doc_id").as("b")), Seq("b"), "left_semi")
      .select(col("b").as("doc_id")).distinct()
    val survivors = exact.join(dropped, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    // 4. temperature mix (α = ½): per-lang keep-rate ⌊1000·√(nmin/n)⌋
    // derived from SURVIVOR counts — the rates must reflect the corpus
    // the mix actually samples, not the raw one
    val counts = survivors.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(min(col("n")).as("nmin"))))
      .select(col("lang"),
        floor(lit(1000.0) * sqrt(col("nmin").cast("double") / col("n")))
          .cast("long").as("rate"))
    val mixed = survivors.join(broadcast(rates), Seq("lang"))
      .filter(pmod(pmod(col("doc_id"), lit(1000)) * lit(503L), lit(1000)) <
        col("rate"))
    (corpus, quality, exact, survivors, mixed)
  }

  /** The shipped corpus: per (split, lang) doc and token mass after all
    * five stages. What a training run reads first.
    */
  def corpusPipeline(s: SparkSession, d: String): DataFrame = {
    val (_, _, _, _, mixed) = stages(s, d)
    val h = pmod(pmod(col("doc_id"), lit(1000)) * lit(761L), lit(1000))
    mixed
      .select(col("lang"),
        when(h < 800, lit("train")).when(h < 900, lit("val"))
          .otherwise(lit("test")).as("split"),
        size(split(col("text"), " ")).as("n_toks"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).cast("bigint").as("n_tokens"))
      .orderBy(col("split"), col("lang"))
  }

  /** The attrition funnel: doc count after each stage, the first thing a
    * pipeline operator looks at when the shipped corpus shrinks. One row
    * per stage, counts composed from the same frame chain (each count is
    * an independent aggregate — five bounded jobs, not one pass, which
    * is exactly what the oracle replays).
    */
  def pipelineFunnel(s: SparkSession, d: String): DataFrame = {
    val (corpus, quality, exact, survivors, mixed) = stages(s, d)
    def stage(n: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(n).as("stage"), lit(name).as("name"), col("n_docs"))
    stage(1, "raw", corpus)
      .unionByName(stage(2, "quality", quality))
      .unionByName(stage(3, "exact_dedup", exact))
      .unionByName(stage(4, "near_dedup", survivors))
      .unionByName(stage(5, "mixed", mixed))
      .orderBy(col("stage"))
  }

  /** Entity-resolution (record-linkage) pipeline: block/verify candidate
    * matches with the edit-distance join (FastSS deletion neighborhoods,
    * d ≤ 1), transitively close the match graph into entities
    * (star-contraction CC), and report each entity with its canonical
    * (minimum-id) record. The dirty feed plants two GENERATIONS of
    * one-character deletions on distinct document name-prefixes —
    * source ↔ v1 ↔ v2 where ed(source, v2) = 2 — so entity formation
    * genuinely needs the transitive closure, not just pair grouping
    * (the sorted-greedy near-dedup rule would be wrong here).
    *
    * Scale shape: candidates come from the deletion-neighborhood
    * equi-join (never all-pairs), CC is O(log d) star rounds, the entity
    * report is one bounded groupBy plus a join back for the canonical
    * name. The oracle brute-forces pairs under a SOUND ed≤1 blocking
    * (length diff ≤ 1 AND (prefix-2 or suffix-2 equal) — complete for
    * strings of length ≥ 4, which the feed filter guarantees) and
    * replays the closure as a recursive CTE.
    */
  def linkageEntities(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), substring(col("text"), 1, 40).as("name"))
      .filter(length(col("name")) >= 4)
      .groupBy(col("name")).agg(min(col("doc_id")).as("id"))
      .select(col("id"), col("name"))
    // delete the character at 1-based position (pos(id) mod len) + 1 —
    // the same two IEEE-free integer/substring expressions the oracle
    // spells, so variants match byte-for-byte
    def delOne(src: DataFrame, pos: Column => Column): DataFrame = {
      val p = pos(col("id")).cast("int") + 1
      src.select((col("id") + 1000000).as("id"),
        concat(col("name").substr(lit(1), p - 1),
          col("name").substr(p + 1, length(col("name")) - p)).as("name"))
    }
    val v1 = delOne(base.filter(col("id") % 3 === 0),
      i => i % length(col("name")))
    val v2 = delOne(v1, i => (i * 31) % length(col("name")))
    val feed = base.unionByName(v1).unionByName(v2)
    val pairs = JoinOps.editDistancePairsOn(feed, "id", "name", maxDist = 1)
    DedupOps.clusterPairsOn(pairs)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"), max(col("doc_id")).as("max_member"))
      .join(feed.select(col("id").as("cluster_id"),
        col("name").as("canonical_name")), Seq("cluster_id"))
      .select(col("cluster_id"), col("n_members"), col("max_member"),
        col("canonical_name"))
      .orderBy(col("cluster_id"))
  }

  /** INCREMENTAL ADMISSION PIPELINE — the per-ingest counterpart of
    * [[corpusPipeline]]'s batch rebuild: the incoming batch (the
    * planted re-crawls, doc_id ≥ 2·PlantBase) runs the crawl front
    * door's admission checks against YESTERDAY'S corpus — the stage-1
    * token quality gate, an exact-duplicate fingerprint probe against
    * the index, and the near-dup probe against the PERSISTED
    * incremental dedup index ([[DedupOps.dedupIncremental]]'s artifact
    * tables: nothing index×index, nothing batch×batch) — and reports
    * per-verdict doc/token attrition. Verdict precedence mirrors stage
    * order: quality_reject → exact_dup → near_dup → admitted. At
    * 100 TB every probe is bounded by the BATCH side (the fingerprint
    * anti-probe is one hash equi-join; the near-dup probe reads the
    * batch's posting lists), which is what makes per-ingest admission
    * affordable where a corpus re-dedup is not.
    */
  def pipelineIngest(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    // the batch exercises every admission path: truncated re-crawls
    // (near-dups of their originals), verbatim resubmissions (exact
    // dups), and token-reversed docs (novel content: 3-shingles of a
    // reversed sequence share ~nothing with the original's)
    val toks = split(col("text"), " ")
    val incoming = base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 200000L).as("doc_id"), col("lang"),
        col("source"),
        concat_ws(" ", slice(toks, lit(1),
          greatest(size(toks) - 5, lit(1)))).as("text"))
      .unionByName(base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 300000L).as("doc_id"), col("lang"),
          col("source"), col("text")))
      .unionByName(base.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 400000L).as("doc_id"), col("lang"),
          col("source"),
          concat_ws(" ", reverse(toks)).as("text")))
      .localCheckpoint() // probed three times (fp, near-dup, verdicts)
    def fp(c: Column) = md5(TextOps.normalizedText(c))
    val idxFp = base.select(fp(col("text")).as("fp")).distinct()
      .withColumn("fp_hit", lit(1))
    // near-dup probe against the SAME persisted index artifact
    // dedup_incremental builds (identical index side: the originals)
    val parts = ArtifactCache.readOrBuildAll(s,
      ArtifactCache.dir(s, d, "documents", "graft_pairs",
        "incr_index_tau30@r1"), Seq("shingles", "freq", "prefix"))(
      DedupOps.dedupIndexTables(base, 0.3))
    val nearIds = DedupOps.incrementalNearDupsProbe(parts("shingles"),
        parts("freq"), parts("prefix"), incoming, 0.3)
      .select(col("new_id").as("doc_id")).distinct()
      .withColumn("near_hit", lit(1))
    incoming
      .select(col("doc_id"), fp(col("text")).as("fp"),
        size(split(col("text"), " ")).as("n_toks"))
      .join(idxFp, Seq("fp"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .select(col("n_toks"),
        when(col("n_toks") < 20, lit("quality_reject"))
          .when(col("fp_hit") === 1, lit("exact_dup"))
          .when(col("near_hit") === 1, lit("near_dup"))
          .otherwise(lit("admitted")).as("verdict"))
      .groupBy(col("verdict"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).cast("bigint").as("n_tokens"))
      .orderBy(col("verdict"))
  }

  /** VECTOR-INGEST ADMISSION FUNNEL — the embedding twin of
    * [[pipelineIngest]]: every incoming vector (the odd vec_ids) runs
    * the production admission chain against the shared even-ids
    * nlist-20 index —
    *
    *   1. OOD GATE ([[SimOps.oodFlagsOn]]): distance vs the home
    *      cell's exact p95 base radius; geometric novelty routes to
    *      `ood_quarantine` (no precedent — review before it can skew
    *      the index);
    *   2. SEMDEDUP CHECK for the gate's survivors: any index vector
    *      in the HOME cell at cosine ≥ 0.35 marks the arrival
    *      `semantic_dup` (cell-bucketed candidates, never all-pairs —
    *      the [[SimOps.semanticDedup]] shape);
    *   3. the rest are `admitted` — exactly the rows an index
    *      append/recenter batch would take.
    *
    * Per-verdict rollup (n_vecs + integral micro-unit distance mass,
    * so the report is engine-exact). Registering the COMPOSITION
    * catches the integration bugs the per-stage oracles cannot —
    * stage order (the semantic probe must not see quarantined rows),
    * column threading through the gate, verdict precedence. This is
    * the batch twin of the streaming
    * [[graft.streaming.StreamPipelines.oodAdmissionSink]] + dedup
    * chain a vector pipeline ships.
    */
  def vectorIngest(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
      .localCheckpoint() // split into index + incoming, re-joined below
    val base = ArtifactCache.readOrBuildAll(s,
        ArtifactCache.dir(s, d, "embeddings", "graft_ivf",
          "nlist_20_even@r1"), Seq("cells", "centroids")) {
      val (cells, centroids) = SimOps.lloydCellsOn(s,
        e.filter(col("vec_id") % 2 === 0), nlist = 20)
      Seq("cells" -> cells, "centroids" -> centroids)
    }
    val flags = SimOps.oodFlagsOn(s, base("cells"), base("centroids"),
        e.filter(col("vec_id") % 2 =!= 0))
      .localCheckpoint() // consumed by the probe AND the verdict rollup
    // the semantic probe sees ONLY the gate's survivors, inside their
    // home cells: candidates are (survivor × same-cell index vectors)
    val cand = flags.filter(!col("flagged"))
      .select(col("vec_id"), col("cid"))
      .join(e, Seq("vec_id"))
      .withColumn("nn",
        sqrt(graft.functions.NativeExprs.dot(s, col("v"), col("v"))))
    val dupIds = cand
      .join(base("cells").select(col("cid"), col("v").as("vb"),
        col("vn").as("nb")), Seq("cid"))
      .filter(graft.functions.NativeExprs.dot(s, col("v"), col("vb"))
        / (col("nn") * col("nb")) >= 0.35)
      .select(col("vec_id")).distinct()
      .withColumn("sem_hit", lit(1))
    flags
      .join(dupIds, Seq("vec_id"), "left")
      .select(col("du"),
        when(col("flagged"), lit("ood_quarantine"))
          .when(col("sem_hit") === 1, lit("semantic_dup"))
          .otherwise(lit("admitted")).as("verdict"))
      .groupBy(col("verdict"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("du")).as("du_units"))
      .orderBy(col("verdict"))
  }

  /** SNAPSHOT-ADVANCE PIPELINE — the daily corpus job, registered as
    * ONE composition (r18 verdict #1):
    * [[graft.operators.IoOps.snapshotDiffOn]] → CDC apply →
    * index expire(removed ∪ changed) → probe(added ∪ changed) →
    * append(survivors), via
    * [[graft.operators.DedupOps.advanceSnapshotTables]] (also the
    * [[graft.api.Graft.advanceSnapshot]] core — ordering rationale and
    * scale shape documented there). The report is the per-stage
    * doc/token funnel an operator audits after every advance:
    *
    *   1_old / 2_new — the snapshots; 3_diff_* — the classification
    *   (tokens counted on the side the status is ABOUT: old for
    *   removed, new otherwise); 4_applied — the advanced store
    *   (row-identical to 2_new, the applyCdc invariant, visible right
    *   in the report); 5_expired — tombstoned index docs (old text);
    *   6_rejected — batch docs with a ≥ τ match in the post-expire
    *   index (the planted truncations finding their stable originals);
    *   7_appended — the survivors; 8_index — the advanced index's
    *   holdings (= old − expired + appended, the LSM balance a
    *   monitor asserts).
    *
    * Fixture: old = ids % 13 ≠ 0; new = ids % 11 ≠ 0 with % 7 = 0
    * re-crawled (" v2") — the io_snapshot_diff membership/content
    * splits — PLUS planted truncations (+200000) of stable originals
    * (% 5 = 0, untouched by the other splits), so the probe stage has
    * true near-dup work to reject. Content-addressed build-once
    * artifact; fully oracle-checked (statuses, the applied set, the
    * brute-force ≥ 0.3 probe against exactly the surviving index docs,
    * and every rollup).
    */
  def snapshotAdvance(s: SparkSession, d: String): DataFrame =
    ArtifactCache.readOrBuild(s,
      ArtifactCache.dir(s, d, "documents", "graft_pairs",
        "snapshot_advance_tau30@r1")) {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
      val toks = split(col("text"), " ")
      val oldSnap = docs.filter(col("doc_id") % 13 =!= 0)
        .localCheckpoint() // index build + diff + expired/index stages
      val newSnap = docs.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"), col("lang"), col("source"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 5 === 0
            && col("doc_id") % 7 =!= 0 && col("doc_id") % 11 =!= 0
            && col("doc_id") % 13 =!= 0)
          .select((col("doc_id") + 200000L).as("doc_id"), col("lang"),
            col("source"),
            concat_ws(" ", slice(toks, lit(1),
              greatest(size(toks) - 5, lit(1)))).as("text")))
        .localCheckpoint() // diff + batch + new stage
      val adv = DedupOps.advanceSnapshotTables(
        DedupOps.dedupIndexTables(oldSnap, 0.3).toMap,
        oldSnap, newSnap, 0.3)
      def tok(c: Column) = size(split(c, " ")).cast("long")
      def stageOf(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(tok(col("text"))), lit(0L)).as("n_tokens"))
          .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
      val diffStages = adv("diff").groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(when(col("status") === "removed", col("tok_old"))
            .otherwise(col("tok_new"))), lit(0L)).as("n_tokens"))
        .select(concat(lit("3_diff_"), col("status")).as("stage"),
          col("n_docs"), col("n_tokens"))
      val batch = newSnap.join(adv("diff")
          .filter(col("status").isin("added", "changed"))
          .select(col("doc_id")), Seq("doc_id"), "left_semi")
      val rejected = batch.join(adv("matches")
        .select(col("new_id").as("doc_id")).distinct(), Seq("doc_id"),
        "left_semi")
      val expired = oldSnap.join(adv("tombstones"), Seq("doc_id"),
        "left_semi")
      val indexDocs = oldSnap.join(adv("tombstones"), Seq("doc_id"),
          "left_anti")
        .unionByName(adv("survivors"))
      Seq(stageOf("1_old", oldSnap), stageOf("2_new", newSnap))
        .reduce(_ unionByName _)
        .unionByName(diffStages)
        .unionByName(Seq(
          stageOf("4_applied", adv("applied")),
          stageOf("5_expired", expired),
          stageOf("6_rejected", rejected),
          stageOf("7_appended", adv("survivors")),
          stageOf("8_index", indexDocs)).reduce(_ unionByName _))
    }.orderBy(col("stage"))

  /** VECTOR SNAPSHOT ADVANCE — the embedding-side daily job, mirroring
    * [[snapshotAdvance]]'s composition contract on the IVF index:
    * EXPIRE the takedown list first ([[SimOps.expireIvfCells]]), gate
    * the incoming batch against radii derived from the SURVIVING
    * population (the ordering is the contract — radii computed before
    * the expire would admit against precedent that no longer exists),
    * then RECENTER with only the admitted mass. Report = the per-stage
    * vector funnel: 1_base / 2_expired / 3_incoming / 4_admitted /
    * 5_quarantined / 6_index (= base − expired + admitted, the index
    * balance an operator asserts after every advance). Fixture: the
    * even-base index, every 5th base vector tombstoned (the
    * sim_ivf_expire takedown list), the odd ids incoming (the drift
    * fixture batch). Content-addressed build-once artifact; fully
    * oracle-checked (the Lloyd chain, the post-expiry discrete-quantile
    * radii, the flags, and the recenter's re-assign counts).
    *
    * Scale shape: one anti-join (expire), one index-linear radius
    * pass, one batch-bounded gate, one index-linear recenter — the
    * [[SimOps.oodReadmitOn]] cost envelope with the expire prepended.
    */
  def vectorAdvance(s: SparkSession, d: String): DataFrame =
    ArtifactCache.readOrBuild(s,
      ArtifactCache.dir(s, d, "embeddings", "graft_ivf",
        "vector_advance@r1")) {
      val e = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      val base = ArtifactCache.readOrBuildAll(s,
          ArtifactCache.dir(s, d, "embeddings", "graft_ivf",
            "nlist_20_even@r1"), Seq("cells", "centroids")) {
        val (cells, centroids) = SimOps.lloydCellsOn(s,
          e.filter(col("vec_id") % 2 === 0), nlist = 20)
        Seq("cells" -> cells, "centroids" -> centroids)
      }
      val tomb = e.filter(col("vec_id") % 2 === 0
        && col("vec_id") % 5 === 0).select(col("vec_id"))
      val survived = SimOps.expireIvfCells(base("cells"), tomb)
        .localCheckpoint() // consumers: radii + recenter union + count
      val incoming = e.filter(col("vec_id") % 2 =!= 0)
      val flags = SimOps.oodFlagsOn(s, survived, base("centroids"),
          incoming)
        .localCheckpoint() // consumers: admitted split + two stage rows
      val admitted = incoming.join(flags.filter(!col("flagged"))
        .select(col("vec_id")), Seq("vec_id"), "left_semi")
      val (cells2, _) = SimOps.recenterIvfOn(s, survived,
        base("centroids"), admitted)
      def stage(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_vecs"))
          .select(lit(name).as("stage"), col("n_vecs"))
      Seq(
        stage("1_base", base("cells")),
        stage("2_expired", base("cells").join(tomb, Seq("vec_id"),
          "left_semi")),
        stage("3_incoming", incoming),
        stage("4_admitted", flags.filter(!col("flagged"))),
        stage("5_quarantined", flags.filter(col("flagged"))),
        stage("6_index", cells2)).reduce(_ unionByName _)
    }.orderBy(col("stage"))

  val queries = Map(
    "pipeline_corpus" -> (corpusPipeline _),
    "pipeline_linkage" -> (linkageEntities _),
    "pipeline_ingest" -> (pipelineIngest _),
    "pipeline_vector_ingest" -> (vectorIngest _),
    "pipeline_snapshot_advance" -> (snapshotAdvance _),
    "pipeline_vector_advance" -> (vectorAdvance _),
    "pipeline_funnel" -> (pipelineFunnel _))

  // the shared five-stage CTE chain, mirroring [[stages]]: the planted
  // corpus CTE is GraphOps' (same fixture), the shingle/pair CTEs mirror
  // the DedupOps oracles but read the EXACT-DEDUPED survivors
  private val stageCtes =
    s"""corpus AS (${GraphOps.planted}),
       quality AS (SELECT * FROM corpus
         WHERE len(string_split(text, ' ')) >= 20),
       fped AS (SELECT *,
           md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fp
         FROM quality),
       ex AS (SELECT f.doc_id, f.lang, f.source, f.text FROM fped f
         JOIN (SELECT fp, min(doc_id) AS doc_id FROM fped GROUP BY fp) k
           ON f.fp = k.fp AND f.doc_id = k.doc_id),
       shg AS (SELECT doc_id, lang, source,
           list_distinct(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
         FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS w
               FROM ex)),
       prs AS (SELECT b.doc_id AS b
         FROM shg a JOIN shg b
           ON a.lang = b.lang AND a.source = b.source
             AND a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.3),
       surv AS (SELECT * FROM ex e
         WHERE NOT EXISTS (SELECT 1 FROM prs p WHERE p.b = e.doc_id)),
       rates AS (SELECT lang,
           CAST(floor(1000.0 * sqrt(CAST(nmin AS DOUBLE) / n)) AS BIGINT)
             AS rate
         FROM (SELECT lang, count(*) AS n FROM surv GROUP BY lang)
         CROSS JOIN (SELECT min(n) AS nmin FROM
           (SELECT count(*) AS n FROM surv GROUP BY lang))),
       mixed AS (SELECT s.* FROM surv s JOIN rates r USING (lang)
         WHERE ((s.doc_id % 1000) * 503) % 1000 < r.rate)"""

  val oracle = Map(
    "pipeline_vector_advance" -> SimOps.materializeCtes(
      // even Lloyd chain; radii derived from the POST-EXPIRY population
      // (the composition's ordering contract); 6_index counts the
      // recenter union (re-assignment is row-preserving — the
      // row-for-row recenter replay is sim_ood_readmit's oracle)
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings WHERE vec_id % 2 = 0),
         ${SimOps.lloydChainSfx("", "20")},
         cellse AS (SELECT * FROM cells WHERE vec_id % 5 <> 0),
         vnew AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings WHERE vec_id % 2 <> 0),
         ${SimOps.assignCteIn("newcells", "c3", "vnew")},
         bd AS (SELECT cellse.cid, cellse.vec_id,
             CAST(floor((1 - list_cosine_similarity(cellse.v, c3.centroid))
               * 1e6) AS BIGINT) AS du
           FROM cellse JOIN c3 ON cellse.cid = c3.cid),
         p95 AS (SELECT cid, du AS p95_units FROM (
             SELECT cid, du,
               row_number() OVER (PARTITION BY cid ORDER BY du, vec_id)
                 AS rn,
               CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS n_base
             FROM bd)
           WHERE rn = (n_base * 95 + 99) // 100),
         nd AS (SELECT newcells.cid, newcells.vec_id,
             CAST(floor((1 - list_cosine_similarity(newcells.v,
               c3.centroid)) * 1e6) AS BIGINT) AS du
           FROM newcells JOIN c3 ON newcells.cid = c3.cid),
         flg AS (SELECT nd.vec_id FROM nd LEFT JOIN p95
             ON nd.cid = p95.cid
           WHERE p95.p95_units IS NULL OR nd.du > p95.p95_units),
         st AS (
           SELECT '1_base' AS stage, CAST(count(*) AS BIGINT) AS n_vecs
           FROM cells
           UNION ALL
           SELECT '2_expired', CAST(count(*) AS BIGINT) FROM cells
           WHERE vec_id % 5 = 0
           UNION ALL
           SELECT '3_incoming', CAST(count(*) AS BIGINT) FROM vnew
           UNION ALL
           SELECT '4_admitted', CAST(count(*) AS BIGINT) FROM vnew
           WHERE vec_id NOT IN (SELECT vec_id FROM flg)
           UNION ALL
           SELECT '5_quarantined', CAST(count(*) AS BIGINT) FROM flg
           UNION ALL
           SELECT '6_index', CAST(count(*) AS BIGINT) FROM (
             SELECT vec_id FROM cellse
             UNION ALL
             SELECT vec_id FROM vnew
             WHERE vec_id NOT IN (SELECT vec_id FROM flg)))
         SELECT stage, n_vecs FROM st ORDER BY stage"""),
    "pipeline_snapshot_advance" ->
      // full replay: membership/content diff (io_snapshot_diff's
      // comparator), CDC apply (anti changelog ids ∪ U/I payloads),
      // post-expire index = the status-unchanged olds, brute-force
      // exact ≥ 0.3 probe of the batch against exactly them, survivor
      // split, and every per-stage rollup
      """WITH docs AS (SELECT doc_id, lang, source, text FROM documents),
         olds AS (SELECT * FROM docs WHERE doc_id % 13 <> 0),
         news AS (
           SELECT doc_id, lang, source,
               CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                    ELSE text END AS text
             FROM docs WHERE doc_id % 11 <> 0
           UNION ALL
           SELECT doc_id + 200000, lang, source,
               array_to_string(w[1:greatest(len(w) - 5, 1)], ' ')
             FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS w
                   FROM docs)
             WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0 AND doc_id % 11 <> 0
               AND doc_id % 13 <> 0),
         dif AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN NOT (md5(o.text) IS NOT DISTINCT FROM md5(n.text))
                    THEN 'changed'
                  ELSE 'unchanged' END AS status,
             CAST(len(string_split(o.text, ' ')) AS BIGINT) AS tok_old,
             CAST(len(string_split(n.text, ' ')) AS BIGINT) AS tok_new
           FROM olds o FULL OUTER JOIN news n ON o.doc_id = n.doc_id),
         applied AS (SELECT b.* FROM olds b JOIN dif d
             ON b.doc_id = d.doc_id AND d.status = 'unchanged'
           UNION ALL
           SELECT n.* FROM news n JOIN dif d ON n.doc_id = d.doc_id
           WHERE d.status IN ('added', 'changed')),
         sidx AS (SELECT o.* FROM olds o JOIN dif d
           ON o.doc_id = d.doc_id AND d.status = 'unchanged'),
         batch AS (SELECT n.* FROM news n JOIN dif d
           ON n.doc_id = d.doc_id
           WHERE d.status IN ('added', 'changed')),
         shi AS (SELECT doc_id, lang, source,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS w
                 FROM sidx)),
         shb AS (SELECT doc_id, lang, source,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS w
                 FROM batch)),
         mt AS (SELECT DISTINCT b.doc_id FROM shb b JOIN shi i
             ON b.lang = i.lang AND b.source = i.source
           WHERE CAST(len(list_intersect(b.sh, i.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(b.sh, i.sh))) >= 0.3),
         surv AS (SELECT * FROM batch
           WHERE doc_id NOT IN (SELECT doc_id FROM mt)),
         idxf AS (SELECT * FROM sidx UNION ALL SELECT * FROM surv),
         st AS (
           SELECT '1_old' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT)
               AS n_tokens
           FROM olds
           UNION ALL
           SELECT '2_new', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT)
           FROM news
           UNION ALL
           SELECT '3_diff_' || status, CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(CASE WHEN status = 'removed' THEN tok_old
               ELSE tok_new END), 0) AS BIGINT)
           FROM dif GROUP BY status
           UNION ALL
           SELECT '4_applied', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT)
           FROM applied
           UNION ALL
           SELECT '5_expired', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(len(string_split(o.text, ' '))), 0)
               AS BIGINT)
           FROM olds o JOIN dif d ON o.doc_id = d.doc_id
           WHERE d.status IN ('removed', 'changed')
           UNION ALL
           SELECT '6_rejected', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT)
           FROM batch WHERE doc_id IN (SELECT doc_id FROM mt)
           UNION ALL
           SELECT '7_appended', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT)
           FROM surv
           UNION ALL
           SELECT '8_index', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT)
           FROM idxf)
         SELECT stage, n_docs, n_tokens FROM st ORDER BY stage""",
    "pipeline_vector_ingest" -> SimOps.materializeCtes(
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings WHERE vec_id % 2 = 0),
         ${SimOps.lloydChainSfx("", "20")},
         vnew AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings WHERE vec_id % 2 <> 0),
         ${SimOps.assignCteIn("newcells", "c3", "vnew")},
         bd AS (SELECT cells.cid, cells.vec_id,
             CAST(floor((1 - list_cosine_similarity(cells.v, c3.centroid))
               * 1e6) AS BIGINT) AS du
           FROM cells JOIN c3 ON cells.cid = c3.cid),
         p95 AS (SELECT cid, du AS p95_units FROM (
             SELECT cid, du,
               row_number() OVER (PARTITION BY cid ORDER BY du, vec_id)
                 AS rn,
               CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS n_base
             FROM bd)
           WHERE rn = (n_base * 95 + 99) // 100),
         nd AS (SELECT newcells.cid, newcells.vec_id, newcells.v,
             CAST(floor((1 - list_cosine_similarity(newcells.v,
               c3.centroid)) * 1e6) AS BIGINT) AS du
           FROM newcells JOIN c3 ON newcells.cid = c3.cid),
         fl AS (SELECT nd.*, (p.p95_units IS NULL OR nd.du > p.p95_units)
             AS flagged
           FROM nd LEFT JOIN p95 p ON nd.cid = p.cid),
         sem AS (SELECT DISTINCT f.vec_id
           FROM fl f JOIN cells c ON c.cid = f.cid
           WHERE NOT f.flagged
             AND list_cosine_similarity(f.v, c.v) >= 0.35)
         SELECT verdict, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(du) AS BIGINT) AS du_units
         FROM (SELECT du,
             CASE WHEN flagged THEN 'ood_quarantine'
                  WHEN vec_id IN (SELECT vec_id FROM sem)
                    THEN 'semantic_dup'
                  ELSE 'admitted' END AS verdict
           FROM fl)
         GROUP BY verdict ORDER BY verdict"""),
    "pipeline_ingest" ->
      s"""WITH inc AS (
           SELECT doc_id + 200000 AS doc_id, lang, source,
             array_to_string(w[1:greatest(len(w) - 5, 1)], ' ') AS text
           FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS w
                 FROM documents)
           WHERE doc_id % 7 = 0
           UNION ALL
           SELECT doc_id + 300000, lang, source, text FROM documents
           WHERE doc_id % 11 = 0
           UNION ALL
           SELECT doc_id + 400000, lang, source,
             array_to_string(list_reverse(string_split(text, ' ')), ' ')
           FROM documents WHERE doc_id % 13 = 0),
         corpus AS (SELECT doc_id, lang, source, text FROM documents
           UNION ALL SELECT doc_id, lang, source, text FROM inc),
         idxfp AS (SELECT DISTINCT
             md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fp
           FROM documents),
         shg AS (SELECT doc_id, lang, source,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS w
                 FROM corpus)),
         near AS (SELECT DISTINCT n.doc_id
           FROM shg n JOIN shg i
             ON n.lang = i.lang AND n.source = i.source
           WHERE n.doc_id >= 200000 AND i.doc_id < 100000
             AND CAST(len(list_intersect(n.sh, i.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(n.sh, i.sh))) >= 0.3),
         v AS (SELECT
             CASE WHEN len(string_split(text, ' ')) < 20
                    THEN 'quality_reject'
                  WHEN md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g'))
                    IN (SELECT fp FROM idxfp) THEN 'exact_dup'
                  WHEN doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
                  ELSE 'admitted' END AS verdict,
             len(string_split(text, ' ')) AS n_toks
           FROM inc)
         SELECT verdict, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens
         FROM v GROUP BY verdict ORDER BY verdict""",
    "pipeline_linkage" ->
      """WITH RECURSIVE p AS (SELECT min(doc_id) AS id, name FROM (
             SELECT doc_id, substring(text, 1, 40) AS name FROM documents)
           WHERE length(name) >= 4 GROUP BY name),
         v1 AS (SELECT s.id + 1000000 AS id,
             substring(s.name, 1, CAST(s.id % length(s.name) AS INT)) ||
             substring(s.name, CAST(s.id % length(s.name) AS INT) + 2,
               length(s.name)) AS name
           FROM p s WHERE s.id % 3 = 0),
         v2 AS (SELECT s.id + 1000000 AS id,
             substring(s.name, 1,
               CAST((s.id * 31) % length(s.name) AS INT)) ||
             substring(s.name,
               CAST((s.id * 31) % length(s.name) AS INT) + 2,
               length(s.name)) AS name
           FROM v1 s),
         feed AS (SELECT * FROM p UNION ALL SELECT * FROM v1
           UNION ALL SELECT * FROM v2),
         pairs AS (SELECT a.id AS a, b.id AS b FROM feed a JOIN feed b
           ON a.id < b.id
           AND abs(length(a.name) - length(b.name)) <= 1
           AND (substring(a.name, 1, 2) = substring(b.name, 1, 2)
             OR substring(a.name, length(a.name) - 1, 2)
               = substring(b.name, length(b.name) - 1, 2))
           AND levenshtein(a.name, b.name) <= 1),
         sym(x, y) AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
           UNION SELECT a, a FROM pairs UNION SELECT b, b FROM pairs),
         reach(x, y) AS (SELECT x, y FROM sym
           UNION SELECT r.x, s.y FROM reach r JOIN sym s ON r.y = s.x),
         clusters AS (SELECT x AS id, min(y) AS cluster_id FROM reach
           GROUP BY x)
         SELECT c.cluster_id, CAST(count(*) AS BIGINT) AS n_members,
           max(c.id) AS max_member, f.name AS canonical_name
         FROM clusters c JOIN feed f ON f.id = c.cluster_id
         GROUP BY c.cluster_id, f.name ORDER BY cluster_id""",
    "pipeline_corpus" ->
      s"""WITH $stageCtes
         SELECT CASE WHEN ((doc_id % 1000) * 761) % 1000 < 800 THEN 'train'
                WHEN ((doc_id % 1000) * 761) % 1000 < 900 THEN 'val'
                ELSE 'test' END AS split,
           lang, count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         FROM mixed GROUP BY split, lang ORDER BY split, lang""",
    "pipeline_funnel" ->
      s"""WITH $stageCtes
         SELECT stage, name, n_docs FROM (
           SELECT 1 AS stage, 'raw' AS name, count(*) AS n_docs FROM corpus
           UNION ALL SELECT 2, 'quality', count(*) FROM quality
           UNION ALL SELECT 3, 'exact_dedup', count(*) FROM ex
           UNION ALL SELECT 4, 'near_dedup', count(*) FROM surv
           UNION ALL SELECT 5, 'mixed', count(*) FROM mixed)
         ORDER BY stage""")
}
