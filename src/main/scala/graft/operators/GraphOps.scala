package graft.operators

import graft.{OpFamily, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over relational-derived edge lists — the canonical
  * iterative-MapReduce workloads (PageRank, triangle counting, degree
  * profiles) alongside the connected components already in
  * [[DedupOps.clusterPairsOn]].
  *
  * Exactness stance: PageRank runs in integer MICRO-UNITS (fixed-point
  * longs, integral division) so five damped iterations are replayable
  * bit-for-bit in any engine — the same order-independence trick as
  * sim_label_centroids — instead of a float fixpoint that depends on
  * summation order. Triangle counting uses degree orientation, whose
  * work is bounded by edge arboricity rather than max degree — the
  * standard MR/Spark shape for skewed graphs at scale.
  */
object GraphOps extends OpFamily {

  /** Symmetric customer↔supplier interaction edges from orders⋈lineitem.
    * Node ids disambiguate the two key spaces by parity: customer c ↦ 2c,
    * supplier s ↦ 2s+1. Every undirected edge appears in both directions,
    * so the graph has no dangling nodes and PageRank needs no sink-mass
    * redistribution.
    */
  private def custSuppEdges(s: SparkSession, d: String,
      materializeHalf: Boolean = true): DataFrame = {
    // The HALF edge set (one row per undirected edge) is what the
    // join+distinct pipeline produces — materialize THAT and leave the
    // symmetric union a lazy view over the cached blocks (r20): every
    // consumer used to checkpoint the 2× union instead, paying a
    // doubled materialization per query for rows that are a pure
    // column-swap of each other. Consumers scan the cached half twice
    // per pass — cheap narrow rescans — and no caller needs its own
    // checkpoint anymore. Iterative consumers rescan it every round:
    // kCoreFrom semi-joins the union against each round's node-sized
    // survivor set and materializes nothing edge-sized itself.
    // `materializeHalf = false` is for single-pass consumers only.
    val e0 = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"),
        (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    val half = if (materializeHalf) e0.localCheckpoint() else e0
    half.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(half.select(col("s").as("src"), col("c").as("dst")))
  }

  /** PageRank (damping 0.85, 5 iterations) over the customer–supplier
    * graph; top-20 nodes by rank with deterministic tiebreaks.
    *
    * Fixed-point arithmetic: ranks are longs in micro-units (1.0 ≡
    * 1,000,000), a node of out-degree k contributes `units DIV k` to each
    * neighbor, and the damped update is `150000 + (85·Σcontrib) DIV 100` —
    * all integral ops on positive values, so the DuckDB oracle replays all
    * five iterations exactly (a float fixpoint would diverge on summation
    * order). Mass lost to the floors is deliberate and identical in both
    * engines.
    *
    * Scale shape: the degree-annotated edge list is cached PRE-PARTITIONED
    * on src (persist, not localCheckpoint — a cached plan keeps its
    * outputPartitioning; a checkpointed RDD scan forgets it and every
    * iteration would re-shuffle the full edge set). Each iteration then
    * moves only the node-sized rank table to the edges — one small-side
    * shuffle (or an AQE auto-broadcast) plus one partial-aggregating
    * groupBy — the bucketed-edges iterative-join PageRank shape.
    *
    * Headroom: with ANSI off, `85·Σcontrib` silently wraps past
    * Long.MAX once a single node can receive ~10¹⁷ micro-units — i.e.
    * a hub absorbing the mass of ~10¹¹ nodes. Graphs beyond that need
    * the damped sum in decimal(38,0); at the 100 TB design point
    * (≲10¹⁰ nodes) the fixed-point long has ≥ 10× headroom.
    */
  def pageRank(s: SparkSession, d: String): DataFrame =
    pageRankFrom(custSuppEdges(s, d), 850L, 5)
      .select(
        when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("kind"),
        expr("node DIV 2").as("entity_key"),
        col("units").as("rank_units"))
      .orderBy(desc("rank_units"), col("kind"), col("entity_key"))
      .limit(20)

  /** The damped-iteration core over any symmetric (src, dst) edge
    * frame: (node, units) after `iters` rounds at damping
    * `dampingPermille`/1000 — the knob surface of
    * [[graft.api.Graft.pageRank]]; 850/5 is the registered fixture.
    * Update: units' = (1000−d)·1000 + (d · Σ contrib) DIV 1000, all
    * integral — at d = 850 this is floor-identical to the classic
    * 150000 + (85·Σ) DIV 100 the DuckDB oracle replays (scaling a
    * floor division's numerator AND denominator by 10 never changes
    * the quotient).
    *
    * Plan shape: the edge pipeline runs ONCE (checkpoint); the degree
    * table is a groupBy over the checkpointed edges — map-side partials
    * make it skew-immune where a count-over-window on src would buffer
    * a hub's whole edge list in one task — and the join back is
    * AQE-skew-splittable. No broadcast hint anywhere: at billions of
    * nodes an unconditional broadcast of a node-sized table would OOM
    * the driver — let AQE pick the per-round strategy. Rounds COMPOSE
    * into one lazy plan: each is a flat join + aggregate over the
    * cached pre-partitioned edges scheduled inside ONE job (a per-round
    * localCheckpoint spent a job dispatch + block write per round for
    * the same shuffles; the round plans are shape-identical so codegen
    * compiles once). Headroom: with ANSI off the damped sum silently
    * wraps once a node can receive ~10¹⁴ micro-units (d·Σ at per-mille
    * scale) — a hub absorbing the mass of ~10⁸ nodes; past that widen
    * the sum to decimal(38,0).
    */
  private[graft] def pageRankFrom(edgeDf: DataFrame, dampingPermille: Long,
      iters: Int): DataFrame = {
    require(dampingPermille >= 0L && dampingPermille <= 1000L,
      s"dampingPermille must be in [0, 1000]: $dampingPermille")
    require(iters >= 1, s"iters must be >= 1: $iters")
    // no up-front checkpoint (r20): edges are scanned exactly twice here
    // (degree aggregate + the withDeg join) and the loop reads the
    // persisted withDeg — [[custSuppEdges]] callers rescan cached blocks,
    // API callers recompute their pipeline twice once, never per round
    val edges = edgeDf
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val withDeg = edges.join(deg, Seq("src")).persist()
    val teleport = (1000L - dampingPermille) * 1000L
    var ranks = deg.select(col("src").as("node"), lit(1000000L).as("units"))
    (1 to iters).foreach { _ =>
      ranks = withDeg.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("units DIV deg").as("contrib"))
        .groupBy(col("dst"))
        .agg(expr(s"${teleport}L + (${dampingPermille}L * sum(contrib))"
          + " DIV 1000L").as("units"))
        .select(col("dst").as("node"), col("units"))
    }
    // one materialization of the composed loop — it must run BEFORE the
    // unpersist below, or the rounds would recompute the edge join
    // uncached
    ranks = ranks.localCheckpoint()
    withDeg.unpersist()
    ranks
  }

  /** PERSONALIZED PageRank (damping 0.85, 5 rounds): teleport mass is
    * restricted to a fixed 4-customer seed set (nodes 2/4/6/8 — customer
    * keys 1..4; TPC-H custkeys are 1-based, so node 0 never exists), so
    * rank measures proximity TO THE SEEDS rather than global importance —
    * the similar-entities / recommendation variant. Same micro-unit
    * integral arithmetic and composed-rounds plan as [[pageRank]]: init
    * 10⁶ units per seed, per-round teleport 150000 units per seed, damped
    * sums in longs — DuckDB replays all five rounds exactly. Semantics
    * note: each round's teleport term is added only to nodes that appear
    * as a dst of the contribution join, so a seed with no in-edges would
    * lose its teleport mass that round — a deliberate deviation from
    * textbook PPR (where teleport reaches every seed unconditionally)
    * that both engines replay identically; on this co-order graph every
    * seed has in-edges. Nodes never reached keep 0 units and are
    * filtered, so the top-20 is well-defined at any fixture scale.
    */
  def pageRankPersonalized(s: SparkSession, d: String): DataFrame = {
    val seeds = Seq(2L, 4L, 6L, 8L)
    val isSeed = (c: Column) => c.isin(seeds.map(x => x: Any): _*)
    val edges = custSuppEdges(s, d) // self-materialized half (r20)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val withDeg = edges.join(deg, Seq("src")).persist()
    var ranks = deg.select(col("src").as("node"),
      when(isSeed(col("src")), lit(1000000L)).otherwise(lit(0L))
        .as("units"))
    (1 to 5).foreach { _ =>
      ranks = withDeg.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("units DIV deg").as("contrib"))
        .groupBy(col("dst"))
        .agg((when(isSeed(col("dst")), lit(150000L)).otherwise(lit(0L)) +
          expr("(85L * sum(contrib)) DIV 100L")).as("units"))
        .select(col("dst").as("node"), col("units"))
    }
    ranks = ranks.localCheckpoint()
    withDeg.unpersist()
    ranks
      .filter(col("units") > 0)
      .select(
        when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("kind"),
        expr("node DIV 2").as("entity_key"),
        col("units").as("rank_units"))
      .orderBy(desc("rank_units"), col("kind"), col("entity_key"))
      .limit(20)
  }

  /** WEIGHTED PageRank (damping 0.85, 5 rounds): rank mass flows along
    * each edge in proportion to its weight — contrib(u→v) =
    * (units(u) · w(u,v)) DIV Σ_x w(u,x) — the generalization real
    * interaction graphs use (edge weight = co-order count here). Same
    * micro-unit integral-arithmetic stance as [[pageRank]], so the
    * DuckDB oracle replays all five rounds bit-for-bit: units ≤ N·10⁶,
    * w ≤ 5, so units·w keeps > 10× headroom under Long.MAX at the
    * 100 TB node-count design point. Same composed-rounds single-job
    * shape; the weight-sum table is the degree table's twin.
    */
  def pageRankWeighted(s: SparkSession, d: String): DataFrame =
    // build-once artifact (the pagerank_converged discipline): five
    // integral rounds, pure function of the two edge-source tables
    ArtifactCache.readOrBuild(s,
      ArtifactCache.dirMulti(s, d, Seq("orders", "lineitem"),
        "graft_graph", "pagerank_weighted@r1")) {
      pageRankWeightedBuild(s, d)
    }.orderBy(desc("rank_units"), col("kind"), col("entity_key"))

  private def pageRankWeightedBuild(s: SparkSession, d: String): DataFrame = {
    val edges = custSuppWeightedEdges(s, d).localCheckpoint()
    val tw = edges.groupBy(col("src")).agg(sum(col("w")).as("tw"))
    val withW = edges.join(tw, Seq("src")).persist()
    var ranks = tw.select(col("src").as("node"), lit(1000000L).as("units"))
    (1 to 5).foreach { _ =>
      ranks = withW.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("(units * w) DIV tw").as("contrib"))
        .groupBy(col("dst"))
        .agg(expr("150000L + (85L * sum(contrib)) DIV 100L").as("units"))
        .select(col("dst").as("node"), col("units"))
    }
    ranks = ranks.localCheckpoint()
    withW.unpersist()
    ranks
      .select(
        when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("kind"),
        expr("node DIV 2").as("entity_key"),
        col("units").as("rank_units"))
      .orderBy(desc("rank_units"), col("kind"), col("entity_key"))
      .limit(20)
  }

  /** PageRank iterated to an ε-FIXPOINT instead of a fixed round count —
    * the iterate-until-converged termination real graph users expect. The
    * integer iteration contracts the L1 delta by exactly the damping
    * factor per round (measured: 0.85× each round, no exact fixpoint —
    * the floors leave persistent rounding noise), so the stop rule is
    * relative: halt once Σ|units − prev| ≤ relTol · Σprev. The delta
    * rides each round's own materializing localCheckpoint via observe()
    * (the [[DedupOps.clusterPairsOn]] pattern — zero extra jobs per
    * round); the old⋈new join is node-sized, the cheap side of the round.
    * Exceeding maxRounds throws rather than silently returning an
    * unconverged vector. Rounds-to-converge is log(err₀/relTol)/
    * log(1/0.85) — independent of graph size, so the round count holds at
    * 100 TB — and err₀ is attacked directly with a WARM START: ranks
    * initialize degree-proportionally (units₀ = deg·10⁶ DIV avg_deg, all
    * integral), which on an undirected graph is already near the
    * stationary vector, so the contraction starts from a small residual
    * instead of the uniform vector's large one. Same fixpoint — PageRank's
    * limit is init-independent — reached in fewer rounds.
    *
    * Registered rows-only: the terminating round count is a data property
    * (not expressible in a static oracle), so correctness is pinned by a
    * driver-side integer reference simulation in GraphSpec that replays
    * the same contraction and stop rule bit-for-bit.
    */
  def pageRankConverged(s: SparkSession, d: String): DataFrame =
    // build-once artifact (the harmonic/betweenness discipline): the
    // converged vector — including its data-property `rounds` column —
    // is a pure function of the corpus version
    ArtifactCache.readOrBuild(s,
      ArtifactCache.dirMulti(s, d, Seq("orders", "lineitem"),
        "graft_graph", "pagerank_converged@r1")) {
      pageRankUntil(s, d, relTol = 0.01, maxRounds = 60)
    }.orderBy(desc("rank_units"), col("kind"), col("entity_key"))

  private[graft] def pageRankUntil(s: SparkSession, d: String,
      relTol: Double, maxRounds: Int): DataFrame = {
    val edges = custSuppEdges(s, d) // self-materialized half (r20)
    // same skew-immune degree-annotation setup as [[pageRank]]
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val withDeg = edges.join(deg, Seq("src")).persist()
    // degree-proportional warm start, all integral so the GraphSpec
    // reference simulation replays it bit-for-bit: avg_deg = Σdeg DIV n
    // (≥ 1), units₀ = deg·10⁶ DIV avg_deg. Total mass stays ≈ n·10⁶; the
    // relative stop rule is insensitive to the floor leakage.
    val tot = deg.agg(count(lit(1)).as("nn"), sum(col("deg")).as("sd"))
    var ranks = deg.crossJoin(broadcast(tot))
      .select(col("src").as("node"),
        expr("(deg * 1000000L) DIV greatest(sd DIV nn, 1L)").as("units"))
      .localCheckpoint()
    def step(r: DataFrame): DataFrame =
      withDeg.join(r, col("src") === col("node"))
        .select(col("dst"), expr("units DIV deg").as("contrib"))
        .groupBy(col("dst"))
        .agg(expr("150000L + (85L * sum(contrib)) DIV 100L").as("units"))
        .select(col("dst").as("node"), col("units"))
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val obs = org.apache.spark.sql.Observation()
      // FOUR contraction rounds compose per materialization (ranks has a
      // single consumer inside the chain — the linear-composition shape —
      // plus the checkpointed prev side of the delta join), and the
      // convergence delta is observed over the composed step: the L1
      // drift across a quad round bounds the per-round drift (the
      // contraction is monotone), so the stop rule is the same up to the
      // damping factor while the job count quarters. Decimal
      // accumulators: Σ|Δ| and Σprev stay exact far past the long
      // headroom bound documented on [[pageRank]].
      val next = step(step(step(step(ranks))))
        .join(ranks.select(col("node"), col("units").as("prev")), Seq("node"))
        .observe(obs,
          sum(abs(col("units") - col("prev")).cast("decimal(38,0)")).as("l1"),
          sum(col("prev").cast("decimal(38,0)")).as("mass"))
        .select(col("node"), col("units"))
        .localCheckpoint()
      val m = obs.get
      val l1 = m("l1").asInstanceOf[java.math.BigDecimal]
      val mass = m("mass").asInstanceOf[java.math.BigDecimal]
      converged = l1.compareTo(
        mass.multiply(java.math.BigDecimal.valueOf(relTol))) <= 0
      ranks = next
      rounds += 4
    }
    withDeg.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"pageRankConverged: L1 delta still above relTol=$relTol after " +
          s"$maxRounds rounds; raise maxRounds")
    ranks
      .select(
        when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("kind"),
        expr("node DIV 2").as("entity_key"),
        col("units").as("rank_units"),
        lit(rounds).as("rounds"))
      .orderBy(desc("rank_units"), col("kind"), col("entity_key"))
      .limit(20)
  }

  /** BFS hop-distance histogram from the minimum node id of the
    * customer–supplier graph, depth-capped at [[BfsMaxHops]] hops:
    * (hops, n_nodes) for every node whose shortest path from the source
    * is ≤ the cap. Completes the iterative-graph family (PageRank, CC,
    * triangles) with a reachability member.
    *
    * Engine: frontier expansion — per level one equi-join frontier⋈edges,
    * one distinct, one anti-join against the labeled set (all key-partitioned
    * shuffles, nothing node²). The newly-discovered count rides the level's
    * own checkpoint via observe(), so early exit on an empty frontier costs
    * no extra job. Hop distances are exact ints; the depth cap is part of
    * the query's SEMANTICS (both engines stop at [[BfsMaxHops]]), which is
    * what makes a static recursive-CTE oracle replay it exactly even though
    * the loop exits early once the frontier empties.
    */
  private[graft] val BfsMaxHops = 11

  def bfsHops(s: SparkSession, d: String): DataFrame = {
    val edges = custSuppEdges(s, d) // self-materialized half (r20)
    // the source is declared, not collected: a 1-row aggregate frame that
    // AQE broadcast-joins into the first expansion
    var frontier = edges.agg(min(col("src")).as("node"))
      .select(col("node"), lit(0).as("hops"))
      .localCheckpoint()
    var labels = frontier
    var hops = 0
    var emptied = false
    while (!emptied && hops < BfsMaxHops) {
      hops += 1
      val obs = org.apache.spark.sql.Observation()
      val next = frontier
        .join(edges, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(labels.select(col("node")), Seq("node"), "left_anti")
        .select(col("node"), lit(hops).as("hops"))
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint()
      emptied = obs.get("n").asInstanceOf[Long] == 0L
      if (!emptied) {
        frontier = next
        // the label set stays a LAZY union of already-checkpointed level
        // frontiers — the anti-join reads k tiny checkpoint scans, so
        // re-materializing the union would be one wasted job per level
        labels = labels.unionByName(next)
      }
    }
    labels.groupBy(col("hops"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("hops"))
  }

  /** HYPERANF — the approximate NEIGHBORHOOD FUNCTION N(t) = Σ_v
    * |ball(v, t)| and the graph's EFFECTIVE DIAMETER (Boldi–Rosa–Vigna
    * 2011, public; the HLL-powered descendant of Palmer et al.'s ANF):
    * every node carries an HLL sketch of the node set within t hops,
    * and one round unions each node's sketch with its neighbors' —
    * after t rounds the sketch estimates |ball(v, t)|, and the smallest
    * t where N(t) ≥ 90% of N(∞) is the effective diameter, THE
    * published way to size a web-scale graph's reach without any
    * all-pairs BFS.
    *
    * Engine shape: the per-node state is one ≤ 2^lgK-register sketch
    * (kilobytes), a round is ONE edges⋈state equi-join + ONE groupBy
    * dst whose `hll_union_agg` is algebraic — Catalyst plans map-side
    * partial unions, so each round ships one sketch per (node,
    * partition) through the shuffle, never the neighbor multiset. The
    * per-round total-reach scalar rides the round's own checkpoint via
    * observe() (the [[bfsHops]] trick: no extra job), and the loop
    * early-stops when the estimate fixes (estimate-equality is the
    * documented approximation of register-equality — one spare round is
    * the worst case). At 100 TB: edges pre-partitioned by src amortize
    * across rounds, state is O(nodes)·4 KB, rounds ≈ effective
    * diameter (small-world graphs: ~6-10) — each a linear shuffle.
    *
    * DataSketches HLL is engine-internal randomness ⇒ no SQL oracle
    * (the [[graft.operators.AggOps]] approx-distinct precedent); the
    * exact-at-small-cardinality property (coupon mode) makes the
    * GraphSpec path-graph test assert the EXACT N(t) sequence and
    * diameter.
    */
  def hyperAnf(s: SparkSession, d: String): DataFrame =
    // lgK = 9 (512 registers, ±4.6% std err): every round ships one
    // sketch per edge-partition dst through the shuffle, so register
    // bytes are THE round cost — and a reach ratio needs percent-level
    // accuracy, not count-distinct precision (profiled 8× cheaper than
    // lgK = 12 at identical effective-diameter output on sf0.1).
    //
    // BUILD-ONCE ARTIFACT (the cachedPairs discipline): the N(t) report
    // is a pure function of the fixed edge set — DataSketches hashing is
    // seed-fixed and register unions are order-free max-merges, so the
    // report is deterministic (GraphSpec pins this) and as
    // content-addressable as the IVF/pair tables. The 5-round
    // sketch-union build is the batch job; every later invocation
    // re-attaches a ≤(maxT+1)-row parquet. Keyed on BOTH source tables
    // the edge frame derives from (orders⋈lineitem), so a regenerated
    // fixture invalidates either way; ints/longs/bools round-trip
    // parquet exactly, and the report re-sorts on t because a parquet
    // attach does not preserve write order.
    ArtifactCache.readOrBuild(s,
      ArtifactCache.dirMulti(s, d, Seq("orders", "lineitem"),
        "graft_graph", "hyperanf_t12_lgk9@r1"))(
      hyperAnfOn(s, custSuppEdges(s, d), maxT = 12, lgK = 9))
      .orderBy(col("t"))

  private[graft] def hyperAnfOn(s: SparkSession, edges0: DataFrame,
      maxT: Int, lgK: Int): DataFrame = {
    import s.implicits._
    val edges = edges0.localCheckpoint()
    // the observed per-round scalar: total estimated reach Σ|ball(v, t)|
    def reach = sum(hll_sketch_estimate(col("sk"))).as("np")
    val obs0 = org.apache.spark.sql.Observation()
    // ball(v, 0) = {v}: a one-element sketch per node (symmetric edges ⇒
    // src covers every node)
    var state = edges.groupBy(col("src"))
      .agg(hll_sketch_agg(col("src"), lgK).as("sk"))
      .withColumnRenamed("src", "node")
      .observe(obs0, reach)
      .localCheckpoint()
    // sum() over an empty node set observes null — surface the contract
    // instead of an NPE (and the ratio division below needs nFinal > 0)
    val n0 = Option(obs0.get("np")).map(_.asInstanceOf[Long]).getOrElse(0L)
    require(n0 > 0L, "hyperAnf: the edge frame has no nodes")
    val counts = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    counts += ((0, n0))
    var t = 0
    var fixed = false
    while (t < maxT && !fixed) {
      t += 1
      val nbr = edges.join(state, col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(hll_union_agg(col("sk"), lit(false)).as("nsk"))
      val obs = org.apache.spark.sql.Observation()
      val next = state.join(nbr, col("node") === col("dst"), "left")
        .select(col("node"),
          when(col("nsk").isNull, col("sk"))
            .otherwise(hll_union(col("sk"), col("nsk"))).as("sk"))
        .observe(obs, reach)
        .localCheckpoint()
      val n = obs.get("np").asInstanceOf[Long]
      fixed = n == counts.last._2
      counts += ((t, n))
      state = next
    }
    // O(maxT) driver-side scalars → the report frame (bounded-collect
    // class, like the pageRankConverged convergence probes)
    val nFinal = counts.last._2
    val effT = counts.find(_._2 * 1000L >= 900L * nFinal).map(_._1)
      .getOrElse(maxT)
    counts.toSeq
      .map { case (tt, n) =>
        (tt, n, n * 1000L / nFinal, tt == effT) }
      .toDF("t", "est_pairs", "ratio_permille", "is_effective_diameter")
      .orderBy(col("t"))
  }

  /** Weighted customer↔supplier edges: weight = 1 + (co-order row count
    * mod 5) — small positive ints derived from the data, so path costs are
    * exact longs and every engine replays them bit-for-bit (the same
    * integer-exactness stance as [[pageRank]]'s micro-units). Count and
    * distinct collapse into ONE aggregate (groupBy (c, s) + count), where
    * [[custSuppEdges]] needed a distinct.
    */
  private def custSuppWeightedEdges(s: SparkSession, d: String): DataFrame = {
    val e0 = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy((col("o_custkey") * 2).as("c"),
        (col("l_suppkey") * 2 + 1).as("s"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("c"), col("s"), (lit(1L) + col("cnt") % 5).as("w"))
    e0.select(col("c").as("src"), col("s").as("dst"), col("w"))
      .unionByName(e0.select(col("s").as("src"), col("c").as("dst"), col("w")))
  }

  /** Single-source shortest path by WEIGHTED cost (Bellman-Ford
    * relaxation) from the minimum node id, hop-capped at [[SsspMaxHops]]:
    * the cost histogram (cost, n_nodes) over every node whose cheapest
    * ≤[[SsspMaxHops]]-hop path is that cost. Extends the graph family's
    * reachability member ([[bfsHops]]) to weighted costs.
    *
    * Engine: per round one equi-join dist⋈edges + one min-aggregate over
    * the union with the previous dist — all key-partitioned shuffles with
    * map-side partials, nothing node². The hop cap is part of the query's
    * SEMANTICS (min cost over paths of ≤ cap hops, both engines stop
    * there), which is what lets a static recursive-CTE oracle replay it.
    * Unlike [[pageRank]] — whose rank table has a SINGLE consumer per
    * round and composes linearly — each relaxation consumes `dist` TWICE
    * (the relax join AND the union with the previous distances), so the
    * rounds must MATERIALIZE per the two-consumers rule documented on
    * [[kCoreFrom]]: composing them lazily doubles the plan tree per hop
    * (~2^maxHops copies of the early rounds — measured 37.5 s vs ~3 s at
    * sf0.1 when this briefly shipped composed). Costs are bounded by
    * cap·max(w), so the relaxation lattice stays small and exact.
    */
  private[graft] val SsspMaxHops = 4

  def ssspCost(s: SparkSession, d: String): DataFrame =
    ssspFrom(custSuppWeightedEdges(s, d), SsspMaxHops)
      .groupBy(col("cost"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("cost"))

  /** The relaxation core over any directed (src, dst, w) edge frame:
    * (node, cost) of the cheapest ≤maxHops-hop path from the minimum
    * node id. Unit-tested against hand-computed paths in GraphSpec.
    */
  private[graft] def ssspFrom(edgeDf: DataFrame, maxHops: Int): DataFrame = {
    // one eager materialization of the edge pipeline; per round AQE
    // broadcast-joins the node-sized dist table into unshuffled checkpoint
    // scans. A repartition(src).persist() variant (the pageRank shape) was
    // MEASURED SLOWER here (6.3 s vs 3.3 s steady at sf0.1): the extra
    // up-front shuffle + cached-columnar scans buy nothing while dist
    // broadcasts. The swap point is when dist outgrows the broadcast
    // threshold (billions of nodes): AQE then falls back to SMJ and would
    // re-shuffle the edge set every round — at that scale switch to the
    // pre-partitioned persist (pageRank's documented trade, one edge
    // shuffle total).
    val edges = edgeDf.localCheckpoint()
    // source declared, not collected: 1-row aggregate, AQE-broadcast into
    // the first relaxation (the bfsHops pattern). The minimum is taken
    // over src ∪ dst so a globally-minimum node that only ever appears as
    // a destination still becomes the source (its distance map is just
    // {source → 0}) — on the symmetric registered graph the two minima
    // coincide, so the recursive-CTE oracle's min(src) replays it.
    var dist = edges.agg(least(min(col("src")), min(col("dst"))).as("node"))
      .select(col("node"), lit(0L).as("cost"))
      .localCheckpoint()
    def relax(dd: DataFrame): DataFrame =
      dd.join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), (col("cost") + col("w")).as("cost"))
        .unionByName(dd)
        .groupBy(col("node")).agg(min(col("cost")).as("cost"))
    // dist has TWO consumers per relaxation (relax join + union), so the
    // rounds must materialize per the kCoreFrom rule — composing all of
    // them lazily doubles the tree per hop (2^hops subtree copies;
    // measured 37.5 s vs ~3 s at sf0.1 when this shipped composed). A
    // stride of 2 rounds per checkpoint is the measured sweet spot: the
    // one duplicated inner subtree is caught by ReuseExchange, and the
    // job count halves vs per-round checkpoints.
    var h = 0
    while (h < maxHops) {
      val stride = math.min(2, maxHops - h)
      var d2 = dist
      (1 to stride).foreach(_ => d2 = relax(d2))
      dist = d2.localCheckpoint()
      h += stride
    }
    dist
  }

  /** k-CORE membership (k = [[KCoreK]]) of the customer–supplier graph:
    * iteratively peel nodes of degree < k; what survives
    * [[KCoreRounds]] peel rounds, summarized per kind (node count,
    * min/max degree inside the core). The k-core is the unique maximal
    * subgraph of minimum degree ≥ k — the standard density filter before
    * community/motif analysis.
    *
    * The ROUND COUNT is part of the query's semantics (both engines peel
    * exactly [[KCoreRounds]] times; an unrolled-CTE oracle replays it
    * exactly, the [[pageRank]] oracle pattern). On this bipartite graph
    * the peel cascade is depth ≤ 2 — customers only neighbor suppliers —
    * so 4 rounds reach the true fixpoint with slack; GraphSpec asserts
    * fixpoint-equality against an unbounded driver-side reference peel,
    * and on a hand-built cascade graph. The edges come from
    * [[custSuppEdges]]'s materialized half, so the peel itself
    * materializes only node-sized survivor tables (see [[kCoreFrom]]).
    */
  private[graft] val KCoreK = 10
  private[graft] val KCoreRounds = 4

  def kCore(s: SparkSession, d: String): DataFrame =
    kCoreFrom(custSuppEdges(s, d), KCoreK, KCoreRounds)
      .groupBy(when(col("src") % 2 === 0, lit("customer"))
        .otherwise(lit("supplier")).as("kind"))
      .agg(count(lit(1)).as("n_core_nodes"),
        min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"))
      .orderBy(col("kind"))

  /** The peel core over any symmetric (src, dst) edge frame: (src, deg)
    * of every node still alive after `rounds` peels at threshold `k`.
    * Symmetry contract: every undirected edge must appear in both
    * directions (as [[custSuppEdges]] guarantees), so degree-filtering
    * src and dst against the same survivor set keeps the edge set
    * symmetric round over round.
    *
    * Shape: round r aggregates (src, deg) over `live` — the input edges
    * whose two endpoints both survived round r−1 (two left-semi joins of
    * the INPUT against the previous survivor set; round 1 reads the
    * input itself) — and materializes only the node-sized survivor set
    * (deg ≥ k). Survivor sets shrink monotonically, so filtering the
    * input is the same as filtering the previous round's edges, and no
    * edge-sized frame is ever materialized here: the caller hands in an
    * edge frame that is cheap to rescan (a checkpoint, or a lazy view
    * over one), which every round scans once.
    *
    * The TWO-CONSUMERS rule: a frame that the next step reads twice must
    * be MATERIALIZED, or each consumer re-evaluates the shared subtree
    * and the plan grows exponentially in the round count (measured 13 s
    * vs 4 s at sf0.01 when the peel rounds were composed lazily). Here
    * the survivor set is that frame — the next round semi-joins it on
    * src AND on dst. Contrast [[pageRank]], whose per-round rank table
    * has a single consumer and composes linearly.
    *
    * Fixpoint: an observe() on the degree aggregate counts the nodes
    * with 1 ≤ deg < k (a count, so an empty round reads 0), riding the
    * survivor checkpoint's own job. Zero means the round peeled no node
    * and so removed no edge — every later round would be a no-op, so the
    * early exit is output-identical to the oracle's full unrolled round
    * count, and that round's survivor set already is the answer.
    *
    * `requireFixpoint = true` (the [[graft.api.Graft.kCore]] contract,
    * where `rounds` is a SAFETY CAP) throws if the cap is hit before the
    * no-op-round fixpoint — a capped non-k-core must fail loudly, the
    * [[pageRankUntil]] convention. The registered query leaves it false:
    * there the round count is part of the query's semantics (the unrolled
    * oracle peels exactly that many times).
    */
  private[graft] def kCoreFrom(edgeDf: DataFrame, k: Int,
      rounds: Int, requireFixpoint: Boolean = false): DataFrame = {
    def degrees(live: DataFrame): DataFrame =
      live.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    var live = edgeDf
    var round = 0
    var core: Option[DataFrame] = None
    while (core.isEmpty && round < rounds) {
      round += 1
      val obs = org.apache.spark.sql.Observation()
      val survivors = degrees(live)
        .observe(obs, count(when(col("deg") < k, 1)).as("peeled"))
        .filter(col("deg") >= k)
        .localCheckpoint()
      // the survivor set is read twice by the next round (src and dst
      // semi-joins): two consumers, so it is materialized — node-sized
      if (obs.get("peeled") == 0L) core = Some(survivors)
      else live = edgeDf
        .join(survivors.select(col("src")), Seq("src"), "left_semi")
        .join(survivors.select(col("src").as("dst")), Seq("dst"), "left_semi")
    }
    if (requireFixpoint && core.isEmpty)
      throw new IllegalStateException(
        s"kCore: peel did not reach the fixpoint within rounds=$rounds " +
          "(surviving nodes may still have degree < k); raise maxRounds")
    core.getOrElse(degrees(live))
  }

  /** Combined duplication corpus: originals ∪ planted exact copies (every
    * 5th doc, id+100000) ∪ planted truncated near-dups (every 7th doc,
    * id+200000) — the union of the fixtures DedupOps plants separately.
    * Docs divisible by 35 yield genuine {original, copy, truncated}
    * TRIANGLES in the similarity graph (the near-dup-only graph is a
    * perfect matching — every node degree 1 — so a census over it would
    * be vacuous).
    */
  private[graft] def dupCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val exact = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("lang"),
        col("source"), col("text"))
    val trunc = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 200000).as("doc_id"), col("lang"),
        col("source"),
        concat_ws(" ", slice(TextOps.toks, lit(1),
          greatest(size(TextOps.toks) - 5, lit(1)))).as("text"))
    // the guard rides the all-rows base branch: planted id spaces stay
    // disjoint from originals, asserted per row (DedupOps.guardedDocId)
    docs.select(DedupOps.guardedDocId.as("doc_id"), col("lang"),
        col("source"), col("text"))
      .unionByName(exact).unionByName(trunc)
  }

  /** Triangle census of the duplication similarity graph (blocked jaccard
    * ≥ 0.3 pairs over [[dupCorpus]] as undirected edges): node/edge/wedge
    * counts, exact triangle count, global clustering coefficient.
    *
    * Degree-orientation algorithm: orient every edge toward the higher
    * (degree, id) endpoint, enumerate wedges only from each edge's LOWER
    * endpoint, and close them against the oriented edge set. Per-node
    * wedge work is then O(out-degree²) with out-degrees bounded by
    * O(√edges) — a hub of degree d costs d·√m, not d², which is what makes
    * triangle counting survive skewed graphs at 100 TB. The clustering
    * coefficient is one double division of two exact longs, so the value
    * is engine-exact.
    */
  /** Full (a < b, jaccard) near-dup pair table over [[dupCorpus]],
    * re-attached from the content-addressed pair index
    * ([[DedupOps.cachedPairs]]) — built once, probed by every consumer:
    * the three graph analytics here AND the flagship corpus pipeline
    * ([[PipelineOps]]), which semi-joins it to its exact-dedup survivor
    * set instead of re-running the similarity join per invocation.
    */
  private[graft] def dupGraphPairs(s: SparkSession, d: String): DataFrame =
    DedupOps.cachedPairs(s, d, "dupgraph_tau30")(
      DedupOps.blockedJaccardPairs(dupCorpus(s, d)))

  /** Undirected (a < b) similarity edges over [[dupCorpus]] — the
    * [[dupGraphPairs]] artifact with the jaccard weight dropped; shared
    * by [[triangleCensus]], [[clusteringCoeff]] and [[kTruss]].
    */
  private def dupEdges(s: SparkSession, d: String): DataFrame =
    dupGraphPairs(s, d).select(col("a"), col("b"))

  def triangleCensus(s: SparkSession, d: String): DataFrame = {
    val und = dupEdges(s, d)
    val deg = degreeOf(und)
    val tri = degreeOrientedTriangles(und)
      .agg(count(lit(1)).as("n_triangles"))
    val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
      expr("CAST(sum(deg * (deg - 1) DIV 2) AS BIGINT)").as("n_wedges"))
    val edgeStats = und.agg(count(lit(1)).as("n_edges"))
    nodeStats.crossJoin(broadcast(edgeStats)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          lit(3.0) * col("n_triangles") / col("n_wedges"))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** Degrees of an undirected (a < b) edge frame: (x, deg). */
  private def degreeOf(und: DataFrame): DataFrame =
    und.select(col("a").as("x"))
      .unionByName(und.select(col("b").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("deg"))

  /** LOCAL CLUSTERING COEFFICIENT per node of the duplication similarity
    * graph: cc(x) = 2·tri(x) / (deg(x)·(deg(x)−1)) — how close each
    * node's neighborhood is to a clique, the node-level refinement of
    * [[triangleCensus]]'s global coefficient (Watts–Strogatz). Top-20
    * nodes by (cc, deg, id); degree-1 nodes are excluded (cc undefined).
    *
    * Per-node triangle counts ride the SAME exactly-once degree-oriented
    * enumeration as the census ([[degreeOrientedTriangles]]): each
    * triangle row explodes into its three corners, one groupBy counts
    * them, so the
    * per-node extension costs one extra shuffle over triangle rows
    * (output-bounded, never wedge-bounded). The cc value is a single
    * double division of exact longs — engine-exact, no float drift.
    */
  def clusteringCoeff(s: SparkSession, d: String): DataFrame =
    clusteringCoeffOn(dupEdges(s, d))

  /** The per-node clustering-coefficient core over any undirected
    * strictly (a < b) edge frame; exactness pinned on a hand graph in
    * GraphSpec. */
  private[graft] def clusteringCoeffOn(und: DataFrame): DataFrame = {
    val deg = degreeOf(und)
    val triNodes = degreeOrientedTriangles(und)
      .select(explode(array(col("x"), col("y"), col("z"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("n_tri"))
    deg.filter(col("deg") >= 2)
      .join(triNodes, Seq("x"), "left")
      .select(col("x").as("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("local_cc",
        lit(2.0) * col("n_tri") / (col("deg") * (col("deg") - 1)))
      .orderBy(desc("local_cc"), desc("deg"), col("node"))
      .limit(20)
  }

  /** Synchronous LABEL PROPAGATION communities ([[LpaRounds]] rounds,
    * deterministic): every node starts as its own label; each round every
    * node adopts its neighbors' most frequent label, ties broken by the
    * SMALLEST label — the rule that makes sync LPA a pure function of the
    * graph (classic async LPA is order-dependent). The fixed round count
    * is part of the query semantics (sync LPA has no convergence
    * guarantee — bipartite graphs oscillate — so "the labeling after R
    * rounds" is the well-defined deterministic object both engines
    * compute). Output: the 20 largest communities.
    *
    * Engine trick: argmax-by-(count, min label) is ENCODED AS ONE max()
    * — key = c·K − (lbl+1) with K = 2³¹ > any node id — so each round is
    * two plain aggregates with map-side partials (label-count, then max
    * per node) and zero windows: a hub node's update is combiner-friendly
    * all the way, where a row_number-over-(node) window would buffer its
    * whole neighbor-label list in one task. Decode: lbl = K − (mx mod K)
    * − 1. Headroom: c·K ≤ deg·2³¹ needs deg < 2³² — at larger degrees or
    * node ids widen K and the key to decimal.
    */
  private[graft] val LpaRounds = 3
  private[graft] val LpaK = 2147483648L // 2^31

  def labelProp(s: SparkSession, d: String): DataFrame =
    labelPropFrom(custSuppEdges(s, d), LpaRounds)
      .groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(desc("n_members"), col("lbl"))
      .limit(20)

  /** The sync-LPA core over any symmetric (src, dst) edge frame:
    * (node, lbl) after `rounds` synchronous updates. Hand-graph
    * community recovery pinned in GraphSpec.
    *
    * The c·K − (lbl+1) argmax encoding needs 0 ≤ id < K = 2³¹; labels are
    * always node ids, so the GUARD on the initial assignment covers every
    * round. It rides the init projection as a codegen'd per-row branch
    * (raise_error on violation — no extra job, no silent corruption once
    * ids cross 2³¹; at that scale widen K and the key to decimal).
    */
  private[graft] def labelPropFrom(edgeDf: DataFrame, rounds: Int): DataFrame = {
    // no checkpoint here (r20): every registered caller passes the
    // self-materialized [[custSuppEdges]] view, whose per-round rescans
    // read cached blocks; an API caller's pipeline is recomputed at most
    // once per round (bounded by the fixed round count, never by data)
    val edges = edgeDf
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"),
        when(col("node") >= 0 && col("node") < LpaK, col("node"))
          .otherwise(raise_error(concat(
            lit(s"labelProp: node id out of [0, $LpaK) for the argmax " +
              "encoding: "), col("node").cast("string")))).as("lbl"))
    (1 to rounds).foreach { _ =>
      labels = edges.join(labels, col("src") === col("node"))
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(max(col("c") * LpaK - (col("lbl") + 1)).as("mx"))
        .select(col("dst").as("node"),
          (lit(LpaK) - pmod(col("mx"), lit(LpaK)) - 1).as("lbl"))
    }
    labels
  }

  /** NEWMAN MODULARITY PROFILE of the [[labelProp]] communities over the
    * customer–supplier graph — the quality metric that tells a curator
    * whether LPA's communities are real structure or noise: per
    * community, q_part = e_in/m − (deg_sum/2m)², whose sum over
    * communities is the partition's modularity Q (q_part ≈ 0 means that
    * community's internal density is what random wiring would give).
    * One LPA pass (shared machinery), then three bounded aggregates:
    * degrees from the symmetric edge list, community sizes/degree mass
    * from the label table, internal-edge counts from one labels⋈edges
    * join — no windows, everything map-side partial. Output: top-20
    * communities by size.
    */
  def modularity(s: SparkSession, d: String): DataFrame = {
    val edges = custSuppEdges(s, d) // self-materialized half (r20)
    modularityOn(edges, labelPropFrom(edges, LpaRounds))
  }

  /** The modularity core over any SYMMETRIC (src, dst) edge frame and a
    * (node, lbl) community table — [[graft.api.Graft.modularityProfile]]
    * composes it with any labeling (LPA, CC, an external clustering).
    */
  private[graft] def modularityOn(edges: DataFrame,
      labelsIn: DataFrame): DataFrame = {
    val labels = labelsIn
      .localCheckpoint() // consumed three times (comm + both endpoints)
    // each undirected edge once (symmetric input: src < dst keeps one
    // orientation; the fixture oracle's (customer, supplier) orientation
    // selects the same edge set)
    val und = edges.filter(col("src") < col("dst"))
    val m = und.agg(count(lit(1)).as("m"))
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val comm = labels.join(deg, Seq("node"))
      .groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
    val ein = und
      .join(labels.select(col("node").as("a_node"), col("lbl").as("la")),
        col("src") === col("a_node"))
      .join(labels.select(col("node").as("b_node"), col("lbl").as("lb")),
        col("dst") === col("b_node"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl"))
      .agg(count(lit(1)).as("e_in"))
    comm.join(ein, Seq("lbl"), "left")
      .crossJoin(broadcast(m))
      .select(col("lbl"), col("n_nodes"), col("deg_sum"),
        coalesce(col("e_in"), lit(0L)).as("e_in"),
        (coalesce(col("e_in"), lit(0L)).cast("double") / col("m")
          - (col("deg_sum").cast("double") / (lit(2) * col("m")))
            * (col("deg_sum").cast("double") / (lit(2) * col("m"))))
          .as("q_part"))
      .orderBy(desc("n_nodes"), col("lbl"))
      .limit(20)
  }

  /** 3-TRUSS of the duplication similarity graph: keep only edges that
    * participate in ≥ k−2 = 1 triangle, peeling iteratively (dropping an
    * edge can break its neighbors' triangles) for up to [[TrussRounds]]
    * rounds with the [[kCoreFrom]] no-op early exit. On the planted
    * corpus the 3-truss is exactly the {original, copy, truncated}
    * triangle edges — the truss is the standard "cohesive subgraph"
    * cleaner that degree-based k-core cannot express (a star hub has
    * high degree but zero triangles). Output: surviving edge/node
    * counts.
    *
    * Triangle support inside each round is enumerated with
    * [[degreeOrientedTriangles]] — the same arboricity-bounded wedge
    * machinery as [[triangleCensus]], where a hub of degree d costs
    * O(d·√m) instead of the O(d²) an id-sorted orientation pays. Round 1
    * runs on the FULL pre-peel edge set (nothing has shrunk yet), so the
    * orientation choice is exactly the hub-skew guard; support counts are
    * orientation-independent, so the output is identical to the unrolled
    * id-sorted oracle.
    */
  private[graft] val TrussK = 3
  private[graft] val TrussRounds = 3

  def kTruss(s: SparkSession, d: String): DataFrame = {
    val truss = trussFrom(dupEdges(s, d), TrussK, TrussRounds)
    val nodes = truss.select(col("a").as("x"))
      .unionByName(truss.select(col("b").as("x"))).distinct()
      .agg(count(lit(1)).as("n_nodes"))
    truss.agg(count(lit(1)).as("n_edges")).crossJoin(broadcast(nodes))
      .select(col("n_nodes"), col("n_edges"))
  }

  /** Peel core over an undirected (a < b) edge frame: edges alive after
    * `rounds` support-threshold peels (early exit on a no-op round — the
    * same fixpoint argument as [[kCoreFrom]]: unchanged edges ⇒ unchanged
    * triangles ⇒ unchanged supports). `requireFixpoint` as on
    * [[kCoreFrom]]: the public API treats `rounds` as a safety cap and
    * throws when it is hit pre-fixpoint; the registered query's round
    * count is oracle semantics.
    */
  private[graft] def trussFrom(und: DataFrame, k: Int,
      rounds: Int, requireFixpoint: Boolean = false): DataFrame = {
    def ckptCount(df: DataFrame): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val ck = df.observe(obs, count(lit(1)).as("n")).localCheckpoint()
      (ck, obs.get("n").asInstanceOf[Long])
    }
    var (e, n) = ckptCount(und.select(col("a"), col("b")))
    var fixed = n == 0L
    var round = 0
    while (!fixed && round < rounds) {
      round += 1
      // degree-oriented enumeration (arboricity-bounded), then each
      // triangle supports its three id-sorted edges
      val tri = degreeOrientedTriangles(e)
      val sup = tri.select(col("x").as("a"), col("y").as("b"))
        .unionByName(tri.select(col("y").as("a"), col("z").as("b")))
        .unionByName(tri.select(col("x").as("a"), col("z").as("b")))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= k - 2)
        .select(col("a"), col("b"))
      val (e4, n4) = ckptCount(e.join(sup, Seq("a", "b"), "left_semi"))
      fixed = n4 == n
      e = e4; n = n4
    }
    if (requireFixpoint && !fixed)
      throw new IllegalStateException(
        s"kTruss: support peel did not reach the fixpoint within " +
          s"rounds=$rounds; raise maxRounds")
    e
  }

  /** Exact triangle enumeration over an undirected (a < b) edge frame by
    * DEGREE ORIENTATION — [[triangleCensus]]'s machinery, returning the
    * triangles themselves as id-sorted (x < y < z) triples instead of a
    * count. Orient each edge toward the higher (degree, id) endpoint,
    * build wedges only from each node's out-neighbors, close against the
    * oriented edges: every triangle surfaces exactly once, and per-node
    * wedge work is O(out-degree²) with out-degrees bounded by O(√m) — a
    * hub of degree d costs d·√m, not the d² an id-sorted orientation pays
    * on skewed graphs. The input must already be materialized (it feeds
    * the degree count and two joins); the oriented set checkpoints here
    * because BOTH wedge sides and the closing join consume it.
    */
  private[graft] def degreeOrientedTriangles(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val e = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    val aLower = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = e.select(
        when(aLower, col("a")).otherwise(col("b")).as("lo"),
        when(aLower, col("b")).otherwise(col("a")).as("hi"),
        when(aLower, col("db")).otherwise(col("da")).as("dhi"))
      .localCheckpoint()
    val o1 = oriented.select(col("lo"), col("hi").as("v"), col("dhi").as("dv"))
    val o2 = oriented.select(col("lo"), col("hi").as("w"), col("dhi").as("dw"))
    o1.join(o2, Seq("lo"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("lo"), col("v"), col("w"))
      .join(oriented.select(col("lo").as("v"), col("hi").as("w")),
        Seq("v", "w"))
      .select(sort_array(array(col("lo"), col("v"), col("w"))).as("t"))
      .select(element_at(col("t"), 1).as("x"),
        element_at(col("t"), 2).as("y"),
        element_at(col("t"), 3).as("z"))
  }

  /** Landmark-approximated HARMONIC CENTRALITY — the closeness-family
    * member real graph users ask for beyond PageRank (harmonic over
    * closeness because it handles disconnection gracefully: unreachable
    * pairs contribute 0, not an undefined 1/∞ mean). Exact all-pairs
    * harmonic is O(n·m); the standard estimator samples a LANDMARK set
    * and sums inverse distances from it (Eppstein–Wang style, public) —
    * here the [[HarmonicLandmarks]] smallest node ids, a FIXED
    * deterministic set, which is what makes the query oracle-able.
    *
    * Exactness stance: contributions are integer micro-units
    * (10⁶ DIV dist — integral division, order-independent summation, the
    * [[pageRank]] trick), distances come from a multi-landmark BFS capped
    * at [[HarmonicMaxHops]] (the cap is query semantics, replayed by the
    * recursive-CTE oracle like [[bfsHops]]), so both engines agree
    * bit-for-bit. Output: top-20 nodes by summed units with the landmark
    * count reaching each node.
    *
    * Scale shape: ONE BFS whose frontier carries the landmark set as a
    * BITMASK — a node's row holds every landmark that first reached it
    * this hop, so the frontier⋈edges expansion and all per-hop state are
    * |nodes|-sized regardless of the landmark count (up to 64 in one
    * long), where a (landmark, node) row encoding would multiply the
    * heaviest join's traffic by |L|. A landmark's bit first set on a node
    * at hop h means BFS distance h exactly, so per-hop contributions are
    * bit_count(new_bits) · (10⁶ DIV h). Per hop: one edge join +
    * bit_or groupBy, one mask-diff join against the discovered set, one
    * checkpoint; early exit on an empty frontier rides the checkpoint via
    * observe(). At 100 TB the landmark count is the accuracy/cost knob
    * (free up to 64) and hot frontier nodes are AQE-splittable.
    */
  private[graft] val HarmonicLandmarks = 8
  private[graft] val HarmonicMaxHops = 6

  def harmonicCentrality(s: SparkSession, d: String): DataFrame =
    // the 20-row result is a pure function of the corpus version — a
    // natural build-once artifact (r16 verdict): the landmark BFS runs
    // once per corpus, warm runs re-attach; re-sorted because parquet
    // drops write order
    ArtifactCache.readOrBuild(s,
      ArtifactCache.dirMulti(s, d, Seq("orders", "lineitem"),
        "graft_graph", "harmonic@r1")) {
      harmonicFrom(custSuppEdges(s, d), HarmonicLandmarks, HarmonicMaxHops)
        .select(
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("kind"),
          expr("node DIV 2").as("entity_key"),
          col("harm_units"), col("n_lm"))
        .orderBy(desc("harm_units"), col("kind"), col("entity_key"))
        .limit(20)
    }.orderBy(desc("harm_units"), col("kind"), col("entity_key"))

  /** The landmark-BFS harmonic core over any symmetric (src, dst) edge
    * frame: (node, harm_units = Σ_l 10⁶ DIV d(l, node), n_lm = #landmarks
    * reaching it within maxHops), landmarks = the `nLandmarks` smallest
    * node ids. Hand-graph exactness pinned in GraphSpec.
    */
  private[graft] def harmonicFrom(edgeDf: DataFrame, nLandmarks: Int,
      maxHops: Int): DataFrame = {
    require(nLandmarks >= 1 && nLandmarks <= 64,
      s"harmonicFrom packs landmarks into one long bitmask; got $nLandmarks")
    val edges = edgeDf.localCheckpoint()
    // landmark set: bounded top-k by node id (TakeOrderedAndProject, no
    // global sort); on the symmetric edge frame src covers every node.
    // Each landmark gets a distinct bit via its rank among the ≤64
    // landmark ids — a triangular self-join over the bounded set instead
    // of an unpartitioned window (PlanGuard) or a driver collect
    val lms = edges.select(col("src").as("node")).distinct()
      .orderBy(col("node")).limit(nLandmarks)
    var frontier = lms.select(col("node").as("lm"))
      .join(broadcast(lms.select(col("node").as("lm2"))),
        col("lm2") <= col("lm"))
      .groupBy(col("lm")).agg(count(lit(1)).as("rk"))
      .select(col("lm").as("node"),
        expr("shiftleft(1L, cast(rk - 1 AS int))").as("fmask"))
      .localCheckpoint()
    // discovered bits: lazy union of per-hop checkpoints (node, nb, dist);
    // a (node, bit) is emitted exactly once, at the landmark's BFS hop
    var found = frontier
      .select(col("node"), col("fmask").as("nb"), lit(0).as("dist"))
    var hops = 0
    var emptied = false
    while (!emptied && hops < maxHops) {
      hops += 1
      val obs = org.apache.spark.sql.Observation()
      val known = found.groupBy(col("node"))
        .agg(expr("bit_or(nb)").as("mask"))
      val nb = frontier
        .join(edges, col("node") === col("src"))
        .groupBy(col("dst")).agg(expr("bit_or(fmask)").as("pmask"))
        .select(col("dst").as("node"), col("pmask"))
        .join(known, Seq("node"), "left_outer")
        .select(col("node"),
          expr("pmask & ~coalesce(mask, 0L)").as("nb"))
        .filter(col("nb") =!= 0)
        .select(col("node"), col("nb"), lit(hops).as("dist"))
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint()
      emptied = obs.get("n").asInstanceOf[Long] == 0L
      if (!emptied) {
        frontier = nb.select(col("node"), col("nb").as("fmask"))
        found = found.unionByName(nb)
      }
    }
    found.filter(col("dist") > 0)
      .groupBy(col("node"))
      .agg(sum(expr("bit_count(nb) * (1000000L DIV dist)")).as("harm_units"),
        sum(expr("cast(bit_count(nb) AS bigint)")).as("n_lm"))
  }

  /** Landmark-approximated BETWEENNESS centrality (Brandes' dependency
    * accumulation from a fixed source sample — Brandes 2001 + the
    * standard pivot-sampling approximation, public), hop-bounded at
    * [[BetwMaxDepth]]: which nodes sit on other nodes' shortest paths.
    * The complement of [[harmonicCentrality]] (closeness says "near
    * everything", betweenness says "carries the traffic") and the graph
    * member the k-core/degree family cannot express: a bridge node has
    * modest degree but dominant betweenness.
    *
    * Exactness stance: sources are the [[BetwLandmarks]] smallest node
    * ids (fixed, deterministic); path counts σ are exact longs (per-level
    * sums of predecessor σ — the forward BFS); dependency accumulation
    * runs in integer micro-units with the backward recurrence
    * δ(u) += (σ(u) · (10⁶ + δ(v))) DIV σ(v) — every term integral on
    * positive values, sums order-independent, so the unrolled-level
    * DuckDB oracle (// is floor = DIV on positives) replays the whole
    * two-pass computation bit-for-bit. The hop bound is part of the query
    * semantics (k-bounded betweenness): it caps the unrolled oracle AND
    * keeps σ·(10⁶+δ) far under long overflow (σ grows with path
    * multiplicity per extra hop; at depth 4 on 10⁹-edge graphs the
    * product stays ≤ ~10¹⁴ — past that widen σ to decimal).
    *
    * Scale shape: forward = [[bfsHops]]-style level expansion keyed
    * (source, node) with a map-side-combining σ sum per level; backward =
    * one join per level against the NEXT level's δ — 2·depth bounded
    * rounds, all key-partitioned equi-joins, state ≤ |L|·nodes rows,
    * nothing node². Landmark count is the accuracy/cost knob.
    */
  private[graft] val BetwLandmarks = 4
  private[graft] val BetwMaxDepth = 3

  def betweennessCentrality(s: SparkSession, d: String): DataFrame =
    // build-once artifact like [[harmonicCentrality]] (r16 verdict: "the
    // exact per-corpus result is a natural build-once artifact")
    ArtifactCache.readOrBuild(s,
      ArtifactCache.dirMulti(s, d, Seq("orders", "lineitem"),
        "graft_graph", "betweenness@r1")) {
      betweennessCentralityBuild(s, d)
    }.orderBy(desc("betw_units"), col("kind"), col("entity_key"))

  private def betweennessCentralityBuild(s: SparkSession,
      d: String): DataFrame = {
    // checkpoint the edge build HERE so the node count below reads the
    // materialized blocks instead of re-running the orders⋈lineitem
    // join (betweennessFrom's own checkpoint of this frame is then a
    // cheap narrow rescan)
    val edges = custSuppEdges(s, d) // self-materialized half (r20)
    // Brandes–Pich pivot-sampling normalization: the unbiased estimate of
    // the FULL betweenness is (n/|S|)·Σ_{s∈S} δ_s(v). The factor is the
    // same positive constant for every node, so it cannot change the
    // ranking — apply it AFTER the top-20 cut (20 multiplies, not |V|)
    // via a broadcast 1-row node count. Integral micro-units throughout;
    // at 10⁹-node scale widen betw_units to decimal before the product.
    val n = edges.select(col("src")).distinct()
      .agg(count(lit(1)).as("n_nodes"))
    betweennessFrom(edges, BetwLandmarks, BetwMaxDepth)
      .select(
        when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("kind"),
        expr("node DIV 2").as("entity_key"),
        col("betw_units"))
      .orderBy(desc("betw_units"), col("kind"), col("entity_key"))
      .limit(20)
      .crossJoin(broadcast(n))
      .select(col("kind"), col("entity_key"), col("betw_units"),
        expr(s"(betw_units * n_nodes) DIV $BetwLandmarks")
          .as("betw_est_units"))
      .orderBy(desc("betw_units"), col("kind"), col("entity_key"))
  }

  /** The two-pass Brandes core over any symmetric (src, dst) edge frame:
    * (node, betw_units = Σ_sources δ in micro-units) for every non-source
    * node on ≥1 counted shortest path. Hand-graph exactness pinned in
    * GraphSpec against a manual Brandes run.
    */
  private[graft] def betweennessFrom(edgeDf: DataFrame, nLandmarks: Int,
      depth: Int): DataFrame = {
    val edges = edgeDf.localCheckpoint()
    val lms = edges.select(col("src").as("node")).distinct()
      .orderBy(col("node")).limit(nLandmarks)
      .select(col("node").as("lm"))
    brandesDeltas(edges, lms, depth)
      .groupBy(col("node"))
      .agg(sum(col("du")).as("betw_units"))
  }

  /** Per-source Brandes dependencies over any symmetric edge frame and
    * any source frame `lms` (one `lm` column): (lm, node, du) rows in
    * micro-units, one per (source, interior node) with node on ≥1
    * counted shortest path from lm — the un-summed inner state of
    * [[betweennessFrom]], exposed so the landmark sweep can aggregate
    * the SAME pass per landmark-count knob (and, with lms = all nodes,
    * read the exact hop-bounded betweenness from the identical rows).
    * `edges` must already be materialized (checkpointed) by the caller.
    */
  private[graft] def brandesDeltas(edges: DataFrame, lms: DataFrame,
      depth: Int): DataFrame = {
    // forward pass: levels(h) = (lm, node, sigma) of nodes FIRST reached
    // at hop h from lm, σ = number of shortest lm→node paths (sum of
    // predecessor σ — correct exactly because the anti-join restricts to
    // first-reach, i.e. shortest, levels)
    var levels = Vector(
      lms.select(col("lm"), col("lm").as("node"), lit(1L).as("sigma"))
        .localCheckpoint())
    var seen = levels(0).select(col("lm"), col("node"))
    (1 to depth).foreach { _ =>
      val next = levels.last.join(edges, col("node") === col("src"))
        .groupBy(col("lm"), col("dst"))
        .agg(sum(col("sigma")).as("sigma"))
        .select(col("lm"), col("dst").as("node"), col("sigma"))
        .join(seen, Seq("lm", "node"), "left_anti")
        .localCheckpoint()
      levels = levels :+ next
      seen = seen.unionByName(next.select(col("lm"), col("node")))
    }
    // backward pass: δ(u) = Σ_{successors v} (σ(u)·(10⁶+δ(v))) DIV σ(v),
    // peeled level by level from the horizon (δ there = 0: no successors
    // inside the hop bound — exactly the k-bounded semantics)
    var delta = levels(depth)
      .select(col("lm"), col("node"), lit(0L).as("du"))
    val inner = (depth to 1 by -1).map { h =>
      val contrib = levels(h)
        .select(col("lm"), col("node").as("v"), col("sigma").as("sv"))
        .join(delta.select(col("lm"), col("node").as("v"), col("du")),
          Seq("lm", "v"))
        .join(edges.select(col("src").as("u"), col("dst").as("v")), Seq("v"))
        .join(levels(h - 1)
          .select(col("lm"), col("node").as("u"), col("sigma").as("su")),
          Seq("lm", "u"))
        .select(col("lm"), col("u").as("node"),
          expr("(su * (1000000L + du)) DIV sv").as("term"))
        .groupBy(col("lm"), col("node"))
        .agg(sum(col("term")).as("du"))
        .localCheckpoint()
      // carry zero-δ rows: a level-(h-1) node with no successors still
      // enters ITS predecessors' terms with the 10⁶ base
      delta = levels(h - 1).select(col("lm"), col("node"))
        .join(contrib, Seq("lm", "node"), "left_outer")
        .select(col("lm"), col("node"), coalesce(col("du"), lit(0L)).as("du"))
      (h - 1, delta)
    }.toMap
    // interior levels 1..depth−1 only: level 0 is the source (excluded
    // by Brandes' definition) and horizon-level δ is identically 0 under
    // the hop bound. A node can be interior for one source and horizon
    // for another — each source's row set is keyed (lm, node) at that
    // source's unique level
    (1 until depth).map(inner).reduceOption(_ unionByName _)
      .getOrElse(delta.limit(0))
  }

  /** Multi-source BFS first-reach distances over any symmetric edge
    * frame: (lm, node, dist ∈ [1, maxHops]) for every node reached from
    * source lm within the hop bound — the row-encoded sibling of
    * [[harmonicFrom]]'s 64-landmark bitmask BFS, with no source-count
    * cap (the landmark sweep runs it with lms = ALL nodes of a bounded
    * graph to read the exact hop-bounded harmonic baseline). `edges`
    * must already be materialized (checkpointed) by the caller.
    */
  private[graft] def bfsDistancesFrom(edges: DataFrame, lms: DataFrame,
      maxHops: Int): DataFrame = {
    var frontier = lms.select(col("lm"), col("lm").as("node"))
      .localCheckpoint()
    var seen = frontier
    var out = Vector.empty[DataFrame]
    (1 to maxHops).foreach { h =>
      val next = frontier.join(edges, col("node") === col("src"))
        .select(col("lm"), col("dst").as("node")).distinct()
        .join(seen, Seq("lm", "node"), "left_anti")
        .localCheckpoint()
      out = out :+ next.select(col("lm"), col("node"), lit(h).as("dist"))
      frontier = next
      seen = seen.unionByName(next)
    }
    out.reduce(_ unionByName _)
  }

  /** The landmark-count grid both sweep instruments report — brackets
    * the production defaults ([[BetwLandmarks]] = 4,
    * [[HarmonicLandmarks]] = 8) by 2× in both directions out to 64 (the
    * bitmask ceiling), so the estimate-quality curve's elbow is visible
    * in one reading.
    */
  private[graft] val SweepLandmarks = Seq(2, 4, 8, 16, 32, 64)

  /** ESTIMATE-vs-EXACT landmark sweep core: given per-source
    * contributions (lm, node, cu — Brandes δ or inverse-distance units),
    * report for each landmark count L how well the L-landmark estimate
    * recovers the exact (all-sources) centrality. One row per L:
    * (n_landmarks, n_nodes, top20_overlap, err_units_top20,
    * exact_units_top20, err_permille).
    *
    * The whole sweep re-aggregates ONE materialized contribution pass —
    * landmark sets are NESTED (the L smallest node ids ⊂ the 2L
    * smallest), so the exact baseline (sum over ALL sources) and every
    * estimate (sum over rk ≤ L, scaled by n DIV eff where eff =
    * min(L, n) — the n/L inflation is the unbiased choice under
    * uniform-from-V source sampling for BOTH estimators, and is what
    * makes L ≥ n collapse to the exact value bit-for-bit, the property
    * GraphSpec pins) read the same (lm, node, cu) rows: the
    * sim_ivf_nlist_report / dedup_threshold_report persisted-artifact
    * sweep shape, applied to graph estimator tuning. Integer micro-units
    * throughout ⇒ the DuckDB oracle replays every row bit-for-bit
    * (validated against an independent Python Brandes/BFS reference at
    * two SFs before landing).
    *
    * Exact all-sources centrality is O(n·m) — that cost is the
    * documented measurement-twin bound (the n² exact-kNN precedent):
    * the INSTRUMENT runs on a bounded fixture graph, while the
    * production estimators ([[betweennessFrom]], [[harmonicFrom]]) stay
    * O(L·m) at any scale, with this report saying what quality each L
    * buys.
    */
  private[graft] def landmarkReportFrom(contrib: DataFrame,
      nodes: DataFrame, ls: Seq[Int]): DataFrame = {
    require(ls.nonEmpty && ls == ls.sorted && ls.distinct == ls,
      s"landmark grid must be ascending and distinct: $ls")
    val c = contrib.localCheckpoint() // re-aggregated once per L + exact
    // landmark ranks among the max(ls) smallest node ids: bounded set,
    // ranked by triangular broadcast join (the harmonicFrom idiom — no
    // unpartitioned window, no driver collect)
    val lmsTop = nodes.orderBy(col("node")).limit(ls.max)
      .select(col("node").as("lm")).localCheckpoint()
    val lmr = lmsTop
      .join(broadcast(lmsTop.select(col("lm").as("lm2"))),
        col("lm2") <= col("lm"))
      .groupBy(col("lm")).agg(count(lit(1)).as("rk"))
      .localCheckpoint() // bounded ≤ 64 rows, filtered once per L
    val nn = nodes.agg(count(lit(1)).as("n_nodes")).localCheckpoint()
    val ext = c.groupBy(col("node")).agg(sum(col("cu")).as("exact_units"))
      .orderBy(desc("exact_units"), col("node")).limit(20)
      .localCheckpoint() // the exact top-20, compared against per L
    ls.map { l =>
      val lml = lmr.filter(col("rk") <= l).select(col("lm"))
      val eff = lml.agg(count(lit(1)).as("eff"))
      val est = c.join(broadcast(lml), Seq("lm"))
        .groupBy(col("node")).agg(sum(col("cu")).as("su"))
        .crossJoin(broadcast(nn)).crossJoin(broadcast(eff))
        .select(col("node"), expr("(su * n_nodes) DIV eff").as("est"))
        .localCheckpoint() // node-sized; read by top-20, overlap AND err
      val et = est.orderBy(desc("est"), col("node")).limit(20)
        .select(col("node"))
      val overlap = ext.join(et, Seq("node"))
        .agg(count(lit(1)).as("top20_overlap"))
      val err = ext
        .join(est.select(col("node"), col("est")), Seq("node"), "left_outer")
        .agg(
          coalesce(sum(abs(coalesce(col("est"), lit(0L))
            - col("exact_units"))), lit(0L)).as("err_units_top20"),
          coalesce(sum(col("exact_units")), lit(0L))
            .as("exact_units_top20"))
      overlap.crossJoin(broadcast(err)).crossJoin(broadcast(nn))
        .select(lit(l).cast("long").as("n_landmarks"), col("n_nodes"),
          col("top20_overlap"), col("err_units_top20"),
          col("exact_units_top20"),
          when(col("exact_units_top20") === 0, lit(null).cast("long"))
            .otherwise(expr("err_units_top20 * 1000 DIV exact_units_top20"))
            .as("err_permille"))
    }.reduce(_ unionByName _).orderBy(col("n_landmarks"))
  }

  /** The bounded SWEEP GRAPH both landmark instruments measure on: the
    * nation-0 customers' interactions with the 100 lowest-keyed
    * suppliers — a real skewed bipartite slice whose node count is
    * fixture-bounded (~1/25 of customers + ≤100 suppliers), because the
    * sweep's exact baseline is all-sources Brandes/BFS and must stay a
    * bounded measurement twin at every SF. Same parity node encoding as
    * [[custSuppEdges]].
    */
  private def sweepEdges(s: SparkSession, d: String): DataFrame = {
    val e0 = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d).filter(col("c_nationkey") === 0)
        .select(col("c_custkey")), col("o_custkey") === col("c_custkey"))
      .filter(col("l_suppkey") <= 100)
      .select((col("o_custkey") * 2).as("c"),
        (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    e0.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(e0.select(col("s").as("src"), col("c").as("dst")))
  }

  /** BETWEENNESS LANDMARK SWEEP — the measured answer to "how many
    * Brandes pivots does MY graph need": estimate vs exact hop-bounded
    * betweenness on the bounded sweep graph at L ∈ [[SweepLandmarks]].
    * The r15 IVF-nlist pattern applied to the graph family's scale knob
    * ([[BetwLandmarks]], now also the [[graft.api.Graft
    * .betweennessCentrality]] default). One all-sources
    * [[brandesDeltas]] pass (the exact baseline) is re-aggregated per L
    * — landmark nesting makes every estimate a filter of the same rows.
    * The 6-row report is a content-addressed build-once artifact (the
    * hyperANF shape: keyed on all three tables the sweep graph derives
    * from, r16 verdict — the all-sources exact pass was ~5 s of every
    * warm cycle); re-sorted on n_landmarks at attach.
    */
  def betwLandmarkReport(s: SparkSession, d: String): DataFrame =
    ArtifactCache.readOrBuild(s,
      ArtifactCache.dirMulti(s, d, Seq("orders", "lineitem", "customer"),
        "graft_graph", "betw_landmark_report@r1")) {
      val edges = sweepEdges(s, d).localCheckpoint()
      val nodes = edges.select(col("src").as("node")).distinct()
      val deltas = brandesDeltas(edges, nodes.select(col("node").as("lm")),
        BetwMaxDepth)
        .select(col("lm"), col("node"), col("du").as("cu"))
      landmarkReportFrom(deltas, nodes, SweepLandmarks)
    }.orderBy(col("n_landmarks"))

  /** HARMONIC LANDMARK SWEEP — the [[betwLandmarkReport]] twin for the
    * Eppstein–Wang inverse-distance estimator ([[HarmonicLandmarks]],
    * the [[graft.api.Graft.harmonicCentrality]] default): estimate
    * (scaled n DIV eff) vs exact all-sources harmonic at
    * L ∈ [[SweepLandmarks]], from ONE [[bfsDistancesFrom]] pass.
    * Build-once artifact like [[betwLandmarkReport]] (same keying and
    * r16 rationale — the all-sources BFS was ~6.5 s/warm cycle).
    */
  def harmonicLandmarkReport(s: SparkSession, d: String): DataFrame =
    ArtifactCache.readOrBuild(s,
      ArtifactCache.dirMulti(s, d, Seq("orders", "lineitem", "customer"),
        "graft_graph", "harmonic_landmark_report@r1")) {
      val edges = sweepEdges(s, d).localCheckpoint()
      val nodes = edges.select(col("src").as("node")).distinct()
      val contrib = bfsDistancesFrom(edges, nodes.select(col("node").as("lm")),
        HarmonicMaxHops)
        .select(col("lm"), col("node"),
          expr("1000000L DIV dist").as("cu"))
      landmarkReportFrom(contrib, nodes, SweepLandmarks)
    }.orderBy(col("n_landmarks"))

  /** Per-kind degree profile of the customer–supplier graph: node count,
    * min/max degree, and mean degree as one double division of exact
    * longs. The two-row output is the graph-shape summary a partitioning
    * or salting decision reads first (max/mean degree ratio = skew).
    */
  def degreeProfile(s: SparkSession, d: String): DataFrame =
    custSuppEdges(s, d, materializeHalf = false) // single pass: no pin
      .groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .groupBy(when(col("src") % 2 === 0, lit("customer"))
        .otherwise(lit("supplier")).as("kind"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"),
        (sum(col("deg")).cast("double") / count(lit(1))).as("avg_deg"))
      .orderBy(col("kind"))

  /** Degree ASSORTATIVITY (Newman's mixing coefficient): the Pearson
    * correlation of endpoint degrees over edges — THE one-number
    * diagnostic of hub wiring (r < 0: hubs attach to leaves, the
    * bipartite/star shape that needs skew handling; r > 0: hubs cluster).
    * Read together with [[degreeProfile]] before partitioning decisions.
    *
    * Exactness: over the symmetric directed edge list the moments
    * Σxy, Σx, Σx² and m are exact longs (headroom: deg²·m < 2⁶³ up to
    * ~10⁶-degree hubs on 10⁹ edges), and r is a single double expression
    * over them — engine-exact like the clustering coefficient. One
    * degree groupBy + two joins + one aggregate; no iteration.
    */
  def assortativity(s: SparkSession, d: String): DataFrame = {
    val edges = custSuppEdges(s, d) // self-materialized half (r20)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val xy = edges
      .join(deg.select(col("src"), col("deg").as("x")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("deg").as("y")), Seq("dst"))
    xy.agg(count(lit(1)).as("m"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"))
      .select(col("m"),
        ((col("sxy").cast("double") / col("m")
          - (col("sx").cast("double") / col("m"))
            * (col("sx").cast("double") / col("m")))
          / (col("sxx").cast("double") / col("m")
            - (col("sx").cast("double") / col("m"))
              * (col("sx").cast("double") / col("m"))))
          .as("assortativity"))
  }

  /** LINK PREDICTION on the supplier projection of the customer–supplier
    * bipartite graph: score supplier pairs that share customers by the
    * three classic neighborhood indices — common neighbors (cn), Jaccard
    * cn/(|N(a)|∪|N(b)|), and the resource-allocation index
    * Σ_{c ∈ N(a)∩N(b)} 1/deg(c) (Zhou–Lü–Zhang; preferred here over
    * Adamic–Adar's 1/ln(deg) because 1/deg replays as an EXACT integer —
    * pico-units 10¹² DIV deg summed as BIGINT — where ln() would bet the
    * hash check on two engines' libm agreeing). Top-20 pairs by
    * (ra desc, cn desc, a, b); Jaccard is one double division of exact
    * longs, so both engines emit identical bits.
    *
    * Scale shape: candidate pairs are generated THROUGH the shared
    * customer (one self-join keyed on custkey) — never supplier×supplier
    * — so the blow-up is Σ_c deg(c)², and customers with deg > 64 are
    * excluded from pair GENERATION up front (the hybrid-lexical df-cap
    * move: a hub customer who buys from everyone asserts nothing about
    * any particular supplier pair and would alone contribute O(|S|²)
    * pairs). With the cap, pair volume is ≤ 64·|E|; the pair groupBy is
    * the one real shuffle, and the full (uncapped) supplier-degree table
    * joins in at dimension size — broadcast at any scale.
    */
  def linkPrediction(s: SparkSession, d: String): DataFrame = {
    val cs = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
    linkPredictionOn(cs, via = "cust", node = "supp",
      maxViaDegree = 64, k = 20)
  }

  /** The generic core behind [[linkPrediction]] (and
    * [[graft.api.Graft.linkPrediction]]): any 2-column bipartite incidence
    * frame — (via, node) rows, deduped here — scored on the `node` side
    * through shared `via` neighbors. See [[linkPrediction]] for the
    * candidate-generation cap and exact-arithmetic contract.
    */
  private[graft] def linkPredictionOn(inc: DataFrame, via: String,
      node: String, maxViaDegree: Int, k: Int): DataFrame = {
    val cs = inc.select(col(via).as("cust"), col(node).as("supp"))
      .distinct()
      .localCheckpoint() // 2 consumers (degrees + pairs): upstream runs once
    val cdeg = cs.groupBy(col("cust")).agg(count(lit(1)).as("cdeg"))
    val sdeg = cs.groupBy(col("supp")).agg(count(lit(1)).as("sdeg"))
    val capped = cs.join(cdeg.filter(col("cdeg") <= maxViaDegree), Seq("cust"))
    val pairs = capped.select(col("cust"), col("supp").as("sa"), col("cdeg"))
      .join(capped.select(col("cust"), col("supp").as("sb")), Seq("cust"))
      .filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("CAST(1000000000000 AS BIGINT) DIV cdeg")).as("ra_units"))
    pairs
      .join(broadcast(sdeg.select(col("supp").as("sa"), col("sdeg").as("da"))),
        Seq("sa"))
      .join(broadcast(sdeg.select(col("supp").as("sb"), col("sdeg").as("db"))),
        Seq("sb"))
      .select(col("sa"), col("sb"), col("cn"), col("ra_units"),
        (col("cn").cast("double") / (col("da") + col("db") - col("cn")))
          .as("jaccard"))
      .orderBy(desc("ra_units"), desc("cn"), col("sa"), col("sb"))
      .limit(k)
  }

  val queries = Map(
    "graph_hyper_anf" -> (hyperAnf _),
    "graph_link_prediction" -> (linkPrediction _),
    "graph_pagerank" -> (pageRank _),
    "graph_ppr" -> (pageRankPersonalized _),
    "graph_assortativity" -> (assortativity _),
    "graph_pagerank_weighted" -> (pageRankWeighted _),
    "graph_pagerank_converged" -> (pageRankConverged _),
    "graph_bfs_hops" -> (bfsHops _),
    "graph_harmonic" -> (harmonicCentrality _),
    "graph_betweenness" -> (betweennessCentrality _),
    "graph_betw_landmark_report" -> (betwLandmarkReport _),
    "graph_harmonic_landmark_report" -> (harmonicLandmarkReport _),
    "graph_sssp_cost" -> (ssspCost _),
    "graph_kcore" -> (kCore _),
    "graph_triangles" -> (triangleCensus _),
    "graph_clustering_coeff" -> (clusteringCoeff _),
    "graph_ktruss" -> (kTruss _),
    "graph_label_prop" -> (labelProp _),
    "graph_modularity" -> (modularity _),
    "graph_degree_profile" -> (degreeProfile _))

  // combined dup corpus (originals ∪ exact copies ∪ truncated near-dups),
  // mirroring [[dupCorpus]]; the shingle/edge CTEs mirror DedupOps' oracles.
  // private[graft]: PipelineOps composes the same corpus + near-dup edge
  // CTEs into its end-to-end oracle
  private[graft] val planted =
    """SELECT doc_id, lang, source, text FROM documents
       UNION ALL
       SELECT doc_id + 100000, lang, source, text FROM documents
       WHERE doc_id % 5 = 0
       UNION ALL
       SELECT doc_id + 200000, lang, source,
         array_to_string(w[1:greatest(len(w) - 5, 1)], ' ')
       FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS w
             FROM documents)
       WHERE doc_id % 7 = 0"""

  private val nearDupEdges =
    s"""corpus AS ($planted),
       shg AS (SELECT doc_id, lang, source,
           list_distinct(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
         FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS w
               FROM corpus)),
       e AS (SELECT a.doc_id AS a, b.doc_id AS b
         FROM shg a JOIN shg b
           ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.3)"""

  // one unrolled peel round: survivors of round i (degree ≥ k in e_{i-1}),
  // then e_i = edges with both endpoints surviving — mirrors [[kCoreFrom]]
  private def peelRound(i: Int): String =
    s"""n$i AS (SELECT src FROM (SELECT src, count(*) AS deg FROM e${i - 1}
           GROUP BY src) WHERE deg >= $KCoreK),
       e$i AS (SELECT e.src, e.dst FROM e${i - 1} e
           JOIN n$i a ON e.src = a.src JOIN n$i b ON e.dst = b.src)"""

  // one unrolled truss peel: triangles of the sorted edge set, per-edge
  // support over the three projections, threshold filter, edge semi-join —
  // mirrors [[trussFrom]]
  // MATERIALIZED: DuckDB inlines plain CTEs, so each self-join reference
  // would re-expand the whole upstream chain (3^rounds copies of the
  // shingle pipeline — measured as a too-many-open-files blowup);
  // materializing each round's edge/triangle set keeps the unrolled plan
  // linear, mirroring the Spark side's per-round localCheckpoint
  private def trussRound(i: Int): String =
    s"""tri$i AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         FROM te${i - 1} e1 JOIN te${i - 1} e2 ON e2.a = e1.b
         JOIN te${i - 1} e3 ON e3.a = e1.a AND e3.b = e2.b),
       sup$i AS (SELECT a, b FROM (
           SELECT x AS a, y AS b FROM tri$i
           UNION ALL SELECT y, z FROM tri$i
           UNION ALL SELECT x, z FROM tri$i)
         GROUP BY a, b HAVING count(*) >= ${TrussK - 2}),
       te$i AS MATERIALIZED (SELECT e.a, e.b FROM te${i - 1} e
         JOIN sup$i s ON e.a = s.a AND e.b = s.b)"""

  // one unrolled sync-LPA round: neighbor-label counts, the c·K−(lbl+1)
  // max encoding, decode — mirrors [[labelProp]]
  private def lpaRound(i: Int): String =
    s"""l$i AS (SELECT dst AS node, $LpaK - (mx % $LpaK) - 1 AS lbl FROM (
         SELECT dst, max(c * $LpaK - (lbl + 1)) AS mx FROM (
           SELECT e.dst, l.lbl, count(*) AS c
           FROM edges e JOIN l${i - 1} l ON e.src = l.node
           GROUP BY e.dst, l.lbl)
         GROUP BY dst))"""

  // one unrolled forward Brandes level: σ-summing expansion + first-reach
  // anti-join against the accumulated node set — mirrors [[betweennessFrom]]
  private def betwFwd(h: Int): String =
    s"""l$h AS MATERIALIZED (SELECT x.lm, x.node, x.sigma FROM (
         SELECT l.lm, e.dst AS node, CAST(sum(l.sigma) AS BIGINT) AS sigma
         FROM l${h - 1} l JOIN edges e ON e.src = l.node
         GROUP BY l.lm, e.dst) x
       LEFT JOIN a${h - 1} a ON a.lm = x.lm AND a.node = x.node
       WHERE a.node IS NULL),
       a$h AS MATERIALIZED (SELECT * FROM a${h - 1}
         UNION ALL SELECT lm, node FROM l$h)"""

  // one unrolled backward Brandes level: the integral dependency
  // recurrence δ(u) += (σu·(10⁶+δv)) // σv (DuckDB // = floor = Spark DIV
  // on positives), then zero-fill so predecessors still see the 10⁶ base
  private def betwBwd(h: Int): String =
    s"""c${h - 1} AS MATERIALIZED (SELECT lm, node,
         CAST(sum((su * (1000000 + du)) // sv) AS BIGINT) AS du FROM (
         SELECT lv.lm, lu.node AS node, lu.sigma AS su, lv.sigma AS sv, d.du
         FROM l$h lv
         JOIN d$h d ON d.lm = lv.lm AND d.node = lv.node
         JOIN edges e ON e.dst = lv.node
         JOIN l${h - 1} lu ON lu.lm = lv.lm AND lu.node = e.src)
       GROUP BY lm, node),
       d${h - 1} AS MATERIALIZED (SELECT l.lm, l.node,
         CAST(coalesce(c.du, 0) AS BIGINT) AS du
       FROM l${h - 1} l LEFT JOIN c${h - 1} c
         ON c.lm = l.lm AND c.node = l.node)"""

  // sweep-graph prelude shared by both landmark-report oracles: bounded
  // nation-0 × low-key-supplier slice, node universe, landmark ranks
  private val sweepEdgesSql =
    """e0 AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
         WHERE c_nationkey = 0 AND l_suppkey <= 100),
       edges AS (SELECT c AS src, s AS dst FROM e0
                 UNION ALL SELECT s, c FROM e0),
       nodes AS (SELECT DISTINCT src AS lm FROM edges),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       lmr AS (SELECT lm, row_number() OVER (ORDER BY lm) AS rk
               FROM nodes)"""

  // per-L estimate/top-20/report rows over a `contrib`(lm, node, cu) CTE
  // and the exact top-20 `ext` — mirrors [[landmarkReportFrom]]
  private def lmReportSql: String = {
    val perL = SweepLandmarks.map { l =>
      s"""est$l AS (SELECT c.node,
           CAST((sum(c.cu) * (SELECT n FROM nn))
             // (SELECT count(*) FROM lmr WHERE rk <= $l) AS BIGINT) AS est
         FROM contrib c JOIN lmr r USING (lm) WHERE r.rk <= $l
         GROUP BY c.node),
       et$l AS (SELECT node FROM est$l ORDER BY est DESC, node LIMIT 20),
       row$l AS (SELECT CAST($l AS BIGINT) AS n_landmarks,
         (SELECT n FROM nn) AS n_nodes,
         (SELECT CAST(count(*) AS BIGINT) FROM ext JOIN et$l USING (node))
           AS top20_overlap,
         (SELECT CAST(coalesce(sum(abs(coalesce(e.est, 0)
               - x.exact_units)), 0) AS BIGINT)
           FROM ext x LEFT JOIN est$l e ON e.node = x.node)
           AS err_units_top20,
         (SELECT CAST(coalesce(sum(x.exact_units), 0) AS BIGINT)
           FROM ext x) AS exact_units_top20)"""
    }.mkString(",\n       ")
    val rows = SweepLandmarks.map(l => s"SELECT * FROM row$l")
      .mkString("\n           UNION ALL ")
    s"""$perL,
       allrows AS ($rows)
       SELECT n_landmarks, n_nodes, top20_overlap, err_units_top20,
         exact_units_top20,
         CASE WHEN exact_units_top20 = 0 THEN NULL
           ELSE err_units_top20 * 1000 // exact_units_top20
         END AS err_permille
       FROM allrows ORDER BY n_landmarks"""
  }

  // weighted variant of [[prIter]]: contrib = (units · w) DIV tw
  private def prwIter(k: Int): String =
    s"""r$k AS (SELECT wd.dst AS node,
         150000 + (85 * CAST(sum((r.units * wd.w) // wd.tw) AS BIGINT)) // 100
           AS units
       FROM wd JOIN r${k - 1} r ON wd.src = r.node GROUP BY wd.dst)"""

  private def prIter(k: Int): String =
    s"""r$k AS (SELECT wd.dst AS node,
         150000 + (85 * CAST(sum(r.units // wd.deg) AS BIGINT)) // 100
           AS units
       FROM wd JOIN r${k - 1} r ON wd.src = r.node GROUP BY wd.dst)"""

  // both landmark sweeps compare against the exact all-sources pass
  override val instruments: Set[String] = Set("graph_betw_landmark_report",
    "graph_harmonic_landmark_report")

  private def pprIter(k: Int): String =
    s"""p$k AS (SELECT wd.dst AS node,
         (CASE WHEN wd.dst IN (2, 4, 6, 8) THEN 150000 ELSE 0 END)
           + (85 * CAST(sum(r.units // wd.deg) AS BIGINT)) // 100
           AS units
       FROM wd JOIN p${k - 1} r ON wd.src = r.node GROUP BY wd.dst)"""

  val oracle = Map(
    "graph_link_prediction" ->
      """WITH cs AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         cdeg AS (SELECT cust, count(*) AS cdeg FROM cs GROUP BY cust),
         sdeg AS (SELECT supp, count(*) AS sdeg FROM cs GROUP BY supp),
         capped AS (SELECT cs.cust, cs.supp, cdeg.cdeg
           FROM cs JOIN cdeg ON cs.cust = cdeg.cust WHERE cdeg.cdeg <= 64),
         pairs AS (SELECT a.supp AS sa, b.supp AS sb,
             CAST(count(*) AS BIGINT) AS cn,
             CAST(sum(CAST(1000000000000 AS BIGINT) // a.cdeg) AS BIGINT)
               AS ra_units
           FROM capped a JOIN capped b
             ON a.cust = b.cust AND a.supp < b.supp
           GROUP BY a.supp, b.supp)
         SELECT sa, sb, cn, ra_units,
           CAST(cn AS DOUBLE) / (da.sdeg + db.sdeg - cn) AS jaccard
         FROM pairs
           JOIN sdeg da ON pairs.sa = da.supp
           JOIN sdeg db ON pairs.sb = db.supp
         ORDER BY ra_units DESC, cn DESC, sa, sb LIMIT 20""",
    "graph_pagerank" ->
      s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS c,
             l_suppkey * 2 + 1 AS s
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS (SELECT c AS src, s AS dst FROM e0
                   UNION ALL SELECT s, c FROM e0),
         deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         wd AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
         r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS units FROM deg),
         ${(1 to 5).map(prIter).mkString(",\n         ")}
         SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS kind,
           node // 2 AS entity_key, units AS rank_units
         FROM r5
         ORDER BY rank_units DESC, kind, entity_key LIMIT 20""",
    "graph_ppr" ->
      s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS c,
             l_suppkey * 2 + 1 AS s
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS (SELECT c AS src, s AS dst FROM e0
                   UNION ALL SELECT s, c FROM e0),
         deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         wd AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
         p0 AS (SELECT src AS node,
             CAST(CASE WHEN src IN (2, 4, 6, 8) THEN 1000000 ELSE 0 END
               AS BIGINT) AS units
           FROM deg),
         ${(1 to 5).map(pprIter).mkString(",\n         ")}
         SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS kind,
           node // 2 AS entity_key, units AS rank_units
         FROM p5 WHERE units > 0
         ORDER BY rank_units DESC, kind, entity_key LIMIT 20""",
    "graph_triangles" ->
      s"""WITH $nearDupEdges,
         deg AS (SELECT x, count(*) AS deg
           FROM (SELECT a AS x FROM e UNION ALL SELECT b FROM e) GROUP BY x),
         tri AS (SELECT count(*) AS n_triangles
           FROM e e1 JOIN e e2 ON e2.a = e1.b
                     JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
         SELECT n_nodes, n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges > 0
             THEN 3.0 * n_triangles / n_wedges ELSE 0.0 END AS clustering
         FROM (SELECT count(*) AS n_nodes,
                 CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
               FROM deg) ns,
              (SELECT count(*) AS n_edges FROM e) es, tri""",
    "graph_clustering_coeff" ->
      s"""WITH $nearDupEdges,
         deg AS (SELECT x, CAST(count(*) AS BIGINT) AS deg
           FROM (SELECT a AS x FROM e UNION ALL SELECT b FROM e) GROUP BY x),
         tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM e e1 JOIN e e2 ON e2.a = e1.b
                     JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         tn AS (SELECT x, CAST(count(*) AS BIGINT) AS n_tri
           FROM (SELECT x FROM tri UNION ALL SELECT y FROM tri
                 UNION ALL SELECT z FROM tri)
           GROUP BY x)
         SELECT deg.x AS node, deg,
           coalesce(tn.n_tri, 0) AS n_tri,
           2.0 * coalesce(tn.n_tri, 0) / (deg * (deg - 1)) AS local_cc
         FROM deg LEFT JOIN tn ON deg.x = tn.x
         WHERE deg >= 2
         ORDER BY local_cc DESC, deg DESC, node LIMIT 20""",
    "graph_modularity" ->
      s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS c,
             l_suppkey * 2 + 1 AS s
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS (SELECT c AS src, s AS dst FROM e0
                   UNION ALL SELECT s, c FROM e0),
         l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
         ${(1 to LpaRounds).map(lpaRound).mkString(",\n         ")},
         m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
         deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
           FROM edges GROUP BY src),
         comm AS (SELECT l.lbl, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d.deg) AS BIGINT) AS deg_sum
           FROM l$LpaRounds l JOIN deg d ON l.node = d.node GROUP BY l.lbl),
         ein AS (SELECT la.lbl, CAST(count(*) AS BIGINT) AS e_in
           FROM e0 u JOIN l$LpaRounds la ON u.c = la.node
           JOIN l$LpaRounds lb ON u.s = lb.node
           WHERE la.lbl = lb.lbl GROUP BY la.lbl)
         SELECT lbl, n_nodes, deg_sum, e_in, q_part FROM (
           SELECT c.lbl, c.n_nodes, c.deg_sum,
             coalesce(e.e_in, 0) AS e_in,
             CAST(coalesce(e.e_in, 0) AS DOUBLE) / m.m
               - (CAST(c.deg_sum AS DOUBLE) / (2 * m.m))
                 * (CAST(c.deg_sum AS DOUBLE) / (2 * m.m)) AS q_part
           FROM comm c LEFT JOIN ein e ON c.lbl = e.lbl CROSS JOIN m)
         ORDER BY n_nodes DESC, lbl LIMIT 20""",
    "graph_label_prop" ->
      s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS c,
             l_suppkey * 2 + 1 AS s
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS (SELECT c AS src, s AS dst FROM e0
                   UNION ALL SELECT s, c FROM e0),
         l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
         ${(1 to LpaRounds).map(lpaRound).mkString(",\n         ")}
         SELECT lbl, CAST(count(*) AS BIGINT) AS n_members
         FROM l$LpaRounds
         GROUP BY lbl ORDER BY n_members DESC, lbl LIMIT 20""",
    "graph_ktruss" ->
      s"""WITH $nearDupEdges,
         te0 AS MATERIALIZED (SELECT a, b FROM e),
         ${(1 to TrussRounds).map(trussRound).mkString(",\n         ")}
         SELECT n_nodes, n_edges FROM
           (SELECT CAST(count(*) AS BIGINT) AS n_edges
            FROM te$TrussRounds) ee,
           (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM
             (SELECT DISTINCT x FROM
               (SELECT a AS x FROM te$TrussRounds
                UNION ALL SELECT b FROM te$TrussRounds))) nn""",
    // graph_pagerank_converged: rows-only by nature — the terminating
    // round count is a data property, pinned instead by GraphSpec's
    // driver-side integer reference simulation
    "graph_sssp_cost" ->
      s"""WITH RECURSIVE e0 AS (SELECT o_custkey * 2 AS c,
             l_suppkey * 2 + 1 AS s, 1 + count(*) % 5 AS w
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           GROUP BY c, s),
         edges AS (SELECT c AS src, s AS dst, w FROM e0
                   UNION ALL SELECT s, c, w FROM e0),
         walk(node, cost, hops) AS (
           SELECT min(src), CAST(0 AS BIGINT), 0 FROM edges
           UNION
           SELECT e.dst, w.cost + e.w, w.hops + 1
           FROM walk w JOIN edges e ON e.src = w.node
           WHERE w.hops < ${SsspMaxHops}),
         dist AS (SELECT node, min(cost) AS cost FROM walk GROUP BY node)
         SELECT cost, CAST(count(*) AS BIGINT) AS n_nodes
         FROM dist GROUP BY cost ORDER BY cost""",
    "graph_pagerank_weighted" ->
      s"""WITH e0 AS (SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
             1 + count(*) % 5 AS w
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           GROUP BY c, s),
         edges AS (SELECT c AS src, s AS dst, w FROM e0
                   UNION ALL SELECT s, c, w FROM e0),
         tw AS (SELECT src, CAST(sum(w) AS BIGINT) AS tw FROM edges
                GROUP BY src),
         wd AS (SELECT e.src, e.dst, e.w, t.tw FROM edges e
                JOIN tw t USING (src)),
         r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS units FROM tw),
         ${(1 to 5).map(prwIter).mkString(",\n         ")}
         SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS kind,
           node // 2 AS entity_key, units AS rank_units
         FROM r5
         ORDER BY rank_units DESC, kind, entity_key LIMIT 20""",
    "graph_kcore" ->
      s"""WITH ep AS (SELECT DISTINCT o_custkey * 2 AS c,
             l_suppkey * 2 + 1 AS s
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e0 AS (SELECT c AS src, s AS dst FROM ep
                UNION ALL SELECT s, c FROM ep),
         ${(1 to KCoreRounds).map(peelRound).mkString(",\n         ")}
         SELECT CASE WHEN src % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS kind,
           CAST(count(*) AS BIGINT) AS n_core_nodes,
           min(deg) AS min_deg, max(deg) AS max_deg
         FROM (SELECT src, count(*) AS deg FROM e$KCoreRounds GROUP BY src)
         GROUP BY kind ORDER BY kind""",
    "graph_harmonic" ->
      s"""WITH RECURSIVE e0 AS (SELECT DISTINCT o_custkey * 2 AS c,
             l_suppkey * 2 + 1 AS s
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS (SELECT c AS src, s AS dst FROM e0
                   UNION ALL SELECT s, c FROM e0),
         lms AS (SELECT DISTINCT src AS lm FROM edges
                 ORDER BY lm LIMIT $HarmonicLandmarks),
         walk(lm, node, d) AS (
           SELECT lm, lm, 0 FROM lms
           UNION
           SELECT w.lm, e.dst, w.d + 1
           FROM walk w JOIN edges e ON e.src = w.node
           WHERE w.d < $HarmonicMaxHops),
         dist AS (SELECT lm, node, min(d) AS d FROM walk
                  GROUP BY lm, node)
         SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS kind,
           node // 2 AS entity_key,
           CAST(sum(1000000 // d) AS BIGINT) AS harm_units,
           CAST(count(*) AS BIGINT) AS n_lm
         FROM dist WHERE d > 0
         GROUP BY kind, entity_key
         ORDER BY harm_units DESC, kind, entity_key LIMIT 20""",
    "graph_betweenness" ->
      s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS c,
             l_suppkey * 2 + 1 AS s
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS (SELECT c AS src, s AS dst FROM e0
                   UNION ALL SELECT s, c FROM e0),
         lms AS (SELECT DISTINCT src AS lm FROM edges
                 ORDER BY lm LIMIT $BetwLandmarks),
         l0 AS MATERIALIZED (SELECT lm, lm AS node,
             CAST(1 AS BIGINT) AS sigma FROM lms),
         a0 AS MATERIALIZED (SELECT lm, node FROM l0),
         ${(1 to BetwMaxDepth).map(betwFwd).mkString(",\n         ")},
         d$BetwMaxDepth AS (SELECT lm, node, CAST(0 AS BIGINT) AS du
           FROM l$BetwMaxDepth),
         ${(BetwMaxDepth to 1 by -1).map(betwBwd).mkString(",\n         ")}
         SELECT kind, entity_key, betw_units,
           CAST((betw_units
               * (SELECT count(DISTINCT src) FROM edges))
             // $BetwLandmarks AS BIGINT) AS betw_est_units
         FROM (
           SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS kind,
             node // 2 AS entity_key,
             CAST(sum(du) AS BIGINT) AS betw_units
           FROM (${(1 until BetwMaxDepth)
            .map(h => s"SELECT lm, node, du FROM d$h")
            .mkString("\n               UNION ALL ")})
           GROUP BY kind, entity_key
           ORDER BY betw_units DESC, kind, entity_key LIMIT 20)
         ORDER BY betw_units DESC, kind, entity_key""",
    // estimate-vs-exact landmark sweeps: the all-sources pass (lms =
    // every node of the bounded sweep graph) replays the same unrolled
    // Brandes / recursive-BFS machinery as the production oracles; each
    // L reads it back filtered to the L lowest-id landmarks. Validated
    // against an independent Python Brandes/BFS reference at two SFs.
    "graph_betw_landmark_report" -> SimOps.materializeCtes(
      s"""WITH $sweepEdgesSql,
         l0 AS (SELECT lm, lm AS node, CAST(1 AS BIGINT) AS sigma
                FROM nodes),
         a0 AS (SELECT lm, node FROM l0),
         ${(1 to BetwMaxDepth).map(betwFwd).mkString(",\n         ")},
         d$BetwMaxDepth AS (SELECT lm, node, CAST(0 AS BIGINT) AS du
           FROM l$BetwMaxDepth),
         ${(BetwMaxDepth to 1 by -1).map(betwBwd).mkString(",\n         ")},
         contrib AS (${(1 until BetwMaxDepth)
          .map(h => s"SELECT lm, node, du AS cu FROM d$h")
          .mkString("\n           UNION ALL ")}),
         ex AS (SELECT node, CAST(sum(cu) AS BIGINT) AS exact_units
           FROM contrib GROUP BY node),
         ext AS (SELECT node, exact_units FROM ex
           ORDER BY exact_units DESC, node LIMIT 20),
         $lmReportSql"""),
    "graph_harmonic_landmark_report" ->
      s"""WITH RECURSIVE ${SimOps.materializeCtes(sweepEdgesSql)},
         walk(lm, node, d) AS (
           SELECT lm, lm, 0 FROM nodes
           UNION
           SELECT w.lm, e.dst, w.d + 1
           FROM walk w JOIN edges e ON e.src = w.node
           WHERE w.d < $HarmonicMaxHops),
         dist AS MATERIALIZED (SELECT lm, node, min(d) AS d FROM walk
           GROUP BY lm, node),
         contrib AS MATERIALIZED (SELECT lm, node,
             CAST(1000000 // d AS BIGINT) AS cu
           FROM dist WHERE d > 0),
         ex AS MATERIALIZED (SELECT node,
             CAST(sum(cu) AS BIGINT) AS exact_units
           FROM contrib GROUP BY node),
         ext AS MATERIALIZED (SELECT node, exact_units FROM ex
           ORDER BY exact_units DESC, node LIMIT 20),
         ${SimOps.materializeCtes(lmReportSql)}""",
    "graph_bfs_hops" ->
      s"""WITH RECURSIVE e0 AS (SELECT DISTINCT o_custkey * 2 AS c,
             l_suppkey * 2 + 1 AS s
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS (SELECT c AS src, s AS dst FROM e0
                   UNION ALL SELECT s, c FROM e0),
         walk(node, d) AS (
           SELECT min(src), 0 FROM edges
           UNION
           SELECT e.dst, w.d + 1 FROM walk w JOIN edges e ON e.src = w.node
           WHERE w.d < ${BfsMaxHops}),
         dist AS (SELECT node, min(d) AS hops FROM walk GROUP BY node)
         SELECT hops, CAST(count(*) AS BIGINT) AS n_nodes
         FROM dist GROUP BY hops ORDER BY hops""",
    "graph_assortativity" ->
      """WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS c,
             l_suppkey * 2 + 1 AS s
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS (SELECT c AS src, s AS dst FROM e0
                   UNION ALL SELECT s, c FROM e0),
         deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         xy AS (SELECT dx.deg AS x, dy.deg AS y
           FROM edges e JOIN deg dx ON e.src = dx.src
                        JOIN deg dy ON e.dst = dy.src),
         mo AS (SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx
           FROM xy)
         SELECT m,
           (CAST(sxy AS DOUBLE) / m
             - (CAST(sx AS DOUBLE) / m) * (CAST(sx AS DOUBLE) / m))
           / (CAST(sxx AS DOUBLE) / m
             - (CAST(sx AS DOUBLE) / m) * (CAST(sx AS DOUBLE) / m))
           AS assortativity
         FROM mo""",
    "graph_degree_profile" ->
      """WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS c,
             l_suppkey * 2 + 1 AS s
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS (SELECT c AS src, s AS dst FROM e0
                   UNION ALL SELECT s, c FROM e0),
         deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)
         SELECT CASE WHEN src % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS kind,
           count(*) AS n_nodes, min(deg) AS min_deg, max(deg) AS max_deg,
           CAST(sum(deg) AS DOUBLE) / count(*) AS avg_deg
         FROM deg GROUP BY kind ORDER BY kind""")
}
