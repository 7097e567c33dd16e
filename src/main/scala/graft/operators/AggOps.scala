package graft.operators

import graft.{OpFamily, Tables}
import graft.functions.Num.dsum
import graft.functions.NativeExprs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The summarization pattern family (SURVEY.md §2.5): keyed aggregation with
  * automatic map-side partial aggregation (the MR "combiner" — Catalyst
  * plans partial+final HashAggregate, so shuffle volume is one row per
  * (key, partition), not per input row), numerical summaries, exact and
  * approximate count-distinct, cube/rollup/grouping-sets, histograms,
  * inverted index, wordcount.
  *
  * Scale notes: every group-by here keys on low-cardinality columns, so the
  * post-combine shuffle is tiny regardless of input size; count-distinct
  * expands to a two-phase plan (Expand + two aggregates) that also scales
  * linearly; `approx_count_distinct` (HLL++) is the 100 TB path when
  * exactness isn't required — constant memory per group.
  */
object AggOps extends OpFamily {

  /** Flagship: TPC-H Q1-style pricing summary — scan→filter→agg→sort, the
    * canonical map/combine/reduce showcase. Money sums use exact decimal
    * accumulation (see [[graft.functions.Num]]) so the DuckDB hash-compare
    * cannot drift on summation order.
    */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame = {
    // All-decimal arithmetic for the sums: quantize the RAW columns (2-dp
    // rationals, never near a quantum midpoint) and multiply exactly in
    // decimal. Quantizing the double PRODUCT instead (the round-1 version)
    // hit .00005 midpoints where Spark rounds HALF_UP and DuckDB HALF_EVEN
    // — ~40 flipped cents per group at sf0.01.
    val price = col("l_extendedprice").cast("decimal(14,2)")
    val disc1 = lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(4,2)")
    val tax1 = lit(1).cast("decimal(3,2)") + col("l_tax").cast("decimal(4,2)")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(price * disc1).cast("double").as("sum_disc_price"),
        sum(price * disc1 * tax1).cast("double").as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Numerical summaries: stddev/variance/exact percentile (MRDP ch.2). */
  def numericSummary(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"),
        (dsum(col("value")) / count(col("value"))).as("avg_v"),
        round(stddev_samp(col("value")), 4).as("sd_v"),
        round(percentile(col("value"), lit(0.5)), 4).as("p50_v"))
      .orderBy(col("event_type"))

  /** EXACT global quantiles at scale: value at rank ceil(p·n) in the total
    * order, via [[graft.api.Graft.exactQuantiles]] — distributed
    * order-statistic selection (range partition + per-partition offsets;
    * only the ≤ 4 partitions containing a target rank are sorted). The
    * scale-safe exact alternative to approx_percentile when the answer
    * must be reproducible to the bit (audits, cut-point contracts).
    */
  def exactQuantiles(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.exactQuantiles(
      Tables.lineitem(s, d),
      "l_extendedprice", Seq("l_orderkey", "l_linenumber"))

  /** EXACT WEIGHTED QUANTILES per group — the curation cut that plain
    * quantiles get wrong: "the median DOCUMENT length" weights a
    * 10-token stub equally with a 100k-token book, but a token budget
    * cares where the TOKENS sit, so the cut must be weighted by token
    * mass. Definition (all integral, both engines floor the same):
    * wq(q‰) = the smallest value v whose running weight (ordered by
    * (value, id) — unique, so window frames can't disagree) satisfies
    * cum_w · 1000 ≥ q · total_w. One window cumsum per group + one
    * filter-min per requested q over the SAME cumulated frame — no
    * per-q rescan. Registered fixture: per-lang token-weighted
    * quartiles + p90 of document char-length over `documents`.
    */
  def weightedQuantiles(s: SparkSession, d: String): DataFrame =
    weightedQuantilesOn(
      Tables.documents(s, d).select(col("lang").as("grp"),
        col("doc_id").as("id"), col("n_chars").cast("long").as("v"),
        size(split(col("text"), " ")).cast("long").as("w")),
      Seq(250, 500, 750, 900))
      .withColumnRenamed("grp", "lang")
      .orderBy(col("lang"), col("q_permille"))

  /** The core over any (grp, id, v, w) frame — also the
    * [[graft.api.Graft.weightedQuantiles]] core. Weights must be
    * non-negative; ids unique per row (the deterministic tie-break).
    * Groups whose TOTAL weight is 0 are dropped, not answered: every
    * row satisfies cw·1000 ≥ tw·q vacuously there, so the "quantile"
    * would be the group's minimum — an arbitrary cut that silently
    * admits a group the weighting says carries nothing (r17 advice);
    * a caller who wants those groups decides their cut explicitly.
    */
  private[graft] def weightedQuantilesOn(df: DataFrame,
      qs: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qs.nonEmpty && qs.forall(q => q >= 1 && q <= 1000),
      s"quantiles must be 1..1000 permille: $qs")
    val wCum = Window.partitionBy(col("grp")).orderBy(col("v"), col("id"))
    val wAll = Window.partitionBy(col("grp"))
    val cum = df
      .withColumn("cw", sum(col("w")).over(wCum))
      .withColumn("tw", sum(col("w")).over(
        wAll.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .filter(col("tw") > 0) // zero-mass groups have no weighted quantile
      .localCheckpoint() // re-filtered once per requested q
    qs.map { q =>
      cum.filter(col("cw") * 1000 >= col("tw") * q)
        .groupBy(col("grp"))
        .agg(min(col("v")).as("weighted_q"), min(col("tw")).as("total_w"))
        .select(col("grp"), lit(q).cast("long").as("q_permille"),
          col("weighted_q"), col("total_w"))
    }.reduce(_ unionByName _).orderBy(col("grp"), col("q_permille"))
  }

  /** Exact count-distinct (the classic two-MR-job idiom, one plan here). */
  def countDistinctUsers(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .agg(countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("user_id"), col("event_type")).as("n_user_type"))

  /** Approximate distinct via HLL++ — sketch differs from DuckDB's, so this
    * is registered without an oracle twin (rows-only check); its accuracy is
    * property-tested in scalatest against the exact count instead.
    */
  def approxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
      .orderBy(col("event_type"))

  /** MERGEABLE-sketch rollup — the stored-sketch pattern that makes
    * approximate distinct work at 100 TB: build one DataSketches HLL
    * sketch PER DAY (the granularity a pipeline would persist alongside
    * its daily partitions), then answer the global question by UNIONING
    * the stored sketches — never rescanning the raw events. The union is
    * a register-wise max (order-independent, lossless at equal lgK), so
    * the unioned estimate equals the one-shot whole-table sketch exactly
    * — asserted in scalatest; sketch bytes have no DuckDB twin, so the
    * query registers rows-only. Distinct from [[approxDistinct]]
    * (one-shot HLL++): this is the re-aggregable artifact.
    */
  def hllUnionDaily(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("day", to_date(col("ts")))
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
          .as("est_users"))

  /** APPROXIMATE AUDIENCE INTERSECTION by HLL inclusion–exclusion:
    * |A∩B| ≈ |A| + |B| − |A∪B| where every term is an estimate from
    * the SAME mergeable Datasketches HLL family ([[hllUnionDaily]]) —
    * the set-overlap question at 100 TB, answered from three
    * O(2^lgK)-byte sketches built in ONE pass over the fact table
    * (each (type, sketch) partial merges map-side; the union sketch is
    * one more merge, never a re-scan). Pairs over the bounded
    * event-type set; exact-side check and accuracy bound live in
    * scalatest (engine-probabilistic registers rows-only — the HLL
    * estimate is DuckDB-incompatible by nature, the agg_hll_union
    * precedent). Inclusion–exclusion differences can go slightly
    * negative at small true overlaps — reported as-is (clamping hides
    * the error bar a reader should see).
    */
  def hllIntersection(s: SparkSession, d: String): DataFrame = {
    val sk = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      .localCheckpoint() // both sides of the pair grid + the union merge
    val pairs = sk.select(col("event_type").as("type_a"),
        col("sk").as("ska"))
      .join(sk.select(col("event_type").as("type_b"), col("sk").as("skb")),
        col("type_a") < col("type_b"))
    pairs
      .select(col("type_a"), col("type_b"),
        hll_sketch_estimate(col("ska")).as("est_a"),
        hll_sketch_estimate(col("skb")).as("est_b"),
        hll_sketch_estimate(hll_union(col("ska"), col("skb")))
          .as("est_union"))
      .withColumn("est_intersection",
        col("est_a") + col("est_b") - col("est_union"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Approximate quantiles via percentile_approx (Greenwald-Khanna style
    * sketch, mergeable partials) — the constant-memory 100 TB path when
    * [[exactQuantiles]]' order-statistic selection isn't required. Sketch
    * differs from DuckDB's approx_quantile, so registered rows-only; the
    * rank-error bound vs the exact order statistic is property-tested in
    * scalatest.
    */
  def approxQuantiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50"),
        percentile_approx(col("value"), lit(0.95), lit(10000)).as("p95"),
        percentile_approx(col("value"), lit(0.99), lit(10000)).as("p99"))
      .orderBy(col("event_type"))

  /** min-max-count composite in one pass (MRDP ch.2). */
  def minMaxCount(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        count(lit(1)).as("n"),
        min(col("o_custkey")).as("min_cust"),
        max(col("o_custkey")).as("max_cust"))
      .orderBy(col("o_orderstatus"))

  /** Histogram / binning aggregation (MRDP ch.4): fixed-width bins. */
  def histogram(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select((floor(col("l_quantity") / 10.0) * 10).cast("long").as("qty_bin"))
      .groupBy(col("qty_bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("qty_bin"))

  /** EQUI-DEPTH HISTOGRAM (SURVEY §7.12): k buckets holding equal ROW
    * COUNTS, boundaries at exact order statistics — the histogram shape
    * optimizers and data-profiling dashboards want when the value
    * distribution is skewed and [[histogram]]'s fixed-width bins would
    * dump everything into one bar. Bucket assignment is
    * [[graft.operators.WindowOps.ntileBucket]]'s exact-rank arithmetic
    * (bit-identical to `ntile(k) OVER (ORDER BY …)`), so the plan is the
    * range-partition + per-partition-offset machinery — NO unpartitioned
    * window, parallelism scales with data size, not with k. The sort is
    * totally ordered by (value, l_orderkey, l_linenumber), so bucket
    * membership is deterministic and the DuckDB NTILE replay hashes
    * identically.
    */
  def equidepthHist(s: SparkSession, d: String): DataFrame =
    equidepthHistOn(
      Tables.lineitem(s, d).select(col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber")),
      "l_extendedprice", Seq("l_orderkey", "l_linenumber"), 8L)

  /** The equi-depth core over any frame: exact k-bucket (bucket, n, lo,
    * hi) for `value`, tie-broken to a total order by `tieCols`. Exposed
    * publicly as [[graft.api.Graft.equidepthHistogram]]; hand-computed
    * spec cases in AnalyticsOpsSpec.
    */
  private[graft] def equidepthHistOn(df: DataFrame, value: String,
      tieCols: Seq[String], k: Long): DataFrame =
    WindowOps.ntileBucket(df, (value +: tieCols).map(col), k, "bucket")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col(value)).as("lo"), max(col(value)).as("hi"))
      .orderBy(col("bucket"))

  /** cube: all key-subset aggregates in one pass (the MR "emit every subset
    * of keys from the mapper" idiom, planned as Expand + one aggregate).
    */
  def cubeStatusYear(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), year(col("o_orderdate")).as("o_year"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_year"))

  /** rollup: hierarchical subtotals. */
  def rollupYearMonth(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup(year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"))
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("o_year"), asc_nulls_first("o_month"))

  /** Classic wordcount, documents.text (THE MapReduce hello-world). */
  def wordcount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("word"))
      .limit(20)

  /** Explicit GROUPING SETS with grouping() markers — the general form of
    * cube/rollup (#34): the caller picks exactly which aggregation levels
    * exist; Expand fans each row to its sets, partial aggregation applies
    * per set.
    */
  def groupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders")
    s.sql(
      """SELECT o_orderstatus, year(o_orderdate) AS y, count(*) AS n,
           grouping(o_orderstatus) AS g_status,
           grouping(year(o_orderdate)) AS g_year
         FROM graft_orders
         GROUP BY GROUPING SETS ((o_orderstatus), (year(o_orderdate)), ())
         ORDER BY g_status, g_year, o_orderstatus NULLS FIRST, y NULLS FIRST""")
  }

  /** Salted two-phase aggregation: the hot-key mitigation for SKEWED
    * group-bys at scale — phase 1 aggregates (key, salt) so a hot key's
    * rows spread over 16 reducers, phase 2 merges the partials. Provably
    * equal to the direct aggregate (the oracle IS the direct aggregate);
    * decimal sums keep the merge order-insensitive.
    */
  def saltedTwoPhase(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), pmod(col("event_id"), lit(16)).as("salt"))
      .agg(count(lit(1)).as("pn"),
        sum(col("value").cast(DecimalType(18, 4))).as("pv"))
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).cast("bigint").as("n"),
        sum(col("pv")).cast("double").as("sum_v"))
      .orderBy(col("event_type"))

  /** Heavy hitters via Count-min sketch PRE-FILTER + exact verification —
    * the same sketch-then-verify shape as [[FilterOps.bloomSemiJoin]]: the
    * CMS (one distributed pass, driver-merged, broadcast back) prunes the
    * token stream to candidate frequent words before the exact count. CMS
    * never underestimates, so candidates ⊇ truth and the exact filter
    * removes false positives — output is EXACT (oracle-checked), while at
    * 100 TB the shuffle carries only words the sketch thinks are frequent
    * instead of the whole vocabulary.
    */
  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
    val thr = words.count() / 30 // heavy = above ~1/30 of the token stream
    // eps 0.001 bounds overestimates at 0.1% of the stream — far inside
    // the 1/30 cut, and a 10× smaller serialized sketch (~110 KB) than the
    // old 0.0001, which matters because the bytes ride the PLAN as the
    // foldable literal the codegen'd probe expression requires (the same
    // ship-the-sketch contract as the bloom pre-join filter; the probe
    // used to be the one ScalaUDF left in a scan pipeline)
    val cms = words.stat.countMinSketch("word", 0.001, 0.99, 42)
    val bos = new java.io.ByteArrayOutputStream()
    cms.writeTo(bos)
    words
      .filter(NativeExprs.cmsEstimate(s, lit(bos.toByteArray), col("word"))
        >= thr)                             // sketch prefilter (no misses)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= thr)              // exact verification
      .orderBy(desc("n"), col("word"))
  }

  /** Inverted index (MRDP ch.2): term → sorted posting list, plus document
    * frequency. Postings are truncated to the first 10 doc ids and surfaced
    * as a comma-joined string so the oracle hash-compare is exact and
    * order-stable regardless of aggregation order.
    */
  def invertedIndex(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term"))
      .agg(
        countDistinct(col("doc_id")).as("df"),
        concat_ws(",", slice(array_sort(collect_set(col("doc_id"))), 1, 10))
          .as("postings10"))
      .orderBy(col("term"))

  /** Pivot: event counts per user fanned out to one column per type (the
    * MR "emit (user, type) then reshape in the consumer" idiom, one pass).
    * Pivot values are pinned so the output schema is static and plannable.
    */
  def pivotEventTypes(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "purchase", "error", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy(col("user_id"))

  /** Pearson correlation with ENGINE-EXACT moment sums — corr(x, y) per
    * group where every Σx, Σy, Σxy, Σx², Σy² accumulates in DECIMAL
    * (order-independent, unlike the float sums inside builtin corr()),
    * assembled into r by one final double expression. The decimal-domain
    * sibling of graph_assortativity's integer-domain coefficient: the
    * audit-grade correlation a metrics pipeline can reproduce bit-for-bit
    * on any engine. Map-side partial aggregation; bounded output.
    */
  def corrQtyPrice(s: SparkSession, d: String): DataFrame = {
    // decimal(19,4) matches the oracle's DECIMAL(19,4) headroom exactly —
    // at (18,4) Spark would overflow (null sums → NaN r) one decimal digit
    // before DuckDB does on large-magnitude inputs (r10 advice)
    def d4(c: org.apache.spark.sql.Column) = c.cast("decimal(19,4)")
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(d4(col("l_quantity"))).as("sx"),
        sum(d4(col("l_extendedprice"))).as("sy"),
        sum(d4(col("l_quantity")) * d4(col("l_extendedprice"))).as("sxy"),
        sum(d4(col("l_quantity")) * d4(col("l_quantity"))).as("sxx"),
        sum(d4(col("l_extendedprice")) * d4(col("l_extendedprice")))
          .as("syy"))
      .select(col("l_returnflag"), col("n"),
        ((col("sxy").cast("double") / col("n") -
          (col("sx").cast("double") / col("n")) *
            (col("sy").cast("double") / col("n"))) /
          (sqrt(col("sxx").cast("double") / col("n") -
            (col("sx").cast("double") / col("n")) *
              (col("sx").cast("double") / col("n"))) *
            sqrt(col("syy").cast("double") / col("n") -
              (col("sy").cast("double") / col("n")) *
                (col("sy").cast("double") / col("n"))))).as("corr_qty_price"))
      .orderBy(col("l_returnflag"))
  }

  /** Metric pairs of the correlation matrix, shared by [[corrMatrix]]
    * and its generated oracle: (short name, lineitem column). */
  private[graft] val CorrMetrics = Seq(
    "discount" -> "l_discount", "extprice" -> "l_extendedprice",
    "quantity" -> "l_quantity", "tax" -> "l_tax")
  private[graft] val CorrPairs =
    for { i <- CorrMetrics.indices; j <- CorrMetrics.indices if i < j }
      yield (CorrMetrics(i), CorrMetrics(j))

  /** FEATURE-CORRELATION MATRIX — every pairwise Pearson r over the
    * lineitem numeric metrics in ONE aggregate pass (the profiling
    * screen a feature pipeline runs before training: near-±1 pairs are
    * redundant features, near-0 pairs are independent signals).
    * [[corrQtyPrice]] generalized from one pair to the 4×4 upper
    * triangle: all 14 moment sums (4 Σx, 4 Σx², 6 Σxy) accumulate in
    * DECIMAL in a single map-side-partial aggregate — one corpus scan
    * for the whole matrix, not one per pair — and each r is the same
    * final double expression the single-pair oracle replays. Output: 6
    * rows (ma, mb, n, r).
    */
  def corrMatrix(s: SparkSession, d: String): DataFrame =
    corrMatrixOn(Tables.lineitem(s, d), CorrMetrics)

  /** The matrix core over any frame and (name, numeric column) list —
    * [[graft.api.Graft.correlationMatrix]]. One aggregate pass; output
    * one (ma, mb, n, r) row per unordered name pair.
    */
  private[graft] def corrMatrixOn(df: DataFrame,
      metrics: Seq[(String, String)]): DataFrame = {
    val pairs =
      for { i <- metrics.indices; j <- metrics.indices if i < j }
        yield (metrics(i), metrics(j))
    // (19,4), matching the generated oracle's DECIMAL(19,4) — see
    // corrQtyPrice for the overflow-parity rationale
    def d4(c: org.apache.spark.sql.Column) = c.cast("decimal(19,4)")
    val aggCols =
      metrics.flatMap { case (nm, c) => Seq(
        sum(d4(col(c))).as(s"s_$nm"),
        sum(d4(col(c)) * d4(col(c))).as(s"p_${nm}_$nm")) } ++
      pairs.map { case ((na, ca), (nb, cb)) =>
        sum(d4(col(ca)) * d4(col(cb))).as(s"p_${na}_$nb") }
    val row = df.agg(count(lit(1)).as("n"), aggCols: _*)
    def mean(nm: String) = col(s"s_$nm").cast("double") / col("n")
    def cov(a: String, b: String) =
      col(s"p_${a}_$b").cast("double") / col("n") - mean(a) * mean(b)
    val cells = pairs.map { case ((na, _), (nb, _)) =>
      struct(lit(na).as("ma"), lit(nb).as("mb"),
        (cov(na, nb) / (sqrt(cov(na, na)) * sqrt(cov(nb, nb)))).as("r"))
    }
    row.select(col("n"), explode(array(cells: _*)).as("p"))
      .select(col("p.ma").as("ma"), col("p.mb").as("mb"), col("n"),
        col("p.r").as("r"))
      .orderBy(col("ma"), col("mb"))
  }

  /** UNPIVOT/melt — [[pivotEventTypes]]'s inverse reshaping: a wide
    * per-language profile (doc count, char mass, token mass) melted to
    * tidy (lang, metric, value) rows via Dataset.unpivot (Catalyst
    * Expand: one pass, rows×metrics output, no shuffle beyond the
    * bounded source aggregate). The long-form shape feeds charting /
    * metric stores; the oracle spells it as the portable UNION ALL.
    */
  def unpivotLangProfile(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        sum(size(split(col("text"), " "))).cast("long").as("sum_tokens"))
      .unpivot(Array(col("lang")),
        Array(col("n_docs"), col("sum_chars"), col("sum_tokens")),
        "metric", "value")
      .orderBy(col("lang"), col("metric"))

  /** 3σ anomaly detection per event type — top-5 outliers by deviation,
    * decided ENTIRELY in integer arithmetic so both engines agree exactly:
    * values quantize to micro-units u = floor(value·1e6) (one IEEE multiply
    * + floor, bit-identical in Spark and DuckDB), and |x − μ| > 3σ is
    * tested squared and cleared of divisions —
    * (n·u − S)² > 9·(n·Q − S²) with S = Σu, Q = Σu² — in decimal(38)
    * (HUGEINT on the oracle side: Q ~ n·u² overflows int64 at real scale).
    *
    * HEADROOM GUARD: decimal(38) holds < 10³⁸, and both squared sides are
    * bounded by (n·max|u|)² up to small constants — (n·u−S)² ≤ 4·(n·max|u|)²
    * and 9·(nQ−S²) ≤ 9·(n·max|u|)² — so n·max|u| ≤ 3·10¹⁸ keeps every
    * intermediate under 38 digits (at n ~ 10¹² rows per type that still
    * allows |values| up to ~3·10⁶ i.e. 3·10¹² micro-units). Beyond it,
    * Spark's non-ANSI decimal overflow yields NULL and the filter would
    * SILENTLY drop true outliers — so the moments projection raises
    * instead (raise_error on the 5-row aggregate, zero per-row cost; the
    * guard lives inside the rhs9 expression the filter consumes, so
    * column pruning cannot elide it).
    * Scale shape: one bounded moments aggregate (map-side partials),
    * broadcast back over the event stream, WindowGroupLimit for the
    * per-type top-5 — no shuffle of the big table beyond the window's
    * bounded partition count.
    */
  def zscoreOutliers(s: SparkSession, d: String): DataFrame =
    zscoreOutliersOn(Tables.events(s, d))

  private[graft] def zscoreOutliersOn(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
    val u = events.select(col("event_type"), col("event_id"),
      floor(col("value") * 1e6).cast("long").as("value_micro"))
    val m = u.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("value_micro")).as("sm"),
        sum(dec(col("value_micro")) * col("value_micro")).as("q"),
        max(abs(col("value_micro"))).as("maxu"))
      .select(col("event_type"), col("n"), col("sm"),
        when(dec(col("n")) * col("maxu") <= lit(3000000000000000000L),
          lit(9) * (dec(col("n")) * col("q") - dec(col("sm")) * col("sm")))
          .otherwise(raise_error(concat(
            lit("zscoreOutliers: n*max|u| exceeds the decimal(38) " +
              "headroom bound 3e18 for event_type "),
            col("event_type"),
            lit(" — squared moments would overflow to NULL and silently " +
              "drop outliers; rescale the micro-unit quantum"))))
          .as("rhs9"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(abs(col("dev")).desc, col("event_id"))
    u.join(broadcast(m), Seq("event_type"))
      .withColumn("dev", dec(col("n")) * col("value_micro") - col("sm"))
      .filter(col("dev") * col("dev") > col("rhs9"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("event_type"), col("rank"), col("event_id"),
        col("value_micro"),
        when(col("dev") > 0, lit("hi")).otherwise(lit("lo")).as("side"))
      .orderBy(col("event_type"), col("rank"))
  }

  /** Modal value per group (the MODE aggregate): most frequent lang per
    * source, ties broken toward the lexicographically smallest lang so
    * both engines pick the same winner. Two-level aggregate then a
    * WindowGroupLimit over the bounded (source, lang) grid — the big
    * table is touched once; never a self-join against the max count.
    */
  def modeLangPerSource(s: SparkSession, d: String): DataFrame =
    modeOn(Tables.documents(s, d))

  private[graft] def modeOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n").desc, col("lang"))
    docs
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("source"), col("lang").as("mode_lang"), col("n"))
      .orderBy(col("source"))
  }

  /** Good-Turing count-of-counts: N_r = number of distinct word TRIGRAMS
    * occurring exactly r times in the corpus, r ≤ 50 — the
    * frequency-of-frequencies table every smoothed n-gram language model
    * is estimated from (the companion of
    * [[graft.operators.TextOps.bigramFluency]]'s raw counts). Trigrams,
    * not unigrams: the synthetic vocabulary is so small every unigram
    * clears r = 50, while the trigram table has a real sparse head —
    * exactly the regime Good-Turing smoothing exists for. Two bounded
    * aggregates (gram counts are vocabulary³-capped, N_r ≤ 50 rows),
    * both map-side combined.
    */
  def countOfCounts(s: SparkSession, d: String): DataFrame =
    countOfCountsOn(Tables.documents(s, d))

  private[graft] def countOfCountsOn(docs: DataFrame): DataFrame =
    docs
      .select(explode(
        TextOps.shinglesN(split(col("text"), " "), 3)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("r"))
      .groupBy(col("r")).agg(count(lit(1)).as("n_types"))
      .filter(col("r") <= 50)
      .orderBy(col("r"))

  /** Key-skew diagnostics — the numbers a partition planner needs before
    * choosing salting / AQE skew handling: per-key row counts of the
    * events stream summarized as max and top-10 key shares (integral
    * per-mille) plus exact p50/p99 per-key counts. No unpartitioned
    * window: the count table ranks through the range-partitioned
    * [[WindowOps.withExactGlobalRank]], the top-10 side is a
    * TakeOrdered, and the three one-row frames broadcast-join into the
    * single output row.
    */
  def keySkew(s: SparkSession, d: String): DataFrame =
    keySkewOn(Tables.events(s, d))

  private[graft] def keySkewOn(events: DataFrame): DataFrame = {
    val counts = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("kc"))
    val base = counts.agg(count(lit(1)).as("n_keys"),
      sum(col("kc")).as("n_rows"), max(col("kc")).as("max_count"))
    val top10 = counts.orderBy(col("kc").desc, col("user_id")).limit(10)
      .agg(sum(col("kc")).as("top10_rows"))
    val (ranked, n) = WindowOps.withExactGlobalRank(counts,
      Seq(col("kc"), col("user_id")))
    val (p50, p99) = ((n * 50 + 99) / 100, (n * 99 + 99) / 100)
    val quant = ranked.filter(col("r") === p50 || col("r") === p99)
      .agg(max(when(col("r") === p50, col("kc"))).as("p50_count"),
        max(when(col("r") === p99, col("kc"))).as("p99_count"))
    base.crossJoin(broadcast(top10)).crossJoin(broadcast(quant))
      .select(col("n_keys"), col("n_rows"), col("max_count"),
        expr("(1000 * max_count) DIV n_rows").as("max_share_permille"),
        expr("(1000 * top10_rows) DIV n_rows").as("top10_share_permille"),
        col("p50_count"), col("p99_count"))
  }

  /** Co-occurrence pairs + lift (market-basket association) — the
    * canonical MapReduce "pairs" design pattern (Lin & Dyer ch. 3): parts
    * bought together in one order, scored by lift = P(a,b)/(P(a)·P(b)).
    * The pairs expand row-locally from per-basket sorted item arrays,
    * NOT an all-parts cross and (since r20) not a per-order self-join
    * either: candidate volume is Σ k_o² over order sizes (TPC-H orders
    * hold ≤ 7 items, so ~tens of pairs per order — at 100 TB the bound
    * is the basket size the schema enforces, never the catalog). The
    * per-part support table is catalog-sized and broadcast; lift stays
    * exact: every input is a count (integer-valued, < 2^53), so the one
    * double-multiply/divide spelling is replayed bit-for-bit by the
    * oracle. Top-20 by (lift, a, b) rides TakeOrderedAndProject.
    * A per-ITEM "stripes" formulation (map of co-items per item) would
    * cap at driver-map sizes for hot items; the per-BASKET array is
    * bounded by the basket size, so the expansion never degenerates.
    */
  def copurchaseLift(s: SparkSession, d: String): DataFrame =
    copurchaseLiftOn(Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")),
      minSupport = 2)
      .orderBy(desc("lift"), col("a"), col("b"))
      .limit(20)

  /** The generic association core behind [[copurchaseLift]] and
    * [[graft.api.Graft.copurchaseLift]]: input is any (ok = basket id,
    * pk = item id) frame; output every co-occurring item pair with
    * count ≥ minSupport and its lift, UNRANKED (callers order/limit).
    */
  private[graft] def copurchaseLiftOn(bi: DataFrame,
      minSupport: Long): DataFrame = {
    // ONE corpus-sized shuffle: baskets collapse straight to their sorted
    // distinct item arrays (collect_set dedups in-basket repeats — the
    // old separate distinct() pass is folded into the same aggregate),
    // and the a < b pairs expand ROW-LOCALLY from each bounded array (the
    // [[overlapMatrixOn]] discipline) instead of a per-order self-join —
    // the r20 rewrite dropped the membership distinct + the SMJ self-join
    // (two sorts + an exchange) from the plan (3.2 s → measured ~1.5 s at
    // sf0.1). The basket array is bounded by the basket size the schema
    // enforces (≤ 7 items on TPC-H orders; generally the per-basket item
    // cap), so the per-row expansion is O(k²) with tiny k, never
    // catalog-sized — the Σ k_o² candidate volume is unchanged from the
    // self-join formulation, it just materializes without the join
    // machinery.
    val baskets = bi.groupBy(col("ok"))
      .agg(array_sort(collect_set(col("pk"))).as("items"))
      .localCheckpoint() // three consumers: n, supp, pairs
    val n = baskets.agg(count(lit(1)).as("n_orders"))
    val supp = baskets.select(explode(col("items")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("n_p"))
      .localCheckpoint() // catalog-sized; broadcast twice below
    baskets
      .select(explode(flatten(transform(col("items"), (x, i) =>
        transform(slice(col("items"), i + 2, size(col("items")) - i - 1),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport) // a single co-basket is noise
      .join(broadcast(supp.select(col("pk").as("a"), col("n_p").as("n_a"))),
        Seq("a"))
      .join(broadcast(supp.select(col("pk").as("b"), col("n_p").as("n_b"))),
        Seq("b"))
      .crossJoin(broadcast(n))
      .withColumn("lift",
        col("n_ab").cast("double") * col("n_orders").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        col("lift"))
  }

  /** AUDIENCE OVERLAP MATRIX — exact pairwise user-set overlaps across
    * event types (the diagonal carries the set sizes): the segmentation
    * screen a growth/analytics pipeline reads to see which behaviors
    * share an audience. ONE distinct + ONE bounded aggregate, never a
    * self-join of the fact table: each user's sorted distinct type set
    * (bounded by the type cardinality) expands row-locally to its
    * diagonal-inclusive upper-triangle pairs via nested transform
    * lambdas, and the grid groupBy has ≤ types² rows. At 100 TB the only
    * corpus-sized shuffle is the (user, type) distinct.
    */
  def overlapMatrix(s: SparkSession, d: String): DataFrame =
    overlapMatrixOn(Tables.events(s, d), "user_id", "event_type")

  /** The overlap core over any (key, category) pair —
    * [[graft.api.Graft.overlapMatrix]]: (type_a, type_b, n_keys) for
    * every unordered category pair sharing at least one key.
    */
  private[graft] def overlapMatrixOn(df: DataFrame, key: String,
      cat: String): DataFrame =
    df.select(col(key).as("k"), col(cat).as("c"))
      .groupBy(col("k"))
      .agg(array_sort(collect_set(col("c"))).as("cs"))
      .select(explode(flatten(transform(col("cs"), (x, i) =>
        transform(slice(col("cs"), i + 1, size(col("cs")) - i), y =>
          struct(x.as("ta"), y.as("tb")))))).as("p"))
      .groupBy(col("p.ta").as("type_a"), col("p.tb").as("type_b"))
      .agg(count(lit(1)).as("n_keys"))
      .orderBy(col("type_a"), col("type_b"))

  /** SHANNON ENTROPY profile: per document source, the entropy (bits) of
    * its language mix — the mixture-diversity diagnostic a corpus curator
    * reads before setting per-language sampling rates (a source whose
    * entropy ≈ 0 is monolingual; ≈ log₂(n_langs) is uniform). Spelled as
    * H = log₂(N) − Σ n·log₂(n) / N over the bounded (source, lang) count
    * grid: ONE aggregate over counts, no window, no second pass — the
    * big table is touched once with map-side partials, the entropy math
    * runs on the grid (≤ sources×langs rows). Engine math is two libm
    * log₂ calls and a ≤-5-term sum, inside the driver's 1e-12 relative
    * float gate (the [[corrQtyPrice]] precedent).
    */
  def entropyBySource(s: SparkSession, d: String): DataFrame =
    entropyOn(Tables.documents(s, d), "source", "lang")
      .withColumnRenamed("grp", "source")

  /** The entropy core over any (group, symbol) pair: (grp, n_rows,
    * n_symbols, entropy_bits), hand-computed expectations in
    * AnalyticsOpsSpec. */
  private[graft] def entropyOn(df: DataFrame, grp: String,
      sym: String): DataFrame =
    df.groupBy(col(grp).as("grp"), col(sym).as("sym"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("grp"))
      .agg(sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_symbols"),
        sum(col("n").cast("double") * log2(col("n"))).as("snl"))
      .select(col("grp"), col("n_rows"), col("n_symbols"),
        (log2(col("n_rows")) - col("snl") / col("n_rows"))
          .as("entropy_bits"))
      .orderBy(col("grp"))

  /** k-ANONYMITY PROFILE — the re-identification risk screen a
    * governance pass runs before sharing a table: group rows by the
    * quasi-identifier columns and report how much of the population
    * hides in groups smaller than k (a row in a size-1 group is
    * effectively named by its quasi-identifiers). Exact counts and
    * per-mille floor division throughout; one map-side-partial
    * aggregate to the quasi-identifier grid, then a one-row rollup.
    */
  def kAnonymityCustomer(s: SparkSession, d: String): DataFrame =
    kAnonymityOn(Tables.customer(s, d),
      Seq("c_nationkey", "c_mktsegment"), k = 5)

  private[graft] def kAnonymityOn(df: DataFrame, quasi: Seq[String],
      k: Int): DataFrame = {
    val groups = df.groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("n"))
    groups.agg(
        sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_groups"),
        min(col("n")).as("min_group"),
        sum(when(col("n") < k, lit(1L)).otherwise(lit(0L)))
          .as("n_groups_below_k"),
        sum(when(col("n") < k, col("n")).otherwise(lit(0L)))
          .as("rows_at_risk"))
      .select(col("n_rows"), col("n_groups"), col("min_group"),
        col("n_groups_below_k"), col("rows_at_risk"),
        expr("(rows_at_risk * 1000) DIV n_rows").as("risk_permille"))
  }

  /** L-DIVERSITY — the sibling privacy read to [[kAnonymityCustomer]]:
    * k-anonymity bounds group SIZE, but a size-50 group whose sensitive
    * attribute is constant still discloses it for all 50 members.
    * Per quasi-identifier group, count DISTINCT sensitive values
    * (distinct-l; the sensitive attribute here is the account-balance
    * band, width 2000) and roll up how much of the population sits in
    * groups below l. Exact counts and per-mille floor division, same
    * one-pass grid→rollup shape as k-anonymity: the (quasi × sensitive)
    * cell grid aggregates with map-side partials, then two bounded
    * re-aggregations — nothing after the first combine scales with rows.
    */
  def lDiversityCustomer(s: SparkSession, d: String): DataFrame =
    lDiversityOn(Tables.customer(s, d),
      Seq("c_nationkey", "c_mktsegment"),
      expr("CAST(floor(c_acctbal / 2000) AS BIGINT)"), l = 4)

  private[graft] def lDiversityOn(df: DataFrame, quasi: Seq[String],
      sensitive: org.apache.spark.sql.Column, l: Int): DataFrame = {
    val cells = df
      .groupBy((quasi.map(col) :+ sensitive.as("sv")): _*)
      .agg(count(lit(1)).as("n"))
    val groups = cells.groupBy(quasi.map(col): _*)
      .agg(sum(col("n")).as("n"),
        count(lit(1)).as("l_distinct"),
        max(col("n")).as("top_sv"))
    groups.agg(
        sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_groups"),
        min(col("l_distinct")).as("min_l"),
        sum(when(col("l_distinct") < l, lit(1L)).otherwise(lit(0L)))
          .as("n_groups_below_l"),
        sum(when(col("l_distinct") < l, col("n")).otherwise(lit(0L)))
          .as("rows_at_risk"),
        // homogeneity exposure: rows in groups where ONE sensitive value
        // covers > 90% of members (the classic homogeneity attack even
        // when l is nominally met)
        sum(when(col("top_sv") * 10 > col("n") * 9, col("n"))
          .otherwise(lit(0L))).as("rows_homogeneous"))
      .select(col("n_rows"), col("n_groups"), col("min_l"),
        col("n_groups_below_l"), col("rows_at_risk"),
        expr("(rows_at_risk * 1000) DIV n_rows").as("risk_permille"),
        col("rows_homogeneous"))
  }

  /** T-CLOSENESS (Li, Li, Venkatasubramanian, ICDE 2007) — the third
    * leg of the privacy trio: l-diversity counts distinct sensitive
    * values, but a group whose balance-band DISTRIBUTION is skewed far
    * from the population's still leaks (the skewness attack — "this
    * quasi-group is mostly top-band"). t is the Earth-Mover's Distance
    * between each group's sensitive distribution and the global one;
    * for an ORDERED sensitive attribute over m bands,
    * EMD = (1/(m−1))·Σᵢ |Σ_{j≤i} (q_j − p_j)| — the normalized
    * cumulative-difference sum.
    *
    * Exactness: probability differences go to the common denominator
    * n_g·n — diff_int = cnt_{g,j}·n − cnt_j·n_g, an exact BIGINT (the
    * gini/chi2 integer-grid stance; headroom: cnt·n < 2⁶³ to ~3·10⁹
    * rows) — so the cumulative sums and |·| are integral, and only the
    * final normalization is one mirrored double chain. Engine shape:
    * one (quasi × band) cell aggregate off ONE corpus pass; the zero
    * cells every cumsum needs come from a groups × bands grid —
    * BROADCAST cross join of two already-aggregated bounded frames
    * (m ≤ dozens of bands), never a row-level product; the cumsum is a
    * window PARTITIONED by group (PlanGuard-clean). Output: the 15
    * worst groups (quasi keys, n, m_bands, t_value, above flag at
    * t > 0.2) — the review queue a governance pass works through.
    */
  def tClosenessCustomer(s: SparkSession, d: String): DataFrame =
    tClosenessOn(Tables.customer(s, d),
      Seq("c_nationkey", "c_mktsegment"),
      expr("CAST(floor(c_acctbal / 2000) AS BIGINT)"),
      tPerMille = 200, topN = 15)

  private[graft] def tClosenessOn(df: DataFrame, quasi: Seq[String],
      sensitive: org.apache.spark.sql.Column, tPerMille: Int,
      topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = df
      .groupBy((quasi.map(col) :+ sensitive.as("sv")): _*)
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // four consumers: groups, bands, global, grid
    val groups = cells.groupBy(quasi.map(col): _*)
      .agg(sum(col("cnt")).as("ng"))
    val bands = cells.select(col("sv")).distinct()
    val glob = cells.groupBy(col("sv")).agg(sum(col("cnt")).as("cnt_all"))
    val tot = glob.agg(sum(col("cnt_all")).as("n_total"))
    val w = Window.partitionBy(quasi.map(col): _*).orderBy(col("sv"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val grid = groups
      .crossJoin(broadcast(bands)) // bounded band set, zero cells matter
      .join(cells, quasi :+ "sv", "left")
      .join(broadcast(glob), Seq("sv"))
      .crossJoin(broadcast(tot)) // 1-row total
      .select((quasi.map(col) :+ col("ng") :+ col("sv") :+
        (coalesce(col("cnt"), lit(0L)) * col("n_total")
          - col("cnt_all") * col("ng")).as("diff")): _*)
      .withColumn("cum", sum(col("diff")).over(w))
    grid.groupBy((quasi.map(col) :+ col("ng")): _*)
      .agg(sum(abs(col("cum"))).as("t_units"), count(lit(1)).as("m"))
      .crossJoin(broadcast(tot))
      .selectExpr((quasi :+ "ng AS n_rows" :+ "m AS m_bands" :+
        // m = 1 band ⇒ EMD undefined (and 0/0): NULL, trendOn discipline
        """CASE WHEN m < 2 THEN CAST(NULL AS DOUBLE)
           ELSE CAST(t_units AS DOUBLE)
           / (CAST(ng AS DOUBLE) * CAST(n_total AS DOUBLE))
           / (m - 1) END AS t_value"""): _*)
      .withColumn("above",
        coalesce(col("t_value") > tPerMille / 1000.0, lit(false)))
      .orderBy((desc_nulls_last("t_value") +: quasi.map(col)): _*)
      .limit(topN)
  }

  /** MANN–WHITNEY U — the rank-based (distribution-free) sibling of
    * [[ttestPurchaseView]] over the same purchase-vs-view frame: are
    * purchase values stochastically larger than view values, with no
    * normality assumption? Values quantize to milli-unit BIGINTs (the
    * tie grid both engines share), ranks come from
    * [[WindowOps.withExactGlobalRank]] — a RANGE partition on (value,
    * event_id) plus per-partition row_number with broadcast offsets, so
    * parallelism scales with data size and no unpartitioned Window ever
    * exists — and all rank algebra stays in integers:
    * for each distinct value v, the doubled average rank of its tie
    * block is `minrank(v) + maxrank(v)`, so the doubled rank-sum is
    * `r2_a = Σ_v cntA(v)·(minr+maxr)` and the doubled U statistic is
    * `u2_a = r2_a − nA(nA+1)` — EXACT BIGINTs a DuckDB window replay
    * reproduces bit-for-bit. Only the final normal-approximation z
    * (with the standard tie correction Σ(t³−t)) evaluates in doubles,
    * as one textually-mirrored IEEE chain over five exact integers.
    * Headroom: the integer algebra holds to nA·nB < 2⁶² ⇒ ~2·10⁹ rows
    * per side; past that lift u2/r2 to decimal(38,0).
    */
  def mannWhitneyPurchaseView(s: SparkSession, d: String): DataFrame =
    mannWhitneyOn(Tables.events(s, d), "event_type", "value",
      "purchase", "view", "event_id")

  private[graft] def mannWhitneyOn(df: DataFrame, grpCol: String,
      valCol: String, g1: String, g2: String, idCol: String): DataFrame = {
    val f = df.filter(col(grpCol).isin(g1, g2))
      .select(col(grpCol).as("g"),
        floor(col(valCol) * 1000).cast("long").as("vu"),
        col(idCol).as("tie"))
    val (ranked, _) =
      WindowOps.withExactGlobalRank(f, Seq(col("vu"), col("tie")))
    val perVal = ranked.groupBy(col("vu"))
      .agg(min(col("r")).as("minr"), max(col("r")).as("maxr"),
        count(lit(1)).as("t"),
        sum(when(col("g") === g1, lit(1L)).otherwise(lit(0L))).as("ta"))
    perVal.agg(
        sum(col("ta")).as("n_a"),
        sum(col("t") - col("ta")).as("n_b"),
        sum(col("ta") * (col("minr") + col("maxr"))).as("r2_a"),
        sum(when(col("t") > lit(1L),
          col("t") * col("t") * col("t") - col("t"))
          .otherwise(lit(0L))).as("tie_sum"))
      .selectExpr(
        "n_a", "n_b", "r2_a", "tie_sum",
        "r2_a - n_a * (n_a + 1) AS u2_a",
        "2 * n_a * n_b - (r2_a - n_a * (n_a + 1)) AS u2_b",
        // degenerate-input guard (trendOn discipline): with n < 2 the
        // tie-correction divides by 0, and with ONE global tie block the
        // variance is exactly 0 — ANSI Spark would throw DIVIDE_BY_ZERO
        // where the statistic is simply undefined. NULL, mirrored in the
        // oracle; the CASE branches keep the healthy-path IEEE chain
        // byte-identical to before.
        """CASE WHEN n_a + n_b < 2 THEN CAST(NULL AS DOUBLE)
           ELSE CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12
             * (CAST(n_a + n_b + 1 AS DOUBLE)
                - CAST(tie_sum AS DOUBLE)
                  / (CAST(n_a + n_b AS DOUBLE)
                     * CAST(n_a + n_b - 1 AS DOUBLE))) END AS var_u""")
      .selectExpr(
        "n_a", "n_b", "r2_a", "tie_sum", "u2_a", "u2_b",
        """CASE WHEN var_u IS NULL OR var_u = 0 THEN CAST(NULL AS DOUBLE)
           ELSE (CAST(r2_a - n_a * (n_a + 1) AS DOUBLE) / 2
             - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2)
           / sqrt(var_u) END AS z_value""")
  }

  /** POISSON-BOOTSTRAP CONFIDENCE INTERVAL for the mean purchase value —
    * the published way to bootstrap at scale (each replicate draws a
    * per-row Poisson(1) weight instead of a multinomial resample, so
    * the whole thing is one map-side pass, no collect, no per-replicate
    * shuffle of the data). Everything is deterministic and
    * engine-portable:
    *  - the per-(row, replicate) uniform comes from the
    *    [[FilterOps.sampleHash]] wrap-safe multiplicative idiom,
    *    h = ((id+7919)·(2b+1) mod P)·1103515245 mod P over the Mersenne
    *    prime P = 2³¹−1 (the (2b+1) factor makes the stride per
    *    replicate a large pseudo-random jump — an ADDITIVE b term would
    *    leave replicates nearly identical); every product stays under
    *    2⁶³;
    *  - the Poisson(1) inverse CDF thresholds are Scala-computed IEEE
    *    constants interpolated into both engines' SQL (the chi2/ttest
    *    constant-interpolation idiom), capped at weight 7
    *    (P(X>7|λ=1) ≈ 10⁻⁵);
    *  - replicate means are exact milli-unit BIGINT sums with one final
    *    double division; the CI bounds are order statistics of the
    *    B-row mean frame, ranked by a bounded broadcast theta join
    *    (B ≤ hundreds — never a global window).
    * Output: one row (n, b_reps, mean_v, ci_lo, ci_hi) — the 2.5/97.5
    * percentile bootstrap band.
    */
  /** Poisson(1) CDF: cum_k = e^-1 · Σ_{j≤k} 1/j! — IEEE constants
    * computed ONCE here and interpolated into both engines' SQL text
    * (shortest-round-trip decimal literals parse back to the same
    * doubles in Spark and DuckDB).
    */
  private[graft] lazy val poissonCums: Array[Double] = {
    val e1 = math.exp(-1.0)
    val arr = new Array[Double](7)
    var f = 1.0
    var c = 0.0
    for (k <- 0 to 6) {
      if (k > 0) f *= k
      c += e1 / f
      arr(k) = c
    }
    arr
  }

  def bootstrapCiPurchase(s: SparkSession, d: String): DataFrame =
    bootstrapCiOn(Tables.events(s, d)
      .filter(col("event_type") === "purchase"),
      "value", "event_id", bReps = 200)

  private val BootP = 2147483647L // 2^31 - 1
  /** Per-(row, replicate) uniform `u` over columns `id` and `b`, and the
    * Poisson(1) weight drawn from it — SQL text shared by the bootstrap
    * family, identical strings in every consumer so the plans (and the
    * interpolated oracle constants) can never drift.
    */
  private val bootUExpr: String =
    s"CAST(pmod(pmod((id + 7919) * (2 * b + 1), $BootP) " +
      s"* 1103515245, $BootP) AS DOUBLE) / $BootP"
  private val bootWExpr: String = (0 to 6).map(k =>
    s"WHEN u < ${poissonCums(k)} THEN $k").mkString(
    "CASE ", " ", " ELSE 7 END")

  private[graft] def bootstrapCiOn(df: DataFrame, valCol: String,
      idCol: String, bReps: Int): DataFrame = {
    require(bReps >= 4, s"bootstrapCi needs >= 4 replicates: $bReps")
    val loRank = math.max(1, (0.025 * bReps).toInt)
    val hiRank = bReps + 1 - loRank
    // The explode(sequence(1, B)) stays DELIBERATELY (r21, measured):
    // it runs inside one WholeStageCodegen loop feeding a map-side
    // partial hash aggregate with B groups — 3× FASTER cold and warm
    // than the "no row blow-up" alternative (per-row weight columns +
    // one 2B+2-slot wide aggregate: 13.4 s cold / 2.9 s warm vs
    // 3.5 / 0.96 at sf0.1·local[32]; the 400-expression aggregate
    // breaks codegen) — guide §1.1's measured-over-ideal rule. The
    // corpus localCheckpoint also stays: dropping it (narrow rescans
    // for the two consumers) measured ~15% SLOWER at sf0.1 (1.13 vs
    // 0.96 warm on agg_ab_bootstrap); at 100 TB the pin is a
    // full-corpus local-disk materialization — recompute-from-source
    // is the documented lever there, not a win here.
    val base = df.select(col(idCol).cast("long").as("id"),
      floor(col(valCol) * 1000).cast("long").as("vu"))
      .localCheckpoint() // two consumers: full-sample moments + replicas
    val means = base
      .select(col("id"), col("vu"),
        explode(expr(s"sequence(1, $bReps)")).as("b"))
      .withColumn("u", expr(bootUExpr))
      .withColumn("w", expr(bootWExpr).cast("long"))
      .groupBy(col("b"))
      .agg(sum(col("w") * col("vu")).as("sw"), sum(col("w")).as("cw"))
      // all-zero-weight replicate (P ≈ e^−n, real for tiny inputs via
      // the public API): 0/0 throws under ANSI — NULL instead, mirrored
      // in the oracle; a NULL mean drops out of the theta rank in both
      // engines by three-valued logic, identically.
      .selectExpr("b",
        """CASE WHEN cw = 0 THEN CAST(NULL AS DOUBLE)
           ELSE CAST(sw AS DOUBLE) / CAST(cw AS DOUBLE) / 1000 END AS m""")
      .localCheckpoint() // two consumers: both sides of the theta rank
    val rhs = means.select(col("b").as("b2"), col("m").as("m2"))
    val ranks = means.join(broadcast(rhs),
        col("m2") < col("m") ||
          (col("m2") === col("m") && col("b2") <= col("b")))
      .groupBy(col("b"), col("m"))
      .agg(count(lit(1)).as("r"))
    val lo = ranks.filter(col("r") === loRank)
      .select(col("m").as("ci_lo"))
    val hi = ranks.filter(col("r") === hiRank)
      .select(col("m").as("ci_hi"))
    base.agg(count(lit(1)).as("n"), sum(col("vu")).as("sv"))
      .selectExpr("n", s"CAST($bReps AS BIGINT) AS b_reps",
        "CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) / 1000 AS mean_v")
      .crossJoin(broadcast(lo)) // 1-row order statistics
      .crossJoin(broadcast(hi))
  }

  /** A/B UPLIFT WITH A PAIRED-BOOTSTRAP CONFIDENCE BAND — the
    * experiment readout: difference of group means (A − B) plus a
    * 2.5/97.5 percentile interval from PAIRED Poisson-bootstrap
    * replicates (replicate b draws the same hash stream in both groups,
    * so the B diffs are a bootstrap of the difference, not two
    * independent CIs eyeballed against each other — the classic A/B
    * mistake). Same deterministic machinery as [[bootstrapCiOn]]
    * (shared weight SQL text): one map-side weighted pass, B-row mean
    * frames, bounded broadcast theta rank over the diffs. Output one
    * row (n_a, n_b, mean_a, mean_b, uplift, ci_lo, ci_hi); the test is
    * significant at ~5% when the CI excludes zero.
    */
  def abBootstrapPurchaseClick(s: SparkSession, d: String): DataFrame =
    abBootstrapOn(Tables.events(s, d), "event_type", "value", "event_id",
      grpA = "purchase", grpB = "click", bReps = 200)

  private[graft] def abBootstrapOn(df: DataFrame, grpCol: String,
      valCol: String, idCol: String, grpA: String, grpB: String,
      bReps: Int): DataFrame = {
    require(bReps >= 4, s"abBootstrap needs >= 4 replicates: $bReps")
    val loRank = math.max(1, (0.025 * bReps).toInt)
    val hiRank = bReps + 1 - loRank
    // The corpus localCheckpoint and the explode stay deliberately —
    // the measured trade is documented in [[bootstrapCiOn]] (r21).
    val base = df.filter(col(grpCol).isin(grpA, grpB))
      .select(col(grpCol).as("g"), col(idCol).cast("long").as("id"),
        floor(col(valCol) * 1000).cast("long").as("vu"))
      .localCheckpoint() // two consumers: group moments + replicates
    val means = base
      .select(col("g"), col("id"), col("vu"),
        explode(expr(s"sequence(1, $bReps)")).as("b"))
      .withColumn("u", expr(bootUExpr))
      .withColumn("w", expr(bootWExpr).cast("long"))
      .groupBy(col("g"), col("b"))
      .agg(sum(col("w") * col("vu")).as("sw"), sum(col("w")).as("cw"))
      // same all-zero-weight guard as bootstrapCiOn; a NULL group mean
      // also NULLs that replicate's diff, which then drops from the
      // theta rank in both engines identically.
      .selectExpr("g", "b",
        """CASE WHEN cw = 0 THEN CAST(NULL AS DOUBLE)
           ELSE CAST(sw AS DOUBLE) / CAST(cw AS DOUBLE) / 1000 END AS m""")
    val diffs = means.filter(col("g") === grpA)
      .select(col("b"), col("m").as("ma"))
      .join(means.filter(col("g") === grpB)
        .select(col("b"), col("m").as("mb")), Seq("b"))
      .select(col("b"), (col("ma") - col("mb")).as("m"))
      .localCheckpoint() // two consumers: both sides of the theta rank
    val rhs = diffs.select(col("b").as("b2"), col("m").as("m2"))
    val ranks = diffs.join(broadcast(rhs),
        col("m2") < col("m") ||
          (col("m2") === col("m") && col("b2") <= col("b")))
      .groupBy(col("b"), col("m"))
      .agg(count(lit(1)).as("r"))
    val lo = ranks.filter(col("r") === loRank)
      .select(col("m").as("ci_lo"))
    val hi = ranks.filter(col("r") === hiRank)
      .select(col("m").as("ci_hi"))
    base.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("vu")).as("sv"))
      .agg(sum(when(col("g") === grpA, col("n"))).as("n_a"),
        sum(when(col("g") === grpB, col("n"))).as("n_b"),
        sum(when(col("g") === grpA, col("sv"))).as("sa"),
        sum(when(col("g") === grpB, col("sv"))).as("sb"))
      .selectExpr("n_a", "n_b",
        "CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) / 1000 AS mean_a",
        "CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) / 1000 AS mean_b",
        """CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) / 1000
           - CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) / 1000 AS uplift""")
      .crossJoin(broadcast(lo)) // 1-row order statistics
      .crossJoin(broadcast(hi))
  }

  /** MUTUAL INFORMATION between event type and ISO day-of-week — the
    * generic categorical-association readout (how much does knowing the
    * weekday tell you about what users do), the aggregate sibling of
    * the chi-square test: I(X;Y) = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) in
    * nats. One corpus pass builds the (x, y) cell counts; margins and
    * the total come from the CELL table (bounded: |types|·7 rows), not
    * from rescans. Each cell's ln runs once over one fixed-order double
    * ratio of BIGINT products and is micro-quantized before the
    * count-weighted BIGINT sum — order-free, engine-replayable (the
    * collocations-PMI idiom). Day alignment: Spark weekday(ts)+1 ≡
    * DuckDB isodow (the ev_seasonality trap).
    */
  def mutualInfoTypeDow(s: SparkSession, d: String): DataFrame =
    mutualInfoOn(Tables.events(s, d)
      .select(col("event_type"), expr("weekday(ts) + 1").as("dow")),
      "event_type", "dow")

  private[graft] def mutualInfoOn(df: DataFrame, xCol: String,
      yCol: String): DataFrame = {
    val cells = df
      .select(col(xCol).as("x"), col(yCol).as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // four consumers: margins ×2, total, cells
    val cx = cells.groupBy(col("x")).agg(sum(col("c")).as("ca"))
    val cy = cells.groupBy(col("y")).agg(sum(col("c")).as("cb"))
    val t = cells.agg(sum(col("c")).as("tt"))
    cells.join(broadcast(cx), Seq("x")).join(broadcast(cy), Seq("y"))
      .crossJoin(broadcast(t))
      .withColumn("qln",
        floor(log(expr("CAST(c * tt AS DOUBLE) / CAST(ca * cb AS DOUBLE)"))
          * 1e6).cast("long"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_cells"),
        sum(col("c") * col("qln")).as("qsum"))
      .selectExpr("n", "n_cells",
        "CAST(qsum AS DOUBLE) / CAST(n AS DOUBLE) / 1000000 AS mi_nats")
  }

  /** HILL TAIL-INDEX ESTIMATOR (Hill 1975) for the extended-price upper
    * tail: α̂ = k / Σ_{i≤k} ln(x_(i) / x_(k+1)) over the k largest
    * values — the standard heavy-tail exponent read (α ≈ 1 Zipf-like,
    * α large = thin tail; complements [[zipf slope]] which fits ranks,
    * not magnitudes). Scale shape: the ONLY data-sized work is a
    * TakeOrdered top-(k+1) (bounded k rows to one partition — the same
    * contract as every top-k in the registry); the ln sum runs on k+1
    * rows. Exactness: values are milli-unit BIGINTs, each ln ratio is
    * micro-quantized (floor(ln·1e6), the unigram-xent idiom) and summed
    * as BIGINT — summation-order-free, so DuckDB replays the hash.
    * Rows tied with the reference value x_(k+1) contribute ln(1) = 0,
    * so the k-vs-k+1 bookkeeping needs no tie-breaking at all.
    * Contract: more than k positive values.
    */
  def hillTailPrice(s: SparkSession, d: String): DataFrame =
    hillTailOn(Tables.lineitem(s, d), "l_extendedprice", k = 200)

  private[graft] def hillTailOn(df: DataFrame, valCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"hillTail needs k >= 1: $k")
    val top = df.select(floor(col(valCol) * 1000).cast("long").as("vu"))
      .filter(col("vu") > 0)
      .orderBy(desc("vu")).limit(k + 1)
      .localCheckpoint() // k+1 rows; two consumers: ref min + ln sum
    // contract enforcement (trimmedMeanOn discipline): with ≤ k positive
    // values the limit silently under-fills and alpha would be computed
    // from the wrong number of ln terms while still REPORTING k — a
    // wrong answer. The frame is already a bounded checkpoint, so the
    // count is k+1 rows max and costs nothing.
    val got = top.count()
    require(got > k,
      s"hillTail needs more than k=$k positive values, got $got")
    val ref = top.agg(min(col("vu")).as("vref"))
    top.crossJoin(broadcast(ref))
      .agg(sum(floor(log(col("vu").cast("double")
          / col("vref").cast("double")) * 1e6).cast("long")).as("qsum"),
        max(col("vref")).as("ref_milli"))
      .selectExpr(s"CAST($k AS BIGINT) AS k_tail", "ref_milli",
        // all-equal tail (every ln term 0) ⇒ alpha undefined: NULL,
        // not an ANSI 0-division throw (the r14 ADVICE discipline)
        s"""CASE WHEN qsum = 0 THEN CAST(NULL AS DOUBLE)
            ELSE CAST($k AS DOUBLE) / (CAST(qsum AS DOUBLE) / 1000000)
            END AS alpha_hill""")
  }

  /** EXACT TRIMMED + WINSORIZED MEAN (Tukey's robust means) of the
    * purchase value — drop (trimmed) or clamp (winsorized) the k most
    * extreme values on each tail, k = floor(n·trim‰/1000). The point at
    * scale: NEITHER requires sorting the data. Both reduce to four
    * exact order statistics (ranks k, k+1, n−k, n−k+1) plus one
    * conditional-sum pass:
    *   sum(bottom k) = sum(v < t_k) + (k − count(v < t_k))·t_k
    * (the tie-splitting identity — values equal to the k-th order
    * statistic contribute exactly the deficit), symmetrically for the
    * top tail; winsorized adds k copies of the clamp values t_{k+1} and
    * t_{n−k}. The order statistics come from the [[Graft.exactQuantiles]]
    * machinery: range-partition by value, per-partition counts to the
    * driver (#partitions rows — bounded), row_number INSIDE the one or
    * two partitions that straddle a target rank. Everything else is
    * milli-unit BIGINT arithmetic; the only doubles are the three final
    * divisions, in the same IEEE order in both engines.
    */
  def trimmedMeanPurchase(s: SparkSession, d: String): DataFrame =
    trimmedMeanOn(Tables.events(s, d)
      .filter(col("event_type") === "purchase"), "value",
      trimPerMille = 100)

  private[graft] def trimmedMeanOn(df: DataFrame, valCol: String,
      trimPerMille: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(trimPerMille >= 0 && trimPerMille < 500,
      s"trim must be in [0, 500) per mille: $trimPerMille")
    val base = df.select(floor(col(valCol) * 1000).cast("long").as("vu"))
      .repartitionByRange(col("vu"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint() // three consumers: counts, rank pick, sums
    val perPart = base.groupBy(col("pid")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val n = perPart.map(_._2).sum
    require(n > 0, "trimmedMean needs a non-empty input")
    val k = trimPerMille.toLong * n / 1000
    if (k == 0) { // nothing to trim: all three means coincide
      base.agg(count(lit(1)).as("n"), sum(col("vu")).as("tot"))
        .selectExpr("n", "CAST(0 AS BIGINT) AS k",
          "CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) / 1000 AS mean_v",
          "CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) / 1000 AS trimmed_mean",
          "CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) / 1000" +
            " AS winsorized_mean")
    } else {
      val targets = Seq(k, k + 1, n - k, n - k + 1).distinct
      val offsets = perPart.map(_._1)
        .zip(perPart.map(_._2).scanLeft(0L)(_ + _)).toMap
      val wanted = perPart.filter { case (pid, c) =>
        val off = offsets(pid)
        targets.exists(r => r > off && r <= off + c)
      }.map(_._1)
      val offCol = wanted.foldLeft(lit(0L)) { case (acc, pid) =>
        when(col("pid") === pid, lit(offsets(pid))).otherwise(acc)
      }
      val w = Window.partitionBy(col("pid")).orderBy(col("vu"))
      val thr = base.filter(col("pid")
          .isin(wanted.toIndexedSeq.map(x => x: Any): _*))
        .withColumn("r", row_number().over(w).cast("long") + offCol)
        .agg(max(when(col("r") === k, col("vu"))).as("tlo"),
          max(when(col("r") === k + 1, col("vu"))).as("tlo1"),
          max(when(col("r") === n - k, col("vu"))).as("thi"),
          max(when(col("r") === n - k + 1, col("vu"))).as("thi1"))
      base.crossJoin(broadcast(thr)) // 1-row threshold frame
        .agg(count(lit(1)).as("n"), sum(col("vu")).as("tot"),
          sum(when(col("vu") < col("tlo"), 1L).otherwise(0L)).as("cnt_lo"),
          sum(when(col("vu") < col("tlo"), col("vu")).otherwise(0L))
            .as("sum_lo"),
          sum(when(col("vu") > col("thi1"), 1L).otherwise(0L)).as("cnt_hi"),
          sum(when(col("vu") > col("thi1"), col("vu")).otherwise(0L))
            .as("sum_hi"),
          max(col("tlo")).as("tlo"), max(col("tlo1")).as("tlo1"),
          max(col("thi")).as("thi"), max(col("thi1")).as("thi1"))
        .selectExpr("n", s"CAST($k AS BIGINT) AS k",
          "CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) / 1000 AS mean_v",
          s"""CAST(tot - (sum_lo + ($k - cnt_lo) * tlo)
                      - (sum_hi + ($k - cnt_hi) * thi1) AS DOUBLE)
              / CAST(n - 2 * $k AS DOUBLE) / 1000 AS trimmed_mean""",
          s"""CAST(tot - (sum_lo + ($k - cnt_lo) * tlo)
                      - (sum_hi + ($k - cnt_hi) * thi1)
                      + $k * tlo1 + $k * thi AS DOUBLE)
              / CAST(n AS DOUBLE) / 1000 AS winsorized_mean""")
    }
  }

  /** SPEARMAN RANK CORRELATION between quantity and extended price over
    * lineitem — the rank-based sibling of [[corrQtyPrice]]: monotone
    * association, insensitive to the price column's heavy tail. Both
    * columns rank through the [[WindowOps.withExactGlobalRank]] pipeline
    * with average-rank ties kept DOUBLED (a row's doubled rank is
    * `minr + maxr` of its tie block — exact BIGINTs), and ρ is Pearson
    * over the doubled ranks (the doubling cancels). The five moment
    * sums stay in BIGINT (Σrx·ry ≤ 4n³ ⇒ exact to n ≈ 1.3·10⁶ rows;
    * lift the sums to decimal(38,0) past that), the covariance products
    * n·Σxy − Σx·Σy evaluate in decimal(38,0) (Spark) / HUGEINT (DuckDB)
    * — the same 10²⁴-magnitude integers either way — and only the final
    * ρ division is IEEE. Output: one row (n, sum_rx, sum_ry, sum_rxx,
    * sum_ryy, sum_rxy, rho).
    */
  def spearmanQtyPrice(s: SparkSession, d: String): DataFrame =
    spearmanOn(Tables.lineitem(s, d)
      .withColumn("rowkey",
        col("l_orderkey") * 10 + col("l_linenumber")),
      "l_quantity", "l_extendedprice", "rowkey")

  /** ENFORCED exactness bound for the BIGINT rank-moment sums (r18
    * verdict #5): doubled average ranks are ≤ 2n, so Σrx·ry ≤ 4n³ —
    * exact in int64 only to n ≈ 1.3·10⁶ rows. Past that the sums
    * would wrap SILENTLY (Spark sum(BIGINT) overflows without error
    * under default ANSI-off arithmetic), so [[spearmanOn]] and
    * [[kruskalWallisOn]] refuse LOUDLY instead: the guard rides
    * inside the final projection (zero extra jobs — n is already
    * aggregated) and fires on materialization. The lift past the
    * bound is mechanical — cast rx/ry to decimal(38,0) before the
    * moment sums (the covariance arithmetic downstream already runs
    * in decimal(38,0)) — left out because it taxes the hot path for
    * every caller below the bound; this refusal is the pointer.
    */
  private[graft] val MaxExactRankRows = 1300000L

  /** The decimal-lifted path's OWN exactness bound (r19 advice): the
    * decimal(37,0) moment sums stay exact while Σrx·ry ≤ 4n³ < 10³⁷,
    * i.e. n ≲ 2.9·10¹² rows. Past it the sums overflow decimal(38,0)
    * — NULL under default ANSI-off arithmetic, NULL rho — the same
    * silent-failure class the BIGINT guard eliminated, so the lifted
    * projection refuses loudly too.
    */
  private[graft] val MaxExactRankRowsDecimal = 2900000000000L

  private def rankMomentGuard(op: String, maxRows: Long)
      : org.apache.spark.sql.Column =
    when(col("n") > lit(maxRows), raise_error(concat(
      lit(s"$op: n = "), col("n").cast("string"),
      lit(s" rows exceeds the BIGINT rank-moment exactness bound " +
        s"$maxRows (sum(rank_x * rank_y) <= 4n^3 must stay under 2^63)" +
        " — lift the moment sums to decimal(38,0), see " +
        "AggOps.MaxExactRankRows"))))
      .otherwise(col("n")).as("n")

  /** Doubled average ranks of one column: (rowkey, out) — rank blocks
    * come from min/max row_number per distinct milli-unit value.
    * Shared by the BIGINT and decimal-lifted spearman paths. */
  private def doubledRanks(df: DataFrame, vCol: String, idCol: String,
      out: String): DataFrame = {
    val f = df.select(col(idCol).as("rowkey"),
      floor(col(vCol) * 1000).cast("long").as("vu"))
    val (ranked0, _) =
      WindowOps.withExactGlobalRank(f, Seq(col("vu"), col("rowkey")))
    val ranked = ranked0.localCheckpoint() // two consumers: blocks +
      // the per-row join back
    val blocks = ranked.groupBy(col("vu"))
      .agg((min(col("r")) + max(col("r"))).as(out))
    ranked.join(blocks, Seq("vu")).select(col("rowkey"), col(out))
  }

  /** The rho expression over the five moment sums — textually one
    * chain for both paths (the BIGINT path's sums cast to
    * decimal(38,0) here; the lifted path's already are). */
  private val SpearmanRhoExpr =
    """CAST(CAST(n AS DECIMAL(38,0)) * CAST(sum_rxy AS DECIMAL(38,0))
         - CAST(sum_rx AS DECIMAL(38,0)) * CAST(sum_ry AS DECIMAL(38,0))
         AS DOUBLE)
       / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * CAST(sum_rxx AS DECIMAL(38,0))
           - CAST(sum_rx AS DECIMAL(38,0)) * CAST(sum_rx AS DECIMAL(38,0))
           AS DOUBLE)
         * CAST(CAST(n AS DECIMAL(38,0)) * CAST(sum_ryy AS DECIMAL(38,0))
           - CAST(sum_ry AS DECIMAL(38,0)) * CAST(sum_ry AS DECIMAL(38,0))
           AS DOUBLE)) AS rho"""

  /** The DECIMAL-LIFTED spearman — the documented upgrade path past
    * [[MaxExactRankRows]]: the identical rank pipeline, with the five
    * moment sums accumulated in decimal(38,0) instead of int64
    * (products of decimal(18,0)-cast doubled ranks → decimal(37,0),
    * summed exactly while Σrx·ry ≤ 4n³ stays under 10³⁸ ⇒ exact to
    * n ≈ 2.9·10¹² rows — six orders past the BIGINT bound). The
    * covariance/ρ chain is the SAME expression (it already evaluates
    * in decimal(38,0)); only the aggregation buffer widens, so the
    * cost over the BIGINT path is decimal-vs-long summation on the
    * rank join — measured INDISTINGUISHABLE at sf0.1 (3.64 s vs
    * 3.61 s, min of 3 warm reps; the two global ranks dominate both
    * paths — BASELINE r19). Output schema: n BIGINT, sums
    * DECIMAL(38,0), rho DOUBLE. Also the
    * [[graft.api.Graft.spearmanLifted]] core; the registered
    * agg_spearman keeps the BIGINT fast path + loud guard.
    */
  private[graft] def spearmanDecimalOn(df: DataFrame, xCol: String,
      yCol: String, idCol: String): DataFrame = {
    def d18(c: org.apache.spark.sql.Column) = c.cast("decimal(18,0)")
    doubledRanks(df, xCol, idCol, "rx")
      .join(doubledRanks(df, yCol, idCol, "ry"), Seq("rowkey"))
      .agg(count(lit(1)).as("n"),
        sum(d18(col("rx"))).as("sum_rx"),
        sum(d18(col("ry"))).as("sum_ry"),
        sum(d18(col("rx")) * d18(col("rx"))).as("sum_rxx"),
        sum(d18(col("ry")) * d18(col("ry"))).as("sum_ryy"),
        sum(d18(col("rx")) * d18(col("ry"))).as("sum_rxy"))
      .select(
        // the lifted path's own loud refusal at ITS exactness bound (r19
        // advice): decimal overflow past ~2.9e12 rows is as silent as the
        // BIGINT wrap was
        when(col("n") > lit(MaxExactRankRowsDecimal), raise_error(concat(
          lit("spearman[decimal]: n = "), col("n").cast("string"),
          lit(s" rows exceeds the decimal(38,0) rank-moment exactness " +
            s"bound $MaxExactRankRowsDecimal (sum(rank_x * rank_y) <= " +
            "4n^3 must stay under 10^38) — see " +
            "AggOps.MaxExactRankRowsDecimal"))))
          .otherwise(col("n")).as("n"),
        col("sum_rx").cast("decimal(38,0)").as("sum_rx"),
        col("sum_ry").cast("decimal(38,0)").as("sum_ry"),
        col("sum_rxx").cast("decimal(38,0)").as("sum_rxx"),
        col("sum_ryy").cast("decimal(38,0)").as("sum_ryy"),
        col("sum_rxy").cast("decimal(38,0)").as("sum_rxy"))
      .selectExpr("n", "sum_rx", "sum_ry", "sum_rxx", "sum_ryy",
        "sum_rxy", SpearmanRhoExpr)
  }

  private[graft] def spearmanOn(df: DataFrame, xCol: String,
      yCol: String, idCol: String,
      maxRows: Long = MaxExactRankRows): DataFrame = {
    // VALUE-LEVEL rank algebra (r20): a row's doubled average rank
    // depends only on its distinct milli-unit value (tie block
    // [cum+1, cum+t] ⇒ r2 = minr+maxr = 2·cum_before + t + 1), so the
    // rank tables shrink to one row per DISTINCT value — built from
    // per-value counts and a distinct-value prefix sum, never a
    // full-row range sort. The declared semantics join the two ranked
    // copies on `idCol` (an id repeated c times contributes c² joined
    // rows — the registered fixture's rowkey is NOT unique, and the
    // oracle replays the same join), so the moments aggregate per-id
    // group sums: with sx = Σ rx over an id's rows, n = Σ c²,
    // Σrx = Σ c·sx, Σrx² = Σ c·sxx, Σrx·ry = Σ sx·sy — exact integer
    // identities to the joined multiset, every term still ≤ 4n³ (same
    // BIGINT guard). Plan: the rows are scanned once, both attach joins
    // carry one long each, and the heaviest exchange is the per-id
    // groupBy — replacing two full-row range sorts + block joins + the
    // row-multiplying SMJ (measured ~2× at sf0.1, hash-identical).
    val rows = df.select(col(idCol).as("rowkey"),
        floor(col(xCol) * 1000).cast("long").as("vx"),
        floor(col(yCol) * 1000).cast("long").as("vy"))
      .localCheckpoint() // three consumers: both marginals + the attach
    def blocks(vCol: String, r2: String): DataFrame =
      WindowOps.withExactPrefixSum(
        rows.groupBy(col(vCol)).agg(count(lit(1)).as("t")),
        Seq(col(vCol)), col("t"), "cum")
        .select(col(vCol),
          (lit(2L) * col("cum") + col("t") + lit(1L)).as(r2))
    val per = rows
      .join(blocks("vx", "rx"), Seq("vx"))
      .join(blocks("vy", "ry"), Seq("vy"))
      .groupBy(col("rowkey"))
      .agg(count(lit(1)).as("c"),
        sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
        sum(col("rx") * col("rx")).as("sxx"),
        sum(col("ry") * col("ry")).as("syy"))
    per.agg(sum(col("c") * col("c")).as("n"),
        sum(col("c") * col("sx")).as("sum_rx"),
        sum(col("c") * col("sy")).as("sum_ry"),
        sum(col("c") * col("sxx")).as("sum_rxx"),
        sum(col("c") * col("syy")).as("sum_ryy"),
        sum(col("sx") * col("sy")).as("sum_rxy"))
      .select(rankMomentGuard("spearman", maxRows), col("sum_rx"),
        col("sum_ry"), col("sum_rxx"), col("sum_ryy"), col("sum_rxy"))
      .selectExpr("n", "sum_rx", "sum_ry", "sum_rxx", "sum_ryy",
        "sum_rxy", SpearmanRhoExpr)
  }

  /** KRUSKAL–WALLIS H — the k-group extension of [[mannWhitneyOn]]
    * across ALL event types at once: do the five value distributions
    * differ anywhere, rank-based, no normality assumption? Shares the
    * exact-integer rank machinery (range-partitioned global rank,
    * doubled tie-block rank sums `r2_g`, Σ(t³−t) tie term). The one new
    * numeric hazard is the cross-group float sum Σ R_g²/n_g — R_g² can
    * pass 2⁶³ so it must be a double, and k summation orders would
    * diverge between engines. Both sides therefore fold the per-group
    * terms LEFT-TO-RIGHT over the group-name-sorted list (Spark
    * `aggregate(array_sort(...))`, DuckDB `list_reduce(list(... ORDER
    * BY g))` — a 0.0-seeded IEEE left fold is bit-identical to a
    * first-element-seeded one), so the k-row reduction is deterministic
    * and bit-equal. Output: one row (n, k, tie_sum, h_value,
    * h_corrected), h_corrected = H / (1 − Σ(t³−t)/(n³−n)).
    */
  def kruskalWallisEventTypes(s: SparkSession, d: String): DataFrame =
    kruskalWallisOn(Tables.events(s, d), "event_type", "value", "event_id")

  private[graft] def kruskalWallisOn(df: DataFrame, grpCol: String,
      valCol: String, idCol: String,
      maxRows: Long = MaxExactRankRows): DataFrame = {
    // VALUE-LEVEL rank algebra (r20, the [[spearmanOn]] identity): the
    // tie block of distinct value vu is [cum_before+1, cum_before+t], so
    // minr+maxr = 2·cum_before + t + 1 — computable from per-value
    // counts with a distinct-value prefix sum; the full rows are touched
    // ONCE by the partial-aggregating (vu, g) count, never range-sorted,
    // and `idCol`'s per-row tiebreak is unnecessary by construction (the
    // min+max collapse is tie-order-free). Hash-identical output.
    val perGrpVal = df.select(col(grpCol).as("g"),
        floor(col(valCol) * 1000).cast("long").as("vu"))
      .groupBy(col("vu"), col("g"))
      .agg(count(lit(1)).as("tg"))
      .localCheckpoint() // two consumers: per-value rollup + group join
    val perVal = WindowOps.withExactPrefixSum(
        perGrpVal.groupBy(col("vu")).agg(sum(col("tg")).as("t")),
        Seq(col("vu")), col("t"), "cum")
      .select(col("vu"), col("t"), (col("cum") + 1L).as("minr"),
        (col("cum") + col("t")).as("maxr"))
      // two consumers (group join + tie rollup); cheap to recompute —
      // the prefix-sum scaffold inside is checkpointed
    val grp = perGrpVal.join(perVal, Seq("vu"))
      .groupBy(col("g"))
      .agg(sum(col("tg")).as("n_g"),
        sum(col("tg") * (col("minr") + col("maxr"))).as("r2_g"))
    val ties = perVal.agg(
      sum(when(col("t") > lit(1L),
        col("t") * col("t") * col("t") - col("t"))
        .otherwise(lit(0L))).as("tie_sum"))
    grp.agg(
        collect_list(struct(col("g"), col("n_g"), col("r2_g"))).as("gs"),
        sum(col("n_g")).as("n"), count(lit(1)).as("k"))
      .crossJoin(broadcast(ties)) // 1-row tie frame
      // same refusal as spearman (the binding kruskal hazard is
      // tie_sum = Σ(t³−t) ≤ n³ and the doubled rank sums r2_g ≤ 2n²·g;
      // MaxExactRankRows is conservative for both)
      .select(rankMomentGuard("kruskal_wallis", maxRows), col("k"),
        col("tie_sum"), col("gs"))
      .selectExpr("n", "k", "tie_sum",
        """aggregate(array_sort(gs), CAST(0 AS DOUBLE),
             (acc, x) -> acc
               + (CAST(x.r2_g AS DOUBLE) / 2) * (CAST(x.r2_g AS DOUBLE) / 2)
                 / CAST(x.n_g AS DOUBLE)) AS q""")
      .selectExpr("n", "k", "tie_sum",
        """12 * q / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
           - 3 * CAST(n + 1 AS DOUBLE) AS h_value""")
      // degenerate-input guard (trendOn discipline): n < 2 makes n³−n = 0
      // (0/0 under ANSI), and ONE global tie block makes the correction
      // factor exactly 0 — both are "statistic undefined", so NULL,
      // mirrored in the oracle. Healthy-path IEEE chain unchanged.
      .selectExpr("n", "k", "tie_sum", "h_value",
        """CASE WHEN n < 2 THEN CAST(NULL AS DOUBLE)
           ELSE 1 - CAST(tie_sum AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                - CAST(n AS DOUBLE)) END AS corr_f""")
      .selectExpr("n", "k", "tie_sum", "h_value",
        """CASE WHEN corr_f IS NULL OR corr_f = 0 THEN CAST(NULL AS DOUBLE)
           ELSE h_value / corr_f END AS h_corrected""")
  }

  /** WELCH TWO-SAMPLE t — the A/B comparison read: do purchase and view
    * events carry different mean values, without assuming equal
    * variances? Moments accumulate EXACTLY (milli-unit BIGINT Σv and
    * Σv²; headroom note: Σv² stays under 2⁶³ to ~10⁹ rows at this value
    * range — lift to decimal(38,0) past that), then the t statistic and
    * Welch–Satterthwaite df evaluate as one double expression chain
    * over the six exact integers — identical IEEE ops in both engines,
    * the [[chi2On]] discipline. One two-group aggregate; nothing
    * shuffles but six numbers.
    */
  def ttestPurchaseView(s: SparkSession, d: String): DataFrame =
    ttestOn(Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "view")),
      "event_type", "value", "purchase", "view")

  private[graft] def ttestOn(df: DataFrame, grpCol: String,
      valCol: String, g1: String, g2: String): DataFrame = {
    val m = df.filter(col(grpCol).isin(g1, g2))
      .select(col(grpCol).as("g"),
        floor(col(valCol) * 1000).cast("long").as("vu"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("vu")).as("s1"),
        sum(col("vu") * col("vu")).as("s2"))
      .localCheckpoint() // two consumers (the per-group filters) —
      // without this each side re-scans and re-aggregates the input
    val a = m.filter(col("g") === g1)
      .select(col("n").as("n1"), col("s1").as("sa1"), col("s2").as("sa2"))
    val b = m.filter(col("g") === g2)
      .select(col("n").as("n2"), col("s1").as("sb1"), col("s2").as("sb2"))
    a.crossJoin(b).selectExpr(
      "n1", "n2",
      "CAST(sa1 AS DOUBLE) / n1 / 1000 AS mean1",
      "CAST(sb1 AS DOUBLE) / n2 / 1000 AS mean2",
      """(CAST(sa1 AS DOUBLE) / n1 / 1000 - CAST(sb1 AS DOUBLE) / n2 / 1000)
         / sqrt(((CAST(sa2 AS DOUBLE) / 1e6
             - (CAST(sa1 AS DOUBLE) / n1 / 1000)
               * (CAST(sa1 AS DOUBLE) / 1000)) / (n1 - 1)) / n1
           + ((CAST(sb2 AS DOUBLE) / 1e6
             - (CAST(sb1 AS DOUBLE) / n2 / 1000)
               * (CAST(sb1 AS DOUBLE) / 1000)) / (n2 - 1)) / n2)
         AS t_stat""")
  }

  /** χ² TEST OF INDEPENDENCE + CRAMÉR'S V for the lang × source
    * contingency table — the categorical-association screen a corpus
    * profile runs next to [[entropyBySource]]: does a source determine
    * its language mix (V → 1) or are the two independent (V → 0)?
    * The full r×c grid is materialized (unobserved cells count with
    * o = 0 — dropping them understates χ²), each cell's (o−e)²/e
    * quantizes to exact micro-units before the order-independent BIGINT
    * sum, and V = √(χ²/(n·min(r−1,c−1))) is one double expression over
    * exact longs. A single-category axis has no association to measure
    * (division by zero → engine-consistent inf/NaN).
    *
    * Scale shape: one (a, b) count aggregate compresses the data to the
    * contingency grid; the marginals and the grid cross-join are
    * dimension-sized (broadcast). Headroom: cell units stay exact while
    * (o−e)²/e·10⁶ < 2⁶³ — past ~10¹² rows per cell, drop the 10⁶
    * quantizer a decade.
    */
  def chi2LangSource(s: SparkSession, d: String): DataFrame =
    chi2On(Tables.documents(s, d), "lang", "source")

  private[graft] def chi2On(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint() // four consumers: marginals ×2, total, grid
    val ra = cells.groupBy(col("a")).agg(sum(col("o")).as("ra"))
    val cb = cells.groupBy(col("b")).agg(sum(col("o")).as("cb"))
    val tot = cells.agg(sum(col("o")).as("n"))
    ra.crossJoin(broadcast(cb))
      .join(cells, Seq("a", "b"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("e", (col("ra") * col("cb")).cast("double") / col("n"))
      .withColumn("u",
        floor((col("o") - col("e")) * (col("o") - col("e")) / col("e")
          * 1e6).cast("long"))
      .agg(max(col("n")).as("n"),
        countDistinct(col("a")).as("n_a"),
        countDistinct(col("b")).as("n_b"),
        sum(col("u")).as("chi2_units"))
      .select(col("n"), col("n_a"), col("n_b"), col("chi2_units"),
        sqrt(col("chi2_units").cast("double") / 1e6
          / (col("n") * least(col("n_a") - 1, col("n_b") - 1)))
          .as("cramers_v"))
  }

  /** ROBUST OUTLIER STATS (median / MAD / modified z-score) per event
    * type — the outlier rule that survives what [[zscoreOutliers]]'s
    * mean/stddev rule cannot: a single extreme value inflates the stddev
    * and hides every other outlier, while the median and the median
    * absolute deviation have a 50% breakdown point (Iglewicz–Hoaglin's
    * modified z-score, |0.6745·(x−med)/MAD| > 3.5). Everything is
    * INTEGRAL: values quantize to micro-units, medians are the exact
    * lower-median by rank (position (n+1) DIV 2 in (value, event_id)
    * order — no interpolation, so no float to drift), and the cut is
    * cross-multiplied to 6745·|dev| > 35000·MAD, exact long arithmetic
    * both engines replay bit-for-bit.
    *
    * Scale shape: two rank-median passes = two RANGE-partitioned sorts
    * on (type, value, id) via [[graft.operators.WindowOps.groupLowerMedian]]
    * — parallelism scales with data size, never capping at the handful
    * of event types; the joins back are broadcasts of the type-sized
    * median tables. A corpus too hot for even two exact sorted passes
    * at 100 TB moves to the mergeable KLL sketch
    * ([[graft.functions.KllSketch]], reduce_kll_quantiles) at the cost
    * of rank exactness — this query IS the exact anchor the sketch is
    * graded against.
    */
  def madOutliers(s: SparkSession, d: String): DataFrame =
    madOutliersOn(Tables.events(s, d))

  private[graft] def madOutliersOn(events: DataFrame): DataFrame = {
    val u = events.select(col("event_type"), col("event_id"),
      floor(col("value") * 1e6).cast("long").as("v"))
    // both rank-median passes ride WindowOps.groupLowerMedian — range
    // partitioning on (type, value, id), so parallelism scales with data
    // size instead of capping at the handful of event types
    def lowerMedian(df: DataFrame, value: String, out: String): DataFrame =
      WindowOps.groupLowerMedian(df, "event_type", value, "event_id", out)
    val med = lowerMedian(u, "v", "med")
    val dev = u.join(broadcast(med), Seq("event_type"))
      .withColumn("ad", abs(col("v") - col("med")))
    val mad = lowerMedian(dev, "ad", "mad")
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        max(col("med")).as("med_micro"), // constant per group
        max(col("mad")).as("mad_micro"),
        sum(when(col("ad") * 6745 > col("mad") * 35000, 1L)
          .otherwise(0L)).as("n_outliers"),
        max(col("ad")).as("max_absdev_micro"))
      .orderBy(col("event_type"))
  }

  /** GINI COEFFICIENT of revenue concentration per nation — the
    * inequality number behind "top-1% of customers" dashboards, and the
    * curator's skew summary one level above [[keySkew]]'s percentiles.
    * Population: customers with ≥ 1 order; x = lifetime order revenue in
    * exact cents. The rank formula G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx)
    * over ascending x needs ONE window rank per nation plus one
    * aggregate; equal values make Σ i·x₍ᵢ₎ permutation-invariant, so the
    * custkey tie-break only pins the plan, not the value. Accumulators
    * are decimal(38,0) (rank·cents overflows long at warehouse scale —
    * the [[zscoreOutliers]] headroom discipline) and G is one double
    * division of exact integers, bit-replayed by the oracle.
    *
    * Scale: the per-nation rank rides [[giniOn]]'s range-partitioned
    * exact group rank — parallelism scales with data size, not the 25
    * nations; both joins are dimension-broadcasts.
    */
  def giniRevenue(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.orders(s, d)
      .select(col("o_custkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("o_custkey")).agg(sum(col("cents")).as("x"))
    val nat = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("o_custkey"), col("n_name"))
    giniOn(rev.join(broadcast(nat), Seq("o_custkey")),
        "n_name", "o_custkey", "x")
      .select(col("grp").as("n_name"), col("n").as("n_cust"),
        col("total").as("rev_cents"), col("gini"))
      .orderBy(col("n_name"))
  }

  /** The Gini core over any (group, unit key, non-negative long value)
    * frame: (grp, n, total, gini), unordered. Hand-computed expectations
    * in AnalyticsOpsSpec. The per-group rank i rides
    * [[graft.operators.WindowOps.withExactGroupRank]] — bit-identical to
    * the `row_number() OVER (PARTITION BY grp)` it replaces, but the
    * heavy sort range-partitions on (grp, x, key), so a 25-nation
    * grouping no longer caps the sort at 25 tasks (the r9 watch item).
    * All-zero-value groups yield gini = NaN (0/0) on both engines — see
    * [[graft.api.Graft.gini]].
    */
  private[graft] def giniOn(df: DataFrame, grp: String, key: String,
      x: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
    WindowOps.withExactGroupRank(df.select(col(grp), col(key), col(x)),
        grp, Seq(col(x), col(key)))
      .groupBy(col(grp).as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(col(x)).as("total"),
        sum(dec(col("r")) * col(x)).as("six"))
      .select(col("grp"), col("n"), col("total"),
        ((lit(2) * col("six") - dec(col("n") + 1) * col("total"))
          .cast("double") /
          (dec(col("n")) * col("total")).cast("double"))
          .as("gini"))
  }

  /** BENFORD FIRST-DIGIT profile of order totals — the fraud/data-quality
    * screen auditors run on any money column: the leading digit of
    * naturally-occurring amounts should follow P(d) = log₁₀(1 + 1/d)
    * (~30.1% ones), and a fabricated or truncated feed shows up as a
    * flat or spiky profile. Digit extraction is STRING-BASED on the
    * exact integer cents (first char of the decimal rendering) — no
    * float log10 whose boundary could round a 999999→1000000 differently
    * across engines; shares are integral per-mille floor divisions. The
    * reference Benford per-mille floor(1000·log₁₀(1+1/d)) values are
    * 301/176/124/96/79/66/57/51/45 — every libm input is ≥ 0.009 from a
    * floor boundary, so both engines agree. One bounded groupBy (9 rows)
    * plus a broadcast total.
    */
  def benfordProfile(s: SparkSession, d: String): DataFrame =
    benfordOn(Tables.orders(s, d)
      .select(floor(col("o_totalprice") * 100).cast("long").as("x")), "x")

  /** The Benford core over any positive-long column: (digit, n,
    * share_permille, benford_permille). */
  private[graft] def benfordOn(df: DataFrame, x: String): DataFrame = {
    // two consumers (group rows + the broadcast total) ⇒ materialize the
    // 9-row frame, or the input scan and groupBy run twice
    val counts = df.filter(col(x) > 0)
      .select(substring(col(x).cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    counts
      .crossJoin(broadcast(counts.agg(sum(col("n")).as("total"))))
      .select(col("digit"), col("n"),
        expr("(1000 * n) DIV total").as("share_permille"),
        floor(lit(1000.0) * log10(lit(1.0) + lit(1.0) / col("digit")))
          .cast("long").as("benford_permille"))
      .orderBy(col("digit"))
  }

  /** 1/√(2π) — computed ONCE and interpolated into both engines' SQL
    * text (the [[poissonCums]] constant-interpolation idiom). */
  private[graft] lazy val invSqrt2Pi: Double = 1.0 / math.sqrt(2 * math.Pi)

  /** BENJAMINI–HOCHBERG FDR screen over the 35 (event_type × ISO
    * weekday) cells: which cells' mean value differs from the rest of
    * the stream, CONTROLLING the false-discovery rate across all 35
    * simultaneous comparisons — the multiple-testing correction an
    * experimentation platform must apply before alerting on "cell X
    * looks different" (at α = 0.05, ~2 of 35 null cells would cross an
    * uncorrected threshold by chance alone).
    *
    * Engine shape, all bounded after ONE corpus pass:
    *  - per-cell exact moments (n, Σvu, Σvu²) in milli-unit BIGINTs via
    *    one map-side-combining aggregate (35 rows out; headroom note:
    *    Σvu² stays under 2⁶³ to ~10⁹ rows at this value range — the
    *    [[ttestOn]] bound); the REST of each test is the total-minus-
    *    cell complement, so 35 Welch tests cost zero extra passes;
    *  - Welch z per cell over the six exact integers — the [[ttestOn]]
    *    IEEE chain textually mirrored in the oracle, with the
    *    degenerate-variance NULL guard ([[mannWhitneyOn]] discipline);
    *  - two-sided p = 2(1−Φ(|z|)) by the Abramowitz–Stegun 26.2.17
    *    polynomial (|ε| < 7.5e-8; exp may drift a ulp between libms —
    *    driver-tolerated like fn_math), with 1/√(2π) interpolated as a
    *    Scala-computed IEEE constant;
    *  - BH step-up on the 35-row frame: rank by |z| DESC (≡ p ASC but
    *    BIT-EXACT in both engines — z is pure arithmetic + one sqrt,
    *    both correctly rounded; p's libm exp never decides the order)
    *    via the bounded broadcast theta join (never a global window),
    *    crit_i = i·q/m, and significant ⇔ rank ≤ max{i : p_i ≤ crit_i}
    *    (the step-up rule: everything below the LAST passing rank is
    *    rejected, even interior ranks whose own p missed). m counts ALL
    *    cells INCLUDING degenerate ones (n < 2 / zero variance, z NULL,
    *    never ranked) — a deliberate deviation from textbook BH over
    *    only-testable hypotheses: the denominator stays the size of the
    *    comparison family the analyst actually launched, which is
    *    strictly CONSERVATIVE (smaller crit_i, never anti-conservative)
    *    and is mirrored term-for-term in the oracle.
    * At 100 TB: one linear scan, then 35-row algebra — nothing scales
    * with data but the first aggregate.
    */
  def bhFdrTypeDow(s: SparkSession, d: String): DataFrame =
    bhFdrOn(Tables.events(s, d)
      .select(col("event_type"), expr("weekday(ts) + 1").as("dow"),
        col("value")),
      "event_type", "dow", "value", qPerMille = 50)
      .withColumnRenamed("g1", "event_type")
      .withColumnRenamed("g2", "dow")

  private[graft] def bhFdrOn(df: DataFrame, g1Col: String, g2Col: String,
      valCol: String, qPerMille: Int): DataFrame = {
    require(qPerMille > 0 && qPerMille < 1000,
      s"bhFdr q must be in (0, 1000) per mille: $qPerMille")
    val cells = df.select(col(g1Col).as("g1"), col(g2Col).as("g2"),
        floor(col(valCol) * 1000).cast("long").as("vu"))
      .groupBy(col("g1"), col("g2"))
      .agg(count(lit(1)).as("n"), sum(col("vu")).as("s1"),
        sum(col("vu") * col("vu")).as("s2"))
      .localCheckpoint() // three consumers: totals + tests + rank RHS
    val tot = cells.agg(sum(col("n")).as("tn"), sum(col("s1")).as("ts1"),
      sum(col("s2")).as("ts2"), count(lit(1)).as("m"))
    val qf = qPerMille / 1000.0 // exact in both engines (50/1000 = 0.05)
    val tested = cells.crossJoin(broadcast(tot)) // 1-row totals frame
      .selectExpr("g1", "g2", "n", "m",
        "tn - n AS nr", "ts1 - s1 AS r1", "ts2 - s2 AS r2", "s1", "s2")
      .selectExpr("g1", "g2", "n", "m",
        "CAST(s1 AS DOUBLE) / n / 1000 AS mean_v",
        // Welch z over exact integer moments — the ttestOn chain with
        // the cell's complement as the second sample; NULL-guarded for
        // degenerate cells (n < 2 or zero pooled variance)
        """CASE WHEN n < 2 OR nr < 2 THEN CAST(NULL AS DOUBLE)
           ELSE ((CAST(s2 AS DOUBLE) / 1e6
               - (CAST(s1 AS DOUBLE) / n / 1000)
                 * (CAST(s1 AS DOUBLE) / 1000)) / (n - 1)) / n
             + ((CAST(r2 AS DOUBLE) / 1e6
               - (CAST(r1 AS DOUBLE) / nr / 1000)
                 * (CAST(r1 AS DOUBLE) / 1000)) / (nr - 1)) / nr
           END AS se2""",
        """CAST(s1 AS DOUBLE) / n / 1000
           - CAST(r1 AS DOUBLE) / nr / 1000 AS diff""")
      .selectExpr("g1", "g2", "n", "m", "mean_v",
        """CASE WHEN se2 IS NULL OR se2 <= 0 THEN CAST(NULL AS DOUBLE)
           ELSE diff / sqrt(se2) END AS z_value""")
      .selectExpr("g1", "g2", "n", "m", "mean_v", "z_value",
        // two-sided p by Abramowitz–Stegun 26.2.17 (Horner, fixed order)
        s"""CASE WHEN z_value IS NULL THEN CAST(NULL AS DOUBLE)
            ELSE 2 * (exp(-(abs(z_value) * abs(z_value)) / 2)
                * $invSqrt2Pi)
              * (1 / (1 + 0.2316419 * abs(z_value)))
              * (0.319381530 + (1 / (1 + 0.2316419 * abs(z_value)))
                * (-0.356563782 + (1 / (1 + 0.2316419 * abs(z_value)))
                  * (1.781477937 + (1 / (1 + 0.2316419 * abs(z_value)))
                    * (-1.821255978 + (1 / (1 + 0.2316419 * abs(z_value)))
                      * 1.330274429)))) END AS p_value""")
      .localCheckpoint() // two consumers: both sides of the theta rank
    // bounded broadcast theta rank on |z| DESC (m ≤ dozens of rows)
    val rhs = tested.filter(col("z_value").isNotNull)
      .select(col("g1").as("h1"), col("g2").as("h2"),
        abs(col("z_value")).as("za2"))
    val ranked = tested
      .join(broadcast(rhs),
        col("z_value").isNotNull &&
          (col("za2") > abs(col("z_value")) ||
            (col("za2") === abs(col("z_value")) &&
              (col("h1") < col("g1") ||
                (col("h1") === col("g1") && col("h2") <= col("g2"))))),
        "left")
      .groupBy(col("g1"), col("g2"), col("n"), col("m"), col("mean_v"),
        col("z_value"), col("p_value"))
      .agg(count(col("za2")).as("rcnt"))
      .selectExpr("g1", "g2", "n", "m", "mean_v", "z_value", "p_value",
        "CASE WHEN z_value IS NULL THEN CAST(NULL AS BIGINT) " +
          "ELSE rcnt END AS p_rank")
      .withColumn("bh_crit",
        expr(s"CAST(p_rank AS DOUBLE) * $qf / m"))
      .localCheckpoint() // two consumers: step-up scan + output rows
    val kstar = ranked
      .agg(max(when(col("p_value") <= col("bh_crit"), col("p_rank")))
        .as("k_star"))
    ranked.crossJoin(broadcast(kstar)) // 1-row step-up frame
      .selectExpr("g1", "g2", "n", "mean_v", "z_value", "p_value",
        "p_rank", "bh_crit",
        """coalesce(p_rank <= k_star, false) AS significant""")
      .orderBy(asc_nulls_last("p_rank"), col("g1"), col("g2"))
  }

  /** CUPED VARIANCE-REDUCED A/B UPLIFT (Deng, Xu, Kohavi, Walker —
    * WSDM 2013, public): adjust each user's experiment-period metric by
    * their PRE-period metric, Y_adj = Y − θ(X − X̄), θ = cov(X,Y)/var(X)
    * pooled across arms — the industry-standard way to shrink an A/B
    * readout's variance with data the experiment didn't touch. Here the
    * fixture's first half-month is the pre-period, the second half the
    * experiment, and arms are the deterministic residue-class hash of
    * user_id (the [[FilterOps.sampleHash]] idiom, so assignment replays
    * in any engine).
    *
    * Engine shape: one events pass → per-user (x, y) milli-unit BIGINT
    * sums (map-side combine), then ONE global aggregate producing the
    * pooled moments AND both arms' conditional moments together — a
    * 1-row frame; θ, uplifts and the variance-reduction ratio are
    * double chains over the exact integers (moment products cast to
    * DOUBLE BEFORE multiplying — the OLS overflow discipline; per-user
    * x·y products stay integral: |x|,|y| < 2³¹ ⇒ products < 2⁶² to
    * ~50k events/user at this value range). Degenerate var(X) = 0 →
    * NULL θ (the trendOn guard). At 100 TB: two linear aggregates,
    * nothing else.
    */
  def cupedUplift(s: SparkSession, d: String): DataFrame =
    cupedOn(Tables.events(s, d)
      .filter(col("event_type") === "purchase"), "user_id", "value",
      preExpr = "day(ts) <= 15")

  private[graft] def cupedOn(df: DataFrame, userCol: String,
      valCol: String, preExpr: String): DataFrame = {
    val users = df.select(col(userCol).cast("long").as("u"),
        floor(col(valCol) * 1000).cast("long").as("vu"),
        expr(preExpr).as("pre"))
      .groupBy(col("u"))
      .agg(sum(when(col("pre"), col("vu")).otherwise(0L)).as("x"),
        sum(when(!col("pre"), col("vu")).otherwise(0L)).as("y"))
      .withColumn("arm",
        when(pmod(pmod(col("u"), lit(1000)) * lit(761L), lit(1000)) < 500,
          lit("A")).otherwise(lit("B")))
    users.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"),
        sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === "A", col("x")).otherwise(0L)).as("sxa"),
        sum(when(col("arm") === "A", col("y")).otherwise(0L)).as("sya"))
      .selectExpr("n", "n_a", "n - n_a AS n_b",
        "sx", "sy", "sxx", "sxy", "syy", "sxa", "sya",
        "sx - sxa AS sxb", "sy - sya AS syb")
      // θ and ρ² from exact moments; every moment CAST to DOUBLE before
      // any product (n·Sxx etc. pass 2⁶³ long before the sums do)
      .selectExpr("n", "n_a", "n_b", "sxa", "sya", "sxb", "syb",
        """CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0
           THEN CAST(NULL AS DOUBLE)
           ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS theta""",
        """CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0
             OR CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) = 0
           THEN CAST(NULL AS BIGINT)
           ELSE CAST(floor(1000
             * ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
             AS BIGINT) END AS rho2_permille""")
      .selectExpr("n", "n_a", "n_b", "theta", "rho2_permille",
        // empty-arm guard (the r14 ADVICE lesson: ANSI throws on 0/0)
        """CASE WHEN n_a = 0 OR n_b = 0 THEN CAST(NULL AS DOUBLE)
           ELSE CAST(sya AS DOUBLE) / n_a / 1000
             - CAST(syb AS DOUBLE) / n_b / 1000 END AS uplift_raw""",
        """CASE WHEN theta IS NULL OR n_a = 0 OR n_b = 0
           THEN CAST(NULL AS DOUBLE)
           ELSE (CAST(sya AS DOUBLE) / n_a / 1000
             - CAST(syb AS DOUBLE) / n_b / 1000)
             - theta * (CAST(sxa AS DOUBLE) / n_a / 1000
               - CAST(sxb AS DOUBLE) / n_b / 1000) END AS uplift_cuped""")
  }

  val queries = Map(
    "agg_cuped" -> (cupedUplift _),
    "agg_bh_fdr" -> (bhFdrTypeDow _),
    "agg_benford" -> (benfordProfile _),
    "agg_gini" -> (giniRevenue _),
    "agg_entropy" -> (entropyBySource _),
    "agg_chi2" -> (chi2LangSource _),
    "agg_ttest" -> (ttestPurchaseView _),
    "agg_mannwhitney" -> (mannWhitneyPurchaseView _),
    "agg_kruskal_wallis" -> (kruskalWallisEventTypes _),
    "agg_spearman" -> (spearmanQtyPrice _),
    "agg_bootstrap_ci" -> (bootstrapCiPurchase _),
    "agg_trimmed_mean" -> (trimmedMeanPurchase _),
    "agg_tail_index" -> (hillTailPrice _),
    "agg_ab_bootstrap" -> (abBootstrapPurchaseClick _),
    "agg_mutual_info" -> (mutualInfoTypeDow _),
    "agg_k_anonymity" -> (kAnonymityCustomer _),
    "agg_l_diversity" -> (lDiversityCustomer _),
    "agg_t_closeness" -> (tClosenessCustomer _),
    "agg_overlap_matrix" -> (overlapMatrix _),
    "agg_mad_outliers" -> (madOutliers _),
    "agg_copurchase_lift" -> (copurchaseLift _),
    "agg_key_skew" -> (keySkew _),
    "agg_count_of_counts" -> (countOfCounts _),
    "agg_pivot" -> (pivotEventTypes _),
    "agg_unpivot" -> (unpivotLangProfile _),
    "agg_mode" -> (modeLangPerSource _),
    "agg_zscore_outliers" -> (zscoreOutliers _),
    "agg_corr" -> (corrQtyPrice _),
    "agg_corr_matrix" -> (corrMatrix _),
    "agg_q1_pricing_summary" -> (q1PricingSummary _),
    "agg_numeric_summary" -> (numericSummary _),
    "agg_count_distinct" -> (countDistinctUsers _),
    "agg_exact_quantiles" -> (exactQuantiles _),
    "agg_weighted_quantiles" -> (weightedQuantiles _),
    "agg_approx_distinct" -> (approxDistinct _),
    "agg_hll_union" -> (hllUnionDaily _),
    "agg_hll_intersection" -> (hllIntersection _),
    "agg_approx_quantiles" -> (approxQuantiles _),
    "agg_min_max_count" -> (minMaxCount _),
    "agg_histogram" -> (histogram _),
    "agg_equidepth_hist" -> (equidepthHist _),
    "agg_cube" -> (cubeStatusYear _),
    "agg_rollup" -> (rollupYearMonth _),
    "agg_wordcount" -> (wordcount _),
    "agg_heavy_hitters" -> (heavyHitters _),
    "agg_grouping_sets" -> (groupingSets _),
    "agg_salted_twophase" -> (saltedTwoPhase _),
    "agg_inverted_index" -> (invertedIndex _))

  val oracle = Map(
    "agg_cuped" ->
      """WITH users AS (SELECT user_id AS u,
             CAST(sum(CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15
               THEN CAST(floor(value * 1000) AS BIGINT) ELSE 0 END)
               AS BIGINT) AS x,
             CAST(sum(CASE WHEN NOT day(CAST(ts AS TIMESTAMP)) <= 15
               THEN CAST(floor(value * 1000) AS BIGINT) ELSE 0 END)
               AS BIGINT) AS y
           FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         ua AS (SELECT u, x, y,
             CASE WHEN (u % 1000) * 761 % 1000 < 500 THEN 'A' ELSE 'B' END
               AS arm
           FROM users),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN arm = 'A' THEN x ELSE 0 END) AS BIGINT)
               AS sxa,
             CAST(sum(CASE WHEN arm = 'A' THEN y ELSE 0 END) AS BIGINT)
               AS sya
           FROM ua),
         m2 AS (SELECT n, n_a, n - n_a AS n_b, sx, sy, sxx, sxy, syy,
             sxa, sya, sx - sxa AS sxb, sy - sya AS syb FROM m),
         m3 AS (SELECT n, n_a, n_b, sxa, sya, sxb, syb,
             CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0
             THEN CAST(NULL AS DOUBLE)
             ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS theta,
             CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0
                 OR CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) = 0
             THEN CAST(NULL AS BIGINT)
             ELSE CAST(floor(1000
               * ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
               / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
               AS BIGINT) END AS rho2_permille
           FROM m2)
         SELECT n, n_a, n_b, theta, rho2_permille,
           CASE WHEN n_a = 0 OR n_b = 0 THEN CAST(NULL AS DOUBLE)
           ELSE CAST(sya AS DOUBLE) / n_a / 1000
             - CAST(syb AS DOUBLE) / n_b / 1000 END AS uplift_raw,
           CASE WHEN theta IS NULL OR n_a = 0 OR n_b = 0
           THEN CAST(NULL AS DOUBLE)
           ELSE (CAST(sya AS DOUBLE) / n_a / 1000
             - CAST(syb AS DOUBLE) / n_b / 1000)
             - theta * (CAST(sxa AS DOUBLE) / n_a / 1000
               - CAST(sxb AS DOUBLE) / n_b / 1000) END AS uplift_cuped
         FROM m3""",
    "agg_bh_fdr" -> {
      val asP = // A-S 26.2.17 two-sided p, shared Horner text
        s"""2 * (exp(-(abs(z_value) * abs(z_value)) / 2) * $invSqrt2Pi)
              * (1 / (1 + 0.2316419 * abs(z_value)))
              * (0.319381530 + (1 / (1 + 0.2316419 * abs(z_value)))
                * (-0.356563782 + (1 / (1 + 0.2316419 * abs(z_value)))
                  * (1.781477937 + (1 / (1 + 0.2316419 * abs(z_value)))
                    * (-1.821255978 + (1 / (1 + 0.2316419 * abs(z_value)))
                      * 1.330274429))))"""
      s"""WITH b AS (SELECT event_type AS g1,
             isodow(CAST(ts AS TIMESTAMP)) AS g2,
             CAST(floor(value * 1000) AS BIGINT) AS vu
           FROM events),
         cells AS (SELECT g1, g2, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(vu) AS BIGINT) AS s1,
             CAST(sum(vu * vu) AS BIGINT) AS s2
           FROM b GROUP BY g1, g2),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
             CAST(sum(s1) AS BIGINT) AS ts1,
             CAST(sum(s2) AS BIGINT) AS ts2,
             CAST(count(*) AS BIGINT) AS m FROM cells),
         t1 AS (SELECT g1, g2, n, m, tn - n AS nr, ts1 - s1 AS r1,
             ts2 - s2 AS r2, s1, s2
           FROM cells CROSS JOIN tot),
         t2 AS (SELECT g1, g2, n, m,
             CAST(s1 AS DOUBLE) / n / 1000 AS mean_v,
             CASE WHEN n < 2 OR nr < 2 THEN CAST(NULL AS DOUBLE)
             ELSE ((CAST(s2 AS DOUBLE) / 1e6
                 - (CAST(s1 AS DOUBLE) / n / 1000)
                   * (CAST(s1 AS DOUBLE) / 1000)) / (n - 1)) / n
               + ((CAST(r2 AS DOUBLE) / 1e6
                 - (CAST(r1 AS DOUBLE) / nr / 1000)
                   * (CAST(r1 AS DOUBLE) / 1000)) / (nr - 1)) / nr
             END AS se2,
             CAST(s1 AS DOUBLE) / n / 1000
               - CAST(r1 AS DOUBLE) / nr / 1000 AS diff
           FROM t1),
         t3 AS (SELECT g1, g2, n, m, mean_v,
             CASE WHEN se2 IS NULL OR se2 <= 0 THEN CAST(NULL AS DOUBLE)
             ELSE diff / sqrt(se2) END AS z_value FROM t2),
         t4 AS (SELECT g1, g2, n, m, mean_v, z_value,
             CASE WHEN z_value IS NULL THEN CAST(NULL AS DOUBLE)
             ELSE $asP END AS p_value
           FROM t3),
         ranked AS (SELECT a.g1, a.g2, a.n, a.m, a.mean_v, a.z_value,
             a.p_value,
             CASE WHEN a.z_value IS NULL THEN CAST(NULL AS BIGINT)
             ELSE CAST(count(c.za2) AS BIGINT) END AS p_rank
           FROM t4 a LEFT JOIN (SELECT g1 AS h1, g2 AS h2,
               abs(z_value) AS za2 FROM t4 WHERE z_value IS NOT NULL) c
             ON a.z_value IS NOT NULL AND (c.za2 > abs(a.z_value)
               OR (c.za2 = abs(a.z_value) AND (c.h1 < a.g1
                 OR (c.h1 = a.g1 AND c.h2 <= a.g2))))
           GROUP BY a.g1, a.g2, a.n, a.m, a.mean_v, a.z_value, a.p_value),
         r2 AS (SELECT g1, g2, n, m, mean_v, z_value, p_value, p_rank,
             CAST(p_rank AS DOUBLE) * ${50 / 1000.0} / m AS bh_crit
           FROM ranked),
         ks AS (SELECT max(CASE WHEN p_value <= bh_crit THEN p_rank END)
             AS k_star FROM r2)
         SELECT g1 AS event_type, g2 AS dow, n, mean_v, z_value, p_value,
           p_rank, bh_crit,
           coalesce(p_rank <= k_star, false) AS significant
         FROM r2 CROSS JOIN ks
         ORDER BY p_rank NULLS LAST, g1, g2"""
    },
    "agg_copurchase_lift" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             FROM lineitem),
         n AS (SELECT count(DISTINCT ok) AS n_orders FROM li),
         supp AS (SELECT pk, count(*) AS n_p FROM li GROUP BY pk),
         pairs AS (SELECT a.pk AS a, b.pk AS b, count(*) AS n_ab
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
           GROUP BY a.pk, b.pk HAVING count(*) >= 2)
         SELECT a, b, CAST(n_ab AS BIGINT) AS n_ab,
           CAST(sa.n_p AS BIGINT) AS n_a, CAST(sb.n_p AS BIGINT) AS n_b,
           CAST(n_ab AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
             / (CAST(sa.n_p AS DOUBLE) * CAST(sb.n_p AS DOUBLE)) AS lift
         FROM pairs JOIN supp sa ON sa.pk = a JOIN supp sb ON sb.pk = b
         CROSS JOIN n
         ORDER BY lift DESC, a, b LIMIT 20""",
    "agg_key_skew" ->
      """WITH c AS (SELECT user_id, count(*) AS kc FROM events
             GROUP BY user_id),
         b AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(kc) AS BIGINT) AS n_rows, max(kc) AS max_count
           FROM c),
         t AS (SELECT CAST(sum(kc) AS BIGINT) AS top10_rows FROM (
           SELECT kc FROM c ORDER BY kc DESC, user_id LIMIT 10)),
         r AS (SELECT kc, row_number() OVER (ORDER BY kc, user_id) AS r,
             count(*) OVER () AS n FROM c),
         q AS (SELECT
             max(CASE WHEN r = (n * 50 + 99) // 100 THEN kc END)
               AS p50_count,
             max(CASE WHEN r = (n * 99 + 99) // 100 THEN kc END)
               AS p99_count
           FROM r)
         SELECT b.n_keys, b.n_rows, b.max_count,
           (1000 * b.max_count) // b.n_rows AS max_share_permille,
           (1000 * t.top10_rows) // b.n_rows AS top10_share_permille,
           q.p50_count, q.p99_count
         FROM b, t, q""",
    "agg_count_of_counts" ->
      """SELECT r, CAST(count(*) AS BIGINT) AS n_types FROM (
           SELECT count(*) AS r FROM (
             SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
             FROM (SELECT string_split(text, ' ') AS w FROM documents),
               unnest(range(1, len(w) - 1)) AS u(i))
           GROUP BY gram)
         WHERE r <= 50 GROUP BY r ORDER BY r""",
    "agg_mode" ->
      """SELECT source, mode_lang, n FROM (
           SELECT source, lang AS mode_lang, count(*) AS n,
             row_number() OVER (PARTITION BY source
               ORDER BY count(*) DESC, lang) AS rk
           FROM documents GROUP BY source, lang)
         WHERE rk = 1 ORDER BY source""",
    "agg_zscore_outliers" ->
      """WITH u AS (SELECT event_type, event_id,
             CAST(floor(value * 1e6) AS BIGINT) AS value_micro FROM events),
           m AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(value_micro) AS HUGEINT) AS sm,
             sum(CAST(value_micro AS HUGEINT) * value_micro) AS q
           FROM u GROUP BY event_type),
           d AS (SELECT u.event_type, u.event_id, u.value_micro,
             m.n * u.value_micro - m.sm AS dev
           FROM u JOIN m USING (event_type)
           WHERE (m.n * u.value_micro - m.sm) * (m.n * u.value_micro - m.sm)
             > 9 * (m.n * m.q - m.sm * m.sm))
         SELECT event_type, rank, event_id, value_micro, side FROM (
           SELECT event_type, event_id, value_micro,
             CASE WHEN dev > 0 THEN 'hi' ELSE 'lo' END AS side,
             CAST(row_number() OVER (PARTITION BY event_type
               ORDER BY abs(dev) DESC, event_id) AS INT) AS rank
           FROM d) WHERE rank <= 5 ORDER BY event_type, rank""",
    "agg_weighted_quantiles" ->
      """WITH d AS (SELECT lang AS grp, doc_id AS id,
             CAST(n_chars AS BIGINT) AS v,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS w
           FROM documents),
         c AS (SELECT grp, v, w, cw, tw FROM (
             SELECT grp, v, w,
               CAST(sum(w) OVER (PARTITION BY grp ORDER BY v, id)
                 AS BIGINT) AS cw,
               CAST(sum(w) OVER (PARTITION BY grp) AS BIGINT) AS tw
             FROM d) WHERE tw > 0)
         SELECT grp AS lang, CAST(q_permille AS BIGINT) AS q_permille,
           min(v) AS weighted_q, min(tw) AS total_w
         FROM c JOIN (VALUES (250), (500), (750), (900)) t(q_permille)
           ON c.cw * 1000 >= c.tw * t.q_permille
         GROUP BY grp, q_permille
         ORDER BY lang, q_permille""",
    "agg_exact_quantiles" ->
      """SELECT pct, r AS pos, v AS value FROM (
           SELECT l_extendedprice AS v,
             row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
               l_linenumber) AS r,
             count(*) OVER () AS n
           FROM lineitem) s
         JOIN (VALUES (25), (50), (75), (95)) t(pct)
           ON s.r = CAST(ceil(t.pct * s.n / 100.0) AS BIGINT)
         ORDER BY pct""",
    "agg_corr_matrix" -> {
      def d4(c: String) = s"CAST($c AS DECIMAL(19,4))"
      val sums =
        CorrMetrics.flatMap { case (nm, c) => Seq(
          s"SUM(${d4(c)}) AS s_$nm",
          s"SUM(${d4(c)} * ${d4(c)}) AS p_${nm}_$nm") } ++
        CorrPairs.map { case ((na, ca), (nb, cb)) =>
          s"SUM(${d4(ca)} * ${d4(cb)}) AS p_${na}_$nb" }
      def mean(nm: String) = s"(CAST(s_$nm AS DOUBLE) / n)"
      def cov(a: String, b: String) =
        s"(CAST(p_${a}_$b AS DOUBLE) / n - ${mean(a)} * ${mean(b)})"
      val rows = CorrPairs.map { case ((na, _), (nb, _)) =>
        s"""SELECT '$na' AS ma, '$nb' AS mb, n,
            ${cov(na, nb)} / (sqrt(${cov(na, na)}) * sqrt(${cov(nb, nb)}))
              AS r FROM a""" }
      s"""WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
           ${sums.mkString(",\n           ")}
         FROM lineitem)
         SELECT ma, mb, n, r FROM (
           ${rows.mkString("\n           UNION ALL ")})
         ORDER BY ma, mb"""
    },
    "agg_corr" ->
      """WITH m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           SUM(CAST(l_quantity AS DECIMAL(19,4))) AS sx,
           SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS sy,
           SUM(CAST(l_quantity AS DECIMAL(19,4))
             * CAST(l_extendedprice AS DECIMAL(19,4))) AS sxy,
           SUM(CAST(l_quantity AS DECIMAL(19,4))
             * CAST(l_quantity AS DECIMAL(19,4))) AS sxx,
           SUM(CAST(l_extendedprice AS DECIMAL(19,4))
             * CAST(l_extendedprice AS DECIMAL(19,4))) AS syy
         FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, n,
           (CAST(sxy AS DOUBLE) / n
             - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
           / (sqrt(CAST(sxx AS DOUBLE) / n
               - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
             * sqrt(CAST(syy AS DOUBLE) / n
               - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)))
           AS corr_qty_price
         FROM m ORDER BY l_returnflag""",
    "agg_unpivot" ->
      """WITH wide AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
           FROM documents GROUP BY lang)
         SELECT lang, metric, value FROM (
           SELECT lang, 'n_docs' AS metric, n_docs AS value FROM wide
           UNION ALL SELECT lang, 'sum_chars', sum_chars FROM wide
           UNION ALL SELECT lang, 'sum_tokens', sum_tokens FROM wide)
         ORDER BY lang, metric""",
    "agg_pivot" ->
      """SELECT user_id,
           count(*) FILTER (event_type = 'click') AS click,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'error') AS error,
           count(*) FILTER (event_type = 'signup') AS signup,
           count(*) FILTER (event_type = 'view') AS "view"
         FROM events GROUP BY user_id ORDER BY user_id""",
    "agg_q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
         round(avg(l_quantity), 4) AS avg_qty,
         round(avg(l_extendedprice), 4) AS avg_price,
         round(avg(l_discount), 4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "agg_numeric_summary" ->
      """SELECT event_type, count(*) AS n,
         min(value) AS min_v, max(value) AS max_v,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(value) AS avg_v,
         round(stddev_samp(value), 4) AS sd_v,
         round(quantile_cont(value, 0.5), 4) AS p50_v
         FROM events GROUP BY event_type ORDER BY event_type""",
    "agg_count_distinct" ->
      """SELECT count(DISTINCT user_id) AS n_users,
         count(DISTINCT (user_id, event_type)) AS n_user_type
         FROM events""",
    "agg_min_max_count" ->
      """SELECT o_orderstatus,
         min(o_totalprice) AS min_price,
         max(o_totalprice) AS max_price,
         count(*) AS n,
         min(o_custkey) AS min_cust, max(o_custkey) AS max_cust
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "agg_histogram" ->
      """SELECT CAST(floor(l_quantity / 10.0) * 10 AS BIGINT) AS qty_bin,
         count(*) AS n FROM lineitem GROUP BY qty_bin ORDER BY qty_bin""",
    "agg_equidepth_hist" ->
      """SELECT bucket, count(*) AS n, min(l_extendedprice) AS lo,
           max(l_extendedprice) AS hi
         FROM (SELECT l_extendedprice,
             ntile(8) OVER (ORDER BY l_extendedprice, l_orderkey,
               l_linenumber) AS bucket
           FROM lineitem)
         GROUP BY bucket ORDER BY bucket""",
    "agg_cube" ->
      """SELECT o_orderstatus, year(o_orderdate) AS o_year,
         count(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY CUBE (o_orderstatus, o_year)
         ORDER BY o_orderstatus NULLS FIRST, o_year NULLS FIRST""",
    "agg_rollup" ->
      """SELECT year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
         count(*) AS n FROM orders GROUP BY ROLLUP (o_year, o_month)
         ORDER BY o_year NULLS FIRST, o_month NULLS FIRST""",
    "agg_wordcount" ->
      """SELECT word, count(*) AS n
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         WHERE word <> '' GROUP BY word ORDER BY n DESC, word LIMIT 20""",
    "agg_grouping_sets" ->
      """SELECT o_orderstatus, year(o_orderdate) AS y, count(*) AS n,
           GROUPING(o_orderstatus) AS g_status,
           GROUPING(year(o_orderdate)) AS g_year
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (year(o_orderdate)), ())
         ORDER BY g_status, g_year, o_orderstatus NULLS FIRST, y NULLS FIRST""",
    "agg_salted_twophase" ->
      """SELECT event_type, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
         FROM events GROUP BY event_type ORDER BY event_type""",
    "agg_heavy_hitters" ->
      """WITH w AS (
           SELECT word FROM (
             SELECT unnest(string_split(text, ' ')) AS word FROM documents)
           WHERE word <> ''),
         thr AS (SELECT count(*) // 30 AS t FROM w)
         SELECT word, count(*) AS n FROM w
         GROUP BY word HAVING count(*) >= (SELECT t FROM thr)
         ORDER BY n DESC, word""",
    "agg_inverted_index" ->
      """SELECT term, count(DISTINCT doc_id) AS df,
         array_to_string(list_sort(list(DISTINCT doc_id))[1:10], ',') AS postings10
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
         WHERE term <> '' GROUP BY term
         ORDER BY term""",
    "agg_benford" ->
      """WITH c AS (SELECT CAST(substr(CAST(x AS VARCHAR), 1, 1) AS INT)
             AS digit, count(*) AS n
           FROM (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS x
                 FROM orders)
           WHERE x > 0 GROUP BY digit),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
         SELECT digit, CAST(n AS BIGINT) AS n,
           (1000 * n) // total AS share_permille,
           CAST(floor(1000.0 * log10(1.0 + 1.0 / digit)) AS BIGINT)
             AS benford_permille
         FROM c, t ORDER BY digit""",
    "agg_gini" ->
      """WITH rev AS (SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
           FROM orders GROUP BY o_custkey),
         nat AS (SELECT c_custkey AS o_custkey, n_name
           FROM customer JOIN nation ON c_nationkey = n_nationkey),
         rk AS (SELECT n_name, x,
             row_number() OVER (PARTITION BY n_name
               ORDER BY x, o_custkey) AS i
           FROM rev JOIN nat USING (o_custkey)),
         g AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_cust,
             CAST(sum(x) AS BIGINT) AS rev_cents,
             sum(CAST(i AS HUGEINT) * x) AS six
           FROM rk GROUP BY n_name)
         SELECT n_name, n_cust, rev_cents,
           CAST(2 * six - CAST(n_cust + 1 AS HUGEINT) * rev_cents AS DOUBLE)
             / CAST(CAST(n_cust AS HUGEINT) * rev_cents AS DOUBLE) AS gini
         FROM g ORDER BY n_name""",
    "agg_overlap_matrix" ->
      """WITH du AS (SELECT DISTINCT user_id, event_type FROM events)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_keys
         FROM du a JOIN du b
           ON a.user_id = b.user_id AND a.event_type <= b.event_type
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "agg_entropy" ->
      """WITH c AS (SELECT source, lang, count(*) AS n
           FROM documents GROUP BY source, lang)
         SELECT source, CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_symbols,
           log2(sum(n)) - sum(CAST(n AS DOUBLE) * log2(n)) / sum(n)
             AS entropy_bits
         FROM c GROUP BY source ORDER BY source""",
    "agg_l_diversity" ->
      """WITH cells AS (SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 2000) AS BIGINT) AS sv,
             CAST(count(*) AS BIGINT) AS n
           FROM customer GROUP BY c_nationkey, c_mktsegment, sv),
         g AS (SELECT c_nationkey, c_mktsegment,
             CAST(sum(n) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS l_distinct,
             CAST(max(n) AS BIGINT) AS top_sv
           FROM cells GROUP BY c_nationkey, c_mktsegment),
         s AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(min(l_distinct) AS BIGINT) AS min_l,
             CAST(sum(CASE WHEN l_distinct < 4 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_groups_below_l,
             CAST(sum(CASE WHEN l_distinct < 4 THEN n ELSE 0 END) AS BIGINT)
               AS rows_at_risk,
             CAST(sum(CASE WHEN top_sv * 10 > n * 9 THEN n ELSE 0 END)
               AS BIGINT) AS rows_homogeneous
           FROM g)
         SELECT n_rows, n_groups, min_l, n_groups_below_l, rows_at_risk,
           (rows_at_risk * 1000) // n_rows AS risk_permille,
           rows_homogeneous
         FROM s""",
    "agg_bootstrap_ci" -> {
      val wCase = (0 to 6).map(k =>
        s"WHEN u < ${poissonCums(k)} THEN $k").mkString(
        "CASE ", " ", " ELSE 7 END")
      s"""WITH base AS (SELECT event_id AS id,
             CAST(floor(value * 1000) AS BIGINT) AS vu
           FROM events WHERE event_type = 'purchase'),
         rep AS (SELECT id, vu, b,
             CAST(((id + 7919) * (2 * b + 1) % 2147483647)
               * 1103515245 % 2147483647 AS DOUBLE) / 2147483647 AS u
           FROM base, unnest(range(1, 201)) AS t(b)),
         means AS (SELECT b,
             CAST(sum(w * vu) AS BIGINT) AS sw,
             CAST(sum(w) AS BIGINT) AS cw
           FROM (SELECT id, vu, b, CAST($wCase AS BIGINT) AS w FROM rep)
           GROUP BY b),
         mm AS (SELECT b,
             CASE WHEN cw = 0 THEN CAST(NULL AS DOUBLE)
             ELSE CAST(sw AS DOUBLE) / CAST(cw AS DOUBLE) / 1000 END AS m
           FROM means),
         ranks AS (SELECT a.b, a.m, CAST(count(*) AS BIGINT) AS r
           FROM mm a JOIN mm c
             ON c.m < a.m OR (c.m = a.m AND c.b <= a.b)
           GROUP BY a.b, a.m),
         lo AS (SELECT m AS ci_lo FROM ranks WHERE r = 5),
         hi AS (SELECT m AS ci_hi FROM ranks WHERE r = 196),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(vu) AS BIGINT) AS sv
           FROM base)
         SELECT n, CAST(200 AS BIGINT) AS b_reps,
           CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) / 1000 AS mean_v,
           ci_lo, ci_hi
         FROM s, lo, hi"""
    },
    "agg_mutual_info" ->
      """WITH b AS (SELECT event_type AS x,
             isodow(CAST(ts AS TIMESTAMP)) AS y
           FROM events),
         cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c
           FROM b GROUP BY x, y),
         cx AS (SELECT x, CAST(sum(c) AS BIGINT) AS ca FROM cells
           GROUP BY x),
         cy AS (SELECT y, CAST(sum(c) AS BIGINT) AS cb FROM cells
           GROUP BY y),
         t AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM cells),
         q AS (SELECT cells.c,
             CAST(floor(ln(CAST(cells.c * t.tt AS DOUBLE)
               / CAST(cx.ca * cy.cb AS DOUBLE)) * 1000000) AS BIGINT)
               AS qln
           FROM cells JOIN cx USING (x) JOIN cy USING (y) CROSS JOIN t)
         SELECT CAST(sum(c) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(CAST(sum(c * qln) AS BIGINT) AS DOUBLE)
             / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / 1000000 AS mi_nats
         FROM q""",
    "agg_ab_bootstrap" -> {
      val wCase = (0 to 6).map(k =>
        s"WHEN u < ${poissonCums(k)} THEN $k").mkString(
        "CASE ", " ", " ELSE 7 END")
      s"""WITH base AS (SELECT event_type AS g, event_id AS id,
             CAST(floor(value * 1000) AS BIGINT) AS vu
           FROM events WHERE event_type IN ('purchase', 'click')),
         rep AS (SELECT g, id, vu, b,
             CAST(((id + 7919) * (2 * b + 1) % 2147483647)
               * 1103515245 % 2147483647 AS DOUBLE) / 2147483647 AS u
           FROM base, unnest(range(1, 201)) AS t(b)),
         means AS (SELECT g, b,
             CAST(sum(w * vu) AS BIGINT) AS sw,
             CAST(sum(w) AS BIGINT) AS cw
           FROM (SELECT g, id, vu, b, CAST($wCase AS BIGINT) AS w FROM rep)
           GROUP BY g, b),
         mm AS (SELECT g, b,
             CASE WHEN cw = 0 THEN CAST(NULL AS DOUBLE)
             ELSE CAST(sw AS DOUBLE) / CAST(cw AS DOUBLE) / 1000 END AS m
           FROM means),
         d AS (SELECT a.b, a.m - c.m AS m
           FROM mm a JOIN mm c ON a.b = c.b
           WHERE a.g = 'purchase' AND c.g = 'click'),
         ranks AS (SELECT a.b, a.m, CAST(count(*) AS BIGINT) AS r
           FROM d a JOIN d c
             ON c.m < a.m OR (c.m = a.m AND c.b <= a.b)
           GROUP BY a.b, a.m),
         lo AS (SELECT m AS ci_lo FROM ranks WHERE r = 5),
         hi AS (SELECT m AS ci_hi FROM ranks WHERE r = 196),
         s AS (SELECT
             CAST(sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN g = 'purchase' THEN vu ELSE 0 END)
               AS BIGINT) AS sa,
             CAST(sum(CASE WHEN g = 'click' THEN vu ELSE 0 END)
               AS BIGINT) AS sb
           FROM base)
         SELECT n_a, n_b,
           CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) / 1000 AS mean_a,
           CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) / 1000 AS mean_b,
           CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) / 1000
             - CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) / 1000 AS uplift,
           ci_lo, ci_hi
         FROM s, lo, hi"""
    },
    "agg_tail_index" ->
      """WITH v AS (SELECT CAST(floor(l_extendedprice * 1000) AS BIGINT)
               AS vu
             FROM lineitem),
         t AS (SELECT vu FROM v WHERE vu > 0 ORDER BY vu DESC LIMIT 201),
         r AS (SELECT min(vu) AS vref FROM t),
         q AS (SELECT CAST(sum(CAST(floor(
               ln(CAST(vu AS DOUBLE) / CAST(vref AS DOUBLE)) * 1000000)
               AS BIGINT)) AS BIGINT) AS qsum
           FROM t, r)
         SELECT CAST(200 AS BIGINT) AS k_tail, vref AS ref_milli,
           CASE WHEN qsum = 0 THEN CAST(NULL AS DOUBLE)
           ELSE CAST(200 AS DOUBLE) / (CAST(qsum AS DOUBLE) / 1000000)
           END AS alpha_hill
         FROM q, r""",
    "agg_trimmed_mean" ->
      """WITH v AS (SELECT CAST(floor(value * 1000) AS BIGINT) AS vu
             FROM events WHERE event_type = 'purchase'),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(vu) AS BIGINT) AS tot FROM v),
         kk AS (SELECT n, tot, n * 100 // 1000 AS k FROM s),
         r AS (SELECT vu, row_number() OVER (ORDER BY vu) AS pos FROM v),
         th AS (SELECT
             max(CASE WHEN pos = k THEN vu END) AS tlo,
             max(CASE WHEN pos = k + 1 THEN vu END) AS tlo1,
             max(CASE WHEN pos = n - k THEN vu END) AS thi,
             max(CASE WHEN pos = n - k + 1 THEN vu END) AS thi1
           FROM r, kk),
         c AS (SELECT
             CAST(sum(CASE WHEN vu < tlo THEN 1 ELSE 0 END) AS BIGINT)
               AS cnt_lo,
             CAST(sum(CASE WHEN vu < tlo THEN vu ELSE 0 END) AS BIGINT)
               AS sum_lo,
             CAST(sum(CASE WHEN vu > thi1 THEN 1 ELSE 0 END) AS BIGINT)
               AS cnt_hi,
             CAST(sum(CASE WHEN vu > thi1 THEN vu ELSE 0 END) AS BIGINT)
               AS sum_hi
           FROM v, th)
         SELECT n, k,
           CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) / 1000 AS mean_v,
           CASE WHEN k = 0
             THEN CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) / 1000
             ELSE CAST(tot - (sum_lo + (k - cnt_lo) * tlo)
                           - (sum_hi + (k - cnt_hi) * thi1) AS DOUBLE)
                  / CAST(n - 2 * k AS DOUBLE) / 1000 END AS trimmed_mean,
           CASE WHEN k = 0
             THEN CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) / 1000
             ELSE CAST(tot - (sum_lo + (k - cnt_lo) * tlo)
                           - (sum_hi + (k - cnt_hi) * thi1)
                           + k * tlo1 + k * thi AS DOUBLE)
                  / CAST(n AS DOUBLE) / 1000 END AS winsorized_mean
         FROM kk, th, c""",
    "agg_spearman" ->
      """WITH base AS (SELECT l_orderkey * 10 + l_linenumber AS rowkey,
             CAST(floor(l_quantity * 1000) AS BIGINT) AS xu,
             CAST(floor(l_extendedprice * 1000) AS BIGINT) AS yu
           FROM lineitem),
         rkx AS (SELECT rowkey, xu,
             CAST(row_number() OVER (ORDER BY xu, rowkey) AS BIGINT) AS r
           FROM base),
         bx AS (SELECT xu, CAST(min(r) + max(r) AS BIGINT) AS rx
           FROM rkx GROUP BY xu),
         px AS (SELECT rowkey, rx FROM rkx JOIN bx USING (xu)),
         rky AS (SELECT rowkey, yu,
             CAST(row_number() OVER (ORDER BY yu, rowkey) AS BIGINT) AS r
           FROM base),
         by_ AS (SELECT yu, CAST(min(r) + max(r) AS BIGINT) AS ry
           FROM rky GROUP BY yu),
         py AS (SELECT rowkey, ry FROM rky JOIN by_ USING (yu)),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rx) AS BIGINT) AS sum_rx,
             CAST(sum(ry) AS BIGINT) AS sum_ry,
             CAST(sum(rx * rx) AS BIGINT) AS sum_rxx,
             CAST(sum(ry * ry) AS BIGINT) AS sum_ryy,
             CAST(sum(rx * ry) AS BIGINT) AS sum_rxy
           FROM px JOIN py USING (rowkey))
         SELECT n, sum_rx, sum_ry, sum_rxx, sum_ryy, sum_rxy,
           CAST(CAST(n AS HUGEINT) * CAST(sum_rxy AS HUGEINT)
             - CAST(sum_rx AS HUGEINT) * CAST(sum_ry AS HUGEINT)
             AS DOUBLE)
           / sqrt(CAST(CAST(n AS HUGEINT) * CAST(sum_rxx AS HUGEINT)
               - CAST(sum_rx AS HUGEINT) * CAST(sum_rx AS HUGEINT)
               AS DOUBLE)
             * CAST(CAST(n AS HUGEINT) * CAST(sum_ryy AS HUGEINT)
               - CAST(sum_ry AS HUGEINT) * CAST(sum_ry AS HUGEINT)
               AS DOUBLE)) AS rho
         FROM m""",
    "agg_kruskal_wallis" ->
      """WITH f AS (SELECT event_type AS g,
             CAST(floor(value * 1000) AS BIGINT) AS vu, event_id AS tie
           FROM events),
         ranked AS (SELECT g, vu,
             CAST(row_number() OVER (ORDER BY vu, tie) AS BIGINT) AS r
           FROM f),
         pv AS (SELECT vu, CAST(min(r) AS BIGINT) AS minr,
             CAST(max(r) AS BIGINT) AS maxr,
             CAST(count(*) AS BIGINT) AS t
           FROM ranked GROUP BY vu),
         pg AS (SELECT vu, g, CAST(count(*) AS BIGINT) AS tg
           FROM ranked GROUP BY vu, g),
         grp AS (SELECT g, CAST(sum(tg) AS BIGINT) AS n_g,
             CAST(sum(tg * (minr + maxr)) AS BIGINT) AS r2_g
           FROM pg JOIN pv USING (vu) GROUP BY g),
         ties AS (SELECT
             CAST(sum(CASE WHEN t > 1 THEN t * t * t - t ELSE 0 END)
               AS BIGINT) AS tie_sum
           FROM pv),
         s AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k,
             list_reduce(CAST(list(
               (CAST(r2_g AS DOUBLE) / 2) * (CAST(r2_g AS DOUBLE) / 2)
                 / CAST(n_g AS DOUBLE) ORDER BY g) AS DOUBLE[]),
               (acc, x) -> acc + x) AS q
           FROM grp),
         h AS (SELECT n, k, tie_sum,
             12 * q / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
               - 3 * CAST(n + 1 AS DOUBLE) AS h_value
           FROM s, ties),
         h2 AS (SELECT n, k, tie_sum, h_value,
             CASE WHEN n < 2 THEN CAST(NULL AS DOUBLE)
             ELSE 1 - CAST(tie_sum AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                  - CAST(n AS DOUBLE)) END AS corr_f
           FROM h)
         SELECT n, k, tie_sum, h_value,
           CASE WHEN corr_f IS NULL OR corr_f = 0 THEN CAST(NULL AS DOUBLE)
           ELSE h_value / corr_f END AS h_corrected
         FROM h2""",
    "agg_mannwhitney" ->
      """WITH f AS (SELECT event_type AS g,
             CAST(floor(value * 1000) AS BIGINT) AS vu, event_id AS tie
           FROM events WHERE event_type IN ('purchase', 'view')),
         ranked AS (SELECT g, vu,
             CAST(row_number() OVER (ORDER BY vu, tie) AS BIGINT) AS r
           FROM f),
         pv AS (SELECT vu, CAST(min(r) AS BIGINT) AS minr,
             CAST(max(r) AS BIGINT) AS maxr,
             CAST(count(*) AS BIGINT) AS t,
             CAST(sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS ta
           FROM ranked GROUP BY vu),
         s AS (SELECT CAST(sum(ta) AS BIGINT) AS n_a,
             CAST(sum(t - ta) AS BIGINT) AS n_b,
             CAST(sum(ta * (minr + maxr)) AS BIGINT) AS r2_a,
             CAST(sum(CASE WHEN t > 1 THEN t * t * t - t ELSE 0 END)
               AS BIGINT) AS tie_sum
           FROM pv),
         s2 AS (SELECT n_a, n_b, r2_a, tie_sum,
             CASE WHEN n_a + n_b < 2 THEN CAST(NULL AS DOUBLE)
             ELSE CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12
               * (CAST(n_a + n_b + 1 AS DOUBLE)
                  - CAST(tie_sum AS DOUBLE)
                    / (CAST(n_a + n_b AS DOUBLE)
                       * CAST(n_a + n_b - 1 AS DOUBLE))) END AS var_u
           FROM s)
         SELECT n_a, n_b, r2_a, tie_sum,
           r2_a - n_a * (n_a + 1) AS u2_a,
           2 * n_a * n_b - (r2_a - n_a * (n_a + 1)) AS u2_b,
           CASE WHEN var_u IS NULL OR var_u = 0 THEN CAST(NULL AS DOUBLE)
           ELSE (CAST(r2_a - n_a * (n_a + 1) AS DOUBLE) / 2
              - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2)
           / sqrt(var_u) END AS z_value
         FROM s2""",
    "agg_t_closeness" ->
      """WITH cells AS (SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 2000) AS BIGINT) AS sv,
             CAST(count(*) AS BIGINT) AS cnt
           FROM customer GROUP BY c_nationkey, c_mktsegment, sv),
         groups AS (SELECT c_nationkey, c_mktsegment,
             CAST(sum(cnt) AS BIGINT) AS ng
           FROM cells GROUP BY c_nationkey, c_mktsegment),
         bands AS (SELECT DISTINCT sv FROM cells),
         popdist AS (SELECT sv, CAST(sum(cnt) AS BIGINT) AS cnt_all
           FROM cells GROUP BY sv),
         tot AS (SELECT CAST(sum(cnt_all) AS BIGINT) AS n_total
           FROM popdist),
         grid AS (SELECT g.c_nationkey, g.c_mktsegment, g.ng, b.sv,
             coalesce(c.cnt, 0) * t.n_total - gl.cnt_all * g.ng AS diff
           FROM groups g CROSS JOIN bands b
           LEFT JOIN cells c ON c.c_nationkey = g.c_nationkey
             AND c.c_mktsegment = g.c_mktsegment AND c.sv = b.sv
           JOIN popdist gl ON gl.sv = b.sv
           CROSS JOIN tot t),
         cum AS (SELECT c_nationkey, c_mktsegment, ng, sv,
             CAST(sum(diff) OVER (PARTITION BY c_nationkey, c_mktsegment
               ORDER BY sv ROWS BETWEEN UNBOUNDED PRECEDING AND
               CURRENT ROW) AS BIGINT) AS cum
           FROM grid),
         tg AS (SELECT c_nationkey, c_mktsegment, ng,
             CAST(sum(abs(cum)) AS BIGINT) AS t_units,
             CAST(count(*) AS BIGINT) AS m
           FROM cum GROUP BY c_nationkey, c_mktsegment, ng)
         SELECT c_nationkey, c_mktsegment, ng AS n_rows, m AS m_bands,
           CASE WHEN m < 2 THEN CAST(NULL AS DOUBLE)
           ELSE CAST(t_units AS DOUBLE)
           / (CAST(ng AS DOUBLE) * CAST(n_total AS DOUBLE))
           / (m - 1) END AS t_value,
           coalesce(CASE WHEN m < 2 THEN CAST(NULL AS DOUBLE)
             ELSE CAST(t_units AS DOUBLE)
             / (CAST(ng AS DOUBLE) * CAST(n_total AS DOUBLE))
             / (m - 1) END > 0.2, false) AS above
         FROM tg CROSS JOIN tot
         ORDER BY t_value DESC NULLS LAST, c_nationkey, c_mktsegment
         LIMIT 15""",
    "agg_k_anonymity" ->
      """WITH g AS (SELECT c_nationkey, c_mktsegment,
             CAST(count(*) AS BIGINT) AS n
           FROM customer GROUP BY c_nationkey, c_mktsegment),
         s AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(min(n) AS BIGINT) AS min_group,
             CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_groups_below_k,
             CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
               AS rows_at_risk
           FROM g)
         SELECT n_rows, n_groups, min_group, n_groups_below_k,
           rows_at_risk, (rows_at_risk * 1000) // n_rows AS risk_permille
         FROM s""",
    "agg_ttest" ->
      """WITH m AS (SELECT event_type AS g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
               AS s1,
             CAST(sum(CAST(floor(value * 1000) AS BIGINT)
               * CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS s2
           FROM events WHERE event_type IN ('purchase', 'view')
           GROUP BY event_type),
         a AS (SELECT n AS n1, s1 AS sa1, s2 AS sa2 FROM m
           WHERE g = 'purchase'),
         b AS (SELECT n AS n2, s1 AS sb1, s2 AS sb2 FROM m
           WHERE g = 'view')
         SELECT n1, n2,
           CAST(sa1 AS DOUBLE) / n1 / 1000 AS mean1,
           CAST(sb1 AS DOUBLE) / n2 / 1000 AS mean2,
           (CAST(sa1 AS DOUBLE) / n1 / 1000
             - CAST(sb1 AS DOUBLE) / n2 / 1000)
           / sqrt(((CAST(sa2 AS DOUBLE) / 1e6
               - (CAST(sa1 AS DOUBLE) / n1 / 1000)
                 * (CAST(sa1 AS DOUBLE) / 1000)) / (n1 - 1)) / n1
             + ((CAST(sb2 AS DOUBLE) / 1e6
               - (CAST(sb1 AS DOUBLE) / n2 / 1000)
                 * (CAST(sb1 AS DOUBLE) / 1000)) / (n2 - 1)) / n2)
           AS t_stat
         FROM a CROSS JOIN b""",
    "agg_chi2" ->
      """WITH cells AS (SELECT lang AS a, source AS b,
             CAST(count(*) AS BIGINT) AS o
           FROM documents GROUP BY a, b),
         ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra
           FROM cells GROUP BY a),
         cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb
           FROM cells GROUP BY b),
         tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
         grid AS (SELECT ra.a, cb.b, ra.ra, cb.cb,
             coalesce(cells.o, 0) AS o
           FROM ra CROSS JOIN cb
           LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b),
         u AS (SELECT g.a, g.b, g.o, tot.n,
             CAST(g.ra * g.cb AS DOUBLE) / tot.n AS e
           FROM grid g CROSS JOIN tot),
         agg AS (SELECT max(n) AS n,
             CAST(count(DISTINCT a) AS BIGINT) AS n_a,
             CAST(count(DISTINCT b) AS BIGINT) AS n_b,
             CAST(sum(CAST(floor((o - e) * (o - e) / e * 1e6) AS BIGINT))
               AS BIGINT) AS chi2_units
           FROM u)
         SELECT n, n_a, n_b, chi2_units,
           sqrt(CAST(chi2_units AS DOUBLE) / 1e6
             / (n * least(n_a - 1, n_b - 1))) AS cramers_v
         FROM agg""",
    "agg_mad_outliers" ->
      """WITH u AS (SELECT event_type, event_id,
             CAST(floor(value * 1e6) AS BIGINT) AS v FROM events),
         med AS (SELECT event_type, v AS med FROM (
             SELECT event_type, v,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY v, event_id) AS r,
               count(*) OVER (PARTITION BY event_type) AS n
             FROM u) WHERE r = (n + 1) // 2),
         dev AS (SELECT u.event_type, u.event_id, abs(u.v - med.med) AS ad,
             med.med
           FROM u JOIN med USING (event_type)),
         mad AS (SELECT event_type, ad AS mad FROM (
             SELECT event_type, ad,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY ad, event_id) AS r,
               count(*) OVER (PARTITION BY event_type) AS n
             FROM dev) WHERE r = (n + 1) // 2)
         SELECT dev.event_type, CAST(count(*) AS BIGINT) AS n,
           max(dev.med) AS med_micro, max(mad.mad) AS mad_micro,
           CAST(sum(CASE WHEN dev.ad * 6745 > mad.mad * 35000
             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           max(dev.ad) AS max_absdev_micro
         FROM dev JOIN mad USING (event_type)
         GROUP BY dev.event_type ORDER BY dev.event_type""")
}
