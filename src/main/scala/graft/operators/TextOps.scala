package graft.operators

import graft.{OpFamily, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (SURVEY.md §2.11):
  * tokenization, language-ID heuristic, quality scoring, fingerprinting,
  * n-gram stats, tf-idf. All pure Column expressions / joins — no UDFs, so
  * the hot path stays codegen'd and the only shuffles are the final
  * aggregations, which partial-aggregate map-side.
  *
  * Scale notes: everything here is per-document narrow work plus keyed
  * aggregation on bounded-cardinality keys (term vocabulary, language
  * codes), so it scales linearly with corpus size. The language-ID lexicon
  * is a broadcast join (the MR replicated-join idiom) — never a shuffle of
  * the corpus against the lexicon.
  */
object TextOps extends OpFamily {

  /** Whitespace tokens of `text` (the corpus is space-separated). */
  private[graft] def toks: Column = split(col("text"), " ")

  /** Word 3-shingles (context windows) of a token array column.
    *
    * The token expression is bound ONCE via a single-element-array lambda
    * (`transform(array(w), wv -> …)`): lambda variables hold evaluated
    * values, so `wv` is materialized before the inner loop. Referencing `w`
    * directly inside the inner lambda would re-evaluate the whole
    * split(text) expression at every element_at — 3 splits per shingle,
    * O(tokens²) per document (jstack-verified hot path).
    */
  private[graft] def shingles3(w: Column): Column = shinglesN(w, 3)

  /** Word n-shingles with the same single-evaluation binding.
    *
    * Docs with fewer than n tokens yield an EMPTY array: without the guard,
    * `sequence(1, size-(n-1))` has end ≤ 0 and Spark generates a DESCENDING
    * sequence (default step −1), so `element_at(wv, 0)` is reached and
    * throws "SQL array indices start at 1".
    */
  private[graft] def shinglesN(w: Column, n: Int): Column =
    element_at(transform(array(w), wv =>
      when(size(wv) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(wv) - (n - 1)), i =>
          concat_ws(" ", (0 until n).map(o => element_at(wv, i + o)): _*)))), 1)

  /** Token statistics: whitespace vs regex tokenization, avg token length. */
  def tokenStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"), col("n_chars"),
        size(toks).as("n_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("n_alpha_tokens"),
        // BPE-ish pre-tokenization: alpha runs | digit runs | single marks
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .as("n_bpe_tokens"),
        ((col("n_chars") - size(toks) + 1).cast("double") / size(toks))
          .as("avg_token_len"))
      .orderBy(col("doc_id"))

  /** Language-ID by stopword-marker density: per-language marker counts as
    * pure array expressions, argmax with deterministic tiebreaks (hits
    * desc, language code asc), 'und' when no marker appears.
    *
    * The lexicon is STATIC (13 words, 5 languages), so it compiles into
    * the row expression instead of being a table at all: one narrow scan,
    * ZERO shuffles (the round-1..3 form exploded every corpus token and
    * shuffled twice; at 100 TB that was a corpus-sized explode for a
    * 13-word lookup). The token array is bound once via the same
    * single-element `transform(array(·))` trick as [[shinglesN]] so
    * split(text) evaluates once, not once per language.
    */
  def langId(s: SparkSession, d: String): DataFrame = {
    val lex: Seq[(String, Seq[String])] = Seq(
      "de" -> Seq("der", "die", "das"),
      "en" -> Seq("the", "a", "of"),
      "es" -> Seq("el", "la", "los"),
      "fr" -> Seq("le", "les", "et"),
      "zh" -> Seq("de"))
    val hits = element_at(transform(array(toks), wv =>
      struct(lex.map { case (lang, words) =>
        size(filter(wv, t => t.isin(words.map(x => x: Any): _*))).as(lang)
      }: _*)), 1)
    // fold in ascending language order, replacing only on STRICTLY more
    // hits — ties keep the earlier language, matching the previous
    // (hits DESC, marker_lang ASC) window order
    val (bestLang, bestHits) = lex.tail.foldLeft(
      (lit(lex.head._1), col("h").getField(lex.head._1))) {
      case ((bl, bh), (lang, _)) =>
        val hl = col("h").getField(lang)
        (when(hl > bh, lit(lang)).otherwise(bl),
          when(hl > bh, hl).otherwise(bh))
    }
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), hits.as("h"))
      .select(col("doc_id"), col("lang"),
        when(bestHits > 0, bestLang).otherwise(lit("und")).as("pred_lang"),
        bestHits.cast("long").as("marker_hits"))
      .orderBy(col("doc_id"))
  }

  /** BPE MERGE LEARNING (Sennrich et al. 2016) — the tokenizer-training
    * step itself, distributed: k rounds of "count adjacent symbol pairs
    * over the word-frequency table, merge the most frequent pair
    * everywhere" (ties break lexicographically, so the merge list is
    * deterministic). The ONE corpus-sized pass builds the (word, count)
    * table; every round after runs on that VOCABULARY-bounded frame —
    * at 100 TB the corpus scan is unchanged and the loop cost is
    * O(vocab · word-length) per round regardless of token volume (the
    * same compression trick as the hourly-grid analytics). Merge
    * application is a per-row left fold (`aggregate`): non-overlapping
    * left-to-right replacement, the standard BPE pass. The argmax pair
    * is an O(1) driver artifact per round (bounded-collect class).
    *
    * Rows-only registered check (the sequential fold is not
    * SQL-expressible in DuckDB's lambda dialect); determinism and the
    * classic hug/pug/pun hand example are pinned in LlmOpsSpec.
    */
  def bpeMerges(s: SparkSession, d: String): DataFrame =
    bpeMergesOn(s, Tables.documents(s, d).select(toks.as("w"))
      .select(explode(col("w")).as("word")), k = 8)

  private[graft] def bpeMergesOn(s: SparkSession, words: DataFrame,
      k: Int): DataFrame = bpeLearnOn(s, words, k)._1

  /** The BPE learning loop, returning BOTH the merge list frame AND the
    * final vocabulary state (s = each distinct word's token list after
    * all merges, cnt = corpus frequency) — the vocab half is what the
    * ENCODE-side [[bpeApplyStats]] joins the corpus against: the fold
    * runs once per DISTINCT word (vocab-bounded), never once per corpus
    * token — the same compression trick as the learning loop itself,
    * and the shape that makes corpus-wide tokenization a hash join at
    * 100 TB.
    */
  private[graft] def bpeLearnOn(s: SparkSession, words: DataFrame,
      k: Int): (DataFrame, DataFrame) = {
    val (m, snaps) = bpeLearnSnapshots(s, words, Seq(k))
    (m, snaps.head._2)
  }

  /** Escape a corpus-derived token for interpolation into a Spark SQL
    * string literal (the merge folds build their CASE chains via
    * expr()): backslash FIRST, then quote — Spark's default lexer
    * treats backslash as the escape character, so a raw `\` in a
    * token would swallow the following character (possibly the
    * closing quote) and silently alter the merge fold (r17 advice),
    * and a raw `'` would close the literal early. Newlines and other
    * control characters are legal inside a Spark string literal and
    * pass through unescaped. Adversarial round-trip property (tokens
    * containing `\`, `'`, `''`, newlines) in LlmOpsSpec.
    *
    * CONFIG DEPENDENCY (r18 advice): this escaping is correct only
    * under the DEFAULT lexer (`spark.sql.parser.escapedStringLiterals
    * = false`). Under the legacy config backslash is a literal
    * character, so the doubled `\\` here would itself mis-parse. No
    * graft session sets the legacy flag; a deployment that does must
    * swap this for the legacy spelling (quote-doubling only).
    */
  private[graft] def sqlLit(x: String): String =
    x.replace("\\", "\\\\").replace("'", "\\'")

  /** Per driver round-trip the learner collects the top [[BpeBatchM]]
    * pair counts and applies up to [[BpeBatchCap]] merges from them
    * (the batch-acceptance proof at [[bpeAcceptBatch]]); `batchCap = 1`
    * degenerates to the classic one-merge-per-round loop, kept as the
    * reference arm of the equivalence property in LlmOpsSpec.
    */
  private[graft] val BpeBatchM = 64
  private[graft] val BpeBatchCap = 16

  /** Driver round-trips taken by [[bpeLearnSnapshots]] process-wide —
    * read (as a delta) by graft.BpeAudit so the batching win is
    * reported as rounds-per-merge, not inferred from wall clock. */
  private[graft] val bpeRoundTrips = new java.util.concurrent.atomic.AtomicLong(0)

  /** BATCH ACCEPTANCE — which prefix of this round's rank-ordered pair
    * counts (n desc, pa, pb — the sequential tie-break) may be applied
    * in ONE pass while staying BIT-IDENTICAL to the one-merge-per-round
    * learn. `rows` are the top-M pairs; `nCut` is the count at the
    * collect horizon (pairs beyond the list are ≤ it; 0 when the list
    * is complete). Greedy over the prefix, stopping at the first
    * rejection, accept p = (pa, pb, n) iff:
    *
    *   1. PREFIX: every higher-ranked pair is already accepted — a
    *      skipped one would be the true argmax of p's round;
    *   2. DISJOINT: p shares no symbol with any accepted pair, so
    *      applying them cannot create or destroy occurrences of p
    *      (adjacency overlap requires a shared symbol) — p's count at
    *      its sequential round equals n;
    *   3. CREATED-PAIR SAFETY: merging an accepted (a, b) into symbol
    *      ab creates pairs (ab, x) / (x, ab) whose counts are bounded
    *      by their parents' OLD counts n(b, x) / n(x, a). Require
    *      n > nCut (off-list parents can't reach p's rank) and
    *      strictly n(r) < n for every LISTED pair r of parent form
    *      (b, ·) or (·, a) — strict, because a created pair TYING n
    *      could still win the lexicographic tie-break. A listed parent
    *      ranked above p can't be accepted (it shares a symbol with
    *      its accepted child — rejected by 2, which stops the batch
    *      before p), so the scan is what enforces this.
    *
    * The first pair is always accepted — it is the exact argmax — so a
    * round never applies fewer merges than the classic loop. Destroyed
    * pairs only lose count and pairs ranked below p stay below it;
    * self-pairs like (a, a) are their own created-pair parent, so rule
    * 3 ends the batch right after them — conservative, never wrong.
    */
  private[graft] def bpeAcceptBatch(rows: Seq[(String, String, Long)],
      nCut: Long, cap: Int): Seq[(String, String, Long)] = {
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val touched = scala.collection.mutable.Set.empty[String]
    var stop = false
    for (p @ (pa, pb, n) <- rows if !stop && acc.size < cap) {
      val disjoint = !touched(pa) && !touched(pb)
      val createdSafe = n > nCut && rows.forall { case (ra, rb, rn) =>
        rn < n || !acc.exists { case (aa, ab, _) => ra == ab || rb == aa }
      }
      if (acc.isEmpty || (disjoint && createdSafe)) {
        acc += p; touched += pa; touched += pb
      } else stop = true
    }
    acc.toSeq
  }

  /** The BPE learning loop with VOCAB-STATE SNAPSHOTS: run to max(ks)
    * merges (or pair exhaustion, whichever first), returning the merge
    * list plus the vocabulary state after each k ∈ ks merges. Merge
    * lists are NESTED — the first j merges of a k-merge learn ARE the
    * j-merge learn (each round's argmax depends only on the rounds
    * before it), so one loop serves every prefix; LlmOpsSpec pins that
    * prefix-consistency contract. Past exhaustion the vocabulary is a
    * fixpoint, so larger ks snapshot the final state — exactly what the
    * oracle's idled merge rounds replay. Per-round cost is
    * O(vocab · word-length) regardless of corpus size (the vocab-join
    * design); graft.BpeAudit measures that wall per k.
    *
    * Large-k driver economics (r16 verdict #3): each round-trip
    * collects the top [[BpeBatchM]] counts and applies every merge
    * [[bpeAcceptBatch]] PROVES sequential-identical (up to `batchCap`,
    * one chained fold + one checkpoint for the whole batch), so a
    * k = 1024 learn costs ~k/batch driver jobs instead of k. Batches
    * never cross a requested snapshot boundary, so every ks state is
    * exactly the after-k vocabulary.
    */
  private[graft] def bpeLearnSnapshots(s: SparkSession, words: DataFrame,
      ks: Seq[Int], batchCap: Int = BpeBatchCap)
      : (DataFrame, Seq[(Int, DataFrame)]) = {
    require(ks.nonEmpty && ks == ks.sorted && ks.distinct == ks
      && ks.head >= 1, s"snapshot grid must be ascending, >= 1: $ks")
    require(batchCap >= 1, s"batchCap must be >= 1: $batchCap")
    import s.implicits._
    def sq(x: String) = sqlLit(x)
    // the one corpus-sized pass: everything after runs on the vocab table.
    // Empty words (consecutive/trailing spaces under a plain-space split)
    // would decompose via sequence(1, 0) — which DESCENDS — to ["", ""],
    // pass the pair filter, and inject bogus ("","") counts that can
    // steal a merge rank; drop them here.
    var vocab = words.filter(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("s", expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
      .select(col("s"), col("cnt"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    val snaps = Seq.newBuilder[(Int, DataFrame)]
    var applied = 0
    var done = false
    while (applied < ks.max && !done) {
      bpeRoundTrips.incrementAndGet()
      val top = vocab
        // 1-token words carry no pairs — and sequence(1, 0) would count
        // DOWN (Spark's reverse-sequence default), indexing off the array
        .filter(size(col("s")) >= 2)
        .select(explode(expr("""transform(sequence(1, size(s) - 1),
            i -> struct(element_at(s, i) AS pa,
              element_at(s, i + 1) AS pb))""")).as("p"), col("cnt"))
        .groupBy(col("p.pa"), col("p.pb"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(desc("n"), col("pa"), col("pb"))
        .limit(BpeBatchM).collect() // bounded driver artifact per round
      if (top.isEmpty) done = true
      else {
        val rows = top.toSeq.map(r =>
          (r.getString(0), r.getString(1), r.getLong(2)))
        // a shorter-than-M list is COMPLETE: no off-list pair exists
        val nCut = if (rows.size < BpeBatchM) 0L else rows.last._3
        // batches never straddle a snapshot point
        val room = ks.find(_ > applied).get - applied
        val batch = bpeAcceptBatch(rows, nCut, math.min(batchCap, room))
        batch.foreach { case (pa, pb, n) =>
          applied += 1
          merges += ((applied, pa, pb, n))
        }
        vocab = batch.foldLeft(vocab) { case (df, (pa, pb, _)) =>
          df.withColumn("s", expr(
            s"""aggregate(s, CAST(array() AS ARRAY<STRING>),
               (acc, x) -> CASE WHEN size(acc) > 0
                   AND element_at(acc, -1) = '${sq(pa)}'
                   AND x = '${sq(pb)}'
                 THEN concat(slice(acc, 1, size(acc) - 1),
                   array('${sq(pa)}${sq(pb)}'))
                 ELSE concat(acc, array(x)) END)"""))
        }.localCheckpoint() // vocab-bounded; one checkpoint per BATCH
        if (ks.contains(applied)) snaps += ((applied, vocab))
      }
    }
    // exhausted before a requested k: that k's state IS the fixpoint
    ks.filter(_ > applied).foreach(kk => snaps += ((kk, vocab)))
    (merges.result()
      .toDF("merge_rank", "left", "right", "pair_count")
      .orderBy(col("merge_rank")), snaps.result())
  }

  /** Apply a learned merge list ([[bpeMergesOn]]'s output order) to a
    * text column: every whitespace word decomposes to characters and
    * each merge replays left-to-right in rank order — the ENCODE side
    * of the tokenizer, row-local (merges ride the plan as literals; no
    * shuffle at all). Adds `bpe_tokens` (array) and `n_bpe_tokens`.
    */
  private[graft] def bpeApplyOn(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    def sq(x: String) = sqlLit(x)
    // filter(length >= 1): an empty word (repeated/trailing spaces) would
    // decompose via descending sequence(1, 0) to ["", ""] and inflate
    // n_bpe_tokens by two phantom tokens — mirror of the vocab-side guard
    val chars = docs.withColumn("bpe_tokens", expr(
      s"""transform(filter(split($textCol, ' '), w -> length(w) >= 1),
         w -> transform(sequence(1, length(w)), i -> substring(w, i, 1)))"""))
    val merged = merges.foldLeft(chars) { case (df, (pa, pb)) =>
      df.withColumn("bpe_tokens", expr(
        s"""transform(bpe_tokens, seq ->
           aggregate(seq, CAST(array() AS ARRAY<STRING>),
             (acc, x) -> CASE WHEN size(acc) > 0
                 AND element_at(acc, -1) = '${sq(pa)}'
                 AND x = '${sq(pb)}'
               THEN concat(slice(acc, 1, size(acc) - 1),
                 array('${sq(pa)}${sq(pb)}'))
               ELSE concat(acc, array(x)) END))"""))
    }
    merged.withColumn("bpe_tokens", flatten(col("bpe_tokens")))
      .withColumn("n_bpe_tokens", size(col("bpe_tokens")))
  }

  /** BPE END-TO-END TOKENIZATION STATS — the single most common
    * LLM-pipeline operation, registered as one query: learn the 8-merge
    * table from the corpus ([[bpeLearnOn]]), tokenize EVERY document
    * with it, and report per-lang (n_docs, n_words, n_chars,
    * n_bpe_tokens, compression_permille). Engine shape — the 100 TB
    * design, not the row-local fold: the merge fold runs once per
    * DISTINCT word (the final learning-loop vocab state IS the word →
    * token-list map), and the corpus pass is explode + one broadcast
    * hash join against that lexicon — tokenizing 10¹² tokens costs a
    * scan + a map-side join, with the fold cost fixed at
    * O(vocab·|word|·k) regardless of corpus size.
    * [[bpeApplyOn]] (the row-local encode) is property-pinned equal to
    * this vocab-join path in LlmOpsSpec, so both tokenizer surfaces
    * share one correctness gate. Fully oracle-checked: DuckDB replays
    * the 8 learning rounds AND the greedy non-overlapping left-to-right
    * merge application via run-parity windows (consecutive match runs
    * keep even offsets — overlap exists only for self-pairs like
    * ('a','a') on 'aaa'), validated against an independent reference
    * implementation before landing. Docs with zero words (empty text)
    * drop — the join-semantics contract, mirrored in the oracle.
    */
  def bpeApplyStats(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val words = docs.select(toks.as("w"))
      .select(explode(col("w")).as("word"))
    val (_, vocab) = bpeLearnOn(s, words, k = 8)
    val lex = vocab.select(concat_ws("", col("s")).as("word"),
      size(col("s")).cast("long").as("n_tok"))
    docs.select(col("doc_id"), col("lang"), explode(expr(
        "filter(split(text, ' '), w -> length(w) >= 1)")).as("word"))
      .join(broadcast(lex), Seq("word"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum(col("n_tok")).as("n_bpe_tokens"))
      .withColumn("compression_permille",
        expr("n_bpe_tokens * 1000 div n_chars"))
      .orderBy(col("lang"))
  }

  /** BPE HOLDOUT GENERALIZATION REPORT — the tokenizer-eval instrument
    * [[bpeApplyStats]] cannot be (its vocab is closed over the corpus it
    * learned from): merges learn on the EVEN doc_ids and tokenize the
    * ODD docs, so unseen words exist and the merge table must
    * GENERALIZE — BPE's defining property. Unseen words are NOT
    * char-fallback'd: the learned merges apply to them exactly as a
    * real tokenizer would (the transfer-apply fold runs on the
    * holdout's DISTINCT-word vocab — still corpus-size-independent).
    * Per-lang: (n_docs, n_words, n_unseen_words, n_chars,
    * n_bpe_tokens, oov_permille, compression_permille) — oov tells you
    * whether the train split covers the lang's lexicon; holdout
    * compression vs [[bpeApplyStats]]' in-sample compression is the
    * generalization gap. Fully oracle-checked: DuckDB replays the 8
    * learning rounds on the train vocab AND 8 transfer-apply rounds on
    * the holdout vocab (the same run-parity machinery, merge source
    * swapped to the train side).
    */
  def bpeHoldout(s: SparkSession, d: String): DataFrame =
    bpeHoldoutOn(s, Tables.documents(s, d))

  /** The split/learn/transfer-apply core over any (doc_id, lang, text)
    * frame — even ids train, odd ids hold out. */
  private[graft] def bpeHoldoutOn(s: SparkSession,
      docs: DataFrame): DataFrame = {
    val holdout = docs.filter(col("doc_id") % 2 === 1)
    val (mergesDf, trainVocab) = bpeLearnOn(s,
      docs.filter(col("doc_id") % 2 === 0)
        .select(toks.as("w")).select(explode(col("w")).as("word")), k = 8)
    // the k-row merge table is a bounded driver artifact (k = 8)
    val merges = mergesDf.collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val hlex = bpeApplyOn(
      holdout.select(explode(expr(
          "filter(split(text, ' '), w -> length(w) >= 1)")).as("word"))
        .distinct(), "word", merges)
      .select(col("word"), col("n_bpe_tokens").cast("long").as("n_tok"))
    val tseen = trainVocab
      .select(concat_ws("", col("s")).as("word"), lit(1).as("seen"))
    holdout.select(col("doc_id"), col("lang"), explode(expr(
        "filter(split(text, ' '), w -> length(w) >= 1)")).as("word"))
      .join(broadcast(hlex), Seq("word"))
      .join(broadcast(tseen), Seq("word"), "left")
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        coalesce(sum(when(col("seen").isNull, 1L)), lit(0L))
          .as("n_unseen_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum(col("n_tok")).as("n_bpe_tokens"))
      .withColumn("oov_permille",
        expr("n_unseen_words * 1000 div n_words"))
      .withColumn("compression_permille",
        expr("n_bpe_tokens * 1000 div n_chars"))
      .orderBy(col("lang"))
  }

  /** The merge-count grid [[bpeKReport]] sweeps: brackets the
    * registered k = 8 fixture constant up to 64 — every prefix of ONE
    * 64-merge learn (merge nesting), so the whole sweep costs one loop.
    */
  private[graft] val BpeSweepKs = Seq(8, 16, 32, 64)

  /** Distinct word ids of the registered open-vocabulary corpus
    * ([[openVocabWords]]) — sized so the 64-round DuckDB replay stays
    * cheap; graft.BpeAudit runs the SAME generator at 50k+ words for
    * the k ∈ {256, 1024} BASELINE rows. */
  private[graft] val OpenVocabWordsN = 4000

  /** The generator's hash: the epoch-shuffle split-multiply chain
    * (IoOps.epochShuffle) PLUS a squaring round — the affine chain
    * alone makes h(j,p) − h(j',p) constant in p (f(x) = x·48271 mod M
    * is linear), so syllable sequences of different ids would be
    * mod-40 shifts of each other and 4000 ids collapsed to 220 words;
    * squaring x first breaks the linearity (measured: 3540/4000 and
    * 19579/50000 distinct — birthday-level only). Wrap-safe: x < 2³¹
    * so x² < 2⁶², and every intermediate is spelled IDENTICALLY in
    * the Spark expression and the DuckDB oracle so each word and
    * count replays bit-for-bit. */
  private def ovHash(p: String): String = {
    val x = s"(j * 2654435761 + $p * 40503) % 2147483647"
    s"(($x) * ($x) % 2147483647) * 48271 % 2147483647"
  }

  /** OPEN-VOCABULARY SYNTHETIC CORPUS — the fixture the closed
    * documents vocabulary cannot be (r17 verdict #2: its pairs exhaust
    * at 89 merges at every SF, so large-k BPE runs were ceilings, not
    * measurements): `n` deterministic consonant-vowel syllable words —
    * word j has 3..6 syllables drawn from an 8×5 = 40-syllable
    * inventory by the hash chain above, occurring 1..8 times — so
    * adjacent-symbol diversity (chars → CV units → syllable n-grams)
    * sustains THOUSANDS of productive merges. One row per occurrence
    * (the [[bpeLearnSnapshots]] input shape); pure function of `n`,
    * no randomness, no fixture dependence.
    */
  private[graft] def openVocabWords(s: SparkSession, n: Int): DataFrame =
    s.range(n).toDF("j").selectExpr(
      s"""explode(array_repeat(
           concat_ws('', transform(
             sequence(1, 3 + CAST(${ovHash("0")} % 4 AS INT)),
             p -> concat(
               substring('bdfgklmn',
                 CAST((${ovHash("p")}) % 40 DIV 5 AS INT) + 1, 1),
               substring('aeiou',
                 CAST((${ovHash("p")}) % 40 % 5 AS INT) + 1, 1)))),
           1 + CAST(${ovHash("7")} % 8 AS INT))) AS word""")

  /** BPE k-SWEEP REPORT — the tokenizer-sizing instrument: one
    * 64-merge learn ([[bpeLearnSnapshots]]), read back at every
    * k ∈ [[BpeSweepKs]] prefix: (k, vocab_words, n_tokens, n_chars,
    * compression_permille). Reading it: compression vs k is the
    * marginal value of each merge-budget doubling on THIS corpus — a
    * real tokenizer rollout picks the k where the curve flattens
    * against its vocab-size budget. Merge nesting means the k = 8
    * prefix is bit-identical to the registered text_bpe_apply learn,
    * and the snapshots are integer aggregates of the SAME vocab states
    * — no re-learn per k (the landmark-sweep/threshold-report shape).
    * The 4-row report is a content-addressed build-once artifact
    * (graft_lex family): the 64-round learn loop runs once per corpus
    * version, and its wall cost — per-round vocab-bounded, independent
    * of corpus size — is measured per k by graft.BpeAudit. Fully
    * oracle-checked: DuckDB replays all 64 learning rounds (the same
    * run-parity machinery as text_bpe_apply, ~4 s — rounds idle once
    * pairs exhaust, mirroring the engine's fixpoint snapshots).
    */
  def bpeKReport(s: SparkSession, d: String): DataFrame =
    ArtifactCache.readOrBuild(s,
      ArtifactCache.dir(s, d, "documents", "graft_lex", "bpe_k_sweep@r1")) {
      val words = Tables.documents(s, d).select(toks.as("w"))
        .select(explode(col("w")).as("word"))
      sweepRows(bpeLearnSnapshots(s, words, BpeSweepKs)._2)
    }.orderBy(col("k"))

  /** The per-snapshot integer aggregates of a k-sweep — shared by the
    * closed-corpus [[bpeKReport]] and the open-vocabulary
    * [[bpeOpenReport]]. */
  private def sweepRows(snaps: Seq[(Int, DataFrame)]): DataFrame =
    snaps.map { case (k, v) =>
      v.agg(count(lit(1)).as("vocab_words"),
        sum(col("cnt") * size(col("s"))).as("n_tokens"),
        sum(col("cnt") * length(concat_ws("", col("s"))))
          .as("n_chars"))
        .select(lit(k).cast("long").as("k"), col("vocab_words"),
          col("n_tokens"), col("n_chars"),
          expr("n_tokens * 1000 DIV n_chars")
            .as("compression_permille"))
    }.reduce(_ unionByName _)

  /** OPEN-VOCABULARY BPE k-SWEEP — [[bpeKReport]]'s machinery on the
    * [[openVocabWords]] corpus, where merges do NOT exhaust: the
    * closed fixture vocabulary runs dry at 89 merges at every SF, so
    * only this corpus exercises the batched learner through a full
    * sweep with real merges at every k (the k ∈ {256, 1024} economics
    * ride in BASELINE.md via graft.BpeAudit over the same generator at
    * 50k words; non-exhaustion at k = 64 is spec-pinned — every
    * snapshot row here keeps strictly compressing). Build-once
    * artifact; fully oracle-checked — DuckDB re-generates the corpus
    * from the same hash chain and replays all 64 learning rounds.
    */
  def bpeOpenReport(s: SparkSession, d: String): DataFrame =
    ArtifactCache.readOrBuild(s,
      ArtifactCache.dir(s, d, "documents", "graft_lex",
        "bpe_open_sweep@r2")) {
      sweepRows(bpeLearnSnapshots(s,
        openVocabWords(s, OpenVocabWordsN), BpeSweepKs)._2)
    }.orderBy(col("k"))

  /** DuckDB replay of [[bpeOpenReport]]: the generator's hash chain
    * re-spelled in DuckDB dialect (`//` for DIV, range's exclusive end
    * for sequence's inclusive one — any drift between the two spellings
    * hash-fails the differential immediately), grouped to the v0 vocab
    * (colliding words sum their counts, mirroring the engine's
    * groupBy), then the same 64 learning rounds as the closed sweep.
    */
  private[graft] def bpeOpenReportOracleSql: String = {
    def h(p: String) = {
      val x = s"(j * 2654435761 + $p * 40503) % 2147483647"
      s"(($x) * ($x) % 2147483647) * 48271 % 2147483647"
    }
    SimOps.materializeCtes(
      s"""WITH gen AS (SELECT
             array_to_string(list_transform(
               range(1, 4 + (${h("0")}) % 4),
               p -> substring('bdfgklmn',
                   CAST((${h("p")}) % 40 // 5 AS INT) + 1, 1)
                 || substring('aeiou',
                   CAST((${h("p")}) % 40 % 5 AS INT) + 1, 1)), '')
               AS word,
             1 + (${h("7")}) % 8 AS cnt
           FROM range($OpenVocabWordsN) AS t(j)),
         v0 AS (SELECT word AS w, CAST(sum(cnt) AS BIGINT) AS cnt,
             list_transform(range(1, length(word) + 1), i -> word[i]) AS s
           FROM gen GROUP BY word),
         ${(1 to BpeSweepKs.max).map(bpeRoundCte).mkString(",\n       ")},
         snaps AS (${BpeSweepKs.map(k =>
          s"""SELECT CAST($k AS BIGINT) AS k,
             CAST(count(*) AS BIGINT) AS vocab_words,
             CAST(sum(cnt * len(s)) AS BIGINT) AS n_tokens,
             CAST(sum(cnt * length(w)) AS BIGINT) AS n_chars FROM v$k""")
        .mkString("\n           UNION ALL ")})
         SELECT k, vocab_words, n_tokens, n_chars,
           n_tokens * 1000 // n_chars AS compression_permille
         FROM snaps ORDER BY k""")
  }

  private[graft] def bpeKReportOracleSql: String = SimOps.materializeCtes(
    s"""WITH v0 AS (SELECT word AS w, CAST(count(*) AS BIGINT) AS cnt,
           list_transform(range(1, length(word) + 1), i -> word[i]) AS s
         FROM (SELECT unnest(string_split(text, ' ')) AS word
               FROM documents)
         WHERE length(word) >= 1 GROUP BY word),
       ${(1 to BpeSweepKs.max).map(bpeRoundCte).mkString(",\n       ")},
       snaps AS (${BpeSweepKs.map(k =>
        s"""SELECT CAST($k AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS vocab_words,
           CAST(sum(cnt * len(s)) AS BIGINT) AS n_tokens,
           CAST(sum(cnt * length(w)) AS BIGINT) AS n_chars FROM v$k""")
      .mkString("\n         UNION ALL ")})
       SELECT k, vocab_words, n_tokens, n_chars,
         n_tokens * 1000 // n_chars AS compression_permille
       FROM snaps ORDER BY k""")

  /** One BPE learning round as DuckDB CTEs (the [[bpeApplyStats]]
    * replay): pair counts over the vocab state, the (n DESC, pa, pb)
    * argmax, match positions, run-parity greedy selection (within each
    * consecutive run of match positions keep even offsets — exactly the
    * left-to-right non-overlapping fold), list rebuild. All chained
    * CTEs get AS MATERIALIZED by the caller — 8 rounds × 3 back-refs
    * would otherwise inline 3⁸ plan copies (the r13 lesson).
    */
  /** Apply ONE fixed merge (the 1-row CTE `mg`) to every word of vocab
    * state `prev` → state `next`: match positions, run-parity greedy
    * selection, list rebuild. Shared by the learning rounds (mg = the
    * round's own argmax) and the holdout TRANSFER-apply rounds (mg =
    * the train-side merge — BPE's generalization to unseen words).
    */
  private def bpeApplyCte(prev: String, next: String, mg: String): String =
    s"""m_$next AS (SELECT v.w, t.i AS p
         FROM $prev v, unnest(range(1, len(v.s))) AS t(i), $mg g
         WHERE v.s[i] = g.pa AND v.s[i + 1] = g.pb),
       k_$next AS (SELECT w, p FROM (
           SELECT w, p, min(p) OVER (PARTITION BY w, g) AS rs
           FROM (SELECT w, p, p - row_number()
               OVER (PARTITION BY w ORDER BY p) AS g FROM m_$next))
         WHERE (p - rs) % 2 = 0),
       $next AS (SELECT x.w, any_value(x.cnt) AS cnt,
           list(CASE WHEN k.p IS NOT NULL THEN x.sym || x.nxt
                ELSE x.sym END ORDER BY x.q) AS s
         FROM (SELECT v.w, v.cnt, t.i AS q, v.s[i] AS sym,
                 v.s[i + 1] AS nxt
               FROM $prev v, unnest(range(1, len(v.s) + 1)) AS t(i)) x
         LEFT JOIN k_$next k ON k.w = x.w AND k.p = x.q
         LEFT JOIN k_$next kp ON kp.w = x.w AND kp.p = x.q - 1
         WHERE kp.p IS NULL
         GROUP BY x.w)"""

  private def bpeRoundCte(r: Int): String = {
    val p = s"v${r - 1}"
    s"""pc$r AS (SELECT s[i] AS pa, s[i + 1] AS pb,
           CAST(sum(cnt) AS BIGINT) AS n
         FROM $p, unnest(range(1, len(s))) AS t(i)
         WHERE len(s) >= 2 GROUP BY pa, pb),
       mg$r AS (SELECT pa, pb FROM pc$r ORDER BY n DESC, pa, pb LIMIT 1),
       ${bpeApplyCte(p, s"v$r", s"mg$r")}"""
  }

  private[graft] def bpeApplyOracleSql: String = SimOps.materializeCtes(
    s"""WITH v0 AS (SELECT word AS w, CAST(count(*) AS BIGINT) AS cnt,
           list_transform(range(1, length(word) + 1), i -> word[i]) AS s
         FROM (SELECT unnest(string_split(text, ' ')) AS word
               FROM documents)
         WHERE length(word) >= 1 GROUP BY word),
       ${(1 to 8).map(bpeRoundCte).mkString(",\n       ")},
       lex AS (SELECT w AS word, CAST(len(s) AS BIGINT) AS n_tok FROM v8),
       dw AS (SELECT d.doc_id, d.lang, t.word
         FROM documents d, unnest(string_split(d.text, ' ')) AS t(word)
         WHERE length(t.word) >= 1),
       agg AS (SELECT dw.lang,
           CAST(count(DISTINCT dw.doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(length(dw.word)) AS BIGINT) AS n_chars,
           CAST(sum(l.n_tok) AS BIGINT) AS n_bpe_tokens
         FROM dw JOIN lex l ON l.word = dw.word GROUP BY dw.lang)
       SELECT lang, n_docs, n_words, n_chars, n_bpe_tokens,
         n_bpe_tokens * 1000 // n_chars AS compression_permille
       FROM agg ORDER BY lang""")

  private[graft] def bpeHoldoutOracleSql: String = SimOps.materializeCtes(
    s"""WITH v0 AS (SELECT word AS w, CAST(count(*) AS BIGINT) AS cnt,
           list_transform(range(1, length(word) + 1), i -> word[i]) AS s
         FROM (SELECT unnest(string_split(text, ' ')) AS word
               FROM documents WHERE doc_id % 2 = 0)
         WHERE length(word) >= 1 GROUP BY word),
       ${(1 to 8).map(bpeRoundCte).mkString(",\n       ")},
       h0 AS (SELECT word AS w, CAST(1 AS BIGINT) AS cnt,
           list_transform(range(1, length(word) + 1), i -> word[i]) AS s
         FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS word
               FROM documents WHERE doc_id % 2 = 1)
         WHERE length(word) >= 1),
       ${(1 to 8).map(r => bpeApplyCte(s"h${r - 1}", s"h$r", s"mg$r"))
        .mkString(",\n       ")},
       hlex AS (SELECT w AS word, CAST(len(s) AS BIGINT) AS n_tok FROM h8),
       tseen AS (SELECT w AS word FROM v8),
       dw AS (SELECT d.doc_id, d.lang, t.word
         FROM documents d, unnest(string_split(d.text, ' ')) AS t(word)
         WHERE d.doc_id % 2 = 1 AND length(t.word) >= 1),
       agg AS (SELECT dw.lang,
           CAST(count(DISTINCT dw.doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(coalesce(sum(CASE WHEN ts.word IS NULL THEN 1 END), 0)
             AS BIGINT) AS n_unseen_words,
           CAST(sum(length(dw.word)) AS BIGINT) AS n_chars,
           CAST(sum(h.n_tok) AS BIGINT) AS n_bpe_tokens
         FROM dw JOIN hlex h ON h.word = dw.word
         LEFT JOIN tseen ts ON ts.word = dw.word
         GROUP BY dw.lang)
       SELECT lang, n_docs, n_words, n_unseen_words, n_chars,
         n_bpe_tokens, n_unseen_words * 1000 // n_words AS oov_permille,
         n_bpe_tokens * 1000 // n_chars AS compression_permille
       FROM agg ORDER BY lang""")

  /** LANGUAGE-ID CONFUSION MATRIX — [[langId]] evaluated against the
    * corpus's own lang column (the text twin of
    * [[SimOps.centroidClassify]]): (lang, pred_lang, n). Diagonal mass
    * = the heuristic works on this corpus; a hot off-diagonal cell says
    * which marker lexicon needs words. Same per-doc scoring, one extra
    * bounded rollup.
    */
  def langIdConfusion(s: SparkSession, d: String): DataFrame =
    langId(s, d)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))

  /** Quality scoring: lexical-diversity + stopword-density + length-derived
    * features combined into one deterministic double score.
    */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in")
    val isStop = (w: Column) => w.isin(stop.map(x => x: Any): _*)
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), toks.as("w"))
      .select(
        col("doc_id"), col("n_chars"),
        size(col("w")).as("n_tokens"),
        size(array_distinct(col("w"))).as("n_distinct"),
        size(filter(col("w"), isStop)).as("n_stop"))
      .select(
        col("doc_id"), col("n_tokens"),
        (col("n_distinct").cast("double") / col("n_tokens"))
          .as("type_token_ratio"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stopword_ratio"),
        (col("n_chars").cast("double") / col("n_tokens")).as("chars_per_token"))
      .withColumn("quality",
        col("type_token_ratio") * 2.0 + col("stopword_ratio") * 1.0 +
          col("chars_per_token") * 0.1)
      .orderBy(col("doc_id"))
  }

  /** Whitespace-normalized text: lower-cased, trimmed, runs of spaces
    * collapsed to one — the content key of every exact-dedup fingerprint.
    * The oracle SQL spells the same expression out in DuckDB dialect.
    */
  private[graft] def normalizedText(text: Column): Column =
    regexp_replace(trim(lower(text)), " +", " ")

  /** Content fingerprints of whitespace-normalized text: md5 plus a 64-bit
    * hex fingerprint (sha256 prefix) — the join key for exact dedup at scale.
    */
  def fingerprint(s: SparkSession, d: String): DataFrame = {
    val normalized = normalizedText(col("text"))
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        md5(normalized).as("fp_md5"),
        substring(sha2(normalized, 256), 1, 16).as("fp64"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-wide top-20 word trigrams (n-gram statistics). */
  def ngramTop(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(shingles3(toks)).as("trigram"))
      .groupBy(col("trigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("trigram"))
      .limit(20)

  /** tf-idf: top-3 terms per document (docs 0–49) with idf = ln(N/df).
    * Two bounded aggregations (term df over a 31-word vocabulary; per-doc tf)
    * joined, then a WindowGroupLimit rank filter.
    */
  def tfidfTop(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nDf = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val terms = docs.select(col("doc_id"), explode(toks).as("term"))
    val df_ = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tf = terms.filter(col("doc_id") < 50)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("tfidf"), col("term"))
    tf.join(broadcast(df_), "term")
      .crossJoin(broadcast(nDf))
      .withColumn("tfidf", col("tf") * log(col("n_docs") / col("df")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("term"), col("tfidf"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** Okapi BM25 (k1=1.2, b=0.75): top-3 terms per probed document — the
    * ranking function real retrieval stacks use where [[tfidfTop]] is the
    * textbook baseline. Same two-shuffle inverted-index shape (bounded df
    * and per-doc tf aggregates), plus one doc-length table; the three
    * one-row frames (N, total tokens) broadcast. Every float input is a
    * count, and the score expression is spelled identically in the DuckDB
    * oracle (same association order), so ranks replay exactly; the only
    * libm call is one ln per (term, doc), ulp-tolerated by the harness.
    * avgdl arrives as dl·N/Σtok (all integers < 2^53 — exact) rather
    * than a precomputed float average, keeping every division a single
    * rounding on both engines.
    */
  def bm25Top(s: SparkSession, d: String): DataFrame =
    bm25On(Tables.documents(s, d), col("doc_id") < 50, k = 3)
      .orderBy(col("doc_id"), col("rn"))

  /** The generic BM25 core behind [[bm25Top]] and
    * [[graft.api.Graft.bm25TopTerms]]: any (doc_id, text) frame, a probe
    * predicate bounding which docs get scored, top-k terms per probed
    * doc. k1 = 1.2, b = 0.75 (the standard constants).
    */
  private[graft] def bm25On(docs: DataFrame, probe: Column,
      k: Int): DataFrame = {
    val nDf = docs.agg(count(lit(1)).as("n_docs"))
    val terms = docs.select(col("doc_id"), explode(toks).as("term"))
    val tot = terms.agg(count(lit(1)).as("n_toks"))
    val dl = terms.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val df_ = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tf = docs.filter(probe)
      .select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("bm25"), col("term"))
    tf.join(broadcast(df_), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(nDf))
      .crossJoin(broadcast(tot))
      .withColumn("bm25", expr(
        "ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)" +
          " * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 *" +
          " (dl * CAST(n_docs AS DOUBLE) / n_toks)))"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("rn"), col("term"), col("bm25"))
  }

  /** Content-addressed LEXICAL POSTING INDEX over the documents corpus —
    * the text-retrieval analogue of [[SimOps.lloydCells]]'s persisted
    * IVF index and [[DedupOps.dedupIndexTables]]: term-frequency
    * postings (doc_id, term, tf), doc lengths (doc_id, dl), document
    * frequencies (term, df) and the one-row corpus stats
    * (n_docs, n_toks), built in ONE tokenization pass and persisted via
    * [[ArtifactCache]], so every lexical consumer ([[bm25Search]], the
    * hybrid-retrieval lexical leg) re-attaches posting lists instead of
    * re-tokenizing the corpus per query. At 100 TB the index build is
    * the batch job; searches only read postings.
    */
  private[graft] def cachedLexIndex(s: SparkSession,
      d: String): Map[String, DataFrame] =
    ArtifactCache.readOrBuildAll(s,
      ArtifactCache.dir(s, d, "documents", "graft_lex", "tokens@r1"),
      Seq("tf", "dl", "df", "stats"))(
      lexIndexTables(Tables.documents(s, d)))

  /** The index build over any (doc_id, text) frame: one explode pass
    * feeding the posting table and its three marginals.
    */
  private[graft] def lexIndexTables(
      docs: DataFrame): Seq[(String, DataFrame)] = {
    val terms = docs.select(col("doc_id"), explode(toks).as("term"))
      .localCheckpoint() // consumed by tf, dl and stats
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = terms.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(terms.agg(count(lit(1)).as("n_toks")))
    Seq("tf" -> tf, "dl" -> dl, "df" -> df_, "stats" -> stats)
  }

  /** BM25 DOCUMENT SEARCH — full-text retrieval over the persisted
    * lexical index, where [[bm25Top]] only ranks a document's own
    * terms: each query document (doc_id < 10, qtf = 1) retrieves by its
    * 8 RAREST distinct terms, scoring every OTHER document by
    * Σ_t idf(t)·sat(tf, dl) with Okapi k1 = 1.2, b = 0.75; the top-10
    * matches per query come back ranked. Scale shape: rarest-K term
    * selection happens BEFORE touching the posting table, so per-query
    * posting reads are bounded by K lists (the top-terms pruning
    * stand-in for WAND/MaxScore, and the right behavior on this
    * fixture's 31-term vocabulary where EVERY term exceeds any df cap —
    * idf weighting then down-weights whatever hot terms survive
    * selection), and the surviving bounded (query, term) list
    * BROADCASTS, so candidate generation is a map-side probe of posting
    * lists — never a shuffle of the postings by term (the
    * [[SimOps.lexicalRankOn]] discipline). Per-term scores quantize to
    * micro-units (floor·1e6, one ulp-tolerated ln each) and sum as
    * LONGS — order-independent, so the oracle replays exact ranks where
    * a float Σ would be partition-order-dependent.
    */
  def bm25Search(s: SparkSession, d: String): DataFrame = {
    val ix = cachedLexIndex(s, d)
    bm25SearchFromIndex(ix("tf"), ix("dl"), ix("df"), ix("stats"),
      col("doc_id") < 10, k = 10, maxQueryTerms = 8)
  }

  /** The search core over prebuilt index tables ([[lexIndexTables]]
    * shapes) — queries are the docs matching `queryPred` (a predicate
    * over the posting table's doc_id column; must select a BOUNDED set,
    * it is the broadcast side). Each query keeps its `maxQueryTerms`
    * lowest-df terms (ties by term), the per-query posting-read bound.
    */
  private[graft] def bm25SearchFromIndex(tf: DataFrame, dl: DataFrame,
      dfT: DataFrame, stats: DataFrame, queryPred: Column, k: Int,
      maxQueryTerms: Int): DataFrame = {
    val wQ = Window.partitionBy(col("qid")).orderBy(col("df"), col("term"))
    val qterms = broadcast(tf.filter(queryPred)
        .select(col("doc_id").as("qid"), col("term")))
      .join(dfT, Seq("term"))
      .withColumn("qr", row_number().over(wQ))
      .filter(col("qr") <= maxQueryTerms)
      .crossJoin(broadcast(stats))
    val scored = broadcast(qterms)
      .join(tf.select(col("doc_id").as("did"), col("term"), col("tf")),
        Seq("term"))
      .filter(col("did") =!= col("qid"))
      .join(dl.select(col("doc_id").as("did"), col("dl")), Seq("did"))
      // spelled in the same association order as the oracle so both
      // engines perform the identical IEEE operation sequence
      .withColumn("score_units", floor(
        log((col("n_docs").cast("double") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) *
            (col("dl") * col("n_docs").cast("double") / col("n_toks")))) *
          lit(1e6)).cast("long"))
      .groupBy(col("qid"), col("did"))
      .agg(sum(col("score_units")).as("bm25_units"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(desc("bm25_units"), col("did"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("did"), col("bm25_units"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Corpus-relative RARITY score per document — the data-DERIVED quality
    * signal [[qualityScore]]'s static heuristics can't see: a document's
    * mean inverse document frequency over its tokens, in integral
    * per-mille units (token contributes (1000·n_docs) DIV df). Gibberish
    * and OCR noise score high (singleton tokens contribute 1000·n_docs),
    * boilerplate scores low (df ≈ n_docs ⇒ ≈1000) — the in-engine stand-in
    * for the LM-perplexity filter corpus pipelines run, exact instead of
    * model-dependent. Integral end to end (floor divisions on positive
    * longs), so the oracle replays it bit-for-bit where a log-space score
    * would ride libm drift. Long headroom: Σ per doc ≤ toks/doc ·
    * 1000·n_docs ≈ 10¹⁶ at 10¹⁰ docs — widen to decimal past that.
    *
    * Scale shape: the df table is vocabulary-sized, so it joins by
    * equi-join on term (NO broadcast — at corpus scale the vocab doesn't
    * fit a driver), then one per-doc aggregate; the same two-shuffle
    * inverted-index shape as [[tfidfTop]].
    */
  def rarityScore(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nDf = docs.agg(count(lit(1)).as("n_docs"))
    val terms = docs.select(col("doc_id"), col("lang"),
      explode(toks).as("term"))
    val df_ = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    terms.join(df_, "term")
      .crossJoin(broadcast(nDf))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_toks"),
        sum(expr("(1000L * n_docs) DIV df")).as("idf_units"))
      .select(col("doc_id"), col("lang"), col("n_toks"),
        expr("idf_units DIV n_toks").as("rarity_units"))
      .orderBy(col("doc_id"))
  }

  /** UNIGRAM CROSS-ENTROPY per document — the canonical corpus-LM
    * quality filter (the CCNet/Gopher-family recipe): train a unigram
    * LM on the corpus itself (P(t) = tokenCount(t)/totalTokens), score
    * each doc's mean per-token negative log-likelihood. Differs from
    * both siblings: [[rarityScore]] weights by DOCUMENT frequency and
    * [[bigramFluency]] by bigram continuation; this is the actual
    * token-frequency cross-entropy, where a doc repeating one rare
    * token pays for every occurrence. Score is integral micro-nats
    * (Σ floor(ln(N/cnt)·1e6) as BIGINT — order-independent, and the
    * only libm call is the same audited floor(ln·1e6) family the
    * hybrid lexical leg uses); the reported xent_nats is one IEEE
    * division of exact integers, bit-identical across engines. Output
    * bounded: the 15 highest-entropy docs (the filter's kill list).
    *
    * Scale shape: token explode → vocabulary-sized count table →
    * equi-join back by term (NO broadcast — web-scale vocab outgrows a
    * driver; hot stop-word keys are AQE-splittable) → per-doc aggregate
    * → TakeOrderedAndProject. Two shuffles of the token stream, one of
    * the vocab.
    */
  /** SOURCE DRIFT — per-source Jensen–Shannon divergence (nats) of the
    * source's unigram distribution against the corpus-wide mixture: the
    * monitoring metric a mixture curator watches (a source whose JS
    * jumps between crawls changed character; JS is symmetric, bounded
    * by ln 2, and defined even where KL is infinite because the mixture
    * m = (p+q)/2 covers both supports). Topology: one token pass to the
    * bounded (source, term) count grid, marginals off the grid, then
    * the vocabulary STREAMS past the broadcast per-source totals
    * (sources are the bounded dimension; the vocabulary is never
    * broadcast or collected — the rarityScore rule). Per-term
    * contributions quantize to nano-nats (floor·1e9, one ulp-tolerated
    * ln each) and SUM AS LONGS — order-independent, so the oracle
    * replays exactly where a float Σ would be partition-order-dependent.
    */
  def sourceDivergence(s: SparkSession, d: String): DataFrame =
    sourceDivergenceOn(Tables.documents(s, d), "source")
      .withColumnRenamed("grp", "source")

  /** The divergence core over any (group, text) pair —
    * [[graft.api.Graft.divergenceProfile]]: (grp, n_terms, div_units,
    * js_nats) with div_units = Σ floor(1e9·(p·ln(p/m) + q·ln(q/m)))
    * over the group×vocabulary grid and js_nats = div_units/2/1e9.
    */
  private[graft] def sourceDivergenceOn(docs: DataFrame,
      grp: String): DataFrame = {
    val sc = docs
      .select(col(grp).as("grp"), explode(toks).as("term"))
      .groupBy(col("grp"), col("term"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // three consumers: grid probe + both marginals
    val ns = sc.groupBy(col("grp")).agg(sum(col("c")).as("ns"))
    val ct = sc.groupBy(col("term")).agg(sum(col("c")).as("ct"))
    val nTot = sc.agg(sum(col("c")).as("n_tot"))
    val p = col("c").cast("double") / col("ns")
    val q = col("ct").cast("double") / col("n_tot")
    val m = (p + q) / lit(2)
    ct.crossJoin(broadcast(ns))
      .join(sc, Seq("grp", "term"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .crossJoin(broadcast(nTot))
      .select(col("grp"),
        (when(col("c") > 0, floor(p * log(p / m) * lit(1e9)).cast("long"))
          .otherwise(lit(0L)) +
          floor(q * log(q / m) * lit(1e9)).cast("long")).as("u"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("u")).cast("bigint").as("div_units"))
      .withColumn("js_nats",
        col("div_units").cast("double") / 2 / 1e9)
      .orderBy(col("grp"))
  }

  /** ZIPF RANK–FREQUENCY SLOPE per source: the log-log OLS slope over
    * each source's top-`topK` term frequencies — THE one-number check
    * that a text source looks like natural language (natural corpora fit
    * slope ≈ −1; templated/boilerplate sources flatten toward 0, word
    * salad steepens). Read next to [[sourceDivergence]] when deciding
    * mixture weights: divergence says a source drifted, the Zipf slope
    * says whether it still looks like language at all.
    *
    * Exactness: each (rank, freq) point quantizes to integer micro-nats
    * (floor(ln·1e6) — the [[unigramXentOn]] move), so the OLS moments
    * Σx, Σy, Σxy, Σx² are exact BIGINTs and the slope is ONE double
    * division of exact longs — no float summation order for the oracle
    * to miss. Headroom: with topK ≤ 10³ and counts ≤ 10¹² the cross
    * moment stays < 2⁶²; a single-term group yields 0/0 → NaN in both
    * engines (nothing to fit).
    *
    * Scale shape: one vocabulary-bounded (grp, term) count, one
    * grp-partitioned top-K window (WindowGroupLimit prunes past rank K),
    * one bounded aggregate — no doc×doc, no driver vocab.
    */
  def zipfSlope(s: SparkSession, d: String): DataFrame =
    zipfSlopeOn(Tables.documents(s, d), "source", topK = 100)
      .withColumnRenamed("grp", "source")

  private[graft] def zipfSlopeOn(docs: DataFrame, grp: String,
      topK: Int): DataFrame = {
    val tc = docs.select(col(grp).as("grp"), explode(toks).as("term"))
      .groupBy(col("grp"), col("term")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("grp")).orderBy(desc("cnt"), col("term"))
    val pts = tc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("grp"),
        floor(log(col("rank").cast("double")) * 1e6).cast("long").as("xu"),
        floor(log(col("cnt").cast("double")) * 1e6).cast("long").as("yu"))
    pts.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("xu")).as("sx"), sum(col("yu")).as("sy"),
        sum(col("xu") * col("yu")).as("sxy"),
        sum(col("xu") * col("xu")).as("sxx"))
      .select(col("grp"), col("n_terms"),
        ((col("n_terms") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n_terms") * col("sxx") - col("sx") * col("sx"))
            .cast("double")).as("zipf_slope"))
      .orderBy(col("grp"))
  }

  /** TOP COLLOCATIONS BY PMI — the corpus-level phrase miner (Church &
    * Hanks 1990): word pairs that co-occur far above chance,
    * pmi = ln(p(ab) / (p(a)·p(b))), with a count floor of 3 (PMI's
    * known rare-pair bias). Complements [[bigramFluency]], which scores
    * DOCUMENTS by conditional frequency; this RANKS PHRASES for
    * tokenizer-merge / stop-phrase / NER-ish lexicon work.
    *
    * Replay: pmi evaluates as ONE ln over one double expression with a
    * fixed multiplication order — ln((c_ab·T_u·T_u)/(T_b·c_a·c_b)) —
    * then micro-quantizes; both engines run the identical IEEE chain
    * (the [[unigramXentOn]] ln-quantization precedent). Counts are
    * vocabulary-bounded equi-joins; no driver vocab.
    */
  def collocations(s: SparkSession, d: String): DataFrame =
    collocationsOn(Tables.documents(s, d), minCount = 3, k = 20)

  private[graft] def collocationsOn(docs: DataFrame, minCount: Long,
      k: Int): DataFrame = {
    // size(w) >= 2 guard: sequence(1, size-1) with end ≤ 0 DESCENDS
    // ([1, 0]) and element_at(w, 0) throws — the shinglesN trap. The
    // oracle's range(1, len(w)) is empty for such docs; match it.
    val g = docs.select(toks.as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr("""transform(sequence(1, size(w) - 1),
          i -> struct(concat(element_at(w, i), ' ', element_at(w, i + 1))
            AS bg, element_at(w, i) AS a, element_at(w, i + 1) AS b))"""))
        .as("x"))
      .select(col("x.bg"), col("x.a"), col("x.b"))
    val uni = docs.select(explode(toks).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cu"))
      .localCheckpoint() // joined twice + totaled
    val cbg = g.groupBy(col("bg"), col("a"), col("b"))
      .agg(count(lit(1)).as("c_ab"))
      .localCheckpoint() // two consumers: the total + the scored join
    val tots = cbg.agg(sum(col("c_ab")).as("t_bi"))
      .crossJoin(uni.agg(sum(col("cu")).as("t_uni")))
    cbg.filter(col("c_ab") >= minCount)
      .join(uni.select(col("t").as("a"), col("cu").as("c_a")), Seq("a"))
      .join(uni.select(col("t").as("b"), col("cu").as("c_b")), Seq("b"))
      .crossJoin(broadcast(tots))
      .withColumn("pmi_micro",
        expr("""CAST(floor(ln((CAST(c_ab AS DOUBLE) * t_uni * t_uni)
            / (CAST(t_bi AS DOUBLE) * c_a * c_b)) * 1e6) AS BIGINT)"""))
      .select(col("bg").as("bigram"), col("c_ab"), col("pmi_micro"))
      .orderBy(desc("pmi_micro"), col("bigram"))
      .limit(k)
  }

  /** PER-DOC BIGRAM LM PERPLEXITY — the fluency QUALITY FILTER
    * ([[bigramFluency]] scores bigram CELLS; this scores every DOC): a
    * first-order LM is estimated from the corpus itself (MLE
    * conditionals p(b|a) = c(a,b)/c(a·) over within-doc adjacent token
    * pairs — no smoothing needed: every scored bigram contributed to
    * the counts, so c(a,b) ≥ 1), and each doc's score is its mean
    * negative log conditional in nats (log-perplexity). High xent =
    * improbable word-to-word transitions = the boilerplate/garbled/
    * wrong-language docs a curation pass reviews first; the worst 15
    * surface. Docs with < 2 tokens carry no bigram and drop (mirrored
    * join semantics in the oracle).
    *
    * Exactness: the only transcendental is ln(c(a·)/c(a,b)) — computed
    * once per DISTINCT bigram over a ratio of exact BIGINTs and
    * micro-quantized BEFORE the per-doc sum (the [[unigramXentOn]] /
    * [[graft.operators.EventOps.sequenceEntropyOn]] idiom), so per-doc
    * sums are exact integers and the final division is one mirrored
    * chain. Engine shape: one corpus pass → bigram stream, LM joins on
    * the DISTINCT-bigram table (vocabulary-bounded), one corpus-sized
    * hash join back. At 100 TB: two linear scans + bounded-LM joins.
    */
  def docPerplexity(s: SparkSession, d: String): DataFrame =
    docPerplexityOn(Tables.documents(s, d))
      .orderBy(desc("xent_nats"), col("doc_id"))
      .limit(15)

  private[graft] def docPerplexityOn(docs: DataFrame): DataFrame = {
    // bigram stream has three consumers (c(a,b), c(a·), scoring) ⇒
    // materialize once
    val bg = docs
      .select(col("doc_id"), col("lang"), toks.as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        """transform(sequence(1, size(w) - 1),
           i -> struct(element_at(w, i) AS pa,
             element_at(w, i + 1) AS pb))""")).as("p"))
      .select(col("doc_id"), col("lang"), col("p.pa"), col("p.pb"))
      .localCheckpoint()
    val nab = bg.groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("nab"))
    val na = bg.groupBy(col("pa")).agg(count(lit(1)).as("na"))
    val lm = nab.join(na, Seq("pa"))
      .select(col("pa"), col("pb"),
        floor(log(col("na").cast("double") / col("nab").cast("double"))
          * 1e6).cast("long").as("qln"))
    bg.join(lm, Seq("pa", "pb"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("qln")).as("nll_units"))
      .withColumn("xent_nats",
        col("nll_units").cast("double") / col("n_bigrams") / 1e6)
  }

  /** QUALITY CUTOFF SWEEP — the tunable-threshold instrument the fixed
    * funnel ([[qualityFunnel]]) is calibrated FROM (the
    * [[graft.operators.DedupOps]] dedup_threshold_report discipline
    * applied to the quality knob): one row per candidate fluency cutoff
    * (mean bigram cross-entropy in micro-nats) with the docs and TOKENS
    * a drop-above-cutoff policy would remove vs keep. Reading it:
    * cutoff too low throws away clean long-tail text (tokens_dropped
    * explodes), too high lets gibberish through; the elbow is
    * corpus-specific and this makes it measured. Docs too short to
    * score (< 2 tokens — no bigram row) PASS every cutoff, the funnel's
    * rule-order semantics. Exactness: the drop test is the integer
    * comparison nll_units > cutoff·n_bigrams (both sides exact int64 —
    * never a float mean that could ulp-flip between engines).
    *
    * Scale shape: the corpus is scored ONCE (the [[docPerplexityOn]]
    * LM pass); each cutoff is a re-aggregation of the same bounded
    * per-doc score frame via one broadcast cross join — the
    * build-once/probe-many sweep shape.
    */
  def qualityTradeoff(s: SparkSession, d: String): DataFrame =
    qualityTradeoffOn(s, Tables.documents(s, d))

  /** Registered grid: brackets the funnel's 3.45-nat rule. */
  private[graft] val TradeoffCutoffs =
    Seq(3000000L, 3225000L, 3450000L, 3675000L, 3900000L)

  private[graft] def qualityTradeoffOn(s: SparkSession, docs: DataFrame,
      cuts: Seq[Long] = TradeoffCutoffs): DataFrame = {
    require(cuts.nonEmpty, "qualityTradeoff needs at least one cutoff")
    import s.implicits._
    val scored = docs
      .select(col("doc_id"), size(toks).cast("long").as("n_tok"))
      .join(docPerplexityOn(docs)
        .select(col("doc_id"), col("n_bigrams"), col("nll_units")),
        Seq("doc_id"), "left")
      .localCheckpoint() // scored once; re-read per cutoff
    val cutoffs = cuts.toDF("cutoff_micronats")
    val dropped = col("nll_units").isNotNull &&
      col("nll_units") > col("cutoff_micronats") * col("n_bigrams")
    scored.crossJoin(broadcast(cutoffs))
      .groupBy(col("cutoff_micronats"))
      .agg(coalesce(sum(when(dropped, 1L)), lit(0L)).as("n_dropped"),
        coalesce(sum(when(!dropped, 1L)), lit(0L)).as("n_kept"),
        coalesce(sum(when(dropped, col("n_tok"))), lit(0L))
          .as("tokens_dropped"),
        coalesce(sum(when(!dropped, col("n_tok"))), lit(0L))
          .as("tokens_kept"))
      .orderBy(col("cutoff_micronats"))
  }

  /** QUALITY FILTER FUNNEL — the curation ACCOUNTING deliverable the
    * per-signal scorers ([[tokenStats]], [[docPerplexity]], ...) feed:
    * an ordered rule chain with FIRST-FAILING-RULE attribution (a doc
    * failing rules 2 and 4 is billed to rule 2 — the standard funnel
    * semantics, so the rows answer "which gate costs me how much
    * corpus" without double counting). Rules, cheap → expensive, every
    * comparison in exact integers (never a float threshold that could
    * ulp-flip between engines):
    *   1 too_short        n_tokens < 15
    *   2 low_diversity    1000·n_distinct < 310·n_tokens
    *   3 token_dominance  1000·max_token_count > 200·n_tokens
    *   4 low_fluency      nll_units > 3 450 000·n_bigrams
    *                      (bigram xent > 3.45 nats under the corpus LM
    *                      — the [[docPerplexity]] machinery; docs with
    *                      no bigram row pass, they were rule-1 fodder)
    * Output: (rule_rank, rule, n_failed, n_remaining) — n_remaining
    * after the last row is the kept corpus. Engine shape: one token
    * pass → per-doc counts, the bigram LM pass, a 4-row rules frame;
    * the cumulative sum runs as the bounded broadcast theta join
    * (never a global window). Thresholds are calibrated to this
    * corpus's measured p5/p95 bands (BASELINE §r15) so every rule
    * fires — the funnel is an instrument, not a tautology.
    */
  def qualityFunnel(s: SparkSession, d: String): DataFrame =
    qualityFunnelOn(s, Tables.documents(s, d))

  private[graft] def qualityFunnelOn(s: SparkSession,
      docs: DataFrame): DataFrame = {
    import s.implicits._
    val perDoc = docs.select(col("doc_id"), explode(toks).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tok"), count(lit(1)).as("n_dist"),
        max(col("c")).as("mx"))
    val flags = perDoc
      .join(docPerplexityOn(docs)
        .select(col("doc_id"), col("n_bigrams"), col("nll_units")),
        Seq("doc_id"), "left")
      .select(expr("""CASE WHEN n_tok < 15 THEN 1
          WHEN n_dist * 1000 < 310 * n_tok THEN 2
          WHEN mx * 1000 > 200 * n_tok THEN 3
          WHEN nll_units IS NOT NULL
            AND nll_units > 3450000 * n_bigrams THEN 4
          ELSE 0 END AS first_fail"""))
      .localCheckpoint() // two consumers: per-rule counts + the total
    val byRule = flags.groupBy(col("first_fail")).agg(count(lit(1)).as("n"))
    val rb = Seq((1, "too_short"), (2, "low_diversity"),
        (3, "token_dominance"), (4, "low_fluency"))
      .toDF("rule_rank", "rule")
      .join(byRule.withColumnRenamed("first_fail", "rule_rank"),
        Seq("rule_rank"), "left")
      .select(col("rule_rank"), col("rule"),
        coalesce(col("n"), lit(0L)).as("n_failed"))
      .localCheckpoint() // both sides of the 4-row cumulative theta join
    val tot = flags.agg(count(lit(1)).as("t_docs"))
    rb.as("a")
      .join(broadcast(rb.select(col("rule_rank").as("brank"),
        col("n_failed").as("bn"))), col("brank") <= col("rule_rank"))
      .groupBy(col("rule_rank"), col("rule"), col("n_failed"))
      .agg(sum(col("bn")).as("cumfail"))
      .crossJoin(broadcast(tot))
      .select(col("rule_rank"), col("rule"), col("n_failed"),
        (col("t_docs") - col("cumfail")).as("n_remaining"))
      .orderBy(col("rule_rank"))
  }

  def unigramXent(s: SparkSession, d: String): DataFrame =
    unigramXentOn(Tables.documents(s, d))
      .orderBy(desc("xent_nats"), col("doc_id"))
      .limit(15)

  /** The generic scorer behind [[unigramXent]] and
    * [[graft.api.Graft.unigramCrossEntropy]]: every doc scored,
    * (doc_id, n_tokens, nll_units, xent_nats), unordered.
    */
  private[graft] def unigramXentOn(docs: DataFrame): DataFrame = {
    // token stream has two consumers (LM counts + scoring) ⇒ materialize
    val toksT = docs.select(col("doc_id"), explode(toks).as("term"))
      .localCheckpoint()
    val lm = toksT.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val tot = toksT.agg(count(lit(1)).as("n_corpus"))
    toksT.join(lm, Seq("term"))
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(floor(log(col("n_corpus").cast("double") / col("cnt")) * 1e6)
          .cast("long")).as("nll_units"))
      .withColumn("xent_nats",
        col("nll_units").cast("double") / col("n_tokens") / 1e6)
  }

  /** Bigram-continuation fluency score — the deterministic stand-in for
    * LM-perplexity filtering: per doc, the mean per-mille conditional
    * frequency of its word bigrams, fluency = (Σ (1000·c(w₁w₂)) DIV
    * c(w₁·)) DIV n_bigrams, where c(w₁·) counts corpus bigrams STARTING
    * with w₁ (so each ratio is an integral P(w₂|w₁) estimate in
    * [1, 1000]). Templated/boilerplate text scores high, word salad
    * scores low — the same ranking a real LM filter produces, exact
    * instead of libm-drifty (a log-space perplexity would not oracle).
    *
    * Scale shape: bigram and first-word count tables are
    * vocabulary-bounded, joined back by equi-join (no driver broadcast —
    * at corpus scale the vocab doesn't fit), then one per-doc aggregate:
    * the [[rarityScore]] two-shuffle inverted-index shape.
    */
  def bigramFluency(s: SparkSession, d: String): DataFrame =
    bigramFluencyOn(Tables.documents(s, d))

  private[graft] def bigramFluencyOn(docs: DataFrame): DataFrame = {
    val bg = docs.select(col("doc_id"),
        explode(shinglesN(toks, 2)).as("bigram"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val cBg = bg.groupBy(col("bigram")).agg(count(lit(1)).as("c_bg"))
    // c(w₁·) rolls up from the VOCAB-SIZED bigram counts, not a second
    // corpus explode: Σ c_bg grouped by first word is the same number
    val cW1 = cBg
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .groupBy(col("w1")).agg(sum(col("c_bg")).as("c_w1"))
    bg.join(cBg, "bigram").join(cW1, "w1")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr("(1000L * c_bg) DIV c_w1")).as("permille_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("permille_sum DIV n_bigrams").as("fluency_permille"))
      .orderBy(col("doc_id"))
  }

  /** Cross-doc repeated-substring spans — the exact-substring dedup
    * marker (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", public): every 5-gram occurring ≥ 2 times in the
    * corpus marks its token span [pos, pos+4]; overlapping marks merge
    * into maximal spans per doc (gaps-and-islands over positions), and
    * the report carries the scrubber's numbers — how many spans to cut
    * and how many tokens they cover. Docs with no repeats (or < 5
    * tokens) report zeros: the scrubber must see them pass through.
    *
    * Scale shape: one posexplode, a gram-keyed count (swap the string
    * key for xxhash64(gram) at 100 TB to shrink the shuffle — collision
    * odds are the MinHash argument), an equi-join back, and one per-doc
    * window — never doc×doc.
    */
  def repeatedSpans(s: SparkSession, d: String): DataFrame =
    repeatedSpansOn(Tables.documents(s, d))

  private[graft] def repeatedSpansOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE explode pipeline: g → corpus freq → join back → islands →
    // per-doc aggregate (n_repeated fused into the island rollup, NOT a
    // separate scan of the repeated marks); n_grams never needs the
    // explode at all — it is just max(len − 4, 0) per doc, a scalar on
    // the base table. The first cut materialized g for THREE consumers
    // (freq, join-back, per-doc gram count) and the repeated marks for
    // two — 11 exchanges and ~4 corpus scans; this shape scans the
    // corpus twice (gram side + scalar side), the 100 TB-honest minimum
    // for a corpus-global frequency predicate.
    val g = docs.select(col("doc_id"),
      posexplode(shinglesN(toks, 5)).as(Seq("pos", "gram")))
    val freq = g.groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
    val rep = g.join(freq.filter(col("cnt") >= 2), "gram")
      .select(col("doc_id"), col("pos"))
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = rep
      .withColumn("gap",
        when(col("pos") - lag(col("pos"), 1).over(wd) <= 4, 0L).otherwise(1L))
      .withColumn("island", sum(col("gap")).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("mn"), max(col("pos")).as("mx"),
        count(lit(1)).as("n_marks"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("mx") - col("mn") + 5).as("covered_tokens"),
        sum(col("n_marks")).as("n_repeated"))
    docs.select(col("doc_id"),
        greatest(size(toks) - 4, lit(0)).cast("long").as("n_grams"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_repeated"), lit(0L)).as("n_repeated"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
      .orderBy(col("doc_id"))
  }

  /** EXACT-SUBSTRING SCRUB — the survivor-producing half of
    * [[repeatedSpans]] (Lee et al.'s pipeline actually REMOVES the
    * duplicated spans; the report alone is just the dry run): every
    * 5-gram keeps exactly its FIRST occurrence in corpus order
    * (doc_id, pos) and every later occurrence marks its token span
    * [pos, pos+4] for cutting; a token survives iff no duplicate-gram
    * span covers it. Output per doc: token counts before/after the cut
    * and the rebuilt surviving text (docs with no duplicated grams, or
    * < 5 tokens, pass through verbatim — the scrubber must not touch
    * them).
    *
    * Scale shape: first-occurrence selection is min(struct(doc_id,pos))
    * per gram — a partial-aggregable groupBy, NOT a per-gram window, so
    * a pathologically common 5-gram (boilerplate headers at 100 TB)
    * costs a combiner-side min instead of a single-task sort; span →
    * token coverage is a bounded 5-element explode (linear, never a
    * range join); the rebuild is one per-doc collect_list bounded by
    * document length — the same bound [[spanCorrupt]] already carries.
    * Swap the gram string for xxhash64(gram) at 100 TB to shrink both
    * shuffles (the MinHash collision argument).
    */
  def spanScrub(s: SparkSession, d: String): DataFrame =
    spanScrubOn(Tables.documents(s, d))

  /** `hashGrams = true` swaps the gram STRING for xxhash64(gram) as the
    * dedup key — the 100 TB shuffle-width variant (8 bytes per key
    * instead of the raw 5-gram; collision odds are the MinHash
    * argument: ~n²/2⁶⁵ for n distinct grams). Result-identical on real
    * corpora (t:GraftApiSpec pins equality on the fixture), but not
    * SQL-replayable, so the REGISTERED query keeps the string key.
    */
  private[graft] def spanScrubOn(docs: DataFrame,
      hashGrams: Boolean = false): DataFrame = {
    val g0 = docs.select(col("doc_id"),
      posexplode(shinglesN(toks, 5)).as(Seq("pos", "gram")))
    val g = if (hashGrams)
      g0.withColumn("gram", xxhash64(col("gram"))) else g0
    // first corpus-order occurrence + total count per gram, one aggregate
    val firstOcc = g.groupBy(col("gram"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first_occ"),
        count(lit(1)).as("cnt"))
    // non-first occurrences of duplicated grams → covered token positions
    val covered = g.join(firstOcc.filter(col("cnt") >= 2), "gram")
      .filter(struct(col("doc_id"), col("pos")) =!= col("first_occ"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + 4)).as("tpos"))
      .distinct()
    val tok = docs.select(col("doc_id"), posexplode(toks).as(Seq("tpos", "tok")))
    val kept = tok.join(covered, Seq("doc_id", "tpos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("tpos"), col("tok")))),
          _.getField("tok"))).as("kept_text"))
    docs.select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_cut"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
      .orderBy(col("doc_id"))
  }

  /** WINNOWING FINGERPRINT (Schleimer, Wilkerson, Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD'03, public) —
    * the position-robust document fingerprint exact-hash schemes lack:
    * hash every word 3-gram, slide a window of [[WinnowW]] consecutive
    * hashes, and select each window's RIGHTMOST minimal hash. The
    * guarantee (their Thm. 1): any shared substring of ≥ w+k-1 tokens
    * between two docs yields at least one SHARED selected hash, while
    * only ~2/(w+1) of hashes are kept — the standard plagiarism /
    * copy-detection fingerprint, insertion/deletion-robust where
    * [[fingerprint]]'s whole-doc md5 flips on a single edit.
    *
    * Cross-engine exactness: the gram hash is the first 10 hex chars of
    * md5 (40 bits, identical bytes in any engine); rightmost-min
    * selection is encoded in ONE integer key = h·2²² + (2²²−1 − pos),
    * so a plain windowed min() picks (min h, max pos) — no argmax
    * window gymnastics, and DuckDB replays it with the same frame.
    * Bound: ≤ 2²² (4.2M) grams per doc, far beyond any real document —
    * and enforced per row (a doc at the cap raises, never silently
    * corrupts; see [[winnowSelectOn]]).
    *
    * Scale shape: one narrow hash pass, one per-doc window (ROWS
    * BETWEEN CURRENT AND w−1 FOLLOWING), one distinct + aggregate —
    * linear, partitioned by doc, no joins.
    */
  private[graft] val WinnowW = 4
  private val WinnowPosCap = 1L << 22

  /** Per-doc selected fingerprint hashes: (doc_id, selpos, selh) — one
    * row per distinct selected position. Docs with fewer than
    * [[WinnowW]] grams use one truncated window (frame end clips at the
    * partition edge); docs with no 3-grams emit nothing. The documented
    * ≤ 2²² grams/doc bound is ENFORCED per row (r16 advice): a doc at
    * the cap raises through the key expression instead of letting the
    * overflowing position component bleed into the hash bits and return
    * silently corrupt fingerprints. The guard branch lives INSIDE the
    * key column (not a droppable side column), so column pruning can
    * never optimize the check away, and it stays whole-stage codegen.
    */
  private[graft] def winnowSelectOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    docs.select(col("doc_id"),
        posexplode(shinglesN(toks, 3)).as(Seq("pos", "gram")))
      .withColumn("h",
        expr("CAST(conv(substr(md5(gram), 1, 10), 16, 10) AS BIGINT)"))
      .withColumn("key",
        when(col("pos") < lit(WinnowPosCap),
          col("h") * lit(WinnowPosCap) +
            (lit(WinnowPosCap - 1) - col("pos")))
          .otherwise(raise_error(concat(lit("winnow: doc "),
            col("doc_id").cast("string"),
            lit(s" has > $WinnowPosCap grams — beyond the documented " +
              "fingerprint-key bound")))))
      .withColumn("m", count(lit(1)).over(wd.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("selkey",
        min(col("key")).over(wd.rowsBetween(0, WinnowW - 1)))
      // only full windows start a selection (short docs: the pos-0
      // window, clipped by the partition edge, covers every gram)
      .filter(col("pos") <= greatest(col("m") - WinnowW, lit(0)))
      .select(col("doc_id"),
        (lit(WinnowPosCap - 1) - pmod(col("selkey"), lit(WinnowPosCap)))
          .as("selpos"),
        expr(s"selkey DIV $WinnowPosCap").as("selh"))
      .distinct()
  }

  /** The registered per-doc rollup: gram count, selected-hash count,
    * and the fingerprint pinned in two numbers (sum + min of selected
    * hashes — any selection change moves the checksum). */
  def winnowFp(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val agg = winnowSelectOn(docs)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_selected"),
        sum(col("selh")).as("fp_checksum"),
        min(col("selh")).as("fp_min"))
    docs.select(col("doc_id"),
        greatest(size(toks) - 2, lit(0)).cast("long").as("n_grams"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        coalesce(col("fp_checksum"), lit(0L)).as("fp_checksum"),
        coalesce(col("fp_min"), lit(0L)).as("fp_min"))
      .orderBy(col("doc_id"))
  }

  /** WINNOW-FINGERPRINT CONTAMINATION — the THINNED-INDEX twin of
    * [[contamination]]: eval docs (doc_id % 10 == 0) that share at
    * least one winnow-selected hash with any train doc, with the count
    * of distinct shared hashes. The tradeoff vs the exact 5-gram sweep
    * is honest and quantified: winnowing guarantees detection only for
    * shared runs of ≥ w+k−1 = 6 tokens (one token longer than the
    * exact check), but the index it joins is ~2/(w+1) = 40% the gram
    * count BEFORE dedup — at 100 TB the contamination sweep's cost is
    * the index build + shuffle, so this is the production sweep and
    * the exact-gram one the high-recall audit. Same inverted-index
    * shape: train side dedups hashes, equi-join on selh, never
    * doc×doc.
    */
  def winnowOverlap(s: SparkSession, d: String): DataFrame =
    winnowOverlapOn(Tables.documents(s, d))

  private[graft] def winnowOverlapOn(docs: DataFrame): DataFrame = {
    val sel = winnowSelectOn(docs).localCheckpoint()
    val trainH = sel.filter(col("doc_id") % 10 =!= 0)
      .select(col("selh")).distinct()
    sel.filter(col("doc_id") % 10 === 0)
      .join(trainH, Seq("selh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("selh")).as("n_shared_hashes"))
      .orderBy(col("doc_id"))
  }

  /** Train/eval contamination check: eval docs (doc_id % 10 == 0) that
    * share at least one 5-gram with any train doc, with the count of
    * distinct leaked 5-grams — the standard benchmark-leakage sweep. The
    * join is an inverted-index equi-join on the shingle (never doc×doc),
    * and the train side dedups shingles first, so cost is proportional to
    * actual n-gram collisions.
    */
  def contamination(s: SparkSession, d: String): DataFrame = {
    // The shingling expression (concat_ws over 5 element_ats per position)
    // is the expensive narrow work, and both the train and eval branches
    // need it. Materialize the exploded (doc_id, shingle) pairs ONCE and
    // let both sides read the materialized form — the classic
    // compute-once/reuse trade: one corpus scan + shingle pass instead of
    // two, at the cost of spilling the pair list (MEMORY_AND_DISK) — the
    // pairs are ~tokens-per-corpus rows, strictly smaller than the
    // re-scan they replace.
    val pairs = Tables.documents(s, d)
      .select(col("doc_id"), explode(shinglesN(toks, 5)).as("shingle"))
      .localCheckpoint()
    val trainShingles = pairs.filter(col("doc_id") % 10 =!= 0)
      .select(col("shingle")).distinct()
    val evalShingles = pairs.filter(col("doc_id") % 10 === 0)
    evalShingles.join(trainShingles, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("shingle")).as("n_leaked_5grams"))
      .orderBy(col("doc_id"))
  }

  /** PII-style redaction sweep: mask digit runs and user/email-ish tokens,
    * report per-doc redaction counts plus a masked preview — the standard
    * pre-training scrub stage (regex-only here; a production pipeline would
    * chain NER on top). Narrow per-row work, no shuffle.
    */
  def redact(s: SparkSession, d: String): DataFrame = {
    val masked = regexp_replace(
      regexp_replace(col("text"), "[a-z]+[0-9]+[a-z0-9]*", "<ID>"),
      "[0-9]+", "<NUM>")
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(expr("regexp_extract_all(text, '[a-z]+[0-9]+[a-z0-9]*', 0)"))
          .as("n_idlike"),
        size(expr("regexp_extract_all(regexp_replace(text, " +
          "'[a-z]+[0-9]+[a-z0-9]*', '<ID>'), '[0-9]+', 0)")).as("n_nums"),
        substring(masked, 1, 60).as("masked_head"))
      .orderBy(col("doc_id"))
  }

  /** Repetition ratio: share of repeated word trigrams per document —
    * the boilerplate/spam signal used by quality filters (high ratio =
    * templated or looping text).
    */
  def repetition(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), shingles3(toks).as("tg"))
      .select(col("doc_id"),
        size(col("tg")).as("n_trigrams"),
        size(array_distinct(col("tg"))).as("n_distinct"))
      .withColumn("repetition_ratio",
        when(col("n_trigrams") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_trigrams"))
          .otherwise(lit(0.0)))
      .orderBy(col("doc_id"))

  /** Per-language stopword-density profile: corpus-level aggregate of each
    * language's marker-word density — the table a language-filter threshold
    * is tuned from. Bounded output (one row per lang), map-side partials.
    */
  def stopwordDensity(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "el", "la", "der",
      "die", "le", "les", "de")
    val isStop = (w: Column) => w.isin(stop.map(x => x: Any): _*)
    Tables.documents(s, d)
      .select(col("lang"), toks.as("w"))
      .select(col("lang"), size(col("w")).as("n"),
        size(filter(col("w"), isStop)).as("n_stop"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).cast("bigint").as("n_tokens"),
        sum(col("n_stop")).cast("bigint").as("n_stopwords"),
        round(sum(col("n_stop")).cast("double") / sum(col("n")), 6)
          .as("stopword_density"))
      .orderBy(col("lang"))
  }

  /** Sliding-window document chunking (50-token windows, stride 25) — the
    * RAG / pretraining chunker: each doc explodes into overlapping chunks
    * addressed by (doc_id, chunk_idx), with deterministic bounds so
    * re-chunking after a backfill yields identical chunk ids. One narrow
    * explode — no shuffle until the caller aggregates.
    */
  def chunkWindows(s: SparkSession, d: String): DataFrame = {
    val win = 50; val stride = 25
    Tables.documents(s, d)
      .select(col("doc_id"), toks.as("w"))
      .withColumn("n", size(col("w")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("w"), col("n"),
        explode(sequence(lit(0), col("n") - 1, lit(stride))).as("st"))
      .select(col("doc_id"),
        (col("st") / stride).cast("int").as("chunk_idx"),
        least(lit(win), col("n") - col("st")).as("n_chunk_tokens"),
        element_at(col("w"), col("st") + 1).as("first_tok"),
        element_at(col("w"), least(col("st") + win, col("n"))).as("last_tok"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Per-SOURCE stopword-density profile — the corpus-quality table a
    * source-level keep/drop decision is made from (a crawl source whose
    * density is far off its language's norm is boilerplate or spam).
    * Bounded output (one row per source), map-side partials.
    */
  def stopwordBySource(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "el", "la", "der",
      "die", "le", "les", "de")
    val isStop = (w: Column) => w.isin(stop.map(x => x: Any): _*)
    Tables.documents(s, d)
      .select(col("source"), col("lang"), toks.as("w"))
      .select(col("source"), col("lang"), size(col("w")).as("n"),
        size(filter(col("w"), isStop)).as("n_stop"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n")).cast("bigint").as("n_tokens"),
        sum(col("n_stop")).cast("bigint").as("n_stopwords"),
        // raw double of an integer-sum division — deterministic, no round()
        (sum(col("n_stop")).cast("double") / sum(col("n")))
          .as("stopword_density"))
      .orderBy(col("source"))
  }

  /** Per-SOURCE repetition profile: corpus-level repeated-trigram share and
    * the worst single document per source — the templated/looping-text
    * screen applied source-by-source. All ratios derive from integer sums
    * (or a max of per-doc doubles), so the profile is engine-exact.
    */
  def repetitionBySource(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), shingles3(toks).as("tg"))
      .select(col("source"), size(col("tg")).as("n_tg"),
        size(array_distinct(col("tg"))).as("n_d"))
      .withColumn("ratio",
        when(col("n_tg") > 0,
          lit(1.0) - col("n_d").cast("double") / col("n_tg"))
          .otherwise(lit(0.0)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tg")).cast("bigint").as("n_trigrams"),
        sum(col("n_d")).cast("bigint").as("n_distinct"),
        (lit(1.0) - sum(col("n_d")).cast("double") / sum(col("n_tg")))
          .as("repetition_ratio"),
        max(col("ratio")).as("max_doc_ratio"))
      .orderBy(col("source"))

  /** Sequence packing: assign documents (in stable doc_id order, per
    * source) to consecutive 2048-token training bins by cumulative token
    * offset, then profile each bin — the "pack short docs into fixed
    * context windows" stage of a pretraining pipeline. The scalable
    * deterministic variant: one window cumsum per source partition (greedy
    * first-fit packing would serialize on the driver); bin id is a pure
    * function of the running offset so re-runs and backfills agree.
    */
  def packBins(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), size(toks).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin", floor((col("cum") - col("n_tokens")) / 2048.0)
        .cast("long"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("bin_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("source"), col("bin"))
  }

  /** MLM-STYLE DETERMINISTIC TOKEN MASKING — the training-data
    * augmentation step (BERT masking / denoising corruption), made
    * reproducible: token i of doc d is masked iff
    * h(d, i) mod 1000 < rate‰, with h the wrap-safe multiplicative
    * hash over P = 2³¹−1 (the sampleHash / bootstrap idiom — the large
    * second multiplier keeps the priority non-monotone in (d, i)).
    * The same (doc, seed) always yields the same corruption, across
    * re-runs, backfills and engines — which is what makes masked
    * pre-training data auditable. Pure expression pipeline (two
    * `transform`s + `aggregate`, no explode, no shuffle until the
    * final order) — the whole map stays in whole-stage codegen.
    * 1-based positions to match DuckDB's range(1, n+1).
    */
  def mlmMask(s: SparkSession, d: String): DataFrame =
    mlmMaskOn(Tables.documents(s, d), ratePerMille = 150)

  private[graft] def mlmMaskOn(docs: DataFrame,
      ratePerMille: Int): DataFrame = {
    require(ratePerMille >= 0 && ratePerMille <= 1000,
      s"mask rate is per mille: $ratePerMille")
    val P = 2147483647L
    val cond = s"pmod(pmod(doc_id * 131071 + CAST(i AS BIGINT), $P)" +
      s" * 1103515245, $P) % 1000 < $ratePerMille"
    docs.select(col("doc_id"), col("lang"), toks.as("w"))
      // size 0 can't happen under split-on-space (worst case [""]) but
      // sequence(1, 0) DESCENDS — guard the trap anyway
      .filter(size(col("w")) >= 1)
      .withColumn("n_masked",
        expr(s"""aggregate(transform(sequence(1, size(w)),
            i -> IF($cond, 1L, 0L)), 0L, (a, x) -> a + x)"""))
      .withColumn("masked_text",
        expr(s"""array_join(transform(sequence(1, size(w)),
            i -> IF($cond, '<m>', element_at(w, i))), ' ')"""))
      .select(col("doc_id"), col("lang"),
        size(col("w")).cast("long").as("n_tokens"),
        col("n_masked"), col("masked_text"))
      .orderBy(col("doc_id"))
  }

  /** T5-STYLE SPAN CORRUPTION — the denoising-objective sibling of
    * [[mlmMask]]: tokens are masked in CONTIGUOUS 3-token blocks (block
    * b of doc d masked iff the (d, b) hash lands under the rate), the
    * corrupted text collapses each masked block to ONE sentinel '<x>',
    * and the dropped tokens are emitted as the reconstruction target —
    * the (inputs, targets) pair a span-corruption pretraining batch
    * feeds the model. Deterministic: same corpus → same corruption,
    * across engines (hash + thresholds interpolated into the oracle).
    * Pure expression pipeline (transform/filter/aggregate over the
    * token array, no explode). Contract note: empty tokens inside a
    * masked block are indistinguishable from the collapse marker and
    * are dropped — identical behavior in both engines.
    */
  def spanCorrupt(s: SparkSession, d: String): DataFrame =
    spanCorruptOn(Tables.documents(s, d), ratePerMille = 150)

  private[graft] def spanCorruptOn(docs: DataFrame,
      ratePerMille: Int): DataFrame = {
    require(ratePerMille >= 0 && ratePerMille <= 1000,
      s"corruption rate is per mille: $ratePerMille")
    val P = 2147483647L
    // masked(block) for the block containing 1-based token i
    def m(b: String) =
      s"pmod(pmod(doc_id * 524287 + CAST($b AS BIGINT), $P)" +
        s" * 1103515245, $P) % 1000 < $ratePerMille"
    val mi = m("(i - 1) DIV 3")
    docs.select(col("doc_id"), col("lang"), toks.as("w"))
      .filter(size(col("w")) >= 1) // sequence(1, 0) descends — guard
      .withColumn("n_masked",
        expr(s"""aggregate(transform(sequence(1, size(w)),
            i -> IF($mi, 1L, 0L)), 0L, (a, x) -> a + x)"""))
      .withColumn("n_spans",
        expr(s"""aggregate(transform(sequence(0, (size(w) - 1) DIV 3),
            b -> IF(${m("b")}, 1L, 0L)), 0L, (a, x) -> a + x)"""))
      .withColumn("corrupted_text",
        expr(s"""array_join(filter(transform(sequence(1, size(w)),
            i -> CASE WHEN NOT ($mi) THEN element_at(w, i)
                      WHEN pmod(i - 1, 3) = 0 THEN '<x>'
                      ELSE '' END), t -> t != ''), ' ')"""))
      .withColumn("targets_text",
        expr(s"""array_join(filter(transform(sequence(1, size(w)),
            i -> IF($mi, element_at(w, i), '')), t -> t != ''), ' ')"""))
      .select(col("doc_id"), col("lang"),
        size(col("w")).cast("long").as("n_tokens"),
        col("n_spans"), col("n_masked"),
        col("corrupted_text"), col("targets_text"))
      .orderBy(col("doc_id"))
  }

  val queries = Map(
    "text_span_corrupt" -> (spanCorrupt _),
    "text_mlm_mask" -> (mlmMask _),
    "text_bigram_fluency" -> (bigramFluency _),
    "text_repeated_spans" -> (repeatedSpans _),
    "text_span_scrub" -> (spanScrub _),
    "text_winnow_fp" -> (winnowFp _),
    "text_winnow_overlap" -> (winnowOverlap _),
    "text_quality_tradeoff" -> (qualityTradeoff _),
    "text_chunks" -> (chunkWindows _),
    "text_contamination" -> (contamination _),
    "text_pack_bins" -> (packBins _),
    "text_redact" -> (redact _),
    "text_repetition" -> (repetition _),
    "text_repetition_by_source" -> (repetitionBySource _),
    "text_stopword_density" -> (stopwordDensity _),
    "text_stopword_by_source" -> (stopwordBySource _),
    "text_token_stats" -> (tokenStats _),
    "text_langid" -> (langId _),
    "text_langid_confusion" -> (langIdConfusion _),
    "text_bpe_merges" -> (bpeMerges _),
    "text_bpe_apply" -> (bpeApplyStats _),
    "text_bpe_holdout" -> (bpeHoldout _),
    "text_bpe_k_report" -> (bpeKReport _),
    "text_bpe_open_report" -> (bpeOpenReport _),
    "text_doc_perplexity" -> (docPerplexity _),
    "text_quality_funnel" -> (qualityFunnel _),
    "text_quality" -> (qualityScore _),
    "text_fingerprint" -> (fingerprint _),
    "text_rarity" -> (rarityScore _),
    "text_unigram_xent" -> (unigramXent _),
    "text_zipf_slope" -> (zipfSlope _),
    "text_collocations" -> (collocations _),
    "text_ngram_top" -> (ngramTop _),
    "text_tfidf_top" -> (tfidfTop _),
    "text_bm25_top" -> (bm25Top _),
    "text_bm25_search" -> (bm25Search _),
    "text_source_divergence" -> (sourceDivergence _))

  /** The langid scoring chain (lex → per-doc marker hits → arg-best),
    * shared by the per-doc listing and the confusion rollup. */
  private val langidCtes =
    """lex(word, marker_lang) AS (VALUES
           ('the','en'),('a','en'),('of','en'),
           ('el','es'),('la','es'),('los','es'),
           ('der','de'),('die','de'),('das','de'),
           ('le','fr'),('les','fr'),('et','fr'),
           ('de','zh')),
         tokens AS (SELECT doc_id, unnest(string_split(text,' ')) AS word
                    FROM documents),
         scores AS (SELECT doc_id, marker_lang, count(*) AS hits
                    FROM tokens JOIN lex USING (word)
                    GROUP BY doc_id, marker_lang),
         best AS (SELECT doc_id, marker_lang, hits FROM (
             SELECT *, row_number() OVER (PARTITION BY doc_id
               ORDER BY hits DESC, marker_lang) AS rn FROM scores)
           WHERE rn = 1)"""

  // both k-sweeps read one 64-merge learn at every snapshot prefix —
  // the tokenizer-sizing grid against the full-learn bound
  override val instruments: Set[String] =
    Set("text_bpe_k_report", "text_bpe_open_report")

  val oracle = Map(
    "text_bpe_apply" -> bpeApplyOracleSql,
    "text_bpe_holdout" -> bpeHoldoutOracleSql,
    "text_bpe_k_report" -> bpeKReportOracleSql,
    "text_bpe_open_report" -> bpeOpenReportOracleSql,
    "text_quality_funnel" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
             FROM documents),
         c AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
           FROM t GROUP BY doc_id, w),
         m AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
             CAST(count(*) AS BIGINT) AS n_dist,
             CAST(max(c) AS BIGINT) AS mx
           FROM c GROUP BY doc_id),
         w2 AS (SELECT doc_id, string_split(text, ' ') AS w
           FROM documents),
         bg AS (SELECT doc_id, w[i] AS pa, w[i + 1] AS pb
           FROM w2, unnest(range(1, len(w))) AS t(i)
           WHERE len(w) >= 2),
         nab AS (SELECT pa, pb, CAST(count(*) AS BIGINT) AS nab
           FROM bg GROUP BY pa, pb),
         na AS (SELECT pa, CAST(count(*) AS BIGINT) AS na
           FROM bg GROUP BY pa),
         lm AS (SELECT pa, pb,
             CAST(floor(ln(CAST(na AS DOUBLE) / CAST(nab AS DOUBLE))
               * 1e6) AS BIGINT) AS qln
           FROM nab JOIN na USING (pa)),
         sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(qln) AS BIGINT) AS nll_units
           FROM bg JOIN lm USING (pa, pb) GROUP BY doc_id),
         f AS (SELECT CASE WHEN m.n_tok < 15 THEN 1
               WHEN m.n_dist * 1000 < 310 * m.n_tok THEN 2
               WHEN m.mx * 1000 > 200 * m.n_tok THEN 3
               WHEN sc.nll_units IS NOT NULL
                 AND sc.nll_units > 3450000 * sc.n_bigrams THEN 4
               ELSE 0 END AS first_fail
           FROM m LEFT JOIN sc ON sc.doc_id = m.doc_id),
         br AS (SELECT first_fail, CAST(count(*) AS BIGINT) AS n
           FROM f GROUP BY first_fail),
         rules(rule_rank, rule) AS (VALUES (1, 'too_short'),
           (2, 'low_diversity'), (3, 'token_dominance'),
           (4, 'low_fluency')),
         rb AS (SELECT r.rule_rank, r.rule,
             CAST(coalesce(b.n, 0) AS BIGINT) AS n_failed
           FROM rules r LEFT JOIN br b ON b.first_fail = r.rule_rank),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS t_docs FROM f)
         SELECT a.rule_rank, a.rule, a.n_failed,
           CAST(t.t_docs - sum(b.n_failed) AS BIGINT) AS n_remaining
         FROM rb a JOIN rb b ON b.rule_rank <= a.rule_rank
         CROSS JOIN tot t
         GROUP BY a.rule_rank, a.rule, a.n_failed, t.t_docs
         ORDER BY a.rule_rank""",
    "text_doc_perplexity" ->
      """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS w
             FROM documents),
         bg AS (SELECT doc_id, lang, w[i] AS pa, w[i + 1] AS pb
           FROM w, unnest(range(1, len(w))) AS t(i)
           WHERE len(w) >= 2),
         nab AS (SELECT pa, pb, CAST(count(*) AS BIGINT) AS nab
           FROM bg GROUP BY pa, pb),
         na AS (SELECT pa, CAST(count(*) AS BIGINT) AS na
           FROM bg GROUP BY pa),
         lm AS (SELECT pa, pb,
             CAST(floor(ln(CAST(na AS DOUBLE) / CAST(nab AS DOUBLE))
               * 1e6) AS BIGINT) AS qln
           FROM nab JOIN na USING (pa)),
         sc AS (SELECT doc_id, lang,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(qln) AS BIGINT) AS nll_units
           FROM bg JOIN lm USING (pa, pb) GROUP BY doc_id, lang)
         SELECT doc_id, lang, n_bigrams, nll_units,
           CAST(nll_units AS DOUBLE) / n_bigrams / 1e6 AS xent_nats
         FROM sc ORDER BY xent_nats DESC, doc_id LIMIT 15""",
    "text_quality_tradeoff" ->
      """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS w
             FROM documents),
         bg AS (SELECT doc_id, w[i] AS pa, w[i + 1] AS pb
           FROM w, unnest(range(1, len(w))) AS t(i)
           WHERE len(w) >= 2),
         nab AS (SELECT pa, pb, CAST(count(*) AS BIGINT) AS nab
           FROM bg GROUP BY pa, pb),
         na AS (SELECT pa, CAST(count(*) AS BIGINT) AS na
           FROM bg GROUP BY pa),
         lm AS (SELECT pa, pb,
             CAST(floor(ln(CAST(na AS DOUBLE) / CAST(nab AS DOUBLE))
               * 1e6) AS BIGINT) AS qln
           FROM nab JOIN na USING (pa)),
         sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(qln) AS BIGINT) AS nll_units
           FROM bg JOIN lm USING (pa, pb) GROUP BY doc_id),
         base AS (SELECT d.doc_id,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
             sc.n_bigrams, sc.nll_units
           FROM documents d LEFT JOIN sc USING (doc_id)),
         cut(cutoff_micronats) AS (VALUES (CAST(3000000 AS BIGINT)),
           (3225000), (3450000), (3675000), (3900000))
         SELECT cutoff_micronats,
           CAST(coalesce(sum(CASE WHEN nll_units IS NOT NULL AND
             nll_units > cutoff_micronats * n_bigrams THEN 1 END), 0)
             AS BIGINT) AS n_dropped,
           CAST(coalesce(sum(CASE WHEN nll_units IS NULL OR
             nll_units <= cutoff_micronats * n_bigrams THEN 1 END), 0)
             AS BIGINT) AS n_kept,
           CAST(coalesce(sum(CASE WHEN nll_units IS NOT NULL AND
             nll_units > cutoff_micronats * n_bigrams THEN n_tok END), 0)
             AS BIGINT) AS tokens_dropped,
           CAST(coalesce(sum(CASE WHEN nll_units IS NULL OR
             nll_units <= cutoff_micronats * n_bigrams THEN n_tok END), 0)
             AS BIGINT) AS tokens_kept
         FROM base CROSS JOIN cut
         GROUP BY cutoff_micronats ORDER BY cutoff_micronats""",
    "text_source_divergence" ->
      """WITH t AS (SELECT source AS grp,
             unnest(string_split(text, ' ')) AS term FROM documents),
         sc AS (SELECT grp, term, CAST(count(*) AS BIGINT) AS c
           FROM t GROUP BY grp, term),
         ns AS (SELECT grp, CAST(sum(c) AS BIGINT) AS ns
           FROM sc GROUP BY grp),
         ct AS (SELECT term, CAST(sum(c) AS BIGINT) AS ct
           FROM sc GROUP BY term),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tot FROM sc),
         grid AS (SELECT ns.grp, ct.term, ns.ns, ct.ct,
             coalesce(sc.c, 0) AS c
           FROM ct CROSS JOIN ns
           LEFT JOIN sc ON sc.grp = ns.grp AND sc.term = ct.term),
         u AS (SELECT grp,
             CASE WHEN c > 0 THEN CAST(floor(
                 (CAST(c AS DOUBLE) / ns)
                 * ln((CAST(c AS DOUBLE) / ns)
                     / ((CAST(c AS DOUBLE) / ns
                         + CAST(ct AS DOUBLE) / n_tot) / 2))
                 * 1e9) AS BIGINT)
               ELSE 0 END
             + CAST(floor(
                 (CAST(ct AS DOUBLE) / n_tot)
                 * ln((CAST(ct AS DOUBLE) / n_tot)
                     / ((CAST(c AS DOUBLE) / ns
                         + CAST(ct AS DOUBLE) / n_tot) / 2))
                 * 1e9) AS BIGINT) AS u
           FROM grid CROSS JOIN tot)
         SELECT grp AS source, CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(u) AS BIGINT) AS div_units,
           CAST(sum(u) AS DOUBLE) / 2 / 1e9 AS js_nats
         FROM u GROUP BY grp ORDER BY grp""",
    "text_bm25_search" ->
      """WITH tokens AS (SELECT doc_id, unnest(string_split(text,' '))
               AS term FROM documents),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_toks FROM tokens),
         dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
             FROM tokens GROUP BY doc_id),
         tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
             FROM tokens GROUP BY doc_id, term),
         df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
             FROM tf GROUP BY term),
         q AS (SELECT qid, term, df FROM (
             SELECT tf.doc_id AS qid, tf.term, df.df,
               row_number() OVER (PARTITION BY tf.doc_id
                 ORDER BY df.df, tf.term) AS qr
             FROM tf JOIN df USING (term) WHERE tf.doc_id < 10)
           WHERE qr <= 8),
         sc AS (SELECT q.qid, tf.doc_id AS did,
             CAST(sum(CAST(floor(
               ln((CAST(n.n_docs AS DOUBLE) - q.df + 0.5) / (q.df + 0.5)
                   + 1.0)
                 * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75
                     * (dl.dl * CAST(n.n_docs AS DOUBLE) / tot.n_toks)))
                 * 1e6) AS BIGINT)) AS BIGINT) AS bm25_units
           FROM q JOIN tf ON q.term = tf.term AND tf.doc_id <> q.qid
           JOIN dl ON dl.doc_id = tf.doc_id
           CROSS JOIN n CROSS JOIN tot
           GROUP BY q.qid, tf.doc_id)
         SELECT qid, rank, did, bm25_units FROM (
           SELECT qid, did, bm25_units,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY bm25_units DESC, did) AS INT) AS rank
           FROM sc)
         WHERE rank <= 10 ORDER BY qid, rank""",
    "text_unigram_xent" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents),
         lm AS (SELECT term, count(*) AS cnt FROM t GROUP BY term),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM t),
         sc AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CAST(floor(ln(CAST(tot.n_corpus AS DOUBLE) / lm.cnt)
               * 1e6) AS BIGINT)) AS BIGINT) AS nll_units
           FROM t JOIN lm USING (term) CROSS JOIN tot
           GROUP BY t.doc_id)
         SELECT doc_id, n_tokens, nll_units,
           CAST(nll_units AS DOUBLE) / n_tokens / 1e6 AS xent_nats
         FROM sc ORDER BY xent_nats DESC, doc_id LIMIT 15""",
    "text_collocations" ->
      """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
         g AS (SELECT w[i] || ' ' || w[i+1] AS bg, w[i] AS a,
             w[i+1] AS b
           FROM w, unnest(range(1, len(w))) AS u(i)),
         uni AS (SELECT t, CAST(count(*) AS BIGINT) AS cu
           FROM (SELECT unnest(string_split(text, ' ')) AS t
                 FROM documents) GROUP BY t),
         cbg AS (SELECT bg, a, b, CAST(count(*) AS BIGINT) AS c_ab
           FROM g GROUP BY bg, a, b),
         tots AS (SELECT (SELECT CAST(sum(c_ab) AS BIGINT) FROM cbg)
             AS t_bi,
           (SELECT CAST(sum(cu) AS BIGINT) FROM uni) AS t_uni)
         SELECT bg AS bigram, c_ab,
           CAST(floor(ln((CAST(c_ab AS DOUBLE) * t_uni * t_uni)
             / (CAST(t_bi AS DOUBLE) * ua.cu * ub.cu)) * 1e6) AS BIGINT)
             AS pmi_micro
         FROM cbg
           JOIN uni ua ON cbg.a = ua.t
           JOIN uni ub ON cbg.b = ub.t
           CROSS JOIN tots
         WHERE c_ab >= 3
         ORDER BY pmi_micro DESC, bigram LIMIT 20""",
    "text_zipf_slope" ->
      """WITH tc AS (SELECT grp, term, CAST(count(*) AS BIGINT) AS cnt
           FROM (SELECT source AS grp,
               unnest(string_split(text, ' ')) AS term FROM documents)
           GROUP BY grp, term),
         pts AS (SELECT grp,
             CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS xu,
             CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT) AS yu
           FROM (SELECT grp, cnt, row_number() OVER (PARTITION BY grp
               ORDER BY cnt DESC, term) AS rank FROM tc)
           WHERE rank <= 100),
         ag AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_terms,
             CAST(sum(xu) AS BIGINT) AS sx, CAST(sum(yu) AS BIGINT) AS sy,
             CAST(sum(xu * yu) AS BIGINT) AS sxy,
             CAST(sum(xu * xu) AS BIGINT) AS sxx
           FROM pts GROUP BY grp)
         SELECT grp AS source, n_terms,
           CAST(n_terms * sxy - sx * sy AS DOUBLE)
             / CAST(n_terms * sxx - sx * sx AS DOUBLE) AS zipf_slope
         FROM ag ORDER BY source""",
    "text_bigram_fluency" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
             FROM documents),
         g AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bigram, w[i] AS w1
           FROM t, unnest(range(1, len(w))) AS u(i)),
         cbg AS (SELECT bigram, count(*) AS c_bg FROM g GROUP BY bigram),
         cw1 AS (SELECT w1, count(*) AS c_w1 FROM g GROUP BY w1)
         SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum((1000 * c.c_bg) // w.c_w1) // count(*) AS BIGINT)
             AS fluency_permille
         FROM g JOIN cbg c USING (bigram) JOIN cw1 w USING (w1)
         GROUP BY g.doc_id ORDER BY doc_id""",
    "text_repeated_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
             FROM documents),
         g AS (SELECT doc_id, i AS pos,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
               || ' ' || w[i+4] AS gram
           FROM t, unnest(range(1, len(w) - 3)) AS u(i)),
         freq AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
         r AS (SELECT g.doc_id, g.pos FROM g JOIN freq USING (gram)),
         isl AS (SELECT doc_id, pos,
             sum(gap) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM (SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                 ORDER BY pos) <= 4 THEN 0 ELSE 1 END AS gap
             FROM r)),
         sp AS (SELECT doc_id, island, min(pos) AS mn, max(pos) AS mx
           FROM isl GROUP BY doc_id, island),
         spd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
             CAST(sum(mx - mn + 5) AS BIGINT) AS covered_tokens
           FROM sp GROUP BY doc_id),
         gc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
           FROM g GROUP BY doc_id),
         rc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_repeated
           FROM r GROUP BY doc_id)
         SELECT d.doc_id, coalesce(gc.n_grams, 0) AS n_grams,
           coalesce(rc.n_repeated, 0) AS n_repeated,
           coalesce(spd.n_spans, 0) AS n_spans,
           coalesce(spd.covered_tokens, 0) AS covered_tokens
         FROM documents d LEFT JOIN gc USING (doc_id)
         LEFT JOIN rc USING (doc_id) LEFT JOIN spd USING (doc_id)
         ORDER BY doc_id""",
    "text_span_scrub" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
             FROM documents),
         g AS (SELECT doc_id, i AS pos,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
               || ' ' || w[i+4] AS gram
           FROM t, unnest(range(1, len(w) - 3)) AS u(i)),
         d AS (SELECT doc_id, pos FROM (
             SELECT doc_id, pos, row_number() OVER (PARTITION BY gram
                 ORDER BY doc_id, pos) AS rn
             FROM g) WHERE rn > 1),
         cov AS (SELECT DISTINCT doc_id, pos + o AS tpos
           FROM d, unnest(range(0, 5)) AS ofs(o)),
         tok AS (SELECT doc_id, i AS tpos, w[i] AS tok
           FROM t, unnest(range(1, len(w) + 1)) AS u(i)),
         kept AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(tok, ' ' ORDER BY tpos) AS kept_text
           FROM tok ANTI JOIN cov USING (doc_id, tpos)
           GROUP BY doc_id)
         SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
           coalesce(n_kept, 0) AS n_kept,
           CAST(len(w) AS BIGINT) - coalesce(n_kept, 0) AS n_cut,
           coalesce(kept_text, '') AS kept_text
         FROM t LEFT JOIN kept USING (doc_id)
         ORDER BY doc_id""",
    "text_winnow_fp" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
             FROM documents),
         g AS (SELECT doc_id, i - 1 AS pos,
             ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
               1, 10))::BIGINT AS h
           FROM t, unnest(range(1, len(w) - 1)) AS u(i)),
         k AS (SELECT doc_id, pos, h,
             h * 4194304 + (4194303 - pos) AS key FROM g),
         s AS (SELECT doc_id, pos,
             count(*) OVER (PARTITION BY doc_id) AS m,
             min(key) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS selkey
           FROM k),
         sel AS (SELECT DISTINCT doc_id, selkey // 4194304 AS selh,
             4194303 - (selkey % 4194304) AS selpos
           FROM s WHERE pos <= greatest(m - 4, 0)),
         agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_selected,
             CAST(sum(selh) AS BIGINT) AS fp_checksum,
             CAST(min(selh) AS BIGINT) AS fp_min
           FROM sel GROUP BY doc_id)
         SELECT t.doc_id,
           CAST(greatest(len(w) - 2, 0) AS BIGINT) AS n_grams,
           coalesce(n_selected, 0) AS n_selected,
           coalesce(fp_checksum, 0) AS fp_checksum,
           coalesce(fp_min, 0) AS fp_min
         FROM t LEFT JOIN agg USING (doc_id) ORDER BY doc_id""",
    "text_winnow_overlap" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
             FROM documents),
         g AS (SELECT doc_id, i - 1 AS pos,
             ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
               1, 10))::BIGINT AS h
           FROM t, unnest(range(1, len(w) - 1)) AS u(i)),
         k AS (SELECT doc_id, pos, h,
             h * 4194304 + (4194303 - pos) AS key FROM g),
         s AS (SELECT doc_id, pos,
             count(*) OVER (PARTITION BY doc_id) AS m,
             min(key) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS selkey
           FROM k),
         sel AS (SELECT DISTINCT doc_id, selkey // 4194304 AS selh
           FROM s WHERE pos <= greatest(m - 4, 0)),
         train AS (SELECT DISTINCT selh FROM sel WHERE doc_id % 10 <> 0)
         SELECT doc_id,
           CAST(count(DISTINCT selh) AS BIGINT) AS n_shared_hashes
         FROM sel JOIN train USING (selh)
         WHERE doc_id % 10 = 0
         GROUP BY doc_id ORDER BY doc_id""",
    "text_pack_bins" ->
      """SELECT source, bin, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           min(doc_id) AS first_doc
         FROM (SELECT doc_id, source, n_tokens,
             CAST(floor((sum(n_tokens) OVER (PARTITION BY source
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
               CURRENT ROW) - n_tokens) / 2048.0) AS BIGINT) AS bin
           FROM (SELECT doc_id, source, len(string_split(text, ' '))
                   AS n_tokens
                 FROM documents))
         GROUP BY source, bin ORDER BY source, bin""",
    "text_span_corrupt" -> {
      def m(b: String) =
        s"((doc_id * 524287 + ($b)) % 2147483647)" +
          s" * 1103515245 % 2147483647 % 1000 < 150"
      val mi = m("(i - 1) // 3")
      s"""SELECT doc_id, lang, CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(range(0, (len(w) - 1) // 3 + 1),
             b -> ${m("b")})) AS BIGINT) AS n_spans,
           CAST(len(list_filter(range(1, len(w) + 1), i -> $mi))
             AS BIGINT) AS n_masked,
           array_to_string(list_filter(
             list_transform(range(1, len(w) + 1), i ->
               CASE WHEN NOT ($mi) THEN w[i]
                    WHEN (i - 1) % 3 = 0 THEN '<x>'
                    ELSE '' END), t -> t != ''), ' ') AS corrupted_text,
           coalesce(array_to_string(list_filter(
             list_transform(range(1, len(w) + 1), i ->
               CASE WHEN $mi THEN w[i] ELSE '' END), t -> t != ''), ' '),
             '') AS targets_text
         FROM (SELECT doc_id, lang, string_split(text, ' ') AS w
               FROM documents)
         WHERE len(w) >= 1
         ORDER BY doc_id"""
    },
    "text_mlm_mask" ->
      """SELECT doc_id, lang, CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(range(1, len(w) + 1), i ->
             ((doc_id * 131071 + i) % 2147483647) * 1103515245
               % 2147483647 % 1000 < 150)) AS BIGINT) AS n_masked,
           array_to_string(list_transform(range(1, len(w) + 1), i ->
             CASE WHEN ((doc_id * 131071 + i) % 2147483647) * 1103515245
               % 2147483647 % 1000 < 150
             THEN '<m>' ELSE w[i] END), ' ') AS masked_text
         FROM (SELECT doc_id, lang, string_split(text, ' ') AS w
               FROM documents)
         WHERE len(w) >= 1
         ORDER BY doc_id""",
    "text_redact" ->
      """SELECT doc_id,
           len(regexp_extract_all(text, '[a-z]+[0-9]+[a-z0-9]*')) AS n_idlike,
           len(regexp_extract_all(regexp_replace(text,
             '[a-z]+[0-9]+[a-z0-9]*', '<ID>', 'g'), '[0-9]+')) AS n_nums,
           substring(regexp_replace(regexp_replace(text,
             '[a-z]+[0-9]+[a-z0-9]*', '<ID>', 'g'),
             '[0-9]+', '<NUM>', 'g'), 1, 60) AS masked_head
         FROM documents ORDER BY doc_id""",
    "text_repetition" ->
      """SELECT doc_id, len(tg) AS n_trigrams,
           len(list_distinct(tg)) AS n_distinct,
           CASE WHEN len(tg) > 0
             THEN 1.0 - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg)
             ELSE 0.0 END AS repetition_ratio
         FROM (SELECT doc_id, list_transform(range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS tg
               FROM (SELECT doc_id, string_split(text, ' ') AS w
                     FROM documents))
         ORDER BY doc_id""",
    "text_chunks" ->
      """SELECT doc_id, CAST(st / 25 AS INT) AS chunk_idx,
           least(50, len(w) - st) AS n_chunk_tokens,
           w[st + 1] AS first_tok,
           w[least(st + 50, len(w))] AS last_tok
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           unnest(range(0, len(w), 25)) AS t(st)
         WHERE len(w) > 0
         ORDER BY doc_id, chunk_idx""",
    "text_stopword_by_source" ->
      """SELECT source, count(*) AS n_docs,
           count(DISTINCT lang) AS n_langs,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(sum(n_stop) AS BIGINT) AS n_stopwords,
           CAST(sum(n_stop) AS DOUBLE) / sum(n) AS stopword_density
         FROM (SELECT source, lang, len(w) AS n,
             len(list_filter(w, x -> x IN ('the','a','of','and','to','in',
               'el','la','der','die','le','les','de'))) AS n_stop
           FROM (SELECT source, lang, string_split(text, ' ') AS w
                 FROM documents))
         GROUP BY source ORDER BY source""",
    "text_repetition_by_source" ->
      """SELECT source, count(*) AS n_docs,
           CAST(sum(n_tg) AS BIGINT) AS n_trigrams,
           CAST(sum(n_d) AS BIGINT) AS n_distinct,
           1.0 - CAST(sum(n_d) AS DOUBLE) / sum(n_tg) AS repetition_ratio,
           max(ratio) AS max_doc_ratio
         FROM (SELECT source, len(tg) AS n_tg,
             len(list_distinct(tg)) AS n_d,
             CASE WHEN len(tg) > 0
               THEN 1.0 - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg)
               ELSE 0.0 END AS ratio
           FROM (SELECT source, list_transform(range(1, len(w) - 1),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS tg
                 FROM (SELECT source, string_split(text, ' ') AS w
                       FROM documents)))
         GROUP BY source ORDER BY source""",
    "text_stopword_density" ->
      """SELECT lang, count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(sum(n_stop) AS BIGINT) AS n_stopwords,
           round(CAST(sum(n_stop) AS DOUBLE) / sum(n), 6) AS stopword_density
         FROM (SELECT lang, len(w) AS n,
             len(list_filter(w, x -> x IN ('the','a','of','and','to','in',
               'el','la','der','die','le','les','de'))) AS n_stop
           FROM (SELECT lang, string_split(text, ' ') AS w FROM documents))
         GROUP BY lang ORDER BY lang""",
    "text_contamination" ->
      """WITH sh AS (SELECT doc_id,
             unnest(list_transform(range(1, len(w) - 3),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                 || w[i+3] || ' ' || w[i+4])) AS shingle
           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
         train AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 <> 0),
         ev AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 = 0)
         SELECT ev.doc_id, count(DISTINCT ev.shingle) AS n_leaked_5grams
         FROM ev JOIN train USING (shingle)
         GROUP BY ev.doc_id ORDER BY ev.doc_id""",
    "text_token_stats" ->
      """SELECT doc_id, n_chars, len(string_split(text, ' ')) AS n_tokens,
           len(regexp_extract_all(text, '[a-z]+')) AS n_alpha_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
             AS n_bpe_tokens,
           CAST(n_chars - len(string_split(text, ' ')) + 1 AS DOUBLE)
             / len(string_split(text, ' ')) AS avg_token_len
         FROM documents ORDER BY doc_id""",
    "text_langid" ->
      s"""WITH $langidCtes
         SELECT d.doc_id, d.lang,
           coalesce(b.marker_lang, 'und') AS pred_lang,
           coalesce(b.hits, 0) AS marker_hits
         FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
         ORDER BY d.doc_id""",
    "text_langid_confusion" ->
      s"""WITH $langidCtes,
         pred AS (SELECT d.lang,
             coalesce(b.marker_lang, 'und') AS pred_lang
           FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id)
         SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
         FROM pred GROUP BY lang, pred_lang ORDER BY lang, pred_lang""",
    "text_quality" ->
      """SELECT doc_id, n_tokens, type_token_ratio, stopword_ratio,
           chars_per_token,
           type_token_ratio * 2.0 + stopword_ratio * 1.0 +
             chars_per_token * 0.1 AS quality
         FROM (SELECT doc_id, len(w) AS n_tokens,
             CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS type_token_ratio,
             CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in')))
               AS DOUBLE) / len(w) AS stopword_ratio,
             CAST(n_chars AS DOUBLE) / len(w) AS chars_per_token
           FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS w
                 FROM documents))
         ORDER BY doc_id""",
    "text_fingerprint" ->
      """SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fp_md5,
           substring(sha256(regexp_replace(trim(lower(text)), ' +', ' ', 'g')),
             1, 16) AS fp64
         FROM documents ORDER BY doc_id""",
    "text_ngram_top" ->
      """SELECT trigram, count(*) AS n FROM (
           SELECT unnest(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS trigram
           FROM (SELECT string_split(text, ' ') AS w FROM documents))
         GROUP BY trigram ORDER BY n DESC, trigram LIMIT 20""",
    "text_rarity" ->
      """WITH tokens AS (SELECT doc_id, lang,
             unnest(string_split(text, ' ')) AS term FROM documents),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM
             (SELECT DISTINCT doc_id, term FROM tokens) GROUP BY term)
         SELECT t.doc_id, t.lang, CAST(count(*) AS BIGINT) AS n_toks,
           CAST(SUM((1000 * n.n_docs) // df.df) // count(*) AS BIGINT)
             AS rarity_units
         FROM tokens t JOIN df USING (term) CROSS JOIN n
         GROUP BY t.doc_id, t.lang ORDER BY t.doc_id""",
    "text_bm25_top" ->
      """WITH tokens AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
                         FROM documents),
         n AS (SELECT count(*) AS n_docs FROM documents),
         tot AS (SELECT count(*) AS n_toks FROM tokens),
         dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
         df AS (SELECT term, count(*) AS df FROM
             (SELECT DISTINCT doc_id, term FROM tokens) GROUP BY term),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens
                WHERE doc_id < 50 GROUP BY doc_id, term)
         SELECT doc_id, rn, term, bm25 FROM (
           SELECT tf.doc_id, tf.term,
             ln((CAST(n.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5)
                 + 1.0)
               * (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 *
                 (dl.dl * CAST(n.n_docs AS DOUBLE) / tot.n_toks))) AS bm25,
             row_number() OVER (PARTITION BY tf.doc_id ORDER BY
               ln((CAST(n.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5)
                   + 1.0)
                 * (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 *
                   (dl.dl * CAST(n.n_docs AS DOUBLE) / tot.n_toks))) DESC,
               tf.term) AS rn
           FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
           CROSS JOIN n CROSS JOIN tot)
         WHERE rn <= 3 ORDER BY doc_id, rn""",
    "text_tfidf_top" ->
      """WITH tokens AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
                         FROM documents),
         n AS (SELECT count(*) AS n_docs FROM documents),
         df AS (SELECT term, count(*) AS df FROM
             (SELECT DISTINCT doc_id, term FROM tokens) GROUP BY term),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens
                WHERE doc_id < 50 GROUP BY doc_id, term)
         SELECT doc_id, rn, term, tfidf FROM (
           SELECT tf.doc_id, tf.term,
             tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf,
             row_number() OVER (PARTITION BY tf.doc_id
               ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) DESC,
                 tf.term) AS rn
           FROM tf JOIN df USING (term) CROSS JOIN n)
         WHERE rn <= 3 ORDER BY doc_id, rn""")
}
