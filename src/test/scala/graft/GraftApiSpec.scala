package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.Graft

/** The user-facing DataFrame API (graft.api.Graft) on ad-hoc inputs — the
  * "switch your own tables to this library" path, independent of the gate
  * fixtures.
  */
class GraftApiSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and"), // near-dup of 1
    (3L, "completely different content about sorting merge join plans"),
    (4L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (5L, "another unrelated short text")
  ).toDF("my_id", "body")

  test("exactDuplicates finds the exact copy group") {
    val groups = Graft.exactDuplicates(docs, "my_id", "body").collect()
    assert(groups.length === 1)
    assert(groups.head.getAs[Long]("keep_id") === 1L)
    assert(groups.head.getAs[Long]("n") === 2L)
  }

  test("nearDuplicatePairs finds exact and truncation near-dups") {
    val pairs = Graft.nearDuplicatePairs(docs, "my_id", "body", 0.3)
      .select(col("a"), col("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)), "exact copy must be a pair")
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)),
      "truncated copy must pair with an original")
  }

  test("README pipeline: clusterPairs composes directly on nearDuplicatePairs") {
    val clusters = Graft.clusterPairs(
        Graft.nearDuplicatePairs(docs, "my_id", "body", 0.3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1, 2, 4 are one near-dup component; min id labels the cluster
    assert(clusters(1L) === 1L && clusters(4L) === 1L && clusters(2L) === 1L)
  }

  test("exactNearDuplicatePairs is complete: every qualifying pair, exact jaccard") {
    // unblocked (single global block) — the prefix filter, not metadata,
    // bounds the candidate set
    val pairs = Graft.exactNearDuplicatePairs(docs, "my_id", "body", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force reference over the 5-doc corpus
    def sh(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val want = (for {
      (a, ta) <- rows; (b, tb) <- rows if a < b
      j = sh(ta).intersect(sh(tb)).size.toDouble /
        sh(ta).union(sh(tb)).size
      if j >= 0.3
    } yield (a, b)).toSet
    assert(want.nonEmpty && pairs === want)
    // blocking by a metadata column removes cross-block pairs
    val blocked = docs.withColumn("grp", col("my_id") % 2)
    val bPairs = Graft.exactNearDuplicatePairs(blocked, "my_id", "body",
      0.3, Seq("grp")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bPairs === want.filter { case (a, b) => a % 2 == b % 2 })
  }

  test("containmentPairs detects a quoted snippet asymmetrically") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      // doc 2 = doc 1's text fully quoted inside a longer report: every
      // shingle of 1 appears in 2, but 2 has many shingles 1 lacks
      (2L, "report intro alpha beta gamma delta epsilon zeta eta theta " +
        "conclusion summary remarks appendix index"),
      (3L, "completely unrelated content with other words entirely")
    ).toDF("my_id", "body")
    val got = Graft.containmentPairs(docs, "my_id", "body", 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    // forward direction only: C(1→2) = 1.0; the reverse ratio is far
    // below 0.9, and doc 3 pairs with nothing
    assert(got === List((1L, 2L, 1.0)))
  }

  test("editDistancePairs links fuzzy keys and composes with clusterPairs") {
    val names = Seq(
      (10L, "acme corp"), (11L, "acme corp."),   // 1 insertion
      (12L, "acmec orp"),                        // transpose = dist 2: NOT paired
      (13L, "akme corp"),                        // 1 substitution of 10
      (14L, "unrelated ltd")
    ).toDF("k", "name")
    val pairs = Graft.editDistancePairs(names, "k", "name")
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((10L, 11L), (10L, 13L)))
    // record-linkage composition: transitive closure unifies the variants
    val clusters = Graft.clusterPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters === Map(10L -> 10L, 11L -> 10L, 13L -> 10L))
  }

  test("clusterPairs merges transitive near-dups into one cluster") {
    val pairs = Seq((1L, 2L), (2L, 4L), (7L, 8L)).toDF("a", "b")
    val clusters = Graft.clusterPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(1L) === 1L && clusters(2L) === 1L && clusters(4L) === 1L)
    assert(clusters(7L) === 7L && clusters(8L) === 7L)
  }

  test("clusterPairs throws (not silently wrong) when the round cap is hit") {
    // a 5-node chain has diameter 4 > maxRounds 1
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      graft.operators.DedupOps.clusterPairsOn(chain, maxRounds = 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("graph API: kCore, kTruss and shortestPaths on renamed ad-hoc columns") {
    // triangle {1,2,3} + tail 3-4-5 under caller-chosen column names
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
    val pairs = und.toDF("left_id", "right_id")
    val truss = Graft.kTruss(pairs, "left_id", "right_id", k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truss === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val sym = (und ++ und.map(_.swap)).toDF("u", "v")
    val core = Graft.kCore(sym, "u", "v", k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    val weighted = (und ++ und.map(_.swap)).map { case (s, d) => (s, d, 1L) }
      .toDF("from", "to", "cost")
    val dist = Graft.shortestPaths(weighted, "from", "to", "cost", maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
  }

  test("kCore and kTruss throw (not silently partial) when the round cap is hit") {
    // cycle 1..5 with pendant path 5-6-7-8: reaching the 2-core needs a
    // 3-deep peel cascade, so maxRounds = 1 must fail loudly instead of
    // returning survivors with degree < k
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L),
      (5L, 6L), (6L, 7L), (7L, 8L))
    val sym = (und ++ und.map(_.swap)).toDF("src", "dst")
    val e1 = intercept[IllegalStateException] {
      Graft.kCore(sym, k = 2, maxRounds = 1).collect()
    }
    assert(e1.getMessage.contains("fixpoint"))
    // the boundary: three peel rounds (8, 7, 6) plus the no-op round that
    // proves the fixpoint fit in 4, so 4 returns the cycle and 3 throws
    val core = Graft.kCore(sym, k = 2, maxRounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === (1L to 5L).map(_ -> 2L).toMap)
    val e3 = intercept[IllegalStateException] {
      Graft.kCore(sym, k = 2, maxRounds = 3).collect()
    }
    assert(e3.getMessage.contains("fixpoint"))
    // triangle + tail: round 1 peels the tail (not a no-op), so the cap
    // fires before the fixpoint round can prove convergence
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val e2 = intercept[IllegalStateException] {
      Graft.kTruss(pairs, k = 3, maxRounds = 1).collect()
    }
    assert(e2.getMessage.contains("fixpoint"))
  }

  test("kCore on degenerate graphs: empty input, and a star that peels to nothing") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graft.kCore(empty, k = 2).collect().isEmpty)
    // star {1-2, 1-3} at k = 2: round 1 keeps only the center, whose
    // edges all lead to peeled leaves, so round 2 sees no edge at all
    // and is the no-op round that proves the (empty) fixpoint
    val und = Seq((1L, 2L), (1L, 3L))
    val star = (und ++ und.map(_.swap)).toDF("src", "dst")
    assert(Graft.kCore(star, k = 2, maxRounds = 2).collect().isEmpty)
    val e = intercept[IllegalStateException] {
      Graft.kCore(star, k = 2, maxRounds = 1).collect()
    }
    assert(e.getMessage.contains("fixpoint"))
  }

  test("labelProp rejects node ids outside the argmax encoding range") {
    val bad = Seq((1L, 5000000000L), (5000000000L, 1L)).toDF("src", "dst")
    val e = intercept[Exception] {
      graft.operators.GraphOps.labelPropFrom(bad, 1).collect()
    }
    assert(e.getMessage.contains("labelProp") ||
      Option(e.getCause).exists(_.getMessage.contains("labelProp")))
  }

  test("corpusPipeline: dedups, keeps the minority stratum whole, splits exhaustively") {
    // two strata: 'big' (60 docs) and 'small' (12 docs). Planted: an
    // exact copy of doc 1 (id 500) and a near-dup of doc 2 (id 501,
    // one word changed). Distinct filler words keep background docs
    // dissimilar.
    val mk = (i: Long) => (0 until 30).map(j => s"w${i}_$j").mkString(" ")
    val rows =
      (1L to 60L).map(i => (i, "big", mk(i))) ++
      (101L to 112L).map(i => (i, "small", mk(i))) ++
      Seq((500L, "big", mk(1)),                                  // exact dup
        (501L, "big", mk(2).replace("w2_29", "changed")))        // near dup
    val df = rows.toDF("doc_id", "stratum", "text")
    val out = Graft.corpusPipeline(df, "doc_id", "text", "stratum")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val ids = out.map(_._1).toSet
    // both planted dupes dropped, their originals survive the dedup
    assert(!ids.contains(500L) && !ids.contains(501L))
    // the minority stratum's rate is 1000 per mille: every small doc ships
    assert((101L to 112L).forall(ids.contains))
    // the majority stratum is down-sampled: floor(1000*sqrt(12/60)) = 447
    val bigKept = out.count(_._2 == "big")
    assert(bigKept < 60 && bigKept > 0, s"big stratum kept $bigKept")
    // splits are from the fixed 3-way band set
    assert(out.map(_._3).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("withGlobalRank equals a single-partition sort's row_number") {
    val rows = (1 to 500).map(i => ((i * 7919) % 500, i.toLong))
    val df = rows.toDF("v", "id").repartition(7)
    val got = Graft.withGlobalRank(df, Seq("v", "id"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = rows.sortBy(t => (t._1, t._2)).zipWithIndex
      .map { case (t, i) => t -> (i + 1).toLong }.toMap
    assert(got === want)
  }

  test("exactQuantiles returns the value at rank ceil(p*n/100)") {
    val df = (1 to 200).map(i => (i.toDouble, i.toLong)).toDF("x", "id")
      .repartition(5)
    val got = Graft.exactQuantiles(df, "x", Seq("id"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(got === Map(25 -> (50L, 50.0), 50 -> (100L, 100.0),
      75 -> (150L, 150.0), 95 -> (190L, 190.0)))
  }

  test("exactQuantiles matches a sorted-array reference at awkward sizes") {
    // sizes that stress rank boundaries: singleton, n < partitions,
    // prime n, and n landing targets exactly on partition edges
    val rnd = new scala.util.Random(3)
    for (n <- Seq(1, 3, 7, 199, 256)) {
      val vals = Seq.fill(n)(rnd.nextInt(50).toDouble) // heavy ties
      val df = vals.zipWithIndex.map { case (v, i) => (v, i.toLong) }
        .toDF("x", "id").repartition(5)
      val got = Graft.exactQuantiles(df, "x", Seq("id"), Seq(1, 50, 100))
        .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
      val sorted = vals.zipWithIndex.sortBy { case (v, i) => (v, i) }.map(_._1)
      val want = Seq(1, 50, 100).map(p =>
        p -> sorted(math.ceil(p * n / 100.0).toInt - 1)).toMap
      assert(got === want, s"n=$n")
    }
  }

  test("sampleByStratum keeps rates per stratum and is idempotent") {
    val df = (1 to 2000).map(i => (i.toLong, if (i % 2 == 0) "en" else "de"))
      .toDF("id", "lang")
    val kept = Graft.sampleByStratum(df, "id", "lang", Map("en" -> 500L))
    val counts = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("de") === 1000L, "default rate keeps everything")
    assert(counts("en") > 300L && counts("en") < 700L,
      s"~half of en kept, got ${counts("en")}")
    // deterministic: same rows on a re-run
    val again = Graft.sampleByStratum(df, "id", "lang", Map("en" -> 500L))
    assert(kept.select("id").collect().map(_.getLong(0)).toSet ===
      again.select("id").collect().map(_.getLong(0)).toSet)
  }

  test("simhashNearDupPairs finds the exact copy at hamming 0") {
    val sh = Graft.simhashNearDupPairs(docs, "my_id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // docs fixture: 4 is an exact copy of 1 → identical signatures,
    // adjacent in every rotation's sort order
    assert(sh.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 0),
      s"expected (1,4,hamming=0) in ${sh.toSeq}")
  }

  test("chunkDocuments emits deterministic overlapping windows") {
    val df = Seq((1L, (1 to 120).map(i => s"t$i").mkString(" ")),
      (2L, "a b c")).toDF("id", "body")
    val chunks = Graft.chunkDocuments(df, "id", "body")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[String](2).length, r.getInt(3)))
    val doc1 = chunks.filter(_._1 == 1L).sortBy(_._2)
    // 120 tokens, stride 25 → starts 0,25,50,75,100 → 5 chunks
    assert(doc1.map(_._2).toSeq === Seq(0, 1, 2, 3, 4))
    assert(doc1.map(_._4).toSeq === Seq(50, 50, 50, 45, 20))
    assert(doc1.map(_._3).toSeq === doc1.map(_._4).toSeq,
      "slice length equals declared chunk token count")
    assert(chunks.filter(_._1 == 2L).toSeq === Seq((2L, 0, 3, 3)))
  }

  test("knnExact on an ad-hoc vector table ranks by cosine") {
    val vecs = Seq(
      (10L, Seq(1.0, 0.0)), (11L, Seq(0.9, 0.1)),
      (12L, Seq(0.0, 1.0)), (13L, Seq(-1.0, 0.0))
    ).toDF("vid", "v")
    val out = Graft.knnExact(vecs, vecs.filter(col("vid") === 10L),
      "vid", "v", k = 2).collect()
      .map(r => (r.getInt(1), r.getLong(2)))
    assert(out.toSeq === Seq((1, 11L), (2, 12L)),
      s"expected nearest=11 then 12, got ${out.toSeq}")
  }

  test("mmrRerank flips a near-clone below the diverse result knn prefers") {
    // query 0 = (1,0); 1 sits at +25° (rel cos25° ≈ .9063), 2 is 1
    // scaled by 0.5 (identical direction ⇒ BIT-equal relevance, knn
    // tie-breaks it to rank 2), 3 sits at −26° (rel ≈ .8988, knn rank
    // 3). Plain knn returns 1, 2, 3. After MMR picks 1: the clone pays
    // 0.3·sim(2,1)=0.3·1.0 → mmr ≈ .334, while the mirror-side 3 pays
    // only 0.3·cos51° → mmr ≈ .440 — so the diversified order is
    // 1, 3, 2: redundancy demoted below a slightly-less-relevant but
    // novel result, the exact behavior MMR exists for.
    val a = (math.cos(math.toRadians(25)), math.sin(math.toRadians(25)))
    val c = (math.cos(math.toRadians(26)), -math.sin(math.toRadians(26)))
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(a._1, a._2)),
      (2L, Seq(a._1 * 0.5, a._2 * 0.5)), (3L, Seq(c._1, c._2))
    ).toDF("vid", "v")
    val out = Graft.mmrRerank(vecs, vecs.filter(col("vid") === 0L),
      "vid", "v", shortlist = 3, k = 3).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(t => (t._1, t._2)).toSeq === Seq((1, 1L), (2, 3L), (3, 2L)),
      s"expected diversified order 1,3,2; got ${out.toSeq}")
    // step-1 mmr is the raw relevance; penalized steps score below it
    assert(out(0)._3 > out(1)._3 && out(1)._3 > out(2)._3)
  }

  test("rangeSearch, labelOutliers, collocations API shapes") {
    // rangeSearch: only the near-duplicate direction clears the radius
    val vecs = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.99, 0.1)),
      (2L, Seq(0.0, 1.0))).toDF("vid", "v")
    val rs = Graft.rangeSearch(vecs, vecs.filter(col("vid") === 0L),
      "vid", "v", minCos = 0.9).collect()
    assert(rs.map(_.getLong(1)).toSeq === Seq(1L))
    // labelOutliers: the point opposite its label-mates scores lowest
    val lab = Seq((1L, 1, Seq(1.0, 0.0)), (2L, 1, Seq(0.9, 0.1)),
      (3L, 1, Seq(-1.0, 0.0))).toDF("vid", "lbl", "v")
    val lo = Graft.labelOutliers(lab, "vid", "lbl", "v", k = 1).collect()
    assert(lo.head.getLong(0) === 3L && lo.head.getDouble(2) < 0)
    // collocations: the repeated pair dominates by PMI — and empty /
    // single-word docs are skipped, not a descending-sequence crash
    // (sequence(1, 0) → element_at(w, 0) without the size guard)
    val docs = Seq(Tuple1("new york new york new york a b c d e f"),
      Tuple1(""), Tuple1("solo")).toDF("body")
    val c = Graft.collocations(docs, "body", minCount = 3, k = 1).collect()
    assert(c.head.getString(0) === "new york" && c.head.getLong(1) === 3L)
  }

  test("redact masks digits and id-like tokens with counts") {
    val rows = Seq((1L, "user42 paid 100 dollars"), (2L, "clean text"))
      .toDF("my_id", "body")
    val out = Graft.redact(rows, "my_id", "body").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("masked") === "<ID> paid <NUM> dollars")
    assert(out(1L).getAs[Int]("n_idlike") === 1)
    assert(out(1L).getAs[Int]("n_nums") === 1)
    assert(out(2L).getAs[String]("masked") === "clean text")
  }

  test("repetitionRatio is 0 for distinct trigrams, high for loops") {
    val rows = Seq((1L, "a b c d e f"), (2L, "x y x y x y x y x y"))
      .toDF("my_id", "body")
    val out = Graft.repetitionRatio(rows, "my_id", "body").collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("repetition_ratio")).toMap
    assert(out(1L) === 0.0)
    assert(out(2L) > 0.7, s"looping text should score high, got ${out(2L)}")
  }

  test("tokenCounts counts whitespace, alpha and BPE-ish tokens") {
    val rows = Seq((1L, "ab 12 cd!")).toDF("my_id", "body")
    val r = Graft.tokenCounts(rows, "my_id", "body").collect().head
    assert(r.getAs[Int]("n_tokens") === 3)
    assert(r.getAs[Int]("n_alpha_tokens") === 2) // ab, cd
    assert(r.getAs[Int]("n_bpe_tokens") === 4)   // ab, 12, cd, !
  }

  test("mixByTokenBudget keeps original schema and derives exact rates") {
    // two strata with very different token mass; ids dense so the hash
    // bands are exact residue classes
    val rows = (0L until 200L).map { i =>
      val st = if (i < 150) "big" else "small"
      val words = if (st == "big") 40 else 10
      (i, st, Seq.fill(words)("w").mkString(" "))
    }.toDF("my_id", "st", "body")
    val kept = Graft.mixByTokenBudget(rows, "my_id", "body", "st")
    assert(kept.columns.toSeq === Seq("my_id", "st", "body"))
    // driver-side BigInt replay of the derivation
    val t = Map("big" -> 150L * 40, "small" -> 50L * 10)
    val sq = t.view.mapValues(v => math.sqrt(v.toDouble).toLong).toMap
    val (tt, ss) = (t.values.sum, sq.values.sum)
    val rate = t.map { case (k, v) =>
      val target = (BigInt(tt) * sq(k) / (BigInt(4) * ss)).toLong
      k -> math.min(1000L, 1000L * target / v)
    }
    val got = kept.groupBy(col("st")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // dense sequential ids ⇒ kept count per stratum is EXACTLY the
    // number of ids whose hash lands under the rate
    def hash(i: Long) = ((i % 1000) * 761) % 1000
    assert(got("big") ===
      (0L until 150L).count(i => hash(i) < rate("big")))
    assert(got.getOrElse("small", 0L) ===
      (150L until 200L).count(i => hash(i) < rate("small")))
    // the head stratum is damped below its proportional share
    assert(rate("big") < rate("small"))
  }

  test("rarityScores computes exact integral mean IDF") {
    val rows = Seq((1L, "a b"), (2L, "a c")).toDF("my_id", "body")
    val out = Graft.rarityScores(rows, "my_id", "body").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // n_docs=2: df(a)=2, df(b)=df(c)=1 → per doc (1000 + 2000) DIV 2
    assert(out(1L) === ((2L, 1500L)))
    assert(out(2L) === ((2L, 1500L)))
  }

  test("decodeMedia API routes payloads by sniffed format") {
    val rows = Seq(
      (1L, "not media".getBytes("UTF-8")),
      (2L, "GIF89a".getBytes("US-ASCII") ++
        Array[Byte](0x10, 0x00, 0x20, 0x00)))
      .toDF("my_id", "blob")
    val out = Graft.decodeMedia(rows, "my_id", "blob").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) === (("unknown", false, 0L, 0L)))
    assert(out(2L) === (("gif", true, 16L, 32L)))
  }

  test("funnel API runs a custom step list on ad-hoc columns") {
    val rows = Seq(
      (10L, "install", "2024-02-01 10:00:00"),
      (10L, "open", "2024-02-01 10:05:00"),
      (10L, "subscribe", "2024-02-01 10:09:00"),
      (20L, "open", "2024-02-01 11:00:00"), // no install first
      (20L, "install", "2024-02-01 11:30:00"))
      .toDF("uid", "action", "at")
      .select(col("uid"), col("action"), to_timestamp(col("at")).as("at"))
    val got = Graft.funnel(rows, "uid", "action", "at",
      Seq("install", "open", "subscribe")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("1_install" -> 2L, "2_open" -> 1L,
      "3_subscribe" -> 1L))
    intercept[IllegalArgumentException] {
      Graft.funnel(rows, "uid", "action", "at", Seq("a", "a"))
    }
    val ttc = Graft.timeToConvert(rows, "uid", "action", "at",
      Seq("install", "open", "subscribe")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(ttc === Map("1_install->2_open" -> ((1L, 300L)),
      "2_open->3_subscribe" -> ((1L, 240L))))
  }

  test("cohortRetention and transitions APIs run on renamed columns") {
    val rows = Seq(
      (1L, 1L, "x", "2024-03-01 00:00:00"),
      (2L, 1L, "y", "2024-03-09 00:00:00"))
      .toDF("seq", "uid", "action", "at")
      .select(col("seq"), col("uid"), col("action"),
        to_timestamp(col("at")).as("at"))
    val ret = Graft.cohortRetention(rows, "uid", "at", epoch = "2024-03-01")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(ret === Map((0L, 0L) -> 1L, (0L, 1L) -> 1L))
    val tr = Graft.transitions(rows, "uid", "action", "at", "seq")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(tr === Set(("x", "y"), ("y", "(end)")))
  }

  test("outliers / ohlc / modeBy / profile run on renamed columns") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:30:00")
    val m = (1 to 30).map(i => (i.toLong, "g", t0, 10.0 + (i % 3))) :+
      ((31L, "g", t1, 500.0))
    val df = m.toDF("rid", "grp", "at", "v")
    val out = Graft.outliers(df, "grp", "rid", "v").collect()
    assert(out.length === 1 && out.head.getAs[Long]("id") === 31L)
    val bars = Graft.ohlc(df, "grp", "at", "rid", "v").collect()
    assert(bars.length === 1)
    assert(bars.head.getAs[Double]("open") === 11.0) // rid 1 at t0
    assert(bars.head.getAs[Double]("close") === 500.0)
    val mode = Graft.modeBy(docs.withColumn("g", lit("all")), "g", "body")
      .collect()
    assert(mode.head.getAs[Long]("n") === 2L, "the duplicated body wins")
    val prof = Graft.profile(df, Seq("rid", "grp")).collect()
    assert(prof.map(r => r.getAs[String]("column_name") ->
      r.getAs[Long]("n_distinct")).toMap === Map("rid" -> 31L, "grp" -> 1L))
  }

  test("linkEntities resolves a typo chain to one canonical record") {
    val recs = Seq((10L, "acme corporation"), (11L, "acme corporatio"),
      (12L, "acme corporati"), (20L, "globex industries"))
      .toDF("rid", "nm")
    val ents = Graft.linkEntities(recs, "rid", "nm", maxDist = 1).collect()
    assert(ents.length === 1)
    assert(ents.head.getAs[Long]("entity_id") === 10L)
    assert(ents.head.getAs[Long]("n_members") === 3L)
    assert(ents.head.getAs[String]("canonical_value") === "acme corporation")
  }

  test("repeatedSpans and bigramFluency keep the caller's id column") {
    val sp = Graft.repeatedSpans(docs, "my_id", "body")
    assert(sp.columns.head === "my_id" && sp.count() === 5)
    // docs 1 and 4 are identical 12-token texts: all their 5-grams repeat
    val cov = sp.collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(cov(1L) === 12L && cov(4L) === 12L)
    assert(cov(5L) === 0L, "clean short doc passes through with zeros")
    val fl = Graft.bigramFluency(docs, "my_id", "body")
    assert(fl.columns.head === "my_id")
    assert(fl.count() === 5)
  }

  test("qualityScore and fingerprints run on ad-hoc columns") {
    val q = Graft.qualityScore(docs, "my_id", "body")
    assert(q.count() === 5)
    assert(q.columns.contains("quality"))
    val fp = Graft.fingerprints(docs, "my_id", "body").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) === fp(4L), "identical text, identical fingerprint")
    assert(fp(1L) !== fp(3L))
  }

  test("asofJoin picks the latest right row at-or-before each left ts") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s"2026-01-01 $s")
    val trades = Seq(
      (1L, "A", ts("10:00:05")), // after quote 11 and 12 -> 12
      (2L, "A", ts("10:00:01")), // tie with quote 11 -> ties match
      (3L, "A", ts("09:59:59")), // before any quote -> null
      (4L, "B", ts("10:00:10"))  // other key -> 21
    ).toDF("trade_id", "sym", "at")
    val quotes = Seq(
      ("A", ts("10:00:01"), 11L), ("A", ts("10:00:03"), 12L),
      ("B", ts("10:00:00"), 21L)
    ).toDF("sym", "at", "quote_id")
    val got = Graft.asofJoin(trades, quotes, "sym", "at",
      "trade_id", "quote_id").collect()
      .map(r => r.getAs[Long]("trade_id") ->
        Option(r.getAs[Any]("asof_quote_id"))).toMap
    assert(got(1L) === Some(12L))
    assert(got(2L) === Some(11L))
    assert(got(3L) === None)
    assert(got(4L) === Some(21L))
  }

  test("sessionize cuts only when the gap strictly exceeds gapUs") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s"2026-01-01 $s")
    val ev = Seq(
      (7L, 1L, ts("10:00:00")),
      (7L, 2L, ts("10:01:00")), // exactly-gap-sized silence: same session
      (7L, 3L, ts("10:02:01"))  // 61 s > 60 s: new session
    ).toDF("uid", "eid", "at")
    val sess = Graft.sessionize(ev, "uid", "eid", "at", gapUs = 60000000L)
      .collect().map(r => (r.getAs[Long]("session_id"),
        r.getAs[Long]("start_us"), r.getAs[Long]("end_us")))
    assert(sess.length === 2)
    val bySid = sess.sortBy(_._1)
    assert(bySid(0)._3 - bySid(0)._2 === 60000000L, "first session spans 60 s")
    assert(bySid(1)._2 === bySid(1)._3, "second session is the lone event")
  }

  test("overlapJoin emits each intersecting cross-owner pair exactly once") {
    val iv = Seq(
      (1L, 10L, 0L, 5000000L),         // owner 1: [0, 5 s]
      (2L, 20L, 5000000L, 6000000L),   // touches owner 1 at 5 s -> pair
      (3L, 30L, 7000000L, 8000000L),   // disjoint from 1 and 2, inside 4
      (4L, 40L, 0L, 10000000L)         // spans MANY buckets with owner 1
    ).toDF("owner", "iv_id", "s_us", "e_us")
    val pairs = Graft.overlapJoin(iv, "owner", "iv_id", "s_us", "e_us",
      bucketUs = 1000000L).collect()
      .map(r => (r.getAs[Long]("owner_a"), r.getAs[Long]("owner_b")))
    // exactly once despite 6 shared buckets for (1, 4)
    assert(pairs.sorted.toSeq
      === Seq((1L, 2L), (1L, 4L), (2L, 4L), (3L, 4L)))
  }

  // ------------------------------------------- association & retrieval (r9)

  test("copurchaseLift scores co-occurring items on renamed columns") {
    val baskets = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 2L), (12L, 4L),
      (13L, 3L), (13L, 4L),
      (14L, 1L), (14L, 1L) // duplicate membership collapses
    ).toDF("cart", "sku")
    val rows = Graft.copurchaseLift(baskets, "cart", "sku").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // (1,2) co-occur in carts 10,11,12; item 1 in 4 carts (14's dup
    // collapses), item 2 in 3; 5 baskets total
    assert(rows.keySet === Set((1L, 2L)))
    val (nAb, nA, nB, lift) = rows((1L, 2L))
    assert(nAb === 3L && nA === 4L && nB === 3L)
    assert(math.abs(lift - 3.0 * 5 / (4 * 3)) < 1e-12)
  }

  test("bm25TopTerms surfaces the discriminative term per doc") {
    val out = Graft.bm25TopTerms(docs, "my_id", "body", k = 1).collect()
    assert(out.length === 5)
    // doc 3's rarest vocabulary ranks above corpus-wide stopwords, and
    // rank-1 terms must not be the ubiquitous 'the'
    val top3 = out.find(_.getLong(0) == 3L).get.getString(2)
    assert(top3 != "the")
    out.foreach(r => assert(r.getDouble(3) > 0.0))
  }

  test("rrfFuse sums reciprocal ranks across lists, either list can carry") {
    val textR = Seq((1L, 100L, 1), (1L, 101L, 2)).toDF("q", "doc", "r")
    val vecR = Seq((1L, 101L, 1), (1L, 102L, 2)).toDF("q", "doc", "r")
    val fused = Graft.rrfFuse(Seq(textR, vecR), "q", "doc", "r")
      .collect().map(r => r.getLong(2) -> (r.getInt(1), r.getDouble(3))).toMap
    // 101 appears in both lists (ranks 2 and 1) and must win
    assert(fused(101L)._1 === 1)
    assert(math.abs(fused(101L)._2 - (1.0 / 62 + 1.0 / 61)) < 1e-15)
    assert(math.abs(fused(100L)._2 - 1.0 / 61) < 1e-15)
    assert(math.abs(fused(102L)._2 - 1.0 / 62) < 1e-15)
  }

  test("nearestJoin picks the closer side, signed micros, earlier on ties") {
    val ts0 = 1600000000000000L // epoch micros
    def t(us: Long) = timestamp_micros(lit(us))
    val left = Seq((7L, 1L), (7L, 2L)).toDF("acct", "click_id")
      .withColumn("at", when(col("click_id") === 1, t(ts0 + 100L))
        .otherwise(t(ts0 + 1000L)))
    val right = Seq((7L, 50L), (7L, 51L)).toDF("acct", "buy_id")
      .withColumn("at", when(col("buy_id") === 50, t(ts0))
        .otherwise(t(ts0 + 1030L)))
    val out = Graft.nearestJoin(left, right, "acct", "at", "click_id", "buy_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(3), r.getLong(4))).toMap
    // click 1 at +100: buy 50 is 100us back, buy 51 is 930us ahead -> 50
    assert(out(1L) === (50L, -100L))
    // click 2 at +1000: buy 51 is 30us ahead, buy 50 is 1000us back -> 51
    assert(out(2L) === (51L, 30L))
  }

  test("sampleWeighted variants are deterministic and respect group quotas") {
    val weighted = Seq.tabulate(200)(i =>
      (i.toLong, if (i % 2 == 0) "even" else "odd", 1L + i % 50))
      .toDF("wid", "grp", "wt")
    val g1 = Graft.sampleWeighted(weighted, "wid", "wt", 10).collect()
    val g2 = Graft.sampleWeighted(weighted, "wid", "wt", 10).collect()
    assert(g1.map(_.getLong(0)).toSeq == g2.map(_.getLong(0)).toSeq)
    assert(g1.length === 10)
    val byGroup = Graft.sampleWeightedByGroup(weighted, "grp", "wid", "wt", 3)
      .collect().groupBy(_.getString(1))
    assert(byGroup.keySet === Set("even", "odd"))
    byGroup.values.foreach(rows => assert(rows.length === 3))
  }

  test("attribution credits last vs first touch, drops unattributed") {
    val ts0 = 1700000000000000L
    val touches = Seq((7L, 1L, "A", 0L), (7L, 2L, "B", 5L))
      .toDF("acct", "eid", "camp", "off")
      .select(col("acct"), col("eid"), col("camp"),
        timestamp_micros(col("off") + lit(ts0)).as("at"))
    val convs = Seq((7L, 10L, 10.0, 3L), (7L, 11L, 20.0, 7L),
      (9L, 12L, 99.0, 1L)) // user 9 has no touches -> dropped
      .toDF("acct", "eid", "v", "off")
      .select(col("acct"), col("eid"), col("v"),
        timestamp_micros(col("off") + lit(ts0)).as("at"))
    val last = Graft.attribution(touches, convs,
        "acct", "at", "eid", "camp", "v")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(last === Map("A" -> (1L, 10.0), "B" -> (1L, 20.0)))
    val firstT = Graft.attribution(touches, convs,
        "acct", "at", "eid", "camp", "v", firstTouch = true)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(firstT === Map("A" -> (2L, 30.0)))
  }

  test("attributionMultiTouch: linear, position, decay hand-computed") {
    val ts0 = 1700000000000000L
    val day = 86400000000L
    // touches A @ -8d, B @ -1d, A @ -0d before the conversion at ts0
    val touches = Seq((7L, 1L, "A", -8L * day), (7L, 2L, "B", -day),
      (7L, 3L, "A", 0L))
      .toDF("acct", "eid", "camp", "off")
      .select(col("acct"), col("eid"), col("camp"),
        timestamp_micros(col("off") + lit(ts0)).as("at"))
    val convs = Seq((7L, 10L, 10.0, 1L)) // units = 100000
      .toDF("acct", "eid", "v", "off")
      .select(col("acct"), col("eid"), col("v"),
        timestamp_micros(col("off") + lit(ts0)).as("at"))
    def run(model: String, lookback: Int = 5) =
      Graft.attributionMultiTouch(touches, convs,
          "acct", "at", "eid", "camp", "v", model, lookback)
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // linear: distinct campaigns {A, B}, 100000 DIV 2 each
    assert(run("linear") === Map("A" -> (1L, 50000L), "B" -> (1L, 50000L)))
    // position, n=3: endpoints (both A) 40% each, middle B gets 20%
    assert(run("position") === Map("A" -> (2L, 80000L),
      "B" -> (1L, 20000L)))
    // decay: ages 8d/1d/0d -> weights 64/128/128, sum 320:
    // A: 100000*64 DIV 320 + 100000*128 DIV 320 = 20000 + 40000
    assert(run("decay") === Map("A" -> (2L, 60000L), "B" -> (1L, 40000L)))
    // lookback=2 keeps only [B, A]: linear splits across both
    assert(run("linear", lookback = 2) ===
      Map("A" -> (1L, 50000L), "B" -> (1L, 50000L)))
    // lookback=1 keeps only the final A touch
    assert(run("linear", lookback = 1) === Map("A" -> (1L, 100000L)))
  }

  test("sketchQuantiles estimates per-group ranks within the KLL budget") {
    val df = (1 to 2000).map(i => (if (i % 2 == 0) "even" else "odd",
        i.toDouble))
      .toDF("grp", "x")
    val out = Graft.sketchQuantiles(df, "x", Seq("grp"),
        Seq(0.5, 0.9)).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out.keySet === Set("even", "odd"))
    // each group is 1000 values spread over [1, 2000]: true q50 ~ 1000,
    // true q90 ~ 1800; allow the 5% rank budget (±100 in value terms)
    out.values.foreach { case (q50, q90) =>
      assert(math.abs(q50 - 1000.0) <= 110.0, s"q50=$q50")
      assert(math.abs(q90 - 1800.0) <= 110.0, s"q90=$q90")
    }
  }

  test("rfm scores keys into exact ntile buckets on all three metrics") {
    val ts0 = 1700000000000000L
    val day = 86400000000L
    // key k: k purchases, last on day (k-adjusted), value k.0 each
    val rows = Seq(
      (1L, 0L, 1.0), // key 1: 1 purchase on day 0
      (2L, 5L, 2.0), (2L, 4L, 2.0), // key 2: 2, last day 5
      (3L, 9L, 3.0), (3L, 8L, 3.0), (3L, 1L, 3.0), // key 3: 3, last day 9
      (4L, 10L, 4.0), (4L, 2L, 4.0), (4L, 3L, 4.0), (4L, 0L, 4.0))
    val purchases = rows.toDF("uid", "d", "v")
      .select(col("uid"), col("v"),
        timestamp_micros(col("d") * lit(day) + lit(ts0)).as("at"))
    val out = Graft.rfm(purchases, "uid", "at", "v", buckets = 2L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)),
        (r.getInt(4), r.getInt(5), r.getInt(6)))).toMap
    // anchor = day 10 (key 4's last). recency: 10/5/1/0 days; frequency
    // 1/2/3/4; monetary 1e4/4e4/9e4/16e4 micro-cents
    assert(out(1L) === ((10L, 1L, 10000L), (2, 1, 1)))
    assert(out(2L) === ((5L, 2L, 40000L), (2, 1, 1)))
    assert(out(3L) === ((1L, 3L, 90000L), (1, 2, 2)))
    assert(out(4L) === ((0L, 4L, 160000L), (1, 2, 2)))
  }

  test("equidepthHistogram covers n < k: each row its own bucket") {
    val tiny = Seq((5.0, 1L), (1.0, 2L), (9.0, 3L)).toDF("v", "id")
    val out = Graft.equidepthHistogram(tiny, "v", Seq("id"), k = 5L)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // ntile semantics with 3 rows over 5 buckets: buckets 1..3, one row
    // each, in ascending value order
    assert(out.toSeq === Seq((1, 1L, 1.0), (2, 1L, 5.0), (3, 1L, 9.0)))
  }

  test("incrementalNearDupPairs on ad-hoc frames with renamed columns") {
    val index = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (200L, "one two three four five six seven eight nine ten"))
      .toDF("k", "t")
    val incoming = Seq(
      // truncated re-crawl of 100 → must match
      (900L, "alpha beta gamma delta epsilon zeta eta theta"),
      // fresh content → must not
      (901L, "lorem ipsum dolor sit amet consectetur adipiscing elit"))
      .toDF("k", "t")
    val out = Graft.incrementalNearDupPairs(index, incoming, "k", "t", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((900L, 100L)))
  }

  test("incrementalNearDupPairsLsh equals the prefix-only probe on " +
      "ad-hoc frames: the band leg adds candidates, never answers") {
    val index = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (200L, "one two three four five six seven eight nine ten"))
      .toDF("k", "t")
    val incoming = Seq(
      (900L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (901L, "alpha beta gamma delta epsilon zeta eta theta"),
      (902L, "lorem ipsum dolor sit amet consectetur adipiscing elit"))
      .toDF("k", "t")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val lsh = rows(
      Graft.incrementalNearDupPairsLsh(index, incoming, "k", "t", 0.5))
    val prefix = rows(
      Graft.incrementalNearDupPairs(index, incoming, "k", "t", 0.5))
    assert(lsh === prefix)
    assert(lsh.map(p => (p._1, p._2)) === Seq((900L, 100L), (901L, 100L)))
    assert(lsh.head._3 === 1.0) // the verbatim copy
  }

  test("mixTargetReport matches a full hand derivation on a two-stratum " +
      "corpus: budget from the binding stratum, rates, achieved mix") {
    // en: ids 0..9, 3 tokens each (t=30); zh: ids 10..14, 3 tokens each
    // (t=15). Targets 500/500 ⇒ B = min(30·1000/500, 15·1000/500) = 30,
    // wanted = 15 each; rate_en = 15000/30 = 500‰, rate_zh = 1000‰.
    // Kept en ids under ((id%1000)·761)%1000 < 500: {0,3,4,7,8} → 15
    // tokens; zh keeps all 5 → 15 tokens; achieved 500‰ / 500‰.
    val corpus = ((0L to 9L).map(i => (i, "en", "a b c"))
      ++ (10L to 14L).map(i => (i, "zh", "a b c")))
      .toDF("id", "stratum", "body")
    val rows = Graft.mixTargetReport(corpus, "id", "body", "stratum",
      Map("en" -> 500L, "zh" -> 500L)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.toSeq === Seq(
      ("en", 30L, 500L, 15L, 500L, 5L, 15L, 500L),
      ("zh", 15L, 500L, 15L, 1000L, 5L, 15L, 500L)))
    // a stratum not named in the config is dropped, and the budget
    // re-binds to the remaining strata
    val withExtra = corpus.union(
      Seq((20L, "fr", "a b c d e f")).toDF("id", "stratum", "body"))
    val dropped = Graft.mixTargetReport(withExtra, "id", "body", "stratum",
      Map("en" -> 500L, "zh" -> 500L)).collect().map(_.getString(0))
    assert(dropped.toSeq === Seq("en", "zh"))
  }

  test("unigramCrossEntropy ranks rare-token docs above boilerplate") {
    val corpus = (Seq.fill(9)("common words repeated across the corpus")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) } :+
      (99L, "zyx wvu tsr qpo nml")).toDF("my_id", "body")
    val out = Graft.unigramCrossEntropy(corpus, "my_id", "body")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(99L) > out(0L),
      "rare-token doc must carry higher cross-entropy than boilerplate")
  }

  test("quantileNormalize is monotone-invariant and centers each group") {
    val df = (1 to 9).flatMap(i => Seq(("g1", i.toLong, i * 10.0),
      ("g2", i.toLong + 100, math.exp(i)))).toDF("g", "id", "v")
    val qn = Graft.quantileNormalize(df, "g", "v", Seq("id"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3))
      .toMap
    // ranks 1..9 in value order → qnorm = (r − .5)/9 regardless of the
    // value scale (linear for g1, exponential for g2)
    (1 to 9).foreach { i =>
      val want = (i - 0.5) / 9.0
      assert(math.abs(qn(("g1", i.toLong)) - want) < 1e-15)
      assert(math.abs(qn(("g2", i.toLong + 100)) - want) < 1e-15)
    }
  }

  test("correlationMatrix on an ad-hoc frame emits sorted pairs") {
    val df = (1 to 50).map(i =>
      (i.toDouble, i * 3.0 + 1, 50.0 - i)).toDF("a", "b", "c")
    val out = Graft.correlationMatrix(df, Seq("a", "b", "c"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(3)))
    assert(out.map(t => (t._1, t._2)).toSeq ===
      Seq(("a", "b"), ("a", "c"), ("b", "c")))
    assert(out.forall { case (_, _, r) => math.abs(math.abs(r) - 1.0) < 1e-12 })
  }

  test("semanticDedup ledger partitions an ad-hoc embedding frame") {
    val vecs = Seq.tabulate(40) { i =>
      // two planted exact pairs inside a noisy space
      val base = if (i == 21) 20 else if (i == 31) 30 else i
      (i.toLong, Array.tabulate(8)(j =>
        math.sin(base * 7.0 + j).toFloat))
    }.toDF("vid", "emb")
    val ledger = Graft.semanticDedup(vecs, "vid", "emb",
      nlist = 4, threshold = 0.999)
    val rows = ledger.collect()
    assert(rows.map(_.getLong(1)).sum === 40L)
    // the two planted exact clones land in their original's cell by
    // construction and MUST be dropped; the sin-lattice may add a few
    // incidental near-periodic matches on top (observed: 2 extra)
    assert(rows.map(_.getLong(3)).sum >= 2L)
    rows.foreach(r => assert(r.getLong(3) <= math.max(r.getLong(1) - 1, 0)))
  }

  test("divergenceProfile matches a hand JS computation in the same " +
      "IEEE operation order") {
    val corpus = Seq(("A", "x x y"), ("B", "x z")).toDF("grp", "body")
    val got = Graft.divergenceProfile(corpus, "grp", "body").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toList
    // mirror the engine's expression order exactly: p = c/ns, q = ct/N,
    // m = (p + q)/2, u = floor(p·ln(p/m)·1e9) + floor(q·ln(q/m)·1e9)
    def cell(c: Long, ns: Long, ct: Long, n: Long): Long = {
      val p = c.toDouble / ns; val q = ct.toDouble / n
      val m = (p + q) / 2
      val pu = if (c > 0) math.floor(p * math.log(p / m) * 1e9).toLong
        else 0L
      pu + math.floor(q * math.log(q / m) * 1e9).toLong
    }
    // counts: A = {x:2, y:1} (ns 3), B = {x:1, z:1} (ns 2);
    // corpus = {x:3, y:1, z:1} (N 5); grid covers all 3 terms per group
    val uA = cell(2, 3, 3, 5) + cell(1, 3, 1, 5) + cell(0, 3, 1, 5)
    val uB = cell(1, 2, 3, 5) + cell(0, 2, 1, 5) + cell(1, 2, 1, 5)
    assert(got === List(
      ("A", 3L, uA, uA.toDouble / 2 / 1e9),
      ("B", 3L, uB, uB.toDouble / 2 / 1e9)))
    // JS is nonnegative and bounded by ln 2
    got.foreach { case (_, _, _, js) =>
      assert(js >= -1e-9 && js <= math.log(2) + 1e-9)
    }
  }

  test("overlapMatrix counts shared keys per category pair, hand-computed") {
    val events = Seq(
      (1L, "click"), (1L, "view"), (1L, "click"), // dup rows collapse
      (2L, "click"), (2L, "purchase"),
      (3L, "view"),
      (4L, "click"), (4L, "view"), (4L, "purchase")
    ).toDF("uid", "etype")
    val got = Graft.overlapMatrix(events, "uid", "etype").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(got === Map(
      ("click", "click") -> 3L, ("click", "purchase") -> 2L,
      ("click", "view") -> 2L, ("purchase", "purchase") -> 2L,
      ("purchase", "view") -> 1L, ("view", "view") -> 3L))
  }

  test("pqKnn: ADC scores are true reconstruction cosines (bounded) and " +
      "rank the matching cluster first") {
    // two near-orthogonal clusters in dim 8, m=2 subspaces of 4; ids 8
    // and 9 are the probes (queryPred picks them; corpus ids stay dense
    // 0..9). Every dim gets a 0.05 floor so no SUBSPACE is the zero
    // vector (cosine of a zero subvector is 0/0 — ANSI division error;
    // dense real embeddings never hit it)
    val d = 8
    def vec(axis: Int, eps: Double): Array[Float] =
      Array.tabulate(d)(j =>
        (0.05 + (if (j == axis) 1.0
          else if (j == (axis + 1) % d) eps else 0.0)).toFloat)
    val e1Ids = Set(0L, 2L, 3L, 4L); val e4Ids = Set(1L, 5L, 6L, 7L)
    val rows = Seq(
      0L -> vec(0, 0.0), 1L -> vec(4, 0.0),
      2L -> vec(0, 0.01), 3L -> vec(0, 0.02), 4L -> vec(0, 0.03),
      5L -> vec(4, 0.01), 6L -> vec(4, 0.02), 7L -> vec(4, 0.03),
      8L -> vec(4, 0.02), 9L -> vec(0, 0.03)).toDF("vid", "emb")
    val got = Graft.pqKnn(rows, "vid", "emb", col("vec_id") >= 8L,
        m = 2, subDim = 4, nlist = 2, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.forall { case (_, _, _, c) => c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9 },
      "ADC score is an exact reconstruction cosine, so it must be bounded")
    val byQ = got.groupBy(_._1)
    // probe 8 is an e4 vector, probe 9 an e1 vector: their top-ranked
    // CORPUS neighbors must come from the matching cluster
    assert(e4Ids(byQ(8L).minBy(_._2)._3), "e4 probe must retrieve e4 side")
    assert(e1Ids(byQ(9L).minBy(_._2)._3), "e1 probe must retrieve e1 side")
  }

  test("bm25Search retrieves the sharing doc first and never the query") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha beta gamma epsilon zeta"), // 3 shared terms with 0
      (2L, "alpha unrelated words here entirely"), // 1 shared term
      (3L, "nothing in common with query docs"),
      (4L, "gamma delta alpha beta gamma") // shares all 4 of doc 0
    ).toDF("my_id", "body")
    val got = Graft.bm25Search(corpus, "my_id", "body",
        col("doc_id") === 0L, k = 3) // 4 query terms < maxQueryTerms: all kept
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.forall(_._1 === 0L))
    assert(got.forall(_._3 !== 0L), "a query must never retrieve itself")
    // doc 4 shares every query term (two gamma hits saturate, still max
    // overlap), doc 1 shares three, doc 2 one; doc 3 must be absent
    assert(got.map(_._3).toSeq === Seq(4L, 1L, 2L))
    assert(got.map(_._2).toSeq === Seq(1, 2, 3))
  }

  test("incrementalAnnAssign homes a batch vector to its cluster and " +
      "ranks only index-side neighbors") {
    // index: two tight orthogonal clusters; ids 0 and 1 (the nlist=2
    // dense-id seeds) land one per cluster, so Lloyd separates the axes
    // cleanly and both cells stay populated
    val d = 8
    def vec(axis: Int, eps: Double): Array[Float] =
      Array.tabulate(d)(j =>
        (if (j == axis) 1.0 else if (j == (axis + 1) % d) eps else 0.0)
          .toFloat)
    val e1Ids = Set(0L, 2L, 3L, 4L); val e4Ids = Set(1L, 5L, 6L, 7L)
    val index = Seq(
      0L -> vec(0, 0.0), 1L -> vec(4, 0.0),
      2L -> vec(0, 0.01), 3L -> vec(0, 0.02), 4L -> vec(0, 0.03),
      5L -> vec(4, 0.01), 6L -> vec(4, 0.02), 7L -> vec(4, 0.03))
    val incoming = Seq((100L, vec(4, 0.02)), (101L, vec(0, 0.03)))
    val out = Graft.incrementalAnnAssign(index.toDF("vid", "emb"),
        incoming.toDF("vid", "emb"), "vid", "emb", nlist = 2, nprobe = 2,
        k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    // neighbors come from the index only, never the batch
    assert(out.forall(_._4 < 8L))
    val byId = out.groupBy(_._1)
    // top neighbors must come from the matching cluster
    assert(e4Ids(byId(100L).head._4), "e4 ingest must match the e4 cluster")
    assert(e1Ids(byId(101L).head._4), "e1 ingest must match the e1 cluster")
    assert(byId(100L).head._2 !== byId(101L).head._2,
      "orthogonal ingests must home to different cells")
  }

  test("copyPairs: the shared-span pair tops the list, hubs are capped") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "intro words alpha beta gamma delta epsilon zeta eta closing"),
      (3L, "completely different tokens one two three four five six"),
      (4L, "another unrelated document seven eight nine ten eleven")
    ).toDF("my_id", "body")
    val out = Graft.copyPairs(corpus, "my_id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // docs 1 and 2 share the 7-token run "alpha..eta" → 5 shared 3-grams
    assert(out.head === ((1L, 2L, 5L)))
    assert(out.length === 1, "unrelated docs must not pair")
    // a gram above maxFreq is a hub and contributes nothing
    val hub = Seq(
      (1L, "x y z junk1"), (2L, "x y z junk2"), (3L, "x y z junk3"))
      .toDF("my_id", "body")
    assert(Graft.copyPairs(hub, "my_id", "body", maxFreq = 2)
      .collect().isEmpty)
  }

  test("mineTriplets: positive is top-1, negative respects the margin") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),   // anchor
      (1L, Array(2.0f, 0.0f)),   // cos 1.0 → positive
      (2L, Array(1.0f, 0.1f)),   // cos ≈ 0.995 — inside the margin, skipped
      (3L, Array(1.0f, 0.5f)),   // cos ≈ 0.894 → first below 0.95 → negative
      (4L, Array(0.0f, 1.0f))    // cos 0 — ranked after id 3
    ).toDF("vid", "emb")
    val r = Graft.mineTriplets(emb, "vid", "emb",
        anchorPred = col("vid") === 0L).collect()
    assert(r.length === 1)
    assert(r.head.getLong(1) === 1L, "positive must be the exact top-1")
    assert(r.head.getLong(3) === 3L,
      "negative must be the hardest below pos_cos - margin")
    assert(r.head.getDouble(5) > 0.05, "gap exceeds the margin")
    // no qualifying negative within k → NULL negative columns
    val r2 = Graft.mineTriplets(emb.filter(col("vid") <= 2), "vid", "emb",
        anchorPred = col("vid") === 0L).collect()
    assert(r2.length === 1 && r2.head.isNullAt(3) && r2.head.isNullAt(5))
  }

  test("skyline: hand-computed Pareto front, ties and duplicates") {
    // minimize x, maximize y; prices in whole units so cents are exact
    val pts = Seq(
      (1L, 1.0, 1L), // frontier
      (2L, 2.0, 3L), // frontier
      (3L, 3.0, 2L), // dominated by id 2 (cheaper, bigger)
      (4L, 4.0, 5L), // frontier
      (5L, 1.0, 0L)  // same price as id 1, strictly smaller y → dominated
    ).toDF("pid", "price", "sz")
    val got = Graft.skyline(pts, "pid", "price", "sz")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 100L, 1L), (2L, 200L, 3L),
      (4L, 400L, 5L)))
    // duplicate points are mutually non-dominating: both stay
    val dup = Seq((1L, 1.0, 2L), (2L, 1.0, 2L), (3L, 2.0, 1L))
      .toDF("pid", "price", "sz")
    val got2 = Graft.skyline(dup, "pid", "price", "sz")
      .collect().map(_.getLong(0)).toSet
    assert(got2 === Set(1L, 2L))
  }

  test("skyline: equals the brute-force dominance filter on random data") {
    val rnd = new scala.util.Random(42)
    // clustered values force duplicate prices, duplicate points, ties
    val pts = (1L to 300L).map(i =>
      (i, (rnd.nextInt(40) + 1).toDouble, rnd.nextInt(25).toLong))
    val got = Graft.skyline(pts.toDF("pid", "price", "sz"),
        "pid", "price", "sz")
      .collect().map(_.getLong(0)).toSet
    val brute = pts.filter { case (_, px, py) =>
      !pts.exists { case (_, qx, qy) =>
        qx <= px && qy >= py && (qx < px || qy > py) }
    }.map(_._1).toSet
    assert(got === brute)
  }

  test("skyline: result is invariant to the bucket count") {
    // frontier staircase (price and size both increase) + dominated noise
    val pts = ((1L to 20L).map(i => (i, i.toDouble, i)) ++
      (21L to 40L).map(i => (i, (i - 20).toDouble, 0L))).toDF(
      "pid", "price", "sz")
    val ref = Graft.skyline(pts, "pid", "price", "sz", buckets = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // bucket 1 = pure window path; the staircase dominates every noise row
    assert(ref.map(_._1) === (1L to 20L))
    for (b <- Seq(2, 7, 64, 1024)) {
      val got = Graft.skyline(pts, "pid", "price", "sz", buckets = b)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got === ref, s"buckets=$b must not change the skyline")
    }
  }

  test("scrubRepeatedSpans: first occurrence survives, later copies cut") {
    val corpus = Seq(
      (0L, "a b c d e f"),          // first occurrence of both its grams
      (1L, "x a b c d e y"),        // re-contains "a b c d e" → cut 5
      (2L, "p q r"),                // < 5 tokens → verbatim
      (3L, "a b c d e f g")         // two dup grams overlap → cut 0..5
    ).toDF("id", "txt")
    val got = Graft.scrubRepeatedSpans(corpus, "id", "txt")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(got(0L) === ((6L, 6L, 0L, "a b c d e f")), "first copy untouched")
    assert(got(1L) === ((7L, 2L, 5L, "x y")), "later copy's span cut")
    assert(got(2L) === ((3L, 3L, 0L, "p q r")), "short doc passes through")
    // doc 3: "a b c d e"@0 and "b c d e f"@1 are both dups of doc 0's
    // grams → covered 0..5 merge; only the tail token survives
    assert(got(3L) === ((7L, 1L, 6L, "g")), "overlapping spans merge")
  }

  test("scrubRepeatedSpans: brute-force replay on random tiny-vocab corpora") {
    // an independent reference implementation of the scrub contract:
    // first corpus-order occurrence of every duplicated 5-gram keeps
    // its span; later occurrences mark [pos, pos+4]; a token survives
    // iff unmarked
    def reference(docs: Seq[(Long, String)]): Map[Long, (Long, Long, String)] = {
      val toks = docs.map { case (id, t) => id -> t.split(" ").toVector }.toMap
      val occs = for {
        (id, _) <- docs.sortBy(_._1)
        w = toks(id); p <- 0 to w.length - 5
      } yield (w.slice(p, p + 5).mkString(" "), id, p)
      val first = occs.groupBy(_._1).map { case (g, os) =>
        g -> os.map(o => (o._2, o._3)).min }
      val counts = occs.groupBy(_._1).view.mapValues(_.size).toMap
      val covered = occs.filter { case (g, id, p) =>
        counts(g) >= 2 && first(g) != ((id, p)) }
        .flatMap { case (_, id, p) => (p to p + 4).map(id -> _) }.toSet
      docs.map { case (id, _) =>
        val w = toks(id)
        val kept = w.indices.filterNot(i => covered(id -> i)).map(w)
        id -> (w.length.toLong, (w.length - kept.length).toLong,
          kept.mkString(" "))
      }.toMap
    }
    val rnd = new scala.util.Random(1234)
    val vocab = Vector("a", "b", "c")
    (1 to 5).foreach { trial =>
      val docs = (0L until 12L).map(id =>
        id -> Vector.fill(3 + rnd.nextInt(12))(
          vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val want = reference(docs)
      val got = Graft.scrubRepeatedSpans(docs.toDF("id", "txt"), "id", "txt")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(3), r.getString(4))).toMap
      assert(got === want, s"trial $trial diverged from the reference")
    }
  }

  test("scrubRepeatedSpans: identity on a gram-unique corpus; counts add up") {
    val corpus = Seq(
      (10L, "one two three four five six"),
      (11L, "seven eight nine ten eleven"),
      (12L, "alpha beta gamma delta epsilon zeta")
    ).toDF("id", "txt")
    val rows = Graft.scrubRepeatedSpans(corpus, "id", "txt").collect()
    rows.foreach { r =>
      assert(r.getLong(2) === r.getLong(1), "no dup grams → nothing cut")
      assert(r.getLong(3) === 0L)
      assert(r.getLong(1) + 0L === r.getLong(2) + r.getLong(3))
    }
    val back = rows.map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(back(10L) === "one two three four five six")
  }

  test("embeddingDriftReport: hand-shares on a two-cell corpus; zero on self") {
    // dense base ids from 0; seeds (nlist=2) are ids 0 and 1 — one per cluster
    val base = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.1f, 0.9f))
    ).toDF("vid", "emb")
    val newer = Seq(
      (100L, Seq(0.95f, 0.05f)),
      (101L, Seq(0.05f, 0.95f)), (102L, Seq(0.1f, 0.9f)),
      (103L, Seq(0.2f, 0.8f))
    ).toDF("vid", "emb")
    val got = Graft.embeddingDriftReport(base, newer, "vid", "emb",
        nlist = 2)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    // base: {0,2} vs {1,3} → 500‰ each; new: 1 vs 3 → 250‰/750‰
    assert(got(0) === ((2L, 1L, 500L, 250L, 250L)))
    assert(got(1) === ((2L, 3L, 500L, 750L, 250L)))
    val self = Graft.embeddingDriftReport(base, base, "vid", "emb",
        nlist = 2).collect()
    assert(self.forall(_.getLong(5) === 0L), "self-drift must be zero")
    // r16 advice: an EMPTY new snapshot (first run / empty crawl) must
    // report 0 new shares, never NULL permilles or a division error
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vid", "emb")
    val firstRun = Graft.embeddingDriftReport(base, empty, "vid", "emb",
        nlist = 2)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(2), r.getLong(4), r.getLong(5))).toMap
    assert(firstRun(0) === ((0L, 0L, 500L)))
    assert(firstRun(1) === ((0L, 0L, 500L)))
  }

  test("recenterIvf: recall recovers on a drifted batch that the stale " +
      "index splits across cells; rebuild decision routes the repair") {
    import scala.math.{cos => mcos, sin => msin, Pi}
    def vec(deg: Double) = Seq(mcos(deg * Pi / 180), msin(deg * Pi / 180))
    // asymmetric base: a heavy anchor cluster at ~0deg (seed id 0) and a
    // light one at ~90deg (seed id 1); the batch drifts to 35-55deg,
    // straddling the stale 45deg bisector
    val base = (Seq((0L, vec(0)), (1L, vec(90)), (19L, vec(86))) ++
      (2L to 18L).map(i => (i, vec((i - 2) * 0.5)))).toDF("vid", "emb")
    // uneven (strictly convex) spacing: every pairwise angular distance
    // is unique, so top-3 sets are tie-free in both engines
    val batch = (0 until 20).map(j =>
      (100L + j, vec(35.0 + j + 0.015 * j * j))).toDF("vid", "emb")
    val (cells0, cents0) = Graft.buildIvfIndex(base, "vid", "emb", nlist = 2)
    // ingest the batch into the STALE index (frozen-centroid assign)
    val staleCells = cells0.unionByName(
      graft.operators.SimOps.assignCellsOn(spark, cents0,
        batch.select(col("vid").as("vec_id"),
          expr("transform(emb, x -> cast(x as double))").as("v"))))
    assert(staleCells.filter(col("vec_id") >= 100)
      .select(col("cid")).distinct().count() === 2,
      "fixture must split the drifted batch across both stale cells")
    // queries straddle the stale ~46deg cell boundary (ids 100-109 land
    // in the anchor cell, 110-119 in the light cell), so their nearest
    // neighbors sit on both sides of it
    val queries = col("vec_id").isin(107L, 109L, 110L, 111L, 112L)
    // exact top-3 over the full union, by cosine (unit vectors: by angle)
    val all = (base.collect() ++ batch.collect()).map(r =>
      (r.getLong(0), r.getSeq[Double](1).toVector))
    def exactTop3(q: Long) = {
      val qv = all.find(_._1 == q).get._2
      all.filter(_._1 != q)
        .sortBy { case (nid, v) =>
          (-(qv(0) * v(0) + qv(1) * v(1)), nid) }
        .take(3).map(_._1).toSet
    }
    def recall(cells: org.apache.spark.sql.DataFrame,
        cents: org.apache.spark.sql.DataFrame) = {
      val got = graft.operators.SimOps
        .knnIvfOn(spark, cells, cents, queries, nprobe = 1, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      Seq(107L, 109L, 110L, 111L, 112L)
        .map(q => (got.getOrElse(q, Set.empty) & exactTop3(q)).size).sum
    }
    val staleRecall = recall(staleCells, cents0)
    val (cells1, cents1) = Graft.recenterIvf(cells0, cents0, batch,
      "vid", "emb")
    val freshRecall = recall(cells1, cents1)
    assert(staleRecall < 15,
      s"stale index must lose cross-cell neighbors, got $staleRecall/15")
    assert(freshRecall > staleRecall,
      s"recenter must recover recall: $freshRecall <= $staleRecall")
    assert(freshRecall === 15, "one Lloyd step reunifies the batch here")
    // the decision rule on the same geometry: the batch is heavily
    // drifted vs the base shares, so the report says repair, not keep
    val drift = Graft.embeddingDriftReport(base, batch, "vid", "emb",
      nlist = 2)
    val dec = Graft.ivfRebuildDecision(drift).head()
    assert(dec.getAs[String]("decision") !== "keep")
    // and a no-drift batch (the base itself) keeps the index
    val selfDec = Graft.ivfRebuildDecision(
      Graft.embeddingDriftReport(base, base, "vid", "emb", nlist = 2))
      .head()
    assert(selfDec.getAs[String]("decision") === "keep")
    assert(selfDec.getAs[Long]("tv_permille") === 0L)
  }

  test("oodReadmit: recentering re-admits items quarantined only by " +
      "stale centroids and keeps true outliers out") {
    import scala.math.{cos => mcos, sin => msin}
    def vec(theta: Double) = Seq(mcos(theta), msin(theta))
    // one-cell geometry on the unit circle: base spread over
    // [0, 0.18] rad -> old p95 radius = the max base distance
    // (1 - cos(0.09) = 4049 micro-units around the ~0.09 rad centroid)
    val base = (0 until 10).map(i => (i.toLong, vec(0.02 * i)))
      .toDF("vid", "emb")
    val (cells0, cents0) = Graft.buildIvfIndex(base, "vid", "emb",
      nlist = 1)
    // batch: 50 admitted at 0.17 rad (inside the old ball, at its far
    // edge), one drifted-but-coherent item at 0.25 rad (just outside),
    // one true outlier at 0.5 rad
    val batch = ((0 until 50).map(j => (100L + j, vec(0.17))) ++
      Seq((200L, vec(0.25)), (201L, vec(0.5)))).toDF("vid", "emb")
    val old = Graft.oodFilter(cells0, cents0, batch, "vid", "emb")
      .collect().map(r => (r.getLong(0), r.getAs[Boolean]("flagged")))
      .toMap
    assert(old(200L) && old(201L), "both far items flag under OLD radii")
    assert((0 until 50).forall(j => !old(100L + j)))
    val (_, reFlags) = Graft.oodReadmit(cells0, cents0, batch,
      "vid", "emb")
    val re = reFlags.collect()
      .map(r => (r.getLong(0), r.getAs[Boolean]("flagged"))).toMap
    assert(re.keySet === Set(200L, 201L),
      "only the quarantined items are re-probed")
    // the admitted mass at 0.17 pulls the centroid to ~0.157 rad and
    // the fresh p95 to ~4674 micro-units; 200's distance drops to
    // ~4352 -> re-admitted. It was quarantined ONLY because the
    // centroid was stale. 201 stays out under any repair.
    assert(!re(200L),
      "the drift-adjacent item must re-admit after the recenter")
    assert(re(201L), "the true outlier stays quarantined")
  }

  test("expireFromIvfIndex: tombstoned vectors never surface in probes, " +
      "survivors' results re-close over the gap") {
    import scala.math.{cos => mcos, sin => msin, Pi}
    def vec(deg: Double) = Seq(mcos(deg * Pi / 180), msin(deg * Pi / 180))
    // uneven angles (tie-free): ids 0..11 around two anchor clusters
    val base = (Seq((0L, vec(0)), (1L, vec(90))) ++
      (2L to 11L).map(i => (i, vec((i - 2) * 1.3)))).toDF("vid", "emb")
    val (cells0, cents0) = Graft.buildIvfIndex(base, "vid", "emb",
      nlist = 2)
    val queries = col("vec_id") === 0L
    def top3(cells: org.apache.spark.sql.DataFrame) =
      graft.operators.SimOps.knnIvfOn(spark, cells, cents0, queries,
          nprobe = 2, k = 3)
        .collect().map(_.getLong(2)).toSeq
    val before = top3(cells0)
    val tombstones = before.take(1).toDF("vid") // expire the top hit
    val cells1 = Graft.expireFromIvfIndex(cells0, tombstones, "vid")
    val after = top3(cells1)
    assert(!after.contains(before.head),
      "an expired vector must never surface in a probe again")
    // survivors re-close over the gap: the new top-3 is the old ranking
    // with the tombstoned id removed and the next survivor promoted
    val expectAfter = top3(cells0.filter(col("vec_id") =!= before.head))
    assert(after === expectAfter)
    assert(after.take(2) === before.drop(1).take(2))
  }

  test("recenterIvf: shared vec_ids count once and the BATCH vector " +
      "wins — the re-embedded-snapshot contract") {
    import scala.math.{cos => mcos, sin => msin, Pi}
    def vec(deg: Double) = Seq(mcos(deg * Pi / 180), msin(deg * Pi / 180))
    val base = (Seq((0L, vec(0)), (1L, vec(90))) ++
      (2L to 9L).map(i => (i, vec(i * 2.0)))).toDF("vid", "emb")
    val (cells0, cents0) = Graft.buildIvfIndex(base, "vid", "emb", nlist = 2)
    // the batch RE-EMBEDS ids 2..9 (moved toward 90deg) and adds two new
    // ids — exactly the drift loop's natural input (r17 advice: shared
    // ids used to double-count the means and drop a row in the window)
    val batch = ((2L to 9L).map(i => (i, vec(80.0 + i))) ++
      Seq((100L, vec(88)), (101L, vec(89)))).toDF("vid", "emb")
    val (cells1, _) = Graft.recenterIvf(cells0, cents0, batch, "vid", "emb")
    val rows = cells1.select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toVector)
    assert(rows.length === 12, s"2 base-only + 8 shared + 2 new: $rows")
    assert(rows.map(_._1).distinct.length === 12, "exactly one row per id")
    // every shared id carries the BATCH embedding, not the stale base one
    val byId = rows.toMap
    (2L to 9L).foreach { i =>
      val want = vec(80.0 + i)
      assert(math.abs(byId(i)(0) - want(0)) < 1e-12 &&
        math.abs(byId(i)(1) - want(1)) < 1e-12,
        s"id $i must carry the re-embedded vector")
    }
  }

  test("manifestPrune: zone-map soundness — no matching row is ever " +
      "pruned, and candidate stats replay from the raw table") {
    val got = graft.operators.IoOps.manifestPrune(TestSpark.spark,
        TestSpark.sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val li = TestSpark.spark.read
      .parquet(s"${TestSpark.sf}/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"),
        expr("l_orderkey DIV 4096").as("frag"))
    // safety: every row matching the predicate lives in a fragment the
    // manifest kept (rows_matched of the pruned scan == true count)
    val okTrue = li.filter(col("l_orderkey").between(1000, 2000)).count()
    val pkTrue = li.filter(col("l_partkey").between(10, 30)).count()
    assert(got("orderkey_1000_2000")._4 === okTrue)
    assert(got("partkey_10_30")._4 === pkTrue)
    // candidate fragment set replays brute-force: a fragment survives
    // iff it CONTAINS a row whose stats range intersects the predicate
    val okCand = li.groupBy(col("frag"))
      .agg(min(col("l_orderkey")).as("mn"), max(col("l_orderkey")).as("mx"))
      .filter(col("mx") >= 1000 && col("mn") <= 2000).count()
    assert(got("orderkey_1000_2000")._2 === okCand)
    // scanned is a superset of matched, and both arms see every fragment
    got.values.foreach { case (nf, nc, scanned, matched) =>
      assert(nc <= nf && matched <= scanned)
    }
    // the layout lesson (clustered column prunes, uncorrelated doesn't)
    // needs multiple fragments — sf0.001 fits one; pinned at sf0.01 by
    // the registered oracle (750permille vs 0)
    if (got("orderkey_1000_2000")._1 > 1) {
      assert(got("orderkey_1000_2000")._2 < got("orderkey_1000_2000")._1)
      assert(got("partkey_10_30")._2 === got("partkey_10_30")._1)
    }
  }

  test("matryoshkaRecallSweep: signal-bearing prefix dims recover exact " +
      "recall; noise-only prefixes don't; full dim is always 1000") {
    // 2 signal dims up front, 2 permuted-signal dims behind: ranking by
    // the first 2 dims equals full-dim ranking only when the tail agrees
    // — here the tail REVERSES the order for half the points, so m=2
    // recall is partial, m=4 recall is exact by identity
    val vecs = (0 until 30).map { i =>
      val a = 1.0 + i * 0.1
      (i.toLong, Seq(a, 2.0, if (i % 2 == 0) a else 3.0 - a, 1.0))
    }.toDF("vid", "emb")
    val got = Graft.matryoshkaRecallSweep(vecs, "vid", "emb",
        col("vec_id") < 5, dims = Seq(2, 4), k = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(got(4L) === ((15L, 1000L)), "full-dim sweep row is exact")
    assert(got(2L)._2 < 1000L, "the reversing tail must cost m=2 recall")
    assert(got(2L)._2 > 0L, "the shared signal dims keep some recall")
  }

  test("rankEval: hand-computed MRR/NDCG/recall, zero-row systems " +
      "score zero, and a perfect ranking reads all-1000") {
    val w = graft.operators.SimOps.NdcgWeights
    // q1: graded truth a=3, b=2, c=1; the system ranks [b, x, a, c, y].
    // q2 has truth d=1 but the system returns nothing -> all-zero row.
    val relevant = Seq((1L, "a", 3L), (1L, "b", 2L), (1L, "c", 1L),
      (2L, "d", 1L)).toDF("q", "item", "grade")
    val ranked = Seq((1L, "b", 1), (1L, "x", 2), (1L, "a", 3),
      (1L, "c", 4), (1L, "y", 5)).toDF("q", "item", "pos")
    val got = Graft.rankEval(ranked, "q", "item", "pos",
      relevant, "q", "item", "grade").collect().head
    val dcg = 2 * w(0) + 3 * w(2) + 1 * w(3)
    val idcg = 3 * w(0) + 2 * w(1) + 1 * w(2)
    assert(got.getAs[Long]("n_queries") === 2L)
    // q1 rr = 1e6 (first hit at rank 1), q2 rr = 0 -> mean 500000
    assert(got.getAs[Long]("mrr_units") === 500000L)
    assert(got.getAs[Long]("ndcg_permille") === (dcg * 1000 / idcg) / 2,
      s"q1 ndcg ${dcg * 1000 / idcg} averaged with q2's 0")
    // q1: all 3 relevant in the top 5 -> 1000; q2: 0 -> mean 500
    assert(got.getAs[Long]("recall_at5_permille") === 500L)
    // the ideal ranking scores perfect across the board
    val ideal = Seq((1L, "a", 1), (1L, "b", 2), (1L, "c", 3))
      .toDF("q", "item", "pos")
    val p = Graft.rankEval(ideal, "q", "item", "pos",
      relevant.filter(col("q") === 1L), "q", "item", "grade")
      .collect().head
    assert(p.getAs[Long]("mrr_units") === 1000000L)
    assert(p.getAs[Long]("ndcg_permille") === 1000L)
    assert(p.getAs[Long]("recall_at5_permille") === 1000L)
  }

  test("knnIvfPrefix: the full-dim slice is exactly knnIvf, and a " +
      "truncating slice searches in the sliced space") {
    val vecs = (0 until 30).map { i =>
      val a = 1.0 + i * 0.1
      (i.toLong, Seq(a, 2.0, if (i % 2 == 0) a else 3.0 - a, 1.0))
    }.toDF("vid", "emb")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val full = rows(Graft.knnIvf(vecs, "vid", "emb",
      col("vec_id") < 5, nlist = 3, nprobe = 2, k = 3))
    val sliced4 = rows(Graft.knnIvfPrefix(vecs, "vid", "emb",
      col("vec_id") < 5, mDims = 4, nlist = 3, nprobe = 2, k = 3))
    assert(sliced4 === full, "mDims = fullDim must be the identity budget")
    // m = 2 drops the sign-flipping dim: the search runs, returns k
    // rows per query, and its cosines live in the sliced space
    val sliced2 = Graft.knnIvfPrefix(vecs, "vid", "emb",
        col("vec_id") < 5, mDims = 2, nlist = 3, nprobe = 2, k = 3)
      .collect()
    assert(sliced2.length === 15, "3 neighbors per each of 5 queries")
    assert(sliced2.forall(r => r.getDouble(3) <= 1.0 + 1e-12))
  }

  test("weightedQuantiles: hand-computed cuts; unit weights reduce to " +
      "plain rank quantiles") {
    // weights concentrate the mass on the largest value: w = (1,1,1,7)
    // over v = (10,20,30,40) -> total 10; q250 needs cw>=2.5 -> v=20 at
    // cw=2? 2*1000 >= 250*10 -> 2000 >= 2500 false; v=30 (cw=3) -> 3000
    // >= 2500 -> 30; q500 needs cw>=5 -> v=40; q900 -> v=40
    val df = Seq((1L, 10L, 1L), (2L, 20L, 1L), (3L, 30L, 1L),
      (4L, 40L, 7L)).map { case (i, v, w) => ("g", i, v, w) }
      .toDF("grp", "id", "v", "w")
    val got = Graft.weightedQuantiles(df, "grp", "id", "v", "w",
        Seq(250, 500, 900))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got === Map(250L -> 30L, 500L -> 40L, 900L -> 40L))
    // unit weights: wq(q) = value at rank ceil(q*n/1000) in (v, id) order
    val rnd = new scala.util.Random(5)
    val vals = Vector.fill(97)(rnd.nextInt(1000).toLong)
    val unit = vals.zipWithIndex
      .map { case (v, i) => ("u", i.toLong, v, 1L) }
      .toDF("grp", "id", "v", "w")
    val qs = Seq(100, 250, 500, 750, 999)
    val gotU = Graft.weightedQuantiles(unit, "grp", "id", "v", "w", qs)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val sorted = vals.sorted
    qs.foreach { q =>
      val want = sorted(math.ceil(q * 97 / 1000.0).toInt - 1)
      assert(gotU(q.toLong) === want, s"q=$q")
    }
  }

  test("weightedQuantiles: zero-total-weight groups are dropped, and " +
      "fractional value/weight columns are rejected, not truncated") {
    // group z carries no mass: every row would satisfy the cut
    // vacuously and return min(v) — it must not appear at all
    val df = Seq(("g", 1L, 10L, 2L), ("g", 2L, 20L, 2L),
      ("z", 3L, 5L, 0L), ("z", 4L, 7L, 0L))
      .toDF("grp", "id", "v", "w")
    val got = Graft.weightedQuantiles(df, "grp", "id", "v", "w", Seq(500))
      .collect().map(r => (r.getString(0), r.getLong(2)))
    assert(got.toSeq === Seq(("g", 10L)))
    // a double weight column would silently zero out sub-1 weights
    // under cast("long") — refused with a pointer to integer units
    val frac = Seq(("g", 1L, 10L, 0.4), ("g", 2L, 20L, 0.6))
      .toDF("grp", "id", "v", "w")
    val e = intercept[IllegalArgumentException] {
      Graft.weightedQuantiles(frac, "grp", "id", "v", "w", Seq(500))
    }
    assert(e.getMessage.contains("integral"))
  }

  test("oodReport: exact p95 radius, self-batch base rate, and a planted " +
      "novel batch flagging far above it") {
    import scala.math.{cos => mcos, sin => msin, Pi}
    def vec(deg: Double) = Seq(mcos(deg * Pi / 180), msin(deg * Pi / 180))
    // one effective cell around 0deg (seed id 0; id 1 seeds a second cell
    // at 90deg with a lone far member so p95 stays defined): 40 base
    // members spread 0..19.5deg with unique distances
    val base = (Seq((1L, vec(90)), (41L, vec(85))) ++
      (0L to 39L).map(i => (if (i == 0) 0L else i + 1,
        vec(i * 0.5)))).toDF("vid", "emb")
    val (cells, cents) = Graft.buildIvfIndex(base, "vid", "emb", nlist = 2)
    // self-probe: flagged count per cell is EXACTLY n - ⌈0.95n⌉ when
    // distances are distinct (strictly-greater-than-p95 definition).
    // The rank is the INTEGER (n·95 + 99) DIV 100 — the 40-member cell
    // here is precisely the n % 20 == 0 case where double ceil(n·0.95)
    // used to overshoot to 39 and under-flag by one (r17 advice)
    val self = Graft.oodReport(cells, cents, base, "vid", "emb")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    self.foreach { case (cid, (nBase, nInc, nFlag)) =>
      assert(nInc === nBase, s"self-probe repopulates cell $cid")
      assert(nFlag === nBase - (nBase * 95 + 99) / 100,
        s"cell $cid: distinct distances make the tail count exact")
    }
    // a novel batch at 40-45deg routes to the 0deg cell (closer than
    // 90deg) but sits far outside its ~19.5deg p95 radius: all flagged
    val novel = (0 until 10).map(j => (200L + j, vec(40.0 + j * 0.5)))
      .toDF("vid", "emb")
    val got = Graft.oodReport(cells, cents, novel, "vid", "emb")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val homeCell = got.filter(_._2._1 > 0)
    assert(homeCell.size === 1, "the novel batch routes to one cell")
    val (_, (nInc, nFlag, permille)) = homeCell.head
    assert(nInc === 10L && nFlag === 10L && permille === 1000L,
      s"every novel item must exceed the base radius, got $nFlag/$nInc")
  }

  test("oodFilter: per-item flags sum to the report's per-cell counts, " +
      "the verdict is exactly du > p95, and base-rate holds") {
    import scala.math.{cos => mcos, sin => msin, Pi}
    def vec(deg: Double) = Seq(mcos(deg * Pi / 180), msin(deg * Pi / 180))
    val base = (Seq((1L, vec(90)), (41L, vec(85))) ++
      (0L to 39L).map(i => (if (i == 0) 0L else i + 1,
        vec(i * 0.5)))).toDF("vid", "emb")
    val (cells, cents) = Graft.buildIvfIndex(base, "vid", "emb", nlist = 2)
    // self-probe: the actuator's flagged rows per cell must equal the
    // monitor's n_flagged (they share the p95 machinery but this pins
    // the per-item projection against the aggregate)
    val items = Graft.oodFilter(cells, cents, base, "vid", "emb").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
    val report = Graft.oodReport(cells, cents, base, "vid", "emb")
      .collect().map(r => r.getInt(0) -> (r.getLong(2), r.getLong(4))).toMap
    assert(items.length === 42, "one verdict row per incoming item")
    items.groupBy(_._2).foreach { case (cid, rows) =>
      assert(rows.count(_._5) === report(cid)._2,
        s"cell $cid: per-item flags must sum to the report's n_flagged")
      rows.foreach { case (vid, _, du, p95, flagged) =>
        assert(p95 === report(cid)._1, s"item $vid carries its cell radius")
        assert(flagged === (du > p95), s"item $vid: verdict is du > p95")
      }
    }
    // base rate: ~5% flagged by the strictly-greater-than-p95 definition
    val flaggedN = items.count(_._5)
    assert(flaggedN >= 1 && flaggedN <= 42 * 8 / 100,
      s"self-probe flag rate must sit near 50 permille, got $flaggedN/42")
    // the novel batch is flagged wholesale, each row naming its radius
    val novel = (0 until 10).map(j => (200L + j, vec(40.0 + j * 0.5)))
      .toDF("vid", "emb")
    val nf = Graft.oodFilter(cells, cents, novel, "vid", "emb")
      .filter(col("flagged")).collect()
    assert(nf.length === 10, "every novel item lands in quarantine")
  }

  test("epochShuffle: hand-replay of the hash, ranks, and shard balance") {
    val ids = (0L until 64L).toDF("rid")
    val got = Graft.epochShuffle(ids, "rid", epoch = 0, nShards = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val P = 2147483647L
    def h(id: Long, ep: Long) = (id * 2654435761L + ep * 40503L) % P * 48271L % P
    // every row's hash and shard replay by hand
    (0L until 64L).foreach { id =>
      assert(got(id)._1 === h(id, 0), s"hash mismatch at $id")
      assert(got(id)._2 === h(id, 0) % 4, s"shard mismatch at $id")
    }
    // positions are the 1-based rank of h within the shard
    val byShard = (0L until 64L).groupBy(id => h(id, 0) % 4)
    byShard.foreach { case (shard, members) =>
      val order = members.sortBy(id => (h(id, 0), id))
      order.zipWithIndex.foreach { case (id, i) =>
        assert(got(id)._3 === i + 1L, s"pos mismatch at $id in shard $shard")
      }
    }
    // a different epoch produces a different global order
    val e1 = Graft.epochShuffle(ids, "rid", epoch = 1, nShards = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 64L).exists(id => e1(id) !== got(id)._1))
    // determinism: a second run is byte-identical
    val again = Graft.epochShuffle(ids, "rid", epoch = 0, nShards = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(again === got)
  }

  test("epochShuffle: wrap-safe hash for ids beyond 2^31 and below 0") {
    // ids where the unreduced id*2654435761 product wraps Long (r16
    // advice): the engine must match the DOCUMENTED split formula
    // ((id mod P)*c1 + ep*c2) mod P * c3 mod P, not the wrapped value
    val P = 2147483647L
    def pm(x: Long) = ((x % P) + P) % P
    def h(id: Long, ep: Long) =
      (pm(id) * 2654435761L + pm(ep) * 40503L) % P * 48271L % P
    val big = Seq(5_000_000_000L, Long.MaxValue - 7L, -42L, -5_000_000_000L,
      Long.MinValue + 13L, 3_470_000_000L)
    val got = Graft.epochShuffle(big.toDF("rid"), "rid", epoch = 3,
        nShards = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    big.foreach { id =>
      assert(got(id)._1 === h(id, 3), s"hash mismatch at $id")
      assert(got(id)._2 === h(id, 3) % 4, s"shard mismatch at $id")
      assert(got(id)._1 >= 0 && got(id)._1 < P, s"hash out of [0,P) at $id")
    }
  }

  test("epochShuffle: refuses inputs already carrying output columns") {
    val clash = Seq((1L, 9L)).toDF("rid", "pos")
    val e = intercept[IllegalArgumentException] {
      Graft.epochShuffle(clash, "rid", epoch = 0, nShards = 2)
    }
    assert(e.getMessage.contains("pos"))
  }

  test("winnowFingerprints: a doc beyond the 2^22-gram key bound fails loudly") {
    // r16 advice: the documented cap was unenforced — an oversized doc's
    // position component bled into the hash bits and returned silently
    // corrupt fingerprints. One doc with cap+1 grams must now raise.
    val nTokens = (1 << 22) + 3 // n_grams = n_tokens - 2 = cap + 1
    val sb = new StringBuilder(2 * nTokens)
    (0 until nTokens).foreach(_ => sb.append("a "))
    val oversized = Seq((7L, sb.result().trim)).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Graft.winnowFingerprints(oversized, "doc_id", "text").count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("winnow")),
      s"expected the winnow cap error, got: ${messages(e).mkString(" | ")}")
  }

  test("winnowFingerprints: guarantee holds — every full window is covered") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(300)
    val sel = Graft.winnowFingerprints(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toVector).toMap
    val nGrams = docs.collect().map(r => r.getLong(0) ->
      math.max(r.getString(1).split(" ").length - 2, 0)).toMap
    nGrams.foreach { case (id, m) =>
      if (m == 0) assert(!sel.contains(id), s"doc $id has no grams")
      else {
        val ps = sel(id)
        assert(ps.nonEmpty, s"doc $id must select at least one hash")
        // coverage of every full window start ws ∈ [0, max(m-4, 0)]:
        // first selection within the first window, gaps ≤ 4, last
        // selection within the final window
        assert(ps.head <= 3L, s"doc $id: first window uncovered")
        ps.sliding(2).foreach {
          case Vector(a, b) =>
            assert(b - a <= 4L, s"doc $id: window gap $a→$b uncovered")
          case _ =>
        }
        assert(ps.last >= math.max(m - 4, 0).toLong,
          s"doc $id: last window uncovered")
      }
    }
  }

  test("winnowFingerprints: rightmost-min hand replay; copies fingerprint equal") {
    // replicate the engine hash: first 10 hex chars of md5(gram) as int
    def h10(gram: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(gram.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 10), 16)
    }
    val text = "w1 w2 w3 w4 w5 w6 w7 w8"
    val toks = text.split(" ")
    val grams = toks.sliding(3).map(_.mkString(" ")).toVector // m = 6
    val hs = grams.map(h10)
    // expected: for ws ∈ 0..2, rightmost argmin of hs[ws..ws+3]
    val want = (0 to 2).map { ws =>
      val win = (ws to ws + 3).map(p => (hs(p), p))
      val mn = win.map(_._1).min
      val p = win.filter(_._1 == mn).map(_._2).max
      (p.toLong, hs(p))
    }.toSet
    val got = Graft.winnowFingerprints(
        Seq((7L, text)).toDF("id", "txt"), "id", "txt")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got === want, "selection must be the rightmost window minimum")
    // an exact copy under another id selects the identical fingerprint
    val two = Graft.winnowFingerprints(
        Seq((7L, text), (8L, text)).toDF("id", "txt"), "id", "txt")
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(r => (r.getLong(1), r.getLong(2))).toSet).toMap
    assert(two(7L) === two(8L), "identical text → identical fingerprints")
  }

  test("budgetPlan: water-filling hand derivation — cap, redistribute, converge") {
    // stratum a: 10 tokens, share 800; stratum b: 1000 tokens, share 200
    // budget 500, cap 1500‰ → caps 15 and 1500
    // round 1: prop_a = 500*800/1000 = 400 > 15 → capped, alloc 15;
    //          prop_b = 100 ≤ 1500 → alloc 100
    // round 2: used 15, wr 200 → prop_b = 485*200/200 = 485 → alloc 485
    // round 3: fixpoint (same totals) — full budget 15 + 485 = 500 placed
    def doc(st: String, n: Int, id: Long) = (id, st, Seq.fill(n)("w").mkString(" "))
    val corpus = (Seq(doc("a", 10, 1L)) ++
      (0 until 10).map(i => doc("b", 100, 10L + i))).toDF("id", "src", "body")
    val got = Graft.budgetPlan(corpus, "body", "src",
        Map("a" -> 800L, "b" -> 200L), budget = 500L, capPermille = 1500,
        rounds = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getInt(6))).toMap
    assert(got("a") === ((10L, 15L, 15L, 1500L, 1)), "a caps at 1.5 epochs")
    assert(got("b") === ((1000L, 1500L, 485L, 485L, 0)),
      "b absorbs the redistributed excess")
    // extra rounds are a no-op once converged
    val more = Graft.budgetPlan(corpus, "body", "src",
        Map("a" -> 800L, "b" -> 200L), budget = 500L, capPermille = 1500,
        rounds = 8)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(more === Map("a" -> 15L, "b" -> 485L))
  }

  test("budgetPlan: all-capped leaves budget honestly unplaced") {
    val corpus = (0 until 3).flatMap(s =>
      (0 until 4).map(i => (s * 10L + i, s"s$s", Seq.fill(25)("t").mkString(" "))))
      .toDF("id", "src", "body") // three strata of 100 tokens each
    // budget 450, cap 1200‰ → caps 120; round 1 caps s0 (225) and s1
    // (135); round 2 caps s2 (prop 210*200/200 = 210); total 360 < 450
    val got = Graft.budgetPlan(corpus, "body", "src",
        Map("s0" -> 500L, "s1" -> 300L, "s2" -> 200L), budget = 450L,
        capPermille = 1200, rounds = 3)
      .collect().map(r => r.getString(0) -> (r.getLong(4), r.getInt(6))).toMap
    assert(got === Map("s0" -> ((120L, 1)), "s1" -> ((120L, 1)),
      "s2" -> ((120L, 1))), "caps bind everywhere; 90 tokens unplaceable")
  }

  test("qualityTradeoff: conservation, monotone in cutoff, short docs pass") {
    val fx = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rows = graft.operators.TextOps.qualityTradeoffOn(spark, fx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val nDocs = fx.count()
    rows.foreach { case (_, nd, nk, td, tk) =>
      assert(nd + nk === nDocs, "every doc classified exactly once")
      assert(td >= 0 && tk >= 0)
    }
    // a stricter (lower) cutoff never drops FEWER docs
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._2 >= b._2, s"drop count must fall as cutoff rises: $a $b")
      case _ =>
    }
    // docs with < 2 tokens cannot be scored → pass every cutoff
    import spark.implicits._
    val tiny = Seq((1L, "en", "solo"), (2L, "en", "a b a b a b"))
      .toDF("doc_id", "lang", "text")
    val t = graft.operators.TextOps.qualityTradeoffOn(spark, tiny)
      .collect()
    assert(t.forall(_.getLong(2) >= 1L), "the 1-token doc is kept everywhere")
    // public API parity: renamed columns, custom grid
    val pub = Graft.qualityTradeoff(
        Seq((5L, "x y x y x y"), (6L, "q")).toDF("k", "body"), "k", "body",
        cutoffsMicronats = Seq(0L, 10000000L))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 5 scores 0 nats (all bigrams deterministic) → kept at cutoff 0;
    // doc 6 is unscorable → kept everywhere
    assert(pub(0L) === ((0L, 2L)), "zero-entropy doc survives even cutoff 0")
    assert(pub(10000000L) === ((0L, 2L)))
  }

  test("dedup index lifecycle: build -> probe -> append survivors -> " +
      "cross-batch dupe caught -> compact leaves the probe unchanged") {
    // day 0: an index of two originals; day 1: one fresh doc (survives)
    // and one near-dup of an indexed doc (dropped); day 2: a near-dup of
    // the DAY-1 survivor — only an appended index can catch it
    val day0 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("my_id", "body")
    val idx0 = Graft.buildDedupIndex(day0, "my_id", "body", 0.3)
    val batch1 = Seq(
      (10L, "red orange yellow green blue indigo violet ultraviolet"),
      (11L, "alpha beta gamma delta epsilon zeta eta")
    ).toDF("my_id", "body")
    val m1 = Graft.probeDedupIndex(idx0, batch1, "my_id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(m1 === Set((11L, 1L)), "the near-dup of an indexed doc matches")
    val survivors1 = batch1.filter(col("my_id") === 10L)
    val idx1 = Graft.appendToDedupIndex(idx0, survivors1, "my_id", "body")
    val batch2 = Seq(
      (20L, "red orange yellow green blue indigo violet")
    ).toDF("my_id", "body")
    assert(Graft.probeDedupIndex(idx0, batch2, "my_id", "body").count() === 0,
      "the frozen day-0 index is blind to the cross-batch dupe")
    val m2 = Graft.probeDedupIndex(idx1, batch2, "my_id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(m2 === Set((20L, 10L)),
      "the appended index catches the dupe of the day-1 survivor")
    // compaction changes tables, never probe results
    val m2c = Graft.probeDedupIndex(Graft.compactDedupIndex(idx1), batch2,
        "my_id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(m2c === m2)
    // the LSH-bucketed variant runs the same lifecycle
    val lsh1 = Graft.appendToDedupIndex(
      Graft.buildDedupIndex(day0, "my_id", "body", 0.3, withLsh = true),
      survivors1, "my_id", "body")
    assert(lsh1.buckets.nonEmpty)
    val mL = Graft.probeDedupIndex(lsh1, batch2, "my_id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mL === m2)
    // takedown: expire the day-1 survivor -> its dupe stops matching,
    // while a dupe of a still-indexed doc is unaffected
    val idx2 = Graft.expireFromDedupIndex(idx1,
      survivors1.select(col("my_id")), "my_id")
    assert(Graft.probeDedupIndex(idx2, batch2, "my_id", "body").count() === 0,
      "expired content must never resurface through the index")
    val batch3 = Seq((30L, "alpha beta gamma delta epsilon zeta"))
      .toDF("my_id", "body")
    assert(Graft.probeDedupIndex(idx2, batch3, "my_id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((30L, 1L)), "surviving docs still match after expiry")
  }

  test("advanceSnapshot: one call runs diff -> apply -> expire -> probe " +
      "-> append with the documented stage semantics") {
    val oldSnap = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "red orange yellow green blue indigo violet ultraviolet")
    ).toDF("my_id", "body")
    val newSnap = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "cold warm hot boiling freezing tepid lukewarm scalding"),
      (4L, "monday tuesday wednesday thursday friday saturday sunday"),
      (5L, "alpha beta gamma delta epsilon zeta eta")
    ).toDF("my_id", "body")
    val adv = Graft.advanceSnapshot(
      Graft.buildDedupIndex(oldSnap, "my_id", "body", 0.3),
      oldSnap, newSnap, "my_id", "body")
    // the applyCdc invariant: the advanced store IS the new snapshot
    assert(adv.applied.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
      === newSnap.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    // per-id classification
    assert(adv.diff.select(col("doc_id"), col("status")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "unchanged"), (2L, "removed"), (3L, "changed"),
        (4L, "added"), (5L, "added")))
    // the batch near-dup of surviving doc 1 is rejected; the changed doc
    // 3 (novel new text) and the fresh doc 4 append
    assert(adv.matches.select(col("new_id"), col("matched_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((5L, 1L)))
    assert(adv.appended.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet === Set(3L, 4L))
    // the advanced index: expired doc 2's content can never match again,
    // while appended doc 4's content does
    val probe = Seq(
      (40L, "one two three four five six seven eight nine"),
      (41L, "monday tuesday wednesday thursday friday saturday")
    ).toDF("my_id", "body")
    assert(Graft.probeDedupIndex(adv.index, probe, "my_id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((41L, 4L)))
  }

  test("dedupCompactionDecision: a fresh index reads exactly keep at " +
      "excess 1000, and the verdict flips to compact as appended " +
      "volume grows") {
    // base: 8 docs with fully disjoint vocabularies (the frozen order
    // knows only these); appended docs share 4 'cz' tokens (2 identical
    // shingles) plus 4 unique ones — under the FROZEN order all their
    // shingles tie at f = 0, so prefixes routinely include the shared
    // shingles and every probe×appended pair collides; the COMPACTED
    // order knows the cz shingles are common and fills prefixes with
    // the genuinely-rare unique ones instead
    def doc(id: Long, toks: Seq[String]) = (id, toks.mkString(" "))
    val base = (1L to 8L).map(i =>
      doc(i, (1 to 8).map(t => s"a$i$t"))).toDF("my_id", "body")
    val app16 = (0 until 16).map(j =>
      doc(100L + j, Seq("cz1", "cz2", "cz3", "cz4")
        ++ (1 to 4).map(t => s"bz$j$t"))).toDF("my_id", "body")
    val probe = ((0 until 10).map(j =>
      doc(200L + j, Seq("cz1", "cz2", "cz3", "cz4")
        ++ (1 to 4).map(t => s"pz$j$t")))
      :+ doc(300L, (1 to 7).map(t => s"a1$t") :+ "zz")) // true near-dup
      .toDF("my_id", "body")
    val idx0 = Graft.buildDedupIndex(base, "my_id", "body", 0.5)
    def decide(idx: graft.api.DedupIndex) =
      Graft.dedupCompactionDecision(idx, probe, "my_id", "body")
        .collect().head
    // endpoint 0: un-appended index — both arms share the order, so
    // candidates are IDENTICAL and excess is exactly 1000: keep
    val d0 = decide(idx0)
    assert(d0.getAs[Long]("excess_permille") === 1000L)
    assert(d0.getAs[String]("decision") === "keep")
    assert(d0.getAs[Long]("n_verified") === 1L, "the planted true pair")
    // volume 2 then 16: excess grows monotonically, verified is
    // arm-independent throughout, and the verdict flips
    val d2 = decide(Graft.appendToDedupIndex(idx0,
      app16.filter(col("my_id") < 102L), "my_id", "body"))
    val d16 = decide(Graft.appendToDedupIndex(idx0, app16,
      "my_id", "body"))
    assert(d2.getAs[Long]("n_verified") === 1L)
    assert(d16.getAs[Long]("n_verified") === 1L)
    assert(d2.getAs[Long]("excess_permille")
      < d16.getAs[Long]("excess_permille"),
      s"excess must grow with appended volume: $d2 vs $d16")
    assert(d16.getAs[String]("decision") === "compact",
      s"the drifted index must trip the default threshold: $d16")
    // compacting resets the monitor to the keep state
    val dc = decide(Graft.compactDedupIndex(
      Graft.appendToDedupIndex(idx0, app16, "my_id", "body")))
    assert(dc.getAs[Long]("excess_permille") === 1000L)
    assert(dc.getAs[String]("decision") === "keep")
  }

  test("appendToDedupIndex refuses a re-appended id: the disjointness " +
      "contract fails loudly instead of inflating index rows") {
    val day0 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("my_id", "body")
    val idx0 = Graft.buildDedupIndex(day0, "my_id", "body", 0.3)
    val clash = Seq(
      (1L, "completely different words that reuse an indexed id"),
      (10L, "red orange yellow green blue indigo violet")
    ).toDF("my_id", "body")
    val e = intercept[IllegalArgumentException] {
      Graft.appendToDedupIndex(idx0, clash, "my_id", "body")
    }
    assert(e.getMessage.contains("already"),
      s"refusal must name the clash: ${e.getMessage}")
    // the disjoint remainder of the same batch appends fine
    val ok = Graft.appendToDedupIndex(idx0,
      clash.filter(col("my_id") === 10L), "my_id", "body")
    assert(ok.shingles.count() === 3)
  }

  test("applyCdc: delete/update/insert land, upsert is idempotent on a " +
      "replayed changelog, unknown ops fail loudly") {
    val base = Seq((1L, "one"), (2L, "two"), (3L, "three"))
      .toDF("id", "body")
    val cl = Seq(("D", 2L, null.asInstanceOf[String]),
      ("U", 3L, "three-v2"), ("I", 9L, "nine"))
      .toDF("op", "id", "body")
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val applied = Graft.applyCdc(base, cl, "id")
    assert(snap(applied) ===
      Map(1L -> "one", 3L -> "three-v2", 9L -> "nine"))
    // idempotence: replaying the same changelog over the applied
    // snapshot is a no-op (D of a gone id, U/I payloads win again)
    assert(snap(Graft.applyCdc(applied, cl, "id")) === snap(applied))
    // unknown op raises through the projection — never a silent keep
    val bad = Seq(("X", 1L, "boom")).toDF("op", "id", "body")
    val e = intercept[Exception] {
      Graft.applyCdc(base, bad, "id").collect()
    }
    assert(e.getMessage.contains("unknown op"),
      s"expected the loud refusal: ${e.getMessage}")
    // the audited identity the registered fixture pins: |applied| =
    // |base| - deletes + inserts
    assert(applied.count() === base.count() - 1 + 1)
  }

  test("snapshotDiff: every status classified; token sides NULL when absent") {
    val oldSnap = Seq((1L, "a b c"), (2L, "d e"), (3L, "f g h i"))
      .toDF("id", "txt")
    val newSnap = Seq((1L, "a b c"), (2L, "d e CHANGED"), (4L, "new doc"))
      .toDF("id", "txt")
    val got = Graft.snapshotDiff(oldSnap, newSnap, "id", "txt")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(got(1L) === (("unchanged", Some(3L), Some(3L))))
    assert(got(2L) === (("changed", Some(2L), Some(3L))))
    assert(got(3L) === (("removed", Some(4L), None)))
    assert(got(4L) === (("added", None, Some(2L))))
  }

  test("snapshotDiff: NULL text is a content change, never a membership change") {
    // r16 advice: presence must come from the join sides, not from
    // fingerprint nullness — a doc present on BOTH sides with NULL text
    // on one was misclassified added/removed
    val oldSnap = Seq((1L, "a b"), (2L, null: String), (3L, null: String))
      .toDF("id", "txt")
    val newSnap = Seq((1L, null: String), (2L, "x y z"), (3L, null: String))
      .toDF("id", "txt")
    val got = Graft.snapshotDiff(oldSnap, newSnap, "id", "txt")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "changed", "text -> NULL is changed, not removed")
    assert(got(2L) === "changed", "NULL -> text is changed, not added")
    assert(got(3L) === "unchanged", "NULL on both sides is unchanged")
  }

  test("winnowOverlap: a shared 6-token run fires; disjoint eval doc is absent") {
    val corpus = Seq(
      (1L, "q w e r t y u i o p"),              // train
      (3L, "m n b v c x z l k j"),              // train, disjoint
      (10L, "pre1 pre2 q w e r t y post1"),     // eval: shares 6-run with 1
      (20L, "aa bb cc dd ee ff gg hh")          // eval: shares nothing
    ).toDF("doc_id", "text")
    val got = graft.operators.TextOps.winnowOverlapOn(corpus)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.contains(10L), "6-token shared run must be detected")
    assert(got(10L) >= 1L)
    assert(!got.contains(20L), "disjoint eval doc must not appear")
  }

  test("spanScrub: xxhash64 gram keys give the identical scrub on the fixture") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val str = graft.operators.TextOps.spanScrubOn(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    val hashed = graft.operators.TextOps.spanScrubOn(docs, hashGrams = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    assert(hashed === str, "hashed-key scrub must equal string-key scrub")
  }
}
