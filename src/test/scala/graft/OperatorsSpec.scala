package graft

import graft.operators.{Dedup, Embeddings, Multimodal, Sampling, Sequences, Similarity, Stats, TextAnalysis}
import org.apache.spark.sql.functions._

/** Training-data operator semantics on controlled inputs. */
class OperatorsSpec extends SparkSpec {

  private lazy val docs = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 0
      (2L, "completely different text about spark catalyst optimizer and shuffle exchange plans"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
      (4L, "El rapido zorro marron salta sobre el perro perezoso de la ciudad y de la era")
    ).toDF("doc_id", "text")
  }

  test("exact dedup keeps min id and counts duplicates") {
    val r = Dedup.exact(docs, "text", "doc_id").collect()
      .map(x => x.getAs[Long]("keep_id") -> x.getAs[Long]("dup_count")).toMap
    assert(r(0L) === 2L) // docs 0 and 3
    assert(r.size === 4)
  }

  test("ngram jaccard finds the near-dup pair and the exact-dup pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((0L, 3L)) && pairs.contains((0L, 1L)) && pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("minhash LSH pairs equal exact jaccard pairs on this corpus") {
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard"))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "text", "doc_id", 3, 128, 32, 0.5).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard"))).toSet
    assert(lsh === exact)
  }

  test("minhash signature agreement estimates jaccard within tolerance") {
    val sh = Dedup.shingles(docs, "text", "doc_id", 3).cache()
    val sig = Dedup.minhashSignatures(sh, 128).collect()
      .map(r => r.getAs[Long]("doc") -> r.getAs[Seq[Long]]("sig")).toMap
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.0).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    exact.foreach { case ((a, b), j) =>
      val agree = sig(a).zip(sig(b)).count { case (x, y) => x == y } / 128.0
      assert(math.abs(agree - j) <= 0.15, s"pair ($a,$b): est $agree vs exact $j")
    }
  }

  test("simhash: exact dups collide, near-dups within small hamming distance") {
    val fps = Dedup.simhash(docs, "text", "doc_id").collect()
      .map(r => r.getAs[Long]("doc") -> r.getAs[Long]("simhash")).toMap
    assert(fps(0L) === fps(3L))
    val nearDup = java.lang.Long.bitCount(fps(0L) ^ fps(1L))
    val unrelated = java.lang.Long.bitCount(fps(0L) ^ fps(2L))
    assert(nearDup < unrelated, s"near=$nearDup unrelated=$unrelated")
  }

  test("simhash: token-less docs are dropped, never paired as hamming-0 dups") {
    val s = spark
    import s.implicits._
    // two empty and two spaces-only docs: the old explode/aggregate
    // chain produced no group for them; fp 0 would make all 6 pairs of
    // them a hamming-0 "near-dup" clique (ADVICE r7). (The tokenizer
    // contract is single-space split — "\n\t" WOULD be a token.)
    val mix = Seq((1L, ""), (2L, ""), (3L, "    "), (4L, " "),
      (5L, "real text here"), (6L, "real text here")).toDF("doc_id", "text")
    val fps = Dedup.simhash(mix, "text", "doc_id").collect()
    assert(fps.map(_.getAs[Long]("doc")).toSet === Set(5L, 6L))
    val pairs = Dedup.simhashPairs(mix, "text", "doc_id").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs === Set((5L, 6L)))
  }

  test("containment: prefix-filtered form equals the aggregation form, boundary pairs included") {
    val s = spark
    import s.implicits._
    // docs 10/11 share EXACTLY 4 of doc 10's 5 shingles: c_ab = 4/5 =
    // 0.8 — ON the threshold after rounding, the case the conservative
    // prefix bound k = ceil((t-5e-7)*min)-1 must not drop
    val boundary = Seq(
      (10L, "a b c d e f g"),
      (11L, "a b c d e f x and some extra tail words here")
    ).toDF("doc_id", "text")
    val corpus = docs.unionByName(boundary)
    Seq(0.5, 0.8).foreach { t =>
      def run(f: => org.apache.spark.sql.DataFrame) = {
        val r = f.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("c_ab"), r.getAs[Double]("c_ba"))).toSet
        graft.core.CacheScope.release(); r
      }
      val agg = run(Dedup.containmentPairsAgg(corpus, "text", "doc_id", 3, t))
      val pre = run(Dedup.containmentPairsPrefix(corpus, "text", "doc_id", 3, t))
      assert(pre === agg, s"threshold $t")
      assert(agg.exists { case (a, b, _, _) => (a, b) == (10L, 11L) },
        s"boundary pair missing at threshold $t")
    }
  }

  test("containment dispatch: agg below cutoff or under t=0.8; prefix only at scale-unknown high threshold") {
    // a Generate defeats the row-bound walker (row-multiplying operator)
    // -> upperBound None -> "assume huge", the scale-safe default; the
    // single-element explode keeps the rows themselves identical
    val unknown = docs.select(col("doc_id"),
      explode(array(col("text"))).as("text"))
    def shape(df: org.apache.spark.sql.DataFrame): String = {
      val s = df.queryExecution.executedPlan.toString
      graft.core.CacheScope.release(); s
    }
    // prefix form's signature operator: the in-row sorted-merge verify
    val marker = "graft_intersect_count"
    assert(!shape(Dedup.containmentPairs(docs, "text", "doc_id", 3, 0.8))
      .contains(marker), "bounded-small corpus must take the agg form")
    assert(!shape(Dedup.containmentPairs(unknown, "text", "doc_id", 3, 0.6))
      .contains(marker), "t<0.8 must take the agg form at any size (measured loss)")
    assert(shape(Dedup.containmentPairs(unknown, "text", "doc_id", 3, 0.8))
      .contains(marker), "scale-unknown t>=0.8 must take the prefix form")
  }

  test("simhash pairs: folded identity-pair expansion matches brute force on a template-heavy corpus") {
    val s = spark
    import s.implicits._
    // template-heavy: a 3-doc and a 2-doc hamming-0 group (the folded
    // identity-pair expansion must emit each unordered pair exactly
    // once), one-word variants of a LONG base (many distinct tokens keep
    // per-bit sums away from zero, so a one-word change flips only 1-3
    // fingerprint bits — real cross pairs inside the threshold), and an
    // unrelated doc
    val base = "the quick brown fox jumps over the lazy dog near the river " +
      "bank today and the weather is fine with clear skies over the green " +
      "valley where birds sing all day long in summer"
    val mix = Seq(
      (0L, base),
      (1L, base + " tonight"),
      (2L, base + " tomorrow"),
      (3L, base),
      (4L, base),
      (5L, base + " tonight"),
      (6L, "completely different text about spark catalyst optimizer and shuffle exchange plans")
    ).toDF("doc_id", "text")
    val fps = Dedup.simhash(mix, "text", "doc_id").collect()
      .map(r => r.getAs[Long]("doc") -> r.getAs[Long]("simhash")).toMap
    // the operator's contract IS brute force at maxHamming <= 3: any pair
    // within hamming 3 of a 60-bit/4-chunk fingerprint shares a chunk
    // (pigeonhole), so candidates are a superset and the verify is exact
    val expected = (for {
      a <- fps.keys; b <- fps.keys if a < b
      h = java.lang.Long.bitCount(fps(a) ^ fps(b)) if h <= 3
    } yield (a, b, h)).toSet
    val rows = Dedup.simhashPairs(mix, "text", "doc_id", 3).collect()
    val got = rows
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("hamming"))).toSet
    assert(got === expected)
    assert(rows.length === expected.size, "a pair was emitted more than once")
    // sanity: the fixture exercised BOTH expansion arms — multi-doc
    // hamming-0 groups and nonzero cross pairs
    assert(expected.exists(_._3 == 0) && expected.exists(_._3 > 0))
  }

  test("driver union-find guards: over-cutoff graphs fall through, null ids are dropped not NPE") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b").persist()
    try {
      pairs.count()
      // over the (parameterized) cutoff the small path must decline —
      // the distributed loops own anything past the driver bound
      assert(Dedup.smallGraphLabels(pairs, maxEdges = 2L).isEmpty)
      assert(Dedup.smallGraphLabels(pairs, maxEdges = 3L).isDefined)
    } finally pairs.unpersist()
    // a null id must not NPE the driver path (r17 advice: Row.getLong on
    // null threw where the distributed loops would not crash); the null
    // edge is dropped, non-null edges label normally
    val withNull = Seq((Option(1L), Option(2L)), (Option.empty[Long], Option(5L)),
      (Option(2L), Option(3L))).toDF("doc_a", "doc_b").persist()
    try {
      withNull.count()
      val r = Dedup.smallGraphLabels(withNull).get.collect()
        .map(x => x.getAs[Long]("doc") -> x.getAs[Long]("cluster")).toMap
      assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    } finally withNull.unpersist()
  }

  test("driver union-find declines non-integral ids: string-keyed pairs are labelled, not dropped") {
    val s = spark
    import s.implicits._
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("doc_a", "doc_b").persist()
    try {
      pairs.count()
      assert(Dedup.smallGraphLabels(pairs).isEmpty)
      val want = Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x")
      Seq(Dedup.nearDupClusters(pairs), Dedup.nearDupClustersStar(pairs)).foreach { df =>
        val r = df.collect().map(x => x.getAs[String]("doc") -> x.getAs[String]("cluster")).toMap
        assert(r === want)
      }
    } finally pairs.unpersist()
  }

  test("near-dup clustering: chains collapse to min-id components") {
    val s = spark
    import s.implicits._
    // components: {1,2,3} via chain 1-2, 2-3; {7,9}; isolated pairs only
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val r = Dedup.nearDupClusters(pairs).collect()
      .map(x => x.getAs[Long]("doc") -> x.getAs[Long]("cluster")).toMap
    assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("driver union-find small path: persisted pair graphs label identically to both distributed loops") {
    val s = spark
    import s.implicits._
    // random-ish multi-component graph incl. a chain, a hub, dup edges
    // and an out-of-order pair (doc_a > doc_b never occurs upstream, but
    // the UF must not care about edge orientation)
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 10L),
      (20L, 21L), (20L, 22L), (20L, 23L), (23L, 24L), (50L, 51L), (2L, 3L))
    val pairs = raw.toDF("doc_a", "doc_b").persist()
    try {
      pairs.count()
      val viaUf = Dedup.nearDupClusters(pairs).collect()
        .map(x => x.getAs[Long]("doc") -> x.getAs[Long]("cluster")).toMap
      val viaUfStar = Dedup.nearDupClustersStar(pairs).collect()
        .map(x => x.getAs[Long]("doc") -> x.getAs[Long]("cluster")).toMap
      // the distributed loops, forced (direct entry points bypass the gate)
      val viaLabels = Dedup.minLabelCc(pairs)._1.collect()
        .map(x => x.getAs[Long]("doc") -> x.getAs[Long]("cluster")).toMap
      val viaStar = Dedup.starCc(pairs)._1.collect()
        .map(x => x.getAs[Long]("doc") -> x.getAs[Long]("cluster")).toMap
      assert(viaUf === viaLabels)
      assert(viaUfStar === viaStar)
      assert(viaLabels === viaStar)
      val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L,
        23L -> 20L, 24L -> 20L, 50L -> 50L, 51L -> 50L)
      assert(viaUf === expected)
    } finally pairs.unpersist()
    // un-persisted input NEVER takes the small path (the count would
    // recompute an unbounded pair generation): same result either way,
    // pinned here only for the guard's sake
    val cold = raw.toDF("doc_a", "doc_b")
    val viaCold = Dedup.nearDupClusters(cold).collect()
      .map(x => x.getAs[Long]("doc") -> x.getAs[Long]("cluster")).toMap
    assert(viaCold(4L) === 1L)
  }

  test("star CC beats min-label propagation on an adversarial long chain, and matches it") {
    val s = spark
    import s.implicits._
    // a 512-node path is the diameter-adversarial worst case for label
    // propagation — the shape the two-phase star rewiring exists for
    val n = 512L
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (viaLabels, labelRounds) = Dedup.minLabelCc(chain)
    val (viaStar, starRounds) = Dedup.starCc(chain)
    val expected = (0L until n).map(_ -> 0L).toMap
    assert(viaLabels.collect().map(x =>
      x.getAs[Long]("doc") -> x.getAs[Long]("cluster")).toMap === expected)
    assert(viaStar.collect().map(x =>
      x.getAs[Long]("doc") -> x.getAs[Long]("cluster")).toMap === expected)
    info(s"chain n=$n: min-label rounds=$labelRounds, star rounds=$starRounds")
    assert(starRounds <= labelRounds,
      s"star ($starRounds) should need no more rounds than min-label ($labelRounds)")
    // broom: a 2000-leaf hub with a 128-node chain hanging off one leaf —
    // degree skew AND diameter in one component (the mixed adversary)
    val hub = (1L to 2000L).map(i => (0L, i))
    val tail = (0L until 127L).map(i => (2000L + i, 2001L + i)) :+ (1L, 2000L)
    val broom = (hub ++ tail).toDF("doc_a", "doc_b")
    val (bLabels, bLabelRounds) = Dedup.minLabelCc(broom)
    val (bStar, bStarRounds) = Dedup.starCc(broom)
    val bExpected = (0L to 2127L).map(_ -> 0L).toMap
    assert(bLabels.collect().map(x =>
      x.getAs[Long]("doc") -> x.getAs[Long]("cluster")).toMap === bExpected)
    assert(bStar.collect().map(x =>
      x.getAs[Long]("doc") -> x.getAs[Long]("cluster")).toMap === bExpected)
    info(s"broom (2000-leaf hub + 128-chain): min-label rounds=$bLabelRounds, star rounds=$bStarRounds")
    assert(bStarRounds <= bLabelRounds,
      s"star ($bStarRounds) vs min-label ($bLabelRounds) on the broom")
  }

  test("language id picks the language with most marker hits") {
    val r = TextAnalysis.languageId(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("predicted_lang")).toMap
    assert(r(0L) === "en")
    assert(r(4L) === "es")
  }

  test("language id ties resolve to the alphabetically first language") {
    val s = spark
    import s.implicits._
    // 'de' is a marker for both es and zh (1 hit each) -> 'es' must win;
    // 'le' hits fr and zh -> 'fr'; 'la' hits es and fr -> 'es'.
    val tied = Seq((1L, "de"), (2L, "le"), (3L, "la"), (4L, "xyzzy"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.languageId(tied).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("predicted_lang")).toMap
    assert(r === Map(1L -> "es", 2L -> "fr", 3L -> "es", 4L -> "und"))
  }

  test("containment flags a near-subset that symmetric jaccard misses") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon"), // 3 shingles, all inside doc 2
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon")
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(d, "text", "doc_id", 3, 0.9).collect()
    assert(cont.length === 1)
    assert(cont.head.getAs[Double]("c_ab") === 1.0) // doc 1 fully contained
    assert(cont.head.getAs[Double]("c_ba") < 0.5)
    // symmetric jaccard at the same bar finds nothing
    assert(Dedup.ngramJaccardPairs(d, "text", "doc_id", 3, 0.9).count() === 0)
  }

  test("capped-approx census guard: stride-correlated ids fall back to the exact census") {
    val s = spark
    import s.implicits._
    // every id ≡ 1 (mod 8): the 1-in-8 id-mod census sample is EMPTY
    // (the r15 degenerate — an upstream filter or key-space offset can
    // leave the id space stride-correlated). Pre-guard, an empty sample
    // produced an empty hot list, silently DISABLING the df cap — the
    // exact quadratic candidate blow-up the cap exists to prevent.
    // Corpus: 12 pairs of docs; every doc shares an 8-shingle hot
    // phrase (df=24, must be capped) and each pair a 2-shingle unique
    // tail (df=2, must survive).
    val common = (1 to 10).map(i => s"c$i").mkString(" ")
    val d = (0 until 24).map { i =>
      (i * 8L + 1, s"$common u${i / 2}a u${i / 2}b")
    }.toDF("doc_id", "text")
    val exact = Dedup.containmentPairsCapped(d, "text", "doc_id", 3, 0.6, 0.2)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(exact.size === 12) // cap active: only the per-pair tails match
    val approx = Dedup.containmentPairsCappedApprox(d, "text", "doc_id", 3, 0.6, 0.2, 8)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(approx === exact) // guard fell back to the exact census
    // un-capped containment at the same bar sees all C(24,2) cross-pair
    // matches through the hot phrase — what the pre-guard empty census
    // silently degraded to
    assert(Dedup.containmentPairs(d, "text", "doc_id", 3, 0.6).count() === 276L)
    graft.core.CacheScope.release()
  }

  test("capped-approx census guard: a PARTIALLY stride-correlated id space trips the ratio floor") {
    val s = spark
    import s.implicits._
    // 1000 docs, only 40 with id ≡ 0 (mod 8): clears the absolute
    // `minSample` floor (40 ≥ 32) but carries 4% of the corpus where a
    // striding id space would carry 12.5% — the r16-verdict case where
    // the old guard ran the census on a silently biased sample. The 40
    // sampled docs are unique text; the other 960 share a 10-token hot
    // phrase (df = 960 ≫ ceil(0.05·1000)) plus a per-pair tail, so a
    // biased census would see NO hot shingles, disable the cap, and
    // emit all C(960,2) cross-pairs. The ratio floor must fall back to
    // the exact census instead: phrase capped, only the 480 tail pairs.
    val common = (1 to 10).map(i => s"c$i").mkString(" ")
    val d = (0 until 1000).map { i =>
      if (i < 40) (i * 8L, s"x${i}a x${i}b x${i}c x${i}d")
      else (i * 8L + 1, s"$common u${(i - 40) / 2}a u${(i - 40) / 2}b")
    }.toDF("doc_id", "text")
    val exact = Dedup.containmentPairsCapped(d, "text", "doc_id", 3, 0.6)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(exact.size === 480)
    val approx = Dedup.containmentPairsCappedApprox(d, "text", "doc_id", 3, 0.6)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(approx === exact) // ratio floor fell back to the exact census
    graft.core.CacheScope.release()
  }

  test("capped-approx census guard: a well-mixed id space passes the ratio floor and runs the sampled census") {
    val s = spark
    import s.implicits._
    // Consecutive ids 0..999: nSamp = 125 = N/8, well above both floors
    // — the guard must NOT fall back. Observable: the 125 sampled docs
    // all share a phrase (sample df = 125 > ceil(0.5·125), so the
    // SAMPLED census caps it) that sits far below the EXACT ceiling
    // (125 < ceil(0.5·1000)). Sampled census ⇒ phrase capped ⇒ 0 pairs;
    // a fallback to the exact census would keep the phrase and emit all
    // C(125,2) pairs.
    val common = (1 to 10).map(i => s"c$i").mkString(" ")
    val d = (0 until 1000).map { i =>
      if (i % 8 == 0) (i.toLong, s"$common v${i}a v${i}b")
      else (i.toLong, s"y${i}a y${i}b y${i}c y${i}d")
    }.toDF("doc_id", "text")
    assert(Dedup.containmentPairsCapped(d, "text", "doc_id", 3, 0.6, 0.5)
      .count() === 7750L) // C(125,2): the phrase survives the exact census
    assert(Dedup.containmentPairsCappedApprox(d, "text", "doc_id", 3, 0.6, 0.5)
      .count() === 0L) // sampled census ran and capped it
    graft.core.CacheScope.release()
  }

  test("int8 quantization: dequantized error bounded by scale/2 per component") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (0L, Array(1.0f, -0.5f, 0.25f)),
      (1L, Array(127.0f, 0.0f, -127.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val r = Embeddings.quantizeInt8(emb).collect()
      .map(x => x.getAs[Long]("vec_id") ->
        (x.getAs[Double]("scale"),
          x.getAs[scala.collection.Seq[Int]]("quantized").toSeq)).toMap
    assert(r(1L)._2 === Seq(127, 0, -127))
    assert(r(2L)._2 === Seq(0, 0, 0)) // zero vector: no division by zero
    val (scale0, q0) = r(0L)
    Seq(1.0, -0.5, 0.25).zip(q0).foreach { case (orig, q) =>
      assert(math.abs(orig - q * scale0) <= scale0 / 2 + 1e-9)
    }
    assert(q0.forall(q => q >= -127 && q <= 127))
  }

  test("deterministic sampling: stable across runs, roughly the asked rate") {
    val s = spark
    import s.implicits._
    val rows = (0L until 2000L).toDF("id")
    val a = Sampling.deterministicSample(rows, "id", 1, 10).collect().map(_.getLong(0)).toSet
    val b = Sampling.deterministicSample(rows, "id", 1, 10).collect().map(_.getLong(0)).toSet
    assert(a === b) // reproducible
    assert(a.size > 120 && a.size < 280) // ~10% of 2000
    // split labels partition everything, deterministically
    val labels = rows.select(Sampling.splitLabel(col("id"), 800, 100).as("l"))
      .groupBy("l").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(labels.values.sum === 2000L && labels.keySet === Set("train", "valid", "test"))
    assert(labels("train") > 1400) // ~80%
  }

  test("importance resample: histogram threshold cut equals the exact-rank fallback, ties included") {
    val s = spark
    import s.implicits._
    // raw corpus with DELIBERATE weight ties: identical texts featurize
    // to identical log_weights, so the K-th key lands inside a tied run
    // and the doc-id tiebreak decides membership — exactly the case the
    // histogram threshold must get right
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta", // docs 0,1,2 tie
      "alpha beta gamma delta epsilon zeta",
      "alpha beta gamma delta epsilon zeta",
      "spark shuffle exchange plan codegen whole stage",
      "spark shuffle exchange plan codegen whole stage", // 3,4 tie
      "quick brown fox lazy dog river bank",
      "target like tokens appear here often often often",
      "completely unrelated noise words zxq wvu tsr")
    val raw = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val target = Seq((100L, "target like tokens appear here often"),
      (101L, "alpha beta gamma appears in target too")).toDF("doc_id", "text")
    def run(histBinCollectMax: Long): Map[Long, (Long, Double, Long)] =
      Sampling.importanceResample(raw, target, "text", "doc_id", 64, 0.5,
          histBinCollectMax)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_feats"), r.getAs[Double]("log_weight"),
            r.getAs[Long]("keep")))).toMap
    val viaHist = run(Sampling.HistBinCollectMax)
    // force the exact-rank fallback through the tie-mass guard
    val viaRank = run(0L)
    assert(viaHist === viaRank)
    // the cut is exactly floor(0.5 * n) keeps
    assert(viaHist.values.count(_._3 == 1L) ===
      math.floor(0.5 * viaHist.size).toLong)
    // tied docs at the boundary resolve by id: keeps among a tied run are
    // a prefix of its doc ids
    val byW = viaHist.toSeq.groupBy(_._2._2)
    byW.values.foreach { grp =>
      val sortedByDoc = grp.sortBy(_._1)
      val keeps = sortedByDoc.map(_._2._3)
      assert(!keeps.sliding(2).exists(p => p.length == 2 && p(0) == 0L && p(1) == 1L),
        s"non-prefix keep inside a tied weight run: $sortedByDoc")
    }
  }

  test("importance resample: string ids rank on the exact path and match the long-id output") {
    val s = spark
    import s.implicits._
    // ties as above; zero-padded ids sort as strings the way the longs do
    val texts = Seq.fill(3)("alpha beta gamma delta epsilon zeta") ++
      Seq.fill(2)("spark shuffle exchange plan codegen whole stage") ++
      Seq("quick brown fox lazy dog river bank",
        "target like tokens appear here often often often",
        "completely unrelated noise words zxq wvu tsr")
    val targetTexts = Seq("target like tokens appear here often",
      "alpha beta gamma appears in target too")
    def run(id: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Map[String, (Long, Double, Long)] = {
      def corpus(ts: Seq[String], from: Int) =
        ts.zipWithIndex.map { case (t, i) => ((from + i).toLong, t) }.toDF("doc_id", "text")
          .withColumn("doc_id", id(col("doc_id")))
      Sampling.importanceResample(corpus(texts, 0), corpus(targetTexts, 100),
          "text", "doc_id", 64, 0.5)
        .collect().map(r => r.getAs[Any]("doc_id").toString ->
          ((r.getAs[Long]("n_feats"), r.getAs[Double]("log_weight"),
            r.getAs[Long]("keep")))).toMap
    }
    val byLong = run(identity)
    val byString = run(c => format_string("d%03d", c))
    assert(byString === byLong.map { case (k, v) => f"d${k.toInt}%03d" -> v })
    assert(byString.values.count(_._3 == 1L) === math.floor(0.5 * texts.size).toLong)
  }

  test("tf-idf: corpus-wide terms score zero, distinctive terms rank first") {
    val r = TextAnalysis.tfidfTopTerms(docs, 2).collect()
    val byDoc = r.groupBy(_.getAs[Long]("doc"))
    // every doc contributes exactly k rows with ranks 1..k
    byDoc.values.foreach(rows =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq === Seq(1, 2)))
    // doc 2's distinctive vocabulary must not include corpus-wide 'the'
    val top2 = byDoc(2L).map(_.getAs[String]("term")).toSet
    assert(!top2.contains("the"))
  }

  test("token-budget packing: bins are contiguous and start offsets respect budget") {
    val r = TextAnalysis.packByTokenBudget(docs, 20).orderBy(col("doc_id")).collect()
    val bins = r.map(_.getAs[Long]("bin"))
    assert(bins.head === 0L)
    assert(bins.sliding(2).forall(p => p(1) >= p(0))) // monotone
    // recompute: bin = floor(prefix-sum-before / budget)
    var cum = 0L
    r.foreach { row =>
      assert(row.getAs[Long]("bin") === cum / 20)
      cum += row.getAs[Long]("n_tokens")
    }
  }

  test("incremental dedup: drops corpus re-ingests and in-batch dups, keeps fresh") {
    val s = spark
    import s.implicits._
    val corpus = Seq((0L, "The quick brown fox!"), (1L, "something old")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick  brown fox"), // normalized dup of corpus 0 -> dropped
      (11L, "genuinely new content"),
      (12L, "Genuinely NEW content"), // in-batch normalized dup of 11 -> dropped
      (13L, "another fresh doc")).toDF("doc_id", "text")
    val r = Dedup.incrementalNew(batch, corpus, "text", "doc_id")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(r === Set(11L, 13L))
  }

  test("incremental near-dup: batch near-copy of a corpus doc is flagged, fresh is not") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1L, "an entirely separate corpus document about spark plans")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight zz"), // near-copy of 0
      (101L, "completely different words with no overlap at all today")
    ).toDF("doc_id", "text")
    val r = Dedup.incrementalNearDups(batch, corpus, "text", "doc_id")
      .collect().map(x => (x.getAs[Long]("doc_a"), x.getAs[Long]("doc_b"),
        x.getAs[Double]("jaccard")))
    // 10-token corpus doc: 8 shingles; 11-token batch copy: 9, sharing 8
    // -> 8 / (9 + 8 - 8)
    assert(r.toSeq === Seq((100L, 0L, 0.888889)))
  }

  test("near-dup index round-trips through save/load with identical results") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") < 50)
    val s = spark
    import s.implicits._
    val batch = docs.filter(col("doc_id").between(50, 80))
      .union(corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 900).as("doc_id"),
          concat(col("text"), lit(" zz")).as("text")))
    val built = Dedup.buildNearDupIndex(corpus, "text", "doc_id", cache = false)
    val dir = java.nio.file.Files.createTempDirectory("graft-ndi").toString
    built.save(dir)
    val loaded = Dedup.loadNearDupIndex(spark, dir, cache = false)
    assert((loaded.shingleWidth, loaded.numPerm, loaded.bands) ===
      (built.shingleWidth, built.numPerm, built.bands))
    def results(i: Dedup.NearDupIndex) = i.pairs(batch, "text", "doc_id").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    val b = results(built)
    assert(b.nonEmpty, "fixture must produce at least one near-dup pair")
    assert(results(loaded) === b)
  }

  test("near-dup index load fails fast on a previous-format index dir") {
    val s = spark
    import s.implicits._
    // emulate a v1 index: params without format_version, string shingles
    val dir = java.nio.file.Files.createTempDirectory("graft-ndi-v1").toString
    Seq((3, 128, 16)).toDF("w", "num_perm", "bands")
      .write.mode("overwrite").parquet(s"$dir/params")
    Seq((1L, "abc def ghi")).toDF("doc", "shingle")
      .write.mode("overwrite").parquet(s"$dir/shingles")
    Seq((1L, 0, 42)).toDF("doc", "band", "bucket")
      .write.mode("overwrite").parquet(s"$dir/buckets")
    val e = intercept[IllegalArgumentException](Dedup.loadNearDupIndex(spark, dir))
    assert(e.getMessage.contains("rebuild the index"))
    // and a current-format params row with a stale verify-side schema
    // (the v2 exploded (doc, n, shingle) layout in the arrays/ slot)
    Seq((3, 128, 16, Dedup.NearDupIndexFormatVersion))
      .toDF("w", "num_perm", "bands", "format_version")
      .write.mode("overwrite").parquet(s"$dir/params")
    Seq((1L, 3L, 42L)).toDF("doc", "n", "shingle")
      .write.mode("overwrite").parquet(s"$dir/arrays")
    val e2 = intercept[IllegalArgumentException](Dedup.loadNearDupIndex(spark, dir))
    assert(e2.getMessage.contains("rebuild the index"))
  }

  test("bloom-prefiltered incremental dedup matches the exact formulation") {
    val s = spark
    import s.implicits._
    val corpus = (0L until 200L).map(i => (i, s"corpus document number $i"))
      .toDF("doc_id", "text")
    val batch = (
      (500L until 600L).map(i => (i, s"fresh document $i")) ++          // new
        (0L until 200L by 25).map(i => (i + 1000L, s"Corpus  DOCUMENT number $i!")) ++ // re-ingests
        Seq((2000L, "fresh document 510"), (2001L, "FRESH document 510")) // in-batch dups
      ).toDF("doc_id", "text").repartition(4)
    val bloom = Dedup.fingerprintBloom(corpus, "text", expectedItems = 4096)
    val viaBloom = Dedup.incrementalNewBloom(batch, corpus, bloom, "text", "doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("fp"))).toSet
    val exact = Dedup.incrementalNew(batch, corpus, "text", "doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("fp"))).toSet
    assert(viaBloom === exact)
    assert(viaBloom.map(_._1).intersect((1000L until 1200L).toSet).isEmpty)
  }

  test("bloom probe: hits everything inserted, misses disjoint values") {
    val s = spark
    import s.implicits._
    val inserted = (0 until 500).map(i => s"member-$i")
    val bloom = inserted.toDF("v").stat.bloomFilter("v", 100000, 0.001)
    val probeDf = ((0 until 500).map(i => (s"member-$i", true)) ++
      (0 until 500).map(i => (s"absent-$i", false))).toDF("v", "expected")
      .repartition(4) // multi-partition: the sketch must survive task serialization
    val got = probeDf
      .withColumn("hit", org.apache.spark.sql.GraftBridge.bloomMightContain(col("v"), bloom))
      .collect()
    // no false negatives ever; at 100k capacity / 500 absent probes the
    // deterministic sketch has no false positives either
    got.foreach(r => assert(r.getAs[Boolean]("hit") === r.getAs[Boolean]("expected"), r.getAs[String]("v")))
  }

  test("binary dedup groups identical payloads, keeps min id") {
    val s = spark
    import s.implicits._
    val media = Seq(
      (0L, Array[Byte](1, 2, 3)),
      (1L, Array[Byte](9, 9)),
      (2L, Array[Byte](1, 2, 3)), // re-upload of 0
      (3L, Array[Byte](1, 2, 3))  // and again
    ).toDF("doc_id", "payload")
    val r = Multimodal.dedupBinary(media).collect()
      .map(x => x.getAs[Long]("keep_id") -> x.getAs[Long]("dup_count")).toMap
    assert(r === Map(0L -> 3L, 1L -> 1L))
  }

  test("decontamination: bench doc embedded in a train doc is flagged with full containment") {
    val s = spark
    import s.implicits._
    val train = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "totally unrelated training text about spark plans")).toDF("doc_id", "text")
    val bench = Seq(
      (90L, "beta gamma delta epsilon"), // fully inside doc 10
      (91L, "nothing shared here at all")).toDF("doc_id", "text")
    val r = Dedup.decontaminationPairs(train, bench, "text", "doc_id", 3, 1).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("train_doc") === 10L)
    assert(r.head.getAs[Long]("bench_doc") === 90L)
    assert(r.head.getAs[Double]("bench_containment") === 1.0) // all bench shingles leak
  }

  test("repetition scores: dup-token, top-bigram, dup-trigram fractions") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (0L, "a a a b"),        // 4 tokens, 2 distinct; bigrams: 'a a','a a','a b'; trigrams: 'a a a','a a b'
      (1L, "x y z"),          // no repetition; one trigram (singleton)
      (2L, "w"),              // single token: no bigrams/trigrams
      (3L, ""),               // empty
      (4L, "p q p q p q")     // trigrams: 'p q p','q p q','p q p','q p q' -> all duplicated
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionScores(d).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_tokens"), x.getAs[Double]("dup_token_frac"),
          x.getAs[Double]("top_bigram_frac"), x.getAs[Double]("dup_trigram_frac"))).toMap
    assert(r(0L) === ((4L, 0.5, 0.666667, 0.0))) // both trigrams distinct
    assert(r(1L) === ((3L, 0.0, 0.5, 0.0)))
    assert(r(2L) === ((1L, 0.0, 0.0, 0.0)))
    assert(r(3L) === ((0L, 0.0, 0.0, 0.0)))
    assert(r(4L) === ((6L, 0.666667, 0.6, 1.0)))
  }

  test("l2 normalize: unit norm, zero vectors unchanged") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, Array(3.0, 4.0)), (2L, Array(0.0, 0.0)), (3L, Array(-2.0, 0.0)))
      .toDF("vec_id", "embedding")
    val r = Embeddings.l2Normalize(d).collect()
      .map(x => x.getAs[Long]("vec_id") -> x.getAs[Seq[Double]]("normalized")).toMap
    assert(r(1L) === Seq(0.6, 0.8))
    assert(r(2L) === Seq(0.0, 0.0)) // zero vector passes through
    assert(r(3L) === Seq(-1.0, 0.0))
  }

  test("group cap: at most k per group, deterministic, subset of input") {
    val s = spark
    import s.implicits._
    val d = (0L until 100L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    val r1 = Sampling.capPerGroup(d, "source", "doc_id", 3, "cap0")
      .collect().map(x => (x.getAs[Long]("doc_id"), x.getAs[String]("source")))
    val r2 = Sampling.capPerGroup(d, "source", "doc_id", 3, "cap0")
      .collect().map(x => (x.getAs[Long]("doc_id"), x.getAs[String]("source")))
    assert(r1.toSet === r2.toSet) // deterministic
    assert(r1.length === 12) // 4 groups of 25, capped at 3 each
    assert(r1.groupBy(_._2).values.forall(_.length === 3))
    // a different seed picks a different (but equally sized) subset
    val r3 = Sampling.capPerGroup(d, "source", "doc_id", 3, "cap1")
      .collect().map(x => (x.getAs[Long]("doc_id"), x.getAs[String]("source")))
    assert(r3.length === 12)
    assert(r3.toSet != r1.toSet)
  }

  test("mixture resample: T=1 natural shares, T=0 uniform, T=0.5 upweights the tail, always a subset") {
    val s = spark
    import s.implicits._
    // head-heavy corpus: 160 web, 30 book, 10 code
    val d = ((0L until 160L).map(i => (i, "web")) ++
      (160L until 190L).map(i => (i, "book")) ++
      (190L until 200L).map(i => (i, "code"))).toDF("doc_id", "source")
    def quotas(t: Double, target: Long) =
      Sampling.mixtureResample(d, "source", "doc_id", t, target, "mx").collect()
        .groupBy(_.getAs[String]("source")).view.mapValues(_.length).toMap
    // T=1: floor(100 * n_s/200) — the natural mixture
    assert(quotas(1.0, 100) === Map("web" -> 80, "book" -> 15, "code" -> 5))
    // T=0: every source weighs 1 -> uniform thirds; the 9-digit share
    // round makes 30 * 0.333333333 floor to 9, not 10 (Σ quotas <= target
    // by construction, documented on the operator)
    assert(quotas(0.0, 30) === Map("web" -> 9, "book" -> 9, "code" -> 9))
    // T=0.5: tail share rises vs natural (sqrt weights), head falls
    val q = quotas(0.5, 100)
    assert(q("web") < 80 && q("code") > 5, s"$q")
    // subset property: never upsample past a source's row count
    val all = Sampling.mixtureResample(d, "source", "doc_id", 0.0, 10000, "mx")
    assert(all.count() === 200)
    // deterministic: same seed -> identical membership
    val a = Sampling.mixtureResample(d, "source", "doc_id", 0.5, 100, "mx")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val b = Sampling.mixtureResample(d, "source", "doc_id", 0.5, 100, "mx")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(a === b)
  }

  test("zipf slope: flat corpus fits slope 0, skewed corpus fits negative; partition-invariant") {
    val s = spark
    import s.implicits._
    // flat: every term appears exactly once → ln(c) ≡ 0 → slope 0
    val flat = (0 until 40).map(i => (i.toLong, s"u$i v$i")).toDF("doc_id", "text")
    val rf = operators.Stats.zipfSlope(flat).collect().head
    assert(rf.getAs[Long]("n_terms") === 80L)
    assert(rf.getAs[Double]("slope") === 0.0)
    assert(rf.getAs[Double]("intercept") === 0.0)
    // zipf-ish: term k appears ~N/k times → slope near -1, definitely negative
    val zipf = (1 to 30).flatMap(k => Seq.fill(60 / k)(s"t$k"))
    val zd = Seq((1L, zipf.mkString(" "))).toDF("doc_id", "text")
    val rz = operators.Stats.zipfSlope(zd).collect().head
    assert(rz.getAs[Double]("slope") < -0.5, s"slope ${rz.getAs[Double]("slope")}")
    // exact-decimal sums ⇒ bitwise identical under any partitioning
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val base = operators.Stats.zipfSlope(docs).collect().head
    val shuffled = operators.Stats.zipfSlope(docs.repartition(7)).collect().head
    assert(base === shuffled)
  }

  test("gini of lengths: uniform → 0, extreme concentration → near 1; partition-invariant") {
    val s = spark
    import s.implicits._
    val uniform = (0 until 25).map(i => (i.toLong, "a b c d")).toDF("doc_id", "text")
    val ru = operators.Stats.giniLengths(uniform).collect().head
    assert(ru.getAs[Long]("n_docs") === 25L)
    assert(ru.getAs[Long]("total_tokens") === 100L)
    assert(ru.getAs[Double]("gini") === 0.0)
    // 99 empty docs + 1 doc holding every token → G = (n-1)/n = 0.99
    val skewed = ((0 until 99).map(i => (i.toLong, "")) :+
      (99L, Seq.fill(50)("w").mkString(" "))).toDF("doc_id", "text")
    val rs = operators.Stats.giniLengths(skewed).collect().head
    assert(rs.getAs[Double]("gini") === 0.99)
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val base = operators.Stats.giniLengths(docs).collect().head
    val shuffled = operators.Stats.giniLengths(docs.repartition(5)).collect().head
    assert(base === shuffled)
  }

  test("stats degenerate corpora: zero denominators yield NULL, not NaN") {
    val s = spark
    import s.implicits._
    // single distinct term → one rank class → zero OLS denominator
    val mono = (0 until 8).map(i => (i.toLong, "same same")).toDF("doc_id", "text")
    val rz = operators.Stats.zipfSlope(mono).collect().head
    assert(rz.getAs[Long]("n_terms") === 1L)
    assert(rz.isNullAt(rz.fieldIndex("slope")), "slope must be NULL")
    assert(rz.isNullAt(rz.fieldIndex("intercept")), "intercept must be NULL")
    // all-empty docs → total_tokens 0 → Gini undefined
    val empty = (0 until 5).map(i => (i.toLong, "")).toDF("doc_id", "text")
    val rg = operators.Stats.giniLengths(empty).collect().head
    assert(rg.getAs[Long]("total_tokens") === 0L)
    assert(rg.isNullAt(rg.fieldIndex("gini")), "gini must be NULL")
  }

  test("corpus mixture: per-stratum token shares and cumulative share") {
    val s = spark
    import s.implicits._
    val d = Seq(
      ("en", "web", "a b c d"), ("en", "web", "x y"),
      ("en", "book", "a a a"), ("de", "web", "q")
    ).toDF("lang", "source", "text")
    val r = operators.Stats.corpusMixture(d, Seq("lang", "source"))
      .orderBy(col("n_tokens").desc, col("lang"), col("source")).collect()
      .map(x => (x.getAs[String]("lang"), x.getAs[String]("source"),
        x.getAs[Long]("n_docs"), x.getAs[Long]("n_tokens"),
        x.getAs[Double]("token_share"), x.getAs[Double]("cum_share")))
    assert(r === Array(
      ("en", "web", 2L, 6L, 0.6, 0.6),
      ("en", "book", 1L, 3L, 0.3, 0.9),
      ("de", "web", 1L, 1L, 0.1, 1.0)))
  }

  test("PII redaction: emails, IPv4, digit runs — ordered, counted, scrubbed") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (0L, "mail bob.smith+x@corp.example.com server 10.0.0.1 order 12345678 ok"),
      (1L, "no pii here just words and 123 short digits")).toDF("doc_id", "text")
    val r = TextAnalysis.redactPii(d).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_emails"), x.getAs[Long]("n_ipv4"),
          x.getAs[Long]("n_digit_runs"), x.getAs[String]("text_redacted"))).toMap
    assert(r(0L)._1 === 1L && r(0L)._2 === 1L && r(0L)._3 === 1L)
    assert(r(0L)._4 === "mail <EMAIL> server <IP> order <ID> ok")
    assert(r(1L) === ((0L, 0L, 0L, "no pii here just words and 123 short digits")))
  }

  test("token chunking: overlapping windows cover the stream, ids sequential") {
    val s = spark
    import s.implicits._
    val d = Seq((0L, "t1 t2 t3 t4 t5 t6 t7"), (1L, "")).toDF("doc_id", "text")
    val r = TextAnalysis.chunkTokens(d, window = 3, stride = 2)
      .orderBy(col("chunk_id")).collect()
      .map(x => (x.getAs[Long]("chunk_id"), x.getAs[Long]("chunk_tokens"),
        x.getAs[String]("chunk_text")))
    // starts 1,3,5,7 -> 3,3,3,1 tokens; empty doc contributes nothing
    assert(r.toSeq === Seq(
      (0L, 3L, "t1 t2 t3"), (1L, 3L, "t3 t4 t5"),
      (2L, 3L, "t5 t6 t7"), (3L, 1L, "t7")))
  }

  test("train order: total, deterministic, shard positions contiguous, no global sort") {
    val s = spark
    import s.implicits._
    val rows = (0L until 1000L).toDF("id")
    val ord = Sampling.trainOrder(rows, "id", seed = "s1", shards = 4)
    val got = ord.collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[Int]("shard"), r.getAs[Int]("pos")))
    assert(got.length === 1000)
    // (shard, pos) is a total order: unique, contiguous 1..n per shard
    val byShard = got.groupBy(_._2)
    assert(byShard.keySet.subsetOf((0 until 4).toSet))
    byShard.values.foreach { g =>
      assert(g.map(_._3).sorted.toSeq === (1 to g.length).toSeq)
    }
    // seeded: same seed reproduces, different seed permutes
    val again = Sampling.trainOrder(rows, "id", "s1", 4).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("shard"), r.getAs[Int]("pos"))).toSet
    assert(again === got.toSet)
    val other = Sampling.trainOrder(rows, "id", "s2", 4).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("shard"), r.getAs[Int]("pos"))).toSet
    assert(other !== got.toSet)
    // not sorted by id within a shard (it's a shuffle, not an order-by)
    val shard0 = got.filter(_._2 === 0).sortBy(_._3).map(_._1).toSeq
    assert(shard0 !== shard0.sorted)
    // scale shape: the window is keyed by shard — no single-partition funnel
    val plan = ord.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("quantiles: approx within bound of exact, exact matches a hand computation") {
    val s = spark
    import s.implicits._
    val rows = (1L to 101L).map(i => (i, "g")).toDF("v", "grp")
    val exact = Stats.exactQuantiles(rows, "v", "grp", Seq(0.25, 0.5, 0.9))
      .collect().map(r => r.getAs[String]("p") -> r.getAs[String]("quantile")).toMap
    // 101 values 1..101: p-quantile = 1 + p*100 exactly
    assert(exact === Map("0.25" -> "26.0000", "0.50" -> "51.0000", "0.90" -> "91.0000"))
    val approx = Stats.approxQuantiles(rows, "v", "grp", Seq(0.25, 0.5, 0.9))
      .collect().map(r => r.getAs[Int]("which") -> r.getAs[Double]("q")).toMap
    // at accuracy 10000 on 101 rows the sketch is exact
    assert(approx === Map(1 -> 26.0, 2 -> 51.0, 3 -> 91.0))
  }

  test("histogram quantiles return the EXACT k-th smallest element, including multi-valued and single-valued crossing bins") {
    val s = spark
    import s.implicits._
    // two groups, duplicates, and a value distribution that lands probs
    // in both single-valued bins (value 7 repeated — one bin, bmn==bmx)
    // and multi-valued bins (the dense 1..101 run with 16 bins)
    val base = (1L to 101L).map(i => (i.toDouble, "a")) ++
      Seq.fill(40)((7.0, "b")) ++ (1 to 10).map(i => (i * 3.0, "b"))
    val rows = base.toDF("v", "grp")
    val probs = Seq(0.25, 0.5, 0.9)
    val got = Stats.histogramQuantiles(rows, "v", "grp", probs, 1.0, 101.0, bins = 16)
      .collect().map(r => (r.getString(0), r.getLong(1).toInt) -> r.getDouble(2)).toMap
    // oracle: exact k-th smallest, k = max(1, ceil(p*n)), per group
    val byG = base.groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    for (g <- Seq("a", "b"); (p, i) <- probs.zipWithIndex) {
      val vs = byG(g)
      val k = math.max(1, math.ceil(p * vs.length).toLong).toInt
      assert(got((g, i + 1)) === vs(k - 1),
        s"group $g p=$p: got ${got((g, i + 1))}, want rank-$k element ${vs(k - 1)}")
    }
    // values outside [lo, hi] clamp into edge bins and stay correct
    val clamped = Stats.histogramQuantiles(rows, "v", "grp", probs, 5.0, 50.0, bins = 4)
      .collect().map(r => (r.getString(0), r.getLong(1).toInt) -> r.getDouble(2)).toMap
    assert(clamped === got, "clamped-range histogram must return identical elements")
  }

  test("census quantile bound-check: verifies honestly across conservative, exact-tie, fallback, null, and vacuous arms") {
    val s = spark
    import s.implicits._
    val probs = Seq(0.25, 0.5, 0.95)
    // arm 1 (conservative pass): smooth 1..1000 across many bins — every
    // crossing bin is light, bound holds without the exact second pass
    val smooth = (1L to 1000L).map(i => (Some(i.toDouble), "a")).toDF("v", "g")
    val got = Stats.censusQuantileBoundCheck(smooth, "v", "g", probs, 0.01, 1.0, 1000.0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq === probs.indices.map(i => ("a", (i + 1).toLong, 1000L, true)))

    // arm 2 (exact ties, mn == mx): all values equal land in ONE bin, but
    // the single-valued bin gives rank_lt exactly — true, not a false fail
    val ties = Seq.fill(500)((Some(42.0), "t")).toDF("v", "g")
    val tiesGot = Stats.censusQuantileBoundCheck(ties, "v", "g", probs, 0.01, 0.0, 100.0, bins = 4)
      .collect().map(r => r.getBoolean(3))
    assert(tiesGot.forall(identity), "single-valued crossing bin must verify exactly")

    // arm 3 (exact fallback, honest NEGATIVE): distinct values crammed
    // into one of two bins — the census element's true rank violates the
    // bound and the targeted exact pass must REPORT that, not mask it
    val crammed = (1L to 400L).map(i => (Some(i / 10.0), "c")).toDF("v", "g")
    val crGot = Stats.censusQuantileBoundCheck(crammed, "v", "g", Seq(0.5), 0.01, 0.0, 1000.0, bins = 2)
      .collect().map(r => r.getBoolean(3))
    assert(crGot === Array(false), "over-coarse census must fail its bound honestly")
    // ...and with enough bins the same data passes
    val fineGot = Stats.censusQuantileBoundCheck(crammed, "v", "g", Seq(0.5), 0.01, 0.0, 1000.0, bins = 4096)
      .collect().map(r => r.getBoolean(3))
    assert(fineGot === Array(true))

    // arm 4 (nulls + vacuous group): null v counts toward the emitted n
    // (what a count(*) oracle sees) but not the rank math; a group with
    // zero non-null values is vacuously within bound
    val withNulls = ((1L to 100L).map(i => (Some(i.toDouble), "n")) ++
      Seq.fill(20)((Option.empty[Double], "n")) ++
      Seq.fill(5)((Option.empty[Double], "z"))).toDF("v", "g")
    val nGot = Stats.censusQuantileBoundCheck(withNulls, "v", "g", Seq(0.5), 0.01, 1.0, 100.0)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getBoolean(3))).toSet
    assert(nGot === Set(("n", 120L, true), ("z", 5L, true)))

    // the census path agrees with the sketch+check gate shape: same
    // columns, same row count per (group, prob)
    val cols = Stats.censusQuantileBoundCheck(smooth, "v", "g", probs, 0.01, 1.0, 1000.0).columns
    assert(cols === Array("g", "which", "n", "within_bound"))
  }

  test("stratified sampling: per-stratum rates, deterministic, default applies") {
    val s = spark
    import s.implicits._
    val rows = (0L until 3000L).map(i =>
      (i, Seq("a", "b", "c")((i % 3).toInt))).toDF("id", "grp")
    val kept = Sampling.stratifiedSample(rows, "id", "grp",
      Map("a" -> 100, "b" -> 0), defaultKeep = 20, buckets = 100)
      .groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("a") === 1000L)        // keep-all stratum intact
    assert(!kept.contains("b"))        // keep-none stratum fully dropped
    assert(kept("c") > 120 && kept("c") < 280) // ~20% default
    // same call twice -> identical membership (hash, not rand)
    val again = Sampling.stratifiedSample(rows, "id", "grp",
      Map("a" -> 100, "b" -> 0), defaultKeep = 20, buckets = 100)
      .agg(sum("id")).collect().head.getLong(0)
    val first = Sampling.stratifiedSample(rows, "id", "grp",
      Map("a" -> 100, "b" -> 0), defaultKeep = 20, buckets = 100)
      .agg(sum("id")).collect().head.getLong(0)
    assert(again === first)
  }

  test("token-budget packing: bins identical for any shard size (exact global prefix sum)") {
    def bins(shardSize: Long): Seq[(Long, Long, Long)] =
      TextAnalysis.packByTokenBudget(docs, 20, shardSize = shardSize)
        .orderBy(col("doc_id")).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("bin"))).toSeq
    val base = bins(1L << 16) // single shard at this size
    Seq(1L, 3L, 7L).foreach(ss => assert(bins(ss) === base, s"shardSize=$ss"))
  }

  test("ordered sequences: per-key arrays follow the order column, capped") {
    val s = spark
    import s.implicits._
    val ev = Seq((1L, 30L, "c"), (1L, 10L, "a"), (1L, 20L, "b"),
      (2L, 5L, "x"), (2L, 6L, "y")).toDF("user_id", "event_id", "event_type")
    val r = Sequences.orderedSequences(ev, "user_id", "event_id", "event_type", maxLen = 2)
      .collect().map(x => x.getAs[Long]("user_id") ->
        (x.getAs[scala.collection.Seq[String]]("seq").toSeq, x.getAs[Long]("n_events"))).toMap
    assert(r(1L) === (Seq("a", "b"), 3L)) // ordered by event_id, capped at 2
    assert(r(2L) === (Seq("x", "y"), 2L))
  }

  test("approx distinct per group stays within the sketch's error bound") {
    val events = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
    val exact = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = TextAnalysis.approxDistinctPerGroup(events, "event_type", "user_id", 0.05)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    approx.foreach { case (k, a) =>
      val e = exact(k)
      assert(math.abs(a - e) <= math.max(3.0, 4 * 0.05 * e), s"$k: approx=$a exact=$e")
    }
  }

  test("quality: ratios and score are deterministic and bounded") {
    val r = TextAnalysis.quality(docs).collect()
    r.foreach { row =>
      assert(row.getAs[Double]("quality_score") >= 0.0 && row.getAs[Double]("quality_score") <= 1.0)
      assert(row.getAs[Double]("stopword_ratio") <= 1.0)
    }
  }

  test("brute-force cosine top-k: self excluded, ranks deterministic") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val r = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 3).collect()
    assert(r.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(1L, 2L, 3L))
    assert(r.head.getAs[Double]("cosine") > 0.99)
  }

  test("LSH top-k achieves high recall vs brute force on real embeddings") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = emb.filter(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(emb, probes, 3).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val lsh = Similarity.lshTopK(emb, probes, 3).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (bf & lsh).size.toDouble / bf.size
    assert(recall >= 0.5, s"recall $recall") // hamming<=1 fanout on 8 planes
  }

  test("lshBucket with one array literal per hyperplane equals the per-element literal form") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    // the per-element form: each hyperplane spelled as `dim` lit nodes
    def perElement(vec: org.apache.spark.sql.Column, planes: Array[Array[Double]]) =
      planes.zipWithIndex.map { case (p, i) =>
        when(Similarity.dot(vec, array(p.map(lit(_)): _*)) > 0, lit(1L << i))
          .otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
    Seq(7L, 138L, 269L).foreach { seed =>
      val planes = Similarity.hyperplanes(8, 64, seed)
      val got = emb.select(col("vec_id"), Similarity.lshBucket(col("v"), planes))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exp = emb.select(col("vec_id"), perElement(col("v"), planes))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.nonEmpty && got === exp, s"seed $seed")
      assert(got.values.toSet.size > 1, s"seed $seed: buckets degenerate")
    }
  }

  test("autoCells follows the sqrt-n IVF sizing rule with floor, cap, and k<=n") {
    // the 100x contract: fixed cells make corpus-x-corpus ADC quadratic
    // in n; sqrt scaling keeps the per-probe candidate share flat
    assert(Similarity.autoCells(1) === 1)          // k <= n beats the floor
    assert(Similarity.autoCells(2) === 2)
    assert(Similarity.autoCells(20) === 4)         // floor 4
    assert(Similarity.autoCells(500) === 22)       // round(sqrt 500)
    assert(Similarity.autoCells(2000) === 45)
    assert(Similarity.autoCells(200000) === 447)
    assert(Similarity.autoCells(100000000L) === 4096) // cap: assignment cost
  }

  test("IVF top-k achieves high recall vs brute force on real embeddings") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = emb.filter(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(emb, probes, 3).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.ivfTopK(emb, probes, 3).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    assert(recall >= 0.5, s"recall $recall")
  }

  test("IVF nProbe sweep: recall rises monotonically to exact at nProbe=nCells; scan fraction is the cost") {
    // the 100 TB tuning knob (VERDICT r7 item 7): recall@k vs the
    // fraction of the corpus scanned, per nProbe. Scan fraction — the
    // summed relative size of probed cells — is the deterministic
    // latency proxy at scale (each probe reads only its nProbe cell
    // partitions); wall clock at sf0.1 is floor-dominated and noisy.
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.1")
    val probes = emb.filter(col("vec_id") < 20)
    val k = 10
    val nCells = 16
    val bf = Similarity.bruteForceTopK(emb, probes, k).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val idx = Similarity.buildIvf(emb, nCells)
    val corpusN = emb.count().toDouble
    val cellSizes = idx.cells.groupBy("cell").count().collect()
      .map(r => r.getAs[Int]("cell") -> r.getAs[Long]("count")).toMap
    val sweep = Seq(1, 2, 4, 8, 16).map { nProbe =>
      val got = idx.topK(probes, k, nProbe).collect()
      val pairs = got.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
      nProbe -> (bf & pairs).size.toDouble / bf.size
    }
    val maxCellFrac = cellSizes.values.max / corpusN
    info(s"IVF recall sweep (sf0.1, ${corpusN.toInt} vectors, $nCells cells, k=$k, " +
      f"largest cell ${maxCellFrac * 100}%.1f%% of corpus): " +
      sweep.map { case (n, r) => f"nProbe=$n recall=$r%.3f" }.mkString(", "))
    // monotone non-decreasing in nProbe
    sweep.sliding(2).foreach { case Seq((_, a), (_, b)) => assert(b >= a - 1e-9) }
    // probing every cell IS brute force: recall must be exactly 1
    assert(sweep.last._2 === 1.0)
    // the synthetic embeddings are near-uniform (largest cell ~9% — k-means
    // finds little structure), the IVF worst case: recall at nProbe=4/16
    // must still clearly beat the 25%-scan random baseline. A clustered
    // real-world corpus sits far above this floor (see README table).
    assert(sweep.find(_._1 == 4).get._2 >= 0.4,
      s"nProbe=4 recall ${sweep.find(_._1 == 4).get._2}")
    idx.cells.unpersist()
  }

  test("brute-force bounded top-k ≡ window form (scores, ties, ranks)") {
    // bruteForceTopK's BoundedTopK aggregate must be bit-identical to
    // the full-shuffle window it replaced: same (cosine desc, id) order
    // via the exact sign-bit flip, same rounded scores, same ranks
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = emb.filter(col("vec_id") < 8)
    val bounded = Similarity.bruteForceTopK(emb, probes, 7)
      .orderBy("probe_id", "rank").collect().toSeq
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cosine"), r.getAs[Int]("rank")))
    val window = Similarity.bruteForceTopKWindow(emb, probes, 7)
      .orderBy("probe_id", "rank").collect().toSeq
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cosine"), r.getAs[Int]("rank")))
    assert(bounded === window)
  }

  test("IVF rankedCandidates: cell_rank filter + top-k reproduces topK row-for-row per nProbe") {
    // the sweep-sharing contract (r15 verdict task 3): one assignment
    // pass + one corpus join, each nProbe config derived by filtering
    // the nested candidate frame — must be byte-identical to the
    // per-config topK it replaces
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = emb.filter(col("vec_id") < 5)
    val idx = Similarity.buildIvf(emb, nCells = 8, cache = false)
    val cand = idx.rankedCandidates(probes, maxProbe = 8).cache()
    try {
      Seq(1, 2, 4, 8).foreach { np =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("probe_id")).orderBy(col("cosine").desc, col("neighbor_id"))
        val derived = cand.filter(col("cell_rank") <= np)
          .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= 3)
          .select(col("probe_id"), col("neighbor_id"),
            round(col("cosine"), 6).as("cosine"), col("_rn").cast("int").as("rank"))
          .orderBy("probe_id", "rank").collect().toSeq
        val direct = idx.topK(probes, 3, nProbe = np)
          .orderBy("probe_id", "rank").collect().toSeq
        assert(derived === direct, s"nProbe=$np")
      }
    } finally cand.unpersist()
  }

  test("IVF-PQ rankedCandidates: one pass nests per-nProbe configs; filter + top-k reproduces topK") {
    // the PQ side of the sweep-sharing contract (r16 sim_ivfpq_recall):
    // filtering the maxProbe frame by cell_rank must equal an
    // independently-built per-nProbe frame AND reproduce topK
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = emb.filter(col("vec_id") < 5)
    val idx = Similarity.buildIvfPq(emb, nCells = 8, cache = false)
    val cand = idx.rankedCandidates(probes, maxProbe = 4).cache()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("probe_id", "neighbor_id").collect().toSeq
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("approx_dist"), r.getAs[Int]("cell_rank")))
    try {
      Seq(1, 2, 4).foreach { np =>
        // nesting: the cell_rank filter IS the smaller-maxProbe frame
        assert(rows(cand.filter(col("cell_rank") <= np)) ===
          rows(idx.rankedCandidates(probes, maxProbe = np)), s"nest nProbe=$np")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("probe_id"))
          .orderBy(col("approx_dist"), col("neighbor_id"))
        val derived = cand.filter(col("cell_rank") <= np)
          .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
          .select(col("probe_id"), col("neighbor_id"), col("approx_dist"), col("rank"))
          .orderBy("probe_id", "rank").collect().toSeq
        val direct = idx.topK(probes, 3, nProbe = np)
          .orderBy("probe_id", "rank").collect().toSeq
        assert(derived === direct, s"topK nProbe=$np")
      }
    } finally cand.unpersist()
  }

  test("IVF index round-trips through save/load with identical results") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = emb.filter(col("vec_id") < 5)
    val idx = Similarity.buildIvf(emb, cache = false)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    idx.save(dir)
    val loaded = Similarity.loadIvf(spark, dir, cache = false)
    def results(i: Similarity.IvfIndex) = i.topK(probes, 3).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toMap
    assert(results(loaded) === results(idx))
  }

  test("IVF append: new vectors assign to existing centroids; full probe stays exact over the union") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val old = emb.filter(col("vec_id") < 250)
    val fresh = emb.filter(col("vec_id") >= 250)
    val idx = Similarity.buildIvf(old, nCells = 8, cache = false)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
    idx.save(dir)
    idx.appendTo(dir, fresh)
    val loaded = Similarity.loadIvf(spark, dir, cache = false)
    // the appended rows live in their assigned cell partitions
    assert(loaded.cells.count() === emb.count())
    // probing every cell is brute force over old + new, regardless of
    // how the assignment spread the batch
    val probes = emb.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rank")) -> r.getAs[Long]("neighbor_id")).toMap
    val exact = pairs(Similarity.bruteForceTopK(emb, probes, 3))
    val viaIndex = pairs(loaded.topK(probes, 3, nProbe = 8))
    assert(viaIndex === exact)
  }

  test("IVF idempotent append: a replayed batch through appendBatchTo is a pure overwrite, never a duplicate") {
    // the crash-recovery composition appendTo's scaladoc points at: the
    // batch-id partition-overwrite sink (PlugRunner's protocol) applied
    // to the IVF appends lifecycle
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val old = emb.filter(col("vec_id") < 250)
    val b1 = emb.filter(col("vec_id") >= 250 && col("vec_id") < 350)
    val b2 = emb.filter(col("vec_id") >= 350)
    val idx = Similarity.buildIvf(old, nCells = 8, cache = false)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-idem").toString
    idx.save(dir)
    idx.appendBatchTo(dir, 1L, b1)
    idx.appendBatchTo(dir, 2L, b2)
    // replay batch 1 — a restarted pipeline re-emitting its last batch
    idx.appendBatchTo(dir, 1L, b1)
    val loaded = Similarity.loadIvf(spark, dir, cache = false)
    assert(loaded.cells.count() === emb.count())
    assert(loaded.cells.groupBy("neighbor_id").count()
      .filter(col("count") > 1).count() === 0L)
    // full probe stays exact brute force over base + both batches
    val probes = emb.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rank")) -> r.getAs[Long]("neighbor_id")).toMap
    assert(pairs(loaded.topK(probes, 3, nProbe = 8)) ===
      pairs(Similarity.bruteForceTopK(emb, probes, 3)))
    // contrast — the plain append sink really does duplicate on replay
    // (the hazard the scaladoc documents)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-ivf-dup").toString
    idx.save(dir2)
    idx.appendTo(dir2, b1)
    idx.appendTo(dir2, b1)
    assert(Similarity.loadIvf(spark, dir2, cache = false)
      .cells.count() === old.count() + 2 * b1.count())
  }

  test("IVF retrain: staleness triggers, atomic generation swap, recall parity with built-fresh") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val old = emb.filter(col("vec_id") < 300)
    val fresh = emb.filter(col("vec_id") >= 300)
    val idx = Similarity.buildIvf(old, nCells = 8, cache = false)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-rt").toString
    idx.save(dir)
    // fresh index: nothing appended, nothing stale
    val s0 = Similarity.ivfStaleness(spark, dir)
    assert(s0.appendRows === 0L && !s0.isStale())
    idx.appendBatchTo(dir, 1L, fresh)
    // ~200/300 appended — the append-fraction trigger fires
    val s1 = Similarity.ivfStaleness(spark, dir)
    assert(s1.appendRows === fresh.count())
    assert(s1.appendFraction > 0.25 && s1.isStale())
    // retrain: swaps to gen=1, folds appends into the training set, GCs
    // the pre-generation layout
    val retrained = Similarity.retrainIvf(spark, dir)
    assert(Similarity.ivfGeneration(spark, dir) === Some(1L))
    val s2 = Similarity.ivfStaleness(spark, dir)
    assert(s2.appendRows === 0L && s2.baseRows === emb.count() && !s2.isStale())
    assert(!new java.io.File(s"$dir/cells").exists(), "old layout GC'd")
    // the done-bar comparison (VERDICT r9 item 4): appended-then-retrained
    // vs built-fresh over the same corpus — recall parity vs brute force
    // at the same partial probe budget, and full probe stays exact
    val freshBuilt = Similarity.buildIvf(emb, nCells = 8, cache = false)
    val probes = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, probes, 5).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    def recall(i: Similarity.IvfIndex, nProbe: Int) = {
      val got = i.topK(probes, 5, nProbe).collect()
        .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    assert(recall(retrained, 8) === 1.0, "full probe exact after retrain")
    val (rRe, rFresh) = (recall(retrained, 3), recall(freshBuilt, 3))
    info(f"partial-probe recall: retrained $rRe%.3f vs built-fresh $rFresh%.3f")
    assert(math.abs(rRe - rFresh) <= 0.15,
      s"retrained recall $rRe diverged from built-fresh $rFresh")
    retrained.cells.unpersist()
    // a second retrain keeps advancing generations and GCs gen=1
    Similarity.retrainIvf(spark, dir).cells.unpersist()
    assert(Similarity.ivfGeneration(spark, dir) === Some(2L))
    assert(!new java.io.File(s"$dir/gen=1").exists(), "stale generation GC'd")
  }

  test("native dot product expression matches the builtin HOF formulation bitwise") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    val both = emb.select(
      Similarity.dot(col("e"), col("e")).as("native"),
      Similarity.dotHof(col("e"), col("e")).as("hof")).collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("segment dedup drops repeated segments corpus-wide, first occurrence wins") {
    val s = spark
    import s.implicits._
    // 4-word segments: docs 10 and 11 share their first segment verbatim;
    // doc 12 repeats its own first segment as its second
    val d = Seq(
      (10L, "alpha beta gamma delta one two three four"),
      (11L, "alpha beta gamma delta five six seven eight"),
      (12L, "red green blue white red green blue white")
    ).toDF("doc_id", "text")
    val r = Dedup.segmentDedup(d, "text", "doc_id", 4).collect()
      .map(x => x.getAs[Long]("doc") ->
        (x.getAs[Long]("n_segments"), x.getAs[Long]("n_kept"), x.getAs[String]("text_dedup"))).toMap
    assert(r(10L) === ((2L, 2L, "alpha beta gamma delta\none two three four")))
    // doc 11 loses the shared first segment (doc 10 owns it) but keeps its tail
    assert(r(11L) === ((2L, 1L, "five six seven eight")))
    // in-doc repeat: second copy dropped
    assert(r(12L) === ((2L, 1L, "red green blue white")))
  }

  test("span removal excises non-first occurrences, first doc intact") {
    val s = spark
    import s.implicits._
    val shared = "one two three four" // width 4 below
    val d = Seq(
      (0L, s"head $shared tail words"),
      (1L, s"lead-in stuff $shared closing remark"), // later doc loses it
      (2L, s"$shared $shared"), // both copies lose to doc 0's occurrence
      (3L, "five six seven eight five six seven eight")) // in-doc repeat
      .toDF("doc_id", "text")
    val r = Dedup.removeRepeatedSpans(d, "text", "doc_id", width = 4).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_tokens"), x.getAs[Long]("n_removed"),
          x.getAs[String]("text_dedup"))).toMap
    assert(r(0L) === ((7L, 0L, s"head $shared tail words")))
    assert(r(1L) === ((8L, 4L, "lead-in stuff closing remark")))
    // doc 0 is the global first owner of the shared span, so BOTH of
    // doc 2's copies are non-first occurrences — the doc empties out
    assert(r(2L) === ((8L, 8L, "")))
    // in-doc repeat where the doc itself owns the first occurrence:
    // only the second copy is excised
    assert(r(3L) === ((8L, 4L, "five six seven eight")))
  }

  test("span removal matches a straight-line reference on a colliding corpus") {
    val s = spark
    import s.implicits._
    val width = 4
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val docs = (0L until 40L).map(i =>
      i -> Seq.fill(12 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))))
    // reference: global first occurrence by (doc, pos); later-occurrence
    // spans mark their token range; union; rebuild
    val firstSeen = scala.collection.mutable.Map[String, (Long, Int)]()
    for ((id, toks) <- docs; p <- 0 to toks.length - width) {
      val span = toks.slice(p, p + width).mkString(" ")
      if (!firstSeen.contains(span)) firstSeen(span) = (id, p)
    }
    val expected = docs.map { case (id, toks) =>
      val covered = (for {
        p <- 0 to toks.length - width
        if firstSeen(toks.slice(p, p + width).mkString(" ")) != ((id, p))
        q <- p until p + width
      } yield q).toSet
      val kept = toks.zipWithIndex.collect { case (t, i) if !covered(i) => t }
      id -> ((toks.length.toLong, covered.size.toLong, kept.mkString(" ")))
    }.toMap
    val got = Dedup.removeRepeatedSpans(
      docs.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text"),
      "text", "doc_id", width).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_tokens"), x.getAs[Long]("n_removed"),
          x.getAs[String]("text_dedup"))).toMap
    assert(got === expected)
    // fixture sanity: the corpus must actually contain removals
    assert(expected.values.exists(_._2 > 0))
  }

  test("segment dedup keeps a partial trailing segment as its own unit") {
    val s = spark
    import s.implicits._
    val d = Seq((0L, "a b c d e")).toDF("doc_id", "text")
    val r = Dedup.segmentDedup(d, "text", "doc_id", 4).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("n_segments") === 2L)
    assert(r.head.getAs[String]("text_dedup") === "a b c d\ne")
  }

  test("c4 line filter keeps punctuated sentences, drops fragments and thin docs") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (0L, "this is a proper sentence right here.\nshort one.\nanother full sentence ends with a bang!\nno terminal punctuation on this line"),
      (1L, "menu\nhome\nabout us\ncontact")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.c4LineFilter(d, minWords = 5, minLines = 2).collect()
    // doc 1 has no qualifying lines at all -> dropped by the minLines rule
    assert(r.length === 1 && r.head.getAs[Long]("doc_id") === 0L)
    assert(r.head.getAs[Long]("n_lines") === 4L)
    assert(r.head.getAs[Long]("n_kept_lines") === 2L) // "short one." fails minWords
    assert(r.head.getAs[String]("text_filtered") ===
      "this is a proper sentence right here.\nanother full sentence ends with a bang!")
  }

  test("unigram logprob: rare-token docs score below common-token docs") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (0L, "the the the the"),
      (1L, "the the the zzzz")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.unigramLogProb(d).collect()
      .map(x => x.getAs[Long]("doc") -> x.getAs[Double]("avg_logprob")).toMap
    // corpus: c(the)=7, c(zzzz)=1, T=8, V=2 -> p(the)=8/10, p(zzzz)=2/10
    val pThe = math.log(8.0 / 10.0); val pZ = math.log(2.0 / 10.0)
    assert(math.abs(r(0L) - pThe) < 1e-6)
    assert(math.abs(r(1L) - (3 * pThe + pZ) / 4) < 1e-6)
    assert(r(1L) < r(0L))
  }

  test("unigram logprob is partition-order invariant (exact decimal mean)") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    def run(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.unigramLogProb(df).collect()
        .map(r => r.getAs[Long]("doc") ->
          (r.getAs[Long]("n_tokens"), r.getAs[Double]("avg_logprob"))).toMap
    val base = run(docs)
    // different partitionings force different per-partition sum orders;
    // the decimal aggregation must produce BITWISE-identical results
    val shuffled = run(docs.repartition(7, col("doc_id") % 3))
    val single = run(docs.coalesce(1))
    assert(shuffled === base)
    assert(single === base)
  }

  test("multimodal: stubbed decode plumbing produces typed metadata per row") {
    val media = Multimodal.fromDocuments(spark, docs.withColumn("doc_id", col("doc_id")))
    val meta = Multimodal.extractMeta(media).collect()
    assert(meta.length === 5)
    assert(meta.forall(_.sha.length === 64))
    assert(meta.forall(m => m.byte_len > 0))
    val frames = Multimodal.sampleFrames(
      Multimodal.extractMeta(media).toDF(), every = 10)
    assert(frames.count() > 0)
  }

  test("multimodal: HeaderCodec reads real PNG/GIF/JPEG dimensions, stubs everything else") {
    val s = spark
    import s.implicits._
    def png(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(24)
      b.put(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
      b.putInt(13).put("IHDR".getBytes).putInt(w).putInt(h)
      b.array()
    }
    def gif(w: Int, h: Int): Array[Byte] =
      "GIF89a".getBytes ++ Array((w & 0xFF).toByte, (w >> 8).toByte,
        (h & 0xFF).toByte, (h >> 8).toByte)
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(30)
      b.put(Array(0xFF, 0xD8).map(_.toByte))                    // SOI
      b.put(Array(0xFF, 0xFE).map(_.toByte)).putShort(4).putShort(0) // COM skipped by scan
      b.put(Array(0xFF, 0xC0).map(_.toByte)).putShort(17)       // SOF0
      b.put(8.toByte).putShort(h.toShort).putShort(w.toShort)
      b.array()
    }
    // spec-legal 0xFF fill padding before the SOF marker must be skipped
    val jpegFill = jpeg(800, 600).patch(2, Array(0xFF.toByte, 0xFF.toByte), 0)
    // valid PNG signature but sign-bit width: malformed -> stub fallback
    val pngBad = png(640, 480).patch(16,
      Array(0xFF, 0xFF, 0xFF, 0xFF).map(_.toByte), 4)
    val media = Seq(
      Multimodal.MediaRow(1L, "image", png(640, 480)),
      Multimodal.MediaRow(2L, "image", gif(320, 200)),
      Multimodal.MediaRow(3L, "image", jpeg(1920, 1080)),
      Multimodal.MediaRow(4L, "image", "not an image".getBytes), // -> stub
      Multimodal.MediaRow(5L, "audio", png(9, 9)),               // non-image -> stub
      Multimodal.MediaRow(6L, "image", jpegFill),
      Multimodal.MediaRow(7L, "image", pngBad)                   // malformed -> stub
    ).toDS()
    val meta = Multimodal.extractMeta(media).collect()
      .map(m => m.doc_id -> ((m.width, m.height, m.n_frames))).toMap
    assert(meta(1L) === ((640, 480, 1)))
    assert(meta(2L) === ((320, 200, 1)))
    assert(meta(3L) === ((1920, 1080, 1)))
    val stub4 = Multimodal.StubCodec.decode("not an image".getBytes, "image")
    assert(meta(4L) === ((stub4.width, stub4.height, stub4.nFrames)))
    val stub5 = Multimodal.StubCodec.decode(png(9, 9), "audio")
    assert(meta(5L) === ((stub5.width, stub5.height, stub5.nFrames)))
    assert(meta(6L) === ((800, 600, 1)), "fill bytes before SOF must be skipped")
    val stub7 = Multimodal.StubCodec.decode(pngBad, "image")
    assert(meta(7L) === ((stub7.width, stub7.height, stub7.nFrames)))
  }

  test("multimodal: JPEG scan stops at SOS and never reads entropy-coded bytes as markers") {
    // Malformed-but-plausible crawl payload: SOI, then SOS with no prior
    // SOF, then entropy-coded data containing a byte-stuffed 0xFF00 and a
    // coincidental 0xFF 0xC0 pair. The scan must bail at SOS (or at the
    // stuffed 0xFF00), not misread the entropy data as a SOF segment.
    val b = java.nio.ByteBuffer.allocate(32)
    b.put(Array(0xFF, 0xD8).map(_.toByte))                     // SOI
    b.put(Array(0xFF, 0xDA).map(_.toByte)).putShort(8)         // SOS, 8-byte header
    b.put(Array(0x01, 0x01, 0x00, 0x3F, 0x00, 0x12).map(_.toByte))
    b.put(Array(0xFF, 0x00).map(_.toByte))                     // byte-stuffed 0xFF in data
    b.put(Array(0xFF, 0xC0).map(_.toByte)).putShort(17)        // fake "SOF" in entropy data
    b.put(8.toByte).putShort(99).putShort(99)
    val entropy = b.array()
    assert(Multimodal.HeaderCodec.decode(entropy, "image") ===
      Multimodal.StubCodec.decode(entropy, "image"))
    // and also when the stuffed 0xFF00 comes before any SOS-like marker
    val stuffed = Array(0xFF, 0xD8, 0xFF, 0x00, 0xFF, 0xC0, 0x00, 0x11,
      0x08, 0x00, 0x63, 0x00, 0x63).map(_.toByte)
    assert(Multimodal.HeaderCodec.decode(stuffed, "image") ===
      Multimodal.StubCodec.decode(stuffed, "image"))
  }

  test("multimodal: HeaderCodec reads WAV sample rate and duration from RIFF chunks") {
    def wav(rate: Int, blockAlign: Int, dataBytes: Int,
            extraChunk: Boolean = false): Array[Byte] = {
      val extra = if (extraChunk) 8 + 3 + 1 else 0 // odd-sized chunk + pad byte
      val b = java.nio.ByteBuffer.allocate(44 + extra)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(36 + extra + dataBytes).put("WAVE".getBytes)
      if (extraChunk) { // LIST chunk with odd size: walk must honor the pad byte
        b.put("LIST".getBytes).putInt(3).put("abc".getBytes).put(0.toByte)
      }
      b.put("fmt ".getBytes).putInt(16)
      b.putShort(1).putShort(2).putInt(rate).putInt(rate * blockAlign)
      b.putShort(blockAlign.toShort).putShort(16)
      b.put("data".getBytes).putInt(dataBytes) // header-only: bytes truncated
      b.array()
    }
    // 44100 Hz stereo 16-bit, 1 s of data -> 1000 ms; n_frames stays 1
    // (audio never feeds the visual frame-explode — a declared data size
    // must not become a fanout factor)
    val d = Multimodal.HeaderCodec.decode(wav(44100, 4, 44100 * 4), "audio")
    assert(d === Multimodal.Decoded(0, 0, 1, sampleRate = 44100, durationMs = 1000L))
    // odd-sized chunk before fmt: pad-byte alignment must not derail the walk
    val d2 = Multimodal.HeaderCodec.decode(wav(16000, 2, 16000, extraChunk = true), "audio")
    assert(d2.sampleRate === 16000 && d2.durationMs === 500L && d2.nFrames === 1)
    // non-WAV audio payload falls back to the stub unchanged
    val junk = "not audio at all".getBytes
    assert(Multimodal.HeaderCodec.decode(junk, "audio") ===
      Multimodal.StubCodec.decode(junk, "audio"))
    // WAV bytes under a non-audio media type do NOT take the audio branch
    val w = wav(44100, 4, 44100 * 4)
    assert(Multimodal.HeaderCodec.decode(w, "video") ===
      Multimodal.StubCodec.decode(w, "video"))
    // truncated fmt chunk -> stub, never a partial read
    val trunc = wav(44100, 4, 100).take(28)
    assert(Multimodal.HeaderCodec.decode(trunc, "audio") ===
      Multimodal.StubCodec.decode(trunc, "audio"))
  }

  test("multimodal: HeaderCodec reads MP4 duration and track dimensions from the box walk") {
    def be32(b: java.nio.ByteBuffer, v: Long): java.nio.ByteBuffer = b.putInt(v.toInt)
    // minimal ftyp + moov(mvhd v0 + trak(tkhd v0)) — the synthetic-gate
    // layout, built independently of Multimodal.mp4Hex
    def mp4(timescale: Long, duration: Long, w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(232) // big-endian by default
      be32(b, 16); b.put("ftyp".getBytes).put("isom".getBytes); be32(b, 0)
      be32(b, 216); b.put("moov".getBytes)
      be32(b, 108); b.put("mvhd".getBytes); be32(b, 0) // v0 + flags
      be32(b, 0); be32(b, 0) // creation, modification
      be32(b, timescale); be32(b, duration)
      be32(b, 0x00010000L); b.putShort(0x0100.toShort).putShort(0)
      (0 until 2).foreach(_ => be32(b, 0)) // reserved 8
      Seq(0x00010000L, 0, 0, 0, 0x00010000L, 0, 0, 0, 0x40000000L).foreach(be32(b, _))
      (0 until 6).foreach(_ => be32(b, 0)) // predefined 24
      be32(b, 2) // next track id
      be32(b, 100); b.put("trak".getBytes)
      be32(b, 92); b.put("tkhd".getBytes); be32(b, 7)
      be32(b, 0); be32(b, 0); be32(b, 1); be32(b, 0) // times, track 1, reserved
      be32(b, duration)
      (0 until 2).foreach(_ => be32(b, 0)) // reserved 8
      be32(b, 0); be32(b, 0) // layer/alt-group, volume/reserved
      Seq(0x00010000L, 0, 0, 0, 0x00010000L, 0, 0, 0, 0x40000000L).foreach(be32(b, _))
      be32(b, w.toLong << 16); be32(b, h.toLong << 16)
      b.array()
    }
    // 90000-tick timescale, 3.5 s -> truncating ms conversion; n_frames
    // stays 1 (nothing length-declared becomes a fanout factor)
    val d = Multimodal.HeaderCodec.decode(mp4(90000, 315000, 1280, 720), "video")
    assert(d === Multimodal.Decoded(1280, 720, 1, durationMs = 3500L))
    val d2 = Multimodal.HeaderCodec.decode(mp4(600, 601, 320, 240), "video")
    assert(d2.durationMs === 1001L && d2.width === 320 && d2.height === 240)
    // zero timescale is malformed per spec -> stub, never a divide
    val z = mp4(0, 100, 320, 240)
    assert(Multimodal.HeaderCodec.decode(z, "video") ===
      Multimodal.StubCodec.decode(z, "video"))
    // non-MP4 video payload falls back to the stub unchanged
    val junk = "definitely not a movie".getBytes
    assert(Multimodal.HeaderCodec.decode(junk, "video") ===
      Multimodal.StubCodec.decode(junk, "video"))
    // truncated mid-moov -> stub, never a partial read
    val trunc = mp4(90000, 315000, 1280, 720).take(40)
    assert(Multimodal.HeaderCodec.decode(trunc, "video") ===
      Multimodal.StubCodec.decode(trunc, "video"))
    // a box size that walks past the buffer bails to the stub
    val oversize = mp4(90000, 315000, 1280, 720)
    oversize(16) = 0x7F.toByte // moov size -> huge
    assert(Multimodal.HeaderCodec.decode(oversize, "video") ===
      Multimodal.StubCodec.decode(oversize, "video"))
    // and the synthetic generator agrees with an independent in-JVM build:
    // doc_id=7 -> ts=1000, dur=1000*8+0=8000, w=320*4=1280, h=240*2=480
    val viaSql = spark.range(7, 8).select(
      Multimodal.syntheticMp4(col("id")).as("p")).collect().head.getAs[Array[Byte]]("p")
    assert(viaSql.toSeq === mp4(1000, 8000, 1280, 480).toSeq)
  }

  test("multimodal: a second codec swaps in through the MediaCodec trait, not an operator edit") {
    // a "real" decoder stand-in with per-partition init — the deployment
    // shape for a JNI/external-process codec
    object FixedCodec extends Multimodal.MediaCodec {
      def decode(payload: Array[Byte], mediaType: String): Multimodal.Decoded =
        Multimodal.Decoded(1920, 1080, 42)
    }
    val media = Multimodal.fromDocuments(spark, docs)
    val meta = Multimodal.extractMeta(media, FixedCodec).collect()
    assert(meta.length === 5)
    assert(meta.forall(m => m.width === 1920 && m.height === 1080 && m.n_frames === 42))
    // sha/byte_len plumbing identical regardless of codec
    val stub = Multimodal.extractMeta(media).collect().map(m => m.doc_id -> m.sha).toMap
    assert(meta.map(m => m.doc_id -> m.sha).toMap === stub)
  }

  test("media store: split layout — thin meta, sorted payload with pushed point fetch") {
    val s = spark
    import s.implicits._
    val media = Multimodal.fromDocuments(spark,
      graft.core.Tables.documents(spark, "/root/testdata/sf0.001"))
    val dir = java.nio.file.Files.createTempDirectory("mediastore").toString
    Multimodal.writeMediaStore(media, dir)
    // meta is the hot analytic side: correct per-row typed metadata,
    // no payload column anywhere in the dataset
    val meta = Multimodal.mediaMeta(spark, dir)
    assert(!meta.columns.contains("payload"))
    val expected = media.collect().map(m => m.doc_id ->
      (m.media_type, m.payload.length.toLong,
        java.security.MessageDigest.getInstance("SHA-256").digest(m.payload)
          .map("%02x".format(_)).mkString)).toMap
    val got = meta.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[String]("media_type"), r.getAs[Long]("byte_len"), r.getAs[String]("sha"))).toMap
    assert(got === expected)
    // the split is physical: the payload dataset carries ONLY the id and
    // the bytes (no metadata duplicated alongside megabyte rows), and the
    // meta dataset never references a payload file. (A size-ratio check
    // would be fixture-dependent — these payloads are document text, not
    // real media bytes.)
    val payloadDs = spark.read.parquet(s"$dir/payload")
    assert(payloadDs.columns.toSet === Set("doc_id", "payload"))
    // point fetch: ids reach the parquet scan as pushed filters, and the
    // fetched bytes hash back to the recorded sha
    val ids = Seq(3L, 77L, 411L)
    val fetch = Multimodal.fetchPayloads(spark, dir, ids)
    val plan = fetch.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(doc_id"),
      s"id predicate not pushed to the payload scan:\n$plan")
    val fetched = fetch.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Array[Byte]]("payload")).toMap
    assert(fetched.keySet === ids.toSet)
    fetched.foreach { case (id, bytes) =>
      val sha = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
        .map("%02x".format(_)).mkString
      assert(sha === expected(id)._3, s"payload round-trip mismatch for $id")
    }
  }

  test("product quantization: seeds code themselves exactly; ADC finds them; recall floor") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pq = Embeddings.buildPq(emb, "vec_id", "embedding", 8, 16)
    val codes = pq.codes.cache()
    // every vector gets exactly one code per subspace
    val n = emb.count()
    assert(codes.count() === n * 8)
    // a codebook seed's own subspaces quantize to itself with dist 0
    val seedIds = emb.select("vec_id").orderBy("vec_id").limit(16)
      .collect().map(_.getLong(0))
    val seedRows = codes.filter(col("vec_id").isin(seedIds: _*)).collect()
    seedRows.foreach { r =>
      assert(r.getAs[Double]("dist") === 0.0,
        s"seed ${r.getAs[Long]("vec_id")} not self-coded")
    }
    // ADC: probing WITH a seed vector returns that seed at rank 1, dist 0
    val probes = emb.filter(col("vec_id").isin(seedIds.take(3): _*))
    val top = pq.topK(probes, 5).collect()
    seedIds.take(3).foreach { pid =>
      val r1 = top.filter(r => r.getAs[Long]("probe_id") == pid &&
        r.getAs[Int]("rank") == 1).head
      assert(r1.getAs[Long]("neighbor_id") === pid)
      assert(r1.getAs[Double]("approx_dist") === 0.0)
    }
    // recall@10 of ADC vs exact L2 on non-seed probes — PQ with 16 codes
    // per subspace on random 64-dim data is a coarse quantizer; the floor
    // just pins "substantially better than chance" (chance = 10/500)
    val vecs = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Double]]("e").toArray).toMap
    val probeIds = vecs.keys.toSeq.sorted.filterNot(seedIds.contains).take(20)
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }; s
    }
    val adc = pq.topK(emb.filter(col("vec_id").isin(probeIds: _*)), 10).collect()
      .groupBy(_.getAs[Long]("probe_id"))
      .map { case (p, rs) => p -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val recalls = probeIds.map { p =>
      val exact = vecs.toSeq.sortBy { case (id, v) => (l2(vecs(p), v), id) }
        .take(10).map(_._1).toSet
      (adc(p) & exact).size / 10.0
    }
    val mean = recalls.sum / recalls.length
    info(f"PQ ADC recall@10 over ${probeIds.length} probes: $mean%.3f")
    // measured 0.265 on this corpus (13x chance); floor leaves flake margin
    assert(mean >= 0.15, f"ADC recall collapsed: $mean%.3f")
    codes.unpersist()
  }

  test("trained PQ codebooks beat the deterministic seed codebooks on recall") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val vecs = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Double]]("e").toArray).toMap
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }; s
    }
    val probeIds = vecs.keys.toSeq.sorted.slice(20, 40)
    val probeDf = emb.filter(col("vec_id").isin(probeIds: _*))
    def recall(idx: Embeddings.PqIndex): Double = {
      val adc = idx.topK(probeDf, 10).collect()
        .groupBy(_.getAs[Long]("probe_id"))
        .map { case (p, rs) => p -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
      probeIds.map { p =>
        val exact = vecs.toSeq.sortBy { case (id, v) => (l2(vecs(p), v), id) }
          .take(10).map(_._1).toSet
        (adc(p) & exact).size / 10.0
      }.sum / probeIds.length
    }
    val rSeed = recall(Embeddings.buildPq(emb, "vec_id", "embedding", 8, 16))
    val rTrained = recall(Embeddings.buildPqTrained(emb, "vec_id", "embedding", 8, 16))
    info(f"PQ recall@10: seed codebooks $rSeed%.3f, trained $rTrained%.3f")
    assert(rTrained >= rSeed,
      f"trained codebooks ($rTrained%.3f) should not lose to seeds ($rSeed%.3f)")
  }

  test("IVF-PQ: self-retrieval through the residual codes; partial probe prunes; recall holds") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = Similarity.buildIvfPq(emb, 8, 8, 16)
    // full probe: a codebook-seed probe comes back to itself at rank 1
    // with distance 0 (its residual IS a codebook entry in each subspace)
    val seedIds = emb.select("vec_id").orderBy("vec_id").limit(16)
      .collect().map(_.getLong(0))
    val full = idx.topK(emb.filter(col("vec_id").isin(seedIds.take(3): _*)),
      5, nProbe = 8).collect()
    seedIds.take(3).foreach { pid =>
      val r1 = full.filter(r => r.getAs[Long]("probe_id") == pid &&
        r.getAs[Int]("rank") == 1).head
      assert(r1.getAs[Long]("neighbor_id") === pid)
      assert(r1.getAs[Double]("approx_dist") === 0.0)
    }
    // recall@10 vs exact L2, full probe vs nProbe=2: partial probing can
    // only lose candidates whose cells weren't probed
    val vecs = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Double]]("e").toArray).toMap
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }; s
    }
    val probeIds = vecs.keys.toSeq.sorted.filterNot(seedIds.contains).take(20)
    val probeDf = emb.filter(col("vec_id").isin(probeIds: _*))
    def recall(nProbe: Int): Double = {
      val adc = idx.topK(probeDf, 10, nProbe).collect()
        .groupBy(_.getAs[Long]("probe_id"))
        .map { case (p, rs) => p -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
      probeIds.map { p =>
        val exact = vecs.toSeq.sortBy { case (id, v) => (l2(vecs(p), v), id) }
          .take(10).map(_._1).toSet
        (adc(p) & exact).size / 10.0
      }.sum / probeIds.length
    }
    val rFull = recall(8); val rPartial = recall(2)
    info(f"IVF-PQ recall@10: full-probe $rFull%.3f, nProbe=2 $rPartial%.3f")
    assert(rFull >= 0.15, f"full-probe recall collapsed: $rFull%.3f")
    assert(rPartial <= rFull + 1e-9, "partial probe cannot beat full probe")
    // partial probe returns only vectors from probed cells
    val cellsOf = idx.codes.select("neighbor_id", "cell").distinct().collect()
      .map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Int]("cell")).toMap
    val p0 = probeIds.head
    val probed2 = idx.topK(probeDf.filter(col("vec_id") === p0), 10, 2).collect()
      .map(_.getAs[Long]("neighbor_id")).map(cellsOf).toSet
    assert(probed2.size <= 2, s"nProbe=2 returned vectors from cells $probed2")
    idx.codes.unpersist()
  }

  test("IVF-PQ distributed join matches driver-side topK; probes never collected") {
    import org.apache.spark.sql.functions._
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = Similarity.buildIvfPq(emb, 8, 8, 16)
    // expected from the DRIVER-SIDE path: topK at k+1 keeps enough rows
    // that dropping self-pairs and re-ranking reproduces the join form's
    // exact contract (self in top-6 -> 5 non-self remain; self outside ->
    // truncate 6 to 5)
    val exp = idx.topK(emb, 6, nProbe = 2).collect()
      .filter(r => r.getAs[Long]("probe_id") != r.getAs[Long]("neighbor_id"))
      .groupBy(_.getAs[Long]("probe_id")).toSeq
      .flatMap { case (p, rs) =>
        rs.sortBy(r => (r.getAs[Double]("approx_dist"), r.getAs[Long]("neighbor_id")))
          .take(5).zipWithIndex.map { case (r, i) =>
            (p, r.getAs[Long]("neighbor_id"), r.getAs[Double]("approx_dist"), i + 1)
          }
      }.toSet
    // plan-building the join form runs ZERO Spark jobs: the probe frame
    // is never collected (the scale contract VS topK's driver-side table)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      val j0 = jobs.get
      val joined = idx.topKJoin(emb, 5, nProbe = 2)
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      assert(jobs.get === j0,
        "topKJoin ran Spark jobs during plan construction — a probe collect snuck in")
      val got = joined.collect().map(r => (r.getAs[Long]("probe_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("approx_dist"),
        r.getAs[Int]("rank"))).toSet
      assert(got === exp)
    } finally spark.sparkContext.removeSparkListener(listener)
    idx.codes.unpersist()
  }

  test("IVF-PQ rankedCandidates and topK build no driver-side data: zero jobs, no local table, rows equal the driver ADC loop") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = emb.filter(col("vec_id") < 20)
    val idx = Similarity.buildIvfPq(emb, 8, 8, 16)
    // the oracle: the distance table built on the driver from collected
    // probes (cells ranked by 2·c·p − ||c||², ties to the smaller cell),
    // passed to Spark as a local relation and joined to the codes
    def driverLoop(maxProbe: Int): org.apache.spark.sql.DataFrame = {
      val s = spark
      import s.implicits._
      val centers = idx.centers; val codebooks = idx.codebooks; val subDim = idx.subDim
      val pv = probes.select(col("vec_id").cast("long").as("probe_id"),
          transform(col("embedding"), x => x.cast("double")).as("_p"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      val table = for {
        (pid, p) <- pv.toSeq
        (cell, cellRank) <- centers.indices
          .map(i => (centers(i).zipWithIndex.map { case (x, j) =>
            2 * x * (if (j < p.length) p(j) else 0.0) }.sum
            - centers(i).map(x => x * x).sum, i))
          .sortBy { case (score, i) => (-score, i) }
          .take(maxProbe).zipWithIndex
          .map { case ((_, c), r0) => (c, r0 + 1) }
        sub <- codebooks.indices
        (ctr, code) <- codebooks(sub).zipWithIndex
      } yield {
        val center = centers(cell)
        var dist = 0.0
        var j = 0
        while (j < ctr.length) {
          val off = sub * subDim + j
          val r = (if (off < p.length) p(off) else 0.0) -
            (if (off < center.length) center(off) else 0.0)
          val diff = r - ctr(j)
          dist += diff * diff
          j += 1
        }
        (pid, cell, cellRank, sub, code, dist)
      }
      val t = broadcast(table.toDF(
        "probe_id", "cell", "cell_rank", "subspace", "code", "pd"))
      idx.codes.join(t, Seq("cell", "subspace", "code"))
        .groupBy(col("probe_id"), col("neighbor_id"))
        .agg(round(sum(col("pd")), 6).as("approx_dist"),
          min(col("cell_rank")).as("cell_rank"))
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("approx_dist"), r.getAs[Int]("cell_rank"))).toSet
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // the query's own operators, through AQE stages and subqueries;
    // the cached index's build plan (its centers table) is not walked
    val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def localScans(df: org.apache.spark.sql.DataFrame) =
      aqe.collectWithSubqueries(df.queryExecution.executedPlan) {
        case l: org.apache.spark.sql.execution.LocalTableScanExec => l
      }
    try {
      Seq(1, 4).foreach { maxProbe =>
        val oracle = driverLoop(maxProbe)
        val exp = rows(oracle)
        assert(localScans(oracle).nonEmpty, "the walker must see the oracle's local table")
        spark.sparkContext.addSparkListener(listener)
        val (cand, top) = try {
          org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
          val j0 = jobs.get
          val built = (idx.rankedCandidates(probes, maxProbe),
            idx.topK(probes, 5, nProbe = maxProbe))
          org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
          assert(jobs.get === j0,
            s"maxProbe=$maxProbe: building the plans ran Spark jobs — a probe collect snuck in")
          built
        } finally spark.sparkContext.removeSparkListener(listener)
        assert(rows(cand) === exp, s"maxProbe=$maxProbe")
        top.collect()
        Seq(cand, top).foreach { df =>
          assert(localScans(df).isEmpty, s"maxProbe=$maxProbe: a driver-built table " +
            s"reached the plan:\n${df.queryExecution.executedPlan}")
        }
      }
    } finally idx.codes.unpersist()
  }

  // ------------------------------------------------------- semantic dedup

  /** Spark `round` semantics (HALF_UP via BigDecimal) for the local
    * reference implementations below.
    */
  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def cosLocal(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  test("embeddingCosinePairs dup-collapse equals the direct raw pair join (copies + zero vector)") {
    import spark.implicits._
    // fixture: per-block copies (the collapse path), distinct near/far
    // vectors (the cross path), and an all-zero vector (0/0 => NaN =>
    // dropped on BOTH paths)
    val rows = Seq(
      (1L, "x", Array(1.0f, 0.0f)), (2L, "x", Array(1.0f, 0.0f)),
      (3L, "x", Array(1.0f, 0.0f)),                      // 3 copies
      (4L, "x", Array(0.9f, 0.1f)), (5L, "x", Array(-1.0f, 0.0f)),
      (6L, "x", Array(0.0f, 0.0f)), (7L, "x", Array(0.0f, 0.0f)), // zero copies
      (8L, "y", Array(1.0f, 0.0f)),                      // other block
      (9L, "y", Array(0.8f, 0.6f)))
    val emb = rows.toDF("vec_id", "label", "embedding")
    val got = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding", "label", 0.35)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("cosine"))).toSet
    // direct raw formulation: every same-block id pair, rounded cosine
    val v = emb.select(col("label").as("blk"), col("vec_id").as("vid"),
      transform(col("embedding"), x => x.cast("double")).as("vec"))
    val exp = v.as("a").join(v.as("b"),
        col("a.blk") === col("b.blk") && col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"),
        round(Similarity.dot(col("a.vec"), col("b.vec")) /
          (sqrt(Similarity.dot(col("a.vec"), col("a.vec"))) *
            sqrt(Similarity.dot(col("b.vec"), col("b.vec")))), 6).as("cosine"))
      .filter(col("cosine") >= 0.35)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("cosine"))).toSet
    assert(got === exp)
    // the copies DID pair with each other and the zero vectors did NOT
    assert(got.contains((1L, 2L, 1.0)) && got.contains((2L, 3L, 1.0)))
    assert(!got.exists(p => p._1 == 6L || p._2 == 6L || p._1 == 7L || p._2 == 7L))
  }

  test("semantic dedup (seed assignment) matches a full local reference") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Dedup.semanticDedup(emb, "vec_id", "embedding", 8, 0.35).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster"), r.getAs[Long]("keep"))).toMap
    // local straight-line reference: same seeds, same rounded-cosine
    // argmax with ties to the smaller seed id, same min-id EXISTS rule
    val vecs = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Double]]("e").toArray)
      .sortBy(_._1)
    val seeds = vecs.take(8)
    val assign = vecs.map { case (id, v) =>
      val best = seeds.map { case (sid, sv) => (r6(cosLocal(v, sv)), sid) }
        .maxBy { case (c, sid) => (c, -sid) }._2
      id -> best
    }.toMap
    val dup = vecs.map { case (id, v) =>
      id -> vecs.exists { case (oid, ov) =>
        oid < id && assign(oid) == assign(id) && r6(cosLocal(ov, v)) >= 0.35 }
    }.toMap
    assert(out.size === vecs.length)
    vecs.foreach { case (id, _) =>
      assert(out(id)._1 === assign(id), s"cluster mismatch for $id")
      assert(out(id)._2 === (if (dup(id)) 0L else 1L), s"keep mismatch for $id")
    }
    // the operator actually dedups something on this corpus
    assert(out.values.exists(_._2 == 0L))
  }

  test("semantic dedup with trained centroids applies the min-id rule within its clusters") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Dedup.semanticDedupKMeans(emb, "vec_id", "embedding", 8, 0.35).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("cluster"), r.getAs[Long]("keep"))).toMap
    val vecs = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Double]]("e").toArray)
      .sortBy(_._1)
    // given the operator's own assignment, keep flags must equal the local
    // min-id EXISTS rule (validates the within-cluster join, rank order,
    // and the rounded-threshold compare independent of k-means internals)
    vecs.foreach { case (id, v) =>
      val dup = vecs.exists { case (oid, ov) =>
        oid < id && out(oid)._1 == out(id)._1 && r6(cosLocal(ov, v)) >= 0.35 }
      assert(out(id)._2 === (if (dup) 0L else 1L), s"keep mismatch for $id")
    }
    // clusters partition the corpus; fixed seed => deterministic rerun
    val rerun = Dedup.semanticDedupKMeans(emb, "vec_id", "embedding", 8, 0.35).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("cluster"), r.getAs[Long]("keep"))).toMap
    assert(rerun === out)
  }

  test("semantic dedup keepFarthest keeps the centroid-farthest member (paper rule)") {
    val s = spark
    import s.implicits._
    // ids 1+2 are spatially tight (every 2-means init converges to
    // {1,2} | {3}) and directionally near-dup (cos = 0.9119 >= 0.9);
    // their centroid is (1, 0.225), so id 1 is centroid-CLOSER
    // (ccos 0.9798 vs 0.9756). min-id keeps {1, 3}; the paper rule keeps
    // the farther member: {2, 3}.
    val d = Seq(
      (1L, Seq(1.0, 0.45)),
      (2L, Seq(1.0, 0.0)),
      (3L, Seq(-1.0, 1.0))
    ).toDF("vec_id", "embedding")
    def kept(keepFarthest: Boolean): Set[Long] =
      Dedup.semanticDedupKMeans(d, "vec_id", "embedding", 2, 0.9, keepFarthest)
        .collect().filter(_.getAs[Long]("keep") == 1L)
        .map(_.getAs[Long]("vec_id")).toSet
    assert(kept(keepFarthest = false) === Set(1L, 3L))
    assert(kept(keepFarthest = true) === Set(2L, 3L))
  }

  test("incremental semantic dedup judges only the batch, against corpus then siblings") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val batch = emb.filter(col("vec_id") % 5 === 0)
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val out = Dedup.semanticDedupIncremental(batch, corpus, "vec_id", "embedding", 8, 0.35)
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster"), r.getAs[Long]("keep"))).toMap
    val vecs = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Double]]("e").toArray)
      .sortBy(_._1)
    val corpusVecs = vecs.filter(_._1 % 5 != 0)
    val batchVecs = vecs.filter(_._1 % 5 == 0)
    val seeds = corpusVecs.take(8)
    def assign(v: Array[Double]): Long =
      seeds.map { case (sid, sv) => (r6(cosLocal(v, sv)), sid) }
        .maxBy { case (c, sid) => (c, -sid) }._2
    val cAssign = corpusVecs.map { case (id, v) => (id, assign(v), v) }
    val bAssign = batchVecs.map { case (id, v) => (id, assign(v), v) }
    assert(out.size === batchVecs.length)
    // corpus rows never appear in the output
    assert(out.keySet.forall(_ % 5 == 0))
    bAssign.foreach { case (id, cl, v) =>
      val dupVsCorpus = cAssign.exists { case (_, ocl, ov) =>
        ocl == cl && r6(cosLocal(ov, v)) >= 0.35 }
      val dupInBatch = bAssign.exists { case (oid, ocl, ov) =>
        oid < id && ocl == cl && r6(cosLocal(ov, v)) >= 0.35 }
      assert(out(id)._1 === cl, s"cluster mismatch for $id")
      assert(out(id)._2 === (if (dupVsCorpus || dupInBatch) 0L else 1L),
        s"keep mismatch for $id")
    }
  }

  test("incremental semantic dedup over id-ordered batches equals the one-shot dedup") {
    // the epoch-lifecycle equivalence: when batches arrive in id order
    // (so the first batch contains the k seed ids and every later row is
    // larger), folding semanticDedupIncremental over the batches must
    // reproduce semanticDedup on the union exactly — same seeds, and the
    // corpus side is ALL prior rows (kept or dropped), matching one-shot
    // min-id which judges y against every lower id regardless of that
    // id's own dup status
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val k = 8
    val oneShot = Dedup.semanticDedup(emb, "vec_id", "embedding", k, 0.35).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster"), r.getAs[Long]("keep"))).toMap
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).sorted
    val cuts = Seq(ids(ids.length / 4), ids(ids.length / 2), ids(3 * ids.length / 4))
    val ranges = (Long.MinValue +: cuts :+ Long.MaxValue).sliding(2).toSeq
    val sequential = scala.collection.mutable.Map[Long, (Long, Long)]()
    ranges.zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      val batch = emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
      val out =
        if (i == 0) Dedup.semanticDedup(batch, "vec_id", "embedding", k, 0.35)
        else Dedup.semanticDedupIncremental(batch,
          emb.filter(col("vec_id") < lo), "vec_id", "embedding", k, 0.35)
      out.collect().foreach(r => sequential(r.getAs[Long]("vec_id")) =
        (r.getAs[Long]("cluster"), r.getAs[Long]("keep")))
      graft.core.CacheScope.release()
    }
    assert(sequential.toMap === oneShot)
  }

  test("prototype pruning drops the centroid-nearest quarter of each cluster") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Sampling.prototypePrune(emb, "vec_id", "embedding", 8, 0.25).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster"), r.getAs[Double]("ccos"), r.getAs[Long]("keep"))).toMap
    val vecs = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Double]]("e").toArray)
      .sortBy(_._1)
    val seeds = vecs.take(8)
    val assign = vecs.map { case (id, v) =>
      val (c, sid) = seeds.map { case (sid, sv) => (r6(cosLocal(v, sv)), sid) }
        .maxBy { case (c, sid) => (c, -sid) }
      id -> ((sid, c))
    }.toMap
    assert(out.size === vecs.length)
    // per cluster: exactly floor(n/4) dropped, and every dropped member's
    // (ccos, id) ranks strictly before every kept member's
    assign.groupBy(_._2._1).foreach { case (cluster, members) =>
      val ranked = members.toSeq
        .map { case (id, (_, c)) => (id, c) }
        .sortBy { case (id, c) => (-c, id) }
      val drops = (0.25 * ranked.size).toInt
      ranked.zipWithIndex.foreach { case ((id, c), i) =>
        assert(out(id)._1 === cluster)
        assert(out(id)._2 === c, s"ccos mismatch for $id")
        assert(out(id)._3 === (if (i < drops) 0L else 1L),
          s"keep mismatch for $id (rank ${i + 1} of ${ranked.size} in $cluster)")
      }
    }
  }
}
