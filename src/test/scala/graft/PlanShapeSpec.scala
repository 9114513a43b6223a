package graft

/** Plan-shape regressions: the properties that make these queries scale
  * are asserted on the optimized physical plans, not just observed once.
  */
class PlanShapeSpec extends SparkSpec {

  // Tier override for plan audits at bigger tiers (size-based planner
  // decisions are tier-dependent — the q5 broadcast inversion only
  // appeared once orders outgrew the customer subtree's estimate):
  //   GRAFT_PLANSPEC_SF=/root/testdata/sf0.1 sbt "testOnly graft.PlanShapeSpec"
  // Default stays the committed sf0.001 pin the suite always runs.
  private val sf = sys.env.getOrElse("GRAFT_PLANSPEC_SF", "/root/testdata/sf0.001")

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("s1: range + set-membership predicates reach the parquet scan") {
    val p = plan("s1_oplog_scan")
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(event_id,2000)"))
    assert(p.contains("IN (purchase,signup)")) // FileScan summary truncates; check the Filter node
  }

  test("a1: top-k plans as TakeOrderedAndProject, not a global sort") {
    assert(plan("a1_topk_counts").contains("TakeOrderedAndProject"))
  }

  test("j1/j5: dimension side broadcasts") {
    assert(plan("j1_order_enrich").contains("BroadcastHashJoin"))
    assert(plan("j5_semi_exists").contains("LeftSemi"))
  }

  test("j2: theta residual stays inside the equi join (no cartesian)") {
    val p = plan("j2_theta_residual")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("j2/q3: fact-side joins sort-merge (the at-scale plan), reusing the join partitioning for the agg") {
    // pinned via merge hints: locally the size-based planner would
    // broadcast the SF-proportional orders side, fusing probe + partial
    // agg into the serial single-row-group scan task (NOTES round 8) —
    // and at 100 TB that side never broadcasts anyway
    Seq("j2_theta_residual", "q3_top_revenue").foreach { q =>
      val p = plan(q)
      assert(p.contains("SortMergeJoin"), s"$q lost its sort-merge join")
      // the groupBy must ride the join's orderkey partitioning: exactly
      // the two join-input exchanges, none between join and aggregate
      assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
        s"$q re-shuffles between join and aggregation")
    }
  }

  test("mixture resample: quota side broadcasts; ranking is the only data shuffle") {
    val p = plan("sample_mixture_temperature")
    assert(p.contains("BroadcastHashJoin"), "quota frame must broadcast")
    // the only nested-loop join is the scalar _wsum broadcast (one-row
    // aggregate side — the same benign pattern as TextAnalysis's scalar
    // cross joins); a cartesian over data rows is still forbidden
    assert(!p.contains("CartesianProduct"))
    // the rank window shuffles on the source key, never a global window
    assert(p.contains("hashpartitioning(source"),
      "per-source rank window must partition by source")
  }

  test("q1: aggregation is two-phase (partial + final) and codegen'd") {
    val p = plan("q1_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    // the int128 sums must ride the codegen'd hash aggregate — the
    // imperative Sum128 form forced ObjectHashAggregate (no whole-stage
    // codegen, one boxed Long per row per aggregate on the hot path)
    assert(!p.contains("ObjectHashAggregate"),
      "q1's sums fell back to the object hash aggregate")
  }

  test("exact-sum dispatch: footer-proven gates ride the plain long sum; JSON-derived sums keep the int128 fallback") {
    // at any testdata tier every TPC-H money bound x rowcount fits 2^63,
    // so all five footer-provable gates must dispatch to sum(long) +
    // MakeDecimal — zero graft_sum128 in their plans
    Seq("q1_pricing_summary", "j2_theta_residual", "q3_top_revenue",
        "q5_region_rollup", "q17_small_quantity").foreach { q =>
      val p = plan(q)
      assert(!p.contains("graft_sum128"),
        s"$q did not dispatch its exact sum to the long path")
      // the decimal reinterpretation sits in the aggregate's result
      // expressions, which the physical summary elides — pin it on the
      // optimized logical plan
      val lp = SparkEntry.queries(q)(spark, sf)
        .queryExecution.optimizedPlan.toString.toLowerCase
      assert(lp.contains("makedecimal") || lp.contains("make_decimal"),
        s"$q's long sum lost its MakeDecimal reinterpretation")
    }
    // the hive-engine quantity is parsed from JSON — no footer can bound
    // it, and the dispatch must NEVER force the long path without a proof
    assert(plan("plug_hive_transfers").contains("graft_sum128"),
      "plug_hive_transfers must keep the int128 fallback (unprovable bound)")
  }

  test("exact-sum dispatch fails safe: oversized footer bounds and opaque plans keep the int128 path") {
    import org.apache.spark.sql.functions._
    import graft.functions.ExactSum
    import graft.core.RowCounts
    val dir = java.nio.file.Files.createTempDirectory("exactsum").toString
    // magnitude near 2^63 at scale 2: bound x rows overflows -> no proof
    spark.range(10).select((col("id") + lit(9.0e16)).as("v"))
      .write.mode("overwrite").parquet(s"$dir/big")
    val big = spark.read.parquet(s"$dir/big")
    assert(ExactSum.unscaledAbsBound(big, "v", 2).isDefined,
      "footer stats should be readable")
    assert(!ExactSum.fitsLong(ExactSum.unscaledAbsBound(big, "v", 2),
      RowCounts.upperBound(big)),
      "oversized bound must not prove the long path")
    // small values DO prove it
    spark.range(1000).select((col("id") % 100).cast("double").as("v"))
      .write.mode("overwrite").parquet(s"$dir/small")
    val small = spark.read.parquet(s"$dir/small")
    assert(ExactSum.fitsLong(ExactSum.unscaledAbsBound(small, "v", 2),
      RowCounts.upperBound(small)))
    // an opaque plan (self-join fanout) has no footer row bound -> no proof
    val joined = small.join(small.withColumnRenamed("v", "w"),
      col("v") === col("w"))
    assert(RowCounts.upperBound(joined).isEmpty)
    assert(!ExactSum.fitsLong(ExactSum.unscaledAbsBound(small, "v", 2),
      RowCounts.upperBound(joined)))
    // a computed projection must not inherit the source column's bound
    val computed = small.select((col("v") * 1.0e18).as("v"))
    assert(RowCounts.columnAbsBound(computed, "v").isEmpty,
      "computed expressions must disqualify the footer bound")
    // bit-identical results: both accumulators produce the same
    // decimal(38,2), including the all-null group -> null contract
    val withNulls = small.withColumn("g", col("v") % 3)
      .withColumn("v", when(col("g") === 2, lit(null)).otherwise(col("v")))
    val es = graft.functions.ExactSum
    val un = org.apache.spark.sql.GraftBridge.unscaled(
      col("v").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
    val both = withNulls.select(col("g"), un.as("_u"))
      .groupBy("g")
      .agg(es.sumExact(col("_u"), 2, provenFitsLong = true).as("long_sum"),
           es.sumExact(col("_u"), 2, provenFitsLong = false).as("i128_sum"))
      .collect()
    both.foreach { r =>
      assert(r.get(1) == r.get(2),
        s"dispatch mismatch for group ${r.get(0)}: ${r.get(1)} vs ${r.get(2)}")
    }
  }

  test("dedup pair generation is an equi join on constructed keys, never a cross") {
    Seq("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_embedding_cosine",
      "dedup_simhash_pairs", "sim_lsh_topk").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join")
    }
  }

  test("corpus self-join dedup plans never broadcast: every side is corpus- or result-proportional") {
    // The size-based planner's estimate for explode-derived frames
    // undersold the LSH bucket table badly enough to broadcast it on
    // whole tiers — fine at 10x, driver OOM at the 100x tier ("Not
    // enough memory to build and broadcast"). These queries have no
    // dimension side anywhere: shingles, band buckets, fingerprints,
    // chunk tables and candidate pairs all grow with the corpus (or the
    // result), so every join must be a shuffle join at every tier.
    Seq("dedup_ngram_jaccard", "dedup_containment", "dedup_minhash_lsh",
      "dedup_simhash_pairs").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastHashJoin"),
        s"$q broadcasts a corpus-proportional side")
    }
    // dedup_embedding_cosine is EXEMPT at this tier by design: its
    // corpus is footer-proven under the direct cutoff, where the small
    // path deliberately broadcasts (stage floors dominate there). The
    // scale pin for the above-cutoff path is the next test.
  }

  test("containment: one shingle self-join straight into the pair aggregation — no candidate/fetch chain") {
    // round-13 A/B verdict pinned as a shape (tools/ContProbe, sf10:
    // aggregation 1081 task-core-s vs prefix-candidates+verify 2163):
    // the plan must be the SINGLE sort-merge self-join feeding the pair
    // count — a candidate distinct + two array-fetch joins (the rejected
    // shape) would show 3 joins here
    val p = plan("dedup_containment")
    assert("SortMergeJoin".r.findAllIn(p).size === 1,
      "expected exactly the one shingle self-join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the pair count must partial-aggregate map-side before its exchange
    // (the shuffle carries combined pair partials, not raw join output)
    assert(p.contains("partial_count"), "pair aggregation lost its map-side partial")
  }

  test("capped containment: an empty hot census elides the whole hot machinery at plan time") {
    // r16 verdict task 1: the clean-corpus (empty-census) plan must be
    // structurally identical to the exact operator's — ONE shingle
    // self-join, no anti join, no semi-join dropped census, no
    // adjustment outer joins. Under static planning the old
    // always-built adjustment joins SMJ'd against provably-empty frames
    // and exchanged the 1.27B-row pair frame twice at the sf100sub tier
    // (SCALE_STRESS round 16); the shape below cannot regress that way
    // under ANY planner because the joins no longer exist. The approx
    // gate is pinned on an ad-hoc corpus instead of the sf0.001 tier:
    // its SAMPLED ceiling there is tiny (ceil(0.05·~60) = 3), so the
    // tier's census is legitimately non-empty at that scale.
    val gate = plan("dedup_containment_capped")
    assert("SortMergeJoin".r.findAllIn(gate).size === 1,
      "expected exactly the one shingle self-join")
    assert(!gate.contains("LeftAnti") && !gate.contains("LeftSemi") &&
      !gate.contains("LeftOuter"),
      "hot machinery must be elided on an empty census")
    import spark.implicits._
    val d = (0 until 256).map(i => (i.toLong, s"w${i}a w${i}b w${i}c w${i}d w${i}e"))
      .toDF("doc_id", "text")
    val pa = graft.operators.Dedup
      .containmentPairsCappedApprox(d, "text", "doc_id", 3, 0.6)
      .queryExecution.executedPlan.toString
    assert("SortMergeJoin".r.findAllIn(pa).size === 1 &&
      !pa.contains("LeftAnti") && !pa.contains("LeftSemi") &&
      !pa.contains("LeftOuter"),
      "approx: hot machinery must be elided on an empty sampled census")
    graft.core.CacheScope.release()
  }

  test("capped containment: a non-empty hot census broadcasts the dropped frames") {
    import spark.implicits._
    // every doc shares a hot phrase -> non-empty census: the anti/semi
    // joins against the (dimension-sized, driver-counted) hot list must
    // broadcast, and BOTH per-doc dropped-count adjustment joins must be
    // broadcast outer joins — the aggregated pair frame is never
    // exchanged for them, under static planning included
    val common = (1 to 10).map(i => s"c$i").mkString(" ")
    val d = (0 until 24).map(i => (i.toLong, s"$common u${i / 2}a u${i / 2}b"))
      .toDF("doc_id", "text")
    val q = graft.operators.Dedup.containmentPairsCapped(d, "text", "doc_id", 3, 0.6, 0.2)
    val p = q.queryExecution.executedPlan.toString
    assert("SortMergeJoin".r.findAllIn(p).size === 1,
      "expected exactly the one shingle self-join")
    assert("BroadcastHashJoin.*LeftOuter".r.findAllIn(p).size === 2,
      "both dropped-count adjustment joins must broadcast")
    assert(!p.contains("SortMergeJoin LeftOuter") && !p.contains("ShuffledHashJoin"),
      "adjustment joins must never exchange the pair frame")
    assert(q.orderBy("doc_a", "doc_b").count() === 12L) // shape change, same result
    graft.core.CacheScope.release()
  }

  test("embedding cosine above the size cutoff: merge joins, no corpus broadcast") {
    import spark.implicits._
    // 20k rows > directPairCutoff (16384) -> the sizing pass runs and the
    // pair join must be a shuffle join: at scale both sides are the
    // corpus, and broadcasting one is exactly the 100x-tier driver OOM
    // the merge hints exist to forbid
    val big = (1 to 20000).map(i =>
      (i.toLong, i % 7, Array.fill(4)((i % 13).toFloat))).toDF("vec_id", "label", "embedding")
    val p = graft.operators.Dedup.embeddingCosinePairs(
      big, "vec_id", "embedding", "label", 0.99)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastHashJoin"), "corpus-proportional side broadcast")
    assert(p.contains("SortMergeJoin"), "pair join lost its sort-merge shape")
    graft.core.CacheScope.release()
  }

  test("poll_ops: the block-range predicate reaches the scan side") {
    val p = SparkEntry.queries("plug_polls_ops")(spark, sf)
      .queryExecution.optimizedPlan.toString
    // range filter sits on block_num before any join/sort (pushable at
    // the parquet source once the ops table is materialized to storage)
    assert(p.contains("block_num") && (p.contains(">= 100") || p.contains("100")))
  }

  test("sampling is a scan-level filter") {
    val s = plan("sample_deterministic")
    assert(!s.contains("Exchange hashpartitioning"), "sampling must not shuffle")
  }

  test("pack: prefix sum is sharded — window keyed by shard, no corpus-sized funnel") {
    val p = plan("pack_token_budget")
    assert(p.contains("Window"))
    assert(p.contains("hashpartitioning(_shard"),
      "window cumsum must be partitioned by the shard key")
    // r17: the shard prefix offsets moved in-plan — the ONE permitted
    // single-partition exchange carries the AGGREGATED one-row-per-shard
    // totals (dimension-sized: N/shardSize rows) into their prefix
    // window inside the broadcast offsets subtree. The CORPUS window
    // stays keyed by shard; a second single-partition exchange, or one
    // outside the broadcast subtree, would be the funnel this pin exists
    // to catch.
    val sp = "Exchange SinglePartition".r.findAllIn(p).toSeq.size
    assert(sp <= 1, s"unexpected single-partition exchanges: $sp")
    if (sp == 1) {
      // BroadcastExchange must EXIST for the index comparison to mean
      // anything (r17 advice: indexOf on a missing marker returns -1 and
      // any single-partition exchange — including a corpus funnel —
      // would pass)
      assert(p.contains("BroadcastExchange"),
        "offsets subtree lost its broadcast — funnel guard would be vacuous")
      assert(p.indexOf("Exchange SinglePartition") > p.indexOf("BroadcastExchange"),
        "the corpus side must never funnel through one partition")
    }
  }

  test("sim_ivfpq_join: executor-side ADC, salted equi join, bounded top-k — no cross, no window") {
    val p = plan("sim_ivfpq_join")
    // the ADC table is built by the native expression on executors, and
    // the per-probe cut is the bounded aggregate — not a window over the
    // candidate set, not a driver-built broadcast table
    assert(p.contains("graft_pq_adc_table"), p.take(600))
    assert(p.contains("graft_bounded_topk") && p.contains("ObjectHashAggregate"),
      p.take(600))
    assert(!p.contains("Window"), "candidate-sized window snuck back in")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("j7: as-of join is union + ONE keyed window shuffle, never a join node") {
    val p = plan("j7_asof_join")
    assert(p.contains("Window") && p.contains("Union"))
    // one data exchange (the user_id hash for the window); the only other
    // exchange is the gate's presentation rangepartitioning sort
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      "as-of must shuffle each input exactly once, on the key")
    assert(!p.contains("Join"), "as-of must not plan a join (row explosion)")
    // side-table filters reach both parquet scans
    assert("EqualTo\\(event_type,(click|purchase)\\)".r.findAllIn(p).size === 2)
  }

  test("j8: bounded-range join is equi (binned), never a nested loop") {
    val p = plan("j8_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "a raw inequality join would degenerate to a nested loop")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
  }

  test("spans: distinct-doc count collapses map-side; top-k avoids a global sort") {
    val p = plan("dedup_repeated_spans")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Join"))
    // partial (span, doc) collapse before the span shuffle: the exchange
    // carries span-level partials, not every occurrence
    assert(p.contains("partial_count"))
  }

  test("decontamination: candidate generation is an equi join, never a cross") {
    val p = plan("dedup_decontamination")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("map-side text operators plan without a data shuffle") {
    // repetition, redaction, chunking: one pass over the corpus — the only
    // exchange allowed is the gate's final presentation sort
    Seq("text_repetition", "text_redact_pii", "text_chunk_windows").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"), s"$q shuffles")
    }
    // stratified sampling filters at the scan side before its aggregation
    assert("Exchange hashpartitioning".r.findAllIn(plan("sample_stratified")).size <= 1)
  }

  test("tfidf: footer-bounded corpus broadcasts the term dictionary; corpus stream never shuffles by term") {
    val p = plan("text_tfidf_top_terms")
    // the df join must be broadcast-hash (the dictionary is the build
    // side), so the exploded (doc, term, tf) stream reaches the per-doc
    // top-k aggregation with the DOC exchange as its only wide shuffle;
    // the df build's own term aggregation is the one other exchange
    assert(p.contains("BroadcastHashJoin") && p.contains("BuildRight"),
      "term dictionary (the RIGHT side) must broadcast below the doc cutoff")
    assert(!p.contains("SortMergeJoin"), "corpus stream must not sort-merge on term")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "expected only the df-build term exchange + the per-doc agg exchange")
    // an input whose row count footers CANNOT bound (post-generate plan)
    // must not carry the broadcast HINT — the vocabulary is then
    // corpus-scale-unknown and only the size estimator (whose estimates
    // grow with the data, unlike a hint) may still broadcast a small one
    import org.apache.spark.sql.functions.{explode, array, lit}
    val unbounded = graft.core.Tables.documents(spark, sf)
      .withColumn("_dup", explode(array(lit(1), lit(2))))
      .drop("_dup")
    assert(graft.core.RowCounts.upperBound(unbounded).isEmpty, "fixture must defeat footer bounds")
    val p2 = graft.operators.TextAnalysis.tfidfTopTerms(unbounded)
      .queryExecution.optimizedPlan.toString
    assert(!p2.contains("strategy=broadcast"),
      "unbounded corpus must not FORCE a dictionary broadcast")
    val p1 = SparkEntry.queries("text_tfidf_top_terms")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(p1.contains("strategy=broadcast"),
      "footer-bounded corpus lost its dictionary broadcast hint")
    // the BYTE leg of the gate: the doc-count cutoff alone cannot bound
    // vocabulary (few-but-huge documents), so the gate also requires a
    // footer byte bound on the text column — verify the helper reads the
    // real chunk metadata and disqualifies computed projections
    val docs = graft.core.Tables.documents(spark, sf)
    val bytes = graft.core.RowCounts.columnUncompressedBytes(docs, "text")
    assert(bytes.exists(b => b > 0 && b < 512L * 1024 * 1024),
      s"text byte bound unreadable or implausible: $bytes")
    import org.apache.spark.sql.functions.{concat, col}
    val computed = docs.select(concat(col("text"), col("text")).as("text"))
    assert(graft.core.RowCounts.columnUncompressedBytes(computed, "text").isEmpty,
      "computed text must disqualify the footer byte bound")
  }

  test("unigram logprob: footer-bounded corpus broadcasts the dictionary; stream never shuffles by term") {
    val p = plan("text_unigram_logprob")
    assert(p.contains("BroadcastHashJoin"),
      "unigram dictionary must broadcast below the doc cutoff")
    assert(!p.contains("SortMergeJoin"), "corpus stream must not sort-merge on term")
    // dictionary-build term exchange + per-doc agg exchange only —
    // counted by DISTINCT plan_id: the cached dictionary's underlying
    // plan (one physical exchange) prints under BOTH its consumers
    val exchangeIds = "Exchange hashpartitioning[^\\[]*\\[(plan_id=\\d+)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchangeIds.size <= 2,
      s"expected only the dictionary-build + per-doc exchanges, got $exchangeIds:\n$p")
    // a footer-unboundable input must not carry the broadcast HINT
    import org.apache.spark.sql.functions.{explode, array, lit}
    val unbounded = graft.core.Tables.documents(spark, sf)
      .withColumn("_dup", explode(array(lit(1), lit(2))))
      .drop("_dup")
    val p2 = graft.operators.TextAnalysis.unigramLogProb(unbounded)
      .queryExecution.optimizedPlan.toString
    assert(!p2.contains("strategy=broadcast"),
      "unbounded corpus must not FORCE a dictionary broadcast")
    val p1 = SparkEntry.queries("text_unigram_logprob")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(p1.contains("strategy=broadcast"),
      "footer-bounded corpus lost its dictionary broadcast hint")
  }

  test("q17: one lineitem scan, one exchange — window and final agg share the partkey partitioning") {
    val p = plan("q17_small_quantity")
    // the r12 agg+self-join shape scanned the dominant table twice and
    // exchanged it twice; the window form is pinned to ONE of each
    assert("Scan parquet".r.findAllIn(p).size <= 1, "q17 re-scans lineitem")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      "q17's final agg must reuse the window's partkey partitioning")
    assert(!p.contains("Join"), "q17 must not self-join")
  }

  test("quantize/pack/sequences: no shuffle beyond the declared aggregations") {
    // quantization is map-side only: no exchange at all
    assert(!plan("emb_quantize_int8").contains("Exchange hashpartitioning"))
    // sequences: exactly the one groupBy exchange
    val seq = plan("seq_user_events")
    assert("Exchange hashpartitioning".r.findAllIn(seq).size <= 1)
  }

  test("bloom ingest dedup: map-side probe, single anti join, no cross") {
    // the gate's plan replicates the anti join per union branch of its
    // synthetic batch (LeftSemiLeftAntiPushDown) — assert on the operator
    // over a single-frame batch, the operational shape
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") < 250)
    val batch = docs.filter(col("doc_id") >= 250)
    val bloom = graft.operators.Dedup.fingerprintBloom(corpus, "text", 4096)
    val p = graft.operators.Dedup
      .incrementalNewBloom(batch, corpus, bloom, "text", "doc_id")
      .queryExecution.executedPlan.toString
    // the probe is a native expression evaluated in a Filter (pushed to
    // the scan), not a join
    assert(p.contains("graft_bloom_might_contain"), "bloom probe missing from plan")
    // one exact confirm join for the candidate branch; the definite-new
    // branch must not add a second
    assert("LeftAnti".r.findAllIn(p).size === 1, "expected exactly one anti join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("no inferred generate filter re-evaluates the shingle chain below the spread exchange") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val p = graft.operators.Dedup.shinglesN(docs.coalesce(1), "text", "doc_id")
      .queryExecution.executedPlan.toString
    // InferFiltersFromGenerate over a bare explode(attr) infers
    // size(arr) > 0, and PushDownPredicates substitutes the FULL
    // shingle-hash expression into a filter below the round-robin
    // exchange — the whole shingle computation re-run per row,
    // single-threaded on the un-spread source. The when() guard in
    // shinglesN must keep it out: the expensive expression appears
    // exactly once, above the exchange.
    assert("graft_shingle_hashes".r.findAllIn(p).size === 1,
      "shingle chain must be evaluated exactly once (inferred filter leaked below the exchange?)")
    val belowExchange = p.substring(p.indexOf("RoundRobinPartitioning"))
    assert(!belowExchange.contains("graft_shingle_hashes"),
      "shingle chain must stay above the spread exchange")
  }

  test("spread is conditional: a well-split source gets no extra round-robin exchange") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // pre-split to >= defaultParallelism: the only round-robin in the plan
    // must be this explicit one — spread() must not add a second
    val pre = docs.repartition(8)
    val p = graft.operators.Dedup.shingles(pre, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert("RoundRobinPartitioning".r.findAllIn(p).size === 1,
      "well-split input must not be re-shuffled by spread()")
    // a single-split source still spreads
    val p1 = graft.operators.Dedup.shingles(docs.coalesce(1), "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(p1.contains("RoundRobinPartitioning"), "single-split input must spread")
  }

  test("spread passes a shuffled input through without probing or re-shuffling") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sf)
    // an aggregate already redistributes to spark.sql.shuffle.partitions;
    // spread() must not probe .rdd (under AQE that would RUN the shuffle
    // stages) nor add a round-robin on top. Track job launches to prove
    // the probe didn't execute anything.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val agg = docs.groupBy(col("lang")).agg(concat_ws(" ", collect_list(col("text"))).as("text"))
      val out = graft.core.Spread.ensureParallel(agg)
      val p = out.queryExecution.executedPlan.toString
      assert(!p.contains("RoundRobinPartitioning"), "shuffled input must not be re-shuffled")
      // listener delivery is async; a short bounded wait is enough to
      // catch a probe-launched job (they arrive within milliseconds)
      Thread.sleep(300)
      assert(jobs.get() === 0, "partition probe must not launch jobs on a shuffled input")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("global fence: every unpartitioned window in the whole query set sits above an aggregate") {
    // the bench tail shows exactly one benign `WindowExec: No Partition
    // Defined` warning (corpusMixture's cumulative share over the
    // strata-cardinality aggregate — dimension-sized at any input scale).
    // This fence makes that provenance a test: a FUTURE unpartitioned
    // window over raw rows anywhere in the query set fails here instead
    // of hiding behind the known warning.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    def containsAgg(n: SparkPlan): Boolean =
      n.nodeName.contains("Aggregate") || n.children.exists(containsAgg)
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
      p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty && !containsAgg(w.child) =>
          s"$q: unpartitioned window over a non-aggregated child"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("global fence: no broadcast join builds a bigger unreduced table than it streams") {
    // the q5 inversion, pinned for every query: the size-based planner
    // happily broadcast the 27 MB SF-proportional orders side and
    // streamed the 10x smaller customer side (a driver hash build of the
    // fact table; at 100 TB that side never fits). "Broadcast the smaller
    // side" must hold STRUCTURALLY — by table identity, not by local
    // size-estimate accidents. A side counts as reduced (exempt) once a
    // genuine row-reducing step sits between the join and the scan: a
    // filter beyond null checks, an aggregate, a limit, or an inner join.
    import org.apache.spark.sql.catalyst.expressions.{And, Expression, IsNotNull}
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    // SF-proportionality rank: bigger number = bigger table at any tier
    val rank = Map("lineitem" -> 10, "orders" -> 9, "events" -> 8,
      "customer" -> 7, "part" -> 6, "documents" -> 5, "embeddings" -> 4,
      "supplier" -> 3, "nation" -> 2, "region" -> 1)
    def predicates(e: Expression): Seq[Expression] = e match {
      case And(l, r) => predicates(l) ++ predicates(r)
      case other => Seq(other)
    }
    def reduces(conds: Seq[Expression]): Boolean =
      conds.flatMap(predicates).exists(!_.isInstanceOf[IsNotNull])
    def scanRank(s: FileSourceScanExec): Option[Int] =
      if (reduces(s.dataFilters)) None
      else s.relation.location.rootPaths.flatMap(p =>
        rank.collectFirst { case (t, r) if p.toString.contains(s"/$t.parquet") => r }
      ).headOption
    def unreduced(n: SparkPlan): Seq[Int] = n match {
      case s: FileSourceScanExec => scanRank(s).toSeq
      case f: FilterExec if reduces(Seq(f.condition)) => Nil
      case x if x.nodeName.contains("Aggregate") || x.nodeName.contains("Limit") ||
        x.nodeName.contains("Join") => Nil
      case x => x.children.flatMap(unreduced)
    }
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
      graft.core.CacheScope.release()
      p.collect {
        case j: BroadcastHashJoinExec =>
          val (build, stream) =
            if (j.buildSide == BuildRight) (j.right, j.left) else (j.left, j.right)
          (q, unreduced(build), unreduced(stream))
        case j: BroadcastNestedLoopJoinExec =>
          val (build, stream) =
            if (j.buildSide == BuildRight) (j.right, j.left) else (j.left, j.right)
          (q, unreduced(build), unreduced(stream))
      }.collect {
        case (qq, b, s) if b.nonEmpty && s.nonEmpty && b.max >= s.max =>
          s"$qq: broadcasts rank-${b.max} side against rank-${s.max} stream"
      }
    }
    assert(offenders.isEmpty, offenders.distinct.mkString("; "))
  }

  test("corpus mixture: windows run over the aggregated (dimension-sized) frame only") {
    val p = SparkEntry.queries("stats_corpus_mixture")(spark, sf)
      .queryExecution.executedPlan
    // the single-partition exchanges for the share windows must sit ABOVE
    // the aggregate, never below it (that would funnel raw rows)
    def containsAgg(n: org.apache.spark.sql.execution.SparkPlan): Boolean =
      (n.nodeName.contains("HashAggregate")) || n.children.exists(containsAgg)
    p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.numPartitions == 1 => e
    }.foreach { e =>
      assert(containsAgg(e), "single-partition exchange below the aggregation")
    }
    assert(p.toString.contains("HashAggregate"))
  }

  test("derived state: resetDerivedCaches releases every memoized frame, and the next read rebuilds") {
    import org.apache.spark.storage.StorageLevel
    SparkEntry.warm(spark, sf)
    val serving = SparkEntry.servingTables(spark, sf)
    val recorded = serving.toSeq :+ ("ivf cells" -> SparkEntry.ivfIndex(spark, sf).cells)
    recorded.foreach { case (n, df) =>
      assert(df.storageLevel != StorageLevel.NONE, s"$n not persisted after warm") }
    SparkEntry.resetDerivedCaches()
    recorded.foreach { case (n, df) =>
      assert(df.storageLevel === StorageLevel.NONE, s"$n still persisted after reset") }
    val rebuilt = SparkEntry.servingTables(spark, sf)
    assert(rebuilt.keySet === serving.keySet)
    rebuilt.foreach { case (n, df) =>
      assert(!(df eq serving(n)), s"$n: reset kept the old frame")
      assert(df.storageLevel != StorageLevel.NONE, s"$n not persisted after rebuild")
    }
  }

  test("bench stdout line fits its budget when every query failed or the task_sec block alone overflows") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val sfField = s""","sf":"$sf""""
    val allFailed = Bench.printedLine(names.map(_ -> -1.0), Map.empty, sfField)
    assert(allFailed.length <= Bench.Budget, allFailed)
    assert(allFailed.contains(s""""value":0.000""") && allFailed.contains(""""sum":0.000"""))
    // failed queries, not failed timed runs over the passes
    assert(allFailed.contains(s""""failed":${names.length},"""), allFailed)
    // a suffix so long that not half the query rows fit beside even one
    // task_sec row: task_sec must be dropped, and the slowest rows that
    // fit without it still print
    val longSf = s""","sf":"${"/d" * 600}""""
    val timed = names.zipWithIndex.map { case (n, i) => n -> (1.0 + i) }
    val line = Bench.printedLine(timed, names.map(_ -> 12.34).toMap, longSf)
    assert(line.length <= Bench.Budget, s"${line.length} chars")
    assert(!line.contains("task_sec") && line.contains(s""""queries":{"${timed.last._1}":"""), line)
    val omitted = """"omitted":\{"n":([0-9]+)""".r.findFirstMatchIn(line).get.group(1).toInt
    assert(omitted > 0 && omitted < names.length, line)
  }

  test("bench stdout line prints at least half the query rows beside task_sec and the baseline") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    // seconds as a real run prints them; eighths are exact in binary, so
    // the printed sums are exact
    val timed = names.zipWithIndex.map { case (n, i) => n -> 0.125 * (i % 64 + 1) }
    val suffix = s""","engine_total":22.510,"duck_total":29.460,"duck_warmed":true,"ratio":0.764,"sf":"$sf""""
    val line = Bench.printedLine(timed, names.map(_ -> 3.14).toMap, suffix)
    assert(line.length <= Bench.Budget, s"${line.length} chars")
    assert(line.contains("task_sec"), line)
    val rows = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(line).get.group(1)
      .split(",").map(e => BigDecimal(e.split(":")(1))).toSeq
    assert(rows.size >= 55, s"${rows.size} query rows: $line")
    def field(k: String) = BigDecimal(s""""$k":([0-9.]+)""".r.findFirstMatchIn(line).get.group(1))
    assert(field("value") === rows.sum + field("sum"), line)
    assert(field("value") === names.indices.map(i => BigDecimal(0.125) * (i % 64 + 1)).sum)
  }
}
