package graft

import graft.queries.Registry

/**
 * Physical-plan evidence for the scale-critical properties (SURVEY.md
 * "scale design"): filters and projections reach the parquet scan,
 * dimensions broadcast, global sort+limit compiles to per-partition
 * top-K, and aggregations are map-side combined. These are the
 * properties that decide whether a query survives a 100× scale-up, so
 * they are pinned here — a regression (a lost broadcast hint, a filter
 * that stops pushing) fails the suite, not just the benchmark.
 */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = Registry.byName(name).fn(spark, sfDir)
    df.count() // let AQE settle so the final plan is inspected
    df.queryExecution.executedPlan.toString
  }

  test("q15: shipdate filter and column projection reach the parquet scan") {
    val p = planOf("q15_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      "filter not pushed to scan")
    // projection pruned: the 16-column lineitem scan reads only what q15 needs
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_quantity") && !readSchema.contains("l_comment"),
      s"column pruning lost: $readSchema")
  }

  test("q16: dimension broadcast + top-N as TakeOrderedAndProject") {
    val p = planOf("q16_shipping_priority")
    assert(p.contains("BroadcastHashJoin"), "customer dim should broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "top-10 should compile to per-partition top-K, not a global sort")
  }

  test("q24: global sort+limit compiles to TakeOrderedAndProject") {
    assert(planOf("q24_top_events").contains("TakeOrderedAndProject"))
  }

  test("q105: collocation top-k is per-partition heaps, counts map-side combined") {
    val p = planOf("q105_collocations")
    assert(p.contains("TakeOrderedAndProject"),
      "global top-k must not be a full sort")
    val hashAggs = p.split("HashAggregate").length - 1
    assert(hashAggs >= 4, s"bigram+unigram counts should partial-agg, saw $hashAggs")
  }

  test("q01: aggregation is map-side combined (partial + final HashAggregate)") {
    val p = planOf("q01_daily_counts")
    val hashAggs = p.split("HashAggregate").length - 1
    assert(hashAggs >= 2, s"expected partial+final HashAggregate, saw $hashAggs")
  }

  test("q43: brute-force ANN broadcasts the query side, never sort-merges") {
    val p = planOf("q43_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle for the scan")
  }

  test("q20: tiny dim join is broadcast-hash, no sort-merge") {
    val p = planOf("q20_broadcast_join")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
  }

  test("q88: bloom routing is a scan-stage might_contain filter, not a join") {
    val p = planOf("q88_bloom_decontaminate")
    assert(p.contains("might_contain"),
      "the Bloom pre-filter must appear as a native expression in the plan")
    // the clean branch never joins: exactly ONE anti-join (the maybe
    // branch's exact re-check) in the whole two-branch union
    val antis = p.split("LeftAnti").length - 1
    assert(antis == 1, s"expected exactly one anti-join, saw $antis")
  }

  test("q90: the z-value is scan-stage — no exchange below the partial agg") {
    val p = planOf("q90_zorder_cells")
    // one shuffle total: the zcell groupBy. The Morton interleave itself
    // must not induce any exchange.
    val exchanges = p.split("Exchange").length - 1
    assert(exchanges <= 2, s"z-value computation should not shuffle: $p")
    assert(p.contains("shiftright"), "interleave should be inline bitwise ops")
  }

  test("q92: sketch heavy hitters needs one single-partition sketch merge, no vocab shuffle") {
    val p = planOf("q92_heavy_hitters_sketch")
    assert(p.contains("approx_top_k") || p.contains("ApproxTopK"),
      "sketch aggregate missing from plan")
    // partial sketches merge through ONE exchange to a single partition —
    // never a vocabulary-keyed hash exchange
    assert(!p.contains("hashpartitioning(term"),
      s"vocabulary must not shuffle by term: $p")
    // ... and the merge really is a SinglePartition exchange (32 fixed-size
    // sketches to one task), so a regression back to a term-keyed shuffle
    // cannot slip in as some other partitioning either
    assert(p.contains("Exchange SinglePartition"),
      s"sketch merge should be a SinglePartition exchange: $p")
  }

  test("q96: refined ADC re-rank joins stay hash joins — corpus never sort-merges") {
    val p = planOf("q96_ann_adc_refined")
    // the only nested-loop joins are the broadcast codebook/lookup-table
    // cross joins ADC is built from; the candidate re-rank must resolve
    // to (broadcast) hash joins on neighbor_id/query_id
    assert(!p.contains("CartesianProduct"), "unbroadcast cross product in refined ADC")
    assert(!p.contains("SortMergeJoin"), s"re-rank should hash-join, not sort-merge: $p")
  }

  test("q97: the minhash-composed keep-list plans with no cross product") {
    // pairs -> clusters run through eager checkpoints, so the final plan
    // is the keep-list anti-join — it must stay an equi-join (broadcast
    // or shuffled), never a nested-loop over document rows
    val p = planOf("q97_deduped_corpus_minhash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"keep-list must stay equi-join only: $p")
  }

  test("q76: the composed curation pipeline plans with no nested-loop join") {
    // five operators chained; a lost broadcast hint or a non-equi
    // condition anywhere would surface as a BroadcastNestedLoopJoin over
    // document rows — quadratic at corpus scale
    val p = planOf("q76_curation_pipeline")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "curation pipeline must stay equi-join only")
  }

  test("q89/q101: mixture rank is bucketed — no per-source window over the corpus") {
    // Window.partitionBy(source) puts EVERY row of a source on one task
    // (a pretraining mix has few sources, so at 100 TB the largest
    // source sorts on one core). The samplers must rank via the bucketed
    // prefix operator: corpus windows keyed (bucket, source) — never
    // source alone — with per-source offsets broadcast back.
    for (q <- Seq("q89_mixture_sample", "q101_mixture_tokens")) {
      val p = planOf(q)
      assert(!p.contains("windowspecdefinition(source#"),
        s"$q ranks through a per-source corpus window again")
      assert(p.contains("windowspecdefinition(__graft_bkt"),
        s"$q lost the bucketed cell window")
      assert(p.contains("BroadcastExchange"),
        s"$q offsets/quotas must broadcast, not shuffle the corpus")
    }
  }

  test("q100: training order is Catalyst end-to-end — no RDD round-trip, no global window") {
    val p = planOf("q100_training_order")
    assert(!p.contains("ExistingRDD"),
      "rank must stay in Tungsten (rounds ≤ 8 exited through .rdd.zipWithIndex)")
    assert(p.contains("windowspecdefinition(__graft_bkt"),
      "contiguous rank should come from the bucketed cell window")
  }

  test("q103: approx profile is Expand-free — one pass, no multi-distinct row duplication") {
    // q67's exact multi-distinct Expands every scanned row ×4 (once per
    // profiled column) to key the distinct aggregates; the HLL variant
    // must profile in one pass with fixed-size sketch merges — the plan
    // you'd run at 100 TB.
    val p = planOf("q103_profile_approx")
    assert(!p.contains("Expand"), s"approx profile must not Expand the scan: $p")
    assert(p.contains("approx_count_distinct"), "HLL aggregate missing from plan")
    val exact = planOf("q67_profile")
    assert(exact.contains("Expand"),
      "q67 exact profile lost its multi-distinct shape (pin both sides of the trade)")
  }

  test("q102: persisted-index serving reads codes for ranking — embeddings only for the refine join") {
    val p = planOf("q102_ivf_serve_refined")
    assert(!p.contains("CartesianProduct"), "unbroadcast cross product in PQ serving")
    assert(!p.contains("SortMergeJoin"), s"re-rank should hash-join, not sort-merge: $p")
  }

  test("q54: IVF assignment is scan-stage — corpus never shuffles before the probe join") {
    val p = planOf("q54_ann_ivf_topk")
    // the single-row centroid array reaches the corpus as a broadcast
    assert(p.contains("BroadcastNestedLoopJoin"), "centroid array should broadcast")
    // the only hash shuffles are the two query_id windows (probe ranking
    // + final ranking); round 3's groupBy(vec_id) argmax added a third,
    // moving every corpus row (embedding included) across the network
    val shuffles = p.split("Exchange hashpartitioning").length - 1
    assert(shuffles <= 2, s"corpus assignment should not shuffle, saw $shuffles hash exchanges")
  }

  test("q113: bigram-LM scoring joins on term keys — no cartesian, model joins hash") {
    val p = planOf("q113_bigram_surprisal")
    assert(!p.contains("CartesianProduct"),
      "model probe must stay an equi-join")
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"the (w1,w2)/w1 model joins should hash (AQE broadcasts a small model): $p")
    // V rides one broadcast row onto the scorer, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "vocab-size scalar should broadcast")
  }

  test("q114: epoch upsampling ranks bucketed and explodes at scan stage") {
    val p = planOf("q114_epoch_mixture")
    assert(!p.contains("windowspecdefinition(source#"),
      "per-source corpus window crept back into the epoch sampler")
    assert(p.contains("windowspecdefinition(__graft_bkt"),
      "lost the bucketed prefix rank")
    // the epoch fan-out is a Generate over sequence(), not a join
    assert(p.contains("Generate explode"), "epoch repetition should explode")
  }

  test("q115: RRF fusion joins two top-k lists — nothing corpus-sized shuffles twice") {
    val p = planOf("q115_hybrid_rrf")
    assert(!p.contains("CartesianProduct"), "fusion must not cross-join")
    // both candidate lists end in per-partition top-k before fusing
    assert(p.contains("TakeOrderedAndProject"),
      "candidate lists should compile to per-partition top-k")
  }

  test("q116: append-lifecycle search scans cell partitions, pruned at plan time") {
    val p = planOf("q116_ivf_append_search")
    assert(p.contains("PartitionFilters"), "cell pruning filter missing")
    assert(!p.contains("SortMergeJoin"),
      s"assigned-corpus search must not sort-merge: $p")
  }

  test("q118/q119: prune and epoch order rank bucketed — no stratum/global window") {
    for (q <- Seq("q118_quality_prune", "q119_epoch_training_order")) {
      val p = planOf(q)
      assert(!p.contains("windowspecdefinition(source#"),
        s"$q ranks through a per-source corpus window")
      assert(p.contains("windowspecdefinition(__graft_bkt"),
        s"$q lost the bucketed rank")
    }
  }

  test("q185: run-length islands rank bucketed — no per-source window over the order") {
    // gap-and-islands needs row_number within source; partitioning the
    // corpus-length training order by source alone puts a 90%-share
    // source on ONE task — the rank must ride the bucketed prefix
    // operator like every other per-source rank (q89/q101/q118/q119)
    val p = planOf("q185_order_run_lengths")
    assert(!p.contains("windowspecdefinition(source#"),
      "q185 ranks through a per-source corpus window again")
    assert(p.contains("windowspecdefinition(__graft_bkt"),
      "q185 lost the bucketed cell window")
  }

  test("q211: the v13 capstone plans with no cartesian and no per-source corpus window") {
    // five stages composed; a lost broadcast or a non-equi condition in
    // any of them would surface as a nested-loop join over corpus rows
    val p = planOf("q211_curation_v13")
    assert(!p.contains("CartesianProduct"), "v13 must stay equi-join only")
    assert(!p.contains("windowspecdefinition(source#") &&
      !p.contains("windowspecdefinition(lang#"),
      "v13 must not rank through a per-group corpus window")
  }

  test("q212: annealed order ranks bucketed — no global and no per-rung window") {
    val p = planOf("q212_annealed_order")
    assert(p.contains("windowspecdefinition(__graft_bkt"),
      "annealed rank should come from the bucketed cell window")
    assert(!p.contains("windowspecdefinition(bucket#"),
      "a per-quality-rung window is a corpus-share single task")
  }

  test("q120/q117: perceptual and containment pairing stay equi-joins") {
    for (q <- Seq("q120_phash_pairs", "q117_containment_pairs")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"),
        s"$q candidate generation must be an equi-join, not all-pairs")
    }
  }

  test("q121: report card is Expand-free (no multi-distinct row multiplication)") {
    assert(!planOf("q121_corpus_report").contains("Expand"))
  }

  test("q124/q125: version QA ops join narrow derived keys, never cartesian") {
    for (q <- Seq("q124_corpus_diff", "q125_vocab_drift")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
        s"$q must not plan an unbroadcast cross product")
    }
    // drift's top-k compiles to per-partition heaps
    assert(planOf("q125_vocab_drift").contains("TakeOrderedAndProject"))
  }

  test("q122/q123: decon-index probes anti-join the stored tables, no cartesian") {
    for (q <- Seq("q122_decon_index_probe", "q123_decon_index_fuzzy")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q planned a cross product")
      assert(p.contains("LeftAnti"), s"$q lost the anti-join gate")
    }
  }

  test("q126/q128: hard negatives broadcast the query side; v2 pipeline has no nested loop") {
    assert(planOf("q126_hard_negatives").contains("BroadcastNestedLoopJoin"),
      "query side should broadcast like bruteForceTopK")
    val p = planOf("q128_curation_v2")
    assert(!p.contains("CartesianProduct"), "v2 pipeline planned a cross product")
    assert(!p.contains("Expand"), "v2 report stage must stay Expand-free")
  }

  test("q131: hybrid IVF dense side prunes cell partitions, never sort-merges the corpus") {
    val p = planOf("q131_hybrid_rrf_ivf")
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(p).isDefined,
      "dense candidate read lost its cell partition pruning")
    assert(!p.contains("CartesianProduct"), "hybrid fusion planned a cross product")
  }

  test("q133: v3 pipeline — one shared pair pass, no nested loop, Expand-free report") {
    val p = planOf("q133_curation_v3")
    assert(!p.contains("CartesianProduct"), "v3 pipeline planned a cross product")
    assert(!p.contains("Expand"), "v3 report stage must stay Expand-free")
  }

  test("q134: spanning pack ranks bucketed and fans out at scan stage — no global corpus window") {
    val p = planOf("q134_pack_spanning")
    // the concatenation order must come from the bucketed PrefixRank,
    // never a windowspec over the whole corpus keyed on the order hash
    assert(p.contains("windowspecdefinition(__graft_bkt"),
      "spanning pack lost the bucketed rank")
    assert(p.contains("Generate explode"),
      "sequence-id fan-out should be a scan-stage explode")
  }

  test("q137: gopher rules are ONE scan — no exchange anywhere in the plan") {
    // per-row integer rules must not shuffle; the whole query is
    // scan -> project (+ the orderBy the registry adds for the dump)
    val df = Registry.byName("q137_gopher_rules").fn(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") || p.contains("rangepartitioning"),
      s"rule evaluation introduced a shuffle beyond the output sort: $p")
    assert(!p.contains("hashpartitioning"),
      "rule evaluation must not hash-shuffle")
  }

  test("q139: the filter funnel is one aggregate pass, not one per rule") {
    val p = planOf("q139_filter_funnel")
    // one partial+final aggregate pair over the flags — five rules must
    // NOT become five scans of the corpus
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 1, s"funnel rescans the corpus per rule ($scans scans): $p")
  }

  test("q140: v4 pipeline — gate first, no nested loop, Expand-free report") {
    val p = planOf("q140_curation_v4")
    assert(!p.contains("CartesianProduct"), "v4 pipeline planned a cross product")
    assert(!p.contains("Expand"), "v4 report stage must stay Expand-free")
  }

  test("q143: v5 pipeline — learned-filter joins broadcast, no nested loop, Expand-free report") {
    val p = planOf("q143_curation_v5")
    assert(!p.contains("CartesianProduct"), "v5 pipeline planned a cross product")
    assert(!p.contains("Expand"), "v5 report stage must stay Expand-free")
    // the LM "model" sides (vocab total, corpus total) are 1-row frames
    // and must reach the plan as broadcasts, never a sort-merge side —
    // pinned on the selection stage itself, pre-checkpoint (the final
    // v5 plan reads its localCheckpoint cuts)
    import org.apache.spark.sql.functions._
    val docs = graft.model.Tables.documents(spark, sfDir)
    val sel = graft.llm.Retrieval.surprisalBuckets(docs,
      docs.filter(col("doc_id") % 4 === 0))
    sel.count()
    val sp = sel.queryExecution.executedPlan.toString
    assert(sp.contains("BroadcastExchange"),
      "surprisal totals lost their broadcast")
    assert(!sp.contains("CartesianProduct"))
  }

  test("q147: DSIR count-table probes broadcast; ranking never windows the corpus") {
    val p = planOf("q147_dsir_selection")
    assert(!p.contains("CartesianProduct"), "DSIR planned a cross product")
    // the ≤1024-row bucket count tables join the scan-stage feature
    // stream as broadcasts — a sort-merge there shuffles every feature
    assert(p.contains("BroadcastExchange"), "count tables lost the broadcast")
    // PrefixRank's corpus-side window must be bucket-partitioned; the
    // only unpartitioned window allowed is the one over the cell table
    val globalWin = "Window.*__graft_bkt".r
    assert(globalWin.findFirstIn(p).isDefined,
      "ranking window lost its hash-range bucket partitioning")
  }

  test("q149: v6 export — no cross product, pack windows partition by shard") {
    val p = planOf("q149_curation_v6")
    assert(!p.contains("CartesianProduct"), "v6 pipeline planned a cross product")
    // the packing prefix sums must stay per-shard (8-way), never a
    // corpus-wide unpartitioned window
    assert(p.contains("windowspecdefinition(shard#"),
      "pack window lost its shard partitioning")
  }

  test("q151: DoReMi reweighting — floor/total rows broadcast, no cross product") {
    val p = planOf("q151_doremi_mixture")
    assert(!p.contains("CartesianProduct"), "DoReMi planned a cross product")
    // the min/mass and weight-total frames are 1-row each and must reach
    // the domain table as broadcasts (the term-keyed surprisal joins
    // upstream may legitimately sort-merge — that is their scale shape)
    assert(p.contains("BroadcastExchange"),
      "mixture totals lost their broadcast")
  }

  test("q157: v7 pipeline — no cross product; the DoReMi fill stage windows bucketed") {
    // the final v7 plan reads its two localCheckpoint cuts (the q66
    // edge-list pattern), so the fill stage's shape is pinned on the
    // stage itself, pre-checkpoint
    assert(!planOf("q157_curation_v7").contains("CartesianProduct"),
      "v7 pipeline planned a cross product")
    import org.apache.spark.sql.functions._
    val docs = graft.model.Tables.documents(spark, sfDir)
    val sel = graft.llm.TextAnalysis.doremiSelect(docs,
      docs.filter(col("doc_id") % 4 === 0), massBudget = 20000L)
    sel.count()
    val p = sel.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "DoReMi fill planned a cross product")
    // per-domain rank/prefix-mass from PrefixRank's bucketed windows,
    // never Window.partitionBy(source) over the corpus
    val globalWin = "Window.*__graft_bkt".r
    assert(globalWin.findFirstIn(p).isDefined,
      "DoReMi fill lost its hash-range bucket partitioning")
    assert(p.contains("BroadcastExchange"),
      "quota/total frames lost their broadcast")
  }

  test("q170: v8 pipeline — no cross product; winnow probe broadcasts the benchmark prints") {
    // the final v8 plan reads its two localCheckpoint cuts, so pin the
    // decon stage's shape on the stage itself, pre-checkpoint
    assert(!planOf("q170_curation_v8").contains("CartesianProduct"),
      "v8 pipeline planned a cross product")
    import org.apache.spark.sql.functions._
    val docs = graft.model.Tables.documents(spark, sfDir)
    val flags = graft.llm.DedupOps.winnowDecontaminate(docs,
      docs.filter(col("doc_id") % 41 === 3))
    flags.count()
    val p = flags.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "benchmark print set lost its broadcast (probe would shuffle the corpus prints)")
    assert(!p.contains("CartesianProduct"))
  }

  test("q135/q132: unicode gates stay scan-stage hash anti-join / hash agg") {
    val p135 = planOf("q135_unicode_decontaminate")
    assert(p135.contains("LeftAnti"), "unicode decon lost the anti-join gate")
    assert(!p135.contains("SortMergeJoin"),
      "benchmark side must broadcast, not sort-merge")
    assert(!planOf("q132_unicode_dedup").contains("CartesianProduct"))
  }

  test("q179: v9 multilingual pipeline — no cross product; unicode winnow probe broadcasts") {
    assert(!planOf("q179_curation_v9").contains("CartesianProduct"),
      "v9 pipeline planned a cross product")
    import org.apache.spark.sql.functions._
    val docs = graft.model.Tables.documents(spark, sfDir)
    val flags = graft.llm.DedupOps.winnowDecontaminate(docs,
      docs.filter(col("doc_id") % 41 === 3),
      tok = graft.llm.DedupOps.Tokenizer.Unicode)
    flags.count()
    val p = flags.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "unicode benchmark print set lost its broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q183: v10 scrub-not-drop pipeline — no cross product") {
    assert(!planOf("q183_curation_v10").contains("CartesianProduct"),
      "v10 pipeline planned a cross product")
  }

  test("q200: calibration — the trained model broadcasts, no sort-merge join") {
    val p = planOf("q200_classifier_calibration")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "centroid model lost its broadcast")
    assert(!p.contains("SortMergeJoin"), "calibration shuffled the corpus")
    assert(!p.contains("CartesianProduct"))
  }

  test("q202: split leakage — split labels join the pair list, no cross product") {
    val p = planOf("q202_split_leakage")
    assert(!p.contains("CartesianProduct"),
      "split-leakage audit planned a cross product")
  }

  test("q206: repetition coverage — two-level hash agg, never a global window") {
    val p = planOf("q206_repetition_coverage")
    assert(!p.contains("Window"),
      "repetition coverage planned a window — the per-(doc,n,gram) " +
        "aggregate must stay a hash agg")
    assert(p.contains("HashAggregate"), "expected map-side-combined aggs")
  }

  test("q199/q204: multilingual + rewrite-first flagships — no cross product") {
    assert(!planOf("q199_curation_v11").contains("CartesianProduct"),
      "v11 pipeline planned a cross product")
    assert(!planOf("q204_curation_v12").contains("CartesianProduct"),
      "v12 pipeline planned a cross product")
  }

  test("q231: the v14 export capstone plans with no cartesian product") {
    assert(!planOf("q231_curation_v14").contains("CartesianProduct"),
      "v14 pipeline planned a cross product")
  }

  test("q219: bucketed fact-fact join needs NO exchange on either side") {
    import org.apache.spark.sql.functions.col
    // broadcast and AQE off: prove it is the BUCKETING that removes the
    // shuffle, not a small-side broadcast or a runtime rewrite. At 100 TB
    // neither side broadcasts — this layout is what makes the join local.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val (l, o) = graft.queries.RelationalQueries.bucketedPair(s2, sfDir)
    val j = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("o_orderpriority"))
    j.count()
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected a sort-merge join: $p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles: $p")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      "scan does not report bucketed read")
  }

  test("tokenStream export is scan-stage: no exchange, no join before landing") {
    // q236 lands this per micro-batch: the model rides the codec inside
    // the scan, so the export must plan as scan → project — a join or a
    // shuffle here would multiply per-batch latency by the corpus at
    // 100 TB and break the batch-split-invariance argument.
    val docs = graft.model.Tables.documents(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("plan_ug_idx").toString
    graft.llm.UnigramIndex.build(docs, dir)
    val stream = graft.llm.UnigramIndex.tokenStreamer(spark, dir)(docs)
    stream.count()
    val p = stream.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"token export shuffles: $p")
    assert(!p.contains("Join"), s"token export joins: $p")
    assert(p.contains("Generate"), "posexplode should be a Generate node")
  }
}
