package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan audits: the properties SURVEY §4 promises, asserted on the
  * ACTUAL physical plans rather than trusted from comments. A
  * regression that drops a pushdown or flips a broadcast join to a
  * shuffle fails here, not in a 100 TB run.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  /** Data-exchange count in a physical plan string (broadcast
    * exchanges excluded — they are the cheap alternative): the
    * counting rule behind the shuffle-budget assertion.
    *
    * Exchanges carrying a plan_id are counted ONCE per id: a scalar
    * subquery referenced from several operators re-renders its whole
    * subtree (same plan_id) at every reference site, but executes
    * once — q102's bloom-build exchange would otherwise count 3×.
    * Id-less renderings keep the raw count. KNOWN LIMITATION (r7
    * advice): plan strings rendered WITHOUT plan ids (AQE off) can
    * therefore still overcount a multiply-referenced subquery
    * exchange once per rendering — deduping identical id-less
    * subtree strings would instead UNDERcount genuinely distinct
    * exchanges that happen to render identically (two scans of the
    * same table aggregated the same way), so the count accepts the
    * conservative overcount there. The budgets run with AQE on
    * (plan ids present), where the count is exact.
    */
  private def countShuffles(plan: String): Int = {
    val withId = "Exchange (?:hash|range|SinglePartition)[^\n]*\\[plan_id=(\\d+)\\]".r
    val idMatches = withId.findAllMatchIn(plan).toSeq
    val distinctIds = idMatches.map(_.group(1)).toSet.size
    val all = "Exchange (hash|range|SinglePartition)".r.findAllIn(plan).size
    distinctIds + (all - idMatches.size)
  }

  test("q03 pushes filter and projection into the parquet scan") {
    val p = plan("q03_filter_project")
    // plan strings truncate long filter lists — assert on the list head
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), s"no pushed filters in:\n$p")
    // pruned read schema: the 4 selected columns only
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_shipdate"), "projection not pruned to selected columns")
    assert(!p.contains("l_extendedprice"), "unused column read")
  }

  test("dim joins broadcast, fact joins do not cartesian") {
    val p2 = plan("q02_join_broadcast")
    assert(p2.contains("BroadcastHashJoin"), "nation/region dims not broadcast")
    val p17 = plan("q17_star_join")
    assert(p17.contains("BroadcastHashJoin"), "star dims not broadcast")
    assert(!p17.contains("CartesianProduct"), "star join degenerated to cartesian")
  }

  test("no operator plan contains a cartesian product except broadcast probe fan-out") {
    // q24/q35 intentionally cross-join a tiny broadcast side (5 rows);
    // everything else must never cartesian.
    val exempt = Set("q24_haversine", "q35_ann_bruteforce")
    SparkEntry.queries.keys.filterNot(exempt).foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name contains a CartesianProduct")
    }
  }

  test("aggregations keep map-side partial aggregation") {
    val p = plan("q01_agg")
    // two HashAggregate nodes (partial + final) around the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, "q01 lost partial aggregation")
  }

  test("q61 reads only the columns the redaction needs") {
    val p = plan("q61_pii_redact")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), "q61 scan not pruned to (doc_id, text)")
  }

  test("q67 broadcasts the vocabulary, never shuffles the token stream for the join") {
    val p = plan("q67_oov_rate")
    assert(p.contains("BroadcastHashJoin"), "vocab join not broadcast")
  }

  test("q72 chunking is scan-local: pruned read, no exchange at all") {
    val p = plan("q72_doc_chunks")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), "q72 scan not pruned to (doc_id, text)")
    assert(!p.contains("Exchange"), s"q72 should be a pure scan-side pipeline:\n$p")
  }

  test("q79 histogram reads only the two columns it bins") {
    val p = plan("q79_histogram")
    assert(
      p.contains("ReadSchema: struct<l_extendedprice:double,l_returnflag:string>") ||
        p.contains("ReadSchema: struct<l_returnflag:string,l_extendedprice:double>"),
      "q79 scan not pruned to (l_returnflag, l_extendedprice)"
    )
  }

  test("q66 estimates similarity from signatures alone — no document re-scan") {
    // after the signature checkpoint, candidate generation and
    // estimation must run entirely off the materialized sketches: a
    // parquet scan in the plan would mean the shingle pipeline leaked
    // back in (the thing sketch-only estimation exists to avoid)
    val p = plan("q66_minhash_est")
    assert(!p.contains("Scan parquet"), s"q66 re-scans source data:\n$p")
    // same posture for the CMS probe: estimates read the checkpointed
    // 16 KB sketches only
    val p101 = plan("q101_cms_est")
    assert(!p101.contains("Scan parquet"), s"q101 re-scans source data:\n$p101")
  }

  // Shuffle budget per operator: the number of data exchanges
  // (Exchange hash/range/single — broadcast exchanges excluded, they
  // are the CHEAP alternative) in the initial physical plan. At 100 TB
  // every extra shuffle is the dominant cost, so a plan change that
  // adds one should fail loudly here, not surface as a mystery
  // regression in a cluster run. Budgets are the measured counts at
  // HEAD (sf-independent — identical at sf0.001 and sf0.01); queries
  // that localCheckpoint an upstream stage are budgeted on the
  // post-checkpoint plan.
  private val shuffleBudget: Map[String, Int] = Map(
    "q01_agg" -> 1,
    "q02_join_broadcast" -> 1,
    "q03_filter_project" -> 0,
    "q04_dedup_exact" -> 1,
    "q05_anti_join" -> 0,
    "q06_union_reconcile" -> 0,
    "q07_derived_id" -> 0,
    "q08_group_collect" -> 1,
    "q09_conditional_class" -> 1,
    "q10_collision_merge" -> 1,
    "q11_melt" -> 0,
    "q12_pivot" -> 2,
    "q13_scd2_upsert" -> 1,
    "q14_window_latest" -> 1,
    "q15_modal_agg" -> 2,
    "q16_sort_topk" -> 0,
    "q17_star_join" -> 1,
    "q18_rollup" -> 1,
    "q19_semi_join" -> 0,
    "q20_alias_normalize" -> 0,
    "q21_path_overrides" -> 0,
    "q22_string_template" -> 0,
    "q23_utm_zone" -> 2,
    "q24_haversine" -> 1,
    "q25_point_bbox" -> 1,
    "q26_token_count" -> 0,
    "q27_quality_score" -> 0,
    "q28_langid" -> 0,
    "q29_fingerprint" -> 0,
    "q30_dedup_text_exact" -> 1,
    "q31_dedup_ngram_jaccard" -> 3,
    "q32_dedup_minhash_lsh" -> 4,
    "q33_dedup_simhash" -> 2,
    "q34_dedup_embedding" -> 1,
    "q35_ann_bruteforce" -> 1,
    "q36_ann_lsh" -> 2,
    "q37_sessionize" -> 1,
    "q38_window_agg" -> 2,
    "q39_json_extract" -> 1,
    "q40_multimodal_meta" -> 0,
    "q41_ingest_manifest" -> 1,
    "q42_asof_join" -> 1,
    "q43_range_join" -> 2,
    "q44_stratified_sample" -> 0,
    // q45/q83: the bands checkpoint hides the sketch pass; the visible
    // exchanges are the exact-counts aggregate (group-cardinality rows
    // after map-side combine), the ±delta candidate-band window, and
    // the final group agg — the OLD budget-1 plan's single exchange
    // carried the whole table into three per-flag sorts, far worse
    // than these three metadata-sized ones.
    "q45_quantile_disc" -> 3,
    "q46_cube" -> 1,
    "q47_vocab_topk" -> 1,
    "q48_tfidf" -> 5,
    "q49_bigram_counts" -> 3,
    "q50_ann_ivf" -> 6,
    "q51_templated_columns" -> 0,
    "q52_spatial_grid_join" -> 1,
    "q53_interval_audit" -> 1,
    "q54_cdc_diff" -> 3,
    "q55_dup_clusters" -> 1,
    "q56_clean_corpus" -> 1,
    // q57: the exact half's two-stage distinct (2 exchanges) + the
    // sketch half's own single-exchange aggregate — kept SEPARATE so
    // the distinct rewrite cannot re-key the percentile sketch per
    // order (see the query comment; production runs the sketch half
    // alone); the quantile producer rides the localCheckpoint, the
    // 3-row joins broadcast
    "q57_approx_stats" -> 3,
    "q58_rolling_avg" -> 1,
    "q59_frame_sample" -> 0,
    "q60_mom_growth" -> 2,
    "q61_pii_redact" -> 0,
    "q62_repetition_filter" -> 2,
    "q63_contamination" -> 2,
    "q64_url_dedup" -> 1,
    "q65_char_classes" -> 0,
    "q66_minhash_est" -> 1,
    "q67_oov_rate" -> 2,
    "q68_funnel" -> 6,
    "q69_retention" -> 3,
    "q70_source_mixing" -> 1,
    // q71: the two-pass prefix sum trades the single per-source sort
    // for 3 bounded exchanges — bucket totals (source×bucket rows),
    // the tiny offset window, and the intra-bucket window whose sort
    // is ~n/buckets rows per task (order bounds ride a checkpointed
    // 1-row frame)
    "q71_token_shards" -> 3,
    "q72_doc_chunks" -> 0,
    "q73_argmax_rep" -> 1,
    "q74_attribution" -> 1,
    "q75_skew_join" -> 1,
    "q76_bm25" -> 5,
    "q77_sliding_windows" -> 2,
    "q78_heavy_hitters" -> 1,
    "q79_histogram" -> 1,
    "q80_column_profile" -> 2,
    "q81_embed_quantize" -> 0,
    // q82 (round 11: reads the PERSISTED cell index — label and qa
    // ride the cluster-bucketed table, so the only exchange left is
    // the kNN rank window's vec_id partitioning; the block self-join
    // reads stored buckets, the clustering ran once at ingest)
    "q82_knn_join" -> 1,
    // q83: the threshold producer is localCheckpointed out of the plan;
    // what remains is scan + broadcast label + one aggregate shuffle
    "q83_quantile_bucket" -> 1,
    "q84_dataset_split" -> 1,
    "q85_incremental_dedup" -> 1,
    "q86_census_aliases" -> 0,
    "q87_bucketed_index_dedup" -> 1,
    "q88_geo_union_merge" -> 1,
    // q89: winner election (seg_key agg) + per-doc reassembly agg; the
    // doc_id join rides the reassembly's partitioning
    "q89_segment_dedup" -> 2,
    // q90: the block-frequency cap pays a blk-keyed count exchange
    // plus the hot-set anti-join's exchange in the initial plan (AQE
    // broadcasts the tiny hot set at runtime; no forced hint — the
    // dfCapped rationale). Both exchanges carry 16-char keys, never
    // bodies; the block self-join itself broadcasts at test scale and
    // becomes a sort-merge pair over CAPPED blocks at corpus scale —
    // never all-pairs, never a hot key.
    "q90_prefix_containment" -> 2,
    // q91: group-count aggregate + the survivor-only rank window
    "q91_group_sample" -> 2,
    "q92_pmi_collocations" -> 3,
    // q93: the model build (bigram + prefix aggs) lives behind
    // localCheckpoints (reused AND AQE-skew-splittable — see
    // bigramLmScore); the visible plan is the per-doc aggregate, the
    // scoring joins broadcast at test scale
    "q93_bigram_lm_score" -> 1,
    "q94_temperature_mix" -> 1,
    // q95: pair generation reuses the checkpointed shingle frame; the
    // Levenshtein verify joins broadcast at test scale
    "q95_editdist_neardup" -> 1,
    "q96_psi_drift" -> 1,
    // q97: 0 because the result frame is the last localCheckpoint —
    // the iterative cost (2 shuffles/round over the src-partitioned
    // edge frame) lives in the loop, see operators/PageRank.scala
    "q97_link_pagerank" -> 0,
    // q104: same — result rides the loop's last localCheckpoint; the
    // edge side's zero-exchange property is asserted structurally in
    // GraphSpec
    "q104_pagerank_delta" -> 0,
    // q98: token counts + corpus marginal + source totals + final
    // reduce; the (source, token) frame is checkpointed and re-shuffles
    // once per consumer rather than re-reading documents
    "q98_source_entropy" -> 4,
    // q99: the whole weighted sample is ONE bounded-heap aggregate
    "q99_weighted_sample" -> 1,
    // q100: postings self-join + pair aggregate + norm re-key, over
    // the checkpointed weights frame (tf/df stages live behind it)
    "q100_tfidf_pairs" -> 3,
    // q101: probes × checkpointed sketches, broadcast only
    "q101_cms_est" -> 0,
    // q103: pure scan-side integer geometry — ring synth, shoelace and
    // ray cast are all per-row Column trees, no exchange anywhere
    "q103_polygon_stats" -> 0,
    // q105: the (bucket, token) aggregate + its two consumers (bucket
    // occurrences; token-first-bucket then per-bucket type counts) +
    // the 10-row cumulative window's single-partition exchange
    "q105_vocab_growth" -> 4,
    // q106: one source-keyed moment aggregate; the stats broadcast
    // back onto the scan (scan-side z computation, no second shuffle)
    "q106_zscore_norm" -> 1,
    // q107: the probe-cell window (5 probes) + the candidate
    // dedup/rank; the index read itself is pruned directories joined
    // by broadcast — the build job runs at call time, off-plan
    "q107_ann_ivf_index" -> 2,
    // q108: band self-join over the checkpointed signatures; the
    // size/signature joins broadcast at test scale
    "q108_containment_est" -> 1,
    // q109: the 6-row profile rides its localCheckpoint; the vintage
    // self-join broadcasts
    "q109_profile_drift" -> 0,
    // q110: the q45 banded-quantile shape on (source, n_chars) —
    // exact counts, band window, final agg (same 3 as q45)
    "q110_length_quantiles" -> 3,
    // q111: Prefix.cumSum's 3 bounded exchanges (see q71) + the final
    // per-source packing aggregate
    "q111_seq_pack" -> 4,
    // q112: the linear quality model is pure scan-side projection —
    // features, score fold and threshold all inside one codegen stage
    "q112_quality_logit" -> 0,
    // q113: q55's cluster frame broadcasts onto the scored documents
    // scan; the only data exchange is the per-cluster winner aggregate
    "q113_cluster_winner" -> 1,
    // q114: the distinct (source, gram) aggregate feeding the
    // checkpoint, the gram equi-join (fan-out ≤ source cardinality
    // per key), and the per-pair count agg; totals ride broadcasts
    "q114_source_overlap" -> 3,
    // q115: ONE bounded-heap aggregate (no window); survivors
    // broadcast back; the global cut is a TakeOrdered, not a sort
    "q115_diverse_topk" -> 1,
    // q116: the corpus-sized token-frequency agg + the vocab-sized
    // pair agg; the top-k cut is a TakeOrdered
    "q116_bpe_pair_counts" -> 2,
    // q117: everything downstream of the PRUNED postings read is
    // candidate-sized — df agg, stats SinglePartition, the
    // (query, doc) score agg, the per-query rank window; q/df/stats
    // all ride in as broadcasts
    "q117_bm25_index" -> 4,
    // q118: hashes are scan-side Column trees (zero shuffle to build);
    // the one exchange is the pair-dedup distinct behind the
    // (broadcast) chunk join
    "q118_phash_neardup" -> 1,
    // q119: the RETURNED plan is the final assignment — the argmin
    // agg on vec_id; the global-scale 1-row agg and per-round work
    // ran behind lineage cuts; centroids broadcast
    "q119_kmeans_refine" -> 1,
    // q120: the one corpus-sized agg ran behind the bucket-frame
    // checkpoint; med/mad are broadcast 1-row literals
    "q120_rate_spike" -> 0,
    // q121: the corpus-sized cell count and every IPF round ran
    // behind cell-frame lineage cuts — the returned plan is the final
    // checkpointed cell frame
    "q121_ipf_mix" -> 0,
    // q102: the final group agg + the bloom subquery's SinglePartition
    // exchange (counted once across its reference sites — it executes
    // once); the semi-join broadcasts
    "q102_bloom_semi_join" -> 2,
    // q122: ONE groupBy(vec_id) aggregate elects all m subspace
    // winners; the codebook frame broadcasts against the subvector
    // explode; the global quantization scale ran behind its 1-row
    // lineage cut
    "q122_pq_encode" -> 1,
    // q123: ONE bounded-heap topk agg per probe over the ADC
    // projection; the distance tables and the winner set broadcast;
    // the codes frame (the persisted index artifact) and the global
    // scale ran behind lineage cuts
    "q123_pq_adc_topk" -> 1,
    // q124: the distinct-cells dedup, the (geoid, edge) count/sum
    // agg, and the per-geoid union agg — no joins, no windows, no
    // broadcasts; n_parts is a projection over edge incidences
    "q124_polygon_dissolve" -> 3,
    // q138: the composed pipeline's returned plan — stage-1 and
    // stage-2 outputs ride their localCheckpoints (a pipeline
    // persists its stage outputs), and the semantic stage reads the
    // PERSISTED cell index (round 11 — no in-plan clustering): the
    // exchanges left are the survivor restriction joins, the prune
    // self-join + distinct, and the disposition stitches
    "q138_dedup_pipeline" -> 10,
    // q140: both component candidate lists are k·probes-row
    // localCheckpoints (the searches' own budgeted plans run behind
    // them), so the returned plan is the fusion join of two tiny
    // frames + the final rank window
    "q140_hybrid_retrieval" -> 3,
    // q141: the q140 component checkpoints + the brute-force truth
    // checkpoint feed SIX broadcast-intersect aggregates (r14: one
    // per system × truth — each system graded against the cosine AND
    // bm25 truths) plus the fused plan's join/window; every exchange
    // moves k·probes rows, so the doubled arm count is eval-frame
    // noise, not corpus cost
    "q141_retrieval_eval" -> 10,
    // q142: per-cluster count over the cell index — the groupBy key
    // IS the table's bucket key, so the aggregate rides the stored
    // partitioning with zero exchange (the layout monitoring itself)
    "q142_cell_occupancy" -> 0,
    // q139: q124's pipeline plus the widened snap contract's cost:
    // two part-frame dedups (rects, squares), the group-vertex
    // distinct, the edge×vertex collinearity join (one exchange per
    // side), the per-directed-edge split aggregate, then the shared
    // (geoid, edge) and per-geoid aggregates; the 97-row n_parts agg
    // broadcasts back
    "q139_dissolve_snap" -> 11,
    // q125: ONE bounded-heap shortlist agg per probe over the
    // DPP-pruned codes read + the candidate-sized re-rank window;
    // cells/tables/shortlist all broadcast; the index build and the
    // global scale ran off-plan (write + lineage cuts)
    "q125_ivfpq_topk" -> 2,
    // q126: window-hash occurrence agg + the per-doc span agg; the
    // mark semi-join and the final doc stitch ride those exchanges
    // (AQE broadcasts the dup-hash set at test SF). +2 (r19): the
    // spreadScan repartitions that parallelize the tokenize/gram
    // explodes off the single-row-group small-SF scan — pushed-down
    // filters make each reference its own exchange; ALL of them are
    // identities at decade/cluster scale (multi-file scans), so the
    // budget delta prices the small-SF engagement only
    "q126_substring_dedup" -> 4,
    // q127: returned plan is an explode over the checkpointed 1-row
    // weight state — the per-round gradient aggregates live behind
    // the round checkpoints (the Ipf/KMeans budget convention)
    "q127_quality_train" -> 0,
    // q128: q50's IVF search runs un-checkpointed inside (6, its own
    // budget) + the hit-count and exact-count aggregates (2); the
    // brute-force side is checkpointed and both stitch joins
    // broadcast k·probes-row frames
    "q128_ann_recall" -> 8,
    // q129 (round 11: reads the PERSISTED cell index — the 12
    // exchanges of the in-plan two-level clustering moved to the
    // once-per-corpus ingest build): the pair self-join reads stored
    // cluster buckets, leaving the dropped-set distinct + the kept
    // stitch
    "q129_semantic_dedup" -> 2,
    // q130: the gram-hash occurrence agg + the covered-index distinct
    // + the per-doc reassembly agg; the anti-join and the final doc
    // stitch ride those exchanges. +3 (r19): engaged spreadScan
    // repartitions at small SF (see q126) — identity at scale
    "q130_substring_clean" -> 6,
    // q131: the two bucket-model aggregates (corpus + target counts)
    // + the per-doc mean agg; model join-back and totals are
    // broadcasts, the final doc stitch rides AQE
    "q131_dsir_weights" -> 3,
    // q132: the returned plan is a projection over the checkpointed
    // vocabulary; the pair election ran as a driver-side 1-row action
    "q132_bpe_apply" -> 0,
    // q133 (round 11: persisted cell index — clustering exchanges
    // moved to ingest): the within-cell pair join reads stored
    // buckets; what remains is the kNN rank window + the vote/winner
    // aggregate pair (AQE broadcasts the label dim)
    "q133_knn_classify" -> 2,
    // q134: post-checkpoint plan over the two pair frames — the
    // intersection join + three 1-row count aggregates (pair sets
    // are unbounded at scale, so no broadcast hint)
    "q134_dedup_eval" -> 5,
    // q135: q126's two exchanges + the per-source rollup agg; the
    // source join rides the doc stitch. +2 (r19): engaged spreadScan
    // repartitions at small SF (see q126) — identity at scale
    "q135_dup_by_source" -> 5,
    // q136: one scan + the 1-row accuracy aggregate; training ran as
    // driver-side actions behind checkpoints (the q127 convention)
    "q136_train_eval" -> 1,
    // q137: the per-label centroid aggregate; the global centroid is
    // checkpointed and broadcast, the label join rides the scan
    "q137_embedding_drift" -> 1
  )

  test("no operator exceeds its shuffle budget") {
    val missing = SparkEntry.queries.keySet -- shuffleBudget.keySet
    assert(missing.isEmpty, s"new operators need a shuffle budget: $missing")
    val over = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val shuffles = countShuffles(plan(name))
      if (shuffles > shuffleBudget(name)) Some(s"$name: $shuffles > ${shuffleBudget(name)}") else None
    }
    assert(over.isEmpty, s"shuffle budget exceeded:\n${over.mkString("\n")}")
  }

  test("q86/q88 derive everything scan-side from a single pruned key column") {
    // both synthesize their domain from one integer key: the scan must
    // read ONLY that column (names/labels/envelopes are projections)
    val p86 = plan("q86_census_aliases")
    assert(p86.contains("ReadSchema: struct<p_partkey:bigint>"), s"q86 scan not pruned to p_partkey:\n$p86")
    val p88 = plan("q88_geo_union_merge")
    assert(p88.contains("ReadSchema: struct<c_custkey:bigint>"), s"q88 scan not pruned to c_custkey:\n$p88")
  }

  test("q45/q83 quantiles: every window sorts only sketch-banded candidates, never a raw group") {
    // the r4 verdict's two weak plans: a row_number window whose input
    // is an unfiltered scan funnels whole groups through single tasks.
    // After the Quantiles rewrite, any WindowExec in these plans must
    // sit above the band-candidate broadcast join (its input is the
    // ±delta band, not the group). AQE off so the full tree renders.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // q83 localCheckpoints its 3-row threshold frame (so the producer
      // DAG never runs inside a broadcast build); assert the producer's
      // plan directly, it is the same Quantiles.exactDiscrete as q45's.
      import org.apache.spark.sql.functions.col
      val producerPlans = Seq(
        "q45_quantile_disc" ->
          SparkEntry.queries("q45_quantile_disc")(spark, sf).queryExecution.executedPlan,
        "q83 threshold producer" ->
          graft.operators.Quantiles
            .exactDiscrete(
              graft.sources.Tables.lineitem(spark, sf).select(col("l_returnflag"), col("l_extendedprice")),
              "l_returnflag",
              "l_extendedprice",
              graft.queries.AnalyticsQueries.QuantileProbs,
              graft.queries.AnalyticsQueries.QuantileNames
            )
            .queryExecution
            .executedPlan
      )
      producerPlans.foreach { case (name, p) =>
        val windows = p.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
        assert(windows.nonEmpty, s"$name: expected the band-refinement window in the plan")
        windows.foreach { w =>
          val hasBandJoin = w.collect {
            case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
          }.nonEmpty
          assert(hasBandJoin, s"$name: window input is not the banded candidate join:\n$w")
        }
      }
      // ...and q83's OWN plan must be pure scan + broadcast label + agg:
      // no window anywhere (the thresholds arrive pre-materialized).
      val p83 = SparkEntry.queries("q83_quantile_bucket")(spark, sf).queryExecution.executedPlan
      val w83 = p83.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(w83.isEmpty, s"q83: expected a window-free labeling plan over the checkpointed thresholds:\n$p83")
      assert(
        p83.collect { case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j }.nonEmpty,
        s"q83: thresholds not broadcast onto the scan:\n$p83"
      )
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q87: the bucketed signature index joins with zero exchange on the index side") {
    // the point of persisting the band index bucketed by bk: the daily
    // candidate join must read stored buckets directly. Broadcast off +
    // AQE off so the planner can't sidestep the bucketed path on the
    // tiny test input; then the bk join must be a sort-merge join whose
    // index-side subtree contains the bucketed table scan and NO
    // shuffle exchange (the probe side pays the only bk shuffle).
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val savedBroadcast = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = SparkEntry.queries("q87_bucketed_index_dedup")(spark, sf).queryExecution.executedPlan
      def hasIndexScan(side: org.apache.spark.sql.execution.SparkPlan): Boolean =
        side.collect {
          case s: FileSourceScanExec if s.tableIdentifier.exists(_.table == graft.queries.DedupSimQueries.SigIndexTable) => s
        }.nonEmpty
      // the INNERMOST join — the one ON bk — not the downstream
      // sigmatch joins that contain the index scan transitively
      val bkJoins = p.collect {
        case j: SortMergeJoinExec if j.leftKeys.exists(_.references.exists(_.name == "bk")) => j
      }
      assert(bkJoins.nonEmpty, s"no sort-merge join on bk in:\n$p")
      val idxSides = bkJoins.flatMap(j => Seq(j.left, j.right).filter(hasIndexScan))
      assert(idxSides.nonEmpty, s"bk join does not read the bucketed index in:\n$p")
      idxSides.foreach { side =>
        val shuffles = side.collect { case e: ShuffleExchangeLike => e }
        assert(shuffles.isEmpty, s"bucketed index side still shuffles:\n$side")
        assert(side.toString.contains("Bucketed: true"), s"index scan not bucketed:\n$side")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      savedBroadcast match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None    => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("q82: the persisted cell index self-joins with zero exchange on BOTH sides") {
    // the point of bucketing the cell partition by cluster at ingest:
    // every consumer's within-cluster self-join (kNN candidates, the
    // SemDeDup pair prune) must read stored buckets on both sides.
    // Broadcast + AQE off so the planner can't sidestep the bucketed
    // path on the tiny test input; the (cluster, label) join must be
    // a sort-merge join whose BOTH subtrees contain the bucketed
    // index scan and no shuffle exchange (HashPartitioning(cluster)
    // satisfies the (cluster, label) clustering — bucket keys are a
    // subset of the join keys).
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val idxTable = graft.queries.DedupSimQueries.cellIndexTable(sf)
    val savedBroadcast = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // the join keys (cluster, label) are a SUPERSET of the bucket key,
    // which DisableUnnecessaryBucketedScan mis-scores as "no benefit"
    // under AQE-off planning (the AQE path the real session runs keeps
    // the bucketed scan — the shuffle census shows 1 data exchange);
    // pin the bucketed read so the structural assertion sees the
    // production shape
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val p = SparkEntry.queries("q82_knn_join")(spark, sf).queryExecution.executedPlan
      def hasIndexScan(side: org.apache.spark.sql.execution.SparkPlan): Boolean =
        side.collect {
          case s: FileSourceScanExec if s.tableIdentifier.exists(_.table == idxTable) => s
        }.nonEmpty
      val clusterJoins = p.collect {
        case j: SortMergeJoinExec if j.leftKeys.exists(_.references.exists(_.name == "cluster")) => j
      }
      assert(clusterJoins.nonEmpty, s"no sort-merge join on cluster in:\n$p")
      val sides = clusterJoins.flatMap(j => Seq(j.left, j.right))
      assert(sides.forall(hasIndexScan), s"cluster join does not read the bucketed index on both sides:\n$p")
      sides.foreach { side =>
        val shuffles = side.collect { case e: ShuffleExchangeLike => e }
        assert(shuffles.isEmpty, s"bucketed cell-index side still shuffles:\n$side")
        assert(side.toString.contains("Bucketed: true"), s"cell-index scan not bucketed:\n$side")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      savedBroadcast match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("q99: the weighted sample is one partial+final heap aggregate — no window, no group sort") {
    // the operator's point: per-group top-k WITHOUT row_number. The
    // plan must carry the bounded heap through partial (map-side) and
    // final ObjectHashAggregate nodes, and contain no window and no
    // sort of the input anywhere.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("q99_weighted_sample")(spark, sf).queryExecution.executedPlan
      assert(
        p.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
        s"q99 must not window:\n$p"
      )
      assert(
        p.collect { case s: org.apache.spark.sql.execution.SortExec => s }.isEmpty,
        s"q99 must not sort:\n$p"
      )
      val heapAggs = p.collect {
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
            if a.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[graft.functions.TopKAgg]) =>
          a
      }
      assert(heapAggs.size == 2, s"expected partial+final graft_topk aggregates, got ${heapAggs.size}:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q123: the ADC scan ranks via the bounded heap — no window over the scored corpus") {
    // the FAISS-shape contract: per-probe top-k comes from graft_topk
    // (map-side partial heaps), NOT a row_number window sorting
    // probes×corpus scored rows; rank derives from posexplode.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("q123_pq_adc_topk")(spark, sf).queryExecution.executedPlan
      assert(
        p.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
        s"q123 must not window:\n$p"
      )
      val heapAggs = p.collect {
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
            if a.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[graft.functions.TopKAgg]) =>
          a
      }
      assert(heapAggs.size == 2, s"expected partial+final graft_topk aggregates, got ${heapAggs.size}:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q102: the bloom probe prunes the fact side below the semi-join") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("q102_bloom_semi_join")(spark, sf).queryExecution.executedPlan
      val semis = p.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi =>
          j
      }
      assert(semis.nonEmpty, s"no broadcast semi-join in:\n$p")
      // the probe filter must sit INSIDE the semi-join's streamed
      // subtree — pruning before the join, not after
      assert(
        semis.exists(_.left.toString.contains("graft_bloom_contains")),
        s"bloom probe does not pre-filter the fact side:\n$p"
      )
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q34 scores candidates inline in the self-join stage — no pair back-joins") {
    // the round-13 256× lesson: the old "dedup candidate pairs, then
    // join the vectors back" shape shuffled pair-proportional
    // intermediates twice (41M rows × ~530 B at 256×, GC-bound,
    // 85–167 s); inline scoring shuffles only the N·L exploded
    // payload and runs the same point in ~19 s. The structural
    // difference is the join census: exactly ONE join (the bucket
    // self-join) — a second join means the back-join shape crept
    // back in. The threshold filter rides below the survivor
    // distinct automatically (grouping-column predicate pushdown),
    // so the join count is the one property the optimizer cannot
    // restore on its own.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("q34_dedup_embedding")(spark, sf).queryExecution.executedPlan
      val joins = p.collect { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
      assert(joins.size == 1, s"q34 must contain exactly the bucket self-join, found ${joins.size}:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("the session plans shuffles fine (8x) and lets AQE coalesce by measured bytes") {
    // partition count must TRACK data size: initialPartitionNum seeds
    // every shuffle at 8x the session baseline, AQE merges back down
    // at small SF (identical tasking) and keeps the fan-out at the
    // 256x decade (q34's 43.8 s -> 18.9 s). A lost knob re-binds
    // shuffle width to the static default — the exact failure the
    // 256x probe diagnosed.
    val expected = (spark.conf.get("spark.sql.shuffle.partitions").toInt * 8).toString
    assert(
      spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == expected,
      "AQE initialPartitionNum must seed at 8x spark.sql.shuffle.partitions"
    )
  }

  test("q34's pair join converts to shuffled-hash with NO sorts under AQE (the decade no-sort shape)") {
    // The coupling this pins (r18, ADVICE): DynamicJoinSelection
    // .preferShuffledHashJoin requires BOTH
    //   advisoryPartitionSizeInBytes <= maxShuffledHashJoinLocalMapThreshold
    // (r17 shipped 64m advisory vs 16m threshold and the conversion
    // silently never fired; the decade survived on in-memory SMJ
    // sorts instead) AND every measured post-shuffle partition under
    // the threshold (true by construction once a campaign splits the
    // decade shuffle; trivially true here). The conversion is an
    // OPT-IN decade lever — the session default keeps it off because
    // per-task hash-build overhead measurably doubles the iterative
    // kmeans family at sf0.1 — so this test sets the DECADE pairing
    // (advisory = threshold) the campaign steps export, and asserts
    // the no-sort shape genuinely plans under it. Broadcast off so
    // the tiny test input takes the same SMJ-able path the decade
    // does; AQE stays ON — the conversion is a runtime re-plan, so
    // the assertion reads the FINAL adaptive plan after execution.
    // If a Spark upgrade or config change re-introduces the
    // double-sort (the r16 2×77 GB ENOSPC shape), this fails.
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    val savedBroadcast = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val savedAdvisory = spark.conf.getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      spark.conf.get("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold")
    )
    try {
      val df = SparkEntry.queries("q34_dedup_embedding")(spark, sf)
      df.collect()
      val finalPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // materialized adaptive stages are LEAF nodes — collect must
      // descend into QueryStageExec.plan explicitly or it sees only
      // the last stage's operators
      def flatten(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
        p +: (p.children ++ (p match {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
          case _ => Nil
        })).flatMap(flatten)
      val pairJoins = flatten(finalPlan).collect {
        case j: ShuffledHashJoinExec if j.leftKeys.exists(_.references.exists(_.name == "bucket")) => j
      }
      assert(pairJoins.nonEmpty, s"pair join did not convert to shuffled-hash under AQE:\n$finalPlan")
      pairJoins.foreach { j =>
        val sorts = j.collect { case s: SortExec => s }
        assert(sorts.isEmpty, s"external-sort shape under the converted pair join:\n$j")
      }
    } finally {
      savedBroadcast match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None    => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      savedAdvisory match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", v)
        case None    => spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      }
    }
  }

  test("whole-stage codegen covers the dedup hot path") {
    // adaptive plans only materialize codegen stages lazily; disable
    // AQE for the assertion so the wrappers render in the plan string
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // codegen stages render as "*(n) Operator" in compact plan strings
      val p = SparkEntry.queries("q30_dedup_text_exact")(spark, sf).queryExecution.executedPlan.toString
      assert(p.contains("*(1)"), s"q30 fell out of codegen:\n$p")
      val p26 = SparkEntry.queries("q26_token_count")(spark, sf).queryExecution.executedPlan.toString
      assert(p26.contains("*(1)"), "q26 fell out of codegen")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
