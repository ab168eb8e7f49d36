package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.KMeans

/** The dedup granularity ladder run as ONE composed pipeline (the
  * q138 capstone): exact whole-doc → span surgery on the survivors →
  * SemDeDup on what's left — the three-stage shape a production
  * training-data pipeline actually runs (cf. Lee et al. 2022 for the
  * span stage, Abbas et al. 2023 for the semantic stage), with each
  * stage's input the previous stage's output rather than the raw
  * corpus:
  *
  *   1. EXACT — md5 groupBy, keep the smallest id per text group
  *      (the 100 TB shuffle carries 32-byte digests, never bodies);
  *   2. SPAN — [[Dedup.substringClean]] over the SURVIVOR corpus:
  *      gram occurrence counts are computed on what stage 1 kept, so
  *      a window is "duplicated" relative to the deduplicated corpus
  *      — composition changes the counts, which is the point of
  *      running a pipeline instead of independent passes. Docs whose
  *      every token was covered come back empty and are dropped
  *      (`span_empty`);
  *   3. SEMANTIC — the SemDeDup prune over the docs' PRECOMPUTED
  *      embeddings (the embed-once-then-filter posture: embeddings
  *      are an upstream model artifact keyed by doc id), restricted
  *      to the remaining ids. The CLUSTER PARTITION is likewise a
  *      precomputed FULL-CORPUS artifact (round 11 — the persisted
  *      [[graft.operators.CellIndex]] the standalone SemDeDup/kNN
  *      consumers share): Abbas et al. cluster once over the corpus
  *      and prune within clusters, and an ingest-time partition
  *      doesn't re-train because an upstream stage filtered rows —
  *      the prune simply runs among the SURVIVORS of each cluster.
  *      (Round 10 re-clustered the survivor set per run with rank
  *      seeding — [[KMeans.refineTwoLevelRankSeeded]] remains the
  *      standalone path for sparse id spaces with no ingest
  *      artifact.)
  *
  * Returns one row per input doc: (id, stage, n_tokens, kept_tokens,
  * cluster) where stage ∈ {exact, span_empty, semantic, kept};
  * n_tokens/kept_tokens are the span-surgery accounting (NULL for
  * exact-dropped docs that never reached it) and cluster is the
  * semantic cluster (NULL before stage 3, including docs whose
  * embedding was missing or degenerate — those pass through `kept`).
  *
  * Scale shape: stage inputs shrink monotonically; the corpus is
  * tokenized once (inside substringClean), nothing re-scans a prior
  * stage's full input, and every stage keeps its own linear-shuffle
  * contract (md5 digests, gram hashes, cluster-bounded pairs).
  */
object DedupPipeline {

  /** Stage-1 checkpoint width divisor: KB of Catalyst ESTIMATE per
    * partition for the (doc_id, text, exact_dup) frame. Text columns
    * are stat-counted at a flat 20 B, so real text bytes run well
    * above the estimate. Calibrated in r19 by a throwaway width probe
    * (in git history, src/test/scala/graft/WidthProbe.scala): st1 est
    * is 0.27 MB at sf0.1, so the replica-derived decades land at ~138 MB
    * (512×) and ~553 MB (2048×) — 1024 KB of estimate per partition
    * plans ~135/~553 maps there, putting each map's gram-explode sort
    * volume (~45 MB at 2048×, vs ~400 MB/task on the 52 inherited
    * partitions r18 attributed) safely inside the ~150 MB execution
    * pool, while staying 15× under the 8192-task scheduling-overhead
    * regime the r17 512× probe measured.
    */
  private val St1EstPerPartKb = 1024L

  /** The production form: stage 3 consumes a PRECOMPUTED full-corpus
    * MULTI-PROBE cell assignment (vec_id, probe, cluster, qa) — the
    * persisted CellIndex — restricted to the surviving ids.
    */
  def run(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      cellAsg: DataFrame,
      gramLen: Int,
      dims: Int,
      tauNum: Long,
      tauDen: Long
  ): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession) // graft_doti in the prune
    val d = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // stage 1: exact
    val withMd5 = d.withColumn("text_md5", md5(col("text")))
    val keep = withMd5.groupBy(col("text_md5")).agg(min(col("doc_id")).as("keep_id"))
    // stage-1 output is checkpointed: downstream reads it FOUR times
    // (span tokenize + gram hash + the two stitch branches), and a
    // production pipeline persists each stage's output anyway —
    // re-running the corpus md5 join per consumer is the one cost a
    // composed pipeline must not pay.
    // The checkpoint is WIDTH-CLUSTERED first (r19, the last named
    // q138 frontier term): localCheckpoint pins whatever partitioning
    // the md5 join's AQE coalescing landed on — 52 coarse partitions
    // at the 2048× decade — and every substringClean map stage
    // (tokenize, gram explode, token posexplode) inherits it: 52
    // tasks each exploding ~200k docs and sorting the result for a
    // ~2000-reducer shuffle was the residual ~49 GB spill AND the
    // 52-map fan-out behind the r18 bracket's +20% wall. The
    // estimate-proportional width (base at the driver gate, ~135 at
    // 512×, ~553 at 2048× — see St1EstPerPartKb's calibration) makes
    // per-map explode volume ~constant; the one extra exchange moves
    // rows the checkpoint was about to materialize anyway.
    // DISK_ONLY residency for the stage-1 checkpoint (r19): the frame
    // carries the CORPUS TEXT, so its deserialized rows are
    // heap-sized at decade scale — and the width-clustering above
    // makes blocks small enough to actually cache (at the old 52
    // coarse partitions the ~100 MB unroll chunks failed to cache and
    // fell through to disk by accident; ~20 MB blocks succeed, and a
    // 1024× paired bench run then died of Java-heap exhaustion in the
    // final stitch with ~GBs of text rows live in the store). Same
    // rule as the Bm25 postings checkpoint: corpus-proportional, read
    // four times, never memory-resident at scale by design rather
    // than by cache-failure luck.
    val st1 = Dedup
      .checkpointHeavy(
        Dedup.keyClusteredWide(
          withMd5
            .join(keep, Seq("text_md5"))
            .select(col("doc_id"), col("text"), (col("doc_id") =!= col("keep_id")).as("exact_dup")),
          St1EstPerPartKb,
          col("doc_id")
        ),
        org.apache.spark.storage.StorageLevel.DISK_ONLY
      )
    val surv1 = st1.filter(!col("exact_dup")).select(col("doc_id"), col("text"))
    // stage 2: span surgery over the survivor corpus
    val st2 = Dedup
      .substringClean(surv1, "doc_id", "text", gramLen)
      .select(col("doc_id"), col("n_tokens"), col("kept_tokens"))
      .localCheckpoint()
    val surv2 = st2.filter(col("kept_tokens") > 0).select(col("doc_id"))
    // stage 3: SemDeDup among the survivors, within the ingest-time
    // clusters
    val asgSurv = cellAsg
      .select(col("vec_id"), col("probe"), col("cluster"), col("qa"))
      .join(surv2.select(col("doc_id").as("vec_id")), Seq("vec_id"))
    val sem = semDedup(asgSurv, dims, tauNum, tauDen)
    st1
      .select(col("doc_id"), col("exact_dup"))
      .join(st2, Seq("doc_id"), "left_outer")
      .join(
        sem.select(col("vec_id").as("doc_id"), col("cluster"), col("kept").as("sem_kept")),
        Seq("doc_id"),
        "left_outer"
      )
      .select(
        col("doc_id"),
        when(col("exact_dup"), "exact")
          .when(col("kept_tokens") === 0, "span_empty")
          .when(!col("sem_kept"), "semantic")
          .otherwise("kept")
          .as("stage"),
        col("n_tokens"),
        col("kept_tokens"),
        col("cluster")
      )
  }

  /** Self-contained form: trains the full-corpus two-level partition
    * in place (k = max(kMin, N/clusterTarget), the CellIndex
    * geometry) and delegates — what a one-shot run without a
    * persisted ingest artifact does, and the form the spec drives.
    */
  def run(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      emb: DataFrame,
      embIdCol: String,
      vecCol: String,
      gramLen: Int,
      kMin: Int,
      clusterTarget: Int,
      iters: Int,
      dims: Int,
      tauNum: Long,
      tauDen: Long
  ): DataFrame = {
    val q = KMeans.quantizeShifted(emb, embIdCol, vecCol).localCheckpoint()
    val k = math.max(kMin, (q.count() / clusterTarget).toInt)
    val st = KMeans.refineTwoLevelState(q, k, iters, dims)
    run(
      docs,
      idCol,
      textCol,
      KMeans.assignMultiProbe(q, st.fine, st.activeCoarse, dims),
      gramLen,
      dims,
      tauNum,
      tauDen
    )
  }

  /** The SemDeDup prune (shared by q129 and the pipeline) over a
    * MULTI-PROBE assignment (vec_id, probe, cluster, qa — see
    * [[KMeans.assignMultiProbe]]): a vector is DROPPED when an
    * earlier (smaller-id) vector SHARING ANY PROBE CELL is τ-similar
    * on the centered quantized cosine — exact BIGINT compare
    * (den²·dot² ≥ num²·|a|²·|b|², dot > 0), deterministic
    * keep-lowest-id rule. Round 15: single assignment capped the
    * prune's recall at the pair co-location rate (measured 52-58% at
    * cosine 0.95 — a boundary-geometry ceiling the cluster-size knob
    * does not move); joining over all probe rows reaches the pairs
    * the coarse/fine Voronoi boundaries split, at a candidate-volume
    * cost bounded by ProbeCount² and measured by the q129 volume
    * points. A pair sharing BOTH probe cells is scored twice (cheap
    * in-stage integer dots — the q34 lesson: never shuffle
    * pair-proportional rows to dedup work a vectorized filter
    * re-does for free); the distinct collapses the drop set. Returns
    * one row per vector: (vec_id, cluster, kept) with `cluster` the
    * PRIMARY (probe-1) cell.
    */
  def semDedup(probeAsg: DataFrame, dims: Int, tauNum: Long, tauDen: Long): DataFrame = {
    val _ = dims
    // centered dot/norm via the native graft_doti loop (round 11):
    // the unrolled 64-term trees here — three per pair-join row —
    // generated ~900 codegen references (each ANSI element_at carries
    // an error branch + query context) and janino refused the
    // enclosing aggregate, silently interpreting the prune's hottest
    // path. Integer sums are order-free exact: answer-invisible.
    import graft.functions.GraftFunctions.dotiShifted
    val asg = probeAsg
      .withColumn("n2", dotiShifted(col("qa"), col("qa"), KMeans.Shift))
    val a = asg.select(col("cluster"), col("vec_id").as("ia"), col("qa").as("va"), col("n2").as("na2"))
    val b = asg.select(col("cluster"), col("vec_id").as("ib"), col("qa").as("vb"), col("n2").as("nb2"))
    val dot = dotiShifted(col("va"), col("vb"), KMeans.Shift)
    val dropped = graft.Volumes
      .observe(
        graft.Volumes
          .observe(a.join(b, Seq("cluster")).filter(col("ia") < col("ib")), "q129_candidates")
          .withColumn("dt", dot)
          .filter(
            col("dt") > 0 &&
              lit(tauDen * tauDen) * col("dt") * col("dt") >=
                lit(tauNum * tauNum) * col("na2") * col("nb2")
          )
          .select(col("ib").as("vec_id")),
        "q129_tau_survivors"
      )
      .distinct()
      .withColumn("is_dropped", lit(true))
    asg
      .filter(col("probe") === 1)
      .select(col("vec_id"), col("cluster"))
      .join(dropped, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cluster"), coalesce(!col("is_dropped"), lit(true)).as("kept"))
  }
}
