package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.operators.KMeans
import graft.sim.Similarity
import graft.sources.Tables

/** §2.D deduplication (q30-q34) + §2.E similarity search (q35-q36).
  *
  * Exact-oracle queries use only arithmetic both engines evaluate
  * bit-identically (md5, integer joins, sequential double folds). The
  * MinHash/SimHash pipelines (q32/q33) hash with graft's PORTABLE
  * polynomial hash (PortableHash: BIGINT-safe Horner folds), so their
  * oracles reproduce signatures, band keys and Hamming distances
  * exactly — only q36 (random-hyperplane LSH, seeded JVM RNG) keeps
  * the rows-only check + ScalaTest recall verification.
  */
object DedupSimQueries {

  val JaccardThreshold = 0.5
  val CosineThreshold = 0.4
  val NumPerms = 64
  val RowsPerBand = 4
  val SimhashMaxDist = 3
  val AnnK = 10
  val AnnTables = 8
  // q36 plane count per table is CORPUS-SCALED (round 11, the q34
  // formula on the ANN side): p = smallest with AnnBucketTarget·2^p ≥
  // N keeps per-table bucket occupancy ~AnnBucketTarget at any corpus
  // size — fixed 4-plane tables had occupancy ~N/16 and trended 17.65×
  // at the 50× scaling point (the next decade would cross linear
  // exactly as q34's fixed geometry did). AnnBucketTarget = 32 keeps
  // p = 4 at the spec's recall SF (N = 500), so the measured
  // recall-vs-q35 contract is unchanged there; at larger N recall per
  // table decays (the declared LSH trade — holding recall while
  // occupancy stays bounded needs table count growing ~N^ρ, which is
  // why the engine's ANN scale path is the IVF family q50/q107/q125,
  // with q36 the LSH baseline beside it). MaxAnnPlanes strides the
  // per-table plane-id ranges (ids t·20..t·20+p-1 < 160, disjoint
  // from q34's EmbPlaneBase = 1000 space).
  val AnnBucketTarget = 32
  val MaxAnnPlanes = 20

  /** Smallest p in [2, MaxAnnPlanes] with AnnBucketTarget·2^p ≥ n —
    * shared (as a CASE chain) with the q36 oracle.
    */
  def annPlanesFor(n: Long): Int =
    (2 to MaxAnnPlanes).find(p => (AnnBucketTarget.toLong << p) >= n).getOrElse(MaxAnnPlanes)
  val Dims = 64
  // q34 blocking: hyperplane tables whose per-table PLANE COUNT
  // scales with the corpus (see Dedup.embeddingNearDupsLsh and
  // embPlanesFor) — bucket occupancy stays ~SemClusterTarget at any
  // N, so candidate volume is ~Tables·Target/2 rows per vector,
  // linear in N. MaxEmbPlanes = 20 serves 64·2^20 ≈ 67M vectors;
  // EmbPlaneBase keeps the plane-id space disjoint from q36's ANN
  // tables.
  //
  // The TABLE COUNT scales with the corpus too (round 15): at fixed
  // L = 16, the r14 MEASUREMENT showed per-pair recall losing one
  // plane-step per data doubling — R(0.90) = 0.940 at m=12, 0.853 at
  // m=14, projecting ~0.64 by m=18 — i.e. the flagship high-cosine
  // recall quietly decayed toward 100 TB. The validated union law
  // R(c) = 1-(1-q^m)^L makes the fix a solved equation: L(m) =
  // smallest table count holding R(RecallContractCosine) ≥
  // RecallContractTarget at the corpus's own m. L multiplies the
  // explode/candidate volume linearly (the declared, measured price
  // of holding recall — L(7) = 6 at sf0.1, L(12) = 14 at 100×,
  // L(14) = 19 at 256×, L(16) = 27 at 1024×), and the law table is
  // spec-pinned against the planted-family measurement. Above
  // MaxEmbTables (m ≥ 23, N ≈ 0.5B vectors at target 64) the cap
  // binds and the contract DECLARES decay again — at that scale the
  // q129 multi-probe cell route (flat, N-independent catch rate) is
  // the designated primary.
  val RecallContractCosine = 0.90
  val RecallContractTarget = 0.90
  val MaxEmbTables = 64
  val MaxEmbPlanes = 20
  val EmbPlaneBase = 1000

  /** Smallest L in [1, MaxEmbTables] with 1-(1-q^m)^L ≥
    * [[RecallContractTarget]] at q = 1-arccos([[RecallContractCosine]])/π
    * — the multi-table union law solved for the table count. Computed
    * by iteration (no float-boundary ceil), driver-side only: the
    * oracle receives the same Scala-computed values as CASE branches,
    * so no cross-engine float arithmetic decides geometry.
    */
  def embTablesForPlanes(m: Int): Int = {
    val q = 1.0 - math.acos(RecallContractCosine) / math.Pi
    val qm = math.pow(q, m)
    (1 to MaxEmbTables)
      .find(l => 1.0 - math.pow(1.0 - qm, l) >= RecallContractTarget)
      .getOrElse(MaxEmbTables)
  }

  /** The corpus-scaled q34 table count: L(embPlanesFor(n)). */
  def embTablesFor(n: Long): Int = embTablesForPlanes(embPlanesFor(n))

  /** Smallest p in [2, MaxEmbPlanes] with SemClusterTarget·2^p ≥ n —
    * the corpus-scaled plane count, shared (as a CASE chain) with the
    * q34 oracle so both sides derive it integer-exactly.
    */
  def embPlanesFor(n: Long): Int =
    (2 to MaxEmbPlanes).find(p => (SemClusterTarget.toLong << p) >= n).getOrElse(MaxEmbPlanes)
  val IvfCells = 16
  val IvfNprobe = 2

  // q126: duplicated-substring window length (tokens). 8 is small
  // enough to catch real boilerplate at test scale; production exact
  // dedup uses ~50-token windows — only this constant changes.
  val SubstrGramLen = 8

  // Shingles with df > 50 are dropped before any self-join (scale
  // guard against hot-key quadratic joins; at the test scales max df
  // is 9, so results are unchanged — the oracle mirrors the cap).
  val MaxShingleDf = 50

  // The capped shingle set is referenced up to 8x per query (self-join
  // sides, size aggregates, df-cap hot branch), and the physical plan
  // materializes the whole scan→explode→hash→distinct→anti-join
  // pipeline SEPARATELY for each reference (AQE broadcasts the small
  // sides, so no exchange reuse kicks in). localCheckpoint runs it
  // once and every reference reads the materialized blocks — bench at
  // sf0.1: q31 3.0→2.3 s, q32 2.9→2.1 s, q33 1.9→1.0 s, q55
  // 3.1→2.7 s. (Round 2 measured lazy
  // persist() LOSING; the difference here is eager checkpointing plus
  // lineage truncation, which also shrinks every downstream plan.)
  // Lifecycle: checkpoint blocks are MEMORY_AND_DISK (evictable) and
  // ContextCleaner frees them once the frame is unreachable — bounded
  // for per-query use; a long-lived service should instead
  // materialize shingles ONCE per corpus snapshot (at 100 TB: a
  // doc_id-bucketed parquet table) rather than per query call.
  /** Stable per-corpus warehouse table name for the persisted cell
    * partition (different SF dirs must never share an index; the
    * content fingerprint additionally guards same-path regeneration).
    */
  private[graft] def cellIndexTable(dir: String): String = {
    val h = java.security.MessageDigest
      .getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
      .map("%02x".format(_))
      .mkString
      .take(10)
    s"graft_cell_index_$h"
  }

  /** The corpus-scaled IVF-cell partition shared by q82/q129/q133 and
    * the q138 pipeline's semantic stage — READ FROM THE PERSISTED
    * INGEST ARTIFACT (round 11, operators/CellIndex.scala): k =
    * max(KmeansK, N/SemClusterTarget) so cells stay ~SemClusterTarget
    * vectors and within-cell pair terms are linear in N; the
    * two-level Lloyd training runs ONCE per corpus (first consumer
    * builds, everyone else — including later sessions — reads the
    * cluster-bucketed table; stamps detect corpus/geometry drift and
    * rebuild). Round 10 re-trained this partition inside every
    * consumer — 4 duplicated clustering runs per sweep. Returns the
    * MULTI-PROBE rows (vec_id, probe, cluster, qa, label) — round
    * 15; the pair-searching consumers (q129/q138 stage 3) join over
    * every probe row, membership consumers take [[cellAssignment]].
    */
  private def cellAssignmentProbes(s: SparkSession, dir: String): DataFrame =
    graft.operators.CellIndex.ensure(
      Tables.embeddings(s, dir),
      "vec_id",
      "embedding",
      Some("label"),
      KmeansK,
      SemClusterTarget,
      KmeansIters,
      Dims,
      cellIndexTable(dir)
    )

  /** The probe-1 (membership) rows of [[cellAssignmentProbes]] — one
    * row per vector, bit-identical clusters to the pre-multi-probe
    * format: what q82/q133/q142 block and monitor on. The probe
    * filter pushes to the bucketed scan, so their zero-exchange plans
    * are unchanged.
    */
  private def cellAssignment(s: SparkSession, dir: String): DataFrame =
    cellAssignmentProbes(s, dir).filter(col("probe") === 1).drop("probe")

  /** Bench/ops hooks for the shared cell partition: an explicit
    * (timed) build and its drop — the one-off ingest cost gets its own
    * bench entry instead of hiding in the first consumer's pass-1
    * number (r11 verdict #2). Returns the multi-probe rows.
    */
  private[graft] def cellIndexEnsure(s: SparkSession, dir: String): DataFrame = cellAssignmentProbes(s, dir)
  private[graft] def cellIndexDrop(s: SparkSession, dir: String): Unit =
    graft.operators.CellIndex.drop(s, cellIndexTable(dir))

  /** The SemDeDup prune shared by q129 and the q138 pipeline, over
    * the MULTI-PROBE rows: a vector is DROPPED when an earlier
    * (smaller-id) vector sharing ANY probe cell is τ-similar on the
    * centered quantized cosine — exact BIGINT compare (den²·dot² ≥
    * num²·|a|²·|b|², dot > 0), deterministic keep-lowest-id rule.
    * Returns (vec_id, cluster, kept), cluster = primary.
    */
  private def semDedupOutput(probeAsg: DataFrame): DataFrame =
    graft.dedup.DedupPipeline.semDedup(probeAsg, Dims, SemDedupTauNum, SemDedupTauDen)

  private[graft] def shingles3(s: SparkSession, dir: String): DataFrame =
    shingles3Spread(s, dir, 0)

  /** The signature-only consumers' variant (r20 — the r19-measured
    * spread toll on q66/q85/q87/q108): same shingle set, checkpoint
    * and df-cap, but the small-corpus spread engages at
    * `width` (> 0) instead of the full session width — a
    * signatures-only pipeline (explode + one bounded aggregate) never
    * amortizes 32-task waves on its KB-sized downstream stages.
    * Width 0 = the heavy consumers' default.
    */
  private[graft] def shingles3Spread(s: SparkSession, dir: String, width: Int): DataFrame =
    // spreadScan: the shingle explode (and, through the anti-join's
    // pass-through partitioning, this checkpoint and every consumer's
    // first map stage) otherwise inherits the 1-task single-row-group
    // sf0.1 scan — measured r19: the whole minhash/jaccard family ran
    // its heaviest stages on one core. Identity at decade scale.
    Dedup.checkpointHeavy(
      Dedup.dfCapped(
        Dedup.shingles(
          Dedup.spreadScanTo(Tables.documents(s, dir), width, col("doc_id")),
          "doc_id",
          "text",
          3
        ),
        MaxShingleDf
      )
    )

  /** The signature-only shingle consumers spread to a quarter of the
    * session parallelism (≥1) — enough tasks to amortize the explode,
    * few enough that the bounded minhash aggregate's downstream waves
    * stay cheap.
    */
  private def shingles3Sig(s: SparkSession, dir: String): DataFrame =
    shingles3Spread(s, dir, math.max(1, s.sparkContext.defaultParallelism / 4))

  private def embDouble(s: SparkSession, dir: String): DataFrame =
    Tables
      .embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))

  /** Sketch-only Jaccard estimation shared by q66 and q85: join each
    * candidate pair's signatures back and score agreement with the
    * native graft_sigmatch kernel. ONE definition of the estimate
    * arithmetic (sigmatch → /numPerms → 4dp round; k/numPerms is an
    * exact binary fraction, so the round cannot tie-break differently
    * per engine) — the Scala twin of the shared oracle SQL builders.
    */
  private def sigmatchEstimate(
      cands: org.apache.spark.sql.DataFrame,
      sigs: org.apache.spark.sql.DataFrame,
      aCol: String,
      bCol: String
  ): org.apache.spark.sql.DataFrame =
    cands
      .join(sigs.select(col("doc_id").as(aCol), col("mh").as("mh_a")), aCol)
      .join(sigs.select(col("doc_id").as(bCol), col("mh").as("mh_b")), bCol)
      .select(
        col(aCol),
        col(bCol),
        graft.functions.GraftFunctions.sigmatch(col("mh_a"), col("mh_b")).as("n_match")
      )
      .withColumn("est_jaccard", round(col("n_match").cast("double") / NumPerms, 4))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q30: exact text dedup via md5-hash groupBy — the 100 TB shuffle
    // carries 32-byte digests, not documents.
    "q30_dedup_text_exact" -> { (s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
    },

    // q31: exact n-gram Jaccard pairs from a shingle equi-join (the
    // correctness baseline; q32 is the scale path).
    "q31_dedup_ngram_jaccard" -> { (s, dir) =>
      Dedup.ngramJaccardPairs(shingles3(s, dir), JaccardThreshold)
    },

    // q32: MinHash signatures + LSH banding -> candidates -> exact
    // verify. Candidate generation is an equi-join on (band, hash);
    // only candidates pay the exact-Jaccard cost.
    "q32_dedup_minhash_lsh" -> { (s, dir) =>
      val sh = shingles3(s, dir)
      val sigs = Dedup.minhashSignatures(sh, NumPerms)
      val cands = Dedup.lshCandidates(sigs, NumPerms, RowsPerBand)
      Dedup.verifyJaccard(sh, cands, JaccardThreshold)
    },

    // q33: 64-bit SimHash + pigeonhole chunk join for Hamming <= 3.
    "q33_dedup_simhash" -> { (s, dir) =>
      Dedup.simhashNearPairs(Dedup.simhash(shingles3(s, dir)), SimhashMaxDist)
    },

    // q34: embedding cosine near-dup pairs, blocked on (label ×
    // multi-table hyperplane-LSH bucket) with the PLANE COUNT scaled
    // to the corpus — round 10: the fixed 4-plane geometry meant
    // fixed bucket cardinality, so occupancy grew ~N/const and at the
    // 50× scaling point the candidate join spilled the disk to death
    // (>250 GB — the first outright scale failure in the inventory).
    // planes = smallest p in [2, MaxEmbPlanes] with
    // SemClusterTarget·2^p ≥ N keeps per-bucket occupancy
    // ~SemClusterTarget at any corpus size (the q129 k = N/target
    // contract applied to LSH geometry), while the loose τ = 0.4
    // threshold keeps its multi-table recall (cells would lose
    // borderline 66°-apart pairs — measured: τ-pairs here peak at
    // cos 0.47). The ONE corpus count that sizes the geometry is the
    // same sizing scan q129 pays; the oracle recomputes the identical
    // CASE-chain plane count from its own count(*) — integer-exact on
    // both engines, no log2-ulp risk.
    "q34_dedup_embedding" -> { (s, dir) =>
      graft.functions.GraftFunctions.ensureRegistered(s)
      val emb = Tables.embeddings(s, dir)
      // ONE sizing count derives BOTH geometry knobs: planes m (bucket
      // occupancy ~target at any N) and tables L (the union law solved
      // for R(0.90) ≥ 0.9 at that m — round 15; see embTablesForPlanes)
      val n = emb.count()
      Dedup.embeddingNearDupsLsh(
        emb, "vec_id", "embedding", "label",
        CosineThreshold, embTablesFor(n), embPlanesFor(n), MaxEmbPlanes, EmbPlaneBase, Dims)
    },

    // q35: exact top-k cosine ANN baseline — 5 fixed probes broadcast
    // against the corpus, ranked per probe. Uses the native graft_dot
    // Expression (registered here for plain driver sessions).
    "q35_ann_bruteforce" -> { (s, dir) =>
      graft.functions.GraftFunctions.ensureRegistered(s)
      val e = embDouble(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), AnnK)
    },

    // q36: multi-table random-hyperplane LSH ANN (8 tables, plane
    // count corpus-scaled via annPlanesFor — see AnnBucketTarget) —
    // probes meet the union of their per-table bucket contents;
    // recall vs q35 measured in DedupSimSpec. The ONE corpus count
    // that sizes the geometry is the q34/q129 sizing scan; the oracle
    // re-derives p from its own count(*) via the identical CASE chain.
    "q36_ann_lsh" -> { (s, dir) =>
      graft.functions.GraftFunctions.ensureRegistered(s)
      val e = embDouble(s, dir)
      val planes = annPlanesFor(e.count())
      Similarity.lshTopK(e, e.filter(col("vec_id") < 5), AnnK, AnnTables, planes, Dims, MaxAnnPlanes)
    },

    // q50: IVF-cell ANN — the data-adaptive scale path complementary
    // to q36's hyperplane LSH. Deterministic centroids make it exactly
    // oracle-checkable (no RNG in "training").
    "q50_ann_ivf" -> { (s, dir) =>
      graft.functions.GraftFunctions.ensureRegistered(s)
      val e = embDouble(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 5), AnnK, IvfCells, IvfNprobe)
    },

    // q107: q50's IVF ANN over a PERSISTED index partitioned by cell
    // — the ANN twin of q87's persisted signature index, keyed for
    // PRUNING: the index lives as one directory per cent_id, the
    // probe's nprobe cells arrive as a broadcast join side, and
    // dynamic partition pruning reduces the candidate read to those
    // directories alone (plan + partition count asserted in
    // DedupSimSpec; append ≡ rebuild under the shared deterministic
    // centroids). Identical answers to the in-memory path, so the
    // oracle IS q50's — the persisted layout must be
    // answer-invisible.
    "q107_ann_ivf_index" -> { (s, dir) =>
      graft.functions.GraftFunctions.ensureRegistered(s)
      val e = embDouble(s, dir)
      val cents = Similarity.ivfCentroids(e, IvfCells)
      Similarity.writeIvfIndex(cents, e, IvfIndexPath)
      Similarity.ivfTopKFromIndex(s, IvfIndexPath, cents, e.filter(col("vec_id") < 5), AnnK, IvfNprobe)
    },

    // q66: sketch-only similarity estimation — Jaccard estimated from
    // signature agreement (matching minima / numPerms) for LSH
    // candidate pairs, WITHOUT re-joining shingles. This is the true
    // 100 TB path: after signatures are built, similarity costs one
    // 64-slot array comparison per candidate pair instead of a
    // shingle-set intersection. The portable hash makes the estimates
    // oracle-exact.
    "q66_minhash_est" -> { (s, dir) =>
      graft.functions.GraftFunctions.ensureRegistered(s)
      val sigs = Dedup.checkpointHeavy(Dedup.minhashSignatures(shingles3Sig(s, dir), NumPerms))
      sigmatchEstimate(Dedup.lshCandidates(sigs, NumPerms, RowsPerBand), sigs, "doc_a", "doc_b")
    },

    // q108: sketch-only asymmetric CONTAINMENT estimation — the
    // direction-aware complement to q90's exact prefix containment
    // and q66's symmetric Jaccard: for LSH candidate pairs, estimate
    // |A∩B|/|A| and |A∩B|/|B| from the signature agreement plus the
    // per-doc shingle counts, via |A∩B| ≈ J·(|A|+|B|)/(1+J). A high
    // one-sided containment with low Jaccard is the truncated-or-
    // extended re-crawl signature (WHICH doc subsumes which), found
    // WITHOUT re-touching shingles: the estimate costs one 64-slot
    // kernel per pair and two integer lookups. est_jaccard is an
    // exact binary fraction (k/64) and the containment formula is a
    // fixed double-op sequence, so the oracle hash-compares at 4dp.
    "q108_containment_est" -> { (s, dir) =>
      graft.functions.GraftFunctions.ensureRegistered(s)
      val sh = shingles3Sig(s, dir)
      val sigs = Dedup.checkpointHeavy(Dedup.minhashSignatures(sh, NumPerms))
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh")).localCheckpoint()
      val est = sigmatchEstimate(Dedup.lshCandidates(sigs, NumPerms, RowsPerBand), sigs, "doc_a", "doc_b")
      val inter = (col("est_jaccard") * (col("n_a") + col("n_b")).cast("double")) / (lit(1.0) + col("est_jaccard"))
      est
        .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
        .select(
          col("doc_a"),
          col("doc_b"),
          col("n_match"),
          col("est_jaccard"),
          round(inter / col("n_a").cast("double"), 4).as("cont_a_in_b"),
          round(inter / col("n_b").cast("double"), 4).as("cont_b_in_a")
        )
    },

    // q119: fixed-iteration Lloyd k-means over integer-quantized
    // embeddings (operators/KMeans.scala) — the iterative-ML pattern
    // next to q97's iterative-graph one, and the "training" step
    // behind q50/q107's given centroids. Globally-scaled shifted
    // quantization makes every round exact BIGINT arithmetic; per
    // round: one broadcast-K assignment aggregate + one D-column
    // update aggregate, K-row lineage cuts between rounds. Oracle
    // unrolls the identical 3 rounds as chained CTEs (q97 pattern).
    "q119_kmeans_refine" -> { (s, dir) =>
      KMeans.refine(
        KMeans.quantizeShifted(Tables.embeddings(s, dir), "vec_id", "embedding"),
        KmeansK,
        KmeansIters,
        Dims
      )
    },

    // q122: product-quantization encoding (Similarity.pqEncode) — the
    // ANN memory-budget step after q81's scalar quantization: 64 dims
    // → 8 codebook ids + integer reconstruction error. Codebooks =
    // first-16 vectors' subvectors (q50 convention; q119 is the
    // refinement counterpart); ONE vec_id-keyed aggregate elects all
    // 8 subspace winners from a broadcast codebook join.
    "q122_pq_encode" -> { (s, dir) =>
      Similarity.pqEncode(
        KMeans.quantizeShifted(Tables.embeddings(s, dir), "vec_id", "embedding"),
        PqSubspaces,
        PqSubDim,
        PqCodewords
      )
    },

    // q123: ADC top-k over the q122 PQ codes (Similarity.pqAdcTopK) —
    // the FAISS IndexPQ search shape: per-probe m·k distance table
    // broadcast against the codes scan, adc as pure lookups, ONE
    // bounded-heap aggregate per probe (no window), winners broadcast
    // back for their output distances. Probes = vec_id < 5 (q35/q36
    // convention), ties rank (adc_d2, vec_id) — all-integer exact.
    "q123_pq_adc_topk" -> { (s, dir) =>
      val q = KMeans.quantizeShifted(Tables.embeddings(s, dir), "vec_id", "embedding")
      Similarity.pqAdcTopK(q, q.filter(col("vec_id") < 5), PqSubspaces, PqSubDim, PqCodewords, AnnK)
    },

    // q125: IVF+PQ end-to-end (Similarity.ivfPqTopKFromIndex — the
    // FAISS IndexIVFPQ shape, by_residual=false): the q107 coarse
    // partition bounds WHICH vectors a probe scores (PQ codes
    // persisted one directory per cell, the probe's 2 cells
    // DPP-pruned at the scan), q123's ADC bounds WHAT each costs
    // (m table lookups), and an exact integer re-rank of the
    // 20-candidate shortlist removes the quantization error from the
    // final top-10 — the FAISS refine stage. Cell assignment is a
    // scan-side literal-centroid argmin fold (zero joins/shuffles at
    // build and probe); shortlist = ONE bounded-heap agg per probe;
    // the index-free twin is byte-equal (DedupSimSpec). Oracle
    // reproduces cells, codes, tables, shortlist, and re-rank in
    // DuckDB — all-BIGINT exact.
    "q125_ivfpq_topk" -> { (s, dir) =>
      graft.functions.GraftFunctions.ensureRegistered(s)
      val q = KMeans.quantizeShifted(Tables.embeddings(s, dir), "vec_id", "embedding")
      Similarity.writeIvfPqIndex(q, IvfPqCells, PqSubspaces, PqSubDim, PqCodewords, IvfPqIndexPath)
      Similarity.ivfPqTopKFromIndex(
        s,
        IvfPqIndexPath,
        q,
        q.filter(col("vec_id") < 5),
        IvfPqCells,
        PqSubspaces,
        PqSubDim,
        PqCodewords,
        IvfPqNprobe,
        IvfPqRerank,
        AnnK,
        Dims
      )
    },

    // q55: dup-pair clustering — connected components over the q31
    // near-dup pairs; each doc labeled with its cluster's minimum
    // doc_id (the representative a dedup pipeline keeps). Oracle =
    // DuckDB recursive CTE transitive closure.
    "q55_dup_clusters" -> { (s, dir) =>
      Dedup.dupClusters(Dedup.ngramJaccardPairs(shingles3(s, dir), JaccardThreshold))
    },

    // q113: canonical-representative selection per near-dup cluster —
    // the step that turns q55's cluster labels into an actual dedup
    // DECISION: within each cluster keep the highest-quality member
    // (q112's fixed-point model score, ties to the smallest doc_id),
    // discard the rest. "Keep the best copy, not the first copy" is
    // how production pipelines break near-dup ties. One max_by
    // aggregate over the cluster join; scores are a pure projection
    // on the documents scan, so the join's corpus side stays
    // scan-shaped and the aggregate carries one struct per cluster.
    "q113_cluster_winner" -> { (s, dir) =>
      val clusters = Dedup.dupClusters(Dedup.ngramJaccardPairs(shingles3(s, dir), JaccardThreshold))
      val scored = graft.queries.TrainingQueries
        .qualityModelScores(Tables.documents(s, dir))
        .select(col("doc_id"), col("score_bp"))
      clusters
        .join(scored, "doc_id")
        .groupBy(col("cluster"))
        .agg(
          max_by(col("doc_id"), struct(col("score_bp"), (-col("doc_id")).as("neg_id"))).as("winner_doc"),
          max(col("score_bp")).as("winner_score_bp"),
          count(lit(1)).as("n_members")
        )
        .withColumn("n_discarded", col("n_members") - 1)
    },

    // q81: int8 embedding quantization — per-vector max-abs scale,
    // values mapped to round(127·x/scale). The memory-reduction step
    // before a 100 TB ANN index (4× smaller vectors); a pure scalar
    // projection, scan-bound, no shuffle. Output checks the scale and
    // exact integer stats of the quantized vector (sum/min/max) so
    // the oracle verifies the full quantization without comparing
    // array-typed cells.
    "q81_embed_quantize" -> { (s, dir) =>
      Tables
        .embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        // degenerate-vector guard, mirrored in the oracle: the engines
        // disagree on empty/null-element arrays (Spark aggregate()
        // returns the 0 seed and propagates NULL elements; DuckDB
        // list_sum returns NULL on empty and SKIPS NULL elements), so
        // parity must not rest on the corpus never containing one —
        // both sides exclude them identically (r4 advice).
        .filter(size(col("v")) > 0 && !exists(col("v"), x => x.isNull))
        .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
        .select(
          col("vec_id"),
          round(col("scale"), 6).as("scale"),
          // zero vector -> all-zero quantization (guard the division;
          // Spark 4 ANSI semantics make unguarded edge divisions a risk)
          when(col("scale") === 0, lit(0L))
            .otherwise(
              expr("aggregate(transform(v, x -> CAST(round(127 * x / scale, 0) AS BIGINT)), 0L, (acc, x) -> acc + x)")
            )
            .as("q_sum"),
          when(col("scale") === 0, lit(0L))
            .otherwise(expr("array_min(transform(v, x -> CAST(round(127 * x / scale, 0) AS BIGINT)))"))
            .as("q_min"),
          when(col("scale") === 0, lit(0L))
            .otherwise(expr("array_max(transform(v, x -> CAST(round(127 * x / scale, 0) AS BIGINT)))"))
            .as("q_max")
        )
    },

    // q82: k-nearest-neighbor join — every vector's top-3 neighbors
    // among its (label × sign-bucket) candidates: the ANN-graph build
    // (q34 finds threshold pairs; this ranks ALL vectors' neighbors).
    // q82: kNN join within label blocks, candidates bounded by the
    // IVF-CELL partition (round 10 — rebased off constant-geometry
    // LSH buckets exactly as q133 was in round 9: fixed table×bucket
    // blocks have occupancy ~N/const, an effectively-quadratic
    // candidate term that measured 5.1× at a 10× scale-up; the
    // corpus-scaled k-means partition keeps cells ~SemClusterTarget
    // vectors, so the per-cell pair term is LINEAR in N). Neighbor
    // rank = exact integer L2² on the globally-scaled quantized
    // vectors (the q133 metric — monotone in true L2 up to
    // quantization), ties by id; a candidate must share BOTH the cell
    // and the label.
    "q82_knn_join" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // label rides IN the persisted index, so both sides of the
      // (cluster × label) block join read the cluster-bucketed table
      // directly — no vec_id-keyed side join to destroy the stored
      // partitioning, and subset co-partitioning (GraftSession:
      // requireAllClusterKeysForCoPartition=false) lets the bucket
      // key serve the wider join without re-shuffling either side
      // (PlanSpec asserts zero exchange on both).
      val al = cellAssignment(s, dir)
      val a = al.select(col("cluster"), col("label"), col("vec_id"), col("qa"))
      val b = al.select(
        col("cluster"),
        col("label"),
        col("vec_id").as("neighbor_id"),
        col("qa").as("qb")
      )
      val w = Window.partitionBy(col("vec_id")).orderBy(col("d2").asc, col("neighbor_id").asc)
      a.join(b, Seq("cluster", "label"))
        .filter(col("vec_id") =!= col("neighbor_id"))
        .withColumn("d2", KMeans.dist2(col("qa"), col("qb"), Dims))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= KnnK)
        .select(col("vec_id"), col("rank"), col("neighbor_id"), col("d2"))
    },

    // q85: incremental dedup — a NEW batch (doc_id % 7 == 3 here; in
    // production, today's crawl) checked against the EXISTING corpus
    // via the signature index, SKETCH-ONLY: cross-set band join for
    // candidates, graft_sigmatch agreement for the estimate, no raw
    // shingle re-join against the index and no within-index pairing
    // (the quadratic part a daily run must never pay). The duplicate
    // gate compares in integers (n_match * 2 >= numPerms ⇔ est >=
    // 0.5), so no float boundary decides membership.
    "q85_incremental_dedup" -> { (s, dir) =>
      graft.functions.GraftFunctions.ensureRegistered(s)
      val sigs = Dedup.checkpointHeavy(Dedup.minhashSignatures(shingles3Sig(s, dir), NumPerms))
      val cands = Dedup.lshCandidatesAgainst(
        sigs.filter(col("doc_id") % 7 === 3),
        sigs.filter(col("doc_id") % 7 =!= 3),
        NumPerms,
        RowsPerBand
      )
      sigmatchEstimate(cands, sigs, "new_doc", "index_doc")
        .filter(col("n_match") * 2 >= NumPerms)
    },

    // q87: q85 on PERSISTED state — the index side is a bucketed
    // (doc_id, bk) band table written once at ingest (bucketBy the
    // single-integer band key, version-stamped against signature
    // format drift), so the daily batch's candidate join reads the
    // index with ZERO exchange (PlanSpec asserts it). This turns every
    // "at 100 TB we'd bucketBy" comment in the dedup stack into an
    // executed plan: the index build here stands in for the ingest
    // job; only the band join downstream is the recurring cost.
    "q87_bucketed_index_dedup" -> { (s, dir) =>
      graft.functions.GraftFunctions.ensureRegistered(s)
      val sigs = Dedup.checkpointHeavy(Dedup.minhashSignatures(shingles3Sig(s, dir), NumPerms))
      Dedup.writeSignatureIndex(
        sigs.filter(col("doc_id") % 7 =!= 3), SigIndexTable, NumPerms, RowsPerBand, SigIndexBuckets)
      val cands = Dedup.lshCandidatesAgainstIndex(
        sigs.filter(col("doc_id") % 7 === 3),
        Dedup.readSignatureIndex(s, SigIndexTable),
        NumPerms,
        RowsPerBand
      )
      sigmatchEstimate(cands, sigs, "new_doc", "index_doc")
        .filter(col("n_match") * 2 >= NumPerms)
    },

    // q89: segment-level exact dedup (RefinedWeb line-dedup shape) —
    // every distinct 10-word segment keeps only its corpus-wide first
    // occurrence; per-doc survival report + digest of the reassembled
    // text. Winner election is one md5-keyed aggregate (min struct,
    // map-side combinable), reassembly a doc-bounded aggregate — no
    // unbounded window, no second pass over bodies.
    "q89_segment_dedup" -> { (s, dir) =>
      Dedup.segmentDedup(Tables.documents(s, dir), "doc_id", "text", SegWords)
    },

    // q90: proper-prefix containment pairs (truncated re-crawls).
    // Blocked on the first 16 chars — an equi-join that provably
    // keeps every prefix pair among length>=16 docs — then one
    // startsWith verify. Never an all-pairs comparison; blocks hotter
    // than PrefixBlockCap are dropped by contract (shared-boilerplate
    // guard — the q31 df-cap pattern on the block key), so no block
    // can go quadratic on "<!doctype html><"-style openings.
    "q90_prefix_containment" -> { (s, dir) =>
      Dedup.prefixContainmentPairs(Tables.documents(s, dir), "doc_id", "text", PrefixBlockChars, PrefixBlockCap)
    },

    // q95: edit-distance near-dup verify — the integer shared-shingle
    // gate (>= 10 common capped trigrams) runs before any O(len²)
    // Levenshtein, so only already-suspicious pairs pay the expensive
    // metric; the distance test itself is integer-only (4·dist <=
    // max_len, i.e. within 25% of the longer text).
    "q95_editdist_neardup" -> { (s, dir) =>
      Dedup.editDistNearDups(
        Tables.documents(s, dir),
        shingles3(s, dir),
        "doc_id",
        "text",
        EditMinSharedShingles,
        EditDistDenom
      )
    },

    // q100: sparse TF-IDF cosine pairs via the inverted-index
    // self-join — the sparse-vector twin of q34's dense embedding
    // near-dups. df-capped stopword removal is the declared contract
    // AND the hot-key guard (see Similarity.tfidfCosinePairs).
    "q100_tfidf_pairs" -> { (s, dir) =>
      Similarity.tfidfCosinePairs(Tables.documents(s, dir), "doc_id", "text", TfidfDfCap, TfidfCosThreshold)
    },

    // q101: Count-Min frequency estimates from the sketch ALONE — the
    // q66 posture for term frequencies: one native aggregate builds a
    // per-source depth×width counter matrix (pure sums: merges are
    // bit-deterministic in any order), then probe-token estimates read
    // the checkpointed 16 KB sketches with NO document re-scan
    // (PlanSpec-asserted). est = min over rows ≥ true count, the CMS
    // overcount contract (never under) — bounded vs exact counts in
    // DedupSimSpec. The oracle rebuilds the identical counters from
    // the same portable-hash arithmetic.
    "q101_cms_est" -> { (s, dir) =>
      import graft.functions.GraftFunctions
      GraftFunctions.ensureRegistered(s)
      val toks = Tables
        .documents(s, dir)
        .select(col("source"), explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
      val sketches = toks
        .select(col("source"), GraftFunctions.strhash2(col("w")).as("h"))
        .groupBy(col("source"))
        .agg(GraftFunctions.cms(col("h"), CmsDepth, CmsWidth).as("cms"))
        .localCheckpoint() // estimation below never re-reads documents
      import s.implicits._
      val probes = CmsProbeTokens
        .toDF("token")
        .withColumn("hp", GraftFunctions.strhash2(col("token")))
      probes
        .crossJoin(broadcast(sketches))
        .select(
          col("source"),
          col("token"),
          least((0 until CmsDepth).map { d =>
            element_at(col("cms"), (cmsIdx(d, col("hp")) + lit(d * CmsWidth) + 1).cast("int"))
          }: _*).as("est")
        )
    },

    // q134: dedup-approximation certification — the q128 posture for
    // the MinHash pipeline: precision/recall of q32's LSH+verify
    // pairs against q31's exact Jaccard pairs, as ONE corpus-level
    // report row. Verified LSH pairs are a subset of the exact set by
    // construction (the verify stage re-checks exact Jaccard), so
    // precision is 1 unless that invariant breaks — this query is
    // the production monitor that would catch it, and recall is the
    // band-geometry knob (b×r) a pipeline tunes against. Both sides
    // share ONE checkpointed shingle frame; the intersection is an
    // integer pair equi-join.
    "q134_dedup_eval" -> { (s, dir) =>
      val sh = shingles3(s, dir)
      val exact = Dedup.ngramJaccardPairs(sh, JaccardThreshold).select(col("doc_a"), col("doc_b")).localCheckpoint()
      val sigs = Dedup.minhashSignatures(sh, NumPerms)
      val approx = Dedup
        .verifyJaccard(sh, Dedup.lshCandidates(sigs, NumPerms, RowsPerBand), JaccardThreshold)
        .select(col("doc_a"), col("doc_b"))
        .localCheckpoint()
      val hit = exact.join(approx, Seq("doc_a", "doc_b")).agg(count(lit(1)).as("n_hit"))
      exact
        .agg(count(lit(1)).as("n_exact"))
        .crossJoin(approx.agg(count(lit(1)).as("n_approx")))
        .crossJoin(hit)
        .select(
          col("n_exact"),
          col("n_approx"),
          col("n_hit"),
          // explicit NULL on a zero denominator, mirrored by nullif in
          // the oracle — Spark's non-ANSI Divide and DuckDB's IEEE
          // division diverge (NULL vs inf/NaN) exactly in the
          // degenerate no-duplicate corpus otherwise
          when(col("n_approx") > 0, round(col("n_hit").cast("double") / col("n_approx"), 4)).as("precision"),
          when(col("n_exact") > 0, round(col("n_hit").cast("double") / col("n_exact"), 4)).as("recall")
        )
    },

    // q133: kNN label propagation — weak labeling by majority vote
    // over each vector's nearest neighbors WITHIN ITS IVF CELL
    // (q129's corpus-scaled k-means partition: k = max(KmeansK,
    // N/SemClusterTarget) keeps cells ~64 vectors, so the per-cell
    // kNN is LINEAR in N — the first cut used constant-geometry LSH
    // buckets whose occupancy grows with N and measured 16.9× at a
    // 10× scale-up; cell-bounded candidates measure ~1×). Clustering
    // is the TWO-LEVEL assignment (KMeans.refineTwoLevel — N·√k, the
    // round-10 fix for flat assignment's N·k with corpus-scaled k).
    // Neighbor rank = exact integer L2² on the quantized vectors,
    // ties by id; vote = max_by over (cnt, −label) (max count, then
    // smallest label — deterministic for any label domain); vectors
    // alone in their cell keep a NULL prediction rather than
    // vanishing. The correct flag is what a label-quality audit
    // thresholds on.
    "q133_knn_classify" -> { (s, dir) =>
      graft.functions.GraftFunctions.ensureRegistered(s)
      val emb = Tables.embeddings(s, dir)
      val asg = cellAssignment(s, dir)
      val a = asg.select(col("cluster"), col("vec_id"), col("qa"))
      val b = asg.select(col("cluster"), col("vec_id").as("neighbor_id"), col("qa").as("qb"))
      // (neighbor labels could also ride the index; the vote joins the
      // raw label dim to keep the output row set — ALL labeled
      // vectors, including any the quantizer's degenerate-vector
      // filter excluded from the index — byte-identical to the oracle)
      val knn = a
        .join(b, Seq("cluster"))
        .filter(col("vec_id") =!= col("neighbor_id"))
        .withColumn("d2", KMeans.dist2(col("qa"), col("qb"), Dims))
        .withColumn(
          "rank",
          row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("vec_id"))
              .orderBy(col("d2").asc, col("neighbor_id").asc)
          )
        )
        .filter(col("rank") <= KnnK)
        .select(col("vec_id"), col("neighbor_id"))
      val lab = emb.select(col("vec_id"), col("label"))
      val votes = knn
        .join(
          lab.select(col("vec_id").as("neighbor_id"), col("label").as("nl")),
          Seq("neighbor_id")
        )
        .groupBy(col("vec_id"), col("nl"))
        .agg(count(lit(1)).as("cnt"))
      // max count, then smallest label — a struct ordering (the q113
      // pattern), valid for ANY label domain; the earlier arithmetic
      // surrogate cnt·2³² − label silently mis-voted on negative or
      // ≥2³² labels.
      val pred = votes
        .groupBy(col("vec_id"))
        .agg(max_by(col("nl"), struct(col("cnt"), (-col("nl")).as("neg_label"))).as("pred"))
      lab
        .join(pred, Seq("vec_id"), "left_outer")
        .select(col("vec_id"), col("label"), col("pred"), (col("pred") === col("label")).as("correct"))
    },

    // q129: SemDeDup — semantic dedup by cluster-then-prune (the
    // embedding-space dedup of Abbas et al. 2023): k-means bounds
    // WHICH pairs are compared (within-cluster only), then a vector
    // is dropped when an earlier same-cluster vector is τ-similar on
    // the centered quantized cosine — exact BIGINT compare
    // (25·dot² ≥ 4·|a|²·|b|², dot>0), deterministic keep-lowest-id
    // rule, mirrored from first principles in the oracle.
    //
    // k GROWS WITH THE CORPUS: k = max(KmeansK, N/SemClusterTarget),
    // so expected cluster size stays ~SemClusterTarget and the
    // within-cluster pairwise term stays LINEAR in N (fixed k would
    // be quadratic — measured 5.5× at a 10× scale-up before this).
    // That is the SemDeDup contract made executable; the count that
    // sizes k is one scan of the checkpointed quantized frame (the
    // "train the clustering" step every SemDeDup run pays). The
    // clustering itself is the TWO-LEVEL assignment (KMeans.
    // refineTwoLevel — coarse √k-cell Voronoi partition, then
    // cell-local fine Lloyd): N·√k per round instead of flat
    // assignment's N·k, which was N²/64 with corpus-scaled k
    // (measured 5.6× at a 10× scale-up in round 9) and whose k
    // broadcast centroids stop being literal-codegen-able at 1e8+
    // vectors. The prune stage is shape-identical either way.
    // RECALL (round 14 measured the ceiling, round 15 bought it back
    // with MULTI-PROBE): under single assignment SemDeDup only
    // compares WITHIN a cluster, so its recall at any cosine is
    // capped by the pair co-location probability — measured 0.58
    // co-cluster / 0.75 caught at cosine 0.95 at 100× with the
    // target-64 two-level geometry, and the obvious knob is DEAD
    // (4× the cluster target left co-location at 0.541 vs 0.578 —
    // SCALING_r14 cocluster_at_target_x4): the cap is the partition's
    // BOUNDARY GEOMETRY (a pair split at the coarse √k Voronoi level
    // could never co-cluster at the fine level), not occupancy. The
    // index therefore stores MULTI-PROBE rows (round 15,
    // KMeans.assignMultiProbe): probe 1 = the legacy assignment,
    // probe 2 = the nearest different fine centroid among the two
    // nearest coarse cells, and the prune compares every pair sharing
    // ANY probe cell — boundary-split pairs meet through either
    // member's runner-up cell at a candidate cost bounded by
    // ProbeCount² and measured by the q129 volume points
    // (candidates/vector 130.1/129.8/129.6 across 256/512/1024× —
    // N-linear within 1.005, SCALING_r15). MEASURED against the
    // planted truth (the planted-recall probe): catch at cosine
    // 0.95 = 0.966/0.969/0.979/0.985 at 100/256/512/1024× — the rate
    // RISES with scale (third-vector drops compound as density
    // grows), vs the r14 single-assignment 0.75-0.79. The remaining
    // gap is N-independent — the route's scale story vs q34's
    // L-priced LSH recall; see embeddingNearDupsLsh.
    "q129_semantic_dedup" -> { (s, dir) =>
      // the partition comes from the persisted ingest artifact (built
      // once per corpus — see cellAssignmentProbes); the index row IS
      // the quantized vector + its probe cell, so the prune needs no
      // re-quantization pass
      semDedupOutput(cellAssignmentProbes(s, dir).select(col("vec_id"), col("probe"), col("cluster"), col("qa")))
    },

    // q128: ANN recall@k evaluation — the harness that certifies an
    // approximate index before a pipeline trusts it (FAISS's
    // recall-at-k eval shape). Ground truth = q35's exact brute-force
    // top-k, candidate = q50's IVF top-k; recall = |approx ∩ exact|/k
    // per probe. The intersection is an integer equi-join on
    // (probe_id, neighbor_id) — k·probes rows a side, so the eval
    // costs what the two searches cost, plus nothing. Both inputs are
    // deterministic (no RNG), so the oracle reproduces both searches
    // and the intersection exactly.
    "q128_ann_recall" -> { (s, dir) =>
      graft.functions.GraftFunctions.ensureRegistered(s)
      val e = embDouble(s, dir)
      val probes = e.filter(col("vec_id") < 5)
      // both top-k results are k·probes rows — broadcast the compare
      // side so the intersection and the final stitch add ZERO
      // exchanges beyond the searches' own plans
      val exact = Similarity.bruteForceTopK(e, probes, AnnK).localCheckpoint()
      val approx = Similarity.ivfTopK(e, probes, AnnK, IvfCells, IvfNprobe)
      val hits = exact
        .select(col("probe_id"), col("neighbor_id"))
        .join(broadcast(approx.select(col("probe_id"), col("neighbor_id"))), Seq("probe_id", "neighbor_id"))
        .groupBy(col("probe_id"))
        .agg(count(lit(1)).as("n_hits"))
      exact
        .groupBy(col("probe_id"))
        .agg(count(lit(1)).as("n_exact"))
        .join(broadcast(hits), Seq("probe_id"), "left_outer")
        .select(
          col("probe_id"),
          col("n_exact"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)).cast("double") / AnnK, 4).as("recall")
        )
    },

    // q137: embedding-space drift monitor — the q96/q109 posture for
    // the VECTOR side of the corpus: per label cohort, the integer
    // centroid of the quantized embeddings (per-dim sum div count —
    // non-negative, exact) and its L2² distance from the global
    // centroid. A cohort whose centroid wanders is a re-embed or
    // upstream-shift signal no feature-space profile sees. TWO
    // map-side-combinable aggregates (cohort + global), centroid
    // frames are label-count-sized, distance is the unrolled integer
    // Column tree — all-BIGINT exact.
    "q137_embedding_drift" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val q = KMeans
        .quantizeShifted(emb, "vec_id", "embedding")
        .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      def centroid(grouped: org.apache.spark.sql.RelationalGroupedDataset) =
        grouped.agg(
          count(lit(1)).as("n"),
          // element_at: 1-based on BOTH engines (Spark's qa[i] would
          // be 0-based — the classic off-by-one trap)
          array((1 to Dims).map(i => expr(s"CAST(sum(element_at(qa, $i)) AS BIGINT) div count(1)")): _*).as("ca")
        )
      val perLabel = centroid(q.groupBy(col("label")))
      val global = centroid(q.groupBy())
        .select(col("ca").as("ga"))
        .localCheckpoint()
      perLabel
        .crossJoin(broadcast(global))
        .select(
          col("label"),
          col("n").as("n_vecs"),
          KMeans.dist2(col("ca"), col("ga"), Dims).as("drift_d2")
        )
    },

    // q135: per-source duplication report — q126's accounting rolled
    // up to the mixing decision's granularity ("which crawl is
    // boilerplate-heavy?"): per source, docs touched by duplication
    // and the corpus-level duplicated-token fraction in basis points
    // (integer div — exact). ONE extra aggregate over q126's per-doc
    // frame; the source column rides the existing doc stitch.
    "q135_dup_by_source" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Dedup
        .substringDupStats(docs, "doc_id", "text", SubstrGramLen)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("dup_tokens") > 0, 1L).otherwise(0L)).as("dup_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("dup_tokens")).as("dup_tokens"),
          expr("(sum(dup_tokens) * 10000) div sum(n_tokens)").as("dup_frac_bp")
        )
    },

    // q126: exact duplicated-substring coverage (Dedup
    // .substringDupStats — the Lee et al. 2022 span-level exact dedup
    // next to q30's whole-doc and q89's segment-level granularity):
    // any 8-token window occurring more than once corpus-wide marks
    // its positions; overlapping windows merge into spans by an exact
    // per-doc integer fold. Never pair-generating — the mark join
    // yields at most one row per token position, so a billion-fold
    // boilerplate window stays linear (no df-cap needed, unlike the
    // shingle self-join family).
    "q126_substring_dedup" -> { (s, dir) =>
      Dedup.substringDupStats(Tables.documents(s, dir), "doc_id", "text", SubstrGramLen)
    },

    // q130: the surgery q126 accounts for — remove every duplicated
    // span, emit the cleaned document (Lee et al. 2022's actual
    // output). Token-level anti-join against the covered index set,
    // order-preserving reassembly; fully-duplicated docs come back
    // empty rather than vanishing.
    "q130_substring_clean" -> { (s, dir) =>
      Dedup.substringClean(Tables.documents(s, dir), "doc_id", "text", SubstrGramLen)
    },

    // q142: occupancy health of the PERSISTED cell partition — the
    // operational monitor that closes the round-11 CellIndex loop
    // (build → consume → MONITOR, the q96/q109 drift posture applied
    // to the index itself): per cluster, its member count and the
    // occupancy-vs-SemClusterTarget ratio in basis points (integer
    // div — exact), plus the over-2×-target flag. The corpus-scaled
    // contract says occupancy stays ~target; clusters drifting past
    // 2× are the re-train signal (data distribution moved, or
    // appends outgrew the frozen geometry — every within-cluster
    // consumer's pair term degrades with the square of the
    // overshoot). Scale shape: the aggregate groups by the table's
    // OWN bucket key, so the plan is scan + partial/final agg with
    // ZERO exchange (the stored layout serving its own monitoring).
    "q142_cell_occupancy" -> { (s, dir) =>
      cellAssignment(s, dir)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_vecs"))
        .select(
          col("cluster"),
          col("n_vecs"),
          expr(s"(n_vecs * 10000) div $SemClusterTarget").as("occ_bp"),
          (col("n_vecs") > 2 * SemClusterTarget).as("over_2x_target")
        )
    },

    // q138: the dedup PIPELINE capstone — the granularity ladder run
    // as one composed job instead of independent queries (the q56
    // pattern applied to dedup): exact whole-doc (q30's md5 rule,
    // keep-smallest-id) → span surgery on the SURVIVORS (q126/q130's
    // Lee-et-al. exact-substring machinery, gram counts computed over
    // the survivor corpus — composition changes what counts as
    // duplicated, which is the point) → SemDeDup on what's left
    // (q129's corpus-scaled two-level k-means + τ-prune, consuming
    // the docs' PRECOMPUTED embeddings — the embed-once-then-filter
    // posture of production pipelines — with RANK seeding because the
    // surviving id space has holes). Output is one row per input doc
    // with its terminal disposition: stage ∈ {exact, span_empty,
    // semantic, kept}, the span accounting (n_tokens/kept_tokens,
    // NULL for exact-dropped docs that never reached surgery), and
    // the semantic cluster (NULL before stage 3). Per-stage removal
    // is one groupBy(stage) away; keeping the per-doc frame makes the
    // oracle compare total. Scale shape: each stage's inputs shrink
    // monotonically; nothing is re-tokenized (stage 2 tokenizes once)
    // and nothing re-scans a previous stage's full input.
    "q138_dedup_pipeline" -> { (s, dir) =>
      // stage 3 reads the SAME persisted full-corpus cell partition as
      // q82/q129/q133 (round 11): the ingest-time clustering is a
      // shared artifact, and the semantic prune runs among each
      // cluster's stage-1/2 survivors — no per-pipeline re-training
      // (the round-10 rank-seeded survivor re-clustering is retained
      // as the standalone no-artifact path; see DedupPipeline)
      graft.dedup.DedupPipeline.run(
        Tables.documents(s, dir),
        "doc_id",
        "text",
        cellAssignmentProbes(s, dir),
        SubstrGramLen,
        Dims,
        SemDedupTauNum,
        SemDedupTauDen
      )
    },

    // q140: HYBRID retrieval — reciprocal-rank fusion (Cormack et
    // al. 2009's RRF, the standard hybrid-search combiner) of the
    // engine's two retrieval stacks over the SAME query-by-example
    // probes (doc_id < 5, the q35/q50 convention): the lexical side
    // scores the probe doc's distinct tokens through q76/q117's
    // rational-idf BM25 (searchDirect — the one-shot form; the probe
    // itself is excluded and the shortlist re-ranked, so "docs like
    // X" never returns X, matching the semantic side's self-exclusion),
    // the semantic side is q50's IVF ANN over the probe's embedding.
    // rrf = Σ 1/(60 + rank) over the retrievers that returned the doc
    // — TWO fixed-order double addends, bit-identical on both
    // engines, 6dp-rounded; fused rank ties break on doc_id. The
    // 5-row probe-text collect is dim-table-sized by construction
    // (the q136 model-collect class). Oracle: the shared
    // bm25ScoreCtes chain with the query terms derived in SQL from
    // the same probe docs + the q50 oracle nested verbatim + the
    // fusion arithmetic restated.
    //
    // DEAD-CHANNEL CONTRACT (round 14, from the 256× q141 artifact):
    // equal-weight RRF interleaves the two channels' candidate lists
    // ~1:1 — same per-channel rank ⇒ identical 1/(K+r) addend, ties
    // broken by doc_id — so when one channel is DEAD under the
    // grading truth (0 true hits in its top-k), the live channel's
    // rank-r hit lands at fused rank 2r−1 or 2r and fused MRR sits in
    // [best/2, best] (measured 0.5 at 256× under the cosine truth:
    // every tie broke against the semantic hit). This is DECLARED
    // Cormack-RRF behavior, not a defect: the fusion has no truth at
    // query time, so it cannot know which channel the grader will
    // favor, and unconditional fusion is the published contract.
    // q141 makes the trade measurable instead of invisible — it
    // grades every channel against BOTH truths, so "dead under one
    // truth" (truth mismatch; fusion is a priced compromise) and
    // "dead under both" (real defect: empty postings, broken index —
    // gate THAT channel out upstream) are distinguishable readings.
    "q140_hybrid_retrieval" -> { (s, dir) => hybridFrames(s, dir)._3 },

    // q141: retrieval EVALUATION of the hybrid stack — the q128
    // certify-before-trusting posture extended from one index to the
    // whole retrieval surface. Each system (lexical BM25, semantic
    // IVF, RRF-fused) is graded per probe against TWO ground truths
    // (round 14 — before this, only the cosine truth existed, and the
    // 256× artifact showed the lexical channel scoring 0 hits against
    // a truth it can never win on this corpus, which reads as a
    // defect when it is a truth mismatch):
    //   - 'cosine': q35's exact brute-force cosine top-k — the truth
    //     the SEMANTIC channel approximates;
    //   - 'bm25': the exact BM25 top-k with the same self-exclusion —
    //     the truth the LEXICAL channel computes outright (searchDirect
    //     scores every posting, so lexical/bm25 is a 1.0 pin by
    //     construction, the q128 exact-vs-itself convention), and the
    //     task the FUSED system must not destroy while chasing cosine.
    // A channel at 0 hits under BOTH truths is genuinely dead (data or
    // config defect); 0 under one truth only means the truths disagree
    // there, and the fused rows quantify what the RRF compromise costs
    // against each (see the q140 dead-channel contract note). hits@k
    // and reciprocal-rank of the first true hit (the MRR summand); the
    // intersections are integer equi-joins on (query, doc) over
    // k·probes-row frames, so the eval costs what the searches cost
    // plus nothing; rr is a single double division, 6dp-rounded.
    "q141_retrieval_eval" -> { (s, dir) =>
      val (lex, sem, fused) = hybridFrames(s, dir)
      val e = embDouble(s, dir)
      val cosTruth = Similarity
        .bruteForceTopK(e, e.filter(col("vec_id") < FusionProbes), FusionTopK)
        .select(col("probe_id").as("query_id"), col("neighbor_id").as("doc_id"), lit(1).as("hit"))
        .localCheckpoint()
      val lexTruth = lex.select(col("query_id"), col("doc_id"), lit(1).as("hit"))
      def evalSys(cand: DataFrame, rankCol: String, sys: String, truth: DataFrame, truthName: String): DataFrame =
        cand
          .join(broadcast(truth), Seq("query_id", "doc_id"), "left_outer")
          .groupBy(col("query_id"))
          .agg(
            sum(coalesce(col("hit"), lit(0))).as("n_hits"),
            min(when(col("hit") === 1, col(rankCol))).as("first_hit_rank")
          )
          .select(
            col("query_id"),
            lit(sys).as("system"),
            lit(truthName).as("truth"),
            col("n_hits"),
            col("first_hit_rank"),
            when(col("first_hit_rank").isNotNull, round(lit(1.0) / col("first_hit_rank"), 6))
              .otherwise(lit(0.0))
              .as("rr")
          )
      Seq(("lexical", lex, "lex_rank"), ("semantic", sem, "sem_rank"), ("fused", fused, "rank"))
        .flatMap { case (sys, cand, rk) =>
          Seq(evalSys(cand, rk, sys, cosTruth, "cosine"), evalSys(cand, rk, sys, lexTruth, "bm25"))
        }
        .reduce(_ unionByName _)
    }
  )

  /** The q140 hybrid-retrieval frames: (lexical candidates (query_id,
    * doc_id, lex_rank), semantic candidates (query_id, doc_id,
    * sem_rank), fused output) — one definition shared by q140 and the
    * q141 eval. See the q140 map entry comment for the full design.
    */
  private def hybridFrames(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val probeIds = 0L until FusionProbes.toLong
    graft.functions.GraftFunctions.ensureRegistered(s)
    val docs = Tables.documents(s, dir)
    val tokenRe = graft.search.Bm25Index.TokenPattern.r
    val probeQueries = docs
      .filter(col("doc_id").isin(probeIds: _*))
      .select(col("doc_id"), col("text"))
      .collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getLong(0).toInt, tokenRe.findAllIn(r.getString(1).toLowerCase).toSeq.distinct))
      .toSeq
    val wLex = Window.partitionBy(col("query_id")).orderBy(col("score_bp").desc, col("doc_id").asc)
    val lex = graft.search.Bm25Index
      .searchDirect(docs, "doc_id", "text", probeQueries, FusionTopK + 1)
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("lex_rank", row_number().over(wLex))
      .filter(col("lex_rank") <= FusionTopK)
      .select(col("query_id").cast("long").as("query_id"), col("doc_id"), col("lex_rank"))
      // k·probes rows — materialize so the fused plan and the q141
      // eval read the candidate lists instead of re-running the search
      .localCheckpoint()
    val e = embDouble(s, dir)
    val sem = Similarity
      .ivfTopK(e, e.filter(col("vec_id").isin(probeIds: _*)), FusionTopK, IvfCells, IvfNprobe)
      .select(col("probe_id").as("query_id"), col("neighbor_id").as("doc_id"), col("rank").as("sem_rank"))
      .localCheckpoint()
    val wFuse = Window.partitionBy(col("query_id")).orderBy(col("rrf").desc, col("doc_id").asc)
    val fused = lex
      .join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn(
        "rrf",
        round(
          coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfK) + col("sem_rank")), lit(0.0)),
          6
        )
      )
      .withColumn("rank", row_number().over(wFuse))
      .filter(col("rank") <= FusionTopK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf"), col("lex_rank"), col("sem_rank"))
    (lex, sem, fused)
  }

  val SigIndexTable = "graft_sig_index"
  val SigIndexBuckets = 8

  /** q107: cell-partitioned IVF index location (a bench/test artifact
    * directory; production would be a lake path).
    */
  val IvfIndexPath = "target/graft_ivf_index"

  // q89: fixed segment width (words) for segment-level dedup.
  val SegWords = 10
  // q90: prefix-containment block width (chars); docs shorter than
  // this are out of contract. Blocks with more than PrefixBlockCap
  // docs are dropped (shared-boilerplate contract + hot-key guard —
  // see Dedup.prefixContainmentPairs; at the test scales the hottest
  // block holds 2 docs, so results are unchanged and the oracle
  // mirrors the cap).
  val PrefixBlockChars = 16
  val PrefixBlockCap = 50
  // q95: shared-shingle gate and the edit-distance denominator
  // (dist*denom <= max_len, denom=4 -> within 25%).
  val EditMinSharedShingles = 10
  val EditDistDenom = 4

  val KnnK = 3

  // q119: k-means geometry — 8 clusters seeded from the first 8
  // vector ids (q50's deterministic-centroid convention), 3 Lloyd
  // rounds (a refinement pass, not convergence: fixed iterations keep
  // the oracle an exact unrolled twin, q97-style).
  val KmeansK = 8
  val KmeansIters = 3

  // q129: SemDeDup drop threshold τ = 2/5 on the centered quantized
  // cosine — compared as den²·dot² ≥ num²·|a|²·|b|² with dot > 0, so
  // the decision is exact BIGINT (no sqrt, no doubles).
  val SemDedupTauNum = 2
  val SemDedupTauDen = 5

  // q140: hybrid retrieval geometry. FusionTopK MUST stay equal to
  // AnnK — the oracle nests q50Sql (whose shortlist depth is AnnK)
  // verbatim as the semantic side. RrfK = 60 is the standard RRF
  // smoothing constant (Cormack et al. 2009).
  val FusionProbes = 5
  val FusionTopK: Int = AnnK
  val RrfK = 60

  // q129: target cluster population — k = max(KmeansK, N/target), so
  // clusters stay ~this size as the corpus grows and the
  // within-cluster pairwise term stays linear in N.
  val SemClusterTarget = 64

  // q122: PQ geometry — 64 dims as 8 subspaces × 8 dims, 16 codewords
  // per subspace (codes fit a nibble each; 64 floats → 8 small ints).
  val PqSubspaces = 8
  val PqSubDim = 8
  val PqCodewords = 16

  // q125: IVF+PQ composition — 8 coarse cells (the first-8
  // deterministic-centroid convention), 2 probed cells per query,
  // ADC shortlist of 20 exactly re-ranked down to AnnK.
  val IvfPqCells = 8
  val IvfPqNprobe = 2
  val IvfPqRerank = 20
  val IvfPqIndexPath = "target/graft_ivfpq_index"

  // q100: TF-IDF pair similarity — term df cap (stopword contract +
  // postings fan-out bound) and the cosine floor, compared ROUNDED.
  val TfidfDfCap = 50
  val TfidfCosThreshold = 0.6

  // q101: CMS geometry (depth 4 × width 512 = 16 KB of counters per
  // source) and a FIXED probe vocabulary — estimation must be
  // data-independent so the sketch is provably the only input.
  val CmsDepth = 4
  val CmsWidth = 512
  val CmsProbeTokens: Seq[String] =
    Seq("the", "and", "of", "to", "in", "a", "is", "data", "with", "for")

  /** Spark twin of the oracle's permSql-mod-width bucket index: the
    * MinHash permutation arithmetic over the 62-bit hash's halves,
    * reduced mod the CMS width (all intermediates < 2⁶², like
    * [[graft.functions.CmsAgg]]'s update loop).
    */
  private[graft] def cmsIdx(d: Int, h: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import graft.functions.PortableHash.{permA, permB, permC, Mask31, Mask62}
    val p = lit(graft.functions.PortableHash.P)
    val hm = h.bitwiseAND(lit(Mask62))
    val hi = shiftrightunsigned(hm, 31)
    val lo = hm.bitwiseAND(lit(Mask31))
    (((lit(permA(d)) * hi) % p + (lit(permB(d)) * lo) % p + lit(permC(d))) % p) % lit(CmsWidth.toLong)
  }

  private val dotSql =
    "list_reduce(list_transform(range(1, len(%1$s) + 1), i -> %1$s[CAST(i AS INT)] * %2$s[CAST(i AS INT)]), (acc, x) -> acc + x)"
  private def dot(a: String, b: String) = dotSql.format(a, b)

  /** q34 oracle: mirror of the corpus-scaled
    * Dedup.embeddingNearDupsLsh — the plane count AND the table count
    * re-derived from the oracle's own count(*) through the SAME CASE
    * chains embPlanesFor/embTablesFor walk (integer thresholds plus
    * Scala-precomputed L(m) values — no float arithmetic decides
    * geometry inside SQL), bucket bits from the identical seeded
    * hyperplane literals (the q36 planeLit pattern; id range
    * EmbPlaneBase + tbl·MaxEmbPlanes), then the unchanged
    * normalize-then-dot cosine over DISTINCT a<b candidates. Table
    * branches beyond the corpus's L are gated by `tbl < cnt.tables`
    * (a 1-row filter — the dead branches join against zero cnt rows
    * and never evaluate a plane dot).
    */
  private lazy val q34Sql: String = {
    def planeLit(id: Int): String =
      "([" + Similarity.hyperplane(id, Dims).map(_.toString).mkString(", ") + "]::DOUBLE[])"
    val planeCases = (2 to MaxEmbPlanes)
      .map(p => s"WHEN nn <= ${SemClusterTarget.toLong << p} THEN $p")
      .mkString(" ")
    val tableCases = (2 to MaxEmbPlanes)
      .map(p => s"WHEN nn <= ${SemClusterTarget.toLong << p} THEN ${embTablesForPlanes(p)}")
      .mkString(" ")
    def bucketSql(t: Int): String =
      (0 until MaxEmbPlanes)
        .map { j =>
          s"(CASE WHEN $j < cnt.planes AND ${dot("v", planeLit(EmbPlaneBase + t * MaxEmbPlanes + j))} > 0 THEN ${1 << j} ELSE 0 END)"
        }
        .mkString(" + ")
    val kb = (0 until embTablesForPlanes(MaxEmbPlanes))
      .map(t =>
        s"SELECT vec_id, label, $t AS tbl, ${bucketSql(t)} AS bucket FROM e CROSS JOIN cnt WHERE $t < cnt.tables"
      )
      .mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |cnt AS (SELECT CASE $planeCases ELSE $MaxEmbPlanes END AS planes,
       |               CASE $tableCases ELSE ${embTablesForPlanes(MaxEmbPlanes)} END AS tables
       |        FROM (SELECT count(*) AS nn FROM e)),
       |n AS (SELECT vec_id, list_transform(v, x -> x / norm) nv
       |      FROM (SELECT vec_id, v, sqrt(${dot("v", "v")}) norm FROM e)),
       |kb AS ($kb),
       |cand AS (SELECT DISTINCT a.vec_id vec_a, b.vec_id vec_b
       |         FROM kb a JOIN kb b
       |           ON a.label = b.label AND a.tbl = b.tbl AND a.bucket = b.bucket
       |          AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, round(cosine, 4) AS cosine
       |FROM (SELECT vec_a, vec_b, ${dot("na.nv", "nb.nv")} cosine
       |      FROM cand
       |      JOIN n na ON na.vec_id = vec_a
       |      JOIN n nb ON nb.vec_id = vec_b)
       |WHERE cosine >= $CosineThreshold""".stripMargin
  }

  /** Shared CTE prefix: tokens → word trigrams → df-cap — the string
    * twin of Dedup.shingles + dfCapped.
    */
  private val shingleCtes: String =
    s"""toks AS (SELECT doc_id, string_split_regex(trim(text), '${graft.text.TextFunctions.WsRun}') t FROM documents),
       |sh0 AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
       |              i -> array_to_string(list_slice(t, CAST(i AS INT), CAST(i AS INT) + 2), ' '))) s
       |       FROM toks),
       |dfc AS (SELECT s, count(*) df FROM sh0 GROUP BY s),
       |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN dfc USING (s) WHERE df <= $MaxShingleDf)""".stripMargin

  /** q31's pair SQL, shared so q55's transitive closure runs over the
    * exact same pair definition.
    */
  private lazy val q31Sql: String =
    s"""WITH $shingleCtes,
         |sizes AS (SELECT doc_id, count(*) n_sh FROM sh GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) inter
         |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |       round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 4) AS jaccard
         |FROM pairs
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= $JaccardThreshold""".stripMargin

  private val P = graft.functions.PortableHash.P

  /** DuckDB twin of graft_strhash2 — the canonical rendering lives in
    * [[graft.functions.PortableHash.strhash2Sql]] (one definition for
    * every query file's oracles).
    */
  private def strhash2Sql(s: String): String = graft.functions.PortableHash.strhash2Sql(s)

  /** Spark-side identical MinHash permutation (PortableHash.perm): two
    * independent 31-bit mulmods over the hash's halves — every
    * intermediate fits DuckDB BIGINT.
    */
  private def permSql(p: Int): String = {
    import graft.functions.PortableHash.{permA, permB, permC}
    s"((${permA(p)} * (h // 2147483648)) % $P + (${permB(p)} * (h % 2147483648)) % $P + ${permC(p)}) % $P"
  }

  /** Band-key Horner fold over rowsPerBand signature mins (mirror of
    * Dedup.bandKey).
    */
  private def bandKeySql(b: Int): String =
    (b * RowsPerBand until (b + 1) * RowsPerBand)
      .map(p => s"mh_$p")
      .foldLeft("0")((acc, v) => s"(($acc * 33 + $v) % $P)")

  // Shared SQL builders for every MinHash oracle (q32/q66/q85): ONE
  // definition of the signature mins, the band union, and the
  // slot-agreement sum, so the arithmetic the oracles test cannot
  // silently diverge between them (or from the Scala side).
  private lazy val sigMinsSql: String =
    (0 until NumPerms).map(p => s"min(${permSql(p)}) AS mh_$p").mkString(",\n|            ")

  private lazy val bandsUnionSql: String =
    (0 until NumPerms / RowsPerBand)
      .map(b => s"SELECT doc_id, $b AS band_id, ${bandKeySql(b)} AS band_key FROM sig")
      .mkString("\n|  UNION ALL\n|  ")

  private lazy val sigMatchesSql: String =
    (0 until NumPerms).map(p => s"(CASE WHEN a.mh_$p = b.mh_$p THEN 1 ELSE 0 END)").mkString(" + ")

  private lazy val q32Sql: String = {
    val mins = sigMinsSql
    val bands = bandsUnionSql
    s"""WITH $shingleCtes,
       |hh AS (SELECT doc_id, ${strhash2Sql("s")} AS h FROM sh),
       |sig AS (SELECT doc_id, $mins
       |        FROM hh GROUP BY doc_id),
       |bands AS (
       |  $bands
       |),
       |cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) n_sh FROM sh GROUP BY doc_id),
       |iv AS (SELECT doc_a, doc_b, count(*) inter
       |       FROM sh a JOIN cand c ON a.doc_id = c.doc_a
       |       JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
       |       GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |       round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 4) AS jaccard
       |FROM iv
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= $JaccardThreshold""".stripMargin
  }

  private lazy val q33Sql: String = {
    val bits = graft.functions.SimHashAgg.Bits
    val votes = (0 until bits)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b_$j")
      .mkString(",\n|              ")
    val sig = (0 until bits)
      .map(j => s"(CASE WHEN b_$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    val chunkBits = bits / (SimhashMaxDist + 1)
    val mask = (1L << chunkBits) - 1
    s"""WITH $shingleCtes,
       |hh AS (SELECT doc_id, ${strhash2Sql("s")} AS h FROM sh),
       |votes AS (SELECT doc_id, $votes
       |          FROM hh GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sig AS simhash FROM votes),
       |ch AS (SELECT doc_id, simhash, c AS chunk_id, (simhash >> CAST(c * $chunkBits AS INT)) & $mask AS chunk_val
       |       FROM sig CROSS JOIN (SELECT unnest(range(0, ${SimhashMaxDist + 1})) AS c) cc),
       |pr AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b, a.simhash sa, b.simhash sb
       |       FROM ch a JOIN ch b
       |         ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
       |FROM pr WHERE bit_count(xor(sa, sb)) <= $SimhashMaxDist""".stripMargin
  }

  private lazy val q66Sql: String = {
    val mins = sigMinsSql
    val bands = bandsUnionSql
    val matches = sigMatchesSql
    s"""WITH $shingleCtes,
       |hh AS (SELECT doc_id, ${strhash2Sql("s")} AS h FROM sh),
       |sig AS (SELECT doc_id, $mins
       |        FROM hh GROUP BY doc_id),
       |bands AS (
       |  $bands
       |),
       |cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |       CAST($matches AS INT) AS n_match,
       |       round(CAST($matches AS DOUBLE) / $NumPerms, 4) AS est_jaccard
       |FROM cand
       |JOIN sig a ON a.doc_id = doc_a
       |JOIN sig b ON b.doc_id = doc_b""".stripMargin
  }

  /** q108 oracle: the q66 sketch reproduction + shingle sizes, with
    * the containment estimates computed from the ROUNDED est_jaccard
    * in the same mult/div/div sequence as the Spark side.
    */
  private lazy val q108Sql: String = {
    val mins = sigMinsSql
    val bands = bandsUnionSql
    val matches = sigMatchesSql
    def cont(denom: String) =
      s"round(((est_jaccard * CAST(sa.n_sh + sb.n_sh AS DOUBLE)) / (1 + est_jaccard)) / CAST($denom AS DOUBLE), 4)"
    s"""WITH $shingleCtes,
       |hh AS (SELECT doc_id, ${strhash2Sql("s")} AS h FROM sh),
       |sig AS (SELECT doc_id, $mins
       |        FROM hh GROUP BY doc_id),
       |bands AS (
       |  $bands
       |),
       |cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) n_sh FROM sh GROUP BY doc_id),
       |m AS (SELECT doc_a, doc_b,
       |             CAST($matches AS INT) AS n_match,
       |             round(CAST($matches AS DOUBLE) / $NumPerms, 4) AS est_jaccard
       |      FROM cand
       |      JOIN sig a ON a.doc_id = doc_a
       |      JOIN sig b ON b.doc_id = doc_b)
       |SELECT doc_a, doc_b, n_match, est_jaccard,
       |       ${cont("sa.n_sh")} AS cont_a_in_b,
       |       ${cont("sb.n_sh")} AS cont_b_in_a
       |FROM m
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b""".stripMargin
  }

  /** q36 oracle: the hyperplane weights are PURE DATA (deterministic
    * LCG over (plane, dim) — Similarity.hyperplane), so they embed as
    * literal DOUBLE[] arrays whose shortest-round-trip decimal reprs
    * parse back to the identical doubles. Bucket bits and cosines then
    * use the same sequential-fold dot order as every other embedding
    * oracle, making the whole ANN pipeline bit-reproducible.
    */
  private lazy val q36Sql: String = {
    def planeLit(p: Int): String =
      "([" + Similarity.hyperplane(p, Dims).map(_.toString).mkString(", ") + "]::DOUBLE[])"
    // plane count re-derived from the oracle's own count(*) (the q34
    // CASE-chain pattern); plane j of table t only contributes while
    // j < planes, over the MaxAnnPlanes-strided id space
    val planeCases = (2 to MaxAnnPlanes)
      .map(p => s"WHEN nn <= ${AnnBucketTarget.toLong << p} THEN $p")
      .mkString(" ")
    def bucketSql(t: Int): String =
      (0 until MaxAnnPlanes)
        .map { j =>
          s"(CASE WHEN $j < cnt.planes AND ${dot("v", planeLit(t * MaxAnnPlanes + j))} > 0 THEN ${1 << j} ELSE 0 END)"
        }
        .mkString(" + ")
    val kb = (0 until AnnTables)
      .map(t => s"SELECT vec_id, $t AS tbl, ${bucketSql(t)} AS bucket FROM n CROSS JOIN cnt")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |cnt AS (SELECT CASE $planeCases ELSE $MaxAnnPlanes END AS planes
       |        FROM (SELECT count(*) AS nn FROM e)),
       |n AS (SELECT vec_id, v, sqrt(${dot("v", "v")}) norm FROM e),
       |kb AS ($kb),
       |pb AS (SELECT vec_id AS probe_id, tbl, bucket FROM kb WHERE vec_id < 5),
       |cand AS (SELECT DISTINCT pb.probe_id, c.vec_id
       |         FROM kb c JOIN pb ON c.tbl = pb.tbl AND c.bucket = pb.bucket
       |         WHERE c.vec_id != pb.probe_id),
       |r AS (SELECT probe_id, cand.vec_id,
       |             ${dot("a.v", "p.v")} / (a.norm * p.norm) AS cosine
       |      FROM cand
       |      JOIN n a ON a.vec_id = cand.vec_id
       |      JOIN n p ON p.vec_id = cand.probe_id),
       |rk AS (SELECT probe_id, vec_id, cosine,
       |              row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id ASC) rk
       |       FROM r)
       |SELECT probe_id, rk AS rank, vec_id AS neighbor_id, round(cosine, 4) AS cosine
       |FROM rk WHERE rk <= $AnnK""".stripMargin
  }

  private lazy val q85Sql: String =
    s"""WITH $shingleCtes,
       |hh AS (SELECT doc_id, ${strhash2Sql("s")} AS h FROM sh),
       |sig AS (SELECT doc_id, $sigMinsSql
       |        FROM hh GROUP BY doc_id),
       |bands AS (
       |  $bandsUnionSql
       |),
       |cand AS (SELECT DISTINCT a.doc_id new_doc, b.doc_id index_doc
       |         FROM bands a JOIN bands b
       |           ON a.band_id = b.band_id AND a.band_key = b.band_key
       |          AND a.doc_id % 7 = 3 AND b.doc_id % 7 != 3),
       |m AS (SELECT new_doc, index_doc, CAST($sigMatchesSql AS INT) AS n_match
       |      FROM cand
       |      JOIN sig a ON a.doc_id = new_doc
       |      JOIN sig b ON b.doc_id = index_doc)
       |SELECT new_doc, index_doc, n_match,
       |       round(CAST(n_match AS DOUBLE) / $NumPerms, 4) AS est_jaccard
       |FROM m WHERE n_match * 2 >= $NumPerms""".stripMargin

  /** q119 oracle: the identical 3 Lloyd rounds unrolled as chained
    * CTEs (q97's loop-unroll pattern). All integer arithmetic:
    * quantize+shift → per-round CROSS JOIN of the K centroids, argmin
    * by (d2, cid) row_number, per-(cluster, dim) integer mean via
    * `//` (operands non-negative, so DuckDB's `//` and Spark's `div`
    * agree), empty clusters covered by the same LEFT JOIN + coalesce.
    */
  private def kmAssignCte(n: Int, cSrc: String): String =
    s"""a$n AS MATERIALIZED (SELECT vec_id, qa, cid, d2,
       |       row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
       |FROM (SELECT q.vec_id, q.qa, c.cid,
       |             CAST(list_sum(list_transform(list_zip(q.qa, c.ca),
       |                  z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS d2
       |      FROM q CROSS JOIN $cSrc c))""".stripMargin

  private def kmUpdateCte(n: Int, prev: String): String =
    s"""s$n AS MATERIALIZED (SELECT cid, i,
       |       CAST(CAST(sum(qa[CAST(i AS INT)]) AS BIGINT) // count(*) AS BIGINT) AS coord
       |FROM (SELECT qa, cid FROM a$n WHERE rn = 1) t
       |     CROSS JOIN (SELECT unnest(range(1, ${Dims + 1})) AS i)
       |GROUP BY cid, i),
       |c$n AS MATERIALIZED (SELECT p.cid, coalesce(u.ca, p.ca) AS ca
       |FROM $prev p LEFT JOIN (SELECT cid, list(coord ORDER BY i) AS ca
       |                        FROM s$n GROUP BY cid) u USING (cid))""".stripMargin

  /** The shared Lloyd-round CTE chain (quantize -> c0 seeded by
    * `c0Filter` -> KmeansIters rounds -> final assignment CTE
    * a{KmeansIters+1}) — ONE definition of the unrolled k-means both
    * q119 and q129 nest, so the arithmetic cannot drift between them.
    */
  private def kmClusterCtes(c0Filter: String, srcTable: String = "embeddings"): String = {
    val rounds = (1 to KmeansIters)
      .map(n => kmAssignCte(n, s"c${n - 1}") + ",\n" + kmUpdateCte(n, s"c${n - 1}"))
      .mkString(",\n")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $srcTable
       |           WHERE len(embedding) > 0
       |             AND NOT EXISTS (SELECT 1 FROM unnest(embedding) AS u(x) WHERE x IS NULL)),
       |gs AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS s FROM e),
       |q AS MATERIALIZED (SELECT vec_id,
       |             CASE WHEN s = 0 THEN list_transform(v, x -> CAST(${KMeans.Shift} AS BIGINT))
       |                  ELSE list_transform(v, x -> CAST(round(127 * x / s) AS BIGINT) + ${KMeans.Shift})
       |             END AS qa
       |      FROM e CROSS JOIN gs),
       |c0 AS MATERIALIZED (SELECT vec_id AS cid, qa AS ca FROM q WHERE $c0Filter),
       |$rounds,
       |${kmAssignCte(KmeansIters + 1, s"c$KmeansIters")}""".stripMargin
  }

  /** q119 oracle: the identical 3 Lloyd rounds unrolled as chained
    * CTEs (q97's loop-unroll pattern). All integer arithmetic:
    * quantize+shift -> per-round CROSS JOIN of the K centroids, argmin
    * by (d2, cid) row_number, per-(cluster, dim) integer mean via
    * `//` (operands non-negative, so DuckDB's `//` and Spark's `div`
    * agree), empty clusters covered by the same LEFT JOIN + coalesce.
    */
  private lazy val q119Sql: String =
    s"""WITH ${kmClusterCtes(s"vec_id < $KmeansK")}
       |SELECT vec_id, cid AS cluster, d2 AS dist2
       |FROM a${KmeansIters + 1} WHERE rn = 1""".stripMargin

  private def kmD2Sql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a, $b), z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT)"

  /** The corpus-scaled k both q129 and q133 size their clustering with
    * (Spark twin: max(KmeansK, (q.count() / SemClusterTarget).toInt)).
    */
  private val kmKSub = s"(SELECT greatest($KmeansK, count(*) // $SemClusterTarget) FROM q)"

  /** The two-level CTE chain mirroring KMeans.refineTwoLevel exactly:
    * the shared coarse Lloyd chain seeded with nc = ceil(√k)
    * centroids (kmClusterCtes — CTEs e, gs, q, cN, aN, sN), fine
    * seeds = the first k vectors PINNED to their coarse cell (f0,
    * read off the coarse final-assign CTE), active cells = cells
    * holding ≥1 fine seed, each vector coarse-assigned once against
    * active cells only (vcell), then KmeansIters cell-local fine
    * Lloyd rounds (faN, fsN, fN — assign joins ON cell, argmin by
    * (d2, cid) row_number, integral-mean update, empty clusters keep
    * their centroid, cell pins never move). Final assignment CTE:
    * fa{KmeansIters+1} (rn = 1) with (vec_id, cid, d2).
    */
  private def kmTwoLevelCtes(
      kExpr: String,
      srcTable: String = "embeddings",
      rankSeeded: Boolean = false,
      multiProbe: Boolean = false
  ): String = {
    val T = KmeansIters
    def fineRound(n: Int): String =
      s"""fa$n AS MATERIALIZED (SELECT vec_id, qa, cell, cid, d2,
         |       row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
         |FROM (SELECT v.vec_id, v.qa, v.cell, f.cid, ${kmD2Sql("v.qa", "f.ca")} AS d2
         |      FROM vcell v JOIN f${n - 1} f ON f.cell = v.cell)),
         |fs$n AS MATERIALIZED (SELECT cid, i,
         |       CAST(CAST(sum(qa[CAST(i AS INT)]) AS BIGINT) // count(*) AS BIGINT) AS coord
         |FROM (SELECT qa, cid FROM fa$n WHERE rn = 1) t
         |     CROSS JOIN (SELECT unnest(range(1, ${Dims + 1})) AS i)
         |GROUP BY cid, i),
         |f$n AS MATERIALIZED (SELECT p.cid, p.cell, coalesce(u.ca, p.ca) AS ca
         |FROM f${n - 1} p LEFT JOIN (SELECT cid, list(coord ORDER BY i) AS ca
         |                        FROM fs$n GROUP BY cid) u USING (cid))""".stripMargin
    // rank seeding (mirrors KMeans.refineTwoLevelRankSeeded): seeds
    // are the m SMALLEST vec_ids PRESENT in q, not literally 0..m-1 —
    // identical on a dense-from-0 corpus, well-defined when a
    // pipeline stage upstream left holes in the id space
    def seedPred(qualifiedId: String, mExpr: String): String =
      if (rankSeeded)
        s"""$qualifiedId IN (SELECT vec_id FROM (
           |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS __rn FROM q)
           |  WHERE __rn <= $mExpr)""".stripMargin
      else s"$qualifiedId < $mExpr"
    val ncFilter = seedPred("vec_id", s"(SELECT CAST(ceil(sqrt($kExpr)) AS BIGINT) FROM q)")
    // the coarse assignment keeps the TOP-2 cells per vector (crank ≤
    // 2): crank 1 feeds the fine Lloyd rounds and the legacy
    // assignment exactly as before; crank 2 exists for the optional
    // multi-probe CTEs below (unreferenced otherwise)
    val base =
      s"""${kmClusterCtes(ncFilter, srcTable)},
         |f0 AS MATERIALIZED (SELECT a.vec_id AS cid, a.cid AS cell, a.qa AS ca
         |       FROM a${T + 1} a WHERE a.rn = 1 AND ${seedPred("a.vec_id", kExpr)}),
         |act AS (SELECT DISTINCT cell FROM f0),
         |acents AS (SELECT c.cid, c.ca FROM c$T c JOIN act ON act.cell = c.cid),
         |vcellr AS MATERIALIZED (SELECT vec_id, qa, cell, crank FROM (
         |          SELECT q.vec_id, q.qa, c.cid AS cell,
         |                 row_number() OVER (PARTITION BY q.vec_id
         |                                    ORDER BY ${kmD2Sql("q.qa", "c.ca")} ASC, c.cid ASC) AS crank
         |          FROM q CROSS JOIN acents c) WHERE crank <= 2),
         |vcell AS MATERIALIZED (SELECT vec_id, qa, cell FROM vcellr WHERE crank = 1),
         |${(1 to T).map(fineRound).mkString(",\n")},
         |fa${T + 1} AS MATERIALIZED (SELECT vec_id, qa, cell, cid, d2,
         |       row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
         |FROM (SELECT v.vec_id, v.qa, v.cell, f.cid, ${kmD2Sql("v.qa", "f.ca")} AS d2
         |      FROM vcell v JOIN f$T f ON f.cell = v.cell))""".stripMargin
    if (!multiProbe) base
    else
      // MULTI-PROBE probe rows (the KMeans.assignMultiProbe twin):
      // probe 1 = the legacy assignment (fa rn=1); probe 2 = the
      // nearest DIFFERENT fine centroid among the union of the two
      // nearest coarse cells' fine centroids (uc = candidates over
      // crank ≤ 2, argmin excluding the primary cid)
      base +
        s""",
           |uc AS MATERIALIZED (SELECT v.vec_id, f.cid, ${kmD2Sql("v.qa", "f.ca")} AS d2
           |       FROM vcellr v JOIN f$T f ON f.cell = v.cell),
           |prim AS (SELECT vec_id, cid FROM fa${T + 1} WHERE rn = 1),
           |sec AS (SELECT vec_id, cid FROM (
           |          SELECT u.vec_id, u.cid,
           |                 row_number() OVER (PARTITION BY u.vec_id ORDER BY u.d2 ASC, u.cid ASC) AS srn
           |          FROM uc u JOIN prim p ON p.vec_id = u.vec_id AND u.cid <> p.cid)
           |        WHERE srn = 1),
           |probes AS (SELECT vec_id, CAST(1 AS BIGINT) AS probe, cid AS cluster FROM prim
           |           UNION ALL
           |           SELECT vec_id, CAST(2 AS BIGINT) AS probe, cid AS cluster FROM sec)""".stripMargin
  }

  /** q129 oracle: the two-level Lloyd chain with the DYNAMIC seed
    * count k = greatest(KmeansK, N // SemClusterTarget) (the Spark
    * side computes the same k from the same count), then the SemDeDup
    * drop rule from first principles: centered integer dot/norms per
    * pair within a cluster, tau=2/5 compared as 25*dot^2 >=
    * 4*|a|^2*|b|^2 with dot > 0 — all-BIGINT exact.
    */
  /** The SemDeDup prune CTEs shared by q129 and q138: final fine
    * assignment → centered norms (asg) → the τ-drop pair rule
    * (dropped) — the SQL twin of semDedupOutput. `survSrc` (q138)
    * restricts the PAIR SET to a survivor id list first (`sasg` —
    * the pipeline prunes within the ingest-time full-corpus clusters
    * but only among docs its earlier stages kept); the drop rule
    * itself is identical.
    */
  /** The SemDeDup prune CTEs shared by q129 and q138 — MULTI-PROBE
    * since round 15: `asg` (the PRIMARY assignment + centered norms,
    * what the output stitch reads) and `pasg` (one row per PROBE from
    * the `probes` CTE — kmTwoLevelCtes(multiProbe = true) — the pair
    * source: a vector is dropped when an earlier vector sharing ANY
    * probe cell is τ-similar). `survSrc` (q138) restricts BOTH to a
    * survivor id list first (`sasg`/`spasg`).
    */
  private def semAsgDropCtes(survSrc: Option[String] = None): String = {
    val n2 =
      s"CAST(list_sum(list_transform(q.qa, x -> (x - ${KMeans.Shift}) * (x - ${KMeans.Shift}))) AS BIGINT)"
    val asg =
      s"""asg AS (SELECT a.vec_id, a.cid AS cluster, q.qa, $n2 AS n2
         |        FROM (SELECT vec_id, cid FROM fa${KmeansIters + 1} WHERE rn = 1) a JOIN q USING (vec_id)),
         |pasg AS (SELECT p.vec_id, p.cluster, q.qa, $n2 AS n2
         |         FROM probes p JOIN q USING (vec_id))""".stripMargin
    val (pairSrc, filterCte) = survSrc match {
      case None => ("pasg", "")
      case Some(sv) =>
        (
          "spasg",
          s""",
             |sasg AS (SELECT a.vec_id, a.cluster, a.qa, a.n2
             |         FROM asg a JOIN $sv s ON s.doc_id = a.vec_id),
             |spasg AS (SELECT a.vec_id, a.cluster, a.qa, a.n2
             |          FROM pasg a JOIN $sv s ON s.doc_id = a.vec_id)""".stripMargin
        )
    }
    s"""$asg$filterCte,
       |dropped AS (SELECT DISTINCT b.vec_id
       |            FROM $pairSrc a JOIN $pairSrc b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |            WHERE CAST(list_sum(list_transform(list_zip(a.qa, b.qa),
       |                    z -> (z[1] - ${KMeans.Shift}) * (z[2] - ${KMeans.Shift}))) AS BIGINT) > 0
       |              AND ${SemDedupTauDen * SemDedupTauDen} *
       |                  CAST(list_sum(list_transform(list_zip(a.qa, b.qa),
       |                    z -> (z[1] - ${KMeans.Shift}) * (z[2] - ${KMeans.Shift}))) AS BIGINT) *
       |                  CAST(list_sum(list_transform(list_zip(a.qa, b.qa),
       |                    z -> (z[1] - ${KMeans.Shift}) * (z[2] - ${KMeans.Shift}))) AS BIGINT)
       |                  >= ${SemDedupTauNum * SemDedupTauNum} * a.n2 * b.n2)""".stripMargin
  }

  private lazy val q129Sql: String =
    s"""WITH ${kmTwoLevelCtes(kmKSub, multiProbe = true)},
       |${semAsgDropCtes()}
       |SELECT asg.vec_id, asg.cluster, (d.vec_id IS NULL) AS kept
       |FROM asg LEFT JOIN dropped d ON d.vec_id = asg.vec_id""".stripMargin

  private lazy val q126Sql: String =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '${graft.text.TextFunctions.WsRun}') AS tk
         |           FROM documents),
         |b AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, tk FROM t),
         |g0 AS (SELECT doc_id,
         |              unnest(list_transform(range(1, CAST(n_tokens AS INT) - $SubstrGramLen + 2),
         |                     i -> struct_pack(pos := i, s := array_to_string(tk[i:i+${SubstrGramLen - 1}], ' ')))) AS g
         |       FROM b WHERE n_tokens >= $SubstrGramLen),
         |g AS (SELECT doc_id, g.pos AS pos, ${strhash2Sql("(g.s)")} AS h FROM g0),
         |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
         |dp AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
         |ng AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_grams FROM dp GROUP BY doc_id),
         |cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_tokens
         |        FROM (SELECT DISTINCT doc_id, pos + o AS idx
         |              FROM dp CROSS JOIN (SELECT unnest(range(0, $SubstrGramLen)) AS o))
         |        GROUP BY doc_id)
         |SELECT b.doc_id, b.n_tokens,
         |       CAST(coalesce(ng.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
         |       CAST(coalesce(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens
         |FROM b LEFT JOIN ng USING (doc_id) LEFT JOIN cov USING (doc_id)""".stripMargin

  /** q122 oracle: the same quantize CTE as q119, subvector slicing via
    * 1-based inclusive list ranges, per-(vec, subspace) argmin by
    * row_number, winners pivoted back to code columns in one group.
    */
  private lazy val q122Sql: String = {
    val codeCols = (0 until PqSubspaces)
      .map(s => s"CAST(min(CASE WHEN s = $s THEN code_id END) AS BIGINT) AS code_$s")
      .mkString(",\n|       ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE len(embedding) > 0
       |             AND NOT EXISTS (SELECT 1 FROM unnest(embedding) AS u(x) WHERE x IS NULL)),
       |gs AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS s FROM e),
       |q AS (SELECT vec_id,
       |             CASE WHEN s = 0 THEN list_transform(v, x -> CAST(${KMeans.Shift} AS BIGINT))
       |                  ELSE list_transform(v, x -> CAST(round(127 * x / s) AS BIGINT) + ${KMeans.Shift})
       |             END AS qa
       |      FROM e CROSS JOIN gs),
       |ss AS (SELECT unnest(range(0, $PqSubspaces)) AS s),
       |sub AS (SELECT vec_id, s, qa[CAST($PqSubDim * s + 1 AS INT) : CAST($PqSubDim * s + $PqSubDim AS INT)] AS sv
       |        FROM q CROSS JOIN ss),
       |cb AS (SELECT vec_id AS code_id, s,
       |              qa[CAST($PqSubDim * s + 1 AS INT) : CAST($PqSubDim * s + $PqSubDim AS INT)] AS cv
       |       FROM q CROSS JOIN ss WHERE vec_id < $PqCodewords),
       |d AS (SELECT sub.vec_id, sub.s, cb.code_id,
       |             CAST(list_sum(list_transform(list_zip(sub.sv, cb.cv),
       |                  z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS d2
       |      FROM sub JOIN cb USING (s)),
       |w AS (SELECT vec_id, s, code_id, d2,
       |             row_number() OVER (PARTITION BY vec_id, s ORDER BY d2 ASC, code_id ASC) AS rn
       |      FROM d)
       |SELECT vec_id,
       |       $codeCols,
       |       CAST(sum(d2) AS BIGINT) AS recon_d2
       |FROM w WHERE rn = 1 GROUP BY vec_id""".stripMargin
  }

  /** q123 oracle: q122's quantize/sub/cb/d CTEs verbatim; the probes'
    * distance tables are `d` restricted to probe ids, codes are the
    * per-(vec, subspace) argmin, adc re-joins codes to the probe
    * tables on (s, code_id), rank = row_number over (adc_d2, vec_id).
    */
  private lazy val q123Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE len(embedding) > 0
       |             AND NOT EXISTS (SELECT 1 FROM unnest(embedding) AS u(x) WHERE x IS NULL)),
       |gs AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS s FROM e),
       |q AS (SELECT vec_id,
       |             CASE WHEN s = 0 THEN list_transform(v, x -> CAST(${KMeans.Shift} AS BIGINT))
       |                  ELSE list_transform(v, x -> CAST(round(127 * x / s) AS BIGINT) + ${KMeans.Shift})
       |             END AS qa
       |      FROM e CROSS JOIN gs),
       |ss AS (SELECT unnest(range(0, $PqSubspaces)) AS s),
       |sub AS (SELECT vec_id, s, qa[CAST($PqSubDim * s + 1 AS INT) : CAST($PqSubDim * s + $PqSubDim AS INT)] AS sv
       |        FROM q CROSS JOIN ss),
       |cb AS (SELECT vec_id AS code_id, s,
       |              qa[CAST($PqSubDim * s + 1 AS INT) : CAST($PqSubDim * s + $PqSubDim AS INT)] AS cv
       |       FROM q CROSS JOIN ss WHERE vec_id < $PqCodewords),
       |d AS (SELECT sub.vec_id, sub.s, cb.code_id,
       |             CAST(list_sum(list_transform(list_zip(sub.sv, cb.cv),
       |                  z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS d2
       |      FROM sub JOIN cb USING (s)),
       |codes AS (SELECT vec_id, s, code_id FROM (
       |            SELECT vec_id, s, code_id,
       |                   row_number() OVER (PARTITION BY vec_id, s ORDER BY d2 ASC, code_id ASC) AS rn
       |            FROM d) WHERE rn = 1),
       |adc AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |               CAST(sum(p.d2) AS BIGINT) AS adc_d2
       |        FROM codes c JOIN d p ON p.s = c.s AND p.code_id = c.code_id
       |        WHERE p.vec_id < 5 AND c.vec_id <> p.vec_id
       |        GROUP BY 1, 2),
       |r AS (SELECT probe_id, neighbor_id, adc_d2,
       |             row_number() OVER (PARTITION BY probe_id ORDER BY adc_d2 ASC, neighbor_id ASC) AS rank
       |      FROM adc)
       |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adc_d2
       |FROM r WHERE rank <= $AnnK""".stripMargin

  /** q125 oracle: q123's quantize/sub/cb/d/codes CTEs, plus the coarse
    * cell argmin for every vector (cells) and each probe's nprobe
    * cells (pcells); ADC candidates are restricted to probed cells,
    * the rerank-sized shortlist ranks by (adc_d2, neighbor_id), and
    * the final rank is the exact integer d2 recomputed from the
    * quantized vectors — the same refine stage as the engine.
    */
  private lazy val q125Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE len(embedding) > 0
       |             AND NOT EXISTS (SELECT 1 FROM unnest(embedding) AS u(x) WHERE x IS NULL)),
       |gs AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS s FROM e),
       |q AS (SELECT vec_id,
       |             CASE WHEN s = 0 THEN list_transform(v, x -> CAST(${KMeans.Shift} AS BIGINT))
       |                  ELSE list_transform(v, x -> CAST(round(127 * x / s) AS BIGINT) + ${KMeans.Shift})
       |             END AS qa
       |      FROM e CROSS JOIN gs),
       |ss AS (SELECT unnest(range(0, $PqSubspaces)) AS s),
       |sub AS (SELECT vec_id, s, qa[CAST($PqSubDim * s + 1 AS INT) : CAST($PqSubDim * s + $PqSubDim AS INT)] AS sv
       |        FROM q CROSS JOIN ss),
       |cb AS (SELECT vec_id AS code_id, s,
       |              qa[CAST($PqSubDim * s + 1 AS INT) : CAST($PqSubDim * s + $PqSubDim AS INT)] AS cv
       |       FROM q CROSS JOIN ss WHERE vec_id < $PqCodewords),
       |d AS (SELECT sub.vec_id, sub.s, cb.code_id,
       |             CAST(list_sum(list_transform(list_zip(sub.sv, cb.cv),
       |                  z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS d2
       |      FROM sub JOIN cb USING (s)),
       |codes AS (SELECT vec_id, s, code_id FROM (
       |            SELECT vec_id, s, code_id,
       |                   row_number() OVER (PARTITION BY vec_id, s ORDER BY d2 ASC, code_id ASC) AS rn
       |            FROM d) WHERE rn = 1),
       |celld AS (SELECT a.vec_id, c.vec_id AS cent_id,
       |                 CAST(list_sum(list_transform(list_zip(a.qa, c.qa),
       |                      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS d2
       |          FROM q a CROSS JOIN q c WHERE c.vec_id < $IvfPqCells),
       |cells AS (SELECT vec_id, cent_id AS cell FROM (
       |            SELECT vec_id, cent_id,
       |                   row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cent_id ASC) AS rn
       |            FROM celld) WHERE rn = 1),
       |pcells AS (SELECT vec_id AS probe_id, cent_id AS cell FROM (
       |             SELECT vec_id, cent_id,
       |                    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cent_id ASC) AS rn
       |             FROM celld WHERE vec_id < 5) WHERE rn <= $IvfPqNprobe),
       |adc AS (SELECT pc.probe_id, c.vec_id AS neighbor_id, CAST(sum(pd.d2) AS BIGINT) AS adc_d2
       |        FROM codes c
       |        JOIN cells ce ON ce.vec_id = c.vec_id
       |        JOIN pcells pc ON pc.cell = ce.cell
       |        JOIN d pd ON pd.vec_id = pc.probe_id AND pd.s = c.s AND pd.code_id = c.code_id
       |        WHERE c.vec_id <> pc.probe_id
       |        GROUP BY 1, 2),
       |sl AS (SELECT probe_id, neighbor_id FROM (
       |         SELECT probe_id, neighbor_id,
       |                row_number() OVER (PARTITION BY probe_id ORDER BY adc_d2 ASC, neighbor_id ASC) AS rn
       |         FROM adc) WHERE rn <= $IvfPqRerank),
       |re AS (SELECT sl.probe_id, sl.neighbor_id,
       |              CAST(list_sum(list_transform(list_zip(nq.qa, pq.qa),
       |                   z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS exact_d2
       |       FROM sl JOIN q nq ON nq.vec_id = sl.neighbor_id
       |               JOIN q pq ON pq.vec_id = sl.probe_id),
       |r AS (SELECT probe_id, neighbor_id, exact_d2,
       |             row_number() OVER (PARTITION BY probe_id ORDER BY exact_d2 ASC, neighbor_id ASC) AS rank
       |      FROM re)
       |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, exact_d2
       |FROM r WHERE rank <= $AnnK""".stripMargin

  def oracle: Map[String, String] = Map(
    "q119_kmeans_refine" -> q119Sql,
    "q122_pq_encode" -> q122Sql,
    "q123_pq_adc_topk" -> q123Sql,
    "q125_ivfpq_topk" -> q125Sql,
    "q89_segment_dedup" ->
      s"""WITH w AS (SELECT doc_id, string_split_regex(trim(text), '${graft.text.TextFunctions.WsRun}') AS w FROM documents),
         |base AS (SELECT doc_id, CAST(ceil(len(w) / $SegWords.0) AS BIGINT) AS n_segs, w FROM w),
         |idx AS (SELECT doc_id, w, unnest(range(0, CAST(ceil(len(w) / $SegWords.0) AS BIGINT))) AS i FROM base),
         |segs AS (SELECT doc_id, i AS seg_idx,
         |                array_to_string(list_slice(w, CAST(i AS INT) * $SegWords + 1,
         |                                              CAST(i AS INT) * $SegWords + $SegWords), ' ') AS seg
         |         FROM idx),
         |win AS (SELECT doc_id, seg_idx, seg,
         |               row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
         |        FROM segs),
         |kept AS (SELECT doc_id, count(*) AS n_kept,
         |                md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS kept_md5
         |         FROM win WHERE rn = 1 GROUP BY doc_id)
         |SELECT b.doc_id, b.n_segs,
         |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
         |       coalesce(k.kept_md5, md5('')) AS kept_md5
         |FROM base b LEFT JOIN kept k USING (doc_id)""".stripMargin,
    "q90_prefix_containment" ->
      s"""WITH d0 AS (SELECT doc_id, text, substr(text, 1, $PrefixBlockChars) AS blk
         |            FROM documents WHERE len(text) >= $PrefixBlockChars),
         |hot AS (SELECT blk FROM d0 GROUP BY blk HAVING count(*) > $PrefixBlockCap),
         |d AS (SELECT * FROM d0 WHERE blk NOT IN (SELECT blk FROM hot))
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |       CAST(len(a.text) AS BIGINT) AS a_len, CAST(len(b.text) AS BIGINT) AS b_len
         |FROM d a JOIN d b
         |  ON a.blk = b.blk
         | AND len(b.text) > len(a.text)
         | AND starts_with(b.text, a.text)""".stripMargin,
    "q95_editdist_neardup" ->
      s"""WITH $shingleCtes,
         |pairs AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) inter
         |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |cand AS (SELECT * FROM pairs WHERE inter >= $EditMinSharedShingles)
         |SELECT doc_a, doc_b, inter,
         |       CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist
         |FROM cand JOIN documents da ON da.doc_id = doc_a
         |          JOIN documents db ON db.doc_id = doc_b
         |WHERE levenshtein(da.text, db.text) * $EditDistDenom <= greatest(len(da.text), len(db.text))""".stripMargin,
    "q85_incremental_dedup" -> q85Sql,
    // identical semantics to q85 — the bucketed index changes the
    // physical plan, never the candidate set
    "q87_bucketed_index_dedup" -> q85Sql,
    "q81_embed_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
        |           WHERE len(embedding) > 0 AND len(list_filter(embedding, x -> x IS NULL)) = 0),
        |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM e)
        |SELECT vec_id, round(scale, 6) AS scale,
        |       CASE WHEN scale = 0 THEN 0
        |            ELSE CAST(list_sum(list_transform(v, x -> CAST(round(127 * x / scale, 0) AS BIGINT))) AS BIGINT)
        |       END AS q_sum,
        |       CASE WHEN scale = 0 THEN 0
        |            ELSE CAST(list_min(list_transform(v, x -> CAST(round(127 * x / scale, 0) AS BIGINT))) AS BIGINT)
        |       END AS q_min,
        |       CASE WHEN scale = 0 THEN 0
        |            ELSE CAST(list_max(list_transform(v, x -> CAST(round(127 * x / scale, 0) AS BIGINT))) AS BIGINT)
        |       END AS q_max
        |FROM s""".stripMargin,
    "q82_knn_join" -> q82Sql,
    // q134 oracle: the q31 and q32 oracles nested verbatim,
    // intersected on the ordered pair.
    "q134_dedup_eval" ->
      s"""WITH x AS ($q31Sql),
         |a AS ($q32Sql),
         |h AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
         |      FROM x JOIN a ON a.doc_a = x.doc_a AND a.doc_b = x.doc_b),
         |nx AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM x),
         |na AS (SELECT CAST(count(*) AS BIGINT) AS n_approx FROM a)
         |SELECT nx.n_exact, na.n_approx, h.n_hit,
         |       round(CAST(h.n_hit AS DOUBLE) / nullif(na.n_approx, 0), 4) AS precision,
         |       round(CAST(h.n_hit AS DOUBLE) / nullif(nx.n_exact, 0), 4) AS recall
         |FROM nx CROSS JOIN na CROSS JOIN h""".stripMargin,
    // q133 oracle: the shared two-level Lloyd chain with q129's
    // dynamic seed count, within-cell pairs ranked by exact integer
    // L2² (row_number over (d2, id)), labels joined onto the neighbor
    // list, majority vote as arg_max over (cnt, -label) — max count,
    // then smallest label, the q113 struct-ordering pattern (HUGEINT
    // negation is exact for any BIGINT label).
    "q133_knn_classify" ->
      s"""WITH ${kmTwoLevelCtes(kmKSub)},
         |asg AS (SELECT a.vec_id, a.cid AS cluster, q.qa
         |        FROM (SELECT vec_id, cid FROM fa${KmeansIters + 1} WHERE rn = 1) a JOIN q USING (vec_id)),
         |knn AS (SELECT vec_id, neighbor_id FROM (
         |          SELECT a.vec_id, b.vec_id AS neighbor_id,
         |                 row_number() OVER (PARTITION BY a.vec_id
         |                                    ORDER BY CAST(list_sum(list_transform(list_zip(a.qa, b.qa),
         |                                             z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) ASC,
         |                                             b.vec_id ASC) AS rk
         |          FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id != b.vec_id)
         |        WHERE rk <= $KnnK),
         |lab AS (SELECT vec_id, label FROM embeddings),
         |votes AS (SELECT knn.vec_id, lab.label AS nl, CAST(count(*) AS BIGINT) AS cnt
         |          FROM knn JOIN lab ON lab.vec_id = knn.neighbor_id
         |          GROUP BY 1, 2),
         |pred AS (SELECT vec_id, arg_max(nl, CAST(cnt AS HUGEINT) * 18446744073709551616 - nl) AS pred
         |         FROM votes GROUP BY vec_id)
         |SELECT l.vec_id, l.label, p.pred, (p.pred = l.label) AS correct
         |FROM lab l LEFT JOIN pred p ON p.vec_id = l.vec_id""".stripMargin,
    "q66_minhash_est" -> q66Sql,
    "q108_containment_est" -> q108Sql,
    "q36_ann_lsh" -> q36Sql,
    "q30_dedup_text_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q31_dedup_ngram_jaccard" -> q31Sql,
    "q32_dedup_minhash_lsh" -> q32Sql,
    "q33_dedup_simhash" -> q33Sql,
    "q55_dup_clusters" ->
      s"""WITH RECURSIVE p AS ($q31Sql),
         |e AS (SELECT doc_a a, doc_b b FROM p UNION SELECT doc_b, doc_a FROM p),
         |reach AS (SELECT a, b FROM e
         |          UNION
         |          SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)
         |SELECT a AS doc_id, least(a, min(b)) AS cluster FROM reach GROUP BY a""".stripMargin,
    "q113_cluster_winner" ->
      s"""WITH RECURSIVE p AS ($q31Sql),
         |e AS (SELECT doc_a a, doc_b b FROM p UNION SELECT doc_b, doc_a FROM p),
         |reach AS (SELECT a, b FROM e
         |          UNION
         |          SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
         |c AS (SELECT a AS doc_id, least(a, min(b)) AS cluster FROM reach GROUP BY a),
         |f AS (SELECT doc_id,
         |             CAST(least(n_chars, 400) AS BIGINT) AS len_capped,
         |             CAST(len(string_split_regex(trim(text), '${graft.text.TextFunctions.WsRun}')) AS BIGINT) AS n_tokens,
         |             CAST(len(regexp_extract_all(text, '\\b(the|a|and|of|to|in|is)\\b')) AS BIGINT) AS stop_hits,
         |             CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS punct_hits,
         |             CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS digit_hits
         |      FROM documents),
         |sc AS (SELECT doc_id,
         |              CAST(${graft.etl.LinearModel.scoreBpSql(
           graft.queries.TrainingQueries.QualityBiasBp,
           graft.queries.TrainingQueries.QualityWeightsBp
         )} AS BIGINT) AS score_bp
         |       FROM f)
         |SELECT cluster,
         |       arg_max(c.doc_id, CAST(score_bp AS HUGEINT) * 18446744073709551616 - c.doc_id) AS winner_doc,
         |       max(score_bp) AS winner_score_bp,
         |       count(*) AS n_members,
         |       count(*) - 1 AS n_discarded
         |FROM c JOIN sc USING (doc_id) GROUP BY cluster""".stripMargin,
    "q34_dedup_embedding" -> q34Sql,
    // identical semantics to q50 — the persisted partitioned index
    // changes the physical read, never the candidate set or ranking
    "q107_ann_ivf_index" -> q50Sql,
    "q50_ann_ivf" -> q50Sql,
    "q140_hybrid_retrieval" -> q140Sql,
    "q141_retrieval_eval" -> q141Sql,
    "q35_ann_bruteforce" -> q35Sql,
    // q128 oracle: the q35 and q50 oracles verbatim as nested-WITH
    // derived tables, intersected on (probe_id, neighbor_id) — the
    // recall definition, computed from first principles on both sides.
    "q128_ann_recall" ->
      s"""WITH x AS ($q35Sql),
         |a AS ($q50Sql),
         |h AS (SELECT x.probe_id, CAST(count(*) AS BIGINT) AS n_hits
         |      FROM x JOIN a ON a.probe_id = x.probe_id AND a.neighbor_id = x.neighbor_id
         |      GROUP BY x.probe_id),
         |nx AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_exact FROM x GROUP BY probe_id)
         |SELECT nx.probe_id, nx.n_exact,
         |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |       round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / $AnnK, 4) AS recall
         |FROM nx LEFT JOIN h USING (probe_id)""".stripMargin,
    "q100_tfidf_pairs" ->
      s"""WITH toks AS (SELECT doc_id AS id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |              FROM documents),
         |tf AS (SELECT id, w, count(*) AS n_tw FROM toks GROUP BY id, w),
         |dft AS (SELECT w, count(*) AS df FROM tf GROUP BY w HAVING count(*) <= $TfidfDfCap),
         |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         |wts AS (SELECT tf.id, tf.w,
         |               CAST(tf.n_tw AS DOUBLE)
         |                 * (ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)) + 1.0) AS v
         |        FROM tf JOIN dft USING (w) CROSS JOIN nd),
         |nrm AS (SELECT id, sqrt(sum(v * v)) AS nrm FROM wts GROUP BY id),
         |dots AS (SELECT a.id AS id_a, b.id AS id_b, sum(a.v * b.v) AS dot
         |         FROM wts a JOIN wts b ON a.w = b.w AND a.id < b.id
         |         GROUP BY a.id, b.id)
         |SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 4) AS cos
         |FROM dots
         |JOIN nrm na ON na.id = dots.id_a
         |JOIN nrm nb ON nb.id = dots.id_b
         |WHERE round(dot / (na.nrm * nb.nrm), 4) >= $TfidfCosThreshold""".stripMargin,
    "q101_cms_est" -> q101Sql,
    "q129_semantic_dedup" -> q129Sql,
    // q142: the full-corpus two-level chain (the same partition the
    // engine reads from the persisted CellIndex) + per-cluster
    // occupancy arithmetic in integer basis points
    "q142_cell_occupancy" ->
      s"""WITH ${kmTwoLevelCtes(kmKSub)},
         |asg AS (SELECT vec_id, cid FROM fa${KmeansIters + 1} WHERE rn = 1)
         |SELECT cid AS cluster,
         |       CAST(count(*) AS BIGINT) AS n_vecs,
         |       (CAST(count(*) AS BIGINT) * 10000) // $SemClusterTarget AS occ_bp,
         |       CAST(count(*) AS BIGINT) > ${2 * SemClusterTarget} AS over_2x_target
         |FROM asg GROUP BY cid""".stripMargin,
    // q137 oracle: the shared quantize CTE, per-(cohort, dim) integer
    // means via the q119 updateCte pattern, global means the same
    // way, L2² between the centroid lists.
    "q137_embedding_drift" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |           WHERE len(embedding) > 0
         |             AND NOT EXISTS (SELECT 1 FROM unnest(embedding) AS u(x) WHERE x IS NULL)),
         |gs AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS s FROM e),
         |q AS (SELECT vec_id,
         |             CASE WHEN s = 0 THEN list_transform(v, x -> CAST(${KMeans.Shift} AS BIGINT))
         |                  ELSE list_transform(v, x -> CAST(round(127 * x / s) AS BIGINT) + ${KMeans.Shift})
         |             END AS qa
         |      FROM e CROSS JOIN gs),
         |j AS (SELECT q.vec_id, q.qa, emb.label
         |      FROM q JOIN embeddings emb ON emb.vec_id = q.vec_id),
         |lc AS (SELECT label, i,
         |              CAST(CAST(sum(qa[CAST(i AS INT)]) AS BIGINT) // count(*) AS BIGINT) AS coord,
         |              count(*) AS n
         |       FROM j CROSS JOIN (SELECT unnest(range(1, ${Dims + 1})) AS i)
         |       GROUP BY label, i),
         |lcent AS (SELECT label, CAST(max(n) AS BIGINT) AS n_vecs, list(coord ORDER BY i) AS ca
         |          FROM lc GROUP BY label),
         |gc AS (SELECT i, CAST(CAST(sum(qa[CAST(i AS INT)]) AS BIGINT) // count(*) AS BIGINT) AS coord
         |       FROM j CROSS JOIN (SELECT unnest(range(1, ${Dims + 1})) AS i)
         |       GROUP BY i),
         |gcent AS (SELECT list(coord ORDER BY i) AS ga FROM gc)
         |SELECT label, n_vecs,
         |       CAST(list_sum(list_transform(list_zip(ca, ga),
         |            z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS drift_d2
         |FROM lcent CROSS JOIN gcent""".stripMargin,
    // q126 oracle: windows + positions via correlated unnest, the same
    // strhash2 twin as the MinHash family, and span coverage by
    // exploding each marked window to its k covered indices and
    // DISTINCT-counting — a different (quadratic-in-k but obviously
    // correct) formulation of the same union size the Scala fold
    // computes.
    "q126_substring_dedup" -> q126Sql,

    // q135 oracle: the q126 oracle nested verbatim, source joined on,
    // one rollup with the bp fraction via `//` (non-negative operands
    // — agrees with Spark's div).
    "q135_dup_by_source" ->
      s"""WITH perdoc AS ($q126Sql),
         |j AS (SELECT p.*, d.source FROM perdoc p JOIN documents d USING (doc_id))
         |SELECT source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(*) FILTER (dup_tokens > 0) AS BIGINT) AS dup_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |       CAST(sum(dup_tokens) AS BIGINT) AS dup_tokens,
         |       CAST((CAST(sum(dup_tokens) AS BIGINT) * 10000) // CAST(sum(n_tokens) AS BIGINT) AS BIGINT) AS dup_frac_bp
         |FROM j GROUP BY source""".stripMargin,
    // q130 oracle: q126's marking CTEs, then token explode, anti-join
    // on covered indices, and order-preserving list reassembly.
    "q130_substring_clean" ->
      s"""WITH ${substrCleanCtes("documents")}
         |SELECT b.doc_id, b.n_tokens,
         |       CAST(coalesce(cl.kept_tokens, 0) AS BIGINT) AS kept_tokens,
         |       coalesce(cl.clean_text, '') AS clean_text
         |FROM b LEFT JOIN cl USING (doc_id)""".stripMargin,
    // q138 oracle: the three stage oracles NESTED in composition
    // order — q30's md5 keep rule (m/kp/s1), the q130 span-surgery
    // CTEs over the survivor corpus (substrCleanCtes("surv1")), then
    // q129's FULL-CORPUS two-level k-means chain (the shared
    // ingest-time partition — identical CTEs to q129's oracle) with
    // the τ-prune pair set restricted to the stage-1/2 survivors
    // (semAsgDropCtes(Some("surv2")) → sasg); the final stitch
    // assigns each input doc its terminal stage exactly as the Spark
    // CASE does, with clusters reported only for stage-3
    // participants.
    "q138_dedup_pipeline" ->
      s"""WITH m AS (SELECT doc_id, md5(text) AS text_md5, text FROM documents),
         |kp AS (SELECT text_md5, min(doc_id) AS keep_id FROM m GROUP BY text_md5),
         |stage1 AS (SELECT m.doc_id, m.text, (m.doc_id <> kp.keep_id) AS exact_dup
         |       FROM m JOIN kp USING (text_md5)),
         |surv1 AS (SELECT doc_id, text FROM stage1 WHERE NOT exact_dup),
         |${substrCleanCtes("surv1")},
         |st2 AS (SELECT b.doc_id, b.n_tokens,
         |               CAST(coalesce(cl.kept_tokens, 0) AS BIGINT) AS kept_tokens
         |        FROM b LEFT JOIN cl USING (doc_id)),
         |surv2 AS (SELECT doc_id FROM st2 WHERE kept_tokens > 0),
         |${kmTwoLevelCtes(kmKSub, multiProbe = true)},
         |${semAsgDropCtes(Some("surv2"))}
         |SELECT stage1.doc_id,
         |       CASE WHEN stage1.exact_dup THEN 'exact'
         |            WHEN st2.kept_tokens = 0 THEN 'span_empty'
         |            WHEN dr.vec_id IS NOT NULL THEN 'semantic'
         |            ELSE 'kept' END AS stage,
         |       st2.n_tokens, st2.kept_tokens, a.cluster
         |FROM stage1 LEFT JOIN st2 USING (doc_id)
         |        LEFT JOIN sasg a ON a.vec_id = stage1.doc_id
         |        LEFT JOIN dropped dr ON dr.vec_id = stage1.doc_id""".stripMargin
  )

  /** The q126/q130 span-surgery CTE chain (tokenize → gram-hash →
    * corpus-wide dup marking → coverage → token anti-join →
    * order-preserving reassembly), parameterized by the source
    * relation so the q138 pipeline can run it over the exact-dedup
    * SURVIVOR corpus. Yields CTEs t, b, g0, g, dup, dp, cov, tok,
    * kept, cl; callers select from b/cl.
    */
  private def substrCleanCtes(src: String): String =
    s"""t AS (SELECT doc_id, string_split_regex(trim(text), '${graft.text.TextFunctions.WsRun}') AS tk
       |           FROM $src),
       |b AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, tk FROM t),
       |g0 AS (SELECT doc_id,
       |              unnest(list_transform(range(1, CAST(n_tokens AS INT) - $SubstrGramLen + 2),
       |                     i -> struct_pack(pos := i, s := array_to_string(tk[i:i+${SubstrGramLen - 1}], ' ')))) AS g
       |       FROM b WHERE n_tokens >= $SubstrGramLen),
       |g AS (SELECT doc_id, g.pos AS pos, ${strhash2Sql("(g.s)")} AS h FROM g0),
       |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
       |dp AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
       |cov AS (SELECT DISTINCT doc_id, pos + o AS idx
       |        FROM dp CROSS JOIN (SELECT unnest(range(0, $SubstrGramLen)) AS o)),
       |tok AS (SELECT doc_id, u.idx AS idx, u.tok AS tok
       |        FROM (SELECT doc_id,
       |                     unnest(list_transform(range(1, CAST(n_tokens AS INT) + 1),
       |                            i -> struct_pack(idx := i, tok := tk[CAST(i AS INT)]))) AS u
       |              FROM b)),
       |kept AS (SELECT tok.doc_id, tok.idx, tok.tok
       |         FROM tok LEFT JOIN cov ON cov.doc_id = tok.doc_id AND cov.idx = tok.idx
       |         WHERE cov.idx IS NULL),
       |cl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
       |              array_to_string(list(tok ORDER BY idx), ' ') AS clean_text
       |       FROM kept GROUP BY doc_id)""".stripMargin

  /** q82 oracle: the q133 cell partition (kmTwoLevelCtes + asg), the
    * label joined on, and the within-(cell × label) pair ranking by
    * exact integer L2² — all-BIGINT, ties by id.
    */
  private lazy val q82Sql: String =
    s"""WITH ${kmTwoLevelCtes(kmKSub)},
       |asg AS (SELECT a.vec_id, a.cid AS cluster, q.qa
       |        FROM (SELECT vec_id, cid FROM fa${KmeansIters + 1} WHERE rn = 1) a JOIN q USING (vec_id)),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |al AS (SELECT asg.vec_id, asg.cluster, asg.qa, lab.label FROM asg JOIN lab USING (vec_id)),
       |knn AS (SELECT a.vec_id, b.vec_id AS neighbor_id, ${kmD2Sql("a.qa", "b.qa")} AS d2
       |        FROM al a JOIN al b
       |          ON a.cluster = b.cluster AND a.label = b.label AND a.vec_id <> b.vec_id),
       |r AS (SELECT vec_id, neighbor_id, d2,
       |             row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, neighbor_id ASC) AS rank
       |      FROM knn)
       |SELECT vec_id, rank, neighbor_id, d2 FROM r WHERE rank <= $KnnK""".stripMargin

  private lazy val q35Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(${dot("v", "v")}) norm FROM e),
       |p AS (SELECT vec_id probe_id, v pv, norm pnorm FROM n WHERE vec_id < 5),
       |c AS (SELECT probe_id, vec_id,
       |             ${dot("v", "pv")} / (norm * pnorm) cosine
       |      FROM n CROSS JOIN p WHERE vec_id != probe_id),
       |r AS (SELECT probe_id, vec_id, cosine,
       |             row_number() OVER (PARTITION BY probe_id
       |                                ORDER BY cosine DESC, vec_id ASC) rk
       |      FROM c)
       |SELECT probe_id, rk AS rank, vec_id AS neighbor_id, round(cosine, 4) AS cosine
       |FROM r WHERE rk <= $AnnK""".stripMargin

  /** q140 oracle: lexical side = the shared bm25ScoreCtes chain with
    * query terms derived in SQL from the probe docs (distinct
    * lowercase tokens — the same tokenizer the Spark side collects
    * through), top-(k+1) then self-excluded and re-ranked; semantic
    * side = q50Sql nested verbatim; fusion = the RRF sum restated
    * with CAST(1 AS DOUBLE) so DuckDB's decimal literals never enter.
    */
  private lazy val q140Sql: String =
    s"""WITH $q140Ctes
       |SELECT query_id, rank, doc_id, rrf, lex_rank, sem_rank
       |FROM rr WHERE rank <= $FusionTopK""".stripMargin

  /** q141 oracle: the q140 CTE chain verbatim, BOTH ground truths
    * (cosine = q35's brute-force oracle nested; bm25 = the exact
    * lexical top-k, i.e. the lexk CTE itself), then one
    * hits/first-hit aggregate per (system × truth) UNIONed — the same
    * intersection-only arithmetic as the Spark side.
    */
  private lazy val q141Sql: String = {
    def ev(src: String, rankCol: String, sys: String, truth: String): String =
      s"""SELECT c.query_id, '$sys' AS system, '$truth' AS truth,
         |       CAST(count(t.doc_id) AS BIGINT) AS n_hits,
         |       min(CASE WHEN t.doc_id IS NOT NULL THEN c.$rankCol END) AS first_hit_rank
         |FROM $src c LEFT JOIN truth_$truth t
         |  ON t.query_id = c.query_id AND t.doc_id = c.doc_id
         |GROUP BY c.query_id""".stripMargin
    val arms = for {
      (src, rk, sys) <- Seq(("lexk", "lex_rank", "lexical"), ("sem", "sem_rank", "semantic"), ("fusedk", "rank", "fused"))
      truth <- Seq("cosine", "bm25")
    } yield ev(src, rk, sys, truth)
    s"""WITH $q140Ctes,
       |truth0 AS ($q35Sql),
       |truth_cosine AS (SELECT probe_id AS query_id, neighbor_id AS doc_id FROM truth0),
       |truth_bm25 AS (SELECT query_id, doc_id FROM lexk),
       |fusedk AS (SELECT query_id, doc_id, rank FROM rr WHERE rank <= $FusionTopK),
       |ev AS (${arms.mkString("\n       UNION ALL\n       ")})
       |SELECT query_id, system, truth, n_hits, first_hit_rank,
       |       CASE WHEN first_hit_rank IS NOT NULL
       |            THEN round(CAST(1 AS DOUBLE) / first_hit_rank, 6) ELSE 0 END AS rr
       |FROM ev""".stripMargin
  }

  private lazy val q140Ctes: String =
    s"""q AS (SELECT DISTINCT query_id, token FROM (
       |        SELECT doc_id AS query_id,
       |               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
       |        FROM documents WHERE doc_id < $FusionProbes)),
       |${TrainingQueries.bm25ScoreCtes},
       |lex0 AS (SELECT query_id, doc_id, score_bp,
       |                row_number() OVER (PARTITION BY query_id ORDER BY score_bp DESC, doc_id ASC) AS rk
       |         FROM g),
       |lex AS (SELECT query_id, doc_id,
       |               row_number() OVER (PARTITION BY query_id ORDER BY score_bp DESC, doc_id ASC) AS lex_rank
       |        FROM (SELECT * FROM lex0 WHERE rk <= ${FusionTopK + 1}) t0 WHERE doc_id <> query_id),
       |lexk AS (SELECT query_id, doc_id, lex_rank FROM lex WHERE lex_rank <= $FusionTopK),
       |sem0 AS ($q50Sql),
       |sem AS (SELECT probe_id AS query_id, neighbor_id AS doc_id, rank AS sem_rank FROM sem0),
       |f AS (SELECT coalesce(l.query_id, m.query_id) AS query_id,
       |             coalesce(l.doc_id, m.doc_id) AS doc_id, l.lex_rank, m.sem_rank
       |      FROM lexk l FULL OUTER JOIN sem m
       |        ON m.query_id = l.query_id AND m.doc_id = l.doc_id),
       |rf AS (SELECT query_id, doc_id, lex_rank, sem_rank,
       |              round(coalesce(CAST(1 AS DOUBLE) / ($RrfK + lex_rank), 0)
       |                    + coalesce(CAST(1 AS DOUBLE) / ($RrfK + sem_rank), 0), 6) AS rrf
       |       FROM f),
       |rr AS (SELECT query_id, doc_id, lex_rank, sem_rank, rrf,
       |              row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rank
       |       FROM rf)""".stripMargin

  private lazy val q50Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${dot("v", "v")}) norm FROM e),
         |cents AS (SELECT vec_id cent_id, v cv, norm cnorm FROM n WHERE vec_id < $IvfCells),
         |ca AS (SELECT vec_id, v, norm, cent_id FROM (
         |    SELECT n.vec_id, n.v, n.norm, cents.cent_id,
         |           row_number() OVER (PARTITION BY n.vec_id
         |                              ORDER BY ${dot("n.v", "cents.cv")} / (n.norm * cents.cnorm) DESC,
         |                                       cents.cent_id ASC) rk
         |    FROM n CROSS JOIN cents) WHERE rk = 1),
         |pa AS (SELECT probe_id, pv, pnorm, cent_id FROM (
         |    SELECT p.vec_id probe_id, p.v pv, p.norm pnorm, cents.cent_id,
         |           row_number() OVER (PARTITION BY p.vec_id
         |                              ORDER BY ${dot("p.v", "cents.cv")} / (p.norm * cents.cnorm) DESC,
         |                                       cents.cent_id ASC) rk
         |    FROM n p CROSS JOIN cents WHERE p.vec_id < 5) WHERE rk <= $IvfNprobe),
         |cand AS (SELECT DISTINCT probe_id, ca.vec_id,
         |                ${dot("ca.v", "pa.pv")} / (ca.norm * pa.pnorm) cosine
         |         FROM ca JOIN pa USING (cent_id) WHERE ca.vec_id != pa.probe_id),
         |r AS (SELECT probe_id, vec_id, cosine,
         |             row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id ASC) rk
         |      FROM cand)
         |SELECT probe_id, rk AS rank, vec_id AS neighbor_id, round(cosine, 4) AS cosine
         |FROM r WHERE rk <= $AnnK""".stripMargin

  /** DuckDB twin of the CMS build + probe: the same strhash2 +
    * permutation arithmetic rebuilds every counter the native
    * aggregate increments, so estimates match EXACTLY (counters are
    * pure sums — no merge-order sensitivity to paper over).
    */
  private lazy val q101Sql: String = {
    val probeValues = CmsProbeTokens.map(t => s"('$t')").mkString(", ")
    val idxUnions = (0 until CmsDepth)
      .map(d => s"SELECT source, $d AS d, (${permSql(d)}) % $CmsWidth AS idx FROM h")
      .mkString("\n|  UNION ALL\n|  ")
    val pidxUnions = (0 until CmsDepth)
      .map(d => s"SELECT token, $d AS d, (${permSql(d)}) % $CmsWidth AS idx FROM ph")
      .mkString("\n|  UNION ALL\n|  ")
    s"""WITH toks AS (SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |              FROM documents),
       |h AS (SELECT source, ${strhash2Sql("w")} AS h FROM toks),
       |idx AS (
       |  $idxUnions),
       |cnt AS (SELECT source, d, idx, count(*) AS c FROM idx GROUP BY 1, 2, 3),
       |probes AS (SELECT * FROM (VALUES $probeValues) AS t(token)),
       |ph AS (SELECT token, ${strhash2Sql("token")} AS h FROM probes),
       |pidx AS (
       |  $pidxUnions),
       |j AS (SELECT s.source, p.token, p.d, coalesce(c.c, 0) AS c
       |      FROM (SELECT DISTINCT source FROM h) s
       |      CROSS JOIN pidx p
       |      LEFT JOIN cnt c ON c.source = s.source AND c.d = p.d AND c.idx = p.idx)
       |SELECT source, token, CAST(min(c) AS BIGINT) AS est FROM j GROUP BY source, token""".stripMargin
  }
}
