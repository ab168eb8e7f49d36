package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, PortableHash}
import graft.sources.Formats
import graft.text.TextFunctions

/** Document deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * The reference's dedup is whole-row drop_duplicates over shapefile
  * rows (gerrydb_etl/bootstrap/pl_geo.py:114); these operators extend
  * that to the near-duplicate detection a 100 TB training-data pipeline
  * needs. Design rule (SURVEY §4): NEVER a cross join — every pairwise
  * comparison is generated by an equi-join on a shingle / band / bit
  * bucket, deduped with `a.id < b.id`, then (for LSH paths) verified
  * exactly only on the candidate set.
  */
object Dedup {

  /** Exact-text dedup groups: key = md5(text) so the 100 TB shuffle
    * carries a 32-byte key instead of the document body; keeps the
    * minimum doc_id as the canonical representative.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** Distinct (id, shingle) pairs of word n-grams — the unit of
    * Jaccard / MinHash. The shingle string is hashed to 62 bits, so
    * every downstream shuffle/join/aggregate carries an 8-byte key
    * instead of a ~40-char trigram — at 100 TB that is the difference
    * between shuffling terabytes of n-gram text and shuffling longs.
    * Set semantics are preserved modulo hash collisions (~N²/2⁶³
    * expected colliding pairs — negligible at any feasible corpus
    * size, and the q31 oracle computing on raw strings stays green).
    *
    * Round 17: the per-document set is deduplicated IN-ROW by the
    * native [[graft.functions.ShingleSet]] expression and exploded
    * AFTER — intra-document repeats are the only duplicates a
    * (doc_id, shingle) distinct can remove, so the corpus-wide
    * `distinct()` this replaces was shuffling and hash-aggregating
    * the engine's heaviest frame (~139M pairs, 52 GiB of spill at
    * the 512× decade, OOM at 2048×) to do row-local work. This plan
    * has NO exchange at all: scan → project → explode.
    *
    * CONTRACT: set semantics hold because idCol is row-unique (a
    * document id). A caller keying sets by a non-unique column
    * (q114's `source` spans many documents) must still `.distinct()`
    * the result — in-row dedup cannot see across rows.
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    GraftFunctions.ensureRegistered(docs.sparkSession)
    shingleSets(docs, idCol, textCol, n)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
  }

  /** The per-document sorted-distinct shingle-hash ARRAY — one row
    * per doc, the pre-explode form of [[shingles]] for consumers that
    * can work set-at-a-time (in-row signatures, array intersection).
    * Null text hashes like empty text (concat_ws semantics), so every
    * input doc yields a row.
    */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    GraftFunctions.ensureRegistered(docs.sparkSession)
    docs.select(
      col(idCol).as("doc_id"),
      GraftFunctions
        .shingleset(split(trim(coalesce(col(textCol), lit(""))), TextFunctions.WsRun), n)
        .as("shingles")
    )
  }

  /** [[shingles]] WITHOUT the distinct — (doc_id, shingle) with
    * per-position multiplicity. Streaming-safe (plain `distinct()` is
    * unsupported on a stream) and sufficient for MIN-style consumers:
    * MinHash is a minimum over shingle hashes, so duplicates cannot
    * change a signature (StreamingSpec's ingest case relies on this).
    * Jaccard-style set consumers must go through [[shingles]].
    */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // Index-explode formulation instead of TextFunctions.wordShingles:
    // transform(..., slice+concat_ws) is an interpreted higher-order
    // lambda (~3.3 s of the 4 s shingle stage at sf0.1); exploding the
    // start index and assembling each n-gram with try_element_at keeps
    // the whole stage in codegen. Output strings are identical (for
    // docs shorter than n tokens, out-of-range try_element_at → null,
    // which concat_ws skips — same as the slice-based join).
    // The hash is graft_strhash2 (engine-portable 62-bit polynomial,
    // see PortableHash) rather than xxhash64, so the MinHash/SimHash
    // pipelines built on it are reproducible by the DuckDB oracle.
    GraftFunctions.ensureRegistered(docs.sparkSession)
    val toks = docs.select(col(idCol).as("doc_id"), split(trim(col(textCol)), TextFunctions.WsRun).as("__toks"))
    toks
      .select(
        col("doc_id"),
        col("__toks"),
        explode(sequence(lit(1), greatest(size(col("__toks")) - (n - 1), lit(1)))).as("__i")
      )
      .select(
        col("doc_id"),
        GraftFunctions
          .strhash2(concat_ws(" ", (0 until n).map(j => try_element_at(col("__toks"), col("__i") + j)): _*))
          .as("shingle")
      )
  }

  /** `localCheckpoint` for CORPUS-HEAVY shared frames (the shingle
    * checkpoint, candidate-doc shingles, signature frames) at
    * MEMORY_AND_DISK: materialized rows live as deserialized objects —
    * fastest re-reads, and the right call wherever the frame is small
    * against the heap (the driver gate, clusters with per-core-GB
    * executors). Past ~500× data on an 8 GB/32-thread heap the
    * 2048× shingle frame's partially-cached row objects GC-locker-
    * killed the heap (r17); DISK_ONLY is the level for that regime.
    */
  def checkpointHeavy(df: DataFrame): DataFrame =
    checkpointHeavy(df, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** [[checkpointHeavy]] at a caller-chosen storage level. Callers
    * pass DISK_ONLY for frames that are corpus-PROPORTIONAL and re-read
    * only a handful of times (the Bm25 postings checkpoint): at
    * decade scale such a frame can never be memory-resident against
    * the 8 GB pool, and letting MEMORY_AND_DISK try costs the
    * execution side its unroll memory at exactly the moment 32
    * concurrent tasks want aggregate maps (the r18/r19 fusion OOMs:
    * HashAggregate.createHashMap refused 256 KB while the store
    * churned 50-160 MB checkpoint partitions).
    */
  def checkpointHeavy(df: DataFrame, level: org.apache.spark.storage.StorageLevel): DataFrame =
    df.localCheckpoint(true, level)

  /** Explicit fine hash-clustering for HIGH-CARDINALITY aggregation
    * keys (the gram/shingle frequency counts, the covered-position
    * distinct): shuffle the skinny key rows ONCE, then aggregate with
    * both partial and final maps bounded by keys/N — the aggregate's
    * required distribution is already satisfied, so no further
    * exchange is planned, and AQE leaves an explicit partition count
    * alone. Without this, the partial aggregate runs on scan-sized
    * partitions whose per-task map is ~all keys the task saw: for
    * near-unique keys map-side combine collapses nothing, and the map
    * spill scales with corpus size (q138's gram count measured 30 GB
    * of the 64 GB spill at the 512× decade; Spark has no
    * skip-partial-aggregation path to fall back on). N = 16× the
    * session's BASE shuffle width (spark.sql.shuffle.partitions read
    * directly — SQLConf.numShufflePartitions reports AQE's
    * initialPartitionNum when adaptive coalescing is on, and
    * compounding the two knobs planned 8192-task stages whose pure
    * scheduling overhead quadrupled q138's wall at the 512× decade):
    * 512 partitions locally puts ~800k keys/task at the 512× decade
    * and ~3M at 2048× — tens of MB of tracked map — while a cluster
    * that sizes shuffle.partitions to its estate scales N with it.
    * The shuffled rows are the narrow projection the caller passes
    * (bytes ≈ 8-16 B/row), so the exchange costs one skinny pass,
    * the price of making aggregate state corpus-size-free.
    *
    * The width is SCALE-AWARE and CONTINUOUS (r18): the r17 fixed 16×
    * width was scale-blind in BOTH directions — it charged the q32
    * family ~2× at sf0.1 by scheduling 512 near-empty tasks per
    * clustered aggregate while the frames are KBs, AND it let the
    * per-task aggregate state outgrow the ~150 MB execution pool at
    * the fifth decade (the q138 2048× stage probe attributed 187 of
    * 305 GB of mem-spill to the two clustered aggregates at width
    * 512: grams/512 ≈ 3M keys/task ≈ the whole pool). The width now
    * follows the input's Catalyst size estimate:
    *
    *   width = clamp(est / 128 KB, base, 128 × base), base under a
    *   4 MB floor
    *
    * The estimate is SOURCE-anchored — explode adjusts it by
    * row-width ratios only (strings count 20 B), so it tracks scan
    * bytes × ~0.2, a systematic constant-factor UNDERestimate of the
    * exploded frame — which is exactly what makes a fixed divisor
    * sound: measured anchors are sf0.1 ≈ 0.1-0.2 MB → base (the
    * driver-gate recovery), 512× ≈ 62 MB → ~500 (the width r17
    * measured zero-spill), 2048× ≈ 250 MB → ~2000 (4× the width
    * whose 118 GB spill the r18 probe attributed). Keys/task stays
    * ~constant as the corpus grows — the aggregate-state contract —
    * while a cluster that raises shuffle.partitions scales base and
    * the cap with its estate. Deterministic for a given input.
    */
  def keyClustered(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(clusterWidth(df), cols: _*)

  /** [[keyClustered]] for TEXT-carrying frames (r19): the default
    * 128 KB/partition divisor prices skinny 8-16 B aggregate-key rows
    * — applied to a document-body frame it plans thousands of
    * KB-sized tasks (the 512× scheduling-overhead regime the r17
    * probe measured). estPerPartKb trades the divisor up for wide
    * rows; 2048 KB of ESTIMATE (strings stat-counted at 20 B, so
    * ~10-25× that in real text bytes) keeps per-map explode volume in
    * the tens of MB.
    */
  def keyClusteredWide(df: DataFrame, estPerPartKb: Long, cols: Column*): DataFrame =
    df.repartition(clusterWidth(df, estPerPartKb), cols: _*)

  /** Estimate KB per partition, the small-frame floor below which the
    * width stays at base, and the cap on estimate/leaf-scan
    * amplification — see [[keyClustered]] and the guard below.
    */
  private val ClusterEstPerPartKb = 128L
  private val ClusterSmallMb = 4L
  private val ClusterAmpCap = 64L

  private[graft] def clusterWidth(df: DataFrame): Int = clusterWidth(df, ClusterEstPerPartKb)

  private[graft] def clusterWidth(df: DataFrame, perPartKb: Long): Int = {
    val base = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // a streaming input has no batch QueryExecution to estimate from
    // (optimizedPlan would throw checkForBatch); keep the r17 width —
    // the streaming twins are correctness mirrors, not perf paths
    if (df.isStreaming) return 16 * base
    val plan = df.queryExecution.optimizedPlan
    val rawEst = plan.stats.sizeInBytes
    // Guard against DEGRADED estimates (r18 ADVICE): the size-only
    // stats visitor multiplies children on non-distinct-key joins and
    // reports defaultSizeInBytes for a stats-less LogicalRDD — either
    // would peg a KB-sized frame at the 128×base cap (4096 near-empty
    // tasks at base 32), the exact small-SF failure the continuous
    // width exists to prevent. No graft frame legitimately amplifies
    // its LEAF scan bytes by more than the shingle explode (~150 rows
    // /doc on a narrower projection ⇒ well under 64× in stats terms,
    // which count strings at a flat 20 B), so cap the estimate at
    // 64× the sum of leaf sizes and say so when the cap bites —
    // a silent correction here is how the r17 no-op class recurs.
    val leafSum = plan.collectLeaves().map(_.stats.sizeInBytes).sum
    val est =
      if (leafSum > 0 && rawEst > leafSum * ClusterAmpCap) {
        System.err.println(
          s"[keyClustered] size estimate $rawEst B exceeds ${ClusterAmpCap}x the ${leafSum} B of leaf scans " +
            "(degraded join/RDD stats?) — bounding the width estimate to the leaf sum x cap")
        leafSum * ClusterAmpCap
      } else rawEst
    if (est < BigInt(ClusterSmallMb) * 1024 * 1024) base
    else (est / (perPartKb * 1024)).min(128L * base).max(base).toInt
  }

  /** Make a scan-rooted frame able to feed every core BEFORE per-row
    * compute-AMPLIFYING work runs on it (hash synthesis, tokenize +
    * explode, shingling): parquet cannot split below a row group, so a
    * small-file corpus (every sf0.1 bench table is one single-row-group
    * file) plans ONE scan task no matter what maxPartitionBytes says,
    * and the first heavy map stage — plus every downstream frame that
    * inherits the scan's partitioning through narrow ops and
    * checkpoints — runs on 1 of 32 cores (measured r19: q118's strip
    * synthesis 4.2 s in a single-task stage = 82% of the query; the
    * shingle checkpoint and its whole consumer family likewise).
    *
    * SCALE-ADAPTIVE BY CONSTRUCTION (guide §2.3 — never add a
    * corpus-wide shuffle where the scan already feeds the cluster):
    * engages ONLY when the scan's achievable split count — files, each
    * charged ceil(len/maxPartitionBytes) — is below the session's
    * parallelism. A decade/cluster corpus is many files/row groups, so
    * this is an identity there; frames whose leaves are not file scans
    * (checkpointed RDDs, streams — q138's already-width-clustered
    * pipeline frames) report no input files and are left untouched.
    * The engaged repartition is keyed (hash, no round-robin sort) at
    * max(cores, clusterWidth) so a small corpus lands exactly at the
    * session width.
    */
  def spreadScan(df: DataFrame, cols: Column*): DataFrame = spreadScanTo(df, 0, cols: _*)

  /** [[spreadScan]] with an explicit engaged-width override (r20, the
    * r19 "light minhash consumers" follow-up): `width` ≤ 0 keeps the
    * default max(cores, clusterWidth) — the right width when heavy
    * per-row synthesis or a self-join follows — while a positive
    * width lets SIGNATURE-ONLY consumers (one explode + one bounded
    * aggregate, no pair join back into the checkpoint) spread just
    * enough to amortize the explode without paying full-session task
    * waves on every downstream KB-sized stage. The engagement gate is
    * unchanged: identity whenever the scan itself can already feed
    * the session (decade corpora, non-scan frames, streams).
    */
  def spreadScanTo(df: DataFrame, width: Int, cols: Column*): DataFrame = {
    if (df.isStreaming) return df
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val files = df.inputFiles
    if (files.isEmpty || files.length >= cores) return df
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val splits =
      try {
        val hconf = spark.sparkContext.hadoopConfiguration
        files.iterator.map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          val len = p.getFileSystem(hconf).getFileStatus(p).getLen
          ((len + maxSplit - 1) / maxSplit).toInt
        }.sum
      } catch { case _: Throwable => cores } // unknowable → assume the scan is wide enough
    if (splits >= cores) df
    else df.repartition(if (width > 0) width else math.max(cores, clusterWidth(df)), cols: _*)
  }

  /** Drop shingles whose document frequency exceeds `maxDf` before any
    * self-join. A corpus-common shingle (boilerplate, a hot trigram)
    * makes the shingle equi-join quadratic on that key — one shingle
    * shared by 100k docs is 5×10⁹ pairs — while carrying no
    * discriminative signal (standard MinHash practice). The hot set is
    * tiny by construction (≤ total_shingles / maxDf), so the anti-join
    * stays cheap; AQE broadcasts it when stats allow (no forced hint —
    * a degenerate corpus could make it large).
    */
  def dfCapped(sh: DataFrame, maxDf: Int): DataFrame = {
    // keyClustered: shingle hashes are near-unique (df ~10), so the
    // count's partial maps otherwise scale with the scan slice — 9 GB
    // of spill at the 512× decade on 55 MB-of-rows tasks
    val hot = keyClustered(sh.select("shingle"), col("shingle"))
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select("shingle")
    sh.join(hot, Seq("shingle"), "left_anti")
  }

  /** Exact duplicated-substring coverage per document — the span-level
    * exact dedup of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better"): a k-token window that appears
    * more than once ANYWHERE in the corpus marks all k covered token
    * positions as duplicated; overlapping marked windows merge into
    * spans; the per-document report is how much of the doc those spans
    * cover. A training pipeline cuts the spans (or drops heavy docs) —
    * this operator produces the exact accounting both need.
    *
    * Scale shape (deliberately NOT pair-generating): window hashes are
    * graft_strhash2 62-bit longs, so the occurrence-count aggregate
    * and the marking semi-join shuffle (doc_id, pos, int64) — never
    * text, and never a doc×doc pair. Output of the mark join is at
    * most one row per token position — linear in corpus size even when
    * one boilerplate window occurs a billion times (contrast the
    * shingle self-join, which needs [[dfCapped]]). Span merging is a
    * per-document sorted fold over that doc's marked positions
    * (`aggregate` over a collect_set — document-sized state, the q72
    * contract), exact in BIGINT: windows have equal length k, so the
    * union size folds as Σ (p+k-1 − max(prevEnd, p−1)) over ascending
    * starts.
    *
    * Returns one row per input doc: (doc_id, n_tokens, n_dup_grams,
    * dup_tokens) — n_dup_grams = marked window starts, dup_tokens =
    * union coverage of their spans; both 0 for clean/short docs.
    */
  def substringDupStats(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val (toks, marked) = tokensAndMarkedStarts(docs, idCol, textCol, k)
    val perDoc = marked
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("ps"))
      .select(
        col("doc_id"),
        size(col("ps")).cast("long").as("n_dup_grams"),
        expr(
          s"""aggregate(ps,
             |  struct(CAST(0 AS BIGINT) AS cov, CAST(0 AS BIGINT) AS lastEnd),
             |  (acc, p) -> struct(
             |    acc.cov + CAST(p + ${k - 1} AS BIGINT) - greatest(acc.lastEnd, CAST(p - 1 AS BIGINT)),
             |    CAST(p + ${k - 1} AS BIGINT)),
             |  acc -> acc.cov)""".stripMargin
        ).as("dup_tokens")
      )
    toks
      .select(col("doc_id"), col("__n").cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        col("n_tokens"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens")
      )
  }

  /** The shared front half of the substring-dedup family: tokenized
    * docs (doc_id, __toks, __n) and the marked duplicate-window START
    * positions (doc_id, pos). Window assembly is the same codegen'd
    * index-explode + try_element_at as shingleRows, but keeps the
    * start position — spans need positions, not just the hash set.
    */
  private[dedup] def tokensAndMarkedStarts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int
  ): (DataFrame, DataFrame) = {
    // spreadScan: both the tokenize and the gram explode below are
    // compute-amplifying map stages over `docs` — on the sf0.1
    // single-row-group scan they run on 1 task (q126/q130/q135's
    // hottest stages, r19). Identity for the q138 pipeline's already
    // width-clustered checkpointed frames (no input files) and at
    // decade scale.
    val spread = spreadScan(docs, col(idCol))
    val toks = spread
      .select(col(idCol).as("doc_id"), split(trim(col(textCol)), TextFunctions.WsRun).as("__toks"))
      .withColumn("__n", size(col("__toks")))
    val grams = substringGramRows(spread, idCol, textCol, k)
    // keyClustered: gram hashes are mostly unique (clean text), so
    // this count is the q138 pipeline's dominant spill without the
    // explicit skinny-key clustering (30 of 64 GB at the 512× decade)
    val dupHashes = keyClustered(grams.select("h"), col("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1L)
      .select("h")
    (toks, grams.join(dupHashes, Seq("h")).select(col("doc_id"), col("pos")))
  }

  /** The (doc_id, pos, h) duplicate-window event rows the q126/q130
    * family counts — STATELESS (explode + hash only), so the same
    * definition runs over a stream: the ingest job that keeps a
    * corpus-wide gram-count table current feeds arriving documents
    * through this and a streaming count aggregate (counts are pure
    * sums — merge order cannot change them; StreamingSpec pins the
    * streamed counts equal to batch).
    */
  def substringGramRows(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"window length must be >= 2 tokens, got $k")
    GraftFunctions.ensureRegistered(docs.sparkSession)
    docs
      .select(col(idCol).as("doc_id"), split(trim(col(textCol)), TextFunctions.WsRun).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") >= k)
      .select(col("doc_id"), col("__toks"), explode(sequence(lit(1), col("__n") - (k - 1))).as("pos"))
      .select(
        col("doc_id"),
        col("pos"),
        GraftFunctions
          .strhash2(concat_ws(" ", (0 until k).map(j => try_element_at(col("__toks"), col("pos") + j)): _*))
          .as("h")
      )
  }

  /** The surgery [[substringDupStats]] only accounts for: REMOVE every
    * duplicated span and emit the cleaned document (the actual output
    * of Lee et al. 2022's exact substring dedup). Token-level explode
    * → anti-join against the covered index set → order-preserving
    * reassembly per doc; rows are (doc_id, idx, token) — linear in
    * corpus tokens, the honest distributed cost of span surgery (the
    * 100 TB pipeline pays exactly this to rewrite its shards). Docs
    * with nothing marked pass through byte-identical (modulo the
    * declared whitespace normalization); fully-duplicated docs come
    * back EMPTY rather than vanishing — a dedup step must account for
    * every input row.
    *
    * Returns (doc_id, n_tokens, kept_tokens, clean_text).
    */
  def substringClean(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val (toks, marked) = tokensAndMarkedStarts(docs, idCol, textCol, k)
    // keyClustered: (doc_id, idx) pairs are near-unique, same partial-
    // map regime as the gram count above
    val covered = keyClustered(
      marked.select(col("doc_id"), explode(expr(s"sequence(pos, pos + ${k - 1})")).as("idx")),
      col("doc_id"),
      col("idx")
    ).distinct()
    val tokIdx = toks
      .select(col("doc_id"), posexplode(col("__toks")).as(Seq("i0", "tok")))
      .select(col("doc_id"), (col("i0") + 1).as("idx"), col("tok"))
    val cleaned = tokIdx
      .join(covered, Seq("doc_id", "idx"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("kept_tokens"),
        array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("tok")))), x => x.getField("tok")),
          " "
        ).as("clean_text")
      )
    toks
      .select(col("doc_id"), col("__n").cast("long").as("n_tokens"))
      .join(cleaned, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text")
      )
  }

  /** Exact pairwise Jaccard over shared shingles. Candidate pairs come
    * from the shingle equi-join (never a cross join); with a
    * discriminative shingle size (n=3) the hottest shingle touches a
    * bounded doc set, so the pair fan-out is linear-ish in corpus size.
    * For corpora where exact all-pairs is still too hot, [[minhashLsh]]
    * is the scale path (candidates only, then exact verify).
    */
  def ngramJaccardPairs(sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = sharedShingleCounts(sh)
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard", col("inter") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Shared-shingle counts per candidate pair: (doc_a, doc_b, inter)
    * with doc_a < doc_b, generated by the shingle equi-join. The ONE
    * pair-generation kernel shared by [[ngramJaccardPairs]] and
    * [[editDistNearDups]] — both the Jaccard numerator and the
    * cheap-gate-before-expensive-verify count are the same join.
    */
  def sharedShingleCounts(sh: DataFrame): DataFrame =
    sh.as("a")
      .join(sh.as("b"), col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))

  /** Edit-distance near-duplicates: candidate pairs sharing at least
    * `minShared` capped shingles, verified with Levenshtein distance
    * at most ceil(maxLen/distDenom) (e.g. distDenom=4 → within 25% of
    * the longer text). The integer shared-shingle gate runs BEFORE any
    * text is moved or compared: Levenshtein is O(len²) per pair, so at
    * 100 TB the plan must pay it only for pairs that already look like
    * duplicates — the LSH-candidates-then-exact-verify posture with a
    * different verify metric. The distance test is pure integer
    * arithmetic (distDenom·dist ≤ maxLen), no FP boundary to disagree
    * with the oracle on.
    *
    * Reference: gerrydb-etl's dedup is exact drop_duplicates
    * (pl_geo.py:114); this is its fuzzy-matching extension for
    * OCR/crawl noise where near-identity is edit distance, not
    * shingle-set overlap.
    */
  def editDistNearDups(
      docs: DataFrame,
      sh: DataFrame,
      idCol: String,
      textCol: String,
      minShared: Int,
      distDenom: Int
  ): DataFrame = {
    val cands = sharedShingleCounts(sh).filter(col("inter") >= minShared)
    val txt = docs.select(col(idCol).as("doc_id"), col(textCol).as("t"))
    cands
      .join(txt.select(col("doc_id").as("doc_a"), col("t").as("t_a")), "doc_a")
      .join(txt.select(col("doc_id").as("doc_b"), col("t").as("t_b")), "doc_b")
      .select(
        col("doc_a"),
        col("doc_b"),
        col("inter"),
        levenshtein(col("t_a"), col("t_b")).as("dist"),
        greatest(length(col("t_a")), length(col("t_b"))).as("max_len")
      )
      .filter(col("dist") * distDenom <= col("max_len"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("dist").cast("long").as("dist"))
  }

  /** Segment-level exact dedup (RefinedWeb / CCNet line-dedup shape):
    * split every document into fixed `segWords`-word segments, keep
    * only the corpus-wide FIRST occurrence of each distinct segment
    * (ordered by (doc_id, seg_idx)), and report per document how much
    * survived plus a digest of the reassembled kept text.
    *
    * Scale shape: the winner election is one aggregate keyed on the
    * md5 of the segment (min(struct(doc_id, seg_idx, seg)) — map-side
    * partial min, the segment body rides inside the min struct so no
    * second join re-fetches it), the reassembly is a per-document
    * aggregate bounded by document length, and the final left join
    * restores documents whose every segment lost (they must report
    * n_kept = 0, not vanish). No window over an unbounded partition
    * anywhere.
    *
    * Reference: pl_geo.py:114 dedups whole rows; this is the
    * within-document-granularity version a crawl corpus needs
    * (boilerplate paragraphs repeat across pages that are not
    * themselves duplicates).
    */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String, segWords: Int): DataFrame = {
    val words = split(trim(col(textCol)), TextFunctions.WsRun)
    val base = docs.select(
      col(idCol).as("doc_id"),
      ceil(size(words) / lit(segWords.toDouble)).cast("long").as("n_segs")
    )
    val winners = segmentWinners(docSegments(docs, idCol, textCol, segWords))
    val kept = winners
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_kept"),
        md5(
          array_join(
            transform(array_sort(collect_list(struct(col("seg_idx"), col("seg")))), x => x.getField("seg")),
            " "
          )
        ).as("kept_md5")
      )
    base
      .join(kept, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5")
      )
  }

  /** The exploded (doc_id, seg_idx, seg) stream behind [[segmentDedup]]
    * — one row per fixed `segWords`-word segment. No distinct anywhere,
    * so it runs unchanged on a STREAMING frame (the ingest job that
    * keeps a segment-dedup index current; StreamingSpec proves the
    * streamed winners bit-equal the batch ones).
    */
  def docSegments(docs: DataFrame, idCol: String, textCol: String, segWords: Int): DataFrame = {
    val words = split(trim(col(textCol)), TextFunctions.WsRun)
    docs
      .select(
        col(idCol).as("doc_id"),
        transform(
          sequence(lit(0L), (ceil(size(words) / lit(segWords.toDouble)) - 1).cast("long")),
          i =>
            struct(
              i.as("seg_idx"),
              array_join(slice(words, (i * segWords + 1).cast("int"), lit(segWords)), " ").as("seg")
            )
        ).as("segs")
      )
      .select(col("doc_id"), explode(col("segs")).as("sg"))
      .select(col("doc_id"), col("sg.seg_idx").as("seg_idx"), col("sg.seg").as("seg"))
  }

  /** First-occurrence winner per distinct segment: ONE md5-keyed
    * min-struct aggregate (map-side combinable; the segment body rides
    * in the struct so no join-back re-fetches it). A MIN is
    * order-independent and monotone, so the same aggregate maintains
    * the winner set incrementally on a stream in update mode.
    */
  def segmentWinners(segs: DataFrame): DataFrame =
    segs
      .groupBy(md5(col("seg")).as("seg_key"))
      .agg(min(struct(col("doc_id"), col("seg_idx"), col("seg"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.seg_idx").as("seg_idx"), col("w.seg").as("seg"))

  /** Proper-prefix containment pairs: (a, b) where a's text is a
    * strict prefix of b's text — truncated re-crawls, partial
    * re-ingests. Candidates are blocked on the first `blockChars`
    * characters (a prefix pair MUST agree there, so the equi-join
    * loses nothing among docs of length ≥ blockChars), then verified
    * with one startsWith — never an all-pairs comparison. Documents
    * shorter than blockChars are excluded by contract (at corpus
    * scale they are noise the length gates upstream already drop).
    *
    * Blocks with more than `blockCap` documents are DROPPED before the
    * self-join, as a declared contract — the q31/q100 df-cap pattern
    * applied to the block key. On a real crawl corpus vast numbers of
    * documents open with the same 16 characters ("<!doctype html><",
    * a JSON envelope, licence boilerplate), so one block otherwise
    * goes quadratic AND ships full text bodies through that one
    * skewed shuffle key. A shared-boilerplate prefix is also exactly
    * where prefix containment stops meaning "truncated re-crawl":
    * agreeing on boilerplate is not evidence of identity, so the
    * dropped blocks are the pairs the operator's user did not want
    * (the same argument as dropping stopword terms in q100). The cap
    * bounds per-block fan-out at blockCap² pairs and is asserted in
    * DedupSimSpec over a synthetic boilerplate corpus.
    */
  def prefixContainmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockChars: Int,
      blockCap: Int
  ): DataFrame = {
    require(blockCap > 1, s"blockCap must exceed 1 (a 1-doc block pairs nothing), got $blockCap")
    val d0 = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("t"))
      .filter(length(col("t")) >= blockChars)
      .select(col("doc_id"), col("t"), substring(col("t"), 1, blockChars).as("blk"))
    // hot-block anti-join, the dfCapped shape: the hot set is ≤
    // n_docs/blockCap keys by construction, AQE broadcasts it when
    // stats allow. Counting shuffles blk (16 chars), never bodies.
    val hot = d0
      .groupBy(col("blk"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > blockCap)
      .select("blk")
    val d = d0.join(hot, Seq("blk"), "left_anti")
    d.as("a")
      .join(d.as("b"), Seq("blk"))
      .filter(length(col("b.t")) > length(col("a.t")) && col("b.t").startsWith(col("a.t")))
      .select(
        col("a.doc_id").as("a_id"),
        col("b.doc_id").as("b_id"),
        length(col("a.t")).cast("long").as("a_len"),
        length(col("b.t")).cast("long").as("b_len")
      )
  }

  /** MinHash signatures: numPerms independent permutations
    * (A_p * h + B_p mod P over the portable shingle hash), all minima
    * computed by ONE native typed aggregate (graft_minhash) — a tight
    * primitive loop with map-side partial aggregation. Output column
    * `mh` is the array<bigint> signature.
    *
    * The input is [[keyClustered]] by doc_id first (r17): the typed
    * aggregate plans as ObjectHashAggregate, whose per-task object map
    * is untracked heap with a sort-based fallback past the configured
    * distinct-key threshold — at 32 fixed partitions the 256× decade
    * crossed it (41.6k docs/task against the 32k bound: 8.1 GB of
    * spill re-sorting the shingle frame through 520 B buffers).
    * Behind [[keyClustered]]'s estimate-proportional width each task
    * owns a ~constant key count as the corpus grows (thousands, not
    * tens of thousands, at every measured decade) — so the aggregate
    * stays in its hash path with a few-MB map and needs no further
    * exchange. (A declarative 64-slot rewrite was tried
    * and REVERTED: its 64-expression update pushed the generated
    * aggregate past the codegen fast path and ran 17× slower than
    * the typed loop — measured 667 s vs 40 s at the 512× decade.)
    */
  def minhashSignatures(sh: DataFrame, numPerms: Int): DataFrame = {
    GraftFunctions.ensureRegistered(sh.sparkSession)
    keyClustered(sh, col("doc_id"))
      .groupBy(col("doc_id"))
      .agg(GraftFunctions.minhash(col("shingle"), numPerms).as("mh"))
  }

  /** Band key: Horner fold of `rowsPerBand` signature slots mod P —
    * every intermediate stays under 2^36, so the DuckDB oracle computes
    * the identical key in BIGINT arithmetic (a 31-bit key makes
    * occasional false band collisions, which the exact verify step
    * removes on both engines identically).
    */
  private[graft] def bandKey(mh: Column, b: Int, rowsPerBand: Int): Column =
    (b * rowsPerBand until (b + 1) * rowsPerBand)
      .map(p => element_at(mh, p + 1))
      .foldLeft(lit(0L)) { (acc, v) => (acc * 33 + v) % PortableHash.P }

  /** LSH banding: split the signature into bands of `rowsPerBand` mins;
    * docs sharing any (band_id, band_key) become candidates. The
    * band-bucket equi-join replaces the quadratic all-pairs scan — the
    * core reason this survives 100 TB.
    */
  /** Band-key explosion shared by [[lshCandidates]] and
    * [[lshCandidatesAgainst]] — ONE definition of the banding (band
    * count, struct shape, Horner band key) so the self-join and the
    * cross-set candidates cannot silently diverge.
    */
  private def bandExplode(sigs: DataFrame, numPerms: Int, rowsPerBand: Int): DataFrame = {
    val numBands = numPerms / rowsPerBand
    val bands = array((0 until numBands).map { b =>
      struct(lit(b).as("band_id"), bandKey(col("mh"), b, rowsPerBand).as("band_key"))
    }: _*)
    sigs
      .select(col("doc_id"), explode(bands).as("band"))
      .select(col("doc_id"), col("band.band_id").as("band_id"), col("band.band_key").as("band_key"))
  }

  def lshCandidates(sigs: DataFrame, numPerms: Int, rowsPerBand: Int): DataFrame = {
    val exploded = bandExplode(sigs, numPerms, rowsPerBand)
    // volume points: band_pairs = raw band collisions (the measured
    // ~14/16 duplicate factor justifies the distinct HERE — opposite
    // regime from q34, see the r13 shape survey), candidates = the
    // deduped pair set the expensive gram verify then pays for
    val bandPairs = graft.Volumes.observe(
      exploded
        .as("a")
        .join(
          exploded.as("b"),
          col("a.band_id") === col("b.band_id") && col("a.band_key") === col("b.band_key") &&
            col("a.doc_id") < col("b.doc_id")
        )
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")),
      "minhash_band_pairs"
    )
    graft.Volumes.observe(bandPairs.distinct(), "minhash_candidates")
  }

  /** Cross-set LSH candidates: band keys of a NEW batch's signatures
    * against an EXISTING signature index — the incremental-ingest form
    * of [[lshCandidates]]. The index side is stored state (signatures
    * computed once when each doc arrived); only the new batch pays
    * shingle + signature cost per run, and the band equi-join shuffles
    * band keys, never documents. Pairs are (new_doc, index_doc);
    * within-batch duplicates are [[lshCandidates]]'s job.
    */
  def lshCandidatesAgainst(
      newSigs: DataFrame,
      indexSigs: DataFrame,
      numPerms: Int,
      rowsPerBand: Int
  ): DataFrame =
    bandExplode(newSigs, numPerms, rowsPerBand)
      .as("a")
      .join(bandExplode(indexSigs, numPerms, rowsPerBand).as("b"), Seq("band_id", "band_key"))
      .select(col("a.doc_id").as("new_doc"), col("b.doc_id").as("index_doc"))
      .distinct()

  /** Single-integer band join key: band_id · 2^31 + band_key. band_key
    * is < P = 2^31 − 1, so the packing is injective and equality on
    * `bk` is exactly equality on (band_id, band_key) — which lets a
    * persisted band index be bucketed BY the join key (bucketBy takes
    * the key a join needs, and a one-column key keeps the bucket spec
    * and the join condition trivially aligned).
    */
  val BandKeyStride: Long = 1L << 31

  /** Signature-index band rows: (doc_id, bk) for every band of every
    * signature — the PERSISTED form of [[bandExplode]]'s output. At
    * 100 TB the index is written once (bucketed by bk), and each daily
    * batch's band join reads it with NO exchange: the one-off bucket
    * shuffle at ingest is amortized over every incremental run.
    */
  def signatureIndexBands(sigs: DataFrame, numPerms: Int, rowsPerBand: Int): DataFrame =
    bandExplode(sigs, numPerms, rowsPerBand)
      .select(col("doc_id"), (col("band_id").cast("long") * BandKeyStride + col("band_key")).as("bk"))

  /** Table property carrying [[PortableHash.SignatureFormatVersion]]. */
  val SigVersionProp = "graft.sig_format_version"

  /** Build + persist the bucketed signature band index, stamped with
    * the signature format version as a TABLE PROPERTY (metadata, not a
    * per-row column: the check must not cost a data scan). Any change
    * to the hash/permutation constants bumps the version, and
    * [[readSignatureIndex]] then fails loudly instead of silently
    * producing garbage candidates against stale signatures.
    */
  def writeSignatureIndex(
      sigs: DataFrame,
      table: String,
      numPerms: Int,
      rowsPerBand: Int,
      numBuckets: Int
  ): Unit = {
    val spark = sigs.sparkSession
    // clean slate: a prior run that died mid-write leaves files behind
    // without a catalog entry, which would fail the managed-table
    // write. DROP removes the registered case; the orphan-directory
    // case needs the path, resolved THROUGH the catalog (manual
    // <warehouse>/<table> concatenation breaks under a non-default
    // current database and could delete an unrelated table's files).
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog.defaultTablePath(ident))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    Formats.writeBucketed(signatureIndexBands(sigs, numPerms, rowsPerBand), table, "bk", numBuckets)
    spark.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES ('$SigVersionProp' = '${PortableHash.SignatureFormatVersion}')"
    )
  }

  /** Append a batch's band rows to an existing signature index — the
    * daily-ingest companion of [[writeSignatureIndex]] (build once,
    * append each batch after its dedup run, stay exchange-free for
    * every later band join). The version check runs FIRST, so a batch
    * signed under a newer hash format can never silently mix into an
    * old index; the bucket count is read from the catalog so the
    * append preserves the table's bucket layout (Spark refuses a
    * mismatched spec).
    */
  def appendSignatureIndex(sigs: DataFrame, table: String, numPerms: Int, rowsPerBand: Int): Unit = {
    val spark = sigs.sparkSession
    readSignatureIndex(spark, table) // loud format/version gate
    val meta = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
    val numBuckets = meta.bucketSpec
      .map(_.numBuckets)
      .getOrElse(throw new IllegalStateException(s"signature index '$table' is not bucketed"))
    // one file per bucket per append batch (see Formats.writeBucketed)
    signatureIndexBands(sigs, numPerms, rowsPerBand)
      .repartition(numBuckets, col("bk"))
      .write
      .mode(org.apache.spark.sql.SaveMode.Append)
      .option("maxRecordsPerFile", graft.sources.Formats.MaxRecordsPerFile.toString)
      .format("parquet")
      .bucketBy(numBuckets, "bk")
      .sortBy("bk")
      .saveAsTable(table)
    // r15: the daily-append cadence grows one file per bucket per
    // batch with no ceiling — the CellIndex r14 lesson generalized.
    // No-op below the relative threshold (one metadata listing).
    compactSignatureIndex(spark, table)
  }

  /** Shared small-files maintenance for the persisted band index (the
    * [[graft.sources.Formats.compactBucketed]] contract: streamed
    * temp-swap, version stamp preserved verbatim, relative trigger,
    * crash-recoverable rename-aside). Returns true iff a rewrite ran.
    */
  def compactSignatureIndex(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      maxFilesPerBucket: Int = graft.sources.Formats.DefaultCompactFilesPerBucket
  ): Boolean =
    graft.sources.Formats.compactBucketed(spark, table, maxFilesPerBucket)

  /** Open a persisted signature index, refusing a format-version
    * mismatch (metadata-only check — no data is read).
    */
  def readSignatureIndex(spark: org.apache.spark.sql.SparkSession, table: String): DataFrame = {
    val props = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
      .properties
    val v = props.get(SigVersionProp)
    require(
      v.contains(PortableHash.SignatureFormatVersion.toString),
      s"signature index '$table' was built with format version ${v.getOrElse("<unstamped>")}, " +
        s"current is ${PortableHash.SignatureFormatVersion} — rebuild the index " +
        "(signatures from different format versions never match)"
    )
    spark.table(table)
  }

  /** [[lshCandidatesAgainst]] where the index side is a persisted
    * (doc_id, bk) band table from [[signatureIndexBands]] — joined on
    * the single bucketable key, so a bucketed index table contributes
    * its side of the join with zero exchange (PlanSpec asserts this).
    */
  def lshCandidatesAgainstIndex(
      newSigs: DataFrame,
      indexBands: DataFrame,
      numPerms: Int,
      rowsPerBand: Int
  ): DataFrame =
    signatureIndexBands(newSigs, numPerms, rowsPerBand)
      .as("a")
      .join(indexBands.as("b"), Seq("bk"))
      .select(col("a.doc_id").as("new_doc"), col("b.doc_id").as("index_doc"))
      .distinct()

  /** Exact Jaccard, evaluated ONLY for candidate pairs (the LSH verify
    * step). Candidates are usually few — but skewed corpora (hot
    * bands, boilerplate shingles) can blow the candidate set past
    * driver memory, so no forced broadcast: AQE picks the strategy
    * from runtime stats and degrades to a shuffle join instead of
    * OOMing.
    *
    * The shingle universe is SEMI-JOINED down to docs that appear in
    * any candidate pair BEFORE the intersection joins and the size
    * aggregate (round 16): candidate docs are a vanishing fraction of
    * the corpus (measured 256×: ≤145k of 1.33M docs from 72k pairs),
    * while the full shingle table is the corpus's heaviest frame
    * (~200M rows there). Without the restriction each of the three
    * consumers (two join sides + sizes) shuffle-sorted the FULL table
    * — the only remaining pair-engine spill at 256× (14.6 GB mem +
    * 13.9 GB disk, r15 verdict). Values are unchanged: every join
    * output row and every size the output reads belongs to a
    * candidate doc by construction. The restricted frame is
    * localCheckpoint'd — three consumers, one materialization
    * (batch-only; no streaming caller exists).
    */
  def verifyJaccard(sh: DataFrame, candidates: DataFrame, threshold: Double): DataFrame = {
    val cand = candidates.localCheckpoint()
    val candDocs = cand
      .select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id")))
      .distinct()
    val shc = checkpointHeavy(sh.join(candDocs, Seq("doc_id"), "left_semi"))
    val sizes = shc.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = shc
      .as("a")
      .join(cand, col("a.doc_id") === col("doc_a"))
      .join(shc.as("b"), col("b.doc_id") === col("doc_b") && col("a.shingle") === col("b.shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    graft.Volumes.observe(
      inter
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn("jaccard", col("inter") / (col("n_a") + col("n_b") - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard")),
      "jaccard_pairs"
    )
  }

  /** SimHash per doc: per-bit majority vote over the portable shingle
    * hash's low 60 bits, computed by ONE native typed aggregate
    * (graft_simhash) — replaces a 64-column sum aggregate + 64-term
    * bit assembly whose plan compilation made q33 the slowest bench
    * query. Input [[keyClustered]] by doc_id — same bounded-object-map
    * rationale as [[minhashSignatures]].
    */
  def simhash(sh: DataFrame): DataFrame = {
    GraftFunctions.ensureRegistered(sh.sparkSession)
    keyClustered(sh, col("doc_id"))
      .groupBy(col("doc_id"))
      .agg(GraftFunctions.simhash(col("shingle")).as("simhash"))
  }

  /** Chunk widths for a pigeonhole split of `totalBits` into
    * `numChunks` chunks: base width totalBits/numChunks, remainder
    * bits distributed one each to the leading chunks — so EVERY bit
    * belongs to a chunk and blocks. (Plain truncation left bits
    * 54-59 dead for blocking in the old 60-bit/9-chunk geometry:
    * recall was unaffected — the pigeonhole argument only needs the
    * chunks to be disjoint — but 6 bits of free selectivity were
    * discarded.)
    */
  private def chunkWidths(totalBits: Int, numChunks: Int): Seq[Int] = {
    val base = totalBits / numChunks
    val rem = totalBits % numChunks
    Seq.tabulate(numChunks)(c => base + (if (c < rem) 1 else 0))
  }

  /** Hamming-near pairs via pigeonhole banding: any pair with distance
    * <= maxDist over the signature's 60 bits must agree exactly on at
    * least one of (maxDist+1) chunks — join on (chunk_id, chunk_value),
    * then filter by true bit_count distance. Equi-join, never cross.
    */
  def simhashNearPairs(sigs: DataFrame, maxDist: Int): DataFrame = {
    val numChunks = maxDist + 1
    val widths = chunkWidths(graft.functions.SimHashAgg.Bits, numChunks)
    val lows = widths.scanLeft(0)(_ + _)
    val chunks = array((0 until numChunks).map { c =>
      struct(
        lit(c).as("chunk_id"),
        shiftright(col("simhash"), lows(c))
          .bitwiseAND((1L << widths(c)) - 1)
          .as("chunk_val")
      )
    }: _*)
    val exploded = sigs
      .select(col("doc_id"), col("simhash"), explode(chunks).as("ch"))
      .select(col("doc_id"), col("simhash"), col("ch.chunk_id").as("chunk_id"), col("ch.chunk_val").as("chunk_val"))
    exploded
      .as("a")
      .join(
        exploded.as("b"),
        col("a.chunk_id") === col("b.chunk_id") && col("a.chunk_val") === col("b.chunk_val") &&
          col("a.doc_id") < col("b.doc_id")
      )
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming")
      )
      // filter BEFORE distinct: hamming is deterministic per pair, so
      // the two orders are equivalent — but filtering first means the
      // distinct's shuffle carries only near-dup survivors, never the
      // full chunk-collision fan-out (the round-13 q34 lesson: never
      // shuffle anything pair-proportional when a cheap in-stage
      // predicate can shrink it first).
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** A `width`-bit slice starting at `lowBit` of a signature carried
    * as `words.length` `bitsPerWord`-bit BIGINT words (words(0) = low
    * bits) — handles slices that span one word boundary (width ≤
    * bitsPerWord guarantees at most two words are touched). All
    * shifts act on non-negative values (bitsPerWord ≤ 63), so
    * arithmetic shift right is safe on both engines.
    */
  private def bitSlice(words: Seq[Column], lowBit: Int, width: Int, bitsPerWord: Int): Column = {
    require(width <= bitsPerWord, s"slice width $width exceeds bitsPerWord $bitsPerWord")
    val mask = (1L << width) - 1
    val w = lowBit / bitsPerWord
    val off = lowBit - w * bitsPerWord
    if (off + width <= bitsPerWord) shiftright(words(w), off).bitwiseAND(mask)
    else {
      val fromLow = bitsPerWord - off
      shiftright(words(w), off)
        .bitwiseOR(shiftleft(words(w + 1).bitwiseAND((1L << (width - fromLow)) - 1), fromLow))
    }
  }

  /** [[simhashNearPairs]] for a WIDE signature carried as W
    * `bitsPerWord`-bit words `h0..h{W-1}` — the blocking-selectivity
    * machinery for larger Hamming radii, with the width a CALLER
    * CHOICE so the chunk-bucket cardinality can be CORPUS-SCALED
    * (SURVEY §4's round-10 rule, applied to pigeonhole blocking in
    * round 11): maxDist=8 needs 9 disjoint chunks, and each chunk key
    * has 2^(totalBits/9) possible values, so expected spurious
    * candidates are ~9·N²/2^(totalBits/9) — fixed at any width, that
    * term is quadratic in N; choosing totalBits = 9·b with b =
    * smallest chunk width keeping target·2^b ≥ N (the q34 plane-count
    * formula) pins per-bucket occupancy ~target and keeps the
    * candidate join linear at any corpus size. Contract unchanged:
    * any pair with distance ≤ maxDist over totalBits agrees exactly
    * on ≥1 chunk (chunks are disjoint and cover all bits), so the
    * equi-join loses nothing; the exact multi-word bit_count verify
    * removes false candidates. Signatures travel as W BIGINTs —
    * never an all-pairs scan, never array payloads in the shuffle.
    */
  def hammingNearPairsWide(
      sigs: DataFrame,
      maxDist: Int,
      totalBits: Int,
      bitsPerWord: Int = 63
  ): DataFrame = {
    require(bitsPerWord >= 1 && bitsPerWord <= 63, s"bitsPerWord must be in [1, 63], got $bitsPerWord")
    val numChunks = maxDist + 1
    require(numChunks <= totalBits, s"maxDist $maxDist needs $numChunks chunks but only $totalBits bits")
    val nWords = (totalBits + bitsPerWord - 1) / bitsPerWord
    val wordCols = (0 until nWords).map(w => col(s"h$w"))
    val widths = chunkWidths(totalBits, numChunks)
    require(
      widths.head <= bitsPerWord,
      s"chunk width ${widths.head} exceeds bitsPerWord $bitsPerWord (totalBits=$totalBits over $numChunks chunks)"
    )
    val lows = widths.scanLeft(0)(_ + _)
    val chunks = array((0 until numChunks).map { c =>
      struct(
        lit(c).as("chunk_id"),
        bitSlice(wordCols, lows(c), widths(c), bitsPerWord).as("chunk_val")
      )
    }: _*)
    val exploded = sigs
      .select((col("doc_id") +: wordCols) :+ explode(chunks).as("ch"): _*)
      .select(
        (col("doc_id") +: wordCols) ++
          Seq(col("ch.chunk_id").as("chunk_id"), col("ch.chunk_val").as("chunk_val")): _*
      )
    val hamming = (0 until nWords)
      .map(w => bit_count(col(s"a.h$w").bitwiseXOR(col(s"b.h$w"))))
      .reduce(_ + _)
    // volume points: candidates = chunk collisions scored, survivors =
    // within-radius pre-distinct, pairs = output
    val cand = graft.Volumes.observe(
      exploded
        .as("a")
        .join(
          exploded.as("b"),
          col("a.chunk_id") === col("b.chunk_id") && col("a.chunk_val") === col("b.chunk_val") &&
            col("a.doc_id") < col("b.doc_id")
        )
        .select(
          col("a.doc_id").as("doc_a"),
          col("b.doc_id").as("doc_b"),
          hamming.as("hamming")
        ),
      "hamming_candidates"
    )
    // filter BEFORE distinct (see simhashNearPairs): the distinct
    // then shuffles only pairs within the radius, not every
    // chunk-collision candidate — at the 256x decade the candidate
    // fan-out is ~100x the survivor set.
    val surv = graft.Volumes.observe(cand.filter(col("hamming") <= maxDist), "hamming_survivors")
    graft.Volumes.observe(surv.distinct(), "hamming_pairs")
  }

  /** Two-word convenience form of [[hammingNearPairsWide]] (h0/h1,
    * 2·bitsPerWord total bits) — the fixed-width entry point kept for
    * callers whose width IS their contract (spec baselines); the
    * corpus-scaled q118 path sizes totalBits itself.
    */
  def hammingNearPairs2(sigs: DataFrame, maxDist: Int, bitsPerWord: Int = 63): DataFrame =
    hammingNearPairsWide(sigs, maxDist, 2 * bitsPerWord, bitsPerWord)

  /** Sequential-fold double dot product — bit-identical across engines
    * (same operation order), unlike a float SIMD dot.
    */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Same sequential sum as [[dotFold]] but UNROLLED for a known dim
    * count: a flat codegen'd expression tree of element_at products
    * instead of an interpreted higher-order aggregate (which allocates
    * a zipped array per evaluation — the reason round 1's q34 spent
    * ~125 µs per pair). Addition order is identical (left-assoc index
    * order), so results stay bit-equal to dotFold and to DuckDB's
    * list_reduce.
    */
  def dotUnrolled(a: Column, b: Column, dims: Int): Column =
    (1 to dims).map(i => element_at(a, i) * element_at(b, i)).reduce(_ + _)

  /** L2-normalize once per row so every pairwise cosine downstream is
    * dot-only. `norm` must be a column (computed once), not an inline
    * expression — a lambda would re-evaluate it per element.
    */
  def withNormalized(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("norm", sqrt(GraftFunctions.dot(col(vecCol), col(vecCol))))
      .withColumn("nv", transform(col(vecCol), x => x / col("norm")))

  /** Connected components over an undirected near-dup pair list: each
    * document gets the MINIMUM doc_id reachable through dup edges as
    * its cluster label (the canonical representative a dedup pipeline
    * keeps). Iterative min-label propagation: each round, every node
    * takes the min of its own and its neighbors' labels; converges in
    * O(cluster diameter) rounds. Dup clusters are small and dense
    * (near-dup similarity is near-transitive), so a handful of rounds
    * suffice; maxIters bounds a pathological chain. localCheckpoint
    * truncates the growing lineage each round — without it the plan
    * doubles per iteration. The driver loop coordinates rounds only
    * (counts a convergence flag); all data work is distributed joins,
    * the same structure GraphX/Pregel uses underneath.
    */
  def dupClusters(pairs: DataFrame, maxIters: Int = 15, singleTaskEdgeLimit: Long = 5000000L): DataFrame = {
    // materialize the pair list BEFORE the symmetric union: it is the
    // small OUTPUT of dedup (pairs, not the corpus), and everything
    // below references it repeatedly — the union alone has two
    // branches, so without the checkpoint the full upstream pair
    // pipeline runs once per reference (measured 2x just to build the
    // edge list).
    val fwd = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")).localCheckpoint()
    val edges = fwd
      .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val nEdges = edges.count()
    if (nEdges <= singleTaskEdgeLimit) return unionFindSingleTask(edges)
    var labels = edges.select(col("src").as("id")).distinct().withColumn("label", col("id"))
    var iters = 0
    var done = false
    while (!done && iters < maxIters) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "__dst"), col("dst") === col("__dst"))
        .groupBy(col("src"))
        .agg(min(col("label")).as("nlabel"))
      val afterNeighbor = labels
        .join(neighborMin.withColumnRenamed("src", "__id"), col("id") === col("__id"), "left")
        .select(col("id"), least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      // pointer doubling — label := label's label — collapses chains
      // logarithmically, so a diameter-d path needs O(log d) rounds
      // instead of d (each round is a handful of fixed-cost jobs, so
      // round count, not row count, dominates at this size)
      val updated = afterNeighbor
        .join(
          afterNeighbor.select(col("id").as("__lid"), col("label").as("__llabel")),
          col("label") === col("__lid"),
          "left"
        )
        .select(col("id"), least(col("label"), coalesce(col("__llabel"), col("label"))).as("label"))
        .localCheckpoint()
      val changed = updated
        .withColumnRenamed("label", "__new")
        .join(labels, "id")
        .filter(col("__new") =!= col("label"))
        .count()
      labels = updated
      done = changed == 0
      iters += 1
    }
    // exiting on maxIters with changes still pending would return wrong
    // cluster labels SILENTLY — pointer doubling makes this need a
    // diameter > 2^maxIters, but corrupt-on-quiet is the wrong failure
    // mode, so fail loudly instead.
    if (!done) {
      throw new IllegalStateException(
        s"dupClusters did not converge after $maxIters iterations; " +
          "raise maxIters (diameter > 2^maxIters is required to get here)"
      )
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster"))
  }

  /** Exact union-find over an edge list that fits one task. Candidate
    * GENERATION is the distributed heavy part of dedup; the component
    * labeling of its (much smaller) pair output is cheapest as one
    * executor task — the iterative path above pays several fixed-cost
    * distributed jobs per round, which dominates below millions of
    * edges (measured: 13.6 s iterative vs pair-pipeline-bound with
    * union-find at sf0.1).
    */
  private def unionFindSingleTask(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges
      .select(col("src"), col("dst"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        // union always attaches the larger root beneath the smaller,
        // so a component's root IS its minimum id — find() alone
        // yields the canonical label
        parent.keys.iterator.map(id => (id, find(id)))
      }
      .toDF("doc_id", "cluster")
  }

  /** Cosine near-duplicate pairs over an embedding column, blocked by a
    * coarse `blockCol` (label / LSH bucket / IVF cell) so the pair join
    * is an equi-join on the block key, never a cross join.
    *
    * This is the EXACT-within-block baseline; at scale a fixed block
    * key grows linearly with the corpus (O(N²/L) pairs), so
    * [[embeddingNearDupsLsh]] composes it with LSH sub-buckets.
    */
  def embeddingNearDups(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      threshold: Double
  ): DataFrame = {
    val e = emb.select(
      col(idCol).as("vec_id"),
      col(blockCol).as("block"),
      col(vecCol).cast("array<double>").as("v")
    )
    val withNorm = e.withColumn("norm", sqrt(dotFold(col("v"), col("v"))))
    withNorm
      .as("a")
      .join(withNorm.as("b"), col("a.block") === col("b.block") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine", dotFold(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")))
      .filter(col("cosine") >= threshold)
      .select(
        col("a.vec_id").as("vec_a"),
        col("b.vec_id").as("vec_b"),
        round(col("cosine"), 4).as("cosine")
      )
  }

  /** Scale path for embedding near-dup detection: block on
    * (blockCol × multi-table hyperplane LSH bucket), with the PLANE
    * COUNT a caller-supplied function of the corpus size. Round 10
    * lesson: a FIXED plane count means fixed bucket cardinality, so
    * occupancy — and the candidate self-join — grows ~N²/const; at
    * the 50× scaling point the fixed-geometry version spilled the
    * disk to death (>250 GB of candidate shuffle). With planes ≈
    * ceil(log2(N/target)) bucket cardinality grows WITH the corpus
    * and per-bucket occupancy stays ~target — the same
    * corpus-scaled-geometry contract as SemDeDup's k = N/target.
    *
    * Shape: explode each vector to `numTables` (vec_id, block, nv,
    * tbl, bucket) rows CARRYING the normalized vector, equi-join per
    * (block, tbl, bucket), score the native graft_dot INLINE in the
    * join stage, filter to τ survivors, and only then distinct the
    * (few) near-dup pairs. Round 13 lesson: the original
    * narrow-key shape (keys without payload → 41M-pair distinct → two
    * vector back-joins, "one dot per unique pair") measured a
    * MULTI-TABLE DUPLICATE FACTOR OF 1.003 at the 256× decade — a
    * candidate pair almost never collides in a second table — so
    * dedup-before-scoring saved 0.3% of the dots while paying two
    * extra shuffle+sorts of pair×vector intermediates (~530 B/row ×
    * 41M rows at 256×), an allocation-heavy tail that ran 85–167 s
    * with wild GC-bound pass variance. Scoring inline shuffles only
    * the `numTables`·N exploded payload rows (whose size the
    * corpus-scaled geometry already holds linear in N), never
    * anything pair-proportional, and the same 256× point runs in
    * 9.6 s — identical output, 8.8× faster, pass-stable. At cluster
    * scale the shape is also skew-robust: a hot bucket costs extra
    * in-stage dots (cheap, vectorized) instead of an extra shuffle of
    * its quadratic pair fan-out, and AQE's skew-join splitting
    * applies directly to the one payload join.
    *
    * Buckets come from [[graft.sim.Similarity.lshBucket]]'s seeded
    * random hyperplanes (each table's planes live at
    * `planeBase + tbl · maxPlanes`, a disjoint id range from q36's
    * ANN tables).
    *
    * RECALL CONTRACT (round-13 law certification against a salted
    * exact brute-force truth; round-14 MEASURED at the operating
    * point against planted controlled-cosine families —
    * ScaleUp.PlantCosines, the planted-recall probe, SCALING_r14
    * `q34_planted_recall`): per-pair recall at true cosine c is the
    * multi-table union R(c) = 1-(1-q^m)^L with q = 1-arccos(c)/π.
    * The r14 measurement validated the law (every planted band within
    * binomial 2σ, precision exactly 1.0) — and thereby exposed the
    * fixed-L decay: at L=16, R(0.90) measured 0.940 at m=12 and
    * 0.853 at m=14, one plane-step lost per data doubling, collapsing
    * toward 100 TB. Round 15 therefore CORPUS-SCALES L too
    * (DedupSimQueries.embTablesFor): the validated law is solved for
    * the smallest L holding R(0.90) ≥ 0.9 at the corpus's own m —
    * L(7)=6 at sf0.1, L(12)=14 at 100×, L(14)=19 at 256×, L(16)=27
    * at 1024× (spec-pinned table in PropertySpec). MEASURED planted
    * R(0.90) = 0.912/0.900/0.905/0.909 at 100/256/512/1024× — the
    * r14 one-step-per-doubling decay is GONE, every band within the
    * binomial 2σ of the law, precision 1.0 (SCALING_r15). The price
    * is declared and linear: explode rows and candidate volume scale
    * with L (candidates/vector/L measured flat at 3.0-3.5 across the
    * decades), ~×1.36 per plane step — the law says that cost is the
    * recall, there is no cheaper exact-τ blocker in this family.
    * BORDERLINE τ-band recall still decays with scale by design (the
    * blocker is a high-precision candidate generator, not an
    * exhaustive τ-retriever). Above MaxEmbTables (m ≥ 23, N ≈ 0.5B
    * at target 64) the cap binds, the contract declares decay again,
    * and the q129/q138 persisted-cell route — since r15 MULTI-PROBE
    * (CellIndex.ProbeCount cells per vector), which bought back the
    * boundary-split pairs that capped its single-assignment catch at
    * 75-79% — is the designated primary: its catch rate is
    * N-independent (occupancy-targeted k keeps cluster radii and
    * boundary geometry stable) where this path's R decays with m.
    */
  def embeddingNearDupsLsh(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      threshold: Double,
      numTables: Int,
      planesPerTable: Int,
      maxPlanes: Int,
      planeBase: Int,
      dims: Int
  ): DataFrame = {
    require(
      planesPerTable >= 1 && planesPerTable <= maxPlanes,
      s"planesPerTable $planesPerTable outside [1, $maxPlanes]"
    )
    val e = emb.select(
      col(idCol).as("vec_id"),
      col(blockCol).as("block"),
      col(vecCol).cast("array<double>").as("v")
    )
    val n = withNormalized(e, "v")
    // all numTables·planesPerTable sign dots in ONE native loop
    // (graft_lshbuckets) — the per-plane graft_dot fold's generated
    // method outgrew HotSpot's JIT threshold once plane counts became
    // corpus-scaled (measured 25× slower, interpreted); plane ids
    // keep the planeBase + t·maxPlanes stride
    val mat =
      for { t <- 0 until numTables; j <- 0 until planesPerTable }
        yield graft.sim.Similarity.hyperplane(planeBase + t * maxPlanes + j, dims)
    val keys = n
      .select(
        col("vec_id"),
        col("block"),
        col("nv"),
        posexplode(GraftFunctions.lshBuckets(col("v"), mat, planesPerTable)).as(Seq("tbl", "bucket"))
      )
    // volume points (graft.Volumes — no-ops unless observation is on):
    // candidates = bucket-collision pairs scored, survivors = τ-pairs
    // pre-distinct, pairs = the output. candidates must stay ∝ N under
    // the corpus-scaled geometry — the scaling artifact asserts it.
    // Join strategy at scale (r17, corrected r18): planned as a plain
    // equi-join so the optimizer keeps broadcasting the small side at
    // small SF, but at decade scale the static choice is sort-merge —
    // which sorts BOTH payload sides: at 2048× that is 2 × ~77 GB of
    // exploded 550 B rows through UnsafeExternalSorter on top of the
    // shuffle files themselves, and the r16 campaign died exactly
    // there on ENOSPC (stage 286). Two session levers remove the
    // external sorts (GraftSession): (a) AQE's runtime SMJ→shuffled-
    // hash conversion — NO sorts when every measured post-shuffle
    // partition fits the local-map threshold; OPT-IN (set the AQE
    // advisory partition size to the 16m threshold): the session's
    // advisory stays 64m > the 16m threshold, which keeps the
    // conversion OFF because
    // DynamicJoinSelection.preferShuffledHashJoin requires
    // advisory <= threshold before it considers partition sizes at
    // all (r17 shipped 64m/16m, so its "conversion" never engaged —
    // the decade survived on lever (b) alone; engaging it by default
    // doubled the iterative kmeans family at sf0.1, so default-off);
    // (b) finer AQE initial partitions (the session plans every
    // shuffle at 8x its base width), which keep any partition the
    // conversion skips sorting IN MEMORY
    // (stageprobe_q34_512x: 512-task reduce, zero spill). The two
    // join sides are the SAME exchange (canonically equal — no hint
    // to break it — so AQE's stage cache writes the shuffle once and
    // reads it twice), and per-bucket occupancy is bounded by the
    // corpus-scaled geometry. Disk high-water drops from ~3 copies of
    // the exploded frame (2 shuffles + sort runs) to ~1.
    val candidates = graft.Volumes.observe(
      keys
        .as("a")
        .join(
          keys.as("b"),
          col("a.block") === col("b.block") && col("a.tbl") === col("b.tbl") &&
            col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id")
        ),
      "q34_candidates"
    )
    val survivors = graft.Volumes.observe(
      candidates
        .withColumn("cosine", GraftFunctions.dot(col("a.nv"), col("b.nv")))
        .filter(col("cosine") >= threshold),
      "q34_survivors"
    )
    graft.Volumes.observe(
      survivors
        .select(
          col("a.vec_id").as("vec_a"),
          col("b.vec_id").as("vec_b"),
          round(col("cosine"), 4).as("cosine")
        )
        .distinct(),
      "q34_pairs"
    )
  }

}
