package graft.search

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Formats

/** Persisted BM25 retrieval index — the q87/q107 "pay one shuffle at
  * ingest, amortize it over every query" story applied to text search.
  *
  * The index is the classic inverted file: one postings row per
  * (token, doc) with the term frequency AND the document length
  * denormalized in, written as a managed table BUCKETED BY token.
  * Because a search's term set is a driver-known literal (it IS the
  * query), the postings read carries an `isin` filter on the bucket
  * column and Spark prunes whole buckets — a query touches the file
  * groups its terms hash into, not the corpus
  * (SelectedBucketsCount asserted in SearchSpec). Every statistic BM25
  * needs at query time is then derivable from what the pruned read
  * returns plus O(batches) rows of side metadata:
  *
  *   - tf, dl: on the postings row itself;
  *   - df(t): count of postings for t, a window over the pruned read
  *     partitioned by token — complete because the read returns ALL
  *     of a matched token's postings, and exchange-free because a
  *     bucketed scan is already hash-partitioned by token;
  *   - n_docs, sum_dl: from the `<table>_stats` companion table, one
  *     row per ingest batch, read and summed on the driver at query
  *     time (never a corpus scan).
  *
  * So a search is one plan whose only shuffle is on query_id, for the
  * score sum and the top-k ranking together (see [[search]]).
  *
  * Scoring uses q76's rational-idf BM25 (k1 = 1.2, b = 0.75; idf =
  * (N - df + 0.5)/(df + 0.5), no libm) with one boundary hardening:
  * each per-term score is converted to integer BASIS POINTS
  * (round(s·10⁴) as BIGINT) BEFORE the per-(query, doc) sum, so the
  * accumulated score is an order-free integer and the (score_bp DESC,
  * doc_id ASC) ranking is bit-deterministic under any partitioning —
  * the fp-sum-order caveat documented on tfidfCosinePairs cannot
  * arise here.
  *
  * Incremental maintenance mirrors [[graft.dedup.Dedup]]'s signature
  * index: [[appendIndex]] appends a daily batch's postings preserving
  * the bucket layout (Spark refuses a mismatched spec) and appends one
  * stats row; SearchSpec asserts append-then-search ≡
  * rebuild-then-search. A format-version table property gates reads:
  * changing the tokenizer or scoring constants bumps
  * [[FormatVersion]] and a stale index fails loudly instead of
  * returning silently wrong scores.
  *
  * Reference anchor: the reference has no search surface; this extends
  * q76 (document top-terms) to the retrieval direction a training
  * pipeline needs for eval-set decontamination lookups and
  * "find the docs about X" curation audits.
  */
object Bm25Index {

  /** One query term's entry in [[search]]'s request literal: the ids of
    * the queries that ask for it, and the corpus stats its score needs.
    */
  private case class TermRequest(query_ids: Seq[Int], n_docs: Long, sum_dl: Long)

  /** Bump when the tokenizer regex or scoring constants change: an
    * index built under another version must not serve queries.
    */
  val FormatVersion = 1

  val VersionProp = "graft.bm25_format_version"

  /** q76's tokenizer — the two must stay identical or q76-calibrated
    * relevance judgments stop transferring to the index.
    */
  val TokenPattern = "[a-z0-9]+"

  private def statsTable(table: String) = s"${table}_stats"

  /** Postings rows (token, doc_id, tf, dl) for a document batch. dl is
    * denormalized into every posting so query-time scoring never joins
    * a doc-keyed side table (which would shuffle on doc_id — the key
    * the bucketing deliberately does NOT use).
    */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    postingsObserving(docs, idCol, textCol, None)

  /** [[postings]], optionally observing the batch's stats row on the
    * per-doc length frame: one row per document, so `count` there is
    * n_docs and `sum(dl)` is sum_dl — the same values [[batchStats]]
    * derives with a second evaluation of the whole tokenise → group →
    * join pipeline.
    */
  private def postingsObserving(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      stats: Option[Observation]
  ): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(expr(s"regexp_extract_all(lower($textCol), '$TokenPattern', 0)")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dl0 = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dl = stats.fold(dl0)(o => dl0.observe(o, count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")))
    tf.join(dl, "doc_id").select(col("token"), col("doc_id"), col("tf"), col("dl"))
  }

  /** Build + persist the bucketed postings table and its one-row stats
    * companion, stamped with [[FormatVersion]]. Clean-slate handling
    * (catalog drop + orphan-directory delete through the catalog's
    * default path) follows Dedup.writeSignatureIndex.
    */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String, table: String, numBuckets: Int): Unit = {
    val spark = docs.sparkSession
    Seq(table, statsTable(table)).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(t)
      val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog.defaultTablePath(ident))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    val stats = writePostings(docs, idCol, textCol, table, numBuckets, SaveMode.Overwrite)
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ('$VersionProp' = '$FormatVersion')")
    stats.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(statsTable(table))
  }

  /** Append a batch: version gate FIRST, postings appended under the
    * stored bucket spec, one stats row appended — observed during the
    * postings write, so the batch is tokenised once. Doc ids must be
    * disjoint from prior batches (the ingest contract everywhere in
    * this codebase) — df/n_docs arithmetic double-counts otherwise.
    */
  def appendIndex(docs: DataFrame, idCol: String, textCol: String, table: String): Unit = {
    val spark = docs.sparkSession
    readIndex(spark, table) // loud format/version gate
    val meta = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
    val numBuckets = meta.bucketSpec
      .map(_.numBuckets)
      .getOrElse(throw new IllegalStateException(s"bm25 index '$table' is not bucketed"))
    writePostings(docs, idCol, textCol, table, numBuckets, SaveMode.Append)
      .write
      .mode(SaveMode.Append)
      .format("parquet")
      .saveAsTable(statsTable(table))
    // r15: postings grow one file per bucket per batch, stats one file
    // per batch — both bounded by the shared relative-threshold
    // compaction (no-op below it; see Formats.compactBucketed)
    compactIndex(spark, table)
  }

  /** Shared small-files maintenance for the postings table and its
    * stats companion. The stats rewrite is answer-invisible because
    * the reader only ever aggregates the batch rows (sum/count) —
    * coalescing files changes neither. Returns true iff either
    * rewrite ran.
    */
  def compactIndex(
      spark: SparkSession,
      table: String,
      maxFilesPerBucket: Int = Formats.DefaultCompactFilesPerBucket
  ): Boolean = {
    val postingsRan = Formats.compactBucketed(spark, table, maxFilesPerBucket)
    val statsRan = Formats.compactPlain(spark, statsTable(table), maxFilesPerBucket)
    postingsRan || statsRan
  }

  /** A batch's stats row (n_docs, sum_dl), from a second evaluation of
    * its postings: the reference the observed row of [[writePostings]]
    * must equal, and its recount when a re-run map stage made the
    * observation unreliable.
    */
  private[graft] def batchStats(post: DataFrame): DataFrame =
    post
      .groupBy(col("doc_id"))
      .agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

  /** Write a batch's postings into the token-bucketed `table` (one file
    * per bucket per batch, see Formats.writeBucketed) and return its
    * stats row, observed on the per-doc frame during that same write,
    * so tokenise → group → join runs once.
    *
    * The observation is accumulator-backed and sits in a map stage,
    * which Spark can re-run after a fetch failure and then count twice.
    * A second observation, Σtf over the written postings, sits in the
    * write's result stage, whose updates Spark applies once per
    * partition; Σdl over the docs must equal it, and when it does not
    * the row is recounted with [[batchStats]]. Observation names are
    * fixed, not minted per call, so every batch's write plans alike.
    */
  private def writePostings(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      table: String,
      numBuckets: Int,
      mode: SaveMode
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val perDoc = new Observation("bm25_batch_docs")
    val written = new Observation("bm25_batch_postings")
    val post = postingsObserving(docs, idCol, textCol, Some(perDoc))
    post
      .repartition(numBuckets, col("token"))
      .observe(written, sum(col("tf")).as("sum_tf"))
      .write
      .mode(mode)
      .option("maxRecordsPerFile", Formats.MaxRecordsPerFile.toString)
      .format("parquet")
      .bucketBy(numBuckets, "token")
      .sortBy("token")
      .saveAsTable(table)
    // an observed map omits null metrics: an empty batch has no sums
    val m = perDoc.get
    val sumDl = m.get("sum_dl").map(_.asInstanceOf[Long])
    if (sumDl != written.get.get("sum_tf")) batchStats(post)
    else Seq((m("n_docs").asInstanceOf[Long], sumDl)).toDF("n_docs", "sum_dl")
  }

  /** Open a persisted index, refusing a format-version mismatch
    * (metadata-only check).
    */
  def readIndex(spark: SparkSession, table: String): DataFrame = {
    val props = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
      .properties
    val v = props.get(VersionProp)
    require(
      v.contains(FormatVersion.toString),
      s"bm25 index '$table' has format version ${v.getOrElse("<none>")}, expected $FormatVersion — rebuild it"
    )
    spark.table(table)
  }

  /** Top-k BM25 retrieval for a literal query set. `queries` is
    * (query_id, terms) — driver-known by nature (it IS the search
    * request), which is what lets the term filter be an `isin` of
    * literals the bucketed scan can prune on.
    *
    * One plan, one shuffle, three jobs (the stats read, the shuffle's
    * map stage, the result stage):
    *
    *   - df(t) is `count(1) over (partition by token)` on the pruned
    *     bucketed scan. The scan is already hash-partitioned by token
    *     (one task per bucket), so the window plans no exchange, and
    *     the scan is read once — no checkpoint, no df side frame.
    *   - The request is a map literal token → (query ids, n_docs,
    *     sum_dl), looked up per posting and exploded into one row per
    *     asking query. A map literal reaches generated code as a
    *     reference object, so a new term set — or new corpus stats
    *     after an append — compiles nothing. The corpus stats ride in
    *     the map because a bare stats literal, or any extraction from
    *     a literal, is foldable: ConstantFolding would inline it as a
    *     `long` constant and every append would compile new classes.
    *   - n_docs and sum_dl are the O(batches) `_stats` rows, read in
    *     one small scan job and summed on the driver.
    *   - `repartition(query_id)` is the one exchange: the (query_id,
    *     doc_id) score sum and the per-query ranking window both
    *     accept that partitioning.
    *
    * Scale note: the exchange sends one query's whole candidate set,
    * Σ df(term) over its terms, to one task, with no map-side partial
    * sum. That suits literal curation queries, whose candidates are
    * few by construction. At the retrieval extreme (a stopword query
    * over 100 TB) the ranking should instead be the graft_topk bounded
    * heap over a partially aggregated sum, q99-style.
    */
  def search(spark: SparkSession, table: String, queries: Seq[(Int, Seq[String])], k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(queries.nonEmpty, "queries must be non-empty")
    import org.apache.spark.sql.expressions.Window
    val idx = readIndex(spark, table) // the version gate runs before any job
    val (nDocs, sumDl) = spark
      .table(statsTable(table))
      .select(col("n_docs"), coalesce(col("sum_dl"), lit(0L))) // an empty batch's sum_dl is null
      .collect()
      .foldLeft((0L, 0L)) { case ((n, s), r) => (Math.addExact(n, r.getLong(0)), Math.addExact(s, r.getLong(1))) }
    val requests = queries
      .flatMap { case (qid, terms) => terms.distinct.map(_ -> qid) }
      .groupBy(_._1)
      .map { case (t, qids) => t -> TermRequest(qids.map(_._2), nDocs, sumDl) }
    val term = element_at(typedLit(requests), col("token"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score_bp").desc, col("doc_id").asc)
    idx
      .filter(col("token").isin(requests.keys.toSeq: _*))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("token")))) // postings unique per (token, doc)
      .select(
        explode(term("query_ids")).as("query_id"),
        col("doc_id"),
        col("tf"),
        col("dl"),
        col("df"),
        term("n_docs").as("n_docs"),
        term("sum_dl").as("sum_dl")
      )
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("idf", (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      .withColumn(
        "s",
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl"))))
      )
      // integer basis points BEFORE the sum: order-free accumulation,
      // bit-deterministic ranking (see object doc)
      .withColumn("bp", round(col("s") * lit(10000), 0).cast("long"))
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("bp")).as("score_bp"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score_bp"))
  }

  /** The same retrieval computed directly from a document frame with
    * no persisted state — the acceptance reference for the index path
    * (SearchSpec asserts byte-equality) and the one-shot form for
    * ad-hoc use.
    */
  def searchDirect(docs: DataFrame, idCol: String, textCol: String, queries: Seq[(Int, Seq[String])], k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val q = queries
      .flatMap { case (qid, terms) => terms.distinct.map(t => (qid, t)) }
      .toDF("query_id", "token")
    // DISK_ONLY checkpoint default (r19): the corpus postings frame is
    // corpus-PROPORTIONAL (one row per (token, doc) — ~5 GB of
    // deserialized rows at the 512× decade, more than the whole heap
    // at 2048×) and re-read only three times (df, stats, scoring). A
    // MEMORY_AND_DISK attempt at residency drained the shared pool's
    // unroll side while 32 concurrent scan tasks asked for aggregate
    // maps — HashAggregate.createHashMap refused 256 KB and the 512×
    // fusion probe died twice at 32 cores (r18) and once more after
    // the scoring-aggregate bound (r19). Disk-backed residency costs
    // one serialized write + three reads of a frame this code was
    // about to materialize anyway.
    val post = graft.dedup.Dedup
      .checkpointHeavy(postings(docs, idCol, textCol), org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // df restricted to the QUERY's tokens before the forced broadcast
    // (r17): the corpus-wide per-token df frame scales with vocabulary
    // — at the 512× decade broadcasting it exhausted execution memory
    // (AGGREGATE_OUT_OF_MEMORY in an unrelated stage) — while only
    // tokens surviving the q join can reach the score. The semi-join
    // keeps df values identical for every token that matters; the
    // index-path `search` gets the same effect from its isin-pruned
    // scan.
    val dfreq = post
      .join(broadcast(q.select(col("token")).distinct()), Seq("token"), "left_semi")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df")) // postings unique per (token, doc)
    val stats = post
      .groupBy(col("doc_id"))
      .agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score_bp").desc, col("doc_id").asc)
    post
      .join(broadcast(q), "token")
      .join(broadcast(dfreq), "token")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("idf", (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      .withColumn(
        "s",
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl"))))
      )
      .withColumn("bp", round(col("s") * lit(10000), 0).cast("long"))
      // Scoring-aggregate state bound (r19, the r18 fusion OOMs): a
      // query-by-example probe carries a document's FULL token set, so
      // nearly every doc sharing any term is a candidate — the
      // (query_id, doc_id) sum's per-task partial maps scale with
      // corpus × probes on the postings frame's inherited coarse
      // partitions (two 32-core OOMs at the 512× fusion probe). One
      // skinny exchange on the aggregate keys at the postings-size-
      // proportional width bounds keys/task, dedup-aggregate style;
      // it satisfies the aggregate's required distribution, so no
      // second shuffle is planned, and the basis-point sum is
      // order-free so results are bit-identical under any
      // partitioning. Width from the CHECKPOINTED postings frame —
      // the scored join's own multiply-path stats are garbage.
      .repartition(graft.dedup.Dedup.clusterWidth(post), col("query_id"), col("doc_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("bp")).as("score_bp"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score_bp"))
  }
}
