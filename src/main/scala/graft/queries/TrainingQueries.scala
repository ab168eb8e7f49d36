package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Sampling
import graft.sources.Tables
import graft.text.TextFunctions

/** §2.J LLM-training-data curation operators (round 3).
  *
  * The stages between raw crawl and training shards that q26-q34 do
  * not yet cover: PII redaction, repetition filtering (Gopher-style),
  * train/eval contamination checks, URL-keyed dedup, character-class
  * quality, and tokenizer OOV-rate evaluation. The reference's string
  * cleansing (gerrydb_etl/bootstrap/pl_geo.py:103-107) is the same
  * normalize-then-derive shape at census scale; these extend it to
  * corpus scale.
  *
  * Every operator is a scalar projection or a key-bounded aggregate /
  * equi-join — no cross joins, no driver-side loops — and every one is
  * DuckDB-oracle-checked (PII/URLs are synthesized deterministically
  * from doc_id, the q40/q59 pattern, since the synthetic corpus has
  * none of its own).
  */
object TrainingQueries {

  /** The BM25 scoring CTE chain of the q117 oracle (postings → df →
    * doc length → corpus stats → per-term basis points → per-(query,
    * doc) sum), reading a caller-defined CTE `q(query_id, token)` and
    * yielding `g(query_id, doc_id, score_bp)` — ONE definition of the
    * oracle-side arithmetic shared with q140's hybrid fusion, the
    * strhash2Sql twin-sharing convention.
    */
  private[queries] lazy val bm25ScoreCtes: String =
    """dt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM dt GROUP BY 1, 2),
      |dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
      |s AS (SELECT q.query_id, tf.doc_id,
      |             CAST(round(((st.n_docs - dfr.df + CAST(0.5 AS DOUBLE)) / (dfr.df + CAST(0.5 AS DOUBLE)))
      |                  * (tf.tf * CAST(2.2 AS DOUBLE))
      |                  / (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
      |                     + CAST(0.75 AS DOUBLE) * (dl.dl / (CAST(st.sum_dl AS DOUBLE) / st.n_docs))))
      |                  * 10000) AS BIGINT) AS bp
      |      FROM q JOIN tf USING (token) JOIN dfr USING (token)
      |      JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st),
      |g AS (SELECT query_id, doc_id, CAST(sum(bp) AS BIGINT) AS score_bp FROM s GROUP BY 1, 2)""".stripMargin

  val DupRatioFlag = 0.6
  val TopRatioFlag = 0.1
  val ContamN = 5
  val OovVocabSize = 100
  val OovMinCount = 20
  val ShardTokenBudget = 2048
  // q72: context-window chunking — 64-token windows, stride 48
  // (16-token overlap), the pre-tokenization chunk step for training /
  // retrieval indexing.
  val ChunkTokens = 64
  val ChunkStride = 48
  // q78: exact heavy hitters — tokens with share >= 1/HeavyHitterDenom
  // of all occurrences (threshold compared in integers: no fp boundary).
  val HeavyHitterDenom = 500
  // q91: sample size per source (survivor gate = 4x this, see
  // Sampling). 5, not 10: sf0.01 has 25 docs/source, and k=5 puts the
  // gate budget (20) UNDER the group size there, so CI exercises the
  // real threshold branch, not just the keep-all sentinel (the branch
  // a long/long-division type bug hid in until sf0.1).
  val SampleK = 5
  // q111: concat-and-chunk sequence packing — context windows of
  // PackSeqTokens tokens over the per-source concatenated stream.
  val PackSeqTokens = 1024L
  // q112: the quality-filter linear model — weights in basis points
  // over exact integer features (see etl/LinearModel.scala). The
  // model is DATA: swap this list and the plan shape is unchanged.
  val QualityWeightsBp: Seq[(String, Long)] = Seq(
    "len_capped" -> 5L,
    "n_tokens" -> 10L,
    "stop_hits" -> 120L,
    "punct_hits" -> -80L,
    "digit_hits" -> -40L
  )
  val QualityBiasBp = -2000L
  // threshold sits near the score median of the synthetic corpus so
  // both classes are populated at every SF (asserted in TrainingSpec)
  val QualityKeepBp = 500L
  // q115: diversity-capped selection — best DiverseTopK docs per
  // source, then the global DiverseTopN of those survivors.
  val DiverseTopK = 10
  val DiverseTopN = 50L
  // q116: BPE merge candidates — the top adjacent char pairs.
  val BpePairTopK = 50L
  // q117: persisted BM25 retrieval — the literal query set (a search
  // request is driver-known by nature: that's what makes the term
  // filter bucket-prunable) and the result depth. 'dup' is the
  // selective term (df ≈ 5% of docs); the rest are mid-frequency.
  val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("customer", "join"),
    2 -> Seq("vector", "merge", "slow"),
    3 -> Seq("dup", "spark")
  )
  val Bm25TopK = 5
  val Bm25IndexTable = "graft_bm25_index"
  val Bm25IndexBuckets = 8
  // q121: IPF mixture weights — length-class boundaries (chars) and
  // the number of full (source-step, class-step) rounds.
  val IpfShortMax = 350
  val IpfMediumMax = 550
  val IpfRounds = 2
  // q92: PMI collocations — min pair count and global top-k size.
  val PmiMinCount = 5
  val PmiTopK = 50
  // q94: temperature-scaled mixing — weight ∝ n^alpha, rendered as
  // target doc counts against a fixed budget.
  val MixAlpha = 0.3
  val MixBudget = 10000L

  /** Deterministic PII injection: every 3rd doc gets an email, every
    * 5th a phone number, appended to the text. Public so TrainingSpec
    * tests redaction against the SAME injection recipe (a private
    * copy there would silently drift).
    */
  def withPii(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      concat(
        col("text"),
        when(col("doc_id") % 3 === 0, concat(lit(" contact user"), col("doc_id"), lit("@example.org")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, concat(lit(" call +1-555-"), lpad((col("doc_id") * 7) % 10000, 4, "0")))
          .otherwise(lit(""))
      ).as("raw")
    )

  /** The q112 feature block + fixed-point model score over any
    * (doc_id, text, n_chars) frame — public so q113's cluster-winner
    * selection ranks on the SAME score the quality gate uses (a
    * private copy there would silently drift).
    */
  def qualityModelScores(docs: DataFrame, passthrough: Seq[String] = Nil): DataFrame =
    docs
      .select(
        (col("doc_id") +: passthrough.map(col)) ++ Seq(
          least(col("n_chars").cast("long"), lit(400L)).as("len_capped"),
          TextFunctions.tokenCountWs(col("text")).cast("long").as("n_tokens"),
          TextFunctions.stopwordHits(col("text")).cast("long").as("stop_hits"),
          TextFunctions.punctHits(col("text")).cast("long").as("punct_hits"),
          regexp_count(col("text"), lit("[0-9]")).cast("long").as("digit_hits")
        ): _*
      )
      .withColumn("score_bp", graft.etl.LinearModel.scoreBp(QualityBiasBp, QualityWeightsBp))

  /** q93's whole plan over any (doc_id, text) frame — factored so
    * TrainingSpec can drive it over a synthetic hot-bigram corpus
    * (the Zipf-skew case the scoring join must survive at scale).
    */
  /** The per-occurrence (doc_id, w1, w2) bigram event stream behind
    * q93 — factored so the spec's salted variant scores the exact
    * same events.
    */
  private[graft] def bigramEvents(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("t"))
    toks
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("t"), explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
      .select(
        col("doc_id"),
        try_element_at(col("t"), col("i")).as("w1"),
        try_element_at(col("t"), col("i") + 1).as("w2")
      )
  }

  private[graft] def bigramLmScore(docs: DataFrame): DataFrame = {
    val events = bigramEvents(docs)
    // the model tables are CHECKPOINTED, which buys two things at
    // once: (1) counts feeds both the scoring join and the prefix
    // aggregate — unchecked, the whole events→counts pipeline runs
    // twice; (2) Zipf-hot scoring keys ("of the") need AQE's
    // skew-join split, and OptimizeSkewedJoin only matches a join
    // whose children are sorts DIRECTLY over shuffle stages — with
    // the aggregate left inside the build subtree the rule never
    // fires (measured in TrainingSpec's hot-bigram case; force-mode
    // made no difference), while a checkpointed model joins as
    // scan→exchange→sort and splits fine.
    val counts = events.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab")).localCheckpoint()
    val prefix = counts.groupBy(col("w1")).agg(sum(col("n_ab")).as("n_a")).localCheckpoint()
    events
      .join(counts, Seq("w1", "w2"))
      .join(prefix, Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(log2(col("n_ab").cast("double") / col("n_a"))), 4).as("lm_score")
      )
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q61: PII redaction — count and strip emails/phones as one scalar
    // projection (scan-bound at 100 TB; the regex chain rides the
    // parquet scan inside whole-stage codegen). Output carries the
    // md5 of the redacted text so the oracle checks the full rewrite
    // without shipping document bodies.
    "q61_pii_redact" -> { (s, dir) =>
      withPii(Tables.documents(s, dir)).select(
        col("doc_id"),
        regexp_count(col("raw"), lit(TextFunctions.EmailRe)).as("n_emails"),
        regexp_count(col("raw"), lit(TextFunctions.PhoneRe)).as("n_phones"),
        md5(TextFunctions.redactPii(col("raw"))).as("redacted_md5")
      )
    },

    // q62: Gopher-style repetition filter — duplicate-token ratio and
    // top-token frequency ratio per doc. One explode + two aggregates
    // (token counts per doc, then per-doc rollup): the shuffle carries
    // (doc_id, token) counts, never documents.
    "q62_repetition_filter" -> { (s, dir) =>
      val tokCounts = Tables
        .documents(s, dir)
        .select(col("doc_id"), explode(split(trim(col("text")), TextFunctions.WsRun)).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
      tokCounts
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_toks"), count(lit(1)).as("n_distinct"), max(col("cnt")).as("top_cnt"))
        .select(
          col("doc_id"),
          col("n_toks"),
          col("n_distinct"),
          col("top_cnt"),
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_toks"), 4).as("dup_ratio"),
          round(col("top_cnt").cast("double") / col("n_toks"), 4).as("top_ratio"),
          (
            (lit(1.0) - col("n_distinct").cast("double") / col("n_toks")) > DupRatioFlag ||
              (col("top_cnt").cast("double") / col("n_toks")) > TopRatioFlag
          ).as("flagged")
        )
    },

    // q63: train/eval contamination — eval docs (doc_id % 10 == 0)
    // sharing any 5-gram with a train doc, with shared-shingle and
    // touched-train-doc counts. Candidates come from the df-capped
    // portable-hash shingle equi-join (the q31/q32 machinery at n=5);
    // at 100 TB the eval side is tiny and broadcasts.
    "q63_contamination" -> { (s, dir) =>
      val sh = graft.dedup.Dedup
        .dfCapped(
          graft.dedup.Dedup.shingles(Tables.documents(s, dir), "doc_id", "text", ContamN),
          DedupSimQueries.MaxShingleDf
        )
        .transform(graft.dedup.Dedup.checkpointHeavy)
      val evalSide = sh.filter(col("doc_id") % 10 === 0).withColumnRenamed("doc_id", "eval_doc")
      val trainSide = sh.filter(col("doc_id") % 10 =!= 0).withColumnRenamed("doc_id", "train_doc")
      evalSide
        .join(trainSide, "shingle")
        .groupBy(col("eval_doc"))
        .agg(
          countDistinct(col("shingle")).as("n_shared_shingles"),
          countDistinct(col("train_doc")).as("n_train_docs")
        )
    },

    // q64: URL canonicalization + dedup — normalize (lowercase, strip
    // query, strip trailing slash) then group: the canonical key is
    // what shuffles, one row per crawled URL variant never travels
    // beyond its aggregate.
    "q64_url_dedup" -> { (s, dir) =>
      Tables
        .documents(s, dir)
        .select(
          col("doc_id"),
          concat(
            lit("https://"),
            col("source"),
            lit(".example.com/docs/"),
            col("doc_id") % 40,
            when(col("doc_id") % 7 === 0, lit("/")).otherwise(lit("")),
            when(col("doc_id") % 2 === 0, concat(lit("?utm="), col("doc_id"))).otherwise(lit(""))
          ).as("url")
        )
        .groupBy(TextFunctions.urlCanonical(col("url")).as("canonical_url"))
        .agg(count(lit(1)).as("n_urls"), min(col("doc_id")).as("keep_doc"))
    },

    // q65: character-class quality — per-class frequencies and a Gini
    // diversity score (1 - sum p_i^2). Rational arithmetic with a fixed
    // evaluation order, so both engines produce bit-identical doubles
    // (no log/entropy libm drift). Pure scalar projection.
    "q65_char_classes" -> { (s, dir) =>
      val n = length(col("text")).cast("double")
      val letters = regexp_count(col("text"), lit("[a-zA-Z]")).cast("double")
      val digits = regexp_count(col("text"), lit("[0-9]")).cast("double")
      val spaces = regexp_count(col("text"), lit(TextFunctions.WsClass)).cast("double")
      val other = n - letters - digits - spaces
      val gini =
        lit(1.0) - (((letters / n) * (letters / n) + (digits / n) * (digits / n)) +
          (spaces / n) * (spaces / n) + (other / n) * (other / n))
      Tables
        .documents(s, dir)
        .filter(length(col("text")) > 0)
        .select(
          col("doc_id"),
          letters.cast("long").as("n_letters"),
          digits.cast("long").as("n_digits"),
          spaces.cast("long").as("n_spaces"),
          other.cast("long").as("n_other"),
          round(gini, 4).as("char_gini")
        )
    },

    // q70: source-weighted data mixing — each source keeps a
    // config-driven fraction of its documents via the deterministic
    // md5-threshold coin (q44's technique: an 8-hex-digit prefix
    // compared against the fraction as a hex threshold; 'g' sorts
    // after every hex digit = keep-all). Output is the per-source
    // mixing report. One aggregate, no row explosion, and re-running
    // selects the same documents — the property a resumable 100 TB
    // mixing job needs.
    "q70_source_mixing" -> { (s, dir) =>
      val srcNum = substring(col("source"), 4, 10).cast("int")
      val thr = when(srcNum % 4 === 0, lit("g"))
        .when(srcNum % 4 === 1, lit("80000000"))
        .when(srcNum % 4 === 2, lit("40000000"))
        .otherwise(lit("1999999a"))
      Tables
        .documents(s, dir)
        .select(col("source"), (substring(md5(col("text")), 1, 8) < thr).cast("long").as("kept"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"))
        .withColumn("kept_ratio", round(col("n_kept").cast("double") / col("n_docs"), 4))
    },

    // q71: token-budget shard packing — documents packed into shards of
    // ~budget tokens per source via a running token cumsum (shard id =
    // tokens-before DIV budget). The window is per-source (bounded),
    // arithmetic is integer-only, and the assignment is deterministic
    // and resumable — the sequence-packing step before writing
    // training shards.
    "q71_token_shards" -> { (s, dir) =>
      // running token total via the two-pass bucketed prefix sum: a
      // plain per-source window here is one task sorting a whole
      // source — Prefix.cumSum keeps the identical answer with the
      // sort split across order-range buckets (see Prefix.scala)
      graft.operators.Prefix
        .cumSum(
          Tables
            .documents(s, dir)
            .select(col("doc_id"), col("source"), TextFunctions.tokenCountWs(col("text")).cast("long").as("n_toks")),
          Seq("source"),
          "doc_id",
          "n_toks"
        )
        .select(
          col("doc_id"),
          col("source"),
          col("n_toks"),
          expr(s"(cum - n_toks) DIV $ShardTokenBudget").as("shard_id")
        )
    },

    // q67: tokenizer OOV rate — per-doc fraction of token occurrences
    // outside the q47 top-k vocabulary. The vocabulary is a bounded
    // top-k (broadcast); the token stream never shuffles, only the
    // per-doc counts do.
    "q67_oov_rate" -> { (s, dir) =>
      val tokens = Tables
        .documents(s, dir)
        .select(col("doc_id"), explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("token"))
      // Top-k via orderBy+limit = distributed TakeOrdered (per-partition
      // top-k, then a k-sized driver merge) — a global row_number window
      // here would funnel the whole above-min-count vocabulary through
      // one partition at 100 TB.
      val vocab = tokens
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= OovMinCount)
        .orderBy(col("n").desc, col("token").asc)
        .limit(OovVocabSize)
        .select(col("token"), lit(1).as("in_vocab"))
      tokens
        .join(broadcast(vocab), Seq("token"), "left_outer")
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_toks"),
          sum(when(col("in_vocab").isNull, 1).otherwise(0)).as("n_oov")
        )
        .select(
          col("doc_id"),
          col("n_toks"),
          col("n_oov"),
          round(col("n_oov").cast("double") / col("n_toks"), 4).as("oov_rate")
        )
    },

    // q72: context-window chunking — each doc split into 64-token
    // windows at stride 48 (16-token overlap), the chunking step
    // before tokenization for training or retrieval indexing. One
    // scalar projection + a bounded explode (fan-out = n_toks/48): no
    // shuffle at all, the chunk stream goes straight to the sink. The
    // chunk body travels as an md5 so the oracle checks the exact
    // reassembled text without shipping it.
    "q72_doc_chunks" -> { (s, dir) =>
      Tables
        .documents(s, dir)
        .select(col("doc_id"), split(trim(col("text")), TextFunctions.WsRun).as("__toks"))
        .select(col("doc_id"), col("__toks"), size(col("__toks")).as("n_toks"))
        .select(
          col("doc_id"),
          col("__toks"),
          col("n_toks"),
          // Spark DIV yields bigint; sequence needs matching endpoint
          // types, so the whole range is built in bigint.
          explode(
            expr(s"sequence(0L, (greatest(n_toks - $ChunkTokens, 0) + ${ChunkStride - 1}) DIV $ChunkStride)")
          ).as("chunk_id")
        )
        .select(
          col("doc_id"),
          col("chunk_id"),
          (col("chunk_id") * ChunkStride + 1).as("tok_start"),
          least(lit(ChunkTokens).cast("long"), col("n_toks") - col("chunk_id") * ChunkStride).as("n_chunk_toks"),
          md5(
            concat_ws(
              " ",
              slice(col("__toks"), (col("chunk_id") * ChunkStride + 1).cast("int"), lit(ChunkTokens))
            )
          ).as("chunk_md5")
        )
    },

    // q73: deterministic group representative via arg-max aggregate —
    // keep the longest doc per (source, lang), ties to the smallest
    // doc_id. max_by over a lexicographic struct key
    // (n_chars, -doc_id) is ONE hash aggregate with map-side
    // partials — the scale-correct alternative to the row_number-
    // window idiom, which shuffles every row of a group into one
    // partition just to keep one of them. The struct key is total
    // over the full BIGINT doc_id domain (no packed-integer overflow
    // assumption); the oracle realizes the same order in HUGEINT.
    "q73_argmax_rep" -> { (s, dir) =>
      val rk = struct(col("n_chars"), (-col("doc_id")).as("neg_id"))
      Tables
        .documents(s, dir)
        .groupBy(col("source"), col("lang"))
        .agg(
          max_by(col("doc_id"), rk).as("rep_doc"),
          max(col("n_chars")).as("rep_chars"),
          count(lit(1)).as("n_docs")
        )
    },

    // q76: BM25 term weighting (rational-idf variant: (N-df+0.5)/
    // (df+0.5) — no log, so no libm last-ulp drift between engines),
    // top-3 terms per doc. Same plan shape as q48: token-keyed df agg
    // broadcast back onto (doc, token) counts; corpus stats ride a
    // 1-row broadcast; the per-doc rank window is bounded by each
    // doc's vocabulary.
    "q76_bm25" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docTok = Tables
        .documents(s, dir)
        .select(col("doc_id"), explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("token"))
      // tf feeds THREE consumers (join left side, df agg, dl agg); the
      // eager checkpoint runs the scan→explode→agg pipeline once
      // instead of once per reference (the q66/shingles pattern —
      // AQE's broadcasts defeat ReusedExchange on self-references; a
      // lazy persist does not help because all three consumers sit in
      // the same job, before the cache is populated). Lifecycle note
      // (same as the shingle checkpoint): tf is corpus-scale, so this
      // local materialization is the per-query/bench form — a
      // production 100 TB index build materializes tf ONCE per corpus
      // snapshot as a doc_id-bucketed parquet table (fault-tolerant,
      // reusable across BM25/TF-IDF/OOV consumers) rather than on
      // executor-local storage per call.
      val tf = docTok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf")).localCheckpoint()
      val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("token").asc)
      tf.join(dfreq, "token")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
        .withColumn("idf", (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
        .withColumn(
          "score",
          col("idf") * (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl"))))
        )
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("token"), col("tf"), col("df"), round(col("score"), 4).as("score"))
    },

    // q78: exact corpus heavy hitters — tokens carrying >= 1/500 of
    // all token occurrences. One token-keyed aggregate + a 1-row
    // broadcast total; the threshold compares in integers
    // (cnt * 500 >= total) so no float boundary can flip membership.
    // The exact-count twin of a count-min/SpaceSaving sketch: at
    // 100 TB the aggregate output (distinct tokens) is the only
    // shuffled data, and the hitters themselves are tiny.
    "q78_heavy_hitters" -> { (s, dir) =>
      // counts is read twice (total + filter) — checkpoint so the
      // token explode runs once; the materialized frame is only the
      // distinct-token vocabulary, tiny next to the token stream.
      val counts = Tables
        .documents(s, dir)
        .select(explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val total = counts.agg(sum(col("cnt")).as("total"))
      counts
        .crossJoin(broadcast(total))
        .filter(col("cnt") * HeavyHitterDenom >= col("total"))
        // share is ONE unrounded IEEE division of two exact integers —
        // bit-identical on any engine. round() here would reintroduce
        // the BigDecimal-HALF_UP vs scaled-float tie-break divergence
        // the quality-score rewrite eliminated (r4 advice).
        .select(col("token"), col("cnt"), col("total"), (col("cnt").cast("double") / col("total")).as("share"))
    },

    // q84: deterministic train/val/test split — the md5-threshold coin
    // (q44/q70's technique) cut at 80/10/10: the hex thresholds are
    // ceil(f * 16^8) rendered in lowercase hex, compared as strings on
    // both engines. Content-keyed (md5 of text, not doc_id), so
    // re-crawled duplicates land in the SAME split — the property that
    // prevents train/test leakage through near-identical copies — and
    // re-running the job reproduces the assignment exactly. One
    // aggregate; per-source split mix reported with a broadcast total.
    "q84_dataset_split" -> { (s, dir) =>
      val coin = substring(md5(col("text")), 1, 8)
      val splitCol = when(coin < TrainThresholdHex, "train")
        .when(coin < ValThresholdHex, "val")
        .otherwise("test")
      // checkpointed: referenced twice (totals + final join) and only
      // sources × 3 rows — without it the corpus scan runs twice
      val bySplit = Tables
        .documents(s, dir)
        .select(
          col("source"),
          splitCol.as("split"),
          TextFunctions.tokenCountWs(col("text")).cast("long").as("n_toks")
        )
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
        .localCheckpoint()
      val totals = bySplit.groupBy(col("source")).agg(sum(col("n_docs")).as("src_docs"))
      bySplit
        .join(broadcast(totals), "source")
        .select(
          col("source"),
          col("split"),
          col("n_docs"),
          col("n_tokens"),
          // unrounded exact-int division (see q78's share note)
          (col("n_docs").cast("double") / col("src_docs")).as("frac")
        )
    },

    // q91: deterministic k-per-source sample — the naive per-group
    // row_number window funnels whole groups through single tasks at
    // 100 TB; Sampling.topKByHash gates the scan with a broadcast
    // count-derived hash threshold first, so the one window sorts only
    // ~oversample·k survivors per group while the answer stays
    // EXACTLY the naive definition (completeness invariant asserted in
    // TrainingSpec, q45-bracket style).
    "q91_group_sample" -> { (s, dir) =>
      Sampling.topKByHash(Tables.documents(s, dir), "source", "doc_id", "text", SampleK)
    },

    // q92: PMI collocations — pointwise mutual information of adjacent
    // token pairs vs their unigram independence baseline, min-count
    // gated, global top-k via orderBy+limit (= distributed
    // TakeOrdered, never a global window). The corpus-level totals
    // ride in as 1-row broadcast joins. Ordering is on the ROUNDED
    // pmi with a (w1, w2) tiebreak, so the cross-engine sort cannot
    // disagree inside an ulp.
    "q92_pmi_collocations" -> { (s, dir) =>
      val toks = Tables
        .documents(s, dir)
        .select(col("doc_id"), expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("t"))
      val uni = toks
        .select(explode(col("t")).as("w"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n_w"))
        .localCheckpoint() // feeds both totals and two join probes
      val uniTot = uni.agg(sum(col("n_w")).as("n_toks"))
      val bg = toks
        .filter(size(col("t")) >= 2)
        .select(col("t"), explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
        .select(try_element_at(col("t"), col("i")).as("w1"), try_element_at(col("t"), col("i") + 1).as("w2"))
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= PmiMinCount)
      val bgTot = toks
        .filter(size(col("t")) >= 2)
        .agg(sum(size(col("t")) - 1).as("n_bigrams"))
      // no broadcast hint on the vocab joins: a real corpus's unigram
      // table is not broadcast-safe; AQE upgrades small sides itself
      bg.join(uni.withColumnRenamed("w", "w1").withColumnRenamed("n_w", "n_w1"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("n_w", "n_w2"), "w2")
        .crossJoin(broadcast(uniTot))
        .crossJoin(broadcast(bgTot))
        .select(
          col("w1"),
          col("w2"),
          col("n_ab"),
          // bounded factors: each ratio stays near 1/vocab..n, no
          // long-overflow n_ab·T² intermediate
          round(
            log2(
              (col("n_ab").cast("double") / col("n_bigrams"))
                * (col("n_toks").cast("double") / col("n_w1"))
                * (col("n_toks").cast("double") / col("n_w2"))
            ),
            4
          ).as("pmi")
        )
        .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
        .limit(PmiTopK)
    },

    // q93: bigram-LM document scoring — the perplexity-style quality
    // filter: score every document by the mean log2 probability of its
    // bigrams under the corpus's own MLE bigram model (q49's counts).
    // Model tables are corpus-bounded aggregates; scoring is two
    // equi-joins + one per-doc aggregate. Every bigram appears in the
    // model by construction (trained on the same corpus), so no
    // smoothing branch. The scoring join's (w1, w2) keys are Zipf-hot
    // at corpus scale ("of the"); TrainingSpec pins the AQE skew-split
    // assumption on a synthetic 49%-hot-bigram corpus and checks the
    // salted fallback agrees.
    "q93_bigram_lm_score" -> { (s, dir) =>
      bigramLmScore(Tables.documents(s, dir).select(col("doc_id"), col("text")))
    },

    // q94: temperature-scaled source mixing — sampling weights
    // proportional to n^alpha (alpha < 1 upweights small sources, the
    // standard multilingual/multi-domain rebalancing), rendered as
    // per-source target document counts for a fixed budget. One
    // aggregate + a 1-row broadcast denominator.
    "q94_temperature_mix" -> { (s, dir) =>
      val counts = Tables
        .documents(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .localCheckpoint() // 1 row per source; feeds denominator + final
      val denom = counts.agg(sum(pow(col("n_docs"), MixAlpha)).as("z"))
      counts
        .crossJoin(broadcast(denom))
        // target_docs derives from the ROUNDED weight, not the raw
        // pow/z ratio: libm pow differs across engines in the last
        // ulp, and a symmetric corpus (equal sources) puts
        // budget·weight exactly ON an integer, where floor(±ulp)
        // flips. Rounding first makes both engines compute from the
        // bit-identical double; round (not floor) absorbs the
        // residual representation error.
        .withColumn("weight", round(pow(col("n_docs"), MixAlpha) / col("z"), 6))
        .select(
          col("source"),
          col("n_docs"),
          col("weight"),
          round(lit(MixBudget) * col("weight")).cast("long").as("target_docs")
        )
    },

    // q98: per-source token-distribution entropy + KL(source ‖ corpus)
    // — the mixing diagnostic behind q94/q96: entropy says how
    // self-repetitive a source is, KL says how far its vocabulary sits
    // from the blended corpus (a spiking KL on a new crawl vintage is
    // the drift alarm). One (source, token) count feeds ALL FOUR
    // consumers via localCheckpoint; the corpus marginal re-aggregates
    // those counts (vocab-sized, never re-reads documents); the final
    // per-source reduce is one aggregate. round(,4) absorbs
    // summation-order ulps exactly like q92/q93.
    "q98_source_entropy" -> { (s, dir) =>
      val tok = Tables
        .documents(s, dir)
        .select(col("source"), explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val srcTot = tok.groupBy(col("source")).agg(sum(col("n")).as("n_src"))
      val corpus = tok.groupBy(col("w")).agg(sum(col("n")).as("n_corp"))
      val corpTot = tok.agg(sum(col("n")).as("n_all"))
      val p = col("n").cast("double") / col("n_src")
      val q = col("n_corp").cast("double") / col("n_all")
      tok
        .join(corpus, "w")
        .join(srcTot, "source") // sources-sized; AQE broadcasts it
        .crossJoin(broadcast(corpTot))
        .groupBy(col("source"))
        .agg(
          max(col("n_src")).as("n_tokens"),
          count(lit(1)).as("vocab"),
          round(-sum(p * log2(p)), 4).as("entropy"),
          round(sum(p * log2(p / q)), 4).as("kl")
        )
    },

    // q99: weighted sampling without replacement — n_chars-weighted
    // (token-budget-proportional: a 10k-char doc is 10× likelier in
    // the sample than a 1k-char one), k per source, reproducible via
    // the md5 coin. The whole selection is one native bounded-heap
    // aggregate — see Sampling.weightedTopK for why that (and not a
    // window, gated or otherwise) is the 100 TB shape.
    "q99_weighted_sample" -> { (s, dir) =>
      Sampling.weightedTopK(Tables.documents(s, dir), "source", "doc_id", "text", "n_chars", SampleK)
    },

    // q105: vocabulary growth curve (Heaps'-law saturation) — the
    // "is more data still buying new vocabulary?" diagnostic a corpus
    // curator reads before paying for another crawl tranche. Docs
    // split into VocabGrowthBuckets equal doc_id ranges (ingestion
    // order; range bounds from a 1-row broadcast, no global rank
    // window); each token type is attributed to the FIRST bucket it
    // appears in via one min-aggregate over the (bucket, token)
    // counts. Output is bucket-count-sized: occurrences, new types,
    // and the cumulative type count (a window over 10 rows). All
    // integer arithmetic — hash-exact in any engine.
    "q105_vocab_growth" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val bounds = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      val nb = lit(VocabGrowthBuckets)
      val toks = docs
        .crossJoin(broadcast(bounds))
        .select(
          // DIV, not `/`: Spark's `/` on longs is a double divide —
          // exact integer bucketing is what makes the oracle hash-safe
          least(nb - 1, expr(s"(doc_id - lo) * $VocabGrowthBuckets DIV (hi - lo + 1)"))
            .cast("long")
            .as("bucket"),
          explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("token")
        )
      // ONE (bucket, token) aggregate feeds both consumers
      val tokBucket = toks.groupBy(col("bucket"), col("token")).agg(count(lit(1)).as("n")).localCheckpoint()
      val occ = tokBucket.groupBy(col("bucket")).agg(sum(col("n")).as("n_tokens"))
      val firsts = tokBucket
        .groupBy(col("token"))
        .agg(min(col("bucket")).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("new_types"))
      occ
        .join(firsts, Seq("bucket"), "left_outer")
        .select(col("bucket"), col("n_tokens"), coalesce(col("new_types"), lit(0L)).as("new_types"))
        .withColumn("cum_types", sum(col("new_types")).over(Window.orderBy(col("bucket"))))
    },

    // q110: per-source document-length quantiles — the curation
    // report behind length-gate tuning (q56's min/max chars are
    // corpus-wide today; per-source quartiles say where those gates
    // actually cut). Runs on Quantiles.exactDiscrete, i.e. the
    // sketch-seeded band refinement whose ONLY window sorts the
    // ±delta candidate band (q45's scale path applied to a second
    // table/grouping); the oracle keeps the full-sort definition —
    // same exact values.
    "q110_length_quantiles" -> { (s, dir) =>
      graft.operators.Quantiles.exactDiscrete(
        Tables.documents(s, dir).select(col("source"), col("n_chars").cast("double").as("len")),
        "source",
        "len",
        graft.queries.AnalyticsQueries.QuantileProbs,
        graft.queries.AnalyticsQueries.QuantileNames
      )
    },

    // q111: concat-and-chunk sequence packing accounting — the way
    // training runs actually consume a corpus: each source's docs are
    // concatenated in doc_id order into one token stream and cut into
    // fixed context windows. Per source: how many sequences the
    // stream yields, how many docs land astride a window boundary
    // (and so get split), and the tail padding wasted in the last
    // window. Each doc's stream span comes from Prefix.cumSum — the
    // bucketed prefix sum, NOT a per-source global-sort window — and
    // the window ids are pure integer DIV on the span endpoints.
    "q111_seq_pack" -> { (s, dir) =>
      val L = PackSeqTokens
      val spans = graft.operators.Prefix
        .cumSum(
          Tables
            .documents(s, dir)
            .select(col("doc_id"), col("source"), TextFunctions.tokenCountWs(col("text")).cast("long").as("n_toks")),
          Seq("source"),
          "doc_id",
          "n_toks"
        )
        .select(
          col("source"),
          col("n_toks"),
          expr(s"(cum - n_toks) DIV $L").as("first_seq"),
          expr(s"(cum - 1) DIV $L").as("last_seq")
        )
      spans
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_toks"),
          sum(when(col("n_toks") > 0 && col("first_seq") =!= col("last_seq"), 1L).otherwise(0L)).as("split_docs")
        )
        .select(
          col("source"),
          col("n_docs"),
          col("total_toks"),
          expr(s"(total_toks + $L - 1) DIV $L").as("n_seqs"),
          col("split_docs"),
          (expr(s"(total_toks + $L - 1) DIV $L") * L - col("total_toks")).as("tail_pad"),
          round(
            (expr(s"(total_toks + $L - 1) DIV $L") * L - col("total_toks")).cast("double") /
              (expr(s"(total_toks + $L - 1) DIV $L") * L).cast("double"),
            4
          ).as("waste_ratio")
        )
    },

    // q112: quality-filter linear model — the fastText-style keep/drop
    // gate as config + arithmetic: integer features from the scan, the
    // basis-point weight list folded into ONE exact BIGINT expression
    // (etl/LinearModel.scala), an integer threshold for the flag. No
    // FP anywhere, no shuffle anywhere: the whole query is scan-side
    // whole-stage-codegen'd projection.
    "q112_quality_logit" -> { (s, dir) =>
      qualityModelScores(Tables.documents(s, dir))
        .withColumn("keep", col("score_bp") >= QualityKeepBp)
    },

    // q114: cross-source n-gram overlap matrix — the source-redundancy
    // report behind mixing decisions ("does buying source B add
    // anything source A doesn't already have?"). Generalizes q63's
    // train/eval split to ALL ordered source pairs: distinct 5-gram
    // hashes per source (ONE aggregate — grams hash as 8-byte longs,
    // text never travels), then a shingle equi-join whose per-key
    // fan-out is inherently bounded by the SOURCE CARDINALITY (≤ S
    // rows per gram per side — the capped-block property q31 needs a
    // df-cap for comes free here), and per-pair shared counts against
    // each side's distinct total. Asymmetric on purpose: shared/|A| ≠
    // shared/|B| is exactly the containment direction.
    "q114_source_overlap" -> { (s, dir) =>
      // Dedup.shingles dedupes IN-ROW (r17) — per document. Here the
      // set key is `source`, which spans MANY documents, so the
      // cross-document distinct must still run (its input is already
      // per-doc-deduped, so it shuffles the same rows the pre-r17
      // shared distinct did — no regression, and source-keyed sets
      // genuinely need a cross-row pass).
      // spreadScan (r20): the gram synthesis is the probe-measured
      // single-task hotspot (0.54 s of q114's 1.6 s wall rides the
      // 1-task single-row-group scan) — the same shingle-synthesis
      // class r19's Finding-1 spread sites won on; it was simply
      // missed because this site keys sets by `source`, not doc_id.
      // The spread key stays doc_id (high-cardinality, even) — the
      // cross-source distinct re-shuffles by (source, shingle) anyway.
      // Bracketed on/off ×4 with q63 as era control: on wins 3 of 4
      // pairs, min 1.56 vs 1.73 s (tools/r20/aba_q114_*.json).
      val grams = graft.dedup.Dedup
        .shingles(
          graft.dedup.Dedup.spreadScan(Tables.documents(s, dir), col("doc_id")),
          "source",
          "text",
          ContamN
        )
        .withColumnRenamed("doc_id", "source")
        .distinct()
        .localCheckpoint() // per-source gram sets: bounded by |sources| x vocab, not corpus-heavy
      val totals = grams.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
      grams
        .select(col("shingle"), col("source").as("source_a"))
        .join(grams.select(col("shingle"), col("source").as("source_b")), "shingle")
        .filter(col("source_a") =!= col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_shared_grams"))
        .join(broadcast(totals.select(col("source").as("source_a"), col("n_grams").as("n_a_grams"))), "source_a")
        .join(broadcast(totals.select(col("source").as("source_b"), col("n_grams").as("n_b_grams"))), "source_b")
        .select(
          col("source_a"),
          col("source_b"),
          col("n_shared_grams"),
          col("n_a_grams"),
          col("n_b_grams"),
          round(col("n_shared_grams").cast("double") / col("n_a_grams").cast("double"), 4).as("share_of_a")
        )
    },

    // q115: diversity-capped top-k selection — "the best 50 docs, but
    // no more than 10 from any one source" (per-source caps are how
    // curation keeps one giant crawl from crowding out every other
    // source). The per-source top-k is ONE bounded-heap native
    // aggregate (graft_topk — q99's no-window machinery) over an
    // integer surrogate that encodes (score DESC, doc_id ASC) as a
    // single total order; survivors (S·k rows) broadcast back onto
    // the scored scan to pick up their scores, and the global cut is
    // a TakeOrdered, never a full sort.
    "q115_diverse_topk" -> { (s, dir) =>
      graft.functions.GraftFunctions.ensureRegistered(s)
      val scored = qualityModelScores(Tables.documents(s, dir), Seq("source"))
        .select(col("doc_id"), col("source"), col("score_bp"))
      // key = -(score·2^40 - doc_id): graft_topk keeps the SMALLEST
      // keys, so this ranks score DESC, ties to the smallest doc_id;
      // |score| < 2^13 and doc_id < 2^40 keep the product exact in a
      // double's 53-bit mantissa. score_bp is data-dependent
      // (stop-hit/token counts on unbounded text), so the bound is
      // ENFORCED row-wise: a violating row raises instead of silently
      // dropping the doc_id tie-break out of the mantissa
      val surrogate = when(
        abs(col("score_bp")) < lit(1L << 13) && col("doc_id").between(0L, (1L << 40) - 1),
        -(col("score_bp") * lit(1L << 40) - col("doc_id")).cast("double")
      ).otherwise(
        raise_error(
          concat(
            lit("q115 surrogate leaves the 53-bit-exact range: score_bp="),
            col("score_bp").cast("string"),
            lit(" doc_id="),
            col("doc_id").cast("string"),
            lit(" (need |score_bp| < 2^13, 0 <= doc_id < 2^40)")
          )
        ).cast("double")
      )
      val picked = scored
        .groupBy(col("source"))
        .agg(graft.functions.GraftFunctions.topk(surrogate, col("doc_id"), DiverseTopK).as("ids"))
        .select(col("source").as("__s"), posexplode(col("ids")).as(Seq("__pos", "doc_id")))
        .select(col("doc_id"), (col("__pos") + 1).cast("long").as("src_rank"))
      scored
        .join(broadcast(picked), "doc_id")
        .orderBy((col("score_bp") * lit(1L << 40) - col("doc_id")).desc)
        .limit(DiverseTopN.toInt)
        .select(col("doc_id"), col("source"), col("score_bp"), col("src_rank"))
    },

    // q116: one BPE training iteration — the merge-candidate table
    // (adjacent character pairs weighted by token frequency) that
    // tokenizer training recomputes every merge step. The ONLY
    // corpus-sized operation is the token-frequency aggregate; pair
    // explosion runs over the VOCABULARY (distinct tokens × their
    // length), orders of magnitude smaller than the corpus, and the
    // final cut is a TakeOrdered of the pair vocabulary — the shape
    // that lets a 100 TB tokenizer run live inside one small-memory
    // job per merge.
    "q116_bpe_pair_counts" -> { (s, dir) =>
      val tokFreq = Tables
        .documents(s, dir)
        .select(explode(split(trim(col("text")), TextFunctions.WsRun)).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("freq"))
      tokFreq
        .filter(length(col("tok")) >= 2)
        .select(col("tok"), col("freq"), explode(expr("sequence(1, length(tok) - 1)")).as("i"))
        .select(expr("substring(tok, i, 2)").as("pair"), col("freq"))
        .groupBy(col("pair"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(BpePairTopK.toInt)
    },

    // q117: top-k BM25 retrieval off a PERSISTED bucketed postings
    // index (search/Bm25Index.scala) — the q87/q107 persisted-state
    // story for text search. The index build pays one token-bucketed
    // shuffle at ingest; each search then reads ONLY the buckets its
    // literal terms hash into (SelectedBucketsCount asserted in
    // SearchSpec), derives df from that pruned read, takes corpus
    // stats from an O(batches)-row side table, and ranks on an
    // integer basis-point score (order-free sum — no fp-accumulation
    // boundary in the ranking). Answers are asserted byte-equal to
    // the no-index searchDirect path; the oracle computes the same
    // retrieval straight off the documents table.
    "q117_bm25_index" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.search.Bm25Index.writeIndex(docs, "doc_id", "text", Bm25IndexTable, Bm25IndexBuckets)
      graft.search.Bm25Index.search(s, Bm25IndexTable, Bm25Queries, Bm25TopK)
    },

    // q121: two-constraint mixture reweighting via fixed-point IPF
    // (operators/Ipf.scala) — find per-cell weights so BOTH the
    // source marginals AND the length-class marginals hit uniform
    // targets simultaneously (q70/q94 balance one dimension; real
    // mixing briefs constrain several). ONE corpus-sized (source,
    // class) count; every IPF round is cell-frame BIGINT arithmetic
    // behind lineage cuts — the returned plan is the checkpointed
    // cell frame alone. Oracle unrolls the identical 2 rounds.
    "q121_ipf_mix" -> { (s, dir) =>
      val cells = Tables
        .documents(s, dir)
        .select(
          col("source"),
          when(col("n_chars") < IpfShortMax, lit("short"))
            .when(col("n_chars") < IpfMediumMax, lit("medium"))
            .otherwise(lit("long"))
            .as("lclass")
        )
        .groupBy(col("source"), col("lclass"))
        .agg(count(lit(1)).as("n"))
      graft.operators.Ipf.fitUniform(cells, "source", "lclass", "n", IpfRounds)
    },

    // q106: per-source z-score normalization of document length — the
    // feature-engineering step before length-aware mixing/filtering
    // (a 500-char doc is "short" for web text, "long" for chat). ONE
    // source-keyed aggregate of EXACT integer moments (count, Σx,
    // Σx²) broadcasts back onto the scan; the sample variance derives
    // from a single integer expression (n·Σx² − (Σx)²) / (n·(n−1)),
    // and z = (n·x − Σx) / (n·σ) keeps the numerator integer-exact —
    // every double op is a fixed sequence (one divide, one IEEE sqrt,
    // one multiply, one divide) both engines execute identically, so
    // the 4dp-rounded score hash-compares. Degenerate sources (n=1 or
    // zero variance) emit NULL z and no flag, identically in both
    // engines.
    "q106_zscore_norm" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
      val stats = docs
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("n_chars")).as("s1"),
          sum(col("n_chars") * col("n_chars")).as("s2")
        )
      val varNum = col("n") * col("s2") - col("s1") * col("s1")
      val sd = sqrt(varNum.cast("double") / (col("n") * (col("n") - 1)).cast("double"))
      val z = (col("n") * col("n_chars") - col("s1")).cast("double") / (col("n").cast("double") * sd)
      docs
        .join(broadcast(stats), "source")
        .select(
          col("doc_id"),
          col("source"),
          col("n_chars"),
          when(col("n") > 1 && varNum > 0, round(z, 4)).as("z"),
          when(col("n") > 1 && varNum > 0, abs(round(z, 4)) > ZOutlier).as("len_outlier")
        )
    },

    // q127: TRAIN the quality filter q112 only scores — fixed-point
    // hard-sigmoid logistic regression (operators/LogReg) over the
    // same five integer features, labeled lang='en'. Per round the
    // corpus contributes ONE map-side-combinable gradient aggregate
    // (count + err·x sums → a single row); the weight state is a
    // 1-row broadcast, checkpointed per round. The learned
    // (feature, w_bp) rows feed LinearModel.scoreBp directly
    // (composability proven in TrainingSpec).
    "q127_quality_train" -> { (s, dir) =>
      val f = qualityModelScores(Tables.documents(s, dir), Seq("lang"))
        .withColumn("y", when(col("lang") === "en", 1L).otherwise(0L))
      graft.operators.LogReg.trainHardSigmoid(f, QualityWeightsBp.map(_._1), "y", QualityTrainRounds)
    },

    // q136: train-set evaluation of q127's learned model — the
    // train → score → audit loop closed: the learned (feature, w_bp)
    // rows come back as a driver-sized collect (6 rows — a model IS
    // dim-table state, the q132 election class), every doc is scored
    // through LinearModel.scoreBp under the hard-sigmoid threshold
    // (pred = z ≥ 0 ⟺ p ≥ ½), and ONE aggregate reports accuracy in
    // exact BIGINT basis points. At 100 TB: one scan, one 1-row
    // aggregate — the cheapest possible model audit.
    "q136_train_eval" -> { (s, dir) =>
      val xs = QualityWeightsBp.map(_._1)
      val f = qualityModelScores(Tables.documents(s, dir), Seq("lang"))
        .withColumn("y", when(col("lang") === "en", 1L).otherwise(0L))
      val w = graft.operators.LogReg
        .trainHardSigmoid(f, xs, "y", QualityTrainRounds)
        .collect()
        .map(r => r.getString(0) -> r.getLong(1))
        .toMap
      f.select(
        col("y"),
        (graft.etl.LinearModel.scoreBp(w("bias"), xs.map(c => c -> w(c))) >= 0L).cast("long").as("pred")
      ).agg(
        count(lit(1)).as("n_docs"),
        sum(col("y")).as("n_target"),
        sum(when(col("pred") === col("y"), 1L).otherwise(0L)).as("n_correct"),
        expr("(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) * 10000) div count(*)").as("accuracy_bp")
      )
    },

    // q132: apply the winning BPE merge — the training step AFTER
    // q116's merge-candidate table: elect the top pair (count desc,
    // pair asc — bit-deterministic tie-break), then rewrite every
    // vocabulary word's symbol sequence by greedy left-to-right
    // non-overlapping merging. Application is string replace over the
    // space-joined single-char symbols ('a b' → 'ab') — Java and
    // DuckDB replace share the same L2R non-overlap semantics, so
    // 'aaa' under (a,a) becomes [aa, a] on both engines. The winning
    // pair is a 1-ROW driver collect off the checkpointed vocabulary
    // (the q125 centroid-collect class: dim-table-sized, documented);
    // the returned plan is a projection over that checkpointed vocab
    // — at 100 TB each BPE iteration stays one small vocab job, the
    // corpus is never rescanned (q116's own contract).
    "q132_bpe_apply" -> { (s, dir) =>
      val tokFreq = Tables
        .documents(s, dir)
        .select(explode(split(trim(col("text")), TextFunctions.WsRun)).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("freq"))
        .localCheckpoint()
      val topOpt = tokFreq
        .filter(length(col("tok")) >= 2)
        .select(col("tok"), col("freq"), explode(expr("sequence(1, length(tok) - 1)")).as("i"))
        .select(expr("substring(tok, i, 2)").as("pair"), col("freq"))
        .groupBy(col("pair"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(1)
        .collect()
        .headOption
        .map(_.getString(0))
      val joined = array_join(split(col("tok"), ""), " ")
      // pure Column API: the winning pair is DATA — embedding it in an
      // expr() string literal would break on a quote/backslash token.
      // The pair was elected by Spark's code-point substring, so the
      // two symbols are extracted by CODE POINT here too — Java's
      // UTF-16 String.substring would split a surrogate pair on a
      // non-BMP winner (emoji/astral CJK) into a malformed merge
      // literal. A corpus with no 2+-char token has no pair to merge:
      // the vocabulary passes through unmerged (oracle mirrors via a
      // NULL scalar-subquery pair).
      val syms = topOpt match {
        case Some(top) =>
          val cps = top.codePoints().toArray
          require(cps.length == 2, s"BPE winning pair must be 2 code points, got ${cps.length} in '$top'")
          val (a, b) = (new String(cps, 0, 1), new String(cps, 1, 1))
          replace(joined, lit(s"$a $b"), lit(top))
        case None => joined
      }
      tokFreq
        .select(col("tok"), col("freq"), syms.as("syms"))
        .withColumn("n_syms", size(split(col("syms"), " ")).cast("long"))
    },

    // q131: DSIR-style importance weights (Xie et al. 2023 — data
    // selection via importance resampling): per doc, the mean log
    // ratio of a TARGET hashed n-gram bag model (lang='en' docs) to
    // the RAW corpus model, add-one smoothed over DsirBuckets hashed
    // unigram+bigram features. The two bucket-count models are
    // B-row frames built by ONE aggregate each and broadcast back
    // onto the feature stream — corpus text shuffles only as (doc_id,
    // bucket) longs. log inputs are identical exact integers on both
    // engines (the q93 precedent: ln of identical doubles, mean
    // rounded to 4dp). A resampling pipeline thresholds or
    // Gumbel-samples on li_ratio; the weight computation is the
    // whole DSIR data term.
    "q131_dsir_weights" -> { (s, dir) =>
      graft.functions.GraftFunctions.ensureRegistered(s)
      val docs = Tables.documents(s, dir)
      // spreadScan: the regexp tokenize is the dominant map compute
      // and otherwise inherits the 1-task sf0.1 scan (r19)
      val toks = graft.dedup.Dedup.spreadScan(docs, col("doc_id")).select(
        col("doc_id"),
        (col("lang") === "en").as("is_tgt"),
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("t")
      )
      val uni = toks.select(col("doc_id"), col("is_tgt"), explode(col("t")).as("g"))
      val big = toks
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), col("is_tgt"), col("t"), explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
        .select(
          col("doc_id"),
          col("is_tgt"),
          concat_ws(" ", try_element_at(col("t"), col("i")), try_element_at(col("t"), col("i") + 1)).as("g")
        )
      // materialized ONCE (r19): cs, ct, totals and the per-doc score
      // join all read this frame — un-checkpointed, each reference
      // re-ran the full tokenize+explode pipeline (4 corpus
      // tokenizations in one plan), and on the single-row-group sf0.1
      // scan each ran single-task. checkpointHeavy: the shared
      // storage level for corpus-heavy frames.
      val feats = graft.dedup.Dedup.checkpointHeavy(
        uni
          .unionByName(big)
          .select(col("doc_id"), col("is_tgt"), (graft.functions.GraftFunctions.strhash2(col("g")) % DsirBuckets).as("b"))
      )
      val cs = feats.groupBy(col("b")).agg(count(lit(1)).as("cs"))
      val ct = feats.filter(col("is_tgt")).groupBy(col("b")).agg(count(lit(1)).as("ct"))
      val totals = feats
        .agg(count(lit(1)).as("tot_s"), sum(when(col("is_tgt"), 1L).otherwise(0L)).as("tot_t"))
        .localCheckpoint()
      val model = cs
        .join(ct, Seq("b"), "left_outer")
        .select(col("b"), col("cs"), coalesce(col("ct"), lit(0L)).as("ct"))
      val term =
        log((col("ct") + 1).cast("double") / (col("tot_t") + DsirBuckets).cast("double")) -
          log((col("cs") + 1).cast("double") / (col("tot_s") + DsirBuckets).cast("double"))
      val perDoc = feats
        .join(broadcast(model), Seq("b"))
        .crossJoin(broadcast(totals))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"), round(avg(term), 4).as("li_ratio"))
      docs
        .select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), coalesce(col("n_grams"), lit(0L)).as("n_grams"), col("li_ratio"))
    }
  )

  /** q127: gradient-descent rounds (unrolled identically in the oracle). */
  val QualityTrainRounds = 3

  /** q131: hashed feature buckets for the two n-gram bag models. */
  val DsirBuckets = 256L

  /** q105: number of equal doc_id-range buckets in the growth curve. */
  val VocabGrowthBuckets = 10

  /** q106: |z| outlier threshold (compared on the ROUNDED score, so
    * no cross-engine ulp can flip the flag).
    */
  val ZOutlier = 3.0

  /** q84: split thresholds — ceil(0.8 * 16^8) and ceil(0.9 * 16^8) in
    * lowercase hex, compared against the md5 coin's first 8 digits.
    */
  val TrainThresholdHex = "cccccccd"
  val ValThresholdHex = "e6666667"

  // NOTE: this string is interpolated into oracle SQL that gets
  // .stripMargin applied again — concat operators must not start a
  // line or the second strip eats one pipe of `||`.
  private val piiSynthSql: String =
    "SELECT doc_id, text || " +
      "(CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.org' ELSE '' END) || " +
      "(CASE WHEN doc_id % 5 = 0 THEN ' call +1-555-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') ELSE '' END) " +
      "AS raw FROM documents"

  def oracle: Map[String, String] = Map(
    "q61_pii_redact" ->
      s"""WITH p AS ($piiSynthSql)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(raw, '${TextFunctions.EmailRe}')) AS INT) AS n_emails,
         |       CAST(len(regexp_extract_all(raw, '${TextFunctions.PhoneRe}')) AS INT) AS n_phones,
         |       md5(regexp_replace(regexp_replace(raw, '${TextFunctions.EmailRe}', '<EMAIL>', 'g'),
         |                          '${TextFunctions.PhoneRe}', '<PHONE>', 'g')) AS redacted_md5
         |FROM p""".stripMargin,
    "q62_repetition_filter" ->
      s"""WITH tc AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '${TextFunctions.WsRun}')) AS tok FROM documents),
         |cnt AS (SELECT doc_id, tok, count(*) AS cnt FROM tc GROUP BY doc_id, tok),
         |agg AS (SELECT doc_id,
         |               CAST(sum(cnt) AS BIGINT) AS n_toks,
         |               count(*) AS n_distinct,
         |               CAST(max(cnt) AS BIGINT) AS top_cnt
         |        FROM cnt GROUP BY doc_id)
         |SELECT doc_id, n_toks, n_distinct, top_cnt,
         |       round(1.0 - CAST(n_distinct AS DOUBLE) / n_toks, 4) AS dup_ratio,
         |       round(CAST(top_cnt AS DOUBLE) / n_toks, 4) AS top_ratio,
         |       ((1.0 - CAST(n_distinct AS DOUBLE) / n_toks) > $DupRatioFlag
         |        OR (CAST(top_cnt AS DOUBLE) / n_toks) > $TopRatioFlag) AS flagged
         |FROM agg""".stripMargin,
    "q63_contamination" ->
      s"""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '${TextFunctions.WsRun}') t FROM documents),
         |sh0 AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, greatest(len(t) - ${ContamN - 1}, 1) + 1),
         |              i -> array_to_string(list_slice(t, CAST(i AS INT), CAST(i AS INT) + ${ContamN - 1}), ' '))) s
         |       FROM toks),
         |dfc AS (SELECT s, count(*) df FROM sh0 GROUP BY s),
         |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN dfc USING (s) WHERE df <= ${DedupSimQueries.MaxShingleDf})
         |SELECT e.doc_id AS eval_doc,
         |       count(DISTINCT e.s) AS n_shared_shingles,
         |       count(DISTINCT t.doc_id) AS n_train_docs
         |FROM sh e JOIN sh t ON e.s = t.s AND e.doc_id % 10 = 0 AND t.doc_id % 10 != 0
         |GROUP BY e.doc_id""".stripMargin,
    "q64_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |         'https://' || source || '.example.com/docs/' || (doc_id % 40)
        |         || (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END)
        |         || (CASE WHEN doc_id % 2 = 0 THEN '?utm=' || doc_id ELSE '' END) AS url
        |  FROM documents)
        |SELECT regexp_replace(regexp_replace(lower(url), '\?.*$', '', 'g'), '/+$', '', 'g') AS canonical_url,
        |       count(*) AS n_urls,
        |       min(doc_id) AS keep_doc
        |FROM u GROUP BY 1""".stripMargin,
    "q65_char_classes" ->
      s"""WITH c AS (
        |  SELECT doc_id,
        |         CAST(length(text) AS DOUBLE) AS n,
        |         CAST(len(regexp_extract_all(text, '[a-zA-Z]')) AS DOUBLE) AS l,
        |         CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) AS d,
        |         CAST(len(regexp_extract_all(text, '${TextFunctions.WsClass}')) AS DOUBLE) AS sp
        |  FROM documents WHERE length(text) > 0)
        |SELECT doc_id,
        |       CAST(l AS BIGINT) AS n_letters,
        |       CAST(d AS BIGINT) AS n_digits,
        |       CAST(sp AS BIGINT) AS n_spaces,
        |       CAST(n - l - d - sp AS BIGINT) AS n_other,
        |       round(1.0 - (((l/n)*(l/n) + (d/n)*(d/n)) + (sp/n)*(sp/n)
        |                    + ((n-l-d-sp)/n)*((n-l-d-sp)/n)), 4) AS char_gini
        |FROM c""".stripMargin,
    "q70_source_mixing" ->
      """WITH d AS (
        |  SELECT source,
        |         CASE WHEN substring(md5(text), 1, 8) <
        |                   (CASE CAST(substr(source, 4) AS INT) % 4
        |                      WHEN 0 THEN 'g' WHEN 1 THEN '80000000'
        |                      WHEN 2 THEN '40000000' ELSE '1999999a' END)
        |              THEN 1 ELSE 0 END AS kept
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(kept) AS BIGINT) AS n_kept,
        |       round(CAST(sum(kept) AS DOUBLE) / count(*), 4) AS kept_ratio
        |FROM d GROUP BY source""".stripMargin,
    "q71_token_shards" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split_regex(trim(text), '${TextFunctions.WsRun}')) AS BIGINT) AS n_toks
         |  FROM documents)
         |SELECT doc_id, source, n_toks,
         |       (CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) - n_toks)
         |         // $ShardTokenBudget AS shard_id
         |FROM t""".stripMargin,
    "q67_oov_rate" ->
      s"""WITH tokens AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
         |                FROM documents),
         |vocab AS (SELECT token FROM (
         |    SELECT token, row_number() OVER (ORDER BY count(*) DESC, token ASC) AS rank
         |    FROM tokens GROUP BY token HAVING count(*) >= $OovMinCount)
         |  WHERE rank <= $OovVocabSize)
         |SELECT doc_id, count(*) AS n_toks,
         |       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |       round(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS oov_rate
         |FROM tokens t LEFT JOIN vocab v ON t.token = v.token
         |GROUP BY doc_id""".stripMargin,
    "q72_doc_chunks" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '${TextFunctions.WsRun}') tk FROM documents),
         |n AS (SELECT doc_id, tk, len(tk) AS n_toks,
         |             1 + (greatest(len(tk) - $ChunkTokens, 0) + ${ChunkStride - 1}) // $ChunkStride AS n_chunks
         |      FROM t),
         |c AS (SELECT doc_id, tk, n_toks, unnest(range(0, n_chunks)) AS chunk_id FROM n)
         |SELECT doc_id, chunk_id,
         |       chunk_id * $ChunkStride + 1 AS tok_start,
         |       least($ChunkTokens, n_toks - chunk_id * $ChunkStride) AS n_chunk_toks,
         |       md5(array_to_string(list_slice(tk, CAST(chunk_id * $ChunkStride + 1 AS INT),
         |                                      CAST(chunk_id * $ChunkStride + $ChunkTokens AS INT)), ' ')) AS chunk_md5
         |FROM c""".stripMargin,
    "q73_argmax_rep" ->
      """SELECT source, lang,
        |       arg_max(doc_id, CAST(n_chars AS HUGEINT) * 18446744073709551616 - doc_id) AS rep_doc,
        |       max(n_chars) AS rep_chars,
        |       count(*) AS n_docs
        |FROM documents GROUP BY source, lang""".stripMargin,
    "q76_bm25" ->
      """WITH dt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM dt GROUP BY 1, 2),
        |dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
        |sc AS (SELECT tf.doc_id, tf.token, tf.tf, dfr.df,
        |              ((st.n_docs - dfr.df + CAST(0.5 AS DOUBLE)) / (dfr.df + CAST(0.5 AS DOUBLE)))
        |              * (tf.tf * CAST(2.2 AS DOUBLE))
        |              / (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
        |                 + CAST(0.75 AS DOUBLE) * (dl.dl / (CAST(st.sum_dl AS DOUBLE) / st.n_docs)))) AS score
        |       FROM tf JOIN dfr USING (token) JOIN dl USING (doc_id) CROSS JOIN st),
        |rk AS (SELECT doc_id, token, tf, df, score,
        |              row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rank
        |       FROM sc)
        |SELECT doc_id, rank, token, tf, df, round(score, 4) AS score FROM rk WHERE rank <= 3""".stripMargin,
    "q78_heavy_hitters" ->
      s"""WITH t AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token FROM documents),
         |c AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1),
         |s AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
         |SELECT token, cnt, total, CAST(cnt AS DOUBLE) / total AS share
         |FROM c CROSS JOIN s WHERE cnt * $HeavyHitterDenom >= total""".stripMargin,
    "q84_dataset_split" ->
      s"""WITH d AS (
         |  SELECT source,
         |         CASE WHEN substring(md5(text), 1, 8) < '$TrainThresholdHex' THEN 'train'
         |              WHEN substring(md5(text), 1, 8) < '$ValThresholdHex' THEN 'val'
         |              ELSE 'test' END AS split,
         |         CAST(len(string_split_regex(trim(text), '${TextFunctions.WsRun}')) AS BIGINT) AS n_toks
         |  FROM documents),
         |b AS (SELECT source, split, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens
         |      FROM d GROUP BY 1, 2),
         |t AS (SELECT source, CAST(sum(n_docs) AS BIGINT) AS src_docs FROM b GROUP BY 1)
         |SELECT source, split, n_docs, n_tokens,
         |       CAST(n_docs AS DOUBLE) / src_docs AS frac
         |FROM b JOIN t USING (source)""".stripMargin,
    // the oracle keeps the NAIVE whole-group window definition — the
    // Spark plan's survivor gate must be invisible in the result
    "q91_group_sample" ->
      s"""WITH h AS (SELECT source, doc_id, substring(md5(text), 1, 8) AS h FROM documents),
         |r AS (SELECT source, doc_id, h,
         |             CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS rank
         |      FROM h)
         |SELECT source, doc_id, h, rank FROM r WHERE rank <= $SampleK""".stripMargin,
    "q92_pmi_collocations" ->
      s"""WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
         |uni AS (SELECT unnest(t) AS w FROM toks),
         |un AS (SELECT w, count(*) AS n_w FROM uni GROUP BY w),
         |ut AS (SELECT CAST(sum(n_w) AS BIGINT) AS n_toks FROM un),
         |bg AS (SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
         |       FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)),
         |bc AS (SELECT w1, w2, count(*) AS n_ab FROM bg GROUP BY w1, w2 HAVING count(*) >= $PmiMinCount),
         |bt AS (SELECT CAST(sum(len(t) - 1) AS BIGINT) AS n_bigrams FROM toks WHERE len(t) >= 2)
         |SELECT w1, w2, n_ab,
         |       round(log2((CAST(n_ab AS DOUBLE) / n_bigrams)
         |                  * (CAST(n_toks AS DOUBLE) / u1.n_w)
         |                  * (CAST(n_toks AS DOUBLE) / u2.n_w)), 4) AS pmi
         |FROM bc
         |JOIN un u1 ON u1.w = bc.w1
         |JOIN un u2 ON u2.w = bc.w2
         |CROSS JOIN ut CROSS JOIN bt
         |ORDER BY pmi DESC, w1 ASC, w2 ASC
         |LIMIT $PmiTopK""".stripMargin,
    "q93_bigram_lm_score" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
        |ev AS (SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
        |       FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)),
        |c AS (SELECT w1, w2, count(*) AS n_ab FROM ev GROUP BY w1, w2),
        |p AS (SELECT w1, CAST(sum(n_ab) AS BIGINT) AS n_a FROM c GROUP BY w1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       round(avg(log2(CAST(n_ab AS DOUBLE) / n_a)), 4) AS lm_score
        |FROM ev JOIN c USING (w1, w2) JOIN p USING (w1)
        |GROUP BY doc_id""".stripMargin,
    // target_docs from the ROUNDED weight (see the Spark comment: libm
    // pow ulp + a symmetric corpus = floor on an integer boundary)
    "q94_temperature_mix" ->
      s"""WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
         |z AS (SELECT sum(pow(n_docs, $MixAlpha)) AS z FROM c),
         |w AS (SELECT source, n_docs, round(pow(n_docs, $MixAlpha) / z, 6) AS weight
         |      FROM c CROSS JOIN z)
         |SELECT source, n_docs, weight,
         |       CAST(round($MixBudget * weight) AS BIGINT) AS target_docs
         |FROM w""".stripMargin,
    "q98_source_entropy" ->
      """WITH toks AS (SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        |              FROM documents),
        |tc AS (SELECT source, w, count(*) AS n FROM toks GROUP BY source, w),
        |st AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_src FROM tc GROUP BY source),
        |cc AS (SELECT w, CAST(sum(n) AS BIGINT) AS n_corp FROM tc GROUP BY w),
        |ct AS (SELECT CAST(sum(n) AS BIGINT) AS n_all FROM tc)
        |SELECT tc.source,
        |       max(st.n_src) AS n_tokens,
        |       count(*) AS vocab,
        |       round(-sum((CAST(tc.n AS DOUBLE) / st.n_src)
        |                  * log2(CAST(tc.n AS DOUBLE) / st.n_src)), 4) AS entropy,
        |       round(sum((CAST(tc.n AS DOUBLE) / st.n_src)
        |                 * log2((CAST(tc.n AS DOUBLE) / st.n_src)
        |                        / (CAST(cc.n_corp AS DOUBLE) / ct.n_all))), 4) AS kl
        |FROM tc
        |JOIN st USING (source)
        |JOIN cc USING (w)
        |CROSS JOIN ct
        |GROUP BY tc.source""".stripMargin,
    // the oracle window-ranks the identical E-S key — fine THERE
    // (the oracle only runs at test scale); the Spark side never
    // windows (bounded-heap aggregate, Sampling.weightedTopK)
    "q99_weighted_sample" ->
      s"""WITH keyed AS (
         |  SELECT source, doc_id,
         |         -ln((('0x' || substring(md5(text), 1, 13))::BIGINT + 0.5) / 4503599627370496.0)
         |           / CAST(n_chars AS DOUBLE) AS k
         |  FROM documents WHERE n_chars > 0 AND text IS NOT NULL),
         |r AS (SELECT source, doc_id,
         |             row_number() OVER (PARTITION BY source ORDER BY k, doc_id) AS rank
         |      FROM keyed)
         |SELECT source, doc_id, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= $SampleK""".stripMargin,
    "q105_vocab_growth" ->
      s"""WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
         |toks AS (SELECT least($VocabGrowthBuckets - 1,
         |                      (doc_id - lo) * $VocabGrowthBuckets // (hi - lo + 1)) AS bucket,
         |                unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
         |         FROM documents CROSS JOIN b),
         |tb AS (SELECT bucket, token, count(*) AS n FROM toks GROUP BY bucket, token),
         |occ AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS n_tokens FROM tb GROUP BY bucket),
         |firsts AS (SELECT min(bucket) AS bucket FROM tb GROUP BY token),
         |nt AS (SELECT bucket, count(*) AS new_types FROM firsts GROUP BY bucket)
         |SELECT occ.bucket, occ.n_tokens,
         |       CAST(coalesce(nt.new_types, 0) AS BIGINT) AS new_types,
         |       CAST(sum(coalesce(nt.new_types, 0)) OVER (ORDER BY occ.bucket) AS BIGINT) AS cum_types
         |FROM occ LEFT JOIN nt USING (bucket)""".stripMargin,
    "q110_length_quantiles" ->
      """SELECT source, max(n) AS n,
        |       min(CASE WHEN rn = floor(0.25 * (n - 1)) + 1 THEN len END) AS p25,
        |       min(CASE WHEN rn = floor(0.5 * (n - 1)) + 1 THEN len END) AS p50,
        |       min(CASE WHEN rn = floor(0.75 * (n - 1)) + 1 THEN len END) AS p75
        |FROM (SELECT source, CAST(n_chars AS DOUBLE) AS len,
        |             row_number() OVER (PARTITION BY source ORDER BY CAST(n_chars AS DOUBLE)) rn,
        |             count(*) OVER (PARTITION BY source) n
        |      FROM documents)
        |GROUP BY source""".stripMargin,
    "q111_seq_pack" ->
      s"""WITH t AS (SELECT doc_id, source,
         |                  CAST(len(string_split_regex(trim(text), '${TextFunctions.WsRun}')) AS BIGINT) AS n_toks
         |           FROM documents),
         |c AS (SELECT source, n_toks,
         |             CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum
         |      FROM t),
         |g AS (SELECT source, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS total_toks,
         |             CAST(sum(CASE WHEN n_toks > 0
         |                           AND (cum - n_toks) // $PackSeqTokens <> (cum - 1) // $PackSeqTokens
         |                      THEN 1 ELSE 0 END) AS BIGINT) AS split_docs
         |      FROM c GROUP BY source)
         |SELECT source, n_docs, total_toks,
         |       (total_toks + $PackSeqTokens - 1) // $PackSeqTokens AS n_seqs,
         |       split_docs,
         |       ((total_toks + $PackSeqTokens - 1) // $PackSeqTokens) * $PackSeqTokens - total_toks AS tail_pad,
         |       round(CAST(((total_toks + $PackSeqTokens - 1) // $PackSeqTokens) * $PackSeqTokens - total_toks AS DOUBLE)
         |             / CAST(((total_toks + $PackSeqTokens - 1) // $PackSeqTokens) * $PackSeqTokens AS DOUBLE), 4) AS waste_ratio
         |FROM g""".stripMargin,
    "q116_bpe_pair_counts" ->
      s"""WITH tf AS (SELECT tok, count(*) AS freq
         |            FROM (SELECT unnest(string_split_regex(trim(text), '${TextFunctions.WsRun}')) AS tok
         |                  FROM documents)
         |            GROUP BY tok),
         |p AS (SELECT substring(tok, CAST(i AS INT), 2) AS pair, freq
         |      FROM (SELECT tok, freq, unnest(range(1, len(tok))) AS i FROM tf WHERE len(tok) >= 2))
         |SELECT pair, CAST(sum(freq) AS BIGINT) AS n
         |FROM p GROUP BY pair
         |ORDER BY n DESC, pair ASC LIMIT $BpePairTopK""".stripMargin,
    "q121_ipf_mix" -> {
      // unrolled fixed-point IPF rounds (q97/q119's loop-unroll
      // pattern); all BIGINT — `//` on non-negatives matches `div`
      val steps = (1 to IpfRounds)
        .flatMap { r =>
          val (ma, ca, mb, cb) = (s"m${2 * r - 1}", s"c${2 * r - 1}", s"m${2 * r}", s"c${2 * r}")
          val pa = s"c${2 * r - 2}"
          Seq(
            s"""$ma AS (SELECT source, CAST(sum(n * w) AS BIGINT) AS marg FROM $pa GROUP BY source),
               |$ca AS (SELECT $pa.source, $pa.lclass, $pa.n,
               |        GREATEST(1, CAST(($pa.w * t.tgt_a) // $ma.marg AS BIGINT)) AS w
               |        FROM $pa JOIN $ma USING (source) CROSS JOIN t)""".stripMargin,
            s"""$mb AS (SELECT lclass, CAST(sum(n * w) AS BIGINT) AS marg FROM $ca GROUP BY lclass),
               |$cb AS (SELECT $ca.source, $ca.lclass, $ca.n,
               |        GREATEST(1, CAST(($ca.w * t.tgt_b) // $mb.marg AS BIGINT)) AS w
               |        FROM $ca JOIN $mb USING (lclass) CROSS JOIN t)""".stripMargin
          )
        }
        .mkString(",\n")
      s"""WITH d AS (SELECT source,
         |                  CASE WHEN n_chars < $IpfShortMax THEN 'short'
         |                       WHEN n_chars < $IpfMediumMax THEN 'medium'
         |                       ELSE 'long' END AS lclass
         |           FROM documents),
         |c0 AS (SELECT source, lclass, CAST(count(*) AS BIGINT) AS n,
         |              CAST(${graft.operators.Ipf.WeightScale} AS BIGINT) AS w
         |       FROM d GROUP BY 1, 2),
         |t AS (SELECT (CAST(sum(n) AS BIGINT) * ${graft.operators.Ipf.WeightScale}) // count(DISTINCT source) AS tgt_a,
         |             (CAST(sum(n) AS BIGINT) * ${graft.operators.Ipf.WeightScale}) // count(DISTINCT lclass) AS tgt_b
         |      FROM c0),
         |$steps
         |SELECT source, lclass, n, w AS w_bp FROM c${2 * IpfRounds}""".stripMargin
    },
    "q117_bm25_index" -> {
      val qvals = Bm25Queries
        .flatMap { case (qid, ts) => ts.distinct.map(t => s"($qid, '$t')") }
        .mkString(", ")
      s"""WITH q(query_id, token) AS (VALUES $qvals),
         |$bm25ScoreCtes,
         |r AS (SELECT query_id, doc_id, score_bp,
         |             row_number() OVER (PARTITION BY query_id ORDER BY score_bp DESC, doc_id ASC) AS rank
         |      FROM g)
         |SELECT query_id, rank, doc_id, score_bp FROM r WHERE rank <= $Bm25TopK""".stripMargin
    },
    "q114_source_overlap" ->
      s"""WITH toks AS (SELECT source, string_split_regex(trim(text), '${TextFunctions.WsRun}') t FROM documents),
         |g AS (SELECT DISTINCT source, unnest(list_transform(range(1, greatest(len(t) - ${ContamN - 1}, 1) + 1),
         |             i -> array_to_string(list_slice(t, CAST(i AS INT), CAST(i AS INT) + ${ContamN - 1}), ' '))) s
         |      FROM toks),
         |c AS (SELECT source, count(*) AS n FROM g GROUP BY source),
         |p AS (SELECT a.source sa, b.source sb, count(*) ns
         |      FROM g a JOIN g b USING (s) WHERE a.source <> b.source GROUP BY 1, 2)
         |SELECT sa AS source_a, sb AS source_b, CAST(ns AS BIGINT) AS n_shared_grams,
         |       CAST(ca.n AS BIGINT) AS n_a_grams, CAST(cb.n AS BIGINT) AS n_b_grams,
         |       round(CAST(ns AS DOUBLE) / CAST(ca.n AS DOUBLE), 4) AS share_of_a
         |FROM p JOIN c ca ON ca.source = p.sa JOIN c cb ON cb.source = p.sb""".stripMargin,
    "q115_diverse_topk" ->
      s"""WITH f AS (SELECT doc_id, source,
         |                  CAST(least(n_chars, 400) AS BIGINT) AS len_capped,
         |                  CAST(len(string_split_regex(trim(text), '${TextFunctions.WsRun}')) AS BIGINT) AS n_tokens,
         |                  CAST(len(regexp_extract_all(text, '\\b(the|a|and|of|to|in|is)\\b')) AS BIGINT) AS stop_hits,
         |                  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS punct_hits,
         |                  CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS digit_hits
         |           FROM documents),
         |sc AS (SELECT doc_id, source,
         |              CAST(${graft.etl.LinearModel.scoreBpSql(QualityBiasBp, QualityWeightsBp)} AS BIGINT) AS score_bp
         |       FROM f),
         |r AS (SELECT doc_id, source, score_bp,
         |             row_number() OVER (PARTITION BY source ORDER BY score_bp DESC, doc_id ASC) AS src_rank
         |      FROM sc)
         |SELECT doc_id, source, score_bp, CAST(src_rank AS BIGINT) AS src_rank
         |FROM r WHERE src_rank <= $DiverseTopK
         |ORDER BY score_bp DESC, doc_id ASC LIMIT $DiverseTopN""".stripMargin,
    "q112_quality_logit" ->
      s"""WITH f AS (SELECT doc_id,
         |                  CAST(least(n_chars, 400) AS BIGINT) AS len_capped,
         |                  CAST(len(string_split_regex(trim(text), '${TextFunctions.WsRun}')) AS BIGINT) AS n_tokens,
         |                  CAST(len(regexp_extract_all(text, '\\b(the|a|and|of|to|in|is)\\b')) AS BIGINT) AS stop_hits,
         |                  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS punct_hits,
         |                  CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS digit_hits
         |           FROM documents)
         |SELECT doc_id, len_capped, n_tokens, stop_hits, punct_hits, digit_hits,
         |       CAST(${graft.etl.LinearModel.scoreBpSql(QualityBiasBp, QualityWeightsBp)} AS BIGINT) AS score_bp,
         |       CAST(${graft.etl.LinearModel.scoreBpSql(QualityBiasBp, QualityWeightsBp)} AS BIGINT) >= $QualityKeepBp AS keep
         |FROM f""".stripMargin,
    "q106_zscore_norm" ->
      s"""WITH st AS (SELECT source, count(*) AS n,
         |                   CAST(sum(n_chars) AS BIGINT) AS s1,
         |                   CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
         |            FROM documents GROUP BY source),
         |j AS (SELECT d.doc_id, d.source, d.n_chars, st.n, st.s1,
         |             st.n * st.s2 - st.s1 * st.s1 AS var_num,
         |             sqrt(CAST(st.n * st.s2 - st.s1 * st.s1 AS DOUBLE)
         |                  / CAST(st.n * (st.n - 1) AS DOUBLE)) AS sd
         |      FROM documents d JOIN st USING (source))
         |SELECT doc_id, source, n_chars,
         |       CASE WHEN n > 1 AND var_num > 0
         |            THEN round(CAST(n * n_chars - s1 AS DOUBLE) / (CAST(n AS DOUBLE) * sd), 4) END AS z,
         |       CASE WHEN n > 1 AND var_num > 0
         |            THEN abs(round(CAST(n * n_chars - s1 AS DOUBLE) / (CAST(n AS DOUBLE) * sd), 4)) > $ZOutlier
         |       END AS len_outlier
         |FROM j""".stripMargin,
    "q127_quality_train" -> q127Sql,
    "q136_train_eval" -> q136Sql,
    "q131_dsir_weights" -> q131Sql,
    // q132 oracle: q116's vocab + pair CTEs, argmax pair by the same
    // (n DESC, pair ASC) order, then the identical literal replace
    // over space-joined chars — DuckDB's replace shares Java's
    // left-to-right non-overlap semantics.
    "q132_bpe_apply" ->
      s"""WITH tf AS (SELECT tok, count(*) AS freq
         |            FROM (SELECT unnest(string_split_regex(trim(text), '${TextFunctions.WsRun}')) AS tok
         |                  FROM documents)
         |            GROUP BY tok),
         |pc AS (SELECT substring(tok, CAST(i AS INT), 2) AS pair, CAST(sum(freq) AS BIGINT) AS n
         |       FROM (SELECT tok, freq, unnest(range(1, len(tok))) AS i FROM tf WHERE len(tok) >= 2)
         |       GROUP BY pair),
         |top AS (SELECT (SELECT pair FROM pc ORDER BY n DESC, pair ASC LIMIT 1) AS pair),
         |sp AS (SELECT tok, CAST(freq AS BIGINT) AS freq,
         |              CASE WHEN pair IS NULL THEN joined
         |                   ELSE replace(joined, substr(pair, 1, 1) || ' ' || substr(pair, 2, 1), pair)
         |              END AS syms
         |       FROM (SELECT tok, freq,
         |                    array_to_string(list_transform(range(1, length(tok) + 1),
         |                                    i -> substr(tok, CAST(i AS INT), 1)), ' ') AS joined
         |             FROM tf) CROSS JOIN top)
         |SELECT tok, freq, syms, CAST(len(string_split(syms, ' ')) AS BIGINT) AS n_syms FROM sp""".stripMargin
  )

  /** q131 oracle: the same hashed unigram+bigram features (strhash2
    * twin mod DsirBuckets), both bag models from first principles,
    * ln over identical exact-integer ratios, mean rounded to 4dp
    * (the q93 precedent for FP log scores).
    */
  private lazy val q131Sql: String =
    s"""WITH toks AS (SELECT doc_id, coalesce(lang = 'en', FALSE) AS is_tgt,
       |                     regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |              FROM documents),
       |uni AS (SELECT doc_id, is_tgt, unnest(t) AS g FROM toks),
       |big AS (SELECT doc_id, is_tgt, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS g
       |        FROM (SELECT doc_id, is_tgt, t, unnest(range(1, len(t))) AS i
       |              FROM toks WHERE len(t) >= 2)),
       |feats AS (SELECT doc_id, is_tgt, ${graft.functions.PortableHash.strhash2Sql("g")} % $DsirBuckets AS b
       |          FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
       |cs AS (SELECT b, CAST(count(*) AS BIGINT) AS cs FROM feats GROUP BY b),
       |ct AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM feats WHERE is_tgt GROUP BY b),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS tot_s,
       |               CAST(count(*) FILTER (is_tgt) AS BIGINT) AS tot_t
       |        FROM feats),
       |m AS (SELECT cs.b, cs.cs, coalesce(ct.ct, 0) AS ct FROM cs LEFT JOIN ct USING (b)),
       |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |              round(avg(ln((ct + 1) / CAST(tot_t + $DsirBuckets AS DOUBLE))
       |                        - ln((cs + 1) / CAST(tot_s + $DsirBuckets AS DOUBLE))), 4) AS li_ratio
       |       FROM feats JOIN m USING (b) CROSS JOIN tot GROUP BY doc_id)
       |SELECT d.doc_id, CAST(coalesce(pd.n_grams, 0) AS BIGINT) AS n_grams, pd.li_ratio
       |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin

  /** q127 oracle: the q112 feature CTE plus the lang='en' label, then
    * QualityTrainRounds of (hard-sigmoid error, gradient aggregate,
    * weight update) unrolled as chained 1-row CTEs — the q97/q119/q121
    * loop-unroll pattern. All-BIGINT: DuckDB `//` and Spark `div` both
    * truncate toward zero (verified for negative operands), so the
    * gradient means and the learning-rate step agree bit-for-bit.
    */
  /** The shared q127 CTE chain (feature frame f with label, r0, the
    * QualityTrainRounds unrolled (err, grad, update) rounds) — ONE
    * definition both the q127 weight dump and the q136 eval nest.
    */
  private lazy val q127Ctes: String = {
    val xs = QualityWeightsBp.map(_._1)
    val zExpr = xs.zipWithIndex.map { case (c, i) => s"w_$i * $c" }.mkString("b + ", " + ", "")
    def roundCtes(r: Int): String = {
      val prev = s"r${r - 1}"
      s"""e$r AS (SELECT y, ${xs.mkString(", ")},
         |        greatest(0, least(${graft.operators.LogReg.ProbScale},
         |                          ${graft.operators.LogReg.ProbScale / 2} + ($zExpr) // ${graft.operators.LogReg.ZDiv}))
         |          - ${graft.operators.LogReg.ProbScale} * y AS err
         |        FROM f CROSS JOIN $prev),
         |g$r AS (SELECT count(*) AS n, CAST(sum(err) AS BIGINT) AS g_b,
         |        ${xs.indices.map(i => s"CAST(sum(err * ${xs(i)}) AS BIGINT) AS g_$i").mkString(", ")}
         |        FROM e$r),
         |r$r AS (SELECT b - (g_b // n) // ${graft.operators.LogReg.LrDiv} AS b,
         |        ${xs.indices.map(i => s"w_$i - (g_$i // n) // ${graft.operators.LogReg.LrDiv} AS w_$i").mkString(", ")}
         |        FROM g$r CROSS JOIN $prev)""".stripMargin
    }
    s"""f AS (SELECT CAST(least(n_chars, 400) AS BIGINT) AS len_capped,
       |                  CAST(len(string_split_regex(trim(text), '${graft.text.TextFunctions.WsRun}')) AS BIGINT) AS n_tokens,
       |                  CAST(len(regexp_extract_all(text, '\\b(the|a|and|of|to|in|is)\\b')) AS BIGINT) AS stop_hits,
       |                  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS punct_hits,
       |                  CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS digit_hits,
       |                  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |           FROM documents),
       |r0 AS (SELECT ${("CAST(0 AS BIGINT) AS b" +: xs.indices.map(i => s"CAST(0 AS BIGINT) AS w_$i")).mkString(", ")}),
       |${(1 to QualityTrainRounds).map(roundCtes).mkString(",\n")}""".stripMargin
  }

  private lazy val q127Sql: String = {
    val xs = QualityWeightsBp.map(_._1)
    val unpivot = (s"SELECT 'bias' AS feature, b AS w_bp FROM r$QualityTrainRounds" +:
      xs.zipWithIndex.map { case (c, i) =>
        s"SELECT '$c' AS feature, w_$i AS w_bp FROM r$QualityTrainRounds"
      }).mkString("\n|UNION ALL ")
    s"""WITH $q127Ctes
       |$unpivot""".stripMargin
  }

  /** q136 oracle: the shared q127 chain, every doc scored with the
    * final weights (hard-sigmoid threshold: pred = z >= 0), one
    * accuracy rollup in exact BIGINT basis points.
    */
  private lazy val q136Sql: String = {
    val xs = QualityWeightsBp.map(_._1)
    val zExpr = xs.zipWithIndex.map { case (c, i) => s"w_$i * $c" }.mkString("b + ", " + ", "")
    s"""WITH $q127Ctes,
       |scored AS (SELECT y, CASE WHEN ($zExpr) >= 0 THEN 1 ELSE 0 END AS pred
       |           FROM f CROSS JOIN r$QualityTrainRounds)
       |SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(y) AS BIGINT) AS n_target,
       |       CAST(count(*) FILTER (pred = y) AS BIGINT) AS n_correct,
       |       CAST((CAST(count(*) FILTER (pred = y) AS BIGINT) * 10000) // count(*) AS BIGINT) AS accuracy_bp
       |FROM scored""".stripMargin
  }
}
