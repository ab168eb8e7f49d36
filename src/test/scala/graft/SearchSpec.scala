package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TrainingQueries.{Bm25IndexBuckets, Bm25Queries, Bm25TopK}
import graft.search.Bm25Index
import graft.sources.Tables

/** q117's persisted BM25 index: answers byte-equal to the no-index
  * path, bucket pruning actually happening at the scan, incremental
  * append ≡ rebuild, and the format-version gate refusing a stale
  * index.
  */
class SearchSpec extends AnyFunSuite {
  import TestSpark._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Int, Int, Long, Long)] =
    df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

  test("q117: index search equals the no-index searchDirect, and every query fills its k") {
    val docs = Tables.documents(spark, sf)
    val tbl = "graft_bm25_spec_eq"
    Bm25Index.writeIndex(docs, "doc_id", "text", tbl, Bm25IndexBuckets)
    val viaIndex = rows(Bm25Index.search(spark, tbl, Bm25Queries, Bm25TopK))
    val direct = rows(Bm25Index.searchDirect(docs, "doc_id", "text", Bm25Queries, Bm25TopK))
    assert(viaIndex == direct, s"index path diverges: ${viaIndex -- direct} / ${direct -- viaIndex}")
    assert(viaIndex.size == Bm25Queries.size * Bm25TopK)
  }

  test("q117: the literal term filter prunes buckets at the postings scan") {
    val docs = Tables.documents(spark, sf)
    val tbl = "graft_bm25_spec_prune"
    Bm25Index.writeIndex(docs, "doc_id", "text", tbl, Bm25IndexBuckets)
    val terms = Bm25Queries.flatMap(_._2).distinct
    // DisableUnnecessaryBucketedScan hides the bucketed form of a bare
    // filter+scan (file-level bucket pruning still happens inside
    // createReadRDD, but the plan string won't say so); turn the rule
    // off just for this assertion so SelectedBucketsCount is visible.
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val saved = spark.conf.get(key)
    val plan =
      try {
        spark.conf.set(key, "false")
        Bm25Index
          .readIndex(spark, tbl)
          .filter(col("token").isin(terms: _*))
          .queryExecution
          .executedPlan
          .toString
      } finally spark.conf.set(key, saved)
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(plan)
      .getOrElse(fail(s"no bucket pruning in plan:\n$plan"))
    assert(sel.group(2).toInt == Bm25IndexBuckets)
    assert(
      sel.group(1).toInt < Bm25IndexBuckets,
      s"scan read all ${sel.group(2)} buckets — term filter did not prune"
    )
  }

  test("q117: appending a batch preserves the bucket layout and the answers equal a rebuild") {
    val docs = Tables.documents(spark, sf)
    val tbl = "graft_bm25_spec_append"
    Bm25Index.writeIndex(docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", tbl, Bm25IndexBuckets)
    Bm25Index.appendIndex(docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", tbl)
    val meta = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(tbl))
    assert(meta.bucketSpec.map(_.numBuckets).contains(Bm25IndexBuckets), "append changed the bucket spec")
    val appended = rows(Bm25Index.search(spark, tbl, Bm25Queries, Bm25TopK))
    val direct = rows(Bm25Index.searchDirect(docs, "doc_id", "text", Bm25Queries, Bm25TopK))
    assert(appended == direct, "append-then-search diverges from the full-corpus answer")
  }

  test("q117: a format-version mismatch is refused loudly") {
    val docs = Tables.documents(spark, sf)
    val tbl = "graft_bm25_spec_ver"
    Bm25Index.writeIndex(docs, "doc_id", "text", tbl, Bm25IndexBuckets)
    spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES ('${Bm25Index.VersionProp}' = '999')")
    val e = intercept[IllegalArgumentException] {
      Bm25Index.search(spark, tbl, Bm25Queries, Bm25TopK)
    }
    assert(e.getMessage.contains("format version"), e.getMessage)
  }

  test("q117: search fans shared, repeated and absent terms out exactly as searchDirect") {
    val docs = Tables.documents(spark, sf)
    val tbl = "graft_bm25_spec_fanout"
    Bm25Index.writeIndex(docs, "doc_id", "text", tbl, Bm25IndexBuckets)
    val absent = "zzqxjv"
    assert(Bm25Index.readIndex(spark, tbl).filter(col("token") === absent).isEmpty, s"'$absent' is in the corpus")
    val queries = Seq(
      1 -> Seq("customer", "join"),
      2 -> Seq("join", "merge", "merge"), // shares "join" with 1, repeats "merge"
      3 -> Seq("dup", absent),
      4 -> Seq(absent)
    )
    val viaIndex = rows(Bm25Index.search(spark, tbl, queries, Bm25TopK))
    val direct = rows(Bm25Index.searchDirect(docs, "doc_id", "text", queries, Bm25TopK))
    assert(viaIndex == direct, s"index path diverges: ${viaIndex -- direct} / ${direct -- viaIndex}")
    assert(viaIndex.map(_._1) == Set(1, 2, 3))
  }

  test("q117: search is one shuffle in three jobs, recompiles nothing, and the stale-version gate starts no job") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    val docs = Tables.documents(spark, sf)
    val tbl = "graft_bm25_spec_plan"
    val (first, rest) = (docs.filter(col("doc_id") % 3 =!= 0), docs.filter(col("doc_id") % 3 === 0))
    Bm25Index.writeIndex(first, "doc_id", "text", tbl, Bm25IndexBuckets)

    // jobs of `f`, counted by job group: the listener bus is ordered, so
    // once the closing sentinel job is seen every job of `f` has been
    val sc = spark.sparkContext
    val group = "graft_bm25_spec_plan"
    val started = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          started.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    def jobsOf(f: => Unit): Int = {
      started.clear()
      sc.setJobGroup(group, "op")
      try f
      finally {
        sc.setJobGroup(group, "sentinel")
        sc.parallelize(Seq(1), 1).count()
        sc.clearJobGroup()
      }
      Iterator
        .continually(Option(started.poll(60, java.util.concurrent.TimeUnit.SECONDS)).getOrElse(fail("sentinel job not seen")))
        .takeWhile(_ != "sentinel")
        .size
    }
    def compiles(f: => Unit): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      f
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }

    sc.addSparkListener(listener)
    try {
      val search = Bm25Index.search(spark, tbl, Seq(Bm25Queries.head), Bm25TopK)
      val searchJobs = jobsOf(search.collect())
      assert(searchJobs <= 3, s"a single-query search ran $searchJobs jobs")
      val plan = search.queryExecution.executedPlan
      val helper = new AdaptiveSparkPlanHelper {}
      assert(helper.collect(plan) { case b: BroadcastExchangeLike => b }.isEmpty, s"broadcast in:\n$plan")
      assert(helper.collect(plan) { case s: ShuffleExchangeLike => s }.size == 1, s"not one shuffle in:\n$plan")
      assert(
        !search.queryExecution.optimizedPlan.exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
        "search reads a checkpointed frame"
      )

      // same arity, other terms: every class comes from the cache
      assert(compiles(Bm25Index.search(spark, tbl, Seq(Bm25Queries(2)), Bm25TopK).collect()) == 0)

      // the appended batch's stats row is observed during its postings
      // write and equals a second evaluation of the batch's postings
      Bm25Index.appendIndex(rest, "doc_id", "text", tbl)
      val statsRows = spark.table(s"${tbl}_stats").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = Seq(first, rest)
        .map(d => Bm25Index.batchStats(Bm25Index.postings(d, "doc_id", "text")).head())
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      assert(statsRows == expected)
      // an empty batch stores a null sum_dl, which search must read
      Bm25Index.appendIndex(rest.filter(lit(false)), "doc_id", "text", tbl)
      // new corpus stats reach the plan as data, not as class source
      assert(compiles(Bm25Index.search(spark, tbl, Seq(Bm25Queries.head), Bm25TopK).collect()) == 0)

      spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES ('${Bm25Index.VersionProp}' = '999')")
      val staleJobs = jobsOf(intercept[IllegalArgumentException](Bm25Index.search(spark, tbl, Bm25Queries, Bm25TopK)))
      assert(staleJobs == 0, s"the stale index ran $staleJobs jobs before refusing")
    } finally sc.removeSparkListener(listener)
  }

  test("q140: fused ranking is internally consistent with its two component retrievers") {
    import graft.queries.DedupSimQueries.{FusionProbes, FusionTopK, RrfK}
    val out = SparkEntry
      .queries("q140_hybrid_retrieval")(spark, sf)
      .collect()
      .map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getInt(4)),
          if (r.isNullAt(5)) None else Some(r.getInt(5)))
      )
    assert(out.map(_._1).distinct.length == FusionProbes, "every probe must produce results")
    // the probe never retrieves itself on either side
    out.foreach { case (q, _, d, _, _, _) => assert(q != d, s"probe $q returned itself") }
    out.groupBy(_._1).foreach { case (q, rs) =>
      // dense fused ranks, ordered by (rrf desc, doc_id asc)
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to rs.length), s"probe $q ranks not dense")
      assert(rs.length <= FusionTopK)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3), s"probe $q fused order violated at rank ${b._2}")
        case _ =>
      }
      // every fused row carries at least one component rank and the
      // RRF value is exactly the two-addend sum of its ranks
      rs.foreach { case (_, _, d, rrf, lr, sr) =>
        assert(lr.isDefined || sr.isDefined, s"probe $q doc $d fused from nothing")
        val expect = BigDecimal(
          lr.map(r => 1.0 / (RrfK + r)).getOrElse(0.0) + sr.map(r => 1.0 / (RrfK + r)).getOrElse(0.0)
        ).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(rrf - expect) < 1e-9, s"probe $q doc $d rrf $rrf != $expect")
        lr.foreach(r => assert(r >= 1 && r <= FusionTopK))
        sr.foreach(r => assert(r >= 1 && r <= FusionTopK))
      }
      // a doc top-ranked by BOTH retrievers must win the fusion
      rs.find(t => t._5 == Some(1) && t._6 == Some(1)).foreach(t => assert(t._2 == 1))
    }
  }

  test("q141: per-system eval rows are well-formed under both truths; semantic/cosine reproduces q128; lexical/bm25 pins 1.0") {
    import graft.queries.DedupSimQueries.{FusionProbes, FusionTopK}
    val out = SparkEntry
      .queries("q141_retrieval_eval")(spark, sf)
      .collect()
      .map(r =>
        (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getInt(4)), r.getDouble(5))
      )
    assert(out.map(_._2).distinct.sorted.toSeq == Seq("fused", "lexical", "semantic"))
    assert(out.map(_._3).distinct.sorted.toSeq == Seq("bm25", "cosine"))
    // one row per (probe × system × truth)
    assert(out.length == FusionProbes * 3 * 2, s"expected ${FusionProbes * 6} rows, got ${out.length}")
    out.foreach { case (q, sys, truth, hits, fhr, rr) =>
      assert(q >= 0 && q < FusionProbes)
      assert(hits >= 0 && hits <= FusionTopK, s"$sys/$truth probe $q hits $hits")
      fhr match {
        case Some(r) =>
          assert(r >= 1 && r <= FusionTopK)
          assert(math.abs(rr - BigDecimal(1.0 / r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
          assert(hits > 0, s"$sys/$truth probe $q has a first hit but zero hits")
        case None => assert(rr == 0.0 && hits == 0, s"$sys/$truth probe $q no hit but rr=$rr hits=$hits")
      }
    }
    // the lexical channel IS the exact bm25 computation, so its bm25
    // rows are a 1.0 pin by construction (the q128 exact-vs-itself
    // convention) — if this breaks, the truth and the channel diverged
    out.filter(t => t._2 == "lexical" && t._3 == "bm25").foreach { t =>
      assert(t._4 == FusionTopK && t._5 == Some(1), s"lexical/bm25 probe ${t._1} is not the 1.0 pin: $t")
    }
    // the semantic system's hits@k under the cosine truth IS q128's
    // recall numerator — the eval must agree with the standing ANN
    // certification
    val q128 = SparkEntry
      .queries("q128_ann_recall")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .toMap
    val semHits = out.filter(t => t._2 == "semantic" && t._3 == "cosine").map(t => t._1 -> t._4).toMap
    q128.foreach { case (p, nHits) =>
      assert(semHits.getOrElse(p, 0L) == nHits, s"probe $p: eval ${semHits.get(p)} != q128 $nHits")
    }
  }
}
