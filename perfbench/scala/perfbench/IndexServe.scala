package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.PageRank
import graft.search.Bm25Index

/** index_serve: a from-scratch build of the persisted BM25 index and the
  * PageRank edge table, then rounds of
  *   1. append a seeded delta batch to both,
  *   2. run the standing query set (BM25 top-k per term set, PageRank
  *      top nodes), each query one op,
  *   3. compact both.
  * The check compares the last round's BM25 answers with
  * Bm25Index.searchDirect over every row, and its PageRank answer with an
  * edge table rebuilt from scratch.
  */
final class IndexServe(spark: SparkSession, tr: Tracer, data: String, res: Result) extends Runner {
  import IndexServe._

  private val spec = {
    val raw = scala.io.Source.fromFile(s"$data/queries.json").mkString
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    om.readTree(raw)
  }
  private val bm25Queries: Seq[(Int, Seq[String])] = {
    val qs = spec.get("bm25_queries")
    (0 until qs.size).map(i => i -> (0 until qs.get(i).size).map(j => qs.get(i).get(j).asText()))
  }
  private val deltas = new java.io.File(s"$data/delta").list().sorted
  private var appended = 0
  private var lastAnswers = Map.empty[String, Seq[Row]]
  private val filesPerBucket = mutable.ArrayBuffer.empty[Double]

  private def base(t: String): DataFrame = spark.read.parquet(s"$data/base/$t.parquet")
  private def delta(b: Int, t: String): DataFrame = spark.read.parquet(s"$data/delta/${deltas(b)}/$t.parquet")

  /** Set-up: stage the base inputs as warehouse tables, three times. */
  def setup(): Unit =
    for (_ <- 1 to 3) {
      val (_, s) = Main.timed {
        Seq("documents", "edges").foreach { t =>
          tr.span("sources", "stage")(base(t).write.mode("overwrite").saveAsTable(s"base_$t"))
        }
      }
      res.setupS += s
    }

  /** From-scratch builds of both indexes over the base tables. */
  override def build(): Unit = {
    val (_, s) = Main.timed {
      tr.span("search", "bm25_build")(Bm25Index.writeIndex(spark.table("base_documents"), "doc_id", "text", "bm25", Buckets))
      tr.span("operators", "pagerank_build")(PageRank.writeEdgeTable(spark.table("base_edges"), "edges", Buckets))
    }
    res.buildS = s
  }

  /** The standing query set; each query is one timed op. A query that
    * fails leaves no answer.
    */
  private def queries(): Map[String, Seq[Row]] = {
    val out = mutable.LinkedHashMap.empty[String, Seq[Row]]
    def q(name: String)(f: => Seq[Row]): Unit =
      spent += res.run(tr, "query", name, timed = true)(out(name) = f.sortBy(_.toString))
    bm25Queries.foreach { case (qid, terms) =>
      q(s"bm25_$qid")(tr.span("search", "bm25_query")(Bm25Index.search(spark, "bm25", Seq(qid -> terms), TopK).collect().toSeq))
    }
    q("pagerank")(tr.span("operators", "pagerank_query")(pagerankTop("edges")))
    out.toMap
  }

  /** Top nodes by rank, rounded as q104 rounds it: the rank sums' order
    * follows the file layout.
    */
  private def pagerankTop(table: String): Seq[Row] =
    PageRank.runFromEdgeTable(spark, table).select(col("node"), round(col("pr"), 7).as("pr"))
      .orderBy(col("pr").desc, col("node")).limit(TopK).collect().toSeq

  private def appendAll(b: Int): Unit = {
    val d = delta(b, "documents")
    tr.span("search", "bm25_append")(Bm25Index.appendIndex(d, "doc_id", "text", "bm25"))
    tr.span("operators", "pagerank_append")(PageRank.appendEdgeTable(delta(b, "edges"), "edges"))
  }

  private def compactAll(): Unit = {
    tr.span("search", "bm25_compact")(Bm25Index.compactIndex(spark, "bm25", maxFilesPerBucket = 1))
    tr.span("operators", "pagerank_compact")(PageRank.compactEdgeTable(spark, "edges", maxFilesPerBucket = 1))
  }

  /** Op time spent in the timed rounds. */
  private var spent = 0.0

  def loop(seconds: Double): Unit = {
    // one untimed BM25 query and PageRank first, for code generation and JIT
    tr.span("search", "warmup")(Bm25Index.search(spark, "bm25", bm25Queries.take(1), TopK).collect())
    tr.span("operators", "warmup")(PageRank.runFromEdgeTable(spark, "edges").limit(TopK).collect())
    while (spent < seconds && appended < deltas.length) {
      val b = appended
      spent += res.run(tr, "append", deltas(b), timed = true, DeltaDocs)(appendAll(b))
      appended += 1
      lastAnswers = queries()
      // files per bucket the queries read, before compaction restores one
      filesPerBucket ++= Seq("bm25", "edges").map(tableFiles).map(t => t._1.toDouble / t._3)
      spent += res.run(tr, "compact", deltas(b), timed = true)(compactAll())
    }
  }

  def check(): Unit = {
    val mismatches = mutable.ArrayBuffer.empty[String]
    val n = appended
    def all(t: String): DataFrame = (0 until n).map(delta(_, t)).foldLeft(spark.table(s"base_$t"))(_ unionByName _)
    // BM25: the from-scratch answer over base + every appended delta
    val direct = Bm25Index.searchDirect(all("documents"), "doc_id", "text", bm25Queries, TopK).collect().toSeq
    bm25Queries.foreach { case (qid, _) =>
      val want = direct.filter(_.getInt(0) == qid).sortBy(_.toString)
      if (lastAnswers.get(s"bm25_$qid") != Some(want)) mismatches += s"bm25_$qid"
    }
    // PageRank: the edge table rebuilt from scratch over the same rows
    PageRank.writeEdgeTable(all("edges"), "edges_ref", Buckets)
    if (lastAnswers.get("pagerank") != Some(pagerankTop("edges_ref").sortBy(_.toString)))
      mismatches += "pagerank"
    res.info("mismatches") = mismatches.toSeq
    val sizes = Seq("bm25", "edges").map(tableFiles)
    res.info("index_bytes") = sizes.map(_._2).sum
    res.info("index_rows") = Seq("documents", "edges").map(all(_).count()).sum
    res.info("sources.files_per_bucket") = filesPerBucket.sum / filesPerBucket.size
  }

  /** (data files, their bytes, buckets) of a managed table. */
  private def tableFiles(t: String): (Int, Long, Int) = {
    val meta = spark.sessionState.catalog.getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(t))
    val fs = new org.apache.hadoop.fs.Path(meta.location).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(meta.location), true)
    val files = mutable.ArrayBuffer.empty[Long]
    while (it.hasNext) { val f = it.next(); if (f.getPath.getName.startsWith("part-")) files += f.getLen }
    (files.size, files.sum, meta.bucketSpec.map(_.numBuckets).getOrElse(1))
  }
}

object IndexServe {
  val Buckets = 8
  val TopK = 10
  val DeltaDocs = 100
}
