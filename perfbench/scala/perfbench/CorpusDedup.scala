package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, DedupPipeline}
import graft.operators.CellIndex
import graft.queries.DedupSimQueries._
import graft.text.TextFunctions

/** corpus_dedup: repeated full passes of the training-data cleaning
  * pipeline over a corpus that graft.ScaleUp derives from the seeded
  * base corpus at set-up. One pass runs every stage over the whole
  * corpus and persists each stage's output:
  *
  *   text gates (exact dedup + langid/quality/length, q56's rule) →
  *   DedupPipeline.run (exact → span → semantic, over the cell index
  *   built once) → minhash-LSH pairs (q32's rule) → simhash pairs
  *   (q33's rule) → embedding near-dup pairs (q34) → survivors.
  *
  * Stage outputs of the last pass are compared with
  * SparkEntry.oracleSql in DuckDB where an oracle exists.
  */
final class CorpusDedup(spark: SparkSession, tr: Tracer, data: String, res: Result) extends Runner {
  private val corpus = s"$data/corpus"
  private val cellTable = "bench_cell_index"
  private var passes = 0
  private def out(p: Int) = s"$data/pass/$p"

  private def docs: DataFrame = tr.span("sources", "read_corpus")(spark.read.parquet(s"$corpus/documents.parquet"))
  private def emb: DataFrame = spark.read.parquet(s"$corpus/embeddings.parquet")

  private def write(df: DataFrame, path: String): Unit = df.write.mode("overwrite").parquet(path)

  def setup(): Unit = () // the corpus derivation ran before the session (CorpusDedup.scaleUp)

  /** The cell partition the pipeline's semantic stage reads: the
    * program's persisted ingest artifact, built once per corpus.
    */
  override def build(): Unit = {
    val (_, s) = Main.timed {
      tr.span("operators", "cell_build") {
        CellIndex.drop(spark, cellTable)
        CellIndex.ensure(emb, "vec_id", "embedding", Some("label"), KmeansK, SemClusterTarget, KmeansIters, Dims, cellTable)
      }
    }
    res.buildS = s
  }

  private def pass(p: Int): Unit = {
    val dir = out(p)
    val d = docs
    tr.span("text", "filter_stage") {
      val keepIds = tr.lazyCall("dedup", "exact", d) {
        d.groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      }
      val gated = tr.lazyCall("text", "gates", d, keepIds) {
        d.join(keepIds, Seq("doc_id"), "left_semi")
          .select(
            col("doc_id"), col("lang"),
            TextFunctions.langId(col("text")).as("pred_lang"),
            TextFunctions.qualityScore(col("text"), col("n_chars")).as("quality"),
            col("n_chars"))
          .filter(col("pred_lang") === "en" && col("quality") >= 0.5 && col("n_chars").between(100, 2000))
      }
      write(gated, s"$dir/q56_clean_corpus")
    }
    tr.span("dedup", "pipeline") {
      write(
        DedupPipeline.run(d, "doc_id", "text", CellIndex.read(spark, cellTable), SubstrGramLen, Dims, SemDedupTauNum, SemDedupTauDen),
        s"$dir/pipeline")
    }
    val sh = tr.span("dedup", "shingles") {
      Dedup.checkpointHeavy(Dedup.dfCapped(Dedup.shingles(Dedup.spreadScan(d, col("doc_id")), "doc_id", "text", 3), MaxShingleDf))
    }
    tr.span("dedup", "minhash") {
      val sigs = tr.lazyCall("dedup", "minhash_signatures", sh)(Dedup.minhashSignatures(sh, NumPerms))
      val cands = tr.lazyCall("dedup", "lsh_candidates", sigs)(Dedup.lshCandidates(sigs, NumPerms, RowsPerBand))
      write(tr.lazyCall("dedup", "verify", sh, cands)(Dedup.verifyJaccard(sh, cands, JaccardThreshold)), s"$dir/q32_dedup_minhash_lsh")
    }
    tr.span("dedup", "simhash") {
      val sigs = tr.lazyCall("dedup", "simhash_signatures", sh)(Dedup.simhash(sh))
      write(tr.lazyCall("dedup", "simhash_pairs", sigs)(Dedup.simhashNearPairs(sigs, SimhashMaxDist)), s"$dir/q33_dedup_simhash")
    }
    tr.span("sim", "embed_stage") {
      val e = emb
      val n = e.count()
      write(
        Dedup.embeddingNearDupsLsh(e, "vec_id", "embedding", "label", CosineThreshold, embTablesFor(n), embPlanesFor(n),
          MaxEmbPlanes, EmbPlaneBase, Dims),
        s"$dir/q34_dedup_embedding")
    }
    tr.span("bench", "survivors") {
      def ids(name: String, c: String) = spark.read.parquet(s"$dir/$name").select(col(c).as("doc_id"))
      val dropped = ids("q32_dedup_minhash_lsh", "doc_b")
        .union(ids("q33_dedup_simhash", "doc_b"))
        .union(ids("q34_dedup_embedding", "vec_b"))
      val kept = spark.read.parquet(s"$dir/pipeline").filter(col("stage") === "kept").select("doc_id")
      write(
        ids("q56_clean_corpus", "doc_id").join(kept, "doc_id").join(dropped, Seq("doc_id"), "left_anti"),
        s"$dir/survivors")
    }
  }

  def loop(seconds: Double): Unit = {
    val n = spark.read.parquet(s"$corpus/documents.parquet").count()
    // one untimed pass first, for code generation and JIT
    runPass(timedSample = false, n)
    var spent = 0.0
    while (spent < seconds) spent += runPass(timedSample = true, n)
  }

  private def runPass(timedSample: Boolean, nDocs: Long): Double = {
    val p = passes
    passes += 1
    res.run(tr, "pass", s"pass $p", timedSample, nDocs)(pass(p))
  }

  def check(): Unit = {
    res.info("corpus") = corpus
    res.info("last_pass") = out(passes - 1)
    val oracle = graft.SparkEntry.oracleSql
    res.info("oracle_sql") = Seq("q56_clean_corpus", "q33_dedup_simhash", "q30_dedup_text_exact").map(q => q -> oracle(q)).toMap
  }
}

object CorpusDedup {

  /** Set-up: graft.ScaleUp derives the corpus from the seeded base
    * (SPARK_GRAFT_SCALE_REPLICAS copies, documents and embeddings);
    * three derivations, each timed.
    */
  def scaleUp(data: String, res: Result): Unit =
    for (_ <- 1 to 3) {
      val (_, s) = Main.timed(graft.ScaleUp.main(Array(s"$data/base", s"$data/corpus")))
      res.setupS += s
    }
}
