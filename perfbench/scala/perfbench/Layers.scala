package perfbench

import scala.collection.mutable

/** Turns the recorded spans and counters into per-layer metrics.
  *
  * Self time: a span's duration minus the part its child spans cover.
  * When a span ran actions, its self time is split further: the SQL
  * planning time of those actions goes to `session`, and the rest is
  * shared among the labels of the plan nodes it executed, in proportion
  * to their plan-node time (see [[Tracer]]). Self times therefore add up
  * to the traced window's wall time.
  */
object Layers {
  val CompactSpans = Set("search.bm25_compact", "operators.pagerank_compact")
  val All = Seq("bench", "session", "sources", "etl", "geo", "dedup", "functions", "sim", "text", "search", "operators")

  def report(tr: Tracer, res: Result, cores: Int, codegenS: Double): Map[String, Double] = {
    tr.drain()
    val spans = tr.spans.toIndexedSeq
    val window = spans.find(s => s.parent < 0 && s.name == "bench.window").get
    val inWindow = spans.filter(s => s.start >= window.start && s.end <= window.end)
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.durNs)
    val cnt = tr.counters.toMap

    // attributed self time per label ("layer.name")
    def attribute(ss: Seq[Span]): Map[String, Double] = {
      val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      ss.foreach { s =>
        val self = math.max(0L, s.durNs - childNs(s.id)) / 1e9
        val plan = math.min(self, cnt.get(s.id).map(_.planNs).getOrElse(0L) / 1e9)
        out("session.plan") += plan
        val rest = self - plan
        val total = s.nodeWeight.values.sum
        if (total > 0) s.nodeWeight.foreach { case (label, w) => out(label) += rest * w / total }
        else out(s.name) += rest
      }
      out.toMap
    }
    val attributed = attribute(inWindow)
    // one label exactly ("sources.write", not "sources.write_history")
    def labelled(label: String): Double = attributed.getOrElse(label, 0.0)
    // every label of a layer
    def layer(l: String): Double = attributed.collect { case (k, v) if k.startsWith(s"$l.") => v }.sum
    // the cell build may run at set-up (index_serve) or in the window
    // (corpus_dedup): reported per build, over every span
    val cellBuilds = spans.filter(_.name == "operators.cell_build")
    def within(roots: Set[Int])(s: Span): Boolean = roots.contains(s.id) || (s.parent >= 0 && within(roots)(spans(s.parent)))
    val inBuilds = spans.filter(within(cellBuilds.map(_.id).toSet))
    val perBuild = math.max(1, cellBuilds.size).toDouble
    def spanCounters(pred: Span => Boolean): Seq[SpanCounters] = inWindow.filter(pred).flatMap(s => cnt.get(s.id))
    val all = spanCounters(_ => true)
    def sum(f: SpanCounters => Long, cs: Seq[SpanCounters] = all): Double = cs.map(f).sum.toDouble
    // counters of spans named `prefix*` and all their descendants
    def under(prefix: String): Seq[SpanCounters] =
      spanCounters(within(inWindow.filter(_.name.startsWith(prefix)).map(_.id).toSet))
    // compaction (Formats.compactBucketed) runs under the BM25 and the
    // PageRank compaction calls alike; its sources-layer work is the
    // scans and writes inside them
    val compactRoots = inWindow.filter(s => CompactSpans.contains(s.name)).map(_.id).toSet
    val inCompact = inWindow.filter(within(compactRoots))
    val compactS = attribute(inCompact).collect { case (k, v) if k.startsWith("sources.") => v }.sum
    val vol = mutable.Map.empty[String, Long].withDefaultValue(0L)
    all.foreach(_.volumes.foreach { case (k, v) => vol(k) += v })
    val candidates = Seq("minhash_candidates", "q129_candidates", "hamming_candidates", "q34_candidates").map(vol).sum
    val survivors = Seq("minhash_verified", "q129_tau_survivors", "hamming_survivors", "q34_survivors").map(vol).sum
    val wallS = window.durNs / 1e9
    val busyS = sum(_.taskBusyNs) / 1e9
    val ratios = tr.stragglerRatios.sorted
    def info(k: String): Double = res.info.get(k) match {
      case Some(n: Number) => n.doubleValue
      case _ => 0.0
    }

    val m = mutable.LinkedHashMap[String, Double](
      "session.plan_s" -> sum(_.planNs) / 1e9,
      "session.codegen_s" -> codegenS,
      "session.jobs" -> sum(_.jobs),
      "session.stages" -> sum(_.stages),
      "session.tasks" -> sum(_.tasks),
      "session.sched_wait_s" -> sum(_.schedDelayMs) / 1e3,
      "session.task_busy_s" -> busyS,
      "session.task_cpu_s" -> sum(_.taskCpuNs) / 1e9,
      "session.busy_frac" -> busyS / (wallS * cores),
      "session.gc_s" -> sum(_.gcMs) / 1e3,
      "session.straggler_ratio" -> (if (ratios.isEmpty) 1.0 else ratios(ratios.size / 2)),
      "sources.scan_rows" -> sum(_.scanRows),
      "sources.scan_bytes" -> sum(_.scanBytes),
      "sources.write_s" -> labelled("sources.write"),
      "sources.write_bytes" -> sum(_.writeBytes),
      "sources.files_written" -> sum(_.filesWritten),
      "sources.compact_s" -> compactS,
      "sources.bytes_rewritten" -> sum(_.writeBytes, inCompact.flatMap(s => cnt.get(s.id))),
      "sources.files_per_bucket" -> info("sources.files_per_bucket"),
      "etl.upsert_s" -> labelled("etl.upsert"),
      "etl.merge_s" -> labelled("etl.merge"),
      "etl.melt_s" -> labelled("etl.melt"),
      "etl.asof_s" -> labelled("etl.asof"),
      "etl.history_rows" -> info("etl.history_rows"),
      "etl.live_rows" -> info("etl.live_rows"),
      "geo.envelope_merge_s" -> labelled("geo.envelope_merge"),
      "dedup.candidates" -> candidates.toDouble,
      "dedup.survivors" -> survivors.toDouble,
      "dedup.useful_frac" -> (if (candidates > 0) survivors.toDouble / candidates else 0.0),
      "dedup.shuffle_bytes" -> sum(_.shuffleWriteBytes, under("dedup.")),
      "dedup.spill_bytes" -> sum(_.spillBytes, under("dedup.")),
      "functions.objagg_time_s" -> sum(_.objAggNs) / 1e9,
      "functions.sort_time_s" -> sum(_.sortNs) / 1e9,
      "sim.embed_stage_s" -> layer("sim"),
      "text.filter_stage_s" -> layer("text"),
      "search.bm25_query_s" -> labelled("search.bm25_query"),
      "search.bm25_append_s" -> labelled("search.bm25_append"),
      "search.bm25_compact_s" -> labelled("search.bm25_compact"),
      "operators.cell_build_s" -> attribute(inBuilds).values.sum / perBuild,
      "operators.kmeans_jobs" -> inBuilds.flatMap(s => cnt.get(s.id)).map(_.jobs).sum / perBuild,
      "operators.pagerank_query_s" -> labelled("operators.pagerank_query"),
      "operators.pagerank_append_s" -> labelled("operators.pagerank_append")
    )
    All.foreach(l => m(s"self.${l}_s") = layer(l))
    m("trace.wall_s") = wallS
    // the share of the traced wall that a program layer explains; the
    // rest is the benchmark's own glue (`self.bench_s`)
    m("trace.layer_frac") = 1.0 - layer("bench") / wallS
    m.toMap
  }
}
