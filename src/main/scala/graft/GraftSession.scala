package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the settings every graft job wants.
  *
  * Local testing runs `local[32]`; the settings below are chosen so the
  * same code is correct on a 1000-executor cluster:
  *   - AQE on: runtime coalescing of shuffle partitions + skew-join
  *     splitting replaces hand-tuned partition counts at scale.
  *   - shuffle.partitions defaults to 32 locally; on a cluster this is
  *     overridden to 2-3x total cores (AQE coalesces the excess).
  *   - UTC session timezone for oracle parity and cross-cluster
  *     determinism.
  */
object GraftSession {
  // Fixed engine settings (each measured both ways in an earlier round;
  // the reasoning sits next to its use in `builder`).
  private val AqeInitialFactor = 8
  private val AqeMinPartitionKb = 64
  private val AqeAdvisoryMb = 64
  private val ShjLocalMapMb = 16
  private val OhaFallbackKeys = 32768
  private val MaxPartitionMb = 16
  private val CodegenCacheEntries = 4096

  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      // native graft expressions (graft_dot) for SQL + DataFrame API
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Partition count must TRACK data size, not the static default:
      // plan every shuffle at 8x the baseline and let AQE coalesce
      // back down by measured bytes. At the small-SF floor the result
      // is identical tasking (AQE merges to ~the old 32); at the 256x
      // decade the wide self-join sorts run 8-way finer instead of
      // going allocation-bound at 32 (measured 43.8 s -> ~10 s on
      // q34). On a real cluster the same knob scales with executor
      // count.
      .config(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (shufflePartitions * AqeInitialFactor).toString
      )
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      // parallelismFirst targets totalBytes/parallelism per partition
      // but never goes below minPartitionSize — so a CPU-DENSE stage
      // whose bytes are small (a GK-sketch merge, a 150k-key distinct
      // rewrite, a fact-window over ~14 MB of shuffled longs) was
      // coalesced to bytes/1MB tasks and ran 3-of-32-cores wide at
      // Spark's 1m default (r19 probes: q45/q57/q83/q97's heaviest
      // stages). Bytes are the wrong proxy for work in those stages
      // at ANY estate size; the floor exists only to stop block-count
      // explosions, and 64 KB keeps that guard while letting few-MB
      // CPU-dense stages reach the session parallelism. Measured both
      // ways at sf0.1 (r19, same-era full-bench A-B-A: 146.6 s at 64k
      // vs 153.4 at 1m, wins spread over the window/sketch/distinct
      // families; a 20-query probe set agreed) — see
      // OPTIMIZATION_r19.md Finding 6. Decade-scale stages are GBs
      // and never near either floor.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", s"${AqeMinPartitionKb}k")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", s"${AqeAdvisoryMb}m")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Runtime SMJ -> shuffled-hash conversion: when AQE measures
      // every post-shuffle partition of a sort-merge join under this
      // threshold, the reduce stage runs as a hash join with NO
      // sorts. For the payload-carrying self-joins (q34's exploded
      // N·L×550 B frame) the sorts are the scale killer — 2 × ~77 GB
      // through UnsafeExternalSorter at the 2048× decade, the r16
      // ENOSPC — while the hash build is one post-shuffle partition.
      // THE BOUND IS EXECUTION-MEMORY SAFETY, not plan preference:
      // SHJ builds cannot spill, and at local[32]/8g each
      // concurrently-building task owns only ~150 MB of the tracked
      // pool — a first-cut 128m threshold let a ~47 MB-compressed
      // (~200 MB raw) build convert at the 256× decade and every
      // build task died with "not enough memory to build hash map".
      // 16 MB compressed (≲65 MB raw + map overhead per task) fits
      // the 32-way pool with headroom.
      // THE CONVERSION'S SECOND GATE (r18, ADVICE): Spark's
      // DynamicJoinSelection.preferShuffledHashJoin ALSO requires
      // advisoryPartitionSizeInBytes <= this threshold before it even
      // looks at measured partition sizes (verified in the 4.1.2
      // bytecode) — r17 shipped a 64 MB advisory against the 16 MB
      // threshold, so the conversion was a silent no-op and the q34
      // decade actually survived on finer AQE initial partitions
      // keeping the SMJ sorts in memory. The conversion is an OPT-IN
      // DECADE LEVER, not the default: an r18 same-era A/B at sf0.1
      // measured the engaged conversion DOUBLING the iterative
      // kmeans/cell family (cell build 16.5 s with it off vs 33 s on,
      // q107 1.5 vs 2.9 s — per-task hash-build overhead on hundreds
      // of KB-sized partitions across iterative stages), while at
      // decade geometry it removes the external sorts that ENOSPC'd
      // r16. A deployment engages it by setting
      // spark.sql.adaptive.advisoryPartitionSizeInBytes to the
      // threshold (PlanSpec pins the converted no-sort shape under
      // exactly that pairing); a cluster — where partitions are never
      // tiny — also raises the threshold to its per-core memory.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", s"${ShjLocalMapMb}m")
      // ObjectHashAggregate falls back to SORT-BASED aggregation after
      // this many distinct keys per task — and the default (128) makes
      // EVERY per-doc/per-vector typed aggregate (graft_simhash,
      // graft_min2, graft_topk) externally sort its whole input: the
      // corpus's heaviest frames re-sorted for aggregates whose
      // map-side state is tiny and fixed. 32k keys bounds the
      // UNTRACKED object map at ~16 MB/task for ≤0.5 KB state (32
      // tasks ≈ 0.5 GB live — measured: 128k entries of 512 B minhash
      // buffers OOM'd the 8 GB heap during the map→sorter dump, so
      // the bound must leave dump headroom); past the threshold the
      // sort fallback is survivable, just slow. The hot signature
      // aggregate (graft_minhash) is a TypedImperativeAggregate
      // (functions/SketchAggregates.scala MinHashAgg) and runs EXACTLY
      // this ObjectHashAggregate path — that is why keyClustered bounds
      // keys/task upstream of it (the r17 declarative rewrite was
      // measured slower and reverted in da1dc31; this comment is the
      // recorded negative result). The safe value is heap-dependent:
      // a session on a much smaller heap overrides it in its builder.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", OhaFallbackKeys.toString)
      // Scan-split size: the 128 MB default assumes scan-bound work,
      // but graft's hot pipelines are compute-AMPLIFYING — a shingle
      // explode turns each input row into ~150, so a 470 MB documents
      // scan (100× decade) became 4 tasks each partial-aggregating
      // ~20M exploded rows (1 GB+ hash maps → 17 GB spill, 28 of 32
      // cores idle through q32's heaviest stage). 16 MB splits give
      // the explosion ~30+ upstream tasks at that size and scale with
      // the corpus; every sf0.1 table is a single ≤16 MB file, so the
      // driver-gate plans and timings are untouched. Map-side combine
      // output is unchanged — only the pre-shuffle parallelism moves.
      .config("spark.sql.files.maxPartitionBytes", s"${MaxPartitionMb}m")
      .config("spark.sql.session.timeZone", "UTC")
      // Generated-class cache (STATIC conf, sized at first-session
      // creation): Spark keeps at most `maxEntries` compiled codegen
      // classes (default 100) and the 142-operator suite generates
      // far more distinct codegen units per sweep — the default cache
      // provably thrashes, so EVERY re-execution of a plan (Bench
      // pass 2, AQE re-optimized stages, a service's repeated
      // queries) pays full Janino recompilation instead of a cache
      // hit. Measured r20 (same-era A-B-B-A full bench, per-pass
      // CodeGenerator.compileTime telemetry, artifacts
      // tools/r20/aba_cg_*.json): at 100 entries pass 2 re-pays the
      // whole Janino bill (33.8/34.7 s and 35.5/29.0 s of compile
      // across passes 1/2); at 4096 pass-2 compile collapses to 0.8 s
      // and the sweep totals drop 140.9/129.8 -> 95.1/96.0 s (-30%,
      // 111 of 142 queries improve, zero regress beyond noise).
      // Scale posture: the cache is per JVM — one on the driver and
      // one on each executor, since both compile generated classes —
      // so the ~100-200 MB of metaspace at 4096 entries (~30-50 KB of
      // bytecode each) is paid per JVM; it changes no plan shape. On
      // Spark 4.1 the cache is also keyed per class loader, so within
      // one local-mode JVM the driver and the tasks (different
      // loaders) each compile and cache the same class once.
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // Local mode has no executor exit to reap finished stages'
      // shuffle files — ContextCleaner only removes them after a full
      // GC collects the dropped ShuffleDependency, and the default
      // 30min periodic GC is an eternity at decade scale: a probe
      // running several corpus-sized jobs in sequence accumulated
      // 71 GB of dead shuffle files and ENOSPC'd the sandbox (r17,
      // recall_2048x). A 60 s periodic full GC costs ~nothing at 8 GB
      // and keeps disk high-water at one live job's footprint.
      .config("spark.cleaner.periodicGC.interval", "60s")
      // accept SUBSET co-partitioning for joins: a table bucketed by
      // its block key (CellIndex's `cluster`) must serve joins whose
      // keys are a superset (cluster + a promoted equality like
      // q82's label) without re-shuffling both sides — the stored
      // bucketing IS the partitioning we paid for at ingest. The
      // default (true) insists every join key be a partition key,
      // which re-shuffles the bucketed table for no correctness gain;
      // the trade (coarser parallelism = bucket count) is exactly the
      // bucketing design decision.
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // events.parquet carries TIMESTAMP(NANOS), which Spark has no
      // native type for; read as nanos-since-epoch long (exact).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
