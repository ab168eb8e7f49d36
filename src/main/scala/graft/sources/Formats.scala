package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink formats beyond raw parquet.
  *
  * The reference ingests CSV census files and writes into a versioned
  * store (gerrydb_etl/__init__.py download path; pl_pop_tables.py CSV
  * loads). graft's equivalents: schema-enforced CSV / JSONL readers
  * (no inference at scale — a schema scan of 100 TB is a full read)
  * and a partition-pruned parquet layout for the lake side.
  */
object Formats {

  /** CSV with an EXPLICIT schema: inference is disabled on purpose —
    * at scale, schema inference re-reads the input; a declared schema
    * also pins types against drifting source files (the reference's
    * TabularConfig serves the same role).
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType, header: Boolean = true): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header.toString)
      .option("mode", "FAILFAST") // corrupt rows fail the ingest, not silently null out
      .csv(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", header.toString).csv(path)

  /** JSON-lines with explicit schema (same rationale as CSV). */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(path)

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** ORC read/write — the columnar alternative a reference user may
    * already hold data in. ORC is built into Spark (no external
    * connector): predicate pushdown and column pruning reach the ORC
    * reader exactly as with parquet (SourcesSpec asserts
    * `PushedFilters` on an ORC scan), so every graft operator runs on
    * ORC inputs unchanged.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Hive-style partitioned parquet — the lake layout that makes
    * partition pruning work: a filter on a partition column must show
    * up as `PartitionFilters` in the scan (asserted in SourcesSpec),
    * meaning non-matching directories are never opened.
    */
  /** File-split guard for the one-task-per-key persisted layouts
    * below: one task per key means a HOT key serializes its whole
    * volume through one writer and, unguarded, one unbounded file.
    * The writer-level `maxRecordsPerFile` option lets that task roll
    * to a new file past the cap — oversized keys split, small keys
    * keep their single file, and the cap is a per-write option, not
    * session state a concurrent write could inherit. 16M records ≈
    * 1.6–16 GB at typical 100 B–1 KB rows: far above every test-scale
    * key (the one-file-per-bucket layout contract in SourcesSpec is
    * unaffected) while bounding the 100 TB straggler file.
    */
  val MaxRecordsPerFile: Long = 16L * 1024 * 1024

  /** Directory-partitioned parquet. The pre-write repartition hashes
    * rows by the partition columns so each partition value is written
    * by exactly ONE task → one file per directory, regardless of the
    * session's shuffle width. Without it the file count is
    * write-tasks × values-touched — a session-level knob (AQE's
    * initialPartitionNum) silently multiplying a PERSISTED artifact's
    * file count, which every later reader pays in listing + footer
    * overhead. Layout of a stored index is a contract, not a
    * runtime-tuning side effect. ([[MaxRecordsPerFile]] bounds the
    * hot-key straggler file the one-task contract would otherwise
    * allow.)
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.repartition(partitionCols.map(org.apache.spark.sql.functions.col): _*)
      .write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", MaxRecordsPerFile.toString)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Bucketed managed table: rows are hash-distributed into a fixed
    * number of buckets BY KEY at write time, so a join or aggregation
    * on that key later needs NO shuffle at all — both sides' bucket i
    * files are read by the same task (SourcesSpec asserts the bucketed
    * join plan is exchange-free). This is the materialization every
    * "at 100 TB, bucketBy(...)" scale note in this codebase refers
    * to: pay one shuffle at ingest, amortize it over every downstream
    * key-join/agg. Buckets should be sized so one bucket ≈ one task's
    * memory (numBuckets ≈ data size / 128-256 MB).
    */
  def writeBucketed(df: DataFrame, table: String, key: String, numBuckets: Int): Unit =
    // repartition to EXACTLY numBuckets on the bucket key: Spark's
    // bucket id and HashPartitioning use the same hash, so partition i
    // holds exactly bucket i and each bucket lands in ONE file. A
    // bucketed scan schedules one task per bucket either way — extra
    // files per bucket (write-tasks × buckets without this) buy no
    // parallelism, only listing/footer overhead on every read, and let
    // session shuffle knobs leak into the persisted layout.
    df.repartition(numBuckets, org.apache.spark.sql.functions.col(key))
      .write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", MaxRecordsPerFile.toString)
      .format("parquet")
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** Table property recording the file count the LAST compaction
    * produced. The re-compaction trigger is RELATIVE to it (r14
    * advice, medium): with [[MaxRecordsPerFile]] a compacted bucket
    * legitimately holds several files, so an absolute
    * files-per-bucket threshold would re-run the full-table rewrite
    * on EVERY ingest batch once a bucket outgrows
    * threshold × MaxRecordsPerFile rows — exactly in the 100 TB
    * regime compaction exists for. Relative trigger: compact when
    * current files > lastCompacted + maxFilesPerBucket × buckets,
    * i.e. every append cycle pays at most `maxFilesPerBucket` extra
    * files per bucket before one rewrite, whatever the achievable
    * floor is.
    */
  val CompactedFilesProp = "graft.compacted_files"

  /** Default files-per-key growth allowed between compactions, shared
    * by every persisted index family's append path — calibrated by
    * the append probe's premium-vs-batch-count chart (r14: the
    * maintained read degrades ~2× by 8 uncompacted batches; 4 bounds
    * the premium while amortizing one rewrite over several appends).
    */
  val DefaultCompactFilesPerBucket = 4

  private def tableMeta(spark: SparkSession, table: String) =
    spark.sessionState.catalog.getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))

  private def partDataFiles(fs: org.apache.hadoop.fs.FileSystem, dir: org.apache.hadoop.fs.Path): Int =
    if (!fs.exists(dir)) 0
    else {
      val it = fs.listFiles(dir, true)
      var n = 0
      while (it.hasNext) if (it.next().getPath.getName.startsWith("part-")) n += 1
      n
    }

  private def dropTableAndFiles(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog.defaultTablePath(ident))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** If a prior compaction crashed between the two renames (the table
    * name is gone but its `_compact_old` twin survives), restore the
    * original — recovery is a RENAME, never a rebuild (r14 advice).
    * Returns true iff a recovery ran.
    */
  def recoverInterruptedCompaction(spark: SparkSession, table: String): Boolean = {
    val old = s"${table}_compact_old"
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(old)) {
      spark.sql(s"ALTER TABLE $old RENAME TO $table")
      true
    } else false
  }

  /** Rewrite a BUCKETED managed table's data files back toward one
    * per bucket once the append cadence has grown them past the
    * RELATIVE threshold (see [[CompactedFilesProp]]) — the shared
    * small-files maintenance every persisted graft index family uses
    * (cell partition, signature bands, BM25 postings, edge table).
    * Answer- and stamp-invisible: rows stream through ONE bucketed
    * shuffle into a temp table (never materialized in memory — a
    * checkpoint of the whole index could not run at the scale the
    * index exists for), every `graft.*` table property is re-applied
    * verbatim plus the new [[CompactedFilesProp]], and the swap is
    * rename-aside-then-rename-in: a crash at any point leaves either
    * the original table or its `_compact_old` twin intact —
    * [[recoverInterruptedCompaction]] restores the name with one
    * rename. Reads the data FILES, not the catalog table: a bucketed
    * scan advertises HashPartitioning(key, n), which would let the
    * optimizer drop writeBucketed's layout repartition and write
    * plain splits (measured: 19 files for 16 buckets). Returns true
    * iff a rewrite ran.
    */
  def compactBucketed(spark: SparkSession, table: String, maxFilesPerBucket: Int): Boolean = {
    recoverInterruptedCompaction(spark, table)
    val meta = tableMeta(spark, table)
    val numBuckets = meta.bucketSpec
      .map(_.numBuckets)
      .getOrElse(throw new IllegalStateException(s"index table '$table' is not bucketed"))
    val keyCols = meta.bucketSpec.get.bucketColumnNames
    require(keyCols.size == 1, s"index table '$table' has a composite bucket key: $keyCols")
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nFiles = partDataFiles(fs, loc)
    val lastCompacted = meta.properties.get(CompactedFilesProp).map(_.toLong).getOrElse(0L)
    if (nFiles <= lastCompacted + maxFilesPerBucket.toLong * numBuckets) false
    else {
      val tmp = s"${table}_compact_tmp"
      val old = s"${table}_compact_old"
      dropTableAndFiles(spark, tmp)
      dropTableAndFiles(spark, old)
      writeBucketed(spark.read.parquet(meta.location.toString), tmp, keyCols.head, numBuckets)
      val tmpLoc = new org.apache.hadoop.fs.Path(tableMeta(spark, tmp).location)
      val compactedFiles = partDataFiles(tmpLoc.getFileSystem(spark.sparkContext.hadoopConfiguration), tmpLoc)
      val stamps = meta.properties.toSeq
        .filter(_._1.startsWith("graft."))
        .filterNot(_._1 == CompactedFilesProp)
        .map { case (k, v) => s"'$k' = '$v'" } :+ s"'$CompactedFilesProp' = '$compactedFiles'"
      spark.sql(s"ALTER TABLE $tmp SET TBLPROPERTIES (${stamps.mkString(", ")})")
      // swap: original aside, tmp in, original dropped — any crash
      // leaves a complete table under `table` or `_compact_old`
      spark.sql(s"ALTER TABLE $table RENAME TO $old")
      try spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
      catch {
        case e: Throwable =>
          spark.sql(s"ALTER TABLE $old RENAME TO $table")
          throw e
      }
      dropTableAndFiles(spark, old)
      true
    }
  }

  /** [[compactBucketed]] for an UNBUCKETED managed companion table
    * (e.g. the BM25 per-batch stats rows — one appended row per
    * ingest batch, so files grow one per batch with no ceiling).
    * Rewrites to a single file through the same temp-swap.
    */
  def compactPlain(spark: SparkSession, table: String, maxFiles: Int): Boolean = {
    recoverInterruptedCompaction(spark, table)
    val meta = tableMeta(spark, table)
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (partDataFiles(fs, loc) <= maxFiles) false
    else {
      val tmp = s"${table}_compact_tmp"
      val old = s"${table}_compact_old"
      dropTableAndFiles(spark, tmp)
      dropTableAndFiles(spark, old)
      spark.read
        .parquet(meta.location.toString)
        .coalesce(1)
        .write
        .mode(SaveMode.Overwrite)
        .format("parquet")
        .saveAsTable(tmp)
      val stamps = meta.properties.toSeq
        .filter(_._1.startsWith("graft."))
        .map { case (k, v) => s"'$k' = '$v'" }
      if (stamps.nonEmpty) spark.sql(s"ALTER TABLE $tmp SET TBLPROPERTIES (${stamps.mkString(", ")})")
      spark.sql(s"ALTER TABLE $table RENAME TO $old")
      try spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
      catch {
        case e: Throwable =>
          spark.sql(s"ALTER TABLE $old RENAME TO $table")
          throw e
      }
      dropTableAndFiles(spark, old)
      true
    }
  }

  /** Compaction for the PATH-partitioned index layouts (IVF / IVF+PQ:
    * one directory per cell, one file added per cell per append
    * batch). Same relative trigger as [[compactBucketed]], recorded
    * in a `_graft_compacted` marker file at the root (paths have no
    * catalog properties); same rename-aside swap at the directory
    * level. The rewrite streams the rows through
    * [[writePartitioned]]'s one-task-per-value layout contract.
    * Returns true iff a rewrite ran.
    */
  def compactPartitioned(
      spark: SparkSession,
      path: String,
      partitionCols: Seq[String],
      maxFilesPerDir: Int
  ): Boolean = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldRoot = new org.apache.hadoop.fs.Path(path + "_compact_old")
    // crash recovery: a missing root with the aside twin present is
    // restored by one rename
    if (!fs.exists(root) && fs.exists(oldRoot)) fs.rename(oldRoot, root)
    if (!fs.exists(root)) return false
    val dirs = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
    val nDirs = math.max(dirs.length, 1)
    val nFiles = partDataFiles(fs, root)
    val marker = new org.apache.hadoop.fs.Path(root, "_graft_compacted")
    val lastCompacted =
      if (!fs.exists(marker)) 0L
      else {
        val len = fs.getFileStatus(marker).getLen.toInt
        val buf = new Array[Byte](len)
        val in = fs.open(marker)
        try in.readFully(0, buf)
        finally in.close()
        new String(buf, "UTF-8").trim.toLong
      }
    if (nFiles <= lastCompacted + maxFilesPerDir.toLong * nDirs) false
    else {
      val tmpPath = path + "_compact_tmp"
      val tmpRoot = new org.apache.hadoop.fs.Path(tmpPath)
      if (fs.exists(tmpRoot)) fs.delete(tmpRoot, true)
      if (fs.exists(oldRoot)) fs.delete(oldRoot, true)
      writePartitioned(spark.read.parquet(path), tmpPath, partitionCols)
      val compacted = partDataFiles(fs, tmpRoot)
      val tmpMarker = new org.apache.hadoop.fs.Path(tmpRoot, "_graft_compacted")
      val out = fs.create(tmpMarker, true)
      try out.write(compacted.toString.getBytes("UTF-8"))
      finally out.close()
      if (!fs.rename(root, oldRoot)) throw new java.io.IOException(s"could not move $path aside")
      if (!fs.rename(tmpRoot, root)) {
        fs.rename(oldRoot, root)
        throw new java.io.IOException(s"could not move compacted $tmpPath into place")
      }
      fs.delete(oldRoot, true)
      true
    }
  }

  /** Range-sorted parquet: rows globally ordered by `key` across
    * files AND row groups (repartitionByRange gives disjoint
    * per-file key ranges; sortWithinPartitions orders row groups
    * inside each file), so parquet min/max statistics let a narrow
    * key filter SKIP whole row groups — the scan emits ~selected
    * rows, not ~all rows (asserted on scan metrics in SourcesSpec).
    *
    * This is the third layout lever next to partitionBy (prune
    * directories by low-cardinality column) and bucketBy (shuffle-free
    * key joins): sort when the hot filter is a RANGE on a
    * high-cardinality key (time, id). At 100 TB the difference is
    * reading gigabytes instead of the full table for every
    * point-in-range query. `blockBytes` sizes row groups — the skip
    * granularity (default parquet 128 MB; smaller groups skip finer
    * but compress worse).
    */
  def writeSorted(df: DataFrame, path: String, key: String, blockBytes: Long = 128L * 1024 * 1024): Unit =
    df.repartitionByRange(org.apache.spark.sql.functions.col(key))
      .sortWithinPartitions(org.apache.spark.sql.functions.col(key))
      .write
      .mode(SaveMode.Overwrite)
      .option("parquet.block.size", blockBytes.toString)
      .parquet(path)
}
