package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{CensusAliases, Cleanse, CollisionMerge, Identifiers, Reshape, Versioned}
import graft.sources.Formats

/** etl_versioned: census-style import batches run through the paper's
  * chain — cleanse, derive ids, collision-merge, melt wide to long —
  * then SCD2-upserted into two persisted history tables (geographies
  * and column values), followed by as-of and latest-per-key reads.
  * Batch b is dated T0 + b + 1 days; the snapshot, upserted into an
  * empty history at set-up, is dated T0.
  */
final class EtlVersioned(spark: SparkSession, tr: Tracer, data: String, res: Result) extends Runner {
  private val PopCols = (1 to 8).map(i => s"P1_00${i}N")
  private val T0Days = 19000L
  private val buckets = spark.sparkContext.defaultParallelism
  private val batches = new java.io.File(s"$data/batch").list().filter(_.endsWith(".parquet")).sorted
  private var version = 0
  private var applied = 0

  private def day(d: Long): Column = lit(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(d * 86400L)))
  private def geoTable(v: Int) = s"geo_hist_v$v"
  private def valTable(v: Int) = s"val_hist_v$v"

  /** cleanse → ids → (envelope merge | collision merge → melt → aliases) */
  private def prepare(raw: DataFrame): (DataFrame, DataFrame) = {
    val clean = tr.lazyCall("etl", "cleanse", raw) {
      Cleanse.dropExactDuplicates(Cleanse.replaceInStringColumns(raw, "/", "-"))
    }
    val ids = tr.lazyCall("etl", "identifiers", clean) {
      clean
        .withColumn("geo_key", Identifiers.qualifiedId(Identifiers.stripTrustMarker(col("geoid")), col("level"), Some(col("fips"))))
        .withColumn("path", Identifiers.pathify(col("name")))
    }
    val geo = tr.lazyCall("geo", "envelope_merge", ids)(CollisionMerge.mergeEnvelopes(ids, "geo_key"))
    val merged = tr.lazyCall("etl", "merge", ids) {
      CollisionMerge.merge(ids, "geo_key", PopCols, Seq("path", "fips"), Some("level"))
    }
    val long = tr.lazyCall("etl", "melt", merged)(Reshape.melt(merged, Seq("geo_key"), PopCols))
    val aliased = tr.lazyCall("etl", "aliases", long) {
      long.withColumn("col_2010", CensusAliases.alias2010Six(col("col_name")))
    }
    (geo, aliased)
  }

  private def readRaw(path: String): DataFrame = tr.span("sources", "read_batch")(spark.read.parquet(path))

  private def write(df: DataFrame, table: String): Unit =
    tr.span("sources", "write_history")(Formats.writeBucketed(df, table, "geo_key", buckets))

  private def drop(table: String): Unit = tr.span("sources", "drop_history")(spark.sql(s"DROP TABLE IF EXISTS $table"))

  def setup(): Unit =
    for (_ <- 1 to 3) {
      drop(geoTable(0)); drop(valTable(0))
      val (_, s) = Main.timed {
        // the first import: an upsert into an empty history
        val (geo, vals) = prepare(readRaw(s"$data/snapshot.parquet"))
        def empty(df: DataFrame) =
          df.limit(0).withColumn("valid_from", day(T0Days)).withColumn("valid_to", lit(null).cast("timestamp"))
        write(Versioned.upsert(empty(geo), geo, Seq("geo_key"), day(T0Days)), geoTable(0))
        write(Versioned.upsert(empty(vals), vals, Seq("geo_key", "col_name"), day(T0Days)), valTable(0))
      }
      res.setupS += s
    }

  /** One import batch: both upserts, then the reads. */
  private def batch(b: Int): Unit = {
    val now = day(T0Days + b + 1)
    val (geo, vals) = prepare(readRaw(s"$data/batch/${batches(b)}"))
    val geoHist = spark.table(geoTable(version))
    val valHist = spark.table(valTable(version))
    val geoUp = tr.lazyCall("etl", "upsert", geoHist, geo)(Versioned.upsert(geoHist, geo, Seq("geo_key"), now))
    val valUp = tr.lazyCall("etl", "upsert", valHist, vals)(Versioned.upsert(valHist, vals, Seq("geo_key", "col_name"), now))
    write(geoUp, geoTable(version + 1))
    write(valUp, valTable(version + 1))
    drop(geoTable(version)); drop(valTable(version))
    version += 1
    val vNow = spark.table(valTable(version))
    tr.span("etl", "asof") {
      Versioned.asOf(vNow, day(T0Days + b)).groupBy(col("col_name")).agg(sum(col("value"))).collect()
    }
    tr.span("etl", "latest") {
      Versioned
        .latestPerKey(spark.table(geoTable(version)), Seq("geo_key"), "valid_from")
        .agg(count(lit(1)), sum(col("total_area")))
        .collect()
    }
  }

  def loop(seconds: Double): Unit = {
    // two untimed batches first: every batch compiles code for its own
    // literals, and the compiler and JIT take a couple of batches to warm
    runBatch(timedSample = false)
    runBatch(timedSample = false)
    var spent = 0.0
    while (spent < seconds && applied < batches.length) spent += runBatch(timedSample = true)
    if (applied == batches.length) res.errors += s"ran out of batches after ${applied}"
  }

  /** One batch op, named by its input file (the checks count its rows). */
  private def runBatch(timedSample: Boolean): Double = {
    val b = applied
    applied += 1
    res.run(tr, "batch", batches(b), timedSample)(batch(b))
  }

  /** The checks run in DuckDB over these tables' files (see checks.py). */
  def check(): Unit = {
    def loc(t: String) = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(t)).location.getPath
    res.info("batches_applied") = applied
    res.info("geo_history") = loc(geoTable(version))
    res.info("val_history") = loc(valTable(version))
    res.info("etl.history_rows") = spark.table(valTable(version)).count()
    res.info("etl.live_rows") = spark.table(valTable(version)).filter(col("valid_to").isNull).count()
  }
}
