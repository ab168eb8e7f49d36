package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the LSH/MinHash/hyperplane GEOMETRY behind every recall claim.
  *
  * The scaling artifacts declare "planted recall stands" across rounds
  * on the argument that the geometry is byte-unchanged — candidate
  * SETS cannot move when the hash constants, banding arithmetic,
  * hyperplane literals, shingle n, and corpus-sizing CASE chains are
  * identical (r18 VERDICT #5 asked for that prose argument to become a
  * mechanical pin, like the SHJ-conversion plan pin). This spec
  * fingerprints all of it — through the REAL execution paths, not
  * re-derived formulas — and fails on any change.
  *
  * IF THIS TEST FAILS: you changed the collision geometry. That is
  * allowed, but a recall re-measurement is now OWED: re-run the
  * planted-recall measurement at a decade SF (the probe main that took
  * it, graft.RecallProbe, is in git history), record the
  * number in the round's SCALING artifact, bump
  * PortableHash.SignatureFormatVersion if signatures moved, and update
  * the stamp below IN THE SAME COMMIT.
  */
class GeometryPinSpec extends AnyFunSuite {
  import TestSpark._

  private def fingerprint(): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def add(s: String): Unit = md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def addD(d: Double): Unit = add(java.lang.Double.doubleToLongBits(d).toString + ";")

    import graft.functions.PortableHash
    import graft.queries.DedupSimQueries
    import graft.sim.Similarity

    // 1. MinHash permutation scheme: modulus, fold bases, signature
    //    format, all 64 coefficient triples, the two-mulmod perm on
    //    fixed 62-bit inputs, and the string fold itself.
    add(s"P=${PortableHash.P};B1=${PortableHash.Base1};B2=${PortableHash.Base2};" +
      s"M62=${PortableHash.Mask62};fmt=${PortableHash.SignatureFormatVersion};")
    (0 until 64).foreach { p =>
      add(s"${PortableHash.permA(p)},${PortableHash.permB(p)},${PortableHash.permC(p)};")
    }
    Seq(0L, 1L, 0x1234_5678_9ABCL, PortableHash.Mask62).foreach { h =>
      add(PortableHash.perm(PortableHash.permA(7), PortableHash.permB(7), PortableHash.permC(7), h).toString + ";")
    }
    Seq("alpha beta gamma", "the quick brown fox", "κείμενο δοκιμής").foreach { s0 =>
      add(PortableHash.foldString(0L, s0).toString + ";")
    }

    // 2. Banding: band count via NumPerms/RowsPerBand and the Horner
    //    band-key fold evaluated through the Catalyst expression on a
    //    fixed signature (the path q32's explode actually runs).
    add(s"perms=${DedupSimQueries.NumPerms};rows=${DedupSimQueries.RowsPerBand};" +
      s"maxDf=${DedupSimQueries.MaxShingleDf};")
    val numBands = DedupSimQueries.NumPerms / DedupSimQueries.RowsPerBand
    val mh = lit((1 to DedupSimQueries.NumPerms).map(i => i.toLong * 0x7F4A7C15L % PortableHash.P).toArray)
    val keys = spark.range(1).select(
      array((0 until numBands).map(b => graft.dedup.Dedup.bandKey(mh, b, DedupSimQueries.RowsPerBand)): _*)
    ).head().getSeq[Long](0)
    add(keys.mkString(",") + ";")

    // 3. Hyperplane literals at the plane ids the q34/q36 geometries
    //    address (table strides of EmbPlaneBase=1000; q36's 8 tables).
    add(s"dims=${DedupSimQueries.Dims};annTables=${DedupSimQueries.AnnTables};" +
      s"annTarget=${DedupSimQueries.AnnBucketTarget};maxAnn=${DedupSimQueries.MaxAnnPlanes};" +
      s"maxEmb=${DedupSimQueries.MaxEmbPlanes};embBase=${DedupSimQueries.EmbPlaneBase};" +
      s"cosT=${DedupSimQueries.CosineThreshold};semTarget=${DedupSimQueries.SemClusterTarget};")
    for (p <- Seq(0, 1, 63, 999, 1000, 1019, 15999); d <- Seq(0, 1, 63))
      addD(Similarity.hyperplane(p, DedupSimQueries.Dims)(d))

    // 4. Corpus-sizing CASE chains at the measured decades (sf0.001,
    //    sf0.01, sf0.1, 100x, 512x, 2048x-ish counts): these choose the
    //    live plane/table counts, so a chain edit IS a geometry edit.
    Seq(600L, 6000L, 60000L, 600000L, 3000000L, 12000000L).foreach { n =>
      add(s"$n:${DedupSimQueries.annPlanesFor(n)},${DedupSimQueries.embPlanesFor(n)}," +
        s"${DedupSimQueries.embTablesFor(n)};")
    }

    // 5. End-to-end through the real operators at sf0.001: shingle
    //    tokenization + n (via the queries' own shingles3), signature
    //    values (graft_minhash typed aggregate), and simhash bits.
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val sh = graft.queries.DedupSimQueries.shingles3(spark, sf).filter(col("doc_id") < 20)
    val shRows = sh.collect().map(r => s"${r.get(0)}:${r.get(1)}").sorted
    add(s"shingles=${shRows.length};")
    shRows.foreach(s0 => add(s0 + ";"))
    val sigs = graft.dedup.Dedup.minhashSignatures(sh, DedupSimQueries.NumPerms)
      .collect().map(r => s"${r.getLong(0)}:${r.getSeq[Long](1).mkString(",")}").sorted
    sigs.foreach(s0 => add(s0 + ";"))
    val simh = sh.groupBy(col("doc_id"))
      .agg(graft.functions.GraftFunctions.simhash(col("shingle")).as("sh"))
      .collect().map(r => s"${r.get(0)}:${r.get(1)}").sorted
    simh.foreach(s0 => add(s0 + ";"))

    // 6. The bucket fold on a fixed vector under both live geometries:
    //    q36's contiguous tables and q34's EmbPlaneBase-strided matrix.
    val v = lit(Array.tabulate(DedupSimQueries.Dims)(d => ((d * 37) % 101 - 50) / 50.0))
    val q36Buckets = spark.range(1)
      .select(Similarity.lshTableBuckets(v, DedupSimQueries.AnnTables, 12, DedupSimQueries.Dims))
      .head().getSeq[org.apache.spark.sql.Row](0).map(r => s"${r.get(0)}:${r.get(1)}")
    add(q36Buckets.mkString(",") + ";")
    val mat = Similarity.lshPlaneMatrix(3, 5, DedupSimQueries.Dims, DedupSimQueries.EmbPlaneBase)
    mat.flatten.foreach(addD)
    val q34Buckets = spark.range(1)
      .select(posexplode(graft.functions.GraftFunctions.lshBuckets(v, mat, 5)))
      .collect().map(r => s"${r.get(0)}:${r.get(1)}")
    add(q34Buckets.mkString(",") + ";")

    md.digest().map(b => f"$b%02x").mkString
  }

  test("LSH geometry fingerprint is pinned — a change owes a recall re-measurement") {
    val fp = fingerprint()
    // Stamped at r19 HEAD — the geometry whose planted recall was last
    // measured in tools/r18 (recall stands since the r16/r17 campaign;
    // SCALING_r18.json `missing` records the justification chain).
    val stamped = "a2f399b640924ca7b32ee32127123aa6"
    assert(
      fp == stamped,
      s"LSH geometry fingerprint moved ($fp != stamped $stamped). The collision geometry behind " +
        "every 'recall stands' declaration has changed: re-run the planted-recall probe " +
        "at a decade SF (graft.RecallProbe in git history), record the recall in the round's SCALING artifact, " +
        "bump PortableHash.SignatureFormatVersion if signature values moved, and update this " +
        "stamp in the same commit."
    )
  }
}
