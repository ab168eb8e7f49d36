package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.operators.{AsOfJoin, RangeJoin}
import graft.streaming.Events

/** Randomized semantic checks of the hand-built operators against
  * brute-force in-memory references — deterministic seeds, shapes that
  * include exact timestamp ties, singleton groups, empty matches, and
  * chain-shaped dup graphs (the cases a fixed example suite misses).
  */
class PropertySpec extends AnyFunSuite {
  import TestSpark._

  test("portable hash and minhash permutations stay in range on random inputs") {
    import graft.functions.PortableHash._
    val rnd = new Random(7)
    // beyond the legit [0, 2^62) hash range, include NEGATIVE and
    // >= 2^62 longs: graft_minhash accepts any bigint, so perm must be
    // total (Mask62) rather than silently overflowing the mulmod
    val hs = Seq(0L, 1L, P - 1, P, (1L << 62) - 1, -1L, Long.MinValue, Long.MaxValue) ++
      Seq.fill(2000)(rnd.nextLong() & ((1L << 62) - 1)) ++ Seq.fill(500)(rnd.nextLong())
    for (p <- 0 until 64) {
      val (a, b, c) = (permA(p), permB(p), permC(p))
      assert(a >= 1 && a < P && b >= 1 && b < P && c >= 1 && c < P, s"coefficients out of [1,P) at p=$p")
      for (h <- hs) {
        val x = perm(a, b, c, h)
        assert(x >= 0 && x < P, s"perm($p)($h) = $x out of [0, P)")
      }
    }
    // the permutation consumes BOTH halves: flipping only the high half
    // must change the output (the old h-mod-P formulation would map a
    // 2^31 step to a collision class of size ~2)
    val base = 12345L
    val hi = base + (1L << 31) * 7L
    val diffs = (0 until 64).count(p => perm(permA(p), permB(p), permC(p), base) != perm(permA(p), permB(p), permC(p), hi))
    assert(diffs == 64, s"only $diffs/64 permutations distinguish a high-half change")
  }

  test("as-of join equals the brute-force latest-prior reference on random inputs") {
    import spark.implicits._
    for (seed <- 0 until 6) {
      val rnd = new Random(seed)
      // small ts range forces ties; clicks get unique ids for tiebreak
      val lefts = (1 to 30).map(i => (rnd.nextInt(3).toLong, rnd.nextInt(40).toLong, i.toLong))
      val rights = (1 to 25).map(i => (rnd.nextInt(3).toLong, rnd.nextInt(40).toLong, 100L + i))
      val l = lefts.toDF("k", "ts", "lid")
      val r = rights.toDF("k", "ts", "rid")
      val got = AsOfJoin
        .latestPriorMatch(l, r, "k", "ts", Seq("rid"))
        .collect()
        .map(row => row.getLong(2) -> (if (row.isNullAt(4)) -1L else row.getLong(4)))
        .toMap
      lefts.foreach { case (k, ts, lid) =>
        val cands = rights.filter(rr => rr._1 == k && rr._2 <= ts)
        val expect =
          if (cands.isEmpty) -1L
          else {
            val maxTs = cands.map(_._2).max
            cands.filter(_._2 == maxTs).map(_._3).max // max rid among tied ts
          }
        assert(got(lid) == expect, s"seed=$seed left=$lid k=$k ts=$ts")
      }
    }
  }

  test("batch sessionization equals the naive reference on random inputs") {
    import spark.implicits._
    for (seed <- 0 until 6) {
      val rnd = new Random(100 + seed)
      val gapUs = 10L
      val evs = (1 to 40).map(i => (i.toLong, rnd.nextInt(3).toLong, rnd.nextInt(200).toLong * 1000L))
      val df = evs.toDF("event_id", "user_id", "ts").withColumn("value", lit(1.0))
      val got = Events
        .sessionStats(df, gapNanos = gapUs * 1000L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      // naive reference in Scala (ts already ns -> µs is DIV 1000)
      evs.groupBy(_._2).foreach { case (user, rows) =>
        val ts = rows.map(_._3 / 1000L).sorted
        var sessions = List[List[Long]]()
        ts.foreach { t =>
          sessions match {
            case cur :: rest if t - cur.head <= gapUs => sessions = (t :: cur) :: rest
            case _ => sessions = List(t) :: sessions
          }
        }
        val expected = sessions.reverse.map(s => (s.length.toLong, s.min, s.max))
        expected.zipWithIndex.foreach { case ((n, lo, hi), i) =>
          assert(got((user, i.toLong)) == ((n, lo, hi)), s"seed=$seed user=$user session=$i")
        }
      }
    }
  }

  test("dup clustering equals BFS components on random graphs — both execution paths") {
    import spark.implicits._
    for ((seed, forceIterative) <- Seq((7, false), (8, true), (9, true))) {
      val rnd = new Random(seed)
      // chain-heavy graphs: long diameters stress label propagation
      val n = 30
      val edges = (1 until n).flatMap { i =>
        if (rnd.nextDouble() < 0.6) Some((i - 1).toLong -> i.toLong) else None
      } ++ (1 to 8).map(_ => rnd.nextInt(n).toLong -> rnd.nextInt(n).toLong)
      val pairs = edges
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val df = pairs.toDF("doc_a", "doc_b")
      val limit = if (forceIterative) 0L else 5000000L
      val got = Dedup
        .dupClusters(df, singleTaskEdgeLimit = limit)
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      // BFS reference
      val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val expect = scala.collection.mutable.HashMap[Long, Long]()
      nodes.sorted.foreach { start =>
        if (!expect.contains(start)) {
          val comp = scala.collection.mutable.Set(start)
          var frontier = List(start)
          while (frontier.nonEmpty) {
            frontier = frontier.flatMap(adj.getOrElse(_, Nil)).filterNot(comp.contains)
            comp ++= frontier
          }
          val label = comp.min
          comp.foreach(c => expect(c) = label)
        }
      }
      nodes.foreach(id => assert(got(id) == expect(id), s"seed=$seed iterative=$forceIterative node=$id"))
    }
  }

  test("distributed union-find fallback handles a deep chain plus many components") {
    // the shape the single-task threshold guards against, forced down
    // the ITERATIVE path (singleTaskEdgeLimit = 0): one 1000-node
    // chain — diameter 999, needing the pointer-doubling log rounds,
    // not one-hop propagation — plus 200 disjoint triangles that must
    // not absorb each other's labels. Pins the distributed path's
    // convergence and labeling at a size where a broken doubling step
    // would blow maxIters and fail loudly.
    import spark.implicits._
    val chain = (1 until 1000).map(i => (i.toLong - 1, i.toLong))
    val triangles = (0 until 200).flatMap { t =>
      val b = 10000L + 3 * t
      Seq((b, b + 1), (b + 1, b + 2), (b, b + 2))
    }
    val got = Dedup
      .dupClusters((chain ++ triangles).toDF("doc_a", "doc_b"), maxIters = 20, singleTaskEdgeLimit = 0L)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    (0L until 1000L).foreach(i => assert(got(i) == 0L, s"chain node $i labeled ${got(i)}"))
    (0 until 200).foreach { t =>
      val b = 10000L + 3 * t
      (b to b + 2).foreach(i => assert(got(i) == b, s"triangle node $i labeled ${got(i)}"))
    }
  }

  test("sketch-seeded quantiles equal the full-sort definition on random tie-heavy inputs") {
    import spark.implicits._
    import graft.operators.Quantiles
    val probs = Seq(0.25, 0.5, 0.75)
    for (seed <- 0 until 3) {
      val rnd = new Random(300 + seed)
      // heavy ties (40 distinct values over 500 rows), uneven groups —
      // all groups under SmallGroupLimit exercise the fallback band;
      // the last iteration adds a 6000-row group for the sketch path
      val base = (1 to 500).map(_ => (s"g${rnd.nextInt(4)}", rnd.nextInt(40).toDouble))
      val rows = if (seed == 2) base ++ (1 to 6000).map(_ => ("big", rnd.nextInt(25).toDouble)) else base
      val got = Quantiles
        .exactDiscrete(rows.toDF("g", "v"), "g", "v", probs, Seq("p25", "p50", "p75"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
        .toMap
      val expect = rows.groupBy(_._1).map { case (g, vs) =>
        val sorted = vs.map(_._2).sorted
        val n = sorted.length
        def q(p: Double) = sorted(math.floor(p * (n - 1)).toInt) // rank floor(p(n-1))+1, 0-indexed
        g -> ((n.toLong, q(0.25), q(0.5), q(0.75)))
      }
      assert(got.keySet == expect.keySet, s"seed=$seed group sets differ")
      expect.foreach { case (g, e) => assert(got(g) == e, s"seed=$seed group=$g: ${got(g)} vs $e") }
    }
  }

  test("census alias derivation is format-independent and idempotent on random names") {
    import spark.implicits._
    import graft.etl.CensusAliases
    val rnd = new Random(77)
    val pairs = (1 to 60).map(_ => (1 + rnd.nextInt(9), 1 + rnd.nextInt(999))).distinct
    val spellings = pairs.flatMap { case (t, c) =>
      val cc = f"$c%03d"
      Seq(s"P${t}_${cc}N", s"P00$t$cc", s"P00${t}0$cc").map(n => (t, cc, n))
    }
    val out = spellings
      .toDF("t", "cc", "name")
      .select(
        col("t"),
        col("cc"),
        CensusAliases.alias2020(col("name")).as("a20"),
        CensusAliases.alias2010Six(col("name")).as("a6"),
        CensusAliases.alias2010Seven(col("name")).as("a7")
      )
      .collect()
    out.foreach { r =>
      val (t, cc) = (r.getInt(0), r.getString(1))
      // whichever spelling we start from, the derived triple is identical
      assert(r.getString(2) == s"P${t}_${cc}N", s"($t,$cc) alias_2020 ${r.getString(2)}")
      assert(r.getString(3) == s"P00$t$cc", s"($t,$cc) alias_2010_6 ${r.getString(3)}")
      assert(r.getString(4) == s"P00${t}0$cc", s"($t,$cc) alias_2010_7 ${r.getString(4)}")
    }
  }

  test("range join equals the naive reference on random inputs") {
    import spark.implicits._
    for (seed <- 0 until 4) {
      val rnd = new Random(200 + seed)
      val w = 50L
      val evs = (1 to 60).map(i => (i.toLong, rnd.nextInt(3).toLong, rnd.nextInt(300).toLong, rnd.nextInt(100).toLong))
      val e = evs.toDF("event_id", "k", "ts", "cv")
      val probes = evs.take(20).map(r => (r._1, r._2, r._3)).toDF("event_id", "k", "ts")
      val got = RangeJoin
        .trailingWindowStats(e, probes, "k", "ts", "event_id", w, "cv")
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4)))
        .toMap
      evs.take(20).foreach { case (id, k, ts, _) =>
        val in = evs.filter(r => r._2 == k && r._3 >= ts - w && r._3 < ts)
        assert(got(id) == ((in.length.toLong, in.map(_._4).sum)), s"seed=$seed probe=$id")
      }
    }
  }

  test("segment dedup equals the brute-force first-occurrence reference on random corpora") {
    import spark.implicits._
    val segWords = 4 // small segments + tiny vocab force cross-doc collisions
    for (seed <- 0 until 4) {
      val rnd = new Random(300 + seed)
      val vocab = Vector("aa", "bb", "cc")
      val docs = (1L to 25L).map { id =>
        val n = 1 + rnd.nextInt(13) // partial tail segments included
        id -> (1 to n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      // reference: global first occurrence by (doc_id, seg_idx)
      val segs = docs.flatMap { case (id, text) =>
        text.split(" ").grouped(segWords).zipWithIndex.map { case (ws, i) => (id, i.toLong, ws.mkString(" ")) }
      }
      val winners = segs.groupBy(_._3).map { case (_, occ) => occ.minBy(o => (o._1, o._2)) }.toSeq
      val expect = docs.map { case (id, text) =>
        val total = segs.count(_._1 == id).toLong
        val kept = winners.filter(_._1 == id).sortBy(_._2)
        id -> ((total, kept.length.toLong, md5Hex(kept.map(_._3).mkString(" "))))
      }.toMap
      val got = Dedup
        .segmentDedup(docs.toDF("doc_id", "text"), "doc_id", "text", segWords)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
        .toMap
      assert(got == expect, s"seed=$seed")
    }
  }

  test("gated group sample equals the naive window across all gate branches on random inputs") {
    import graft.operators.Sampling
    import spark.implicits._
    val k = 5
    for (seed <- 0 until 4) {
      val rnd = new Random(400 + seed)
      // group sizes straddle every branch: under k, between k and the
      // keep-all budget (4k), and far past it (real gate path)
      val sizes = Seq(2, k, 3 * k, 40 * k, 200 + rnd.nextInt(200))
      val rows = sizes.zipWithIndex.flatMap { case (n, g) =>
        (1 to n).map(i => (s"g$g", g * 100000L + i, s"content-$seed-$g-$i-${rnd.nextInt(1000)}"))
      }
      val df = rows.toDF("grp", "id", "payload")
      assert(Sampling.underflowGroups(df, "grp", "id", "payload", k) == 0, s"seed=$seed underflow")
      val got = Sampling
        .topKByHash(df, "grp", "id", "payload", k)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .toSet
      val expect = rows
        .map { case (g, id, payload) => (g, id, md5Hex(payload).take(8)) }
        .groupBy(_._1)
        .flatMap { case (_, members) =>
          members.sortBy(m => (m._3, m._2)).take(k).zipWithIndex.map { case ((g, id, h), i) =>
            (g, id, h, (i + 1).toLong)
          }
        }
        .toSet
      assert(got == expect, s"seed=$seed")
    }
  }

  test("bucketed prefix sum equals the plain window on random tie-heavy inputs") {
    import graft.operators.Prefix
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    for (seed <- 0 until 4) {
      val rnd = new Random(900 + seed)
      // shapes the bucketing must survive: groups smaller than the
      // bucket count, heavy order-key ties (RANGE-frame semantics),
      // null values, sparse and clustered key ranges, a singleton
      val rows = Seq.tabulate(3) { g =>
        val n = Seq(1, 7, 400 + rnd.nextInt(200))(g)
        (1 to n).map { _ =>
          val key = rnd.nextInt(40) match {
            case t if t < 8 => 5L // hot tie
            case _          => rnd.nextInt(1 << 16).toLong * (g + 1)
          }
          val v: Option[Long] = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(100).toLong)
          (s"g$g", key, v)
        }
      }.flatten
      val df = rows.toDF("grp", "k", "v").repartition(7) // hostile placement
      for (buckets <- Seq(1, 5, Prefix.DefaultBuckets)) {
        val got = Prefix
          .cumSum(df, Seq("grp"), "k", "v", buckets = buckets)
          .collect()
          .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)), Option(r.get(3))))
          .sortBy(t => (t._1, t._2, t._3.map(_.toString)))
        val naive = df
          .withColumn("cum", coalesce(sum(col("v")).over(Window.partitionBy(col("grp")).orderBy(col("k"))), lit(0L)))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)), Option(r.get(3))))
          .sortBy(t => (t._1, t._2, t._3.map(_.toString)))
        assert(got.toSeq == naive.toSeq, s"seed=$seed buckets=$buckets")
      }
    }
    // the loud contracts: non-integral order key, clashing output name
    val df = Seq(("a", "x", 1L)).toDF("grp", "k", "v")
    assertThrows[IllegalArgumentException](Prefix.cumSum(df, Seq("grp"), "k", "v"))
    val df2 = Seq(("a", 1L, 1L, 0L)).toDF("grp", "k", "v", "cum")
    assertThrows[IllegalArgumentException](Prefix.cumSum(df2, Seq("grp"), "k", "v"))
  }

  test("pointInRing matches the exact half-plane classification on random convex integer polygons") {
    // generator: a jittered regular m-gon on a radius-10⁶ circle,
    // vertices rounded to integers (always CCW, edges well-separated).
    // Rounding can dent convexity by ~1 unit, so probe points within
    // distance 4 of any edge are skipped via an exact integer margin
    // (|cross| ≤ 4·|edge|); everywhere else the convex definition —
    // strictly left of every directed edge — must agree with the ray
    // cast EXACTLY, for interior and exterior points alike.
    import graft.geo.GeoFunctions
    import spark.implicits._
    for (seed <- 0 until 4) {
      val rnd = new Random(900 + seed)
      val m = 5 + rnd.nextInt(4)
      val r = 1000000.0
      val verts = (0 until m).map { i =>
        val a = 2 * math.Pi * (i + 0.25 + rnd.nextDouble() * 0.5) / m
        (math.round(r * math.cos(a)), math.round(r * math.sin(a)))
      }
      def cross(a: (Long, Long), b: (Long, Long), px: Long, py: Long): Long =
        (b._1 - a._1) * (py - a._2) - (b._2 - a._2) * (px - a._1)
      def edgeLen2(a: (Long, Long), b: (Long, Long)): Long = {
        val dx = b._1 - a._1; val dy = b._2 - a._2
        dx * dx + dy * dy
      }
      val probes = Seq.fill(80)((rnd.nextLong() % 1100000, rnd.nextLong() % 1100000))
      val classified = probes.flatMap { case (px, py) =>
        val cs = verts.indices.map { i =>
          val a = verts(i); val b = verts((i + 1) % m)
          (cross(a, b, px, py), edgeLen2(a, b))
        }
        // margin: skip points within ~4 units of any edge line
        // (|cross|/|edge| is the distance; double math is fine for a
        // conservative FILTER — cross² would overflow Long here)
        if (cs.exists { case (c, l2) => math.abs(c.toDouble) <= 4.0 * math.sqrt(l2.toDouble) }) None
        else Some((px, py, cs.forall(_._1 > 0)))
      }
      assert(classified.nonEmpty, s"seed=$seed produced no classifiable probes")
      val ring = array(verts.map { case (x, y) => GeoFunctions.ringPoint(lit(x), lit(y)) }: _*)
      val got = classified
        .map { case (px, py, e) => (px, py, e) }
        .toDF("px", "py", "expect")
        .select(col("px"), col("py"), col("expect"), GeoFunctions.pointInRing(col("px"), col("py"), ring).as("in"))
        .collect()
      got.foreach { row =>
        assert(
          row.getBoolean(3) == row.getBoolean(2),
          s"seed=$seed point (${row.getLong(0)}, ${row.getLong(1)}): ray cast ${row.getBoolean(3)} vs half-plane ${row.getBoolean(2)}"
        )
      }
    }
  }

  test("underflowGroups detects a group whose gate kept ZERO survivors") {
    // the extreme failure mode the invariant exists to catch (r7
    // advice): a survivor-side-only aggregate never sees such a group.
    // Force it deterministically: k=1, oversample=1 → a 2-row group
    // gates at md5-prefix < 80000000, and payloads are picked (by the
    // same JVM md5) so both rows hash ABOVE the gate → 0 survivors.
    import graft.operators.Sampling
    import spark.implicits._
    val high = (1 to 1000).map(i => s"zpay-$i").filter(p => md5Hex(p).head >= '8').take(2)
    assert(high.size == 2, "fixture generation failed to find high-hash payloads")
    val low = (1 to 1000).map(i => s"apay-$i").filter(p => md5Hex(p).head < '8').take(2)
    val df = (high.zipWithIndex.map { case (p, i) => ("dead", i.toLong, p) } ++
      low.zipWithIndex.map { case (p, i) => ("alive", 100L + i, p) }).toDF("grp", "id", "payload")
    assert(Sampling.underflowGroups(df, "grp", "id", "payload", 1, 1) == 1L, "zero-survivor group not detected")
  }

  test("weighted sample equals the naive E-S definition and is merge-order independent") {
    import graft.operators.Sampling
    import spark.implicits._
    val k = 4
    for (seed <- 0 until 4) {
      val rnd = new Random(500 + seed)
      // group sizes straddle under-k, exactly-k, and well-past-k;
      // payloads repeat (i % 7) so identical E-S keys exercise the id
      // tie-break; one zero-weight row per group must be excluded
      val sizes = Seq(1, k, 3 * k, 100 + rnd.nextInt(100))
      val rows = sizes.zipWithIndex.flatMap { case (n, g) =>
        (1 to n).map(i => (s"g$g", g * 100000L + i, s"w-$seed-$g-${i % 7}", 1L + rnd.nextInt(5000))) :+
          ((s"g$g", g * 100000L + 99999L, "never-sampled", 0L))
      }
      val df = rows.toDF("grp", "id", "payload", "w")
      def run(d: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
        Sampling
          .weightedTopK(d, "grp", "id", "payload", "w", k)
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .toSet
      val got = run(df)
      val expect = rows
        .filter(_._4 > 0)
        .groupBy(_._1)
        .flatMap { case (_, ms) =>
          ms.map { case (g, id, p, w) =>
              val u = (java.lang.Long.parseLong(md5Hex(p).take(13), 16) + 0.5) / 4503599627370496.0
              (g, id, -math.log(u) / w.toDouble)
            }
            .sortBy(m => (m._3, m._2))
            .take(k)
            .zipWithIndex
            .map { case ((g, id, _), i) => (g, id, (i + 1).toLong) }
        }
        .toSet
      assert(got == expect, s"seed=$seed")
      // heap content must be partitioning-independent: same answer
      // from many small partial heaps or one big one
      assert(run(df.repartition(7, col("id"))) == got, s"seed=$seed repartitioned")
      assert(run(df.repartition(1)) == got, s"seed=$seed single partition")
    }
  }

  test("pagerank equals the in-memory power iteration on random graphs") {
    import graft.operators.PageRank
    import spark.implicits._
    for (seed <- 0 until 3) {
      val rnd = new Random(600 + seed)
      val n = 30 + rnd.nextInt(20)
      // random digraph with sinks (nodes with no out-edges) so the
      // leaked-mass semantics is exercised, not just the happy cycle
      val edges = (1 to 120)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
        .distinct
      val df = edges.toDF("src", "dst")
      val got = PageRank.run(df, "src", "dst").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val nn = nodes.size
      val outdeg = edges.groupBy(_._1).view.mapValues(_.size).toMap
      var ranks = nodes.map(_ -> 1.0 / nn).toMap
      for (_ <- 1 to 5) {
        val contrib = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
        edges.foreach { case (s0, d0) => contrib(d0) += ranks(s0) / outdeg(s0) }
        ranks = nodes.map(v => v -> ((1.0 - 0.85) / nn + 0.85 * contrib(v))).toMap
      }
      assert(got.keySet == ranks.keySet, s"seed=$seed node set")
      nodes.foreach { v =>
        assert(math.abs(got(v) - ranks(v)) < 1e-12, s"seed=$seed node=$v got=${got(v)} want=${ranks(v)}")
      }
      // structural invariants: every node keeps at least the base
      // mass; sinks leak, so total mass never exceeds 1
      assert(got.values.forall(_ >= (1.0 - 0.85) / nn - 1e-15), s"seed=$seed below base mass")
      assert(got.values.sum <= 1.0 + 1e-9, s"seed=$seed mass exceeds 1")
    }
  }

  test("tfidf cosine pairs equal the brute-force reference on random corpora") {
    import graft.sim.Similarity
    import spark.implicits._
    val dfCap = 4
    val threshold = 0.3
    for (seed <- 0 until 3) {
      val rnd = new Random(700 + seed)
      val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
      // small vocab forces df collisions around the cap; duplicate
      // docs force cos = 1.0 pairs
      val docs = (1 to 20).map { i =>
        val words = (1 to 3 + rnd.nextInt(8)).map(_ => vocab(rnd.nextInt(vocab.size)))
        (i.toLong, words.mkString(" "))
      } :+ ((21L, "alpha beta beta")) :+ ((22L, "alpha beta beta"))
      val got = Similarity
        .tfidfCosinePairs(docs.toDF("doc_id", "text"), "doc_id", "text", dfCap, threshold)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      // in-memory reference with identical arithmetic
      val tf = docs.map { case (id, t) =>
        id -> "[a-z0-9]+".r.findAllIn(t.toLowerCase).toSeq.groupBy(identity).map { case (w, o) => w -> o.size }
      }.toMap
      val dfm = tf.values.flatMap(_.keys).groupBy(identity).map { case (w, o) => w -> o.size }.filter(_._2 <= dfCap)
      val n = docs.size
      val wts = tf.map { case (id, m) =>
        id -> m.collect {
          case (w, c) if dfm.contains(w) =>
            w -> (c.toDouble * (math.log((n + 1.0) / (dfm(w) + 1.0)) + 1.0))
        }
      }
      val nrm = wts.map { case (id, m) => id -> math.sqrt(m.values.map(v => v * v).sum) }
      val expect = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a < b
        shared = wts(a).keySet & wts(b).keySet if shared.nonEmpty
        dot = shared.toSeq.map(w => wts(a)(w) * wts(b)(w)).sum
        // same rounding-then-threshold contract as the operator
        cos = BigDecimal(dot / (nrm(a) * nrm(b))).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        if cos >= threshold
      } yield (a, b) -> cos).toMap
      // keys must match exactly; values within summation-order ulps
      assert(got.keySet == expect.keySet, s"seed=$seed pair sets differ: ${got.keySet.diff(expect.keySet)} / ${expect.keySet.diff(got.keySet)}")
      expect.foreach { case (k, cos) =>
        assert(math.abs(got(k) - cos) < 1e-4 + 1e-9, s"seed=$seed pair=$k got=${got(k)} want=$cos")
      }
    }
  }

  test("CMS estimates dominate exact counts, go exact without collisions, and merge deterministically") {
    import graft.functions.GraftFunctions
    import graft.functions.PortableHash.{permA, permB, permC, Mask31, Mask62}
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    val depth = 4
    def idx(d: Int, h: org.apache.spark.sql.Column, width: Int): org.apache.spark.sql.Column = {
      val p = lit(graft.functions.PortableHash.P)
      val hm = h.bitwiseAND(lit(Mask62))
      val hi = shiftrightunsigned(hm, 31)
      val lo = hm.bitwiseAND(lit(Mask31))
      (((lit(permA(d)) * hi) % p + (lit(permB(d)) * lo) % p + lit(permC(d))) % p) % lit(width.toLong)
    }
    val rnd = new Random(800)
    val vocab = (1 to 60).map(i => s"tok$i")
    val rows = (1 to 3000).map(_ => ("g" + rnd.nextInt(3), vocab(rnd.nextInt(vocab.size))))
    val exact = rows.groupBy(identity).map { case ((g, w), o) => (g, w) -> o.size.toLong }
    def estimates(width: Int, df: org.apache.spark.sql.DataFrame): Map[(String, String), Long] = {
      val sk = df
        .select(col("grp"), GraftFunctions.strhash2(col("w")).as("h"))
        .groupBy(col("grp"))
        .agg(GraftFunctions.cms(col("h"), depth, width).as("cms"))
      vocab
        .toDF("token")
        .withColumn("hp", GraftFunctions.strhash2(col("token")))
        .crossJoin(broadcast(sk))
        .select(
          col("grp"),
          col("token"),
          least((0 until depth).map(d =>
            element_at(col("cms"), (idx(d, col("hp"), width) + lit(d * width) + 1).cast("int"))
          ): _*).as("est")
        )
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
    }
    val df = rows.toDF("grp", "w")
    // narrow sketch: heavy collisions, but NEVER an undercount
    val narrow = estimates(32, df)
    exact.foreach { case (k, n) =>
      assert(narrow(k) >= n, s"CMS undercounted $k: ${narrow(k)} < $n")
    }
    // wide sketch: 60 keys in 4×8192 counters — estimates collapse to
    // the exact counts (min over 4 rows needs only one collision-free
    // row per key; deterministic under the fixed seed)
    val wide = estimates(8192, df)
    exact.foreach { case (k, n) =>
      assert(wide(k) == n, s"CMS wide-sketch estimate not exact for $k: ${wide(k)} != $n")
    }
    vocab.foreach { w =>
      (0 to 2).map("g" + _).foreach { g =>
        if (!exact.contains((g, w))) assert(wide((g, w)) == 0L, s"phantom count for ($g, $w)")
      }
    }
    // counters are pure sums: any partitioning merges to the same bits
    assert(estimates(32, df.repartition(13, col("w"))) == narrow, "CMS merge is partitioning-dependent")
  }

  test("bloom filter never false-negatives, bounds false positives, and merges deterministically") {
    import graft.functions.GraftFunctions
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    val bits = 1 << 12 // 4096 bits, k=4
    val k = 4
    val rnd = new Random(900)
    val inserted = (1 to 300).map(_ => rnd.nextLong()).distinct
    val absent = (1 to 2000).map(_ => rnd.nextLong()).distinct.filterNot(inserted.toSet)
    val df = inserted.toDF("h")
    def bitset(d: org.apache.spark.sql.DataFrame): Seq[Long] =
      d.agg(GraftFunctions.bloom(col("h"), bits, k).as("bf")).collect().head.getSeq[Long](0)
    val bf = bitset(df)
    def contains(keys: Seq[Long]): Seq[Boolean] =
      keys
        .toDF("h")
        .crossJoin(broadcast(df.agg(GraftFunctions.bloom(col("h"), bits, k).as("bf"))))
        .select(GraftFunctions.bloomContains(col("bf"), col("h"), k))
        .collect()
        .map(_.getBoolean(0))
        .toSeq
    // completeness: every inserted key probes true
    assert(contains(inserted).forall(identity), "false negative")
    // load = 300·4/4096 ≈ 0.29 → fpp ≈ (1-e^-0.29)^4 ≈ 0.4%; allow 5%
    val fp = contains(absent).count(identity)
    assert(fp <= absent.size / 20, s"false positive rate too high: $fp/${absent.size}")
    // OR-merges: any partitioning produces the identical bitset
    assert(bitset(df.repartition(11, col("h"))) == bf, "bloom merge is partitioning-dependent")
  }

  test("native aggregates survive the sort-based aggregation fallback") {
    // ObjectHashAggregate falls back to sort-based aggregation past a
    // per-partition distinct-group threshold — a path that leans hard
    // on every TypedImperativeAggregate's serialize/deserialize/merge.
    // Force the fallback at 1 group and assert results identical to
    // the default hash path for all four sketch aggregates.
    import graft.functions.GraftFunctions
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    val rnd = new Random(1000)
    val rows = (1 to 2000).map(i => (s"g${i % 17}", rnd.nextLong() & ((1L << 62) - 1), i.toLong))
    val df = rows.toDF("grp", "h", "id")
    def all(d: org.apache.spark.sql.DataFrame) = d
      .groupBy(col("grp"))
      .agg(
        GraftFunctions.minhash(col("h"), 16).as("mh"),
        GraftFunctions.simhash(col("h")).as("sh"),
        GraftFunctions.cms(col("h"), 4, 64).as("cms"),
        GraftFunctions.bloom(col("h"), 256, 4).as("bf"),
        GraftFunctions.topk(col("h").cast("double"), col("id"), 5).as("tk")
      )
      .collect()
      .map(r => r.getString(0) -> r.toSeq.drop(1))
      .toMap
    val default = all(df)
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1")
    try {
      val fallback = all(df)
      assert(fallback.keySet == default.keySet)
      default.foreach { case (g, vs) => assert(fallback(g) == vs, s"fallback diverges for group $g") }
    } finally spark.conf.unset("spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
  }

  test("k-means refinement is bit-deterministic under hostile partitionings") {
    import spark.implicits._
    import graft.operators.KMeans
    val rnd = new Random(23)
    val dims = 8
    val rows = (0 until 300).map(i => (i.toLong, Array.fill(dims)(rnd.nextDouble() * 2 - 1)))
    def run(df: org.apache.spark.sql.DataFrame) =
      KMeans
        .refine(KMeans.quantizeShifted(df, "vec_id", "embedding"), 4, 2, dims)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val base = rows.toDF("vec_id", "embedding")
    val got = run(base)
    assert(run(base.repartition(7)) == got, "repartition(7) changed assignments")
    assert(run(base.repartition(1)) == got, "single partition changed assignments")
    // every integer distance is reproducible: dist2(v, centroid of its
    // cluster) must be the reported one (re-derive centroids by mean)
    assert(got.map(_._2).forall(c => c >= 0 && c < 4))
  }

  test("fixed-point IPF weights are bit-deterministic under hostile partitionings") {
    import spark.implicits._
    import graft.operators.Ipf
    val rnd = new Random(31)
    val rows = (1 to 500).map { _ =>
      (s"s${rnd.nextInt(9)}", s"c${rnd.nextInt(4)}", 1L)
    }
    def run(df: org.apache.spark.sql.DataFrame) =
      Ipf
        .fitUniform(df.groupBy(col("a"), col("b")).agg(sum(col("one")).as("n")), "a", "b", "n", 3)
        .collect()
        .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
        .toMap
    val base = rows.toDF("a", "b", "one")
    val got = run(base)
    assert(run(base.repartition(11)) == got, "repartition(11) changed weights")
    assert(run(base.repartition(1)) == got, "single partition changed weights")
    assert(got.values.forall(_._2 > 0))
  }

  test("two-word pigeonhole Hamming join: zero missed pairs at the radius boundary, bounded candidates") {
    import spark.implicits._
    val maxDist = 8
    val wordBits = 63
    val totalBits = 2 * wordBits
    val rnd = new Random(87)
    val wordMask = (1L << wordBits) - 1
    // 400 random base signatures + planted variants at Hamming exactly
    // 7 / 8 / 9 — the radius boundary the pigeonhole contract must get
    // right (7/8 inside, 9 outside)
    val base = (0 until 400).map(i => (i.toLong, rnd.nextLong() & wordMask, rnd.nextLong() & wordMask))
    val planted = (0 until 30).map { i =>
      val d = 7 + i % 3
      val (id, b0, b1) = base(i)
      var (v0, v1) = (b0, b1)
      rnd.shuffle((0 until totalBits).toList).take(d).foreach { p =>
        if (p < wordBits) v0 ^= (1L << p) else v1 ^= (1L << (p - wordBits))
      }
      (1000L + id, v0, v1, d)
    }
    val all = base ++ planted.map(p => (p._1, p._2, p._3))
    val got = Dedup
      .hammingNearPairs2(all.toDF("doc_id", "h0", "h1"), maxDist, wordBits)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    // ground truth: brute-force two-word Hamming over all pairs
    val brute = (for {
      (a, a0, a1) <- all; (b, b0, b1) <- all if a < b
      d = java.lang.Long.bitCount(a0 ^ b0) + java.lang.Long.bitCount(a1 ^ b1) if d <= maxDist
    } yield (a, b, d)).toSet
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
    planted.foreach { case (vid, _, _, d) =>
      val inPairs = got.exists { case (a, b, _) => b == vid && a == vid - 1000L }
      if (d <= maxDist) assert(inPairs, s"planted pair at Hamming $d missed")
      else assert(!inPairs, s"planted pair at Hamming $d (beyond radius) emitted")
    }
    // candidate-count bound for the 14-bit chunk geometry: expected
    // chunk collisions among random signatures ≈ pairs·chunks/2^14 —
    // assert the actual blocking stays within 6× of that plus the
    // planted near-pairs (the old 6-bit geometry put ~14% of ALL pairs
    // in the candidate set and would blow this bound by ~250×)
    val widths = Seq.fill(maxDist + 1)(totalBits / (maxDist + 1))
    val lows = widths.scanLeft(0)(_ + _)
    def chunkVal(h0: Long, h1: Long, c: Int): Long = {
      val full = (BigInt(h1) << wordBits) | BigInt(h0)
      ((full >> lows(c)) & ((BigInt(1) << widths(c)) - 1)).toLong
    }
    val candidates = (for {
      (a, a0, a1) <- all; (b, b0, b1) <- all if a < b
      if (0 to maxDist).exists(c => chunkVal(a0, a1, c) == chunkVal(b0, b1, c))
    } yield 1).size
    val nPairs = all.size.toLong * (all.size - 1) / 2
    val expected = nPairs * (maxDist + 1) / (1 << 14)
    assert(
      candidates <= expected * 6 + brute.size,
      s"candidate blocking degraded: $candidates candidates vs expected ~$expected random + ${brute.size} near"
    )
  }

  test("corpus-scaled embedding LSH finds every planted near-parallel pair at any corpus size") {
    import spark.implicits._
    import graft.queries.DedupSimQueries.{embPlanesFor, embTablesFor, CosineThreshold, Dims, EmbPlaneBase, MaxEmbPlanes}
    val rnd = new Random(41)
    for (n <- Seq(200, 1200)) {
      // random unit-ish vectors plus planted near-parallel pairs
      // (small perturbation → cosine ≥ ~0.99): the multi-table union
      // must find ALL of them regardless of the corpus-derived plane
      // count (geometry changes must degrade borderline-τ recall
      // first, never near-dup recall)
      val base = (0 until n).map { i =>
        (i.toLong, Seq.fill(Dims)(rnd.nextGaussian()), i % 3)
      }
      val planted = (0 until 20).map { j =>
        val (src, v, lab) = base(j * (n / 20))
        (n + j.toLong, v.map(x => x + rnd.nextGaussian() * 0.02), lab, src)
      }
      val emb = (base.map { case (id, v, l) => (id, v, l) } ++ planted.map(p => (p._1, p._2, p._3)))
        .toDF("vec_id", "embedding", "label")
      val planes = embPlanesFor(emb.count())
      val found = Dedup
        .embeddingNearDupsLsh(
          emb, "vec_id", "embedding", "label",
          CosineThreshold, embTablesFor(emb.count()), planes, MaxEmbPlanes, EmbPlaneBase, Dims)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      planted.foreach { case (dup, _, _, src) =>
        assert(
          found.contains((src, dup)) || found.contains((dup, src)),
          s"n=$n planes=$planes: planted near-parallel pair ($src, $dup) missed"
        )
      }
      // occupancy contract: plane count grows so that target·2^p ≥ N
      assert((graft.queries.DedupSimQueries.SemClusterTarget.toLong << planes) >= n + 20)
    }
  }

  test("q34 recall contract: the corpus-scaled table count L(m) holds R(0.90) >= 0.9 at every decade, minimally") {
    import graft.queries.DedupSimQueries.{
      embTablesForPlanes,
      MaxEmbPlanes,
      MaxEmbTables,
      RecallContractCosine,
      RecallContractTarget
    }
    // the r14-validated union law (measured within binomial 2σ by the
    // planted families at 100×/256×) is the contract's arbiter: for
    // every reachable plane count m, the chosen L must satisfy the
    // law at the operating cosine AND be the SMALLEST such L (the
    // explode cost is linear in L — paying one table more than the
    // law demands is a silent cost regression)
    for (m <- 2 to MaxEmbPlanes) {
      val l = embTablesForPlanes(m)
      assert(l >= 1 && l <= MaxEmbTables)
      assert(
        law(RecallContractCosine, m, l) >= RecallContractTarget,
        s"m=$m: L=$l does not hold R($RecallContractCosine) >= $RecallContractTarget"
      )
      if (l > 1)
        assert(
          law(RecallContractCosine, m, l - 1) < RecallContractTarget,
          s"m=$m: L=$l is not minimal"
        )
    }
    // the decade anchors the round-15 artifact reports (sf0.1 through
    // 1024×) — pinned so a silent law/constant change surfaces here
    assert(embTablesForPlanes(7) == 6)
    assert(embTablesForPlanes(12) == 14)
    assert(embTablesForPlanes(13) == 17)
    assert(embTablesForPlanes(14) == 19)
    assert(embTablesForPlanes(16) == 27)
    assert(embTablesForPlanes(20) == 50)
  }

  test("cell-index corpus fingerprint changes under every content perturbation that preserves the count") {
    // the r11-advice hardening: the stamp is (n, Σ centered-xxhash64
    // high halves, Σ centered low halves) — order-free and additive,
    // but a perturbation must never cancel BOTH sums at once. The
    // dangerous class is count-preserving edits (n can't catch them):
    // value nudges, vector swaps between ids, duplicate-one/drop-one.
    import graft.operators.CellIndex
    import spark.implicits._
    val rnd = new Random(1312)
    def fp(rows: Seq[(Long, Seq[Float])]) = {
      val f = CellIndex.fingerprintOf(rows.toDF("vec_id", "embedding"), "vec_id", "embedding")
      (f.n, f.fp, f.fp2)
    }
    (1 to 20).foreach { trial =>
      val n = 50 + rnd.nextInt(100)
      val base = (0 until n).map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat())))
      val reference = fp(base)
      // order invariance (the additive design's contract)
      assert(fp(rnd.shuffle(base)) == reference, s"trial $trial: stamp is order-sensitive")
      val i = rnd.nextInt(n)
      val j = (i + 1 + rnd.nextInt(n - 1)) % n
      // swap two ids' vectors
      val swapped = base.updated(i, (base(i)._1, base(j)._2)).updated(j, (base(j)._1, base(i)._2))
      assert(fp(swapped) != reference, s"trial $trial: vector swap cancelled the stamp")
      // nudge one element of one vector
      val nudged = base.updated(i, (base(i)._1, base(i)._2.updated(0, base(i)._2.head + 0.25f)))
      assert(fp(nudged) != reference, s"trial $trial: value nudge cancelled the stamp")
      // duplicate one row's content over another (count unchanged)
      val overwritten = base.updated(i, (base(i)._1, base(j)._2))
      assert(fp(overwritten) != reference, s"trial $trial: content overwrite cancelled the stamp")
    }
  }

  test("ScaleUp sign-flip epochs are pairwise distinct and never the identity off epoch 0") {
    // a repeated ±1 diagonal would hand two epochs bit-identical
    // vectors — the exact-duplicate pathology the old 64-replica
    // rotation cap existed to prevent
    val dims = 64
    val masks = (0 to 16).map(s => ScaleUp.signMask(s, dims).toSeq)
    assert(masks.head.forall(_ == 1f), "epoch 0 must be the identity (prior rounds' data must not change)")
    masks.zipWithIndex.drop(1).foreach { case (m, s) =>
      assert(m.contains(-1f), s"epoch $s mask is the identity")
      assert(m.forall(v => v == 1f || v == -1f), s"epoch $s mask is not a ±1 diagonal")
    }
    assert(masks.distinct.size == masks.size, "two epochs share a mask")
  }

  test("ScaleUp planted partners sit at their target cosines, norms preserved, constant family sizes") {
    // sf0.01: 500 vectors → residues {0,1,2} mod 64 plant classic
    // partners, residue {3} plants the cross-modal X/S/T triple
    val emb = spark.read.parquet(s"/root/testdata/sf0.01/embeddings.parquet")
    val dims = emb.select(size(col("embedding"))).head.getInt(0)
    val out = ScaleUp.withPlantedPartners(emb, dims)
    val partners = out.filter(col("vec_id") >= ScaleUp.PlantOffset).collect()
    val expectedClassic =
      emb.filter(pmod(col("vec_id"), lit(ScaleUp.PlantMod)) < ScaleUp.PlantCosines.length).count()
    val expectedCross = emb.filter(pmod(col("vec_id"), lit(ScaleUp.PlantMod)) === ScaleUp.CrossModalResidue).count()
    assert(expectedCross > 0, "the slice must plant cross-modal families")
    assert(
      partners.length == expectedClassic + 3 * expectedCross,
      "one partner per classic base + X/S/T per cross-modal base — family sizes are constants"
    )
    val base = emb.collect().map(r => r.getLong(0) -> ((r.getSeq[Float](1).map(_.toDouble), r.getInt(2)))).toMap
    def dot(a: Seq[Double], b: Seq[Double]) = a.lazyZip(b).map(_ * _).sum
    partners.foreach { r =>
      val pid = r.getLong(0)
      val res = (pid % ScaleUp.PlantMod).toInt
      val (baseId, c) = res match {
        case v if v < ScaleUp.PlantCosines.length => (pid - ScaleUp.PlantOffset, ScaleUp.PlantCosines(v))
        case v if v == ScaleUp.CrossModalResidue => (pid - ScaleUp.PlantOffset, ScaleUp.CrossModalCosine)
        case v if v == ScaleUp.CrossModalResidue + 1 => (pid - ScaleUp.PlantOffset - 1, ScaleUp.SemNoiseCosine)
        case v if v == ScaleUp.CrossModalResidue + 2 => (pid - ScaleUp.PlantOffset - 2, 0.0)
        case v => fail(s"partner $pid at unexpected residue $v")
      }
      val y = r.getSeq[Float](1).map(_.toDouble)
      val (x, xl) = base(baseId)
      val cos = dot(x, y) / math.sqrt(dot(x, x) * dot(y, y))
      assert(math.abs(cos - c) < 5e-6, s"partner $pid (base $baseId): planted cosine $cos, target $c")
      val normRatio = math.sqrt(dot(y, y) / dot(x, x))
      assert(math.abs(normRatio - 1.0) < 5e-6, s"partner $pid: norm drifted ($normRatio)")
      assert(r.getInt(2) == xl, s"partner $pid: label differs — q34 blocks on label, pair invisible")
    }
    // the fusion premise, verified geometrically: S is semantically
    // NEARER the base than X, and T is orthogonal to it
    val xs = partners.filter(r => r.getLong(0) % ScaleUp.PlantMod == ScaleUp.CrossModalResidue)
    assert(xs.nonEmpty)
  }

  test("ScaleUp planted partner docs respect the per-family token-overlap contract") {
    val docs = spark.read.parquet(s"/root/testdata/sf0.01/documents.parquet")
    val emb = spark.read.parquet(s"/root/testdata/sf0.01/embeddings.parquet")
    val dims = emb.select(size(col("embedding"))).head.getInt(0)
    // doc twins are planted for EXACTLY the ids whose embedding row
    // received a partner (semi-join contract — the r14 residue+count
    // form overstated the truth when the xx/pp guards dropped one),
    // with the overlap knob derived from the partner's residue
    val specs = ScaleUp.plantedDocSpecs(ScaleUp.withPlantedPartners(emb, dims)).localCheckpoint()
    val out = ScaleUp.withPlantedPartnerDocs(docs, specs)
    val partners = out.filter(col("doc_id") >= ScaleUp.PlantOffset)
    val expected = specs.join(docs, Seq("doc_id"), "left_semi").count()
    assert(expected > 0, "the sf0.01 slice must plant at least one doc twin")
    assert(partners.count() == expected)
    val pairs = partners
      .select(col("doc_id").as("partner_id"), col("text").as("pt"), col("n_chars").as("pn"))
      .join(specs.select(col("partner_id"), col("doc_id"), col("tag_every")), Seq("partner_id"))
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .collect()
    val tokenRe = "[a-z0-9]+".r
    var sawOverlapping = false
    pairs.foreach { r =>
      val (pid, pt, bt, tagEvery) = (r.getLong(1), r.getString(2), r.getString(5), r.getInt(4))
      assert(r.getLong(3) == pt.length.toLong, "partner n_chars must describe the partner text")
      assert(tagEvery == ScaleUp.tagEveryForResidue(pid % ScaleUp.PlantMod), s"partner $pid: wrong tag density")
      val ptoksList = tokenRe.findAllIn(pt.toLowerCase).toList
      val btoks = tokenRe.findAllIn(bt.toLowerCase).toSet
      val shared = ptoksList.count(btoks.contains).toDouble / math.max(ptoksList.size, 1)
      if (tagEvery == 1)
        // every token re-tagged ⇒ no shared tokens/shingles/grams: the
        // lexical stages must see an unrelated doc — semantic-only twin
        assert(shared == 0.0, s"partner $pid: semantic-only twin shares tokens with its base")
      else {
        // cross-modal twins keep ~(1 - 1/tagEvery) of the tokens
        // verbatim: X (tagEvery=2) ~50%, T (tagEvery=4) ~75% — the
        // lexical channel can reach them, T above X
        sawOverlapping = true
        assert(
          math.abs(shared - (1.0 - 1.0 / tagEvery)) < 0.2,
          s"partner $pid: overlap $shared far from ${1.0 - 1.0 / tagEvery} (tagEvery=$tagEvery)"
        )
      }
    }
    assert(sawOverlapping, "the slice must include cross-modal overlapping twins")
  }

  /** The multi-table union recall law at true cosine c (m planes per
    * table, L tables): collision prob per plane q = 1 - arccos(c)/π.
    * Written out here, independently of embTablesForPlanes, as the
    * reference the q34 recall-contract test checks it against.
    */
  private def law(c: Double, m: Int, l: Int): Double =
    1.0 - math.pow(1.0 - math.pow(1.0 - math.acos(c) / math.Pi, m), l)

  private def md5Hex(s: String): String =
    java.security.MessageDigest
      .getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_))
      .mkString
}
