package graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Derive a larger benchmark dataset from an existing SF directory by
  * key-shifted replication — the 100× scaling point the sf0.01→sf0.1
  * table cannot provide (strongly sub-linear there = mostly fixed
  * overhead; the data terms only start to bite another decade up).
  *
  * Replication is FAIR to the operators being stressed, not a
  * degenerate copy: a plain 10× duplication of documents would make
  * every near-dup family quadratic in the replica count (10 identical
  * copies of each doc = 100× the pairs of a real 10× corpus), which
  * benchmarks a pathology, not scale. Instead each replica is mapped
  * into its own disjoint key/content space:
  *  - fact/dim keys shift by replica · KeyStride (joins stay
  *    consistent; the part graph becomes `replicas` disconnected
  *    copies — PageRank over 10× nodes and edges);
  *  - document TEXT suffixes every token with a replica tag, so
  *    within-replica duplicate structure is preserved exactly while
  *    cross-replica shingles never collide (vocabulary grows ~10×,
  *    which is what a 10× crawl does);
  *  - embeddings rotate their dimensions by the replica index —
  *    norms preserved, cross-replica cosines decorrelated.
  * nation/region stay fixed (dims don't grow with fact scale).
  *
  * Output is a bench artifact under target/ — correctness always runs
  * against the driver's own testdata, never this.
  *
  * Usage: sbt "runMain graft.ScaleUp [srcDir] [outDir]"
  *   SPARK_GRAFT_SCALE_REPLICAS=10 (default)
  */
object ScaleUp {

  val KeyStride = 1000000000L

  // ---- planted controlled-cosine near-duplicate families (round 14) ----
  // The synthetic corpus plants essentially NO true embedding
  // near-duplicates above cosine 0.7 (the r13 banded-recall truth
  // found n_true = 2 in 0.7–0.8 and zero above), so the flagship
  // q34/q129 high-cosine recall claims were law extrapolations. This
  // is q118's constant-size re-encode-family pattern applied to
  // embeddings: a deterministic 3/PlantMod slice of each replica's
  // vectors gets ONE partner at a KNOWN cosine — family size is a
  // constant 2 regardless of replica count (each replica plants from
  // its own orthogonally-transformed rows, and partner ids land at
  // +PlantOffset inside the replica's own key range), so the true
  // pair set grows LINEARLY with the corpus, the way a real crawl's
  // re-encoded/translated duplicates do. The same residue slice of
  // DOCUMENTS gets a partner doc at the matching id whose tokens are
  // all re-tagged — lexically disjoint from its base (no shared
  // shingles/grams: q30/q32/q126 see an ordinary new doc) but
  // carrying the planted high-cosine embedding, i.e. a "same content,
  // different words" twin only the SEMANTIC stages (q34/q129/q138
  // stage 3) can catch. That makes planted recall measurable per
  // band with n_true = 3·N/PlantMod/3 ≈ N/64 pairs per cosine band at
  // any scale (≥10³ per band from 100× up).

  /** Residue modulus for the planted slice: original ids with
    * (id % KeyStride) % PlantMod < PlantCosines.length get partners.
    */
  val PlantMod = 64L

  /** Partner id offset inside a replica's key range (base id + this).
    * Half the stride, so partner ids can never collide with the next
    * replica while base ids stay < PlantOffset — and PlantOffset is
    * ≡ 0 (mod PlantMod), so a partner's residue equals its base's:
    * identifying a planted pair from ids alone needs only the offset.
    */
  val PlantOffset: Long = KeyStride / 2

  /** Target cosines by residue: id % PlantMod == i → PlantCosines(i).
    * 0.85/0.90/0.95 bracket the production near-dup regime the
    * R(0.9)/R(0.95) contract claims cover.
    */
  val PlantCosines: Seq[Double] = Seq(0.95, 0.90, 0.85)

  // ---- cross-modal fusion-probe families (round 15) ----
  // r14's dual-truth q141 eval showed the two retrieval channels'
  // truths DISJOINT on this corpus: fusion never beats the best single
  // channel anywhere, so RRF's actual value proposition (a doc
  // mid-ranked by BOTH channels outranks each channel's unique noise)
  // was untestable. Bases at residue [[CrossModalResidue]] therefore
  // get THREE partners that stage exactly that situation:
  //   X (+PlantOffset):     cosine 0.90 AND ~50% token overlap — the
  //                         planted TRUE answer, reachable mid-rank by
  //                         both channels;
  //   S (+PlantOffset + 1): cosine 0.95, tokens fully re-tagged — the
  //                         semantic channel's unique noise (outranks
  //                         X semantically, invisible lexically);
  //   T (+PlantOffset + 2): cosine 0 (the pure Gram-Schmidt residual
  //                         direction, norm preserved), ~75% token
  //                         overlap — the lexical channel's unique
  //                         noise (outranks X lexically, invisible
  //                         semantically).
  // Fusion should then rank X first (two mid-rank RRF addends beat
  // one top-rank addend: 2/(K+2) > 1/(K+1) for K=60) while each
  // single channel ranks its own noise first — a probe set where
  // fused MRR > max(single) is MEASURABLE (by a fusion probe). Family
  // size stays constant (4 for the residue-3 slice), so the truth remains
  // linear in the corpus.
  val CrossModalResidue = 3L
  val CrossModalCosine = 0.90
  val SemNoiseCosine = 0.95

  /** Tag-every-Nth-token by partner residue (the doc-side overlap
    * knob): residues 0..2 and [[CrossModalResidue]]+1 (S) tag every
    * token (lexically disjoint); CrossModalResidue (X) tags every 2nd
    * (~50% overlap); CrossModalResidue+2 (T) tags every 4th (~75%
    * overlap). Exposed for the spec and the doc-planting join.
    */
  private[graft] def tagEveryForResidue(r: Long): Int =
    if (r == CrossModalResidue) 2
    else if (r == CrossModalResidue + 2) 4
    else 1

  /** The planted-partner construction, exposed for the spec and the
    * recall probe: for each selected base vector x, the partner is
    *   y = c·x + √(1−c²)·‖x‖·p̂
    * with p̂ the unit Gram-Schmidt residual of a deterministic
    * xxhash64-seeded direction against x — so cos(x, y) = c and
    * ‖y‖ = ‖x‖ EXACTLY (up to float32 storage rounding ~1e-6: the
    * quantization-scale and norm structure of the corpus is
    * preserved). Zero vectors and (measure-zero) parallel residuals
    * are excluded by the xx/pp guards. Input must carry
    * (vec_id, embedding, label); output appends the partner rows at
    * vec_id + [[PlantOffset]] with the base row's label (q34 blocks
    * on label — a cross-label partner would be invisible by design).
    */
  private[graft] def withPlantedPartners(d: DataFrame, dims: Int): DataFrame = {
    val residue = pmod(pmod(col("vec_id"), lit(KeyStride)), lit(PlantMod))
    val classic = partnerRows(
      d,
      dims,
      residue < PlantCosines.length,
      element_at(array(PlantCosines.map(lit): _*), (residue + 1).cast("int")),
      PlantOffset
    )
    // cross-modal fusion-probe family (see the constants above): the
    // true answer X, the semantic noise S, the lexical noise T — all
    // from the SAME base, all norm-preserving, all deterministic
    val x = partnerRows(d, dims, residue === CrossModalResidue, lit(CrossModalCosine), PlantOffset)
    val sNoise = partnerRows(d, dims, residue === CrossModalResidue, lit(SemNoiseCosine), PlantOffset + 1)
    val tNoise = partnerRows(d, dims, residue === CrossModalResidue, lit(0.0), PlantOffset + 2)
    d.unionByName(classic).unionByName(x).unionByName(sNoise).unionByName(tNoise)
  }

  /** One partner row per selected base: y = c·x + √(1−c²)·‖x‖·p̂ at
    * vec_id + `shift` (see [[withPlantedPartners]]'s construction
    * contract). c = 0 yields the pure Gram-Schmidt residual direction
    * — orthogonal to the base, norm still preserved. The residual
    * direction is seeded by vec_id ALONE, so every partner of one
    * base shares p̂ (deliberate: X and S stay mutual near-dups, as
    * re-encodings of one document are).
    */
  private def partnerRows(d: DataFrame, dims: Int, cond: Column, cTarget: Column, shift: Long): DataFrame =
    d.filter(cond)
      .withColumn("c_t", cTarget)
      .withColumn("xd", transform(col("embedding"), v => v.cast("double")))
      .withColumn("xx", aggregate(transform(col("xd"), v => v * v), lit(0.0), (a, v) => a + v))
      .filter(col("xx") > 0)
      .withColumn(
        "r",
        transform(
          sequence(lit(0), lit(dims - 1)),
          j => (pmod(xxhash64(col("vec_id"), j), lit(2000003L)).cast("double") - lit(1000001.0)) / lit(1000001.0)
        )
      )
      .withColumn("rx", aggregate(zip_with(col("xd"), col("r"), (a, b) => a * b), lit(0.0), (a, v) => a + v))
      .withColumn("p", zip_with(col("r"), col("xd"), (rj, ej) => rj - col("rx") / col("xx") * ej))
      .withColumn("pp", aggregate(transform(col("p"), v => v * v), lit(0.0), (a, v) => a + v))
      .filter(col("pp") > lit(1e-12))
      .withColumn("s_p", sqrt(lit(1.0) - col("c_t") * col("c_t")) * sqrt(col("xx") / col("pp")))
      .select(
        (col("vec_id") + shift).as("vec_id"),
        zip_with(col("xd"), col("p"), (ej, pj) => (col("c_t") * ej + col("s_p") * pj).cast("float"))
          .as("embedding"),
        col("label")
      )

  /** The documents-side twin of [[withPlantedPartners]]: exactly the
    * doc ids whose embedding row RECEIVED a planted partner
    * (`plantedBaseIds`, one `doc_id` column — a semi-join, not
    * residue+count arithmetic: the r14 id-cap form assumed contiguous
    * vec_ids and planted a doc twin even when the embedding-side
    * partner was dropped by withPlantedPartners' degenerate-vector
    * guards, slightly overstating the planted-doc truth) get a
    * partner doc whose every token carries an extra `pz` tag — one
    * NEW token per original token, so the partner shares no
    * tokens/shingles/grams with its base (exact/MinHash/substring
    * stages see an unrelated doc; family size stays the constant 2)
    * while the matching planted embedding makes it a SEMANTIC
    * near-dup the q138 stage-3 prune must catch. n_chars is
    * re-derived (length gates and sampling weights read it).
    */
  private[graft] def withPlantedPartnerDocs(d: DataFrame, plantedSpecs: DataFrame): DataFrame = {
    // one partner DOC per planted embedding partner: specs carry
    // (doc_id = the base, partner_id = the twin's id, tag_every = the
    // token-overlap knob — 1 re-tags everything, 2/4 leave half/three
    // quarters of the tokens shared for the cross-modal families).
    //
    // MARKER (round 15): the corpus's vocabulary is small and common
    // (measured: BM25 over it is tf-of-ubiquitous-tokens dominated —
    // a 50%-overlap twin ranked ~4000th of 5192), so token overlap
    // alone gives the lexical channel no usable signal. Real
    // re-encodings of one document share its DISTINCTIVE rare terms
    // (names, ids, numbers); the cross-modal base and its X/T twins
    // therefore share one unique marker token ("xm<base>q", df = 3)
    // while the semantic-noise twin S stays marker-free — exactly the
    // rare-term structure the lexical channel exists to exploit.
    val marker = concat(lit(" xm"), col("doc_id").cast("string"), lit("q"))
    val xBases = plantedSpecs.filter(col("tag_every") === 2).select(col("doc_id")).distinct()
    val markedBase = d
      .join(xBases, Seq("doc_id"), "left_semi")
      .withColumn("text", concat(col("text"), marker))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val base = d.join(xBases, Seq("doc_id"), "left_anti").unionByName(markedBase)
    val sel = d.join(plantedSpecs, Seq("doc_id"))
    val tagged = array_join(
      transform(
        split(col("text"), "\\s+"),
        (w, i) => when(pmod(i, col("tag_every")) === 0, concat(w, lit("pz"))).otherwise(w)
      ),
      " "
    )
    // X (tag_every 2) and T (tag_every 4) carry the base's marker,
    // appended AFTER tagging so it is shared verbatim; S (tag_every 1)
    // stays lexically disjoint from the marked base
    val partnerText = when(col("tag_every") === 1, tagged).otherwise(concat(tagged, marker))
    base.unionByName(
      sel.select(
        col("partner_id").as("doc_id"),
        partnerText.as("text"),
        col("lang"),
        col("source"),
        length(partnerText).cast("long").as("n_chars")
      )
    )
  }

  /** Derive the doc-planting specs from the WRITTEN embedding partners
    * (the semi-join contract: a doc twin exists exactly when the
    * embedding twin was actually planted). The partner's residue
    * encodes which family member it is — classic/X sit at
    * +PlantOffset, S at +PlantOffset+1, T at +PlantOffset+2 — which
    * recovers the base id and the tag density.
    */
  private[graft] def plantedDocSpecs(emb: DataFrame): DataFrame = {
    val pr = pmod(pmod(col("vec_id"), lit(KeyStride)), lit(PlantMod))
    emb
      .filter(pmod(col("vec_id"), lit(KeyStride)) >= PlantOffset)
      .select(col("vec_id").as("partner_id"), pr.as("pr"))
      .withColumn(
        "doc_id",
        col("partner_id") - PlantOffset -
          when(col("pr") === CrossModalResidue + 1, 1L)
            .when(col("pr") === CrossModalResidue + 2, 2L)
            .otherwise(0L)
      )
      .withColumn(
        "tag_every",
        when(col("pr") === CrossModalResidue, 2)
          .when(col("pr") === CrossModalResidue + 2, 4)
          .otherwise(1)
      )
      .select(col("doc_id"), col("partner_id"), col("tag_every"))
  }

  private def splitmix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** The per-epoch ±1 diagonal of the embedding transform (epoch 0 =
    * identity; epoch ≥1 = a splitmix bit per dimension, forced
    * non-identity). Exposed for the spec that pins epochs pairwise
    * distinct — a repeated mask would recreate the exact-duplicate
    * pathology the rotation cap used to guard against.
    */
  private[graft] def signMask(s: Int, dims: Int): Array[Float] = {
    val m = Array.tabulate(dims)(d => if (s == 0 || (splitmix(s.toLong * 7919L + d) & 1L) == 0L) 1f else -1f)
    if (s > 0 && !m.contains(-1f)) m((s - 1) % dims) = -1f // never the identity off epoch 0
    m
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/root/repo/target/sf1-derived"
    val replicas = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPLICAS", "10").toInt
    require(replicas >= 1, s"replicas must be >= 1, got $replicas")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // maxResultSize: the replica union has `replicas` branches and the
    // planting hooks read it several times — at 1024+ replicas the
    // write jobs' per-task commit stats alone exceed the 1g default
    // (measured: aborted at 751 tasks / 1025 MiB). Generator-only.
    val spark = GraftSession
      .builder(s"local[$cpus]", cpus.toInt)
      .config("spark.driver.maxResultSize", "8g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // 16 MB parquet row groups for derived corpora: split planning
    // works on COMPRESSED file byte ranges but can only take effect at
    // row-group granularity, so the default ~128 MB groups (~20-40 MB
    // compressed for this text) floor every decade scan's parallelism
    // regardless of files.maxPartitionBytes. (A writer-level
    // .option("parquet.block.size", …) is NOT honored by the parquet
    // sink — this hadoop conf is.)
    spark.sparkContext.hadoopConfiguration.setInt("parquet.block.size", 16 * 1024 * 1024)

    def shifted(df: DataFrame, keyCols: Seq[String], i: Int): DataFrame =
      keyCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(KeyStride * i)))

    def requireKeysFit(df: DataFrame, name: String, keyCols: Seq[String], cap: Long = KeyStride): Unit =
      keyCols.foreach { c =>
        // cast + null check: Int-typed keys and empty tables get a
        // clear diagnostic instead of a ClassCastException/NPE
        val row = df.agg(max(col(c)).cast("long")).head
        require(!row.isNullAt(0), s"$name is empty (or $name.$c all NULL) — nothing to scale")
        val mx = row.getLong(0)
        require(
          mx < cap,
          s"$name.$c max $mx >= $cap — replicas (or planted partner ids) would cross-link " +
            "(e.g. scaling an already-scaled output); raise KeyStride"
        )
      }

    def replicate(
        name: String,
        keyCols: Seq[String],
        perReplica: (DataFrame, Int) => DataFrame = (d, _) => d,
        keyCap: Long = KeyStride,
        // applied ONCE over the unioned output, not per replica: a
        // per-replica transform is duplicated into every one of the
        // `replicas` union branches — the r14 planting projection
        // (~10 array-aggregate columns) × 1024 branches built 25 MB
        // task binaries and OOMed the 1024× generation; replica-
        // agnostic work (anything keyed off id residues) belongs here
        finish: DataFrame => DataFrame = identity
    ): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      requireKeysFit(base, name, keyCols, keyCap)
      val full = (0 until replicas)
        .map(i => perReplica(shifted(base, keyCols, i), i))
        .reduce(_ union _)
      finish(full).write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name x$replicas -> $out/$name.parquet")
    }

    // SPARK_GRAFT_SCALE_TABLES=documents,embeddings restricts the
    // generation to a table subset (r16 — a 2048× pair-engine probe
    // needs ~3 GB of documents+embeddings, not lineitem's 22 GB; the
    // full-table default is unchanged). documents implies embeddings:
    // the planted doc twins semi-join on the ids whose embedding
    // partners actually landed.
    val onlyTables: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_SCALE_TABLES").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(name: String): Boolean = onlyTables.forall(_.contains(name))
    require(
      !wanted("documents") || wanted("embeddings") ||
        new java.io.File(s"$out/embeddings.parquet/_SUCCESS").exists(),
      "SPARK_GRAFT_SCALE_TABLES with documents requires embeddings in the set OR already generated at " +
        "the output (the planted doc twins semi-join on the written embedding partners)"
    )
    if (wanted("documents") && !wanted("embeddings")) {
      // r17 (ADVICE): the pre-written embeddings must come from the SAME
      // replica count as this run — a mismatch silently plants a
      // documents corpus whose decade/planted families diverge from the
      // embeddings it is paired with. max(vec_id) div KeyStride + 1 is
      // exactly the replica count that wrote them.
      val maxVecRow = spark.read.parquet(s"$out/embeddings.parquet").agg(max(col("vec_id"))).head
      require(
        !maxVecRow.isNullAt(0),
        s"pre-written embeddings at $out are EMPTY (max(vec_id) is null) — a prior generation died " +
          "before writing rows; regenerate embeddings (add it to SPARK_GRAFT_SCALE_TABLES)"
      )
      val writtenReplicas = maxVecRow.getLong(0) / KeyStride + 1
      require(
        writtenReplicas == replicas,
        s"pre-written embeddings at $out were generated with $writtenReplicas replicas, this run wants " +
          s"$replicas — regenerate embeddings (add it to SPARK_GRAFT_SCALE_TABLES) or fix the decade"
      )
    }
    // dims stay fixed
    Seq("region", "nation").filter(wanted).foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
    }
    if (wanted("customer")) replicate("customer", Seq("c_custkey"))
    if (wanted("supplier")) replicate("supplier", Seq("s_suppkey"))
    if (wanted("part")) replicate("part", Seq("p_partkey"))
    if (wanted("orders")) replicate("orders", Seq("o_orderkey", "o_custkey"))
    if (wanted("lineitem")) replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    if (wanted("events")) replicate("events", Seq("event_id", "user_id"))
    // Per-replica orthogonal transform Q_i = D_s ∘ R_r with rotation
    // r = i mod dims and a SIGN-FLIP EPOCH s = i div dims: rotation
    // alone repeats at i = dims (replica `dims` would carry
    // bit-identical vectors to replica 0 — cross-replica cosine 1.0,
    // the exact pathology the transform exists to prevent), which
    // capped the scaling probe at 64× (round 11). Each epoch s ≥ 1
    // composes the rotation with a deterministic ±1 diagonal (splitmix
    // bit per (s, dim), guaranteed non-identity), so replicas stay
    // pairwise-distinct orthogonal images for replicas ≤ dims·2^dims:
    // norms, within-replica cosine structure and per-vector max-abs
    // (the quantization scale) are preserved EXACTLY, cross-replica
    // cosines decorrelate. Epoch 0 is the identity mask — replicas
    // 0..dims-1 are bit-identical to what earlier rounds measured.
    val dims = spark.read.parquet(s"$src/embeddings.parquet").select(size(col("embedding"))).head.getInt(0)
    if (wanted("embeddings")) replicate(
      "embeddings",
      Seq("vec_id"),
      (d, i) => {
        val rot = i % dims
        val epoch = i / dims
        val rotated =
          if (rot == 0) d
          else {
            val n = size(col("embedding"))
            val k = lit(rot) % n
            d.withColumn(
              "embedding",
              concat(slice(col("embedding"), k + 1, n - k), slice(col("embedding"), lit(1), k))
            )
          }
        if (epoch == 0) rotated
        else {
          val mask = array(signMask(epoch, dims).map(v => lit(v)): _*)
          rotated.withColumn("embedding", zip_with(col("embedding"), mask, (x, m) => x * m))
        }
      },
      keyCap = PlantOffset,
      // partners AFTER the orthogonal transform (each replica plants
      // from its own decorrelated vectors — replica-local pairs,
      // linear truth) and ONCE over the union: the construction reads
      // only the row, and the residue/offset arithmetic is identical
      // whether applied per branch or to the whole frame. The union
      // is CHECKPOINTED first: the four partner branches (classic +
      // X/S/T) would otherwise each re-run the `replicas`-way union
      // scan — at 1024 replicas the multiplied write-task commit
      // stats alone blew the driver result-size cap
      finish = d => withPlantedPartners(d.localCheckpoint(), dims)
    )
    // documents are replicated AFTER embeddings so the planted doc
    // twins can semi-join on the ids that ACTUALLY received embedding
    // partners (read back from the written output — the id-residue
    // arithmetic alone cannot see withPlantedPartners' xx/pp
    // degenerate-vector drops)
    if (wanted("documents")) {
    val plantedDocIds = plantedDocSpecs(spark.read.parquet(s"$out/embeddings.parquet"))
    replicate(
      "documents",
      Seq("doc_id"),
      (d0, i) => {
        val d =
          if (i == 0) d0
          else
            d0.withColumn(
              "text",
              // tag WITHOUT a separator char: the engine's word regex is
              // '[a-z0-9]+', so 'alphar3' stays ONE (new) token while
              // 'alpha_r3' would split back into the ORIGINAL token plus
              // a tag — silently collapsing the vocabulary growth this
              // transform exists to produce for regex-tokenized
              // operators (q48/q76/q92/q93/q98/q100/q105)
              array_join(transform(split(col("text"), "\\s+"), w => concat(w, lit(s"zq$i"))), " ")
            )
            // the tag lengthens the text; n_chars must keep describing it
            // (length gates and sampling weights read n_chars)
            .withColumn("n_chars", length(col("text")).cast("long"))
        d
      },
      keyCap = PlantOffset,
      // partner docs AFTER the replica tag (the partner re-tags the
      // replica's own tokens, so it is lexically disjoint from its
      // base within the replica and from every other replica), and
      // ONCE over the union — replica-agnostic by construction; the
      // union checkpointed for the same multi-read reason as the
      // embeddings (marker anti/semi branches + the partner join)
      finish = d => withPlantedPartnerDocs(d.localCheckpoint(), plantedDocIds)
    )
    }
    spark.stop()
  }
}
