package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`) — north-star
  * component (SURVEY.md §7.6). All scoring is pure Catalyst higher-order
  * array expressions (zip_with/transform/aggregate): no UDFs, no driver
  * round-trips. These expressions are CodegenFallback in Spark 4.1 — they
  * run interpreted, element by element, inside the generated stage; the
  * native-codegen exception is `graft_cosine` ([[graft.expressions.CosineSimilarity]]).
  *
  * Scale design:
  *  - Brute-force top-k = broadcast the query vector, score every row
  *    map-side, `orderBy(desc).limit(k)` → Spark plans
  *    TakeOrderedAndProject (per-partition heap + driver merge of k rows,
  *    never a global sort).
  *  - The ANN path buckets vectors by sign-random-projection (SRP) LSH;
  *    the probe is a bucket-equality semi-join (multi-probe over nearby
  *    buckets), so scored candidates are a tiny fraction of the table.
  *  - Per-group top-k uses a row_number window partitioned by the group
  *    key (one hash shuffle, no global sort).
  */
object Similarity {

  /** Double-precision dot product of two float arrays. Element-wise
    * products are widened to double BEFORE multiplication and summed
    * left-to-right — bit-identical to the DuckDB oracle's
    * list_sum(list_transform(list_zip(...))) form. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm, double accumulation. */
  def l2norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Per-vector symmetric int8 quantization: scale = max|xᵢ|/127,
    * qᵢ = round(xᵢ/scale) ∈ [-127,127] stored as `array<tinyint>` — 4× less
    * storage/shuffle than float32, the standard embedding compression at
    * corpus scale. Adds `q8` + `q8_scale`; a zero vector quantizes to all
    * zeros (scale 0). Cosine is scale-invariant, so [[cosineInt8]] needs
    * no dequantization — recall vs the float path is pinned in
    * SimilaritySpec. */
  def quantizeInt8(df: DataFrame, embCol: String = "embedding"): DataFrame =
    df.withColumn("__s",
        array_max(transform(col(embCol), e => abs(e.cast("double")))) / lit(127.0))
      .withColumn("q8", transform(col(embCol), e =>
        when(col("__s") > 0, round(e.cast("double") / col("__s"), 0))
          .otherwise(lit(0.0)).cast("tinyint")))
      .withColumnRenamed("__s", "q8_scale")

  /** Cosine over int8-quantized vectors (ints widened to double in the
    * same fused aggregate shape as [[cosine]]). */
  def cosineInt8(qa: Column, qb: Column): Column =
    cosine(qa, qb)

  /** Brute-force cosine top-k against one query vector (the exact
    * baseline ANN is measured against). `query` is a 1-row DF with column
    * `qe`; broadcast so scoring is map-side over the base table. */
  def cosineTopK(base: DataFrame, query: DataFrame, k: Int,
                 roundScale: Int = 6): DataFrame =
    base.crossJoin(broadcast(query))
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("qe")), roundScale).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)

  /** SRP-LSH bucket id: bit b = sign of the projection of the embedding
    * onto pseudo-random hyperplane b (components ±1 derived from
    * xxhash64(b, j) — deterministic, no stored model). One partial+final
    * aggregation over position-exploded vectors. */
  def srpBuckets(df: DataFrame, bits: Int = 6): DataFrame = {
    val pe = df.select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "ej")))
    val sums = (0 until bits).map(b =>
      sum(when(xxhash64(lit(b), col("j")).bitwiseAND(1) === 1,
        col("ej").cast("double")).otherwise(-col("ej").cast("double"))).as(s"p$b"))
    val bucket = (0 until bits).map(b =>
      when(col(s"p$b") > 0, lit(1 << b)).otherwise(0)).reduce(_ + _)
    pe.groupBy("vec_id").agg(sums.head, sums.tail: _*)
      .select(col("vec_id"), bucket.as("bucket"))
  }

  /** ANN top-k: score only vectors whose SRP bucket is within hamming
    * distance `probe` of the query's bucket (multi-probe LSH). Returns
    * the same schema as [[cosineTopK]]; recall < 1 by construction — the
    * scale path when scoring every row is too expensive. */
  def annTopK(base: DataFrame, query: DataFrame, k: Int,
              bits: Int = 6, probe: Int = 1): DataFrame = {
    val buckets = srpBuckets(base, bits)
    val qBucket = srpBuckets(query.select(col("qvec_id").as("vec_id"),
      col("qe").as("embedding")), bits)
      .select(col("bucket").as("qbucket"))
    val cand = buckets.crossJoin(broadcast(qBucket))
      .filter(bit_count(col("bucket").bitwiseXOR(col("qbucket"))) <= probe)
      .select("vec_id")
    cosineTopK(base.join(cand, Seq("vec_id"), "left_semi"), query, k)
  }

  /** Trained IVF coarse quantizer: deterministic Lloyd iterations built
    * from the engine's own pieces — [[ivfAssign]] for the E-step, the
    * [[graft.expressions.CentroidAgg]] typed aggregator for the M-step.
    *
    *  - Seeding: the K vectors that sort first by xxhash64(vec_id) — a
    *    deterministic pseudo-random draw (hash order is uncorrelated with
    *    insertion/label order), planned as TakeOrderedAndProject, never a
    *    full sort.
    *  - Each iteration: map-side scoring against the BROADCAST centroid
    *    table (n×K cosines, zero shuffle) + one hash agg for the new
    *    means — the canonical distributed-KMeans shape.
    *  - `localCheckpoint` materializes the K-row centroid table between
    *    iterations, truncating lineage so the final plan doesn't re-scan
    *    the corpus 2^iters times; the model NEVER visits the driver. On a
    *    real cluster swap for `checkpoint()` (reliable storage) if
    *    executor loss during training matters.
    *  - Cosine-objective Lloyd ("spherical" k-means): the un-normalized
    *    mean is a valid M-step because cosine scoring normalizes anyway.
    *    Clusters that lose all members drop out (standard Lloyd without
    *    re-seeding; the assignment stays total — remaining centroids
    *    absorb the space). Bit-level centroid determinism is NOT
    *    guaranteed (float merge order varies across runs, as with any
    *    distributed mean) — downstream argmax assignment is stable away
    *    from exact ties, and recall is pinned in SimilaritySpec. */
  def trainIvfCentroids(base: DataFrame, k: Int, iters: Int = 4): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(iters >= 0, s"iters must be non-negative, got $iters")
    val centroid = udaf(graft.expressions.CentroidAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]())
    val w = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
    val seeds = base.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(k)
      .select(col("vec_id"), col("embedding"))
      .select((row_number().over(w) - 1).cast("long").as("cid"),
        col("embedding").as("cvec")) // K-row window: the single partition is the model, not data
    var cents = seeds.localCheckpoint()
    var i = 0
    while (i < iters) {
      cents = ivfAssign(base, cents)
        .join(base, "vec_id")
        .groupBy("cid").agg(centroid(col("embedding")).as("cvec"))
        .localCheckpoint()
      i += 1
    }
    cents
  }

  /** Persist trained IVF centroids as a parquet MODEL ARTIFACT — at
    * corpus scale the quantizer is trained once and served to every
    * query/ingest job from storage, never retrained per run (training
    * re-scans the corpus ×iters; the artifact is K rows). Pairs with
    * [[loadIvfCentroids]]; served-from-artifact == trained-in-memory
    * parity is pinned in SimilaritySpec. */
  def saveIvfCentroids(centroids: DataFrame, path: String): Unit =
    graft.io.Sinks.parquet(centroids.select(col("cid"), col("cvec")), path)

  /** Read an IVF centroid artifact back for serving ([[ivfAssign]] /
    * [[ivfTopK]] / [[ivfTopKIndexed]]). The model is K rows — Spark
    * broadcasts it at every use site, so serving from parquet adds one
    * K-row scan per query, nothing more. */
  def loadIvfCentroids(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("cid"), col("cvec"))

  /** IVF assignment: each vector joins its nearest centroid. Scoring is
    * map-side against the broadcast centroid table (n×K scores, no
    * shuffle); the argmax is one row_number window on vec_id. */
  def ivfAssign(base: DataFrame, centroids: DataFrame): DataFrame = {
    val scored = base.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("cid"),
        cosine(col("embedding"), col("cvec")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("sim").desc, col("cid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("vec_id", "cid")
  }

  /** IVF top-k over a PREBUILT assignment (the build-once/query-many
    * shape a real deployment uses: [[ivfAssign]]'s (vec_id, cid) output
    * is written once — ideally partitioned/bucketed by cid so probing
    * prunes at the storage layer — and every query pays only the
    * centroid ranking + candidate scoring). Rank centroids against the
    * query, semi-join the base down to the `nprobe` nearest clusters,
    * score only those. */
  /** The `nprobe` centroid ids nearest the query — the single probe
    * policy every IVF consumer shares ([[ivfTopKIndexed]] and
    * [[VectorIndex.topK]]); K-row scan + limit, never data-sized. */
  def probeCids(centroids: DataFrame, query: DataFrame, nprobe: Int): DataFrame =
    centroids.crossJoin(broadcast(query))
      .select(col("cid"), cosine(col("cvec"), col("qe")).as("sim"))
      .orderBy(col("sim").desc, col("cid")).limit(nprobe)
      .select("cid")

  def ivfTopKIndexed(base: DataFrame, assigned: DataFrame,
                     centroids: DataFrame, query: DataFrame,
                     k: Int, nprobe: Int = 2): DataFrame = {
    val probed = probeCids(centroids, query, nprobe)
    val cand = assigned
      .join(broadcast(probed), Seq("cid"), "left_semi")
      .select("vec_id")
    cosineTopK(base.join(cand, Seq("vec_id"), "left_semi"), query, k)
  }

  /** Single-shot convenience: builds the assignment inline. The scale
    * alternative to SRP when cluster structure exists (recall tracks how
    * well centroids cover the data, like any IVF index). */
  def ivfTopK(base: DataFrame, centroids: DataFrame, query: DataFrame,
              k: Int, nprobe: Int = 2): DataFrame =
    ivfTopKIndexed(base, ivfAssign(base, centroids), centroids, query, k, nprobe)

  /** Embedding-cosine near-duplicate pairs: SRP-bucket candidates (equal
    * bucket ⇒ likely-similar), verified with exact cosine ≥ thr. Never
    * all-pairs; recall governed by bits/probe like any LSH. */
  def cosineNearDupPairs(base: DataFrame, thr: Double, bits: Int = 6): DataFrame = {
    val withBucket = base.join(srpBuckets(base, bits), "vec_id")
    val x = withBucket.select(col("bucket"), col("vec_id").as("id1"), col("embedding").as("e1"))
    val y = withBucket.select(col("bucket"), col("vec_id").as("id2"), col("embedding").as("e2"))
    x.join(y, Seq("bucket")).filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), round(cosine(col("e1"), col("e2")), 6).as("cosine"))
      .filter(col("cosine") >= thr)
      .distinct()
  }

  // ───── Product quantization (PQ / asymmetric-distance ANN) ─────
  //
  // The FAISS IVF-PQ second stage: each L2-normalized vector is split
  // into `m` contiguous subvectors, each encoded as the id of its
  // nearest subspace centroid — D floats become m small ints (m·log₂k
  // bits, e.g. 64-dim float32 → 8 bytes at m=8/k=16, a 32× compression).
  // Queries score candidates WITHOUT decoding (ADC): the query builds an
  // m×k lookup table of exact subspace distances once, and each code's
  // approximate distance is the sum of its m table entries. On unit
  // vectors, minimum L2 distance == maximum cosine, so this slots into
  // the same family as [[cosineTopK]]/[[ivfTopK]] — at 100 TB the codes
  // table (not the float vectors) is what sits in fast storage, and the
  // LUT join replaces 64-float arithmetic per candidate with m lookups.

  /** L2-normalize the embedding column (zero vectors pass through
    * unchanged). The norm is projected FIRST — a lambda that recomputed
    * it per element would do 64 aggregate passes per row. */
  def l2normalized(df: DataFrame, embCol: String = "embedding"): DataFrame =
    df.withColumn("__n", l2norm(col(embCol)))
      .withColumn(embCol,
        when(col("__n") > 0,
          transform(col(embCol), x => (x.cast("double") / col("__n")).cast("float")))
          .otherwise(col(embCol)))
      .drop("__n")

  /** Squared L2 between two float arrays, double accumulation (same
    * fused aggregate shape as [[dot]]). */
  def l2sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")) *
        (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  /** Contiguous subvector explode: (vec_id, sub, svec) with m rows per
    * vector. The embedding dim must be divisible by m (the last slice
    * would silently shorten otherwise — SimilaritySpec pins the shape). */
  def pqSubvecs(base: DataFrame, m: Int): DataFrame = {
    require(m >= 1, s"m must be positive, got $m")
    val subDim = (size(col("embedding")) / m).cast("int")
    base
      .select(col("vec_id"), col("embedding"), subDim.as("__sd"))
      .select(col("vec_id"), posexplode(transform(sequence(lit(0), lit(m - 1)),
        i => slice(col("embedding"), i * col("__sd") + 1, col("__sd")))))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "svec")
  }

  /** Nearest sub-centroid per (vec_id, sub): map-side scoring against
    * the broadcast m×k codebook + one argmin window. */
  def pqAssign(subs: DataFrame, codebooks: DataFrame): DataFrame = {
    val scored = subs.join(broadcast(codebooks), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("cid"),
        l2sq(col("svec"), col("cvec")).as("d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id", "sub").orderBy(col("d2"), col("cid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("vec_id", "sub", "cid")
  }

  /** Train PQ codebooks: per-subspace deterministic Lloyd under the L2
    * objective on L2-NORMALIZED vectors — (sub, cid, cvec), m·k rows.
    * Same training discipline as [[trainIvfCentroids]] (hash-order
    * seeding, broadcast E-step, [[graft.expressions.CentroidAgg]]
    * M-step, localCheckpoint per iteration, model never on the driver);
    * all m subspaces train in the SAME jobs — the grid is one frame.
    *
    * Known limitation (deliberate): a centroid with ZERO assignments in
    * an M-step vanishes from that subspace's codebook for all later
    * iterations and for [[pqEncode]] — FAISS-style empty-cluster
    * reseeding is absent. Harmless at the deterministic k=16 / dense-
    * normalized-corpus operating point (hash-order seeds land on real
    * points, so first-iteration clusters are non-empty); callers
    * training with large k on sparse corpora should reseed or accept a
    * shrunken codebook (codes stay valid — cids just skip values). */
  def trainPqCodebooks(base: DataFrame, m: Int = 8, k: Int = 16,
                       iters: Int = 3): DataFrame = {
    require(k >= 1 && k <= 128, s"k must be in 1..128 (codes are tinyint), got $k")
    require(iters >= 0, s"iters must be non-negative, got $iters")
    val centroid = udaf(graft.expressions.CentroidAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]())
    val subs = pqSubvecs(l2normalized(base), m).localCheckpoint()
    val w = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
    val seeds = base.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(k)
      .select(col("vec_id"))
      .select(col("vec_id"),
        (row_number().over(w) - 1).cast("long").as("cid")) // k-row window: model-sized
    var cb = subs.join(seeds, "vec_id")
      .select(col("sub"), col("cid"), col("svec").as("cvec"))
      .localCheckpoint()
    var i = 0
    while (i < iters) {
      cb = pqAssign(subs, cb)
        .join(subs, Seq("vec_id", "sub"))
        .groupBy("sub", "cid").agg(centroid(col("svec")).as("cvec"))
        .localCheckpoint()
      i += 1
    }
    cb
  }

  /** Encode a corpus against a trained codebook: (vec_id, codes) with
    * `codes` an array<tinyint> of length m in subspace order — the
    * compressed representation that REPLACES the float vectors in
    * storage. */
  def pqEncode(base: DataFrame, codebooks: DataFrame, m: Int): DataFrame =
    pqAssign(pqSubvecs(l2normalized(base), m), codebooks)
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("cid")))),
        x => x.getField("cid").cast("tinyint")).as("codes"))

  /** Persist / read back a PQ codebook artifact (m·k rows — trained once
    * per corpus, served from storage like the IVF centroids). */
  def savePqCodebooks(codebooks: DataFrame, path: String): Unit =
    graft.io.Sinks.parquet(codebooks.select(col("sub"), col("cid"), col("cvec")), path)

  def loadPqCodebooks(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("sub"), col("cid"), col("cvec"))

  /** ADC top-k over PQ codes: the query (1-row DF with `qe`) builds the
    * broadcast m×k LUT of exact subspace distances to its own normalized
    * subvectors; candidates never decode — one posexplode + LUT join +
    * per-vector sum, then TakeOrderedAndProject. Returns
    * (vec_id, adc_dist) ascending (nearest first). */
  def pqTopK(codes: DataFrame, codebooks: DataFrame, query: DataFrame,
             k: Int, m: Int): DataFrame = {
    val qsubs = pqSubvecs(
      l2normalized(query.select(lit(0L).as("vec_id"), col("qe").as("embedding"))), m)
      .select(col("sub"), col("svec").as("qvec"))
    val lut = codebooks.join(qsubs, Seq("sub"))
      .select(col("sub"), col("cid").cast("tinyint").as("code"),
        l2sq(col("qvec"), col("cvec")).as("d2"))
    codes.select(col("vec_id"), posexplode(col("codes")))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "code")
      .join(broadcast(lut), Seq("sub", "code"))
      .groupBy("vec_id").agg(sum(col("d2")).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id")).limit(k)
  }

  /** The production PQ query shape: ADC retrieves a `shortlist` of
    * candidates from the CODES table alone, then exact cosine re-ranks
    * just that sliver against the float vectors (a semi-join point
    * lookup — the only place float data is touched). Compression does
    * the corpus-scale scan, exact math does the final ranking; on this
    * structure-free synthetic corpus ADC-only recall@10 is ~0.5 while
    * the re-ranked form recovers ~1.0 (SimilaritySpec pins both). */
  def pqTopKRefined(base: DataFrame, codes: DataFrame, codebooks: DataFrame,
                    query: DataFrame, k: Int, m: Int,
                    shortlist: Int = 64): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val cand = pqTopK(codes, codebooks, query, shortlist, m).select("vec_id")
    cosineTopK(base.join(cand, Seq("vec_id"), "left_semi"), query, k)
  }
}
