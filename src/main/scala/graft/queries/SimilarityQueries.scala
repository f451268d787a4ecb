package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Parity, QuerySpec}
import graft.QuerySpec.{rowsOnly, sql}
import graft.model.Tables
import graft.ops.Similarity

/** Similarity search over the `embeddings` table (north-star — SURVEY.md
  * §7.6). The fixed query vector is the embedding of vec_id = 0, read from
  * the table itself so Spark and the DuckDB oracle score the identical
  * vector with identical double arithmetic.
  */
object SimilarityQueries {

  /** DuckDB cosine expression mirroring Similarity.cosine bit-for-bit:
    * cast floats to double BEFORE multiplying, sum left-to-right. */
  private def duckCosine(e: String, q: String): String =
    s"list_sum(list_transform(list_zip($e, $q), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))" +
      s" / (sqrt(list_sum(list_transform($e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))" +
      s" * sqrt(list_sum(list_transform($q, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"

  private def queryVec(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))

  /** Path of the PERSISTED IVF centroid artifact per corpus dir (see ss5
    * — train once, write to parquet, serve every query from the
    * read-back table; keyed by dir so every scale factor trains its own
    * model). Caching the path, not a DataFrame: what serving reads is
    * the storage artifact, exactly as a deployment would. */
  private val centroidModelPath =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Temp model roots created by the build-once accessors below; removed
    * at JVM exit so repeated suite/bench runs don't accumulate artifacts. */
  private val tempRoots = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
  sys.addShutdownHook {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(): Unit
    }
    tempRoots.synchronized(tempRoots.toList).foreach(rm)
  }
  private def newTempRoot(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempRoots.synchronized { tempRoots += p.toFile }
    p.toString
  }

  /** Single-flight build-once: TrieMap.getOrElseUpdate may run the
    * builder twice under concurrent first calls (wasted training runs,
    * divergent temp dirs). Fast path is the lock-free read; only first
    * builds serialize on the map. */
  private def buildOnce[V](m: scala.collection.concurrent.TrieMap[String, V],
                           key: String)(build: => V): V =
    m.get(key).getOrElse(m.synchronized(m.getOrElseUpdate(key, build)))

  /** Root of the persisted incremental IVF index per corpus dir (ss8 —
    * built once via init+ingest, every query served from the partitioned
    * read-back layout; same path-not-DataFrame rationale as above). */
  private val ivfIndexRoot =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Build-once accessor for the ss8 index (Bench calls it from the
    * untimed prepare hook, so timed passes measure the probe, not the
    * one-time init+ingest build; Verify's single run builds inline). */
  private def ensureIvfIndex(s: org.apache.spark.sql.SparkSession, d: String): String =
    buildOnce(ivfIndexRoot, d) {
      val base = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      val r = newTempRoot("graft-vecidx-q") + "/idx"
      graft.ops.VectorIndex.init(s, base.filter(col("vec_id") % 5 =!= 0), r, k = 8)
      graft.ops.VectorIndex.ingest(s, base.filter(col("vec_id") % 5 === 0), r)
      r
    }

  /** Paths of the persisted PQ artifacts per corpus dir: the m·k-row
    * codebook and the ENCODED CODES table (ss9 — the codes, not the
    * float vectors, are what a PQ deployment scans; both round-trip
    * storage like any other table). */
  private val pqModelPaths =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  private val PqM = 32

  private def ensurePqModel(s: org.apache.spark.sql.SparkSession,
                            d: String): (String, String) =
    buildOnce(pqModelPaths, d) {
      val base = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      val root = newTempRoot("graft-pq-q")
      val cb = graft.ops.Similarity.trainPqCodebooks(base, m = PqM, k = 16, iters = 3)
      graft.ops.Similarity.savePqCodebooks(cb, s"$root/codebooks")
      graft.io.Sinks.parquet(
        graft.ops.Similarity.pqEncode(base, cb, PqM), s"$root/codes")
      (s"$root/codebooks", s"$root/codes")
    }

  /** dd12's within-cluster prune. `fused` scores pairs with the native
    * `graft_cosine` expression (production); otherwise the HOF form. */
  private def semanticPrune(s: org.apache.spark.sql.SparkSession, d: String,
                            fused: Boolean): org.apache.spark.sql.DataFrame = {
    val e = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
    val cosine =
      if (fused) expr("graft_cosine(ea, eb)") else Similarity.cosine(col("ea"), col("eb"))
    val prs = e.select(col("vec_id").as("id1"), col("label"), col("embedding").as("ea"))
      .join(e.select(col("vec_id").as("id2"), col("label").as("lb"),
        col("embedding").as("eb")),
        col("label") === col("lb") && col("id1") < col("id2"))
      .filter(round(cosine, 6) >= 0.35)
      .select("id1", "id2")
    graft.ops.Dedup.connectedComponents(prs)
      .filter(col("doc_id") =!= col("cluster"))
      .join(e.select(col("vec_id"), col("label")), col("doc_id") === col("vec_id"))
      .select(col("vec_id"), col("label"), col("cluster"))
  }

  val all: Seq[QuerySpec] = Seq(

    sql("ss1_cosine_topk",
      "Similarity: brute-force cosine top-10 vs broadcast query vector (TakeOrderedAndProject)",
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label, ROUND(${duckCosine("embedding", "qe")}, 6) AS cosine
         | FROM embeddings, q WHERE vec_id <> 0
         | ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Similarity.cosineTopK(
          Tables.embeddings(s, d).filter(col("vec_id") =!= 0),
          queryVec(s, d), k = 10)
    }.withBench(Parity.Exact) { (s, d) =>
      // production: native codegen'd expression (one fused loop, no
      // intermediate arrays) — bit-identical to the HOF form, see
      // graft.expressions.CosineSimilarity
      Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(queryVec(s, d)))
        .select(col("vec_id"), col("label"),
          round(expr("graft_cosine(embedding, qe)"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    },

    sql("ss2_label_topk",
      "Similarity: per-label top-3 nearest via ROW_NUMBER window (grouped k-NN)",
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |scored AS (SELECT vec_id, label,
         |  ROUND(${duckCosine("embedding", "qe")}, 6) AS cosine
         |  FROM embeddings, q WHERE vec_id <> 0)
         |SELECT label, vec_id, cosine, rn FROM (
         |  SELECT label, vec_id, cosine,
         |   ROW_NUMBER() OVER (PARTITION BY label ORDER BY cosine DESC, vec_id) AS rn
         |  FROM scored) WHERE rn <= 3
         | ORDER BY label, rn""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val scored = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(queryVec(s, d)))
          .select(col("vec_id"), col("label"),
            round(Similarity.cosine(col("embedding"), col("qe")), 6).as("cosine"))
        val w = Window.partitionBy("label").orderBy(col("cosine").desc, col("vec_id"))
        scored
          .select(col("label"), col("vec_id"), col("cosine"),
            row_number().over(w).cast("long").as("rn"))
          .filter(col("rn") <= 3)
          .orderBy("label", "rn")
      }
    },

    rowsOnly("ss7_int8_topk",
      "Similarity: brute-force cosine top-10 over INT8-quantized embeddings (4x less storage/shuffle; cosine is scale-invariant so no dequantization); recall + error bound vs the float path pinned in ScalaTest") {
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val base = Similarity.quantizeInt8(emb.filter(col("vec_id") =!= 0))
        val q = Similarity.quantizeInt8(emb.filter(col("vec_id") === 0))
          .select(col("q8").as("qq8"))
        base.crossJoin(broadcast(q))
          .select(col("vec_id"), col("label"),
            round(Similarity.cosineInt8(col("q8"), col("qq8")), 6).as("cosine"))
          .orderBy(col("cosine").desc, col("vec_id"))
          .limit(10)
      }
    },

    rowsOnly("ss3_ann_lsh_topk",
      "Similarity: SRP-LSH multi-probe ANN top-10 — the 100TB path; recall vs ss1 pinned in ScalaTest") {
      (s, d) =>
        Similarity.annTopK(
          Tables.embeddings(s, d).filter(col("vec_id") =!= 0),
          Tables.embeddings(s, d).filter(col("vec_id") === 0)
            .select(col("vec_id").as("qvec_id"), col("embedding").as("qe")),
          k = 10)
    },

    rowsOnly("ss5_ivf_topk",
      "Similarity: IVF ANN — Lloyd-trained centroids persisted once per corpus as a parquet model artifact, every query served from the read-back K-row table (recall@10 vs ss1 pinned in ScalaTest)") {
      (s, d) => {
        // k=8/nprobe=6 clears recall@10 >= 0.9 on this corpus — which has
        // near-zero cluster structure, so recall tracks the scanned
        // fraction; see SimilaritySpec for the swept curve.
        // Deployment shape: the quantizer is TRAINED ONCE per corpus,
        // WRITTEN to parquet, and every query (and the bench median)
        // serves ivfAssign+probe from the READ-BACK artifact — per-query
        // work is the probe, never 4 corpus-scanning Lloyd iterations,
        // and the model round-trips storage like any other table.
        val base = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
        val path = buildOnce(centroidModelPath, d) {
          val p = newTempRoot("graft-ivf-model") + "/centroids"
          Similarity.saveIvfCentroids(Similarity.trainIvfCentroids(base, k = 8), p)
          p
        }
        Similarity.ivfTopK(base, Similarity.loadIvfCentroids(s, path),
          queryVec(s, d), k = 10, nprobe = 6)
      }
    },

    rowsOnly("ss9_pq_topk",
      "Similarity: PRODUCT-QUANTIZED ANN — vectors compressed 32× into tinyint code arrays against a per-subspace Lloyd codebook (both persisted parquet artifacts); queries score candidates from the CODES table alone via an ADC lookup-table join, then exact cosine re-ranks only the shortlist sliver (recall@10 vs ss1 pinned in SimilaritySpec)") {
      (s, d) => {
        val (cbPath, codesPath) = ensurePqModel(s, d)
        val base = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
        graft.ops.Similarity.pqTopKRefined(base,
          s.read.parquet(codesPath),
          graft.ops.Similarity.loadPqCodebooks(s, cbPath),
          queryVec(s, d), k = 10, m = PqM, shortlist = 64)
      }
    }.withPrepare((s, d) => { ensurePqModel(s, d); () }),

    sql("ss8_incremental_ivf",
      "Similarity: PERSISTED incremental IVF index — quantizer trained on the history slice and frozen, the remaining vectors ingested against the read-back model into a partitionBy(cid) layout whose probes prune at the storage layer (VectorIndex). Probing every centroid recovers exact brute-force top-10 — which the oracle hash-checks, pinning that the incremental index holds exactly the corpus; recall at production nprobe + dynamic partition pruning are pinned in VectorIndexSpec",
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label, ROUND(${duckCosine("embedding", "qe")}, 6) AS cosine
         | FROM embeddings, q WHERE vec_id <> 0
         | ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // nprobe = K: the exact-recovery setting the oracle can hash;
        // production probes fewer partitions (VectorIndexSpec's recall
        // case runs nprobe=6)
        graft.ops.VectorIndex.topK(s, ensureIvfIndex(s, d),
          queryVec(s, d), k = 10, nprobe = 8)
      }
    }.withPrepare((s, d) => { ensureIvfIndex(s, d); () }),

    sql("ss6_label_centroids",
      "Similarity: per-label centroid via custom typed Aggregator (IVF/KMeans training step)",
      """SELECT label, pos, ROUND(AVG(v), 6) AS avg_val FROM (
        | SELECT label,
        |  UNNEST(range(1, len(embedding) + 1)) AS pos,
        |  UNNEST(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
        | FROM embeddings)
        | GROUP BY label, pos ORDER BY label, pos""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val centroid = udaf(graft.expressions.CentroidAgg,
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]())
        Tables.embeddings(s, d)
          .groupBy("label")
          .agg(centroid(col("embedding")).as("centroid"))
          .select(col("label"), posexplode(col("centroid")).as(Seq("p", "v")))
          .select(col("label"), (col("p") + 1).cast("long").as("pos"),
            round(col("v"), 6).as("avg_val"))
          .orderBy("label", "pos")
      }
    },

    rowsOnly("ss4_cosine_neardup",
      "Similarity: embedding-cosine near-dup pairs via SRP buckets + exact verify (thr 0.4 — corpus max pairwise cosine is 0.51; production dedup would use ~0.95)") {
      (s, d) =>
        Similarity.cosineNearDupPairs(Tables.embeddings(s, d), thr = 0.4)
          .orderBy("id1", "id2")
    },

    sql("dd12_semantic_prune",
      "DD12: SemDeDup-style semantic prune — within-CLUSTER pairwise cosine ≥ τ pairs (blocking key = the assigned cluster, here the label column; at 100 TB the IVF assignment from ss5/ss8 plays this role and bounds every block, so the quadratic step never sees the corpus) → connected components → every non-min-id member pruned. τ = 0.35 against this corpus's 0.475 max within-label cosine; production semantic dedup sits at ~0.95. Oracle: recursive-CTE closure over the identically-computed ROUND(cosine,6) pair set",
      s"""WITH RECURSIVE e AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id <> 0),
         |p AS (SELECT a.vec_id AS id1, b.vec_id AS id2
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE ROUND(${duckCosine("a.embedding", "b.embedding")}, 6) >= 0.35),
         |edges AS (SELECT id1 AS x, id2 AS y FROM p UNION ALL SELECT id2, id1 FROM p),
         |cc AS (SELECT DISTINCT x AS vec_id, x AS lbl FROM edges
         |       UNION SELECT e2.y, cc.lbl FROM cc JOIN edges e2 ON cc.vec_id = e2.x),
         |cl AS (SELECT vec_id, MIN(lbl) AS cluster FROM cc GROUP BY vec_id)
         |SELECT cl.vec_id AS vec_id, e.label AS label, cl.cluster AS cluster
         | FROM cl JOIN e ON cl.vec_id = e.vec_id
         | WHERE cl.vec_id <> cl.cluster ORDER BY cl.vec_id""".stripMargin.replace("\n", "")) {
      (s, d) => semanticPrune(s, d, fused = false)
    }.oracleOrder("vec_id").withBench(Parity.Exact) { (s, d) =>
      // production: the fused codegen'd cosine expression (no
      // intermediate arrays per pair — the pairwise step is the hot loop)
      semanticPrune(s, d, fused = true)
    }
  )
}
