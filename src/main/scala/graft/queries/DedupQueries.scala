package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Parity, QuerySpec}
import graft.QuerySpec.{rowsOnly, sql}
import graft.model.Tables
import graft.ops.{Decontam, Dedup}

/** Dedup operators over the `documents` table (north-star components —
  * SURVEY.md §7.6). The corpus plants ~25 near-duplicate pairs per 500
  * docs (3-shingle Jaccard ≥ 0.9), which both the MinHash and the direct
  * shingle-join pipelines must recover exactly.
  */
object DedupQueries {

  /** Shared DuckDB CTE chain computing the exact 3-shingle Jaccard ≥ 0.8
    * pair set — the single ground truth dd2, dd3 AND dd5's cluster
    * closure all build on. */
  private val jaccardCtes =
    """sh AS (
      | SELECT doc_id, UNNEST(CASE WHEN len(string_split(text,' ')) >= 3
      |   THEN list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
      |        i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
      |   ELSE [text] END) AS shingle FROM documents),
      |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |pairs AS (SELECT id1, id2, ROUND(i * 1.0 / (c1.n + c2.n - i), 4) AS jaccard
      | FROM inter JOIN cnt c1 ON id1 = c1.doc_id JOIN cnt c2 ON id2 = c2.doc_id
      | WHERE i * 1.0 / (c1.n + c2.n - i) >= 0.8)""".stripMargin.replace("\n", "")

  /** dd2/dd3 ground truth: the pair set itself, deterministically ordered. */
  private val jaccardOracle =
    s"WITH $jaccardCtes SELECT id1, id2, jaccard FROM pairs ORDER BY id1, id2"

  /** g1 ground truth: 10 fixed-point PageRank iterations over the exact
    * pair graph, unrolled as a CTE chain (fixed depth — no recursive-CTE
    * aggregation semantics to depend on). Mirrors
    * [[graft.ops.Graph.pageRankFixedPoint]] exactly: BIGINT picorank
    * units, truncating division (`//` floors, DIV truncates — identical
    * on the all-positive values here), teleport 0.15e12 per node. */
  private val pageRankOracle: String = {
    val one = 1000000000000L
    val teleport = 150000000000L
    val iterCtes = (1 to 10).map { i =>
      s"""r$i AS (SELECT n.src AS id,
         | CAST($teleport + (COALESCE(f.inflow, 0) * 85) // 100 AS BIGINT) AS rank
         | FROM deg n LEFT JOIN (
         |   SELECT e.dst AS id, CAST(SUM(r.rank // d.deg) AS BIGINT) AS inflow
         |   FROM edges e JOIN r${i - 1} r ON e.src = r.id JOIN deg d ON e.src = d.src
         |   GROUP BY e.dst) f ON n.src = f.id)""".stripMargin.replace("\n", "")
    }.mkString(",")
    s"""WITH $jaccardCtes,
       |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
       |          UNION ALL SELECT id2, id1 FROM pairs),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT src AS id, CAST($one AS BIGINT) AS rank FROM deg),
       |$iterCtes
       |SELECT id, rank AS rank_fp FROM r10
       | ORDER BY rank_fp DESC, id LIMIT 20""".stripMargin.replace("\n", "")
  }

  /** DuckDB k-word shingle list over `string_split(text,' ')` — the same
    * totality rule as [[Dedup.shinglesFromTokens]] (docs shorter than k
    * contribute their whole text). Generalizes the k=3 form inside
    * [[jaccardCtes]] to the longer grams decontamination uses; shared
    * with the llm4 oracle so the shingle SQL lives in one place. */
  private[queries] def shingleListSql(k: Int): String = {
    val ws = "string_split(text,' ')"
    val gram = (0 until k).map(j => s"$ws[i+$j]").mkString(" || ' ' || ")
    s"""CASE WHEN len($ws) >= $k
       | THEN list_distinct(list_transform(range(1, len($ws) - ${k - 2}), i -> $gram))
       | ELSE [text] END""".stripMargin.replace("\n", "")
  }

  /** dd5/dd8 shared ground truth: exact-Jaccard CC clusters via a
    * recursive label-propagation CTE. */
  private val clusterOracle =
    s"""WITH RECURSIVE $jaccardCtes,
       |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
       |          UNION ALL SELECT id2, id1 FROM pairs),
       |cc AS (SELECT DISTINCT a AS doc_id, a AS label FROM edges
       |       UNION
       |       SELECT e.b AS doc_id, cc.label FROM cc JOIN edges e ON cc.doc_id = e.a)
       |SELECT doc_id, MIN(label) AS cluster FROM cc
       | GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", "")

  /** dd10: cluster-SIZE histogram over the same CC ground truth — the
    * "how much duplication do we have" dashboard number (n clusters of
    * each size, plus member mass). */
  private val clusterSizeOracle =
    s"""WITH RECURSIVE $jaccardCtes,
       |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
       |          UNION ALL SELECT id2, id1 FROM pairs),
       |cc AS (SELECT DISTINCT a AS doc_id, a AS label FROM edges
       |       UNION
       |       SELECT e.b AS doc_id, cc.label FROM cc JOIN edges e ON cc.doc_id = e.a),
       |labels AS (SELECT doc_id, MIN(label) AS cluster FROM cc GROUP BY doc_id),
       |sizes AS (SELECT cluster, COUNT(*) AS cluster_size FROM labels GROUP BY cluster)
       |SELECT cluster_size, COUNT(*) AS n_clusters,
       |       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
       | FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin.replace("\n", "")

  /** dd6/dd8 batch split point: top 20% of doc_ids are "today's batch".
    * Sanctioned driver scalar (1-row max() agg — PlanSpec's allowlist),
    * same class as the IQR/quality scalars; not a data collect. */
  private def batchSplit(docs: org.apache.spark.sql.DataFrame): Long =
    docs.agg(max("doc_id")).head.getLong(0) * 4 / 5

  /** dd6/dd6b ground truth: the full exact-Jaccard pair set restricted to
    * pairs involving a batch doc (id1 < id2, so "involves the batch" ⇔ the
    * larger id is past the split). */
  private val incrementalPairOracle =
    s"""WITH $jaccardCtes
       |SELECT id1, id2, jaccard FROM pairs
       | WHERE id2 >= (SELECT (MAX(doc_id) * 4) // 5 FROM documents)
       | ORDER BY id1, id2""".stripMargin.replace("\n", "")

  /** Yesterday's persisted dedup state for the amortized bench variants
    * (dd6b/dd8b): the corpus band index and label table written ONCE per
    * sfDir to a process-temp dir, then served from parquet read-back — the
    * layout [[graft.pipeline.IncrementalIngest]] maintains in production.
    * dd6/dd8 (kept) time the honest-but-pessimal path that REBUILDS this
    * state in-query; the b-variants time what a deployment actually pays
    * per batch once the state exists. Built lazily so Verify stays
    * standalone-correct; [[graft.Bench]] triggers the build UNTIMED via
    * [[QuerySpec.prepare]]. */
  private object PersistedState {
    private val cache = scala.collection.concurrent.TrieMap.empty[String, String]
    def ensure(s: org.apache.spark.sql.SparkSession, d: String): String =
      cache.getOrElseUpdate(d, {
        val docs = Tables.documents(s, d)
        val split = batchSplit(docs)
        val corpus = docs.filter(col("doc_id") < split)
        val root = java.nio.file.Files.createTempDirectory("graft-ddstate").toString
        // the index is built once and feeds BOTH artifacts (dd8's shape):
        // write it first, then serve the label build FROM THE PARQUET —
        // reading the artifact back truncates lineage like a checkpoint
        // would, without pinning blocks in the block manager for the rest
        // of the bench JVM (Dataset.unpersist cannot release a
        // localCheckpoint's RDD blocks — they are not CacheManager
        // entries — so the read-back is the deterministic way to keep
        // state builds off the timed queries' memory)
        Dedup.lshBandIndex(corpus).write.mode("overwrite").parquet(s"$root/index")
        val index = s.read.parquet(s"$root/index")
        Dedup.connectedComponents(
            Dedup.minhashNearDupFromBands(Dedup.shingleDF(corpus), index))
          .write.mode("overwrite").parquet(s"$root/labels")
        // corpus shingle substrate — the third artifact of the production
        // layout, letting dd5b's increment verify candidates WITHOUT ever
        // re-reading archive text (incrementalNearDupServed)
        Dedup.shingleDF(corpus).write.mode("overwrite").parquet(s"$root/shingles")
        root
      })

    private val fullCache = scala.collection.concurrent.TrieMap.empty[String, String]
    /** FULL-corpus label artifact (all docs, not dd8's corpus/batch
      * split) — what o13's holdout split consumes in production: the
      * label table IncrementalIngest maintains, read back from parquet. */
    def ensureFullLabels(s: org.apache.spark.sql.SparkSession, d: String): String =
      fullCache.getOrElseUpdate(d, {
        val root = java.nio.file.Files.createTempDirectory("graft-ddlabels").toString
        Dedup.connectedComponents(Dedup.minhashNearDup(Tables.documents(s, d)))
          .write.mode("overwrite").parquet(s"$root/labels")
        root
      })
  }

  /** o13's split counts. `served` is the production form: labels read
    * back from the persisted artifact, xxhash64 split buckets. Otherwise
    * the labels are built in-query and the draw is the md5 hex prefix. */
  private def clusterHoldout(s: SparkSession, d: String, served: Boolean): DataFrame = {
    val docs = if (served) Tables.documents(s, d) else Tables.widened(s, d, "documents")
    // label table: at 100 TB this is the PERSISTED IncrementalIngest
    // label artifact, not an in-query closure — the split then costs
    // one left join against a sliver + a hash per doc
    val labels =
      if (served) s.read.parquet(s"${PersistedState.ensureFullLabels(s, d)}/labels")
      else Dedup.connectedComponents(Dedup.minhashNearDup(docs))
    val g = docs.select("doc_id").join(labels, Seq("doc_id"), "left")
      .select(coalesce(col("cluster"), col("doc_id")).as("grp"))
    val train =
      if (served) pmod(xxhash64(col("grp")), lit(256L)) < 204
      else substring(md5(col("grp").cast("string")), 1, 2) < "cc"
    g.select(when(train, "train").otherwise("test").as("split"), col("grp"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("grp")).as("n_groups"))
  }

  /** dd10's cluster-size histogram; `maxDf` is the production hot-shingle
    * cap on the pair stage (None in the oracle plan). */
  private def clusterSizes(s: SparkSession, d: String, maxDf: Option[Long]): DataFrame =
    Dedup.connectedComponents(
        Dedup.minhashNearDup(Tables.widened(s, d, "documents"), maxDf = maxDf))
      .groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"),
        col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))

  /** dd11's per-source waste; `maxDf` as in [[clusterSizes]]. */
  private def wastedTokens(s: SparkSession, d: String, maxDf: Option[Long]): DataFrame = {
    val docs = Tables.widened(s, d, "documents")
    // non-survivors are a cluster-membership sliver; joining them
    // back to documents is an AQE-sized join (sliver vs corpus —
    // broadcast when small), and the per-source totals reuse one
    // corpus scan. Token metering matches t1 (whitespace split).
    val nonSurvivors = Dedup.connectedComponents(Dedup.minhashNearDup(docs, maxDf = maxDf))
      .filter(col("doc_id") =!= col("cluster"))
      .select("doc_id")
    val waste = docs.join(nonSurvivors, Seq("doc_id"))
      .groupBy("source").agg(
        count(lit(1)).as("n_dup_docs"),
        sum(graft.ops.TextOps.tokenCount(col("text"))).as("wasted_tokens"))
    docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(graft.ops.TextOps.tokenCount(col("text"))).as("total_tokens"))
      .join(waste, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("total_tokens"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        coalesce(col("wasted_tokens"), lit(0L)).as("wasted_tokens"))
  }

  /** dd9's overlap matrix; `hashed` shuffles xxhash64(prefix) in place of
    * the 16-token prefix string (production). */
  private def sourceOverlap(s: SparkSession, d: String, hashed: Boolean): DataFrame = {
    // pre-filter to prefixes with frequency ≥ 2 BEFORE self-joining:
    // the frequency agg is one shuffle on the prefix key, and the
    // surviving candidate sliver (dup groups only) is what self-joins
    // — the full corpus never meets itself. Group sizes are dup-
    // cluster-bounded, so the join output is Σ C(group,2), not n².
    val pre = array_join(slice(split(col("text"), " "), 1, 16), " ")
    val docs = Tables.documents(s, d).select(
      col("doc_id"), col("source"), (if (hashed) xxhash64(pre) else pre).as("pre"))
    val shared = docs.groupBy("pre").count()
      .filter(col("count") > 1).select("pre")
    val cand = docs.join(shared, "pre")
    cand.as("a").join(cand.as("b"),
        col("a.pre") === col("b.pre") && col("a.doc_id") < col("b.doc_id"))
      .select(
        least(col("a.source"), col("b.source")).as("source_a"),
        greatest(col("a.source"), col("b.source")).as("source_b"),
        col("a.pre").as("pre"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("pre")).as("n_prefixes"))
  }

  val all: Seq[QuerySpec] = Seq(

    sql("dd1_exact_dedup",
      "Dedup: exact dedup on text, deterministic survivor = min(doc_id), with copy counts",
      """SELECT MIN(doc_id) AS doc_id, text, COUNT(*) AS n_copies
        | FROM documents GROUP BY text ORDER BY doc_id""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.documents(s, d)
          .groupBy("text")
          .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
          .select("doc_id", "text", "n_copies")
          .orderBy("doc_id")
    }.withBench(Parity.Structural("doc_id", "n_copies")) { (s, d) =>
      // production: group on a 64-bit text hash so the shuffle moves 8 bytes
      // per row instead of the document body; survivors resolved by id
      Tables.documents(s, d)
        .select(xxhash64(col("text")).as("text_hash"), col("doc_id"))
        .groupBy("text_hash")
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
    },

    sql("dd2_minhash_neardup",
      "Dedup: MinHash(64) + LSH(16 bands × 4) candidates, exact-Jaccard verified ≥ 0.8",
      jaccardOracle) {
      (s, d) =>
        Dedup.minhashNearDup(Tables.widened(s, d, "documents"))
          .orderBy("id1", "id2")
    }.withBench(Parity.Exact) { (s, d) =>
      // production: same plan minus the oracle sort, plus the hot-shingle
      // df-cap (no-op on this corpus, max df 25 ≪ 1000; the guard that
      // bounds bucket sizes at 100 TB — parity pinned in DedupSpec).
      // hashShingles=true is the cross-network scale path (8-byte shuffle
      // keys) but measured SLOWER on single-node local[32] — the extra
      // hash pass costs CPU and there is no network to save.
      Dedup.minhashNearDup(Tables.widened(s, d, "documents"), maxDf = Some(Dedup.DefaultMaxDf))
    },

    sql("dd3_ngram_jaccard",
      "Dedup: direct shared-shingle bucket join, exact 3-gram Jaccard ≥ 0.8 (no sketch)",
      jaccardOracle) {
      (s, d) =>
        Dedup.exactJaccardPairs(
          Dedup.shingleDF(Tables.widened(s, d, "documents")), minJaccard = 0.8)
          .orderBy("id1", "id2")
    }.withBench(Parity.Exact) { (s, d) =>
      // production plan = PPJoin prefix filter + df-cap, NOT the direct
      // shared-shingle join: on a Zipfian vocabulary the direct join's
      // candidate pairs grow quadratically in hot-shingle frequency. The
      // prefix filter has recall 1 (parity-pinned in DedupSpec) and only
      // indexes each doc's rarest shingles; the df-cap bounds any residual
      // hot bucket. Costs ~2× more than the direct join on THIS corpus
      // (31-word vocab, nothing to prune) — a corpus property we no
      // longer let pick a scale-unsafe default. Direct join stays as the
      // oracle plan only.
      Dedup.prefixFilteredJaccardPairs(Tables.widened(s, d, "documents"),
        thr = 0.8, maxDf = Some(Dedup.DefaultMaxDf))
    },

    sql("dd16_eval_burn",
      "Dedup+: per-EVAL-doc burn report — the mirror of dd7: for every held-out eval doc, how much of its OWN 5-gram content already exists in train (n_grams_own, n_shared, burn share in integer ppm), INCLUDING the clean zero rows — the which-benchmark-items-are-memorizable view an eval owner needs before trusting a score. Eval shingles broadcast, train scanned once, only the distinct hit sliver shuffles",
      s"""WITH tsh AS (SELECT DISTINCT shingle FROM (
         |    SELECT UNNEST(${shingleListSql(5)}) AS shingle
         |    FROM documents WHERE doc_id % 20 <> 7) u),
         |esh AS (SELECT doc_id AS eval_id, UNNEST(${shingleListSql(5)}) AS shingle
         |        FROM documents WHERE doc_id % 20 = 7),
         |own AS (SELECT eval_id, CAST(COUNT(*) AS BIGINT) AS n_grams_own FROM esh GROUP BY 1),
         |hits AS (SELECT eval_id, CAST(COUNT(*) AS BIGINT) AS n_shared
         |         FROM esh JOIN tsh USING (shingle) GROUP BY 1)
         |SELECT o.eval_id, o.n_grams_own,
         |  COALESCE(h.n_shared, 0) AS n_shared,
         |  COALESCE(h.n_shared, 0) * 1000000 // o.n_grams_own AS burn_ppm
         | FROM own o LEFT JOIN hits h ON o.eval_id = h.eval_id
         | ORDER BY o.eval_id""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val docs = Tables.widened(s, d, "documents")
        Decontam.evalBurn(
          docs.filter(col("doc_id") % 20 =!= 7),
          docs.filter(col("doc_id") % 20 === 7), k = 5)
          .orderBy("eval_id")
      }
    },

    sql("dd15_lsh_tuning_curve",
      "Dedup: LSH PARAMETER TUNING CURVE — for each 64-hash (bands x rows) split, the expected candidate recall 1-(1-s^r)^b evaluated on THIS corpus's own exact near-dup pairs (the S-curve answer to 'is 16x4 right for tau=0.8 here, or does 8x8 drop real pairs'); per config: pair count, mean and worst per-pair capture probability in integer ppm. Bit-portable by construction: every power is a squaring chain of correctly-rounded multiplies (no POWER() last-ulp divergence), per-pair probabilities floor to ppm BEFORE summing so no engine-ordered double sum exists; the math runs on the ~25-row pair sliver",
      s"""WITH $jaccardCtes,
         |curve AS (
         | SELECT 32 AS bands, 2 AS rows_per_band,
         |   CAST(FLOOR((1 - q16*q16) * 1000000) AS BIGINT) AS p_ppm
         | FROM (SELECT q8*q8 AS q16 FROM (SELECT q4*q4 AS q8 FROM (SELECT q2*q2 AS q4
         |   FROM (SELECT q*q AS q2 FROM (SELECT 1 - s*s AS q FROM (SELECT jaccard AS s FROM pairs))))))
         | UNION ALL
         | SELECT 16, 4, CAST(FLOOR((1 - q8*q8) * 1000000) AS BIGINT)
         | FROM (SELECT q4*q4 AS q8 FROM (SELECT q2*q2 AS q4 FROM (SELECT q*q AS q2
         |   FROM (SELECT 1 - s2*s2 AS q FROM (SELECT s*s AS s2 FROM (SELECT jaccard AS s FROM pairs))))))
         | UNION ALL
         | SELECT 8, 8, CAST(FLOOR((1 - q4*q4) * 1000000) AS BIGINT)
         | FROM (SELECT q2*q2 AS q4 FROM (SELECT q*q AS q2 FROM (SELECT 1 - s4*s4 AS q
         |   FROM (SELECT s2*s2 AS s4 FROM (SELECT s*s AS s2 FROM (SELECT jaccard AS s FROM pairs))))))
         | UNION ALL
         | SELECT 4, 16, CAST(FLOOR((1 - q2*q2) * 1000000) AS BIGINT)
         | FROM (SELECT q*q AS q2 FROM (SELECT 1 - s8*s8 AS q FROM (SELECT s4*s4 AS s8
         |   FROM (SELECT s2*s2 AS s4 FROM (SELECT s*s AS s2 FROM (SELECT jaccard AS s FROM pairs)))))))
         |SELECT bands, rows_per_band, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(p_ppm) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS expected_recall_ppm,
         |  CAST(MIN(p_ppm) AS BIGINT) AS min_p_ppm
         | FROM curve GROUP BY bands, rows_per_band
         | ORDER BY bands DESC""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // exponents are powers of two, so x^e is a left-squaring chain of
        // correctly-rounded multiplies — the SQL mirrors the exact same
        // association, making each per-pair double bit-identical
        def ipow(c: org.apache.spark.sql.Column, e: Int): org.apache.spark.sql.Column =
          if (e == 1) c else { val h = ipow(c, e / 2); h * h }
        // the pair sliver feeds FOUR per-config selects (the unionByName
        // below) — materialized once so the shared-shingle join pipeline
        // runs once, not per config (r18)
        val pairs = graft.ops.Dedup.exactJaccardPairs(
          graft.ops.Dedup.shingleDF(Tables.widened(s, d, "documents")), minJaccard = 0.8)
          .localCheckpoint()
        val configs = Seq((32, 2), (16, 4), (8, 8), (4, 16))
        configs.map { case (b, r) =>
          val p = lit(1.0) - ipow(lit(1.0) - ipow(col("jaccard"), r), b)
          pairs.select(lit(b).as("bands"), lit(r).as("rows_per_band"),
            floor(p * 1000000).cast("long").as("p_ppm"))
        }.reduce(_.unionByName(_))
          .groupBy("bands", "rows_per_band")
          .agg(count(lit(1)).as("n_pairs"), sum("p_ppm").as("sum_ppm"),
            min("p_ppm").as("min_p_ppm"))
          .select(col("bands"), col("rows_per_band"), col("n_pairs"),
            expr("sum_ppm div n_pairs").as("expected_recall_ppm"), col("min_p_ppm"))
          .orderBy(col("bands").desc)
      }
    },

    sql("dd13_containment",
      "Dedup: ASYMMETRIC containment pairs — C(id→in_id) = |S(id)∩S(in_id)|/|S(id)| ≥ 0.9, the share of a doc's OWN 3-gram shingles found in the other doc; catches short-doc-embedded-in-long-doc reprints whose symmetric Jaccard is arbitrarily low. Directional: both orientations emitted when both clear the bar; production caps shingle document frequency (under-scores only)",
      """WITH sh AS (
        | SELECT doc_id, UNNEST(CASE WHEN len(string_split(text,' ')) >= 3
        |   THEN list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
        |        i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
        |   ELSE [text] END) AS shingle FROM documents),
        |cnt AS (SELECT doc_id, COUNT(*) AS n_own FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id, b.doc_id AS in_id, COUNT(*) AS i
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        |          GROUP BY 1, 2)
        |SELECT id, in_id, ROUND(i * 1.0 / c.n_own, 4) AS containment
        | FROM inter JOIN cnt c ON id = c.doc_id
        | WHERE i * 1.0 / c.n_own >= 0.9
        | ORDER BY id, in_id""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Dedup.containmentPairs(
          Dedup.shingleDF(Tables.widened(s, d, "documents")), minContainment = 0.9)
          .orderBy("id", "in_id")
    }.withBench(Parity.Exact) { (s, d) =>
      // production: hashed shingles + df-cap — 8-byte join keys, hot
      // buckets bounded; containment only ever under-scores vs exact
      Dedup.containmentPairs(
        Dedup.hashedShingleDF(Tables.widened(s, d, "documents")),
        minContainment = 0.9, maxDf = Some(Dedup.DefaultMaxDf))
    },

    sql("dd5_dedup_clusters",
      "Dedup: near-dup pairs resolved to clusters (connected components, min-id representative)",
      clusterOracle) {
      // the transitive closure a real dedup keeps ONE survivor per
      // cluster with — greedy per-pair dropping over-keeps whenever two
      // docs are linked only through a common neighbor
      (s, d) =>
        Dedup.connectedComponents(Dedup.minhashNearDup(Tables.widened(s, d, "documents")))
          .orderBy("doc_id")
    }.withBench(Parity.Exact) { (s, d) =>
      Dedup.connectedComponents(
        Dedup.minhashNearDup(Tables.widened(s, d, "documents"), maxDf = Some(Dedup.DefaultMaxDf)))
    },

    sql("dd5b_dedup_clusters_served",
      "Dedup: dd5's FULL cluster table at deployable cost — every persisted artifact of the production layout (band index, label table, corpus shingle substrate) read back from parquet (built untimed via QuerySpec.prepare), so the timed work is ONLY the steady-state increment a deployment pays per batch: batch shingle+sign, index-bucket probe, candidate verify against the SHINGLE ARTIFACT (archive text never re-read — the step dd8b still recomputes), one updateClusters fold. Same recursive-CTE oracle as dd5; output == full-recompute clusters bit-for-bit",
      clusterOracle) {
      (s, d) => {
        val docs = Tables.widened(s, d, "documents")
        val split = batchSplit(docs)
        val batch = docs.filter(col("doc_id") >= split)
        val root = PersistedState.ensure(s, d)
        val index = s.read.parquet(s"$root/index")
        val labels = s.read.parquet(s"$root/labels")
        val corpusSh = s.read.parquet(s"$root/shingles")
        val newPairs = Dedup.incrementalNearDupServed(batch, corpusSh, index)
          .select("id1", "id2")
        Dedup.updateClusters(labels, newPairs).orderBy("doc_id")
      }
    }.withPrepare((s, d) => { PersistedState.ensure(s, d); () }),

    sql("o13_cluster_holdout",
      "O13: LEAKAGE-FREE train/test split — the split key is the near-dup CLUSTER (singleton docs are their own group), so every near-duplicate family lands wholly in one split and test can never contain a near-copy of a train doc (the contamination o11's per-doc hash split cannot rule out). Hash-prefix cut 'cc' ≈ 79.7% train; group assignment is a pure function of the cluster id, so corpus growth never migrates a family. Oracle: recursive-CTE cluster closure + identical md5-prefix rule",
      s"""WITH RECURSIVE $jaccardCtes,
         |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
         |          UNION ALL SELECT id2, id1 FROM pairs),
         |cc AS (SELECT DISTINCT a AS doc_id, a AS label FROM edges
         |       UNION
         |       SELECT e.b AS doc_id, cc.label FROM cc JOIN edges e ON cc.doc_id = e.a),
         |labels AS (SELECT doc_id, MIN(label) AS cluster FROM cc GROUP BY doc_id),
         |g AS (SELECT d.doc_id AS doc_id, COALESCE(l.cluster, d.doc_id) AS grp
         |      FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id)
         |SELECT CASE WHEN substr(md5(CAST(grp AS VARCHAR)), 1, 2) < 'cc'
         |         THEN 'train' ELSE 'test' END AS split,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups
         | FROM g GROUP BY 1 ORDER BY split""".stripMargin.replace("\n", "")) {
      (s, d) => clusterHoldout(s, d, served = false)
    }.oracleOrder("split").withBench(Parity.Structural("split")) { (s, d) =>
      // production: labels served from the PERSISTED artifact (built
      // untimed via prepare) — the split then costs one left join
      // against the label sliver + a hash per doc, which is what a
      // deployment pays; xxhash64 split buckets instead of md5 hex
      clusterHoldout(s, d, served = true)
    }.withPrepare { (s, d) =>
      PersistedState.ensureFullLabels(s, d); ()
    },

    sql("dd6_incremental_neardup",
      "Dedup: INCREMENTAL near-dup — new batch (top 20% of doc_ids) vs corpus via persisted LSH band index; archive re-read only for candidate docs",
      incrementalPairOracle) {
      (s, d) => {
        val docs = Tables.widened(s, d, "documents")
        val split = batchSplit(docs)
        val corpus = docs.filter(col("doc_id") < split)
        val batch = docs.filter(col("doc_id") >= split)
        Dedup.incrementalNearDup(batch, corpus, Dedup.lshBandIndex(corpus))
          .orderBy("id1", "id2")
      }
    },

    sql("dd6b_incremental_neardup_served",
      "Dedup: dd6's increment SERVED from persisted state — the band index read back from parquet (built untimed via QuerySpec.prepare in the bench), so the timed work is the amortized per-batch cost a deployment pays: batch shingle+sign, index-bucket probe, candidate-sliver verify. Same oracle as dd6",
      incrementalPairOracle) {
      (s, d) => {
        val docs = Tables.widened(s, d, "documents")
        val split = batchSplit(docs)
        val corpus = docs.filter(col("doc_id") < split)
        val batch = docs.filter(col("doc_id") >= split)
        val index = s.read.parquet(s"${PersistedState.ensure(s, d)}/index")
        Dedup.incrementalNearDup(batch, corpus, index).orderBy("id1", "id2")
      }
    }.withPrepare((s, d) => { PersistedState.ensure(s, d); () }),

    sql("dd8_incremental_clusters",
      "Dedup: INCREMENTAL cluster maintenance — corpus labels updated with the new batch's pairs via representative contraction (updateClusters), never re-running CC over the historical pair graph; output == full-recompute clusters (dd5's oracle). Bench-honesty note (dd6's class): the in-query cost is dominated by building yesterday's persisted state (band index + label table) from scratch — exactly the work the operator amortizes in production, where both serve from parquet and the increment costs batch + one label-table pass",
      clusterOracle) {
      (s, d) => {
        val docs = Tables.widened(s, d, "documents")
        val split = batchSplit(docs)
        val corpus = docs.filter(col("doc_id") < split)
        val batch = docs.filter(col("doc_id") >= split)
        // yesterday's state: corpus-internal pairs resolved to labels;
        // today's work: batch pairs from the persisted index, folded in.
        // The band index is built ONCE (localCheckpoint — it is the
        // ~16-rows/doc artifact a real deployment reads from parquet) and
        // feeds BOTH yesterday's pair set and today's batch probe, so the
        // corpus-wide 64-hash signature agg runs once, not twice.
        val index = Dedup.lshBandIndex(corpus).localCheckpoint()
        val labels = Dedup.connectedComponents(
          Dedup.minhashNearDupFromBands(Dedup.shingleDF(corpus), index))
        val newPairs = Dedup.incrementalNearDup(batch, corpus, index)
          .select("id1", "id2")
        Dedup.updateClusters(labels, newPairs).orderBy("doc_id")
      }
    },

    sql("dd8b_incremental_clusters_served",
      "Dedup: dd8's cluster maintenance SERVED from persisted state — label table AND band index read back from parquet (built untimed via QuerySpec.prepare), so the timed work is the amortized increment: batch probe + updateClusters (pair-sliver joins, batch-sized contracted CC, one label-table pass). Same oracle as dd8",
      clusterOracle) {
      (s, d) => {
        val docs = Tables.widened(s, d, "documents")
        val split = batchSplit(docs)
        val corpus = docs.filter(col("doc_id") < split)
        val batch = docs.filter(col("doc_id") >= split)
        val root = PersistedState.ensure(s, d)
        val index = s.read.parquet(s"$root/index")
        val labels = s.read.parquet(s"$root/labels")
        val newPairs = Dedup.incrementalNearDup(batch, corpus, index)
          .select("id1", "id2")
        Dedup.updateClusters(labels, newPairs).orderBy("doc_id")
      }
    }.withPrepare((s, d) => { PersistedState.ensure(s, d); () }),

    sql("dd7_decontaminate",
      "Dedup+: eval-set decontamination — train docs sharing >= 1 distinct 5-gram with the held-out eval slice (doc_id % 20 == 7), broadcast eval shingles, zero train shuffle until the hit sliver",
      s"""WITH tsh AS (SELECT doc_id, UNNEST(${shingleListSql(5)}) AS shingle
         |            FROM documents WHERE doc_id % 20 <> 7),
         |esh AS (SELECT doc_id AS eval_id, UNNEST(${shingleListSql(5)}) AS shingle
         |        FROM documents WHERE doc_id % 20 = 7)
         |SELECT t.doc_id,
         |       COUNT(DISTINCT e.eval_id) AS n_eval_docs,
         |       COUNT(DISTINCT t.shingle) AS n_shared_shingles
         | FROM tsh t JOIN esh e ON t.shingle = e.shingle
         | GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val docs = Tables.widened(s, d, "documents")
        Decontam.contamination(
          docs.filter(col("doc_id") % 20 =!= 7),
          docs.filter(col("doc_id") % 20 === 7), k = 5)
          .orderBy("doc_id")
      }
    }.withBench(Parity.Exact) { (s, d) =>
      // production: 8-byte hashed shingles in the broadcast hash table
      // (recall-biased: a collision can only add a flagged doc) — parity
      // vs the string form pinned in DecontamSpec
      val docs = Tables.widened(s, d, "documents")
      Decontam.contaminationHashed(
        docs.filter(col("doc_id") % 20 =!= 7),
        docs.filter(col("doc_id") % 20 === 7), k = 5)
    },

    sql("g1_pagerank",
      "Graph: PageRank over the near-dup pair graph — a cluster's top-ranked member is its most-copied version, the canonical-survivor choice beyond min-id. Oracle form is BIGINT fixed-point (rank_fp = rank × 1e12, truncating division) so every iteration is exact integer arithmetic in both engines; the DuckDB mirror unrolls the 10 damped-inflow iterations as a fixed CTE chain",
      pageRankOracle) {
      (s, d) =>
        graft.ops.Graph.pageRankFixedPoint(
          Dedup.minhashNearDup(Tables.widened(s, d, "documents")), iters = 10)
          .select(col("id"), col("rank").as("rank_fp"))
          .orderBy(col("rank_fp").desc, col("id"))
          .limit(20)
    }.withBench(Parity.Structural()) { (s, d) =>
      // production: plain double arithmetic (no fixed-point bound on node
      // count) over the df-capped pair graph — the 100 TB plan
      graft.ops.Graph.pageRank(
        Dedup.minhashNearDup(Tables.widened(s, d, "documents"), maxDf = Some(Dedup.DefaultMaxDf)),
        iters = 10)
        .orderBy(col("rank").desc, col("id"))
        .limit(20)
    },

    sql("g6_reachability",
      "Graph: RECURSIVE-CTE reachability — how many versions derive (transitively, ≤3 copy-steps) from each document along the DIRECTED lo→hi near-dup pair DAG, via Spark's own WITH RECURSIVE (UnionLoop execution — the one iteration primitive g1–g5 hand-unroll in Scala, here expressed declaratively and planned by the engine). The DAG orientation (id1 < id2 everywhere) makes UNION ALL recursion terminate without cycle detection; COUNT(DISTINCT) collapses path multiplicity. Scale: the pair substrate is MATERIALIZED once (localCheckpoint) before the recursion — an inlined view would re-derive the full minhash pair join EVERY iteration, the disaster class; PlanSpec pins the recursion scanning the checkpoint, never the parquet. Oracle = the same recursion over DuckDB's exact-Jaccard pair CTE",
      s"""WITH RECURSIVE $jaccardCtes,
         |reach(src, dst, depth) AS (
         |  SELECT id1, id2, 1 FROM pairs
         |  UNION ALL
         |  SELECT r.src, p.id2, r.depth + 1
         |  FROM reach r JOIN pairs p ON r.dst = p.id1
         |  WHERE r.depth < 3)
         |SELECT src, COUNT(DISTINCT dst) AS n_reachable,
         |  CAST(MAX(depth) AS INT) AS max_depth
         | FROM reach GROUP BY src
         | ORDER BY n_reachable DESC, src LIMIT 20""".stripMargin.replace("\n", "")) {
      (s, d) => {
        Dedup.minhashNearDup(Tables.widened(s, d, "documents"))
          .select("id1", "id2").localCheckpoint()
          .createOrReplaceTempView("g6_pairs")
        s.sql(
          """WITH RECURSIVE reach(src, dst, depth) AS (
            |  SELECT id1, id2, 1 FROM g6_pairs
            |  UNION ALL
            |  SELECT r.src, p.id2, r.depth + 1
            |  FROM reach r JOIN g6_pairs p ON r.dst = p.id1
            |  WHERE r.depth < 3)
            |SELECT src, COUNT(DISTINCT dst) AS n_reachable,
            |  CAST(MAX(depth) AS INT) AS max_depth
            | FROM reach GROUP BY src
            | ORDER BY n_reachable DESC, src LIMIT 20""".stripMargin)
      }
    },

    sql("dd10_cluster_sizes",
      "Dedup: cluster-size histogram over the near-dup CC clusters — the duplication dashboard (n clusters per size + member mass); two tiny hash aggs over the label sliver",
      clusterSizeOracle) {
      (s, d) => clusterSizes(s, d, maxDf = None)
    }.oracleOrder("cluster_size").withBench(Parity.Exact) { (s, d) =>
      // production: dd5's discipline — hot-shingle df-cap in the pair
      // stage (no-op on this corpus, the 100 TB bucket guard; parity
      // pinned in DedupSpec)
      clusterSizes(s, d, maxDf = Some(Dedup.DefaultMaxDf))
    },

    sql("dd11_wasted_tokens",
      "Dedup: per-source duplication cost — tokens locked up in non-survivor near-dups (docs whose CC cluster min-id is not them) vs the source's total; the 'what does dedup buy us' budget line that justifies the pipeline. Non-survivor sliver joined back to documents once; totals are one scan",
      s"""WITH RECURSIVE $jaccardCtes,
         |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
         |          UNION ALL SELECT id2, id1 FROM pairs),
         |cc AS (SELECT DISTINCT a AS doc_id, a AS label FROM edges
         |       UNION
         |       SELECT e.b AS doc_id, cc.label FROM cc JOIN edges e ON cc.doc_id = e.a),
         |labels AS (SELECT doc_id, MIN(label) AS cluster FROM cc GROUP BY doc_id),
         |waste AS (SELECT d.source, COUNT(*) AS n_dup_docs,
         |          SUM(len(string_split(d.text,' '))) AS wasted_tokens
         |   FROM labels l JOIN documents d ON l.doc_id = d.doc_id
         |   WHERE l.doc_id <> l.cluster GROUP BY d.source),
         |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |        CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS total_tokens
         |        FROM documents GROUP BY source)
         |SELECT t.source, t.n_docs, t.total_tokens,
         | CAST(COALESCE(w.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
         | CAST(COALESCE(w.wasted_tokens, 0) AS BIGINT) AS wasted_tokens
         | FROM tot t LEFT JOIN waste w ON t.source = w.source
         | ORDER BY t.source""".stripMargin.replace("\n", "")) {
      (s, d) => wastedTokens(s, d, maxDf = None)
    }.oracleOrder("source").withBench(Parity.Exact) { (s, d) =>
      // production: df-capped pair stage (dd5/dd10's discipline); the
      // waste/total joins are unchanged
      wastedTokens(s, d, maxDf = Some(Dedup.DefaultMaxDf))
    },

    sql("dd4_simhash_neardup",
      "Dedup: SimHash signatures (md5-portable 60-bit word hash), 4×16-bit band join, hamming ≤ 3. The banding is pure candidate pruning — pigeonhole guarantees every hamming≤3 pair shares a chunk — so the oracle checks the SEMANTICS with a direct all-pairs hamming filter over identically-computed signatures; production keeps the xxhash64 word hash (same plan, cheaper hash)",
      """WITH words AS (
        | SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS h
        | FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents)),
        |bits AS (
        | SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        | FROM words CROSS JOIN (SELECT UNNEST(range(64)) AS b) bs
        | GROUP BY doc_id, b),
        |sig AS (
        | SELECT doc_id, SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS simhash
        | FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        | FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        | WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        | ORDER BY id1, id2""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Dedup.simhashNearDup(
            Dedup.simhash(Tables.documents(s, d), wordHash = Dedup.portableWordHash))
          .withColumn("hamming", col("hamming").cast("long"))
          .orderBy("id1", "id2")
    }.withBench(Parity.SameColumns) { (s, d) =>
      // production: same banded plan, xxhash64 word hash (codegen'd, no
      // hex-string decode per token)
      Dedup.simhashNearDup(Dedup.simhash(Tables.documents(s, d)))
    },

    sql("dd9_source_overlap",
      "Dedup: cross-source overlap matrix — for every source pair, how many doc pairs share a 16-token prefix (the dataset-contamination audit: which feeds are re-crawling each other; prefix-key dedup is the RefinedWeb-style cheap first pass)",
      // the self-join is keyed on the shared prefix, so only docs whose
      // prefix occurs ≥2× ever pair — the same sliver shape as dd1's
      // duplicate groups
      """WITH p AS (SELECT doc_id, source,
        |  array_to_string((string_split(text,' '))[1:16], ' ') AS pre FROM documents),
        |j AS (SELECT LEAST(a.source, b.source) AS source_a,
        |             GREATEST(a.source, b.source) AS source_b, a.pre AS pre
        |      FROM p a JOIN p b ON a.pre = b.pre AND a.doc_id < b.doc_id)
        |SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(COUNT(DISTINCT pre) AS BIGINT) AS n_prefixes
        | FROM j GROUP BY source_a, source_b
        | ORDER BY source_a, source_b""".stripMargin.replace("\n", "")) {
      (s, d) => sourceOverlap(s, d, hashed = false)
    }.oracleOrder("source_a", "source_b").withBench(Parity.Exact) { (s, d) =>
      // production: the shuffle key is xxhash64(prefix) — 8 bytes instead
      // of the 16-token string (dd1's width discipline; a 2⁻⁶⁴ collision
      // could only merge two prefix groups)
      sourceOverlap(s, d, hashed = true)
    },

    sql("dd14_dup_downweight_sample",
      "Dedup: duplicate-DOWNWEIGHT sampling — instead of hard dedup, each member of an exact-dup cluster survives with probability 1/cluster_size via a deterministic hash draw (md5 28-bit int mod size == 0), so every cluster contributes ~1 expected copy and the corpus distribution keeps its natural shape without the 40x-repeated boilerplate dominating; the soft-dedup alternative when repetition carries signal. One text-keyed window for sizes + a map-side filter — pure function of the ids, rerun/oracle-stable; production keys the window on xxhash64(text) so the shuffle moves 8 bytes, not documents",
      """WITH c AS (SELECT doc_id, lang, COUNT(*) OVER (PARTITION BY text) AS sz
        |  FROM documents)
        |SELECT doc_id, lang, CAST(sz AS BIGINT) AS cluster_size FROM c
        | WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % sz = 0
        | ORDER BY doc_id""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window.partitionBy("text")
        Tables.documents(s, d)
          .withColumn("sz", count(lit(1)).over(W))
          .filter(conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
            .cast("long") % col("sz") === 0)
          .select(col("doc_id"), col("lang"), col("sz").as("cluster_size"))
          .orderBy("doc_id")
      }
    }.withBench(Parity.Exact) { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window.partitionBy("th")
      Tables.documents(s, d)
        .withColumn("th", xxhash64(col("text")))
        .withColumn("sz", count(lit(1)).over(W))
        .filter(pmod(xxhash64(col("doc_id")), col("sz")) === 0)
        .select(col("doc_id"), col("lang"), col("sz").as("cluster_size"))
    }
  )
}
