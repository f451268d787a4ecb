package graft.queries

import graft.QuerySpec
import graft.QuerySpec.sql
import graft.model.Tables
import graft.pipeline.DocPipeline

/** The composed LLM training-data cleaning pipeline, oracle-checked
  * END-TO-END: quality filter → exact dedup (min-id survivor) → MinHash
  * near-dup clustering (connected components, keep the min-id
  * representative per cluster). One query proving the north-star
  * operators compose into the corpus build they exist for.
  */
object LlmPipelineQueries {

  /** DuckDB mirror of [[graft.ops.TextOps.qualityScore]] with the corpus
    * stopword set — ONE definition for every llm-family oracle (llm1,
    * llm2, llm4, llm5 all score documents identically). */
  private[queries] val qualitySql: String =
    """ROUND(100.0 * (1.0 - len(list_filter(string_split(text,' '), w -> w IN ('a','the','row','data','value','table'))) * 1.0 / len(string_split(text,' ')))
      |    * LEAST(1.0, len(string_split(text,' ')) / 50.0), 2)""".stripMargin.replace("\n", "")

  /** llm4's engine pipeline, shared by the oracle and production variants
    * so they cannot drift (they differ only in the contamination probe
    * and the oracle-only sort). `train` is consumed twice (shingling and
    * the survivor anti-join), so it is localCheckpoint-materialized once —
    * the multi-consumer discipline from the dedup substrates. */
  private def shardBuild(s: org.apache.spark.sql.SparkSession, d: String,
                         hashedProbe: Boolean): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    // (r19: a documents widen was A/B-measured flat (1.19× vs a 1.17×
    // control) — the exact-dedup window's full-text shuffle dominates —
    // and reverted)
    val docs = Tables.documents(s, d)
    // Composite (xxhash64(text), text) window key: identical groups — the
    // hash is a pure function of the text — but the shuffle-sort resolves
    // almost every comparison on the 8-byte prefix, not the document body.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(xxhash64(col("text")), col("text")).orderBy("doc_id")
    val train = docs
      .withColumn("quality", graft.ops.TextOps.qualityScore(col("text"),
        graft.ops.TextOps.corpusStopwords))
      .filter(col("quality") >= 60.0)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .filter(col("doc_id") % 20 =!= 7)
      .localCheckpoint()
    val evalSet = docs.filter(col("doc_id") % 20 === 7)
    val contaminated =
      if (hashedProbe) graft.ops.Decontam.contaminationHashed(train, evalSet, k = 5)
      else graft.ops.Decontam.contamination(train, evalSet, k = 5)
    val clean = train.join(broadcast(contaminated.select("doc_id")),
      Seq("doc_id"), "left_anti")
    val toks = clean.select(col("doc_id"), col("quality"),
      graft.ops.TextOps.tokenCount(col("text")).as("toks"))
    graft.ops.Packing.packByBudget(toks, "doc_id", "toks", budget = 2000L)
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("toks").as("total_tokens"),
        round(avg("quality"), 4).as("avg_quality"))
  }

  val all: Seq[QuerySpec] = Seq(

    sql("llm1_clean_corpus",
      "LLM pipeline capstone: quality-filter → exact-dedup → near-dup clustering, end-to-end",
      s"""WITH RECURSIVE scored AS (SELECT doc_id, text, lang, source,
        |  $qualitySql AS quality FROM documents),
        |qualified AS (SELECT * FROM scored WHERE quality >= 60.0),
        |deduped AS (SELECT * FROM qualified q
        |            WHERE doc_id = (SELECT MIN(doc_id) FROM qualified q2 WHERE q2.text = q.text)),
        |sh AS (SELECT doc_id, UNNEST(CASE WHEN len(string_split(text,' ')) >= 3
        |   THEN list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
        |        i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
        |   ELSE [text] END) AS shingle FROM deduped),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (SELECT id1, id2 FROM inter
        |          JOIN cnt c1 ON id1 = c1.doc_id JOIN cnt c2 ON id2 = c2.doc_id
        |          WHERE i * 1.0 / (c1.n + c2.n - i) >= 0.8),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
        |          UNION ALL SELECT id2, id1 FROM pairs),
        |cc AS (SELECT DISTINCT a AS doc_id, a AS label FROM edges
        |       UNION
        |       SELECT e.b AS doc_id, cc.label FROM cc JOIN edges e ON cc.doc_id = e.a),
        |drops AS (SELECT doc_id FROM cc GROUP BY doc_id
        |          HAVING MIN(label) <> doc_id)
        |SELECT d.doc_id, d.lang, d.source,
        |       CAST(len(string_split(d.text,' ')) AS BIGINT) AS n_tokens, d.quality
        | FROM deduped d
        | WHERE NOT EXISTS (SELECT 1 FROM drops p WHERE p.doc_id = d.doc_id)
        | ORDER BY doc_id""".stripMargin.replace("\n", "")) {
      (s, d) =>
        DocPipeline.cleanCorpus(Tables.documents(s, d))
          .orderBy("doc_id")
    }.withBench { (s, d) =>
      // production: the same composition with the hot-shingle df-cap in
      // the near-dup stage (no-op on this corpus; the scale guard at
      // 100 TB) and no oracle-only total sort
      DocPipeline.cleanCorpus(Tables.widened(s, d, "documents"),
        maxDf = Some(graft.ops.Dedup.DefaultMaxDf))
    },

    sql("llm2_shard_stats",
      "LLM pipeline: training-shard packaging — key-modulus shard assignment + per-shard quality/token stats",
      // Sharding by key modulus (not NTILE) is the deliberate scale
      // choice: shard assignment is a map-side expression — no global
      // sort, no single-partition window — and with a dense key it gives
      // the same near-equal shard sizes. The whole query is one
      // partial+final hash agg.
      s"""WITH scored AS (SELECT doc_id, doc_id % 16 AS shard,
        |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        |  $qualitySql AS quality FROM documents)
        |SELECT shard, COUNT(*) AS n_docs,
        | ROUND(AVG(quality), 4) AS avg_quality,
        | ROUND(MIN(quality), 2) AS min_quality,
        | CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        | FROM scored GROUP BY shard ORDER BY shard""".stripMargin.replace("\n", "")) {
      (s, d) => {
        import org.apache.spark.sql.functions._
        Tables.documents(s, d)
          .select(
            (col("doc_id") % 16).as("shard"),
            graft.ops.TextOps.tokenCount(col("text")).as("n_tokens"),
            graft.ops.TextOps.qualityScore(col("text"),
              graft.ops.TextOps.corpusStopwords).as("quality"))
          .groupBy("shard")
          .agg(
            count(lit(1)).as("n_docs"),
            round(avg("quality"), 4).as("avg_quality"),
            round(min("quality"), 2).as("min_quality"),
            sum("n_tokens").as("total_tokens"))
          .orderBy("shard")
      }
    },

    sql("llm4_shard_build",
      "LLM pipeline capstone #2: quality filter -> exact dedup -> eval-set DECONTAMINATION -> token-budget PACKING, end-to-end to per-shard stats — the round-6 ops composed into the corpus build they exist for",
      s"""WITH scored AS (SELECT doc_id, text,
         |  $qualitySql AS quality FROM documents),
         |qualified AS (SELECT * FROM scored WHERE quality >= 60.0),
         |deduped AS (SELECT * FROM qualified q
         |            WHERE doc_id = (SELECT MIN(doc_id) FROM qualified q2 WHERE q2.text = q.text)),
         |train AS (SELECT * FROM deduped WHERE doc_id % 20 <> 7),
         |esh AS (SELECT UNNEST(${DedupQueries.shingleListSql(5)}) AS shingle
         |        FROM documents WHERE doc_id % 20 = 7),
         |tsh AS (SELECT doc_id, UNNEST(${DedupQueries.shingleListSql(5)}) AS shingle FROM train),
         |clean AS (SELECT * FROM train WHERE doc_id NOT IN (
         |  SELECT DISTINCT t.doc_id FROM tsh t WHERE t.shingle IN (SELECT shingle FROM esh))),
         |t AS (SELECT doc_id, quality, CAST(len(string_split(text,' ')) AS BIGINT) AS toks FROM clean),
         |c AS (SELECT doc_id, quality, toks,
         |  COALESCE(SUM(toks) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior FROM t)
         |SELECT CAST(prior // 2000 AS BIGINT) AS shard_id, COUNT(*) AS n_docs,
         |       CAST(SUM(toks) AS BIGINT) AS total_tokens,
         |       ROUND(AVG(quality), 4) AS avg_quality
         | FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin.replace("\n", "")) {
      (s, d) => shardBuild(s, d, hashedProbe = false).orderBy("shard_id")
    }.withBench {
      // production: hashed decontamination probe (8-byte broadcast keys)
      // and no oracle-only sort; stages otherwise identical
      (s, d) => shardBuild(s, d, hashedProbe = true)
    },

    sql("llm5_curriculum_pack",
      "LLM pipeline: CURRICULUM-ordered token-budget packing — shards follow descending quality (cleanest data first), via the distributed prefix sum over a computed composite order (score DESC, id); no global sort ever materializes",
      s"""WITH t AS (SELECT doc_id, $qualitySql AS quality,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS toks FROM documents),
         |c AS (SELECT doc_id, quality, toks,
         |  COALESCE(SUM(toks) OVER (ORDER BY quality DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior FROM t)
         |SELECT CAST(prior // 2000 AS BIGINT) AS shard_id, COUNT(*) AS n_docs,
         |       CAST(SUM(toks) AS BIGINT) AS total_tokens,
         |       ROUND(AVG(quality), 4) AS avg_quality,
         |       ROUND(MIN(quality), 2) AS min_quality, ROUND(MAX(quality), 2) AS max_quality
         | FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin.replace("\n", "")) {
      (s, d) => {
        import org.apache.spark.sql.functions._
        // quality DESC expressed as an ascending composite (-quality,
        // doc_id) — the range partitioner and the within-partition window
        // share the same ascending order
        val t = Tables.documents(s, d)
          .select(col("doc_id"),
            graft.ops.TextOps.qualityScore(col("text"),
              graft.ops.TextOps.corpusStopwords).as("quality"),
            graft.ops.TextOps.tokenCount(col("text")).as("toks"))
          .withColumn("negq", -col("quality"))
        graft.ops.Packing.packByBudget(t, Seq("negq", "doc_id"), "toks",
            budget = 2000L, partitions = 0)
          .groupBy("shard_id")
          .agg(count(lit(1)).as("n_docs"),
            sum("toks").as("total_tokens"),
            round(avg("quality"), 4).as("avg_quality"),
            round(min("quality"), 2).as("min_quality"),
            round(max("quality"), 2).as("max_quality"))
          .orderBy("shard_id")
      }
    },

    sql("llm3_pack_shards",
      "LLM pipeline: token-BUDGET shard packing — global prefix sum of token counts in doc_id order cut into 2000-token shards; engine runs the distributed scan (range partitions + broadcast offsets), never a single-partition window",
      // the oracle can afford the naive single-partition window; the
      // engine path must produce the identical global cumsum from the
      // two-phase distributed scan (Packing.prefixSum)
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS toks FROM documents),
        |c AS (SELECT doc_id, toks,
        |  COALESCE(SUM(toks) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM t)
        |SELECT CAST(prior // 2000 AS BIGINT) AS shard_id,
        |       COUNT(*) AS n_docs,
        |       CAST(SUM(toks) AS BIGINT) AS total_tokens,
        |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        | FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin.replace("\n", "")) {
      (s, d) => {
        import org.apache.spark.sql.functions._
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), graft.ops.TextOps.tokenCount(col("text")).as("toks"))
        graft.ops.Packing.packByBudget(toks, "doc_id", "toks", budget = 2000L)
          .groupBy("shard_id")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("toks").as("total_tokens"),
            min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
          .orderBy("shard_id")
      }
    },

    sql("llm6_chunk_windows",
      "LLM pipeline: context-length chunking — each doc split into overlapping 40-token windows starting every 32 tokens (8-token overlap so no span exists only across a boundary); pure map-side sequence+explode+slice, zero shuffles, the step before shard packing",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, toks,
        |  UNNEST(generate_series(0, GREATEST((len(toks) - 40 + 31) // 32, 0) * 32, 32)) AS start
        |  FROM t)
        |SELECT doc_id, CAST(start // 32 AS BIGINT) AS chunk_id,
        |  array_to_string(list_slice(toks, start + 1, start + 40), ' ') AS chunk_text,
        |  CAST(LEAST(40, len(toks) - start) AS BIGINT) AS chunk_tokens
        | FROM s ORDER BY doc_id, chunk_id""".stripMargin.replace("\n", "")) {
      (s, d) =>
        graft.ops.Packing.chunkByTokens(Tables.documents(s, d), size = 40, stride = 32)
    }.oracleOrder("doc_id", "chunk_id"),

    sql("llm7_temperature_mixture",
      "LLM pipeline: temperature-scaled source mixture — sample source s ∝ n_s^0.5 (the standard low-resource upsampling rule), 200-doc budget, ≥1 doc floor per source; per-source weights floor(sqrt(n)·1e6) so quota arithmetic is pure 64-bit integer (engine-reproducible), md5 hash-order draw",
      """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        |w AS (SELECT source, n, CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS w FROM c),
        |q AS (SELECT source, CAST(GREATEST((200 * w) // CAST((SELECT SUM(w) FROM w) AS BIGINT), 1) AS BIGINT) AS quota FROM w),
        |r AS (SELECT doc_id, source,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR))) AS BIGINT) AS rn
        |  FROM documents)
        |SELECT r.doc_id, r.source, r.rn, q.quota FROM r JOIN q USING (source)
        | WHERE rn <= quota ORDER BY source, rn, doc_id""".stripMargin.replace("\n", "")) {
      (s, d) =>
        graft.ops.Mixture.temperatureMixture(Tables.documents(s, d), budget = 200L)
          .orderBy("source", "rn", "doc_id")
    }.withBench { (s, d) =>
      // production: xxhash64 draw (8-byte shuffle keys), no oracle sort
      import org.apache.spark.sql.functions.{col, xxhash64}
      graft.ops.Mixture.temperatureMixture(Tables.documents(s, d), budget = 200L,
        hashOrder = Some(xxhash64(col("doc_id"))))
    },

    sql("llm8_data_card",
      "LLM pipeline: the corpus DATA CARD — one per-source summary frame (doc share in ppm, token mass, quality distribution, language spread, exact-dup exposure) — the release artifact published next to a training corpus",
      // one text-keyed agg (dup exposure) + one source-keyed agg + a
      // whole-frame window on the ≤5-row source sliver for the ppm
      // shares (a22's integer-fixed-point discipline); quality reuses
      // the single llm-family definition
      s"""WITH tc AS (SELECT text, COUNT(*) AS n_copies FROM documents GROUP BY text),
         |base AS (SELECT d.source, d.lang,
         |   CAST(len(string_split(d.text,' ')) AS BIGINT) AS n_tokens,
         |   ${qualitySql.replace("string_split(text", "string_split(d.text")} AS quality,
         |   CASE WHEN tc.n_copies > 1 THEN 1 ELSE 0 END AS is_dup
         | FROM documents d JOIN tc ON d.text = tc.text),
         |agg AS (SELECT source, COUNT(*) AS n_docs, SUM(n_tokens) AS total_tokens,
         |   ROUND(AVG(quality), 4) AS avg_quality,
         |   COUNT(CASE WHEN quality < 60 THEN 1 END) AS low_quality_docs,
         |   COUNT(DISTINCT lang) AS n_langs,
         |   CAST(SUM(is_dup) AS BIGINT) AS dup_text_docs
         | FROM base GROUP BY source)
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST((n_docs * 1000000) // SUM(n_docs) OVER () AS BIGINT) AS docs_ppm,
         |  CAST(total_tokens AS BIGINT) AS total_tokens, avg_quality,
         |  low_quality_docs, CAST(n_langs AS BIGINT) AS n_langs, dup_text_docs
         | FROM agg ORDER BY source""".stripMargin.replace("\n", "")) {
      (s, d) => {
        import org.apache.spark.sql.functions._
        val docs = Tables.documents(s, d)
        // at 100 TB the dup-exposure join keys on xxhash64(text) (dd1's
        // shuffle-width discipline); the oracle keeps the string
        val tc = docs.groupBy("text").agg(count(lit(1)).as("n_copies"))
        val base = docs.join(tc, "text").select(
          col("source"), col("lang"),
          graft.ops.TextOps.tokenCount(col("text")).as("n_tokens"),
          graft.ops.TextOps.qualityScore(col("text"),
            graft.ops.TextOps.corpusStopwords).as("quality"),
          when(col("n_copies") > 1, 1L).otherwise(0L).as("is_dup"))
        val agg = base.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          round(avg("quality"), 4).as("avg_quality"),
          count(when(col("quality") < 60, 1)).as("low_quality_docs"),
          countDistinct("lang").as("n_langs"),
          sum("is_dup").as("dup_text_docs"))
        val W = org.apache.spark.sql.expressions.Window
        val w = W.partitionBy(lit(1))
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        agg
          .withColumn("__tot", sum("n_docs").over(w))
          .select(col("source"), col("n_docs"),
            expr("n_docs * 1000000L div __tot").as("docs_ppm"),
            col("total_tokens"), col("avg_quality"),
            col("low_quality_docs"), col("n_langs"), col("dup_text_docs"))
          .orderBy("source")
      }
    }.withBench { (s, d) =>
      // production: dup exposure joins on xxhash64(text) — 8-byte
      // shuffle keys instead of full document texts (dd1's discipline);
      // the oracle-only sort drops
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
        .withColumn("__th", xxhash64(col("text")))
      val tc = docs.groupBy("__th").agg(count(lit(1)).as("n_copies"))
      val base = docs.join(tc, "__th").select(
        col("source"), col("lang"),
        graft.ops.TextOps.tokenCount(col("text")).as("n_tokens"),
        graft.ops.TextOps.qualityScore(col("text"),
          graft.ops.TextOps.corpusStopwords).as("quality"),
        when(col("n_copies") > 1, 1L).otherwise(0L).as("is_dup"))
      val agg = base.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        round(avg("quality"), 4).as("avg_quality"),
        count(when(col("quality") < 60, 1)).as("low_quality_docs"),
        countDistinct("lang").as("n_langs"),
        sum("is_dup").as("dup_text_docs"))
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(lit(1))
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
      agg
        .withColumn("__tot", sum("n_docs").over(w))
        .select(col("source"), col("n_docs"),
          expr("n_docs * 1000000L div __tot").as("docs_ppm"),
          col("total_tokens"), col("avg_quality"),
          col("low_quality_docs"), col("n_langs"), col("dup_text_docs"))
    },

    sql("llm9_concentration",
      "LLM pipeline: source-concentration audit — token-mass shares in integer ppm, the Herfindahl–Hirschman index (Σ share_ppm², ppm² units) and the top-source share: the one-row 'is this corpus dangerously dominated by one feed' governance number. All integer fixed-point (a22 discipline: shares via truncating DIV, HHI a BIGINT sum of squares ≤ 1e12) — zero float rounding; work is one corpus scan + arithmetic on the source sliver",
      """WITH t AS (SELECT source, CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS toks
        |  FROM documents GROUP BY 1),
        |s AS (SELECT source, toks,
        |  CAST(toks * 1000000 // (SELECT SUM(toks) FROM t) AS BIGINT) AS share_ppm FROM t)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
        |  CAST(MAX(share_ppm) AS BIGINT) AS top_share_ppm,
        |  CAST(SUM(share_ppm * share_ppm) AS BIGINT) AS hhi_ppm2
        | FROM s""".stripMargin.replace("\n", "")) {
      (s, d) => {
        import org.apache.spark.sql.functions._
        val W = org.apache.spark.sql.expressions.Window
        val t = Tables.documents(s, d)
          .select(col("source"), graft.ops.TextOps.tokenCount(col("text")).as("n"))
          .groupBy("source").agg(sum("n").as("toks"))
        val w = W.partitionBy(lit(1))
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        t.withColumn("__tot", sum("toks").over(w))
          .withColumn("share_ppm", expr("toks * 1000000L div __tot"))
          .agg(count(lit(1)).as("n_sources"),
            max("share_ppm").as("top_share_ppm"),
            sum(col("share_ppm") * col("share_ppm")).as("hhi_ppm2"))
      }
    }
  )
}
