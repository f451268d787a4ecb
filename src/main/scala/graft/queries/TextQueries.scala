package graft.queries

import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.QuerySpec.{rowsOnly, sql}
import graft.model.Tables
import graft.ops.TextOps

/** Text analysis over the `documents` table (north-star — SURVEY.md §7.6).
  * All per-doc metrics are map-side Catalyst expressions; aggregations are
  * standard partial+final hash aggs on the `lang`/`source` keys.
  */
object TextQueries {

  /** Stopword set shared with the oracle SQL (corpus vocabulary words). */
  private val stopwords = TextOps.corpusStopwords
  private val stopSql = stopwords.map(w => s"'$w'").mkString(", ")

  /** DuckDB mirror of [[TextOps.uniqueArgmax]]: given per-language hit-count
    * SQL expressions, the language that UNIQUELY holds the nonzero maximum;
    * ties and zero-hit docs → 'und'. Shared by the t5 and t6 oracles so the
    * decision rule lives in exactly one place per engine. */
  private def argmaxSql(hits: Seq[(String, String)]): String = {
    val hitCols = hits.map { case (lang, expr) => s"$expr AS h_$lang" }.mkString(", ")
    val best = hits.map { case (lang, _) => s"h_$lang" }.mkString("GREATEST(", ", ", ")")
    val atBest = hits.map { case (lang, _) =>
      s"CASE WHEN h_$lang = best THEN 1 ELSE 0 END" }.mkString(" + ")
    val pick = hits.map { case (lang, _) =>
      s"WHEN h_$lang = best THEN '$lang'" }.mkString(" ")
    // at_best/arg can't reference `best` in the SELECT that defines it,
    // hence the m CTE; the CASE chain in `arg` only matters when the max
    // is unique, so its order is irrelevant — same argument as the
    // foldRight in TextOps.uniqueArgmax.
    s"""WITH h AS (SELECT lang, $hitCols FROM documents),
       |m AS (SELECT *, $best AS best FROM h),
       |b AS (SELECT lang, best, $atBest AS at_best, CASE $pick END AS arg FROM m),
       |p AS (SELECT lang, CASE WHEN best > 0 AND at_best = 1 THEN arg
       |  ELSE 'und' END AS predicted_lang FROM b)
       |SELECT predicted_lang, lang, COUNT(*) AS n_docs
       | FROM p GROUP BY predicted_lang, lang
       | ORDER BY predicted_lang, lang""".stripMargin.replace("\n", "")
  }

  val all: Seq[QuerySpec] = Seq(

    sql("t1_token_stats",
      "Text: per-doc token count, char length, mean token length, type-token ratio",
      """SELECT doc_id,
        | CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars_actual,
        | ROUND(length(replace(text,' ','')) * 1.0 / len(string_split(text,' ')), 4) AS avg_token_len,
        | ROUND(len(list_distinct(string_split(text,' '))) * 1.0 / len(string_split(text,' ')), 4) AS ttr
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.documents(s, d).select(
          col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_actual"),
          round(TextOps.avgTokenLen(col("text")), 4).as("avg_token_len"),
          round(TextOps.typeTokenRatio(col("text")), 4).as("ttr"))
          .orderBy("doc_id")
    },

    sql("t11_repetition",
      "Text: Gopher-style repetition signals — duplicate-token fraction + most-frequent-bigram mass per doc (boilerplate/spam filter inputs; Rae et al. '21 §A1.2 shape)",
      // dup_frac is map-side per doc; the bigram mass needs the real
      // frequency mode, so bigrams explode once and aggregate twice
      // ((doc,bigram) counts, then per-doc max/total) — two hash aggs on
      // doc-sized groups, no windows, no driver state
      """WITH b AS (SELECT doc_id,
        |  1.0 - len(list_distinct(string_split(text,' '))) * 1.0 / len(string_split(text,' ')) AS dup_frac,
        |  UNNEST(CASE WHEN len(string_split(text,' ')) >= 2
        |    THEN list_transform(range(1, len(string_split(text,' '))),
        |         i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])
        |    ELSE [text] END) AS bg
        |  FROM documents),
        |c AS (SELECT doc_id, bg, COUNT(*) AS n, MAX(dup_frac) AS dup_frac
        |      FROM b GROUP BY doc_id, bg)
        |SELECT doc_id, ROUND(MAX(dup_frac), 4) AS dup_token_frac,
        |       ROUND(MAX(n) * 1.0 / SUM(n), 4) AS top_bigram_frac
        | FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val base = Tables.documents(s, d)
          .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("__ws"))
          .select(col("doc_id"),
            (lit(1.0) - size(array_distinct(col("__ws"))).cast("double") / size(col("__ws")))
              .as("dup_frac"),
            explode(TextOps.positionalShinglesFromTokens(col("text"), col("__ws"), 2)).as("bg"))
        base.groupBy("doc_id", "bg")
          .agg(count(lit(1)).as("n"), max("dup_frac").as("dup_frac"))
          .groupBy("doc_id")
          .agg(
            round(max("dup_frac"), 4).as("dup_token_frac"),
            round(max("n") * lit(1.0) / sum("n"), 4).as("top_bigram_frac"))
          .orderBy("doc_id")
      }
    }.withBench { (s, d) =>
      // production: the (doc_id, bigram) shuffle carries an 8-byte
      // xxhash64 instead of the bigram string (dd1's shuffle-width
      // discipline; a 2⁻⁶⁴ collision could only merge two bigram counts),
      // and the oracle-only sort is dropped
      val base = Tables.widened(s, d, "documents")
        .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("__ws"))
        .select(col("doc_id"),
          (lit(1.0) - size(array_distinct(col("__ws"))).cast("double") / size(col("__ws")))
            .as("dup_frac"),
          explode(TextOps.positionalShinglesFromTokens(col("text"), col("__ws"), 2)).as("__bg"))
        .select(col("doc_id"), col("dup_frac"), xxhash64(col("__bg")).as("bg"))
      base.groupBy("doc_id", "bg")
        .agg(count(lit(1)).as("n"), max("dup_frac").as("dup_frac"))
        .groupBy("doc_id")
        .agg(
          round(max("dup_frac"), 4).as("dup_token_frac"),
          round(max("n") * lit(1.0) / sum("n"), 4).as("top_bigram_frac"))
    },

    sql("t12_unigram_logprob",
      "Text: unigram LM self-scoring — per-doc mean log p(w) under the corpus's own unigram distribution (the KenLM-perplexity quality signal reduced to corpus stats); vocab is dim-scale so the freq table broadcasts",
      // at 100 TB the vocab join stays broadcast-able by keeping only
      // above-threshold tokens + an OOV floor (t8's heavy-hitter/HLL
      // machinery); on this corpus the full vocab is 31 words
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text,' ')) AS w FROM documents),
        |f AS (SELECT w, COUNT(*) AS freq FROM tok GROUP BY w),
        |tot AS (SELECT COUNT(*) AS total FROM tok)
        |SELECT t.doc_id, COUNT(*) AS n_tokens,
        |       ROUND(AVG(LN(f.freq * 1.0 / tot.total)), 4) AS avg_logprob
        | FROM tok t JOIN f ON t.w = f.w CROSS JOIN tot
        | GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        val freqs = tok.groupBy("w").agg(count(lit(1)).as("freq"))
        val total = tok.agg(count(lit(1)).as("total"))
        tok.join(broadcast(freqs), Seq("w"))
          .crossJoin(broadcast(total))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            round(avg(log(col("freq") * lit(1.0) / col("total"))), 4).as("avg_logprob"))
          .orderBy("doc_id")
      }
    },

    sql("t2_lang_stats",
      "Text: per-language corpus stats (A1-shaped agg on a text-derived surface)",
      """SELECT lang, COUNT(*) AS n_docs,
        | ROUND(AVG(n_chars), 4) AS avg_chars,
        | ROUND(AVG(len(string_split(text,' '))), 4) AS avg_tokens,
        | CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS total_tokens
        | FROM documents GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.documents(s, d)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            round(avg("n_chars"), 4).as("avg_chars"),
            round(avg(size(split(col("text"), " "))), 4).as("avg_tokens"),
            sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"))
          .orderBy("lang")
    },

    sql("t3_quality_score",
      "Text: heuristic quality score (stopword + length factors), low-quality doc count per source",
      s"""WITH scored AS (SELECT source,
         | ROUND(100.0 * (1.0 - len(list_filter(string_split(text,' '), w -> w IN ($stopSql))) * 1.0 / len(string_split(text,' ')))
         |   * LEAST(1.0, len(string_split(text,' ')) / 50.0), 2) AS q FROM documents)
         |SELECT source, COUNT(*) AS n_docs, ROUND(AVG(q), 4) AS avg_quality,
         | CAST(SUM(CASE WHEN q < 60 THEN 1 ELSE 0 END) AS BIGINT) AS low_quality_docs
         | FROM scored GROUP BY source ORDER BY source""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.documents(s, d)
          .select(col("source"),
            TextOps.qualityScore(col("text"), stopwords).as("q"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            round(avg("q"), 4).as("avg_quality"),
            sum(when(col("q") < 60, 1L).otherwise(0L)).as("low_quality_docs"))
          .orderBy("source")
    },

    sql("t4_fingerprint",
      "Text: winnowing fingerprints (rolling min-hash windows over md5'd shingles)",
      """WITH s AS (SELECT doc_id, text, string_split(text,' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(ws) >= 3
        |  THEN list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |  ELSE [text] END AS shingles FROM s),
        |h AS (SELECT doc_id, list_transform(shingles, x -> md5(x)) AS hs FROM sh),
        |f AS (SELECT doc_id, CASE WHEN len(hs) >= 4
        |  THEN list_distinct(list_transform(range(1, len(hs) - 2), i -> list_aggregate(hs[i:i+3], 'min')))
        |  ELSE [list_aggregate(hs, 'min')] END AS fps FROM h)
        |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fingerprints,
        | list_aggregate(fps, 'min') AS min_fp
        | FROM f ORDER BY doc_id""".stripMargin.replace("\n", "")) {
      (s, d) =>
        // staged projections: each array is materialized once per row
        // (inlining these recomputes md5 per sliding window — see
        // TextOps.winnowFromHashes — and re-splits per shingle)
        Tables.documents(s, d)
          .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("ws"))
          .select(col("doc_id"),
            TextOps.positionalShinglesFromTokens(col("text"), col("ws")).as("shingles"))
          .select(col("doc_id"), transform(col("shingles"), sh => md5(sh)).as("hashes"))
          .select(col("doc_id"), TextOps.winnowFromHashes(col("hashes")).as("fps"))
          .select(
            col("doc_id"),
            size(col("fps")).cast("long").as("n_fingerprints"),
            array_min(col("fps")).as("min_fp"))
          .orderBy("doc_id")
    }.withBench { (s, d) =>
      // production: xxhash64 fingerprints (md5 exists only for oracle
      // portability — see TextOps scaladoc), no total sort
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("ws"))
        .select(col("doc_id"),
          TextOps.positionalShinglesFromTokens(col("text"), col("ws")).as("shingles"))
        .select(col("doc_id"), transform(col("shingles"), sh => xxhash64(sh)).as("hashes"))
        .select(col("doc_id"), TextOps.winnowFromHashes(col("hashes")).as("fps"))
        .select(
          col("doc_id"),
          size(col("fps")).cast("long").as("n_fingerprints"),
          array_min(col("fps")).as("min_fp"))
    },

    sql("t6_langid_ngram",
      "Text: char-bigram-profile language ID (Cavnar-Trenkle shape) — predicted counts vs label",
      // a 2-char gram is in the doc iff contains(text, gram) — the same
      // scan identity langIdNgramScan is built on, so the oracle mirrors
      // the production plan, not the O(len²) array form
      argmaxSql(TextOps.langBigramProfiles.toSeq.sortBy(_._1).map { case (lang, grams) =>
        lang -> grams.map(g => s"CASE WHEN contains(text, '$g') THEN 1 ELSE 0 END")
          .mkString("(", " + ", ")")
      })) {
      (s, d) =>
        // scan form: per-profile contains() hit counts, no bigram-array
        // materialization (equivalent to the array form by construction —
        // see TextOps.langIdNgramScan; parity pinned in TextOpsSpec)
        // (r19: a documents widen was A/B-measured inconsistent across
        // passes, no reproducible win — reverted)
        Tables.documents(s, d)
          .select(TextOps.langIdNgramScan(col("text")).as("predicted_lang"), col("lang"))
          .groupBy("predicted_lang", "lang")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("predicted_lang", "lang")
    },

    sql("t8_token_freq",
      "Text: corpus vocabulary heavy hitters — token frequencies + doc frequencies, top 20",
      """SELECT token, CAST(COUNT(*) AS BIGINT) AS occurrences,
        | CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
        | FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents)
        | GROUP BY token ORDER BY occurrences DESC, token LIMIT 20""".stripMargin.replace("\n", "")) {
      (s, d) =>
        // explode → partial+final count agg on the token; the top-20 is
        // TakeOrderedAndProject. At 100 TB the exact COUNT(DISTINCT doc_id)
        // is the expensive part (expand+shuffle per token) — production
        // would swap in approx_count_distinct, same as a14
        Tables.documents(s, d)
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("occurrences"),
            countDistinct("doc_id").as("doc_freq"))
          .orderBy(col("occurrences").desc, col("token"))
          .limit(20)
    }.withBench { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("occurrences"),
          approx_count_distinct("doc_id").as("doc_freq"))
        .orderBy(col("occurrences").desc, col("token"))
        .limit(20)
    },

    sql("t7_fuzzy_match",
      "Text: levenshtein fuzzy-match pairs over a dimension (edit distance <= 1)",
      """SELECT a.n_name AS name1, b.n_name AS name2,
        | CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS dist
        | FROM nation a JOIN nation b ON a.n_name < b.n_name
        | WHERE levenshtein(a.n_name, b.n_name) <= 1
        | ORDER BY name1, name2""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // dimension-scale fuzzy self-match: broadcast one side, filter on
        // edit distance. At data scale this shape needs a blocking key
        // first (length band / prefix bucket) — exactly what the dedup
        // candidate generators provide; this is the verify step.
        val a = Tables.nation(s, d).select(col("n_name").as("name1"))
        val b = Tables.nation(s, d).select(col("n_name").as("name2"))
        a.crossJoin(broadcast(b))
          .filter(col("name1") < col("name2"))
          .select(col("name1"), col("name2"),
            levenshtein(col("name1"), col("name2")).cast("long").as("dist"))
          .filter(col("dist") <= 1)
          .orderBy("name1", "name2")
      }
    },

    sql("t9_bpeish_tokens",
      "Text: LLM token-cost report — whitespace vs BPE-ish subword counts per (lang, source)",
      {
        // the pattern's contraction apostrophe must be doubled inside a
        // SQL single-quoted literal
        val pat = TextOps.bpeishPattern.replace("'", "''")
        s"""SELECT lang, source, COUNT(*) AS n_docs,
           | CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS ws_tokens,
           | CAST(SUM(len(regexp_extract_all(text, '$pat'))) AS BIGINT) AS bpeish_tokens,
           | ROUND(SUM(len(regexp_extract_all(text, '$pat'))) * 1.0
           |   / SUM(len(string_split(text,' '))), 4) AS subword_ratio
           | FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin.replace("\n", "")
      }) {
      (s, d) =>
        // both token counts are one map-side pass each (split / one
        // regexp_extract_all); the agg is a partial+final hash agg on
        // (lang, source). The regex is shared with the oracle via
        // TextOps.bpeishPattern — RE2 (DuckDB) and java.util.regex agree
        // on it by construction (no lookarounds, no backrefs).
        Tables.documents(s, d)
          .select(col("lang"), col("source"),
            TextOps.tokenCount(col("text")).as("ws"),
            TextOps.bpeishTokenCount(col("text")).as("bp"))
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum("ws").as("ws_tokens"),
            sum("bp").as("bpeish_tokens"),
            round(sum("bp") * lit(1.0) / sum("ws"), 4).as("subword_ratio"))
          .orderBy("lang", "source")
    },

    sql("t10_tfidf",
      "Text: TF-IDF top-3 terms per doc (tf x ln(N/df), per-doc top-k window)",
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (SELECT doc_id, token,
        |    ROUND(tf * LN(n_docs * 1.0 / df), 4) AS tfidf,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY ROUND(tf * LN(n_docs * 1.0 / df), 4) DESC, token) AS rank
        |  FROM tf JOIN df USING (token) CROSS JOIN n)
        |SELECT doc_id, token, tfidf, CAST(rank AS BIGINT) AS rank
        | FROM scored WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // tf and df are two partial+final hash aggs over one exploded
        // token frame; N is a broadcast 1-row aggregate (never a driver
        // scalar); the top-3 is a per-doc row_number window. The window
        // orders by the ROUNDED score: distinct (tf, df) pairs can yield
        // mathematically-equal scores via different expressions (e.g.
        // 2·ln(10) vs ln(100)) whose last ulps may differ between
        // DuckDB's libm log and Java's Math.log — rounding first
        // collapses those to equal, and the token tie-break then orders
        // identically in both engines.
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
        val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val df = tok.groupBy("token").agg(countDistinct("doc_id").as("df"))
        val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
        val tfidf = col("tf") * log(col("n_docs") * lit(1.0) / col("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(round(tfidf, 4).desc, col("token"))
        tf.join(df, "token").crossJoin(broadcast(n))
          .select(col("doc_id"), col("token"),
            round(tfidf, 4).as("tfidf"),
            row_number().over(w).cast("long").as("rank"))
          .filter(col("rank") <= 3)
          .orderBy("doc_id", "rank")
      }
    }.withBench { (s, d) =>
      // production: same plan minus the oracle sort, HLL doc frequencies
      // (exact COUNT DISTINCT per token is the expensive expand at scale)
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df = tok.groupBy("token").agg(approx_count_distinct("doc_id").as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val tfidf = col("tf") * log(col("n_docs") * lit(1.0) / col("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(round(tfidf, 4).desc, col("token"))
      tf.join(df, "token").crossJoin(broadcast(n))
        .select(col("doc_id"), col("token"),
          round(tfidf, 4).as("tfidf"),
          row_number().over(w).cast("long").as("rank"))
        .filter(col("rank") <= 3)
    },

    sql("t5_langid",
      "Text: heuristic marker-word language ID — predicted-language counts vs label",
      // hit count = tokens ∈ marker set, multiplicity preserved — DuckDB
      // list_filter mirrors Spark's filter(ws, isInCollection) exactly
      argmaxSql(TextOps.langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
        val lst = markers.map(w => s"'$w'").mkString(", ")
        lang -> s"len(list_filter(string_split(text,' '), w -> w IN ($lst)))"
      })) {
      (s, d) =>
        Tables.documents(s, d)
          .select(TextOps.langId(col("text")).as("predicted_lang"), col("lang"))
          .groupBy("predicted_lang", "lang")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("predicted_lang", "lang")
    },

    sql("t13_pii_redaction",
      "Text: PII detection + redaction — per-doc email/IPv4/SSN match counts and the redacted text (regexp-only compliance pass; the corpus has no organic PII, so both engines plant the same deterministic doc_id-keyed PII before scanning)",
      // the augmentation CASEs make counts vary 0/1 per class per doc —
      // a constant-1 count would pass without exercising the patterns.
      // Pattern literals are shared verbatim with ops/Pii (the Java/RE2
      // common dialect); DuckDB needs the explicit 'g' flag where Spark's
      // regexp_replace is global by default.
      s"""WITH aug AS (SELECT doc_id,
         | text || CASE WHEN doc_id % 3 <> 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
         |      || CASE WHEN doc_id % 2 = 0 THEN ' host 10.' || CAST(doc_id % 200 AS VARCHAR) || '.3.7' ELSE '' END
         |      || CASE WHEN doc_id % 5 = 0 THEN ' ssn 537-28-' || CAST(1000 + doc_id % 9000 AS VARCHAR) ELSE '' END AS t
         | FROM documents)
         |SELECT doc_id,
         | CAST(len(regexp_extract_all(t, '${graft.ops.Pii.emailPattern}')) AS BIGINT) AS n_emails,
         | CAST(len(regexp_extract_all(t, '${graft.ops.Pii.ipv4Pattern}')) AS BIGINT) AS n_ips,
         | CAST(len(regexp_extract_all(t, '${graft.ops.Pii.ssnPattern}')) AS BIGINT) AS n_ssns,
         | regexp_replace(regexp_replace(regexp_replace(t,
         |   '${graft.ops.Pii.emailPattern}', '<EMAIL>', 'g'),
         |   '${graft.ops.Pii.ssnPattern}', '<SSN>', 'g'),
         |   '${graft.ops.Pii.ipv4Pattern}', '<IP>', 'g') AS redacted
         | FROM aug ORDER BY doc_id""".stripMargin.replace("\n", "")) {
      (s, d) =>
        import graft.ops.Pii
        val aug = concat(
          col("text"),
          when(col("doc_id") % 3 =!= 0,
            concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 2 === 0,
            concat(lit(" host 10."), (col("doc_id") % 200).cast("string"), lit(".3.7")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" ssn 537-28-"), (lit(1000) + col("doc_id") % 9000).cast("string")))
            .otherwise(lit("")))
        Tables.documents(s, d)
          .select(col("doc_id"), aug.as("t"))
          .select(col("doc_id"),
            Pii.countMatches(col("t"), Pii.emailPattern).as("n_emails"),
            Pii.countMatches(col("t"), Pii.ipv4Pattern).as("n_ips"),
            Pii.countMatches(col("t"), Pii.ssnPattern).as("n_ssns"),
            Pii.redact(col("t")).as("redacted"))
    }.oracleOrder("doc_id"),

    sql("t14_quality_calibration",
      "Text: cross-source quality calibration — raw quality proxies are not comparable across sources (a crawl source's median differs from a curated one's), so each doc's score maps to its WITHIN-SOURCE percentile (percent_rank: ties share a rank, (rank-1)/(n-1) is exact small-integer IEEE division — bit-portable with no rounding) plus its global percentile; thresholding q_pct >= x then takes the same fraction from every source instead of starving the low-scoring ones",
      """SELECT doc_id, source,
        | PERCENT_RANK() OVER (PARTITION BY source ORDER BY n_chars) AS q_pct,
        | PERCENT_RANK() OVER (ORDER BY n_chars) AS q_pct_global
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // one shuffle keyed by source for the per-source rank; the
        // global rank's single-partition window runs over (doc_id,
        // n_chars) slivers only — at 100 TB the global calibration
        // would swap to the u10 histogram-state CDF, same contract
        val W = org.apache.spark.sql.expressions.Window
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .withColumn("q_pct",
            percent_rank().over(W.partitionBy("source").orderBy("n_chars")))
          .withColumn("q_pct_global",
            percent_rank().over(W.orderBy("n_chars")))
          .drop("n_chars")
          .orderBy("doc_id")
      }
    },

    sql("t15_boilerplate_removal",
      "Text: corpus-level BOILERPLATE removal — the CCNet/RefinedWeb repeated-line strip that runs BEFORE document dedup: any 8-token segment appearing in >= 2 distinct docs (nav bars, license banners — here the planted near-dup overlaps) is dropped from every doc, and docs reassemble from their surviving segments in order; production form ships 8-byte xxhash64 segment keys through the df agg and join instead of strings",
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        | sized AS (SELECT doc_id, ts, (len(ts) + 7) // 8 AS nseg FROM base),
        | segs AS (SELECT doc_id,
        |   CAST(unnest(range(nseg)) AS INT) AS pos,
        |   unnest(list_transform(range(nseg),
        |     i -> array_to_string(list_slice(ts, i*8 + 1, i*8 + 8), ' '))) AS seg
        |  FROM sized),
        | boiler AS (SELECT seg FROM
        |   (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY seg)
        |   WHERE df >= 2),
        | flagged AS (SELECT s.doc_id, s.pos, s.seg, b.seg IS NOT NULL AS dropped
        |   FROM segs s LEFT JOIN boiler b ON s.seg = b.seg)
        | SELECT doc_id, COUNT(*) AS n_segments,
        |  CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  COALESCE(string_agg(CASE WHEN NOT dropped THEN seg END, ' ' ORDER BY pos), '') AS kept_text
        | FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", "")) {
      (s, d) =>
        TextOps.removeBoilerplate(Tables.documents(s, d), "doc_id", "text",
            segTokens = 8, minDocs = 2)
          .orderBy("doc_id")
    }.withBench { (s, d) =>
      TextOps.removeBoilerplate(Tables.documents(s, d), "doc_id", "text",
        segTokens = 8, minDocs = 2, hashedKeys = true)
    },

    sql("t17_salient_terms",
      "Text: per-doc SALIENT TERM extraction (keyword tagging) — top-3 terms by an ALL-INTEGER tf·N/df relevance score (truncating division; same ranking as tf-idf's tf·(N/df) without log, whose last-ulp behavior t10 already pins but rankings shouldn't depend on); ties break lexicographically. tf/df/N are three hash aggs; the rank is one doc-keyed window",
      """WITH toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (SELECT doc_id, term, (tf * n.n) // df AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |  ORDER BY score DESC, term) AS rank FROM scored)
        |SELECT doc_id, CAST(rank AS INT) AS rank, term, CAST(score AS BIGINT) AS score
        | FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin.replace("\n", "")) {
      (s, d) =>
        // a tf checkpoint + widen were A/B-measured no-win (r19): the tf
        // agg exchange is already reused across the df build and the join
        // probe
        val docs = Tables.documents(s, d)
        val tf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
        tf.join(dfT, "term").crossJoin(broadcast(n))
          .withColumn("score", expr("tf * n div df"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("rank"), col("term"), col("score"))
    }.oracleOrder("doc_id", "rank"),

    sql("t18_url_dedup",
      "Text: URL CANONICALIZATION dedup — the crawl-frontier normalizer: messy deterministic URL variants (scheme/host case, :443 ports, utm/ref query tags, fragments, trailing slashes — synthesized per doc_id since the corpus carries no real URLs) collapse to one canonical form per logical resource; canonical groups count their members and keep the min-id survivor. One regexp chain map-side + one hash agg; the same canonicalizer both engines, so even the messy-variant construction is cross-checked",
      """WITH urls AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
        |  (CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END) || '.Example.COM' ||
        |  (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
        |  '/doc/' || CAST(doc_id % 50 AS VARCHAR) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&utm_campaign=x'
        |        WHEN doc_id % 4 = 1 THEN '?ref=tw' ELSE '' END) ||
        |  (CASE WHEN doc_id % 7 = 0 THEN '#sec2' ELSE '' END) AS url FROM documents),
        |canon AS (SELECT doc_id,
        |  'https://' || lower(regexp_replace(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1), ':(80|443)$', '')) ||
        |  regexp_replace(regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1), '/+$', '') AS canonical_url
        | FROM urls)
        |SELECT canonical_url, COUNT(*) AS n_docs, MIN(doc_id) AS survivor_id
        | FROM canon GROUP BY canonical_url ORDER BY canonical_url""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val urls = Tables.documents(s, d).select(col("doc_id"), concat(
          when(col("doc_id") % 2 === 0, lit("HTTP")).otherwise(lit("https")), lit("://"),
          when(col("doc_id") % 2 === 0, upper(col("source"))).otherwise(col("source")),
          lit(".Example.COM"),
          when(col("doc_id") % 5 === 0, lit(":443")).otherwise(lit("")),
          lit("/doc/"), (col("doc_id") % 50).cast("string"),
          when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 4 === 0, lit("?utm_source=feed&utm_campaign=x"))
            .when(col("doc_id") % 4 === 1, lit("?ref=tw")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit("#sec2")).otherwise(lit(""))).as("url"))
        urls
          .select(col("doc_id"), TextOps.canonicalizeUrl(col("url")).as("canonical_url"))
          .groupBy("canonical_url")
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("survivor_id"))
          .orderBy("canonical_url")
      }
    },

    sql("t19_lexical_diversity",
      "Text: per-language lexical-diversity audit — type-token ratio and hapax-legomenon share in integer ppm (truncating div, a22 discipline), over per-(lang,token) counts. Low TTR / low hapax flags templated or machine-generated feeds before they dilute a training mix; one token-keyed partial+final agg then a lang-sliver rollup — no distinct-expansion (the per-token counts ARE the distinct set)",
      """WITH tok AS (SELECT lang, UNNEST(string_split(text, ' ')) AS token FROM documents),
        |pt AS (SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1, 2)
        |SELECT lang, CAST(SUM(n) AS BIGINT) AS total_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
        |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_tokens,
        |  CAST(COUNT(*) * 1000000 // SUM(n) AS BIGINT) AS ttr_ppm,
        |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000 // SUM(n) AS BIGINT) AS hapax_ppm
        | FROM pt GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.documents(s, d)
          .select(col("lang"), explode(TextOps.tokens(col("text"))).as("token"))
          .groupBy("lang", "token").agg(count(lit(1)).as("n"))
          .groupBy("lang").agg(
            sum("n").as("total_tokens"),
            count(lit(1)).as("distinct_tokens"),
            sum(when(col("n") === 1, 1L).otherwise(0L)).as("hapax_tokens"))
          .select(col("lang"), col("total_tokens"), col("distinct_tokens"),
            col("hapax_tokens"),
            expr("distinct_tokens * 1000000L div total_tokens").as("ttr_ppm"),
            expr("hapax_tokens * 1000000L div total_tokens").as("hapax_ppm"))
          .orderBy("lang")
    },

    sql("t20_bigram_collocations",
      "Text: bigram COLLOCATION mining — adjacent token pairs scored by PMI against the unigram model (the multi-word-expression / template-phrase detector feeding tokenizer-merge and boilerplate decisions). Bigrams via sliced-array zip (map-side, no self-join); counts are exact BIGINTs; pmi is an IDENTICAL left-assoc chain of IEEE ops on both engines (each step correctly rounded ⇒ bit-equal), support >= 20, ranked by round-4 pmi with lexical tiebreak; corpus-scale work is one token and one bigram agg",
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |uni AS (SELECT UNNEST(t) AS w FROM toks),
        |un AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM uni GROUP BY 1),
        |tu AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM un),
        |bi AS (SELECT UNNEST(t[1:len(t)-1]) AS w1, UNNEST(t[2:len(t)]) AS w2 FROM toks),
        |bn AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_xy FROM bi GROUP BY 1, 2),
        |tb AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS totb FROM bn),
        |s AS (SELECT w1, w2, n_xy,
        |  ln(CAST(n_xy AS DOUBLE) * CAST(tot AS DOUBLE) / CAST(totb AS DOUBLE)
        |     / CAST(a.n AS DOUBLE) * CAST(tot AS DOUBLE) / CAST(b.n AS DOUBLE)) AS pmi
        |  FROM bn CROSS JOIN tu CROSS JOIN tb
        |  JOIN un a ON bn.w1 = a.w JOIN un b ON bn.w2 = b.w
        |  WHERE n_xy >= 20)
        |SELECT w1, w2, n_xy, ROUND(pmi, 4) AS pmi
        | FROM s ORDER BY ROUND(pmi, 4) DESC, w1, w2 LIMIT 30"""
        .stripMargin.replace("\n", "")) {
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(TextOps.tokens(col("text")).as("t"))
        val un = toks.select(explode(col("t")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("n"))
        val tu = un.agg(sum("n").as("tot")) // 1 row — AQE broadcasts
        val bn = toks
          .select(explode(arrays_zip(
            slice(col("t"), lit(1), size(col("t")) - 1),
            slice(col("t"), lit(2), size(col("t")) - 1))).as("p"))
          .select(col("p.0").as("w1"), col("p.1").as("w2"))
          .groupBy("w1", "w2").agg(count(lit(1)).as("n_xy"))
          .filter(col("n_xy") >= 20)
        val tb = toks
          .select((size(col("t")) - 1).cast("long").as("nb"))
          .agg(sum("nb").as("totb"))
        val pmi = log(col("n_xy").cast("double") * col("tot").cast("double")
          / col("totb").cast("double") / col("n_w1").cast("double")
          * col("tot").cast("double") / col("n_w2").cast("double"))
        bn.crossJoin(tu).crossJoin(tb)
          .join(un.select(col("w").as("w1"), col("n").as("n_w1")), "w1")
          .join(un.select(col("w").as("w2"), col("n").as("n_w2")), "w2")
          .select(col("w1"), col("w2"), col("n_xy"), round(pmi, 4).as("pmi"))
          .orderBy(col("pmi").desc, col("w1"), col("w2"))
          .limit(30)
      }
    },

    sql("t21_zipf_slope",
      "Text: Zipf rank-frequency fit — OLS slope of (ln rank, ln freq) over the top-1000 vocabulary, the one-number corpus-health signal (natural text ≈ −1; templated/synthetic feeds bend it). The portability trap is summing IRRATIONAL doubles (engine sum order ≠ deterministic), so both logs are floored to 0.1-milli-nat FIXED POINT first (floor+cast truncates identically; ln is bit-equal on identical inputs) — power sums become exact BIGINT (≤1e16, no overflow), slope/intercept one rounded division each. Corpus work is the t8 token agg + a 1000-row TakeOrderedAndProject",
      """WITH un AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM
        |  (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY 1 ORDER BY n DESC, token LIMIT 1000),
        |r AS (SELECT CAST(floor(ln(CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS DOUBLE)) * 10000) AS BIGINT) AS x,
        |  CAST(floor(ln(CAST(n AS DOUBLE)) * 10000) AS BIGINT) AS y FROM un),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(x) AS BIGINT) AS sx,
        |  CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
        |  CAST(SUM(x * x) AS BIGINT) AS sxx FROM r)
        |SELECT k AS n_terms,
        |  ROUND(CAST(k * sxy - sx * sy AS DOUBLE) / CAST(k * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
        |  ROUND((CAST(sy AS DOUBLE) - CAST(k * sxy - sx * sy AS DOUBLE)
        |    / CAST(k * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE)) / CAST(k AS DOUBLE) / 10000.0, 4) AS intercept_ln
        | FROM s""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val un = Tables.documents(s, d)
          .select(explode(TextOps.tokens(col("text"))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token")).limit(1000)
        val r = un
          .withColumn("rk", row_number().over(W.orderBy(col("n").desc, col("token"))))
          .select(
            floor(log(col("rk").cast("double")) * 10000).cast("long").as("x"),
            floor(log(col("n").cast("double")) * 10000).cast("long").as("y"))
        val st = r.agg(count(lit(1)).as("k"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        val slope = (col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("k") * col("sxx") - col("sx") * col("sx")).cast("double")
        st.select(col("k").as("n_terms"),
          round(slope, 6).as("zipf_slope"),
          round((col("sy").cast("double") - slope * col("sx").cast("double"))
            / col("k").cast("double") / 10000.0, 4).as("intercept_ln"))
      }
    },

    sql("t22_reading_level",
      "Text: corpus reading level per language — Flesch-style ease from CORPUS-LEVEL ratios (words/sentences, vowel-group 'syllables'/words), not per-doc averages: the per-doc counts are exact integers, only their per-lang SUMS feed the formula, so no double ever rides an engine-ordered sum and the final score is one fixed IEEE chain. The difficulty/register audit that flags OCR soup and legalese before they skew a mix; all counts map-side regexp, one lang-keyed agg",
      """WITH c AS (SELECT lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syls,
        |  CAST(greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS BIGINT) AS sents
        |  FROM documents),
        |g AS (SELECT lang, CAST(SUM(words) AS BIGINT) AS w, CAST(SUM(syls) AS BIGINT) AS s,
        |  CAST(SUM(sents) AS BIGINT) AS st FROM c GROUP BY 1)
        |SELECT lang, w AS n_words, st AS n_sentences, s AS n_syllables,
        |  ROUND(206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(st AS DOUBLE))
        |    - 84.6 * (CAST(s AS DOUBLE) / CAST(w AS DOUBLE)), 4) AS flesch_ease
        | FROM g ORDER BY lang""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.documents(s, d)
          .select(col("lang"),
            TextOps.tokenCount(col("text")).as("words"),
            expr("cast(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)) as long)")
              .as("syls"),
            greatest(
              expr("cast(size(regexp_extract_all(text, '[.!?]', 0)) as long)"),
              lit(1L)).as("sents"))
          .groupBy("lang")
          .agg(sum("words").as("w"), sum("syls").as("s"), sum("sents").as("st"))
          .select(col("lang"), col("w").as("n_words"), col("st").as("n_sentences"),
            col("s").as("n_syllables"),
            round(lit(206.835) - lit(1.015)
              * (col("w").cast("double") / col("st").cast("double"))
              - lit(84.6) * (col("s").cast("double") / col("w").cast("double")), 4)
              .as("flesch_ease"))
          .orderBy("lang")
    }
  )
}
