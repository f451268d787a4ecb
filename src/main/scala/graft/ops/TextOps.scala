package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines — token statistics, quality
  * scoring, heuristic language ID, winnowing fingerprints (north-star —
  * SURVEY.md §7.6). Everything is Catalyst array/string expressions:
  * map-side, zero UDFs and zero shuffles until the caller aggregates.
  * The higher-order ones (transform over character shingles and
  * winnowing windows) are CodegenFallback in Spark 4.1 and run
  * interpreted inside the generated stage.
  *
  * Portability note: fingerprints hash with md5 (identical hex output in
  * Spark and DuckDB) so the oracle can reproduce them; xxhash64 would be
  * faster but is Spark-only. At 100 TB swap `md5` for `xxhash64` here —
  * one line — since the oracle constraint is test-time only.
  */
object TextOps {

  /** Whitespace tokens — mirrors DuckDB string_split (no empty filtering);
    * single definition shared with the dedup pipeline. */
  def tokens(text: Column): Column = Dedup.tokens(text)

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-style pre-tokenizer pattern (the GPT-2 shape reduced to
    * constructs RE2 and java.util.regex evaluate identically):
    * contraction suffixes, letter runs, digit runs, non-space symbol
    * runs. This is the PRE-tokenization a byte-pair encoder merges
    * within — the unit real token-count estimators meter, and a much
    * better LLM-cost proxy than whitespace words (it splits punctuation
    * and digits the way BPE vocabularies do).
    *
    * The whitespace class is spelled out explicitly instead of `\s`:
    * Java's `\s` includes vertical tab, RE2's does not, so a literal
    * `\s` would diverge between the engine and the DuckDB oracle on any
    * text containing \x0B. */
  val bpeishPattern: String =
    "'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]+"

  /** BPE-ish subword tokens via one codegen'd regexp_extract_all pass. */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit(bpeishPattern), lit(0))

  /** BPE-ish token count — whitespace never yields a token, so unlike
    * [[tokenCount]] this is 0 for all-whitespace text. */
  def bpeishTokenCount(text: Column): Column =
    size(bpeishTokens(text)).cast("long")

  /** Type-token ratio: distinct / total tokens (lexical diversity). */
  def typeTokenRatio(text: Column): Column = {
    val ws = tokens(text)
    size(array_distinct(ws)).cast("double") / size(ws)
  }

  /** Mean token length over the whitespace-stripped text. */
  def avgTokenLen(text: Column): Column =
    length(regexp_replace(text, " ", "")).cast("double") / size(tokens(text))

  /** Fraction of tokens found in `stopwords`. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val ws = tokens(text)
    size(array_intersect_count(ws, stopwords)).cast("double") / size(ws)
  }

  /** Tokens ∈ stopword set, multiplicity preserved (array_intersect
    * dedups, which would undercount repeated stopwords). */
  private def array_intersect_count(ws: Column, stopwords: Seq[String]): Column =
    filter(ws, w => w.isInCollection(stopwords))

  /** Heuristic document quality ∈ [0,100]: penalizes stopword padding and
    * very short documents (reference-style hand-rolled scoring — the
    * reference's analog is the A9 rule score, data_validator.py:149-152). */
  def qualityScore(text: Column, stopwords: Seq[String], fullLengthTokens: Int = 50): Column =
    round(lit(100.0) * (lit(1.0) - stopwordRatio(text, stopwords)) *
      least(lit(1.0), size(tokens(text)) / lit(fullLengthTokens.toDouble)), 2)

  /** Stopword set for this corpus's quality scoring (shared by the t3
    * query, its oracle SQL, and the DocPipeline capstone). */
  val corpusStopwords: Seq[String] = Seq("a", "the", "row", "data", "value", "table")

  /** Marker-word profiles for heuristic language ID. Tiny by design —
    * real pipelines plug a trained profile table into the same shape. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "la", "los", "y", "es"))

  /** Shared decision rule for all language-ID variants: the language that
    * UNIQUELY holds the nonzero maximum hit count; ties and zero-hit docs
    * → "und" (ISO-639-ish undetermined). Pure CASE chain. */
  private def uniqueArgmax(hits: Seq[(String, Column)]): Column = {
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    val atBest = hits.map { case (_, h) => when(h === best, 1).otherwise(0) }.reduce(_ + _)
    hits.foldRight(lit("und"): Column) { case ((lang, h), rest) =>
      when(h === best && h > 0 && atBest === 1, lang).otherwise(rest)
    }
  }

  /** Predicted language = argmax over marker-word hit counts. */
  def langId(text: Column): Column = {
    val ws = tokens(text)
    uniqueArgmax(langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      lang -> size(filter(ws, w => w.isInCollection(markers)))
    })
  }

  /** Distinct character bigrams of a text column. The lambda's substring
    * reads the text ATTRIBUTE per element (cheap); keep `text` a column
    * reference, not a nested expression. */
  def charBigrams(text: Column): Column =
    array_distinct(transform(sequence(lit(1), greatest(length(text) - 1, lit(1))),
      i => text.substr(i, lit(2))))

  /** Character-bigram frequency profiles (top distinguishing bigrams per
    * language) — the classic n-gram language-ID shape (Cavnar & Trenkle
    * '94 reduced to a containment score). Swap in trained profiles for
    * production; these cover the test fixtures. */
  val langBigramProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("th", "he", "in", "er", "an", "re", "nd", "ng"),
    "de" -> Seq("ch", "ei", "ie", "sc", "un", "st", "de", "ge"),
    "fr" -> Seq("es", "le", "de", "en", "ou", "qu", "ai", "ur"),
    "es" -> Seq("de", "la", "os", "el", "en", "ue", "ar", "ci"))

  /** N-gram language ID over a materialized bigram-set column: argmax over
    * per-language profile-bigram hits. General shape (works with any
    * pre-computed gram array, e.g. a trained profile join) but O(L²)-ish
    * per doc via [[charBigrams]] — the hot path is [[langIdNgramScan]]. */
  def langIdNgram(textBigrams: Column): Column =
    uniqueArgmax(langBigramProfiles.toSeq.sortBy(_._1).map { case (lang, grams) =>
      lang -> size(array_intersect(textBigrams, array(grams.map(lit): _*)))
    })

  /** Scan-based n-gram language ID, equivalent to
    * `langIdNgram(charBigrams(text))` by construction: a 2-char gram is in
    * the doc's (distinct) bigram set iff `contains(text, gram)`, so each
    * language's hit count is a sum of profile-size scalar substring
    * checks — 32 codegen'd `Contains` ops per row, ZERO array
    * materialization. Replaces an O(len²) bigram-array + array_distinct +
    * 4×array_intersect pipeline (measured 13.4 s → sub-second at sf0.1);
    * equivalence is pinned in TextOpsSpec against the array form. */
  def langIdNgramScan(text: Column): Column =
    uniqueArgmax(langBigramProfiles.toSeq.sortBy(_._1).map { case (lang, grams) =>
      lang -> grams.map(g => when(text.contains(g), 1).otherwise(0)).reduce(_ + _)
    })

  /** Positional (non-distinct) k-word shingles — winnowing needs document
    * order, unlike the Jaccard path which dedups into sets. Delegates to
    * the single shingle builder in [[Dedup.shinglesFromTokens]] (same
    * `ws`-must-be-a-projected-attribute performance contract). */
  def positionalShinglesFromTokens(text: Column, ws: Column, k: Int = 3): Column =
    Dedup.shinglesFromTokens(text, ws, k, distinct = false)

  /** Convenience single-expression form (tests / tiny inputs). */
  def positionalShingles(text: Column, k: Int = 3): Column =
    positionalShinglesFromTokens(text, tokens(text), k)

  /** Winnowing window-min step (Schleimer et al., SIGMOD'03): minimum of
    * every sliding window of `w` hashes, dedup'd. The fingerprint set is
    * robust to local edits — the standard document-fingerprint for
    * plagiarism/near-dup pipelines.
    *
    * IMPORTANT: pass an already-materialized column of hashes (a projected
    * attribute), NOT a nested expression — lambda bodies re-evaluate their
    * free sub-expressions per element, so an inline
    * `transform(shingles, md5)` here would recompute every md5 for every
    * window: O(windows × shingles) md5 calls per row. Chain projections
    * instead (see TextQueries t4): Catalyst keeps expensive multiply-
    * referenced projections separate, so each array is built once per row. */
  def winnowFromHashes(hashes: Column, w: Int = 4): Column =
    when(size(hashes) >= w,
      array_distinct(transform(sequence(lit(0), size(hashes) - w),
        i => array_min(slice(hashes, i + lit(1), lit(w))))))
      .otherwise(array(array_min(hashes)))

  /** URL canonicalization — the crawl-frontier/dedup normalizer: one
    * canonical form per logical resource so recrawls, tracking-tagged
    * shares, and scheme/case/port variants collapse to one key. Policy
    * (deliberately simple, documented): scheme → https, host lowercased,
    * default ports (:80/:443) stripped, query string and fragment DROPPED
    * entirely (the aggressive crawl-dedup setting — keep-significant-
    * params needs a per-site rule table this operator doesn't pretend to
    * have), trailing slashes trimmed. Pure regexp chain, map-side,
    * idempotent (pinned in TextOpsSpec); patterns shared verbatim with
    * the DuckDB oracle. */
  def canonicalizeUrl(url: Column): Column = {
    val host = lower(regexp_replace(
      regexp_extract(url, "^[a-zA-Z]+://([^/?#]+)", 1), ":(80|443)$", ""))
    val path = regexp_replace(
      regexp_extract(url, "^[a-zA-Z]+://[^/?#]+([^?#]*)", 1), "/+$", "")
    concat(lit("https://"), host, path)
  }

  // ── Boilerplate segment removal (CCNet/RefinedWeb line dedup) ──────────

  /** Fixed-width token segments per doc: (idCol, pos, seg) where `seg` is
    * the space-joined window of `segTokens` consecutive tokens starting at
    * token pos·segTokens (last segment may be shorter). The corpus "line"
    * unit for [[removeBoilerplate]] when the text has no natural line
    * structure — pure map-side sequence+slice+explode, no shuffle. */
  def docSegments(docs: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, segTokens: Int): org.apache.spark.sql.DataFrame = {
    require(segTokens >= 1, s"segTokens must be >= 1, got $segTokens")
    docs
      .select(col(idCol), tokens(col(textCol)).as("__ts"))
      .select(col(idCol), posexplode(transform(
        sequence(lit(0),
          ((size(col("__ts")) + (segTokens - 1)) / segTokens).cast("int") - 1),
        i => array_join(slice(col("__ts"), i * segTokens + 1, lit(segTokens)), " "))))
      .withColumnRenamed("col", "seg")
  }

  /** Corpus-level boilerplate removal — the CCNet/RefinedWeb pass that
    * strips repeated lines (headers, nav bars, license banners) BEFORE
    * document-level dedup: any segment appearing in ≥ `minDocs` distinct
    * docs is boilerplate; every occurrence is dropped and each doc is
    * reassembled from its surviving segments in order.
    *
    * Output: (idCol, n_segments, n_dropped, kept_text) — one row per doc,
    * docs reduced to nothing keep an empty kept_text.
    *
    * Scale shape: segments are map-side; the doc-frequency agg shuffles
    * (segment-key, doc) once; the boilerplate SLIVER (repeated segments
    * only — tiny by Zipf) comes back as a left-join AQE broadcasts; the
    * reassembly window is one groupBy(doc). With `hashedKeys` the df agg
    * and join move 8-byte xxhash64 keys instead of segment strings — the
    * production plan; md5-free string keys stay oracle-portable. */
  def removeBoilerplate(docs: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, segTokens: Int, minDocs: Int,
                        hashedKeys: Boolean = false): org.apache.spark.sql.DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2 (1 would drop every segment), got $minDocs")
    val segs = docSegments(docs, idCol, textCol, segTokens)
      .withColumn("__k", if (hashedKeys) xxhash64(col("seg")) else col("seg"))
    val boiler = segs.groupBy("__k")
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__k"), lit(true).as("__boiler"))
    segs.join(boiler, Seq("__k"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("__boiler"), 1L).otherwise(0L)).as("n_dropped"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__boiler").isNull,
            struct(col("pos"), col("seg"))))),
          x => x.getField("seg"))).as("kept_text"))
  }
}
