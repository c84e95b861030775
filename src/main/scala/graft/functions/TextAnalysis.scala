package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis functions for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristics, fingerprinting,
  * shingling. All row-local Catalyst expressions (no UDFs, no shuffles) —
  * they scale linearly with input splits at 100 TB.
  *
  * Generalizes the reference's text handling (X12 embedding-text builder
  * `embeddings.py:115-165`, X19 token estimate `export_training_data.py:35`,
  * F11 keyword batteries `curate.py:7630-7641`).
  */
object TextAnalysis {

  /** Whitespace tokenization. */
  /** Whitespace tokens — `split(text, "\\s+")` semantics through the
    * byte-walk kernel (no per-row regex; TokensParitySpec pins the
    * equivalence, so every string_split_regex oracle twin still holds). */
  def tokens(text: Column): Column = call_function("graft_tokens", text)

  /** BPE-ish subword split: word boundaries, digit runs, punctuation runs
    * kept as separate tokens (regex analog of a GPT-style pre-tokenizer). */
  def bpeishTokens(text: Column): Column =
    filter(split(text, "(?=[^a-zA-Z0-9])|(?<=[^a-zA-Z0-9])"), t => t =!= "" && t =!= " ")

  /** BPE-ish token COUNT via one codegen'd regexp_extract_all (letter
    * runs | digit runs | punctuation runs) — no lookarounds, so RE2
    * engines (DuckDB) compute it identically → oracle-portable; and no
    * interpreted filter lambda. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"), lit(0)))

  /** X19: `max(1, len(text) // 4)` estimator. */
  def tokenEstimate(text: Column): Column =
    greatest(lit(1L), floor(length(text) / 4).cast("long"))

  /** Exact whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Total characters across tokens (content chars, no whitespace). */
  def contentChars(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => acc + length(t))

  /** [[contentChars]] computed from the raw text: token lengths sum to
    * exactly the non-whitespace character count (split("\\s+") distributes
    * every non-ws char into some token), so one codegen'd regexp_replace
    * replaces the interpreted per-element fold. Identical values, ~2×
    * on corpus scans. */
  def contentCharsOf(text: Column): Column =
    length(regexp_replace(text, "\\s", "")).cast("long")

  /** Type-token ratio: distinct tokens / tokens — a lexical-diversity
    * quality signal. */
  def uniqueTokenRatio(toks: Column): Column =
    size(array_distinct(toks)).cast("double") / size(toks)

  /** Fraction of tokens found in `stopwords`. */
  def stopwordRatio(toks: Column, stopwords: Seq[String]): Column = {
    val sw = array(stopwords.map(lit): _*)
    size(filter(toks, t => array_contains(sw, t))).cast("double") / size(toks)
  }

  /** Composite quality score in [0,1]: shortness-penalized diversity with
    * stopword sanity band — deterministic, IEEE-only arithmetic. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    qualityScoreFromTokens(tokens(text), stopwords)

  /** [[qualityScore]] over an already-tokenized column — for pipelines
    * that materialize the token array once and fan it out (q146); the
    * expression tree past tokenization is IDENTICAL, so oracle parity
    * carries over. */
  def qualityScoreFromTokens(toks: Column, stopwords: Seq[String]): Column = {
    val lenOk = least(size(toks).cast("double") / 20.0, lit(1.0))
    val diversity = size(array_distinct(toks)).cast("double") / size(toks)
    (lenOk + diversity) / 2.0
  }

  /** Language-ID heuristic: per-profile stopword overlap counts, winner =
    * argmax with first-profile-wins tie-break. Returns the winning profile
    * name. Profiles are (name, stopword set). */
  def langId(toks: Column, profiles: Seq[(String, Seq[String])]): Column = {
    val scores = profiles.map { case (name, words) =>
      val sw = array(words.map(lit): _*)
      name -> size(filter(toks, t => array_contains(sw, t)))
    }
    scores.tail.foldLeft(
      (when(lit(true), lit(scores.head._1)), scores.head._2)) {
      case ((bestName, bestScore), (name, score)) =>
        (when(score > bestScore, lit(name)).otherwise(bestName),
          greatest(score, bestScore))
    }._1
  }

  /** Winnowing fingerprints (the rolling-hash document fingerprint, per
    * Schleimer/Wilkerson/Aiken's MOSS scheme): hash every character
    * k-gram of the normalized text, then for each window of `w`
    * consecutive gram hashes record the minimum — the distinct recorded
    * minima are the document's fingerprints. Near-identical documents
    * share most fingerprints even under edits (the property plain
    * whole-document hashing lacks).
    *
    * Shape: one row-local kernel call per document
    * ([[graft.plans.GraftWinnow]] — O(n) boundary walk + monotonic-deque
    * window min, no shuffle) → explode → distinct. Hashes are md5-lane
    * hex so the DuckDB oracle reproduces them exactly; the declarative
    * explode→substr→md5→window-MIN twin below is spec-pinned equal. */
  def winnowingFingerprints(df: org.apache.spark.sql.DataFrame, idCol: String,
                            textCol: String, k: Int, w: Int): org.apache.spark.sql.DataFrame = {
    // kernel output is already the per-document DISTINCT minima, so no
    // corpus-wide distinct shuffle is needed after the explode
    winnowingFingerprintArray(df, idCol, textCol, k, w)
      .select(col("id"), explode(col("fps")).as("fp"))
  }

  /** The un-exploded form: one row per document with its distinct
    * fingerprint array. Per-document statistics (count, extremes) are
    * row-local on this — `size`/`array_min`/`array_max` — so consumers
    * that only need per-doc properties skip the fingerprint shuffle the
    * exploded form implies (q64: 0.63 vs 0.70 s at sf0.1 — local delta
    * is small because the per-gram md5 dominates there; the removed
    * shuffle is what scales with corpus size). */
  def winnowingFingerprintArray(df: org.apache.spark.sql.DataFrame, idCol: String,
                                textCol: String, k: Int, w: Int): org.apache.spark.sql.DataFrame = {
    val norm = lower(trim(regexp_replace(col(textCol), "\\s+", " ")))
    df.select(col(idCol).as("id"), norm.as("t"))
      .select(col("id"),
        call_function("graft_winnow", col("t"), lit(k), lit(w)).as("fps"))
  }

  /** The pure-relational formulation of [[winnowingFingerprints]] — kept
    * as the kernel's semantic pin (WinnowingSpec asserts equality) and as
    * documentation of the shape: the `substr(t, pos, k)` here re-counts
    * code points from the string start per gram (O(n²) per document),
    * which is why the kernel exists. */
  def winnowingFingerprintsDeclarative(
      df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int, w: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norm = lower(trim(regexp_replace(col(textCol), "\\s+", " ")))
    val base = df.select(col(idCol).as("id"), norm.as("t"))
      .select(col("id"), col("t"),
        when(length(col("t")) >= k,
          sequence(lit(1), length(col("t")) - (k - 1))).otherwise(array())
          .as("positions"))
      .select(col("id"), col("t"), explode(col("positions")).as("pos"))
      .select(col("id"), col("pos"),
        substring(graft.plans.GraftMd5.column(col("t").substr(col("pos"), lit(k))), 1, 8).as("g"))
    val nGrams = Window.partitionBy(col("id"))
    val winMin = Window.partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    base
      .withColumn("n", count(lit(1)).over(nGrams))
      .withColumn("fp", min(col("g")).over(winMin))
      .filter(col("pos") <= col("n") - (w - 1)) // full windows only
      .select(col("id"), col("fp")).distinct()
  }

  /** Corpus-scale language-ID: same semantics as [[langId]] (occurrence
    * counts per profile, argmax with first-profile-wins tie-break) but as
    * explode → codegen'd conditional SUMs → fold, instead of interpreted
    * HOF filters that re-evaluate the tokenization per profile. One
    * shuffle on the passthrough key columns. Returns keyCols + `pred`. */
  def langIdTable(df: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
                  textCol: String,
                  profiles: Seq[(String, Seq[String])]): org.apache.spark.sql.DataFrame = {
    val keys = keyCols.map(col)
    val exploded = df.select(keys :+ explode_outer(tokens(col(textCol))).as("t"): _*)
    val aggs = profiles.zipWithIndex.map { case ((_, words), i) =>
      sum(when(col("t").isin(words: _*), 1L).otherwise(0L)).as(s"s$i")
    }
    val counted = exploded.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    val pred = profiles.zipWithIndex.tail.foldLeft(
      (when(lit(true), lit(profiles.head._1)), col("s0"))) {
      case ((bestName, bestScore), ((name, _), i)) =>
        (when(col(s"s$i") > bestScore, lit(name)).otherwise(bestName),
          greatest(col(s"s$i"), bestScore))
    }._1
    counted.select(keys :+ pred.as("pred"): _*)
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercase text
    * (X8-style normalize + content hash; oracle-matchable since md5 is
    * identical across engines). */
  def fingerprint(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))

  /** Word n-gram shingles (row-local Column form): overlapping windows of
    * `n` tokens joined by a single space; empty array when the doc has
    * fewer than `n` tokens.
    *
    * NOTE: higher-order array lambdas are interpreted (no codegen) and
    * re-evaluate captured expressions per element — fine for short arrays
    * (names, tag lists), O(len²)-ish on long documents. For corpus-scale
    * shingling use [[shingleRows]], which is fully codegen'd. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Word n-gram shingles, table form: one output row per (id, shingle)
    * position — posexplode tokens, window `lead(k)` per offset, concat.
    *
    * This is the corpus-scale path: every operator is codegen'd, each token
    * is materialized exactly once, and the window's hash-partitioning on
    * `id` is reused by any downstream per-id aggregation (one shuffle
    * total). Docs with fewer than `n` tokens yield a single null-shingle
    * row (so ids are preserved through outer explode). */
  def shingleRows(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val base = df.select(col(idCol).as("id"),
      posexplode_outer(tokens(col(textCol))).as(Seq("pos", "t")))
    val withLeads = (1 until n).foldLeft(base) { (acc, k) =>
      acc.withColumn(s"l$k", lead(col("t"), k).over(w))
    }
    val shingle =
      if (n == 1) when(col("t").isNotNull, col("t"))
      else when(col("t").isNotNull && col(s"l${n - 1}").isNotNull,
        concat_ws(" ", col("t") +: (1 until n).map(k => col(s"l$k")): _*))
    withLeads.select(col("id"), shingle.as("shingle"))
  }
}
