package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-source overlap matrix — the corpus-provenance audit a
  * curation pass runs before mixture weighting trusts per-source
  * counts: for every pair of sources, how many distinct keys
  * (13-grams) they share. Finds sources that copy from each other
  * (mirror sites, scraped re-posts, shared boilerplate).
  *
  * Output: (source_a, source_b, n_shared, n_a, n_b), one row per
  * UNORDERED pair with n_shared >= 1 (source_a < source_b), ordered.
  * Integers only — Jaccard/containment is the consumer's monotone
  * transform (the q117/q138 convention).
  *
  * Scale shape: ONE distinct over (source, md5(key)) — the join and
  * the distinct ride the 32-byte digest, not the raw ~100-byte
  * 13-gram (the q123/q127 hashed-shuffle-key lesson; an oracle
  * replays the same md5, so collisions are seen identically and the
  * compare stays hash-exact) — then an ordered self-join on the
  * digest. Per-key fan-out is (sources containing it choose 2) <= S²:
  * bounded by the SOURCE count, never the corpus. Output <= S(S-1)/2
  * rows; per-source totals ride broadcast joins.
  *
  * That choose-2 bound is a REAL bound only while S is small (the
  * reference's ~20 named sources). With web-scale provenance — domains
  * as sources, 10⁵-10⁷ of them — one boilerplate shingle present in
  * 10⁵ sources emits ~5·10⁹ pairs for that single key (r8 VERDICT #1:
  * the frequent-token blowup SetSimJoin answers with prefix
  * filtering). `maxSourcesPerKey` is that answer applied to
  * provenance: keys whose source-df exceeds the cap are dropped
  * BEFORE the self-join (boilerplate carries no provenance signal —
  * a shingle in 10⁵ sources identifies no copying pair), capping
  * per-key fan-out at choose-2 of the CAP. The df ride the same hash
  * exchange on `__k` the self-join needs (a count window partitioned
  * by `__k`), so the cap costs no extra shuffle of the key stream,
  * and per-source totals are computed over the SAME capped key
  * universe (numerator and denominator of any downstream
  * Jaccard/containment agree). The gate is deterministic, so an
  * oracle replays it exactly (q160). Uncapped calls take the
  * pre-cap plan unchanged (q159).
  *
  * The distinct relation is consumed THREE times (both join sides +
  * the totals), so it is pinned for the call (`localCheckpoint`):
  * without a pin the x100 smoke measured exchange reuse breaking at
  * scale — per-row shuffle bytes exactly doubled (39 -> 78 B/row) as
  * the distinct subtree was recomputed for the second join side — and
  * at sf0.1 the capped form (q160, whose df window would also re-run)
  * measured 1.37 s pinned vs 1.58 s recomputed (Bench warm medians, 6
  * passes, 4 cores). Nothing is kept for the next call. Alternatives measured and rejected at
  * sf0.1 ONLY-mode: raw-string keys 1.53 s (vs 1.51 md5-keyed);
  * collect_set-by-key + row-local pair explode 1.88 s
  * (ObjectHashAggregate leaves whole-stage codegen — costs more than
  * the saved shuffle on a page-cached local box).
  */
object SourceOverlap {

  /** The overlap matrix over `df`, keyed on md5 of `keyCol` values
    * grouped by `srcCol`. `keyed` rows are (src, k) BEFORE distinct —
    * pass the exploded key stream; dedup happens here.
    *
    * @param maxSourcesPerKey drop keys present in MORE than this many
    *   sources before pairing (boilerplate guard — see scaladoc).
    *   Default keeps every key. */
  def matrix(keyed: DataFrame, srcCol: String, keyCol: String,
             maxSourcesPerKey: Int = Int.MaxValue): DataFrame = {
    val distinctKeys = keyed
      .select(col(srcCol).cast("string").as("__src"),
        md5(col(keyCol).cast("string")).as("__k"))
      .distinct()
    val capped =
      if (maxSourcesPerKey == Int.MaxValue) distinctKeys
      else distinctKeys
        .withColumn("__df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("__k"))))
        .filter(col("__df") <= maxSourcesPerKey)
        .drop("__df")
    val sh = capped.localCheckpoint(true)
    val counts = sh.groupBy(col("__src")).agg(count(lit(1)).as("n"))
    sh.as("a")
      .join(sh.as("b"),
        col("a.__k") === col("b.__k") && col("a.__src") < col("b.__src"))
      .select(col("a.__src").as("source_a"), col("b.__src").as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(counts.select(col("__src").as("source_a"),
        col("n").as("n_a"))), Seq("source_a"))
      .join(broadcast(counts.select(col("__src").as("source_b"),
        col("n").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"))
      .orderBy(col("source_a"), col("source_b"))
  }
}
