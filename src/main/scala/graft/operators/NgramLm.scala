package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Smoothed bigram language-model scoring — the CCNet-style LM quality
  * filter (Wenzek et al. 2020 trains a KenLM and buckets documents by
  * perplexity; the counting side is the classic distributed n-gram LM
  * of Brants et al. 2007): train bigram/unigram counts on a reference
  * split, score every document by its mean smoothed bigram likelihood,
  * gate or bucket on the score.
  *
  * Likelihood is add-one (Laplace) smoothed:
  *
  *   P(w2 | w1) = (c(w1 w2) + 1) / (c(w1) + V)
  *
  * reported per bigram as the FIXED-POINT integer
  * `floor((1e9 * (c12+1)) / (c1+V))` — one exact integer-valued
  * multiply (exact while (c12+1)·1e9 < 2^53, i.e. bigram counts below
  * ~9·10^6; a larger corpus flips to log-space doubles and keeps the
  * same counting plan, the [[Collocations]] caveat) and ONE IEEE
  * division, then floor — bit-reproducible cross-engine, the
  * oracle-compat ruleset's q117/q138 convention. The per-document
  * score is the integer mean `sum_p_e9 div n_bigrams`: integer sums
  * are order-free, so no float-summation-order hazard exists anywhere
  * in the plan. Perplexity's log/geometric mean is a monotone
  * transform of per-bigram likelihoods omitted for the same reason
  * PMI's log is (transcendentals are not correctly-rounded
  * cross-engine); the mean-likelihood ORDERING differs from mean-log
  * ordering in general, which is fine for a gate trained to its own
  * threshold and is what keeps the operator hash-exact.
  *
  * Scale shape: two map-side-combined count aggregates over the train
  * split (unigram and bigram types are vocabulary-bounded — Brants'
  * observation: counts shuffle once into their aggregates); scoring
  * explodes each document's bigrams row-locally (`graft_shingles`
  * n=2), joins the count tables by key (shuffle linear in corpus
  * bigrams; the unigram side is vocabulary-sized), and one
  * map-side-combined integer aggregate rolls up per document. V rides
  * a single-row broadcast. Nothing collects to the driver.
  *
  * Beyond-reference (north star): model-based quality filtering for
  * the training-data pipeline family, per SURVEY §7.5 — the
  * statistical sibling of q150's hashed linear classifier. The
  * nearest reference analogue is the per-field confidence thresholds
  * of /root/reference/src/ai/tag_policy.py:285-340 (score-gated
  * acceptance), generalized to corpus LM statistics.
  */
object NgramLm {

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document under a TARGET-domain bigram LM and a SOURCE (general)
    * bigram LM; documents whose target likelihood exceeds their source
    * likelihood are the ones importance resampling up-weights. The
    * published weight is the probability ratio (log-ratio in
    * practice); the engine-exact variant here is the integer
    * DIFFERENCE of the two fixed-point mean likelihoods
    * (`importance_e9 = score_target_e9 - score_source_e9`) — same
    * up/down-weight direction, hash-exact cross-engine, no
    * transcendentals (the [[scoreDocs]] ruleset). Selection composes
    * with the existing machinery: top-k by weight, or
    * [[Sampling]]/[[PrefixSum]] for PPS-by-weight.
    *
    * One row-local bigram explode over `docs`, each model's count
    * tables joined by key — the doc side is touched once, not twice.
    *
    * Output: (idCol, n_bigrams, sum_p_target_e9, sum_p_source_e9,
    * score_target_e9, score_source_e9, importance_e9), one row per
    * document with >= 1 bigram. */
  def importanceWeights(target: DataFrame, source: DataFrame, docs: DataFrame,
                        idCol: String, textCol: String): DataFrame = {
    // Both models' count tables come out of ONE flagged union: the
    // unigram/bigram type spaces are keyed once and each side's count
    // is a conditional sum, so the two models cost two aggregates (not
    // four) and the corpus bigrams join TWO count relations (not
    // four). A key absent from one side carries count 0 where the
    // two-table shape carried NULL — identical under pE9's coalesce.
    // Disjointness of the splits is not assumed: a doc passed in both
    // contributes to both models, exactly as two separate counts
    // would. Measured at sf0.1 ONLY-mode: 0.92 -> see BASELINE r8.
    val text = target.select(col(textCol).as("__text"), lit(1L).as("__t"))
      .unionByName(source.select(col(textCol).as("__text"), lit(0L).as("__t")))
    val uni = text
      .select(explode(call_function("graft_tokens", col("__text"))).as("w1"),
        col("__t"))
      .groupBy(col("w1"))
      .agg(sum(col("__t")).as("c1_t"),
        sum(lit(1L) - col("__t")).as("c1_s"))
    val bi = text
      .select(explode(call_function("graft_shingles", col("__text"), lit(2)))
        .as("bg"), col("__t"))
      .groupBy(col("bg"))
      .agg(sum(col("__t")).as("c12_t"),
        sum(lit(1L) - col("__t")).as("c12_s"))
    val vd = uni.agg(
      sum(when(col("c1_t") > 0, 1L).otherwise(0L)).as("v_t"),
      sum(when(col("c1_s") > 0, 1L).otherwise(0L)).as("v_s"))
    val docBg = docs
      .select(col(idCol),
        explode(call_function("graft_shingles", col(textCol), lit(2))).as("bg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
    docBg
      .join(bi, Seq("bg"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(vd))
      .withColumn("p_t_e9", pE9(col("c12_t"), col("c1_t"), col("v_t")))
      .withColumn("p_s_e9", pE9(col("c12_s"), col("c1_s"), col("v_s")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("p_t_e9")).as("sum_p_target_e9"),
        sum(col("p_s_e9")).as("sum_p_source_e9"))
      .withColumn("score_target_e9", expr("sum_p_target_e9 div n_bigrams"))
      .withColumn("score_source_e9", expr("sum_p_source_e9 div n_bigrams"))
      .withColumn("importance_e9",
        col("score_target_e9") - col("score_source_e9"))
  }

  /** Order-n Stupid Backoff scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation") — the production-shaped
    * generalization of [[scoreDocs]]'s add-one bigram: CCNet's real
    * filter is a 5-gram KenLM, and Stupid Backoff is the smoothing
    * Brants showed matches Kneser-Ney at web scale while keeping the
    * counting embarrassingly distributable (no discount fitting, no
    * normalization pass — raw counts only).
    *
    *   S(w | ctx_{l-1}) = c(ctx_{l-1} w) / c(ctx_{l-1})   if c > 0
    *                    = 0.4 · S(w | ctx_{l-2})          otherwise
    *   S(w) = c(w) / N  at the unigram floor (0 for OOV tokens).
    *
    * Hash-exactness: 0.4^d is EXACTLY 2^d/5^d, so the backed-off score
    * at depth d is the integer `(1e9·2^d·c) div (5^d·c_ctx)` — pure
    * long arithmetic, ONE integer division per position, no IEEE
    * operation at all (stricter than the bigram path's one IEEE
    * divide; `div`/DuckDB `//` truncate identically on non-negatives).
    * Exact while 1e9·2^(n-1)·max_count < 2^63 — n=3 admits counts to
    * ~2.3e9, n=5 to ~5.8e8; past that the same plan flips to log-space
    * doubles (the [[Collocations]] caveat). The per-document score is
    * the order-free integer mean `sum_s_e9 div n_ngrams`.
    *
    * Scale shape: ALL orders 1..n are counted in ONE map-side-combined
    * aggregate (each order's gram strings are disjoint key spaces —
    * their token arity differs — so one union'd explode suffices, and
    * the count relation stays vocabulary-bounded per order: Brants'
    * "counts shuffle once"). N rides a 1-row broadcast derived from
    * the unigram slice of the SAME relation (ReusedExchange — no
    * second train pass). Scoring is factored through DISTINCT n-grams
    * — s_e9 is a function of the gram string alone, so each distinct
    * gram is scored ONCE (Brants' batch-scoring shape): the distinct
    * grams UNPIVOT their 2n-1 count lookups (suffix grams of length
    * 1..n ending at the last token; context grams of length 1..n-1
    * ending one earlier) into (role, key) rows, join the count
    * relation ONCE, and pivot back with conditional-max aggregates;
    * the corpus positions then join the scored-gram table by gram and
    * roll up per document. Position rows are touched twice (distinct +
    * the score join) instead of carrying the 2n-1× unpivot — measured
    * 1.97 → 1.23 s at sf0.1 (BASELINE r9; trigram repetition there is
    * ~10×), and the gap widens with corpus repetition and order. A
    * backed-off numerator being positive forces
    * its denominator positive (the context is a prefix of the found
    * gram), so no division guard is needed above the unigram floor.
    *
    * Output: (idCol, n_ngrams, n_oov, sum_s_e9, score_e9), one row per
    * document with >= n tokens; n_oov counts positions whose FULL
    * n-gram is unseen (the positions that backed off at least once).
    * n=2 reproduces Stupid-Backoff bigram scoring (NOT [[scoreDocs]] —
    * that is add-one smoothing, a different estimator kept for q155). */
  /** All 1..n gram counts of `train` in ONE map-side-combined aggregate
    * — the model relation (k, c). Each order's gram strings are a
    * disjoint key space (token arity differs), so one union'd explode
    * suffices and the relation stays vocabulary-bounded per order. */
  private def gramCounts(train: DataFrame, textCol: String, n: Int): DataFrame =
    train
      .select(explode(flatten(array((1 to n).map(k =>
        call_function("graft_shingles", col(textCol), lit(k))): _*))).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("c"))

  /** Count-threshold pruning (the distributable slice of KenLM/SRILM
    * model pruning — count cutoffs, not entropy pruning, whose log-diff
    * criterion is transcendental and would break hash-exactness): grams
    * of order >= 2 seen fewer than `minCount` times leave the model and
    * score as unseen (backoff fires); ALL unigrams stay, so the backoff
    * floor — and N, which sums the unigram slice — are untouched. This
    * is what bounds the model relation at corpus scale: singleton
    * higher-order grams are the vast majority of the type space (Brants
    * et al. prune exactly these) and carry the least signal.
    * `minCount <= 1` returns the relation unchanged (identical plan). */
  private def pruneGrams(grams: DataFrame, minCount: Int): DataFrame =
    if (minCount <= 1) grams
    else grams.filter(!col("k").contains(" ") || col("c") >= minCount)

  /** The trained backoff model as warehouse artifacts: the 1..n gram
    * count table (k, c) and the total token count N — what a deployment
    * materializes once and every scoring pass (batch or the
    * [[graft.streaming.StreamingBackoffScore]] twin) joins against.
    * N is a bounded 1-row collect. */
  def backoffTables(train: DataFrame, textCol: String, n: Int,
                    minCount: Int = 1): (DataFrame, Long) = {
    require(n >= 2 && n <= 6, s"order must be in [2, 6], got $n")
    val grams = pruneGrams(gramCounts(train, textCol, n), minCount)
    val nTok = grams
      .agg(sum(when(!col("k").contains(" "), col("c")))).head().getLong(0)
    (grams, nTok)
  }

  /** Per-position count-lookup key expressions over a token-array
    * column `t` holding one length-n gram's tokens: suffix grams of
    * length 1..n ending at the last token (roles n1..nN) and context
    * grams of length 1..n-1 ending one earlier (roles d2..dN) — the
    * 2n-1 lookups one backoff walk needs. Shared by the batch unpivot
    * and the streaming twin's join columns. */
  private[graft] def keyExprs(n: Int)
      : Seq[(String, org.apache.spark.sql.Column)] =
    (1 to n).map(l => s"n$l" -> array_join(slice(col("t"), n - l + 1, l), " ")) ++
      (2 to n).map(l => s"d$l" -> array_join(slice(col("t"), n - l + 1, l - 1), " "))

  /** The Stupid Backoff when-ladder over columns cn1..cnN, cd2..cdN and
    * `n_tok` — SHARED VERBATIM by the batch distinct-gram path and the
    * streaming twin, so the two cannot drift (the scoreExploded
    * precedent). Pure long arithmetic: depth-d score =
    * (1e9·2^d·cn) div (5^d·cd). */
  private[graft] def backoffLadder(n: Int): org.apache.spark.sql.Column = {
    val SCALE = 1000000000L
    def lvl(l: Int): org.apache.spark.sql.Column = {
      val d = n - l
      val num = SCALE * (1L << d)
      val den = Seq.fill(d)(5L).product
      if (l >= 2) expr(s"(${num}L * cn$l) div (${den}L * cd$l)")
      else expr(s"(${num}L * cn1) div (${den}L * n_tok)")
    }
    (n - 1 to 2 by -1)
      .foldLeft(when(col(s"cn$n") > 0, lvl(n))) { (acc, l) =>
        acc.when(col(s"cn$l") > 0, lvl(l))
      }
      .otherwise(lvl(1))
  }

  def scoreDocsBackoff(train: DataFrame, docs: DataFrame,
                       idCol: String, textCol: String, n: Int,
                       minCount: Int = 1): DataFrame = {
    require(n >= 2 && n <= 6, s"order must be in [2, 6], got $n")
    val grams = pruneGrams(gramCounts(train, textCol, n), minCount)
    // N = total train tokens, derived from the unigram slice of the
    // SAME count relation. The no-space predicate lives INSIDE the
    // aggregate (a `when`, not a `filter`): a filter on the grouping
    // key would be pushed below the count aggregate, making this
    // subtree's exchange canonicalize differently from the join side's
    // and costing a SECOND full train pass — with the conditional sum
    // both consumers share one ReusedExchange (plan-audited r9).
    val nd = grams
      .agg(sum(when(!col("k").contains(" "), col("c"))).as("n_tok"))
    val docGrams = docs
      .select(col(idCol),
        explode(call_function("graft_shingles", col(textCol), lit(n))).as("g"))
    val distinctG = docGrams.select(col("g")).distinct()
      .withColumn("t", split(col("g"), " "))
    val roles = keyExprs(n)
    val unpivoted = distinctG
      .select(col("g"), explode(array(roles.map { case (r, k) =>
        struct(lit(r).as("role"), k.as("k"))
      }: _*)).as("rk"))
      .select(col("g"), col("rk.role").as("role"), col("rk.k").as("k"))
    val pivotAggs =
      (1 to n).map(l => coalesce(max(when(col("role") === s"n$l", col("c"))),
        lit(0L)).as(s"cn$l")) ++
        (2 to n).map(l => coalesce(max(when(col("role") === s"d$l", col("c"))),
          lit(0L)).as(s"cd$l"))
    val sE9 = backoffLadder(n)
    val perGram = unpivoted
      .join(grams, Seq("k"), "left")
      .groupBy(col("g"))
      .agg(pivotAggs.head, pivotAggs.tail: _*)
      .crossJoin(broadcast(nd))
      .select(col("g"), sE9.as("s_e9"),
        when(col(s"cn$n") === 0, 1L).otherwise(0L).as("oov"))
    val scored = docGrams
      .join(perGram, Seq("g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(col("oov")).as("n_oov"),
        sum(col("s_e9")).as("sum_s_e9"))
      .withColumn("score_e9", expr("sum_s_e9 div n_ngrams"))
    // One consumer per call (q155/q161/q165/q166 each read it once),
    // so the rollup stays a plain lazy plan. A caller that re-reads the
    // per-doc scores (CCNet's warehouse artifact shape) materializes
    // them itself.
    scored
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; the
    * interpolated form of Chen & Goodman 1999 §2.7) — the smoothing the
    * LM family's other two estimators bracket: [[scoreDocs]] is add-one
    * (simplest), [[scoreDocsBackoff]] is Stupid Backoff (Brants' web
    * -scale approximation OF Kneser–Ney), and this is the real thing —
    * absolute discounting with the CONTINUATION unigram:
    *
    *   P(w|v) = (c(vw) − D)⁺ / c(v·)  +  D·N1+(v·)/c(v·) · N1+(·w)/B
    *
    * where c(v·) = Σ_w c(vw), N1+(v·) = #{w : c(vw)>0}, N1+(·w) =
    * #{v : c(vw)>0}, B = bigram types. "Glasses" scores low even
    * though "Francisco" is frequent — N1+(·w) counts CONTEXTS, not
    * occurrences (the KN insight add-one and Stupid Backoff lack).
    *
    * Hash-exactness: the discount D = 3/4 is an exact dyadic rational,
    * so on the common denominator 4·c(v·)·B the probability is the
    * exact integer fraction
    *
    *   p = [ (4·c(vw) − 3)⁺ · B  +  3 · N1+(v·) · N1+(·w) ]
    *       / [ 4 · c(v·) · B ]
    *
    * and `p_e9 = (1e9 · num) div den` — the multiply rides
    * Decimal(38,0) (num can pass 2^63/1e9 at corpus scale; `div` is
    * IntegralDivide, flooring exactly like DuckDB's HUGEINT `//`), den
    * and num themselves are exact in longs while c(vw)·B < 2^61.
    * PAST that bound this plan is UNGUARDED (r9 ADVICE, documented
    * deliberately): Spark's non-ANSI Long arithmetic would wrap
    * silently while the DuckDB twin's BIGINT raises — so the bound is
    * a stated operating limit, not a handled regime. c(vw)·B ≥ 2^61
    * needs a bigram observed ~2.3e18/B times; at B = 10^9 distinct
    * bigrams that is a 2.3e9-occurrence single bigram inside a
    * ~10^18-token corpus — beyond any published corpus, which is why
    * the guard is a documented limit rather than code. A deployment
    * crossing it should route the numerator through Decimal(38,0)
    * like the p_e9 multiply, or flip to log-space doubles (what
    * [[Collocations]] does for its PMI logs) at the cost of the exact
    * hash gate. An UNSEEN context (c(v·) = 0, so the
    * discounted term has no denominator) falls to the add-one-smoothed
    * continuation distribution `(N1+(·w) + 1) / (B + Vc)` with Vc =
    * #distinct continuation types — proper (positive, ≤ 1), exact, and
    * OOV-safe. Per-document score is the order-free integer mean.
    *
    * Scale shape: ONE bigram count aggregate over train; c(v·)/N1+(v·)
    * and N1+(·w) are two vocabulary-bounded rollups OF that relation
    * (no second train pass); B and Vc ride 1-row broadcasts. Scoring
    * is factored through DISTINCT document bigrams (the
    * [[scoreDocsBackoff]] shape): each distinct bigram takes the three
    * model joins once, the corpus positions join the scored table by
    * gram and roll up per document.
    *
    * Output: (idCol, n_bigrams, n_oov, sum_p_e9, score_e9) — the
    * [[scoreDocs]] schema; n_oov counts UNSEEN BIGRAMS (c(vw) = 0:
    * positions scored entirely by the interpolation mass). */
  def scoreDocsKneserNey(train: DataFrame, docs: DataFrame,
                         idCol: String, textCol: String): DataFrame = {
    // The bigram count relation feeds FIVE consumers (ctx, cont, B, Vc,
    // and the scoring join) whose pruned projections canonicalize
    // differently, so each re-scans and re-explodes the train corpus
    // (plan-audited r9: 7 parquet scans, 0 ReusedExchange). Left
    // unpinned on measurement: at x10 the plain plan ran 4.37 s against
    // 5.01 s with a localCheckpoint and 3.98-4.07 s with a cross-call
    // cache, all within heat; the tail is the model-probe joins
    // (OPTIMIZATION_r13.md, "Kneser–Ney cache variants at x10").
    val bi = train
      .select(explode(call_function("graft_shingles", col(textCol), lit(2)))
        .as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c12"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
    val ctx = bi.groupBy(col("w1"))
      .agg(sum(col("c12")).as("ctx_v"), count(lit(1)).as("n1p_v"))
    val cont = bi.groupBy(col("w2")).agg(count(lit(1)).as("n1p_w"))
    val tot = bi.agg(count(lit(1)).as("b_types"))
    val cv = cont.agg(count(lit(1)).as("v_cont"))
    val pE9 = expr(
      "CASE WHEN ctx_v IS NOT NULL THEN " +
        "(cast(1000000000 as decimal(38,0)) * " +
        "(greatest(4L * coalesce(c12, 0L) - 3L, 0L) * b_types + " +
        "3L * n1p_v * coalesce(n1p_w, 0L))) div (4L * ctx_v * b_types) " +
        "ELSE (cast(1000000000 as decimal(38,0)) * " +
        "(coalesce(n1p_w, 0L) + 1L)) div (b_types + v_cont) END")
    // docBg feeds two consumers (the distinct model probe and the final
    // positions join). Checkpointing it was MEASURED NEGATIVE (r9 A/B:
    // 1.31-1.40 vs 1.08-1.12 s ONLY-mode at sf0.1 — materializing ~1M
    // position rows costs more than re-running the row-local shingle
    // kernel), so both consumers recompute the cheap explode.
    val docBg = docs
      .select(col(idCol),
        explode(call_function("graft_shingles", col(textCol), lit(2))).as("bg"))
    val perBg = docBg.select(col("bg")).distinct()
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(bi.select(col("bg"), col("c12")), Seq("bg"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(cv))
      .select(col("bg"), pE9.cast("long").as("p_e9"),
        when(col("c12").isNull, 1L).otherwise(0L).as("oov"))
    docBg.join(perBg, Seq("bg"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("oov")).as("n_oov"),
        sum(col("p_e9")).as("sum_p_e9"))
      .withColumn("score_e9", expr("sum_p_e9 div n_bigrams"))
  }

  /** floor((1e9 * (c12+1)) / (c1+V)) with null counts as 0 — the one
    * multiply + one IEEE division + floor fixed-point rule. */
  private def pE9(c12: org.apache.spark.sql.Column,
                  c1: org.apache.spark.sql.Column,
                  v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor((lit(1000000000.0) * (coalesce(c12, lit(0L)) + lit(1L)).cast("double")) /
      (coalesce(c1, lit(0L)) + v).cast("double")).cast("long")

  /** Model relations: bigram counts (bg, c12), unigram counts (w1,
    * c1), vocabulary size as a 1-row frame (v) — all lazy. */
  private def modelFrames(train: DataFrame, textCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val text = train.select(col(textCol).as("__text"))
    val uni = text
      .select(explode(call_function("graft_tokens", col("__text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
      .withColumnRenamed("w", "w1")
    val bi = text
      .select(explode(call_function("graft_shingles", col("__text"), lit(2)))
        .as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c12"))
    (bi, uni, uni.agg(count(lit(1)).as("v")))
  }

  /** The trained model as warehouse tables: bigram counts (bg, c12),
    * unigram counts (w1, c1), and the vocabulary size — the artifact a
    * deployment materializes once and every scoring pass (batch OR the
    * [[graft.streaming.StreamingLmScore]] stream-static twin) joins
    * against. The vocabulary size is a bounded 1-row collect. */
  def modelTables(train: DataFrame, textCol: String)
      : (DataFrame, DataFrame, Long) = {
    val (bi, uni, vd) = modelFrames(train, textCol)
    (bi, uni, vd.head().getLong(0))
  }

  /** Scoring tail over pre-exploded document bigrams (idCol, bg, w1) —
    * shared verbatim by the batch path and the streaming twin, so the
    * twin cannot drift. `v` is either `col("v")` with `vocab` supplied
    * (batch: the vocabulary count rides the SAME job as a 1-row
    * broadcast — no separate count job per construction) or a literal
    * from [[modelTables]] (streaming: computed once at setup). */
  private[graft] def scoreExploded(docBg: DataFrame, idCol: String,
                                   bi: DataFrame, uni: DataFrame,
                                   v: org.apache.spark.sql.Column,
                                   vocab: Option[DataFrame] = None): DataFrame = {
    val joined0 = docBg
      .join(bi, Seq("bg"), "left")
      .join(uni, Seq("w1"), "left")
    val joined = vocab.map(vd => joined0.crossJoin(broadcast(vd)))
      .getOrElse(joined0)
    joined
      .withColumn("p_e9", pE9(col("c12"), col("c1"), v))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c12").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(col("p_e9")).as("sum_p_e9"))
      .withColumn("score_e9", expr("sum_p_e9 div n_bigrams"))
  }

  /** Pre-exploded bigram rows (idCol, bg, w1) for `docs` — row-local. */
  private[graft] def explodeBigrams(docs: DataFrame, idCol: String,
                                    textCol: String): DataFrame =
    docs
      .select(col(idCol),
        explode(call_function("graft_shingles", col(textCol), lit(2))).as("bg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))

  /** Score `docs` under a bigram LM counted on `train`. Output:
    * (idCol, n_bigrams, n_oov, sum_p_e9, score_e9) — one row per
    * document with at least one bigram (single-token documents have no
    * bigram evidence and do not appear); `n_oov` counts bigrams never
    * seen in train; `score_e9` in [0, 1e9]. Fully lazy — one job end
    * to end when executed.
    *
    * Factored through DISTINCT bigrams (r9, the [[scoreDocsBackoff]]
    * shape): p_e9 is a function of the bigram string alone, so each
    * distinct bigram is scored once (two count joins over the distinct
    * set) and the corpus positions join the scored table by bigram —
    * instead of every position row riding both count joins. Identical
    * arithmetic, identical output: NgramLmSpec pins this equal to the
    * [[scoreExploded]] tail, which [[graft.streaming.StreamingLmScore]]
    * still shares verbatim (a streaming frame cannot `distinct()`), so
    * the equality chain twin ≡ tail ≡ batch ≡ oracle stays closed. */
  def scoreDocs(train: DataFrame, docs: DataFrame,
                idCol: String, textCol: String): DataFrame = {
    val (bi, uni, vd) = modelFrames(train, textCol)
    val docBg = docs.select(col(idCol),
      explode(call_function("graft_shingles", col(textCol), lit(2))).as("bg"))
    val perBg = docBg.select(col("bg")).distinct()
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(bi, Seq("bg"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(vd))
      .select(col("bg"), pE9(col("c12"), col("c1"), col("v")).as("p_e9"),
        when(col("c12").isNull, 1L).otherwise(0L).as("oov"))
    docBg.join(perBg, Seq("bg"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("oov")).as("n_oov"),
        sum(col("p_e9")).as("sum_p_e9"))
      .withColumn("score_e9", expr("sum_p_e9 div n_bigrams"))
  }
}
