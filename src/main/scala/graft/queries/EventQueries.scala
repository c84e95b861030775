package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Event-time analytics over the `events` stream table — the batch twins
  * of the streaming semantics (§2.10): tumbling-window aggregation and
  * gap-based sessionization.
  *
  * `events.ts` is parquet TIMESTAMP(NANOS), surfaced as nanos-since-epoch
  * longs (`nanosAsLong`) — all window/gap math below is exact integer
  * arithmetic on nanos, so results are engine-exact by construction
  * (DuckDB side uses epoch_ns()).
  */
object EventQueries {

  private val HourNs = 3600L * 1000 * 1000 * 1000
  private val GapNs = 1800L * 1000 * 1000 * 1000 // 30-minute session gap
  private val DayNs = 86400L * 1000 * 1000 * 1000

  // Tumbling 1-hour windows: per (hour, event_type) counts + exact sums.
  private def q56(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("hour_start_ns", (col("ts") - pmod(col("ts"), lit(HourNs))).cast("long"))
      .groupBy(col("hour_start_ns"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // long-cents accumulator, not sum(decimal) and not round(): the
        // widened decimal buffer and Spark's double round() each cost a
        // BigDecimal per row (see q25's scaladoc)
        (sum(graft.operators.AggState.cents(col("value"))).cast("decimal(38,0)") /
          lit(100L).cast("decimal(20,0)")).cast("double").as("total_value"))
      .orderBy(col("hour_start_ns"), col("event_type"))

  // Gap-based sessionization: a new session starts after >30 min idle;
  // per user: session count, events, busiest session size.
  private def q57(s: SparkSession, d: String): DataFrame = {
    // DuckDB reads TIMESTAMP(NANOS) parquet at microsecond precision —
    // truncate our nanos likewise so gap comparisons are engine-exact
    // even when a gap lands within 1µs of the threshold.
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sessions = events(s, d)
      .withColumn("ts", (col("ts") - pmod(col("ts"), lit(1000L))).cast("long"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > GapNs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessions
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("n_events")).as("max_session_events"))
  }

  // As-of join (attribution): each purchase attributed to the user's
  // latest click at-or-before purchase time. Times are µs-truncated on
  // the Spark side to match DuckDB's parquet-nanos read precision (see
  // q57 note); clicks are deduped per (user, t) by max event_id so the
  // match is deterministic in both engines. Oracle uses DuckDB's native
  // ASOF LEFT JOIN — a direct cross-engine proof of the union+window
  // formulation in [[graft.operators.AsOfJoin]].
  // q66's attribution THROUGH the join-based as-of variant (r6's
  // backwardViaJoin — the bucketed-history probe shape): same oracle as
  // q66, so both as-of implementations carry independent cross-engine
  // evidence, not just the spec's mutual-equivalence replay.
  private def q139(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
      .withColumn("t", (col("ts") - pmod(col("ts"), lit(1000L))).cast("long"))
    val clicks = e
      .filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("t"))
      .agg(max(col("event_id")).as("click_id"))
      .withColumn("click_t", col("t"))
    val purchases = e
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("t").as("ts_ns"))
    graft.operators.AsOfJoin
      .backwardViaJoin(purchases, clicks, Seq("user_id"), "ts_ns", "t",
        payload = Seq("click_id", "click_t"))
  }

  // Interval-INTERVAL overlap join (incident correlation): per user,
  // every (error 30-min window, click 10-min window) pair that
  // overlaps, with the overlap length. RangeJoin.intervalOverlapJoin's
  // binning makes it an equi-join on (user, bin) with the
  // first-intersection-bin refinement — each pair emits from exactly
  // ONE bin, so there is no distinct/dedup shuffle (operator scaladoc;
  // the oracle is DuckDB's native inequality join).
  private def q147(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("long").as("t"))
    val err = e.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"),
        col("t").as("es"), (col("t") + lit(1800000000000L)).as("ee"))
    val clk = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("t").as("cs"), (col("t") + lit(600000000000L)).as("ce"))
    graft.operators.RangeJoin.intervalOverlapJoin(
        err, clk, Seq("user_id"), "es", "ee", "cs", "ce",
        binWidth = 1800000000000L)
      .select(col("user_id"), col("err_id"), col("click_id"),
        (least(col("ee"), col("ce")) - greatest(col("es"), col("cs")))
          .as("overlap_ns"))
  }

  private def q66(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
      .withColumn("t", (col("ts") - pmod(col("ts"), lit(1000L))).cast("long"))
    val clicks = e
      .filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("t"))
      .agg(max(col("event_id")).as("click_id"))
      .withColumn("click_t", col("t"))
    val purchases = e
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("t").as("ts_ns"))
    // event_id is unique — transform-shaped output, unordered on both
    // engines (the harness canonical-sorts; a trailing orderBy re-samples
    // the whole as-of pipeline)
    graft.operators.AsOfJoin
      .backward(purchases, clicks, Seq("user_id"), "ts_ns", "t",
        payload = Seq("click_id", "click_t"))
  }

  // Range join (follow-on activity): per error event, how much activity
  // the same user produced in the 30 minutes strictly after it. The
  // half-open [t+1µs, t+gap+1µs) window over µs-grid times is exactly
  // (t, t+gap]; the oracle states it as the plain inequality join DuckDB
  // can afford at oracle scale, while the Spark side goes through the
  // binned equi-join in [[graft.operators.RangeJoin]].
  private def q67(s: SparkSession, d: String): DataFrame = {
    val Us = 1000L
    val e = events(s, d)
      .withColumn("t", (col("ts") - pmod(col("ts"), lit(Us))).cast("long"))
    val errs = e
      .filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"),
        (col("t") + lit(Us)).as("win_start"),
        (col("t") + lit(GapNs + Us)).as("win_end"))
    // only the columns the aggregate reads go through the join shuffle
    val pts = e.select(col("user_id"), col("t"),
      col("event_type").as("f_type"))
    // Broadcast decision is AUTO (RangeJoin's size-threshold switch,
    // VERDICT r3 item 3): at this x10 point the binned error side
    // estimates 6.8 MB → broadcast, re-measured ≈ equal to the shuffle
    // shape (0.81 vs 0.78-1.07 s interleaved medians — at a 20% error
    // rate the broadcast build costs about what the point-side shuffle
    // saved). The switch pays off unconditionally when intervals are a
    // small fraction of the stream, and backs off to the shuffle join
    // past the threshold instead of OOMing the driver. Also measured
    // (r4): replacing the countDistinct below with a two-level
    // (err_id, f_type) pre-aggregate reads 0.97 vs 0.90 s — the Expand
    // is NOT the cost here (candidates are already near-unique per
    // (err, type)); rejected. Third shape (r5, VERDICT r4 item 3):
    // pre-aggregating points per (user, t, type) before the interval
    // join — the x10 stream has 1.023 points per (user, 30-min bin)
    // (1,000,000 points over 977,380 distinct pairs), so the extra
    // shuffle+aggregate buys a 2.3% probe-side reduction; measured
    // interleaved medians 1.105/0.929/0.783 (current) vs
    // 1.037/0.937/0.947 (pre-agg) — parity-to-worse, REJECTED. The
    // remaining gap to DuckDB is its vectorized inequality join on
    // L2-resident data — engine floor, not a plan defect.
    val matched = graft.operators.RangeJoin
      .intervalJoin(errs, pts, Seq("user_id"), "win_start", "win_end", "t", GapNs)
    val counts = matched
      .groupBy(col("err_id"))
      .agg(count(lit(1)).as("n_follow"), countDistinct(col("f_type")).as("n_types"))
    // err_id is a unique key — per-row transform output, no sort in the
    // operator semantics (the oracle is unordered too; a trailing global
    // orderBy measured +0.26 s at the x10 point, sample pass included)
    errs
      .select(col("err_id"), col("user_id"))
      .join(counts, Seq("err_id"), "left")
      .select(col("err_id"), col("user_id"),
        coalesce(col("n_follow"), lit(0L)).as("n_follow"),
        coalesce(col("n_types"), lit(0L)).as("n_types"))
  }

  // Exact quantiles + distinct counts per language over documents — the
  // oracle-checkable twins of the sketch aggregates (approx_percentile /
  // approx_count_distinct / HLL are asserted against these exact values
  // in SketchSpec; approximate answers are not cross-engine stable).
  // n_chars is integral and the quartile fractions are dyadic, so the
  // (n-1)·p interpolation is IEEE-exact in both engines.
  private def q68(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        expr("percentile(n_chars, 0.25D)").as("p25"),
        expr("percentile(n_chars, 0.5D)").as("p50"),
        expr("percentile(n_chars, 0.75D)").as("p75"))
      .orderBy(col("lang"))

  // Ordered conversion funnel: per user, the first view, the first click
  // STRICTLY AFTER that view, and the first purchase strictly after that
  // click — the sequenced version (a user who clicked before ever viewing
  // does not count as converted). Times are µs-truncated for cross-engine
  // exactness (q57 note).
  //
  // Shape (round-4, VERDICT r3 item 3): ONE exchange on user_id, then the
  // whole funnel happens inside that partitioning — three full-partition
  // window mins (each stage's condition reads the previous stage's column,
  // constant across the user's rows) and a final per-user aggregate that
  // reuses the same hash partitioning. PlanSpec asserts the
  // single-exchange property.
  //
  // Measured at x10 (1M events, interleaved medians): previous shape
  // (three filtered groupBy branches re-joined on user_id) 0.62 s; this
  // window shape 0.44-0.48 s; the broadcast variant (three filtered scans,
  // per-user dims broadcast, zero event shuffle) 0.74 s — REJECTED: slower
  // here, and its v/c broadcasts grow with the user base (unbounded on a
  // real corpus) while this shape shuffles each event exactly once at any
  // scale. Remaining gap to DuckDB (0.07 s) is single-node vectorization
  // constants on L2-resident data, not a plan defect — engine floor.
  private def q86(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events(s, d)
      .select(col("user_id"), col("event_type"),
        (col("ts") - pmod(col("ts"), lit(1000L))).cast("long").as("t"))
      .withColumn("view_t",
        min(when(col("event_type") === "view", col("t"))).over(w))
      .withColumn("click_t",
        min(when(col("event_type") === "click" && col("t") > col("view_t"),
          col("t"))).over(w))
      .withColumn("purchase_t",
        min(when(col("event_type") === "purchase" && col("t") > col("click_t"),
          col("t"))).over(w))
      .filter(col("view_t").isNotNull)
      .groupBy(col("user_id"))
      .agg(max(col("view_t")).as("view_t"), max(col("click_t")).as("click_t"),
        max(col("purchase_t")).as("purchase_t"))
      .select(col("user_id"), col("view_t"), col("click_t"), col("purchase_t"),
        when(col("purchase_t").isNotNull, "purchase")
          .when(col("click_t").isNotNull, "click")
          .otherwise("view").as("stage"))
  }

  // Retention cohorts: users grouped by first-active day (the cohort),
  // counted on each later day offset — the engagement matrix behind every
  // "day-N retention" dashboard. Day arithmetic is exact integer division
  // on epoch-nanos; two shuffles on user_id (first-day aggregate reuses
  // the event partitioning for the join) plus the small cohort rollup.
  private def q87(s: SparkSession, d: String): DataFrame = {
    // distinct (user, day) FIRST: the raw stream collapses to at most
    // users×days rows before anything joins, and the final count is a
    // plain count (a countDistinct on the joined stream would re-expand
    // every event into the aggregation). Measured at the x10 point:
    // 0.94 → 0.65 s (r3); re-measured r4: this shape 0.55 s vs a
    // window-cohort variant (min-over-user window instead of the
    // agg+join) 0.58 s — equal within noise, window REJECTED (no win).
    // A collect_set-per-user single-exchange variant also measured
    // parity (0.63/0.56 vs 0.65/0.57 interleaved medians) — REJECTED:
    // no win, and its per-user day-set grows unboundedly on a long
    // horizon while this shape's state is the bounded (user, day)
    // distinct. Remaining gap to DuckDB (0.035 s) is the multi-stage
    // job floor on 10 MB of de-duplicated pairs — engine floor, plan
    // asserted in PlanSpec.
    //
    // r5 (BASELINE.md "Round-5: x100 event smoke"): the repartition
    // below is the scale fix. distinct alone partitions by (user_id,
    // day); the first-day aggregate and the join then need user_id
    // partitioning, and once the per-user table outgrows the broadcast
    // threshold the join re-shuffles the whole pair table (x100 smoke:
    // shuffle bytes 2.8 → 82 MB for 10× data — super-linear). Declaring
    // the exchange on user_id ONCE lets the distinct (subset-key
    // distribution), the first-day aggregate, and the join all reuse
    // it — shuffle returns to stream-linear with NO broadcastability
    // assumption on the user table (the 100 TB case). Measured: x100
    // 1.22-1.40 → 0.98-1.01 s; x10 parity (0.47-0.50 both); sf0.1
    // +0.04 s (job floor, the broadcast join it replaces was free at
    // that size).
    val e = events(s, d)
      .select(col("user_id"), expr(s"ts div ${DayNs}L").as("day"))
      .repartition(col("user_id"))
      .distinct()
    val first = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    e.join(first, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  // Pivot (wide activity profile): one row per user, one column per
  // event type. The value list is EXPLICIT — with it Spark skips the
  // extra distinct-values job and the output schema is deterministic
  // (pivot-with-discovery would also order columns by the collation of
  // whatever values exist). Single shuffle, same as any groupBy.
  private def q90(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      // fill ONLY the pivot output columns: an unqualified fill(0L) would
      // also rewrite a null user_id to user 0 (colliding with a real user)
      // while the oracle keeps the NULL group row
      .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))

  // Trailing 7-day moving activity per (user, day): RANGE-framed window
  // over the integer day index — the "rows between" family the tumbling
  // (q56) and gap (q57) windows don't cover. Money stays in exact
  // long-cents (a double SUM over a sliding frame would be
  // addition-order-dependent); one shuffle on user_id, frames evaluated
  // per partition.
  private def q91(s: SparkSession, d: String): DataFrame = {
    // floor(), not a bare long cast: cast truncates toward zero, so a
    // negative value (refund) would round differently from the oracle's
    // FLOOR — latent with today's non-negative generator, divergent the
    // day real adjustment rows appear
    val perDay = events(s, d)
      .select(col("user_id"), expr(s"ts div ${DayNs}L").as("day"),
        floor(col("value") * 100 + lit(0.5)).as("cents"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("day_cents"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rangeBetween(-6, 0)
    perDay
      .select(col("user_id"), col("day"),
        col("n_events"),
        sum(col("n_events")).over(w).as("n_7d"),
        sum(col("day_cents")).over(w).as("cents_7d"))
  }

  // Event transition matrix (first-order Markov counts): how often each
  // event type follows each other type within a user's timeline — the
  // path-analysis primitive behind "what happens after an error".
  // One user-keyed window (lag over the µs grid with event_id tie-break,
  // same total order as q57's sessionization) + a 25-row rollup.
  private def q92(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        (col("ts") - pmod(col("ts"), lit(1000L))).cast("long").as("t"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  // Skewed fact⋈dim through the salted join: 70% of events funnel onto
  // key 0 by construction — the exact shape where a plain shuffle join
  // runs at the hot partition's pace. The salt spreads key 0 over 8
  // buckets; output must equal the plain join bit-for-bit (the oracle IS
  // the plain join). Checksum is an integer sum — no cross-row float
  // accumulation in oracle outputs.
  private def q109(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("event_id"),
      when(pmod(col("user_id"), lit(10)) < 7, lit(0L))
        .otherwise(pmod(col("user_id"), lit(25))).as("k"))
    val dim = graft.Tables.nation(s, d)
      .select(col("n_nationkey").cast("long").as("k"), col("n_name").as("label"))
    graft.operators.SkewJoin.salted(e, dim, "k",
        distributeBy = col("event_id"), buckets = 8)
      .groupBy("label")
      .agg(count(lit(1)).as("n_events"),
        sum(pmod(col("event_id"), lit(1000L))).as("checksum"))
  }

  // Fact-vs-fact skew through the hot-key split join: the same 70%-on-
  // key-0 funnel as q109, but the other side is a per-user registration
  // record DERIVED FROM THE STREAM — a second fact, not a dimension (at
  // production scale it is billions of rows; only its hot-key slice is
  // broadcastable, which is exactly what hotSplit broadcasts). Salting
  // cannot cover this shape: replicating a fact `buckets`× multiplies a
  // big shuffle by `buckets`. Output must equal the plain join
  // bit-for-bit — the oracle IS the plain join. The 2000-row threshold
  // splits genuinely at sf0.1/x10 (hot key ~70%·N, cold keys ~N/80) and
  // degrades CORRECTLY at other sizes: below it nothing is hot (pure
  // cold join), far above it everything is (pure broadcast join) — the
  // split is semantics-preserving at any threshold by construction.
  private def q111(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    val stream = e.select(col("event_id"),
      when(pmod(col("user_id"), lit(10)) < 7, lit(0L))
        .otherwise(pmod(col("user_id"), lit(25))).as("k"))
    val reg = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(col("event_id")).as("signup_id"))
      .select(pmod(col("user_id"), lit(25)).as("k"), col("signup_id"))
    graft.operators.SkewJoin.hotSplit(stream, reg, "k", hotThreshold = 2000L)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(pmod(col("event_id"), lit(1000L)) +
          pmod(col("signup_id"), lit(1000L))).as("checksum"))
  }

  // Time-travel join against versioned history: for every error event,
  // the user's SCD2-versioned activity state (last non-error event_type
  // version) active at error time. Composes q122's Scd2 build with the
  // AsOfJoin interval semantics — valid_from intervals partition each
  // user's timeline by construction, so "version containing t" ≡
  // "latest valid_from <= t", one carry-forward window, no range probe.
  // The change log is deduped per (user, µs) by max event_id first, so
  // valid_from is unique per user and both engines' as-of tie rules are
  // never exercised (q66 lesson).
  private def q125(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
      .withColumn("t", (col("ts") - pmod(col("ts"), lit(1000L))).cast("long"))
    // Measured (r5): repartition(user_id) before the dedup aggregate —
    // the q87 exchange-reuse shape — drops the plan from 3 exchanges to
    // 2 but reads parity-to-worse at sf0.1 (0.86-0.95 vs 0.70-1.16
    // across a noisy box; no run beat the 3-exchange shape). Why no win:
    // the repartition moves every raw row up front while the (user_id,
    // t) aggregate's own exchange moves map-side-combined rows, and the
    // as-of union re-shuffles the (small) version table regardless. The
    // q87 trick pays when the SAME wide stream feeds several subset-key
    // stages; here each stage consumes a successively smaller
    // derivative. REJECTED — keep the per-stage exchanges.
    //
    // Measured (r6): the bucketed-history probe (AsOfJoin.backwardViaJoin
    // against a Warehouse-bucketed Scd2 table; x_asof_hist_* bench lines)
    // answers in 0.786 s at x10 vs 1.01-1.08 s for this full pipeline —
    // but this fixture's ~50 versions/user is that shape's worst regime
    // (the join expands ~50× before partial-agg collapse), so the
    // union-window form stays q125's production shape; see BASELINE.md r6
    // and the backwardViaJoin scaladoc for the regime contract.
    val log = e.filter(col("event_type") =!= "error")
      .groupBy(col("user_id"), col("t"))
      .agg(max(struct(col("event_id"), col("event_type"))).as("__w"))
      .select(col("user_id"), col("t"),
        col("__w.event_id").as("event_id"), col("__w.event_type").as("event_type"))
    val hist = graft.operators.Scd2
      .fromChangeLog(log, Seq("user_id"), "t", "event_id", Seq("event_type"))
      .select(col("user_id"), col("valid_from"),
        col("event_type").as("active_type"), col("version"))
    val errs = e.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"), col("t"))
    graft.operators.AsOfJoin.backward(errs, hist,
      Seq("user_id"), "t", "valid_from", payload = Seq("active_type", "version"))
    // err_id unique — transform output, harness canonical-sorts
  }

  // Time-weighted average (the metric a step-function sensor/price feed
  // needs — plain AVG over-weights bursts): per user, value holds from
  // each event until the next, integral = Σ cents·Δt over the
  // observation window [first, last event]. Exact integer arithmetic
  // end-to-end: µs grid (cents×Δtµs ≤ 2.6e16/term, ≲70 terms/user —
  // no long overflow; DuckDB's int128 SUM is CAST down after), floor
  // division for the mean. One user-keyed window + one aggregate.
  private def q131(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t").asc, col("event_id").asc)
    events(s, d)
      .select(col("user_id"), col("event_id"),
        // integral div — float division of 1.7e18 ns loses sub-µs bits
        expr("ts div 1000").as("t"),
        graft.operators.AggState.cents(col("value")).as("cents"))
      .withColumn("nt", lead(col("t"), 1).over(w))
      .filter(col("nt").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(col("cents") * (col("nt") - col("t"))).as("ws"),
        sum(col("nt") - col("t")).as("dur"))
      .filter(col("dur") > 0)
      .select(col("user_id"), col("dur").as("duration_us"),
        expr("ws div dur").as("twa_cents"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q131_time_weighted_avg" -> q131 _,
    "q125_versioned_asof" -> q125 _,
    "q92_event_transitions" -> q92 _,
    "q109_salted_skew_join" -> q109 _,
    "q111_hot_split_join" -> q111 _,
    "q56_event_windows" -> q56 _,
    "q57_sessionization" -> q57 _,
    "q66_asof_attribution" -> q66 _,
    "q139_asof_via_join" -> q139 _,
    "q147_interval_overlap" -> q147 _,
    "q67_range_join_activity" -> q67 _,
    "q68_quantile_sketch" -> q68 _,
    "q86_event_funnel" -> q86 _,
    "q87_retention_cohorts" -> q87 _,
    "q90_event_pivot" -> q90 _,
    "q91_moving_window" -> q91 _
  )

  val oracle: Map[String, String] = Map(
    "q131_time_weighted_avg" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS t, " +
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM events), " +
        "w AS (SELECT user_id, t, cents, lead(t) OVER " +
        "(PARTITION BY user_id ORDER BY t, event_id) AS nt FROM e), " +
        "s AS (SELECT user_id, CAST(SUM(cents * (nt - t)) AS BIGINT) AS ws, " +
        "CAST(SUM(nt - t) AS BIGINT) AS dur FROM w WHERE nt IS NOT NULL " +
        "GROUP BY user_id) " +
        "SELECT user_id, dur AS duration_us, ws // dur AS twa_cents " +
        "FROM s WHERE dur > 0"),
    "q125_versioned_asof" ->
      ("WITH e AS (SELECT event_id, user_id, event_type, " +
        "epoch_ns(ts) - epoch_ns(ts) % 1000 AS t FROM events), " +
        "ne AS (SELECT user_id, t, arg_max(event_type, event_id) AS event_type, " +
        "MAX(event_id) AS event_id FROM e WHERE event_type <> 'error' " +
        "GROUP BY user_id, t), " +
        "o AS (SELECT user_id, t, event_id, event_type, " +
        "lag(event_type) OVER w AS prev, row_number() OVER w AS rn FROM ne " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)), " +
        "c AS (SELECT * FROM o WHERE rn = 1 OR prev IS DISTINCT FROM event_type), " +
        "v AS (SELECT user_id, event_type AS active_type, " +
        "CAST(row_number() OVER w2 AS BIGINT) AS version, t AS valid_from FROM c " +
        "WINDOW w2 AS (PARTITION BY user_id ORDER BY t, event_id)), " +
        "err AS (SELECT event_id AS err_id, user_id, t FROM e " +
        "WHERE event_type = 'error') " +
        "SELECT err.err_id, err.user_id, err.t, " +
        "v.active_type AS asof_active_type, v.version AS asof_version " +
        "FROM err ASOF LEFT JOIN v " +
        "ON err.user_id = v.user_id AND v.valid_from <= err.t"),
    "q111_hot_split_join" ->
      ("WITH l AS (SELECT event_id, CAST(CASE WHEN user_id % 10 < 7 THEN 0 " +
        "ELSE user_id % 25 END AS BIGINT) AS k FROM events), " +
        "r AS (SELECT CAST(user_id % 25 AS BIGINT) AS k, " +
        "MIN(event_id) AS signup_id FROM events " +
        "WHERE event_type = 'signup' GROUP BY user_id) " +
        "SELECT l.k, CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        "CAST(SUM(event_id % 1000 + signup_id % 1000) AS BIGINT) AS checksum " +
        "FROM l JOIN r ON l.k = r.k GROUP BY l.k"),
    "q109_salted_skew_join" ->
      ("SELECT n_name AS label, CAST(COUNT(*) AS BIGINT) AS n_events, " +
        "CAST(SUM(event_id % 1000) AS BIGINT) AS checksum FROM " +
        "(SELECT event_id, CASE WHEN user_id % 10 < 7 THEN 0 " +
        "ELSE user_id % 25 END AS k FROM events) e " +
        "JOIN nation ON n_nationkey = e.k " +
        "GROUP BY n_name ORDER BY label"),
    "q56_event_windows" ->
      ("SELECT hour_start_ns, event_type, COUNT(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value FROM " +
        "(SELECT epoch_ns(ts) - epoch_ns(ts) % 3600000000000 AS hour_start_ns, " +
        "event_type, value FROM events) " +
        "GROUP BY 1, 2 ORDER BY hour_start_ns, event_type"),
    "q57_sessionization" ->
      ("WITH t AS (SELECT user_id, event_id, epoch_ns(ts) AS tns FROM events), " +
        "flagged AS (SELECT user_id, tns, event_id, " +
        "CASE WHEN lag(tns) OVER (PARTITION BY user_id ORDER BY tns, event_id) IS NULL " +
        "OR tns - lag(tns) OVER (PARTITION BY user_id ORDER BY tns, event_id) > 1800000000000 " +
        "THEN 1 ELSE 0 END AS new_session FROM t), " +
        "sess AS (SELECT user_id, SUM(new_session) OVER " +
        "(PARTITION BY user_id ORDER BY tns, event_id ROWS UNBOUNDED PRECEDING) AS session_id " +
        "FROM flagged), " +
        "per_session AS (SELECT user_id, session_id, COUNT(*) AS n_events " +
        "FROM sess GROUP BY 1, 2) " +
        "SELECT user_id, COUNT(*) AS n_sessions, CAST(SUM(n_events) AS BIGINT) AS n_events, " +
        "MAX(n_events) AS max_session_events FROM per_session " +
        "GROUP BY user_id"),
    // q147: DuckDB's native inequality join is the oracle — the binned
    // equi-join must produce exactly the theta-join's pairs
    "q147_interval_overlap" ->
      ("WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts) AS t FROM events), " +
        "err AS (SELECT event_id AS err_id, user_id, t AS es, " +
        "t + 1800000000000 AS ee FROM e WHERE event_type = 'error'), " +
        "clk AS (SELECT event_id AS click_id, user_id, t AS cs, " +
        "t + 600000000000 AS ce FROM e WHERE event_type = 'click') " +
        "SELECT err.user_id, err_id, click_id, " +
        "least(ee, ce) - greatest(es, cs) AS overlap_ns " +
        "FROM err JOIN clk ON err.user_id = clk.user_id " +
        "AND es < ce AND cs < ee"),
    // q139: identical oracle as q66 — the join-based variant must be
    // indistinguishable from the union-window form cross-engine
    "q139_asof_via_join" ->
      ("WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts) AS t FROM events), " +
        "c AS (SELECT user_id, t, MAX(event_id) AS click_id FROM e " +
        "WHERE event_type = 'click' GROUP BY 1, 2), " +
        "p AS (SELECT event_id, user_id, t FROM e WHERE event_type = 'purchase') " +
        "SELECT p.event_id, p.user_id, p.t AS ts_ns, " +
        "c.click_id AS asof_click_id, c.t AS asof_click_t " +
        "FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.t >= c.t"),
    "q66_asof_attribution" ->
      ("WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts) AS t FROM events), " +
        "c AS (SELECT user_id, t, MAX(event_id) AS click_id FROM e " +
        "WHERE event_type = 'click' GROUP BY 1, 2), " +
        "p AS (SELECT event_id, user_id, t FROM e WHERE event_type = 'purchase') " +
        "SELECT p.event_id, p.user_id, p.t AS ts_ns, " +
        "c.click_id AS asof_click_id, c.t AS asof_click_t " +
        "FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.t >= c.t"),
    "q67_range_join_activity" ->
      ("WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts) AS t FROM events), " +
        "err AS (SELECT event_id AS err_id, user_id, t FROM e WHERE event_type = 'error') " +
        "SELECT err.err_id, err.user_id, " +
        "CAST(COUNT(f.event_id) AS BIGINT) AS n_follow, " +
        "CAST(COUNT(DISTINCT f.event_type) AS BIGINT) AS n_types " +
        "FROM err LEFT JOIN e f ON f.user_id = err.user_id " +
        "AND f.t > err.t AND f.t <= err.t + 1800000000000 " +
        "GROUP BY 1, 2"),
    "q92_event_transitions" ->
      ("WITH e AS (SELECT user_id, event_id, event_type, " +
        "epoch_ns(ts) - epoch_ns(ts) % 1000 AS t FROM events), " +
        "lagged AS (SELECT event_type AS next_type, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev_type " +
        "FROM e) " +
        "SELECT prev_type, next_type, COUNT(*) AS n FROM lagged " +
        "WHERE prev_type IS NOT NULL " +
        "GROUP BY prev_type, next_type ORDER BY prev_type, next_type"),
    "q91_moving_window" ->
      ("WITH pd AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day, " +
        "COUNT(*) AS n_events, " +
        "CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS day_cents " +
        "FROM events GROUP BY 1, 2) " +
        "SELECT user_id, day, CAST(n_events AS BIGINT) AS n_events, " +
        "CAST(SUM(n_events) OVER w AS BIGINT) AS n_7d, " +
        "CAST(SUM(day_cents) OVER w AS BIGINT) AS cents_7d " +
        "FROM pd WINDOW w AS (PARTITION BY user_id ORDER BY day " +
        "RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)"),
    "q90_event_pivot" ->
      ("SELECT user_id, " +
        "CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click, " +
        "CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error, " +
        "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase, " +
        "CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup, " +
        "CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS \"view\" " +
        "FROM events GROUP BY user_id"),
    "q86_event_funnel" ->
      ("WITH e AS (SELECT user_id, event_type, " +
        "epoch_ns(ts) - epoch_ns(ts) % 1000 AS t FROM events), " +
        "v AS (SELECT user_id, MIN(t) AS view_t FROM e " +
        "WHERE event_type = 'view' GROUP BY user_id), " +
        "c AS (SELECT e.user_id, MIN(e.t) AS click_t FROM e JOIN v " +
        "ON v.user_id = e.user_id AND e.t > v.view_t " +
        "WHERE e.event_type = 'click' GROUP BY e.user_id), " +
        "p AS (SELECT e.user_id, MIN(e.t) AS purchase_t FROM e JOIN c " +
        "ON c.user_id = e.user_id AND e.t > c.click_t " +
        "WHERE e.event_type = 'purchase' GROUP BY e.user_id) " +
        "SELECT v.user_id, v.view_t, c.click_t, p.purchase_t, " +
        "CASE WHEN p.purchase_t IS NOT NULL THEN 'purchase' " +
        "WHEN c.click_t IS NOT NULL THEN 'click' ELSE 'view' END AS stage " +
        "FROM v LEFT JOIN c ON c.user_id = v.user_id " +
        "LEFT JOIN p ON p.user_id = v.user_id"),
    "q87_retention_cohorts" ->
      ("WITH e AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events), " +
        "f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id) " +
        "SELECT f.cohort_day, e.day - f.cohort_day AS day_offset, " +
        "CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users " +
        "FROM e JOIN f ON f.user_id = e.user_id " +
        "GROUP BY 1, 2 ORDER BY cohort_day, day_offset"),
    "q68_quantile_sketch" ->
      ("SELECT lang, COUNT(*) AS n_docs, " +
        "CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources, " +
        "quantile_cont(n_chars, 0.25) AS p25, " +
        "quantile_cont(n_chars, 0.5) AS p50, " +
        "quantile_cont(n_chars, 0.75) AS p75 " +
        "FROM documents GROUP BY lang ORDER BY lang")
  )
}
