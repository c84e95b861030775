package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-filter containment — the approximate form of the q71 shingle
  * semi-join, for the corpus size where even the distinct train-shingle
  * set is too large to broadcast or join cheaply.
  *
  * Built on Spark's own runtime-filter machinery (the
  * `BloomFilterAggregate` / `BloomFilterMightContain` pair AQE injects
  * for join pruning), surfaced as the `graft_bloom_agg` /
  * `graft_bloom_contains` functions: the filter is built as a
  * DISTRIBUTED aggregate (per-partition sketches OR-merged
  * associatively — no node ever holds the item set, only the fixed-size
  * bitmap) and the probe is a codegen'd bit test. One-sided error: a
  * contained item always hits; an absent item false-positives at the
  * bits/item-configured rate, so contamination estimates are UPPER
  * bounds — the safe direction for a train/eval leakage gate (it can
  * quarantine a clean doc, never clear a contaminated one).
  */
object BloomFilters {

  /** Aggregate column: bloom bitmap (binary) over the keys. */
  def bloomAgg(key: Column, expectedItems: Long, numBits: Long): Column =
    call_function("graft_bloom_agg", key, lit(expectedItems), lit(numBits))

  /** Probe: might `key` be in `bloom`? `bloom` must be a CONSTANT
    * (literal bitmap) — Catalyst requires a foldable filter side. */
  def mightContain(bloom: Column, key: Column): Column =
    call_function("graft_bloom_contains", bloom, key)

  /** Hard capacity contract (round-4 ADVICE): Spark's
    * BloomFilterAggregate silently `Math.min`-clamps expectedItems /
    * numBits to `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`
    * (default 4M) and `.maxNumBits` (default 67,108,864 bits = 8 MB) —
    * a caller asking for 10^9 shingles at 16 bits/item (~2 GB) would
    * silently get an 8 MB filter whose FP rate is far looser than
    * configured (still an upper bound, but not the configured one).
    * Refuse instead of clamping; the partitioned variant below is the
    * path past the ceiling. */
  private def requireWithinCaps(df: DataFrame,
                                expectedItems: Long, numBits: Long): Unit = {
    val conf = df.sparkSession.conf
    val maxItems =
      conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems").toLong
    val maxBits =
      conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong
    require(expectedItems >= 1 && expectedItems <= maxItems,
      s"expectedItems=$expectedItems outside (0, $maxItems] — Spark would " +
        "silently clamp; raise the runtime.bloomFilter confs or use the " +
        "partitioned variant")
    require(numBits >= 1 && numBits <= maxBits,
      s"numBits=$numBits outside (0, $maxBits] — Spark would silently " +
        "clamp; raise the runtime.bloomFilter confs or use the " +
        "partitioned variant")
  }

  /** Approximate contamination (q71's semantics, bloom-bounded): per
    * eval doc, the fraction of its distinct `keyCol` values that MIGHT
    * appear in `trainKeys`. The aggregate runs distributed; only the
    * final bitmap (numBits/8 bytes) returns to the driver and ships to
    * probes as a literal, the same transfer Spark's own runtime filters
    * make. That literal is this path's ceiling: the session caps bound
    * it at 8 MB by default (refused above them, never clamped — see
    * [[requireWithinCaps]]); 10^9+ key sets (~2 GB at 16 bits/item)
    * go through [[mightContainPartitioned]] instead. */
  def approxContamination(trainKeys: DataFrame, evalKeyed: DataFrame,
                          idCol: String, keyCol: String,
                          expectedItems: Long, numBits: Long): DataFrame = {
    requireWithinCaps(trainKeys, expectedItems, numBits)
    val bitmap = trainKeys
      .agg(bloomAgg(col(keyCol), expectedItems, numBits).as("b"))
      .head().getAs[Array[Byte]](0)
    evalKeyed
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(mightContain(lit(bitmap), col(keyCol)), 1L).otherwise(0L))
          .as("n_might_hit"))
      .withColumn("contamination_ub",
        col("n_might_hit").cast("double") / col("n_keys"))
  }

  /** Partitioned bloom containment — the scale path past the literal
    * ceiling: the key space splits on `pmod(xxhash64(key), P)`, one
    * bitmap is aggregated PER partition (each within the session caps),
    * and probes meet their bitmap by CO-PARTITIONING, not broadcast —
    * `zipPartitions` over two sides repartitioned by the same part
    * column, so each task holds its partition's bitmaps exactly once
    * (a plain join on part would duplicate an 8 MB bitmap onto every
    * probe row, and a driver literal of all P bitmaps is the 2 GB
    * transfer this exists to avoid). Total capacity = P × per-partition
    * cap — 10^10 shingles at 16 bits/item is P=256 at default caps.
    *
    * Returns the probe rows (`idCol`, `keyCol`, cast long/string) that
    * MIGHT be contained — one-sided: contains every true hit plus the
    * per-partition FP rate of false ones. Typical composition feeds the
    * survivors to an exact verify join ([[contaminationBloomPruned]]),
    * where FPs cost verify work but never correctness. */
  def mightContainPartitioned(trainKeys: DataFrame, probes: DataFrame,
                              idCol: String, keyCol: String,
                              expectedItemsPerPart: Long, numBitsPerPart: Long,
                              numPartitions: Int = 64): DataFrame =
    probePartitionedBitmaps(
      buildPartitionedBitmaps(trainKeys, keyCol, expectedItemsPerPart,
        numBitsPerPart, numPartitions),
      probes, idCol, keyCol, numPartitions)

  /** The per-partition bitmap table (__part, __bloom) as a standalone
    * relation — the WAREHOUSE ARTIFACT of the partitioned-bloom path:
    * build it once over the train keys, write it (it is tiny — P ×
    * bits/8 bytes), and amortize it across every future probe batch
    * via [[probePartitionedBitmaps]]. One-shot callers keep using
    * [[mightContainPartitioned]], which composes the two. */
  def buildPartitionedBitmaps(trainKeys: DataFrame, keyCol: String,
                              expectedItemsPerPart: Long, numBitsPerPart: Long,
                              numPartitions: Int = 64): DataFrame = {
    requireWithinCaps(trainKeys, expectedItemsPerPart, numBitsPerPart)
    require(numPartitions >= 1, s"numPartitions must be >= 1, got $numPartitions")
    trainKeys
      .select(col(keyCol).cast("string").as("__key"))
      .withColumn("__part",
        pmod(xxhash64(col("__key")), lit(numPartitions.toLong)))
      .groupBy(col("__part"))
      .agg(bloomAgg(col("__key"), expectedItemsPerPart, numBitsPerPart).as("__bloom"))
  }

  /** Probe a (possibly persisted) bitmap table from
    * [[buildPartitionedBitmaps]]: co-partition probes with their
    * bitmap and keep the might-contain survivors. `numPartitions` must
    * match the build. */
  def probePartitionedBitmaps(bitmaps: DataFrame, probes: DataFrame,
                              idCol: String, keyCol: String,
                              numPartitions: Int): DataFrame = {
    val spark = probes.sparkSession
    import spark.implicits._
    val p = lit(numPartitions.toLong)
    val blooms = bitmaps
      .select(col("__part").cast("long"), col("__bloom"))
      .repartition(numPartitions, col("__part"))
    val probesP = probes
      .select(col(idCol).cast("long").as("__id"),
        col(keyCol).cast("string").as("__key"))
      .withColumn("__part", pmod(xxhash64(col("__key")), p))
      .repartition(numPartitions, col("__part"))
    // both sides share HashPartitioning(__part, P) — identical value →
    // identical task, so the per-task map sees every bitmap it needs
    val survivors = probesP.as[(Long, String, Long)].rdd.zipPartitions(
      blooms.as[(Long, Array[Byte])].rdd) { (pIt, bIt) =>
      val filters = bIt.map { case (part, bytes) =>
        part -> org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(bytes))
      }.toMap
      pIt.filter { case (_, key, part) =>
        // same hash chain as the aggregate: xxhash64(key) is what
        // graft_bloom_agg inserted (a part with no train keys has no
        // bitmap — a definite miss)
        filters.get(part).exists(_.mightContainLong(
          org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
            org.apache.spark.unsafe.types.UTF8String.fromString(key),
            org.apache.spark.sql.types.StringType, 42L)))
      }.map { case (id, key, _) => (id, key) }
    }
    survivors.toDF(idCol, keyCol)
  }

  // Both pruned-verify compositions below pin `trainKeys` for the call:
  // they read it once to aggregate the bitmaps and once to verify
  // survivors, and the RDD boundary inside [[probePartitionedBitmaps]]
  // (zipPartitions) hides the first subtree from Catalyst's
  // ReusedExchange matching — so without the pin the train
  // explode+distinct runs twice per call (sf0.1 Bench warm medians, 4
  // cores: q113 1.42 s pinned vs 1.58 s recomputed, q158 1.16 vs 1.50).
  // Nothing is kept for the next call: at warehouse scale the reuse
  // across probe batches is the caller's PERSISTED train-shingle table
  // (BASELINE.md "Round-8: x100 span/contamination dossier", amortized
  // regime).

  /** Exact contamination through the partitioned-bloom pruner: the
    * bitmap drops definite-miss keys (the bulk, at any real dup rate),
    * the survivors are verified by the exact semi-join, and the report
    * is EXACT — false positives cost verify work, never correctness.
    * This is the 100 TB shape of q71: the train-shingle set never
    * broadcasts, never joins the full eval stream, and the only
    * full-size shuffle is over the pruned candidates. */
  def contaminationBloomPruned(trainKeys: DataFrame, evalKeyed: DataFrame,
                               idCol: String, keyCol: String,
                               expectedItemsPerPart: Long, numBitsPerPart: Long,
                               numPartitions: Int = 64): DataFrame = {
    val train = trainKeys.localCheckpoint(true)
    val totals = evalKeyed
      .select(col(idCol).cast("long").as(idCol))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
    val candidates = mightContainPartitioned(train, evalKeyed,
      idCol, keyCol, expectedItemsPerPart, numBitsPerPart, numPartitions)
    val hits = candidates
      .join(train.select(col(keyCol).cast("string").as(keyCol)).distinct(),
        Seq(keyCol), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    totals.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("contamination",
        col("n_hit").cast("double") / col("n_shingles"))
  }

  /** Verified probe hits through the partitioned-bloom pruner — the
    * kill-rule composition (q153/q158's shape): prune the probe pairs
    * against the bitmaps, then verify survivors EXACTLY against the
    * train keys. Returns the verified (`idCol`, `keyCol`) pairs —
    * output-identical to the plain `probes JOIN trainKeys` at ANY
    * bloom sizing (false positives cost verify work, never output
    * bits), so callers' oracles stay the plain-join SQL.
    *
    * `trainKeys` must be distinct on `keyCol` (the kill rule counts
    * each dirty key once). The verify join broadcasts the SURVIVORS
    * side explicitly: they are miss-pruned to near the true-hit count
    * — the structural guarantee the bitmap buys — and the hint is what
    * keeps the train side un-shuffled (AQE alone converts to broadcast
    * only AFTER the train shuffle is written; BASELINE.md "Round-8:
    * x100 span/contamination dossier" measured 872 MB/batch with AQE's
    * late conversion vs batch-sized with the hint).
    *
    * The broadcast is GUARDED, not assumed (r8 VERDICT #2): "survivors
    * are tiny" is a sizing claim, and a heavily-contaminated probe
    * stream or an undersized bitmap breaks it — an unconditional
    * `broadcast()` then OOMs the driver at production scale. The
    * survivors are pinned for the call (recomputing them for the join
    * re-runs the bitmap build: q158 1.84 s vs 1.72 s pinned, sf0.1)
    * and counted by ONE parallel job; at or below
    * `maxBroadcastSurvivorRows` the verify join broadcasts the pinned
    * survivors, above it the same join runs as a shuffle join — still
    * exact, still bitmap-pruned, just paying the train-side exchange
    * the honest sizing would have avoided.
    *
    * The guard's price is the count job — linear in the survivor set,
    * not the probe stream (the probe pass was already paid by the
    * broadcast materialization it replaces); measured +0.2-0.3 s at
    * sf0.1's job floors (interleaved bench-protocol A/B, BASELINE r9).
    * (A bounded `limit(max+1).collect()` decider was tried first —
    * executeTake's incremental partition batches serialize the reduce
    * side and measured ~2× worse than the parallel count.) Default
    * threshold ~1M rows ≈ 100 MB of 13-gram survivors on the driver —
    * size to driver memory, and size the BITMAPS to make the fallback
    * unreachable. */
  def verifiedHitsBloomPruned(trainKeys: DataFrame, probes: DataFrame,
                              idCol: String, keyCol: String,
                              expectedItemsPerPart: Long, numBitsPerPart: Long,
                              numPartitions: Int = 64,
                              maxBroadcastSurvivorRows: Long = 1L << 20): DataFrame = {
    val train = trainKeys.localCheckpoint(true)
    val survivors = mightContainPartitioned(train, probes,
      idCol, keyCol, expectedItemsPerPart, numBitsPerPart, numPartitions)
      .localCheckpoint(true) // counted, then joined
    val verify = train.select(col(keyCol).cast("string").as(keyCol))
    val survivorSide =
      if (survivors.count() <= maxBroadcastSurvivorRows) broadcast(survivors)
      else survivors
    verify.join(survivorSide, Seq(keyCol))
      .select(col(idCol), col(keyCol))
  }
}
