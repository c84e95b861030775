package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BloomFiltersSpec extends SparkSpec {
  import spark.implicits._

  private def bitmap(keys: org.apache.spark.sql.DataFrame): Array[Byte] =
    keys.agg(BloomFilters.bloomAgg(col("k"), 5000L, 5000L * 16).as("b"))
      .head().getAs[Array[Byte]](0)

  test("no false negatives: every inserted key hits") {
    val keys = spark.range(0, 5000).select(concat(lit("k"), col("id")).as("k"))
    val b = bitmap(keys)
    val misses = keys
      .filter(!BloomFilters.mightContain(lit(b), col("k"))).count()
    assert(misses === 0, "bloom filters must never false-negative")
  }

  test("absent keys mostly miss (fp rate bounded well under 5%)") {
    val keys = spark.range(0, 5000).select(concat(lit("k"), col("id")).as("k"))
    val b = bitmap(keys)
    val absent = spark.range(0, 5000).select(concat(lit("ABSENT"), col("id")).as("k"))
    val fp = absent.filter(BloomFilters.mightContain(lit(b), col("k"))).count()
    assert(fp < 250, s"fp=$fp of 5000 — rate too high for 16 bits/item")
  }

  test("beyond-cap sizing is refused, not silently clamped") {
    // Spark's BloomFilterAggregate Math.min-clamps to the session's
    // runtime.bloomFilter maxNumItems (4M) / maxNumBits (64M bits) —
    // the operator must refuse instead (round-4 ADVICE)
    val train = Seq("a", "b").toDF("shingle")
    val eval_ = Seq((1L, "a")).toDF("doc_id", "shingle")
    intercept[IllegalArgumentException] {
      BloomFilters.approxContamination(train, eval_, "doc_id", "shingle",
        expectedItems = 5_000_000L, numBits = 1000L)
    }
    intercept[IllegalArgumentException] {
      BloomFilters.approxContamination(train, eval_, "doc_id", "shingle",
        expectedItems = 1000L, numBits = 100_000_000L)
    }
    intercept[IllegalArgumentException] {
      BloomFilters.mightContainPartitioned(train, eval_, "doc_id", "shingle",
        expectedItemsPerPart = 5_000_000L, numBitsPerPart = 1000L)
    }
  }

  test("partitioned containment: no false negatives across partitions") {
    val train = spark.range(0, 20000)
      .select(concat(lit("k"), col("id")).as("k"))
    val probes = spark.range(0, 20000)
      .select((col("id") % 100).as("doc_id"), concat(lit("k"), col("id")).as("k"))
    val kept = BloomFilters.mightContainPartitioned(train, probes,
      "doc_id", "k", expectedItemsPerPart = 4000L,
      numBitsPerPart = 4000L * 16, numPartitions = 8).count()
    assert(kept === 20000L, "partitioned bloom must never false-negative")
  }

  test("partitioned containment: absent keys mostly pruned") {
    val train = spark.range(0, 20000)
      .select(concat(lit("k"), col("id")).as("k"))
    val absent = spark.range(0, 20000)
      .select((col("id") % 100).as("doc_id"),
        concat(lit("ABSENT"), col("id")).as("k"))
    val kept = BloomFilters.mightContainPartitioned(train, absent,
      "doc_id", "k", expectedItemsPerPart = 4000L,
      numBitsPerPart = 4000L * 16, numPartitions = 8).count()
    assert(kept < 1000, s"fp=$kept of 20000 — rate too high for 16 bits/item")
  }

  test("bloom-pruned contamination is EXACT even with adversarially tiny bitmaps") {
    // under-size the per-partition filters 100×: the FP rate degrades
    // to near-1 so pruning saves nothing, but the verify join must keep
    // the output bit-identical to the plain exact join
    val train = (0 until 2000).map(i => s"t$i").toDF("shingle")
    val eval_ = (
      (1 to 20).map(i => (1L, s"t$i")) ++
        (1 to 10).map(i => (2L, s"t$i")) ++ (1 to 10).map(i => (2L, s"x$i")) ++
        (1 to 20).map(i => (3L, s"y$i"))).toDF("doc_id", "shingle")
    val pruned = BloomFilters.contaminationBloomPruned(train, eval_,
      "doc_id", "shingle", expectedItemsPerPart = 8L, numBitsPerPart = 16L,
      numPartitions = 4)
    val prunedMap = pruned.select(col("doc_id"), col("n_hit"))
      .as[(Long, Long)].collect().toMap
    // doc 1 fully contained, doc 2 half, doc 3 disjoint (row kept, 0 hits)
    assert(prunedMap === Map(1L -> 20L, 2L -> 10L, 3L -> 0L))
  }

  test("verifiedHitsBloomPruned equals the plain join at ANY sizing, honest or adversarial") {
    val train = (0 until 2000).map(i => s"t$i").toDF("shingle")
    val eval_ = (
      (1 to 20).map(i => (1L, s"t$i")) ++
        (1 to 10).map(i => (2L, s"t$i")) ++ (1 to 10).map(i => (2L, s"x$i")) ++
        (1 to 20).map(i => (3L, s"y$i"))).toDF("doc_id", "shingle")
    val plain = eval_.join(train, Seq("shingle"))
      .select(col("doc_id"), col("shingle"))
      .as[(Long, String)].collect().sorted.toSeq
    Seq((2000L, 2000L * 16), (8L, 16L)).foreach { case (items, bits) =>
      val pruned = BloomFilters.verifiedHitsBloomPruned(train, eval_,
        "doc_id", "shingle", expectedItemsPerPart = items,
        numBitsPerPart = bits, numPartitions = 4)
        .as[(Long, String)].collect().sorted.toSeq
      assert(pruned === plain, s"sizing ($items, $bits) diverged from plain join")
    }
  }

  test("verifiedHitsBloomPruned verify join broadcasts the survivors side") {
    // the perf contract behind the q158 shape: the train side is
    // scanned but never shuffled in the verify — the survivors ride a
    // BroadcastHashJoin build side (AQE's own conversion would land
    // only after the train shuffle is written; BASELINE.md "Round-8:
    // x100 span/contamination dossier" measured 872 MB/batch that way)
    val train = (0 until 500).map(i => s"t$i").toDF("shingle")
    val eval_ = (1 to 20).map(i => (1L, s"t$i")).toDF("doc_id", "shingle")
    val plan = BloomFilters.verifiedHitsBloomPruned(train, eval_,
      "doc_id", "shingle", expectedItemsPerPart = 500L,
      numBitsPerPart = 8000L, numPartitions = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"verify join must broadcast the survivors side, got:\n$plan")
  }

  test("survivors broadcast is guarded: undersized bitmap + dirty eval " +
      "falls back to a shuffle join, output unchanged (r8 VERDICT #2)") {
    // Adversarial sizing: 8-item/16-bit bitmaps saturate, so EVERY
    // probe row survives pruning — 5000 "survivors" against a
    // threshold of 100. The unconditional broadcast() would pin all of
    // them on the driver; the guard must take the shuffle join instead
    // and still produce exactly the plain-join answer.
    val train = (0 until 400).map(i => s"t$i").toDF("shingle")
    val eval_ = (0 until 5000).map(i => (i.toLong % 50, s"t${i % 400}"))
      .toDF("doc_id", "shingle").distinct()
    val plain = eval_.join(train, Seq("shingle"))
      .select(col("doc_id"), col("shingle"))
      .as[(Long, String)].collect().sorted.toSeq
    // Stat-based broadcast off: at TEST scale the planner would choose
    // broadcast from size stats anyway (which is fine — stats-driven,
    // bounded), hiding whether the unconditional HINT is gone. With
    // the threshold at -1 a BroadcastHashJoin can only come from the
    // hint this guard exists to withhold.
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val guarded = BloomFilters.verifiedHitsBloomPruned(train, eval_,
        "doc_id", "shingle", expectedItemsPerPart = 8L, numBitsPerPart = 16L,
        numPartitions = 2, maxBroadcastSurvivorRows = 100)
      val plan = guarded.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"over-threshold survivors must NOT take the hinted broadcast:\n$plan")
      assert(guarded.as[(Long, String)].collect().sorted.toSeq === plain)

      // and the same inputs UNDER the threshold keep the hinted broadcast
      val hinted = BloomFilters.verifiedHitsBloomPruned(train, eval_,
        "doc_id", "shingle", expectedItemsPerPart = 8L, numBitsPerPart = 16L,
        numPartitions = 2, maxBroadcastSurvivorRows = 1 << 20)
      assert(hinted.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      assert(hinted.as[(Long, String)].collect().sorted.toSeq === plain)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("approxContamination upper-bounds the exact q71-style join") {
    // train shingles t0..t999; eval docs: doc 1 fully contained, doc 2
    // half contained, doc 3 disjoint
    val train = (0 until 1000).map(i => s"t$i").toDF("shingle")
    val eval_ = (
      (1 to 20).map(i => (1L, s"t$i")) ++
      (1 to 10).map(i => (2L, s"t$i")) ++ (1 to 10).map(i => (2L, s"x$i")) ++
      (1 to 20).map(i => (3L, s"y$i"))).toDF("doc_id", "shingle")
    val approx = BloomFilters.approxContamination(
        train, eval_, "doc_id", "shingle", expectedItems = 1000L,
        numBits = 1000L * 16)
      .select(col("doc_id"), col("contamination_ub"))
      .as[(Long, Double)].collect().toMap
    val exact = eval_.join(train.withColumn("hit", lit(1)), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1)))
        .as("c"))
      .as[(Long, Double)].collect().toMap
    exact.foreach { case (d, e) =>
      assert(approx(d) >= e - 1e-9, s"doc $d: approx ${approx(d)} < exact $e")
    }
    assert(approx(1L) === 1.0)      // fully contained: exact, no FP possible
    assert(approx(3L) < 0.3)        // disjoint: only FPs can hit
  }
}
