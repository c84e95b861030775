package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data curation: language/domain
  * balancing without RNG state. Every decision derives from md5 of the
  * row id — reproducible across runs, machines, AND engines (the DuckDB
  * oracle computes the identical picks), stateless (no driver-side
  * sampling bookkeeping), and stable under repartitioning — properties
  * `DataFrame.sample`/`sampleBy` do not give.
  *
  * Extends the engine beyond the reference (which samples nothing) with
  * the pipeline-curation step every 100 TB corpus needs: per-stratum
  * rate control (up/down-weighting languages, sources, quality bands).
  */
object Sampling {

  /** Uniform 16-bit hash slot in [0, 65536): first 4 hex chars of
    * md5(id:salt). Row-local, codegen'd, portable. */
  def hashSlot(id: Column, salt: String): Column =
    conv(substring(md5(concat(id.cast("string"), lit(":" + salt))), 1, 4), 16, 10)
      .cast("int")

  /** Per-stratum rates: unlisted strata use `defaultRate`. Rate control
    * is a row-local when-chain — one scan, no shuffle, no per-stratum
    * passes. */
  def stratifiedRate(df: DataFrame, idCol: String, stratumCol: String,
                     rates: Map[String, Double], defaultRate: Double = 0.0,
                     salt: String = "graft"): DataFrame = {
    val bound = rates.foldLeft(lit(math.round(defaultRate * 65536).toInt)) {
      case (acc, (stratum, rate)) =>
        when(col(stratumCol) === stratum,
          lit(math.round(rate * 65536).toInt)).otherwise(acc)
    }
    df.filter(hashSlot(col(idCol), salt) < bound)
  }

  /** Deterministic n-way train/val/test split by cumulative fraction
    * boundaries over the hash slot: disjoint, exhaustive, reproducible
    * across engines/runs/repartitioning, and STABLE as the corpus grows —
    * a row's split never changes when new data arrives, the property
    * `randomSplit` loses (its splits reshuffle with partitioning) and
    * the one leakage audits depend on. Row-local when-chain; no shuffle. */
  def hashSplit(df: DataFrame, idCol: String, splits: Seq[(String, Double)],
                splitCol: String = "split",
                salt: String = "graft-split"): DataFrame = {
    require(splits.nonEmpty, "at least one split required")
    require(splits.forall(_._2 >= 0.0), "fractions must be non-negative")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got ${splits.map(_._2).sum}")
    val bounds = splits.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(f => math.round(f * 65536).toInt)
    val slot = hashSlot(col(idCol), salt)
    val label = splits.map(_._1).zip(bounds).dropRight(1)
      .foldLeft(Option.empty[Column]) { case (acc, (name, b)) =>
        Some(acc.map(_.when(slot < b, name)).getOrElse(when(slot < b, name)))
      }
      .map(_.otherwise(splits.last._1)).getOrElse(lit(splits.last._1))
    df.withColumn(splitCol, label)
  }

  /** EXACTLY `n` rows per stratum (fewer when the stratum is smaller),
    * picked by md5 order — a deterministic reservoir. One shuffle on the
    * stratum key; skewed strata can pre-thin with [[stratifiedRate]]
    * before ranking. */
  def stratifiedExact(df: DataFrame, idCol: String, stratumCol: String,
                      n: Int, salt: String = "graft"): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(concat(col(idCol).cast("string"), lit(":" + salt))), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .drop("__rk")
  }

  /** Temperature-resampled stratum mixture — the data-driven companion
    * of [[stratifiedRate]] (whose rates are caller-supplied constants):
    * materializes the alpha = 0.5 mixture that q77-style weights only
    * DESCRIBE. Per stratum s the keep rate is sqrt(n_min / n_s), so the
    * expected kept count is sqrt(n_min · n_s) ∝ n_s^0.5 — the
    * temperature-mixing target, with the smallest stratum kept whole
    * and every larger one down-sampled toward it. alpha is fixed at 0.5
    * because sqrt is the one power IEEE requires correctly rounded
    * (arbitrary pow is not — oracle-parity rules); the per-row decision
    * is the same md5 slot as every sampler here, so the pick is
    * reproducible across runs, engines, and repartitioning.
    *
    * Shape: one group-by over the stratum column (bounded output — a
    * stratum dimension is low-cardinality by construction: sources,
    * languages, quality bands), broadcast back, row-local filter. No
    * shuffle of the fact. */
  def temperatureResample(df: DataFrame, idCol: String, stratumCol: String,
                          salt: String = "graft-mix"): DataFrame = {
    val perStratum = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
    val floorN = perStratum.agg(min(col("__n")).as("__n_min"))
    val bounds = perStratum.crossJoin(broadcast(floorN))
      .select(col(stratumCol),
        floor(sqrt(col("__n_min").cast("double")) /
          sqrt(col("__n").cast("double")) * lit(65536.0))
          .cast("int").as("__bound"))
    df.join(broadcast(bounds), Seq(stratumCol))
      .filter(hashSlot(col(idCol), salt) < col("__bound"))
      .drop("__bound")
  }

  /** Source-mixture weights from persisted per-source count STATE
    * (r12, VERDICT r11 #5): q77 computes the temperature weights by
    * re-reading the corpus, but the (source, n) counts it needs are
    * exactly the mergeable state the incremental family persists —
    * counts add (the q181 contract), so the input may carry MULTIPLE
    * rows per source (one per ingest batch, unaggregated); the merge
    * is one group-by over state rows, never a document scan. Output
    * is q77's artifact bit-for-bit: w_s ∝ √n_s relative to the
    * largest source (α = 0.5 keeps the power IEEE-exact; max is the
    * order-free normalizer — the q77 oracle-parity rules). */
  def mixtureWeightsFromState(counts: DataFrame,
                              sourceCol: String = "source",
                              nCol: String = "n_docs"): DataFrame = {
    val merged = counts.groupBy(col(sourceCol))
      .agg(sum(col(nCol)).as("n_docs"))
    val top = merged.agg(max(col("n_docs")).as("n_max"))
    merged.crossJoin(broadcast(top))
      .select(col(sourceCol), col("n_docs"),
        floor(sqrt(col("n_docs").cast("double")) /
          sqrt(col("n_max").cast("double")) * 1e6)
          .cast("long").as("weight_e6"))
  }
}
