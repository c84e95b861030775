package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.ColumnOps

/** ETL pipeline operators (SURVEY §2.1/§2.9): keyed upsert, incremental
  * ingest, transform/normalize, and P9 variant-group tagging — each a
  * DataFrame → DataFrame function designed for partitioned execution.
  */
object Pipeline {

  /** S5 — keyed upsert (supabase_loader.py:164-228 `upsert on_conflict`):
    * latest-wins merge of `updates` into `base` on `key`, ordered by
    * `version` desc (ties: updates beat base).
    *
    * Scale: one shuffle on the key; with bucketed warehouse tables the
    * shuffle disappears (bucket-join). No driver-side state.
    */
  def upsert(base: DataFrame, updates: DataFrame, key: String,
             version: String): DataFrame = {
    // latest-wins as max_by with a (version, source) struct tie-break —
    // same winner the old row_number window picked (update beats base at
    // equal version; struct comparison is lexicographic so ties stay
    // deterministic), but as an AGGREGATE: partial max_by combines
    // map-side, so the shuffle carries at most one row per (key, map
    // partition) instead of every row, and the per-partition sort the
    // window needed disappears (A/B at sf0.1: 0.53 vs 0.59 s; the
    // shuffle-volume difference is the 100 TB argument)
    val u = base.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
    val payload = u.columns.filterNot(_ == key)
    // getField/backquotes, not col("__w.name"): a payload column whose
    // name contains a dot would otherwise parse as deeper nesting
    // (round-4 ADVICE)
    def ref(c: String) = col("`" + c.replace("`", "``") + "`")
    u.groupBy(col(key))
      .agg(max_by(struct(payload.map(ref): _*),
        struct(col(version), col("__src"))).as("__w"))
      .select(base.columns.map(c =>
        if (c == key) col(key) else col("__w").getField(c).as(c)): _*)
  }

  /** S5 under schema drift (supabase_loader.py:194-228): the base table's
    * schema is the contract. The reference retries a PGRST204 upsert with
    * the unknown columns dropped, and a PostgREST upsert leaves columns
    * absent from the payload untouched on conflicting rows — so here:
    *   - update columns the base lacks are DROPPED;
    *   - base columns the updates lack KEEP the existing row's value for
    *     updated keys (null for brand-new keys);
    *   - shared columns take the winner's value, including explicit nulls.
    *
    * Same single shuffle as [[upsert]]: the carry-forward window shares
    * the merge window's partitioning, so Catalyst reuses the exchange.
    */
  def upsertEvolving(base: DataFrame, updates: DataFrame, key: String,
                     version: String): DataFrame = {
    val extras = updates.columns.filterNot(base.columns.contains)
    val missing = base.columns
      .filterNot(c => updates.columns.contains(c) || c == key || c == version)
    val w = Window.partitionBy(col(key))
      .orderBy(col(version).desc, col("__src").desc)
    val carry = Window.partitionBy(col(key))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val merged = base.withColumn("__src", lit(0))
      .unionByName(updates.drop(extras: _*).withColumn("__src", lit(1)),
        allowMissingColumns = true)
      .withColumn("__rn", row_number().over(w))
    missing.foldLeft(merged) { (df, c) =>
      df.withColumn(c, coalesce(col(c),
        first(when(col("__src") === 0, col(c)), ignoreNulls = true).over(carry)))
    }
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")
  }

  /** S8 — delete-by-predicate as an anti-rewrite. */
  def deleteWhere(table: DataFrame, predicate: Column): DataFrame =
    table.filter(!predicate || predicate.isNull)

  /** D1/T1 — incremental ingest: drop rows whose key already exists in
    * `seen` (pipeline.py:152-193 / tracker.py:107-126 anti-join dedup).
    * `seen` is typically small relative to the batch → broadcast the keys.
    */
  def incrementalFilter(batch: DataFrame, seen: DataFrame, key: String): DataFrame =
    batch.join(broadcast(seen.select(col(key)).distinct()), Seq(key), "left_anti")

  /** Transform stage (SURVEY §3.1 step 4, product_transformer.py:94-140):
    * clean name/description, compute discount, dedup list columns.
    * Expects raw-product columns; passes everything else through. */
  def transformProducts(raw: DataFrame): DataFrame =
    raw
      .withColumn("name", ColumnOps.cleanName(col("name")))
      .withColumn("description", ColumnOps.cleanDescription(col("description")))
      .withColumn("discount_percentage",
        ColumnOps.discountPct(col("price_current"), col("price_original")))
      .withColumn("colors", ColumnOps.dedupCaseInsensitive(col("colors")))
      .withColumn("materials", ColumnOps.dedupCaseInsensitive(col("materials")))

  /** F10 (zara_extractor.py:478-487,538-543): row-validation filter — drop
    * products lacking a name, or lacking both images and a price. */
  def validProducts(raw: DataFrame): DataFrame =
    raw.filter(
      col("name").isNotNull && trim(col("name")) =!= "" &&
        (size(coalesce(col("image_urls"), array())) > 0 ||
          col("price_current").isNotNull))

  /** P9 — variant-group representative selection (pipeline.py:342-567):
    * group by `coalesce(parent_id, id)`, pick the member with the most
    * images (ties: smallest id), return (group_key, representative id).
    *
    * Scale: one window shuffle on the group key; skewed mega-groups would
    * need salting, but group size is bounded by color-variant counts (~10)
    * in this domain — documented rather than salted.
    */
  def variantRepresentatives(products: DataFrame, idCol: String,
                             parentCol: String, imagesCol: String): DataFrame = {
    val gk = coalesce(col(parentCol), col(idCol))
    val w = Window.partitionBy(col("group_key"))
      .orderBy(size(col(imagesCol)).desc, col(idCol))
    products
      .withColumn("group_key", gk)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("group_key"), col(idCol).as("representative_id"))
  }

  /** Skew-salted two-phase aggregation (SURVEY §7.4 risk 5): when one key
    * dominates (a mega variant-group, a viral product), a plain groupBy
    * funnels it through one reducer. Phase 1 aggregates on
    * (key, hash-salt) — spreading the hot key over `saltBuckets`
    * reducers — phase 2 combines the partials per key. Results are
    * identical to the unsalted aggregate (counts and sums are
    * associative). */
  def saltedCount(df: DataFrame, key: String, saltBuckets: Int): DataFrame =
    df.withColumn("__salt", pmod(xxhash64(col(key), monotonically_increasing_id()),
      lit(saltBuckets.toLong)))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__partial"))
      .groupBy(col(key))
      .agg(sum(col("__partial")).as("n"))

  /** Skew-salted argmax (the P9 representative pick for mega-groups):
    * phase 1 takes the per-(key, salt) best row by (orderCol desc,
    * tieBreak asc), phase 2 reduces the ≤saltBuckets partials per key.
    * Equivalent to the unsalted window argmax. */
  def saltedArgMax(df: DataFrame, key: String, orderCol: String,
                   tieBreak: String, saltBuckets: Int): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(xxhash64(col(tieBreak)), lit(saltBuckets.toLong)))
    val local = Window.partitionBy(col(key), col("__salt"))
      .orderBy(col(orderCol).desc, col(tieBreak))
    val global = Window.partitionBy(col(key))
      .orderBy(col(orderCol).desc, col(tieBreak))
    salted
      .withColumn("__rn", row_number().over(local))
      .filter(col("__rn") === 1) // ≤ saltBuckets survivors per key
      .withColumn("__rn2", row_number().over(global))
      .filter(col("__rn2") === 1)
      .drop("__salt", "__rn", "__rn2")
  }

  /** P9 tail — broadcast the representative's tags to every group member:
    * tag once per group, join the result back on the group key. */
  def broadcastGroupTags(products: DataFrame, groupTags: DataFrame,
                         idCol: String, parentCol: String): DataFrame = {
    val gk = coalesce(col(parentCol), col(idCol))
    products.withColumn("group_key", gk)
      .join(groupTags, Seq("group_key"), "left")
      .drop("group_key")
  }
}
