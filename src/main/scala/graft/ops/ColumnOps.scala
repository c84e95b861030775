package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-function library: the reference's per-row scalar/array operators
  * (SURVEY §2.8 X1-X24, §2.5 E5-E9, §2.7 D2, §2.10 T3) re-expressed as
  * codegen-friendly Catalyst column expressions — no UDFs anywhere, so every
  * call site stays inside whole-stage codegen and pushdown-friendly plans.
  */
object ColumnOps {

  // ---- text cleaning ----

  /** X1 (product_transformer.py:53-59): collapse whitespace, trim, Title
    * Case, empty→"Unknown Product". Note: `initcap` differs from Python
    * `str.title()` on apostrophes/digits — documented delta (SURVEY §7.4).
    */
  def cleanName(c: Column): Column = {
    val collapsed = trim(regexp_replace(c, "\\s+", " "))
    when(collapsed.isNull || collapsed === "", lit("Unknown Product"))
      .otherwise(initcap(collapsed))
  }

  /** X2 (product_transformer.py:61-67): collapse whitespace, empty→null. */
  def cleanDescription(c: Column): Column =
    nullif(trim(regexp_replace(c, "\\s+", " ")), lit(""))

  /** X6 (zara_extractor.py:24-31): lower, non-alnum runs→'_', strip '_',
    * empty→"unknown". */
  def slugify(c: Column): Column = {
    val s = regexp_replace(regexp_replace(lower(c), "[^a-z0-9]+", "_"), "^_+|_+$", "")
    when(s.isNull || s === "", lit("unknown")).otherwise(s)
  }

  /** X7 (zara_extractor.py:641-645): `{base_id}_{color_slug}`. */
  def variantId(baseId: Column, color: Column): Column =
    concat_ws("_", baseId, slugify(color))

  /** X8 (file_loader.py:32-37): strip non-word chars, spaces→'_', cap 50. */
  def sanitizeFilename(c: Column): Column =
    substring(regexp_replace(regexp_replace(c, "[^\\w\\s-]", ""), "\\s+", "_"), 1, 50)

  /** X4 (zara_extractor.py:929-935): product id from URL — `-p(\d+).html`
    * match, else last path segment minus `.html`. */
  def productIdFromUrl(url: Column): Column = {
    val m = regexp_extract(url, "-p(\\d+)\\.html", 1)
    when(m =!= "", m).otherwise(
      regexp_replace(element_at(split(url, "/"), -1), "\\.html$", ""))
  }

  /** X9 (zara_extractor.py:988-1009): first numeric run in text → double. */
  def parsePriceText(c: Column): Column =
    nullif(regexp_replace(regexp_extract(c, "([\\d.,]+)", 1), ",", ""), lit(""))
      .cast("double")

  /** X10 (supabase_loader.py:297-318): file extension sniffing chain. */
  def extensionFromUrl(url: Column): Column = {
    val u = lower(url)
    when(u.endsWith(".png"), ".png")
      .when(u.endsWith(".webp"), ".webp")
      .when(u.endsWith(".gif"), ".gif")
      .when(u.endsWith(".jpeg") || u.endsWith(".jpg"), ".jpg")
      .otherwise(".jpg")
  }

  /** X11 (embeddings.py:155-163): price → descriptive bucket text. */
  def priceBucketText(price: Column): Column =
    when(price < 50.0, "budget-friendly affordable")
      .when(price > 150.0, "premium luxury")
      .otherwise("mid-range")

  /** X13 (curate.py:100-105, pipeline.py:456-460): public storage URL
    * builder `{base}/storage/v1/object/public/{bucket}/{path}`. */
  def storageUrl(baseUrl: Column, bucket: Column, path: Column): Column =
    concat(baseUrl, lit("/storage/v1/object/public/"), bucket, lit("/"), path)

  /** X14 (refitd_tagger.py:1124-1130): confidence clamp to [0,1], parse
    * failure → 0.5. */
  def confidenceClamp(c: Column): Column =
    least(greatest(coalesce(c.cast("double"), lit(0.5)), lit(0.0)), lit(1.0))

  /** X19 (export_training_data.py:35-37): `max(1, len(text)//4)`. */
  def tokenEstimate(c: Column): Column =
    greatest(lit(1L), floor(length(c) / 4).cast("long"))

  /** X23 (supabase_loader.py:136-141): footwear category normalize. */
  def footwearNormalize(cat: Column): Column =
    when(lower(cat).isin("shoes", "boots", "footwear"), "footwear")
      .otherwise(lower(cat))

  /** X5 (zara_extractor.py:915-927): product name from a URL slug — strip
    * `-p<digits>.html`, split on '-', Title-Case join. */
  def nameFromUrlSlug(url: Column): Column = {
    val slug = regexp_replace(element_at(split(url, "/"), -1), "-p\\d+\\.html$", "")
    initcap(regexp_replace(slug, "-", " "))
  }

  /** X12 (embeddings.py:115-165): embedding text builder — name, category,
    * truncated description, colors, style tags, price bucket joined with
    * " | "; null/empty segments dropped (concat_ws skips nulls). */
  def embeddingText(name: Column, category: Column, description: Column,
                    colors: Column, styleTags: Column, price: Column,
                    descLimit: Int = 500): Column =
    concat_ws(" | ",
      name,
      when(category.isNotNull, concat(lit("Category: "), category)),
      when(description.isNotNull, substring(description, 1, descLimit)),
      when(size(colors) > 0, concat(lit("Colors: "), array_join(colors, ", "))),
      when(size(styleTags) > 0, concat(lit("Style: "), array_join(styleTags, ", "))),
      priceBucketText(price))

  /** X17 (curate.py:7545-7557): parse the removed-tags list back out of a
    * change summary — `Removed:\s*([^;]+?)(?:;|$)`, split on ','. */
  def parseRemovedFromSummary(summary: Column): Column = {
    val seg = regexp_extract(summary, "Removed:\\s*([^;]+)", 1)
    when(seg =!= "", transform(split(seg, ","), t => trim(t)))
      .otherwise(array().cast("array<string>"))
  }

  /** E3 (docs/supabase_schema.sql:94-98): plain size list → struct array
    * `[{size, available: true}]` (the sizes_availability migration). */
  def sizesToStructArray(sizes: Column): Column =
    transform(sizes, s => struct(s.as("size"), lit(true).as("available")))

  /** E9 (zara_extractor.py:1215-1325): flatten nested composition
    * (parts→areas→components) to "pct material" strings; for shoes keep
    * only the part literally named "UPPER". Expects the
    * composition_structured shape from ProductSources.rawProductSchema. */
  def flattenComposition(comp: Column, isShoes: Column): Column = {
    val parts = when(isShoes,
      filter(comp.getField("parts"), p => upper(p.getField("name")) === "UPPER"))
      .otherwise(comp.getField("parts"))
    flatten(flatten(transform(parts, p =>
      transform(p.getField("areas"), a =>
        transform(a.getField("components"), c =>
          concat_ws(" ", c.getField("percentage"), c.getField("material")))))))
  }

  // ---- money ----

  /** X3 (product_transformer.py:97-102): discount percent, only when
    * original > current; decimal-exact arithmetic (2dp inputs). */
  def discountPct(current: Column, original: Column): Column = {
    val cur = current.cast("decimal(18,2)")
    val orig = original.cast("decimal(18,2)")
    when(orig > cur && orig > 0,
      round((lit(1).cast("decimal(18,2)") - cur / orig) * 100, 1))
  }

  // ---- arrays ----

  /** E7 (product_transformer.py:69-81): case-insensitive order-preserving
    * dedup (first occurrence wins, original casing of first kept). */
  def dedupCaseInsensitive(arr: Column): Column =
    transform(
      array_distinct(transform(arr, x => lower(x))),
      lx => element_at(filter(arr, x => lower(x) === lx), 1))

  /** E5 (pipeline.py:256-279 + config/settings.py:105-113): positional
    * "lay-flat" image pick per category rule. Rules: first_2 | last_2 |
    * neg_4_to_2 (`urls[-4:-2]`) | neg_3_and_4 (`[urls[-3], urls[-4]]`). */
  def layFlatPick(urls: Column, rule: Column): Column = {
    val n = size(urls)
    when(rule === "first_2", slice(urls, 1, 2))
      .when(rule === "last_2", when(n >= 2, slice(urls, -2, 2)).otherwise(urls))
      .when(rule === "neg_4_to_2" && n >= 4, slice(urls, -4, 2))
      .when(rule === "neg_3_and_4" && n >= 4,
        array(element_at(urls, -3), element_at(urls, -4)))
      .otherwise(slice(urls, 1, 2))
  }

  /** E6 (pipeline.py:288-295): 0-based indices of kept urls in full list. */
  def storedIndices(kept: Column, all: Column): Column =
    transform(kept, u => array_position(all, u).cast("int") - 1)

  // ---- tag diff set-algebra (D2, tag_comparison.py:53-157) ----

  /** Elements of `corrected` absent from `original`, sorted+distinct. */
  def addedTags(original: Column, corrected: Column): Column =
    array_sort(array_except(corrected, original))

  /** Elements of `original` absent from `corrected`, sorted+distinct. */
  def removedTags(original: Column, corrected: Column): Column =
    array_sort(array_except(original, corrected))

  /** Intersection, sorted+distinct. */
  def unchangedTags(original: Column, corrected: Column): Column =
    array_sort(array_intersect(original, corrected))

  /** X16 (curation_history_service.py:94-111): change-summary string
    * "Added: a, b; Removed: c". concat_ws skips null sections — same
    * semantics as collecting the non-empty parts, but stays inside
    * whole-stage codegen (an array+filter HOF here is CodegenFallback and
    * de-codegens the whole projection). */
  def changeSummary(added: Column, removed: Column): Column =
    concat_ws("; ",
      when(size(added) > 0, concat(lit("Added: "), array_join(added, ", "))),
      when(size(removed) > 0, concat(lit("Removed: "), array_join(removed, ", "))))

  // ---- freshness (T3) ----

  /** T3 (docs/Inventory Ingestion & Freshness Pipeline): staleness score.
    * Rational decay `1 / (1 + ageDays/tauDays)` — IEEE-only ops so the
    * score is bit-reproducible across engines (unlike exp()); monotone
    * decreasing in age, 1.0 when fresh, 0.5 at tau. */
  def freshnessScore(ageDays: Column, tauDays: Column): Column =
    lit(1.0) / (lit(1.0) + ageDays.cast("double") / tauDays.cast("double"))
}
