package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.ops.{CategoryMapping, ColumnOps}

/** Oracle queries for the per-row scalar/array operator families that were
  * previously spec-only (VERDICT r3 item 4): the X1-X3 cleaning battery,
  * the E5-E7 array operators, the X21-X23 category mappings and the
  * X12/X13 embedding-text builders. Inputs are deterministic functions of
  * p_partkey so each DuckDB oracle re-derives the expected output from the
  * construction rule — every branch of every operator is exercised by some
  * residue class.
  *
  * All of these are codegen'd column expressions (no UDFs), so the queries
  * double as plan-shape checks: a single projected scan, no shuffle.
  */
object ScalarOpsQueries {

  // X1 cleanName (whitespace collapse + Title Case + empty→Unknown
  // Product), X2 cleanDescription (collapse, empty→null), X3 discountPct
  // (decimal-exact, only when original > current). Prices are built so the
  // percentage is ALWAYS exact at one decimal (original ∈ {10.00, 5.00}
  // with integer-cent currents) — the 1-dp round is an identity in both
  // engines, sidestepping rounding-mode parity entirely; emitted ×10 as a
  // long per the no-float-hash rule.
  private def q95(s: SparkSession, d: String): DataFrame = {
    val k = col("p_partkey")
    val messyName = when(pmod(k, lit(11)) === 0, lit("   "))
      .otherwise(concat(lit("  "), col("p_name"), lit("\t"), col("p_brand"), lit(" ")))
    val messyDesc = when(pmod(k, lit(7)) === 0, lit(" \t "))
      .otherwise(concat(col("p_type"), lit("   "), col("p_brand")))
    val cur = (pmod(k, lit(1000)).cast("decimal(18,2)") / lit(100))
      .cast("decimal(18,2)")
    val orig = when(pmod(k, lit(9)) === 0, cur)
      .when(pmod(k, lit(13)) === 0, lit(BigDecimal("5.00")).cast("decimal(18,2)"))
      .otherwise(lit(BigDecimal("10.00")).cast("decimal(18,2)"))
    part(s, d).select(
      k.as("part_id"),
      ColumnOps.cleanName(messyName).as("name_clean"),
      ColumnOps.cleanDescription(messyDesc).as("desc_clean"),
      (ColumnOps.discountPct(cur, orig) * 10).cast("long").as("discount_x10"))
  }

  // E5 layFlatPick (all four positional rules incl. the short-list
  // fallbacks), E6 storedIndices (0-based positions of kept in full list),
  // E7 dedupCaseInsensitive (first-occurrence casing wins). URL lists of
  // length 0-6 crossed with all four rules cover every branch.
  private def q96(s: SparkSession, d: String): DataFrame = {
    val k = col("p_partkey")
    val n = pmod(k, lit(7)).cast("int")
    val urls = when(n === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), n), i =>
        concat(lit("u"), pmod(k * i, lit(97)).cast("string"),
          lit("_"), i.cast("string"))))
    val rule = element_at(
      array(lit("first_2"), lit("last_2"), lit("neg_4_to_2"), lit("neg_3_and_4")),
      (pmod(k, lit(4)) + 1).cast("int"))
    // r13 (guide §4): this projection is de-codegen'd by its HOFs, and
    // interpreted eval has no common-subexpression sharing — inlining
    // `urls` into every layFlatPick branch and again into storedIndices
    // re-evaluated the url-builder MANY times per row. Materializing
    // __urls/__kept as real columns across Project boundaries (which
    // CollapseProject keeps, because they are referenced repeatedly and
    // are not cheap) evaluates each once: 0.49 -> 0.19 s measured
    // (sf0.1; OPTIMIZATION_r13.md §5). Same expressions, same values, same hash.
    part(s, d).select(
        k.as("part_id"), rule.as("rule"), urls.as("__urls"), col("p_brand"))
      .withColumn("__kept", ColumnOps.layFlatPick(col("__urls"), col("rule")))
      .select(
        col("part_id"), col("rule"),
        array_join(col("__kept"), ",").as("kept_joined"),
        array_join(
          transform(ColumnOps.storedIndices(col("__kept"), col("__urls")),
            x => x.cast("string")),
          ",").as("idx_joined"),
        array_join(ColumnOps.dedupCaseInsensitive(array(
          upper(col("p_brand")), col("p_brand"), lit("ANODIZED"),
          lit("anodized"), lower(col("p_brand")))), ",").as("e7_joined"))
  }

  // X21/X22/X23: retailer→refitd category + top-layer role, display
  // mapping, footwear normalization. The 8 probe categories hit mapped
  // base/mid tops, a role-less bottom, outerwear, the trim/lower
  // normalization path (" Boots ", "SHOES"), and the unmapped default.
  private def q97(s: SparkSession, d: String): DataFrame = {
    val k = col("p_partkey")
    val cats = Seq("tshirts", "sweaters", "jeans", " Boots ", "SHOES",
      "gadgets", "jackets", "polos")
    val rc = element_at(array(cats.map(lit): _*), (pmod(k, lit(8)) + 1).cast("int"))
    part(s, d).select(
      k.as("part_id"), rc.as("retailer_cat"),
      CategoryMapping.categoryRefitd(rc).as("cat_refitd"),
      CategoryMapping.topLayerRole(rc).as("top_role"),
      CategoryMapping.displayCategory(rc).as("display_cat"),
      CategoryMapping.displaySubcategory(rc).as("display_subcat"),
      ColumnOps.footwearNormalize(rc).as("footwear_norm"))
  }

  // X12 embeddingText (null category/description dropped, empty
  // colors/style lists skipped, price bucket appended) + X13 storageUrl.
  private def q98(s: SparkSession, d: String): DataFrame = {
    val k = col("p_partkey")
    val cat = when(pmod(k, lit(6)) === 0, lit(null).cast("string")).otherwise(lit("tops"))
    val desc = when(pmod(k, lit(5)) === 0, lit(null).cast("string")).otherwise(col("p_type"))
    val colors = when(pmod(k, lit(3)) === 0, array().cast("array<string>"))
      .otherwise(array(lit("navy"), lower(col("p_brand"))))
    val styleTags = when(pmod(k, lit(4)) === 0, array(lit("minimal"), lit("clean")))
      .otherwise(array().cast("array<string>"))
    val price = pmod(k, lit(200)).cast("double")
    part(s, d).select(
      k.as("part_id"),
      ColumnOps.embeddingText(col("p_name"), cat, desc, colors, styleTags, price)
        .as("embed_text"),
      ColumnOps.storageUrl(lit("https://cdn.example.com"), lit("products"),
        concat(k.cast("string"), lit(".jpg"))).as("storage_url"))
  }

  // F10 row-validation filter (zara_extractor.py:478-487,538-543) through
  // the REAL Pipeline.validProducts operator: drop rows lacking a name, or
  // lacking both images and a price. Residues synthesize every drop
  // reason: null name (%5=0), whitespace-only name (%5=1), and the
  // images-AND-price-both-missing conjunction (%3=0 ∧ %4=0).
  private def q99(s: SparkSession, d: String): DataFrame = {
    val k = col("p_partkey")
    val raw = part(s, d).select(
      k.as("part_id"),
      when(pmod(k, lit(5)) === 0, lit(null).cast("string"))
        .when(pmod(k, lit(5)) === 1, lit("   "))
        .otherwise(col("p_name")).as("name"),
      when(pmod(k, lit(3)) === 0, array().cast("array<string>"))
        .otherwise(array(lit("img1"))).as("image_urls"),
      when(pmod(k, lit(4)) === 0, lit(null).cast("double"))
        .otherwise(lit(9.99)).as("price_current"))
    graft.etl.Pipeline.validProducts(raw)
      .select(col("part_id"), col("name"))
  }

  // E3 sizes→struct-array migration (docs/supabase_schema.sql:94-98),
  // emitted through to_json so the oracle can hash the exact shape.
  private def q101(s: SparkSession, d: String): DataFrame = {
    val k = col("p_partkey")
    val sizes = when(pmod(k, lit(6)) === 0, array().cast("array<string>"))
      .otherwise(array(
        concat(lit("S"), pmod(k, lit(3)).cast("string")), lit("M"),
        concat(lit("L"), pmod(k, lit(2)).cast("string"))))
    part(s, d).select(
      k.as("part_id"),
      to_json(ColumnOps.sizesToStructArray(sizes)).as("sizes_json"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q95_clean_discount" -> q95 _,
    "q96_array_pick_ops" -> q96 _,
    "q97_category_mapping" -> q97 _,
    "q98_embedding_text" -> q98 _,
    "q99_product_validation" -> q99 _,
    "q101_sizes_struct_json" -> q101 _
  )

  /** q95: cleaning re-derived with DuckDB regexes (the 'g' flag matters —
    * DuckDB replaces first-match by default) and a per-word ucfirst that
    * mirrors Spark's initcap on collapsed single-space input; discount from
    * exact integer cents. */
  private def cleanDiscountOracle: String =
    """SELECT p_partkey AS part_id,
      |  CASE WHEN p_partkey%11 = 0 THEN 'Unknown Product'
      |       ELSE array_to_string(list_transform(
      |         string_split(trim(regexp_replace(
      |           '  ' || p_name || chr(9) || p_brand || ' ', '\s+', ' ', 'g')), ' '),
      |         w -> upper(substr(w,1,1)) || lower(substr(w,2))), ' ')
      |  END AS name_clean,
      |  CASE WHEN p_partkey%7 = 0 THEN NULL
      |       ELSE trim(regexp_replace(p_type || '   ' || p_brand, '\s+', ' ', 'g'))
      |  END AS desc_clean,
      |  CASE WHEN o > c THEN CAST(((o - c) * 1000) // o AS BIGINT) END AS discount_x10
      |FROM (SELECT p_partkey, p_name, p_brand, p_type,
      |        p_partkey%1000 AS c,
      |        CASE WHEN p_partkey%9 = 0 THEN p_partkey%1000
      |             WHEN p_partkey%13 = 0 THEN 500 ELSE 1000 END AS o
      |      FROM part)
      |ORDER BY part_id""".stripMargin

  /** q96: list slicing with explicit positive indices (sidesteps dialect
    * differences in negative-slice semantics); E7 expectation derived from
    * the construction (first-occurrence casing = the UPPER variants). */
  private def arrayPickOracle: String =
    """WITH b AS (
      |  SELECT p_partkey, p_brand,
      |    list_transform(range(1, p_partkey%7 + 1),
      |      i -> 'u' || ((p_partkey*i)%97) || '_' || i) AS l,
      |    CASE p_partkey%4 WHEN 0 THEN 'first_2' WHEN 1 THEN 'last_2'
      |         WHEN 2 THEN 'neg_4_to_2' ELSE 'neg_3_and_4' END AS rule
      |  FROM part),
      |kp AS (
      |  SELECT p_partkey, p_brand, rule, l,
      |    CASE WHEN rule='first_2' THEN l[1:2]
      |         WHEN rule='last_2' THEN
      |           CASE WHEN len(l)>=2 THEN l[len(l)-1:len(l)] ELSE l END
      |         WHEN rule='neg_4_to_2' AND len(l)>=4 THEN l[len(l)-3:len(l)-2]
      |         WHEN rule='neg_3_and_4' AND len(l)>=4 THEN [l[len(l)-2], l[len(l)-3]]
      |         ELSE l[1:2] END AS kept
      |  FROM b)
      |SELECT p_partkey AS part_id, rule,
      |  COALESCE(array_to_string(kept, ','), '') AS kept_joined,
      |  COALESCE(array_to_string(list_transform(kept,
      |    u -> CAST(list_position(l, u) - 1 AS VARCHAR)), ','), '') AS idx_joined,
      |  upper(p_brand) || ',ANODIZED' AS e7_joined
      |FROM kp ORDER BY part_id""".stripMargin

  /** q97: all seven output columns as literal CASE tables over the 8 probe
    * categories — an independent restatement of refitd_category_mapping.py
    * + product_transformer.py display rules. */
  private def categoryMappingOracle: String =
    """SELECT p_partkey AS part_id,
      |  CASE p_partkey%8 WHEN 0 THEN 'tshirts' WHEN 1 THEN 'sweaters'
      |    WHEN 2 THEN 'jeans' WHEN 3 THEN ' Boots ' WHEN 4 THEN 'SHOES'
      |    WHEN 5 THEN 'gadgets' WHEN 6 THEN 'jackets' ELSE 'polos'
      |  END AS retailer_cat,
      |  CASE p_partkey%8 WHEN 0 THEN 'top' WHEN 1 THEN 'top'
      |    WHEN 2 THEN 'bottom' WHEN 3 THEN 'footwear' WHEN 4 THEN 'footwear'
      |    WHEN 5 THEN 'top' WHEN 6 THEN 'outerwear' ELSE 'top'
      |  END AS cat_refitd,
      |  CASE p_partkey%8 WHEN 0 THEN 'base' WHEN 1 THEN 'mid'
      |    WHEN 5 THEN 'base' WHEN 7 THEN 'base' END AS top_role,
      |  CASE p_partkey%8 WHEN 0 THEN 'Tops' WHEN 1 THEN 'Sweaters'
      |    WHEN 2 THEN 'Jeans' WHEN 3 THEN ' Boots ' WHEN 4 THEN 'Shoes'
      |    WHEN 5 THEN 'Gadgets' WHEN 6 THEN 'Outerwear' ELSE 'Polos'
      |  END AS display_cat,
      |  CASE p_partkey%8 WHEN 0 THEN 'T-Shirts' WHEN 6 THEN 'Jackets'
      |  END AS display_subcat,
      |  CASE p_partkey%8 WHEN 0 THEN 'tshirts' WHEN 1 THEN 'sweaters'
      |    WHEN 2 THEN 'jeans' WHEN 3 THEN ' boots ' WHEN 4 THEN 'footwear'
      |    WHEN 5 THEN 'gadgets' WHEN 6 THEN 'jackets' ELSE 'polos'
      |  END AS footwear_norm
      |FROM part ORDER BY part_id""".stripMargin

  /** q98: concat_ws skips NULL sections in both engines — the oracle
    * rebuilds each section under the same residue rules. */
  private def embeddingTextOracle: String =
    """SELECT p_partkey AS part_id,
      |  concat_ws(' | ', p_name,
      |    CASE WHEN p_partkey%6 = 0 THEN NULL ELSE 'Category: tops' END,
      |    CASE WHEN p_partkey%5 = 0 THEN NULL ELSE p_type END,
      |    CASE WHEN p_partkey%3 = 0 THEN NULL
      |         ELSE 'Colors: navy, ' || lower(p_brand) END,
      |    CASE WHEN p_partkey%4 = 0 THEN 'Style: minimal, clean' END,
      |    CASE WHEN p_partkey%200 < 50 THEN 'budget-friendly affordable'
      |         WHEN p_partkey%200 > 150 THEN 'premium luxury'
      |         ELSE 'mid-range' END) AS embed_text,
      |  'https://cdn.example.com/storage/v1/object/public/products/'
      |    || p_partkey || '.jpg' AS storage_url
      |FROM part ORDER BY part_id""".stripMargin

  /** q99: the keep-condition restated in SQL over the residue rules. */
  private def productValidationOracle: String =
    """SELECT p_partkey AS part_id, p_name AS name
      |FROM part
      |WHERE p_partkey%5 NOT IN (0, 1)
      |  AND NOT (p_partkey%3 = 0 AND p_partkey%4 = 0)
      |ORDER BY part_id""".stripMargin

  /** q101: Spark to_json on array<struct<size,available>> renders
    * `[{"size":"S0","available":true},...]` — rebuilt literally. */
  private def sizesStructOracle: String =
    """SELECT p_partkey AS part_id,
      |  CASE WHEN p_partkey%6 = 0 THEN '[]'
      |       ELSE '[{"size":"S' || (p_partkey%3) || '","available":true},'
      |         || '{"size":"M","available":true},'
      |         || '{"size":"L' || (p_partkey%2) || '","available":true}]'
      |  END AS sizes_json
      |FROM part ORDER BY part_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "q95_clean_discount" -> cleanDiscountOracle,
    "q96_array_pick_ops" -> arrayPickOracle,
    "q97_category_mapping" -> categoryMappingOracle,
    "q98_embedding_text" -> embeddingTextOracle,
    "q99_product_validation" -> productValidationOracle,
    "q101_sizes_struct_json" -> sizesStructOracle
  )
}
