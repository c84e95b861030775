package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic Lloyd k-means over an embedding column, in EXACT
  * integer arithmetic so the DuckDB oracle replays every iteration
  * bit-identically (the q88 PageRank strategy applied to clustering).
  *
  * Purpose (SemDeDup, Abbas et al. 2023, arXiv:2303.09540): k-means is
  * the blocking stage of semantic dedup — cluster the corpus, then
  * compare pairs only WITHIN clusters, turning the O(N²) corpus-wide
  * sweep into O(Σ n_c²) with k chosen so n_c ≈ N/k stays bounded.
  *
  * Determinism strategy:
  *  - floats are quantized once via floor(x·2²⁰): a float widens to
  *    double exactly, scaling by a power of two only shifts the
  *    exponent (no rounding), and floor lands on a long — identical in
  *    any IEEE-754 engine;
  *  - distances are squared-L2 over the quantized longs (integer sums,
  *    order-free);
  *  - centroid updates are exact floor division sum/count
  *    (`Math.floorDiv`; the oracle mirrors with the %/`//` identity);
  *  - seeds are the k rows with smallest (md5(id), id) ([[seedRows]],
  *    also IvfIndex's centroid pick), identical in both engines;
  *  - argmin ties break to the lowest cell id (array_position takes
  *    the first occurrence; the oracle sorts by (dist, cell)).
  *
  * Scale shape: one Lloyd loop ([[lloyd]]) trains m contiguous
  * subspaces at once — m = 1 here, m > 1 for [[ProductQuantizer]]. The
  * seed rows are collected once; each iteration is a row-local argmin
  * per subspace over a broadcast k×(d/m) literal (the data never moves)
  * and ONE map-side-combined aggregate keyed by (subspace, cell) that
  * collects m·k rows of d/m+1 longs — driver traffic O(k·d) per
  * iteration, independent of corpus size and of m.
  * Overflow headroom: |component| ≤ 2²⁰ padded to 2²¹, so per-dim sums
  * stay in-long up to ~2⁴² rows per cluster.
  */
object KMeans {

  /** 2²⁰ — power of two so `x * Scale` is exact for every float x. */
  val Scale = 1048576.0

  /** Array[Float] → Array[Long] via floor(x·2²⁰); exact cross-engine. */
  def quantize(vecCol: Column): Column =
    transform(vecCol.cast("array<double>"), x => floor(x * lit(Scale)))

  /** Squared L2 distance between two quantized (long) vectors. */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  /** [[quantize]] on the driver: floor(x·2²⁰) of the float widened to
    * double, bit-identical to the column form. */
  def quantizeVec(v: Seq[Float]): Seq[Long] =
    v.map(x => math.floor(x.toDouble * Scale).toLong)

  /** The deterministic seed pick: raw vectors of the (up to) k rows with
    * smallest (md5(id-as-string), id) — a uniform pseudo-random pick both
    * engines compute identically (md5 hex compares lexicographically in
    * both). Shared by k-means seeding and [[IvfIndex.centroids]]. */
  def seedRows(df: DataFrame, idCol: String, vecCol: String, k: Int): Array[Seq[Float]] =
    df.select(col(vecCol), md5(col(idCol).cast("string")).as("__h"), col(idCol).as("__id"))
      .orderBy(col("__h"), col("__id"))
      .limit(k)
      .collect()
      .map(_.getSeq[Float](0))

  /** Quantized seeds: exactly k of [[seedRows]], quantized on the driver. */
  def seeds(df: DataFrame, idCol: String, vecCol: String, k: Int): Array[Seq[Long]] = {
    val picked = seedRows(df, idCol, vecCol, k).map(quantizeVec)
    require(picked.length == k, s"corpus has only ${picked.length} rows for k=$k seeds")
    picked
  }

  /** Nearest-centroid assignment: one row-local argmin over the
    * broadcast k×d literal via the codegen'd `graft_argmin_l2` kernel;
    * ties take the lowest cell id. Input must carry the quantized vector
    * as `__v`; adds `cellCol`. [[assignHof]] is the declarative twin the
    * spec pins the kernel against. */
  def assign(quantized: DataFrame, cents: Array[Seq[Long]],
             cellCol: String = "cluster_id"): DataFrame =
    quantized.withColumn(cellCol,
      call_function("graft_argmin_l2", col("__v"), typedlit(cents.toSeq)))

  /** HOF twin of [[assign]] (interpreted — `transform`/`zip_with`/
    * `aggregate` fall out of codegen; measured ~96 µs/row at k=8, d=64
    * vs the kernel's loop). Kept as the parity oracle for KMeansSpec. */
  def assignHof(quantized: DataFrame, cents: Array[Seq[Long]],
                cellCol: String = "cluster_id"): DataFrame = {
    val cl = typedlit(cents.toSeq)
    quantized
      .withColumn("__dists", transform(cl, c => sqDist(col("__v"), c)))
      .withColumn(cellCol,
        (array_position(col("__dists"), array_min(col("__dists"))) - 1).cast("int"))
      .drop("__dists")
  }

  /** Run `iters` full Lloyd iterations (assign → exact-floor-div
    * update, empty cells carry their previous centroid) then a final
    * assignment. Returns (input + `__v` + `cellCol`, final centroids).
    * The one-subspace case of [[lloyd]].
    */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int,
          cellCol: String = "cluster_id"): (DataFrame, Array[Seq[Long]]) = {
    val base = df.withColumn("__v", quantize(col(vecCol)))
    val cents = lloyd(base, seeds(df, idCol, vecCol, k), 1, iters).head
    (assign(base, cents, cellCol), cents)
  }

  /** The one Lloyd loop over `m` contiguous subspaces of `__v`: codebook
    * s starts as slice s of `seeds`, and subspace s of every row is
    * assigned and averaged against codebook s only, so the result equals
    * m one-subspace fits on the slices. An empty cell keeps its previous
    * centroid within its own subspace. Returns [subspace][cell] → centroid. */
  private[operators] def lloyd(base: DataFrame, seeds: Array[Seq[Long]],
                               m: Int, iters: Int): Array[Array[Seq[Long]]] = {
    require(seeds.nonEmpty && iters >= 0,
      s"need k>=1, iters>=0 (got k=${seeds.length} iters=$iters)")
    val d = seeds.head.length
    require(m >= 1 && d % m == 0, s"dim $d not divisible into $m subspaces")
    val sub = d / m
    var books = Array.tabulate(m)(s => seeds.map(_.slice(s * sub, (s + 1) * sub)))
    for (_ <- 1 to iters) {
      val parts = books.indices.map { s =>
        val v = slice(col("__v"), s * sub + 1, sub)
        struct(call_function("graft_argmin_l2", v, typedlit(books(s).toSeq)).as("c"),
          v.as("v"))
      }
      val sums = (0 until sub).map(j => sum(element_at(col("__p.v"), j + 1)))
      val updated = base.select(posexplode(array(parts: _*)).as(Seq("__s", "__p")))
        .groupBy(col("__s"), col("__p.c"))
        .agg(count(lit(1)), sums: _*)
        .collect()
        .map { r =>
          val n = r.getLong(2)
          (r.getInt(0), r.getInt(1)) ->
            (0 until sub).map(j => Math.floorDiv(r.getLong(j + 3), n))
        }.toMap
      books = books.zipWithIndex.map { case (b, s) =>
        b.indices.map(c => updated.getOrElse((s, c), b(c))).toArray
      }
    }
    books
  }

  /** Nearest OTHER centroid per cell: (cellCol, nn_cell, nn_dist) — a
    * k-row LOCAL relation (centroid lists are driver-bounded by the
    * KMeans contract; ties break to the lower cell id). */
  def nnCentroids(spark: SparkSession, cents: Seq[Seq[Long]],
                  cellCol: String = "cluster_id"): DataFrame = {
    require(cents.length >= 2, "nearest-other-centroid needs k >= 2")
    import spark.implicits._
    def sqd(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    cents.indices.map { i =>
      val (bj, bd) = cents.indices.filter(_ != i)
        .map(j => j -> sqd(cents(i), cents(j)))
        .minBy { case (j, dd) => (dd, j) }
      (i, bj, bd)
    }.toDF(cellCol, "nn_cell", "nn_dist")
  }

  /** The cluster-quality report off PERSISTED state (r12, VERDICT r11
    * #4): q201's artifact — per cluster the exact mean within-cluster
    * squared-L2 scatter plus the nearest other centroid — computed
    * from a stored (id, cell) assignment table and a centroid list,
    * never a re-fit (the q205 bin-state convention: a deployment
    * reports off yesterday's persisted assignment; only q201's
    * in-query simulation pays the Lloyd iterations). One id-keyed
    * join of state to the vector table + one k-row aggregate; the
    * centroid algebra rides a broadcast literal. */
  def qualityFromState(assignments: DataFrame, vectors: DataFrame,
                       idCol: String, vecCol: String, cents: Seq[Seq[Long]],
                       cellCol: String = "cluster_id"): DataFrame = {
    val centLit = typedlit(cents.indices.map(i => i -> cents(i)).toMap)
    val intra = vectors
      .select(col(idCol), quantize(col(vecCol)).as("__v"))
      .join(assignments.select(col(idCol), col(cellCol)), Seq(idCol))
      .withColumn("__d", sqDist(col("__v"), element_at(centLit, col(cellCol))))
      .groupBy(col(cellCol))
      .agg(count(lit(1)).as("n_members"),
        sum(col("__d").cast("decimal(38,0)")).as("__ssw"))
      .select(col(cellCol), col("n_members"),
        expr("cast(__ssw div n_members as bigint)").as("mean_ssw"))
    intra.join(nnCentroids(vectors.sparkSession, cents, cellCol), Seq(cellCol))
  }
}
