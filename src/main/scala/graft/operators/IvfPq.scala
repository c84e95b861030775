package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF×PQ — the production ANN layout at extreme scale (Jégou et al.
  * 2011 §IV "IVFADC"; the FAISS `IVFx,PQy` default): coarse-quantize the
  * corpus into IVF cells, store only m-byte PQ codes per vector inside
  * each cell, and answer a query by (1) pruning to the `nprobe` cells
  * nearest the query — whole partition directories never read — then
  * (2) ADC-ranking the surviving codes — m table lookups + a sum per
  * row, no vector touched — then (3) exact integer re-rank of the
  * shortlist against the source table. At 10^10 vectors each rung cuts
  * the work: nprobe/numCells of the corpus is scanned, each scanned row
  * is m bytes, and only `shortlist` raw vectors are read.
  *
  * Codebooks here are GLOBAL (one PQ model for the whole corpus), not
  * per-cell residual codebooks: residual PQ encodes (v - centroid_cell)
  * and buys accuracy at equal bits, but it couples every code to its
  * cell assignment and would make the oracle replay quadratic in CTEs;
  * the accuracy delta is recovered by the exact re-rank pass, which the
  * recall spec pins. Determinism is inherited wholesale: md5-keyed IVF
  * seeds (q59-proven float-cosine parity), integer-Lloyd codebooks and
  * integer ADC (q132-proven) — so the full compose is oracle-replayable
  * (q133).
  */
object IvfPq {

  /** One-shot compose (the oracle-checked path): coarse cells + global
    * PQ trained inline, probe `nprobe` cells, ADC shortlist, exact
    * re-rank. [[build]]/[[topKIndexed]] is the warehouse form. */
  def topK(df: DataFrame, idCol: String, vecCol: String, probe: Seq[Float],
           k: Int, numCells: Int, nprobe: Int,
           m: Int, codesK: Int, iters: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k=$k")
    val cents = IvfIndex.centroids(df, idCol, vecCol, numCells)
    val probeCells = IvfIndex.rankCells(cents, probe, nprobe)
    val model = ProductQuantizer.fit(df, idCol, vecCol, m, codesK, iters)
    val cand = IvfIndex.assignCells(df, vecCol, cents)
      .filter(col("ivf_cell").isin(probeCells: _*))
    val encoded = ProductQuantizer.encode(cand, vecCol, model)
      .select(col(idCol), col(vecCol), col("pq_code"))
    ProductQuantizer.adcRerankTopK(
      encoded, idCol, vecCol, model, probe, shortlist, k)
  }

  /** Persist the composed index: codes table (idCol, pq_code)
    * PARTITIONED BY ivf_cell — a probe reads only nprobe cell
    * directories of m-byte codes — bucketed by id for the re-rank
    * join; sidecars `<table>_centroids` (IVF) and `<table>_codebooks`
    * (PQ) as in [[IvfIndex.build]] / [[ProductQuantizer.buildPqIndex]]. */
  def build(df: DataFrame, idCol: String, vecCol: String, table: String,
            numCells: Int, m: Int, codesK: Int, iters: Int,
            buckets: Int = 8): Unit = {
    val cents = IvfIndex.centroids(df, idCol, vecCol, numCells)
    IvfIndex.saveCentroids(df.sparkSession, table, cents)
    val model = ProductQuantizer.fit(df, idCol, vecCol, m, codesK, iters)
    ProductQuantizer.saveModel(df.sparkSession, table, model)
    graft.etl.Warehouse.writeBucketed(
      ProductQuantizer.encode(IvfIndex.assignCells(df, vecCol, cents),
          vecCol, model)
        .select(col(idCol), col("pq_code"), col("ivf_cell")),
      table, idCol, buckets, partitionBy = Seq("ivf_cell"))
  }

  /** Incremental maintenance of the composed index: assign cells with
    * the persisted coarse centroids, encode with the persisted
    * codebooks, append into the cell partitions — neither quantizer
    * retrains and existing partitions are untouched (FAISS
    * IndexIVFPQ.add semantics; see [[IvfIndex.append]]). */
  def append(spark: SparkSession, table: String, newRows: DataFrame,
             idCol: String, vecCol: String, buckets: Int = 8): Unit = {
    val cents = IvfIndex.loadCentroids(spark, table)
    val model = ProductQuantizer.loadModel(spark, table)
    graft.etl.Warehouse.writeBucketed(
      ProductQuantizer.encode(
          IvfIndex.assignCells(newRows, vecCol, cents), vecCol, model)
        .select(col(idCol), col("pq_code"), col("ivf_cell")),
      table, idCol, buckets, partitionBy = Seq("ivf_cell"),
      mode = org.apache.spark.sql.SaveMode.Append)
  }

  /** Query the persisted index: sidecar reads are O(numCells) and
    * O(m·codesK) driver rows; the codes scan carries an
    * `ivf_cell IN (…)` partition filter and never re-runs assignment or
    * encoding (IvfPqSpec asserts both on the plan); re-rank joins the
    * shortlist to the caller's vector table. */
  def topKIndexed(spark: SparkSession, table: String, vectors: DataFrame,
                  idCol: String, vecCol: String, probe: Seq[Float],
                  k: Int, nprobe: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k=$k")
    val cents = IvfIndex.loadCentroids(spark, table)
    val probeCells = IvfIndex.rankCells(cents, probe, nprobe)
    val model = ProductQuantizer.loadModel(spark, table)
    val codes = spark.table(table)
      .filter(col("ivf_cell").isin(probeCells: _*))
    ProductQuantizer.rerank(vectors,
      ProductQuantizer.adcTopK(codes, idCol, model, probe, shortlist),
      idCol, vecCol, probe, k)
  }
}
