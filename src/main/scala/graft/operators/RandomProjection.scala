package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Johnson-Lindenstrauss random sign projection — the dimensionality-
  * reduction rung of the ANN ladder (Achlioptas 2003, "Database-friendly
  * random projections": a ±1 sign matrix satisfies the JL lemma with
  * the same distortion bounds as Gaussian projections while keeping the
  * arithmetic integer-exact). Vectors project d → k via
  *
  *   y_j = Σ_i s_ij · q_i,   q_i = floor(x_i · 2²⁰),  s_ij ∈ {+1, −1}
  *
  * with the signs derived from md5 — `s_ij = +1 iff the first hex char
  * of md5("<seed>|<i>|<j>") is even` (1-based i, j) — so both engines
  * materialize the SAME matrix from the seed string alone and every
  * projected coordinate is exact long arithmetic (the [[KMeans]]
  * quantization convention; no float summation order anywhere).
  *
  * Query path is the ladder's standard shortlist-then-rerank contract
  * ([[ProductQuantizer]]/[[ScalarQuantizer]]): rank the corpus by
  * squared L2 between PROJECTED vectors (k longs instead of d floats —
  * a 4× flop and byte cut at k = d/4), take a shortlist, then exact
  * cosine re-rank fixes the metric. Projection is row-local (zero
  * shuffle — one map over the scan); the sign matrix is k·d literals
  * riding the plan, never a join. Unlike PQ/IVF there is NO trained
  * model — the "model" is the seed — so appending vectors to a
  * projected index is trivially rebuild-identical, and the projected
  * table composes with any downstream ANN rung (an IVF over projected
  * vectors prunes cells in the reduced space).
  *
  * Overflow headroom: |q_i| ≤ 2²⁰ for unit-scale embeddings, so
  * |y_j| ≤ d·2²⁰ and the squared-distance sum is ≤ k·(2·d·2²⁰)² —
  * at d = 64, k = 16 that is 2^58, inside long range.
  */
object RandomProjection {

  /** The deterministic ±1 sign matrix, k rows (output dims) × d columns
    * (input dims). DuckDB twin: `CASE WHEN strpos('02468ace',
    * substr(md5(seed || '|' || i || '|' || j), 1, 1)) > 0 THEN 1 ELSE -1
    * END` — the parity of the md5 hex head. */
  def signs(seed: String, d: Int, k: Int): Array[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(k) { j0 =>
      Array.tabulate(d) { i0 =>
        val h = md.digest(s"$seed|${i0 + 1}|${j0 + 1}".getBytes("UTF-8"))
        if (((h(0) >> 4) & 1) == 0) 1L else -1L
      }
    }
  }

  /** Adds `outCol` = projected array<long> (length k) for a float-vector
    * column. Row-local; the quantized intermediate is materialized once
    * across the k per-coordinate aggregates (the q31 CollapseProject
    * convention). */
  def project(df: DataFrame, vecCol: String, outCol: String,
              signMatrix: Array[Array[Long]]): DataFrame = {
    val terms = signMatrix.map { row =>
      aggregate(
        zip_with(col("__q"), typedlit(row.toSeq), (x, s) => x * s),
        lit(0L), (acc, x) => acc + x)
    }
    df
      .withColumn("__q", KMeans.quantize(col(vecCol)))
      .withColumn(outCol, array(terms.toIndexedSeq: _*))
      .drop("__q")
  }

  /** Driver-side projection of a query vector — same arithmetic. */
  def projectQuery(q: Seq[Float], signMatrix: Array[Array[Long]]): Seq[Long] = {
    val quant = q.map(x => math.floor(x.toDouble * KMeans.Scale).toLong)
    signMatrix.toSeq.map(row =>
      row.iterator.zip(quant.iterator).map { case (s, x) => s * x }.sum)
  }

  /** JL shortlist + exact cosine re-rank: rank by squared L2 in the
    * k-dim projected space (ascending, tie on id), exact re-rank of the
    * shortlist to `topK`. Output (idCol, payload..., sim_e6) — the
    * q41/q143 result convention. */
  def jlRerankTopK(df: DataFrame, idCol: String, vecCol: String,
                   query: Seq[Float], seed: String, k: Int,
                   shortlist: Int, topK: Int): DataFrame = {
    require(shortlist >= topK, s"shortlist $shortlist must be >= topK=$topK")
    val sm = signs(seed, query.length, k)
    val qp = projectQuery(query, sm)
    // The projected corpus has one consumer (the shortlist sort), so it
    // stays a row-local map over the scan. Index-FREE: nothing persists
    // between probes; a caller probing one (corpus, seed, k) many times
    // materializes `project` output itself and ranks against that.
    val short = project(df, vecCol, "__y", sm)
      .withColumn("__d2",
        aggregate(
          zip_with(col("__y"), typedlit(qp), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x))
      .orderBy(col("__d2").asc, col(idCol).asc)
      .limit(shortlist)
      .select(col(idCol))
    df
      .join(short, Seq(idCol))
      .withColumn("sim",
        call_function("graft_cosine", col(vecCol), typedlit(query)))
      .filter(col("sim") > 0)
      .withColumn("sim_e6", floor(col("sim") * 1e6).cast("long"))
      .orderBy(col("sim_e6").desc, col(idCol).asc)
      .limit(topK)
      .drop("sim", vecCol)
  }
}
