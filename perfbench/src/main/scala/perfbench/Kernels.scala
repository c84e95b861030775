package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Isolated passes of the native `plans/` kernels, traced runs only:
  * each kernel alone over a workload's own inputs through the noop sink,
  * reported as ns per input row (median of three passes). */
object Kernels {
  def text(docs: DataFrame): Map[String, Double] = {
    val t = col("text")
    passes(docs.select(t).localCheckpoint(true), Seq(
      "graft_tokens" -> call_function("graft_tokens", t),
      "graft_shingles" -> call_function("graft_shingles", t, lit(3)),
      "graft_minhash" -> call_function("graft_minhash", t, lit(32), lit(5)),
      "graft_text_metrics" -> call_function("graft_text_metrics", t)))
  }

  def vectors(vecs: DataFrame, probe: Seq[Float],
              cents: Seq[Seq[Float]]): Map[String, Double] = {
    val v = col("embedding")
    passes(vecs.select(v).localCheckpoint(true), Seq(
      "graft_cosine" -> call_function("graft_cosine", v, typedlit(probe)),
      "graft_argmax_cosine" ->
        call_function("graft_argmax_cosine", v, typedlit(cents))))
  }

  private def passes(df: DataFrame, ks: Seq[(String, Column)]): Map[String, Double] = {
    val n = df.count().toDouble
    ks.map { case (k, e) =>
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.Bench.force(df.select(e.as("k")))
        (System.nanoTime() - t0).toDouble
      }
      s"plans.$k.ns_per_row" -> Stats.median(times) / n
    }.toMap
  }
}
