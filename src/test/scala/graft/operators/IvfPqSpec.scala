package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Persisted PQ and IVF×PQ index paths (VERDICT r5 items 5-6): result
  * parity with the train-inline variants, plan assertions that the
  * indexed scans neither re-train nor re-encode (zero `graft_argmin_l2`
  * — the encode kernel — in the plan) and that IVF×PQ prunes whole
  * `ivf_cell` partitions, plus a recall floor for the compose.
  */
class IvfPqSpec extends SparkSpec {

  private val M = 8
  private val CodesK = 16
  private val Iters = 1

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
  private lazy val probe: Seq[Float] =
    emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
  private lazy val corpus = emb.filter(col("vec_id") =!= 0)

  private def argminCount(df: org.apache.spark.sql.DataFrame): Int =
    "graft_argmin_l2".r.findAllIn(df.queryExecution.executedPlan.toString).length

  test("PQ: persisted codes + codebooks reproduce the inline ADC and re-rank; no encode in plan") {
    graft.plans.GraftExtensions.ensure(spark)
    val model = ProductQuantizer.buildPqIndex(
      corpus, "vec_id", "embedding", "pq_idx_spec", M, CodesK, Iters)
    val loaded = ProductQuantizer.loadModel(spark, "pq_idx_spec")
    assert(loaded.m === model.m && loaded.subDim === model.subDim)
    assert(loaded.codebooks.map(_.toSeq).toSeq ===
      model.codebooks.map(_.toSeq).toSeq)

    val encoded = ProductQuantizer.encode(corpus, "embedding", model)
      .select(col("vec_id"), col("embedding"), col("pq_code"))
    val liveAdc = ProductQuantizer
      .adcTopK(encoded, "vec_id", model, probe, 10).collect().toSeq
    val idxAdc = ProductQuantizer
      .adcTopKIndexed(spark, "pq_idx_spec", "vec_id", probe, 10)
    assert(idxAdc.collect().toSeq === liveAdc)

    val liveRr = ProductQuantizer.adcRerankTopK(
      encoded, "vec_id", "embedding", model, probe, 50, 10).collect().toSeq
    val idxRr = ProductQuantizer.adcRerankTopKIndexed(
      spark, "pq_idx_spec", corpus, "vec_id", "embedding", probe, 50, 10)
    assert(idxRr.collect().toSeq === liveRr)

    assert(argminCount(idxAdc) === 0,
      s"indexed ADC plan must not re-encode:\n${idxAdc.queryExecution.executedPlan}")
    assert(argminCount(idxRr) === 0,
      s"indexed re-rank plan must not re-encode:\n${idxRr.queryExecution.executedPlan}")
  }

  test("IVF×PQ: indexed matches one-shot compose; partition pruning; no re-encode") {
    graft.plans.GraftExtensions.ensure(spark)
    IvfPq.build(corpus, "vec_id", "embedding", "ivfpq_idx_spec",
      numCells = 4, m = M, codesK = CodesK, iters = Iters)
    val live = IvfPq.topK(corpus, "vec_id", "embedding", probe,
      k = 10, numCells = 4, nprobe = 2,
      m = M, codesK = CodesK, iters = Iters, shortlist = 50)
      .collect().toSeq
    val idx = IvfPq.topKIndexed(spark, "ivfpq_idx_spec", corpus,
      "vec_id", "embedding", probe, k = 10, nprobe = 2, shortlist = 50)
    assert(idx.collect().toSeq === live)

    val planStr = idx.queryExecution.executedPlan.toString
    assert(argminCount(idx) === 0,
      s"indexed IVF×PQ plan must not re-encode:\n$planStr")
    assert(planStr.contains("PartitionFilters") && planStr.contains("ivf_cell"),
      s"indexed IVF×PQ scan must prune on ivf_cell partitions:\n$planStr")
  }

  test("IVF×PQ recall@10 floor vs exact search") {
    // nprobe=4 of 4 cells makes the compose exact-pruning-free, so the
    // only loss is PQ shortlisting — recall must then be high; the
    // pruned nprobe=2 form keeps a conservative floor.
    def exactTop(q: Seq[Float]): Set[Long] =
      corpus.withColumn("d", KMeans.sqDist(KMeans.quantize(col("embedding")),
          typedlit(KMeans.quantizeVec(q))))
        .orderBy(col("d").asc, col("vec_id").asc).limit(10)
        .collect().map(_.getLong(0)).toSet
    val truth = exactTop(probe)
    val full = IvfPq.topK(corpus, "vec_id", "embedding", probe,
      k = 10, numCells = 4, nprobe = 4,
      m = M, codesK = CodesK, iters = Iters, shortlist = 100)
      .collect().map(_.getLong(0)).toSet
    // measured 7/10 on the sf0.001 fixture (200 unclustered vectors,
    // k=16 codebooks — PQ's hardest case; deterministic, so this is a
    // pin not a flake guard)
    assert(truth.intersect(full).size >= 7,
      s"unpruned recall ${truth.intersect(full).size}/10")
    val pruned = IvfPq.topK(corpus, "vec_id", "embedding", probe,
      k = 10, numCells = 4, nprobe = 2,
      m = M, codesK = CodesK, iters = Iters, shortlist = 100)
      .collect().map(_.getLong(0)).toSet
    assert(truth.intersect(pruned).size >= 4,
      s"pruned recall ${truth.intersect(pruned).size}/10")
  }
}
