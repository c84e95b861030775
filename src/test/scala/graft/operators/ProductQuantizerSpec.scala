package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class ProductQuantizerSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet").cache()
  private lazy val model =
    ProductQuantizer.fit(emb, "vec_id", "embedding", m = 8, k = 64, iters = 1)
  private lazy val encoded =
    ProductQuantizer.encode(emb, "embedding", model).cache()

  private def exactTop10(q: Seq[Float]): Set[Long] =
    emb.withColumn("d", KMeans.sqDist(KMeans.quantize(col("embedding")),
        typedlit(KMeans.quantizeVec(q))))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSet

  test("model shape and code ranges") {
    assert(model.m === 8 && model.subDim === 8)
    assert(model.codebooks.forall(_.length === 64))
    assert(model.codebooks.flatten.forall(_.length === 8))
    val bad = encoded.filter(exists(col("pq_code"),
      c => c < 0 || c >= 64) || size(col("pq_code")) =!= 8).count()
    assert(bad === 0)
  }

  test("fit is deterministic (codebooks identical across runs)") {
    val again = ProductQuantizer.fit(emb, "vec_id", "embedding", 8, 64, 1)
    assert(again.codebooks.map(_.toSeq).toSeq === model.codebooks.map(_.toSeq).toSeq)
  }

  test("recall@10 floors vs exact search over 5 queries (hardest case: unclustered vectors)") {
    val ids = emb.select("vec_id").orderBy("vec_id").limit(5)
      .collect().map(_.getLong(0))
    var adcHits = 0
    var rerankHits = 0
    for (qid <- ids) {
      val q = emb.filter(col("vec_id") === qid)
        .select("embedding").head().getSeq[Float](0)
      val exact = exactTop10(q)
      val adc = ProductQuantizer.adcTopK(encoded, "vec_id", model, q, 10)
        .collect().map(_.getLong(0)).toSet
      val rer = ProductQuantizer
        .adcRerankTopK(encoded, "vec_id", "embedding", model, q, 100, 10)
        .collect().map(_.getLong(0)).toSet
      adcHits += (adc & exact).size
      rerankHits += (rer & exact).size
    }
    // measured 19-22/50 ADC and 44-46/50 rerank@100 — conservative floors
    assert(adcHits >= 13, s"ADC recall@10 $adcHits/50 below floor")
    assert(rerankHits >= 35, s"rerank@100 recall@10 $rerankHits/50 below floor")
    assert(rerankHits > adcHits, "re-rank must improve on raw ADC")
  }

  test("rerank with shortlist = corpus size equals exact search") {
    val q = emb.orderBy(col("vec_id").asc)
      .select("embedding").head().getSeq[Float](0)
    val n = emb.count().toInt
    val full = ProductQuantizer
      .adcRerankTopK(encoded, "vec_id", "embedding", model, q, n, 10)
      .collect().map(_.getLong(0)).toSet
    assert(full === exactTop10(q))
  }

  test("adc distance is the sum of per-subspace table entries (spot check)") {
    val q = emb.orderBy(col("vec_id").asc)
      .select("embedding").head().getSeq[Float](0)
    val qv = KMeans.quantizeVec(q)
    val row = ProductQuantizer.adcTopK(encoded, "vec_id", model, q, 1).head()
    val code = encoded.filter(col("vec_id") === row.getLong(0))
      .select("pq_code").head().getSeq[Int](0)
    val expected = (0 until model.m).map { i =>
      val qs = qv.slice(i * model.subDim, (i + 1) * model.subDim)
      val c = model.codebooks(i)(code(i))
      qs.zip(c).map { case (x, y) => val z = x - y; z * z }.sum
    }.sum
    assert(row.getLong(1) === expected)
  }

  // 12 rows of 8 dims = 4 subspaces of 2. The k = 3 seeds are the rows
  // with the smallest md5(id). Subspace 0 gives seeds 0 and 1 the same
  // slice, so cell 1 wins no row in the first update (ties go to the
  // lower cell) and carries its seed forward while cell 0 moves.
  // Subspace 1 gives every row its own slice, so no cell starts empty.
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  private lazy val handCorpus = {
    val seedIds = (0L until 12L).sortBy(i => md5hex(i.toString)).take(3)
    val rnd = new scala.util.Random(5)
    (0L until 12L).map { i =>
      val s0 =
        if (i == seedIds(0) || i == seedIds(1)) Seq(0.0f, 0.0f)
        else if (i == seedIds(2)) Seq(1.0f, 0.0f)
        else Seq((i % 4) * 0.3f - 0.2f, (i % 3) * 0.1f)
      val s1 = Seq(math.cos(i.toDouble).toFloat, math.sin(i.toDouble).toFloat)
      (i, s0 ++ s1 ++ Seq.fill(4)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
  }
  private def subspace(i: Int) =
    handCorpus.withColumn("__sub", slice(col("embedding"), i * 2 + 1, 2))

  test("joint fit: every subspace's codebook equals KMeans.fit on its slice " +
      "(iters 0, 1, 3; empty-cell carry-forward per subspace)") {
    def firstCells(i: Int): Long = {
      val sub = subspace(i)
      KMeans.assign(sub.withColumn("__v", KMeans.quantize(col("__sub"))),
          KMeans.seeds(sub, "vec_id", "__sub", 3), "__c")
        .select("__c").distinct().count()
    }
    assert(firstCells(0) < 3, "subspace 0 must start with an empty cell")
    assert(firstCells(1) === 3, "subspace 1 must start with no empty cell")
    for (iters <- Seq(0, 1, 3)) {
      val model = ProductQuantizer.fit(handCorpus, "vec_id", "embedding",
        m = 4, k = 3, iters = iters)
      assert(model.m === 4 && model.subDim === 2)
      (0 until 4).foreach { i =>
        val (_, cents) = KMeans.fit(subspace(i), "vec_id", "__sub", 3, iters)
        assert(model.codebooks(i).toSeq === cents.toSeq,
          s"iters=$iters subspace $i")
      }
    }
  }

  test("fit runs the same number of Spark jobs at m = 8 as at m = 1") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val started = new java.util.concurrent.atomic.AtomicLong(0L)
    val ended = new java.util.concurrent.atomic.AtomicLong(0L)
    // every job of the context, whichever thread submits it
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.incrementAndGet()
    }
    // events drain in order: once every job seen starting has been seen
    // ending, the run's jobs are all counted (DevProbe's settle)
    def settle(): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (started.get == 0L || ended.get < started.get) {
        assert(System.nanoTime() < deadline,
          s"listener saw ${ended.get} of ${started.get} jobs end within 60 s")
        Thread.sleep(5)
      }
    }
    def jobs(m: Int): Long = {
      val j0 = started.get
      ProductQuantizer.fit(vecs, "vec_id", "embedding", m = m, k = 16, iters = 1)
      settle()
      started.get - j0
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val one = jobs(1)
      val eight = jobs(8)
      assert(eight === one, s"m=8 ran $eight jobs, m=1 ran $one")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
