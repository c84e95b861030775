package perfbench

import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.operators.{IvfIndex, IvfPq, SimilaritySearch}

/** `ann_topk`: top-k search where the work grows with the data. The
  * corpus is seeded, jittered copies of the generated embeddings; an IVF
  * index and an IVF-PQ index are built in set-up. Each pass sends one
  * seeded probe through the exact, IVF and IVF-PQ paths; every
  * `appendEvery`-th pass also appends a batch to the IVF index. */
final class AnnTopK extends Workload {
  val name = "ann_topk"
  val tailPct = 0.75
  val copies = 15
  val k = 10
  val numCells = 256
  val nprobe = 8
  val pqCells = 64
  val appendEvery = 8
  val warmups = 2
  val appendRows = 500
  val jitter = 0.05

  private var vecs: DataFrame = _
  private var corpus = Array.empty[(Long, Array[Float])]
  private var appended = Array.empty[(Long, Array[Float])]
  private var ivfTable, pqTable = ""
  private val results = scala.collection.mutable.ArrayBuffer.empty[
    (String, Int, Array[Float], Seq[Long], Int)]

  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    // seeded jittered copies of the generated embeddings, made on the
    // driver: the brute-force checks need the corpus there anyway
    val base = DataGen.base(spark, DataGen.BaseSeed)("embeddings")
      .select("vec_id", "embedding").collect()
    val rnd = new Random(ctx.seed)
    corpus = (0 until copies).toArray.flatMap { r =>
      base.map { row =>
        val v = row.getSeq[Float](1).toArray
          .map(x => x + (rnd.nextGaussian() * jitter).toFloat)
        (row.getLong(0) + r * 100000L) -> normalized(v)
      }
    }
    val dir = s"${ctx.work}/ann"
    spark.createDataFrame(spark.sparkContext.parallelize(
        corpus.toSeq.map { case (id, v) => Row(id, v.toSeq) }, Session.cores),
        vecSchema)
      .write.mode("overwrite").parquet(s"$dir/vecs")
    vecs = spark.read.parquet(s"$dir/vecs")
    ivfTable = "bench_ivf"
    pqTable = "bench_ivfpq"
    IvfIndex.build(vecs, "vec_id", "embedding", ivfTable, numCells, buckets = 1)
    IvfPq.build(vecs, "vec_id", "embedding", pqTable, pqCells, m = 8,
      codesK = 16, iters = 1, buckets = 1)
  }

  /** Probe `p`: a seeded corpus vector with fresh jitter. */
  private def probe(ctx: Ctx, p: Int): Array[Float] = {
    val rnd = new Random(ctx.seed * 31L + p)
    normalized(corpus(rnd.nextInt(corpus.length))._2
      .map(x => x + (rnd.nextGaussian() * jitter).toFloat))
  }

  private def normalized(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def ids(df: DataFrame): Seq[Long] = df.collect().map(_.getAs[Long]("vec_id")).toSeq

  /** Untimed probes first, so the loop measures warm paths: the first
    * few probes of a JVM run up to twice as long. */
  override def prelude(ctx: Ctx): Unit =
    (1 to warmups).foreach(i => pass(ctx, -i).foreach(ctx.timed))

  /** One op answers one probe through the exact, IVF and IVF-PQ paths (a
    * child span each); every `appendEvery`-th pass adds an append op. */
  def pass(ctx: Ctx, p: Int): Seq[Op] = {
    val q = probe(ctx, p)
    val seen = appended.length
    def path(c: Ctx, name: String)(f: => DataFrame): Unit = {
      val got = c.span(name)(ids(f))
      results += ((name, p, q, got, seen))
    }
    val search = Op("probe", "operators", c => {
      path(c, "topk_exact")(
        SimilaritySearch.topK(vecs, "vec_id", "embedding", q.toSeq, k))
      path(c, "topk_ivf")(IvfIndex.topKIndexed(c.spark, ivfTable, "vec_id",
        "embedding", q.toSeq, k, nprobe))
      path(c, "topk_ivfpq")(IvfPq.topKIndexed(c.spark, pqTable, vecs,
        "vec_id", "embedding", q.toSeq, k, nprobe, shortlist = 50))
    })
    if (p % appendEvery != appendEvery - 1) Seq(search)
    else {
      val rnd = new Random(ctx.seed * 131L + p)
      val batch = Array.tabulate(appendRows) { i =>
        (50000000L + p * 10000L + i) ->
          normalized(Array.fill(64)(rnd.nextGaussian().toFloat))
      }
      Seq(search, Op("append", "operators", c => {
        val df = c.spark.createDataFrame(c.spark.sparkContext.parallelize(
          batch.toSeq.map { case (id, v) => Row(id, v.toSeq) }, 1), vecSchema)
        IvfIndex.append(c.spark, ivfTable, df, "vec_id", "embedding", buckets = 1)
        appended ++= batch
      }))
    }
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    d / math.sqrt(na * nb)
  }

  /** Brute-force top-k over `vs` (cosine desc, id asc). */
  private def truth(vs: Array[(Long, Array[Float])], q: Array[Float]): Seq[(Long, Double)] =
    vs.map { case (id, v) => id -> cosine(v, q) }
      .sortBy { case (id, s) => (-s, id) }.take(k).toSeq

  private var recall = Map.empty[String, Double]

  /** The exact path must return a true top-k of the corpus: k distinct
    * ids whose brute-force scores all reach the k-th best score (ties at
    * the boundary allowed). Recall@10 of both indexes is measured
    * against brute force over what each index holds. */
  def check(ctx: Ctx): Long = {
    val hits = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val failed = results.count { case (path, _, q, got, seen) =>
      path match {
        case "topk_exact" =>
          val t = truth(corpus, q)
          val kth = t.last._2 - 1e-6
          val score = corpus.iterator.filter(x => got.contains(x._1))
            .map(x => cosine(x._2, q)).toSeq
          !(got.distinct.size == k && score.size == k && score.forall(_ >= kth))
        case other =>
          val held = if (other == "topk_ivf") corpus ++ appended.take(seen) else corpus
          val t = truth(held, q).map(_._1).toSet
          val (h, n) = hits.getOrElse(other, (0L, 0L))
          hits(other) = (h + got.count(t), n + k)
          got.isEmpty
      }
    }
    recall = hits.map { case (p, (h, n)) => p -> h.toDouble / n }.toMap
    failed.toLong
  }

  def extras(ctx: Ctx): Seq[(String, Double, String)] = Seq(
    ("recall_at_10_ivf", recall.getOrElse("topk_ivf", 0.0), "ratio"),
    ("recall_at_10_ivfpq", recall.getOrElse("topk_ivfpq", 0.0), "ratio"),
    ("corpus_vectors", corpus.length.toDouble, "count"))

  override def layerExtras(ctx: Ctx, t: Tracer,
                           layers: Map[String, Counters]): Map[String, Double] = {
    val timed = ctx.spans.filter(_.op >= ctx.firstTimed)
    def median(kind: String) = Stats.median(
      timed.filter(_.kind == kind).map(s => (s.t1 - s.t0).toDouble).toSeq)
    val probes = ctx.timedOps.filter(_.name == "probe")
    val scanned = t.attribute(probes, (op, _) => op.layer).get("operators")
      .map(_.scanRows).getOrElse(0.0)
    Map("operators.topk_exact_ms" -> median("topk_exact"),
      "operators.topk_ivf_ms" -> median("topk_ivf"),
      "operators.topk_ivfpq_ms" -> median("topk_ivfpq"),
      "operators.append_ms" -> Stats.median(ctx.timedOps
        .filter(_.name == "append").map(o => (o.t1 - o.t0).toDouble)),
      // three top-k answers of k rows per probe op
      "operators.rows_examined_per_result" ->
        scanned / math.max(1.0, probes.size * 3.0 * k)) ++
      Kernels.vectors(vecs, probe(ctx, -1).toSeq,
        corpus.take(numCells).map(_._2.toSeq).toSeq)
  }
}
