package perfbench

import java.io.File
import scala.util.Random
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.StreamingIngest

/** `ingest_stream`: fixed-size micro-batches through
  * `StreamingIngest.ingestSink`, called directly, against a warehouse
  * bootstrapped from a seeded share of the x10 documents. Each batch
  * carries seeded re-sends: exact copies of accepted documents, token-
  * perturbed copies, and copies of benchmark documents, so the dedup and
  * decontamination verdicts fire beside `kept` and `nb_disagrees`. The
  * warehouse grows with every batch, so reads, writes and space trade
  * against each other. */
final class IngestStream extends Workload {
  val name = "ingest_stream"
  val tailPct = 0.5
  val bootDocs = 1000
  val benchDocs = 100
  val batchFresh = 60
  val batchesPerPass = 2
  val exactResends = 4
  val perturbedResends = 4
  val benchResends = 2
  val verdicts = Set("exact_dup", "shell_doc", "near_dup", "dirty_13gram",
    "suspect_3gram", "nb_disagrees", "kept")

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("source", StringType), StructField("text", StringType),
    StructField("n_chars", LongType)))
  private var wh = ""
  private var pool = IndexedSeq.empty[Row]
  private var boot = IndexedSeq.empty[Row]
  private var bench = IndexedSeq.empty[Row]
  private val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
  private val exactOf = scala.collection.mutable.Map.empty[Long, Int]
  private var bytes0 = 0L
  private var files0 = 0L
  private var docsIn = 0L
  private var rawIn = 0L
  private var loopS = 0.0
  private var keptRaw = 0L
  private var fired = Set.empty[String]

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    wh = s"${ctx.work}/warehouse"
    val docs = DataGen.replicateDocuments(
        DataGen.base(spark, DataGen.BaseSeed)("documents"), 10)
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        col("n_chars"))
      .orderBy(xxhash64(lit(ctx.seed), col("doc_id")), col("doc_id"))
      .collect().toIndexedSeq
    boot = docs.take(bootDocs)
    // benchmark documents long enough to carry 13-grams
    bench = docs.drop(bootDocs).filter(_.getString(3).split(" ").length >= 30)
      .take(benchDocs)
    val benchIds = bench.map(_.getLong(0)).toSet
    pool = docs.drop(bootDocs).filterNot(r => benchIds(r.getLong(0)))
    def df(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    StreamingIngest.bootstrap(wh, df(boot), df(bench),
      "doc_id", "lang", "source", "text", "n_chars")
  }

  /** Batch `b`: fresh documents plus seeded re-sends under new ids. */
  private def batch(ctx: Ctx, b: Int): Seq[Row] = {
    val rnd = new Random(ctx.seed * 7919L + b)
    val fresh = pool.slice(b * batchFresh, (b + 1) * batchFresh)
    val accepted = boot
    def resend(src: Row, i: Int, text: String) = Row(
      9000000000L + b * 1000L + i, src.getString(1), src.getString(2), text,
      text.length.toLong)
    val exact = (0 until exactResends).map { i =>
      val src = accepted(rnd.nextInt(accepted.size))
      val r = resend(src, i, src.getString(3))
      exactOf(r.getLong(0)) = b
      r
    }
    val perturbed = (0 until perturbedResends).map { i =>
      val src = accepted(rnd.nextInt(accepted.size))
      val w = src.getString(3).split(" ")
      w(rnd.nextInt(w.length)) = DataGen.vocab(rnd.nextInt(DataGen.vocab.size))
      resend(src, 100 + i, w.mkString(" "))
    }
    val dirty = (0 until benchResends).map { i =>
      val src = bench(rnd.nextInt(bench.size))
      resend(src, 200 + i, src.getString(3))
    }
    fresh ++ exact ++ perturbed ++ dirty
  }

  override def prelude(ctx: Ctx): Unit = {
    val (b, f) = Warehouse.usage(wh)
    bytes0 = b; files0 = f
  }

  private var nextBatch = 0

  /** The next micro-batch as an op (ids count up from 0). */
  private def batchOp(ctx: Ctx): Op = {
    val b = nextBatch
    nextBatch += 1
    require((b + 1) * batchFresh <= pool.size, "document pool exhausted")
    val rows = batch(ctx, b)
    batches += rows
    Op(s"batch_$b", "streaming", c => {
      val df = c.spark.createDataFrame(
        c.spark.sparkContext.parallelize(rows, 1), schema)
      StreamingIngest.ingestSink(wh, "doc_id", "lang", "source", "text",
        "n_chars")(df, b.toLong)
    })
  }

  /** A pass is `batchesPerPass` consecutive micro-batches. */
  def pass(ctx: Ctx, p: Int): Seq[Op] = {
    if (p == 0) loopS = -System.nanoTime() / 1e9
    Seq.fill(batchesPerPass) {
      val op = batchOp(ctx)
      docsIn += batches.last.size
      rawIn += batches.last.map(_.getString(3).length.toLong).sum
      op
    }
  }

  /** Per batch: exactly one verdict per batch document, every verdict
    * from the ladder, and every exact re-send of an accepted document
    * judged `exact_dup`. */
  def check(ctx: Ctx): Long = {
    loopS += System.nanoTime() / 1e9
    val dec = ctx.spark.read.parquet(s"$wh/decisions")
      .select(col("batch").cast("int"), col("doc_id"), col("verdict"))
      .collect()
    val byBatch = dec.groupBy(_.getInt(0))
    fired = dec.map(_.getString(2)).toSet
    val textOf = batches.flatten.map(r => r.getLong(0) -> r.getString(3)).toMap
    keptRaw = boot.map(_.getString(3).length.toLong).sum +
      dec.filter(_.getString(2) == "kept").map(r => textOf(r.getLong(1)).length.toLong).sum
    batches.zipWithIndex.map { case (rows, b) =>
      val got = byBatch.getOrElse(b, Array.empty[Row])
      val ids = got.map(_.getLong(1))
      val ok = ids.length == rows.size && ids.toSet == rows.map(_.getLong(0)).toSet &&
        got.forall(r => verdicts(r.getString(2))) &&
        got.forall(r => !exactOf.contains(r.getLong(1)) || r.getString(2) == "exact_dup")
      if (!ok) System.err.println(s"check failed: batch $b")
      if (ok) 0L else 1L
    }.sum
  }

  def extras(ctx: Ctx): Seq[(String, Double, String)] = {
    val (bytes, _) = Warehouse.usage(wh)
    Seq(("rows_per_s", docsIn / math.max(1e-9, loopS), "1/s"),
      ("write_amp", (bytes - bytes0).toDouble / math.max(1L, rawIn), "ratio"),
      ("space_amp", bytes.toDouble / math.max(1L, keptRaw), "ratio"),
      ("verdicts_fired", fired.size.toDouble, "count"))
  }

  /** Write executions are the streaming layer's delta writes; everything
    * else inside `ingestSink` is the decision ladder. */
  override def layerOf(op: OpRec, exec: Long, t: Tracer): String =
    if (exec >= 0 && t.isWrite(exec)) "streaming" else "etl"

  override def layerExtras(ctx: Ctx, t: Tracer,
                           layers: Map[String, Counters]): Map[String, Double] = {
    val n = math.max(1, ctx.timedOps.size).toDouble
    val s = layers.getOrElse("streaming", new Counters)
    val e = layers.getOrElse("etl", new Counters)
    val (_, files) = Warehouse.usage(wh)
    Map("streaming.delta_write_ms" -> s.selfMs / n,
      "streaming.state_write_bytes" -> s.writeBytes / n,
      "streaming.files_written" -> (files - files0) / n,
      "streaming.state_files" -> files.toDouble,
      "streaming.state_read_bytes" -> e.scanBytes / n,
      "etl.decide_ms" -> e.selfMs / n) ++
      Kernels.text(ctx.spark.createDataFrame(
        ctx.spark.sparkContext.parallelize(pool ++ boot, Session.cores), schema))
  }
}

/** Size of a warehouse directory: (data bytes, data files). */
object Warehouse {
  def usage(dir: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new File(dir)).filter(f =>
      !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    (files.map(_.length).sum, files.size.toLong)
  }
}
