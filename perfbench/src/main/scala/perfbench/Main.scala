package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** A timed call: `run` executes one op against the current session. */
final case class Op(name: String, layer: String, run: Ctx => Unit)

/** Per-run state shared by the harness and the workloads. */
final class Ctx(var spark: SparkSession, val seed: Long, val work: String,
                val bench: String, val tracer: Option[Tracer]) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  /** Index of the first op of the timed loop (earlier ops: cold pass). */
  var firstTimed = 0
  def timedOps: Seq[OpRec] = ops.drop(firstTimed).toSeq
  def golden(file: String): String = s"$bench/goldens/$file"

  /** Switch to a fresh session over the same context. */
  def freshSession(): Unit = {
    spark = Session.fresh(spark)
    tracer.foreach(t => spark.listenerManager.register(t))
  }
  val latencies = mutable.ArrayBuffer.empty[Double]
  val spans = mutable.ArrayBuffer.empty[Span]
  var failedOps = 0L
  private var currentOp = -1

  /** Client-side child span of the running op (build, execute, ...). */
  def span[T](kind: String)(f: => T): T = {
    val t0 = System.currentTimeMillis
    try f finally {
      if (tracer.isDefined && currentOp >= 0)
        spans += Span(currentOp, kind, kind, t0, System.currentTimeMillis)
    }
  }

  /** Run one op, recording its interval, latency and GC time. Failures
    * are counted, not thrown. */
  def timed(op: Op): Unit = {
    val id = ops.size
    currentOp = id
    val gc0 = Jvm.gcMillis
    val t0 = System.currentTimeMillis
    val n0 = System.nanoTime()
    try op.run(this) catch {
      case e: Throwable =>
        failedOps += 1
        System.err.println(s"op ${op.name} failed: $e")
    }
    val n1 = System.nanoTime()
    val rec = OpRec(id, op.name, op.layer, t0, System.currentTimeMillis,
      Jvm.gcMillis - gc0)
    ops += rec
    latencies += (n1 - n0) / 1e9
    if (tracer.isDefined) spans += Span(id, "op", op.name, rec.t0, rec.t1,
      Map("layer" -> op.layer))
    currentOp = -1
  }
}

object Jvm {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
  private var oldGenPeak = 0L

  def gcMillis: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Full collection, then the old generation's occupancy after it. The
    * largest reading is `heap_peak_mb`. Readings are taken only at phase
    * boundaries (after set-up, after the timed loop): young collections
    * inside the loop leave the old-generation figure stale at random. */
  def sampleOldGen(): Unit = {
    System.gc()
    oldPools.foreach { p =>
      val u = p.getCollectionUsage
      if (u != null) oldGenPeak = math.max(oldGenPeak, u.getUsed)
    }
  }

  def oldGenPeakMb: Double = oldGenPeak / 1048576.0
}

/** A workload: set-up, a timed closed loop of ops, output checks. */
trait Workload {
  def name: String
  /** Latency percentile reported as `latency_tail_s`. */
  def tailPct: Double
  /** Make the inputs; timed as `setup_s`. */
  def setup(ctx: Ctx): Unit
  /** Untimed-by-the-loop work between set-up and the loop (a cold pass). */
  def prelude(ctx: Ctx): Unit = ()
  /** The ops of timed pass `pass`; the loop runs whole passes. */
  def pass(ctx: Ctx, pass: Int): Seq[Op]
  /** Output checks after the loop: the number of timed ops that failed
    * their check. */
  def check(ctx: Ctx): Long
  /** Workload-specific end-to-end figures (name, value, unit). */
  def extras(ctx: Ctx): Seq[(String, Double, String)]
  /** Layer-specific traced figures (name -> value), per timed op. */
  def layerExtras(ctx: Ctx, t: Tracer,
                  layers: Map[String, Counters]): Map[String, Double] = Map.empty
  /** Owner of an event inside an op: by default the op's own layer. */
  def layerOf(op: OpRec, exec: Long, t: Tracer): String = op.layer
  /** Write this workload's goldens under `<bench>/goldens`. */
  def makeGoldens(ctx: Ctx): Unit =
    sys.error(s"$name keeps no goldens file")
}

object Main {
  val workloads: Map[String, () => Workload] = Map(
    "query_mix" -> (() => new QueryMix),
    "ingest_stream" -> (() => new IngestStream),
    "ann_topk" -> (() => new AnnTopK))

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing $k"))
    val wl = workloads.getOrElse(arg("--workload"),
      sys.error(s"unknown workload ${arg("--workload")}"))()
    val seed = arg("--seed").toLong
    val seconds = arg("--seconds").toInt
    val trace = arg("--trace") == "1"
    val work = arg("--work")
    val out = arg("--out")
    val eventLog = s"$work/eventlog"
    if (trace) new java.io.File(eventLog).mkdirs()
    val spark = Session.create(work, if (trace) Some(eventLog) else None)
    val tracer = if (trace) Some(Tracer.install(spark)) else None
    val ctx = new Ctx(spark, seed, work, arg("--bench"), tracer)
    if (a.contains("--make-goldens")) {
      wl.makeGoldens(ctx)
      spark.stop()
      return
    }

    val setup0 = System.nanoTime()
    wl.setup(ctx)
    val setupS = (System.nanoTime() - setup0) / 1e9
    Jvm.sampleOldGen()
    wl.prelude(ctx)
    val first = ctx.ops.size
    ctx.firstTimed = first
    val loop0 = System.nanoTime()
    var p = 0
    while (p == 0 || (System.nanoTime() - loop0) / 1e9 < seconds) {
      wl.pass(ctx, p).foreach(ctx.timed)
      p += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val timedOps = ctx.ops.drop(first).toSeq
    val lat = ctx.latencies.drop(first).sorted.toIndexedSeq
    Jvm.sampleOldGen()
    val checkFailed = wl.check(ctx)

    val attempted = ctx.ops.size.toLong
    val failed = ctx.failedOps + checkFailed
    def pct(q: Double) = Stats.percentile(lat, q)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("latency_p50_s", pct(0.5), "s"),
      ("latency_tail_s", pct(wl.tailPct), "s"),
      ("ops_per_s", timedOps.size / loopS, "1/s"))
    val report = e2e ++ Seq(("heap_peak_mb", Jvm.oldGenPeakMb, "MB"),
      ("failed_frac", failed.toDouble / math.max(1L, attempted), "ratio"),
      ("tail_pct", wl.tailPct * 100, "%"),
      ("timed_ops", timedOps.size.toDouble, "count")) ++ wl.extras(ctx)

    var mismatches = 0
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => e2e
      case Some(t) =>
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        val layers = t.attribute(timedOps, (op, ex) => wl.layerOf(op, ex, t))
        val n = math.max(1, timedOps.size).toDouble
        val perOp = Layers.all.flatMap { l =>
          val c = layers.getOrElse(l, new Counters)
          c.values.map { case (k, v, u) => (s"$l.$k", v / n, u) }
        }
        val extra = wl.layerExtras(ctx, t, layers)
        val validation = EventLog.validate(t, timedOps.head, eventLog)
        mismatches = validation.size
        if (validation.nonEmpty)
          System.err.println(s"counter validation mismatches: $validation")
        val spansOut = ctx.spans ++ t.eventSpans(ctx.ops.toSeq)
        Json.writeLines(s"$out.spans.jsonl", spansOut.map(Json.span))
        perOp ++ Layers.extras.map { case (k, u) => (k, extra.getOrElse(k, 0.0), u) } ++
          Seq(("trace.latency_p50_s", pct(0.5), "s"),
            ("trace.ops_per_s", timedOps.size / loopS, "1/s"),
            ("validate.mismatches", mismatches.toDouble, "count"))
    }
    spark.stop()

    val profile = Session.profile(work).toMap ++ Map(
      "cores" -> Session.cores.toString,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString)
    val full = Json.obj(Seq(
      "workload" -> wl.name, "seed" -> seed, "trace" -> trace,
      "profile" -> profile, "report" -> Json.metrics(report),
      "latencies_s" -> ctx.latencies.toSeq,
      "metrics" -> Json.metrics(metrics)))
    Json.writeLines(s"$out.json", Seq(Json.render(full)))
    println(s"report ${Json.render(Json.metrics(report))}")
    val correct = failed == 0 && mismatches == 0
    println(Json.render(Json.obj(Seq("correct" -> correct,
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.metrics(metrics)))))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs.sorted.toIndexedSeq, 0.5)

  /** Linear-interpolated percentile of sorted values. */
  def percentile(sorted: IndexedSeq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
}
