package perfbench

import scala.io.Source
import scala.util.{Random, Try}

/** `query_mix`: job-count-bound queries over the generated sf0.1 tables.
  * The mix is one of the ten job-heavy ROADMAP targets plus one query
  * from each jobs-per-query stratum of the other queries: in each group
  * the query whose probed warm time (`query_strata.tsv`) is nearest the
  * group's median. One op runs the whole mix in a seeded order, as one
  * pipeline step that refreshes five outputs.
  *
  * The mix is fixed and an op spans it so that runs on different seeds
  * measure the same work: a seeded draw of queries moved the latency
  * medians by 20-30 % between seeds, and per-query latencies of a fixed
  * draw still by 18-26 %. */
final class QueryMix extends Workload {
  val name = "query_mix"
  val tailPct = 0.75
  val targets = Seq("q208_ingest_capstone", "q176_components_incr",
    "q80_near_dup_survivors", "q132_pq_adc_topk", "q133_ivfpq_topk",
    "q198_cluster_label_vote", "q121_leakage_safe_split",
    "q88_authority_rank", "q188_dedup_decisions", "q69_near_dup_components")
  /** Jobs-per-query strata of the other queries (inclusive upper bounds). */
  val strata = Seq(2, 5, 10, Int.MaxValue)

  private var dir = ""
  private var sample = Seq.empty[String]
  private var coldS = 0.0
  /** Mix queries whose output digest differs from the golden. */
  private var bad = Seq.empty[String]

  /** (query, jobs, warm seconds) from the jobs-per-query probe. */
  private def strataTable(ctx: Ctx): Seq[(String, Int, Double)] = {
    val s = Source.fromFile(s"${ctx.bench}/query_strata.tsv")
    try s.getLines().filterNot(_.startsWith("#")).map(_.split("\t"))
      .map(a => (a(0), a(1).toInt, a(2).toDouble)).toList finally s.close()
  }

  /** The query nearest the group's median warm time (ties by name). */
  private def representative(qs: Seq[(String, Int, Double)]): String = {
    val m = Stats.median(qs.map(_._3))
    qs.minBy(q => (math.abs(q._3 - m), q._1))._1
  }

  /** Every table but lineitem, the largest, which the mix does not read
    * (a missing table fails the run loudly). */
  def setup(ctx: Ctx): Unit = writeTables(ctx, _ != "lineitem")

  private def writeTables(ctx: Ctx, tables: String => Boolean): Unit = {
    dir = s"${ctx.work}/base"
    DataGen.write(DataGen.base(ctx.spark, DataGen.BaseSeed)
      .filter(t => tables(t._1)), dir)
    val (tq, others) = strataTable(ctx).partition(q => targets.contains(q._1))
    val bounds = -1 +: strata
    sample = representative(tq) +: strata.indices.map { i =>
      representative(others.filter(q => q._2 > bounds(i) && q._2 <= strata(i)))
    }
  }

  /** Pass 1 in a fresh session, timed as the cold pass; then the output
    * check, untimed. The check runs every query once more, which also
    * warms the JIT: without such a pass the first timed passes run
    * 10-20 % slower. */
  override def prelude(ctx: Ctx): Unit = {
    ctx.freshSession()
    val t0 = System.nanoTime()
    pass(ctx, -1).foreach(ctx.timed)
    coldS = (System.nanoTime() - t0) / 1e9
    val g = Goldens.read(ctx.golden("query_mix.tsv"))
    bad = sample.filterNot(n => digest(ctx, n).exists(g.get(n).contains))
    bad.foreach(n => System.err.println(s"check failed: $n"))
  }

  /** Build each query's DataFrame (eager actions inside count as build
    * jobs), then run it through the noop sink. */
  def pass(ctx: Ctx, p: Int): Seq[Op] = {
    val order = new Random(ctx.seed * 1000003L + p).shuffle(sample)
    Seq(Op("mix", "queries", c => order.foreach { n =>
      val df = c.span("build")(graft.SparkEntry.queries(n)(c.spark, dir))
      c.span("execute")(graft.Bench.force(df))
    }))
  }

  private def digest(ctx: Ctx, n: String): Option[String] =
    Try(Digest.of(graft.SparkEntry.queries(n)(ctx.spark, dir))).toOption

  /** Any query off its golden (checked in [[prelude]]) fails every op. */
  def check(ctx: Ctx): Long = if (bad.isEmpty) 0L else ctx.ops.size.toLong

  def extras(ctx: Ctx): Seq[(String, Double, String)] =
    Seq(("cold_pass_s", coldS, "s"))

  /** Per-op build time and build jobs from the traced build spans. */
  override def layerExtras(ctx: Ctx, t: Tracer,
                           layers: Map[String, Counters]): Map[String, Double] = {
    val n = math.max(1, ctx.timedOps.size).toDouble
    val builds = ctx.spans.filter(s => s.kind == "build" && s.op >= ctx.firstTimed)
    Map("queries.build_ms" -> builds.map(s => s.t1 - s.t0).sum / n,
      "queries.build_jobs" -> builds.map(s =>
        t.jobIdsFor(OpRec(-1, "", "", s.t0, s.t1, 0)).size).sum / n)
  }

  /** Goldens for every query: digested in two fresh sessions; outputs that
    * differ between the two are reported and left out. */
  override def makeGoldens(ctx: Ctx): Unit = {
    writeTables(ctx, _ => true)
    val names = strataTable(ctx).map(_._1)
    def digests() = {
      ctx.freshSession()
      names.map(n => n -> digest(ctx, n)).toMap
    }
    val a = digests(); val b = digests()
    val stable = names.flatMap(n => (a(n), b(n)) match {
      case (Some(x), Some(y)) if x == y => Some(n -> x)
      case other => System.err.println(s"unstable or failing: $n $other"); None
    })
    Goldens.write(ctx.golden("query_mix.tsv"), stable.toMap)
  }
}
