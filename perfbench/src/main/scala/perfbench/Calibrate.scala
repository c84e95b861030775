package perfbench

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Jobs-per-query probe over every `SparkEntry` query on the generated
  * base tables: one cold and one warm run each. Prints the stratification
  * table `query_strata.tsv` that `query_mix` picks its mix from (query,
  * jobs of the warm run, warm seconds). Writes the tables under
  * `<workDir>/base`.
  *
  * Usage: perfbench.Calibrate <workDir> [query,...] > query_strata.tsv */
object Calibrate {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val spark = Session.create(work)
    val dir = s"$work/base"
    DataGen.write(DataGen.base(spark, DataGen.BaseSeed), dir)
    val jobs = new AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
    println(s"# query\tjobs\twarm_s  (jobs-per-query probe, ${Session.cores} " +
      "cores, generated sf0.1 tables; perfbench.Calibrate)")
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      graft.Bench.force(fn(spark, dir))
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      jobs.set(0)
      val t = System.nanoTime()
      graft.Bench.force(fn(spark, dir))
      val warm = (System.nanoTime() - t) / 1e9
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      println(f"$n\t${jobs.get}\t$warm%.3f")
    }
    spark.stop()
  }
}
