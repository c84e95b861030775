package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's one session profile: the `graft.Bench` settings (AQE,
  * GraftExtensions, 64 MB broadcast, 4 MB splits, minPartitionNum =
  * cores) on `local[cores]`. Every scratch path (warehouse, shuffle,
  * event log) lives under `work`, inside the checkout. */
object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors

  def profile(work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    "spark.sql.files.maxPartitionBytes" -> (4L * 1024 * 1024).toString,
    "spark.sql.files.openCostInBytes" -> (1024L * 1024).toString,
    "spark.sql.files.minPartitionNum" -> cores.toString,
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/spark-warehouse")

  /** Settings that may not change inside a running SparkContext. */
  private val contextKeys = Set("spark.master", "spark.local.dir",
    "spark.ui.enabled", "spark.eventLog.enabled", "spark.eventLog.dir",
    "spark.sql.extensions", "spark.sql.warehouse.dir")

  def create(work: String, eventLogDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    profile(work).foreach { case (k, v) => b.config(k, v) }
    eventLogDir.foreach { d =>
      b.config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", d)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.ensure(spark)
    spark
  }

  /** A new session over the running context with the profile re-applied:
    * no cached plans, temp views or registered functions carry over. */
  def fresh(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    profile("").foreach { case (k, v) => if (!contextKeys(k)) s.conf.set(k, v) }
    graft.plans.GraftExtensions.ensure(s)
    s
  }
}
