package graft

import org.apache.spark.sql.SparkSession

/** The one session profile every entry point runs under — Bench, Verify,
  * DevProbe, PlanFormat and the test specs — so the plan Verify checks
  * is the plan Bench measures. Every Spark action runs on the calling
  * thread: the engine starts no driver thread pool of its own, so no
  * driver-side wait outlives the job it waits on (NoDriverThreadsSpec
  * pins this). */
object GraftSession {
  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    // events.ts is parquet TIMESTAMP(NANOS), which Spark has no native
    // type for — surface it as a nanos-since-epoch long.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
    // Local-scale split sizing: the sf0.1 tables are single ~10-30 MB
    // parquet files — at the 128 MB default each scan is ONE task and
    // CPU-bound queries run single-threaded. 4 MB splits and at least
    // one split per core engage the machine; a real cluster at 100 TB
    // keeps the defaults (row groups there are plentiful).
    .config("spark.sql.files.maxPartitionBytes", 4 * 1024 * 1024)
    .config("spark.sql.files.openCostInBytes", 1024 * 1024)
    .config("spark.sql.files.minPartitionNum", cpus)
    .config("spark.ui.enabled", "false")
    // index builds and warehouse queries write catalog tables — keep
    // them off the working directory
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()
}
