package graft

import Bench.force

/** Dev tool (optimization rounds): per-query Spark accounting through
  * the noop sink, without touching the bench contract. `shuffle`
  * reports shuffle read/write bytes; `jobs` reports wall time, jobs
  * (driver actions), stages, tasks and shuffle-write bytes of one run
  * after a warm-up.
  *
  * Usage: tools/run_class.sh graft.DevProbe <shuffle|jobs> <sfDir> <q,q,...>
  */
object DevProbe {
  def main(args: Array[String]): Unit = {
    val probe = args(0)
    val sfDir = args(1)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // Job/stage events drain asynchronously. The bus delivers them in
    // order, so once every job seen starting has also been seen ending,
    // every stage event of those jobs has arrived too.
    val started = new java.util.concurrent.atomic.AtomicLong(0L)
    val ended = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          started.incrementAndGet()
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          ended.incrementAndGet()
      })
    def settle(): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (started.get == 0L || ended.get < started.get) {
        if (System.nanoTime() > deadline)
          sys.error(s"listener saw ${ended.get} of ${started.get} jobs end " +
            "within 60 s")
        Thread.sleep(5)
      }
    }

    probe match {
      // generic shuffle-volume probe (r13): run named SparkEntry queries
      // once through the noop sink and report total shuffle read/write
      // bytes (the stage listener behind BASELINE.md "Round-6: x100
      // corpus smoke") — the §2.3 evidence for
      // byte-diet changes whose wall delta sits inside local-mode noise.
      case "shuffle" =>
        val shufW = new java.util.concurrent.atomic.AtomicLong(0L)
        val shufR = new java.util.concurrent.atomic.AtomicLong(0L)
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onStageCompleted(
                e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
              val m = e.stageInfo.taskMetrics
              if (m != null) {
                shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
                shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
              }
            }
          })
        args(2).split(",").foreach { q =>
          shufW.set(0L); shufR.set(0L)
          spark.sparkContext.setJobDescription(q)
          force(SparkEntry.queries(q)(spark, sfDir))
          settle()
          println(f"SHUFFLE $q%-36s write ${shufW.get / 1024.0 / 1024.0}%9.2f MB" +
            f"  read ${shufR.get / 1024.0 / 1024.0}%9.2f MB")
        }
      // generic job/stage/task accounting (r14): run named SparkEntry
      // queries once through the noop sink and report how many JOBS
      // (driver actions), stages and tasks each pays, plus shuffle
      // bytes — the §2.6/§5 evidence for action-fusion changes (fewer
      // driver round trips) where the wall delta sits inside noise.
      case "jobs" =>
        val stages = new java.util.concurrent.atomic.AtomicLong(0L)
        val tasks = new java.util.concurrent.atomic.AtomicLong(0L)
        val shufW = new java.util.concurrent.atomic.AtomicLong(0L)
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onStageCompleted(
                e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
              stages.incrementAndGet()
              tasks.addAndGet(e.stageInfo.numTasks.toLong)
              val m = e.stageInfo.taskMetrics
              if (m != null) shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            }
          })
        args(2).split(",").foreach { q =>
          // warm-up once so codegen/IO caches don't ride the counts' run
          force(SparkEntry.queries(q)(spark, sfDir))
          settle()
          val jobs0 = started.get
          stages.set(0L); tasks.set(0L); shufW.set(0L)
          spark.sparkContext.setJobDescription(q)
          val t = time(force(SparkEntry.queries(q)(spark, sfDir)))
          settle()
          println(f"JOBS $q%-36s wall $t%7.3f  jobs ${started.get - jobs0}%3d  " +
            f"stages ${stages.get}%4d  tasks ${tasks.get}%6d  " +
            f"shufW ${shufW.get / 1024.0 / 1024.0}%9.2f MB")
        }
      case other => sys.error(s"unknown probe $other")
    }
    spark.stop()
  }
}
