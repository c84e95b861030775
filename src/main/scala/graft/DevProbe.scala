package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Bench.force

/** Dev tool (optimization rounds): time labeled sub-stages of the hot
  * query chains through the noop sink — the guide §1 decomposition step
  * (which stage of a composed chain owns the wall time?), without
  * touching the bench contract. Each stage: 1 warm-up + 3 timed runs,
  * median reported, same rule as Bench.
  *
  * Usage: tools/run_class.sh graft.DevProbe <probeName> <sfDir>
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
    def stage(name: String)(df: => DataFrame): Unit = {
      spark.sparkContext.setJobDescription(name)
      force(df) // warm-up
      val ts = Seq.fill(3)(time(force(df))).sorted
      println(f"STAGE $name%-40s median ${ts(1)}%7.3f  runs ${ts.mkString(", ")}")
      spark.sparkContext.setJobDescription(null)
    }

    probe match {
      case "q186" =>
        val docs = Tables.documents(spark, sfDir)
        val isNew = col("doc_id") % 7 === 0
        val wh = docs.filter(!isNew)
        val batch = docs.filter(isNew)
        stage("fingerprint_warehouse") {
          graft.operators.Dedup.simHashHexTable(wh, "doc_id", "text")
        }
        stage("fingerprint_batch") {
          graft.operators.Dedup.simHashHexTable(batch, "doc_id", "text")
        }
        stage("full_incr_probe") {
          graft.operators.Dedup.simHashNearDupIncremental(
            graft.operators.Dedup.simHashHexTable(wh, "doc_id", "text"),
            batch, "doc_id", "text", maxHamming = 3)
        }
        // candidate volume: pairs sharing a band bucket, before hamming
        val fps = graft.operators.Dedup.simHashHexTable(wh, "doc_id", "text")
          .unionByName(graft.operators.Dedup.simHashHexTable(batch, "doc_id", "text"))
        val bands = fps.select(col("id"),
          posexplode(array((0 until 4).map(j =>
            substring(col("simhash_hex"), j * 4 + 1, 4)): _*)).as(Seq("band", "bval")))
        val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
            col("a.id") < col("b.id"))
        println("CANDIDATE band-bucket pairs (full corpus): " + cand.count())
        val bucketTop = bands.groupBy("band", "bval").count()
          .orderBy(col("count").desc).limit(10).collect()
        bucketTop.foreach(r => println(s"BUCKET band=${r.get(0)} bval=${r.get(1)} n=${r.get(2)}"))
      case "cc" =>
        val docs = Tables.documents(spark, sfDir)
        val pairs = graft.operators.Dedup.minHashLshPortable(docs, "doc_id", "text",
          numPerms = 32, numBands = 8, shingleN = 3, threshold = 0.3)
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        stage("lsh_pairs") { pairs }
        val p = pairs.localCheckpoint(true)
        println("PAIRS: " + p.count())
        println("ACTIVE endpoints: " + p.select(col("src").as("id"))
          .union(p.select(col("dst").as("id"))).distinct().count())
        println("DOCS: " + docs.count())
        stage("cc_auto_full") {
          graft.operators.ConnectedComponents.auto(
            p, docs.select(col("doc_id").as("id")))
        }
      // Kneser-Ney stage decomposition (r13): where does x10_q173 spend —
      // the train bigram count, the registry-cache materialization, the
      // model rollups, or the scoring joins?
      case "kn" =>
        val docs = Tables.documents(spark, sfDir)
        val train = docs.filter(col("doc_id") % 10 =!= 0)
        stage("bigram_counts") {
          train.select(explode(call_function("graft_shingles", col("text"), lit(2)))
              .as("bg"))
            .groupBy(col("bg")).agg(count(lit(1)).as("c12"))
        }
        stage("doc_bigrams_explode") {
          docs.select(col("doc_id"),
            explode(call_function("graft_shingles", col("text"), lit(2))).as("bg"))
        }
        stage("kn_full") {
          graft.operators.NgramLm.scoreDocsKneserNey(
            train, docs, "doc_id", "text").orderBy(col("doc_id"))
        }
        stage("kn_full_again") {
          graft.operators.NgramLm.scoreDocsKneserNey(
            train, docs, "doc_id", "text").orderBy(col("doc_id"))
        }
        // inline replica of the internals, to attribute the tail
        def knInline(useCache: Boolean, ckptDocBg: Boolean): DataFrame = {
          val bi0 = train
            .select(explode(call_function("graft_shingles", col("text"), lit(2)))
              .as("bg"))
            .groupBy(col("bg")).agg(count(lit(1)).as("c12"))
            .withColumn("w1", split(col("bg"), " ").getItem(0))
            .withColumn("w2", split(col("bg"), " ").getItem(1))
          val bi = if (useCache) bi0.localCheckpoint(true) else bi0
          val ctx = bi.groupBy(col("w1"))
            .agg(sum(col("c12")).as("ctx_v"), count(lit(1)).as("n1p_v"))
          val cont = bi.groupBy(col("w2")).agg(count(lit(1)).as("n1p_w"))
          val tot = bi.agg(count(lit(1)).as("b_types"))
          val cv = cont.agg(count(lit(1)).as("v_cont"))
          val pE9x = expr(
            "CASE WHEN ctx_v IS NOT NULL THEN " +
              "(cast(1000000000 as decimal(38,0)) * " +
              "(greatest(4L * coalesce(c12, 0L) - 3L, 0L) * b_types + " +
              "3L * n1p_v * coalesce(n1p_w, 0L))) div (4L * ctx_v * b_types) " +
              "ELSE (cast(1000000000 as decimal(38,0)) * " +
              "(coalesce(n1p_w, 0L) + 1L)) div (b_types + v_cont) END")
          val docBg0 = docs
            .select(col("doc_id"),
              explode(call_function("graft_shingles", col("text"), lit(2))).as("bg"))
          val docBg = if (ckptDocBg) docBg0.localCheckpoint(true) else docBg0
          val perBg = docBg.select(col("bg")).distinct()
            .withColumn("w1", split(col("bg"), " ").getItem(0))
            .withColumn("w2", split(col("bg"), " ").getItem(1))
            .join(bi.select(col("bg"), col("c12")), Seq("bg"), "left")
            .join(ctx, Seq("w1"), "left")
            .join(cont, Seq("w2"), "left")
            .crossJoin(broadcast(tot))
            .crossJoin(broadcast(cv))
            .select(col("bg"), pE9x.cast("long").as("p_e9"),
              when(col("c12").isNull, 1L).otherwise(0L).as("oov"))
          docBg.join(perBg, Seq("bg"))
            .groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_bigrams"),
              sum(col("oov")).as("n_oov"),
              sum(col("p_e9")).as("sum_p_e9"))
            .withColumn("score_e9", expr("sum_p_e9 div n_bigrams"))
            .orderBy(col("doc_id"))
        }
        stage("kn_inline_ckpt_bi") { knInline(true, false) }
        stage("kn_inline_nocache") { knInline(false, false) }
        stage("kn_inline_ckpt_both") { knInline(true, true) }

      // q96 expression decomposition (r13, guide §4): which of the
      // de-codegen'ing HOF expressions owns the projection's wall time?
      case "q96" =>
        import graft.ops.ColumnOps
        val part = Tables.part(spark, sfDir)
        val k = col("p_partkey")
        val n = pmod(k, lit(7)).cast("int")
        val urls = when(n === 0, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), n), i =>
            concat(lit("u"), pmod(k * i, lit(97)).cast("string"),
              lit("_"), i.cast("string"))))
        val rule = element_at(
          array(lit("first_2"), lit("last_2"), lit("neg_4_to_2"), lit("neg_3_and_4")),
          (pmod(k, lit(4)) + 1).cast("int"))
        val kept = ColumnOps.layFlatPick(urls, rule)
        stage("scan_only") { part.select(k.as("part_id"), col("p_brand")) }
        stage("urls_only") { part.select(k.as("part_id"), urls.as("u")) }
        stage("urls_kept") { part.select(k.as("part_id"), array_join(kept, ",").as("kj")) }
        stage("kept_plus_idx") { part.select(k.as("part_id"),
          array_join(kept, ",").as("kj"),
          array_join(transform(ColumnOps.storedIndices(kept, urls),
            x => x.cast("string")), ",").as("ij")) }
        stage("dedup_ci_only") { part.select(k.as("part_id"),
          array_join(ColumnOps.dedupCaseInsensitive(array(
            upper(col("p_brand")), col("p_brand"), lit("ANODIZED"),
            lit("anodized"), lower(col("p_brand")))), ",").as("e7")) }
        stage("full_q96") { SparkEntry.queries("q96_array_pick_ops")(spark, sfDir) }
        stage("full_q96_shared") {
          part.select(k.as("part_id"), rule.as("rule"),
              urls.as("__urls"), col("p_brand"))
            .withColumn("__kept", ColumnOps.layFlatPick(col("__urls"), col("rule")))
            .select(col("part_id"), col("rule"),
              array_join(col("__kept"), ",").as("kept_joined"),
              array_join(transform(
                ColumnOps.storedIndices(col("__kept"), col("__urls")),
                x => x.cast("string")), ",").as("idx_joined"),
              array_join(ColumnOps.dedupCaseInsensitive(array(
                upper(col("p_brand")), col("p_brand"), lit("ANODIZED"),
                lit("anodized"), lower(col("p_brand")))), ",").as("e7_joined"))
        }

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
          // listener events drain asynchronously — settle before reading
          // (as the x100 smokes in BASELINE.md did; listenerBus is
          // private[spark])
          Thread.sleep(1000)
          println(f"SHUFFLE $q%-36s write ${shufW.get / 1024.0 / 1024.0}%9.2f MB" +
            f"  read ${shufR.get / 1024.0 / 1024.0}%9.2f MB")
        }
      // generic job/stage/task accounting (r14): run named SparkEntry
      // queries once through the noop sink and report how many JOBS
      // (driver actions), stages and tasks each pays, plus shuffle
      // bytes — the §2.6/§5 evidence for action-fusion changes (fewer
      // driver round trips) where the wall delta sits inside noise.
      case "jobs" =>
        val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
        val stages = new java.util.concurrent.atomic.AtomicLong(0L)
        val tasks = new java.util.concurrent.atomic.AtomicLong(0L)
        val shufW = new java.util.concurrent.atomic.AtomicLong(0L)
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
              jobs.incrementAndGet()
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
          Thread.sleep(500)
          jobs.set(0L); stages.set(0L); tasks.set(0L); shufW.set(0L)
          spark.sparkContext.setJobDescription(q)
          val t = time(force(SparkEntry.queries(q)(spark, sfDir)))
          Thread.sleep(1000)
          println(f"JOBS $q%-36s wall $t%7.3f  jobs ${jobs.get}%3d  " +
            f"stages ${stages.get}%4d  tasks ${tasks.get}%6d  " +
            f"shufW ${shufW.get / 1024.0 / 1024.0}%9.2f MB")
        }
      case other => sys.error(s"unknown probe $other")
    }
    spark.stop()
  }
}
