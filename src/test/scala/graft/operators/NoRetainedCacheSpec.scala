package graft.operators {

import graft.{Bench, SparkEntry, SparkSpec}

/** No operator keeps cache state between calls: running a query leaves
  * the session's CacheManager exactly as it found it. Covers every
  * query whose operator once held a cross-call cache (SetSimJoin,
  * BloomFilters, SourceOverlap, NgramLm, RandomProjection). Each runs
  * twice, so a cache that only a repeated identical call would keep
  * shows up too. */
class NoRetainedCacheSpec extends SparkSpec {

  // the shared test tables (TESTDATA.md)
  private val sfDir = s"${sys.props("user.home")}/testdata/sf0.001"

  private val queries = Seq(
    "q113_partitioned_bloom", "q134_setsim_join", "q140_setsim_cross_join",
    "q146_curation_capstone", "q155_ngram_lm_score", "q157_dsir_importance",
    "q158_decontaminate_bloom", "q159_source_overlap",
    "q160_source_overlap_capped", "q161_stupid_backoff_lm",
    "q164_jl_project_topk", "q165_perplexity_buckets",
    "q166_pruned_backoff_lm", "q173_kneser_ney_lm")

  private def cachedEntries: Int =
    org.apache.spark.sql.graftprobe.CachedEntries(spark)

  // counted before the first query runs: a one-slot cache that swaps
  // the previous test's entry for its own keeps the count flat between
  // two tests, but not against the suite's start
  private lazy val atStart = cachedEntries

  queries.foreach { q =>
    test(s"$q run twice leaves no cached entry behind") {
      val before = atStart
      (1 to 2).foreach { _ =>
        Bench.force(SparkEntry.queries(q)(spark, sfDir))
        assert(cachedEntries === before,
          s"$q: ${cachedEntries - before} more cached entries than at the start")
      }
    }
  }
}
}

package org.apache.spark.sql.graftprobe {

/** The session's CacheManager entry count (`numCachedEntries` is
  * private[sql]). */
object CachedEntries {
  def apply(spark: org.apache.spark.sql.SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
}
