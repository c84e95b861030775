package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SourceOverlapSpec extends SparkSpec {
  import spark.implicits._

  test("matrix counts shared distinct keys per ordered source pair") {
    // s1: {a,b,c}; s2: {b,c,d}; s3: {x}; duplicates must not double-count
    val keyed = Seq(
      ("s1", "a"), ("s1", "b"), ("s1", "c"), ("s1", "b"),
      ("s2", "b"), ("s2", "c"), ("s2", "d"),
      ("s3", "x")).toDF("src", "k")
    val got = SourceOverlap.matrix(keyed, "src", "k")
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("s1", "s2", 2L, 3L, 3L)))
  }

  test("pairs are ordered (source_a < source_b), zero-overlap pairs absent") {
    val keyed = Seq(("z", "k1"), ("a", "k1"), ("m", "k2")).toDF("src", "k")
    val got = SourceOverlap.matrix(keyed, "src", "k")
      .select(col("source_a"), col("source_b"))
      .as[(String, String)].collect().toSeq
    assert(got === Seq(("a", "z")))
  }

  test("capped ≡ uncapped when no key's source-df exceeds the cap") {
    val keyed = Seq(
      ("s1", "a"), ("s1", "b"), ("s2", "b"), ("s2", "c"),
      ("s3", "a"), ("s3", "c"), ("s3", "d")).toDF("src", "k")
    // max source-df here is 2 (a: s1,s3; b: s1,s2; c: s2,s3)
    val un = SourceOverlap.matrix(keyed, "src", "k").collect().toSeq
    val cap = SourceOverlap.matrix(keyed, "src", "k", maxSourcesPerKey = 2)
      .collect().toSeq
    assert(cap === un)
  }

  test("df cap boundary: df == cap kept, df == cap+1 dropped; totals follow") {
    // boiler in 3 sources (df 3), pair keys in 2 (df 2), solo in 1
    val keyed = Seq(
      ("s1", "boiler"), ("s2", "boiler"), ("s3", "boiler"),
      ("s1", "p12"), ("s2", "p12"),
      ("s2", "p23"), ("s3", "p23"),
      ("s1", "solo1")).toDF("src", "k")
    val got = SourceOverlap.matrix(keyed, "src", "k", maxSourcesPerKey = 2)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    // boiler is gone everywhere: from the pair counts AND the totals
    // (n_a/n_b count the capped key universe) — s1:{p12,solo1}=2,
    // s2:{p12,p23}=2, s3:{p23}=1
    assert(got === Seq(("s1", "s2", 1L, 2L, 2L), ("s2", "s3", 1L, 2L, 1L)))
  }

  test("boilerplate blowup is bounded by the cap (the fan-out guard)") {
    // 60 sources all sharing 5 boilerplate keys; sources i, i+1 share
    // one genuine key. Uncapped pair volume from boilerplate alone is
    // 5 * C(60,2) = 8850; capped at 2 the boilerplate contributes ZERO
    // pairs and only the 59 genuine adjacent overlaps survive. Sum of
    // n_shared == pairs emitted by the join (pre-aggregation), so the
    // assertion measures exactly the fan-out the cap exists to bound.
    val rows = (0 until 60).flatMap { i =>
      val src = f"s$i%02d"
      (0 until 5).map(b => (src, s"boiler$b")) :+ ((src, s"genuine$i")) :+
        ((src, s"genuine${i - 1}"))
    }
    val keyed = rows.toDF("src", "k")
    val un = SourceOverlap.matrix(keyed, "src", "k")
      .agg(sum(col("n_shared"))).as[Long].head()
    val cap = SourceOverlap.matrix(keyed, "src", "k", maxSourcesPerKey = 2)
      .agg(sum(col("n_shared"))).as[Long].head()
    assert(un === 5L * (60L * 59L / 2L) + 59L)
    assert(cap === 59L)
  }
}
