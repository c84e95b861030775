package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SetSimJoinSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force ground truth: all pairs, exact distinct-token Jaccard. */
  private def brute(rows: Seq[(Long, String)], num: Int, den: Int): Set[(Long, Long, Long, Long, Long)] = {
    val sets = rows.map { case (id, t) =>
      id -> t.split("\\s+").toSeq.distinct.toSet
    }
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      common = (sa & sb).size.toLong
      if common * den >= num.toLong * (sa.size + sb.size - common)
    } yield (ia, ib, common, sa.size.toLong, sb.size.toLong)).toSet
  }

  private def run(rows: Seq[(Long, String)], num: Int, den: Int,
                  dictMax: Int = 1 << 20): Set[(Long, Long, Long, Long, Long)] =
    SetSimJoin.selfJoin(rows.toDF("doc_id", "text"), "doc_id",
        split(col("text"), "\\s+"), num, den, dictMaxTokens = dictMax)
      .as[(Long, Long, Long, Long, Long)].collect().toSet

  test("matches brute force on a crafted corpus (tau = 1/2)") {
    val rows = Seq(
      1L -> "a b c d",
      2L -> "a b c e",      // J(1,2) = 3/5 >= 1/2
      3L -> "a b",          // J(1,3) = 2/4 = 1/2 boundary (kept)
      4L -> "x y z",        // disjoint from 1-3
      5L -> "x y z",        // identical to 4 -> J = 1
      6L -> "a")            // size filter: 1/4 < 1/2 vs doc 1
    assert(run(rows, 1, 2) === brute(rows, 1, 2))
    assert(run(rows, 1, 2).contains((1L, 3L, 2L, 4L, 2L)), "boundary pair kept")
    assert(run(rows, 1, 2).contains((4L, 5L, 3L, 3L, 3L)), "identical pair kept")
  }

  test("matches brute force on a deterministic random corpus at several taus, BOTH prefix paths") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector.tabulate(30)(i => s"w$i")
    val rows = (1L to 60L).map { id =>
      val n = 3 + rnd.nextInt(10)
      id -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    for ((num, den) <- Seq((3, 10), (1, 2), (7, 10), (9, 10), (1, 1))) {
      val want = brute(rows, num, den)
      assert(run(rows, num, den) === want, s"dict path tau=$num/$den")
      // dictMaxTokens = 0 forces the shuffled window path
      assert(run(rows, num, den, dictMax = 0) === want, s"shuffled path tau=$num/$den")
    }
  }

  test("blocking restricts pairs to equal block keys, complete within blocks") {
    val rows = Seq(
      (1L, "a b c", "en"), (2L, "a b c", "en"),   // same block, identical
      (3L, "a b c", "de"),                        // identical text, other block
      (4L, "a b d", "en"))                        // J(1,4) = 2/4
    val out = SetSimJoin.selfJoin(rows.toDF("doc_id", "text", "lang"),
        "doc_id", split(col("text"), "\\s+"), 1, 2, blockCols = Seq("lang"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 2L), (1L, 4L), (2L, 4L)),
      "cross-block pair (1,3)/(2,3) must not appear; within-block pairs all do")
  }

  test("duplicate tokens in the input are counted once (distinct-set semantics)") {
    val rows = Seq(1L -> "a a a b", 2L -> "a b b b")
    // distinct sets both {a, b} -> J = 1
    assert(run(rows, 9, 10) === Set((1L, 2L, 2L, 2L, 2L)))
  }

  test("tau = 1 returns exactly the identical-set pairs") {
    val rows = Seq(1L -> "p q r", 2L -> "p q r", 3L -> "p q s", 4L -> "r q p")
    assert(run(rows, 1, 1).map(p => (p._1, p._2)) === Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("R-S join matches cross brute force on a random corpus, both prefix paths") {
    val rnd = new scala.util.Random(99)
    val vocab = Vector.tabulate(25)(i => s"v$i")
    def mk(ids: Range) = ids.map { id =>
      id.toLong -> Seq.fill(3 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val left = mk(1 to 40)
    val right = mk(100 to 140)
    def bruteCross(num: Int, den: Int) = {
      def sets(rows: Seq[(Long, String)]) =
        rows.map { case (id, t) => id -> t.split("\\s+").toSeq.distinct.toSet }
      (for {
        (ia, sa) <- sets(left); (ib, sb) <- sets(right)
        common = (sa & sb).size.toLong
        if common * den >= num.toLong * (sa.size + sb.size - common)
      } yield (ia, ib, common, sa.size.toLong, sb.size.toLong)).toSet
    }
    for ((num, den) <- Seq((1, 2), (7, 10)); dictMax <- Seq(1 << 20, 0)) {
      val got = SetSimJoin.join(left.toDF("doc_id", "text"), right.toDF("doc_id", "text"),
          "doc_id", split(col("text"), "\\s+"), num, den, dictMaxTokens = dictMax)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(got === bruteCross(num, den), s"tau=$num/$den dictMax=$dictMax")
    }
  }

  test("R-S join: a document present on both sides pairs with itself") {
    val l = Seq(1L -> "x y z", 2L -> "a b c").toDF("doc_id", "text")
    val r = Seq(1L -> "x y z", 3L -> "p q r").toDF("doc_id", "text")
    val got = SetSimJoin.join(l, r, "doc_id", split(col("text"), "\\s+"), 9, 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 1L)))
  }

  test("no self pairs and no duplicate (a, b) rows") {
    val rows = (1L to 10L).map(i => i -> "same text every row")
    val out = SetSimJoin.selfJoin(rows.toDF("doc_id", "text"), "doc_id",
      split(col("text"), "\\s+"), 1, 2)
    val pairs = out.select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.length === pairs.distinct.length)
    assert(pairs.forall { case (a, b) => a < b })
    assert(pairs.length === 45, "all 10-choose-2 identical pairs found")
  }
}
