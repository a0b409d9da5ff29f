package graft.operators

import graft.SparkSpec

/** Random-graph cross-validation of the distributed integer PageRank
  * and triangle enumeration against independent in-memory references —
  * the same discipline as ConnectedComponentsSpec: the fixture-level
  * oracle (q68/q74) pins one graph; these pin the algorithms across
  * many shapes (hubs, chains, disconnected sccs, dense cliques). */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  test("integer PageRank matches the in-memory reference on random directed graphs") {
    val rnd = new scala.util.Random(29)
    (1 to 8).foreach { trial =>
      val n = 3 + rnd.nextInt(20)
      val edges = (0 until 3 * n).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      if (edges.nonEmpty) {
        val iters = 1 + rnd.nextInt(4)
        val got = PageRank.ranks(spark, edges.toDF("src", "dst"), iters)
          .as[(Long, Long)].collect().toMap
        assert(got == PageRankReference.ranks(edges, iters),
          s"trial $trial (n=$n, iters=$iters)")
      }
    }
  }

  test("deep runs cross the plan-depth rebase and stay reference-exact") {
    // 12 iterations crosses two RebaseEvery=5 boundaries (the round-12
    // deep-run fix) and must equal the in-memory reference — the rebase
    // is a plan transformation, never a value change
    val rnd = new scala.util.Random(31)
    val n = 12
    val edges = (0 until 40).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2).distinct
    val df = edges.toDF("src", "dst")
    val got = PageRank.ranks(spark, df, 12).as[(Long, Long)].collect().toMap
    assert(got == PageRankReference.ranks(edges, 12), "vs reference")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("a source-only node keeps its damping base; a chain never goes extinct") {
    // directed chain 1 -> 2 -> 3: node 1 has no in-links and must retain
    // the base share every iteration; the rank set stays all three nodes
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = PageRank.ranks(spark, edges, 3).as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(1L, 2L, 3L), "no node may drop out of the rank set")
    val base = 15L * (PageRank.Scale / 3) / 100L
    assert(got(1L) == base, "source-only node holds exactly the base share")
    assert(got(3L) > got(1L), "the sink accumulates more than the source")
  }

  test("PageRank mass stays within the integral-division budget") {
    // undirected 3-cycle + pendant: total rank <= Scale (mass only leaks
    // DOWN through integral division, never inflates), and every node
    // retains at least the damping base share
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = PageRank.ranks(spark, edges, 5).as[(Long, Long)].collect()
    val total = got.map(_._2).sum
    assert(total <= PageRank.Scale && total > (PageRank.Scale * 9) / 10)
    val base = 15L * (PageRank.Scale / 4) / 100L
    got.foreach { case (node, r) => assert(r >= base, s"node $node below base") }
    // the degree-3 hub must outrank the pendant leaf
    val rank = got.toMap
    assert(rank(3L) > rank(4L))
  }

  test("triangle enumeration matches brute force on random canonical graphs") {
    val rnd = new scala.util.Random(41)
    (1 to 8).foreach { trial =>
      val n = 4 + rnd.nextInt(12)
      val edges = (for {
        a <- 0L until n; b <- (a + 1) until n
        if rnd.nextDouble() < 0.4
      } yield (a, b)).toSeq
      if (edges.nonEmpty) {
        val es = edges.toSet
        val want = (for {
          (a, b) <- edges; c <- (b + 1) until n
          if es.contains((a, c)) && es.contains((b, c))
        } yield (a, b, c)).toSet
        val got = Triangles.enumerate(edges.toDF("a", "b"))
          .as[(Long, Long, Long)].collect().toSet
        assert(got == want, s"trial $trial (n=$n, |E|=${edges.size})")
      }
    }
  }
}
