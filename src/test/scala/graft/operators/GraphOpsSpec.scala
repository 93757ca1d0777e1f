package graft.operators

import graft.SparkTestBase

class GraphOpsSpec extends SparkTestBase {

  test("connected components: chains, cliques and pairs get min-id labels") {
    val sqlc = spark
    import sqlc.implicits._
    // chain 1-2-3-4, triangle 10-11-12, isolated pair 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (21L, 20L)).toDF("a", "b")
    val cc = GraphOps.connectedComponents(edges, "a", "b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components: a long chain needs (and gets) many rounds") {
    val sqlc = spark
    import sqlc.implicits._
    // path 100-99-...-80 entered high-to-low: min label must walk the
    // full diameter to reach the far end
    val edges = (81L to 100L).map(i => (i, i - 1)).toDF("a", "b")
    val cc = GraphOps.connectedComponents(edges, "a", "b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.keySet == (80L to 100L).toSet)
    assert(cc.values.forall(_ == 80L))
  }

  test("connected components: a multi-hop chain converges in more than one round") {
    val sqlc = spark
    import sqlc.implicits._
    // chain 1-2-3-4: round 1 changes labels, and only the EAGER
    // checkpoint of each round fills the changed-label accumulator the
    // driver reads — a lazy one would read 0, stop after one round and
    // return unconverged labels instead of failing at maxIter = 1
    val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      GraphOps.connectedComponents(edges, "a", "b", maxIter = 1)
    }
    assert(e.getMessage.contains("did not converge"))
    val cc = GraphOps.connectedComponents(edges, "a", "b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == (1L to 4L).map(_ -> 1L).toMap)
  }

  test("pointer jumping matches propagation on mixed graphs") {
    val sqlc = spark
    import sqlc.implicits._
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (21L, 20L)).toDF("a", "b")
    val pj = GraphOps.pointerJump(edges, "a", "b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pj == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("pointer jumping closes a 10^4-node path in < 20 rounds") {
    val sqlc = spark
    import sqlc.implicits._
    // a diameter-9999 path: min-label propagation would need 10^4
    // rounds (and rightly throws at maxIter); pointer doubling reaches
    // the far end in ~log2(diameter) + 2 rounds
    val n = 10000L
    val edges = spark.range(1, n).selectExpr("id AS a", "id - 1 AS b")
    val pj = GraphOps.pointerJump(edges, "a", "b", maxIter = 20)
    val agg = pj.agg(
      org.apache.spark.sql.functions.countDistinct("cluster"),
      org.apache.spark.sql.functions.max("cluster"),
      org.apache.spark.sql.functions.count("id")).collect()(0)
    assert(agg.getLong(0) == 1L && agg.getLong(1) == 0L &&
      agg.getLong(2) == n)
  }

  test("pageRankInt: star center dominates; mass bounds; partition-invariant") {
    val sqlc = spark
    import sqlc.implicits._
    import org.apache.spark.sql.functions._
    // undirected star: center 0, leaves 1..8 — pass both directions
    val half = (1L to 8L).map(l => (0L, l))
    val edges = (half ++ half.map(_.swap)).toDF("a", "b")
    val pr = GraphOps.pageRankInt(edges, "a", "b", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val leaves = (1L to 8L).map(pr)
    assert(leaves.distinct.size == 1, "symmetric leaves must tie exactly")
    assert(pr(0L) > leaves.head * 3,
      s"star center must dominate: center=${pr(0L)} leaf=${leaves.head}")
    // per-round mass: damping base keeps every rank >= (1-d)*10^6;
    // div truncation only destroys mass, so total <= n*10^6
    assert(pr.values.forall(_ >= 150000L))
    assert(pr.values.sum <= 9L * 1000000L)
    // integer law -> partitioning cannot change a single rank
    val repart = GraphOps.pageRankInt(edges.repartition(7), "a", "b", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(repart == pr, "ranks must be partition-invariant (exact longs)")
  }

  test("labelPropagate: hop radius, majority ties, immutable seeds") {
    val sqlc = spark
    import sqlc.implicits._
    // path 0-1-2-3 (seed at 0), triangle 10-11-12 with two competing
    // seeds (10:'b', 11:'a') voting on 12 — tie breaks to 'a'
    val half = Seq((0L, 1L), (1L, 2L), (2L, 3L),
      (10L, 12L), (11L, 12L), (10L, 11L))
    val edges = (half ++ half.map(_.swap)).toDF("a", "b")
    val seeds = Seq((0L, "x"), (10L, "b"), (11L, "a")).toDF("id", "lab")
    val got = GraphOps.labelPropagate(edges, "a", "b", seeds, "id", "lab", 2)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // 2 rounds reach exactly 2 hops down the path; node 3 stays NULL
    assert(got(1L).contains("x") && got(2L).contains("x"))
    assert(got(3L).isEmpty, "a 3-hop node must stay unlabeled after 2 rounds")
    // equal votes (b from 10, a from 11) -> smallest label wins
    assert(got(12L).contains("a"), s"tie must break to 'a', got ${got(12L)}")
    // seeds never change (11 is adjacent to 10's 'b' but keeps 'a')
    assert(got(0L).contains("x") && got(10L).contains("b") &&
      got(11L).contains("a"))
  }

  test("labelPropagate: dst-only nodes of a directed edge list vote in") {
    val sqlc = spark
    import sqlc.implicits._
    // NON-symmetrized edges 0->1->2: node 2 never appears as a src.
    // The scaladoc contract is "(id, label) for every node incident to
    // an edge" — 2 must be present AND receive 1's round-1 label in
    // round 2 (it was silently dropped before round 13's node-set fix)
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("a", "b")
    val seeds = Seq((0L, "x")).toDF("id", "lab")
    val got = GraphOps.labelPropagate(edges, "a", "b", seeds, "id", "lab", 2)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got.keySet == Set(0L, 1L, 2L),
      s"every incident node must appear, got ${got.keySet}")
    assert(got(1L).contains("x") && got(2L).contains("x"))
  }
}
