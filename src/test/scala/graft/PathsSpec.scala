package graft

import org.apache.spark.sql.functions._

import graft.operators.Paths
import graft.queries.GraphQueries

/** [[Paths.boundedDistances]] against a driver-side brute-force BFS on
  * an adversarial graph (cycle + chords + a disconnected island), plus
  * the q214/q215 execution path on the real sf0.001 edge set. */
class PathsSpec extends SparkSpec {
  import spark.implicits._

  /** Undirected edges as (a, b); symmetrized before the call. */
  private def run(edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxHops: Int): Map[Long, Long] = {
    val e = (edges ++ edges.map(_.swap)).toDF("src", "dst")
    val s = seeds.toDF("id")
    Paths.boundedDistances(e, s, maxHops)
      .as[(Long, Long)].collect().toMap
  }

  private def bruteBfs(edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxHops: Int): Map[Long, Long] = {
    val adj = (edges ++ edges.map(_.swap))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds.toSet
    for (h <- 1 to maxHops) {
      val next = frontier.flatMap(adj.getOrElse(_, Nil))
        .diff(dist.keySet)
      dist ++= next.map(_ -> h.toLong)
      frontier = next
    }
    dist
  }

  // 0-1-2-3-4-5-0 cycle, chord 1-4, pendant 6 off 3, island 10-11
  private val g: Seq[(Long, Long)] = Seq(
    (0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 0L),
    (1L, 4L), (3L, 6L), (10L, 11L))

  test("single-source distances match brute-force BFS at every bound") {
    for (k <- 1 to 4)
      assert(run(g, Seq(0L), k) === bruteBfs(g, Seq(0L), k), s"maxHops=$k")
  }

  test("chord is honored: dist(0->4) is 2 via 5, not 3 via the chain") {
    assert(run(g, Seq(0L), 4)(4L) === 2L)
  }

  test("island stays unreached from the cycle; multi-seed covers it") {
    val single = run(g, Seq(0L), 4)
    assert(!single.contains(10L) && !single.contains(11L))
    val multi = run(g, Seq(0L, 10L), 4)
    assert(multi(10L) === 0L && multi(11L) === 1L)
    assert(multi === bruteBfs(g, Seq(0L, 10L), 4))
  }

  test("multi-source takes the NEAREST seed's distance") {
    // seeds 0 and 3: node 2 is 2 hops from 0 but 1 from 3
    val d = run(g, Seq(0L, 3L), 4)
    assert(d(2L) === 1L && d(6L) === 1L && d(5L) === 1L)
    assert(d === bruteBfs(g, Seq(0L, 3L), 4))
  }

  test("early exit: a shallow graph under a huge bound matches brute force") {
    // diameter 2 from node 0 on a star; maxHops 64 must early-exit
    // after the first empty layer and return the identical map
    val star: Seq[(Long, Long)] = (1L to 5L).map(i => (0L, i))
    assert(run(star, Seq(0L), 64) === bruteBfs(star, Seq(0L), 64))
    assert(run(star, Seq(1L), 64) === bruteBfs(star, Seq(1L), 64))
  }

  test("seed duplicated in the seed table counts once at dist 0") {
    val d = run(g, Seq(0L, 0L), 2)
    assert(d(0L) === 0L)
    assert(d === bruteBfs(g, Seq(0L), 2))
  }

  test("a query that throws inside the loop releases the edge cache") {
    spark.catalog.clearCache()
    val e = (g ++ g.map(_.swap)).toDF("src", "dst")
    // the first distance table's eager checkpoint evaluates this
    val seeds = Seq(0L).toDF("id")
      .select(expr("IF(id >= 0, raise_error('seed boom'), id)").as("id"))
    intercept[Exception](Paths.boundedDistances(e, seeds, 2))
    assert(spark.sharedState.cacheManager.isEmpty,
      "the persisted edge cache outlived the failed query")
  }

  test("q214 layers are consistent: one seed, a populated first layer") {
    val d = GraphQueries.graphDistances.fn(spark, sf)
      .groupBy("dist").count()
      .as[(Long, Long)].collect().toMap
    assert(d(0L) === 1L)          // exactly the one seed
    assert(d.getOrElse(1L, 0L) > 0L)
  }

  test("q215 shares sum to <= 1e6 and dist 0 counts the 3 hubs") {
    val full = GraphQueries.hubProximity.fn(spark, sf).collect()
    val n0 = full.find(_.getLong(0) == 0L).get.getLong(1)
    assert(n0 === 3L)
    assert(full.map(_.getLong(2)).sum <= 1000000L)
    assert(full.length >= 2)
  }
}
