package graft

import graft.operators.Graph
import scala.collection.mutable

import org.apache.spark.sql.DataFrame

/** Randomized cross-checks of the graph operators against independent
  * in-memory reference implementations: union-find for connected
  * components, multi-source Dijkstra for shortest paths, and the
  * integer-unit loops of [[GraphReference]] for the rank, peeling and
  * community operators.
  * Seeded graphs (not ScalaCheck-driven) keep Spark job counts bounded
  * while still walking a different topology per seed.
  */
class GraphRandomizedSpec extends GraftSparkSpec {
  import spark.implicits._

  private val seeds = Seq(1, 7, 13, 42)

  for (seed <- seeds) test(
    s"connectedComponents matches union-find (seed=$seed)") {
    val rnd = new scala.util.Random(seed)
    val n = 30 + rnd.nextInt(40)
    val m = 40 + rnd.nextInt(80)
    val edges = Seq.fill(m)(
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2).distinct

    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int =
      if (parent(x) == x) x
      else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(ra) = rb
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = nodes.groupBy(v => find(v.toInt)).values
      .flatMap { vs => val mn = vs.min; vs.map(_ -> mn) }.toMap

    val bidir = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val got = Graph.connectedComponents(bidir)
      .as[(Long, Long)].collect().toMap
    assert(got === expected)
  }

  for (seed <- seeds) test(
    s"shortestPaths matches multi-source Dijkstra (seed=$seed)") {
    val rnd = new scala.util.Random(seed * 31 + 5)
    val n = 30 + rnd.nextInt(40)
    val m = 50 + rnd.nextInt(100)
    val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong,
      (1 + rnd.nextInt(9)).toLong))
      .filter(e => e._1 != e._2)
      // one weight per (src,dst): keep the minimum, as the operator's
      // distinct-free relaxation would anyway
      .groupBy(e => (e._1, e._2)).map(_._2.minBy(_._3)).toSeq
    val sources = Seq(0L, 1L, 2L)

    val adj = edges.groupBy(_._1)
      .map { case (s, es) => s -> es.map(e => (e._2, e._3)) }
    val dist = mutable.Map[Long, Long](sources.map(_ -> 0L): _*)
    val pq = mutable.PriorityQueue[(Long, Long)]()(
      Ordering.by[(Long, Long), Long](_._1).reverse)
    sources.foreach(s => pq.enqueue((0L, s)))
    while (pq.nonEmpty) {
      val (d, v) = pq.dequeue()
      if (dist(v) == d)
        adj.getOrElse(v, Nil).foreach { case (w, c) =>
          if (dist.get(w).forall(_ > d + c)) {
            dist(w) = d + c; pq.enqueue((d + c, w))
          }
        }
    }

    val got = Graph.shortestPaths(edges.toDF("src", "dst", "w"),
        sources.toDF("source"), maxRounds = 64)
      .as[(Long, Long)].collect().toMap
    assert(got === dist.toMap)
  }

  for (seed <- seeds) test(
    s"harmonicCentrality matches an in-memory truncated BFS (seed=$seed)") {
    val rnd = new scala.util.Random(seed)
    val n = 30 + rnd.nextInt(40)
    val m = 40 + rnd.nextInt(80)
    val edges = Seq.fill(m)(
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2).distinct
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).distinct }
    val sources = (0L until n.toLong by 7).filter(adj.contains)
    def bfsDist(s: Long, maxD: Int): Map[Long, Int] = {
      val dist = mutable.Map(s -> 0)
      var frontier = List(s)
      var d = 0
      while (frontier.nonEmpty && d < maxD) {
        d += 1
        frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
          .filterNot(dist.contains).distinct
        frontier.foreach(v => dist(v) = d)
      }
      dist.toMap
    }
    val expected = sources.flatMap { s =>
      val ds = bfsDist(s, 3).filter(_._2 > 0)
      if (ds.isEmpty) None
      else Some(s -> ((ds.size.toLong, ds.values.map(_.toLong).sum,
        ds.values.map(d => 1000000L / d).sum,
        ds.size.toLong * 1000000L / ds.values.sum)))
    }.toMap
    val bidir = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val got = Graph.harmonicCentrality(bidir,
        sources.toDF("source"), maxDepth = 3)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got === expected)
  }

  for (seed <- seeds) test(
    s"betweennessTruncated matches in-memory Brandes (seed=$seed)") {
    val rnd = new scala.util.Random(seed + 100)
    val n = 25 + rnd.nextInt(30)
    val m = 35 + rnd.nextInt(60)
    val edges = Seq.fill(m)(
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2).distinct
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).distinct }
    val sources = (0L until n.toLong by 5).filter(adj.contains)
    // reference: truncated Brandes with the SAME integer micro-unit
    // floor-division per term the operator documents
    val bc = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    sources.foreach { s =>
      val level = mutable.Map(s -> 0)
      val sigma = mutable.Map(s -> 1L)
      var frontier = List(s)
      for (d <- 1 to 3) {
        val next = mutable.LinkedHashSet.empty[Long]
        frontier.foreach { u =>
          adj.getOrElse(u, Nil).foreach { v =>
            if (!level.contains(v) || level(v) == d) {
              if (!level.contains(v)) { level(v) = d; next += v }
              sigma(v) = sigma.getOrElse(v, 0L) + sigma(u)
            }
          }
        }
        frontier = next.toList
      }
      val delta = mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for (d <- 2 to 1 by -1) {
        level.filter(_._2 == d).keys.foreach { u =>
          val terms = adj(u).filter(w =>
            level.get(w).contains(d + 1))
            .map(w => sigma(u) * (1000000L + delta(w)) / sigma(w))
          delta(u) = terms.sum
          bc(u) += delta(u)
        }
      }
    }
    val expected = bc.filter(_._2 != 0).toMap
    val bidir = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val got = Graph.betweennessTruncated(bidir,
        sources.toDF("source"), maxDepth = 3)
      .as[(Long, Long)].collect().toMap
      .filter(_._2 != 0)
    assert(got === expected)
  }

  for (seed <- seeds) test(
    s"maximalIndependentSet: independent, maximal at fixpoint (seed=$seed)") {
    val rnd = new scala.util.Random(seed)
    val n = 30 + rnd.nextInt(40)
    val m = 40 + rnd.nextInt(80)
    val edges = Seq.fill(m)(
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2).distinct
    val bidir = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    // enough rounds to reach the fixpoint on a ~70-node graph
    val status = Graph.maximalIndependentSet(bidir, rounds = 12)
      .as[(Long, Int)].collect().toMap
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    assert(status.values.forall(s => s == 1 || s == 2),
      "fixpoint not reached: some node still active after 12 rounds")
    val mis = status.collect { case (v, 1) => v }.toSet
    // independence: no edge inside the MIS
    edges.foreach { case (a, b) =>
      assert(!(mis(a) && mis(b)), s"edge ($a,$b) inside MIS")
    }
    // maximality: every removed node has a MIS neighbor
    status.collect { case (v, 2) => v }.foreach { v =>
      assert(adj(v).exists(mis), s"removed node $v has no MIS neighbor")
    }
  }

  for (seed <- seeds) test(
    s"louvainSync matches the in-memory synchronous reference (seed=$seed)") {
    val rnd = new scala.util.Random(seed * 17 + 3)
    val n = 25 + rnd.nextInt(30)
    val m = 40 + rnd.nextInt(80)
    val und = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
      .map(e => (e._1 min e._2, e._1 max e._2)).distinct
    val rounds = 1 + rnd.nextInt(3)

    val comm = GraphReference.louvain(und, rounds)

    val got = Graph.louvainSync(und.toDF("src", "dst"), rounds)
      .as[(Long, Long)].collect().toMap
    assert(got === comm, s"rounds=$rounds n=$n m=${und.size}")
  }

  /** A seeded random directed graph, self-loops dropped, no duplicates. */
  private def randomEdges(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed * 7 + 11)
    val n = 25 + rnd.nextInt(30)
    val m = 50 + rnd.nextInt(90)
    Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2).distinct
  }

  private def ranks(df: DataFrame): Map[Long, Long] =
    df.as[(Long, Long)].collect().toMap

  for (seed <- seeds) test(
    s"pagerank matches the in-memory integer-unit reference (seed=$seed)") {
    val edges = randomEdges(seed)
    // both materialization cadences: per round and unrolled
    val interval = if (seed % 2 == 0) 1 else 5
    val got = ranks(Graph.pagerank(edges.toDF("src", "dst"), iters = 4,
      checkpointInterval = interval))
    assert(got === GraphReference.pagerank(edges, iters = 4))
  }

  for (seed <- seeds) test(
    s"personalizedPagerank matches the in-memory reference (seed=$seed)") {
    val edges = randomEdges(seed)
    // one seed outside the graph: ignored, mass splits over the rest
    val sd = Seq(edges.head._1, edges.last._2, 1000L)
    val got = ranks(Graph.personalizedPagerank(edges.toDF("src", "dst"),
      sd.toDF("seed"), iters = 3))
    assert(got === GraphReference.personalizedPagerank(edges, sd, iters = 3))
  }

  for (seed <- seeds) test(
    s"hits matches the in-memory renormalizing reference (seed=$seed)") {
    val edges = randomEdges(seed)
    val interval = if (seed % 2 == 0) 1 else 5
    val got = Graph.hits(edges.toDF("src", "dst"), iters = 3,
        checkpointInterval = interval)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === GraphReference.hits(edges, iters = 3))
  }

  for (seed <- seeds) test(
    s"kcore matches in-memory peeling (seed=$seed)") {
    val edges = randomEdges(seed)
    val bidir = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val k = 3
    val got = ranks(Graph.kcore(bidir.toDF("src", "dst"), k))
    val want = GraphReference.kcore(bidir, k)
    assert(want.nonEmpty, "degenerate seed: the core peeled to nothing")
    assert(got === want)
  }

  test("louvainSync: two cliques with one bridge collapse to two communities") {
    // K5 on 0-4 and K5 on 10-14, bridged 4-10: after two rounds every
    // clique member should sit in one community per clique
    val k5a = for (a <- 0 to 4; b <- 0 to 4 if a < b) yield (a.toLong, b.toLong)
    val k5b = for (a <- 10 to 14; b <- 10 to 14 if a < b) yield (a.toLong, b.toLong)
    val edges = (k5a ++ k5b :+ (4L, 10L)).toDF("src", "dst")
    val got = Graph.louvainSync(edges, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got.filterKeys(_ <= 4).values.toSet.size === 1, s"clique A split: $got")
    assert(got.filterKeys(_ >= 10).values.toSet.size === 1, s"clique B split: $got")
    assert(got(0L) !== got(12L), "cliques merged across the bridge")
  }
}
