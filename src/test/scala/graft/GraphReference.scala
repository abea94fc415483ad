package graft

import scala.collection.mutable

/** In-memory reference implementations of the iterative graph operators,
  * written with plain maps and loops and the SAME integer-unit arithmetic
  * (`div` truncation, `pct * s div 100` damping) the operators document,
  * so a spec can compare an operator's output with `===`.
  */
object GraphReference {

  private def nodesOf(edges: Seq[(Long, Long)]): Seq[Long] =
    edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted

  /** Shared damped-rank round: `in(v) = Σ r(u) div outdeg(u)` over u -> v,
    * `r'(v) = teleport(v) + (pct · in(v)) div 100`.
    */
  private def rankRounds(edges: Seq[(Long, Long)], init: Map[Long, Long],
                         teleport: Long => Long, iters: Int,
                         dampingPct: Int): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var r = init
    (1 to iters).foreach { _ =>
      val in = mutable.Map[Long, Long]().withDefaultValue(0L)
      edges.foreach { case (s, d) => in(d) += r(s) / deg(s) }
      r = r.keys.map(v => v -> (teleport(v) + dampingPct * in(v) / 100)).toMap
    }
    r
  }

  /** Graph.pagerank with its default dangling and tolerance options. */
  def pagerank(edgeList: Seq[(Long, Long)], iters: Int,
               scale: Long = 1000000000000L,
               dampingPct: Int = 85): Map[Long, Long] = {
    val edges = edgeList.distinct
    val nodes = nodesOf(edges)
    val unit = scale / nodes.size
    val teleport = (100L - dampingPct) * unit / 100
    rankRounds(edges, nodes.map(_ -> unit).toMap, _ => teleport, iters,
      dampingPct)
  }

  /** Graph.personalizedPagerank: mass and teleport only on the seeds that
    * are in the graph.
    */
  def personalizedPagerank(edgeList: Seq[(Long, Long)], seeds: Seq[Long],
                           iters: Int, scale: Long = 1000000000000L,
                           dampingPct: Int = 85): Map[Long, Long] = {
    val edges = edgeList.distinct
    val nodes = nodesOf(edges)
    val sd = seeds.distinct.filter(nodes.toSet).toSet
    val unit = scale / sd.size
    val teleport = (100L - dampingPct) * unit / 100
    rankRounds(edges, nodes.map(v => v -> (if (sd(v)) unit else 0L)).toMap,
      v => if (sd(v)) teleport else 0L, iters, dampingPct)
  }

  /** Graph.hits: `(auth, hub)` per node, each half-step renormalized to
    * `scale` units total by `(raw · scale) div Σraw`.
    */
  def hits(edgeList: Seq[(Long, Long)], iters: Int,
           scale: Long = 1000000000L): Map[Long, (Long, Long)] = {
    val edges = edgeList.distinct
    val nodes = nodesOf(edges)
    def renorm(raw: Map[Long, Long]): Map[Long, Long] = {
      val tot = BigInt(raw.values.sum)
      nodes.map(v => v -> raw.get(v).map(x =>
        (BigInt(x) * scale / tot).toLong).getOrElse(0L)).toMap
    }
    var h = nodes.map(_ -> 1000000L).toMap
    var a = nodes.map(_ -> 0L).toMap
    (1 to iters).foreach { _ =>
      a = renorm(edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map(e => h(e._1)).sum })
      h = renorm(edges.filter(e => a(e._2) != 0L).groupBy(_._1)
        .map { case (s, es) => s -> es.map(e => a(e._2)).sum })
    }
    nodes.map(v => v -> ((a(v), h(v)))).toMap
  }

  /** Graph.kcore: peel every node whose out-degree is below k until none
    * is left; `(node, degree inside the core)`.
    */
  def kcore(edgeList: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var edges = edgeList.distinct
    var done = false
    while (!done) {
      val keep = edges.groupBy(_._1).filter(_._2.size >= k).keySet
      val next = edges.filter(e => keep(e._1) && keep(e._2))
      done = next.size == edges.size
      edges = next
    }
    edges.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
  }

  /** Graph.labelPropagate: synchronous LPA where every node takes the
    * majority label among its labeled out-neighbors (ties to the smallest
    * label) and keeps its own label when no out-neighbor is labeled.
    * Unlabeled nodes map to null.
    */
  def labelPropagate(edgeList: Seq[(Long, Long)], seeds: Map[Long, String],
                     iters: Int): Map[Long, String] = {
    val edges = edgeList.distinct
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    var labels = nodesOf(edges).map(v => v -> seeds.getOrElse(v, null)).toMap
    (1 to iters).foreach { _ =>
      labels = labels.map { case (v, own) =>
        val cand = out.getOrElse(v, Nil).map(labels).filter(_ != null)
        if (cand.isEmpty) v -> own
        else v -> cand.groupBy(identity).iterator
          .map { case (l, ls) => (-ls.size, l) }.min._2
      }
    }
    labels
  }

  /** Graph.louvainSync: synchronous move rounds over canonical undirected
    * pairs with the integer comparator `2m·k(i,c) − k_i·Σtot'(c)`, ties to
    * the smaller community id.
    */
  def louvain(und: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val adj = mutable.Map[Long, List[Long]]().withDefaultValue(Nil)
    und.distinct.foreach { case (a, b) =>
      adj(a) = b :: adj(a); adj(b) = a :: adj(b)
    }
    val nodes = adj.keys.toSeq.sorted
    val deg = nodes.map(v => v -> adj(v).size.toLong).toMap
    val m2 = deg.values.sum
    var comm = nodes.map(v => v -> v).toMap
    (1 to rounds).foreach { _ =>
      // .keys is a Set — mapping deg over it directly would DEDUPLICATE
      // equal degrees before summing (a 4+4 community would total 4)
      val ctot = comm.groupBy(_._2).map { case (c, ms) =>
        c -> ms.keys.iterator.map(deg).sum }
      val next = nodes.map { i =>
        val w = mutable.Map[Long, Long]().withDefaultValue(0L)
        adj(i).foreach(nb => w(comm(nb)) += 1L)
        if (!w.contains(comm(i))) w(comm(i)) = 0L
        val best = w.keys.map { c =>
          val tot = ctot(c) - (if (c == comm(i)) deg(i) else 0L)
          (m2 * w(c) - deg(i) * tot, c)
        }.minBy { case (s, c) => (-s, c) }
        i -> best._2
      }.toMap
      comm = next
    }
    comm
  }
}
