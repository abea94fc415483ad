package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph scoring over an edge list — the link-analysis family
  * (PageRank-style centrality) real corpus-curation pipelines run to score
  * web documents by graph importance before sampling (cf. Common Crawl
  * harmonic-centrality ranking used by CCNet-descendant pipelines).
  *
  * Engine-exactness discipline: ranks are kept in integer "units"
  * (`scale` units = total rank mass 1.0) and every per-iteration step is
  * integer arithmetic — contribution = `rank div out_degree`, damping =
  * `(dampingPct * sum) div 100` — so distributed summation order cannot
  * drift the result and the DuckDB oracle matches bit-for-bit. The
  * truncation error per node per iteration is < out_degree units
  * (≤ 1e-9 of total mass at the default scale), a deterministic bias both
  * engines share, not a correctness hazard.
  *
  * 100 TB shape: one `(edges ⋈ ranks)` shuffle on the src key plus one
  * aggregation on the dst key per iteration; `localCheckpoint` caps the
  * lineage per round (same discipline as Dedup.clusters). The edge list
  * with degrees is checkpointed ONCE and reused by every iteration, so
  * the per-round cost is two exchanges over rank-sized rows, never a
  * rebuild of the graph. Degrees and node ids stay distributed; the only
  * driver-side scalar is the node COUNT (the teleport constant).
  *
  * One superstep mechanism serves every operator: `cached` owns the
  * persist/unpersist lifecycle (released in a `finally`, error paths
  * included), `edgeList` and `withNodes` are the shared prologue (the
  * distinct long edge list; the sized, cached node set), `fixedRounds`
  * runs a fixed round count and `untilFixpoint` runs rounds until a
  * fixpoint or a cap. The operators keep only their round bodies, so
  * where each round exchanges is decided in one place per operator.
  *
  * Sized cached layouts (`Layout.sizedParts`, r21, guide §2.2 "fewer,
  * larger partitions" made operator-local): a frame an iterative operator
  * caches is rescanned every round, and at small scale the per-round cost
  * is dominated by per-task fixed overhead — every cached-frame scan and
  * every localCheckpoint stage ran `spark.sql.shuffle.partitions` tasks
  * regardless of size (a 20 k-row edge cache in 32 partitions of ~600
  * rows — measured x58_hits: 608 tasks / 51 s of task-binary
  * deserialization for ~1 s of work; a paired same-JVM A/B with 8 shuffle
  * partitions ran the family at 0.57×). Deriving the count from the
  * optimizer's size estimate, n = clamp(ceil(sizeInBytes / 4 MB), 1,
  * shuffle.partitions), is the scale-safe form of that observation: at
  * cluster scale the estimate exceeds the cap and n is the session's
  * shuffle parallelism, with no added exchange anywhere (call sites give
  * an existing repartition an explicit count or `coalesce`). 4 MB is far
  * below the 128 MB scan heuristic because these frames are rescanned
  * every round; production values belong in the session's
  * shuffle.partitions, which the count NEVER exceeds.
  */
object Graph {

  /** Persists `frame`, runs `body`, and unpersists it in a `finally`.
    * CacheManager holds persisted frames until an explicit unpersist (GC
    * never reclaims them), so an operator that returned — or threw —
    * with a frame still cached would leak it into a long-lived session;
    * bodies therefore return materialized frames, never a plan that
    * still reads a released cache. A frame derived from a cached one is
    * cached in a nested call, so its cache is built over its source's.
    */
  private def cached[A](frame: DataFrame)(body: => A): A = {
    frame.persist()
    try body finally frame.unpersist()
  }

  /** The distinct `(src: long, dst: long)` edge list. */
  private def edgeList(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()

  /** The rank prologue's node set: the sized, cached set of the
    * endpoints of the (already cached) edge frame `g`, passed to `body`.
    * Every iteration rescans it, so its partition count IS the per-round
    * task count.
    */
  private def withNodes[A](g: DataFrame)(body: DataFrame => A): A = {
    val nodes = Layout.sizedCoalesce(g.select(col("src").as("node"))
      .union(g.select(col("dst").as("node"))).distinct())
    cached(nodes)(body(nodes))
  }

  /** `rounds` applications of `step` to `init`. The state materializes
    * (localCheckpoint) after every `every`-th round but the last, and
    * once at the end, so the caller may release its caches on return.
    */
  private def fixedRounds(init: DataFrame, rounds: Int, every: Int = 1)(
      step: DataFrame => DataFrame): DataFrame = {
    var s = init
    for (i <- 1 to rounds) {
      s = step(s)
      if (i % every == 0 && i < rounds) s = s.localCheckpoint()
    }
    s.localCheckpoint()
  }

  /** Rounds 1, 2, … of `step` until one reports a fixpoint (its second
    * result is false) or `cap` rounds ran. The state keeps whatever the
    * stopping round returned.
    */
  private def untilFixpoint[S](init: S, cap: Int)(
      step: (S, Int) => (S, Boolean)): S = {
    var s = init
    var r = 0
    var more = true
    while (more && r < cap) {
      r += 1
      val (next, go) = step(s, r)
      s = next
      more = go
    }
    s
  }

  /** Delta min-propagation over `(node, v)`: each round `improve` derives,
    * from the last round's improvements (the frontier) and the standing
    * best values, the rows that beat their standing value; they are
    * min-merged into the standing frame, and an empty improvement is the
    * fixpoint. Only the frontier joins the edges, so a round costs
    * O(frontier out-edges), not O(E); both frames materialize per round
    * (the early-exit count reads a materialized frame).
    */
  private def minFixpoint(start: DataFrame, v: String, cap: Int)(
      improve: (DataFrame, DataFrame) => DataFrame): DataFrame =
    untilFixpoint((start, start), cap) { case ((best, frontier), _) =>
      val better = improve(frontier, best).localCheckpoint()
      if (better.isEmpty) ((best, frontier), false)
      else ((best.unionAll(better).groupBy("node").agg(min(col(v)).as(v))
        .localCheckpoint(), better), true)
    }._1

  /** Edges with their src's out-degree `d`, in the sized cached layout. */
  private def degreeGraph(edges: DataFrame): DataFrame = {
    val e = edgeList(edges)
    Layout.sizedCoalesce(e.join(e.groupBy("src").agg(count(lit(1)).as("d")),
      "src"))
  }

  /** Rank mass into each dst: `s = Σ contrib` over its in-edges, where
    * `contrib` reads the edge row and its src's rank `r`.
    */
  private def inflow(g: DataFrame, rank: DataFrame,
                     contrib: String): DataFrame =
    g.join(rank, g("src") === rank("node"))
      .select(col("dst"), expr(contrib).as("c"))
      .groupBy("dst").agg(sum(col("c")).as("s"))

  /** The damped share of the inflow `s`: `(pct · s) div 100`. */
  private def damped(dampingPct: Int): Column =
    expr(s"($dampingPct * coalesce(s, 0L)) div 100")

  /** Damped PageRank over a directed edge list `(src: long, dst: long)`.
    * Nodes with no out-edges contribute no mass (the standard
    * dangling-node simplification — callers wanting mass conservation
    * should bidirect their edges, as the x47 gate query does).
    *
    * `checkpointInterval` sets how many iterations run as ONE unrolled
    * DAG before the rank frame is materialized. The default (1: the
    * classic Pregel-style per-superstep materialization) is the
    * at-scale winner — measured at 10-30 M edges (tools/GraphScale) the
    * eager form runs ~3× faster than a 3-round unrolled plan, because a
    * materialized node-sized rank gives each round a shallow plan AQE
    * can size correctly, where the unrolled DAG re-plans every round's
    * exchanges pessimistically. Raise the interval only for SMALL
    * graphs (≲100k edges), where per-round checkpoint job overhead
    * dominates the actual work — the x47 gate query does exactly that.
    */
  def pagerank(
      edges: DataFrame,
      iters: Int,
      scale: Long = 1000000000000L,
      dampingPct: Int = 85,
      checkpointInterval: Int = 1,
      tolUnits: Long = 0L,
      redistributeDangling: Boolean = false): DataFrame = {
    // graph-with-degrees cached ONCE (persist, not eager checkpoint:
    // the InMemoryRelation advertises accurate stats, so AQE broadcasts
    // the node-sized rank frame into every iteration's edge join)
    val g = degreeGraph(edges)
    cached(g)(withNodes(g) { nodes =>
      val n = nodes.count() // bounded driver scalar; materializes both caches
      require(n > 0, "pagerank: empty graph")
      val unit = scale / n
      val teleport = ((100L - dampingPct) * unit) / 100L
      // convergence / dangling options (both OFF by default — the gate
      // query's bit-exact unrolled-oracle path is the default path):
      //  - tolUnits > 0: stop once the L1 rank delta (in units) falls to or
      //    below tolUnits — what a real web-graph ranking run wants instead
      //    of guessing an iteration count. Costs one node-sized join + agg
      //    (a driver scalar) per iteration, so it forces per-round
      //    materialization.
      //  - redistributeDangling: spread dangling-node mass (nodes with no
      //    out-edges) uniformly each round, restoring mass conservation
      //    without the bidirect-your-edges workaround. One anti-join agg
      //    (driver scalar) per iteration.
      def round(rank: DataFrame): DataFrame = {
        val danglingAdd: Long =
          if (!redistributeDangling) 0L
          else {
            val dm = rank.join(g.select(col("src")).distinct(),
                rank("node") === col("src"), "left_anti")
              .agg(coalesce(sum(col("r")), lit(0L))).head.getLong(0)
            (dampingPct.toLong * dm) / (100L * n)
          }
        val in = inflow(g, rank, "r div d")
        nodes.join(in, nodes("node") === in("dst"), "left")
          .select(col("node"),
            (lit(teleport + danglingAdd) + damped(dampingPct)).as("r"))
      }
      val init = nodes.withColumn("r", lit(unit))
      if (tolUnits <= 0L) fixedRounds(init, iters, checkpointInterval)(round)
      else untilFixpoint(init, iters) { (rank, _) =>
        val next = round(rank).localCheckpoint()
        val delta = next
          .join(rank.select(col("node"), col("r").as("r0")), "node")
          .agg(coalesce(sum(abs(col("r") - col("r0"))), lit(0L)))
          .head.getLong(0)
        (next, delta > tolUnits)
      }.localCheckpoint()
    })
  }

  /** WEIGHTED damped PageRank over `(src, dst, w)` — the host-graph form
    * (Common Crawl's host ranking counts links between hosts, it does
    * not unit-weight them): a node's rank splits across its out-edges
    * proportionally to weight instead of uniformly. Node ids are left
    * UNCAST, so string keys (hostnames) work directly — joins and
    * aggregations are equality-keyed either way, and hashing hosts to
    * longs would force every consumer to carry a sidecar mapping.
    *
    * Integer exactness: parallel (src,dst) edges pre-merge (sum of w);
    * the per-edge contribution `(r·w) div sw` is computed in the
    * decomposed exact form `(r div sw)·w + ((r mod sw)·w) div sw`, whose
    * intermediates are bounded by `sw·w ≤ sw²` instead of `r·w ≈
    * scale·w` — safe while a node's total out-weight stays below ~3e9
    * (vs overflowing at w ≈ 9.2e6 in the naive form at the default
    * scale). The oracle unrolls the same decomposed formula. Same
    * per-iteration shape, cache discipline, and dangling simplification
    * as [[pagerank]].
    */
  def pagerankWeighted(
      edges: DataFrame,
      iters: Int,
      scale: Long = 1000000000000L,
      dampingPct: Int = 85,
      checkpointInterval: Int = 1): DataFrame = {
    val e = edges.groupBy(col("src"), col("dst"))
      .agg(sum(col("w").cast("long")).as("w0"))
      .select(col("src"), col("dst"),
        // a non-positive merged weight is caller damage, said loudly —
        // a zero sw downstream would divide by zero with a worse message
        when(col("w0") > 0, col("w0")).otherwise(raise_error(
          lit("pagerankWeighted: non-positive edge weight"))).as("w"))
    val wsum = e.groupBy("src").agg(sum(col("w")).as("sw"))
    val g = Layout.sizedCoalesce(e.join(wsum, "src"))
    cached(g)(withNodes(g) { nodes =>
      val n = nodes.count() // bounded driver scalar; materializes both caches
      require(n > 0, "pagerankWeighted: empty graph")
      val unit = scale / n
      val teleport = ((100L - dampingPct) * unit) / 100L
      fixedRounds(nodes.withColumn("r", lit(unit)), iters,
          checkpointInterval) { rank =>
        val in = inflow(g, rank, "(r div sw) * w + ((r % sw) * w) div sw")
        nodes.join(in, nodes("node") === in("dst"), "left")
          .select(col("node"), (lit(teleport) + damped(dampingPct)).as("r"))
      }
    })
  }

  /** Personalized (seeded) PageRank: identical integer-unit iteration to
    * `pagerank`, but initial mass and the teleport term go ONLY to the
    * seed set — ranks measure relevance TO THE SEEDS, not global
    * centrality. This is the topic-focused corpus-expansion primitive
    * (start from a vetted seed set, surface the most-connected
    * candidates). Seeds outside the graph are ignored; mass is
    * `scale` units split across the surviving seeds. Same per-iteration
    * shape and cache discipline as `pagerank`.
    */
  def personalizedPagerank(
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int,
      scale: Long = 1000000000000L,
      dampingPct: Int = 85,
      checkpointInterval: Int = 1): DataFrame = {
    val g = degreeGraph(edges)
    cached(g)(withNodes(g) { nodes =>
      val sd = seeds.select(col("seed").cast("long").as("node")).distinct()
        .join(nodes, Seq("node"), "left_semi")
        .withColumn("is_seed", lit(1))
      cached(sd) {
        val nSeeds = sd.count() // bounded driver scalar; materializes the cache
        require(nSeeds > 0,
          "personalizedPagerank: no seed is present in the graph")
        val unit = scale / nSeeds
        val teleport = ((100L - dampingPct) * unit) / 100L
        val init = nodes.join(sd, Seq("node"), "left")
          .select(col("node"),
            when(col("is_seed") === 1, lit(unit)).otherwise(lit(0L)).as("r"))
        fixedRounds(init, iters, checkpointInterval) { rank =>
          val in = inflow(g, rank, "r div d")
          nodes.join(sd, Seq("node"), "left")
            .join(in, col("node") === in("dst"), "left")
            .select(col("node"),
              (when(col("is_seed") === 1, lit(teleport)).otherwise(lit(0L)) +
                damped(dampingPct)).as("r"))
        }
      }
    })
  }

  /** Synchronous label propagation (community/label spreading) over a
    * directed edge list `(src, dst)` from a seed set `(node, label)`:
    * each round, EVERY node takes the majority label among its
    * out-neighbors' current labels (ties broken by smallest label — the
    * deterministic LPA variant), keeping its previous label when no
    * neighbor is labeled. All decisions are (count, label) comparisons —
    * no floats — so the result is engine- and order-exact.
    *
    * Scale shape mirrors pagerank: per round one src-key join + one
    * (node, label) agg + one argmax agg on the node key; label
    * frames are node-sized and materialize per round (the measured
    * at-scale winner for iterative updates — see pagerank's note).
    * The per-node majority pick is `min_by` over (-count, label) — a
    * HASH aggregation with map-side partial combine, not a sort window:
    * same deterministic winner (max count, ties to smallest label; the
    * ordering struct is unique per row since labels are distinct within
    * a node's candidate set), one less sort per round, and the agg
    * shares the (n)-key exchange the window needed anyway.
    */
  def labelPropagate(
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int,
      checkpointInterval: Int = 1): DataFrame = {
    // cache the edge list PRE-PARTITIONED on the per-round join key:
    // distinct() leaves it hash-partitioned on (src,dst), which every
    // round's dst-key join would re-exchange — 100 M rows per iteration.
    // One upfront dst exchange (with a sized count) makes the cached
    // layout reusable, so per round only the node-sized label frame
    // shuffles (the connectedComponents discipline).
    val ePlan = edgeList(edges)
    val e = ePlan.repartition(Layout.sizedParts(ePlan), col("dst"))
    cached(e)(withNodes(e) { nodes =>
      val init = nodes.join(
        seeds.select(col("node").cast("long").as("sn"),
          col("label").cast("string").as("label")),
        nodes("node") === col("sn"), "left")
        .select(col("node"), col("label"))
      fixedRounds(init, iters, checkpointInterval) { labels =>
        // ONE exchange per round (r22, guide §2.4 share-the-exchange): the
        // neighbor-label rows hash-partition on the node key n BEFORE the
        // (n, label) count — HashPartitioning(n) satisfies the agg's
        // (n, label) clustering (subset rule), the majority argmax reuses
        // the same n layout, and the label merge join consumes maj already
        // partitioned on the join key.
        val maj = e.join(labels, e("dst") === labels("node"))
          .filter(col("label").isNotNull)
          .select(e("src").as("n"), col("label"))
          .repartition(col("n"))
          .groupBy(col("n"), col("label"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("n"))
          .agg(min_by(col("label"),
            struct((-col("c")).as("negc"), col("label"))).as("mlabel"))
        labels.join(maj, labels("node") === maj("n"), "left")
          .select(col("node"), coalesce(col("mlabel"), col("label")).as("label"))
      }
    })
  }

  /** Synchronous Louvain phase-1: community-move rounds over an
    * undirected edge list `(src, dst)` (taken as distinct undirected
    * pairs, bidirected internally). Output: `(node, community)` after
    * `rounds` simultaneous move rounds, communities initialized to the
    * node id.
    *
    * Gain arithmetic is FULLY INTEGER (the cross-engine float discipline):
    * multiplying the classical ΔQ of moving node i into community c
    * through by (2m)² and dropping the terms identical across candidates
    * leaves the comparator
    *   score(i→c) = 2m·k(i,c) − k_i·Σtot'(c)
    * where k(i,c) counts i's edges into c, Σtot'(c) is the community's
    * total degree with i's own degree removed when c is i's current
    * community (remove-then-evaluate, as in sequential Louvain), and m
    * is the undirected edge count — all longs, so the argmax is exact
    * and the DuckDB oracle replays it bit-for-bit. Ties break to the
    * smaller community id. The synchronous (all nodes at once) variant
    * is the one a shuffle-based engine can actually run — sequential
    * Louvain's per-node cascading updates serialize; the cost is that
    * some rounds oscillate instead of strictly improving, which bounded
    * `rounds` accepts (the standard distributed-Louvain trade,
    * cf. GraphX/Grappolo-style implementations).
    *
    * Scale shape: the bidirected edge list is cached partitioned on dst
    * (the per-round join key, labelPropagate's discipline); each round
    * shuffles only node-sized frames (assignments, community degrees,
    * per-(node, community) weights — bounded by the edge count map-side
    * combined). Per-round lineage is cut with localCheckpoint.
    */
  def louvainSync(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "louvain: rounds must be >= 1")
    val und = edges.select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    // dst-hash layout at SESSION parallelism — deliberately NOT
    // sizedParts (r22, verdict item 1): louvain's per-round work (the
    // e⋈comm join, the (i,c) aggregation, the 4-way scoring join) is
    // CPU-heavy and INHERITS this cached layout, so the r21 bytes-only
    // size estimate (~1-2 partitions at sf0.1) serialized every round —
    // driver receipts x97 4.99→12.20 s (0.41×), reproduced same-box
    // (bench_r21_mid 9.87 s), 8-core ratio 0.20. The frames that DO keep
    // sized layouts (pagerank/hits/walks/mis/…) are rescan-cheap: their
    // per-round compute rides the node-sized shuffles, not this cache.
    val e = und.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("dst"))
    cached(e) {
      val deg = e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("k"))  // node-sized
      cached(deg) {
        val m2 = deg.agg(sum("k")).head().getLong(0) // = 2m
        fixedRounds(deg.select(col("node"), col("node").as("community")),
            rounds) { comm =>
          val commDeg = comm.join(deg, "node")
            .groupBy(col("community").as("c")).agg(sum("k").as("ctot"))
          // k(i,c): i's edge weight into each neighbor community, plus a
          // zero-WEIGHT row for i's CURRENT community so "stay" is always
          // a candidate. ONE exchange builds the candidate frame (r22,
          // guide §2.4): raw rows hash-partition on the community key c
          // before the agg — HashPartitioning(c) satisfies the (i, c)
          // clustering (subset rule), and the commDeg attach joins on c
          // in the SAME layout.
          val cand = e.join(comm.select(col("node").as("dn"),
              col("community").as("c")), e("dst") === col("dn"))
            .select(e("src").as("i"), col("c"), lit(1L).as("w0"))
            .unionByName(
              comm.select(col("node").as("i"), col("community").as("c"),
                lit(0L).as("w0")))
            .repartition(col("c"))
            .groupBy("i", "c").agg(sum("w0").as("w"))
          val scored = cand
            .join(commDeg, "c")
            .join(deg.select(col("node").as("i"), col("k")), "i")
            .join(comm.select(col("node").as("i"),
              col("community").as("curr")), "i")
            .withColumn("score",
              lit(m2) * col("w") - col("k") *
                (col("ctot") - when(col("c") === col("curr"), col("k"))
                  .otherwise(lit(0L))))
          scored.groupBy(col("i").as("node"))
            .agg(min_by(col("c"), struct((-col("score")).as("neg"), col("c")))
              .as("community"))
        }
      }
    }
  }

  /** Exact per-node triangle counts over an undirected edge list
    * `(src, dst)` (direction ignored, self-loops dropped). Output:
    * `(node, n_tri)` for every node in at least one triangle.
    *
    * Scale shape — degree-ordered orientation, the standard hub-safe
    * triangle algorithm: every edge is oriented from its lower-(degree,
    * id) endpoint to the higher, which turns the undirected graph into a
    * DAG under a TOTAL order. Wedges are then built only over a node's
    * OUT-edges — out-degree under degree-orientation is O(√m) on ANY
    * graph (a node of out-degree d has d higher-degree neighbors, so
    * d² ≤ 2m) — and because the orientation is a total order, each
    * triangle {x <o y <o z} yields exactly ONE canonical wedge
    * (y, z around x) whose closing edge is exactly the ORIENTED edge
    * y→z: the close check is a plain equality semi-join, never an
    * OR-of-directions probe. Three exchanges total (degree agg, wedge
    * self-join on the center key, closing semi-join on the wedge-tip
    * pair); per-node counts are one final agg over 3 rows per triangle.
    * Node-id orientation (the naive `a<b<c` SQL form the oracle uses)
    * computes the same counts but lets one high-id hub fan out O(deg²)
    * wedges — fine for a DuckDB oracle at gate scale, wrong at 100 TB.
    */
  def triangles(edges: DataFrame): DataFrame = {
    val und = edges.select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = und.select(col("a").as("n"))
      .unionAll(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orient low -> high by (degree, id); carry the tip's (degree, id)
    // so the wedge stage can order tips by the SAME total order
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val o = Layout.sizedCoalesce(und
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(
        when(lowFirst, col("a")).otherwise(col("b")).as("u"),
        when(lowFirst, col("b")).otherwise(col("a")).as("v"),
        when(lowFirst, col("db")).otherwise(col("da")).as("dv")))
    cached(o) {
      // one canonical wedge per triangle: tips ordered by (deg, id)
      val w = o.as("e1").join(o.as("e2"), col("e1.u") === col("e2.u"))
        .filter(col("e1.dv") < col("e2.dv") ||
          (col("e1.dv") === col("e2.dv") && col("e1.v") < col("e2.v")))
        .select(col("e1.u").as("c0"), col("e1.v").as("c1"),
          col("e2.v").as("c2"))
      val tri = w.join(o.select(col("u").as("c1"), col("v").as("c2")),
        Seq("c1", "c2"), "left_semi")
      tri.select(explode(array(col("c0"), col("c1"), col("c2"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_tri"))
        .localCheckpoint()
    }
  }

  /** Deterministic `steps`-step walks from `seeds` over a directed edge
    * list — the graph-sampling primitive (node2vec/DeepWalk-style
    * context generation) made engine-exact: the next hop from `cur` at
    * step k is the out-neighbor minimizing md5(seed > k > neighbor)
    * (md5 yields identical hex in any engine, so an unrolled SQL oracle
    * reproduces the walk bit-for-bit; including the seed keeps two
    * walks that meet at a node from shadowing each other forever). A
    * node with no out-edges holds the walk in place. Returns
    * `(seed, step, node)` for steps 0..steps.
    *
    * 100 TB shape: per step ONE join of the walk frontier (seed-sized)
    * against the edge list on the current-node key + one argmin AGG per
    * seed (`min_by` over (md5, dst) — a hash aggregation with map-side
    * partial combine instead of a sort window; the ordering struct is
    * unique per row because out-neighbors are distinct, so the winner is
    * the same) — frontier frames are seed-sized, never graph-sized; the
    * hash ranking replaces an RNG so resumed/replayed jobs sample the
    * SAME walks (determinism under retry is what makes walk sampling
    * usable in a checkpointed pipeline).
    */
  def deterministicWalks(edges: DataFrame, seeds: DataFrame,
                         steps: Int): DataFrame = {
    // cached across the step loop (each step's eager checkpoint would
    // otherwise rebuild the distinct edge list); every acc arm is
    // checkpointed, so nothing references it after release
    val e = Layout.sizedCoalesce(edgeList(edges))
    cached(e) {
      var walk = seeds.select(col("seed").cast("long").as("seed"))
        .distinct().withColumn("cur", col("seed"))
        .localCheckpoint()
      var acc = walk.select(col("seed"), lit(0).as("step"),
        col("cur").as("node"))
      for (k <- 1 to steps) {
        walk = walk.join(e, walk("cur") === e("src"), "left")
          .withColumn("hk",
            md5(concat_ws(">", col("seed"), lit(k), col("dst"))))
          .groupBy(col("seed"))
          .agg(min_by(col("dst"), struct(col("hk"), col("dst"))).as("nxt"),
            min(col("cur")).as("cur0")) // cur is constant per seed
          .select(col("seed"), coalesce(col("nxt"), col("cur0")).as("cur"))
          .localCheckpoint()
        acc = acc.unionAll(walk.select(col("seed"), lit(k).as("step"),
          col("cur").as("node")))
      }
      acc
    }
  }

  /** k-core decomposition: iteratively peel nodes of degree < k from a
    * BIDIRECTED edge list `(src, dst)` (degree = out-degree; callers
    * bidirect, as the graph family's other ops do) until no node falls
    * below k — the standard dense-subgraph extraction (spam/boilerplate
    * hub isolation, community cores for curriculum sampling). Returns
    * `(node, core_deg)`: the surviving nodes with their degree INSIDE
    * the core. Exact integer decisions only, so results are engine- and
    * order-independent.
    *
    * 100 TB shape: each round is one degree agg + two semi-joins on the
    * endpoint keys, all on a monotonically SHRINKING edge frame
    * (`localCheckpoint` per round caps lineage; the frame can only lose
    * rows, so the first round's cost bounds every later round). The
    * fixpoint test is a bounded driver scalar (the kept-node count —
    * monotone, so equal counts ⟺ equal sets); real graphs converge in a
    * handful of rounds, `maxRounds` is a runaway guard.
    */
  def kcore(edges: DataFrame, k: Int, maxRounds: Int = 64): DataFrame = {
    val (core, _) = untilFixpoint((edgeList(edges).localCheckpoint(), -1L),
        maxRounds) { case ((e, prevKept), _) =>
      val keep = e.groupBy("src").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("src").as("n"))
        .localCheckpoint()
      val kept = keep.count()
      if (kept == prevKept) ((e, prevKept), false)
      // dst semi first, src semi LAST: the surviving edge frame
      // checkpoints partitioned on src, so the next round's degree agg
      // (groupBy src) reuses the layout instead of re-exchanging the
      // edge-sized frame — one fewer big exchange per peeling round
      else ((e.join(keep.select(col("n").as("dst")), Seq("dst"), "left_semi")
        .join(keep.select(col("n").as("src")), Seq("src"), "left_semi")
        .localCheckpoint(), kept), true)
    }
    core.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** HITS hub/authority scoring over a DIRECTED edge list `(src, dst)` —
    * the link-analysis dual of PageRank for bipartite curation graphs
    * (e.g. pages↔domains, customers↔products): authorities are endorsed
    * BY good hubs, hubs endorse good authorities. Kept engine-exact the
    * same way pagerank is: scores live in integer units and each
    * half-iteration renormalizes to `scale` units TOTAL via integer
    * division by the global sum — the sum rides a 1-row aggregate
    * broadcast-crossed back into the plan (the q23 scalar idiom), so
    * normalization never touches the driver. Products are widened to
    * DECIMAL(38,0) before the multiply (raw sums can reach ~2e10; ×scale
    * would overflow int64), and `div` brings the quotient back to long.
    *
    * Returns `(node, auth_units, hub_units)` for every node. 100 TB
    * shape: per iteration two edge⋈score joins + two dst/src-key aggs +
    * two 1-row sums — identical exchange profile to two pagerank rounds;
    * score frames stay node-sized and materialize per round past
    * `checkpointInterval`.
    */
  def hits(
      edges: DataFrame,
      iters: Int,
      scale: Long = 1000000000L,
      checkpointInterval: Int = 1): DataFrame = {
    // HITS alternates join keys (src for the authority half-step, dst
    // for the hub half-step), so ONE cached layout always leaves one of
    // the two per-iteration edge joins re-exchanging the edge-sized
    // frame. Cache BOTH layouts — 2× edge cache buys zero edge
    // exchanges per iteration (labelPropagate's single-key discipline,
    // doubled): measured at 100 M edges / 2 iters, 83.8 s / 55.5 GB →
    // 64.2 s / 40.3 GB — heap DROPS despite the second cached copy,
    // because the removed per-step exchange also removes its in-flight
    // shuffle buffers; the node-sized score frames are the only
    // per-step exchanges left.
    val ePlan = edgeList(edges)
    val eParts = Layout.sizedParts(ePlan) // one size for both cached layouts
    val eSrc = ePlan.repartition(eParts, col("src"))
    val eDst = eSrc.repartition(eParts, col("dst"))
    cached(eSrc)(cached(eDst)(withNodes(eSrc) { nodes =>
      def renorm(rawIn: DataFrame, vcol: String, out: String): DataFrame = {
        // materialize the half-step aggregate: renorm reads it TWICE (the
        // 1-row total and the join). Left lazy in an unrolled DAG, each of
        // the two branches recomputes the whole chain below it — 2^depth
        // recomputation (measured: 14.4 s for 2 unrolled iterations on the
        // x58 gate vs ~2 s materialized). The frame is node-sized.
        val raw = rawIn.localCheckpoint()
        val tot = raw.agg(sum(col(vcol)).as("t"))
        nodes.join(raw, Seq("node"), "left")
          .crossJoin(broadcast(tot))
          .select(col("node"),
            coalesce(
              expr(s"(CAST($vcol AS DECIMAL(38,0)) * $scale) div t"),
              lit(0L)).as(out))
      }
      var h = nodes.withColumn("h", lit(1000000L))
      var a = nodes.withColumn("a", lit(0L))
      for (i <- 1 to iters) {
        a = renorm(
          eSrc.join(h, eSrc("src") === h("node"))
            .groupBy(eSrc("dst").as("node")).agg(sum(col("h")).as("ar")),
          "ar", "a")
        h = renorm(
          eDst.join(a.filter(col("a") =!= 0L), eDst("dst") === a("node"))
            .groupBy(eDst("src").as("node")).agg(sum(col("a")).as("hr")),
          "hr", "h")
        if (i % checkpointInterval == 0 && i < iters) {
          a = a.localCheckpoint(); h = h.localCheckpoint()
        }
      }
      nodes
        .join(a, Seq("node"), "left")
        .join(h, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("a"), lit(0L)).as("auth_units"),
          coalesce(col("h"), lit(0L)).as("hub_units"))
        .localCheckpoint()
    }))
  }

  /** Multi-source BFS hop labeling over a directed edge list: every node
    * reachable from `sources` within `maxDepth` hops gets the hop count
    * of its FIRST discovery — `(node, d)` with d minimal. This is the
    * seed-expansion primitive corpus curation runs on domain/citation
    * graphs ("take the vetted seed list plus everything within 2 hops").
    *
    * 100 TB shape — a true delta iteration, the property that makes BFS
    * survive scale where naive iterate-the-whole-graph does not: each
    * round joins only the FRONTIER (nodes discovered last round) against
    * the edge list, anti-joins out already-visited nodes, and appends the
    * survivors; settled nodes are never touched again. Per-round cost is
    * O(frontier out-edges), the visited set accumulates as a union of
    * per-round checkpointed frames, and rounds end early when the
    * frontier empties (bounded driver scalar, one count of an
    * already-materialized frame).
    */
  def bfs(edges: DataFrame, sources: DataFrame, maxDepth: Int): DataFrame =
    frontierBfs(edges,
      sources.select(col("source").cast("long").as("node")).distinct(),
      maxDepth)

  /** Per-source BFS distances for a source panel: like `bfs` but the
    * frontier key is `(source, node)`, so each source's expansion stays
    * independent — the input centrality measures need. Same delta
    * iteration: per-round cost O(frontier out-edges), settled
    * (source, node) pairs never revisited, rounds end early on an empty
    * frontier. At 100 TB the frame is (|panel| × reached)-sized — the
    * panel bounds the blow-up, which is exactly how production
    * closeness/betweenness estimators run (pivot sampling).
    */
  def bfsPerSource(edges: DataFrame, sources: DataFrame,
                   maxDepth: Int): DataFrame =
    frontierBfs(edges,
      sources.select(col("source").cast("long").as("source"))
        .distinct().withColumn("node", col("source")),
      maxDepth)

  /** The bfs delta iteration over a start frame keyed by its columns
    * (`node` last): `(keys…, d)` with d the first-discovery level.
    */
  private def frontierBfs(edges: DataFrame, start: DataFrame,
                          maxDepth: Int): DataFrame = {
    val keys = start.columns.toSeq
    val e = Layout.sizedCoalesce(edgeList(edges))
    cached(e) {
      val first = start.localCheckpoint()
      untilFixpoint((first, first.withColumn("d", lit(0))), maxDepth) {
        case ((frontier, dist), k) =>
          val nxt = frontier.join(e, frontier("node") === e("src"))
            .select(keys.init.map(frontier(_)) :+ e("dst").as("node"): _*)
            .distinct()
            .join(dist.select(keys.map(col): _*), keys, "left_anti")
            .localCheckpoint()
          if (nxt.isEmpty) ((frontier, dist), false)
          else ((nxt, dist.unionAll(nxt.withColumn("d", lit(k)))), true)
      }._2
    }
  }

  /** k-bounded closeness + harmonic centrality for a source panel —
    * "how central is this node", the reachability-weighted dual of
    * PageRank's in-link view. All integer units (the order-exactness
    * discipline): harmonic_units = Σ 1e6 div d over reached nodes,
    * closeness_ppm = n_reached·1e6 div Σd. Truncation at `maxDepth` is
    * the production estimator shape (exact closeness needs all-pairs);
    * sources reaching nothing within k hops drop out (no 0/0 row).
    */
  def harmonicCentrality(edges: DataFrame, sources: DataFrame,
                         maxDepth: Int): DataFrame =
    bfsPerSource(edges, sources, maxDepth)
      .filter(col("d") > 0)
      .groupBy("source")
      .agg(count(lit(1)).as("n_reached"),
        sum(col("d").cast("long")).as("sum_d"),
        sum(expr("CAST(1000000 AS BIGINT) div CAST(d AS BIGINT)"))
          .as("harmonic_units"))
      .withColumn("closeness_ppm",
        expr("CAST(n_reached * 1000000 AS BIGINT) div sum_d"))

  /** k-bounded Brandes betweenness centrality for a source panel — "which
    * nodes do shortest paths FLOW THROUGH", the brokerage metric closeness
    * and PageRank both miss. Exact Brandes needs all-pairs; the production
    * estimator (Brandes–Pich pivot sampling) runs the same two passes from
    * a bounded source panel, truncated at `maxDepth` — which is what this
    * computes, in integer micro-units so the accumulation is
    * summation-order-exact in any engine:
    *
    *   forward:  per level k, path counts σ(s,v) = Σ_{pred u} σ(s,u) —
    *             one frontier join + (source,node) sum per level;
    *   backward: δ_k(u) = Σ_{succ w} σ_u·(1e6 + δ_{k+1}(w)) div σ_w —
    *             each term floor-divided BEFORE the sum, so the result
    *             is independent of accumulation order (the float form
    *             σ_u/σ_w·(1+δ_w) is not);
    *   bc(v)    = Σ_s Σ_k δ_k(v).
    *
    * All frames are (|panel| × frontier)-sized and every join is an
    * equality join on (source, node) or the edge key; localCheckpoint
    * caps lineage per level exactly as bfsPerSource does.
    */
  def betweennessTruncated(edges: DataFrame, sources: DataFrame,
                           maxDepth: Int = 3): DataFrame = {
    val e = Layout.sizedCoalesce(edgeList(edges))
    cached(e) {
      // forward: levels(k) = (source, node, sigma) at distance exactly k
      val levels = scala.collection.mutable.ArrayBuffer(
        sources.select(col("source").cast("long").as("source"))
          .distinct()
          .select(col("source"), col("source").as("node"),
            lit(1L).as("sigma"))
          .localCheckpoint())
      var settled = levels(0).select("source", "node")
      for (_ <- 1 to maxDepth) {
        val prev = levels.last
        val nxt = prev.join(e, prev("node") === e("src"))
          .groupBy(prev("source"), e("dst").as("node"))
          .agg(sum(col("sigma")).as("sigma"))
          .join(settled, Seq("source", "node"), "left_anti")
          .localCheckpoint()
        levels += nxt
        settled = settled.unionAll(nxt.select("source", "node"))
          .localCheckpoint()
      }
      // backward: deltaNext carries (source, node, sigma, delta) of level
      // k+1; the deepest level's deltas are 0 by truncation and are NOT
      // accumulated (a node reached only at maxDepth has no flow-through
      // evidence — same exclusion in the oracle)
      var deltaNext = levels(maxDepth).withColumn("delta", lit(0L))
      var acc = List.empty[DataFrame]
      for (k <- (maxDepth - 1) to 1 by -1) {
        val lk = levels(k)
        val succ = deltaNext.select(col("source").as("s2"),
          col("node").as("w"), col("sigma").as("sigma_w"),
          col("delta").as("delta_w"))
        val dk = lk.join(e, lk("node") === e("src"))
          .join(succ, lk("source") === col("s2") && e("dst") === col("w"))
          .select(lk("source"), lk("node"),
            expr("sigma * (1000000 + delta_w) div sigma_w").as("term"))
          .groupBy("source", "node").agg(sum(col("term")).as("delta"))
        // level-k nodes with no level-(k+1) successors contribute delta 0
        deltaNext = lk.join(dk, Seq("source", "node"), "left")
          .withColumn("delta", coalesce(col("delta"), lit(0L)))
          .localCheckpoint()
        acc ::= deltaNext.select("node", "delta")
      }
      // maxDepth < 2 leaves no level with flow-through evidence: the
      // correct result is an empty frame, not an empty.reduce crash
      if (acc.isEmpty)
        levels(0).select(col("node"), lit(0L).as("bc_micro")).limit(0)
      else
        acc.reduce(_.unionAll(_))
          .groupBy("node").agg(sum(col("delta")).as("bc_micro"))
    }
  }

  /** Luby's maximal-independent-set with DETERMINISTIC per-round md5
    * priorities — the distributed answer to "keep a maximal set of
    * mutually non-conflicting items" (dedup survivor selection on a
    * near-dup conflict graph: no two kept docs are near-dups, and
    * nothing outside the set could be added). Per round, an active node
    * joins the MIS iff its priority beats every active neighbor's
    * (Luby's local-max rule — expected O(log n) rounds); its neighbors
    * deactivate. Ties (md5 collisions) leave both nodes active for the
    * next round — progress is delayed, never corrupted. `rounds` is a
    * cap in the x70 style: the gate pins the state AFTER k rounds
    * (status 0 = still active, 1 = in MIS, 2 = removed), so the hash is
    * exact whether or not the fixpoint was reached; production callers
    * loop until no node is active.
    *
    * 100 TB shape: per round one neighbor-max join over the ACTIVE
    * subgraph + two status merges, all on the node key; priorities are
    * arithmetic on md5, no state beyond the node-sized status frame.
    * From round 2 the active-active edge frame is materialized and
    * CARRIED into the next round as the edge input (active sets only
    * shrink, so an edge both of whose endpoints are active at round r+1
    * was active-active at r) — later rounds scan the geometrically
    * shrinking frame instead of re-scanning the full cached edge list
    * (SCALE.md records the full-rescan counterfactual). Round 1 is
    * deliberately NOT materialized: its active set is every node, so its
    * "shrunk" frame IS the whole graph — the r12 100 M-edge
    * counterfactual measured that checkpointing it costs 1.3× the whole
    * run and blows the heap (827.8 s vs 627.0 s rescan, same box) while
    * the lazy double-compute of a cached frame is nearly free. Each
    * carried frame replaces (unpersists) the previous one — one
    * active-subgraph-sized cache lives at a time.
    */
  def maximalIndependentSet(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    // defensively bidirect: the local-max rule reads neighbors from the
    // src side only, so a directed-only edge u->v would let BOTH
    // endpoints win (v never sees u) — normalizing to undirected makes
    // the operator correct for any input; already-bidirected lists pass
    // through the distinct unchanged
    val raw = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val e = Layout.sizedCoalesce(raw.unionAll(raw.select(col("dst").as("src"),
      col("src").as("dst"))).distinct())
    cached(e) {
      val status0 = e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node")))
        .distinct().withColumn("status", lit(0))
        .localCheckpoint()
      var carried: Option[DataFrame] = None
      try untilFixpoint((status0, e), rounds) { case ((status, eCur), r) =>
        val active = status.filter(col("status") === 0).select("node")
          .localCheckpoint()
        // early exit at the fixpoint: remaining rounds would be exact
        // no-ops (no active node changes status), so capped callers and
        // the 3-round gate see identical results either way; the count
        // is of an already-materialized frame (the bounded-scalar
        // discipline)
        if (active.isEmpty) ((status, eCur), false)
        else {
          val prio = active.withColumn("p",
            conv(substring(md5(concat(lit(r.toString), lit(":"),
              col("node").cast("string"))), 1, 12), 16, 10).cast("long"))
          // active edges only: both endpoints still undecided. dst join
          // FIRST, src join LAST (r22): at scale these are shuffle joins,
          // and the LAST join's key sets the frame's partitioning — src —
          // which both downstream consumers (the neighbor-max agg on src,
          // the removal join on src) then reuse exchange-free. Locally AQE
          // broadcasts the node-sized prio sides either way.
          val ae = eCur.join(prio.select(col("node").as("dst"),
                col("p").as("p_dst")), "dst")
            .join(prio.select(col("node").as("src"),
              col("p").as("p_src")), "src")
          // round 1's active set is every node — "shrinking" it yields the
          // whole graph, so materializing is pure cost; from round 2 the
          // frame is genuinely small and is cached for its three consumers
          // (neighbor max, removal join, next round's edge input)
          if (r == 1) ((misStatus(ae, status, prio), eCur), true)
          else {
            val next = misStatus(ae.persist(), status, prio)
            // the new status is checkpointed, so the previous cache has no
            // remaining consumer — exactly one carried frame stays resident
            carried.foreach(_.unpersist())
            carried = Some(ae)
            ((next, ae.select("src", "dst")), true)
          }
        }
      }._1
      finally carried.foreach(_.unpersist())
    }
  }

  private def misStatus(ae: DataFrame, status: DataFrame,
                        prio: DataFrame): DataFrame = {
      val maxNbr = ae.groupBy(col("src").as("node"))
        .agg(max(col("p_dst")).as("max_nbr"))
      val winners = prio.join(maxNbr, Seq("node"), "left")
        .filter(col("max_nbr").isNull || col("p") > col("max_nbr"))
        .select("node")
      val removed = ae.join(winners.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node")).distinct()
      status
        .join(winners.withColumn("w", lit(true)), Seq("node"), "left")
        .join(removed.withColumn("x", lit(true)), Seq("node"), "left")
        .select(col("node"),
          when(col("status") =!= 0, col("status"))
            .when(col("w"), lit(1))
            .when(col("x"), lit(2))
            .otherwise(lit(0)).as("status"))
        .localCheckpoint()
  }

  /** k-truss peeling on a CANONICAL (u < v) edge list — the
    * community-core refinement of k-core: an edge survives iff it closes
    * at least k−2 triangles with other SURVIVING edges, so bridges and
    * hub spokes that k-core keeps (degree without cohesion) peel away.
    * Per round the support count uses the SAME degree-ordered
    * orientation as `triangles` (each triangle enumerated exactly once
    * from its lowest-(degree, id) corner, wedge fan-out O(√m) per node
    * on ANY graph), then explodes each found triangle into its three
    * canonical edges for the per-edge count — the r11 wedge join over
    * the raw bidirected edge set let one hub fan out O(deg²) wedges per
    * round (measured: the 100 M-edge power-law graph's top hub alone
    * generates ~3·10¹¹ wedges, a non-starter; see SCALE.md).
    * Rounds are capped in the x70 style — the gate pins the state after
    * `rounds` peels, with the early exit making post-fixpoint rounds
    * free. Returns surviving (u, v, support) where support was measured
    * against the PREVIOUS round's survivor set (the value the final
    * peel decided on — recomputing on the output set would be round
    * rounds+1).
    */
  def ktruss(canonEdges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1 (support is undefined " +
      "before the first peel)")
    // normalize defensively: the support count is keyed on canonical
    // least/greatest pairs, so a (v > u) input row would silently match
    // nothing and peel with support 0 — make the u < v contract true by
    // construction instead (self-loops close no triangle; dropped)
    val start = canonEdges.select(
        least(col("u"), col("v")).cast("long").as("u"),
        greatest(col("u"), col("v")).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct().localCheckpoint()
    val (survivors, support) = untilFixpoint((start, null: DataFrame),
        rounds) { case ((cur, _), _) =>
      // degree-ordered orientation over the CURRENT survivor set (degrees
      // change as edges peel, so re-derived per round): x -> y with
      // (deg, id) of x below y; one canonical wedge per triangle
      val deg = cur.select(col("u").as("n"))
        .unionAll(cur.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val lowFirst = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      val o = Layout.sizedCoalesce(cur
        .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
        .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
        .select(
          when(lowFirst, col("u")).otherwise(col("v")).as("x"),
          when(lowFirst, col("v")).otherwise(col("u")).as("y"),
          when(lowFirst, col("dv")).otherwise(col("du")).as("dy")))
      val support = cached(o) {
        val w = o.as("e1").join(o.as("e2"), col("e1.x") === col("e2.x"))
          .filter(col("e1.dy") < col("e2.dy") ||
            (col("e1.dy") === col("e2.dy") && col("e1.y") < col("e2.y")))
          .select(col("e1.x").as("c0"), col("e1.y").as("c1"),
            col("e2.y").as("c2"))
        val tri = w.join(o.select(col("x").as("c1"), col("y").as("c2")),
          Seq("c1", "c2"), "left_semi")
        // each triangle credits its THREE canonical (u < v) edges
        val triSupport = tri.select(explode(array(
            struct(least(col("c0"), col("c1")).as("u"),
              greatest(col("c0"), col("c1")).as("v")),
            struct(least(col("c0"), col("c2")).as("u"),
              greatest(col("c0"), col("c2")).as("v")),
            struct(least(col("c1"), col("c2")).as("u"),
              greatest(col("c1"), col("c2")).as("v")))).as("t"))
          .select(col("t.u").as("u"), col("t.v").as("v"))
          .groupBy("u", "v").agg(count(lit(1)).as("tri"))
        // triangle-free edges never appear in the enumeration, so
        // left-join them back with support 0 — otherwise k <= 2
        // (threshold 0) would wrongly drop edges that close no triangle
        cur.join(triSupport, Seq("u", "v"), "left")
          .select(col("u"), col("v"),
            coalesce(col("tri"), lit(0L)).as("support"))
          .localCheckpoint()
      }
      val next = support.filter(col("support") >= k - 2)
        .select("u", "v").localCheckpoint()
      // fixpoint: nothing peeled this round — further rounds are no-ops
      ((next, support), next.count() != cur.count())
    }
    survivors.join(support, Seq("u", "v"))
  }

  /** Flatten a forest to `(node, root, depth)` by pointer doubling over
    * a parent table `(node, parent)` (parent NULL marks a root) — the
    * hierarchy-resolution pass (org charts, category trees, thread
    * parents) that a recursive CTE runs sequentially and Spark runs in
    * O(log depth) ROUNDS: each round joins every node's current
    * 2^k-ancestor pointer to that ancestor's own pointer, doubling the
    * distance covered; roots self-loop at distance 0, so converged rows
    * pass through unchanged. `rounds` must satisfy 2^rounds >= max
    * depth (un-converged rows would report a non-root ancestor;
    * callers size it from the known hierarchy bound).
    *
    * 100 TB shape: the frame is node-sized with ONE equality join per
    * round on the ancestor key and `localCheckpoint` capping lineage —
    * depth ceases to matter (a 5000-deep chain converges in 13
    * rounds); a recursive CTE's 5000 sequential steps is the shape
    * that does not survive scale.
    */
  /** Rounds derived from the data: depth is bounded by the node count, so
    * ceil(log2(n)) doubling rounds always converge — callers don't have to
    * guess a pin that silently under-provisions when the table grows. The
    * count is one scan of a 2-column projection, negligible next to the
    * O(log n) join rounds it sizes. */
  def rootsAndDepth(parents: DataFrame): DataFrame = {
    val n = math.max(2L, parents.count())
    val rounds = 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    rootsAndDepth(parents, rounds)
  }

  def rootsAndDepth(parents: DataFrame, rounds: Int): DataFrame =
    fixedRounds(parents.select(
      col("node").cast("long").as("node"),
      coalesce(col("parent").cast("long"), col("node")).as("anc"),
      when(col("parent").isNull, lit(0L)).otherwise(lit(1L)).as("depth")),
      rounds) { f =>
      val b = f.select(col("node").as("b_node"), col("anc").as("b_anc"),
        col("depth").as("b_depth"))
      f.join(b, f("anc") === b("b_node"))
        .select(col("node"), col("b_anc").as("anc"),
          (col("depth") + col("b_depth")).as("depth"))
    }.select(col("node"), col("anc").as("root"), col("depth"))

  /** Connected components over an UNDIRECTED graph (callers pass a
    * bidirected edge list, as with labelPropagate): every node is
    * labeled with the MINIMUM node id in its component — the canonical
    * deterministic component id, so results are engine-exact.
    *
    * Algorithm: min-label propagation to a fixpoint — each round every
    * node takes min(own label, min over in-neighbors' labels); rounds
    * stop early when no label changes. Convergence is bounded by the
    * component diameter, which is the right trade for the small-world
    * graphs corpus curation runs this on (co-purchase, domain-link,
    * dedup-cluster graphs have diameters in the single digits even at
    * billions of edges). For adversarial long-path graphs the
    * pointer-doubling form (rootsAndDepth) or alternating large/small
    * star rewrites converge in O(log n) rounds instead; the SCALE.md
    * graph section documents the crossover.
    *
    * 100 TB shape: the edge list materializes ONCE; each round is one
    * edges⋈labels join on the src key + one dst-key min-agg + a
    * node-keyed min against the previous labels, all node/edge-sized
    * with `localCheckpoint` capping lineage (`minFixpoint`). The label
    * frame's update is a union-min SHUFFLE, so it materializes every
    * round: deferring it re-runs the shuffle for every consumer
    * (measured on the sf0.1 gate graph: every 5 rounds ran 4.4 s vs
    * 3.8 s every round).
    */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 64): DataFrame = {
    // pre-partition the edge list on the src key ONCE: every round's
    // frontier join reuses this layout from the cache, so only the
    // (shrinking) frontier side exchanges per round. Session parallelism,
    // NOT sizedParts (r22, verdict item 2): every round's frontier⋈e
    // join runs IN this layout, and the r21 size-derived count (~1-2
    // partitions at sf0.1) showed the louvain serialization signature —
    // driver 4.47→6.19 s (0.72×) on a faster box, scaling ratio 0.53.
    val e = edgeList(edges).repartition(col("src"))
    cached(e) {
      // delta iteration: an improvement can only originate from a node
      // whose OWN label improved last round. Measured at 100 M directed
      // / 200 M propagation edges (tools/GraphScale100, local[32]): the
      // full-relabel form (every round rejoins every edge) ran 428 s;
      // this delta form's frontier collapses geometrically after round 1.
      minFixpoint(e.select(col("src").as("node")).distinct()
        .withColumn("comp", col("node")).localCheckpoint(), "comp",
        maxRounds) { (frontier, labels) =>
        e.join(frontier, e("src") === frontier("node"))
          .groupBy(e("dst").as("node")).agg(min(col("comp")).as("nc"))
          .join(labels, Seq("node"))
          .filter(col("nc") < col("comp"))
          .select(col("node"), col("nc").as("comp"))
      }
    }
  }

  /** Multi-source shortest paths over a weighted directed edge list
    * `(src, dst, w)` with non-negative INTEGER weights — Bellman-Ford
    * relaxation with a delta frontier, run to a fixpoint (or `maxRounds`,
    * whichever first). Returns `(node, dist)` for every reached node,
    * dist = min over sources of the cheapest path cost. Integer weights
    * keep the result summation-order-exact across engines (the pagerank
    * discipline); ties need no tie-break because min is total on longs.
    *
    * 100 TB shape — the same delta iteration that makes bfs survive
    * scale: each round relaxes only edges out of the FRONTIER (nodes
    * whose distance improved last round), so per-round cost is
    * O(frontier out-edges), not O(E). The settled distance map stays
    * node-sized, updated by a node-keyed min-merge; rounds end early
    * when no distance improves (one count of a materialized frame).
    * Negative weights are rejected up front: with a delta frontier a
    * negative cycle would never terminate.
    */
  def shortestPaths(
      edges: DataFrame,
      sources: DataFrame,
      maxRounds: Int = 64): DataFrame = {
    // src-key layout cached once; per-round frontier joins reuse it
    // (only the frontier side exchanges — see connectedComponents)
    val ePlan = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
    val e = ePlan.repartition(Layout.sizedParts(ePlan), col("src"))
    cached(e) {
      require(e.filter(col("w") < 0).isEmpty,
        "shortestPaths requires non-negative weights")
      minFixpoint(sources.select(col("source").cast("long").as("node"))
        .distinct().withColumn("dist", lit(0L)).localCheckpoint(), "dist",
        maxRounds) { (frontier, dist) =>
        frontier.join(e, frontier("node") === e("src"))
          .groupBy(e("dst").as("node"))
          .agg(min(frontier("dist") + e("w")).as("cand"))
          .join(dist, Seq("node"), "left_outer")
          .filter(col("dist").isNull || col("cand") < col("dist"))
          .select(col("node"), col("cand").as("dist"))
      }
    }
  }
}
