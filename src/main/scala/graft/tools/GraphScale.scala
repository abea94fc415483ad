package graft.tools

import graft.operators.Graph
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measurement behind SCALE.md's PageRank row: iterative link analysis
  * over synthetic power-law graphs at 10-50 M edges.
  *
  * Graph shape: preferential-attachment-ish — dst ~ floor(nNodes *
  * u^3) concentrates in-links on low node ids (a few hub nodes carry a
  * large in-degree share, the web-graph regime), src uniform. Two arms:
  *
  *   unrolled: Graph.pagerank as shipped (iterations unrolled between
  *     checkpoints; standing frames persist()ed so AQE broadcasts the
  *     node-sized rank into every edge join).
  *   eager-ckpt: checkpointInterval = 1 — the per-round materialization
  *     the shipped default avoids; kept as the honest counterpoint.
  *
  * Usage: GraphScale [--pr-only] [nEdgesMillions...] (default 10 30;
  * --pr-only skips the triangle arms — their naive counterpoint is
  * quadratic-wedge and dominates at ≥100 M edges)
  */
object GraphScale {
  def main(args: Array[String]): Unit = {
    val prOnly = args.contains("--pr-only")
    val sizeArgs = args.filterNot(_ == "--pr-only")
    val sizesM = if (sizeArgs.nonEmpty) sizeArgs.map(_.toInt).toSeq
      else Seq(10, 30)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def edges(nEdges: Long) = {
      val nNodes = nEdges / 20 // avg out-degree 20
      spark.range(nEdges).select(
        pmod(xxhash64(col("id")), lit(nNodes)).as("src"),
        // u^3 concentrates dsts near 0: hub nodes with heavy in-degree
        floor(lit(nNodes.toDouble) *
          pow(pmod(xxhash64(col("id"), lit(7)), lit(1000000)) / 1e6,
            lit(3.0))).as("dst"))
        .filter(col("src") =!= col("dst"))
    }

    def timed(f: => Any): Double = {
      System.gc()
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // warm: classloading + codegen out of the first measurement
    Graph.pagerank(edges(100000L), iters = 2).agg(sum("r")).head()

    println(f"${"edges"}%6s ${"unrolled_3it"}%12s ${"eager_ckpt_3it"}%14s")
    for (m <- sizesM) {
      val n = m * 1000000L
      val tUnrolled = timed {
        Graph.pagerank(edges(n), iters = 3, checkpointInterval = 5)
          .agg(sum("r"), max("r")).head()
      }
      spark.sharedState.cacheManager.clearCache()
      val tEager = timed {
        Graph.pagerank(edges(n), iters = 3, checkpointInterval = 1)
          .agg(sum("r"), max("r")).head()
      }
      spark.sharedState.cacheManager.clearCache()
      println(f"${m}%4dM ${tUnrolled}%10.2f s ${tEager}%12.2f s")
    }

    // ---- weighted pagerank (x123's operator): the same power-law
    // graph with uniform integer weights 1..16 (hash-derived). Per-iteration shape
    // is identical to unweighted (edge join + dst agg) plus the
    // decomposed exact contribution and the parallel-edge weight merge
    // — the measure pins what that arithmetic costs next to the
    // unweighted eager arm above.
    println(f"%n${"edges"}%6s ${"weighted_3it"}%12s")
    for (m <- sizesM) {
      val n = m * 1000000L
      val we = edges(n).withColumn("w",
        pmod(xxhash64(col("src"), col("dst")), lit(16)) + 1)
      val tW = timed {
        Graph.pagerankWeighted(we, iters = 3)
          .agg(sum("r"), max("r")).head()
      }
      spark.sharedState.cacheManager.clearCache()
      println(f"${m}%4dM ${tW}%10.2f s")
    }

    // ---- triangle counting: degree orientation vs node-id orientation
    // (the x52 claim). Node-id orientation's wedge count at a node v is
    // (#edges where v is the max end) x (#edges where v is the min end)
    // — near ZERO for a hub at an extreme id (all its edges share one
    // direction) but ~deg^2/4 for a hub at a MID id. So id orientation's
    // cost depends on where the ids happen to fall; degree orientation
    // bounds every node's out-degree at O(sqrt(m)) REGARDLESS. Two arms:
    //   benign: the power-law graph above (hubs at id 0 — id
    //     orientation's lucky case; measures degree orientation's
    //     constant overhead: the two degree-annotation joins).
    //   planted: uniform background + one degree-`starDeg` star at a
    //     mid id — id orientation builds ~starDeg^2/4 wedges from the
    //     hub alone; degree orientation orients every spoke INTO the
    //     hub (highest degree), so the hub centers no wedges at all.
    def naiveIdTriangles(e: org.apache.spark.sql.DataFrame) = {
      val und = e.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct().persist()
      val w = und.as("e1").join(und.as("e2"), col("e1.b") === col("e2.a"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      val tri = w.join(und.select(col("a").as("x"), col("b").as("z")),
        Seq("x", "z"), "left_semi")
      tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_tri"))
    }

    def plantedStar(nEdges: Long, starDeg: Long) = {
      val nNodes = nEdges / 20
      val hub = nNodes / 2 // mid id: worst case for id orientation
      val background = spark.range(nEdges).select(
        pmod(xxhash64(col("id")), lit(nNodes)).as("src"),
        pmod(xxhash64(col("id"), lit(13)), lit(nNodes)).as("dst"))
      val spokes = spark.range(starDeg).select(
        lit(hub).as("src"),
        pmod(xxhash64(col("id"), lit(29)), lit(nNodes)).as("dst"))
      background.unionAll(spokes).filter(col("src") =!= col("dst"))
    }

    if (prOnly) { spark.stop(); return }

    println(f"%n${"graph"}%18s ${"deg_orient"}%12s ${"id_orient"}%12s")
    for (m <- sizesM) {
      val n = m * 1000000L
      for ((label, g) <- Seq(
          ("benign-hub", () => edges(n)),
          ("planted-star-20k", () => plantedStar(n, 20000L)))) {
        val tDeg = timed {
          Graph.triangles(g()).agg(sum("n_tri")).head()
        }
        spark.sharedState.cacheManager.clearCache()
        val tId = timed {
          naiveIdTriangles(g()).agg(sum("n_tri")).head()
        }
        spark.sharedState.cacheManager.clearCache()
        println(f"${m}%3dM $label%14s ${tDeg}%10.2f s ${tId}%10.2f s")
      }
    }
    spark.stop()
  }
}

/** The 100 M-edge confirmation run (SCALE.md r11): pagerank / label
  * propagation / multi-source BFS / k-core on the same power-law graph
  * at one more order of magnitude than GraphScale's default sizes,
  * recording wall time AND the JVM heap envelope (peak across memory
  * pools, reset before each family) — the question is whether the
  * per-superstep materialization and frontier-delta claims survive
  * 100 M edges on one 32-core box, and what they cost in memory.
  * Triangle counting is excluded here: it is measured separately in
  * GraphScale (its naive arm is quadratic-wedge and would dominate).
  *
  * Usage: GraphScale100 [nEdgesMillions] [family...] (default 100, all
  * families; naming families reruns a subset without repaying the rest)
  */
object GraphScale100 {
  def main(args: Array[String]): Unit = {
    val m = args.headOption.map(_.toInt).getOrElse(100)
    val families = args.drop(1).toSet
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 64) // 100 M-edge shuffles: keep partitions ~<256 MB
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = m * 1000000L
    val nNodes = n / 20

    def edges() = spark.range(n).select(
      pmod(xxhash64(col("id")), lit(nNodes)).as("src"),
      floor(lit(nNodes.toDouble) *
        pow(pmod(xxhash64(col("id"), lit(7)), lit(1000000)) / 1e6,
          lit(3.0))).as("dst"))
      .filter(col("src") =!= col("dst"))

    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    def resetPeaks(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala
      .foreach(_.resetPeakUsage())
    def peakHeapGb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e9

    def drain(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      org.apache.spark.sql.graft.Shims.drainBroadcasts(spark.sparkContext)
      System.gc()
    }

    def run(label: String)(f: => Any): Unit = {
      if (families.nonEmpty && !families(label)) return
      drain(); resetPeaks()
      val t0 = System.nanoTime()
      f
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"$label%12s ${m}%4dM edges ${secs}%8.1f s  peak-heap ${peakHeapGb}%5.1f GB")
      drain()
    }

    // warm classloading/codegen on a small graph
    Graph.pagerank(edges().limit(100000), iters = 1).agg(sum("r")).head()

    run("pagerank") {
      Graph.pagerank(edges(), iters = 3, checkpointInterval = 5)
        .agg(sum("r"), max("r")).head()
    }
    run("label_prop") {
      val seeds = spark.range(0, nNodes, 50)
        .select(col("id").as("node"), (col("id") % 97).as("label"))
      Graph.labelPropagate(edges(), seeds, iters = 3, checkpointInterval = 5)
        .agg(count(lit(1)), countDistinct(col("label"))).head()
    }
    run("louvain") {
      Graph.louvainSync(edges(), rounds = 2)
        .agg(count(lit(1)), countDistinct(col("community"))).head()
    }
    run("bfs") {
      val sources = spark.range(0, 64).select(col("id").as("source"))
      Graph.bfs(edges(), sources, maxDepth = 4)
        .agg(count(lit(1)), max(col("d"))).head()
    }
    run("kcore") {
      Graph.kcore(edges(), k = 10).agg(count(lit(1))).head()
    }
    // r11 additions at the same scale: min-label components (rounds ~
    // graph diameter — the power-law graph's giant component is
    // small-world, so this also measures how many rounds the early exit
    // actually runs) and delta-frontier Bellman-Ford from 64 sources
    // with weights 1..7 (the frontier should decay like bfs's).
    run("components") {
      // connectedComponents takes a bidirected list (labels flow along
      // edge direction): 100M directed edges -> 200M propagation edges
      val e = edges()
      Graph.connectedComponents(
          e.unionAll(e.select(col("dst").as("src"), col("src").as("dst"))))
        .agg(count(lit(1)), countDistinct(col("comp"))).head()
    }
    run("sssp") {
      val sources = spark.range(0, 64).select(col("id").as("source"))
      val weighted = edges().withColumn("w",
        pmod(col("src") + col("dst"), lit(7)) + 1)
      Graph.shortestPaths(weighted, sources, maxRounds = 8)
        .agg(count(lit(1)), max(col("dist"))).head()
    }
    run("hits") {
      Graph.hits(edges(), iters = 2)
        .agg(sum(col("auth_units")), sum(col("hub_units"))).head()
    }
    // r11: the two centrality additions. Both are panel-bounded by
    // design — the measurement confirms the (|panel| × reached) frame,
    // not the graph, is what scales: 16 sources over a 5 M-node
    // small-world giant component saturate reachability by 3 hops.
    run("closeness") {
      val sources = spark.range(0, 16).select(col("id").as("source"))
      Graph.harmonicCentrality(edges(), sources, maxDepth = 3)
        .agg(count(lit(1)), sum(col("harmonic_units"))).head()
    }
    run("betweenness") {
      val sources = spark.range(0, 16).select(col("id").as("source"))
      Graph.betweennessTruncated(edges(), sources, maxDepth = 3)
        .agg(count(lit(1)), max(col("bc_micro"))).head()
    }
    // r11: Luby MIS — the claim under test is the geometric shrink of
    // the ACTIVE subgraph: from round 2 the materialized active-active
    // edge frame is CARRIED into the next round, so round r+1 scans the
    // shrunk frame (the r12 full-rescan counterfactual is in SCALE.md)
    run("mis") {
      val e = edges()
      val st = Graph.maximalIndependentSet(
        e.unionAll(e.select(col("dst").as("src"), col("src").as("dst"))),
        rounds = 12)
      st.groupBy("status").agg(count(lit(1))).collect()
    }
    // r12: the x82 double sweep — two multi-hop BFS passes over the
    // bidirected graph plus scalar aggs; the question is only whether
    // 2x the bfs family's cost holds (it shares bfs's frontier shape)
    run("diameter") {
      val e0 = edges()
      val e = e0.unionAll(
          e0.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint()
      val anchor = e.agg(min(col("src")).as("source"))
      val sweep1 = Graph.bfs(e, anchor, maxDepth = 4).localCheckpoint()
      val far = sweep1.orderBy(desc("d"), col("node")).limit(1)
      val sweep2 = Graph.bfs(e, far.select(col("node").as("source")),
        maxDepth = 4)
      sweep2.agg(max(col("d")), count(lit(1))).head()
    }
    // r12: k-truss — the heaviest per-round shape in the graph family
    // (triangle ENUMERATION per peel). The r11 wedge join over the raw
    // bidirected survivor set is quadratic in hub degree: this graph's
    // top hub holds ~0.6% of all in-edges (~590 k at 100 M), so its
    // wedge fan-out alone is ~3.5e11 rows — AQE rebalances skewed
    // partitions but cannot delete wedge work, so no cap or orientation
    // means no result at this scale. The shipped fix re-derives the
    // degree-ORDERED orientation per peel (out-degree O(sqrt m) on any
    // graph — the x52 mitigation applied to the peeling loop), making
    // the round cost triangle-enumeration-bounded rather than hub².
    run("ktruss") {
      val und = edges().select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .filter(col("u") =!= col("v"))
      Graph.ktruss(und, k = 10, rounds = 2)
        .agg(count(lit(1)), max(col("support"))).head()
    }
    // r13: x77 link prediction. The common-neighbor wedge join IS the
    // output (every wedge = one candidate pair), so the degree-ordered
    // orientation that rescued ktruss cannot delete hub work here —
    // the applicable treatment is the x80/maxBucket CENTER-DEGREE CAP
    // (deg <= 64 centers only; a mega-hub's co-occurrence is
    // boilerplate evidence whose C(deg,2) fan-out is the entire
    // cliff). The counterfactual wedge volumes are computed
    // ANALYTICALLY from the degree distribution (sum of C(deg,2)) —
    // the uncapped join is a non-starter of the same order as r12's
    // raw ktruss wedge join, so its volume is reported, not run.
    run("linkpred") {
      val e0 = edges()
      val e = e0.unionAll(
          e0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint()
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .localCheckpoint()
      val vol = deg.agg(
        sum(expr("deg * (deg - 1) div 2")).as("wedges_uncapped"),
        sum(expr("CASE WHEN deg <= 64 THEN deg * (deg - 1) div 2 " +
          "ELSE 0 END")).as("wedges_capped"),
        max(col("deg"))).head()
      println(s"    wedges: uncapped=${vol.get(0)} capped64=${vol.get(1)}" +
        s" maxdeg=${vol.get(2)}")
      val ec = e.join(deg.filter(col("deg") <= 64).select("src"),
        Seq("src"), "left_semi")
      val cn = ec.select(col("src").as("z"), col("dst").as("u"))
        .join(ec.select(col("src").as("z"), col("dst").as("w")), "z")
        .filter(col("u") < col("w"))
        .groupBy("u", "w").agg(count(lit(1)).as("cn"))
      val top = cn
        .join(e.select(col("src").as("u"), col("dst").as("w")),
          Seq("u", "w"), "left_anti")
        .join(deg.select(col("src").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("src").as("w"), col("deg").as("dw")), "w")
        .select(col("u"), col("w"),
          expr("CAST(cn * 1000000 AS BIGINT) div (du + dw - cn)")
            .as("jppm"))
        .orderBy(desc("jppm"), col("u"), col("w")).limit(20)
      top.collect()
    }
    spark.stop()
  }
}
