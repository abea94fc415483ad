package graft

import graft.operators.Graph
import graft.queries.{ExtensionQueries, RelationalQueries, TextQueries}
import org.apache.spark.sql.functions._

/** Semantic checks for the link-analysis / sampling / linkage /
  * anomaly additions beyond the oracle gate: PageRank invariants on
  * hand-analyzable graphs, weighted-sampling monotonicity, fuzzy-pair
  * blocking contracts, and spike detection on a planted anomaly.
  */
class GraphLinkageSpec extends GraftSparkSpec {
  import spark.implicits._

  private val SCALE = 1000000000000L

  test("pagerank on a symmetric pair is uniform and conserves mass") {
    // 1 <-> 2: perfect symmetry => equal ranks; bidirected graph loses
    // only integer-truncation dust (< iters * (nodes + 1) units)
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Graph.pagerank(e, iters = 5).as[(Long, Long)].collect().toMap
    assert(r(1L) == r(2L))
    val total = r.values.sum
    assert(total <= SCALE && total >= SCALE - 5 * 3)
  }

  test("pagerank ranks a star center above its leaves") {
    // bidirected star 0 <-> {1,2,3,4}: the center absorbs every leaf's
    // full contribution each round, leaves split the center's 4 ways
    val leaves = (1L to 4L)
    val e = (leaves.map(l => (0L, l)) ++ leaves.map(l => (l, 0L)))
      .toDF("src", "dst")
    val r = Graph.pagerank(e, iters = 3).as[(Long, Long)].collect().toMap
    assert(leaves.forall(l => r(0L) > r(l)))
    assert(leaves.map(r).distinct.size == 1) // leaf symmetry
  }

  test("pagerank dangling node keeps teleport-only rank") {
    // 1 -> 2 only: node 2 has no out-edges; its absorbed mass vanishes
    // (documented dangling simplification) and node 1 gets teleport only
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val r = Graph.pagerank(e, iters = 2).as[(Long, Long)].collect().toMap
    val unit = SCALE / 2
    val teleport = 15L * unit / 100L
    assert(r(1L) == teleport)
    assert(r(2L) > r(1L))
  }

  test("x47 gate ranks sum to less than total mass, all positive") {
    val df = ExtensionQueries.all("x47_pagerank").fn(spark, sfDir)
    val ranks = df.as[(Long, Long)].collect()
    assert(ranks.length == 20)
    assert(ranks.forall(_._2 > 0))
    // top-20 of a big graph: each row is far below total mass
    assert(ranks.map(_._2).sum < SCALE)
    // sorted by rank desc (tie-broken by node asc)
    assert(ranks.map(_._2).toSeq == ranks.map(_._2).sortBy(-_).toSeq)
  }

  test("weighted-sample key is monotone decreasing in weight for fixed u") {
    // -ln(u)/w: same doc hash, larger weight => smaller key => more
    // likely sampled. Check the kernel arithmetic directly.
    val u = 0.37
    val k1 = -math.log(u) / 10.0
    val k2 = -math.log(u) / 1000.0
    assert(k2 < k1)
    // and on the gate output: every stratum emits exactly 10 rows
    val out = ExtensionQueries.all("x48_weighted_sample").fn(spark, sfDir)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(out.values.forall(_ == 10L))
  }

  test("x48 is deterministic across runs") {
    val a = ExtensionQueries.all("x48_weighted_sample").fn(spark, sfDir)
      .collect().toSeq
    val b = ExtensionQueries.all("x48_weighted_sample").fn(spark, sfDir)
      .collect().toSeq
    assert(a == b)
  }

  test("fuzzy pairs stay within blocks and within the distance bound") {
    val rows = ExtensionQueries.all("x49_fuzzy_pairs").fn(spark, sfDir)
      .as[(String, String, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, d) =>
      assert(a < b)                       // canonical pair order
      assert(d >= 1 && d <= 2)            // distinct names, bounded dist
      assert(a.split(" ")(1) == b.split(" ")(1)) // same head-noun block
    }
  }

  test("q61 flags a planted spike and ignores steady series") {
    // synthesize an events table: user 1 emits 20 near-constant values
    // then one spike; user 2 is steady throughout. Only the spike and
    // genuinely extreme later points may flag — and the spike MUST.
    // ts is nanos-as-long, the driver table format QueryDef.t converts
    val dir = java.nio.file.Files.createTempDirectory("g8events").toString
    def nanos(i: Int): Long = 1704067200000000000L + i * 60000000000L
    val rows = (0 until 21).map { i =>
      val v = if (i == 20) 500.0 else 10.0 + (i % 3) * 0.5
      (i.toLong, nanos(i), 1L, "m", v, "{}")
    } ++ (0 until 21).map { i =>
      (100L + i, nanos(i), 2L, "m", 10.0, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val flagged = RelationalQueries.all("q61_anomaly").fn(spark, dir)
      .as[(Long, Long, Double)].collect()
    assert(flagged.map(_._1).contains(20L)) // the spike
    assert(!flagged.exists(_._2 == 2L))     // steady user never flags
  }

  test("d34 canonical urls carry no query, fragment, or trailing slash") {
    val rows = TextQueries.all("d34_url_dedup").fn(spark, sfDir)
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (canon, n, _) =>
      assert(!canon.contains("?") && !canon.contains("#"))
      assert(!canon.endsWith("/"))
      assert(canon == canon.toLowerCase)
      assert(n >= 1)
    }
    // the synthesized variation genuinely collapses: fewer canonical
    // groups than documents
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.length < docs)
  }

  test("x50 in-row pair generation equals the self-join construction") {
    val op = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"))
      .join(spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select(col("l_orderkey"), col("l_partkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    // reference construction: basket self-join (the SQL-classic shape)
    val sj = op.as("a").join(op.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
      .agg(count(lit(1)).as("n_ab"))
      .as[(Long, Long, Long)].collect().toSet
    // shipped construction: in-row nested-transform pair explode
    val inRow = op.groupBy("ok")
      .agg(sort_array(collect_set(col("pk"))).as("items"))
      .select(explode(expr(
        "flatten(transform(items, (x, i) -> " +
          "transform(slice(items, i + 2, size(items)), " +
          "y -> struct(x AS pa, y AS pb))))")).as("pr"))
      .groupBy(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
      .agg(count(lit(1)).as("n_ab"))
      .as[(Long, Long, Long)].collect().toSet
    assert(inRow == sj)
    assert(inRow.nonEmpty)
    // gate output invariants
    val rows = ExtensionQueries.all("x50_copurchase").fn(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    rows.foreach { case (pa, pb, nAb, lift) =>
      assert(pa < pb && nAb >= 3 && lift > 0)
    }
  }

  test("q62 full outer covers one-sided days with coalesced zeros") {
    val rows = RelationalQueries.all("q62_full_outer").fn(spark, sfDir)
      .as[(String, Long, Long)].collect()
    // boundary days: shipments trail orders, so some days are one-sided
    assert(rows.exists(r => r._2 == 0L && r._3 > 0L))
    assert(rows.forall(_._1.nonEmpty)) // key never null after coalesce
  }

  test("triangles counts K4 exactly and ignores a pendant edge") {
    // K4 on {1,2,3,4}: each node sits in C(3,2) = 3 triangles; the
    // pendant 4-5 edge adds node 5 to no triangle. Edges fed in mixed
    // directions + a duplicate to exercise canonicalization.
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L),
      (4L, 2L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val r = Graph.triangles(e).as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("degree-oriented triangles equal the naive closure on a hub graph") {
    // a hub (0) connected to everyone plus a sparse ring — the shape
    // where node-id orientation fans out quadratically but counts must
    // not change under degree orientation
    val n = 40L
    val hub = (1L until n).map(i => (0L, i))
    val ring = (1L until n).map(i => (i, if (i == n - 1) 1L else i + 1))
    val e = (hub ++ ring).toDF("src", "dst")
    val got = Graph.triangles(e).as[(Long, Long)].collect().toMap
    // naive: canonical a<b edge set, a<b<c triple join
    val und = (hub ++ ring).map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val naive = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val vs = und.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    for (a <- vs; b <- vs if a < b && und((a, b)); c <- vs
         if b < c && und((b, c)) && und((a, c))) {
      naive(a) += 1; naive(b) += 1; naive(c) += 1
    }
    assert(got == naive.toMap)
    assert(got.values.sum / 3 == (n - 1)) // one triangle per ring edge
  }

  test("graph operators release their caches (no CacheManager leak)") {
    // CacheManager holds persisted frames until explicit unpersist; a
    // long-lived session calling graph ops per batch would otherwise
    // accumulate cached frames without bound (observed as a broad
    // slowdown across a 480-query bench before the fix)
    spark.sharedState.cacheManager.clearCache()
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L)).toDF("src", "dst")
    val one = Seq(1L)
    Graph.pagerank(e, iters = 2).collect()
    Graph.pagerankWeighted(e.withColumn("w", lit(2L)), iters = 2).collect()
    Graph.personalizedPagerank(e, one.toDF("seed"), iters = 2).collect()
    Graph.labelPropagate(e,
      Seq((1L, "a")).toDF("node", "label"), iters = 2).collect()
    Graph.louvainSync(e, rounds = 2).collect()
    Graph.triangles(e).collect()
    Graph.deterministicWalks(e, one.toDF("seed"), steps = 2).collect()
    Graph.kcore(e, k = 1).collect()
    Graph.hits(e, iters = 2).collect()
    Graph.bfs(e, one.toDF("source"), maxDepth = 2).collect()
    Graph.harmonicCentrality(e, one.toDF("source"), maxDepth = 2).collect()
    Graph.betweennessTruncated(e, one.toDF("source"), maxDepth = 2).collect()
    Graph.maximalIndependentSet(e, rounds = 3).collect()
    Graph.ktruss(Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v"),
      k = 3, rounds = 2).collect()
    Graph.connectedComponents(e).collect()
    Graph.shortestPaths(e.withColumn("w", lit(1L)), one.toDF("source"))
      .collect()
    // error paths release what they persisted before the throw
    intercept[IllegalArgumentException](
      Graph.pagerank(Seq.empty[(Long, Long)].toDF("src", "dst"), iters = 2))
    intercept[IllegalArgumentException](
      Graph.personalizedPagerank(e, Seq(99L).toDF("seed"), iters = 2))
    intercept[IllegalArgumentException](
      Graph.shortestPaths(Seq((1L, 2L, -1L)).toDF("src", "dst", "w"),
        one.toDF("source")))
    assert(spark.sharedState.cacheManager.isEmpty,
      "graph operator left frames in the CacheManager")
  }

  test("rootsAndDepth resolves a chain and a forest by pointer doubling") {
    // chain 1 <- 2 <- ... <- 10 plus a separate 2-node tree 100 <- 101
    val parents = ((2L to 10L).map(i => (i, Some(i - 1))) ++
      Seq((1L, None), (100L, None), (101L, Some(100L))))
      .toDF("node", "parent")
    // 4 rounds cover depth 16 > 9
    val r = Graph.rootsAndDepth(parents, rounds = 4)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    (1L to 10L).foreach(i => assert(r(i) == (1L, i - 1)))
    assert(r(100L) == (100L, 0L) && r(101L) == (100L, 1L))
    // UNDER-provisioned rounds must under-report: depth reached is
    // capped at 2^rounds (documented contract, not silent corruption)
    val shallow = Graph.rootsAndDepth(parents, rounds = 2)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(shallow(10L)._2 == 4L) // 2^2 = 4 levels covered, anc not root
    assert(shallow(10L)._1 != 1L)
  }

  test("deterministic walks follow edges, hold at dead ends, and replay identically") {
    // 1 -> {2,3}, 2 -> {4}, 3 -> {}, 4 -> {1}: node 3 is a dead end
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L), (4L, 1L)).toDF("src", "dst")
    val seeds = Seq(1L, 3L).toDF("seed")
    def run() = Graph.deterministicWalks(e, seeds, steps = 3)
      .as[(Long, Int, Long)].collect().sortBy(r => (r._1, r._2))
    val w = run()
    assert(w.length == 8) // 2 seeds x steps 0..3
    // dead-end seed holds in place forever
    assert(w.filter(_._1 == 3L).forall(_._3 == 3L))
    // every hop from seed 1 follows an edge (or holds)
    val adj = Map(1L -> Set(2L, 3L), 2L -> Set(4L), 3L -> Set.empty[Long],
      4L -> Set(1L))
    val path = w.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    path.sliding(2).foreach { case Array(a, b) =>
      assert(adj(a).contains(b) || (adj(a).isEmpty && a == b),
        s"illegal hop $a -> $b")
    }
    assert(w.toSeq == run().toSeq) // replay-exact
  }

  test("bm25 retrieves only term-bearing docs in descending score order") {
    val rows = ExtensionQueries.all("x53_bm25").fn(spark, sfDir)
      .as[(Long, Double)].collect()
    assert(rows.length == 20)
    assert(rows.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
    val qterms = Set("spark", "join", "window", "hash")
    val withTerm = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("t"))
      .filter(col("t").isin(qterms.toSeq: _*))
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(rows.forall(r => withTerm(r._1)))
  }

  test("round-8 query plans keep their intended shapes") {
    // x53 bm25: the df/corpus-stats joins must be broadcasts (term- and
    // 1-row-sized) and the top-20 must be TakeOrdered, never a global sort
    val bm25 = ExtensionQueries.all("x53_bm25").fn(spark, sfDir)
    val p53 = bm25.queryExecution.executedPlan.toString
    assert(p53.contains("BroadcastHashJoin") ||
      p53.contains("BroadcastNestedLoopJoin"))
    assert(p53.contains("TakeOrderedAndProject"))
    // q65 histogram: per-type bounds come back as a broadcast, and the
    // parquet scan projects only the needed columns
    val q65 = RelationalQueries.all("q65_histogram").fn(spark, sfDir)
    val p65 = q65.queryExecution.executedPlan.toString
    assert(p65.contains("BroadcastHashJoin"))
    val scan65 = q65.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .find(_.contains("events.parquet")).getOrElse("")
    assert(!scan65.contains("props"), "histogram scan reads unused columns")
    // q66 ffill: the spine cross join must broadcast the 1-row span
    val p66 = RelationalQueries.all("q66_ffill").fn(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p66.contains("BroadcastNestedLoopJoin") ||
      p66.contains("BroadcastHashJoin"))
  }

  test("entropy is ln(n) for distinct tokens and 0 for a constant doc") {
    val docs = Seq((1L, "a b c d"), (2L, "x x x x x")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val dir = s"/tmp/graft-entropy-${System.nanoTime()}"
    docs.write.parquet(s"$dir/documents.parquet")
    val got = TextQueries.all("d35_entropy").fn(spark, dir)
      .as[(Long, Long, Double)].collect()
    assert(math.abs(got.find(_._1 == 1L).get._3 - math.log(4)) < 1e-4)
    assert(got.find(_._2 == 5L).get._3 == 0.0)
  }

  test("label-prop and louvain match in-memory references") {
    // random-ish small graph with hubs, isolated chains and ties — the
    // shapes the argmax tie-breaks and the stay-row merge must survive
    val rnd = new scala.util.Random(13)
    val pairs = (0 until 160).map { _ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)
    }.filter { case (a, b) => a != b }
    val bidir = pairs ++ pairs.map(_.swap)
    val seeds = Map(3L -> "a", 17L -> "b", 29L -> "c", 5L -> "b")
    val lpa = Graph.labelPropagate(bidir.toDF("src", "dst"),
        seeds.toSeq.toDF("node", "label"), iters = 3)
      .as[(Long, String)].collect().toMap
    assert(lpa === GraphReference.labelPropagate(bidir, seeds, iters = 3))
    val louvain = Graph.louvainSync(pairs.toDF("src", "dst"), rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(louvain === GraphReference.louvain(
      pairs.map(e => (e._1 min e._2, e._1 max e._2)), rounds = 3))
  }
}
