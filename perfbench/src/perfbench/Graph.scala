package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

object GraphRounds {
  /** The iterative graph queries, in their default order. */
  val queries: Seq[String] = Seq("x47_pagerank", "x57_ppr", "x58_hits", "x56_kcore",
    "x69_connected_components", "x59_bfs", "x70_sssp", "x55_random_walks",
    "x51_label_prop", "x97_louvain")

  /** Tables each query reads, for its input bytes. */
  val reads: Map[String, Seq[String]] = queries.map { q =>
    q -> (Seq("lineitem") ++
      (if (q == "x55_random_walks") Nil else Seq("orders")) ++
      (if (Set("x51_label_prop", "x59_bfs", "x70_sssp")(q)) Seq("part") else Nil))
  }.toMap

  /** Result digest: row count and wrapping sum of row hashes. */
  def digest(rows: Seq[Row]): Data.Digest = rows.foldLeft(Data.Empty) { (d, r) =>
    val b = r.toSeq.map(String.valueOf).mkString("\u0001").getBytes("UTF-8")
    d + Data.Digest(1, Data.hash(b, 0, b.length))
  }
}

/** One pass over the ten iterative graph queries at every core, blocks
  * drained between queries as `Bench.drainBlocks` does. The tables are
  * TPC-H shaped, generated from a fixed seed so the result digests can be
  * recorded once; the workload seed sets the query order.
  */
final class GraphRounds extends Workload {
  import GraphRounds._
  val name = "graph_rounds"
  val orders = 6000L
  val customers = 600L
  val parts = 800L
  val suppliers = 40L

  private var tableBytes: Map[String, Long] = Map.empty
  private var expected: Map[String, Data.Digest] = Map.empty
  private val recorded = mutable.LinkedHashMap.empty[String, Data.Digest]

  def tables(ctx: Ctx): Path = ctx.dir("graph")

  def generate(ctx: Ctx): Double = {
    val s = ctx.spark
    val t0 = System.nanoTime()
    def h(cs: org.apache.spark.sql.Column*) = xxhash64(cs: _*)
    val o = s.range(0, orders, 1, 1).select(col("id").as("o_orderkey"),
      pmod(h(col("id"), lit(1)), lit(customers)).as("o_custkey"))
    val li = o.select(col("o_orderkey").as("l_orderkey"),
        explode(sequence(lit(1L), pmod(h(col("o_orderkey"), lit(2)), lit(7L)) + 1)).as("j"))
      .select(col("l_orderkey"),
        pmod(h(col("l_orderkey"), col("j"), lit(3)), lit(parts)).as("l_partkey"),
        pmod(h(col("l_orderkey"), col("j"), lit(4)), lit(suppliers)).as("l_suppkey"))
    val p = s.range(0, parts, 1, 1).select(col("id").as("p_partkey"),
      concat(lit("Brand#"), (pmod(h(col("id"), lit(5)), lit(25L)) + 1).cast("string")).as("p_brand"))
    Seq("orders" -> o, "lineitem" -> li, "part" -> p).foreach { case (n, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(tables(ctx).resolve(s"$n.parquet").toString)
    }
    val dt = (System.nanoTime() - t0) / 1e9
    tableBytes = Seq("orders", "lineitem", "part").map { n =>
      n -> Data.parts(tables(ctx).resolve(s"$n.parquet")).map(Files.size).sum
    }.toMap
    expected = if (ctx.args.recordDigests) Map.empty else readDigests(ctx.args.digests)
    dt
  }

  def readDigests(p: Path): Map[String, Data.Digest] = {
    val txt = new String(Files.readAllBytes(p), "UTF-8")
    """"([a-z0-9_]+)"\s*:\s*\[\s*(-?\d+)\s*,\s*(-?\d+)\s*\]""".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> Data.Digest(m.group(2).toLong, m.group(3).toLong)).toMap
  }

  def inputFiles(ctx: Ctx): Seq[Path] = Data.parts(tables(ctx))

  def drainBlocks(s: SparkSession): Unit = {
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    org.apache.spark.sql.graft.Shims.drainBroadcasts(s.sparkContext)
    ()
  }

  /** Runs one query (timed: build + noop write), then digests its rows
    * (untimed) and drains cached blocks. Returns its wall seconds.
    */
  def query(ctx: Ctx, q: String, label: String, tag: String): Option[Double] = {
    val fn = graft.SparkEntry.queries(q)
    var df: DataFrame = null
    val w = ctx.log.run(s"$label:$q") {
      ctx.tagged(tag)(ctx.span(s"operators.graph.$q") {
        df = fn(ctx.spark, tables(ctx).toString); ctx.noop(df)
      })
    } {
      val rows = df.collect().toSeq
      val mutated = ctx.args.mutate match {
        case "drop" => rows.drop(1)
        case "dup" => rows.take(1) ++ rows
        case _ => rows
      }
      val d = digest(mutated)
      if (ctx.args.recordDigests) { recorded(q) = d; None }
      else expected.get(q) match {
        case Some(e) if e == d => None
        case Some(e) => Some(s"digest $d != recorded $e")
        case None => Some("no recorded digest")
      }
    }
    drainBlocks(ctx.spark)
    w
  }

  def order(ctx: Ctx): Seq[String] = new scala.util.Random(ctx.args.seed).shuffle(queries)

  /** One pass; returns per-query walls of the queries that passed. */
  def pass(ctx: Ctx, label: String, tag: String => String): Seq[(String, Double)] =
    order(ctx).flatMap(q => query(ctx, q, label, tag(q)).map(q -> _))

  def warmup(ctx: Ctx): Unit = {
    pass(ctx, "warmup", _ => "warmup")
    if (ctx.args.recordDigests) {
      Files.write(ctx.args.digests, (queries.map { q =>
        s"""  "$q": [${recorded(q).count}, ${recorded(q).sum}]"""
      }.mkString("{\n", ",\n", "\n}\n")).getBytes("UTF-8"))
    }
  }

  def passMb: Double = queries.flatMap(reads).map(tableBytes).sum / 1e6

  /** Passes until `seconds` have passed (at least one pass). */
  def passes(ctx: Ctx, seconds: Double, label: String, tag: String => String)
      : Seq[Seq[(String, Double)]] = {
    val out = ArrayBuffer.empty[Seq[(String, Double)]]
    val t0 = System.nanoTime()
    while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
      out += pass(ctx, s"$label${out.size}", tag)
    out.toSeq
  }

  /** A pass's wall; only passes where every query passed its check. */
  def passWalls(ps: Seq[Seq[(String, Double)]]): Seq[Double] =
    ps.filter(_.size == queries.size).map(_.map(_._2).sum)

  def measure(ctx: Ctx, seconds: Double): Measured = {
    val ps = passes(ctx, seconds, "pass", _ => "run")
    val walls = passWalls(ps)
    Measured(walls, ps.flatten.map(_._2), if (walls.isEmpty) Double.NaN else passMb / Stats.median(walls))
  }

  def traced(ctx: Ctx, seconds: Double): Traced = {
    val plain = passes(ctx, seconds / 3, "untraced", _ => "untraced")
    val listener = ctx.listen()
    val ps = passes(ctx, seconds * 2 / 3, "traced", q => s"op:$q")
    val sc = ctx.spark.sparkContext
    val layers = queries.flatMap { q =>
      val walls = ps.flatten.collect { case (`q`, w) => w }
      val tot = listener.sum(sc)(_ == s"op:$q")
      Seq(s"operators.graph.$q.wall_s" -> (if (walls.isEmpty) Double.NaN else Stats.median(walls)),
        s"operators.graph.$q.jobs" -> tot.jobs.toDouble / math.max(walls.size, 1),
        s"operators.graph.$q.task_s" -> tot.taskS / math.max(walls.size, 1))
    }.toMap
    Traced(layers, passWalls(plain), passWalls(ps), ps.size, ctx.cores)
  }
}
