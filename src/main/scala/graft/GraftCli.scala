package graft

import graft.operators.{PartitionConfig, PrePartition}
import graft.sources.LogDataGenerator
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, BinaryType, FloatType, LongType, StringType,
  StructField, StructType}

/** Console entry point — the Spark-native analogue of the reference's
  * `KustoPreForgeConsole.Program.Main`
  * (reference: code/KustoPreForgeConsole/Program.cs:26-49).
  *
  * Every subcommand is one row of [[GraftCli.commands]]: its name, its
  * required and optional positionals, its literal flag words and its body.
  * The usage text is rendered from that table, and arguments are checked
  * against it before any session starts; running with no arguments prints
  * every command. The reference's own pipeline is
  *   generate <outDir> <nRows> [seed]           — headerless CSV landing data
  *   prepartition <inGlob> <roots> <colIdx> <maxPartitions> <seed> [gzip]
  *   validate <stagingDir>                      — B7-style cardinality invariants
  *   split, stream, notify-publish, stream-notify, stream-notify-split
  * and the rest drive the corpus, index, graph, archive and media operators.
  */
object GraftCli {
  /** Per-tenant scheduler pool for this process, set by the leading
    * `--pool=<tenant>` flag. Pools only matter when several tenants share
    * one long-lived session/cluster (the ConcurrencyProbe shape, 2.6–3.1×
    * serial throughput): FAIR mode stops one tenant's heavyweight stage
    * from starving another's, and each submitting thread tags its jobs
    * with its own pool. For the one-shot CLI the flag flips the session
    * to FAIR and tags all jobs — so the same binary drops into a shared
    * SparkConnect/ThriftServer deployment with per-tenant fairness.
    */
  private var schedulerPool: Option[String] = None

  /** Split the leading `--pool=<name>` flag (if any) off the arg list. */
  private[graft] def parsePoolFlag(args: List[String])
      : (Option[String], List[String]) = args match {
    case head :: rest if head.startsWith("--pool=") &&
        head.length > "--pool=".length =>
      (Some(head.substring("--pool=".length)), rest)
    case _ => (None, args)
  }

  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    schedulerPool.foreach(_ => b.config("spark.scheduler.mode", "FAIR"))
    val s = b.getOrCreate()
    // thread-local: jobs submitted by this (main) thread land in the pool
    schedulerPool.foreach(p =>
      s.sparkContext.setLocalProperty("spark.scheduler.pool", p))
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    s
  }

  def main(rawArgs: Array[String]): Unit = {
    val (pool, argList) = parsePoolFlag(rawArgs.toList)
    schedulerPool = pool
    pool.foreach(p => println(s"[graft] scheduler pool: $p (FAIR)"))
    parse(argList) match {
      case Right((c, a)) => run(c, a)
      case Left(err) =>
        System.err.println(s"$err\n$usage")
        sys.exit(2)
    }
  }

  /** One subcommand. Its first arguments are the `required` positionals,
    * in order. Each argument after them is a flag word when `flags` lists
    * it (a flag ending in `=<value>` matches by its `key=` prefix) and
    * otherwise the next `optional` positional; anything more is a usage
    * error. With `repeated`, the last required positional takes every
    * remaining argument instead. A `Left` body runs without a session.
    */
  private[graft] final case class Command(
      name: String, required: Seq[String], optional: Seq[String],
      flags: Seq[String], repeated: Boolean)(
      val body: Either[Args => Unit, (SparkSession, Args) => Unit]) {
    def isFlag(arg: String): Boolean = flags.exists(f => f.indexOf('=') match {
      case -1 => arg == f
      case i => arg.startsWith(f.take(i + 1))
    })
    def usage: String = (name +: (required.map(r => s"<$r>") ++
      (if (repeated) Seq(s"[${required.last} ...]") else Nil) ++
      (optional ++ flags).map(o => s"[$o]"))).mkString(" ")
  }

  /** A parsed command line; positionals are looked up by their declared
    * name, so a name the command does not declare throws. */
  private[graft] final class Args(c: Command, positionals: Seq[String],
                                  flagArgs: Seq[String]) {
    private def index(name: String): Int = (c.required ++ c.optional).indexOf(name) match {
      case -1 => throw new IllegalArgumentException(s"${c.name} declares no argument $name")
      case i => i
    }
    def apply(name: String): String = positionals(index(name))
    def opt(name: String): Option[String] = positionals.lift(index(name))
    def int(name: String, default: Int): Int = opt(name).fold(default)(_.toInt)
    def long(name: String, default: Long): Long = opt(name).fold(default)(_.toLong)
    def double(name: String, default: Double): Double = opt(name).fold(default)(_.toDouble)
    /** Every value of the repeated last positional. */
    def repeated: Seq[String] = positionals.drop(c.required.length - 1)
    def has(flag: String): Boolean = {
      require(c.flags.contains(flag), s"${c.name} declares no flag $flag")
      flagArgs.contains(flag)
    }
    /** The value of a `key=<value>` flag. */
    def value(key: String): Option[String] = {
      require(c.flags.exists(_.startsWith(s"$key=")), s"${c.name} declares no flag $key=")
      flagArgs.collectFirst { case f if f.startsWith(s"$key=") => f.stripPrefix(s"$key=") }
    }
  }

  private def job(name: String, required: Seq[String], optional: Seq[String] = Nil,
                  flags: Seq[String] = Nil, repeated: Boolean = false)(
                  body: (SparkSession, Args) => Unit): Command =
    Command(name, required, optional, flags, repeated)(Right(body))

  private def local(name: String, required: Seq[String], repeated: Boolean = false)(
                    body: Args => Unit): Command =
    Command(name, required, Nil, Nil, repeated)(Left(body))

  /** Checks `args` (command name first) against the table. */
  private[graft] def parse(args: List[String]): Either[String, (Command, Args)] = args match {
    case Nil => Left("no command given")
    case name :: rest => commands.find(_.name == name) match {
      case None => Left(s"unknown command: $name")
      case Some(c) =>
        val (flagArgs, positionals) =
          if (c.repeated) (Nil, rest)
          else {
            val (fixed, tail) = rest.splitAt(c.required.length)
            val (fl, opt) = tail.partition(c.isFlag)
            (fl, fixed ++ opt)
          }
        if (positionals.length < c.required.length)
          Left(s"$name: missing <${c.required(positionals.length)}>")
        else if (!c.repeated && positionals.length > c.required.length + c.optional.length)
          Left(s"$name: unexpected argument(s): " +
            positionals.drop(c.required.length + c.optional.length).mkString(" "))
        else Right((c, new Args(c, positionals, flagArgs)))
    }
  }

  private[graft] def usage: String =
    ("Usage: [--pool=<tenant>] <command> ...   (FAIR scheduler pool for shared sessions)" +:
      commands.map("  " + _.usage)).mkString("\n")

  /** Runs one parsed command, in the one session this process opens. */
  private def run(c: Command, a: Args): Unit = c.body match {
    case Left(body) => body(a)
    case Right(body) =>
      val spark = session()
      try body(spark, a) finally spark.stop()
  }

  /** Serves a streaming query for `runSec` seconds, or until it ends
    * when `runSec` is 0. */
  private def serve(q: StreamingQuery, runSec: Int): Unit =
    if (runSec > 0) { q.awaitTermination(runSec * 1000L); q.stop() }
    else q.awaitTermination()

  private def partitionConfig(a: Args): PartitionConfig =
    PartitionConfig(a("colIdx").toInt, a("maxPartitions").toInt, a("seed").toInt)

  /** The `(doc_id, text)` schema of a parquet document landing stream. */
  private val DocStream = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** A command that writes each `(id, bytes)` row `synthesize` makes from
    * a documents parquet to `<outDir>/d<id>.<ext>`, `evenExt` for even ids
    * and `oddExt` for odd ones. */
  private def fixtures(name: String, evenExt: String, oddExt: String)(
      synthesize: (SparkSession, DataFrame) => DataFrame): Command =
    job(name, Seq("docsParquet", "outDir")) { (spark, a) =>
      val outDir = a("outDir")
      new java.io.File(outDir).mkdirs()
      synthesize(spark, spark.read.parquet(a("docsParquet"))).foreachPartition { it: Iterator[Row] =>
        it.foreach { r =>
          val id = r.getLong(0)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"d$id.${if (id % 2 == 0) evenExt else oddExt}"),
            r.getAs[Array[Byte]](1))
        }
      }
      println(s"[graft] $name: ${a("docsParquet")} -> $outDir")
    }

  /** A command that reads parquet with nanosecond timestamps, as the
    * test data stores them: they load as longs rather than refuse the
    * file (same accommodation as QueryDef.t). */
  private def parquetJob(name: String, required: Seq[String], optional: Seq[String] = Nil,
                         flags: Seq[String] = Nil)(
                         body: (SparkSession, Args) => Unit): Command =
    job(name, required, optional, flags) { (spark, a) =>
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      body(spark, a)
    }

  /** A graph command: reads its parquet `inputs`, overwrites `<outDir>`
    * with the frame `op` returns and prints the inputs, the output and
    * the note `op` returns with it. */
  private def graphJob(name: String, inputs: Seq[String], optional: Seq[String] = Nil,
                       flags: Seq[String] = Nil)(
                       op: (Seq[DataFrame], Args) => (DataFrame, String)): Command =
    parquetJob(name, inputs :+ "outDir", optional, flags) { (spark, a) =>
      val (out, note) = op(inputs.map(i => spark.read.parquet(a(i))), a)
      out.write.mode("overwrite").parquet(a("outDir"))
      // the first input bare, later ones as `seeds=<path>`
      val shown = a(inputs.head) +: inputs.tail.map(i => s"${i.stripSuffix("Parquet")}=${a(i)}")
      println(s"[graft] $name ${shown.mkString(" ")} -> ${a("outDir")}$note")
    }

  /** A server command over archives landing in `landingDir`, run for
    * `runSec` seconds (`defaultRunSec` when not given; 0 = forever). */
  private def archiveServer(name: String, defaultRunSec: Int)(
      start: (SparkSession, String, String, String) => StreamingQuery): Command =
    job(name, Seq("landingDir", "outDir", "checkpointDir"), Seq("runSec")) { (spark, a) =>
      val q = start(spark, a("landingDir"), a("outDir"), a("checkpointDir"))
      println(s"[graft] ${name.stripPrefix("stream-")} server on ${a("landingDir")} -> ${a("outDir")}")
      serve(q, a.int("runSec", defaultRunSec))
    }

  /** The `q_embedding` of row `vecId` of the command's embeddings parquet. */
  private def queryVector(spark: SparkSession, a: Args): DataFrame =
    spark.read.parquet(a("embeddingsParquet"))
      .filter(col("vec_id") === a("vecId").toLong)
      .select(col("embedding").as("q_embedding"))

  /** A command that writes the frame it reads from its `in` argument to
    * `<outDir>` as parquet. */
  private def convert(name: String, in: String)(
      frame: (SparkSession, String) => DataFrame): Command =
    job(name, Seq(in, "outDir")) { (spark, a) =>
      frame(spark, a(in)).write.mode("overwrite").parquet(a("outDir"))
      println(s"[graft] $name: ${a(in)} -> ${a("outDir")}")
    }

  private[graft] val commands: Seq[Command] = Seq(
    job("generate", Seq("outDir", "nRows"), Seq("seed")) { (spark, a) =>
      val outDir = a("outDir")
      LogDataGenerator.toCsvLines(
          LogDataGenerator.generate(spark, a("nRows").toLong, a.long("seed", 42L)))
        .write.mode("overwrite").text(outDir)
      println(s"[graft] wrote ${spark.read.text(outDir).count()} lines to $outDir")
    },

    // comma-separated roots spread the output (reference round-robins the
    // staging containers, Transforms/PartitionedContentSink.cs:54-66):
    // pid -> roots(pid % N)/pid=<pid>/; one root is the plain staging write
    job("prepartition", Seq("inGlob", "roots", "colIdx", "maxPartitions", "seed"),
        flags = Seq("gzip")) { (spark, a) =>
      val written = PrePartition.runSpread(spark, a("inGlob"),
        a("roots").split(',').toIndexedSeq, partitionConfig(a),
        gzipOutput = a.has("gzip"))
      // records and bytes per partition, as the reference's perf counters
      written.toSeq.sortBy(_._1).foreach { case (pid, w) =>
        println(s"[graft] pid=$pid records=${w.records} bytes=${w.bytes}")
      }
      println(s"[graft] prepartitioned ${a("inGlob")} -> ${a("roots")} (col=${a("colIdx")} " +
        s"n=${a("maxPartitions")} seed=${a("seed")}) records=${written.values.map(_.records).sum}")
    },

    job("split", Seq("inGlob", "outDir", "maxBytesPerShard"),
        flags = Seq("header", "gzip")) { (spark, a) =>
      val cfg = operators.Split.SplitConfig(
        maxBytesPerShard = a("maxBytesPerShard").toLong,
        hasHeader = a.has("header"),
        gzipOutput = a.has("gzip"))
      val manifest = operators.Split.run(spark, a("inGlob"), a("outDir"), cfg)
      operators.Split.shardCount(manifest).show(false)
    },

    job("validate", Seq("stagingDir")) { (spark, a) =>
      PrePartition.invariants(PrePartition.validationFrame(spark, a("stagingDir")))
        .show(false)
    },

    // the event-driven server mode (reference: ServiceBusServer) — watch a
    // landing dir, flush partitioned output every triggerSec seconds;
    // optional runSec bounds the server lifetime (0 = run forever).
    job("stream", Seq("landingDir", "stagingDir", "checkpointDir", "colIdx",
        "maxPartitions", "seed"), Seq("triggerSec", "runSec")) { (spark, a) =>
      val triggerSec = a.int("triggerSec", 60)
      val q = streaming.StreamingPrePartition.start(
        spark, a("landingDir"), a("stagingDir"), a("checkpointDir"),
        partitionConfig(a), trigger = Trigger.ProcessingTime(s"$triggerSec seconds"))
      println(s"[graft] streaming ${a("landingDir")} -> ${a("stagingDir")} (trigger ${triggerSec}s)")
      serve(q, a.int("runSec", 0))
    },

    // landing agent: publish blob paths to a notification queue (the
    // reference's Event Grid blob-created event -> Service Bus message)
    job("notify-publish", Seq("queueDir", "blobPath"), repeated = true) { (spark, a) =>
      val seq = streaming.NotifyQueue.publish(spark, a("queueDir"), a.repeated)
      println(s"[graft] published ${a.repeated.length} path(s) to ${a("queueDir")} as seq $seq")
    },

    // object-store-safe publish (S3-class stores whose rename overwrites):
    // a uniquely-named spool entry; the consuming stream must run with
    // claimMode=spool so its driver sequences the spool
    job("notify-publish-spool", Seq("queueDir", "blobPath"), repeated = true) { (spark, a) =>
      val name = streaming.NotifyQueue.publishSpool(spark, a("queueDir"), a.repeated)
      println(s"[graft] spooled ${a.repeated.length} path(s) to ${a("queueDir")} as $name")
    },

    // event-driven server on the notification queue: per-trigger source
    // cost is O(new notifications), not O(landing-dir history)
    job("stream-notify", Seq("queueDir", "stagingDir", "checkpointDir", "colIdx",
        "maxPartitions", "seed"), Seq("triggerSec", "runSec", "claimMode")) { (spark, a) =>
      val triggerSec = a.int("triggerSec", 60)
      val q = streaming.StreamingPrePartition.startNotified(
        spark, a("queueDir"), a("stagingDir"), a("checkpointDir"),
        partitionConfig(a), trigger = Trigger.ProcessingTime(s"$triggerSec seconds"),
        claimMode = a.opt("claimMode").getOrElse("rename"))
      println(s"[graft] streaming notify queue ${a("queueDir")} -> ${a("stagingDir")} (trigger ${triggerSec}s)")
      serve(q, a.int("runSec", 0))
    },

    // the flagship LLM-corpus pipeline over a documents parquet
    // (doc_id, text, lang, ...): quality filter -> MinHash near-dup
    // removal -> per-language sequence packing; writes packed spans +
    // prints per-stream packing stats (the x15 composition, operable)
    job("corpus-prep", Seq("documentsParquet", "outDir"),
        Seq("minTokens", "jaccardThreshold", "capacity")) { (spark, a) =>
      val (inParquet, outDir) = (a("documentsParquet"), a("outDir"))
      val minTokens = a.int("minTokens", 25)
      val threshold = a.double("jaccardThreshold", 0.5)
      val capacity = a.int("capacity", 512)
      val docs = spark.read.parquet(inParquet)
      val q = docs.filter(operators.Pack.tokenCount(col("text")) >= minTokens)
      val surv = operators.Dedup.dedupSurvivors(q, "doc_id",
        operators.Dedup.minHashLsh(q, "doc_id", "text", threshold = threshold))
      val spans = operators.Pack.packedSpans(
        surv, "doc_id", "text", "lang", capacity = capacity)
      spans.write.mode("overwrite").parquet(s"$outDir/packed_spans")
      operators.Pack.packingStats(
        spark.read.parquet(s"$outDir/packed_spans"), "lang", capacity).show(false)
      println(s"[graft] corpus-prep $inParquet -> $outDir " +
        s"(minTokens=$minTokens threshold=$threshold capacity=$capacity)")
    },

    // the FULL training-run preparation in one command — what a user
    // actually runs before a pretraining job: quality gate → MinHash
    // near-dup survivors → benchmark decontamination (bloom-prefiltered)
    // → deterministic train/val split → source-balanced interleave rank
    // → context-window packing of train → manifest with per-stage and
    // per-source counts. Every stage is one of the gated operators; the
    // composition itself is spec-pinned (Round11OpsSpec invariants).
    job("prepare-run", Seq("documentsParquet", "benchParquet", "outDir"),
        Seq("minTokens", "jaccardThreshold", "capacity", "valPct", "semanticTau")) { (spark, a) =>
      operators.PrepareRun.run(spark,
          spark.read.parquet(a("documentsParquet")),
          spark.read.parquet(a("benchParquet")),
          a("outDir"), a.int("minTokens", 25), a.double("jaccardThreshold", 0.5),
          a.int("capacity", 512), a.int("valPct", 5), a.double("semanticTau", Double.NaN))
        .foreach { case (st, c) => println(s"[graft] prepare-run $st: $c") }
    },

    job("prepare-run-wave", Seq("waveParquet", "outDir", "waveId")) { (spark, a) =>
      operators.PrepareRun.runWave(spark,
          spark.read.parquet(a("waveParquet")), a("outDir"), a("waveId").toInt)
        .foreach { case (st, c) =>
          println(s"[graft] prepare-run wave ${a("waveId")} $st: $c") }
    },

    // fold committed wave=N dirs into a fresh wave=0 base per table
    // (the small-file maintenance pass, under the marker protocol)
    job("prepare-run-compact", Seq("outDir"), Seq("targetBytes")) { (spark, a) =>
      operators.PrepareRun.compactRun(spark, a("outDir"),
          a.long("targetBytes", 128L * 1024 * 1024))
        .foreach { case (t, (b, af)) =>
          println(s"[graft] prepare-run-compact $t: $b -> $af files") }
    },

    // per-ingest-wave delta dedup: report near-dups of the new batch
    // against the standing corpus (cross pairs only)
    job("dedup-delta", Seq("corpusParquet", "batchParquet", "outDir"),
        Seq("jaccardThreshold")) { (spark, a) =>
      val threshold = a.double("jaccardThreshold", 0.5)
      val outDir = a("outDir")
      val pairs = operators.Dedup.incrementalNearDup(
        spark.read.parquet(a("corpusParquet")), spark.read.parquet(a("batchParquet")),
        "doc_id", "text", threshold = threshold)
      pairs.write.mode("overwrite").parquet(s"$outDir/delta_pairs")
      val n = spark.read.parquet(s"$outDir/delta_pairs").count()
      println(s"[graft] dedup-delta ${a("batchParquet")} vs ${a("corpusParquet")}: " +
        s"$n cross near-dup pairs (threshold=$threshold) -> $outDir/delta_pairs")
    },

    // benchmark decontamination: drop training docs sharing an n-gram
    // with the benchmark set; `bloom` routes through the broadcast-bloom
    // prefilter (identical result, corpus-scale shuffle volume)
    job("decontaminate", Seq("trainParquet", "benchParquet", "outDir"),
        Seq("nGram"), Seq("bloom")) { (spark, a) =>
      val n = a.int("nGram", 8)
      val train = spark.read.parquet(a("trainParquet"))
      val bench = spark.read.parquet(a("benchParquet"))
      val clean =
        if (a.has("bloom"))
          operators.Contamination.decontaminateBloom(train, bench, "doc_id", "text", n)
        else operators.Contamination.decontaminate(train, bench, "doc_id", "text", n)
      clean.write.mode("overwrite").parquet(s"${a("outDir")}/clean")
      println(s"[graft] decontaminate: ${spark.read.parquet(s"${a("outDir")}/clean").count()} " +
        s"of ${train.count()} docs survive (n=$n, bloom=${a.has("bloom")})")
    },

    // Z-order layout write: cluster a parquet table on the Morton
    // interleave of two (numeric, pre-bucketed to 16 bits) columns so
    // row-group min/max stats prune scans on BOTH dimensions
    parquetJob("zorder-write", Seq("inParquet", "outDir", "colA", "colB"),
        Seq("partitions")) { (spark, a) =>
      operators.Layout.zorderBy(spark.read.parquet(a("inParquet")),
          col(a("colA")), col(a("colB")), a.int("partitions", 0))
        .drop("zkey")
        .write.mode("overwrite").parquet(a("outDir"))
      println(s"[graft] zorder-write ${a("inParquet")} -> ${a("outDir")} " +
        s"(dims ${a("colA")}, ${a("colB")})")
    },

    // link-analysis over an (src, dst) parquet edge list: damped
    // PageRank ranks written as (node, r) integer rank units
    graphJob("graph-pagerank", Seq("edgesParquet"), Seq("iters", "tolUnits"),
        Seq("dangling")) { (in, a) =>
      val iters = a.int("iters", 10)
      val tol = a.long("tolUnits", 0L)
      val dangling = a.has("dangling")
      operators.Graph.pagerank(in(0), iters, tolUnits = tol,
          redistributeDangling = dangling) ->
        s" ($iters iters max, tol=$tol, dangling=$dangling)"
    },

    // seeded relevance: personalized PageRank from a (seed) parquet
    graphJob("graph-ppr", Seq("edgesParquet", "seedsParquet"), Seq("iters")) { (in, a) =>
      val iters = a.int("iters", 10)
      operators.Graph.personalizedPagerank(in(0), in(1), iters) -> s" ($iters iters)"
    },

    // dense-core extraction: peel nodes of degree < k to the fixpoint
    graphJob("graph-kcore", Seq("edgesParquet"), Seq("k")) { (in, a) =>
      val k = a.int("k", 4)
      operators.Graph.kcore(in(0), k) -> s" (k=$k)"
    },

    // HITS hub/authority scoring over a directed (src, dst) edge list
    graphJob("graph-hits", Seq("edgesParquet"), Seq("iters")) { (in, a) =>
      val iters = a.int("iters", 10)
      operators.Graph.hits(in(0), iters) -> s" ($iters iters)"
    },

    // seed expansion: BFS hop labels within maxDepth of a (source) parquet
    graphJob("graph-bfs", Seq("edgesParquet", "seedsParquet"), Seq("maxDepth")) { (in, a) =>
      val depth = a.int("maxDepth", 3)
      operators.Graph.bfs(in(0), in(1), depth) -> s" (depth<=$depth)"
    },

    // connected components over a (src, dst) edge list (bidirected
    // internally: CLI callers hand an undirected relation)
    graphJob("graph-components", Seq("edgesParquet"), Seq("maxRounds")) { (in, a) =>
      import org.apache.spark.sql.functions.{array, explode, struct}
      val bidirected = in(0).select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select("e.src", "e.dst")
      operators.Graph.connectedComponents(bidirected, a.int("maxRounds", 64)) -> ""
    },

    // multi-source weighted shortest paths over (src, dst, w)
    graphJob("graph-sssp", Seq("edgesParquet", "seedsParquet"), Seq("maxRounds")) { (in, a) =>
      val maxRounds = a.int("maxRounds", 64)
      operators.Graph.shortestPaths(in(0), in(1), maxRounds) -> s" (rounds<=$maxRounds)"
    },

    // manifest maintenance: dedupe + rewrite segments, optional retention
    job("manifest-compact", Seq("shardDir"), Seq("retainDays")) { (spark, a) =>
      val retainDays = a.opt("retainDays").map(_.toLong)
      val retainMs = retainDays.map(_ * 86400L * 1000L).getOrElse(Long.MaxValue)
      val (before, after) = operators.Split.compactManifest(spark, a("shardDir"), retainMs)
      println(s"[graft] manifest-compact ${a("shardDir")}: $before -> $after segments" +
        retainDays.map(d => s" (retained last $d days)").getOrElse(""))
    },

    // per-node triangle counts over an undirected (src, dst) edge list
    graphJob("graph-triangles", Seq("edgesParquet")) { (in, _) =>
      operators.Graph.triangles(in(0)) -> ""
    },

    // flatten a (node, parent) forest to (node, root, depth)
    graphJob("graph-ancestors", Seq("parentsParquet"), Seq("rounds")) { (in, a) =>
      // explicit rounds override; default derives ceil(log2(n)) from the data
      a.opt("rounds").map(_.toInt)
        .map(operators.Graph.rootsAndDepth(in(0), _))
        .getOrElse(operators.Graph.rootsAndDepth(in(0))) ->
        a.opt("rounds").map(r => s" ($r rounds)").getOrElse(" (derived rounds)")
    },

    // small-files maintenance: rewrite a parquet dir to ~targetMB files,
    // optionally range-sorted so footer min/max pruning survives
    parquetJob("compact", Seq("inDir", "outDir"), Seq("targetMB", "sortCol1,sortCol2,...")) { (spark, a) =>
      val targetMb = a.long("targetMB", 128L)
      val sortCols = a.opt("sortCol1,sortCol2,...").map(_.split(",").toSeq).getOrElse(Nil)
      val n = operators.Layout.compact(spark, a("inDir"), a("outDir"),
        targetMb * 1024 * 1024, sortCols)
      println(s"[graft] compact ${a("inDir")} -> ${a("outDir")} ($n files, " +
        s"target ${targetMb}MB${if (sortCols.nonEmpty) s", sorted by ${sortCols.mkString(",")}" else ""})")
    },

    // build the standing dedup index once (offline): (id, shingles,
    // MinHash signature) parquet every delta-dedup server loads at startup
    job("dedup-index-build", Seq("docsParquet", "indexDir")) { (spark, a) =>
      operators.Dedup.writeIndex(
        spark.read.parquet(a("docsParquet")), "doc_id", "text", a("indexDir"))
      println(s"[graft] dedup index: ${a("docsParquet")} -> ${a("indexDir")} " +
        s"(${spark.read.parquet(a("indexDir")).count()} docs)")
    },

    // append an embedding wave to a persisted IVF index (frozen centroids)
    job("ann-index-append", Seq("embeddingsParquet", "indexDir")) { (spark, a) =>
      val drift = operators.Similarity.appendIvfIndex(
        spark.read.parquet(a("embeddingsParquet")), a("indexDir"))
      println(s"[graft] ivf append: ${a("embeddingsParquet")} -> ${a("indexDir")}")
      drift.foreach { d =>
        println(s"[graft] drift: n=${d.nBatch} kl_micro=${d.klMicro} " +
          s"retrain=${d.retrain}")
      }
    },

    // incremental ANN-index sync against the run's committed waves
    // (builds on first call; appends only new waves; x84-gated retrain)
    job("prepare-run-sync-ann", Seq("outDir", "indexDir"), Seq("nlist", "trainIters")) { (spark, a) =>
      val m = operators.PrepareRun.syncAnnIndex(
        spark, a("outDir"), a("indexDir"), a.int("nlist", 16), a.int("trainIters", 0))
      println(s"[graft] ann sync: ${a("outDir")} -> ${a("indexDir")} " +
        m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    },

    // build a persisted IVF ANN index: inverted lists as list_id-
    // partitioned parquet + a centroids side table
    job("ann-index-build", Seq("embeddingsParquet", "indexDir"), Seq("nlist", "trainIters")) { (spark, a) =>
      val nlist = a.int("nlist", 16)
      // trainIters > 0 runs Lloyd refinement before the layout write —
      // the x68 gate measures what that buys (panel recall 13/40 -> 22/40
      // at one round on the bench fixture)
      val trainIters = a.int("trainIters", 0)
      operators.Similarity.writeIvfIndex(
        spark.read.parquet(a("embeddingsParquet")), a("indexDir"), nlist, trainIters)
      println(s"[graft] ivf index: ${a("embeddingsParquet")} -> ${a("indexDir")} " +
        s"(nlist=$nlist trainIters=$trainIters)")
    },

    // binary (sign-bit) index: 16-byte-row codes table for the Hamming
    // prefilter scan, full vectors read only for the rerank survivors
    job("ann-binary-build", Seq("embeddingsParquet", "indexDir")) { (spark, a) =>
      operators.Similarity.writeBinaryIndex(
        spark.read.parquet(a("embeddingsParquet")), a("indexDir"))
      println(s"[graft] binary index: ${a("embeddingsParquet")} -> ${a("indexDir")}")
    },

    job("ann-binary-append", Seq("embeddingsParquet", "indexDir")) { (spark, a) =>
      operators.Similarity.appendBinaryIndex(
        spark.read.parquet(a("embeddingsParquet")), a("indexDir"))
      println(s"[graft] binary append: ${a("embeddingsParquet")} -> ${a("indexDir")}")
    },

    job("ann-compact", Seq("indexDir"), Seq("targetBytes")) { (spark, a) =>
      val report = operators.Similarity.compactIndex(
        spark, a("indexDir"), a.long("targetBytes", 128L * 1024 * 1024))
      report.foreach { case (tbl, (before, after)) =>
        println(s"[graft] ann-compact $tbl: $before -> $after files")
      }
      if (report.isEmpty)
        println(s"[graft] ann-compact: no index tables under ${a("indexDir")}")
    },

    job("ann-binary-query", Seq("indexDir", "embeddingsParquet", "vecId"),
        Seq("k", "prefilter")) { (spark, a) =>
      val k = a.int("k", 5)
      operators.Similarity
        .binaryIndexTopK(spark, a("indexDir"), queryVector(spark, a), k, a.int("prefilter", 40))
        .show(k, false)
    },

    // IVF+PQ index: lists carry 8-byte PQ codes next to the vectors, so
    // the query's ADC shortlist scan column-prunes to ~8 B/vector
    job("ann-index-build-pq", Seq("embeddingsParquet", "indexDir"),
        Seq("nlist", "nSub", "trainIters")) { (spark, a) =>
      val nlist = a.int("nlist", 8)
      val nSub = a.int("nSub", 8)
      val trainIters = a.int("trainIters", 0)
      operators.Similarity.writeIvfPqIndex(
        spark.read.parquet(a("embeddingsParquet")), a("indexDir"), nlist, nSub,
        trainIters = trainIters)
      println(s"[graft] ivf+pq index: ${a("embeddingsParquet")} -> ${a("indexDir")} " +
        s"(nlist=$nlist nSub=$nSub trainIters=$trainIters)")
    },

    // wave append under BOTH frozen quantizers (coarse centroids and
    // PQ codebook); prints the x84 drift report
    job("ann-index-append-pq", Seq("embeddingsParquet", "indexDir")) { (spark, a) =>
      val rep = operators.Similarity.appendIvfPqIndex(
        spark.read.parquet(a("embeddingsParquet")), a("indexDir"))
      println(s"[graft] ivf+pq append: ${a("embeddingsParquet")} -> ${a("indexDir")} " +
        rep.map(r => s"(n=${r.nBatch} kl_micro=${r.klMicro} " +
          s"retrain=${r.retrain})").getOrElse("(no build_dist)"))
    },

    job("ann-query-pq", Seq("indexDir", "embeddingsParquet", "vecId", "k"),
        Seq("nprobe")) { (spark, a) =>
      operators.Similarity.ivfPqIndexTopK(spark, a("indexDir"), queryVector(spark, a),
          a("k").toInt, a.int("nprobe", 4))
        .show(false)
    },

    // top-k query against a persisted IVF index; the query vector is
    // fetched by id from an embeddings parquet
    job("ann-query", Seq("indexDir", "embeddingsParquet", "vecId", "k"),
        Seq("nprobe")) { (spark, a) =>
      operators.Similarity.ivfIndexTopK(spark, a("indexDir"), queryVector(spark, a),
          a("k").toInt, a.int("nprobe", 4))
        .show(false)
    },

    // continuous latest-per-key materialized view over a parquet landing
    // stream (schema inferred from the first landed file)
    parquetJob("stream-upsert", Seq("landingDir", "tableDir", "checkpointDir", "keyCol", "tsCol"),
        Seq("nBuckets", "runSec")) { (spark, a) =>
      val landingDir = a("landingDir")
      val nBuckets = a.int("nBuckets", 64)
      val schema = spark.read.parquet(landingDir).schema
      val stream = spark.readStream.schema(schema).parquet(landingDir)
      val q = streaming.StreamingAnalytics.upsertLatest(
        stream, a("keyCol"), a("tsCol"), a("tableDir"), a("checkpointDir"), nBuckets)
      println(s"[graft] upsert server on $landingDir -> ${a("tableDir")} " +
        s"(key=${a("keyCol")} ts=${a("tsCol")} buckets=$nBuckets)")
      serve(q, a.int("runSec", 0))
    },

    // exactly-once corpus append: landing docs dedup exactly (content
    // hash) against the persisted corpus table, novel rows append
    job("stream-append-unique", Seq("landingDir", "corpusTableDir", "checkpointDir"),
        Seq("nBuckets", "runSec")) { (spark, a) =>
      val nBuckets = a.int("nBuckets", 64)
      val stream = spark.readStream.schema(DocStream).parquet(a("landingDir"))
      val q = streaming.StreamingAnalytics.appendUnique(
        stream, "text", "doc_id", a("corpusTableDir"), a("checkpointDir"), nBuckets)
      println(s"[graft] append-unique server on ${a("landingDir")} -> " +
        s"${a("corpusTableDir")} (buckets=$nBuckets)")
      serve(q, a.int("runSec", 0))
    },

    // streaming quality gate: docs landing as parquet route to pass /
    // quarantine per-batch dirs (idempotent overwrite on replay)
    job("stream-quality-route", Seq("landingDir", "passDir", "quarantineDir", "checkpointDir"),
        Seq("minWords", "runSec")) { (spark, a) =>
      val minWords = a.int("minWords", 5)
      val stream = spark.readStream.schema(DocStream).parquet(a("landingDir"))
      val q = streaming.StreamingAnalytics.qualityRoute(
        stream, a("passDir"), a("quarantineDir"), a("checkpointDir"), minWords = minWords)
      println(s"[graft] quality-route server on ${a("landingDir")} -> " +
        s"${a("passDir")} | ${a("quarantineDir")} (minWords=$minWords)")
      serve(q, a.int("runSec", 0))
    },

    // streaming delta dedup server: flag near-dups of each landing
    // micro-batch against the standing corpus. The corpus argument is
    // either raw documents parquet (sketched at startup) or a
    // `dedup-index-build` output (detected by its `sig` column — loaded,
    // never re-sketched).
    job("stream-dedup-delta", Seq("corpusParquetOrIndex", "landingDir", "outDir", "checkpointDir"),
        Seq("threshold", "runSec")) { (spark, a) =>
      val threshold = a.double("threshold", 0.5)
      val corpus = spark.read.parquet(a("corpusParquetOrIndex"))
      val isIndex = corpus.columns.contains("sig")
      val stream = spark.readStream
        .schema(if (isIndex) DocStream else corpus.schema)
        .parquet(a("landingDir"))
      val q =
        if (isIndex) streaming.StreamingAnalytics.nearDupIngestIndexed(
          stream, corpus, "doc_id", "text", a("outDir"), a("checkpointDir"), threshold)
        else streaming.StreamingAnalytics.nearDupIngest(
          stream, corpus, "doc_id", "text", a("outDir"), a("checkpointDir"), threshold)
      println(s"[graft] delta-dedup server on ${a("landingDir")} vs " +
        s"${a("corpusParquetOrIndex")} (index=$isIndex) -> ${a("outDir")}")
      serve(q, a.int("runSec", 0))
    },

    // streaming semantic-dedup tripwire: flag landing embeddings that
    // are semantic dups of the committed corpus (PrepareRun's persisted
    // clustering state) — flags only; runWave is what extends the corpus
    job("stream-semantic-dedup", Seq("prepRunDir", "landingDir", "outDir", "checkpointDir"),
        Seq("tau", "runSec")) { (spark, a) =>
      val prepDir = a("prepRunDir")
      // tau defaults to the COMMITTED run's knob (params-from-markers:
      // a tripwire silently flagging at a different threshold than the
      // corpus was built with would under/over-flag vs runWave)
      val tau = a.opt("tau").map(_.toDouble)
        .orElse(operators.PrepareRun.semanticTauOf(spark, prepDir))
        .getOrElse(0.4)
      val cents = spark.read.parquet(s"$prepDir/semantic_centroids")
        .orderBy("cluster").select("centroid").collect()
        .map(_.getSeq[Float](0).toArray)
      val reps = spark.read.parquet(s"$prepDir/semantic_reps")
      val embSchema = StructType(Seq(StructField("doc_id", LongType),
        StructField("embedding", ArrayType(FloatType))))
      val stream = spark.readStream.schema(embSchema).parquet(a("landingDir"))
      val q = streaming.StreamingAnalytics.semanticDedupIngest(
        stream, cents, reps, "doc_id", a("outDir"), a("checkpointDir"), tau = tau)
      println(s"[graft] semantic-dedup server on ${a("landingDir")} vs $prepDir " +
        s"(k=${cents.length}, tau=$tau) -> ${a("outDir")}")
      serve(q, a.int("runSec", 0))
    },

    // streaming per-source distinct-cardinality monitor: 256 bytes of
    // HLL register state per source (StreamingAnalytics.streamingDistinct,
    // the d48 register semantics), estimates appended per micro-batch —
    // the "is this feed suddenly all duplicates" tripwire
    job("stream-distinct", Seq("landingDir", "outDir", "checkpointDir"), Seq("runSec")) { (spark, a) =>
      import spark.implicits._
      import org.apache.spark.sql.functions.{explode, split, trim}
      val srcSchema = StructType(Seq(
        StructField("source", StringType), StructField("text", StringType)))
      val toks = spark.readStream.schema(srcSchema).parquet(a("landingDir"))
        .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("token"))
        .as[streaming.StreamingAnalytics.SrcTok]
      val q = streaming.StreamServer.appendParquet(streaming.StreamingAnalytics.streamingDistinct(toks).toDF,
        a("outDir"), a("checkpointDir"), Trigger.ProcessingTime("1 second"))
      println(s"[graft] stream-distinct server on ${a("landingDir")} -> ${a("outDir")}")
      serve(q, a.int("runSec", 0))
    },

    // event-driven Split server (the reference's EtlAction=Split on queue
    // events): split each notified blob into size-bounded shards
    job("stream-notify-split", Seq("queueDir", "outDir", "checkpointDir", "maxBytesPerShard"),
        Seq("triggerSec", "runSec"), Seq("header", "gzip")) { (spark, a) =>
      val triggerSec = a.int("triggerSec", 60)
      val q = streaming.StreamingPrePartition.startNotifiedSplit(
        spark, a("queueDir"), a("outDir"), a("checkpointDir"),
        operators.Split.SplitConfig(
          maxBytesPerShard = a("maxBytesPerShard").toLong,
          hasHeader = a.has("header"),
          gzipOutput = a.has("gzip")),
        trigger = Trigger.ProcessingTime(s"$triggerSec seconds"))
      println(s"[graft] split server on ${a("queueDir")} -> ${a("outDir")} (trigger ${triggerSec}s)")
      serve(q, a.int("runSec", 0))
    },

    // streaming as-of enrichment server: join each landing micro-batch
    // of (key, at, ...) events against a static reference table through
    // the native as-of operator; schema for the stream comes from a
    // sample parquet in the landing dir
    job("stream-asof", Seq("refParquet", "landingDir", "outDir", "checkpointDir", "keyCol",
        "timeCol", "valueCols,"), Seq("runSec", "direction", "toleranceUnits")) { (spark, a) =>
      val landingDir = a("landingDir")
      val reference = spark.read.parquet(a("refParquet"))
      val stream = spark.readStream
        .schema(spark.read.parquet(landingDir).schema)
        .parquet(landingDir)
      val q = streaming.StreamingAnalytics.asofEnrich(
        stream, reference, a("keyCol"), a("timeCol"), a("valueCols,").split(",").toSeq,
        a("outDir"), a("checkpointDir"), a.opt("direction").getOrElse("backward"),
        a.long("toleranceUnits", -1L))
      println(s"[graft] asof-enrich server on $landingDir vs ${a("refParquet")} -> ${a("outDir")}")
      serve(q, a.int("runSec", 0))
    },

    // exact heavy hitters over a text column via the Misra-Gries
    // sketch-then-recount pipeline (shuffles k counters per partition,
    // never the token stream)
    job("heavy-hitters", Seq("docsParquet"), Seq("k")) { (spark, a) =>
      import org.apache.spark.sql.functions._
      val k = a.int("k", 256)
      val toks = spark.read.parquet(a("docsParquet"))
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      val Array(row) = toks.agg(count(lit(1)).as("n"),
        functions.AggFunctions.misraGries(col("token"), k).as("c")).collect()
      val (n, cands) = (row.getLong(0), row.getSeq[String](1))
      toks.filter(col("token").isin(cands: _*))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * (k + 1) > n)
        .orderBy(col("cnt").desc, col("token"))
        .show(50, false)
    },

    // train k-means centroids and write (vec_id, cluster) assignments
    job("kmeans", Seq("embeddingsParquet", "outDir"), Seq("k", "iters")) { (spark, a) =>
      import org.apache.spark.sql.functions._
      val k = a.int("k", 16)
      val iters = a.int("iters", 3)
      val e = spark.read.parquet(a("embeddingsParquet"))
      val cents = operators.Similarity.kmeansCentroids(e, k, iters)
      val sims = array(cents.map(c =>
        functions.VectorFunctions.vecCosine(col("embedding"),
          array(c.map(lit(_)).toSeq: _*))).toSeq: _*)
      e.withColumn("cluster",
          array_position(sims, array_max(sims)).cast("long") - 1)
        .select("vec_id", "cluster")
        .write.mode("overwrite").parquet(a("outDir"))
      println(s"[graft] kmeans k=$k iters=$iters: ${a("embeddingsParquet")} -> ${a("outDir")}")
    },

    // one-pass column profile of any parquet table (string-typed view)
    job("profile", Seq("inParquet")) { (spark, a) =>
      import org.apache.spark.sql.functions._
      val df = spark.read.parquet(a("inParquet"))
      val pairs = df.columns
        .map(c => s"'$c', CAST(`$c` AS STRING)").mkString(", ")
      df.select(expr(
          s"stack(${df.columns.length}, $pairs) AS (col_name, value)"))
        .groupBy("col_name")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null"),
          countDistinct(col("value")).as("n_distinct"),
          min(col("value")).as("min_val"), max(col("value")).as("max_val"))
        .orderBy("col_name")
        .show(100, false)
    },

    // JSONL training-data export (one JSON object per line, optional
    // gzip + byte-bounded shards); `export-jsonl in out gzip` needs no limit
    parquetJob("export-jsonl", Seq("inParquet", "outDir"), Seq("limitMB"), Seq("gzip")) { (spark, a) =>
      val limitMb = a.opt("limitMB").map(_.toLong)
      val gz = a.has("gzip")
      operators.Export.toJsonl(spark.read.parquet(a("inParquet")), a("outDir"),
        compressed = gz, sizeLimitBytes = limitMb.map(_ * 1024 * 1024))
      println(s"[graft] export-jsonl ${a("inParquet")} -> ${a("outDir")}" +
        limitMb.map(m => s" (limit ${m}MB)").getOrElse("") +
        (if (gz) " gzip" else ""))
    },

    // cut documents into overlapping token-window chunks (RAG prep)
    job("chunk", Seq("docsParquet", "outDir"), Seq("size", "stride")) { (spark, a) =>
      import org.apache.spark.sql.functions._
      val sz = a.int("size", 64)
      val stride = a.int("stride", sz / 2)
      spark.read.parquet(a("docsParquet"))
        .withColumn("t", split(trim(col("text")), "\\s+"))
        .withColumn("n_chunks",
          ceil(size(col("t")) / lit(stride.toDouble)).cast("int"))
        .select(col("doc_id"), posexplode(
          transform(sequence(lit(0), col("n_chunks") - 1),
            c => array_join(slice(col("t"), c * stride + 1, lit(sz)), " "))))
        .filter(length(col("col")) > 0)
        .select(col("doc_id"), col("pos").as("chunk_id"),
          col("col").as("chunk_text"))
        .write.mode("overwrite").parquet(a("outDir"))
      println(s"[graft] chunks size=$sz stride=$stride: ${a("docsParquet")} -> ${a("outDir")}")
    },

    convert("avro-scan", "glob.avro")(graft.sources.AvroContainer.avroRows),

    // parse CDXJ crawl-index shards (plain or .gz) into a manifest
    convert("cdx-scan", "glob.cdx[.gz]")(graft.sources.CdxSource.cdxFiles(_, _)),

    // selective refetch: decode ONLY the records the index points at —
    // one seek + one gzip member per row, archives never walked
    job("cdx-fetch", Seq("cdxGlob", "warcDir", "outDir")) { (spark, a) =>
      graft.sources.CdxSource.fetchByIndex(spark, a("warcDir"),
          graft.sources.CdxSource.cdxFiles(spark, a("cdxGlob")))
        .write.mode("overwrite").parquet(a("outDir"))
      println(s"[graft] cdx-fetch: ${a("cdxGlob")} over ${a("warcDir")} -> ${a("outDir")}")
    },

    // GENERATE the CDX index of .warc(.gz) archives: one streaming
    // task per archive (measured member/record boundaries), then ONE
    // exchange sorting pointer-sized rows into the globally
    // SURT-ordered shard form that cdx-scan / cdx-fetch consume.
    // `relative-to=<dir>` keeps wave-qualified paths for nested
    // layouts (the streaming export's wave=N dirs repeat basenames)
    job("warc-index", Seq("glob.warc[.gz]", "outDir"),
        flags = Seq("relative-to=<dir>")) { (spark, a) =>
      import spark.implicits._
      val glob = a("glob.warc[.gz]")
      // persist: the sorted write AND the damage count read one parsed
      // pass instead of re-walking every archive (r18 review); the
      // cached rows are pointer-sized, never archive bytes
      val rows = graft.sources.CdxSource.warcIndexFiles(spark, glob,
          relativeTo = a.value("relative-to").orNull)
        .persist()
      rows.filter(col("surt").isNotNull)
        .orderBy("surt", "timestamp")
        .as[(String, String, String, String, Int, String, Long, Long, String)]
        .map { case (s1, ts, u, m, st, d, l, o, f) =>
          graft.sources.CdxSource.renderLine(
            graft.sources.CdxSource.CdxEntry(s1, ts, u, m, st, d, l, o, f))
        }
        .write.mode("overwrite").text(a("outDir"))
      val bad = rows.filter(col("surt").isNull).count()
      rows.unpersist()
      println(s"[graft] warc-index: $glob -> ${a("outDir")}" +
        (if (bad > 0) s" ($bad damaged archives poisoned)" else ""))
    },

    // zipnum build: sorted .cdx shards -> <name>.zn gzip blocks +
    // <name>.idx cluster indexes (one task per shard, O(block) memory)
    job("cdx-cluster", Seq("sortedCdxGlob", "outDir"), Seq("blockSize")) { (spark, a) =>
      val n = graft.sources.CdxSource.writeZipnumFiles(
        spark, a("sortedCdxGlob"), a("outDir"), a.int("blockSize", 3000))
      println(s"[graft] cdx-cluster: ${a("sortedCdxGlob")} -> ${a("outDir")} ($n shards)")
    },

    // point lookup: binary-search the cluster indexes, inflate ONE
    // block per candidate shard, print the matching entries
    job("cdx-lookup", Seq("clusterDir", "url")) { (spark, a) =>
      val hits = graft.sources.CdxSource.zipnumLookupDir(spark, a("clusterDir"), a("url"))
      if (hits.isEmpty) println(s"[graft] cdx-lookup: no captures of ${a("url")}")
      else hits.sortBy(_.timestamp).foreach { e =>
        println(s"[graft] ${e.timestamp} ${e.url} ${e.status} " +
          s"${e.filename}@${e.offset}+${e.length}")
      }
    },

    // cross-archive dedup bridge: revisit records join the GENERATED
    // index on payload digest, originals fetch by pointer — pages
    // recovered without refetching the live site
    job("resolve-revisits", Seq("glob.warc[.gz]", "warcDir", "outDir")) { (spark, a) =>
      val (warcGlob, outDir) = (a("glob.warc[.gz]"), a("outDir"))
      val out = graft.sources.CdxSource.resolveRevisits(spark, a("warcDir"),
        graft.sources.WarcSource.warcRevisits(spark, warcGlob),
        graft.sources.CdxSource.warcIndexFiles(spark, warcGlob))
      out.write.mode("overwrite").parquet(outDir)
      val unresolved = spark.read.parquet(outDir)
        .filter(col("resolved_from").isNull).count()
      println(s"[graft] resolve-revisits: $warcGlob -> $outDir" +
        (if (unresolved > 0) s" ($unresolved unresolved)" else ""))
    },

    // materialize Common-Crawl-shaped .warc.wat[.gz] metadata fixtures
    fixtures("wat-demo", "warc.wat.gz", "warc.wat")(graft.sources.WatSource.synthesizeWat),

    // metadata envelopes (uri/title/links/status) per capture
    convert("wat-scan", "glob.wat[.gz]")(graft.sources.WatSource.watFiles(_, _)),

    // index-driven corpus build: admit from the INDEX (status 200,
    // text/html), fetch one member per admitted row, land in the
    // documents-table shape — archives are never scanned
    job("corpus-from-cdx", Seq("cdxGlob", "warcDir", "outDir")) { (spark, a) =>
      graft.sources.CdxSource.corpusFromCdx(spark, a("warcDir"),
          graft.sources.CdxSource.cdxFiles(spark, a("cdxGlob")))
        .write.mode("overwrite").parquet(a("outDir"))
      println(s"[graft] corpus-from-cdx: ${a("cdxGlob")} over ${a("warcDir")} -> ${a("outDir")}")
    },

    // materialize .warc[.gz] fixtures WITH their measured CDX index
    job("cdx-demo", Seq("docsParquet", "outDir")) { (spark, a) =>
      val outDir = a("outDir")
      new java.io.File(outDir).mkdirs()
      spark.read.parquet(a("docsParquet"))
        .select(col("doc_id"), col("text"))
        .collect().foreach { r =>
          val id = r.getLong(0); val text = r.getString(1)
          val ext = if (id % 2 == 0) "warc.gz" else "warc"
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"d$id.$ext"),
            graft.sources.WarcSource.warcOf(id, text))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"d$id.cdx"),
            graft.sources.CdxSource.cdxOf(id, text).getBytes("UTF-8"))
        }
      println(s"[graft] cdx-demo: ${a("docsParquet")} -> $outDir")
    },

    // crawl -> corpus bridge: extracted 200-status pages become rows in
    // the documents-table shape (doc_id, text, lang, source, n_chars),
    // so corpus-prep / prepare-run consume a crawl unchanged. Stable ids
    // from the URI hash; identical re-fetches collapse here, NEAR-dups
    // are downstream dedup's job.
    job("corpus-from-warc", Seq("glob.warc[.gz]", "docsOutDir"),
        flags = Seq("strict", "main")) { (spark, a) =>
      val (glob, outDir) = (a("glob.warc[.gz]"), a("docsOutDir"))
      val lenient = !a.has("strict")
      val mainContent = a.has("main") // x106 link-density extractor
      // ONE archive walk serves both the corpus write and the degrade
      // report (r18 review: an uncached second warcFiles pass re-decoded
      // the whole glob just to count reasons); strict mode has no second
      // consumer, so it skips the cache entirely
      val pages0 = graft.sources.WarcSource
        .warcFiles(spark, glob, lenient, mainContent)
      val pages = if (lenient) pages0.persist() else pages0
      graft.sources.WarcSource.crawlDocsFrom(spark, pages)
        .write.mode("overwrite").parquet(outDir)
      // honest degrade accounting: pages the lenient walk kept as
      // envelopes but could not give a body (coding:br is the big
      // real-crawl population) are REPORTED per reason, never silent
      if (lenient) {
        val byReason = pages
          .filter(col("degraded").isNotNull)
          .groupBy("degraded").count()
          .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}")
        if (byReason.nonEmpty)
          println(s"[graft] corpus-from-warc degraded: " +
            byReason.sorted.mkString(", "))
      }
      pages.unpersist()
      println(s"[graft] corpus-from-warc: $glob -> $outDir" +
        (if (mainContent) " (main-content)" else ""))
    },

    // corpus bridge over DEDUP-WRITTEN archives: full responses PLUS
    // revisit records reconstituted to their original's text (the
    // x125 pieces composed) — a digest-deduped crawl reads as if
    // every capture were stored full
    job("corpus-from-warc-resolved", Seq("glob.warc[.gz]", "warcDir", "docsOutDir"),
        flags = Seq("strict")) { (spark, a) =>
      val (glob, outDir) = (a("glob.warc[.gz]"), a("docsOutDir"))
      graft.sources.WarcSource.crawlDocsResolved(spark, a("warcDir"), glob, !a.has("strict"))
        .write.mode("overwrite").parquet(outDir)
      val n = spark.read.parquet(outDir).count()
      println(s"[graft] corpus-from-warc-resolved: $glob -> $outDir ($n docs)")
    },

    // materialize Common-Crawl-shaped .warc.wet[.gz] fixtures
    fixtures("wet-demo", "warc.wet.gz", "warc.wet")(graft.sources.WarcSource.synthesizeWet),

    // the EXPORT side of the WET surface: corpus -> sharded
    // .warc.wet.gz archives (warcinfo lead + conversion record per
    // doc, gzip member-per-record), the interchange format every
    // Common-Crawl consumer ingests; re-ingest with corpus-from-wet
    job("wet-write", Seq("docsParquet", "outDir"), Seq("nShards"), Seq("plain")) { (spark, a) =>
      val nShards = a.int("nShards", 8)
      val gzip = !a.has("plain")
      val n = graft.sources.WarcSource.writeWet(
        spark.read.parquet(a("docsParquet")), a("outDir"), nShards, gzip)
      println(s"[graft] wet-write: ${a("docsParquet")} -> ${a("outDir")} " +
        s"($n docs, $nShards shards, gzip=$gzip)")
    },

    // continuous archive export: parquet docs land, each micro-batch
    // exports as its own wave of WET shards (idempotent on replay —
    // deterministic bytes + first-wins rename)
    job("stream-wet-write", Seq("landingDir", "outDir", "checkpointDir"),
        Seq("nShards", "runSec")) { (spark, a) =>
      val docSchema = StructType(Seq(StructField("doc_id", LongType),
        StructField("source", StringType), StructField("text", StringType)))
      val stream = spark.readStream.schema(docSchema).parquet(a("landingDir"))
      val q = streaming.StreamingAnalytics.wetExportIngest(
        stream, a("outDir"), a("checkpointDir"), a.int("nShards", 4))
      println(s"[graft] wet-export server on ${a("landingDir")} -> ${a("outDir")}")
      serve(q, a.int("runSec", 0))
    },

    // continuous response-record export: page rows land, each
    // micro-batch becomes its own wave of .warc.gz archives.
    // `dedup`: cross-wave digest dedup through the persisted
    // digest-index — repeats become revisit records
    job("stream-warc-write", Seq("landingDir", "outDir", "checkpointDir"),
        Seq("nShards", "runSec"), Seq("dedup")) { (spark, a) =>
      val nShards = a.int("nShards", 4)
      val pageSchema = StructType(Seq(
        StructField("uri", StringType),
        // LONG, not INT: schema-declared parquet streaming reads are
        // strict about physical integer width, and foreign producers
        // (pandas included) default to int64 — writeWarc casts down
        StructField("status", LongType),
        StructField("content_type", StringType),
        StructField("body", BinaryType)))
      val stream = spark.readStream.schema(pageSchema).parquet(a("landingDir"))
      val q =
        if (a.has("dedup"))
          streaming.StreamingAnalytics.warcExportDedupIngest(
            stream, a("outDir"), a("checkpointDir"), nShards)
        else streaming.StreamingAnalytics.warcExportIngest(
          stream, a("outDir"), a("checkpointDir"), nShards)
      println(s"[graft] warc-export server on ${a("landingDir")} -> ${a("outDir")}" +
        (if (a.has("dedup")) " (dedup)" else ""))
      serve(q, a.int("runSec", 0))
    },

    // response-record archive export: pages (uri, status,
    // content_type, body) -> sharded .warc.gz with real SHA-1 payload
    // digests — archives warc-index can index and cdx-fetch can
    // point-fetch. `from-docs` adapts a documents table (uri from
    // source/doc_id, status 200, text/plain body) for corpus export.
    job("warc-write", Seq("pagesParquet", "outDir"), Seq("nShards"),
        Seq("plain", "from-docs", "dedup", "requests")) { (spark, a) =>
      val nShards = a.int("nShards", 8)
      val gzip = !a.has("plain")
      val in = spark.read.parquet(a("pagesParquet"))
      val pages =
        if (!a.has("from-docs")) in
        else in.selectExpr(
          "concat('http://', source, '/graft/', doc_id) AS uri",
          "200 AS status",
          "'text/plain; charset=utf-8' AS content_type",
          "encode(text, 'UTF-8') AS body")
      // `dedup`: CC-shaped digest dedup — first URI per payload digest
      // writes the full response, repeats write revisit records
      // (resolve-revisits reconstitutes them). `requests`: interleave
      // request records paired by WARC-Concurrent-To.
      val n = graft.sources.WarcSource.writeWarc(pages, a("outDir"), nShards,
        gzip, dedupDigests = a.has("dedup"), requests = a.has("requests"))
      println(s"[graft] warc-write: ${a("pagesParquet")} -> ${a("outDir")} " +
        s"($n pages, $nShards shards, gzip=$gzip" +
        (if (a.has("dedup")) ", dedup" else "") +
        (if (a.has("requests")) ", requests" else "") + ")")
    },

    // WET conversion records -> documents-table shape (text already
    // extracted upstream; no HTML stage)
    job("corpus-from-wet", Seq("glob.wet*", "outParquet"), flags = Seq("strict")) { (spark, a) =>
      graft.sources.WarcSource.wetDocs(spark, a("glob.wet*"), !a.has("strict"))
        .write.mode("overwrite").parquet(a("outParquet"))
      println(s"[graft] corpus-from-wet: ${a("glob.wet*")} -> ${a("outParquet")}")
    },

    // continuous selective refetch: cdx shards land, their pointers
    // fetch one member each out of warcDir, exactly-once per shard
    job("stream-cdx-fetch", Seq("cdxLandingDir", "warcDir", "outDir", "checkpointDir"),
        Seq("runSec")) { (spark, a) =>
      val q = streaming.StreamingAnalytics.cdxFetchIngest(
        spark, a("cdxLandingDir"), a("warcDir"), a("outDir"), a("checkpointDir"))
      println(s"[graft] cdx-fetch server on ${a("cdxLandingDir")} over ${a("warcDir")} -> ${a("outDir")}")
      serve(q, a.int("runSec", 0))
    },

    archiveServer("stream-warc-extract", 0)(streaming.StreamingAnalytics.warcIngest(_, _, _, _)),

    convert("mkv-scan", "glob.mkv|.webm")(graft.sources.MkvSource.mkvFiles),

    convert("tar-scan", "glob.tar[.gz]")(graft.sources.TarSource.tarFiles),

    // materialize .zip fixtures (mixed stored/deflate, some commented)
    fixtures("zip-demo", "zip", "zip")(sources.ZipSource.synthesizeZip),

    // central-directory manifest of every archive under the glob,
    // each entry decoded + CRC-verified
    convert("zip-scan", "glob.zip")(sources.ZipSource.zipFiles),

    // continuous ZIP-shard ingestion server (completes the trio next
    // to stream-warc-extract and stream-tar-scan)
    archiveServer("stream-zip-scan", 15)(streaming.StreamingAnalytics.zipIngest(_, _, _, _)),

    // continuous WebDataset-shard ingestion server (tar sibling of
    // stream-warc-extract); runSec bounds the demo run
    archiveServer("stream-tar-scan", 15)(streaming.StreamingAnalytics.tarIngest(_, _, _, _)),

    // continuous WAT-metadata ingestion server (the wat sibling of
    // stream-warc-extract); runSec bounds the demo run
    archiveServer("stream-wat-scan", 15)(streaming.StreamingAnalytics.watIngest(_, _, _, _)),

    convert("mkv-meta", "mediaParquet") { (spark, in) =>
      graft.sources.MkvSource.mkvTable(spark, spark.read.parquet(in))
    },

    convert("mkv-meta-demo", "docsParquet") { (spark, in) =>
      graft.sources.MkvSource.mkvTable(spark,
        graft.sources.MkvSource.synthesizeMkv(spark, spark.read.parquet(in)))
    },

    // MP3 frame walk over the deterministic fixture corpus: `frames`
    // (default) writes the per-frame segment table, `summary` the
    // per-file totals + VBR header claims
    job("mp3-meta-demo", Seq("docsParquet", "outDir"), flags = Seq("frames", "summary")) { (spark, a) =>
      val media = graft.sources.Mp3Source.synthesizeMp3(
        spark, spark.read.parquet(a("docsParquet")))
      val out =
        if (a.has("summary")) graft.sources.Mp3Source.mp3Meta(spark, media)
        else graft.sources.Mp3Source.mp3Frames(spark, media)
      out.write.mode("overwrite").parquet(a("outDir"))
      println(s"[graft] mp3-meta-demo: ${a("docsParquet")} -> ${a("outDir")}" +
        (if (a.has("summary")) " (summary)" else " (frames)"))
    },

    fixtures("warc-demo", "warc.gz", "warc")(graft.sources.WarcSource.synthesizeWarc),

    convert("warc-extract", "glob.warc[.gz]")(graft.sources.WarcSource.warcFiles(_, _)),

    local("orc-footer", Seq("file.orc"), repeated = true) { a =>
      a.repeated.foreach { p =>
        val t = graft.sources.OrcFooter.readTail(p)
        println(s"$p: codec=${t.compression} rows=${t.nRows} " +
          s"types=${t.typeKinds.size} stripes=${t.stripes.size} " +
          s"writerVersion=${t.writerVersion}")
        t.rootFields.zipWithIndex.foreach { case (c, i) =>
          val st = t.stats(i + 1)
          val ints = st.ints.map(s =>
            s" int[${s.min.getOrElse("-")},${s.max.getOrElse("-")}] " +
              s"sum=${s.sum.getOrElse("-")}").getOrElse("")
          println(f"  $c%-24s values=${st.values}%-9d$ints")
        }
      }
    },

    local("parquet-prune", Seq("file.parquet", "intColumn", "lo", "hi")) { a =>
      val plan = graft.sources.ParquetFooter.pruneRowGroups(
        a("file.parquet"), a("intColumn"), a("lo").toLong, a("hi").toLong)
      plan.foreach { p =>
        val st = (p.mn, p.mx) match {
          case (Some(lo), Some(hi)) => s"[$lo,$hi]"
          case _ => "[no stats]"
        }
        println(f"rg${p.rgIdx}%-4d rows=${p.numRows}%-8d off=${p.startOffset}%-10d " +
          f"bytes=${p.totalCompressed}%-9d $st%-22s ${if (p.keep) "SCAN" else "prune"}")
      }
      val kept = plan.filter(_.keep)
      println(s"[graft] ${kept.size}/${plan.size} row groups survive: " +
        s"${kept.map(_.totalCompressed).sum} of " +
        s"${plan.map(_.totalCompressed).sum} compressed bytes")
    },

    // scan-planner's view of a parquet file: footer-only read (tail KBs,
    // never data pages) via our own thrift-compact decoder
    local("parquet-footer", Seq("file.parquet"), repeated = true) { a =>
      a.repeated.foreach { p =>
        val f = graft.sources.ParquetFooter.readFooter(p)
        println(s"$p: rows=${f.numRows} rowGroups=${f.rowGroups.size} " +
          s"createdBy='${f.createdBy}'")
        f.rowGroups.zipWithIndex.foreach { case (rg, i) =>
          println(f"  rg$i: rows=${rg.numRows} bytes=${rg.totalByteSize}")
          rg.columns.foreach { c =>
            val stats = (c.minI64, c.maxI64) match {
              case (Some(mn), Some(mx)) => s" min=$mn max=$mx"
              case _ => ""
            }
            println(f"    ${c.pathInSchema.mkString(".")}%-28s " +
              f"${graft.sources.ParquetFooter.physName(c.physType)}%-10s " +
              f"${graft.sources.ParquetFooter.codecName(c.codec)}%-8s " +
              f"n=${c.numValues} comp=${c.totalCompressed} " +
              f"unc=${c.totalUncompressed} off=${c.dataPageOffset}$stats")
          }
        }
      }
    },

    // media metadata sweep: parse image containers (PNG chunk walk /
    // JPEG marker walk, no pixel decode) out of a binary column. The
    // input is any parquet with (doc_id, content) — for a quick drive,
    // `image-meta-demo` synthesizes the fixture corpus first.
    job("image-meta", Seq("mediaParquet", "outDir"), Seq("format")) { (spark, a) =>
      val fmt = a.opt("format").getOrElse("png")
      val media = spark.read.parquet(a("mediaParquet"))
      val out = fmt match {
        case "png" => graft.operators.ImageCodecs.pngMetaTable(spark, media)
        case "jpeg" => graft.operators.ImageCodecs.jpegMetaTable(spark, media)
        case "gif" => graft.sources.GifSource.gifTable(spark, media)
        case "tiff" => graft.sources.TiffSource.tiffTable(spark, media)
        case "webp" => graft.sources.WebpSource.webpTable(spark, media)
        case "webp-pixels" =>
          graft.sources.WebpSource.webpPixelTable(spark, media)
        case other => sys.error(s"image-meta: unknown format $other")
      }
      out.write.mode("overwrite").parquet(a("outDir"))
      println(s"[graft] image-meta ($fmt): ${a("mediaParquet")} -> ${a("outDir")}")
    },

    job("image-meta-demo", Seq("docsParquet", "outDir"), Seq("format")) { (spark, a) =>
      val fmt = a.opt("format").getOrElse("png")
      val docs = spark.read.parquet(a("docsParquet"))
      val media = fmt match {
        case "png" => graft.operators.ImageCodecs.synthesizePng(spark, docs)
        case "jpeg" => graft.operators.ImageCodecs.synthesizeJpeg(spark, docs)
        case "gif" => graft.sources.GifSource.synthesizeGif(spark, docs)
        case "tiff" => graft.sources.TiffSource.synthesizeTiff(spark, docs)
        case "webp" | "webp-pixels" =>
          graft.sources.WebpSource.synthesizeWebp(spark, docs)
        case other => sys.error(s"image-meta-demo: unknown format $other")
      }
      media.write.mode("overwrite").parquet(a("outDir"))
      println(s"[graft] image-meta-demo ($fmt): ${docs.count()} docs -> ${a("outDir")}")
    }
  )
}
