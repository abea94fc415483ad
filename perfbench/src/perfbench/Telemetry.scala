package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Minimal JSON rendering for the result line, the record and the spans:
  * maps keep insertion order, numbers keep all their digits.
  */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < 0x20 => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

object Host {
  /** Time the hypervisor took from this machine's CPUs, summed over
    * CPUs: the eighth field of the `cpu` line of /proc/stat, in clock
    * ticks of 10 ms. 0 where there is no such file.
    */
  def stealNs(): Long = try {
    val f = new java.io.RandomAccessFile("/proc/stat", "r")
    try f.readLine().trim.split("\\s+")(8).toLong * 10000000L finally f.close()
  } catch { case _: Exception => 0L }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest of p95/p90/p75/p50 that leaves at least ten samples above
    * it (the median when there are too few samples for any of them).
    * Returns (percentile, value).
    */
  def highPercentile(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val n = s.length
    val p = Seq(95, 90, 75).find(p => n - math.ceil(n * p / 100.0) >= 10)
      .getOrElse(50)
    if (p == 50) (50, median(s))
    else (p, s(math.min(n - 1, math.ceil(n * p / 100.0).toInt - 1)))
  }
}

/** One traced interval. `parent` names the span this one was recorded
  * under; `child` names the span whose time this span contains without
  * nesting in wall-clock time (a plan prefix forced as its own job).
  */
case class Span(id: Int, name: String, start: Long, end: Long,
                parent: Option[Int], child: Option[Int], run: String) {
  def seconds: Double = (end - start) / 1e9
}

/** Keeps spans in memory; written out once when the run ends. */
final class Tracer(val run: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](name: String, child: Option[Span] = None)(body: => T): (T, Span) = {
    val id = spans.size
    spans += null // reserve the id so nested spans number after it
    val parent = open.headOption
    open = id :: open
    val t0 = System.nanoTime()
    try {
      val r = body
      val s = Span(id, name, t0, System.nanoTime(), parent, child.map(_.id), run)
      spans(id) = s
      (r, s)
    } finally open = open.tail
  }

  /** Records an interval measured elsewhere (a streaming batch). */
  def add(name: String, start: Long, end: Long): Span = {
    val s = Span(spans.size, name, start, end, open.headOption, None, run)
    spans += s
    s
  }

  def all: Seq[Span] = spans.filter(_ != null).toSeq

  /** Duration minus the time of the spans nested in it and of its child
    * prefix span.
    */
  def selfSeconds(s: Span): Double = {
    val nested = all.filter(_.parent.contains(s.id)).map(_.seconds).sum
    val prefix = s.child.map(c => all(c).seconds).getOrElse(0.0)
    s.seconds - nested - prefix
  }

  def write(path: java.nio.file.Path, epochNanosAtStart: Long): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = all.map { s =>
      Json.render(scala.collection.mutable.LinkedHashMap(
        "id" -> s.id, "name" -> s.name, "run" -> s.run,
        "start_ns" -> (s.start + epochNanosAtStart), "end_ns" -> (s.end + epochNanosAtStart),
        "parent" -> s.parent, "child" -> s.child, "self_s" -> selfSeconds(s)))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Task-level totals of the Spark jobs run under one tag. */
final class Totals {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var taskS = 0.0; var cpuS = 0.0; var gcS = 0.0; var deserS = 0.0
  var mapTaskS = 0.0; var reduceTaskS = 0.0
  var shuffleWriteB = 0L; var shuffleReadB = 0L; var fetchWaitS = 0.0
  var spillB = 0L; var inputB = 0L; var outputB = 0L

  def +=(o: Totals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    taskS += o.taskS; cpuS += o.cpuS; gcS += o.gcS; deserS += o.deserS
    mapTaskS += o.mapTaskS; reduceTaskS += o.reduceTaskS
    shuffleWriteB += o.shuffleWriteB; shuffleReadB += o.shuffleReadB
    fetchWaitS += o.fetchWaitS; spillB += o.spillB; inputB += o.inputB
    outputB += o.outputB
  }
}

/** Benchmark-side scheduler listener: totals per value of the
  * `perfbench.tag` local property, which the benchmark sets around each
  * timed call. Jobs run with no tag (checks, housekeeping) are not counted.
  */
final class TaskListener extends SparkListener {
  val Tag = "perfbench.tag"
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, Totals]()

  private def of(tag: String): Totals = totals.computeIfAbsent(tag, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tag))).foreach { tag =>
      of(tag).synchronized { of(tag).jobs += 1 }
      e.stageIds.foreach(id => stageTag.put(id, tag))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageTag.get(e.stageInfo.stageId)).foreach { tag =>
      val t = of(tag); t.synchronized { t.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageTag.get(e.stageId)).foreach { tag =>
      val t = of(tag)
      t.synchronized {
        t.tasks += 1
        if (e.reason != org.apache.spark.Success) t.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          val run = m.executorRunTime / 1e3
          t.taskS += run
          t.cpuS += m.executorCpuTime / 1e9
          t.gcS += m.jvmGCTime / 1e3
          t.deserS += m.executorDeserializeTime / 1e3
          if (e.taskType == "ShuffleMapTask") t.mapTaskS += run else t.reduceTaskS += run
          t.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          t.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          t.fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1e3
          t.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          t.inputB += m.inputMetrics.bytesRead
          t.outputB += m.outputMetrics.bytesWritten
        }
      }
    }

  /** Totals of every tag accepted by `keep`, after all events arrived. */
  def sum(sc: org.apache.spark.SparkContext)(keep: String => Boolean): Totals = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    val out = new Totals
    totals.forEach((tag, t) => if (keep(tag)) t.synchronized { out += t })
    out
  }
}
