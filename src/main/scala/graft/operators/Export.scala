package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** B9 — bulk CSV export (reference: `.export async [compressed] to csv(...)
  * with (sizeLimit=..., namePrefix=..., distribution="single",
  * includeHeaders=...)`, TestBase.cs:389-410).
  *
  *   distribution="single"  → coalesce(1): one writer, one file
  *   includeHeaders all/none → option("header", ...)
  *   compressed             → option("compression", "gzip")
  *   sizeLimit              → approximated with maxRecordsPerFile derived
  *                            from an avg-row-size sample (the reference
  *                            limit is also approximate: it seals after
  *                            crossing the limit)
  *   async + operation tracking → `toCsvAsync` returns an operation id;
  *                            `operations(spark)` is the `.show operations
  *                            (ids)` analogue (reference polls it,
  *                            code/IntegrationTests/OperationManager.cs:109-141)
  */
object Export {

  def toCsv(df: DataFrame, destDir: String,
            includeHeaders: Boolean = true,
            compressed: Boolean = false,
            sizeLimitBytes: Option[Long] = None,
            single: Boolean = true): Unit = {
    val base = if (single) df.coalesce(1) else df
    var w = base.write.mode("overwrite").option("header", includeHeaders)
    if (compressed) w = w.option("compression", "gzip")
    sizeLimitBytes.foreach { limit =>
      // sample-derived rows-per-file bound (pre-compression, like the ref)
      val stats = df.limit(1000).select(
        count(lit(1)).as("n"),
        sum(length(concat_ws(",", df.columns.toIndexedSeq.map(col): _*))).as("bytes"))
        .collect()(0)
      val n = stats.getLong(0)
      val avgRow = if (n == 0) 100L else stats.getLong(1) / n + 1
      w = w.option("maxRecordsPerFile", math.max(1L, limit / avgRow))
    }
    w.csv(destDir)
  }

  /** JSONL export — the interchange format training pipelines consume
    * (one JSON object per line; gzip optional). Same size-bounding
    * approach as `toCsv` (sample-derived rows-per-file, pre-compression),
    * with the JSON overhead estimated from the actual serialized form of
    * the sample rather than the raw column bytes — `to_json(struct(*))`
    * is exactly what the writer emits per line.
    */
  def toJsonl(df: DataFrame, destDir: String,
              compressed: Boolean = false,
              sizeLimitBytes: Option[Long] = None,
              single: Boolean = false): Unit = {
    val base = if (single) df.coalesce(1) else df
    var w = base.write.mode("overwrite")
    if (compressed) w = w.option("compression", "gzip")
    sizeLimitBytes.foreach { limit =>
      val stats = df.limit(1000).select(
        count(lit(1)).as("n"),
        sum(length(to_json(struct(df.columns.toIndexedSeq.map(col): _*))))
          .as("bytes"))
        .collect()(0)
      val n = stats.getLong(0)
      val avgRow = if (n == 0) 100L else stats.getLong(1) / n + 1
      w = w.option("maxRecordsPerFile", math.max(1L, limit / avgRow))
    }
    w.json(destDir)
  }

  // ---------------------------------------------------------------- async

  /** One tracked operation (reference `.show operations` row shape:
    * OperationId, State InProgress/Completed/Failed, Status detail).
    */
  private final case class Op(opId: String, kind: String, dest: String,
                              startedAt: java.sql.Timestamp,
                              @volatile var state: String = "InProgress",
                              @volatile var status: String = "",
                              @volatile var finishedAt: java.sql.Timestamp = null)

  private val ops = new java.util.concurrent.ConcurrentHashMap[String, Op]()

  /** Bound on tracked operations: when exceeded, the oldest TERMINAL
    * (Completed/Failed) ops are evicted so a long-lived session doesn't
    * accumulate one entry per export forever. In-progress ops are never
    * evicted. Mirrors the reference's server-side operations table, which
    * is also retention-bounded.
    */
  private val MaxTrackedOps = 1024

  /** Export concurrency bound — the reference gates on `.show capacity
    * data-export` (ExportManager.cs:55-65); a fixed pool is our analogue.
    * Excess exports queue rather than competing for the Spark scheduler.
    */
  private val ExportCapacity = 8

  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    ExportCapacity,
    (r: Runnable) => {
      val t = new Thread(r, "graft-export"); t.setDaemon(true); t
    })
  private implicit val ec: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(pool)

  private def evictTerminalIfOverCap(): Unit = if (ops.size > MaxTrackedOps) {
    import scala.jdk.CollectionConverters._
    ops.values.asScala.toSeq
      .filter(o => o.state == "Completed" || o.state == "Failed")
      .sortBy(_.startedAt.getTime)
      .take(math.max(0, ops.size - MaxTrackedOps))
      .foreach(o => ops.remove(o.opId))
  }

  /** `.export async`: kicks the export off on a background thread and
    * returns its operation id immediately. Poll with `operations(spark)`
    * or `operationState(opId)` until Completed/Failed (the reference's
    * OperationManager poll loop).
    */
  def toCsvAsync(df: DataFrame, destDir: String,
                 includeHeaders: Boolean = true,
                 compressed: Boolean = false,
                 sizeLimitBytes: Option[Long] = None,
                 single: Boolean = true): String = {
    val opId = java.util.UUID.randomUUID().toString
    val op = Op(opId, "DataExportToCsv", destDir,
      new java.sql.Timestamp(System.currentTimeMillis()))
    ops.put(opId, op)
    evictTerminalIfOverCap()
    scala.concurrent.Future {
      toCsv(df, destDir, includeHeaders, compressed, sizeLimitBytes, single)
    }.onComplete {
      case scala.util.Success(_) =>
        op.state = "Completed"; op.status = destDir
        op.finishedAt = new java.sql.Timestamp(System.currentTimeMillis())
      case scala.util.Failure(e) =>
        op.state = "Failed"; op.status = String.valueOf(e.getMessage)
        op.finishedAt = new java.sql.Timestamp(System.currentTimeMillis())
    }(scala.concurrent.ExecutionContext.parasitic)
    // ^ the state flip runs on the completing thread, NOT queued on the
    //   bounded export pool — under a full queue the callback would wait
    //   behind pending exports and finished ops would poll as InProgress
    opId
  }

  /** Current state of one operation, or None if unknown. */
  def operationState(opId: String): Option[String] =
    Option(ops.get(opId)).map(_.state)

  /** `.show operations` — the queryable op-status frame. Driver-side state
    * is a handful of rows (one per export this session), not data-scale.
    */
  def operations(spark: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    ops.values.asScala.toSeq
      .map(o => (o.opId, o.kind, o.dest, o.state, o.status,
        o.startedAt, Option(o.finishedAt)))
      .toDF("operation_id", "operation", "destination", "state", "status",
        "started_at", "finished_at")
      .orderBy("started_at", "operation_id")
  }
}
