package graft.streaming

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import graft.operators.ShardSink
import graft.sources.StreamUtil
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** File-notification streaming source — the Spark-native analogue of the
  * reference's Service Bus blob-created events
  * (KustoPreForgeServiceBus/ServiceBusServer.cs:13-95): a landing agent
  * PUBLISHES one sequence-numbered notification file per landed blob, and
  * the stream consumes notifications by sequence number.
  *
  * Why not the built-in file source: `readStream.text(landingDir)` LISTS
  * the landing directory every trigger — O(all files ever landed) per
  * trigger, which at >1 M processed blobs dominates the micro-batch. Here
  * the consumer's `latestOffset` probes `queueDir/n-<seq+1>`,
  * `n-<seq+2>`, ... with `fs.exists` and stops at the first miss:
  * ONE probe per idle trigger, O(new notifications) otherwise —
  * independent of history, the same O(1)-per-trigger discipline as the
  * sink-side `_batch_manifest` marker.
  *
  * Queue protocol (multi-producer safe, gap-free):
  *   - a producer claims seq s by writing a tmp file and RENAMING it to
  *     `n-<s>` — rename is atomic and fails if `n-<s>` exists, so a claim
  *     either becomes fully visible or not at all (no partial reads, and a
  *     crashed producer leaves no gap that would stall the probe);
  *   - on rename failure (another producer won s) it retries with s+1.
  *   - notification content = landed blob paths, one per line.
  *
  * Emits the referenced blobs' LINES as a single `value STRING` column —
  * a drop-in replacement for `readStream.text`, so the existing
  * `StreamingPrePartition.processBatch` exactly-once machinery plugs in
  * unchanged. Gzip blobs are decoded by suffix.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft-notify")
  *     .option("queueDir", dir).option("maxFilesPerTrigger", 16).load()
  * }}}
  */
class NotifySource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-notify"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NotifySource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new NotifyTable(properties.asScala.toMap)
}

object NotifySource {
  val schema: StructType = StructType(Seq(StructField("value", StringType)))
  private[streaming] def seqFile(seq: Long): String = f"n-$seq%012d"
}

/** Producer side: publish landed-blob notifications into the queue dir.
  *
  * Two claim protocols:
  *
  * `publish` (rename mode) — claims seq s by atomic no-overwrite rename.
  * FILESYSTEM REQUIREMENT: rename must REFUSE an existing destination
  * (returns false, first writer wins) — HDFS, ABFS, and Hadoop's
  * checksummed LocalFileSystem all do. Object stores without atomic
  * rename (S3A emulates rename as copy+delete and OVERWRITES) break this:
  * two producers racing for the same seq would both "succeed" and one
  * notification would be silently lost.
  *
  * `publishSpool` (spool mode, object-store safe) — producers never
  * contend: each writes a UNIQUELY-named entry under `queueDir/spool/`
  * (tmp + rename to a fresh name = atomic PUT/copy visibility on every
  * store; no destination ever pre-exists, so overwrite-allowed rename is
  * harmless). The CONSUMER's driver — exactly one per stream, so a
  * natural single sequencer — assigns sequence numbers at trigger time
  * (`option("claimMode", "spool")`): it lists ONLY the pending spool
  * entries (O(backlog), not O(history) — sequenced entries leave the
  * spool), renames each to the next `n-<seq>` (sole sequencer => the
  * destination never exists), and the probe-by-seq consumption path runs
  * unchanged. A sequencer crash mid-assignment re-sequences the remaining
  * spool entries on the next trigger — rename moved the assigned ones
  * out, so nothing is lost or doubled.
  */
object NotifyQueue {
  private[streaming] val SpoolDir = "spool"

  /** Object-store-safe publish: a uniquely-named spool entry, sequenced
    * later by the consuming stream's driver (claimMode=spool). Returns the
    * spool entry name.
    */
  def publishSpool(spark: SparkSession, queueDir: String,
                   dataPaths: Seq[String]): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val spool = new Path(new Path(queueDir), SpoolDir)
    val fs = ShardSink.fileSystem(spool, conf)
    fs.mkdirs(spool)
    val name = s"u-${java.util.UUID.randomUUID()}"
    // tmp + rename-to-fresh-name: readers (the sequencer's list) never see
    // a partially-written entry, and no destination ever pre-exists so
    // this is safe on overwrite-allowed renames too
    val tmp = new Path(spool, s"_tmp-$name")
    val out = fs.create(tmp, false)
    try out.write((dataPaths.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, new Path(spool, name)))
      throw new java.io.IOException(s"notify spool publish failed: $name")
    name
  }

  /** Sequencer step (single caller per queue — the consuming stream's
    * driver): assign pending spool entries the next sequence numbers.
    * `tail` = highest already-assigned seq (-1 if none); returns the new
    * tail. Deterministic order: (modification time, name).
    */
  private[graft] def sequenceSpool(fs: org.apache.hadoop.fs.FileSystem,
                                       dir: Path, tail: Long): Long = {
    val spool = new Path(dir, SpoolDir)
    if (!fs.exists(spool)) return tail // one probe on queues never spooled to
    val pending = fs.listStatus(spool)
      .filter(_.getPath.getName.startsWith("u-"))
      .sortBy(f => (f.getModificationTime, f.getPath.getName))
    var seq = tail
    pending.foreach { f =>
      val dest = new Path(dir, NotifySource.seqFile(seq + 1))
      if (!fs.rename(f.getPath, dest))
        throw new java.io.IOException(
          s"notify sequencer failed: ${f.getPath} -> $dest")
      seq += 1
    }
    seq
  }
  /** Atomically append one notification naming `dataPaths`; returns the
    * claimed sequence number. `seqHint` lets a long-lived producer skip
    * the probe-from-zero (pass last claimed + 1).
    */
  def publish(spark: SparkSession, queueDir: String,
              dataPaths: Seq[String], seqHint: Long = 0L): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(queueDir)
    val fs = ShardSink.fileSystem(dir, conf)
    fs.mkdirs(dir)
    // A hint AHEAD of the queue tail would claim a number past a gap and
    // stall the consumer (its probe stops at the first missing seq
    // forever): accept the hint only when its predecessor is claimed —
    // one extra exists-probe; otherwise restart from 0.
    var seq = math.max(seqHint, 0L)
    if (seq > 0 && !fs.exists(new Path(dir, NotifySource.seqFile(seq - 1))))
      seq = 0L
    // skip past already-claimed numbers (exists probes, not a listing)
    while (fs.exists(new Path(dir, NotifySource.seqFile(seq)))) seq += 1
    val tmp = new Path(dir, s"_tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write((dataPaths.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    var committed = false
    while (!committed) {
      val dest = new Path(dir, NotifySource.seqFile(seq))
      if (fs.rename(tmp, dest)) committed = true
      else if (fs.exists(dest)) seq += 1 // lost the claim race; next number
      else throw new java.io.IOException(s"notify publish failed: $tmp -> $dest")
    }
    seq
  }
}

private[streaming] class NotifyTable(rawProps: Map[String, String])
    extends Table with SupportsRead {
  // TableProvider.getTable receives the ORIGINAL-case properties map
  // (CaseInsensitiveStringMap.asCaseSensitiveMap preserves the caller's key
  // case), so a caller writing `maxFilesPerTrigger` would silently miss a
  // lowercase-only lookup. Normalize once; all option reads below are on
  // lowercase keys.
  private val props = rawProps.map { case (k, v) => k.toLowerCase -> v }
  private val queueDir = props.getOrElse("queuedir",
    throw new IllegalArgumentException("graft-notify requires option queueDir"))
  override def name(): String = s"graft-notify:$queueDir"
  override def schema(): StructType = NotifySource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = NotifySource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new NotifyMicroBatchStream(queueDir,
            props.getOrElse("maxfilespertrigger", "16").toInt,
            // emit=lines (default): the referenced blobs' text lines;
            // emit=paths: one row per blob PATH — for ETLs that consume
            // whole files (Split needs byte offsets from its own read)
            emitPaths = props.getOrElse("emit", "lines") == "paths",
            // claimMode=spool: this stream's driver is the single
            // sequencer for producer spool entries (object-store-safe
            // publish path — see NotifyQueue)
            sequenceSpool = props.getOrElse("claimmode", "rename") == "spool")
      }
    }
}

/** Offset = highest consumed notification sequence number (-1 = none). */
private[graft] case class NotifyOffset(seq: Long) extends Offset {
  override def json(): String = s"""{"seq":$seq}"""
}

private[graft] class NotifyMicroBatchStream(queueDir: String,
                                            maxPerTrigger: Int,
                                            emitPaths: Boolean = false,
                                            sequenceSpool: Boolean = false)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  private val conf = SparkSession.active.sparkContext.hadoopConfiguration
  private val dir = new Path(queueDir)
  private lazy val fs = dir.getFileSystem(conf)
  // resume point for the probe: committed offset (set by deserializeOffset
  // on restart) or the last offset this instance returned. A cold start
  // probes up from 0 — the queue's own length, never the landing dir's.
  @volatile private[graft] var known: Long = -1L
  // instrumentation: exists-probes issued, asserted O(1)-per-idle-trigger
  // by the spec
  @volatile private[graft] var probeCount: Long = 0L

  // Trigger.AvailableNow: capture the queue tail ONCE at query start and
  // drain to exactly that point in rate-limited batches — without this the
  // engine would stop after one <=maxPerTrigger batch (the engine only
  // keeps triggering when the source promises a fixed target), and
  // notifications arriving mid-drain must not extend the run.
  @volatile private var availableNowTarget: Long = Long.MaxValue

  // In spool mode the sequencer must find the TRUE queue tail (assigned
  // but possibly unconsumed seqs past `known`) before appending — probe
  // forward from the resume point, O(unconsumed backlog).
  private def queueTail(): Long = {
    var seq = known
    while (fs.exists(new Path(dir, NotifySource.seqFile(seq + 1)))) seq += 1
    seq
  }

  override def prepareForTriggerAvailableNow(): Unit = {
    var seq =
      if (sequenceSpool) NotifyQueue.sequenceSpool(fs, dir, queueTail())
      else known
    while (fs.exists(new Path(dir, NotifySource.seqFile(seq + 1)))) seq += 1
    availableNowTarget = seq
  }

  override def initialOffset(): Offset = NotifyOffset(-1L)

  override def deserializeOffset(json: String): Offset = {
    val seq = """-?\d+""".r.findFirstIn(json).map(_.toLong).getOrElse(-1L)
    if (seq > known) known = seq
    NotifyOffset(seq)
  }

  // admission-control form (the engine's entry point for this source —
  // SupportsTriggerAvailableNow extends SupportsAdmissionControl): probe
  // forward from the resume point, bounded by the read limit and, under
  // AvailableNow, by the captured tail.
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxFiles(maxPerTrigger)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    // spool-mode sequencing runs before the consumption probe so entries
    // published since the last trigger become consumable seq files now
    if (sequenceSpool) NotifyQueue.sequenceSpool(fs, dir, queueTail())
    val cap = limit match {
      case _: ReadAllAvailable => Int.MaxValue
      case m: ReadMaxFiles => m.maxFiles()
      case _ => maxPerTrigger
    }
    var seq = known
    var advanced = 0
    var more = true
    while (more && advanced < cap && seq < availableNowTarget) {
      probeCount += 1
      if (fs.exists(new Path(dir, NotifySource.seqFile(seq + 1)))) {
        seq += 1; advanced += 1
      } else more = false
    }
    known = seq
    NotifyOffset(seq)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[NotifyOffset].seq
    val e = end.asInstanceOf[NotifyOffset].seq
    // read the (tiny) notification bodies — O(new) driver-side reads
    val paths = (s + 1 to e).flatMap { i =>
      val p = new Path(dir, NotifySource.seqFile(i))
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(fs.open(p), "UTF-8"))
      try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.nonEmpty).toVector
      finally in.close()
    }
    paths.map(p => NotifyInputPartition(p): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new NotifyReaderFactory(new Shims.SerializableHadoopConf(conf), emitPaths)

  override def commit(end: Offset): Unit = () // notifications kept for audit
  override def stop(): Unit = ()
}

private[streaming] case class NotifyInputPartition(path: String)
    extends InputPartition

private[streaming] class NotifyReaderFactory(confC: Shims.SerializableHadoopConf,
                                             emitPaths: Boolean)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[NotifyInputPartition].path
    if (emitPaths) return new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = { val r = !done; done = true; r }
      override def get(): InternalRow =
        new GenericInternalRow(Array[Any](UTF8String.fromString(file)))
      override def close(): Unit = ()
    }
    new PartitionReader[InternalRow] {
      private val p = new Path(file)
      private val raw: java.io.InputStream = p.getFileSystem(confC.value).open(p)
      private val in =
        if (file.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw) else raw
      private val lines = StreamUtil.rawLines(in)
      private var line: Array[Byte] = _
      override def next(): Boolean = lines.hasNext && { line = lines.next(); true }
      // the line's bytes verbatim, as `readStream.text` emits them
      override def get(): InternalRow =
        new GenericInternalRow(Array[Any](UTF8String.fromBytes(line)))
      override def close(): Unit = in.close()
    }
  }
}
