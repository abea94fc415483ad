package graft.operators

import java.lang.ref.WeakReference
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermissions}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.graft.Shims

/** The one exactly-once file sink: PrePartition (batch and streaming),
  * Split and the WARC/WET writers write their data files through it
  * (reference: PartitionedContentSink streams each partition's records
  * straight into one blob, Transforms/PartitionedContentSink.cs:54-66).
  *
  * A task keeps one open file per key, at most `maxOpen` of them; a new
  * key past that commits the file opened first. PrePartition scatters each
  * scan task's rows over every pid it meets (the reference's per-partition
  * buffers, Transforms/PartitioningTextTransform.cs:39-76) and never
  * evicts; Split and the WARC/WET writers feed each file's rows adjacent
  * (their exchange and sort) with `maxOpen = 1`. A key that comes back
  * after its file was committed fails the task: a second file for the same
  * destination would lose the commit race or replace the first. The commit:
  *   - each file is written to an attempt-unique `_tmp_<taskAttemptId>_`
  *     name beside its destination, so concurrent attempts (speculation,
  *     stage retry) never interleave writes into one file;
  *   - commit is a bare rename to the deterministic destination: the
  *     FIRST attempt to rename wins (HDFS-contract rename fails when the
  *     destination exists);
  *   - an attempt that loses the race deletes only its own tmp;
  *   - a committed file is never deleted: a delete-then-rename discipline
  *     would let a zombie attempt delete another attempt's committed file
  *     and die before restoring it.
  * Attempts over the same input partition write the same rows to the same
  * destinations (byte-identical where the caller's row order is
  * deterministic), so whichever attempt commits first, each row lands
  * exactly once. Job-level overwrite is the caller's directory clear before
  * the job. A task that fails deletes every tmp it has open and rethrows,
  * and every task adds its file bytes and records to Spark's output metrics.
  *
  * Local files open through [[fileSystem]], not `path.getFileSystem`:
  * without its native library, Hadoop's local file system starts a `chmod`
  * process per file, `.crc` and directory it makes (98 a 64-pid run).
  */
object ShardSink {

  private var nioLocal: FileSystem = _

  /** The file system to write `path` through: for a `file:` path (a
    * scheme-less one under a local default FS included), one per-JVM
    * [[NioLocalFileSystem]], initialized with the conf of its first use as
    * Hadoop's cache would; any other scheme's own FS. The test is the
    * resolved scheme, not the class: the cached `file:` FS may be a
    * subclass such as Hive's ProxyLocalFileSystem.
    */
  def fileSystem(path: Path, conf: Configuration): FileSystem = {
    val fs = path.getFileSystem(conf)
    if (fs.getUri.getScheme != "file") fs
    else synchronized {
      if (nioLocal == null) {
        nioLocal = new NioLocalFileSystem
        nioLocal.initialize(java.net.URI.create("file:///"), conf)
      }
      nioLocal
    }
  }

  /** The last conf broadcast, with its context and the entries it copied. */
  private final case class ConfBroadcast(sc: WeakReference[SparkContext],
      entries: Map[String, String], b: Broadcast[Shims.SerializableHadoopConf])
  private var confCache: ConfBroadcast = _

  /** A broadcast copy of `sc`'s Hadoop conf (about a thousand keys, 11 ms
    * to broadcast), reused by every write until an entry changes (a new
    * `fs.<scheme>.impl`, a rotated credential) or [[Shims.drainBroadcasts]]
    * drops it. A replaced one is left to Spark's ContextCleaner: a running
    * job may still read it.
    */
  private[graft] def hadoopConf(sc: SparkContext): Broadcast[Shims.SerializableHadoopConf] =
    synchronized {
      def entries(c: Configuration) = c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
      val c = confCache
      if (c == null || (c.sc.get ne sc) || !Shims.broadcastHeld(sc, c.b) ||
          c.entries != entries(sc.hadoopConfiguration)) {
        val copy = new Configuration(sc.hadoopConfiguration)
        confCache = ConfBroadcast(new WeakReference(sc), entries(copy),
          sc.broadcast(new Shims.SerializableHadoopConf(copy)))
      }
      confCache.b
    }

  /** One committed file: its key, destination, and the records and
    * payload bytes (lead included, before compression) written to it. */
  final case class Shard[K](key: K, dest: String, records: Long, bytes: Long)

  /** One file a task has open. */
  private final class OpenFile[K](val key: K, val fs: FileSystem, val tmp: Path,
                                  val dst: Path, val raw: FSDataOutputStream) {
    var out: java.io.OutputStream = raw
    var records = 0L
    var bytes = 0L
  }

  /** Write `rows` as one file per `key` at `dest(key)`, holding at most
    * `maxOpen` files open per task: `lead(key, conf)` (none by default)
    * opens each file, then `emit(row, out)` writes each row's bytes and
    * returns their count, gzip compressed when `gzip`. A row with a null
    * key is dropped. `conf` is the executors' copy of the session's Hadoop
    * conf ([[hadoopConf]]). Lazy: the returned RDD's action runs the writes.
    */
  def write[T, K](rows: RDD[T], gzip: Boolean, maxOpen: Int)(key: T => K)(
      dest: K => String, emit: (T, java.io.OutputStream) => Long,
      lead: (K, Configuration) => Array[Byte] = (_: K, _: Configuration) => Array.emptyByteArray)
      : RDD[Shard[K]] = {
    require(maxOpen > 0, s"maxOpen must be positive, got $maxOpen")
    val confB = hadoopConf(rows.sparkContext)
    rows.mapPartitions { iter =>
      val conf = confB.value.value
      val ctx = TaskContext.get()
      val attempt = if (ctx == null) 0L else ctx.taskAttemptId()
      val done = scala.collection.mutable.ArrayBuffer.empty[Shard[K]]
      var fileBytes = 0L
      var fileRecords = 0L
      // after the task body, so a file writer later in the same task
      // (Split's manifest parquet sets, not adds, its metrics) cannot
      // overwrite these
      if (ctx != null) ctx.addTaskCompletionListener[Unit] { c =>
        Shims.addOutputMetrics(c, fileBytes, fileRecords)
      }
      // insertion order: the head is the file opened first
      val open = scala.collection.mutable.LinkedHashMap.empty[K, OpenFile[K]]
      val committed = scala.collection.mutable.HashSet.empty[K]
      def commit(f: OpenFile[K]): Unit = {
        f.out.close()
        fileBytes += f.raw.getPos
        fileRecords += f.records
        if (!f.fs.rename(f.tmp, f.dst)) {
          // lost the commit race (dest exists): drop our tmp; any other
          // failure is a real error — surface it
          if (f.fs.exists(f.dst)) f.fs.delete(f.tmp, false)
          else throw new java.io.IOException(s"commit failed: ${f.tmp} -> ${f.dst}")
        }
        open.remove(f.key)
        committed += f.key
        done += Shard(f.key, f.dst.toString, f.records, f.bytes)
      }
      def openFile(k: K): OpenFile[K] = {
        if (committed.contains(k))
          throw new IllegalStateException(
            s"key $k came back after its file was committed: at most $maxOpen " +
              "keys may be open at once, and each key's rows must arrive before " +
              "its file is evicted")
        if (open.size >= maxOpen) commit(open.head._2)
        val dst = new Path(dest(k))
        val fs = fileSystem(dst, conf)
        val tmp = new Path(dst.getParent, s"_tmp_${attempt}_${dst.getName}")
        // registered before the gzip header, so a throwing one still gets
        // its tmp deleted
        val f = new OpenFile(k, fs, tmp, dst, fs.create(tmp, true))
        open(k) = f
        f.out = new java.io.BufferedOutputStream(
          if (gzip) new java.util.zip.GZIPOutputStream(f.raw) else f.raw, 1 << 16)
        val l = lead(k, conf)
        f.out.write(l)
        f.bytes = l.length
        f
      }
      // the previous row's file: adjacent rows of one key (Split, WARC/WET)
      // skip the table lookup. Eviction happens only in openFile, whose
      // result replaces it, so it is always open.
      var last: OpenFile[K] = null
      try {
        iter.foreach { row =>
          val k = key(row)
          if (k != null) {
            val f = if (last != null && last.key == k) last else open.getOrElse(k, openFile(k))
            last = f
            f.bytes += emit(row, f.out)
            f.records += 1
          }
        }
        while (open.nonEmpty) commit(open.head._2)
      } catch {
        case t: Throwable =>
          // best effort: the failed attempt leaves no tmp behind; a
          // committed file is never touched
          open.values.foreach { f =>
            try f.out.close() catch { case _: Throwable => }
            try f.fs.delete(f.tmp, false) catch { case _: Throwable => }
          }
          throw t
      }
      done.iterator
    }
  }
}

/** Hadoop's checksummed local file system over [[NioRawLocalFileSystem]],
  * with the HDFS rename contract the first-wins commit relies on: a rename
  * onto an existing file returns false instead of replacing it. (Hadoop's
  * own local rename replaces; the `file:` FS that Spark's Hive jars
  * register, ProxyLocalFileSystem, refuses the same way.)
  */
private[graft] final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = {
    val taken = try getFileStatus(dst).isFile
      catch { case _: java.io.FileNotFoundException => false }
    !taken && super.rename(src, dst)
  }

  /** Hadoop's own local rename, which replaces an existing file and its `.crc`. */
  def renameReplacing(src: Path, dst: Path): Boolean = super.rename(src, dst)
}

/** Hadoop's raw local file system, setting permission bits through
  * `java.nio` in-process where Hadoop without its native library forks
  * `chmod`. The bits and when they are set are Hadoop's own; modes past
  * `0777` (sticky, setuid) and file systems without POSIX attributes keep
  * Hadoop's path.
  */
private[graft] final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort
    val view = java.nio.file.Files.getFileAttributeView(
      pathToFile(p).toPath, classOf[PosixFileAttributeView])
    if ((bits & ~0x1ff) != 0 || view == null) super.setPermission(p, permission)
    else view.setPermissions(PosixFilePermissions.fromString(new FsPermission(bits).toString))
  }
}
