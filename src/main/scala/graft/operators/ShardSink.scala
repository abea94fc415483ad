package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.graft.Shims

/** The one exactly-once file sink: PrePartition (batch and streaming),
  * Split and the WARC/WET writers write their data files through it
  * (reference: PartitionedContentSink streams each partition's records
  * straight into one blob, Transforms/PartitionedContentSink.cs:54-66).
  *
  * Rows arrive with each file's rows adjacent (the caller's exchange and
  * sort); a key change commits one file and opens the next. The commit:
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
  * Attempts over the same shuffled partition write the same rows to the
  * same destinations (byte-identical where the caller's sort is total), so
  * whichever attempt commits first, each row lands exactly once.
  * Job-level overwrite is the caller's directory clear before the job.
  * A task that fails deletes the tmp it has open and rethrows, and every
  * task adds its file bytes and records to Spark's output metrics.
  */
object ShardSink {

  /** One committed file: its key, destination, and the records and
    * payload bytes (lead included, before compression) written to it. */
  final case class Shard[K](key: K, dest: String, records: Long, bytes: Long)

  /** Write `rows` as one file per run of equal `key`s at `dest(key)`:
    * `lead(key, conf)` (none by default) opens each file, then every row's
    * `bytes` follow,
    * gzip compressed when `gzip`. The session's Hadoop conf
    * (`spark.hadoop.*` credentials and fs impls for remote roots) is
    * broadcast once per job; `conf` is its executor-side copy. Lazy: the
    * returned RDD's action runs the writes.
    */
  def write[T, K](rows: Dataset[T], gzip: Boolean)(key: T => K)(
      dest: K => String, bytes: T => Array[Byte],
      lead: (K, Configuration) => Array[Byte] = (_: K, _: Configuration) => Array.emptyByteArray)
      : RDD[Shard[K]] = {
    val sc = rows.sparkSession.sparkContext
    val confB = sc.broadcast(new Shims.SerializableHadoopConf(sc.hadoopConfiguration))
    rows.rdd.mapPartitions { iter =>
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
      var cur: Option[K] = None
      var fs: FileSystem = null
      var tmp: Path = null
      var dst: Path = null
      var raw: FSDataOutputStream = null
      var out: java.io.OutputStream = null
      var nRecords = 0L
      var nBytes = 0L
      def commit(): Unit = if (out != null) {
        out.close()
        fileBytes += raw.getPos
        fileRecords += nRecords
        if (!fs.rename(tmp, dst)) {
          // lost the commit race (dest exists): drop our tmp; any other
          // failure is a real error — surface it
          if (fs.exists(dst)) fs.delete(tmp, false)
          else throw new java.io.IOException(s"commit failed: $tmp -> $dst")
        }
        done += Shard(cur.get, dst.toString, nRecords, nBytes)
        out = null
      }
      def open(k: K): Unit = {
        cur = Some(k)
        dst = new Path(dest(k))
        tmp = new Path(dst.getParent, s"_tmp_${attempt}_${dst.getName}")
        fs = dst.getFileSystem(conf)
        raw = fs.create(tmp, true)
        out = raw // a throwing gzip header still gets its tmp deleted
        out = new java.io.BufferedOutputStream(
          if (gzip) new java.util.zip.GZIPOutputStream(raw) else raw, 1 << 16)
        val l = lead(k, conf)
        out.write(l)
        nRecords = 0L
        nBytes = l.length
      }
      try {
        iter.foreach { row =>
          val k = key(row)
          if (out == null || !cur.contains(k)) { commit(); open(k) }
          val b = bytes(row)
          out.write(b)
          nRecords += 1
          nBytes += b.length
        }
        commit()
      } catch {
        case t: Throwable =>
          // best effort: the failed attempt leaves no tmp behind; a
          // committed file is never touched
          if (out != null) {
            try out.close() catch { case _: Throwable => }
            try fs.delete(tmp, false) catch { case _: Throwable => }
          }
          throw t
      }
      done.iterator
    }
  }
}
