package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Input readers beyond Spark's codec-aware text source.
  *
  * Plain text and .gz are native (`spark.read.text` infers the codec per
  * file; gz = one task per file, same constraint as the reference's
  * whole-blob streaming). Zip needs explicit handling: the reference reads
  * ONLY the first entry of a zip archive (Text/TextSource.cs:88-103) — we
  * reproduce exactly that.
  */
object Readers {

  /** A1 ListBlobSource parity: lines under a prefix, filtered by name
    * suffix (reference: BlobSources/ListBlobSource.cs:33-43 filters the
    * listing by `EndsWith(suffix)`). `pathGlobFilter` prunes at FILE
    * LISTING time — filtered files are never opened, the exact analogue of
    * filtering the blob listing.
    */
  def textLines(spark: SparkSession, pathOrGlob: String,
                suffix: Option[String] = None): DataFrame = {
    val reader = spark.read
    suffix.fold(reader)(sfx => reader.option("pathGlobFilter", s"*$sfx"))
      .text(pathOrGlob)
  }

  /** Lines of the FIRST zip entry of each archive matched by the glob,
    * streamed with their bytes verbatim.
    */
  def zipFirstEntryLines(spark: SparkSession, glob: String): DataFrame =
    verbatim(spark, spark.sparkContext.binaryFiles(glob).flatMap { case (path, pds) =>
      val zin = new java.util.zip.ZipInputStream(pds.open())
      StreamUtil.closeOnExhaust(zin, {
        var entry = zin.getNextEntry
        // skip directory entries; take the first real one
        while (entry != null && entry.isDirectory) entry = zin.getNextEntry
        if (entry == null) Iterator.empty
        else StreamUtil.rawLines(zin).map(line => (path, line))
      })
    })

  /** Lines of zstd-compressed text blobs — the A4 gunzip transform's
    * modern-codec sibling (zstd is what current data lakes actually ship;
    * zstd-jni is already on Spark's own classpath, no new dependency).
    * Same execution shape as the reference's whole-blob gunzip
    * (GunzipContentTransform.cs streams one blob per task): one
    * ZstdInputStream per file, no splitting — zstd frames, like gzip
    * members, are not block-splittable without a seekable-format index.
    * Streams line by line; the bytes stay verbatim.
    */
  def zstdLines(spark: SparkSession, glob: String): DataFrame =
    verbatim(spark, spark.sparkContext.binaryFiles(glob).flatMap { case (path, pds) =>
      StreamUtil.rawLines(new com.github.luben.zstd.ZstdInputStream(pds.open()))
        .map(line => (path, line))
    })

  /** (file, raw line) pairs as `file`, `value STRING`. The binary-to-string
    * cast wraps the bytes as they are, so `value` holds the input's bytes
    * just as `spark.read.text` does.
    */
  private def verbatim(spark: SparkSession,
                       lines: org.apache.spark.rdd.RDD[(String, Array[Byte])]): DataFrame = {
    import spark.implicits._
    lines.toDF("file", "value")
      .select($"file", $"value".cast("string").as("value"))
  }

  /** Write one zstd-compressed text blob (test/CLI fixture path). */
  def writeZstdBlob(path: String, lines: Seq[String], level: Int = 3): Unit = {
    val out = new com.github.luben.zstd.ZstdOutputStream(
      new java.io.FileOutputStream(path), level)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }
}
