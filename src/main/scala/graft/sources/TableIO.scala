package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Thin table-format indirection for every table the engine reads/writes
  * (input pages, encoded chunks, manifests, decoded output).
  *
  * BASELINE.json's north_rule targets Iceberg tables; this sandbox ships
  * no Iceberg runtime jar (/opt/spark/jars has none and dependency
  * resolution is offline), so the default layout is plain parquet — the
  * same file layout an Iceberg table's data files use. On a cluster with
  * `iceberg-spark-runtime` on the classpath, setting
  * `spark.graft.table.format=iceberg` (plus the usual catalog conf)
  * switches every read/write site in one place; no job code changes.
  *
  * The conf reaches no decode: every decode (DecodeJob.run, the CLI's
  * `decode`, `spark.read.format("graft")`) is the DSv2 scan, which lists
  * the parquet chunk layout itself and refuses any other configured
  * format with a named error.
  *
  * Documented exclusion: the crash-RECOVERY surfaces — attempt-marker
  * sidecars under `_attempts/`, the begin-only rollback's raw chunk-file
  * deletes, and the `_temporary` cleanup — assume a directory-backed
  * chunk table. Under a snapshot-managed format those file deletes would
  * bypass table metadata (stale references -> FileNotFound on scan), so
  * an Iceberg deployment must either route rollback through the table
  * format (DELETE by attemptId + expire snapshots) or keep the CHUNK
  * table on the directory layout and switch only input/decoded tables.
  */
object TableIO {

  val FormatKey = "spark.graft.table.format"

  def format(spark: SparkSession): String =
    spark.conf.getOption(FormatKey).getOrElse("parquet")

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format(format(spark)).load(path)

  def write(df: DataFrame, path: String, mode: SaveMode,
            options: Map[String, String] = Map.empty): Unit =
    df.write.format(format(df.sparkSession)).options(options).mode(mode).save(path)

  // Existence checks and sidecar text files (bounds.json) go through the
  // Hadoop FileSystem API, NOT java.nio: a `hdfs://` or `s3a://` outDir
  // makes Files.exists silently false on the driver, which would disable
  // resume and duplicate-append chunks with no error. The Hadoop FS
  // resolves local paths too, so local mode is unchanged.

  private def fs(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  def readTextFile(spark: SparkSession, path: String): String = {
    val in = fs(spark, path).open(new org.apache.hadoop.fs.Path(path))
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](64 * 1024)
      var n = in.read(chunk)
      while (n >= 0) {
        buf.write(chunk, 0, n)
        n = in.read(chunk)
      }
      buf.toString(java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Atomic-enough text write: content goes to a temp sibling first, then
    * renames over the target with OVERWRITE semantics (FileContext rename
    * — one atomic step on HDFS/local, so the target is either the old or
    * the new complete content, never truncated or absent). A crash
    * mid-write leaves only the temp file. On filesystems without
    * FileContext support it falls back to delete-then-rename, and on
    * object stores rename itself is copy+delete — there the guarantee is
    * best-effort only; every file written through here (bounds.json,
    * sidecars) is recomputable, so a lost target re-derives. */
  def writeTextFile(spark: SparkSession, path: String, content: String): Unit = {
    val f = fs(spark, path)
    val target = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        target.toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException |
           _: UnsupportedOperationException =>
        if (f.exists(target)) f.delete(target, false)
        require(f.rename(tmp, target), s"rename $tmp -> $target failed")
    }
  }

  /** File names directly under `dir` (non-recursive); empty if missing.
    * One FS listing RPC — the steady-state cost of the attempt-marker
    * reconcile gate. */
  def listDir(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    // one listStatus only — an exists() pre-check would double the
    // metadata round trips on object stores, and this runs on every
    // micro-batch via the reconcile fast path ("one FS listing RPC")
    try fs(spark, dir).listStatus(p).toSeq.map(_.getPath.getName)
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** Create an empty marker file (parents created as needed). */
  def touch(spark: SparkSession, path: String): Unit = {
    val out = fs(spark, path).create(new org.apache.hadoop.fs.Path(path), true)
    out.close()
  }

  def delete(spark: SparkSession, path: String): Unit =
    fs(spark, path).delete(new org.apache.hadoop.fs.Path(path), false)

  /** Recursive delete — the TRUNCATE semantics of an overwrite-mode
    * write. Only the DSv2 write path calls this, on the encode dir the
    * caller explicitly asked to overwrite. */
  def deleteRecursive(spark: SparkSession, path: String): Unit =
    fs(spark, path).delete(new org.apache.hadoop.fs.Path(path), true)

  def mkdirs(spark: SparkSession, path: String): Unit =
    fs(spark, path).mkdirs(new org.apache.hadoop.fs.Path(path))

  /** Total bytes under `path` (file or directory tree), via the Hadoop
    * FS — java.io.File silently reports 0 for hdfs:///s3a:// paths,
    * which would wreck any sizing rule built on it. */
  def contentLength(spark: SparkSession, path: String): Long =
    fs(spark, path).getContentSummary(new org.apache.hadoop.fs.Path(path)).getLength
}
