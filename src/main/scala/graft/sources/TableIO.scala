package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.OutputFile
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType, MapType, StringType, StructType}

/** Thin table-format indirection for the tables the engine reads and
  * writes through Spark: input pages and decoded output.
  *
  * BASELINE.json's north_rule targets Iceberg tables; this sandbox ships
  * no Iceberg runtime jar (/opt/spark/jars has none and dependency
  * resolution is offline), so the default layout is plain parquet — the
  * same file layout an Iceberg table's data files use. On a cluster with
  * `iceberg-spark-runtime` on the classpath, setting
  * `spark.graft.table.format=iceberg` (plus the usual catalog conf)
  * switches those read/write sites in one place; no job code changes.
  *
  * The conf covers input and decoded tables only. The chunk and manifest
  * tables are parquet directories, always: the encode writes their files
  * itself ([[ParquetRows]]), its crash recovery (attempt markers under
  * `_attempts/`, staged files under `chunks/_staging-<id>/`, the
  * begin-only rollback's file deletes) works on that directory layout,
  * and every decode (DecodeJob.run, the CLI's `decode`,
  * `spark.read.format("graft")`) is the DSv2 scan, which lists the
  * parquet chunk layout itself and refuses any other configured format
  * with a named error.
  */
object TableIO {

  val FormatKey = "spark.graft.table.format"

  def format(spark: SparkSession): String =
    spark.conf.getOption(FormatKey).getOrElse("parquet")

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format(format(spark)).load(path)

  def write(df: DataFrame, path: String, mode: SaveMode): Unit =
    df.write.format(format(df.sparkSession)).mode(mode).save(path)

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

/** Writes case-class rows of `schema` (an `Encoders.product` schema) as
  * uncompressed parquet files without Spark's file writer: no Spark job,
  * no write-job description shipped to tasks, callable from a task or
  * the driver. The file schema is the one Spark's own writer derives
  * ([[SparkToParquetSchemaConverter]], default non-legacy layout), and
  * the rows go straight to parquet-hadoop's record consumer, as Spark's
  * `ParquetWriteSupport` sends them, so the column chunks carry the
  * encodings, sizes and row-group statistics Spark's writer produces —
  * plan-time pruning reads the same `urlMin`/`urlMax`/`tsMin`/`tsMax`
  * statistics and Spark reads the files like any it wrote. Chunk
  * payloads are ALREADY compressed by the codec layer, so a file-level
  * codec on top would buy ~nothing and cost CPU on a write-bound
  * pipeline (BENCH.md). */
final class ParquetRows(val schema: StructType) {
  val messageType: MessageType = new SparkToParquetSchemaConverter().convert(schema)

  /** One file at `path` holding `rows` (fails if `path` exists). */
  def write(path: Path, conf: Configuration, rows: Iterator[Product]): Unit = {
    val w = new Builder(HadoopOutputFile.fromPath(path, conf)).withConf(conf)
      .withCompressionCodec(CompressionCodecName.UNCOMPRESSED).build()
    try rows.foreach(w.write)
    catch {
      case e: Throwable =>
        try w.close() catch { case s: Throwable => e.addSuppressed(s) }
        throw e
    }
    w.close()
  }

  private final class Builder(file: OutputFile) extends ParquetWriter.Builder[Product, Builder](file) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[Product] = new RowWriteSupport
  }

  private final class RowWriteSupport extends WriteSupport[Product] {
    private var rc: RecordConsumer = _
    override def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(messageType, java.util.Collections.emptyMap[String, String]())
    override def prepareForWrite(consumer: RecordConsumer): Unit = rc = consumer
    override def write(row: Product): Unit = {
      rc.startMessage()
      fields(schema, row)
      rc.endMessage()
    }

    /** null and None are absent optional values. */
    private def fields(st: StructType, p: Product): Unit = {
      var i = 0
      while (i < st.length) {
        val v = p.productElement(i) match {
          case Some(x) => x
          case None => null
          case x => x
        }
        if (v != null) {
          rc.startField(st(i).name, i)
          value(st(i).dataType, v)
          rc.endField(st(i).name, i)
        }
        i += 1
      }
    }

    /** A map is the converter's repeated `key_value` group. */
    private def value(t: DataType, v: Any): Unit = (t, v) match {
      case (IntegerType, x: Int) => rc.addInteger(x)
      case (LongType, x: Long) => rc.addLong(x)
      case (StringType, x: String) => rc.addBinary(Binary.fromString(x))
      case (BinaryType, x: Array[Byte]) => rc.addBinary(Binary.fromConstantByteArray(x))
      case (s: StructType, x: Product) =>
        rc.startGroup(); fields(s, x); rc.endGroup()
      case (m: MapType, x: scala.collection.Map[_, _]) =>
        rc.startGroup()
        if (x.nonEmpty) {
          rc.startField("key_value", 0)
          x.foreach { case (k, e) =>
            rc.startGroup()
            rc.startField("key", 0); value(m.keyType, k); rc.endField("key", 0)
            if (e != null) { rc.startField("value", 1); value(m.valueType, e); rc.endField("value", 1) }
            rc.endGroup()
          }
          rc.endField("key_value", 0)
        }
        rc.endGroup()
      case _ => throw new IllegalArgumentException(s"ParquetRows: no parquet mapping for $t = $v")
    }
  }
}
