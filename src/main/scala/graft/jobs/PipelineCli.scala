package graft.jobs

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, timestamp_micros}

import graft.sources.{GraftDataSource, TableIO, WebtextGen}

/** spark-submit entrypoint for the encode/decode/verify pipeline
  * (north_rule: "run via spark-submit on a multi-executor cluster").
  *
  * Usage (args after the subcommand):
  *   gen    <outParquet> <nDocs> [seed] [skewShare]
  *   ingest <inJsonlDir> <outParquet>          (crawl-drop JSONL -> Page table)
  *   encode <inParquet> <outDir> [partitions|auto] [pidUpperBound]
  *          (auto/omitted = ~128 MiB of raw input per pid, floor 2x cores)
  *   decode <outDir> <decodedParquet> [col,col[,..]]
  *          [loUrl hiUrl] [ts <loTs> <hiTs>]
  *          (ts bounds: epoch micros or ISO-8601 instants; a ts range
  *          requires the column list — alone or after a url range)
  *   verify <inParquet> <outDir>
  *   stats  <outDir>
  *   flfile c <inFile> <outFlFile> [slices]   (reference `compress c fl`)
  *   flfile d <inFlFile> <outFile> [slices]   (reference `compress d fl`)
  *
  * Master/memory come from spark-submit; standalone runs honor
  * SPARK_GRAFT_CPUS (default local[4]).
  */
object PipelineCli {

  def session(app: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // precedence: explicit env knob > a value the user already supplied
    // (spark-submit --conf lands in system properties on the driver — the
    // builder .config would silently OVERRIDE it, pinning a 100-core
    // cluster's shuffles to the local default) > the local default
    def conf(key: String, env: String, dflt: String): String =
      sys.env.get(env).orElse(sys.props.get(key)).getOrElse(dflt)
    // every defaultable key honors a user-supplied --conf (sys.props on
    // the driver) — builder .config would silently OVERRIDE it, the
    // failure mode the comment above describes. Only
    // spark.sql.session.timeZone stays PINNED to UTC: verify's
    // cross-engine timestamp determinism depends on it, and a quietly
    // honored override would make byte-identity failures look like data
    // corruption instead of a zone mismatch.
    def dflt(key: String, value: String): String = sys.props.getOrElse(key, value)
    val b = SparkSession.builder().appName(app)
      .config("spark.sql.shuffle.partitions",
        conf("spark.sql.shuffle.partitions", "SPARK_GRAFT_SHUFFLE", cpus))
      .config("spark.sql.adaptive.enabled", dflt("spark.sql.adaptive.enabled", "true"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", dflt("spark.ui.enabled", "false"))
      // Scan-parallelism knob: the default 128m packs a small bench input
      // into one or two scan tasks, serializing the pid-map stage. 16m
      // keeps every core busy at bench scale; at real scale (multi-GB
      // inputs) either value yields full parallelism.
      .config("spark.sql.files.maxPartitionBytes",
        conf("spark.sql.files.maxPartitionBytes", "SPARK_GRAFT_MAXPART", "16m"))
      .config("spark.sql.files.openCostInBytes",
        dflt("spark.sql.files.openCostInBytes", "1m"))
    // under spark-submit the master is injected; standalone runs local
    val withMaster = if (sys.props.contains("spark.master")) b else b.master(s"local[$cpus]")
    val s = withMaster.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The `decode` column list: comma-separated Page column names, none
    * repeated (parquet rejects duplicate field names on write). */
  private[graft] def decodeColumns(arg: String): Seq[String] = {
    val known = GraftDataSource.PageSchema.fieldNames.toSeq
    val columns = arg.split(',').toSeq
    require(columns.forall(known.contains), s"columns must be among $known, got $columns")
    require(columns.distinct == columns,
      s"duplicate columns requested: $columns — parquet rejects duplicate field names")
    columns
  }

  /** The manifest rows the `stats` verb prints. The engine always writes
    * the manifest as parquet itself, so it is read with
    * [[EncodeJob.manifestScan]]'s pinned schema, not through
    * [[TableIO.read]], which follows `spark.graft.table.format` and
    * infers the schema (and so fails on a manifest dir that holds only a
    * crashed write's hidden temp file). A table with no `manifest/` (an
    * encode of an empty input commits none) reads as zero rows; a
    * missing table root is a named error. */
  private[graft] def manifestRows(spark: SparkSession, outDir: String): DataFrame =
    if (!TableIO.exists(spark, outDir))
      throw new java.io.FileNotFoundException(s"graft stats: no encoded table at $outDir")
    else if (!TableIO.exists(spark, EncodeJob.manifestDir(outDir)))
      spark.createDataFrame(java.util.Collections.emptyList[Row](), EncodeJob.ManifestRows.schema)
    else EncodeJob.manifestScan(spark, outDir)

  def main(args: Array[String]): Unit = {
    args.toList match {
      case "gen" :: out :: n :: rest =>
        val spark = session("graft-gen")
        val seed = rest.headOption.map(_.toLong).getOrElse(42L)
        val skew = rest.drop(1).headOption.map(_.toDouble).getOrElse(0.0)
        TableIO.write(WebtextGen.pages(spark, n.toLong, seed = seed, skewShare = skew)
          .toDF(), out, org.apache.spark.sql.SaveMode.Overwrite)
        println(s"""{"op":"gen","rows":$n,"out":${graft.JsonEscape.quote(out)}}""")
        spark.stop()

      // JSONL crawl-drop ingestion: schema'd read (html base64) -> Page
      // parquet, ready for encode
      case "ingest" :: in :: out :: Nil =>
        val spark = session("graft-ingest")
        val pages = graft.sources.JsonlPages.read(spark, in)
        TableIO.write(pages.toDF(), out, org.apache.spark.sql.SaveMode.Overwrite)
        val n = TableIO.read(spark, out).count() // honors the table-format conf
        println(s"""{"op":"ingest","rows":$n,"out":${graft.JsonEscape.quote(out)}}""")
        spark.stop()

      case "encode" :: in :: outDir :: rest =>
        val spark = session("graft-encode")
        import spark.implicits._
        // "auto" sizes pids from the input: on-disk parquet bytes x3
        // (typical raw:parquet ratio here) through the 128 MiB/pid rule
        val parts = rest.headOption match {
          case Some("auto") | None =>
            // Hadoop FS, not java.io.File: a hdfs:///s3a:// input would
            // read as 0 bytes locally and collapse the 128 MiB/pid rule
            // to the 2x-cores floor — the spill regime the rule avoids
            val onDisk = TableIO.contentLength(spark, in)
            val p = EncodeJob.suggestPartitions(onDisk * 3,
              spark.sparkContext.defaultParallelism)
            System.err.println(s"[encode] auto partitions: $p (input $onDisk bytes on disk)")
            p
          case Some(n) => n.toInt
        }
        val cap = rest.drop(1).headOption.map(_.toInt)
        val input = TableIO.read(spark, in).as[graft.model.Page]
        val r = EncodeJob.run(spark, input, outDir,
          EncodeJob.Config(numPartitions = parts, pidUpperBound = cap,
            codecMode = sys.env.getOrElse("SPARK_GRAFT_CODEC_MODE", "auto")))
        // gbps divides THIS run's bytes by this run's wall — rows/rawBytes/
        // encBytes are whole-manifest totals and would inflate a resumed
        // run's throughput by every prior run's bytes
        val gbps = r.rawBytesThisRun / 1e9 / (r.wallNanos / 1e9)
        println(f"""{"op":"encode","pidsEncoded":${r.pidsEncoded},"pidsSkipped":${r.pidsSkipped},"rows":${r.rows},"rawBytes":${r.rawBytes},"encBytes":${r.encBytes},"flBaselineBytes":${r.flBaselineBytes},"ratio":${r.encBytes.toDouble / math.max(1, r.rawBytes)}%.4f,"wallSec":${r.wallNanos / 1e9}%.2f,"boundsSec":${r.boundsNanos / 1e9}%.2f,"encodeSec":${r.encodeNanos / 1e9}%.2f,"manifestSec":${r.manifestNanos / 1e9}%.2f,"rowsThisRun":${r.rowsThisRun},"rawBytesThisRun":${r.rawBytesThisRun},"gbps":$gbps%.3f}""")
        spark.stop()

      case "decode" :: outDir :: out :: rest =>
        val spark = session("graft-decode")
        // optional: comma-separated column projection, an inclusive url
        // range, and/or `ts <lo> <hi>` (epoch micros or ISO-8601
        // instants) — the DSv2 scan reads only the requested blocks and
        // consumes both ranges, pruning by (urlMin, urlMax) / (tsMin,
        // tsMax) before decoding
        def ts(s: String) = timestamp_micros(lit(s.toLongOption.getOrElse {
          val i = java.time.Instant.parse(s)
          Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
            (i.getNano / 1000).toLong)
        }))
        val (cols, urlRange, tsRange) = rest match {
          case Nil => (None, None, None)
          case cols :: Nil => (Some(cols), None, None)
          case cols :: "ts" :: lo :: hi :: Nil => (Some(cols), None, Some((lo, hi)))
          case cols :: lo :: hi :: Nil => (Some(cols), Some((lo, hi)), None)
          case cols :: lo :: hi :: "ts" :: tlo :: thi :: Nil =>
            (Some(cols), Some((lo, hi)), Some((tlo, thi)))
          case other => sys.error(s"decode: bad args $other")
        }
        var df = spark.read.format("graft").load(outDir)
        urlRange.foreach { case (lo, hi) => df = df.filter(col("url") >= lo && col("url") <= hi) }
        tsRange.foreach { case (lo, hi) =>
          df = df.filter(col("warc_ts") >= ts(lo) && col("warc_ts") <= ts(hi))
        }
        cols.foreach(c => df = df.select(decodeColumns(c).map(col): _*))
        TableIO.write(df, out, org.apache.spark.sql.SaveMode.Overwrite)
        println(s"""{"op":"decode","out":${graft.JsonEscape.quote(out)},"cols":${graft.JsonEscape.quote(rest.headOption.getOrElse("*"))}}""")
        spark.stop()

      case "verify" :: in :: outDir :: Nil =>
        val spark = session("graft-verify")
        import spark.implicits._
        val source = TableIO.read(spark, in).as[graft.model.Page]
        val report = VerifyJob.run(spark, source, DecodeJob.run(spark, outDir))
        println(s"""{"op":"verify","ok":${report.ok},"source":${report.sourceRows},"decoded":${report.decodedRows},"joined":${report.joinedRows},"textMismatches":${report.textMismatches},"htmlMismatches":${report.htmlMismatches},"tsMismatches":${report.tsMismatches},"langMismatches":${report.langMismatches},"rowMismatches":${report.rowMismatches},"countMismatches":${report.countMismatches}}""")
        spark.stop()
        if (!report.ok) sys.exit(1)

      // reference-CLI parity: FL compress/decompress of a raw byte FILE
      // in the reference's own on-disk format (header 3 longs + bits +
      // values) — `compress c|d fl in out` equivalents
      case "flfile" :: "c" :: in :: out :: rest =>
        val spark = session("graft-flfile-c")
        val slices = rest.headOption.map(_.toInt).getOrElse(32)
        val outBytes = FlFileJob.compress(spark, in, out, slices)
        val inBytes = TableIO.contentLength(spark, in) // hdfs/s3a-safe
        println(f"""{"op":"flfile-c","inBytes":$inBytes,"outBytes":$outBytes,"ratio":${outBytes.toDouble / math.max(1L, inBytes)}%.4f,"slices":$slices}""")
        spark.stop()

      case "flfile" :: "d" :: in :: out :: rest =>
        val spark = session("graft-flfile-d")
        val slices = rest.headOption.map(_.toInt).getOrElse(32)
        val rawBytes = FlFileJob.decompress(spark, in, out, slices)
        println(s"""{"op":"flfile-d","rawBytes":$rawBytes,"out":${graft.JsonEscape.quote(out)},"slices":$slices}""")
        spark.stop()

      case "stats" :: outDir :: Nil =>
        val spark = session("graft-stats")
        manifestRows(spark, outDir).orderBy("pid").show(100, truncate = false)
        spark.stop()

      case other =>
        System.err.println(s"unknown args: ${other.mkString(" ")}")
        System.err.println("usage: gen|ingest|encode|decode|verify|stats|flfile ... (see scaladoc)")
        sys.exit(2)
    }
  }
}
