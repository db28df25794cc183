package graft.sources

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path => HPath, PositionedReadable, RawLocalFileSystem, Seekable}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.jobs.{DecodeJob, EncodeJob}

/** Test-only local FS that counts every byte its streams hand out —
  * registered under `cntfile://` (or any other scheme a spec maps to it)
  * so a spec can measure the connector's ACTUAL disk I/O (Hadoop's
  * built-in Statistics miss positioned reads). Deliberately NOT
  * ByteBufferReadable: parquet then takes the heap-read path, which all
  * funnels through the overloads counted here. */
object CountingLocalFs {
  val bytesRead = new java.util.concurrent.atomic.AtomicLong(0L)
}
class CountingLocalFs extends RawLocalFileSystem {
  // the scheme this instance was registered under, so its own paths
  // pass FileSystem.checkPath (unset until initialize: the superclass
  // constructor already asks for the uri)
  private var scheme: String = _
  override def initialize(name: URI, conf: Configuration): Unit = {
    scheme = name.getScheme
    super.initialize(name, conf)
  }
  override def getScheme: String = if (scheme == null) "cntfile" else scheme
  override def getUri: URI = URI.create(s"$getScheme:///")
  override def open(f: HPath, bufferSize: Int): FSDataInputStream =
    new FSDataInputStream(new CountingIn(super.open(f, bufferSize)))
}
final class CountingIn(in: FSDataInputStream) extends java.io.InputStream
    with Seekable with PositionedReadable {
  private def add(n: Int): Int = {
    if (n > 0) CountingLocalFs.bytesRead.addAndGet(n.toLong)
    n
  }
  override def read(): Int = {
    val r = in.read()
    if (r >= 0) CountingLocalFs.bytesRead.incrementAndGet()
    r
  }
  override def read(b: Array[Byte], off: Int, len: Int): Int = add(in.read(b, off, len))
  override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int =
    add(in.read(pos, b, off, len))
  override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
    in.readFully(pos, b, off, len)
    CountingLocalFs.bytesRead.addAndGet(len.toLong)
  }
  override def readFully(pos: Long, b: Array[Byte]): Unit = {
    in.readFully(pos, b)
    CountingLocalFs.bytesRead.addAndGet(b.length.toLong)
  }
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}

/** The DataSource V2 read surface — the engine's one decode kernel:
  * `spark.read.format("graft")` (and DecodeJob.run, which is that read
  * typed) must return the encoded source rows bit-for-bit, prune columns
  * down to the parquet block leaves, and consume url and warc_ts range
  * predicates exactly. */
class GraftDataSourceSpec extends AnyFunSuite with SparkFixture with AdaptiveSparkPlanHelper {

  private lazy val dir = {
    val d = tmpDir("graft-dsv2")
    EncodeJob.run(spark, WebtextGen.pages(spark, 800L, partitions = 4), d,
      EncodeJob.Config(numPartitions = 4))
    d
  }

  private def read(): DataFrame = spark.read.format("graft").load(dir)

  /** The rows `dir` (and `legacyDir`) were encoded from. */
  private def encoded(): DataFrame = WebtextGen.pages(spark, 800L, partitions = 4).toDF()

  /** A simulated pre-round-7 chunk table: the same chunks with the
    * tsMin/tsMax statistics columns REMOVED. */
  private lazy val legacyDir = {
    val legacy = tmpDir("graft-dsv2-legacy")
    graft.ScalingLevel.rmrf(legacy)
    spark.read.parquet(s"$dir/chunks").drop("tsMin", "tsMax")
      .write.mode("overwrite").parquet(s"$legacy/chunks")
    legacy
  }

  /** The chunk files a scan of `table` lists. */
  private def chunkFiles(table: String): Int =
    new java.io.File(s"$table/chunks").listFiles()
      .count(f => f.isFile && f.length > 0 && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))

  /** The messages of `t` and its causes, outermost first. */
  private def chain(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(e => String.valueOf(e.getMessage) +: chain(e.getCause))

  /** Runs `pred` as a graft read of `table`, asserts it returns exactly
    * the rows of `source` (the rows `table` was encoded from) that match
    * `pred`, and returns the executed scan node. exceptAll both ways
    * covers url/text/lang strings, html bytes and warc_ts micros. */
  private def checkedScan(table: String, source: DataFrame, pred: Column): BatchScanExec = {
    val df = spark.read.format("graft").load(table).filter(pred)
    val want = source.filter(pred)
    assert(df.exceptAll(want).count() == 0L, s"pruned read of [$pred] has extra rows")
    assert(want.exceptAll(df).count() == 0L, s"pruned read of [$pred] lost rows")
    // run df's own plan, so the scan node below carries its metrics
    df.collect()
    collectFirst(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
      .getOrElse(fail("no BatchScanExec in\n" + df.queryExecution.executedPlan))
  }

  test("full read equals the encoded source rows") {
    val got = read()
    val want = encoded()
    assert(got.count() == 800L)
    // exceptAll both directions: covers url/text/lang strings, html
    // binary, and warc_ts micros — any cell divergence survives one side
    assert(got.exceptAll(want).count() == 0L, "dsv2 read has extra rows")
    assert(want.exceptAll(got).count() == 0L, "dsv2 read lost rows")
  }

  test("DecodeJob.run is one GraftScan of every column") {
    val plan = DecodeJob.run(spark, dir).queryExecution.executedPlan
    val scans = collect(plan) { case b: BatchScanExec => b }
    assert(scans.size == 1 && scans.head.scan.isInstanceOf[GraftScan],
      "DecodeJob.run is not one GraftScan:\n" + plan)
    assert(scans.head.scan.description().contains("ReadColumns=[url,warc_ts,html,text,lang]"),
      "DecodeJob.run does not read every column:\n" + plan)
  }

  test("column pruning reaches the scan and values match the projection") {
    import spark.implicits._
    val df = read().select($"url", $"lang")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadColumns=[url,lang]"),
      "projection not pushed to GraftScan:\n" + plan)
    val got = df.as[(String, String)].collect().sorted.toSeq
    val want = WebtextGen.pages(spark, 800L, partitions = 4)
      .select($"url", $"lang").as[(String, String)].collect().sorted.toSeq
    assert(got == want)
  }

  test("column pruning reduces actual disk I/O, not just record assembly") {
    import spark.implicits._
    // Hadoop's built-in 'file' Statistics miss parquet's positioned-read
    // paths, so count bytes OURSELVES: a RawLocalFileSystem subclass
    // registered under cntfile:// whose streams count every read — and
    // drive the whole production path (listStatus + readers) through it.
    // text+html dominate chunk bytes, so a url+lang projection that
    // truly prunes I/O (ParquetFileReader.setRequestedSchema) must read
    // far fewer bytes than the full scan; assembly-only pruning reads
    // everything.
    spark.sparkContext.hadoopConfiguration
      .set("fs.cntfile.impl", classOf[CountingLocalFs].getName)
    val cdir = s"cntfile://$dir"
    def measure(f: => Unit): Long = {
      val b0 = CountingLocalFs.bytesRead.get()
      f
      CountingLocalFs.bytesRead.get() - b0
    }
    val narrow = measure {
      spark.read.format("graft").load(cdir).select($"url", $"lang")
        .write.format("noop").mode("overwrite").save()
    }
    val full = measure {
      spark.read.format("graft").load(cdir)
        .write.format("noop").mode("overwrite").save()
    }
    info(s"graft DSv2 bytes read: url+lang $narrow vs full $full")
    assert(narrow > 0 && full > 0, s"counting fs saw nothing: $narrow / $full")
    assert(narrow * 2 < full,
      s"projected scan read $narrow bytes vs full $full — block leaves not pruned at I/O level")

    // selective range scan: the row-group STATISTICS filter on
    // (urlMin, urlMax) must skip non-matching row groups BEFORE the
    // I/O, not just before decode. A row group's stats span the UNION
    // of the chunk rows it holds (pid-hash file assignment mixes url
    // ranges), so probe with the GLOBAL MINIMUM url — every group not
    // containing it has min(urlMin) above it and must drop
    val one = spark.read.format("graft").load(dir)
      .agg(org.apache.spark.sql.functions.min("url")).collect().head.getString(0)
    val ranged = measure {
      spark.read.format("graft").load(cdir)
        .filter(org.apache.spark.sql.functions.col("url") === one)
        .write.format("noop").mode("overwrite").save()
    }
    info(s"graft DSv2 bytes read: url-equality ranged $ranged vs full $full")
    // granularity is the ROW GROUP (its stats span the chunks it
    // holds), so the saving is the dropped groups' bytes, not
    // everything-but-one-chunk; assert a pruned group's worth of I/O
    // disappeared rather than a per-chunk ideal
    assert(ranged < full * 9 / 10,
      s"ranged scan read $ranged bytes vs full $full — no row group pruned at I/O level")
  }

  test("url-range predicates are consumed: chunk+row pruning, exact rows") {
    import spark.implicits._
    val source = WebtextGen.pages(spark, 800L, partitions = 4)
    val urls = source.select($"url").as[String].collect().sorted
    val (lo, hi) = (urls(200), urls(600))
    val df = read().select($"url", $"text")
      .filter($"url" >= lo && $"url" <= hi)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(s"url >= '$lo'") && plan.contains(s"url <= '$hi'"),
      "url bounds not pushed into GraftScan:\n" + plan)
    val got = df.as[(String, String)].collect().sortBy(_._1).toSeq
    val want = source.filter($"url" >= lo && $"url" <= hi)
      .select($"url", $"text").as[(String, String)].collect().sortBy(_._1).toSeq
    assert(got == want, s"range read mismatch: got ${got.size}, want ${want.size}")
  }

  test("url and ts ranges together on a projection holding neither column") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val source = WebtextGen.pages(spark, 800L, partitions = 4).toDF()
    val urls = source.select($"url").as[String].collect().sorted
    val micros = source.select(unix_micros($"warc_ts")).as[Long].collect().sorted
    val pred = $"url" >= urls(100) && $"url" <= urls(700) &&
      $"warc_ts" >= timestamp_micros(lit(micros(150))) &&
      $"warc_ts" <= timestamp_micros(lit(micros(650)))
    val df = read().filter(pred).select($"lang")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadColumns=[lang]") && plan.contains(s"url >= '${urls(100)}'") &&
      plan.contains(s"warc_ts_micros <= ${micros(650)}"),
      "bounds not consumed under a lang-only projection:\n" + plan)
    val got = df.as[String].collect().sorted.toSeq
    val want = source.filter(pred).select($"lang").as[String].collect().sorted.toSeq
    assert(got == want, s"url+ts range mismatch: got ${got.size}, want ${want.size}")
    assert(got.nonEmpty && got.size < 601, s"degenerate intersection: ${got.size}")
  }

  test("decode CLI rejects duplicate or unknown projection columns") {
    import graft.jobs.PipelineCli.decodeColumns
    assert(decodeColumns("lang,url") == Seq("lang", "url"))
    // duplicates would otherwise surface later as parquet's confusing
    // 'Found duplicate column(s)' on write
    val dup = intercept[IllegalArgumentException](decodeColumns("url,url"))
    assert(dup.getMessage.contains("duplicate"))
    val unknown = intercept[IllegalArgumentException](decodeColumns("nope"))
    assert(unknown.getMessage.contains("columns must be among"))
  }

  test("a corrupt chunk row count fails a projected read with a named error") {
    import org.apache.spark.sql.functions._
    // unchecked, a count past Int.MaxValue wraps negative and reads zero
    // rows, and one short of the blocks' count drops each chunk's last row
    for ((what, rows) <- Seq("2^31" -> lit(1L << 31), "rows - 1" -> (col("rows") - 1L))) {
      val bad = tmpDir("graft-dsv2-rows")
      graft.ScalingLevel.rmrf(bad)
      spark.read.parquet(s"$dir/chunks").withColumn("rows", rows)
        .write.mode("overwrite").parquet(s"$bad/chunks")
      val projected = intercept[Exception] {
        spark.read.format("graft").load(bad).select("url").collect()
      }
      // the full typed decode is the same reader, with the same guard
      val full = intercept[Exception] {
        DecodeJob.run(spark, bad).write.format("noop").mode("overwrite").save()
      }
      for ((read, err) <- Seq("projected" -> projected, "full" -> full))
        assert(chain(err).exists(m => m.contains("chunk pid=") && m.contains("blockIdx=") &&
          m.contains("corrupt metadata")), s"$what, $read read: ${chain(err)}")
    }
  }

  test("STRICT bounds (>/<) are consumed on url and warc_ts, exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val source = WebtextGen.pages(spark, 800L, partitions = 4)
    val urls = source.select($"url").as[String].collect().sorted
    val (lo, hi) = (urls(200), urls(600))
    val df = read().select($"url")
      .filter($"url" > lo && $"url" < hi)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(s"url > '$lo'") && plan.contains(s"url < '$hi'"),
      "strict url bounds not pushed into GraftScan:\n" + plan)
    val got = df.as[String].collect().sorted.toSeq
    val want = urls.slice(201, 600).toSeq // strictly between
    assert(got == want, s"strict url range mismatch: got ${got.size}, want ${want.size}")

    // strict ts bounds fold to inclusive ±1µs (micros are integral)
    val micros = source.select(unix_micros($"warc_ts")).as[Long].collect().sorted
    val (tlo, thi) = (micros(100), micros(700))
    val tdf = spark.read.format("graft").load(dir)
      .filter($"warc_ts" > timestamp_micros(lit(tlo)) &&
        $"warc_ts" < timestamp_micros(lit(thi)))
      .select(unix_micros($"warc_ts").as("us"))
    val tplan = tdf.queryExecution.executedPlan.toString
    assert(tplan.contains(s"warc_ts_micros >= ${tlo + 1}") &&
      tplan.contains(s"warc_ts_micros <= ${thi - 1}"),
      "strict ts bounds not folded+pushed into GraftScan:\n" + tplan)
    val tgot = tdf.as[Long].collect().sorted.toSeq
    val twant = micros.filter(m => m > tlo && m < thi).toSeq
    assert(tgot == twant, s"strict ts range mismatch: got ${tgot.size}, want ${twant.size}")
  }

  test("equality predicate narrows to a single url") {
    import spark.implicits._
    val source = WebtextGen.pages(spark, 800L, partitions = 4)
    val one = source.select($"url").as[String].collect().sorted.apply(123)
    val got = read().filter($"url" === one).select($"lang").as[String].collect()
    val want = source.filter($"url" === one).select($"lang").as[String].collect()
    assert(got.toSeq == want.toSeq && got.length == 1)
  }

  test("write path: save runs the full encode pipeline; append resumes; overwrite truncates") {
    import spark.implicits._
    val out = tmpDir("graft-dsv2-write")
    graft.ScalingLevel.rmrf(out)
    val source = WebtextGen.pages(spark, 600L, seed = 21L, partitions = 4).toDF()

    source.write.format("graft").option("partitions", "4").mode("append").save(out)
    // the write produced the REAL engine layout: chunks + manifest, and
    // the DSv2 read sees exactly the source rows
    val back = spark.read.format("graft").load(out)
    assert(back.count() == 600L)
    assert(back.exceptAll(source).count() == 0L && source.exceptAll(back).count() == 0L)
    val pids = spark.read.parquet(s"$out/manifest").select($"pid").distinct().count()
    assert(pids == 4L, s"partitions option not honored: $pids pids")

    // plain append on an EXISTING table is refused: the engine's append
    // is a crash-resume (committed pids skipped), and silently dropping
    // genuinely new rows through the standard writer contract would be
    // data loss — the error says what to do instead
    val refuse = intercept[Exception] {
      source.write.format("graft").option("partitions", "4").mode("append").save(out)
    }
    assert(refuse.getMessage.contains("resume"), refuse.getMessage)

    // append WITH the explicit resume opt-in = resumable re-run of the
    // same job: all pids already committed are skipped, nothing duplicates
    source.write.format("graft").option("partitions", "4")
      .option("resume", "true").mode("append").save(out)
    assert(spark.read.format("graft").load(out).count() == 600L,
      "re-issued append duplicated rows instead of resuming")

    // null html/text/lang are LEGAL null rows (the codec null bitmaps
    // carry them — the same data the engine's CLI surface accepts), and
    // they round-trip as nulls through the write+read pair
    val nullDir = tmpDir("graft-dsv2-null")
    val withNulls = source.limit(50)
      .withColumn("html", org.apache.spark.sql.functions.lit(null).cast("binary"))
      .withColumn("lang", org.apache.spark.sql.functions.lit(null).cast("string"))
    withNulls.write.format("graft").option("partitions", "2")
      .mode("overwrite").save(nullDir)
    val nback = spark.read.format("graft").load(nullDir)
    assert(nback.count() == 50L &&
      nback.filter($"html".isNull && $"lang".isNull).count() == 50L,
      "null html/lang did not round-trip as null rows")
    // the ONE key constraint — url — still fails with a NAMED error
    val nullErr = intercept[Exception] {
      source.limit(5).withColumn("url",
        org.apache.spark.sql.functions.lit(null).cast("string"))
        .write.format("graft").mode("overwrite").save(tmpDir("graft-dsv2-nullurl"))
    }
    assert(chain(nullErr).exists(_.contains("must be non-null")),
      s"expected the named non-null url error, got: ${chain(nullErr)}")

    // overwrite truncates and re-encodes the new input
    val smaller = WebtextGen.pages(spark, 200L, seed = 22L, partitions = 2).toDF()
    smaller.write.format("graft").option("partitions", "2").mode("overwrite").save(out)
    val after = spark.read.format("graft").load(out)
    assert(after.count() == 200L)
    assert(after.exceptAll(smaller).count() == 0L && smaller.exceptAll(after).count() == 0L)
  }

  test("warc_ts-range predicates are consumed: exact rows, nulls excluded") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a table where some rows LOSE their warc_ts: a ts-range predicate
    // must never match them (SQL null-comparison semantics), at every
    // skip level (row-group stats, chunk stats, exact row filter)
    val src = WebtextGen.pages(spark, 400L, seed = 33L, partitions = 4).toDF()
      .withColumn("warc_ts",
        when(expr("url like '%7'"), lit(null).cast("timestamp"))
          .otherwise($"warc_ts"))
    val out = tmpDir("graft-dsv2-ts")
    graft.ScalingLevel.rmrf(out)
    src.write.format("graft").option("partitions", "4").mode("overwrite").save(out)

    val micros = src.filter($"warc_ts".isNotNull)
      .select(unix_micros($"warc_ts")).as[Long].collect().sorted
    val (lo, hi) = (micros(100), micros(300))
    val df = spark.read.format("graft").load(out)
      .filter($"warc_ts" >= timestamp_micros(lit(lo)) &&
        $"warc_ts" <= timestamp_micros(lit(hi)))
      .select($"url", unix_micros($"warc_ts").as("us"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(s"warc_ts_micros >= $lo") && plan.contains(s"warc_ts_micros <= $hi"),
      "ts bounds not pushed into GraftScan:\n" + plan)
    val got = df.as[(String, Long)].collect().sortBy(_._1).toSeq
    val want = src.filter($"warc_ts" >= timestamp_micros(lit(lo)) &&
        $"warc_ts" <= timestamp_micros(lit(hi)))
      .select($"url", unix_micros($"warc_ts").as("us"))
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(got == want, s"ts-range read mismatch: got ${got.size}, want ${want.size}")
    assert(got.nonEmpty && got.size < 400, s"degenerate range: ${got.size}")
  }

  test("ts-range scan skips row groups at the I/O level") {
    import org.apache.spark.sql.functions._
    spark.sparkContext.hadoopConfiguration
      .set("fs.cntfile.impl", classOf[CountingLocalFs].getName)
    val cdir = s"cntfile://$dir"
    def measure(f: => Unit): Long = {
      val b0 = CountingLocalFs.bytesRead.get()
      f
      CountingLocalFs.bytesRead.get() - b0
    }
    val full = measure {
      spark.read.format("graft").load(cdir)
        .write.format("noop").mode("overwrite").save()
    }
    // probe with the GLOBAL MINIMUM ts (same trick as the url spec): a
    // row group's (tsMin, tsMax) stats span the union of its chunks, so
    // only the group holding the minimum can survive an equality probe
    val minTs = spark.read.format("graft").load(dir)
      .agg(min("warc_ts")).collect().head.getTimestamp(0)
    val ranged = measure {
      spark.read.format("graft").load(cdir)
        .filter(col("warc_ts") === lit(minTs))
        .write.format("noop").mode("overwrite").save()
    }
    info(s"graft DSv2 bytes read: ts-equality ranged $ranged vs full $full")
    assert(ranged > 0 && full > 0, s"counting fs saw nothing: $ranged / $full")
    assert(ranged < full * 9 / 10,
      s"ts-ranged scan read $ranged bytes vs full $full — no row group pruned at I/O level")
  }

  test("ts filter on a pre-round-7 table (no ts statistics) stays exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the legacy table (see legacyDir) must fall back to the exact
    // decoded-row filter — a predicate over the missing stats columns
    // would wrongly treat them as all-null and drop every row group
    val legacy = legacyDir
    val micros = WebtextGen.pages(spark, 800L, partitions = 4)
      .select(unix_micros($"warc_ts")).as[Long].collect().sorted
    val (lo, hi) = (micros(200), micros(600))
    val pred = (c: DataFrame) => c.filter(
      col("warc_ts") >= timestamp_micros(lit(lo)) &&
        col("warc_ts") <= timestamp_micros(lit(hi)))
    val got = pred(spark.read.format("graft").load(legacy))
      .select($"url").as[String].collect().sorted.toSeq
    val want = pred(WebtextGen.pages(spark, 800L, partitions = 4).toDF())
      .select($"url").as[String].collect().sorted.toSeq
    assert(got == want && got.nonEmpty,
      s"legacy-table ts filter mismatch: got ${got.size}, want ${want.size}")
  }

  test("url and ts bounds prune chunk files at plan time, rows unchanged") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val files = chunkFiles(dir)
    assert(files >= 2, s"fixture has $files chunk files; pruning needs at least 2")
    // probes at the GLOBAL MINIMUM (the trick of the I/O specs above):
    // only the file holding it can match, every other file's footer
    // statistics start above the probe
    val urls = WebtextGen.pages(spark, 800L, partitions = 4)
      .select($"url").as[String].collect().sorted
    val micros = WebtextGen.pages(spark, 800L, partitions = 4)
      .select(unix_micros($"warc_ts")).as[Long].collect().sorted
    val ts = (us: Long) => timestamp_micros(lit(us))
    val cases = Seq(
      "url =" -> (col("url") === urls(0)),
      "inclusive url range" -> (col("url") >= urls(0) && col("url") <= urls(20)),
      "strict url range" -> (col("url") > urls(0) && col("url") < urls(20)),
      "warc_ts point" -> (col("warc_ts") >= ts(micros(0)) && col("warc_ts") <= ts(micros(0))))
    cases.foreach { case (what, pred) =>
      val scan = checkedScan(dir, encoded(), pred)
      val planned = scan.inputPartitions.length
      assert(planned >= 1 && planned < files,
        s"$what planned $planned input partitions for $files chunk files")
    }
    // an unfiltered scan plans every file
    assert(checkedScan(dir, encoded(), lit(true)).inputPartitions.length == files)
  }

  /** The parquet footer of every file directly in `dir`. */
  private def footers(dir: String): Seq[(String, org.apache.parquet.hadoop.metadata.ParquetMetadata)] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new HPath(f.getPath), spark.sparkContext.hadoopConfiguration))
        try f.getName -> r.getFooter finally r.close()
      }

  test("no footer-only chunk files: every chunk file holds a row group") {
    val fs = footers(s"$dir/chunks")
    assert(fs.nonEmpty)
    fs.foreach { case (n, f) => assert(!f.getBlocks.isEmpty, s"$n holds no row group") }
  }

  test("chunk and manifest files carry the schema Spark derives from the case classes") {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
    val conv = new SparkToParquetSchemaConverter()
    Seq(s"$dir/chunks" -> conv.convert(Encoders.product[graft.model.EncodedChunk].schema),
        s"$dir/manifest" -> conv.convert(Encoders.product[graft.model.PartitionManifest].schema))
      .foreach { case (d, want) =>
        val fs = footers(d)
        assert(fs.nonEmpty, s"no files in $d")
        fs.foreach { case (n, f) => assert(f.getFileMetaData.getSchema == want, s"$d/$n") }
      }
  }

  test("the scan reports listed and pruned chunk files as driver metrics") {
    import spark.implicits._
    val one = read().agg(org.apache.spark.sql.functions.min("url")).as[String].head()
    val scan = checkedScan(dir, encoded(), $"url" === one)
    val listed = scan.metrics("chunkFilesListed").value
    val pruned = scan.metrics("chunkFilesPruned").value
    assert(listed == chunkFiles(dir).toLong, s"chunkFilesListed $listed")
    assert(pruned == listed - scan.inputPartitions.length && pruned > 0,
      s"chunkFilesPruned $pruned, listed $listed, planned ${scan.inputPartitions.length}")
  }

  test("a file without ts statistics is never pruned by a ts bound") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val minTs = read().agg(min(unix_micros($"warc_ts"))).as[Long].head()
    val pred = col("warc_ts") === timestamp_micros(lit(minTs))
    // the same bound prunes the table that has the statistics ...
    assert(checkedScan(dir, encoded(), pred).inputPartitions.length < chunkFiles(dir))
    // ... and plans every file of the one that lacks them
    val files = chunkFiles(legacyDir)
    assert(files >= 1)
    assert(checkedScan(legacyDir, encoded(), pred).inputPartitions.length == files)
  }

  test("a read after a further commit sees the new chunk files") {
    import org.apache.spark.sql.functions._
    val t = tmpDir("graft-dsv2-commits")
    graft.ScalingLevel.rmrf(t)
    def batch(seed: Long, suffix: String): DataFrame =
      WebtextGen.pages(spark, 400L, seed = seed, partitions = 2)
        .withColumn("url", concat(col("url"), lit(suffix)))
    def commit(seed: Long, suffix: String): Unit =
      EncodeJob.run(spark,
        batch(seed, suffix)
          .as[graft.model.Page](org.apache.spark.sql.Encoders.product[graft.model.Page]),
        t, EncodeJob.Config(numPartitions = 4, resume = false,
          attemptId = Some(s"batch-$seed"), wholeTableStats = false))
    val pred = col("url") >= "https://h1." && col("url") < "https://h2."
    commit(51L, "")
    val before = checkedScan(t, batch(51L, ""), pred)
    val filesBefore = chunkFiles(t)
    commit(52L, "/b")
    val after = checkedScan(t, batch(51L, "").union(batch(52L, "/b")), pred)
    assert(chunkFiles(t) > filesBefore)
    assert(after.metrics("chunkFilesListed").value == chunkFiles(t).toLong)
    assert(after.inputPartitions.length > before.inputPartitions.length,
      s"planned ${before.inputPartitions.length} then ${after.inputPartitions.length}")
  }

  test("consecutive scans share the conf broadcast until a Hadoop setting changes") {
    val sc = spark.sparkContext
    val a = SerializableConf.broadcast(sc, spark.sessionState.newHadoopConf())
    val b = SerializableConf.broadcast(sc, spark.sessionState.newHadoopConf())
    assert(a.id == b.id, "an unchanged conf was broadcast again")
    val changed = spark.sessionState.newHadoopConf()
    changed.set("graft.spec.probe", "1")
    val c = SerializableConf.broadcast(sc, changed)
    assert(c.id != b.id && c.value.value.get("graft.spec.probe") == "1")
  }

  test("a Hadoop setting made only at session level reaches the DSv2 readers") {
    import spark.implicits._
    // cntfile2 is mapped through spark.conf ONLY, never on
    // sparkContext.hadoopConfiguration, and with the FileSystem cache
    // off: every reader must resolve the scheme from the conf the scan
    // shipped it, not from an instance the driver's listing cached
    assert(spark.sparkContext.hadoopConfiguration.get("fs.cntfile2.impl") == null)
    spark.conf.set("fs.cntfile2.impl", classOf[CountingLocalFs].getName)
    spark.conf.set("fs.cntfile2.impl.disable.cache", "true")
    try {
      val cdir = s"cntfile2://$dir"
      val source = WebtextGen.pages(spark, 800L, partitions = 4)
      val one = source.select($"url").as[String].collect().sorted.apply(321)
      val b0 = CountingLocalFs.bytesRead.get()
      val got = spark.read.format("graft").load(cdir).filter($"url" === one)
        .select($"url", $"lang").as[(String, String)].collect().toSeq
      val rowBytes = CountingLocalFs.bytesRead.get() - b0
      val want = source.filter($"url" === one)
        .select($"url", $"lang").as[(String, String)].collect().toSeq
      assert(got == want && got.length == 1, s"session-conf read mismatch: $got vs $want")
      assert(rowBytes > 0, "row reader did not read through the session-registered fs")
      // the pushed count goes through the other reader (GraftAggReader)
      val b1 = CountingLocalFs.bytesRead.get()
      assert(spark.read.format("graft").load(cdir).count() == 800L)
      assert(CountingLocalFs.bytesRead.get() - b1 > 0,
        "aggregate reader did not read through the session-registered fs")
    } finally {
      spark.conf.unset("fs.cntfile2.impl")
      spark.conf.unset("fs.cntfile2.impl.disable.cache")
    }
  }

  test("count(*) pushdown answers from chunk metadata, refuses under predicates") {
    import org.apache.spark.sql.functions._
    val df = read().agg(count(lit(1)).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates=[COUNT(*)"),
      "count(*) not pushed into GraftScan:\n" + plan)
    assert(df.collect().head.getLong(0) == 800L)

    // the pushed count reads the `rows` metadata column only — its I/O
    // must be a sliver of the full scan's
    spark.sparkContext.hadoopConfiguration
      .set("fs.cntfile.impl", classOf[CountingLocalFs].getName)
    val cdir = s"cntfile://$dir"
    def measure(f: => Unit): Long = {
      val b0 = CountingLocalFs.bytesRead.get()
      f
      CountingLocalFs.bytesRead.get() - b0
    }
    val full = measure {
      spark.read.format("graft").load(cdir)
        .write.format("noop").mode("overwrite").save()
    }
    val counted = measure {
      assert(spark.read.format("graft").load(cdir).count() == 800L)
    }
    info(s"graft DSv2 bytes read: pushed count $counted vs full scan $full")
    // the floor is per-file parquet footers (the nested chunk schema
    // alone is ~3 KB of footer per file) + the tiny `rows` int64 column;
    // the assertion is "a sliver of the data", not "zero"
    assert(counted > 0 && counted < full / 8,
      s"pushed count read $counted bytes vs full $full — not a metadata-only answer")

    // under a consumed predicate the metadata cannot answer exactly:
    // pushdown is refused and the decoded-row count stays correct
    val one = spark.read.format("graft").load(dir)
      .agg(min("url")).collect().head.getString(0)
    val fdf = spark.read.format("graft").load(dir)
      .filter(col("url") === one).agg(count(lit(1)).as("n"))
    val fplan = fdf.queryExecution.executedPlan.toString
    assert(!fplan.contains("PushedAggregates"),
      "count pushed despite a consumed predicate:\n" + fplan)
    assert(fdf.collect().head.getLong(0) == 1L)
  }

  test("min/max pushdown answers url and warc_ts extrema from chunk metadata") {
    import org.apache.spark.sql.functions._
    val df = read().agg(min("url"), max("url"), min("warc_ts"), max("warc_ts"),
      count(lit(1)))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("MIN(url)") && plan.contains("MAX(warc_ts)") &&
      plan.contains("COUNT(*)"),
      "min/max/count not pushed into GraftScan:\n" + plan)
    val row = df.collect().head
    val src = WebtextGen.pages(spark, 800L, partitions = 4)
      .agg(min("url"), max("url"), min("warc_ts"), max("warc_ts"), count(lit(1)))
      .collect().head
    assert(row == src, s"pushed extrema $row != source recompute $src")

    // metadata-only I/O: far below even the url+lang projection
    spark.sparkContext.hadoopConfiguration
      .set("fs.cntfile.impl", classOf[CountingLocalFs].getName)
    val cdir = s"cntfile://$dir"
    val b0 = CountingLocalFs.bytesRead.get()
    spark.read.format("graft").load(cdir)
      .agg(min("url"), max("warc_ts")).collect()
    val aggBytes = CountingLocalFs.bytesRead.get() - b0
    info(s"graft DSv2 bytes read: pushed min/max $aggBytes")
    assert(aggBytes > 0 && aggBytes < 60000,
      s"pushed min/max read $aggBytes bytes — not metadata-only")

    // a LEGACY table without ts statistics still answers exactly (falls
    // back to decoding only the warc_ts blocks)
    val legacy = tmpDir("graft-dsv2-aggleg")
    graft.ScalingLevel.rmrf(legacy)
    spark.read.parquet(s"$dir/chunks").drop("tsMin", "tsMax")
      .write.mode("overwrite").parquet(s"$legacy/chunks")
    val lrow = spark.read.format("graft").load(legacy)
      .agg(min("warc_ts"), max("warc_ts")).collect().head
    assert(lrow == WebtextGen.pages(spark, 800L, partitions = 4)
      .agg(min("warc_ts"), max("warc_ts")).collect().head,
      s"legacy ts extrema wrong: $lrow")

    // an ALL-NULL-ts table answers null extrema and an exact count
    val nulls = tmpDir("graft-dsv2-aggnull")
    graft.ScalingLevel.rmrf(nulls)
    WebtextGen.pages(spark, 30L, seed = 9L, partitions = 2).toDF()
      .withColumn("warc_ts", lit(null).cast("timestamp"))
      .write.format("graft").option("partitions", "2").mode("overwrite").save(nulls)
    val nrow = spark.read.format("graft").load(nulls)
      .agg(min("warc_ts"), max("warc_ts"), count(lit(1))).collect().head
    assert(nrow.isNullAt(0) && nrow.isNullAt(1) && nrow.getLong(2) == 30L,
      s"all-null-ts extrema wrong: $nrow")
  }

  test("a FAILED overwrite leaves the original table intact (stage-then-swap)") {
    import org.apache.spark.sql.functions._
    val out = tmpDir("graft-dsv2-stage")
    graft.ScalingLevel.rmrf(out)
    val orig = WebtextGen.pages(spark, 100L, seed = 41L, partitions = 2).toDF()
    orig.write.format("graft").option("partitions", "2").mode("append").save(out)
    // a poisoned overwrite (null url trips the per-row guard mid-encode)
    // must fail WITHOUT touching the committed table: the encode runs in
    // a staging dir and the swap never happens
    intercept[Exception] {
      orig.withColumn("url", lit(null).cast("string"))
        .write.format("graft").option("partitions", "2").mode("overwrite").save(out)
    }
    val after = spark.read.format("graft").load(out)
    assert(after.count() == 100L, "failed overwrite destroyed the original table")
    assert(after.exceptAll(orig).count() == 0L && orig.exceptAll(after).count() == 0L)
    // the failed attempt's staging dir was cleaned up (target survived)
    val parent = new java.io.File(out).getParentFile
    val leftovers = parent.listFiles()
      .filter(_.getName.startsWith(new java.io.File(out).getName + ".__overwrite-"))
    assert(leftovers.isEmpty, s"staging leftovers: ${leftovers.mkString(", ")}")
    // and a HEALTHY overwrite still swaps in the new table
    val fresh = WebtextGen.pages(spark, 40L, seed = 42L, partitions = 2).toDF()
    fresh.write.format("graft").option("partitions", "2").mode("overwrite").save(out)
    val swapped = spark.read.format("graft").load(out)
    assert(swapped.count() == 40L)
    assert(swapped.exceptAll(fresh).count() == 0L && fresh.exceptAll(swapped).count() == 0L)
  }

  test("overwrite with a TRAILING-SLASH path stages as a sibling, not a child") {
    // save("/data/t/") used to derive the staging dir as "/data/t/.__overwrite-…"
    // — a CHILD of the table dir, which deleteRecursive(path) then destroyed
    // before the rename, losing BOTH the old and the new copy
    val out = tmpDir("graft-dsv2-slash")
    graft.ScalingLevel.rmrf(out)
    val orig = WebtextGen.pages(spark, 60L, seed = 43L, partitions = 2).toDF()
    orig.write.format("graft").option("partitions", "2").mode("append").save(out)
    val fresh = WebtextGen.pages(spark, 30L, seed = 44L, partitions = 2).toDF()
    fresh.write.format("graft").option("partitions", "2").mode("overwrite").save(out + "/")
    val after = spark.read.format("graft").load(out)
    assert(after.count() == 30L, "trailing-slash overwrite lost the table")
    assert(after.exceptAll(fresh).count() == 0L && fresh.exceptAll(after).count() == 0L)
    // no staging leftovers beside OR inside the table dir
    val dirFile = new java.io.File(out)
    val beside = dirFile.getParentFile.listFiles()
      .filter(_.getName.startsWith(dirFile.getName + ".__overwrite-"))
    val inside = Option(dirFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(".__overwrite-"))
    assert(beside.isEmpty && inside.isEmpty,
      s"staging leftovers: ${(beside ++ inside).mkString(", ")}")
  }

  test("empty projection (count star) and empty table read") {
    // count(*): Spark prunes to a zero-width schema — the reader must
    // still emit one row per decoded row
    assert(read().count() == 800L)
    // an encode dir without a chunks table is a valid zero-row table
    val empty = tmpDir("graft-dsv2-empty")
    graft.ScalingLevel.rmrf(empty)
    new java.io.File(empty).mkdirs()
    assert(spark.read.format("graft").load(empty).count() == 0L)
    // a nonexistent dir fails loudly at planning
    val err = intercept[Exception] {
      spark.read.format("graft").load(s"$empty/nope").count()
    }
    assert(err.getMessage != null)
  }
}
