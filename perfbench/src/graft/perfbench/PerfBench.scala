package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.codec.ColumnCodec
import graft.jobs.{DecodeJob, EncodeJob, VerifyJob}
import graft.model.{Page, TsMicros}

/** The repository benchmark: one closed-loop client drives the engine's
  * public API (EncodeJob.run, DecodeJob.run, VerifyJob.run and
  * spark.read.format("graft")) on a generated corpus and checks every
  * answer against the generator.
  *
  * Usage: PerfBench --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Every workload runs the same kinds of operation, so every end-to-end
  * metric is measured on every workload; the workloads differ in the data
  * (no hot host, or one host owning half the docs) and in how the run's
  * time is split. The last stdout line is one JSON object: end-to-end
  * metrics with --trace 0, per-layer metrics with --trace 1. The exit code
  * is 1 if any operation failed or returned a wrong answer. */
object PerfBench {

  /** One workload's data shape and what differs in its rounds: full-width
    * encodes per round, quarter-width encodes (traced runs only, one in
    * each of the first `quarterEncodes` rounds; their metrics are
    * per-layer) and lookups and url ranges per round. */
  final case class Workload(
      name: String,
      skewShare: Double,
      docs: Int,
      fullEncodesPerRound: Int,
      quarterEncodes: Int,
      lookups: Int)

  // bulk_encode: a full-width encode every round, so the codec kernel,
  // shuffle, sort and chunk write do most of the timed work. scan_mix: no
  // encode in the timed pass (its full-width samples are the set-up's);
  // point lookups and range scans against the table encoded in set-up do
  // most of the work, with small commits each followed by two reads.
  val Workloads: Map[String, Workload] = Seq(
    Workload("bulk_encode", skewShare = 0.0, docs = 12000, fullEncodesPerRound = 2,
      quarterEncodes = 2, lookups = 8),
    Workload("scan_mix", skewShare = 0.5, docs = 10000, fullEncodesPerRound = 0,
      quarterEncodes = 1, lookups = 10))
    .map(w => w.name -> w).toMap

  /** A run is max(2, seconds / RoundSeconds) rounds, so its work is fixed by
    * --seconds and the same on every commit. Every round runs every
    * operation type, so a burst of host noise shifts a minority of each
    * metric's samples instead of all samples of one metric. Besides the
    * workload's encodes, lookups and url ranges, a round runs 4 decodes,
    * 1 warc_ts range, 3 column scans and 3 stream commits of BatchDocs docs,
    * each followed by 2 hot-host reads. */
  val RoundSeconds = 15
  val DecodesPerRound = 4
  val ScansPerRound = 3
  val CommitsPerRound = 3
  val ReadsPerCommit = 2
  val BatchDocs = 1000
  val WarmUpCalls = 3

  /** Fixed pid count: the same url-range geometry at both parallelism
    * levels and in every commit, so both encode levels write identical
    * bytes. */
  val Pids = 8
  val SetupReps = 3

  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean, work: String) {
    val rounds: Int = math.max(2, seconds / RoundSeconds)
  }

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = Workloads.getOrElse(need("workload"), throw new IllegalArgumentException(
      s"unknown workload ${need("workload")}; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1", need("work"))
  }

  // ------------------------------------------------------------ helpers

  def median(xs: scala.collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: scala.collection.Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  def chunkFiles(table: String): Int =
    Option(new File(EncodeJob.chunksDir(table)).listFiles())
      .map(_.count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")))
      .getOrElse(0)

  /** (total, steal) jiffies from the first line of /proc/stat; zeros where
    * the file does not exist. */
  def cpuJiffies(): (Long, Long) = {
    val f = new File("/proc/stat")
    if (!f.exists) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val v = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (v.take(8).sum, if (v.length > 7) v(7) else 0L)
      } finally src.close()
    }
  }

  def loadAvg1(): Double = {
    val f = new File("/proc/loadavg")
    if (!f.exists) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().next().split("\\s+")(0).toDouble finally src.close()
    }
  }

  /** Runs `f` while `hold` of the session's task slots are occupied by
    * parked tasks, so its tasks run `slots - hold` at a time. The plan,
    * the input splits and the output are those of the full-width run; only
    * task concurrency differs, which is what the N to 4N scaling ratio
    * compares. Parked tasks wait on a latch and use no CPU. */
  object SlotHold {
    @volatile var latch: CountDownLatch = new CountDownLatch(0)
    val parked = new AtomicInteger(0)

    def apply[A](spark: SparkSession, hold: Int)(f: => A): A = {
      if (hold <= 0) return f
      val sc = spark.sparkContext
      latch = new CountDownLatch(1)
      parked.set(0)
      implicit val ec: ExecutionContext = ExecutionContext.global
      val holder = Future {
        sc.setLocalProperty(Tracer.TagKey, null)
        sc.parallelize(0 until hold, hold).foreach { _ =>
          SlotHold.parked.incrementAndGet()
          SlotHold.latch.await(10, TimeUnit.MINUTES)
        }
      }
      while (parked.get() < hold) {
        if (holder.isCompleted) Await.result(holder, Duration.Zero)
        Thread.sleep(1)
      }
      try f
      finally {
        latch.countDown()
        Await.result(holder, Duration(2, TimeUnit.MINUTES))
      }
    }
  }

  // ------------------------------------------------------------ one pass

  /** One EncodeJob.run of the table corpus: level "N" or "q", start on the
    * nanoTime clock, wall, what the listener saw, and (traced runs only)
    * the sum of its manifest's encodeNanos in seconds. */
  final case class EncodeCall(level: String, t0: Long, r: EncodeJob.Result, ns: Long,
                              stats: CallStats, dir: String, kernelS: Double)

  /** Everything one timed pass measured. */
  final class Pass {
    var failed = 0
    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[String]
    val encodeN, encodeQ, decode, lookup, urlRange, tsRange, scan, commit, freshRead =
      mutable.ArrayBuffer.empty[Double]
    /** Commit plus fresh-read wall of the stream's operations. */
    var streamNs = 0L
    var streamDocs = 0L
    var wallNs = 0L
    var steal = 0.0
    var verifyMismatches = 0L
    val planMs = mutable.ArrayBuffer.empty[Double]
    val lookupKeys = mutable.ArrayBuffer.empty[String]
    val encodeCalls = mutable.ArrayBuffer.empty[EncodeCall]
    val commitCalls = mutable.ArrayBuffer.empty[(EncodeJob.Result, CallStats, Int)]
    val decodeCalls, lookupCalls = mutable.ArrayBuffer.empty[CallStats]

    def check(what: String)(ok: Boolean): Unit = {
      attempted += 1
      if (!ok) { failed += 1; failures += what }
    }
  }

  final class Bench(spark: SparkSession, a: Args, corpus: Corpus, root: String) {
    import spark.implicits._
    private val w = a.workload
    val slots: Int = spark.sparkContext.defaultParallelism
    val quarter: Int = math.max(1, slots / 4)
    val tableIn = s"$root/in/table"
    val streamIn = s"$root/in/stream"
    val table = s"$root/table"
    private val rnd = new java.util.Random(a.seed * 0x9e3779b97f4a7c15L + 1L)

    def encodeCfg = EncodeJob.Config(numPartitions = Pids)

    /** One set-up: generate the inputs and encode the table every read
      * uses. Repeated; the first repetition also warms the JIT and Spark's
      * code generation. */
    def setup(p: Pass, tr: Tracer): EncodeJob.Result = {
      rmrf(new File(s"$root/in"))
      rmrf(new File(table))
      corpus.write(spark, tableIn, streamIn, files = 2 * slots)
      val t0 = System.nanoTime()
      val ((r, stats), ns) = timed(tr.call(s"EncodeJob.run local[$slots] set-up", "encode")(
        EncodeJob.run(spark, corpus.table(spark, tableIn), table, encodeCfg)))
      p.encodeN += ns / 1e9
      p.encodeCalls += EncodeCall("N", t0, r, ns, stats, table, kernelSeconds(tr, table))
      r
    }

    /** Sum of the manifest's encodeNanos, read only when tracing; the read
      * counts as tracing overhead. */
    private def kernelSeconds(tr: Tracer, dir: String): Double =
      if (!tr.enabled) 0.0
      else {
        val (ns, took) = timed(spark.read.parquet(EncodeJob.manifestDir(dir))
          .agg(sum($"encodeNanos")).as[Long].head())
        tr.ownNs += took
        ns / 1e9
      }

    def timed[A](f: => A): (A, Long) = {
      val t0 = System.nanoTime()
      val r = f
      (r, System.nanoTime() - t0)
    }

    /** Runs one op; an exception counts as a failed op instead of ending
      * the run. */
    private def op(p: Pass, what: String)(f: => Unit): Unit =
      try f catch {
        case e: Exception =>
          p.check(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")(false)
      }

    /** One encode of the corpus into a fresh directory at full width ("N")
      * or quarter width ("q"). */
    def encodeOnce(p: Pass, tr: Tracer, lvl: String, i: Int, expectEnc: Long): Unit = {
      val input = corpus.table(spark, tableIn)
      val hold = if (lvl == "N") 0 else slots - quarter
      val dir = s"$root/enc-$lvl-$i"
      op(p, s"encode $lvl") {
        val t0 = System.nanoTime()
        val ((r, stats), ns) = timed(SlotHold(spark, hold) {
          tr.call(s"EncodeJob.run local[${slots - hold}]", "encode")(
            EncodeJob.run(spark, input, dir, encodeCfg))
        })
        (if (lvl == "N") p.encodeN else p.encodeQ) += ns / 1e9
        p.encodeCalls += EncodeCall(lvl, t0, r, ns, stats, dir, kernelSeconds(tr, dir))
        p.check(s"encode $lvl: encBytes ${r.encBytes} != $expectEnc of the set-up encode")(
          r.encBytes == expectEnc)
        p.check(s"encode $lvl: rows ${r.rows} != ${w.docs}")(r.rows == w.docs)
      }
    }

    def decodeOnce(p: Pass, tr: Tracer): Unit = op(p, "decode") {
      val (stats, ns) = timed(tr.call("DecodeJob.run", "decode") {
        DecodeJob.run(spark, table).write.format("noop").mode("overwrite").save()
      }._2)
      p.decode += ns / 1e9
      p.decodeCalls += stats
      p.check("decode")(true)
    }

    def verifyOnce(p: Pass, tr: Tracer): Unit = op(p, "verify") {
      val rep = tr.call("VerifyJob.run", "verify") {
        VerifyJob.run(spark, corpus.table(spark, tableIn), DecodeJob.run(spark, table))
      }._1
      p.verifyMismatches += rep.textMismatches + rep.htmlMismatches + rep.tsMismatches +
        rep.langMismatches + rep.rowMismatches + rep.countMismatches
      p.check(s"verify: $rep")(rep.ok)
    }

    private def graft = spark.read.format("graft").load(table)

    def lookupOnce(p: Pass, tr: Tracer): Unit = op(p, "lookup") {
      val id = rnd.nextInt(w.docs).toLong
      val want = corpus.page(id)
      val ((rows, stats), ns) = timed(tr.call("graft lookup", "lookup") {
        val df = graft.filter($"url" === want.url)
        val (_, planNs) = timed(df.queryExecution.executedPlan)
        p.planMs += planNs / 1e6
        df.collect()
      })
      p.lookup += ns / 1e6
      p.lookupCalls += stats
      p.lookupKeys += want.url
      p.check(s"lookup $id: ${rows.length} rows")(rows.length == 1)
      if (rows.length == 1) {
        val r = rows(0)
        p.check(s"lookup $id: row differs from the generator")(
          r.getAs[String]("url") == want.url &&
            TsMicros.micros(r.getAs[java.sql.Timestamp]("warc_ts")) == TsMicros.micros(want.warc_ts) &&
            java.util.Arrays.equals(r.getAs[Array[Byte]]("html"), want.html) &&
            java.util.Arrays.equals(r.getAs[String]("text").getBytes(UTF_8), want.text.getBytes(UTF_8)) &&
            r.getAs[String]("lang") == want.lang)
      }
    }

    /** Inclusive url range over ~1% of the table; urls are unique, so the
      * true count is the width in the sorted url index. */
    def urlRangeOnce(p: Pass, tr: Tracer): Unit = op(p, "url range") {
      val width = math.max(1, w.docs / 100)
      val i = rnd.nextInt(w.docs - width + 1)
      val (lo, hi) = (corpus.sortedUrls(i), corpus.sortedUrls(i + width - 1))
      val (rows, ns) = timed(tr.call("graft url range", "range") {
        graft.filter($"url" >= lo && $"url" <= hi).select($"url").collect()
      }._1)
      p.urlRange += ns / 1e6
      p.check(s"url range [$lo, $hi]: ${rows.length} rows, want $width")(
        rows.length == width && rows.forall { r => val u = r.getString(0); u >= lo && u <= hi })
    }

    def tsRangeOnce(p: Pass, tr: Tracer): Unit = op(p, "ts range") {
      val width = math.max(1, w.docs / 100)
      val i = rnd.nextInt(w.docs - width + 1)
      val (lo, hi) = (corpus.sortedTs(i), corpus.sortedTs(i + width - 1))
      val (n, ns) = timed(tr.call("graft warc_ts range", "range") {
        graft.filter($"warc_ts" >= lit(TsMicros.toTs(lo)) && $"warc_ts" <= lit(TsMicros.toTs(hi)))
          .select($"warc_ts").collect().length.toLong
      }._1)
      p.tsRange += ns / 1e6
      p.check(s"ts range [$lo, $hi]: $n rows, want ${corpus.tsCount(lo, hi)}")(
        n == corpus.tsCount(lo, hi))
    }

    /** Projected full scans of (url, lang) and of text; the sums force every
      * projected value to be decoded and are checked against the corpus. */
    def scanOnce(p: Pass, tr: Tracer): Unit = op(p, "column scan") {
      val ((a, b), ns) = timed(tr.call("graft column scan", "scan") {
        val a = graft.agg(count(lit(1)), sum(octet_length($"url")), sum(octet_length($"lang")))
          .as[(Long, Long, Long)].head()
        val b = graft.agg(sum(octet_length($"text"))).as[Long].head()
        (a, b)
      }._1)
      p.scan += ns / 1e9
      p.check(s"column scan: $a, $b")(
        a == ((w.docs.toLong, corpus.urlBytes, corpus.langBytes)) && b == corpus.textBytes)
    }

    /** Appends stream batch `i` to the stream table with the streaming
      * commit configuration, then reads the hot host's url range
      * [[ReadsPerCommit]] times. */
    def commitOnce(p: Pass, tr: Tracer, dir: String, i: Int): Unit = {
      op(p, s"commit $i") {
        val before = if (tr.enabled) chunkFiles(dir) else 0
        val ((r, stats), ns) = timed(tr.call("EncodeJob.run commit", "commit") {
          EncodeJob.run(spark, corpus.batch(spark, streamIn, i), dir,
            EncodeJob.Config(numPartitions = Pids, resume = false,
              attemptId = Some(s"batch-$i"), wholeTableStats = false))
        })
        p.commit += ns / 1e9
        p.streamNs += ns
        p.commitCalls += ((r, stats, if (tr.enabled) chunkFiles(dir) - before else 0))
        p.check(s"commit $i: rows ${r.rowsThisRun} != $BatchDocs")(r.rowsThisRun == BatchDocs)
      }
      (0 until ReadsPerCommit).foreach(_ => op(p, s"fresh read $i") {
        val (n, ns) = timed(tr.call("graft hot-host read", "fresh-read") {
          spark.read.format("graft").load(dir)
            .filter($"url" >= corpus.HotLo && $"url" < corpus.HotHi)
            .select($"url").collect().length.toLong
        }._1)
        p.freshRead += ns / 1e6
        p.streamNs += ns
        p.check(s"fresh read $i: $n rows, want ${corpus.hotAfterBatch(i)}")(
          n == corpus.hotAfterBatch(i))
      })
      p.streamDocs += BatchDocs
    }

    /** Untimed calls of each read type and a commit (into a throwaway
      * stream table), so that no timed sample pays for the first calls'
      * JIT and code generation: a first call ran 1.4 to 2 times as long as
      * the next ones. Checked like any other call. Ends with a full GC, so
      * every run starts its timed pass from the same heap state. */
    def warmUp(p: Pass, tr: Tracer): Unit = {
      val dir = s"$root/stream-warm-up"
      (0 until WarmUpCalls).foreach { _ =>
        decodeOnce(p, tr)
        lookupOnce(p, tr)
        urlRangeOnce(p, tr)
        scanOnce(p, tr)
      }
      tsRangeOnce(p, tr)
      commitOnce(p, tr, dir, 0)
      rmrf(new File(dir))
      System.gc()
    }

    /** One timed pass: a verify, then `rounds` rounds (see [[RoundSeconds]]). */
    def pass(tr: Tracer, expectEnc: Long): Pass = {
      val p = new Pass
      val streamDir = s"$root/stream"
      rmrf(new File(streamDir))
      val (j0, s0) = cpuJiffies()
      val t0 = System.nanoTime()
      tr.span(w.name, "workload") {
        tr.span("verify", "phase")(verifyOnce(p, tr))
        (0 until a.rounds).foreach { r =>
          tr.span(s"round $r", "phase") {
            (0 until w.fullEncodesPerRound).foreach(k => encodeOnce(p, tr, "N", r * 8 + k, expectEnc))
            if (tr.enabled && r < w.quarterEncodes) encodeOnce(p, tr, "q", r, expectEnc)
            (0 until DecodesPerRound).foreach(_ => decodeOnce(p, tr))
            (0 until w.lookups).foreach { _ =>
              lookupOnce(p, tr)
              urlRangeOnce(p, tr)
            }
            tsRangeOnce(p, tr)
            (0 until ScansPerRound).foreach(_ => scanOnce(p, tr))
            (0 until CommitsPerRound).foreach(c =>
              commitOnce(p, tr, streamDir, r * CommitsPerRound + c))
          }
        }
      }
      p.wallNs = System.nanoTime() - t0
      val (j1, s1) = cpuJiffies()
      p.steal = if (j1 > j0) 100.0 * (s1 - s0) / (j1 - j0) else 0.0
      op(p, "stream total") {
        val n = spark.read.format("graft").load(streamDir).count()
        p.check(s"stream ends with $n rows, want ${p.streamDocs}")(n == p.streamDocs)
      }
      p
    }

    def cleanup(p: Pass): Unit = p.encodeCalls.foreach(c => rmrf(new File(c.dir)))
  }

  // ------------------------------------------------------------ metrics

  final case class Metric(name: String, value: Double, unit: String)

  /** The gated end-to-end metrics. Full-width encode samples include the
    * set-up's encodes of the same corpus (`setupEncodes`), which are the
    * same call; the median sets the cold first one aside. */
  def endToEnd(setupS: Double, setupEncodes: Seq[Double], table: EncodeJob.Result,
               corpus: Corpus, p: Pass): Seq[Metric] = {
    val raw = table.rawBytes.toDouble
    Seq(
      Metric("setup_s", setupS, "s"),
      Metric("encode_gbps", raw / 1e9 / median(setupEncodes ++ p.encodeN), "GB/s"),
      Metric("decode_gbps", raw / 1e9 / median(p.decode), "GB/s"),
      Metric("bytes_per_raw", table.encBytes.toDouble / raw, "ratio"),
      Metric("bytes_per_fl", table.encBytes.toDouble / table.flBaselineBytes, "ratio"),
      Metric("lookup_p50_ms", median(p.lookup), "ms"),
      Metric("range_p50_ms", median(p.urlRange), "ms"),
      Metric("column_scan_gbps",
        (corpus.urlBytes + corpus.langBytes + corpus.textBytes) / 1e9 / median(p.scan), "GB/s"),
      Metric("commit_p50_s", median(p.commit), "s"),
      Metric("append_docs_per_s", p.streamDocs / (p.streamNs / 1e9), "docs/s"),
      Metric("fresh_read_p50_ms", median(p.freshRead), "ms"))
  }

  val ByteCodecNames = Seq("dict", "fl_plain", "plain_lens", "fl_bitpack_lens", "rle_lens", "fsst_lens")
  val LongCodecNames = Seq("for_bitpack", "rle_i64", "delta_for", "plain_i64", "fl_plain_i64")
  val Columns = Seq("url", "warc_ts", "html", "text", "lang")

  /** Per-layer metrics of a traced run; `calls` holds every encode of the
    * corpus, the set-up's included. */
  def perLayer(spark: SparkSession, b: Bench, tr: Tracer, calls: Seq[EncodeCall], p: Pass,
               corpus: Corpus): Seq[Metric] = {
    import spark.implicits._
    val m = mutable.ArrayBuffer.empty[Metric]
    def add(n: String, v: Double, u: String): Unit = m += Metric(n, v, u)

    // EncodeJob, full-width encodes
    val nCalls = calls.filter(_.level == "N")
    def medOf(f: EncodeCall => Double) = median(nCalls.map(f))
    add("EncodeJob.bounds_s", medOf(_.r.boundsNanos / 1e9), "s")
    add("EncodeJob.write_job_s", medOf(_.r.encodeNanos / 1e9), "s")
    add("EncodeJob.manifest_s", medOf(_.r.manifestNanos / 1e9), "s")
    add("EncodeJob.layer_sum_frac", layerSumFrac(calls), "ratio")
    def writeTasks(c: EncodeCall) = writePhaseTasks(tr, c)
    add("EncodeJob.map_stage_task_s", medOf(c => writeTasks(c).filter(_.shuffleMap).map(_.runMs).sum / 1e3), "s")
    add("EncodeJob.map_stage_cpu_s", medOf(c => writeTasks(c).filter(_.shuffleMap).map(_.cpuNs).sum / 1e9), "s")
    add("EncodeJob.reduce_stage_task_s", medOf(c => writeTasks(c).filterNot(_.shuffleMap).map(_.runMs).sum / 1e3), "s")
    add("EncodeJob.reduce_stage_cpu_s", medOf(c => writeTasks(c).filterNot(_.shuffleMap).map(_.cpuNs).sum / 1e9), "s")
    add("EncodeJob.stage_sum_frac", stageSumFrac(tr, calls), "ratio")
    add("EncodeJob.gc_s", medOf(_.stats.sum(_.gcMs) / 1e3), "s")
    add("EncodeJob.shuffle_bytes", medOf(_.stats.sum(_.shuffleWriteBytes).toDouble), "bytes")
    add("EncodeJob.spill_bytes", medOf(_.stats.sum(_.diskSpillBytes).toDouble), "bytes")
    add("EncodeJob.chunk_bytes_written", medOf(c => writeTasks(c).map(_.outputBytes).sum.toDouble), "bytes")
    add("EncodeJob.tasks", medOf(_.stats.tasks.size.toDouble), "count")
    add("EncodeJob.task_failures", nCalls.map(_.stats.tasks.count(_.failed)).sum.toDouble, "count")
    add("EncodeJob.jobs_per_call", medOf(_.stats.jobs.size.toDouble), "count")
    add("EncodeJob.task_skew", medOf { c =>
      val d = writeTasks(c).filterNot(_.shuffleMap).map(_.runMs.toDouble)
      if (d.isEmpty) 0.0 else d.max / math.max(1.0, median(d)) }, "ratio")
    add("EncodeJob.kernel_task_s", medOf(_.kernelS), "s")
    // quarter width: the N/4 to N scaling ratio, as (N throughput / q
    // throughput) / (N / q); it can fall when both throughputs improve
    val qCalls = calls.filter(_.level == "q")
    val raw = nCalls.head.r.rawBytes.toDouble
    val (gbpsN, gbpsQ) = (raw / 1e9 / medOf(_.ns / 1e9), raw / 1e9 / median(qCalls.map(_.ns / 1e9)))
    add("EncodeJob.write_job_s_q", median(qCalls.map(_.r.encodeNanos / 1e9)), "s")
    add("EncodeJob.encode_gbps_q", gbpsQ, "GB/s")
    add("EncodeJob.scaling_efficiency", (gbpsN / gbpsQ) / (b.slots.toDouble / b.quarter), "ratio")
    // EncodeJob, streaming commits
    val cc = p.commitCalls.toSeq
    add("EncodeJob.commit_bounds_s", median(cc.map(_._1.boundsNanos / 1e9)), "s")
    add("EncodeJob.commit_write_job_s", median(cc.map(_._1.encodeNanos / 1e9)), "s")
    add("EncodeJob.commit_manifest_s", median(cc.map(_._1.manifestNanos / 1e9)), "s")
    add("EncodeJob.commit_jobs_per_call", median(cc.map(_._2.jobs.size.toDouble)), "count")
    add("EncodeJob.chunk_files_added", median(cc.map(_._3.toDouble)), "count")

    // ColumnCodec: single-threaded kernels on one chunk-sized block
    codecKernels(corpus).foreach(m += _)
    val chunks = spark.read.parquet(EncodeJob.chunksDir(b.table))
    Columns.foreach { c =>
      val rows = chunks.select(col(s"$c.codec"), col(s"$c.encBytes")).as[(String, Long)].collect()
      add(s"ColumnCodec.enc_bytes.$c", rows.map(_._2).sum.toDouble, "bytes")
      val names = if (c == "warc_ts") LongCodecNames else ByteCodecNames
      val counts = rows.groupBy(_._1.replace('+', '_')).map { case (k, v) => k -> v.length }
      names.foreach(n => add(s"ColumnCodec.codec_count.$c.$n", counts.getOrElse(n, 0).toDouble, "count"))
      add(s"ColumnCodec.codec_count.$c.other",
        counts.filter(kv => !names.contains(kv._1)).values.sum.toDouble, "count")
    }

    // DecodeJob
    val dc = p.decodeCalls.toSeq
    add("DecodeJob.task_s", median(dc.map(_.sum(_.runMs) / 1e3)), "s")
    add("DecodeJob.cpu_s", median(dc.map(_.sum(_.cpuNs) / 1e9)), "s")
    add("DecodeJob.bytes_read", median(dc.map(_.sum(_.inputBytes).toDouble)), "bytes")
    add("DecodeJob.tasks", median(dc.map(_.tasks.size.toDouble)), "count")

    // GraftDataSource, point lookups
    val lc = p.lookupCalls.toSeq
    add("GraftDataSource.plan_ms", median(p.planMs.toSeq), "ms")
    add("GraftDataSource.tasks_per_read", median(lc.map(_.tasks.size.toDouble)), "count")
    add("GraftDataSource.bytes_read_per_read", median(lc.map(_.sum(_.inputBytes).toDouble)), "bytes")
    // rows of the chunks whose (urlMin, urlMax) admits the key, which the
    // reader decodes, per row a lookup returns; from the chunk metadata
    val ranges = spark.read.parquet(EncodeJob.chunksDir(b.table))
      .select($"urlMin", $"urlMax", $"rows").as[(String, String, Long)].collect()
    add("GraftDataSource.rows_read_per_row_returned", median(p.lookupKeys.map(u =>
      ranges.filter(r => r._1 <= u && u <= r._2).map(_._3).sum.toDouble)), "ratio")
    add("GraftDataSource.chunk_files", chunkFiles(b.table).toDouble, "count")

    add("VerifyJob.mismatches", p.verifyMismatches.toDouble, "count")
    add("trace.overhead_frac", tr.ownNs.toDouble / p.wallNs, "ratio")
    add("trace.pass_s", p.wallNs / 1e9, "s")
    add("host.steal_pct", p.steal, "%")
    add("host.loadavg_1m", loadAvg1(), "load")
    m.toSeq
  }

  /** Single-threaded encode and decode throughput of each column's codec
    * entry point on one chunk-sized block of url-sorted rows. */
  def codecKernels(corpus: Corpus): Seq[Metric] = {
    val rows = (0 until 4096).map(i => corpus.page(i.toLong)).sortBy(_.url)
    def bytesCol(f: Page => Array[Byte]) = rows.map(f).toArray
    val byteCols = Seq(
      "url" -> bytesCol(_.url.getBytes(UTF_8)),
      "html" -> bytesCol(_.html),
      "text" -> bytesCol(_.text.getBytes(UTF_8)),
      "lang" -> bytesCol(_.lang.getBytes(UTF_8)))
    val ts = rows.map(r => TsMicros.micros(r.warc_ts)).toArray
    def rate(raw: Long)(f: => Unit): Double = {
      f // warm
      var reps = 0
      val t0 = System.nanoTime()
      while (reps < 3 || System.nanoTime() - t0 < 200000000L) { f; reps += 1 }
      raw.toDouble * reps / 1e6 / ((System.nanoTime() - t0) / 1e9)
    }
    val out = mutable.ArrayBuffer.empty[Metric]
    val tsEnc = ColumnCodec.encodeLongs(ts)
    out += Metric("ColumnCodec.encode_mb_s.warc_ts", rate(tsEnc.rawBytes)(ColumnCodec.encodeLongs(ts)), "MB/s")
    out += Metric("ColumnCodec.decode_mb_s.warc_ts", rate(tsEnc.rawBytes)(ColumnCodec.decodeLongs(tsEnc.bytes)), "MB/s")
    byteCols.foreach { case (c, v) =>
      val e = ColumnCodec.encodeBytes(v)
      out += Metric(s"ColumnCodec.encode_mb_s.$c", rate(e.rawBytes)(ColumnCodec.encodeBytes(v)), "MB/s")
      out += Metric(s"ColumnCodec.decode_mb_s.$c",
        rate(e.rawBytes)(require(ColumnCodec.decodeBytesView(e.bytes).n == v.length)), "MB/s")
    }
    out.toSeq
  }

  // ------------------------------------------------------------ main

  /** A `local[nproc - 1]` session whose scratch files stay under `local`.
    * The spare core runs the client thread, the JIT compiler and GC
    * threads; with `local[nproc]` they competed with the task threads, and
    * on a 4-vCPU host the spread of bulk_encode's run medians over ten
    * seeds was up to 3 times as wide (0.12-0.22 of the median against
    * 0.05-0.14). */
  def session(local: String): SparkSession = {
    val cpus = math.max(1, Runtime.getRuntime.availableProcessors() - 1)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"$local/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def json(ok: Boolean, attempted: Int, failed: Int, ms: Seq[Metric]): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    val body = ms.map(x =>
      s""""${x.name}": {"value": ${num(x.value)}, "unit": "${x.unit}"}""").mkString(", ")
    s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val w = a.workload
    val root = a.work
    val spark = session(s"$root/spark-local")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s: $what")
    mark("session ready")
    val code = try {
      val corpus = new Corpus(a.seed, w.docs, w.skewShare, a.rounds * CommitsPerRound, BatchDocs)
      val b = new Bench(spark, a, corpus, root)
      val tr = new Tracer(spark.sparkContext, enabled = a.trace)
      val warm = new Pass
      val setups = tr.span("set-up", "phase") {
        (1 to SetupReps).map { _ =>
          val t0 = System.nanoTime()
          val r = b.setup(warm, tr)
          (r, (System.nanoTime() - t0) / 1e9)
        }
      }
      val (_, warmUpNs) = b.timed(tr.span("warm-up", "phase")(b.warmUp(warm, tr)))
      // the warm-up is set-up work too, so that work moved into it shows
      val setupS = median(setups.map(_._2)) + warmUpNs / 1e9
      mark("set-up and warm-up done")
      val table = setups.last._1
      val p = b.pass(tr, table.encBytes)
      p.check(s"encBytes ${table.encBytes} > FL baseline ${table.flBaselineBytes}")(
        table.encBytes <= table.flBaselineBytes)
      mark("timed pass done")
      val metrics =
        if (!a.trace) endToEnd(setupS, warm.encodeN.toSeq, table, corpus, p)
        else {
          val calls = (warm.encodeCalls ++ p.encodeCalls).toSeq
          val sumFrac = layerSumFrac(calls)
          p.check(s"EncodeJob layer sum $sumFrac of the call wall, outside 10%")(
            sumFrac >= 0.9 && sumFrac <= 1.1)
          val stageFrac = stageSumFrac(tr, calls)
          p.check(s"write-job stages cover $stageFrac of its task time, outside 10%")(
            stageFrac >= 0.9 && stageFrac <= 1.1)
          val layers = perLayer(spark, b, tr, calls, p, corpus)
          tr.close()
          writeTrace(tr, new File(new File(root).getAbsoluteFile.getParentFile, "traces"),
            s"${w.name}-seed${a.seed}")
          layers
        }
      b.cleanup(p)
      val (attempted, failed) = (warm.attempted + p.attempted, warm.failed + p.failed)
      summary(a, b, setupS, setups.map(_._2), warmUpNs / 1e9, warm.encodeN.toSeq, table, corpus, p,
        attempted, failed)
      (warm.failures ++ p.failures).foreach(f => System.err.println(s"[perfbench] FAIL: $f"))
      println(json(failed == 0, attempted, failed, metrics))
      if (failed == 0) 0 else 1
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] aborted: $e")
        e.printStackTrace()
        2
    } finally spark.stop()
    sys.exit(code)
  }

  /** Whether an epoch-millisecond event time falls in the call's write
    * phase (EncodeJob's encodeNanos), with slack for the millisecond
    * resolution. */
  def inWritePhase(tr: Tracer, c: EncodeCall, ms: Long): Boolean = {
    val t = tr.fromEpochMs(ms)
    val lo = c.t0 + c.r.boundsNanos
    t >= lo - 2000000L && t <= lo + c.r.encodeNanos + 2000000L
  }

  /** Tasks of the stages of the jobs the call started in its write phase. */
  def writePhaseTasks(tr: Tracer, c: EncodeCall): Seq[TaskRec] = {
    val stages = c.stats.jobs.filter(j => inWritePhase(tr, c, j.startMs)).flatMap(_.stageIds).toSet
    c.stats.tasks.filter(t => stages.contains(t.stageId))
  }

  /** Task time of [[writePhaseTasks]] over the task time of every task the
    * call launched in its write phase, median over full-width calls: 1.0
    * when the job-window attribution misses no stage. */
  def stageSumFrac(tr: Tracer, calls: Seq[EncodeCall]): Double =
    median(calls.filter(_.level == "N").map { c =>
      val byJob = writePhaseTasks(tr, c).map(_.runMs).sum
      val byLaunch = c.stats.tasks.filter(t => inWritePhase(tr, c, t.launchMs)).map(_.runMs).sum
      byJob.toDouble / math.max(1L, byLaunch)
    })

  /** EncodeJob's own bounds + write + manifest times over the wall of the
    * call measured from outside, median over the pass's encodes. */
  def layerSumFrac(calls: Seq[EncodeCall]): Double =
    median(calls.map(c =>
      (c.r.boundsNanos + c.r.encodeNanos + c.r.manifestNanos).toDouble / c.ns))

  /** The readable summary on stderr: every end-to-end metric, the ungated
    * ones included, with sample counts and host noise. */
  def summary(a: Args, b: Bench, setupS: Double, setups: Seq[Double], warmUpS: Double,
              setupEncodes: Seq[Double], table: EncodeJob.Result, corpus: Corpus, p: Pass,
              attempted: Int, failed: Int): Unit = {
    val err = System.err
    val e2e = endToEnd(setupS, setupEncodes, table, corpus, p) ++ Seq(
      Metric("lookup_p90_ms", pct(p.lookup, 0.9), "ms"),
      Metric("range_p90_ms", pct(p.urlRange, 0.9), "ms"))
    err.println(f"[perfbench] workload ${a.workload.name} seed ${a.seed} local[${b.slots}], " +
      f"${a.rounds} rounds, ${a.workload.docs} docs, ${table.rawBytes} raw bytes")
    e2e.foreach(x => err.println(f"[perfbench]   ${x.name}%-20s ${x.value}%14.6f ${x.unit}"))
    err.println(f"[perfbench]   ${"ops_failed_frac"}%-20s ${failed.toDouble / math.max(1, attempted)}%14.6f ratio ($attempted ops)")
    err.println(f"[perfbench]   samples: encode ${setupEncodes.size}+${p.encodeN.size} (q ${p.encodeQ.size}), decode ${p.decode.size}, " +
      f"lookup ${p.lookup.size}, url range ${p.urlRange.size}, ts range ${p.tsRange.size} " +
      f"(p50 ${median(p.tsRange)}%.1f ms), commits ${p.commit.size}")
    err.println(f"[perfbench]   setup reps ${setups.map(s => f"$s%.2f").mkString(" ")} s, warm-up $warmUpS%.2f s; " +
      f"timed pass ${p.wallNs / 1e9}%.1f s; steal ${p.steal}%.1f%%; loadavg ${loadAvg1()}%.2f")
    def inOrder(what: String, xs: Iterable[Double]): Unit =
      err.println(s"[perfbench]   in order, $what: ${xs.map(x => f"$x%.3f").mkString(" ")}")
    inOrder("encode s", setupEncodes ++ p.encodeN)
    inOrder("decode s", p.decode)
    inOrder("lookup ms", p.lookup)
    inOrder("url range ms", p.urlRange)
    inOrder("column scan s", p.scan)
    inOrder("commit s", p.commit)
    inOrder("fresh read ms", p.freshRead)
  }

  def writeTrace(tr: Tracer, dir: File, name: String): Unit = {
    dir.mkdirs()
    val self = tr.selfTimes
    val spans = tr.allSpans
    val body = spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${graft.JsonEscape.quote(s.name)}, """ +
        s""""kind": "${s.kind}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, """ +
        s""""self_ns": ${self(s.id)}, "attrs": {$attrs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.write(new File(dir, s"$name.json").toPath, body.getBytes(UTF_8))
    System.err.println(s"[perfbench] trace: ${spans.size} spans -> $dir/$name.json")
    spans.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, ss) =>
      System.err.println(f"[perfbench]   self time ${k}%-12s ${ss.map(s => self(s.id)).sum / 1e9}%9.3f s " +
        f"over ${ss.size} spans")
    }
  }
}
