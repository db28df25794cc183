package graft.jobs

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.zip.CRC32

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.ColumnCodec
import graft.model._
import graft.sources.{ParquetRows, TableIO}

/** Distributed per-column encode.
  *
  * Pipeline (SURVEY.md §3.4):
  *   read -> assign pid from pinned url-range bounds (narrow column op,
  *   no typed materialization) -> filter completed (resume) ->
  *   repartition(pid) -> sortWithinPartitions(pid, url) ->
  *   mapPartitions(encode + write) -> collect. Each kernel task writes its
  *   chunks to ONE parquet file under `chunks/_staging-<attemptId>/` and
  *   returns one small row: the file name and the task's per-pid
  *   [[PidSummary]]s (the Spark analog of the reference's MPI_Allgather
  *   of sizes, fl_gpu.cu:100-109). The driver renames the reported files
  *   into `chunks/` and writes the summaries as the manifest — the chunk
  *   table is written once and never re-read, and no write goes through
  *   Spark's file writer.
  *
  * Exactly one shuffle (the pid repartition). A fresh-table encode runs
  * four Spark jobs: the bounds sample (one pass, count+reservoir fused;
  * map stage + collect) and the encode (shuffle map stage + the collect
  * whose tasks write the chunk files). A streaming commit onto pinned
  * bounds runs two: the encode's shuffle map stage and its collect
  * (EncodePipelineSpec pins both counts). The manifest is written by the
  * driver, with no job. Encoding is shuffle-free and embarrassingly
  * parallel, mirroring the reference's 128-aligned per-rank split
  * (/root/reference/src/file_io.cu:39-56); the reference's
  * gather-to-rank-0 (fl_gpu.cu:41-74) is inverted into a distributed
  * write + O(#pids) metadata, which is the piece that scales.
  *
  * Exactly once by construction: a `collect` keeps one result per
  * partition, from the task attempt Spark accepted, so each pid's
  * summary arrives once and names the one file that holds its chunks.
  * File names carry the partition id, the attemptId, a per-run nonce and
  * the task attempt id, so retried or speculative twins never collide;
  * files no accepted task reported (failed attempts, speculative losers)
  * are deleted with the staging dir. A straggler that writes after that
  * delete leaves only an `_`-prefixed dir, which the DSv2 scan's listing
  * and Spark's file index both skip. A task with no rows writes nothing.
  *
  * Commit order: `begin-` marker, the job, `mkdirs chunks/` (even for an
  * empty input, so the table stays readable), renames, staging delete,
  * `chunks-` marker, manifest (hidden temp name, then renamed to a
  * unique `part-…parquet`), marker cleanup. A crash before the `chunks-`
  * marker rolls the attempt back on the next reconcile (a partial set of
  * renamed files is indistinguishable from a complete one); a crash after
  * it rebuilds the manifest rows from the chunk metadata; a crash after
  * the manifest rename is deduplicated by the reconcile's anti-join
  * ([[reconcileOrphans]]).
  *
  * Resume (north_rule): url-range bounds are sampled once and pinned in
  * `bounds.json`; pid assignment is a pure function of (url, bounds), so
  * an interrupted run re-derives identical pids and skips every pid
  * already present in the manifest.
  *
  * Skewed hosts (north_rule "salting for skewed hosts"): the partition
  * key is the full url, which is unique per row, so a host that owns 50%
  * of the table is NOT a skewed shuffle key — the quantile bounds are
  * sampled at url granularity and fall *inside* the hot host's url space,
  * splitting it across as many pids as its share warrants. This subsumes
  * explicit salt columns (salting exists to split one over-frequent key;
  * here no key repeats) and keeps pid ranges contiguous for the manifest.
  * The skew test (EncodePipelineSpec) pins the resulting spread at <= 3x
  * the mean under a 50%-single-host distribution. AQE skew-join handles
  * the verify-join side.
  */
/** Shuffle row: input page + its assigned logical partition id. Top-level
  * (not nested) so Spark's reflection-based Encoder can resolve it. */
final case class PidPage(
    pid: Int, url: String, warc_ts: java.sql.Timestamp,
    html: Array[Byte], text: String, lang: String)

/** Per-pid metadata summary of one kernel task, folded over the chunks
  * it wrote (O(#pids) driver state; payload bytes never leave the
  * executors). It returns to the driver in the encode action's result
  * row ([[ChunkFile]]) and becomes that pid's manifest row. `codecs`
  * keeps the distinct codec set per column. */
final case class PidSummary(
    pid: Int, blocks: Long, rows: Long, urlMin: String, urlMax: String,
    rawBytes: Long, encBytes: Long, flBaselineBytes: Long, encodeNanos: Long,
    textCrc32Xor: Long, codecs: Map[String, Set[String]])

/** The encode action's one result row per task that wrote chunks: the
  * staged file's name and the summaries of the pids it holds. */
final case class ChunkFile(file: String, pids: Seq[PidSummary])

object EncodeJob {

  final case class Config(
      numPartitions: Int = 32,
      targetBlockBytes: Long = 16L << 20,
      maxBlockRows: Int = 65536,
      resume: Boolean = true,
      seedSampleSize: Int = 10000,
      /** Manifest lineage tag; None = fresh random UUID. Streaming sets
        * a deterministic per-micro-batch tag ("batch-<id>") so a replayed
        * batch is detectable and skippable (exactly-once pattern). */
      attemptId: Option[String] = None,
      /** Checkpoint wave: only encode pending pids < this bound, then
        * commit chunks+manifest. Repeated calls with a growing bound (or
        * None = all) give partition-granular resumability even though each
        * commit covers a whole run. */
      pidUpperBound: Option[Int] = None,
      /** "auto" = stats-driven selector (the engine); "fl" = FL bit-pack
        * only, the exact work of the reference CPU path, for
        * apples-to-apples throughput comparison. */
      codecMode: String = "auto",
      /** When false, skip the end-of-run whole-manifest totals
        * aggregation and report THIS RUN's totals in Result.rows/
        * rawBytes/encBytes/flBaselineBytes (pidsEncoded = pids committed
        * this run). Batch callers want the running totals (default);
        * a long-lived stream must NOT pay a manifest scan that grows
        * with every micro-batch ever committed — per-batch overhead
        * stays flat with this off. */
      wholeTableStats: Boolean = true)

  final case class Result(
      pidsEncoded: Long,
      pidsSkipped: Long,
      rows: Long,
      rawBytes: Long,
      encBytes: Long,
      flBaselineBytes: Long,
      wallNanos: Long,
      boundsNanos: Long = 0L,
      encodeNanos: Long = 0L,
      manifestNanos: Long = 0L,
      /** Work of THIS invocation only (rows/rawBytes/encBytes above are
        * whole-manifest running totals — resume-skipped pids included —
        * unless Config.wholeTableStats is false, in which case they
        * equal the ThisRun fields): throughput math must divide
        * this-run bytes by this-run wall. */
      rowsThisRun: Long = 0L,
      rawBytesThisRun: Long = 0L,
      encBytesThisRun: Long = 0L)

  /** Partition-count rule (README §Sizing at cluster scale): one pid per
    * ~128 MiB of RAW input so the post-shuffle per-task sort stays inside
    * execution memory (rows sit at 2-3x raw inside the sorter; measured:
    * 20 GB at 154 MB/pid spilled to 134 s where 77 MB/pid ran 75 s),
    * floored at 2 tasks per core for scheduling granularity. */
  def suggestPartitions(rawBytes: Long, totalCores: Int): Int =
    math.max(2 * totalCores, ((rawBytes + (128L << 20) - 1) / (128L << 20)).toInt)

  def chunksDir(outDir: String) = s"$outDir/chunks"
  def manifestDir(outDir: String) = s"$outDir/manifest"
  def boundsPath(outDir: String) = s"$outDir/bounds.json"

  /** Per-attempt marker files: `begin-<id>` before the encode job,
    * `chunks-<id>` after its staged chunk files are renamed into
    * `chunks/`, both deleted once the
    * attempt's manifest rows are committed. An attempt with NO markers is
    * therefore fully committed; any surviving marker names exactly the
    * attempts a crash may have left half-done — so the per-micro-batch
    * orphan reconcile is one directory listing in the steady state,
    * independent of how large the chunk table has grown. */
  def attemptsDir(outDir: String) = s"$outDir/_attempts"

  // ---------------------------------------------------------------- bounds

  /** Upper-exclusive cut points; pid = #bounds <= url (binary search).
    * Comparison is UTF-8 BINARY order — the one ordering used everywhere
    * (kernel sort, manifest min/max merge, decode range filter). Java
    * String order (UTF-16 code units) disagrees for supplementary-plane
    * characters, which would make adjacent pids' manifest url ranges
    * overlap and weaken chunk-level range pruning. */
  private[jobs] def pidOfBytes(bounds: Array[Array[Byte]], url: Array[Byte]): Int = {
    var lo = 0
    var hi = bounds.length // pid range is [0, bounds.length]
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (java.util.Arrays.compareUnsigned(url, bounds(mid)) >= 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  private val Utf8Ordering: Ordering[String] =
    (a: String, b: String) => utf8Compare(a, b)

  /** One merge group per ~this many scan partitions: the driver then
    * holds O(scanPartitions / GroupSpan) merged reservoirs instead of one
    * reservoir per scan partition — at 100 TB (~800k scan partitions)
    * the naive per-partition collect is tens of GB of sampled urls on
    * the driver; grouped, it is a few hundred MB. */
  private val BoundsGroupSpan = 1024

  /** Rows per requested partition the bounds sample must see before a
    * `resume = false` (streaming) run pins bounds.json: a tiny first
    * micro-batch would otherwise freeze unrepresentative url bounds for
    * every later batch. */
  private val StreamPinRowsPerPartition = 16L

  /** Compute (or reload pinned) url-range cut points in ONE pass: every
    * input partition keeps a fixed-size uniform reservoir of urls; a
    * deterministic second level (groups of [[BoundsGroupSpan]] scan
    * partitions, keyed by partitionId, inputs processed in partId order
    * with a group-seeded rng) weighted-merges reservoirs EXECUTOR-side
    * (A-Res weighted reservoir sampling), and only the per-group merges
    * reach the driver's weighted quantile sketch. This fuses the old
    * count() + sample() pair — at 100 TB a spare full pass over the
    * table is a real cost, and the bounds only steer balance, so sketch
    * precision is ample. */
  private def loadOrComputeBounds(
      spark: SparkSession, input: Dataset[Page], outDir: String, cfg: Config): Array[String] = {
    if (TableIO.exists(spark, boundsPath(outDir))) {
      parseJsonStringArray(TableIO.readTextFile(spark, boundsPath(outDir)))
    } else {
      import spark.implicits._
      val k = math.max(64, cfg.seedSampleSize / 16) // per-partition reservoir
      // merged-per-group reservoir: 4096 samples per 1024-partition group
      // keeps total samples ~4x the scan partition count, which tracks
      // numPartitions (both derive from input bytes) with margin
      val mergedK = math.max(k, 4096)
      val perPart: Array[(Long, Array[String])] = input.select($"url").as[String]
        .mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val rnd = new java.util.Random(42L + pid)
          val res = new Array[String](k)
          var n = 0L
          while (it.hasNext) {
            val u = it.next()
            // the bounds sampler is the FIRST code to touch urls — fail
            // named here, not as an anonymous NPE in the driver sort
            if (u == null) throw new IllegalArgumentException(
              "graft encode: null url — urls are the range key and must be non-null")
            if (n < k) res(n.toInt) = u
            else {
              val j = (rnd.nextDouble() * (n + 1)).toLong
              if (j < k) res(j.toInt) = u
            }
            n += 1
          }
          Iterator.single((pid / BoundsGroupSpan, pid, n,
            java.util.Arrays.copyOf(res, math.min(n, k.toLong).toInt)))
        }
        .groupByKey(_._1)
        .mapGroups { (group, members) =>
          // deterministic: members sorted by partId, rng seeded by group
          val sorted = members.toArray.sortBy(_._2)
          val total = sorted.map(_._3).sum
          val rnd = new java.util.Random(7L * (group + 1))
          // A-Res weighted reservoir: each sampled url stands for
          // n_i/|sample_i| rows; keep the mergedK highest rand^(1/w) keys
          val heap = new java.util.PriorityQueue[(Double, String)](
            math.max(1, mergedK), Ordering.by((e: (Double, String)) => e._1))
          sorted.foreach { case (_, _, n, arr) =>
            if (arr.nonEmpty) {
              val w = n.toDouble / arr.length
              arr.foreach { u =>
                val key = math.pow(rnd.nextDouble(), 1.0 / w)
                if (heap.size < mergedK) heap.add((key, u))
                else if (heap.peek()._1 < key) { heap.poll(); heap.add((key, u)) }
              }
            }
          }
          val merged = new Array[String](heap.size)
          var i = merged.length - 1
          while (i >= 0) { merged(i) = heap.poll()._2; i -= 1 }
          (total, merged)
        }
        .collect()
      // each sampled url stands for count_i/|sample_i| rows of its partition
      val weighted = perPart.filter(_._2.nonEmpty).flatMap { case (cnt, arr) =>
        val w = cnt.toDouble / arr.length
        arr.map(u => (u, w))
      }
        // encode each url ONCE and sort byte arrays: Utf8Ordering's
        // comparator re-encodes BOTH strings per comparison, which at
        // the 100 TB sample count (~millions of urls) is ~2·n·log n
        // transient encodings in the single-threaded driver section
        .map { case (u, w) => (u.getBytes(UTF_8), u, w) }
        .sortWith((a, b) => java.util.Arrays.compareUnsigned(a._1, b._1) < 0)
        .map { case (_, u, w) => (u, w) }
      // can't cut finer than the sample supports: with fewer samples than
      // requested partitions (an unsplittable giant file, sample caps),
      // derive as many equi-weight pids as the samples allow instead of
      // silently collapsing to "everything is pid 0" — which would funnel
      // the whole sort+encode through one task AND, being empty, never
      // pin, so a resume under different file splits could re-derive
      // different bounds against the completed-pid set
      val effParts = math.min(cfg.numPartitions, weighted.length)
      if (weighted.nonEmpty && effParts < cfg.numPartitions)
        // scalastyle:off println — operational warning, mirrors PipelineCli
        System.err.println(s"[graft] WARN: only ${weighted.length} url samples for " +
          s"${cfg.numPartitions} requested partitions — deriving $effParts pids " +
          "(unsplittable input or tiny sample?)")
      val bounds =
        if (effParts <= 1) Array.empty[String]
        else {
          val step = weighted.map(_._2).sum / effParts
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var acc = 0.0
          var next = step
          weighted.foreach { case (u, w) =>
            acc += w
            while (acc >= next && out.length < effParts - 1) { out += u; next += step }
          }
          out.toArray.distinct
        }
      val sampledRows = perPart.map(_._1).sum
      // never pin EMPTY bounds: an empty/tiny first run would otherwise
      // freeze "everything is pid 0" for all later (larger) runs into the
      // same outDir; empty bounds are trivially re-derivable anyway.
      // The min-rows pin guard applies to STREAMING use only (resume =
      // false inside foreachBatch): a resumable batch run must always pin,
      // because "unpinned runs deterministically re-derive identical
      // bounds" holds only under an identical input scan partitioning —
      // a resume after a crash with different file splits would otherwise
      // assign pids inconsistent with the completed-pid set.
      val pinMinRows = StreamPinRowsPerPartition * cfg.numPartitions
      if ((cfg.resume || sampledRows >= pinMinRows) && bounds.nonEmpty)
        // the ONE hand-emitted-JSON escaper (named escapes instead of the
        // old private \uXXXX variant — parseJsonStringArray accepts both)
        TableIO.writeTextFile(spark, boundsPath(outDir),
          bounds.map(graft.JsonEscape.quote).mkString("[", ",", "]"))
      bounds
    }
  }

  private def parseJsonStringArray(txt: String): Array[String] = {
    // bounds are urls we wrote ourselves (jsonQuote: \uXXXX-escaped
    // controls), but the parser accepts ALL standard JSON string escapes
    // and REJECTS unknown ones: a bounds.json regenerated or edited by
    // any ordinary JSON writer (which emits \n, \t, ... named escapes)
    // must parse to the same strings, never to silently corrupted bounds
    // that shift pid assignment against the completed-pid manifest
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    // truncation (a partial object-store copy) must fail with the SAME
    // explicit refusal as an unknown escape, not an anonymous
    // StringIndexOutOfBounds from walking past the buffer
    def truncated(): Nothing = throw new IllegalArgumentException(
      "truncated bounds json — refusing to guess at pid bounds")
    // a cut BETWEEN strings would otherwise parse silently to a PREFIX
    // of the bounds (the scanner just collects quoted strings) — wrong
    // geometry with no error; the closing bracket proves completeness
    val trimmed = txt.trim
    if (!(trimmed.startsWith("[") && trimmed.endsWith("]"))) truncated()
    var i = 0
    while (i < txt.length) {
      if (txt(i) == '"') {
        val sb = new StringBuilder
        i += 1
        while ({ if (i >= txt.length) truncated(); txt(i) != '"' }) {
          if (txt(i) == '\\') {
            if (i + 1 >= txt.length) truncated()
            txt(i + 1) match {
              case 'u'  =>
                if (i + 6 > txt.length) truncated()
                sb.append(Integer.parseInt(txt.substring(i + 2, i + 6), 16).toChar); i += 6
              case '"'  => sb.append('"'); i += 2
              case '\\' => sb.append('\\'); i += 2
              case '/'  => sb.append('/'); i += 2
              case 'n'  => sb.append('\n'); i += 2
              case 't'  => sb.append('\t'); i += 2
              case 'r'  => sb.append('\r'); i += 2
              case 'b'  => sb.append('\b'); i += 2
              case 'f'  => sb.append('\f'); i += 2
              case c    => throw new IllegalArgumentException(
                s"unsupported escape \\$c in bounds json — refusing to guess at pid bounds")
            }
          } else { sb.append(txt(i)); i += 1 }
        }
        out += sb.toString
      }
      i += 1
    }
    out.toArray
  }

  // ---------------------------------------------------------------- encode

  def run(spark: SparkSession, input: Dataset[Page], outDir: String,
          cfg: Config = Config()): Result = {
    import spark.implicits._
    val t0 = System.nanoTime()

    // Resume correctness hinges on the bounds GEOMETRY that numbered the
    // completed pids still being the one in force. If committed data
    // exists but bounds.json is gone (lost rename on an object store, or
    // a batch resume pointed at a streaming table whose tiny pre-pin
    // batches never froze bounds), re-deriving bounds would renumber the
    // url ranges and the completed-pid filter would skip DIFFERENT rows
    // than were encoded — silent data loss. Refuse up front, BEFORE
    // loadOrComputeBounds could derive-and-pin a fresh geometry.
    // (numPartitions == 1 is exempt: its geometry is trivially stable —
    // everything is pid 0 under any derivation — and it never pins, so
    // the guard would otherwise break its legitimate idempotent re-run.
    // The chunk-table emptiness probe is a tiny job, but it only runs on
    // this ABNORMAL path — bounds missing with a chunks dir present,
    // e.g. after an empty first run that committed nothing; the normal
    // resume never reaches it.)
    // Both probes check for committed ROWS, not mere dir existence: a
    // manifest/ (or chunks/) dir holding only a hidden temp file or a
    // staging dir — a crash during the very first write — has committed
    // NOTHING and must not trip the guard (it would otherwise refuse
    // every restart of a first run that died mid-write, a permanent
    // crash loop).
    if (cfg.resume && cfg.numPartitions > 1 &&
        !TableIO.exists(spark, boundsPath(outDir)) &&
        ((TableIO.exists(spark, manifestDir(outDir)) &&
            !manifestScan(spark, outDir).isEmpty) ||
          (TableIO.exists(spark, chunksDir(outDir)) &&
            !chunkMetaScan(spark, outDir).isEmpty)))
      throw new IllegalStateException(
        s"graft encode: $outDir has committed chunks/manifest but no bounds.json — " +
          "the pid geometry that numbered the completed partitions is unrecoverable, " +
          "and resuming under re-derived bounds would silently skip the wrong rows. " +
          "Restore bounds.json, re-encode from scratch (delete the table), or run " +
          "with resume=false into a fresh directory.")

    val bounds = loadOrComputeBounds(spark, input, outDir, cfg)
    val tBounds = System.nanoTime()

    var completed: Set[Int] =
      if (cfg.resume && TableIO.exists(spark, manifestDir(outDir)))
        manifestScan(spark, outDir).select($"pid").as[Int].collect().toSet
      else Set.empty

    // Reconcile the crash window between the chunk commit and the manifest
    // commit (see [[reconcileOrphans]]) so resume never re-encodes pids
    // whose complete chunk data is already on disk.
    if (cfg.resume) completed = completed ++ reconcileOrphans(spark, outDir)
    val completedBc = spark.sparkContext.broadcast(completed)

    val pidCap = cfg.pidUpperBound.getOrElse(Int.MaxValue)
    // pid assignment + resume filter as narrow column ops: the rows stay
    // Tungsten-binary until AFTER the shuffle (only `url` is evaluated);
    // a typed .map here would materialize every html/text payload as JVM
    // objects on the map side just to re-serialize them for the shuffle
    val boundsBytesBc = spark.sparkContext.broadcast(bounds.map(_.getBytes(UTF_8)))
    val assignPid = udf { (url: String) =>
      // named failure at the FIRST touch of the key: url has no null
      // representation (range/sort key); html/text/lang nulls are
      // legitimate null rows handled by the codec bitmaps
      require(url != null, "graft encode: null url — urls are the range key and must be non-null")
      pidOfBytes(boundsBytesBc.value, url.getBytes(UTF_8))
    }
    val isPending = udf((pid: Int) => !completedBc.value.contains(pid) && pid < pidCap)
    val withPid = input.toDF()
      .withColumn("pid", assignPid($"url"))
      .filter(isPending($"pid"))

    val targetBytes = cfg.targetBlockBytes
    val maxRows = cfg.maxBlockRows
    val flOnly = cfg.codecMode == "fl"
    // resolved BEFORE the job: every chunk carries the tag its manifest
    // row will carry, so a crash between the two commits is reconcilable
    // under the original attempt identity
    val attemptId = cfg.attemptId.getOrElse(java.util.UUID.randomUUID().toString)
    val staging = stagingDir(outDir, attemptId)
    // per-run nonce in every file name: a later run under the SAME
    // attemptId (pidUpperBound waves, a resumed crash) must never rename
    // onto a committed file (a local-FS rename overwrites)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    // the session's Hadoop conf as the broadcast the DSv2 scan shares,
    // so no task deserializes a conf copy of its own
    val hconf = spark.sessionState.newHadoopConf()
    val confBc = graft.sources.SerializableConf.broadcast(spark.sparkContext, hconf)
    // Hash repartition on the (already range-derived) pid, WITHOUT the
    // extra sampling pass a repartitionByRange would run over the whole
    // input. Honest balance math: hashing n dense pids into n tasks is
    // balls-into-bins — ~1/e of tasks get NO pid and the fullest gets
    // ~ln n/ln ln n. That is why pids should be sized by DATA (the
    // 128 MiB/pid rule), giving several scheduler waves per core, where
    // the imbalance amortizes; with task count == pid count == cores
    // (one wave) the max-loaded task IS the stage wall. Multiple pids
    // in one task is always CORRECT: the kernel cuts chunks at pid
    // boundaries, so output is identical either way.
    // The content-hash tiebreaker makes the sort a TOTAL order even when
    // the same url appears twice (a re-crawl with different content):
    // equal-key rows would otherwise keep nondeterministic relative order
    // across task attempts, so a retried attempt could cut chunks
    // differently from the one a crashed run left behind. With the
    // tiebreaker, every attempt encodes byte-identical chunks regardless
    // of upstream row order.
    val encoded = withPid
      .repartition(cfg.numPartitions, $"pid")
      .sortWithinPartitions($"pid", $"url", xxhash64($"warc_ts", $"text", $"html"))
      .as[PidPage]
      .mapPartitions { it =>
        val tc = org.apache.spark.TaskContext.get()
        writeChunkFile(encodePartition(it, targetBytes, maxRows, flOnly, attemptId),
          confBc.value.value, staging,
          f"part-${tc.partitionId()}%05d-$attemptId-$nonce-${tc.taskAttemptId()}.parquet")
      }

    // attempt lineage markers (see [[attemptsDir]]): begin- before the
    // job, chunks- after the renames, both removed after the manifest —
    // every crash window identifies itself by which markers survive, so
    // reconcile never has to scan for it.
    TableIO.touch(spark, s"${attemptsDir(outDir)}/begin-$attemptId")
    val fs = new Path(outDir).getFileSystem(hconf)
    val written =
      try encoded.collect()
      catch {
        case e: Throwable =>
          try fs.delete(new Path(staging), true)
          catch { case s: Exception => e.addSuppressed(s) }
          throw e
      }
    val chunks = new Path(chunksDir(outDir))
    fs.mkdirs(chunks)
    written.foreach { w =>
      val src = new Path(staging, w.file)
      require(fs.rename(src, new Path(chunks, w.file)), s"graft encode: rename $src -> $chunks failed")
    }
    fs.delete(new Path(staging), true)
    TableIO.touch(spark, s"${attemptsDir(outDir)}/chunks-$attemptId")
    val tEncode = System.nanoTime()

    // manifest straight from the kernel summaries (O(#pids), no re-read of
    // the chunk table); append-safe for resume. The repartition puts each
    // pid in exactly one task, and the action keeps one result per task,
    // so every pid has exactly one summary.
    val finishedAt = System.currentTimeMillis()
    // checked ONCE, before this run's manifest write: when no manifest
    // existed, this run's rows ARE the whole manifest
    val manifestExisted = TableIO.exists(spark, manifestDir(outDir))
    val manifestRows = written.toSeq.flatMap(_.pids).sortBy(_.pid)
      .map(s => PartitionManifest(
        s.pid, s.blocks, s.rows, s.urlMin, s.urlMax, s.rawBytes, s.encBytes,
        s.flBaselineBytes, s.encodeNanos, s.textCrc32Xor,
        s.codecs.map { case (c, set) => c -> set.toSeq.sorted.mkString("|") },
        attemptId, finishedAt))
    writeManifest(fs, outDir, manifestRows, hconf)
    // (pids, rows, rawBytes, encBytes, flBaselineBytes) committed by
    // THIS invocation, for Result
    val thisRun = (manifestRows.length.toLong, manifestRows.map(_.rows).sum,
      manifestRows.map(_.rawBytes).sum, manifestRows.map(_.encBytes).sum,
      manifestRows.map(_.flBaselineBytes).sum)
    // attempt fully committed: clear its markers (see [[attemptsDir]])
    TableIO.delete(spark, s"${attemptsDir(outDir)}/begin-$attemptId")
    TableIO.delete(spark, s"${attemptsDir(outDir)}/chunks-$attemptId")

    // wholeTableStats=false skips the whole-manifest aggregation entirely
    // (it grows with every committed attempt — a long-lived stream must
    // not pay it per micro-batch) and reports this run's totals instead.
    // So does a run that found no manifest: its rows are the whole
    // manifest (none when the input was empty), and no resume-skipped
    // pid exists — `completed` comes from manifest rows, including those
    // reconcile writes.
    // stats._1 is pids committed THIS RUN in both branches: the
    // whole-table branch counts distinct manifest pids and subtracts the
    // resume-skipped ones there, so the Result construction below never
    // has to re-adjust per branch (a past review misread exactly that).
    val stats =
      if (!cfg.wholeTableStats || !manifestExisted)
        (thisRun._1, Some(thisRun._2), Some(thisRun._3), Some(thisRun._4),
          Some(thisRun._5))
      else {
        val w = manifestScan(spark, outDir)
          // DISTINCT pids, not manifest rows: a pid can carry one manifest
          // row per attempt (streaming batches, reconcile), and rows minus
          // completed-pid count would overcount pidsEncoded
          .agg(countDistinct($"pid"), sum($"rows"), sum($"rawBytes"), sum($"encBytes"), sum($"flBaselineBytes"))
          .as[(Long, Option[Long], Option[Long], Option[Long], Option[Long])].head()
        (w._1 - completed.size, w._2, w._3, w._4, w._5)
      }
    Result(
      pidsEncoded = stats._1,
      pidsSkipped = completed.size.toLong,
      rows = stats._2.getOrElse(0L),
      rawBytes = stats._3.getOrElse(0L),
      encBytes = stats._4.getOrElse(0L),
      flBaselineBytes = stats._5.getOrElse(0L),
      wallNanos = System.nanoTime() - t0,
      boundsNanos = tBounds - t0,
      encodeNanos = tEncode - tBounds,
      manifestNanos = System.nanoTime() - tEncode,
      rowsThisRun = thisRun._2,
      rawBytesThisRun = thisRun._3,
      encBytesThisRun = thisRun._4)
  }

  private def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  /** Explicit-schema METADATA scan of the chunk table: only the columns a
    * caller selects are ever read (each encoded column is a top-level
    * struct leaf), so payload bytes stay on disk. The pinned schema
    * reads an empty chunks directory (an encode of an empty input) as
    * zero rows instead of failing parquet schema inference. Spark's file
    * index skips `_`-prefixed dirs, so staged files never show here. */
  private[graft] def chunkMetaScan(spark: SparkSession, outDir: String) =
    spark.read.schema(ChunkRows.schema).parquet(chunksDir(outDir))

  /** Explicit-schema manifest read. The schema matters beyond pruning: a
    * manifest dir that EXISTS but holds no data file (a crash during the
    * very first manifest write leaves only a hidden temp file, or a
    * table written by Spark's committer only its `_temporary`) must read
    * as an EMPTY table — a schema-inferring read throws 'Unable to infer
    * schema' there, which would turn that one crash window into a
    * permanent restart loop for both batch resume and the streaming
    * replay probe. */
  private[graft] def manifestScan(spark: SparkSession, outDir: String) =
    spark.read.schema(ManifestRows.schema).parquet(manifestDir(outDir))

  /** Parquet layouts of the two tables the engine writes itself. */
  private[graft] lazy val ChunkRows =
    new ParquetRows(org.apache.spark.sql.Encoders.product[EncodedChunk].schema)
  private[graft] lazy val ManifestRows =
    new ParquetRows(org.apache.spark.sql.Encoders.product[PartitionManifest].schema)

  /** Where an attempt's kernel tasks stage their chunk files. */
  private[graft] def stagingDir(outDir: String, attemptId: String) =
    s"${chunksDir(outDir)}/_staging-$attemptId"

  /** Writes `rows` as ONE manifest file, from the driver with no Spark
    * job: under a hidden temp name first, then renamed to a unique
    * `part-…parquet`, so a [[manifestScan]] never sees a partial file.
    * No rows, no file. */
  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem, outDir: String,
                            rows: Seq[PartitionManifest], conf: Configuration): Unit =
    if (rows.nonEmpty) {
      val name = s"part-${java.util.UUID.randomUUID()}.parquet"
      val tmp = new Path(manifestDir(outDir), s".$name.tmp")
      ManifestRows.write(tmp, conf, rows.iterator)
      val dst = new Path(manifestDir(outDir), name)
      require(fs.rename(tmp, dst), s"graft encode: rename $tmp -> $dst failed")
    }

  /** Distributed manifest derivation: one manifest row per
    * (pid, attemptId), aggregated from chunk metadata columns with no
    * driver materialization. Spark's StringType min/max compares UTF-8
    * BYTES (UTF8String order) — the same ordering the kernel sort, the
    * kernel's summary merge and the decode range filter use; Java String
    * order (UTF-16 code units) would disagree on supplementary-plane
    * characters. */
  private def manifestRowsFromChunks(
      spark: SparkSession,
      chunkMeta: org.apache.spark.sql.DataFrame,
      finishedAt: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    def codecsOf(c: String) = array_join(array_sort(collect_set(col(s"$c.codec"))), "|")
    chunkMeta
      .groupBy($"pid", $"attemptId")
      .agg(
        count(lit(1)).as("blocks"),
        sum($"rows").as("rows"),
        min($"urlMin").as("urlMin"),
        max($"urlMax").as("urlMax"),
        sum($"rawBytes").as("rawBytes"),
        sum($"encBytes").as("encBytes"),
        sum($"flBaselineBytes").as("flBaselineBytes"),
        sum($"encodeNanos").as("encodeNanos"),
        expr("bit_xor(textCrc32)").as("textCrc32Xor"),
        map(
          lit("url"), codecsOf("url"), lit("warc_ts"), codecsOf("warc_ts"),
          lit("html"), codecsOf("html"), lit("text"), codecsOf("text"),
          lit("lang"), codecsOf("lang")).as("codecs"))
      .select($"pid", $"blocks", $"rows", $"urlMin", $"urlMax",
        $"rawBytes", $"encBytes", $"flBaselineBytes", $"encodeNanos", $"textCrc32Xor", $"codecs", $"attemptId",
        lit(finishedAt).as("finishedAtEpochMs"))
  }

  /** Reconcile the crash window between a chunk commit and its manifest
    * commit: a run that died there left complete chunk data with no
    * manifest rows, so a naive rerun would re-encode those pids and
    * append duplicate chunks. Detection is gated on the attempt markers
    * ([[attemptsDir]]): in the steady state this is ONE directory listing
    * and zero Spark jobs, independent of chunk-table size — the property
    * a per-micro-batch call on a long-running stream needs. Surviving
    * markers name the crashed attempts; their manifest rows are rebuilt
    * from an attemptId-filtered metadata scan (parquet stats prune every
    * other attempt's files) under the chunks' ORIGINAL attemptId — which
    * is what lets the streaming replay-skip recognize a crashed "batch-N"
    * as committed. Attempts that crashed before their chunks- marker
    * ROLL BACK instead ([[dropAttemptChunks]]): their chunk commit's
    * completion is unprovable, so their files are deleted and the batch
    * re-encodes on resume/replay. Returns the reconciled pid set.
    *
    * CONTRACT — single writer per outDir. The begin-only path is
    * DESTRUCTIVE: it deletes the chunk files of attempts it cannot prove
    * committed. Against an outDir with a LIVE encode there is a window
    * (after the live run's renames into chunks/, before it touches its
    * chunks- marker) where a concurrent reconcile would delete freshly
    * committed data while the live run still emits manifest rows for it.
    * Only call this from the process that owns the encode (the batch
    * resume path and the per-micro-batch streaming call both do), or
    * when no encode is running against the table. */
  def reconcileOrphans(spark: SparkSession, outDir: String): Set[Int] = {
    if (!TableIO.exists(spark, chunksDir(outDir))) return Set.empty
    val names = TableIO.listDir(spark, attemptsDir(outDir))
    val begun = names.collect { case n if n.startsWith("begin-") => n.stripPrefix("begin-") }.toSet
    val chunked = names.collect { case n if n.startsWith("chunks-") => n.stripPrefix("chunks-") }.toSet
    if ((begun ++ chunked).isEmpty) return Set.empty // steady state: no jobs at all
    // begin- without chunks-: the chunk commit's completion is unproven
    // — the driver renames the staged files into chunks/ one by one, so
    // a driver killed mid-commit can leave a PARTIAL set of files.
    // Reconciling those would launder a half-write into committed
    // lineage (silent loss); instead the attempt is rolled BACK — its
    // chunk files and staging dir are dropped and the batch re-encodes
    // on resume/replay (its offsets/pids were never marked committed).
    if ((begun -- chunked).nonEmpty) dropAttemptChunks(spark, outDir, begun -- chunked)
    if (chunked.isEmpty) Set.empty
    else reconcileAttempts(spark, outDir, chunked)
  }

  /** Roll back attempts whose chunk commit is unproven: delete
    * exactly the UNMANIFESTED chunk files carrying their attemptId, then
    * clear the begin- markers. Order matters — files first, marker last
    * — so a crash here re-runs the (idempotent) rollback.
    *
    * Two guards make the rollback safe beyond the naive delete-by-tag:
    *  - pidUpperBound waves may SHARE an attemptId, so a file whose
    *    (pid, attemptId) already has a manifest row was committed by an
    *    earlier COMPLETED wave — committed lineage, never a rollback
    *    candidate (deleting it would orphan the manifest row and lose
    *    data permanently, since the pid stays in the completed set);
    *  - the crashed attempt's staging dir (`chunks/_staging-<id>`) is
    *    deleted too: no read ever sees it, but it holds the payload of
    *    every file the crash left unrenamed. */
  private def dropAttemptChunks(spark: SparkSession, outDir: String,
                                attempts: Set[String]): Unit = {
    import spark.implicits._
    attempts.foreach(id => TableIO.deleteRecursive(spark, stagingDir(outDir, id)))
    val meta = chunkMetaScan(spark, outDir)
      .filter($"attemptId".isin(attempts.toSeq: _*))
      .select($"pid", $"attemptId", input_file_name().as("f"))
    val flagged =
      if (!TableIO.exists(spark, manifestDir(outDir))) meta.withColumn("m", lit(0))
      else meta.join(
          manifestScan(spark, outDir)
            .filter($"attemptId".isin(attempts.toSeq: _*))
            .select($"pid", $"attemptId").distinct().withColumn("m", lit(1)),
          Seq("pid", "attemptId"), "left")
        .withColumn("m", coalesce($"m", lit(0)))
    // per-FILE verdict: a file is deletable only if NONE of its rows are
    // manifested (files are written per task = per pid, but don't rely
    // on that — any manifested row vetoes the file)
    val files = flagged.groupBy($"f").agg(max($"m").as("anyManifested"))
      .filter($"anyManifested" === 0).select($"f").as[String].collect()
    files.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    }
    attempts.foreach { id =>
      TableIO.delete(spark, s"${attemptsDir(outDir)}/begin-$id")
    }
  }

  /** Rebuild manifest rows for the named crashed attempts from their own
    * chunk metadata, then clear their markers. Work is O(those attempts'
    * chunks), not O(chunk table); the manifest anti-join keeps a crash
    * between the manifest commit and the marker cleanup from duplicating
    * rows. */
  private def reconcileAttempts(spark: SparkSession, outDir: String,
                                pending: Set[String]): Set[Int] = {
    import spark.implicits._
    val cur = chunkMetaScan(spark, outDir).filter($"attemptId".isin(pending.toSeq: _*))
    val fresh = manifestRowsFromChunks(spark, cur, System.currentTimeMillis())
    val orphanRows = (
      if (!TableIO.exists(spark, manifestDir(outDir))) fresh
      else fresh.join(
        manifestScan(spark, outDir)
          .filter($"attemptId".isin(pending.toSeq: _*))
          .select($"pid", $"attemptId"),
        Seq("pid", "attemptId"), "left_anti"))
      .as[PartitionManifest]
      .collect() // O(#orphan pids): bounded by the crashed attempts, not the table
    val conf = spark.sessionState.newHadoopConf()
    writeManifest(new Path(outDir).getFileSystem(conf), outDir, orphanRows.toSeq, conf)
    pending.foreach { id =>
      TableIO.delete(spark, s"${attemptsDir(outDir)}/begin-$id")
      TableIO.delete(spark, s"${attemptsDir(outDir)}/chunks-$id")
    }
    orphanRows.map(_.pid).toSet
  }

  /** The kernel task's write: `chunks` go to ONE parquet file
    * `staging/name`, opened with the task's copy of the broadcast conf,
    * and the task returns that file's name with per-pid summaries folded
    * over the chunks. No chunks, no file and no row — no footer-only
    * file ever reaches the table. */
  private def writeChunkFile(chunks: Iterator[EncodedChunk], conf: Configuration,
                             staging: String, name: String): Iterator[ChunkFile] =
    if (!chunks.hasNext) Iterator.empty
    else {
      val agg = scala.collection.mutable.LinkedHashMap.empty[Int, PidSummary]
      ChunkRows.write(new Path(staging, name), conf, chunks.map { c =>
        val cCodecs = c.cols.map(col => col.name -> Set(col.codec)).toMap
        agg(c.pid) = agg.get(c.pid) match {
          case None => PidSummary(c.pid, 1L, c.rows, c.urlMin, c.urlMax, c.rawBytes,
            c.encBytes, c.flBaselineBytes, c.encodeNanos, c.textCrc32, cCodecs)
          case Some(s) => PidSummary(c.pid, s.blocks + 1, s.rows + c.rows,
            // UTF-8 binary order — the SAME ordering the kernel's sort and
            // the decode range filter use; Java String (UTF-16 code unit)
            // order disagrees for supplementary-plane characters
            if (utf8Compare(s.urlMin, c.urlMin) <= 0) s.urlMin else c.urlMin,
            if (utf8Compare(s.urlMax, c.urlMax) >= 0) s.urlMax else c.urlMax,
            s.rawBytes + c.rawBytes, s.encBytes + c.encBytes,
            s.flBaselineBytes + c.flBaselineBytes, s.encodeNanos + c.encodeNanos,
            s.textCrc32Xor ^ c.textCrc32,
            cCodecs.foldLeft(s.codecs) { case (m, (k, v)) =>
              m.updated(k, m.getOrElse(k, Set.empty[String]) ++ v)
            })
        }
        c
      })
      Iterator.single(ChunkFile(name, agg.values.toSeq))
    }

  /** Per-partition kernel: consume (pid,url)-sorted rows, cut a chunk at
    * pid change / row cap / byte cap, encode all five columns. Pure Scala
    * (no Spark types inside) — the JVM analog of the reference's
    * cpuCompress kernel, applied per column. */
  def encodePartition(it: Iterator[PidPage], targetBlockBytes: Long, maxBlockRows: Int,
                      flOnly: Boolean = false, attemptId: String = null): Iterator[EncodedChunk] = {
    new Iterator[EncodedChunk] {
      private var pending: PidPage = null
      private var blockIdxByPid = scala.collection.mutable.Map.empty[Int, Int]

      def hasNext: Boolean = pending != null || it.hasNext

      def next(): EncodedChunk = {
        val buf = scala.collection.mutable.ArrayBuffer.empty[PidPage]
        var bufBytes = 0L
        if (pending == null) pending = it.next()
        val pid = pending.pid
        var cut = false
        while (!cut && pending != null && pending.pid == pid) {
          buf += pending
          // UTF-8 byte estimate, not String.length: a CJK-heavy text is
          // 3 bytes/char, and counting chars would let a "16 MB" chunk
          // hold ~48 MB of payload — past the memory the block caps
          // exist to bound. (Identical to length on ASCII, so chunk
          // cuts — and encBytes — are unchanged for ASCII corpora.)
          // html/text/lang may be null (encoded as null-bitmap rows).
          bufBytes += (if (pending.html == null) 0L else pending.html.length.toLong) +
            utf8Len(pending.text) + utf8Len(pending.url) + 16
          pending = if (it.hasNext) it.next() else null
          cut = buf.length >= maxBlockRows || bufBytes >= targetBlockBytes
        }
        val idx = blockIdxByPid.getOrElse(pid, 0)
        blockIdxByPid(pid) = idx + 1
        encodeChunk(pid, idx, buf.toArray, flOnly, attemptId)
      }
    }
  }

  /** UTF-8 byte length without materializing the bytes (null = 0 — a
    * null-bitmap row contributes no payload). Exact for well-formed
    * UTF-16; an UNPAIRED surrogate is counted as 3 bytes while
    * `String.getBytes(UTF_8)` replaces it with 1-byte '?', so on
    * malformed input the count overestimates — the safe direction for
    * the chunk byte budget in [[encodePartition]] (chunks can only come
    * out smaller than the target, never larger). */
  private def utf8Len(s: String): Long = {
    if (s == null) return 0L
    var n = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 0x80) n += 1
      else if (c < 0x800) n += 2
      else if (Character.isHighSurrogate(c) && i + 1 < s.length &&
        Character.isLowSurrogate(s.charAt(i + 1))) { n += 4; i += 1 }
      else n += 3
      i += 1
    }
    n
  }

  def encodeChunk(pid: Int, blockIdx: Int, rows: Array[PidPage],
                  flOnly: Boolean = false, attemptId: String = null): EncodedChunk = {
    val t0 = System.nanoTime()
    // url is the range/sort key and the chunk's (urlMin, urlMax)
    // metadata — it has no null representation; fail NAMED, not as an
    // anonymous NPE two lines later. html/text/lang nulls are REAL null
    // rows: the codec layer carries them in its null bitmap and the
    // decode views hand back null (the same contract warc_ts has).
    require(rows.forall(_.url != null),
      s"chunk pid=$pid blockIdx=$blockIdx: null url — urls are the range key " +
        "and must be non-null")
    val urls = rows.map(_.url.getBytes(UTF_8))
    val texts = rows.map(r => if (r.text == null) null else r.text.getBytes(UTF_8))
    val htmls = rows.map(_.html)
    val langsB = rows.map(r => if (r.lang == null) null else r.lang.getBytes(UTF_8))
    val tsNulls = if (rows.exists(_.warc_ts == null)) rows.map(_.warc_ts == null) else null
    val tsMicros = rows.map { r =>
      val ts = r.warc_ts
      if (ts == null) 0L else graft.model.TsMicros.micros(ts)
    }

    // null texts are SKIPPED — the decode-side lineage check
    // (GraftDataSource.requireTextCrc) skips null rows the same way
    val crc = new CRC32()
    texts.foreach(t => if (t != null) crc.update(t))

    def asCol(name: String, e: ColumnCodec.Encoded) =
      EncodedColumn(name, e.codecName, e.bytes, e.rawBytes, e.bytes.length.toLong, e.flBaselineBytes)
    val colUrl = asCol("url", ColumnCodec.encodeBytes(urls, flOnly))
    val colTs = asCol("warc_ts", ColumnCodec.encodeLongs(tsMicros, tsNulls, flOnly))
    val colHtml = asCol("html", ColumnCodec.encodeBytes(htmls, flOnly))
    val colText = asCol("text", ColumnCodec.encodeBytes(texts, flOnly))
    val colLang = asCol("lang", ColumnCodec.encodeBytes(langsB, flOnly))
    val cols = Seq(colUrl, colTs, colHtml, colText, colLang)
    // (tsMin, tsMax) over NON-null ts only — the DSv2 time-range skip's
    // chunk statistics (None = all-null chunk, prunable under any ts
    // bound; see EncodedChunk scaladoc)
    var tsMin = Long.MaxValue
    var tsMax = Long.MinValue
    var i = 0
    while (i < tsMicros.length) {
      if (tsNulls == null || !tsNulls(i)) {
        if (tsMicros(i) < tsMin) tsMin = tsMicros(i)
        if (tsMicros(i) > tsMax) tsMax = tsMicros(i)
      }
      i += 1
    }
    val tsStats = if (tsMin > tsMax) (None, None) else (Some(tsMin), Some(tsMax))
    EncodedChunk(
      pid, blockIdx, rows.length.toLong,
      rows.head.url, rows.last.url,
      cols.map(_.rawBytes).sum, cols.map(_.encBytes).sum, cols.map(_.flBaselineBytes).sum,
      System.nanoTime() - t0, crc.getValue, colUrl, colTs, colHtml, colText, colLang,
      attemptId, tsStats._1, tsStats._2)
  }
}
