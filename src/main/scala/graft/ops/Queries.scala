package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

final case class DocRow(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
final case class MediaMeta(doc_id: Long, n_bytes: Long, fake_w: Long, fake_h: Long, n_frames: Long)
final case class ColStatRow(col_name: String, codec: String, rawBytes: Long, encBytes: Long, flBaselineBytes: Long)

/** Driver-facing operator queries over /root/testdata tables.
  *
  * Each query has a DuckDB-equivalent oracle (SparkEntry.oracleSql) unless
  * stated; column names and types are aligned between both engines
  * (integer aggregates preferred; doubles rounded). They exercise the
  * engine surface from SURVEY.md §2 Table B: scans, filters, joins,
  * aggregations, windows (the RLE/prefix-scan oracles), set ops, top-k,
  * plus the training-data-pipeline ops (dedup, MinHash/LSH, language-ID,
  * quality scoring, fingerprinting, ANN similarity).
  */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Table reader with an UNSPLITTABLE-INPUT guard (optimization guide
    * §2.5: "one huge unsplittable file … otherwise repartition
    * immediately after the read"): parquet splits at row-group
    * boundaries, so a single-row-group file plans exactly ONE scan task
    * and every row-local pass downstream runs single-threaded no matter
    * how many cores the session has. When the scan plans fewer map tasks
    * than HALF the session's default parallelism (rounded up, and at
    * least 2, so a single-task scan trips it at any floor above 1), a
    * round-robin repartition restores map-side parallelism; the shuffle
    * it adds moves only the degenerate (small, by construction) input. At
    * production scale a corpus scan plans thousands of splits, the
    * condition is false, and the guard adds NOTHING — this is the
    * scale-adaptive spelling, not a constant tuned to local mode.
    *
    * OPT-IN, not blanket, and membership is MEASURED, not guessed: only
    * queries whose map stage does heavy row-local work (shingle explode
    * + MinHash, tokenization into grouped aggregations) use it — on the
    * suite it cut those up to 2.4x (q_minhash_lsh 1.26 s → 0.52 s,
    * q_contamination 1.22 s → 0.77 s) while a blanket guard REGRESSED
    * queries whose first stage is a cheap projection feeding their own
    * shuffle (q_anti_join 0.47 s → 1.13 s, q_rle_runs +0.5 s: the added
    * exchange is pure overhead when the query immediately re-shuffles),
    * and paired A/B moved q_mm_decode (typed serde only) and
    * q_ngram_jaccard (multi-job; the exchange sits on its first eager
    * cut's critical path) BACK to the plain reader.
    * `spark.graft.scan.minMapTasks` overrides the parallelism floor
    * (0 or 1 disables the guard). */
  private def tPar(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = t(spark, dir, name)
    val floor = spark.conf.get("spark.graft.scan.minMapTasks",
      spark.sparkContext.defaultParallelism.toString).toInt
    require(floor >= 0, s"spark.graft.scan.minMapTasks must be >= 0, got $floor")
    if (floor > 1 && df.rdd.getNumPartitions < math.max(2, (floor + 1) / 2))
      df.repartition(floor)
    else df
  }

  // single shared delete-recursion (the repo consolidated four drifting
  // copies onto ScalingLevel.rmrf — don't reintroduce a private variant)
  private def rmrf(p: java.nio.file.Path): Unit = graft.ScalingLevel.rmrf(p.toString)

  private val scratchHooked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Process-scoped scratch dir under java.io.tmpdir for the engine
    * round-trip queries: `<prefix>-<pid>-<startMillis>-<md5(inputDir)>`,
    * wiped before each use (bench reps reuse it instead of leaking one
    * encoded copy per call) while the pid+start component keeps
    * CONCURRENT JVMs over the same input from wiping each other's
    * in-flight encode. Dead JVMs'
    * dirs are swept here (pid no longer alive) and this JVM's own dirs
    * are removed by a shutdown hook, so no copy outlives its process. */
  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Session identity token folded into the scratch-dir hash: two live
    * SparkSessions in one JVM querying the same input must not share (and
    * wipe) one in-flight scratch dir; reps on ONE session still reuse
    * theirs. (Concurrent invocations of the SAME query on the SAME
    * session remain unsupported — they would also race the encode
    * output itself.) */
  private def sessionTok(spark: SparkSession): String =
    // identity hash, not sessionUUID (private[sql] in Spark 4.1): unique
    // per live session object in this JVM, which is the collision domain
    // the scratch key needs
    Integer.toHexString(System.identityHashCode(spark))

  private[ops] def processScratch(prefix: String, dir: String,
                                  sessTok: String = ""): String = {
    val tmpRoot = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val me = ProcessHandle.current()
    val mine = me.pid()
    // pid ALONE is a recyclable owner token: a dead JVM's dir whose pid
    // the OS reassigned would read as live and leak until tmp cleanup.
    // pid + process start-instant is unique per boot.
    val myStart: Long = {
      val si = me.info().startInstant()
      if (si.isPresent) si.get().toEpochMilli else 0L
    }
    val s = java.nio.file.Files.list(tmpRoot)
    try s.filter(p => p.getFileName.toString.startsWith(s"$prefix-")).forEach { p =>
      // name: <prefix>-<pid>-<startMillis>-<md5(inputDir)>; a 2-segment
      // name is the legacy pid-<hexHash> form (no start token — judged
      // on pid liveness alone, as before)
      val segs = p.getFileName.toString.stripPrefix(s"$prefix-").split("-")
      val start: Option[Long] =
        if (segs.length >= 3) segs(1).toLongOption else None
      val alive = segs.headOption.flatMap(_.toLongOption).exists { id =>
        if (id == mine) start.forall(_ == myStart)
        else ProcessHandle.of(id).map[Boolean] { h =>
          val si = h.info().startInstant()
          // an unreadable start instant gives the dir the benefit of the
          // doubt (kept; swept once the pid actually dies)
          h.isAlive && start.forall(st => !si.isPresent || si.get().toEpochMilli == st)
        }.orElse(false)
      }
      // best-effort: two JVMs may sweep the same dead dir concurrently —
      // the loser's NoSuchFile/DirectoryNotEmpty race must not fail the
      // query that ran the incidental sweep
      if (!alive)
        try rmrf(p)
        catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
    } finally s.close()
    // full MD5 of (session token, input path) — 32-bit hashCode let two
    // distinct input dirs alias one scratch dir within a process, and a
    // dir-only key let two sessions in one JVM wipe each other's
    // in-flight encode over the same input
    val out = tmpRoot.resolve(s"$prefix-$mine-$myStart-${md5Hex(sessTok + "\u0000" + dir)}")
    if (scratchHooked.add(out.toString))
      Runtime.getRuntime.addShutdownHook(new Thread(() => rmrf(out)))
    rmrf(out)
    out.toString
  }

  /** Ensure a checkpoint dir exists before a reliable `checkpoint()` is
    * requested: on a cluster the caller MUST have configured one (a
    * driver-local temp dir would scatter executor-written blocks across
    * nodes — unreadable, lost on executor loss, defeating the feature);
    * in local mode a temp dir is a valid target and is auto-created. */
  private def ensureCheckpointDir(spark: SparkSession, confKey: String): Unit =
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      require(spark.sparkContext.isLocal,
        s"$confKey is set but no checkpoint dir is configured: " +
          "call sparkContext.setCheckpointDir(<cluster-visible path, e.g. HDFS/S3>) first")
      spark.sparkContext.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    }

  // ------------------------------------------------------------ codec stats

  /** A7 analog: per-frame max bit width of n_chars, frame = 128 docs. */
  def qFrameWidth(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select((floor($"doc_id" / 128)).cast("bigint").as("frame"),
        length(bin($"n_chars")).as("w"))
      .groupBy($"frame")
      .agg(greatest(lit(1), max($"w")).cast("bigint").as("frame_bits"), count(lit(1)).as("cnt"))

  /** A27 oracle: RLE runs of l_returnflag over a deterministic total
    * order — computed partition-parallel with boundary stitching
    * ([[DistOrder.runs]]), never a global single-partition window. */
  def qRleRuns(spark: SparkSession, dir: String): DataFrame =
    DistOrder.runs(t(spark, dir, "lineitem"),
      Seq("l_orderkey", "l_linenumber"), "l_returnflag", numParts = 32)

  /** Run-length stats per lang over doc_id order (selector stats pass);
    * runs come from the stitched partition-parallel pass. */
  def qRunlenHist(spark: SparkSession, dir: String): DataFrame =
    DistOrder.runs(t(spark, dir, "documents"), Seq("doc_id"), "lang", numParts = 32)
      .groupBy($"val".as("lang"))
      .agg(count(lit(1)).as("n_runs"), max($"run_len").as("max_run"))

  /** Dictionary-candidate stats: cardinality + sizes per lang. */
  def qDictStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").groupBy($"lang").agg(
      count(lit(1)).as("cnt"),
      countDistinct($"source").as("ndv_source"),
      sum($"n_chars").as("total_chars"),
      min($"n_chars").as("min_chars"),
      max($"n_chars").as("max_chars"))

  /** The codec selector's decision rule, SQL-expressed (per source). */
  def qCodecSelect(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").groupBy($"source").agg(
      count(lit(1)).as("n"),
      countDistinct($"lang").as("ndv"),
      sum(length($"lang")).cast("bigint").as("payload"))
      .withColumn("codec",
        when($"ndv" === 1, "rle").when($"ndv" <= 256, "dict").otherwise("fsst"))

  /** FOR framing stats: month frames of o_orderdate. */
  def qForFrames(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(date_trunc("month", $"o_orderdate").as("m"))
      .agg(count(lit(1)).as("cnt"), min($"o_orderdate").as("ts_min"), max($"o_orderdate").as("ts_max"))

  // --------------------------------------------------------- relational ops

  /** Projection + predicate pushdown to the parquet scan. */
  def qScanProject(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter($"o_orderpriority" === "1-URGENT" && $"o_totalprice" > 200000.0)
      .select($"o_orderkey", $"o_totalprice")

  /** Broadcast equi-join + rollup (verification-join analog). */
  def qJoinSegments(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    o.join(broadcast(c), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sum(round($"o_totalprice" * 100).cast("bigint")).as("total_cents"))
  }

  /** Left-semi join: customers holding at least one urgent order — the
    * existence-check shape (resume's "pid already in manifest" test). */
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val urgent = t(spark, dir, "orders").filter($"o_orderpriority" === "1-URGENT")
    t(spark, dir, "customer")
      .join(urgent, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_mktsegment")
  }

  /** Left-anti join: orders with no lineitem — the resume "pending =
    * not yet completed" shape as an explicit anti-join (EncodeJob uses
    * the same idea against the manifest pid set). */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .join(t(spark, dir, "lineitem"), $"o_orderkey" === $"l_orderkey", "left_anti")
      .select($"o_orderkey", $"o_orderpriority")

  /** Multi-table analytics join-aggregate (TPC-H Q10 shape): returned-
    * item revenue per customer over one order year, through a 4-table
    * join customer ⋈ orders ⋈ lineitem ⋈ nation. Scale shape: both
    * selective filters (order-date year, returnflag) are row-local and
    * push to the parquet scans BEFORE either big join; lineitem ⋈ orders
    * and ⋈ customer shuffle on their join keys (AQE free to broadcast
    * the filtered orders side when it measures small); `nation` (25
    * rows) is an EXPLICIT broadcast. Revenue in exact integer units —
    * cents × (100 − discount%) — so the sum is aggregation-order-
    * independent and bit-identical across engines (a double sum's low
    * bits depend on reduction order); top 20 under a deterministic
    * total order (revenue desc, custkey). o_orderdate is TIMESTAMP_NTZ
    * in the parquet; the cast to TIMESTAMP is difference-neutral under
    * the session's pinned UTC zone. */
  def qTopCustomers(spark: SparkSession, dir: String): DataFrame = {
    val od = $"o_orderdate".cast("timestamp")
    val orders = t(spark, dir, "orders")
      .filter(od >= lit("1996-01-01").cast("timestamp") &&
        od < lit("1997-01-01").cast("timestamp"))
      .select($"o_orderkey", $"o_custkey")
    val items = t(spark, dir, "lineitem")
      .filter($"l_returnflag" === "R")
      .select($"l_orderkey",
        (round($"l_extendedprice" * 100).cast("bigint") *
          (lit(100L) - round($"l_discount" * 100).cast("bigint"))).as("rev_e4"))
    val cust = t(spark, dir, "customer")
      .select($"c_custkey", $"c_name", $"c_nationkey")
    val nat = t(spark, dir, "nation").select($"n_nationkey", $"n_name")
    items.join(orders, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey", $"c_name", $"n_name")
      .agg(sum($"rev_e4").as("revenue_e4"), count(lit(1)).as("n_items"))
      .orderBy($"revenue_e4".desc, $"c_custkey")
      .limit(20)
  }

  /** Skew-safe aggregation: two-phase salted groupBy — phase 1 aggregates
    * (key, salt) so a hot key spreads over 8 reducers, phase 2 merges the
    * partials per key. The oracle is the PLAIN single-phase GROUP BY, so
    * the hash compare proves salting changes the plan, never the answer. */
  def qSaltedAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("salt", pmod(hash($"doc_id"), lit(8)))
      .groupBy($"source", $"salt")
      .agg(count(lit(1)).as("pcnt"), sum($"n_chars").as("pchars"))
      .groupBy($"source")
      .agg(sum($"pcnt").as("cnt"), sum($"pchars").as("chars"))

  /** Top-k skewed groups (salting decision input). */
  def qTopkSources(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").groupBy($"source").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"source").limit(10)

  /** Grouped top-N (the per-key variant next to the global q_topk_*
    * family): 3 longest documents per lang via a PARTITIONED window
    * row_number — each group ranks inside its own partition, so no
    * global sort and no single-partition window at any scale.
    * Deterministic tiebreak on doc_id. */
  def qTopnGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"lang").orderBy($"n_chars".desc, $"doc_id")
    t(spark, dir, "documents")
      .select($"lang", $"doc_id", $"n_chars", row_number().over(w).as("rk"))
      .filter($"rk" <= 3)
      .select($"lang", $"rk".cast("bigint").as("rk"), $"doc_id", $"n_chars")
  }

  /** Resume set-op: pending = all pids EXCEPT completed. */
  def qSetPending(spark: SparkSession, dir: String): DataFrame = {
    val pids = t(spark, dir, "documents").select(($"doc_id" % 16).cast("bigint").as("pid"))
    pids.except(pids.filter($"pid" < 6))
  }

  /** Prefix-scan analog (A13): running per-user cents over event time. */
  def qWindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    t(spark, dir, "events").select($"event_id", $"user_id",
      sum(round($"value" * 100).cast("bigint")).over(w).as("running_cents"))
  }

  /** Range-partitioner analog: exact ntile bucket stats over the sort
    * key, via per-partition rank offsets ([[DistOrder.ntileRanges]]) —
    * no global single-partition window. */
  def qNtileRanges(spark: SparkSession, dir: String): DataFrame =
    DistOrder.ntileRanges(t(spark, dir, "documents"), "doc_id", tiles = 16, numParts = 32)

  // ------------------------------------------------- training-pipeline ops

  /** Raw (NON-distinct) 8-char shingle stream at stride 4 — the one
    * shingle definition shared by the whole MinHash/LSH family
    * (q_minhash_lsh, q_ngram_jaccard, q_dedup_clusters, q_contamination)
    * and their DuckDB oracles. Stays map-side; dedup only ever happens
    * downstream on bounded subsets (never the full corpus). */
  private def shingleStream(docs: DataFrame): DataFrame =
    docs.select($"doc_id", $"text",
        explode(sequence(lit(1), greatest(lit(1), length($"text") - 7), lit(4))).as("i"))
      .select($"doc_id", expr("substring(text, i, 8)").as("s"))

  /** k-family MinHash signature (columns h0..h(k-1)) straight off the raw
    * shingle stream: min() is duplicate-insensitive and the partial
    * aggregation moves O(#docs) signature rows, not O(#shingles).
    *
    * Kept as the exploded + partial-aggregated spelling DELIBERATELY: it
    * plans as SortAggregate (min over STRING has no mutable agg buffer),
    * but the map-side sort runs over generator output already clustered
    * by doc_id and the exchange carries only O(#docs) partial minima. A
    * round-8 A/B against a row-local array_min(transform(...)) signature
    * — zero sort, zero exchange on paper — measured 38% SLOWER
    * (1.16 s → 1.60 s for q_minhash_lsh at sf0.1): lambda higher-order
    * functions evaluate interpreted per element, and that per-shingle
    * overhead exceeds the codegen'd explode + sort it replaced. Both
    * costs are per-shingle CPU, so the ratio does not flip at scale. */
  private def minhashSig(sh: DataFrame, k: Int): DataFrame = {
    val hs = (0 until k).map(b =>
      min(md5(concat(lit(b.toString), $"s").cast("binary"))).as(s"h$b"))
    sh.groupBy($"doc_id").agg(hs.head, hs.tail: _*)
  }

  /** The 4 signature families exploded to (doc_id, band, bucket) — ALL
    * four bands as candidate generators (OR over bands: the multi-band
    * recall boost is the point of computing 4 families). */
  private def bands4(sig: DataFrame): DataFrame =
    sig.select($"doc_id", explode(map(
        lit(0L), $"h0", lit(1L), $"h1", lit(2L), $"h2", lit(3L), $"h3"))
        .as(Seq("band", "bucket")))

  /** Exact dedup groups by content hash. */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").groupBy(md5($"text".cast("binary")).as("h"))
      .agg(count(lit(1)).as("cnt"), min($"doc_id").as("keep_id"))

  /** Token/char counting: whitespace tokens plus a BPE-ish regex count
    * (contraction suffixes, space-prefixed letter runs, digit runs,
    * punctuation runs — the GPT-2 pre-tokenizer shape, which tracks real
    * subword-tokenizer counts far better than whitespace does). */
  def qTokenCount(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      $"doc_id",
      length($"text").cast("bigint").as("n_chars_m"),
      size(split($"text", " ", -1)).cast("bigint").as("n_tokens"),
      // regexp_count = size(regexp_extract_all(_, _, 0)) without
      // materializing the match array (same non-overlapping match count)
      regexp_count($"text",
        lit("'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"))
        .cast("bigint").as("n_bpeish"))

  /** Heuristic language-ID vs the labeled lang column. */
  def qLangId(spark: SparkSession, dir: String): DataFrame = {
    val pred = when($"text".like("% the %") || $"text".like("% and %") || $"text".like("% of %"), "en")
      .when($"text".like("% der %") || $"text".like("% und %") || $"text".like("% die %"), "de")
      .when($"text".like("% le %") || $"text".like("% la %") || $"text".like("% et %"), "fr")
      .otherwise("und")
    t(spark, dir, "documents").select($"lang", pred.as("lang_pred"))
      .groupBy($"lang", $"lang_pred").agg(count(lit(1)).as("cnt"))
  }

  /** Quality-scoring features: sentence marks, capitalized words, length band. */
  def qQualityScore(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      $"doc_id",
      // regexp_count: same match count as size(regexp_extract_all(_,_,0))
      // with no per-row match-array materialization
      regexp_count($"text", lit("[.!?]")).cast("bigint").as("n_sent_marks"),
      regexp_count($"text", lit("[A-Z][a-z]+")).cast("bigint").as("n_capwords"),
      when(length($"text").between(100, 20000), 1L).otherwise(0L).as("len_ok"))

  /** Document fingerprint: prefix hash + length (near-dup prefilter). */
  def qFingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      $"doc_id",
      md5(substring($"text", 1, 64).cast("binary")).as("prefix_fp"),
      octet_length($"text").cast("bigint").as("n_bytes"))

  /** MinHash signatures over 8-char shingles (stride 4), 4 hash families,
    * then LSH banding with ALL 4 bands as candidate generators (OR over
    * bands — the multi-band recall boost is the whole point of computing
    * 4 families): bucket stats per (band, bucket). */
  def qMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    bands4(minhashSig(shingleStream(tPar(spark, dir, "documents")), 4))
      .groupBy($"band", $"bucket")
      .agg(count(lit(1)).as("cnt"), min($"doc_id").as("min_doc"))

  /** SimHash: 16-bit sign-aggregated token hash per doc (DuckDB oracle
    * expresses the same hex-parse + bit votes with integer shifts).
    * Kept as the exploded + hash-aggregated spelling DELIBERATELY: the
    * 16 integer vote sums hash-aggregate with map-side combine, so the
    * exchange carries O(#docs) rows. A round-8 A/B against a row-local
    * aggregate()-fold variant (zero exchange on paper) measured 2.7x
    * SLOWER (0.52 s → 1.43 s at sf0.1): lambda higher-order functions
    * evaluate interpreted, and 16 fold traversals per document cost far
    * more than the codegen'd explode + hash aggregate — a per-token CPU
    * ratio that does not flip at scale. */
  def qSimhash(spark: SparkSession, dir: String): DataFrame = {
    val tok = tPar(spark, dir, "documents")
      .select($"doc_id", explode(split($"text", " ", -1)).as("tk"))
      .filter(length($"tk") > 0)
      .select($"doc_id", conv(substring(md5($"tk".cast("binary")), 1, 15), 16, 10).cast("bigint").as("h"))
    val bitCols = (0 until 16).map { b =>
      sum(when((shiftright($"h", b) % 2) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val agg = tok.groupBy($"doc_id").agg(bitCols.head, bitCols.tail: _*)
    val sim = (0 until 16).map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    agg.select($"doc_id", sim.cast("bigint").as("simhash16"))
  }

  /** Brute-force cosine top-k against the vec_id=0 query vector. */
  def qEmbedTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val dot = expr(
      "aggregate(zip_with(embedding, qv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)")
    val nrm = (c: String) => expr(
      s"sqrt(aggregate($c, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))")
    // cos_e4 = floor(cos * 1e4): floor has no tie to resolve, so the two
    // engines cannot disagree the way round(x, 4) does (Spark rounds the
    // exact decimal expansion of the double HALF_UP, DuckDB std::round's
    // the binary product — a documented 5th-decimal divergence this repo
    // bans in oracled columns; see qRepetition)
    e.crossJoin(broadcast(q))
      .select($"vec_id",
        floor(dot / (nrm("embedding") * nrm("qv")) * 10000d).cast("bigint").as("cos_e4"))
      .orderBy($"cos_e4".desc, $"vec_id").limit(20)
  }

  /** How many leading dimensions feed the ANN sign-LSH bucket. 16 bits =
    * 65k buckets: at web scale the bucket count must dwarf the executor
    * count or every bucket is a skew hotspot (8 bits = 256 buckets was
    * demo-coarse). The same width parameterizes the DuckDB oracle. */
  val EmbedLshBits = 16

  /** LSH bucketing for ANN: sign bits of the first [[EmbedLshBits]]
    * dimensions of the embedding. */
  def qEmbedLshBuckets(spark: SparkSession, dir: String): DataFrame = {
    val bucket = (1 to EmbedLshBits).map(i =>
      when(element_at($"embedding", i) > 0f, lit(1L << (i - 1))).otherwise(0L)).reduce(_ + _)
    t(spark, dir, "embeddings")
      .select(bucket.cast("bigint").as("bucket"), $"vec_id")
      .groupBy($"bucket").agg(count(lit(1)).as("cnt"), min($"vec_id").as("min_vec"))
  }

  /** Lloyd rounds for the IVF build; fixed so both engines iterate
    * identically. */
  val IvfKmeansRounds = 2

  /** Mean-update quantization scale (2^20): per-dimension sums become
    * EXACT integer arithmetic, so the centroid means are independent of
    * aggregation order — the property that makes a distributed k-means
    * DuckDB-oracle-able (a raw double sum is order-dependent across
    * shuffle partitions). floor() rather than round(): half-even vs
    * half-up never diverges between engines. */
  val IvfQuantScale = 1048576d

  /** Trained-IVF memo: (centroids, query vector) per (session, dir).
    * O(cells x dim) doubles per entry; same staleness contract as
    * Dataset.cache() — the index reflects the input as of first build
    * within the session, which IS an IVF index's real-world contract. */
  private val ivfMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (Array[(Long, Array[Double])], Array[Double])]()

  /** IVF-style ANN (the scale path next to brute-force q_embed_topk and
    * the sign-LSH buckets): a real IVF BUILD — [[IvfKmeansRounds]]
    * deterministic Lloyd iterations seeded from vectors 0..7 (row-local
    * centroid assignment, quantized exact-integer mean update), then
    * every vector assigned to its nearest trained cell (tie-broken by
    * cell id), and the query probes only the 2 nearest cells and ranks
    * exact cosine inside them.
    *
    * The nearest-cell pick is EXCHANGE-FREE: the <=8-row centroid table
    * is collected to the driver after each mean update (O(cells x dim)
    * driver state — the same metadata all-gather the reference's A21
    * slice-header exchange performs) and folded into a row-local
    * `least(struct(d2, cell)...)` argmin, so each assignment pass is a
    * pure projection over the embeddings scan. The previous shape — a
    * `row_number() over (partition by vec_id)` rank after a broadcast
    * crossJoin — hash-repartitioned 8x the embedding table per pass, x3
    * passes; at 100 TB that window exchange was the one scale-killer
    * here. Per Lloyd round only the mean update shuffles (cells x dim
    * grouped rows), and the search touches nprobe/ncells of the data
    * instead of all of it. */
  def qEmbedIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    // squared distance to one collected centroid, folded dimension-wise in
    // array order — bit-identical to the previous SQL
    // aggregate(zip_with(...)) fold and to the DuckDB oracle's list_sum
    def d2Lit(cv: Array[Double]): Column = aggregate(
      zip_with($"embedding", typedlit(cv.toSeq),
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0d), (acc, v) => acc + v)
    // row-local argmin: struct comparison orders by (d2, cell) — exactly
    // the old window's ORDER BY d2, cell with rn = 1
    def nearestCell(cents: Array[(Long, Array[Double])]): Column = {
      val cands = cents.map { case (cell, cv) =>
        struct(d2Lit(cv).as("d2"), lit(cell).as("cell"))
      }
      (if (cands.length == 1) cands.head else least(cands: _*)).getField("cell")
    }
    def assign(cents: Array[(Long, Array[Double])]): DataFrame =
      e.select($"vec_id", $"embedding", nearestCell(cents).as("cell"))
    def collectCents(df: DataFrame): Array[(Long, Array[Double])] =
      df.select($"cell", $"cv").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    // the trained index (centroids + query vector) is built ONCE per
    // (session, dir) — exactly a real IVF's contract (train once, probe
    // many); without the memo every invocation re-runs the Lloyd collect
    // jobs that replaced the old cache()-dedupable lazy lineage
    purgeStoppedSessions(ivfMemo)(_._1)
    val (cents, qv) = ivfMemo.computeIfAbsent((spark, dir), _ => {
      var cs = collectCents(e.filter($"vec_id" < 8)
        .select($"vec_id".as("cell"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("cv")))
      for (_ <- 1 to IvfKmeansRounds if cs.nonEmpty) {
        // mean update: per-(cell, dim) quantized integer sums (order-
        // exact), one double division at the end; a cell that loses every
        // vector drops out (both engines agree — groupBys drop it alike)
        cs = collectCents(assign(cs)
          .select($"cell", posexplode($"embedding").as(Seq("pos", "v")))
          .select($"cell", $"pos", floor($"v".cast("double") * IvfQuantScale).as("qv"))
          .groupBy($"cell", $"pos")
          .agg(sum($"qv").as("sq"), count(lit(1)).as("cnt"))
          .groupBy($"cell")
          .agg(array_sort(collect_list(struct($"pos",
            ($"sq".cast("double") / ($"cnt".cast("double") * IvfQuantScale)).as("m")))).as("arr"))
          .select($"cell", expr("transform(arr, x -> x.m)").as("cv")))
      }
      // the query vector (vec_id = 0): one pushed-down single-row
      // collect; float->double casts are exact, so precollecting as
      // doubles matches the old in-plan CAST arithmetic. headOption:
      // a table without vec_id 0 has no query — degenerate case below
      val q = e.filter($"vec_id" === 0)
        .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .collect().headOption.map(_.getSeq[Double](0).toArray)
        .getOrElse(Array.empty[Double])
      (cs, q)
    })
    // degenerate inputs (empty table / no vec_id 0): empty result with
    // the query's schema, matching the old plan's empty crossJoin flow
    // instead of a zero-arg least() analysis error
    if (cents.isEmpty || qv.isEmpty)
      return e.select(lit(0L).as("cell"), $"vec_id", lit(0L).as("cos_e4"))
        .filter(lit(false))
    // the 2 cells nearest to the query — driver arithmetic over the same
    // (cv[i] - qv[i])^2 left-fold the old dist2 SQL computed
    val probed: Seq[Long] = cents.map { case (cell, cv) =>
      var s = 0d; var i = 0
      while (i < cv.length) { val d = cv(i) - qv(i); s += d * d; i += 1 }
      (cell, s)
    }.sortBy { case (cell, d2) => (d2, cell) }.take(2).map(_._1).toSeq
    // sqrt of the same in-order squared-sum fold the old nrm("qv") ran
    val qNorm = math.sqrt(qv.foldLeft(0d)((acc, v) => acc + v * v))
    // exact cosine only inside the probed cells — pure projection + filter
    // + TakeOrdered over the scan: zero exchanges end-to-end
    val dot = aggregate(
      zip_with($"embedding", typedlit(qv.toSeq), (x, y) => x.cast("double") * y),
      lit(0d), (acc, v) => acc + v)
    val nrmEmb = sqrt(aggregate($"embedding", lit(0d),
      (acc, v) => acc + v.cast("double") * v.cast("double")))
    // floor-e4 cosine — tie-free across engines, see qEmbedTopk
    assign(cents).filter($"cell".isin(probed: _*))
      .select($"cell", $"vec_id",
        floor(dot / (nrmEmb * lit(qNorm)) * 10000d).cast("bigint").as("cos_e4"))
      .orderBy($"cos_e4".desc, $"vec_id").limit(10)
  }

  /** AS-OF join — the temporal operator Spark has no native form of
    * (each fact row matched to the LATEST reference row at or before its
    * timestamp, per key). Two streams are derived from `events`: sparse
    * "quotes" (event_id % 10 == 0, deduped to one per (user, ts)) and
    * dense "trades" (the rest); every trade picks up the newest quote
    * with quote.ts <= trade.ts for its user.
    *
    * Implementation is the canonical DISTRIBUTED as-of: tag both sides,
    * union, and carry the last non-null quote forward with a window
    * PARTITIONED BY the key ordered by (ts, tag) — quotes sort before
    * trades at equal ts, so ties match like `t.ts >= q.ts`. Exchanges:
    * the quote dedup shuffles the SPARSE quote stream on (user, ts),
    * then one hash shuffle on user_id co-locates the union for the
    * window's per-user local sort; no range cross-join, no per-row
    * probe — the shape that survives 100 TB (a broadcast-probe as-of
    * dies when the reference side outgrows one executor; this one never
    * materializes pairs at all). Oracle: DuckDB's native ASOF LEFT
    * JOIN. */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    // one quote per (user, ts): max-event_id row wins, making the as-of
    // target unique and both engines' tie handling identical
    val quotes = e.filter($"event_id" % 10 === 0)
      .groupBy($"user_id", $"ts")
      .agg(max(struct($"event_id", $"value")).as("m"))
      .select($"user_id", $"ts", $"m.event_id".as("quote_id"), $"m.value".as("qval"))
    val trades = e.filter($"event_id" % 10 =!= 0)
      .select($"user_id", $"ts", $"event_id")
    val tagged = quotes
      .select($"user_id", $"ts", lit(0).as("tag"), $"quote_id", $"qval",
        lit(null).cast("bigint").as("event_id"))
      .unionByName(trades.select($"user_id", $"ts", lit(1).as("tag"),
        lit(null).cast("bigint").as("quote_id"), lit(null).cast("double").as("qval"),
        $"event_id"))
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"tag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("lq_id", last($"quote_id", ignoreNulls = true).over(w))
      .withColumn("lq_val", last($"qval", ignoreNulls = true).over(w))
      .filter($"tag" === 1)
      .select($"user_id", $"event_id", $"ts",
        $"lq_id".as("quote_id"),
        round($"lq_val" * 100).cast("bigint").as("quote_cents"))
  }

  /** RANGE (band) self-join — pairs of a user's events within a 5-minute
    * band of each other, via TIME-BUCKET hashing: one side keeps its
    * bucket, the other explodes to {b-1, b, b+1}, the equi-join on
    * (user, bucket) bounds candidates, and the exact |dt| <= window
    * filter runs after. Each qualifying pair matches exactly once (the
    * a_id < b_id role filter fixes the orientation; within it exactly
    * one of the three candidate buckets equals the left bucket, because
    * |dt| <= W implies the bucket ids differ by at most 1). This is the
    * standard scale shape for interval joins: candidate volume is
    * 3x rows hashed on (user, bucket), never a per-user cross join —
    * the quadratic term is bounded by per-(user, bucket) density, which
    * a 5-minute cell keeps small at web scale (the same
    * bounded-bucket argument as the LSH dedup pipeline). */
  def qRangePairs(spark: SparkSession, dir: String): DataFrame = {
    val winUs = 300L * 1000000L // 5 minutes, microsecond precision
    val e = t(spark, dir, "events")
      .select($"user_id", $"event_id",
        // unix_micros over the NTZ->timestamp cast: difference-neutral
        // under the pinned UTC session zone and exactly DuckDB's
        // epoch_us (whole-second unix_timestamp would mis-band
        // sub-second gaps straddling the boundary)
        unix_micros($"ts".cast("timestamp")).as("us"))
    val bk = floor($"us" / winUs) // floor(double) is LONG in Spark
    val a = e.select($"user_id", $"event_id".as("a_id"), $"us".as("a_us"),
      bk.as("bucket"))
    val b = e.select($"user_id", $"event_id".as("b_id"), $"us".as("b_us"),
      explode(array(bk - 1, bk, bk + 1)).as("bucket"))
    a.join(b, Seq("user_id", "bucket"))
      .filter($"a_id" < $"b_id" && abs($"b_us" - $"a_us") <= winUs)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_pairs"), min($"a_id").as("first_a"))
  }

  /** Cohort retention: users bucketed by their first-seen day, distinct
    * active users per (cohort, day-offset) — the standard training-data /
    * product analytics retention matrix. Day arithmetic is EXACT integer
    * microsecond division (`div`, matching DuckDB's epoch_us // — no
    * date-type round-trip whose pandas dtype differs between engines).
    * Shape: one partial-agg shuffle for first-seen (bounded by #users),
    * one shuffle join back on user_id (both sides hash the same key; no
    * broadcast — the user table is NOT small at web scale), one final
    * rollup whose countDistinct expands over the already-bounded
    * (cohort, offset, user) triples. */
  def qCohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val e = t(spark, dir, "events")
      .select($"user_id",
        expr(s"unix_micros(cast(ts as timestamp)) div ${dayUs}L").as("d"))
    // Kept as groupBy + join DELIBERATELY: a round-8 A/B against an
    // unordered window min over the user partition (one sort fewer on
    // paper) measured ~35% slower drift-adjusted — WindowExec buffers
    // every user's rows where the partial-aggregated first-seen table
    // plus the ReusedExchange-shared SMJ streams them.
    val first = e.groupBy($"user_id").agg(min($"d").as("cohort_day"))
    e.join(first, "user_id")
      .groupBy($"cohort_day", ($"d" - $"cohort_day").as("day_offset"))
      .agg(countDistinct($"user_id").as("n_users"), count(lit(1)).as("n_events"))
  }

  /** Ordered-funnel analysis: per user the first signup/click/purchase
    * timestamps must occur in strict order; emit user counts per reached
    * stage. ONE shuffle (the per-user conditional-min aggregation, fully
    * map-side combined — min(when) ignores non-matching rows in both
    * engines) and a tiny final rollup; the stage decision is row-local.
    * No per-user event sorting, no window. */
  def qFunnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val f = t(spark, dir, "events")
      .groupBy($"user_id")
      .agg(
        min(when($"event_type" === "signup", $"ts")).as("t1"),
        min(when($"event_type" === "click", $"ts")).as("t2"),
        min(when($"event_type" === "purchase", $"ts")).as("t3"))
    f.select(
        when($"t1".isNotNull && $"t2".isNotNull && $"t3".isNotNull &&
          $"t1" < $"t2" && $"t2" < $"t3", lit(3L))
          .when($"t1".isNotNull && $"t2".isNotNull && $"t1" < $"t2", lit(2L))
          .when($"t1".isNotNull, lit(1L))
          .otherwise(lit(0L)).as("stage"))
      .groupBy($"stage").agg(count(lit(1)).as("n_users"))
  }

  /** Arg-max compaction: the latest event per user (ts DESC, event_id
    * DESC tiebreak) plus the per-user event count — the CDC
    * keep-latest-snapshot shape (for the engine's corpus: keep the most
    * recent crawl of each url). ONE map-side-combined shuffle bounded by
    * #keys: max over the lexicographic (us, event_id, event_type) struct
    * is an associative partial-aggregable max — unlike the
    * row_number-window spelling (the oracle's, oracle-scale only), which
    * shuffles and sorts the FULL event log with no partial aggregation.
    * event_id is unique, so the comparison never reaches event_type and
    * the winner is total-order deterministic. (Only event_type rides
    * along as the kept payload here; a production compaction would carry
    * the full row's columns in the same trailing struct slots.) */
  def qLatestEvent(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select($"user_id",
        struct(unix_micros($"ts".cast("timestamp")).as("us"),
          $"event_id", $"event_type").as("ev"))
      .groupBy($"user_id")
      .agg(max($"ev").as("m"), count(lit(1)).as("n_events"))
      .select($"user_id", $"m.us".as("ts_us"), $"m.event_id".as("event_id"),
        $"m.event_type".as("event_type"), $"n_events")

  /** The closed event-type vocabulary for the pivot pair. EXPLICIT value
    * list: the discovery variant (`pivot(col)` with no values) runs an
    * extra distinct job over the corpus and, on an unbounded type
    * column, blows the column budget — a pivot at scale requires a
    * bounded, declared vocabulary. */
  private[ops] val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Relational PIVOT: per-user event-type counts as a wide matrix. With
    * the explicit value list Spark plans this as two chained hash
    * aggregations — corpus → (user, type) counts (the heavy reduction,
    * fully map-side combined), then a PivotFirst re-aggregation whose
    * exchange carries only the bounded (#users × |types|) pair table —
    * no per-type scan, no join, no distinct-discovery job. (The manual
    * `count(CASE WHEN ...)` spelling — the oracle's — would do it in one
    * shuffle; `pivot()` is used here deliberately as the operator under
    * test, and its extra exchange moves already-reduced rows.) Absent
    * (user, type) cells normalize to 0 to match the oracle. */
  def qPivotEvents(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "events")
      .groupBy($"user_id")
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
    p.select($"user_id" +: EventTypes.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
  }

  /** Relational UNPIVOT (melt): the pivoted wide matrix back to long
    * (user_id, event_type, n), zero cells dropped. The oracle is the
    * plain (user_id, event_type) group-by — so the driver's hash compare
    * ASSERTS the `unpivot ∘ pivot = groupBy` round-trip identity rather
    * than assuming it. unpivot itself is a row-local generator (Expand):
    * the only shuffle in the plan is the pivot's own aggregation. */
  def qUnpivotEvents(spark: SparkSession, dir: String): DataFrame =
    qPivotEvents(spark, dir)
      .unpivot(Array(col("user_id")), EventTypes.map(col).toArray,
        "event_type", "n")
      .filter($"n" > 0)

  /** Time-series densification (gap filling): per-hour event counts per
    * type INCLUDING empty buckets — the dense grid a rate monitor or
    * training-telemetry dashboard needs (a plain groupBy silently omits
    * quiet hours). Shape: the bucket bounds are a 1-row aggregate; the
    * dense (bucket x type) grid explodes from that single row and is
    * bounded by the TIME RANGE, never the corpus (10 years of hours x a
    * closed type vocabulary ~ 4e5 rows); the counts side is one
    * map-side-combined shuffle; the final left join touches only those
    * two bounded tables (AQE broadcasts the grid at any realistic
    * range). Integer bucket arithmetic on both engines — no date-type
    * round-trip. */
  def qGapfillRate(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val e = t(spark, dir, "events")
      .select(expr(s"unix_micros(cast(ts as timestamp)) div ${hourUs}L").as("bk"),
        $"event_type")
    val counts = e.groupBy($"bk", $"event_type").agg(count(lit(1)).as("n"))
    val grid = e.agg(min($"bk").as("lo"), max($"bk").as("hi"))
      .select(explode(sequence($"lo", $"hi")).as("bk"))
      .crossJoin(
        spark.createDataFrame(EventTypes.map(Tuple1(_)))
          .toDF("event_type"))
    grid.join(counts, Seq("bk", "event_type"), "left")
      .select($"bk", $"event_type", coalesce($"n", lit(0L)).as("n"))
  }

  /** Explicitly SALTED skew join, the companion of [[qSaltedAgg]]: the
    * fact side's hot source keys are split across 8 salts (row-local
    * pmod over the unique doc_id) and the bounded dimension side is
    * replicated once per salt (explode of a literal 0..7 sequence), so
    * the join key (source, salt) spreads a dominant source over 8 tasks
    * instead of one straggler. The oracle is the UNSALTED spelling — the
    * hash compare proves every fact row matched its dimension row
    * exactly once through the salt split. (AQE's skew-join handles the
    * sort-merge case at runtime; explicit salting remains the tool when
    * the skewed side feeds a hash aggregate or the optimizer cannot see
    * the skew.) */
  def qSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val salts = 8
    val docs = t(spark, dir, "documents")
      .select($"doc_id", $"source", $"n_chars", pmod($"doc_id", lit(salts.toLong)).as("salt"))
    val dim = t(spark, dir, "documents")
      .groupBy($"source").agg(count(lit(1)).as("src_docs"))
      .withColumn("salt", explode(sequence(lit(0L), lit(salts - 1L))))
    docs.join(dim, Seq("source", "salt"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n"), max($"src_docs").as("src_docs"),
        sum($"n_chars").as("chars"))
  }

  /** Snapshot diff (CDC classification): two simulated crawl snapshots
    * of the corpus — "old" drops every 3rd doc, "new" drops every 5th
    * and edits every 7th — full-outer joined on the key and classified
    * added / removed / changed / same by content hash. The
    * crawl-to-crawl diff every recrawl pipeline runs before deciding
    * what to re-encode. Shape: ONE full-outer hash join on the unique
    * key (both sides shuffle-partition on doc_id — no broadcast of an
    * unbounded snapshot), content compared by md5 so the join carries
    * 16-byte digests, never the documents themselves. */
  def qSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    val old = d.filter($"doc_id" % 3 =!= 0)
      .select($"doc_id", md5($"text".cast("binary")).as("h_old"))
    val neu = d.filter($"doc_id" % 5 =!= 0)
      .select($"doc_id",
        md5(when($"doc_id" % 7 === 0, concat(lit("v2:"), $"text"))
          .otherwise($"text").cast("binary")).as("h_new"))
    old.join(neu, Seq("doc_id"), "full_outer")
      .select($"doc_id",
        when($"h_old".isNull, "added")
          .when($"h_new".isNull, "removed")
          .when($"h_old" =!= $"h_new", "changed")
          .otherwise("same").as("status"))
  }

  /** Sketch surface with oracle-pinned error bounds: per source, the
    * exact NDV plus an HLL++ estimate (`approx_count_distinct`,
    * rsd 0.02) and a GK quantile-sketch median (`approx_percentile`,
    * accuracy 10000), each reduced to a bounds flag the DuckDB oracle
    * pins to 1 — the hash compare ASSERTS the sketches landed within
    * their advertised error (HLL within 5% of exact; sketch median
    * within 5% + 1 of the exact interpolated median). Both sketches are
    * deterministic for a fixed input, and both aggregate with partial
    * merge (bounded sketch state per task — O(1) per group, the whole
    * point of sketches at 100 TB where exact countDistinct's double
    * aggregation must shuffle every distinct value). */
  def qSketchBounds(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    // exact NDV and the sketches are SEPARATE aggregations joined on the
    // group key: mixed into one agg, planAggregateWithOneDistinct runs
    // FOUR ObjectHashAggregate stages whose first partial groups by
    // (source, n_chars) — building and serializing an HLL + percentile +
    // GK buffer PER DISTINCT VALUE group through two exchanges (measured
    // 0.69 s at sf0.1 for 50k rows). Split, the sketch agg keeps one
    // buffer per source and the exact NDV runs as a plain two-stage
    // hash aggregate with primitive buffers; the rejoin moves #sources
    // rows. Same aggregates over the same rows — identical output.
    val exact = d.groupBy($"source").agg(countDistinct($"n_chars").as("exact_ndv"))
    val sk = d.groupBy($"source").agg(
      approx_count_distinct($"n_chars", 0.02).as("hll_ndv"),
      expr("percentile(n_chars, 0.5d)").as("p50"),
      expr("approx_percentile(n_chars, 0.5d, 10000)").as("ap50"))
    // null-safe join: a null source is one GROUP BY group on both sides
    // and must survive the rejoin, as it does in the oracle's GROUP BY 1
    exact.join(sk.withColumnRenamed("source", "sk_source"), $"source" <=> $"sk_source")
      .select(
        $"source", $"exact_ndv",
        (abs($"hll_ndv" - $"exact_ndv") <= $"exact_ndv" * 0.05 + 1.0)
          .cast("bigint").as("hll_ok"),
        (abs($"ap50" - $"p50") <= $"p50" * 0.05 + 1.0)
          .cast("bigint").as("pctl_ok"))
  }

  /** Collocation mining: top-20 bigrams by PMI over the corpus token
    * stream (phrase discovery for tokenizer/vocab curation). Shape: the
    * unigram and bigram streams are emitted row-locally from ONE corpus
    * scan as a single keyed stream ((x, NULL) = unigram, (x, y) =
    * bigram), so one map-side-combined shuffle produces both count
    * tables; the bounded counts table is cut once (lazy localCheckpoint,
    * the q_ngram_jaccard pattern) because three consumers read it — the
    * bigram side, and the unigram lookup joined on each bigram leg. Those
    * joins touch only vocabulary-bounded tables (AQE broadcasts them at
    * small scale; at web scale they hash-join on the token key — an
    * unconditional broadcast of a web-corpus vocabulary would OOM the
    * driver). The PMI ORDER is exact integer arithmetic:
    * score_e6 = c_xy * N * 10^6 div (c_x * c_y) with operands cast to
    * decimal(38,0) BEFORE multiplying (Long*Long would overflow first
    * under ANSI; the result is ≤ N·10^6 < Long.Max at 10^12 bigrams and
    * IntegralDivide returns BIGINT) — monotone in PMI, so the float log
    * never enters the comparison and both engines rank identically. The
    * final top-k is TakeOrdered under the total order (score_e6 DESC, x,
    * y) — no global sort. */
  def qBigramPmi(spark: SparkSession, dir: String): DataFrame = {
    // the ONE shared tokenization (TokensExpr / oracle TokensSql) — an
    // inline copy here would silently diverge if the pair is retuned
    val ts0 = tPar(spark, dir, "documents")
      .select(expr(TokensExpr).as("ts")).filter(size($"ts") > 0)
    // one generator pass: every token as (x, NULL), every adjacent pair
    // as (x, y). slice(ts, 1, size-1) is empty for 1-token docs (length
    // 0 slice), so no bogus pairs; transform's index i is 0-based and
    // ts[i+1] is the 0-based successor element.
    val entries = ts0.select(explode(concat(
        expr("transform(ts, c -> struct(c AS x, CAST(NULL AS STRING) AS y))"),
        expr("transform(slice(ts, 1, size(ts) - 1), (c, i) -> struct(c AS x, ts[i + 1] AS y))")))
      .as("e"))
      .select($"e.x".as("x"), $"e.y".as("y"))
    // bounded by |vocab| + |distinct bigrams| — cut ONCE for its three
    // consumers (uncut, each would re-scan and re-explode the corpus;
    // filters on the grouping key would push below the aggregate and
    // un-canonicalize the exchange, defeating ReusedExchange)
    val counts = entries.groupBy($"x", $"y").agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val cxyAll = counts.filter($"y".isNotNull)
      .select($"x", $"y", $"c".as("c_xy"))
    val uni = counts.filter($"y".isNull).select($"x".as("tok"), $"c".as("c_tok"))
    // N = total bigram instances, BEFORE the min-count cut (PMI's
    // normalizer is corpus mass, not candidate mass); 1-row broadcast
    val totals = cxyAll.agg(sum($"c_xy").as("n_total"))
    cxyAll.filter($"c_xy" >= 3)
      .join(uni.select($"tok".as("x"), $"c_tok".as("c_x")), "x")
      .join(uni.select($"tok".as("y"), $"c_tok".as("c_y")), "y")
      .crossJoin(broadcast(totals))
      .select($"x", $"y", $"c_xy",
        expr("(CAST(c_xy AS DECIMAL(38,0)) * CAST(n_total AS DECIMAL(38,0)) * 1000000)" +
          " div (CAST(c_x AS DECIMAL(38,0)) * CAST(c_y AS DECIMAL(38,0)))").as("score_e6"))
      .orderBy($"score_e6".desc, $"x", $"y")
      .limit(20)
  }

  /** Multimodal plumbing: binary metadata extraction (bytes, hash, magic). */
  def qBinaryMeta(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      $"doc_id",
      octet_length($"text").cast("bigint").as("n_bytes"),
      md5($"text".cast("binary")).as("content_hash"),
      substring($"text", 1, 4).as("magic"))

  /** Exact n-gram Jaccard near-dup verification over LSH candidates:
    * MinHash h0 buckets propose pairs (bucket size capped 2..16), then the
    * true Jaccard over distinct 8-gram shingles is computed for each pair
    * by a shingle equi-join. The LSH->exact-verify shape is the one that
    * scales: pairs are bounded per bucket, never all-pairs. */
  def qNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // The two bounded intermediates below are cut with localCheckpoint
    // (executor-resident blocks — fastest, but an executor loss mid-query
    // fails the query). For long production runs set
    // `spark.graft.jaccard.reliableCheckpoint=true` to promote both cuts
    // to reliable checkpoint() against the configured checkpoint dir, the
    // same fault-tolerance escape hatch qDedupClusters offers.
    val reliable = spark.conf
      .getOption("spark.graft.jaccard.reliableCheckpoint").contains("true")
    if (reliable) ensureCheckpointDir(spark, "spark.graft.jaccard.reliableCheckpoint")
    // reliable cuts always eager — a lazy reliable checkpoint(false)
    // never persists (see ccLabels' cut for the full rationale)
    def cut(df: DataFrame, eager: Boolean = true): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(eager)
    // raw (non-distinct) shingle stream: stays map-side — the corpus side
    // must NEVER shuffle its full shingle set (at 100 TB that is ~the
    // corpus itself; see q_contamination's comment for the same rule)
    val sig = minhashSig(shingleStream(docs), 1).select($"doc_id", $"h0".as("bucket"))
    val okBuckets = sig.groupBy($"bucket").agg(count(lit(1)).as("bcnt"))
      .filter($"bcnt".between(2, 16))
    val members = sig.join(okBuckets, "bucket")
    // materialize the (bounded, ≤16-per-bucket) pair list ONCE: it feeds
    // the broadcast, the verify joins and the output — without the cut,
    // each consumer would re-run the whole signature subtree over the
    // corpus
    // LAZY cut: sh's eager materialization below computes (and persists)
    // the pair RDD as part of its own job — one job covers both cuts
    val pairs = cut(members.as("a").join(members.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")),
      eager = false)
    // only CANDIDATE docs' shingles are ever exploded or dedup'd: the
    // DOCUMENT rows semi-join against the candidate doc set BEFORE the
    // shingle generator runs (guide rule: join on the un-exploded key,
    // explode after — the old shape exploded the whole corpus and then
    // semi-joined the O(#shingles) stream, paying the generator plus a
    // stream-sized probe for rows that were then thrown away). No
    // explicit broadcast hint: the candidate set is usually small (AQE
    // sees the materialized pair list's size at runtime and broadcasts
    // the semi-join), but on a pathologically dup-heavy corpus it can
    // approach O(#docs) — an unconditional broadcast() would then OOM the
    // driver, where AQE instead degrades to a shuffle semi-join.
    // (candDocs reads the lazily-CUT pairs table — by the time it runs,
    // pairs is checkpointed blocks, so the union costs less than
    // re-deriving the equivalent doc set from the members join)
    val candDocs = pairs.select($"doc_a".as("doc_id"))
      .union(pairs.select($"doc_b".as("doc_id"))).distinct()
    // (also materialized once: sh feeds sizes and BOTH sides of the
    // common-shingle join — uncut, each consumer would re-scan the corpus)
    val sh = cut(shingleStream(
      docs.join(candDocs, Seq("doc_id"), "left_semi")).distinct())
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val common = pairs
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id") && col("sa.s") === col("sb.s"))
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("common"))
    pairs.join(common, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("common"))
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      // exact INTEGER per-myriad, not round(double, 4): the jaccard is a
      // small exact rational, and double rounding ties at the 5th decimal
      // where Spark (decimal-string HALF_UP) and DuckDB (binary
      // std::round) disagree — same design as qRepetition's rep_e4
      .select($"doc_a", $"doc_b",
        expr("common * 10000L div (na + nb - common)")
          .cast("bigint").as("jaccard_e4"))
  }

  /** Embedding cosine near-dup pairs via multi-band sign-LSH: two 8-bit
    * sign bands (dims 1-8 and 9-16, OR'd for recall), per-(band,bucket)
    * size cap 2..16 so a hot bucket can never blow up into a quadratic
    * self-join (the same guard q_ngram_jaccard uses — at 100 TB an
    * uncapped skewed bucket is the scale-killer), candidate pairs
    * dedup'd across bands, then exact cosine on the bounded pair set. */
  def qEmbedNeardup(spark: SparkSession, dir: String): DataFrame = {
    def bucketBits(band: Int) = (1 to 8).map(i =>
      when(element_at($"embedding", 8 * band + i) > 0f, lit(1L << (i - 1))).otherwise(0L)).reduce(_ + _)
    val e = t(spark, dir, "embeddings")
    val reliable = spark.conf
      .getOption("spark.graft.neardup.reliableCheckpoint").contains("true")
    if (reliable) ensureCheckpointDir(spark, "spark.graft.neardup.reliableCheckpoint")
    // ONE materialization of the banded signatures, shared by the bucket
    // counts and both self-join sides — uncut, the scan+explode subtree is
    // evaluated four times inside the one job. Rows are (vec_id, band,
    // bucket): two ~24-byte rows per vector, <1% of the embedding table,
    // so the cut stays cheap at any scale. Lazy executor-resident blocks
    // by default; the conf promotes to a reliable checkpoint for long
    // production runs (same escape hatch as q_ngram_jaccard's cuts).
    val bandsRaw = e.select($"vec_id", explode(map(
        lit(0L), bucketBits(0).cast("bigint"),
        lit(1L), bucketBits(1).cast("bigint")))
        .as(Seq("band", "bucket")))
    val bands =
      if (reliable) bandsRaw.checkpoint(true) else bandsRaw.localCheckpoint(false)
    val okBuckets = bands.groupBy($"band", $"bucket").agg(count(lit(1)).as("bcnt"))
      .filter($"bcnt".between(2, 16))
    val members = bands.join(okBuckets, Seq("band", "bucket"))
    val pairs = members.as("a").join(members.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct() // a pair proposed by both bands scores once
    val dot = expr(
      "aggregate(zip_with(a_emb, b_emb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)")
    val nrm = (c: String) => expr(
      s"sqrt(aggregate($c, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))")
    // the similarity gate runs on the RAW double (bit-identical across
    // engines — same fold order) and the emitted column is the tie-free
    // floor-e4, see qEmbedTopk; gating on a rounded value let the
    // documented round(x, 4) divergence flip row MEMBERSHIP at the 0.25
    // boundary, not just a digit
    pairs
      .join(e.select($"vec_id".as("vec_a"), $"embedding".as("a_emb")), "vec_a")
      .join(e.select($"vec_id".as("vec_b"), $"embedding".as("b_emb")), "vec_b")
      .select($"vec_a", $"vec_b", (dot / (nrm("a_emb") * nrm("b_emb"))).as("cos_raw"))
      .filter($"cos_raw" >= 0.25)
      .select($"vec_a", $"vec_b", floor($"cos_raw" * 10000d).cast("bigint").as("cos_e4"))
  }

  /** Multimodal decode stub: media payloads are opaque bytes decoded in
    * batched mapPartitions (the real Spark plumbing — typed batches,
    * partition-parallel); the decoder itself is a deterministic fake
    * (no image/audio libs in this sandbox), deriving width/height/frames
    * from the payload bytes. */
  def qMmDecode(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val docs = t(spark, dir, "documents")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .as[DocRow](Encoders.product[DocRow])
    docs.mapPartitions { it =>
      it.grouped(256).flatMap { batch => // batch shape mirrors a real decode UDF
        batch.iterator.map { r =>
          val payload = r.text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val nBytes = payload.length.toLong
          val first = if (payload.nonEmpty) r.text.codePointAt(0).toLong else 0L
          MediaMeta(r.doc_id, nBytes,
            160L + (nBytes % 32L) * 16L,
            120L + (first % 24L) * 16L,
            1L + nBytes % 16L)
        }
      }
    }(Encoders.product[MediaMeta]).toDF()
  }

  /** Exact percentiles per group (ordered-set aggregate): length
    * distribution of documents per lang — the selector's length-stats
    * pass as SQL. Exact `percentile` (linear interpolation), not the
    * sketch variant, so the DuckDB quantile_cont oracle matches bit-for-
    * bit after rounding. */
  def qPercentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").groupBy($"lang").agg(
      count(lit(1)).as("cnt"),
      round(expr("percentile(n_chars, 0.5D)"), 4).as("p50"),
      round(expr("percentile(n_chars, 0.9D)"), 4).as("p90"),
      round(expr("percentile(n_chars, 0.99D)"), 4).as("p99"))

  /** Near-dup cluster formation: connected components over the capped
    * MinHash candidate pairs — the step after LSH in every web-scale
    * dedup pipeline (pairs alone don't dedup; clusters pick a keeper).
    * Min-label propagation to fixpoint: each round every node takes the
    * smallest label among itself and its neighbors; converges in
    * O(component diameter) rounds of one shuffle join each (the
    * large-star/small-star family — never materializes components as
    * driver state; labels stay a distributed table).
    *
    * Scale/fault-tolerance story: each round's lineage is cut with a
    * LAZY localCheckpoint (truncates the plan so the driver's analysis
    * cost stays O(1) per round), and convergence is checked only every
    * [[CcCheckEvery]] rounds — labels are monotone non-increasing, so
    * "no change across k rounds" still certifies the fixpoint while
    * HALVING the per-round driver round-trips and count jobs.
    * localCheckpoint stores blocks on executors only: fast, but an
    * executor loss mid-run kills the job. For long 100-TB runs set
    * `spark.graft.cc.checkpointEvery=k` to promote every k-th round's cut
    * to a RELIABLE checkpoint() (HDFS/object-store backed via the
    * checkpoint dir) — executor loss then recomputes at most k-1 rounds
    * from the last durable snapshot instead of aborting.
    * Output: one row per cluster with its size (keeper = cluster_id =
    * min doc_id). */
  val CcCheckEvery = 2

  /** Driver-side memo for converged [[ccLabels]] results, keyed by
    * (session, input dir). The propagation loop is EAGER (it runs jobs
    * round by round), so caching its output DataFrame could never stop a
    * second invocation from re-running the whole fixpoint — unlike the
    * IVF centroids, whose lineage is lazy and CacheManager-dedupable.
    * clusters-then-apply is ONE pipeline in practice; recomputing the
    * propagation for the apply step doubled the dedup cost for nothing.
    * Staleness contract is exactly Dataset.cache()'s: the entry reflects
    * the input as of first evaluation within the session. Entries hold
    * the converged label table's localCheckpoint blocks — bounded by the
    * candidate set, one entry per (session, dir, durability mode);
    * entries of stopped sessions are unreachable garbage of the same
    * bounded size. The durability conf (spark.graft.cc.checkpointEvery)
    * is part of the key: flipping it mid-session asks for a
    * differently-backed computation, which a memo hit would silently
    * skip. */
  private val ccMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Int), (DataFrame, DataFrame)]()

  /** Converged min-label propagation over the LSH candidate pairs of
    * the documents table under `dir`: returns (labels, touched) where
    * labels = (doc_id, label) for every doc that appears in a candidate
    * pair, and touched = its doc_id projection (reads the same cached
    * RDD). Docs NOT in the result are singleton clusters by definition
    * (label = own id) — callers add them back without dragging the
    * corpus through the rounds. Shared by [[qDedupClusters]] (cluster
    * stats) and [[qDedupApply]] (labels joined back to the corpus);
    * the fixpoint is computed ONCE per (session, dir) via [[ccMemo]]. */
  private def ccLabels(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    purgeStoppedSessions(ccMemo)(_._1)
    val reliableEvery = spark.conf.getOption("spark.graft.cc.checkpointEvery")
      .map(_.toInt).getOrElse(0)
    val key = (spark, dir, reliableEvery)
    val cached = ccMemo.get(key)
    // VALIDATE a hit before trusting it: the entry roots at
    // localCheckpoint executor blocks with truncated lineage — after an
    // executor loss they are gone and cannot be recomputed, and a
    // poisoned entry would fail every later dedup query in the session.
    // The probe runs two jobs over the bounded cached tables (far
    // cheaper than the fixpoint); on failure the entry is recomputed,
    // so block loss degrades to one extra propagation run, exactly the
    // pre-memo behavior.
    val valid = cached != null && {
      try { cached._1.count(); cached._2.count(); true }
      catch { case _: Throwable => false }
    }
    if (valid) cached
    else {
      val fresh = ccLabelsCompute(spark, tPar(spark, dir, "documents"), reliableEvery)
      ccMemo.put(key, fresh) // racing recomputes both converge; last wins
      fresh
    }
  }

  /** Drop memo entries whose owning session is stopped — their cached
    * blocks are unreachable and the entries would otherwise pin the
    * stopped session's object graph for the JVM lifetime. Maps are
    * O(#sessions x #dirs) small; a linear sweep per lookup is noise. */
  private def purgeStoppedSessions[K, V](
      m: java.util.concurrent.ConcurrentHashMap[K, V])(session: K => SparkSession): Unit =
    m.keySet().removeIf(k => session(k).sparkContext.isStopped)

  private def ccLabelsCompute(spark: SparkSession, docs: DataFrame,
      reliableEvery: Int): (DataFrame, DataFrame) = {
    val bands = bands4(minhashSig(shingleStream(docs), 4))
    val okBuckets = bands.groupBy($"band", $"bucket").agg(count(lit(1)).as("bcnt"))
      .filter($"bcnt".between(2, 16))
    val members = bands.join(okBuckets, Seq("band", "bucket"))
    val pairs = members.as("a").join(members.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst")).distinct()
    // lineage cut per round (not persist): iterative DataFrames otherwise
    // double their plan tree every round and OOM the DRIVER on analysis.
    // spark.graft.cc.checkpointEvery=k (parsed ONCE by ccLabels — it is
    // also the memo key's durability component) promotes every k-th cut
    // to a reliable checkpoint() for fault tolerance on long runs.
    if (reliableEvery > 0) ensureCheckpointDir(spark, "spark.graft.cc.checkpointEvery")
    // Reliable cuts are ALWAYS eager: a lazy Dataset.checkpoint(false)
    // never persists and (unlike lazy localCheckpoint, whose persist
    // registers immediately) is only written when its own RDD roots a
    // job — which the lazy intermediate rounds never do, so a lazy
    // reliable cut would silently provide no durability at all. Extra
    // jobs are the accepted price of the durability mode.
    def cut(df: DataFrame, round: Int, eager: Boolean): DataFrame =
      if (reliableEvery > 0 && round % reliableEvery == 0) df.checkpoint(true)
      else df.localCheckpoint(eager)

    // The RDD[Row] round-trip on the (bounded) edge set strips the
    // checkpoint-preserved "origin constraints" of the LSH self-join
    // lineage: Catalyst keeps them on LogicalRDD, and the union
    // constraint rewrite inside the propagation rounds throws
    // `key not found: <attr>` when one references an attribute the
    // self-join deduplication cloned away (seen on Spark 4.1 once labels
    // derive from the edge lineage). Edges are O(candidate pairs), so the
    // one-time Row conversion is noise.
    val edges0 = pairs.union(pairs.select($"dst".as("src"), $"src".as("dst")))
    val edgesStripped = spark.createDataFrame(edges0.rdd, edges0.schema)
    // pre-partition by src BEFORE the cut: the checkpoint captures the
    // hash partitioning, so the seed groupBy and EVERY round's
    // propagation join consume edges exchange-free — the edge set
    // shuffles once total instead of once per round. The cut is LAZY:
    // the labels0 job below materializes (and persists) it, so edges +
    // seed cost ONE job instead of two
    val edges = cut(edgesStripped.repartition($"src"), 0, eager = false)

    // only docs that appear in a candidate pair can ever change label —
    // isolated docs are singleton clusters BY DEFINITION and are added
    // back after the fixpoint. The iteration therefore shuffles O(|near-
    // dup candidates|) rows per round, not O(|corpus|): at 100 TB the
    // candidate set is a small fraction of the table, and dragging every
    // row through O(log d) propagation rounds was the dominant cost.
    // (edges holds both directions, so `src` alone covers all members.)
    // The seed FUSES the old select(src).distinct() with the first
    // neighbor-min round: label = min(self, neighbors) straight off the
    // grouped edge table (exchange-free — edges is already partitioned
    // by src). One job replaces the distinct shuffle plus a full
    // propagation round. ONE materialization seeds both the label table
    // and the candidate doc set (touched projects the cached labels RDD).
    val labels0 = edges.groupBy($"src")
      .agg(min($"dst").as("mn"))
      .select($"src".as("doc_id"), least($"src", $"mn").as("label"))
      .localCheckpoint(true)
    val touched = labels0.select($"doc_id")
    var labels = labels0
    // COUNT-FREE convergence: each round's projection routes the new label
    // through a udf that bumps a per-round accumulator when it differs
    // from the previous round's label. The every-k-rounds EAGER cut then
    // materializes all lazy cuts since the last check in one job, and the
    // accumulator values certify the fixpoint — no separate join+count job
    // per check. Accumulators in transformations are at-least-once, which
    // is safe here: a retried task can only OVER-count (claim change where
    // the round did change something anyway); a genuinely changeless
    // window always reads 0.
    var windowAccs = List.empty[org.apache.spark.util.LongAccumulator]
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      // neighbor-min step; `own` tags each doc's previous-round label so
      // the change udf below can compare against it after pointer jumping
      val prop = labels.as("l").join(edges.as("e"), col("l.doc_id") === col("e.src"))
        .select(col("e.dst").as("doc_id"), col("l.label"), lit(false).as("own"))
      val viaNeighbors = labels.select($"doc_id", $"label", lit(true).as("own")).union(prop)
        .groupBy($"doc_id")
        .agg(min($"label").as("label"), min(when($"own", $"label")).as("old_label"))
      val acc = spark.sparkContext.longAccumulator(s"graft.cc.changed.r${rounds + 1}")
      windowAccs ::= acc
      val markChanged = udf { (oldL: Long, newL: Long) =>
        if (oldL != newL) acc.add(1L)
        newL
      }.asNondeterministic() // side-effecting: keep Catalyst from cloning it
      // pointer-jumping step (label := label of my label): halves label-
      // chain lengths, so convergence is O(log diameter) rounds. The
      // self-join runs over a LAZILY-PERSISTED copy of the round's
      // aggregate (vn) so the aggregation subtree is computed once per
      // round — a plan-level self-join on viaNeighbors cloned and
      // computed it twice. (Jumping through the PREVIOUS round's labels
      // instead would also be correct — labels are monotone, same
      // fixpoint — but the stale jump measured 2 extra rounds and net
      // slower.)
      // lazy cut between checks: the next EAGER cut materializes every
      // lazy cut since the last check (and runs their change udfs) in one
      // job
      val isCheck = (rounds + 1) % CcCheckEvery == 0 || rounds + 1 >= 50
      val vn = viaNeighbors.localCheckpoint(false)
      val next = cut(vn.as("a")
        .join(vn.select($"doc_id".as("jid"), $"label".as("jlabel")),
          col("a.label") === col("jid"), "left")
        .select(col("a.doc_id"),
          markChanged(col("a.old_label"),
            coalesce(least(col("a.label"), col("jlabel")), col("a.label"))).as("label")),
        rounds + 1, eager = isCheck)
      labels = next
      rounds += 1
      if (isCheck) {
        // labels only ever decrease, so zero changes across the whole
        // window certifies a fixpoint for every intervening round
        converged = windowAccs.forall(_.value == 0L)
        windowAccs = Nil
      }
    }
    require(converged, s"label propagation did not converge in $rounds rounds")
    if (spark.conf.getOption("spark.graft.cc.debug").contains("true"))
      println(s"[graft.cc] converged in $rounds rounds")
    (labels, touched)
  }

  def qDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val (labels, touched) = ccLabels(spark, dir)
    // isolated docs rejoin as singleton clusters (cluster_id = own id) —
    // identical output to iterating them, without the per-round shuffles.
    // (aliased BEFORE the anti-join: Union's constraint rewrite chokes on
    // constraints that mention a pre-alias attribute absent from output)
    val singles = docs.select($"doc_id".as("cluster_id"))
      .join(touched, $"cluster_id" === touched("doc_id"), "left_anti")
      .select($"cluster_id", lit(1L).as("n_docs"))
    labels.groupBy($"label".as("cluster_id")).agg(count(lit(1)).as("n_docs"))
      .unionByName(singles)
  }

  /** Dedup APPLY — the step every training pipeline actually runs after
    * clustering: cluster labels joined back onto the corpus, keeper =
    * min doc_id per cluster (= the cluster_id itself, by construction of
    * min-label propagation). Emits one row per document with its cluster
    * and a keep flag; filtering `is_keeper = 1` IS the deduplicated
    * corpus. One join of the corpus against the BOUNDED label table
    * (candidate docs only — non-candidates coalesce to themselves
    * map-side), so at 100 TB the corpus streams through exactly one
    * broadcast-or-shuffle join and nothing else. */
  def qDedupApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val (labels, _) = ccLabels(spark, dir)
    docs.select($"doc_id")
      .join(labels.select($"doc_id", $"label"), Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"label", $"doc_id").as("cluster_id"),
        ($"doc_id" === coalesce($"label", $"doc_id")).cast("bigint").as("is_keeper"))
  }

  /** Deterministic stratified sampling: per-lang sampling rates applied
    * via a content hash of the key (md5 nibbles, reproducible across
    * engines and runs — the property a training-data pipeline needs so a
    * re-run selects the SAME sample). Narrow projection + filter: no
    * shuffle, embarrassingly parallel at any scale. */
  def qSampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5($"doc_id".cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("bigint") % 100
    val rate = when($"lang" === "en", 50).when($"lang" === "de", 20).otherwise(10)
    t(spark, dir, "documents")
      .filter(h < rate)
      .select($"doc_id", $"lang")
  }

  /** Vocabulary building: global token frequency top-k — the first step
    * of tokenizer training. Partial aggregation makes the token groupBy
    * one shuffle; the top-k is a driver-side 100-row limit. */
  def qVocabTopk(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(explode(split($"text", " ", -1)).as("tk"))
      .filter(length($"tk") > 0)
      .groupBy($"tk").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"tk").limit(100)

  /** Sequence packing: greedy char-budget bins per (source, shard) — the
    * "pack short documents into fixed-size training sequences" op. The
    * running sum is a window PARTITIONED by (source, shard), where shard
    * is a deterministic content-hash of the doc_id: a corpus dominated by
    * ONE source would otherwise serialize its whole packing pass onto a
    * single window partition. Sharding is how real packing runs anyway —
    * sequences only need to be dense per output shard, not globally.
    * bin = the budget bucket the document's START offset falls in. */
  val SeqPackShards = 8

  def qSeqPack(spark: SparkSession, dir: String): DataFrame = {
    val budget = 16384L
    val shard = (conv(substring(md5($"doc_id".cast("string").cast("binary")), 1, 2), 16, 10)
      .cast("bigint") % SeqPackShards).as("shard")
    val w = Window.partitionBy($"source", $"shard").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    t(spark, dir, "documents")
      .select($"source", shard, $"doc_id", $"n_chars")
      .select($"source", $"shard", $"doc_id", $"n_chars",
        (sum($"n_chars").over(w) - $"n_chars").as("start_off"))
      .withColumn("bin", floor($"start_off" / budget).cast("bigint"))
      .groupBy($"source", $"shard", $"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars"))
  }

  /** Training-sequence chunking: each document cut into fixed 512-char
    * windows at stride 384 (128-char overlap) — the "chunk documents
    * into training sequences" op. Pure row-local explode (narrow, no
    * shuffle, embarrassingly parallel at any scale); trailing partial
    * chunks are kept, as real pipelines do. The fingerprint ties each
    * chunk's CONTENT into the oracle hash, so the compare proves both
    * engines cut identical windows. */
  def qChunkWindows(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select($"doc_id", $"text",
        explode(sequence(lit(1), greatest(lit(1), length($"text")), lit(384))).as("start"))
      .select(
        $"doc_id",
        (($"start" - 1) / 384).cast("bigint").as("chunk_id"),
        length(expr("substring(text, start, 512)")).cast("bigint").as("n_chunk_chars"),
        md5(expr("substring(text, start, 512)").cast("binary")).as("chunk_fp"))

  /** Within-document repetition / quality signals, computed ROW-LOCALLY
    * with array functions — no tokenize-shuffle: n_words, distinct
    * words, and the repetition ratio a quality filter thresholds on.
    * At 100 TB this is a narrow projection; the distinct count never
    * leaves the row. The ratio is an exact INTEGER per-myriad
    * ((n-d)*10000 div n): rep_ratio is a small exact rational, so a
    * double round(x, 4) ties at the 5th decimal at real density and
    * Spark (decimal-string HALF_UP) vs DuckDB (binary std::round)
    * resolve such ties differently — e.g. 1 - 131/4000 rounds to .9672
    * in Spark and .9673 in DuckDB. Integer division is identical
    * everywhere. */
  /** The one whitespace-tokenization expression shared by every oracled
    * text op (qRepetition, tokenLines, qDocFreq) — its DuckDB twin is
    * `list_filter(string_split(text, ' '), x -> length(x) > 0)`. The
    * cross-engine equivalence of THIS expression is the load-bearing
    * invariant of those oracles; change both together or none. */
  private val TokensExpr = "filter(split(text, ' ', -1), x -> length(x) > 0)"

  def qRepetition(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select($"doc_id", expr(TokensExpr).as("toks"))
      .select(
        $"doc_id",
        size($"toks").cast("bigint").as("n_words"),
        size(array_distinct($"toks")).cast("bigint").as("n_distinct"))
      .withColumn("rep_e4",
        when($"n_words" > 0,
          expr("(n_words - n_distinct) * 10000L div n_words"))
          .otherwise(lit(0L)).cast("bigint"))

  /** Default shard count for the deterministic corpus shuffle, and the
    * value the DuckDB oracle SQL is generated against (the driver gate
    * runs with default conf). 64 already dwarfs this sandbox's 32 cores. */
  val ShuffleShards = 64

  /** Effective shard count: `spark.graft.shuffle.shards` (default
    * [[ShuffleShards]]). The per-shard window serializes one shard per
    * task, so a real deployment sets shards ≈ output files — well above
    * the executor count — WITHOUT recompiling; shard width and per-task
    * sort memory decouple through this knob. */
  def shuffleShards(spark: SparkSession): Int = {
    val n = spark.conf.get("spark.graft.shuffle.shards", ShuffleShards.toString).toInt
    require(n > 0 && n <= 65536,
      s"spark.graft.shuffle.shards must be in [1, 65536] (shard hash is 16 bits), got $n")
    n
  }

  /** Deterministic global training-order shuffle: every epoch pipeline
    * ends by writing the corpus in a reproducible pseudorandom order.
    * Each doc gets a content-derived sort key (md5 over a seeded doc_id
    * string — reruns and both engines produce the SAME permutation), a
    * shard from the key's leading 4 nibbles (16 bits — so the conf knob
    * can raise shards to 65536 without exhausting the hash), and a dense
    * position within its shard. Global order = (shard, pos) — NO global sort and no
    * single-partition window anywhere: one hash exchange on `shard`,
    * then a per-shard window whose partitions the md5 keeps uniform.
    * The alternative spellings fail at scale: orderBy(skey) is a global
    * range sort whose skew is invisible until the biggest partition
    * OOMs a sorter, and row_number() over the whole corpus is the
    * single-partition WindowExec this repo bans. */
  def qShuffleShards(spark: SparkSession, dir: String): DataFrame = {
    val skey = md5(concat(lit("shuf1:"), $"doc_id".cast("string")).cast("binary"))
    val shard = conv(substring($"skey", 1, 4), 16, 10).cast("bigint") % shuffleShards(spark)
    val w = Window.partitionBy($"shard").orderBy($"skey", $"doc_id")
    t(spark, dir, "documents")
      .select($"doc_id", skey.as("skey"))
      .withColumn("shard", shard)
      .withColumn("pos", row_number().over(w).cast("bigint"))
      .select($"doc_id", $"shard", $"pos")
  }

  /** Normalization-aware exact dedup: group by a fingerprint of the
    * CANONICALIZED text (lowercase, whitespace runs collapsed to one
    * space, ends trimmed) so trivially-reformatted copies — the case and
    * whitespace variants raw-hash dedup is blind to — land in one group.
    * `n_raw_variants` counts distinct RAW hashes inside each group: > 1
    * is exactly the set normalization caught. The whitespace class is
    * spelled explicitly ([ \t\r\n]) on both engines — Java's \s also eats
    * \x0B where RE2's does not, a cross-engine divergence this query must
    * not inherit. One shuffle (partial-agg groupBy on the fingerprint);
    * countDistinct's double aggregation is over an already-bounded group. */
  def qNormDedup(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(lower($"text"), "[ \\t\\r\\n]+", " "))
    t(spark, dir, "documents")
      .select($"doc_id", md5($"text".cast("binary")).as("raw_fp"),
        md5(norm.cast("binary")).as("norm_fp"))
      .groupBy($"norm_fp")
      .agg(count(lit(1)).as("cnt"),
        countDistinct($"raw_fp").as("n_raw_variants"),
        min($"doc_id").as("keep_id"))
  }

  /** Quality-filter funnel: per-source survival counts through the
    * cumulative gate chain every curation pipeline reports before a
    * training run — length floor, allowed language, repetition cap,
    * minimum token count. All four stage flags are row-local over ONE
    * scan (the repetition ratio reuses [[TokensExpr]] and the exact
    * integer per-myriad arithmetic — see qRepetition for why a double
    * round() is banned in oracled ratios); the only shuffle is the
    * map-side-combined groupBy(source) of five conditional sums. */
  def qFilterFunnel(spark: SparkSession, dir: String): DataFrame = {
    val staged = t(spark, dir, "documents")
      .select($"source", $"n_chars", $"lang", expr(TokensExpr).as("toks"))
      .select(
        $"source", $"n_chars", $"lang",
        size($"toks").cast("bigint").as("n_words"),
        size(array_distinct($"toks")).cast("bigint").as("n_distinct"))
      .withColumn("rep_e4",
        when($"n_words" > 0,
          expr("(n_words - n_distinct) * 10000L div n_words"))
          .otherwise(lit(0L)).cast("bigint"))
      .withColumn("s1", ($"n_chars" >= 50L).cast("bigint"))
      .withColumn("s2", ($"s1" === 1L && $"lang".isin("en", "de", "fr")).cast("bigint"))
      .withColumn("s3", ($"s2" === 1L && $"rep_e4" < 3000L).cast("bigint"))
      .withColumn("s4", ($"s3" === 1L && $"n_words" >= 10L).cast("bigint"))
    staged.groupBy($"source").agg(
      count(lit(1)).as("n_total"),
      sum($"s1").as("n_len"),
      sum($"s2").as("n_lang"),
      sum($"s3").as("n_rep"),
      sum($"s4").as("n_tok"))
  }

  /** The one "synthesized line" definition shared by the line-granular
    * corpus ops (q_boilerplate, q_line_dedup) and their DuckDB oracles:
    * non-overlapping 8-token windows over the whitespace tokenization
    * (the corpus has no literal newlines, so fixed token windows stand in
    * for lines — same mechanics as CCNet's per-line dedup unit). Row-local
    * explode, no shuffle; `line_no` is the 0-based window index. An empty
    * token list yields zero rows (both engines drop the doc — consistent). */
  private def tokenLines(docs: DataFrame): DataFrame =
    docs
      .select($"doc_id", $"source", expr(TokensExpr).as("ts"))
      // guard BEFORE sequence(): sequence(0, -1) is a DESCENDING range in
      // Spark, so an empty token list would fabricate two bogus windows
      // instead of zero rows (DuckDB's range(0) is empty)
      .filter(size($"ts") > 0)
      .select($"doc_id", $"source",
        posexplode(expr(
          "transform(sequence(0, cast(ceil(size(ts) / 8.0d) as int) - 1), " +
            "i -> array_join(slice(ts, i * 8 + 1, 8), ' '))"))
          .as(Seq("line_no", "line")))
      .select($"doc_id", $"source", $"line_no".cast("bigint").as("line_no"), $"line")

  /** CCNet-style per-source boilerplate detection: a line occurring in
    * >= 2 DISTINCT documents of the same source is boilerplate (nav bars,
    * footers, cookie banners — text shared across a host's pages); emit
    * per-document total/boilerplate line-instance counts. Shape chosen
    * for scale: the full line stream shuffles exactly ONCE (the
    * (source, line, doc_id) pre-aggregation with map-side combine); the
    * cross-document count then runs as a window over that already-bounded
    * per-doc grouping and the final per-doc rollup moves one row per
    * (source, line, doc) triple. No corpus-sized join probe, no broadcast
    * of a boilerplate set that is unbounded at web scale. */
  def qBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val g = tokenLines(tPar(spark, dir, "documents"))
      .groupBy($"source", $"line", $"doc_id")
      .agg(count(lit(1)).as("n_inst"))
    // g is unique per (source, line, doc_id), so counting its rows per
    // (source, line) IS the distinct-doc count. A groupBy, NOT a window:
    // count-over-window gets no partial aggregation and no AQE skew
    // split, so a footer line shared by 10^9 docs of one source would
    // land every pre-agg row for that key on ONE window task; the
    // groupBy combines map-side (one partial per task per key) and the
    // rejoin below is skew-splittable. The n_inst > 0 tautology keeps
    // the nd-side copy of g canonically equal (same trick as qDocFreq)
    // so the (source, line, doc_id) shuffle is shared as one
    // ReusedExchange instead of re-scanning the corpus.
    val nd = g.filter($"n_inst" > 0)
      .groupBy($"source", $"line").agg(count(lit(1)).as("nd"))
    g.join(nd, Seq("source", "line"))
      .groupBy($"doc_id")
      .agg(sum($"n_inst").as("n_lines"),
        sum(when($"nd" >= 2, $"n_inst").otherwise(lit(0L))).as("n_boiler"))
  }

  /** Corpus-wide exact line dedup, keep-first (C4's duplicate-span rule
    * at line granularity): for every distinct line the winning instance
    * is the lexicographically smallest (doc_id, line_no); emit per-doc
    * total vs kept instance counts. The winner is computed with
    * groupBy + min(struct(...)) — partial aggregation combines map-side,
    * so a line duplicated across millions of pages ("privacy policy")
    * ships one partial min per task, NOT every instance to one window
    * partition (the row_number formulation the oracle uses is only safe
    * at oracle scale). The rejoin shuffles the line stream once on the
    * line key; AQE's skew split covers pathological hot lines. */
  def qLineDedup(spark: SparkSession, dir: String): DataFrame = {
    val lines = tokenLines(tPar(spark, dir, "documents"))
    val w = lines.groupBy($"line")
      .agg(min(struct($"doc_id", $"line_no")).as("w"))
    lines.join(w, "line")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when($"doc_id" === $"w.doc_id" && $"line_no" === $"w.line_no",
          lit(1L)).otherwise(lit(0L))).as("kept_lines"))
  }

  /** Inverted document-frequency quality signal: per document, the mean
    * document-frequency of its token instances as an exact integer
    * per-myriad of the corpus size (how "common" the document's
    * vocabulary is — the df side of a tf-idf quality filter). Token
    * instances pre-aggregate to (doc_id, token, n_inst) in ONE shuffle
    * with map-side combine; the df table derives from that bounded
    * grouping (one row per doc per token) and joins back on the token
    * key — AQE skew-splits the stop-word keys. The per-doc sums run in
    * DECIMAL(38,0): sum(n_inst * df) is bounded by tokens_per_doc *
    * n_docs * tokens_per_doc, past Long range at 10^12 docs; DuckDB's
    * integer sum() is HUGEINT, so decimal keeps both engines exact. */
  def qDocFreq(spark: SparkSession, dir: String): DataFrame = {
    val docs = tPar(spark, dir, "documents")
    // corpus size as a 1-row broadcast INSIDE the plan (not an eager
    // driver count(), which ran a scan job at DataFrame-construction
    // time — even in explain-only paths — and froze the value into the
    // plan); it must come from `documents`, not from g: token-less docs
    // have no g rows but still count toward the corpus
    val nDocsDf = docs.agg(count(lit(1)).cast("decimal(38,0)").as("n_docs"))
    val g = docs
      .select($"doc_id", explode(expr(TokensExpr)).as("token"))
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("n_inst"))
    // the n_inst > 0 filter is a TAUTOLOGY (count(1) >= 1) whose sole job
    // is plan-shape: without a consumer of n_inst the optimizer prunes it
    // out of the df-side copy of g (count(non-null) -> count(1) -> inner
    // agg collapses to distinct), the two subtrees stop canonicalizing
    // equal, and the corpus is scanned + exploded TWICE; with it the
    // (doc_id, token) shuffle is shared as one ReusedExchange
    val dfTab = g.filter($"n_inst" > 0)
      .groupBy($"token").agg(count(lit(1)).as("df"))
    g.join(dfTab, "token")
      .groupBy($"doc_id")
      .agg(sum($"n_inst").as("n_tokens"),
        // cast an OPERAND to decimal, not the product: Long*Long first
        // would overflow (ANSI ArithmeticException / silent wrap) at the
        // very 10^12-doc scale the decimal exists for
        sum($"n_inst".cast("decimal(38,0)") * $"df").as("sum_df"))
      .crossJoin(broadcast(nDocsDf))
      .select($"doc_id", $"n_tokens",
        // `div` (IntegralDivide) is EXACT on decimals — a decimal `/`
        // rounds HALF_UP at the result scale before floor(), which can
        // round an x.9999996 quotient up across the integer boundary and
        // diverge from DuckDB's exact `//`. The divisor multiply also
        // runs in decimal (n_tokens * n_docs passes Long range at scale).
        expr("cast((sum_df * 10000) div (cast(n_tokens as decimal(38,0)) * n_docs) as bigint)")
          .as("mean_df_e4"))
  }

  /** Benchmark decontamination: flag corpus documents sharing any 8-gram
    * shingle with a (small) benchmark set — the eval-leak check every
    * training pipeline runs. The benchmark shingle set is tiny by
    * construction, so the join BROADCASTS it and the corpus side streams
    * map-side: at 100 TB this is one scan, zero shuffle of the corpus. */
  def qContamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = tPar(spark, dir, "documents")
    // corpus shingles are NOT dedup'd up front: countDistinct in the final
    // agg already collapses duplicates, and a corpus-wide distinct would
    // shuffle every shingle of the 100-TB side before the join. Only the
    // tiny benchmark side dedups (it gets broadcast).
    val sh = shingleStream(docs)
    val bench = sh.filter($"doc_id" < 20)
      .select($"doc_id".as("bench_id"), $"s")
      .distinct()
    sh.filter($"doc_id" >= 20)
      .join(broadcast(bench), "s")
      .groupBy($"doc_id")
      .agg(countDistinct($"s").as("n_shared"), min($"bench_id").as("first_hit"))
  }

  /** The documents-to-Page projection both engine-under-oracle queries
    * encode: ONE definition, because the oracles hard-code the same
    * `https://doc.example/%09d` url shape and ts base — a drift between
    * the two copies would silently break q_engine_rt_range's
    * BETWEEN-on-doc_id oracle equivalence. */
  private def enginePages(spark: SparkSession, dir: String) = {
    import org.apache.spark.sql.Encoders
    import graft.model.Page
    t(spark, dir, "documents").select(
        format_string("https://doc.example/%09d", $"doc_id").as("url"),
        timestamp_seconds(lit(1700000000L) + $"doc_id").as("warc_ts"),
        $"text".cast("binary").as("html"),
        $"text",
        $"lang")
      .as[Page](Encoders.product[Page])
  }

  /** The ENGINE ITSELF under the driver's oracle: documents mapped to the
    * Page shape, encoded through the full pipeline (bounds sample, pid
    * shuffle, codec selector, chunk+manifest write) by `EncodeJob.run`,
    * then read back through the DSv2 scan with a url/text/lang projection
    * (html and warc_ts blocks are never read). The oracle recomputes
    * url/text-md5/lang straight from the source table, so the hash
    * compare asserts byte-identical round-trip of every row through
    * encode->disk->projected decode — the north_rule invariant, checked
    * by DuckDB instead of our own tests. */
  def qEngineRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.jobs.EncodeJob
    val pages = enginePages(spark, dir)
    // deterministic scratch dir per (process, session, input dir) with
    // stale-pid sweep + shutdown-hook cleanup — see [[processScratch]]
    val out = processScratch("graft-engine-rt", dir, sessionTok(spark))
    // wholeTableStats=false: Result is discarded here — skip the
    // end-of-run whole-manifest totals job (the oracle checks the rows)
    EncodeJob.run(spark, pages, out,
      EncodeJob.Config(numPartitions = 8, wholeTableStats = false))
    spark.read.format("graft").load(out)
      .select($"url", md5($"text".cast("binary")).as("text_md5"), $"lang")
  }

  /** Range-pruned decode under the oracle: a url/lang DSv2 read of the
    * SHARED encoded scratch ([[dsv2Scratch]] — encode paid once per
    * session+input, exactly like its ts-range twin [[qEngineTsRange]])
    * restricted to an inclusive url range — file, row-group and chunk
    * (urlMin, urlMax) pruning plus exact row-level UTF-8 range filtering,
    * the engine's partition-pruning analog. This query asserts the
    * RANGE-PRUNED SCAN, not the encode (the honest per-invocation encode gates remain
    * [[qEngineRoundtrip]] and [[qDsv2Write]]), so re-paying a full encode
    * per call multiplied the suite's largest fixed cost without widening
    * coverage. The %09d url embeds doc_id order-preservingly, so the
    * oracle is a plain BETWEEN on doc_id. */
  def qEngineRtRange(spark: SparkSession, dir: String): DataFrame = {
    val out = dsv2Scratch(spark, dir)
    val lo = "https://doc.example/%09d".format(100L)
    val hi = "https://doc.example/%09d".format(299L)
    spark.read.format("graft").load(out)
      .filter($"url" >= lo && $"url" <= hi)
      .select($"url", $"lang")
  }

  private val dsv2Memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()

  /** Encode-once scratch shared by the READ-path queries over the
    * encoded table (q_dsv2_read / q_dsv2_ts_range / q_dsv2_count /
    * q_dsv2_minmax / q_engine_rt_range / q_engine_ts_range, all through
    * the connector): those queries assert the SCAN — pushdowns, pruning,
    * decode — so re-paying a full encode per query multiplied the
    * suite's largest fixed cost without widening coverage. The honest full-pipeline encode gates remain
    * [[qEngineRoundtrip]] (engine surface) and [[qDsv2Write]] (SQL
    * surface), each with its own per-invocation encode. Memoized per
    * (session, input dir) with a validity probe — the manifest must
    * still exist on disk (the scratch dir is process-owned and swept by
    * pid liveness, but a probe keeps a wiped dir from poisoning every
    * later DSv2 query in the session); racing recomputes converge, last
    * wins, same as [[ccMemo]]. */
  private def dsv2Scratch(spark: SparkSession, dir: String): String = {
    purgeStoppedSessions(dsv2Memo)(_._1)
    val key = (spark, dir)
    val hit = dsv2Memo.get(key)
    val valid = hit != null && {
      try graft.sources.TableIO.exists(spark, graft.jobs.EncodeJob.manifestDir(hit))
      catch { case _: Throwable => false }
    }
    if (valid) hit
    else {
      val out = processScratch("graft-dsv2-rt", dir, sessionTok(spark))
      graft.jobs.EncodeJob.run(spark, enginePages(spark, dir), out,
        // Result discarded — skip the whole-manifest totals job
        graft.jobs.EncodeJob.Config(numPartitions = 8, wholeTableStats = false))
      dsv2Memo.put(key, out)
      out
    }
  }

  /** The DataSource V2 connector under the oracle: the shared encoded
    * scratch ([[dsv2Scratch]] — encode paid once per session+input),
    * read back through `spark.read.format("graft")` with BOTH pushdowns
    * live — a url-range predicate (consumed by the scan: row-group +
    * chunk-level (urlMin, urlMax) pruning + exact row filtering, no
    * post-scan url filter) and a projection that drops html/warc_ts
    * (the reader's pruned parquet MessageType never touches their block
    * leaves). text_md5 proves the decoded text bytes, so the hash
    * compare asserts the whole scan → prune → decode → filter path
    * against DuckDB. */
  def qDsv2Read(spark: SparkSession, dir: String): DataFrame = {
    val out = dsv2Scratch(spark, dir)
    val lo = "https://doc.example/%09d".format(50L)
    val hi = "https://doc.example/%09d".format(449L)
    spark.read.format("graft").load(out)
      .filter($"url" >= lo && $"url" <= hi)
      .select($"url", md5($"text".cast("binary")).as("text_md5"), $"lang")
  }

  /** Time-range scan through the DSv2 connector — the OTHER predicate
    * every crawl-corpus user writes. `warc_ts` bounds are consumed by
    * the scan and skip at three levels (parquet row-group (tsMin, tsMax)
    * statistics → chunk stats → exact decoded micros); enginePages pins
    * warc_ts = 1700000000 + doc_id seconds, so the oracle is a plain
    * doc_id BETWEEN. ts_us re-emits the decoded micros, proving the
    * surviving rows' timestamps byte-exactly. */
  def qDsv2TsRange(spark: SparkSession, dir: String): DataFrame = {
    val out = dsv2Scratch(spark, dir)
    val lo = timestamp_seconds(lit(1700000000L + 120L))
    val hi = timestamp_seconds(lit(1700000000L + 379L))
    spark.read.format("graft").load(out)
      .filter($"warc_ts" >= lo && $"warc_ts" <= hi)
      .select($"url", unix_micros($"warc_ts").as("ts_us"), $"lang")
  }

  /** Global count(*) through the DSv2 connector's aggregate pushdown:
    * answered from the chunk metadata `rows` column in O(#chunks) —
    * zero payload-block bytes — as per-file partial subtotals Spark
    * sums (see GraftScanBuilder). The oracle counts the source table,
    * so the metadata path is asserted against ground truth. */
  def qDsv2Count(spark: SparkSession, dir: String): DataFrame = {
    val out = dsv2Scratch(spark, dir)
    spark.read.format("graft").load(out).agg(count(lit(1)).as("n_pages"))
  }

  /** Time-range decode with the bounds given as epoch micros, the form
    * the decode CLI takes: the twin of [[qDsv2TsRange]] (whose bounds are
    * whole seconds) over the same scan and the shared encoded scratch —
    * (tsMin, tsMax) pruning plus exact decoded-micros row filtering. The
    * oracle holds each to the source-table ground truth. */
  def qEngineTsRange(spark: SparkSession, dir: String): DataFrame = {
    val out = dsv2Scratch(spark, dir)
    val lo = (1700000000L + 200L) * 1000000L
    val hi = (1700000000L + 459L) * 1000000L
    spark.read.format("graft").load(out)
      .filter($"warc_ts" >= timestamp_micros(lit(lo)) && $"warc_ts" <= timestamp_micros(lit(hi)))
      .select($"url", unix_micros($"warc_ts").as("ts_us"), $"lang")
  }

  /** Min/max/count through the DSv2 aggregate pushdown: the extrema of
    * url and warc_ts plus the row count, every one answered from the
    * chunk METADATA columns (urlMin/urlMax are the kernel-sorted chunks'
    * true row extrema, tsMin/tsMax the exact non-null ts extrema —
    * SQL min/max skip nulls, so the stats ARE the answer) as per-file
    * partial subtotals. The oracle recomputes all four from the source
    * table, so the metadata path is asserted against ground truth. */
  def qDsv2MinMax(spark: SparkSession, dir: String): DataFrame = {
    val out = dsv2Scratch(spark, dir)
    // aggregate the RAW columns (a wrapped min(unix_micros(ts)) is not a
    // pushable NamedReference); the micros conversion happens on the
    // single post-agg row
    spark.read.format("graft").load(out)
      .agg(min($"url").as("min_url"), max($"url").as("max_url"),
        min($"warc_ts").as("min_ts"), max($"warc_ts").as("max_ts"),
        count(lit(1)).as("n_pages"))
      .select($"min_url", $"max_url",
        unix_micros($"min_ts").as("min_ts_us"),
        unix_micros($"max_ts").as("max_ts_us"), $"n_pages")
  }

  /** The DSv2 WRITE path under the oracle: the corpus written through
    * `df.write.format("graft")` (the V1Write bridge running the full
    * resumable EncodeJob — bounds sample, pid shuffle, codec selection,
    * chunk+manifest commit), then read back through the DSv2 scan with a
    * url/text/lang projection and hash-matched against the source. The pure-SQL-surface
    * twin of [[qEngineRoundtrip]]; deliberately pays its own full
    * encode per invocation — it IS the write gate. */
  def qDsv2Write(spark: SparkSession, dir: String): DataFrame = {
    val out = processScratch("graft-dsv2-wr", dir, sessionTok(spark))
    enginePages(spark, dir).toDF()
      .write.format("graft").option("partitions", "8").mode("overwrite").save(out)
    spark.read.format("graft").load(out)
      .select($"url", md5($"text".cast("binary")).as("text_md5"), $"lang")
  }

  /** JSON functions: serialize per-row metadata to JSON and extract it
    * back (each engine builds its own JSON, so only the extracted values
    * — identical across engines — are compared). The shape of a sidecar
    * metadata column in a crawl pipeline. */
  def qJsonRoundtrip(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select($"doc_id", to_json(struct($"lang", $"source", $"n_chars")).as("js"))
      // json_tuple parses the JSON ONCE per row where the three
      // get_json_object calls it replaces each re-parsed it; for
      // top-level scalar fields the extracted strings are identical
      .select($"doc_id", json_tuple($"js", "lang", "source", "n_chars"))
      .select(
        $"doc_id",
        $"c0".as("lang_j"),
        $"c1".as("source_j"),
        $"c2".cast("bigint").as("n_chars_j"))

  /** Two-column rollup (metrics rollup analog). */
  def qAggRollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").groupBy($"lang", $"source")
      .agg(count(lit(1)).as("cnt"), sum($"n_chars").as("chars"))

  /** Multi-level rollup (GROUPING SETS): per (lang, source), per lang,
    * and grand total in one pass — the metrics-rollup shape at scale
    * (partial aggregation handles all levels in one shuffle). */
  def qRollupSets(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .rollup($"lang", $"source")
      .agg(count(lit(1)).as("cnt"), sum($"n_chars").as("chars"))

  /** Sessionization: batch analog of streaming session windows — a new
    * session starts after a >30-minute gap per user. Window is
    * partitioned by user (scales: no global order), session stats roll
    * up per (user, session). */
  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    // gap test at MICROSECOND precision: unix_timestamp() truncates to
    // whole seconds, so a 1800.4 s gap would read as exactly 1800 and NOT
    // break — while the DuckDB oracle's fractional epoch() comparison
    // does. unix_micros matches the oracle exactly on micro-quantized ts.
    // (ts is TIMESTAMP_NTZ in the parquet; the cast to TIMESTAMP is
    // difference-neutral under the session's pinned UTC zone)
    val micros = (c: Column) => unix_micros(c.cast("timestamp"))
    val gap = when(
      lag($"ts", 1).over(byUser).isNull ||
        micros($"ts") - micros(lag($"ts", 1).over(byUser)) > 1800L * 1000000L, 1)
      .otherwise(0)
    t(spark, dir, "events")
      .select($"user_id", $"event_id", $"ts", $"value", gap.as("brk"))
      .withColumn("session_id",
        sum($"brk").over(byUser.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"))
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"),
        min($"ts").as("t_start"), max($"ts").as("t_end"),
        sum(round($"value" * 100).cast("bigint")).as("cents"))
  }

  /** SQL-registered codec surface: round-trip each doc's text through the
    * fl_* / rle_* SQL functions *inside SQL* (no Scala in the query). The
    * oracle pins fl_ok/rle_ok to 1, so the driver's hash compare proves
    * decode(encode(x)) == x held for every row — a failed round-trip
    * flips a flag and breaks the hash. */
  def qSqlCodec(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    t(spark, dir, "documents").createOrReplaceTempView("graft_sql_codec_docs")
    spark.sql(
      """SELECT doc_id,
        |       CAST(octet_length(text) AS BIGINT) AS n_bytes,
        |       CAST(CASE WHEN fl_decode(fl_encode(CAST(text AS BINARY))) = CAST(text AS BINARY)
        |                 THEN 1 ELSE 0 END AS BIGINT) AS fl_ok,
        |       CAST(CASE WHEN rle_decode(rle_encode(CAST(text AS BINARY))) = CAST(text AS BINARY)
        |                 THEN 1 ELSE 0 END AS BIGINT) AS rle_ok
        |FROM graft_sql_codec_docs""".stripMargin)
  }

  /** Flagship detail: the engine itself applied to the documents table —
    * per column, which codec(s) the stats-driven selector picked and the
    * realized sizes. The kernel cuts blocks at the SAME row/byte caps the
    * real encode pipeline uses (EncodeJob's 65k rows / 16 MB), so
    * per-partition memory is bounded by the block caps, never by the
    * partition size — shape-honest with the production path. */
  def encodeStatsDetail(spark: SparkSession, dir: String): DataFrame = {
    import graft.codec.ColumnCodec
    import org.apache.spark.sql.Encoders
    val docs = t(spark, dir, "documents")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .as[DocRow](Encoders.product[DocRow])
    val maxRows = 65536
    val targetBytes = 16L << 20
    docs.mapPartitions { it =>
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      def enc(name: String, e: ColumnCodec.Encoded) =
        ColStatRow(name, e.codecName, e.rawBytes, e.bytes.length.toLong, e.flBaselineBytes)
      def nextBlock(): Array[DocRow] = {
        val buf = scala.collection.mutable.ArrayBuffer.empty[DocRow]
        var bytes = 0L
        while (it.hasNext && buf.length < maxRows && bytes < targetBytes) {
          val r = it.next()
          buf += r
          bytes += r.text.length.toLong + r.lang.length + r.source.length + 24
        }
        buf.toArray
      }
      Iterator.continually(nextBlock()).takeWhile(_.nonEmpty).flatMap { rows =>
        Iterator(
          enc("doc_id", ColumnCodec.encodeLongs(rows.map(_.doc_id))),
          enc("text", ColumnCodec.encodeBytes(rows.map(_.text.getBytes(utf8)))),
          enc("lang", ColumnCodec.encodeBytes(rows.map(_.lang.getBytes(utf8)))),
          enc("source", ColumnCodec.encodeBytes(rows.map(_.source.getBytes(utf8)))),
          enc("n_chars", ColumnCodec.encodeLongs(rows.map(_.n_chars))))
      }
    }(Encoders.product[ColStatRow]).toDF()
      .groupBy($"col_name")
      .agg(
        concat_ws(",", sort_array(collect_set($"codec"))).as("codecs"),
        sum($"rawBytes").as("raw_bytes"),
        sum($"encBytes").as("enc_bytes"),
        sum($"flBaselineBytes").as("fl_baseline_bytes"),
        round(sum($"encBytes") / sum($"rawBytes"), 4).as("ratio"))
  }

  /** Flagship, oracle-checked projection: per-column exact raw bytes
    * (partition-independent, SQL-expressible: payload bytes + 8/row of
    * offsets for string columns, 8/row for longs) plus the north-rule
    * bound `sum(encBytes) <= sum(flBaselineBytes)` as a bound_ok flag the
    * DuckDB oracle pins to 1 — the hash compare ASSERTS the structural
    * size guarantee. Codec names / encoded sizes are engine-specific and
    * live in [[encodeStatsDetail]]. */
  def qEncodeStats(spark: SparkSession, dir: String): DataFrame =
    encodeStatsDetail(spark, dir).select(
      $"col_name",
      $"raw_bytes",
      ($"enc_bytes" <= $"fl_baseline_bytes").cast("bigint").as("bound_ok"))

  // Spark Column implicits
  private implicit class Str(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
