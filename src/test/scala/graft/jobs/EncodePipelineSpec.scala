package graft.jobs

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.sources.WebtextGen

/** End-to-end encode -> decode -> verify (SURVEY.md §5.5): the north_rule
  * invariants at pipeline level. */
class EncodePipelineSpec extends AnyFunSuite with SparkFixture {

  /** Descriptions of the Spark jobs `body` launches ("null" for untagged
    * ones). The listener bus is async but FIFO: a TAGGED sentinel job runs
    * before and after `body`, and each sentinel waits for ITS OWN start
    * event — every job `body` launched is then in the queue between the
    * two (waiting for merely "one event" could be satisfied by a rogue
    * job while the sentinel is still in flight). */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        descs.add(String.valueOf(js.properties.getProperty("spark.job.description")))
    }
    def sentinel(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(1 to 2, 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!descs.contains(tag) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(descs.contains(tag), s"sentinel job $tag never reported its start")
    }
    sc.addSparkListener(listener)
    try {
      sentinel("graft-jobs-open")
      body
      sentinel("graft-jobs-close")
      val all = scala.jdk.CollectionConverters.CollectionHasAsScala(descs).asScala.toSeq
      all.slice(all.indexOf("graft-jobs-open") + 1, all.indexOf("graft-jobs-close"))
    } finally sc.removeSparkListener(listener)
  }

  test("e2e round-trip: byte-identical columns, size <= reference FL") {
    import spark.implicits._
    val outDir = tmpDir("graft-e2e")
    val source = WebtextGen.pages(spark, 1000L, seed = 42L).cache()

    val res = EncodeJob.run(spark, source, outDir, EncodeJob.Config(numPartitions = 8))
    assert(res.rows == 1000L)
    assert(res.encBytes > 0 && res.encBytes <= res.flBaselineBytes,
      s"enc=${res.encBytes} flBaseline=${res.flBaselineBytes}")

    val decoded = DecodeJob.run(spark, outDir)
    val report = VerifyJob.run(spark, source, decoded)
    assert(report.ok, report.toString)

    // manifest covers all pids, has lineage fields
    val manifest = spark.read.parquet(EncodeJob.manifestDir(outDir))
    assert(manifest.select(sum($"rows")).as[Long].head() == 1000L)
    assert(manifest.filter($"codecs".isNotNull and size(map_keys($"codecs")) === 5).count()
      == manifest.count(), "every manifest row must carry all 5 column codec entries")
    val codecs = manifest.select(explode(map_values($"codecs"))).as[String].collect().toSet
    assert(codecs.nonEmpty)
    source.unpersist()
  }

  test("empty input yields a zero Result, not a crash") {
    import spark.implicits._
    val outDir = tmpDir("graft-empty")
    val empty = spark.emptyDataset[graft.model.Page]
    val res = EncodeJob.run(spark, empty, outDir, EncodeJob.Config(numPartitions = 4))
    assert(res.rows == 0L && res.encBytes == 0L && res.pidsEncoded == 0L)
    // and the empty output decodes as zero rows, full and projected
    assert(DecodeJob.run(spark, outDir).count() == 0L)
    assert(spark.read.format("graft").load(outDir).select("url").collect().isEmpty)
  }

  test("resume: interrupted run skips completed partitions, identical result") {
    import spark.implicits._
    val outDir = tmpDir("graft-resume")
    val source = WebtextGen.pages(spark, 2000L, seed = 7L).cache()
    val cfg = EncodeJob.Config(numPartitions = 8)

    // wave 1 = the "interrupted" run: only pids < 4 commit
    val r1 = EncodeJob.run(spark, source, outDir, cfg.copy(pidUpperBound = Some(4)))
    val manifest1 = spark.read.parquet(EncodeJob.manifestDir(outDir))
    val pids1 = manifest1.select($"pid").as[Int].collect().toSet
    assert(pids1.nonEmpty && pids1.forall(_ < 4))
    val attempt1 = manifest1.select($"attemptId").distinct().as[String].collect().toSet

    // resume: full run skips wave-1 pids
    val r2 = EncodeJob.run(spark, source, outDir, cfg)
    assert(r2.pidsSkipped == pids1.size.toLong)
    val manifest2 = spark.read.parquet(EncodeJob.manifestDir(outDir))
    // wave-1 rows were not re-encoded: their manifest rows keep attempt 1
    val attemptsByPid = manifest2.select($"pid", $"attemptId").as[(Int, String)].collect().toMap
    pids1.foreach(p => assert(attempt1.contains(attemptsByPid(p))))
    assert(manifest2.count() == manifest2.select($"pid").distinct().count(), "one manifest row per pid")

    // a third run is a no-op
    val r3 = EncodeJob.run(spark, source, outDir, cfg)
    assert(r3.pidsEncoded == 0L)

    // and the final decoded table is exactly the source
    val report = VerifyJob.run(spark, source, DecodeJob.run(spark, outDir))
    assert(report.ok, report.toString)
    source.unpersist()
  }

  test("Result totals equal the written manifest, on a fresh table and after a second wave") {
    import spark.implicits._
    val source = WebtextGen.pages(spark, 600L, seed = 13L).cache()
    val outDir = tmpDir("graft-totals")
    val cfg = EncodeJob.Config(numPartitions = 8)
    def check(r: EncodeJob.Result, what: String): Unit = {
      val m = spark.read.parquet(EncodeJob.manifestDir(outDir))
        .agg(countDistinct($"pid"), sum($"rows"), sum($"rawBytes"), sum($"encBytes"),
          sum($"flBaselineBytes"))
        .as[(Long, Long, Long, Long, Long)].head()
      assert((r.pidsEncoded + r.pidsSkipped, r.rows, r.rawBytes, r.encBytes,
        r.flBaselineBytes) == m, s"$what: $r vs manifest $m")
    }
    // fresh table: this run's rows are the whole manifest
    val r1 = EncodeJob.run(spark, source, outDir, cfg.copy(pidUpperBound = Some(3)))
    assert(r1.pidsEncoded > 0L && r1.pidsSkipped == 0L && r1.rows == r1.rowsThisRun)
    check(r1, "fresh table")
    // second wave onto the existing manifest: running totals
    val r2 = EncodeJob.run(spark, source, outDir, cfg.copy(pidUpperBound = Some(6)))
    assert(r2.pidsSkipped == r1.pidsEncoded && r2.rows > r2.rowsThisRun)
    check(r2, "second wave")
    source.unpersist()
  }

  test("skew: a host with 50% of rows still yields bounded partition spread") {
    import spark.implicits._
    val outDir = tmpDir("graft-skew")
    val source = WebtextGen.pages(spark, 20000L, seed = 13L, skewShare = 0.5)
    EncodeJob.run(spark, source, outDir, EncodeJob.Config(numPartitions = 16))
    val rowsPerPid = spark.read.parquet(EncodeJob.chunksDir(outDir))
      .groupBy($"pid").agg(sum($"rows").as("n")).select($"n").as[Long].collect()
    val avg = rowsPerPid.sum.toDouble / rowsPerPid.length
    assert(rowsPerPid.max <= 3.0 * avg,
      s"max=${rowsPerPid.max} avg=$avg — url-range bounds did not absorb host skew")
    // round-trip still holds under skew
    val report = VerifyJob.run(spark, source, DecodeJob.run(spark, outDir))
    assert(report.ok, report.toString)
  }

  test("null warc_ts rows survive the round trip (null bitmap path)") {
    import spark.implicits._
    val outDir = tmpDir("graft-nullts")
    val source = WebtextGen.pages(spark, 800L, seed = 11L)
      .map(p => if (p.url.hashCode % 3 == 0) p.copy(warc_ts = null) else p)
      .cache()
    assert(source.filter(_.warc_ts == null).count() > 0)
    EncodeJob.run(spark, source, outDir, EncodeJob.Config(numPartitions = 4))
    val report = VerifyJob.run(spark, source, DecodeJob.run(spark, outDir))
    assert(report.ok, report.toString)
    source.unpersist()
  }

  test("null html/text/lang rows survive the round trip; null url fails NAMED") {
    import spark.implicits._
    val outDir = tmpDir("graft-nullcols")
    // deterministic sprinkling of nulls over the three nullable payload
    // columns (the codec bitmaps + null-skipping CRC path); warc_ts
    // nulls already covered by the dedicated case above
    val source = WebtextGen.pages(spark, 600L, seed = 19L)
      .map { p =>
        val h = math.abs(p.url.hashCode)
        var q = p
        if (h % 3 == 0) q = q.copy(html = null)
        if (h % 4 == 0) q = q.copy(text = null)
        if (h % 5 == 0) q = q.copy(lang = null)
        q
      }.cache()
    assert(source.filter(_.html == null).count() > 0)
    assert(source.filter(_.text == null).count() > 0)
    assert(source.filter(_.lang == null).count() > 0)
    EncodeJob.run(spark, source, outDir, EncodeJob.Config(numPartitions = 4))
    val report = VerifyJob.run(spark, source, DecodeJob.run(spark, outDir))
    assert(report.ok, report.toString)
    source.unpersist()

    // url is the range key: a null url must fail with the named message,
    // not an anonymous executor NPE
    val bad = WebtextGen.pages(spark, 50L, seed = 20L)
      .map(p => if (p.url.endsWith("1")) p.copy(url = null) else p)
    val err = intercept[Exception] {
      EncodeJob.run(spark, bad, tmpDir("graft-nullurl"), EncodeJob.Config(numPartitions = 2))
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ chain(e.getCause))
    assert(chain(err).exists(_.contains("null url")), chain(err).mkString(" | "))
  }

  test("resume refuses a table whose bounds geometry is unrecoverable") {
    import spark.implicits._
    val outDir = tmpDir("graft-lostbounds")
    val source = WebtextGen.pages(spark, 400L, seed = 23L).cache()
    EncodeJob.run(spark, source, outDir, EncodeJob.Config(numPartitions = 4))
    // simulate the lost-rename window: committed chunks+manifest, no
    // bounds.json — a resume would renumber pids and skip the wrong rows
    graft.sources.TableIO.delete(spark, s"$outDir/bounds.json")
    val err = intercept[IllegalStateException] {
      EncodeJob.run(spark, source, outDir, EncodeJob.Config(numPartitions = 4))
    }
    assert(err.getMessage.contains("bounds.json"), err.getMessage)
    source.unpersist()

    // truncated bounds.json (partial object-store copy) fails with the
    // explicit refusal, not a StringIndexOutOfBounds
    val outDir2 = tmpDir("graft-truncbounds")
    val src2 = WebtextGen.pages(spark, 100L, seed = 24L)
    EncodeJob.run(spark, src2, outDir2, EncodeJob.Config(numPartitions = 2))
    val full = graft.sources.TableIO.readTextFile(spark, s"$outDir2/bounds.json")
    graft.sources.TableIO.delete(spark, s"$outDir2/bounds.json")
    graft.sources.TableIO.writeTextFile(spark, s"$outDir2/bounds.json",
      full.substring(0, full.length / 2).stripSuffix("\""))
    val err2 = intercept[IllegalArgumentException] {
      EncodeJob.run(spark, src2, outDir2, EncodeJob.Config(numPartitions = 2))
    }
    assert(err2.getMessage.contains("truncated bounds json"), err2.getMessage)
  }

  test("decode fails fast when a chunk's recorded text CRC does not match") {
    import spark.implicits._
    val outDir = tmpDir("graft-crc")
    val source = WebtextGen.pages(spark, 500L, seed = 3L)
    EncodeJob.run(spark, source, outDir, EncodeJob.Config(numPartitions = 2))
    val chunks = spark.read.parquet(EncodeJob.chunksDir(outDir))
      .as[graft.model.EncodedChunk].collect()
    val tampered = chunks.map(c => c.copy(textCrc32 = c.textCrc32 ^ 1L))
    spark.createDataset(tampered.toSeq).write.mode("overwrite")
      .parquet(EncodeJob.chunksDir(outDir))
    // a full decode into the noop sink: count() is answered from chunk
    // metadata (the pushed COUNT(*)) and would decode no text block
    val ex = intercept[Exception] {
      DecodeJob.run(spark, outDir).write.format("noop").mode("overwrite").save()
    }
    assert(ex.toString.contains("CRC") ||
      Option(ex.getCause).exists(_.toString.contains("CRC")), ex.toString)
  }

  test("manifest url ranges merge in UTF-8 order (supplementary-plane urls)") {
    import spark.implicits._
    val outDir = tmpDir("graft-utf8")
    val ts = new java.sql.Timestamp(1700000000000L)
    // U+E000 (3-byte UTF-8, HIGH UTF-16 code unit) vs U+10000 (4-byte
    // UTF-8, LOW UTF-16 surrogates): UTF-16 order says the E000 url is
    // the max, UTF-8 binary order says the supplementary url is — the
    // same disagreement that bit the decode range filter in round 1
    val uE000 = "https://x/\uE000zz"
    val uSupp = "https://x/" + new String(Character.toChars(0x10000)) + "aa"
    val pages = Seq(
      graft.model.Page("https://x/aaa", ts, Array[Byte](1), "t1", "en"),
      graft.model.Page(uE000, ts, Array[Byte](2), "t2", "en"),
      graft.model.Page(uSupp, ts, Array[Byte](3), "t3", "en"))
    assert(uE000 > uSupp, "UTF-16 order (sanity: the two orders must disagree)")
    // maxBlockRows=2 forces multiple chunks in one pid, so the manifest
    // min/max comes from the cross-chunk MERGE, not a single chunk
    EncodeJob.run(spark, spark.createDataset(pages), outDir,
      EncodeJob.Config(numPartitions = 1, maxBlockRows = 2))
    val m = spark.read.parquet(EncodeJob.manifestDir(outDir))
      .select($"urlMin", $"urlMax").as[(String, String)].head()
    assert(m._1 == "https://x/aaa")
    assert(m._2 == uSupp, s"manifest urlMax '${m._2}' is the UTF-16 max, not the UTF-8 max")
    // and a url-range decode over just the supplementary url returns it
    val hit = spark.read.format("graft").load(outDir)
      .filter($"url" >= uSupp && $"url" <= uSupp).select($"url")
      .as[String].collect().toSeq
    assert(hit == Seq(uSupp))
  }

  test("resume reconciles chunks whose manifest write crashed (no duplicate encode)") {
    import spark.implicits._
    val outDir = tmpDir("graft-reconcile")
    val source = WebtextGen.pages(spark, 1500L, seed = 17L).cache()
    EncodeJob.run(spark, source, outDir, EncodeJob.Config(numPartitions = 6))

    // simulate the crash window: chunks committed, manifest commit lost
    rmrf(EncodeJob.manifestDir(outDir))
    // a real crash in this window leaves the attempt's markers behind
    // (cleanup runs only after the manifest commit) — restore them so the
    // marker-gated reconcile sees the attempt as pending
    val crashedTag = spark.read.parquet(EncodeJob.chunksDir(outDir))
      .select($"attemptId").distinct().as[String].head()
    graft.sources.TableIO.touch(spark, s"${EncodeJob.attemptsDir(outDir)}/begin-$crashedTag")
    graft.sources.TableIO.touch(spark, s"${EncodeJob.attemptsDir(outDir)}/chunks-$crashedTag")

    // resume must REBUILD the manifest from chunk metadata, not re-encode
    val r = EncodeJob.run(spark, source, outDir, EncodeJob.Config(numPartitions = 6))
    assert(r.rowsThisRun == 0L, s"re-encoded ${r.rowsThisRun} rows after reconcile")
    val manifest = spark.read.parquet(EncodeJob.manifestDir(outDir))
    // rebuilt rows carry the chunks' ORIGINAL attempt tags (chunks are
    // attemptId-stamped), so lineage survives the manifest loss intact
    val chunkTags = spark.read.parquet(EncodeJob.chunksDir(outDir))
      .select($"attemptId").distinct().as[String].collect().toSet
    val manifestTags = manifest.select($"attemptId").distinct().as[String].collect().toSet
    assert(manifestTags == chunkTags,
      s"manifest tags $manifestTags != original chunk tags $chunkTags")
    assert(manifest.select(sum($"rows")).as[Long].head() == 1500L)
    // decode yields each row exactly once and verifies
    assert(DecodeJob.run(spark, outDir).count() == 1500L)
    assert(VerifyJob.run(spark, source, DecodeJob.run(spark, outDir)).ok)
    source.unpersist()
  }

  test("verify tolerates duplicate urls (re-crawl) and catches real diffs") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(1700000000000L)
    def pg(url: String, text: String) =
      graft.model.Page(url, ts, text.getBytes("UTF-8"), text, "en")
    // same url twice with DIFFERENT content — a correct round-trip must
    // verify ok (a naive row equi-join would explode 2x2 and fail)
    val src = spark.createDataset(Seq(pg("u1", "alpha"), pg("u1", "beta"), pg("u2", "gamma")))
    assert(VerifyJob.run(spark, src, src).ok)
    // and a REAL difference under a duplicate url is still caught
    val bad = spark.createDataset(Seq(pg("u1", "alpha"), pg("u1", "CHANGED"), pg("u2", "gamma")))
    assert(!VerifyJob.run(spark, src, bad).ok)
    // null columns don't masquerade as absent rows
    val withNull = spark.createDataset(Seq(pg("u3", "x").copy(lang = null)))
    assert(VerifyJob.run(spark, withNull, withNull).ok)
  }

  test("verify: value migration across a null, and count-vs-column attribution") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(1700000000000L)
    def pg(url: String, text: String) =
      graft.model.Page(url, ts, text.getBytes("UTF-8"), text, "en")
    // a value MIGRATING between two nullable columns across a null:
    // (text="x", lang=null) vs (text=null, lang="x"). Variadic xxhash64
    // skips null children, so an un-flagged row digest would hash both
    // identically; the null-flag interleave must catch it (the per-
    // column digests also differ here, but the regression this pins is
    // the ROW digest's blindness — assert rowMismatches specifically)
    val a = spark.createDataset(Seq(pg("u1", "x").copy(lang = null)))
    val b = spark.createDataset(Seq(pg("u1", "x").copy(text = null, lang = "x")))
    val mig = VerifyJob.run(spark, a, b)
    assert(!mig.ok && mig.rowMismatches == 1L,
      s"cross-null value migration not caught by the row digest: $mig")

    // a url wholly missing from one side is ONE count mismatch, not
    // five misattributed column mismatches
    val full = spark.createDataset(Seq(pg("u1", "x"), pg("u2", "y")))
    val part = spark.createDataset(Seq(pg("u1", "x")))
    val miss = VerifyJob.run(spark, full, part)
    assert(!miss.ok && miss.countMismatches == 1L &&
      miss.textMismatches + miss.htmlMismatches + miss.tsMismatches +
        miss.langMismatches + miss.rowMismatches == 0L,
      s"missing url misattributed: $miss")

    // per-url count drift with EQUAL global totals: only the count
    // counter may catch this shape
    val s2 = spark.createDataset(Seq(pg("u1", "x"), pg("u1", "x"), pg("u2", "y")))
    val d2 = spark.createDataset(Seq(pg("u1", "x"), pg("u2", "y"), pg("u2", "y")))
    val drift = VerifyJob.run(spark, s2, d2)
    assert(!drift.ok && drift.countMismatches == 2L,
      s"count drift with equal totals not caught: $drift")
  }

  test("a manifest dir holding only _temporary (first-write crash) reads as empty, not a crash loop") {
    import spark.implicits._
    val outDir = tmpDir("graft-manifest-temp")
    graft.ScalingLevel.rmrf(outDir)
    // simulate a crash during the very FIRST manifest write: the
    // committer has created manifest/_temporary but no data file exists
    // — a schema-inferring read throws 'Unable to infer schema' here,
    // which used to make every restart fail identically forever
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$outDir/manifest/_temporary"))
    val source = graft.sources.WebtextGen.pages(spark, 60L, seed = 31L, partitions = 2)
    val res = EncodeJob.run(spark, source, outDir, EncodeJob.Config(numPartitions = 2))
    assert(res.pidsEncoded == 2L && res.pidsSkipped == 0L, res.toString)
    assert(VerifyJob.run(spark, source, DecodeJob.run(spark, outDir)).ok)
  }

  test("an empty first run never pins empty bounds for later runs") {
    import spark.implicits._
    val outDir = tmpDir("graft-emptypin")
    EncodeJob.run(spark, spark.emptyDataset[graft.model.Page], outDir,
      EncodeJob.Config(numPartitions = 8))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(EncodeJob.boundsPath(outDir))),
      "empty run pinned bounds.json — later runs would collapse to pid 0")
    // a later real run into the same dir still spreads across pids
    val source = WebtextGen.pages(spark, 2000L, seed = 29L)
    EncodeJob.run(spark, source, outDir, EncodeJob.Config(numPartitions = 8))
    val pids = spark.read.parquet(EncodeJob.manifestDir(outDir))
      .select($"pid").distinct().count()
    assert(pids >= 4, s"only $pids pids after the empty first run")
  }

  test("suggestPartitions follows the 128 MiB/pid rule with a 2x-cores floor") {
    assert(EncodeJob.suggestPartitions(0L, 32) == 64)
    assert(EncodeJob.suggestPartitions(1L << 30, 4) == 8) // 1 GiB, small cluster: floor wins
    assert(EncodeJob.suggestPartitions(20L << 30, 32) == 160) // 20 GiB -> 160 pids of 128 MiB
    assert(EncodeJob.suggestPartitions(100L << 40, 4000) == 819200) // 100 TiB
  }

  test("per-column codec choices are data-appropriate") {
    import spark.implicits._
    val outDir = tmpDir("graft-codecsel")
    val source = WebtextGen.pages(spark, 3000L, seed = 1L)
    EncodeJob.run(spark, source, outDir, EncodeJob.Config(numPartitions = 4))
    val perCol = spark.read.parquet(EncodeJob.chunksDir(outDir))
      .select(explode(array(
        graft.sources.GraftDataSource.PageSchema.fieldNames.toSeq.map(col): _*)).as("c"))
      .select($"c.name", $"c.codec", $"c.rawBytes", $"c.encBytes")
      .groupBy($"name").agg(
        concat_ws(",", sort_array(collect_set($"codec"))).as("codecs"),
        sum($"rawBytes").as("raw"), sum($"encBytes").as("enc"))
      .as[(String, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    // lang: ~10 distinct short strings -> dict everywhere
    assert(perCol("lang")._2 == "dict", perCol("lang").toString)
    // lang compresses massively
    assert(perCol("lang")._4 < perCol("lang")._3 / 8)
    // text/html: fsst-family or dict, never plain
    assert(!perCol("text")._2.contains("plain"), perCol("text").toString)
    assert(perCol("text")._4 < perCol("text")._3)
    assert(perCol("html")._4 < perCol("html")._3)
  }

  test("a manifest rebuilt by reconcile equals the committed manifest") {
    import spark.implicits._
    val outDir = tmpDir("graft-rebuilt")
    val ts = new java.sql.Timestamp(1700000000000L)
    // include the supplementary-plane disagreement so the distributed
    // min/max (binary/UTF-8) is pinned against the kernel summaries'
    // utf8Compare merge, not just ASCII-lucky. The urls sort last, in two
    // runs of 40 (all E000 ones, then all supplementary ones), longer
    // than the 32-row chunk cap: some chunk ends inside the E000 run and
    // a later chunk of the same pid holds supplementary urls, so the
    // cross-chunk max merge is where the two orders disagree
    val uE000 = "https://x/\uE000zz"
    val uSupp = "https://x/" + new String(Character.toChars(0x10000)) + "aa"
    assert(uE000 > uSupp, "UTF-16 order (sanity: the two orders must disagree)")
    val extra = (0 until 40).flatMap(i => Seq(
      graft.model.Page(s"$uE000$i", ts, Array[Byte](2), "t2", "en"),
      graft.model.Page(s"$uSupp$i", ts, Array[Byte](3), "t3", "en")))
    val source = WebtextGen.pages(spark, 1200L, seed = 5L)
      .union(spark.createDataset(extra)).cache()
    val cfg = EncodeJob.Config(numPartitions = 5, maxBlockRows = 32)
    val r1 = EncodeJob.run(spark, source, outDir, cfg)
    assert(r1.rowsThisRun == 1280L && r1.encBytesThisRun > 0L)

    // every content field (encodeNanos and finishedAt are wall-clock)
    def stable() = spark.read.parquet(EncodeJob.manifestDir(outDir))
      .select($"pid", $"blocks", $"rows", $"urlMin", $"urlMax", $"rawBytes",
        $"encBytes", $"flBaselineBytes", $"textCrc32Xor", $"codecs", $"attemptId")
      .orderBy($"pid")
      .collect().map(_.toString).toSeq
    val committed = stable()

    // crash window: chunks committed, manifest commit lost, markers left
    rmrf(EncodeJob.manifestDir(outDir))
    val tag = spark.read.parquet(EncodeJob.chunksDir(outDir))
      .select($"attemptId").distinct().as[String].head()
    graft.sources.TableIO.touch(spark, s"${EncodeJob.attemptsDir(outDir)}/begin-$tag")
    graft.sources.TableIO.touch(spark, s"${EncodeJob.attemptsDir(outDir)}/chunks-$tag")
    assert(EncodeJob.reconcileOrphans(spark, outDir).size == committed.size)
    assert(stable() == committed)

    // and the rebuilt table round-trips + resumes like any other
    assert(VerifyJob.run(spark, source, DecodeJob.run(spark, outDir)).ok)
    val r2 = EncodeJob.run(spark, source, outDir, cfg)
    assert(r2.rowsThisRun == 0L, "resume after reconcile re-encoded completed pids")
    source.unpersist()
  }

  test("steady-state reconcile runs zero Spark jobs (marker fast path)") {
    val outDir = tmpDir("graft-steady")
    val source = WebtextGen.pages(spark, 400L, seed = 9L)
    EncodeJob.run(spark, source, outDir, EncodeJob.Config(numPartitions = 3))
    val jobs = jobsDuring { assert(EncodeJob.reconcileOrphans(spark, outDir).isEmpty) }
    assert(jobs.isEmpty,
      s"clean-table reconcile launched ${jobs.size} jobs ($jobs); must be a pure FS listing")
  }

  test("EncodeJob.run launches a fixed number of Spark jobs (fresh encode, streaming commit)") {
    import spark.implicits._
    // fresh table: bounds sample (map stage + collect), encode (shuffle
    // map stage + the collect whose tasks write the chunk files); the
    // driver writes the manifest with no job, and there is no
    // whole-manifest totals job, since no manifest existed before the run
    val fresh = tmpDir("graft-jobs-fresh")
    val freshJobs = jobsDuring {
      EncodeJob.run(spark, WebtextGen.pages(spark, 600L, seed = 41L), fresh,
        EncodeJob.Config(numPartitions = 4))
    }
    assert(freshJobs.size == 4, s"fresh encode launched $freshJobs")

    // streaming commit onto a table whose bounds an earlier commit pinned:
    // the encode's shuffle map stage and its collect only. (A commit whose input is a
    // parquet read inside the measured call, as in perfbench, adds that
    // read's schema-inference job.)
    val stream = tmpDir("graft-jobs-stream")
    def commit(seed: Long) = EncodeJob.run(spark,
      WebtextGen.pages(spark, 400L, seed = seed).withColumn("url", concat($"url", lit(s"/$seed")))
        .as[graft.model.Page],
      stream, EncodeJob.Config(numPartitions = 4, resume = false,
        attemptId = Some(s"batch-$seed"), wholeTableStats = false))
    commit(42L)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(EncodeJob.boundsPath(stream))))
    val commitJobs = jobsDuring { assert(commit(43L).rowsThisRun == 400L) }
    assert(commitJobs.size == 2, s"streaming commit launched $commitJobs")
  }

  test("begin-only attempts roll back (chunk-job completion is unprovable)") {
    import spark.implicits._
    val outDir = tmpDir("graft-beginonly")
    val source = WebtextGen.pages(spark, 500L, seed = 21L).cache()
    EncodeJob.run(spark, source, outDir, EncodeJob.Config(numPartitions = 3))
    val tag = spark.read.parquet(EncodeJob.chunksDir(outDir))
      .select($"attemptId").distinct().as[String].head()

    // crash window: died somewhere inside/just after the chunk job, before
    // the chunks- marker — only begin- survives. The driver renames the
    // staged files into chunks/ one by one, so the chunk files on disk
    // may be a partial subset; completion is unprovable. A file the crash
    // left unrenamed sits in the attempt's staging dir.
    rmrf(EncodeJob.manifestDir(outDir))
    graft.sources.TableIO.touch(spark, s"${EncodeJob.attemptsDir(outDir)}/begin-$tag")
    val staged = java.nio.file.Paths.get(EncodeJob.stagingDir(outDir, tag), "part-staged.parquet")
    java.nio.file.Files.createDirectories(staged.getParent)
    val committedFile = new java.io.File(EncodeJob.chunksDir(outDir)).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(committedFile.toPath, staged)

    // reconcile must NOT launder possibly-partial files into lineage: the
    // attempt rolls back — its chunk files are dropped, nothing enters
    // the manifest, and the begin- marker is cleared
    assert(EncodeJob.reconcileOrphans(spark, outDir).isEmpty)
    assert(spark.read
      .schema(org.apache.spark.sql.Encoders.product[graft.model.EncodedChunk].schema)
      .parquet(EncodeJob.chunksDir(outDir)).count() == 0L,
      "rolled-back attempt left chunk rows behind")
    assert(!graft.sources.TableIO.exists(spark, EncodeJob.manifestDir(outDir)))
    assert(!java.nio.file.Files.exists(staged.getParent), "rollback left the staging dir")
    val names = graft.sources.TableIO.listDir(spark, EncodeJob.attemptsDir(outDir))
    assert(!names.exists(_.startsWith("begin-")) && !names.exists(_.startsWith("chunks-")))

    // the batch then re-encodes cleanly on resume (its pids were never
    // marked committed) and the table round-trips
    val r = EncodeJob.run(spark, source, outDir, EncodeJob.Config(numPartitions = 3))
    assert(r.rowsThisRun == 500L)
    assert(DecodeJob.run(spark, outDir).count() == 500L)
    assert(VerifyJob.run(spark, source, DecodeJob.run(spark, outDir)).ok)
    source.unpersist()
  }

  test("rollback never deletes an earlier committed wave sharing the attemptId") {
    import spark.implicits._
    val outDir = tmpDir("graft-wave-protect")
    val source = WebtextGen.pages(spark, 500L, seed = 77L).cache()
    // wave 1 under an explicit shared tag: completes fully (chunks +
    // manifest committed, markers cleared)
    val r1 = EncodeJob.run(spark, source, outDir,
      EncodeJob.Config(numPartitions = 4, pidUpperBound = Some(2),
        attemptId = Some("job-X")))
    assert(r1.rowsThisRun > 0L)
    val wave1Rows = spark.read.parquet(EncodeJob.chunksDir(outDir))
      .agg(org.apache.spark.sql.functions.sum($"rows")).as[Long].head()

    // wave 2 (same tag) crashes between its chunk-job commit attempt and
    // the chunks- marker: only begin-job-X survives. The begin-only
    // rollback must drop ONLY unmanifested job-X files — wave 1's files
    // have manifest rows and are committed lineage.
    graft.sources.TableIO.touch(spark, s"${EncodeJob.attemptsDir(outDir)}/begin-job-X")
    EncodeJob.reconcileOrphans(spark, outDir)

    val survivors = spark.read.parquet(EncodeJob.chunksDir(outDir))
      .agg(org.apache.spark.sql.functions.sum($"rows")).as[Long].head()
    assert(survivors == wave1Rows,
      s"rollback deleted committed wave-1 chunks ($survivors != $wave1Rows rows)")
    // manifest still references intact data: the wave-1 pids decode
    val decoded = DecodeJob.run(spark, outDir)
    assert(decoded.count() == wave1Rows)
    // and the interrupted wave resumes to completion as usual
    val r2 = EncodeJob.run(spark, source, outDir,
      EncodeJob.Config(numPartitions = 4, attemptId = Some("job-X")))
    assert(r2.rows == 500L)
    assert(VerifyJob.run(spark, source, DecodeJob.run(spark, outDir)).ok)
    source.unpersist()
  }

  test("staging never reaches reads or lineage") {
    import spark.implicits._
    val outDir = tmpDir("graft-staging")
    EncodeJob.run(spark, WebtextGen.pages(spark, 500L, seed = 23L), outDir,
      EncodeJob.Config(numPartitions = 4))
    EncodeJob.run(spark,
      WebtextGen.pages(spark, 300L, seed = 24L).withColumn("url", concat($"url", lit("/c")))
        .as[graft.model.Page],
      outDir, EncodeJob.Config(numPartitions = 4, resume = false,
        attemptId = Some("batch-1"), wholeTableStats = false))
    // a successful encode and a commit leave no staging, committer or
    // marker-of-success files behind
    Seq(EncodeJob.chunksDir(outDir), EncodeJob.manifestDir(outDir)).foreach { d =>
      val left = new java.io.File(d).list().filter(n =>
        n.startsWith("_staging-") || n == "_temporary" || n == "_SUCCESS")
      assert(left.isEmpty, s"$d holds ${left.toSeq}")
    }
    def counts() = (spark.read.format("graft").load(outDir).count(),
      EncodeJob.chunkMetaScan(spark, outDir).count())
    val before = counts()
    assert(before._1 == 800L)
    // what a straggler writing after the staging delete leaves: a chunk
    // file in an `_`-prefixed dir
    val planted = java.nio.file.Paths.get(EncodeJob.chunksDir(outDir), "_staging-x", "part-x.parquet")
    java.nio.file.Files.createDirectories(planted.getParent)
    val committedFile = new java.io.File(EncodeJob.chunksDir(outDir)).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(committedFile.toPath, planted)
    assert(counts() == before, "a staged file reached a read")
  }
}
