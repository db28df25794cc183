package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Targeted coverage for query paths the driver's DuckDB oracle cannot
  * reach: the reliable-checkpoint variant of connected components (the
  * oracle always runs the default localCheckpoint path). */
class QueriesSpec extends AnyFunSuite with SparkFixture {

  test("dedup clusters: reliable checkpoint() path matches the localCheckpoint path") {
    import spark.implicits._
    val dir = tmpDir("graft-queries-docs")
    // small corpus with deliberate near-dup groups: template texts shared
    // across several doc_ids so LSH buckets produce edges and clusters
    // 75 templates x 4 docs: buckets of ~4 members sit INSIDE the LSH
    // bucket-size cap (2..16), so edges form and clusters emerge
    val docs = (0L until 300L).map { i =>
      val template = i / 4
      val text = s"shared template number $template with plenty of overlapping shingle content " * 4 +
        (if (i % 4 == 0) s" unique tail $i" else "")
      (i, text, "en", s"src${i % 4}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")

    val plain = Queries.qDedupClusters(spark, dir).orderBy("cluster_id")
      .as[(Long, Long)].collect().toSeq
    assert(plain.nonEmpty && plain.map(_._2).sum == 300L)
    assert(plain.exists(_._2 > 1L), "expected at least one multi-doc cluster")

    spark.conf.set("spark.graft.cc.checkpointEvery", "2")
    try {
      val reliable = Queries.qDedupClusters(spark, dir).orderBy("cluster_id")
        .as[(Long, Long)].collect().toSeq
      assert(reliable == plain, "reliable-checkpoint run diverged from localCheckpoint run")
      assert(spark.sparkContext.getCheckpointDir.isDefined)
    } finally spark.conf.unset("spark.graft.cc.checkpointEvery")
  }

  test("unsplittable-input guard: parallelized and plain reads agree; conf disables") {
    import spark.implicits._
    val dir = tmpDir("graft-queries-tpar")
    // single parquet file, single row group: the degenerate shape the
    // guard exists for — the scan plans ONE task without it
    val docs = (0L until 400L).map { i =>
      (i, s"some repeated shingle text body number ${i % 40} padding " * 3,
        "en", s"src${i % 3}", 100L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.parquet(s"$dir/documents.parquet")

    def run() = Queries.qMinhashLsh(spark, dir)
      .orderBy("band", "bucket").as[(Long, String, Long, Long)].collect().toSeq
    val guarded = run()
    // the guard fired: the query's scan side ran with >= floor/2 map
    // tasks (RoundRobin repartition present). Probe via the plan string.
    val plan = Queries.qMinhashLsh(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("RoundRobinPartitioning"),
      "expected the unsplittable-input guard to insert a round-robin repartition")
    spark.conf.set("spark.graft.scan.minMapTasks", "0")
    try {
      val plain = run()
      val planOff = Queries.qMinhashLsh(spark, dir).queryExecution.executedPlan.toString
      assert(!planOff.contains("RoundRobinPartitioning"),
        "minMapTasks=0 must disable the guard")
      assert(plain == guarded, "guarded and plain reads must produce identical results")
    } finally spark.conf.unset("spark.graft.scan.minMapTasks")
    // low floors (a local[2] or local[3] session): the single-task scan
    // must still trip the guard
    for (floor <- Seq(2, 3)) {
      spark.conf.set("spark.graft.scan.minMapTasks", floor.toString)
      try {
        val planLow = Queries.qMinhashLsh(spark, dir).queryExecution.executedPlan.toString
        assert(planLow.contains("RoundRobinPartitioning"),
          s"minMapTasks=$floor must insert the round-robin repartition")
        assert(run() == guarded, s"minMapTasks=$floor changed the result")
      } finally spark.conf.unset("spark.graft.scan.minMapTasks")
    }
  }

  test("sketch bounds keep a null-source group, as the oracle's GROUP BY does") {
    import spark.implicits._
    val dir = tmpDir("graft-queries-sketch")
    val docs = (0L until 60L).map { i =>
      (i, s"text $i", "en", if (i % 3 == 0) null else s"src${i % 2}", 10L + i % 17)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")
    val got = Queries.qSketchBounds(spark, dir)
      .as[(String, Long, Long, Long)].collect().sortBy(r => Option(r._1)).toSeq
    val want = docs.groupBy($"source").agg(
        org.apache.spark.sql.functions.countDistinct($"n_chars"))
      .as[(String, Long)].collect().sortBy(r => Option(r._1)).toSeq
    assert(want.head._1 == null && want.size == 3)
    assert(got.map(r => (r._1, r._2)) == want, s"sketch bounds groups: $got, want $want")
    assert(got.forall(r => r._3 == 1L && r._4 == 1L), s"sketch bounds out of range: $got")
  }

  test("line-granular ops: windows, keep-first winners, exact df means, empty-doc guard") {
    import spark.implicits._
    val dir = tmpDir("graft-queries-lines")
    // hand-computable corpus; doc 3 is EMPTY (drives the sequence(0,-1)
    // guard: Spark's descending-range default would fabricate two bogus
    // lines for it where DuckDB's range(0) yields none)
    val docs = Seq(
      (0L, "a b c d e f g h i j", "en", "src0", 19L),
      (1L, "a b c d e f g h i j", "en", "src0", 19L),
      (2L, "a b c d e f g h x y", "en", "src1", 19L),
      (3L, "", "en", "src1", 0L),
      (4L, "i j i j", "en", "src2", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")

    // boilerplate: lines shared by >=2 docs of the SAME source; docs 0/1
    // share both 8-token windows in src0, doc 2's first window matches
    // them textually but sits in src1 -> not boilerplate there
    val boiler = Queries.qBoilerplate(spark, dir)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(boiler == Seq((0L, 2L, 2L), (1L, 2L, 2L), (2L, 2L, 0L), (4L, 1L, 0L)),
      s"boilerplate mismatch: $boiler")

    // keep-first: winner of "a b c d e f g h" is (0,0); "i j" is (0,1);
    // doc 1 keeps nothing, doc 2 keeps only its unique "x y" tail
    val dedup = Queries.qLineDedup(spark, dir)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(dedup == Seq((0L, 2L, 2L), (1L, 2L, 0L), (2L, 2L, 1L), (4L, 1L, 1L)),
      s"line dedup mismatch: $dedup")

    // df: a..h and i,j occur in 3 docs each, x,y in 1; nDocs=5 INCLUDING
    // the token-less doc (corpus size is corpus size)
    val dfm = Queries.qDocFreq(spark, dir)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(dfm == Seq(
      (0L, 10L, 6000L),   // 10 tokens * df 3 -> 30*10000/(10*5)
      (1L, 10L, 6000L),
      (2L, 10L, 5200L),   // 8*3 + 2*1 = 26 -> 26*10000/(10*5)
      (4L, 4L, 6000L)),   // 4 instances of df-3 tokens
      s"doc-freq mismatch: $dfm")
  }

  test("cohort retention and funnel stages on a hand-computed events fixture") {
    import spark.implicits._
    val dir = tmpDir("graft-queries-events")
    def ts(day: Int, sec: Int) =
      java.time.LocalDateTime.of(2024, 1, 1 + day, 0, 0, 0).plusSeconds(sec)
    // user 1: full ordered funnel (signup < click < purchase), active days 0,1,3
    // user 2: click BEFORE signup (strict order broken -> stage 1), days 1,2
    // user 3: signup+click ordered, no purchase -> stage 2, day 2 only
    // user 4: view only -> stage 0, day 0 only
    val rows = Seq(
      (1L, ts(0, 10), 1L, "signup", 1.0, "{}"),
      (2L, ts(0, 20), 1L, "click", 1.0, "{}"),
      (3L, ts(1, 30), 1L, "purchase", 1.0, "{}"),
      (4L, ts(3, 40), 1L, "view", 1.0, "{}"),
      (5L, ts(1, 10), 2L, "click", 1.0, "{}"),
      (6L, ts(2, 20), 2L, "signup", 1.0, "{}"),
      (7L, ts(2, 10), 3L, "signup", 1.0, "{}"),
      (8L, ts(2, 20), 3L, "click", 1.0, "{}"),
      (9L, ts(0, 5), 4L, "view", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts",
        org.apache.spark.sql.functions.col("ts").cast("timestamp_ntz"))
    rows.write.parquet(s"$dir/events.parquet")

    val funnel = Queries.qFunnelSteps(spark, dir)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(funnel == Seq((0L, 1L), (1L, 1L), (2L, 1L), (3L, 1L)),
      s"funnel mismatch: $funnel")

    // cohorts: users 1,4 -> day 0; user 2 -> day 1; user 3 -> day 2
    // (day numbers are absolute epoch days; compare shape via offsets)
    val cohort = Queries.qCohortRetention(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (c, off, nu, ne) => (c - 19723L, off, nu, ne) }.sortBy(r => (r._1, r._2)).toSeq
    assert(cohort == Seq(
      (0L, 0L, 2L, 3L),  // day-0 cohort: users 1,4 (u1 has 2 events that day)
      (0L, 1L, 1L, 1L),  // u1 active day 1
      (0L, 3L, 1L, 1L),  // u1 active day 3
      (1L, 0L, 1L, 1L),  // u2 cohort day 1
      (1L, 1L, 1L, 1L),  // u2 active day 2
      (2L, 0L, 1L, 2L)), // u3 cohort day 2, both events same day
      s"cohort mismatch: $cohort")
  }

  test("sessionize: >30-min gaps split, late and straggler events, ordinals, NaN fails loudly") {
    import spark.implicits._
    def ts(minutes: Long): java.sql.Timestamp =
      new java.sql.Timestamp(1700000000000L + minutes * 60000L)
    val justOver = ts(60)
    justOver.setNanos(1000) // 30 min + 1 µs after u7's second event
    // (user_id, event_id, ts, value). Row order is arrival order and does
    // not matter to the query: u4's ts(80) arrives after its ts(100) and
    // merges BACKWARDS into one session starting at 80; u5's ts(100) is
    // older than its ts(200) by more than the gap (its own session); u6's
    // ts(0)/ts(20) stragglers chain into ONE session before its ts(300).
    // u7 sits on the boundary: exactly 30 min does not split, 30 min plus
    // 1 µs does.
    val events = Seq(
      (1L, 1L, ts(0), 1.00), (1L, 2L, ts(10), 2.00),
      (2L, 3L, ts(0), 0.50), (2L, 4L, ts(45), 1.25),
      (3L, 5L, ts(5), 3.00),
      (4L, 9L, ts(100), 1.00),
      (5L, 11L, ts(200), 1.00),
      (6L, 13L, ts(300), 1.00),
      (2L, 6L, ts(60), 0.25),
      (1L, 7L, ts(55), 4.00),
      (3L, 8L, ts(20), 1.00),
      (4L, 10L, ts(80), -0.005),
      (5L, 12L, ts(100), 2.00),
      (6L, 14L, ts(0), 1.00), (6L, 15L, ts(20), 2.00),
      (7L, 16L, ts(0), 1.00), (7L, 17L, ts(30), 1.00), (7L, 18L, justOver, 1.00))
    def sessions(evs: Seq[(Long, Long, java.sql.Timestamp, Double)]) = {
      val dir = tmpDir("graft-queries-sessionize")
      evs.toDF("user_id", "event_id", "ts", "value").write.parquet(s"$dir/events.parquet")
      Queries.qSessionize(spark, dir)
    }
    val got = sessions(events)
      .as[(Long, Long, Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    // (user_id, session_id, n_events, t_start, t_end, cents); cents sum
    // round(value * 100) per event, HALF_UP: u4's −0.005 is −1 cent
    assert(got == Seq(
      (1L, 1L, 2L, ts(0), ts(10), 300L),    // 10-min gap: one session
      (1L, 2L, 1L, ts(55), ts(55), 400L),   // 45-min gap splits
      (2L, 1L, 1L, ts(0), ts(0), 50L),
      (2L, 2L, 2L, ts(45), ts(60), 150L),
      (3L, 1L, 2L, ts(5), ts(20), 400L),
      (4L, 1L, 2L, ts(80), ts(100), 99L),   // late event merged backwards
      (5L, 1L, 1L, ts(100), ts(100), 200L), // straggler: its own session
      (5L, 2L, 1L, ts(200), ts(200), 100L),
      (6L, 1L, 2L, ts(0), ts(20), 300L),    // straggler chain: one session
      (6L, 2L, 1L, ts(300), ts(300), 100L),
      (7L, 1L, 2L, ts(0), ts(30), 200L),    // exactly 30 min: same session
      (7L, 2L, 1L, justOver, justOver, 100L)),
      s"sessions mismatch: $got")

    // a NaN value fails with ANSI's named overflow, not a wrong session
    val err = intercept[Exception] {
      sessions(Seq((1L, 1L, ts(0), Double.NaN), (1L, 2L, ts(10), 2.00))).collect()
    }
    assert(err.getMessage.contains("CAST_OVERFLOW"), s"failed differently: ${err.getMessage}")
  }

  test("latest-event compaction, pivot/unpivot, and bigram PMI on hand-computed fixtures") {
    import spark.implicits._
    val dir = tmpDir("graft-queries-compact")
    def ts(day: Int, sec: Int) =
      java.time.LocalDateTime.of(2024, 1, 1 + day, 0, 0, 0).plusSeconds(sec)
    def us(day: Int, sec: Int) =
      ts(day, sec).toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    val rows = Seq(
      (1L, ts(0, 10), 1L, "signup", 1.0, "{}"),
      (2L, ts(0, 20), 1L, "click", 1.0, "{}"),
      (3L, ts(1, 30), 1L, "purchase", 1.0, "{}"),
      (4L, ts(3, 40), 1L, "view", 1.0, "{}"),
      (5L, ts(1, 10), 2L, "click", 1.0, "{}"),
      (6L, ts(2, 20), 2L, "signup", 1.0, "{}"),
      // user 3: two events at the IDENTICAL timestamp — the event_id
      // tiebreak in the lexicographic struct must decide (event 8 wins)
      (7L, ts(2, 10), 3L, "signup", 1.0, "{}"),
      (8L, ts(2, 10), 3L, "click", 1.0, "{}"),
      (9L, ts(0, 5), 4L, "view", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts",
        org.apache.spark.sql.functions.col("ts").cast("timestamp_ntz"))
    rows.write.parquet(s"$dir/events.parquet")

    val latest = Queries.qLatestEvent(spark, dir)
      .as[(Long, Long, Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(latest == Seq(
      (1L, us(3, 40), 4L, "view", 4L),
      (2L, us(2, 20), 6L, "signup", 2L),
      (3L, us(2, 10), 8L, "click", 2L),
      (4L, us(0, 5), 9L, "view", 1L)),
      s"latest-event mismatch: $latest")

    // wide matrix: (click, error, purchase, signup, view) per user,
    // absent cells 0 — and the unpivot drops exactly those zero cells
    val pivot = Queries.qPivotEvents(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(pivot == Seq(
      (1L, 1L, 0L, 1L, 1L, 1L),
      (2L, 1L, 0L, 0L, 1L, 0L),
      (3L, 1L, 0L, 0L, 1L, 0L),
      (4L, 0L, 0L, 0L, 0L, 1L)),
      s"pivot mismatch: $pivot")
    val unpivot = Queries.qUnpivotEvents(spark, dir)
      .as[(Long, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(unpivot == Seq(
      (1L, "click", 1L), (1L, "purchase", 1L), (1L, "signup", 1L), (1L, "view", 1L),
      (2L, "click", 1L), (2L, "signup", 1L),
      (3L, "click", 1L), (3L, "signup", 1L),
      (4L, "view", 1L)),
      s"unpivot mismatch: $unpivot")

    // bigram PMI: unigrams x4 y4 p3 q3 r1; bigrams (x,y)4 (y,x)3 (p,q)3
    // (q,r)1 (q,p)1 -> N=12; candidates c_xy>=3 score
    // c_xy*12e6 // (c_x*c_y): (p,q) 4_000_000, (x,y) 3_000_000,
    // (y,x) 2_250_000
    val ddir = tmpDir("graft-queries-pmi")
    Seq(
      (0L, "x y x y x y x y", "en", "s", 15L),
      (1L, "p q r", "en", "s", 5L),
      (2L, "p q p q", "en", "s", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$ddir/documents.parquet")
    val pmi = Queries.qBigramPmi(spark, ddir)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(pmi == Seq(
      ("p", "q", 3L, 4000000L),
      ("x", "y", 4L, 3000000L),
      ("y", "x", 3L, 2250000L)),
      s"bigram PMI mismatch: $pmi")

    // gap-fill: events span d0h0..d3h0 = 73 hourly buckets x 5 types;
    // the grid must include EVERY quiet bucket as an explicit zero row
    val rate = Queries.qGapfillRate(spark, dir)
      .as[(Long, String, Long)].collect().toSeq
    assert(rate.size == 73 * 5, s"grid size ${rate.size}, want ${73 * 5}")
    assert(rate.map(_._3).sum == 9L, "dense grid lost or duplicated events")
    val h0 = rate.filter(_._1 == rate.map(_._1).min).map(r => r._2 -> r._3).toMap
    assert(h0 == Map("click" -> 1L, "error" -> 0L, "purchase" -> 0L,
      "signup" -> 1L, "view" -> 1L), s"first-hour counts wrong: $h0")
    // nonzero cells: d0(signup,click,view) d1(purchase,click)
    // d2(signup x2 -> one cell, click) d3(view) = 8
    assert(rate.count(_._3 == 0L) == 73 * 5 - 8,
      "zero-fill count wrong (9 events land in 8 nonzero (bucket, type) cells)")

    // salted join: 3 docs of one source through the 8-way salt split —
    // every fact row must match its replicated dimension row EXACTLY once
    val sj = Queries.qSaltedJoin(spark, ddir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(sj == Seq(("s", 3L, 3L, 27L)), s"salted join mismatch: $sj")

    // snapshot diff: ids chosen to hit every branch — 1 same, 3 added
    // (old drops %3), 5 removed (new drops %5), 7 changed (new edits
    // %7), 15 in NEITHER snapshot (dropped by both) -> no row at all
    val sdir = tmpDir("graft-queries-snap")
    Seq(1L, 3L, 5L, 7L, 15L).map(i => (i, s"text $i", "en", "s", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$sdir/documents.parquet")
    val diff = Queries.qSnapshotDiff(spark, sdir)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(diff == Seq((1L, "same"), (3L, "added"), (5L, "removed"),
      (7L, "changed")), s"snapshot diff mismatch: $diff")
  }

  test("norm dedup, filter funnel, and shuffle shards on hand-computed fixtures") {
    import spark.implicits._
    val dir = tmpDir("graft-queries-pipe")
    // docs 0..3 are case/whitespace variants of one canonical text (the
    // set raw-hash dedup is blind to); 4 stands alone. n_chars is the
    // funnel's gate column and is set to the intended gate value.
    val docs = Seq(
      (0L, "Hello World", "en", "s", 100L),
      (1L, "hello   world", "en", "s", 100L),
      (2L, "  hello world \t", "en", "s", 100L),
      (3L, "hello world", "en", "s", 100L),
      (4L, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10", "en", "f", 100L), // survives all
      (5L, "too short", "en", "f", 10L), // fails length
      (6L, "x0 x1 x2 x3 x4 x5 x6 x7 x8 x9 x10", "xx", "f", 100L), // fails lang
      (7L, "a a a a a a a a a a a a", "en", "f", 100L), // rep 11*1e4/12 >= 3000
      (8L, "one two three four five", "en", "f", 100L) // < 10 words
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")

    val nd = Queries.qNormDedup(spark, dir)
      .as[(String, Long, Long, Long)].collect().sortBy(_._4).toSeq
    // 4 raw variants fold into ONE normalized group keeping doc 0; every
    // other doc normalizes to itself
    assert(nd.map(r => (r._2, r._3, r._4)) == Seq(
      (4L, 4L, 0L), (1L, 1L, 4L), (1L, 1L, 5L), (1L, 1L, 6L), (1L, 1L, 7L), (1L, 1L, 8L)),
      s"norm dedup mismatch: $nd")

    val ff = Queries.qFilterFunnel(spark, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // source f: 5 docs; doc5 fails length, doc6 lang, doc7 repetition,
    // doc8 token floor -> cumulative 5/4/3/2/1. source s: all two-word
    // docs pass length+lang+rep but fail the 10-token floor -> 4/4/4/4/0
    assert(ff == Seq(
      ("f", 5L, 4L, 3L, 2L, 1L),
      ("s", 4L, 4L, 4L, 4L, 0L)),
      s"filter funnel mismatch: $ff")

    // shuffle: an independent in-JVM oracle recomputes the seeded-md5
    // permutation; the query must match it exactly, be stable across
    // invocations, and honor the spark.graft.shuffle.shards knob (the
    // default-conf run is the one the DuckDB gate oracles)
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    def expectedPerm(shards: Int) = (0L to 8L).map { id =>
      val k = md5hex(s"shuf1:$id")
      val shard = java.lang.Long.parseLong(k.substring(0, 4), 16) % shards
      (id, shard, k)
    }.groupBy(_._2).toSeq.flatMap { case (shard, rows) =>
      rows.sortBy(r => (r._3, r._1)).zipWithIndex.map { case ((id, _, _), i) =>
        (id, shard, i + 1L)
      }
    }.sortBy(_._1)
    val got = Queries.qShuffleShards(spark, dir)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == expectedPerm(Queries.ShuffleShards),
      s"shuffle permutation mismatch: $got")
    val again = Queries.qShuffleShards(spark, dir)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(again == got, "shuffle permutation not deterministic across runs")
    // non-default shard counts, including one past the old 256-value
    // 2-nibble ceiling: the conf re-parameterizes the plan, the in-JVM
    // oracle tracks it, and shard ids actually exceed 255
    for (shards <- Seq(16, 4096)) {
      spark.conf.set("spark.graft.shuffle.shards", shards.toString)
      try {
        val g = Queries.qShuffleShards(spark, dir)
          .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
        assert(g == expectedPerm(shards), s"shards=$shards mismatch: $g")
        if (shards > 256)
          assert(g.exists(_._2 > 255L), s"shards=$shards never exceeded 8-bit shard ids: $g")
      } finally spark.conf.unset("spark.graft.shuffle.shards")
    }
    intercept[IllegalArgumentException] {
      spark.conf.set("spark.graft.shuffle.shards", "0")
      try Queries.qShuffleShards(spark, dir)
      finally spark.conf.unset("spark.graft.shuffle.shards")
    }
  }

  test("engine round trips and range decodes return the oracle's rows") {
    import spark.implicits._
    val dir = tmpDir("graft-queries-engine")
    // enginePages maps doc_id to url %09d and warc_ts 1700000000 + doc_id
    // seconds; one empty text and a few null langs ride along
    val docs = (0L until 500L).map { i =>
      (i, if (i == 97L) "" else s"document $i body " + "word " * (i % 13).toInt,
        if (i % 50 == 7) null else Seq("en", "de", "fr")((i % 3).toInt), s"src${i % 5}", 10L)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    def url(i: Long) = "https://doc.example/%09d".format(i)
    def md5Hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
    def between(lo: Long, hi: Long) = docs.filter(d => d._1 >= lo && d._1 <= hi)

    val full = docs.map(d => (url(d._1), md5Hex(d._2), d._3))
    for ((name, df) <- Seq("q_engine_roundtrip" -> Queries.qEngineRoundtrip(spark, dir),
                            "q_dsv2_write" -> Queries.qDsv2Write(spark, dir)))
      assert(df.as[(String, String, String)].collect().sortBy(_._1).toSeq == full, name)
    // the doc_id BETWEEN windows the oracle encodes
    assert(Queries.qEngineRtRange(spark, dir).as[(String, String)].collect().sortBy(_._1).toSeq ==
      between(100L, 299L).map(d => (url(d._1), d._3)))
    assert(Queries.qEngineTsRange(spark, dir).as[(String, Long, String)].collect()
      .sortBy(_._1).toSeq ==
      between(200L, 459L).map(d => (url(d._1), (1700000000L + d._1) * 1000000L, d._3)))
  }

  test("processScratch sweeps dead-JVM dirs, keeps live ones, wipes its own") {
    val tmpRoot = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val prefix = "graft-scrtest"
    // a stale dir from a JVM that no longer exists (pid far beyond
    // pid_max) with content, and a dir named after THIS live JVM
    val deadDir = tmpRoot.resolve(s"$prefix-99999999-dead")
    java.nio.file.Files.createDirectories(deadDir)
    java.nio.file.Files.writeString(deadDir.resolve("chunk"), "stale")
    val mine = ProcessHandle.current().pid()
    val liveDir = tmpRoot.resolve(s"$prefix-$mine-otherinput")
    java.nio.file.Files.createDirectories(liveDir)
    java.nio.file.Files.writeString(liveDir.resolve("inflight"), "keep")
    // a non-numeric-pid name must be treated as not-alive garbage too
    val junkDir = tmpRoot.resolve(s"$prefix-notapid-x")
    java.nio.file.Files.createDirectories(junkDir)
    try {
      val out = java.nio.file.Paths.get(Queries.processScratch(prefix, "/some/input"))
      assert(!java.nio.file.Files.exists(deadDir), "dead-JVM dir not swept")
      assert(!java.nio.file.Files.exists(junkDir), "unparseable-pid dir not swept")
      assert(java.nio.file.Files.exists(liveDir.resolve("inflight")),
        "live JVM's other scratch dir was wiped")
      // own target is returned wiped (created empty or absent, never stale)
      assert(out.getFileName.toString.startsWith(s"$prefix-$mine-"))
      assert(!java.nio.file.Files.exists(out.resolve("anything")))
      // repeated call wipes again and stays stable
      assert(Queries.processScratch(prefix, "/some/input") == out.toString)
    } finally {
      Seq(deadDir, liveDir, junkDir).foreach { p =>
        if (java.nio.file.Files.exists(p)) {
          java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
            .forEach(java.nio.file.Files.deleteIfExists(_))
        }
      }
    }
  }
}
