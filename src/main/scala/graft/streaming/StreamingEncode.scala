package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.jobs.EncodeJob
import graft.model.Page
import graft.sources.TableIO

/** Structured-Streaming front end for the encoder: page files appearing
  * under `inDir` are encoded micro-batch by micro-batch into the SAME
  * chunks+manifest layout `EncodeJob` writes for batch runs.
  *
  * The reference is batch-only (an input file per run,
  * /root/reference/src/file_io.cu:73-115) and the north_rule mandates a
  * batch job, so this surface is additive: the streaming analog of "new
  * WARC drops keep arriving". Design points:
  *
  *  - pid assignment stays consistent across micro-batches because the
  *    url-range bounds are pinned in bounds.json and reloaded by every
  *    later batch (the same mechanism batch resume uses). Pinning is
  *    GUARDED by a minimum sample size (16 rows per partition, which
  *    `EncodeJob` applies whenever `resume = false`): a tiny first
  *    micro-batch must not freeze unrepresentative bounds forever, so
  *    small batches use their locally-computed bounds without pinning and
  *    the first adequately-sized batch pins. Chunks are self-contained
  *    (DecodeJob reads them all regardless of pid), so pre-pin batches
  *    having their own pid geometry is correctness-neutral;
  *  - each micro-batch appends its own chunks and manifest rows with the
  *    DETERMINISTIC attemptId "batch-<batchId>" — per-micro-batch lineage,
  *    so `stats` shows which batch produced which blocks;
  *  - `resume = false` inside foreachBatch: completed-pid skipping is a
  *    batch-resume concept; a stream legitimately appends NEW blocks to
  *    already-seen pids;
  *  - replay safety (the standard foreachBatch exactly-once pattern,
  *    completed by chunk-level lineage): a crash between a micro-batch's
  *    manifest commit and the streaming checkpoint offset commit makes
  *    the source re-deliver that batch on restart — foreachBatch then
  *    finds its "batch-<id>" attemptId already in the manifest and SKIPS
  *    it. A crash in the NARROWER window (chunks committed, manifest
  *    commit lost) is covered too: chunks carry their attemptId, so
  *    [[EncodeJob.reconcileOrphans]] — run at the start of every batch —
  *    rebuilds the missing manifest rows under the original "batch-<id>"
  *    tag, and the replay check then recognizes the batch as committed.
  *    No crash point between the chunk commit and the offset commit
  *    duplicates data.
  */
object StreamingEncode {

  /** Per-batch committed sidecars live in a SUBDIR of the attempts dir so
    * the reconcile fast path's top-level listing sees ONE extra entry, not
    * one per committed batch — the sidecar set grows with the stream's
    * lifetime, but nothing ever lists it in the steady state: the replay
    * probe checks a single exact path (O(1) on any store) and only the
    * start-time checkpoint-loss guard lists the dir once. */
  private[streaming] def committedDir(outDir: String): String =
    s"${EncodeJob.attemptsDir(outDir)}/committed"

  private def committedMarker(outDir: String, tag: String): String =
    s"${committedDir(outDir)}/$tag"

  /** Start the incremental encoder. With the default AvailableNow trigger
    * the query drains everything currently in `inDir` and stops — the
    * batch-friendly mode; pass ProcessingTime for a long-running tail. */
  def start(spark: SparkSession, inDir: String, outDir: String,
            cfg: EncodeJob.Config = EncodeJob.Config(),
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val pageSchema = Encoders.product[Page].schema
    // Refuse to start if the streaming checkpoint is GONE while the table
    // already carries batch lineage ANYWHERE: a fresh checkpoint renumbers
    // batches from 0, so the replay-skip below would match old "batch-N"
    // rows against NEW data and silently never encode it. Lineage is
    // checked in the manifest AND in attempt markers AND in the chunk
    // table — a first batch that crashed between its chunk commit and its
    // manifest commit has batch-tagged chunks with NO manifest row, and a
    // manifest-only guard would let reconcile rebuild them under
    // "batch-0" and then skip the new batch 0 as a replay. (The
    // legitimate replay case — crash before the offset commit — keeps the
    // checkpoint dir and is handled by the skip.)
    // "checkpoint present" means COMMITTED OFFSETS, not a path: a dir
    // whose contents were cleared (rm -rf ckpt/*, a partial backup
    // restore) renumbers batches from 0 exactly like a missing one, and
    // an existence-only test would skip the guard and let the old
    // committed/batch-0 sidecar swallow the first new batch silently
    val ckptExists =
      TableIO.listDir(spark, s"$outDir/_stream_checkpoint/offsets").nonEmpty
    if (!ckptExists) {
      def batchTagged(c: org.apache.spark.sql.Column) = c.startsWith("batch-")
      val manifestHas =
        TableIO.exists(spark, EncodeJob.manifestDir(outDir)) &&
          !EncodeJob.manifestScan(spark, outDir)
            .filter(batchTagged(org.apache.spark.sql.functions.col("attemptId"))).isEmpty
      val markerHas = TableIO.listDir(spark, EncodeJob.attemptsDir(outDir))
          .exists(n => n.startsWith("begin-batch-") || n.startsWith("chunks-batch-")) ||
        TableIO.listDir(spark, committedDir(outDir))
          .exists(_.startsWith("batch-"))
      val chunksHas = !manifestHas && !markerHas && // cheapest-first short-circuit
        TableIO.exists(spark, EncodeJob.chunksDir(outDir)) &&
        !EncodeJob.chunkMetaScan(spark, outDir)
          .filter(batchTagged(org.apache.spark.sql.functions.col("attemptId"))).isEmpty
      require(!(manifestHas || markerHas || chunksHas),
        s"$outDir has batch-tagged lineage (manifest/markers/chunks) but no streaming " +
          "checkpoint: batch ids would renumber from 0 and new data could be silently " +
          "skipped as replays. Restore the checkpoint or encode into a fresh output dir.")
    }
    // Replays can only be the FIRST re-delivered batch(es) after a query
    // restart: within one query incarnation each batchId runs exactly
    // once. Once a batch is confirmed fresh, every later batch in this
    // incarnation skips the manifest scan — so the steady-state per-batch
    // overhead is the reconcile marker listing alone, not a manifest read
    // that grows with the number of committed batches.
    @volatile var sawFreshBatch = false
    spark.readStream
      .schema(pageSchema)
      .parquet(inDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", s"$outDir/_stream_checkpoint")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val tag = s"batch-$batchId"
        // close the LAST exactly-once window first: a crash between a
        // batch's chunk commit and its manifest commit left complete
        // chunks tagged "batch-N" with no manifest row — reconcile
        // rebuilds those manifest rows under the chunks' own tag, so the
        // replay check below recognizes the batch as committed instead
        // of re-encoding it into duplicates
        EncodeJob.reconcileOrphans(spark, outDir)
        // replay probe, cheapest evidence first: the committed SIDECAR is
        // one exact-path existence check — O(1) however many batches have
        // ever committed. The attemptId-filtered manifest read (parquet
        // stats prune other attempts' row groups) only runs as a FALLBACK
        // for batches committed without a sidecar: a crash inside the
        // run->touch window, or manifest rows rebuilt by reconcile. A hit
        // there repairs the sidecar so the next restart is O(1) again.
        val replayed = !sawFreshBatch && {
          TableIO.exists(spark, committedMarker(outDir, tag)) || {
            val inManifest =
              TableIO.exists(spark, EncodeJob.manifestDir(outDir)) &&
                !EncodeJob.manifestScan(spark, outDir)
                  .filter(org.apache.spark.sql.functions.col("attemptId") === tag)
                  .isEmpty
            if (inManifest) TableIO.touch(spark, committedMarker(outDir, tag))
            inManifest
          }
        }
        if (!replayed) sawFreshBatch = true
        // scalastyle:off println — operational one-liners, mirror PipelineCli
        if (replayed) {
          // this batch already committed its manifest in a previous run of
          // the query (crash before the checkpoint offset commit) — skip
          println(s"""{"op":"stream-encode","batchId":$batchId,"skipped":"already in manifest"}""")
        } else {
          val pages = batch.as[Page](Encoders.product[Page])
          // wholeTableStats=false: the whole-manifest totals aggregation
          // grows with every micro-batch ever committed — a long-lived
          // stream would pay a linearly-growing stats job per batch for
          // a log line. This-batch totals keep the per-batch cost flat.
          val r = EncodeJob.run(spark, pages, outDir,
            cfg.copy(resume = false, attemptId = Some(tag), wholeTableStats = false))
          // manifest is committed once run returns — record the O(1)
          // replay sidecar (a crash before this touch is covered by the
          // probe's manifest fallback)
          TableIO.touch(spark, committedMarker(outDir, tag))
          println(s"""{"op":"stream-encode","batchId":$batchId,"rows":${r.rowsThisRun},""" +
            s""""encBytes":${r.encBytesThisRun},"pids":${r.pidsEncoded}}""")
        }
        ()
      }
      .start()
  }
}
