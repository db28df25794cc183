package graft.model

/** THE definition of the Timestamp <-> epoch-micros conversion used by
  * the encode kernel, the DSv2 pushdown and the benchmark's answer
  * checks. One definition: the codebase once carried four private
  * copies in two equivalent-but-different spellings, and a future
  * edge-case fix (say pre-epoch handling) applied to one copy would
  * silently break encode/decode timestamp agreement. */
object TsMicros {
  /** Exact micros, floor semantics for pre-epoch instants (getTime's
    * millis and getNanos are both already normalized to [0, 1s)). */
  def micros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  /** Inverse; floor (not truncation): for pre-epoch micros a truncating
    * /1000 plus a NEGATIVE setNanos argument throws — the fractional
    * part must always land in [0, 1s). */
  def toTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}

/** Input row shape, exactly BASELINE.json `input_hint`:
  * (url:string, warc_ts:timestamp, html:binary, text:string, lang:string). */
final case class Page(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** One encoded column block within a chunk. */
final case class EncodedColumn(
    name: String,
    codec: String,
    block: Array[Byte],
    rawBytes: Long,
    encBytes: Long,
    flBaselineBytes: Long)

/** The unit of encoded storage: one bounded run of rows of one logical
  * partition (pid), all five columns encoded independently. Spark analog
  * of the reference's per-rank FLCompressed + its 128-aligned concat
  * invariant (/root/reference/src/fl/fl_common.cuh:95-151): chunks are
  * self-contained, ordered by (pid, blockIdx, urlMin), and decode
  * independently with no cross-chunk state.
  *
  * The five encoded columns are TOP-LEVEL struct fields, not an
  * array<struct>: parquet stores each struct field as its own leaf
  * column, so a projected decode of `url` physically reads only the url
  * blocks — with an array layout every column's payload shares one leaf
  * and nothing can be pruned. The engine's own storage obeys the
  * columnar principle it implements. */
final case class EncodedChunk(
    pid: Int,
    blockIdx: Int,
    rows: Long,
    urlMin: String,
    urlMax: String,
    rawBytes: Long,
    encBytes: Long,
    flBaselineBytes: Long,
    encodeNanos: Long,
    textCrc32: Long,
    url: EncodedColumn,
    warc_ts: EncodedColumn,
    html: EncodedColumn,
    text: EncodedColumn,
    lang: EncodedColumn,
    /** Lineage tag of the run that wrote this chunk — the same tag its
      * manifest row carries. Lets a crashed run's orphan chunks (chunks
      * committed, manifest commit lost) be reconciled under their
      * ORIGINAL attempt identity, which is what makes the streaming
      * replay-skip exactly-once (a replayed batch finds its "batch-N"
      * tag even when only the chunks survived). Null when read from a
      * pre-round-3 table; reconcile then substitutes a fresh tag. */
    attemptId: String = null,
    /** (min, max) of the chunk's NON-NULL warc_ts values in epoch
      * micros — the time-range twin of (urlMin, urlMax), consumed by the
      * DSv2 scan for chunk-level and parquet-row-group-level skipping of
      * `warc_ts >=/<=/=` predicates. None when every ts in the chunk is
      * null (a ts-range predicate cannot match such a chunk — SQL null
      * comparison — so readers may prune on it) and null when read from
      * a pre-round-7 table (readers must then treat the range as
      * unknown and keep the chunk). */
    tsMin: Option[Long] = None,
    tsMax: Option[Long] = None) {
  def cols: Seq[EncodedColumn] = Seq(url, warc_ts, html, text, lang)
}

/** Per-partition lineage manifest row (north_rule: resumable with
  * per-partition lineage + metrics). Derived by aggregating the chunk
  * table after a successful write — the manifest describes data that is
  * actually on disk. */
final case class PartitionManifest(
    pid: Int,
    blocks: Long,
    rows: Long,
    urlMin: String,
    urlMax: String,
    rawBytes: Long,
    encBytes: Long,
    flBaselineBytes: Long,
    encodeNanos: Long,
    textCrc32Xor: Long,
    codecs: Map[String, String],
    attemptId: String,
    finishedAtEpochMs: Long)
