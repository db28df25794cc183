package graft.jobs

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.codec.ColumnCodec
import graft.model.{EncodedChunk, Page}

/** Mirror image of EncodeJob: chunks decode independently (the §1.1
  * chunk-independence invariant), so this is a shuffle-free mapPartitions.
  * Decoded columns are bit-identical to the encoder's input — the
  * north_rule invariant, asserted by VerifyJob and the e2e suite.
  *
  * This is the typed FULL decode. Projected and url/warc_ts-range reads
  * go through the DSv2 scan, `spark.read.format("graft").load(outDir)`
  * ([[graft.sources.GraftDataSource]]), which prunes block leaves, chunk
  * files, row groups and chunks before decoding. */
object DecodeJob {

  /** Decoded-text CRC lineage check, shared by [[decodeChunk]] and the
    * DSv2 reader: the decoded text column must reproduce the CRC the
    * encoder recorded for this chunk — corruption fails fast, at the
    * chunk that broke, instead of surfacing later as a verify-join
    * mismatch. */
  private[graft] def requireTextCrc(v: ColumnCodec.BytesView,
                             recorded: Long, pid: Int, blockIdx: Int): Unit = {
    val crc = new java.util.zip.CRC32()
    var k = 0
    while (k < v.n) {
      if (!v.isNull(k)) crc.update(v.payload, v.start(k), v.len(k))
      k += 1
    }
    require(crc.getValue == recorded,
      s"chunk pid=$pid blockIdx=$blockIdx: decoded text CRC ${crc.getValue} " +
        s"!= recorded $recorded (corrupt block?)")
  }

  def run(spark: SparkSession, outDir: String): Dataset[Page] = {
    import spark.implicits._
    EncodeJob.chunkMetaScan(spark, outDir).as[EncodedChunk]
      .mapPartitions(_.flatMap(decodeChunk))
  }

  private def microsToTs(micros: Long): java.sql.Timestamp =
    graft.model.TsMicros.toTs(micros)

  def decodeChunk(chunk: EncodedChunk): Iterator[Page] = {
    // guard EVERY column struct, not just url: a partially-corrupt row
    // (or a writer that populated only some structs) must fail with the
    // pid/blockIdx diagnostic, not an anonymous NPE three lines later
    Seq("url" -> chunk.url, "warc_ts" -> chunk.warc_ts, "html" -> chunk.html,
      "text" -> chunk.text, "lang" -> chunk.lang).foreach { case (name, colBlock) =>
      require(colBlock != null && colBlock.block != null,
        s"chunk pid=${chunk.pid} blockIdx=${chunk.blockIdx} has no '$name' column " +
          "block — written by a pre-columnar-layout encoder? Re-encode the table.")
    }
    // view decode: Strings are built straight from the shared payload
    // buffers (one copy inside the String) instead of materializing an
    // Array[Byte] per value first; only html (a genuine binary column)
    // pays a per-row copy
    val urls = ColumnCodec.decodeBytesView(chunk.url.block)
    val (tsMicros, tsNulls) = ColumnCodec.decodeLongs(chunk.warc_ts.block)
    val htmls = ColumnCodec.decodeBytesView(chunk.html.block)
    val texts = ColumnCodec.decodeBytesView(chunk.text.block)
    val langs = ColumnCodec.decodeBytesView(chunk.lang.block)
    requireTextCrc(texts, chunk.textCrc32, chunk.pid, chunk.blockIdx)
    require(chunk.rows >= 0L && chunk.rows <= Int.MaxValue,
      s"chunk pid=${chunk.pid} blockIdx=${chunk.blockIdx} claims ${chunk.rows} rows — corrupt metadata")
    val n = chunk.rows.toInt
    Iterator.tabulate(n) { i =>
      val ts = if (tsNulls != null && tsNulls(i)) null else microsToTs(tsMicros(i))
      Page(urls.stringAt(i), ts, htmls.copyAt(i), texts.stringAt(i), langs.stringAt(i))
    }
  }
}
