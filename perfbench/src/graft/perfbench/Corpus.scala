package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}

import graft.model.{Page, TsMicros}
import graft.sources.WebtextGen

/** The inputs of one run, all pure functions of the seed: the table corpus
  * (ids [0, docs)) and the stream batches (ids [docs, docs + batches *
  * batchDocs)). The in-memory index is the oracle the read checks use. */
final class Corpus(val seed: Long, val docs: Int, val skewShare: Double,
                   val batches: Int, val batchDocs: Int) {
  val hosts = 100
  /** Every url of the hot host h0 sorts inside [HotLo, HotHi). */
  val HotLo = "https://h0.example.org/"
  val HotHi = "https://h0.example.org0"

  def page(id: Long): Page = WebtextGen.page(seed, id, hosts, skewShare)

  /** Table urls in UTF-8 byte order (the urls are ASCII, so String order
    * agrees; each embeds its doc id, so they are unique), the sorted
    * warc_ts micros, and the UTF-8 bytes of the url, lang and text
    * columns. */
  val (sortedUrls, sortedTs, urlBytes, langBytes, textBytes) = {
    val urls = new Array[String](docs)
    val ts = new Array[Long](docs)
    var (u, l, t) = (0L, 0L, 0L)
    (0 until docs).foreach { i =>
      val p = page(i.toLong)
      urls(i) = p.url
      ts(i) = TsMicros.micros(p.warc_ts)
      u += p.url.getBytes(UTF_8).length
      l += p.lang.getBytes(UTF_8).length
      t += p.text.getBytes(UTF_8).length
    }
    java.util.Arrays.sort(urls.asInstanceOf[Array[AnyRef]])
    java.util.Arrays.sort(ts)
    (urls, ts, u, l, t)
  }

  /** Hot-host docs committed once batches 0..i are in. */
  val hotAfterBatch: Array[Long] = {
    val perBatch = Array.tabulate(batches) { b =>
      (0 until batchDocs).count(k => isHot(page(docs.toLong + b.toLong * batchDocs + k).url)).toLong
    }
    perBatch.scanLeft(0L)(_ + _).tail
  }

  def isHot(url: String): Boolean = url >= HotLo && url < HotHi

  /** Rows with warc_ts in [lo, hi]. */
  def tsCount(lo: Long, hi: Long): Long = {
    def lowerBound(v: Long): Int = {
      var a = 0
      var b = sortedTs.length
      while (a < b) { val m = (a + b) >>> 1; if (sortedTs(m) < v) a = m + 1 else b = m }
      a
    }
    (lowerBound(hi + 1) - lowerBound(lo)).toLong
  }

  /** Writes the table corpus and the per-batch stream inputs as parquet. */
  def write(spark: SparkSession, tableIn: String, streamIn: String, files: Int): Unit = {
    import spark.implicits._
    WebtextGen.pages(spark, docs.toLong, seed, hosts, skewShare, files)
      .write.mode(SaveMode.Overwrite).parquet(tableIn)
    val (s, k, first, per) = (seed, skewShare, docs.toLong, batchDocs.toLong)
    val h = hosts
    spark.range(first, first + batches * per, 1L, files).as[Long]
      .map { id =>
        val p = WebtextGen.page(s, id, h, k)
        (((id - first) / per).toInt, p.url, p.warc_ts, p.html, p.text, p.lang)
      }
      .toDF("batch", "url", "warc_ts", "html", "text", "lang")
      .write.mode(SaveMode.Overwrite).partitionBy("batch").parquet(streamIn)
  }

  def table(spark: SparkSession, tableIn: String): Dataset[Page] = {
    import spark.implicits._
    spark.read.parquet(tableIn).as[Page]
  }

  def batch(spark: SparkSession, streamIn: String, i: Int): Dataset[Page] = {
    import spark.implicits._
    spark.read.parquet(s"$streamIn/batch=$i").as[Page]
  }
}
