package graft.jobs

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.Page

/** Mirror image of EncodeJob: the typed full decode of an encode dir.
  * Decoded columns are bit-identical to the encoder's input — the
  * north_rule invariant, asserted by VerifyJob and the e2e suite.
  *
  * The decode itself is the DSv2 scan,
  * `spark.read.format("graft").load(outDir)`
  * ([[graft.sources.GraftDataSource]]) — the engine's one decode kernel
  * for full, projected and url/warc_ts-range reads. Chunks decode
  * independently (the §1.1 chunk-independence invariant), one task per
  * chunk file, and rows reach Spark as InternalRows built straight off
  * the decoded block views; `.as[Page]` only types the relation, so a
  * sink that stays in Catalyst (noop, parquet, VerifyJob's hashes) never
  * builds a Page object. */
object DecodeJob {

  def run(spark: SparkSession, outDir: String): Dataset[Page] = {
    import spark.implicits._
    spark.read.format("graft").load(outDir).as[Page]
  }
}
