package graft.jobs

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.sources.{TableIO, WebtextGen}

/** The `stats` verb's manifest read: the manifest is parquet the engine
  * writes itself, whatever `spark.graft.table.format` says, and a table
  * whose manifest is missing or holds no committed file has zero rows. */
class PipelineCliSpec extends AnyFunSuite with SparkFixture {

  private def pidRows(outDir: String): Seq[(Int, Long)] = {
    import spark.implicits._
    PipelineCli.manifestRows(spark, outDir).select($"pid", $"rows").as[(Int, Long)]
      .collect().sortBy(_._1).toSeq
  }

  test("stats reads the parquet manifest when the configured table format is orc") {
    val encoded = tmpDir("graft-stats-orc")
    EncodeJob.run(spark, WebtextGen.pages(spark, 200L, seed = 7L, partitions = 2), encoded,
      EncodeJob.Config(numPartitions = 2))
    spark.conf.set(TableIO.FormatKey, "orc")
    val underOrc = try pidRows(encoded) finally spark.conf.unset(TableIO.FormatKey)
    assert(underOrc.map(_._1) == Seq(0, 1) && underOrc.map(_._2).sum == 200L, s"$underOrc")
  }

  test("stats reads a manifest dir holding only a crashed write's hidden temp as zero rows") {
    val crashed = tmpDir("graft-stats-crashed")
    val manifest = java.nio.file.Paths.get(EncodeJob.manifestDir(crashed))
    java.nio.file.Files.createDirectories(manifest)
    java.nio.file.Files.write(manifest.resolve(".part-00000.parquet.tmp"), Array[Byte](1, 2, 3))
    assert(pidRows(crashed).isEmpty)
  }

  test("stats reads an empty encode's missing manifest as zero rows; a missing table is a named error") {
    import spark.implicits._
    val empty = tmpDir("graft-stats-empty")
    EncodeJob.run(spark, spark.emptyDataset[graft.model.Page], empty,
      EncodeJob.Config(numPartitions = 2))
    assert(!TableIO.exists(spark, EncodeJob.manifestDir(empty)))
    assert(pidRows(empty).isEmpty)

    val missing = s"$empty/no-such-table"
    val err = intercept[java.io.FileNotFoundException](PipelineCli.manifestRows(spark, missing))
    assert(err.getMessage.contains(missing), err.getMessage)
  }
}
