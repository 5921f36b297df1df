package graft.sources

import graft.SparkSpec

/** Small-files compaction: many tiny files in, few right-sized files out,
  * content bit-identical. */
class CompactionSpec extends SparkSpec {

  import spark.implicits._

  test("compactParquet collapses a fragmented directory without changing rows") {
    withTempDir("graft-compact") { base =>
      val dir = s"$base/t"
      // 64 tiny files (one per partition)
      spark.range(0, 10000).select($"id", ($"id" * 7 % 1000).as("v"))
        .repartition(64).write.parquet(dir)
      val before = spark.read.parquet(dir).as[(Long, Long)].collect().sorted.toSeq
      val report = Ingest.compactParquet(spark, dir, targetBytes = 1L << 20)
      assert(report.filesBefore === 64)
      assert(report.filesAfter < report.filesBefore)
      assert(report.filesAfter === math.max(1,
        ((report.bytesBefore + (1L << 20) - 1) / (1L << 20)).toInt))
      val after = spark.read.parquet(dir).as[(Long, Long)].collect().sorted.toSeq
      assert(after === before)
      // no temp/backup residue
      val parent = new java.io.File(dir).getParentFile.listFiles().map(_.getName)
      assert(!parent.exists(n => n.contains("_compact_tmp") || n.contains("_compact_bak")))
    }
  }

  test("compactParquet with shuffle=true rebalances skewed inputs") {
    withTempDir("graft-compact") { base =>
      val dir = s"$base/t"
      // skew: one big partition, many empty-ish ones
      spark.range(0, 20000).select($"id")
        .repartitionByRange(16, ($"id" < 19000).cast("int"))
        .write.parquet(dir)
      val before = spark.read.parquet(dir).as[Long].collect().sorted.toSeq
      val report = Ingest.compactParquet(spark, dir, targetBytes = 32L << 10, shuffle = true)
      assert(report.filesAfter >= 2, s"expected multiple balanced files, got $report")
      val after = spark.read.parquet(dir).as[Long].collect().sorted.toSeq
      assert(after === before)
    }
  }
}
