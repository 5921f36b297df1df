package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Mixed-era parquet directories read back as one conformed schema. */
class SchemaEvolutionSpec extends SparkSpec {

  import spark.implicits._

  test("readEvolved conforms v1+v2 files to the declared schema with defaults") {
    withTempDir("graft-evolve") { base =>
      val dir = s"$base/t"
      // era 1: (id, v) — no quality column yet; v written as float
      Seq((1L, 10.0f), (2L, 20.0f)).toDF("id", "v")
        .write.parquet(dir)
      // era 2: adds the quality column (additive evolution — the kind
      // parquet footer merging supports; type CONFLICTS are not mergeable
      // and rightly fail loudly)
      Seq((3L, 30.5f, 0.9), (4L, 40.5f, 0.8)).toDF("id", "v", "quality")
        .write.mode("append").parquet(dir)

      // declared target widens v float→double: conformance casts cover the
      // compatible-widening case even though the files agree among themselves
      val target = StructType(Seq(
        StructField("id", LongType),
        StructField("v", DoubleType),
        StructField("quality", DoubleType)))
      val got = Ingest.readEvolved(spark, dir, target,
          defaults = Map("quality" -> 1.0))
        .orderBy("id").as[(Long, Double, Double)].collect().toSeq
      assert(got === Seq((1L, 10.0, 1.0), (2L, 20.0, 1.0),
        (3L, 30.5, 0.9), (4L, 40.5, 0.8)))
      // (30.5f/40.5f are exactly representable, so the float→double
      // widening cast is value-exact here)
    }
  }

  test("readEvolved keeps pushdown and pruning through the merged scan") {
    withTempDir("graft-evolve") { base =>
      val dir = s"$base/t"
      Seq((1L, 10.0)).toDF("id", "v").write.parquet(dir)
      Seq((2L, 20.0, 0.5)).toDF("id", "v", "quality")
        .write.mode("append").parquet(dir)
      val target = StructType(Seq(
        StructField("id", LongType), StructField("v", DoubleType),
        StructField("quality", DoubleType)))
      val q = Ingest.readEvolved(spark, dir, target)
        .filter(col("id") > 1L).select(col("id"), col("v"))
      assert(q.as[(Long, Double)].collect().toSeq === Seq((2L, 20.0)))
      val formatted = q.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(formatted.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1)]"),
        s"filter must reach the merged scan:\n$formatted")
      assert(formatted.matches("(?s).*ReadSchema: struct<id:bigint,v:double>.*"),
        s"unreferenced quality column must be pruned:\n$formatted")
    }
  }

  test("schema_evolution fixture: era-A files genuinely lack the late columns") {
    val sfDir = sf("sf0.001")
    val out = Ingest.evolvedPartCopy(spark, sfDir)
    // read the raw directory with mergeSchema but WITHOUT the conform:
    // pre-evolution (even-key) rows must surface the late columns as NULL
    // — proving the fixture writes files missing the columns, not files
    // carrying the defaults (which would make the gated query vacuous)
    val raw = spark.read.option("mergeSchema", true).parquet(out)
    import org.apache.spark.sql.functions.col
    val eraA = raw.filter(col("p_partkey") % 2 === 0)
    assert(eraA.count() > 0)
    assert(eraA.filter(col("p_brand").isNotNull).count() === 0,
      "era-A rows must have NO brand on disk")
    val eraB = raw.filter(col("p_partkey") % 2 === 1)
    assert(eraB.filter(col("p_brand").isNull).count() === 0,
      "era-B rows must all carry their real brand")
  }
}
