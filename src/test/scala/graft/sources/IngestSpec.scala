package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.types._

/** Source/sink family (SURVEY.md §2.1): round-trip each reader/writer
  * through a temp dir, plus the inference-vs-declared-schema contrast and
  * the pre-indexing cleanup.
  */
class IngestSpec extends SparkSpec {

  import spark.implicits._

  private lazy val tmp = suiteTempDir("graft-ingest")

  private val csvSchema = StructType(Seq(
    StructField("date", StringType),
    StructField("tavg", DoubleType),
    StructField("prcp", DoubleType)))

  test("csv with declared schema keeps date a string; inference drifts it") {
    val p = s"$tmp/weather.csv"
    Files.writeString(java.nio.file.Paths.get(p),
      "date,tavg,prcp\n2022-03-20,24.1,0.0\n2022-03-21,23.0,\n")
    val declared = Ingest.csv(spark, p, csvSchema)
    assert(declared.schema("date").dataType === StringType)
    assert(declared.count() === 2)
    // compat mode: inference turns date into DateType — exactly the drift
    // that would silently empty the (city,country,date) join (SURVEY.md §7.4)
    val inferred = Ingest.csvInferred(spark, p)
    assert(inferred.schema("date").dataType === DateType)
  }

  test("parquet write → declared-schema read round-trips, partitioned layout works") {
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "a", 3.5))
      .toDF("id", "k", "v")
    Ingest.writeParquet(df, s"$tmp/part", partitionBy = Seq("k"))
    val back = spark.read.parquet(s"$tmp/part")
    assert(back.count() === 3)
    assert(back.select("k").distinct().count() === 2)
    // single-file variant (the reference's coalesce(1) contract)
    Ingest.writeParquetSingleFile(df, s"$tmp/single")
    val files = new java.io.File(s"$tmp/single").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files === 1)
  }

  test("csvToParquet converts a landed CSV into the formatted zone") {
    val p = s"$tmp/w2.csv"
    Files.writeString(java.nio.file.Paths.get(p),
      "date,tavg,prcp\n2022-03-20,24.1,0.0\n")
    Ingest.csvToParquet(spark, p, s"$tmp/w2.parquet", csvSchema)
    assert(spark.read.parquet(s"$tmp/w2.parquet").count() === 1)
  }

  test("writeJsonDocs emits one JSON document per row (ES bulk stand-in)") {
    Ingest.writeJsonDocs(Seq((1L, "x")).toDF("id", "name"), s"$tmp/docs")
    val lines = spark.read.textFile(s"$tmp/docs").collect()
    assert(lines.length === 1)
    assert(lines(0).contains("\"id\":1") && lines(0).contains("\"name\":\"x\""))
  }

  test("prepareForIndexing zero-fills numeric nulls and drops columns (P8/P9)") {
    val df = Seq((1L, Some(2.5), "keep"), (2L, None, "keep"))
      .toDF("id", "v", "extra")
    val out = Ingest.prepareForIndexing(df, "extra")
    assert(out.columns.toSeq === Seq("id", "v"))
    assert(out.filter($"id" === 2).select("v").as[Double].head() === 0.0)
  }

  test("jsonWithQuarantine separates malformed rows instead of failing") {
    val p = s"$tmp/docs.jsonl"
    Files.writeString(java.nio.file.Paths.get(p),
      """{"id": 1, "name": "ok"}
        |{"id": broken!!
        |{"id": 2, "name": "also ok"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val read = Ingest.jsonWithQuarantine(spark, p, schema)
    try {
      assert(read.good.count() === 2)
      assert(read.good.columns.toSeq === Seq("id", "name"))
      assert(read.corrupt.count() === 1)
      assert(read.corrupt.head().getString(0).contains("broken"))
    } finally read.release()
    // schemas that already carry the corrupt column are rejected loudly
    intercept[IllegalArgumentException] {
      Ingest.jsonWithQuarantine(spark, p, StructType(Seq(
        StructField("_corrupt_record", StringType))))
    }
  }

  test("registerAll exposes every table to spark.sql (S9 surface)") {
    Tables.registerAll(spark, sf("sf0.001"))
    val n = spark.sql(
      "SELECT count(*) AS n FROM orders JOIN customer ON o_custkey = c_custkey")
      .as[Long].head()
    assert(n > 0)
    assert(spark.sql("SELECT doc_id FROM documents LIMIT 1").count() === 1)
  }

  test("fromRows builds a typed Dataset with the Encoder's schema") {
    val ds = Ingest.fromRows(spark, Seq(graft.streaming.EventsStream.Event(
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click", 1.0)))
    assert(ds.schema.fieldNames.toSeq === Seq("ts", "user_id", "event_type", "value"))
    assert(ds.count() === 1)
  }

  test("bulkIndex batches per partition and accounts every document") {
    IngestSpec.reset()
    val df = (1L to 23L).map(i => (i, s"doc$i")).toDF("id", "name").coalesce(1)
    val report = Ingest.bulkIndex(df, batchSize = 5)(IngestSpec.recordingPost)
    assert(report === Ingest.IndexReport(23, 5, 0, 0, 0))
    import scala.jdk.CollectionConverters._
    val sizes = IngestSpec.posted.asScala.toSeq.sorted
    assert(sizes === Seq(3, 5, 5, 5, 5), "batch shape: four full chunks + tail")
  }

  test("bulkIndex retries transient failures and still indexes everything") {
    IngestSpec.reset()
    val df = (1L to 12L).map(i => (i, s"doc$i")).toDF("id", "name").coalesce(1)
    val report = Ingest.bulkIndex(df, batchSize = 5, maxAttempts = 3)(
      IngestSpec.failFirstAttemptPost)
    // 3 batches, each failing once before succeeding
    assert(report === Ingest.IndexReport(12, 3, 3, 0, 0))
  }

  test("bulkIndex quarantines a batch that exhausts its attempts") {
    IngestSpec.reset()
    val df = (1L to 10L).map(i => (i, if (i == 7) "poison" else s"doc$i"))
      .toDF("id", "name").coalesce(1)
    val report = Ingest.bulkIndex(df, batchSize = 5, maxAttempts = 2)(
      IngestSpec.poisonPost)
    // the poison batch retries once (maxAttempts=2) then fails; the other
    // batch of 5 lands
    assert(report === Ingest.IndexReport(5, 1, 1, 1, 5))
  }

  test("orc_roundtrip preserves values through the ORC sink/source, pruned scan") {
    import spark.implicits._
    val dir = sf("sf0.001")
    val df = Ingest.orcRoundtrip.run(spark, dir)
    // fidelity: the ORC-read aggregate equals the same aggregate straight
    // off the parquet table
    val fromParquet = graft.sources.Tables.load(spark, dir, "part")
      .groupBy($"p_brand")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_parts"),
        org.apache.spark.sql.functions.sum($"p_retailprice".cast("decimal(18,2)"))
          .cast("double").as("retail"))
      .orderBy($"p_brand")
      .as[(String, Long, Double)].collect().toSeq
    assert(df.as[(String, Long, Double)].collect().toSeq === fromParquet)
    assert(fromParquet.nonEmpty)
    // the ORC scan must prune to the 2 referenced columns, same catalyst
    // treatment as parquet
    val read = df.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("p_brand") && read.contains("p_retailprice") &&
      !read.contains("p_name"), read)
  }

  test("releaseSession KEEPS the on-disk ORC fixture: corpus-owned, session-independent") {
    // the round-15 inversion of the old per-session-deletion contract:
    // fixtures live in the content-stamped FixtureStore, owned by the
    // corpus version — a session ending must NOT destroy what the next
    // session exists to reuse (staleness is handled by the stamp, not by
    // teardown)
    val dir = sf("sf0.001")
    val out = Ingest.orcPartCopy(spark, dir)
    val fixtureDir = new java.io.File(out).getParentFile
    assert(fixtureDir.exists(), s"fixture should exist after build: $fixtureDir")
    Ingest.releaseSession(spark)
    assert(fixtureDir.exists(),
      s"fixture dir must SURVIVE release for cross-session reuse: $fixtureDir")
    // and the next consumer serves the same path without a rebuild
    assert(Ingest.orcPartCopy(spark, dir) === out)
  }

  test("releaseSession keeps the racezone fixture dir with the same contract") {
    val dir = sf("sf0.001")
    val out = Ingest.raceZoneFixture(spark, dir)
    val fixtureDir = new java.io.File(out).getParentFile
    assert(fixtureDir.exists())
    Ingest.releaseSession(spark)
    assert(fixtureDir.exists(),
      s"racezone fixture must survive release: $fixtureDir")
    assert(Ingest.raceZoneFixture(spark, dir) === out)
  }
}

/** Shared state for the bulkIndex specs: the injected post fn executes on
  * executor threads (same JVM in local mode), so static concurrent
  * collections observe its behavior.
  */
object IngestSpec {
  val posted = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  private val attempts = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def reset(): Unit = { posted.clear(); attempts.clear() }

  val recordingPost: Seq[String] => Unit = batch => posted.add(batch.size)

  val failFirstAttemptPost: Seq[String] => Unit = batch =>
    if (attempts.add(batch.mkString("|")))
      throw new RuntimeException("transient: first attempt fails")

  val poisonPost: Seq[String] => Unit = batch =>
    if (batch.exists(_.contains("poison")))
      throw new RuntimeException("permanent: poison document")
}
