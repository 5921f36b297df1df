package graft.sources

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

/** The timestamp-unit normalization boundary (Tables.eventsTsNanosFactor).
  *
  * The driver regenerated the corpus mid-round-8 switching `events.ts`
  * from TIMESTAMP(NANOS) to TIMESTAMP(MICROS) — a silent 1000× skew that
  * cost 14 gates before the source boundary caught it. The round-8 fix
  * sniffed the unit via Spark's inferred type, which can only distinguish
  * NANOS from not-NANOS; a MILLIS corpus would have scaled 1000× off the
  * other way. These fixtures pin the generalized footer-based sniff: one
  * constructed parquet per unit (NANOS / MICROS / MILLIS annotations plus
  * raw unannotated INT64), all normalizing to the SAME nanos value
  * through `Tables.load`, with the undecidable and refuse-to-guess edges
  * asserted explicitly (ADVICE r8: missing-dir must stay distinguishable
  * from a genuinely broken footer).
  */
class TsUnitSniffSpec extends SparkSpec {

  // one instant, expressed in each unit: 2023-11-14T22:13:20Z
  private val tsNanos = 1700000000000000000L

  /** Write a one-row events.parquet whose ts column carries `annotation`
    * (None = raw INT64) under `dir`, with the full 6-column layout that
    * Tables.events declares.
    */
  private def writeFixture(
      dir: java.nio.file.Path,
      annotation: Option[LogicalTypeAnnotation],
      tsValue: Long): Unit = {
    val tsField = annotation match {
      case Some(a) => Types.required(INT64).as(a).named("ts")
      case None    => Types.required(INT64).named("ts")
    }
    val schema: MessageType = Types.buildMessage()
      .addField(Types.required(INT64).named("event_id"))
      .addField(tsField)
      .addField(Types.required(INT64).named("user_id"))
      .addField(Types.required(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("event_type"))
      .addField(Types.required(DOUBLE).named("value"))
      .addField(Types.required(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("props"))
      .named("events")
    val conf = new Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val out = dir.resolve("events.parquet").resolve("part-00000.parquet")
    java.nio.file.Files.createDirectories(out.getParent)
    val writer = ExampleParquetWriter.builder(new Path(out.toString))
      .withConf(conf).withType(schema).build()
    try {
      val g = new SimpleGroup(schema)
      g.add("event_id", 1L)
      g.add("ts", tsValue)
      g.add("user_id", 7L)
      g.add("event_type", "view")
      g.add("value", 1.5)
      g.add("props", "{}")
      writer.write(g)
    } finally writer.close()
  }

  private def tmp(): java.nio.file.Path =
    java.nio.file.Paths.get(suiteTempDir("graft-tsunit"))

  private def tsAnn(unit: TimeUnit): LogicalTypeAnnotation =
    LogicalTypeAnnotation.timestampType(true, unit)

  test("footer sniff: NANOS / MICROS / MILLIS / raw INT64 all normalize to the same nanos") {
    val cases = Seq(
      ("nanos", Some(tsAnn(TimeUnit.NANOS)), tsNanos, 1L),
      ("micros", Some(tsAnn(TimeUnit.MICROS)), tsNanos / 1000L, 1000L),
      ("millis", Some(tsAnn(TimeUnit.MILLIS)), tsNanos / 1000000L, 1000000L),
      ("raw", None, tsNanos, 1L))
    for ((label, ann, raw, want) <- cases) {
      val dir = tmp()
      writeFixture(dir, ann, raw)
      val path = s"$dir/events.parquet"
      assert(Tables.eventsTsNanosFactorIfDecidable(spark, path) === Some(want),
        s"factor for $label fixture")
      val got = Tables.load(spark, dir.toString, "events")
        .select("ts").collect().map(_.getLong(0)).toSeq
      assert(got === Seq(tsNanos), s"normalized ts for $label fixture")
    }
  }

  test("missing directory and empty directory are undecidable (None), not errors") {
    val dir = tmp()
    assert(Tables.eventsTsNanosFactorIfDecidable(
      spark, s"$dir/events.parquet") === None)
    // empty dir: deploy-before-data — a stream's landing dir exists but
    // no file has arrived yet
    val landing = dir.resolve("events.parquet")
    java.nio.file.Files.createDirectories(landing)
    assert(Tables.eventsTsNanosFactorIfDecidable(
      spark, landing.toString) === None)
    // hidden/marker files alone still undecidable
    java.nio.file.Files.write(landing.resolve("_SUCCESS"), Array.empty[Byte])
    assert(Tables.eventsTsNanosFactorIfDecidable(
      spark, landing.toString) === None)
  }

  test("a ts column the normalization can't place THROWS instead of guessing") {
    // INT32 ts: physically impossible to be any of the known timestamp units
    val dir = tmp()
    val schema: MessageType = Types.buildMessage()
      .addField(Types.required(INT32).named("ts"))
      .named("events")
    val conf = new Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val out = dir.resolve("events.parquet").resolve("part-00000.parquet")
    java.nio.file.Files.createDirectories(out.getParent)
    val writer = ExampleParquetWriter.builder(new Path(out.toString))
      .withConf(conf).withType(schema).build()
    try {
      val g = new SimpleGroup(schema)
      g.add("ts", 42)
      writer.write(g)
    } finally writer.close()
    val e = intercept[IllegalArgumentException] {
      Tables.eventsTsNanosFactorIfDecidable(spark, s"$dir/events.parquet")
    }
    assert(e.getMessage.contains("INT64"))
    // and a file with no ts column at all
    val dir2 = tmp()
    val schema2: MessageType = Types.buildMessage()
      .addField(Types.required(INT64).named("not_ts"))
      .named("events")
    val conf2 = new Configuration()
    GroupWriteSupport.setSchema(schema2, conf2)
    val out2 = dir2.resolve("events.parquet").resolve("part-00000.parquet")
    java.nio.file.Files.createDirectories(out2.getParent)
    val w2 = ExampleParquetWriter.builder(new Path(out2.toString))
      .withConf(conf2).withType(schema2).build()
    try {
      val g = new SimpleGroup(schema2)
      g.add("not_ts", 42L)
      w2.write(g)
    } finally w2.close()
    val e2 = intercept[IllegalArgumentException] {
      Tables.eventsTsNanosFactorIfDecidable(spark, s"$dir2/events.parquet")
    }
    assert(e2.getMessage.contains("refusing to guess"))
  }

  test("the real corpus directory decides, and the factor is cached per path") {
    val path = sf("sf0.001") + "/events.parquet"
    val f1 = Tables.eventsTsNanosFactorIfDecidable(spark, path)
    assert(f1.nonEmpty, "driver corpus must have a decidable ts unit")
    assert(Tables.eventsTsNanosFactorIfDecidable(spark, path) === f1)
  }
}
