package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.streaming.OutputMode

class UpsertSinkSpec extends SparkSpec {

  import spark.implicits._

  private def table(dir: String) =
    UpsertSink.currentTable(spark, dir).get
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq

  test("upsertBatch: insert, keyed replace, in-batch latest-wins, replay no-op") {
    withTempDir("graft-upsert") { dir =>
      // batch 0: two keys; key 2 arrives twice — seq 5 must win
      UpsertSink.upsertBatch(
        Seq((1L, 1L, "a1"), (2L, 1L, "b1"), (2L, 5L, "b5"))
          .toDF("k", "seq", "v"),
        0L, dir, "k", "seq")
      assert(table(dir) === Seq((1L, 1L, "a1"), (2L, 5L, "b5")))
      assert(UpsertSink.committedBatch(spark, dir) === 0L)
      // batch 1: update key 1, insert key 3; key 2 untouched
      UpsertSink.upsertBatch(
        Seq((1L, 7L, "a7"), (3L, 2L, "c2")).toDF("k", "seq", "v"),
        1L, dir, "k", "seq")
      assert(table(dir) === Seq((1L, 7L, "a7"), (2L, 5L, "b5"), (3L, 2L, "c2")))
      // REPLAY of batch 1 with different (stale) content: marker says
      // committed → must be skipped entirely
      UpsertSink.upsertBatch(
        Seq((1L, 1L, "stale")).toDF("k", "seq", "v"), 1L, dir, "k", "seq")
      assert(table(dir) === Seq((1L, 7L, "a7"), (2L, 5L, "b5"), (3L, 2L, "c2")))
      assert(UpsertSink.committedBatch(spark, dir) === 1L)
    }
  }

  test("upsertBatch converges when the marker write crashed: re-apply is harmless") {
    withTempDir("graft-upsert2") { dir =>
      val b = Seq((1L, 1L, "x"), (2L, 2L, "y")).toDF("k", "seq", "v")
      UpsertSink.upsertBatch(b, 0L, dir, "k", "seq")
      // simulate the crash window: data swapped but marker lost
      val f = new org.apache.hadoop.fs.Path(dir, "_committed_batch")
      f.getFileSystem(spark.sessionState.newHadoopConf()).delete(f, false)
      assert(UpsertSink.committedBatch(spark, dir) === -1L)
      // replay applies the same rows again — keyed replacement reproduces
      // the identical table and restores the marker
      UpsertSink.upsertBatch(b, 0L, dir, "k", "seq")
      assert(table(dir) === Seq((1L, 1L, "x"), (2L, 2L, "y")))
      assert(UpsertSink.committedBatch(spark, dir) === 0L)
    }
  }

  test("crash between the swap renames: replay restores .old-* and keeps prior state") {
    withTempDir("graft-upsert4") { dir =>
      UpsertSink.upsertBatch(
        Seq((1L, 1L, "keep"), (2L, 1L, "old")).toDF("k", "seq", "v"),
        0L, dir, "k", "seq")
      // simulate the exact loss window: batch 1 crashed after rename(data→old)
      // but before rename(tmp→data) AND before the marker write
      val conf = spark.sessionState.newHadoopConf()
      val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
      assert(f.rename(
        new org.apache.hadoop.fs.Path(dir, "data"),
        new org.apache.hadoop.fs.Path(dir, ".old-1")))
      // replay of batch 1: must merge against the RESTORED table, not start empty
      UpsertSink.upsertBatch(
        Seq((2L, 2L, "new"), (3L, 1L, "ins")).toDF("k", "seq", "v"),
        1L, dir, "k", "seq")
      assert(table(dir) === Seq((1L, 1L, "keep"), (2L, 2L, "new"), (3L, 1L, "ins")))
      assert(UpsertSink.committedBatch(spark, dir) === 1L)
      assert(f.globStatus(new org.apache.hadoop.fs.Path(dir, ".old-*")).isEmpty)
    }
  }

  test("truncated marker reads as -1 and the sink recovers instead of wedging") {
    withTempDir("graft-upsert5") { dir =>
      val b = Seq((1L, 1L, "x")).toDF("k", "seq", "v")
      UpsertSink.upsertBatch(b, 0L, dir, "k", "seq")
      // crash mid-marker-write: empty file where the batchId should be
      val conf = spark.sessionState.newHadoopConf()
      val marker = new org.apache.hadoop.fs.Path(dir, "_committed_batch")
      val f = marker.getFileSystem(conf)
      f.create(marker, true).close()
      assert(UpsertSink.committedBatch(spark, dir) === -1L)
      UpsertSink.upsertBatch(b, 0L, dir, "k", "seq") // idempotent re-apply
      assert(table(dir) === Seq((1L, 1L, "x")))
      assert(UpsertSink.committedBatch(spark, dir) === 0L)
    }
  }

  test("every crash point in the swap protocol converges on replay") {
    // protocol: write .tmp-N → clear stale .old-* → rename(data → .old-N)
    // → rename(.tmp-N → data) → delete .old-N → publish marker. For each
    // intermediate on-disk state a crash can leave, hand-construct it,
    // replay the batch, and demand the exact merged table + marker.
    val conf = spark.sessionState.newHadoopConf()
    def P(dir: String, n: String) = new org.apache.hadoop.fs.Path(dir, n)
    val batch0 = Seq((1L, 1L, "base"), (2L, 1L, "old")).toDF("k", "seq", "v")
    val batch1 = Seq((2L, 2L, "new"), (3L, 1L, "ins")).toDF("k", "seq", "v")
    val expect = Seq((1L, 1L, "base"), (2L, 2L, "new"), (3L, 1L, "ins"))
    // crash states: what exists besides the committed batch-0 table
    //  tmpOnly   — crashed after writing .tmp-1
    //  published — crashed after rename(.tmp-1→data): data = merged,
    //              .old-1 still present, marker still 0
    //  oldGone   — crashed after delete(.old-1), marker still 0
    val states = Seq("tmpOnly", "published", "oldGone")
    states.foreach { state =>
      withTempDir(s"graft-upsert-$state") { dir =>
        val f = P(dir, "x").getFileSystem(conf)
        UpsertSink.upsertBatch(batch0, 0L, dir, "k", "seq")
        state match {
          case "tmpOnly" =>
            // a half-written tmp from the crashed attempt: stale garbage
            batch1.limit(1).write.parquet(P(dir, ".tmp-1").toString)
          case "published" | "oldGone" =>
            // drive the real protocol to the publish point by hand
            val merged = UpsertSink.currentTable(spark, dir).get
              .join(batch1, Seq("k"), "left_anti").unionByName(batch1)
            merged.write.parquet(P(dir, ".tmp-1").toString)
            assert(f.rename(P(dir, "data"), P(dir, ".old-1")))
            assert(f.rename(P(dir, ".tmp-1"), P(dir, "data")))
            if (state == "oldGone") f.delete(P(dir, ".old-1"), true)
          case other => fail(s"unknown state $other")
        }
        // replay batch 1 (marker still says 0 in every state)
        UpsertSink.upsertBatch(batch1, 1L, dir, "k", "seq")
        assert(table(dir) === expect, s"state '$state' must converge")
        assert(UpsertSink.committedBatch(spark, dir) === 1L, state)
        assert(f.globStatus(P(dir, ".old-*")).isEmpty, state)
      }
    }
  }

  test("foreachBatch + checkpoint restart maintains the table exactly-once") {
    withTempDir("graft-upsert3") { tmp =>
      val landing = s"$tmp/landing"; val tableDir = s"$tmp/table"
      val ck = s"$tmp/ck"
      def land(rows: Seq[(Long, Long, String)]): Unit =
        rows.toDF("k", "seq", "v").write.mode("append").parquet(landing)
      def start() = spark.readStream
        .schema("k BIGINT, seq BIGINT, v STRING").parquet(landing)
        .writeStream
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", ck)
        .foreachBatch(UpsertSink.sink(tableDir, "k", "seq"))
        .start()
      land(Seq((1L, 1L, "one"), (2L, 1L, "two")))
      val q1 = start()
      try {
        q1.processAllAvailable()
        land(Seq((2L, 2L, "two v2"), (3L, 1L, "three")))
        q1.processAllAvailable()
      } finally q1.stop()
      assert(table(tableDir) ===
        Seq((1L, 1L, "one"), (2L, 2L, "two v2"), (3L, 1L, "three")))
      // crash/redeploy: new query, SAME checkpoint — batchIds continue from
      // the checkpoint, so the committed-batch marker stays consistent and
      // the restarted stream applies only the file landed while down
      land(Seq((1L, 9L, "one v9")))
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      assert(table(tableDir) ===
        Seq((1L, 9L, "one v9"), (2L, 2L, "two v2"), (3L, 1L, "three")))
    }
  }
}
