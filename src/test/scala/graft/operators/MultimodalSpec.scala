package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Multimodal plumbing: schema/partitioning/batch shape are real even while
  * the decode itself is the documented deterministic stub.
  */
class MultimodalSpec extends SparkSpec {

  import spark.implicits._

  private val dir = sf("sf0.001")

  test("media table exposes binary payload + typed metadata struct") {
    val m = Multimodal.media(spark, dir)
    val fields = m.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(fields("payload") === "binary")
    assert(fields("meta") === "struct")
    val row = m.select($"doc_id", length($"payload"), $"meta.frame_bytes").limit(1).collect()(0)
    assert(row.getInt(2) === 64)
  }

  test("metadata-only query prunes the text/payload from the document scan") {
    // media_meta needs byte length; width/height/media_type derive from
    // doc_id only — the scan must not read lang/source/n_chars
    val p = Multimodal.mediaMeta.run(spark, dir).queryExecution.executedPlan.toString
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && !read.contains("n_chars"), read)
  }

  test("decode stub is deterministic and preserves batch shape") {
    val payloads = Seq(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9), Array.emptyByteArray)
    payloads.foreach { p =>
      val a = Multimodal.decodeStub(p)
      val b = Multimodal.decodeStub(p)
      assert(a.length === 8)
      assert(a.toSeq === b.toSeq)
    }
    // feature 0 = mean of bytes at positions 0, 8: (1 + 9) / 2 = 5
    assert(Multimodal.decodeStub(payloads.head)(0) === 5.0f)
  }

  test("extractFeatures runs distributed over partitions with stable output") {
    val items = Multimodal.media(spark, dir)
      .select($"doc_id", $"payload").as[Multimodal.MediaItem]
      .repartition(4)
    val out = Multimodal.extractFeatures(items)
    assert(out.rdd.getNumPartitions === 4) // mapPartitions preserves partitioning
    val feats = out.collect()
    assert(feats.forall(_.features.length == 8))
    assert(feats.length === items.count())
    // same input → identical features regardless of partitioning
    val again = Multimodal.extractFeatures(items.repartition(2)).collect()
      .map(f => f.doc_id -> f.features.toSeq).toMap
    feats.foreach(f => assert(again(f.doc_id) === f.features.toSeq))
  }

  test("empty documents yield zero frames instead of crashing") {
    withTempDir("graft-media") { tmp =>
      Seq((0L, "", "en", "s", 0L), (1L, "abcdef", "en", "s", 6L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$tmp/documents.parquet")
      val rows = Multimodal.mediaFrames.run(spark, tmp)
        .select($"doc_id").as[Long].collect()
      // doc 0 (empty payload → 0 frames) contributes no rows; doc 1 does
      assert(rows.toSet === Set(1L))
    }
  }

  test("frame sampling covers every 4th frame with correct tail size") {
    val rows = Multimodal.mediaFrames.run(spark, dir)
      .filter($"doc_id" === 0)
      .select($"frame_no", $"frame_bytes").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._1).toSeq === rows.map(_._1).toSeq.sorted)
    rows.init.foreach { case (_, b) => assert(b === 64L) }
    assert(rows.map(_._1).forall(_ % 4 == 0))
  }

  test("media_dedup matches a scalar frame-hash replay") {
    val raw = graft.sources.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val modality = Array("image", "audio", "video")
    // (media_type, frame-content) multiset, replayed byte-for-byte
    val frames = raw.flatMap { case (id, text) =>
      val m = modality((id % 3).toInt)
      text.getBytes("UTF-8").grouped(64).map(b => (m, new String(b, "UTF-8")))
    }
    val expect = frames.groupBy(f => f._1).toSeq.map { case (m, fs) =>
      val byContent = fs.groupBy(_._2)
      val reclaim = byContent.values
        .map(cs => (cs.size - 1).toLong * cs.head._2.getBytes("UTF-8").length)
        .sum
      (m, fs.length.toLong, byContent.size.toLong, reclaim)
    }.sortBy(_._1)
    val got = Multimodal.mediaDedup.run(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got === expect)
    got.foreach { case (_, nf, nd, rb) =>
      assert(nf >= nd && rb >= 0L)
    }
  }
  test("media_phash partitions each modality and replays scalar-side") {
    val out = Multimodal.mediaPhash.run(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(out.nonEmpty)
    out.foreach { case (_, ph, n, _, h1) =>
      assert(ph >= 0L && ph <= 255L && n >= 1L && h1 >= 0L && h1 <= 8L)
    }
    // bucket sizes per modality sum back to that modality's item count
    val docs = graft.sources.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val byModality = docs.groupBy(d => Seq("image", "audio", "video")((d._1 % 3).toInt))
    out.groupBy(_._1).foreach { case (m, rows) =>
      assert(rows.map(_._3).sum === byModality(m).length, s"modality $m")
    }
    // scalar replay: doc 0's phash from decodeStub must name a bucket whose
    // canonical doc is <= 0 is impossible — doc 0 IS the min id, so the
    // (image, phash(doc 0)) bucket must exist with keep_doc == 0
    val text0 = docs.find(_._1 == 0L).get._2
    val f = Multimodal.decodeStub(text0.getBytes("UTF-8"))
    val mean = f.foldLeft(0.0)(_ + _) / f.length
    val expect = (0 until 8).map(j => if (f(j).toDouble > mean) 1L << j else 0L).sum
    val bucket = out.find(r => r._1 == "image" && r._2 == expect)
    assert(bucket.exists(_._4 === 0L),
      s"doc 0 bucket (image, $expect) missing or wrong canonical: $bucket")
  }

  test("media_sim: scalar cosine replay, neighbors stay in the probe's modality") {
    import spark.implicits._
    val docs = graft.sources.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    def modality(id: Long) = (id % 3) match {
      case 0 => "image"; case 1 => "audio"; case _ => "video"
    }
    val qv = docs.map { case (id, text) =>
      val f = Multimodal.decodeStub(text.getBytes("UTF-8"))
      id -> f.map(x =>
        BigDecimal(x.toDouble * 10000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    }.toMap
    def nrm(v: Array[Long]) = v.map(x => x * x).sum
    def cos(a: Long, b: Long): Double = {
      val (va, vb) = (qv(a), qv(b))
      va.zip(vb).map { case (x, y) => x * y }.sum.toDouble /
        (math.sqrt(nrm(va).toDouble) * math.sqrt(nrm(vb).toDouble))
    }
    val live = docs.map(_._1).filter(id => nrm(qv(id)) > 0)
    val expect = live.filter(_ < 5).sorted.flatMap { q =>
      live.filter(n => n != q && modality(n) == modality(q))
        .map(n => (cos(q, n), n)).sortBy { case (c, n) => (-c, n) }
        .take(5).zipWithIndex
        .map { case ((c, n), i) => (q, n, c, i + 1L) }
    }
    val got = Multimodal.mediaSim.run(spark, dir)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(got === expect)
    got.foreach { case (q, n, c, _) =>
      assert(modality(q) === modality(n), s"cross-modality pair ($q,$n)")
      assert(c >= -1.0000001 && c <= 1.0000001, s"cos out of range: $c")
    }
  }
}
