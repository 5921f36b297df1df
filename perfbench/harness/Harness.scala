package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, Scratch, SessionMemos, SparkEntry}
import graft.sources.Ingest
import graft.sources.bulksink.BulkTransports

/** The JVM half of the benchmark (run.py is the other half). It drives
  * the engine only through its public calls and writes one JSON result
  * file for run.py to score.
  *
  *   gen --src D --out D --factor N     ScaleUp.generate (GRAFT_SCALE_ZIPF
  *                                      in the environment selects ×Nz)
  *   run --dir D --queries a,b --seed N --warmups W --passes K --trace 0|1
  *       --fixtures f,g --publish 0|1 --zone D --dump D --out F
  *       [--smoke 1]
  *
  * `run` times its set-up from harness entry, in a cold JVM.
  *
  * A pass runs every query once, in the order of SessionMemos.benchUnits.
  * The cold first pass keeps that order, as one scheduled DAG run does;
  * every later pass shuffles the units by (seed, pass). Memo families
  * stay contiguous, so SessionMemos.releaseAfter frees each family at the
  * end of its block exactly as graft.Bench does. `--smoke 1` runs one
  * traced pass and the warm-up passes, nothing else.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val entered = System.nanoTime()
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("gen") =>
        val spark = GraftSession.build("perfbench-gen", Some(opts("src")))
        try graft.ScaleUp.generate(spark, opts("src"), opts("out"),
          opts("factor").toInt)
        finally spark.stop()
      case Some("run") => new Run(opts, entered).apply()
      case _ =>
        System.err.println("usage: Harness gen|run --key value ...")
        sys.exit(2)
    }
  }
}

/** One span of the traced run: a call into one layer. */
final case class Span(id: Int, name: String, parent: Int, start: Long,
    var end: Long = -1L)

/** In-memory span recorder. While `on` is false every call is a plain
  * call; the span stack survives, so a span opened later still finds
  * its parent. */
final class Tracer(var on: Boolean, spark: () => Option[SparkSession]) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List(-1)

  private def group(id: Int): Unit = spark().foreach { s =>
    if (id >= 0) s.sparkContext.setJobGroup(s"pb-$id", spans(id).name, false)
    else s.sparkContext.clearJobGroup()
  }

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.head, System.nanoTime())
      spans += s
      stack = s.id :: stack
      // Spark jobs started inside this span carry its id as job group
      group(s.id)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        group(stack.head)
      }
    }
}

final class Run(opts: Map[String, String], entered: Long) {
  private val dir = opts("dir")
  private val selected = opts.getOrElse("queries", "").split(",")
    .filter(_.nonEmpty).toSet
  private val seed = opts.getOrElse("seed", "1").toLong
  private val passes = opts.getOrElse("passes", "2").toInt
  private val warmupPasses = opts.getOrElse("warmups", "1").toInt.max(1)
  private val smoke = opts.get("smoke").contains("1")
  private val traced = smoke || opts.get("trace").contains("1")
  private val fixtures = opts.get("fixtures").toSeq
    .flatMap(_.split(",")).filter(_.nonEmpty)
  private val publish = opts.get("publish").contains("1")
  private val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "1").toInt

  private var session: Option[SparkSession] = None
  private val tracer = new Tracer(traced, () => session)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9
  private def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  /** Old-generation megabytes in use after the last collection. */
  private def oldGenAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(p => p.getName.contains("Old Gen") ||
      p.getName.contains("Tenured"))
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed / 1e6)
    .maxOption.getOrElse(0.0)

  private def duMb(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum / 1e6
      finally s.close()
    }

  // the counting bulk-index endpoint that stands in for Elasticsearch
  private val indexedDocs = new java.util.concurrent.atomic.AtomicLong()
  BulkTransports.register("perfbench") { batch =>
    indexedDocs.addAndGet(batch.size.toLong); ()
  }

  /** The QueryExecutions that the write of a traced publish ran. */
  private val written = new FinishedQueries

  /** One query: define, plan, execute (or publish, or dump), release.
    * Returns the per-query counts; the caller times it. */
  private def runQuery(spark: SparkSession, name: String,
      q: (SparkSession, String) => DataFrame,
      dump: Option[String]): Map[String, Double] = {
    val out = scala.collection.mutable.Map.empty[String, Double]
    val df = tracer("operators.define")(q(spark, dir))
    if (publish) {
      // writeParquetSingleFile plans and runs a QueryExecution of its own
      // (coalesce(1).write): the plan is read from the one the write ran,
      // not from df's
      val path = s"${opts("zone")}/$name"
      def write(): Unit =
        tracer("sources.write")(Ingest.writeParquetSingleFile(df, path))
      if (!tracer.on) write()
      else {
        val qes = written.during(spark)(write())
        out("plan_s") = qes.map(_.tracker.phases.values
          .map(_.durationMs).sum).sum / 1e3
        qes.map(qe => PlanShape.count(qe.executedPlan))
          .foreach(_.foreach { case (k, v) =>
            out(k) = out.getOrElse(k, 0.0) + v })
        out("write_mb") = duMb(Paths.get(path))
      }
      val rep = tracer("sources.index") {
        Ingest.bulkIndex(spark.read.parquet(path)) { batch =>
          BulkTransports.resolve("perfbench")(batch)
        }
      }
      out("index_docs") = rep.docs.toDouble
      out("index_batches") = rep.batches.toDouble
      out("index_retries") = rep.retries.toDouble
      out("index_failed_docs") = rep.failedDocs.toDouble
    } else {
      if (tracer.on) tracer("plans.plan")(df.queryExecution.executedPlan)
      dump match {
        case Some(d) => df.write.mode("overwrite").parquet(s"$d/$name")
        case None => tracer("exec")(df.queryExecution.toRdd.foreach(_ => ()))
      }
      if (tracer.on) out ++= PlanShape.count(df.queryExecution.executedPlan)
    }
    if (tracer.on) out("storage_mb") = spark.sparkContext.getRDDStorageInfo
      .map(i => (i.memSize + i.diskSize).toDouble).sum / 1e6
    tracer("SessionMemos.release") {
      Scratch.release(spark)
      SessionMemos.releaseAfter(spark, name, selected)
    }
    out.toMap
  }

  /** Query order of one pass: benchUnits as they are for the cold first
    * pass (pass 0), so that which query meets the cold JIT does not depend
    * on the seed; shuffled by (seed, pass) for every other pass. */
  private def order(pass: Int): Seq[String] = {
    val units = SessionMemos.benchUnits(selected)
    (if (pass == 0) units
     else new scala.util.Random(seed * 1000003L + pass).shuffle(units)).flatten
  }

  private final case class QueryRec(name: String, wall: Double,
      counts: Map[String, Double])
  private final case class PassRec(traced: Boolean, wall: Double,
      cpu: Double, gc: Double, heapMb: Double, spanId: Int,
      queries: Seq[QueryRec])

  def apply(): Unit = {
    val res = new Json
    if (traced) tracer("run")(body(res)) else body(res)
    if (traced) res("spans") = tracer.spans.toSeq.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> secs(entered, s.start), "end_s" -> secs(entered, s.end),
        "run" -> opts.getOrElse("run_id", "run"))
    }
    res.write(opts("out"))
  }

  /** The set-up, timed from harness entry: build the session, then
    * cold-build every fixture family the workload reads into the empty
    * private FixtureStore. */
  private def setup(res: Json): Unit = tracer("setup") {
    val fx = Paths.get(System.getProperty("java.io.tmpdir"), "graft_fx")
    val mb0 = duMb(fx)
    val b0 = System.nanoTime()
    session = Some(tracer("GraftSession.build")(
      GraftSession.build("perfbench", Some(dir))))
    val b1 = System.nanoTime()
    fixtures.foreach { f =>
      tracer(s"FixtureStore.$f")(Fixtures.build(f, session.get, dir))
    }
    val end = System.nanoTime()
    res("setup_s") = secs(entered, end)
    res("session_build_s") = secs(b0, b1)
    res("fixture_build_s") = secs(b1, end)
    res("fixture_disk_mb") = duMb(fx) - mb0
  }

  private def body(res: Json): Unit = {
    // The session (which records the LSH corpus hint) is built BEFORE
    // anything touches SparkEntry: the registry's query objects freeze
    // the LSH geometry when they initialize.
    setup(res)
    System.err.println("[perfbench] set-up done")
    val spark = session.get

    val registry = SparkEntry.queries
    res("oracle") = SparkEntry.oracleSql.filter { case (k, _) => selected(k) }
    val listener = new LayerListener

    def timedQuery(n: String, dump: Option[String]): QueryRec = {
      val t0 = System.nanoTime()
      val counts =
        try tracer(s"query:$n")(runQuery(spark, n, registry(n), dump))
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] $n failed: $e")
          Scratch.release(spark)
          Map("failed" -> 1.0)
        }
      QueryRec(n, secs(t0, System.nanoTime()), counts)
    }

    def pass(i: Int, withTrace: Boolean,
        dump: Option[String] = None): PassRec = {
      tracer.on = withTrace
      val names = order(i)
      val cpu0 = os.getProcessCpuTime
      val gc0 = gcMillis
      val t0 = System.nanoTime()
      var spanId = -1
      val qs = tracer(s"pass[$i]") {
        if (withTrace) spanId = tracer.spans.last.id
        names.map(timedQuery(_, dump))
      }
      val wall = secs(t0, System.nanoTime())
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      val gc = (gcMillis - gc0) / 1e3
      tracer.on = false
      // explicit full GCs at the pass boundary, outside the pass wall,
      // give the live-heap reading and keep one pass's garbage out of the
      // next pass's time; the pause between them lets Spark's
      // ContextCleaner drop the broadcast and shuffle blocks whose
      // handles the first one freed
      System.gc()
      Thread.sleep(250)
      System.gc()
      PassRec(withTrace, wall, cpu, gc, oldGenAfterGcMb, spanId, qs)
    }

    /** A pass with the listener attached while it runs (traced only). */
    def timed(i: Int, withTrace: Boolean): PassRec =
      if (!withTrace) pass(i, withTrace = false)
      else {
        spark.sparkContext.addSparkListener(listener)
        try pass(i, withTrace = true)
        finally {
          org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
        }
      }

    val first = timed(0, withTrace = smoke)
    // unrecorded warm-up passes let the JIT and the lazy engine state
    // settle before the warm passes are timed; where results are not
    // published (the oracle reads the published files), the first of them
    // also writes each result for the oracle
    val warmups = (1 to warmupPasses).map(i => pass(-i, withTrace = false,
      dump = if (i == 1) opts.get("dump") else None))
    val warm = ArrayBuffer.empty[PassRec]
    if (!smoke) {
      // A fixed number of timed warm passes, not a time budget: a slow
      // host then does the same work, with the JIT at the same point of
      // its warm-up in every pass, instead of fewer and colder passes.
      // A traced run interleaves untraced and traced warm passes in the
      // order U T T U ..., so that a JIT drift over the passes falls on
      // both kinds alike: the pass_s difference between the two kinds is
      // the tracing overhead, measured in one process and one host phase.
      def count(t: Boolean) = warm.count(_.traced == t)
      def short = if (traced) count(true) < 2 || count(false) < 2
                  else false
      while (warm.size < passes || short)
        warm += timed(warm.size + 1, traced && warm.size % 4 % 3 != 0)
    }

    val all = Seq(first) ++ warmups ++ warm
    val untraced = warm.filter(!_.traced).toSeq
    res("first_pass_s") = first.wall
    res("passes") = untraced.map(p => Json.obj("wall_s" -> p.wall,
      "cpu_s" -> p.cpu, "gc_s" -> p.gc))
    res("heap_mb") = all.map(_.heapMb)
    res("query_s") = untraced.flatMap(_.queries.map(_.wall))
    // every query's wall time in every pass, first and warm-up included
    res("pass_queries") = all.map(p => Json.obj(
      p.queries.map(q => q.name -> q.wall): _*))
    res("attempted") = all.map(_.queries.size).sum
    val failed = all.flatMap(_.queries.filter(_.counts.contains("failed")))
    res("failed") = failed.size
    res("failed_names") = failed.map(_.name).distinct
    if (publish) res("published") = Json.obj(all.last.queries.map { q =>
      q.name -> Json.obj("docs" -> q.counts.getOrElse("index_docs", -1.0),
        "failed_docs" -> q.counts.getOrElse("index_failed_docs", -1.0))
    }: _*)
    res("indexed_docs_total") = indexedDocs.get()
    res("cores") = cores
    if (traced) {
      val tp = all.filter(_.traced)
      res("traced_pass_s") = tp.map(_.wall)
      res("traced_passes") = tp.map { p =>
        Layers.passMetrics(tracer.spans.toSeq, listener, p.spanId, p.wall,
          p.gc, cores, p.queries.map(_.counts))
      }
    }
    session.foreach { s => session = None; s.stop() }
  }
}
