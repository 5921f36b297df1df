package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side counts per span. Jobs carry the job group the [[Tracer]]
  * sets ("pb-<span id>"); stages and tasks inherit their job's span. */
final class LayerListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, shuffleWrite, shuffleRead, spill, input = 0L
    var skew = 0.0
  }
  val bySpan = TrieMap.empty[Int, Acc]
  private val stageSpan = TrieMap.empty[Int, Int]
  private val taskMs = TrieMap.empty[(Int, Int), ArrayBuffer[Long]]

  private def acc(span: Int): Acc = bySpan.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb-")).map(_.drop(3).toInt).getOrElse(-1)
    e.stageIds.foreach(stageSpan(_) = span)
    val a = acc(span)
    a.synchronized { a.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageSpan.getOrElse(e.stageId, -1))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
      }
    }
    val buf = taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
      ArrayBuffer.empty)
    buf.synchronized { buf += e.taskInfo.duration }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val a = acc(stageSpan.getOrElse(id, -1))
    // skew: slowest task over median task; stages with one task, or
    // with sub-10 ms medians, carry no skew signal
    val ms = taskMs.remove((id, e.stageInfo.attemptNumber()))
      .map(_.sorted).getOrElse(ArrayBuffer.empty[Long])
    val ratio =
      if (ms.size < 2 || ms(ms.size / 2) < 10) 0.0
      else ms.last.toDouble / ms(ms.size / 2)
    a.synchronized { a.stages += 1; a.skew = math.max(a.skew, ratio) }
  }
}

/** The QueryExecutions that Spark reports finished while a call runs. */
final class FinishedQueries extends QueryExecutionListener {
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    done.add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

  def during(spark: SparkSession)(body: => Unit): Seq[QueryExecution] = {
    // events queue up on the listener bus: drain it on both sides, so
    // that exactly the executions `body` ran are reported
    val bus = org.apache.spark.perfbench.Bus
    bus.drain(spark.sparkContext)
    done.clear()
    spark.listenerManager.register(this)
    try {
      body
      bus.drain(spark.sparkContext)
      done.asScala.toSeq
    } finally spark.listenerManager.unregister(this)
  }
}

/** Operator counts of the physical plan that ran (AQE's final stages). */
object PlanShape {
  val Keys = Seq("exchanges", "smj", "shj", "bhj", "bnlj_cartesian",
    "windows", "sorts", "graft_execs")

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def count(plan: SparkPlan): Map[String, Double] = {
    val ns = nodes(plan)
    def n(f: SparkPlan => Boolean) = ns.count(f).toDouble
    Map(
      "exchanges" -> n(_.isInstanceOf[ShuffleExchangeLike]),
      "smj" -> n(_.isInstanceOf[SortMergeJoinExec]),
      "shj" -> n(_.isInstanceOf[ShuffledHashJoinExec]),
      "bhj" -> n(_.isInstanceOf[BroadcastHashJoinExec]),
      "bnlj_cartesian" -> n(p => p.isInstanceOf[BroadcastNestedLoopJoinExec] ||
        p.isInstanceOf[CartesianProductExec]),
      "windows" -> n(_.isInstanceOf[WindowExec]),
      "sorts" -> n(_.isInstanceOf[SortExec]),
      "graft_execs" -> n(_.getClass.getName.startsWith("graft.")))
  }
}

/** Per-layer metrics of one traced pass, from its spans and counts. */
object Layers {
  def passMetrics(spans: Seq[Span], l: LayerListener, passId: Int,
      wall: Double, gcS: Double, cores: Int,
      queries: Seq[Map[String, Double]]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    def below(id: Int): Seq[Span] =
      kids.getOrElse(id, Nil).flatMap(s => s +: below(s.id))
    val under = below(passId)
    def dur(layer: String) = under.filter(_.name == layer)
      .map(s => (s.end - s.start) / 1e9).sum
    val accs = under.flatMap(s => l.bySpan.get(s.id))
    def sum(f: l.Acc => Long) = accs.map(f).sum.toDouble
    val defineJobs = under.filter(_.name == "operators.define")
      .flatMap(s => l.bySpan.get(s.id)).map(_.jobs).sum.toDouble
    def q(k: String) = queries.map(_.getOrElse(k, 0.0))
    val taskRun = sum(_.runMs) / 1e3
    Map(
      "operators.define_s" -> dur("operators.define"),
      "operators.define_jobs" -> defineJobs,
      // on publish workloads planning happens inside the write: its
      // QueryPlanningTracker phases, per query
      "plans.plan_s" -> (dur("plans.plan") + q("plan_s").sum),
      "exec.wall_s" -> dur("exec"),
      "exec.task_run_s" -> taskRun,
      "exec.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "exec.jobs" -> sum(_.jobs),
      "exec.stages" -> sum(_.stages),
      "exec.tasks" -> sum(_.tasks),
      "exec.core_util" -> taskRun / (wall * cores),
      "exec.shuffle_write_mb" -> sum(_.shuffleWrite) / 1e6,
      "exec.shuffle_read_mb" -> sum(_.shuffleRead) / 1e6,
      "exec.spill_mb" -> sum(_.spill) / 1e6,
      "exec.skew_ratio" -> (0.0 +: accs.map(_.skew)).max,
      "exec.input_mb" -> sum(_.input) / 1e6,
      "exec.gc_s" -> gcS,
      "sources.write_s" -> dur("sources.write"),
      "sources.write_mb" -> q("write_mb").sum,
      "sources.index_s" -> dur("sources.index"),
      "sources.index_docs" -> q("index_docs").sum,
      "sources.index_batches" -> q("index_batches").sum,
      "sources.index_retries" -> q("index_retries").sum,
      "SessionMemos.release_s" -> dur("SessionMemos.release"),
      "SessionMemos.storage_peak_mb" -> (0.0 +: q("storage_mb")).max
    ) ++ PlanShape.Keys.map(k => s"plans.$k" -> q(k).sum)
  }
}

/** Cold builds of the fixture families a workload reads, through their
  * public producers (the same calls graft.Verify's obtainAll makes). */
object Fixtures {
  import graft.operators.{Dedup, Graph, Similarity, TextAnalysis}

  def build(family: String, s: SparkSession, dir: String): Unit = {
    family match {
      case "ann_rank" => Similarity.rankedTopKWrite(s, dir)
      case "dedup_pairs" => Dedup.pairFixtureWrite(s, dir)
      case "dedup_base" => Dedup.baseIndexWrite(s, dir)
      case "graph_edges" => Graph.edgeFixtureWrite(s, dir)
      case "grams" => TextAnalysis.gramFixtureWrite(s, dir)
      case other => throw new IllegalArgumentException(s"unknown fixture $other")
    }
    graft.Scratch.release(s)
  }
}

/** Just enough JSON writing for the result file. */
final class Json {
  private val fields = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  def update(k: String, v: Any): Unit = fields(k) = v
  def write(path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      Json.render(fields))
}

object Json {
  def obj(kv: (String, Any)*): Map[String, Any] =
    scala.collection.immutable.ListMap(kv: _*)

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
