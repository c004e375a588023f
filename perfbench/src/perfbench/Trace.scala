package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SparkPlan,
  TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a layer: `<layer>.<function>`, wall interval, the
  * enclosing span and the pass it belongs to; `q0 until q1` are the indices
  * of the queries that finished while it ran, `stored0` the model-store
  * artifacts committed when it started. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      start: Long, end: Long, q0: Int, q1: Int, stored0: Set[String]) {
  def seconds: Double = (end - start) / 1e9
}

/** Task-level counters summed from Spark's listener events. */
final class ExecCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var peakMem = 0L
  def add(o: ExecCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; peakMem = math.max(peakMem, o.peakMem)
  }
}

/** Benchmark-owned SparkListener: attributes jobs, stages and tasks to the
  * job group the benchmark set around each span. */
final class ExecListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, ExecCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private def of(g: String) = byGroup.computeIfAbsent(g, _ => new ExecCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    of(g).synchronized { of(g).jobs += 1 }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.getOrDefault(e.stageInfo.stageId, "")
    of(g).synchronized { of(g).stages += 1 }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
    val m = e.taskMetrics
    val c = of(stageGroup.getOrDefault(e.stageId, ""))
    c.synchronized {
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
    }
  }
  def counters(groups: Iterable[String]): ExecCounters = {
    val out = new ExecCounters
    groups.foreach(g => Option(byGroup.get(g)).foreach(c => c.synchronized(out.add(c))))
    out
  }
}

/** One finished query, as its `QueryExecution` shows it: the action that
  * ran it, its output columns, the rows its plan's top produced, the rows
  * fed into a top-k (`TakeOrderedAndProject`) and the file roots it read. */
final case class QueryRec(func: String, columns: Seq[String], rows: Long,
                          rankedRows: Long, paths: Seq[String])

/** Plan-level counters read from each finished query's `QueryExecution`. */
final class PlanCounters {
  var queries = 0L; var planningMs = 0L
  var exchanges = 0L; var broadcastJoins = 0L; var sortMergeJoins = 0L
  var zarrChunksScanned = 0L; var zarrChunksTotal = 0L
  var zarrRowsEmitted = 0L; var zarrRowsKept = 0L
  val records = mutable.ArrayBuffer.empty[QueryRec]
}

final class PlanListener(c: PlanCounters) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    c.synchronized {
      c.queries += 1
      c.planningMs += qe.tracker.phases.values.map(_.durationMs).sum
      val nodes = PlanWalk.nodes(qe.executedPlan)
      c.exchanges += nodes.count(_.isInstanceOf[ShuffleExchangeExec])
      c.broadcastJoins += nodes.count(_.isInstanceOf[BroadcastHashJoinExec])
      c.sortMergeJoins += nodes.count(_.isInstanceOf[SortMergeJoinExec])
      val scans = nodes.collect { case b: BatchScanExec if b.table.name.startsWith("zarr:") => b }
      scans.foreach { b =>
        c.zarrChunksScanned += b.inputPartitions.size
        val m = graft.zarr.Zarr.readMeta(b.table.name.stripPrefix("zarr:"))
        c.zarrChunksTotal += ((m.rows + m.chunkRows - 1) / m.chunkRows) *
          ((m.cols + m.chunkCols - 1) / m.chunkCols)
        c.zarrRowsEmitted += b.metrics("numOutputRows").value
      }
      // rows left after the caller's filter: a Filter directly over a zarr
      // scan (through codegen wrappers) keeps its own output count
      val filtered = nodes.collect {
        case f: FilterExec if PlanWalk.scanBelow(f.child).exists(b => scans.exists(_ eq b)) => f
      }
      val filteredScans = filtered.flatMap(f => PlanWalk.scanBelow(f.child))
      c.zarrRowsKept += filtered.map(_.metrics("numOutputRows").value).sum +
        scans.filterNot(b => filteredScans.exists(_ eq b)).map(_.metrics("numOutputRows").value).sum
      c.records += QueryRec(funcName, qe.analyzed.output.map(_.name),
        PlanWalk.topRows(qe.executedPlan),
        nodes.collect { case t: TakeOrderedAndProjectExec => PlanWalk.topRows(t.child) }.sum,
        nodes.collect { case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString) }
          .flatten)
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object PlanWalk {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }
  /** Rows produced by the first node from the top that counts its output
    * rows (codegen and stage wrappers do not). */
  def topRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => topRows(a.executedPlan)
    case s: QueryStageExec => topRows(s.plan)
    case o if o.metrics.contains("numOutputRows") => o.metrics("numOutputRows").value
    case o if o.children.size == 1 => topRows(o.children.head)
    case _ => 0L
  }
  /** The zarr scan a single-child chain of wrappers leads to, if any. */
  def scanBelow(p: SparkPlan): Option[BatchScanExec] = p match {
    case b: BatchScanExec => Some(b)
    case s: QueryStageExec => scanBelow(s.plan)
    case o if o.children.size == 1 && !o.isInstanceOf[ShuffleExchangeExec] => scanBelow(o.children.head)
    case _ => None
  }
}

/** What a traced pass samples at span boundaries: the queries finished so
  * far, once the listener bus has delivered them, and the artifacts
  * committed in the pass's model store. */
final class PassProbe(spark: SparkSession, val plan: PlanCounters, val models: String) {
  def queries: Int = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    plan.synchronized(plan.records.size)
  }
  def stored: Set[String] = Main.committed(models)
}

/** Records spans in memory. Untraced, `frame`/`call` run their body with no
  * timing, job group or materialization, so untraced passes pay nothing. */
final class Tracer(val on: Boolean, spark0: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack: List[Int] = Nil
  var pass = 0
  var probe: PassProbe = _

  def call[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val sc = spark0.sparkContext
      val (q0, stored0) = (probe.queries, probe.stored)
      sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val q1 = probe.queries
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-$p", "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans += Span(id, name, parent, pass, t0, t1, q0, q1, stored0)
      }
    }

  /** A lazy frame returned by a layer: traced, its output is materialized
    * inside the span so the span holds the work it caused. */
  def frame(name: String)(body: => DataFrame): DataFrame =
    if (!on) body else call(name)(body.localCheckpoint())

  def groupsOf(pass: Int): Seq[String] = spans.filter(_.pass == pass).map(s => s"span-${s.id}").toSeq

  /** Queries a span ran itself, not through a child span. */
  private def selfQueries(s: Span): Seq[QueryRec] = {
    val inChild = spans.filter(_.parent == s.id).flatMap(c => c.q0 until c.q1).toSet
    val recs = probe.plan.synchronized(probe.plan.records.toVector)
    (s.q0 until s.q1).filterNot(inChild).map(recs)
  }

  /** The queries that spans named `name` ran themselves in the current pass,
    * one sequence per span. */
  def queriesOf(name: String): Seq[Seq[QueryRec]] =
    spans.filter(s => s.pass == pass && s.name == name).map(selfQueries).toSeq

  /** Durable loads in the current pass: model-store artifacts a span read
    * that were already committed when the span started (an artifact built
    * and read back inside one span is a build, not a load). */
  def durableLoads: Int = {
    val root = new java.io.File(probe.models).toURI.getPath.stripSuffix("/")
    spans.filter(_.pass == pass).map { s =>
      selfQueries(s).flatMap(_.paths).map(p => new java.net.URI(p).getPath)
        .filter(_.startsWith(root + "/"))
        .map(_.stripPrefix(root + "/").takeWhile(_ != '/'))
        .filter(s.stored0).toSet.size
    }.sum
  }

  /** Self time per span name for one pass: duration minus child coverage. */
  def selfTimes(pass: Int): Map[String, Double] = {
    val ps = spans.filter(_.pass == pass)
    val childSum = ps.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    ps.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum
    }
  }
}
