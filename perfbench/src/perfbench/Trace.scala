package perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run instrumentation, all of it in the benchmark's own code:
  *   - spans around every public call the benchmark makes (driver time, and
  *     the queries and jobs each call caused);
  *   - a SparkListener for per-stage and per-task metrics;
  *   - a QueryExecutionListener for each executed plan's per-operator SQL
  *     metrics, planning time and observed metrics.
  * [[layers]] attributes them to the engine's layers (see README.md).
  *
  * A plan is cut into fragments at exchanges and query stages; a fragment is
  * the code one stage runs. A stage belongs to a fragment when the stage's
  * tasks updated one of the fragment's SQL metric accumulators. */
final class Tracer(spark: SparkSession, inputRoot: String) {

  final case class StageRec(id: Int, acc: Set[Long], cpuNs: Long, runMs: Long,
      gcMs: Long, spill: Long, shWBytes: Long, shWRecs: Long,
      shWNs: Long, fetchWaitMs: Long, shRRecs: Long)
  final case class TaskRec(stageId: Int, runMs: Long, schedMs: Long, peakMem: Long,
      failed: Boolean)
  final case class NodeRec(frag: Int, cls: String, metrics: Map[String, (Long, Long)],
      exchange: Boolean, kernel: Boolean, out: Set[String], info: String) {
    def m(k: String): Long = metrics.get(k).fold(0L)(_._2)
  }
  final case class QueryRec(func: String, planS: Double, nodes: Seq[NodeRec],
      observed: Map[String, Map[String, Long]])
  final case class SpanRec(name: String, seconds: Double, q0: Int, q1: Int, j0: Int, j1: Int)

  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val queries = mutable.ArrayBuffer.empty[QueryRec]
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var jobs = 0
  private var nextFrag = 0
  // plan nodes already recorded in this iteration: a cached plan or a reused
  // exchange appears in later queries but ran once
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

  private val Kernels = Set("FrameAgg", "FrameSpectrum", "TokenHistogram", "HyperplaneSig")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      val rec = if (m == null) TaskRec(e.stageId, 0L, 0L, 0L, failed = true)
        else TaskRec(e.stageId, m.executorRunTime,
          math.max(0L, i.duration - m.executorDeserializeTime - m.executorRunTime -
            m.resultSerializationTime - i.gettingResultTime),
          m.peakExecutionMemory,
          failed = e.reason != Success || i.attemptNumber > 0)
      synchronized { tasks += rec }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      if (m != null) synchronized {
        stages += StageRec(s.stageId, s.accumulables.keySet.toSet, m.executorCpuTime,
          m.executorRunTime, m.jvmGCTime, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleWriteMetrics.recordsWritten, m.shuffleWriteMetrics.writeTime,
          m.shuffleReadMetrics.fetchWaitTime, m.shuffleReadMetrics.recordsRead)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planS = qe.tracker.phases.values.map(_.durationMs).sum / 1000.0
      val observed = qe.observedMetrics.map { case (k, row) =>
        k -> row.schema.fieldNames.zipWithIndex.collect {
          case (f, i) if !row.isNullAt(i) => f -> row.get(i).toString.toDouble.toLong
        }.toMap
      }
      Tracer.this.synchronized {
        queries += QueryRec(func, planS, nodesOf(qe.executedPlan), observed)
      }
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  private def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Starts a traced iteration. */
  def begin(): Unit = {
    drain()
    synchronized {
      stages.clear(); tasks.clear(); queries.clear(); spans.clear(); jobs = 0; seen.clear()
    }
  }

  def span[A](name: String)(body: => A): A = {
    drain()
    val (q0, j0) = synchronized((queries.size, jobs))
    val t0 = System.nanoTime()
    val a = body
    val s = (System.nanoTime() - t0) / 1e9
    drain()
    synchronized { spans += SpanRec(name, s, q0, queries.size, j0, jobs) }
    a
  }

  private def hasKernel(e: Expression): Boolean =
    e.find(x => Kernels(x.getClass.getSimpleName)).isDefined

  private def nodesOf(root: SparkPlan): Seq[NodeRec] = {
    val out = mutable.ArrayBuffer.empty[NodeRec]
    def frag(): Int = { nextFrag += 1; nextFrag }
    def rec(p: SparkPlan, f: Int): Unit =
      out += NodeRec(f, p.getClass.getSimpleName,
        p.metrics.map { case (k, v) => k -> ((v.id, v.value)) },
        p.isInstanceOf[Exchange], p.expressions.exists(hasKernel),
        p.output.map(_.name).toSet, info(p))
    def info(p: SparkPlan): String = p match {
      case s: FileSourceScanExec =>
        if (s.relation.location.rootPaths.exists(_.toString.contains(inputRoot))) "input" else ""
      case g: GenerateExec => g.generator.prettyName
      case x: FilterExec => x.condition.references.map(_.name).mkString(",")
      case a: BaseAggregateExec =>
        (if (a.requiredChildDistributionExpressions.isDefined) "final " else "") +
          "keys=" + a.groupingExpressions.map(_.name).mkString(",") + ";" +
          a.aggregateExpressions.map(_.aggregateFunction.toString).mkString(";")
      case _ => ""
    }
    def walk(p: SparkPlan, f: Int): Unit = if (seen.add(p)) p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, f)
      case _: ReusedExchangeExec => ()
      case s: QueryStageExec => walk(s.plan, frag())
      case e: Exchange => rec(e, f); e.children.foreach(walk(_, frag()))
      case i: InMemoryTableScanExec => rec(i, f); walk(i.relation.cachedPlan, frag())
      case other => rec(other, f); other.children.foreach(walk(_, f))
    }
    walk(root, frag())
    out.toSeq
  }

  /** Ends a traced iteration; returns its per-layer metrics. */
  def layers(): Map[String, Double] = {
    drain()
    synchronized {
      val nodes = queries.flatMap(_.nodes).toSeq
      def stagesOf(pred: NodeRec => Boolean): Seq[StageRec] = {
        val frags = nodes.filter(pred).map(_.frag).toSet
        val ids = nodes.filter(n => frags(n.frag) && !n.exchange)
          .flatMap(_.metrics.values.map(_._1)).toSet
        stages.filter(_.acc.exists(ids)).toSeq
      }
      def sumM(pred: NodeRec => Boolean, k: String): Double =
        nodes.filter(pred).map(_.m(k)).sum.toDouble
      def cls(c: String)(n: NodeRec) = n.cls == c
      def runS(ss: Seq[StageRec]) = ss.map(_.runMs).sum / 1000.0
      def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
      def median(xs: Seq[Long]): Double = {
        val s = xs.sorted
        if (s.isEmpty) 0.0
        else if (s.size % 2 == 1) s(s.size / 2).toDouble
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
      }

      val inputScan = (n: NodeRec) => n.cls == "FileSourceScanExec" && n.info == "input"
      val asof = cls("AsOfJoinExec") _
      val window = cls("WindowExec") _
      val summaryAgg = (n: NodeRec) =>
        n.info.contains("VectorMomentsAgg") || n.info.contains("VectorMedianModeAgg")
      val write = (n: NodeRec) =>
        n.cls == "DataWritingCommandExec" || n.cls == "WriteFilesExec"
      val pairJoin = (n: NodeRec) =>
        n.cls.endsWith("JoinExec") && Set("id_a", "id_b").subsetOf(n.out)

      // heaviest window stage: its slowest task over its median task
      val windowStages = stagesOf(window)
      val skew = if (windowStages.isEmpty) 0.0 else {
        val heavy = windowStages.maxBy(_.runMs).id
        val ts = tasks.filter(t => t.stageId == heavy && !t.failed).map(_.runMs).toSeq
        ratio(if (ts.isEmpty) 0.0 else ts.max.toDouble, median(ts))
      }

      def spansNamed(n: String) = spans.filter(_.name == n).toSeq
      val ccSpans = spansNamed("Dedup.dropNearDuplicates")
      val ccQueries = ccSpans.map(s => queries.slice(s.q0, s.q1).toSeq)
      val candidates = sumM(pairJoin, "numOutputRows")
      val pairs = sumM(n => n.info.startsWith("final keys=id_a,id_b;"), "numOutputRows")
      val capObs = queries.flatMap(_.observed).filter(_._1.startsWith("graft_cap_"))
      val asofRows = sumM(asof, "numOutputRows")
      val asofMatched = sumM(asof, "numMatched")
      val sortNodes = cls("SortExec") _
      val summaryStages = stagesOf(summaryAgg)
      val partialSummaryStages = stagesOf(n => summaryAgg(n) && !n.info.startsWith("final "))

      Map(
        "sources.scan_rows" -> sumM(inputScan, "numOutputRows"),
        "sources.scan_bytes" -> sumM(inputScan, "filesSize"),
        "sources.scan_s" -> sumM(inputScan, "scanTime") / 1000.0,
        "engine.input_scans" -> nodes.count(n => inputScan(n) && n.m("numFiles") > 0).toDouble,
        "engine.plan_s" -> queries.map(_.planS).sum,
        "engine.jobs" -> jobs.toDouble,
        "functions.kernel_cpu_s" -> stagesOf(_.kernel).map(_.cpuNs).sum / 1e9,
        "functions.frames_out" ->
          sumM(n => n.cls == "GenerateExec" && n.info == "posexplode", "numOutputRows"),
        "plans.asof_rows" -> asofRows,
        "plans.asof_matched" -> asofMatched,
        "plans.asof_match_rate" -> ratio(asofMatched, asofRows),
        "plans.merge_s" -> runS(stagesOf(asof)),
        "exchange.write_bytes" -> stages.map(_.shWBytes).sum.toDouble,
        "exchange.records" -> stages.map(_.shWRecs).sum.toDouble,
        "exchange.write_s" -> stages.map(_.shWNs).sum / 1e9,
        "exchange.fetch_wait_s" -> stages.map(_.fetchWaitMs).sum / 1000.0,
        "sort.sort_s" -> sumM(sortNodes, "sortTime") / 1000.0,
        "sort.spill_bytes" -> sumM(sortNodes, "spillSize"),
        "operators.window_s" -> runS(windowStages),
        "operators.task_skew" -> skew,
        "operators.carry_rows" ->
          sumM(n => n.cls == "FilterExec" && n.info.split(",").contains("__rn"), "numOutputRows"),
        "dedup.candidates" -> candidates,
        "dedup.pairs" -> pairs,
        "dedup.pair_yield" -> ratio(pairs, candidates),
        "dedup.cap_dropped_rows" -> capObs.map(_._2.getOrElse("dropped_rows", 0L)).sum.toDouble,
        "dedup.cc_edges" -> ccQueries.map(qs => qs.find(_.func == "count").fold(0L)(q =>
          q.nodes.filter(_.cls == "InMemoryTableScanExec").map(_.m("numOutputRows")).sum)).sum
          .toDouble,
        "dedup.cc_path" -> ccQueries.count(_.exists(q =>
          q.func == "localCheckpoint" || q.func == "checkpoint")).toDouble,
        "dedup.cc_jobs" -> ccSpans.map(s => s.j1 - s.j0).sum.toDouble,
        "dedup.pairs_s" -> spansNamed("Dedup.embeddingDupPairs").map(_.seconds).sum,
        "dedup.cc_s" -> ccSpans.map(_.seconds).sum,
        "summaries.in_rows" -> partialSummaryStages.map(_.shRRecs).sum.toDouble,
        "summaries.groups" ->
          sumM(n => summaryAgg(n) && n.info.startsWith("final "), "numOutputRows"),
        "summaries.agg_s" -> runS(summaryStages),
        "summaries.spill_bytes" -> summaryStages.map(_.spill).sum.toDouble,
        "sinks.rows_written" -> sumM(write, "numOutputRows"),
        "sinks.bytes_written" -> sumM(write, "numOutputBytes"),
        "sinks.files_written" -> sumM(write, "numFiles"),
        "sinks.write_s" -> runS(stagesOf(write)),
        "tasks.cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
        "tasks.run_s" -> runS(stages.toSeq),
        "tasks.sched_delay_s" -> tasks.map(_.schedMs).sum / 1000.0,
        "tasks.gc_s" -> stages.map(_.gcMs).sum / 1000.0,
        "tasks.peak_exec_mem_mb" ->
          (if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max / 1048576.0),
        "tasks.failed" -> tasks.count(_.failed).toDouble)
    }
  }

  /** The spans of the iteration just ended, for the run's detail record. */
  def spanSummary: Seq[(String, Double, Int, Int)] = synchronized {
    spans.map(s => (s.name, s.seconds, s.q1 - s.q0, s.j1 - s.j0)).toSeq
  }
}
