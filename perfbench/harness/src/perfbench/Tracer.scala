package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Access
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One node of the trace tree: workload op → public call → SQL
  * execution → job → stage. Times are epoch milliseconds, taken from
  * the listener events (op and call spans from the harness clock).
  */
final case class Span(kind: String, name: String, start: Long, end: Long,
    parent: String, op: String) {
  def id: String = s"$kind:$name"
}

/** Records the spans and counters of ONE traced op. Register before
  * the op, call [[close]] after it: close drains the asynchronous
  * listener bus, unregisters every listener and reduces what was seen
  * to the op's per-layer numbers. Untraced ops never register one, so
  * their wall time carries no listener cost.
  */
final class OpTrace(spark: SparkSession, val opId: String, cores: Int) {
  private val sc = spark.sparkContext

  private case class SqlRec(start: Long, root: Boolean, var end: Long = -1L,
      var qe: QueryExecution = null)
  private case class JobRec(start: Long, execId: Option[Long], stages: Seq[Int],
      var end: Long = -1L)

  // written on the bus thread, read after the drain
  private val sqls = mutable.LinkedHashMap[Long, SqlRec]()
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageSpans = mutable.ArrayBuffer[(Int, Long, Long)]()
  private val tasks = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val phases = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val stream = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val calls = mutable.ArrayBuffer[Span]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      jobs(e.jobId) = JobRec(e.time, exec, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stageSpans += ((i.stageId, s, c))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      tasks("n") += 1
      if (m != null) {
        tasks("run_ms") += m.executorRunTime
        tasks("cpu_ns") += m.executorCpuTime
        tasks("gc_ms") += m.jvmGCTime
        tasks("shuffle_w") += m.shuffleWriteMetrics.bytesWritten
        tasks("shuffle_r") += m.shuffleReadMetrics.totalBytesRead
        tasks("spill") += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          sqls(s.executionId) = SqlRec(s.time,
            s.rootExecutionId.forall(_ == s.executionId))
        case x: SparkListenerSQLExecutionEnd =>
          sqls.get(x.executionId).foreach { r => r.end = x.time; r.qe = Access.queryExecution(x) }
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      synchronized {
        qe.tracker.phases.foreach { case (k, v) => phases(k) += v.durationMs }
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        stream("batches") += 1
        e.progress.durationMs.forEach((k, v) => stream(k) += v.doubleValue)
      }
  }

  // drain first: events an earlier untraced op left queued must not
  // reach this op's listeners
  Access.drain(sc)
  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)
  private val codegen0 = CodeGenerator.compileTime
  val start: Long = System.currentTimeMillis()

  /** Time one public call of the program as a child span of the op. */
  def call[T](name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body
    finally calls += Span("call", name, t0, System.currentTimeMillis(), s"op:$opId", opId)
  }

  /** End the op; returns its spans and its per-layer numbers. */
  def close(): (Seq[Span], Map[String, Double]) = {
    val end = System.currentTimeMillis()
    val codegenNs = CodeGenerator.compileTime - codegen0
    Access.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    listener.synchronized(qeListener.synchronized(streamListener.synchronized(
      reduce(end, codegenNs))))
  }

  private def within(t: Long, end: Long) = t >= start && t <= end
  private def callAt(t: Long): String =
    calls.find(c => t >= c.start && t <= c.end).map(_.id).getOrElse(s"op:$opId")

  private def reduce(end: Long, codegenNs: Long): (Seq[Span], Map[String, Double]) = {
    val done = sqls.filter { case (_, r) => r.end >= 0 && within(r.start, end) }
    val sqlSpans = done.map { case (id, r) =>
      Span("sql", id.toString, r.start, r.end, callAt(r.start), opId) }.toSeq
    val jobIn = jobs.filter { case (_, j) => j.end >= 0 && within(j.start, end) }
    val jobSpans = jobIn.map { case (id, j) =>
      Span("job", id.toString, j.start, j.end,
        j.execId.filter(done.contains).map(x => s"sql:$x").getOrElse(callAt(j.start)),
        opId) }.toSeq
    val stageParent = jobIn.flatMap { case (id, j) => j.stages.map(_ -> id) }.toMap
    val stSpans = stageSpans.filter { case (_, s, _) => within(s, end) }.map {
      case (id, s, c) =>
        Span("stage", id.toString, s, c,
          stageParent.get(id).map(j => s"job:$j").getOrElse(s"op:$opId"), opId)
    }.toSeq
    val opSpan = Span("op", opId, start, end, "", opId)

    // self time per layer: nested unions clipped to the op window
    def union(xs: Seq[Span]): Seq[(Long, Long)] = {
      val sorted = xs.map(s => (math.max(s.start, start), math.min(s.end, end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      sorted.foldLeft(List.empty[(Long, Long)]) {
        case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
        case (acc, iv) => iv :: acc
      }.reverse
    }
    def len(ivs: Seq[(Long, Long)]) = ivs.map { case (a, b) => b - a }.sum / 1000.0
    val a1 = union(stSpans)
    val a2 = union(stSpans ++ jobSpans)
    val a3 = union(stSpans ++ jobSpans ++ sqlSpans)
    val a4 = union(stSpans ++ jobSpans ++ sqlSpans ++ calls.toSeq)
    val wall = (end - start) / 1000.0

    val m = mutable.LinkedHashMap[String, Double]()
    m("wall_s") = wall
    m("span.stage_s") = len(a1)
    m("span.job_self_s") = len(a2) - len(a1)
    m("span.sql_self_s") = len(a3) - len(a2)
    m("span.call_self_s") = len(a4) - len(a3)
    m("span.op_self_s") = wall - len(a4)
    m("driver.outside_jobs_s") = wall - len(a2)

    m("pipeline.actions") = done.count(_._2.root)
    m("scheduler.jobs") = jobSpans.size
    m("scheduler.stages") = stSpans.size
    m("scheduler.tasks") = tasks("n")
    m("scheduler.task_s") = tasks("run_ms") / 1000.0
    m("scheduler.task_cpu_s") = tasks("cpu_ns") / 1e9
    m("scheduler.gc_s") = tasks("gc_ms") / 1000.0
    m("scheduler.task_wall_core_s") = wall * cores
    m("shuffle.write_bytes") = tasks("shuffle_w")
    m("shuffle.read_bytes") = tasks("shuffle_r")
    m("shuffle.spill_bytes") = tasks("spill")

    m("driver.analysis_s") = phases("analysis") / 1000.0
    m("driver.optimization_s") = phases("optimization") / 1000.0
    m("driver.planning_s") = phases("planning") / 1000.0
    m("driver.codegen_s") = codegenNs / 1e9

    // plan shape and operator SQL metrics, each physical node once
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Iterator[SparkPlan] =
      if (!seen.add(p)) Iterator.empty
      else p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => Iterator(s) ++ walk(s.plan)
        case c: CommandResultExec => Iterator(c) ++ walk(c.commandPhysicalPlan)
        case r: ReusedExchangeExec => Iterator(r)
        case o => Iterator(o) ++ o.children.iterator.flatMap(walk) ++
          o.subqueries.iterator.flatMap(walk)
      }
    val layerEnd = mutable.Map[String, Long]()
    for ((id, r) <- done if r.qe != null) {
      val nodes = walk(r.qe.executedPlan).toSeq
      def metric(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
      nodes.foreach {
        case w: DataWritingCommandExec =>
          m("operators.bytes_written") = m.getOrElse("operators.bytes_written", 0.0) + metric(w, "numOutputBytes")
          m("operators.files_written") = m.getOrElse("operators.files_written", 0.0) + metric(w, "numFiles")
          m("operators.rows_written") = m.getOrElse("operators.rows_written", 0.0) + metric(w, "numOutputRows")
          w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand =>
              val path = i.outputPath.toString
              Main.Layers.find { case (_, dir) => path.contains(s"/$dir") }
                .foreach { case (layer, _) =>
                  layerEnd(layer) = math.max(layerEnd.getOrElse(layer, 0L), r.end) }
            case _ =>
          }
        case s if s.nodeName.contains("Scan") && s.metrics.contains("numFiles") =>
          m("operators.files_scanned") = m.getOrElse("operators.files_scanned", 0.0) + metric(s, "numFiles")
          m("operators.bytes_scanned") = m.getOrElse("operators.bytes_scanned", 0.0) + metric(s, "filesSize")
        case _ =>
      }
      m("plan.scans") = m.getOrElse("plan.scans", 0.0) +
        nodes.count(_.getClass.getSimpleName.endsWith("ScanExec"))
      m("plan.exchanges") = m.getOrElse("plan.exchanges", 0.0) +
        nodes.count(_.isInstanceOf[ShuffleExchangeLike])
      m("plan.broadcasts") = m.getOrElse("plan.broadcasts", 0.0) +
        nodes.count(_.isInstanceOf[BroadcastExchangeLike])
      m("plan.sorts") = m.getOrElse("plan.sorts", 0.0) + nodes.count(_.isInstanceOf[SortExec])
    }
    Seq("operators.bytes_written", "operators.files_written", "operators.rows_written",
      "operators.files_scanned", "operators.bytes_scanned", "plan.scans",
      "plan.exchanges", "plan.broadcasts", "plan.sorts").foreach(k => m.getOrElseUpdate(k, 0.0))

    // the medallion split: each layer ends where its last merge write ends
    calls.find(_.name == "Medallion.run").foreach { c =>
      val bStg = math.max(c.start, layerEnd.getOrElse("stg", c.start))
      val bInt = math.max(bStg, layerEnd.getOrElse("int", bStg))
      val bDwh = math.max(bInt, layerEnd.getOrElse("dwh", bInt))
      m("pipeline.stg_s") = (bStg - c.start) / 1000.0
      m("pipeline.int_s") = (bInt - bStg) / 1000.0
      m("pipeline.dwh_s") = (bDwh - bInt) / 1000.0
      m("pipeline.checks_s") = (math.max(bDwh, c.end) - bDwh) / 1000.0
    }
    m("quality.anomaly_s") = calls.filter(_.name.startsWith("Anomaly."))
      .map(c => (c.end - c.start) / 1000.0).sum

    m("streaming.batches") = stream("batches")
    m("streaming.add_batch_s") = stream("addBatch") / 1000.0
    m("streaming.wal_commit_s") = stream("walCommit") / 1000.0
    m("streaming.commit_offsets_s") = stream("commitOffsets") / 1000.0
    m("streaming.latest_offset_s") = stream("latestOffset") / 1000.0
    m("streaming.query_planning_s") = stream("queryPlanning") / 1000.0
    m("streaming.trigger_s") = stream("triggerExecution") / 1000.0

    (Seq(opSpan) ++ calls ++ sqlSpans ++ jobSpans ++ stSpans, m.toMap)
  }
}
