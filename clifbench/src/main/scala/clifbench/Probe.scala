package clifbench

import scala.collection.mutable

import org.apache.spark.ClifbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer cost probe built on Spark's three public listener hooks.
  *
  *  - [[QueryExecutionListener]]: Catalyst phases from each query's
  *    `QueryPlanningTracker` (analysis, optimization, planning), the
  *    `CodegenFallback` expressions left in its executed plan, and the
  *    CLIF table a query belongs to, by the output path it writes or the
  *    output path it reads back.
  *  - [[SparkListener]]: jobs, stages and tasks; executor run vs CPU time,
  *    GC, shuffle, spill, peak execution memory and I/O bytes; job
  *    intervals for the driver gap.
  *  - [[StreamingQueryListener]]: the micro-batch `durationMs` phases.
  *
  * Counters only ever grow; the harness takes a [[snapshot]] around each
  * measured run and reports the difference. Read only after [[drain]].
  *
  * @param rawDir  raw-extract directory of the CLIF workload, if any
  * @param clifOut output directory of the CLIF workload, if any
  */
final class Probe(spark: SparkSession, rawDir: Option[String],
                  clifOut: Option[String]) {

  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = counters.synchronized {
    counters(k) += v
  }
  private var peakExecMem = 0L

  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private val batches = mutable.ArrayBuffer.empty[(Long, Long)]

  /** (start ms, end ms) of every finished job. */
  def jobIntervals: Seq[(Long, Long)] = counters.synchronized(jobs.toSeq)
  /** (trigger start ms, trigger ms) of every streaming micro-batch. */
  def batchSpans: Seq[(Long, Long)] = counters.synchronized(batches.toSeq)

  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageExec = mutable.Map.empty[Int, Long]      // stage -> SQL execution id
  private val execInputBytes = mutable.Map.empty[Long, Long].withDefaultValue(0L)
  private val rawExecs = mutable.Set.empty[Long]

  /** Current value of every counter; `peak_exec_mem` is the maximum seen
    * since the last [[resetPeak]]. */
  def snapshot(): Map[String, Double] = counters.synchronized {
    val rawBytes = execInputBytes.collect {
      case (id, b) if id < 0 || rawExecs(id) => b
    }.sum
    counters.toMap ++ Map(
      "exec.peak_exec_mem_bytes" -> peakExecMem.toDouble,
      "clif.raw_bytes_read" -> rawBytes.toDouble)
  }
  def resetPeak(): Unit = counters.synchronized { peakExecMem = 0L }

  def drain(): Unit = ClifbenchAccess.drainListenerBus(spark.sparkContext)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = counters.synchronized {
      jobStart(e.jobId) = e.time
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      e.stageIds.foreach(stageExec(_) = exec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = counters.synchronized {
      jobStart.remove(e.jobId).foreach { s =>
        jobs += ((s, e.time))
        counters("exec.jobs") += 1
        counters("exec.job_wall_ms") += (e.time - s)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("exec.stages", 1)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => markRaw(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => markRaw(u.executionId, u.sparkPlanInfo)
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) counters.synchronized {
        counters("exec.tasks") += 1
        counters("exec.executor_run_ms") += m.executorRunTime
        counters("exec.executor_cpu_ms") += m.executorCpuTime / 1e6
        counters("exec.gc_ms") += m.jvmGCTime
        counters("exec.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        counters("exec.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        counters("exec.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
        counters("exec.input_bytes") += m.inputMetrics.bytesRead
        counters("exec.output_bytes") += m.outputMetrics.bytesWritten
        peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
        execInputBytes(stageExec.getOrElse(e.stageId, -1L)) += m.inputMetrics.bytesRead
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(qe, 0L)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      add("stream.queries", 1)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      counters.synchronized {
        counters("stream.batches") += 1
        counters("stream.trigger_ms") += d("triggerExecution")
        counters("stream.add_batch_ms") += d("addBatch")
        counters("stream.wal_commit_ms") += d("walCommit")
        counters("stream.commit_offsets_ms") += d("commitOffsets")
        counters("stream.query_planning_ms") += d("queryPlanning")
        counters("stream.latest_offset_ms") += d("latestOffset")
        counters("stream.state_commit_ms") += p.stateOperators.map(_.commitTimeMs).sum
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        batches += ((start, d("triggerExecution").toLong))
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Marks a SQL execution whose plan (cached relations included) scans
    * the raw extracts; scan nodes carry their paths as "Location". Jobs
    * carry this execution id, which is not `QueryExecution.id`. */
  private def markRaw(id: Long, plan: SparkPlanInfo): Unit = {
    def reads(p: SparkPlanInfo): Boolean =
      p.metadata.get("Location").exists(l => rawDir.exists(d =>
        l.contains(new java.io.File(d).getAbsolutePath))) || p.children.exists(reads)
    if (reads(plan)) counters.synchronized(rawExecs += id)
  }

  /** Every node of an executed plan, through AQE wrappers, query stages
    * and subqueries (not into cached relations). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val here = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case other => Seq(other) ++ other.children.flatMap(nodes)
    }
    here ++ p.subqueries.flatMap(nodes)
  }

  private def scanPaths(plan: Seq[SparkPlan]): Seq[String] = plan.collect {
    case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toUri.getPath)
  }.flatten

  private def under(path: String, dir: Option[String]): Boolean =
    dir.exists(d => path.startsWith(new java.io.File(d).getAbsolutePath))

  /** CLIF output table a path belongs to: `<out>/<table>.parquet|csv`. */
  private def clifTable(path: String): Option[String] =
    if (!under(path, clifOut)) None
    else {
      val rel = path.stripPrefix(new java.io.File(clifOut.get).getAbsolutePath)
        .stripPrefix("/")
      val top = rel.takeWhile(_ != '/')
      if (top.endsWith(".parquet") || top.endsWith(".csv"))
        Some(top.substring(0, top.lastIndexOf('.')))
      else None
    }

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val ms = durationNs / 1e6
    val phases = qe.tracker.phases
    def phase(k: String): Double = phases.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val plan = nodes(qe.executedPlan)
    val fallback = plan.map(_.expressions.map(_.collect {
      case f: CodegenFallback => f
    }.size).sum).sum
    val writes = plan.collect {
      case d: DataWritingCommandExec => d.cmd
    }.collect { case i: InsertIntoHadoopFsRelationCommand =>
      (i.outputPath.toUri.getPath, i.fileFormat.isInstanceOf[CSVFileFormat])
    }
    counters.synchronized {
      counters("catalyst.query_executions") += 1
      counters("catalyst.analysis_ms") += phase("analysis")
      counters("catalyst.optimization_ms") += phase("optimization")
      counters("catalyst.planning_ms") += phase("planning")
      counters("exec.codegen_fallback_exprs") += fallback
      counters("clif.raw_scans") += scanPaths(plan).count(under(_, rawDir))
      writes.headOption match {
        case Some((path, csv)) =>
          clifTable(path).foreach { t =>
            counters(s"clif.${t}_ms") += ms
            counters(if (csv) "clif.csv_write_ms" else "clif.parquet_write_ms") += ms
          }
        case None =>
          scanPaths(plan).flatMap(clifTable).distinct.foreach { t =>
            counters(s"clif.${t}_ms") += ms
            counters("clif.validate_ms") += ms
          }
      }
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}

object Probe {

  /** Wall time inside [from, to] not covered by any of `intervals`: the
    * driver gap of that window. Overlapping jobs are merged first, so
    * concurrent jobs are not double-counted. */
  def uncovered(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (to - from) - covered
  }
}
