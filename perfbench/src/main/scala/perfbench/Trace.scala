package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. `op` groups the spans of one
  * operation; `parent` is the span that caused this one (-1 for an
  * operation's root). Times are `System.nanoTime` values. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      start: Long, end: Long)

/** In-memory span recorder. With tracing off every call just runs its
  * body, so untraced and traced runs execute the same code. */
final class Tracer(var on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1
  /** Id of the span that closed last — the parent for spans derived
    * afterwards from listener records. */
  var lastClosed: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, name, start, System.nanoTime())
        lastClosed = id
      }
    }

  /** A span known only from a listener record, clipped to its parent. */
  def add(name: String, parent: Int, start: Long, end: Long): Unit =
    if (on) spans.find(_.id == parent).foreach { p =>
      val s = math.max(start, p.start); val e = math.min(end, p.end)
      if (e > s) { spans += Span(nextId, parent, op, name, s, e); nextId += 1 }
    }

  /** Self time of every span: its duration minus the union of its
    * children's intervals. */
  def selfTimes: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        .sortBy(_._1).foldLeft((0L, Long.MinValue)) {
          case ((sum, reach), (a, b)) =>
            val from = math.max(a, reach)
            if (b > from) (sum + b - from, b) else (sum, reach)
        }._1
      s.id -> (s.end - s.start - covered)
    }.toMap
  }
}

/** Wall-clock milliseconds (listener timestamps) to `nanoTime`. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def toNanos(epochMs: Long): Long = baseNs + (epochMs - baseMs) * 1000000L
}

/** Listeners the benchmark registers on the session it times: task and
  * stage records (SparkListener), per-query Catalyst phases and final-plan
  * SQL metrics (QueryExecutionListener), and micro-batch progress
  * (StreamingQueryListener). Counters only ever grow; the benchmark reads
  * differences around each operation after draining the listener bus. */
final class Collector {
  private val c = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  /** Table writes seen by the QueryExecutionListener: (table, start, end). */
  val writes = mutable.ArrayBuffer.empty[(String, Long, Long)]
  /** Micro-batches: (start, end). */
  val batches = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Job start times, to count the jobs launched inside a span. */
  val jobStarts = mutable.ArrayBuffer.empty[Long]
  private val stateRows = mutable.HashMap.empty[java.util.UUID, Long]

  private def add(k: String, v: Double): Unit = c(k) += v

  def snapshot: Map[String, Double] = synchronized {
    c.toMap ++ Map("streaming.state_rows" -> stateRows.values.sum.toDouble)
  }

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Collector.this.synchronized {
      add("exec.jobs", 1); jobStarts += Clock.toNanos(e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Collector.this.synchronized { add("exec.stages", 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Collector.this.synchronized {
      val m = e.taskMetrics
      add("exec.tasks", 1)
      if (m != null) {
        add("exec.task_run_s", m.executorRunTime / 1e3)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("exec.scheduler_delay_s", math.max(0L, e.taskInfo.duration -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - e.taskInfo.gettingResultTime) / 1e3)
        add("exchange.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("exchange.write_s", m.shuffleWriteMetrics.writeTime / 1e9)
        add("exchange.read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        add("exchange.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("spill.mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        add("scan.input_mb", m.inputMetrics.bytesRead / 1e6)
        add("scan.input_rows", m.inputMetrics.recordsRead.toDouble)
      }
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val end = System.nanoTime()
      val phases = qe.tracker.phases
      def phase(p: String) = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      val plan = Collector.nodes(qe.executedPlan)
      def metric(node: SparkPlan => Boolean, key: String): Double =
        plan.filter(node).flatMap(_.metrics.get(key)).map { m =>
          m.metricType match {
            case "timing" => m.value / 1e3
            case "nsTiming" => m.value / 1e9
            case _ => m.value.toDouble
          }
        }.sum
      def named(s: String)(p: SparkPlan) = p.nodeName.contains(s)
      Collector.this.synchronized {
        add("exec.sql_executions", 1)
        add("exec.action_s", durationNs / 1e9)
        add("catalyst.analysis_s", phase("analysis"))
        add("catalyst.optimization_s", phase("optimization"))
        add("catalyst.planning_s", phase("planning"))
        add("op.sort_s", metric(named("Sort"), "sortTime"))
        add("op.agg_s", metric(named("Aggregate"), "aggTime"))
        add("op.scan_s", metric(named("Scan"), "scanTime"))
        add("op.broadcast_build_s", metric(named("BroadcastExchange"), "buildTime"))
        add("op.peak_mem_mb", metric(_ => true, "peakMemory") / 1e6)
        plan.collect { case w: DataWritingCommandExec => w }.foreach { w =>
          add("graph.output_files", w.metrics.get("numFiles").map(_.value).getOrElse(0L).toDouble)
          add("graph.output_mb", w.metrics.get("numOutputBytes").map(_.value).getOrElse(0L) / 1e6)
          w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand =>
              writes += ((i.outputPath.getName, end - durationNs, end))
            case _ =>
          }
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Collector.this.synchronized {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Double =
          if (d.containsKey(k)) d.get(k).longValue / 1e3 else 0.0
        val trigger = ms("triggerExecution")
        add("streaming.batches", 1)
        add("streaming.trigger_s", trigger)
        add("streaming.add_batch_s", ms("addBatch"))
        add("streaming.query_planning_s", ms("queryPlanning"))
        add("streaming.wal_commit_s", ms("walCommit"))
        add("streaming.commit_offsets_s", ms("commitOffsets"))
        add("streaming.latest_offset_s", ms("latestOffset"))
        p.stateOperators.foreach { s =>
          add("streaming.state_commit_s", s.commitTimeMs / 1e3)
          c("streaming.state_mem_mb") =
            math.max(c("streaming.state_mem_mb"), s.memoryUsedBytes / 1e6)
        }
        stateRows(p.id) = p.stateOperators.map(_.numRowsTotal).sum
        val start = Clock.toNanos(java.time.Instant.parse(p.timestamp).toEpochMilli)
        batches += ((start, start + (trigger * 1e9).toLong))
      }
  }

  def register(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(spark)
    s.listenerManager.register(queries)
    s.streams.addListener(streams)
  }

  def unregister(s: SparkSession): Unit = {
    s.sparkContext.removeSparkListener(spark)
    s.listenerManager.unregister(queries)
    s.streams.removeListener(streams)
  }
}

object Collector {
  /** Every node of an executed plan, descending into AQE's final plan and
    * its query stages; a reused exchange is counted where it first ran. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case _ => p.children ++ p.subqueries
    }
    p +: kids.flatMap(nodes)
  }
}
