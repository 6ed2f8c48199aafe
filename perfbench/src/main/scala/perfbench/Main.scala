package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** The benchmark's JVM side. `run.py` builds it and passes:
  * `--mode run|dump|selftest --workload W --seed N --seconds S --trace 0|1
  *  --data DIR --work DIR --record FILE --expected FILE --rev REV`.
  *
  * A run is a single-process closed loop: one client issues the next
  * operation only after the previous one completed. It sets up once
  * (session plus inputs, counted from JVM start), makes one cold pass,
  * then warm passes until `--seconds` have elapsed, at least two.
  * Untraced runs report the end-to-end metrics. A traced run alternates
  * untraced and traced warm passes and reports per-layer metrics per
  * traced pass; its record holds every span. The last stdout line is
  * `PERFBENCH_RESULT <json>`.
  */
object Main {
  /** Span names, one per layer an operation passes through; `op` is the
    * operation's own self time, which no layer span covers. */
  val Layers = Seq("queries.build", "catalog.dml", "catalyst.plan", "exec.action",
    "streaming.batch", "pipelines.build", "graph.run_batch", "graph.write",
    "serving.push", "op")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a("mode") match {
      case "run" => run(a)
      case "dump" => Dump.run(a)
      case "selftest" => sys.exit(SelfTest.run(a))
    }
  }

  def session(): SparkSession = GraftSession.local(nproc)
  def nproc: Int = Runtime.getRuntime.availableProcessors

  def expected(file: String): Map[String, String] =
    Json.mapper.readTree(new java.io.File(file))
      .get("digests").properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap

  private def cpuNanos: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def loadAvg: Double =
    Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble

  /** Host CPU jiffies (total, steal) since boot: the share of time the
    * hypervisor gave to other guests shows in the run conditions. */
  private def cpuJiffies: (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong)
    (f.sum, if (f.length > 7) f(7) else 0L)
  }

  /** Hygiene between operations, outside the timed interval, as the
    * engine's own bench does it: drop cached data and leftover
    * checkpoint blocks. The temporary directories the queries create stay
    * until the run ends (the streaming queries reuse staged sources). */
  def tidy(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  final case class OpRecord(pass: Int, traced: Boolean, name: String,
                            seconds: Double, cpu: Double, error: Option[String],
                            counters: Map[String, Double])

  def run(a: Map[String, String]): Unit = {
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val workName = a("workload")
    val load0 = loadAvg
    val jiffies0 = cpuJiffies
    val wl = Workload(workName, seed, a("data"), a("work"),
      a.get("expected").map(expected).getOrElse(Map.empty))

    // set-up, counted from JVM start: the session, then the inputs
    val jvmStart = Clock.toNanos(ManagementFactory.getRuntimeMXBean.getStartTime)
    val s0 = System.nanoTime()
    val spark = session()
    val s1 = System.nanoTime()
    val inputs = wl.prepare(spark)
    val s2 = System.nanoTime()

    val collector = new Collector
    val tracer = new Tracer(false)
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    var listening = false

    def runPass(k: Int, trace: Boolean): Unit = {
      if (trace != listening) {
        if (trace) collector.register(spark) else collector.unregister(spark)
        listening = trace
      }
      tracer.on = trace
      wl.pass(k).foreach { op =>
        if (trace) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        val before = if (trace) collector.snapshot else Map.empty[String, Double]
        collector.writes.clear(); collector.batches.clear()
        val ctx = new Ctx(spark, tracer)
        tracer.op = ops.size
        val c0 = cpuNanos
        val t0 = System.nanoTime()
        val check = try Right(tracer.span("op")(op.run(ctx)))
          catch { case e: Throwable => Left(s"${op.name}: ${e.toString.take(500)}") }
        val t1 = System.nanoTime()
        val c1 = cpuNanos
        tidy(spark)
        var counters = ctx.counts
        if (trace) {
          org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
          val after = collector.snapshot
          counters ++= after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
          counters += "streaming.state_mem_mb" -> after.getOrElse("streaming.state_mem_mb", 0.0)
          ctx.build.foreach { case (s, e) =>
            counters += "queries.build_jobs" ->
              collector.jobStarts.count(t => t >= s && t <= e).toDouble
          }
          ctx.derive.foreach {
            case (parent, "graph.write") => collector.writes.foreach {
              case (table, s, e) => tracer.add(s"graph.write.$table", parent, s, e)
            }
            case (parent, kind) => collector.batches.foreach {
              case (s, e) => tracer.add(kind, parent, s, e)
            }
          }
        }
        val error = check.fold(Some(_), c =>
          try c() catch { case e: Throwable => Some(s"${op.name}: check failed: $e") })
        error.foreach(e => System.err.println(s"[perfbench] FAILED $e"))
        ops += OpRecord(k, trace, op.name, (t1 - t0) / 1e9, (c1 - c0) / 1e9,
          error, counters)
      }
    }

    runPass(0, trace = false)
    val warmStart = System.nanoTime()
    var k = 1
    // at least two warm passes; traced runs alternate untraced and traced
    // passes, at least three, so the traced pass sits between two untraced
    // ones and warm-up does not bias the tracing overhead
    def done = k > (if (traced) 3 else 2) &&
      (System.nanoTime() - warmStart) / 1e9 >= seconds
    while (!done) { runPass(k, trace = traced && k % 2 == 0); k += 1 }
    val load1 = loadAvg
    val jiffies1 = cpuJiffies

    def median(xs: Seq[Double]) = {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
    def passes(trace: Boolean) = ops.filter(o => o.pass > 0 && o.traced == trace)
      .groupBy(_.pass).values.toSeq
    val warm = passes(false)
    val passSeconds = warm.map(_.map(_.seconds).sum)
    val passMean = passSeconds.sum / passSeconds.size

    val memBeans = ManagementFactory.getMemoryPoolMXBeans.asScala
    def poolPeakMb(p: java.lang.management.MemoryPoolMXBean => Boolean) =
      memBeans.filter(p).map(_.getPeakUsage.getUsed).sum / 1e6
    val rssMb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1e3).get

    val endToEnd = Map(
      "setup_s" -> ((s2 - jvmStart) / 1e9, "s"),
      "cold_pass_s" -> (ops.filter(_.pass == 0).map(_.seconds).sum, "s"),
      "pass_s" -> (passMean, "s"),
      "latency_p50_s" -> (median(warm.flatten.map(_.seconds)), "s"),
      "cpu_s" -> (warm.flatten.map(_.cpu).sum / warm.size, "s"),
      "peak_rss_mb" -> (rssMb, "MB"))

    val layers: Map[String, (Double, String)] = if (!traced) Map.empty else {
      val tp = passes(true)
      val n = tp.size.toDouble
      val tOps = tp.flatten
      def per(k: String) = tOps.map(_.counters.getOrElse(k, 0.0)).sum / n
      val self = tracer.selfTimes
      val byLayer = tracer.spans.groupBy { s =>
        if (s.name.startsWith("graph.write.")) "graph.write" else s.name
      }.map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e9 / n }
      def spanSum(name: String) = tracer.spans.filter(_.name == name)
        .map(s => (s.end - s.start) / 1e9).sum / n
      val tracedWall = tOps.map(_.seconds).sum / n
      val trigger = per("streaming.trigger_s")
      val counterNames = Seq("exec.jobs", "exec.stages", "exec.tasks",
        "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "exec.scheduler_delay_s",
        "exec.action_s", "exec.sql_executions",
        "exchange.write_mb", "exchange.read_mb", "exchange.write_s",
        "exchange.fetch_wait_s", "spill.mb", "scan.input_mb", "scan.input_rows",
        "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
        "op.sort_s", "op.agg_s", "op.scan_s", "op.broadcast_build_s",
        "graph.output_mb", "graph.output_files", "serving.item_writes",
        "serving.batch_writes", "queries.build_jobs",
        "streaming.batches", "streaming.trigger_s", "streaming.add_batch_s",
        "streaming.query_planning_s", "streaming.wal_commit_s",
        "streaming.commit_offsets_s", "streaming.latest_offset_s",
        "streaming.state_commit_s", "streaming.state_rows")
      def unit(k: String) =
        if (k.endsWith("_s")) "s" else if (k.endsWith("_mb") || k.endsWith(".mb")) "MB"
        else "count"
      val writeTables = tracer.spans.map(_.name).filter(_.startsWith("graph.write."))
        .distinct.sorted
      counterNames.map(k => k -> (per(k), unit(k))).toMap ++ Map(
        "core.session_s" -> ((s1 - s0) / 1e9, "s"),
        "input.generate_s" -> ((s2 - s1) / 1e9, "s"),
        "queries.build_s" -> (spanSum("queries.build"), "s"),
        "catalog.dml_s" -> (spanSum("catalog.dml"), "s"),
        "pipelines.build_s" -> (spanSum("pipelines.build"), "s"),
        "graph.run_batch_s" -> (spanSum("graph.run_batch"), "s"),
        "serving.push_s" -> (spanSum("serving.push"), "s"),
        "exec.slot_use" -> (per("exec.task_run_s") / (tracedWall * nproc), "ratio"),
        "op.peak_mem_mb" -> (if (tOps.isEmpty) 0.0
          else tOps.map(_.counters.getOrElse("op.peak_mem_mb", 0.0)).max, "MB"),
        "streaming.state_mem_mb" -> (if (tOps.isEmpty) 0.0
          else tOps.map(_.counters.getOrElse("streaming.state_mem_mb", 0.0)).max, "MB"),
        "streaming.overhead_share" -> (if (trigger > 0)
          (trigger - per("streaming.add_batch_s")) / trigger else 0.0, "ratio"),
        "trace.pass_s" -> (tracedWall, "s"),
        "trace.overhead_s" -> (tracedWall - passMean, "s"),
        "trace.covered_share" -> (byLayer.filter(_._1 != "op").values.sum /
          byLayer.values.sum, "ratio"),
        "jvm.gc_s" -> (ManagementFactory.getGarbageCollectorMXBeans.asScala
          .map(_.getCollectionTime).sum / 1e3, "s"),
        "jvm.heap_peak_mb" -> (poolPeakMb(_.getType ==
          java.lang.management.MemoryType.HEAP), "MB"),
        "jvm.code_cache_peak_mb" -> (poolPeakMb(_.getName.startsWith("CodeHeap")), "MB")
      ) ++ byLayer.map { case (l, v) => s"self.$l" -> (v, "s") } ++
        writeTables.map(w => s"${w}_s" -> (spanSum(w), "s")) ++
        Layers.map(l => s"share.$l" -> (byLayer.getOrElse(l, 0.0) / tracedWall, "ratio"))
    }

    val attempted = ops.size
    val failed = ops.count(_.error.nonEmpty)
    val conditions = Map(
      "workload" -> workName, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "nproc" -> nproc,
      "load_avg_1m" -> Seq(load0, load1),
      "cpu_steal_share" -> (jiffies1._2 - jiffies0._2).toDouble /
        math.max(1L, jiffies1._1 - jiffies0._1),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "revision" -> a.getOrElse("rev", "unknown"),
      "inputs" -> inputs,
      "jvm_start_s" -> (s0 - jvmStart) / 1e9,
      "session_conf" -> spark.conf.getAll.filter { case (key, _) =>
        key.startsWith("spark.graft.") || key.startsWith("spark.sql.")
      }.toSeq.sorted.toMap,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version)
    val metrics = (endToEnd ++ layers).map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u) }
    val result = Map("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics)

    a.get("record").foreach { f =>
      val record = Map("conditions" -> conditions, "result" -> result,
        "passes" -> (k - 1),
        "ops" -> ops.map(o => Map("pass" -> o.pass, "traced" -> o.traced,
          "name" -> o.name, "seconds" -> o.seconds, "cpu_s" -> o.cpu,
          "error" -> o.error.orNull) ++
          (if (o.traced) Map("counters" -> o.counters) else Map.empty)),
        "spans" -> (if (!traced) Nil else {
          val self = tracer.selfTimes
          tracer.spans.sortBy(_.start).map(s => Map("id" -> s.id,
            "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
            "start_s" -> (s.start - warmStart) / 1e9,
            "dur_s" -> (s.end - s.start) / 1e9, "self_s" -> self(s.id) / 1e9))
        }))
      Files.writeString(Paths.get(f), Json(record) + "\n")
    }
    System.err.println(s"[perfbench] conditions ${Json(conditions)}")
    println("PERFBENCH_RESULT " + Json(result))
    spark.stop()
  }
}

/** JSON rendering of the records and the result line. */
object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
