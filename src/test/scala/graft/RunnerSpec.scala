package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{ManifestStore, Mode, Registry, Runner, TableDef, WriteMode}
import graft.pipelines.EventsPipeline

/** Streaming-vs-batch equivalence of the whole medallion DAG: the same
  * transforms produce identical gold tables whether the bronze source is
  * a batch scan or a micro-batched file stream. */
class RunnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sf0001

  test("streaming run (AvailableNow) equals batch run for the events DAG") {
    val reg = EventsPipeline.build(spark, d)
    val batchDir = Files.createTempDirectory("runner_batch").toString
    val streamDir = Files.createTempDirectory("runner_stream").toString

    val batchOut = Runner.runBatch(reg, batchDir)

    // stream the same parquet through a file-stream source;
    // the source needs a directory, so glob down to the one table
    val streamOut = Runner.runStreamingThenFull(spark, reg,
      Map("raw_events" -> (() =>
        graft.tables.Tables.normalize("events",
          spark.readStream.schema(
            spark.read.parquet(s"$d/events.parquet").schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(d)))),
      streamDir)

    for (tbl <- Seq("agg_events_24h_rolling", "serving_events")) {
      val b = spark.read.parquet(batchOut(tbl))
      val s = spark.read.parquet(streamOut(tbl))
      assert(b.count() === s.count(), tbl)
      assert(b.exceptAll(s).count() === 0, s"$tbl batch minus stream")
      assert(s.exceptAll(b).count() === 0, s"$tbl stream minus batch")
    }
  }

  // K3 (zetadex-mm-uptime-pipeline-v3.sql:151–157): the hourly
  // `mode("append").saveAsTable` cadence, as idempotent dynamic partition
  // overwrite — a retried run must NOT double rows.
  test("WriteMode.Append: re-running the same batch does not double rows") {
    val sp = spark
    import sp.implicits._
    val out = Files.createTempDirectory("runner_append").toString
    def reg(hours: Seq[(String, Long)]): Registry = {
      val r = new Registry(sp)
      r.source("uptime_feed", () => hours.toDF("hour_", "seconds_up"))
      r.register(TableDef("cleaned_mm_uptime", Seq("uptime_feed"),
        { case Seq(u) => u }, mode = Mode.Full,
        partitionCols = Seq("hour_"), writeMode = WriteMode.Append))
      // a consumer sees the plan's column order, not the partition
      // column moved to the end by the read of the written table
      r.register(TableDef("uptime_copy", Seq("cleaned_mm_uptime"),
        { case Seq(u) => u }, mode = Mode.Full))
      r
    }
    Runner.runBatch(reg(Seq("h00" -> 10L, "h01" -> 20L)), out)
    // the retried hourly batch: h01 recomputed (new value) + new hour h02
    Runner.runBatch(reg(Seq("h01" -> 25L, "h02" -> 30L)), out)
    // and an exact re-run of that same batch (the idempotence claim)
    Runner.runBatch(reg(Seq("h01" -> 25L, "h02" -> 30L)), out)
    val got = sp.read.parquet(s"$out/cleaned_mm_uptime")
      .select("hour_", "seconds_up").as[(String, Long)].collect().toSet
    assert(got === Set("h00" -> 10L, "h01" -> 25L, "h02" -> 30L),
      "untouched partitions survive, recomputed ones replace, no doubles")
    assert(sp.read.parquet(s"$out/uptime_copy").columns.toSeq === Seq("hour_", "seconds_up"))
  }

  test("WriteMode.Upsert: batch runs merge into the existing table by key") {
    val sp = spark
    import sp.implicits._
    val out = Files.createTempDirectory("runner_upsert").toString
    def reg(rows: Seq[(Long, Long, String)]): Registry = {
      val r = new Registry(sp)
      r.source("cdc_feed", () => rows.toDF("k", "seq", "v"))
      r.register(TableDef("latest", Seq("cdc_feed"),
        { case Seq(c) => c }, mode = Mode.Full,
        writeMode = WriteMode.Upsert(Seq("k"), "seq")))
      r
    }
    Runner.runBatch(reg(Seq((1L, 1L, "a"), (2L, 1L, "b"))), out)
    // newer seq wins, older loses, new key inserts; replay is idempotent
    Runner.runBatch(reg(Seq((1L, 5L, "A"), (2L, 0L, "stale"), (3L, 1L, "c"))), out)
    Runner.runBatch(reg(Seq((1L, 5L, "A"), (2L, 0L, "stale"), (3L, 1L, "c"))), out)
    val got = sp.read.parquet(s"$out/latest")
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(got === Set(1L -> "A", 2L -> "b", 3L -> "c"))
  }

  // The 100 TB shape: a partitioned upsert must not rewrite partitions
  // the batch doesn't touch — pinned PHYSICALLY (same parquet files, not
  // just same rows).
  test("WriteMode.Upsert with partitionCols leaves untouched partitions' files intact") {
    val sp = spark
    import sp.implicits._
    val out = Files.createTempDirectory("runner_upsert_pruned").toString
    // bucket is a stable function of the key — the precondition for
    // partition-pruned merging
    def reg(rows: Seq[(Long, Long, String)]): Registry = {
      val r = new Registry(sp)
      r.source("cdc_feed", () => rows.toDF("k", "seq", "v")
        .withColumn("bucket", pmod(col("k"), lit(2)).cast("int")))
      r.register(TableDef("latest", Seq("cdc_feed"), { case Seq(c) => c },
        mode = Mode.Full, partitionCols = Seq("bucket"),
        writeMode = WriteMode.Upsert(Seq("k"), "seq")))
      r
    }
    // manifest layout (round 11): the table's files live under committed
    // generation dirs; "untouched" is now provable from the manifest
    // itself (the entry still points into the OLD generation) AND from
    // the physical file listing of that directory
    def fsOf = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(sp.sessionState.newHadoopConf())
    def entryOf(bucket: Int): String =
      ManifestStore.readManifest(fsOf, s"$out/latest").get
        .entries(s"bucket=$bucket")
    def filesOf(entry: String): Set[String] =
      fsOf.listStatus(new org.apache.hadoop.fs.Path(s"$out/latest/$entry"))
        .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
    Runner.runBatch(reg(Seq((1L, 1L, "a"), (2L, 1L, "b"), (4L, 1L, "d"))), out)
    val evenEntryBefore = entryOf(0)
    val evenFilesBefore = filesOf(evenEntryBefore)
    // second batch touches only odd keys → only bucket=1 rewrites
    Runner.runBatch(reg(Seq((1L, 5L, "A"), (3L, 1L, "c"))), out)
    assert(entryOf(0) === evenEntryBefore,
      "bucket=0 was not in the batch — it must carry forward by reference")
    assert(filesOf(evenEntryBefore) === evenFilesBefore,
      "bucket=0's physical files must be untouched")
    assert(entryOf(1) !== evenEntryBefore.replace("bucket=0", "bucket=1"))
    val got = ManifestStore.read(sp, s"$out/latest")
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(got === Set(1L -> "A", 2L -> "b", 3L -> "c", 4L -> "d"))
  }

  // A consumer of a stateful (Upsert/Append) table must read the
  // ACCUMULATED on-disk table, not re-derive the plan from this run's
  // sources — otherwise the second run's summary would only see the
  // second run's keys.
  test("downstream of an Upsert table reads merged history, not the run's plan") {
    val sp = spark
    import sp.implicits._
    val out = Files.createTempDirectory("runner_upsert_dag").toString
    def reg(rows: Seq[(Long, Long, String)]): Registry = {
      val r = new Registry(sp)
      r.source("cdc_feed", () => rows.toDF("k", "seq", "v"))
      r.register(TableDef("latest", Seq("cdc_feed"), { case Seq(c) => c },
        mode = Mode.Full, writeMode = WriteMode.Upsert(Seq("k"), "seq")))
      r.register(TableDef("summary", Seq("latest"), { case Seq(l) =>
        l.agg(count(lit(1)).as("n_keys"))
      }, mode = Mode.Full))
      r
    }
    Runner.runBatch(reg(Seq((1L, 1L, "a"), (2L, 1L, "b"))), out)
    Runner.runBatch(reg(Seq((3L, 1L, "c"))), out)
    val n = sp.read.parquet(s"$out/summary").head().getLong(0)
    assert(n === 3L, "summary must count keys {1,2,3}, not just run 2's {3}")
  }

  // Crash window of the generation swap: target deleted, backup intact.
  // The next merge must restore the backup and converge, not treat the
  // table as empty.
  test("upsertParquet recovers the backup generation after a crashed swap") {
    val sp = spark
    import sp.implicits._
    val out = Files.createTempDirectory("runner_upsert_crash").toString
    val path = s"$out/latest"
    Runner.upsertParquet(path, Seq("k"), "seq")(
      Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("k", "seq", "v"))
    // simulate the crash point between the two renames: the old
    // generation sits at .old, the target is gone
    Files.move(java.nio.file.Path.of(path), java.nio.file.Path.of(path + ".old"))
    Runner.upsertParquet(path, Seq("k"), "seq")(
      Seq((2L, 5L, "B")).toDF("k", "seq", "v"))
    val got = sp.read.parquet(path)
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(got === Set(1L -> "a", 2L -> "B"),
      "key 1 must survive via the restored backup generation")
  }

  // Pruned rewrite + schema evolution: a batch missing a column that
  // exists on disk must not erase that column from untouched keys in the
  // partitions it rewrites. (Partitioned upserts publish through the
  // manifest store since round 11 — readers resolve the manifest.)
  test("pruned upsert keeps on-disk columns absent from the batch") {
    val sp = spark
    import sp.implicits._
    val out = Files.createTempDirectory("runner_upsert_evo").toString
    val path = s"$out/latest"
    ManifestStore.upsert(path, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 1L, "a", "x1", 0), (3L, 1L, "c", "x3", 0))
        .toDF("k", "seq", "v", "extra", "bucket"))
    // later producer drops 'extra'; batch touches bucket 0 via key 1 only
    ManifestStore.upsert(path, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 5L, "A", 0)).toDF("k", "seq", "v", "bucket"))
    val rows = ManifestStore.read(sp, path)
      .select("k", "v", "extra").collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2))).toMap
    assert(rows(1L) === ("A", null), "updated key takes the batch's shape")
    assert(rows(3L) === ("c", "x3"),
      "untouched key in the rewritten partition keeps its extra column")
  }

  // The dlt.read contract: consumers read each written table instead of
  // re-deriving it, and independent tables are written concurrently —
  // neither may change what any table holds. File reads report every
  // column nullable, so the written table's nullability can be looser
  // than the plan's; names, types and rows must be equal. Set operations
  // cannot compare maps, so map-bearing columns compare as JSON.
  test("runBatch writes every TransactionsPipeline table equal to its fused plan") {
    val reg = TransactionsPipelineSpec.registry(spark, withBurns = true)
    val out = Files.createTempDirectory("runner_tx_equiv").toString
    val paths = Runner.runBatch(reg, out)
    assert(paths.keySet === reg.tableNames.toSet)
    assert(paths.size === 20)
    def shape(s: StructType): Seq[(String, String)] =
      s.fields.toSeq.map(f => f.name -> f.dataType.catalogString)
    def comparable(df: DataFrame): DataFrame = df.select(df.schema.fields.toSeq.map(f =>
      if (f.dataType.catalogString.contains("map<")) to_json(col(f.name)).as(f.name)
      else col(f.name)): _*)
    for (name <- reg.tableNames) {
      val fused = reg.resolve(name)
      val written = spark.read.parquet(paths(name))
      assert(shape(written.schema) === shape(fused.schema), name)
      assert(written.count() > 0, s"$name must be non-empty in the fixture")
      val (w, f) = (comparable(written), comparable(fused))
      assert(w.exceptAll(f).isEmpty, s"$name written minus fused")
      assert(f.exceptAll(w).isEmpty, s"$name fused minus written")
    }
  }

  private def runnerThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-runner")).toSet

  test("a failing table fails runBatch with its own exception; consumers are not written") {
    val sp = spark
    import sp.implicits._
    val boom = new IllegalStateException("transform failed")
    val failAt = udf((k: Long) => if (k == 3L) throw new ArithmeticException("row 3") else k)
    val out = Files.createTempDirectory("runner_fail").toString
    def reg(failing: TableDef): Registry = {
      val r = new Registry(sp)
      r.source("feed", () => (1L to 4L).toDF("k"))
      r.register(TableDef("ok", Seq("feed"), { case Seq(f) => f }))
      r.register(failing)
      r.register(TableDef("after", Seq("bad", "ok"), { case Seq(b, o) => b.union(o) }))
      r
    }
    val thrown = intercept[IllegalStateException](Runner.runBatch(
      reg(TableDef("bad", Seq("feed"), _ => throw boom)), out))
    assert(thrown eq boom, "the transform's exception, unwrapped")
    assert(runnerThreads.isEmpty, "no pool thread outlives the call")
    assert(!Files.exists(java.nio.file.Path.of(s"$out/after")))
    val failed = intercept[SparkException](Runner.runBatch(
      reg(TableDef("bad", Seq("feed"), { case Seq(f) => f.select(failAt(col("k")).as("k")) })),
      out))
    assert(Iterator.iterate[Throwable](failed)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), "the write's own failure")
    assert(runnerThreads.isEmpty, "no pool thread outlives the call")
    assert(!Files.exists(java.nio.file.Path.of(s"$out/after")),
      "a consumer of the failed table must not be written")
  }

  test("jobs launched by runBatch carry the caller's job group") {
    val sp = spark
    import sp.implicits._
    val sc = sp.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .flatMap(Option(_)).getOrElse("<none>"))
    }
    val r = new Registry(sp)
    r.source("feed", () => (1L to 100L).toDF("k"))
    // three independent tables and a consumer: written concurrently
    Seq("a", "b", "c").foreach(n =>
      r.register(TableDef(n, Seq("feed"), { case Seq(f) => f.groupBy(col("k") % 7).count() })))
    r.register(TableDef("d", Seq("a", "b", "c"), { case Seq(a, b, c) => a.union(b).union(c) }))
    val out = Files.createTempDirectory("runner_group").toString
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("runner-spec-group", "refresh", interruptOnCancel = true)
      try Runner.runBatch(r, out) finally sc.clearJobGroup()
      // job starts reach listeners in submission order: once this
      // sentinel's start is seen, every job of the run has been seen
      sc.setJobGroup("runner-spec-sentinel", "sentinel")
      try sp.range(1).collect() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("runner-spec-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    val seen = groups.asScala.toSeq.takeWhile(_ != "runner-spec-sentinel")
    assert(seen.nonEmpty)
    assert(seen.forall(_ == "runner-spec-group"), seen.distinct)
  }
}
