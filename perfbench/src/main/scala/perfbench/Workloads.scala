package perfbench

import java.io.File
import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import graft.graph.Runner
import graft.pipelines.TransactionsPipeline
import graft.queries._
import graft.serving.{EmbeddedKVSink, EmbeddedKVStore, ServingJobs}

/** One operation of a pass. `run` does the timed work and returns the
  * check of its output, which the benchmark runs outside the timed
  * interval; the check yields an error message or None. */
final case class Op(name: String, run: Ctx => Ctx.Check)

object Ctx { type Check = () => Option[String] }

/** What an operation runs against. */
final class Ctx(val spark: SparkSession, val trace: Tracer) {
  /** Spans to derive after the operation: (parent span, kind). */
  var derive: List[(Int, String)] = Nil
  /** Named counters the operation reports directly (exact store counts). */
  var counts: Map[String, Double] = Map.empty
  /** Interval of the build span, to count the Spark jobs it launched. */
  var build: Option[(Long, Long)] = None
}

sealed trait Workload {
  /** Generates (or locates) and checks the inputs; returns their sizes. */
  def prepare(spark: SparkSession): Map[String, Any]
  /** The operations of pass `k`, in seed-permuted order. */
  def pass(k: Int): Seq[Op]
}

object Workload {
  /** The 58 gold-table read queries and the 31 streaming, CDC and catalog
    * commit queries; each has an oracle-verified digest. */
  val GoldAll: Seq[Q] = RelationalQueries.qs ++ WindowQueries.qs ++
    JoinQueries.qs ++ NestedQueries.qs ++ AggPnlQueries.qs ++
    ReferralQueries.qs ++ FunnelQueries.qs ++ TimeSeriesQueries.qs
  val StreamAll: Seq[Q] = StreamingQueries.qs ++ CdcQueries.qs ++ CatalogQueries.qs
  /** What one run can afford: a warm pass over all 31 commit queries takes
    * about 50 s on a 4-core host (65 s cold), and a whole run, with two
    * warm passes, has about 60 s. So each workload runs a fixed systematic
    * sample in declaration order, and no seed changes the work: every
    * fourth commit query from the second (8: five micro-batch queries, one
    * CDC merge, two catalog commits; about 11 s warm), and every third gold
    * query from the first (20 of 58, seven of the eight families; the 8 s
    * leaderboard q68 falls out). */
  val Gold: Seq[Q] = GoldAll.zipWithIndex.collect { case (q, i) if i % 3 == 0 => q }
  val Stream: Seq[Q] = StreamAll.zipWithIndex.collect { case (q, i) if i % 4 == 1 => q }
  private val catalogNames = CatalogQueries.qs.map(_.name).toSet

  def apply(name: String, seed: Long, data: String, work: String,
            expected: Map[String, String]): Workload = name match {
    case "gold-reads" => new Queries(Gold, seed, data, expected)
    case "stream-commits" => new Queries(Stream, seed, data, expected)
    case "medallion-refresh" =>
      new Medallion(Bronze(hours = 12, txPerHour = 100, authorities = 100),
        seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Builds the query, plans it, materializes its full result and checks
    * the result's digest against the oracle-verified one. */
  def queryOp(q: Q, data: String, expected: Map[String, String]): Op =
    Op(q.name, { c =>
      val build = if (catalogNames(q.name)) "catalog.dml" else "queries.build"
      val t0 = System.nanoTime()
      val df = c.trace.span(build)(q.run(c.spark, data))
      c.build = Some((t0, System.nanoTime()))
      c.derive = List((c.trace.lastClosed, "streaming.batch"))
      c.trace.span("catalyst.plan")(df.queryExecution.executedPlan)
      val rows = c.trace.span("exec.action")(df.collect())
      () => {
        val got = Digest.of(df.schema, rows)
        expected.get(q.name) match {
          case None => Some(s"${q.name}: no expected digest")
          case Some(want) if want != got => Some(s"${q.name}: digest $got, expected $want")
          case _ => None
        }
      }
    })

  final class Queries(qs: Seq[Q], seed: Long, data: String,
                      expected: Map[String, String]) extends Workload {
    def prepare(spark: SparkSession): Map[String, Any] = {
      val rows = graft.tables.Tables.names.map { t =>
        t -> graft.tables.Tables.load(spark, data, t).count()
      }.toMap
      rows.foreach { case (t, n) =>
        if (n == 0) throw new IllegalStateException(s"input table $t is empty")
      }
      val missing = qs.map(_.name).filterNot(expected.contains)
      if (missing.nonEmpty)
        throw new IllegalStateException(s"no expected digest for ${missing.mkString(",")}")
      Map("data" -> new File(data).getName, "queries" -> qs.size) ++
        rows.map { case (t, n) => s"rows.$t" -> n }
    }
    def pass(k: Int): Seq[Op] =
      new Random(seed * 1000003L + k).shuffle(qs).map(queryOp(_, data, expected))
  }

  /** One hourly refresh: build the transactions DAG over the seeded bronze
    * data, materialize every table, and push three gold tables to the KV
    * store; the check compares outputs with the generator's ground truth. */
  final class Medallion(b: Bronze, seed: Long, work: String) extends Workload {
    private val in = s"$work/bronze"
    private val out = s"$work/lake"
    private val store = "perfbench"
    /** Ground truth of the generated inputs, and the last refresh's tables. */
    var truth: Truth = _
    var paths: Map[String, String] = Map.empty

    def prepare(spark: SparkSession): Map[String, Any] = {
      val g = b.generate(seed)
      b.write(spark, g, in)
      truth = g.truth
      Map("hours" -> b.hours, "transactions" -> g.transactions.size,
        "instructions" -> g.transactions.map(_.getSeq[Row](1).size).sum,
        "pnl_rows" -> g.pnl.size, "authorities" -> b.authorities)
    }

    def pass(k: Int): Seq[Op] = Seq(Op("hourly_refresh", refresh))

    private def refresh(c: Ctx): Ctx.Check = {
      val s = c.spark
      val conf = graft.core.Conf(b.asOf)
      def src(n: String) = Some(() => s.read.parquet(s"$in/$n"))
      val reg = c.trace.span("pipelines.build")(TransactionsPipeline.build(s,
        () => s.read.parquet(s"$in/raw_transactions"),
        zetagroupMapping = src("zetagroup_mapping"), markets = src("markets"),
        rawPnl = src("raw_pnl"), pubkeyLabel = src("pubkey_label"), conf = conf))
      paths = c.trace.span("graph.run_batch")(Runner.runBatch(reg, out))
      c.derive = List((c.trace.lastClosed, "graph.write"))
      val sink = new EmbeddedKVSink(store)
      c.trace.span("serving.push") {
        ServingJobs.servePnlSnapshots(s.read.parquet(paths("cleaned_pnl")),
          conf, sink, "pnl")
        ServingJobs.serveTable(s.read.parquet(paths("fee_tiers")), sink,
          "fee_tiers", hashKey = "authority", rangeKey = Some("blockTime"))
        ServingJobs.serveSnapshot(s.read.parquet(paths("agg_ix_trade_asset_1h")),
          "timestamp", "asset", Seq("trade_count", "volume"), conf, sink,
          "agg_ix_trade_asset_1h")
      }
      val kv = EmbeddedKVStore(store)
      val tables = truth.kvItems.keys.toSeq
      c.counts = Map(
        "serving.item_writes" -> tables.map(kv.itemWriteCount).sum.toDouble,
        "serving.batch_writes" -> tables.map(kv.batchWriteCount).sum.toDouble)
      val (p, t) = (paths, truth)
      () => Medallion.check(s, p, t, kv).headOption
    }
  }

  object Medallion {
    /** Every mismatch between the refresh's outputs and the ground truth. */
    def check(s: SparkSession, paths: Map[String, String], t: Truth,
              kv: EmbeddedKVStore): Seq[String] = {
      def hour(r: Row) = r.getTimestamp(0).getTime / 1000L
      val cleaned = s.read.parquet(paths("cleaned_transactions")).count()
      val trades = s.read.parquet(paths("agg_ix_trade_1h"))
        .select("timestamp", "trade_count", "volume").collect()
        .map(r => hour(r) -> (r.getLong(1), r.getDouble(2))).toMap
      def sums(table: String, col: String) = s.read.parquet(paths(table))
        .select("timestamp", "authority", col).collect()
        .map(r => (hour(r), r.getString(1)) -> r.getDouble(2)).toMap
      def exact[K](m: Map[K, BigDecimal]) = m.map { case (k, v) => k -> Bronze.surfaced(v) }
      val want = exact(t.tradesByHour.map { case (h, (_, v)) => h -> v })
      Seq(
        Option.when(cleaned != t.successful)(
          s"cleaned_transactions: $cleaned rows, expected ${t.successful}"),
        Option.when(trades.map { case (h, (n, _)) => h -> n } !=
            t.tradesByHour.map { case (h, (n, _)) => h -> n })(
          "agg_ix_trade_1h: per-hour trade_count differs"),
        Option.when(trades.map { case (h, (_, v)) => h -> v } != want)(
          "agg_ix_trade_1h: per-hour volume differs"),
        Option.when(sums("agg_ix_deposit_user_1h", "deposit_amount") != exact(t.deposits))(
          "agg_ix_deposit_user_1h: per-(hour, authority) deposit sums differ"),
        Option.when(sums("agg_ix_withdraw_user_1h", "withdraw_amount") != exact(t.withdraws))(
          "agg_ix_withdraw_user_1h: per-(hour, authority) withdraw sums differ")
      ).flatten ++ t.kvItems.toSeq.sorted.flatMap { case (table, n) =>
        val got = kv.itemCount(table)
        Option.when(got != n)(s"KV $table: $got items, expected $n")
      }
    }
  }
}
