package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.pipelines.TransactionsPipeline

case class TxEvent(name: String, event: Map[String, String])
case class TxAccounts(named: Map[String, String], remaining: Seq[String])
case class TxIx(name: String, args: Map[String, String],
                accounts: TxAccounts, program_id: String, events: Seq[TxEvent])
case class Tx(signature: String, instructions: Seq[TxIx],
              is_successful: Boolean, slot: Long, block_time: Timestamp,
              fee: Int)
case class BurnCompressed(assetId: Seq[String])
case class BurnEvents(compressed: BurnCompressed)

/** The nested bronze fixture shared by the pipeline and runner specs:
  * every one of the 20 tables is non-empty when the burn feed and its
  * dim are supplied ([[registry]] with `withBurns`). */
object TransactionsPipelineSpec {
  def ts(s: String) = Timestamp.valueOf(s)
  private val acc = TxAccounts(Map("authority" -> "authA"), Seq.empty)
  // deposit/withdraw instructions carry the zetagroup key (TX:380–387);
  // order instructions carry the market key (TX:475–479)
  private val accZg = TxAccounts(
    Map("authority" -> "authA", "zeta_group" -> "zg1"), Seq.empty)
  private def accMkt(m: String) = TxAccounts(
    Map("authority" -> "authA", "market" -> m), Seq.empty)

  def fixture = Seq(
    Tx("sig1", Seq(
      TxIx("deposit", Map("amount" -> "1500000"), accZg, "zeta", Seq.empty),
      TxIx("place_perp_order_v3",
        Map("asset" -> "sol", "price" -> "2000000", "size" -> "5000",
          "side" -> "bid"),
        accMkt("mkt_sol"), "zeta", Seq(
          TxEvent("place_order_event", Map(
            "user" -> "authA", "asset" -> "SOL",
            "price" -> "2000000", "size" -> "5000", "order_id" -> "o1")),
          TxEvent("trade_event_v2", Map(
            "user" -> "authA", "asset" -> "SOL",
            "price" -> "2100000", "size" -> "3000"))))),
      true, 100L, ts("2024-01-05 09:00:00"), 5000),
    Tx("sig2", Seq(
      TxIx("crank_event_queue", Map.empty, acc, "zeta", Seq(
        TxEvent("trade_event", Map(
          "user" -> "mm1", "asset" -> "SOL",
          "price" -> "2100000", "size" -> "1000")),
        TxEvent("trade_event_v3", Map(
          "user" -> "mm2", "asset" -> "ETH",
          "price" -> "3000000", "size" -> "2000")),
        TxEvent("place_order_event", Map("user" -> "x"))))),
      true, 101L, ts("2024-01-05 09:30:00"), 5000),
    Tx("sig3", Seq(
      TxIx("place_order",
        Map("asset" -> "ETH", "price" -> "3000000", "size" -> "1000",
          "side" -> "ask"),
        accMkt("mkt_unknown"), "zeta", Seq(
          TxEvent("place_order_event", Map(
            "user" -> "authA", "asset" -> "ETH",
            "price" -> "3000000", "size" -> "1000", "order_id" -> "o2"))))),
      true, 102L, ts("2024-01-05 10:15:00"), 5000),
    Tx("sig4", Seq(
      TxIx("deposit", Map("amount" -> "999"), acc, "zeta", Seq.empty)),
      false, 103L, ts("2024-01-05 11:00:00"), 5000),
    Tx("sig5", Seq(
      TxIx("withdraw", Map("amount" -> "2500000"), accZg, "zeta", Seq.empty),
      TxIx("liquidate", Map.empty, acc, "zeta", Seq(
        TxEvent("liquidation_event", Map(
          "liquidator" -> "liq1", "liquidatee" -> "authA",
          "asset" -> "SOL", "size" -> "4000", "reward" -> "500000")))),
      TxIx("apply_funding", Map.empty, acc, "zeta", Seq(
        TxEvent("apply_funding_event", Map(
          "user" -> "authA", "asset" -> "SOL",
          "balance_change" -> "-250000")))),
      TxIx("cancel_order", Map.empty, acc, "zeta", Seq(
        TxEvent("order_complete_event", Map(
          "user" -> "authA", "asset" -> "ETH",
          "order_complete_type" -> "cancel", "unfilled_size" -> "1000"))))),
      true, 104L, ts("2024-01-05 11:30:00"), 5000))

  // margin-account snapshots for the pnl chain; the 10:00 rows join the
  // 09:00 deposit/withdraw hourly aggs through the +1h offset join
  def pnlFixture(sp: SparkSession) = {
    import sp.implicits._
    Seq(
      (ts("2024-01-05 09:00:00"), Option.empty[String], "authA",
        Option.empty[String], 100.0, 5.0),
      (ts("2024-01-05 10:00:00"), Option.empty[String], "ownerX",
        Option("authA"), 110.0, -5.0),
      (ts("2024-01-05 10:00:00"), Option.empty[String], "authB",
        Option("authB"), 50.0, 0.0),
      // non-null underlying → dropped by the V2 filter
      (ts("2024-01-05 10:00:00"), Option("SOL"), "authB",
        Option("authB"), 999.0, 0.0))
      .toDF("timestamp", "underlying", "owner_pub_key", "authority",
        "balance", "unrealized_pnl")
  }

  def burnFixture(sp: SparkSession) = {
    import sp.implicits._
    Seq(
      ("sigB1", BurnEvents(BurnCompressed(Seq("mintA"))), "authA",
        ts("2024-01-05 09:30:00"), 3),
      ("sigB2", BurnEvents(BurnCompressed(Seq("mintA"))), "authA",
        ts("2024-01-05 10:30:00"), 1), // overlaps hour 10 with sigB1
      (graft.core.Conf.ExcludedBurnSignature,
        BurnEvents(BurnCompressed(Seq("mintA"))), "authZ",
        ts("2024-01-05 09:30:00"), 1))
      .toDF("signature", "events", "feePayer", "timestamp", "duration")
  }

  def zpassFixture(sp: SparkSession) = {
    import sp.implicits._
    Seq(("mintA", "gold", 2.0, "s2"), ("mintB", "red", 1.5, "s2"))
      .toDF("mint", "color", "multiplier", "season")
  }

  def registry(sp: SparkSession, withBurns: Boolean = false) = {
    import sp.implicits._
    TransactionsPipeline.build(sp, () => fixture.toDF(),
      zetagroupMapping = Some(() =>
        Seq(("zg1", "SOL")).toDF("zetagroup_pub_key", "asset")),
      markets = Some(() =>
        Seq(("mkt_sol", "SOL"), ("mkt_eth", "ETH"))
          .toDF("market_pub_key", "asset")),
      rawPnl = Some(() => pnlFixture(sp)),
      rawBurnEvents = Option.when(withBurns)(() => burnFixture(sp)),
      zpassNfts = Option.when(withBurns)(() => zpassFixture(sp)))
  }
}

/** Hand-computed expectations over a deterministic nested fixture shaped
  * like the reference's bronze transactions (FIXTURES.md §1). */
class TransactionsPipelineSpec extends AnyFunSuite {
  import TransactionsPipelineSpec._
  private lazy val spark = TestSpark.spark

  private def registry = TransactionsPipelineSpec.registry(spark)
  private def pnlFixture = TransactionsPipelineSpec.pnlFixture(spark)

  test("cleaned_ix_deposit decodes fixed-point amounts from successful txs only") {
    val rows = registry.resolve("cleaned_ix_deposit").collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("authority") === "authA")
    assert(rows.head.getAs[Double]("amount") === 1.5)
    // zetagroup dim join resolved the asset (TX:380–387)
    assert(rows.head.getAs[String]("asset") === "SOL")
  }

  test("silver dim joins broadcast and coalesce to the event asset") {
    val reg = registry
    val po = reg.resolve("cleaned_ix_place_order")
    val rows = po.orderBy("signature").collect()
    // sig1: args say lowercase 'sol' but the market dim wins → 'SOL';
    // sig3: unknown market key → coalesce falls back to upper(args)
    assert(rows.map(_.getAs[String]("asset")).toSeq === Seq("SOL", "ETH"))
    val plan = po.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "market dim must broadcast, not shuffle")
    val tradePlan = reg.resolve("cleaned_ix_trade")
      .queryExecution.executedPlan.toString
    assert(tradePlan.contains("BroadcastHashJoin"))
  }

  test("cleaned_ix_place_order matches the regex family and stamps the epoch") {
    val rows = registry.resolve("cleaned_ix_place_order")
      .orderBy("signature").collect()
    assert(rows.map(_.getAs[String]("signature")).toSeq === Seq("sig1", "sig3"))
    val r1 = rows.head
    assert(r1.getAs[Double]("price") === 2.0)
    assert(r1.getAs[Double]("size") === 5.0)
    // Friday 2024-01-05 09:00 belongs to the epoch anchored 08:00 that day
    assert(r1.getAs[Timestamp]("epoch") === ts("2024-01-05 08:00:00"))
  }

  test("cleaned_ix_trade: maker fills from cranks, taker fill from merged events") {
    val rows = registry.resolve("cleaned_ix_trade").collect()
    assert(rows.length === 3)
    val taker = rows.filter(_.getAs[Boolean]("is_taker"))
    assert(taker.length === 1)
    // merge {**place, **trade}: price/size from the trade event, order_id
    // (place-only key) preserved upstream; decoded 2.1 * 3.0
    assert(taker.head.getAs[Double]("price") === 2.1)
    assert(taker.head.getAs[Double]("size") === 3.0)
    assert(taker.head.getAs[Double]("volume") === 2.1 * 3.0)
    val makers = rows.filter(!_.getAs[Boolean]("is_taker"))
    assert(makers.map(_.getAs[String]("authority")).toSet === Set("mm1", "mm2"))
  }

  test("remaining silver tables decode their event families") {
    val reg = registry
    val wd = reg.resolve("cleaned_ix_withdraw").collect()
    assert(wd.length === 1 && wd.head.getAs[Double]("amount") === 2.5)
    val liq = reg.resolve("cleaned_ix_liquidate").collect()
    assert(liq.length === 1)
    assert(liq.head.getAs[String]("liquidator") === "liq1")
    assert(liq.head.getAs[Double]("size") === 4.0)
    assert(liq.head.getAs[Double]("liquidator_reward") === 0.5)
    val f = reg.resolve("cleaned_ix_funding").collect()
    assert(f.length === 1 && f.head.getAs[Double]("balance_change") === -0.25)
    val oc = reg.resolve("cleaned_ix_order_complete").collect()
    assert(oc.length === 1)
    assert(oc.head.getAs[String]("order_complete_type") === "cancel")
    assert(oc.head.getAs[Double]("unfilled_size") === 1.0)
    val dep1h = reg.resolve("agg_ix_deposit_user_1h").collect()
    assert(dep1h.length === 1 && dep1h.head.getAs[Double]("deposit_amount") === 1.5)
    val tiers = reg.resolve("fee_tiers").collect()
    // single taker (authA) with 6.3 USD 30d volume -> tier 0
    assert(tiers.length === 1 && tiers.head.getAs[Int]("fee_tier") === 0)
  }

  test("cleaned_pnl chains snapshots, offset flow joins and cumulative sums") {
    val rows = registry.resolve("cleaned_pnl")
      .orderBy("authority", "timestamp").collect()
    assert(rows.length === 3, "V2 filter drops the non-null underlying row")
    val Seq(a09, a10, b10) = rows.toSeq
    // authority falls back to owner_pub_key on the 09:00 row
    assert(a09.getAs[String]("authority") === "authA")
    assert(a09.getAs[Double]("equity") === 105.0)
    assert(a09.getAs[Double]("deposit_amount") === 0.0)
    // the 09:00 deposit agg (1.5) lands on the 10:00 snapshot via +1h
    assert(a10.getAs[Double]("deposit_amount") === 1.5)
    assert(a10.getAs[Double]("deposit_amount_cumsum") === 1.5)
    assert(a10.getAs[Double]("cumulative_pnl") === 105.0 - 1.5)
    assert(b10.getAs[Double]("cumulative_pnl") === 50.0)
  }

  test("agg_pnl ranks the leaderboard with trailing anchors and changes") {
    val rows = registry.resolve("agg_pnl")
      .filter(col("timestamp") === ts("2024-01-05 10:00:00"))
      .orderBy("authority").collect()
    val a = rows(0); val b = rows(1)
    // pnl_24h = cumulative_pnl − first within 24h (authA: 103.5 − 105)
    assert(a.getAs[Double]("pnl_24h") === -1.5)
    assert(b.getAs[Double]("pnl_24h") === 0.0)
    assert(b.getAs[Int]("pnl_24h_rank") === 1)
    assert(a.getAs[Int]("pnl_24h_rank") === 2)
    // authA was rank 1 alone at 09:00 → change = −(2 − 1) = −1
    assert(a.getAs[Int]("pnl_24h_rank_change") === -1)
    // zero pnl pins roi to 0 (the reference's safe-div convention)
    assert(b.getAs[Double]("roi_24h") === 0.0)
  }

  test("agg_pnl excludes labeled MM accounts before ranking (TX:1556–1560)") {
    val sp = spark
    import sp.implicits._
    val reg = TransactionsPipeline.build(sp, () => fixture.toDF(),
      rawPnl = Some(() => pnlFixture),
      pubkeyLabel = Some(() =>
        Seq(("authB", "wintermute")).toDF("pub_key", "label")))
    val rows = reg.resolve("agg_pnl")
      .filter(col("timestamp") === ts("2024-01-05 10:00:00")).collect()
    assert(rows.map(_.getAs[String]("authority")).toSet === Set("authA"),
      "labeled accounts must not appear in the leaderboard")
    // with authB anti-joined away BEFORE ranking, authA ranks 1 — no
    // hole in the rank sequence
    assert(rows.head.getAs[Int]("pnl_24h_rank") === 1)
  }

  test("nft burn family: nested-element dim join, hour explosion, max multiplier") {
    val sp = spark
    import sp.implicits._
    val reg = TransactionsPipeline.build(sp, () => fixture.toDF(),
      rawBurnEvents = Some(() => burnFixture(sp)),
      zpassNfts = Some(() => zpassFixture(sp)))
    val cleaned = reg.resolve("cleaned_compressed_nft_burn_events")
      .orderBy("signature").collect()
    assert(cleaned.length === 2, "excluded signature filtered")
    assert(cleaned.head.getAs[String]("mint") === "mintA")
    assert(cleaned.head.getAs[Double]("multiplier") === 2.0)
    assert(cleaned.head.getAs[Timestamp]("end_timestamp")
      === ts("2024-01-05 12:30:00"))
    val hourly = reg.resolve("agg_compressed_nft_burn_events_hourly")
      .orderBy("timestamp").collect()
    // sigB1 covers hours 09,10,11; sigB2 covers hour 10 (same max mult)
    assert(hourly.map(_.getAs[Timestamp]("timestamp").toString).toSeq ===
      Seq("2024-01-05 09:00:00.0", "2024-01-05 10:00:00.0",
        "2024-01-05 11:00:00.0"))
    assert(hourly.forall(_.getAs[Double]("multiplier") === 2.0))
  }

  test("hourly golds: global taker trades and per-user-asset funding") {
    val reg = registry
    val t1h = reg.resolve("agg_ix_trade_1h").collect()
    // single taker trade at 09:00, volume 2.1 * 3.0
    assert(t1h.length === 1)
    assert(t1h.head.getAs[Long]("trade_count") === 1L)
    assert(t1h.head.getAs[Double]("volume") === 6.3)
    val f1h = reg.resolve("agg_funding_rate_user_asset_1h").collect()
    assert(f1h.length === 1)
    assert(f1h.head.getAs[Double]("balance_change") === -0.25)
  }

  test("agg_ix_trade_asset_1h aggregates volume per (hour, asset)") {
    val agg = registry.resolve("agg_ix_trade_asset_1h").collect()
      .map(r => (r.getAs[Timestamp]("timestamp").toString,
        r.getAs[String]("asset")) ->
        (r.getAs[Long]("trade_count"), r.getAs[Double]("volume"))).toMap
    // 09:00 SOL: taker 2.1*3.0 + maker mm1 2.1*1.0 = 8.4 over 2 trades
    assert(agg(("2024-01-05 09:00:00.0", "SOL")) === ((2L, 8.4)))
    assert(agg(("2024-01-05 09:00:00.0", "ETH")) === ((1L, 3.0 * 2.0)))
  }

  test("24h rolling table densifies the spine and accumulates") {
    val roll = registry.resolve("agg_ix_trade_asset_24h_rolling").collect()
    // spine has 1 hour (09:00 only trades) → 09:00..09:00? min..max hourly:
    // hourly rows exist only at 09:00 → spine = 1 hour × 2 assets
    assert(roll.length === 2)
    val sol = roll.find(_.getAs[String]("asset") === "SOL").get
    assert(sol.getAs[Double]("volume_24h") === 8.4)
  }
}
