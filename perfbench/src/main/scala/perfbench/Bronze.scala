package perfbench

import java.sql.Timestamp
import java.time.Instant
import java.util.SplittableRandom
import scala.collection.mutable
import scala.math.BigDecimal.RoundingMode
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** What the generator knows about the pipeline's outputs, computed while
  * it generates the bronze rows, independently of the engine. */
final case class Truth(
    successful: Long,
    /** hour (epoch s) → (taker trade count, exact volume) */
    tradesByHour: Map[Long, (Long, BigDecimal)],
    /** (hour, authority) → exact deposit / withdraw sum */
    deposits: Map[(Long, String), BigDecimal],
    withdraws: Map[(Long, String), BigDecimal],
    /** KV table → items after one refresh */
    kvItems: Map[String, Long])

/** Generated bronze rows with their ground truth. */
final case class Generated(transactions: Seq[Row], pnl: Seq[Row], truth: Truth)

/** Seeded bronze data for one hourly refresh of the transactions
  * pipeline: `hours` × `txPerHour` transactions with the nested
  * instructions / events / args-map shape of the reference's bronze table,
  * one margin-account snapshot per authority per hour, and the
  * `zetagroup_mapping`, `markets` and `pubkey_label` dimensions. All
  * prices and amounts have two decimals, so every sum the check compares
  * is exact. */
final case class Bronze(hours: Int, txPerHour: Int, authorities: Int) {
  import Bronze._

  /** The refresh's as-of hour: the last generated hour, a midnight, so the
    * daily PnL snapshot table is served too. */
  val asOf: Instant = Instant.parse("2024-01-31T00:00:00Z")
  private val firstHour = asOf.getEpochSecond - (hours - 1) * 3600L

  private def auth(i: Int) = f"auth$i%05d"
  /** The snapshot hour `ServingJobs.serveSnapshot` serves (as-of − 2 h). */
  private val snapshotHour = asOf.getEpochSecond - 2 * 3600L

  def generate(seed: Long): Generated = {
    val txs = mutable.ArrayBuffer.empty[Row]
    var successful = 0L
    val trades = mutable.HashMap.empty[Long, (Long, BigDecimal)]
    val deps = mutable.HashMap.empty[(Long, String), BigDecimal]
    val wds = mutable.HashMap.empty[(Long, String), BigDecimal]
    val takers = mutable.HashSet.empty[String]
    val snapshotAssets = mutable.HashSet.empty[String]

    for (h <- 0 until hours; i <- 0 until txPerHour) {
      val r = new SplittableRandom(seed * 1000003L + h.toLong * txPerHour + i)
      val hour = firstHour + h * 3600L
      val ok = r.nextInt(100) < 95
      val user = auth(r.nextInt(authorities))
      val ixs = (0 until 1 + r.nextInt(3)).map { _ =>
        val asset = Assets(r.nextInt(Assets.size))
        // one fill in twenty goes through an unmapped market, so the asset
        // falls back to the upper-cased event field
        val market = if (r.nextInt(20) == 0) "mkt_unknown"
          else s"mkt_${asset.toLowerCase}_${r.nextInt(2)}"
        def price = (100 + r.nextInt(500000)).toLong * 10000L
        def size = (1 + r.nextInt(5000)).toLong * 1000L
        def fill(u: String, p: Long, s: Long, name: String) =
          ev(name, "user" -> u, "asset" -> asset.toLowerCase,
            "price" -> p.toString, "size" -> s.toString)
        def traded(): Unit =
          if (ok && hour == snapshotHour) snapshotAssets += asset
        r.nextInt(100) match {
          case k if k < 25 => // taker fill: place event merged with its trade
            val (p, s) = (price, size) // the order as placed
            val (tp, ts) = (price, size) // its fill, which the merge keeps
            if (ok) {
              val (n, v) = trades.getOrElse(hour, (0L, BigDecimal(0)))
              trades(hour) = (n + 1, v + volume(tp, ts))
              takers += user
            }
            traded()
            val name = Seq("place_perp_order_v3", "place_order",
              "execute_trigger_order_v2")(r.nextInt(3))
            ix(name, Map("asset" -> asset.toLowerCase, "price" -> p.toString,
                "size" -> s.toString, "side" -> (if (r.nextBoolean()) "bid" else "ask")),
              Map("authority" -> user, "market" -> market),
              Seq(ev("place_order_event", "user" -> user,
                  "asset" -> asset.toLowerCase, "price" -> p.toString,
                  "size" -> s.toString, "order_id" -> s"o$h.$i"),
                fill(user, tp, ts, Seq("trade_event", "trade_event_v2",
                  "trade_event_v3")(r.nextInt(3)))))
          case k if k < 35 => // resting order, no fill
            ix("place_order", Map("asset" -> asset, "price" -> price.toString,
                "size" -> size.toString, "side" -> "bid"),
              Map("authority" -> user, "market" -> market),
              Seq(ev("place_order_event", "user" -> user, "asset" -> asset,
                "order_id" -> s"r$h.$i")))
          case k if k < 55 => // crank: maker fills, maybe an order completion
            val fills = (0 until 1 + r.nextInt(2)).map { _ =>
              val mm = auth(r.nextInt(Makers))
              traded()
              fill(mm, price, size, "trade_event")
            }
            val done = if (r.nextBoolean()) Seq(ev("order_complete_event",
                "user" -> auth(r.nextInt(Makers)), "asset" -> asset,
                "order_complete_type" -> "fill", "unfilled_size" -> "0"))
              else Nil
            ix("crank_event_queue", Map.empty,
              Map("authority" -> user, "market" -> market), fills ++ done)
          case k if k < 70 =>
            val a = amount(r)
            if (ok) deps((hour, user)) =
              deps.getOrElse((hour, user), BigDecimal(0)) + exact(a)
            ix("deposit", Map("amount" -> a.toString),
              Map("authority" -> user, "zeta_group" -> s"zg_${asset.toLowerCase}"), Nil)
          case k if k < 80 =>
            val a = amount(r)
            if (ok) wds((hour, user)) =
              wds.getOrElse((hour, user), BigDecimal(0)) + exact(a)
            ix("withdraw", Map("amount" -> a.toString),
              Map("authority" -> user, "zeta_group" -> s"zg_${asset.toLowerCase}"), Nil)
          case k if k < 87 =>
            ix("cancel_order", Map.empty, Map("authority" -> user),
              Seq(ev("order_complete_event", "user" -> user, "asset" -> asset,
                "order_complete_type" -> "cancel",
                "unfilled_size" -> size.toString)))
          case k if k < 92 =>
            ix("liquidate", Map.empty, Map("authority" -> auth(r.nextInt(Makers))),
              Seq(ev("liquidation_event", "liquidator" -> auth(r.nextInt(Makers)),
                "liquidatee" -> user, "asset" -> asset, "size" -> size.toString,
                "reward" -> (r.nextInt(100000) * 100L).toString)))
          case _ =>
            ix("apply_funding", Map.empty, Map("authority" -> user),
              Seq(ev("apply_funding_event", "user" -> user, "asset" -> asset,
                "balance_change" -> ((r.nextInt(2000000) - 1000000) * 100L).toString)))
        }
      }
      if (ok) successful += 1
      txs += Row(f"sig$seed%d.$h%03d.$i%05d", ixs, ok, 1000000L + h * 10000L + i,
        new Timestamp((hour + r.nextInt(3600)) * 1000L), 5000)
    }

    // one snapshot per authority per hour (a tenth carry only the owner
    // key, which the pipeline coalesces into the authority), plus rows
    // with an underlying that the V2 filter drops
    val pnl = for (h <- 0 until hours; a <- 0 until authorities;
                   extra <- 0 to (if (a % 20 == 0) 1 else 0)) yield {
      val r = new SplittableRandom(~(seed * 7919L + h.toLong * authorities + a))
      val owner = s"own${auth(a)}"
      Row(new Timestamp((firstHour + h * 3600L + r.nextInt(3600)) * 1000L),
        if (extra == 1) "SOL" else null, owner,
        if (a % 10 == 0) null else auth(a),
        r.nextInt(10000000) / 100.0, (r.nextInt(2000000) - 1000000) / 100.0)
    }

    val kv = Map(
      "pnl_hourly_v2" -> authorities.toLong,
      "pnl_daily_v2" -> authorities.toLong,
      "fee_tiers" -> takers.size.toLong,
      "agg_ix_trade_asset_1h" -> 2L * (snapshotAssets.size + 1))
    Generated(txs.toSeq, pnl, Truth(successful, trades.toMap, deps.toMap,
      wds.toMap, kv))
  }

  /** Writes the inputs as parquet under `dir` and checks they read back. */
  def write(spark: SparkSession, g: Generated, dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    def save(name: String, rows: Seq[Row], schema: StructType): Unit = {
      spark.createDataFrame(rows.asJava, schema).write.mode("overwrite")
        .parquet(s"$dir/$name")
      val back = spark.read.parquet(s"$dir/$name").count()
      if (back != rows.size)
        throw new IllegalStateException(s"$name: wrote ${rows.size} rows, read $back")
    }
    save("raw_transactions", g.transactions, TxSchema)
    save("raw_pnl", g.pnl, PnlSchema)
    save("zetagroup_mapping", Assets.map(a => Row(s"zg_${a.toLowerCase}", a)),
      StructType.fromDDL("zetagroup_pub_key string, asset string"))
    save("markets", for (a <- Assets; k <- 0 until 2)
        yield Row(s"mkt_${a.toLowerCase}_$k", a),
      StructType.fromDDL("market_pub_key string, asset string"))
    save("pubkey_label", (0 until Labeled).map(i => Row(auth(i), "market_maker")),
      StructType.fromDDL("pub_key string, label string"))
  }
}

object Bronze {
  val Assets = Seq("SOL", "BTC", "ETH", "APT")
  /** Market makers are the first authorities; some carry a label, so the
    * leaderboard's labeled-account exclusion removes rows. */
  val Makers = 50
  val Labeled = 20

  val TxSchema: StructType = StructType.fromDDL(
    "signature string, instructions array<struct<name: string, " +
      "args: map<string,string>, accounts: struct<named: map<string,string>, " +
      "remaining: array<string>>, program_id: string, " +
      "events: array<struct<name: string, event: map<string,string>>>>>, " +
      "is_successful boolean, slot bigint, block_time timestamp, fee int")

  val PnlSchema: StructType = StructType.fromDDL(
    "timestamp timestamp, underlying string, owner_pub_key string, " +
      "authority string, balance double, unrealized_pnl double")

  private def ev(name: String, kv: (String, String)*) = Row(name, kv.toMap)
  private def ix(name: String, args: Map[String, String],
                 named: Map[String, String], events: Seq[Row]) =
    Row(name, args, Row(named, Seq.empty[String]), "zeta", events)

  private def amount(r: SplittableRandom): Long =
    (100 + r.nextInt(10000000)).toLong * 10000L

  /** The pipeline's decode of a 1e6-scaled integer string, then the exact
    * decimal(28,6) it accumulates in. */
  private def exact(scaled: Long): BigDecimal =
    BigDecimal.decimal(scaled.toString.toDouble / 1e6).setScale(6, RoundingMode.HALF_UP)

  /** price (1e6-scaled) × size (1e3-scaled), decoded and multiplied as
    * doubles exactly as the pipeline does, then rounded to decimal(28,6). */
  private def volume(price: Long, size: Long): BigDecimal =
    BigDecimal.decimal((price.toString.toDouble / 1e6) * (size.toString.toDouble / 1e3))
      .setScale(6, RoundingMode.HALF_UP)

  /** A decimal sum as the pipeline surfaces it: cast to string, then to
    * double. */
  def surfaced(b: BigDecimal): Double =
    java.lang.Double.parseDouble(b.bigDecimal.toPlainString)
}
