package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import graft.serving.EmbeddedKVStore

/** Small-size self-test of the benchmark's correctness checks: each check
  * passes on correct output and fails once its expected value (a digest or
  * a ground-truth value) is corrupted. Exit code 0 when every case holds. */
object SelfTest {
  def run(a: Map[String, String]): Int = {
    var failures = 0
    def expect(ok: Boolean, what: String): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }

    val schema = StructType.fromDDL("k int, x double, d decimal(10,2), a array<string>")
    val rows = Array(Row(1, 0.0, new java.math.BigDecimal("1.50"), Seq("p")),
      Row(2, 2.5, null, Seq.empty[String]))
    val d = Digest.of(schema, rows)
    expect(Digest.of(schema, rows.reverse) == d, "digest ignores row order")
    expect(Digest.of(schema, Array(Row(1, -0.0, new java.math.BigDecimal("1.5"),
      Seq("p")), rows(1))) == d, "digest: -0.0 = 0.0 and 1.50 = 1.5")
    expect(Digest.of(schema, Array(rows(0), Row(2, 2.5, null, Seq("")))) != d,
      "digest sees a changed nested value")
    expect(Digest.of(schema, rows.take(1)) != d, "digest sees a missing row")

    val spark = Main.session()
    val work = a("work")

    // medallion-refresh at a small size: one refresh, then corrupted truths
    val wl = new Workload.Medallion(Bronze(hours = 6, txPerHour = 40,
      authorities = 30), seed = 7, work)
    wl.prepare(spark)
    val result = wl.pass(1).head.run(new Ctx(spark, new Tracer(false)))()
    expect(result.isEmpty, s"medallion refresh matches its ground truth ${result.getOrElse("")}")
    val t = wl.truth
    val kv = EmbeddedKVStore("perfbench")
    def fails(bad: Truth, what: String): Unit = expect(
      Workload.Medallion.check(spark, wl.paths, bad, kv).nonEmpty, s"check fails on $what")
    val (h, (n, v)) = t.tradesByHour.head
    val dep = t.deposits.head
    val wd = t.withdraws.head
    fails(t.copy(successful = t.successful + 1), "a wrong successful-transaction count")
    fails(t.copy(tradesByHour = t.tradesByHour + (h -> (n + 1, v))), "a wrong hourly trade_count")
    fails(t.copy(tradesByHour = t.tradesByHour + (h -> (n, v + BigDecimal("0.01")))),
      "a wrong hourly volume")
    fails(t.copy(deposits = t.deposits + (dep._1 -> (dep._2 + BigDecimal("0.01")))),
      "a wrong deposit sum")
    fails(t.copy(withdraws = t.withdraws - wd._1), "a missing withdraw sum")
    fails(t.copy(kvItems = t.kvItems + ("fee_tiers" -> (t.kvItems("fee_tiers") + 1))),
      "a wrong KV item count")

    // gold-reads and stream-commits: one query each against its digest
    val expected = Main.expected(a("expected"))
    for (q <- Seq(Workload.Gold.head, Workload.Stream.head)) {
      val want = expected(q.name)
      val bad = want.dropRight(1) + (if (want.last == '0') "1" else "0")
      val ok = Workload.queryOp(q, a("data"), expected)
        .run(new Ctx(spark, new Tracer(false)))()
      expect(ok.isEmpty, s"${q.name} matches its expected digest ${ok.getOrElse("")}")
      val wrong = Workload.queryOp(q, a("data"), expected + (q.name -> bad))
        .run(new Ctx(spark, new Tracer(false)))()
      expect(wrong.nonEmpty, s"${q.name} check fails on a corrupted expected digest")
      Main.tidy(spark)
    }
    spark.stop()
    println(if (failures == 0) "self-test passed" else s"self-test: $failures failure(s)")
    if (failures == 0) 0 else 1
  }
}
