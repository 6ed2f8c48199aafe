package perfbench

import java.nio.file.{Files, Paths}

/** Writes the inputs of the expected-digest file: every gold-reads and
  * stream-commits query's full output as parquet (for
  * `tools/oracle_check.py`), the oracle SQL of those queries, and the
  * digest of each output as the benchmark computes it. The digest of the
  * output read back from parquet must equal the digest of the collected
  * result, so the oracle checks exactly what the digest stands for. */
object Dump {
  def run(a: Map[String, String]): Unit = {
    val out = a("out")
    val data = a("data")
    val spark = Main.session()
    val qs = Workload.GoldAll ++ Workload.StreamAll
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json(qs.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap))
    val digests = qs.map { q =>
      val df = q.run(spark, data)
      val rows = df.collect()
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/${q.name}")
      val back = spark.read.parquet(s"$out/${q.name}")
      val digest = Digest.of(df.schema, rows)
      val reread = Digest.of(back.schema, back.collect())
      Main.tidy(spark)
      if (digest != reread)
        throw new IllegalStateException(s"${q.name}: digest $digest, re-read $reread")
      System.err.println(s"[dump] ${q.name} $digest")
      q.name -> digest
    }.toMap
    Files.writeString(Paths.get(s"$out/digests.json"), Json(Map("digests" -> digests)))
    spark.stop()
  }
}
