package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Execution mode for a table definition — the reference flips tables
  * between `dlt.read_stream` (incremental) and `dlt.read` (full recompute;
  * forced for window-function gold tables, zetadex-orderbook-snapshot
  * -pipeline.py:571–574). */
sealed trait Mode
object Mode {
  case object Full extends Mode
  case object Incremental extends Mode
}

/** How a materialized table is WRITTEN — the reference's three sink
  * cadences, made explicit per table.
  */
sealed trait WriteMode
object WriteMode {
  /** Full-table overwrite per run (the DLT default for recomputed gold
    * tables). */
  case object Overwrite extends WriteMode

  /** Idempotent append (K3, zetadex-mm-uptime-pipeline-v3.sql:151–157:
    * the hourly `mode("append").saveAsTable` cadence). Implemented as
    * DYNAMIC partition overwrite over the table's `partitionCols`: a run
    * replaces exactly the partitions it computed and leaves the rest of
    * the table untouched, so re-running the same batch (a retried hourly
    * job, a replayed cluster run) never doubles rows — the idempotence
    * the reference's raw `append` lacks. Requires non-empty
    * `partitionCols` whose values identify the batch (e.g. the hour). */
  case object Append extends WriteMode

  /** CDC upsert (§2.10 streaming apply_changes as a SINK): keep the
    * max-`(seqCol, tieBreak)` row per `keys`. Batch runs merge into the
    * existing table; streaming boundaries run each micro-batch through
    * [[Runner.upsertParquet]] via `foreachBatch` — the parquet-native
    * stand-in for a Delta `MERGE`. Idempotent under micro-batch replay
    * (the merge keeps the max row regardless of duplicate delivery). */
  final case class Upsert(keys: Seq[String], seqCol: String,
                          tieBreak: Seq[String] = Nil) extends WriteMode
}

/** A named node in the dataflow DAG: the Spark-native re-expression of a
  * `@dlt.table` / `@dlt.view` function (SURVEY.md §1.1). `transform`
  * receives the resolved dependency DataFrames in `deps` order and returns
  * a DataFrame. Within a table, Catalyst optimizes the transform and its
  * inputs as one plan; across tables, [[Runner]] materializes each table
  * once and its consumers read the written output (the `dlt.read`
  * contract), so a transform sees a dependency as a table scan.
  */
final case class TableDef(
    name: String,
    deps: Seq[String],
    transform: Seq[DataFrame] => DataFrame,
    mode: Mode = Mode.Full,
    partitionCols: Seq[String] = Nil,
    writeMode: WriteMode = WriteMode.Overwrite)

/** DAG registry + resolver, standing in for the DLT runtime
  * (`dlt.read`/`dlt.read_stream` edges, zetadex-transactions-helius
  * -pipeline.py:179–181, :351).
  *
  * `resolve` fuses a node with every unwritten dependency into one
  * Catalyst plan, memoized within the call so a node shared by several
  * consumers is planned once. [[Runner]] shadows each table it writes
  * with a source reading the written output, so later resolves stop at
  * materialized tables. Not thread-safe: the runner resolves and
  * shadows on its coordinating thread only.
  */
final class Registry(spark: SparkSession) {
  private val defs = mutable.LinkedHashMap.empty[String, TableDef]
  private val sources = mutable.LinkedHashMap.empty[String, () => DataFrame]

  /** The session this registry plans against — runners use it to shadow
    * written tables with reads of their materialized paths. */
  private[graph] def session: SparkSession = spark

  def register(t: TableDef): this.type = { defs(t.name) = t; this }
  def source(name: String, load: () => DataFrame): this.type = {
    sources(name) = load; this
  }

  def tableNames: Seq[String] = defs.keys.toSeq

  /** Names of registered source feeds (no TableDef) — the other half of
    * the DAG's vocabulary; CrosswalkSpec audits reference parity over
    * tableNames ∪ sourceNames. */
  def sourceNames: Seq[String] = sources.keys.toSeq

  /** The registered source loaders — so a runner can carry static
    * (non-streamed) sources into a derived registry: the stream-static
    * pattern, where an incremental table joins a batch dim. */
  private[graph] def sourceLoaders: Map[String, () => DataFrame] =
    sources.toMap

  /** The registered definition for `name`, if it is a transform node
    * (sources have no TableDef). */
  def describe(name: String): Option[TableDef] = defs.get(name)

  /** Resolve a node to its DataFrame, resolving dependencies first.
    * Detects cycles; memoizes within this resolver. */
  def resolve(name: String): DataFrame = {
    val memo = mutable.HashMap.empty[String, DataFrame]
    val inFlight = mutable.HashSet.empty[String]
    def go(n: String): DataFrame = memo.getOrElseUpdate(n, {
      if (inFlight(n)) throw new IllegalStateException(s"cycle at $n")
      inFlight += n
      val df = sources.get(n) match {
        case Some(load) => load()
        case None =>
          val t = defs.getOrElse(n,
            throw new NoSuchElementException(s"unknown table $n"))
          t.transform(t.deps.map(go))
      }
      inFlight -= n
      df
    })
    go(name)
  }

  /** Topological order of all registered defs (Kahn). */
  def topoOrder: Seq[String] = {
    val indeg = mutable.LinkedHashMap.empty[String, Int]
    defs.values.foreach { t =>
      indeg(t.name) = t.deps.count(defs.contains)
    }
    val out = mutable.ArrayBuffer.empty[String]
    val q = mutable.Queue(indeg.collect { case (n, 0) => n }.toSeq: _*)
    while (q.nonEmpty) {
      val n = q.dequeue(); out += n
      defs.values.filter(_.deps.contains(n)).foreach { c =>
        indeg(c.name) -= 1
        if (indeg(c.name) == 0) q.enqueue(c.name)
      }
    }
    if (out.size != defs.size)
      throw new IllegalStateException("cycle in table graph")
    out.toSeq
  }
}
