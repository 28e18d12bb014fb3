package graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query: a DataFrame builder over a test-corpus dir, plus an
  * equivalent ANSI-SQL oracle (DuckDB dialect) when the semantics are
  * SQL-expressible. Queries with `oracle = None` get a weaker rows-only
  * check from the driver and carry their own ScalaTest coverage instead.
  *
  * Determinism contract (BASELINE.md): every query that has an oracle
  * must produce a fully deterministic result — explicit ORDER BY on a
  * unique key set, doubles rounded after aggregation, no
  * monotonically_increasing_id in output columns.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    benchmark: Boolean = false)

/** Cache-lifecycle helper for queries that persist() a multi-read
  * intermediate: materialize the (bounded-size) final result into the
  * cache, then release the persisted inputs it consumed. Without the
  * release, a long driver run over the full query battery accretes
  * executor storage one intermediate per query; with it the only thing
  * left cached is the result itself — top-k lists and stat rows, which
  * Spark's LRU evicts freely.
  */
object Materialize {
  def releasing(out: DataFrame, inputs: org.apache.spark.sql.Dataset[_]*): DataFrame = {
    val m = out.cache()
    m.count()
    inputs.foreach(_.unpersist())
    m
  }

  /** As above, and also drop the executor copies of `broadcasts` the
    * result's plan reads. `unpersist`, not `destroy`: an evicted cached
    * result recomputes, and the broadcast must still be fetchable then. */
  def releasing(out: DataFrame, broadcasts: Seq[Broadcast[_]],
      inputs: org.apache.spark.sql.Dataset[_]*): DataFrame = {
    val m = releasing(out, inputs: _*)
    broadcasts.foreach(_.unpersist())
    m
  }
}

trait QueryModule {
  def defs: Seq[QueryDef]
}
