package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-quality checks — the reference's `quality_checks`
  * (etl_functions.py:136–147) returned as a result object instead of a
  * print that never fails (SURVEY §0.1.7), plus the key-uniqueness check
  * the star schema actually needs.
  *
  * Both checks of a table share one aggregation job: uniqueness
  * compares `count(*)` with `count_distinct(key)` in ONE pass instead
  * of a groupBy+filter (no wide shuffle of non-key columns), and that
  * `count(*)` is also the emptiness check.
  */
object QualityChecks {

  final case class QcResult(table: String, check: String, count: Long, passed: Boolean)

  /** Non-empty assertion (etl_functions.py:136–147, intended semantics). */
  def nonEmpty(df: DataFrame, table: String): QcResult = {
    val n = df.count()
    QcResult(table, "non_empty", n, n > 0)
  }

  /** Surrogate/natural key uniqueness (not nullable, no duplicates). */
  def keyUnique(df: DataFrame, table: String, keyCols: Seq[String]): QcResult =
    tableChecks(df, table, keyCols).last

  /** [[nonEmpty]] and [[keyUnique]] of one table from ONE aggregation:
    * the uniqueness pass's row count is the emptiness check's count. */
  def tableChecks(df: DataFrame, table: String, keyCols: Seq[String]): Seq[QcResult] = {
    val key = if (keyCols.size == 1) col(keyCols.head) else struct(keyCols.map(col): _*)
    val row = df.agg(
      count(lit(1)).as("n"),
      count(key).as("n_nonnull"),
      count_distinct(key).as("n_distinct")).head()
    val (n, nonNull, distinct) = (row.getLong(0), row.getLong(1), row.getLong(2))
    Seq(
      QcResult(table, "non_empty", n, n > 0),
      QcResult(table, s"key_unique(${keyCols.mkString(",")})", n,
        n > 0 && n == nonNull && nonNull == distinct))
  }

  /** Run the reference's QC battery over the five star-schema outputs:
    * one aggregation job per table. */
  def checkAll(fact: DataFrame, visa: DataFrame, calendar: DataFrame,
      country: DataFrame, demographics: DataFrame): Seq[QcResult] =
    tableChecks(fact, "immigration_fact", Seq("record_id")) ++
      tableChecks(visa, "visa_type_dim", Seq("visa_type_key")) ++
      tableChecks(calendar, "immigration_calendar_dim", Seq("id")) ++
      tableChecks(country, "country_dim", Seq("country_code")) ++
      tableChecks(demographics, "usa_demographics_dim", Seq("id"))
}
