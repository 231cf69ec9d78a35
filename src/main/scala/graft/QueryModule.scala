package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A group of declared operator queries plus their DuckDB oracle SQL.
  *
  * Contract (SURVEY.md §2 preamble): every query
  *  - is deterministic: total ORDER BY on a key prefix of its output;
  *  - stabilizes floating-point aggregates (see [[Det]]) so Spark and the
  *    DuckDB oracle produce bit-identical doubles;
  *  - aliases every computed column identically in the Spark code and the
  *    oracle SQL (the driver compare sorts columns BY NAME before hashing).
  *
  * Queries with no SQL-expressible oracle (approximate sketches, custom
  * expressions) appear in `queries` but not `oracle` → the driver records a
  * weaker rows-only check; those get ScalaTest coverage instead.
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}

/** Determinism helpers shared by query modules.
  *
  * Floating-point aggregation order differs between Spark (partial aggs over
  * partitions) and DuckDB, so a plain `sum(double)` can differ in the last
  * ULP. Exact decimal arithmetic is associative/commutative, so we aggregate
  * in DECIMAL and convert the *final* value to double once — both engines
  * then produce bit-identical doubles. The same trick makes `avg` exact:
  * exact decimal sum → double, divided by the (exact) count.
  */
object Det {
  /** Exact sum of a 2-dp money column, surfaced as double. */
  def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")
  /** Oracle-side equivalent of [[dsum]]. */
  def dsumSql(e: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(18,2))) AS DOUBLE)"

  /** Exact average: decimal sum → double, / count. Bit-identical both sides. */
  def davg(c: Column): Column =
    (sum(c.cast("decimal(18,2)")).cast("double") / count(c)).as("davg")
  def davgSql(e: String): String =
    s"(CAST(SUM(CAST($e AS DECIMAL(18,2))) AS DOUBLE) / COUNT($e))"

  /** Exact sum of extendedprice*(1-discount): all-decimal arithmetic. */
  def revenue(price: Column, disc: Column): Column =
    sum(price.cast("decimal(18,2)") * (lit(1).cast("decimal(3,2)") - disc.cast("decimal(3,2)")))
      .cast("double")

  /** yyyy-MM-dd string of a timestamp column (string output = no
    * timestamp-encoding ambiguity between parquet writers). */
  def dstr(c: Column): Column = date_format(c, "yyyy-MM-dd")
}
