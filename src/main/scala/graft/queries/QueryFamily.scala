package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One registered query, declared once: its name, the plan Verify dumps,
  * its DuckDB oracle when the semantics are ANSI-SQL expressible (None =
  * checked by row count only), and an optional twin that Bench times
  * under the same name instead of `fn`. */
final case class Q(
    name: String,
    fn: Q.Fn,
    oracle: Option[String] = None,
    benchTwin: Option[Q.Fn] = None)

object Q {
  type Fn = (SparkSession, String) => DataFrame

  /** The common case: a query with its oracle and no bench twin. */
  def apply(name: String, fn: Fn, oracle: String): Q = Q(name, fn, Some(oracle))
}

/** Shared helpers + the one contract each family exports: its
  * `declarations`, one [[Q]] per query. */
trait QueryFamily {
  def declarations: Seq[Q]

  /** Exact-decimal bridge for double columns: both engines compute the
    * aggregation in DECIMAL(12,2)-derived types (exact), exporting DOUBLE
    * only at the end — identical bits regardless of summation order. */
  protected val D: DecimalType = DecimalType(12, 2)
  protected def dec(c: Column): Column = c.cast(D)
  protected def sumd(c: Column): Column = sum(dec(c)).cast(DoubleType)
  /** SQL twin of sumd */
  protected def sqlSumd(col: String): String =
    s"CAST(SUM(CAST($col AS DECIMAL(12,2))) AS DOUBLE)"
}
