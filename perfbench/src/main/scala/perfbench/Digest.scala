package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a whole DataFrame: the row count plus the
  * sum of a 64-bit hash over each canonical row. Columns are taken in
  * name order and floating-point values are rounded to 1e-6 (with -0.0
  * folded into 0.0), the normalisation `tools/check.py` applies before
  * it compares against the DuckDB oracle.
  *
  * The digest rides on the query as observed metrics, so the plan under
  * it stays as the program built it: a sort, a shuffle or a column that
  * an aggregate or `count()` would let Catalyst remove is still run.
  * Every row and every column of the result feeds the hash. */
object Digest {

  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case _ => c // nested values are hashed as they are
  }

  /** Attaches the digest (rows, lo, hi) to `df`: lo and hi are the sums
    * of the low and high 32 bits of each row's hash, so the sums cannot
    * overflow. Returns the frame to materialise and the observation that
    * receives the digest when an action over that frame has finished. */
  def observe(df: DataFrame): (DataFrame, Observation) = {
    val fields = df.schema.fields.toIndexedSeq.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val positional = df.toDF(df.columns.indices.map(i => s"_c$i"): _*)
    val cols = fields.map { case (f, i) => canon(positional.col(s"_c$i"), f.dataType) }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val obs = Observation()
    (positional.observe(obs,
      count(lit(1)).as("rows"),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi")), obs)
  }

  def render(r: Row): (Long, String) =
    (r.getLong(0), f"${r.getLong(1)}%x-${r.getLong(2)}%x")
}
