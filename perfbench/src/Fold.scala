package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, xxhash64}

/** graft.Bench's full-column fold: count(*) plus bit_xor(xxhash64(every
  * column)). Every output column feeds the hash, so column pruning cannot
  * drop trailing window or projection work, and the pair is an
  * order-free fingerprint of the whole result. */
object Fold {
  def apply(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
      .agg(expr("count(*)"), expr("bit_xor(h)")).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}
