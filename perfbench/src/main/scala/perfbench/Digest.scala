package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution

/** Consumes every column of every row of a planned query and returns
  * (row count, order-insensitive content hash). The hash is the exact
  * sum of each row's XXH64 (over its UnsafeRow bytes) taken as an
  * unsigned 64-bit number, printed as a decimal string, so it cannot
  * overflow. The executed plan is the one the caller already planned:
  * nothing is pruned and no sort is dropped, unlike `count()`. */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    val qe = df.queryExecution
    val types = df.schema.fields.map(_.dataType)
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench digest")) {
      qe.executedPlan.execute().mapPartitions { it =>
        val proj = UnsafeProjection.create(types)
        var n = 0L; var hi = 0L; var lo = 0L
        it.foreach { row =>
          val u = proj(row)
          val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
            u.getSizeInBytes, 42L)
          hi += h >>> 32; lo += h & 0xffffffffL; n += 1
        }
        Iterator((n, hi, lo))
      }.collect()
    }
    val n = parts.map(_._1).sum
    val sum = parts.foldLeft(BigInt(0)) { case (acc, (_, hi, lo)) =>
      acc + (BigInt(hi) << 32) + BigInt(lo)
    }
    (n, sum.toString)
  }
}
