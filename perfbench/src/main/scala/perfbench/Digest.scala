package perfbench

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Order-insensitive digest of a query's full result: the row count and the
  * sum (mod 2^64) of a 64-bit hash of each row's binary image. Equal
  * multisets of rows give equal digests whatever the partitioning or row
  * order; computing it reads every column of every row. */
object Digest {
  def of(rows: RDD[InternalRow], schema: StructType): (Long, String) = {
    val parts = rows.mapPartitions { it =>
      lazy val toUnsafe = UnsafeProjection.create(schema)
      var n = 0L
      var sum = 0L
      it.foreach { r =>
        val u = r match {
          case u: UnsafeRow => u
          case other => toUnsafe(other)
        }
        val h1 = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42)
        val h2 = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, h1)
        sum += (h1.toLong << 32) | (h2 & 0xffffffffL)
        n += 1
      }
      Iterator((n, sum))
    }.collect()
    (parts.map(_._1).sum, f"${parts.map(_._2).sum}%016x")
  }
}
