package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, XXH64}

/** Order-insensitive digest of a query's full result rows.
  *
  * The rows come from `queryExecution.toRdd`, the same physical plan a sink
  * write runs: nothing is pruned, and the final sort is kept. Each row is
  * re-encoded as an UnsafeRow with its columns in name order (so the digest
  * does not depend on column order, like the DuckDB comparison) and hashed
  * with XXH64; the digest is the row count, the 64-bit sum of the row
  * hashes, and a hash of the sorted schema.
  */
object Digest {
  final case class Result(rows: Long, digest: String)

  def apply(df: DataFrame): Result = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val exprs = fields.toSeq.map { case (f, i) => BoundReference(i, f.dataType, f.nullable) }
    val schemaHash = fields.map { case (f, _) => s"${f.name}:${f.dataType.catalogString}" }
      .mkString(",").hashCode
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(exprs)
      var n = 0L
      var sum = 0L
      while (it.hasNext) {
        val u = proj(it.next())
        sum += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1
      }
      Iterator.single((n, sum))
    }.collect()
    val rows = parts.map(_._1).sum
    val sum = parts.map(_._2).sum
    Result(rows, f"$rows%d:$sum%016x:$schemaHash%08x")
  }
}
