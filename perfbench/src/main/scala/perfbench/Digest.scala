package perfbench

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Order-independent digest of a frame: its row count plus the wrapping
  * sum of `xxhash64` over every output column.
  *
  * The hash is a projection over all columns, so no column is pruned,
  * and the fold runs inside `mapPartitions`, which Catalyst treats as
  * order-sensitive: a final `orderBy` stays in the executed plan (an
  * aggregate on top would let `EliminateSorts` drop it). The wrapping
  * sum is commutative, so the value does not depend on partitioning. */
final case class Digest(rows: Long, hash: Long) {
  def json: String = s"""{"rows":$rows,"hash":$hash}"""
}

object Digest {
  private val pair = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** Map columns cannot be hashed directly; their JSON form can. */
  private def hashable(df: DataFrame): Seq[Column] =
    df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(s"`${f.name}`"))
        case _ => col(s"`${f.name}`")
      }
    }

  def of(df: DataFrame): Digest = {
    val cols = hashable(df)
    val hashed =
      if (cols.isEmpty) df.select(lit(0L))
      else df.select(xxhash64(cols: _*))
    val parts = hashed.as(Encoders.scalaLong).mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { x => n += 1; h += x }
      Iterator((n, h))
    }(pair).collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
