package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile `p` in [0, 100]; 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p / 100.0 * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest whole percentile that still has at least `beyond`
    * samples above it, or None when there are too few samples. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    (99 to 50 by -1).find(p => n * (100 - p) / 100.0 >= beyond)

  /** A 64-bit hash of each row over `schema`'s columns. Doubles are
    * hashed as floats (about 7 significant digits), so a recomputation
    * that sums in another order still matches. */
  private def rowHash(schema: org.apache.spark.sql.types.StructType) =
    xxhash64(schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.DoubleType => col(f.name).cast("float")
        case _ => col(f.name)
      }
    }: _*)

  private val digest = Seq(count(lit(1)), sum(col("h").cast("decimal(38,0)")))

  private def pair(r: org.apache.spark.sql.Row, i: Int): (Long, Long) =
    (r.getLong(i), Option(r.getDecimal(i + 1)).map(_.toBigInteger.longValue()).getOrElse(0L))

  /** Order-independent content hash of a relation: its row count and the
    * wrapping sum of its row hashes. */
  def contentHash(df: DataFrame): (Long, Long) =
    pair(df.select(rowHash(df.schema).as("h")).agg(digest.head, digest.tail: _*).head(), 0)

  /** [[contentHash]] of each `(got, want)` pair, hashed over `want`'s
    * columns, all in one job. */
  def compareHashes(pairs: (DataFrame, DataFrame)*): Seq[((Long, Long), (Long, Long))] = {
    val sides = pairs.zipWithIndex.flatMap { case ((got, want), i) =>
      Seq(got -> 2 * i, want -> (2 * i + 1)).map { case (df, tag) =>
        df.select(lit(tag).as("side"), rowHash(want.schema).as("h")) }
    }
    val r = sides.reduce(_.unionByName(_)).groupBy("side")
      .agg(digest.head, digest.tail: _*).collect().map(r => r.getInt(0) -> pair(r, 1)).toMap
    pairs.indices.map(i => (r.getOrElse(2 * i, (0L, 0L)), r.getOrElse(2 * i + 1, (0L, 0L))))
  }
}
