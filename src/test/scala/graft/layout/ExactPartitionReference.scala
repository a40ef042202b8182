package graft.layout

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The routing step sized linear writes used before [[LayoutWriter.cut]]
  * moved every layout to `repartitionById`, kept verbatim as the parity
  * reference for [[LayoutDeterminismSuite]].
  */
object ExactPartitionReference {

  /** Shuffle each row to EXACTLY partition `fid` (0 <= fid < n).
    *
    * `repartitionByRange(n, fid)` on a discrete bucket id cannot do
    * this: RangePartitioner's boundary placement over n equal-mass
    * values is a per-cut coin flip on its sample (buckets merge, file
    * counts fall short), and the sample seed folds in the shuffle RDD's
    * id, so the outcome is session-history-dependent. Instead, hash-
    * partition on a driver-computed remap value v(p) chosen so that
    * pmod(murmur3(v), n) == p — HashPartitioning's own routing function
    * (functions.hash is the same Murmur3/seed-42) then sends bucket p
    * precisely to partition p. One bounded probe job computes the remap;
    * expected coverage is n·ln n candidates (coupon collector), batched.
    */
  def exactPartition(df: DataFrame, fid: Column, n: Int): DataFrame = {
    val spark = df.sparkSession
    val remap = new Array[Long](n)
    val seen = new Array[Boolean](n)
    var found = 0
    var from = 0L
    while (found < n) {
      val batch = math.max(16L * n, 1024L)
      val probe = spark.range(from, from + batch)
        .select(col("id"), pmod(hash(col("id")), lit(n)).as("p"))
        .collect()
      probe.foreach { r =>
        val p = r.getInt(1)
        if (!seen(p)) { seen(p) = true; remap(p) = r.getLong(0); found += 1 }
      }
      from += batch
    }
    val route = element_at(
      array(remap.map(lit(_)).toIndexedSeq: _*), (fid + 1).cast("int"))
    df.repartition(n, route)
  }
}
