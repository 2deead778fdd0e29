package graft.streaming

import graft.operators.Sketches
import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming KMV distinct-count sketch as a [[KeyedFold]]. CMS and HLL
  * stream through stock aggregation because their state is a fixed
  * grid; KMV's is a bounded ORDERED SET, which a stock streaming
  * aggregate cannot hold.
  *
  * State per group: the k smallest DISTINCT 48-bit md5 uniforms, as a
  * sorted vector. Each trigger set-unions its hashes in and re-trims to
  * k; bottom-k is a mergeable order statistic (the
  * [[Sketches.kmvSample]] merge law), so the state after any trigger
  * chop equals the batch bottom-k, and duplicates are absorbed as the
  * batch `distinct` absorbs them. The emitted row carries the uniforms,
  * so downstream consumers can merge per-source sketches without a
  * rescan, plus the estimate D̂ = (k−1)/u_(k) (the [[Sketches.kmvSetOps]]
  * estimator: exact below k, 4 dp HALF_UP like the batch `round`).
  */
object StreamKmv {

  case class Rec(grp: String, key: String)
  case class KmvRow(grp: String, kUsed: Int, us: Vector[Long], est4: Double)

  /** First 12 md5 hex chars of the key as a long — bit-identical to
    * `conv(substring(md5(key), 1, 12), 16, 10)`. */
  def h48(key: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
      ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
      ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
  }

  def sketch(ev: Dataset[Rec], k: Int = Sketches.KmvK)
            (implicit spark: SparkSession): Dataset[KmvRow] = {
    import spark.implicits._
    update(k).over(ev)(_.grp)
  }

  private[graft] def update(k: Int) = KeyedFold(Vector.empty[Long])(
    (prev: Vector[Long], rows: Iterator[Rec]) =>
      (prev.toSet ++ rows.map(r => h48(r.key))).toVector.sorted.take(k)) {
    (grp: String, us) =>
      val est =
        if (us.size < k) us.size.toDouble // sketch IS the value set
        else (k - 1).toDouble / (us.last.toDouble / 281474976710656.0) // 2^48
      KmvRow(grp, us.size, us,
        BigDecimal(est).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }
}
