package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of (seed, row
  * key), computed with splitmix64 hashing instead of an RNG object, so the
  * same seed gives bit-identical data whatever the partitioning, and the
  * engine receives nothing but the generated DataFrame.
  */
object Gen extends Serializable {
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in (0, 1). */
  def unit(key: Long): Double =
    ((mix64(key) >>> 11).toDouble + 1.0) / 9007199254740994.0

  /** Standard normal (Box-Muller over two hashed uniforms). */
  def gauss(key: Long): Double =
    math.sqrt(-2.0 * math.log(unit(key))) *
      math.cos(2.0 * math.Pi * unit(key ^ 0x632BE59BD9B4E019L))

  /** Planted centers of the Gaussian mixture. They do not depend on the
    * workload seed: every seed draws new points around the same structure,
    * so runs differ in data but not in how hard the problem is.
    */
  def centers(k: Int, dim: Int, spread: Double): Array[Array[Double]] =
    Array.tabulate(k, dim)((c, d) => gauss(0x5EEDL * 1000003L + c * dim + d) * spread)

  /** `n` points `(i: long, Y: array<double>)` in `dim` dimensions around
    * `k` planted centers with per-coordinate Gaussian noise `noise`. Point
    * `i` belongs to cluster `i mod k`, and the k lowest keys (the engine's
    * first-k seeding) are the same points for every seed, so the Lloyd path
    * and its step count depend on the structure, not on the draw.
    */
  def mixture(spark: SparkSession, n: Long, dim: Int, k: Int, spread: Double,
      noise: Double, seed: Long, partitions: Int): DataFrame = {
    import spark.implicits._
    val cs = centers(k, dim, spread)
    val salt = mix64(seed ^ 0x1234567L)
    spark.range(0L, n, 1L, partitions).as[Long].mapPartitions { it =>
      it.map { i =>
        // the first k points do not depend on the seed either
        val h = if (i < k) mix64(0x5EEDL + i) else mix64(salt + i)
        val c = (i % k).toInt
        val y = Array.tabulate(dim)(d => cs(c)(d) + noise * gauss(h + 0x9E3779B97F4A7C15L * (d + 1)))
        (i, y)
      }
    }.toDF("i", "Y")
  }

  /** Order-independent digest of a DataFrame: row count plus the sum and
    * xor of per-row hashes over every column.
    */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(pmod(h, lit(2147483647L))), bit_xor(h)).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}:" +
      s"${if (r.isNullAt(2)) 0L else r.getLong(2)}"
  }
}
