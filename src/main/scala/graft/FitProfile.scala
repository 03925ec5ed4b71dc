package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.KMeans

/** Dev-only: per-stage timing of the fit loop (seeding vs iterations). */
object FitProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      System.out.println(f"[profile] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    if (sys.env.getOrElse("FIT_NO_AQE", "0") == "1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    val parts = sys.env.getOrElse("FIT_PARTS", "0").toInt
    val base = Tables.yhEmbeddings(spark, sfDir)
    val pts = (if (parts > 0) base.repartition(parts, col("i")) else base).cache()
    t("materialize cache")(pts.count())
    System.out.println(s"[profile] partitions = ${pts.rdd.getNumPartitions}")

    val seeds = t("seedPlusPlus k=10")(KMeans.seedPlusPlus(pts, 10, 42L))
    t("seedParallel k=10 (1st)")(KMeans.seedParallel(pts, 10, 42L))
    t("seedParallel k=10 (2nd)")(KMeans.seedParallel(pts, 10, 42L))
    t("seedPlusPlus k=10 (2nd)")(KMeans.seedPlusPlus(pts, 10, 42L))
    var cs2 = seeds
    (1 to 10).foreach { i =>
      cs2 = t(s"lloydStepFast(literal) #$i")(KMeans.lloydStepFast(KMeans.assign(pts, cs2), 64, 1e6))
    }
    var cs3 = seeds
    (1 to 10).foreach { i =>
      cs3 = t(s"lloydStepOnePass #$i")(KMeans.lloydStepOnePass(pts, cs3, 64, 1e6))
    }
    System.out.println(s"[profile] onePass == fast: ${cs3 == cs2}")

    // phase split of one literal step: analysis+optimization+physical planning
    // vs execution
    (1 to 3).foreach { i =>
      val fx = transform(col("Y"), v => round(v * 1e6).cast("long"))
      val df = KMeans.assign(pts, cs2).groupBy("j")
        .agg(count(lit(1)).as("n"), graft.plans.native.vector_sum_long(fx, 64).as("s"))
      t(s"phase plan #$i")(df.queryExecution.executedPlan)
      t(s"phase exec #$i")(df.collect())
    }
    // seed round split
    (1 to 3).foreach { i =>
      t(s"seed round #$i")(KMeans.seedPlusPlusScalable(pts, cs2, 123L + i))
    }
    // overhead floor: a minimal 2-stage (partial+final agg) job over the same
    // cached data, no graft expressions at all
    (1 to 3).foreach { i =>
      t(s"floor 2-stage agg #$i")(pts.groupBy(col("i") % 7).count().collect())
    }
    (1 to 3).foreach { i =>
      t(s"floor 1-stage count #$i")(pts.count())
    }
    // step cost split: assignment-only scan vs assignment+agg
    (1 to 3).foreach { i =>
      t(s"assign-only scan #$i")(
        KMeans.assign(pts, cs2).select(sum(col("j"))).collect())
    }
    // manual fit loop with per-step timing (mirrors KMeans.fit literal path)
    t("manual fit loop") {
      var mcs = t("  seed")(KMeans.seedPlusPlus(pts, 10, 42L))
      var step = 0
      var move = Double.MaxValue
      while (move >= 0.01 && step < 50) {
        step += 1
        val next = t(f"  step $step%2d")(KMeans.lloydStepFast(KMeans.assign(pts, mcs), 64, 1e6))
        move = KMeans.movement(mcs, next)
        mcs = next
      }
    }
    t("fitHamerly (distributed)")(
      KMeans.fitHamerly(pts, k = 10, dim = 64, parallelSeed = true, seed = 42))
    t("fit plain (distributed)")(
      KMeans.fit(pts, k = 10, dim = 64, parallelSeed = true, seed = 42))
    // full fit: step count + movement trajectory
    val fit = t("full fit")(KMeans.fit(pts, k = 10, dim = 64, plusPlus = true, seed = 42))
    System.out.println(s"[profile] fit steps = ${fit.steps}, final movement = ${fit.finalMovement}")
    val moves = fit.log.groupBy(_.step).toSeq.sortBy(_._1).map(_._1)
    System.out.println(s"[profile] logged steps: ${moves.size}")
    var prev = fit.log.filter(_.step == 0).map(c => KMeans.Centroid(c.j, c.c))
    moves.drop(1).foreach { s =>
      val cur = fit.log.filter(_.step == s).map(c => KMeans.Centroid(c.j, c.c))
      System.out.println(f"[profile] step $s%2d movement = ${KMeans.movement(prev, cur)}%.5f")
      prev = cur
    }
    spark.stop()
  }
}
