package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{KMeans, Quality}
import graft.sources.Sinks

/** End-to-end replica of the reference's primary entry point (`k-means.sh`,
  * E1 in SURVEY.md §3): generate the planted-cluster demo dataset
  * (k-means.sql:1-4, seeded), run the full seeding + Lloyd loop with
  * progress printed per step like the shell loop does, report quality
  * metrics (OptimalK.sql), and export the scatter-plot pivot as
  * TSVWithNames (k-means.sh:36-45).
  *
  * Run: `tools/run.sh graft.KMeansDemo [outDir]`
  */
object KMeansDemo {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/kmeans_demo")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // testdata gen, reference k-means.sql:1-4: 4 seed points cloned 500x
    // with bounded jitter; rand(seed) replaces rand64() for determinism
    val seeds = Seq((10.0, 15.0), (70.0, 10.0), (15.0, 80.0), (75.0, 70.0))
    val points = seeds.zipWithIndex
      .map { case ((x, y), ix) => (ix.toLong, x, y) }
      .toDF("s", "sx", "sy")
      .crossJoin(spark.range(501).toDF("id"))
      .select(
        (col("s") * 501 + col("id") + 1).as("i"),
        array(col("sx") + rand(42) * 30.0, col("sy") + rand(43) * 50.0).as("Y"))
      .cache()
    println(s"generated ${points.count()} points in 4 planted clusters")

    // seeding + Lloyd loop (k-means.sh:8-33)
    val fit = KMeans.fit(points, k = 4, dim = 2, KMeans.PlusPlus(seed = 7), maxCells = -1)
    println(s"converged after ${fit.steps} steps (movement ${f"${fit.finalMovement}%.4f"})")
    fit.centroids.foreach(c =>
      println(f"  centroid j=${c.j} at (${c.c(0)}%8.3f, ${c.c(1)}%8.3f)"))

    // quality metrics (OptimalK.sql)
    val Array(d1, d2) = Quality.elbow(points, fit.centroids).head().toSeq.toArray
    val si = Quality.silhouetteSimplified(KMeans.assign(points, fit.centroids))
      .select("si").as[Double].head()
    println(f"elbow d1=$d1, WCSS=$d2, simplified silhouette=$si%.4f")

    // scatter-plot pivot export (k-means.sql:58-66 + k-means.sh:36-45)
    val assigned = KMeans.assign(points, fit.centroids)
    val pivotCols = fit.centroids.map(c =>
      when(col("j") === c.j, element_at(col("Y"), 2)).as(s"c${c.j}"))
    val pivot = assigned.select(
      (element_at(col("Y"), 1).as("x") +: pivotCols): _*)
    Sinks.writeTsv(pivot, outDir)
    println(s"pivot TSV written to $outDir")
    spark.stop()
  }
}
