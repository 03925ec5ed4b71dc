package graft

import org.apache.spark.sql.types._

/** `Tables.read` infers a table's schema once per file version: a repeat
  * read plans its scan with no Spark job, and a rewritten file or a session
  * whose parquet-inference confs differ infers again.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** (result of `body`, Spark jobs it started). */
  private def countingJobs[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.ListenerDrain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  test("a repeat read of an unchanged file starts no job and reads the same") {
    val first = Tables.read(spark, sf("0.001"), "orders")
    val (again, jobs) = countingJobs(Tables.read(spark, sf("0.001"), "orders"))
    assert(jobs == 0, s"a repeat read started $jobs job(s)")
    assert(again.schema == first.schema)
    assert(again.schema == spark.read.parquet(s"${sf("0.001")}/orders.parquet").schema)
    assert(again.collect().toSeq == first.collect().toSeq)
  }

  test("a file rewritten at the same path with another schema is inferred again") {
    val dir = java.nio.file.Files.createTempDirectory("tables_spec").toString
    try {
      Seq((1L, 2L)).toDF("a", "b").write.parquet(s"$dir/t.parquet")
      assert(Tables.read(spark, dir, "t").schema.map(_.name) == Seq("a", "b"))
      Seq(("x", 1.5)).toDF("c", "d").write.mode("overwrite").parquet(s"$dir/t.parquet")
      val (df, jobs) = countingJobs(Tables.read(spark, dir, "t"))
      assert(jobs > 0, "a rewritten file must be inferred again")
      assert(df.schema.map(f => (f.name, f.dataType)) ==
        Seq(("c", StringType), ("d", DoubleType)))
      assert(df.as[(String, Double)].collect().toSeq == Seq(("x", 1.5)))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("flipping nanosAsLong infers events.ts again; flipping back reuses the memo") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.get(key)
    val warm = Tables.read(spark, sf("0.001"), "events").schema
    val flipped = if (before == "true") "false" else "true"
    try {
      spark.conf.set(key, flipped)
      val (df, jobs) = countingJobs(Tables.read(spark, sf("0.001"), "events"))
      assert(jobs > 0, s"$key=$flipped must infer events again")
      // the fixture's ts is TIMESTAMP(MICROS), which the flag does not touch
      assert(df.schema("ts").dataType == warm("ts").dataType)
    } finally spark.conf.set(key, before)
    val (back, jobs) = countingJobs(Tables.read(spark, sf("0.001"), "events"))
    assert(jobs == 0 && back.schema == warm)
  }
}
