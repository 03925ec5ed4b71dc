package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark's own measurement: spans and listener
  * counts charge work to the layer that did it, checks turn a wrong result
  * into a failure, and the generator is a function of its seed.
  *
  * Run with `sbt test` in perfbench/.
  */
class AttributionSpec extends AnyFunSuite {
  private lazy val workDir = {
    val d = new java.io.File(sys.props("java.io.tmpdir"), "perfbench-spec")
    d.mkdirs()
    d.getAbsolutePath
  }

  private def session(): SparkSession = Main.newSession(new Ctx(0L, 2, workDir))

  /** One traced operation `op(A, B)`; `inject` adds one Spark job and a
    * 300 ms sleep inside B only. Returns (name -> (jobs, self seconds)).
    */
  private def tracedOp(spark: SparkSession, inject: Boolean): Map[String, (Long, Double)] = {
    val sc = spark.sparkContext
    val t = new Tracer(true, sc)
    val l = new LayerListener(t)
    sc.addSparkListener(l)
    t.span("op") {
      t.span("A")(spark.range(1000).selectExpr("sum(id)").collect())
      t.span("B") {
        spark.range(2000).selectExpr("max(id)").collect()
        if (inject) { sc.parallelize(1 to 10, 2).count(); Thread.sleep(300) }
      }
    }
    org.apache.spark.ListenerDrain(sc)
    sc.removeSparkListener(l)
    assert(t.badOps().isEmpty)
    t.spans.map { s =>
      s.name -> (l.bySpan.get(s.id).fold(0L)(_.jobs), t.selfNanos(s) / 1e9)
    }.toMap
  }

  test("an injected job and sleep move only the wrapped layer's jobs and self time") {
    val spark = session()
    try {
      tracedOp(spark, inject = false) // warm-up
      val base = tracedOp(spark, inject = false)
      val hit = tracedOp(spark, inject = true)
      assert(hit("B")._1 == base("B")._1 + 1)
      assert(hit("A")._1 == base("A")._1)
      assert(hit("op")._1 == base("op")._1)
      assert(hit("B")._2 - base("B")._2 > 0.29)
      assert(math.abs(hit("A")._2 - base("A")._2) < 0.15)
      assert(math.abs(hit("op")._2 - base("op")._2) < 0.05)
    } finally spark.stop()
  }

  test("self times that do not add up to the operation fail the trace") {
    val t = new Tracer(true, null)
    // a child that outlives its parent (asynchronous work leaking out)
    t.spans += Span(0, "op", -1, 0, 0L, 100L)
    t.spans += Span(1, "child", 0, 0, 50L, 150L)
    assert(t.badOps().nonEmpty)
  }

  /** A workload whose first run of its one operation returns a wrong
    * result: the harness must count it as failed and report incorrect.
    */
  private class WrongOnce extends Workload {
    val name = "wrong_once"
    private var runs = 0
    def setup(ctx: Ctx): Unit = ctx.spark.range(10).count()
    def ops(ctx: Ctx): Seq[Op] = Seq(Op("sum", "q", c => {
      runs += 1
      val s = c.spark.range(100).selectExpr("sum(id)").head().getLong(0)
      if (runs == 1) s + 1 else s
    }))
    def check(ctx: Ctx, op: Op, r: Any): Option[String] =
      if (r == 4950L) None else Some(s"sum is $r, expected 4950")
  }

  test("an injected wrong result counts as a failure") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      Harness.run(new WrongOnce, new Ctx(0L, 2, workDir), seconds = 0.2,
        trace = false, out = "", jvmS = 0.0)
    }
    val last = out.toString.trim.linesIterator.toSeq.last
    assert(last.contains("\"correct\":false"), last)
    assert(last.contains("\"failed\":1,"), last)
  }

  test("workload checks reject wrong k-means results") {
    val ck = new ChooseK
    val op = Op("sweep", "km", _ => ())
    val good = Seq((2L, 1.0, 1.0, 0.5), (3L, 1.0, 1.0, 0.9), (4L, 1.0, 1.0, 0.8))
    assert(ck.check(null, op, good).isEmpty)
    assert(ck.check(null, op, good.map(r => if (r._1 == 4L) r.copy(_4 = 0.95) else r)).nonEmpty)
    assert(ck.check(null, op, good.map(r => if (r._1 == 2L) r.copy(_2 = Double.NaN) else r)).nonEmpty)
    val ls = new LloydScale
    val fit = graft.operators.KMeans.FitResult(Nil, Nil, steps = ls.maxIter, finalMovement = 1.0)
    assert(ls.check(null, Op("fit", "km", _ => ()), fit).nonEmpty)
  }

  test("the generator gives the same data for a seed and other data for another") {
    val spark = session()
    try {
      def d(seed: Long) = Gen.digest(Gen.mixture(spark, 5000, 4, 3, 2.0, 1.0, seed, 3))
      assert(d(7) == d(7))
      assert(d(7) != d(8))
      // the partitioning does not change the data
      assert(Gen.digest(Gen.mixture(spark, 5000, 4, 3, 2.0, 1.0, 7, 1)) == d(7))
    } finally spark.stop()
  }
}
