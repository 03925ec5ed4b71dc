package graft

import org.apache.spark.sql.SparkSession

/** Plan inspector: `tools/run.sh graft.Explain <query> [sfDir] [--run]`
  * prints the formatted physical plan (and optionally executes with timing).
  *
  * `graft.Explain --scan-audit [sfDir]` instead sweeps EVERY query plan
  * (cache cleared per query) and reports each table scanned ≥ 3 times —
  * the multi-consumer re-scan pathology (one logical relation feeding k
  * aggregates re-runs the whole upstream k times unless persisted or
  * exchange-reused; at 100 TB that's k corpus scans for one query). Plan
  * reuse-node counts ride along as context, never as an exemption. Hits
  * are leads, not verdicts: pruned/filtered re-scans of a raw table are
  * often the RIGHT plan (see the funnel/spans decision comments).
  */
object Explain {

  /** File scans per table (the root path's name, `.parquet` stripped) in
    * `df`'s pre-AQE physical plan — the `--scan-audit` count. Scan NODES
    * are counted, not plan text: the text over-reports for persisted
    * queries because every InMemoryRelation description embeds its child
    * scan's string.
    */
  def scanCounts(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
    df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.headOption
          .map(_.getName.stripSuffix(".parquet")).getOrElse("?")
    }.groupBy(identity).view.mapValues(_.size).toMap

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).filterNot(_.startsWith("--"))
      .getOrElse("/root/testdata/sf0.01")
    val run = args.contains("--run")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (name == "--scan-audit") {
      val dir = args.lift(1).getOrElse("/root/testdata/sf0.001")
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (qn, fn) =>
        // isolate: an earlier query's persist() would otherwise inject
        // InMemoryTableScans into later plans and mask their re-scans
        spark.catalog.clearCache()
        try {
          val df = fn(spark, dir)
          // cache hits reported for context, never used to suppress: a
          // cached subtree on one branch says nothing about a different
          // table being re-scanned 4x elsewhere in the same plan
          val cached = df.queryExecution.sparkPlan.collect {
            case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => c
          }.size
          scanCounts(df).toSeq.filter(_._2 >= 3).sortBy(-_._2).foreach { case (t, n) =>
            println(s"[scan-audit] $qn: $n scans of $t (cached subtrees: $cached)")
          }
        } catch { case e: Throwable =>
          println(s"[scan-audit] $qn: SKIP (${e.getClass.getSimpleName})")
        }
      }
      spark.stop(); return
    }
    // --dump-dir <dir>: write each named query's formatted plan to
    // <dir>/<name><suffix>.txt in ONE JVM (plan-capture batching, r18);
    // optional --suffix _before/_after names the round deliverables.
    val dumpIx = args.indexOf("--dump-dir")
    if (dumpIx >= 0) {
      // r19 advice: a flag with no value must fail loudly, and a partial
      // dump must exit non-zero — a scripted plan-capture run otherwise
      // silently produces an incomplete plans/ directory
      def flagValue(ix: Int, flag: String): String = {
        require(ix + 1 < args.length && !args(ix + 1).startsWith("--"),
          s"$flag requires a value")
        args(ix + 1)
      }
      val outDir = new java.io.File(flagValue(dumpIx, "--dump-dir"))
      outDir.mkdirs()
      val sufIx = args.indexOf("--suffix")
      val suffix = if (sufIx >= 0) flagValue(sufIx, "--suffix") else ""
      val names = args.toSeq.filterNot(_.startsWith("--"))
        .filterNot(a => new java.io.File(a).isDirectory)
        .filterNot(a => a == args(dumpIx + 1))
        .filterNot(a => sufIx >= 0 && (a == args(sufIx + 1)))
      var failed = List.empty[String]
      names.foreach { qn =>
        spark.catalog.clearCache()
        try {
          val plan = SparkEntry.queries(qn)(spark, sfDir)
            .queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.write(
            new java.io.File(outDir, s"$qn$suffix.txt").toPath,
            plan.getBytes("UTF-8"))
          println(s"[explain] dumped $qn")
        } catch { case e: Throwable =>
          failed ::= qn
          println(s"[explain] $qn FAILED: ${e.getMessage}")
        }
      }
      spark.stop()
      if (failed.nonEmpty) {
        System.err.println(
          s"[explain] ${failed.size} dump(s) failed: ${failed.reverse.mkString(", ")}")
        sys.exit(1)
      }
      return
    }
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    if (run) {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[explain] $name executed in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
