package perfbench

import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** A fixed sample of `SparkEntry.queries` on the engine's sf0.01 fixture
  * tables (committed under `data/sf0.01`), run with a `clearCache` per
  * query like `graft.Bench` runs them. The sink is the result digest (a
  * hash of every column of every row, so nothing is pruned, as with Bench's
  * `noop` sink); each digest is compared with its pinned value outside the
  * timing. The queries run in list order whatever the workload seed: the
  * first query after the memo reset rebuilds the memos it shares with later
  * ones, and with a seed-permuted order `op_tail_s` spread by 0.44 of its
  * median (IQR) over five seeds. One operation = one query.
  */
final class SuiteSample extends Workload {
  import SuiteSample._
  val name = "suite_sample"

  def setup(ctx: Ctx): Unit = build(ctx)

  def ops(ctx: Ctx): Seq[Op] =
    names.map { q =>
      Op(q, family(q), c => {
        c.spark.catalog.clearCache()
        if (!c.tracer.enabled) digest(SparkEntry.queries(q)(c.spark, Dir))
        else {
          val t = c.tracer
          val df = t.span("SparkEntry.build")(SparkEntry.queries(q)(c.spark, Dir))
          t.span("catalyst.plan")(df.queryExecution.executedPlan)
          t.span("SparkEntry.exec")(digest(df))
        }
      })
    }

  /** Every pass, the warm-up passes included, starts with the memos dropped
    * (a memo hit must never stand in for work).
    */
  override def resetBeforePass(ctx: Ctx): Unit = SparkEntry.clearMemos()

  private lazy val pinned = pinnedDigests()

  def check(ctx: Ctx, op: Op, r: Any): Option[String] =
    if (pinned.get(op.name).contains(r)) None
    else Some(s"${op.name}: digest $r, pinned ${pinned.getOrElse(op.name, "none")}")

  override def layerMetrics(ctx: Ctx, t: TraceView): Seq[(String, Double, String)] = {
    val build = t.spansNamed("SparkEntry.build")
    val roots = t.tracer.spans.filter(_.parent == -1).toSeq
    Seq(
      ("SparkEntry.build_s", t.perPass(t.secs(build)), "s"),
      ("SparkEntry.build_jobs", t.perPass(t.counts(build).jobs), "count"),
      ("catalyst.plan_s", t.perPass(t.secs(t.spansNamed("catalyst.plan"))), "s"),
      ("SparkEntry.exec_s", t.perPass(t.secs(t.spansNamed("SparkEntry.exec"))), "s")) ++
      Families.flatMap { f =>
        val ops = roots.filter(s => t.opFamily.get(s.id).contains(f))
        val c = t.counts(ops)
        Seq((s"SparkEntry.$f.wall_s", t.perPass(t.secs(ops)), "s"),
          (s"SparkEntry.$f.jobs", t.perPass(c.jobs), "count"),
          (s"SparkEntry.$f.task_s", t.perPass(c.taskMs / 1e3), "s"))
      }
  }
}

object SuiteSample {
  val Families = Seq("dedup", "sim", "emb", "retrieval", "text", "doc", "corpus",
    "events", "mm", "pipeline", "km", "q")

  def home: String = sys.props.getOrElse("perfbench.home", "perfbench")

  /** The fixture tables, read in place (the engine writes its indexes
    * under `java.io.tmpdir`, never here).
    */
  def Dir: String = s"$home/data/sf0.01"

  /** The committed query list, one name a line; `#` starts a comment. */
  lazy val names: Seq[String] = {
    val src = scala.io.Source.fromFile(s"$home/suite_sample.txt")
    try src.getLines().map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty).toList
    finally src.close()
  }

  def family(q: String): String = {
    val p = q.takeWhile(_ != '_')
    if (p.matches("q[0-9]*")) "q" else p
  }

  /** Build the persisted indexes the sample reads: the retrieval subset
    * (the full `prewarmIndexes` builds ten, for 11-16 s of a run).
    */
  def build(ctx: Ctx): Unit =
    ctx.phase("SparkEntry.prewarmRetrievalIndexes")(SparkEntry.prewarmRetrievalIndexes(ctx.spark, Dir))

  /** [[Gen.digest]] with map columns rendered as JSON (maps cannot be hashed). */
  def digest(df: DataFrame): String =
    Gen.digest(df.select(df.schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }: _*))

  def pinnedDigests(): Map[String, String] = {
    val f = new java.io.File(s"$home/suite_digests.json")
    if (!f.isFile) Map.empty
    else "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r
      .findAllMatchIn(java.nio.file.Files.readString(f.toPath))
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  /** Maintenance modes, not part of a benchmark run:
    *  - `probe`: time every engine query once on the fixture tables
    *    (input for choosing the sample), written to `out`;
    *  - `pin`: write the digests of the sampled queries to `out`;
    *  - `dump`: write each sampled query's result and its oracle SQL under
    *    `out/results`, for `tools/check_oracle.py` against the same tables.
    */
  def maintain(ctx: Ctx, mode: String, out: String): Unit = {
    ctx.spark = Main.newSession(ctx)
    val spark = ctx.spark
    build(ctx)
    def write(path: String, s: String): Unit = {
      new java.io.File(path).getAbsoluteFile.getParentFile.mkdirs()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), s)
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def run(n: String): DataFrame = { spark.catalog.clearCache(); SparkEntry.queries(n)(spark, Dir) }
    mode match {
      case "probe" =>
        val w = new java.io.PrintWriter(out)
        SparkEntry.queries.keys.toSeq.sorted.foreach { n =>
          val t0 = System.nanoTime()
          val ok = try { run(n).write.format("noop").mode("overwrite").save(); "ok" }
            catch { case e: Throwable => s"error ${e.getClass.getSimpleName}" }
          w.println(f"$n ${(System.nanoTime() - t0) / 1e9}%.3f $ok"); w.flush()
        }
        w.close()
      case "pin" =>
        write(out, names.map(n => s"  ${q(n)}: ${q(digest(run(n)))}").mkString("{\n", ",\n", "\n}\n"))
      case "dump" =>
        names.foreach(n => run(n).coalesce(1).write.mode("overwrite").parquet(s"$out/results/$n"))
        write(s"$out/results/oracle_sql.json", SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
          .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",\n", "}"))
    }
    spark.stop()
  }
}
