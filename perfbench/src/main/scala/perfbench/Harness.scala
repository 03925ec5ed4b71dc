package perfbench

import scala.collection.mutable

/** Runs one workload: set-up ending in untimed warm-up passes, a closed
  * loop of passes for the requested seconds (one client thread, one
  * operation at a time), output checks outside the timing, and the result
  * line.
  */
object Harness {
  import Main._

  private final case class OpRun(op: Op, wall: Double, cpu: Double, result: Any, error: Option[String])
  private final case class Pass(ops: Seq[OpRun]) {
    def wall: Double = ops.map(_.wall).sum
    def cpu: Double = ops.map(_.cpu).sum
  }

  private def runPass(w: Workload, ctx: Ctx): Pass = {
    w.resetBeforePass(ctx)
    Pass(w.ops(ctx).map { op =>
      val c0 = cpuSec()
      val t0 = System.nanoTime()
      val res = try Right(ctx.tracer.span("op:" + op.name)(op.run(ctx)))
        catch { case e: Throwable => Left(s"${op.name} failed: $e") }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = cpuSec() - c0
      val err = res.fold(Some(_), r => w.check(ctx, op, r))
      System.err.println(f"[perfbench] op ${op.name} $wall%.3f s${err.fold("")(" " + _)}")
      OpRun(op, wall, cpu, res.getOrElse(null), err)
    })
  }

  /** Passes until their summed wall reaches `seconds` (at least one). */
  private def timedPasses(w: Workload, ctx: Ctx, seconds: Double): Seq[Pass] = {
    val passes = mutable.ArrayBuffer.empty[Pass]
    while (passes.isEmpty || passes.map(_.wall).sum < seconds)
      passes += runPass(w, ctx)
    passes.toSeq
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def run(w: Workload, ctx: Ctx, seconds: Double, trace: Boolean, out: String, jvmS: Double): Unit = {
    // ---- set-up
    val t0 = System.nanoTime()
    ctx.phase("session")(ctx.spark = newSession(ctx))
    w.setup(ctx)
    // class loading, code generation and JIT happen here, not in the timing
    val warmup = ctx.phase("warmup")(Seq.fill(w.warmupPasses)(runPass(w, ctx)))
    val setupS = jvmS + (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] set-up: $setupS%.3f s jvm=$jvmS%.3f " +
      ctx.phases.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))

    val metrics = mutable.ArrayBuffer.empty[(String, Double, String)]
    var attempted = 0
    var failed = 0
    var traceOk = true
    def note(p: Seq[Pass]): Unit = {
      attempted += p.map(_.ops.size).sum
      failed += p.map(_.ops.count(_.error.nonEmpty)).sum
    }
    note(warmup)

    System.gc()
    val passes: Seq[Pass] =
      if (!trace) {
        val ps = timedPasses(w, ctx, seconds)
        val walls = ps.flatMap(_.ops.map(_.wall))
        val (tailV, tailP, tailN) = tail(walls)
        println(f"[perfbench] ${w.name}: ${ps.size} pass(es), ${walls.size} operations; " +
          f"op_tail_s is p$tailP%.1f of $tailN operations")
        metrics ++= Seq(
          ("setup_s", setupS, "s"),
          ("wall_s", median(ps.map(_.wall)), "s"),
          ("op_p50_s", median(walls), "s"),
          ("op_tail_s", tailV, "s"),
          ("cpu_s", median(ps.map(_.cpu)), "s"))
        ps
      } else {
        // untraced and traced passes in ABBA blocks, so a drift of pass
        // times (the JIT still warming up) cancels out of the
        // traced-minus-untraced median wall, the tracing overhead
        val sc = ctx.spark.sparkContext
        val off = ctx.tracer
        val on = new Tracer(true, sc)
        val listener = new LayerListener(on)
        sc.addSparkListener(listener)
        LiveHeap.start()
        val plain = mutable.ArrayBuffer.empty[Pass]
        val ps = mutable.ArrayBuffer.empty[Pass]
        var gc = 0.0
        def traced(): Unit = {
          ctx.tracer = on
          val gc0 = gcSec()
          ps += runPass(w, ctx)
          gc += gcSec() - gc0
          ctx.tracer = off
        }
        while (ps.isEmpty || ps.map(_.wall).sum < seconds) {
          plain += runPass(w, ctx)
          traced()
          traced()
          plain += runPass(w, ctx)
        }
        note(plain.toSeq)
        org.apache.spark.ListenerDrain(sc)
        sc.removeSparkListener(listener)
        val bad = on.badOps()
        bad.foreach(b => System.err.println(s"[perfbench] span nesting broken: $b"))
        traceOk = bad.isEmpty
        val roots = on.spans.filter(_.parent == -1).toSeq
        val opFamily = {
          val byName = ps.head.ops.map(r => "op:" + r.op.name -> r.op.family).toMap
          roots.map(s => s.id -> byName.getOrElse(s.name, "")).toMap
        }
        val view = new TraceView(on, listener, ps.size, opFamily)
        // only work inside the traced operations counts (not the untraced
        // passes, not the state resets between passes)
        val all = view.counts(roots)
        val opMs = roots.map(_.dur).sum / 1e6
        val idleMs = roots.map(r => r.dur / 1e6 - listener.coveredMs(on.epochMs(r.start), on.epochMs(r.end))).sum
        val wallS = median(ps.map(_.wall).toSeq)
        def pp(x: Double) = view.perPass(x)
        metrics ++= Seq(
          ("trace.wall_s", wallS, "s"),
          ("trace.overhead_s", wallS - median(plain.map(_.wall).toSeq), "s"),
          ("scheduler.jobs", pp(all.jobs), "count"),
          ("scheduler.stages", pp(all.stages), "count"),
          ("scheduler.tasks", pp(all.tasks), "count"),
          ("scheduler.idle_s", pp(idleMs / 1e3), "s"),
          ("executor.task_s", pp(all.taskMs / 1e3), "s"),
          ("executor.cpu_s", pp(all.cpuNs / 1e9), "s"),
          ("executor.gc_s", pp(all.gcMs / 1e3), "s"),
          ("executor.crit_s", pp(all.critMs / 1e3), "s"),
          ("executor.par", if (opMs > 0) all.taskMs / opMs else 0.0, "ratio"),
          ("shuffle.read_bytes", pp(all.shuffleRead), "bytes"),
          ("shuffle.write_bytes", pp(all.shuffleWrite), "bytes"),
          ("shuffle.spill_bytes", pp(all.spill), "bytes"),
          ("Tables.input_bytes", pp(all.inputBytes), "bytes"),
          ("Tables.input_records", pp(all.inputRecords), "count"),
          ("driver.gc_s", pp(gc), "s"),
          ("driver.heap_peak_mb", LiveHeap.stopMb(), "MB"),
          ("SparkEntry.prewarmRetrievalIndexes_s", ctx.phases.getOrElse("SparkEntry.prewarmRetrievalIndexes", 0.0), "s"))
        val own = w.layerMetrics(ctx, view).map(_._1).toSet
        metrics ++= w.layerMetrics(ctx, view)
        metrics ++= LayerNames.All.filterNot(n => own(n._1) || metrics.exists(_._1 == n._1))
          .map { case (n, unit) => (n, 0.0, unit) }
        writeTrace(view, out)
        ps.toSeq
      }
    note(passes)

    // ---- expensive output checks, outside every timed region
    val last = passes.last.ops.map(r => r.op.name -> r.result).toMap
    val finalErrors = w.finalChecks(ctx, last)
    finalErrors.foreach(e => System.err.println(s"[perfbench] wrong result: $e"))
    failed += finalErrors.size
    ctx.spark.stop()

    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
    println(s"""{"correct":${failed == 0 && traceOk},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":${ms.mkString("{", ",", "}")}}""")
  }

  /** Spans (with self times) and per-span listener counts, one file per run. */
  private def writeTrace(view: TraceView, out: String): Unit = {
    if (out.isEmpty) return
    val t = view.tracer
    val sb = new StringBuilder("{\"spans\":[\n")
    sb ++= t.spans.map { s =>
      val c = view.listener.bySpan.get(s.id).map(_.toJson).getOrElse("{}")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"self_ns":${t.selfNanos(s)},"counts":$c}"""
    }.mkString(",\n")
    sb ++= s"""],\n"unattributed":${view.listener.bySpan.get(-1).map(_.toJson).getOrElse("{}")}}\n"""
    val f = new java.io.File(out)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, sb.toString)
  }
}
