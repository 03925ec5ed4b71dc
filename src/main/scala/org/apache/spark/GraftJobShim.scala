package org.apache.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.util.Utils
import scala.reflect.ClassTag

/** Kernel jobs without the closure cleaner. `SparkContext.runJob` passes
  * every job function through `SparkContext.clean`, and each RDD
  * transformation cleans its function again, so one `mapPartitions` +
  * `collect` scan is cleaned three times. A clean parses the class that
  * declared the closure with ASM (to reject a non-local `return`) and
  * serializes the closure once on the driver as a check; the parse is most
  * of a small kernel job's driver time (in a JFR profile of a 20-s choose-K
  * sweep run on a 4-core VM, ClosureCleaner was 118 of the driver thread's
  * 469 samples, 115 of them in ASM's `ClassReader`). Outside the Scala
  * REPL the clean leaves the closure unchanged, so skipping it changes no
  * result: a closure that does not serialize still fails, when the
  * scheduler serializes the task, with the job's "Task not serializable"
  * `SparkException`. Spark SQL's own
  * operators make the same trade with `mapPartitionsInternal`. A closure
  * passed here must not hold a non-local `return`, which the clean used to
  * reject.
  *
  * The calls used are `private[spark]`, so this lives in the
  * `org.apache.spark` package; re-check them on a Spark upgrade:
  * `SparkContext.dagScheduler`, `localProperties`, `getCallSite`,
  * `progressBar`, `DAGScheduler.runJob`, `RDD.doCheckpoint`,
  * `RDD.mapPartitionsInternal` and `Utils.cloneProperties`.
  */
object GraftJobShim {
  /** `f(partition, rows)` for every partition of `rdd` in `parts` (all by
    * default), as ONE job described as `name` (the Spark UI's and event
    * log's job description), the results in `parts` order. What
    * `SparkContext.runJob(rdd, func, partitions, resultHandler)` does
    * except `clean(func)`: the stopped check, the call site and the
    * thread's local properties (with the description set on a copy, so
    * the caller's stay as they were), `DAGScheduler.runJob`, then
    * `rdd.doCheckpoint()`.
    */
  def run[T, U: ClassTag](rdd: RDD[T], name: String, parts: Seq[Int] = null)(
      f: (Int, Iterator[T]) => U): Array[U] = {
    val sc = rdd.sparkContext
    if (sc.isStopped) throw new IllegalStateException("SparkContext has been shutdown")
    val ps = if (parts == null) rdd.partitions.indices else parts
    val results = new Array[U](ps.size)
    val props = Utils.cloneProperties(sc.localProperties.get)
    props.setProperty(SparkContext.SPARK_JOB_DESCRIPTION, name)
    sc.dagScheduler.runJob(rdd, (ctx: TaskContext, it: Iterator[T]) => f(ctx.partitionId(), it), ps,
      sc.getCallSite(), (ix: Int, r: U) => results(ix) = r, props)
    sc.progressBar.foreach(_.finishAll())
    rdd.doCheckpoint()
    results
  }

  /** `rdd.mapPartitions(f)` without cleaning `f` ([[run]]'s trade). */
  def mapPartitionsInternal[T, U: ClassTag](rdd: RDD[T])(f: Iterator[T] => Iterator[U]): RDD[U] =
    rdd.mapPartitionsInternal(f)

  /** `rdd.mapPartitionsWithIndex(f)` without cleaning `f` ([[run]]'s trade). */
  def mapPartitionsWithIndexInternal[T, U: ClassTag](rdd: RDD[T])(f: (Int, Iterator[T]) => Iterator[U]): RDD[U] =
    rdd.mapPartitionsWithIndexInternal(f)
}
