package graft.core

import java.util.concurrent.{ExecutionException, FutureTask}

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Job labeling (guide §1.5): multi-pass operators set a description per
  * phase so the UI / job-level profilers attribute cost to the phase, not
  * to an anonymous AQE stage-materialization callsite. Descriptions are
  * thread-local and AQE's stage futures capture them, so concurrent
  * actions from different threads stay correctly labeled. Labels nest:
  * the caller's description is restored when the block exits. */
object Jobs {
  def labeled[T](spark: SparkSession, desc: String)(body: => T): T =
    labeled(spark.sparkContext, desc)(body)

  def labeled[T](sc: SparkContext, desc: String)(body: => T): T = {
    val outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(outer)
  }

  /** Run two INDEPENDENT action chains concurrently (guide §2.6 —
    * overlap independent jobs: Spark happily runs several jobs at once;
    * actions are only sequential because driver code calls them
    * sequentially). `b` runs on a helper thread, `a` on the caller's;
    * exceptions from `b` rethrow unwrapped so callers see the same
    * error types the sequential code produced. Only use when the two
    * computations share no mutable state — each side's own jobs,
    * partitioning and accumulation order are untouched, so results are
    * bit-identical to running them back to back.
    *
    * Failure path: `b` is always joined before par2 returns or throws,
    * so no helper keeps launching jobs behind the caller. When both
    * sides fail, `b`'s exception wins (it is typically the validation
    * side, e.g. RIF's group check) with `a`'s attached as suppressed. */
  def par2[A, B](a: => A, b: => B): (A, B) = {
    val fb = new FutureTask[B](() => b)
    val t = new Thread(fb, "graft-par2")
    t.setDaemon(true)
    t.start()
    val ra = try Right(a) catch { case e: Throwable => Left(e) }
    val rb = try Right(fb.get()) catch { case e: ExecutionException => Left(e.getCause) }
    (ra, rb) match {
      case (Right(va), Right(vb)) => (va, vb)
      case (Left(ea), Right(_)) => throw ea
      case (_, Left(eb)) =>
        ra.left.foreach(ea => if (ea ne eb) eb.addSuppressed(ea))
        throw eb
    }
  }
}
