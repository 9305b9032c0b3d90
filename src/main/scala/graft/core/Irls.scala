package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Fixed-plan design cache for iteratively reweighted least squares.
  *
  * The per-iteration DataFrame route (build `z`/`w` columns with the
  * current beta as literals, run [[Gram.compute]]) re-enters Catalyst
  * every step: beta literals make every iteration's plan NEW, so each
  * scan pays analysis + whole-stage-codegen compilation (~100-300 ms of
  * driver fixed cost) before touching a row. A converging fit is 10-30
  * iterations — that fixed cost dominates small-scale fits and is pure
  * waste at any scale. Here the (lane, y, w, x) projection is evaluated
  * ONCE through Catalyst (so pruning/pushdown still apply), converted to
  * primitive rows, and persisted; each iteration is then a plain
  * [[Reduce]] closure over the cached RDD with ZERO per-iteration
  * planning — the same structure Spark MLlib's own iterative optimizers
  * use (e.g. mllib LogisticRegression's treeAggregate loops).
  *
  * Batched grouped fits (e.g. [[graft.estimators.Probit.fitManyGrouped]]'s
  * bootstrap-replicate probits) give each row a lane index and one base
  * weight PER SYSTEM (replicate), and every iteration advances all
  * (lane, system) fits in one pass; rows whose lane is null or outside
  * [0, nLanes) are dropped at build time, exactly the rows
  * [[Gram.computeMulti]] skips.
  *
  * Bit-exactness: row order within partitions, partition count, and the
  * accumulation order inside [[GramBuffer]] match the DataFrame route
  * exactly, and [[Reduce]] merges partials in partition-index order on
  * both routes, so fits are bitwise identical to the per-iteration plans
  * they replace and to every replay of themselves (the working-response
  * arithmetic must be written in the same association order as the
  * Column expressions it mirrors — see the estimators).
  */
final class IrlsDesign(df: DataFrame, yCol: String, xCols: Seq[String],
    wCols: Seq[Column], laneOf: Column, nLanes: Int) {

  /** One lane, one base weight (`wCol`, or 1.0). */
  def this(df: DataFrame, yCol: String, xCols: Seq[String],
      wCol: Option[String]) =
    this(df, yCol, xCols, Seq(wCol.map(col).getOrElse(lit(1.0))), lit(0), 1)

  val k: Int = xCols.size
  private val nW = wCols.size
  private val strideV = 2 + nW + k

  /** ONE flat row-major chunk per partition, stride 2 + nW + k per row
    * ([lane, y, w_0 .. w_{nW-1}, x_0 .. x_{k-1}]): exact 8 B/value with
    * no per-row object headers or pointer chasing — a fraction of the
    * footprint (and GC pressure) of one small array per row, and the
    * iteration loops run over contiguous memory. */
  private val rows: RDD[Array[Double]] = {
    val proj0 = df.select(
      (laneOf.cast("int").as("__lane__") +: col(yCol).cast("double") +:
        (wCols.map(_.cast("double")) ++
          xCols.map(c => col(c).cast("double")))): _*)
    // same fixed fan-out guard as Gram.computeMulti, decided ONCE at
    // build: a replicate-heavy pass does ~nSys * stride flops per row,
    // and a single-file scan would run all of it on one task
    val proj =
      if (nW >= 16 && proj0.queryExecution.toRdd.getNumPartitions < 16)
        proj0.repartition(64)
      else proj0
    val width = 1 + nW + k
    val nl = nLanes
    proj.queryExecution.toRdd.mapPartitions { it =>
      val ab = scala.collection.mutable.ArrayBuilder.make[Double]
      while (it.hasNext) {
        val r = it.next()
        val lane = if (r.isNullAt(0)) -1 else r.getInt(0)
        if (lane >= 0 && lane < nl) {
          if (r.anyNull)
            throw InvalidArgument(
              "IRLS design read a null model value; drop null rows first")
          ab += lane.toDouble
          var i = 0
          while (i < width) { ab += r.getDouble(1 + i); i += 1 }
        }
      }
      Iterator.single(ab.result())
    }.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** ONE working-response Gram system at `beta` (single-lane,
    * single-weight designs): for each row, `working(y, wBase, xb, out)`
    * writes out(0) = z (response) and out(1) = w (weight); the design
    * enters the normal equations unchanged. Accumulates via
    * [[GramBuffer.add]] — the exact shape of the single-system
    * [[Gram.compute]] pass. */
  def gram(beta: Array[Double])(
      working: (Double, Double, Double, Array[Double]) => Unit): GramResult = {
    require(nLanes == 1 && nW == 1, "gram needs a one-lane, one-weight design")
    val kk = k
    val stride = strideV
    val res = Reduce(rows, "irls: iteration pass", () => new GramBuffer(kk, 1, 1))(
      (buf, chunk) => {
        var off = 0
        while (off < chunk.length) {
          var xb = 0.0
          var i = 0
          while (i < kk) { xb += chunk(off + 3 + i) * beta(i); i += 1 }
          working(chunk(off + 1), chunk(off + 2), xb, buf.zw)
          System.arraycopy(chunk, off + 3, buf.xRow, 0, kk)
          buf.add(0, buf.zw(0), buf.zw(1), buf.xRow, Gram.oneRep)
          off += stride
        }
        buf
      },
      _ merge _)
    res.result(0, 0)
  }

  /** One pass advancing `nSys` active systems across all lanes:
    * `betas(s)(lane)` is system s's current beta for that lane,
    * `wIdx(s)` its base-weight slot, `working(y, wBase, xb, s, out)`
    * its working response; systems with out(1) == 0 skip the row.
    * Accumulates via [[GramBuffer.addOne]] + per-row `bumpLane`, the
    * exact shape of [[Gram.computeMulti]]. Returns [lane][system]. */
  def gramMulti(betas: Array[Array[Array[Double]]], wIdx: Array[Int])(
      working: (Double, Double, Double, Int, Array[Double]) => Unit)
      : Array[Array[GramResult]] = {
    val kk = k
    val nw = nW
    val stride = strideV
    val nSys = betas.length
    val nl = nLanes
    val res = Reduce(rows, s"irls: ${nl}-lane ${nSys}-system pass",
      () => new GramBuffer(kk, nl, nSys))(
      (buf, chunk) => {
        var off = 0
        while (off < chunk.length) {
          val lane = chunk(off).toInt
          val y = chunk(off + 1)
          System.arraycopy(chunk, off + 2 + nw, buf.xRow, 0, kk)
          var s = 0
          while (s < nSys) {
            val b = betas(s)(lane)
            var xb = 0.0
            var i = 0
            while (i < kk) { xb += chunk(off + 2 + nw + i) * b(i); i += 1 }
            working(y, chunk(off + 2 + wIdx(s)), xb, s, buf.zw)
            if (buf.zw(1) != 0.0)
              buf.addOne(lane, s, buf.zw(0), buf.zw(1), buf.xRow)
            s += 1
          }
          buf.bumpLane(lane)
          off += stride
        }
        buf
      },
      _ merge _)
    Array.tabulate(nl)(l => Array.tabulate(nSys)(s => res.result(l, s)))
  }

  def unpersist(): Unit = { rows.unpersist(blocking = false); () }
}
