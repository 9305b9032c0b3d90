package graft.core

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD

import scala.reflect.ClassTag

/** The engine's one distributed fold: every estimator pass (Gram/IRLS,
  * KDE grid, frontier sweep, PCA moments, sketches) folds each partition
  * into its own fresh buffer and merges the partials.
  *
  * Invariant: the result depends only on the partition contents and the
  * partition count, never on which task finishes first. Each partition
  * folds its rows serially into a buffer from `zero()`, so a buffer may
  * keep per-row scratch. Partials merge strictly in partition-index
  * order: past a few partitions one executor-side level first merges
  * contiguous runs of [[fanIn]] partitions, each run in index order, and
  * the driver merges the run results in run order. That is the stage
  * and task shape of a depth-2 `treeAggregate`, without its
  * completion-order merges. */
object Reduce {

  def apply[T, U: ClassTag](rdd: RDD[T], label: String, zero: () => U)(
      seqOp: (U, T) => U, merge: (U, U) => U): U = {
    val partials =
      rdd.mapPartitions(it => Iterator.single(it.foldLeft(zero())(seqOp)))
    val n = partials.getNumPartitions
    val fan = fanIn(n)
    val runs =
      if (fan == 1) partials
      else partials
        .mapPartitionsWithIndex((i, it) => it.map(u => (i / fan, (i, u))))
        .partitionBy(new HashPartitioner((n + fan - 1) / fan))
        .mapPartitions(it => Iterator.single(
          it.map(_._2).toArray.sortBy(_._1).iterator.map(_._2).reduceLeft(merge)))
    Jobs.labeled(rdd.sparkContext, label)(runs.collect())
      .reduceLeftOption(merge).getOrElse(zero())
  }

  /** Partitions per executor-side run for an `n`-partition input:
    * depth-2 `treeAggregate`'s ceil(sqrt n), or 1 (no executor level)
    * when a level would not shrink the driver's merge. */
  def fanIn(n: Int): Int = {
    val s = math.max(math.ceil(math.sqrt(n.toDouble)).toInt, 2)
    if (n > s + math.ceil(n.toDouble / s)) s else 1
  }

  /** In-place elementwise merges for flat array buffers. */
  val addDoubles: (Array[Double], Array[Double]) => Array[Double] =
    (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a }
  val addLongs: (Array[Long], Array[Long]) => Array[Long] =
    (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a }
  val orLongs: (Array[Long], Array[Long]) => Array[Long] =
    (a, b) => { var i = 0; while (i < a.length) { a(i) |= b(i); i += 1 }; a }
}
