package graft.estimators

import graft.core.Reduce
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gaussian kernel density estimation + Silverman bandwidth
  * (`oaxaca_blinder/src/math/kde.rs:20-59`).
  *
  * The grid evaluation is ONE [[Reduce]] pass accumulating all grid
  * sums per partition (no 100x explode, no collect of data). Weights are
  * normalized to 1 as in the reference.
  */
object Kde {

  private val InvSqrt2Pi = 1.0 / math.sqrt(2.0 * math.Pi)

  /** Density at each grid point: f(g) = sum_i w_i K((g - x_i)/h) / h,
    * with w normalized to sum 1 (uniform 1/n when wCol is None). */
  def onGrid(df: DataFrame, valueCol: String, wCol: Option[String],
      grid: Array[Double], bandwidth: Double): Array[Double] = {
    val w = wCol.map(col(_).cast("double")).getOrElse(lit(1.0))
    onGridMulti(df, valueCol, Seq(w), grid, Seq(bandwidth)).head
  }

  /** Multi-density variant: several weight columns (0 = row not in that
    * density) each with their own bandwidth, accumulated in ONE scan —
    * e.g. DFL's three densities (group A, group B, reweighted B) share
    * one pass over the prepared frame instead of three. */
  def onGridMulti(df: DataFrame, valueCol: String, wCols: Seq[Column],
      grid: Array[Double], bandwidths: Seq[Double]): Array[Array[Double]] = {
    require(wCols.size == bandwidths.size, "one bandwidth per weight column")
    val nL = wCols.size
    val proj = df.select(
      (col(valueCol).cast("double") +: wCols.map(_.cast("double"))): _*)
    val m = grid.length
    val stride = m + 1 // grid sums ++ sum(w), per density
    val bw = bandwidths.toArray
    // lanes sharing a bandwidth share the kernel value: the exp() per
    // (row, grid point) is computed once per DISTINCT bandwidth, not
    // once per lane — DFL's density-B and counterfactual lanes use the
    // same Silverman bandwidth, so this removes a third of the grid
    // pass's exp() calls
    val bwGroups: Array[(Double, Array[Int])] =
      bw.zipWithIndex.groupBy(_._1).iterator
        .map { case (h, arr) => (h, arr.map(_._2)) }.toArray.sortBy(_._2.head)
    // queryExecution.toRdd, not .rdd: the external-Row route pays a
    // full InternalRow -> Row deserialization per row (it was ~half the
    // grid pass at bench scale); the UnsafeRow accessors below read the
    // same doubles with zero copying. Fields are consumed immediately,
    // never stored, so row-buffer reuse is safe. Null model values threw
    // from the external route (Row.getDouble NPE); keep failing fast.
    val acc = Reduce(proj.queryExecution.toRdd, s"kde: ${nL}-lane grid pass",
      () => new Array[Double](stride * nL))(
      (buf, row) => {
        if (row.anyNull)
          throw graft.core.InvalidArgument(
            "KDE read a null value; drop null rows first")
        val x = row.getDouble(0)
        var g = 0
        while (g < bwGroups.length) {
          val h = bwGroups(g)._1
          val lanes = bwGroups(g)._2
          var any = false
          var j = 0
          while (j < lanes.length) {
            if (row.getDouble(1 + lanes(j)) != 0.0) any = true
            j += 1
          }
          if (any) {
            var i = 0
            while (i < m) {
              val u = (grid(i) - x) / h
              // only the exp() is shared across lanes; the accumulated
              // term stays left-associated (wv * InvSqrt2Pi) * e — the
              // exact FP association of the original per-lane loop, so
              // sharing the kernel can never flip a rounded oracle value
              val e = math.exp(-0.5 * u * u)
              j = 0
              while (j < lanes.length) {
                val l = lanes(j)
                val wv = row.getDouble(1 + l)
                if (wv != 0.0) buf(l * stride + i) += wv * InvSqrt2Pi * e
                j += 1
              }
              i += 1
            }
            j = 0
            while (j < lanes.length) {
              val l = lanes(j)
              val wv = row.getDouble(1 + l)
              if (wv != 0.0) buf(l * stride + m) += wv
              j += 1
            }
          }
          g += 1
        }
        buf
      },
      Reduce.addDoubles)
    Array.tabulate(nL) { l =>
      val base = l * stride
      val sw = acc(base + m)
      grid.indices.map(i => acc(base + i) / sw / bw(l)).toArray
    }
  }

  /** Silverman's rule with the kde.rs index convention:
    * q1 = sorted[floor(0.25 n)], q3 = sorted[floor(0.75 n)] (0-based).
    * Both ranks come from ONE distributed sort (the `wanted`-set pattern
    * of `Rif.transformPerGroup`), not one sort per quartile. */
  def silverman(df: DataFrame, valueCol: String): Double = {
    val v = col(valueCol).cast("double")
    val row = df.agg(count(v).as("n"), avg(v).as("mean"),
      var_samp(v).as("var")).head()
    val n = row.getLong(0)
    val std = math.sqrt(row.getDouble(2))
    val i1 = math.max((n * 0.25).toLong, 0L)
    val i3 = math.max((n * 0.75).toLong, 0L)
    val qs = elementsAtIndices(df, valueCol, Set(i1, i3))
    val a = math.min(std, (qs(i3) - qs(i1)) / 1.34)
    0.9 * a * math.pow(n.toDouble, -0.2)
  }

  /** Per-group Silverman bandwidths — same arithmetic as [[silverman]]
    * per group, but ALL groups share ONE grouped stats pass and ONE
    * grouped rank-pick instead of paying a stats aggregate plus a
    * rank-pick (≈4 jobs) per group. `extraAggs` lanes ride the stats
    * pass for free (the DFL caller folds its group counts and the
    * global outcome range in, erasing its own separate pass). Returns
    * (group → bandwidth, group → extra lane values); groups with no
    * non-null value are omitted from the bandwidth map but still carry
    * their extras. */
  def silvermanGrouped(df: DataFrame, valueCol: String, group: Column,
      extraAggs: Seq[Column] = Nil)
      : (Map[String, Double], Map[String, Seq[Any]]) = {
    val v = col(valueCol).cast("double")
    val base = df.withColumn("__g__", group.cast("string"))
    // a per-group percentile_approx lane rides the stats pass and
    // replaces the rank-pick's own quantile-probe JOB: each group's
    // sketch approximates its bucket boundaries (coarse accuracy 100,
    // same as the probe it replaces — boundaries only balance buckets,
    // they never touch results), and the per-group arrays merge
    // driver-side below. Job count is the whole game at both test scale
    // (fixed scheduling cost per pass) and 100 TB (a full scan per pass).
    val nBuckets = df.sparkSession.sessionState.conf.numShufflePartitions
    val bndLane =
      if (nBuckets <= 1) lit(null).cast("array<double>")
      else percentile_approx(v,
        array((1 until nBuckets).map(i => lit(i.toDouble / nBuckets)): _*),
        lit(100))
    val lanes = Seq(count(v).as("__n__"), var_samp(v).as("__var__")) ++
      extraAggs.zipWithIndex.map { case (c, i) => c.as(s"__x${i}__") } ++
      Seq(bndLane.as("__bnds__"))
    val bndIdx = 3 + extraAggs.size
    val rows = graft.core.Jobs.labeled(df.sparkSession,
      "silverman: grouped stats+boundary lane") {
      base.groupBy(col("__g__")).agg(lanes.head, lanes.tail: _*)
        .collect()
    }
    // merged boundaries: interleave every group's j-th probe value and
    // take the middle of each block — the median across groups of each
    // per-group quantile, a balanced pooled approximation (exactness is
    // irrelevant; normalize() dedupes whatever comes out)
    val perGroup = rows.iterator.filter(r => !r.isNullAt(0) && !r.isNullAt(bndIdx))
      .map(_.getSeq[Double](bndIdx).toArray).toArray
    val boundaries: Array[Double] =
      if (perGroup.isEmpty) Array.empty
      else {
        val merged = perGroup.flatten.sorted
        val nG = perGroup.length
        Array.tabulate(nBuckets - 1)(j => merged(j * nG + nG / 2))
      }
    // key extras by group INCLUDING a null group level (original callers'
    // whole-frame aggregates saw those rows too); bandwidths only for
    // real levels with data
    val stats = rows.map { r =>
      val g = if (r.isNullAt(0)) null else r.getString(0)
      g -> ((r.getLong(1), if (r.isNullAt(2)) 0.0 else r.getDouble(2),
        extraAggs.indices.map(i => r.get(3 + i))))
    }.toMap
    val ranks = stats.collect { case (g, (n, _, _)) if g != null && n > 0 =>
      g -> Set(math.max((n * 0.25).toLong, 0L),
        math.max((n * 0.75).toLong, 0L))
    }
    val picked = graft.core.Windows.valuesAtRanksGrouped(base, col("__g__"),
      v, ranks, Some(boundaries))
    val bws = stats.collect { case (g, (n, vr, _)) if g != null && n > 0 =>
      val std = math.sqrt(vr)
      val i1 = math.max((n * 0.25).toLong, 0L)
      val i3 = math.max((n * 0.75).toLong, 0L)
      val qs = picked(g)
      val a = math.min(std, (qs(i3) - qs(i1)) / 1.34)
      g -> 0.9 * a * math.pow(n.toDouble, -0.2)
    }
    (bws, stats.map { case (g, (_, _, ex)) => g -> ex })
  }

  /** 0-based elements of the sorted column at the given ranks, via the
    * value-bucketed prefix-count rank pick (no global sort; nulls are
    * dropped first so ranks align with count(v)). */
  def elementsAtIndices(df: DataFrame, valueCol: String,
      idxs: Set[Long]): Map[Long, Double] =
    graft.core.Windows.valuesAtRanks(df, col(valueCol), idxs)

  /** 0-based element of the sorted column. */
  def elementAtIndex(df: DataFrame, valueCol: String, idx: Long): Double =
    elementsAtIndices(df, valueCol, Set(math.max(idx, 0L)))(math.max(idx, 0L))

  def gaussianCol(u: Column): Column =
    lit(InvSqrt2Pi) * exp(u * u * lit(-0.5))
}
