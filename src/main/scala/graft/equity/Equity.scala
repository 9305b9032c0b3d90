package graft.equity

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.core._
import graft.decompose.{Oaxaca, OaxacaConfig, OaxacaResults, RefCoefficients}
import graft.estimators.Ols
import graft.prep.Prep
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pay-equity engine layer (SURVEY §2.5, `engine/src/analysis.rs` +
  * `defensibility.rs`), re-expressed distributed: the fair-wage model and
  * its prediction-interval machinery are one Gram pass + k-dimensional
  * driver math; per-employee fair wages, leverages and intervals are pure
  * codegen column arithmetic; greedy allocation uses the scale-safe
  * global prefix sum (no candidate collect).
  */
sealed trait OptimizationTarget
object OptimizationTarget {
  /** Fit the fair model on the reference group (`analysis.rs:434-440`). */
  case object Reference extends OptimizationTarget
  /** Fit on both groups stacked (`analysis.rs:441-460`). */
  case object Pooled extends OptimizationTarget
}

sealed trait RangeTarget
object RangeTarget {
  case object Midpoint extends RangeTarget
  case object LowerBound extends RangeTarget
  case object UpperBound extends RangeTarget
}

sealed trait AllocationStrategy
object AllocationStrategy {
  /** Largest gaps first until the budget is exhausted (`analysis.rs:744-787`). */
  case object Greedy extends AllocationStrategy
  /** Pro-rata coverage ratio (`analysis.rs:788-830`). */
  case object Equitable extends AllocationStrategy
}

final case class EquityConfig(
    outcome: String,
    group: String,
    reference: String,
    predictors: Seq[String],
    categorical: Seq[String] = Nil,
    target: OptimizationTarget = OptimizationTarget.Reference,
    rangeTarget: RangeTarget = RangeTarget.Midpoint,
    strategy: AllocationStrategy = AllocationStrategy.Greedy,
    budget: Double = 0.0,
    minGapPct: Double = 0.0,
    forensic: Boolean = false,
    adjustBoth: Boolean = false,
    confidence: Double = 0.95)

/** Fair-wage model: beta from least squares, sigma^2 and (X'X)^-1 from
  * the REFERENCE group (`analysis.rs:477-530`), z from the confidence
  * level clamped to [0.50, 0.999]. */
final case class FairModel(
    names: Seq[String],
    xCols: Seq[String],
    beta: DenseVector[Double],
    sigma2: Double,
    covInv: DenseMatrix[Double],
    zScore: Double) {

  def fairWageCol: Column = Ols.predictionCol(xCols, beta)

  /** Leverage h = x' (X'X)^-1 x as codegen arithmetic (k^2 terms). */
  def leverageCol: Column = {
    val k = xCols.size
    val terms = for (i <- 0 until k; j <- 0 until k) yield
      col(xCols(i)).cast("double") * col(xCols(j)).cast("double") * lit(covInv(i, j))
    terms.reduce(_ + _)
  }

  /** (lower, upper) prediction-interval columns around the fair wage;
    * collapses to the point estimate when sigma^2 <= 1e-9. */
  def intervalCols: (Column, Column) = {
    val fair = fairWageCol
    if (sigma2 <= 1e-9) (fair, fair)
    else {
      val margin = lit(zScore) * sqrt(lit(sigma2) * (lit(1.0) + leverageCol))
      (fair - margin, fair + margin)
    }
  }
}

final case class OptimizeMetrics(
    totalCost: Double,
    originalGap: Double,
    newGap: Double,
    originalUnexplainedGap: Double,
    newUnexplainedGap: Double,
    requiredBudget: Double,
    modelCoefficients: Seq[(String, Double)])

final case class OptimizeResult(
    /** The allocation without the output contract's global `ORDER BY id`
      * — the G3/G5 compositions join these rows straight into a
      * broadcast, where a range-shuffle sort is pure waste. */
    adjustmentsUnsorted: DataFrame,
    metrics: OptimizeMetrics,
    model: FairModel,
    idCol: String,
    /** Normalized bucket boundaries (signed -diff key space) from the
      * sums pass's percentile lane, when the caller asked for them —
      * lets a composition (Frontier) run its own prefix sum over the
      * allocation without paying a boundary-probe job. Boundaries only
      * balance buckets, so any consumer is result-correct with them. */
    prefixBoundaries: Option[Array[Double]] = None) {
  /** Output contract (`engine/src/analysis.rs:309-869`): the allocation
    * ordered by row id. */
  lazy val adjustments: DataFrame = adjustmentsUnsorted.orderBy(col(idCol))
}

object Equity {

  /** Prepared equity inputs: cleaned/dummied/intercepted frame, design
    * columns, group split, one-hot metadata. */
  private[graft] final case class EquityPrep(
      dummied: DataFrame, xCols: Seq[String], names: Seq[String],
      split: Prep.GroupSplit, infos: Seq[Prep.DummyInfo])

  /** Shared prep: clean, dummy-encode, intercept-first design (the
    * engine's prepare_data layout), two-group split. */
  /** [[prepare]] minus the split: everything derivable lazily (no job). */
  private def prepareFrame(df: DataFrame, cfg: EquityConfig)
      : (DataFrame, Seq[String], Seq[Prep.DummyInfo]) = {
    val modelCols = (cfg.outcome +: cfg.group +: cfg.predictors) ++ cfg.categorical
    // engine layer: strict Float64 casts with non-numeric rejection
    // (`engine/src/analysis.rs:14-35`)
    val casted = Prep.strictCast(df, (cfg.outcome +: cfg.predictors).distinct)
    val cleaned = Prep.clean(casted, modelCols.distinct)
    val (dummied0, infos) = Prep.oneHot(cleaned, cfg.categorical)
    val dummied = Prep.withIntercept(dummied0)
    (dummied, Prep.designCols(cfg.predictors, infos), infos)
  }

  private[graft] def prepare(df: DataFrame, cfg: EquityConfig): EquityPrep = {
    val (dummied, xCols, infos) = prepareFrame(df, cfg)
    EquityPrep(dummied, xCols, Prep.designNames(xCols),
      Prep.splitGroups(dummied, cfg.group, cfg.reference), infos)
  }

  /** One prepare + one Gram pass — the shared front half of every
    * G2/G3/G4/G5 composition. The prepared frame is NOT persisted: its
    * 2-4 consumers re-derive it as cheap codegen over the caller's
    * source (the harness's row-id frame, or any user-persisted input),
    * which beats paying a second full-width cache write. */
  private[graft] def prepareAndGram(df: DataFrame, cfg: EquityConfig)
      : (EquityPrep, Array[Array[GramResult]]) = {
    val (dummied, xCols, infos) = prepareFrame(df, cfg)
    // split discovery rides the Gram scan (one job, not distinct+scan):
    // the same fused pass as Oaxaca.run's common path
    val (split, lanes) = Prep.splitGroupsWithGram(dummied, cfg.group,
      cfg.reference, cfg.outcome, xCols, None, reps = 0, seed = 0L)
    (EquityPrep(dummied, xCols, Prep.designNames(xCols), split, infos), lanes)
  }

  private[graft] def fitFairModel(gTarget: GramResult, gRef: GramResult,
      xCols: Seq[String], names: Seq[String], cfg: EquityConfig): FairModel = {
    val gFit = cfg.target match {
      case OptimizationTarget.Reference => gRef
      case OptimizationTarget.Pooled => gRef.plus(gTarget)
    }
    val beta = LinAlg.solveLeastSquares(gFit.xtx, gFit.xty)
    // sigma^2 always from the reference group residuals
    val rss = math.max(
      gRef.swyy - 2.0 * (beta dot gRef.xty) + (beta dot (gRef.xtx * beta)), 0.0)
    val dof = gRef.n.toDouble - xCols.size
    val sigma2 = if (dof > 0.0) rss / dof else 0.0
    val covInv =
      try LinAlg.symInverse(gRef.xtx)
      catch {
        case _: SingularMatrix => throw SingularMatrix(
          "Covariance matrix is singular, likely due to perfect multicollinearity.")
      }
    val conf = math.min(math.max(cfg.confidence, 0.50), 0.999)
    val z = NormalDist.inverseCdf(1.0 - (1.0 - conf) / 2.0)
    FairModel(names, xCols, beta, sigma2, covInv, z)
  }

  /** G2 `optimize_inner` (`engine/src/analysis.rs:309-869`). `idCol`
    * must uniquely identify rows (the engine's row index). */
  def optimize(df: DataFrame, cfg: EquityConfig, idCol: String): OptimizeResult = {
    val (p, lanes) = prepareAndGram(df, cfg)
    optimizePrepared(p.dummied, p.xCols, p.names, p.split, lanes, cfg, idCol)
  }

  /** [[optimize]] body on already-prepared inputs — lets [[Frontier]]
    * share ONE prepare + Gram pass instead of re-running both. */
  private[graft] def optimizePrepared(dummied: DataFrame, xCols: Seq[String],
      names: Seq[String], split: Prep.GroupSplit,
      lanes: Array[Array[GramResult]], cfg: EquityConfig,
      idCol: String,
      wantPrefixBoundaries: Boolean = false): OptimizeResult = {
    val gTarget = lanes(0)(0) // non-reference = target group
    val gRef = lanes(1)(0)
    val model = fitFairModel(gTarget, gRef, xCols, names, cfg)

    // original gap: the reference derives it from a full pooled
    // decomposition (`analysis.rs:348-361`) whose total_gap is exactly
    // the group mean difference — already in the Gram lanes, zero passes
    val originalGap = gTarget.yMean - gRef.yMean

    val (lowerC, upperC) = model.intervalCols
    val fair = model.fairWageCol
    val targetWage = cfg.rangeTarget match {
      case RangeTarget.Midpoint => fair
      case RangeTarget.LowerBound => lowerC
      case RangeTarget.UpperBound => upperC
    }
    val actual = col(cfg.outcome).cast("double")
    val diffC = targetWage - actual
    val gapPct = when(abs(actual) > 1e-6, diffC / actual).otherwise(0.0)

    val g = col(cfg.group).cast("string")
    val isTarget = g =!= lit(cfg.reference)
    val eligibleC =
      when(isTarget, diffC > 1e-6 && gapPct >= cfg.minGapPct)
        .otherwise(lit(cfg.adjustBoth) && diffC > 1e-6 && gapPct >= cfg.minGapPct)

    // The annotated frame feeds ~3 executions (the sums aggregate, the
    // prefix-sum's bucket-totals pass, and the final allocation plan).
    // NOT persisted (r15 A/B): each consumer re-derives it as cheap
    // codegen over the caller's already-cached source, and the
    // MEMORY_AND_DISK write on the critical path cost more than the
    // recomputes it saved. It is deliberately NARROW (id, group,
    // outcome + 6 derived doubles, NOT the full design frame) so each
    // recompute prunes the scan to these columns.
    val annotated = dummied.select(
        col(idCol), col(cfg.group), col(cfg.outcome),
        diffC.as("__diff__"),
        fair.as("__fair__"),
        lowerC.as("__lower__"),
        upperC.as("__upper__"),
        eligibleC.as("__eligible__"),
        isTarget.as("__is_target__"))
    // predicates over the annotated columns (same arithmetic as
    // eligibleC/keep above, but reading the derived values)
    val gapPctM = when(abs(actual) > 1e-6, col("__diff__") / actual).otherwise(0.0)
    val keepM =
      if (cfg.forensic) lit(true)
      else if (cfg.adjustBoth) col("__diff__") > 1e-6 && gapPctM >= cfg.minGapPct
      else col("__is_target__") && col("__diff__") > 1e-6 && gapPctM >= cfg.minGapPct

    // The budget-constrained Greedy path needs bucket boundaries for its
    // scale-safe prefix sum (Windows.exclusivePrefixSum); ride that probe
    // on THIS aggregate as a percentile_approx lane over the same rows
    // the prefix pass will see (keep && eligible, signed key = -diff,
    // descending) instead of paying approxQuantile its own job. Any
    // monotone boundary set is result-correct — buckets only set the
    // window parallelism — so the percentile_approx sketch substitutes
    // for the GK probe freely. Only priced in when the constrained path
    // can actually run (explicit budget + Greedy).
    val mayConstrain =
      cfg.budget > 0.0 && cfg.strategy == AllocationStrategy.Greedy
    val nBuckets =
      annotated.sparkSession.sessionState.conf.numShufflePartitions
    val probes = (1 until nBuckets).map(_.toDouble / nBuckets)
    val boundaryLane =
      if ((mayConstrain || wantPrefixBoundaries) && probes.nonEmpty)
        percentile_approx(when(keepM && col("__eligible__"), -col("__diff__")),
          array(probes.map(lit): _*), lit(10000)).as("bnds")
      else lit(null).as("bnds")
    val sums = graft.core.Jobs.labeled(annotated.sparkSession,
      "equity: need/net sums + boundary lane") {
      annotated.agg(
        sum(when(col("__is_target__"), col("__diff__")).otherwise(0.0)).as("net_b"),
        sum(when(col("__eligible__"), col("__diff__")).otherwise(0.0)).as("need"),
        sum(when(col("__is_target__"), 1L).otherwise(0L)).as("n_target"),
        boundaryLane).head()
    }
    val netResidualSumB = sums.getDouble(0)
    val totalNeed = sums.getDouble(1)
    val nTarget = sums.getLong(2).toDouble
    val prefixBoundaries: Option[Array[Double]] =
      if (!(mayConstrain || wantPrefixBoundaries) || sums.isNullAt(3)) None
      else Some(graft.functions.BucketIndexExpr.normalize(
        sums.getSeq[Double](3).toArray))
    val effectiveBudget =
      if (cfg.budget > 0.0) cfg.budget else totalNeed * 1.00001

    val candidates = annotated.filter(keepM)
    val paid = cfg.strategy match {
      case AllocationStrategy.Greedy if effectiveBudget >= totalNeed =>
        // fully funded (budget = 0 auto mode, or budget >= total need):
        // every eligible row pays exactly its gap — greatest(0,
        // least(diff, budget - prefix)) == diff for every row, so the
        // approxQuantile + bucket-window prefix machinery is a no-op
        // and is skipped entirely
        candidates.withColumn("__pay__",
          when(col("__eligible__"), col("__diff__")).otherwise(0.0))
      case AllocationStrategy.Greedy =>
        val eligible = candidates.filter(col("__eligible__"))
        val withPrefix = Windows.exclusivePrefixSum(eligible,
          col("__diff__"), ascending = false, Seq(col(idCol)),
          col("__diff__"), "__spent_before__",
          boundariesOverride = prefixBoundaries)
        val withPay = withPrefix.withColumn("__pay__",
          greatest(lit(0.0), least(col("__diff__"),
            lit(effectiveBudget) - col("__spent_before__"))))
        candidates.filter(!col("__eligible__"))
          .withColumn("__spent_before__", lit(0.0))
          .withColumn("__pay__", lit(0.0))
          .unionByName(withPay)
      case AllocationStrategy.Equitable =>
        val ratio = if (totalNeed > 0.0)
          math.min(effectiveBudget / totalNeed, 1.0) else 0.0
        candidates.withColumn("__pay__",
          when(col("__eligible__"), col("__diff__") * lit(ratio)).otherwise(0.0))
    }

    // lazy: every caller consumes the allocation exactly once, so its
    // window (and, for the sorted view, the sort) executes once at the
    // caller's action
    val adjustments = paid.select(
      col(idCol),
      g.as("group_level"),
      col("__pay__").as("adjustment"),
      actual.as("current_wage"),
      (actual + col("__pay__")).as("new_wage"),
      col("__fair__").as("fair_wage"),
      col("__lower__").as("fair_wage_lower_bound"),
      col("__upper__").as("fair_wage_upper_bound"),
      col("__diff__").as("diff"),
      col("__eligible__").as("is_eligible"))

    // both strategies pay out exactly min(budget, total need) by
    // construction — no second pass over the allocation needed
    val totalCost =
      if (totalNeed > 0.0) math.min(effectiveBudget, totalNeed) else 0.0
    val newGap = if (nTarget > 0.0) originalGap + totalCost / nTarget else originalGap
    val origUnexp = if (nTarget > 0.0) -netResidualSumB / nTarget else 0.0
    val newUnexp = if (nTarget > 0.0)
      -(netResidualSumB - totalCost) / nTarget else origUnexp

    OptimizeResult(adjustments,
      OptimizeMetrics(totalCost, originalGap, newGap, origUnexp, newUnexp,
        totalNeed, names.zipWithIndex.map { case (n, i) => n -> model.beta(i) }),
      model, idCol, prefixBoundaries = prefixBoundaries)
  }

  /** Per-feature contribution columns x_j * beta_j (`analysis.rs:723-742`). */
  def contributionCols(model: FairModel): Seq[Column] =
    model.xCols.zipWithIndex.map { case (c, i) =>
      (col(c).cast("double") * lit(model.beta(i)))
        .as(s"contrib_${model.names(i)}")
    }

  /** G3 `verify_inner` (`engine/src/analysis.rs:40-96`): apply wage
    * deltas by row id, re-run the decomposition on the mutated frame. */
  def verifyAdjustments(df: DataFrame, adjustments: DataFrame, idCol: String,
      deltaCol: String, cfg: EquityConfig,
      bootstrapReps: Int = 0): OaxacaResults = {
    val mutated = applyDeltas(df, adjustments, idCol, deltaCol, cfg.outcome)
    Oaxaca.run(mutated, OaxacaConfig(cfg.outcome, cfg.group, cfg.reference,
      cfg.predictors, cfg.categorical,
      refCoefficients = RefCoefficients.Pooled, bootstrapReps = bootstrapReps))
  }

  /** [[verifyAdjustments]] on an already-prepared frame: mutates the
    * prepared outcome in place and decomposes via [[Oaxaca.runPrepared]]
    * — no second clean/one-hot/split pass. Mutating the outcome never
    * changes group labels or design columns, so the prepared metadata
    * stays valid; only the split's frames are re-derived (lazily, no
    * action) from the mutated frame for the Multinomial-bootstrap path. */
  private[graft] def verifyPrepared(p: EquityPrep, adjustments: DataFrame,
      idCol: String, deltaCol: String, cfg: EquityConfig,
      bootstrapReps: Int = 0): OaxacaResults = {
    val mutated = applyDeltas(p.dummied, adjustments, idCol, deltaCol, cfg.outcome)
    val g = col(cfg.group).cast("string")
    val mutSplit = Prep.GroupSplit(p.split.levelA, p.split.levelB,
      mutated.filter(g === lit(p.split.levelA)),
      mutated.filter(g === lit(p.split.levelB)),
      g === lit(p.split.levelA))
    Oaxaca.runPrepared(mutated, mutSplit, p.xCols, p.names, p.infos,
      OaxacaConfig(cfg.outcome, cfg.group, cfg.reference, cfg.predictors,
        cfg.categorical, refCoefficients = RefCoefficients.Pooled,
        bootstrapReps = bootstrapReps))
  }

  /** G2+G3 composed: ONE prepare + Gram + allocation is shared between
    * the optimizer and the verification decomposition — the previous
    * composition ran prepare and the Gram pass twice
    * (`engine/src/analysis.rs:40-96` + `:309-869`). */
  def optimizeAndVerify(df: DataFrame, cfg: EquityConfig, idCol: String,
      minPay: Double = 1e-9,
      bootstrapReps: Int = 0): (OptimizeResult, OaxacaResults) = {
    val (p, lanes) = prepareAndGram(df, cfg)
    val opt = optimizePrepared(p.dummied, p.xCols, p.names, p.split, lanes,
      cfg, idCol)
    // The verification decomposition consumes the adjustment set
    // exactly ONCE: verifyPrepared's Poisson/no-bootstrap path is a
    // single fused Gram scan (replicates ride as lanes), and the
    // allocation enters it through ONE broadcast build. Materializing
    // `adj` into a persist first (the pre-r16 shape) paid a whole
    // extra execution of the allocation plan (window + scan) plus a
    // cache write just to hand the broadcast a cached copy — pure
    // critical-path overhead, measured ~0.4-0.6 s of q_verify's 2.3 s
    // at sf0.1. The allocation plan is deterministic (value-bucketed
    // prefix sum over deterministic buckets), so even a hypothetical
    // re-execution could never change the adjustment set.
    val adj = opt.adjustmentsUnsorted.filter(col("adjustment") > minPay)
      .select(col(idCol), col("adjustment"))
    (opt, verifyPrepared(p, adj, idCol, "adjustment", cfg, bootstrapReps))
  }

  /** P12: outcome := outcome + delta for matching row ids (broadcast
    * join; the adjustment set is always small relative to the data). */
  def applyDeltas(df: DataFrame, deltas: DataFrame, idCol: String,
      deltaCol: String, outcome: String): DataFrame = {
    val d = deltas.select(col(idCol), col(deltaCol).cast("double").as("__delta__"))
    df.join(broadcast(d), Seq(idCol), "left")
      .withColumn(outcome,
        col(outcome).cast("double") + coalesce(col("__delta__"), lit(0.0)))
      .drop("__delta__")
  }

  /** G5 `check_defensibility_inner` (`engine/src/defensibility.rs:9-388`):
    * apply predictor overrides by row id, refit the fair model on the
    * overridden reference group, then judge each proposed adjustment:
    * defensible iff new wage >= lower PI bound - 1.0. */
  def checkDefensibility(df: DataFrame, adjustments: DataFrame,
      overrides: Option[DataFrame], idCol: String, deltaCol: String,
      cfg: EquityConfig): DataFrame = {
    // overrides: long-format (id, predictor, value) -> wide coalesce
    val overridden = overrides match {
      case None => df
      case Some(ov) =>
        val preds = ov.select(col("predictor").cast("string")).distinct()
          .collect().map(_.getString(0)).toSeq
        preds.foldLeft(df) { case (acc, p) =>
          val pv = ov.filter(col("predictor") === lit(p))
            .select(col(idCol), col("value").cast("double").as(s"__ov_$p"))
          acc.join(broadcast(pv), Seq(idCol), "left")
            .withColumn(p, coalesce(col(s"__ov_$p"), col(p).cast("double")))
            .drop(s"__ov_$p")
        }
    }
    val (p, lanes) = prepareAndGram(overridden, cfg)
    val model = fitFairModel(lanes(0)(0), lanes(1)(0), p.xCols, p.names,
      cfg.copy(target = OptimizationTarget.Reference))
    checkDefensibilityPrepared(p, model, adjustments, idCol, deltaCol, cfg)
  }

  /** Judging half of [[checkDefensibility]] on an already-prepared frame
    * and already-fitted fair model — the shared-prep path for G5
    * compositions (`engine/src/defensibility.rs:200-388`). */
  private[graft] def checkDefensibilityPrepared(p: EquityPrep,
      model: FairModel, adjustments: DataFrame, idCol: String,
      deltaCol: String, cfg: EquityConfig): DataFrame = {
    val (lowerC, upperC) = model.intervalCols
    val adj = adjustments.select(col(idCol),
      col(deltaCol).cast("double").as("adjustment"))
    val actual = col(cfg.outcome).cast("double")
    p.dummied.join(broadcast(adj), Seq(idCol), "inner")
      .withColumn("current_wage", actual)
      .withColumn("new_wage", actual + col("adjustment"))
      .withColumn("fair_wage", model.fairWageCol)
      .withColumn("fair_wage_lower_bound", lowerC)
      .withColumn("fair_wage_upper_bound", upperC)
      .withColumn("is_defensible",
        col("new_wage") >= col("fair_wage_lower_bound") - lit(1.0))
      .withColumn("defensibility_message",
        when(col("is_defensible"),
          lit("Wage is within or above the calculated fair range."))
        .otherwise(concat(
          lit("Wage is "),
          format_number(col("fair_wage_lower_bound") - col("new_wage"), 2),
          lit(" below the defensible lower bound ("),
          format_number(col("fair_wage_lower_bound"), 2), lit(")."))))
      .select(col(idCol), col("adjustment"), col("current_wage"),
        col("new_wage"), col("fair_wage"), col("fair_wage_lower_bound"),
        col("fair_wage_upper_bound"), col("is_defensible"),
        col("defensibility_message"))
      .orderBy(col(idCol))
  }

  /** G2+G5 composed: one prepare + Gram feeds both the optimizer and the
    * defensibility judgment. Without overrides the defensibility refit
    * would run on IDENTICAL data, so it is skipped: the fair model comes
    * straight from the optimizer's Gram lanes (re-solved k-dimensionally
    * when the optimizer fitted on the Pooled target — defensibility
    * always judges against the Reference-fitted model). The judged frame
    * is returned lazy. */
  def optimizeAndCheckDefensibility(df: DataFrame, cfg: EquityConfig,
      idCol: String, minPay: Double = 1e-9): (OptimizeResult, DataFrame) = {
    val (p, lanes) = prepareAndGram(df, cfg)
    val opt = optimizePrepared(p.dummied, p.xCols, p.names, p.split, lanes,
      cfg, idCol)
    val adj = opt.adjustmentsUnsorted.filter(col("adjustment") > minPay)
      .select(col(idCol), col("adjustment"))
    val model =
      if (cfg.target == OptimizationTarget.Reference) opt.model
      else fitFairModel(lanes(0)(0), lanes(1)(0), p.xCols, p.names,
        cfg.copy(target = OptimizationTarget.Reference))
    // Returned LAZY: the judged frame is a broadcast join + codegen
    // arithmetic whose caller consumes it once, so the pre-r16
    // persist + count paid a full extra planning + execution round
    // (measured ~0.5-0.7 s of q_defensibility's 2.7 s at sf0.1) for a
    // cache nothing re-read more than once. Every input is
    // deterministic (the allocation is a value-bucketed prefix sum
    // over deterministic buckets), so a caller consuming it twice
    // recomputes identical rows — it just pays the join twice, which
    // is the right default for the 1-consumer contract.
    (opt, checkDefensibilityPrepared(p, model, adj, idCol, "adjustment", cfg))
  }

  /** G1 `decompose_inner` result (`engine/src/analysis.rs:98-307`):
    * summary stats, percentages of total, optional three-fold /
    * single-quantile (Machado-Mata) modes. The summary's "group A" is
    * the REFERENCE group, mirroring the engine's naming flip. */
  final case class DecompositionSummary(
      totalCount: Long, groupACount: Long, groupBCount: Long,
      groupAMean: Double, groupBMean: Double)

  final case class DecompositionResult(
      totalGap: Double, explainedGap: Double, unexplainedGap: Double,
      interactionGap: Option[Double],
      explainedPercentage: Double, unexplainedPercentage: Double,
      interactionPercentage: Option[Double],
      detailedExplained: Seq[graft.decompose.ComponentResult],
      detailedUnexplained: Seq[graft.decompose.ComponentResult],
      summary: DecompositionSummary,
      unexplainedStandardError: Option[Double])

  def decompose(df: DataFrame, cfg: EquityConfig,
      refCoefficients: RefCoefficients = RefCoefficients.Pooled,
      bootstrapReps: Int = 100, threeFold: Boolean = false,
      quantile: Option[Double] = None, seed: Long = 42L): DecompositionResult = {
    val g = col(cfg.group).cast("string")
    val y = col(cfg.outcome).cast("double")
    val sums = df.agg(
      count(lit(1)).as("n"),
      sum(when(g === cfg.reference, 1L).otherwise(0L)).as("na"),
      avg(when(g === cfg.reference, y)).as("ma"),
      avg(when(g =!= cfg.reference, y)).as("mb")).head()
    val summary = DecompositionSummary(sums.getLong(0), sums.getLong(1),
      sums.getLong(0) - sums.getLong(1), sums.getDouble(2), sums.getDouble(3))

    val (total, explained, unexplained, interaction, dExp, dUnexp, se) =
      quantile match {
        case Some(q) =>
          val mm = graft.decompose.MachadoMata.run(df,
            graft.decompose.MmConfig(cfg.outcome, cfg.group, cfg.reference,
              cfg.predictors, cfg.categorical, quantiles = Seq(q),
              bootstrapReps = bootstrapReps, seed = seed))
          val e = mm.effects.head._2
          (e("gap").estimate, e("characteristics").estimate,
            e("coefficients").estimate, None, Nil, Nil, None)
        case None =>
          val res = Oaxaca.run(df, OaxacaConfig(cfg.outcome, cfg.group,
            cfg.reference, cfg.predictors, cfg.categorical,
            refCoefficients = refCoefficients, bootstrapReps = bootstrapReps,
            seed = seed))
          if (threeFold) {
            val m = res.threeFold.map(c => c.name -> c.estimate).toMap
            (res.totalGap, m("endowments"), m("coefficients"),
              Some(m("interaction")), Nil, Nil, None)
          } else {
            val unex = res.twoFold.find(_.name == "unexplained").get
            (res.totalGap,
              res.twoFold.find(_.name == "explained").get.estimate,
              unex.estimate, None, res.detailedExplained,
              res.detailedUnexplained, Some(unex.stdErr))
          }
      }
    DecompositionResult(total, explained, unexplained, interaction,
      explained / total * 100.0, unexplained / total * 100.0,
      interaction.map(_ / total * 100.0), dExp, dUnexp, summary, se)
  }

  /** G1 `decompose_inner` summary block (`analysis.rs:102-140`): group
    * counts and outcome means. */
  def groupSummary(df: DataFrame, cfg: EquityConfig): DataFrame =
    Prep.clean(df, Seq(cfg.outcome, cfg.group))
      .groupBy(col(cfg.group).cast("string").as("group_level"))
      .agg(count(lit(1)).as("n"),
        avg(col(cfg.outcome).cast("double")).as("mean_outcome"))
      .orderBy(col("group_level"))
}
