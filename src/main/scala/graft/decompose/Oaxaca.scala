package graft.decompose

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.core._
import graft.estimators.{Heckman, Ols, OlsFit}
import graft.prep.Prep
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** Reference-coefficient (beta*) policy for the two-fold decomposition
  * (`oaxaca_blinder/src/decomposition.rs:5-20`). */
sealed trait RefCoefficients
object RefCoefficients {
  case object GroupA extends RefCoefficients
  case object GroupB extends RefCoefficients
  /** Neumark: pooled OLS with a group-indicator column, indicator beta
    * removed (`oaxaca_blinder/src/builder.rs:547-590`). */
  case object Pooled extends RefCoefficients
  /** Cotton: weight-share average of the two group betas
    * (`oaxaca_blinder/src/builder.rs:591-620`). */
  case object Cotton extends RefCoefficients
}

/** One decomposition component with bootstrap inference
  * (`oaxaca_blinder/src/types.rs`). */
final case class ComponentResult(
    name: String,
    estimate: Double,
    stdErr: Double,
    tStat: Double,
    pValue: Double,
    ciLower: Double,
    ciUpper: Double)

/** One full decomposition pass on fixed data/weights
  * (mirrors `SinglePassResult`). */
final case class SinglePass(
    explained: Double,
    unexplained: Double,
    endowments: Double,
    coefficients: Double,
    interaction: Double,
    totalGap: Double,
    detailedExplained: Seq[(String, Double)],
    detailedUnexplained: Seq[(String, Double)],
    detailedSelection: Seq[(String, Double)],
    xaMean: DenseVector[Double],
    xbMean: DenseVector[Double],
    betaA: DenseVector[Double],
    betaB: DenseVector[Double],
    betaStar: DenseVector[Double])

final case class OaxacaResults(
    totalGap: Double,
    twoFold: Seq[ComponentResult],
    threeFold: Seq[ComponentResult],
    detailedExplained: Seq[ComponentResult],
    detailedUnexplained: Seq[ComponentResult],
    detailedSelection: Seq[ComponentResult],
    nA: Long,
    nB: Long,
    groupALevel: String,
    groupBLevel: String,
    names: Seq[String],
    xaMean: DenseVector[Double],
    xbMean: DenseVector[Double],
    betaStar: DenseVector[Double],
    point: SinglePass) {

  /** Detailed components as a small DataFrame (one row per variable). */
  def detailedDf(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("variable", StringType),
      StructField("explained", DoubleType),
      StructField("unexplained", DoubleType),
      StructField("explained_se", DoubleType),
      StructField("unexplained_se", DoubleType)))
    val unexByName = detailedUnexplained.map(c => c.name -> c).toMap
    val rows = detailedExplained.map { e =>
      val u = unexByName.get(e.name)
      Row(e.name, e.estimate, u.map(_.estimate).getOrElse(0.0), e.stdErr,
        u.map(_.stdErr).getOrElse(Double.NaN))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  def aggregateDf(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("component", StringType),
      StructField("estimate", DoubleType),
      StructField("std_err", DoubleType),
      StructField("p_value", DoubleType),
      StructField("ci_lower", DoubleType),
      StructField("ci_upper", DoubleType)))
    val rows =
      (ComponentResult("total_gap", totalGap, Double.NaN, Double.NaN,
        Double.NaN, Double.NaN, Double.NaN) +: (twoFold ++ threeFold)).map(c =>
        Row(c.name, c.estimate, c.stdErr, c.pValue, c.ciLower, c.ciUpper))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }
}

/** Bootstrap resampling semantics: Poissonized weights (one scan for all
  * replicates — the 100 TB path) or the reference's exact per-group
  * multinomial with-replacement draw (count vectors are generated on the
  * driver, O(reps * n) memory — test/small-scale fidelity mode,
  * `oaxaca_blinder/src/builder.rs:822-827`). */
sealed trait BootstrapMode
object BootstrapMode {
  case object Poisson extends BootstrapMode
  case object Multinomial extends BootstrapMode
}

/** Configuration (the fluent-builder surface of
  * `oaxaca_blinder/src/builder.rs:165-246`). */
final case class OaxacaConfig(
    outcome: String,
    group: String,
    reference: String,
    predictors: Seq[String] = Nil,
    categorical: Seq[String] = Nil,
    normalize: Seq[String] = Nil,
    weights: Option[String] = None,
    refCoefficients: RefCoefficients = RefCoefficients.GroupB,
    bootstrapReps: Int = 20,
    seed: Long = 42L,
    selectionOutcome: Option[String] = None,
    selectionPredictors: Seq[String] = Nil,
    bootstrapMode: BootstrapMode = BootstrapMode.Poisson,
    /** Heckman bootstrap: advance ALL replicate probit fits per data scan
      * (multi-system Gram) instead of one IRLS loop per replicate. */
    heckmanBatched: Boolean = true)

/** Distributed Oaxaca–Blinder mean decomposition (SURVEY §2.4 D1–D10).
  *
  * The whole analysis — both group fits, the pooled Neumark fit, and ALL
  * bootstrap replicates — is ONE scan of the cleaned data: per-group Gram
  * lanes with per-rep Poisson weights ([[graft.core.Gram.computeGrouped]]),
  * then k-dimensional driver math. The pooled-with-indicator Gram is
  * assembled algebraically from the two group Grams (the indicator's
  * cross-products equal group A's intercept row), so Neumark costs no
  * extra pass.
  */
object Oaxaca {

  def run(df: DataFrame, cfg: OaxacaConfig): OaxacaResults = {
    val modelCols = (cfg.outcome +: cfg.group +: cfg.predictors) ++
      cfg.categorical ++ cfg.weights.toSeq ++ cfg.selectionOutcome.toSeq ++
      cfg.selectionPredictors
    val cleaned = Prep.clean(df, modelCols.distinct)
    val (dummied0, dummyInfos) = Prep.oneHot(cleaned, cfg.categorical)
    val dummied = Prep.withIntercept(dummied0)
    val xCols = Prep.designCols(cfg.predictors, dummyInfos)
    val names = Prep.designNames(xCols)

    if (cfg.selectionOutcome.isDefined) {
      val split = Prep.splitGroups(dummied, cfg.group, cfg.reference)
      return runHeckman(dummied, split, xCols, names, cfg)
    }
    if (cfg.bootstrapMode == BootstrapMode.Multinomial && cfg.bootstrapReps > 0) {
      // multinomial weights are drawn against the eagerly-known split
      val split = Prep.splitGroups(dummied, cfg.group, cfg.reference)
      return runPrepared(dummied, split, xCols, names, dummyInfos, cfg)
    }
    // Common path (Poisson/no bootstrap): level discovery rides the Gram
    // scan itself — ONE job end to end instead of distinct+collect
    // followed by the scan (BASELINE.md row 1's fixed-cost tax).
    val seedCols =
      if (dummied.columns.contains(Prep.RowIdCol)) Seq(Prep.RowIdCol)
      else Seq.empty[String]
    val (split, lanes) = Prep.splitGroupsWithGram(dummied, cfg.group,
      cfg.reference, cfg.outcome, xCols, cfg.weights, cfg.bootstrapReps,
      cfg.seed, seedCols)
    finishLanes(lanes, split, names, dummyInfos, cfg)
  }

  /** [[run]] body on an already cleaned/dummied/intercepted frame — lets
    * the equity layer (G3 verify) decompose a MUTATED copy of a frame it
    * has already prepared without re-running clean/one-hot/split. The
    * split's level labels must match `dummied`'s group column (mutating
    * the outcome never changes them). */
  private[graft] def runPrepared(dummied: DataFrame, split: Prep.GroupSplit,
      xCols: Seq[String], names: Seq[String], dummyInfos: Seq[Prep.DummyInfo],
      cfg: OaxacaConfig): OaxacaResults = {
    val (gramInput, repWeightCols) = cfg.bootstrapMode match {
      case BootstrapMode.Multinomial if cfg.bootstrapReps > 0 =>
        multinomialWeights(dummied, split, xCols, cfg)
      case _ => (dummied, Seq.empty[String])
    }
    // key replicate draws on the row id when the caller attached one
    // (Prep.withRowId): content keying would give exact-duplicate rows
    // identical draws (correlated resampling, a documented O(1/n)
    // approximation); the id column recovers per-row independence
    val seedCols =
      if (gramInput.columns.contains(Prep.RowIdCol)) Seq(Prep.RowIdCol)
      else Seq.empty[String]
    val lanes = Gram.computeGrouped(gramInput, cfg.outcome, xCols, cfg.weights,
      Prep.laneOf(split, cfg.group), nLanes = 2, reps = cfg.bootstrapReps,
      seed = cfg.seed, repWeightCols = repWeightCols, seedCols = seedCols)
    finishLanes(lanes, split, names, dummyInfos, cfg)
  }

  /** Driver-side back half shared by [[runPrepared]] and the fused
    * split+Gram path in [[run]]: per-rep single passes + assembly from
    * already-computed group Gram lanes. */
  private def finishLanes(lanes: Array[Array[GramResult]],
      split: Prep.GroupSplit, names: Seq[String],
      dummyInfos: Seq[Prep.DummyInfo], cfg: OaxacaConfig): OaxacaResults = {
    val gramsA = lanes(0)
    val gramsB = lanes(1)
    if (gramsA(0).n == 0 || gramsB(0).n == 0)
      throw InvalidGroupVariable("One group has no data")

    val categoryCounts = dummyInfos.map(d => d.varName -> d.numLevels).toMap
    val baseCategories = dummyInfos.map(d => d.varName -> s"${d.varName}_${d.base}").toMap

    val point = singlePass(gramsA(0), gramsB(0), names, cfg, categoryCounts,
      baseCategories)

    val repPasses = (1 to cfg.bootstrapReps).flatMap { r =>
      Try(singlePass(gramsA(r), gramsB(r), names, cfg, categoryCounts,
        baseCategories)) match {
        case Success(p) => Some(p)
        case Failure(_) => None
      }
    }
    assemble(point, repPasses, cfg.bootstrapReps, gramsA(0).n, gramsB(0).n,
      split.levelA, split.levelB, names)
  }

  /** Bootstrap-stat assembly shared by the OLS and Heckman paths
    * (mirrors `builder.rs:849-983`, incl. by-name detailed matching). */
  private def assemble(point: SinglePass, repPasses: Seq[SinglePass],
      requestedReps: Int, nA: Long, nB: Long, levelA: String, levelB: String,
      names: Seq[String]): OaxacaResults = {
    if (repPasses.size < requestedReps)
      System.err.println(s"Warning: ${requestedReps - repPasses.size} out of " +
        s"$requestedReps bootstrap replications failed and were discarded.")

    def comp(name: String, pointV: Double, reps: Seq[Double]): ComponentResult = {
      val (se, p, (lo, hi)) = Bootstrap.stats(reps)
      val t = if (math.abs(se) > 1e-9) pointV / se else 0.0
      ComponentResult(name, pointV, se, t, p, lo, hi)
    }
    def detailed(pt: Seq[(String, Double)],
        extract: SinglePass => Seq[(String, Double)]): Seq[ComponentResult] = {
      val byName = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
      repPasses.foreach(r => extract(r).foreach { case (n, v) =>
        byName.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += v
      })
      pt.map { case (n, v) => comp(n, v, byName.getOrElse(n, Nil).toSeq) }
    }

    OaxacaResults(
      totalGap = point.totalGap,
      twoFold = Seq(
        comp("explained", point.explained, repPasses.map(_.explained)),
        comp("unexplained", point.unexplained, repPasses.map(_.unexplained))),
      threeFold = Seq(
        comp("endowments", point.endowments, repPasses.map(_.endowments)),
        comp("coefficients", point.coefficients, repPasses.map(_.coefficients)),
        comp("interaction", point.interaction, repPasses.map(_.interaction))),
      detailedExplained = detailed(point.detailedExplained, _.detailedExplained),
      detailedUnexplained = detailed(point.detailedUnexplained, _.detailedUnexplained),
      detailedSelection = detailed(point.detailedSelection, _.detailedSelection),
      nA = nA, nB = nB,
      groupALevel = levelA, groupBLevel = levelB,
      names = names, xaMean = point.xaMean, xbMean = point.xbMean,
      betaStar = point.betaStar, point = point)
  }

  /** Heckman-selection decomposition path (SURVEY §2.3 E6, §2.4 D7):
    * per-group two-step fits (probit + IMR-augmented OLS), names gain a
    * final "IMR" entry, and detailed selection contributions
    * theta_ref * delta_ref * gamma_ref_i * (Zbar_A_i - Zbar_B_i) are
    * reported per selection predictor (`builder.rs:477-534`). Bootstrap
    * replicates rerun the full two-step under per-rep Poisson weights. */
  private def runHeckman(dummied: DataFrame, split: Prep.GroupSplit,
      xCols: Seq[String], names0: Seq[String], cfg: OaxacaConfig): OaxacaResults = {
    if (cfg.refCoefficients == RefCoefficients.Pooled)
      throw InvalidArgument(
        "Pooled reference coefficients are not supported with Heckman selection")
    if (cfg.heckmanBatched)
      return runHeckmanBatched(dummied, split, xCols, names0, cfg)
    val selX = Prep.InterceptCol +: cfg.selectionPredictors
    val names = names0 :+ "IMR"
    val selNames = "intercept" +: cfg.selectionPredictors

    // content hash over the model columns only (keeps column pruning)
    val hashCol = xxhash64((col(cfg.outcome) +: col(cfg.group) +:
      (xCols ++ selX).distinct.map(col)): _*)
    val pois = graft.functions.PoissonDraw.apply _

    def pass(rep: Int): SinglePass = {
      val (dfA, dfB, wName) =
        if (rep == 0) (split.dfA, split.dfB, cfg.weights)
        else {
          val w = pois(hashCol, lit(cfg.seed + rep.toLong)) *
            cfg.weights.map(col(_).cast("double")).getOrElse(lit(1.0))
          val withW = dummied.withColumn("__boot_w__", w)
          val g = col(cfg.group).cast("string")
          (withW.filter(g === lit(split.levelA)),
            withW.filter(g === lit(split.levelB)), Some("__boot_w__"))
        }
      val fitA = Heckman.fit(dfA, cfg.outcome, xCols, cfg.selectionOutcome.get,
        selX, wName)
      val fitB = Heckman.fit(dfB, cfg.outcome, xCols, cfg.selectionOutcome.get,
        selX, wName)

      val betaA = fitA.beta
      val betaB = fitB.beta
      val xaMean = fitA.xMeans
      val xbMean = fitB.xMeans
      val betaStar: DenseVector[Double] = cfg.refCoefficients match {
        case RefCoefficients.GroupA => betaA
        case RefCoefficients.Cotton =>
          // weight-share uses the FULL-group weight sums: the reference's
          // w_a comes from prepare_data on the whole cleaned group frame
          // (`builder.rs:592-599`), not the selection-filtered subset
          val swA = fitA.swAll
          val swB = fitB.swAll
          val wa = swA / (swA + swB)
          betaA * wa + betaB * (1.0 - wa)
        case _ => betaB
      }

      val dx = xaMean - xbMean
      val dbeta = betaA - betaB
      val explained = dx dot betaStar
      val total = (xaMean dot betaA) - (xbMean dot betaB)
      val detExp = names.indices.map(i =>
        names(i) -> (xaMean(i) - xbMean(i)) * betaStar(i))
      val detUnexp = names.indices.map(i => names(i) ->
        (xaMean(i) * (betaA(i) - betaStar(i)) + xbMean(i) * (betaStar(i) - betaB(i))))

      // detailed selection (theta = IMR coefficient of the reference side)
      val (thetaRef, deltaRef, gammaRef, _) = cfg.refCoefficients match {
        case RefCoefficients.GroupA => (betaA(betaA.length - 1), fitA.imrDelta, fitA.gamma, fitA)
        case _ => (betaB(betaB.length - 1), fitB.imrDelta, fitB.gamma, fitB)
      }
      val detSel =
        if (gammaRef.length == selNames.size && fitA.zMeans.length == selNames.size)
          selNames.indices.map { i =>
            selNames(i) -> thetaRef * deltaRef * gammaRef(i) *
              (fitA.zMeans(i) - fitB.zMeans(i))
          }
        else Nil

      // total gap over all (cleaned) group rows, weighted
      val w = wName.map(col(_).cast("double")).getOrElse(lit(1.0))
      def gmean(d: DataFrame): Double = {
        val r = d.agg(sum(col(cfg.outcome).cast("double") * w), sum(w)).head()
        r.getDouble(0) / r.getDouble(1)
      }
      val totalGap = gmean(dfA) - gmean(dfB)

      SinglePass(explained, total - explained,
        dx dot betaB, xbMean dot dbeta, dx dot dbeta,
        totalGap, detExp, detUnexp, detSel.toSeq, xaMean, xbMean,
        betaA, betaB, betaStar)
    }

    val point = pass(0)
    val repPasses = (1 to cfg.bootstrapReps).flatMap(r =>
      Try(pass(r)).toOption)
    assemble(point, repPasses, cfg.bootstrapReps,
      split.dfA.count(), split.dfB.count(), split.levelA, split.levelB, names)
  }

  /** Exact per-group multinomial replicate weights: rows get a stable
    * within-group index; seeded count vectors are drawn on the driver
    * and joined back as one weight column per replicate. */
  private def multinomialWeights(dummied: DataFrame, split: Prep.GroupSplit,
      xCols: Seq[String], cfg: OaxacaConfig): (DataFrame, Seq[String]) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val spark = dummied.sparkSession
    val reps = cfg.bootstrapReps
    val g = col(cfg.group).cast("string")
    val orderCols = (col(cfg.outcome) +: xCols.map(col)) :+ g
    val withIdx = dummied.withColumn("__bi__",
      row_number().over(Window.partitionBy(g).orderBy(orderCols: _*)) - 1)
    val sizes = withIdx.groupBy(g.as("__g__")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val wCols = (1 to reps).map(r => s"__mw_$r")
    val rows = sizes.toSeq.sortBy(_._1).flatMap { case (lvl, nL) =>
      val n = nL.toInt
      val counts = Array.ofDim[Int](reps, n)
      for (r <- 0 until reps) {
        val rng = new scala.util.Random(
          Gram.mix(cfg.seed, lvl.hashCode.toLong * 1000003L + r + 1))
        var i = 0
        while (i < n) { counts(r)(rng.nextInt(n)) += 1; i += 1 }
      }
      (0 until n).map(i => org.apache.spark.sql.Row.fromSeq(
        lvl +: i +: (0 until reps).map(r => counts(r)(i).toDouble)))
    }
    val schema = StructType(
      StructField("__g__", StringType) +: StructField("__bj__", IntegerType) +:
        wCols.map(c => StructField(c, DoubleType)))
    val wdf = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(rows.size / 100000, 1)), schema)
    (withIdx.join(wdf,
      g === wdf("__g__") && col("__bi__") === wdf("__bj__"))
      .drop("__g__", "__bj__"),
      wCols)
  }

  /** Group-B model residuals y - x'beta_B from the RAW (pre-Yun) fit —
    * what `OaxacaResults.residuals` feeds into the budget optimizer
    * (`builder.rs:932-950`, `types.rs:98-156`). */
  def groupBResiduals(df: DataFrame, cfg: OaxacaConfig,
      residualCol: String = "residual"): DataFrame = {
    val modelCols = (cfg.outcome +: cfg.group +: cfg.predictors) ++
      cfg.categorical ++ cfg.weights.toSeq
    val cleaned = Prep.clean(df, modelCols.distinct)
    val (dummied0, dummyInfos) = Prep.oneHot(cleaned, cfg.categorical)
    val dummied = Prep.withIntercept(dummied0)
    val xCols = Prep.designCols(cfg.predictors, dummyInfos)
    val split = Prep.splitGroups(dummied, cfg.group, cfg.reference)
    val g = Gram.compute(split.dfB, cfg.outcome, xCols, cfg.weights)
    val fitB = Ols.fromGram(g, xCols)
    split.dfB.withColumn(residualCol,
      Ols.residualCol(cfg.outcome, xCols, fitB.beta))
  }

  /** `results.optimize_budget(budget, target)` convenience: greedy raises
    * over the most negative group-B residuals (D15). */
  def optimizeBudget(df: DataFrame, cfg: OaxacaConfig, results: OaxacaResults,
      budget: Double, targetGap: Double,
      tieBreak: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val dfB = groupBResiduals(df, cfg)
    BudgetOptimizer.optimize(dfB, "residual", tieBreak, results.totalGap,
      results.nB, budget, targetGap)
  }

  /** All driver-side math for one (possibly reweighted) replicate:
    * mirrors `run_single_pass` (`oaxaca_blinder/src/builder.rs:420-699`)
    * with Gram inputs instead of row matrices. */
  def singlePass(ga: GramResult, gb: GramResult, names: Seq[String],
      cfg: OaxacaConfig, categoryCounts: Map[String, Int],
      baseCategories: Map[String, String]): SinglePass = {

    val fitA = Ols.fromGram(ga, names)
    val fitB = Ols.fromGram(gb, names)
    val xaMean = ga.xMeans
    val xbMean = gb.xMeans

    val (betaA, baseA) = Yun.normalize(fitA.beta, names, cfg.normalize, categoryCounts)
    val (betaB, baseB) = Yun.normalize(fitB.beta, names, cfg.normalize, categoryCounts)

    var baseStar = Map.empty[String, Double]
    val betaStar: DenseVector[Double] = cfg.refCoefficients match {
      case RefCoefficients.GroupA => baseStar = baseA; betaA
      case RefCoefficients.GroupB => baseStar = baseB; betaB
      case RefCoefficients.Pooled =>
        val pooledNames = names :+ "__ob_group_indicator__"
        val pooledFit = Ols.fromGram(pooledGram(ga, gb), pooledNames)
        val (norm, bs) = Yun.normalize(pooledFit.beta, pooledNames, cfg.normalize, categoryCounts)
        baseStar = bs
        norm(0 until names.size).copy
      case RefCoefficients.Cotton =>
        val wa = ga.sw / (ga.sw + gb.sw)
        val wb = 1.0 - wa
        baseStar = cfg.normalize.map(v =>
          v -> (baseA.getOrElse(v, 0.0) * wa + baseB.getOrElse(v, 0.0) * wb)).toMap
        betaA * wa + betaB * wb
    }

    val dx = xaMean - xbMean
    val dbeta = betaA - betaB
    val endowments = dx dot betaB
    val coefficients = xbMean dot dbeta
    val interaction = dx dot dbeta

    var explained = dx dot betaStar
    val total = (xaMean dot betaA) - (xbMean dot betaB)
    var unexplained = total - explained

    val detExp = mutable.ArrayBuffer.empty[(String, Double)]
    val detUnexp = mutable.ArrayBuffer.empty[(String, Double)]
    names.indices.foreach { i =>
      detExp += names(i) -> (xaMean(i) - xbMean(i)) * betaStar(i)
      detUnexp += names(i) ->
        (xaMean(i) * (betaA(i) - betaStar(i)) + xbMean(i) * (betaStar(i) - betaB(i)))
    }

    // Base-category contributions under Yun normalization
    // (`oaxaca_blinder/src/builder.rs:634-674`).
    cfg.normalize.foreach { v =>
      baseCategories.get(v).foreach { baseName =>
        val idx = names.indices.filter(i => names(i).startsWith(s"${v}_"))
        val xaBase = 1.0 - idx.map(xaMean(_)).sum
        val xbBase = 1.0 - idx.map(xbMean(_)).sum
        val bA = baseA.getOrElse(v, 0.0)
        val bB = baseB.getOrElse(v, 0.0)
        val bS = baseStar.getOrElse(v, 0.0)
        val cu = xaBase * (bA - bS) + xbBase * (bS - bB)
        val ce = (xaBase - xbBase) * bS
        detExp += baseName -> ce
        detUnexp += baseName -> cu
        explained += ce
        unexplained += cu
      }
    }

    val totalGap = ga.yMean - gb.yMean

    SinglePass(explained, unexplained, endowments, coefficients, interaction,
      totalGap, detExp.toSeq, detUnexp.toSeq, Nil, xaMean, xbMean, betaA,
      betaB, betaStar)
  }

  /** Batched Heckman path: ALL bootstrap replicates advance together —
    * the selection probits via one multi-system Gram scan per scoring
    * iteration, the IMR-augmented OLS fits via ONE scan, and the
    * selection-side aggregates via two more scans. For B replicates this
    * is ~(scoring iterations + 3) data passes instead of
    * O(B * iterations). Replicate slots that fail (singular fit) are
    * dropped, mirroring the reference's drop-with-warning semantics. */
  private def runHeckmanBatched(dummied: DataFrame, split: Prep.GroupSplit,
      xCols: Seq[String], names0: Seq[String],
      cfg: OaxacaConfig): OaxacaResults = {
    import graft.estimators.Probit
    import org.apache.spark.storage.StorageLevel
    val spark = dummied.sparkSession
    val selX = Prep.InterceptCol +: cfg.selectionPredictors
    val names = names0 :+ "IMR"
    val selNames = "intercept" +: cfg.selectionPredictors
    val selOut = cfg.selectionOutcome.get
    val nReps = cfg.bootstrapReps
    val lane = Prep.laneOf(split, cfg.group)
    val baseW = cfg.weights.map(col(_).cast("double")).getOrElse(lit(1.0))
    val hashCol = xxhash64((col(cfg.outcome) +: col(cfg.group) +:
      (xCols ++ selX).distinct.map(col)): _*)
    val pois = graft.functions.PoissonDraw.apply _

    // persist a NARROW projection (model columns only, not the full
    // source width): every byte of the cache write is paid per row, and
    // the full frame can carry wide payload columns (e.g. lineitem's
    // comment string) that nothing downstream reads — on the sf0.1
    // bench the unprojected persist was most of the first probit pass
    val modelCols = ((cfg.outcome +: cfg.group +: selOut +:
      cfg.weights.toSeq) ++ xCols ++ selX).distinct
    var withW = dummied.select(modelCols.map(col): _*)
      .withColumn("__bw_0", baseW)
    (1 to nReps).foreach { r =>
      withW = withW.withColumn(s"__bw_$r",
        pois(hashCol, lit(cfg.seed + r.toLong)) * baseW)
    }
    // NOT persisted: the probit iterations read IrlsDesign's own
    // compact persisted RDD, so this frame is scanned only thrice (design
    // build, selected-rows Gram, stats pass) — and the draws are
    // deterministic hash functions of the row (PoissonDraw over hashCol),
    // so recomputation is exact. A MEMORY_AND_DISK cache write of the
    // projection costs more than two extra narrow columnar scans.
    val cached = withW
    try {
      val wCols = (0 to nReps).map(r => s"__bw_$r")
      val gammas = Probit.fitManyGrouped(cached, selOut, selX, wCols, lane, 2)

      var aug = cached
      (0 to nReps).foreach { r =>
        val zg = (0 until 2).foldLeft(lit(0.0)) { (acc, l) =>
          when(lane === l, Ols.predictionCol(selX, gammas(l)(r)._1)).otherwise(acc)
        }
        val phi = NormalDist.pdfCol(zg)
        val cdf = NormalDist.cdfCol(spark, zg)
        aug = aug.withColumn(s"__zg_$r", zg)
          .withColumn(s"__imr_$r", when(cdf < 1e-10, 0.0).otherwise(phi / cdf))
      }
      val selRows = aug.filter(col(selOut).cast("double") === 1.0)

      val systems = (0 to nReps).map(r =>
        Gram.MultiSystem(cfg.outcome, s"__bw_$r", Some(s"__imr_$r")))

      // selection delta (selected rows only, via when-guards: sum()
      // skips the null branch, so each ds_r/dw_r sees exactly the rows
      // the old selected-rows-only aggregation saw, in the same scan
      // order) + selection-side means + outcome means + counts per
      // (lane, rep) — ONE grouped pass over the augmented frame instead
      // of the former delta pass + z pass
      val selP = col(selOut).cast("double") === 1.0
      val statAggs = (0 to nReps).flatMap(r =>
        Seq(
          sum(when(selP, col(s"__bw_$r") * -col(s"__imr_$r") *
            (col(s"__imr_$r") + col(s"__zg_$r")))).as(s"ds_$r"),
          sum(when(selP, col(s"__bw_$r"))).as(s"dw_$r")) ++
        selX.zipWithIndex.map { case (c, i) =>
          sum(col(c).cast("double") * col(s"__bw_$r")).as(s"zs_${r}_$i") } ++
          Seq(sum(col(s"__bw_$r")).as(s"zw_$r"),
            sum(col(cfg.outcome).cast("double") * col(s"__bw_$r")).as(s"zy_$r"))) ++
        Seq(count(lit(1)).as("__zn__"))
      // the selected-rows Gram and the stats pass both depend only on
      // the probit fits, not on each other — overlap them (guide §2.6);
      // each keeps its own scan, partitioning and accumulation order,
      // so every value is bit-identical to the sequential run
      val (grams, statRows) = graft.core.Jobs.par2(
        Gram.computeMulti(selRows, xCols, systems, lane, 2),
        Jobs.labeled(spark, "heckman: selection stats pass") {
          aug.filter(lane >= 0)
            .groupBy(lane.as("__lane__"))
            .agg(statAggs.head, statAggs.tail: _*)
            .collect().map(r => r.getInt(0) -> r).toMap
        })
      val deltaRows = statRows
      val zRows = statRows

      def passFor(r: Int): SinglePass = {
        val fitA = Ols.fromGram(grams(0)(r), names)
        val fitB = Ols.fromGram(grams(1)(r), names)
        val betaA = fitA.beta
        val betaB = fitB.beta
        val xaMean = grams(0)(r).xMeans
        val xbMean = grams(1)(r).xMeans
        val betaStar: DenseVector[Double] = cfg.refCoefficients match {
          case RefCoefficients.GroupA => betaA
          case RefCoefficients.Cotton =>
            // per-replicate FULL-group weight sums (zw_r aggregates all
            // rows of the lane under the replicate's bootstrap weight) —
            // matches the unbatched path's fit.swAll and the reference's
            // full-group w.sum() (`builder.rs:592-599`)
            val swA = zRows(0).getAs[Double](s"zw_$r")
            val swB = zRows(1).getAs[Double](s"zw_$r")
            val wa = swA / (swA + swB)
            betaA * wa + betaB * (1.0 - wa)
          case _ => betaB
        }
        val dx = xaMean - xbMean
        val dbeta = betaA - betaB
        val explained = dx dot betaStar
        val total = (xaMean dot betaA) - (xbMean dot betaB)
        val detExp = names.indices.map(i =>
          names(i) -> (xaMean(i) - xbMean(i)) * betaStar(i))
        val detUnexp = names.indices.map(i => names(i) ->
          (xaMean(i) * (betaA(i) - betaStar(i)) +
            xbMean(i) * (betaStar(i) - betaB(i))))

        def zMeans(l: Int): DenseVector[Double] = {
          val row = zRows(l)
          val sw = row.getAs[Double](s"zw_$r")
          DenseVector.tabulate(selX.size)(i =>
            row.getAs[Double](s"zs_${r}_$i") / sw)
        }
        def delta(l: Int): Double = {
          val row = deltaRows(l)
          row.getAs[Double](s"ds_$r") / row.getAs[Double](s"dw_$r")
        }
        val (thetaRef, deltaRef, gammaRef) = cfg.refCoefficients match {
          case RefCoefficients.GroupA =>
            (betaA(betaA.length - 1), delta(0), gammas(0)(r)._1)
          case _ => (betaB(betaB.length - 1), delta(1), gammas(1)(r)._1)
        }
        val zA = zMeans(0)
        val zB = zMeans(1)
        val detSel =
          if (gammaRef.length == selNames.size && zA.length == selNames.size)
            selNames.indices.map(i =>
              selNames(i) -> thetaRef * deltaRef * gammaRef(i) * (zA(i) - zB(i)))
          else Nil

        def gmean(l: Int): Double =
          zRows(l).getAs[Double](s"zy_$r") / zRows(l).getAs[Double](s"zw_$r")
        val totalGap = gmean(0) - gmean(1)

        SinglePass(explained, total - explained,
          dx dot betaB, xbMean dot dbeta, dx dot dbeta,
          totalGap, detExp, detUnexp, detSel.toSeq, xaMean, xbMean,
          betaA, betaB, betaStar)
      }

      val point = passFor(0)
      val repPasses = (1 to nReps).flatMap(r => Try(passFor(r)).toOption)
      assemble(point, repPasses, nReps,
        zRows(0).getAs[Long]("__zn__"), zRows(1).getAs[Long]("__zn__"),
        split.levelA, split.levelB, names)
    }
  }

  /** Pooled design [X | groupIndicator] Gram assembled from the two group
    * Grams: with intercept at column 0, X'd = (group A Gram row 0),
    * d'd = sw_A, X'y unchanged, d'y = swy_A. Equivalent to the
    * reference's vstack + re-regression (`builder.rs:547-590`) with zero
    * extra data passes. */
  def pooledGram(ga: GramResult, gb: GramResult): GramResult = {
    val k = ga.k
    val xtx = DenseMatrix.zeros[Double](k + 1, k + 1)
    val xty = DenseVector.zeros[Double](k + 1)
    var i = 0
    while (i < k) {
      var j = 0
      while (j < k) { xtx(i, j) = ga.xtx(i, j) + gb.xtx(i, j); j += 1 }
      xtx(i, k) = ga.xtx(0, i)
      xtx(k, i) = ga.xtx(0, i)
      xty(i) = ga.xty(i) + gb.xty(i)
      i += 1
    }
    xtx(k, k) = ga.sw
    xty(k) = ga.swy
    GramResult(k + 1, xtx, xty, ga.sw + gb.sw, ga.swy + gb.swy,
      ga.swyy + gb.swyy, ga.n + gb.n, math.min(ga.minW, gb.minW))
  }
}

/** Yun categorical-coefficient normalization
  * (`oaxaca_blinder/src/math/normalization.rs:5-51`). */
object Yun {
  /** Returns the normalized beta and per-variable base-category
    * coefficient (-mean of the m-level dummy coefficients). */
  def normalize(beta: DenseVector[Double], names: Seq[String],
      normVars: Seq[String], categoryCounts: Map[String, Int])
      : (DenseVector[Double], Map[String, Double]) = {
    if (normVars.isEmpty) return (beta, Map.empty)
    val out = beta.copy
    val base = mutable.HashMap.empty[String, Double]
    normVars.foreach { v =>
      val prefix = s"${v}_"
      val idx = names.indices.filter(i => names(i).startsWith(prefix))
      if (idx.nonEmpty) {
        val m = categoryCounts.getOrElse(v, idx.size + 1)
        if (m > 0) {
          val mean = idx.map(out(_)).sum / m.toDouble
          base(v) = -mean
          out(0) += mean
          idx.foreach(i => out(i) -= mean)
        }
      }
    }
    (out, base.toMap)
  }
}

/** Bootstrap summary statistics (`oaxaca_blinder/src/inference.rs:4-34`):
  * SE = sample stddev of replicate estimates; two-tailed sign p-value;
  * percentile CI with floor indexing. */
object Bootstrap {
  def stats(estimates: Seq[Double]): (Double, Double, (Double, Double)) = {
    if (estimates.isEmpty)
      return (Double.NaN, Double.NaN, (Double.NaN, Double.NaN))
    val n = estimates.size.toDouble
    val mean = estimates.sum / n
    val se =
      if (estimates.size < 2) Double.NaN
      else math.sqrt(estimates.map(v => (v - mean) * (v - mean)).sum / (n - 1.0))
    val propPos = estimates.count(_ >= 0.0) / n
    val propNeg = estimates.count(_ <= 0.0) / n
    val p = math.min(2.0 * math.min(propPos, propNeg), 1.0)
    val sorted = estimates.sorted
    val lowerIdx = math.floor(0.025 * n).toInt
    val upperIdx = math.min(math.floor(0.975 * n).toInt, estimates.size - 1)
    (se, p, (sorted(lowerIdx), sorted(upperIdx)))
  }
}
