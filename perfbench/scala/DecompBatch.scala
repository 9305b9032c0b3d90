package perfbench

import graft.core.Gram
import graft.decompose.{ComponentResult, Dfl, Oaxaca, OaxacaConfig, OaxacaResults, RefCoefficients, RifDecomposer}
import graft.estimators.{Logit, Probit}
import graft.prep.Prep
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}
import org.json4s._

/** decomp_batch: five batch decompositions of one seeded wage table read
  * from parquet: a two-fold point estimate, a bootstrap, RIF quantile
  * decompositions, a Heckman-corrected decomposition and DFL. */
final class DecompBatch(spark: SparkSession, in: JValue, rec: Recorder) extends Workload {
  import Main.formats

  private val path = (in \ "parquet").extract[String]
  private val warmPath = (in \ "warm_parquet").extract[String]
  private val rows = (in \ "rows").extract[Long]
  private val predictors = (in \ "predictors").extract[List[String]]
  private val selection = (in \ "selection_predictors").extract[List[String]]
  private val bootReps = (in \ "bootstrap_reps").extract[Int]
  private val taus = (in \ "taus").extract[List[Double]]
  private val seed = (in \ "seed").extract[Long]
  private var source = path
  private def table: DataFrame = spark.read.parquet(source)

  private val base = OaxacaConfig("y", "grp", "B", predictors, Seq("cat"),
    refCoefficients = RefCoefficients.GroupB, bootstrapReps = 0, seed = seed)

  val Jobs: Seq[String] = Seq("oaxaca_point", "oaxaca_boot500", "rif", "heckman", "dfl")

  private def components(cs: Seq[ComponentResult]): List[JValue] = cs.toList.map(c =>
    JObject("name" -> JString(c.name), "estimate" -> JDouble(c.estimate),
      "std_err" -> JDouble(c.stdErr)))

  private def oaxacaFields(r: OaxacaResults): List[JField] = {
    val all = r.twoFold ++ r.detailedExplained ++ r.detailedUnexplained
    List("total" -> JDouble(r.totalGap), "two_fold" -> JArray(components(r.twoFold))) ++
      values(r.totalGap +: all.flatMap(c => Seq(c.estimate, c.stdErr)))
  }

  /** A result's numbers and their bit-level digest, which the checks
    * compare across repetitions of the job. */
  private def values(xs: Seq[Double]): List[JField] = List(
    "values" -> JArray(xs.toList.map(JDouble(_))),
    "digest" -> JString(Main.digestDoubles(xs)))

  /** Runs one job; its fields go to the op record. */
  private def job(name: String): List[JField] = name match {
    case "oaxaca_point" => oaxacaFields(Oaxaca.run(table, base))
    case "oaxaca_boot500" => oaxacaFields(Oaxaca.run(table, base.copy(bootstrapReps = bootReps)))
    case "rif" =>
      // one quantile warms the code path every quantile shares
      val per = (if (source == warmPath) taus.take(1) else taus)
        .map(t => t -> RifDecomposer.decomposeQuantile(table, base, t))
      List("quantiles" -> JArray(per.map { case (t, r) =>
        JObject(("tau" -> JDouble(t)) :: oaxacaFields(r))
      })) ++ values(per.flatMap { case (_, r) =>
        r.totalGap +: r.twoFold.flatMap(c => Seq(c.estimate, c.stdErr)) })
    case "heckman" => oaxacaFields(Oaxaca.run(table, base.copy(
      selectionOutcome = Some("sel"), selectionPredictors = selection)))
    case "dfl" =>
      val r = Dfl.run(table, "y", "grp", "B", predictors :+ "cat")
      val ds = Seq(r.densityA, r.densityB, r.densityBCounterfactual)
      List("grid" -> JArray(r.grid.toList.map(JDouble(_))),
        "densities" -> JArray(ds.toList.map(d => JArray(d.toList.map(JDouble(_))))),
        "converged" -> JBool(r.logitConverged)) ++ values(r.grid.toSeq ++ ds.flatten)
  }

  def warmup(): Unit = {
    source = warmPath
    try Jobs.foreach(j => rec.op(s"warm_$j", -1, timed = false)(job(j)))
    finally source = path
  }

  def pass(i: Int, timed: Boolean): Unit = Jobs.foreach(j => rec.op(j, i, timed)(job(j)))

  def tracedPass(ledger: Ledger): Unit = Jobs.foreach(j =>
    rec.op(j, 1, timed = false)(Layers.op(ledger, s"decompose.$j")(job(j))))

  private var probitIters = 0
  private var logitIters = 0
  private var k = 0

  /** Gram, probit and logit called directly on the prepared design the
    * decompositions build internally. */
  def tracedLayers(ledger: Ledger): Unit = {
    val cols = ("y" +: "grp" +: "sel" +: predictors) ++ selection :+ "cat"
    val (dummied0, infos) = Prep.oneHot(Prep.clean(table, cols.distinct), Seq("cat"))
    val dummied = Prep.withIntercept(dummied0)
    val xCols = Prep.designCols(predictors, infos)
    k = xCols.size
    Layers.direct(ledger, "core.gram_point") {
      Gram.compute(dummied, "y", xCols)
    }
    Layers.direct(ledger, "core.gram_reps") {
      Gram.computeReps(dummied, "y", xCols, None, bootReps, seed)
    }
    val selX = Prep.InterceptCol +: selection
    Seq("A", "B").foreach { g =>
      val fit = Layers.direct(ledger, "estimators.probit") {
        Probit.fit(dummied.filter(col("grp") === lit(g)), "sel", selX)
      }
      probitIters += fit.iterations
    }
    val target = dummied.withColumn("__target__", when(col("grp") === lit("A"), 1.0).otherwise(0.0))
    logitIters = Layers.direct(ledger, "estimators.logit") {
      Logit.fit(target, "__target__", xCols)
    }.iterations
  }

  def layerMetrics(ledger: Ledger): Seq[(String, Double)] = {
    val spans = ledger.allSpans
    def sum(name: String) = ledger.summarise(spans.filter(_.name == name))
    val decompose = Jobs.flatMap { j =>
      val s = sum(s"decompose.$j")
      Seq(s"decompose.$j.s" -> s.wallMs / 1e3, s"decompose.$j.jobs" -> s.jobs.toDouble,
        s"decompose.$j.executor_cpu_s" -> s.tasks.cpuNs / 1e9)
    }
    val point = sum("core.gram_point")
    val reps = sum("core.gram_reps")
    val kk = k.toDouble * k
    decompose ++ Seq(
      "estimators.probit_fit_s" -> sum("estimators.probit").wallMs / 1e3,
      "estimators.probit_iterations" -> probitIters.toDouble,
      "estimators.logit_fit_s" -> sum("estimators.logit").wallMs / 1e3,
      "estimators.logit_iterations" -> logitIters.toDouble,
      "core.gram_point_s" -> point.wallMs / 1e3,
      "core.gram_reps_s" -> reps.wallMs / 1e3,
      // computed, not measured: the two scans each read y, w, lane, hash
      // and k design doubles per row, and update lanes x k^2 sums per row
      "core.gram_input_bytes" -> 2.0 * rows * (k + 4) * 8,
      "core.gram_ops_computed" -> (rows * kk + rows * (bootReps + 1) * kk)) ++
      Layers.substrate(ledger)
  }
}
