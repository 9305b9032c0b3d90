package perfbench

import java.nio.file.Paths

import graft.api.McpServer
import graft.decompose.RefCoefficients
import graft.equity.{Equity, EquityConfig, Frontier}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** equity_mcp: one client in a closed loop sends JSON-RPC `tools/call`
  * lines to `McpServer.handle`: per pass, one five-call analyst session
  * on each generated workforce (forensic decomposition, remediation,
  * verify, defensibility, frontier). */
final class EquityMcp(spark: SparkSession, in: JValue, rec: Recorder) extends Workload {
  import EquityMcp.Workforce
  import Main.formats

  private def load(j: JValue): Workforce = Workforce(
    Main.read(Paths.get((j \ "csv").extract[String])),
    (j \ "budget").extract[Double],
    (j \ "overrides").extract[List[JValue]].map(o =>
      ((o \ "predictor").extract[String], (o \ "value").extract[Double])))

  private val forces = (in \ "workforces").extract[List[JValue]].map(load).toVector
  private val warm = load(in \ "warmup")
  private val predictors = (in \ "predictors").extract[List[String]]
  private val categorical = (in \ "categorical").extract[List[String]]
  private val reps = (in \ "bootstrap_reps").extract[Int]
  private val steps = (in \ "frontier_steps").extract[Int]
  private var nextId = 0L

  private def baseArgs(w: Workforce): List[JField] = List(
    "csv_content" -> JString(w.csv),
    "outcome_variable" -> JString("salary"),
    "group_variable" -> JString("gender"),
    "reference_group" -> JString("M"),
    "predictors" -> JArray(predictors.map(JString(_))),
    "categorical_predictors" -> JArray(categorical.map(JString(_))))

  private def request(tool: String, args: List[JField]): String = {
    nextId += 1
    JsonMethods.compact(JsonMethods.render(JObject(
      "jsonrpc" -> JString("2.0"), "id" -> JLong(nextId),
      "method" -> JString("tools/call"),
      "params" -> JObject("name" -> JString(tool), "arguments" -> JObject(args)))))
  }

  /** The tool's result JSON from a reply envelope, if it is a result
    * (a failed call leaves no reply; the checks count it). */
  private def resultOf(reply: String): JValue = {
    val envelope = scala.util.Try(JsonMethods.parse(reply)).getOrElse(JNothing)
    (envelope \ "result" \ "content")(0) \ "text" match {
      case JString(t) => JsonMethods.parse(t)
      case _ => JNothing
    }
  }

  /** Adjustments the remediation reply paid out, as (row index, amount). */
  private def paid(reply: String): List[(Long, Double)] =
    (resultOf(reply) \ "adjustments").extractOpt[List[JValue]].getOrElse(Nil)
      .map(a => ((a \ "index").extract[Long], (a \ "adjustment").extract[Double]))
      .filter(_._2 > 0.0)

  private def adjustmentItems(adj: List[(Long, Double)],
      overrides: List[(String, Double)]): JArray =
    JArray(adj.zipWithIndex.map { case ((i, v), k) =>
      val base = List[JField]("index" -> JLong(i), "value" -> JDouble(v))
      JObject(if (k < overrides.size) base :+ ("predictor_overrides" ->
        JObject(overrides(k)._1 -> JString(overrides(k)._2.toString)))
      else base)
    })

  /** The session's five requests, each built after the previous reply;
    * `call` sends one and returns the reply line. */
  private def session(w: Workforce, call: (String, String) => String): Unit = {
    val base = baseArgs(w)
    call("forensic_decomposition", request("forensic_decomposition",
      base :+ ("bootstrap_reps" -> JInt(reps))))
    val remediation = call("simulate_remediation", request("simulate_remediation",
      base :+ ("budget" -> JDouble(w.budget))))
    val adj = paid(remediation)
    call("verify_adjustments", request("verify_adjustments",
      base ++ List("adjustments" -> adjustmentItems(adj, Nil),
        "bootstrap_reps" -> JInt(reps))))
    call("check_defensibility", request("check_defensibility",
      base :+ ("adjustments" -> adjustmentItems(adj, w.overrides))))
    call("generate_efficient_frontier", request("generate_efficient_frontier",
      base :+ ("steps" -> JInt(steps))))
  }

  private def recorded(i: Int, timed: Boolean, w: Workforce, ledger: Option[Ledger] = None)(
      tool: String, line: String): String = {
    var reply = ""
    rec.op(tool, i, timed) {
      reply = ledger match {
        case Some(l) => Layers.op(l, s"api.$tool")(handle(line))
        case None => handle(line)
      }
      List("workforce" -> JInt(forces.indexOf(w)), "budget" -> JDouble(w.budget),
        "reply" -> JString(reply))
    }
    reply
  }

  private def handle(line: String): String = McpServer.handle(spark, line).getOrElse("")

  def warmup(): Unit = session(warm, recorded(-1, timed = false, warm))

  def pass(i: Int, timed: Boolean): Unit = forces.foreach(w => session(w, recorded(i, timed, w)))

  def tracedPass(ledger: Ledger): Unit =
    forces.foreach(w => session(w, recorded(1, timed = false, w, Some(ledger))))

  private def cfg(w: Workforce) = EquityConfig("salary", "gender", "M",
    predictors, categorical, budget = w.budget)

  def tracedLayers(ledger: Ledger): Unit = {
    val w = forces(0)
    val df = Layers.direct(ledger, "api.csv_to_df") {
      McpServer.csvToDf(spark, w.csv)
    }
    val c = cfg(w)
    val id = McpServer.RowId
    Layers.direct(ledger, "equity.decompose") {
      Equity.decompose(df, c, RefCoefficients.Pooled, reps)
    }
    val adj = Layers.direct(ledger, "equity.optimize") {
      Equity.optimize(df, c, id).adjustments.collect()
    }.map(r => (r.getLong(0), r.getAs[Double]("adjustment"))).filter(_._2 > 0.0).toList
    val adjDf = frame(adj.map { case (i, v) => Row(i, v) },
      StructType(Seq(StructField(id, LongType, nullable = false),
        StructField("value", DoubleType))))
    Layers.direct(ledger, "equity.verify") {
      Equity.verifyAdjustments(df, adjDf, id, "value", c, bootstrapReps = reps)
    }
    val ov = frame(adj.zip(w.overrides).map { case ((i, _), (p, v)) => Row(i, p, v) },
      StructType(Seq(StructField(id, LongType, nullable = false),
        StructField("predictor", StringType), StructField("value", DoubleType))))
    Layers.direct(ledger, "equity.defensibility") {
      Equity.checkDefensibility(df, adjDf, Some(ov), id, "value", c).collect()
    }
    Layers.direct(ledger, "equity.frontier") {
      Frontier.compute(df, c, id, steps = steps)
    }
  }

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  def layerMetrics(ledger: Ledger): Seq[(String, Double)] = {
    val spans = ledger.allSpans
    def secs(name: String): Double = {
      val xs = spans.filter(_.name == name).map(s => (s.end - s.start) / 1e3)
      Layers.median(xs)
    }
    val api = Seq("api.csv_to_df_s" -> secs("api.csv_to_df")) ++
      Seq("forensic_decomposition", "simulate_remediation", "verify_adjustments",
        "check_defensibility", "generate_efficient_frontier")
        .map(t => s"api.$t.p50_s" -> secs(s"api.$t"))
    val equity = Seq("decompose", "optimize", "verify", "defensibility", "frontier")
      .flatMap { e =>
        val s = ledger.summarise(spans.filter(_.name == s"equity.$e"))
        Seq(s"equity.$e.s" -> s.wallMs / 1e3, s"equity.$e.jobs" -> s.jobs.toDouble,
          s"equity.$e.driver_gap_s" -> s.gapMs / 1e3)
      }
    api ++ equity ++ Layers.substrate(ledger)
  }
}

object EquityMcp {
  /** A generated workforce CSV with its session's budget and the
    * (predictor, value) overrides applied to its first adjustments. */
  final case class Workforce(csv: String, budget: Double, overrides: List[(String, Double)])
}
