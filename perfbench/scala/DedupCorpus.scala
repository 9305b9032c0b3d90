package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.ext.{Cluster, Dedup}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.json4s._

/** dedup_corpus: two near-duplicate corpora through the dedup pipelines.
  * The exact-Jaccard engine picks its physical path from the corpus's
  * candidate-pair mass, so one corpus sits on each side of that
  * crossover: exact n-gram Jaccard pairs then cluster assignment run on
  * the `hot` corpus (above it: prefix filter + verify), exact pairs and
  * MinHash LSH pairs on the `plain` one (below it: direct index join).
  * Each op names its corpus and writes its output to a CSV file named in
  * its record. */
final class DedupCorpus(spark: SparkSession, in: JValue, rec: Recorder,
    work: Path) extends Workload {
  import Main.formats

  private val hot = (in \ "parquet").extract[String]
  private val plain = (in \ "plain_parquet").extract[String]
  private val warm = (in \ "warm_parquet").extract[String]
  private val n = (in \ "shingle_n").extract[Int]
  private val threshold = (in \ "threshold").extract[Double]
  private val hashes = (in \ "minhash_hashes").extract[Int]
  private val bands = (in \ "minhash_bands").extract[Int]
  private val CrossoverKey = "spark.graft.dedup.directPathMaxPairs"
  private val corpusName = Map(hot -> "hot", plain -> "plain", warm -> "warm")

  private def docs(src: String): DataFrame = spark.read.parquet(src)

  private def pairsRows(df: DataFrame): Array[Row] =
    df.select("id_a", "id_b", "jaccard").collect()

  private def jaccard(src: String): Array[Row] =
    pairsRows(Dedup.ngramJaccardPairs(docs(src), "id", "text", n, threshold))

  private def clusters(src: String, pairs: Array[Row]): Array[Row] = {
    val pdf = spark.createDataFrame(
      spark.sparkContext.parallelize(pairs.toSeq.map(r => Row(r.getLong(0), r.getLong(1))), 1),
      StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))
    Cluster.assignClusters(docs(src).select("id"), "id", pdf)
      .select("id", "cluster_id").collect()
  }

  private def minhash(src: String): Array[Row] =
    pairsRows(Dedup.minhashLshPairs(docs(src), "id", "text", n, hashes, bands, threshold))

  private def write(name: String, rows: Array[Row]): JField = {
    val f = work.resolve(name)
    Files.write(f, rows.map(_.toSeq.mkString(",")).mkString("\n").getBytes(UTF_8))
    "file" -> JString(f.toString)
  }

  /** The candidate-pair mass at or below which the exact-Jaccard engine
    * takes its direct path, as the session would resolve it. */
  private def crossover: JField = "crossover_pairs" -> JLong(
    spark.conf.getOption(CrossoverKey).map(_.toLong).getOrElse(Dedup.DirectPathMaxPairs))

  private def fields(src: String, tag: String, pairs: Array[Row]): List[JField] =
    List("corpus" -> JString(corpusName(src)), write(s"$tag.csv", pairs))

  // The three ops; `span(name)(body)` wraps the engine calls of the
  // traced pass (identity elsewhere).
  private type Spans = String => (=> Array[Row]) => Array[Row]
  private val untraced: Spans = _ => body => body

  private def jaccardClusters(src: String, tag: String, span: Spans): List[JField] = {
    val p = span("ext.jaccard_pairs")(jaccard(src))
    val c = span("ext.clusters")(clusters(src, p))
    fields(src, s"jaccard-$tag", p) ++
      List("clusters" -> write(s"clusters-$tag.csv", c)._2, crossover)
  }

  private def jaccardOnly(src: String, tag: String): List[JField] =
    fields(src, s"jaccard-$tag", jaccard(src)) :+ crossover

  private def minhashOnly(src: String, tag: String): List[JField] =
    fields(src, s"minhash-$tag", minhash(src))

  /** Warms both physical paths of the exact-Jaccard engine on the small
    * corpus, whichever of them the cost model picks for the timed ones:
    * the default call takes the direct path there (its candidate mass is
    * below the crossover), and one more call forces the prefix path. */
  def warmup(): Unit = {
    rec.op("warm_jaccard_clusters", -1, timed = false)(jaccardClusters(warm, "warm", untraced))
    rec.op("warm_minhash", -1, timed = false)(minhashOnly(warm, "warm"))
    spark.conf.set(CrossoverKey, "0")
    try rec.op("warm_jaccard_prefix", -1, timed = false)(jaccardOnly(warm, "warm-prefix"))
    finally spark.conf.unset(CrossoverKey)
  }

  def pass(i: Int, timed: Boolean): Unit = {
    rec.op("jaccard_clusters", i, timed)(jaccardClusters(hot, s"hot-$i", untraced))
    rec.op("jaccard", i, timed)(jaccardOnly(plain, s"plain-$i"))
    rec.op("minhash", i, timed)(minhashOnly(plain, s"plain-$i"))
  }

  private var pairsOut = 0L

  def tracedPass(ledger: Ledger): Unit = {
    val both = "ext.jaccard_clusters"
    val inside: Spans = name => body => Layers.child(ledger, both, name)(body)
    rec.op("jaccard_clusters", 1, timed = false)(Layers.op(ledger, both) {
      jaccardClusters(hot, "hot-traced", inside)
    })
    rec.op("jaccard", 1, timed = false)(Layers.op(ledger, "ext.jaccard_pairs") {
      jaccardOnly(plain, "plain-traced")
    })
    rec.op("minhash", 1, timed = false)(Layers.op(ledger, "ext.minhash_pairs") {
      minhashOnly(plain, "plain-traced")
    })
    pairsOut = Seq("hot-traced", "plain-traced").map(t =>
      Files.readAllLines(work.resolve(s"jaccard-$t.csv"), UTF_8).size.toLong).sum
  }

  def tracedLayers(ledger: Ledger): Unit = ()

  /** The ext metrics sum over both exact-Jaccard calls, one per path. */
  def layerMetrics(ledger: Ledger): Seq[(String, Double)] = {
    val spans = ledger.allSpans
    def sum(name: String) = ledger.summarise(spans.filter(_.name == name))
    val jac = sum("ext.jaccard_pairs")
    val cand = candidateRecords(jac).toDouble
    Seq(
      "ext.jaccard_pairs_s" -> jac.wallMs / 1e3,
      "ext.minhash_pairs_s" -> sum("ext.minhash_pairs").wallMs / 1e3,
      "ext.clusters_s" -> sum("ext.clusters").wallMs / 1e3,
      "ext.candidate_shuffle_records" -> cand,
      "ext.pairs_out" -> pairsOut.toDouble,
      "ext.pair_yield" -> (if (cand > 0) pairsOut / cand else 0.0)) ++
      Layers.substrate(ledger)
  }

  /** The candidate stream of the exact-Jaccard engine: the rows written
    * into the exchange that feeds its per-pair aggregation, keyed by
    * (id_a, id_b), whichever physical path ran. The other shuffles in
    * the span (the input fan-out, the df histogram, per-doc sizes and
    * sets, the index join's own sides) are left out. */
  private def candidateRecords(s: Ledger.Summary): Long =
    s.exchangeRecords.iterator.collect {
      case (plan, n) if plan.startsWith(CandidateExchange) => n
    }.sum

  private val CandidateExchange = "Exchange hashpartitioning(id_a, id_b,"

  override def notes(ledger: Ledger): List[JField] =
    ledger.allSpans.filter(_.name == "ext.jaccard_pairs").toList.map { sp =>
      s"jaccard_exchange_records ${sp.parent}" -> JObject(
        ledger.summarise(Seq(sp)).exchangeRecords.toList.sorted
          .map { case (plan, n) => plan -> JLong(n) })
    }
}
