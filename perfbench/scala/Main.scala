package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import scala.collection.mutable

/** Benchmark driver JVM. `run.py` generates the inputs, writes
  * `plan.json` into a work directory and launches this main, which
  * times its own set-up (JVM start until the SparkSession is built and
  * has run a first job), then runs the planned workload untraced (timed
  * window) or traced (per-layer ledger), writing `result.json` and
  * `ops.jsonl` for `run.py` to check. The engine is driven only through
  * its public functions. */
object Main {
  implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = Paths.get(opts("work"))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = startSession(work, opts("cores").toInt, opts("trace") == "1")
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    try runPlan(spark, JsonMethods.parse(read(work.resolve("plan.json"))), work, setupS)
    finally spark.stop()
  }

  def startSession(work: Path, cores: Int, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    // the traced run checks its ledger against every job Spark's own
    // status store kept, so that store must not drop any
    val spark = (if (traced) b.config("spark.ui.retainedJobs", "1000000") else b)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // warm: the session has run its first job
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  def runPlan(spark: SparkSession, plan: JValue, work: Path, setupS: Double): Unit = {
    val name = (plan \ "workload").extract[String]
    val seconds = (plan \ "seconds").extract[Double]
    val traced = (plan \ "trace").extract[Int] == 1
    val rec = new Recorder(work)
    val w: Workload = name match {
      case "equity_mcp" => new EquityMcp(spark, plan \ "inputs", rec)
      case "decomp_batch" => new DecompBatch(spark, plan \ "inputs", rec)
      case "dedup_corpus" => new DedupCorpus(spark, plan \ "inputs", rec, work)
    }
    val fields = mutable.LinkedHashMap.empty[String, JValue]
    fields("setup_s") = JDouble(setupS)
    fields("warmup_s") = JDouble(timed(w.warmup())._2)
    fields("proc_stat_start") = JString(cpuStatLine())
    if (!traced) {
      val cpu0 = processCpuS()
      val jit0 = jitCpuS()
      val t0 = System.nanoTime()
      var passes = 0
      while (passes == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
        w.pass(passes, timed = true)
        passes += 1
      }
      fields("window_s") = JDouble((System.nanoTime() - t0) / 1e9)
      fields("cpu_s") = JDouble(processCpuS() - cpu0)
      fields("jit_cpu_s") = JDouble(jitCpuS() - jit0)
      fields("passes") = JInt(passes)
      fields("retained_heap_mb") = JDouble(retainedHeapMb())
    } else {
      // the same pass untraced, traced, and untraced again: the traced
      // wall over the mean untraced wall is the tracing overhead
      val before = timed(w.pass(0, timed = false))._2
      val ledger = Ledger.attach(spark)
      val tracedS = timed(ledger.span(Layers.Pass)(w.tracedPass(ledger)))._2
      val after = timed(w.pass(2, timed = false))._2
      val untracedS = (before + after) / 2
      ledger.span(Layers.Direct)(w.tracedLayers(ledger))
      Ledger.drain(spark)
      val layers = w.layerMetrics(ledger)
      fields("untraced_pass_s") = JDouble(untracedS)
      fields("traced_pass_s") = JDouble(tracedS)
      fields("layers") = JObject(layers.toList.map { case (k, v) => k -> JDouble(v) })
      fields("notes") = JObject(w.notes(ledger))
      fields("store_jobs") = JArray(org.apache.spark.PerfbenchAccess.jobs(spark.sparkContext)
        .toList.map { case (id, t0, t1, desc) =>
          JArray(List(JInt(id), JLong(t0), JLong(t1), JString(desc))) })
      fields("spans") = JArray(ledger.allSpans.toList.map(s => JObject(
        "name" -> JString(s.name), "start_ms" -> JLong(s.start),
        "end_ms" -> JLong(s.end), "parent" -> JString(s.parent),
        "request" -> JString(s.request))))
    }
    fields("proc_stat_end") = JString(cpuStatLine())
    fields("peak_rss_mb") = JDouble(peakRssMb())
    fields("spark_version") = JString(spark.version)
    fields("java_version") = JString(System.getProperty("java.version"))
    rec.close()
    writeJson(work.resolve("result.json"), JObject(fields.toList))
  }

  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** CPU seconds of the live JIT compiler threads, from /proc/self/task
    * (utime + stime in USER_HZ = 100 ticks per second). */
  def jitCpuS(): Double =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.flatMap { t =>
      try {
        val st = read(t.toPath.resolve("stat"))
        val name = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
        if (name.contains("CompilerThre")) Some((f(11).toLong + f(12).toLong) / 100.0)
        else None
      } catch { case _: java.io.IOException => None }
    }.sum

  /** The aggregate `cpu` line of /proc/stat, for the steal share. */
  def cpuStatLine(): String =
    read(Paths.get("/proc/stat")).split("\n").find(_.startsWith("cpu ")).getOrElse("")

  /** Heap still reachable after a full collection, in MiB. The pauses
    * let Spark's ContextCleaner drop the blocks and broadcasts whose
    * owners the first collections found unreachable. */
  def retainedHeapMb(): Double = {
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(250) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** VmHWM of this JVM, in MiB. */
  def peakRssMb(): Double =
    read(Paths.get("/proc/self/status")).split("\n")
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)

  def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  def writeJson(p: Path, v: JValue): Unit =
    Files.write(p, JsonMethods.compact(JsonMethods.render(v)).getBytes(UTF_8))

  def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString

  /** Digest of a result's doubles, bit for bit. */
  def digestDoubles(xs: Seq[Double]): String = {
    val bb = java.nio.ByteBuffer.allocate(8 * xs.size)
    xs.foreach(x => bb.putLong(java.lang.Double.doubleToLongBits(x)))
    sha256(bb.array())
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** One workload: an untimed warm-up, passes of operations, and a traced
  * pass whose spans feed the per-layer metrics. */
trait Workload {
  def warmup(): Unit
  def pass(i: Int, timed: Boolean): Unit
  def tracedPass(ledger: Ledger): Unit
  /** Direct calls into the layers below the public entry point. */
  def tracedLayers(ledger: Ledger): Unit
  def layerMetrics(ledger: Ledger): Seq[(String, Double)]
  /** Diagnostics of the traced run for the report, beside the metrics. */
  def notes(ledger: Ledger): List[JField] = Nil
}

/** Appends one JSON line per operation to `ops.jsonl`: its name, pass,
  * wall time, whether it threw, and the output `run.py` checks. */
final class Recorder(work: Path) {
  private val out = Files.newBufferedWriter(work.resolve("ops.jsonl"), UTF_8)

  def op(name: String, pass: Int, timed: Boolean)(body: => Seq[(String, JValue)]): Unit = {
    val t0 = System.nanoTime()
    val (fields, err) =
      try (body, JNull)
      catch { case e: Throwable => (Nil, JString(e.toString)) }
    val wall = (System.nanoTime() - t0) / 1e9
    val line = JObject(List("op" -> JString(name), "pass" -> JInt(pass),
      "timed" -> JBool(timed), "wall_s" -> JDouble(wall), "error" -> err) ++ fields)
    out.write(JsonMethods.compact(JsonMethods.render(line)))
    out.newLine()
  }

  def close(): Unit = out.close()
}

/** Shared per-layer helpers over a ledger summary. */
object Layers {
  def sparkMetrics(s: Ledger.Summary): Seq[(String, Double)] = {
    val d = s.tasks.durationsMs.sorted
    def pct(q: Double): Double =
      if (d.isEmpty) 0.0 else d(math.min(d.size - 1, (q * d.size).toInt)).toDouble
    Seq(
      "spark.jobs" -> s.jobs.toDouble,
      "spark.stages" -> s.stages.toDouble,
      "spark.tasks" -> s.tasks.tasks.toDouble,
      "spark.job_busy_s" -> s.busyMs / 1e3,
      "spark.driver_gap_s" -> s.gapMs / 1e3,
      "spark.overlap_s" -> s.overlapMs / 1e3,
      "spark.executor_cpu_s" -> s.tasks.cpuNs / 1e9,
      "spark.executor_run_s" -> s.tasks.runMs / 1e3,
      "spark.gc_s" -> s.tasks.gcMs / 1e3,
      "spark.input_bytes" -> s.tasks.inputBytes.toDouble,
      "spark.shuffle_read_bytes" -> s.tasks.shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> s.tasks.shuffleWrite.toDouble,
      "spark.spill_bytes" -> s.tasks.spill.toDouble,
      "spark.task_p50_ms" -> pct(0.5),
      "spark.task_max_ms" -> (if (d.isEmpty) 0.0 else d.last.toDouble),
      "spark.traced_wall_s" -> s.wallMs / 1e3)
  }

  def phaseMetrics(s: Ledger.Summary): Seq[(String, Double)] =
    Ledger.PhaseNames.flatMap { p =>
      val a = s.phases.getOrElse(p, new Ledger.PhaseAgg)
      Seq(s"phase.$p.jobs" -> a.jobs.toDouble, s"phase.$p.busy_s" -> a.busyMs / 1e3)
    }

  /** Parent span and request id of the traced pass's operations. */
  val Pass = "traced_pass"
  /** Parent span and request id of the direct calls into lower layers. */
  val Direct = "direct_layers"

  /** A span around one operation of the traced pass. */
  def op[T](ledger: Ledger, name: String)(body: => T): T =
    ledger.span(name, parent = Pass, request = Pass)(body)

  /** A span inside one of the traced pass's operation spans. */
  def child[T](ledger: Ledger, parent: String, name: String)(body: => T): T =
    ledger.span(name, parent = parent, request = Pass)(body)

  /** A span around a direct call into a layer below the entry point. */
  def direct[T](ledger: Ledger, name: String)(body: => T): T =
    ledger.span(name, parent = Direct, request = Direct)(body)

  /** The traced pass's operation spans, one per recorded operation. */
  def opSpans(ledger: Ledger): Seq[Ledger.Span] =
    ledger.allSpans.filter(s => s.request == Pass && s.parent == Pass)

  /** Spark and phase metrics over the traced pass's operation spans. */
  def substrate(ledger: Ledger): Seq[(String, Double)] = {
    val s = ledger.summarise(opSpans(ledger))
    sparkMetrics(s) ++ phaseMetrics(s)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
