package graft

import graft.core.{Jobs, Reduce}

/** Input of [[ReduceSpec]], outside the suite so task closures do not
  * capture it. `finished` records the order in which partitions of the
  * delayed input finished (local mode: tasks run in the test JVM). */
object ReduceSpecInput {
  // 1e16 absorbs small addends (its ulp is 2), so the sum depends on
  // merge association
  private val pattern = Array(1.0, -1e16, 1e16, 3.0, 1e16, 1e16, 3.0, 3.0)
  def valueOf(i: Int): Double = pattern(i % pattern.length)
  val finished = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
}

class ReduceSpec extends SparkSpec {
  import ReduceSpecInput._

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** One value per partition; partition i sleeps delayMs(i) first. */
  private def delayed(n: Int, delayMs: Int => Int) =
    spark.sparkContext.parallelize(0 until n, n).mapPartitionsWithIndex {
      (i, it) =>
        Thread.sleep(delayMs(i).toLong)
        val out = it.map(valueOf).toList
        finished.add(i)
        out.iterator
    }

  private def sum(rdd: org.apache.spark.rdd.RDD[Double]): Double =
    Reduce(rdd, "reduce-spec: sum", () => 0.0)(_ + _, _ + _)

  test("Reduce is bit-identical under opposite task-completion orders") {
    // 4 partitions merge on the driver alone; 16+ add an executor level
    Seq(4, 16, 17, 40).foreach { n =>
      def run(delayMs: Int => Int): (Double, List[Int]) = {
        finished.clear()
        val r = sum(delayed(n, delayMs))
        val it = finished.iterator
        val order = List.newBuilder[Int]
        while (it.hasNext) order += it.next()
        (r, order.result())
      }
      val (up, upOrder) = run(i => 8 * i)
      val (down, downOrder) = run(i => 8 * (n - 1 - i))
      assert(upOrder != downOrder, s"n=$n: completion orders did not differ")
      // the index-order fold Reduce promises: contiguous runs of
      // fanIn(n) partials, each folded in order, then the runs in order
      val parts = (0 until n).map(i => 0.0 + valueOf(i))
      val runs = parts.grouped(Reduce.fanIn(n)).map(_.reduceLeft(_ + _)).toSeq
      val expected = runs.reduceLeft(_ + _)
      assert(bits(up) == bits(expected), s"n=$n: $up vs $expected")
      assert(bits(down) == bits(expected), s"n=$n: $down vs $expected")
      // the input really is association-sensitive
      assert(bits(runs.reverse.reduceLeft(_ + _)) != bits(expected))
    }
  }

  test("Reduce of an empty input returns the zero") {
    val sc = spark.sparkContext
    assert(Reduce(sc.emptyRDD[Double], "reduce-spec: empty", () => 42.0)(
      _ + _, _ + _) == 42.0)
    val noRows = sc.parallelize(Seq.empty[Double], 20)
    assert(bits(sum(noRows)) == bits(0.0))
  }

  test("Reduce inside a labeled block leaves the outer label in place") {
    val sc = spark.sparkContext
    val before = sc.getLocalProperty("spark.job.description")
    Jobs.labeled(spark, "outer: block") {
      sum(spark.sparkContext.parallelize(Seq(1.0, 2.0), 2))
      assert(sc.getLocalProperty("spark.job.description") == "outer: block")
    }
    assert(sc.getLocalProperty("spark.job.description") == before)
  }
}
