package graft

import graft.core.Jobs

class JobsSpec extends SparkSpec {

  private def desc: String =
    spark.sparkContext.getLocalProperty("spark.job.description")

  test("a nested label restores the outer one, also when the body throws") {
    val before = desc
    Jobs.labeled(spark, "outer: phase") {
      Jobs.labeled(spark, "inner: phase") {
        assert(desc == "inner: phase")
      }
      assert(desc == "outer: phase")
      intercept[IllegalStateException] {
        Jobs.labeled(spark, "inner: failing") {
          throw new IllegalStateException("boom")
        }
      }
      assert(desc == "outer: phase")
    }
    assert(desc == before)
  }

  /** `b` sleeps, then records that it finished: par2 must not return or
    * throw before that. */
  private def slowB[T](done: java.util.concurrent.atomic.AtomicBoolean)(
      body: => T): T = {
    Thread.sleep(200)
    done.set(true)
    body
  }

  test("par2: a failure in a surfaces after b has finished") {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Jobs.par2(throw new IllegalStateException("a"), slowB(done)(2))
    }
    assert(e.getMessage == "a")
    assert(done.get, "par2 threw before its helper finished")
  }

  test("par2: a failure in b rethrows unwrapped") {
    val e = intercept[core.InvalidGroupVariable] {
      Jobs.par2(1, throw core.InvalidGroupVariable("b"))
    }
    assert(e.getSuppressed.isEmpty)
  }

  test("par2: when both fail, b's error wins with a's suppressed") {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[core.InvalidGroupVariable] {
      Jobs.par2(throw new IllegalStateException("a"),
        slowB(done)(throw core.InvalidGroupVariable("b")))
    }
    assert(done.get)
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("a"))
  }
}
