package graft

import graft.ext.{LangModel, QualityClassifier, SeqPack}
import org.apache.spark.sql.functions._

/** Sequence packing, bigram LM perplexity, and the reference-vs-rest
  * quality classifier — the round-8 pipeline operators. */
class SeqPackLmSpec extends SparkSpec {
  import spark.implicits._

  private def h56(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(14), 16)
  }

  /** Local reference packer: concat docs in id order, chunk at L. */
  private def localPack(docs: Seq[(Long, Int)], L: Long)
      : Seq[(Long, Long, Long, Long)] = {
    var start = 0L
    docs.filter(_._2 > 0).sortBy(_._1).flatMap { case (id, nt) =>
      val s0 = start
      start += nt
      (s0 / L to (s0 + nt - 1) / L).map { seq =>
        (id, seq, math.max(seq * L - s0, 0L),
          math.min((seq + 1) * L, s0 + nt) - s0)
      }
    }
  }

  test("pack: spans partition each doc's tokens and chunk at the boundary") {
    // token counts 3, 5 (crosses the L=4 boundary), 4 (exact fill), 0
    val docs = Seq(
      (1L, "a b c"), (2L, "d e f g h"), (3L, "i j k l"), (4L, "   "))
      .toDF("doc_id", "text")
    val got = SeqPack.pack(docs, "doc_id", "text", maxTokens = 4,
        numShards = 1)
      .orderBy("doc_id", "seq")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val want = localPack(Seq((1L, 3), (2L, 5), (3L, 4), (4L, 0)), 4L)
    assert(got == want)
    // every emitted span is non-empty and doc-partitioning: spans of a
    // doc abut and cover [0, nt)
    assert(got.forall { case (_, _, from, to) => to > from })
    // zero-token doc is absent
    assert(!got.exists(_._1 == 4L))
  }

  test("pack: sharded output equals per-shard local packing") {
    val docs = (0L until 40L)
      .map(i => (i, Seq.fill((i % 7).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val nShards = 4
    val got = SeqPack.pack(docs, "doc_id", "text", maxTokens = 5,
        numShards = nShards)
      .collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val want = (0 until nShards).flatMap { sh =>
      val mine = (0L until 40L)
        .filter(i => h56(i.toString) % nShards == sh)
        .map(i => (i, (i % 7).toInt))
      localPack(mine, 5L).map { case (id, seq, from, to) =>
        (sh.toLong, id, seq, from, to)
      }
    }.toSet
    assert(got == want)
    // within every shard, each sequence except the last is exactly full
    val bySeq = got.groupBy(t => (t._1, t._3))
      .view.mapValues(_.toSeq.map(t => t._5 - t._4).sum).toMap
    (0 until nShards).foreach { sh =>
      val seqs = bySeq.keys.filter(_._1 == sh).map(_._2)
      if (seqs.nonEmpty) {
        val last = seqs.max
        seqs.filter(_ < last).foreach(q => assert(bySeq((sh.toLong, q)) == 5L))
      }
    }
  }

  test("bigramScore: hand-computed add-1 probabilities") {
    // uni: a->3 b->2; V=2; bi: (a,b)->2, (b,a)->1
    val docs = Seq((1L, "a b a"), (2L, "a b")).toDF("doc_id", "text")
    val got = LangModel.bigramScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val nllAB = math.log((3.0 + 2.0) / (2.0 + 1.0)) // cu(a)=3, cb=2
    val nllBA = math.log((2.0 + 2.0) / (1.0 + 1.0)) // cu(b)=2, cb=1
    val avg1 = (nllAB + nllBA) / 2.0
    assert(got(1L)._1 == 2L)
    assert(math.abs(got(1L)._2 - avg1) < 1e-12)
    assert(math.abs(got(1L)._3 - math.exp(avg1)) < 1e-12)
    assert(got(2L)._1 == 1L)
    assert(math.abs(got(2L)._2 - nllAB) < 1e-12)
  }

  test("bigramScore: short docs excluded; unseen bigrams hit the floor") {
    val train = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val score = Seq((10L, "x y"), (11L, "a"), (12L, "")).toDF("doc_id", "text")
    val got = LangModel.bigramScore(score, "doc_id", "text",
        train = Some(train))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // only doc 10 has a bigram; (x,y) unseen: cu=0, cb=0, V=2
    assert(got.keySet == Set(10L))
    assert(math.abs(got(10L) - math.log(2.0)) < 1e-12)
  }

  test("decontamination: shared shingles flagged, clean corpus intact") {
    import graft.ext.Decontam
    val bench = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("bench_id", "text")
    val corpus = Seq(
      // shares two 3-shingles with the benchmark
      (1L, "x alpha beta gamma delta y"),
      // no 3-token overlap (words shared, order broken)
      (2L, "alpha gamma beta delta epsilon x"),
      (3L, "totally unrelated words here")).toDF("doc_id", "text")
    val flags = Decontam.flagContaminated(corpus, "doc_id", "text",
        bench, "bench_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1 hits 'alpha beta gamma' and 'beta gamma delta' in bench 100
    assert(flags == Map(1L -> ((2L, 1L, 100L))))
    val clean = Decontam.removeContaminated(corpus, "doc_id", "text",
      bench, "bench_id", "text", n = 3)
    assert(clean.columns.toSeq == Seq("doc_id", "text"))
    assert(clean.select("doc_id").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(2L, 3L))
  }

  test("quality classifier: signal recovered, keep rule consistent") {
    // OVERLAPPING classes (complete separation has no logit MLE):
    // reference x in [3, 7], rest x in [0, 4]
    val rows = (0 until 200).map { i =>
      val ref = i % 4 == 0
      (i.toLong, if (ref) 3.0 + (i % 5) else (i % 5).toDouble, ref)
    }
    val df = rows.toDF("id", "x", "is_ref")
    val (scored, beta, converged) = QualityClassifier.scoreAndFilter(
      df, col("is_ref"), Seq("__f__" -> col("x")))
    assert(converged)
    assert(beta.size == 2 && beta(1) > 0.0) // separating direction
    val got = scored.select("id", "x", "__quality_p__", "__quality_keep__")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getBoolean(3)))
    // p is monotone in x (single positive-coef feature)
    val byX = got.sortBy(_._2).map(_._3)
    assert(byX.zip(byX.tail).forall { case (a, b) => a <= b + 1e-12 })
    // ref rows score higher on average than the rest
    val refP = got.filter(t => rows(t._1.toInt)._3).map(_._3)
    val restP = got.filter(t => !rows(t._1.toInt)._3).map(_._3)
    assert(refP.sum / refP.size > restP.sum / restP.size + 0.1)
    // keep rule replays exactly: rounded p >= rounded mean of rounded p
    def r6l(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val p6 = got.map(t => r6l(t._3))
    val thr = r6l(p6.sum / p6.size)
    got.zip(p6).foreach { case ((_, _, _, keep), p) =>
      assert(keep == (p >= thr))
    }
  }

  test("quality classifier: tol = 0 pins the iteration count") {
    val df = (0 until 100).map(i =>
      (i.toLong, (i % 10).toDouble, i % 3 == 0)).toDF("id", "x", "is_ref")
    def norm2(a: Seq[Double], b: Seq[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val (_, b3, conv) = QualityClassifier.score(
      df, col("is_ref"), Seq("__f__" -> col("x")), maxIter = 3, tol = 0.0)
    assert(!conv) // tol = 0 can never converge: exactly maxIter steps ran
    val (_, b3b, _) = QualityClassifier.score(
      df, col("is_ref"), Seq("__f__" -> col("x")), maxIter = 3, tol = 0.0)
    // replay is exact: Reduce merges partials in partition order, never
    // in task-completion order
    assert(b3.map(java.lang.Double.doubleToRawLongBits) ==
      b3b.map(java.lang.Double.doubleToRawLongBits))
    val (_, b1, _) = QualityClassifier.score(
      df, col("is_ref"), Seq("__f__" -> col("x")), maxIter = 1, tol = 0.0)
    assert(norm2(b3, b1) > 1e-3) // the extra pinned steps moved the betas
  }
}
