package graft

import graft.ext._
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructField, StructType}

/** Driver-checked queries for the LLM-data-pipeline extension operators
  * (dedup, similarity search, text analysis, multimodal, events).
  * The md5-derived 56-bit hash family is reproducible in DuckDB SQL
  * (('0x' || substr(md5(x),1,14))::BIGINT), so even MinHash/SimHash have
  * exact oracles; the band/bit SQL is generated from the same constants
  * as the Spark side. */
object QueriesExt {

  import Queries.{r6, t}

  /** events.parquet has been generated with two `ts` encodings over
    * time: TIMESTAMP(NANOS), which Spark's parquet reader can only read
    * as a long (nanosAsLong), and plain timestamp[us], which it reads as
    * a timestamp directly. Branch on the physical read schema so both
    * vintages work (the driver regenerates the fixtures between rounds). */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        // nanos-as-long vintage: integer `div`, NOT floor(ts / 1000):
        // the `/` is double division, and at ~1.7e15 µs a double's ulp
        // is 0.25 — one in a few thousand values rounds up across the
        // next microsecond before the floor
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        // timestamp[us] vintage (TimestampType / TimestampNTZType):
        // already the type every downstream event query expects. Cast
        // NTZ→LTZ so window/range arithmetic and the DuckDB oracle
        // (session-TZ-free) agree regardless of reader semantics.
        df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  private val EnStop = TextAnalysis.LangStopwords.head._2

  // -- corpus-mixing constants shared by the Spark queries and their
  // oracle SQL (single source of truth; fractions are dyadic so
  // rate * 1e6 is integer-exact in both engines) --
  private val SampleFracs = Seq("src0" -> 1.0, "src1" -> 0.125, "src2" -> 0.0)
  private val SampleDefaultFrac = 0.25
  private val TokenBudget = 500L

  /** bit_xor signature over the kept doc ids (SQL-side hash56). */
  private val XorIdSig =
    "bit_xor(cast(conv(substring(md5(cast(doc_id as string)), 1, 14)," +
      " 16, 10) as bigint))"

  /** Deterministic synthetic PII appended to the corpus text (the word
    * salad contains none) — same arithmetic emitted as SQL below. */
  private val piiAugment: org.apache.spark.sql.Column = concat(
    col("text"),
    when(col("doc_id") % 5 === 0, concat(lit(" contact user"),
      col("doc_id").cast("string"), lit("@example.com"))).otherwise(lit("")),
    when(col("doc_id") % 7 === 0, concat(lit(" call 555-867-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
    when(col("doc_id") % 11 === 0, concat(lit(" from 10.0."),
      (col("doc_id") % 256).cast("string"), lit(".17"))).otherwise(lit("")))

  /** In real use an ANN index is built once and queried many times; cache
    * the fitted IVF quantizer per (session, dir) so the benched number is
    * query cost, not index-build cost. Swept by [[clearSessionCaches]]
    * (wired into the bench's between-runs sweep like `liWithRowId`). */
  private val ivfCache =
    scala.collection.concurrent.TrieMap.empty[(Int, String), Ann.IvfIndex]
  private def ivfIndex(s: SparkSession, d: String): Ann.IvfIndex =
    ivfCache.getOrElseUpdate((System.identityHashCode(s), d), {
      val emb = t(s, d, "embeddings")
      // cell count sized to the corpus (8 at sf<=0.1, 40 at sf1, ...):
      // a fixed count makes within-cell pair work quadratic in n and
      // caps the pair join's parallelism at nCells tasks
      val idx = Ann.buildIvfIndex(emb, "vec_id", "embedding",
        nCells = Ann.defaultNCells(emb.count()))
      idx.assigned.count() // materialize the cell assignment now
      idx
    })

  /** Bench hook: drop the cached IVF index. */
  def clearSessionCaches(): Unit = {
    ivfCache.values.foreach(_.unpersist())
    ivfCache.clear()
  }

  /** Bench hook: re-materialize the cell assignment of every retained
    * IVF index after the sweep's catalog.clearCache() dropped its data —
    * so the timed search queries measure probe+join+re-rank against a
    * LIVE index (the build-once-search-many contract), while the build
    * itself is timed explicitly by q_ivf_build. */
  def rematerializeIndexes(): Unit =
    ivfCache.values.foreach { idx =>
      idx.assigned.cache()
      idx.assigned.count()
      ()
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- text analysis ----
    "q_doc_stats" -> ((s, d) =>
      t(s, d, "documents").groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          r6(avg(col("n_chars"))).as("avg_chars"),
          r6(avg(TextAnalysis.tokenCount(col("text")))).as("avg_tokens"))
        .orderBy(col("lang"))),

    "q_lang_id" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred"))),

    "q_quality" -> ((s, d) => {
      val score = TextAnalysis.qualityCols(col("text"))
        .find(_._1 == "quality_score").get._2
      t(s, d, "documents").groupBy(col("source"))
        .agg(r6(avg(score)).as("avg_quality"), count(lit(1)).as("n"))
        .orderBy(col("source"))
    }),

    "q_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(
          t(s, d, "documents").filter(col("doc_id") < 50), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // top-20 (doc, term) pairs by smoothed TF-IDF; ordering on the
    // ROUNDED score (+ id/term tiebreak) so both engines pick the same
    // rows at the cutoff
    "q_tfidf_top" -> ((s, d) =>
      Relevance.tfIdf(t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          r6(col("tfidf")).as("tfidf"))
        .orderBy(col("tfidf").desc, col("doc_id"), col("term"))
        .limit(20)),

    "q_bm25" -> ((s, d) =>
      Relevance.bm25(t(s, d, "documents"), "doc_id", "text",
          Seq("spark", "join", "filter"))
        .select(col("doc_id"), r6(col("bm25")).as("bm25"),
          col("n_query_terms"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(15)),

    "q_repetition" -> ((s, d) =>
      TextAnalysis.repetitionStats(
          t(s, d, "documents").filter(col("doc_id") < 50), "doc_id", "text",
          n = 3)
        .select(col("doc_id"), col("total_ngrams"), col("distinct_ngrams"),
          r6(col("rep_ratio")).as("rep_ratio"),
          r6(col("top_share")).as("top_share"))
        .orderBy(col("doc_id"))),

    // ---- dedup family ----
    "q_dedup_exact" -> ((s, d) =>
      t(s, d, "documents").groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          countDistinct(md5(col("text"))).as("n_distinct"))
        .orderBy(col("source"))),

    "q_jaccard_pairs" -> ((s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
          n = 3, threshold = 0.8, maxShingleDf = Some(10000L))
        .select(col("id_a"), col("id_b"), r6(col("jaccard")).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))),

    "q_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 8, threshold = 0.8)
        .select(col("id_a"), col("id_b"), r6(col("jaccard")).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))),

    "q_simhash" -> ((s, d) =>
      Dedup.simhash(t(s, d, "documents").filter(col("doc_id") < 50),
          "doc_id", "text")
        .orderBy(col("doc_id"))),

    "q_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(t(s, d, "documents").filter(col("doc_id") < 50),
          "doc_id", "text", maxHamming = 1)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- similarity search ----
    "q_embed_neardup" -> ((s, d) =>
      Dedup.embeddingNearDupPairs(t(s, d, "embeddings"), "vec_id",
          "embedding", threshold = 0.4)
        .select(col("id_a"), col("id_b"), r6(col("cosine")).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))),

    // sub-quadratic near-dup (IVF cells + exact verify): rows-only (the
    // KMeans quantizer has no SQL oracle); recall/exactness spec-covered
    "q_embed_neardup_ivf" -> ((s, d) =>
      Dedup.embeddingNearDupPairsFromIndex(ivfIndex(s, d), threshold = 0.4)
        .select(col("id_a"), col("id_b"), r6(col("cosine")).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))),

    // the IVF index BUILD, timed on its own (rows-only: KMeans has no
    // SQL oracle; the search side is oracled by q_ann_ivf_grid): drops
    // any cached fit first so every rep pays the full quantizer fit +
    // cell assignment — the one-off cost the search queries amortize
    "q_ivf_build" -> ((s, d) => {
      clearSessionCaches()
      ivfIndex(s, d).assigned
        .groupBy(col("__cell__")).agg(count(lit(1)).as("n_members"))
        .orderBy(col("__cell__"))
    }),

    "q_ann_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Ann.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, "vec_id",
          "embedding", k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          r6(col("cosine")).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "q_ann_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Ann.searchIvf(ivfIndex(s, d), emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          r6(col("cosine")).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // the sub-quadratic ANN shape with a FULL oracle: sign-grid cells
    // (data-independent integer geometry both engines compute
    // identically) instead of the KMeans quantizer, Hamming-ranked
    // probes, exact cosine re-rank inside — q_ann_ivf stays the
    // rows-only production default with recall specs
    "q_ann_ivf_grid" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Ann.gridTopK(emb.filter(col("vec_id") < 10), emb, "vec_id",
          "embedding", k = 5, bits = 6, nProbe = 8)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          r6(col("cosine")).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- PCA over embeddings: the d-dim mean + d x d covariance is ONE
    // Reduce pass, the eigen-solve is driver-side power iteration
    // (d never grows with the data), and the projection is a codegen
    // zip_with/aggregate expression. Pinned 3 rounds from v0 = 1/sqrt(d)
    // so the whole fixpoint replays as SQL; the production fit (more
    // iterations, k > 1 deflation, whitening) is the same pass + driver
    // algebra, covered by EmbeddingsSpec. ----
    "q_pca_power3" -> ((s, d) => {
      val m = Embeddings.fitPca(t(s, d, "embeddings"), "embedding",
        k = 1, iters = 3)
      val rows = m.components(0).toSeq.zipWithIndex.map { case (v, i) =>
        Row(i + 1, Queries.r6d(v), Queries.r6d(m.eigenvalues(0)))
      }
      s.createDataFrame(s.sparkContext.parallelize(rows, 1),
        StructType(Seq(
          StructField("idx", IntegerType),
          StructField("component", DoubleType),
          StructField("eigval", DoubleType)))).orderBy("idx")
    }),

    "q_pca_project" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val m = Embeddings.fitPca(emb, "embedding", k = 1, iters = 3)
      Embeddings.project(emb.filter(col("vec_id") < 20), m, "embedding")
        .select(col("vec_id"), r6(col("pc_0")).as("pc0"))
        .orderBy(col("vec_id"))
    }),

    // data-independent JL sign projection (hash56-derived +-1 matrix —
    // no fit pass; the dimension-reduction step BEFORE ANN/near-dup
    // when the ambient dim is large). Pure codegen, fully SQL-replayable.
    "q_jl_project" -> ((s, d) => {
      val emb = t(s, d, "embeddings").filter(col("vec_id") < 20)
      val out = Embeddings.jlProject(emb, "embedding", k = 8, seed = 42L)
      out.select(col("vec_id") +:
          (0 until 8).map(j => r6(col(s"jl_$j")).as(s"jl_$j")): _*)
        .orderBy(col("vec_id"))
    }),

    // ---- mergeable count-min sketch: per-partition depth x width count
    // grids fold in one Reduce pass (the corpus never shuffles; the
    // driver holds O(depth*width) no matter the corpus size). Exact
    // oracle: Kirsch-Mitzenmacher buckets from hash56 regenerate the
    // identical grid in SQL. Output: the 15 most frequent tokens with
    // exact counts AND sketch estimates (estimates can only overcount).
    "q_countmin" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val cm = Sketches.countMinTokens(docs, "text",
        depth = 4, width = 512, seed = 7L)
      val top = docs
        .select(explode(split(col("text"), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("tok"))
        .limit(15)
        .collect()
      val rows = top.map(r => Row(r.getString(0), r.getLong(1),
        cm.estimate(r.getString(0)))).toSeq
      s.createDataFrame(s.sparkContext.parallelize(rows, 1),
        StructType(Seq(
          StructField("token", StringType),
          StructField("n_exact", LongType),
          StructField("n_est", LongType))))
        .orderBy(col("n_exact").desc, col("token"))
    }),

    // linear-counting distinct-cardinality sketch, all language groups
    // in one bitmap-lane Reduce pass; output pins occupied bits, the
    // collision-corrected estimate AND the exact distinct count
    "q_distinct_sketch" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val counters = Sketches.linearCountTokens(docs, "text", "lang",
        m = 4096, seed = 7L)
      val exact = docs
        .select(col("lang"), explode(split(col("text"), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("lang"))
        .agg(countDistinct(col("tok")).as("n_exact"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val rows = counters.toSeq.sortBy(_._1).map { case (lang, c) =>
        Row(lang, c.occupied.toLong, Queries.r6d(c.estimate), exact(lang))
      }
      s.createDataFrame(s.sparkContext.parallelize(rows, 1),
        StructType(Seq(
          StructField("lang", StringType),
          StructField("occupied", LongType),
          StructField("n_est", DoubleType),
          StructField("n_exact", LongType)))).orderBy("lang")
    }),

    // bloom prefilter (the decontam-at-scale pattern: when the exact
    // benchmark shingle set is too big to broadcast, broadcast O(m)
    // bloom bits instead and exact-verify only the candidates) — the
    // membership test is a pure codegen column over literal bits; the
    // oracle replays every probe's bit arithmetic
    "q_bloom_prefilter" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val benchShingles = Dedup.shingles(
        docs.filter(col("doc_id") < 25), "doc_id", "text", n = 3)
        .select(col("shingle")).distinct()
      val bloom = Sketches.bloomOf(benchShingles, "shingle",
        m = 65536, k = 4, seed = 7L)
      Dedup.shingles(docs.filter(col("doc_id") >= 25 && col("doc_id") < 75),
          "doc_id", "text", n = 3)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(bloom.mightContainCol(col("shingle")), 1L)
            .otherwise(0L)).as("n_candidates"))
        .orderBy(col("doc_id"))
    }),

    // ---- multimodal: REAL image decode (javax.imageio; rows-only —
    // no SQL engine can replay a PNG codec). Payloads are deterministic
    // doc-derived PNGs (the environment ships no image corpus), so the
    // decoded dimensions/histograms are exact functions of the data. ----
    "q_multimodal" -> ((s, d) => {
      val media = Multimodal.synthesizePng(
        t(s, d, "documents").filter(col("doc_id") < 100), "doc_id", "text")
      Multimodal.imageFeatures(media, histBins = 16)
        .select(col("media_id"), col("mime"), col("n_bytes"),
          col("decode_ok"), col("width"), col("height"), col("channels"),
          r6(expr("aggregate(zip_with(luma_hist, sequence(0, size(luma_hist) - 1)," +
            " (v, i) -> v * i), 0D, (a, x) -> a + x)")).as("luma_mean_bin"))
        .orderBy(col("media_id"))
    }),

    // real WAV decode over synthesized audio payloads (rows-only like
    // q_multimodal: a RIFF/PCM codec is not SQL-replayable); the decode
    // itself is golden-pinned in ExtSpec
    "q_multimodal_audio" -> ((s, d) => {
      val media = Multimodal.synthesizeWav(
        t(s, d, "documents").filter(col("doc_id") < 100), "doc_id", "text")
      Multimodal.audioFeatures(media)
        .select(col("media_id"), col("mime"), col("n_bytes"),
          col("decode_ok"), col("sample_rate"), col("channels"),
          col("n_frames"), r6(col("duration_sec")).as("duration_sec"),
          r6(col("rms")).as("rms"), r6(col("zcr")).as("zcr"),
          r6(col("peak")).as("peak"))
        .orderBy(col("media_id"))
    }),

    // real ISO-BMFF container parsing over synthesized MP4 payloads
    // (rows-only like its siblings: box walking is byte arithmetic no
    // SQL engine replays); the parser is golden-pinned in ExtSpec
    "q_multimodal_video" -> ((s, d) => {
      val media = Multimodal.synthesizeMp4(
        t(s, d, "documents").filter(col("doc_id") < 100), "doc_id", "text")
      Multimodal.videoMetadata(media)
        .select(col("media_id"), col("mime"), col("n_bytes"),
          col("parse_ok"), col("major_brand"), col("timescale"),
          r6(col("duration_sec")).as("duration_sec"), col("n_tracks"),
          concat_ws(",", col("track_types")).as("track_types"),
          concat_ws(",", col("codecs")).as("codecs"),
          col("width"), col("height"))
        .orderBy(col("media_id"))
    }),

    // ---- near-dup clustering: connected components (large-star /
    // small-star) over the exact-Jaccard pair list, every doc assigned
    // the minimum doc id of its component, one canonical doc kept ----
    "q_dedup_clusters" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.8, maxShingleDf = Some(10000L))
      Cluster.assignClusters(docs, "doc_id",
          pairs.select(col("id_a"), col("id_b")))
        .select(col("doc_id"), col("cluster_id"),
          col("is_canonical").cast("int").as("is_canonical"))
        .orderBy(col("doc_id"))
    }),

    // ---- as-of join: each click aligned to the user's most recent
    // view at-or-before it (the right side pre-reduced to one row per
    // (user, ts) so tie policy is explicit in both engines) ----
    "q_asof" -> ((s, d) => {
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("view_value"))
      AsOf.joinBackward(clicks, views, Seq("user_id"), "ts", "ts",
          payload = Seq("view_value"))
        // microseconds, not millis: the synthetic ts is µs-precision and
        // Spark's unix_millis ROUNDS where DuckDB's epoch_ms truncates
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("click_us"),
          unix_micros(col("ts_asof")).as("view_us"),
          r6(col("view_value_asof")).as("view_value"),
          (unix_micros(col("ts")) - unix_micros(col("ts_asof"))).as("gap_us"))
        .orderBy(col("event_id"))
    }),

    // ---- interval join: errors within 4h after each purchase, per
    // user (bucketed equi-join; the oracle is the naive range join) ----
    "q_range_join" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("err_ts"), col("value"))
      RangeJoin.intervalJoin(purchases, errors, Seq("user_id"),
          "ts", "err_ts", 0.0, 14400.0, payload = Seq("value"))
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_errors"),
          r6(sum(col("value_r"))).as("sum_err_value"),
          min(unix_micros(col("err_ts_r")) - unix_micros(col("ts")))
            .as("first_gap_us"))
        .orderBy(col("event_id"))
    }),

    // ---- deterministic corpus mixing: per-stratum hash sampling and
    // token-budget downsampling (id_sig pins exact MEMBERSHIP, not just
    // counts) ----
    "q_stratified_sample" -> ((s, d) => {
      val kept = Sampling.stratifiedHashSample(t(s, d, "documents"),
        "doc_id", "source", SampleFracs.toMap, SampleDefaultFrac)
      kept.groupBy(col("source"))
        .agg(count(lit(1)).as("n"), expr(XorIdSig).as("id_sig"))
        .orderBy(col("source"))
    }),

    "q_token_budget" -> ((s, d) =>
      Sampling.tokenBudgetSample(t(s, d, "documents"), "doc_id", "source",
          "text", budget = TokenBudget)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long"))
            .as("n_tokens"),
          expr(XorIdSig).as("id_sig"))
        .orderBy(col("source"))),

    // top-5 docs per source by ROUNDED quality score (rounding-stable
    // ordering, so membership is exact across engines)
    "q_topk_quality" -> ((s, d) => {
      val score = TextAnalysis.qualityCols(col("text"))
        .find(_._1 == "quality_score").get._2
      val scored = t(s, d, "documents")
        .withColumn("quality", r6(score))
      // shards = 4 exercises the two-phase scale path against the oracle
      Sampling.topKByScore(scored, "doc_id", "source", col("quality"),
          k = 5, shards = 4)
        .select(col("source"), col("doc_id"), col("quality"))
        .orderBy(col("source"), col("quality").desc, col("doc_id"))
    }),

    // ---- PII redaction: deterministic synthetic PII injected (the
    // corpus has none), then counted and redacted; red_sig pins the
    // redacted TEXT byte-for-byte across engines ----
    "q_pii_scrub" -> ((s, d) => {
      val aug = t(s, d, "documents").withColumn("__t2__", piiAugment)
      val cnts = TextAnalysis.piiCounts(col("__t2__"))
      aug.select(col("source") +: (cnts.map { case (n, c) => c.as(n) } :+
          TextAnalysis.redactPii(col("__t2__")).as("__red__")): _*)
        .groupBy(col("source"))
        .agg(sum(col("n_email")).as("n_email"),
          sum(col("n_phone")).as("n_phone"),
          sum(col("n_ip")).as("n_ip"),
          expr("bit_xor(cast(conv(substring(md5(__red__), 1, 14), 16, 10)" +
            " as bigint))").as("red_sig"))
        .orderBy(col("source"))
    }),

    // ---- training-sequence packing: concat-and-chunk over 4 hash
    // shards, 64-token sequences; pure integer algebra, so the oracle
    // match is exact (no FP rounding anywhere) ----
    "q_seq_pack" -> ((s, d) =>
      SeqPack.pack(t(s, d, "documents"), "doc_id", "text",
          maxTokens = 64, numShards = 4)
        .orderBy(col("doc_id"), col("seq"))),

    // ---- corpus bigram LM perplexity (CCNet-style quality filter):
    // add-1 smoothed bigram model trained on the corpus itself ----
    "q_lm_perplexity" -> ((s, d) =>
      LangModel.bigramScore(t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"),
          r6(col("avg_nll")).as("avg_nll"), r6(col("ppl")).as("ppl"))
        .orderBy(col("doc_id"))),

    // ---- reference-vs-rest quality classifier (GPT-3/CCNet design):
    // pinned 5-iteration logit of P(source = src0 | quality, length),
    // keep rule = rounded score >= rounded corpus mean (grid-aligned,
    // so kept MEMBERSHIP is exact across engines) ----
    "q_quality_classifier" -> ((s, d) => {
      val qScore = TextAnalysis.qualityCols(col("text"))
        .find(_._1 == "quality_score").get._2
      val feats = Seq(
        "__f_q__" -> qScore,
        "__f_nt__" ->
          (TextAnalysis.tokenCount(col("text")).cast("double") / 100.0))
      val (scored, _, _) = QualityClassifier.scoreAndFilter(
        t(s, d, "documents"), col("source") === "src0", feats,
        maxIter = 5, tol = 0.0)
      scored.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__quality_keep__"), 1L).otherwise(0L)).as("n_kept"),
          r6(avg(round(col("__quality_p__"), 6))).as("avg_p"),
          expr("bit_xor(CASE WHEN __quality_keep__ THEN " +
            "cast(conv(substring(md5(cast(doc_id as string)), 1, 14)," +
            " 16, 10) as bigint) ELSE 0 END)").as("kept_sig"))
        .orderBy(col("source"))
    }),

    // ---- benchmark decontamination: a deterministic 1/47 hash slice
    // plays the eval benchmark; corpus docs sharing any 4-token shingle
    // with it are flagged (broadcast-join, corpus never shuffled) ----
    "q_decontam" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val isBench = pmod(TextAnalysis.hash56(col("doc_id").cast("string")),
        lit(47L)) === 0L
      val bench = docs.filter(isBench)
        .select(col("doc_id").as("bench_id"), col("text"))
      Decontam.flagContaminated(docs.filter(!isBench), "doc_id", "text",
          bench, "bench_id", "text", n = 4)
        .orderBy(col("doc_id"))
    }),

    // ---- events / streaming-safe window aggregation ----
    "q_events_window" -> ((s, d) =>
      Streams.windowedEventStats(events(s, d))
        .select(col("window_start"), col("event_type"), col("n_events"),
          round(col("sum_value"), 2).as("sum_value"),
          // avg derived from the ROUNDED sum: both engines then divide
          // bit-identical doubles, so no rounding-boundary races
          round(round(col("sum_value"), 2) / col("n_events"), 6).as("avg_value"))
        .orderBy(col("window_start"), col("event_type"))),

    "q_events_gap" -> ((s, d) =>
      Streams.windowedGroupGap(events(s, d), "event_type", "click", "view",
          "value")
        .select(col("window_start"), round(col("gap"), 4).as("gap"),
          col("n_a"), col("n_b"))
        .orderBy(col("window_start"))),

    "q_sessions" -> ((s, d) =>
      Streams.sessionCounts(events(s, d), gap = "30 minutes")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          max(col("n_events")).as("max_session_events"))
        .orderBy(col("user_id")))
  )

  // ---------------------------------------------------------------------
  // oracle SQL
  // ---------------------------------------------------------------------

  /** hash56 in DuckDB. */
  private def h56(e: String) = s"(('0x' || substr(md5($e), 1, 14))::BIGINT)"

  private val tokensCte =
    """toks AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents
      |)""".stripMargin

  /** Distinct 3-gram shingles per doc (matches Dedup.shingles). */
  private val shinglesCte =
    """sh AS (
      |  SELECT DISTINCT doc_id, s AS shingle FROM (
      |    SELECT doc_id, unnest(list_transform(range(len(tk) - 2),
      |      i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS s
      |    FROM toks WHERE len(tk) >= 3
      |  ) WHERE s <> ''
      |)""".stripMargin

  private val jaccardCte =
    s"""WITH $tokensCte, $shinglesCte,
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
       |  FROM sh a JOIN sh b USING (shingle)
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
       |), jac AS (
       |  SELECT id_a, id_b, i * 1.0 / (x.sz + y.sz - i) AS jaccard
       |  FROM inter JOIN sz x ON x.doc_id = id_a JOIN sz y ON y.doc_id = id_b
       |)""".stripMargin

  private val langCases = TextAnalysis.LangStopwords.map { case (l, ws) =>
    l -> s"len(regexp_extract_all(lower(text), '\\b(${ws.mkString("|")})\\b'))"
  }

  private val langPredExpr = {
    val m = s"greatest(${langCases.map(_._2).mkString(", ")})"
    val cases = langCases.map { case (l, e) =>
      s"WHEN $e = __m AND __m > 0 THEN '$l'"
    }.mkString(" ")
    (s"CASE $cases ELSE 'und' END", m)
  }

  private val qualityExpr = {
    val nChars = "CAST(length(text) AS DOUBLE)"
    val nTokens = s"CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE)"
    val nPunct = s"CAST(len(regexp_extract_all(text, '[,.;:!?]')) AS DOUBLE)"
    val nStop = s"CAST(len(regexp_extract_all(lower(text), '\\b(${EnStop.mkString("|")})\\b')) AS DOUBLE)"
    val punctRatio = s"(CASE WHEN $nChars > 0 THEN $nPunct / $nChars ELSE 0.0 END)"
    val stopRatio = s"(CASE WHEN $nTokens > 0 THEN $nStop / $nTokens ELSE 0.0 END)"
    s"""(0.4 * least($nChars / 200.0, 1.0)
       | + 0.3 * least($stopRatio * 4.0, 1.0)
       | + 0.3 * (1.0 - least($punctRatio * 10.0, 1.0)))""".stripMargin
  }

  /** SimHash SQL generated from the same constants as Dedup.simhash. */
  /** Sign-grid IVF (see the q_ann_ivf_grid entry): cell id from the
    * sign bits of the first 6 dimensions, nProbe = 8 non-empty cells
    * ranked by Hamming distance (ties by cell id), exact cosine top-5
    * re-rank among their members — `Ann.gridTopK` replayed verbatim. */
  private val annIvfGridSql = {
    val cellExpr = (0 until 6)
      .map(j => s"(CASE WHEN embedding[${j + 1}]::DOUBLE > 0.0" +
        s" THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH gc AS (
       |  SELECT vec_id, embedding, $cellExpr AS cell FROM embeddings
       |),
       |cells AS (SELECT DISTINCT cell FROM gc),
       |qc AS (
       |  SELECT vec_id AS query_id, embedding AS qemb, cell AS qcell
       |  FROM gc WHERE vec_id < 10
       |),
       |probed AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, c.cell,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY bit_count(CAST(xor(q.qcell, c.cell) AS BIGINT)),
       |          c.cell) AS crank
       |    FROM qc q CROSS JOIN cells c
       |  ) WHERE crank <= 8
       |),
       |cand AS (
       |  SELECT p.query_id, g.vec_id AS neighbor_id,
       |    list_cosine_similarity(q.qemb::DOUBLE[],
       |      g.embedding::DOUBLE[]) AS cosine
       |  FROM probed p
       |  JOIN gc g ON g.cell = p.cell
       |  JOIN qc q ON q.query_id = p.query_id
       |  WHERE g.vec_id <> p.query_id
       |)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
       |  round(cosine, 6) AS cosine
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY cosine DESC, neighbor_id) AS rank FROM cand)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** `Embeddings.fitPca(k = 1, iters = 3)` replayed verbatim: population
    * covariance of the 64-dim embeddings via a lateral range expansion,
    * then the pinned power iteration — same v0 = 1/sqrt(64), same
    * per-round normalization, same final Rayleigh quotient. */
  private val pcaCte = {
    def iter(k: Int): String = {
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"""w$k AS (
         |  SELECT cov.i, sum(cov.c * $prev.v) AS w
         |  FROM cov JOIN $prev ON $prev.i = cov.j GROUP BY cov.i
         |), v$k AS (
         |  SELECT i, w / sqrt((SELECT sum(w * w) FROM w$k)) AS v FROM w$k
         |)""".stripMargin
    }
    s"""WITH e AS (
       |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
       |    embedding[t.i]::DOUBLE AS x
       |  FROM embeddings, range(1, 65) t(i)
       |),
       |mu AS (SELECT i, avg(x) AS mu FROM e GROUP BY i),
       |m2 AS (
       |  SELECT a.i AS i, b.i AS j, sum(a.x * b.x) / count(*) AS m2
       |  FROM e a JOIN e b USING (vec_id) GROUP BY a.i, b.i
       |),
       |cov AS (
       |  SELECT m2.i, m2.j, m2.m2 - ma.mu * mb.mu AS c
       |  FROM m2 JOIN mu ma ON ma.i = m2.i JOIN mu mb ON mb.i = m2.j
       |),
       |v0 AS (SELECT i, 1.0 / sqrt(64.0) AS v FROM mu),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}""".stripMargin
  }

  private val pcaPower3Sql =
    s"""$pcaCte,
       |lam AS (
       |  SELECT sum(va.v * cov.c * vb.v) AS l
       |  FROM cov JOIN v3 va ON va.i = cov.i JOIN v3 vb ON vb.i = cov.j
       |)
       |SELECT i AS idx, round(v, 6) + 0.0 AS component,
       |  round((SELECT l FROM lam), 6) + 0.0 AS eigval
       |FROM v3 ORDER BY idx""".stripMargin

  private val pcaProjectSql =
    s"""$pcaCte
       |SELECT e.vec_id, round(sum((e.x - mu.mu) * v3.v), 6) + 0.0 AS pc0
       |FROM e JOIN mu ON mu.i = e.i JOIN v3 ON v3.i = e.i
       |WHERE e.vec_id < 20
       |GROUP BY e.vec_id ORDER BY e.vec_id""".stripMargin

  /** `Embeddings.jlProject(k = 8, seed = 42)` replayed: the +-1 matrix
    * regenerates from md5('jl:42:j:i') exactly as jlSignMatrix builds
    * it, and the scale multiplies by (1.0 / sqrt(8)) — the same
    * precomputed-reciprocal arithmetic as the Spark expression. */
  private val jlProjectSql = {
    val lanes = (0 until 8).map(j =>
      s"round(sum(CASE WHEN s.j = $j THEN e.x * s.sgn END)" +
        s" * (1.0 / sqrt(8.0)), 6) + 0.0 AS jl_$j").mkString(",\n  ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
       |    embedding[t.i]::DOUBLE AS x
       |  FROM embeddings, range(1, 65) t(i)
       |  WHERE vec_id < 20
       |),
       |s AS (
       |  SELECT CAST(t.i AS INTEGER) AS i, CAST(u.j AS INTEGER) AS j,
       |    CASE WHEN ${h56(s"'jl:42:' || u.j || ':' || (t.i - 1)")} % 2 = 0
       |      THEN 1.0 ELSE -1.0 END AS sgn
       |  FROM range(1, 65) t(i), range(0, 8) u(j)
       |)
       |SELECT e.vec_id,
       |  $lanes
       |FROM e JOIN s ON s.i = e.i
       |GROUP BY e.vec_id ORDER BY e.vec_id""".stripMargin
  }

  /** `Sketches.countMinTokens(depth=4, width=512, seed=7)` replayed:
    * same tokenization, same md5-derived Kirsch-Mitzenmacher buckets,
    * grid cells rebuilt by a (occurrence x depth-row) GROUP BY, the
    * estimate as the min over the 4 bucketed cells. */
  private val countMinSql = {
    val h = h56("'cm:7:' || tok")
    s"""WITH occ AS (
       |  SELECT tok, $h % 268435456 AS h1, $h // 268435456 AS h2
       |  FROM (
       |    SELECT unnest(string_split_regex(text, '\\s+')) AS tok
       |    FROM documents
       |  ) WHERE tok <> ''
       |),
       |cells AS (
       |  SELECT r.r, (h1 + r.r * h2) % 512 AS b, count(*) AS c
       |  FROM occ, range(0, 4) r(r)
       |  GROUP BY 1, 2
       |),
       |top AS (
       |  SELECT tok, count(*) AS n_exact FROM occ
       |  GROUP BY 1 ORDER BY n_exact DESC, tok LIMIT 15
       |),
       |keys AS (SELECT DISTINCT tok, h1, h2 FROM occ)
       |SELECT t.tok AS token, t.n_exact, min(c.c) AS n_est
       |FROM top t
       |JOIN keys k ON k.tok = t.tok
       |CROSS JOIN range(0, 4) r(r)
       |JOIN cells c ON c.r = r.r AND c.b = (k.h1 + r.r * k.h2) % 512
       |GROUP BY 1, 2
       |ORDER BY n_exact DESC, token""".stripMargin
  }

  /** `Sketches.bloomOf(m=65536, k=4, seed=7)` + `mightContainCol`
    * replayed: the benchmark's occupied-bit SET from all (shingle,
    * probe) pairs, then a corpus shingle passes iff NO probe lands
    * outside it — identical Kirsch-Mitzenmacher arithmetic. */
  private val bloomPrefilterSql = {
    def sh(pred: String, alias: String): String =
      s"""$alias AS (
         |  SELECT DISTINCT doc_id, s AS shingle FROM (
         |    SELECT doc_id, unnest(list_transform(range(len(tk) - 2),
         |      i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS s
         |    FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS tk
         |          FROM documents WHERE $pred)
         |    WHERE len(tk) >= 3
         |  ) WHERE s <> ''
         |)""".stripMargin
    val h = h56("'bf:7:' || shingle")
    s"""WITH ${sh("doc_id < 25", "bsh")},
       |${sh("doc_id >= 25 AND doc_id < 75", "csh")},
       |bbits AS (
       |  SELECT DISTINCT (h1 + r.r * h2) % 65536 AS b
       |  FROM (SELECT DISTINCT $h % 268435456 AS h1, $h // 268435456 AS h2
       |        FROM bsh), range(0, 4) r(r)
       |),
       |ckeys AS (
       |  SELECT shingle, $h % 268435456 AS h1, $h // 268435456 AS h2
       |  FROM (SELECT DISTINCT shingle FROM csh)
       |),
       |cpass AS (
       |  SELECT shingle FROM ckeys k
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM range(0, 4) r(r)
       |    WHERE (k.h1 + r.r * k.h2) % 65536 NOT IN (SELECT b FROM bbits)
       |  )
       |)
       |SELECT doc_id, count(*) AS n_shingles,
       |  CAST(sum(CASE WHEN shingle IN (SELECT shingle FROM cpass)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates
       |FROM csh GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  private val simhashSql = {
    val bitSums = (0 until 16).map(b =>
      s"sum(((__h >> $b) & 1) * 2 - 1) AS s_$b").mkString(",\n    ")
    val sig = (0 until 16).map(b =>
      s"(CASE WHEN s_$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""WITH toks0 AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
       |    FROM documents WHERE doc_id < 50
       |  ) WHERE tok <> ''
       |), h AS (
       |  SELECT doc_id, ${h56("tok")} AS __h FROM toks0
       |), bits AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM h GROUP BY doc_id
       |)
       |SELECT doc_id, CAST($sig AS BIGINT) AS simhash
       |FROM bits ORDER BY doc_id""".stripMargin
  }

  /** SimHash near-dup pairs: the oracle verifies the banded Spark plan
    * against a direct all-pairs Hamming filter over the same signatures
    * (pigeonhole banding is lossless, so the two must agree exactly). */
  private val simhashPairsSql = {
    val bitSums = (0 until 16).map(b =>
      s"sum(((__h >> $b) & 1) * 2 - 1) AS s_$b").mkString(",\n    ")
    val sig = (0 until 16).map(b =>
      s"(CASE WHEN s_$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""WITH toks0 AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
       |    FROM documents WHERE doc_id < 50
       |  ) WHERE tok <> ''
       |), h AS (
       |  SELECT doc_id, ${h56("tok")} AS __h FROM toks0
       |), bits AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM h GROUP BY doc_id
       |), sig AS (
       |  SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM bits
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** MinHash+LSH SQL generated from the same constants (16 hashes, 8
    * bands of 2). */
  private val minhashSql = {
    // Carter-Wegman family, mirroring Dedup.minhashSignatures exactly:
    // two md5-derived bases per shingle, affine combinations mod 2^56
    val mins = (0 until 16).map(j =>
      s"min((h1 + $j * h2) % ${Dedup.MinhashMod}) AS mh_$j")
      .mkString(",\n    ")
    val bandRows = (0 until 8).map { b =>
      val ks = Seq(2 * b, 2 * b + 1).map(r => s"mh_$r").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws('_', $ks)) AS bkey FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""$jaccardCte, sigs AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM (SELECT doc_id, ${h56("'a:' || shingle")} AS h1,
       |          ${h56("'b:' || shingle")} AS h2 FROM sh)
       |  GROUP BY doc_id
       |), banded AS (
       |  $bandRows
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
       |)
       |SELECT c.id_a, c.id_b, round(j.jaccard, 6) AS jaccard
       |FROM cand c JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
       |WHERE j.jaccard >= 0.8
       |ORDER BY c.id_a, c.id_b""".stripMargin
  }

  /** Recursive-CTE connected components over the >= 0.8 Jaccard pairs:
    * min reachable doc id per doc (docs in no pair reach only
    * themselves). Exact fixpoint — matches the large-star/small-star
    * result regardless of either side's iteration schedule. */
  private val dedupClustersSql =
    jaccardCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """,
        |p AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.8),
        |e AS (SELECT id_a AS u, id_b AS v FROM p
        |      UNION SELECT id_b, id_a FROM p),
        |reach(u, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON reach.u = e.v
        |)
        |SELECT u AS doc_id, min(r) AS cluster_id,
        |  CAST(u = min(r) AS INT) AS is_canonical
        |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin

  private val sampleCaseSql = {
    val whens = SampleFracs.map { case (k, f) =>
      s"WHEN '$k' THEN ${(f * 1000000).toLong}"
    }.mkString(" ")
    s"(CASE source $whens ELSE ${(SampleDefaultFrac * 1000000).toLong} END)"
  }

  private val piiAugSql =
    """text ||
      |  CASE WHEN doc_id % 5 = 0 THEN ' contact user' ||
      |    CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
      |  CASE WHEN doc_id % 7 = 0 THEN ' call 555-867-' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
      |  CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.' ||
      |    CAST(doc_id % 256 AS VARCHAR) || '.17' ELSE '' END""".stripMargin

  /** PII counting + redaction SQL generated from the SAME pattern table
    * as the Spark side (TextAnalysis.PiiPatterns). */
  private val piiScrubSql = {
    val cnts = TextAnalysis.PiiPatterns.map { case (name, re, _) =>
      s"len(regexp_extract_all(t2, '$re')) AS n_$name"
    }.mkString(",\n    ")
    val red = TextAnalysis.PiiPatterns.foldLeft("t2") {
      case (acc, (_, re, repl)) => s"regexp_replace($acc, '$re', '$repl', 'g')"
    }
    s"""WITH aug AS (SELECT source, $piiAugSql AS t2 FROM documents),
       |red AS (
       |  SELECT source,
       |    $cnts,
       |    $red AS red
       |  FROM aug
       |)
       |SELECT source, CAST(sum(n_email) AS BIGINT) AS n_email,
       |  CAST(sum(n_phone) AS BIGINT) AS n_phone,
       |  CAST(sum(n_ip) AS BIGINT) AS n_ip,
       |  bit_xor(${h56("red")}) AS red_sig
       |FROM red GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Pinned-5-iteration reference-vs-rest logit over document features
    * (x1 = quality score, x2 = token count / 100), scored with the
    * engine's exact probability clamp, keep rule on the 1e-6 grid. */
  private val qualityClassifierSql = {
    val x2 = "CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) / 100.0"
    s"""WITH pts AS (
       |  SELECT doc_id, source, $qualityExpr AS x1, $x2 AS x2,
       |    CASE WHEN source = 'src0' THEN 1.0 ELSE 0.0 END AS y
       |  FROM documents
       |), it0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
       |${Queries.logitNewtonStep(1)},
       |${Queries.logitNewtonStep(2)},
       |${Queries.logitNewtonStep(3)},
       |${Queries.logitNewtonStep(4)},
       |${Queries.logitNewtonStep(5)},
       |scored AS (
       |  SELECT doc_id, source,
       |    round(greatest(least(
       |      1.0 / (1.0 + exp(-(b.b0 + b.b1 * x1 + b.b2 * x2))),
       |      1.0 - 1e-10), 1e-10), 6) AS p
       |  FROM pts CROSS JOIN it5 b
       |), thr AS (SELECT round(avg(p), 6) AS tv FROM scored)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN p >= tv THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  round(avg(p), 6) AS avg_p,
       |  bit_xor(CASE WHEN p >= tv
       |    THEN ${h56("CAST(doc_id AS VARCHAR)")} ELSE 0 END) AS kept_sig
       |FROM scored CROSS JOIN thr GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q_dedup_clusters" -> dedupClustersSql,

    "q_seq_pack" ->
      s"""WITH t0 AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS nt,
         |    ${h56("CAST(doc_id AS VARCHAR)")} % 4 AS shard
         |  FROM documents
         |), nz AS (SELECT * FROM t0 WHERE nt > 0),
         |c AS (
         |  SELECT *, COALESCE(sum(nt) OVER (PARTITION BY shard
         |    ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS s0
         |  FROM nz
         |)
         |SELECT doc_id, shard, seq,
         |  GREATEST(seq * 64 - s0, 0) AS tok_from,
         |  LEAST((seq + 1) * 64, s0 + nt) - s0 AS tok_to
         |FROM c, UNNEST(generate_series(CAST(s0 // 64 AS BIGINT),
         |  CAST((s0 + nt - 1) // 64 AS BIGINT))) AS u(seq)
         |ORDER BY doc_id, seq""".stripMargin,

    "q_lm_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(ts) AS tok,
        |    unnest(generate_series(1, len(ts))) AS ord
        |  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS ts
        |        FROM documents)
        |), bi AS (
        |  SELECT doc_id,
        |    lag(tok) OVER (PARTITION BY doc_id ORDER BY ord) AS w1,
        |    tok AS w2
        |  FROM toks QUALIFY w1 IS NOT NULL
        |), uni AS (SELECT tok AS w, count(*) AS cu FROM toks GROUP BY 1),
        |bc AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
        |v AS (SELECT count(*) AS vocab FROM uni)
        |SELECT bi.doc_id, count(*) AS n_bigrams,
        |  round(avg(ln((uni.cu + 1.0 * v.vocab) / (bc.cb + 1.0))), 6)
        |    AS avg_nll,
        |  round(exp(avg(ln((uni.cu + 1.0 * v.vocab) / (bc.cb + 1.0)))), 6)
        |    AS ppl
        |FROM bi JOIN bc ON bi.w1 = bc.w1 AND bi.w2 = bc.w2
        |  JOIN uni ON bi.w1 = uni.w CROSS JOIN v
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_quality_classifier" -> qualityClassifierSql,

    "q_decontam" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS tk,
         |    ${h56("CAST(doc_id AS VARCHAR)")} % 47 = 0 AS is_bench
         |  FROM documents
         |), sh AS (
         |  SELECT DISTINCT doc_id, is_bench, s AS shingle FROM (
         |    SELECT doc_id, is_bench, unnest(list_transform(range(len(tk) - 3),
         |      i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS s
         |    FROM toks WHERE len(tk) >= 4
         |  ) WHERE s <> ''
         |)
         |SELECT a.doc_id, count(*) AS n_hits,
         |  count(DISTINCT b.doc_id) AS n_bench_docs,
         |  min(b.doc_id) AS first_bench_doc
         |FROM sh a JOIN sh b USING (shingle)
         |WHERE NOT a.is_bench AND b.is_bench
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_asof" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'click'
        |), views AS (
        |  SELECT user_id, ts, arg_max(value, event_id) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2
        |)
        |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS click_us,
        |  epoch_us(v.ts) AS view_us, round(v.view_value, 6) AS view_value,
        |  epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND v.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin,

    "q_range_join" ->
      """SELECT p.event_id, count(*) AS n_errors,
        |  round(sum(e.value), 6) AS sum_err_value,
        |  min(epoch_us(e.ts) - epoch_us(p.ts)) AS first_gap_us
        |FROM events p JOIN events e
        |  ON e.user_id = p.user_id
        |  AND p.event_type = 'purchase' AND e.event_type = 'error'
        |  AND epoch_us(e.ts) >= epoch_us(p.ts)
        |  AND epoch_us(e.ts) <= epoch_us(p.ts) + 14400000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_stratified_sample" ->
      s"""WITH kept AS (
         |  SELECT doc_id, source FROM documents
         |  WHERE ${h56("'graft:' || CAST(doc_id AS VARCHAR)")} % 1000000
         |    < $sampleCaseSql
         |)
         |SELECT source, count(*) AS n,
         |  bit_xor(${h56("CAST(doc_id AS VARCHAR)")}) AS id_sig
         |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_token_budget" ->
      s"""WITH t0 AS (
         |  SELECT doc_id, source,
         |    len(regexp_extract_all(text, '\\S+')) AS nt,
         |    ${h56("CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents
         |), c AS (
         |  SELECT *, sum(nt) OVER (PARTITION BY source ORDER BY h, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t0
         |)
         |SELECT source, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens,
         |  bit_xor(h) AS id_sig
         |FROM c WHERE cum <= $TokenBudget GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_pii_scrub" -> piiScrubSql,

    "q_topk_quality" ->
      s"""WITH scored AS (
         |  SELECT source, doc_id, round($qualityExpr, 6) AS quality
         |  FROM documents
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY source
         |    ORDER BY quality DESC, doc_id) AS rk
         |  FROM scored
         |)
         |SELECT source, doc_id, quality FROM ranked WHERE rk <= 5
         |ORDER BY source, quality DESC, doc_id""".stripMargin,

    "q_doc_stats" ->
      """SELECT lang, count(*) AS n, round(avg(n_chars), 6) AS avg_chars,
        |  round(avg(len(regexp_extract_all(text, '\S+'))), 6) AS avg_tokens
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_lang_id" -> {
      val (caseExpr, maxExpr) = langPredExpr
      s"""SELECT lang, lang_pred, count(*) AS n FROM (
         |  SELECT lang, $caseExpr AS lang_pred FROM (
         |    SELECT lang, text, $maxExpr AS __m FROM documents
         |  )
         |) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    "q_quality" ->
      s"""SELECT source, round(avg($qualityExpr), 6) AS avg_quality,
         |  count(*) AS n
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_fingerprint" ->
      s"""SELECT doc_id, bit_xor(${h56("tok")}) AS fingerprint FROM (
         |  SELECT DISTINCT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
         |  FROM documents WHERE doc_id < 50
         |) WHERE tok <> '' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // smoothed TF-IDF (sklearn-style): tf/dl * (ln((N+1)/(df+1)) + 1);
    // arithmetic written in the same order as Relevance.tfIdf so the
    // doubles match bit-for-bit before rounding
    "q_tfidf_top" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
        |  FROM documents
        |), t2 AS (SELECT doc_id, term FROM t WHERE term <> ''),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t2 GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
        |SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |  round((CAST(tf.tf AS DOUBLE) / dl.dl) *
        |    (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0), 6) AS tfidf
        |FROM tf
        |JOIN dl ON dl.doc_id = tf.doc_id
        |JOIN dfreq ON dfreq.term = tf.term, n
        |ORDER BY tfidf DESC, tf.doc_id, tf.term LIMIT 20""".stripMargin,

    // Okapi BM25 for query terms (spark, join, filter), k1=1.2, b=0.75;
    // avgdl = exact integer token total / doc count, as in Relevance.bm25
    "q_bm25" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
        |  FROM documents
        |), t2 AS (SELECT doc_id, term FROM t WHERE term <> ''),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t2 GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |avgdl AS (SELECT CAST(sum(dl) AS DOUBLE) /
        |  (SELECT n FROM n) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM t2
        |  WHERE term IN ('spark', 'join', 'filter') GROUP BY 1, 2
        |), dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id,
        |    ln(1.0 + (n.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) *
        |      (tf.tf * (1.2 + 1.0)) /
        |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl.avgdl))
        |      AS term_score
        |  FROM tf
        |  JOIN dl ON dl.doc_id = tf.doc_id
        |  JOIN dfreq ON dfreq.term = tf.term, n, avgdl
        |)
        |SELECT doc_id, round(sum(term_score), 6) AS bm25,
        |  count(*) AS n_query_terms
        |FROM scored GROUP BY 1
        |ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin,

    // 3-gram repetition profile (degenerate-text screen)
    "q_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS tk
        |  FROM documents WHERE doc_id < 50
        |), g AS (
        |  SELECT doc_id, unnest(list_transform(range(len(tk) - 2),
        |    i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS gram
        |  FROM toks WHERE len(tk) >= 3
        |), g2 AS (SELECT doc_id, gram FROM g WHERE gram <> ''),
        |c AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS total_ngrams,
        |  count(*) AS distinct_ngrams,
        |  round(1.0 - CAST(count(*) AS DOUBLE) / sum(c), 6) AS rep_ratio,
        |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_share
        |FROM c GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT source, count(*) AS n, count(DISTINCT md5(text)) AS n_distinct
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_jaccard_pairs" -> (jaccardCte +
      """
        |SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM jac
        |WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin),

    "q_minhash_lsh" -> minhashSql,

    "q_simhash" -> simhashSql,

    "q_simhash_pairs" -> simhashPairsSql,

    "q_embed_neardup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[],
        |    b.embedding::DOUBLE[]), 6) AS cosine
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.embedding::DOUBLE[],
        |    b.embedding::DOUBLE[]) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    "q_ann_topk" ->
      """SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
        |  round(cosine, 6) AS cosine FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.embedding::DOUBLE[],
        |      c.embedding::DOUBLE[]) AS cosine,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_cosine_similarity(q.embedding::DOUBLE[],
        |        c.embedding::DOUBLE[]) DESC, c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
        |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_ann_ivf_grid" -> annIvfGridSql,

    "q_pca_power3" -> pcaPower3Sql,

    "q_pca_project" -> pcaProjectSql,

    "q_jl_project" -> jlProjectSql,

    "q_countmin" -> countMinSql,

    "q_bloom_prefilter" -> bloomPrefilterSql,

    // linear counting: occupied = distinct occupied buckets; estimate
    // m ln(m/empty) (ln agrees across engines well inside 6 decimals)
    "q_distinct_sketch" ->
      s"""WITH occ AS (
         |  SELECT lang, tok, ${h56("'lc:7:' || tok")} % 4096 AS b
         |  FROM (
         |    SELECT lang, unnest(string_split_regex(text, '\\s+')) AS tok
         |    FROM documents
         |  ) WHERE tok <> ''
         |)
         |SELECT lang,
         |  count(DISTINCT b) AS occupied,
         |  round(4096 * ln(4096.0 / (4096 - count(DISTINCT b))), 6) AS n_est,
         |  count(DISTINCT tok) AS n_exact
         |FROM occ GROUP BY lang ORDER BY lang""".stripMargin,

    "q_events_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value,
        |  round(round(sum(value), 2) / count(*), 6) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_events_gap" ->
      """SELECT date_trunc('hour', ts) AS window_start,
        |  round(avg(CASE WHEN event_type = 'click' THEN value END)
        |    - avg(CASE WHEN event_type = 'view' THEN value END), 4) AS gap,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // gaps-and-islands session equivalent of session_window(ts, 30 min):
    // a new session starts when the gap from the previous event is >= 30
    // minutes (session_window merges events with gap < gap duration)
    "q_sessions" ->
      """WITH marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |      < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
        |  FROM events
        |), sess AS (
        |  SELECT user_id,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked
        |), per AS (
        |  SELECT user_id, sid, count(*) AS n FROM sess GROUP BY 1, 2
        |)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(sum(n) AS BIGINT) AS n_events, max(n) AS max_session_events
        |FROM per GROUP BY 1 ORDER BY user_id""".stripMargin
  )
}
