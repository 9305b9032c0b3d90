package graft.ext

import graft.core.Reduce
import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** Mergeable frequency sketches — the approximate-aggregation pattern
  * for corpora where exact per-token state is too big: each partition
  * folds its rows into a fixed depth x width count grid, grids add
  * elementwise in partition order ([[Reduce]]), and the driver holds one
  * O(depth * width) result no matter the corpus size. Estimates
  * overcount only (min over depth rows), never undercount.
  *
  * Bucket indices derive from the engine-portable 56-bit md5 hash via
  * the Kirsch-Mitzenmacher construction (bucket_r = (h1 + r h2) mod w,
  * h1/h2 the low/high 28 bits), so a SQL oracle regenerates the exact
  * grid — the q_countmin query pins cells AND estimates against DuckDB.
  *
  * Heavy-hitter candidates at scale come from the sharded two-phase
  * exact top-k ([[Sampling.topKPerStratum]]); the sketch then serves
  * point frequency estimates without a second corpus pass.
  */
object Sketches {

  /** Shared hot-loop hash: the 56-bit engine-portable value (first 14
    * hex chars of md5 = first 7 digest bytes, big-endian). The digest
    * object is thread-local and the long is assembled straight from the
    * digest bytes — no per-token allocation beyond the input copy, which
    * matters on corpus-sized token streams where these run per
    * occurrence. Bit-identical to `conv(substring(md5(x),1,14),16,10)`
    * in SQL (the oracle twin) and pinned by the partition-invariance
    * specs. */
  private val tlMd5 =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  private[ext] def md5Hash56(prefixed: String): Long = {
    val md = tlMd5.get()
    md.reset()
    val d = md.digest(prefixed.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 48) | ((d(1) & 0xffL) << 40) |
      ((d(2) & 0xffL) << 32) | ((d(3) & 0xffL) << 24) |
      ((d(4) & 0xffL) << 16) | ((d(5) & 0xffL) << 8) | (d(6) & 0xffL)
  }

  /** Count-min sketch over string items. `cells(r)(b)` is the number of
    * item occurrences whose r-th bucket is b; `total` is the occurrence
    * count (= sum of any row). */
  final case class CountMin(depth: Int, width: Int, seed: Long,
      total: Long, cells: Array[Array[Long]]) {

    def estimate(item: String): Long = {
      val (h1, h2) = CountMin.split(CountMin.hash56(seed, item))
      (0 until depth).map(r => cells(r)(((h1 + r * h2) % width).toInt)).min
    }

    /** Sketches over disjoint corpus parts add exactly — the property
      * that makes the structure shard-friendly at any scale. */
    def merge(other: CountMin): CountMin = {
      require(depth == other.depth && width == other.width &&
        seed == other.seed, "sketch shapes/seeds differ")
      CountMin(depth, width, seed, total + other.total,
        cells.zip(other.cells).map { case (a, b) => Reduce.addLongs(a.clone, b) })
    }
  }

  object CountMin {
    /** JVM twin of the SQL hash56: first 14 hex chars of md5 as a long,
      * domain-separated per sketch seed. */
    private[ext] def hash56(seed: Long, item: String): Long =
      md5Hash56(s"cm:$seed:$item")
    private[ext] def split(h: Long): (Long, Long) =
      (h % 268435456L, h >>> 28) // low / high 28 bits
  }

  /** Linear-counting distinct-cardinality sketch: an m-bit bitmap with
    * bit (hash56 mod m) set per occurrence; the estimate
    * m ln(m / empty_bits) corrects for hash collisions. Mergeable by
    * bitwise OR — shard bitmaps combine exactly, like [[CountMin]]
    * grids. Size the bitmap well above the expected cardinality
    * (load factors past ~12 saturate; [[estimate]] errors at 100%). */
  final case class LinearCounter(m: Int, seed: Long, bits: Array[Long]) {
    def occupied: Int = bits.map(java.lang.Long.bitCount).sum
    def estimate: Double = {
      val empty = m - occupied
      require(empty > 0,
        s"bitmap saturated ($m bits all set) — grow m past the cardinality")
      m * math.log(m.toDouble / empty)
    }
    def merge(other: LinearCounter): LinearCounter = {
      require(m == other.m && seed == other.seed, "sketch shapes/seeds differ")
      LinearCounter(m, seed, Reduce.orLongs(bits.clone, other.bits))
    }
  }

  private[ext] def lcHash(seed: Long, item: String): Long =
    md5Hash56(s"lc:$seed:$item")

  /** Per-group linear counters over whitespace tokens, ALL groups in
    * ONE [[Reduce]] pass (per-group bitmap lanes — the GroupedOls
    * pattern): a tiny distinct-levels job, then one scan folding each
    * partition's (group, token) stream into |groups| bitmaps of m bits.
    * Null groups are skipped. */
  def linearCountTokens(df: DataFrame, textCol: String, groupCol: String,
      m: Int = 4096, seed: Long = 7L): Map[String, LinearCounter] = {
    require(m >= 64 && m % 64 == 0, "m must be a positive multiple of 64")
    val levels = df.select(F.col(groupCol).cast("string"))
      .na.drop().distinct().collect().map(_.getString(0)).sorted
    val idx = levels.zipWithIndex.toMap
    val words = m / 64
    val toks = graft.prep.Prep.fanOut(
      df.select(F.col(groupCol).cast("string"),
        F.split(F.col(textCol), "\\s+").as("__toks__")))
    val acc = Reduce(toks.rdd, s"sketch: ${levels.length}-lane linear counting",
      () => new Array[Long](levels.length * words))(
      (buf, row) => {
        if (!row.isNullAt(0)) {
          val base = idx(row.getString(0)) * words
          val ts = row.getSeq[String](1)
          var i = 0
          while (i < ts.length) {
            val t = ts(i)
            if (t.nonEmpty) {
              val b = (lcHash(seed, t) % m).toInt
              buf(base + (b >> 6)) |= 1L << (b & 63)
            }
            i += 1
          }
        }
        buf
      },
      Reduce.orLongs)
    levels.map { l =>
      l -> LinearCounter(m, seed,
        acc.slice(idx(l) * words, (idx(l) + 1) * words))
    }.toMap
  }

  /** Bloom filter over string items: m bits, k Kirsch-Mitzenmacher
    * probes per item from the same portable 56-bit hash. No false
    * negatives; false-positive rate ~(1 - e^{-kn/m})^k. Mergeable by
    * bitwise OR. The at-scale prefilter pattern: when an exact set is
    * too big to broadcast (e.g. a benchmark shingle set for
    * [[Decontam]]-style screens), broadcast the bloom's O(m) bits and
    * keep only candidate rows for the exact verify. */
  final case class Bloom(m: Int, k: Int, seed: Long, bits: Array[Long]) {
    def mightContain(item: String): Boolean = {
      val (h1, h2) = CountMin.split(bfHash(seed, item))
      (0 until k).forall { r =>
        val b = ((h1 + r * h2) % m).toInt
        (bits(b >> 6) & (1L << (b & 63))) != 0L
      }
    }

    /** Membership test as a pure codegen column over the literal bit
      * array — the distributed form: broadcast-by-literal, no join, no
      * UDF. Null input yields null. */
    def mightContainCol(item: Column): Column = {
      val arr = F.array(bits.map(F.lit): _*)
      val h = F.conv(F.substring(
        F.md5(F.concat(F.lit(s"bf:$seed:"), item.cast("string"))), 1, 14),
        16, 10).cast("long")
      val h1 = h % F.lit(268435456L)
      val h2 = F.shiftrightunsigned(h, 28)
      (0 until k).map { r =>
        val b = (h1 + F.lit(r.toLong) * h2) % F.lit(m.toLong)
        (F.element_at(arr, (b / 64).cast("int") + F.lit(1))
          .bitwiseAND(F.call_function("shiftleft", F.lit(1L),
            (b % 64).cast("int")))) =!= 0L
      }.reduce(_ && _)
    }

    def merge(other: Bloom): Bloom = {
      require(m == other.m && k == other.k && seed == other.seed,
        "bloom shapes/seeds differ")
      Bloom(m, k, seed, Reduce.orLongs(bits.clone, other.bits))
    }
  }

  object Bloom {
    /** Standard Bloom sizing for `n` expected members at `fpRate`:
      * m = ceil(-n ln p / (ln 2)^2) rounded up to a multiple of 64
      * (the word size the bit array is stored in), k = round(m/n ln 2),
      * clamped to [1, 16]. The m <= Int.MaxValue ceiling bounds a
      * SINGLE filter at ~256 MB of driver/broadcast bits (~150M members
      * at 1% FP); shard the key space and [[Bloom.merge]]-or-probe per
      * shard beyond that. */
    def sizeFor(n: Long, fpRate: Double): (Int, Int) = {
      require(n > 0 && fpRate > 0.0 && fpRate < 1.0,
        "need n > 0 and fpRate in (0, 1)")
      val ln2 = math.log(2.0)
      val mRaw = math.ceil(-n * math.log(fpRate) / (ln2 * ln2)).toLong
      val m = (((mRaw max 64L) + 63L) / 64L * 64L)
        .min(Int.MaxValue.toLong - 63L).toInt
      val k = math.round(m.toDouble / n * ln2).toInt.max(1).min(16)
      (m, k)
    }
  }

  private[ext] def bfHash(seed: Long, item: String): Long =
    md5Hash56(s"bf:$seed:$item")

  /** Bloom over the values of `itemCol` in ONE [[Reduce]] pass. */
  def bloomOf(df: DataFrame, itemCol: String, m: Int = 4096, k: Int = 4,
      seed: Long = 7L): Bloom = {
    require(m >= 64 && m % 64 == 0, "m must be a positive multiple of 64")
    require(k >= 1, "k must be >= 1")
    val items = df.select(F.col(itemCol).cast("string")).na.drop()
    val acc = Reduce(items.rdd, s"sketch: ${m}-bit bloom",
      () => new Array[Long](m / 64))(
      (buf, row) => {
        val (h1, h2) = CountMin.split(bfHash(seed, row.getString(0)))
        var r = 0
        while (r < k) {
          val b = ((h1 + r * h2) % m).toInt
          buf(b >> 6) |= 1L << (b & 63)
          r += 1
        }
        buf
      },
      Reduce.orLongs)
    Bloom(m, k, seed, acc)
  }

  /** Build a count-min sketch of whitespace tokens of `textCol` in ONE
    * [[Reduce]] pass (the corpus never shuffles; partial grids add in
    * partition order). The input fans out first: token hashing is heavy
    * per-row work and a single-file scan would otherwise run it on one
    * task. */
  def countMinTokens(df: DataFrame, textCol: String, depth: Int = 4,
      width: Int = 512, seed: Long = 7L): CountMin = {
    require(depth >= 1 && width >= 2, "need depth >= 1, width >= 2")
    val toks = graft.prep.Prep.fanOut(
      df.select(F.split(F.col(textCol), "\\s+").as("__toks__")))
    val acc = Reduce(toks.rdd, s"sketch: ${depth}x${width} count-min",
      () => new Array[Long](depth * width + 1))( // grid ++ total
      (buf, row) => {
        val ts = row.getSeq[String](0)
        var i = 0
        while (i < ts.length) {
          val t = ts(i)
          if (t.nonEmpty) {
            val (h1, h2) = CountMin.split(CountMin.hash56(seed, t))
            var r = 0
            while (r < depth) {
              buf(r * width + ((h1 + r * h2) % width).toInt) += 1L
              r += 1
            }
            buf(depth * width) += 1L
          }
          i += 1
        }
        buf
      },
      Reduce.addLongs)
    CountMin(depth, width, seed, acc(depth * width),
      Array.tabulate(depth, width)((r, b) => acc(r * width + b)))
  }
}
