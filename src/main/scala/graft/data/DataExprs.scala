package graft.data

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.geo.expr.StaticCall

/** Shared hashing for the dedup/similarity operators: 64-bit FNV-1a over
  * UTF-8 bytes + splitmix64 finalizer for per-permutation re-keying.
  * All pure static methods, called from generated code. */
object DedupHash {
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L

  def fnv64(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = FnvOffset
    var i = from
    while (i < until) { h = (h ^ (bytes(i) & 0xffL)) * FnvPrime; i += 1 }
    h
  }

  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Lower-case word tokens (letters+digits runs) of a UTF8String. */
  def tokens(text: UTF8String): Array[Array[Byte]] = {
    val s = text.toString.toLowerCase
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && !Character.isLetterOrDigit(s.charAt(i))) i += 1
      val start = i
      while (i < n && Character.isLetterOrDigit(s.charAt(i))) i += 1
      if (i > start) out += s.substring(start, i).getBytes("UTF-8")
    }
    out.toArray
  }

  /** Hashes of word `n`-gram shingles in one pass (n>=1). */
  def shingleHashes(text: UTF8String, n: Int): Array[Long] = {
    val toks = tokens(text)
    if (toks.length < n) {
      if (toks.isEmpty) return Array.empty
      // short doc: single shingle of everything
      var h = FnvOffset
      toks.foreach { t => h = combine(h, fnv64(t, 0, t.length)) }
      return Array(h)
    }
    val out = new Array[Long](toks.length - n + 1)
    val wordHash = toks.map(t => fnv64(t, 0, t.length))
    var i = 0
    while (i <= toks.length - n) {
      var h = FnvOffset
      var j = 0
      while (j < n) { h = combine(h, wordHash(i + j)); j += 1 }
      out(i) = h
      i += 1
    }
    out
  }

  private def combine(acc: Long, h: Long): Long = (acc ^ h) * FnvPrime

  /** MinHash signature: for permutation p, min over shingles of
    * mix(shingle ^ seed_p).  One pass over shingles for all perms. */
  def minhash(text: UTF8String, numHashes: Int, shingle: Int,
              seed: Long): Array[Long] = {
    val sh = shingleHashes(text, shingle)
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      val base = sh(i)
      var p = 0
      while (p < numHashes) {
        val v = mix(base ^ (seed + p * 0x9e3779b97f4a7c15L))
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    sig
  }

  /** Merge sorted duplicate-window start positions into maximal token
    * spans: windows are all `w` tokens long, so two windows merge when the
    * later start is <= the earlier start + w (overlapping or contiguous
    * coverage).  Returns array<struct<s,e>> of half-open token ranges. */
  def mergeSpans(ps: ArrayData, w: Int): ArrayData = {
    val n = ps.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var s = ps.getLong(0)
    var last = s
    var i = 1
    while (i < n) {
      val p = ps.getLong(i)
      if (p > last + w) {
        out += InternalRow(s, last + w)
        s = p
      }
      last = p
      i += 1
    }
    out += InternalRow(s, last + w)
    new GenericArrayData(out.toArray)
  }

  /** Remove the tokens covered by `spans` (sorted array<struct<s,e>> of
    * half-open token ranges) from `text` and re-join the survivors with
    * single spaces.  Tokenization is the same letter/digit-run rule the
    * window hashes use, but over the ORIGINAL string (case preserved);
    * inter-token whitespace/punctuation is normalized away — the operator
    * is for corpus text where tokens are space-separated words. */
  def dropTokenSpans(text: UTF8String, spans: ArrayData): UTF8String = {
    val s = text.toString
    val sb = new java.lang.StringBuilder(s.length)
    val nSpans = spans.numElements()
    var spanIdx = 0
    var tok = 0
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && !Character.isLetterOrDigit(s.charAt(i))) i += 1
      val start = i
      while (i < n && Character.isLetterOrDigit(s.charAt(i))) i += 1
      if (i > start) {
        while (spanIdx < nSpans &&
            tok >= spans.getStruct(spanIdx, 2).getLong(1)) spanIdx += 1
        val covered = spanIdx < nSpans && {
          val sp = spans.getStruct(spanIdx, 2)
          tok >= sp.getLong(0) && tok < sp.getLong(1)
        }
        if (!covered) {
          if (sb.length > 0) sb.append(' ')
          sb.append(s, start, i)
        }
        tok += 1
      }
    }
    UTF8String.fromString(sb.toString)
  }

  /** Hashed n-gram feature buckets (with multiplicity, in order):
    * floorMod of each word-n-gram FNV hash into `buckets`.  For a
    * power-of-two bucket count this equals the UNSIGNED hash mod, so a
    * SQL oracle working in unsigned HUGEINT replays it exactly. */
  def ngramBuckets(text: UTF8String, n: Int, buckets: Int): Array[Int] = {
    val sh = shingleHashes(text, n)
    val out = new Array[Int](sh.length)
    var i = 0
    while (i < sh.length) {
      out(i) = java.lang.Math.floorMod(sh(i), buckets.toLong).toInt
      i += 1
    }
    out
  }

  /** Sum of `table(b)` over the bucket ids — the hashed-feature linear
    * scorer (integer weights, exact arithmetic). */
  def bucketSum(bs: ArrayData, table: Array[Long]): Long = {
    var s = 0L
    var i = 0
    val n = bs.numElements()
    while (i < n) { s += table(bs.getInt(i)); i += 1 }
    s
  }

  /** Genuinely one-pass hashed-bigram LM evaluation: ONE tokenization,
    * each word FNV-hashed ONCE, unigram and bigram bucket values derived
    * from that single word-hash array (composing two ngramBuckets calls
    * would tokenize and word-hash everything twice).  Bucket/hash
    * arithmetic is bit-identical to [[shingleHashes]] + [[ngramBuckets]]
    * for n=1 and n=2, including the 1-token short-shingle branch (pinned
    * against the expression path in DataOpsSpec).  Returns
    * (lp_e6, n_bi, n_tok); the residual Tuple3 is noise next to the
    * per-token allocations tokenization itself requires. */
  def lmEval(text: UTF8String, uni: Array[Long], bi: Array[Long],
             buckets: Int): (Long, Int, Int) = {
    val toks = tokens(text)
    val n = toks.length
    if (n == 0) return (0L, 0, 0)
    val wh = new Array[Long](n)
    var i = 0
    while (i < n) { wh(i) = fnv64(toks(i), 0, toks(i).length); i += 1 }
    def bucketOf(h: Long): Int =
      java.lang.Math.floorMod(h, buckets.toLong).toInt
    if (n == 1) { // shingleHashes(_, 2) short branch == the unigram fold
      val b = bucketOf(combine(FnvOffset, wh(0)))
      return (bi(b) - uni(b), 1, 1)
    }
    var s = 0L
    i = 0
    while (i < n - 1) {
      val u0 = combine(FnvOffset, wh(i))
      s += bi(bucketOf(combine(u0, wh(i + 1)))) - uni(bucketOf(u0))
      i += 1
    }
    (s, n - 1, n)
  }

  /** Struct form of [[lmEval]] for the scoring expression. */
  def lmScore(text: UTF8String, uni: Array[Long], bi: Array[Long],
              buckets: Int): InternalRow = {
    val (s, nBi, nTok) = lmEval(text, uni, bi, buckets)
    InternalRow(s, nBi, nTok)
  }

  /** Boolean LM quality gate in ONE expression evaluation: docs with
    * fewer than two tokens pass (they have no true bigram — the 2-gram
    * hash of a 1-token doc is the short-shingle whole-doc fold, which is
    * essentially never in the trained bigram table and would otherwise
    * always fail the floor); others need lp_e6 >= floorE6 · n_bi. */
  def lmPass(text: UTF8String, uni: Array[Long], bi: Array[Long],
             buckets: Int, floorE6: Long): Boolean = {
    val (s, nBi, nTok) = lmEval(text, uni, bi, buckets)
    nTok <= 1 || s >= floorE6 * nBi
  }

  /** SimHash: sign-aggregated 64-bit fingerprint of token hashes. */
  def simhash(text: UTF8String, seed: Long): Long = {
    val toks = tokens(text)
    val counts = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val h = mix(fnv64(toks(i), 0, toks(i).length) ^ seed)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= 1L << b; b += 1 }
    out
  }

  /** Polynomial rolling-hash document fingerprint over normalized
    * (lower-case, whitespace-collapsed) text. */
  def fingerprint(text: UTF8String): Long = {
    val s = text.toString.toLowerCase
    var h = FnvOffset
    var i = 0
    var lastSpace = false
    while (i < s.length) {
      val c = s.charAt(i)
      val isSpace = Character.isWhitespace(c)
      if (!isSpace) { h = (h ^ c.toLong) * FnvPrime; lastSpace = false }
      else if (!lastSpace) { h = (h ^ ' '.toLong) * FnvPrime; lastSpace = true }
      i += 1
    }
    h
  }
}











/** Serializable carrier for a Bloom filter riding in a plan as a
  * reference object (the broadcast-dimension-table shape grids use):
  * holds the canonical byte form, rebuilds the probe structure lazily
  * once per executor JVM/deserialization. */
final class BloomHolder(val bytes: Array[Byte]) extends Serializable {
  @transient private lazy val bloom =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))
  def mightContain(v: Long): Boolean = bloom.mightContainLong(v)
}

object BloomHolder {
  def from(bloom: org.apache.spark.util.sketch.BloomFilter): BloomHolder = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    new BloomHolder(bos.toByteArray)
  }
}


/** Gopher-style repetition signals (Rae et al. 2021 §A1.1, the standard
  * web-corpus repetition filters): per-document word / bigram / trigram
  * totals, distinct counts and top-gram frequency, all computed in ONE
  * pass over the token stream with a reusable open-hash counter.  Pure
  * integers out, so a SQL oracle (unnest + window leads + group-by) can
  * replay them exactly; callers derive the filter fractions
  * (duplicate-gram fraction = 1 - distinct/total, top-gram fraction =
  * top/total) from the struct. */
object RepetitionOps {
  /** counts of each value in `keys[0..n)` via open addressing; returns
    * (distinct, topCount). */
  private def countStats(keys: Array[Long], n: Int): (Int, Int) = {
    if (n == 0) return (0, 0)
    var cap = Integer.highestOneBit(math.max(4, n * 2 - 1)) * 2
    val slots = new Array[Long](cap)
    val cnts = new Array[Int](cap)
    val mask = cap - 1
    var distinct = 0
    var top = 0
    var i = 0
    while (i < n) {
      // avoid the empty-slot sentinel clash: 0 keys remapped
      val k = if (keys(i) == 0L) 0x9e3779b97f4a7c15L else keys(i)
      var s = (DedupHash.mix(k) & mask).toInt
      var done = false
      while (!done) {
        if (cnts(s) == 0) {
          slots(s) = k; cnts(s) = 1; distinct += 1
          if (top < 1) top = 1
          done = true
        } else if (slots(s) == k) {
          cnts(s) += 1
          if (cnts(s) > top) top = cnts(s)
          done = true
        } else s = (s + 1) & mask
      }
      i += 1
    }
    (distinct, top)
  }

  /** 9 ints: (words, distinctWords, topWord, bigrams, distinctBigrams,
    * topBigram, trigrams, distinctTrigrams, topTrigram). */
  def stats(text: UTF8String): InternalRow = {
    val toks = DedupHash.tokens(text)
    val n = toks.length
    val wordH = new Array[Long](n)
    var i = 0
    while (i < n) {
      wordH(i) = DedupHash.fnv64(toks(i), 0, toks(i).length); i += 1
    }
    val (dw, tw) = countStats(wordH, n)
    val biH = new Array[Long](math.max(0, n - 1))
    i = 0
    while (i < n - 1) {
      biH(i) = (wordH(i) ^ 0xcbf29ce484222325L) * 0x100000001b3L ^ wordH(i + 1)
      i += 1
    }
    val (db, tb) = countStats(biH, biH.length)
    val triH = new Array[Long](math.max(0, n - 2))
    i = 0
    while (i < n - 2) {
      triH(i) = (biH(i) * 0x100000001b3L) ^ wordH(i + 2)
      i += 1
    }
    val (dt, tt) = countStats(triH, triH.length)
    InternalRow(n, dw, tw, biH.length, db, tb, triH.length, dt, tt)
  }
}


object VectorOps {
  /** cosine similarity of two float vectors (double accumulation). */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Signed random projection signature: bit p = sign(v . plane_p) where
    * plane components are deterministic unit-less gaussians via
    * splitmix64 (Box-Muller-free: sum of 4 uniforms - 2, adequate for
    * sign tests). */
  def srpSignature(v: ArrayData, bits: Int, seed: Long): Long = {
    val n = v.numElements()
    var sig = 0L
    var p = 0
    while (p < bits) {
      var dot = 0.0
      var i = 0
      while (i < n) {
        val h = DedupHash.mix(seed + p.toLong * 1000003L + i)
        // uniform in [-1, 1): adequate for hyperplane signs
        val w = ((h >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
        dot += v.getFloat(i) * w
        i += 1
      }
      if (dot >= 0) sig |= 1L << p
      p += 1
    }
    sig
  }

  /** All `tables` banded SRP signatures of one vector in a single pass —
    * each table uses an independent hyperplane family (seed offset by a
    * golden-ratio stride).  One projection per row regardless of table
    * count, so the fact table is scanned once however many tables the
    * recall target demands. */
  def srpSignatures(v: ArrayData, bits: Int, tables: Int, seed: Long): ArrayData = {
    val out = new Array[Any](tables)
    var t = 0
    while (t < tables) {
      out(t) = srpSignature(v, bits, seed + t.toLong * 0x9E3779B97F4A7C15L)
      t += 1
    }
    new GenericArrayData(out)
  }
}




object VectorOpsCentroids {
  /** n nearest centroids of v by cosine (ties on index), as an int array
    * — the map-side IVF assignment kernel: no shuffle, no window. */
  def topCentroids(v: ArrayData, cents: Array[Array[Float]], n: Int): ArrayData = {
    val m = cents.length
    val sims = new Array[Double](m)
    var c = 0
    while (c < m) {
      val cv = cents(c)
      val len = math.min(v.numElements(), cv.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < len) {
        val x = v.getFloat(i).toDouble; val y = cv(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      sims(c) = if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
      c += 1
    }
    val k = math.min(n, m)
    val out = new Array[Int](k)
    val used = new Array[Boolean](m)
    var r = 0
    while (r < k) {
      var best = -1
      var bestSim = Double.NegativeInfinity
      c = 0
      while (c < m) {
        if (!used(c) && sims(c) > bestSim) { best = c; bestSim = sims(c) }
        c += 1
      }
      used(best) = true
      out(r) = best
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}


/** Product-quantization kernels (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011): split the vector into `m`
  * subspaces, quantize each to one of `ksub` codebook centroids, score
  * asymmetrically via a per-query lookup table of partial dot products.
  * All static methods callable from generated code. */
object VectorOpsPq {
  /** L2-normalize into a fresh float array (cosine = dot on the unit
    * sphere, so the whole PQ pipeline — training, codes, LUTs — operates
    * on normalized vectors; a zero vector stays zero). */
  def normalized(v: ArrayData): Array[Float] = {
    val n = v.numElements()
    val out = new Array[Float](n)
    var ss = 0.0
    var i = 0
    while (i < n) { val x = v.getFloat(i); out(i) = x; ss += x.toDouble * x; i += 1 }
    if (ss > 0.0) {
      val inv = (1.0 / math.sqrt(ss)).toFloat
      i = 0
      while (i < n) { out(i) *= inv; i += 1 }
    }
    out
  }

  /** per-subspace L2 argmin codes over the NORMALIZED vector:
    * array<int> of length m. */
  def encode(v0: ArrayData, cb: Array[Array[Array[Float]]]): ArrayData = {
    val v = normalized(v0)
    val m = cb.length
    val out = new Array[Int](m)
    var s = 0
    var off = 0
    while (s < m) {
      val cents = cb(s)
      val dsub = cents(0).length
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        val cv = cents(c)
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val x = (if (off + i < v.length) v(off + i) else 0f) - cv(i)
          d += x.toDouble * x
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best
      off += dsub
      s += 1
    }
    new GenericArrayData(out)
  }

  /** ADC lookup table: array<float> of m*ksub partial dot products
    * query_sub . centroid — computed once per query, reused against
    * every code word. */
  def lut(q0: ArrayData, cb: Array[Array[Array[Float]]]): ArrayData = {
    val q = normalized(q0)
    val m = cb.length
    val ksub = cb(0).length
    val out = new Array[Float](m * ksub)
    var s = 0
    var off = 0
    while (s < m) {
      val cents = cb(s)
      val dsub = cents(0).length
      var c = 0
      while (c < ksub) {
        val cv = cents(c)
        var dot = 0.0
        var i = 0
        while (i < dsub) {
          dot += (if (off + i < q.length) q(off + i).toDouble else 0.0) * cv(i)
          i += 1
        }
        out(s * ksub + c) = dot.toFloat
        c += 1
      }
      off += dsub
      s += 1
    }
    new GenericArrayData(out)
  }

  /** asymmetric distance (here: approximate dot product) = sum of the
    * code word's LUT entries — m additions per vector instead of a
    * d-dimensional dot product. */
  def adc(codes: ArrayData, lutArr: ArrayData, ksub: Int): Float = {
    val m = codes.numElements()
    var s = 0
    var acc = 0f
    while (s < m) {
      acc += lutArr.getFloat(s * ksub + codes.getInt(s))
      s += 1
    }
    acc
  }
}




/** Column DSL over the data-pipeline operators: each function is one
  * [[graft.geo.expr.StaticCall]] whose inputs must already have their
  * types (no implicit casts). */
object dataops {
  private val longs = ArrayType(LongType, containsNull = false)
  private val ints = ArrayType(IntegerType, containsNull = false)
  private val floats = ArrayType(FloatType)
  private val spans = ArrayType(StructType(Seq(
    StructField("s", LongType, nullable = false),
    StructField("e", LongType, nullable = false))), containsNull = false)

  /** `target.method(inputs..., consts...)`, inputs checked strictly. */
  private def call(name: String, dataType: DataType, target: AnyRef, method: String,
                   inputs: (Column, DataType)*)(consts: Any*): Column =
    StaticCall.column(name, dataType, target, method, castInputs = false, inputs, consts: _*)

  /** text -> array<long> MinHash signature (one pass) */
  def minhash(text: Column, numHashes: Int = 64, shingle: Int = 3,
              seed: Long = 42L): Column =
    call(s"minhash_${numHashes}x$shingle", longs, DedupHash, "minhash",
      text -> StringType)(numHashes, shingle, seed)
  /** text -> array<long> of word n-gram shingle hashes (exact Jaccard base) */
  def shingles(text: Column, shingle: Int = 3): Column =
    call(s"shingles_$shingle", longs, DedupHash, "shingleHashes", text -> StringType)(shingle)
  def simhash(text: Column, seed: Long = 42L): Column =
    call("simhash", LongType, DedupHash, "simhash", text -> StringType)(seed)
  /** text -> rolling-hash fingerprint */
  def fingerprint(text: Column): Column =
    call("doc_fingerprint", LongType, DedupHash, "fingerprint", text -> StringType)()
  /** sorted array<long> of duplicate-window start positions -> merged
    * array<struct<s,e>> half-open token spans (windows are `window` tokens) */
  def mergeTokenSpans(positions: Column, window: Int): Column =
    call(s"merge_token_spans_$window", spans, DedupHash, "mergeSpans",
      positions -> longs)(window)
  /** text -> array<int> hashed n-gram feature buckets (power-of-two count) */
  def ngramBuckets(text: Column, n: Int, buckets: Int): Column = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      s"bucket count must be a power of two for unsigned-mod parity, got $buckets")
    call(s"ngram_buckets_${n}x$buckets", ints, DedupHash, "ngramBuckets",
      text -> StringType)(n, buckets)
  }
  /** array<int> bucket ids -> long sum of the plan-constant weight table
    * (the hashed-feature linear scorer; no join, no shuffle) */
  def bucketSum(buckets: Column, table: Array[Long]): Column =
    call(s"bucket_sum_${table.length}", LongType, DedupHash, "bucketSum",
      buckets -> ints)(table)
  /** text -> struct(lp_e6, n_bi, n_tok): one-pass hashed-bigram LM score */
  def lmScore(text: Column, uni: Array[Long], bi: Array[Long],
              buckets: Int): Column =
    call(s"lm_score_$buckets", StructType(Seq(
      StructField("lp_e6", LongType, nullable = false),
      StructField("n_bi", IntegerType, nullable = false),
      StructField("n_tok", IntegerType, nullable = false))),
      DedupHash, "lmScore", text -> StringType)(uni, bi, buckets)
  /** text -> boolean: the LM quality gate as one evaluation */
  def lmGate(text: Column, uni: Array[Long], bi: Array[Long],
             buckets: Int, floorE6: Long): Column =
    call(s"lm_gate_$buckets", BooleanType, DedupHash, "lmPass",
      text -> StringType)(uni, bi, buckets, floorE6)
  /** (text, sorted token spans) -> text with the covered tokens removed,
    * survivors re-joined with single spaces */
  def dropTokenSpans(text: Column, spanCol: Column): Column =
    call("drop_token_spans", StringType, DedupHash, "dropTokenSpans",
      text -> StringType, spanCol -> spans)()
  /** `bloom.mightContain(key)` — the map-side prefilter of the snapshot
    * dedups: rows whose fingerprint cannot be in the prior corpus skip
    * the exact verification join.  No false negatives by construction;
    * a false positive only costs a candidate row. */
  def bloomMightContain(key: Column, bloom: BloomHolder): Column =
    call("bloom_might_contain", BooleanType, bloom, "mightContain", key -> LongType)()
  /** text -> struct of 9 integer repetition stats (one pass) */
  def repetitionStats(text: Column): Column =
    call("repetition_stats", StructType(Seq("words", "distinct_words",
      "top_word", "bigrams", "distinct_bigrams", "top_bigram", "trigrams",
      "distinct_trigrams", "top_trigram").map(StructField(_, IntegerType, nullable = false))),
      RepetitionOps, "stats", text -> StringType)()
  def cosineSim(a: Column, b: Column): Column =
    call("cosine_sim", DoubleType, VectorOps, "cosine", a -> floats, b -> floats)()
  /** array<float> -> 64-bit signed-random-projection LSH signature */
  def srpSignature(v: Column, bits: Int = 16, seed: Long = 42L): Column = {
    require(bits >= 1 && bits <= 64)
    call(s"srp_sig_$bits", LongType, VectorOps, "srpSignature", v -> floats)(bits, seed)
  }
  /** array<float> -> array<long> of `tables` independent banded SRP
    * signatures (posexplode for the (table, bucket) LSH shuffle key) */
  def srpSignatures(v: Column, bits: Int, tables: Int, seed: Long = 42L): Column = {
    require(bits >= 1 && bits <= 64 && tables >= 1)
    call(s"srp_sig_${bits}x$tables", longs, VectorOps, "srpSignatures",
      v -> floats)(bits, tables, seed)
  }
  /** array<float> -> array<int> of the n nearest centroid indices
    * (cosine): the IVF coarse quantizer applied map-side */
  def centroidTop(v: Column, centroids: Array[Array[Float]], n: Int): Column = {
    require(centroids.nonEmpty && n >= 1)
    call(s"centroid_top_$n", ints, VectorOpsCentroids, "topCentroids",
      v -> floats)(centroids, n)
  }
  /** array<float> -> array<int>: PQ code word (m sub-codes) */
  def pqEncode(v: Column, cb: Array[Array[Array[Float]]]): Column =
    call(s"pq_encode_${cb.length}x${cb(0).length}", ints, VectorOpsPq, "encode",
      v -> floats)(cb)
  /** array<float> -> array<float>: per-query ADC lookup table (m*ksub) */
  def pqLut(v: Column, cb: Array[Array[Array[Float]]]): Column =
    call("pq_lut", ArrayType(FloatType, containsNull = false), VectorOpsPq, "lut",
      v -> floats)(cb)
  /** (codes, lut) -> float approximate dot product */
  def pqAdc(codes: Column, lut: Column, ksub: Int): Column =
    call("pq_adc", FloatType, VectorOpsPq, "adc",
      codes -> ArrayType(IntegerType), lut -> floats)(ksub)
  /** text -> array<string> of BPE subword tokens */
  def bpeTokens(text: Column, model: BpeModel): Column =
    call(s"bpe_tokens_${model.merges.length}", ArrayType(StringType, containsNull = false),
      Bpe, "encode", text -> StringType)(model)
  /** text -> exact BPE token count */
  def bpeTokenCount(text: Column, model: BpeModel): Column =
    call(s"bpe_count_${model.merges.length}", IntegerType, Bpe, "count",
      text -> StringType)(model)
}
