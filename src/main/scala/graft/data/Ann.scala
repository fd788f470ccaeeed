package graft.data

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbor search over an embedding column.
  *
  * Baseline: broadcast brute-force cosine top-k (exact; O(Q x N) but one
  * scan of N, no shuffle of the data side).  Scale path: SRP-LSH with
  * multi-probe (query joins its bucket plus all 1-bit-flip neighbors) or
  * an IVF-style coarse quantizer built from a deterministic sample. */
object Ann {

  /** Exact top-k by cosine: queries broadcast against the data scan when
    * queries are the small side (typical); ties break on data id so the
    * result is partition independent.
    *
    * Shape: the kth-largest cosine per query is a PARTIAL-aggregable
    * reduction (map-side combine — only (query, kth) rows shuffle), then
    * the Q x N candidate stream is filtered map-side to cosine >= kth
    * before the row_number window.  The window therefore ranks ~Q x k
    * survivors instead of shuffling the full cross product — the same
    * two-phase pattern as the geodesic top-k.  Results are bit-identical
    * to ranking everything: an excluded row is strictly below the kth
    * cosine, and ties at the kth value all survive to the ranker. */
  def bruteForceTopK(queries: DataFrame, data: DataFrame, k: Int,
                     queryId: String = "query_id", dataId: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(queryId), col(vecCol).as("q_vec")))
    val d = data.select(col(dataId), col(vecCol).as("d_vec"))
    val pairs = d.crossJoin(q)
      .withColumn("cosine", dataops.cosineSim(col("q_vec"), col("d_vec")))
    // kth-largest cosine = -(kth-smallest -cosine): negation is exact
    val kthAgg = udaf(new graft.geo.engine.GeoEngine.KthSmallest(k))
    val kth = pairs.groupBy(queryId).agg((-kthAgg(-col("cosine"))).as("c_k"))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cosine").desc, col(dataId).asc)
    pairs.join(broadcast(kth), Seq(queryId))
      .where(col("cosine") >= col("c_k")) // -Inf when a query has < k rows
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(queryId), col(dataId), col("cosine"), col("rank"))
  }

  /** Deterministic representative sample: the n vectors with the
    * smallest id hash (TakeOrdered — per-partition top-n, no full
    * sort/shuffle).  One implementation for the IVF centroids, the PQ
    * training sample and the IVF-PQ coarse centroids, so the sampling
    * rule cannot drift between them. */
  private[data] def sampleByHash(data: DataFrame, n: Int, dataId: String,
                                 vecCol: String): Array[Array[Float]] = data
    .orderBy(xxhash64(col(dataId)).asc, col(dataId).asc)
    .limit(n)
    .select(col(vecCol)).collect()
    .map(_.getSeq[Float](0).toArray)

  /** SRP-LSH approximate top-k with multi-probe: each query probes its own
    * bucket and every bucket at hamming distance 1 in signature space
    * (bits+1 probes), then exact cosine re-ranks the candidates.
    * One shuffle on bucket; recall rises with `bits` low and probes high.
    * `bits = 0` derives the width from the corpus size ([[LshSizing]], one
    * count job) so expected bucket occupancy — and with it the per-query
    * candidate set — stays constant as the corpus grows. */
  def lshTopK(queries: DataFrame, data: DataFrame, k: Int, bits: Int = 0,
              queryId: String = "query_id", dataId: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val bitsEff = if (bits > 0) bits else LshSizing.srpBits(data.count())
    val d = data.select(col(dataId), col(vecCol).as("d_vec"),
      dataops.srpSignature(col(vecCol), bitsEff).as("bucket"))
    val probes = array(
      col("sig") +: (0 until bitsEff).map(b =>
        col("sig").bitwiseXOR(lit(1L << b))): _*)
    val q = queries.select(col(queryId), col(vecCol).as("q_vec"),
      dataops.srpSignature(col(vecCol), bitsEff).as("sig"))
      .withColumn("bucket", explode(probes))
      .drop("sig")
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cosine").desc, col(dataId).asc)
    q.join(d, "bucket")
      .withColumn("cosine", dataops.cosineSim(col("q_vec"), col("d_vec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(queryId), col(dataId), col("cosine"), col("rank"))
  }

  /** IVF-style coarse index: `nCentroids` hash-sampled centroid vectors
    * (optionally refined by `refineIters` Lloyd steps), every vector
    * assigned to its nearest list MAP-SIDE by a centroid-matrix
    * expression — no shuffle, no per-row window — and queries probing the
    * `nProbe` nearest lists.  The standard billion-scale layout: the only
    * data movement is the probe equi-join on list_id; queries touch
    * nProbe/nCentroids of the corpus.
    *
    * `refineIters` defaults to 0 because a parallel mean is not bit-for-
    * bit order-stable; turn it on when representative lists matter more
    * than exact replayability. */
  def ivfTopK(queries: DataFrame, data: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4, refineIters: Int = 0,
              queryId: String = "query_id", dataId: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    // deterministic, representative sample: smallest nCentroids by id
    // hash (TakeOrdered — per-partition top-n, no full sort/shuffle)
    var centroids: Array[Array[Float]] =
      sampleByHash(data, nCentroids, dataId, vecCol)
    require(centroids.nonEmpty, "ivfTopK: empty data")
    val dim = centroids.head.length
    // optional Lloyd refinement: one aggregation per iteration (partial
    // means combine map-side); empty lists keep their previous centroid
    var it = 0
    while (it < refineIters) {
      val mean = udaf(new VecMean(dim))
      val next = data
        .withColumn("list_id",
          element_at(dataops.centroidTop(col(vecCol), centroids, 1), 1))
        .groupBy("list_id").agg(mean(col(vecCol)).as("c_vec"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
      centroids = Array.tabulate(centroids.length)(i =>
        next.getOrElse(i, centroids(i)))
      it += 1
    }

    val indexed = data
      .select(col(dataId), col(vecCol).as("d_vec"),
        element_at(dataops.centroidTop(col(vecCol), centroids, 1), 1)
          .as("list_id"))
    val probed = queries
      .select(col(queryId), col(vecCol).as("q_vec"),
        explode(dataops.centroidTop(col(vecCol), centroids, nProbe))
          .as("list_id"))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cosine").desc, col(dataId).asc)
    broadcast(probed).join(indexed, "list_id")
      .withColumn("cosine", dataops.cosineSim(col("q_vec"), col("d_vec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(queryId), col(dataId), col("cosine"), col("rank"))
  }

  /** Product-quantization codebook: `m` subspaces of `dsub` dims, each
    * with `ksub` centroids (Jégou et al. 2011).  `centroids(s)(c)` is the
    * c-th centroid of subspace s. */
  final case class PqCodebook(m: Int, ksub: Int, dsub: Int,
                              centroids: Array[Array[Array[Float]]])
      extends Serializable

  /** Train PQ codebooks on a DETERMINISTIC sample (smallest `sampleN`
    * ids by hash — the same TakeOrdered trick as the IVF centroids, so
    * training is replayable bit-for-bit).  Per subspace: k-means with
    * first-k-distinct init and `iters` Lloyd steps, entirely driver-side
    * — the sample is a few hundred vectors, the expensive part (encoding
    * the corpus) stays map-side on the executors. */
  def trainPq(data: DataFrame, m: Int = 4, ksub: Int = 16,
              sampleN: Int = 512, iters: Int = 3,
              dataId: String = "vec_id", vecCol: String = "embedding"): PqCodebook = {
    // train on NORMALIZED vectors — the PQ ops operate on the unit
    // sphere (cosine = dot there), see VectorOpsPq.normalized
    val sample = sampleByHash(data, sampleN, dataId, vecCol)
      .map { v =>
        val ss = v.foldLeft(0.0)((a, x) => a + x.toDouble * x)
        if (ss > 0.0) { val inv = (1.0 / math.sqrt(ss)).toFloat; v.map(_ * inv) }
        else v
      }
    require(sample.nonEmpty, "trainPq: empty data")
    val dim = sample.head.length
    require(dim % m == 0, s"trainPq: dim $dim not divisible by m=$m")
    val dsub = dim / m
    val cbs = Array.tabulate(m) { s =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      // first-k-distinct init (deterministic)
      val init = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
      var i = 0
      while (init.length < ksub && i < subs.length) {
        if (!init.exists(c => java.util.Arrays.equals(c, subs(i)))) init += subs(i)
        i += 1
      }
      // pad by cycling the distinct centroids found (capture the base
      // length first — modulo against the growing buffer always picks 0)
      val baseLen = math.max(1, init.length)
      while (init.length < ksub) init += init(init.length % baseLen)
      var cents = init.toArray
      var it = 0
      while (it < iters) {
        val sums = Array.fill(ksub)(new Array[Double](dsub))
        val counts = new Array[Int](ksub)
        subs.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < ksub) {
            var d = 0.0; var j = 0
            while (j < dsub) { val x = v(j) - cents(c)(j); d += x.toDouble * x; j += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var j = 0
          while (j < dsub) { sums(best)(j) += v(j); j += 1 }
          counts(best) += 1
        }
        cents = Array.tabulate(ksub)(c =>
          if (counts(c) == 0) cents(c)
          else Array.tabulate(dsub)(j => (sums(c)(j) / counts(c)).toFloat))
        it += 1
      }
      cents
    }
    PqCodebook(m, ksub, dsub, cbs)
  }

  /** IVF-PQ approximate top-k — the billion-scale composition: a coarse
    * quantizer prunes to `nProbe` of `nCentroids` lists, a per-query ADC
    * lookup table scores the probed lists' PQ CODES (m additions per
    * vector instead of a d-dim dot product; at rest a vector is m ints,
    * not d floats), and the top `rerank` ADC candidates are re-ranked by
    * exact cosine after joining the full vectors back by id.  Only the
    * code table rides the probe join; full vectors travel for the
    * (tiny) re-rank set alone — the memory/IO story that makes PQ the
    * standard at 10^9+ vectors. */
  def ivfPqTopK(queries: DataFrame, data: DataFrame, k: Int,
                nCentroids: Int = 16, nProbe: Int = 4,
                m: Int = 4, ksub: Int = 16, rerank: Int = 0,
                queryId: String = "query_id", dataId: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    // a rerank pool smaller than k would silently truncate the result
    val nCand = if (rerank > 0) math.max(rerank, k) else math.max(4 * k, 32)
    val cb = trainPq(data, m, ksub, dataId = dataId, vecCol = vecCol)
    val coarse: Array[Array[Float]] =
      sampleByHash(data, nCentroids, dataId, vecCol)
    val codeTable = data.select(col(dataId),
      element_at(dataops.centroidTop(col(vecCol), coarse, 1), 1).as("list_id"),
      dataops.pqEncode(col(vecCol), cb.centroids).as("codes"))
    val probed = queries.select(col(queryId), col(vecCol).as("q_vec"),
      explode(dataops.centroidTop(col(vecCol), coarse, nProbe)).as("list_id"),
      dataops.pqLut(col(vecCol), cb.centroids).as("lut"))
    val wAdc = Window.partitionBy(col(queryId))
      .orderBy(col("adc").desc, col(dataId).asc)
    val cands = broadcast(probed).join(codeTable, "list_id")
      .withColumn("adc", dataops.pqAdc(col("codes"), col("lut"), ksub))
      .withColumn("adc_rank", row_number().over(wAdc))
      .where(col("adc_rank") <= nCand)
      .select(col(queryId), col("q_vec"), col(dataId))
    val wCos = Window.partitionBy(col(queryId))
      .orderBy(col("cosine").desc, col(dataId).asc)
    cands.join(data.select(col(dataId), col(vecCol).as("d_vec")), dataId)
      .withColumn("cosine", dataops.cosineSim(col("q_vec"), col("d_vec")))
      .withColumn("rank", row_number().over(wCos))
      .where(col("rank") <= k)
      .select(col(queryId), col(dataId), col("cosine"), col("rank"))
  }

  /** Element-wise running mean of float vectors (the Lloyd-step reducer);
    * buffer = sums + count in one array so partial aggregation stays a
    * single fixed-width value. */
  private final class VecMean(dim: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Seq[Float], Array[Double], Seq[Float]] {
    def zero: Array[Double] = new Array[Double](dim + 1)
    def reduce(b: Array[Double], a: Seq[Float]): Array[Double] = {
      var i = 0
      while (i < dim && i < a.length) { b(i) += a(i); i += 1 }
      b(dim) += 1
      b
    }
    def merge(x: Array[Double], y: Array[Double]): Array[Double] = {
      var i = 0
      while (i <= dim) { x(i) += y(i); i += 1 }
      x
    }
    def finish(b: Array[Double]): Seq[Float] =
      if (b(dim) == 0) null
      else (0 until dim).map(i => (b(i) / b(dim)).toFloat)
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[Float]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }
}
