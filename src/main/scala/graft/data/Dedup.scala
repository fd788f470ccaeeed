package graft.data

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

/** Deduplication operators for training-data pipelines, each declarative
  * DataFrame algebra with one shuffle per logical phase:
  *
  *  - exact: hash-groupBy on the raw text (or a fingerprint);
  *  - MinHash+LSH: signature -> banded buckets -> bucket self-join ->
  *    exact n-gram Jaccard verify (candidates only);
  *  - SimHash: block-pair hamming LSH (15 tables of ~21-bit sub-keys);
  *  - embedding cosine near-dup: SRP-bucketed candidate pairs + exact
  *    cosine verify.
  *
  * All pair outputs are canonicalized (left_id < right_id) and therefore
  * partition-count independent.  At 10^12-doc scale the bucket self-joins
  * are the only shuffles; bucket skew (boilerplate text) is bounded by
  * `maxBucketSize` — oversized buckets are dropped and reported, the
  * standard web-dedup guardrail. */
object Dedup {

  /** Exact duplicate groups: keep the minimum id per identical text.
    *
    * The shuffle key is a 128-bit composite fingerprint (two independent
    * 64-bit hashes), NOT the text itself — grouping on the raw text would
    * carry the whole corpus through the exchange at web scale.  Collision
    * odds at 10^12 docs are ~10^-14 (birthday bound), the standard
    * content-hash dedup contract. */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    docs.groupBy(dataops.fingerprint(col(textCol)).as("fp"),
        xxhash64(col(textCol)).as("fp2"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .select("keep_id", "n_dups")

  /** Exact-duplicate pair list via fingerprint (cheaper shuffle key than
    * full text at web scale). */
  def exactPairs(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val fp = docs.select(col(idCol), dataops.fingerprint(col(textCol)).as("fp"))
    selfJoinPairs(fp, "fp", idCol)
  }

  /** Incremental (snapshot) exact dedup: drop rows of `newDocs` whose
    * text already exists in the prior corpus snapshot `oldDocs` — the
    * every-crawl-cycle operation of a growing corpus, where re-running
    * the full-corpus dedup would re-shuffle the whole snapshot.
    *
    * Shape (exact semantics, Bloom filters only as prefilters):
    *
    *  1. one pass over the snapshot builds a Bloom filter of 64-bit
    *     fingerprints (driver-side, rides into the scan as a plan
    *     constant — the broadcast-dimension-table shape);
    *  2. new rows whose fingerprint misses the filter are emitted
    *     map-side with NO join and NO shuffle (the overwhelming majority:
    *     only true dups + an `fpp` fraction become candidates);
    *  3. a second Bloom filter over the (usually tiny) candidate set
    *     prunes the snapshot scan the same way, so the exact verification
    *     anti-join on the 128-bit composite fingerprint shuffles only
    *     candidate-sized frames on BOTH sides.
    *
    * Bloom false positives cost a candidate row; false negatives are
    * impossible, and the anti-join restores exactness, so the result is
    * bit-identical to a plain text anti-join (the driver oracle replays
    * exactly that).  `newDocs` is scanned three times, all map-side (the
    * candidate-filter build plus the two output branches); persist it
    * upstream if its scan is expensive.
    *
    * `expectedOldDocs` sizes the snapshot filter (pass the snapshot's
    * known row count at scale; -1 counts it with one extra job).  The
    * plan-constant filter bounds the supported snapshot size by the JVM
    * array limit on its serialized form (~1.7×10^9 rows at fpp=0.01,
    * fewer at smaller fpp — checked against the actual bit count, not a
    * fixed row cap).  Beyond that, bucket-partition the snapshot by
    * fingerprint and run this per bucket (the cell-clustered-write
    * shape). */
  def incrementalDedup(newDocs: DataFrame, oldDocs: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text",
                       expectedOldDocs: Long = -1L,
                       fpp: Double = 0.01): DataFrame = {
    require(fpp > 0.0 && fpp < 0.5, s"fpp $fpp outside (0, 0.5)")
    val oldFp = oldDocs.select(dataops.fingerprint(col(textCol)).as("__graft_fp"),
      xxhash64(col(textCol)).as("__graft_fp2"))
      .where(col("__graft_fp").isNotNull) // null text matches nothing
    val nOld = math.max(1L,
      if (expectedOldDocs > 0) expectedOldDocs else oldFp.count())
    // the serialized filter must fit one JVM byte array: the optimal bit
    // count is -n ln(p) / (ln 2)^2 (the standard Bloom sizing formula)
    val bloomBits = math.ceil(
      -nOld * math.log(fpp) / (math.log(2.0) * math.log(2.0)))
    require(bloomBits <= (Int.MaxValue.toLong - 1024) * 8L,
      s"snapshot of $nOld rows at fpp=$fpp needs ${bloomBits / 8 / 1e9} GB " +
        "of Bloom filter — beyond the JVM byte-array ceiling of its " +
        "serialized plan-constant form; bucket-partition the snapshot by " +
        "fingerprint and run incrementalDedup per bucket")
    val snapBloom = BloomHolder.from(
      oldFp.stat.bloomFilter(col("__graft_fp"), nOld, fpp))
    def hit(c: org.apache.spark.sql.Column) = dataops.bloomMightContain(c, snapBloom)
    val newFp = newDocs
      .withColumn("__graft_fp", dataops.fingerprint(col(textCol)))
      .withColumn("__graft_fp2", xxhash64(col(textCol)))
    // null text has no fingerprint and can match nothing: always survives
    val misses = newFp.filter(col("__graft_fp").isNull || !hit(col("__graft_fp")))
    val cand = newFp.filter(col("__graft_fp").isNotNull && hit(col("__graft_fp")))
    // second filter: candidate fingerprints prune the snapshot scan so
    // the exact anti-join is candidate-sized on both sides.  Sized by
    // nOld (already validated above) instead of a count — a count would
    // cost one more full fingerprint pass over newDocs, and mis-sizing
    // this filter only moves its false-positive rate (true-positive
    // candidate fingerprints are bounded by the snapshot; Bloom-FP ones
    // add an fpp-fraction of the batch), never correctness.
    val candBloom = BloomHolder.from(
      cand.stat.bloomFilter(col("__graft_fp"), nOld, fpp))
    val oldPruned = oldFp.filter(dataops.bloomMightContain(col("__graft_fp"), candBloom))
    val verified = cand.join(oldPruned, Seq("__graft_fp", "__graft_fp2"),
      "left_anti")
    // by name: the using-columns join hoists the key columns to the
    // schema front, so a positional union would mis-align the payload
    misses.unionByName(verified).drop("__graft_fp", "__graft_fp2")
  }

  /** MinHash-LSH near-duplicate pairs with exact Jaccard verification.
    *
    * numHashes = bands * rowsPerBand; the LSH s-curve threshold is
    * (1/bands)^(1/rowsPerBand) (defaults: 16 bands x 4 rows -> ~0.5). */
  def minhashLsh(docs: DataFrame, jaccardThreshold: Double = 0.7,
                 numHashes: Int = 64, bands: Int = 16, shingle: Int = 3,
                 idCol: String = "doc_id", textCol: String = "text",
                 maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sig = docs.select(col(idCol),
      dataops.minhash(col(textCol), numHashes, shingle).as("sig"))
    // band id + hash of the band's rows -> bucket key; ids only through
    // the bucket shuffle (carrying shingle arrays as payload would
    // replicate them x bands through the exchange)
    // the band index is already hashed into the bucket value (seed of
    // split_sig), so the bucket alone is the shuffle key — carrying a
    // separate band column through the N x bands exchange would widen
    // every row for no information (cross-band 64-bit collisions only
    // add a rare false candidate, which the exact verify removes)
    val banded = sig.select(col(idCol),
      explode(split_sig(col("sig"), bands, rows)).as("bucket"))
    // window-count the bucket sizes to drop buckets over the cap.  The
    // self-join below does not reuse the window's partitioning: in the
    // final AQE plan each join side runs its own Window over its own
    // Exchange hashpartitioning(bucket), so the banded rows are
    // exchanged twice before the join on bucket
    val w = org.apache.spark.sql.expressions.Window.partitionBy("bucket")
    val capped = banded
      .withColumn("_bn", count(lit(1)).over(w))
      .where(col("_bn") <= maxBucketSize)
      .drop("_bn")
    val pairs = selfJoinPairs(capped, Seq("bucket"), idCol)
      .dropDuplicates("left_id", "right_id")
    // exact verify on hashed shingle sets: join the text back for
    // candidate pairs.  Deliberately ONE DAG — AQE broadcasts the tiny
    // pair frame, so the corpus is scanned/shingled map-side with no
    // shuffle.  A "smarter" variant (eager-checkpoint pairs + broadcast
    // semi-join pruning the shingle compute to candidate ids) measured
    // no better at 10M docs and adds a materialization barrier plus a
    // second corpus scan — kept fused (BENCH.md negative results).
    val texts = docs.select(col(idCol), col(textCol))
    pairs
      .join(texts.select(col(idCol).as("left_id"),
        dataops.shingles(col(textCol), shingle).as("left_sh")), "left_id")
      .join(texts.select(col(idCol).as("right_id"),
        dataops.shingles(col(textCol), shingle).as("right_sh")), "right_id")
      .withColumn("jaccard",
        size(array_intersect(col("left_sh"), col("right_sh"))).cast("double") /
          size(array_union(col("left_sh"), col("right_sh"))).cast("double"))
      .where(col("jaccard") >= jaccardThreshold)
      .select("left_id", "right_id", "jaccard")
  }

  /** bands x hash(rows) bucket keys from a signature array — numeric
    * xxhash64 over the band's longs (a string-concat bucket key costs
    * ~60 long->string conversions per doc). */
  private def split_sig(sig: org.apache.spark.sql.Column, bands: Int,
                        rows: Int): org.apache.spark.sql.Column =
    array((0 until bands).map(b =>
      xxhash64(lit(b) +: (0 until rows).map(r =>
        element_at(sig, b * rows + r + 1)): _*)): _*)

  /** SimHash near-dup pairs: hamming(sig) <= maxHamming via block LSH.
    *
    * The 64-bit signature splits into 6 blocks (11/11/11/11/10/10 bits);
    * by pigeonhole, 3 bit errors leave >= 3 blocks intact, so every pair
    * within hamming 3 agrees exactly on at least one of the C(6,2) = 15
    * ordered block PAIRS — each a ~21-bit sub-key.  Versus the classic
    * 4x16-bit table trick this multiplies the key space from 65k to ~4M
    * buckets per table: at 10^12 docs the expected bucket holds ~250k
    * docs instead of 15M, keeping the in-bucket self-join tractable and
    * the `maxBucketSize` guardrail a skew cap rather than a recall
    * destroyer (only genuinely boilerplate-identical blocks trip it). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text",
                   maxBucketSize: Int = 1000): DataFrame =
    signatureHammingPairs(
      docs.select(col(idCol), dataops.simhash(col(textCol)).as("sig")),
      maxHamming, idCol, "sig", maxBucketSize)

  /** Hamming-ball near-dup pairs over ANY precomputed 64-bit signature
    * column — SimHash, perceptual image average-hash, audio hash — via
    * the same block-pair LSH (recall guaranteed to hamming <= 3 by
    * pigeonhole, see [[simhashPairs]]).  Only (id, signature) rows enter
    * the bucket shuffle. */
  def signatureHammingPairs(sigs: DataFrame, maxHamming: Int = 3,
                            idCol: String = "doc_id", sigCol: String = "sig",
                            maxBucketSize: Int = 1000): DataFrame = {
    require(maxHamming <= 3, "6-block pair LSH guarantees recall only to hamming 3")
    val blocks = Seq((0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10))
    def blockVal(b: (Int, Int)) =
      shiftrightunsigned(col("sig"), b._1).bitwiseAND(lit((1L << b._2) - 1))
    val pairsIdx = for { a <- 0 until 6; b <- (a + 1) until 6 } yield (a, b)
    val sig = sigs.select(col(idCol), col(sigCol).as("sig"))
    val tabled = sig.select(col(idCol), col("sig"),
      posexplode(array(pairsIdx.map { case (a, b) =>
        blockVal(blocks(a)) * lit(1L << 16) + blockVal(blocks(b))
      }: _*)))
      .withColumnRenamed("pos", "table")
      .withColumnRenamed("col", "subkey")
    selfJoinPairsWithPayload(
      capBuckets(tabled, Seq("table", "subkey"), maxBucketSize),
      Seq("table", "subkey"), idCol, Seq("sig"))
      .dropDuplicates("left_id", "right_id")
      .withColumn("hamming", bit_count(col("left_sig").bitwiseXOR(col("right_sig"))))
      .where(col("hamming") <= maxHamming)
      .select("left_id", "right_id", "hamming")
  }

  /** Exact n-gram Jaccard near-duplicate pairs via a shingle inverted
    * index — the no-approximation member of the near-dup family (use
    * [[minhashLsh]] when the corpus is too large for exact posting
    * lists).
    *
    * Plan shape (one shuffle per phase, ids + 64-bit shingle hashes only,
    * never text):
    *   1. explode each doc's DISTINCT word-`n`-gram shingle hashes;
    *   2. document-frequency cap: shingles appearing in more than
    *      `maxDf` docs are stop-shingles (boilerplate) and are dropped
    *      from the POSTING INDEX only — the posting-list self-join is
    *      quadratic in df, so one viral shingle would otherwise dominate
    *      the whole job (standard prefix-filter guardrail; deterministic,
    *      so results stay replayable).  Set sizes stay PRE-cap, so the
    *      reported value is the TRUE-Jaccard lower bound (shared can
    *      only be undercounted, denominators are exact): a pair can be
    *      missed when most of its overlap is boilerplate — the inherent
    *      df-cap trade-off — but a reported jaccard never overstates;
    *   3. posting-list self-join (left_id < right_id) counting shared
    *      shingles per pair;
    *   4. Jaccard from the pre-aggregated set sizes:
    *      |A ∩ B| / (|A| + |B| - |A ∩ B|) — no second pass over text.
    */
  def ngramJaccardPairs(docs: DataFrame, jaccardThreshold: Double = 0.5,
                        shingle: Int = 3, idCol: String = "doc_id",
                        textCol: String = "text",
                        maxDf: Int = 10000): DataFrame = {
    // set size rides WITH each posting row (8 bytes) so no separate
    // per-doc aggregate + re-join is needed — at 10^12 docs that saves
    // three id-keyed shuffles; sizes are PRE-cap (true Jaccard
    // denominators), the df cap prunes candidate generation only
    val sh = docs.select(col(idCol).as("id"),
        array_distinct(dataops.shingles(col(textCol), shingle)).as("shs"))
      .select(col("id"), size(col("shs")).cast("long").as("sz"),
        explode(col("shs")).as("sh"))
    val kept = sh.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("sh")))
      .where(col("df") <= maxDf)
      .select("id", "sz", "sh")
    kept.as("a").join(kept.as("b"), Seq("sh"))
      .where(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("left_id"), col("b.id").as("right_id"))
      .agg(count(lit(1)).as("shared"),
        first(col("a.sz")).as("lsz"), first(col("b.sz")).as("rsz"))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("lsz") + col("rsz") - col("shared")).cast("double"))
      .where(col("jaccard") >= jaccardThreshold)
      .select("left_id", "right_id", "jaccard")
  }

  /** Benchmark decontamination: corpus docs that share word-shingle
    * n-grams with an eval/benchmark set — the canonical pre-training
    * hygiene join (flag, then drop or audit, any training document that
    * leaks test material).
    *
    * Shape: shingle both sides with the same FNV word-shingle chain the
    * Jaccard index uses ([[dataops.shingles]]); the eval side — by
    * definition tiny next to a 10^12-doc corpus — collapses to distinct
    * (shingle, eval_id, eval set size) postings and BROADCASTS, so the
    * corpus is scanned once map-side with no shuffle of its text or
    * postings; the only exchange is the per-(doc, eval) count aggregate,
    * keyed on two ids.  Overlap is measured against the EVAL doc's
    * shingle count (`overlap = shared / |eval shingles|`): the question
    * is "how much of the benchmark leaks", not "how dup-like is the
    * doc", so a short eval prompt fully contained in a long page scores
    * 1.0 exactly as it should.
    *
    * Output: (doc_id, eval_id, n_shared, overlap) for pairs with
    * n_shared >= minShared, canonicalized and partition-count
    * independent. */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, shingle: Int = 3,
                    minShared: Int = 1, minOverlap: Double = 0.0,
                    idCol: String = "doc_id", textCol: String = "text",
                    evalIdCol: String = "eval_id",
                    evalTextCol: String = "text"): DataFrame = {
    val ev = broadcast(
      evalSet.select(col(evalIdCol).as("eval_id"),
          array_distinct(dataops.shingles(col(evalTextCol), shingle)).as("shs"))
        .select(col("eval_id"), size(col("shs")).cast("long").as("esz"),
          explode(col("shs")).as("sh")))
    val corp = corpus.select(col(idCol).as("doc_id"),
        explode(array_distinct(dataops.shingles(col(textCol), shingle))).as("sh"))
    corp.join(ev, "sh")
      .groupBy("doc_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"), first(col("esz")).as("esz"))
      .withColumn("overlap",
        col("n_shared").cast("double") / col("esz").cast("double"))
      .where(col("n_shared") >= minShared && col("overlap") >= minOverlap)
      .select("doc_id", "eval_id", "n_shared", "overlap")
  }

  /** Embedding cosine near-duplicate pairs: banded SRP-LSH candidates +
    * exact cosine verify.
    *
    * Corpus-size-derived by default ([[LshSizing]], one count job —
    * metadata-only on parquet): signature width grows with the corpus so
    * expected bucket occupancy stays constant (bucket pair explosion never
    * scales with n), and the per-table recall loss that wider signatures
    * cause is bought back with independent hyperplane tables until the
    * detect probability at `cosineThreshold` meets `recallTarget`.  All
    * tables are emitted by ONE projection over the single scan
    * ([[VectorOps.srpSignatures]]) and shuffle together on (table,
    * bucket); only ids travel through the bucket shuffle — vectors are
    * joined back for the candidate pairs only, after cross-table dedup.
    *
    * @param bits          0 = derive from corpus size; explicit value wins
    * @param maxBucketSize 0 = derive (skew guard at 64x expected
    *                      occupancy); negative = no cap
    * @param numTables     0 = derive from `cosineThreshold` + bits +
    *                      `recallTarget`
    */
  def embeddingNearDups(vecs: DataFrame, cosineThreshold: Double = 0.95,
                        bits: Int = 0, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        maxBucketSize: Int = 0,
                        numTables: Int = 0,
                        recallTarget: Double = 0.9): DataFrame = {
    val n = if (bits <= 0 || maxBucketSize == 0) vecs.count() else 0L
    val b = if (bits > 0) bits else LshSizing.srpBits(n)
    val t = if (numTables > 0) numTables
            else LshSizing.srpTables(cosineThreshold, b, recallTarget)
    val cap = if (maxBucketSize != 0) maxBucketSize else LshSizing.bucketCap(n, b)

    val sig = vecs.select(col(idCol),
        posexplode(dataops.srpSignatures(col(vecCol), b, t)).as(Seq("tbl", "bucket")))
    val pairs = selfJoinPairs(
      capBuckets(sig, Seq("tbl", "bucket"), cap), Seq("tbl", "bucket"), idCol)
      .dropDuplicates("left_id", "right_id")
    val lv = vecs.select(col(idCol).as("left_id"), col(vecCol).as("_lv"))
    val rv = vecs.select(col(idCol).as("right_id"), col(vecCol).as("_rv"))
    pairs.join(lv, "left_id").join(rv, "right_id")
      .withColumn("cosine", dataops.cosineSim(col("_lv"), col("_rv")))
      .where(col("cosine") >= cosineThreshold)
      .select("left_id", "right_id", "cosine")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): partition the embedding space with a
    * deterministic coarse quantizer, then within each cluster drop every
    * vector whose cosine to an EARLIER cluster member (canonical order:
    * id ascending) reaches `threshold` — keep-first pruning.  Where
    * [[embeddingNearDups]] finds near-IDENTICAL pairs (cosine ~0.95+),
    * this prunes semantic REDUNDANCY at much lower thresholds, where
    * LSH banding has no gap to exploit — the regime the paper targets.
    *
    * One deliberate deviation from the paper for reproducibility:
    * centroids are the deterministic hash-sample (or caller-supplied)
    * rather than randomly-initialized k-means — same quantizer as the
    * IVF index, so the partitioning is bit-for-bit replayable.  The drop
    * rule has two variants:
    *   - default (`paperRule = false`): drop when similar to ANY earlier
    *     cluster member, kept or dropped.  Non-recursive, so it is
    *     exactly replayable by a SQL self-join (the q_semantic_dedup
    *     oracle) and prunes a superset of the paper's rule;
    *   - `paperRule = true`: drop only when similar to an earlier
    *     SURVIVOR — the paper's sequential greedy, cheaper per row
    *     (compares against kept members only) but recursive, so it has
    *     no non-recursive SQL mirror.
    *
    * Scale shape: the centroid argmax is MAP-SIDE (the centroid matrix
    * is baked into a codegen expression) and computed EXACTLY ONCE per
    * row; the single exchange repartitions (id, vector, cluster) by
    * cluster, a partition-local sort orders each cluster by id, and the
    * run processor walks members in order with early-exit on the first
    * similar predecessor — no pair materialization, no recomputed
    * lineage.  Within-cluster pairwise cosine is SemDeDup's inherent
    * cost: size `nClusters` so n/nClusters stays bounded (the paper runs
    * ~11k clusters at 10^8 docs).  `maxClusterSize` is the skew guard —
    * clusters over the cap are EXEMPTED from pruning (kept whole with
    * their vectors discarded from the buffer, never silently truncated),
    * the same fail-open contract as the LSH bucket caps.
    *
    * Returns every input id with its cluster and a `kept` flag. */
  def semanticDedup(vecs: DataFrame, nClusters: Int = 1024,
                    threshold: Double = 0.9,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    centroids: Array[Array[Float]] = null,
                    maxClusterSize: Int = 100000,
                    paperRule: Boolean = false): DataFrame = {
    val cents =
      if (centroids != null) centroids
      else Ann.sampleByHash(vecs, nClusters, idCol, vecCol)
    require(cents.nonEmpty, "semanticDedup: no centroids")
    val assigned = vecs.select(col(idCol), col(vecCol).as("_v"),
      element_at(dataops.centroidTop(col(vecCol), cents, 1), 1)
        .cast("long").as("cluster"))
    val outSchema = StructType(Seq(assigned.schema.fields(0),
      StructField("cluster", LongType, nullable = true),
      StructField("kept", BooleanType, nullable = false)))
    val thr = threshold
    val cap = maxClusterSize
    val paper = paperRule
    assigned
      .repartition(col("cluster"))
      .sortWithinPartitions(col("cluster"), col(idCol))
      .mapPartitions { rows =>
        val in = rows.buffered
        new Iterator[Row] {
          private var out: Iterator[Row] = Iterator.empty
          def hasNext: Boolean = {
            while (!out.hasNext && in.hasNext) out = nextRun()
            out.hasNext
          }
          def next(): Row = { hasNext; out.next() }
          // consume one cluster's (sorted, contiguous) run and decide it
          private def nextRun(): Iterator[Row] = {
            val nullKey = in.head.isNullAt(2)
            val cluster: Any = if (nullKey) null else in.head.getLong(2)
            val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
            val vs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
            var exempt = nullKey // a null vector has no similarity: keep
            while (in.hasNext && (if (nullKey) in.head.isNullAt(2)
                                  else !in.head.isNullAt(2) &&
                                       in.head.getLong(2) == cluster)) {
              val r = in.next()
              ids += r.get(0)
              if (!exempt) {
                if (ids.length > cap) { exempt = true; vs.clear() }
                else vs += r.getSeq[Float](1).toArray
              }
            }
            if (exempt) ids.iterator.map(id => Row(id, cluster, true))
            else {
              val m = ids.length
              val kept = new Array[Boolean](m)
              val survivors = scala.collection.mutable.ArrayBuffer.empty[Int]
              var i = 0
              while (i < m) {
                var dropped = false
                if (paper) {
                  var j = 0
                  while (!dropped && j < survivors.length) {
                    if (cosArr(vs(survivors(j)), vs(i)) >= thr) dropped = true
                    j += 1
                  }
                } else {
                  var j = 0
                  while (!dropped && j < i) {
                    if (cosArr(vs(j), vs(i)) >= thr) dropped = true
                    j += 1
                  }
                }
                kept(i) = !dropped
                if (!dropped) survivors += i
                i += 1
              }
              Iterator.range(0, m).map(i => Row(ids(i), cluster, kept(i)))
            }
          }
        }
      }(Encoders.row(outSchema))
  }

  /** Same double-accumulation order as [[VectorOps.cosine]] so the local
    * run processor and the codegen expression cannot disagree. */
  private def cosArr(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Connected components over a near-duplicate pair graph: every doc
    * labeled with the minimum id reachable from it — the canonical
    * "collapse dup clusters, keep one representative" step that follows
    * any pair-producing dedup at corpus scale.
    *
    * Iterative min-label propagation: each round joins the symmetric
    * edge list against current labels and takes the per-node minimum;
    * converges in O(graph diameter) rounds (dup graphs are near-cliques,
    * so 2-4 in practice).  Runs TO CONVERGENCE — a silent iteration cap
    * would split long chains into wrongly-distinct clusters — with
    * `maxIter` only as a defense against a non-terminating bug (min-label
    * propagation is monotone on a finite lattice, so it cannot trigger on
    * valid input); hitting it throws rather than returning wrong labels.
    * Labels are localCheckpointed per round — the tiny frames otherwise
    * stack re-evaluated join lineage — and the edge list is the only
    * large shuffle (by 64-bit-hashable ids).  Output is independent of
    * partitioning (min is order-insensitive). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10000): DataFrame = {
    val edges = pairs.select(col("left_id").as("a"), col("right_id").as("b"))
      .unionByName(pairs.select(col("right_id").as("a"), col("left_id").as("b")))
      .distinct()
      .localCheckpoint(true)
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // neighbour labels flow along edges; keep the per-node minimum of
      // (own label, incoming labels)
      val prop = edges.join(labels.withColumnRenamed("id", "b_id"),
          col("b") === col("b_id"))
        .select(col("a").as("id"), col("lbl"))
      val next = labels.unionByName(prop)
        .groupBy("id").agg(min("lbl").as("lbl"))
        .localCheckpoint(true)
      val changes = next.join(labels.withColumnRenamed("lbl", "old"), "id")
        .where(col("lbl") =!= col("old")).count()
      labels = next
      converged = changes == 0
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  // --- helpers --------------------------------------------------------------

  /** Drop LSH buckets larger than `cap` (boilerplate guardrail). */
  private def capBuckets(df: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    if (cap <= 0) df
    else {
      val counts = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_bn"))
        .where(col("_bn") <= cap)
        .select(keys.map(col): _*)
      df.join(counts, keys)
    }
  }

  /** Canonicalized (left < right) same-key pairs. */
  private def selfJoinPairs(df: DataFrame, key: String, idCol: String): DataFrame =
    selfJoinPairs(df, Seq(key), idCol)

  private def selfJoinPairs(df: DataFrame, keys: Seq[String], idCol: String): DataFrame = {
    val l = df.select(keys.map(col) :+ col(idCol).as("left_id"): _*)
    val r = df.select(keys.map(col) :+ col(idCol).as("right_id"): _*)
    l.join(r, keys).where(col("left_id") < col("right_id"))
      .select("left_id", "right_id")
  }

  /** Exact substring-duplicate spans (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499 — the suffix-array
    * ExactSubstr dedup re-expressed as distributed window hashing): find
    * every `window`-token run that occurs at least `minOccurrences` times
    * across the corpus and return the merged per-document token spans
    * [span_start, span_end) covering the non-canonical occurrences.
    *
    * Plan shape (the only one that works at 10^12 docs):
    *   1. one scan explodes per-token window hashes — (id, pos, h), the
    *      op's inherent row volume;
    *   2. hash occurrence counts AND the canonical first occurrence
    *      (min (id, pos)) are PARTIAL-aggregable (map-side combine shrinks
    *      each task to its distinct hashes), so boilerplate stop-windows
    *      never create a hot shuffle partition — and unlike the quadratic
    *      pair ops there is no join fan-out (each window row matches at
    *      most one hash row), so `maxOccurrences` defaults to UNLIMITED:
    *      the hottest boilerplate is precisely what this op exists to
    *      strip.  Set it only as an explicit policy knob;
    *   3. a second map-side scan re-derives the windows and joins the
    *      (small) duplicate-hash frame — AQE broadcasts it when it fits;
    *      the corpus text itself never shuffles;
    *   4. per-doc span merge is a groupBy on the duplicate windows only
    *      (rare rows), merged by a codegen expression.
    *
    * `keepFirst=true` (the paper's semantics) exempts the globally first
    * occurrence — ordered by (id, pos) — so one copy of every duplicated
    * passage survives a subsequent [[stripDuplicateSpans]]. */
  def duplicateSpans(docs: DataFrame, window: Int = 50,
                     minOccurrences: Long = 2L,
                     maxOccurrences: Long = Long.MaxValue,
                     keepFirst: Boolean = true,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    def windows(df: DataFrame): DataFrame = df
      .select(col(idCol).as("did"),
        posexplode(dataops.shingles(col(textCol), window)).as(Seq("pos", "h")))
    val hot = windows(docs).groupBy("h").agg(
        count(lit(1)).as("occ"),
        min(struct(col("did"), col("pos"))).as("first"))
      .where(col("occ") >= minOccurrences && col("occ") <= maxOccurrences)
      .select("h", "first")
    val dup = windows(docs).join(hot, "h")
      .where(if (keepFirst)
        !(col("did") === col("first.did") && col("pos") === col("first.pos"))
      else lit(true))
    dup.groupBy("did")
      .agg(sort_array(collect_list(col("pos").cast("long"))).as("ps"))
      .select(col("did"),
        explode(dataops.mergeTokenSpans(col("ps"), window)).as("span"))
      .select(col("did").as(idCol),
        col("span").getField("s").as("span_start"),
        col("span").getField("e").as("span_end"))
  }

  /** Remove the duplicate spans found by [[duplicateSpans]] from the
    * corpus: every document comes back (clean docs untouched), duplicated
    * passages keep exactly their canonical first occurrence.  Tokens
    * covered by a span are dropped and survivors re-joined with single
    * spaces (corpus text is space-separated words).  The span frame is
    * duplicates-only, so the join back to the corpus broadcasts at any
    * realistic duplication rate. */
  def stripDuplicateSpans(docs: DataFrame, spans: DataFrame,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val perDoc = spans.groupBy(col(idCol).as("did")).agg(
      sort_array(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e")))).as("spans"))
    docs.join(perDoc, docs(idCol) === perDoc("did"), "left")
      .select(docs("*"),
        when(col("spans").isNull, col(textCol))
          .otherwise(dataops.dropTokenSpans(col(textCol), col("spans")))
          .as("clean_text"))
      .drop("did", "spans")
  }

  private def selfJoinPairsWithPayload(df: DataFrame, keys: Seq[String],
                                       idCol: String,
                                       payload: Seq[String]): DataFrame = {
    val lcols = col(idCol).as("left_id") +: payload.map(p => col(p).as(s"left_$p"))
    val rcols = col(idCol).as("right_id") +: payload.map(p => col(p).as(s"right_$p"))
    val l = df.select(keys.map(col) ++ lcols: _*)
    val r = df.select(keys.map(col) ++ rcols: _*)
    l.join(r, keys).where(col("left_id") < col("right_id"))
  }
}
