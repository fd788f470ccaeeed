package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.data.{Ann, Dedup, MediaCodec, Multimodal, TextOps}

class DataOpsSpec extends AnyFunSuite with BeforeAndAfterAll {
  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("data-ops-spec")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** 200 base docs + planted near-dups (1-word edits) + exact dups. */
  private def corpus(): DataFrame = {
    val sp = spark; import sp.implicits._
    val words = Array("alpha", "beta", "gamma", "delta", "tile", "survey",
      "datum", "raster", "vector", "span", "badger", "mango")
    def sentence(id: Long, n: Int): String =
      (0 until n).map(i => words((graft.data.DedupHash.mix(id * 97 + i) % words.length).toInt.abs))
        .mkString(" ")
    val base = (0L until 200L).map(i => (f"d$i%04d", sentence(i, 30)))
    val nearDups = (0L until 40L).map { i =>
      val (_, t) = base(i.toInt)
      (f"n$i%04d", t.replaceFirst("\\w+$", "zzedit")) // edit last word
    }
    val exactDups = (0L until 20L).map(i => (f"x$i%04d", base(i.toInt)._2))
    (base ++ nearDups ++ exactDups).toDF("doc_id", "text")
  }

  test("exact dedup groups duplicates") {
    val groups = Dedup.exact(corpus()).where(col("n_dups") > 1)
    assert(groups.count() == 20)
    val pairs = Dedup.exactPairs(corpus())
    assert(pairs.count() == 20)
  }

  test("incremental dedup: exact anti-join semantics, one verification join") {
    val sp = spark; import sp.implicits._
    val all = corpus() // 200 base + 40 near-dups + 20 exact dups
    // snapshot = the first 100 base docs; new batch = the whole corpus
    val old = all.where(col("doc_id").startsWith("d") &&
      col("doc_id") < "d0100")
    val out = Dedup.incrementalDedup(all, old)
    // brute-force oracle: plain anti-join on raw text
    val expect = all.as("n")
      .join(old.as("o"), col("n.text") === col("o.text"), "left_anti")
    assert(out.select("doc_id").collect().map(_.getString(0)).sorted.toSeq ==
      expect.select("doc_id").collect().map(_.getString(0)).sorted.toSeq)
    // d0000-d0099 and their exact-dup twins x0000-x0019 fall; near-dup
    // edits and d0100+ survive
    assert(out.count() == 140)
    // null text has no fingerprint and must survive
    val withNull = all.unionByName(
      Seq(("znull", null.asInstanceOf[String])).toDF("doc_id", "text"))
    assert(Dedup.incrementalDedup(withNull, old)
      .where(col("doc_id") === "znull").count() == 1)
    // snapshot-size guardrail (plan-constant Bloom ceiling)
    assertThrows[IllegalArgumentException](
      Dedup.incrementalDedup(all, old, expectedOldDocs = 3000000000L))
    // plan shape: the Bloom-miss branch is join-free — the whole result
    // carries exactly ONE join (the candidate-sized exact verification)
    val joins = out.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size == 1, s"expected 1 join, got ${joins.size}")
  }

  test("minhash LSH finds planted near-dups with exact-jaccard verify") {
    val pairs = Dedup.minhashLsh(corpus(), jaccardThreshold = 0.8)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // every planted near-dup pair (dXXXX, nXXXX) must be found: jaccard of
    // a 1-word-of-30 edit is 28/... well above 0.8 for 3-gram shingles?
    // 3-gram shingles: 28 shingles, edit changes last 3 -> j = 25/31 ~ 0.81
    val expected = (0L until 40L).map(i => (f"d$i%04d", f"n$i%04d")).toSet
    val found = expected.intersect(pairs)
    assert(found.size >= 36, s"LSH recall too low: ${found.size}/40")
    // precision: no pair of unrelated base docs
    val falsePairs = pairs.filter { case (a, b) =>
      a.startsWith("d") && b.startsWith("d") &&
        a.substring(1) != b.substring(1)
    }
    assert(falsePairs.isEmpty, s"false positives: $falsePairs")
  }

  test("ngram Jaccard pairs: exact posting-list recall + df guardrail") {
    // exact (non-LSH) near-dup: EVERY planted pair must surface — the
    // inverted index has no banding miss probability
    val pairs = Dedup.ngramJaccardPairs(corpus(), jaccardThreshold = 0.7)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val found = pairs.map(p => (p._1, p._2)).toSet
    val expected = (0L until 40L).map(i => (f"d$i%04d", f"n$i%04d")).toSet
    assert(expected.subsetOf(found),
      s"missing exact pairs: ${expected.diff(found).take(5)}")
    assert(pairs.forall(_._3 >= 0.7))
    // df cap: a stop-shingle shared by everything must not connect
    // unrelated docs once capped below the corpus size
    val sp = spark; import sp.implicits._
    val boiler = (0 until 50).map(i => (s"b$i", s"the same header everywhere unique$i body$i tail$i"))
      .toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(boiler, jaccardThreshold = 0.1, maxDf = 10)
    assert(capped.count() == 0)
  }

  test("simhash pairs catch exact and near duplicates at low hamming") {
    val pairs = Dedup.simhashPairs(corpus(), maxHamming = 3)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // exact dups have identical simhash -> hamming 0
    val exact = (0L until 20L).map(i => (f"d$i%04d", f"x$i%04d")).toSet
    assert(exact.subsetOf(pairs), "exact dups must be hamming-0 pairs")
  }

  test("embedding near-dups and ANN agree with brute force") {
    val sp = spark; import sp.implicits._
    // deterministic 16-dim vectors in 4 well-separated clusters
    val vecs = (0 until 200).map { i =>
      val cluster = i % 4
      val base = Array.tabulate(16)(d =>
        if (d / 4 == cluster) 1.0f else 0.02f)
      val jitter = Array.tabulate(16)(d =>
        (graft.data.DedupHash.mix(i.toLong * 31 + d) % 1000).toFloat / 50000f)
      (f"v$i%04d", base.zip(jitter).map { case (a, b) => a + b })
    }.toDF("vec_id", "embedding")
    val queries = vecs.limit(12)
      .select(col("vec_id").as("query_id"), col("embedding"))

    val brute = Ann.bruteForceTopK(queries, vecs, k = 5)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val lsh = Ann.lshTopK(queries, vecs, k = 5, bits = 8)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val ivf = Ann.ivfTopK(queries, vecs, k = 5, nCentroids = 8, nProbe = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(brute.size == 60)
    val lshRecall = lsh.intersect(brute).size.toDouble / brute.size
    val ivfRecall = ivf.intersect(brute).size.toDouble / brute.size
    assert(lshRecall >= 0.9, s"LSH recall $lshRecall")
    assert(ivfRecall >= 0.9, s"IVF recall $ivfRecall")

    val nearDups = Dedup.embeddingNearDups(vecs, cosineThreshold = 0.999, bits = 6)
    // same-cluster jittered vectors are nearly parallel
    assert(nearDups.count() > 0)
  }

  test("brute-force top-k: ties at the kth cosine and k above the data rank like a full sort") {
    val sp = spark; import sp.implicits._
    // d0..d2 and d3..d4 are identical vectors, so their cosines tie exactly
    val data = Seq(
      "d0" -> Array(1f, 0f, 0f), "d1" -> Array(1f, 0f, 0f), "d2" -> Array(1f, 0f, 0f),
      "d3" -> Array(1f, 1f, 0f), "d4" -> Array(1f, 1f, 0f), "d5" -> Array(0f, 0.5f, 1f))
    val queries = Seq("qa" -> Array(1f, 0.1f, 0f), "qb" -> Array(0.2f, 1f, 0f))
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = a.map(x => x.toDouble * x).sum; val nb = b.map(x => x.toDouble * x).sum
      dot / math.sqrt(na * nb)
    }
    val dataDf = data.toDF("vec_id", "embedding")
    val queryDf = queries.toDF("query_id", "embedding")
    for (k <- Seq(1, 2, 3, 4, 5, 6, 10)) {
      val got = Ann.bruteForceTopK(queryDf, dataDf, k).collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(3))).toSet
      val want = (for ((q, qv) <- queries) yield
        data.sortBy { case (id, dv) => (-cosine(qv, dv), id) }.take(k)
          .zipWithIndex.map { case ((id, _), i) => (q, id, i + 1) }).flatten.toSet
      assert(got == want, s"k=$k")
    }
  }

  test("IVF-PQ: ADC candidates + exact re-rank reach brute-force recall") {
    val sp = spark; import sp.implicits._
    val vecs = (0 until 200).map { i =>
      val cluster = i % 4
      val base = Array.tabulate(16)(d => if (d / 4 == cluster) 1.0f else 0.02f)
      val jitter = Array.tabulate(16)(d =>
        (graft.data.DedupHash.mix(i.toLong * 31 + d) % 1000).toFloat / 50000f)
      (f"v$i%04d", base.zip(jitter).map { case (a, b) => a + b })
    }.toDF("vec_id", "embedding")
    val queries = vecs.limit(12)
      .select(col("vec_id").as("query_id"), col("embedding"))

    val brute = Ann.bruteForceTopK(queries, vecs, k = 5)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val pq = Ann.ivfPqTopK(queries, vecs, k = 5, nCentroids = 8, nProbe = 4,
        m = 4, ksub = 16)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val recall = pq.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"IVF-PQ recall $recall")

    // deterministic training + encoding: two runs are identical
    val pq2 = Ann.ivfPqTopK(queries, vecs, k = 5, nCentroids = 8, nProbe = 4,
        m = 4, ksub = 16)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pq == pq2)

    // code words are m sub-codes in [0, ksub)
    val cb = Ann.trainPq(vecs, m = 4, ksub = 16)
    assert(cb.m == 4 && cb.ksub == 16 && cb.dsub == 4)
    val codes = vecs.select(
        graft.data.dataops.pqEncode(col("embedding"), cb.centroids).as("c"))
      .collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == 4 && c.forall(x => x >= 0 && x < 16)))
  }

  test("IVF: map-side assignment (single window in plan) + Lloyd refinement") {
    val sp = spark; import sp.implicits._
    val vecs = (0 until 200).map { i =>
      val cluster = i % 4
      val base = Array.tabulate(16)(d => if (d / 4 == cluster) 1.0f else 0.02f)
      val jitter = Array.tabulate(16)(d =>
        (graft.data.DedupHash.mix(i.toLong * 31 + d) % 1000).toFloat / 50000f)
      (f"v$i%04d", base.zip(jitter).map { case (a, b) => a + b })
    }.toDF("vec_id", "embedding")
    val queries = vecs.limit(12)
      .select(col("vec_id").as("query_id"), col("embedding"))

    val ivf = Ann.ivfTopK(queries, vecs, k = 5, nCentroids = 8, nProbe = 4)
    // list assignment must be a pure projection: the only Window in the
    // whole plan is the final per-query rank (the old design used two
    // more windows + a full shuffle just for the centroid argmin)
    val plan = ivf.queryExecution.executedPlan.toString
    val nWindows = "(?m)^\\s*[+:\\-\\s]*Window ".r.findAllIn(plan).size +
      plan.linesIterator.count(_.trim.startsWith("Window"))
    assert(plan.contains("centroid_top"), "assignment expression missing from plan")
    assert(nWindows <= 2, s"IVF plan has extra windows:\n$plan")

    // Lloyd-refined centroids keep recall
    val brute = Ann.bruteForceTopK(queries, vecs, k = 5)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val refined = Ann.ivfTopK(queries, vecs, k = 5, nCentroids = 8,
        nProbe = 4, refineIters = 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val recall = refined.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"refined IVF recall $recall")
  }

  test("exact dedup shuffles fingerprints, not text (plan shape)") {
    val groups = Dedup.exact(corpus())
    val plan = groups.queryExecution.optimizedPlan.toString
    // the aggregate keys must be the two hash fingerprints — the raw text
    // column must never be a grouping attribute (it would carry the whole
    // corpus through the exchange at scale)
    val aggLine = plan.linesIterator.find(_.trim.startsWith("Aggregate")).get
    assert(!aggLine.contains("text#"),
      s"exact dedup still groups by raw text: $aggLine")
    // two 64-bit grouping keys
    assert(aggLine.takeWhile(_ != ']').count(_ == '#') == 2, aggLine)
  }

  test("simhash block-pair tables: hamming-3 recall guarantee holds") {
    val sp = spark; import sp.implicits._
    // synthetic signatures: flip exactly 3 random bits -> every pair must
    // share at least one intact block pair, so the table join finds it
    val sigs = (0 until 64).flatMap { i =>
      val s = graft.data.DedupHash.mix(i.toLong * 7919)
      val flipped = s ^ (1L << (i % 64)) ^ (1L << ((i * 31 + 7) % 64)) ^
        (1L << ((i * 17 + 39) % 64))
      Seq((f"a$i%03d", s), (f"b$i%03d", flipped))
    }.toDF("doc_id", "sig")
    // drive the same block-pair bucketing through a text-free path by
    // checking with the library on texts whose simhash we control is
    // impractical — instead verify the pigeonhole directly
    val blocks = Seq((0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10))
    def blockOf(v: Long, b: (Int, Int)): Long = (v >>> b._1) & ((1L << b._2) - 1)
    sigs.collect().grouped(2).foreach { pair =>
      val s = pair(0).getLong(1); val f = pair(1).getLong(1)
      val sharedPair = (for {
        a <- 0 until 6; b <- (a + 1) until 6
        if blockOf(s, blocks(a)) == blockOf(f, blocks(a)) &&
          blockOf(s, blocks(b)) == blockOf(f, blocks(b))
      } yield (a, b)).nonEmpty
      assert(java.lang.Long.bitCount(s ^ f) > 3 || sharedPair,
        f"hamming-3 pair missed by block tables: $s%x vs $f%x")
    }
  }

  test("decontamination: exact shingle-overlap recall vs a driver oracle") {
    import org.apache.spark.unsafe.types.UTF8String
    val docs = corpus()
    def prompt(t: String): String =
      t.split(" ").filter(_.nonEmpty).take(8).mkString(" ")
    val sp = spark; import sp.implicits._
    val evalRows = docs.where(col("doc_id") < "d0010")
      .collect().map(r => (r.getString(0), prompt(r.getString(1))))
    val evalSet = evalRows.toSeq.toDF("eval_id", "text")
    val got = Dedup.decontaminate(docs, evalSet)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    // driver oracle: the same shingle chain, all pairs
    def shs(t: String): Set[Long] =
      graft.data.DedupHash.shingleHashes(UTF8String.fromString(t), 3).toSet
    val expected = (for {
      (did, dt) <- docs.collect().map(r => (r.getString(0), r.getString(1)))
      (eid, et) <- evalRows
      shared = (shs(dt) intersect shs(et)).size
      if shared >= 1
    } yield ((did, eid), (shared.toLong, shared.toDouble / shs(et).size))).toMap
    assert(expected.nonEmpty)
    assert(got == expected)
    // planted containment: the source doc, its exact dup, and its
    // 1-word-edited near-dup all leak the full prompt (overlap 1.0)
    for (i <- 0 until 10) {
      assert(got((f"d$i%04d", f"d$i%04d"))._2 == 1.0)
      assert(got((f"x$i%04d", f"d$i%04d"))._2 == 1.0)
      assert(got((f"n$i%04d", f"d$i%04d"))._2 == 1.0)
    }
  }

  test("PII redaction scrubs emails, urls and phone numbers") {
    val sp = spark; import sp.implicits._
    val in = Seq(("d1",
      "write to jane.doe+x@corp.example.com or call 555-123-4567, " +
        "docs at https://ex.org/a_b/c%20d stay put")).toDF("doc_id", "text")
    val out = in.select(TextOps.redactPii(col("text"))).head.getString(0)
    assert(out == "write to <EMAIL> or call <PHONE>, docs at <URL> stay put", out)
  }

  test("connected components collapse dup clusters (chains + cliques)") {
    val sp = spark; import sp.implicits._
    // a 6-node chain (diameter 5 -> needs several propagation rounds),
    // a triangle, and a singleton edge
    val pairs = Seq(
      ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"), ("a", "b"),
      ("x", "y"), ("y", "z"), ("x", "z"),
      ("p", "q")).toDF("left_id", "right_id")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Seq("a", "b", "c", "d", "e", "f").forall(cc(_) == "a"))
    assert(Seq("x", "y", "z").forall(cc(_) == "x"))
    assert(cc("p") == "p" && cc("q") == "p")
    assert(cc.size == 11)
  }

  test("text annotations: token counts, quality, language id") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      ("e1", "the cat and the dog ran to the house with a ball"),
      ("d1", "der Hund und die Katze sind nicht in das Haus gelaufen"),
      ("f1", "le chat est dans la maison pour le moment avec les autres"),
      ("s1", "el perro es una mascota para la casa con los gatos"),
      ("u1", "zzz qqq xxx")).toDF("doc_id", "text")
    val ann = TextOps.annotate(docs).collect()
      .map(r => r.getAs[String]("doc_id") -> r).toMap
    assert(ann("e1").getAs[String]("lang_guess") == "en")
    assert(ann("d1").getAs[String]("lang_guess") == "de")
    assert(ann("f1").getAs[String]("lang_guess") == "fr")
    assert(ann("s1").getAs[String]("lang_guess") == "es")
    assert(ann("u1").getAs[String]("lang_guess") == "und")
    assert(ann("e1").getAs[Int]("n_tokens_ws") == 12)
    val q = ann("e1").getAs[org.apache.spark.sql.Row]("quality")
    assert(q.getAs[Double]("stopword_ratio") > 0.3)
    // fingerprint is whitespace-normalization invariant
    val fp = Seq(("a", "Hello   World"), ("b", "hello world"))
      .toDF("doc_id", "text")
      .select(graft.data.dataops.fingerprint(col("text")).as("fp"))
      .collect().map(_.getLong(0))
    assert(fp(0) == fp(1))
  }

  test("repetition stats: hand-counted grams, edge cases, fractions") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      // words: a b a b a -> 5 total, 2 distinct, top 'a'=3
      // bigrams: ab ba ab ba -> 4 total, 2 distinct, top 2
      // trigrams: aba bab aba -> 3 total, 2 distinct, top 2
      ("rep", "a b a b a"),
      ("one", "hello"),
      ("empty", "   "),
      // tokenization is case-insensitive alnum runs: "The,THE the!" -> 3x the
      ("norm", "The,THE the!")).toDF("doc_id", "text")
    val r = docs.select(col("doc_id"),
      TextOps.repetitionStats(col("text")).as("r")).collect()
      .map(x => x.getString(0) -> x.getStruct(1)).toMap
    assert(r("rep").toSeq == Seq(5, 2, 3, 4, 2, 2, 3, 2, 2))
    assert(r("one").toSeq == Seq(1, 1, 1, 0, 0, 0, 0, 0, 0))
    assert(r("empty").toSeq == Seq(0, 0, 0, 0, 0, 0, 0, 0, 0))
    assert(r("norm").toSeq == Seq(3, 1, 3, 2, 1, 2, 1, 1, 1))
    // derived Gopher fractions: the all-repeats doc maxes out
    val f = docs.where(col("doc_id") === "rep")
      .select(TextOps.repetitionFractions(col("text")).as("f"))
      .head().getStruct(0)
    assert(math.abs(f.getAs[Double]("dup_word_frac") - 3.0 / 5) < 1e-15)
    assert(math.abs(f.getAs[Double]("top_bigram_frac") - 0.5) < 1e-15)
    // a long unique doc exercises the counter's table growth path
    val uniq = (0 until 5000).map(i => s"w$i").mkString(" ")
    val u = Seq(("u", uniq)).toDF("doc_id", "text")
      .select(TextOps.repetitionStats(col("text"))).head().getStruct(0)
    assert(u.toSeq == Seq(5000, 5000, 1, 4999, 4999, 1, 4998, 4998, 1))
  }

  test("split assignment is deterministic, content-addressed and covering") {
    val sp = spark; import sp.implicits._
    val docs = (0 until 2000).map(i => (i.toLong, s"document body number $i"))
      .toDF("doc_id", "text")
    val assigned = docs.select(col("doc_id"),
      TextOps.splitAssign(col("text")).as("split"))
    val counts = assigned.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet.subsetOf(Set("train", "valid", "test")))
    assert(counts.values.sum == 2000)
    // ~90/5/5 within generous tolerance
    assert(counts("train") > 1600 && counts("train") < 1950)
    assert(counts("valid") > 30 && counts("test") > 30)
    // re-run bit-identical (pure projection, no nondeterminism)
    val again = docs.select(col("doc_id"),
      TextOps.splitAssign(col("text")).as("split"))
    assert(assigned.except(again).isEmpty && again.except(assigned).isEmpty)
    // exact duplicates land in the same split (content addressing)
    val dups = Seq((1L, "same text"), (2L, "same text")).toDF("doc_id", "text")
      .select(TextOps.splitAssign(col("text"))).distinct().count()
    assert(dups == 1)
  }

  test("multimodal plumbing: synthesize, size-repartition, real decode") {
    val media = Multimodal.synthesize(spark, 500, parts = 4)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 500)
    val byKind = feats.groupBy(_.kind).map { case (k, v) => k -> v.length }
    // ids cycle pgm/ppm/wav — every container decodes, none unsupported
    assert(byKind.keySet == Set("pgm", "ppm", "wav"), byKind.toString)
    val imgs = feats.filter(f => f.kind == "pgm" || f.kind == "ppm")
    assert(imgs.forall(f => f.width >= 16 && f.height >= 16 &&
      f.meanLevel > 64 && f.meanLevel < 192)) // uniform-random pixels ~127.5
    assert(imgs.forall(f => f.channels == (if (f.kind == "pgm") 1 else 3)))
    val wavs = feats.filter(_.kind == "wav")
    assert(wavs.forall(f => f.sampleRate == 8000 && f.durationMs >= 32 &&
      f.durationMs <= 160 && f.channels == 1))
    // deterministic: same id -> same checksum/ahash across partitionings
    val feats2 = Multimodal.extractFeatures(
      Multimodal.synthesize(spark, 500, parts = 7)).collect()
    assert(feats.map(f => f.media_id -> ((f.checksum, f.ahash))).toMap ==
      feats2.map(f => f.media_id -> ((f.checksum, f.ahash))).toMap)
    val rp = Multimodal.repartitionByBytes(media.toDF(), targetBytes = 64 * 1024)
    assert(rp.rdd.getNumPartitions >= 2)
  }

  test("media codecs: netpbm/wav decode, resize, ahash near-dup, frames") {
    // decode round-trips the synthetic generators bit-for-bit
    val pgm = MediaCodec.decodeNetpbm(Multimodal.synthPgm(7L, 33, 21))
    assert(pgm.width == 33 && pgm.height == 21 && pgm.channels == 1)
    val ppm = MediaCodec.decodeNetpbm(Multimodal.synthPpm(7L, 19, 12))
    assert(ppm.width == 19 && ppm.height == 12 && ppm.channels == 3)
    // header comments and multi-digit dims parse per the netpbm spec
    val commented = ("P5\n# c1\n# c2\n 128\t64\n255\n").getBytes("US-ASCII") ++
      Array.fill[Byte](128 * 64)(42)
    val ci = MediaCodec.decodeNetpbm(commented)
    assert(ci.width == 128 && ci.height == 64 && ci.luma(5, 5) == 42)
    val wav = MediaCodec.decodeWav(Multimodal.synthWav(7L, 8000, 800))
    assert(wav.sampleRate == 8000 && wav.samples.length == 800)
    // resize: a constant image stays constant at any size
    val flat = MediaCodec.Image(40, 30, 1, Array.fill[Byte](1200)(100))
    val rs = MediaCodec.resize(flat, 8, 8)
    assert(rs.pixels.forall(p => (p & 0xff) == 100))
    // ahash: identical images match; a box-downscaled copy is near (few
    // bits), an unrelated image is far (~32 bits expected)
    val a = MediaCodec.decodeNetpbm(Multimodal.synthPgm(11L, 64, 64))
    val aSmall = MediaCodec.resize(a, 32, 32)
    val b = MediaCodec.decodeNetpbm(Multimodal.synthPgm(99L, 64, 64))
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(MediaCodec.averageHash(a), MediaCodec.averageHash(aSmall)) <= 12)
    assert(ham(MediaCodec.averageHash(a), MediaCodec.averageHash(b)) >= 16)
    // concatenated-netpbm stream = multi-frame video stand-in
    val stream = Multimodal.synthPgm(1L, 17, 9) ++ Multimodal.synthPgm(2L, 17, 9) ++
      Multimodal.synthPgm(3L, 17, 9) ++ Multimodal.synthPgm(4L, 17, 9)
    assert(MediaCodec.netpbmFrames(stream).length == 4)
    assert(MediaCodec.frameSample(stream, 2).length == 2)
    // unknown container takes the documented fallback, not an exception
    val f = MediaCodec.decode("x", Array[Byte](0x1f, 0x8b.toByte, 1, 2, 3))
    assert(f.kind == "unsupported" && f.nBytes == 5)
    // CORRUPT containers surface in-band (kind="corrupt"), never by
    // hanging or killing the executor:
    // (a) WAV with a negative chunk length used to stall the chunk walk
    val evilWav = "RIFF\u0000\u0000\u0000\u0000WAVE".getBytes("US-ASCII") ++
      "junk".getBytes("US-ASCII") ++ Array[Byte](0xf8.toByte, 0xff.toByte,
        0xff.toByte, 0xff.toByte) ++ Array.fill[Byte](16)(0)
    assert(MediaCodec.decode("w", evilWav).kind == "corrupt")
    // (b) netpbm dimensions whose product overflows Int
    val evilPgm = "P5\n46341 46341\n255\n".getBytes("US-ASCII") ++
      Array.fill[Byte](16)(1)
    assert(MediaCodec.decode("p", evilPgm).kind == "corrupt")
    // (c) truncated raster / truncated fmt chunk
    val shortPgm = "P5\n8 8\n255\n".getBytes("US-ASCII") ++ Array.fill[Byte](3)(1)
    assert(MediaCodec.decode("q", shortPgm).kind == "corrupt")
  }

  test("LSH sizing bounds bucket occupancy and meets recall at web scale") {
    // pure sizing math at 10^8 and 10^9 vectors — the scales where a fixed
    // 12-bit table stops working (the round-2 'bits sizing' footnote)
    for (n <- Seq(100000000L, 1000000000L)) {
      val b = graft.data.LshSizing.srpBits(n)
      assert(b <= 24, s"bits $b")
      val expected = n / math.pow(2.0, b)
      assert(expected <= 256.0, s"expected occupancy $expected at n=$n")
      val cap = graft.data.LshSizing.bucketCap(n, b)
      assert(cap >= 4096 && cap <= 64 * 256, s"cap $cap")
      // derived tables recover the recall the wide signature costs
      val t = graft.data.LshSizing.srpTables(0.95, b)
      assert(t >= 1 && t <= 32)
      val p = math.pow(graft.data.LshSizing.srpCollisionProb(0.95), b)
      val detect = 1.0 - math.pow(1.0 - p, t)
      assert(detect >= 0.9, s"detect prob $detect at n=$n bits=$b tables=$t")
    }
    // monotone: a bigger corpus gets a wider signature
    assert(graft.data.LshSizing.srpBits(40000) > graft.data.LshSizing.srpBits(500))
  }

  test("embeddingNearDups auto-sizing finds planted pairs at two corpus scales") {
    val sp = spark; import sp.implicits._
    def unit(seed: Long): Array[Float] = {
      val v = Array.tabulate(16)(d =>
        ((graft.data.DedupHash.mix(seed * 131 + d) % 2001) / 1000.0 - 1.0).toFloat)
      val nrm = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / nrm)
    }
    for (n <- Seq(500, 20000)) {
      // n background vectors + 50 planted near-dup partners at cosine
      // ~0.995 (orthogonal-ish noise at 10% amplitude) vs threshold 0.99 —
      // close enough to the threshold that per-bit collisions genuinely
      // fail and the derived table count has to buy the recall back
      val base = (0 until n).map(i => (i.toLong, unit(i)))
      val planted = (0 until 50).map { i =>
        val v = unit(i); val u = unit(1000000L + i)
        val w = v.zip(u).map { case (a, bb) => a + 0.1f * bb }
        ((n + i).toLong, w)
      }
      val vecs = (base ++ planted).toDF("vec_id", "embedding")
      val pairs = Dedup.embeddingNearDups(vecs, cosineThreshold = 0.99)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val found = (0 until 50).count(i =>
        pairs.contains((i.toLong, (n + i).toLong)))
      assert(found >= 45, s"planted recall $found/50 at n=$n")
    }
  }

  test("semanticDedup matches a brute-force replay and prunes planted redundancy") {
    val sp = spark; import sp.implicits._
    def unit(seed: Long): Array[Float] = {
      val v = Array.tabulate(16)(d =>
        ((graft.data.DedupHash.mix(seed * 131 + d) % 2001) / 1000.0 - 1.0).toFloat)
      val nrm = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / nrm)
    }
    // 3 cluster directions; 40 members each = direction + small noise;
    // members of one cluster are mutually similar (cos >> threshold
    // within, ~0 across), so keep-first must retain exactly the lowest
    // id per cluster among the similar ones
    val dirs = Array(unit(1L), unit(2L), unit(3L))
    val members = for (c <- 0 until 3; i <- 0 until 40) yield {
      val n = unit(1000L + c * 40 + i)
      val v = dirs(c).zip(n).map { case (a, b) => a + 0.15f * b }
      ((c * 40 + i).toLong, v)
    }
    val vecs = members.toDF("vec_id", "embedding").repartition(7)
    val out = Dedup.semanticDedup(vecs, threshold = 0.8,
        centroids = dirs, maxClusterSize = 1000)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(out.size == 120)
    // brute-force replay of the exact rule in plain Scala
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    val assign = members.map { case (id, v) =>
      id -> (0 until 3).maxBy(c => (cos(v, dirs(c)), -c))
    }.toMap
    val expected = members.map { case (id, v) =>
      val dropped = members.exists { case (oid, ov) =>
        oid < id && assign(oid) == assign(id) && cos(ov, v) >= 0.8
      }
      id -> ((assign(id).toLong, !dropped))
    }.toMap
    assert(out == expected)
    // the pruning is real: most of each 40-member cluster is redundant
    val kept = out.count(_._2._2)
    assert(kept < 40, s"kept $kept of 120 — planted redundancy not pruned")
    // deterministic across partitioning
    val out2 = Dedup.semanticDedup(members.toDF("vec_id", "embedding").repartition(2),
        threshold = 0.8, centroids = dirs, maxClusterSize = 1000)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(out2 == out)
    // skew guard fails OPEN: clusters over the cap are kept whole
    val capped = Dedup.semanticDedup(vecs, threshold = 0.8,
        centroids = dirs, maxClusterSize = 10)
      .collect().map(r => r.getBoolean(2))
    assert(capped.forall(identity) && capped.length == 120)
    // paper rule (drop only on similarity to an earlier SURVIVOR):
    // replay the sequential greedy in plain Scala
    val outPaper = Dedup.semanticDedup(vecs, threshold = 0.8,
        centroids = dirs, maxClusterSize = 1000, paperRule = true)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    val expectedPaper = {
      val keptSoFar = scala.collection.mutable.Map.empty[Int, List[Long]]
      members.sortBy(_._1).map { case (id, v) =>
        val c = assign(id)
        val dropped = keptSoFar.getOrElse(c, Nil)
          .exists(kid => cos(members.find(_._1 == kid).get._2, v) >= 0.8)
        if (!dropped) keptSoFar(c) = id :: keptSoFar.getOrElse(c, Nil)
        id -> !dropped
      }.toMap
    }
    assert(outPaper == expectedPaper)
    // anything the paper rule drops, the dominance rule also drops
    assert(outPaper.collect { case (id, false) => id }.toSet
      .subsetOf(out.collect { case (id, (_, false)) => id }.toSet))
    // a null vector has no similarity: kept, null cluster
    val withNull = members.toDF("vec_id", "embedding")
      .unionByName(Seq((999L, null.asInstanceOf[Array[Float]]))
        .toDF("vec_id", "embedding"))
    val nullRow = Dedup.semanticDedup(withNull, threshold = 0.8,
        centroids = dirs, maxClusterSize = 1000)
      .where(col("vec_id") === 999L).collect()
    assert(nullRow.length == 1 && nullRow(0).isNullAt(1) && nullRow(0).getBoolean(2))
  }

  test("paragraph dedup keeps first occurrence and reassembles in order") {
    val sp = spark; import sp.implicits._
    // A: x,y,z;  B: y,w (y owned by A);  C: z,z (both owned by A's z);
    // D: unique paragraphs only — untouched.
    val docs = Seq(
      (1L, "x\ny\nz"), (2L, "y\nw"), (3L, "z\nz"), (4L, "p\nq")
    ).toDF("doc_id", "text")
    val out = graft.data.Corpus.paragraphDedup(docs)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "x\ny\nz", 2L -> "w", 4L -> "p\nq"),
      s"got $out") // doc 3 vanishes: every paragraph was a duplicate
    // within-doc duplicates: first index wins
    val self = graft.data.Corpus.paragraphDedup(
      Seq((7L, "a\nb\na")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(self == Map(7L -> "a\nb"))
    // blank paragraphs are STRUCTURE, not content: the empty string
    // between consecutive separators hash-collides corpus-wide and must
    // survive dedup in every document, not just the global first one
    val blanks = graft.data.Corpus.paragraphDedup(
      Seq((1L, "a\n\nb"), (2L, "x\n\ny")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(blanks == Map(1L -> "a\n\nb", 2L -> "x\n\ny"), s"got $blanks")
  }

  test("BPE reproduces the classic merges; codegen apply and packing hook agree") {
    val sp = spark; import sp.implicits._
    import graft.data.{Bpe, Corpus, dataops}
    // Sennrich et al.'s worked corpus: {low:5, lower:2, newest:6, widest:3}
    val corpus = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val docs = corpus.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val model = Bpe.train(docs, numMerges = 5, sampleN = 100)
    // hand-derived: (e,s) ties (s,t),(t,</w>) at 9 and wins lexically,
    // then chains; (l,o) ties (o,w) at 7 and wins lexically
    assert(model.merges.toSeq == Seq(("e", "s"), ("es", "t"),
      ("est", "</w>"), ("l", "o"), ("lo", "w")))
    // training is deterministic
    assert(Bpe.train(docs, numMerges = 5, sampleN = 100).merges.toSeq
      == model.merges.toSeq)
    val out = Seq((1L, "lowest"), (2L, "newest lowest"), (3L, ""))
      .toDF("doc_id", "text")
      .select(col("doc_id"), dataops.bpeTokens(col("text"), model).as("toks"),
        dataops.bpeTokenCount(col("text"), model).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[String](1), r.getInt(2))).toMap
    assert(out(1L) == (Seq("low", "est</w>"), 2))
    assert(out(2L) == (Seq("n", "e", "w", "est</w>", "low", "est</w>"), 6))
    assert(out(3L) == (Seq(), 0))
    // null text propagates null (nullIntolerant expression)
    val nulls = Seq((4L, null.asInstanceOf[String])).toDF("doc_id", "text")
      .select(dataops.bpeTokenCount(col("text"), model).as("n")).collect()
    assert(nulls(0).isNullAt(0))
    // exact subword counts drive sequence packing via the counter hook
    val packed = Corpus.packSequences(
        Seq((1L, "lowest"), (2L, "newest lowest"), (3L, "low low")).toDF("doc_id", "text"),
        budget = 8,
        tokenCount = c => dataops.bpeTokenCount(c, model))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // "low" alone is ["low", "</w>"] — merge 5 stops before (low, </w>)
    assert(packed == Map(1L -> 2L, 2L -> 6L, 3L -> 4L))
  }

  test("whitespace token count: empty, blank and null text count zero") {
    val sp = spark; import sp.implicits._
    val df = Seq((1L, "two words"), (2L, ""), (3L, "   "), (4L, null))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.tokenCountWs(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // split("") yields [""] (phantom token = 1) and size(NULL) is -1
    // under Spark's legacy default — either would corrupt packSequences'
    // running token budget
    assert(df == Map(1L -> 2, 2L -> 0, 3L -> 0, 4L -> 0), s"got $df")
  }

  test("stratified sample: exact per-stratum counts, content-addressed") {
    val sp = spark; import sp.implicits._
    val docs = (0L until 57L).map(i =>
        (i, s"stratified body text nr $i", if (i < 50) "big" else "sm"))
      .toDF("doc_id", "text", "lang")
    val kept = graft.data.Corpus.stratifiedSample(docs, "lang", n = 10)
    val counts = kept.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a 50-doc stratum yields exactly n; the 7-doc stratum keeps all 7
    // (the kth-smallest sentinel path)
    assert(counts == Map("big" -> 10L, "sm" -> 7L), s"got $counts")
    // brute-force oracle: smallest-n by (fingerprint, id) per stratum
    import org.apache.spark.sql.expressions.Window
    val rk = graft.data.dataops.fingerprint(
      concat(col("text"), lit(" "), col("doc_id").cast("string")))
    val w = Window.partitionBy("lang").orderBy(col("rk"), col("doc_id"))
    val expect = docs.withColumn("rk", rk)
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expect)
    // determinism: a second run returns the identical set
    val again = graft.data.Corpus.stratifiedSample(docs, "lang", n = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == got)
  }

  test("media near-dup pairs: perceptual ahash through the hamming LSH") {
    val media = Multimodal.synthesize(spark, 300, parts = 4) // 200 img, 100 wav
    import media.sparkSession.implicits._
    val perturbed = media.filter((m: Multimodal.MediaRow) => m.meta.kind == "image")
      .map { m =>
        val c = m.content.clone()
        c(c.length - 1) = (c(c.length - 1) + 1).toByte // +1 on one pixel
        Multimodal.MediaRow("p" + m.media_id, c, m.meta)
      }
    val feats = Multimodal.extractFeatures(media.union(perturbed)).toDF()
    val pairs = Multimodal.nearDupPairs(feats)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // every planted (original, +1-pixel copy) pair must surface: a single
    // pixel edit moves the 64-bit average-hash by at most a bit or two
    val planted = media.collect().filter(_.meta.kind == "image")
      .map(m => (m.media_id, "p" + m.media_id)).toSet
    assert(planted.subsetOf(pairs),
      s"missing ${(planted -- pairs).size} of ${planted.size} planted pairs")
    // and nothing else: unrelated synthetic images sit ~32 bits apart
    assert(pairs == planted, s"unexpected pairs: ${(pairs -- planted).take(3)}")
  }

  test("sequence packing: exact prefix-sum semantics, partition-invariant") {
    val sp = spark; import sp.implicits._
    val docs = (0L until 300L).map(i =>
        (i, ("w " * (1 + (i % 37)).toInt).trim)).toDF("doc_id", "text")
    def run(p: Int) = graft.data.Corpus.packSequences(docs, 64, numParts = p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val a = run(2); val b = run(7)
    assert(a.sameElements(b), "packing must not depend on partition count")
    // driver-side oracle: sort by (key, id), lay out tokens, cut at 64
    val expected = (0L until 300L)
      .map(i => (i * 48271 % 2147483647, i, 1 + (i % 37)))
      .sortBy(t => (t._1, t._2))
      .scanLeft((0L, 0L, 0L, 0L)) { case ((_, _, _, cum), (_, id, tok)) =>
        (id, cum / 64, cum % 64, cum + tok)
      }.drop(1).map(t => (t._1, t._2, t._3)).toSet
    assert(a.map(t => (t._1, t._2, t._3)).toSet == expected)
    // a doc's tokens may cross a cut, but every doc STARTS in its seq
    assert(a.forall { case (_, _, off, _) => off >= 0 && off < 64 })
  }

  private val dsirVocabA = Array("astro", "galaxy", "nebula", "quasar",
    "pulsar", "comet", "orbit", "lens")
  private val dsirVocabB = Array("ledger", "invoice", "audit", "credit",
    "debit", "payroll", "escrow", "lien")
  private def dsirDoc(v: Array[String], seed: Long, n: Int): String =
    (0 until n).map(i =>
      v((graft.data.DedupHash.mix(seed * 31 + i) % v.length).toInt.abs))
      .mkString(" ")
  private def dsirCorpus() = {
    val sp = spark; import sp.implicits._
    val raw = ((0L until 50L).map(i => (i, dsirDoc(dsirVocabA, i, 20))) ++
      (50L until 100L).map(i => (i, dsirDoc(dsirVocabB, i, 20))))
      .toDF("doc_id", "text")
    val target = (200L until 220L).map(i => (i, dsirDoc(dsirVocabA, i, 20)))
      .toDF("doc_id", "text")
    (raw, target)
  }

  test("DSIR weights favor target-dialect docs; scores are exact integer sums") {
    val sp = spark; import sp.implicits._
    val (raw, target) = dsirCorpus()
    val B = 256
    val w = graft.data.Corpus.dsirWeights(raw, target, n = 2, buckets = B)
    val scored = raw.select(col("doc_id"),
        graft.data.Corpus.dsirScore(w, 2, B)(col("text")).as("s"))
      .as[(Long, Long)].collect().toMap
    val aAvg = (0L until 50L).map(scored).sum.toDouble / 50
    val bAvg = (50L until 100L).map(scored).sum.toDouble / 50
    assert(aAvg > bAvg, s"target dialect not favored: $aAvg vs $bAvg")
    // the expression path equals a JVM-direct recomputation, bit-exact
    for ((id, t) <- raw.as[(Long, String)].collect().take(5)) {
      val bs = graft.data.DedupHash.ngramBuckets(
        org.apache.spark.unsafe.types.UTF8String.fromString(t), 2, B)
      assert(scored(id) == bs.map(w).sum)
    }
  }

  test("DSIR Gumbel-top-k resample is deterministic, k-sized and target-heavy") {
    val sp = spark; import sp.implicits._
    val (raw, target) = dsirCorpus()
    def run() = graft.data.Corpus
      .dsirResample(raw, target, k = 30, n = 2, buckets = 256)
      .select("doc_id").as[Long].collect().toSet
    val sel = run()
    assert(sel == run(), "resample is not deterministic")
    assert(sel.size == 30)
    assert(sel.count(_ < 50) >= 24, // >= 80% from the target dialect
      s"selection not target-heavy: ${sel.count(_ < 50)}/30 dialect-A")
  }

  test("hashed-bigram LM log-prob favors reference-dialect docs; exact integer sums") {
    val sp = spark; import sp.implicits._
    val (raw, _) = dsirCorpus()
    val ref = (300L until 340L).map(i => (i, dsirDoc(dsirVocabA, i, 25)))
      .toDF("doc_id", "text")
    val m = graft.data.Corpus.lmTrain(ref, buckets = 1024)
    val scored = raw.select(col("doc_id"),
        graft.data.Corpus.lmLogProbSum(m)(col("text")).as("lp"))
      .as[(Long, Long)].collect().toMap
    val aAvg = (0L until 50L).map(scored).sum.toDouble / 50
    val bAvg = (50L until 100L).map(scored).sum.toDouble / 50
    assert(aAvg > bAvg, s"reference dialect not favored: $aAvg vs $bAvg")
    // exactness: expression path equals a JVM-direct recomputation
    for ((id, t) <- raw.as[(Long, String)].collect().take(5)) {
      val ut = org.apache.spark.unsafe.types.UTF8String.fromString(t)
      val g = graft.data.DedupHash.ngramBuckets(ut, 2, 1024)
      val u = graft.data.DedupHash.ngramBuckets(ut, 1, 1024)
      val expected = g.map(m.bi).sum - u.take(g.length).map(m.uni).sum
      assert(scored(id) == expected)
    }
    // single-token and empty docs score through the short-shingle branch
    val edge = Seq((900L, "solo"), (901L, "")).toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.data.Corpus.lmLogProbSum(m)(col("text")).as("lp"))
      .as[(Long, Long)].collect().toMap
    assert(edge(901L) == 0L)
    // the one-pass gate passes sub-bigram docs unconditionally: a 1-token
    // doc's pseudo-bigram (the short-shingle fold) is never in the
    // trained table and a naive floor would kill every such doc
    val gated = Seq((910L, "solo"), (911L, ""),
        (912L, (0 until 15).map(i => s"zq$i").mkString(" ")))
      .toDF("doc_id", "text")
      // floor for THIS model's B=1024: dialect docs score ~ -4.3e6 per
      // bigram, unseen-everything gibberish -ln(1024) = -6.93e6
      .select(col("doc_id"), graft.data.dataops.lmGate(
        col("text"), m.uni, m.bi, m.buckets, -5500000L).as("ok"))
      .as[(Long, Boolean)].collect().toMap
    assert(gated(910L) && gated(911L) && !gated(912L))
  }

  test("duplicate spans: planted passage flagged at the exact merged range") {
    val sp = spark; import sp.implicits._
    val passage = (0 until 10).map(i => s"dup$i").mkString(" ")
    val docs = Seq(
      ("a01", s"one two three $passage tail1 tail2"), // canonical (first)
      ("b02", s"$passage other words entirely here"), // dup at offset 0
      ("c03", "clean document with no repeated runs at all")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, window = 5)
      .as[(String, Long, Long)].collect().toSet
    // only the non-canonical occurrence is flagged: windows 0..5 merge to
    // exactly the 10-token passage [0, 10)
    assert(spans == Set(("b02", 0L, 10L)))
    // keepFirst=false flags the canonical copy too ([3, 13) in a01)
    val all = Dedup.duplicateSpans(docs, window = 5, keepFirst = false)
      .as[(String, Long, Long)].collect().toSet
    assert(all == Set(("a01", 3L, 13L), ("b02", 0L, 10L)))
    // a passage occurring twice is below a minOccurrences=3 threshold
    assert(Dedup.duplicateSpans(docs, window = 5, minOccurrences = 3).isEmpty)
  }

  test("duplicate spans: whole-document duplicate covers the full doc; strip keeps one copy") {
    val sp = spark; import sp.implicits._
    val text12 = (0 until 12).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      ("a01", text12), ("b02", text12),
      ("c03", "a distinct short document")).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, window = 5)
    assert(spans.as[(String, Long, Long)].collect().toSet ==
      Set(("b02", 0L, 12L)))
    val cleaned = Dedup.stripDuplicateSpans(docs, spans)
      .select("doc_id", "clean_text").as[(String, String)].collect().toMap
    assert(cleaned("a01") == text12)      // canonical copy survives intact
    assert(cleaned("b02") == "")          // duplicate fully stripped
    assert(cleaned("c03") == "a distinct short document")
    assert(cleaned.size == 3)             // every doc comes back
  }

  test("duplicate spans: strip removes an embedded passage and rejoins survivors") {
    val sp = spark; import sp.implicits._
    val passage = (0 until 8).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      ("a01", s"$passage intro done"),
      ("b02", s"lead in $passage out")).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, window = 4)
    val cleaned = Dedup.stripDuplicateSpans(docs, spans)
      .select("doc_id", "clean_text").as[(String, String)].collect().toMap
    assert(cleaned("a01") == s"$passage intro done")
    assert(cleaned("b02") == "lead in out")
  }
}
