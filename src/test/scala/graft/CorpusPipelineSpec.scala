package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.data.CorpusPipeline

class CorpusPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {
  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("corpus-pipeline-spec")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val words = Array("alpha", "beta", "gamma", "delta", "tile",
    "survey", "datum", "raster", "vector", "span", "badger", "mango")
  /** n DISTINCT tokens (suffix cycle 97 > n), so clean docs pass the
    * dup-word/top-bigram quality gates by construction. */
  private def sentence(seed: Long, n: Int): String =
    (0 until n).map(i =>
      words((graft.data.DedupHash.mix(seed * 131 + i) % words.length).toInt.abs) +
        ((seed + i) % 97))
      .mkString(" ")

  /** Planted corpus: ids 0-9 clean; 10/11 url dups; 12/13 exact text
    * dups; 14/15 near dups (one-word edit); 16 repetition junk; 17 too
    * short; 18 contaminated with the eval sentence. */
  private def corpus(): (DataFrame, DataFrame) = {
    val sp = spark; import sp.implicits._
    val evalText = sentence(999, 16)
    val rows =
      (0L until 10L).map(i =>
        (i, sentence(i, 30), s"https://site$i.example.com/p/$i")) ++ Seq(
        (10L, sentence(100, 30), "https://WWW.Dup.example.com:443/x?utm_source=a"),
        (11L, sentence(101, 30), "https://dup.example.com/x/"),
        (12L, sentence(200, 30), "https://a12.example.com/"),
        (13L, sentence(200, 30), "https://a13.example.com/"),
        (14L, sentence(300, 30) + " ending one", "https://a14.example.com/"),
        (15L, sentence(300, 30) + " ending two", "https://a15.example.com/"),
        (16L, ("spam " * 40).trim, "https://a16.example.com/"),
        (17L, "too short", "https://a17.example.com/"),
        (18L, sentence(400, 8) + " " + evalText, "https://a18.example.com/"))
    val evalSet = Seq((0L, evalText)).toDF("eval_id", "text")
    (rows.toDF("doc_id", "text", "url"), evalSet)
  }

  test("every stage drops exactly its planted victims") {
    val (docs, evalSet) = corpus()
    val r = CorpusPipeline.build(docs,
      CorpusPipeline.Config(evalSet = Some(evalSet)))
    val ids = r.stages.toMap.view.mapValues(
      _.select("doc_id").collect().map(_.getLong(0)).toSet).toMap
    assert(ids("input").size == 19)
    assert(ids("input") -- ids("url_dedup") == Set(11L))
    assert(ids("url_dedup") -- ids("exact_dedup") == Set(13L))
    assert(ids("exact_dedup") -- ids("near_dedup") == Set(15L))
    assert(ids("near_dedup") -- ids("quality") == Set(16L, 17L))
    assert(ids("quality") -- ids("decontaminate") == Set(18L))
    assert(ids("decontaminate") == Set(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L,
      9L, 10L, 12L, 14L))
  }

  test("LM quality gate drops gibberish, keeps reference-dialect docs") {
    val sp = spark; import sp.implicits._
    // shared small vocabulary so corpus bigrams are SEEN in the reference
    // (the hashed LM is count-based); repetition caps off accordingly
    def vocabDoc(seed: Long, n: Int): String =
      (0 until n).map(i =>
        words((graft.data.DedupHash.mix(seed * 17 + i) % words.length).toInt.abs))
        .mkString(" ")
    val ref = (500L until 540L).map(i => (i, vocabDoc(i, 25)))
      .toDF("doc_id", "text")
    val docs = ((0L until 10L).map(i =>
        (i, vocabDoc(i, 20), s"https://q$i.example.com/")) :+
      ((10L, (0 until 20).map(i => s"zzq$i").mkString(" "),
        "https://q10.example.com/")))
      .toDF("doc_id", "text", "url")
    // floor chosen with ~1e6 micro-units of margin on BOTH sides: the
    // dialect docs score ≈ -9.0e6..-9.4e6 per bigram against this
    // reference, gibberish ≈ ln(1/65536) = -11.09e6
    val r = CorpusPipeline.build(docs, CorpusPipeline.Config(
      lmReference = Some(ref), minLmLogProbPerBigramE6 = -10300000L,
      maxDupWordFrac = 1.0, maxTopBigramFrac = 1.0))
    val kept = r.stages.toMap.apply("quality")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == (0L until 10L).toSet,
      s"LM gate kept $kept — gibberish doc 10 must drop, dialect docs stay")
  }

  test("DSIR selection stage keeps the k most target-like docs") {
    val sp = spark; import sp.implicits._
    // two dialects over disjoint vocabularies; target = dialect A sample
    val vocabA = Array("astro", "galaxy", "nebula", "quasar", "pulsar",
      "comet", "orbit", "lens")
    val vocabB = Array("ledger", "invoice", "audit", "credit", "debit",
      "payroll", "escrow", "lien")
    def vDoc(v: Array[String], seed: Long): String =
      (0 until 20).map(i =>
        v((graft.data.DedupHash.mix(seed * 31 + i) % v.length).toInt.abs))
        .mkString(" ")
    val docs = ((0L until 20L).map(i =>
        (i, vDoc(vocabA, i), s"https://a$i.example.com/")) ++
      (20L until 40L).map(i =>
        (i, vDoc(vocabB, i), s"https://b$i.example.com/")))
      .toDF("doc_id", "text", "url")
    val target = (100L until 115L).map(i => (i, vDoc(vocabA, i)))
      .toDF("doc_id", "text")
    val r = CorpusPipeline.build(docs, CorpusPipeline.Config(
      dsirTarget = Some(target), dsirKeep = 12,
      maxDupWordFrac = 1.0, maxTopBigramFrac = 1.0))
    val kept = r.stages.toMap.apply("dsir_select")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.size == 12)
    assert(kept.count(_ < 20) >= 10, // >= ~83% from the target dialect
      s"selection not target-heavy: ${kept.count(_ < 20)}/12 dialect-A")
    // config sanity: both halves of the DSIR config are required — a
    // target without a keep count AND a keep count without a target are
    // rejected (the latter would otherwise silently no-op)
    intercept[IllegalArgumentException] {
      CorpusPipeline.build(docs,
        CorpusPipeline.Config(dsirTarget = Some(target)))
    }
    intercept[IllegalArgumentException] {
      CorpusPipeline.build(docs, CorpusPipeline.Config(dsirKeep = 100))
    }
  }

  test("substring stage strips a shared passage, keeps one copy, drops no docs") {
    val sp = spark; import sp.implicits._
    val passage = sentence(555, 10)
    val a = sentence(601, 25) + " " + passage + " " + sentence(602, 5)
    val b = passage + " " + sentence(603, 28)
    val docs = Seq(
      (0L, a, "https://s0.example.com/"),
      (1L, b, "https://s1.example.com/"),
      (2L, sentence(604, 30), "https://s2.example.com/"))
      .toDF("doc_id", "text", "url")
    val r = CorpusPipeline.build(docs,
      CorpusPipeline.Config(substringWindow = Some(6)))
    val byId = r.stages.toMap.apply("substring_dedup")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    // text is REWRITTEN, no doc drops: doc 0 (globally first by (id, pos))
    // keeps the passage, doc 1 loses exactly it, doc 2 untouched
    assert(byId.keySet == Set(0L, 1L, 2L))
    assert(byId(0L) == a)
    assert(byId(1L) == sentence(603, 28))
    assert(byId(2L) == sentence(604, 30))
    // downstream stages see the cleaned text and all three docs pass
    assert(r.stages.toMap.apply("quality").count() == 3)
    // stage off by default: text flows through untouched
    val off = CorpusPipeline.build(docs, CorpusPipeline.Config())
    assert(off.stages.toMap.apply("substring_dedup")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
      .apply(1L) == b)
  }

  test("split covers the survivors; packing covers the train split") {
    val (docs, evalSet) = corpus()
    val r = CorpusPipeline.build(docs,
      CorpusPipeline.Config(evalSet = Some(evalSet), tokenBudget = 64))
    val split = r.stages.toMap.apply("split")
    val bySplit = split.groupBy("split").count().collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "valid", "test")))
    val nTrain = bySplit.getOrElse("train", 0L)
    assert(r.packed.count() == nTrain)
    // token conservation: every packed doc keeps its full token count
    val sumIn = split.where(col("split") === "train")
      .agg(sum(graft.data.TextOps.tokenCountWs(col("text")))).collect()(0).getLong(0)
    val sumOut = r.packed.agg(sum("n_tok")).collect()(0).getLong(0)
    assert(sumIn == sumOut)
  }

  test("snapshot stage drops exactly the docs already in the prior corpus") {
    val sp = spark; import sp.implicits._
    val (docs, evalSet) = corpus()
    // prior snapshot ships the text of docs 3, 7 and the exact-dup text
    // (docs 12/13 share it) under different ids/urls
    val snapshot = Seq(
      (900L, sentence(3, 30), "https://old.example.com/a"),
      (901L, sentence(7, 30), "https://old.example.com/b"),
      (902L, sentence(200, 30), "https://old.example.com/c"))
      .toDF("doc_id", "text", "url")
    val r = CorpusPipeline.build(docs, CorpusPipeline.Config(
      priorSnapshot = Some(snapshot), evalSet = Some(evalSet)))
    val ids = r.stages.toMap.view.mapValues(
      _.select("doc_id").collect().map(_.getLong(0)).toSet).toMap
    assert(ids("input") -- ids("snapshot_dedup") == Set(3L, 7L, 12L, 13L))
    // downstream victims unchanged (12/13 are already gone, so the
    // exact-dedup stage has nothing left to drop)
    assert(ids("snapshot_dedup") -- ids("url_dedup") == Set(11L))
    assert(ids("url_dedup") == ids("exact_dedup"))
    // without the knob the stage is a no-op passthrough
    val off = CorpusPipeline.build(docs,
      CorpusPipeline.Config(evalSet = Some(evalSet)))
    val offIds = off.stages.toMap.view.mapValues(
      _.select("doc_id").collect().map(_.getLong(0)).toSet).toMap
    assert(offIds("input") == offIds("snapshot_dedup"))
  }

  test("measure returns one count per stage in pipeline order") {
    val (docs, evalSet) = corpus()
    val r = CorpusPipeline.build(docs,
      CorpusPipeline.Config(evalSet = Some(evalSet)))
    val m = CorpusPipeline.measure(r)
    assert(m.map(_._1) == Seq("input", "snapshot_dedup", "url_dedup",
      "exact_dedup", "near_dedup", "substring_dedup", "quality",
      "domain_cap", "decontaminate", "dsir_select", "split"))
    assert(m.map(_._2).zip(m.tail.map(_._2)).forall { case (a, b) => b <= a })
  }

  test("domain cap keeps at most n docs per registered domain") {
    val sp = spark; import sp.implicits._
    // 12 docs on one domain (different hosts/paths), 3 on another
    val docs = ((0L until 12L).map(i =>
        (i, sentence(i, 20), s"https://h$i.big.example.com/p/$i")) ++
      (12L until 15L).map(i =>
        (i, sentence(i, 20), s"https://small.example.org/p/$i")))
      .toDF("doc_id", "text", "url")
    val r = CorpusPipeline.build(docs,
      CorpusPipeline.Config(maxDocsPerDomain = Some(5)))
    val capped = r.stages.toMap.apply("domain_cap")
      .withColumn("d", graft.data.UrlOps.registeredDomain(
        graft.data.UrlOps.urlHost(col("url"))))
      .groupBy("d").count().collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    assert(capped == Map("example.com" -> 5L, "example.org" -> 3L), capped)
    // deterministic: same input -> same surviving ids
    val ids1 = r.stages.toMap.apply("domain_cap")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = CorpusPipeline.build(docs,
        CorpusPipeline.Config(maxDocsPerDomain = Some(5)))
      .stages.toMap.apply("domain_cap")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
  }

  test("a domain cap without a url column is rejected, not ignored") {
    val (docs, _) = corpus()
    val e = intercept[IllegalArgumentException] {
      CorpusPipeline.build(docs.drop("url"),
        CorpusPipeline.Config(urlCol = None, maxDocsPerDomain = Some(5)))
    }
    assert(e.getMessage.contains("urlCol"))
  }

  test("every dedup stage and the quality gate cut lineage with a checkpoint") {
    val (docs, evalSet) = corpus()
    val stages = CorpusPipeline.build(docs, CorpusPipeline.Config(
      evalSet = Some(evalSet), substringWindow = Some(6))).stages.toMap
    for (name <- Seq("url_dedup", "exact_dedup", "near_dedup",
        "substring_dedup", "quality"))
      assert(stages(name).queryExecution.analyzed.isInstanceOf[LogicalRDD],
        s"$name is not a checkpoint:\n${stages(name).queryExecution.analyzed}")
  }

  test("pipeline invariants hold on a seeded random corpus") {
    val sp = spark; import sp.implicits._
    // 300 docs: random lengths 0-40 tokens, planted url dups and exact-
    // text dups against the PREVIOUS doc (i-1 is never itself re-planted
    // by the same rule, so the pairs genuinely collide), a few nulls
    def baseText(i: Long): String =
      sentence(i, (graft.data.DedupHash.mix(i) & 63).toInt % 41)
    def baseUrl(i: Long): String =
      if (i % 11 == 0) null else s"https://s$i.example.com/p"
    val rows = (0L until 300L).map { i =>
      val text =
        if (i % 7 == 3) baseText(i - 1)                    // exact dup of i-1
        else baseText(i)
      val url =
        if (i % 5 == 2 && baseUrl(i - 1) != null)
          s"https://WWW.s${i - 1}.example.com/p?utm_x=1"   // url dup of i-1
        else baseUrl(i)
      (i, text, url)
    }
    val docs = rows.toDF("doc_id", "text", "url")
    val r = CorpusPipeline.build(docs, CorpusPipeline.Config())
    val stageMap = r.stages.toMap
    val inputIds = rows.map(_._1).toSet
    val ordered = r.stages.map(_._1)
    // survivors shrink monotonically and stay subsets of the input
    var prev = inputIds
    for ((name, df) <- r.stages.tail) {
      val ids = df.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids.subsetOf(prev), s"$name grew: ${ids -- prev}")
      prev = ids
    }
    // the planting must actually bite, or the dup invariants are vacuous
    val urlDropped = inputIds.size - stageMap("url_dedup").count()
    val exactDropped =
      stageMap("url_dedup").count() - stageMap("exact_dedup").count()
    assert(urlDropped >= 40, s"url stage dropped only $urlDropped")
    assert(exactDropped >= 20, s"exact stage dropped only $exactDropped")
    // no two survivors share a normalized url (nulls exempt) or a fingerprint
    val sv = stageMap("split")
    val urlDups = sv
      .select(graft.data.UrlOps.normalizeUrl(col("url")).as("u"))
      .where(col("u").isNotNull)
      .groupBy("u").count().where(col("count") > 1).count()
    assert(urlDups == 0)
    val fpDups = sv
      .select(graft.data.dataops.fingerprint(col("text")).as("f"),
        xxhash64(col("text")).as("f2"))
      .groupBy("f", "f2").count().where(col("count") > 1).count()
    assert(fpDups == 0)
    // every surviving doc passes the quality gate predicate
    val toks = graft.data.TextOps.tokenCountWs(col("text"))
    assert(sv.where(toks < 5 || toks > 100000).count() == 0)
    // packed train tokens conserved
    val sumIn = sv.where(col("split") === "train")
      .agg(sum(toks)).collect()(0).getLong(0)
    assert(r.packed.agg(sum("n_tok")).collect()(0).getLong(0) == sumIn)
    assert(ordered.head == "input")
  }

  test("stages without optional inputs are pass-through") {
    val (docs, _) = corpus()
    val r = CorpusPipeline.build(docs.drop("url"),
      CorpusPipeline.Config(urlCol = None))
    val ids = r.stages.toMap.view.mapValues(
      _.select("doc_id").collect().map(_.getLong(0)).toSet).toMap
    assert(ids("url_dedup") == ids("input"))          // no url column
    assert(ids("decontaminate") == ids("quality"))    // no eval set
  }
}
