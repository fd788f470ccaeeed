package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The end-to-end corpus build — every training-data team runs this
  * exact composition, here expressed as ONE lazy DataFrame flow over the
  * engine's operators:
  *
  *  0. optional incremental snapshot dedup (drop docs whose text already
  *     shipped in a prior corpus snapshot — Bloom-prefiltered, the
  *     snapshot is never re-shuffled)
  *  1. URL-level exact dedup (cheapest key first — 128-bit url hash)
  *  2. text exact dedup (128-bit content fingerprint)
  *  3. near-dup pruning: MinHash-LSH pairs -> connected components ->
  *     keep the minimum id per duplicate cluster
  *  3b. optional substring-duplicate strip (Lee et al. ExactSubstr):
  *     repeated passages keep one copy corpus-wide, text is rewritten
  *  4. quality gate: token-count band, Gopher repetition fractions,
  *     optional language whitelist, optional hashed-bigram LM perplexity
  *     floor (CCNet's KenLM component) — pure codegen filter, no shuffle
  *  4b. optional domain cap: deterministic top-n docs per registered
  *     domain (anti-spam)
  *  5. benchmark decontamination (optional eval set, broadcast join)
  *  5b. optional DSIR data selection: keep the k most target-like docs
  *     by hashed n-gram importance weights (Gumbel-top-k, deterministic)
  *  6. content-addressed train/valid/test split
  *  7. token-budget sequence packing of the train split
  *
  * Scale notes: stages 1-3 and 5 shuffle ids/hashes only (survivor sets
  * come back via semi/anti joins on the 64-bit id); stage 4 and 6 are
  * shuffle-free projections fused into the surrounding scans; stage 7 is
  * the measured one-exchange packer.  Nothing text-sized shuffles except
  * the LSH candidate verify, which joins text back for candidate pairs
  * only.
  *
  * Lineage: the survivors of stages 0-4 (and the DSIR input) are cut
  * with a lazy `localCheckpoint`.  Each surviving frame feeds two
  * subtrees that share no exchange — the next stage's key computation
  * and its own semi-join base — and [[measure]] counts every stage, so
  * an uncut stage re-scans and re-hashes everything upstream.  Cutting
  * only after the near-dup and quality stages measured 1.15-1.7x this
  * build's wall from 200k to 8M docs, whichever ran first (BASELINE.md).
  * On a cluster the equivalent is a reliable checkpoint to the DFS.
  *
  * Laziness caveat: stage 3's connected components is an iterative
  * driver loop, so [[build]] EXECUTES everything up to the near-dup
  * graph at construction time; the frames in [[Result]] are lazy from
  * there on.  Null urls are missing metadata, not duplicates — null-url
  * docs always survive stage 1 ([[UrlOps.dedupByUrl]]) and dedup by
  * content in stage 2.
  */
object CorpusPipeline {

  /** Pipeline knobs.  Defaults follow the published web-corpus builds:
    * jaccard 0.8 near-dup bar, 50-100k token band, Gopher repetition
    * caps (dup-word 0.4 / top-bigram 0.2). */
  final case class Config(
      /** Prior corpus snapshot for INCREMENTAL builds (the every-crawl
        * cycle): new docs whose text already exists in the snapshot drop
        * before anything else, via the Bloom-prefiltered exact anti-join
        * ([[Dedup.incrementalDedup]] — the snapshot is never re-shuffled).
        * None = full build.  Builds the snapshot Bloom filter eagerly at
        * construction (same laziness caveat as the near-dup stage). */
      priorSnapshot: Option[DataFrame] = None,
      /** Known row count of `priorSnapshot` (sizes its Bloom filter
        * without the extra count job; -1 = count it). */
      priorSnapshotSize: Long = -1L,
      urlCol: Option[String] = Some("url"),
      jaccardThreshold: Double = 0.8,
      minTokens: Long = 5,
      maxTokens: Long = 100000,
      maxDupWordFrac: Double = 0.4,
      maxTopBigramFrac: Double = 0.2,
      langs: Option[Seq[String]] = None,
      /** Strip exact substring-duplicate passages (Lee et al.
        * ExactSubstr): every run of this many tokens occurring twice or
        * more corpus-wide keeps its globally-first copy and is removed
        * everywhere else.  None = stage off.  Runs after doc-level
        * near-dedup (whole-doc dups are already gone, so this rewrites
        * embedded boilerplate only) and before the quality gate (token
        * counts and repetition fractions see the cleaned text). */
      substringWindow: Option[Int] = None,
      /** Reference corpus for the hashed-bigram LM quality filter (the
        * CCNet KenLM component): docs whose mean conditional log-prob per
        * bigram falls below `minLmLogProbPerBigramE6` (micro-units,
        * negative — e.g. -9_500_000 ≈ "worse than ln(1/B)·0.7-ish
        * gibberish" at the default 65,536 buckets) are dropped in the
        * quality stage.  None = LM filter off. */
      lmReference: Option[DataFrame] = None,
      minLmLogProbPerBigramE6: Long = -9500000L,
      /** Cap docs per registered domain (anti-spam: no domain may
        * dominate the corpus).  Deterministic content-addressed top-n
        * per domain via the stratified sampler; needs `urlCol`. */
      maxDocsPerDomain: Option[Int] = None,
      evalSet: Option[DataFrame] = None,
      decontaminateMinShared: Int = 8,
      /** DSIR data selection (Xie et al. 2023): after decontamination,
        * keep the `dsirKeep` documents most target-like under hashed
        * n-gram importance weights trained against this target corpus
        * (Gumbel-top-k, deterministic).  None = stage off. */
      dsirTarget: Option[DataFrame] = None,
      dsirKeep: Int = 0,
      tokenBudget: Long = 2048)

  /** Every intermediate stage by name (for metrics/debugging — lazy
    * from the near-dup stage on, see the laziness caveat above) plus the
    * packed train sequences. */
  final case class Result(stages: Seq[(String, DataFrame)], packed: DataFrame)

  /** The corpus quality gate as ONE reusable predicate — built here and
    * consumed verbatim by the streaming corpus clean, so stream-vs-batch
    * verdict parity holds by construction, not just by test. */
  def qualityGate(text: Column, minTokens: Long, maxTokens: Long,
                  maxDupWordFrac: Double, maxTopBigramFrac: Double,
                  langs: Option[Seq[String]] = None,
                  lmModel: Option[Corpus.LmModel] = None,
                  minLmLogProbPerBigramE6: Long = -9500000L): Column = {
    val toks = TextOps.tokenCountWs(text)
    val rep = TextOps.repetitionFractions(text)
    val base = toks >= minTokens && toks <= maxTokens &&
      rep.getField("dup_word_frac") <= maxDupWordFrac &&
      rep.getField("top_bigram_frac") <= maxTopBigramFrac
    val withLang = langs match {
      case Some(ls) => base && TextOps.langId(text).isin(ls: _*)
      case None => base
    }
    lmModel match {
      case Some(m) => withLang && dataops.lmGate(text, m.uni, m.bi,
        m.buckets, minLmLogProbPerBigramE6)
      case None => withLang
    }
  }

  def build(docs: DataFrame, cfg: Config = Config()): Result = {
    require(cfg.urlCol.isDefined || cfg.maxDocsPerDomain.isEmpty,
      "maxDocsPerDomain needs urlCol (the domain comes from the url)")
    require(cfg.dsirTarget.isEmpty == (cfg.dsirKeep == 0),
      "DSIR selection needs BOTH dsirTarget and a positive dsirKeep")
    val stages = Vector.newBuilder[(String, DataFrame)]
    def cut(df: DataFrame): DataFrame = df.localCheckpoint(false)
    stages += ("input" -> docs)

    // 0. incremental: drop docs whose text already shipped in the prior
    // snapshot (Bloom-prefiltered; most rows exit map-side with no join)
    val afterSnap = cfg.priorSnapshot match {
      case Some(snap) => cut(Dedup.incrementalDedup(docs, snap,
        expectedOldDocs = cfg.priorSnapshotSize))
      case None => docs
    }
    stages += ("snapshot_dedup" -> afterSnap)

    // 1. URL dedup: survivors are the per-canonical-url minimum ids
    val afterUrl = cfg.urlCol match {
      case Some(u) =>
        val ids = UrlOps.dedupByUrl(afterSnap, u)
          .select(col("keep_id").as("doc_id"))
        cut(afterSnap.join(ids, Seq("doc_id"), "left_semi"))
      case None => afterSnap
    }
    stages += ("url_dedup" -> afterUrl)

    // 2. exact text dedup
    val exactIds = Dedup.exact(afterUrl).select(col("keep_id").as("doc_id"))
    val afterExact = cut(afterUrl.join(exactIds, Seq("doc_id"), "left_semi"))
    stages += ("exact_dedup" -> afterExact)

    // 3. near-dup clusters: every clustered doc except the cluster
    // minimum drops (connectedComponents labels each member with the
    // cluster's minimum id)
    val pairs = Dedup.minhashLsh(afterExact, cfg.jaccardThreshold)
    val drops = Dedup.connectedComponents(pairs)
      .where(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    val afterNear = cut(afterExact.join(drops, Seq("doc_id"), "left_anti"))
    stages += ("near_dedup" -> afterNear)

    // 3b. optional substring-duplicate strip: rewrites text in place
    // (docs all survive; duplicated passages keep one copy corpus-wide)
    val afterSpans = cfg.substringWindow match {
      case Some(w) =>
        val spans = Dedup.duplicateSpans(afterNear, window = w)
        cut(Dedup.stripDuplicateSpans(afterNear, spans)
          .withColumn("text", col("clean_text")).drop("clean_text"))
      case None => afterNear
    }
    stages += ("substring_dedup" -> afterSpans)

    // 4. quality gate (single codegen predicate, shared with the
    // streaming corpus clean via qualityGate).  The LM floor is ONE fused
    // expression evaluation per row — FilterExec does no common-
    // subexpression elimination, so a composed score/count/decision would
    // tokenize and hash the text once per reference; docs with fewer than
    // two tokens pass it (no true bigram; the token band polices
    // degenerate lengths)
    val afterQuality = cut(afterSpans.where(qualityGate(col("text"),
      cfg.minTokens, cfg.maxTokens, cfg.maxDupWordFrac,
      cfg.maxTopBigramFrac, cfg.langs,
      cfg.lmReference.map(Corpus.lmTrain(_)),
      cfg.minLmLogProbPerBigramE6)))
    stages += ("quality" -> afterQuality)

    // 4b. domain cap: deterministic top-n per registered domain
    val afterCap = (cfg.urlCol, cfg.maxDocsPerDomain) match {
      case (Some(u), Some(cap)) =>
        val dom = UrlOps.registeredDomain(UrlOps.urlHost(col(u)))
        Corpus.stratifiedSample(
            afterQuality.withColumn("__domain", dom), "__domain", cap)
          .drop("__domain")
      case _ => afterQuality
    }
    stages += ("domain_cap" -> afterCap)

    // 5. decontamination: drop any doc sharing >= minShared shingles
    // with an eval item
    val afterDecon = cfg.evalSet match {
      case Some(ev) =>
        val dirty = Dedup.decontaminate(afterCap, ev,
            minShared = cfg.decontaminateMinShared)
          .select("doc_id").distinct()
        afterCap.join(dirty, Seq("doc_id"), "left_anti")
      case None => afterCap
    }
    stages += ("decontaminate" -> afterDecon)

    // 5b. optional DSIR selection: keep the k most target-like docs
    // (importance weights + Gumbel-top-k; trains and thresholds eagerly —
    // same laziness caveat as the near-dup stage).  The stage scans its
    // input twice at build time plus once downstream, so it cuts lineage
    // first: without the checkpoint the quality filter, domain-cap
    // shuffle and decontamination join would all re-execute 3+ times.
    val afterSelect = cfg.dsirTarget match {
      case Some(t) =>
        Corpus.dsirResample(cut(afterDecon), t, cfg.dsirKeep)
      case None => afterDecon
    }
    stages += ("dsir_select" -> afterSelect)

    // 6. content-addressed split; 7. pack the train split
    val split = afterSelect.withColumn("split",
      TextOps.splitAssign(col("text")))
    stages += ("split" -> split)
    val packed = Corpus.packSequences(
      split.where(col("split") === "train"), cfg.tokenBudget)
    Result(stages.result(), packed)
  }

  /** Count every stage (one action per stage — the reporting pass a
    * build driver runs once at the end). */
  def measure(r: Result): Seq[(String, Long)] =
    r.stages.map { case (name, df) => name -> df.count() }
}
