package graft.data

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** A trained BPE merge list, in application order.  `ranks` is rebuilt
  * lazily once per JVM from the serialized merge array.  (Top-level so
  * generated code can name the class without a nested `$`.) */
final case class BpeModel(merges: Array[(String, String)]) extends Serializable {
  @transient lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    var i = 0
    while (i < merges.length) {
      m.put(merges(i)._1 + " " + merges(i)._2, i)
      i += 1
    }
    m
  }
}

/** Byte-pair-encoding tokenizer (Sennrich et al. 2016, arXiv:1508.07909
  * — the subword scheme GPT-class corpora are budgeted in): merges are
  * TRAINED driver-side on a deterministic hash-sample of the corpus
  * (same TakeOrdered contract as the PQ codebooks, so training is
  * replayable bit-for-bit), then APPLIED executor-side as a codegen
  * expression with the merge-rank table baked into the plan — the
  * setup-vs-apply split the whole engine uses (a few thousand merges
  * are KBs of plan constants; the corpus-side work is one map-side
  * pass, no shuffle, no UDF).
  *
  * Exact subword counts replace the regex proxy ([[TextOps.tokenCountBpe]])
  * where budgets matter: [[Corpus.packSequences]] accepts
  * `dataops.bpeTokenCount(col, model)` as its token counter.
  *
  * Pre-tokenization splits text into letter runs, digit runs and single
  * punctuation marks (the same classes as the regex proxy); each word
  * ends in an explicit `</w>` symbol so merges cannot cross word
  * boundaries (the paper's convention).  Ties in pair frequency break
  * lexicographically — training order is fully deterministic. */
object Bpe {

  private[data] final val EndOfWord = "</w>"

  /** Letter runs, digit runs, single punctuation — the proxy regex's
    * classes, shared so counts stay comparable. */
  private[data] def preTokenize(text: String): Iterator[String] =
    "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]".r.findAllIn(text)

  private def symbols(word: String): Array[String] = {
    val out = new Array[String](word.length + 1)
    var i = 0
    while (i < word.length) { out(i) = word.charAt(i).toString; i += 1 }
    out(word.length) = EndOfWord
    out
  }

  /** Train `numMerges` merges on the texts of the `sampleN` docs with the
    * smallest id hash (deterministic; one TakeOrdered job).  Classic
    * corpus-level BPE: count adjacent symbol pairs over word TYPES
    * weighted by word frequency, merge the most frequent pair (ties:
    * lexicographically smallest), repeat. */
  def train(docs: DataFrame, numMerges: Int, sampleN: Int = 2048,
            idCol: String = "doc_id", textCol: String = "text"): BpeModel = {
    require(numMerges > 0, "bpe: numMerges must be positive")
    val texts = docs
      .orderBy(xxhash64(col(idCol)).asc, col(idCol).asc)
      .limit(sampleN)
      .select(col(textCol)).collect()
      .flatMap(r => Option(r.getString(0)))
    val wordFreq = new java.util.HashMap[String, Long]()
    texts.foreach(t => preTokenize(t).foreach(w =>
      wordFreq.merge(w, 1L, (a, b) => a + b)))
    // mutable word -> symbol array, one entry per word TYPE
    val words = new java.util.ArrayList[(Array[String], Long)]()
    wordFreq.forEach((w, f) => words.add((symbols(w), f)))
    val merges = Array.newBuilder[(String, String)]
    var it = 0
    var done = false
    while (it < numMerges && !done) {
      val pairFreq = new java.util.HashMap[(String, String), Long]()
      words.forEach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          pairFreq.merge((syms(i), syms(i + 1)), f, (a, b) => a + b)
          i += 1
        }
      }
      if (pairFreq.isEmpty) done = true
      else {
        var best: (String, String) = null
        var bestF = -1L
        pairFreq.forEach { (p, f) =>
          if (f > bestF || (f == bestF &&
              (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
            best = p; bestF = f
          }
        }
        merges += best
        val joined = best._1 + best._2
        for (k <- 0 until words.size()) {
          val (syms, f) = words.get(k)
          if (syms.length > 1) {
            val out = new java.util.ArrayList[String](syms.length)
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == best._1 && syms(i + 1) == best._2) {
                out.add(joined); i += 2
              } else { out.add(syms(i)); i += 1 }
            }
            if (out.size() != syms.length)
              words.set(k, (out.toArray(new Array[String](out.size())), f))
          }
        }
        it += 1
      }
    }
    BpeModel(merges.result())
  }

  /** Greedy BPE apply for one word: repeatedly merge the adjacent pair
    * with the LOWEST rank until no pair is in the table (the standard
    * inference rule — merge order follows training order, not position). */
  private def applyWord(word: String, m: BpeModel,
                        out: java.util.ArrayList[String]): Unit = {
    var syms = symbols(word)
    var continue = syms.length > 1
    while (continue) {
      var bestRank = Int.MaxValue
      var bestIdx = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = m.ranks.get(syms(i) + " " + syms(i + 1))
        if (r != null && r < bestRank) { bestRank = r; bestIdx = i }
        i += 1
      }
      if (bestIdx < 0) continue = false
      else {
        val next = new Array[String](syms.length - 1)
        var j = 0
        while (j < bestIdx) { next(j) = syms(j); j += 1 }
        next(bestIdx) = syms(bestIdx) + syms(bestIdx + 1)
        j = bestIdx + 2
        while (j < syms.length) { next(j - 1) = syms(j); j += 1 }
        syms = next
        continue = syms.length > 1
      }
    }
    var i = 0
    while (i < syms.length) { out.add(syms(i)); i += 1 }
  }

  /** Tokenize a document; called from generated code. */
  def encode(text: UTF8String, m: BpeModel): GenericArrayData = {
    val out = new java.util.ArrayList[String]()
    preTokenize(text.toString).foreach(w => applyWord(w, m, out))
    val arr = new Array[Any](out.size())
    var i = 0
    while (i < arr.length) { arr(i) = UTF8String.fromString(out.get(i)); i += 1 }
    new GenericArrayData(arr)
  }

  /** Token count only; called from generated code. */
  def count(text: UTF8String, m: BpeModel): Int = {
    val out = new java.util.ArrayList[String]()
    preTokenize(text.toString).foreach(w => applyWord(w, m, out))
    out.size()
  }
}
