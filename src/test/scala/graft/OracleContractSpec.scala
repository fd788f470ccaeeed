package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver-contract surface: the query census and exactly which
  * queries carry DuckDB oracles.  The oracle builders for the pinned
  * sweeps run REAL work here (registry scan, grid load, JVM-direct
  * evaluation) — so an asset that silently went missing, or a guarded
  * builder quietly degrading an entry to rows-only, fails THIS test
  * instead of shrinking hash coverage invisibly (Verify's resilient
  * dump must never be the only thing noticing). */
class OracleContractSpec extends AnyFunSuite {

  // the rows-only tail, each with its justification in the query doc:
  // probabilistic LSH banding (minhash/simhash/embedding), driver-side
  // k-means (ivf/pq), trained BPE merges, codec output (media_*), the
  // near-dup-dependent pipeline census, and the Douglas-Peucker split
  // (its DuckDB lambda formulation segfaults duckdb 1.0 — see the
  // frechet oracle for the recursion pattern that IS safe)
  private val rowsOnly = Set("q_ann_ivf", "q_ann_pq", "q_bpe_tokens",
    "q_corpus_pipeline", "q_dedup_embedding", "q_dedup_minhash",
    "q_dedup_simhash", "q_media_features", "q_media_jdk",
    "q_media_neardup", "q_media_probe", "q_simplify")

  test("oracle coverage is pinned: 95 of 107 queries hash-verified") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"orphan oracles: ${(o -- q).toSeq.sorted}")
    assert(q.size == 107, s"query census moved: ${q.size} (update this pin)")
    assert(o.size == 95,
      s"oracled count moved: ${o.size} — either update this pin for a new" +
        " oracle, or a guarded builder silently degraded; omitted for an " +
        "absent asset: " + SparkEntry.oracleOmitted.toSeq.sortBy(_._1)
          .map { case (n, e) => s"$n (${e.file})" }.mkString(", "))
    assert((q -- o) == rowsOnly,
      s"rows-only set drifted: ${(q -- o).toSeq.sorted}")
  }

  /** What a badly spliced SQL fragment leaves behind: a parenthesis
    * unbalanced outside quoted literals and `--` comments, an unpaired
    * single quote, or an uninterpolated `${`. */
  private def malformed(sql: String): Option[String] = {
    var depth = 0; var quoted = false; var i = 0
    while (i < sql.length) {
      val c = sql(i)
      if (quoted) { if (c == '\'') quoted = false } // '' reopens at once
      else if (c == '\'') quoted = true
      else if (sql.startsWith("--", i)) {
        val eol = sql.indexOf('\n', i); i = if (eol < 0) sql.length else eol
      } else if (c == '(') depth += 1
      else if (c == ')') {
        depth -= 1
        if (depth < 0) return Some(s"')' without '(' at offset $i")
      }
      i += 1
    }
    if (quoted) Some("unpaired single quote")
    else if (depth != 0) Some(s"$depth '(' left open")
    else if (sql.contains("${")) Some("uninterpolated ${")
    else None
  }

  test("every oracle is well-formed, non-trivial SQL") {
    // runs without the reference tree too, so a badly spliced fragment
    // fails here before the DuckDB compare
    for ((name, sql) <- SparkEntry.oracleSql) {
      assert(sql.length > 20 && sql.toUpperCase.contains("SELECT"), name)
      assert(malformed(sql) === None, name)
    }
  }

  test("the oracle map builds anywhere; an absent asset omits only a guarded entry") {
    // the one test here that holds without the reference tree: each
    // guarded builder that needs an absent file is omitted alone (and
    // says so on stderr); nothing else may go missing or throw
    val guarded = Set("q_point_motion", "q_registry_sweep",
      "q_authority_sweep", "q_isea_hex", "q_crs_factory")
    val omitted = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly
    assert(omitted.subsetOf(guarded), s"omitted: ${omitted.toSeq.sorted}")
  }
}
