package graft

import org.apache.spark.sql.SparkSession

/** Machine-readable scale tiers for the registry (VERDICT r10 item 3).
  *
  * Four queries are EXACT-GROUNDTRUTH forms: their candidate generation is
  * deliberately unbounded (the full LSH pair set, the full shingle
  * occurrence join) because they are the relations the production-scale
  * capped twins are law-checked against — at gate scales the cap binds
  * nothing and the twins must match them column-for-column. Under mass
  * replication (the sf100 rehearsal's 1000-replica cliques) their
  * candidate sets are answer-bound quadratic: px17's occurrence join was
  * probed at 220 B rows where px17b's df-cap holds 11.4 M. Until round 10
  * that exclusion lived in prose and run scripts; this object is the
  * registry-level tag, so Bench (and any future scale harness) skips the
  * tier BY MEASURED DATA, not by a human remembering to.
  *
  * The map value is each exact form's bounded production twin — the query
  * a 100 TB pipeline runs instead. CoverageSpec asserts every tagged query
  * has its twin registered AND oracle-gated, so the tag can never orphan. */
object ScaleTiers {

  /** exact-groundtruth query → its bounded (capped) production twin.
    * d2 joined the tier in round 12 when the FIRST full-suite sf100 run
    * ENOSPC'd on it — the raw LSH pair relation is the same answer-bound
    * output d4/d10 verify (2.5 B pairs under the replica cliques), and it
    * had stayed untagged only because no earlier sf100 run reached it. */
  val exactGroundtruth: Map[String, String] = Map(
    "d2_minhash_lsh" -> "d2b_minhash_lsh_capped",
    "d4_ngram_jaccard" -> "d4b_ngram_jaccard_capped",
    "d10_edit_verify" -> "d10b_edit_verify_capped",
    "px17_containment" -> "px17b_containment_capped",
    "px22_eval_scrub" -> "px22b_eval_scrub_capped")
  // d7/d8 left the tier in r13: their registered plans now serve the
  // grouped (collapse-first) label cores — provably closure-identical to
  // the raw pair sets (NorthStarSpec laws) — so the answer-bound edge
  // relation that ENOSPC'd them at sf100 is no longer in their plans and
  // the skip would be stale. The raw closures stay law-checked.

  /** Document-count ceiling for the exact tier. sf10 (500 k docs) is the
    * largest scale the exact forms have finished at in rehearsals (px17
    * ~259 s — slow but bounded by organic duplication); sf100's 5 M-doc
    * replica cliques are where their candidate sets go answer-bound
    * (SCALE.md probe: 19,300× the capped form's candidates). The boundary
    * between those measured points, with headroom over sf10. */
  val ExactTierMaxDocs = 1000000L

  /** One metadata-grain count, memoized — the decision input. */
  private def docCount(s: SparkSession, dir: String): Long =
    Memo.value(s, dir, "documents_rowcount", "documents.parquet")(
      Tables.documents(s, dir).count())

  /** The query names a scale harness must SKIP for `dir` — empty below
    * the ceiling (every gate scale), the exact tier above it. */
  def skippedAt(s: SparkSession, dir: String): Set[String] =
    if (docCount(s, dir) > ExactTierMaxDocs) exactGroundtruth.keySet
    else Set.empty
}
