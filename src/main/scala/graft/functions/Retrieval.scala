package graft.functions

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ranked retrieval over the `documents` table — the query side of a
  * training-data pipeline (find the documents most relevant to a probe
  * query: dataset exploration, targeted decontamination, eval-set mining).
  *
  * TX8 is BM25 with a RATIONAL idf: idf = (2(N−df)+1)/(2df+1), i.e. the
  * classic (N−df+0.5)/(df+0.5) with the logarithm dropped so every factor
  * stays an integer rational and the score is EXACT on both engines
  * (ExactRatio doctrine — round(double) of rationals flips on half
  * boundaries across engines, and ln() is only ever approximately equal).
  * The ln is a monotone per-term reweighting: rankings for single-term
  * queries are identical, multi-term sums weight rare terms more than
  * textbook BM25 — documented, deterministic, and portable. k1 = 1.2,
  * b = 0.75 enter as the exact rationals 6/5 and 3/4.
  *
  * Scale shape: the postings explode filters to the query terms BEFORE the
  * shuffle (predicate on the generated column rides the explode), so the
  * one aggregation shuffle carries |query-term postings| rows, never the
  * corpus; corpus stats (N, ΣT) and per-term document frequencies are
  * broadcast scalars. This is inverted-index retrieval expressed as a
  * DataFrame plan — at 100 TB the only wide stage is a groupBy over the
  * matched postings.
  */
object Retrieval {
  type Q = (SparkSession, String) => DataFrame
  import TextOps.toksSql

  /** Default probe query (common terms — every one in ~90% of docs). */
  private[graft] val QueryTerms = Seq("spark", "window", "merge")

  /** Rare-skewed probe: "dup" appears in <1% of documents, so its idf
    * factor dominates — the parameterization that exercises the
    * rare-term ranking path (p3/w7 convention: two gated instantiations
    * per parameterizable operator). */
  private[graft] val RareTerms = Seq("dup", "batch", "row")
  private val TopDocs = 20

  /** Per-term milli score, rounded half-up per term then summed — the sum
    * of exact rationals has no bounded common denominator, so the portable
    * form rounds each term identically on both engines first. The query
    * terms are a REAL parameter (the route-argument convention): the
    * in-collection filter is built per call, so any probe query reuses the
    * same single-shuffle postings plan. */
  def bm25(queryTerms: Seq[String]): Q = (s, d) => {
    // shared cores (r14 — guide §2.4): the fused form tokenized the whole
    // corpus TWICE per call (once under the stats agg, once under tf —
    // driver r13 measured tx8 1.44 s where the postings probe ran 0.90).
    // The memoized tokenized corpus (px14/px14b's core — same toks
    // definition, identical values by construction) feeds tf, and the
    // doc-length sidecar (tx8c's core, dl = size(toks)) feeds the corpus
    // stats, so the fused form tokenizes nothing.
    val toked = graft.operators.Dedup.docToksFor(s, d)
    val stats = docLengthsFor(s, d).agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("t_tokens"))
    val tf = toked
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .filter(col("term").isInCollection(queryTerms))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    bm25Score(tf, dfreq, stats)
  }

  /** The shared BM25 scoring tail (the d4b shared-tail convention): the
    * fused form and the postings probe ([[bm25Probe]]) differ ONLY in
    * where the matched (doc_id, dl, term, tf) rows and the corpus stats
    * come from, so the two gated forms cannot drift in the arithmetic.
    *
    * score = idf · tf·(k1+1)/(tf + k1(1−b) + k1·b·dl/avgdl) with
    * avgdl = T/N; multiplying through by 10T makes every factor integer:
    *   num = (2(N−df)+1) · 22·tf·T
    *   den = (2df+1) · (10·tf·T + 3T + 9·dl·N)
    * Caller factors stay in int64 (ANSI raises loudly past ~10^18 —
    * ExactRatio's documented contract); at that corpus size reduce T, N
    * by their gcd upstream. */
  private def bm25Score(tf: DataFrame, dfreq: DataFrame,
                        stats: DataFrame): DataFrame = {
    val scored = tf
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("score_milli", ExactRatio.scaled(
        (lit(2L) * (col("n_docs") - col("df")) + lit(1L)) *
          lit(22L) * col("tf") * col("t_tokens"),
        (lit(2L) * col("df") + lit(1L)) *
          (lit(10L) * col("tf") * col("t_tokens") +
            lit(3L) * col("t_tokens") + lit(9L) * col("dl") * col("n_docs")),
        1000L))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("score_milli")).as("bm25_milli"))
      .orderBy(col("bm25_milli").desc, col("doc_id"))
      .limit(TopDocs)
  }

  /** The BM25 TERM-POSTINGS relation (term, doc_id, tf, dl) — the
    * persisted inverted index behind tx8c, completing the serving-index
    * family (substring → tx16c gram postings, phrase → tx13c positional
    * postings, ANN → IVF/PQ codes; ranked retrieval was the one probe
    * family still re-deriving its index per query). tf is the within-doc
    * term count; dl rides along so the probe never joins back to the
    * corpus — BM25's per-doc factor needs only (tf, dl) plus broadcast
    * corpus stats. Building is one tokenize pass + one (term, doc) count —
    * per-doc facts only, no cross-doc state, which is what makes the admit
    * ([[admitBm25]]) a plain union. */
  private[graft] def bm25TermPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.toks(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))

  /** Doc-length sidecar (doc_id, dl): corpus stats (N = count, ΣT = sum)
    * must range over EVERY document — including those matching no probe
    * term — so they cannot come from the probed postings slices. One row
    * per doc; at 100 TB this is the doc-dimension relation, 5–6 orders
    * smaller than the postings. */
  private[graft] def docLengths(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(TextOps.toks(col("text"))).cast("long").as("dl"))

  /** The corpus BM25 index as memoized shared cores (the tri_postings /
    * pos_postings contract — build once, probe many). The postings are
    * parquet-backed (term-grain, the big relation); the doc-length sidecar
    * is a checkpoint (doc-grain, small). */
  private[graft] def bm25PostingsFor(s: SparkSession, d: String): DataFrame =
    graft.Memo.cachedParquet(s, d, "bm25_postings", "documents.parquet")(
      bm25TermPostings(Tables.documents(s, d)))
  private[graft] def docLengthsFor(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, d, "doc_lens", "documents.parquet")(
      docLengths(Tables.documents(s, d)))

  /** Admit a batch of NEW documents into a stored (postings, lengths)
    * index pair: tokenize + count the BATCH only, union both relations —
    * no rebuild, incremental ≡ one-shot as a set identity (spec law).
    * Precondition (the d9/appendPostings convention): batch doc_ids are
    * disjoint from the stored ones — tf, dl, and the probe-time df are
    * per-doc facts keyed by doc_id, so re-admitting a doc would
    * double-count them (replace, don't re-admit). */
  private[graft] def admitBm25(postings: DataFrame, lens: DataFrame,
                               batch: DataFrame): (DataFrame, DataFrame) =
    (postings.unionByName(bm25TermPostings(batch)),
      lens.unionByName(docLengths(batch)))

  /** TX8C — BM25 AGAINST THE POSTINGS INDEX: the probe touches the query
    * terms' postings lists (bucket-prunable term filter — never the
    * corpus, never any document bytes), derives per-term df from the
    * probed lists themselves (one row per (term, doc), so a term-grain
    * count over Σ df(q) rows IS the document frequency), takes corpus
    * stats from one doc-grain pass over the length sidecar, and runs the
    * shared scoring tail. Shuffle shape at 100 TB: the index's term
    * buckets make the df count exchange-free, leaving ONE doc-grain
    * aggregation over the matched postings plus the broadcast stats —
    * identical economics to the fused form's final stage, minus the
    * corpus tokenize. */
  private[graft] def bm25Probe(postings: DataFrame, lens: DataFrame,
                               queryTerms: Seq[String]): DataFrame = {
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("t_tokens"))
    val tf = postings.filter(col("term").isInCollection(queryTerms))
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    bm25Score(tf, dfreq, stats)
  }

  private def tx8c(queryTerms: Seq[String]): Q = (s, d) =>
    bm25Probe(bm25PostingsFor(s, d), docLengthsFor(s, d), queryTerms)

  /** tx9 geometry. Weights: w(term) = IdfScale ⌊/⌋ df — an integer idf
    * (∝ 1/df; cosine is scale-invariant so the dropped N factor changes
    * nothing), with terms in > IdfScale docs weighting to 0, i.e. the
    * stopword cut falls out of the arithmetic. Candidates: only terms
    * with df ≤ max(DfCap, N/10) generate pairs (rare-term blocking —
    * Σ df² bounded, never doc×doc); the full vectors then score the
    * candidates. The cap's relative arm exists for the synthetic corpus,
    * whose ~30-term vocabulary has min df ≈ N/20 — no term is absolutely
    * rare; a production crawl vocabulary is Zipfian and the absolute arm
    * is the binding one (the relative arm only matters when N/10 > DfCap
    * AND the vocabulary is tiny, which a crawl's never is). Scores:
    * cos² in basis points, exact — cos² = dot²/(|a|²|b|²) is a ratio of
    * integers, so ExactRatio applies with no square root; all factors are
    * ≥ 0 so cos² ranks identically to cos. */
  private[graft] val IdfScale = 1000L
  private[graft] val DfCap = 20L
  private[graft] val Cos2MinBp = 2500L // cos ≥ 0.5

  /** TX9 — TF-IDF cosine document-pair similarity: the sparse
    * (lexical) twin of d5's dense embedding near-dup. Inverted-index
    * shape end to end — term-grain joins for df and candidates, doc-grain
    * aggregations for norms and dot products. The dot² / norm² products
    * exceed int64 (documented ExactRatio precondition), so they are
    * widened to 38-digit DECIMAL / HUGEINT BEFORE multiplying on both
    * engines. Ceilings, honestly: dot and n2 are int64 sums — they fail
    * LOUDLY (ANSI) past 9.2·10¹⁸, and the widened dot²·2·10⁴ term must
    * stay under DECIMAL38/HUGEINT, i.e. dot < ~7·10¹⁶ — satisfied while
    * Σ tf·tw per shared-term pair stays below that, e.g. docs of ≤ 10⁴
    * tokens with tw ≤ 10⁷ keep dot ≤ 10¹⁵ (Cauchy-Schwarz against
    * n2 ≤ 10¹⁴ bounds it tighter). Past any ceiling BOTH engines raise —
    * never a silent wrong pair. */
  /** tx9's scored pair set as a MEMOIZED shared core ([[graft.Memo]]):
    * tx17 composes it, and without the memo it re-ran the whole
    * tokenize + candidate-join + dot-product chain (1.9 s at sf0.1;
    * at 100 TB, a full redundant corpus pass per composing query). */
  private def tx9Pairs(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, d, "tx9_pairs", "documents.parquet") {
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(TextOps.toks(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // tw feeds four consumers (norms, candidate generation, both dot-product
    // sides); checkpointing materializes the tokenize + two-shuffle subtree
    // ONCE instead of per consumer — at corpus scale the tokenize pass is
    // the dominant cost and must not run 4× (the x4 lesson, bench r5)
    val tw = tf.join(dfreq, Seq("term"))
      .withColumn("w", call_function("div", lit(IdfScale), col("df")))
      .filter(col("w") > 0L)
      .select(col("doc_id"), col("term"), (col("tf") * col("w")).as("tw"), col("df"))
      .localCheckpoint(true)
    val norms = tw.groupBy(col("doc_id")).agg(sum(col("tw") * col("tw")).as("n2"))
    val ndocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val rare = tw.crossJoin(broadcast(ndocs))
      .filter(col("df") <=
        greatest(lit(DfCap), call_function("div", col("n_docs"), lit(10L))))
      .select(col("doc_id"), col("term"))
    val cand = rare.as("a")
      .join(rare.as("b"),
        col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")).distinct()
    val dot = cand
      .join(tw.as("v1"), col("d1") === col("v1.doc_id"))
      .join(tw.as("v2"),
        col("d2") === col("v2.doc_id") && col("v1.term") === col("v2.term"))
      .groupBy(col("d1"), col("d2"))
      .agg(sum(col("v1.tw") * col("v2.tw")).as("dot"))
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    dot
      .join(norms.as("na"), col("d1") === col("na.doc_id"))
      .join(norms.as("nb"), col("d2") === col("nb.doc_id"))
      .withColumn("cos2_bp", ExactRatio.scaled(
        col("dot").cast(d38) * col("dot").cast(d38),
        col("na.n2").cast(d38) * col("nb.n2").cast(d38), 10000L))
      .filter(col("cos2_bp") >= Cos2MinBp)
      .select(col("d1"), col("d2"), col("cos2_bp"))
  }

  private val tx9: Q = (s, d) =>
    tx9Pairs(s, d).orderBy(col("d1"), col("d2"))

  private val TopTerms = 3

  /** TX10 — per-document keyword extraction: the top [[TopTerms]] terms by
    * the same integer TF-IDF weight tx9 scores with (tf · IdfScale⌊/⌋df),
    * ties broken lexicographically. The ranking window partitions by
    * doc_id — bounded by document length, never corpus-wide — and terms
    * whose weight floors to 0 (df > IdfScale: stopwords) never rank. This
    * is the tagging pass of a curation pipeline: one term-grain shuffle
    * for df, one doc-grain window, output k rows per doc. */
  private val tx10: Q = (s, d) => {
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(TextOps.toks(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tw = tf.join(dfreq, Seq("term"))
      .withColumn("tw",
        col("tf") * call_function("div", lit(IdfScale), col("df")))
      .filter(col("tw") > 0L)
    import org.apache.spark.sql.expressions.Window
    tw.withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("tw").desc, col("term"))))
      .filter(col("rank") <= TopTerms)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("term"), col("tw"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** tx16's needles (p3/w7 convention — two gated parameterizations of the
    * same core). Both CROSS WORD BOUNDARIES, which is the case word-grain
    * search (tx13) cannot answer and LIKE '%…%' at corpus scale answers
    * only by scanning every byte. Non-empty at every test scale. */
  private[graft] val Needle = "stream spark"
  private[graft] val Needle2 = "slow small filter"

  /** TX16 — TRIGRAM SUBSTRING SEARCH, RARE-GRAM-FIRST (the pg_trgm plan):
    * find every document containing an arbitrary substring, with
    * occurrence counts, without paying the full LIKE '%needle%' scan's
    * cost profile on non-matching documents.
    *
    * Shape (round 10 — the previous form materialized EVERY document's
    * trigram array just to intersect it with the needle's grams, ~one
    * short-lived string per corpus character; 92 s of allocation at sf10):
    * candidacy is a CONJUNCTIVE row-local prefilter — the document must
    * contain every needle trigram — with the conjuncts ordered by
    * ascending document frequency, so codegen's short-circuit `&&` rejects
    * almost every document on its FIRST, most selective gram probe and the
    * common grams are only ever tested on documents the rare ones already
    * passed. Gram dfs come from one bounded sample pass ([[gramOrder]],
    * memoized per (dir, needle, mtime)); ordering affects only the plan —
    * conjunction commutes — so the sampled estimate can never change the
    * answer. Survivors take the exact occurrence count (trigram
    * containment is necessary, not sufficient), which is what makes the
    * result exact while the prefilter makes it cheap.
    *
    * At 100 TB the same economics run against the PERSISTED postings
    * table (gram → doc): probe the rarest gram's postings list first and
    * semi-join the rest in df order, touching no document bytes until the
    * verify. This fused build+probe form is that plan with the postings
    * probe collapsed into the scan that would have built them — the
    * df-ordered short-circuit IS the ordered semi-join, minus a shuffle. */
  private[graft] def substringSearch(docs: DataFrame, needle: String,
                                     dir: Option[String] = None): DataFrame = {
    require(needle.length >= 3, "trigram search needs a needle of >= 3 chars")
    val ordered = gramOrder(docs, needle, dir)
    val candidate = ordered.map(g => col("text").contains(lit(g)))
      .reduce(_ && _)
    docs.filter(candidate)
      .select(col("doc_id"),
        call_function("div",
          length(col("text")) - length(replace(col("text"), lit(needle), lit(""))),
          lit(needle.length.toLong)).as("n_occurrences"))
      .filter(col("n_occurrences") > 0L)
      .orderBy(col("doc_id"))
  }

  /** The needle's distinct trigrams, rarest first: df per gram measured
    * with contains() probes over a 1-in-64 doc_id sample (one row-local
    * scan of ~1.6% of the corpus, k longs collected — geometry-bounded),
    * ties broken lexically so the order is deterministic. Memoized per
    * (dir, needle) — the needle is part of the memo tag — so plan
    * construction never re-runs the sample (the orderRows contract) and
    * Bench attributes the one pass to its own builds line; an explicit
    * frame with no dir (spec fixtures) just computes. An empty sample
    * degrades to lexical order — still correct, conjunction commutes. */
  private[graft] def gramOrder(docs: DataFrame, needle: String,
                               dir: Option[String] = None): Seq[String] = {
    val grams = needle.sliding(3).toSeq.distinct
    def measure(): Seq[String] = {
      val row = docs.filter(col("doc_id") % 64 === 0)
        .agg(
          sum(col("text").contains(lit(grams.head)).cast("long")).as("g0"),
          grams.tail.zipWithIndex.map { case (g, i) =>
            sum(col("text").contains(lit(g)).cast("long")).as(s"g${i + 1}")
          }: _*)
        .collect().headOption
      val dfs = grams.indices.map(i =>
        row.flatMap(r => Option(r.get(i)).map(_.asInstanceOf[Long]))
          .getOrElse(0L))
      grams.zip(dfs).sortBy { case (g, n) => (n, g) }.map(_._1)
    }
    dir match {
      case Some(d) =>
        graft.Memo.value(docs.sparkSession, d, s"tx16_gram_dfs:$needle",
          "documents.parquet")(measure())
      case None => measure()
    }
  }

  private val tx16: Q = (s, d) => substringSearch(Tables.documents(s, d), Needle, Some(d))
  private val tx16b: Q = (s, d) => substringSearch(Tables.documents(s, d), Needle2, Some(d))

  /** The TRIGRAM POSTINGS relation (gram, doc_id), distinct — the
    * persistable index behind tx16c, the promised 100 TB form of substring
    * search (VERDICT r10 missing #1: SCALE.md sold "the same economics
    * against the PERSISTED postings table", but only the fused build+probe
    * existed; d9's band index and the IVF postings both have persisted
    * twins — this is substring search's). Gram extraction is ROW-LOCAL
    * (every sliding 3-char window, distinct'd per doc before the explode),
    * so building — like the IVF/band indexes — is one pass with no
    * cross-row state, which is exactly what makes the index incrementally
    * maintainable: admitting a batch ([[appendPostings]]) explodes ONLY
    * the batch and appends, no rebuild, incremental ≡ one-shot as a set
    * identity (spec law). Persisted BUCKETED by gram, a probe's gram
    * filter prunes to the needle's buckets without a shuffle
    * (BucketingSpec). */
  private[graft] def trigramPostings(docs: DataFrame): DataFrame =
    docs
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(
          transform(sequence(lit(1), length(col("text")) - 2),
            i => col("text").substr(i, lit(3))))).as("gram"))

  /** The corpus postings as a memoized shared core (the lsh_pairs /
    * cell_asg contract — build once, probe many). Parquet-backed
    * (Memo.cachedParquet): this is the biggest index in the suite
    * (~300 (gram, doc_id) rows per doc — 1.5 B at sf100), and a
    * serialized-row checkpoint of it ENOSPC'd the first full sf100 run
    * where columnar dictionary+RLE holds it in a few GB. */
  private[graft] def trigramPostingsFor(s: SparkSession, d: String): DataFrame =
    graft.Memo.cachedParquet(s, d, "tri_postings", "documents.parquet")(
      trigramPostings(Tables.documents(s, d)))

  /** Admit a batch of new documents into a stored postings relation:
    * explode the BATCH only, append. Postings rows are per-doc facts (no
    * cross-doc state), so union IS the whole merge — the Similarity
    * .appendIndex shape at gram grain. */
  private[graft] def appendPostings(stored: DataFrame, batch: DataFrame): DataFrame =
    stored.unionByName(trigramPostings(batch))

  /** TX16C — substring search AGAINST THE POSTINGS INDEX: candidacy is
    * "the doc appears in EVERY needle gram's postings list", computed as
    * one doc-grain count over only the probed lists. A freshly-built index
    * is distinct per (gram, doc), but an index that has ADMITTED batches
    * can carry duplicate (gram, doc) rows ([[appendPostings]] never
    * re-distincts the union), so candidacy uses count ≥ |grams| — a
    * superset of the exact-intersection set on any admitted index, equal
    * to it on a fresh one — and the exact n_occurrences verify below
    * restores exactness either way (containment was never sufficient to
    * begin with). This is the rarest-first semi-join chain COLLAPSED into one
    * aggregation: the chain would shuffle k times to intersect k lists;
    * the count shuffles once, over Σ df(g) rows (the probed lists
    * themselves, never the corpus — and never any document bytes).
    * Survivors take the same exact verify as the fused form (containment
    * is necessary, not sufficient), so tx16c ≡ tx16 row-for-row (spec +
    * the shared oracle). At 100 TB the index is bucketed by gram: the
    * probe reads k bucket slices, one small shuffle, |survivors| point
    * verifies. */
  private[graft] def substringSearchPostings(postings: DataFrame,
                                             docs: DataFrame,
                                             needle: String): DataFrame = {
    require(needle.length >= 3, "trigram search needs a needle of >= 3 chars")
    val grams = needle.sliding(3).toSeq.distinct
    val cand = postings
      .filter(col("gram").isin(grams: _*))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("ng"))
      .filter(col("ng") >= grams.size.toLong)
      .select(col("doc_id"))
    docs.join(cand, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        call_function("div",
          length(col("text")) - length(replace(col("text"), lit(needle), lit(""))),
          lit(needle.length.toLong)).as("n_occurrences"))
      .filter(col("n_occurrences") > 0L)
      .orderBy(col("doc_id"))
  }

  private val tx16c: Q = (s, d) =>
    substringSearchPostings(trigramPostingsFor(s, d), Tables.documents(s, d), Needle)

  private val KnnK = 3

  /** TX17 — LEXICAL k-NN: each document's top-[[KnnK]] most-similar other
    * documents by tx9's exact integer TF-IDF cosine — the neighbor list a
    * curation UI or a cluster-then-label pass reads (the sparse twin of
    * x1's dense top-k). Composed from tx9's registered candidate core, so
    * the pair set is the one the d7-style gates verify: rare-term-blocked
    * candidates only, never doc×doc. Pairs are symmetric (d1 < d2), so
    * each undirected pair feeds BOTH endpoints' lists before the per-doc
    * ranking window (bounded by candidates-per-doc, never the corpus). */
  private val tx17: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val pairs = tx9Pairs(s, d)
    val directed = pairs
      .select(col("d1").as("doc_id"), col("d2").as("neighbor_id"), col("cos2_bp"))
      .unionByName(pairs
        .select(col("d2").as("doc_id"), col("d1").as("neighbor_id"), col("cos2_bp")))
    directed
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("cos2_bp").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rank") <= KnnK)
      .select(col("doc_id"), col("rank"), col("neighbor_id"), col("cos2_bp"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val queries: Map[String, Q] = Map(
    "tx8_bm25" -> bm25(QueryTerms),
    "tx8_bm25_rare" -> bm25(RareTerms),
    "tx8c_bm25_postings" -> tx8c(QueryTerms),
    "tx8c_bm25_postings_rare" -> tx8c(RareTerms),
    "tx9_tfidf_pairs" -> tx9,
    "tx10_keywords" -> tx10,
    "tx16_substring" -> tx16,
    "tx16_substring3w" -> tx16b,
    "tx16c_substring_postings" -> tx16c,
    "tx17_lexical_knn" -> tx17)

  def bm25Sql(queryTerms: Seq[String]): String = {
    val termsSql = queryTerms.map(t => s"'$t'").mkString(", ")
    val num = "(2 * (n_docs - df) + 1) * 22 * tf * t_tokens"
    val den = "(2 * df + 1) * (10 * tf * t_tokens + 3 * t_tokens + 9 * dl * n_docs)"
    s"""WITH tk0 AS (SELECT doc_id, $toksSql AS tk FROM documents),
         | docs AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS dl FROM tk0),
         | stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |   CAST(sum(dl) AS BIGINT) AS t_tokens FROM docs),
         | posts AS (SELECT doc_id, dl, t.term FROM docs, UNNEST(tk) AS t(term)
         |   WHERE t.term IN ($termsSql)),
         | tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
         |   FROM posts GROUP BY 1, 2, 3),
         | dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         | sc AS (SELECT doc_id,
         |     ${ExactRatio.scaledSql(num, den, 1000L)} AS score_milli
         |   FROM tf JOIN dfreq USING (term), stats)
         | SELECT doc_id, count(*) AS n_terms,
         |   CAST(sum(score_milli) AS BIGINT) AS bm25_milli
         | FROM sc GROUP BY 1
         | ORDER BY bm25_milli DESC, doc_id LIMIT $TopDocs""".stripMargin
  }

  private val tx9Sql =
    s"""WITH tf AS (SELECT doc_id, t.term, CAST(count(*) AS BIGINT) AS tf
       |   FROM (SELECT doc_id, $toksSql AS tk FROM documents), UNNEST(tk) AS t(term)
       |   GROUP BY 1, 2),
       | dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       | tw AS (SELECT doc_id, term, tf * ($IdfScale // df) AS tw, df
       |   FROM tf JOIN dfreq USING (term) WHERE $IdfScale // df > 0),
       | norms AS (SELECT doc_id, sum(tw * tw) AS n2 FROM tw GROUP BY 1),
       | nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       | rare AS (SELECT doc_id, term FROM tw, nd
       |   WHERE df <= greatest($DfCap, n_docs // 10)),
       | cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |   FROM rare a JOIN rare b ON a.term = b.term AND a.doc_id < b.doc_id),
       | dots AS (SELECT d1, d2, sum(v1.tw * v2.tw) AS dot
       |   FROM cand JOIN tw v1 ON cand.d1 = v1.doc_id
       |             JOIN tw v2 ON cand.d2 = v2.doc_id AND v1.term = v2.term
       |   GROUP BY 1, 2),
       | sc AS (SELECT d1, d2, ${ExactRatio.scaledSql(
            "CAST(dot AS HUGEINT) * dot", "CAST(na.n2 AS HUGEINT) * nb.n2",
            10000L)} AS cos2_bp
       |   FROM dots JOIN norms na ON d1 = na.doc_id JOIN norms nb ON d2 = nb.doc_id)
       | SELECT d1, d2, cos2_bp FROM sc WHERE cos2_bp >= $Cos2MinBp
       | ORDER BY d1, d2""".stripMargin

  private val tx10Sql =
    s"""WITH tf AS (SELECT doc_id, t.term, CAST(count(*) AS BIGINT) AS tf
       |   FROM (SELECT doc_id, $toksSql AS tk FROM documents), UNNEST(tk) AS t(term)
       |   GROUP BY 1, 2),
       | dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       | tw AS (SELECT doc_id, term, tf * ($IdfScale // df) AS tw
       |   FROM tf JOIN dfreq USING (term) WHERE tf * ($IdfScale // df) > 0),
       | ranked AS (SELECT doc_id, term, tw,
       |     row_number() OVER (PARTITION BY doc_id ORDER BY tw DESC, term) AS rank
       |   FROM tw)
       | SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tw
       | FROM ranked WHERE rank <= $TopTerms ORDER BY doc_id, rank""".stripMargin

  /** tx16's oracle — generated from the same needle constant as the Spark
    * side (the tx13 convention), stated as the DIRECT definition (contains
    * + replace-count) so the gate proves the index plan answers exactly
    * the naive LIKE question. Needles are word chars + spaces — no SQL or
    * regex escaping hazard. */
  private def substringSql(needle: String): String =
    s"""SELECT doc_id,
       |   CAST((length(text) - length(replace(text, '$needle', ''))) // ${needle.length} AS BIGINT)
       |     AS n_occurrences
       | FROM documents WHERE contains(text, '$needle') ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "tx8_bm25" -> bm25Sql(QueryTerms),
    "tx8_bm25_rare" -> bm25Sql(RareTerms),
    // the postings probe answers the SAME ranked-retrieval question as the
    // fused form (the tx16c convention): one oracle definition, so the
    // index path is held to the direct tokenize-and-score answer, not to
    // its own machinery
    "tx8c_bm25_postings" -> bm25Sql(QueryTerms),
    "tx8c_bm25_postings_rare" -> bm25Sql(RareTerms),
    "tx9_tfidf_pairs" -> tx9Sql,
    "tx10_keywords" -> tx10Sql,
    "tx16_substring" -> substringSql(Needle),
    "tx16_substring3w" -> substringSql(Needle2),
    // the postings probe answers the SAME question as the fused form —
    // one oracle definition, so the index path is held to the direct
    // LIKE-semantics answer, not to its own machinery
    "tx16c_substring_postings" -> substringSql(Needle),
    // tx17 nests tx9's oracle (the px15-nests-d6 convention) so the
    // neighbor lists are ranked over the exact pair set the tx9 gate
    // hash-compares.
    "tx17_lexical_knn" ->
      s"""WITH pairs AS (${tx9Sql}),
         | directed AS (
         |   SELECT d1 AS doc_id, d2 AS neighbor_id, cos2_bp FROM pairs
         |   UNION ALL
         |   SELECT d2, d1, cos2_bp FROM pairs),
         | ranked AS (SELECT doc_id, neighbor_id, cos2_bp,
         |     CAST(row_number() OVER (PARTITION BY doc_id
         |       ORDER BY cos2_bp DESC, neighbor_id) AS BIGINT) AS rank
         |   FROM directed)
         | SELECT doc_id, rank, neighbor_id, cos2_bp
         | FROM ranked WHERE rank <= $KnnK ORDER BY doc_id, rank""".stripMargin)
}
