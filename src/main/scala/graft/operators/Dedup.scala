package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data deduplication over the `documents` table (north-star ops,
  * SURVEY.md §7.5): exact, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design: signatures (token lists, shingle sets, MinHash sketches,
  * SimHash bits) are all computed ROW-LOCALLY with higher-order functions —
  * no explode, no shuffle, no UDF — so the signature stage is map-side only
  * and codegen-friendly at any scale. The only shuffles are the ones the
  * algorithms require: a groupBy on content hash (d1), a band-bucket
  * equi-join (d2, the LSH trick that replaces the O(n²) all-pairs compare),
  * and a shared-shingle equi-join (d4, bounded to candidate pairs).
  * Hashes are md5 hex on both engines, so the DuckDB oracle agrees exactly.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  import graft.functions.TextOps.{toks, shingles, toksSql, shinglesSql}

  /** doc_id → distinct shingles. The token array is materialized in its own
    * projection first: `shingles` references it 4× (twice inside lambdas),
    * and a single inlined expression would be re-evaluated per reference —
    * interpreted HOF lambdas get no subexpression elimination, which showed
    * up as the regex split re-running per shingle (8s of 22s at sf0.1).
    * Multi-use refs also stop CollapseProject from re-inlining.
    *
    * MEMOIZED as a shared core ([[graft.Memo]]): the shingling pass (regex
    * tokenize + per-doc distinct) is the dominant map-side cost, and FIVE
    * registered queries consume this exact frame (the d2 chain, d4's
    * verify sides, px4, px17, px22) — without the memo each ran its own
    * tokenize of the whole corpus. */
  private[graft] def docShingles(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, d, "doc_shingles", "documents.parquet")(
      docShinglesOf(Tables.documents(s, d)))

  /** The same projection split for any documents frame — ONE definition,
    * so the invariant above cannot be silently violated at a second site. */
  private def docShinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"), shingles(col("tk")).as("shingles"))

  /** doc_id → 60-bit HASHED shingle set (`hs: array<long>`), memoized.
    *
    * The VERIFY grain for d4/px17: intersections and shingle-grain joins
    * run over primitive longs instead of ~25-char strings — ~3× fewer
    * shuffle bytes and no per-element string hashing, which at sf1 was the
    * dominant allocation pressure (d4's 250k-pair verify allocated a
    * string HashSet per pair; GC from that run degraded the WHOLE session
    * ~3.5× in the sf1 rehearsal). Parity stays EXACT because the oracle
    * hashes with the same family ([[hsSql]]): both engines compare the
    * same longs, so even an md5-prefix collision (P ≈ |shingles|²/2⁶¹)
    * changes both sides identically. array_distinct keeps `hs` a true set
    * under collisions (size arithmetic below assumes set semantics);
    * min-over-hashes is unaffected, so band signatures — and therefore
    * every persisted LSH index — are byte-identical to the string path. */
  private def docHashedShingles(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, d, "doc_hs", "documents.parquet")(
      hsProjection(docShingles(s, d)))

  /** (doc_id, shingles) → (doc_id, hs) — ONE definition of the hashed-set
    * projection so the memoized corpus core and explicit spec frames
    * cannot drift. */
  private def hsProjection(shingled: DataFrame): DataFrame =
    shingled.select(
      col("doc_id"),
      // sorted ascending: graft_isect's merge-walk precondition (d4).
      // minhash (min over xor'd hashes) and explode consumers (px17)
      // are order-insensitive, so one sort at set-build time serves all.
      sort_array(array_distinct(transform(col("shingles"), x => h64(x))))
        .as("hs"))

  /** The hashed-shingle frame for an EXPLICIT documents frame (spec
    * fixtures; the corpus path goes through the memoized core above). */
  private[graft] def hashedShinglesOf(docs: DataFrame): DataFrame =
    hsProjection(docShinglesOf(docs))

  /** D1 — exact dedup by content hash: one row per distinct content, the
    * kept doc is min(doc_id) (deterministic survivor rule). */
  private val d1: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("content_hash"))

  private def md5hexJvm(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** 8 fixed xor-seeds (driver-derived from md5, embedded as literals in the
    * oracle SQL too, so both engines use the same hash family). */
  private[graft] val seeds: Seq[Long] =
    (0 until 8).map(j => java.lang.Long.parseLong(md5hexJvm(s"seed:$j").take(15), 16))

  /** 60-bit integer hash of a string: first 15 hex digits of md5. One md5
    * per shingle — the k minhash functions are derived by xor-ing this base
    * hash with fixed seeds, so signature cost is O(shingles), not
    * O(k·shingles) md5 calls (8× cheaper; the md5 IS the hot loop at scale). */
  private def h64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** LSH band rows (doc_id, band_idx, bh) for a documents frame: 8
    * minhashes over hashed shingles, 4 bands of 2. This is the index d2
    * self-joins — and, persisted, it is the STATE of the incremental
    * path ([[dedupeIncremental]]): ~4 small rows per document, no text,
    * no shingle sets, so the state is a fraction of corpus size. */
  private[graft] def bandSignatures(docs: DataFrame): DataFrame =
    bandsFromShingles(docShinglesOf(docs))

  /** The signature/banding tail over a prebuilt shingle frame — split out
    * so the memoized corpus core ([[docShingles]]) can feed it without
    * re-tokenizing. */
  private def bandsFromShingles(ds: DataFrame): DataFrame =
    bandsFromHs(ds.select(
      col("doc_id"), transform(col("shingles"), x => h64(x)).as("hs")))

  /** Banding over a prebuilt HASHED shingle frame ([[docHashedShingles]]).
    * min(h ⊕ seed) ignores duplicates, so the distinct'd hashed core and
    * the raw string path produce identical bands. */
  private def bandsFromHs(hsFrame: DataFrame): DataFrame = {
    // all 8 signatures in ONE native pass (expressions.MinHashXor, r13)
    // instead of 8 interpreted transform+array_min folds, each allocating
    // an intermediate xor'd array per row; h0..h7 then unpack as cheap
    // element_at projections (the two selects stay separate — the mh
    // alias is non-cheap and multiply referenced, so CollapseProject
    // cannot re-inline the pass 8×). Identical signatures: xor and long
    // min are exact, law-compared against the per-seed folds.
    graft.GraftExtensions.ensure(hsFrame.sparkSession)
    val sig = hsFrame
      .select(col("doc_id"),
        call_function("graft_minhash", col("hs"), typedlit(seeds)).as("mh"))
      .select(
        col("doc_id") +: (0 until 8).map(j =>
          element_at(col("mh"), j + 1).as(s"h$j")): _*)
    sig.select(
      col("doc_id"),
      posexplode(array(
        md5(concat_ws(":", col("h0"), col("h1"))),
        md5(concat_ws(":", col("h2"), col("h3"))),
        md5(concat_ws(":", col("h4"), col("h5"))),
        md5(concat_ws(":", col("h6"), col("h7"))))).as(Seq("band_idx", "bh")))
  }

  /** The LSH collision pairs of a band frame — d2's join, shared with d10's
    * verify stage so the candidate set cannot drift between them. */
  private[graft] def lshPairs(bands: DataFrame): DataFrame = {
    val a = bands.as("a"); val b = bands.as("b")
    a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
          col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** The corpus LSH candidate-pair set as a MEMOIZED shared core: FOUR
    * registered queries consume this exact relation (d2 itself, d4's and
    * d10's verify stages, d6's clustering input) — without the memo each
    * re-ran the signature pass and the band self-join (~1.2 s × 3
    * redundant runs at sf0.1; at 100 TB, 3 redundant corpus shuffles). */
  private def lshPairsCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, d, "lsh_pairs", "documents.parquet")(
      lshPairs(bandsFromHs(docHashedShingles(s, d))))

  /** d10b's bucket-size cap: a band bucket with more than this many
    * colliding documents is degenerate mass duplication (boilerplate, or
    * the replica cliques ScaleUp plants) — its O(size²) pairs carry no
    * per-pair information the cluster queries (d6/d8) don't already
    * capture at O(size), and at the sf100 rehearsal the uncapped pair set
    * spilled past the machine's entire free disk. Same production guard
    * family as px17b's shingle df-cap. */
  private[graft] val LshBucketCap = 64L

  /** Pair generation restricted to band buckets of size in [2, cap] —
    * the BOUNDED near-dup candidate path. Shape: one count aggregate on
    * the band key, a co-partitioned semi-join (no reshuffle: same key),
    * then a collect_list whose per-group state is PROVABLY ≤ cap rows, and
    * row-local pair expansion. Candidates ≤ 4n·cap/2 — linear in corpus
    * size by construction, vs the uncapped form's Σ bucket² (quadratic in
    * clique size: 2.5 B pairs carrying full texts at the sf100
    * rehearsal's 1000-replica cliques). The spec proves this expansion
    * ≡ [[lshPairs]] over the same bucket restriction. */
  private[graft] def lshPairsCapped(bands: DataFrame, cap: Long): DataFrame = {
    val small = bands
      .groupBy(col("band_idx"), col("bh"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn").between(2L, cap))
      .select(col("band_idx"), col("bh"))
    bands.join(small, Seq("band_idx", "bh"), "left_semi")
      .groupBy(col("band_idx"), col("bh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))), y =>
          struct(x.as("d1"), y.as("d2")))))).as("p"))
      .select(col("p.d1"), col("p.d2"))
      .distinct()
  }

  /** CONNECTIVITY-EQUIVALENT star edges of the LSH collision graph: one
    * edge from each bucket's min doc_id (the hub) to every other member,
    * instead of the bucket's C(n,2) clique. Within a bucket every member
    * reaches every other through the hub, so the transitive closure — the
    * only thing d6's clustering consumes — is IDENTICAL to [[lshPairs]]'
    * (spec law), while the edge count is Σ(bucket−1) ≤ 4n instead of
    * Σ C(bucket,2): at the sf100 rehearsal's 1000-replica cliques the
    * clique form is 2.5 B edges (it ENOSPC'd px16 through d6), the star
    * form ~20 M. Pairwise consumers (d2/d4/d10) keep the true pair set —
    * only component-finding may take this shortcut. */
  private[graft] def lshStarEdges(bands: DataFrame): DataFrame = {
    val hubs = bands.groupBy(col("band_idx"), col("bh"))
      .agg(min(col("doc_id")).as("hub"))
    bands.join(hubs, Seq("band_idx", "bh"))
      .filter(col("doc_id") =!= col("hub"))
      .select(col("hub").as("x"), col("doc_id").as("y"))
      .distinct()
  }

  /** D2 — MinHash+LSH near-dup candidates: docs sharing any band bucket
    * are candidate pairs. The band-bucket equi-join is what makes this
    * O(n·bands) shuffle instead of O(n²) compare — the core 100 TB dedup
    * pattern. */
  private val d2: Q = (s, d) =>
    lshPairsCached(s, d).orderBy(col("d1"), col("d2"))

  /** D2B — the BUCKET-CAPPED LSH candidate pair relation: d2 through
    * [[lshPairsCapped]], the production-scale twin of the raw pair set.
    * Found the honest way (round 12): the FIRST full-suite sf100 bench
    * run hit d2 itself with ENOSPC mid-shuffle — its output is the same
    * answer-bound 2.5 B-pair relation d4/d10 verify, and those were
    * tier-tagged in r11 while the pair relation they read stayed
    * untagged because no prior sf100 run reached it (the TOP10 subset
    * skipped the d-family). Under organic duplication no bucket nears
    * the cap, so d2b ≡ d2 column-for-column (spec law + the oracle gate);
    * under mass replication the over-cap cliques' pairs are summarized
    * by d6/d8 at linear cost. */
  private val d2b: Q = (s, d) => {
    graft.GraftExtensions.ensure(s)
    lshPairsCapped(bandsFromHs(docHashedShingles(s, d)), LshBucketCap)
      .orderBy(col("d1"), col("d2"))
  }

  /** INCREMENTAL dedup — admit a new ingest batch against a persisted LSH
    * band index WITHOUT rescanning the corpus. `state` is a band frame
    * ([[bandSignatures]] rows, typically read back from parquet); `batch`
    * is a documents frame whose doc_ids all exceed the state's (ingest
    * order). Returns (verdicts, newState): one (doc_id, accepted) row per
    * batch doc, and the state grown by the batch's bands.
    *
    * Survivor rule: a doc is rejected iff any of its 4 band buckets is
    * already occupied by a SMALLER doc_id — in the state or earlier in the
    * same batch. The state update appends ALL of the batch's bands,
    * rejected docs included: that is what makes incremental processing
    * EXACTLY equal to a one-shot pass over the union (the collision-pair
    * set is id-based and batch-boundary-blind; DedupSpec proves the
    * identity law over a 3-way split, and that indexing accepted docs only
    * WOULD change verdicts). At 100 TB the state is ~4 short rows per doc.
    *
    * Join shape: collision-with-state and collision-within-batch are TWO
    * separate semi-joins (their union is exactly the collision set
    * against state ∪ batch) rather than one join against the union — the
    * union form would reshuffle the whole index every ingest; the split
    * form leaves the state side free to use its storage layout. Persist
    * the index BUCKETED by (band_idx, bh) and the state semi-join plans
    * with NO Exchange above the state scan — each trigger shuffles only
    * the batch's bands (BucketingSpec asserts exactly that plan). */
  def dedupeIncremental(state: DataFrame, batch: DataFrame): (DataFrame, DataFrame) = {
    // bb feeds three consumers (two semi-joins + the state update):
    // materialize the signature pass once
    val bb = bandSignatures(batch).localCheckpoint(true)
    (verdictsFor(state, batch, bb), state.unionByName(bb))
  }

  /** Verdicts from PRECOMPUTED batch bands — the streaming loop computes
    * the signature pass once and reuses it for both the verdicts and the
    * state append (the md5 over shingles IS the hot loop; running it
    * twice per trigger would double the dominant cost). */
  private[graft] def verdictsFor(state: DataFrame, batch: DataFrame,
                                 bb: DataFrame): DataFrame = {
    val rejected = collisions(state, bb).union(collisions(bb, bb)).distinct()
    batch.select(col("doc_id"))
      .join(rejected.withColumn("__rej", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("__rej").isNull.as("accepted"))
  }

  /** Batch band rows colliding with a strictly-smaller doc_id in `older`
    * (exposed for BucketingSpec's no-state-shuffle plan assertion). */
  private[graft] def collisions(older: DataFrame, bb: DataFrame): DataFrame =
    bb.as("n")
      .join(older.as("o"),
        col("n.band_idx") === col("o.band_idx") &&
          col("n.bh") === col("o.bh") &&
          col("o.doc_id") < col("n.doc_id"), "leftsemi")
      .select(col("doc_id"))

  /** D9 — the incremental path as a gated query: the oldest 3/4 of the
    * id range plays the persisted corpus, the newest 1/4 the ingest
    * batch. Split point is pure integer arithmetic (min + 3(max−min)/4,
    * floor division) so both engines cut identically. */
  private val d9: Q = (s, d) => {
    // bands from the MEMOIZED hashed-shingle core (r14 — guide §2.4): the
    // raw-docs form re-ran the whole corpus tokenize + shingle + md5 pass
    // (both split sides together = one full corpus signature pass d2/d4/
    // d10 already pay for once). Identical bands by the bandsFromHs
    // contract (min(h ⊕ seed) ignores duplicates); doc_id coverage is 1:1
    // with the documents table, so the split statistics are unchanged.
    val hs = docHashedShingles(s, d)
    val stats = hs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val withSplit = hs.crossJoin(broadcast(stats))
      .withColumn("split",
        col("lo") + call_function("div", (col("hi") - col("lo")) * 3, lit(4L)))
    val hist = withSplit.filter(col("doc_id") < col("split"))
      .select(col("doc_id"), col("hs"))
    val batch = withSplit.filter(col("doc_id") >= col("split"))
      .select(col("doc_id"), col("hs"))
    // the streaming loop's precomputed-bands path (verdictsFor): the batch
    // signature pass runs once, shared by the verdicts' two semi-joins
    val bb = bandsFromHs(batch).localCheckpoint(true)
    verdictsFor(bandsFromHs(hist), batch, bb).orderBy(col("doc_id"))
  }

  /** SimHash bit p (1-based): sign of Σ over tokens of ±1, where the token
    * votes +1 iff hex digit p of its md5 has its high bit set. Takes the
    * PRE-HASHED digest array — callers hash each element exactly once
    * ([[hashedCol]]); an earlier form took the raw token array and put the
    * md5 inside this fold, recomputing every digest once per bit (16–32×
    * redundant hashing — measured 2.5× on d8's whole pipeline). */
  private[graft] def bitVote(hs: Column, p: Int): Column =
    aggregate(hs, lit(0),
      (acc, h) => acc + when(substring(h, p, 1) >= "8", 1).otherwise(-1))

  /** One md5 per array element, hoisted out of the per-bit vote folds. */
  private def hashedCol(xs: Column): Column = transform(xs, t => md5(t))

  /** D3 — 16-bit SimHash per document (row-local; identical docs get
    * identical simhash, near-identical docs differ in few bits). The
    * signature is the native graft_simhash (expressions.SimHashBits, r13):
    * one pass over the digest array instead of 16 interpreted aggregate()
    * folds — same votes, same bits (law-compared). */
  private val d3: Q = (s, d) => {
    graft.GraftExtensions.ensure(s)
    Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"), hashedCol(col("tk")).as("hs"))
      .select(
        col("doc_id"),
        call_function("graft_simhash", col("hs"), lit(16)).cast("int")
          .as("simhash"))
      .orderBy(col("doc_id"))
  }

  /** D4 — n-gram Jaccard near-dup pairs (threshold 0.5): exact Jaccard
    * = |∩| / (|A|+|B|−|∩|) on distinct-shingle sets, verified over the LSH
    * candidates from d2 — the canonical two-stage dedup (cheap candidate
    * generation, exact row-local verification). A shared-shingle all-pairs
    * join would blow up super-linearly on a small vocabulary (~48M
    * intermediate rows at sf0.1); verifying O(candidates) pairs is the
    * shape that survives 100 TB.
    *
    * The intersect is graft_isect (expressions.SortedLongIntersect), not
    * size(array_intersect): Catalyst pushes the jaccard filter into the
    * second join's condition and inlines the intersect into every
    * occurrence of the derived column (~15× in the expanded CASE), so the
    * per-call cost multiplies — hash-set array_intersect made the verify
    * joins 60 s at sf1; the allocation-free sorted merge stays ~2 s even
    * with the same inlining. */
  /** The pair frame with both hs payloads attached, pre-scoring — the
    * shared first stage of d4/d4b's verify (the two gates differ only in
    * the candidate pairs they pass in). */
  private def d4JoinedOver(pairs: DataFrame, hs: DataFrame): DataFrame =
    pairs
      .join(hs.select(col("doc_id").as("d1"), col("hs").as("sh1")), "d1")
      .join(hs.select(col("doc_id").as("d2"), col("hs").as("sh2")), "d2")

  /** The exact-Jaccard verify tail shared by d4 and d4b — one definition,
    * so the two gates can differ ONLY in candidate generation (the
    * editVerifySqlOver convention, Spark-side). */
  private def d4Verify(joined: DataFrame): DataFrame =
    // The threshold filter is the ALGEBRAIC form of jaccard_bp >= 5000:
    // with u = |A∪B| = n1+n2−i > 0, floor((20000i+u)/2u) >= 5000 ⟺
    // 20000i >= 9999u ⟺ 29999·i >= 9999·(n1+n2). Filtering on the big
    // ExactRatio CASE directly let Catalyst inline it (isect and all)
    // into the join condition — a generated method past the JVM's
    // huge-method JIT limit, which ran interpreted at ~60 µs/row (16 s
    // at sf1). The 3-node integer predicate inlines harmlessly; the
    // ExactRatio projection below evaluates once per SURVIVING row.
    joined
      .filter(call_function("graft_isect", col("sh1"), col("sh2")) * 29999L >=
        (size(col("sh1")) + size(col("sh2"))).cast("long") * 9999L &&
        (size(col("sh1")) + size(col("sh2"))) > 0)
      .withColumn("inter", call_function("graft_isect", col("sh1"), col("sh2")))
      .withColumn("jaccard_bp", graft.functions.ExactRatio.scaled(
        col("inter"),
        (size(col("sh1")) + size(col("sh2"))).cast("long") - col("inter"), 10000L))
      .select(col("d1"), col("d2"), col("jaccard_bp"))
      .orderBy(col("d1"), col("d2"))

  /** The full d4 scoring over an EXPLICIT documents frame and candidate
    * set — the spec's entry point for planted-fixture laws (the
    * lshPairsCapped convention). */
  private[graft] def d4VerifyOver(pairs: DataFrame, docs: DataFrame): DataFrame = {
    graft.GraftExtensions.ensure(docs.sparkSession)
    d4Verify(d4JoinedOver(pairs, hashedShinglesOf(docs)))
  }

  private val d4: Q = (s, d) => {
    // harness-owned sessions are built without .withExtensions; register
    // graft_isect before d4's filter resolves it (ADVICE r8 —
    // d5/CryptoQueries already follow this convention)
    graft.GraftExtensions.ensure(s)
    d4Verify(d4JoinedOver(lshPairsCached(s, d), docHashedShingles(s, d)))
  }

  /** D4B — exact n-gram Jaccard over the BUCKET-CAPPED candidate set
    * ([[lshPairsCapped]], cap [[LshBucketCap]]): the production-scale twin
    * of d4, closing the last uncapped quadratic candidate path (VERDICT
    * r10 item 2 — d10/d6 got bounded twins in r10; d4's verify still ran
    * the raw LSH pair set, answer-bound at the sf100 rehearsal's
    * 1000-replica cliques). Under organic duplication no bucket nears the
    * cap, so d4b ≡ d4 column-for-column (spec law + the oracle gate,
    * where the cap binds nothing); under mass replication the over-cap
    * buckets' O(size²) pairs are excluded from generation on both
    * engines — the cluster queries (d6/d8) summarize those families at
    * linear cost. */
  private val d4b: Q = (s, d) => {
    graft.GraftExtensions.ensure(s)
    d4Verify(d4JoinedOver(
      lshPairsCapped(bandsFromHs(docHashedShingles(s, d)), LshBucketCap),
      docHashedShingles(s, d)))
  }

  /** float[] → double[] as a native array cast (codegen'd). */
  private def dvec(c: Column): Column = c.cast("array<double>")

  /** Native codegen'd dot product (expressions.DotProduct) — same
    * index-ascending fold as the DuckDB oracle's list_sum. */
  private def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  /** D5 — embedding-cosine near-dup pairs (threshold 0.35), blocked by
    * TRAINED codebook cell (Similarity.scaledAssigned — k-means at
    * k = ⌈√n⌉): pairs are only compared within a cell, turning O(n²) into
    * Σ O(|cell|²) — and because the codebook REFINES with corpus size
    * (√n cells of √n expected members), within-cell pair work grows
    * n^1.5, sub-quadratic per decade. The r8 form blocked on the fixed
    * 10-value `label` column, whose cells grew linearly with n (100× pair
    * work per 10× data — the one `weak` shape in VERDICT r8); the trained
    * cells close it, and the oracle embeds the same centroids as SQL
    * literals so the hash gate stays exact. Exact cosine on candidates;
    * norm computed ONCE per vector (row-local in scaledAssigned).
    *
    * Honest residual boundary: at a LOOSE threshold on clustered vectors
    * the ANSWER itself is quadratic (most within-cluster pairs qualify —
    * same output-bound class as j13); no blocking scheme changes that,
    * only the candidate-generation cost, which this one bounds. */
  /** d5's cell-blocked threshold pairing over any assigned frame
    * (vec_id, v, norm, cell_id) — factored so d7b can run the SAME
    * pairing over distinct-vector representatives only. */
  private[graft] def d5PairsOver(v: DataFrame): DataFrame = {
    val a = v.as("a"); val b = v.as("b")
    a.join(b, col("a.cell_id") === col("b.cell_id") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        round(dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")), 4)
          .as("cos"))
      .filter(col("cos") >= 0.35)
  }

  private val d5: Q = (s, d) =>
    d5PairsOver(Similarity.scaledAssigned(s, d)).orderBy(col("v1"), col("v2"))

  /** Connected components by alternating LARGE-STAR/SMALL-STAR rounds
    * (the MapReduce CC algorithm of Kiveris et al., "Connected Components
    * in MapReduce and Beyond" — provably convergent regardless of
    * component diameter, replacing r3's fixed-4-round min-label
    * propagation which silently under-merged chains of diameter > 4).
    *
    *   large-star(u): attach every neighbor v > u to m = min(N(u) ∪ u)
    *   small-star(u): direct edges large→small, attach every smaller
    *                  neighbor (and u itself) to m
    *
    * Each round is two equi-join + partial-aggregated groupBy jobs over
    * the EDGE set (≈ 2·|pairs|, never the corpus), eagerly checkpointed
    * (lazy chained-AQE replanning measured slower on the fork walk). The
    * loop runs to the FIXED POINT — every edge points at its component
    * root — so under-convergence cannot ship: the convergence check is
    * part of the computation, not a spec-only invariant (ADVICE r3).
    *
    * Input: undirected pairs (x, y); output: (doc_id, label) for every
    * non-root node, label = component minimum (roots label themselves
    * via the caller's coalesce). */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("y").as("x"), col("x").as("y")))
      val mins = sym.groupBy("x").agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("mn"), col("x")).as("m"))
      sym.join(mins, "x")
        .filter(col("y") > col("x"))
        .select(col("y").as("x"), col("m").as("y"))
        .distinct()
    }
    // small-star over an ALREADY-DIRECTED, DISTINCT edge set — which is
    // exactly what largeStar emits: its output rows are (old y, m) with
    // m ≤ old x < old y, so new x > new y strictly, and it ends in
    // distinct(). The general form's re-direct (greatest/least + filter +
    // distinct) was therefore an identity costing one full extra shuffle
    // per round (r13; the loop is per-round-overhead-bound at gate scale,
    // ~6 rounds × 5 shuffles on a few hundred edges).
    def smallStar(dir: DataFrame): DataFrame = {
      val mins = dir.groupBy("x").agg(min(col("y")).as("m"))
      dir.join(mins, "x")
        .select(col("y").as("x"), col("m").as("y"))
        .unionByName(mins.select(col("x"), col("m").as("y")))
        .filter(col("x") =!= col("y"))
        .distinct()
    }
    var e = pairs.select(col("x"), col("y"))
      .filter(col("x") =!= col("y")).distinct().localCheckpoint(true)
    var eCount = e.count()
    var converged = false
    var rounds = 0
    // star rounds converge in O(log²) of the largest component; 50 is a
    // loud safety net, not a silent truncation (require below)
    while (!converged && rounds < 50) {
      val next = smallStar(largeStar(e)).localCheckpoint(true)
      // one count per round (the previous round's is carried over); the
      // exact set compare runs only when counts already agree
      val nextCount = next.count()
      converged = nextCount == eCount && next.exceptAll(e).isEmpty
      e = next
      eCount = nextCount
      rounds += 1
    }
    require(converged, s"connected components did not converge in $rounds rounds")
    e.select(col("x").as("doc_id"), col("y").as("label"))
  }

  /** D6 — near-dup CLUSTERING: d2's candidate pairs grouped into connected
    * components with a deterministic canonical survivor (min doc_id per
    * component). Pairs → clusters → survivors is the step a real dedup
    * pipeline runs after candidate generation — without it, A~B and B~C
    * would keep A and B (pairwise drops are order-dependent). */
  /** d6's star loop runs Spark actions at plan-construction time (like
    * k-means training); memoize the checkpointed label frame per
    * (session, dir) so plan-only consumers (plan invariants, repeated
    * spec calls) don't re-run the LSH join + rounds. Entries of stopped
    * sessions are purged on access — their localCheckpoint RDDs die with
    * the session, and the map must not pin dead sessions in a long-lived
    * JVM (ADVICE r3). */
  /** Memoized labels keyed by (session, dir, edge-set tag, SOURCE MTIME) —
    * the [[graft.Memo]] shared-core contract (mtime invalidation, stopped-
    * session purge), which this cache predates and now delegates to. */
  private def cachedLabels(s: SparkSession, d: String, tag: String,
                           srcFile: String)(pairs: => DataFrame): DataFrame =
    graft.Memo.cached(s, d, s"cc_$tag", srcFile)(connectedComponents(pairs))

  private val d6: Q = (s, d) => {
    // star edges, not the true pair set: component-equivalent by the
    // lshStarEdges law, linear in corpus size where the clique form is
    // quadratic in replica-family size — and d6's composed consumers
    // (px15/px16/px1) no longer force the lsh_pairs build at all
    val labels = cachedLabels(s, d, "lsh", "documents.parquet")(
      lshStarEdges(bandsFromHs(docHashedShingles(s, d))))
    // no broadcast hint: the dup-node set can be a large corpus fraction —
    // AQE picks broadcast when it actually fits
    Tables.documents(s, d).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** D7 — EMBEDDING near-dup clustering: the same pairs→components→
    * canonical step as d6, over d5's label-blocked cosine pairs instead of
    * the LSH candidates — the semantic-dedup pipeline (embed → block →
    * pair → cluster → keep one per cluster) end to end. Reuses
    * [[connectedComponents]]; the oracle is the full transitive closure of
    * d5's pair set.
    *
    * r13 (optimization): the labels are served from the SAME memoized core
    * as d7b — the exact-duplicate collapse is closure-preserving ON ANY
    * INPUT (the [[d7bEdges]] proof; law-checked against the raw d5 pair
    * closure on the gate corpus AND on planted replica cliques in
    * NorthStarSpec), so running CC twice per session over two
    * provably-equal edge sets bought nothing: one redundant CC build
    * (~4.4 s at sf0.1) dropped, and d7 loses the answer-bound raw pair
    * relation that ENOSPC'd it at sf100 — it leaves the exact-groundtruth
    * skip tier. The raw-edge path stays alive (d5 is its own registered
    * query; the law spec drives the uncollapsed closure directly). */
  private val d7: Q = (s, d) => {
    val labels = cachedLabels(s, d, "emb_grouped", "embeddings.parquet")(
      d7bEdges(Similarity.scaledAssigned(s, d)))
      .withColumnRenamed("doc_id", "vec_id")
    Tables.embeddings(s, d).select(col("vec_id"))
      .join(labels, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("label"), col("vec_id")).as("cluster_id"))
      .withColumn("is_canonical", col("vec_id") === col("cluster_id"))
      .orderBy(col("vec_id"))
  }

  /** D7B — embedding clustering with EXACT-DUPLICATE COLLAPSE: the
    * production twin of d7, found the honest way (round 12's first
    * full-suite sf100 run ENOSPC'd d7 — its edge set is d5's pair
    * relation, which is answer-bound quadratic under the replica cliques:
    * every pair of identical copies passes the threshold). The collapse
    * is EXACTLY closure-preserving, not an approximation:
    *
    *   1. group bitwise-identical vectors (one vector-grain groupBy;
    *      gid = min vec_id) and star-connect each group through gid —
    *      identical vectors have cosine 1 ≥ t and identical cell
    *      assignments, so every star edge IS a d5 edge;
    *   2. run d5's cell-blocked pairing over the gid REPRESENTATIVES
    *      only — for any dropped cross-group edge (a, b),
    *      cos(rep_a, rep_b) = cos(a, b) ≥ t and the reps share a's/b's
    *      cells (assignment is a function of the vector), so the rep
    *      edge exists and a —star→ rep_a — rep_b ←star— b reconnects it.
    *
    * Hence the transitive closure — the only thing clustering reads —
    * equals d7's EXACTLY, on any input (spec law + the shared oracle),
    * while pair work drops from Σ group² to distinct-vector pairs:
    * the sf100 cliques collapse 1000× before any self-join. Organic
    * corpora (no exact dups) pass through unchanged. */
  /** d7b's collapsed edge set over any assigned frame — exposed so the
    * closure-equivalence law can drive planted replica frames. */
  private[graft] def d7bEdges(asg: DataFrame): DataFrame = {
    val gid = asg.groupBy(col("v")).agg(min(col("vec_id")).as("gid"))
    val withG = asg.join(gid, Seq("v"))
    val star = withG.filter(col("vec_id") =!= col("gid"))
      .select(col("gid").as("x"), col("vec_id").as("y"))
    val reps = withG.filter(col("vec_id") === col("gid"))
      .select(col("vec_id"), col("v"), col("norm"), col("cell_id"))
    star.unionByName(
      d5PairsOver(reps).select(col("v1").as("x"), col("v2").as("y")))
  }

  private val d7b: Q = (s, d) => {
    val labels = cachedLabels(s, d, "emb_grouped", "embeddings.parquet")(
      d7bEdges(Similarity.scaledAssigned(s, d)))
      .withColumnRenamed("doc_id", "vec_id")
    Tables.embeddings(s, d).select(col("vec_id"))
      .join(labels, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("label"), col("vec_id")).as("cluster_id"))
      .withColumn("is_canonical", col("vec_id") === col("cluster_id"))
      .orderBy(col("vec_id"))
  }

  /** 32-bit SimHash over DISTINCT SHINGLES — d3's digit-vote rule extended
    * to all 32 md5 hex positions, but voting on shingles, not tokens:
    * token votes are dominated by the shared vocabulary, so unrelated
    * long documents land within a few bits of each other (measured: a
    * token-vote signature put 3.4% of ALL doc pairs at hamming ≤ 3 —
    * no separation). Distinct shingles are doc-specific, so unrelated
    * docs vote near-independently (expected hamming 16) while near-dups
    * share most shingles (hamming ≲ 3) — measured separation: 234
    * qualifying pairs at sf0.1, background starting at hamming 5. */
  private def simhash32: Column =
    call_function("graft_simhash", col("hs"), lit(32))

  private val SimBands = 4
  private val SimBandBits = 8
  private[graft] val SimHamMax = 3

  /** D8 candidate pairs — SIMHASH BANDING: split the 32-bit signature into
    * 4 bytes; docs sharing any byte are candidates, verified by exact
    * Hamming distance ≤ 3 (one codegen'd bit_count(xor), no arrays). By
    * pigeonhole the banding is EXACT for this threshold — ≤3 differing
    * bits can spoil at most 3 of the 4 bands, so every qualifying pair
    * shares a band and none is missed (spec-asserted against the
    * all-pairs compare). Same LSH economics as d2: the band equi-join
    * replaces O(n²) signature compares with Σ|bucket|² work, and the
    * signature is one integer — the cheapest near-dup index that exists
    * (4 bytes/doc at 100 TB vs 8 minhashes or a shingle set). */
  private[graft] def simhashFrame(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.ensure(s)
    docShingles(s, d)
      .select(col("doc_id"), hashedCol(col("shingles")).as("hs"))
      .select(col("doc_id"), simhash32.as("sh"))
  }

  /** The banding projection of a (doc_id, sh) frame — exposed so specs
    * drive the SAME shape d8Pairs runs instead of a drifting copy. */
  private[graft] def simBands(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), col("sh"),
      posexplode(array((0 until SimBands).map(b =>
        shiftright(col("sh"), b * SimBandBits) % lit(1 << SimBandBits)): _*))
        .as(Seq("band_idx", "bv")))

  /** The band self-join + exact-Hamming verification tail over any banded
    * frame — exposed so specs drive THIS shape, not a copy. */
  private[graft] def d8PairsFrom(bands: DataFrame): DataFrame = {
    val a = bands.as("a"); val b = bands.as("b")
    a.join(b, col("a.band_idx") === col("b.band_idx") &&
        col("a.bv") === col("b.bv") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= SimHamMax)
  }

  private[graft] def d8Pairs(s: SparkSession, d: String): DataFrame =
    // the signature frame is 12 bytes/doc; materialize it once (eager —
    // so constructing this query runs the signature jobs, the d6/ForkWalk
    // precedent and the price of not re-deriving every signature per join
    // side; Explain shows the checkpoint scan)
    d8PairsFrom(simBands(simhashFrame(s, d).localCheckpoint(true)))

  /** D8 — SimHash near-dup clustering: the third candidate modality
    * (token-vote bit signatures) through the same pairs → connected
    * components → canonical-survivor tail as d6 (LSH shingles) and d7
    * (embedding cosine). Three modalities share one clusterer because at
    * scale the clusterer is modality-blind — only candidate generation
    * changes.
    *
    * r13 (optimization): labels served from d8b's memoized core — the
    * exact-signature collapse is closure-preserving on any input (the
    * [[d8bEdges]] proof, law-checked against the raw d8Pairs closure on
    * the gate corpus and planted signature cliques), so the second CC
    * build (~5.1 s at sf0.1) was pure redundancy and the raw Σ bucket²
    * band self-join (d8's sf100 ENOSPC) leaves the query's plan; d8
    * leaves the exact-groundtruth skip tier. The raw band self-join
    * stays exercised by [[d8PairsFrom]]'s own laws and the d8b law's
    * direct closure compare. */
  private val d8: Q = (s, d) => {
    val labels = cachedLabels(s, d, "simhash_grouped", "documents.parquet")(
      d8bEdges(simhashFrame(s, d).localCheckpoint(true)))
    Tables.documents(s, d).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** d8b's collapsed edge set over a (doc_id, sh) signature frame — the
    * d7b trick at signature grain. Identical signatures are hamming-0
    * pairs sharing every band (so every within-group star edge IS a d8
    * edge), and a dropped cross-group pair's representatives carry the
    * SAME two signatures — same shared band, same hamming — so the rep
    * pair survives and reconnects it: closure ≡ d8's on any input. */
  private[graft] def d8bEdges(sh: DataFrame): DataFrame = {
    val gid = sh.groupBy(col("sh")).agg(min(col("doc_id")).as("gid"))
    val withG = sh.join(gid, Seq("sh"))
    val star = withG.filter(col("doc_id") =!= col("gid"))
      .select(col("gid").as("x"), col("doc_id").as("y"))
    val reps = withG.filter(col("doc_id") === col("gid"))
      .select(col("doc_id"), col("sh"))
    star.unionByName(d8PairsFrom(simBands(reps))
      .select(col("d1").as("x"), col("d2").as("y")))
  }

  /** D8B — SimHash clustering with EXACT-SIGNATURE COLLAPSE: d8's
    * production twin (round 12: the first full-suite sf100 run ENOSPC'd
    * d8 — the replica cliques put 1000 identical signatures in every
    * band bucket, Σ bucket² pairs before the verify). Same closure,
    * provably (see [[d8bEdges]]), pair work at distinct-signature grain:
    * the cliques collapse 1000× before the band self-join. */
  private val d8b: Q = (s, d) => {
    val labels = cachedLabels(s, d, "simhash_grouped", "documents.parquet")(
      d8bEdges(simhashFrame(s, d).localCheckpoint(true)))
    Tables.documents(s, d).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** PX4 — train/test DECONTAMINATION: flag test-split documents sharing
    * any shingle with the train split (the standard n-gram-overlap check
    * run before every evaluation). The split is deterministic (doc_id mod
    * 10). Scale shape: explode to shingle grain, distinct the train side,
    * one equi-join on the shingle — contamination checking at 100 TB IS a
    * shingle-grain join, never a doc×doc compare. */
  private val px4: Q = (s, d) => {
    val ds = docShingles(s, d)
    val test = ds.filter(col("doc_id") % 10 === 7)
    val trainSh = ds.filter(col("doc_id") % 10 =!= 7)
      .select(explode(col("shingles")).as("sh")).distinct()
    val testSh = test.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val hits = testSh.join(trainSh, Seq("sh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    test.select(col("doc_id"), size(col("shingles")).cast("long").as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .withColumn("contaminated", col("n_contaminated") > 0L)
      .orderBy(col("doc_id"))
  }

  /** px17's flag threshold (basis points of the test doc's shingles). */
  private[graft] val ContainMinBp = 5000L

  /** PX17 — CONTAINMENT decontamination: px4's shingle-overlap check is
    * symmetric ("shares any shingle with train"); the leak that actually
    * poisons an eval is ASYMMETRIC — a short benchmark item embedded
    * verbatim inside a much larger training document. Score each test doc
    * by its max containment C(t,r) = |sh(t) ∩ sh(r)| / |sh(t)| over train
    * docs r — the direction Jaccard dilutes (a 50-token test item inside a
    * 5000-token train doc has J ≈ 1% but C = 100%), which is why eval
    * decontamination (and d4-style symmetric verification) need different
    * scores. Scale shape: per-doc DISTINCT shingles explode to shingle
    * grain, ONE equi-join on the shingle, count per (test, train) pair —
    * candidate pairs exist only where a shingle is shared, never doc×doc;
    * the per-test argmax is a max_by aggregate over that candidate set,
    * bounded by the matching train docs. The candidate set is Σ_sh
    * df_t·df_r — EXACT but unbounded when boilerplate shingles have
    * corpus-sized df; the production-scale path is [[px17b]], which caps
    * the vocabulary at train-df ≤ [[ContainDfCap]] and makes candidates
    * linear in corpus size. */
  private val px17: Q = (s, d) =>
    // HASHED shingle grain (see docHashedShingles): the join/groupBy run on
    // longs; n_shingles and the containment ratio are over the hashed SET,
    // which the oracle mirrors exactly via the same hash family.
    containmentFrom(docHashedShingles(s, d).withColumnRenamed("hs", "shingles"))

  /** px17's core over any documents frame — exposed so the spec can drive
    * a planted full-containment fixture through the exact production path.
    * The registered query instead feeds the MEMOIZED corpus shingle core
    * ([[docShingles]]) into [[containmentFrom]] — same plan, shared scan. */
  private[graft] def containment(docs: DataFrame): DataFrame =
    containmentFrom(docShinglesOf(docs).localCheckpoint(true))

  private def containmentFrom(shingleFrame: DataFrame): DataFrame = {
    // Materialized, not just projected: this frame is consumed by a
    // Generate on BOTH join sides, and InferFiltersFromGenerate pushes
    // `size(shingles) > 0` below the projection — predicate pushdown
    // substitutes aliases unconditionally (CollapseProject's multi-use
    // guard doesn't apply to Filter), re-inlining the tokenizer inside
    // every element_at lambda, i.e. O(tokens) work PER SHINGLE per doc
    // in the pushed filter (measured 24.9 s at sf0.1, vs ~1 s for one
    // honest shingling pass). The checkpoint pins the shingle arrays so
    // nothing can be pushed into or re-derived from the text. At 100 TB
    // this is the persisted shingle-grain intermediate a real
    // decontamination pipeline materializes anyway.
    val ds = shingleFrame
    val test = ds.filter(col("doc_id") % 10 === 7)
    val testSh = test.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val trainSh = ds.filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id").as("train_id"), explode(col("shingles")).as("sh"))
    val best = argmaxTrain(testSh.join(trainSh, Seq("sh")))
    test.select(col("doc_id"), size(col("shingles")).cast("long").as("n_shingles"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("train_id"), lit(-1L)).as("best_train_id"),
        graft.functions.ExactRatio.scaled(
          coalesce(col("n_shared"), lit(0L)), col("n_shingles"), 10000L)
          .as("containment_bp"))
      .withColumn("contaminated", col("containment_bp") >= ContainMinBp)
      .orderBy(col("doc_id"))
  }

  /** The per-test argmax over (doc_id, train_id, shingle-occurrence) rows:
    * max n_shared, ties to the lowest train_id. A groupBy + max_by
    * chain, NOT a row_number window: the (doc, train) pair counts partial-
    * aggregate map-side, and the second groupBy reduces each doc to one
    * row map-side too — the window form reshuffled ALL pair rows and
    * SORTED every doc's candidate list just to take its head, the
    * dominant cost when candidates ~F² under replicated text (round 10;
    * same output, ≡ ORDER BY n_shared DESC, train_id LIMIT 1 per doc). */
  private def argmaxTrain(occ: DataFrame): DataFrame =
    occ
      .groupBy(col("doc_id"), col("train_id"))
      .agg(count(lit(1)).as("n_shared"))
      .groupBy(col("doc_id"))
      .agg(max_by(
        struct(col("train_id"), col("n_shared")),
        struct(col("n_shared"), (-col("train_id")).as("neg_id"))).as("b"))
      .select(col("doc_id"), col("b.train_id").as("train_id"),
        col("b.n_shared").as("n_shared"))

  /** px17b's promiscuity bound: shingles present in MORE than this many
    * train docs are excluded from candidate generation AND scoring. */
  private val ContainDfCap = 50L

  /** px17b's EVIDENCE FLOOR: a test doc is flagged only when at least this
    * many rare shingles back the ratio. Without it the cap's shrunken
    * denominator turns containment_bp into noise exactly where the corpus
    * is most replicated — measured at sf10 (100× replication): 49 104 of
    * 50 000 test docs "contaminated" because 1-of-2 rare shingles matched
    * somewhere, vs 4 100 under the exact score. Below the floor px17b
    * abstains (contaminated = false, n_rare visible for alerting) — the
    * standard min-evidence rule of decontamination pipelines. */
  private[graft] val ContainMinRare = 8L

  /** PX17b — BOUNDED containment decontamination: px17 with a df-cap on
    * the shingle vocabulary (the mechanism px17's Scaladoc names; round-9
    * verdict's one `weak` shape). px17's candidate set is Σ_sh df_t·df_r
    * with no bound — exact, but real crawl corpora contain boilerplate
    * shingles ("all rights reserved …") whose df is corpus-sized, and at
    * 100 TB that tail is the whole cost (measured: 613 s of the 1 671 s
    * sf10 rehearsal under 100× replication). The standard fix from
    * inverted-index retrieval (tx9's blocking economics): drop shingles
    * with train-df > cap from BOTH candidate generation and the score —
    * containment over the RARE sub-vocabulary, C_rare(t,r) =
    * |rare(t) ∩ sh(r)| / |rare(t)| where rare(t) = t's shingles in ≤ cap
    * train docs (df 0 included — unseen shingles are evidence AGAINST
    * containment and must stay in the denominator).
    *
    * Why the semantics survive the cap: genuine contamination is a
    * benchmark item verbatim inside ONE (or few) train docs — its
    * distinctive shingles have df ≈ 1 and all survive; what the cap
    * removes matches everything and therefore identifies nothing. A test
    * doc that is PURE boilerplate (n_rare = 0) scores 0 — reported via
    * the n_rare column, which a pipeline alerts on rather than trusting —
    * and flagging requires n_rare ≥ [[ContainMinRare]] (the evidence
    * floor: a ratio over 1–2 surviving shingles is noise, not signal).
    *
    * Scale shape: the hot vocabulary (df > cap) is at most
    * occurrences/cap DISTINCT shingles — a left_anti join prunes both
    * explode sides, then the same rare-grain equi-join as px17, now with
    * per-key join fan-out ≤ cap · df_t by construction: candidate rows ≤
    * cap · Σ_t |sh(t)| — LINEAR in corpus size at fixed cap, and the
    * shuffle is balanced for free (no key exceeds the cap — the salting
    * alternative bounds imbalance but not volume). Measured at sf10:
    * 613 s (px17) → see SCALE.md round-10 probe. */
  private val px17b: Q = (s, d) =>
    containmentCappedFrom(
      docHashedShingles(s, d).withColumnRenamed("hs", "shingles"))

  /** px17b's core over any documents frame — spec entry point (fixture
    * drives; cap ≥ n_train must reproduce px17's verdicts exactly). */
  private[graft] def containmentCapped(
      docs: DataFrame, cap: Long = ContainDfCap): DataFrame =
    containmentCappedFrom(docShinglesOf(docs).localCheckpoint(true), cap)

  private def containmentCappedFrom(
      shingleFrame: DataFrame, cap: Long = ContainDfCap): DataFrame = {
    val ds = shingleFrame
    val test = ds.filter(col("doc_id") % 10 === 7)
    val trainSh = ds.filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id").as("train_id"), explode(col("shingles")).as("sh"))
    // shingles are distinct per doc, so count(*) per sh IS the train df
    val hot = trainSh.groupBy(col("sh"))
      .agg(count(lit(1)).as("df")).filter(col("df") > cap)
      .select(col("sh"))
    val testRare = test
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      .join(hot, Seq("sh"), "left_anti")
    val trainRare = trainSh.join(hot, Seq("sh"), "left_anti")
    val nRare = testRare.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_rare"))
    val best = argmaxTrain(testRare.join(trainRare, Seq("sh")))
    test.select(col("doc_id"), size(col("shingles")).cast("long").as("n_shingles"))
      .join(nRare, Seq("doc_id"), "left")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        coalesce(col("train_id"), lit(-1L)).as("best_train_id"),
        // ExactRatio yields 0 on a zero denominator, so an all-boilerplate
        // test doc scores 0 (never flagged) on both engines
        graft.functions.ExactRatio.scaled(
          coalesce(col("n_shared"), lit(0L)),
          coalesce(col("n_rare"), lit(0L)), 10000L)
          .as("containment_bp"))
      .withColumn("contaminated",
        col("n_rare") >= ContainMinRare &&
          col("containment_bp") >= ContainMinBp)
      .orderBy(col("doc_id"))
  }

  /** PX22 — EVAL-SCRUB, the REMOVAL px17's detection implies, in the
    * direction that protects the benchmark: drop from TRAIN every
    * document that CONTAINS a test/eval item (containment measured
    * against the TEST doc's shingle count, px17's asymmetric score — a
    * 50-token benchmark item verbatim inside a 5000-token train doc is
    * exactly the leak this removes and Jaccard dilutes to ~1%). Output
    * is the per-train verdict (hits + kept flag), so the clean training
    * set is the `kept` filter — the composition a pretraining build runs
    * between quality gating and packing. Same shingle-grain economics as
    * px17: pairs exist only where a shingle is shared, never doc×doc. */
  private[graft] def evalScrub(docs: DataFrame): DataFrame =
    // same checkpoint rationale as containment(): the shingle frame feeds
    // a Generate on both join sides
    evalScrubFrom(docShinglesOf(docs).localCheckpoint(true))

  private def evalScrubFrom(shingleFrame: DataFrame): DataFrame = {
    val ds = shingleFrame
    val test = ds.filter(col("doc_id") % 10 === 7)
    val train = ds.filter(col("doc_id") % 10 =!= 7)
    val testSh = test.select(col("doc_id").as("test_id"),
      size(col("shingles")).cast("long").as("t_n"),
      explode(col("shingles")).as("sh"))
    val trainSh = train.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val hits = trainSh.join(testSh, Seq("sh"))
      .groupBy(col("doc_id"), col("test_id"), col("t_n"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(graft.functions.ExactRatio.scaled(
        col("n_shared"), col("t_n"), 10000L) >= ContainMinBp)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_eval_hits"))
    train.select(col("doc_id"), size(col("shingles")).cast("long").as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_eval_hits"), lit(0L)).as("n_eval_hits"))
      .withColumn("kept", col("n_eval_hits") === 0L)
      .orderBy(col("doc_id"))
  }

  private val px22: Q = (s, d) => evalScrubFrom(docShingles(s, d))

  /** PX22b — BOUNDED eval-scrub: px22 with px17b's df-cap on the shingle
    * vocabulary, applied to the removal direction. Exact px22's candidate
    * set is the same unbounded Σ_sh df_t·df_r as px17's (the honest bench
    * measured it at 458 s at sf10 under 100× replication — hidden before
    * round 10 because count() let Catalyst eliminate the unique-key left
    * join that carried all the work). The bound is identical to px17b's:
    * shingles in more than `cap` train docs are excluded from candidate
    * generation AND scoring, so candidate rows ≤ cap · Σ_t |sh(t)| —
    * linear in corpus size at fixed cap, no join key above the cap.
    *
    * A train doc is scrubbed when some test item's RARE-vocabulary
    * containment in it clears [[ContainMinBp]] with at least
    * [[ContainMinRare]] rare shingles of evidence — the same score px17b
    * flags on, so the cross-law "px17b-contaminated test ⇒ its argmax
    * train partner is px22b-scrubbed" holds by construction (the spec
    * asserts it on the live corpus). `n_rare` here is the TRAIN doc's own
    * surviving-shingle count — the boilerplate-visibility column (a doc
    * that is pure boilerplate shows n_rare = 0 and can never be implicated
    * by rare evidence; a pipeline alerts on it rather than trusting it). */
  private[graft] def evalScrubCapped(
      docs: DataFrame, cap: Long = ContainDfCap): DataFrame =
    evalScrubCappedFrom(docShinglesOf(docs).localCheckpoint(true), cap)

  private def evalScrubCappedFrom(
      shingleFrame: DataFrame, cap: Long = ContainDfCap): DataFrame = {
    val ds = shingleFrame
    val test = ds.filter(col("doc_id") % 10 === 7)
    val train = ds.filter(col("doc_id") % 10 =!= 7)
    val trainSh = train.select(col("doc_id"), explode(col("shingles")).as("sh"))
    // shingles are distinct per doc, so count(*) per sh IS the train df
    val hot = trainSh.groupBy(col("sh"))
      .agg(count(lit(1)).as("df")).filter(col("df") > cap)
      .select(col("sh"))
    val testRare = test
      .select(col("doc_id").as("test_id"), explode(col("shingles")).as("sh"))
      .join(hot, Seq("sh"), "left_anti")
    val tRare = testRare.groupBy(col("test_id"))
      .agg(count(lit(1)).as("t_rare"))
    val trainRare = trainSh.join(hot, Seq("sh"), "left_anti")
    val hits = trainRare.join(testRare, Seq("sh"))
      .groupBy(col("doc_id"), col("test_id"))
      .agg(count(lit(1)).as("n_shared"))
      // pair-grain join with the per-test rare totals: pairs partial-
      // aggregate map-side first, so this join is orders smaller than
      // the shingle-occurrence frame above it
      .join(tRare, Seq("test_id"))
      .filter(col("t_rare") >= ContainMinRare &&
        graft.functions.ExactRatio.scaled(
          col("n_shared"), col("t_rare"), 10000L) >= ContainMinBp)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_eval_hits"))
    val nRareTrain = trainRare.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_rare"))
    train.select(col("doc_id"), size(col("shingles")).cast("long").as("n_shingles"))
      .join(nRareTrain, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        coalesce(col("n_eval_hits"), lit(0L)).as("n_eval_hits"))
      .withColumn("kept", col("n_eval_hits") === 0L)
      .orderBy(col("doc_id"))
  }

  private val px22b: Q = (s, d) =>
    // hashed grain like px17b: the df groupBy, anti joins, and the rare
    // equi-join all run over longs (same exact-parity rationale as hs)
    evalScrubCappedFrom(
      docHashedShingles(s, d).withColumnRenamed("hs", "shingles"))

  /** d10's near-dup flag rule, as a PURE INTEGER inequality: a pair is a
    * near-dup iff dist·10000 ≤ 2000·maxLen (edit similarity ≥ 80%, no
    * rounding anywhere near the decision boundary). */
  private[graft] val EditMaxDistBp = 2000L

  /** d10's core over an explicit pair frame — exposed so the spec can
    * plant pairs (one-edit twins, a length-gap prune case) without having
    * to force LSH collisions. `pairs` = (d1, d2); `docs` = documents. */
  private[graft] def editVerify(pairs: DataFrame, docs: DataFrame): DataFrame = {
    graft.GraftExtensions.ensure(docs.sparkSession)
    val t = docs.select(col("doc_id"), col("text"),
      length(col("text")).cast("long").as("len"))
    val j = pairs
      .join(t.select(col("doc_id").as("d1"), col("text").as("t1"),
        col("len").as("len1")), Seq("d1"))
      .join(t.select(col("doc_id").as("d2"), col("text").as("t2"),
        col("len").as("len2")), Seq("d2"))
    val maxLen = greatest(col("len1"), col("len2"))
    val gap = abs(col("len1") - col("len2"))
    // dist >= |len1 - len2| unconditionally, so a gap that alone violates
    // the flag inequality proves the verdict without running the DP. The
    // prune is EXACTLY the flag rule's complement through that bound —
    // no rounding, so pruned pairs can never be flag-eligible.
    // THRESHOLD-BANDED DP via the native graft_lev expression (round 10):
    // the honest bench exposed the full O(n·m) Levenshtein as 131 s at
    // sf1 (count() had pruned the DP column wholesale — it was never
    // actually paid in a bench), and Spark's built-in measured ~16 ms per
    // ~300-char pair even threshold-banded. graft_lev runs Ukkonen's
    // O(n·k) band over raw ASCII bytes (char fallback for multibyte) with
    // the PER-ROW decision radius k = floor(maxLen·EditMaxDistBp/10⁴) —
    // its |n−m| > k first line IS the length-gap prune, and its −1 past
    // the band IS the decision clamp, so the whole verify is one
    // single-evaluation expression. The oracle applies the same clamp to
    // DuckDB's exact unbanded distance; the spec cross-checks against the
    // unbanded DP at fixture scale.
    // Two bands, both native: a k=8 probe first — near-dup pairs (the
    // candidate set's common case) are a few edits apart and resolve in
    // ~1/40 of the full-radius band — then the full decision radius only
    // for unresolved pairs. The probe result is BOUND as a lambda
    // variable (CaseWhen branches are outside codegen subexpression
    // elimination, so a bare two-reference form would run the probe DP
    // twice); the wide band sits in a conditional branch, evaluated only
    // when taken. thr ≤ 8 short-circuits: the probe's −1 is already the
    // final verdict there.
    val thr = call_function("div", maxLen * EditMaxDistBp, lit(10000L))
    j.select(col("d1"), col("d2"), maxLen.as("max_len"),
        element_at(transform(
          array(call_function("graft_lev", col("t1"), col("t2"),
            least(lit(8L), thr))), probe =>
          when(probe =!= -1L, probe)
            .otherwise(when(thr <= 8L, lit(-1L))
              .otherwise(call_function("graft_lev", col("t1"), col("t2"), thr)))),
          1)
          .as("edit_dist"))
      .select(col("d1"), col("d2"), col("edit_dist"),
        when(col("edit_dist") === -1L, lit(-1L))
          .otherwise(graft.functions.ExactRatio.scaled(
            col("max_len") - col("edit_dist"), col("max_len"), 10000L))
          .as("edit_sim_bp"),
        (col("edit_dist") =!= -1L &&
          col("edit_dist") * 10000L <= col("max_len") * EditMaxDistBp)
          .as("is_near_dup"))
      .orderBy(col("d1"), col("d2"))
  }

  /** D10 — EDIT-DISTANCE VERIFICATION of the LSH candidates: fuzzy dedup's
    * exact verify stage. d2/d4 verify by SET overlap (shingles), which is
    * order-blind — two docs with the same vocabulary but scrambled
    * sentences score high Jaccard; Levenshtein is the order-sensitive
    * ground truth ("how many edits apart"). Scale shape: the O(n·m) DP
    * runs ONLY at LSH-candidate grain (never doc×doc), the length-gap
    * prune skips it wherever |len1−len2| alone settles the verdict
    * (dist ≥ gap), and the DP itself is THRESHOLD-BANDED (see
    * [[editVerify]]) — exact distances are reported only up to the flag
    * boundary floor(maxLen·[[EditMaxDistBp]]/10⁴); −1 beyond it means
    * "provably not a near-dup", whichever prune or band proved it. Both
    * engines share the prunes, the clamp, and the integer flag rule, so
    * the gate compares bit-for-bit. */
  private val d10: Q = (s, d) =>
    editVerify(lshPairsCached(s, d), Tables.documents(s, d))

  /** D10B — edit verify over the BUCKET-CAPPED candidate set
    * ([[lshPairsCapped]], cap [[LshBucketCap]]): the production-scale twin
    * of d10, exactly as px17b/px22b bound px17/px22. Under organic
    * duplication no bucket nears the cap, so d10b ≡ d10 column-for-column
    * (spec law + the oracle gate, where the cap binds nothing); under
    * mass replication the over-cap buckets — whose pairs are the
    * quadratic term, and which the CLUSTER queries summarize at linear
    * cost — are excluded from pair generation on both engines. */
  private val d10b: Q = (s, d) =>
    editVerify(
      lshPairsCapped(bandsFromHs(docHashedShingles(s, d)), LshBucketCap),
      Tables.documents(s, d))

  /** px18's chunk grain at (doc, chunk) level — exposed for the spec's
    * reassembly and shift-invariance drives. A token CUTS (ends a chunk)
    * iff its md5 starts with '0' — a 1-in-16 content-defined boundary,
    * mean chunk ≈ 16 tokens. Everything row-local: boundary positions,
    * distinct-ing, and slicing are higher-order functions over the token
    * array; the only shuffle is the corpus-wide chunk count downstream. */
  private[graft] def cdcChunkGrain(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"),
        // [0] ++ ascending cut positions ++ [n], distinct keeps it sorted
        array_distinct(concat(
          array(lit(0)),
          when(size(col("tk")) >= 1,
            filter(sequence(lit(1), size(col("tk"))),
              i => substring(md5(element_at(col("tk"), i)), 1, 1) === "0"))
            .otherwise(array().cast("array<int>")),
          array(size(col("tk"))))).as("cuts"))
    base.select(col("doc_id"),
      posexplode(
        when(size(col("cuts")) >= 2,
          transform(sequence(lit(1), size(col("cuts")) - 1), j =>
            concat_ws(" ", slice(col("tk"),
              element_at(col("cuts"), j) + 1,
              element_at(col("cuts"), j + 1) - element_at(col("cuts"), j)))))
          .otherwise(array().cast("array<string>")))
        .as(Seq("chunk_idx", "chunk")))
  }

  /** PX18 — CONTENT-DEFINED CHUNK dedup: px8 chunks at fixed offsets, so
    * one inserted token shifts every later passage and defeats the dedup;
    * CDC cuts where the CONTENT says to (md5(token) prefix — the gear/
    * rolling-hash trick at token grain), so chunk boundaries re-align
    * after any insertion and shared suffixes dedup across edits — the
    * rsync/LBFS economics, and the shape storage-level dedup of a 100 TB
    * crawl actually uses. Chunks tile each doc exactly (spec: verbatim
    * reassembly); a chunk is duplicated if its content occurs ≥2 times
    * corpus-wide. Scale shape: boundaries and slicing are row-local HOFs,
    * then ONE count shuffle at chunk grain and a doc-grain re-aggregation
    * — never doc×doc, no positional alignment anywhere. */
  private val px18: Q = (s, d) => {
    val grain = cdcChunkGrain(Tables.documents(s, d))
    val counted = grain.groupBy(col("chunk")).agg(count(lit(1)).as("n_occ"))
    val perDoc = grain.join(counted, Seq("chunk"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_occ") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
    Tables.documents(s, d)
      .select(col("doc_id"), size(toks(col("text"))).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        graft.functions.ExactRatio.scaled(
          coalesce(col("n_dup_chunks"), lit(0L)),
          coalesce(col("n_chunks"), lit(0L)), 10000L).as("dup_chunk_bp"))
      .orderBy(col("doc_id"))
  }

  /** Passage grain for px8: non-overlapping token windows of this width.
    * Small here so the toy corpus actually repeats passages; at production
    * scale CCNet-style boilerplate removal uses lines or ~50-token spans —
    * the plan shape is identical at any width. */
  private[graft] val ChunkTokens = 4
  /** A passage repeated this many times corpus-wide is boilerplate. */
  private[graft] val ChunkDupMin = 4

  /** PX8 — corpus-level duplicated-PASSAGE removal (the CCNet line-dedup
    * pass, over token windows since the testdata is single-line): chunk
    * each doc into non-overlapping [[ChunkTokens]]-token passages
    * (row-local array slicing — no explode until the passage grain),
    * count passages corpus-wide, drop every passage occurring ≥
    * [[ChunkDupMin]] times, and reassemble each doc in passage order.
    * Scale shape: ONE aggregation shuffle at the passage grain for the
    * counts, then a left-anti join for the removal — deliberately
    * UNhinted: on clean corpora the over-threshold set is small and AQE
    * broadcasts it, but boilerplate-heavy crawls can push it past any
    * broadcast budget, and then the anti-join must fall back to a
    * shuffle (both sides are already keyed by the passage). The
    * reassembly groupBy is doc-bounded. Output keeps every doc
    * (zero-kept docs surface with n_kept = 0 and the md5 of the empty
    * string, not a dropped row). */
  private val px8: Q = (s, d) => {
    val ct = ChunkTokens
    // checkpoint-pinned: chunks feed a Generate (posexplode) plus the
    // final join, and pushed filters re-inline the split/slice chain
    // inside both consumers (the containmentFrom/spanScrubAt rationale)
    val chunked = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), expr(
        s"transform(sequence(0, int(ceil(size(toks) / $ct.0D)) - 1), " +
          s"i -> array_join(slice(toks, i * $ct + 1, $ct), ' '))").as("chunks"))
      .localCheckpoint(true)
    val passages = chunked.select(col("doc_id"),
      posexplode(col("chunks")).as(Seq("cidx", "chunk")))
    val boiler = passages.groupBy(col("chunk"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= ChunkDupMin)
      .select(col("chunk"))
    val keptAgg = passages.join(boiler, Seq("chunk"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        expr("md5(array_join(transform(array_sort(collect_list(" +
          "struct(cidx, chunk))), x -> x.chunk), ' '))").as("kept_md5"))
    chunked.select(col("doc_id"), size(col("chunks")).cast("long").as("n_chunks"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
      .orderBy(col("doc_id"))
  }

  /** px14 span grain: stride-1 windows of this many tokens. */
  private[graft] val SpanTokens = 4
  /** A window repeated this many times corpus-wide is a duplicated span. */
  private val SpanDupMin = 2

  /** Exact duplicated-SPAN scrubbing (the fixed-grain form of
    * suffix-array substring dedup — Lee et al.'s "Deduplicating Training
    * Data" pass, re-expressed as joins): slide a stride-1
    * [[SpanTokens]]-token window over every doc, count window strings
    * corpus-wide, and remove every token position covered by a window
    * occurring ≥ [[SpanDupMin]] times. Because every length-k subwindow
    * of a duplicated span of length ≥ k is itself duplicated, the removed
    * set is EXACTLY the union of all duplicated spans of ≥ k tokens — the
    * suffix-array result at fixed grain, with no suffix sorting. All
    * occurrences are removed (px8's boilerplate semantics, not
    * keep-first); counts include same-doc repeats, so internal
    * near-periodic repetition (tx7's territory) is scrubbed too.
    *
    * Scale shape: ONE count shuffle at window grain (~1 row per token —
    * the same order as any tokenize pass), an unhinted equi-join back to
    * the duplicated subset (AQE broadcasts it on clean corpora, shuffles
    * on boilerplate-heavy ones), a position explode bounded to duplicated
    * windows only, and a doc-bounded reassembly groupBy. Never doc×doc,
    * no suffix array, no global sort. */
  private[graft] def spanScrub(docs: DataFrame): DataFrame =
    spanScrubAt(SpanTokens)(docs)

  /** The window grain is a REAL parameter (p3/w7 convention): px14 runs
    * the 4-token grain, px14b the coarser 6-token grain — same plan at
    * any k, oracle generated from the same constant. */
  private[graft] def spanScrubAt(k: Int)(docs: DataFrame): DataFrame =
    // checkpoint-pinned for the same reason as containmentFrom: the token
    // array feeds a Generate (window posexplode) plus two more consumers,
    // and pushed-down filters re-inline the regex tokenizer inside them
    spanScrubToked(k)(docs.select(col("doc_id"), toks(col("text")).as("tk"))
      .localCheckpoint(true))

  /** The tokenized corpus (doc_id, tk) as a memoized CHECKPOINT core:
    * both registered span grains (px14 at 4, px14b at 6) consume the
    * identical relation, and each was paying its own corpus tokenize +
    * materialization (the two heaviest queries of the first full sf100
    * suite, 637 + 601 s). Checkpoint-backed (Memo.cached), NOT parquet:
    * the relation is re-read twice per query (window generation + final
    * reassembly join), and the r13 A/B measured parquet array decode
    * ~20–55% slower than MEMORY_AND_DISK reads at sf10 (60.2/54.5 s
    * parquet vs 35.5/34.6 s shared checkpoint) — doc-grain token arrays
    * are ~rows-of-the-corpus, not the token-grain row explosion that
    * forced pos_postings/tri_postings to parquet. */
  private[graft] def docToksFor(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, d, "doc_toks", "documents.parquet")(
      Tables.documents(s, d).select(col("doc_id"), toks(col("text")).as("tk")))

  private def spanScrubToked(k: Int)(toked: DataFrame): DataFrame = {
    // the window expr is TOTAL (short docs yield an empty array INSIDE the
    // expression, not via a preceding filter): filter inference from the
    // Generate inlines this chain into a combined predicate whose conjunct
    // order is the optimizer's choice, so a separate size>=k guard can
    // legally evaluate AFTER the slice — ANSI slice(start=0) error on a
    // short doc (caught by the fixture spec when the checkpoint moved the
    // filter boundary, round 10)
    // windows flow as raw strings, NOT md5-prefix hashes — tried and
    // rejected by A/B (round 11): hashing at generation saved ~5% at sf10
    // and nothing at sf100 (the window-grain count is ROW-COUNT-bound,
    // not key-byte-bound) while the per-window md5 cost 67% at sf0.1
    // (2.4 → 4.0 s) — the wrong trade at every scale that matters
    val ws = toked
      .select(col("doc_id"), expr(
        s"CASE WHEN size(tk) >= $k THEN transform(sequence(0, size(tk) - $k), " +
          s"i -> array_join(slice(tk, i + 1, $k), ' ')) " +
          "ELSE array() END")
        .as("wins"))
      .select(col("doc_id"), posexplode(col("wins")).as(Seq("p", "w")))
    val dupW = ws.groupBy(col("w")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= SpanDupMin).select(col("w"))
    // Duplicated-window OCCURRENCES (doc, start position) — unique per
    // (doc_id, p) because ws is a posexplode. The join stays a shuffle
    // join on purpose: a pathological boilerplate window's occurrences
    // stream through a join partition (AQE splits skewed ones) where a
    // collect_list-per-window form would buffer them in one agg row.
    val occ = ws.join(dupW, Seq("w")).select(col("doc_id"), col("p"))
    // Covered positions are aggregated at OCCURRENCE grain and expanded to
    // the per-position set ROW-LOCALLY (r13): the previous form exploded
    // every occurrence to its k positions and ran a corpus-wide distinct
    // before the per-doc aggregation — with stride-1 windows that is k×
    // occurrence-grain rows through TWO extra wide stages (the distinct's
    // repartition + its reshuffle into the doc grain), all to deduplicate
    // overlaps that are doc-local by construction. One groupBy(doc_id)
    // now carries each occurrence once; the k-expansion + dedup happen
    // inside the row (arrays bounded by doc length, the covSet bound that
    // already held). Same covered set, same oracle.
    val covSet = occ.groupBy(col("doc_id"))
      .agg(collect_list(col("p")).as("ps"))
      .select(col("doc_id"), array_distinct(flatten(transform(col("ps"),
        p => sequence(p, p + lit(k - 1))))).as("covps"))
    toked.join(covSet, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
        when(col("covps").isNull, col("tk"))
          .otherwise(filter(col("tk"),
            (_, i) => !array_contains(col("covps"), i)))
          .as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).as("n_removed"),
        md5(array_join(col("kept"), " ")).as("kept_md5"))
      .orderBy(col("doc_id"))
  }

  private val px14: Q = (s, d) => spanScrubToked(SpanTokens)(docToksFor(s, d))
  private val px14b: Q = (s, d) => spanScrubToked(6)(docToksFor(s, d))

  val queries: Map[String, Q] = Map(
    "px8_passage_dedup" -> px8,
    "px14_span_scrub" -> px14,
    "px14b_span_scrub_6" -> px14b,
    "d1_exact_dedup" -> d1,
    "d2_minhash_lsh" -> d2,
    "d2b_minhash_lsh_capped" -> d2b,
    "d9_incremental_dedup" -> d9,
    "d10_edit_verify" -> d10,
    "d10b_edit_verify_capped" -> d10b,
    "d3_simhash" -> d3,
    "d4_ngram_jaccard" -> d4,
    "d4b_ngram_jaccard_capped" -> d4b,
    "d5_embedding_neardup" -> d5,
    "d6_neardup_clusters" -> d6,
    "d7_embedding_clusters" -> d7,
    "d7b_embedding_clusters_grouped" -> d7b,
    "d8_simhash_clusters" -> d8,
    "d8b_simhash_clusters_grouped" -> d8b,
    "px4_decontaminate" -> px4,
    "px22_eval_scrub" -> px22,
    "px22b_eval_scrub_capped" -> px22b,
    "px17_containment" -> px17,
    "px17b_containment_capped" -> px17b,
    "px18_cdc_chunks" -> px18
  )

  /** px14's oracle at window grain k — generated from the same constant
    * as the Spark side so the two parameterizations cannot drift. */
  private def spanScrubSql(k: Int): String = {
    val winExpr = (1 to k).map(j => s"tk[i+$j]").mkString(" || ' ' || ")
    s"""WITH d AS (SELECT doc_id, $toksSql AS tk FROM documents),
       | ws AS (SELECT doc_id, i AS p, $winExpr AS w
       |   FROM d, UNNEST(range(len(tk) - ${k - 1})) AS r(i) WHERE len(tk) >= $k),
       | cnt AS (SELECT w FROM ws GROUP BY w HAVING count(*) >= $SpanDupMin),
       | cov AS (SELECT DISTINCT ws.doc_id, p + j AS tpos
       |   FROM ws JOIN cnt USING (w), UNNEST(range($k)) AS rr(j)),
       | tp AS (SELECT doc_id, i AS tpos, tk[i+1] AS tok
       |   FROM d, UNNEST(range(len(tk))) AS r(i)),
       | keptagg AS (SELECT tp.doc_id, count(*) AS n_kept,
       |     md5(string_agg(tok, ' ' ORDER BY tp.tpos)) AS kept_md5
       |   FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.tpos = cov.tpos
       |   WHERE cov.tpos IS NULL GROUP BY 1)
       | SELECT d.doc_id, len(tk) AS n_tokens,
       |   len(tk) - coalesce(n_kept, 0) AS n_removed,
       |   coalesce(kept_md5, md5('')) AS kept_md5
       | FROM d LEFT JOIN keptagg ON d.doc_id = keptagg.doc_id
       | ORDER BY d.doc_id""".stripMargin
  }

  private val docShinglesSql =
    s"""SELECT doc_id, $shinglesSql AS shingles
       | FROM (SELECT doc_id, $toksSql AS tk FROM documents)""".stripMargin

  /** DuckDB mirrors of the hashed-shingle minhash/band pipeline. */
  private val hsSql =
    "list_transform(shingles, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)"

  /** Hashed shingle SET per doc — the oracle's [[docHashedShingles]]: same
    * hash family as the minhash pipeline, distinct'd to set semantics. d4
    * and px17 verify over this grain on BOTH engines. */
  private val hashedShinglesSql =
    s"hsds AS (SELECT doc_id, list_distinct($hsSql) AS hs FROM ds)"
  private def minhashSql(j: Int): String =
    s"list_min(list_transform(hs, h -> xor(h, ${seeds(j)})))"
  private def bandSql(a: Int, b: Int): String =
    s"md5(CAST(h$a AS VARCHAR) || ':' || CAST(h$b AS VARCHAR))"
  /** The ds→sig→bands prefix shared by the capped and uncapped pair CTEs. */
  private val bandsChainSql =
    s"""ds AS ($docShinglesSql),
       | sig AS (SELECT doc_id, ${(0 until 8).map(j => s"${minhashSql(j)} AS h$j").mkString(", ")}
       |   FROM (SELECT doc_id, $hsSql AS hs FROM ds)),
       | bands AS (SELECT doc_id, b.band_idx,
       |   CASE b.band_idx WHEN 0 THEN ${bandSql(0, 1)} WHEN 1 THEN ${bandSql(2, 3)}
       |                   WHEN 2 THEN ${bandSql(4, 5)} ELSE ${bandSql(6, 7)} END AS bh
       |   FROM sig, (SELECT unnest(range(4)) AS band_idx) b)""".stripMargin

  /** Shared candidate-pair CTE chain (d2's whole plan, reused by d4). */
  private val candSql =
    s"""$bandsChainSql,
       | cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |   FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id)""".stripMargin

  /** d10b's candidate chain: pairs only from buckets of size ≤ cap —
    * the oracle applies [[LshBucketCap]] exactly as [[lshPairsCapped]]
    * does (px17b's capped-oracle pattern). */
  private def candSqlCapped(cap: Long) =
    s"""$bandsChainSql,
       | okb AS (SELECT band_idx, bh FROM bands
       |   GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND $cap),
       | cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |   FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
       |   JOIN okb ON a.band_idx = okb.band_idx AND a.bh = okb.bh)""".stripMargin

  private val simhashSql: String = (1 to 16).map { p =>
    s"(CASE WHEN list_sum(list_transform(tk, t -> CASE WHEN substr(md5(t), $p, 1) >= '8' THEN 1 ELSE -1 END)) > 0 THEN ${1 << (p - 1)} ELSE 0 END)"
  }.mkString(" + ")

  private val dotSql =
    "list_sum(list_transform(range(len(a.v)), i -> a.v[i+1] * b.v[i+1]))"

  /** d5's full pair query — its own oracle, and the edge set d7 closes.
    * DYNAMIC (a function of the data dir): the blocking cells come from
    * the Spark-trained codebook, embedded as SQL literals
    * (Similarity.scaledAsgCte) — deterministic training, exact round-trip
    * doubles, so the hash gate stays exact. */
  private def d5PairSqlFor(s: SparkSession, d: String): String =
    s"""WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       | v AS (SELECT vec_id, v,
       |   sqrt(list_sum(list_transform(range(len(v)), i -> v[i+1] * v[i+1]))) AS norm FROM v0),
       |${Similarity.scaledAsgCte(s, d)},
       | p AS (SELECT a.vec_id AS v1, b.vec_id AS v2,
       |   round($dotSql / (a.norm * b.norm), 4) AS cos
       |   FROM asg a JOIN asg b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id)
       | SELECT v1, v2, cos FROM p WHERE cos >= 0.35 ORDER BY v1, v2""".stripMargin

  /** Declared statically so callers can skip generation (which trains the
    * codebook) when a subset run doesn't need these keys. */
  val dynamicOracleKeys: Set[String] =
    Set("d5_embedding_neardup", "d7_embedding_clusters",
      "d7b_embedding_clusters_grouped")

  /** Oracles that EMBED data-derived literals (the trained blocking
    * codebook) — generated against the actual dir at Verify dump time
    * (SparkEntry.oracleSqlFor); same contract as Similarity.dynamicOracles. */
  def dynamicOracles(s: SparkSession, d: String): Map[String, String] = Map(
    "d5_embedding_neardup" -> d5PairSqlFor(s, d),
    // same oracle-tractability bound as d6: the recursive closure is
    // O(family²) on the testdata's small duplicate families; the Spark
    // side never materializes a closure at any scale
    "d7_embedding_clusters" -> d7ClosureSqlFor(s, d),
    // d7b's output is PROVABLY identical to d7's (the exact-duplicate
    // collapse is closure-preserving — see d7b's scaladoc), so one oracle
    // text holds both gates to one truth (the tx13c convention)
    "d7b_embedding_clusters_grouped" -> d7ClosureSqlFor(s, d))

  private def d7ClosureSqlFor(s: SparkSession, d: String): String =
    s"""WITH RECURSIVE p AS (SELECT v1, v2 FROM (${d5PairSqlFor(s, d)})),
       | edges AS (SELECT v1 AS x, v2 AS y FROM p UNION SELECT v2, v1 FROM p),
       | reach(x, y) AS (
       |   SELECT x, y FROM edges
       |   UNION
       |   SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
       | lab AS (SELECT em.vec_id,
       |     least(em.vec_id, coalesce(min(r.y), em.vec_id)) AS cluster_id
       |   FROM embeddings em LEFT JOIN reach r ON r.x = em.vec_id
       |   GROUP BY em.vec_id)
       | SELECT vec_id, cluster_id, vec_id = cluster_id AS is_canonical
       | FROM lab ORDER BY vec_id""".stripMargin

  /** d4's exact-Jaccard SQL over any candidate CTE chain exposing `cand`
    * — d4 and d4b share this tail verbatim, so the two gates can differ
    * only in candidate generation (the editVerifySqlOver convention). */
  private def d4SqlOver(candCtes: String): String =
    s"""WITH $candCtes,
       | $hashedShinglesSql,
       | j AS (SELECT d1, d2,
       |   ${graft.functions.ExactRatio.scaledSql(
            "len(list_intersect(s1.hs, s2.hs))",
            "len(s1.hs) + len(s2.hs) - len(list_intersect(s1.hs, s2.hs))",
            10000L)} AS jaccard_bp
       |   FROM cand JOIN hsds s1 ON cand.d1 = s1.doc_id JOIN hsds s2 ON cand.d2 = s2.doc_id)
       | SELECT d1, d2, jaccard_bp FROM j WHERE jaccard_bp >= 5000 ORDER BY d1, d2""".stripMargin

  /** d10's banded-verify SQL over any candidate CTE chain exposing `cand`
    * — d10 and d10b share this tail verbatim, so the two gates can differ
    * only in candidate generation. */
  private def editVerifySqlOver(candCtes: String): String =
    s"""WITH $candCtes,
       | t AS (SELECT doc_id, text, CAST(len(text) AS BIGINT) AS len
       |   FROM documents),
       | p0 AS (SELECT d1, d2, greatest(a.len, b.len) AS max_len,
       |     CASE WHEN abs(a.len - b.len) * 10000 > greatest(a.len, b.len) * $EditMaxDistBp
       |          THEN -1 ELSE CAST(levenshtein(a.text, b.text) AS BIGINT) END AS ed0
       |   FROM cand JOIN t a ON cand.d1 = a.doc_id JOIN t b ON cand.d2 = b.doc_id),
       | -- decision clamp mirroring the banded Spark plan: past the flag
       | -- boundary the exact value is not part of the contract
       | p AS (SELECT d1, d2, max_len,
       |     CASE WHEN ed0 <> -1 AND ed0 * 10000 > max_len * $EditMaxDistBp
       |          THEN -1 ELSE ed0 END AS edit_dist
       |   FROM p0)
       | SELECT d1, d2, edit_dist,
       |   CASE WHEN edit_dist = -1 THEN -1
       |        ELSE ${graft.functions.ExactRatio.scaledSql(
                 "max_len - edit_dist", "max_len", 10000L)} END AS edit_sim_bp,
       |   edit_dist <> -1 AND edit_dist * 10000 <= max_len * $EditMaxDistBp
       |     AS is_near_dup
       | FROM p ORDER BY d1, d2""".stripMargin

  private lazy val d8ClosureSql: String = {
      val sh32 = (1 to 32).map { p =>
        s"(CASE WHEN list_sum(list_transform(shingles, t -> CASE WHEN substr(md5(t), $p, 1) >= '8' THEN 1 ELSE -1 END)) > 0 THEN ${1L << (p - 1)} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH RECURSIVE
         | sh AS (SELECT doc_id, $sh32 AS sh FROM ($docShinglesSql)),
         | bands AS (SELECT doc_id, sh, b.band_idx,
         |     (sh >> (b.band_idx * $SimBandBits)) & ${(1 << SimBandBits) - 1} AS bv
         |   FROM sh, (SELECT unnest(range($SimBands)) AS band_idx) b),
         | cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.sh AS s1, b.sh AS s2
         |   FROM bands a JOIN bands b
         |   ON a.band_idx = b.band_idx AND a.bv = b.bv AND a.doc_id < b.doc_id),
         | p AS (SELECT d1, d2 FROM cand WHERE bit_count(xor(s1, s2)) <= $SimHamMax),
         | edges AS (SELECT d1 AS x, d2 AS y FROM p UNION SELECT d2, d1 FROM p),
         | reach(x, y) AS (
         |   SELECT x, y FROM edges
         |   UNION
         |   SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
         | lab AS (SELECT d.doc_id,
         |     least(d.doc_id, coalesce(min(r.y), d.doc_id)) AS cluster_id
         |   FROM documents d LEFT JOIN reach r ON r.x = d.doc_id
         |   GROUP BY d.doc_id)
         | SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical
         | FROM lab ORDER BY doc_id""".stripMargin
      }

  val oracles: Map[String, String] = Map(
    "d1_exact_dedup" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS keep_id
        | FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "d2_minhash_lsh" ->
      s"""WITH $candSql
         | SELECT d1, d2 FROM cand ORDER BY d1, d2""".stripMargin,
    "d2b_minhash_lsh_capped" ->
      s"""WITH ${candSqlCapped(LshBucketCap)}
         | SELECT d1, d2 FROM cand ORDER BY d1, d2""".stripMargin,
    "d10_edit_verify" -> editVerifySqlOver(candSql),
    "d10b_edit_verify_capped" -> editVerifySqlOver(candSqlCapped(LshBucketCap)),
    "px14_span_scrub" -> spanScrubSql(SpanTokens),
    "px14b_span_scrub_6" -> spanScrubSql(6),
    "d9_incremental_dedup" ->
      s"""WITH $candSql,
         | sp AS (SELECT min(doc_id) + (max(doc_id) - min(doc_id)) * 3 // 4 AS split
         |   FROM documents),
         | batchd AS (SELECT d.doc_id FROM documents d, sp WHERE d.doc_id >= sp.split),
         | rej AS (SELECT DISTINCT n.doc_id
         |   FROM bands n JOIN bands o
         |     ON n.band_idx = o.band_idx AND n.bh = o.bh AND o.doc_id < n.doc_id
         |   WHERE n.doc_id IN (SELECT doc_id FROM batchd))
         | SELECT b.doc_id, r.doc_id IS NULL AS accepted
         | FROM batchd b LEFT JOIN rej r ON b.doc_id = r.doc_id
         | ORDER BY b.doc_id""".stripMargin,
    "d3_simhash" ->
      s"""SELECT doc_id, $simhashSql AS simhash
         | FROM (SELECT doc_id, $toksSql AS tk FROM documents) ORDER BY doc_id""".stripMargin,
    "d4_ngram_jaccard" -> d4SqlOver(candSql),
    "d4b_ngram_jaccard_capped" -> d4SqlOver(candSqlCapped(LshBucketCap)),
    // Oracle tractability bound (same contract as the fork-walk oracle's
    // WalkWindow): the recursive closure materializes O(family²) rows, fine
    // for the testdata's small duplicate families; the Spark side never
    // materializes a closure at any scale.
    "d6_neardup_clusters" ->
      s"""WITH RECURSIVE $candSql,
         | edges AS (SELECT d1 AS x, d2 AS y FROM cand UNION SELECT d2, d1 FROM cand),
         | reach(x, y) AS (
         |   SELECT x, y FROM edges
         |   UNION
         |   SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
         | lab AS (SELECT d.doc_id,
         |     least(d.doc_id, coalesce(min(r.y), d.doc_id)) AS cluster_id
         |   FROM documents d LEFT JOIN reach r ON r.x = d.doc_id
         |   GROUP BY d.doc_id)
         | SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical
         | FROM lab ORDER BY doc_id""".stripMargin,
    // same closure-oracle tractability bound as d6 (d7's closure oracle is
    // dir-dependent — see dynamicOracles)
    "d8_simhash_clusters" -> d8ClosureSql,
    // d8b's output is PROVABLY identical to d8's (exact-signature
    // collapse is closure-preserving — see d8bEdges), so one oracle text
    // holds both gates to one truth (the d7b/tx13c convention)
    "d8b_simhash_clusters_grouped" -> d8ClosureSql,
    "px4_decontaminate" ->
      s"""WITH ds AS ($docShinglesSql),
         | test AS (SELECT doc_id, shingles FROM ds WHERE doc_id % 10 = 7),
         | train_sh AS (SELECT DISTINCT unnest(shingles) AS sh FROM ds WHERE doc_id % 10 <> 7),
         | test_sh AS (SELECT doc_id, unnest(shingles) AS sh FROM test),
         | hits AS (SELECT doc_id, count(*) AS n_contaminated
         |   FROM test_sh JOIN train_sh USING (sh) GROUP BY 1)
         | SELECT t.doc_id, CAST(len(t.shingles) AS BIGINT) AS n_shingles,
         |   CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
         |   coalesce(h.n_contaminated, 0) > 0 AS contaminated
         | FROM test t LEFT JOIN hits h ON t.doc_id = h.doc_id ORDER BY t.doc_id""".stripMargin,
    "px22_eval_scrub" ->
      s"""WITH ds AS ($docShinglesSql),
         | test AS (SELECT doc_id AS test_id, shingles FROM ds WHERE doc_id % 10 = 7),
         | test_sh AS (SELECT test_id, CAST(len(shingles) AS BIGINT) AS t_n,
         |     unnest(shingles) AS sh FROM test),
         | train AS (SELECT doc_id, shingles FROM ds WHERE doc_id % 10 <> 7),
         | train_sh AS (SELECT doc_id, unnest(shingles) AS sh FROM train),
         | pairs AS (SELECT r.doc_id, t.test_id, max(t.t_n) AS t_n,
         |     count(*) AS n_shared
         |   FROM train_sh r JOIN test_sh t USING (sh) GROUP BY 1, 2),
         | bad AS (SELECT doc_id, count(*) AS n_eval_hits FROM pairs
         |   WHERE ${graft.functions.ExactRatio.scaledSql("n_shared", "t_n", 10000L)}
         |     >= $ContainMinBp GROUP BY 1)
         | SELECT tr.doc_id, CAST(len(tr.shingles) AS BIGINT) AS n_shingles,
         |   CAST(coalesce(b.n_eval_hits, 0) AS BIGINT) AS n_eval_hits,
         |   coalesce(b.n_eval_hits, 0) = 0 AS kept
         | FROM train tr LEFT JOIN bad b ON tr.doc_id = b.doc_id
         | ORDER BY tr.doc_id""".stripMargin,
    "px22b_eval_scrub_capped" ->
      s"""WITH ds AS ($docShinglesSql),
         | $hashedShinglesSql,
         | test AS (SELECT doc_id AS test_id, hs FROM hsds WHERE doc_id % 10 = 7),
         | train AS (SELECT doc_id, hs FROM hsds WHERE doc_id % 10 <> 7),
         | train_sh AS (SELECT doc_id, unnest(hs) AS sh FROM train),
         | hot AS (SELECT sh FROM train_sh GROUP BY sh
         |   HAVING count(*) > $ContainDfCap),
         | test_rare AS (SELECT t.test_id, t.sh
         |   FROM (SELECT test_id, unnest(hs) AS sh FROM test) t
         |   ANTI JOIN hot USING (sh)),
         | t_rare AS (SELECT test_id, count(*) AS t_rare FROM test_rare
         |   GROUP BY 1),
         | train_rare AS (SELECT r.doc_id, r.sh FROM train_sh r
         |   ANTI JOIN hot USING (sh)),
         | pairs AS (SELECT r.doc_id, t.test_id, count(*) AS n_shared
         |   FROM train_rare r JOIN test_rare t USING (sh) GROUP BY 1, 2),
         | bad AS (SELECT p.doc_id, count(*) AS n_eval_hits
         |   FROM pairs p JOIN t_rare n USING (test_id)
         |   WHERE n.t_rare >= $ContainMinRare
         |     AND ${graft.functions.ExactRatio.scaledSql(
              "p.n_shared", "n.t_rare", 10000L)} >= $ContainMinBp
         |   GROUP BY 1),
         | nrt AS (SELECT doc_id, count(*) AS n_rare FROM train_rare
         |   GROUP BY 1)
         | SELECT tr.doc_id, CAST(len(tr.hs) AS BIGINT) AS n_shingles,
         |   CAST(coalesce(nrt.n_rare, 0) AS BIGINT) AS n_rare,
         |   CAST(coalesce(b.n_eval_hits, 0) AS BIGINT) AS n_eval_hits,
         |   coalesce(b.n_eval_hits, 0) = 0 AS kept
         | FROM train tr LEFT JOIN nrt ON tr.doc_id = nrt.doc_id
         | LEFT JOIN bad b ON tr.doc_id = b.doc_id
         | ORDER BY tr.doc_id""".stripMargin,
    "px17_containment" ->
      s"""WITH ds AS ($docShinglesSql),
         | $hashedShinglesSql,
         | test AS (SELECT doc_id, hs FROM hsds WHERE doc_id % 10 = 7),
         | test_sh AS (SELECT doc_id, unnest(hs) AS sh FROM test),
         | train_sh AS (SELECT doc_id AS train_id, unnest(hs) AS sh
         |   FROM hsds WHERE doc_id % 10 <> 7),
         | pairs AS (SELECT t.doc_id, r.train_id, count(*) AS n_shared
         |   FROM test_sh t JOIN train_sh r USING (sh) GROUP BY 1, 2),
         | best AS (SELECT doc_id, train_id, n_shared FROM (
         |     SELECT doc_id, train_id, n_shared, row_number() OVER (
         |       PARTITION BY doc_id ORDER BY n_shared DESC, train_id) AS rn
         |     FROM pairs) WHERE rn = 1),
         | scored AS (SELECT t.doc_id,
         |     CAST(len(t.hs) AS BIGINT) AS n_shingles,
         |     CAST(coalesce(b.train_id, -1) AS BIGINT) AS best_train_id,
         |     ${graft.functions.ExactRatio.scaledSql("coalesce(b.n_shared, 0)",
              "len(t.hs)", 10000L)} AS containment_bp
         |   FROM test t LEFT JOIN best b ON t.doc_id = b.doc_id)
         | SELECT doc_id, n_shingles, best_train_id, containment_bp,
         |   containment_bp >= $ContainMinBp AS contaminated
         | FROM scored ORDER BY doc_id""".stripMargin,
    "px17b_containment_capped" ->
      s"""WITH ds AS ($docShinglesSql),
         | $hashedShinglesSql,
         | test AS (SELECT doc_id, hs FROM hsds WHERE doc_id % 10 = 7),
         | train_sh AS (SELECT doc_id AS train_id, unnest(hs) AS sh
         |   FROM hsds WHERE doc_id % 10 <> 7),
         | hot AS (SELECT sh FROM train_sh GROUP BY sh
         |   HAVING count(*) > $ContainDfCap),
         | test_rare AS (SELECT t.doc_id, t.sh
         |   FROM (SELECT doc_id, unnest(hs) AS sh FROM test) t
         |   ANTI JOIN hot USING (sh)),
         | train_rare AS (SELECT r.train_id, r.sh FROM train_sh r
         |   ANTI JOIN hot USING (sh)),
         | nr AS (SELECT doc_id, count(*) AS n_rare FROM test_rare GROUP BY 1),
         | pairs AS (SELECT t.doc_id, r.train_id, count(*) AS n_shared
         |   FROM test_rare t JOIN train_rare r USING (sh) GROUP BY 1, 2),
         | best AS (SELECT doc_id, train_id, n_shared FROM (
         |     SELECT doc_id, train_id, n_shared, row_number() OVER (
         |       PARTITION BY doc_id ORDER BY n_shared DESC, train_id) AS rn
         |     FROM pairs) WHERE rn = 1),
         | scored AS (SELECT t.doc_id,
         |     CAST(len(t.hs) AS BIGINT) AS n_shingles,
         |     CAST(coalesce(nr.n_rare, 0) AS BIGINT) AS n_rare,
         |     CAST(coalesce(b.train_id, -1) AS BIGINT) AS best_train_id,
         |     ${graft.functions.ExactRatio.scaledSql("coalesce(b.n_shared, 0)",
              "coalesce(nr.n_rare, 0)", 10000L)} AS containment_bp
         |   FROM test t LEFT JOIN nr ON t.doc_id = nr.doc_id
         |   LEFT JOIN best b ON t.doc_id = b.doc_id)
         | SELECT doc_id, n_shingles, n_rare, best_train_id, containment_bp,
         |   n_rare >= $ContainMinRare AND containment_bp >= $ContainMinBp
         |     AS contaminated
         | FROM scored ORDER BY doc_id""".stripMargin,
    "px18_cdc_chunks" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         | c AS (SELECT doc_id, tk, list_sort(list_distinct(
         |     [0] || list_filter(range(1, len(tk)+1),
         |       i -> substring(md5(tk[i]), 1, 1) = '0') || [len(tk)])) AS cuts
         |   FROM t),
         | ch AS (SELECT doc_id,
         |     array_to_string(list_slice(tk, cuts[j+1] + 1, cuts[j+2]), ' ') AS chunk
         |   FROM c, UNNEST(range(len(cuts) - 1)) AS r(j) WHERE len(cuts) >= 2),
         | cnt AS (SELECT chunk, count(*) AS n_occ FROM ch GROUP BY 1),
         | pd AS (SELECT doc_id, count(*) AS n_chunks,
         |     sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS n_dup_chunks
         |   FROM ch JOIN cnt USING (chunk) GROUP BY 1)
         | SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
         |   CAST(coalesce(pd.n_chunks, 0) AS BIGINT) AS n_chunks,
         |   CAST(coalesce(pd.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
         |   ${graft.functions.ExactRatio.scaledSql("coalesce(pd.n_dup_chunks, 0)",
              "coalesce(pd.n_chunks, 0)", 10000L)} AS dup_chunk_bp
         | FROM t LEFT JOIN pd ON t.doc_id = pd.doc_id ORDER BY t.doc_id""".stripMargin,
    // d5's oracle is dir-dependent (literal trained codebook) — see
    // dynamicOracles
    // same chunking via zipped unnest + generate_subscripts: DuckDB's
    // (pos-1)//W group IS Spark's slice(toks, i*W+1, W) passage
    "px8_passage_dedup" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         | tok AS (SELECT doc_id, unnest(toks) AS tok,
         |   generate_subscripts(toks, 1) AS pos FROM t),
         | chunk AS (SELECT doc_id, (pos - 1) // $ChunkTokens AS cidx,
         |   string_agg(tok, ' ' ORDER BY pos) AS chunk FROM tok GROUP BY 1, 2),
         | bp AS (SELECT chunk FROM chunk GROUP BY chunk
         |   HAVING count(*) >= $ChunkDupMin),
         | kept AS (SELECT c.* FROM chunk c ANTI JOIN bp USING (chunk)),
         | agg AS (SELECT doc_id, count(*) AS n_kept,
         |   md5(string_agg(chunk, ' ' ORDER BY cidx)) AS kept_md5
         |   FROM kept GROUP BY doc_id),
         | nc AS (SELECT doc_id, count(*) AS n_chunks FROM chunk GROUP BY doc_id)
         | SELECT n.doc_id, n.n_chunks, coalesce(a.n_kept, 0) AS n_kept,
         |   coalesce(a.kept_md5, md5('')) AS kept_md5
         | FROM nc n LEFT JOIN agg a USING (doc_id) ORDER BY n.doc_id""".stripMargin
  )
}
