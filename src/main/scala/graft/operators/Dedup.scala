package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.{TextFunctions => TF}
import graft.plans.GraftExpressions

/** §2.4 deduplication operators over the `documents` corpus.
  *
  * Scale design (SURVEY.md §5): the only all-pairs computation is
  * [[d4NgramJaccard]], the *ground-truth* operator, and it is explicitly
  * capped — at 100 TB the production path is [[d2MinhashLsh]] /
  * [[d3Simhash]], whose candidate generation is a bucket equi-join
  * (shuffle keyed on (band, hash)), i.e. O(near-dup pairs), not O(n²).
  * Candidate joins carry doc ids only (shingle arrays are re-joined just
  * for the verified candidates), so the wide arrays never ride the
  * candidate shuffle.
  */
object Dedup {

  /** r18 parallelism floor over the documents scan: every operator in
    * this file does per-row text work (tokenize / shingle / md5 / regex
    * / gram explode) that Spark fuses into the scan stage, and the
    * single-row-group sf inputs plan that stage as ONE task — see
    * [[graft.sources.Tables.parallelized]] (no-op on any many-row-group
    * production layout; Catalyst prunes columns below the exchange, so
    * only consumed columns ride it).
    */
  private[operators] def docsFloor(s: SparkSession, d: String) =
    // r19: hash-repartition on doc_id instead of round-robin — keyless
    // repartition pays a serial full-row (text included) determinism
    // sort on the 1-task scan (see Tables.parallelized scaladoc)
    Tables.parallelized(Tables.documents(s, d), col("doc_id"))

  /** Exact dedup: content-hash groupBy. One shuffle on the hash key; at
    * scale this is the canonical "keep one per hash" pass (keep = min id).
    */
  def d1DedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n"), min("doc_id").as("keep_id"))
      .orderBy("h")

  /** doc_id → sorted distinct shingle-hash array (one-pass custom
    * expression; composed string shingling — TF.wordShingles — collapses
    * its token subexpression back into the lambda and re-splits per
    * element, ~50× slower, and ships strings through every shuffle).
    */
  private def shingled(s: SparkSession, d: String): DataFrame =
    docsFloor(s, d)
      .select(col("doc_id"), GraftExpressions.shingleHashes(split(col("text"), " "), 3).as("sh"))
      .filter(size(col("sh")) > 0)

  /** jaccard = |∩| / (|a|+|b|-|∩|): one merge-walk intersection per pair
    * over the sorted hash arrays (identical value to string-set Jaccard
    * modulo 64-bit hash collisions — the oracle equality check covers it).
    */
  private[operators] def withJaccard(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("ji", GraftExpressions.sortedIntersectSize(col("sh_a"), col("sh_b")))
      .withColumn(
        "jaccard",
        round(col("ji").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("ji")), 4)
      )

  /** MinHash + LSH banding near-dup detection.
    *
    * signature: 64 min-hashes in one pass over the shingle set (custom
    * [[graft.plans.MinHashSig]] expression — each shingle hashed once,
    * k-slot remix is integer ops); bands: 32 bands × 2 rows (collision
    * threshold ≈ (1/32)^(1/2) ≈ 0.18). Candidates come from an equi-join
    * on (band, band-hash) carrying doc ids ONLY; shingle sets are joined
    * back just for candidates, which are exact-verified with true Jaccard
    * and kept at ≥ 0.5. Deterministic (no runtime RNG), so the output
    * equals the exact τ=0.5 pair set — the DuckDB oracle computes that
    * exactly.
    */
  def d2MinhashLsh(s: SparkSession, d: String): DataFrame = {
    val nHashes = 64
    val rowsPerBand = 2
    val nBands = nHashes / rowsPerBand

    // the shingle scan feeds this plan three times (banding + two
    // candidate verify joins) — checkpoint it once
    val sh = shingled(s, d).localCheckpoint()
    val banded = sh
      .select(col("doc_id"), GraftExpressions.minhashFromHashes(col("sh"), nHashes).as("sig"))
      .select(
        col("doc_id"),
        posexplode(
          transform(
            sequence(lit(0), lit(nBands - 1)),
            b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), b)
          )
        ).as(Seq("band", "bh"))
      )

    val l = banded.select(col("band"), col("bh"), col("doc_id").as("id_a"))
    val r = banded.select(col("band"), col("bh"), col("doc_id").as("id_b"))
    val candidates = l
      .join(r, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct() // a pair may collide in several bands

    val pairs = candidates
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
    withJaccard(pairs)
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** SimHash near-dup: 64-bit signature (one-pass custom vote
    * expression), candidates via 4×16-bit band join (any pair at
    * hamming ≤ 3 must agree on ≥1 of 4 bands — pigeonhole, so the band
    * join is EXACT for the ≤3 threshold, not approximate), verified by
    * exact hamming distance.
    *
    * PORTABLE form (round-8: was rows-only): the per-token 64-bit hash
    * is the first 16 md5 hex digits (two 32-bit halves shifted
    * together — exact integer arithmetic both engines share), so the
    * DuckDB oracle replays signature votes and xor/bit_count hamming
    * bit-for-bit and the driver hash-gates the full pair set. The
    * xxhash64-seeded signature ([[GraftExpressions.simhash64]]) remains
    * the zero-allocation scale variant, ScalaTest-covered
    * (EquivalenceSpec); the vote loop here is the same custom
    * expression machinery over the portable hashes.
    */
  def d3Simhash(s: SparkSession, d: String, maxHamming: Int = 3): DataFrame = {
    val hexes = transform(TF.tokens(col("text")), t => md5(t))
    val th = transform(
      hexes,
      h =>
        shiftleft(conv(substring(h, 1, 8), 16, 10).cast("long"), 32)
          .bitwiseOR(conv(substring(h, 9, 8), 16, 10).cast("long"))
    )
    // r18: per-token md5 + conv + the 64-slot vote loop ran fused into
    // the 1-task scan — parallelism floor first (guide §2.6).
    // r19 (VERDICT item 1): that floored signature scan fed BOTH sides
    // of the band self-join, so the full-text exchange + the md5 vote
    // compute executed twice per run (driver-measured 2.27 → 14.8 s
    // regression). Materialize the COMPACT (doc_id, sim) once per
    // execution — t49's localCheckpoint pattern; 16 bytes/row ride the
    // join instead of the text column, and the floor pays exactly once.
    val sh = docsFloor(s, d)
      .select(col("doc_id"), GraftExpressions.simhash64FromHashes(th).as("sim"))
      .localCheckpoint()

    val banded = sh.select(
      col("doc_id"),
      col("sim"),
      posexplode(
        transform(
          sequence(lit(0), lit(3)),
          b => call_function("shiftright", col("sim"), b * lit(16)).bitwiseAND(lit(0xffffL))
        )
      ).as(Seq("band", "bh"))
    )
    val l = banded.select(col("band"), col("bh"), col("doc_id").as("id_a"), col("sim").as("sim_a"))
    val r = banded.select(col("band"), col("bh"), col("doc_id").as("id_b"), col("sim").as("sim_b"))
    l.join(r, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sim_a", "sim_b")
      .distinct()
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .orderBy("id_a", "id_b")
  }

  /** The capped shingle slice d4/d10/d23 self-join, materialized COMPACT
    * once per execution (localCheckpoint, the d3/t49 pattern) so the
    * floored full-text exchange and the shingle compute pay once per
    * run, not once per cross-join side (r18 VERDICT item 1). Built
    * fresh inside every call — nothing is reused across executions.
    */
  private def shingledCapped(s: SparkSession, d: String, cap: Int): DataFrame =
    shingled(s, d).filter(col("doc_id") < cap).localCheckpoint()

  /** Ground-truth exact n-gram Jaccard pairs. All-pairs — intentionally
    * capped to the first [[cap]] doc_ids; at scale use [[d2MinhashLsh]].
    * The pair set is ordered inside ONE partition (see [[capOrdered]]).
    */
  def d4NgramJaccard(s: SparkSession, d: String, cap: Int = 1000): DataFrame = {
    val sh = shingledCapped(s, d, cap)
    val l = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val r = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    capOrdered(
      withJaccard(l.crossJoin(r).filter(col("id_a") < col("id_b")))
        .filter(col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )
  }

  /** The final (id_a, id_b) order of a capped all-pairs result, sorted
    * inside one partition. The set is bounded by the cap (≤ cap² rows),
    * so one task orders it cheaply; a global `orderBy` would instead
    * range-partition, and its sampler job re-runs the un-materialized
    * cross join a second time.
    */
  private def capOrdered(pairs: DataFrame): DataFrame =
    pairs.repartition(1).sortWithinPartitions("id_a", "id_b")

  /** Containment near-dup (ordered pairs): C(A→B) = |A∩B| / |A| — the
    * asymmetric score that catches a SMALL document embedded in a larger
    * one, which symmetric Jaccard dilutes (j ≥ τ implies c ≥ τ but not
    * vice versa). Ground-truth form, capped like [[d4NgramJaccard]]; the
    * scale path is the d2 band join with this verify expression, whose
    * candidate recall is then governed by the banding threshold. The
    * pair set is ordered inside ONE partition (see [[capOrdered]]).
    */
  def d10Containment(s: SparkSession, d: String, tau: Double = 0.8, cap: Int = 1000): DataFrame = {
    val sh = shingledCapped(s, d, cap)
    val l = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val r = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    capOrdered(
      l.crossJoin(r)
        .filter(col("id_a") =!= col("id_b"))
        .withColumn("ji", GraftExpressions.sortedIntersectSize(col("sh_a"), col("sh_b")))
        .withColumn("containment", round(col("ji").cast("double") / size(col("sh_a")), 4))
        .filter(col("containment") >= tau)
        .select("id_a", "id_b", "containment")
    )
  }

  /** Connected components of a pair graph `(id_a, id_b)` as
    * `(doc_id, canonical_id)`, canonical = the minimum id in the
    * component (GraphX's Pregel CC, O(diameter) supersteps). Every
    * node of a pair appears once; nodes without a pair are absent. The
    * near-dup graphs this runs on are stars and cliques, so the
    * diameter is small.
    */
  private[graft] def components(pairs: DataFrame): DataFrame = {
    import org.apache.spark.graphx.{Edge, Graph}
    val edges = pairs.select("id_a", "id_b").rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val cc = Graph.fromEdges(edges, ()).connectedComponents().vertices
    pairs.sparkSession.createDataFrame(cc).toDF("doc_id", "canonical_id")
  }

  /** Near-dup cluster assignment: [[components]] over the verified LSH
    * pair graph — the standard scale path for turning pair sets into
    * keep/drop decisions. canonical_id is the minimum doc_id of the
    * component, i.e. the document a dedup pass keeps.
    * The verified pair set and the cluster map are localCheckpoint'ed —
    * materialized once, lineage truncated — so Pregel's iterative
    * evaluation doesn't re-run the LSH chain per superstep and the
    * consumers of the map don't re-run clustering. At 100 TB these
    * intermediates are exactly what a production pipeline persists
    * between stages.
    */
  private def clusterMap(s: SparkSession, d: String): DataFrame =
    components(d2MinhashLsh(s, d).select("id_a", "id_b").localCheckpoint()).localCheckpoint()

  def d6DedupClusters(s: SparkSession, d: String): DataFrame =
    clusterMap(s, d).orderBy("doc_id")

  /** Cluster members ranked by the keep-LONGEST policy (rn = 1 is the
    * keeper). Shared by [[d11KeepBest]] and the p3 curation drop list.
    */
  private def rankedMembers(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val members = clusterMap(s, d)
      .join(
        Tables.documents(s, d).select(col("doc_id"), length(col("text")).as("len")),
        "doc_id"
      )
    val w = Window
      .partitionBy("canonical_id")
      .orderBy(desc("len"), col("doc_id"))
    members.withColumn("rn", row_number().over(w))
  }

  /** Drop list under the keep-longest policy: every near-dup cluster
    * member except its keeper.
    */
  def dropListKeepBest(s: SparkSession, d: String): DataFrame =
    rankedMembers(s, d).filter(col("rn") > 1).select("doc_id")

  /** d11: QUALITY-AWARE canonical selection — instead of d6's min-id
    * convention, each near-dup cluster keeps its LONGEST member (the most
    * complete copy; ties break to the lowest doc_id). One join of the
    * cluster map to per-doc lengths + a per-cluster top-1 window — both
    * steps keyed on cluster id, so no skew beyond the largest cluster,
    * which the pair graph already bounds. This is the policy step real
    * curation pipelines argue about (keep longest vs newest vs highest
    * quality score); the operator takes the ranking as a plan, not code.
    */
  def d11KeepBest(s: SparkSession, d: String): DataFrame = {
    rankedMembers(s, d)
      .groupBy(col("canonical_id").as("cluster_id"))
      .agg(
        count(lit(1)).as("n_members"),
        max(when(col("rn") === 1, col("doc_id"))).as("keep_id"),
        max(when(col("rn") === 1, col("len"))).cast("int").as("keep_len")
      )
      .select("cluster_id", "keep_id", "keep_len", "n_members")
      .orderBy("cluster_id")
  }

  /** d13: dedup impact report — the cluster-size distribution (how many
    * near-dup clusters of each size, and the docs they'd remove). The
    * table every dedup run should ship with its output: one groupBy over
    * the cluster map, then a size-keyed count. Singleton docs aren't in
    * the map (no pair ⇒ no cluster), so sizes start at 2.
    */
  def d13ClusterStats(s: SparkSession, d: String): DataFrame =
    clusterMap(s, d)
      .groupBy("canonical_id")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(
        count(lit(1)).as("n_clusters"),
        sum(col("cluster_size") - 1).as("n_droppable")
      )
      .orderBy("cluster_size")

  /** The dedup APPLY step: materialize the post-dedup corpus — every
    * document except non-canonical members of near-dup clusters. One
    * broadcast anti-join against the (small) drop list.
    */
  def d7DedupApply(s: SparkSession, d: String): DataFrame = {
    val drop = clusterMap(s, d).filter(col("doc_id") =!= col("canonical_id")).select("doc_id")
    Tables.documents(s, d)
      .join(broadcast(drop), Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Intra-document duplication ratio (C4-style quality gate): share of
    * repeated 3-shingles within each document. distinct count via the
    * one-pass hash-shingle expression.
    */
  def d8IntraDocDup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        (size(split(col("text"), " ")) - size(filter(split(col("text"), " "), t => t === ""))).as("n_tok"),
        size(GraftExpressions.shingleHashes(split(col("text"), " "), 3)).as("n_distinct")
      )
      .filter(col("n_tok") >= 3)
      .select(
        col("doc_id"),
        (col("n_tok") - 2).as("n_shingles"),
        col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") / (col("n_tok") - 2), 4).as("dup_ratio")
      )
      .orderBy("doc_id")

  /** Embedding-cosine near-dup pairs (cos ≥ τ). Brute verification pass —
    * the ANN-bucketed variant is Similarity.v2KnnLsh. Squared norms are
    * computed once per vector (not per pair); the dot product is the
    * codegen'd FloatVecDot loop, bit-identical to the oracle's
    * list_dot_product.
    */
  def d5DedupEmbedding(s: SparkSession, d: String, tau: Double = 0.4): DataFrame = {
    val e = Tables
      .embeddings(s, d)
      .select(
        col("vec_id"),
        col("embedding"),
        sqrt(GraftExpressions.dotF(col("embedding"), col("embedding"))).as("nrm")
      )
    val l = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val r = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    l.crossJoin(r)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", GraftExpressions.dotF(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      .orderBy("id_a", "id_b")
  }

  /** Scale-path embedding near-dup: balanced BLOCK self-join — the same
    * output as [[d5DedupEmbedding]] with no CartesianProduct / BNLJ node
    * anywhere in the plan (asserted in ScalaTest).
    *
    * Why blocks and not LSH here (measured, round 2): at τ=0.4 on this
    * 64-dim corpus the true pairs sit at cos 0.40–0.51 while random
    * pairs have σ(cos) = 1/√64 = 0.125 — the threshold is only ~3.2σ
    * from noise. Sign-bit LSH at that separation cannot work: the
    * per-plane agreement probability is 0.631 for a true pair vs 0.5
    * for a random one, so ANY (tables, planes, multiprobe) configuration
    * reaching recall ≈ 1 also admits >85% of ALL pairs as candidates —
    * i.e. it degenerates to all-pairs plus LSH overhead (the
    * LshViability ScalaTest quantifies this). LSH is the right candidate
    * generator when τ is far from noise (d2/d3 at Jaccard 0.5, v2 ANN
    * top-k); for exact low-τ cosine dedup the correct distributed shape
    * is a balanced block join:
    *
    * each vector (hash-)blocked into one of B blocks; a pair in blocks
    * (i ≤ j) meets exactly once at join key (i, j) — the left role
    * explodes a vector in block b to keys (b, b..B-1), the right role to
    * keys (0..b, b). Work per task is |B_i|·|B_j| ≈ (n/B)² dot products
    * — uniform by construction (no skew ceiling), memory per task
    * O(n/B), shuffle volume n·(B+1)/2 rows. Compute is still inherently
    * O(n²) — that is the price of EXACT near-noise thresholds at any
    * scale; raise τ into the LSH-viable regime or accept ANN recall
    * (v2) when n² is unaffordable.
    */
  def d5bDedupEmbeddingBlocked(s: SparkSession, d: String, tau: Double = 0.4, nBlocks: Int = 8): DataFrame = {
    val e = Tables
      .embeddings(s, d)
      .select(
        col("vec_id"),
        col("embedding"),
        sqrt(GraftExpressions.dotF(col("embedding"), col("embedding"))).as("nrm"),
        pmod(xxhash64(col("vec_id")), lit(nBlocks)).cast("int").as("blk")
      )
    val l = e.select(
      col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("nrm").as("nrm_a"),
      col("blk").as("k1"), explode(sequence(col("blk"), lit(nBlocks - 1))).as("k2")
    )
    val r = e.select(
      col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("nrm").as("nrm_b"),
      explode(sequence(lit(0), col("blk"))).as("k1"), col("blk").as("k2")
    )
    l.join(r, Seq("k1", "k2"))
      // diagonal block pairs see both orientations — keep one; off-diagonal
      // pairs appear exactly once (left role is always the lower block)
      .filter((col("k1") === col("k2") && col("id_a") < col("id_b")) || col("k1") < col("k2"))
      .withColumn("cos", GraftExpressions.dotF(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= tau)
      // dot/norms are orientation-symmetric bit-for-bit; only ids need ordering
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        round(col("cos"), 4).as("cos")
      )
      .orderBy("id_a", "id_b")
  }

  /** d15: transitive fuzzy-duplicate clusters — connected components
    * over the d14 edit-distance pair graph (the d6 machinery pointed at
    * a different edge set: GraphX CC, O(diameter) supersteps, canonical
    * = min member id), reported as a per-cluster size summary. This is
    * the "family of retyped variants" view record-linkage produces once
    * pairwise matches chain. The pair set is d14's checkpointed
    * output, so GraphX's supersteps don't re-run the candidate join and
    * Levenshtein verify.
    */
  def d15FuzzyClusters(s: SparkSession, d: String): DataFrame =
    components(fuzzyPairsUnsorted(s, d))
      .groupBy(col("canonical_id").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"), max("doc_id").as("max_doc"))
      .orderBy("cluster_id")

  /** d14: blocked fuzzy matching by edit distance — sorted-neighborhood
    * candidate generation, then a Levenshtein verify on the 60-char
    * document head. Within each (lang, source) block the docs are sorted
    * by (head, doc_id) and each doc is compared to its next `window`
    * neighbors in that order, so retyped variants (which sort adjacently
    * on their shared head prefix) meet while candidate volume is EXACTLY
    * n·window — O(n), independent of block cardinality. This replaces the
    * round-5 plain (lang, source) equi-join whose Σ|block|² candidates
    * grew quadratically with corpus size under a constant-cardinality
    * key (round-5 VERDICT item 1). The neighbor join is a pure equi-join:
    * the left role explodes rank → (rank+1 .. rank+window) and joins the
    * right role's rank, so no range-join or BNLJ node appears. Blocking +
    * windowing are part of the operator's declared semantics (the DuckDB
    * oracle computes the identical sorted-neighborhood pair set);
    * `levenshtein` is Spark's codegen'd built-in and the 60-char cap
    * bounds the O(len²) DP per pair. The sort itself is one window
    * function over the block key — a single shuffle, skew-bounded by the
    * largest block only for the RANK step (linear), never for pairs.
    */
  def d14FuzzyPairs(s: SparkSession, d: String, maxDist: Int = 40, window: Int = 10): DataFrame =
    fuzzyPairsUnsorted(s, d, maxDist, window).orderBy("id_a", "id_b")

  /** d16: exact duplicated-SUBSTRING spans — the distributed restatement
    * of suffix-array ExactSubstr dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): any run of ≥ k
    * consecutive tokens that appears verbatim in ≥ 2 documents is a
    * duplicated span, and overlapping/adjacent spans merge into maximal
    * removal intervals per document. Shape: every k-gram with its start
    * offset (positions from one codegen'd `transform(sequence)` over the
    * token array — no window over raw tokens), one groupBy to find
    * cross-doc grams, one equi-join back, then a per-doc interval merge
    * (gaps-and-islands window) that runs only over the HIT positions —
    * O(duplicated content), not O(corpus). At 100 TB the gram join keys
    * on `xxhash64(gram)` instead of the gram text (64-bit keys ride the
    * shuffle, text never does); the plain-text key here keeps the DuckDB
    * oracle replaying the identical strings.
    */
  def d16SubstringDedup(s: SparkSession, d: String, k: Int = 8): DataFrame =
    substringSpans(docsFloor(s, d), k)

  /** The d16 core over any (doc_id, text) corpus slice — p5 runs it on
    * curation survivors, so spans reflect duplication among what's KEPT.
    */
  def substringSpans(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = docs
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(
        col("doc_id"),
        posexplode(transform(
          sequence(lit(0), size(col("toks")) - k),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(k)))
        ))
      )
      .select(col("doc_id"), col("pos").cast("long").as("start"), col("col").as("g"))
    val dup = grams
      .groupBy("g")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2)
      .select("g")
    val hits = grams.join(dup, "g").select(col("doc_id"), col("start"), (col("start") + (k - 1)).as("e"))
    val w = Window.partitionBy("doc_id").orderBy("start")
    hits
      .withColumn("prev_e", max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("b", when(col("prev_e").isNull || col("start") > col("prev_e") + 1, 1L).otherwise(0L))
      .withColumn("island", sum(col("b")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(
        min("start").as("span_start"),
        max("e").as("span_end"),
        (max("e") - min("start") + 1).as("span_tokens")
      )
      .select("doc_id", "span_start", "span_end", "span_tokens")
      .orderBy("doc_id", "span_start")
  }

  /** The checkpointed pair set itself (no output sort) — d15 consumes
    * this directly so its GraphX edge scan doesn't pay d14's ORDER BY.
    */
  private def fuzzyPairsUnsorted(s: SparkSession, d: String, maxDist: Int = 40, window: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), substring(col("text"), 1, 60).as("head"))
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy("lang", "source").orderBy("head", "doc_id"))
      )
    val a = ranked.select(
      col("lang"), col("source"), col("doc_id").as("ia"), col("head").as("head_a"),
      explode(sequence(col("rn") + 1, col("rn") + window)).as("rn_b")
    )
    val b = ranked.select(
      col("lang"), col("source"), col("doc_id").as("ib"), col("head").as("head_b"),
      col("rn").as("rn_b")
    )
    a.join(b, Seq("lang", "source", "rn_b"))
      .withColumn("dist", levenshtein(col("head_a"), col("head_b")).cast("long"))
      .filter(col("dist") <= maxDist)
      // sort order is by head, not id — normalize each (unique) rank pair
      .select(
        least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"),
        col("dist")
      )
      .localCheckpoint()
  }

  /** d17: SEMANTIC dedup (the SemDeDup recipe, Abbas et al. 2023):
    * cluster the embedding space, compute pairwise cosine ONLY within
    * clusters, and drop every vector semantically close (cos ≥ τ) to a
    * lower-id cluster-mate — pair work is Σ(cluster²), never corpus²,
    * which is the entire reason SemDeDup scales where d5's exact
    * all-pairs cannot. Clustering here is one deterministic Lloyd
    * assignment step against label-seeded centroids (v4's component
    * means — k×dim values, broadcast): at 100 TB the centroids come
    * from the v7 IVF trainer and this operator is unchanged — the
    * assignment join, the within-cluster equi-join (no Cartesian node),
    * and the keep-lowest-id rule are the same plan at any k.
    * Cross-engine-exact: centroids rounded to 4 decimals (v4's
    * discipline), squared component distances quantized to
    * decimal(24,12) before the sum so the argmin is associativity-free,
    * ties broken by label; the verify cosine is the codegen'd
    * FloatVecDot double fold, bit-identical to list_dot_product.
    */
  def d17SemDedup(s: SparkSession, d: String, tau: Double = 0.4): DataFrame = {
    val m = semDedupMembers(s, d)
    val dup = semDedupDrops(m, tau)
    m.select(col("vec_id"), col("cluster"))
      .join(dup.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("is_dup").isNull.as("keep"))
      .orderBy("vec_id")
  }

  /** Cluster-assigned embedding rows (vec_id, cluster, embedding, nrm) —
    * the deterministic Lloyd assignment described on [[d17SemDedup]].
    */
  def semDedupMembers(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val comp = e
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("idx", "v")))
      .select(col("vec_id"), col("idx"), col("v").cast("double").as("v"))
    val cen = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("idx", "v")))
      .groupBy(col("label").as("c_label"), col("idx").as("c_idx"))
      .agg((round(avg(col("v").cast("double")), 4) + lit(0.0)).as("c"))
    val dist = comp
      .join(broadcast(cen), col("idx") === col("c_idx"))
      .withColumn("sq", round((col("v") - col("c")) * (col("v") - col("c")), 10).cast("decimal(24,12)"))
      .groupBy("vec_id", "c_label")
      .agg(sum("sq").as("dist"))
    val w = Window.partitionBy("vec_id").orderBy(col("dist"), col("c_label"))
    val assign = dist
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("c_label").cast("long").as("cluster"))
    e.select(
      col("vec_id"),
      col("embedding"),
      sqrt(GraftExpressions.dotF(col("embedding"), col("embedding"))).as("nrm")
    ).join(assign, "vec_id")
  }

  /** The drop half of SemDeDup over a (possibly filtered) member set:
    * every vec_id with cosine ≥ τ to a LOWER-id member of its cluster.
    */
  def semDedupDrops(members: DataFrame, tau: Double): DataFrame = {
    val a = members.select(col("vec_id").as("id_a"), col("cluster"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = members.select(col("vec_id").as("id_b"), col("cluster"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(GraftExpressions.dotF(col("ea"), col("eb")) / (col("na") * col("nb")) >= tau)
      .select(col("id_b").as("vec_id"))
      .distinct()
  }

  /** The raw-URL fixture expression over (doc_id, source) — path key
    * doc_id%60 vs the fixture's source=doc_id%20 ⇒ canonical groups of
    * stride 60; surface variant steps by ⌊doc_id/20⌋ so every group
    * mixes all four raw forms (a group member exists per variant).
    */
  private[graft] def rawUrlFixture(docId: Column, source: Column): Column = {
    val p = pmod(docId, lit(60)).cast("string")
    val host = concat(source, lit(".example.com"))
    val path = concat(lit("/page/"), p)
    val v = pmod(floor(docId / lit(20)), lit(4))
    when(v === 0, concat(lit("https://"), host, path))
      .when(v === 1, concat(lit("HTTPS://"), upper(host), path, lit("/")))
      .when(v === 2, concat(lit("https://www."), host, path, lit("?utm_source=feed&utm_campaign=x")))
      .otherwise(concat(lit("https://"), host, lit(":443"), path, lit("#sec-2")))
  }

  /** The general URL canonicalizer: fragment → tracking params →
    * dangling '&' → scheme/host case + www. + https default port →
    * trailing slash. Pure codegen'd regex columns, usable in batch
    * (d18/d21) and per-micro-batch (s24) alike.
    */
  private[graft] def canonicalizeUrl(rawUrl: Column): Column = {
    val noFrag = regexp_replace(rawUrl, "#.*$", "")
    val noUtm = regexp_replace(noFrag, "[?&]utm_[^&#]*", "")
    val fixQ = regexp_replace(noUtm, "^([^?]*)&", "$1?")
    val scheme = lower(regexp_extract(fixQ, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort = regexp_extract(fixQ, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    val rest = regexp_replace(fixQ, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    val hostLc = regexp_replace(lower(hostPort), "^www\\.", "")
    val hostNoPort = when(scheme === "https", regexp_replace(hostLc, ":443$", "")).otherwise(hostLc)
    val pathClean = regexp_replace(rest, "/$", "")
    concat(scheme, lit("://"), hostNoPort, pathClean)
  }

  /** (doc_id, n_chars, canonical_url) for the whole corpus — d18's raw
    * URL fixture run through the REAL canonicalizer. Shared by d18 and
    * the incremental-dedup frontier check (d21).
    */
  private def canonicalUrls(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        col("n_chars"),
        canonicalizeUrl(rawUrlFixture(col("doc_id"), col("source"))).as("canonical_url")
      )

  /** d18: URL-canonicalization dedup — the web-crawl pipeline stage that
    * collapses scheme/host case, `www.` prefixes, default ports,
    * tracking query params (`utm_*`), fragments, and trailing slashes
    * before keeping the best document per canonical URL. The raw URLs
    * are a deterministic in-plan fixture (documents carry no URL
    * column), spread over four surface variants per canonical target;
    * the canonicalizer itself is GENERAL string logic — regex over the
    * raw value, not variant-aware — and the DuckDB oracle predicts the
    * canonical form from the generating arithmetic, so any
    * normalization bug breaks the hash. Keep-best is a window over the
    * canonical key (high cardinality ⇒ well-spread partitions); one
    * shuffle end to end, scan-shaped otherwise.
    */
  def d18UrlDedup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val canon = canonicalUrls(s, d)
    val w = Window.partitionBy("canonical_url").orderBy(col("n_chars").desc, col("doc_id"))
    canon
      .withColumn("rn", row_number().over(w))
      .withColumn("n_dups", count(lit(1)).over(Window.partitionBy("canonical_url")))
      .withColumn("max_chars", max("n_chars").over(Window.partitionBy("canonical_url")))
      .filter(col("rn") === 1)
      .select(
        col("canonical_url"),
        col("doc_id").as("keep_id"),
        col("n_dups").cast("long").as("n_dups"),
        col("max_chars").cast("long").as("max_chars")
      )
      .orderBy("canonical_url")
  }

  /** d20: SOFT dedup — instead of dropping near-dup cluster members
    * (d7's hard apply), weight every document by 1/|cluster| so
    * downstream samplers see each near-dup cluster with the total mass
    * of exactly ONE document (the SlimPajama-style soft-dedup policy,
    * generalized from exact-hash groups to near-dup clusters). One
    * broadcast join of the corpus against the cluster-size map — the
    * map is bounded by near-dup membership, KB-scale next to the
    * corpus; singletons (absent from the map) keep weight 1. At 100 TB
    * this is the dedup policy that preserves corpus statistics while
    * removing duplication bias: same cluster machinery as d6, zero
    * extra shuffles beyond it.
    */
  def d20SoftDedup(s: SparkSession, d: String): DataFrame = {
    val clusters = clusterMap(s, d)
    val sizes = clusters
      .groupBy("canonical_id")
      .agg(count(lit(1)).as("cs"))
    val weights = clusters.join(sizes, "canonical_id").select(col("doc_id"), col("cs"))
    Tables.documents(s, d)
      .join(broadcast(weights), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("cs"), lit(1L)).cast("int").as("cluster_size"),
        round(lit(1.0) / coalesce(col("cs"), lit(1L)), 6).as("weight")
      )
      .orderBy("doc_id")
  }

  /** d21's shared pipeline front half: midpoint cut, (reference, new)
    * halves, reference bloom. ONE definition consumed by both the
    * oracle-gated query and the test probe, so an edit to the cut
    * arithmetic or bloom parameters cannot silently make the probe
    * measure a different query than the one being pinned (r9 ADVICE).
    * The sketch is the only driver-side state: KB–MB at any corpus
    * scale (might_contain requires a CONSTANT filter — the same
    * O(model) collect discipline as the IVF centroids / PQ codebooks).
    */
  private def d21Halves(s: SparkSession, d: String): (DataFrame, DataFrame, Array[Byte]) = {
    val canon = canonicalUrls(s, d)
    val cut = canon.agg(
      floor((max("doc_id") + lit(1)).cast("double") / 2).cast("long").as("cut")
    )
    val withCut = canon.crossJoin(broadcast(cut))
    val old = withCut.filter(col("doc_id") < col("cut"))
    val nw = withCut.filter(col("doc_id") >= col("cut"))
    val bloomBytes = old
      .agg(GraftExpressions.bloomAgg(xxhash64(col("canonical_url")), 100000L, 1L << 20).as("bf"))
      .head()
      .getAs[Array[Byte]]("bf")
    (old, nw, bloomBytes)
  }

  /** d21: INCREMENTAL dedup against an already-indexed reference corpus —
    * the crawl-frontier check ("have we seen this URL before?") that at
    * 100 TB must NOT re-join the whole historical corpus per batch. The
    * reference half (doc_id below the midpoint — "everything ingested so
    * far") is folded into ONE bloom filter with Spark's own
    * BloomFilterAggregate (a mergeable KB–MB sketch, one aggregate scan,
    * broadcast to the probe side); new arrivals probe the bloom first —
    * no false negatives, so misses (the overwhelming majority of a real
    * frontier) short-circuit without touching the index — and only
    * bloom-admitted candidates reach the exact confirm join that kills
    * false positives and attaches the matched reference doc. The answer
    * is therefore EXACT (the DuckDB oracle is the plain join) while the
    * expensive join runs over O(dups + fp) rows instead of O(new);
    * ScalaTest pins the prefilter admitting every true dup and its
    * false-positive rate. Keys are canonical URLs (d18's canonicalizer)
    * because the fixture corpus has no exact-text dups across halves.
    */
  def d21IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val (old, nw, bloomBytes) = d21Halves(s, d)
    val cand =
      nw.filter(GraftExpressions.bloomMightContain(lit(bloomBytes), xxhash64(col("canonical_url"))))
    val refs = old.groupBy("canonical_url").agg(min("doc_id").as("ref_doc_id"))
    cand
      .join(refs, Seq("canonical_url"))
      .select(col("doc_id"), col("canonical_url"), col("ref_doc_id"))
      .orderBy("doc_id")
  }

  /** Bloom-admitted candidate count for [[d21IncrementalDedup]] (test
    * access: true dups must all pass; false-positive overhead bounded).
    */
  private[graft] def d21BloomAdmitted(s: SparkSession, d: String): Long = {
    val (_, nw, bloomBytes) = d21Halves(s, d)
    nw.filter(GraftExpressions.bloomMightContain(lit(bloomBytes), xxhash64(col("canonical_url"))))
      .count()
  }

  /** d22: MINHASH FIDELITY AUDIT — for every verified near-dup pair
    * (d2's τ ≥ 0.5 set), the k-component MinHash ESTIMATE of Jaccard
    * next to the exact value and the absolute error: the
    * sketch-accuracy audit (v21's SQ8-distortion discipline applied to
    * MinHash) that tells a pipeline whether its banding threshold can
    * be trusted before it drops the verify stage at scale. The
    * signature here is the PORTABLE md5 variant (d3's trick: 60-bit
    * integer from the first 15 md5 hex digits — positive in a signed
    * long, so MIN agrees with DuckDB's UBIGINT min bit-for-bit), which
    * lets the oracle replay every signature component exactly; the
    * xxhash64 [[graft.plans.MinHashSig]] remains the zero-allocation
    * scale variant d2 ships. One signature pass over the corpus, one
    * keyed join onto the verified pairs — the audit adds no pair space.
    */
  def d22MinhashFidelity(s: SparkSession, d: String, k: Int = 16): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val n2 = greatest(size(col("tk")) - 2, lit(0))
    val grams = zip_with(
      slice(col("tk"), lit(1), n2),
      zip_with(
        slice(col("tk"), lit(2), n2),
        slice(col("tk"), lit(3), n2),
        (b, c) => concat(b, lit(" "), c)
      ),
      (a, bc) => concat(a, lit(" "), bc)
    )
    val sigs = docsFloor(s, d)
      .select(col("doc_id"), TF.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), array_distinct(grams).as("shs"))
      .select(
        col("doc_id"),
        transform(
          sequence(lit(0), lit(k - 1)),
          ki =>
            array_min(
              transform(
                col("shs"),
                t =>
                  conv(substring(md5(concat(t, lit("#"), ki.cast("string"))), 1, 15), 16, 10)
                    .cast("long")
              )
            )
        ).as("sig")
      )
    d2MinhashLsh(s, d)
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn(
        "mh_est",
        round(
          size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
            .cast("double") / k,
          4
        )
      )
      .select(
        col("id_a"),
        col("id_b"),
        col("jaccard"),
        col("mh_est"),
        round(abs(col("mh_est") - col("jaccard")), 4).as("abs_err")
      )
      .orderBy("id_a", "id_b")
  }

  /** d24: CLUSTER-PURITY AUDIT — do near-dup clusters respect metadata
    * boundaries? Per d6 cluster: member count, distinct languages and
    * sources, and language purity (dominant-language share). Mixed-lang
    * clusters flag either translation pairs (legit near-dups a
    * lang-partitioned dedup would MISS) or shingle-collision noise —
    * the audit that decides whether to shard the dedup by language at
    * 100 TB (sharding cuts the pair space by ~langs² but forfeits
    * cross-lang dups; this table is the evidence either way). Rides the
    * checkpointed cluster map; two keyed aggregates over cluster-sized data.
    */
  def d24ClusterPurity(s: SparkSession, d: String): DataFrame = {
    val j = clusterMap(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source")), "doc_id")
    val agg = j
      .groupBy("canonical_id")
      .agg(
        count(lit(1)).as("n_members"),
        countDistinct("lang").as("n_langs"),
        countDistinct("source").as("n_sources")
      )
    val dom = j
      .groupBy("canonical_id", "lang")
      .agg(count(lit(1)).as("cl_n"))
      .groupBy("canonical_id")
      .agg(max("cl_n").as("dom_n"))
    agg
      .join(dom, "canonical_id")
      .select(
        col("canonical_id"),
        col("n_members"),
        col("n_langs"),
        col("n_sources"),
        round(col("dom_n").cast("double") / col("n_members"), 4).as("lang_purity")
      )
      .orderBy("canonical_id")
  }

  /** d23: LSH BAND-PLAN AUDIT — the tuning table an operator reads
    * before picking (bands b × rows r) for a 100 TB MinHash dedup run:
    * for every factorization of a 16-hash signature, the expected
    * collision probability 1−(1−j^r)^b evaluated on the EXACT Jaccard
    * of the ground-truth pair domain (d4's capped form), reported as
    * expected candidate volume, recall over true dups (j ≥ 0.5), and
    * the candidate:true precision proxy. All powers are EXPLICIT
    * repeated squarings (r, b ∈ {1,2,4,8,16}) — exact IEEE multiplies
    * the oracle replays bit-identically, no pow() to disagree about.
    * The pair scan is the audit's price and is capped like d4; the
    * output is 4 rows. At scale this runs on a SAMPLE and its numbers
    * are what justify the chosen banding (d22 justifies the signature;
    * d23 the banding).
    */
  def d23LshPlan(s: SparkSession, d: String, cap: Int = 1000): DataFrame = {
    val sh = shingledCapped(s, d, cap)
    val l = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val r = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val pairs = withJaccard(l.crossJoin(r).filter(col("id_a") < col("id_b")))
      .filter(col("jaccard") >= 0.1)
      .select(col("jaccard").as("j"), (col("jaccard") >= 0.5).as("is_true"))
    // explicit repeated squaring: jr = j^r, then p = 1 - (1-jr)^b
    def pow2(c: Column, k: Int): Column = (1 to k).foldLeft(c)((acc, _) => acc * acc)
    def pCollide(r: Int, b: Int): Column = {
      val jr = r match {
        case 1 => col("j")
        case 2 => pow2(col("j"), 1)
        case 4 => pow2(col("j"), 2)
        case 8 => pow2(col("j"), 3)
      }
      val t = lit(1.0) - jr
      val tb = b match {
        case 2  => pow2(t, 1)
        case 4  => pow2(t, 2)
        case 8  => pow2(t, 3)
        case 16 => pow2(t, 4)
      }
      lit(1.0) - tb
    }
    val cfgs = Seq((16, 1), (8, 2), (4, 4), (2, 8)) // (bands, rows), b·r = 16
    // per-pair probabilities quantized to decimal(12,9) BEFORE the fold:
    // decimal sums are order-independent, float sums are not (the
    // cross-row-double-fold discipline)
    def q9(c: Column): Column = round(c, 9).cast("decimal(12,9)")
    val aggs = cfgs.flatMap { case (b, r) =>
      Seq(
        sum(q9(pCollide(r, b))).as(s"s_${b}x$r"),
        sum(when(col("is_true"), q9(pCollide(r, b))).otherwise(lit(0).cast("decimal(12,9)")))
          .as(s"st_${b}x$r")
      )
    }
    val base = pairs.agg(
      count(lit(1)).as("n_pairs"),
      (sum(when(col("is_true"), 1L).otherwise(0L)).as("n_true") +: aggs): _*
    )
    val stackExpr = cfgs
      .map { case (b, r) => s"'${b}x$r', s_${b}x$r, st_${b}x$r" }
      .mkString(s"stack(${cfgs.size}, ", ", ", ") as (config, exp_cands_raw, exp_true_raw)")
    base
      .selectExpr("n_pairs", "n_true", stackExpr)
      .select(
        col("config"),
        col("n_pairs"),
        col("n_true"),
        round(col("exp_cands_raw").cast("double"), 4).as("exp_candidates"),
        round(col("exp_true_raw").cast("double") / col("n_true"), 6).as("recall"),
        round(col("exp_true_raw").cast("double") / col("exp_cands_raw").cast("double"), 6)
          .as("precision_proxy")
      )
      .orderBy("config")
  }

  /** d25 (round 14): DUP RATE BY SOURCE — the per-domain duplication
    * telemetry a crawl operator triages with ("which feeds are
    * re-serving content?"): docs fingerprinted by their 120-char text
    * prefix (the template-boilerplate grain — the corpus has no exact
    * full-text dups, but templated heads collide), the canonical per
    * fingerprint is the global min doc_id (d1's keeper rule), and every
    * later doc counts as a dup against ITS source. Scale: one keyed
    * aggregate at fingerprint grain + one shuffle join back at doc
    * grain + a source-grain report — no pair space anywhere, the d1
    * shape with a per-source ledger on top.
    */
  def d25SourceDupRate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), md5(substring(col("text"), 1, 120)).as("fp"))
    val keeper = docs.groupBy("fp").agg(min("doc_id").as("keeper_id"))
    docs
      .join(keeper, "fp")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("keeper_id"), 1L).otherwise(0L)).as("n_dups")
      )
      .select(
        col("source"),
        col("n_docs"),
        col("n_dups"),
        round(col("n_dups").cast("double") / col("n_docs"), 6).as("dup_rate")
      )
      .orderBy("source")
  }

  /** d26 (round 14): CROSS-SOURCE DUP MATRIX — which domain PAIRS
    * mirror each other's content (syndication detection, the decision
    * input for crawl-list pruning): doc pairs sharing a 120-char-prefix
    * fingerprint, counted per unordered source pair. The join is
    * fingerprint-EQUI (pair space = Σ per-fingerprint group², bounded
    * by the dup rate — never corpus²), sources ordered
    * lexicographically inside the pair so (a,b) and (b,a) collapse.
    */
  def d26CrossSourceDups(s: SparkSession, d: String): DataFrame = {
    val f = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), md5(substring(col("text"), 1, 120)).as("fp"))
    val a = f.select(col("fp"), col("doc_id").as("a_id"), col("source").as("a_src"))
    val b = f.select(col("fp"), col("doc_id").as("b_id"), col("source").as("b_src"))
    a.join(b, Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(
        least(col("a_src"), col("b_src")).as("source_a"),
        greatest(col("a_src"), col("b_src")).as("source_b")
      )
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** d27 (round 14): DUP-CLUSTER SIZE HISTOGRAM at the prefix-
    * fingerprint grain — how deep the duplication runs (d13 profiles
    * the MinHash clusters; this is the exact-prefix twin): cluster size
    * → number of clusters, docs covered, and the share of the corpus
    * sitting in clusters of that depth. Two keyed aggregates, exact
    * integers, one division per report row.
    */
  def d27ClusterSizeHist(s: SparkSession, d: String): DataFrame = {
    val sizes = Tables.documents(s, d)
      .select(md5(substring(col("text"), 1, 120)).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("sz"))
    val tot = sizes.agg(sum("sz").as("n_docs"))
    sizes
      .groupBy("sz")
      .agg(count(lit(1)).as("n_clusters"))
      .crossJoin(broadcast(tot))
      .select(
        col("sz").as("cluster_size"),
        col("n_clusters"),
        (col("sz") * col("n_clusters")).as("docs_covered"),
        round((col("sz") * col("n_clusters")).cast("double") / col("n_docs"), 6).as("corpus_share")
      )
      .orderBy("cluster_size")
  }
}
