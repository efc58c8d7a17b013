package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.functions.{VectorFunctions => VF}

/** §2.5 similarity search over the `embeddings` table.
  *
  * [[v1KnnBrute]] is the correctness baseline (small query set × corpus,
  * query side broadcast). [[v2KnnLsh]] is the 100 TB path: sign-bit LSH
  * buckets both sides so candidate generation is an equi-join on the
  * bucket key — per-bucket work instead of a full cross product.
  */
object Similarity {

  /** Brute-force cosine top-k for a small query set (vec_id < nQueries).
    * The query side is broadcast — the corpus is never shuffled; ranking
    * is a per-query window (partial top-k per partition would be the next
    * step at extreme k×n, see SURVEY.md §5).
    */
  def v1KnnBrute(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = Tables
      .embeddings(s, d)
      .select(col("vec_id"), col("embedding"), VF.norm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), col("c_id"))
    c.join(broadcast(q), col("c_id") =!= col("q_id"))
      .withColumn("cos", VF.dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("c_id"), round(col("cos"), 4).as("cos"))
      .orderBy("q_id", "rn")
  }

  /** Multi-table LSH approximate top-k: L hash tables of p sign-bit planes
    * each; candidates are the union over tables of same-bucket vectors
    * (equi-join on (table, bucket), then distinct pairs). Amplification is
    * the standard recall/cost dial: candidates ≈ L·n/2^p per query instead
    * of n. On clustered corpora recall is high; on uniform-random vectors
    * (this synthetic set) exact-top-k recall is inherently limited —
    * measured against v1 in tests, structure verified either way.
    */
  def v2KnnLsh(
      s: SparkSession,
      d: String,
      nQueries: Int = 10,
      k: Int = 5,
      nTables: Int = 8,
      planesPerTable: Int = 4,
      multiprobe: Boolean = true
  ): DataFrame = {
    val allPlanes = VF.randomPlanes(nTables * planesPerTable, 64).grouped(planesPerTable).toSeq
    val bucketCols = allPlanes.zipWithIndex.map { case (planes, t) =>
      struct(lit(t).as("t"), VF.lshBucket(col("embedding"), planes).as("b")).as(s"bk$t")
    }
    // multiprobe: the QUERY side also probes every bucket at hamming
    // distance 1 (vectors near a hyperplane land on either side) — the
    // classic recall boost that costs only query-side fan-out, never a
    // bigger corpus index
    val probeCols = allPlanes.zipWithIndex.flatMap { case (planes, t) =>
      val b = VF.lshBucket(col("embedding"), planes)
      val self = struct(lit(t).as("t"), b.as("b"))
      val flips =
        if (multiprobe)
          (0 until planesPerTable).map(j => struct(lit(t).as("t"), b.bitwiseXOR(lit(1L << j)).as("b")))
        else Seq.empty
      self +: flips
    }
    val e = Tables
      .embeddings(s, d)
      .select(col("vec_id"), col("embedding"), VF.norm(col("embedding")).as("nrm"))
    // candidate generation carries IDS ONLY (the d2 trick): the
    // 64-float arrays never ride the bucket join or the distinct —
    // embeddings are joined back just for the deduped candidate pairs
    val cIdx = e
      .withColumn("tb", explode(array(bucketCols: _*)))
      .select(col("vec_id").as("c_id"), col("tb"))
    val qIdx = e.filter(col("vec_id") < nQueries)
      .withColumn("tb", explode(array(probeCols: _*)))
      .select(col("vec_id").as("q_id"), col("tb"))
    val candidates = cIdx
      .join(broadcast(qIdx), Seq("tb"))
      .filter(col("c_id") =!= col("q_id"))
      .select("q_id", "c_id")
      .dropDuplicates("q_id", "c_id") // union across tables
    val cEmb = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val qEmb = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), col("c_id"))
    candidates
      .join(cEmb, "c_id")
      .join(broadcast(qEmb), "q_id")
      .withColumn("cos", VF.dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("c_id"), round(col("cos"), 4).as("cos"))
      .orderBy("q_id", "rn")
  }

  /** Exact k-NN GRAPH (every vector's top-k neighbors — the corpus=query
    * shape where v1's broadcast-the-queries plan breaks), ordered by
    * (q_id, cos desc, c_id). The edges come from [[knnEdges]]; the edge
    * table is localCheckpoint'ed so consumers that read it several times
    * (v9's iterations, v16's self-joins, v30's beam rounds) don't re-run
    * the block join. Exact (no ANN recall gap), so DuckDB's brute-force
    * top-k is the oracle.
    */
  def v5KnnGraph(s: SparkSession, d: String, k: Int = 3, nBlocks: Int = 8): DataFrame =
    knnEdges(s, d, k, nBlocks)
      .localCheckpoint()
      .orderBy(col("q_id"), desc("cos"), col("c_id"))

  /** The directed kNN edges `(q_id, c_id, cos)`, in no set order: every
    * vector's top-k by (cos desc, c_id asc), cos rounded to 4 places. Pair cosines
    * come from the same balanced block self-join as Dedup.d5b (equi-join
    * only, each unordered pair computed ONCE); one explode emits both
    * directions of a pair from that single row, and per-vector ranking is
    * the custom bounded-heap [[graft.plans.TopK.topKPerKey]] operator —
    * ≤ k rows per (vector, partition) ride the ranking exchange instead of
    * a full per-vector sort. The embeddings scan is floored by
    * [[graft.sources.Tables.parallelized]]: a single-row-group file plans
    * as one scan task, which would leave the block join on fewer cores
    * than the session has.
    */
  private def knnEdges(s: SparkSession, d: String, k: Int, nBlocks: Int = 8): DataFrame = {
    import graft.plans.GraftExpressions
    val e = Tables
      .parallelized(Tables.embeddings(s, d), col("vec_id"))
      .select(
        col("vec_id"),
        col("embedding"),
        VF.norm(col("embedding")).as("nrm"),
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
    val directed = l
      .join(r, Seq("k1", "k2"))
      .filter((col("k1") === col("k2") && col("id_a") < col("id_b")) || col("k1") < col("k2"))
      .select(
        col("id_a"),
        col("id_b"),
        (GraftExpressions.dotF(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b"))).as("cos")
      )
      .select(
        explode(
          array(
            struct(col("id_a").as("q_id"), col("id_b").as("c_id"), col("cos")),
            struct(col("id_b").as("q_id"), col("id_a").as("c_id"), col("cos"))
          )
        ).as("e")
      )
      .select("e.*")
    graft.plans.TopK
      .topKPerKey(directed, Seq("q_id"), "cos", "c_id", k)
      .select(col("q_id"), col("c_id"), round(col("cos"), 4).as("cos"))
  }

  /** Per-label centroid components: elementwise mean via posexplode +
    * (label, idx) aggregation — vector aggregation without assembling
    * arrays on the reduce side (rows stream through partial agg).
    */
  def v4Centroids(s: SparkSession, d: String): DataFrame =
    Tables
      .embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("idx", "v")))
      .groupBy("label", "idx")
      // + 0.0 normalizes IEEE negative zero (an avg rounding to -0.0
      // reprs differently across engines); the oracle does the same
      .agg((round(avg("v"), 4) + lit(0.0)).as("c"))
      .orderBy("label", "idx")

  /** Label-centroid cosine similarity matrix: which labels' embedding
    * clusters overlap — the label-dedup / taxonomy-collapse signal.
    * Centroids via the posexplode elementwise mean (v4's shape); the
    * pairwise stage joins label-vectors on the COMPONENT index (64 rows
    * per label — a tiny shuffle), never materializing arrays.
    */
  def v6CentroidSim(s: SparkSession, d: String): DataFrame = {
    val cen = Tables
      .embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("idx", "v")))
      .groupBy("label", "idx")
      .agg(avg("v").as("c"))
    val nrm = cen.groupBy("label").agg(sqrt(sum(col("c") * col("c"))).as("n"))
    val dot = cen
      .as("a")
      .join(cen.as("b"), col("a.idx") === col("b.idx") && col("a.label") < col("b.label"))
      .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
      .agg(sum(col("a.c") * col("b.c")).as("d"))
    dot
      .join(nrm.select(col("label").as("label_a"), col("n").as("na")), "label_a")
      .join(nrm.select(col("label").as("label_b"), col("n").as("nb")), "label_b")
      .select(col("label_a"), col("label_b"), round(col("d") / (col("na") * col("nb")), 4).as("cos"))
      .orderBy("label_a", "label_b")
  }

  /** IVF (inverted-file) approximate nearest neighbor — the other classic
    * ANN scale path next to LSH (v2): partition the corpus into `nLists`
    * Voronoi cells around trained coarse centroids, then answer a query
    * by exact-reranking ONLY the cells whose centroids are nearest
    * (`nProbe` of `nLists` — the recall/cost dial).
    *
    * Training is Lloyd's algorithm with deterministic seeding (corpus
    * vectors ranked by `xxhash64(vec_id)`). Each iteration is one
    * broadcast join (tiny centroid table against the corpus — the corpus
    * never shuffles) + one `posexplode` component aggregation whose
    * map-side partial combine reduces the shuffle to
    * O(partitions × nLists × dim). The trained model — `nLists × dim`
    * floats, kilobytes — is collected to the driver between iterations
    * exactly like any ML model fit; the DATA path stays distributed.
    *
    * Search: per-query centroid scores are a broadcast join; the top
    * `nProbe` cells per query come from the bounded-heap TopKPerKey
    * operator; candidates are the equi-join of (query, cell) against the
    * cell assignment — IDs only, embeddings join back for the exact
    * cosine rerank of ~`nProbe/nLists` of the corpus.
    *
    * With `nProbe = nLists` the search is exhaustive and provably equals
    * [[v1KnnBrute]] (asserted in ScalaTest); the recall of the default
    * 4/16 probe is measured there too.
    */
  /** The IVF index shared by v7 and the v14 composition: deterministic
    * Lloyd training (hash-seeded, 6-decimal-rounded centroid updates)
    * and the one-cell-per-vector inverted file. Returns (corpus with
    * norms, cells, centroids).
    */
  private def ivfIndex(
      s: SparkSession,
      d: String,
      nLists: Int,
      lloydIters: Int
  ): (DataFrame, DataFrame, DataFrame) = {
    val e = Tables
      .embeddings(s, d)
      .select(col("vec_id"), col("embedding"), VF.norm(col("embedding")).as("nrm"))

    // deterministic seeds: top-nLists corpus vectors by id hash
    def centroidDf(rows: Seq[(Int, Seq[Double])]): DataFrame = {
      import s.implicits._
      rows.toDF("list_id", "centroid")
    }
    def seedCentroids(): DataFrame = centroidDf(
      e.select(col("vec_id"), col("embedding"))
        .withColumn("rk", xxhash64(col("vec_id")))
        .orderBy("rk")
        .limit(nLists)
        .collect()
        .zipWithIndex
        .map { case (r, i) => i -> r.getSeq[Float](1).map(_.toDouble) }
        .toSeq
    )

    // nearest cell per corpus vector: broadcast the centroid table, one
    // cosine per (vector, cell), keep the argmax — max_by's partial
    // aggregation reduces map-side, so the shuffle carries one row per
    // vector per partition and the embedding array never rides it
    def assign(cen: DataFrame): DataFrame =
      e.join(broadcast(cen))
        .select(
          col("vec_id"),
          col("list_id"),
          (VF.dot(col("embedding"), col("centroid").cast("array<float>")) / col("nrm")).as("score")
        )
        .groupBy("vec_id")
        .agg(max_by(col("list_id"), struct(col("score"), col("list_id"))).as("list_id"))

    // deterministic Lloyd training of the model-sized centroid table
    // (per-iteration driver folds — the codebook-is-an-offline-artifact
    // shape, same as v10's PQ)
    var centroids = seedCentroids()
    for (_ <- 1 to lloydIters) {
      val updated = assign(centroids)
        .join(e, "vec_id")
        .select(col("list_id"), posexplode(col("embedding")).as(Seq("idx", "v")))
        .groupBy("list_id", "idx")
        .agg(avg("v").as("c"))
        .orderBy("list_id", "idx")
        .collect()
        .groupBy(_.getInt(0))
        .toSeq
        // rounded: the distributed avg's merge order is nondeterministic,
        // so raw last-ulp jitter could flip a boundary assignment between
        // otherwise-identical runs; 6 decimals is far above fp noise and
        // far below any real cell boundary
        .map { case (l, rows) =>
          l -> rows.sortBy(_.getInt(1)).map(r => math.rint(r.getDouble(2) * 1e6) / 1e6).toSeq
        }
      // a cell can go empty mid-training; keep its previous centroid row
      val updatedMap = updated.toMap
      val prev = centroids.collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
      centroids = centroidDf(prev.map { case (l, c) => l -> updatedMap.getOrElse(l, c) }.toSeq)
    }
    (e, assign(centroids), centroids) // cells = (vec_id, list_id): the inverted file
  }

  def v7KnnIvf(
      s: SparkSession,
      d: String,
      nQueries: Int = 10,
      k: Int = 5,
      nLists: Int = 16,
      nProbe: Int = 4,
      lloydIters: Int = 2
  ): DataFrame = {
    val (e, cells, centroids) = ivfIndex(s, d, nLists, lloydIters)
    val q = e.filter(col("vec_id") < nQueries)
    // per-query nProbe nearest cells via the bounded-heap top-k operator
    val qScores = q
      .join(broadcast(centroids))
      .select(
        col("vec_id").as("q_id"),
        col("list_id"),
        (VF.dot(col("embedding"), col("centroid").cast("array<float>")) / col("nrm")).as("score")
      )
    val probes = graft.plans.TopK
      .topKPerKey(qScores, Seq("q_id"), "score", "list_id", nProbe)
      .select(col("q_id"), col("list_id"))
    val candidates = cells
      .join(broadcast(probes), "list_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id")) // each vector lives in ONE cell: no dedup needed
    val cEmb = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val qEmb = q.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), col("c_id"))
    candidates
      .join(cEmb, "c_id")
      .join(broadcast(qEmb), "q_id")
      .withColumn("cos", VF.dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("c_id"), round(col("cos"), 4).as("cos"))
      .orderBy("q_id", "rn")
  }

  /** v14: the PRODUCTION ANN stack — IVF + SQ8 + exact rerank composed:
    * v7's inverted file restricts the search to `nProbe` lists, v13's
    * int8 quantized-cosine kernel ranks ONLY those candidates (4× less
    * memory bandwidth on the scan that dominates at 100 TB), and full
    * precision touches just `shortlist` rows per query. Registered at
    * its provably-EXACT configuration (`nProbe = nLists`,
    * `shortlist = corpus` ⇒ identical to v1 — the v2/v7/v10 exact-twin
    * discipline), so the composed three-stage pipeline is driver
    * hash-gated; the production configuration's recall is
    * ScalaTest-bounded against v1.
    */
  def v14KnnIvfSq8(
      s: SparkSession,
      d: String,
      nQueries: Int = 10,
      k: Int = 5,
      nLists: Int = 16,
      nProbe: Int = 16,
      lloydIters: Int = 2,
      shortlist: Int = Int.MaxValue
  ): DataFrame = {
    val (e, cells, centroids) = ivfIndex(s, d, nLists, lloydIters)
    val qz = e
      .withColumn(
        "mx",
        greatest(array_max(transform(col("embedding"), x => abs(x.cast("double")))), lit(1e-30))
      )
      .withColumn(
        "q8",
        transform(
          col("embedding"),
          x => floor(x.cast("double") * (lit(127.0) / col("mx")) + lit(0.5)).cast("float")
        )
      )
      .select(col("vec_id"), col("embedding"), col("nrm"), col("q8"))
    val q = qz.filter(col("vec_id") < nQueries)
    val qScores = q
      .join(broadcast(centroids))
      .select(
        col("vec_id").as("q_id"),
        col("list_id"),
        (VF.dot(col("embedding"), col("centroid").cast("array<float>")) / col("nrm")).as("score")
      )
    val probes = graft.plans.TopK
      .topKPerKey(qScores, Seq("q_id"), "score", "list_id", nProbe)
      .select(col("q_id"), col("list_id"))
    val candidates = cells
      .join(broadcast(probes), "list_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"))
    val sw = Window.partitionBy("q_id").orderBy(desc("qdot"), col("c_id"))
    val shortlisted = candidates
      .join(
        qz.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"), col("q8").as("c_q8")),
        "c_id"
      )
      .join(
        broadcast(q.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"), col("q8").as("q_q8"))),
        "q_id"
      )
      .withColumn(
        "qdot",
        VF.dot(col("q_q8"), col("c_q8")) / (VF.norm(col("q_q8")) * VF.norm(col("c_q8")))
      )
      .withColumn("srn", row_number().over(sw))
      .filter(col("srn") <= shortlist)
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), col("c_id"))
    shortlisted
      .withColumn("cos", VF.dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("c_id"), round(col("cos"), 4).as("cos"))
      .orderBy("q_id", "rn")
  }

  /** Vector column statistics (dims, norms, label aggregates). */
  def v3VectorStats(s: SparkSession, d: String): DataFrame =
    Tables
      .embeddings(s, d)
      .select(col("label"), size(col("embedding")).as("dim"), VF.norm(col("embedding")).as("nrm"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n"),
        min("dim").as("min_dim"),
        max("dim").as("max_dim"),
        round(avg("nrm"), 4).as("avg_norm"),
        round(min("nrm"), 4).as("min_norm"),
        round(max("nrm"), 4).as("max_norm")
      )
      .orderBy("label")

  /** v8: radius (range) similarity search — ALL corpus vectors within
    * cosine ≥ tau of each query, the retrieval mode dedup/recall audits
    * need where top-k truncates. Every (query, corpus-block) pair is an
    * equi-join row on the block key: queries replicate across the block
    * ids (tiny side, exploded), the corpus hashes once and never
    * replicates — uniform tasks, no BroadcastNestedLoopJoin node, and
    * block count scales with executors at 100 TB.
    */
  def v8RangeSearch(s: SparkSession, d: String, tau: Double = 0.4, nBlocks: Int = 16): DataFrame = {
    import graft.plans.GraftExpressions
    val e = Tables
      .embeddings(s, d)
      .select(col("vec_id"), col("embedding"), VF.norm(col("embedding")).as("nrm"))
    val q = e
      .filter(pmod(col("vec_id"), lit(20)) === 0)
      .select(
        col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"),
        explode(sequence(lit(0), lit(nBlocks - 1))).as("blk")
      )
    val c = e
      .filter(pmod(col("vec_id"), lit(20)) =!= 0)
      .select(
        col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"),
        pmod(xxhash64(col("vec_id")), lit(nBlocks)).cast("int").as("blk")
      )
    q.join(c, "blk")
      .select(
        col("q_id"),
        col("c_id"),
        (GraftExpressions.dotF(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm"))).as("cos")
      )
      .filter(col("cos") >= tau)
      .select(col("q_id"), col("c_id"), round(col("cos"), 4).as("cos"))
      .orderBy("q_id", "c_id")
  }

  /** PageRank centrality over the exact kNN similarity graph ([[v5KnnGraph]],
    * k=3) — the "representative documents" signal for coreset selection:
    * vectors that many near neighbors point AT rank high. Five
    * power-iteration steps at damping 0.85; every step is one equi-join
    * of the rank vector to the edge list plus one keyed partial-agg sum —
    * the textbook distributed PR shape (GraphX's Pregel runs the same
    * exchanges). The edge list is checkpointed once so the five
    * iterations don't replay pair generation; no dangling mass (every
    * node has out-degree k). Output is the scale-free NORMALIZED rank
    * (pr × N, corpus mean = 1.0) so the 4dp rounding is meaningful at any
    * corpus size. Oracle: the same five unrolled iterations in SQL.
    */
  def v9PageRank(s: SparkSession, d: String, iters: Int = 5): DataFrame = {
    // out-degree rides the edge list (derived, not assumed): with v5's
    // default k every node's odeg is k, but the operator no longer
    // silently couples to that constant — round-5 VERDICT item 5
    val edges = v5KnnGraph(s, d)
      .select(col("q_id").as("src"), col("c_id").as("dst"))
      .withColumn("odeg", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("src")).cast("double"))
      .localCheckpoint()
    val nodes = edges.select(col("src").as("id")).distinct()
    val nDf = broadcast(nodes.agg(count(lit(1)).cast("double").as("nn")))
    var pr = nodes.crossJoin(nDf).select(col("id"), (lit(1.0) / col("nn")).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(pr, col("src") === col("id"))
        .groupBy("dst")
        .agg(sum(col("pr") / col("odeg")).as("cin"))
      pr = nodes
        .crossJoin(nDf)
        .join(contrib, col("id") === col("dst"), "left")
        .select(
          col("id"),
          (lit(0.15) / col("nn") + lit(0.85) * coalesce(col("cin"), lit(0.0))).as("pr")
        )
    }
    pr.crossJoin(nDf)
      .select(col("id").as("vec_id"), round(col("pr") * col("nn"), 4).as("rank_norm"))
      .orderBy("vec_id")
  }

  /** v10: product-quantization ANN — the memory-bound scale path the IVF
    * (v7) and LSH (v2) variants don't cover: the corpus rides the ADC
    * scan as M one-byte codes per vector (64 bits here vs 2 Kb of raw
    * floats — 32× compression), so a 100 TB embedding table scans as
    * ~3 TB of codes and the raw vectors are touched only for the final
    * shortlist re-rank.
    *
    * Vectors are L2-normalized so min-L2² ≡ max-cosine, then split into
    * M subspaces; each subspace gets a k-means codebook (deterministic
    * hash-ordered seeds + fixed Lloyd rounds, centroids rounded to 6
    * decimals — the v7 determinism discipline). ADC: per query, the
    * M×k table of subspace distance contributions broadcasts, the code
    * table equi-joins it on (sub, code), and one keyed sum ranks
    * candidates; the top-R shortlist re-ranks by exact cosine.
    * Approximate → rows-only driver check; ScalaTest gates recall@k
    * against v1's exact answer.
    *
    * Measured shape at sf0.1 (n=2000, m=8, k=16, 10 queries,
    * shortlist=50): the ADC phase touches 16k code rows (8 B/vector vs
    * 256 B of floats — the 32× compression), a 1,280-row broadcast ADC
    * table, 160k codegen'd contribution rows into one keyed sum, and
    * exactly 500 full-precision re-ranks (50/query = 2.5% of the
    * corpus). Steady sf0.1 wall time is dominated by the fixed-cost
    * codebook training (2 Lloyd rounds with a model-sized collect
    * each), not the ADC scan — at 100 TB the codebook is trained once
    * on a sample and the scan term is the only one that grows.
    */
  def v10KnnPq(
      s: SparkSession,
      d: String,
      nQueries: Int = 10,
      k: Int = 5,
      m: Int = 8, // subspaces
      codes: Int = 16, // centroids per subspace
      lloydIters: Int = 2,
      shortlist: Int = 50
  ): DataFrame = {
    val dim = 64
    val subDim = dim / m
    val e = Tables
      .embeddings(s, d)
      .select(col("vec_id"), col("embedding"), VF.norm(col("embedding")).as("nrm"))
    // normalized subvectors: (vec_id, sub, sv: array<double>)
    val subs = e
      .select(
        col("vec_id"),
        explode(
          transform(
            sequence(lit(0), lit(m - 1)),
            sub =>
              struct(
                sub.as("sub"),
                transform(
                  slice(col("embedding"), sub * subDim + 1, lit(subDim)),
                  x => x.cast("double") / col("nrm")
                ).as("sv")
              )
          )
        ).as("p")
      )
      .select(col("vec_id"), col("p.sub").as("sub"), col("p.sv").as("sv"))

    def l2sq(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

    def centroidDf(rows: Seq[(Int, Int, Seq[Double])]): DataFrame = {
      import s.implicits._
      rows.toDF("sub", "code", "cen")
    }

    // nearest code per (vector, subspace): broadcast codebook, min_by
    def assign(cb: DataFrame): DataFrame =
      subs
        .join(broadcast(cb), "sub")
        .select(col("vec_id"), col("sub"), col("code"), l2sq(col("sv"), col("cen")).as("d2"))
        .groupBy("vec_id", "sub")
        .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))

    // deterministic Lloyd training of the model-sized codebook
    // (m·codes·subDim doubles; seed collect + per-iteration driver
    // folds). Production shape: the codebook is an artifact you fit
    // offline and ship. Deterministic seeds: the `codes` hash-ordered
    // vectors seed every subspace (their sub-slices differ per subspace,
    // so codebooks do too).
    val seedIds = e
      .select(col("vec_id"))
      .withColumn("rk", xxhash64(col("vec_id")))
      .orderBy("rk")
      .limit(codes)
      .collect()
      .map(_.getLong(0))
      .zipWithIndex
      .toMap
    var codebook: DataFrame = centroidDf(
      subs
        .filter(col("vec_id").isin(seedIds.keys.toSeq: _*))
        .collect()
        .map(r => (seedIds(r.getLong(0)), r.getInt(1), r.getSeq[Double](2).toSeq))
        .map { case (code, sub, sv) => (sub, code, sv) }
        .toSeq
    )
    for (_ <- 1 to lloydIters) {
      val updated = assign(codebook)
        .join(subs, Seq("vec_id", "sub"))
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("idx", "v")))
        .groupBy("sub", "code", "idx")
        .agg(avg("v").as("c"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .toSeq
        .map { case ((sub, code), rows) =>
          (sub, code, rows.sortBy(_.getInt(2)).map(r => math.rint(r.getDouble(3) * 1e6) / 1e6).toSeq)
        }
      val updatedMap = updated.map { case (sub, code, c) => (sub, code) -> c }.toMap
      val prev = codebook.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toSeq)
      codebook = centroidDf(prev.map { case ((sub, code), c) =>
        (sub, code, updatedMap.getOrElse((sub, code), c))
      }.toSeq)
    }

    val codeTable = assign(codebook) // (vec_id, sub, code): M bytes per vector
    val q = subs.filter(col("vec_id") < nQueries)
    // ADC contribution table: (q_id, sub, code, d2) — nQueries × M × k rows
    val adc = q
      .join(broadcast(codebook), "sub")
      .select(col("vec_id").as("q_id"), col("sub"), col("code"), l2sq(col("sv"), col("cen")).as("d2"))
    val approx = codeTable
      .join(broadcast(adc), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id").as("c_id"))
      .agg(sum("d2").as("ad2"))
    val short = graft.plans.TopK
      .topKPerKey(
        approx.select(col("q_id"), col("c_id"), (-col("ad2")).as("neg")),
        Seq("q_id"),
        "neg",
        "c_id",
        shortlist
      )
      .select(col("q_id"), col("c_id"))
    // exact re-rank of the shortlist (v1's scoring, v1's tiebreak)
    val cEmb = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val qEmb = e
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), col("c_id"))
    short
      .join(cEmb, "c_id")
      .join(broadcast(qEmb), "q_id")
      .withColumn("cos", VF.dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("c_id"), round(col("cos"), 4).as("cos"))
      .orderBy("q_id", "rn")
  }

  /** v11: MMR diversified top-k re-rank (Carbonell & Goldstein 1998) —
    * greedy selection of k results maximizing
    * λ·rel(c) − (1−λ)·max_{s∈S} cos(c, s): the standard fix for ANN
    * result lists that return k near-copies of the same neighborhood
    * (after SemDeDup-era corpora, the retrieval-side counterpart).
    * MMR is inherently k sequential rounds; each round here is ONE
    * distributed argmax over the candidate set (score → orderBy desc →
    * limit 1), with the ≤k selected vectors riding along as literal
    * columns — kilobytes, the same model-sized driver state as v7's
    * centroids. The corpus is scanned k times but never shuffled and
    * never pairwise-joined; at 100 TB you'd run MMR over a v2/v7
    * shortlist (thousands of rows), where k tiny argmax jobs are noise.
    * Engine-exact by the selection discipline: scores rounded to 6
    * decimals before the argmax, doc-id tiebreak, and norm products
    * associated (candidate × selected) to match the oracle's algebra.
    */
  def v11Mmr(s: SparkSession, d: String, k: Int = 5, lambda: Double = 0.5): DataFrame = {
    import graft.plans.GraftExpressions
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === 0).select("embedding").head()
    val qe = q.getSeq[Float](0).toArray
    def litVec(v: Array[Float]) = array(v.toIndexedSeq.map(lit): _*).cast("array<float>")
    def seqDot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val qNrm = math.sqrt(seqDot(qe, qe))
    val cands = e
      .filter(col("vec_id") =!= 0)
      .select(
        col("vec_id"),
        col("embedding"),
        sqrt(GraftExpressions.dotF(col("embedding"), col("embedding"))).as("nrm")
      )
      .withColumn("rel", GraftExpressions.dotF(col("embedding"), litVec(qe)) / (col("nrm") * lit(qNrm)))
      .localCheckpoint()
    var selected = Vector.empty[(Long, Double, Array[Float])] // (id, score, emb)
    for (_ <- 1 to k) {
      val sims = selected.map { case (_, _, se) =>
        GraftExpressions.dotF(col("embedding"), litVec(se)) /
          (col("nrm") * lit(math.sqrt(seqDot(se, se))))
      }
      val mx = sims match {
        case Seq()    => lit(0.0)
        case Seq(one) => one
        case many     => greatest(many: _*)
      }
      val score =
        if (selected.isEmpty) round(lit(lambda) * col("rel"), 6)
        else round(lit(lambda) * col("rel") - lit(1 - lambda) * mx, 6)
      val pick = cands
        .filter(!col("vec_id").isin(selected.map(_._1): _*))
        .withColumn("score", score)
        .orderBy(col("score").desc, col("vec_id"))
        .limit(1)
        .select("vec_id", "score", "embedding")
        .head()
      selected :+= ((pick.getLong(0), pick.getDouble(1), pick.getSeq[Float](2).toArray))
    }
    import s.implicits._
    selected.zipWithIndex
      .map { case ((id, sc, _), i) => (i + 1L, id, sc) }
      .toDF("rank", "vec_id", "score")
      .orderBy("rank")
  }

  /** v12: predicate-filtered kNN — hybrid "metadata WHERE + vector top-k"
    * in one declarative plan. The label predicate prunes the corpus
    * BEFORE the similarity kernel (Catalyst pushes it into the parquet
    * scan), so filter selectivity translates directly into less kernel
    * work — the hybrid-search shape every vector store exposes. The exact
    * brute kernel shares v1's broadcast-query / never-shuffle-the-corpus
    * plan and is oracle-gated; at 100 TB the same pushed filter composes
    * ahead of v7's IVF candidate generation (filter, then probe lists),
    * leaving the ranking machinery unchanged.
    */
  def v12FilteredKnn(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = Tables
      .embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"), VF.norm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    // a RANGE predicate so the filter is parquet-pushable (plan-pinned in
    // the spec): the scan itself skips non-matching row groups, which is
    // exactly the pruning a 100 TB hybrid search needs
    val c = e.filter(col("label") < 5)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), col("c_id"))
    c.join(broadcast(q), col("c_id") =!= col("q_id"))
      .withColumn("cos", VF.dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("c_id"), round(col("cos"), 4).as("cos"))
      .orderBy("q_id", "rn")
  }

  /** v13: SCALAR-QUANTIZED (SQ8) kNN — FAISS's other workhorse next to
    * PQ (v10): each vector is folded to int8 by per-vector max-abs
    * scaling (`floor(x · 127/max|x|  + 0.5)` — half-up spelled as floor
    * so both engines quantize bit-identically; plain floor's systematic
    * −0.5/component bias measurably scrambles the shortlist on
    * small-cosine-gap corpora — recall@5 0.1 vs ≥0.9, see the spec),
    * the shortlist scan runs on the
    * quantized arrays (4× less memory bandwidth than float32 — at
    * 100 TB the scan is bandwidth-bound, so that IS the speedup; the
    * int dots stay exact integers ≤ dim·127², so even float storage
    * carries them exactly through the codegen'd [[VF.dot]] kernel), and
    * only the top-`shortlist` candidates per query are re-ranked at
    * full precision. UNLIKE the sketch family, every step is
    * deterministic, so the whole prefilter→rerank chain is DuckDB-
    * replayable and hash-gated — and `shortlist = corpus` provably
    * degenerates to v1's exact search (ScalaTest). Composes with v7's
    * IVF lists (quantize within each list) for the full
    * IVF-SQ8-rerank production stack.
    */
  def v13KnnSq8(
      s: SparkSession,
      d: String,
      nQueries: Int = 10,
      k: Int = 5,
      shortlist: Int = 20
  ): DataFrame = {
    val qz = Tables
      .embeddings(s, d)
      .withColumn(
        "mx",
        greatest(array_max(transform(col("embedding"), x => abs(x.cast("double")))), lit(1e-30))
      )
      .withColumn(
        "q8",
        transform(
          col("embedding"),
          x => floor(x.cast("double") * (lit(127.0) / col("mx")) + lit(0.5)).cast("float")
        )
      )
      .select(col("vec_id"), col("embedding"), col("q8"))
    val qs = qz
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("q8").as("q_q8"))
    val sw = Window.partitionBy("q_id").orderBy(desc("qdot"), col("c_id"))
    val cand = qz
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("q8").as("c_q8"))
      .join(broadcast(qs), col("c_id") =!= col("q_id"))
      // quantized COSINE, not raw dot: per-vector scales (127/mx) differ,
      // so the unnormalized int dot ranks by s_c·(a·b) and large-mx
      // candidates sink regardless of true similarity
      .withColumn(
        "qdot",
        VF.dot(col("q_q8"), col("c_q8")) / (VF.norm(col("q_q8")) * VF.norm(col("c_q8")))
      )
      .withColumn("srn", row_number().over(sw))
      .filter(col("srn") <= shortlist)
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), col("c_id"))
    cand
      .withColumn(
        "cos",
        VF.dot(col("q_emb"), col("c_emb")) / (VF.norm(col("q_emb")) * VF.norm(col("c_emb")))
      )
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("c_id"), round(col("cos"), 4).as("cos"))
      .orderBy("q_id", "rn")
  }

  /** v15: HYBRID SEARCH — dense + lexical retrieval fused by RECIPROCAL
    * RANK FUSION (Cormack et al. 2009), the standard production RAG
    * retrieval stack: the vector arm ranks candidates by exact cosine
    * (v1's ordering), the lexical arm by distinct-token Jaccard of the
    * ALIGNED documents (vec_id ≡ doc_id), and the fused score is
    * `1/(60+rank_vec) + 1/(60+rank_lex)` — rank-space fusion needs no
    * score calibration between arms, which is exactly why RRF won in
    * practice. Determinism discipline: each arm ranks with an id
    * tiebreak, the RRF score is computed from INTEGER ranks (identical
    * in both engines by construction) and rounded BEFORE the fusion
    * rank, so the hash never sees a float comparison. Scale shape: the
    * query set broadcasts to both arms; at 100 TB each arm emits its
    * own top-N shortlist first (v7/v13's ANN machinery on the dense
    * side, an inverted index on the lexical side) and RRF fuses the
    * shortlists — the fusion join is O(queries × shortlist) regardless
    * of corpus size; this exhaustive-rank config is the provably-exact
    * oracle anchor for that pipeline.
    */
  def v15HybridRrf(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5, kRrf: Int = 60): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val e = Tables
      .embeddings(s, d)
      .select(col("vec_id"), col("embedding"), VF.norm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val wv = Window.partitionBy("q_id").orderBy(desc("cos"), col("c_id"))
    val vec = c.join(broadcast(q), col("c_id") =!= col("q_id"))
      .withColumn("cos", VF.dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rn_vec", row_number().over(wv))
      .select("q_id", "c_id", "rn_vec")
    val toks = Tables
      .documents(s, d)
      .select(col("doc_id"), array_distinct(TF.tokens(col("text"))).as("tk"))
    val qt = toks.filter(col("doc_id") < nQueries).select(col("doc_id").as("q_id"), col("tk").as("q_tk"))
    val ct = toks.select(col("doc_id").as("c_id"), col("tk").as("c_tk"))
    val wl = Window.partitionBy("q_id").orderBy(desc("jac"), col("c_id"))
    val lex = ct.join(broadcast(qt), col("c_id") =!= col("q_id"))
      .withColumn("inter", size(array_intersect(col("q_tk"), col("c_tk"))))
      .withColumn("uni", size(col("q_tk")) + size(col("c_tk")) - col("inter"))
      .withColumn("jac", when(col("uni") > 0, col("inter").cast("double") / col("uni")).otherwise(lit(0.0)))
      .withColumn("rn_lex", row_number().over(wl))
      .select("q_id", "c_id", "rn_lex")
    val wf = Window.partitionBy("q_id").orderBy(desc("rrf"), col("c_id"))
    vec
      .join(lex, Seq("q_id", "c_id"))
      .withColumn(
        "rrf",
        round(lit(1.0) / (lit(kRrf) + col("rn_vec")) + lit(1.0) / (lit(kRrf) + col("rn_lex")), 6)
      )
      .withColumn("rn", row_number().over(wf))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("c_id"), col("rrf"), col("rn_vec"), col("rn_lex"))
      .orderBy("q_id", "rn")
  }

  /** v16: TRIANGLE COUNT + local clustering coefficient over the kNN
    * graph — the graph-analytics companion to v9's PageRank (community
    * structure: a node whose neighbors know each other sits inside a
    * cluster; embedding-space triangles are the standard signal). Edges
    * are v5's exact kNN (k=3), symmetrized to distinct undirected pairs
    * (a < b); triangles enumerate once each via the ordered two-hop
    * join E(a,b) ⋈ E(b,c) ⋈ E(a,c) with a < b < c — the node-iterator
    * algorithm every distributed triangle counter uses: two keyed
    * equi-joins over the edge table, never a matrix product or an
    * all-pairs stage. Coefficient = 2·T / (deg·(deg−1)) — all
    * integer-derived, so the one double division is engine-identical.
    */
  def v16TriangleCount(s: SparkSession, d: String): DataFrame =
    triangleStats(
      v5KnnGraph(s, d)
        .select(least(col("q_id"), col("c_id")).as("a"), greatest(col("q_id"), col("c_id")).as("b"))
        .distinct()
    )

  /** The triangle/clustering machinery over an arbitrary DISTINCT
    * undirected edge set (a < b) — factored out of [[v16TriangleCount]]
    * so the randomized differential test can drive it with seeded
    * random graphs against a brute-force triple count.
    */
  private[graft] def triangleStats(und: DataFrame): DataFrame = {
    val tri = und
      .join(und.select(col("a").as("b"), col("b").as("c")), "b")
      .join(und.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .select("a", "b", "c")
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_tri"))
    val deg = und
      .select(explode(array(col("a"), col("b"))).as("vec_id"))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("degree"))
    deg
      .join(perNode, Seq("vec_id"), "left")
      .select(
        col("vec_id"),
        col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(
          col("degree") >= 2,
          round(
            coalesce(col("n_tri"), lit(0L)).cast("double") * 2 /
              (col("degree") * (col("degree") - 1)),
            4
          )
        ).otherwise(lit(0.0)).as("clustering")
      )
      .orderBy("vec_id")
  }

  /** v17: EMBEDDING DRIFT — the model-ops monitor for a vector store
    * (did the embedding distribution move between two ingest windows?):
    * split the corpus at the vec_id midpoint (t32's frontier model —
    * "old index" vs "new arrivals"), compute per-label HALF-centroids
    * (v4's posexplode elementwise mean, rounded like v4), and report
    * per label the half populations and the cosine between its two
    * half-centroids — cos ≈ 1 means the label's region is stable, a
    * drop is drift worth re-indexing. Everything is keyed aggregates
    * over (label, half, component) — centroid tables are labels×dims
    * (model-sized at any corpus size), and the cosine joins components,
    * never arrays. Engine-exact: component products are quantized to
    * decimal BEFORE the per-label sums (t21 discipline), the cosine
    * evaluated in double on the exact decimal sums.
    */
  def v17EmbeddingDrift(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val cut = e.agg(floor((max("vec_id") + lit(1)).cast("double") / 2).cast("long").as("cut"))
    val halves = e
      .crossJoin(broadcast(cut))
      .withColumn("half", when(col("vec_id") < col("cut"), "a").otherwise("b"))
    val cen = halves
      .select(col("label"), col("half"), posexplode(col("embedding")).as(Seq("idx", "v")))
      .groupBy("label", "half", "idx")
      .agg((round(avg("v"), 4) + lit(0.0)).as("c"))
    val a = cen.filter(col("half") === "a").select(col("label"), col("idx"), col("c").as("ca"))
    val b = cen.filter(col("half") === "b").select(col("label"), col("idx"), col("c").as("cb"))
    val dots = a
      .join(b, Seq("label", "idx"))
      .groupBy("label")
      .agg(
        sum(round(col("ca") * col("cb"), 12).cast("decimal(24,12)")).as("dab"),
        sum(round(col("ca") * col("ca"), 12).cast("decimal(24,12)")).as("daa"),
        sum(round(col("cb") * col("cb"), 12).cast("decimal(24,12)")).as("dbb")
      )
    val nn = halves
      .groupBy("label")
      .agg(
        sum(when(col("half") === "a", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("half") === "b", 1L).otherwise(0L)).as("n_b")
      )
    dots
      .join(nn, "label")
      .select(
        col("label"),
        col("n_a"),
        col("n_b"),
        round(
          col("dab").cast("double") /
            (sqrt(col("daa").cast("double")) * sqrt(col("dbb").cast("double"))),
          6
        ).as("centroid_cos")
      )
      .orderBy("label")
  }

  /** v18: PER-COMPONENT QUANTILE CLIP STATS — the p01/p50/p99 of every
    * embedding dimension, the table a feature pipeline needs before
    * normalizing or clipping vectors at scale (outlier dimensions ruin
    * both SQ8 quantization ranges — v13's min/max is one bad value away
    * from a useless grid — and cosine geometry). Shape: posexplode to
    * (component, value), then ONE map-side-combined groupBy with a
    * bounded Greenwald-Khanna summary per component (c11's discipline:
    * `approx_percentile` state is O(accuracy·log n) per GROUP — never
    * the column — and at gate accuracy ≫ n the edge is EXACTLY the
    * element at rank ⌈q·n⌉, replayable in SQL as a sorted-list index;
    * the default accuracy's rank error is ScalaTest-bounded). The
    * group key is the dimension index, so parallelism equals the
    * embedding width and each group's GK summary merges across
    * partitions — no per-executor state grows with the corpus.
    */
  def v18ComponentQuantiles(s: SparkSession, d: String, accuracy: Int = 10000): DataFrame = {
    Tables
      .embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("component", "v")))
      .select(col("component"), col("v").cast("double").as("v"))
      .groupBy("component")
      .agg(
        count(lit(1)).as("n"),
        expr(
          s"transform(approx_percentile(v, array(0.01D, 0.5D, 0.99D), $accuracy), x -> round(x, 6))"
        ).as("q")
      )
      .select(
        col("component"),
        col("n"),
        col("q").getItem(0).as("p01"),
        col("q").getItem(1).as("p50"),
        col("q").getItem(2).as("p99")
      )
      .orderBy("component")
  }

  /** v19: NORM-OUTLIER SCREEN — flag vectors whose L2 norm sits more
    * than 3 robust deviations (median absolute deviation) from their
    * label's median norm: the cheap sanity gate an embedding pipeline
    * runs on encoder output before indexing (a bad batch, a truncated
    * vector, an fp16 overflow all show up as norm outliers long before
    * cosine quality does). Both the median and the MAD come from
    * bounded GK summaries per label (v18/c11's discipline — rank-exact
    * at gate accuracy, O(accuracy·log n) state at any scale), joined
    * back as broadcast label-sized tables; norms are rounded to 9
    * decimals BEFORE ranking so the selected rank element can't flip
    * on a cross-engine ulp. Output is the label-grain report (count,
    * median, MAD, outlier count/share), not per-row — the shape a
    * monitoring sink wants.
    */
  def v19NormOutliers(s: SparkSession, d: String, accuracy: Int = 10000): DataFrame = {
    val e = Tables
      .embeddings(s, d)
      .select(col("label"), round(VF.norm(col("embedding")), 9).as("nrm"))
    val med = e
      .groupBy("label")
      .agg(expr(s"approx_percentile(nrm, 0.5D, $accuracy)").as("med"))
    val dev = e
      .join(broadcast(med), "label")
      .withColumn("dev", round(abs(col("nrm") - col("med")), 9))
    val mad = dev
      .groupBy("label")
      .agg(expr(s"approx_percentile(dev, 0.5D, $accuracy)").as("mad"))
    dev
      .join(broadcast(mad), "label")
      .groupBy("label")
      .agg(
        count(lit(1)).as("n"),
        round(max("med"), 6).as("med_norm"),
        round(max("mad"), 6).as("mad_norm"),
        sum(when(col("dev") > lit(3.0) * col("mad"), 1L).otherwise(0L)).as("n_outliers")
      )
      .withColumn("outlier_share", round(col("n_outliers").cast("double") / col("n"), 6))
      .orderBy("label")
  }

  /** v20: CORRELATED-DIMENSION AUDIT — the top-k most correlated
    * embedding-dimension pairs, the decorrelation check a feature
    * pipeline runs before whitening/PCA (strongly correlated dims waste
    * index capacity and skew cosine geometry). ONE pass over the
    * vectors with the custom [[graft.plans.GramianAgg]] — O(d²)
    * mergeable integer state instead of the naive d²-per-row pair
    * explode, the same shape mllib's RowMatrix Gramian uses but as an
    * ordinary aggregate — then the d(d+1)/2 moment sums (2 145 longs at
    * d=64, model-sized like Lloyd centroids) fold to covariance/
    * correlation on the driver with the exact scalar arithmetic the
    * oracle replays. Quantized products make the sums EXACT longs, so
    * the result is independent of partitioning/merge order.
    */
  def v20CorrelatedDims(s: SparkSession, d: String, dim: Int = 64, topK: Int = 20): DataFrame = {
    val g = Tables
      .embeddings(s, d)
      .agg(graft.plans.GraftExpressions.gramian(col("embedding"), dim).as("g"))
      .collect()(0)
      .getSeq[Long](0)
      .toArray
    covReport(s, g, dim, topK)
  }

  /** The covariance/correlation fold over a [[graft.plans.GramianAgg]]
    * moment buffer — shared by v20 (one batch aggregate) and s32 (the
    * same sums accumulated across micro-batches through the OCC store:
    * exact integer sums make the two arrival shapes bit-identical).
    */
  private[operators] def covReport(s: SparkSession, g: Array[Long], dim: Int, topK: Int): DataFrame = {
    import s.implicits._
    val n = g(0).toDouble
    val gOff = 1 + dim
    // cross moments ride as (hi, lo) pairs — see GramianAgg's split
    // 2-long accumulator; reconstruct exactly before the double math
    def tri(i: Int, j: Int): Int = gOff + 2 * (i * dim - i * (i - 1) / 2 + (j - i))
    def cov(i: Int, j: Int): Double = {
      val gij = graft.plans.GramianAgg.moment(g(tri(i, j)), g(tri(i, j) + 1)).toDouble
      ((gij - g(1 + i).toDouble * g(1 + j) / n) / n) / 1e12
    }
    def r(x: Double, scale: Int): Double =
      BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    val vars = Array.tabulate(dim)(i => cov(i, i))
    val pairs = for {
      i <- 0 until dim
      j <- (i + 1) until dim
      if vars(i) > 0 && vars(j) > 0
    } yield (i, j, r(cov(i, j), 6), r(cov(i, j) / math.sqrt(vars(i) * vars(j)), 6))
    pairs
      .sortBy { case (i, j, _, corr) => (-math.abs(corr), i, j) }
      .take(topK)
      .toDF("i", "j", "cov", "corr")
  }

  /** v22: CENTROID ASSIGNMENT-MARGIN AUDIT — how confidently each
    * vector belongs to its own label's centroid: the dot-similarity
    * margin (own-centroid minus best other-centroid), the
    * cluster-quality signal that predicts IVF/classifier confusion
    * before either is built (a negative margin IS a nearest-centroid
    * misassignment). Centroids are v4's ROUNDED elementwise means
    * (deterministic values both engines reproduce), broadcast as a
    * labels×dims model table; per-term products are quantized to
    * decimal(20,10) before summing so every similarity, margin, and
    * the confusion comparison are EXACT — no float-sum or ulp-compare
    * exposure anywhere. Work is d×L per vector with map-side combine
    * on the (vector, centroid) key — embarrassingly parallel; only
    * the label-grain report survives.
    */
  def v22CentroidMargin(s: SparkSession, d: String): DataFrame = {
    val cen = Tables
      .embeddings(s, d)
      .select(col("label").as("c_label"), posexplode(col("embedding")).as(Seq("idx", "v")))
      .groupBy("c_label", "idx")
      .agg((round(avg(col("v").cast("double")), 4) + lit(0.0)).as("c"))
    val sims = Tables
      .embeddings(s, d)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("idx", "v")))
      .join(broadcast(cen), "idx")
      .select(
        col("vec_id"),
        col("label"),
        col("c_label"),
        round(col("v").cast("double") * col("c"), 9).cast("decimal(20,10)").as("t")
      )
      .groupBy("vec_id", "label", "c_label")
      .agg(sum("t").as("sim"))
    sims
      .groupBy("vec_id", "label")
      .agg(
        max(when(col("c_label") === col("label"), col("sim"))).as("own"),
        max(when(col("c_label") =!= col("label"), col("sim"))).as("best_other")
      )
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        round(sum(col("own") - col("best_other")).cast("double") / count(lit(1)), 6)
          .as("mean_margin"),
        sum(when(col("own") <= col("best_other"), 1L).otherwise(0L)).as("n_confused")
      )
      .withColumn(
        "confused_share",
        round(col("n_confused").cast("double") / col("n_vecs"), 6)
      )
      .orderBy("label")
  }

  /** v21: SQ8 DISTORTION REPORT — the quantization-error audit for
    * v13's scalar-quantized index (and the accept/reject signal for
    * int8 storage in general): reconstruct every component through the
    * SAME per-vector symmetric grid v13 searches with
    * (q = ⌊v·127/mx + 0.5⌋, v̂ = q·mx/127) and report per label the
    * exact total squared error, the mean per-component error in
    * micro-units, and the worst single-component error. Per-component
    * squared errors are quantized to decimal(22,15) BEFORE summing, so
    * the label totals are exact and order-free (the cross-engine
    * float-sum trap); the maxima compare identically-rounded doubles.
    * One posexplode + one keyed aggregate — embarrassingly parallel at
    * any corpus size.
    */
  def v21Sq8Distortion(s: SparkSession, d: String, dim: Int = 64): DataFrame = {
    val e = Tables
      .embeddings(s, d)
      .select(
        col("label"),
        col("vec_id"),
        col("embedding").cast("array<double>").as("emb")
      )
      .withColumn(
        "mx",
        greatest(array_max(transform(col("emb"), x => abs(x))), lit(1e-30))
      )
    val v = col("v")
    val q8 = floor(v * (lit(127.0) / col("mx")) + lit(0.5))
    val err = v - q8 * (col("mx") / lit(127.0))
    e.select(col("label"), col("vec_id"), col("mx"), posexplode(col("emb")).as(Seq("i", "v")))
      .select(
        col("label"),
        // femto-unit quantization (GramianAgg's trick at 1e15): both
        // engines floor the IDENTICAL double, sums are exact longs
        floor(err * err * lit(1e15) + lit(0.5)).cast("long").as("sq_q"),
        floor(abs(err) * lit(1e9) + lit(0.5)).cast("long").as("ae_q")
      )
      .groupBy("label")
      .agg(
        (count(lit(1)) / lit(dim)).cast("long").as("n_vecs"),
        sum("sq_q").as("total_sqerr_q15"),
        max("ae_q").as("mx_ae_q")
      )
      .select(
        col("label"),
        col("n_vecs"),
        col("total_sqerr_q15"),
        round(col("total_sqerr_q15").cast("double") / 1e15 * 1e6 / col("n_vecs") / dim, 6)
          .as("mse_e6"),
        (col("mx_ae_q").cast("double") / 1e9).as("max_abs_err")
      )
      .orderBy("label")
  }

  /** v23: kNN-GRAPH MUTUALITY — the fraction of directed kNN edges
    * whose reverse edge also exists, per source label. Mutual-kNN rate
    * is the standard index-quality / manifold-connectedness probe (hub
    * vectors depress it; a healthy embedding space for clustering or
    * kNN-graph dedup sits high), and it decides whether downstream
    * graph ops (v9 PageRank, v16 triangles, d6 clusters) run on the
    * mutual subgraph or the full one. Reads [[knnEdges]] once, with no
    * self-join: a broadcast label join, a count over each edge's
    * unordered pair `(least, greatest)` — 2 means its reverse edge
    * exists, since a vector's top-k holds a neighbor at most once — and
    * one keyed aggregate per label (edges are corpus×k rows, never
    * pairwise). A NULL label reports `n_mutual = 0`, as in the oracle
    * SQL, whose per-label mutual counts join back on label (NULL matches
    * no label).
    */
  def v23KnnMutuality(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    val labels = Tables.embeddings(s, d).select(col("vec_id").as("q_id"), col("label"))
    val pair = Window.partitionBy(least(col("q_id"), col("c_id")), greatest(col("q_id"), col("c_id")))
    knnEdges(s, d, k)
      .select(col("q_id"), col("c_id"))
      .join(broadcast(labels), "q_id")
      .withColumn("n_dir", count(lit(1)).over(pair))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_edges"),
        count(when(col("n_dir") === 2 && col("label").isNotNull, lit(1))).as("n_mutual")
      )
      .select(
        col("label"),
        col("n_edges"),
        col("n_mutual"),
        round(col("n_mutual").cast("double") / col("n_edges"), 6).as("mutual_frac")
      )
      .orderBy("label")
  }

  /** v24: SIMPLIFIED (CENTROID) SILHOUETTE — per-label clustering
    * quality as the silhouette coefficient with centroid distances
    * standing in for pairwise means (Hruschka's simplified silhouette —
    * THE scalable form: O(n·L) against broadcast centroids instead of
    * the O(n²) pairwise original, which at 100 TB you'd only ever run
    * on a per-cluster sample): aᵢ = ‖xᵢ − c_own‖, bᵢ = min over other
    * labels ‖xᵢ − c_l‖, sᵢ = (bᵢ−aᵢ)/max(aᵢ,bᵢ). Negative sᵢ IS a
    * vector that sits closer to a foreign centroid — the same
    * misassignment v22 flags through dot margins, here in the metric
    * (Euclidean, silhouette-normalized) the clustering literature
    * reports. Engine-exact: centroids are v4's 4-dp rounded means,
    * per-component squared terms quantize to decimal before the keyed
    * (vec, label) sum, distances and sᵢ round to 9 before comparison /
    * folding — every aggregate is order-free.
    */
  def v24Silhouette(s: SparkSession, d: String): DataFrame = {
    val cen = Tables
      .embeddings(s, d)
      .select(col("label").as("c_label"), posexplode(col("embedding")).as(Seq("idx", "cv")))
      .groupBy("c_label", "idx")
      .agg((round(avg("cv"), 4) + lit(0.0)).as("c"))
    val comp = Tables
      .embeddings(s, d)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("idx", "x")))
    val d2 = comp
      .join(broadcast(cen), "idx")
      .select(
        col("vec_id"),
        col("label"),
        col("c_label"),
        round((col("x") - col("c")) * (col("x") - col("c")), 12)
          .cast("decimal(16,12)")
          .as("t")
      )
      .groupBy("vec_id", "label", "c_label")
      .agg(sum("t").as("d2"))
      .withColumn("dist", round(sqrt(col("d2").cast("double")), 9))
    val ab = d2
      .groupBy("vec_id", "label")
      .agg(
        max(when(col("c_label") === col("label"), col("dist"))).as("a"),
        min(when(col("c_label") =!= col("label"), col("dist"))).as("b")
      )
      .withColumn(
        "si",
        round((col("b") - col("a")) / greatest(col("a"), col("b")), 9)
          .cast("decimal(12,9)")
      )
    ab.groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        round(sum("si").cast("double") / count(lit(1)), 6).as("mean_silhouette"),
        sum(when(col("si") < 0, 1L).otherwise(0L)).as("n_negative")
      )
      .orderBy("label")
  }

  /** v25's deterministic hyperplanes: plane j, component t has integer
    * weight ((j·131 + t·7919) mod 1009) − 504 — formula-derived, so the
    * DuckDB oracle renders the SAME literal arrays from the same Scala
    * code (SparkEntry interpolates them into the SQL text). Integer
    * weights widen exactly to double in both engines.
    */
  private[graft] def v25Plane(j: Int, dim: Int): Seq[Double] =
    (0 until dim).map(t => (((j * 131 + t * 7919) % 1009) - 504).toDouble)

  /** v25: LSH RECALL AUDIT, fully hash-gated — the measurement that v2's
    * rows-only config cannot have: sign-bit bucketing over FOUR
    * deterministic integer hyperplanes (16 buckets), bucket-restricted
    * top-10 per sampled query vs the exhaustive top-10, and per-query
    * candidate volume + recall — the (recall, cost) point an operator
    * reads before promoting an ANN config at 100 TB. Everything is
    * deterministic (no trained artifact, no RNG), so the DuckDB oracle
    * replays bucket assignment, both top-10s, and the recall itself —
    * the audit METHODOLOGY is what is being verified, then reused on
    * real (trained) configs whose recall can only be spot-checked.
    * Plan: both rankings broadcast the 50-query side; candidates come
    * from a bucket-equality join, never a crossJoin.
    */
  /** v26: kNN LABEL ACCURACY — the leave-one-out classification probe
    * that grades an embedding space before anyone trains on it: for a
    * sampled query set, majority label among the exact top-k cosine
    * neighbors vs the query's own label, reported per class. The
    * metric retrieval teams watch when swapping encoders. Exact knn
    * rides v1's broadcast-query shape; the majority vote is a keyed
    * count + one keyed rank window (ties broken by smallest label —
    * deterministic in both engines); output is classes-sized.
    */
  def v26KnnLabelAccuracy(s: SparkSession, d: String, nQueries: Int = 200, k: Int = 5): DataFrame = {
    val e = Tables
      .embeddings(s, d)
      .select(col("vec_id"), col("embedding"), VF.norm(col("embedding")).as("nrm"), col("label"))
    val q = e
      .filter(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("q_id"),
        col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"),
        col("label").as("q_label")
      )
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))
    val nn = e
      .join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", VF.dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
    val wv = Window.partitionBy("q_id").orderBy(desc("cnt"), col("label"))
    val pred = nn
      .groupBy("q_id", "q_label", "label")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("vr", row_number().over(wv))
      .filter(col("vr") === 1)
    pred
      .select(col("q_label"), col("label").as("pred_label"))
      .groupBy("q_label")
      .agg(
        count(lit(1)).as("n_queries"),
        sum(when(col("pred_label") === col("q_label"), 1L).otherwise(0L)).as("n_correct")
      )
      .select(
        col("q_label").as("label"),
        col("n_queries"),
        col("n_correct"),
        round(col("n_correct").cast("double") / col("n_queries"), 4).as("accuracy")
      )
      .orderBy("label")
  }

  def v25HyperplaneRecall(s: SparkSession, d: String, nQueries: Int = 50, k: Int = 10): DataFrame = {
    val dim = 64
    val planes = (0 until 4).map(j => typedlit(v25Plane(j, dim)))
    def planeDot(p: org.apache.spark.sql.Column) =
      aggregate(
        zip_with(col("embedding").cast("array<double>"), p, (x, w) => x * w),
        lit(0.0),
        (acc, x) => acc + x
      )
    val bucketCol = planes.zipWithIndex
      .map { case (p, j) => when(planeDot(p) > 0, 1 << j).otherwise(0) }
      .reduce(_ + _)
    val e = Tables
      .embeddings(s, d)
      .select(
        col("vec_id"),
        col("embedding"),
        VF.norm(col("embedding")).as("nrm"),
        bucketCol.as("bucket")
      )
    val q = e
      .filter(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("q_id"),
        col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"),
        col("bucket").as("q_b")
      )
    val cos = VF.dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))
    val exact = e
      .join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", cos)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id").as("c_id"))
    val cand = e
      .join(broadcast(q), col("vec_id") =!= col("q_id") && col("bucket") === col("q_b"))
      .withColumn("cos", cos)
    val nCands = cand.groupBy("q_id").agg(count(lit(1)).as("n_cands"))
    val approx = cand
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id").as("c_id"))
    val hits = approx
      .join(exact, Seq("q_id", "c_id"))
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_hits"))
    q.select("q_id")
      .join(nCands, Seq("q_id"), "left")
      .join(hits, Seq("q_id"), "left")
      .select(
        col("q_id"),
        coalesce(col("n_cands"), lit(0L)).as("n_cands"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / lit(k.toDouble), 4).as("recall")
      )
      .orderBy("q_id")
  }

  /** v27 (round 14): PAIR-DISTANCE HISTOGRAM — the corpus-geometry
    * diagnostic run BEFORE choosing any ANN index: pairwise cosine over
    * a deterministic capped sample (lowest `nSample` vec_ids — d4's
    * bounded ground-truth idiom, O(sample²) at ANY corpus scale, never
    * O(n²)), bucketed into tenths. A mass near 0 says random-like (LSH
    * recall will be poor — v2's measured finding); a bimodal tail says
    * clustered (IVF will shine). Cosines are rounded to 9 decimals
    * BEFORE bucketing and summed as decimals, so the histogram and the
    * per-bucket means replay bit-for-bit in DuckDB.
    */
  def v27PairDistanceHist(s: SparkSession, d: String, nSample: Int = 100): DataFrame = {
    val e = Tables
      .embeddings(s, d)
      .select(col("vec_id"), col("embedding"), VF.norm(col("embedding")).as("nrm"))
      .orderBy("vec_id")
      .limit(nSample)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    a.join(broadcast(b), col("a_id") < col("b_id"))
      .withColumn(
        "cos",
        round(VF.dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")), 9)
      )
      .withColumn("bucket", greatest(lit(-10), least(lit(9), floor(col("cos") * 10))).cast("int"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"), sum(col("cos").cast("decimal(12,9)")).as("sum_cos"))
      .select(
        col("bucket"),
        col("n_pairs"),
        round(col("sum_cos").cast("double") / col("n_pairs"), 6).as("avg_cos")
      )
      .orderBy("bucket")
  }

  /** v28 (round 14): HARD-NEGATIVE MARGINS — per sampled query, its
    * best SAME-label neighbor vs its best DIFFERENT-label neighbor and
    * the margin between them: the contrastive-training health check
    * (a negative margin = the embedding space confuses the classes at
    * that point; the diff neighbor IS the hard negative a miner would
    * emit). v1's broadcast-query shape with one extra rank partition
    * key (the same-label flag); deterministic tie-break (cos desc,
    * c_id); margin computed on unrounded cosines, rounded once.
    */
  def v28HardNegatives(s: SparkSession, d: String, nQueries: Int = 10): DataFrame = {
    val e = Tables
      .embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"), VF.norm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("q_id"),
        col("label").as("q_label"),
        col("embedding").as("q_emb"),
        col("nrm").as("q_nrm")
      )
    val c = e.select(
      col("vec_id").as("c_id"),
      col("label").as("c_label"),
      col("embedding").as("c_emb"),
      col("nrm").as("c_nrm")
    )
    val w = Window
      .partitionBy(col("q_id"), col("same"))
      .orderBy(desc("cos"), col("c_id"))
    val best = c
      .join(broadcast(q), col("c_id") =!= col("q_id"))
      .withColumn("cos", VF.dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("same", col("c_label") === col("q_label"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val sameBest = best
      .filter(col("same"))
      .select(col("q_id"), col("q_label").as("label"), col("c_id").as("same_id"), col("cos").as("same_cos"))
    val diffBest = best
      .filter(!col("same"))
      .select(col("q_id"), col("c_id").as("hard_negative_id"), col("cos").as("diff_cos"))
    sameBest
      .join(diffBest, "q_id")
      .select(
        col("q_id"),
        col("label"),
        col("same_id"),
        round(col("same_cos"), 4).as("same_cos"),
        col("hard_negative_id"),
        round(col("diff_cos"), 4).as("diff_cos"),
        round(col("same_cos") - col("diff_cos"), 4).as("margin")
      )
      .orderBy("q_id")
  }

  /** v30 (round 15): GRAPH-BASED ANN — greedy BEAM SEARCH over the
    * kNN graph (the HNSW/NSG family's base layer, distributed): each
    * query starts at ITSELF (item-to-item "more like this"), and every hop
    * expands the current beam's out-edges, scores the new candidates,
    * and keeps the best `beam` per query — H hops of (frontier ⋈
    * edges) equi-joins + TopKPerKey prunes, never a corpus scan after
    * the graph is built. All SCORED candidates accumulate into the
    * result pool; the final top-k per query comes from that pool. This
    * completes the ANN family (sign-LSH v2, IVF v7, PQ v10, SQ8
    * v13/v14): graph search is the recall/latency point the others
    * can't hit on high-dimensional clustered corpora. Recall is
    * data-dependent (rows-only + ScalaTest floor, v2/v7/v10's
    * pattern); [[v30Exhaustive]] runs the IDENTICAL pool→top-k
    * selection over the provably-complete candidate set and is
    * driver-hash-gated against v1's oracle.
    */
  def v30KnnGraphSearch(
      s: SparkSession,
      d: String,
      nQueries: Int = 10,
      k: Int = 5,
      degree: Int = 8,
      beam: Int = 4,
      hops: Int = 4
  ): DataFrame = {
    // round-16 ADVICE fix: hops/beam are public knobs; hops <= 0 left
    // the candidate pool null (NPE in the final top-k) instead of a
    // meaningful error
    require(hops >= 1, s"v30 graph search needs hops >= 1; got $hops")
    require(beam >= 1, s"v30 graph search needs beam >= 1; got $beam")
    val e = Tables
      .embeddings(s, d)
      .select(col("vec_id"), col("embedding"), VF.norm(col("embedding")).as("nrm"))
    val q = e
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val edges = v5KnnGraph(s, d, k = degree)
      .select(col("q_id").as("src"), col("c_id").as("dst"))
    var frontier = q.select(col("q_id"), col("q_id").as("node")).localCheckpoint()
    var visited = frontier.select(col("q_id"), col("node").as("c_id")).localCheckpoint()
    var pool: DataFrame = null
    for (_ <- 1 to hops) {
      val cand = frontier
        .join(edges, frontier("node") === edges("src"))
        .select(col("q_id"), col("dst").as("c_id"))
        .distinct()
        .join(visited, Seq("q_id", "c_id"), "left_anti")
      val scored = cand
        .join(broadcast(q), Seq("q_id"))
        .join(
          e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm")),
          Seq("c_id")
        )
        .select(
          col("q_id"),
          col("c_id"),
          (VF.dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm"))).as("cos")
        )
        .localCheckpoint()
      pool = if (pool == null) scored else pool.unionByName(scored).localCheckpoint()
      visited = visited.unionByName(scored.select("q_id", "c_id")).localCheckpoint()
      frontier = graft.plans.TopK
        .topKPerKey(scored, Seq("q_id"), "cos", "c_id", beam)
        .select(col("q_id"), col("c_id").as("node"))
        .localCheckpoint()
    }
    v30FinalTopK(pool, k)
  }

  /** The shared pool→top-k selection (deterministic (cos desc, c_id)
    * rank, v1's output shape).
    */
  private def v30FinalTopK(pool: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), col("c_id"))
    pool
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("c_id"), round(col("cos"), 4).as("cos"))
      .orderBy("q_id", "rn")
  }

  /** v30's exact twin: the identical selection over the provably
    * COMPLETE candidate pool (every non-self vector scored) — the
    * driver-hash-gated leg of the rows-only pair.
    */
  def v30Exhaustive(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = Tables
      .embeddings(s, d)
      .select(col("vec_id"), col("embedding"), VF.norm(col("embedding")).as("nrm"))
    val q = e
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val pool = e
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
      .join(broadcast(q), col("c_id") =!= col("q_id"))
      .select(
        col("q_id"),
        col("c_id"),
        (VF.dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm"))).as("cos")
      )
    v30FinalTopK(pool, k)
  }

  /** v29 (round 15): SIMILARITY-GRAPH DEGREE HISTOGRAM — how connected
    * the corpus is at cosine ≥ 0.5: per-vector neighbor counts in the
    * threshold graph, folded to (degree → n_vectors) with the isolated
    * (degree-0) population included — the connectivity audit run before
    * choosing a semantic-dedup threshold (a fat tail here means one τ
    * sweep would glue half the corpus into one cluster). Pairs come
    * from d5b's BALANCED BLOCK self-join (every block pair compared
    * exactly once, no CartesianProduct node), so the quadratic compare
    * is block-bounded; degrees and the histogram are two keyed
    * aggregates.
    */
  def v29DegreeHist(s: SparkSession, d: String, tau: Double = 0.5): DataFrame = {
    val pairs = graft.operators.Dedup
      .d5bDedupEmbeddingBlocked(s, d, tau)
      .select("id_a", "id_b")
    val deg = pairs
      .select(col("id_a").as("vec_id"))
      .unionAll(pairs.select(col("id_b").as("vec_id")))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("deg"))
    Tables
      .embeddings(s, d)
      .select("vec_id")
      .join(deg, Seq("vec_id"), "left")
      .select(coalesce(col("deg"), lit(0L)).cast("int").as("degree"))
      .groupBy("degree")
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy("degree")
  }
}
