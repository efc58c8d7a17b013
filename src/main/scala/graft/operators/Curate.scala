package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{SnapshotStore, Tables}

/** p1: the end-to-end training-data curation pipeline — the composition
  * the individual d/t operators exist for:
  *
  *   exact-dedup (keep min-id per content hash)
  *     → quality gate (token count, stopword ratio, distinct-token ratio)
  *     → deterministic hash sampling
  *
  * One shuffle for the dedup groupBy; every later stage is a per-row map
  * or a pushed filter, so the pipeline cost is dedup + scan regardless of
  * how many gates are added. At 100 TB the near-dup stage (d2/d6) slots
  * in between dedup and quality with its bucket-join cost profile.
  */
object Curate {

  /** p4: MIXTURE-AWARE curation → training shards, the full pretraining
    * data-prep composition:
    *
    *   temperature mixture sample (t22: flatten the language mix)
    *     → quality gate (token count, stopword ratio)
    *     → exact dedup (keep min-id per content hash among survivors)
    *     → size-budgeted shard plan (m6's bucket-scoped prefix sums)
    *
    * Cost profile at 100 TB: the mixture rates are a KB broadcast, the
    * gates are per-row pushed filters, dedup is the one content-hash
    * shuffle, and sharding is a bucket-keyed window — no stage holds
    * more than a key-partitioned slice. The DuckDB oracle recomputes
    * the ENTIRE chain (same rate arithmetic, gates, keep-min ranking,
    * and shard prefix sums), so a drift anywhere in the composition
    * fails the hash.
    */
  def p4CurateMixture(
      s: SparkSession,
      d: String,
      budgetChars: Long = 5000L,
      nBuckets: Int = 8
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val accepted = TextAnalysis.t22MixtureSample(s, d).select("doc_id")
    val tk = filter(split(col("text"), " "), t => t =!= "")
    val stops = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    val gated = docs
      .join(accepted, "doc_id")
      .select(
        col("doc_id"),
        col("text"),
        col("n_chars"),
        size(tk).as("n_tokens"),
        (size(filter(tk, t => t.isin(stops: _*))).cast("double") / greatest(size(tk), lit(1)))
          .as("sr")
      )
      .filter(col("n_tokens").between(20, 1000) && col("sr") <= 0.5)
    val kept = gated
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val surviving = gated.join(kept, "doc_id").select(
      col("doc_id"),
      col("n_chars"),
      (col("doc_id").bitwiseAND(lit(0x7fffffffL)) * lit(2654435761L) % lit(4294967296L)).as("rk")
    )
    val w = Window
      .partitionBy("bkt")
      .orderBy("rk", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    surviving
      .withColumn("bkt", pmod(col("rk"), lit(nBuckets.toLong)))
      .withColumn("prefix", coalesce(sum("n_chars").over(w), lit(0L)))
      .withColumn(
        "shard_id",
        col("bkt") * lit(100000L) + floor(col("prefix") / lit(budgetChars.toDouble))
      )
      .groupBy("shard_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        min("doc_id").as("first_doc")
      )
      .orderBy("shard_id")
  }

  /** p5: the LLM-ERA curation chain — the round-8 operators composed the
    * way a modern pretraining pipeline runs them:
    *
    *   perplexity gate (t25: per-language head+middle terciles)
    *     → SEMANTIC dedup among survivors (d17's cluster equi-join;
    *       docs without an embedding pass through — they can't be
    *       semantically deduplicated, only filtered)
    *     → exact-substring trim (d16's spans recomputed over what's
    *       KEPT, so spans reflect duplication in the surviving corpus)
    *     → per-doc token budget report (tokens before/removed/after)
    *
    * Dedup decisions are made AMONG SURVIVORS, not globally: a span is
    * only a dup if ≥2 kept docs share it, and a vector is only dropped
    * for a kept lower-id mate — the order of stages changes the answer,
    * which is exactly why the whole chain is one oracle-gated unit.
    * Cost at 100 TB: t25's LM tables are the vocabulary shuffles,
    * semantic pairs are Σ(cluster²) inside kept clusters, the span scan
    * is O(kept grams), the report a per-row map — no stage is corpus².
    * The DuckDB oracle replays the entire composition.
    */
  def p5CurateLlm(s: SparkSession, d: String, tau: Double = 0.4, k: Int = 8): DataFrame = {
    val kept1 = TextAnalysis.t25PerplexityFilter(s, d).filter(col("keep")).select("doc_id")
    val members = Dedup
      .semDedupMembers(s, d)
      .join(kept1.withColumnRenamed("doc_id", "vec_id"), "vec_id")
    val semDrops = Dedup.semDedupDrops(members, tau).withColumnRenamed("vec_id", "doc_id")
    val kept2 = kept1.join(broadcast(semDrops), Seq("doc_id"), "left_anti")
    val docs2 = Tables.documents(s, d).join(kept2, "doc_id")
    val removed = Dedup
      .substringSpans(docs2.select("doc_id", "text"), k)
      .groupBy("doc_id")
      .agg(sum("span_tokens").as("removed_tokens"))
    docs2
      .select(
        col("doc_id"),
        col("lang"),
        size(filter(split(col("text"), " "), t => t =!= "")).cast("long").as("n_tokens")
      )
      .join(removed, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("lang"),
        col("n_tokens"),
        coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"),
        (col("n_tokens") - coalesce(col("removed_tokens"), lit(0L))).as("kept_tokens")
      )
      .orderBy("doc_id")
  }

  /** p1: exact-dedup curation — one document per content hash (the min
    * doc_id of each md5 group), then the per-row quality gates (token
    * count, stop-word ratio, distinct-token ratio) and a deterministic
    * hash sample. The per-row token stats are the costly part, so
    * `documents` is read through [[Dedup.docsFloor]]: a single-row-group
    * file would otherwise run them in the scan's one task.
    */
  def p1Curate(s: SparkSession, d: String): DataFrame = {
    val docs = Dedup.docsFloor(s, d)
    val kept = docs
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")

    val tk = filter(split(col("text"), " "), t => t =!= "")
    val stops = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    docs
      .join(kept, "doc_id") // left-semi by construction (kept ⊆ docs)
      .select(
        col("doc_id"),
        col("lang"),
        col("text"),
        size(tk).as("n_tokens"),
        (size(filter(tk, t => t.isin(stops: _*))).cast("double") / greatest(size(tk), lit(1)))
          .as("sr"),
        (size(array_distinct(tk)).cast("double") / greatest(size(tk), lit(1))).as("dr")
      )
      .filter(
        col("n_tokens").between(20, 1000) && col("sr") <= 0.5 && col("dr") >= 0.2 &&
          substring(md5(col("text")), 1, 1).isin("0", "1", "2", "3", "4", "5", "6", "7")
      )
      .select("doc_id", "lang", "n_tokens")
      .orderBy("doc_id")
  }

  /** p3: the FULL curation composition under the keep-best policy —
    * near-dup clusters drop everything but their longest member
    * ([[Dedup.dropListKeepBest]]), then the blocklist gate, the quality
    * gates, and the deterministic hash sample. Same cost profile as p2
    * (bucket-join dedup chain + broadcast anti-join + per-row gates);
    * the policy change is a different ranking inside the same plan, which
    * is the point — curation policy is data, not new machinery. Oracle
    * recomputes the chain with the same keep-longest ranking in SQL.
    */
  def p3CurateKeepBest(s: SparkSession, d: String): DataFrame = {
    val dropList = Dedup.dropListKeepBest(s, d)
    val tk = filter(split(col("text"), " "), t => t =!= "")
    val stops = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    val block = Seq("slow", "dup", "leak")
    Tables
      .documents(s, d)
      .join(broadcast(dropList), Seq("doc_id"), "left_anti")
      .select(
        col("doc_id"),
        col("lang"),
        col("text"),
        size(tk).as("n_tokens"),
        (size(filter(tk, t => t.isin(stops: _*))).cast("double") / greatest(size(tk), lit(1)))
          .as("sr"),
        (size(array_distinct(tk)).cast("double") / greatest(size(tk), lit(1))).as("dr"),
        size(filter(tk, t => t.isin(block: _*))).as("nb")
      )
      .filter(
        col("n_tokens").between(20, 1000) && col("sr") <= 0.5 && col("dr") >= 0.2 &&
          col("nb") === 0 &&
          substring(md5(col("text")), 1, 1).isin("0", "1", "2", "3", "4", "5", "6", "7")
      )
      .select("doc_id", "lang", "n_tokens")
      .orderBy("doc_id")
  }

  /** p2: curation with NEAR-dup dedup — the production composition at
    * 100 TB. The drop list comes from the MinHash-LSH → verify → GraphX
    * connected-components chain (d2/d6: bucket-join candidate cost, never
    * all-pairs); everything after the broadcast anti-join is a per-row
    * map or pushed filter, same as [[p1Curate]]. The DuckDB oracle
    * recomputes the full chain independently (exact pair set + recursive
    * CTE clustering + the same gates).
    */
  def p2CurateNearDup(s: SparkSession, d: String): DataFrame = {
    val dropList = Dedup
      .d6DedupClusters(s, d)
      .filter(col("doc_id") =!= col("canonical_id"))
      .select("doc_id")

    val tk = filter(split(col("text"), " "), t => t =!= "")
    val stops = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    Tables
      .documents(s, d)
      .join(broadcast(dropList), Seq("doc_id"), "left_anti")
      .select(
        col("doc_id"),
        col("lang"),
        col("text"),
        size(tk).as("n_tokens"),
        (size(filter(tk, t => t.isin(stops: _*))).cast("double") / greatest(size(tk), lit(1)))
          .as("sr"),
        (size(array_distinct(tk)).cast("double") / greatest(size(tk), lit(1))).as("dr")
      )
      .filter(
        col("n_tokens").between(20, 1000) && col("sr") <= 0.5 && col("dr") >= 0.2 &&
          substring(md5(col("text")), 1, 1).isin("0", "1", "2", "3", "4", "5", "6", "7")
      )
      .select("doc_id", "lang", "n_tokens")
      .orderBy("doc_id")
  }

  /** p6 (round 9): GOPHER + SEMANTIC-DECONTAMINATION curation — the
    * round-9 operators composed into the screen a modern pretraining
    * pipeline actually runs before tokenization:
    *
    *   Gopher rule battery (t30: word-count / word-length / alpha /
    *   stop-word gates)
    *     → semantic decontamination (t28: drop docs whose embedding
    *       sits within τ of ANY benchmark vector; benchmark docs
    *       themselves never enter the training pool)
    *     → per-source token budget (running token sum over survivors
    *       in doc_id order, cut at B per source — the sampling step
    *       that balances the source mix)
    *
    * The chain is order-sensitive end-to-end: a doc the Gopher gate
    * drops never consumes budget, and a decontaminated doc frees budget
    * for every later doc in its source — so the whole composition is
    * one oracle-gated unit (the p5 discipline). Cost at 100 TB: gates
    * are per-row pushed filters, decontamination is a corpus scan ×
    * broadcast benchmark, and the budget is one window per source key —
    * no stage shuffles more than (source, doc) keys.
    */
  def p6CurateDecontam(s: SparkSession, d: String, tau: Double = 0.4, budgetTokens: Long = 600L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gophKeep = TextAnalysis.t30GopherRules(s, d).filter(col("keep")).select("doc_id")
    val contaminated = TextAnalysis
      .t28SemanticDecontaminate(s, d, tau)
      .filter(col("contaminated"))
      .select(col("vec_id").as("doc_id"))
    // benchmark docs (t28's md5-prefix convention) are held out entirely
    val isBench = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1) === "0"
    val survivors = Tables
      .documents(s, d)
      .filter(!isBench)
      .join(gophKeep, "doc_id")
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
      .select(
        col("doc_id"),
        col("source"),
        size(filter(split(col("text"), " "), t => t =!= "")).cast("long").as("n_tokens")
      )
    val w = Window.partitionBy("source").orderBy("doc_id")
    survivors
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
      .orderBy("doc_id")
  }

  /** p7: the AUDIO curation chain — m9's real decode, m11's VAD
    * segmentation, a speech-density gate, and m6's budgeted shard
    * algebra composed into ONE oracle-gated unit: clips must show a
    * sustained voiced run (max_run ≥ 2 windows) and at least half their
    * windows voiced (`2·n_voiced ≥ n_windows`, windows from the DECODED
    * sample count — integer arithmetic end-to-end), then survivors pack
    * into voiced-window-budgeted training shards via the Knuth-hash
    * bucket + exclusive running prefix (p4's discipline: the gate
    * changes who consumes budget, so stage order is part of the hash).
    * Everything from PCM bytes to shard ids is exact integers — the
    * whole multimodal pipeline (decode → analyze → gate → plan) rides
    * the driver gate like a relational query.
    */
  def p7CurateAudio(
      s: SparkSession,
      d: String,
      budgetWindows: Double = 60.0,
      nBuckets: Int = 4
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seg = graft.operators.Multimodal.m11AudioSegments(s, d)
    val stats = graft.operators.Multimodal.m9WavDecode(s, d).select(col("doc_id"), col("n_samples"))
    val survivors = seg
      .join(stats, "doc_id")
      .withColumn("n_windows", floor((col("n_samples") + lit(15L)) / lit(16.0)).cast("long"))
      .filter(col("max_run") >= 2 && col("n_voiced") * 2 >= col("n_windows"))
    val rk = pmod(col("doc_id").bitwiseAND(lit(2147483647L)) * lit(2654435761L), lit(4294967296L))
    val b = survivors
      .withColumn("rk", rk)
      .withColumn("bkt", pmod(col("rk"), lit(nBuckets)))
    val w = Window
      .partitionBy("bkt")
      .orderBy("rk", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    b.withColumn("prefix", coalesce(sum("n_voiced").over(w), lit(0L)))
      .withColumn(
        "shard_id",
        col("bkt") * 100000 + floor(col("prefix") / lit(budgetWindows)).cast("long")
      )
      .groupBy("shard_id")
      .agg(
        count(lit(1)).as("n_clips"),
        sum("n_voiced").cast("long").as("total_voiced"),
        min("doc_id").as("first_doc")
      )
      .orderBy("shard_id")
  }

  /** p8: the INCREMENTAL-PUBLISH chain — what a production frontier
    * actually runs per ingest cycle, composed into one oracle-gated
    * unit:
    *
    *   new arrivals (doc_id ≥ midpoint — d21's frontier model)
    *     → incremental URL dedup against the reference half
    *       (d21's bloom prefilter + exact confirm join)
    *     → token-count quality gate
    *     → PUBLISH to a [[SnapshotStore]] via the OCC staged commit
    *       (unique staging dir + commitStagedIfCurrent — s6's protocol)
    *     → report FROM THE LANDED VERSION (not the in-flight frame)
    *
    * Reading the report back from the committed store version makes the
    * publish step itself load-bearing in the hash: a torn commit, a
    * wrong manifest flip, or a staging clobber surfaces as a value
    * mismatch, not just a test failure. Cost shape at 100 TB: the bloom
    * is KB–MB broadcast state, the confirm join runs over O(dups+fp)
    * rows, the gate is a per-row filter, and the publish is one
    * manifest rename.
    */
  def p8CurateIncremental(s: SparkSession, d: String): DataFrame = {
    import graft.plans.GraftExpressions
    // frontier URL keyed by a content-derived path segment: d21's %60
    // URL fixture SATURATES (every arrival's URL exists in any
    // half-corpus reference), which would make incremental dedup drop
    // the whole frontier; a 256-bucket md5(text) segment leaves both
    // seen and fresh URLs at every SF — the realistic frontier mix
    val urlKey =
      concat(col("source"), lit("/"), substring(md5(col("text").cast("binary")), 1, 2))
    val docs = Tables.documents(s, d).withColumn("url_key", urlKey)
    val cut = docs.agg(floor((max("doc_id") + lit(1)).cast("double") / 2).cast("long").as("cut"))
    val withCut = docs.crossJoin(broadcast(cut))
    val old = withCut.filter(col("doc_id") < col("cut"))
    val arrivals = withCut.filter(col("doc_id") >= col("cut"))
    // d21's bloom-prefilter + exact-confirm shape: the sketch is the
    // only driver state, misses short-circuit, the confirm join kills
    // the false positives — the answer stays exact
    val bloomBytes = old
      .agg(GraftExpressions.bloomAgg(xxhash64(col("url_key")), 100000L, 1L << 20).as("bf"))
      .head()
      .getAs[Array[Byte]]("bf")
    val admitted =
      arrivals.filter(GraftExpressions.bloomMightContain(lit(bloomBytes), xxhash64(col("url_key"))))
    val dups = admitted
      .join(old.select(col("url_key")).distinct(), Seq("url_key"), "left_semi")
      .select("doc_id")
    val tk = filter(split(col("text"), " "), t => t =!= "")
    val survivors = arrivals
      .join(broadcast(dups), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), size(tk).cast("long").as("n_tokens"))
      .filter(col("n_tokens").between(5, 2000))
    val store = graft.TempDirs.create("graft_p8_") + "/store"
    val staged = s"$store/_stage_${java.util.UUID.randomUUID()}"
    survivors.write.mode("overwrite").parquet(staged)
    val v = SnapshotStore
      .commitStagedIfCurrent(store, None, staged)
      .getOrElse(throw new IllegalStateException("fresh p8 store must accept the first commit"))
    SnapshotStore
      .readVersion(s, store, v)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
      .orderBy("source")
  }

  /** p9: MULTIMODAL CURATION CAPSTONE over the REAL decode path — the
    * chain an image-corpus pipeline runs per ingest cycle, as ONE
    * oracle-gated unit: decode each staged PNG ONCE on an executor and
    * emit BOTH signals from the same raster (the m14b 8×8 dHash and the
    * m15 interior Laplacian — a second decode pass per signal is how
    * multimodal pipelines quietly double their cost), gate on sharpness
    * (cross-multiplied `l1 ≥ 150·n_interior` — no division enters the
    * hash), dedup survivors by perceptual hash (canonical = min id per
    * dhash, chosen AMONG SURVIVORS — stage order is part of the hash),
    * and pack canonicals into md5-bucketed shards with per-shard pixel
    * mass. Stats-only rows ride the shuffles; the oracle replays pixel
    * model → hash → gate → dedup → shard end-to-end, so a wrong decode
    * OR a reordered stage fails the gate.
    */
  def p9CurateMultimodal(s: SparkSession, d: String, minSharpPerPx: Long = 150L, nShards: Int = 8): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val feats = s.read
      .parquet(s"${graft.operators.Multimodal.mediaStore(s, d)}/media")
      .select(col("doc_id"), col("png_meta"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val img = Multimodal.decodeImage(id, bytes)
          val (w, h) = (img.getWidth, img.getHeight)
          val raster = img.getRaster
          // dHash over the decoded raster (m14b's grid)
          var hash = 0L
          var r = 0
          while (r < 8) {
            val rr = math.min(r * h / 8, h - 1)
            var c = 0
            var left = raster.getSample(0, rr, 0)
            while (c < 7) {
              val right = raster.getSample(math.min((c + 1) * w / 8, w - 1), rr, 0)
              if (left > right) hash |= 1L << (r * 7 + c)
              left = right
              c += 1
            }
            r += 1
          }
          // interior Laplacian L1 (m15)
          var l1 = 0L
          var y = 1
          while (y < h - 1) {
            var x = 1
            while (x < w - 1) {
              val cv = 4L * raster.getSample(x, y, 0)
              val nb = raster.getSample(x - 1, y, 0).toLong + raster.getSample(x + 1, y, 0) +
                raster.getSample(x, y - 1, 0) + raster.getSample(x, y + 1, 0)
              l1 += math.abs(cv - nb)
              x += 1
            }
            y += 1
          }
          (id, hash, l1, (w - 2).toLong * (h - 2))
        }
      }
      .toDF("doc_id", "dhash", "sharp_l1", "n_interior")
    val gated = feats.filter(col("sharp_l1") >= col("n_interior") * minSharpPerPx)
    val wDh = Window.partitionBy("dhash")
    val canon = gated
      .withColumn("canonical_id", min("doc_id").over(wDh))
      .filter(col("doc_id") === col("canonical_id"))
    canon
      .withColumn(
        "shard",
        pmod(
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"),
          lit(nShards.toLong)
        )
      )
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_imgs"),
        sum("n_interior").as("n_px"),
        sum("sharp_l1").as("sum_sharp")
      )
      .orderBy("shard")
  }

  /** p10: VIDEO CURATION PIPELINE — p7's shape for the third modality:
    * real multi-frame decode (m13b) → per-clip scene profile → editorial
    * gates (≥ 2 scenes so it's not a static card; no single scene
    * holding more than ⅔ of the clip — integer cross-multiplied; ≥ 30
    * frames of material) → deterministic Knuth-hash sharding with a
    * frame budget per shard (m6's balanced-packing arithmetic). The
    * manifest row (shard, clip count, total frames) is what a training
    * dataloader consumes. Scene stats ride m13b's one-shuffle plan; the
    * gates are a model-sized aggregate filter; sharding shuffles only
    * (doc_id, n_frames) scalars.
    */
  def p10CurateVideo(
      s: SparkSession,
      d: String,
      budgetFrames: Double = 400.0,
      nBuckets: Int = 4
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val profile = graft.operators.Multimodal
      .m13bSceneReal(s, d)
      .groupBy("doc_id")
      .agg(
        max("scene_id").cast("long").as("n_scenes"),
        sum("n_frames").cast("long").as("n_frames"),
        max("n_frames").cast("long").as("longest_scene")
      )
    val survivors = profile.filter(
      col("n_scenes") >= 2 &&
        col("longest_scene") * 3 <= col("n_frames") * 2 &&
        col("n_frames") >= 30
    )
    val rk = pmod(col("doc_id").bitwiseAND(lit(2147483647L)) * lit(2654435761L), lit(4294967296L))
    val b = survivors
      .withColumn("rk", rk)
      .withColumn("bkt", pmod(col("rk"), lit(nBuckets)))
    val w = Window
      .partitionBy("bkt")
      .orderBy("rk", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    b.withColumn("prefix", coalesce(sum("n_frames").over(w), lit(0L)))
      .withColumn(
        "shard_id",
        col("bkt") * 100000 + floor(col("prefix") / lit(budgetFrames)).cast("long")
      )
      .groupBy("shard_id")
      .agg(
        count(lit(1)).as("n_clips"),
        sum("n_frames").cast("long").as("total_frames"),
        min("doc_id").as("first_doc")
      )
      .orderBy("shard_id")
  }
}
