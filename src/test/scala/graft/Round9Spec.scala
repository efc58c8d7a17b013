package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 additions. The headline is the timestamp-encoding matrix:
  * round 8 ended red because the regenerated events table switched its
  * parquet `ts` encoding (int64-nanos → µs NTZ) and the loader only
  * normalized the nanos case. These tests pin all three producer
  * encodings through [[graft.sources.Tables.normalizeTs]] so the next
  * regeneration is a non-event.
  */
class TsEncodingMatrixSpec extends AnyFunSuite {
  import TestSession._
  import graft.sources.Tables

  private val microInstants = Seq(
    1700000000000000L, // 2023-11-14T22:13:20Z
    1700000123456789L, // sub-second µs precision must survive
    0L                 // epoch
  )

  private def microsOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq.sorted

  test("encoding matrix: int64-nanos column normalizes to the same instants") {
    import spark.implicits._
    val dir = TempDirs.create("graft_ts_nanos_")
    microInstants.map(_ * 1000L).toDF("ts").write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Tables.normalizeTs(spark.read.parquet(s"$dir/events.parquet"))
    assert(got.schema("ts").dataType == TimestampType)
    assert(microsOf(got) == microInstants.sorted)
  }

  test("encoding matrix: µs TIMESTAMP (instant) round-trips unchanged") {
    import spark.implicits._
    val dir = TempDirs.create("graft_ts_tz_")
    microInstants.toDF("us").select(timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType == TimestampType)
    val got = Tables.normalizeTs(raw)
    assert(got.schema("ts").dataType == TimestampType)
    assert(microsOf(got) == microInstants.sorted)
  }

  test("encoding matrix: µs TIMESTAMP_NTZ parquet normalizes to the same instants") {
    // The round-8 breakage: parquet TIMESTAMP(isAdjustedToUTC=false).
    // A Spark-written NTZ file keeps NTZ through its embedded schema
    // metadata (footer-less producers like the driver's are instead
    // covered by inferTimestampNTZ=false — pinned on live data below),
    // so this exercises the loader's NTZ branch against a genuine
    // parquet scan: post-normalize the type AND the instants must match
    // the other two encodings.
    import spark.implicits._
    val dir = TempDirs.create("graft_ts_ntz_")
    microInstants.toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType == TimestampNTZType) // scan preserves; loader folds
    val got = Tables.normalizeTs(raw)
    assert(got.schema("ts").dataType == TimestampType)
    assert(microsOf(got) == microInstants.sorted)
  }

  test("normalizeTs folds an in-memory TIMESTAMP_NTZ column (second defense layer)") {
    // A session built WITHOUT GraftSession.configure still normalizes:
    // the loader's NTZ branch casts to TimestampType under UTC.
    val ntz = spark.sql(
      "SELECT cast(timestamp_micros(v) AS timestamp_ntz) AS ts FROM VALUES (1700000123456789) t(v)")
    assert(ntz.schema("ts").dataType == TimestampNTZType)
    val got = graft.sources.Tables.normalizeTs(ntz)
    assert(got.schema("ts").dataType == TimestampType)
    assert(got.select(unix_micros(col("ts"))).head().getLong(0) == 1700000123456789L)
  }

  test("normalizeTs rejects a non-timestamp encoding loudly (no silent pass-through)") {
    import spark.implicits._
    val bad = Seq("not-a-ts").toDF("ts")
    val e = intercept[IllegalArgumentException](graft.sources.Tables.normalizeTs(bad))
    assert(e.getMessage.contains("unsupported"))
  }

  test("t4_fingerprint_rolling is exact beyond 256 tokens (no series cap in engine or oracle)") {
    // The staged corpora max out at 99 whitespace tokens, so the driver
    // gate never probes long documents; this fixture pins the checksum
    // algebra at 300 tokens against an independent JVM recompute
    // (MessageDigest md5 — no Spark expressions shared with the
    // implementation under test).
    import spark.implicits._
    val words = (1 to 300).map(i => s"tok$i")
    val dir = TempDirs.create("graft_t4_long_")
    Seq((1L, words.mkString(" ")), (2L, ""))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.t4FingerprintRolling(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val M = 34359738337L
    def h(t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val hs = words.map(h)
    val expSum = hs.sum % M
    val expPos = hs.zipWithIndex.map { case (v, i) => v * (i + 1) }.sum % M
    assert(got.toSeq == Seq((1L, expSum, expPos), (2L, 0L, 0L)))
  }

  test("t28 semantic decontamination equals an independent driver-side recompute") {
    val got = graft.operators.TextAnalysis.t28SemanticDecontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getBoolean(3)))
    // independent recompute: plain Scala doubles over the raw table
    val all = graft.sources.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    val (bench, corp) = all.partition { case (id, _) => md5hex(id.toString).startsWith("0") }
    def dot(a: Array[Double], b: Array[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
    val exp = corp.map { case (id, e) =>
      val scored = bench.map { case (bid, be) =>
        (bid, dot(e, be) / (math.sqrt(dot(e, e)) * math.sqrt(dot(be, be))))
      }
      val mc = scored.map(_._2).max
      val bid = scored.filter(_._2 == mc).map(_._1).min
      (id, math.rint(mc * 1e4) / 1e4, bid, mc >= 0.4)
    }.sortBy(_._1)
    assert(got.length == exp.length && got.length == corp.length)
    // dot-product association differs between the recompute (pairwise
    // zip-sum) and the engine's left fold, so compare cosines to 1e-9
    // and everything else exactly
    got.zip(exp).foreach { case ((gi, gc, gb, gf), (ei, ec, eb, ef)) =>
      assert(gi == ei && gb == eb && gf == ef && math.abs(gc - ec) <= 1e-9, s"vec $gi")
    }
    assert(got.exists(_._4) && got.exists(!_._4), "tau should split the corpus at this geometry")
  }

  test("s22 streaming curation index equals the batch gate+dedup replay; copies counted across batches") {
    val got = graft.operators.StreamingBatch.s22StreamCurate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val tk = graft.functions.TextFunctions.tokens(col("text"))
    val exp = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), tk.as("tk"))
      .filter(size(col("tk")) >= 10 &&
        size(array_distinct(col("tk"))).cast("double") / greatest(size(col("tk")), lit(1)) >= 0.3)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .groupBy("fp").agg(min("doc_id").as("doc_id"), (count(lit(1)) * 2).as("n_copies"))
      .select("doc_id", "fp", "n_copies").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == exp.toSeq)
    assert(got.forall(_._3 == 2L), "every doc staged twice, no intra-corpus exact dups")
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(got.length < nDocs, "the quality gate must reject something")
  }

  test("c22 retraction-maintained summary equals a from-scratch recompute of the final state") {
    val got = graft.operators.Maintenance.c22MvRetraction(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    val ev = graft.sources.Tables.events(spark, sf)
    val Array(b) = ev.agg(min(unix_micros(col("ts"))).as("mn"), max(unix_micros(col("ts"))).as("mx")).collect()
    val mid = Math.floorDiv(b.getLong(0) + b.getLong(1), 2L)
    val exp = ev
      .filter(!(unix_micros(col("ts")) < mid && col("event_id") % 7 === 0))
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("decimal(38,2)").cast("double").as("sum_value"))
      .orderBy("day", "event_type").collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == exp.toSeq)
    // the changelog genuinely retracted rows: maintained totals < raw totals
    assert(got.map(_._3).sum < ev.count())
  }

  test("BPE trainer reproduces the hand-computed merge sequence on a fixture corpus") {
    // Sennrich-style fixture: freqs low:5 lower:2 newest:6 widest:3.
    // Hand computation (greedy, ties lexico-smallest pair):
    //  round 1: (e,s) 9 — ties (s,t) 9, lexico picks (e,s)
    //  round 2: (es,t) 9
    //  round 3: (l,o) 7 — ties (o,w) 7, lexico picks (l,o)
    //  round 4: (lo,w) 7
    //  round 5: (e,w) 6 — ties (n,e)/(w,est) 6, lexico picks (e,w)
    import spark.implicits._
    val dir = TempDirs.create("graft_bpe_fix_")
    val docs = Seq.fill(5)("low").++(Seq.fill(2)("lower")).++(Seq.fill(6)("newest")).++(Seq.fill(3)("widest"))
    docs.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val merges = graft.operators.TextAnalysis.trainBpeMerges(spark, dir, nMerges = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.toSeq == Seq(
      (1, "e", "s", 9L), (2, "es", "t", 9L), (3, "l", "o", 7L), (4, "lo", "w", 7L), (5, "e", "w", 6L)
    ), merges.toSeq.toString)
  }

  test("BPE trainer round 1 equals the oracle-gated pair-stats argmax on the corpus") {
    val top = graft.operators.TextAnalysis.t29BpePairStats(spark, sf, k = 1)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3))).head
    val m1 = graft.operators.TextAnalysis.trainBpeMerges(spark, sf, nMerges = 1)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3))).head
    assert(top == m1)
  }

  test("t30 gopher battery: rules computed from the token array, keep = conjunction, both outcomes occur") {
    val rows = graft.operators.TextAnalysis.t30GopherRules(spark, sf).collect()
    rows.foreach { r =>
      val keep = r.getAs[Boolean]("keep")
      val conj = r.getAs[Boolean]("ok_word_count") && r.getAs[Boolean]("ok_word_len") &&
        r.getAs[Boolean]("ok_alpha") && r.getAs[Boolean]("ok_stop")
      assert(keep == conj)
    }
    assert(rows.exists(_.getAs[Boolean]("keep")) && rows.exists(!_.getAs[Boolean]("keep")),
      "thresholds should split this corpus")
  }

  test("p6 chain: survivors pass every stage, budget cut is per-source monotone") {
    val out = graft.operators.Curate.p6CurateDecontam(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val goph = graft.operators.TextAnalysis.t30GopherRules(spark, sf)
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    val contaminated = graft.operators.TextAnalysis.t28SemanticDecontaminate(spark, sf)
      .filter(col("contaminated")).select("vec_id").collect().map(_.getLong(0)).toSet
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    out.foreach { case (id, _, _, cum) =>
      assert(goph.contains(id) && !contaminated.contains(id) && !md5hex(id.toString).startsWith("0"))
      assert(cum <= 600L)
    }
    // per-source cumulative sums are consistent and ordered by doc_id
    out.groupBy(_._2).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._1)
      var acc = 0L
      sorted.foreach { case (_, _, n, cum) => acc += n; assert(cum == acc) }
    }
    assert(out.nonEmpty && out.length < goph.size, "budget and decon must cut below the gate-pass set")
  }

  test("e33 closed-form CUSUM equals the sequential max(0, S+y) recursion") {
    val got = graft.operators.Events.e33CusumDrift(spark, sf).collect()
      .map(r => ((r.getString(1), r.getDate(0).toString), (r.getLong(2), r.getDouble(3), r.getBoolean(4))))
    val daily = got.groupBy(_._1._1).view.mapValues(_.sortBy(_._1._2)).toMap
    daily.foreach { case (_, rows) =>
      val ns = rows.map(_._2._1)
      val mu = BigDecimal((ns.sum.toDouble / ns.length).formatted("%.6f"))
      var sRec = BigDecimal(0)
      rows.foreach { case (_, (n, cusum, alarm)) =>
        sRec = (sRec + (BigDecimal(n) - mu)).max(BigDecimal(0))
        assert(math.abs(sRec.toDouble - cusum) < 1e-9, s"recursion $sRec vs window $cusum")
        assert(alarm == (sRec > mu))
      }
    }
    assert(got.nonEmpty)
  }

  test("m10 contrastive pairs: negatives are in-batch, ranks dense, cosines descend") {
    val rows = graft.operators.Multimodal.m10ContrastivePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(md, 16) % 16
    }
    rows.groupBy(_._1).foreach { case (anchor, negs) =>
      val sorted = negs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length))
      assert(sorted.sliding(2).forall { case Array(a, b) => a._4 >= b._4; case _ => true })
      sorted.foreach { case (_, _, nid, _) =>
        assert(bucket(nid) == bucket(anchor) && nid != anchor)
      }
    }
    assert(rows.nonEmpty)
  }

  test("randomized: the three ts encodings normalize to identical instants (10 seeded trials)") {
    import spark.implicits._
    for (trial <- 0 until 10) {
      val rnd = new scala.util.Random(9000 + trial)
      // instants across 1970..2100 with full µs precision — the range a
      // real events feed can carry (and where a ms/µs/ns slip would show)
      val micros = Seq.fill(40)(math.abs(rnd.nextLong()) % 4102444800000000L)
      val dir = TempDirs.create(s"graft_ts_rand_${trial}_")
      micros.map(_ * 1000L).toDF("ts").write.mode("overwrite").parquet(s"$dir/nanos.parquet")
      micros.toDF("us").select(timestamp_micros(col("us")).as("ts"))
        .write.mode("overwrite").parquet(s"$dir/tz.parquet")
      micros.toDF("us").select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
        .write.mode("overwrite").parquet(s"$dir/ntz.parquet")
      val got = Seq("nanos", "tz", "ntz").map { enc =>
        val df = Tables.normalizeTs(spark.read.parquet(s"$dir/$enc.parquet"))
        assert(df.schema("ts").dataType == TimestampType, s"trial $trial $enc")
        df.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted.toSeq
      }
      assert(got.distinct.size == 1 && got.head == micros.sorted, s"trial $trial")
    }
  }

  test("d20 soft dedup: weights sum to one per cluster, singletons weigh 1, mass = dedup'd corpus") {
    import graft.operators.Dedup
    val w = Dedup.d20SoftDedup(spark, sf).collect()
    val docs = graft.sources.Tables.documents(spark, sf).count()
    assert(w.length == docs, "every document is weighted")
    // singleton ⇒ weight exactly 1; member ⇒ weight = 1/cluster_size
    assert(w.forall { r =>
      val cs = r.getAs[Int]("cluster_size")
      math.abs(r.getAs[Double]("weight") - 1.0 / cs) < 1e-6
    })
    // total soft mass == what hard dedup (d7, keep one per cluster) keeps
    val softMass = w.map(_.getAs[Double]("weight")).sum
    val hardKept = Dedup.d7DedupApply(spark, sf).count()
    assert(math.abs(softMass - hardKept) < 0.01, s"soft=$softMass hard=$hardKept")
  }

  test("e34 markov: one prediction per antecedent, prob in (0,1], argmax beats siblings") {
    import graft.operators.Events
    val preds = Events.e34MarkovNext(spark, sf).collect()
    val types = preds.map(_.getAs[String]("prev_type"))
    assert(types.distinct.length == types.length && preds.nonEmpty)
    assert(preds.forall(r => r.getAs[Double]("prob") > 0 && r.getAs[Double]("prob") <= 1))
    // the predicted successor must carry the max observed count for its
    // antecedent (smoothing is monotone in the count)
    val trans = Events.e13Transitions(spark, sf).collect()
      .groupBy(_.getAs[String]("prev_type"))
    preds.foreach { r =>
      val sib = trans(r.getAs[String]("prev_type")).map(_.getAs[Long]("n"))
      assert(r.getAs[Long]("n_obs") == sib.max)
    }
  }

  test("q51 hierarchy closure: root covers all, pair-count conservation, depths start at root") {
    import graft.operators.Relational
    val rows = Relational.q51Hierarchy(spark, sf).collect()
    val n = rows.length
    val byKey = rows.map(r => r.getAs[Long]("c_custkey") ->
      (r.getAs[Long]("depth"), r.getAs[Long]("subtree_size"))).toMap
    assert(byKey(0L) == (0L, n.toLong), "node 0 is the unique root and ancestors everyone")
    assert(rows.forall(r => r.getAs[Long]("c_custkey") == 0L || r.getAs[Long]("depth") >= 1))
    // every (node, ancestor) pair is counted once from each side:
    // Σ depth (pairs seen from the descendant) == Σ (subtree−1) (from the ancestor)
    val sumDepth = rows.map(_.getAs[Long]("depth")).sum
    val sumDesc = rows.map(_.getAs[Long]("subtree_size") - 1).sum
    assert(sumDepth == sumDesc && sumDepth >= n - 1)
  }

  test("c23 zone map: the value-range probe prunes files, and pruning never changes the answer") {
    import graft.operators.Maintenance
    val total = Maintenance.zoneMatchedFiles(spark, sf, Double.MinValue, Double.MaxValue)
    val hit = Maintenance.zoneMatchedFiles(spark, sf, 100.0, 120.0)
    assert(total == 16L, s"zone map covers every file (got $total)")
    assert(hit < total && hit >= 1, s"selective range must prune ($hit of $total)")
    // a range outside the domain prunes everything
    assert(Maintenance.zoneMatchedFiles(spark, sf, 1e9, 2e9) == 0L)
    // semantic invisibility: pruned result == raw-table scan result
    val pruned = Maintenance.c23ZoneMap(spark, sf).collect()
    val raw = graft.sources.Tables.events(spark, sf)
      .filter(col("value") >= 100.0 && col("value") <= 120.0)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(38,2)").cast("double").as("sum_value"),
        countDistinct("user_id").as("n_users"))
      .orderBy("event_type").collect()
    assert(pruned.map(_.toString).toSeq == raw.map(_.toString).toSeq)
  }

  test("s23 CDC: reversed arrival really is reversed; tombstones live in the store, not the snapshot") {
    import graft.operators.StreamingBatch
    val fold = StreamingBatch.s23CdcFold(spark, sf)
    val snap = StreamingBatch.s23Snapshot(spark, fold).collect()
    // no user whose latest event is an error survives in the snapshot
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(desc("ts"), desc("event_id"))
    val latest = graft.sources.Tables.events(spark, sf)
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
    val deletedUsers = latest.filter(col("event_type") === "error")
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(deletedUsers.nonEmpty, "fixture must exercise the tombstone arm")
    assert(snap.map(_.getAs[Long]("user_id")).toSet.intersect(deletedUsers).isEmpty)
    // the store RETAINS the tombstones the snapshot dropped
    val store = graft.sources.BucketedStateStore
      .readLatest(spark, fold).get
    val storeD = store.filter(col("op") === "D").select("user_id")
      .collect().map(_.getLong(0)).toSet
    assert(storeD == deletedUsers, "every deleted key is tombstoned in the store")
    assert(store.count() == snap.length + deletedUsers.size)
  }

  test("v13 SQ8: shortlist=corpus degenerates to v1 exactly; tight shortlist keeps high recall") {
    import graft.operators.Similarity
    val n = graft.sources.Tables.embeddings(spark, sf).count().toInt
    val exact = Similarity.v13KnnSq8(spark, sf, shortlist = n).collect()
    val brute = Similarity.v1KnnBrute(spark, sf).collect()
    assert(exact.map(_.toString).toSeq == brute.map(_.toString).toSeq,
      "full-shortlist SQ8 rerank must equal brute-force exactly")
    val sq8 = Similarity.v13KnnSq8(spark, sf).collect()
    def tops(rows: Array[org.apache.spark.sql.Row]) = rows
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("c_id")).toSet }
    val (bt, st) = (tops(brute), tops(sq8))
    val recall = bt.keysIterator.map(q => (bt(q) & st(q)).size.toDouble / bt(q).size).sum / bt.size
    assert(recall >= 0.9, s"SQ8 recall@5 with shortlist 20 was $recall")
  }

  test("d21 incremental dedup: bloom admits every true dup; answer equals the plain join") {
    import graft.operators.Dedup
    val rows = Dedup.d21IncrementalDedup(spark, sf).collect()
    assert(rows.nonEmpty)
    // exactness: forward-half URLs joined against back-half refs directly
    val admitted = Dedup.d21BloomAdmitted(spark, sf)
    assert(admitted >= rows.map(_.getAs[Long]("doc_id")).distinct.length,
      "no false negatives: every dup doc passed the prefilter")
    // every matched ref really is from the reference (earlier) half
    assert(rows.forall(r => r.getAs[Long]("ref_doc_id") < r.getAs[Long]("doc_id")))
  }

  test("bloom component: aggregate + might_contain has no false negatives and bounded fp") {
    import graft.plans.GraftExpressions
    import spark.implicits._
    val members = (0L until 1000L).map(i => i * 2654435761L)
    val bf = members.toDF("k")
      .agg(GraftExpressions.bloomAgg(col("k"), 1000L, 1L << 16).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val hits = members.toDF("k")
      .filter(GraftExpressions.bloomMightContain(lit(bf), col("k"))).count()
    assert(hits == 1000L, "every inserted key must be admitted")
    val probes = (1L to 10000L).map(i => i * 7919L + 3L)
    val fp = probes.toDF("k")
      .filter(GraftExpressions.bloomMightContain(lit(bf), col("k"))).count()
    assert(fp < 500L, s"false-positive rate out of bounds: $fp/10000")
  }

  test("t31 backoff LM: held-out split, both scoring arms fire, scores are log-probabilities") {
    import graft.operators.TextAnalysis
    val rows = TextAnalysis.t31BackoffLm(spark, sf).collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Long]("doc_id") % 2 == 1), "only held-out docs scored")
    val backoff = rows.map(_.getAs[Long]("n_backoff")).sum
    val pos = rows.map(_.getAs[Long]("n_pos")).sum
    assert(backoff > 0 && backoff < pos, s"both arms must fire ($backoff of $pos backed off)")
    assert(rows.forall(_.getAs[Double]("avg_logscore") < 0.0), "mean log score strictly negative")
  }

  test("m11 audio VAD: every clip segmented, islands conserve voiced mass, gate is non-trivial") {
    import graft.operators.Multimodal
    val rows = Multimodal.m11AudioSegments(spark, sf).collect()
    val docs = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.length == docs, "adaptive gate keeps at least one voiced window per clip")
    rows.foreach { r =>
      val (seg, mx, voiced) = (r.getAs[Long]("n_segments"), r.getAs[Long]("max_run"), r.getAs[Long]("n_voiced"))
      assert(seg >= 1 && mx >= 1 && voiced >= seg && mx <= voiced - seg + 1)
    }
    // the gate must actually DROP windows somewhere (else it's a no-op)
    val totalWindows = rows.map { r =>
      val id = r.getAs[Long]("doc_id"); (64 + id % 41 + 15) / 16
    }.sum
    assert(rows.map(_.getAs[Long]("n_voiced")).sum < totalWindows)
  }

  test("s24 online bloom dedup: equals the batch answer; dups cross micro-batch boundaries") {
    import graft.operators.StreamingBatch
    val rows = StreamingBatch.s24StreamBloomDedup(spark, sf).collect()
    assert(rows.nonEmpty)
    // batch recompute: every doc after its canonical URL's first
    val batch = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        concat(lit("https://"), col("source"), lit(".example.com/page/"),
          pmod(col("doc_id"), lit(60)).cast("string")).as("u"))
    val firsts = batch.groupBy("u").agg(min("doc_id").as("ref"))
    val expect = batch.join(firsts, "u").filter(col("doc_id") > col("ref"))
      .select(col("doc_id"), col("ref")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("ref_doc_id"))).toSet
    assert(got == expect, s"streaming=${got.size} batch=${expect.size}")
    // the cross-batch arm fired: some dup's first lives in an earlier id-quartile
    val n = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.exists(r => r.getAs[Long]("doc_id") * 4 / n != r.getAs[Long]("ref_doc_id") * 4 / n))
  }

  test("c24 partition evolution: each generation prunes under its OWN spec") {
    import graft.operators.Maintenance
    val dir = Maintenance.partEvoStore(spark, sf)
    val (g1, g2) = Maintenance.partEvoRead(spark, dir)
    // gen1 (day-partitioned): a day predicate is a PartitionFilter
    val q1 = g1.filter(col("day") === g1.select(min("day")).head().getDate(0))
    assert(q1.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(day"))
    // gen2 ((day, hr)-partitioned): the HOUR predicate also partition-prunes
    val q2 = g2.filter(col("hr") >= 6 && col("hr") <= 11)
    val scan2 = q2.queryExecution.executedPlan.toString
    assert(scan2.contains("PartitionFilters:") && scan2.contains("(hr"))
    // both generations contribute rows to the evolved-table probe
    assert(q1.count() > 0 && q2.count() > 0)
    assert(Maintenance.c24PartitionEvolution(spark, sf).count() > 0)
  }

  test("p7 audio chain: the gate actually drops clips and shard mass equals survivor mass") {
    import graft.operators.{Curate, Multimodal}
    val shards = Curate.p7CurateAudio(spark, sf).collect()
    assert(shards.nonEmpty)
    val seg = Multimodal.m11AudioSegments(spark, sf).collect()
    val clips = seg.length
    val packed = shards.map(_.getAs[Long]("n_clips")).sum
    assert(packed < clips, s"the speech-density gate must drop clips ($packed of $clips packed)")
    assert(packed > 0)
    // conservation: voiced windows in shards == voiced windows of survivors
    val stats = Multimodal.m9WavDecode(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_samples")).toMap
    val survivorMass = seg.filter { r =>
      val nw = (stats(r.getAs[Long]("doc_id")) + 15) / 16
      r.getAs[Long]("max_run") >= 2 && r.getAs[Long]("n_voiced") * 2 >= nw
    }.map(_.getAs[Long]("n_voiced")).sum
    assert(shards.map(_.getAs[Long]("total_voiced")).sum == survivorMass)
  }

  test("e7b native as-of join: plans AsofJoinExec and equals the composed window form row-for-row") {
    import graft.operators.Events
    val native = Events.e7bAsofNative(spark, sf)
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"), s"expected AsofJoinExec in plan:\n${plan.take(800)}")
    val composed = Events.e7AsofJoin(spark, sf).collect().map(_.toString)
    val got = native.collect().map(_.toString)
    assert(got.toSeq == composed.toSeq, "native operator must equal the window composition")
    // the fixture exercises BOTH arms: matched purchases and no-prior-click nulls
    assert(got.exists(_.contains("null")) && got.exists(!_.contains("null")))
  }

  test("asof property: native exec equals the window composition on randomized (key, time) data") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 5) {
      // clustered keys, colliding timestamps, empty-key arms all exercised
      val leftRows = (1 to 300).map { i =>
        (rnd.nextInt(20).toLong, i.toLong, rnd.nextInt(50).toLong)
      }
      val rightRows = (1 to 300).map { i =>
        (rnd.nextInt(25).toLong, (1000 + i).toLong, rnd.nextInt(50).toLong)
      }
      val l = leftRows.toDF("k", "lid", "lt")
      val r = rightRows.toDF("rk", "rid", "rt")
      val native = graft.plans.AsofJoin
        .asof(l, r, "k", "lt", "rk", "rt", "rid")
        .select(col("k"), col("lid"), col("lt"), col("rid"), col("rt"))
      // reference: max (rt, rid) per (left row) with rt <= lt on the key
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k", "lid").orderBy(desc("rt"), desc("rid"))
      val ref = l.join(r, col("k") === col("rk") && col("rt") <= col("lt"), "left")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("k"), col("lid"), col("lt"), col("rid"), col("rt"))
      val a = native.collect().map(_.toString).sorted.toSeq
      val b = ref.collect().map(_.toString).sorted.toSeq
      assert(a == b, s"trial $trial: native=${a.size} ref=${b.size}")
    }
  }

  test("s25 streaming as-of: equals the batch window form; clicks carry across micro-batches") {
    import graft.operators.{Events, StreamingBatch}
    val streamed = StreamingBatch.s25StreamAsof(spark, sf).collect()
    val batch = Events.e7AsofJoin(spark, sf).collect()
    assert(streamed.map(_.toString).toSeq == batch.map(_.toString).toSeq,
      s"streaming=${streamed.length} batch=${batch.length}")
    // state must carry across batch boundaries: some purchase's matched
    // click is in an earlier ts-quartile of the staged span
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), unix_micros(col("ts")).as("us")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (mn, mx) = (ev.values.min, ev.values.max + 1)
    def quart(us: Long): Long = (us - mn) * 4 / (mx - mn)
    val crossBatch = streamed.filter(r => !r.isNullAt(2)).exists { r =>
      quart(ev(r.getAs[Long]("p_event_id"))) != quart(ev(r.getAs[Long]("click_event_id")))
    }
    assert(crossBatch, "no purchase matched a click from an earlier micro-batch")
  }

  test("c25 shallow clone: zero-copy before divergence, independent after, source untouched") {
    import graft.operators.Maintenance
    import graft.sources.SnapshotStore
    val src = Maintenance.mergeStore(spark, sf)
    val srcFilesBefore = SnapshotStore.readCurrent(spark, src).inputFiles.sorted.toSeq
    val clone = s"${TempDirs.create("graft_c25_test_")}/clone"
    SnapshotStore.shallowClone(src, clone)
    // zero-copy: the clone reads the SOURCE's files, owns none of its own
    val borrowed = SnapshotStore.readCurrent(spark, clone).inputFiles
    assert(borrowed.nonEmpty && borrowed.forall(_.contains(src.stripPrefix("file:"))))
    assert(SnapshotStore.currentVersion(clone).isEmpty, "a fresh clone has no local version")
    // diverge the clone
    SnapshotStore.readCurrent(spark, clone)
      .filter(pmod(col("user_id"), lit(7)) =!= 0)
      .write.mode("overwrite").parquet(SnapshotStore.versionPath(clone, 1))
    SnapshotStore.commit(clone, 1)
    val after = SnapshotStore.readCurrent(spark, clone)
    assert(after.inputFiles.forall(_.contains("clone")), "diverged clone reads its own files")
    assert(after.filter(pmod(col("user_id"), lit(7)) === 0).count() == 0)
    // the source: same file set, mod-7 users still present
    assert(SnapshotStore.readCurrent(spark, src).inputFiles.sorted.toSeq == srcFilesBefore)
    assert(SnapshotStore.readCurrent(spark, src)
      .filter(pmod(col("user_id"), lit(7)) === 0).count() > 0)
  }

  test("v14 IVF+SQ8 stack: exhaustive config equals v1; production config keeps useful recall") {
    import graft.operators.Similarity
    val exact = Similarity.v14KnnIvfSq8(spark, sf).collect()
    val brute = Similarity.v1KnnBrute(spark, sf).collect()
    assert(exact.map(_.toString).toSeq == brute.map(_.toString).toSeq)
    val prod = Similarity.v14KnnIvfSq8(spark, sf, nProbe = 4, shortlist = 20).collect()
    def tops(rows: Array[org.apache.spark.sql.Row]) = rows
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("c_id")).toSet }
    val (bt, pt) = (tops(brute), tops(prod))
    val recall = bt.keysIterator
      .map(q => (bt(q) & pt.getOrElse(q, Set.empty)).size.toDouble / bt(q).size)
      .sum / bt.size
    // uniform-random corpus: IVF probing bounds recall like v7's; the
    // SQ8 stage must not degrade it further than the probe already does
    val v7 = tops(Similarity.v7KnnIvf(spark, sf).collect())
    val v7recall = bt.keysIterator
      .map(q => (bt(q) & v7.getOrElse(q, Set.empty)).size.toDouble / bt(q).size)
      .sum / bt.size
    assert(recall >= v7recall - 0.1, s"SQ8 stage degraded IVF recall: $recall vs $v7recall")
  }

  test("m12 resize: thumbnails conserve pixel mass and box-partition every source pixel") {
    import graft.operators.Multimodal
    val thumbs = Multimodal.m12ImageResize(spark, sf).collect()
    val metas = Multimodal.m7ImageDecode(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Int]("n_px"), r.getAs[Long]("px_sum"))).toMap
    val byDoc = thumbs.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.size == metas.size)
    byDoc.foreach { case (id, rows) =>
      assert(rows.length == 4, "2x2 thumbnail per image")
      val (nPx, pxSum) = metas(id)
      assert(rows.map(_.getAs[Long]("n_px")).sum == nPx.toLong, "boxes partition the pixels")
      // box-average floors: reconstructed mass within one rounding unit per box
      val approx = rows.map(r => r.getAs[Long]("v") * r.getAs[Long]("n_px")).sum
      assert(approx <= pxSum && pxSum - approx < rows.map(_.getAs[Long]("n_px")).sum)
    }
  }

  test("e36 chi-square: cells partition the events, expected mass equals observed, statistic sums the terms") {
    import graft.operators.Events
    val rows = Events.e36ChiSquare(spark, sf).collect()
    val total = graft.sources.Tables.events(spark, sf).count()
    assert(rows.map(_.getAs[Long]("obs")).sum == total)
    assert(math.abs(rows.map(_.getAs[Double]("expected")).sum - total) < 0.01)
    val chi2 = rows.head.getAs[Double]("chi2")
    assert(rows.forall(r => r.getAs[Double]("chi2") == chi2 && r.getAs[Long]("df") == (rows.map(_.getAs[String]("event_type")).distinct.length - 1)))
    assert(math.abs(rows.map(_.getAs[Double]("term")).sum - chi2) < 1e-3 && chi2 >= 0)
  }

  test("OCC commit: racing writers linearize — exactly one winner per version, no lost updates") {
    import graft.sources.SnapshotStore
    import java.util.concurrent.atomic.AtomicInteger
    val root = TempDirs.create("graft_occ_") + "/store"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val wins = new AtomicInteger(0)
    val retries = new AtomicInteger(0)
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        var committed = 0
        while (committed < 25) {
          val cur = SnapshotStore.currentVersion(root)
          val next = cur.getOrElse(0L) + 1
          // (staging the version dir would happen here)
          if (SnapshotStore.commitIfCurrent(root, cur, next)) {
            wins.incrementAndGet(); committed += 1
          } else retries.incrementAndGet()
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // 4 writers x 25 wins each = version advanced exactly 100 times
    assert(wins.get() == 100 && SnapshotStore.currentVersion(root).contains(100L))
    assert(retries.get() > 0, "contention must actually occur for the test to mean anything")
    // stale expectations can never win
    assert(!SnapshotStore.commitIfCurrent(root, Some(50L), 101L))
    assert(SnapshotStore.currentVersion(root).contains(100L))
  }

  test("crash marker contract: a throwing query is a RED row (zero-row sentinel schema), never a hole") {
    val out = TempDirs.create("graft_marker_")
    Verify.writeErrorMarker(spark, out, "boom_query", new RuntimeException("synthetic failure"))
    val marker = spark.read.parquet(s"$out/boom_query")
    // zero rows + sentinel schema: fails the oracle hash/schema compare
    // AND the rows>0 check — check_oracle reports FAIL, not absent
    assert(marker.count() == 0L)
    assert(marker.schema.fieldNames.toSeq == Seq("_graft_error"))
    val sidecar = java.nio.file.Paths.get(s"$out/boom_query.error.txt")
    assert(java.nio.file.Files.readString(sidecar).contains("synthetic failure"))
    // the success path clears a stale sidecar
    Verify.clearErrorMarker(out, "boom_query")
    assert(!java.nio.file.Files.exists(sidecar))
  }

  test("live testdata: events.ts is TimestampType at every staged SF (raw scan AND loader)") {
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      // raw scan: the driver's files carry no Spark schema metadata, so
      // this pins inferTimestampNTZ=false doing its job on no-tz µs files
      // (and nanosAsLong on nanos files — whichever encoding is staged)
      val rawT = spark.read.parquet(s"$d/events.parquet").schema("ts").dataType
      assert(rawT == TimestampType || rawT == LongType, s"$d raw ts=$rawT")
      val e = graft.sources.Tables.events(spark, d)
      assert(e.schema("ts").dataType == TimestampType, s"$d ts=${e.schema("ts").dataType}")
      assert(e.where(col("ts").isNull).count() == 0L)
    }
  }
}
