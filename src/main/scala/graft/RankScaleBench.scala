package graft

import org.apache.spark.sql.SparkSession

/** SCALING MEASUREMENT for the GlobalRank family: times the same global
  * window queries with the rewrite rules ON (GlobalRankExec /
  * GlobalPrefixSumExec — parallel range-exchange sort + metadata
  * stitch) and OFF (stock unpartitioned WindowExec — every row through
  * ONE task), over `spark.range(n)` so the ladder needs no staged data.
  * The inner expressions force real per-row work and ties
  * (`id % 1000`), and each query is reduced by a count so nothing
  * funnels to the driver. This is the empirical half of the scale
  * argument SCALING.md makes for the rewrites.
  *
  * Usage: runMain graft.RankScaleBench [n] [queryCsv] (default 50M, all)
  */
object RankScaleBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 50000000L
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // row_number and ROWS-frame sums are tie-order-sensitive, so their
    // check queries use a UNIQUE total order (key, id) — otherwise the
    // check value would compare two legal-but-different tie orders, not
    // the rewrite against stock. rank() is tie-stable by definition and
    // keeps its 1000-wide peer groups (the tie stitch under test).
    val queries = Seq(
      "row_number" -> s"SELECT count(*) AS c FROM (SELECT id, row_number() OVER (ORDER BY id % 7919, id) AS r FROM range($n)) WHERE r % 97 = 0",
      "rank_ties" -> s"SELECT count(*) AS c FROM (SELECT id, rank() OVER (ORDER BY id % 1000) AS r FROM range($n)) WHERE r % 97 = 0",
      "prefix_sum" -> s"SELECT count(*) AS c FROM (SELECT id, sum(id % 13) OVER (ORDER BY id % 7919, id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s FROM range($n)) WHERE s % 97 = 0",
      // round 15: cume_dist (1000-wide peer groups — the one-group-buffer
      // pass 2 and the forward head-run stitch under load) and running
      // max (the extremum stitch; % 7919 keeps new records arriving
      // throughout, so the comparison never short-circuits to a constant)
      "cume_dist" -> s"SELECT count(*) AS c FROM (SELECT id, cume_dist() OVER (ORDER BY id % 1000) AS cd FROM range($n)) WHERE cd < 0.5",
      "running_max" -> s"SELECT count(*) AS c FROM (SELECT id, max((id * 2654435761) % 7919) OVER (ORDER BY id % 7919, id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m FROM range($n)) WHERE m % 97 = 0",
      // round 15: global lag (k=3 — the boundary-seed FIFO under load)
      "lag3" -> s"SELECT count(*) AS c FROM (SELECT id, lag(id * 7, 3) OVER (ORDER BY id % 7919, id) AS v FROM range($n)) WHERE v % 97 = 0",
      // round 18: IGNORE NULLS offsets (20% nulls) — the peek-FIFO lag
      // and the need-indexed lead under load, unique total order so the
      // check value is order-stable
      "lag3_nn" -> s"SELECT count(*) AS c FROM (SELECT id, lag(CASE WHEN id % 5 = 0 THEN NULL ELSE id * 7 END, 3) IGNORE NULLS OVER (ORDER BY id % 7919, id) AS v FROM range($n)) WHERE v % 97 = 0",
      "lead3_nn" -> s"SELECT count(*) AS c FROM (SELECT id, lead(CASE WHEN id % 5 = 0 THEN NULL ELSE id * 7 END, 3) IGNORE NULLS OVER (ORDER BY id % 7919, id) AS v FROM range($n)) WHERE v % 97 = 0",
      // round 15: the DEFAULT-frame cumulative (RANGE through 1000-wide peer groups)
      "range_sum" -> s"SELECT count(*) AS c FROM (SELECT id, sum(id % 13) OVER (ORDER BY id % 1000) AS s FROM range($n)) WHERE s % 97 = 0",
      // round 16: the avg decomposition (sum + count prefix execs + one
      // divide) over a unique total order; the check sums a stable
      // digest of the rounded running mean
      "running_avg" -> s"SELECT count(*) AS c FROM (SELECT id, avg(id % 13) OVER (ORDER BY id % 7919, id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a FROM range($n)) WHERE CAST(a * 1000 AS BIGINT) % 97 = 0",
      // round 16: first_value is the eleventh idiom (a global CONSTANT
      // under the order) — this window now rewrites COMPLETELY, no
      // 1-task pass anywhere
      "mixed_firstval" -> s"SELECT count(*) AS c FROM (SELECT id, sum(id % 13) OVER w AS s, rank() OVER w AS r, first_value(id) OVER w AS fv FROM range($n) WINDOW w AS (ORDER BY id % 1000, id)) WHERE (s + r + fv) % 97 = 0",
      // round 16: the SPLIT with a GENUINELY non-rewritable remainder
      // (double avg — FP add order): sum+rank chain distributes, the
    // remainder recomputes 1-task over ONE expression. Measured
      // honestly: on shapes where the whole query is the window, the
      // remainder's single-task sort dominates BOTH plans and the chain
      // is added work — the split buys un-dragged siblings and smaller
      // 1-task frame state, not wall time (SCALING.md round 16)
      "mixed_split" -> s"SELECT count(*) AS c FROM (SELECT id, sum(id % 13) OVER w AS s, rank() OVER w AS r, round(avg(CAST(id % 13 AS DOUBLE)) OVER w, 3) AS ad FROM range($n) WINDOW w AS (ORDER BY id % 1000)) WHERE (s + r + CAST(ad * 1000 AS BIGINT)) % 97 = 0"
    )
    def time(label: String, installRules: Boolean): Unit = {
      val sess = spark.newSession() // fresh experimental.* — rules OFF by default
      if (installRules) graft.plans.GraftExtensions.register(sess)
      queries.filter(q => only.forall(_.contains(q._1))).foreach { case (qn, sql) =>
        val t0 = System.nanoTime()
        val c = sess.sql(sql).collect().head.getLong(0)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"$label $qn: $sec%.1f s (n=$n, check=$c)")
      }
    }
    // warm the range codegen once
    spark.sql(s"SELECT count(*) FROM range($n)").collect()
    if (only.forall(o => queries.exists(q => o.contains(q._1)))) {
      time("rules_on ", installRules = true)
      time("rules_off", installRules = false)
    }
    // rolling_q (round 18): the e57b crossover row — the two-heap
    // RollingQuantileExec vs the collect_list/sort_array form at
    // k=1000. EXPLICIT-ONLY (pass `rolling_q` in the filter): the sort
    // form is O(k log k) per row, ~10^4 ops/row at this k, so it only
    // completes in ladder time at n ≤ ~10M.
    if (only.exists(_.contains("rolling_q"))) {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val df = spark
        .range(n)
        .select(
          col("id"),
          (col("id") % 32).as("g"),
          ((col("id") * 2654435761L) % 1000003L).as("v")
        )
      def check(d: org.apache.spark.sql.DataFrame, label: String): Unit = {
        val t0 = System.nanoTime()
        val c = d.where("p % 97 = 0").count()
        println(f"$label rolling_q: ${(System.nanoTime() - t0) / 1e9}%.1f s (n=$n, check=$c)")
      }
      check(
        graft.plans.RollingQuantile
          .withRollingQuantile(df, Seq("g"), Seq("id"), "v", 1000, 0.95, "n", "p"),
        "rules_on "
      )
      val w = Window.partitionBy("g").orderBy("id").rowsBetween(-999, Window.currentRow)
      check(
        df.withColumn("win", collect_list("v").over(w))
          .withColumn(
            "p",
            element_at(sort_array(col("win")), ceil(lit(0.95) * size(col("win"))).cast("int"))
          ),
        "rules_off"
      )
    }
    spark.stop()
  }
}
