package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

/** STATS-DRIVEN JOIN PLANNING (round 8): the engine has collected
  * ANALYZE-style table stats (c9) and equi-depth histograms (c11) since
  * round 4, but nothing consumed them. This closes the loop: a compact
  * persisted catalog — row count, estimated logical bytes, per-join-key
  * NDV and top-key frequency — feeds [[StatsPlanner.statsJoin]], which
  * makes the two classic cost-based decisions FROM THE STORE rather
  * than from Spark's own file-size estimate:
  *
  *   - '''broadcast''': the smaller side (by estimated logical bytes)
  *     is hinted into a broadcast hash join when it fits the threshold —
  *     the decision survives inputs Spark can't size (views over
  *     transforms, post-filter shrinkage Spark prices at full scan
  *     size);
  *   - '''salting''': when the probe side's stored top-key frequency
  *     says one key would pin a shuffle partition (freq > skewRatio ×
  *     rows/NDV), the join is planned through [[graft.operators
  *     .SkewJoin.saltedJoin]] with a salt count sized from the stored
  *     skew ratio. This is c11's deepest-bin insight reduced to the
  *     planning-relevant scalar, applied BEFORE execution — the static
  *     complement of AQE's runtime skew split (which only sees skew
  *     after the shuffle files exist).
  *
  * The decisions are provably stats-driven: the ScalaTests plan the
  * SAME physical tables under truthful and falsified catalogs (with
  * Spark's auto-broadcast disabled) and watch the join strategy follow
  * the catalog, with value parity against the plain join in every
  * branch. At 100 TB the ANALYZE pass is one scan + one tiny groupBy
  * per declared join key, and the catalog is O(tables × keys) rows.
  */
object StatsPlanner {

  final case class KeyStats(ndv: Long, topKey: String, topFreq: Long)
  final case class TableStats(nRows: Long, estBytes: Long, keys: Map[String, KeyStats])

  /** ANALYZE: one scalar aggregate over the table (row count, average
    * row width from type sizes + measured string/binary lengths,
    * per-key exact NDV — partial-aggregable, one scan) plus one
    * top-frequency groupBy per declared join key (map-side combined;
    * the result is a single row each). Exact NDV mirrors c9; production
    * swaps approx_count_distinct into the identical plan.
    */
  def analyze(df: DataFrame, keys: Seq[String]): TableStats = {
    val widths: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        // 4 bytes of offset/null overhead on top of the measured payload
        case StringType | BinaryType =>
          coalesce(avg(length(col(f.name))), lit(0.0)) + lit(4.0)
        case dt => lit(dt.defaultSize.toDouble)
      }
    }
    val aggs: Seq[Column] = (widths.reduce(_ + _).as("row_bytes") +:
      keys.map(k => countDistinct(col(k)).as(s"ndv_$k")))
    val head = df.agg(count(lit(1)).as("n"), aggs: _*).collect()(0)
    val n = head.getLong(0)
    val estBytes = (n * head.getDouble(1)).toLong
    val keyStats = keys.zipWithIndex.map { case (k, i) =>
      val top = df
        .groupBy(col(k).cast("string").as("k"))
        .agg(count(lit(1)).as("f"))
        .orderBy(desc("f"), asc("k"))
        .limit(1)
        .collect()
      val (tk, tf) = top.headOption.map(r => (r.getString(0), r.getLong(1))).getOrElse(("", 0L))
      k -> KeyStats(head.getLong(2 + i), tk, tf)
    }.toMap
    TableStats(n, estBytes, keyStats)
  }

  /** Persist one table's stats under `dir/name` — one row per key (and
    * a keyless row when no keys were declared), so the catalog is an
    * ordinary queryable parquet table.
    */
  def save(spark: SparkSession, dir: String, name: String, ts: TableStats): Unit = {
    import spark.implicits._
    val rows =
      if (ts.keys.isEmpty) Seq((name, ts.nRows, ts.estBytes, null: String, 0L, null: String, 0L))
      else
        ts.keys.toSeq.map { case (k, ks) =>
          (name, ts.nRows, ts.estBytes, k, ks.ndv, ks.topKey, ks.topFreq)
        }
    rows
      .toDF("tbl", "n_rows", "est_bytes", "key", "ndv", "top_key", "top_freq")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"$dir/$name")
  }

  /** Load every table's stats back out of the catalog directory. */
  def loadCatalog(spark: SparkSession, dir: String, names: Seq[String]): Map[String, TableStats] =
    names.map { name =>
      val rows = spark.read.parquet(s"$dir/$name").collect()
      val keys = rows.iterator
        .filter(r => !r.isNullAt(3))
        .map(r => r.getString(3) -> KeyStats(r.getLong(4), r.getString(5), r.getLong(6)))
        .toMap
      name -> TableStats(rows.head.getLong(1), rows.head.getLong(2), keys)
    }.toMap

  /** Bind a parquet table's collected stats to its root path, so
    * [[StatsBroadcastRule]] can price ANY query's joins over it without
    * the query opting in ([[MvRegistry]]'s registration pattern).
    */
  object StatsRegistry {
    private val registry =
      new java.util.concurrent.ConcurrentHashMap[String, TableStats]()
    def isEmpty: Boolean = registry.isEmpty
    def register(df: DataFrame, stats: TableStats): Unit = {
      val (lr, _, _) = MvRewrite
        .baseOf(df.queryExecution.analyzed)
        .getOrElse(throw new IllegalArgumentException(
          "stats source must be deterministic projections over a single parquet relation"))
      MvRewrite.sourcePaths(lr) match {
        case Seq(only) => registry.put(normalize(only), stats)
        case other =>
          throw new IllegalArgumentException(s"stats source must have one root path, got $other")
      }
    }
    def get(rootPath: String): Option[TableStats] = Option(registry.get(normalize(rootPath)))
    def clear(): Unit = registry.clear()
    private def normalize(p: String): String = p.stripPrefix("file:").replaceAll("/+$", "")
  }

  /** TRANSPARENT stats-driven broadcast: for an inner equi-join whose
    * sides walk down (through deterministic Projects/Filters) to
    * registered parquet relations, inject a BROADCAST hint on the side
    * whose STORED byte estimate fits [[BroadcastBytes]] — the query itself
    * never opts in, exactly like the MV rewrite. Filters only shrink a
    * side, so the stored full-table estimate is an upper bound and the
    * hint stays safe under pushed-down predicates. An existing hint on
    * the join is always respected (user wins).
    */
  object StatsBroadcastRule extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      if (StatsRegistry.isEmpty) plan
      else
        plan.transformUp {
          case j: Join
              if j.joinType == Inner && j.condition.nonEmpty && j.hint == JoinHint.NONE =>
            def estOf(side: LogicalPlan): Option[Long] =
              MvRewrite.baseOf(side).flatMap { case (lr, _, _) =>
                MvRewrite.sourcePaths(lr) match {
                  case Seq(only) => StatsRegistry.get(only).map(_.estBytes)
                  case _         => None
                }
              }
            (estOf(j.left), estOf(j.right)) match {
              case (Some(l), Some(r)) if math.min(l, r) <= BroadcastBytes =>
                val hint = HintInfo(strategy = Some(BROADCAST))
                if (r <= l) j.copy(hint = JoinHint(None, Some(hint)))
                else j.copy(hint = JoinHint(Some(hint), None))
              case _ => j
            }
        }
  }

  /** The stored-estimate broadcast threshold: 8 MB, under Spark's
    * 10 MB `autoBroadcastJoinThreshold` default.
    */
  val BroadcastBytes: Long = 8L << 20

  /** Inner equi-join on the same-named `key`, with the physical
    * strategy chosen from the CATALOG: broadcast the smaller side if
    * its stored estimate fits, salt the probe side if its stored
    * top-key frequency predicts a pinned shuffle partition, else leave
    * the plain shuffle join. Values are identical in every branch —
    * only the plan moves.
    */
  def statsJoin(
      left: DataFrame,
      leftName: String,
      right: DataFrame,
      rightName: String,
      key: String,
      catalog: Map[String, TableStats],
      broadcastBytes: Long = BroadcastBytes,
      skewRatio: Double = 8.0,
      maxSalt: Int = 16
  ): DataFrame = {
    val ls = catalog(leftName)
    val rs = catalog(rightName)
    val leftBig = ls.estBytes >= rs.estBytes
    val (bigDf, bigSt) = if (leftBig) (left, ls) else (right, rs)
    val (smallDf, smallSt) = if (leftBig) (right, rs) else (left, ls)
    if (smallSt.estBytes <= broadcastBytes) {
      if (leftBig) left.join(broadcast(right), Seq(key))
      else broadcast(left).join(right, Seq(key))
    } else {
      val skewed = bigSt.keys.get(key).exists { ks =>
        val avgFreq = bigSt.nRows.toDouble / math.max(ks.ndv, 1L)
        ks.ndv > 0 && ks.topFreq > skewRatio * avgFreq
      }
      if (skewed) {
        val ks = bigSt.keys(key)
        val avgFreq = bigSt.nRows.toDouble / math.max(ks.ndv, 1L)
        val salts = math.min(maxSalt.toLong, math.ceil(ks.topFreq / avgFreq).toLong).toInt
        // saltedJoin(big, small) then restore the caller's column order
        val joined = graft.operators.SkewJoin.saltedJoin(bigDf, smallDf, key, salts)
        val ordered = key +: (left.columns.filterNot(_ == key) ++
          right.columns.filterNot(_ == key))
        joined.select(ordered.map(col).toIndexedSeq: _*)
      } else left.join(right, Seq(key))
    }
  }
}
