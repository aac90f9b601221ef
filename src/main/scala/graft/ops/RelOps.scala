package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Relational dataflow operators — the SURVEY.md §2 inventory re-expressed
  * as composable `DataFrame => DataFrame` combinators.
  *
  * Each operator is declarative (Catalyst-optimizable): filters and
  * projections push down to the parquet scan, small-side joins broadcast,
  * aggregations get map-side partial combine. Nothing here collects to the
  * driver, so every combinator scales with the cluster.
  */
object RelOps {

  /** Timestamp-flavor policy: the engine computes event time in
    * instant (TIMESTAMP) semantics under the pinned UTC session zone
    * (GraftSession). Parquet written without `isAdjustedToUTC` surfaces
    * as TIMESTAMP_NTZ in Spark; under a UTC session the NTZ→TIMESTAMP
    * cast is a lossless reinterpretation, and it matches the oracle
    * (DuckDB's `epoch_us` is naive). `epochUs` is the flavor-proof
    * micro-epoch: the cast is a no-op on TIMESTAMP input (Catalyst
    * removes it), and the UTC reinterpretation on NTZ input — never use
    * bare `unix_micros(ts)` on a column whose flavor the caller does
    * not control.
    */
  def epochUs(c: Column): Column = unix_micros(c.cast(TimestampType))

  /** Normalize an event-time column to TIMESTAMP if the source handed us
    * TIMESTAMP_NTZ (see [[epochUs]] for the policy). Streaming watermarks
    * hard-require TIMESTAMP (`EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE`), so
    * every `withWatermark` in the engine routes through here.
    */
  def toEventTime(df: DataFrame, name: String): DataFrame =
    df.schema(name).dataType match {
      case TimestampNTZType => df.withColumn(name, col(name).cast(TimestampType))
      case _                => df
    }

  /** Column projection with pushdown (reference: request exactly the
    * configured columns from the source — subgraphQueryBuilder.ts:116-126).
    * In Spark this is a plain select; Catalyst prunes the scan.
    */
  def project(df: DataFrame, cols: String*): DataFrame =
    df.select(cols.map(col): _*)

  /** Keyset pagination page: the reference's `id_gt: lastId, first: n`
    * incremental scan (subgraphSyncer.ts:88-133). At scale this is how a
    * source is consumed without OFFSET (which re-reads skipped rows).
    */
  def keysetPage(df: DataFrame, keyCol: String, after: Long, pageSize: Int): DataFrame =
    df.filter(col(keyCol) > lit(after)).orderBy(col(keyCol)).limit(pageSize)

  /** Top-K: `orderBy X desc, first: N` pushed sort+limit
    * (subgraphQueryBuilder.ts:174-198). Spark plans TakeOrderedAndProject —
    * no global sort, each partition keeps K rows then the driver merges.
    */
  def topK(df: DataFrame, n: Int, sortCols: Column*): DataFrame =
    df.orderBy(sortCols: _*).limit(n)

  /** Existence semi-join (reference keeps only entity names present in the
    * schema map — blockChangeLogStrategy.ts:106-107).
    */
  def semiJoin(df: DataFrame, other: DataFrame, keys: Seq[String]): DataFrame =
    df.join(other, keys, "left_semi")

  /** Anti-join (reference excludes LastProcessedBlock / already-existing
    * tables — main.ts:23, dbCreator.ts:199-203).
    */
  def antiJoin(df: DataFrame, other: DataFrame, keys: Seq[String]): DataFrame =
    df.join(other, keys, "left_anti")

  /** Lookup join of a big fact against a small dimension (reference joins DB
    * proposals to an RPC multicall result map — blockProposalStateStrategy
    * .ts:110-131). Broadcast so the fact side never shuffles.
    */
  def lookupJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 joinType: String = "inner"): DataFrame =
    big.join(broadcast(small), keys, joinType)

  /** Last-write-wins dedup by primary key — the batch equivalent of the
    * reference's `INSERT .. ON CONFLICT(pk) DO UPDATE` upsert
    * (dbUpsert.ts:66-84): keep the newest version of each key.
    * One shuffle on the PK; ties broken deterministically by `tieBreak`.
    */
  def latestByKey(df: DataFrame, partitionCols: Seq[String],
                  orderDesc: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(orderDesc: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Rows above a high-water mark computed from the same (or another)
    * table — incremental sync (T5) without collecting the mark to the
    * driver: a broadcast nested-loop join against the 1-row mark.
    */
  def aboveHighWaterMark(df: DataFrame, markOf: DataFrame, c: String,
                         lookback: Long = 0L): DataFrame = {
    val mark = broadcast(markOf.agg(max(col(c)).as("__hwm")))
    // null mark (empty/unbootstrapped sink) means NO high-water mark:
    // keep every row — `col > null` would be null for every row and the
    // first incremental sync would load nothing forever
    df.join(mark,
      col("__hwm").isNull || col(c) > col("__hwm") - lit(lookback))
      .drop("__hwm")
  }

  /** Sliding re-fetch window (reference re-pulls proposals from the last
    * 25,000 blocks each run — blockProposalStrategy.ts:19-20,47-53).
    */
  def slidingWindow(df: DataFrame, c: String, width: Long): DataFrame =
    aboveHighWaterMark(df, df, c, width)

  /** Enum ENCODE: label string -> uint8 code lookup — the inverse
    * direction of [[graft.streaming.StateReconcile.decodeState]]
    * (blockProposalStateStrategy.ts:9-18,71-84). Unknown labels map to
    * null.
    */
  def enumDecode(c: Column, mapping: Seq[(String, Int)]): Column =
    mapping.foldLeft(lit(null).cast("int")) { case (acc, (label, code)) =>
      when(c === lit(label), lit(code)).otherwise(acc)
    }

  /** Skew-salted equi-join: when one join key dominates (a whale user, a
    * zero address, a default enum), a plain shuffle join lands the whole
    * key on one reducer and the stage runs at the speed of that task.
    * Salting splits each `big`-side key across `buckets` sub-keys with a
    * random-uniform salt, and replicates each `small`-side row once per
    * bucket so every sub-key still finds its match — the classic
    * replicate-the-dimension skew join, as an explicit operator for when
    * AQE's runtime skew split can't see the skew (e.g. the skewed stage
    * feeds an aggregation, or statistics are stale).
    *
    * `small` grows by `buckets`x, so use for genuinely smaller right
    * sides (but too big / too dynamic to broadcast outright). Result
    * equals `big.join(small, keys)` exactly; only the partitioning
    * changes.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 buckets: Int = 16, joinType: String = "inner"): DataFrame = {
    require(buckets > 0)
    // right/full joins would emit `buckets` null-padded copies of every
    // unmatched small row (it was replicated); only big-preserving types
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti", "semi", "anti")
      .contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin supports big-side-preserving join types only, got $joinType")
    // rand() is fine here: the salt only routes rows, never shows in the
    // result, so nondeterminism cannot leak into query output
    val salted = big.withColumn("__salt", (rand(seed = 7) * buckets).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(array((0 until buckets).map(lit): _*)))
    salted.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }

  /** INTERVAL (range-containment) join as an EQUI-join — the operator
    * open-source Spark lacks natively: `left.ts BETWEEN right.start AND
    * right.end` planned directly is a nested-loop over every
    * (row, interval) pair, the n·m scan that kills range joins at any
    * scale. This plans it bucketed instead (the standard range-join
    * optimization commercial engines ship built-in): time is cut into
    * `bucketWidthSec` buckets, each left row carries its single bucket,
    * each interval EXPLODES to the buckets it overlaps
    * (span/width + 1 rows — size the width near the typical span so
    * this stays ~2), the join is a hash equi-join on the bucket id, and
    * the exact BETWEEN predicate refines the bucket-coarse candidates.
    * Every qualifying pair meets in EXACTLY one bucket (the left row's),
    * so no dedup pass is needed.
    *
    * Inclusive bounds, the SQL BETWEEN contract — and like BETWEEN,
    * malformed intervals (end < start) match nothing (they are filtered
    * before the bucket explode, where ANSI `sequence` would otherwise
    * count DOWN and fabricate buckets). Null times/bounds drop out, as
    * in any join condition.
    *
    * The two sides must have DISJOINT column names (checked loudly):
    * a shared name would survive the join twice and any downstream
    * reference would be ambiguous — rename before calling. The internal
    * bucket column is picked to collide with neither input, so caller
    * columns are never silently replaced.
    */
  def intervalJoin(left: DataFrame, leftTime: String,
                   right: DataFrame, startCol: String, endCol: String,
                   bucketWidthSec: Long = 86400L): DataFrame = {
    require(bucketWidthSec > 0, s"bucket width must be positive: $bucketWidthSec")
    val shared = left.columns.toSet intersect right.columns.toSet
    require(shared.isEmpty,
      s"intervalJoin requires disjoint column names; shared: ${shared.toSeq.sorted.mkString(", ")} — rename one side")
    val ib = Iterator.iterate("__ib")(_ + "_")
      .find(n => !left.columns.contains(n) && !right.columns.contains(n)).get
    def bucketOf(t: Column): Column =
      floor(unix_timestamp(t) / bucketWidthSec).cast("long")
    val lb = left.withColumn(ib, bucketOf(col(leftTime)))
    val rb = right
      .filter(col(endCol) >= col(startCol))
      .withColumn(ib,
        explode(sequence(bucketOf(col(startCol)), bucketOf(col(endCol)))))
    lb.join(rb, Seq(ib))
      .filter(col(leftTime) >= col(startCol) && col(leftTime) <= col(endCol))
      .drop(ib)
  }

  /** ONE-PASS table profile — the data-quality summary every pipeline
    * wants before trusting a 100 TB input: per column, row count, null
    * count, distinct count, and min/max (canonical string form, cast
    * AFTER the native-ordered min/max so numeric/timestamp ordering is
    * never lexicographic). Output: (col_name, n_rows, n_null,
    * n_distinct, min_val, max_val), one row per profiled column,
    * ordered by name.
    *
    * Scale shape, `exact = false` (the 100 TB default): ONE scan, one
    * global aggregate — every statistic including the
    * `approx_count_distinct` HLL++ sketch (default 5% rsd) is an
    * aggregate expression in the same map-side-partial pass, and the
    * one-row result unpivots row-locally via `inline`.
    *
    * `exact = true` replaces the sketch with EXACT distinct counts via
    * a second, column-pruned scan: unpivot to (col_name, canonical
    * string value) and `count(DISTINCT value)` per column — Spark's
    * standard two-phase distinct (partial dedup below the exchange,
    * HashAggregate throughout). NOT `count(DISTINCT c)` columns in the
    * single aggregate: multi-column distinct plans as a k-way Expand
    * whose grouping key is ALL profiled columns at once — immutable
    * types force SortAggregate and the k-times-duplicated corpus gets
    * sorted on a k-wide key (measured 18.5 s vs 3.9 s on an 11-column
    * 600k-row profile). Distinctness is counted on the canonical
    * string image — injective for longs/ints/strings/timestamps and
    * for doubles under shortest-round-trip printing (caveat: 0.0 vs
    * -0.0 and NaN-vs-NaN count as distinct here where native distinct
    * normalizes them). Nested types are rejected up front in exact
    * mode: their string image is NOT injective (array('a, b') and
    * array('a','b') both render "[a, b]"), which would silently
    * under-count distincts.
    */
  def profile(df: DataFrame, cols: Seq[String],
              exact: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "profile: need at least one column")
    require(cols.distinct.size == cols.size, s"profile: duplicate " +
      s"columns: ${cols.diff(cols.distinct).distinct.mkString(", ")}")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"profile: no such columns: " +
      s"${missing.mkString(", ")} (have ${df.columns.mkString(", ")})")
    if (exact) {
      import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
      val nested = cols.filter { c =>
        df.schema(c).dataType match {
          case _: ArrayType | _: MapType | _: StructType => true
          case _ => false
        }
      }
      require(nested.isEmpty, s"profile(exact=true): non-atomic columns " +
        s"${nested.mkString(", ")} — the canonical string image is not " +
        s"injective for nested types (array('a, b') and array('a','b') " +
        s"both render \"[a, b]\"); use exact=false (HLL) for these")
    }
    // exact mode must not ALSO pay the per-row HLL sketch updates in
    // the stats pass — Catalyst cannot prune a struct field built
    // inside inline() back through the Generate into the Aggregate,
    // so the sketches only stay out if they are never aggregated
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c =>
      Seq(
        count(when(col(c).isNull, lit(1))).as(s"__null_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c")) ++
        (if (exact) Seq.empty
         else Seq(approx_count_distinct(col(c)).as(s"__dist_$c")))
    }
    val base = df.agg(aggs.head, aggs.tail: _*)
      .select(inline(array(cols.map { c =>
        struct(Seq(lit(c).as("col_name"),
          col("__n").as("n_rows"),
          col(s"__null_$c").as("n_null")) ++
          (if (exact) Seq.empty
           else Seq(col(s"__dist_$c").as("n_distinct"))) ++
          Seq(col(s"__min_$c").as("min_val"),
            col(s"__max_$c").as("max_val")): _*)
      }: _*)))
    val withDistinct =
      if (!exact) base
      else {
        val unpiv = df.select(inline(array(cols.map { c =>
          struct(lit(c).as("col_name"), col(c).cast("string").as("__v"))
        }: _*)))
        val dist = unpiv.groupBy("col_name")
          .agg(count_distinct(col("__v")).as("__exact"))
        base.join(broadcast(dist), Seq("col_name"), "left")
          .select(col("col_name"), col("n_rows"), col("n_null"),
            coalesce(col("__exact"), lit(0L)).as("n_distinct"),
            col("min_val"), col("max_val"))
      }
    withDistinct.orderBy("col_name")
  }
}
