package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time operators over keyed streams-at-rest: gap-rule
  * sessionization and the as-of (latest-at-or-before) join. Both reduce
  * to ONE hash exchange on the key plus one in-partition sort — the
  * minimal shape for per-key temporal logic at corpus scale; neither
  * explodes candidates or loops on the driver.
  *
  * Skew note (both operators): a single pathological key (a bot user with
  * 10⁸ events) serializes inside one task, the inherent floor for per-key
  * ORDER-dependent logic. Mitigate upstream with a per-key event cap
  * ([[Sample.quotaPerGroup]]) or a coarse time-bucket pre-split when keys
  * that hot are expected; the operators themselves stay declarative so
  * AQE can at least size the exchange.
  *
  * NULL policy (shared with the samplers): rows with a NULL key or NULL
  * timestamp are dropped — no identity or no event time means no
  * deterministic session/match decision. Gate upstream if nulls matter.
  */
object Temporal {

  /** Exact integer microseconds between two timestamps. `timestamp_diff`,
    * not `unix_micros`, because the test tables carry TIMESTAMP_NTZ and a
    * cast to TimestampType would shift by the session zone (non-linearly
    * across DST); the diff is zone-free on both timestamp types, and
    * DuckDB's `date_diff('microsecond', …)` replays it exactly. */
  private def microsBetween(from: Column, to: Column): Column =
    timestamp_diff("MICROSECOND", from, to)

  private def requireTs(df: DataFrame, tsCol: String, op: String): Unit = {
    val t = df.schema(tsCol).dataType.typeName
    require(t == "timestamp" || t == "timestamp_ntz",
      s"$op: '$tsCol' must be a timestamp type, got ${df.schema(tsCol).dataType}")
  }

  /** Per-key gap-rule session index: a new session starts when the time
    * since the key's previous event exceeds `gapSeconds`. Appends
    * `session_idx` (1-based, dense per key, ordered by event time).
    *
    * Plan: one Exchange(key) + one window sort by (ts, id) shared by the
    * `lag` and the running `sum` (two adjacent Window nodes over the same
    * partitioning/ordering — no second exchange, no second sort;
    * PLANS.md). The id column breaks ties so the index is deterministic even with
    * equal timestamps. Replayable in SQL as the identical lag + cumsum
    * windows (the driver query's DuckDB oracle). */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                 gapSeconds: Long): DataFrame = {
    require(gapSeconds > 0, s"sessionize: gapSeconds must be > 0, got $gapSeconds")
    requireTs(df, tsCol, "sessionize")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prevTs = lag(col(tsCol), 1).over(w)
    val newSession = when(
      prevTs.isNull || microsBetween(prevTs, col(tsCol)) > gapSeconds * 1000000L,
      lit(1L)).otherwise(lit(0L))
    df.filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .withColumn("session_idx", sum(newSession).over(cum))
  }

  /** [[sessionize]] rolled up to the session grain: one row per (key,
    * session) with the event count, first/last event time, and the exact
    * integer duration in microseconds (micros, not a float division, so
    * the DuckDB oracle hash-matches bit for bit).
    *
    * The rollup is EXCHANGE-FREE past the window's own shuffle: hash
    * partitioning on the key satisfies the (key, session_idx) clustered
    * distribution (partition keys ⊆ grouping keys), so Catalyst plans
    * partial→final HashAggregate with no second exchange — one shuffle
    * total for the whole session pipeline (plan-audited in PLANS.md). */
  def sessionStats(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                   gapSeconds: Long): DataFrame =
    sessionize(df, keyCol, tsCol, idCol, gapSeconds)
      .groupBy(col(keyCol), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col(tsCol)).as("first_ts"),
        max(col(tsCol)).as("last_ts"),
        microsBetween(min(col(tsCol)), max(col(tsCol))).as("duration_us"))

  /** E40: interval (point-in-range) join — attach to each point row every
    * interval row (same key, when keyed) with `start <= ts <= end`
    * (inclusive both ends; DuckDB `BETWEEN` replays it). The naive
    * formulation is a nested-loop/cartesian filter — O(|P|·|I|) per key and
    * the classic Spark range-join trap; here both sides BUCKETIZE onto a
    * fixed time grain: intervals explode to the buckets they cover (bounded
    * by `maxBucketsPerInterval` — an interval wider than the cap fails
    * LOUD, row-level, rather than silently exploding the join), points map
    * to their single bucket, and the match is an ordinary EQUI-join on
    * (key, bucket) + the exact containment filter. Each (point, interval)
    * pair meets in exactly ONE bucket (the point's own), so no dedup pass
    * is needed. Plan: shuffle-or-broadcast hash equi-join, never
    * BroadcastNestedLoop/Cartesian (spec-asserted). Inverted intervals
    * (end < start) match nothing. NULL keys/timestamps never match (inner
    * join). Non-key column names must be disjoint across the sides.
    *
    * WHEN TO USE (BASELINE.md §Round-4 interval-join probe): Spark streams
    * a naive key-equi-join's candidates through a codegen filter without
    * materializing them, so at LOW interval-per-key multiplicity the naive
    * join-then-filter is actually faster (pure CPU, ~10⁹ comparisons/s at
    * 32 cores, linear in the ratio); the bucketized wall is FLAT. The
    * measured crossover is ≈10³ candidate pairs per point — below it,
    * just join and filter; above it (hot keys, dense interval sets) this
    * operator is the difference between seconds and hours. */
  def intervalJoin(points: DataFrame, pointTs: String,
                   intervals: DataFrame, startCol: String, endCol: String,
                   keyCol: Option[String] = None,
                   bucketSeconds: Long = 3600L,
                   maxBucketsPerInterval: Int = 1000): DataFrame = {
    require(bucketSeconds > 0,
      s"intervalJoin: bucketSeconds must be > 0, got $bucketSeconds")
    require(maxBucketsPerInterval > 0,
      s"intervalJoin: maxBucketsPerInterval must be > 0, got $maxBucketsPerInterval")
    requireTs(points, pointTs, "intervalJoin")
    requireTs(intervals, startCol, "intervalJoin")
    requireTs(intervals, endCol, "intervalJoin")
    val dt = points.schema(pointTs).dataType
    require(intervals.schema(startCol).dataType == dt &&
      intervals.schema(endCol).dataType == dt,
      s"intervalJoin: all three timestamp columns must share one type, got " +
        s"$dt vs ${intervals.schema(startCol).dataType}/${intervals.schema(endCol).dataType}")
    keyCol.foreach { k =>
      require(points.columns.contains(k) && intervals.columns.contains(k),
        s"intervalJoin: key column '$k' must exist on both sides")
    }
    val overlap = points.columns.toSet
      .intersect(intervals.columns.toSet) -- keyCol.toSet
    require(overlap.isEmpty,
      s"intervalJoin: non-key columns ${overlap.toSeq.sorted.mkString(",")} " +
        "exist on both sides - rename before joining")
    // bucket = floorDiv(seconds since epoch, grain); timestamp_diff is
    // zone-free on both timestamp types (the sessionize lesson), and the
    // double division is exact for |seconds| < 2^53
    val anchor = lit("1970-01-01 00:00:00").cast(dt)
    def bucketOf(c: Column): Column =
      floor(timestamp_diff("SECOND", anchor, c).cast("double") / bucketSeconds)
        .cast("long")
    val pB = points.withColumn("__pb", bucketOf(col(pointTs)))
    // the blowup guard rides INSIDE the explode bound so column pruning can
    // never elide it (a dangling guard column would be optimized away)
    val guardedEnd = when(
      col("__be") - col("__bs") >= maxBucketsPerInterval.toLong,
      raise_error(concat(
        lit(s"intervalJoin: interval spans >= $maxBucketsPerInterval " +
          s"buckets of $bucketSeconds s ("),
        col(startCol).cast("string"), lit(" .. "),
        col(endCol).cast("string"),
        lit(") - raise bucketSeconds or cap interval length"))).cast("long"))
      .otherwise(col("__be"))
    val iv = intervals
      .withColumn("__bs", bucketOf(col(startCol)))
      .withColumn("__be", bucketOf(col(endCol)))
      .withColumn("__pb", explode(sequence(col("__bs"), guardedEnd)))
      .drop("__bs", "__be")
    pB.join(iv, keyCol.toSeq :+ "__pb")
      .filter(col(pointTs) >= col(startCol) && col(pointTs) <= col(endCol))
      .drop("__pb")
  }

  /** As-of join: attach to each left row the LATEST right row of the same
    * key with `right.ts <= left.ts` (inner semantics — left rows with no
    * prior right row, or none within `toleranceSeconds` when set, are
    * dropped). The classic event-attribution / point-in-time-lookup
    * operator ("which view preceded this purchase", "which model version
    * was live when this prediction was made").
    *
    * UNION-AND-CARRY, not a join: both sides are tagged and unioned, ONE
    * hash exchange on the key, one in-partition sort by (ts, side, id),
    * and a running `last(right-payload, ignoreNulls)` carries the newest
    * right row forward onto every left row. No per-key candidate
    * explosion (an equi-join on key followed by a range filter is
    * O(|L_k|·|R_k|) per key BEFORE filtering — quadratic on hot keys), no
    * sort-merge of two separately-shuffled sides; |L|+|R| slim rows move
    * exactly once. Right rows sort BEFORE left rows at equal timestamps
    * (side 0 < 1), so an equal-ts right row matches — "at or before",
    * DuckDB `ASOF JOIN ... ON l.ts >= r.ts` semantics, which the driver
    * query uses as an INDEPENDENT native oracle (not a replay). Among
    * right rows with identical (key, ts) the largest right id wins
    * (deterministic; spec-pinned against brute force on a tie fixture).
    *
    * Output: every left column, then `r_<rightIdCol>`, `r_ts`, and
    * `r_<c>` for each requested payload column, plus exact integer
    * `gap_us = left.ts - right.ts` in microseconds. */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
               tsCol: String, rightIdCol: String,
               rightPayload: Seq[String] = Nil,
               toleranceSeconds: Option[Long] = None): DataFrame = {
    toleranceSeconds.foreach(t => require(t > 0,
      s"asofJoin: toleranceSeconds must be > 0, got $t"))
    Seq(left, right).foreach(d => requireTs(d, tsCol, "asofJoin"))
    require(left.schema(tsCol).dataType == right.schema(tsCol).dataType,
      s"asofJoin: both sides must share the timestamp type, got " +
        s"${left.schema(tsCol).dataType} vs ${right.schema(tsCol).dataType}")
    val rStruct = struct(
      (col(rightIdCol).as("rid") +: col(tsCol).as("rts") +:
        rightPayload.map(c => col(c).as(s"p_$c"))): _*)
    val rStructType = right.select(rStruct.as("s")).schema("s").dataType
    val ltCols = left.columns.toSeq
    val otherLeft = ltCols.filterNot(c => c == keyCol || c == tsCol)

    val lt = left.filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select((ltCols.map(col) ++ Seq(lit(1).as("graft_side"),
        lit(null).cast(rStructType).as("graft_rpay"))): _*)
    val rt = right.filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select((Seq(col(keyCol), col(tsCol)) ++
        otherLeft.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        Seq(lit(0).as("graft_side"), rStruct.as("graft_rpay"))): _*)
    val unioned = lt.unionByName(rt.select(lt.columns.map(col): _*))

    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col("graft_side"),
        col("graft_rpay").getField("rid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = last(col("graft_rpay"), ignoreNulls = true).over(w)

    val matched = unioned
      .withColumn("graft_match", carried)
      .filter(col("graft_side") === 1 && col("graft_match").isNotNull)
    val gapUs = microsBetween(col("graft_match").getField("rts"), col(tsCol))
    val bounded = toleranceSeconds match {
      case Some(t) => matched.filter(gapUs <= t * 1000000L)
      case None    => matched
    }
    bounded.select((ltCols.map(col) ++ Seq(
      col("graft_match").getField("rid").as(s"r_$rightIdCol"),
      col("graft_match").getField("rts").as("r_ts")) ++
      rightPayload.map(c =>
        col("graft_match").getField(s"p_$c").as(s"r_$c")) ++
      Seq(gapUs.as("gap_us"))): _*)
  }
}
