package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal joins Spark lacks as built-ins, composed from primitives the
  * optimizer understands (preference (a) of the custom-operator ladder).
  *
  * As-of join: for each right row, the LATEST left row with
  * left_ts <= right_ts in the same key group — the point-in-time lookup
  * behind feature stores ("state of X when Y happened"). Composed as ONE
  * union + ONE keyed window with a carry-forward `last(ignoreNulls)`:
  * a single shuffle on the key, linear state, no range-join explosion
  * (the naive `l.ts <= r.ts` join is O(|L| x |R|) per key and what Spark
  * would plan for the range predicate).
  */
object Temporal {

  /** `right` rows enriched with `asof_<leftTs>` and `asof_<c>` for each
    * left payload column (null when no left row precedes). Ties on equal
    * timestamps resolve left-before-right (<= semantics) and within the
    * left side by the payload struct order. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, leftPayload: Seq[String]): DataFrame = {
    val lvFields = leftTs +: leftPayload
    val l = left.select(
      col(key), col(leftTs).as("__ts"), lit(0).as("__side"),
      struct(lvFields.map(col): _*).as("__lv"))
    val r = right
      .withColumn("__ts", col(rightTs))
      .withColumn("__side", lit(1))
    val u = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(col("__ts"), col("__side"), col("__lv"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = u
      .withColumn("__asof", last(col("__lv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val asofCols = lvFields.map(f => col("__asof").getField(f).as(s"asof_$f"))
    carried.select(right.columns.map(col) ++ asofCols: _*)
  }

  /** FORWARD as-of join: for each right row, the EARLIEST left row with
    * left_ts >= right_ts in the same key group (pandas merge_asof
    * direction='forward' — "the next state change after Y"). The mirror
    * composition of [[asofJoin]]: same single keyed shuffle, the window
    * frame looks FORWARD (`first(ignoreNulls)` over
    * [currentRow, unboundedFollowing]) and equal timestamps sort right
    * rows BEFORE left rows so a left row at the same instant matches
    * (>= semantics); ties within the left side resolve by the smallest
    * payload struct. */
  def asofJoinForward(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, leftPayload: Seq[String]): DataFrame = {
    val lvFields = leftTs +: leftPayload
    val l = left.select(
      col(key), col(leftTs).as("__ts"), lit(0).as("__side"),
      struct(lvFields.map(col): _*).as("__lv"))
    val r = right
      .withColumn("__ts", col(rightTs))
      .withColumn("__side", lit(1))
    val u = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(col("__ts"), col("__side").desc, col("__lv"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val carried = u
      .withColumn("__asof", first(col("__lv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val asofCols = lvFields.map(f => col("__asof").getField(f).as(s"asof_$f"))
    carried.select(right.columns.map(col) ++ asofCols: _*)
  }

  /** NEAREST as-of join: for each right row, whichever left row is
    * closer in time — the latest at-or-before or the earliest strictly
    * after — with ties (equal distance) resolving BACKWARD (pandas
    * merge_asof direction='nearest' semantics). Both candidate carries
    * ride ONE union + ONE window pass: same partition and ordering as
    * [[asofJoin]], two frames (carry-backward `last`, carry-forward
    * `first`) that fuse into a single Window node — still one keyed
    * shuffle, no range join. Under the shared ordering a left row at
    * the SAME instant sorts before the right row, so it is a backward
    * candidate at distance 0 (and backward wins the tie anyway);
    * the forward candidate is strictly later. The distance compare is
    * exact integer microseconds. Callers should dedup the left side to
    * one row per (key, ts) (the registered query's posture) so the
    * per-instant pick is tie-free by construction. */
  def asofJoinNearest(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, leftPayload: Seq[String]): DataFrame = {
    val lvFields = leftTs +: leftPayload
    val l = left.select(
      col(key), col(leftTs).as("__ts"), lit(0).as("__side"),
      struct(lvFields.map(col): _*).as("__lv"))
    val r = right
      .withColumn("__ts", col(rightTs))
      .withColumn("__side", lit(1))
    val u = l.unionByName(r, allowMissingColumns = true)
    val base = Window.partitionBy(col(key))
      .orderBy(col("__ts"), col("__side"), col("__lv"))
    val wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val carried = u
      .select(u.columns.map(col) :+
        last(col("__lv"), ignoreNulls = true).over(wb).as("__b") :+
        first(col("__lv"), ignoreNulls = true).over(wf).as("__f"): _*)
      .filter(col("__side") === 1)
    // distance in exact integer units: microseconds for timestamp
    // columns, the raw value for integer ts columns (the asof family's
    // long-ts test posture)
    def num(c: Column, dt: org.apache.spark.sql.types.DataType): Column =
      dt match {
        case _: org.apache.spark.sql.types.TimestampType => unix_micros(c)
        case _: org.apache.spark.sql.types.TimestampNTZType =>
          unix_micros(c.cast(org.apache.spark.sql.types.TimestampType))
        case _ => c.cast(org.apache.spark.sql.types.LongType)
      }
    val rDt = right.schema(rightTs).dataType
    val lDt = left.schema(leftTs).dataType
    val db = num(col(rightTs), rDt) -
      num(col("__b").getField(leftTs), lDt)
    val df = num(col("__f").getField(leftTs), lDt) -
      num(col(rightTs), rDt)
    val useB = col("__f").isNull || (col("__b").isNotNull && db <= df)
    val chosen = when(useB, col("__b")).otherwise(col("__f"))
    val asofCols = lvFields.map(f => chosen.getField(f).as(s"asof_$f"))
    carried.select(right.columns.map(col) ++ asofCols: _*)
  }

  /** [[asofJoin]] with a staleness bound: a match older than
    * `toleranceUs` microseconds before the right timestamp is DROPPED
    * (all asof columns null) — the feature-store freshness contract
    * ("use the last reading, but never one more than X old"). Composed
    * as a post-projection on the carried row, so the plan shape is
    * identical to [[asofJoin]]: one keyed shuffle, one window pass. */
  def asofJoinTolerance(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, leftPayload: Seq[String],
      toleranceUs: Long): DataFrame = {
    require(toleranceUs >= 0L, s"need toleranceUs >= 0, got $toleranceUs")
    val joined = asofJoin(left, right, key, leftTs, rightTs, leftPayload)
    val fresh = unix_micros(col(rightTs)) -
      unix_micros(col(s"asof_$leftTs")) <= toleranceUs
    val lvFields = leftTs +: leftPayload
    val guarded = lvFields.map(f =>
      when(fresh, col(s"asof_$f")).as(s"asof_$f"))
    joined.select(right.columns.map(col) ++ guarded: _*)
  }

  /** Bucketized range (interval) join: each `points` row whose timestamp
    * falls inside a `intervals` row's `[startTs, endTs)` — with NO
    * non-equi join in the plan.
    *
    * Why an operator: Spark plans a bare range predicate as a broadcast
    * nested-loop (or cartesian) join — O(|P| x |I|) compares, the classic
    * non-starter at scale. This composes the standard bucketization: both
    * sides map to fixed-width time bins (an interval explodes to every bin
    * it covers; a point has exactly ONE bin), the join becomes an
    * equi-join on (bin [+ keys]) that hash-partitions like any other, and
    * the exact range filter runs post-join on candidates only. A
    * (point, interval) pair can meet only in the point's single bin, so no
    * dedup pass is needed. Replication is bounded by interval_length /
    * binWidth + 1 rows per interval — pick `binWidthUs` near the typical
    * interval length.
    *
    * Equivalence to the naive range join is property-tested
    * (PropertiesSpec); the registered query is DuckDB-oracle-checked. */
  def intervalJoin(points: DataFrame, intervals: DataFrame,
      ptTs: String, startTs: String, endTs: String,
      binWidthUs: Long, keys: Seq[String] = Nil): DataFrame = {
    require(binWidthUs > 0, "binWidthUs must be positive")
    // __bin is the operator's internal equi-join key: a pre-existing column
    // of that name would be silently overwritten and corrupt the join
    require(!points.columns.contains("__bin") && !intervals.columns.contains("__bin"),
      "inputs must not contain the reserved column __bin")
    val p = points.withColumn("__bin",
      floor(unix_micros(col(ptTs)) / binWidthUs).cast("long"))
    val iv = intervals
      .filter(col(endTs) > col(startTs)) // empty intervals match nothing
      .withColumn("__bin", explode(sequence(
        floor(unix_micros(col(startTs)) / binWidthUs).cast("long"),
        floor((unix_micros(col(endTs)) - 1) / binWidthUs).cast("long"))))
    p.join(iv, Seq("__bin") ++ keys)
      .filter(col(ptTs) >= col(startTs) && col(ptTs) < col(endTs))
      .drop("__bin")
  }

  /** Interval-OVERLAP join — the interval×interval sibling of
    * [[intervalJoin]]: pairs of intervals with a non-empty half-open
    * overlap (`lStart < rEnd AND rStart < lEnd`). A naive formulation
    * is a cross join with a range filter — quadratic and unshardable;
    * the standard decomposition explodes BOTH sides onto fixed-width
    * bins so the join becomes an equi-join on (bin [+ keys]). Unlike
    * the point case, an overlapping pair can now meet in EVERY bin
    * their spans share — deduped with the RESPONSIBILITY-BIN trick, no
    * distinct pass: a pair is emitted only from the bin containing
    * `max(lStart, rStart)`, which every overlapping pair covers in both
    * spans exactly once (it is ≥ both bins' starts and < both ends,
    * since max(starts) < min(ends) for an overlap). Replication per row
    * is span/binWidth + 1 — pick `binWidthUs` near the typical span.
    * Equivalence to the naive join (incl. multi-bin spans, exact-touch
    * non-overlaps, empty intervals) is property-tested. */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      binWidthUs: Long, keys: Seq[String] = Nil): DataFrame = {
    require(binWidthUs > 0, "binWidthUs must be positive")
    require(!left.columns.contains("__bin") && !right.columns.contains("__bin"),
      "inputs must not contain the reserved column __bin")
    def bins(s: String, e: String)(df: DataFrame): DataFrame =
      df.filter(col(e) > col(s)).withColumn("__bin", explode(sequence(
        floor(unix_micros(col(s)) / binWidthUs).cast("long"),
        floor((unix_micros(col(e)) - 1) / binWidthUs).cast("long"))))
    bins(lStart, lEnd)(left).join(bins(rStart, rEnd)(right), Seq("__bin") ++ keys)
      .filter(col(lStart) < col(rEnd) && col(rStart) < col(lEnd))
      .filter(col("__bin") ===
        floor(greatest(unix_micros(col(lStart)), unix_micros(col(rStart))) /
          binWidthUs).cast("long"))
      .drop("__bin")
  }

  /** Trailing time-range rolling aggregate — "this key's activity over the
    * last `horizonSec` seconds as of each event", the point-in-time
    * feature behind rate limits, engagement scores, and feature-store
    * backfills. Adds `unix_sec` (epoch seconds), `n_trailing` (event
    * count in `[ts - horizonSec + 1, ts]`, inclusive of the row itself)
    * and `total_trailing` (exact-decimal sum of `valueCol` over the same
    * frame, emitted as DOUBLE).
    *
    * ONE keyed shuffle + sort: Spark evaluates the RANGE frame with two
    * moving pointers over each sorted partition, so cost is O(rows), not
    * O(rows × events-in-horizon) — the naive self-join on
    * `ts BETWEEN other.ts - horizon AND other.ts` is quadratic per key
    * and is what this operator exists to avoid. The frame is anchored on
    * integer epoch SECONDS, so peer groups (equal-second ties) — and
    * therefore results — are engine-portable; the decimal accumulator
    * makes the windowed sum order-independent exact (CLAUDE.md numeric
    * parity rules). Scale: partitions by key (users), state per task is
    * one frame — no driver state, skew bounded by the hottest key's rows. */
  def rollingCounts(df: DataFrame, key: String, tsCol: String,
      valueCol: String, horizonSec: Long,
      precision: Int = 18, scale: Int = 2): DataFrame = {
    require(horizonSec >= 1, s"need horizonSec >= 1, got $horizonSec")
    // pre-project the decimal cast so both frame functions land in ONE
    // Window node (a projection between .over calls splits the pass in two)
    val withSec = df
      .withColumn("unix_sec", col(tsCol).cast("long"))
      .withColumn("__v",
        col(valueCol).cast(org.apache.spark.sql.types.DecimalType(precision, scale)))
    val w = Window.partitionBy(col(key)).orderBy(col("unix_sec"))
      .rangeBetween(-(horizonSec - 1), Window.currentRow)
    withSec
      .select(withSec.columns.filterNot(_ == "__v").map(col) :+
        count(lit(1)).over(w).as("n_trailing") :+
        sum(col("__v")).over(w).cast("double").as("total_trailing"): _*)
  }

  /** EXACT rolling `windowDays`-day distinct keys per observed day (WAU/
    * rolling-MAU): sliding distinct cannot compose from per-day counts
    * (keys overlap windows), so each deduped (key, day) pair fans out —
    * map-side, via an exploded generated sequence, never a day×day
    * self-join — to the ≤ `windowDays` trailing window days it serves,
    * keeps to OBSERVED days via a broadcast semi join with the tiny day
    * table, dedups (key, window-day) and counts. The fan-out constant is
    * the window length, so the exact path stays viable far past a
    * self-join; the HLL sketch twin (approx_count_distinct over the same
    * pairs) is the drop-in beyond that. Returns (day: date, n_distinct:
    * bigint). */
  def rollingDistinct(events: DataFrame, dayCol: Column, keyCol: Column,
      windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"need windowDays >= 1, got $windowDays")
    val ud = events.select(dayCol.as("day"), keyCol.as("key")).distinct()
    val days = ud.select(col("day")).distinct()
    ud
      .select(explode(
          sequence(col("day"), date_add(col("day"), windowDays - 1))).as("day"),
        col("key"))
      .join(broadcast(days), Seq("day"), "leftsemi")
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("n_distinct"))
  }

  /** The SKETCH form of [[rollingDistinct]] — the true 100 TB shape:
    * the corpus aggregates ONCE into per-day HLL sketches (Spark's
    * DataSketches `hll_sketch_agg`, map-side partial), and the sliding
    * window is a DAY-LEVEL sketch fan-out + `hll_union_agg` — the merge
    * stage touches days × windowDays SKETCHES (kilobytes each), never
    * keys. Where the exact form's fan-out multiplies (key, day) pairs
    * by the window length, this multiplies only daily sketches; the
    * trade is the HLL estimate error (~1.6% at lgK=12). Deterministic:
    * DataSketches HLL is hash-based, no randomness — estimates are
    * repartition-invariant (spec-pinned, plus a ±5% accuracy pin
    * against the exact twin). */
  def rollingDistinctApprox(events: DataFrame, dayCol: Column,
      keyCol: Column, windowDays: Int, lgK: Int = 12): DataFrame = {
    require(windowDays >= 1, s"need windowDays >= 1, got $windowDays")
    val daily = events.select(dayCol.as("day"), keyCol.as("key"))
      .groupBy("day")
      .agg(hll_sketch_agg(col("key"), lit(lgK)).as("sk"))
    val days = daily.select(col("day")).distinct()
    daily
      .select(explode(
          sequence(col("day"), date_add(col("day"), windowDays - 1))).as("day"),
        col("sk"))
      .join(broadcast(days), Seq("day"), "leftsemi")
      .groupBy("day")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
        .as("n_distinct_est"))
  }

  /** Dense time-spine resample (gap fill): every (bucket, key) cell of
    * the [min, max] range exists in the output — counts zero-filled,
    * `fillCol` carried forward from the last observed bucket per key
    * (null until first observation). The missing-hour problem: a silent
    * ingest gap is INVISIBLE to a plain GROUP BY (no row ≠ zero row),
    * and downstream anomaly detectors / charts need the dense frame.
    *
    * `df` must already be bucket-aggregated (one row per (bucket, key)).
    * SCALE: the spine is time-range-bounded (hours in range × keys),
    * never data-sized — the cross join multiplies two tiny frames; the
    * left join and the carry-forward window both run on the spine, so
    * the whole operator costs nothing next to the rollup that feeds it.
    * `step` is any interval expression ("interval 1 hour", "... 1 day"). */
  def gapFill(df: DataFrame, bucketCol: String, keyCol: String,
      countCol: String, fillCol: String,
      step: String = "interval 1 hour"): DataFrame = {
    // the (bucket-bounded, by contract) input has THREE consumers
    // (bounds, key domain, the grid join) — eager-checkpoint so the
    // upstream rollup's corpus scan runs ONCE (the psiFromCounts
    // posture; 3 scans measured without it)
    val src = org.apache.spark.sql.graft.Bridge.checkpoint(df)
    val bounds = src.agg(min(col(bucketCol)).as("lo"), max(col(bucketCol)).as("hi"))
    val spine = bounds
      .select(explode(sequence(col("lo"), col("hi"), expr(step))).as(bucketCol))
    val keys = src.select(col(keyCol)).distinct()
    val grid = spine.crossJoin(keys)
    val w = Window.partitionBy(keyCol).orderBy(bucketCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(src, Seq(bucketCol, keyCol), "left")
      .select(col(bucketCol), col(keyCol),
        coalesce(col(countCol), lit(0L)).as(countCol),
        last(col(fillCol), ignoreNulls = true).over(w).as(s"last_$fillCol"))
  }

  /** Linear interpolation over the dense spine — the gap fill a forward
    * fill ([[gapFill]]) gets WRONG for a rate/level series (carrying the
    * last value forward flattens every ramp): a missing bucket strictly
    * between two observations t1 < t < t2 reconstructs as
    * v1 + (v2−v1)·(t−t1)/(t2−t1); observed buckets keep their value;
    * buckets before the first / after the last observation stay NULL
    * (extrapolation is a guess, not a fill — callers choose their own).
    *
    * Exactness: bucket distances are integer step counts and the values
    * integer-valued, so the only IEEE op is the final division — both
    * engines compute the identical expression, no rounding needed
    * (hash-exact oracle).
    *
    * Scale shape: spine×keys grid (hours×types-bounded) left-joins the
    * rollup; the prev/next scans are TWO frame variants over ONE
    * key-partitioned Window shuffle. */
  def interpolate(df: DataFrame, bucketCol: String, keyCol: String,
      valueCol: String, step: String = "interval 1 hour",
      stepSeconds: Long = 3600L): DataFrame = {
    // same triple-consumer checkpoint as gapFill
    val src = org.apache.spark.sql.graft.Bridge.checkpoint(df)
    val bounds = src.agg(min(col(bucketCol)).as("lo"), max(col(bucketCol)).as("hi"))
    val spine = bounds
      .select(explode(sequence(col("lo"), col("hi"), expr(step))).as(bucketCol))
    val keys = src.select(col(keyCol)).distinct()
    val grid = spine.crossJoin(keys)
    val wPrev = Window.partitionBy(keyCol).orderBy(bucketCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(keyCol).orderBy(bucketCol)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val v = col(valueCol)
    val joined = grid.join(src, Seq(bucketCol, keyCol), "left")
      .select(col(bucketCol), col(keyCol), v,
        last(v, ignoreNulls = true).over(wPrev).as("__pv"),
        last(when(v.isNotNull, col(bucketCol)), ignoreNulls = true)
          .over(wPrev).as("__pt"),
        first(v, ignoreNulls = true).over(wNext).as("__nv"),
        first(when(v.isNotNull, col(bucketCol)), ignoreNulls = true)
          .over(wNext).as("__nt"))
    // integer step counts (buckets are step-aligned, so `div` is exact) —
    // Column `/` would widen to double and stop mirroring the oracle's
    // integer date_diff
    val dh = expr(s"(unix_timestamp($bucketCol) - unix_timestamp(__pt)) " +
      s"div $stepSeconds")
    val dtot = expr(s"(unix_timestamp(__nt) - unix_timestamp(__pt)) " +
      s"div $stepSeconds")
    joined.select(col(bucketCol), col(keyCol), v.as("observed"),
      when(v.isNotNull, v.cast("double"))
        .when(col("__pv").isNotNull && col("__nv").isNotNull,
          col("__pv").cast("double") +
            ((col("__nv") - col("__pv")) * dh).cast("double") /
              dtot.cast("double"))
        .otherwise(lit(null).cast("double")).as("v_interp"))
  }
}
