package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Union + running-last as-of join reference — a verification fixture
  * for [[graft.plans.AsOfJoinPlan]], NOT part of the engine. Attaches to
  * every left row the most recent right row with the same key and
  * `rightTs <= leftTs` (optionally within a tolerance), built from
  * built-ins only:
  *
  *   - both inputs are tagged and unioned, keyed by the join key;
  *   - one window sorted by (ts, side) feeds `last(payload, ignoreNulls)`
  *     over the unbounded-preceding frame, the running "most recent right
  *     row seen so far";
  *   - right rows sort BEFORE left rows at equal ts, so a right row
  *     timestamped exactly at `leftTs` matches (the `>=` convention of
  *     DuckDB/pandas ASOF); at equal (ts, side) the greatest payload
  *     struct wins.
  *
  * The left row rides the union as one struct column, so no join-back is
  * needed. With every output column consumed the native exec ran 1.22 s
  * against this form's 1.46 s on 1M events (4 cores, 12 alternating
  * passes), which is why the exec ships and this form is the parity
  * reference.
  *
  * @param key       equi-join key column names (present on both sides)
  * @param leftTs    left ordering column (numeric, e.g. epoch millis)
  * @param rightTs   right ordering column (same scale as `leftTs`)
  * @param payload   right columns carried onto matches (names must not
  *                  collide with left columns)
  * @param tolerance max `leftTs - rightTs` for a match; <= 0 = unbounded
  * @return left rows + matched `payload` columns + `asof_ts` (matched
  *         right timestamp), all NULL when no right row qualifies
  */
object RefAsOfJoin {

  def backward(left: DataFrame, right: DataFrame, key: Seq[String],
               leftTs: String, rightTs: String, payload: Seq[String],
               tolerance: Long = 0L): DataFrame = {
    require(key.nonEmpty, "as-of join requires at least one key column")
    val keyCols = key.map(col)
    // struct carries the matched ts with the payload, so the tolerance
    // check and the asof_ts output need no second window pass
    val pStruct = struct(col(rightTs).cast("long").as("__ts") +:
      payload.map(col): _*)
    val pType = right.select(pStruct.as("__p")).schema("__p").dataType
    val lStruct = struct(left.columns.map(col): _*)
    val lType = left.select(lStruct.as("__l")).schema("__l").dataType
    val rTagged = right.select(
      keyCols :+ col(rightTs).cast("long").as("__ats") :+
        lit(1).as("__isR") :+ pStruct.as("__p") :+
        lit(null).cast(lType).as("__l"): _*)
    val lTagged = left.select(
      keyCols :+ col(leftTs).cast("long").as("__ats") :+
        lit(0).as("__isR") :+ lit(null).cast(pType).as("__p") :+
        lStruct.as("__l"): _*)
    // one unioned relation, one window: right-before-left at equal ts; at
    // equal (ts, side) the greatest payload struct wins (deterministic)
    val w = Window.partitionBy(keyCols: _*)
      .orderBy(col("__ats").asc, col("__isR").desc, col("__p").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matchedCol = last(col("__p"), ignoreNulls = true).over(w)
    val boundedCol =
      if (tolerance <= 0L) matchedCol
      else when(col("__ats") - matchedCol.getField("__ts") <= tolerance,
        matchedCol)
    rTagged.unionByName(lTagged)
      .withColumn("__m", boundedCol)
      .filter(col("__isR") === 0)
      .select(left.columns.map(c => col(s"__l.$c").as(c)) ++
        payload.map(p => col(s"__m.$p").as(p)) :+
        col("__m.__ts").as("asof_ts"): _*)
  }
}
