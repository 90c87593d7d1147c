package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Distributed as-of join: for every left row, the most recent right
  * row with the same key and `rightTime <= leftTime`.
  *
  * Spark has no native as-of join; the usual workarounds are a range
  * cross-join (quadratic) or per-key `mapPartitions` merges
  * (imperative). This implementation is the UNION + WINDOW
  * formulation: tag both inputs, union them, and let
  * `last_value(right payload) IGNORE NULLS` over
  * `(key ORDER BY time, side)` carry the latest right row forward
  * into each left row. One shuffle on the key, sorted once,
  * whole-stage codegen throughout — at 100 TB this is a single
  * sort-based pass per key group, the same shape as a sort-merge
  * join. Ties (rightTime == leftTime) match, because right rows sort
  * before left rows at equal timestamps.
  *
  * Two shuffle-volume choices (guide §2.3/§2.4), both exact:
  *
  *  - the left key/time columns ride the union ONCE as `__k`/`__t`
  *    and are re-projected into their output names afterwards —
  *    duplicating them per row would widen every unioned left row
  *    through the exchange and the window sort for no information;
  *  - `rightTieBreak` folds a latest-per-(key, rightTime) dedup of
  *    the right side INTO the carry window's ordering: among right
  *    rows with equal (key, time) the running `last` takes the
  *    greatest tie-break tuple — exactly
  *    `Silver.dedupLatest(right, Seq(key, time), tieBreak)` followed
  *    by the carry, minus dedupLatest's own exchange + aggregate over
  *    the right side (§2.4: two operations keyed the same way share
  *    one exchange). Tie-break columns must be non-null right payload
  *    columns for the equivalence to be exact (AsOfJoinSpec pins it
  *    against the dedup-then-join form on a duplicate-timed frame):
  *    a null sorts first in the ascending tie-break order and can
  *    diverge from dedupLatest's max, so a nullable tie-break column
  *    is rejected — wrap a column that is non-null by contract in
  *    [[notNull]].
  *
  * The output's left key/time columns keep the left side's types:
  * the union widens `__k`/`__t` when the right key or time type is
  * wider, and the output casts them back.
  */
object AsOfJoin {
  /** @param left       left (probe) frame
    * @param right      right (reference) frame
    * @param leftKey    join key column name in `left`
    * @param rightKey   join key column name in `right`
    * @param leftTime   event-time column name in `left`
    * @param rightTime  event-time column name in `right`
    * @param rightCols  right columns to carry (must not clash with left)
    * @param joinType   "inner" (drop unmatched left rows) or "left"
    * @param direction  "backward" (latest right with rightTime <=
    *                   leftTime, the default) or "forward" (earliest
    *                   right with rightTime >= leftTime); ties match
    *                   in both directions
    * @param rightTieBreak  names of non-nullable `rightCols` whose
    *                   GREATEST tuple wins among right rows sharing
    *                   (key, rightTime) — the fused
    *                   latest-per-(key, time) dedup. Empty keeps the
    *                   historical contract (unique right (key, time)
    *                   rows are the caller's responsibility).
    */
  def apply(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightCols: Seq[String],
      joinType: String = "inner",
      direction: String = "backward",
      rightTieBreak: Seq[String] = Nil
  ): DataFrame = {
    require(joinType == "inner" || joinType == "left", s"unsupported joinType $joinType")
    require(direction == "backward" || direction == "forward", s"unsupported direction $direction")
    require(rightTieBreak.forall(rightCols.contains),
      s"rightTieBreak ${rightTieBreak.mkString(",")} must be carried rightCols")
    require(rightTieBreak.forall(c => !right.schema(c).nullable),
      s"rightTieBreak ${rightTieBreak.filter(c => right.schema(c).nullable).mkString(",")} " +
        "nullable: wrap a column that is non-null by contract in AsOfJoin.notNull")
    val leftCols = left.columns.toSeq
    // left key/time travel once as __k/__t; only the OTHER left
    // columns are appended to the union row (narrower exchange+sort)
    val leftExtras = leftCols.filterNot(c => c == leftKey || c == leftTime)

    // The whole right payload is carried as ONE struct so the window's
    // `last(_, ignoreNulls)` either takes the full latest right row or
    // none of it — carrying columns independently would backfill a
    // legitimately-NULL field from an OLDER right row, mixing
    // attributes of different right rows into one output row.
    val payloadType = right.select(struct(rightCols.map(col).toIndexedSeq: _*).as("__r"))
      .schema("__r").dataType

    val taggedLeft = left
      .withColumn("__k", col(leftKey))
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
      .select(Seq(col("__k"), col("__t"), col("__side"),
        lit(null).cast(payloadType).as("__r")) ++ leftExtras.map(col): _*)

    val taggedRight = right
      .withColumn("__k", col(rightKey))
      .withColumn("__t", col(rightTime))
      .withColumn("__side", lit(0))
      .select(Seq(col("__k"), col("__t"), col("__side"),
        struct(rightCols.map(col).toIndexedSeq: _*).as("__r")) ++
        leftExtras.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)

    // forward as-of is the same carry scanned in reverse time order;
    // right rows sort before left at equal timestamps either way, so
    // ties match in both directions. Tie-break columns order right
    // rows WITHIN an equal (key, time) group (left rows' __r is null,
    // and __side already separates the sides, so the extra sort keys
    // never reorder across sides): ascending, so the running `last`
    // carries the greatest tuple — in both directions, because the
    // group shares one __t and only the __t order flips.
    val timeOrder = if (direction == "backward") col("__t").asc else col("__t").desc
    val orderKeys = Seq(timeOrder, col("__side")) ++
      rightTieBreak.map(c => col("__r").getField(c).asc)
    val w = Window.partitionBy("__k").orderBy(orderKeys: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val carried = taggedLeft.unionByName(taggedRight)
      .withColumn("__r", last(col("__r"), ignoreNulls = true).over(w))

    val leftRows = carried.where(col("__side") === 1)
    val filtered = if (joinType == "inner") leftRows.where(col("__r").isNotNull) else leftRows
    val leftOut = leftCols.map {
      case c if c == leftKey  => col("__k").cast(left.schema(c).dataType).as(c)
      case c if c == leftTime => col("__t").cast(left.schema(c).dataType).as(c)
      case c                  => col(c)
    }
    filtered
      .select(leftOut ++ rightCols.map(c => col("__r").getField(c).as(c)): _*)
  }

  /** `c` as a non-nullable column that fails the query on a null row —
    * how a caller hands a column that is non-null by contract (a
    * primary key read from parquet, whose schema is always nullable)
    * to `rightTieBreak`. */
  def notNull(c: Column): Column = org.apache.spark.sql.GraftColumns.assertNotNull(c)
}
