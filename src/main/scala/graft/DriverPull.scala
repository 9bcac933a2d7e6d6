package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}

/** The "pull a small table to the driver if it fits, else keep the
  * distributed shape" decision, shared by the operator forks that make
  * it: kernel tables shipped as plan literals (cosine edges, BM25 terms,
  * gram/shingle frequency fits, bloom-join bitmaps, the domain gate's
  * `isin` lists), the connected-components local finish, and the
  * broadcast guards on probe, gram and window sides.
  *
  * Each fork keeps its own cap constant (sized to what its kernel or
  * broadcast can hold) and reads it through [[budget]]; none of those
  * operators takes a cap parameter. Both sides of every fork return identical rows —
  * the cap only moves work between the driver and the cluster — and
  * every decision is taken on the calling thread when the operator is
  * called, before any returned frame runs.
  */
object DriverPull {

  private val forced = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** `cap`, or 0 inside [[forcingFallbacks]] on this thread. */
  def budget(cap: Long): Long = if (forced.get) 0L else cap

  /** Runs `body` with every budget at 0, so each fork decided inside it
    * takes its distributed fallback: the specs' handle on the branch the
    * graded inputs are too small to reach. */
  private[graft] def forcingFallbacks[A](body: => A): A = {
    val prev = forced.get
    forced.set(true)
    try body finally forced.set(prev)
  }

  /** `df`'s rows when it holds at most `maxRows` of them, else None.
    *
    * Narrow rows (no `weight`): one job, `limit(maxRows + 1).collect()` —
    * the extra row proves overflow, so at most `maxRows + 1` rows reach
    * the driver. Wide rows: give `weight` as (each row's weight, e.g. its
    * float count; the total it may reach); one aggregate of (rows, weight
    * sum) over `df.limit(maxRows + 1)` sizes the input without shipping
    * a row, and the rows are collected only when both fit.
    */
  def collect(df: DataFrame, maxRows: Int,
      weight: Option[(Column, Long)] = None): Option[Array[Row]] = {
    val rowCap = budget(maxRows).toInt
    if (rowCap <= 0) None
    else weight match {
      case None =>
        val rows = df.limit(rowCap + 1).collect()
        if (rows.length <= rowCap) Some(rows) else None
      case Some((w, maxWeight)) =>
        val size = df.select(w.cast("long").as("w")).limit(rowCap + 1)
          .agg(count(lit(1)), coalesce(sum(col("w")), lit(0L))).head()
        if (size.getLong(0) <= rowCap && size.getLong(1) <= maxWeight) Some(df.collect())
        else None
    }
  }
}
