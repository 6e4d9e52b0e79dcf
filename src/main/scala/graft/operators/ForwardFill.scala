package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Forward-fill (last-observation-carried-forward) over a dense date
  * scaffold — the operator behind the reference's inventory metrics
  * (README.md:63-65, SURVEY.md §2.10/W5): snapshots are sparse ("only
  * products whose stock changed appear"), so "stock per category per day"
  * needs every (entity, day) cell filled with the last known value.
  *
  * Semantics: for each entity and scaffold day D, value = the latest
  * snapshot assigned to a slot <= D. Callers map each snapshot to its
  * scaffold slot (`snap_date`) BEFORE calling — e.g. clamp pre-window
  * snapshots to the first scaffold day, or roll daily snapshots up to
  * month-ends — so the scaffold never needs to extend back to the first
  * snapshot in history. Within a slot the winner is the row with the
  * highest `tiebreaks` tuple (descending lexicographic, NULL below every
  * value); include the original snapshot date as the first tiebreak so
  * "latest observation wins" survives the slot mapping. Entities with no snapshot on or
  * before D contribute nothing (SURVEY.md §7.4.1).
  *
  * Scale: each collapsed snapshot becomes a VALIDITY INTERVAL
  * [snap_date, next snap_date) via one `lead` window (single shuffle on
  * entity), and the (small, broadcast) slot list joins against the
  * intervals map-side — a BroadcastNestedLoopJoin whose cost is
  * snapshots-in-window × |days|, bounded by the scaffold length. No
  * dense entities × days scaffold is ever materialized, no second scan
  * derives the distinct entity set, and no carry-forward window runs
  * over scaffold rows (the round-2/3 shape paid all three: 4 shuffles
  * and 2 source scans vs 2 shuffles and 1 scan here).
  */
object ForwardFill {
  /** snapshots columns: entity, snap_date (slot date), value, tiebreaks...
    * days: single-column `datum` date scaffold (broadcast-sized).
    * Returns (entity, datum, value) with value forward-filled; (entity,
    * day) cells before the entity's first snapshot are dropped. */
  def fill(snapshots: DataFrame, days: DataFrame,
           tiebreaks: Seq[String] = Seq("tiebreak")): DataFrame = {
    // Collapse to one snapshot per (entity, slot): highest tiebreak
    // tuple wins — max_by over the lexicographic struct, i.e. a HASH
    // aggregate with map-side partials, rather than a rank window whose
    // sort pays O(n log n) per group and shuffles every input row (the
    // dominant cost of the fill at fact scale).
    // A SINGLE tiebreak column is used bare: max_by over a primitive
    // keeps a fixed-width aggregation buffer, so the collapse plans as
    // a HashAggregate; a struct ordering key (the multi-column case)
    // falls back to SortAggregate, whose per-partition sort was the
    // dominant stage of the stock metrics (r16) — callers with several
    // tiebreaks can pack them into one orderable value when the domain
    // allows (see Metrics.stockByCategory).
    // A NULL tiebreak ranks lowest, as it does inside the struct. max_by
    // skips NULL keys, so a slot whose single tiebreaks are all NULL
    // would lose its value; it takes any of its rows' values instead,
    // as the struct form picks any of its tied rows.
    val winner = if (tiebreaks.size == 1) {
      val tb = col(tiebreaks.head)
      when(count(tb) === 0, first(col("value"))).otherwise(max_by(col("value"), tb))
    } else max_by(col("value"), struct(tiebreaks.map(col): _*))
    val daily = snapshots
      .groupBy(col("entity"), col("snap_date"))
      .agg(winner.as("value"))

    // Each snapshot is valid on scaffold days in [snap_date, next_snap);
    // the last snapshot carries forward indefinitely (null next_snap).
    val nextSnap = lead(col("snap_date"), 1).over(
      Window.partitionBy(col("entity")).orderBy(col("snap_date")))
    daily.withColumn("next_snap", nextSnap)
      .join(broadcast(days),
        col("datum") >= col("snap_date") &&
          (col("next_snap").isNull || col("datum") < col("next_snap")))
      .select(col("entity"), col("datum"), col("value"))
  }
}
