package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Change-data-capture helpers.
  *
  * Re-expresses the reference's `apply_changes` CDC upsert
  * (pos-dlt `03_Bronze-to-Silver ETL.py:375-384`: keep the latest row
  * per (store_id, item_id) sequenced by date_time) as a Spark
  * aggregation.
  *
  * Scale design: implemented as `max(struct(seq..., payload...))`
  * rather than a `row_number()` window. The aggregate gets map-side
  * partial aggregation (each input partition collapses to at most
  * |distinct keys| rows before the shuffle), while a window would
  * shuffle AND sort every raw row. At 100 TB with bounded key
  * cardinality (stores x items) the partial-agg version moves orders
  * of magnitude less data.
  */
object Cdc {

  /** Latest row per key group, ordered by `seqCols` (compared
    * lexicographically; callers must include a unique tiebreaker for
    * determinism, e.g. a monotonic id as the last seq column).
    *
    * Output columns: keys ++ seqCols ++ payload, in that order.
    */
  def latestByKey(
      df: DataFrame,
      keys: Seq[String],
      seqCols: Seq[String],
      payload: Seq[String]): DataFrame = {
    val ordered = (seqCols ++ payload).map(col)
    val keyCols = keys.map(col)
    df.groupBy(keyCols: _*)
      .agg(max(struct(ordered: _*)).as("__latest"))
      .select(keyCols ++ (seqCols ++ payload).map(c => col(s"__latest.$c").as(c)): _*)
  }

  /** Column marking delete tombstones: the delete flag inside the
    * collapse, and the stored tombstone column of a `deleteWhen`
    * [[graft.streaming.StatsTableSink.runMerge]] target.
    */
  val DeletedCol = "__del"

  /** Full `apply_changes` semantics including deletes — the
    * `APPLY AS DELETE WHEN <cond>` clause of the DLT API that
    * [[latestByKey]] lacks: among all rows per key the LATEST by
    * `seqCols` wins, and if that winner is a delete marker the key is
    * deleted. Sequencing rules match DLT: a delete older than the
    * current row is ignored; a row newer than a delete re-inserts the
    * key. Deleted keys leave no row, so this is a single-shot merge; a
    * multi-batch stream needs the tombstones that
    * [[graft.streaming.StatsTableSink.runMerge]] retains, or a LATE
    * update older than a delete would resurrect the key.
    *
    * `deleteWhen` is evaluated on `updates`; null results count as
    * not-delete.
    *
    * TIES: when a delete and an update carry EQUAL `seqCols`, the
    * DELETE wins — the marker is compared right after the sequence
    * (before payload) in the max-struct, so the outcome is a stated
    * precedence rule, never a function of payload values. Ties
    * between two non-deletes still fall through to payload order;
    * include a unique tiebreaker in `seqCols` if updates may tie.
    *
    * Scale: identical shape to [[latestByKey]] — ONE
    * partial-aggregated shuffle; the marker is one boolean riding the
    * max(struct).
    */
  def applyChanges(
      current: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      seqCols: Seq[String],
      payload: Seq[String],
      deleteWhen: Column): DataFrame = {
    val cols = keys ++ seqCols ++ payload
    val cur =
      if (current.columns.contains(DeletedCol))
        current.select((cols :+ DeletedCol).map(col): _*)
      else current.select(cols.map(col): _*).withColumn(DeletedCol, lit(false))
    val upd = updates.select(cols.map(col) :+
      coalesce(deleteWhen, lit(false)).as(DeletedCol): _*)
    latestByKey(cur.unionByName(upd), keys, seqCols, DeletedCol +: payload)
      .filter(!col(DeletedCol))
      .select((keys ++ seqCols ++ payload).map(col): _*)
  }

  /** Prefix for SCD2 validity-interval columns (one pair per seq
    * column): `__start_<seq>` / `__end_<seq>`. A NULL end marks the
    * key's CURRENT version. The DLT `__START_AT`/`__END_AT` shape,
    * generalized to composite sequencing.
    */
  val StartPrefix = "__start_"
  val EndPrefix = "__end_"

  /** SCD TYPE 2 derivation — the `stored_as_scd_type = 2` face of the
    * DLT `apply_changes` API ([[applyChanges]] is type 1): instead of
    * keeping only each key's latest row, keep EVERY version as a
    * validity interval `[__start_*, __end_*)` ordered by `seqCols`.
    * Each change opens a version at its sequence; the chronologically
    * previous version closes at that same sequence (intervals tile
    * exactly — an as-of lookup at time t matches exactly one version).
    * A row matching `deleteWhen` closes the current version WITHOUT
    * opening one (the key has no version until a later re-insert — the
    * gap is the deletion). Out-of-order input needs no special case:
    * history is a function of the sorted change set, so a late change
    * lands in its correct historical position and the derivation is
    * input-order independent.
    *
    * `collapseUnchanged = true` additionally drops a change whose
    * payload is null-safe-equal to its immediate surviving
    * predecessor's (DLT's track-history behavior: a no-op change does
    * not open a spurious version; a run of identical payloads keeps
    * its first). A change right after a delete always opens a version
    * — the deletion gap makes it a re-insert, not a no-op.
    *
    * TIES on (key, sequence) collapse to one change before the
    * window: a delete beats any update at the same sequence (same
    * precedence rule as [[applyChanges]]); two updates tie-break on
    * payload order. Include a unique tiebreaker in `seqCols` if
    * updates may genuinely tie.
    *
    * Scale: ONE shuffle on the key columns + per-key sort — the
    * window is irreducible here (validity intervals are a statement
    * about per-key ORDER, which no partial aggregate can express),
    * but state per key is its change count, and keys distribute
    * evenly; nothing touches the driver. For continuous maintenance
    * over a mutable history table use [[scdType2Apply]], which pays
    * this only for the keys a batch touches.
    */
  def scdType2(
      changes: DataFrame,
      keys: Seq[String],
      seqCols: Seq[String],
      payload: Seq[String],
      deleteWhen: Column = lit(false),
      collapseUnchanged: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tagged = changes.select(
      (keys ++ seqCols ++ payload).map(col) :+
        coalesce(deleteWhen, lit(false)).as(DeletedCol): _*)
    // one change per (key, seq): delete-wins, then payload order —
    // the max(struct) gets map-side partial aggregation, so the tie
    // collapse never moves more than |distinct (key,seq)| per task
    val collapsed = tagged
      .groupBy((keys ++ seqCols).map(col): _*)
      .agg(max(struct(col(DeletedCol) +: payload.map(col): _*)).as("__w"))
      .select((keys ++ seqCols).map(col) ++
        (DeletedCol +: payload).map(c => col(s"__w.$c").as(c)): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(seqCols.map(col): _*)
    val kept =
      if (!collapseUnchanged) collapsed
      else {
        val pay = struct(payload.map(col): _*)
        val lagPay = lag(pay, 1).over(w)
        val lagDel = lag(col(DeletedCol), 1).over(w)
        // drop only a non-delete whose surviving predecessor is a
        // non-delete with a null-safe-equal payload; comparing to the
        // IMMEDIATE predecessor collapses whole runs in one pass
        // (every non-first member of a run sees an equal lag)
        collapsed.withColumn("__noop",
            !col(DeletedCol) && lagDel === false && (pay <=> lagPay))
          .filter(!col("__noop")).drop("__noop")
      }
    val w2 = Window.partitionBy(keys.map(col): _*)
      .orderBy(seqCols.map(col): _*)
    val endS = lead(struct(seqCols.map(col): _*), 1).over(w2)
    kept.withColumn("__endS", endS)
      .filter(!col(DeletedCol))
      .select(keys.map(col) ++ payload.map(col) ++
        seqCols.map(c => col(c).as(s"$StartPrefix$c")) ++
        seqCols.map(c => col(s"__endS.$c").as(s"$EndPrefix$c")): _*)
  }

  /** Incrementally apply a change batch to an existing SCD2 history:
    * only the keys PRESENT IN THE BATCH are re-derived; every other
    * key's history rows pass through untouched (never shuffled, never
    * sorted). The affected keys' original change events are
    * RECONSTRUCTED from their history rows — each version row was an
    * upsert at its start, and an interval whose end is not the next
    * version's start (or that has no successor but is closed) can
    * only have been closed by a delete at that end — so late,
    * out-of-order changes splice into their correct historical
    * position, exactly as if the full change log had been replayed.
    * The one event class replay-from-state cannot recover is a
    * delete that closed NOTHING — sequenced before the key's first
    * version, or while the key was already deleted: it leaves no
    * trace in the history, so a later batch change sequenced before
    * it will not be re-closed by it — the same information bound any
    * snapshot-replay CDC has. Feed
    * such tombstones through [[applyChanges]]'s retained-tombstone
    * state if that ordering can occur upstream.
    *
    * With `collapseUnchanged = true` the same bound applies to
    * collapsed no-op changes: a change dropped as a no-op leaves no
    * trace, so a later batch change splicing INTO a collapsed run
    * re-derives from the surviving events only — the result is the
    * correct collapse of (reconstructable history ∪ batch), which can
    * place a version boundary at the run's surviving start rather
    * than at a dropped duplicate's timestamp. With
    * `collapseUnchanged = false` (and no leading deletes) apply is
    * EXACTLY a full rebuild; the spec pins both statements.
    *
    * Cost: two broadcast joins of history against the batch's
    * distinct keys (semi + anti; the batch side is bounded) and one
    * window over ONLY the affected keys' rows — O(batch keys'
    * history), never O(table). The 100 TB shape: a daily dimension
    * delta re-derives a few thousand keys, not the corpus.
    *
    * `history` must carry the same key/payload/interval schema this
    * object derives ([[scdType2]] output). Same tie rules; a new
    * change at exactly a reconstructed deletion's sequence loses to
    * the delete (stated precedence, matching [[applyChanges]]).
    */
  def scdType2Apply(
      history: DataFrame,
      changes: DataFrame,
      keys: Seq[String],
      seqCols: Seq[String],
      payload: Seq[String],
      deleteWhen: Column = lit(false),
      collapseUnchanged: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val affectedKeys = changes.select(keys.map(col): _*).distinct()
    val affected = history.join(broadcast(affectedKeys), keys, "left_semi")
    val untouched = history.join(broadcast(affectedKeys), keys, "left_anti")
    val startS = struct(seqCols.map(c => col(s"$StartPrefix$c").as(c)): _*)
    val endS = struct(seqCols.map(c => col(s"$EndPrefix$c").as(c)): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(seqCols.map(c => col(s"$StartPrefix$c")): _*)
    val nextStart = lead(startS, 1).over(w)
    val endIsNull = seqCols.map(c => col(s"$EndPrefix$c").isNull)
      .reduce(_ && _)
    val withNext = affected.withColumn("__next", nextStart)
    // every version row replays as an upsert event at its start...
    val upserts = withNext.select(
      keys.map(col) ++
        seqCols.map(c => col(s"$StartPrefix$c").as(c)) ++
        payload.map(col) :+ lit(false).as(DeletedCol): _*)
    // ...and a closed interval not abutting its successor replays the
    // delete that closed it (null-safe: a closed end with no
    // successor is also a delete)
    val deletes = withNext
      .filter(!endIsNull && !(endS <=> col("__next")))
      .select(keys.map(col) ++
        seqCols.map(c => col(s"$EndPrefix$c").as(c)) ++
        payload.map(c => lit(null).cast(affected.schema(c).dataType).as(c)) :+
        lit(true).as(DeletedCol): _*)
    val newEvents = changes.select(
      (keys ++ seqCols ++ payload).map(col) :+
        coalesce(deleteWhen, lit(false)).as(DeletedCol): _*)
    val rederived = scdType2(
      upserts.unionByName(deletes).unionByName(newEvents),
      keys, seqCols, payload, col(DeletedCol), collapseUnchanged)
    untouched.unionByName(rederived)
  }
}
