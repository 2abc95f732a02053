package graft.ops

import graft.io.TableStore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Executes one [[SyncOp]] against a target table — the Spark rewrite of
  * the reference's per-table copy flows (`task/TaskLogic.scala:167-241`,
  * `clickhouse/jdbsChSession.scala:222-414`; SURVEY.md §2.3 W1–W6).
  *
  * Every operation is single-pass over the source with at most one shuffle
  * (the anti/merge join); nothing is ever collected to the driver. Scale
  * notes per op inline.
  */
/** Per-table result accounting, mirroring the reference's audit columns
  * (`ora/jdbcSession.scala:592-615`): pre/post counts and the copied
  * delta (`clickhouse/jdbsChSession.scala:299-308`). */
final case class SyncResult(table: String, op: SyncOp,
                            rowsBefore: Long, rowsAfter: Long) {
  def rowsCopied: Long = rowsAfter - rowsBefore
}

final class SyncEngine(val store: TableStore) {

  private def targetOpt(table: String): Option[DataFrame] =
    if (store.exists(table)) Some(store.read(table)) else None

  /** Apply projection (P1) + raw predicate (P2) + source order (O1) the way
    * the reference assembles its pull query (`table/Table.scala:45-92`). */
  def prepareSource(src: DataFrame, spec: TableSpec): DataFrame = {
    val projected = spec.onlyColumns match {
      case Some(cols) if cols.nonEmpty => src.select(cols.map(col): _*)
      case _                           => src
    }
    val filtered = spec.whereFilter match {
      case Some(f) => projected.filter(expr(f))
      case None    => projected
    }
    spec.orderByOraData match {
      // a global sort before write is only meaningful for pull-side
      // clustering; sortWithinPartitions preserves the intent (clustered
      // files) without a full-range shuffle at scale.
      case Some(o) => filtered.sortWithinPartitions(o.split(",").map(s => expr(s.trim)).toIndexedSeq: _*)
      case None    => filtered
    }
  }

  /** W1 `recreate`: drop + full reload (`request/OperType.scala:8-14`,
    * `clickhouse/jdbsChSession.scala:257-314`). One write pass, no shuffle.
    *
    * `targetSchema` is the stored-DDL path: the reference creates the
    * target from a stored `create_ch_script` (fetched
    * `ora/jdbcSession.scala:252-269`) rather than inferring from the
    * source — when given, the source is normalized to it (column order,
    * casts, date clamp) via OraTypeMap.normalize. */
  def recreate(spec: TableSpec, src: DataFrame,
               targetSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : SyncResult = {
    val t = spec.fullName
    val before = 0L
    store.drop(t)
    val prepared = prepareSource(src, spec)
    val shaped = targetSchema match {
      case Some(schema) => graft.types.OraTypeMap.normalize(prepared, schema)
      case None         => prepared
    }
    store.overwrite(t, shaped)
    SyncResult(t, SyncOp.Recreate, before, store.count(t))
  }

  /** W2 `append_where`: delete target rows matching the filter, then insert
    * source rows matching it — delete-first to eliminate duplicates
    * (`request/OperType.scala:16-26`, delete
    * `clickhouse/jdbsChSession.scala:222-236`). On immutable storage this
    * is an overwrite of `target.filter(!p) ∪ source.filter(p)`; on a
    * partitioned sink the same shape becomes `replaceWhere`/dynamic
    * partition overwrite so only affected partitions rewrite at scale. */
  def appendWhere(spec: TableSpec, src: DataFrame): SyncResult = {
    val t    = spec.fullName
    val pred = expr(spec.whereFilter.getOrElse(
      throw InvalidTableSpec("append_where requires where_filter")))
    val incoming = prepareSource(src, spec)
    targetOpt(t) match {
      case None =>
        store.overwrite(t, incoming)
        SyncResult(t, SyncOp.AppendWhere, 0L, store.count(t))
      case Some(target) =>
        val before = store.count(t)
        // NULL-safe keep: rows where pred is false OR NULL are kept, exactly
        // like SQL DELETE WHERE pred (deletes only pred=TRUE rows).
        val kept = target.filter(!coalesce(pred, lit(false)))
        store.overwrite(t, kept.unionByName(incoming))
        SyncResult(t, SyncOp.AppendWhere, before, store.count(t))
    }
  }

  /** W3 `append_bymax`: watermark incremental
    * (`request/OperType.scala:38-46`; probe
    * `clickhouse/jdbsChSession.scala:93-121`; predicate
    * `table/Table.scala:47-57`). Probe is one agg; the filtered append
    * pushes `sync_col > wm` down to the source scan (visible as
    * PushedFilters on parquet/JDBC), so only the delta is read. */
  def appendByMax(spec: TableSpec, src: DataFrame): SyncResult = {
    val t  = spec.fullName
    val sc = spec.syncByColumnMax.getOrElse(
      throw InvalidTableSpec("append_bymax requires sync_by_column_max"))
    val wm = Watermark.maxValAndCnt(targetOpt(t), sc)
    val delta = prepareSource(src, spec)
      .filter(Watermark.watermarkPredicate(sc, wm))
    if (store.exists(t)) store.append(t, delta) else store.overwrite(t, delta)
    SyncResult(t, SyncOp.AppendByMax, wm.cntRows, store.count(t))
  }

  /** W4 `append_notin`: insert-only dedup by 1–3 integer keys
    * (`request/OperType.scala:28-36`). The reference collects the target
    * key set to the driver and renders a NOT-IN literal
    * (`clickhouse/jdbsChSession.scala:123-177`, `table/Table.scala:59-84`)
    * — we keep it distributed as a left_anti join (exact because keys are
    * non-null integers; SURVEY.md §7.4). AQE broadcasts the key set when
    * small; otherwise it's one shuffle on the key columns. */
  def appendNotIn(spec: TableSpec, src: DataFrame): SyncResult = {
    val t    = spec.fullName
    val keys = spec.syncByColumns.getOrElse(
      throw InvalidTableSpec("append_notin requires sync_by_columns"))
    val incoming = prepareSource(src, spec)
    targetOpt(t) match {
      case None =>
        store.overwrite(t, incoming)
        SyncResult(t, SyncOp.AppendNotIn, 0L, store.count(t))
      case Some(target) =>
        val before = store.count(t)
        val fresh  = incoming.join(
          Watermark.keySet(target, keys), keys, "left_anti")
        store.append(t, fresh)
        SyncResult(t, SyncOp.AppendNotIn, before, store.count(t))
    }
  }

  /** W5 `update`: bulk column update of existing rows by primary key — the
    * reference's staging-table + COMPLEX_KEY_DIRECT dictionary +
    * `ALTER TABLE UPDATE c = dictGet(...) WHERE dictHas(...)` flow
    * (`task/TaskLogic.scala:27-92`, `clickhouse/jdbsChSession.scala:61-91,
    * 316-385`). `dictGet` on the PK is semantically a broadcast hash-join
    * lookup (SURVEY.md §1.1), so the Spark form is:
    * left-join target←updates on PK, `coalesce(upd.c, t.c)` for each
    * update_field, rewrite. Only `update_fields` change, only matched PKs
    * change (dictHas guard ≡ join match), unmatched update rows are
    * ignored (dictionary semantics). Updates are deduped to one row per PK
    * (last by sync col if given) — a dictionary holds one value per key.
    *
    * W6 `sync_update_by_column_max`: when set, only update rows newer than
    * the target's max feed the merge (`clickhouse/jdbsChSession.scala:
    * 103-106`).
    *
    * Scale: broadcast when the update set is small (hinted); else Catalyst
    * falls back to a shuffled hash/SMJ on the PK. The full-table rewrite is
    * the unavoidable cost of immutable storage — on a partitioned target
    * this becomes a rewrite of only the partitions containing matched PKs.
    */
  def update(spec: TableSpec, updatesSrc: DataFrame,
             pkColumns: Seq[String],
             broadcastUpdates: Boolean = true): SyncResult = {
    val t = spec.fullName
    require(pkColumns.nonEmpty, s"$t: update requires a primary key")
    val target = targetOpt(t).getOrElse(
      throw InvalidTableSpec(s"$t: update target does not exist"))
    val before = store.count(t)
    val (feed, updCols) = updateFeed(spec, target, updatesSrc, pkColumns)
    val merged = mergeUpdates(target, target, feed, pkColumns, updCols,
      broadcastUpdates)
    store.overwrite(t, merged)
    SyncResult(t, SyncOp.Update, before, store.count(t))
  }

  /** Shared update-feed preparation: W6 watermark filter, projection to
    * PK + update_fields, dictionary dedup to one row per PK (last by
    * sync col when given), and the `__matched` marker that distinguishes
    * "no update row for this PK" from "update value is NULL" — the
    * dictHas guard; a matched NULL really nulls the field. */
  private def updateFeed(spec: TableSpec, target: DataFrame,
                         updatesSrc: DataFrame, pkColumns: Seq[String])
      : (DataFrame, Seq[String]) = {
    val updCols = spec.updateFields.getOrElse(
      throw InvalidTableSpec("update requires update_fields")).filterNot(pkColumns.contains)
    val feed0 = spec.syncUpdateByColumnMax match {
      case Some(scol) =>
        val wm = Watermark.maxValAndCnt(Some(target), scol)
        updatesSrc.filter(Watermark.watermarkPredicate(scol, wm))
      case None => updatesSrc
    }
    // survivor ordering: sync col (last-loaded-wins, the reference's
    // dictionary semantics) when given, then ALL update_fields as a
    // deterministic tiebreaker — ordering by pk alone would be constant
    // within the partition and pick an arbitrary survivor per run.
    // Rows still tied after (sync, update_fields) are identical in every
    // projected column, so the survivor is value-identical either way.
    val ordCols = (spec.syncUpdateByColumnMax.toSeq ++ updCols).distinct
    val ord =
      if (ordCols.nonEmpty) ordCols.map(c => col(c).desc)
      else Seq(col(pkColumns.head).desc)   // pk-only projection: rows identical
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pkColumns.map(col): _*)
      .orderBy(ord: _*)
    val feed = feed0
      .select((pkColumns ++ updCols ++
        spec.syncUpdateByColumnMax.toSeq.filterNot(c =>
          pkColumns.contains(c) || updCols.contains(c))).distinct.map(col): _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select((pkColumns ++ updCols).map(col): _*)
      .withColumn("__matched", lit(true))
    (feed, updCols)
  }

  /** Left-join merge of the prepared feed into `base`, preserving the
    * column order of `shape`. */
  private def mergeUpdates(shape: DataFrame, base: DataFrame, feed: DataFrame,
                           pkColumns: Seq[String], updCols: Seq[String],
                           broadcastUpdates: Boolean): DataFrame = {
    val updAliased = updCols.foldLeft(feed) { (d, c) =>
      d.withColumnRenamed(c, s"__upd_$c")
    }
    val joined = base.join(
      if (broadcastUpdates) broadcast(updAliased) else updAliased,
      pkColumns, "left")
    shape.columns.foldLeft(joined) { (d, c) =>
      if (updCols.contains(c))
        d.withColumn(c,
          when(coalesce(col("__matched"), lit(false)), col(s"__upd_$c"))
            .otherwise(col(c)))
      else d
    }.select(shape.columns.map(col).toIndexedSeq: _*)
  }

  /** W5 on a hive-partitioned target: rewrite ONLY the partitions that
    * contain matched PKs — the at-scale form of [[update]] (SURVEY.md
    * §7.4 "ALTER TABLE UPDATE on immutable storage"). Requires a
    * [[graft.io.ParquetTableStore]] target written with
    * `overwritePartitioned`.
    *
    * Flow: ① semi-join finds the affected partition values (small —
    * bounded by partition count); ② only those partitions are read and
    * merged (partition pruning on the scan); ③ the merged slice lands
    * via dynamic partition overwrite, staged through a temp table first
    * so the write never scans the files it replaces. Untouched
    * partitions' files are never rewritten (asserted by mtime in specs).
    */
  def updatePartitioned(spec: TableSpec, updatesSrc: DataFrame,
                        pkColumns: Seq[String], partCol: String): SyncResult = {
    val t = spec.fullName
    val pstore = store.asInstanceOf[graft.io.ParquetTableStore]
    val target = store.read(t)
    val before = store.count(t)
    // identical semantics to update(): W6 watermark + dictionary dedup +
    // matched-flag merge — only the rewrite scope differs
    val (feed, updCols) = updateFeed(spec, target, updatesSrc, pkColumns)
    val affected = target
      .join(feed.select(pkColumns.map(col): _*).distinct(), pkColumns, "left_semi")
      .select(partCol).distinct()
    val slice = target.join(broadcast(affected), Seq(partCol), "left_semi")
    val merged = mergeUpdates(target, slice, feed, pkColumns, updCols,
      broadcastUpdates = true)
    // stage the merged slice, then dynamic-overwrite only its partitions
    val stagingT = s"$t.__upd_staging"
    store.overwrite(stagingT, merged)
    pstore.dynamicOverwrite(t, store.read(stagingT), Seq(partCol))
    store.drop(stagingT)
    SyncResult(t, SyncOp.Update, before, store.count(t))
  }

  /** W2 on a hive-partitioned target: the `replaceWhere` shape — only
    * partitions owning deleted or inserted rows rewrite. Affected set =
    * partitions of target rows matching the filter ∪ partitions of the
    * incoming rows. */
  def appendWherePartitioned(spec: TableSpec, src: DataFrame,
                             partCol: String): SyncResult = {
    val t = spec.fullName
    val pstore = store.asInstanceOf[graft.io.ParquetTableStore]
    val pred = expr(spec.whereFilter.getOrElse(
      throw InvalidTableSpec("append_where requires where_filter")))
    val incoming = prepareSource(src, spec).filter(pred)
    val target = store.read(t)
    val before = store.count(t)
    val affected = target.filter(coalesce(pred, lit(false))).select(partCol)
      .union(incoming.select(partCol)).distinct()
    val slice = target.join(broadcast(affected), Seq(partCol), "left_semi")
    val newSlice = slice.filter(!coalesce(pred, lit(false)))
      .unionByName(incoming)
    val stagingT = s"$t.__aw_staging"
    store.overwrite(stagingT, newSlice)
    val staged = store.read(stagingT)
    // dynamic overwrite only REPLACES partitions present in the written
    // frame — an affected partition whose rows were ALL deleted (and got
    // no incoming rows) writes nothing and must be dropped explicitly,
    // or the deleted rows would silently survive. Collected BEFORE the
    // overwrite: `affected` scans the pre-overwrite target listing, which
    // the overwrite invalidates.
    val emptied = affected.join(staged.select(partCol).distinct(),
        Seq(partCol), "left_anti")
      .collect().map(_.get(0)).toSeq
    pstore.dynamicOverwrite(t, staged, Seq(partCol))
    pstore.dropPartitions(t, partCol, emptied)
    store.drop(stagingT)
    SyncResult(t, SyncOp.AppendWhere, before, store.count(t))
  }

  /** Dispatch one spec (update ops need the pk + updates feed → use
    * [[update]] directly; `run` covers the non-update wave). */
  def run(spec: TableSpec, src: DataFrame): SyncResult = spec.operation match {
    case SyncOp.Recreate    => recreate(spec, src)
    case SyncOp.AppendWhere => appendWhere(spec, src)
    case SyncOp.AppendByMax => appendByMax(spec, src)
    case SyncOp.AppendNotIn => appendNotIn(spec, src)
    case SyncOp.Update =>
      throw InvalidTableSpec("update needs pkColumns: call update() directly")
  }
}
