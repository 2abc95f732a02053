package graft.ops

import graft.io.TableStore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-table result accounting, mirroring the reference's audit columns
  * (`ora/jdbcSession.scala:592-615`): pre/post counts and the copied
  * delta (`clickhouse/jdbsChSession.scala:299-308`). */
final case class SyncResult(table: String, op: SyncOp,
                            rowsBefore: Long, rowsAfter: Long) {
  def rowsCopied: Long = rowsAfter - rowsBefore
}

/** Executes one [[SyncOp]] against a target table — the Spark rewrite of
  * the reference's per-table copy flows (`task/TaskLogic.scala:167-241`,
  * `clickhouse/jdbsChSession.scala:222-414`; SURVEY.md §2.3 W1–W6).
  *
  * Every operation is single-pass over the source with at most one shuffle
  * (the anti/merge join); no row is collected to the driver, only the
  * values of the partitions a partitioned rewrite touches. The target's
  * layout is the store's ([[TableStore.partitionColumns]]): appends land
  * in it, and `update`/`append_where` rewrite a flat target whole and a
  * partitioned one only in the partitions they touch. Scale notes per op
  * inline.
  */
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
    * is a rewrite of `scope.filter(!p) ∪ source.filter(p)`, the
    * `replaceWhere` shape. The scope is the whole table when the target
    * is flat; on a partitioned target it is the partitions owning a
    * deleted or an inserted row, so only those rewrite (the reference's
    * `DELETE … WHERE` follows the MergeTree's own `PARTITION BY` the same
    * way). */
  def appendWhere(spec: TableSpec, src: DataFrame): SyncResult = {
    val t    = spec.fullName
    val pred = expr(spec.whereFilter.getOrElse(
      throw InvalidTableSpec("append_where requires where_filter")))
    // NULL-safe: rows where pred is false OR NULL are kept, exactly like
    // SQL DELETE WHERE pred (deletes only pred=TRUE rows).
    val deleted = coalesce(pred, lit(false))
    val incoming = prepareSource(src, spec)
    targetOpt(t) match {
      case None =>
        store.overwrite(t, incoming)
        SyncResult(t, SyncOp.AppendWhere, 0L, store.count(t))
      case Some(target) =>
        val before = store.count(t)
        val parts = store.partitionColumns(t)
        val touched = partitionsOf(parts, target.filter(deleted), incoming)
        val kept = scope(target, parts, touched).filter(!deleted)
        store.replacePartitions(t, kept.unionByName(incoming), touched)
        SyncResult(t, SyncOp.AppendWhere, before, store.count(t))
    }
  }

  /** The partitions on `parts` that `frames` hold, collected once on the
    * driver in the form [[TableStore.replacePartitions]] takes (bounded by
    * the partition count); `Nil`, with no job, on a flat table. */
  private def partitionsOf(parts: Seq[String], frames: DataFrame*): Seq[Seq[String]] =
    if (parts.isEmpty) Nil
    else frames.map(_.select(parts.map(col(_).cast("string")): _*))
      .reduce(_ union _).distinct().collect()
      .map(r => parts.indices.map(r.getString)).toSeq

  /** The target rows an operation rewrites: all of them on a flat table,
    * those of the `touched` partitions on a partitioned one, a filter on
    * the partition columns alone, so the scan reads only those partitions'
    * files. Struct equality matches null fields, as a null value is a
    * partition too. */
  private def scope(target: DataFrame, parts: Seq[String],
                    touched: Seq[Seq[String]]): DataFrame = {
    def key(cs: Seq[Column]) =
      struct(parts.zip(cs).map { case (p, c) => c.cast("string").as(p) }: _*)
    if (parts.isEmpty) target
    else target.filter(key(parts.map(col)).isin(touched.map(v => key(v.map(lit))): _*))
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
    store.append(t, delta)
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
        // a USING join puts the keys first: keep the source's column order
        val fresh  = incoming.join(
          Watermark.keySet(target, keys), keys, "left_anti")
          .select(incoming.columns.map(col).toIndexedSeq: _*)
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
    * Scale: the update set is broadcast (hinted); the rewrite is the
    * unavoidable cost of immutable storage. Its scope is the whole table
    * when the target is flat; on a partitioned target only the
    * partitions containing matched PKs are merged and rewritten
    * (SURVEY.md §7.4 "ALTER TABLE UPDATE on immutable storage"), and
    * the other partitions' files are never touched, except that a row
    * whose update moves it to another partition (an update_field that is
    * a partition column) is added to that partition, whose rows stay.
    */
  def update(spec: TableSpec, updatesSrc: DataFrame,
             pkColumns: Seq[String]): SyncResult = {
    val t = spec.fullName
    require(pkColumns.nonEmpty, s"$t: update requires a primary key")
    val target = targetOpt(t).getOrElse(
      throw InvalidTableSpec(s"$t: update target does not exist"))
    val before = store.count(t)
    val (feed, updCols) = updateFeed(spec, target, updatesSrc, pkColumns)
    val parts = store.partitionColumns(t)
    val touched = partitionsOf(parts,
      target.join(feed.select(pkColumns.map(col): _*).distinct(), pkColumns, "left_semi"))
    val merged = mergeUpdates(target, scope(target, parts, touched), feed,
      pkColumns, updCols)
    store.replacePartitions(t, merged, touched)
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

  /** Left-join merge of the prepared feed, broadcast, into `base`,
    * preserving the column order of `shape`. */
  private def mergeUpdates(shape: DataFrame, base: DataFrame, feed: DataFrame,
                           pkColumns: Seq[String], updCols: Seq[String]): DataFrame = {
    val updAliased = updCols.foldLeft(feed) { (d, c) =>
      d.withColumnRenamed(c, s"__upd_$c")
    }
    val joined = base.join(broadcast(updAliased), pkColumns, "left")
    shape.columns.foldLeft(joined) { (d, c) =>
      if (updCols.contains(c))
        d.withColumn(c,
          when(coalesce(col("__matched"), lit(false)), col(s"__upd_$c"))
            .otherwise(col(c)))
      else d
    }.select(shape.columns.map(col).toIndexedSeq: _*)
  }

  /** Dispatch one spec; `pkColumns` is the primary key an update merges
    * on (the other operations ignore it). */
  def run(spec: TableSpec, src: DataFrame,
          pkColumns: Seq[String] = Nil): SyncResult = spec.operation match {
    case SyncOp.Recreate    => recreate(spec, src)
    case SyncOp.AppendWhere => appendWhere(spec, src)
    case SyncOp.AppendByMax => appendByMax(spec, src)
    case SyncOp.AppendNotIn => appendNotIn(spec, src)
    case SyncOp.Update      => update(spec, src, pkColumns)
  }
}
