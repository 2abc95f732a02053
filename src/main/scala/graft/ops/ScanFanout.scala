package graft.ops

import org.apache.spark.sql.DataFrame

/** Scale-adaptive scan fanout (optimization guide §2.5 "input skew:
  * one huge unsplittable file … repartition immediately after the
  * read" + §1.2 "the distributed algorithm first").
  *
  * The driver fixtures ship each table as ONE parquet file with ONE
  * row group, so every scan plans a single input partition and all
  * per-row map work downstream of the scan — n-gram explodes, decimal
  * vector kernels, regex batteries — runs on one core of `local[32]`
  * (ProfileOne measured q339's whole assignment pass as one 4.4 s
  * task, and q365's per-batch trigram stages as 1.2–1.4 s single
  * tasks). A row-grain round-robin exchange right after the read
  * unlocks the other 31 cores for those stages.
  *
  * The decision is SCALE-ADAPTIVE, not a local[32] constant: fanout
  * fires only when the file layout itself cannot feed the session's
  * parallelism — estimated scan splits (Σ ceil(bytes /
  * maxPartitionBytes), Spark's own upper bound on split count) under
  * half the default parallelism. On a production table (many files ≥
  * the 128 MB split size) the guard is false and the plan is
  * UNCHANGED — no exchange, no cost. The same rule helps any
  * production job handed one unsplittable file (a gzip drop, a
  * single-row-group parquet): repartitioning a few MB to idle cores
  * is the textbook fix, and repartitioning an already-parallel scan
  * is pure waste. Both sides of that trade are what the guard
  * encodes.
  *
  * Decision inputs are pure FILE METADATA (`df.inputFiles` — the
  * relation's FileIndex, no Spark job, no plan execution) so
  * lazy-builder gates stay zero-job at construction. A frame with no
  * file-backed leaves (in-memory test relations, post-shuffle frames)
  * is returned unchanged. */
object ScanFanout {

  /** Estimated scan split count for the files backing `df`: Spark can
    * never plan MORE than ceil(bytes/maxPartitionBytes) splits per
    * file, and a single-row-group file yields at most one non-empty
    * split regardless — so this is an upper bound on useful scan
    * parallelism for the local fixtures (1 small file → 1).
    *
    * Returns None when ANY file's size cannot be resolved — the r12
    * advice catch: the old java.io.File path reported length 0 for
    * every non-local URI, so a production table of a few multi-GB
    * remote files counted as 1 split each and got a full-table hash
    * shuffle, contradicting the "production plan is UNCHANGED"
    * contract. Unknown size now means "do not fan out", never "assume
    * tiny". Every file resolves through the Hadoop FileSystem API, from
    * the decoded URI: `inputFiles` percent-encodes its paths, and a
    * `file:` path with a space read undecoded stats as missing. */
  private def estimatedSplits(df: DataFrame, files: Array[String],
                              maxPartitionBytes: Long): Option[Long] = {
    val hconf = df.sparkSession.sessionState.newHadoopConf()
    val sizes = files.map { uri =>
      val len =
        try {
          val p = new org.apache.hadoop.fs.Path(new java.net.URI(uri))
          p.getFileSystem(hconf).getFileStatus(p).getLen
        } catch { case _: Exception => 0L }
      if (len > 0L) Some(len) else None
    }
    if (sizes.exists(_.isEmpty)) None
    else Some(sizes.flatten
      .map(len => math.max(1L, (len + maxPartitionBytes - 1) / maxPartitionBytes))
      .sum)
  }

  /** The columns a hash exchange may partition on: anything whose type
    * tree is free of MapType (Spark's hash expressions reject maps —
    * the r12 advice catch: a caller-shaped frame carrying a map column
    * would throw inside library operators that wire ScanFanout, where
    * the pre-fanout code worked). Frames with at least one hashable
    * column keep the full hashable set, so every currently-wired frame
    * partitions on exactly the columns it did before. */
  private def hashableCols(df: DataFrame): Array[String] = {
    def mapFree(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => mapFree(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => mapFree(a.elementType)
      case _ => true
    }
    df.schema.fields.filter(f => mapFree(f.dataType)).map(_.name)
  }

  /** The exchange itself: HASH partitioning on every hash-safe column,
    * NOT round-robin. Round-robin `repartition(n)` first locally sorts
    * its input by the full binary row (spark.sql.execution.
    * sortBeforeRepartition, default on, needed for deterministic retry
    * placement) — and that sort runs INSIDE the single pre-exchange
    * scan task, i.e. serially, once per fanout site (measured: q152's
    * ensemble wired three fanouts and regressed 4.2 → 7.3 s).
    * Hash-partitioning is deterministic per row with no sort, and
    * hashing even a full document row is one pass over its bytes —
    * far cheaper than the per-row work the fanout parallelizes. Unique
    * ids dominate every wired frame, so the spread is uniform. A frame
    * with NO hash-safe column is returned unchanged (fanout is an
    * optimization, never an error source). */
  private def exchange(df: DataFrame, target: Int): DataFrame = {
    val cols = hashableCols(df)
    if (cols.isEmpty) df
    else df.repartition(target, cols.map(org.apache.spark.sql.functions.col): _*)
  }

  private def hasRepartition(df: DataFrame): Boolean =
    df.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
    }.isDefined

  /** [[apply]] for frames whose single-partition shape is known BY
    * CONSTRUCTION rather than from file metadata — a
    * `maxFilesPerTrigger=1` micro-batch arrives as one file's rows at
    * ANY corpus scale, but its logical plan is a streaming-source
    * relation with no inspectable `inputFiles`. Repartitions
    * unconditionally (still skipping frames that already carry a
    * repartition). Only for callers that can argue the single-file
    * shape holds at production scale too. */
  def force(df: DataFrame): DataFrame =
    if (hasRepartition(df)) df
    else exchange(df, df.sparkSession.sparkContext.defaultParallelism)

  /** `df` hash-repartitioned on all columns to the session default
    * parallelism iff its backing file layout cannot feed it from the
    * scan alone. Every caller's downstream result is row-order-free,
    * so the placement never shows in results. */
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    // idempotence: a frame that already carries an explicit repartition
    // (a gate-level fanout, a fixture writer's bucket exchange) must not
    // pay a second one when an operator fans its input too
    if (hasRepartition(df)) return df
    val files = df.inputFiles
    if (files.isEmpty) return df
    val target = spark.sparkContext.defaultParallelism
    // enough files to feed the cores (≥ 1 split each) — no stat calls
    if (files.length.toLong * 2 > target) return df
    val maxPb = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    estimatedSplits(df, files, maxPb) match {
      case Some(splits) if splits * 2 <= target => exchange(df, target)
      case _ => df // enough splits, or any size unknown — plan unchanged
    }
  }
}
