package graft.ops

import org.apache.spark.sql.DataFrame

/** Input-parallelism guard shared by the compute-heavy operators. */
object Par {

  /** Optimizer-estimated input split count vs the session's default
   * parallelism — the shared "is this input too small to parallelize by
   * itself" probe behind [[spread]], [[clusterBy]] and [[clusterSmall]].
   * Returns (estimated splits, defaultParallelism). */
  private def estSplits(df: DataFrame): (BigInt, Int) = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val est =
      if (size == spark.sessionState.conf.defaultSizeInBytes)
        BigInt(df.rdd.getNumPartitions)
      else size / maxSplit
    (est, target)
  }

  /** Ensure at least `defaultParallelism` partitions before heavy per-row
   * compute: a single-split input (tiny local file, coalesced upstream)
   * would otherwise serialize the work onto one task. No-op when the scan
   * already provides enough splits — at 100 TB the file splits give full
   * parallelism and no shuffle is added.
   *
   * Split count is estimated from the optimizer's size statistics
   * (`optimizedPlan.stats.sizeInBytes / files.maxPartitionBytes`) instead of
   * `df.rdd.getNumPartitions`, which would force full physical planning of
   * the frame once per call site. The estimate only has to be directionally
   * right: any multi-split input clears the threshold and is left alone.
   * When the stats are the UNKNOWN sentinel (`defaultSizeInBytes`, e.g. an
   * RDD-backed frame from `localCheckpoint`/`createDataFrame`), the
   * estimate would silently report "huge" and never spread a
   * single-partition input — only there fall back to the physical
   * partition count (cheap for those plans: the RDD already exists). */
  def spread(df: DataFrame): DataFrame = {
    val (splits, target) = estSplits(df)
    // The small branch pins a plan barrier ABOVE the repartition: the
    // optimizer pushes downstream filters/projections through a bare
    // Repartition (measured: web_curation's whole C4→Gopher cascade sank
    // into the single-split map side — one 6.9 s task while 31 cores
    // idled), and the barrier is the wall that keeps the heavy compute on
    // the spread side. Only the small branch pays it: a sub-parallelism
    // input is a few MB, so losing scan-side column pruning there is
    // irrelevant, while the large branch (real corpora) keeps the bare
    // frame — untouched plan, full pruning/pushdown.
    if (splits < target)
      graft.extract.Chunked.barrier(df.repartition(target))
    else df
  }

  /** Keyed twin of [[spread]] for AGGREGATION consumers: repartition by
   * `key` ONLY when the input is sub-parallelism (so the downstream
   * groupBy(key…) reuses the pinned exchange instead of AQE-coalescing
   * the heavy map work to one task), and return the BARE frame at scale.
   * Unlike [[clusterBy]] — whose window/join consumers need the full-row
   * shuffle anyway — an aggregation consumer is strictly better off
   * unclustered on a real corpus: partial aggregation collapses each
   * group map-side and the planner's post-agg exchange ships those small
   * partials, whereas a pinned pre-agg repartition would ship the full
   * input rows (e.g. document text). Small inputs are a few MB, so the
   * pinned exchange there is free. */
  def clusterSmall(df: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (splits, target) = estSplits(df)
    if (splits < target) df.repartition(target, col(key)) else df
  }

  /**
   * Repartition by `key` only when the frame is not ALREADY hash-clustered
   * on exactly that key — a bucketed-table scan ([[writeBucketed]]) or an
   * upstream shuffle on the key satisfies every downstream conv-grain
   * window/join by the subset rule, and the explicit repartition the
   * pipeline otherwise pins up front (coarsest key first, so finer windows
   * reuse one exchange) would force a pointless corpus shuffle. Inspecting
   * `sparkPlan.outputPartitioning` plans the input once — cheap at the
   * scan/leaf frames this guards. Correctness is unaffected either way;
   * worst case is the extra shuffle we have today.
   */
  def clusterBy(df: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.functions.col
    val already = df.queryExecution.sparkPlan.outputPartitioning match {
      case HashPartitioning(exprs, _) if exprs.nonEmpty =>
        exprs.forall {
          case a: AttributeReference => a.name == key
          case _ => false
        }
      case _ => false
    }
    if (already) df
    else {
      // Same size guard as [[spread]]: a SMALL input pins the partition
      // count at defaultParallelism — a keyless `repartition(col)` shuffle
      // is AQE-coalescible (REPARTITION_BY_COL) and tiny shuffle bytes
      // would fold the whole downstream window cascade onto one task even
      // though its per-row compute is the actual cost. A large input keeps
      // the AQE-managed form: partition count follows the data, and AQE
      // coalescing/skew-handling stay available at scale.
      val (splits, target) = estSplits(df)
      if (splits < target) df.repartition(target, col(key))
      else df.repartition(col(key))
    }
  }

  /**
   * Write `df` as a bucketed (+ per-bucket sorted) catalog table — the
   * co-located-join / shuffle-free-window layout for the 100 TB design:
   * a transcripts table bucketed AND sorted by the conversation key gives
   * every conv_id window and conv-grain join `HashPartitioning(bucketCol)`
   * straight from the scan, so the flagship extraction runs with ZERO
   * exchanges end-to-end (ParSpec pins both plans). Equivalent to an
   * Iceberg bucket-partition transform in the snapshot-table world;
   * bucket counts must match across tables that join.
   *
   * `path` makes it an external table (data outlives the catalog entry).
   */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int, sortCols: Seq[String] = Nil,
      path: Option[String] = None): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    val w0 = df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, bucketCol)
    val w1 =
      if (sortCols.isEmpty) w0 else w0.sortBy(sortCols.head, sortCols.tail: _*)
    path.fold(w1)(p => w1.option("path", p)).saveAsTable(table)
  }
}
