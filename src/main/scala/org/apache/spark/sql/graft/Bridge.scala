package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Column <-> Expression conversion, the
  * standard pattern for libraries that ship custom Catalyst expressions
  * (Spark itself exposes no public constructor for a Column backed by a
  * custom Expression). */
object Bridge {

  /** Dependency levels [[isCheckpointBacked]] searches below a LogicalRDD
    * (a checkpoint's narrow derivatives sit one or two levels down). */
  val CheckpointWalkDepth = 8

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame on `spark`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Rewrap a local-checkpointed DataFrame around its ALREADY-MATERIALIZED
    * RDD with FRESH (default) statistics. `Dataset.localCheckpoint` carries
    * the origin plan's estimated `sizeInBytes` forward; in an iterative
    * loop whose round is a few self-joins, the size-only estimator
    * MULTIPLIES the inputs' estimates, so the carried BigInt grows as
    * ~3^rounds DIGITS — by round ~12 the driver spends its time in
    * Karatsuba/Toom-Cook BigInteger multiplication inside plan statistics
    * (measured: 122 s for one 1379-row round) and AQE never broadcasts the
    * tiny joins because their estimated size is astronomical. The rewrap
    * keeps the SAME persisted RDD (so [[unpersistCheckpoints]] still frees
    * it) but the new LogicalRDD reports default stats, and runtime (AQE)
    * sizes take over from there. */
  def resetStats(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        ds.sparkSession.internalCreateDataFrame(lr.rdd, df.schema)
      case _ => df
    }
  }

  /** True when a DataFrame is already backed by a materialized
    * `localCheckpoint` (a bare LogicalRDD, optionally under narrow
    * Project/Filter layers) whose blocks are STILL PERSISTED. Multi-pass
    * index builders use this to materialize their input ONCE without
    * re-copying a frame a caller already checkpointed for sharing. The
    * storage-level check matters: a LogicalRDD over an unpersisted RDD
    * (ofRows-constructed, or a checkpoint already swept by Bench's
    * unpersist loop) must NOT pass through, or multi-pass builders
    * re-execute per pass / fail on missing checkpoint blocks. The walk
    * mirrors [[unpersistCheckpoints]]: the wrapped RDD may be a narrow
    * derivative of the persisted one. It is breadth-first, visits each
    * RDD once (a diamond-shaped lineage would otherwise be walked once
    * per path, exponential in its depth) and stops
    * [[CheckpointWalkDepth]] levels down: a persisted ancestor deeper
    * than that reads as "not backed", and the caller makes its own copy. */
  def isCheckpointBacked(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    def persisted(root: org.apache.spark.rdd.RDD[_]): Boolean = {
      val seen = scala.collection.mutable.HashSet(root.id)
      var level: Seq[org.apache.spark.rdd.RDD[_]] = Seq(root)
      var depth = 0
      var found = false
      while (!found && level.nonEmpty && depth <= CheckpointWalkDepth) {
        found = level.exists(_.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
        level = level.flatMap(_.dependencies.map(_.rdd)).filter(r => seen.add(r.id))
        depth += 1
      }
      found
    }
    def walk(p: LogicalPlan): Boolean = p match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => persisted(lr.rdd)
      case pr: Project => walk(pr.child)
      case f: Filter => walk(f.child)
      case _ => false
    }
    walk(df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed)
  }

  /** Membership probe against a serialized Bloom filter — the SAME
    * codegen'd expression Spark's own runtime row-group filtering injects
    * (`BloomFilterMightContain`), with the filter shipped as a binary
    * literal (it rides the task broadcast like any literal). `value` must
    * be a LONG column hashed consistently with how the filter was built
    * (put via `putLong` — e.g. `DataFrameStatFunctions.bloomFilter` over a
    * long column); the probe uses `mightContainLong`, so build and probe
    * agree bit-for-bit. */
  def bloomMightContain(bloomBytes: Array[Byte], value: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal
        .create(bloomBytes, org.apache.spark.sql.types.BinaryType),
      expression(value)))

  /** Recursively delete `dir` at JVM shutdown, AFTER Spark's own cleanup.
    *
    * A raw `Runtime.addShutdownHook` deleter races Spark's
    * ShutdownHookManager (both walk the same scratch tree concurrently —
    * benign only because failures are swallowed). Registering through
    * Spark's manager at a priority below `TEMP_DIR_SHUTDOWN_PRIORITY`
    * (25) sequences the hooks: Spark removes its blockmgr/spark-*
    * children first, then this removes the parent. `private[spark]` API,
    * hence routed through this bridge. */
  def removeDirOnShutdown(dir: java.io.File): Unit = {
    org.apache.spark.util.ShutdownHookManager.addShutdownHook(10) { () =>
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(dir)
    }
    ()
  }

  /** Partition-index-aware mapPartitions over a DataFrame's INTERNAL rows
    * — the zero-copy, no-Exchange form of a per-partition sequential pass
    * (running sums, ranks) over an already range-partitioned + sorted
    * frame. The public `Dataset.mapPartitions` route would (a) lose the
    * partition index, forcing a spark_partition_id column plus a
    * Window-by-pid whose ClusteredDistribution(pid) requirement inserts a
    * full hash Exchange + Sort per consumer, and (b) pay Row
    * boxing/unboxing through encoders. `preservesPartitioning` keeps the
    * upstream layout claim.
    *
    * CONTRACT for `f`: input rows are REUSED buffers (the usual
    * InternalRow iterator rule) — `copy()` anything held across
    * `next()`; emitted rows must be fresh or safely reusable
    * per-element objects. */
  def mapPartitionsInternal(df: DataFrame,
      outSchema: org.apache.spark.sql.types.StructType)(
      f: (Int, Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow]): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val rdd = ds.queryExecution.toRdd
      .mapPartitionsWithIndex(f, preservesPartitioning = true)
    ds.sparkSession.internalCreateDataFrame(rdd, outSchema)
  }

  /** Unpersist every `localCheckpoint` block set a DataFrame's plan reads
    * from. `Dataset.unpersist` cannot do this — checkpoints persist their
    * RDD directly, outside the CacheManager — so iterative operators that
    * checkpoint per round (e.g. connected components) would otherwise
    * retain every superseded round's blocks for the life of the session.
    * After this call the DataFrame is NOT recomputable (a local checkpoint
    * truncates lineage); only release frames that will never be read again. */
  def unpersistCheckpoints(df: DataFrame): Unit = {
    // A LogicalRDD may wrap the persisted checkpoint RDD itself OR a
    // narrow derivative of it (mapPartitionsInternal results) — walk the
    // dependency chain and release every persisted ancestor. The walk
    // cannot escape into still-needed upstream frames: localCheckpoint
    // truncates lineage at materialization, so the chain ends at the
    // checkpoint this frame was built on.
    def walk(r: org.apache.spark.rdd.RDD[_]): Unit = {
      if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
        r.unpersist(blocking = false)
      r.dependencies.foreach(d => walk(d.rdd))
    }
    df.asInstanceOf[classic.Dataset[_]].queryExecution.logical.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => walk(lr.rdd)
      case _ => ()
    }
  }
}
