package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

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

  /** Eager local checkpoint with FRESH (default) statistics: the frame's
    * rows are computed once and held in the block manager, and the result
    * reads only those blocks. `Dataset.localCheckpoint` carries the origin
    * plan's estimated `sizeInBytes` forward; in an iterative loop whose
    * round is a few self-joins, the size-only estimator MULTIPLIES the
    * inputs' estimates, so the carried BigInt grows as ~3^rounds DIGITS —
    * by round ~12 the driver spends its time in Karatsuba/Toom-Cook
    * BigInteger multiplication inside plan statistics (measured: 122 s for
    * one 1379-row round) and AQE never broadcasts the tiny joins because
    * their estimated size is astronomical. The result is a new LogicalRDD
    * over the same persisted RDD that reports default stats, so runtime
    * (AQE) sizes take over, and [[unpersistCheckpoints]] still frees it.
    *
    * If the materializing job fails, the half-written RDD is unpersisted
    * before the error propagates: nothing else holds it. Lives here, not in
    * package `graft`, so Spark names the job after the operator that asked
    * for it (the first stack frame outside `org.apache.spark.sql`). */
  def checkpoint(df: DataFrame): DataFrame = {
    val marked = df.asInstanceOf[classic.Dataset[_]].localCheckpoint(false)
    val rdd = marked.queryExecution.logical match {
      case lr: LogicalRDD => lr.rdd
      case other => throw new IllegalStateException(s"not a LogicalRDD: $other")
    }
    try rdd.count()
    catch { case e: Throwable => rdd.unpersist(blocking = false); throw e }
    marked.sparkSession.internalCreateDataFrame(rdd, df.schema)
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
    * derivative of the persisted one. It stops [[CheckpointWalkDepth]]
    * levels down: a persisted ancestor deeper than that reads as "not
    * backed", and the caller makes its own copy. */
  def isCheckpointBacked(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    def walk(p: LogicalPlan): Boolean = p match {
      case lr: LogicalRDD => lineage(Seq(lr.rdd), CheckpointWalkDepth).exists(persisted)
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
    * truncates lineage); only release frames that will never be read again.
    *
    * A LogicalRDD may wrap the persisted checkpoint RDD itself OR a narrow
    * derivative of it (mapPartitionsInternal results), so every persisted
    * ancestor is released. The walk cannot escape into still-needed
    * upstream frames: localCheckpoint truncates lineage at
    * materialization, so the chain ends at the checkpoint this frame was
    * built on. */
  def unpersistCheckpoints(df: DataFrame): Unit =
    lineage(scanned(df)).filter(persisted).foreach(_.unpersist(blocking = false))

  /** Every RDD in the lineage of `roots` down to `maxDepth` dependency
    * levels, breadth-first and each RDD once: a diamond-shaped lineage
    * would otherwise be walked once per PATH, exponential in its depth. */
  private def lineage(roots: Seq[RDD[_]], maxDepth: Int = Int.MaxValue): Seq[RDD[_]] = {
    val seen = mutable.HashSet.empty[Int]
    val out = mutable.ArrayBuffer.empty[RDD[_]]
    var level = roots.filter(r => seen.add(r.id))
    var depth = 0
    while (level.nonEmpty && depth <= maxDepth) {
      out ++= level
      level = level.flatMap(_.dependencies.map(_.rdd)).filter(r => seen.add(r.id))
      depth += 1
    }
    out.toSeq
  }

  private def persisted(r: RDD[_]): Boolean = r.getStorageLevel != StorageLevel.NONE

  /** The RDDs a frame's logical plan scans directly. */
  private def scanned(ds: Dataset[_]): Seq[RDD[_]] =
    ds.asInstanceOf[classic.Dataset[_]].queryExecution.logical.collect {
      case lr: LogicalRDD => lr.rdd
    }

  /** Run one operator call that owns the checkpoints it takes. The body
    * checkpoints through `ck(df)` ([[checkpoint]], recorded), frees a
    * superseded one at once with `ck.free(df)`, and passes a caller's
    * checkpoint-backed frame through `ck.shared(df)` (never recorded, so
    * never freed here). When the body returns, every recorded checkpoint
    * the returned frame does not read is freed; when it returns no frame,
    * or throws, all of them are. The scope keeps its own list and never
    * diffs the context's persisted RDDs, so builds running concurrently
    * in one session (`parallelBuilt`) cannot free each other's blocks. */
  def withCheckpoints[T](body: Checkpoints => T): T = {
    val ck = new Checkpoints
    val out = try body(ck) catch { case e: Throwable => ck.release(Set.empty); throw e }
    ck.release(out match {
      case ds: Dataset[_] => lineage(scanned(ds)).map(_.id).toSet
      case _ => Set.empty
    })
    out
  }

  /** The checkpoints of one [[withCheckpoints]] call. */
  final class Checkpoints private[Bridge] () {
    private val taken = mutable.ArrayBuffer.empty[RDD[_]]

    def apply(df: DataFrame): DataFrame = {
      val c = checkpoint(df)
      taken ++= scanned(c)
      c
    }

    def shared(df: DataFrame): DataFrame = if (isCheckpointBacked(df)) df else apply(df)

    def free(df: DataFrame): Unit = {
      unpersistCheckpoints(df)
      taken.filterInPlace(persisted)
    }

    private[Bridge] def release(keep: Set[Int]): Unit =
      taken.filterNot(r => keep(r.id)).foreach(_.unpersist(blocking = false))
  }
}
