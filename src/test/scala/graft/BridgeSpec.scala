package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

class BridgeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-bridge-test")
  lazy val base: RDD[Long] = spark.sparkContext.parallelize(Seq(1L, 2L, 3L), 2)

  /** Each level depends on the one below twice: 2^levels paths to base. */
  def diamond(levels: Int): RDD[Long] =
    (1 to levels).foldLeft(base)((r, _) => r.zipPartitions(r)((a, _) => a))

  def frame(r: RDD[Long]): DataFrame = spark.createDataFrame(r.map(Row(_)),
    StructType(Seq(StructField("x", LongType))))

  test("isCheckpointBacked walks a diamond-shaped lineage once per RDD, bounded in depth") {
    val deep = frame(diamond(40))
    val t0 = System.nanoTime()
    assert(!Bridge.isCheckpointBacked(deep))
    assert((System.nanoTime() - t0) / 1e9 < 10.0)
    base.persist()
    try {
      base.count()
      // base is 3 diamond levels + 2 conversion maps below the LogicalRDD
      assert(Bridge.isCheckpointBacked(frame(diamond(3))))
      // past CheckpointWalkDepth it reads as not backed (the caller copies)
      assert(!Bridge.isCheckpointBacked(deep))
    } finally base.unpersist(blocking = true)
  }

  test("unpersistCheckpoints walks a diamond-shaped lineage once per RDD") {
    val deep = frame(diamond(40))
    base.persist()
    try {
      base.count()
      // a walk per path would not return; run it where it cannot hang the suite
      val walk = new Thread(() => Bridge.unpersistCheckpoints(deep))
      walk.setDaemon(true)
      walk.start()
      walk.join(10000L)
      assert(!walk.isAlive, "unpersistCheckpoints did not return within 10 s")
      // the walk reaches the persisted base 40 levels down and frees it
      assert(!spark.sparkContext.getPersistentRDDs.contains(base.id))
    } finally base.unpersist(blocking = true)
  }
}
