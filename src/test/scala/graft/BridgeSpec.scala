package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

class BridgeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-bridge-test")

  test("isCheckpointBacked walks a diamond-shaped lineage once per RDD, bounded in depth") {
    val base = spark.sparkContext.parallelize(Seq(1L, 2L, 3L), 2)
    // each level depends on the one below twice: 2^levels paths to base
    def diamond(levels: Int): RDD[Long] =
      (1 to levels).foldLeft(base)((r, _) => r.zipPartitions(r)((a, _) => a))
    def frame(r: RDD[Long]): DataFrame = spark.createDataFrame(r.map(Row(_)),
      StructType(Seq(StructField("x", LongType))))
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
}
