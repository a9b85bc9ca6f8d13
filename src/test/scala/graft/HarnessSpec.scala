package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Failure paths of the harness layer: the registry's name filter,
  * Verify's failure manifest and the parallel index-build pool. */
class HarnessSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")

  val sf = "/root/testdata/sf0.001"

  test("SPARK_GRAFT_ONLY passes known names and fails fast listing unknown ones") {
    assert(SparkEntry.only(None).isEmpty)
    assert(SparkEntry.only(Some("q1_pricing_summary,sim_topk")) ==
      Some(Set("q1_pricing_summary", "sim_topk")))
    val e = intercept[IllegalArgumentException](
      SparkEntry.only(Some("q1_pricing_summary,q1_pricing_sumary,nope")))
    assert(e.getMessage.contains("nope, q1_pricing_sumary"))
    assert(!e.getMessage.contains("q1_pricing_summary"))
  }

  test("Verify.dump writes each result and returns exactly the queries that threw") {
    val out = GraftSession.tempDir(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "graft-verify-spec")
    assert(Verify.dump(spark, sf, out, Seq("q1_pricing_summary")).isEmpty)
    assert(spark.read.parquet(s"$out/q1_pricing_summary").count() > 0)
    val failed = Verify.dump(spark, s"$out/no-such-sf", out, Seq("q1_pricing_summary"))
    assert(failed.map(_._1) == Seq("q1_pricing_summary"))
  }

  test("parallelBuilt awaits every build before rethrowing the first failure in input order") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def fail(msg: String, afterMs: Long): () => DataFrame = () => {
      Thread.sleep(afterMs)
      throw new IllegalStateException(msg)
    }
    // the slow sibling starts its checkpoint job only after the first
    // failure has landed: rethrowing early would leave it running
    val slow: () => DataFrame = () => {
      Thread.sleep(800)
      spark.range(0, 20000, 1, 4).selectExpr("id", "id * 2 AS v")
        .localCheckpoint(eager = true)
    }
    val e = intercept[IllegalStateException](SparkEntry.parallelBuilt(Seq(
      "first" -> fail("first", 100), "slow" -> slow, "second" -> fail("second", 0))))
    assert(e.getMessage == "first")
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.nonEmpty, "the slow build's checkpoint was not persisted yet")
    // ...so the caller's sweep frees it
    left.foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
