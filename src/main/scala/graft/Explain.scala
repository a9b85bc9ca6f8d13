package graft

import org.apache.spark.sql.SparkSession

/** Plan auditor: runs each named query (or all) once and prints its FINAL
  * formatted physical plan, so scan pruning (`ReadSchema`), filter pushdown
  * (`PushedFilters`), join strategies and `WholeStageCodegen` spans can be
  * reviewed together with AQE's runtime decisions — coalesced shuffle reads
  * (`AQEShuffleRead coalesced`), reused exchanges and joins re-planned at
  * runtime, none of which the initial adaptive plan shows. The run executes
  * the plan without collecting its rows. Usage:
  * runMain graft.Explain [sfDir] [query ...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(4, "graft-explain")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      // executing the plan object the frame holds finalizes it in place
      df.queryExecution.executedPlan.execute().foreach(_ => ())
      df.explain("formatted")
    }
    spark.stop()
  }
}
