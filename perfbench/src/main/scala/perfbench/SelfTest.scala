package perfbench

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Self-checks of the benchmark's JVM side; writes `selftest.json`.
  *  - every generated table loads through `graft.Tables` with the schema of
  *    the library's test tables;
  *  - the listener counts a fixed RDD job's jobs, stages and tasks exactly.
  */
object SelfTest {
  /** Schemas of the library's test tables as `graft.Tables` loads them. */
  val expected: Map[String, String] = Map(
    "region" -> "struct<r_regionkey:int,r_name:string>",
    "nation" -> "struct<n_nationkey:int,n_name:string,n_regionkey:int>",
    "customer" -> ("struct<c_custkey:bigint,c_name:string,c_nationkey:int," +
      "c_acctbal:double,c_mktsegment:string>"),
    "supplier" -> "struct<s_suppkey:bigint,s_name:string,s_nationkey:int,s_acctbal:double>",
    "part" -> ("struct<p_partkey:bigint,p_name:string,p_brand:string,p_type:string," +
      "p_size:int,p_retailprice:double>"),
    "orders" -> ("struct<o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string," +
      "o_totalprice:double,o_orderdate:timestamp_ntz,o_orderpriority:string>"),
    "lineitem" -> ("struct<l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint," +
      "l_linenumber:int,l_quantity:double,l_extendedprice:double,l_discount:double," +
      "l_tax:double,l_returnflag:string,l_linestatus:string,l_shipdate:timestamp_ntz>"),
    "events" -> ("struct<event_id:bigint,ts:timestamp,user_id:bigint,event_type:string," +
      "value:double,props:string>"),
    "documents" -> "struct<doc_id:bigint,text:string,lang:string,source:string,n_chars:bigint>",
    "embeddings" -> "struct<vec_id:bigint,embedding:array<float>,label:int>")

  def apply(a: Map[String, String]): Unit = {
    val spark = GraftSession.local(a("cores").toInt, "perfbench-selftest")
    val schemas = Main.tables.map { case (name, load) =>
      name -> load(spark, a("inputs")).schema.simpleString
    }.toMap
    val schemaErrors = Main.tables.map(_._1).filter(n => schemas(n) != expected(n))
      .map(n => s"$n: ${schemas(n)}")
    val listener = listenerCounts(spark)
    Main.write(s"${a("out")}/selftest.json", Json(Map(
      "schemas" -> schemas, "schema_errors" -> schemaErrors,
      "listener" -> listener)))
    spark.stop()
  }

  /** Two fixed RDD jobs: a one-stage count over 4 partitions, and a
    * two-stage reduceByKey (4 map tasks, 2 reduce tasks). */
  private def listenerCounts(spark: SparkSession): Map[String, Any] = {
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec.listener)
    sc.parallelize(1 to 100, 4).count()
    sc.parallelize(1 to 100, 4).map(x => (x % 3, x)).reduceByKey(_ + _, 2).count()
    org.apache.spark.perfbench.BusDrain(sc)
    sc.removeSparkListener(rec.listener)
    val l = rec.listenerJson
    Map("jobs" -> l("jobs").asInstanceOf[Seq[_]].size,
      "stages" -> l("stages").asInstanceOf[Seq[_]].size,
      "tasks" -> l("tasks").asInstanceOf[Seq[_]].size,
      "expected" -> Map("jobs" -> 2, "stages" -> 3, "tasks" -> 10))
  }
}
