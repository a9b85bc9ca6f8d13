package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.Tables
import graft.functions._
import graft.operators.{Dedup, Graph, Quality, Similarity, Star}
import graft.sources.{JsonNormalize, Snapshots, Staging}

/** Direct calls into single layers, made in traced runs only: the
  * `graft.functions` kernels (ns per row or pair) and the operators the
  * workloads' queries are built from (seconds per call, plus a few
  * layer-specific counts). Every call is forced over the generated inputs
  * and recorded as a span, so the listener's jobs can be attributed to it. */
object Direct {
  def apply(spark: SparkSession, in: String, staging: String, rec: Recorder,
      root: Int, cores: Int): Map[String, Any] = {
    val out = mutable.LinkedHashMap.empty[String, Any]
    kernels(spark, in, rec, root, cores, out)
    operators(spark, in, staging, rec, root, out)
    out.toMap
  }

  private def median(xs: Seq[Long]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2).toDouble else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  private def hashAll(df: DataFrame, c: Column): Long = {
    val t0 = System.nanoTime()
    df.select(xxhash64(c).as("h")).agg(bit_xor(col("h"))).collect()
    System.nanoTime() - t0
  }

  /** ns per row of `kernel` over the cached `rows`: median time of the
    * kernel minus median time of a `base` column reading the same inputs. */
  private def perRow(rec: Recorder, root: Int, name: String, rows: DataFrame,
      n: Long, kernel: Column, base: Column): Double =
    rec.span(name, "kernel", root) { _ =>
      hashAll(rows, kernel)
      val (b, k) = (1 to 3).map(_ => (hashAll(rows, base), hashAll(rows, kernel))).unzip
      math.max(0.0, median(k) - median(b)) / n
    }

  private def kernels(spark: SparkSession, in: String, rec: Recorder, root: Int,
      cores: Int, out: mutable.Map[String, Any]): Unit = {
    val emb = Tables.embeddings(spark, in)
    val pairs = emb.select(col("vec_id").as("a"), col("embedding").as("va"))
      .crossJoin(broadcast(emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("b"), col("embedding").as("vb"))))
      .repartition(cores).persist()
    val nPairs = pairs.count()
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    val rnd = new scala.util.Random(11L)
    val centroids = Array.fill(32, dim)(rnd.nextGaussian())
    val sub = math.max(1, dim / 16)
    val books = Array.fill(dim / sub, 64, sub)(rnd.nextGaussian())
    val vecBase = size(col("va")) + size(col("vb"))
    out("kernel.dotExact_ns") = perRow(rec, root, "kernel.dotExact", pairs, nPairs,
      dotExact(col("va"), col("vb")), vecBase)
    out("kernel.dotFast_ns") = perRow(rec, root, "kernel.dotFast", pairs, nPairs,
      dotFast(col("va"), col("vb")), vecBase)
    out("kernel.cosineExact_ns") = perRow(rec, root, "kernel.cosineExact", pairs, nPairs,
      cosineExact(col("va"), col("vb")), vecBase)
    out("kernel.pqCodes_ns") = perRow(rec, root, "kernel.pqCodes", pairs, nPairs,
      pqCodes(col("va"), books), size(col("va")))
    out("kernel.nearestCells_ns") = perRow(rec, root, "kernel.nearestCells", pairs, nPairs,
      nearestCells(col("va"), centroids, centroids.indices.map(i => s"c$i").toArray, 4),
      size(col("va")))
    pairs.unpersist(blocking = true)

    val docs = Tables.documents(spark, in).select(col("doc_id"), col("text"))
      .crossJoin(spark.range(4).toDF("rep"))
      .select(concat(col("rep").cast("string"), lit(" "), col("text")).as("text"))
      .withColumn("tok", wsTokens(col("text")))
      .withColumn("shs", shingles(col("tok"), 3))
      .repartition(cores).persist()
    val nDocs = docs.count()
    out("kernel.minhashBands_ns") = perRow(rec, root, "kernel.minhashBands", docs, nDocs,
      minhashBands(col("shs"), 128, 32), size(col("shs")))
    out("kernel.shingleHashes_ns") = perRow(rec, root, "kernel.shingleHashes", docs, nDocs,
      shingleHashes(col("tok"), 3), size(col("tok")))
    out("kernel.simhash64_ns") = perRow(rec, root, "kernel.simhash64", docs, nDocs,
      simhash64(col("tok")), size(col("tok")))
    out("kernel.normalizeText_ns") = perRow(rec, root, "kernel.normalizeText", docs, nDocs,
      normalizeText(col("text")), length(col("text")))
    docs.unpersist(blocking = true)
  }

  private def operators(spark: SparkSession, in: String, staging: String,
      rec: Recorder, root: Int, out: mutable.Map[String, Any]): Unit = {
    /** Times one forced operator call; the span's jobs are counted later. */
    def op(name: String, keep: Boolean = false)(df: => DataFrame): DataFrame =
      rec.span(name, "operator", root) { _ =>
        val d = if (keep) df.persist() else df
        Main.fingerprint(Main.force(d))
        d
      }
    def keyed(df: DataFrame, a: String, b: String): Set[(Long, Long)] =
      df.select(col(a).cast(LongType), col(b).cast(LongType)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val docs = Tables.documents(spark, in)
    val emb = Tables.embeddings(spark, in)
    val queries = emb.filter(col("vec_id") < 8)

    // ---- dedup_curation layers
    val confirmed = op("Dedup.minhashLshPairs")(Dedup.minhashLshPairs(docs, "doc_id", "text"))
    val candidates = Dedup.minhashLshPairs(docs, "doc_id", "text", tau = 0.0).count()
    out("Dedup.minhash_confirm_ratio") =
      if (candidates == 0) 0.0 else confirmed.count().toDouble / candidates
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5)
      .localCheckpoint(true)
    val clusters = op("Dedup.clusterPairs")(Dedup.clusterPairs(pairs))
    Dedup.releaseClusters(clusters)
    op("Dedup.semanticPairs")(Dedup.semanticPairs(emb, "vec_id", "embedding", tau = 0.35))
    val li = Tables.lineitem(spark, in)
    val link = li.select(col("l_partkey").as("a"), (col("l_suppkey") + 1000000L).as("b"))
      .distinct()
    val edges = link.select(col("a").as("src"), col("b").as("dst"))
      .union(link.select(col("b").as("src"), col("a").as("dst")))
    val seeds = li.filter(col("l_partkey") < 10).select(col("l_partkey").as("node")).distinct()
    op("Graph.hopDistance")(Graph.hopDistance(edges, "src", "dst", seeds, "node", maxHops = 4))
    op("Graph.pageRankInt")(Graph.pageRankInt(edges, "src", "dst", iters = 5))

    // ---- vector_search layers
    val exact = op("Similarity.bruteForceTopK", keep = true)(
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10))
    op("Similarity.kmeansCentroids")(Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 3))
    val ivfpq = op("Similarity.ivfPqTopK", keep = true)(Similarity.ivfPqTopK(emb, queries, "vec_id",
      "embedding", k = 10, coarseCells = 16, nProbe = 4))
    op("Similarity.lshTopK")(Similarity.lshTopK(emb, queries, "vec_id", "embedding", 10))
    val truth = keyed(exact, "q_id", "vec_id")
    out("Similarity.recall_at_10") =
      if (truth.isEmpty) 0.0
      else (keyed(ivfpq, "q_id", "vec_id") & truth).size.toDouble / truth.size

    // ---- warehouse write-path layers, staged under the run's own directory
    val events = Tables.events(spark, in)
    op("JsonNormalize.normalize")(JsonNormalize.normalize(events, "props",
      StructType(Seq(StructField("k", LongType))), meta = Seq("event_type")))
    op("Quality.report")(Quality.report(li, Seq("l_orderkey", "l_linenumber"),
      Seq("l_quantity", "l_shipdate", "l_extendedprice")))
    val slim = events.select("event_id", "user_id", "event_type", "ts")
    val stagedPath = s"$staging/events"
    rec.span("Staging.writeStaged", "operator", root) { _ =>
      Staging.writeStaged(slim, "ts", stagedPath)
    }
    out("Staging.writeStaged_files") = {
      val s = Files.walk(Paths.get(stagedPath))
      try s.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally s.close()
    }
    val dimC = Star.buildDimDistributed(Tables.customer(spark, in), Seq("c_custkey"),
      "customer_sk", Seq(col("c_custkey"))).select("customer_sk", "c_custkey")
    op("Star.resolveSk")(Star.resolveSk(Tables.orders(spark, in), dimC,
      col("o_custkey") === col("c_custkey"), "customer_sk", broadcastDim = false))
    val cutoff = to_timestamp(lit("2024-01-15"))
    op("Star.upsertDoUpdate")(Star.upsertDoUpdate(events.filter(col("ts") < cutoff),
      events.filter(col("ts") >= cutoff), Seq("user_id", "event_type"),
      Seq(col("ts"), col("event_id"))))
    val lake = s"$staging/snapshots"
    Snapshots.commitAppend(spark, lake, slim, "ts")
    val batch = slim.filter(col("event_id") % 100 === 0)
      .withColumn("user_id", col("user_id") + 1L)
    rec.span("Snapshots.commitUpsert", "operator", root) { _ =>
      Snapshots.commitUpsert(spark, lake, batch, "ts", "event_id")
    }
  }
}
