package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** The reference's year/month/day partitioned staging layout (reference:
  * dags/scripts/rust_twitter_steam_dims.py:56-66 — CSVs under
  * `stage/.../{year}/{month}/{day}/`), re-expressed as a Hive-partitioned
  * parquet write.
  *
  * Scale notes: `partitionBy(y, m, d)` gives partition PRUNING on read —
  * an incremental hourly load touches one leaf directory out of the whole
  * lake, which is what makes the reference's idempotent hourly cadence
  * workable at 100 TB. Parquet (columnar + stats) replaces the
  * reference's CSV so downstream scans also get predicate pushdown and
  * column pruning.
  */
object Staging {

  /** Schema of the per-affected-partition erasure report returned by
    * [[deleteKeys]] / [[compactDeletes]]. */
  private val reportSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("y",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("m",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("d",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("rows_before",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("rows_deleted",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("rows_after",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** Derive the y/m/d partition columns from a timestamp column. */
  def withDateParts(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn("y", year(col(tsCol)).cast(LongType))
      .withColumn("m", month(col(tsCol)).cast(LongType))
      .withColumn("d", dayofmonth(col(tsCol)).cast(LongType))

  /** Stage a frame under `path/y=…/m=…/d=…` (overwrite = idempotent
    * re-run, like the reference's keyed S3 object paths). */
  def writeStaged(df: DataFrame, tsCol: String, path: String,
      format: String = "parquet"): Unit =
    withDateParts(df, tsCol)
      .write.mode("overwrite").format(format)
      .partitionBy("y", "m", "d")
      .save(path)

  /** Read a staged table back (partition columns y/m/d come back as
    * directory-derived columns; filters on them prune directories).
    * `mergeSchema = true` reconciles slices written with EVOLVED schemas
    * (a column added mid-stream): the read exposes the union schema and
    * pre-evolution rows surface the new columns as null — the standard
    * additive-evolution contract of a parquet lake. Off by default: the
    * merged-schema inference lists every file's footer, which is the
    * expensive path at lake scale (prefer it only on evolved tables). */
  def readStaged(spark: SparkSession, path: String,
      format: String = "parquet", mergeSchema: Boolean = false): DataFrame = {
    val r = spark.read.format(format)
    (if (mergeSchema) r.option("mergeSchema", "true") else r).load(path)
  }

  /** Interval-bounded incremental staging run (reference:
    * dags/scripts/helpers.py:10-47 — every hourly run extracts only
    * `[data_interval_start, data_interval_end)` and stages under that run's
    * y/m/d key). The slice filter sits directly on the timestamp column so
    * it pushes into the source scan, and the write uses DYNAMIC partition
    * overwrite: a re-run of the same interval replaces only the slice's own
    * y/m/d partitions — idempotent like the reference's keyed S3 puts —
    * without ever truncating the rest of the lake (plain `overwrite` would). */
  def writeSlice(df: DataFrame, tsCol: String, start: String, end: String,
      path: String, format: String = "parquet"): Unit =
    withDateParts(
        df.filter(col(tsCol) >= to_timestamp(lit(start)) &&
          col(tsCol) < to_timestamp(lit(end))),
        tsCol)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .format(format)
      .partitionBy("y", "m", "d")
      .save(path)

  /** Right-to-be-forgotten delete over a staged y/m/d lake — the GDPR
    * erasure verb every production lake needs: remove all rows whose key
    * appears in `keys`, REWRITING ONLY the partitions that contain a
    * matching row. Returns a per-affected-partition report
    * (y, m, d, rows_before, rows_deleted, rows_after), collected — the
    * report is partition-count-sized by construction.
    *
    * Scale shape: the deletion list broadcasts (erasure requests are
    * human-scale; a larger list shuffles the SEMI-join but the posture
    * below is unchanged); the affected-partition set is discovered with
    * one broadcast-semi-joined scan, then every subsequent job filters on
    * an ENCODED partition predicate ((y·10000+m·100+d) IN set, evaluated
    * against the partition listing, so untouched partitions are never
    * read — at 100 TB the rewrite cost is proportional to the data that
    * actually contains the keys). Survivors are materialized
    * (`Bridge.checkpoint`) BEFORE the dynamic-partition-overwrite write —
    * Spark refuses a self-overwrite whose plan still reads the target
    * path — and partitions left EMPTY by the delete are removed
    * explicitly: dynamic overwrite only replaces partitions it writes
    * rows for, so a fully-erased partition would otherwise silently keep
    * its old files (the classic erasure pitfall). */
  def deleteKeys(spark: SparkSession, path: String, keyCol: String,
      keys: DataFrame, format: String = "parquet"): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val lake = readStaged(spark, path, format)
    val k = broadcast(keys.select(col(keyCol)).distinct())
    val enc = (col("y").cast(LongType) * 10000L +
      col("m").cast(LongType) * 100L + col("d").cast(LongType))
    val affected = lake.join(k, Seq(keyCol), "left_semi")
      .select(enc.as("__p")).distinct()
      .collect().map(_.getLong(0)).sorted
    val schema = reportSchema
    if (affected.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    else Bridge.withCheckpoints { ck =>
      val slice = lake.filter(enc.isInCollection(affected.toSeq))
      val before = slice.groupBy(enc.as("__p")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val survivors = ck(slice.join(k, Seq(keyCol), "left_anti"))
      val after = survivors.groupBy(enc.as("__p")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      survivors
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .format(format)
        .partitionBy("y", "m", "d")
        .save(path)
      // fully-erased partitions: dynamic overwrite wrote nothing there
      val conf = spark.sparkContext.hadoopConfiguration
      affected.filter(p => after.getOrElse(p, 0L) == 0L).foreach { p =>
        val dir = new org.apache.hadoop.fs.Path(
          s"$path/y=${p / 10000}/m=${p / 100 % 100}/d=${p % 100}")
        val fs = dir.getFileSystem(conf)
        fs.delete(dir, true)
      }
      val rows = affected.map { p =>
        val b = before.getOrElse(p, 0L); val a = after.getOrElse(p, 0L)
        org.apache.spark.sql.Row(p / 10000, p / 100 % 100, p % 100, b, b - a, a)
      }
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema)
    }
  }

  /** Merge-on-read erasure — the Iceberg/Delta delete-vector posture
    * beside [[deleteKeys]]' copy-on-write: an erasure request lands as a
    * tiny key sidecar in O(request) time (no data rewrite on the request
    * path), readers apply the accumulated vectors with one broadcast
    * anti-join, and a maintenance [[compactDeletes]] pass folds them into
    * the files physically. The sidecar lives under `_deletes/`, which
    * Spark's hidden-path filter excludes from plain reads of the lake
    * root — old readers see the uncompacted rows, exactly the
    * merge-on-read contract; erasure-aware readers go through
    * [[readWithDeletes]]. Append-mode writes make successive requests
    * accumulate. */
  def writeDeleteVector(spark: SparkSession, path: String, keyCol: String,
      keys: DataFrame): Unit =
    keys.select(col(keyCol)).distinct().coalesce(1)
      .write.mode("append").parquet(s"$path/_deletes")

  /** Read the staged lake with every accumulated delete vector applied
    * (one broadcast anti-join — erasure lists are human-scale; the scan
    * itself is untouched, so pruning/pushdown behave exactly as a plain
    * [[readStaged]]). */
  def readWithDeletes(spark: SparkSession, path: String, keyCol: String,
      format: String = "parquet"): DataFrame = {
    val base = readStaged(spark, path, format)
    val del = new org.apache.hadoop.fs.Path(s"$path/_deletes")
    val fs = del.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(del)) base
    else base.join(
      broadcast(spark.read.parquet(del.toString).select(col(keyCol)).distinct()),
      Seq(keyCol), "left_anti")
  }

  /** Fold the accumulated delete vectors into the data files (the
    * maintenance half of merge-on-read): [[deleteKeys]] rewrites ONLY
    * the partitions containing a vectored key, then the sidecar is
    * dropped so plain readers converge with erasure-aware ones. Returns
    * the [[deleteKeys]] report (empty when no sidecar exists). */
  def compactDeletes(spark: SparkSession, path: String, keyCol: String,
      format: String = "parquet"): DataFrame = {
    val del = new org.apache.hadoop.fs.Path(s"$path/_deletes")
    val fs = del.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(del))
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), reportSchema)
    else Bridge.withCheckpoints { ck =>
      // materialize the vector BEFORE deleteKeys rewrites anything (the
      // sidecar itself is never part of the lake read, but being explicit
      // costs nothing and keeps the sequencing obvious)
      val keys = ck(spark.read.parquet(del.toString).select(col(keyCol)))
      val report = deleteKeys(spark, path, keyCol, keys, format)
      fs.delete(del, true)
      report
    }
  }

  /** Keyed snapshot diff — the CDC step between two corpus/table
    * snapshots: classify every key as added / removed / changed /
    * unchanged by comparing an md5 fingerprint over `cols` (multi-column
    * content folded with a \u0001 separator, so column boundaries can't
    * alias). This is what turns "yesterday's lake + today's dump" into
    * the small delta the rest of an incremental pipeline (re-embed,
    * re-dedup, re-shard) actually processes.
    *
    * Scale shape: each side is projected to (key, fingerprint) BEFORE the
    * join — the full-outer join shuffles two key+32-byte-hash streams,
    * never document bodies, and it is the only Exchange. At 100 TB both
    * sides co-partition on the key (bucketed snapshots make it
    * shuffle-free); the output is classification rows, typically consumed
    * filtered to the non-`unchanged` minority. */
  def snapshotDiff(base: DataFrame, cur: DataFrame, keyCol: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one content column")
    def fp(df: DataFrame, as: String): DataFrame = df.select(col(keyCol),
      md5(concat_ws("\u0001", cols.map(col): _*)).as(as))
    fp(base, "__fp_b").join(fp(cur, "__fp_c"), Seq(keyCol), "full_outer")
      .select(col(keyCol),
        when(col("__fp_b").isNull, lit("added"))
          .when(col("__fp_c").isNull, lit("removed"))
          .when(col("__fp_b") =!= col("__fp_c"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }
}
