package perfbench

import java.lang.management.ManagementFactory
import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}

import graft.{GraftSession, SparkEntry, Tables}

/** JVM side of the benchmark: runs one workload's op list in a closed loop
  * with one client and writes a raw report (per-op records, spans,
  * listener events) for `perfbench/run.py` to check and summarize.
  *
  *   perfbench.Main --mode run --workload W --ops a,b --inputs DIR
  *     --out DIR --warmups W --passes K --max-seconds S --trace 0|1 --seed N
  *     --cores C
  *   perfbench.Main --mode selftest --inputs DIR --out DIR --cores C
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a("mode") match {
      case "run" => new Run(a).apply()
      case "selftest" => SelfTest(a)
      case m => sys.error(s"unknown mode $m")
    }
  }

  /** Forces every output column of an op's result: an order-independent
    * result hash plus the row count (the aggregate `graft.Bench` times). */
  def force(df: DataFrame): DataFrame =
    df.agg(bit_xor(xxhash64(df.columns.map(c => col(s"`$c`")): _*)).as("h"),
      count(lit(1)).as("n"))

  /** Result fingerprint "hash:rows" of a forced frame. */
  def fingerprint(forced: DataFrame): String = {
    val r = forced.collect().head
    s"${if (r.isNullAt(0)) "null" else r.getLong(0).toString}:${r.getLong(1)}"
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Parquet scans in the executed plan, subqueries and AQE stages included. */
  def parquetScans(df: DataFrame): Int =
    Plans.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[ParquetFileFormat] => 1
    }.size

  /** Bytes Spark's block manager holds for cached or checkpointed RDDs. */
  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Unpersists every RDD persisted since `baseline`; returns how many. */
  def sweep(spark: SparkSession, baseline: Set[Int]): Int = {
    val rdds = spark.sparkContext.getPersistentRDDs
    val created = rdds.keySet.toSet -- baseline
    created.foreach(id => rdds(id).unpersist(blocking = true))
    created.size
  }

  /** Bytes of the regular files under `p`; files deleted while the walk
    * runs (Spark's cleaner removes shuffle files asynchronously) count 0. */
  def dirBytes(p: Path): Long = {
    var total = 0L
    if (Files.exists(p)) Files.walkFileTree(p, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, attrs: BasicFileAttributes): FileVisitResult = {
        if (attrs.isRegularFile) total += attrs.size
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    total
  }

  /** Peak resident set of this JVM (VmHWM), in KiB; -1 where /proc is absent. */
  def rssPeakKb(): Long = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1L
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  /** Fixed single-thread integer work: its time tracks host CPU contention. */
  def spin(): Long = {
    var x = 1L
    var i = 0
    while (i < 20000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    x
  }

  /** Host CPU ticks (all, steal) from the first line of /proc/stat; (0, 0)
    * where it is absent. Steal is time the machine's virtual CPUs were
    * ready to run while the host ran something else: host contention. */
  def cpuTicks(): (Long, Long) = {
    val stat = Paths.get("/proc/stat")
    if (!Files.exists(stat)) (0L, 0L)
    else {
      val f = Files.readAllLines(stat).get(0).trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (f.sum, if (f.length == 8) f(7) else 0L)
    }
  }

  /** Host-contention probe: the fastest of three runs each of the fixed
    * spin and a fixed tiny Spark job. Host contention slows all three; a
    * GC pause or a late JIT compile in this JVM slows only one. */
  def hostProbe(spark: SparkSession, cores: Int): Map[String, Any] = {
    val (spins, jobs) = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val x = spin()
      val t1 = System.nanoTime()
      val s = spark.sparkContext.parallelize(1 to 4000, cores).map(_ * 2L + (x & 1L)).reduce(_ + _)
      val t2 = System.nanoTime()
      require(s >= 4000L * 4001L, "probe job returned a wrong sum")
      ((t1 - t0) / 1e6, (t2 - t1) / 1e6)
    }.unzip
    Map("spin_ms" -> spins.min, "job_ms" -> jobs.min)
  }

  /** Loaders for every input table, as the registered queries call them. */
  val tables: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region _, "nation" -> Tables.nation _,
    "customer" -> Tables.customer _, "supplier" -> Tables.supplier _,
    "part" -> Tables.part _, "orders" -> Tables.orders _,
    "lineitem" -> Tables.lineitem _, "events" -> Tables.events _,
    "documents" -> Tables.documents _, "embeddings" -> Tables.embeddings _)

  def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), text)
  }
}

final class Run(a: Map[String, String]) {
  import Main._

  private val ops = a("ops").split(",").toSeq
  private val in = a("inputs")
  private val out = a("out")
  private val traced = a("trace") == "1"
  private val nWarmups = a("warmups").toInt
  private val nPasses = if (traced) 3 else a("passes").toInt
  private val maxSeconds = a("max-seconds").toDouble
  private val seed = a("seed").toLong
  private val cores = a("cores").toInt
  private val rec = new Recorder

  def apply(): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local(cores, "perfbench")
    val sessionStartS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext

    // ---- set-up: scan layout of every input, then the untimed warm-up
    // passes; the first also writes each op's result for the oracle check
    val w0 = System.nanoTime()
    val layout = tables.map { case (name, load) =>
      name -> load(spark, in).rdd.getNumPartitions
    }.toMap
    val baseline = sc.getPersistentRDDs.keySet.toSet
    val reference = ops.map(op => op -> warm(spark, op, baseline)).toMap
    (2 to nWarmups).foreach(_ => ops.foreach(op => runOp(spark, op, 0, false, 0, baseline)))
    hostProbe(spark, cores) // compiles the probes
    val warmupS = (System.nanoTime() - w0) / 1e9

    // ---- timed passes in a seed-shuffled op order. Pass times keep falling
    // for several passes while the JIT settles, so the run makes a fixed
    // number of passes (a time-boxed loop would move the median pass along
    // that slope); the time cap only guards against a stalled host. A traced
    // run makes three, untraced and traced as U T U, so the drift does not
    // bias the overhead ratio.
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var p = 0
    while (p < nPasses && (p < 2 || (System.nanoTime() - t0) / 1e9 < maxSeconds)) {
      p += 1
      val tracedPass = traced && p == 2
      val probe = hostProbe(spark, cores)
      val order = new scala.util.Random(seed * 7919L + p).shuffle(ops)
      if (tracedPass) sc.addSparkListener(rec.listener)
      val ticks0 = cpuTicks()
      val start = System.nanoTime()
      val passId = if (tracedPass) rec.add(s"pass$p", "pass", 0, start, start) else 0
      order.foreach(op => records += runOp(spark, op, p, tracedPass, passId, baseline))
      val end = System.nanoTime()
      val ticks1 = cpuTicks()
      if (tracedPass) {
        rec.close(passId, end)
        org.apache.spark.perfbench.BusDrain(sc)
        sc.removeSparkListener(rec.listener)
      }
      passes += Map("pass" -> p, "traced" -> tracedPass, "start_ns" -> start,
        "end_ns" -> end, "span" -> passId,
        "steal_frac" -> (ticks1._2 - ticks0._2).toDouble / math.max(1L, ticks1._1 - ticks0._1)) ++
        probe
    }

    // ---- traced run only: direct calls into kernels and operators
    val direct: Map[String, Any] =
      if (!traced) Map.empty
      else {
        sc.addSparkListener(rec.listener)
        val root = rec.add("direct", "direct", 0, System.nanoTime(), System.nanoTime())
        val d = Direct(spark, in, s"$out/staging", rec, root, cores)
        rec.close(root, System.nanoTime())
        sweep(spark, baseline)
        org.apache.spark.perfbench.BusDrain(sc)
        sc.removeSparkListener(rec.listener)
        d
      }

    val scratch = sys.env.get("SPARK_GRAFT_SCRATCH").map(Paths.get(_))
    val scratchLeft = scratch.map(dirBytes).getOrElse(0L) + dirBytes(Paths.get(s"$out/staging"))
    val report = Map(
      "workload" -> a("workload"), "seed" -> seed, "cores" -> cores,
      "traced" -> traced, "session_start_s" -> sessionStartS,
      "warmup_s" -> warmupS, "layout" -> layout, "reference" -> reference,
      "oracle_sql" -> ops.flatMap(op => SparkEntry.oracleSql.get(op).map(op -> _)).toMap,
      "records" -> records, "passes" -> passes,
      "direct" -> direct, "scratch_left_b" -> scratchLeft,
      "rss_peak_kb" -> rssPeakKb(),
      "epoch_anchor" -> Seq(rec.epochAnchor._1, rec.epochAnchor._2),
      "listener" -> (if (traced) rec.listenerJson else Map.empty),
      "spans" -> rec.allSpans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "kind" -> s.kind, "start_ns" -> s.start,
        "end_ns" -> s.end)))
    write(s"$out/report.json", Json(report))
    spark.stop()
  }

  private def prepare(spark: SparkSession, op: String): Unit =
    SparkEntry.prepares.get(op).foreach(_(spark, in))

  private def describe(t: Throwable): String =
    s"${t.getClass.getName}: ${String.valueOf(t.getMessage).take(300)}"

  /** Untimed warm-up of one op: collects its result, writes it as parquet
    * for the oracle check, and returns the fingerprint of exactly the
    * collected rows. */
  private def warm(spark: SparkSession, op: String, baseline: Set[Int]): Map[String, Any] = {
    val res = try {
      prepare(spark, op)
      val df = SparkEntry.queries(op)(spark, in)
      val rows = spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
      if (SparkEntry.oracleSql.contains(op))
        rows.coalesce(1).write.parquet(s"$out/results/$op")
      Map("fp" -> fingerprint(force(rows)))
    } catch { case t: Throwable => Map("error" -> describe(t)) }
    sweep(spark, baseline)
    res + ("oracle" -> SparkEntry.oracleSql.contains(op))
  }

  /** One timed op: prepare (untimed), then registry lookup, query build,
    * planning of the forcing aggregate, and its execution. */
  private def runOp(spark: SparkSession, op: String, pass: Int, tracedPass: Boolean,
      passId: Int, baseline: Set[Int]): Map[String, Any] = {
    val p0 = System.nanoTime()
    val prepError = try { prepare(spark, op); None } catch { case t: Throwable => Some(describe(t)) }
    val s0 = System.nanoTime()
    // t(0) start, t(1) looked up, t(2) built, t(3) planned, t(4) executed
    val t = Array.fill(5)(s0)
    var k = 0
    def mark(): Unit = { k += 1; t(k) = System.nanoTime() }
    var fp: String = null
    var error: Option[String] = prepError
    var scans = -1
    if (error.isEmpty) try {
      val fn = SparkEntry.queries(op)
      mark()
      val df = fn(spark, in)
      mark()
      val forced = force(df)
      forced.queryExecution.executedPlan
      mark()
      fp = fingerprint(forced)
      mark()
      if (tracedPass) scans = parquetScans(forced)
    } catch { case e: Throwable =>
      error = Some(describe(e))
      while (k < 4) mark()
    }
    val cacheLeft = storageBytes(spark)
    val created = sweep(spark, baseline)
    if (tracedPass) {
      if (SparkEntry.prepares.contains(op)) rec.add(s"prepare $op", "registry.prepare", passId, p0, s0)
      val opId = rec.add(op, "op", passId, t(0), t(4))
      Seq("registry.lookup", "registry.build", "plan", "exec").zipWithIndex.foreach {
        case (phase, i) => rec.add(phase, phase, opId, t(i), t(i + 1))
      }
    }
    Map("pass" -> pass, "traced" -> tracedPass, "op" -> op,
      "start_ns" -> t(0), "end_ns" -> t(4), "prepare_ns" -> (s0 - p0),
      "lookup_ns" -> (t(1) - t(0)), "build_ns" -> (t(2) - t(1)), "plan_ns" -> (t(3) - t(2)),
      "exec_ns" -> (t(4) - t(3)), "fp" -> fp, "error" -> error, "scans" -> scans,
      "cache_left_b" -> cacheLeft, "ckpt" -> created)
  }
}
