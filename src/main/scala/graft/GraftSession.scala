package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: tests, Bench, Verify and the other mains.
  *
  * Scale posture: AQE on (runtime re-plan, skew-join splitting), shuffle
  * partitions sized to the local core count (on a real cluster this is
  * overridden to ~2-3x total cores by the submitter), UTC everywhere so
  * results are reproducible against the DuckDB oracle.
  */
object GraftSession {
  /** Shuffle/spill scratch: tmpfs when available. A production cluster
    * puts `spark.local.dir` on fast local NVMe; routing the local-mode
    * equivalent through a RAM disk keeps benchmarks measuring the engine
    * rather than the sandbox's block device (measured: individual
    * queries stall 30-100 s in `FileOutputStream.write` when the host's
    * virtio disk chokes on shuffle writes).
    *
    * tmpfs is used only when it has real headroom (>= 8 GiB free):
    * shuffle spill on a small /dev/shm would compete with the JVM heap
    * for the same RAM, so low-memory hosts fall back to disk tmp. The
    * created parent dir is removed on JVM exit (Spark deletes its own
    * blockmgr/spark-* children but not the parent we made), so repeated
    * runs don't accumulate empty dirs in /dev/shm. */
  private[graft] def scratchDir(): String =
    // SPARK_GRAFT_SCRATCH redirects spill for shuffle-heavy one-offs whose
    // intermediate exceeds RAM-backed tmpfs (a SIGKILLed JVM also skips the
    // cleanup hook, so runs that may be OOM-killed should not spill to shm)
    tempDir(baseDir(sys.env.get("SPARK_GRAFT_SCRATCH")), "graft-local")

  /** `dir` when set, else tmpfs when it has >= 8 GiB free, else
    * `java.io.tmpdir` — the headroom rule [[scratchDir]] documents. */
  private def baseDir(dir: Option[String]): java.nio.file.Path =
    dir.map(java.nio.file.Paths.get(_)).getOrElse {
      val shm = java.nio.file.Paths.get("/dev/shm")
      if (java.nio.file.Files.isWritable(shm) &&
          shm.toFile.getUsableSpace >= (8L << 30)) shm
      else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    }

  /** Temp dir removed on JVM exit — Spark cleans its own children but
    * never the parent, and the warehouse dir not at all. Registered via
    * Spark's ShutdownHookManager at a post-Spark priority so the delete
    * never races Spark's own cleanup of the same tree (a raw JVM hook
    * runs concurrently with Spark's and the two deleters can collide). */
  private[graft] def tempDir(base: java.nio.file.Path, prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(base, prefix)
    org.apache.spark.sql.graft.Bridge.removeDirOnShutdown(dir.toFile)
    dir.toString
  }

  /** Throwaway per-JVM warehouse for saveAsTable fixtures (bucketing
    * demos): tmpfs when it has headroom, for the same reason as
    * [[scratchDir]] — the bucketed-write queries exercise bucket LAYOUT
    * semantics, which a production warehouse serves from object storage,
    * not this sandbox's stall-prone block device. Same 8 GiB guard:
    * fixture tables here are MBs, but low-memory hosts still fall back. */
  private[graft] def warehouseDir(): String =
    // SPARK_GRAFT_WAREHOUSE overrides just the warehouse (the
    // tmpfs-vs-disk A/B lever); SPARK_GRAFT_SCRATCH is honored too
    // (scratchDir's documented escape hatch): OOM-prone runs route
    // fixture tables to disk, and a SIGKILLed JVM can't pin stale
    // graft-warehouse dirs in RAM-backed tmpfs with no env recourse
    tempDir(baseDir(sys.env.get("SPARK_GRAFT_WAREHOUSE")
      .orElse(sys.env.get("SPARK_GRAFT_SCRATCH"))), "graft-warehouse")

  def local(cores: Int = 4, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // fresh throwaway warehouse per JVM so saveAsTable (bucketing demos)
      // never collides with a stale location in the working directory
      .config("spark.sql.warehouse.dir", warehouseDir())
      // Spark 4 defaults session-artifact isolation ON, which wraps every
      // job in a JobArtifactState whose ExecutorClassLoader resolves each
      // classloader MISS (janino-generated code produces thousands) over a
      // driver RPC file-download — a serialized round-trip per miss. This
      // library adds no session artifacts (its jar rides the executor
      // classpath under spark-submit), so isolation buys nothing and the
      // RPC detour can dominate wall-clock when syscalls are slow
      // (measured: the whole sf0.1 bench 912 s -> ~2 min on one host).
      // Session-creation-time conf — it has no effect set later.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.local.dir", scratchDir())
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `f` with the session confs `pairs` set, then restore each key's
    * previous value (or unset it), also when `f` throws. Plans read the
    * session conf when they execute, not when they are built, so `f` must
    * materialize whatever the confs are meant to shape. */
  def withConfs[T](spark: SparkSession, pairs: Seq[(String, String)])(f: => T): T = {
    val conf = spark.conf
    val prev = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f
    finally prev.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }
}
