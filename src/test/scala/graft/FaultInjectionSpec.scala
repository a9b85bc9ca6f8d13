package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Graph, Similarity}
import graft.sources.Staging

/** Every operator that frees its own checkpoints frees them on failure
  * too: for each k, the k-th job the operator starts is cancelled, and
  * the operator must throw, leave no new persisted RDD and no running
  * job behind. */
class FaultInjectionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-fault-test")
  import spark.implicits._

  /** Counts the jobs the operator under test starts since [[arm]] (those
    * carrying [[Tag]]) and cancels the `target`-th. */
  object Injector extends SparkListener {
    val Tag = "graft.faultInjection"
    @volatile private var target = 0
    @volatile var cancelled = -1
    val started = new AtomicInteger
    val ended = new AtomicInteger
    private val mine: java.util.Set[Int] = ConcurrentHashMap.newKeySet[Int]()
    val succeeded: java.util.Set[Int] = ConcurrentHashMap.newKeySet[Int]()

    def arm(k: Int): Unit = {
      mine.clear(); succeeded.clear(); started.set(0); ended.set(0)
      cancelled = -1; taskless = false; target = k
    }
    /** Whether the targeted job runs no task: it ends as it starts (an
      * empty RDD's job), so no cancel can reach it. */
    @volatile var taskless = false
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null && e.properties.getProperty(Tag) != null) {
        mine.add(e.jobId)
        if (started.incrementAndGet() == target) {
          cancelled = e.jobId
          taskless = e.stageInfos.map(_.numTasks).sum == 0
          spark.sparkContext.cancelJob(e.jobId)
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (mine.contains(e.jobId)) {
        if (e.jobResult == JobSucceeded) succeeded.add(e.jobId)
        ended.incrementAndGet()
      }
  }

  /** `op` with its jobs tagged for the [[Injector]]. */
  def tagged(op: () => Unit): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Injector.Tag, "on")
    try op() finally sc.setLocalProperty(Injector.Tag, null)
  }

  def eventually(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (!cond) {
      if (System.nanoTime() > deadline) fail(s"timed out waiting for $what")
      Thread.sleep(20)
    }
  }

  def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `op` (which releases whatever it returns) once to count its
    * jobs, then once per job k with the k-th job cancelled. A cancel that
    * lands after its job already finished is retried; a job that runs no
    * task cannot fail, so there `op` returns normally. */
  def faultEveryJob(setUp: () => Unit)(op: () => Unit): Unit = {
    spark.sparkContext.addSparkListener(Injector)
    try {
      val before = persisted
      setUp()
      Injector.arm(0)
      tagged(op)
      eventually("the clean run's job events")(
        Injector.ended.get == Injector.started.get)
      val jobs = Injector.started.get
      assert(jobs > 0)
      assert(persisted == before, "the clean run leaked")
      for (k <- 1 to jobs) {
        var attempts = 0
        var raced = true
        while (raced) {
          attempts += 1
          setUp()
          Injector.arm(k)
          val thrown = try { tagged(op); false } catch { case _: Exception => true }
          eventually(s"job $k to end")(Injector.cancelled >= 0 &&
            Injector.ended.get == Injector.started.get)
          val missed = !thrown && Injector.succeeded.contains(Injector.cancelled)
          raced = missed && !Injector.taskless
          if (!raced) {
            assert(thrown || missed, s"job $k of $jobs was cancelled but the operator returned")
            eventually(s"no running job after cancelling job $k")(
              spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
            val left = persisted -- before
            assert(left.isEmpty, s"cancelling job $k of $jobs left persisted RDDs $left")
          } else assert(attempts < 5, s"job $k of $jobs always finished before its cancel")
        }
      }
    } finally {
      Injector.arm(0)
      spark.sparkContext.removeSparkListener(Injector)
    }
  }

  def noSetUp(): Unit = ()

  lazy val pairs: DataFrame =
    (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L),
      (20L, 21L), (21L, 22L), (30L, 31L)) ++ (40L until 48L).map(i => (i, i + 1L)))
      .toDF("d1", "d2")

  lazy val edges: DataFrame =
    (0L until 24L).map(i => (i, (i * 7 + 3) % 24)).toDF("src", "dst")

  lazy val emb: DataFrame = (0L until 24L).map { i =>
    (i, Array.tabulate(4)(j => ((i * 31 + j * 17) % 11).toFloat / 11f - 0.5f))
  }.toDF("vec_id", "embedding")

  test("clusterPairs frees its checkpoints when any of its jobs fails") {
    faultEveryJob(noSetUp) { () =>
      Dedup.releaseClusters(Dedup.clusterPairs(pairs))
    }
  }

  test("pageRankInt frees its checkpoints when any of its jobs fails") {
    faultEveryJob(noSetUp) { () =>
      Bridge.unpersistCheckpoints(Graph.pageRankInt(edges, "src", "dst", iters = 3))
    }
  }

  test("hopDistance frees its checkpoints when any of its jobs fails") {
    faultEveryJob(noSetUp) { () =>
      Bridge.unpersistCheckpoints(Graph.hopDistance(edges, "src", "dst",
        Seq(0L).toDF("node"), "node", maxHops = 3))
    }
  }

  test("kmeansCentroids frees its checkpoints when any of its jobs fails") {
    faultEveryJob(noSetUp) { () =>
      Bridge.unpersistCheckpoints(
        Similarity.kmeansCentroids(emb, "vec_id", "embedding", k = 3, iters = 3))
    }
  }

  test("pqTrainBooks frees its checkpoints when any of its jobs fails") {
    faultEveryJob(noSetUp) { () =>
      Similarity.pqTrainBooks(emb, "vec_id", "embedding", m = 2, ksub = 2, iters = 3)
      ()
    }
  }

  test("principalComponent frees its checkpoints when any of its jobs fails") {
    faultEveryJob(noSetUp) { () =>
      Similarity.principalComponent(emb, "embedding", iters = 3)
      ()
    }
  }

  /** A two-day staged lake under a fresh directory per run; user 2 sits
    * in both days, so erasing it rewrites one day and empties the other. */
  def stagedLake(withDeleteVector: Boolean): (() => Unit, () => String) = {
    var dir = ""
    def setUp(): Unit = {
      dir = java.nio.file.Files.createTempDirectory("graft_fault_lake_").toString
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      Staging.writeStaged(Seq((1L, ts("2024-01-01 01:00:00")),
        (2L, ts("2024-01-01 02:00:00")), (2L, ts("2024-01-02 01:00:00")))
        .toDF("user_id", "ts"), "ts", dir)
      if (withDeleteVector)
        Staging.writeDeleteVector(spark, dir, "user_id", Seq(2L).toDF("user_id"))
    }
    (() => setUp(), () => dir)
  }

  def removeDir(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  test("deleteKeys frees its checkpoint when any of its jobs fails") {
    val (setUp, dir) = stagedLake(withDeleteVector = false)
    faultEveryJob(setUp) { () =>
      try Staging.deleteKeys(spark, dir(), "user_id", Seq(2L).toDF("user_id")).collect()
      finally removeDir(dir())
      ()
    }
  }

  test("compactDeletes frees its checkpoints when any of its jobs fails") {
    val (setUp, dir) = stagedLake(withDeleteVector = true)
    faultEveryJob(setUp) { () =>
      try Staging.compactDeletes(spark, dir(), "user_id").collect()
      finally removeDir(dir())
      ()
    }
  }
}
