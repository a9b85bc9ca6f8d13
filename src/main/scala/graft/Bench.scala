package graft
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}

/** Benchmark main. Prints ONE JSON line on stdout:
  *   {"metric":"total","value":<sum of per-query minima>,"unit":"sec",
  *    "queries":{<name>:<min sec across runs>,...},"runs":N,"sf":dir}
  *
  * `queries` keeps the historical contract (name -> seconds, best run).
  * The per-(run, query) execution trace — the self-diagnosing artifact for
  * the §7.1 contention-window rule (environment stalls inflate CONSECUTIVE
  * queries in run order; code regressions never do) — lives in
  * tools/bench_last.json as `run`: entries in EXACT execution order
  * (i = global run index). It is NOT printed: the driver keeps only a
  * ~2 KB stdout tail, and a 30 KB trace inside the contract line buys
  * nothing there while pushing everything else out of the tail.
  * Queries execute in sorted-name order within each run (deterministic and
  * documented, unlike Map hash order).
  *
  * Output-parsing contract (round-15 root cause): the driver json-parses
  * stdout LINES, so the contract line must arrive UNPREFIXED — sbt's
  * default LoggedOutput prepended "[info] " to every forked line and every
  * BENCH_r01..r14 shows `parsed: null`, including r01 whose complete valid
  * line sat entirely inside the kept tail. build.sbt now sets
  * `outputStrategy := StdoutOutput`. The full 263-query map (~6.3 KB:
  * 3.9 KB of query names alone) can never fit a 2 KB tail, so the compact
  * LAST line below also carries `value`/`unit` as the fallback parse
  * target if the driver only reads the tail.
  *
  * SPARK_GRAFT_RUNS (default 2): each query is timed that many times and
  * `queries` reports the per-query MIN — the §7.1 noise rule ("judge bench
  * numbers by the min of n>=2 runs") applied in-harness. SPARK_GRAFT_ONLY
  * limits to a comma-separated subset for local iteration; with RUNS=n it
  * is the A/B tool: the named queries run round-robin in one session and
  * each reports its min-of-n. A name no query carries fails fast.
  *
  * The LAST stdout line is a compact self-sufficient summary — the driver
  * keeps only a ~2 KB tail of the output, so the big line above survives
  * only as a fragment; everything verdict-grade (total, per-run totals,
  * failures, the slowest queries, regressions vs the committed baseline)
  * must fit in the tail:
  *   {"metric":"summary","value":S,"unit":"sec","total":S,
  *    "run_totals":[...],"failed":[...],
  *    "slowest":[{"q":name,"sec":S},...],"regressions":[...],"runs":N,"sf":dir}
  *
  * `regressions` compares each per-query min against
  * tools/bench_baseline.json (the committed min-of-2 map from the last
  * clean run; refresh with SPARK_GRAFT_WRITE_BASELINE=1): entries where
  * sec > 1.5 × base AND sec − base > 0.5 s (the absolute floor keeps
  * sub-second host jitter out). Empty on a clean run; a populated array
  * means either a code regression or a host contention window — apply the
  * §7.1 consecutive-inflation rule to the `run` array to tell them apart.
  */
object Bench {

  /** `x` with `decimals` fixed decimals for the JSON lines, in
    * `Locale.ROOT`: under a comma-decimal default locale the `f`
    * interpolator would print `1,500` — invalid JSON, and a value the
    * baseline regex reads as `1`. */
  private[graft] def fixed(x: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(x))

  /** The contract's `queries` map: name -> best seconds at 1 ms. */
  private[graft] def queriesJson(names: Seq[String], best: Map[String, Double]): String =
    names.map(n => "\"" + n + "\":" + fixed(best(n), 3)).mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt.max(1)
    val only = SparkEntry.only(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = GraftSession.local(cpus.toInt, "graft-bench")
    // untimed warm-up: the first timed query otherwise absorbs 1-5 s of
    // JIT + codegen compilation (the §7.1 first-query variance class).
    // Two probes: a scan+agg shape (q1) AND a vector-kernel shape
    // (sim_topk — FloatCosine etc.): the ANN family sorts FIRST in the
    // timed loop and was still carrying ~2.6 s of kernel JIT in run 1
    // (bench_last r12: ann_dim_tradeoff 4.17 vs 1.54 s across runs)
    for (probe <- Seq("q1_pricing_summary", "sim_topk")) {
      try {
        val w = SparkEntry.queries(probe)(spark, sfDir)
        w.agg(bit_xor(xxhash64(w.columns.map(col): _*)), count(lit(1))).head()
      } catch { case _: Throwable => () }
    }
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    // (runIndex, runNo, name, seconds, failed) in exact execution order
    val trace = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, String, Double, Boolean)]
    var i = 0
    for (r <- 1 to nRuns; name <- names) {
      // UNTIMED prepare: inputs another pipeline stage owns (e.g. the
      // cluster assignment dedup_keep_best_cached consumes) materialize
      // before the clock starts; the timed window is the operator itself
      SparkEntry.prepares.get(name).foreach { p =>
        try p(spark, sfDir)
        catch { case t: Throwable =>
          System.err.println(s"[bench] prepare failed $name: ${t.getMessage}")
        }
      }
      val t0 = System.nanoTime()
      // Force EVERY output column with a row-hash aggregate: a bare
      // count() lets column pruning delete computed projections, so a
      // projection-family query would time little more than the scan
      // (round-6 fix). bit_xor, not sum: summed hashes overflow under ANSI.
      val failed =
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          df.agg(bit_xor(xxhash64(df.columns.map(col): _*)), count(lit(1))).head()
          false
        } catch { case t: Throwable =>
          System.err.println(s"[bench] FAILED $name: ${t.getClass.getName}: ${t.getMessage}")
          true
        }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // UNTIMED cleanup: the cluster-family queries each leave one live
      // localCheckpoint (their result); letting those accumulate across
      // the run recreates the round-3 storage-pressure variance class
      val rdds = spark.sparkContext.getPersistentRDDs
      (rdds.keySet -- baseline).foreach(id => rdds(id).unpersist(blocking = false))
      System.err.println(f"[bench] run$r $name%-32s $elapsed%8.2f s")
      trace += ((i, r, name, elapsed, failed))
      i += 1
    }
    // per-query min across successful runs (all-failed -> -1 sentinel,
    // never a plausible-looking elapsed time — round-6 lesson)
    val best: Map[String, Double] = names.map { n =>
      val ok = trace.filter(t => t._3 == n && !t._5).map(_._4)
      n -> (if (ok.nonEmpty) ok.min else -1.0)
    }.toMap
    // %.3f: 1 ms resolution is far below the 0.5 s regression floor and
    // halves the printed map (the driver keeps a small stdout tail)
    val qs = queriesJson(names, best)
    val runArr = trace.map { case (idx, r, n, s, f) =>
      s"""{"i":$idx,"r":$r,"q":"$n","sec":$s,"err":$f}"""
    }.mkString("[", ",", "]")
    val total = best.values.filter(_ >= 0).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$nRuns,"sf":"$sfDir"}""")

    // --- compact summary as the LAST line (driver keeps a ~2 KB tail) ---
    val runTotals = (1 to nRuns).map(r =>
      trace.filter(_._2 == r).map(_._4).sum)
    val failedQs = names.filter(best(_) < 0)
    val slowest = names.sortBy(n => -best(n)).take(10)
      .map(n => s"""{"q":"$n","sec":${fixed(best(n), 2)}}""")
    val baselinePath = java.nio.file.Paths.get("tools/bench_baseline.json")
    val baseMap: Map[String, Double] =
      if (java.nio.file.Files.exists(baselinePath)) {
        val raw = new String(java.nio.file.Files.readAllBytes(baselinePath))
        val txt = raw.substring(raw.indexOf("\"queries\"").max(0))
        "\"([A-Za-z0-9_]+)\"\\s*:\\s*(-?[0-9][0-9.Ee+-]*)".r
          .findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble)
          .filter(_._2 >= 0) // -1 sentinel rows never become a baseline
          .toMap - "queries"
      } else Map.empty
    val regressions = names.flatMap { n =>
      baseMap.get(n).collect {
        case b if best(n) >= 0 && best(n) > 1.5 * b && best(n) - b > 0.5 =>
          s"""{"q":"$n","sec":${fixed(best(n), 2)},"base":${fixed(b, 2)}}"""
      }
    }
    // Drop the full per-query artifact beside the baseline on FULL runs:
    // the driver keeps only a ~2 KB stdout tail, so round-over-round
    // per-query diffs need a committed file, not the tail (commit
    // tools/bench_last.json with the round's close-out run). A
    // SPARK_GRAFT_ONLY subset probe must NOT clobber the committed full
    // artifact in the working tree — same gating principle as the
    // baseline write below.
    if (only.isEmpty) locally {
      val lastPath = java.nio.file.Paths.get("tools/bench_last.json")
      try {
        java.nio.file.Files.createDirectories(lastPath.getParent)
        java.nio.file.Files.write(lastPath,
          (s"""{"sf":"$sfDir","runs":$nRuns,"total":${fixed(total, 1)},""" +
            s""""queries":$qs,"run":$runArr}""" + "\n").getBytes)
      } catch { case t: Throwable =>
        System.err.println(s"[bench] bench_last write failed: ${t.getMessage}")
      }
    }
    if (sys.env.get("SPARK_GRAFT_WRITE_BASELINE").exists(_ == "1")) {
      java.nio.file.Files.createDirectories(baselinePath.getParent)
      java.nio.file.Files.write(baselinePath,
        (s"""{"sf":"$sfDir","runs":$nRuns,"queries":$qs}""" + "\n").getBytes)
      System.err.println(s"[bench] baseline written: $baselinePath")
    }
    println(s"""{"metric":"summary","value":${fixed(total, 1)},"unit":"sec","total":${fixed(total, 1)},""" +
      s""""run_totals":[${runTotals.map(fixed(_, 1)).mkString(",")}],""" +
      s""""failed":[${failedQs.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""slowest":[${slowest.mkString(",")}],""" +
      s""""regressions":[${regressions.mkString(",")}],""" +
      s""""baseline_queries":${baseMap.size},"runs":$nRuns,"sf":"$sfDir"}""")
    spark.stop()
  }
}
