package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Cleaning.CleaningOps
import graft.operators.{Dedup, Layout, Skew, Star}

/** Property-based invariants over randomized inputs: the determinism and
  * algebraic guarantees the 100 TB design depends on (retried tasks and
  * shuffled partitions must never change results). */
class PropertiesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-props-test")
  import spark.implicits._

  /** scalatest's scalacheck bridge isn't on the offline classpath — drive
    * the generators directly with a fixed seed count. */
  def forAll[A](gen: Gen[A], n: Int = 10)(body: A => Unit): Unit =
    (0 until n).foreach { _ =>
      gen.sample.foreach(body)
    }
  def whenever(cond: Boolean)(body: => Unit): Unit = if (cond) body

  val rowsGen: Gen[List[(Int, Int, String)]] =
    Gen.listOfN(60, for {
      k <- Gen.choose(0, 5)
      ord <- Gen.choose(0, 8)
      v <- Gen.alphaStr.map(_.take(4))
    } yield (k, ord, v))

  test("hashSk is deterministic and collision-free on realistic key spaces") {
    val keysGen = Gen.listOfN(2000, Gen.choose(Long.MinValue, Long.MaxValue))
    forAll(keysGen, n = 3) { keys =>
      val distinct = keys.distinct
      val df = distinct.toDF("k")
      val hashed = df.select(Star.hashSk(Seq(col("k"))).as("sk"))
      // injective on the sample (64-bit space vs thousands of keys) — a
      // collision here would mean the SK strategy silently merges dim rows
      assert(hashed.distinct().count() == distinct.size.toLong)
      // deterministic across partitionings (retried tasks must agree)
      val a = df.repartition(7).select(col("k"), Star.hashSk(Seq(col("k"))).as("sk"))
        .orderBy("k").collect().toSeq
      val b = df.repartition(2).select(col("k"), Star.hashSk(Seq(col("k"))).as("sk"))
        .orderBy("k").collect().toSeq
      assert(a == b)
    }
  }

  test("hashSk128 is deterministic, injective, and its halves are independent") {
    val df = (0L until 5000L).toDF("k")
    val sk = df.select(Star.hashSk128(Seq(col("k"))).as("sk"))
    assert(sk.distinct().count() == 5000L)
    // deterministic across partitionings (retried tasks must agree)
    val a = df.repartition(7).select(col("k"), Star.hashSk128(Seq(col("k"))).as("sk"))
      .orderBy("k").collect().toSeq
    val b = df.repartition(3).select(col("k"), Star.hashSk128(Seq(col("k"))).as("sk"))
      .orderBy("k").collect().toSeq
    assert(a == b)
    // the reseeded half is a different hash-family member, not a copy
    assert(sk.filter(col("sk.h1") === col("sk.h2")).count() == 0L)
    // and each half individually is injective on the sample — the struct's
    // width is real, not one good half carrying a degenerate one
    assert(sk.select(col("sk.h1")).distinct().count() == 5000L)
    assert(sk.select(col("sk.h2")).distinct().count() == 5000L)
  }

  test("LSH clusters refine the exact-Jaccard clusters (coarsening consistency)") {
    // verified-LSH pairs are a subset of exact pairs (tested above), so
    // every LSH connected component must sit INSIDE one exact component:
    // the scale path may split clusters (missed candidates) but must never
    // merge documents the exact pipeline keeps apart
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = Dedup.clusterPairs(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = Dedup.clusterPairs(
        Dedup.minhashLshPairs(docs, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(lsh.nonEmpty)
    lsh.groupBy(_._2).foreach { case (canon, members) =>
      val exactRoots = members.map { case (id, _) => exact(id) }.distinct
      assert(exactRoots.size == 1,
        s"LSH cluster $canon spans ${exactRoots.size} exact clusters")
    }
  }

  test("approx percentiles track the exact quantiles (scale-path accuracy)") {
    val exact = SparkEntry.queries("price_percentiles")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> Seq(1, 2, 3, 4).map(r.getDouble)).toMap
    val approx = SparkEntry.queries("price_percentiles_approx")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> Seq(1, 2, 3, 4).map(r.getDouble)).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (flag, es) =>
      es.zip(approx(flag)).foreach { case (e, a) =>
        assert(math.abs(a - e) / e < 0.05, s"$flag: approx $a vs exact $e")
      }
    }
  }

  test("approx distinct counts track the exact counts (HLL scale-path accuracy)") {
    val exact = SparkEntry.queries("distinct_users")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = SparkEntry.queries("distinct_users_approx")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (t, e) =>
      assert(math.abs(approx(t) - e).toDouble / e < 0.05,
        s"$t: approx ${approx(t)} vs exact $e")
    }
  }

  test("approx percentile gate keeps nearly the exact gate's set (quality filter pairing)") {
    val exact = SparkEntry.queries("quality_filter")(spark, "/root/testdata/sf0.001")
      .collect().map(_.getLong(0)).toSet
    val approx = SparkEntry.queries("quality_filter_approx")(spark, "/root/testdata/sf0.001")
      .collect().map(_.getLong(0)).toSet
    // the sketch threshold sits at a real score near p25, so the two kept
    // sets differ only in docs scored between the two thresholds
    val diff = (exact diff approx).size + (approx diff exact).size
    assert(diff.toDouble / exact.size < 0.05,
      s"kept sets diverge by $diff of ${exact.size}")
  }

  test("boilerplate passage dedup covers every token: kept + dropped = total passages") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    for (w <- Seq(3, 32)) {
      val out = graft.operators.TextAnalysis
        .dropBoilerplatePassages(docs, "doc_id", "text", windowTokens = w, maxDf = 3L)
      val bad = out
        .join(docs.select(col("doc_id"),
          size(graft.functions.wsTokens(col("text"))).as("__nt")), "doc_id")
        .filter(col("n_kept") + col("n_dropped") =!=
          greatest(ceil(col("__nt") / w.toDouble).cast("long"), lit(1L)))
        .count()
      assert(bad == 0L, s"window $w: coverage broken for $bad docs")
      assert(out.count() == docs.count()) // one row per input doc, always
    }
  }

  test("fingerprint kernel is bit-identical to the interpreted expression chain") {
    import spark.implicits._
    val edge = Seq(
      (1L, ""), (2L, "one two"), (3L, "exactly three tokens"),
      (4L, "a b c d e f g h i j k l"),
      (5L, "rep rep rep rep rep"), // duplicate shingles collapse
      (6L, " leading  and trailing ")).toDF("doc_id", "text")
    for (docs <- Seq(edge, graft.Tables.documents(spark, "/root/testdata/sf0.001"))) {
      val kernel = graft.operators.TextAnalysis.fingerprint(docs, "doc_id", "text")
        .orderBy("doc_id", "rk").collect().map(_.toSeq).toSeq
      val chain = graft.operators.TextAnalysis
        .fingerprintInterpreted(docs, "doc_id", "text")
        .orderBy("doc_id", "rk").collect().map(_.toSeq).toSeq
      assert(kernel == chain)
    }
  }

  test("nfc kernel: idempotent, collapses canonical equivalents, ASCII identity") {
    import graft.functions.nfcNormalize
    val rows = Seq(
      (1L, "plain ascii text"),
      (2L, "caf\u00e9"),            // precomposed: already NFC
      (3L, "cafe\u0301"),           // decomposed: e + combining acute
      (4L, "A\u030a ring"),         // A + combining ring -> \u00c5
      (5L, "")).toDF("id", "t")
    val out = rows.select(col("id"), col("t"),
        nfcNormalize(col("t")).as("n1"),
        nfcNormalize(nfcNormalize(col("t"))).as("n2"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getString(3))).sortBy(_._1)
    // idempotence: NFC(NFC(x)) == NFC(x)
    assert(out.forall { case (_, _, n1, n2) => n1 == n2 })
    // ASCII identity; canonical equivalents collapse to the SAME bytes
    assert(out(0)._3 == "plain ascii text")
    assert(out(1)._3 == "caf\u00e9" && out(2)._3 == "caf\u00e9")
    assert(out(3)._3 == "\u00c5 ring")
    assert(out(4)._3 == "")
    // interpreted (direct eval) == the codegen'd column path
    out.foreach { case (_, t, n1, _) =>
      val interp = graft.functions.NfcNormalize.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)).toString
      assert(interp == n1)
    }
  }

  test("repetition kernel is bit-identical to the interpreted HOF formulation") {
    import spark.implicits._
    val edge = Seq(
      (1L, ""), (2L, "one"), (3L, "two words"), (4L, "a a"),
      (5L, "a b a b a b"), (6L, "x y z x y z x y"),
      (7L, "  leading and  double  spaces "),
      (8L, "same same same same")).toDF("doc_id", "text")
    for (docs <- Seq(edge, graft.Tables.documents(spark, "/root/testdata/sf0.001"))) {
      val kernel = graft.operators.TextAnalysis.repetition(docs, "doc_id", "text")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val hof = graft.operators.TextAnalysis.repetitionInterpreted(docs, "doc_id", "text")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(kernel == hof)
    }
  }

  test("shingle kernels are bit-identical to the interpreted HOF chains") {
    import spark.implicits._
    import graft.functions._
    val edge = Seq(
      (1L, ""), (2L, "one two"), (3L, "exactly three tokens"),
      (4L, "a b c d e f g h i j k l"),
      (5L, "rep rep rep rep rep"), // duplicate shingles collapse
      (6L, " leading  and trailing "), (7L, "solo")).toDF("doc_id", "text")
    for (docs <- Seq(edge, graft.Tables.documents(spark, "/root/testdata/sf0.001"));
         n <- Seq(2, 3)) {
      val got = docs.select(
        shingles(wsTokens(col("text")), n).as("plain"),
        shinglesDistinct(wsTokens(col("text")), n).as("dist"),
        shingleHashes(wsTokens(col("text")), n).as("hashed"))
        .collect().map(_.toSeq).toSeq
      val want = docs.select(
        wordShingles(col("text"), n).as("plain"),
        array_distinct(wordShingles(col("text"), n)).as("dist"),
        array_distinct(transform(wordShingles(col("text"), n), s => xxhash64(s)))
          .as("hashed"))
        .collect().map(_.toSeq).toSeq
      assert(got == want, s"n=$n")
    }
  }

  test("pq-codes kernel is bit-identical to per-subspace NearestCells") {
    import graft.functions._
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // codebooks from real slices (first 8 vectors' subspaces), so near-tie
    // geometry is realistic; m=4 subspaces of 16 dims, 8 cells each
    val m = 4; val d = 16
    val seed = emb.orderBy("vec_id").limit(8).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val books = (0 until m).toArray.map(j => seed.map(_.slice(j * d, (j + 1) * d)))
    val names = seed.indices.map(i => f"c$i%03d").toArray
    val got = emb.select(col("vec_id"), pqCodes(col("embedding"), books).as("c"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toSeq)).toMap
    val wantCols = (0 until m).map { j =>
      nearestCells(slice(col("embedding"), j * d + 1, d), books(j), names, 1)
        .getItem(0).as(s"c$j")
    }
    val want = emb.select(col("vec_id") +: wantCols: _*)
      .collect()
      .map(r => (r.getLong(0),
        (0 until m).map(j => r.getString(j + 1).drop(1).toInt).toSeq))
      .toMap
    assert(got == want)
  }

  test("pq-codes kernel rejects short vectors instead of coding garbage") {
    import spark.implicits._
    import graft.functions._
    // m=2 subspaces x 2 dims = 4 floats required; feed 3
    val books = Array.fill(2)(Array.fill(2)(Array(0.0, 0.0)))
    val short = Seq(Tuple1(Array(1.0f, 2.0f, 3.0f))).toDF("embedding")
    val ex = intercept[Exception] {
      short.select(pqCodes(col("embedding"), books)).collect()
    }
    val messages = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).take(8)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(messages.contains("pq_codes") && messages.contains("need 4"), messages)
  }

  test("strided-window kernel is bit-identical to the interpreted chains") {
    import spark.implicits._
    import graft.functions._
    val edge = Seq(
      (1L, ""), (2L, "one"), (3L, "one two three"),
      (4L, "a b c d e f g"), (5L, "a b c d e f g h"),
      (6L, " leading  and trailing ")).toDF("doc_id", "text")
    val words = wsTokens(col("text"))
    for (docs <- Seq(edge, graft.Tables.documents(spark, "/root/testdata/sf0.001"));
         (w, s) <- Seq((3, 3), (4, 2), (8, 8), (2, 1))) {
      val got = docs.select(
        stridedWindows(words, w, s, cover = true).as("pass"),
        stridedWindows(words, w, s, cover = false).as("chunk"))
        .collect().map(_.toSeq).toSeq
      val want = docs.select(
        transform(sequence(lit(1), greatest(size(words), lit(1)), lit(s)),
          i => concat_ws(" ", slice(words, i, lit(w)))).as("pass"),
        transform(sequence(lit(1), greatest(size(words) - w + 1, lit(1)), lit(s)),
          i => concat_ws(" ", slice(words, i, lit(w)))).as("chunk"))
        .collect().map(_.toSeq).toSeq
      assert(got == want, s"w=$w stride=$s")
    }
  }

  test("Misra-Gries heavy hitters equal the naive groupBy threshold exactly") {
    // zipfian-ish stream: small hot vocabulary + long tail of rare tokens
    val tokGen = Gen.listOfN(400, Gen.frequency(
      (6, Gen.oneOf("hot1", "hot2", "hot3")),
      (4, Gen.choose(0, 5000).map(i => s"rare$i"))))
    forAll(tokGen, n = 4) { toks =>
      val docs = toks.grouped(20).map(_.mkString(" ")).toSeq.toDF("text")
        .repartition(5) // several partitions => per-partition sketches must merge
      for (k <- Seq(5, 20)) {
        val got = graft.operators.TextAnalysis.heavyHitters(docs, "text", k)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        val counts = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val want = counts.filter(_._2 > toks.size.toDouble / k).toSeq
          .sortBy { case (t, n) => (-n, t) }
        assert(got == want, s"k=$k")
      }
    }
  }

  test("heavyHitters tokenizes the corpus exactly twice (candidates+total, recount)") {
    // at 100 TB tokenization dominates the query cost: the total-count
    // fold must not reintroduce a third corpus pass
    val acc = spark.sparkContext.longAccumulator("doc-scans")
    val base = (0 until 60).map(i => s"tok$i a b c a b a").toDF("text")
    val counted = base.as[String]
      .mapPartitions(it => it.map { t => acc.add(1); t })
      .toDF("text")
    val got = graft.operators.TextAnalysis.heavyHitters(counted, "text", 4)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a", 180L), ("b", 120L))) // 420 tokens, threshold 105
    assert(acc.value == 120L, s"expected 60 docs x 2 passes, got ${acc.value}")
  }

  test("checkpoint stat reset bounds iterative plan statistics (BigInt blowup guard)") {
    import org.apache.spark.sql.graft.Bridge
    val a = spark.range(1000).toDF("id")
    val b = a.withColumnRenamed("id", "id2")
    // the size-only estimator multiplies join inputs: three self-joins
    // push the estimate's bit-length well past any real size
    def round(df: org.apache.spark.sql.DataFrame) = df
      .join(b, col("id") === col("id2")).select(col("id"))
      .join(a.withColumnRenamed("id", "id3"), col("id") === col("id3"))
      .select(col("id"))
    def bits(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    // WITHOUT the reset the carried estimate grows every iteration
    // (multiplicative); WITH it the bit-length stays flat
    var plain = a
    var reset = a
    var plainBits = Vector.empty[Int]
    var resetBits = Vector.empty[Int]
    for (_ <- 1 to 4) {
      plain = round(plain).localCheckpoint(true)
      reset = Bridge.resetStats(round(reset).localCheckpoint(true))
      plainBits :+= bits(plain)
      resetBits :+= bits(reset)
    }
    assert(plainBits.last > plainBits.head,
      s"checkpoint no longer inherits stats ($plainBits) — revisit resetStats")
    assert(resetBits.distinct.size == 1 && resetBits.head <= 64,
      s"resetStats no longer bounds stats ($resetBits)")
    // same data, same persisted RDD (unpersist through the reset frame works)
    assert(reset.orderBy("id").collect().toSeq == plain.orderBy("id").collect().toSeq)
    val before = spark.sparkContext.getPersistentRDDs.size
    Bridge.unpersistCheckpoints(reset)
    assert(spark.sparkContext.getPersistentRDDs.size == before - 1)
  }

  test("clusterPairs equals a driver union-find on random pair graphs") {
    val pairGen = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 25L), Gen.choose(0L, 25L)))
      .map(_.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.distinct)
    forAll(pairGen, n = 4) { pairs =>
      whenever(pairs.nonEmpty) {
        // repartition: component labels must not depend on data placement
        val got = Dedup.clusterPairs(pairs.toDF("d1", "d2").repartition(7))
          .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        // reference: driver union-find keeping the min id as each root
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        pairs.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted.map(i => (i, find(i)))
        assert(got == want)
      }
    }
  }

  test("clusterPairs converges on a long chain (pointer jumping, not diameter rounds)") {
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("d1", "d2")
    val got = Dedup.clusterPairs(chain).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (0L to 40L).map(i => (i, 0L)))
  }

  test("clusterPairs retains exactly one checkpoint (the result) and releases on demand") {
    // the iterative rounds must unpersist superseded localCheckpoints:
    // without it, rounds x |labels| of storage accumulates for the session
    // (the 100 TB scale-killer) — so after the operator only the FINAL
    // label set may remain, and releaseClusters must free that too
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.keySet
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("d1", "d2")
    val clusters = Dedup.clusterPairs(chain)
    assert(clusters.count() == 41)
    val retained = sc.getPersistentRDDs.keySet -- baseline
    assert(retained.size == 1,
      s"expected only the final label checkpoint to survive, got ${retained.size}")
    Dedup.releaseClusters(clusters)
    assert((sc.getPersistentRDDs.keySet -- baseline).isEmpty)
  }

  test("clusterPairs evaluates its input pair plan once") {
    // both edge orientations must come from ONE pass: a union of two
    // projections re-runs the whole upstream pair plan per side, which
    // for the n-gram family is the self-join, rollup and size joins
    val rows = spark.sparkContext.longAccumulator("pairRows")
    val tick = udf { (d: Long) => rows.add(1); d }.asNondeterministic()
    val base = (0L until 30L).map(i => (i, (i * 7 + 3) % 31)).filter(p => p._1 != p._2)
    val pairs = base.toDF("d1", "d2").select(tick(col("d1")).as("d1"), col("d2"))
    val clusters = Dedup.clusterPairs(pairs)
    assert(rows.value == base.size.toLong)
    Dedup.releaseClusters(clusters)
  }

  test("bucketized interval join equals the naive range join exactly") {
    import java.sql.Timestamp
    val ptsGen = Gen.listOfN(40, Gen.choose(0L, 100_000L))
    val ivGen = Gen.listOfN(15, for {
      s <- Gen.choose(0L, 100_000L)
      len <- Gen.choose(-5_000L, 40_000L) // include empty/negative intervals
    } yield (s, s + len))
    forAll(Gen.zip(ptsGen, ivGen), n = 5) { case (ptMs, ivs) =>
      val points = ptMs.zipWithIndex
        .map { case (ms, i) => (i.toLong, new Timestamp(ms)) }
        .toDF("p_id", "ts")
      val intervals = ivs.zipWithIndex
        .map { case ((s, e), i) => (i.toLong, new Timestamp(s), new Timestamp(e)) }
        .toDF("iv_id", "start_ts", "end_ts")
      // bin width deliberately NOT aligned to interval lengths
      val bucketized = graft.operators.Temporal
        .intervalJoin(points, intervals, "ts", "start_ts", "end_ts", binWidthUs = 7_000_000L)
        .select("p_id", "iv_id").orderBy("p_id", "iv_id").collect().toSeq
      val naive = points.join(intervals,
          col("ts") >= col("start_ts") && col("ts") < col("end_ts"))
        .select("p_id", "iv_id").orderBy("p_id", "iv_id").collect().toSeq
      assert(bucketized == naive)
      // keyed variant (the range_join query's path): key both sides mod 3
      val pk = points.withColumn("k", col("p_id") % 3)
      val ik = intervals.withColumn("k", col("iv_id") % 3)
      val bucketizedK = graft.operators.Temporal
        .intervalJoin(pk, ik, "ts", "start_ts", "end_ts",
          binWidthUs = 7_000_000L, keys = Seq("k"))
        .select("p_id", "iv_id").orderBy("p_id", "iv_id").collect().toSeq
      val naiveK = pk.join(ik.withColumnRenamed("k", "k2"),
          col("k") === col("k2") &&
            col("ts") >= col("start_ts") && col("ts") < col("end_ts"))
        .select("p_id", "iv_id").orderBy("p_id", "iv_id").collect().toSeq
      assert(bucketizedK == naiveK)
    }
  }

  test("interval-overlap join equals the naive cross form; responsibility bin needs no dedup") {
    import java.sql.Timestamp
    val ivGen = Gen.listOfN(15, for {
      s <- Gen.choose(0L, 100_000L)
      len <- Gen.choose(-5_000L, 40_000L) // include empty/negative and multi-bin spans
    } yield (s, s + len))
    forAll(Gen.zip(ivGen, ivGen), n = 5) { case (lvs, rvs) =>
      def frame(rows: List[(Long, Long)], id: String) = rows.zipWithIndex
        .map { case ((s, e), i) =>
          (i.toLong, new Timestamp(s), new Timestamp(e)) }
        .toDF(id, s"${id}_s", s"${id}_e")
      val l = frame(lvs, "l")
      val r = frame(rvs, "r")
      // bin width (7 s) deliberately unaligned and smaller than max span
      // (40 s): overlapping pairs meet in several bins, and equality
      // proves the responsibility bin emits each exactly ONCE
      val bucketized = graft.operators.Temporal
        .intervalOverlapJoin(l, r, "l_s", "l_e", "r_s", "r_e",
          binWidthUs = 7_000_000L)
        .select("l", "r").orderBy("l", "r").collect().toSeq
      val naive = l.crossJoin(r)
        .filter(col("l_s") < col("r_e") && col("r_s") < col("l_e") &&
          col("l_e") > col("l_s") && col("r_e") > col("r_s"))
        .select("l", "r").orderBy("l", "r").collect().toSeq
      assert(bucketized == naive)
      assert(bucketized.distinct == bucketized) // no double emission
    }
    // exact touch is NOT an overlap under half-open semantics
    val a = Seq((1L, new Timestamp(0L), new Timestamp(1000L))).toDF("l", "l_s", "l_e")
    val b = Seq((1L, new Timestamp(1000L), new Timestamp(2000L))).toDF("r", "r_s", "r_e")
    assert(graft.operators.Temporal
      .intervalOverlapJoin(a, b, "l_s", "l_e", "r_s", "r_e", 7_000_000L)
      .count() == 0L)
  }

  test("dedupKeepFirst is insensitive to input partitioning and order") {
    forAll(rowsGen) { rows =>
      whenever(rows.nonEmpty) {
        val a = rows.toDF("k", "ord", "v").repartition(7)
          .dedupKeepFirst(Seq("k"), Seq(col("ord"), col("v")))
          .orderBy("k").collect().toSeq
        val b = scala.util.Random.shuffle(rows).toDF("k", "ord", "v").repartition(2)
          .dedupKeepFirst(Seq("k"), Seq(col("ord"), col("v")))
          .orderBy("k").collect().toSeq
        assert(a == b)
      }
    }
  }

  test("upsertDoUpdate is idempotent: re-applying incoming changes nothing") {
    forAll(rowsGen) { rows =>
      whenever(rows.nonEmpty) {
        val (ex, in) = rows.splitAt(rows.size / 2)
        whenever(ex.nonEmpty && in.nonEmpty) {
          val existing = ex.toDF("k", "ord", "v")
            .dedupKeepFirst(Seq("k"), Seq(col("ord").desc, col("v").desc))
          val incoming = in.toDF("k", "ord", "v")
          val once = Star.upsertDoUpdate(existing, incoming, Seq("k"),
            Seq(col("ord"), col("v")))
          val twice = Star.upsertDoUpdate(once, incoming, Seq("k"),
            Seq(col("ord"), col("v")))
          assert(once.orderBy("k").collect().toSeq == twice.orderBy("k").collect().toSeq)
        }
      }
    }
  }

  test("salted join equals plain join on random data") {
    forAll(rowsGen) { rows =>
      whenever(rows.nonEmpty) {
        val fact = rows.toDF("k", "ord", "v")
        val dim = rows.map(_._1).distinct.map(k => (k, s"d$k")).toDF("k", "attr")
        val salted = Skew.saltedJoin(fact, dim, Seq("k"), Seq(col("ord"), col("v")), 3)
          .orderBy("k", "ord", "v").collect().toSeq
        val plain = fact.join(dim, "k").orderBy("k", "ord", "v").collect().toSeq
        assert(salted == plain)
      }
    }
  }

  val docsGen: Gen[List[(Long, String)]] = {
    val word = Gen.oneOf("spark", "scan", "merge", "sort", "hash", "join", "row")
    Gen.listOfN(12, Gen.listOfN(12, word).map(_.mkString(" ")))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
  }

  test("minhash LSH pairs are a subset of exact jaccard pairs at the same tau") {
    forAll(docsGen) { docs =>
      val df = docs.toDF("doc_id", "text")
      val exact = Dedup.ngramJaccardPairs(df, "doc_id", "text", tau = 0.5)
        .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val approx = Dedup.minhashLshPairs(df, "doc_id", "text", tau = 0.5)
        .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // the verify stage uses the same exact jaccard, so candidates can
      // only MISS pairs (banding), never invent them
      assert(approx.subsetOf(exact))
    }
  }

  test("prefix-filtered jaccard join equals the naive self-join exactly") {
    forAll(docsGen, n = 6) { docs =>
      val df = docs.toDF("doc_id", "text")
      val naive = Dedup.ngramJaccardPairs(df, "doc_id", "text", tau = 0.5)
        .select("d1", "d2", "common").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val prefix = Dedup.ngramJaccardPairsPrefix(df, "doc_id", "text", tau = 0.5)
        .select("d1", "d2", "common").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(prefix == naive)
    }
  }

  test("exact dedup groups partition the corpus") {
    forAll(docsGen) { docs =>
      val df = docs.toDF("doc_id", "text")
      val groups = Dedup.exact(df, "doc_id", "text")
      assert(groups.agg(sum("group_size")).head().getLong(0) == docs.size)
      assert(groups.select("canonical_id").distinct().count() == groups.count())
    }
  }

  test("incremental exact dedup classifies the batch like the set-based reference") {
    val rowsG = Gen.listOfN(80, for {
      id <- Gen.choose(0L, 999L)
      t <- Gen.choose(0, 9).map(n => s"t$n") // small alphabet -> collisions
    } yield (id, t))
    forAll(Gen.zip(rowsG, rowsG), n = 3) { case (idxRows, batchRaw) =>
      val batchRows = batchRaw.map { case (id, t) => (id + 10000L, t) } // unique ids
        .distinctBy(_._1)
      val idx = idxRows.toDF("id", "h")
      val batch = batchRows.toDF("id", "h")
      val got = Dedup.incrementalExact(idx, batch, "h", Seq("id"))
        .select("id", "status").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val idxSet = idxRows.map(_._2).toSet
      val firstOf = batchRows.groupBy(_._2).map { case (h, rs) => h -> rs.map(_._1).min }
      val expected = batchRows.map { case (id, h) =>
        id -> (if (idxSet(h)) "dup_of_index"
               else if (firstOf(h) != id) "dup_in_batch"
               else "kept")
      }.toMap
      assert(got == expected)
    }
  }

  /** Driver-side reference interleave for the z-order expression. */
  private def zref(xs: Seq[Long], bits: Int): Long = {
    val k = xs.size
    val mask = (1L << bits) - 1L
    var z = 0L
    for (i <- 0 until bits; j <- 0 until k)
      z |= (((xs(j) & mask) >> i) & 1L) << (i * k + (k - 1 - j))
    z
  }

  test("zvalue equals the reference interleave; arbitrary inputs wrap via the mask") {
    val gen = Gen.listOfN(60,
      Gen.zip(Gen.choose(Long.MinValue, Long.MaxValue),
        Gen.choose(Long.MinValue, Long.MaxValue)))
    forAll(gen, n = 3) { rows =>
      val df = rows.toDF("a", "b")
      df.select(col("a"), col("b"),
          Layout.zvalue(Seq(col("a"), col("b")), bits = 20).as("z"))
        .collect()
        .foreach { r =>
          assert(r.getLong(2) == zref(Seq(r.getLong(0), r.getLong(1)), 20),
            s"(${r.getLong(0)}, ${r.getLong(1)})")
        }
      // k=3 at the 63-bit budget boundary (21 bits x 3 columns)
      val df3 = rows.map { case (a, b) => (a, b, a ^ b) }.toDF("a", "b", "c")
      df3.select(col("a"), col("b"), col("c"),
          Layout.zvalue(Seq(col("a"), col("b"), col("c")), bits = 21).as("z"))
        .collect()
        .foreach { r =>
          assert(r.getLong(3) ==
            zref(Seq(r.getLong(0), r.getLong(1), r.getLong(2)), 21))
        }
    }
  }

  test("hilbertLayout equals the rotate-loop reference; bijective; adjacent where Morton is not") {
    // full 16x16 grid at bits=4: table-driven automaton == classic loop,
    // the index is a bijection, and CONSECUTIVE indices are always grid
    // neighbors (the Hilbert property; pinned FALSE for zvalue below —
    // that seam is the reason this layout exists)
    val grid = for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)
    val got = Layout.hilbertLayout(grid.toDF("x", "y"), "x", "y", bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    grid.foreach { case (x, y) =>
      assert(got((x, y)) == Layout.hilbertRef(x, y, 4), s"($x, $y)")
    }
    assert(got.values.toSet == (0L until 256L).toSet) // bijection
    val byD = got.toSeq.sortBy(_._2).map(_._1)
    byD.sliding(2).foreach { case Seq((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"hilbert jump: ($x1,$y1) -> ($x2,$y2)")
    }
    // Morton on the same grid has seams (consecutive z-values that are
    // NOT neighbors) — the documented contrast
    val byZ = grid.sortBy { case (x, y) => zref(Seq(x, y), 4) }
    assert(byZ.sliding(2).exists { case Seq((x1, y1), (x2, y2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2) > 1
    })
    // arbitrary (incl. negative) inputs wrap via the mask, matching the
    // reference on the masked values — the zvalue wrap contract
    val gen = Gen.listOfN(40,
      Gen.zip(Gen.choose(Long.MinValue, Long.MaxValue),
        Gen.choose(Long.MinValue, Long.MaxValue)))
    forAll(gen, n = 2) { rows =>
      val mask = (1L << 12) - 1L
      Layout.hilbertLayout(rows.toDF("x", "y"), "x", "y", bits = 12)
        .collect().foreach { r =>
          assert(r.getLong(2) ==
            Layout.hilbertRef(r.getLong(0) & mask, r.getLong(1) & mask, 12))
        }
    }
  }

  test("hilbert3Layout: == reference; bijective, adjacent, nested on the 16^3 grid") {
    // full 16x16x16 grid at bits=4: generated automaton == rule loop,
    // bijection over 4096 cells, consecutive indices are grid neighbors
    // (the property that DEFINES a Hilbert-family curve — any rule
    // transcription error breaks it within a few steps), and the index
    // NESTS (h >> 3 at bits-1 of halved coords — the recursive
    // refinement that makes coarse prefixes meaningful for file stats)
    val grid = for (x <- 0L until 16L; y <- 0L until 16L; z <- 0L until 16L)
      yield (x, y, z)
    val got = Layout
      .hilbert3Layout(grid.toDF("x", "y", "z"), "x", "y", "z", bits = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    grid.foreach { case (x, y, z) =>
      assert(got((x, y, z)) == Layout.hilbert3Ref(x, y, z, 4), s"($x,$y,$z)")
    }
    assert(got.values.toSet == (0L until 4096L).toSet) // bijection
    val byD = got.toSeq.sortBy(_._2).map(_._1)
    byD.sliding(2).foreach { case Seq((x1, y1, z1), (x2, y2, z2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) + math.abs(z1 - z2) == 1,
        s"hilbert3 jump: ($x1,$y1,$z1) -> ($x2,$y2,$z2)")
    }
    grid.foreach { case (x, y, z) =>
      assert(Layout.hilbert3Ref(x, y, z, 4) >> 3 ==
        Layout.hilbert3Ref(x >> 1, y >> 1, z >> 1, 3), s"nesting ($x,$y,$z)")
    }
    // 3-D Morton on the same grid has seams — the documented contrast
    val byZ = grid.sortBy { case (x, y, z) => zref(Seq(x, y, z), 4) }
    assert(byZ.sliding(2).exists { case Seq((x1, y1, z1), (x2, y2, z2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2) + math.abs(z1 - z2) > 1
    })
    // arbitrary (incl. negative) inputs wrap via the mask — the zvalue
    // wrap contract, against the reference on masked values
    val gen = Gen.listOfN(30, Gen.zip(
      Gen.choose(Long.MinValue, Long.MaxValue),
      Gen.choose(Long.MinValue, Long.MaxValue),
      Gen.choose(Long.MinValue, Long.MaxValue)))
    forAll(gen, n = 2) { rows =>
      val mask = (1L << 10) - 1L
      Layout.hilbert3Layout(rows.toDF("x", "y", "z"), "x", "y", "z", bits = 10)
        .collect().foreach { r =>
          assert(r.getLong(3) == Layout.hilbert3Ref(
            r.getLong(0) & mask, r.getLong(1) & mask, r.getLong(2) & mask, 10))
        }
    }
  }

  test("subword kernel matches the straight-line reference on random vocab/words") {
    import graft.functions.{subwordTokens, SubwordTokens}
    // small alphabet so vocab pieces actually hit; single chars sometimes
    // missing from the vocab so the unk fallback is exercised
    val piece = Gen.choose(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val word = Gen.choose(0, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString))
    val gen = Gen.zip(Gen.listOfN(12, piece), Gen.listOfN(25, word))
    forAll(gen, n = 6) { case (vocab, words) =>
      val df = Seq(Tuple1(words)).toDF("words")
        .select(subwordTokens(col("words"), vocab).as("st"))
        .select(col("st.pieces"), col("st.n_unk"))
      val row = df.collect().head
      val got = (row.getSeq[String](0), row.getLong(1))
      assert(got == SubwordTokens.reference(words, vocab))
    }
  }

  test("subword greedy longest-match semantics (hand-verified cases)") {
    import graft.functions.{subwordTokens}
    val vocab = Seq("the", "t", "he", "ab", "abc", "c")
    val cases = Seq(
      (Seq("the"), Seq("the"), 0L),            // whole word beats prefix "t"
      (Seq("theab"), Seq("the", "ab"), 0L),    // greedy continues after match
      (Seq("abcabd"), Seq("abc", "ab", "d"), 1L), // maxmatch then fallback
      (Seq("xyz"), Seq("x", "y", "z"), 3L),    // all-unk word
      (Seq("", "c"), Seq("c"), 0L),            // empty words skipped
      (Seq.empty[String], Seq.empty[String], 0L))
    for ((words, pieces, unk) <- cases) {
      val row = Seq(Tuple1(words)).toDF("words")
        .select(subwordTokens(col("words"), vocab).as("st"))
        .select(col("st.pieces"), col("st.n_unk")).collect().head
      assert(row.getSeq[String](0) == pieces, s"words=$words")
      assert(row.getLong(1) == unk, s"words=$words")
    }
  }

  test("zvalue is monotone under coordinate dominance (the locality guarantee)") {
    // if a1 <= a2 and b1 <= b2 (in-domain), then z(a1,b1) <= z(a2,b2):
    // bit-interleaving never inverts the dominance order, which is what
    // makes per-file z-ranges translate into per-file coordinate ranges
    val gen = Gen.listOfN(40, Gen.zip(
      Gen.choose(0L, 1023L), Gen.choose(0L, 1023L),
      Gen.choose(0L, 1023L), Gen.choose(0L, 1023L)))
    forAll(gen, n = 3) { quads =>
      val pairs = quads.map { case (x1, x2, y1, y2) =>
        (math.min(x1, x2), math.min(y1, y2), math.max(x1, x2), math.max(y1, y2))
      }
      val df = pairs.toDF("alo", "blo", "ahi", "bhi")
      val viol = df.filter(
        Layout.zvalue(Seq(col("alo"), col("blo")), 10) >
          Layout.zvalue(Seq(col("ahi"), col("bhi")), 10)).count()
      assert(viol == 0L)
    }
  }

  test("operators are total on EMPTY inputs (empty days/partitions are routine)") {
    import graft.operators.{Curation, Similarity, TextAnalysis}
    val noDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    val noEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")

    assert(Dedup.exact(noDocs, "doc_id", "text").count() == 0)
    assert(Dedup.ngramJaccardPairs(noDocs, "doc_id", "text", tau = 0.5).count() == 0)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val noClusters = Dedup.clusterPairs(Seq.empty[(Long, Long)].toDF("d1", "d2"))
    assert(noClusters.count() == 0)
    Dedup.releaseClusters(noClusters)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- persisted).isEmpty)
    assert(TextAnalysis.collocations(noDocs, "text").count() == 0)
    assert(TextAnalysis.heavyHitters(noDocs, "text", k = 5).count() == 0)
    assert(Curation.lengthBuckets(noDocs, "text").count() == 0)
    assert(Curation.packSequencesBfd(noDocs.withColumn("n", lit(1L)),
      "source", Seq("doc_id"), "n", budget = 8L).count() == 0)
    assert(graft.sources.Staging.snapshotDiff(
      noDocs, noDocs, "doc_id", Seq("text")).count() == 0)
    assert(Similarity.sq8Encode(noEmb, "vec_id", "embedding").count() == 0)
    assert(Similarity.embeddingOutliers(noEmb, "vec_id", "embedding", k = 3).count() == 0)
    // scd2: empty batch preserves the dim; empty dim takes the whole batch
    val dim = Seq((1L, "A")).toDF("k", "seg")
      .withColumn("valid_from", to_date(lit("2020-01-01")))
      .withColumn("valid_to", lit(null).cast("date"))
    val noChanges = Seq.empty[(Long, String)].toDF("k", "seg")
      .withColumn("ts", lit(null).cast("date"))
    assert(Star.scd2Apply(dim, noChanges, "k", Seq("seg"), "ts").count() == 1)
    assert(Star.scd2Apply(dim.limit(0),
      Seq((9L, "N")).toDF("k", "seg")
        .withColumn("ts", to_date(lit("2021-01-01"))),
      "k", Seq("seg"), "ts").count() == 1)
    // session-3 additions
    assert(graft.operators.Frontier.skyline2D(
      Seq.empty[(Long, Int, Double)].toDF("id", "big", "small"),
      "big", "small").count() == 0)
    assert(graft.operators.Graph.pageRankInt(
      Seq.empty[(Long, Long)].toDF("src", "dst"), "src", "dst",
      iters = 3).count() == 0)
    assert(graft.operators.Temporal.rollingDistinct(
      Seq.empty[(java.sql.Date, Long)].toDF("d", "u"),
      col("d"), col("u"), windowDays = 7).count() == 0)
    assert(Curation.weightedSampleK(noDocs, "doc_id", "source",
      Map("a" -> 2L), defaultWeight = 1L, k = 5).count() == 0)
    assert(TextAnalysis.hashedLinearScore(noDocs, "doc_id", "text",
      Seq(1L, -1L)).count() == 0)
    assert(TextAnalysis.lzComplexityStats(noDocs, "doc_id", "text").count() == 0)
  }

  test("LZ78 kernel equals a straight-line byte-level parse on random strings") {
    // independent reference: dictionary keyed by the phrase STRING
    def ref(text: String): (Long, Long) = {
      val bytes = text.getBytes("UTF-8")
      val dict = scala.collection.mutable.Set[Seq[Byte]]()
      var phrases = 0L
      var cur = Vector.empty[Byte]
      bytes.foreach { b =>
        cur = cur :+ b
        if (!dict.contains(cur)) { phrases += 1; dict += cur; cur = Vector.empty }
      }
      if (cur.nonEmpty) phrases += 1
      (bytes.length.toLong, phrases)
    }
    val textGen: Gen[String] = for {
      alpha <- Gen.choose(2, 6) // small alphabets force deep dictionaries
      cs <- Gen.listOfN(200, Gen.choose('a', ('a' + alpha - 1).toChar))
    } yield cs.mkString
    forAll(textGen, n = 10) { text =>
      val got = graft.operators.TextAnalysis.lzComplexityStats(
          Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text")
        .head()
      assert((got.getLong(1), got.getLong(2)) == ref(text), s"text=$text")
    }
    // fixtures: pure repetition parses to ~sqrt(n) phrases; all-distinct
    // bytes parse to n phrases (ratio 1.0); empty is null-ratio
    val fx = graft.operators.TextAnalysis.lzComplexityStats(
        Seq((1L, "aaaaaaaaaa"), (2L, "abcd"), (3L, "")).toDF("doc_id", "text"),
        "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(fx(0).getLong(2) == 4L)                 // a|aa|aaa|aaaa
    assert(fx(1).getLong(2) == 4L && fx(1).getDouble(3) == 1.0)
    assert(fx(2).getLong(1) == 0L && fx(2).getLong(2) == 0L && fx(2).isNullAt(3))
    // the quality-signal direction: template spam below natural prose
    val spam = ("lorem ipsum " * 40).trim
    val prose = "the five boxing wizards jump quickly over a lazy dog while " +
      "seventeen quiet zebras graze beyond the old stone bridge at dawn"
    val sig = graft.operators.TextAnalysis.lzComplexityStats(
        Seq((1L, spam), (2L, prose)).toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(sig(0).getDouble(3) < sig(1).getDouble(3))
  }

  test("integer pagerank equals a straight-line driver loop on random graphs") {
    val graphGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(40, for {
        a <- Gen.choose(0L, 9L)
        b <- Gen.choose(0L, 9L)
      } yield (a, b)).map(_.filter { case (a, b) => a != b }.distinct)
    forAll(graphGen, n = 6) { edges =>
      whenever(edges.nonEmpty) {
        val df = edges.toDF("src", "dst")
        val got = graft.operators.Graph
          .pageRankInt(df, "src", "dst", iters = 4, scale = 1000L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // reference: same fixed-point recurrence, plain Scala
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
        val base = 1000L * 15L / 100L
        var pr = nodes.map(_ -> 1000L).toMap
        for (_ <- 1 to 4) {
          val shares = pr.collect {
            case (u, r) if deg.contains(u) => u -> r / deg(u)
          }
          pr = nodes.map { v =>
            val s = edges.collect { case (u, `v`) => shares(u) }.sum
            v -> (base + 85L * s / 100L)
          }.toMap
        }
        assert(got == pr, s"edges=$edges")
        // total mass never exceeds the initial N*scale (floor only loses)
        assert(got.values.sum <= nodes.size * 1000L)
      }
    }
  }

  test("negative sampling never returns the anchor and fills every slot") {
    // the registered query's construction over a synthetic corpus
    import graft.operators.Ranking
    val docs = spark.range(0, 200).select(col("id").as("doc_id"))
    val (ranked, n) = Ranking.withGlobalRank(docs, Seq(col("doc_id")), "idx")
    val anchors = ranked.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("a"), col("idx").as("ai"))
    val cand = anchors
      .select(col("a"), col("ai"), explode(sequence(lit(1), lit(4))).as("slot"))
      .withColumn("draw",
        conv(substring(md5(concat(col("a").cast("string"), lit(":"),
          col("slot").cast("string"))), 1, 8), 16, 10).cast("long") % n + 1L)
      .withColumn("idx", when(col("draw") === col("ai"), col("draw") % n + 1L)
        .otherwise(col("draw")))
    val out = cand.join(ranked.select(col("idx"), col("doc_id").as("neg")), Seq("idx"))
      .select("a", "slot", "neg")
    val rows = out.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.length == 20 * 4) // every (anchor, slot) resolved exactly once
    assert(rows.forall { case (a, _, neg) => a != neg }, "anchor sampled as its own negative")
    assert(rows.forall { case (_, _, neg) => neg >= 0 && neg < 200 })
    org.apache.spark.sql.graft.Bridge.unpersistCheckpoints(ranked)
  }

  test("distributed global rank and equi-depth bins equal the single-task window forms") {
    import graft.operators.Ranking
    val rowsGen: Gen[List[(Long, Int)]] = for {
      n <- Gen.choose(5, 97) // sizes straddling n % k boundaries
      vs <- Gen.listOfN(n, Gen.choose(0, 20))
    } yield vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    forAll(rowsGen, n = 8) { rows =>
      val df = rows.toDF("id", "v").repartition(5)
      val (ranked, total) = Ranking.withGlobalRank(df,
        Seq(col("v"), col("id")), "r")
      assert(total == rows.size)
      val got = ranked.orderBy("r").collect().map(r => (r.getLong(0), r.getLong(2)))
      val expect = rows.sortBy { case (id, v) => (v, id) }
        .zipWithIndex.map { case ((id, _), i) => (id, i + 1L) }
      assert(got.toSeq == expect, s"rows=$rows")
      org.apache.spark.sql.graft.Bridge.unpersistCheckpoints(ranked)
      // bins match Spark's own (single-task) ntile window exactly
      val bins = Ranking.equiDepthBins(df, "v", "id", k = 7)
        .select("id", "bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"), col("id"))
      val ref = rows.toDF("id", "v")
        .withColumn("b", ntile(7).over(w).cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(bins == ref, s"rows=$rows")
    }
    // degenerate: fewer rows than buckets -> one bucket per row
    val tiny = Seq((1L, 9), (2L, 3)).toDF("id", "v")
    val b = Ranking.equiDepthBins(tiny, "v", "id", k = 10)
      .select("id", "bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b == Map(2L -> 1L, 1L -> 2L))
  }

  test("rank/prefix-sum offset dissemination is flat — no partitions-deep CASE ladder") {
    // the round-10 verdict seam: at production shuffle.partitions (2000+)
    // a chained when(__pid === k, off) ladder is an O(partitions)-deep
    // CASE per row and risks the JIT 8 KB huge-method cliff; the flat
    // form is one array literal + element_at. Assert NO CaseWhen anywhere
    // in either frame's plan (the offset is the only conditional these
    // builders could emit).
    import graft.operators.Ranking
    import org.apache.spark.sql.catalyst.expressions.CaseWhen
    def caseDepth(df: org.apache.spark.sql.DataFrame): Int = {
      var n = 0
      df.queryExecution.analyzed.foreach { p =>
        p.expressions.foreach(_.foreach {
          case c: CaseWhen => n = math.max(n, c.branches.size)
          case _ => ()
        })
      }
      n
    }
    val df = spark.range(0, 1000)
      .select(col("id"), (col("id") % 13).as("v"))
      .repartition(8)
    val (ranked, total) = Ranking.withGlobalRank(df, Seq(col("v"), col("id")), "r")
    assert(total == 1000L)
    assert(caseDepth(ranked) == 0, "rank frame carries a CASE ladder")
    val sums = Ranking.withPrefixSums(
      df.withColumn("one", lit(1L)), Seq(col("v"), col("id")), Seq("one"))
    assert(caseDepth(sums) == 0, "prefix-sum frame carries a CASE ladder")
    // and the flat form still reconstructs the exact global prefix sum
    val got = sums.orderBy(col("v"), col("id"))
      .select("one_cum").collect().map(_.getLong(0)).toSeq
    assert(got == (1L to 1000L), "prefix sums wrong under flat offsets")
    org.apache.spark.sql.graft.Bridge.unpersistCheckpoints(ranked)
    org.apache.spark.sql.graft.Bridge.unpersistCheckpoints(sums)
  }

  test("bucketed id-gap report equals the flat scan on random sparse key sets") {
    import graft.operators.Quality
    val keysGen: Gen[List[Long]] =
      Gen.listOfN(60, Gen.choose(0L, 120L)).map(_.distinct)
    forAll(keysGen, n = 8) { keys =>
      whenever(keys.size >= 2) {
        // tiny bucketSpan forces gaps across bucket boundaries — both
        // legs of the bucketed formulation fire
        val got = Quality.idGaps(keys.toDF("k"), "k", step = 1L, bucketSpan = 10L)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val s = keys.sorted
        val expect = s.zip(s.tail).collect {
          case (a, b) if b - a > 1 => (a + 1, b - 1, b - a - 1)
        }.toSet
        assert(got == expect, s"keys=$s")
      }
    }
    // dense and singleton sequences report nothing; step respects strides
    assert(Quality.idGaps((0L to 20L).toDF("k"), "k").count() == 0)
    assert(Quality.idGaps(Seq(5L).toDF("k"), "k").count() == 0)
    val strided = Quality.idGaps(Seq(0L, 5L, 20L).toDF("k"), "k", step = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(strided == Seq((10L, 15L, 2L))) // 10 and 15 missing on the 5-grid
  }

  test("sketch rolling distinct tracks the exact window counts and is layout-invariant") {
    import graft.operators.Temporal
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val exact = Temporal.rollingDistinct(ev, to_date(col("ts")), col("user_id"), 7)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val approx = Temporal.rollingDistinctApprox(ev, to_date(col("ts")), col("user_id"), 7)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (day, n) =>
      val e = approx(day)
      assert(math.abs(e.toDouble - n) <= math.max(2.0, 0.05 * n),
        s"day=$day exact=$n est=$e")
    }
    val shuffled = Temporal.rollingDistinctApprox(ev.repartition(7),
        to_date(col("ts")), col("user_id"), 7)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(shuffled == approx) // hash-based sketches: no layout dependence
  }

  test("table profile counts rows/nulls/distinct and numeric bounds exactly") {
    import graft.operators.Quality
    val df = Seq(
      (Some(1L), Some(2.5), Some("a")),
      (Some(1L), None, Some("b")),
      (None, Some(7.5), Some("a"))
    ).toDF("k", "v", "s")
    val out = Quality.tableProfile(df, Seq("k", "v", "s"))
      .orderBy("col_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    assert(out.toSeq == Seq(
      ("k", 3L, 1L, 1L, Some(1.0), Some(1.0)),
      ("s", 3L, 0L, 2L, None, None),
      ("v", 3L, 1L, 2L, Some(2.5), Some(7.5))))
    intercept[IllegalArgumentException] {
      Quality.tableProfile(df, Seq.empty)
    }
  }

  test("freshness lags are exact truncated minutes against the fixed reference") {
    import graft.operators.Quality
    val ev = Seq(
      ("a", "2024-01-01 00:00:00"), ("a", "2024-01-01 11:58:59"),
      ("b", "2024-01-01 06:00:00")
    ).toDF("g", "ts").withColumn("ts", to_timestamp(col("ts")))
    val out = Quality.freshness(ev, "g", "ts", "2024-01-01 12:00:00",
        maxLagMinutes = 60L)
      .orderBy("g").collect()
    // a: 61 s -> 1 whole minute, fresh; b: 360 minutes, stale
    assert((out(0).getString(0), out(0).getLong(2), out(0).getBoolean(3)) == ("a", 1L, false))
    assert((out(1).getString(0), out(1).getLong(2), out(1).getBoolean(3)) == ("b", 360L, true))
  }

  test("hop distance equals straight-line BFS; bounds hops; frees round blocks") {
    val graphGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(50, for {
        a <- Gen.choose(0L, 14L); b <- Gen.choose(0L, 14L)
      } yield (a, b)).map(_.filter { case (a, b) => a != b }.distinct)
    forAll(graphGen, n = 5) { edges =>
      whenever(edges.nonEmpty) {
        val seeds = Seq(0L, 1L).toDF("node")
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val res = graft.operators.Graph.hopDistance(
          edges.toDF("src", "dst"), "src", "dst", seeds, "node", maxHops = 4)
        val got = res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // reference BFS
        val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        var ref = Map(0L -> 0L, 1L -> 0L)
        var frontier = Set(0L, 1L)
        for (h <- 1L to 4L) {
          frontier = frontier.flatMap(n => adj.getOrElse(n, Nil)) -- ref.keySet
          ref = ref ++ frontier.map(_ -> h)
        }
        assert(got == ref, s"edges=$edges")
        org.apache.spark.sql.graft.Bridge.unpersistCheckpoints(res)
        val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
        assert(leaked.isEmpty, s"leaked checkpoints: $leaked")
      }
    }
    // maxHops = 0 returns exactly the distinct seed set at distance 0
    val only = graft.operators.Graph.hopDistance(
      Seq((1L, 2L)).toDF("src", "dst"), "src", "dst",
      Seq(1L, 1L).toDF("node"), "node", maxHops = 0)
    assert(only.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 0L)))
  }

  test("checkpointed pagerank equals the plain chain and frees superseded blocks") {
    val edges = (0L until 30L).map(i => (i, (i * 7 + 3) % 30)).toDF("src", "dst")
    val plain = graft.operators.Graph.pageRankInt(edges, "src", "dst", iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ck = graft.operators.Graph.pageRankInt(edges, "src", "dst", iters = 6,
      checkpointEvery = 2)
    assert(ck.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == plain)
    // superseded round checkpoints were unpersisted: at most ONE backing
    // checkpoint (the last) remains
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1, s"leaked checkpoints: $leaked")
    org.apache.spark.sql.graft.Bridge.unpersistCheckpoints(ck)
  }

  test("pagerank: no-in-edge nodes sit at base; result is repartition-invariant") {
    val df = Seq((1L, 2L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val out = graft.operators.Graph.pageRankInt(df, "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 1 has no in-edges: exactly base = scale*15/100 every round
    assert(out(1L) == 150000L)
    assert(out(2L) > out(1L) && out(3L) > out(1L))
    val shuffled = graft.operators.Graph
      .pageRankInt(df.repartition(5), "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shuffled == out)
  }

  test("skyline equals the naive quadratic dominance filter (duplicates survive)") {
    val ptsGen: Gen[List[(Int, Int)]] =
      Gen.listOfN(80, for {
        a <- Gen.choose(0, 12)   // small domains force ties AND duplicates
        b <- Gen.choose(0, 12)
      } yield (a, b))
    forAll(ptsGen, n = 8) { pts =>
      whenever(pts.nonEmpty) {
        val df = pts.zipWithIndex
          .map { case ((a, b), i) => (i.toLong, a, b) }
          .toDF("id", "big", "small")
        val got = graft.operators.Frontier.skyline2D(df, "big", "small")
          .select("id").collect().map(_.getLong(0)).toSet
        val expect = pts.zipWithIndex.collect {
          case ((a, b), i) if !pts.exists { case (a2, b2) =>
            a2 >= a && b2 <= b && (a2 > a || b2 < b) } => i.toLong
        }.toSet
        assert(got == expect, s"pts=$pts")
      }
    }
  }

  test("skyline drops null-dimension rows and is repartition-invariant") {
    val df = Seq(
      (1L, Some(5), Some(10)), (2L, Some(5), Some(10)), // duplicate frontier pt
      (3L, None, Some(1)), (4L, Some(9), None),         // null dims excluded
      (5L, Some(9), Some(20)), (6L, Some(2), Some(10))  // 6 dominated by 1
    ).toDF("id", "big", "small")
    val out = graft.operators.Frontier.skyline2D(df, "big", "small")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L, 5L))
    val shuffled = graft.operators.Frontier.skyline2D(df.repartition(5), "big", "small")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(shuffled == out)
  }

  test("blocklist kernel counts every overlapping occurrence like the naive scan") {
    import graft.functions.blocklistCounts
    // deliberately includes BORDERED terms (aa, aba) whose occurrences
    // overlap, nested terms (a < al < value), and a never-hit term — the
    // kernel's contract is ALL occurrences per term, independently
    val terms = Seq("a", "aa", "aba", "al", "can", "scan", "value", "zzz")
    val edge = Seq("", "aaaa", "abababa", "scan can value al scans",
      "aa aa aaa", "value valuevalue", "zz z zz")
    val gen = Gen.listOfN(40, Gen.listOfN(30,
      Gen.oneOf("a", "b", "c", "an", "ca", "sc", "val", "ue", "l", " "))
      .map(_.mkString))
    forAll(gen, n = 3) { rand =>
      val all = (edge ++ rand).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = all.toDF("id", "t")
        .select(col("id"), blocklistCounts(col("t"), terms).as("c"))
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toList
      val want = all.map { case (i, t) =>
        (i, graft.functions.BlocklistCounts.reference(t, terms).toList) }.toList
      assert(got == want)
    }
  }

  test("url canonicalization: fragment, default ports, www, utm, order, slash") {
    val cases = Seq(
      "HTTP://WWW.Ex.COM:80/A/b/?b=2&a=1#f" -> "http://ex.com/A/b?a=1&b=2",
      "https://Ex.com:443/" -> "https://ex.com/",
      "https://Ex.com:8443/x" -> "https://ex.com:8443/x", // non-default port kept
      "http://ex.com" -> "http://ex.com/",
      "http://ex.com/p?utm_source=a&utm_campaign=b" -> "http://ex.com/p",
      "http://ex.com/p//" -> "http://ex.com/p",
      "ftp://User.Host/p" -> "ftp://user.host/p") // unknown scheme: port untouched
    val got = cases.map(_._1).toDF("u")
      .select(graft.functions.canonicalizeUrl(col("u")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2), got.mkString(" | "))
  }

  test("acf: exact ±1 on alternating series, null on constant, spine zero-fill") {
    val rows =
      (0 until 9).map(h =>
        ("alt", f"2024-01-01 $h%02d:00:00", if (h % 2 == 0) 10L else 20L)) ++
      (0 until 9).map(h => ("con", f"2024-01-01 $h%02d:00:00", 5L)) ++
      Seq(0, 1, 2, 3, 5, 6, 7, 8).map(h =>
        ("gap", f"2024-01-01 $h%02d:00:00", 5L)) // hour 4 missing
    val hourly = rows.toDF("k", "hs", "n")
      .select(col("k"), to_timestamp(col("hs")).as("h"), col("n"))
    val out = graft.operators.Quality.acf(hourly, "k", "h", "n", Seq(1, 2))
      .orderBy("k", "lag").collect()
    val alt = out.filter(_.getString(0) == "alt")
    // 8 aligned pairs at lag 1 are all (10,20)/(20,10) -> exactly -1;
    // 7 pairs at lag 2 are same-parity -> exactly +1 (integer-exact
    // moments, sqrt of an exact square)
    assert(alt(0).getLong(2) == 8L && alt(0).getDouble(3) == -1.0)
    assert(alt(1).getLong(2) == 7L && alt(1).getDouble(3) == 1.0)
    val con = out.filter(_.getString(0) == "con")
    assert(con.forall(_.isNullAt(3))) // zero variance -> NULL
    // the missing hour 4 is ZERO-FILLED on the dense spine: pair counts
    // reflect the 9-hour span (not the 8 present rows) and the dip makes
    // adjacent hours anticorrelate
    val gap = out.filter(_.getString(0) == "gap")
    assert(gap(0).getLong(2) == 8L && gap(1).getLong(2) == 7L)
    assert(!gap(0).isNullAt(3) && gap(0).getDouble(3) < 0)
  }

  test("mann-whitney u2 equals the quadratic pair count; U_A + U_B = n_a*n_b") {
    val g = Gen.listOfN(60, Gen.zip(Gen.oneOf("A", "B"), Gen.choose(0, 12)))
    forAll(g, n = 5) { rows =>
      val df = rows.map { case (gp, v) => (gp, v.toDouble) }.toDF("g", "v")
      val out = graft.operators.Quality.mwuStatistic(df, "g", "v", "A", "B")
        .collect()(0)
      val as = rows.collect { case ("A", v) => v }
      val bs = rows.collect { case ("B", v) => v }
      // 2·U_A = 2·#{x>y} + #{x==y} over all (x∈A, y∈B) pairs — the
      // quadratic definition the rank form must equal exactly
      val wins = (for (x <- as; y <- bs)
        yield if (x > y) 2L else if (x == y) 1L else 0L).sum
      assert(out.getAs[Long]("n_a") == as.size.toLong)
      assert(out.getAs[Long]("n_b") == bs.size.toLong)
      assert(out.getAs[Long]("u2_a") == wins, s"rows=$rows")
      val ba = graft.operators.Quality.mwuStatistic(df, "g", "v", "B", "A")
        .collect()(0)
      assert(out.getAs[Long]("u2_a") + ba.getAs[Long]("u2_a") ==
        2L * as.size * bs.size)
      if (as.nonEmpty && bs.nonEmpty)
        assert(out.getAs[Double]("auc_a") ==
          wins.toDouble / (2.0 * as.size * bs.size))
    }
  }

  test("xcorr peaks at exactly +1.0 on a planted lead; lag sign convention holds") {
    // b_s = p(s+2): b LEADS a by 2 hours, so at lag +2 the aligned pairs
    // are identical series -> xcorr exactly 1.0 (integer moments, sqrt of
    // an exact square); elsewhere the pattern decorrelates
    def p(t: Int): Long = 3L + (t * t) % 17 // aperiodic-ish positive counts
    def hs(h: Int) = f"2024-01-0${1 + h / 24} ${h % 24}%02d:00:00"
    val rows =
      (0 until 30).map(h => ("a", hs(h), p(h))) ++
      (0 until 30).map(h => ("b", hs(h), p(h + 2)))
    val hourly = rows.toDF("k", "hs", "n")
      .select(col("k"), to_timestamp(col("hs")).as("h"), col("n"))
    val out = graft.operators.Quality.xcorr(hourly, "k", "h", "n", "a", "b", 4)
      .orderBy("lag").collect()
    assert(out.length == 9)
    val at2 = out.find(_.getAs[Long]("lag") == 2L).get
    assert(at2.getAs[Double]("xcorr") == 1.0, at2)
    assert(at2.getAs[Long]("n_pairs") == 28L, at2) // 30-hour spine, lag 2
    // no other lag reaches the planted peak
    assert(out.filter(_.getAs[Long]("lag") != 2L)
      .forall(r => r.isNullAt(r.fieldIndex("xcorr")) ||
        r.getAs[Double]("xcorr") < 1.0), out.mkString(","))
  }

  test("changepoint finds a planted level shift exactly; rides the monitor seam") {
    // "a": 10,10,...(h 0-9) then 100,...(h 10-19) — the argmax must land
    // at t=10 (the last pre-shift hour) with the exact means and the flag
    // ON (d=9000, T·S=22000: 4·9000 > 22000); "flat" is constant -> d=0
    // everywhere, tie-break picks t=1, no flag
    val rows =
      (0 until 20).map(h =>
        ("a", f"2024-01-01 $h%02d:00:00", if (h < 10) 10L else 100L)) ++
      (0 until 20).map(h => ("flat", f"2024-01-01 $h%02d:00:00", 7L))
    val hourly = rows.toDF("k", "hs", "n")
      .select(col("k"), to_timestamp(col("hs")).as("h"), col("n"))
    val out = graft.operators.Quality
      .changepointFromHourly(hourly, "k", "h", "n")
      .orderBy("k").collect()
    val a = out(0)
    assert(a.getAs[Long]("split_t") == 10L, a)
    assert(a.getAs[String]("split_hour") == "2024-01-01 09:00:00", a)
    assert(a.getAs[Long]("d_max") == 9000L, a)
    assert(a.getAs[Double]("mean_before") == 10.0 &&
      a.getAs[Double]("mean_after") == 100.0, a)
    assert(a.getAs[Boolean]("flagged"), a)
    val flat = out(1)
    assert(flat.getAs[Long]("split_t") == 1L && !flat.getAs[Boolean]("flagged"),
      flat)
    assert(flat.getAs[Double]("mean_before") == 7.0, flat)
    // repartition-invariant (retried tasks must agree)
    val re = graft.operators.Quality
      .changepointFromHourly(hourly.repartition(7), "k", "h", "n")
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(re == out.map(_.toSeq).toSeq)
    // the scorer shape rides MonitorSeam unchanged: partial sink rows
    // (6+4 for one hour) re-sum before scoring == direct on finals
    val sink = rows.map { case (k, hs, n) => (k, hs, n - 2L) } ++
      rows.map { case (k, hs, _) => (k, hs, 2L) }
    val viaSeam = graft.streaming.MonitorSeam.scoreHourly(
        sink.toDF("k", "hs", "n"), "k", "hs", "n")(
        graft.operators.Quality.changepointFromHourly(_, _, _, _))
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(viaSeam == out.map(_.toSeq).toSeq, viaSeam)
  }

  test("concentration: gini num/den match mean-absolute-difference; uniform is zero") {
    val cg = Gen.listOfN(12, Gen.choose(1, 30))
    forAll(cg, n = 5) { counts =>
      val rows = counts.zipWithIndex.flatMap { case (c, i) => Seq.fill(c)(s"k$i") }
      val r = graft.operators.Quality.concentration(rows.toDF("k"), "k").collect()(0)
      val n = counts.size.toLong
      val t = counts.map(_.toLong).sum
      // identity: sum over ORDERED pairs |ci-cj| = 2 * (2*sum(i*c_asc) - (n+1)*T)
      val mad = (for (a <- counts; b <- counts) yield math.abs(a - b).toLong).sum
      assert(r.getAs[Long]("n_keys") == n && r.getAs[Long]("n_rows") == t)
      assert(2L * r.getAs[Long]("gini_num") == mad, s"counts=$counts")
      assert(r.getAs[Long]("gini_den") == n * t)
      assert(math.abs(r.getAs[Double]("gini") - mad.toDouble / (2.0 * n * t)) < 1e-12)
      assert(r.getAs[Long]("hhi_num") == counts.map(c => c.toLong * c).sum)
    }
    // uniform distribution: gini exactly 0, hhi exactly 1/n
    val uni = (0 until 8).flatMap(i => Seq.fill(5)(s"k$i"))
    val u = graft.operators.Quality.concentration(uni.toDF("k"), "k").collect()(0)
    assert(u.getAs[Long]("gini_num") == 0L && u.getAs[Double]("gini") == 0.0)
    assert(u.getAs[Double]("hhi") == 1.0 / 8)
  }
}
