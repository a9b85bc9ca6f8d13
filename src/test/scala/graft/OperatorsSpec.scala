package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Cleaning.CleaningOps
import graft.operators.{Quality, Star}

class OperatorsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("dedupKeepFirst keeps the deterministic first row per key") {
    val df = Seq((1, "a", 10), (1, "b", 5), (2, "c", 7)).toDF("k", "v", "ord")
    val out = df.dedupKeepFirst(Seq("k"), Seq(col("ord"))).orderBy("k").collect()
    assert(out.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "b"), (2, "c")))
  }

  test("replaceWhere mirrors pandas conditional assignment") {
    val df = Seq(("", "n1"), ("d2", "n2")).toDF("description", "name")
    val out = df.replaceWhere("description", col("description") === "", col("name"))
      .orderBy("name").as[(String, String)].collect()
    assert(out.toSeq == Seq(("n1", "n1"), ("d2", "n2")))
  }

  test("castColumns mirrors pandas astype") {
    import graft.operators.Cleaning.CleaningOps
    val df = Seq(("1", "2.5")).toDF("a", "b")
      .castColumns(Map("a" -> LongType, "b" -> DoubleType))
    assert(df.schema("a").dataType == LongType && df.schema("b").dataType == DoubleType)
    val r = df.head()
    assert(r.getLong(0) == 1L && r.getDouble(1) == 2.5)
  }

  test("quality report counts duplicate keys and nulls; assertClean throws") {
    val df = Seq((1, Some("x")), (1, Some("y")), (2, None)).toDF("k", "v")
    val rep = Quality.report(df, Seq("k"), Seq("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep("dup_natural_key") == 1L && rep("null_v") == 1L)
    intercept[IllegalStateException] {
      Quality.assertClean(df, Seq("k"), Seq("v"))
    }
  }

  test("upsertDoNothing keeps existing, adds only unseen keys") {
    val existing = Seq((1, "old")).toDF("k", "v")
    val incoming = Seq((1, "new"), (2, "b2"), (2, "b1")).toDF("k", "v")
    val out = Star.upsertDoNothing(existing, incoming, Seq("k"), Seq(col("v")))
      .orderBy("k").as[(Int, String)].collect()
    assert(out.toSeq == Seq((1, "old"), (2, "b1")))
  }

  test("upsertDoUpdate lets incoming latest win") {
    val existing = Seq((1, 1, "old")).toDF("k", "ord", "v")
    val incoming = Seq((1, 5, "mid"), (1, 9, "new")).toDF("k", "ord", "v")
    val out = Star.upsertDoUpdate(existing, incoming, Seq("k"), Seq(col("ord")))
      .select("v").as[String].collect()
    assert(out.toSeq == Seq("new"))
  }

  test("mergeChangelog: latest op wins, deletes remove, tie goes to the changelog, stale deletes are no-ops") {
    val base = Seq((1L, "a", 10L), (2L, "b", 10L), (3L, "c", 10L), (5L, "e", 10L))
      .toDF("k", "v", "ver")
    val changes = Seq(
      (1L, "a2", 10L, "U"), // same version as base -> changelog wins (replay idempotence)
      (2L, "b2", 20L, "U"), // plain upsert
      (3L, "gone", 20L, "D"), // delete removes the key
      (4L, "d", 15L, "U"), // insert
      (5L, "e2", 30L, "U"), (5L, "dead", 20L, "D") // delete OLDER than the upsert -> no-op
    ).toDF("k", "v", "ver", "op")
    val out = Star.mergeChangelog(base, changes, Seq("k"), col("ver"))
      .orderBy("k").as[(Long, String, Long)].collect()
    assert(out.toSeq == Seq((1L, "a2", 10L), (2L, "b2", 20L),
      (4L, "d", 15L), (5L, "e2", 30L)))
  }

  test("skewReport: planted hot key leads with its exact share; cumulative share closes the top-k") {
    import graft.operators.Quality
    // 50 rows on key 100 + 50 singleton keys -> total 100, hot share 0.5
    val df = (Seq.fill(50)(100L) ++ (1L to 50L)).toDF("k")
    val rows = Quality.skewReport(df, "k", topK = 10).orderBy("rank").collect()
    assert(rows.length == 10)
    val head = rows.head
    assert(head.getLong(head.fieldIndex("key")) == 100L)
    assert(head.getLong(head.fieldIndex("cnt")) == 50L)
    assert(head.getLong(head.fieldIndex("total")) == 100L)
    assert(head.getLong(head.fieldIndex("n_keys")) == 51L)
    assert(head.getDouble(head.fieldIndex("share")) == 0.5)
    // ranks are 1..k dense; cum_share is the running sum of the shares
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L))
    val expect = rows.map(r => r.getDouble(r.fieldIndex("share")))
      .scanLeft(0.0)(_ + _).tail
    assert(rows.map(r => r.getDouble(r.fieldIndex("cum_share"))).toSeq ==
      expect.toSeq)
  }

  test("dateDim covers the full observed range with smart keys") {
    val df = Seq("2024-01-30", "2024-02-02").toDF("d")
      .select(to_date(col("d")).as("d"))
    val dim = Star.dateDim(df, col("d")).orderBy("date_sk").collect()
    assert(dim.length == 4)
    assert(dim.head.getLong(0) == 20240130L && dim.last.getLong(0) == 20240202L)
    assert(dim.head.getString(5) == "Tuesday")
  }

  test("tweet parsing functions extract name and url") {
    import graft.functions._
    val df = Seq("PlayerX was banned https://steamcommunity.com/id/playerx/").toDF("text")
    val r = df.select(
      profileNameAtBan(col("text")),
      firstUrl(col("text")),
      isVanityUrl(col("text")),
      vanityId(firstUrl(col("text")))).head()
    assert(r.getString(0) == "PlayerX")
    assert(r.getString(1) == "https://steamcommunity.com/id/playerx/")
    assert(r.getBoolean(2))
    assert(r.getString(3) == "playerx")
  }

  test("wordShingles builds n-grams and guards short docs") {
    import graft.functions._
    val df = Seq("a b c d", "a").toDF("t")
    val out = df.select(wordShingles(col("t"), 3)).as[Seq[String]].collect()
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1).isEmpty)
  }

  test("typed Dataset loaders decode rows into case classes") {
    val docs = Tables.documentsDS(spark, sf)
    val d = docs.head()
    assert(d.text.nonEmpty && d.n_chars == d.text.length)
    val c = Tables.customerDS(spark, sf).head()
    assert(c.c_name.nonEmpty)
    val e = Tables.embeddingsDS(spark, sf).head()
    assert(e.embedding.length == 64)
  }

  test("staging also writes the reference's CSV format, partitioned") {
    import graft.sources.Staging
    val tmp = java.nio.file.Files.createTempDirectory("graft_csv_spec").toString
    val src = Tables.events(spark, sf).select("event_id", "ts", "value").limit(100)
    Staging.writeStaged(src, "ts", tmp, format = "csv")
    val back = Staging.readStaged(spark, tmp, format = "csv")
    assert(back.count() == src.count())
    assert(back.columns.toSet == Set("_c0", "_c1", "_c2", "y", "m", "d"))
  }

  test("staged lake absorbs additive schema evolution via mergeSchema read") {
    import graft.sources.Staging
    val tmp = java.nio.file.Files.createTempDirectory("graft_evolve_spec").toString
    val ev = Tables.events(spark, sf).select("event_id", "ts", "value")
    // day 1 written with the original schema, day 2 with an added column
    Staging.writeSlice(ev, "ts", "2024-01-01 00:00:00", "2024-01-02 00:00:00", tmp)
    Staging.writeSlice(ev.withColumn("quality", lit(0.5)), "ts",
      "2024-01-02 00:00:00", "2024-01-03 00:00:00", tmp)
    val merged = Staging.readStaged(spark, tmp, mergeSchema = true)
    assert(merged.columns.contains("quality"))
    // pre-evolution rows surface the new column as null, new rows carry it
    assert(merged.filter(col("d") === 1 && col("quality").isNotNull).count() == 0)
    val day2 = merged.filter(col("d") === 2)
    assert(day2.count() > 0 && day2.filter(col("quality").isNull).count() == 0)
    // the default (cheap) read still works, on the first slice's schema
    assert(Staging.readStaged(spark, tmp).count() == merged.count())
  }

  test("schema drift reports added/removed/type-changed columns, nothing else") {
    import graft.operators.Quality
    val before = Seq((1L, "a", 0.5)).toDF("k", "txt", "score").schema
    val after = Seq((1L, 1, true)).toDF("k", "txt", "fresh").schema
    val drift = Quality.schemaDrift(before, after)
    assert(drift == Seq(
      Quality.SchemaDriftRow("fresh", "added", None, Some("BOOLEAN")),
      Quality.SchemaDriftRow("txt", "changed", Some("STRING"), Some("INT")),
      Quality.SchemaDriftRow("score", "removed", Some("DOUBLE"), None)))
    // identical schemas drift nothing; evolution example round-trips
    assert(Quality.schemaDrift(before, before).isEmpty)
  }

  test("json normalize walks a nested record_path with meta, like pandas") {
    import graft.sources.JsonNormalize
    // the reference's achievements case: per-player array of records
    val df = Seq(
      ("p1", """{"player":{"achievements":[{"name":"a1","unlocked":1},{"name":"a2","unlocked":0}]}}"""),
      ("p2", """{"player":{"achievements":[{"name":"a9","unlocked":1}]}}""")
    ).toDF("steamid", "payload")
    val schema = StructType(Seq(StructField("player", StructType(Seq(
      StructField("achievements", ArrayType(StructType(Seq(
        StructField("name", StringType), StructField("unlocked", IntegerType))))))))))
    val out = JsonNormalize.normalize(
        df, "payload", schema,
        recordPath = Seq("player", "achievements"), meta = Seq("steamid"))
      .orderBy("steamid", "name")
      .as[(String, String, Int)].collect()
    assert(out.toSeq == Seq(("p1", "a1", 1), ("p1", "a2", 0), ("p2", "a9", 1)))
  }

  test("vanity and numeric profile urls resolve to ids in batches") {
    import graft.sources.ScrapeSource
    val urls = Seq(
      "https://steamcommunity.com/profiles/7656119",
      "https://steamcommunity.com/id/playerx/",
      "https://example.com/not-a-profile"
    ).toDF("url")
    val out = ScrapeSource.resolveProfileIds(urls, "url", new ScrapeSource.StubResolver)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("https://steamcommunity.com/profiles/7656119") == 7656119L)
    assert(out("https://steamcommunity.com/id/playerx/") ==
      ("playerx".hashCode.toLong & Long.MaxValue))
    assert(out.size == 2) // the non-profile url drops
  }

  test("asof join picks the latest left row at or before each right ts") {
    import graft.operators.Temporal
    val quotes = Seq((1L, 10L, 100.0), (1L, 20L, 101.0), (2L, 5L, 50.0))
      .toDF("k", "ts", "px")
    val trades = Seq((1L, 9L, "t1"), (1L, 10L, "t2"), (1L, 25L, "t3"), (3L, 7L, "t4"))
      .toDF("k", "ts", "trade")
    val out = Temporal.asofJoin(quotes, trades, "k", "ts", "ts", Seq("px"))
      .orderBy("trade")
      .collect()
      .map(r => (r.getString(2), Option(r.get(4)).map(_.asInstanceOf[Double])))
    assert(out.toSeq == Seq(
      ("t1", None),          // before any quote
      ("t2", Some(100.0)),   // ts tie: quote at 10 counts (<=)
      ("t3", Some(101.0)),   // latest preceding quote
      ("t4", None)))         // key with no quotes at all
  }

  test("scd2 apply versions changes, keeps no-ops, inserts new keys; batches compose") {
    import graft.operators.Star
    val cur = Seq((1L, "A"), (2L, "B"), (3L, "C")).toDF("k", "seg")
      .withColumn("valid_from", to_date(lit("2020-01-01")))
      .withColumn("valid_to", lit(null).cast("date"))
    // change, no-op, new key in one batch
    val b1 = Seq((1L, "A2"), (2L, "B"), (9L, "N")).toDF("k", "seg")
      .withColumn("ts", to_date(lit("2021-01-01")))
    val v1 = Star.scd2Apply(cur, b1, "k", Seq("seg"), "ts")
    val rows1 = v1.orderBy("k", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDate(2).toString,
        Option(r.getDate(3)).map(_.toString)))
    assert(rows1.toSeq == Seq(
      (1L, "A", "2020-01-01", Some("2021-01-01")),
      (1L, "A2", "2021-01-01", None),
      (2L, "B", "2020-01-01", None),
      (3L, "C", "2020-01-01", None),
      (9L, "N", "2021-01-01", None)))
    // a second batch composes: exactly one open row per key, history intact
    val b2 = Seq((9L, "N2")).toDF("k", "seg")
      .withColumn("ts", to_date(lit("2022-01-01")))
    val v2 = Star.scd2Apply(v1, b2, "k", Seq("seg"), "ts")
    val open = v2.filter(col("valid_to").isNull).groupBy("k").count().collect()
    assert(open.length == 4 && open.forall(_.getLong(1) == 1L))
    // 1 closed (k=1 history) + 3 kept opens + k=9's closed+new pair
    assert(v2.count() == 6)
    assert(v2.filter(col("k") === 1L && col("valid_to").isNotNull).count() == 1)
  }

  test("forward asof picks the earliest left row at or after each right ts") {
    import graft.operators.Temporal
    val quotes = Seq((1L, 10L, 100.0), (1L, 20L, 101.0), (2L, 5L, 50.0))
      .toDF("k", "ts", "px")
    val trades = Seq((1L, 9L, "t1"), (1L, 10L, "t2"), (1L, 25L, "t3"), (3L, 7L, "t4"))
      .toDF("k", "ts", "trade")
    val out = Temporal.asofJoinForward(quotes, trades, "k", "ts", "ts", Seq("px"))
      .orderBy("trade")
      .collect()
      .map(r => (r.getString(2), Option(r.get(4)).map(_.asInstanceOf[Double])))
    assert(out.toSeq == Seq(
      ("t1", Some(100.0)),   // next quote at 10
      ("t2", Some(100.0)),   // ts tie: quote at 10 counts (>=)
      ("t3", None),          // nothing after 25
      ("t4", None)))         // key with no quotes at all
  }

  test("nearest asof picks the closer side, ties backward, one fused window") {
    import graft.operators.Temporal
    val quotes = Seq((1L, 10L, 100.0), (1L, 20L, 101.0), (2L, 5L, 50.0))
      .toDF("k", "ts", "px")
    val trades = Seq(
      (1L, 9L, "t1"),   // 1 before 10, 11 before 20 -> backward... no: b=none? 9<10 so backward none, forward 10 -> 100.0
      (1L, 14L, "t2"),  // dist 4 back (10), 6 fwd (20) -> 100.0
      (1L, 15L, "t3"),  // dist 5 both ways -> tie -> backward 100.0
      (1L, 16L, "t4"),  // dist 6 back, 4 fwd -> 101.0
      (1L, 25L, "t5"),  // nothing after -> backward 101.0
      (3L, 7L, "t6"))   // no quotes for key
      .toDF("k", "ts", "trade")
    val out = Temporal.asofJoinNearest(quotes, trades, "k", "ts", "ts", Seq("px"))
      .orderBy("trade").collect()
      .map(r => Option(r.get(4)).map(_.asInstanceOf[Double]))
    assert(out.toSeq == Seq(Some(100.0), Some(100.0), Some(100.0),
      Some(101.0), Some(101.0), None))
    // nearest distance equals min(backward, forward) distance on the
    // gate's real feed: cross-check against the two directional ops
    val e = Tables.events(spark, sf)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      .dropDuplicates("user_id", "ts")
    val purch = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    def dist(df: org.apache.spark.sql.DataFrame) = df.select(col("event_id"),
      abs(unix_micros(col("ts")) - unix_micros(col("asof_ts"))).as("d"))
    val n = dist(Temporal.asofJoinNearest(clicks, purch, "user_id", "ts", "ts", Nil))
    val b = dist(Temporal.asofJoin(clicks, purch, "user_id", "ts", "ts", Nil))
      .withColumnRenamed("d", "db")
    val f = dist(Temporal.asofJoinForward(clicks, purch, "user_id", "ts", "ts", Nil))
      .withColumnRenamed("d", "df")
    val bad = n.join(b, Seq("event_id"), "left").join(f, Seq("event_id"), "left")
      .filter(col("d") =!= least(coalesce(col("db"), lit(Long.MaxValue)),
        coalesce(col("df"), lit(Long.MaxValue))))
    assert(bad.count() == 0)
    // both carries fuse into ONE window node (same partition + ordering,
    // two frames) — the single-shuffle contract
    val exec = Temporal.asofJoinNearest(quotes, trades, "k", "ts", "ts", Seq("px"))
      .queryExecution.sparkPlan
    val wins = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.size == 1, exec.toString)
  }

  test("asof tolerance nulls matches staler than the bound, keeps the rest") {
    import graft.operators.Temporal
    val quotes = Seq((1L, 10L, 100.0), (1L, 50L, 105.0)).toDF("k", "ts", "px")
    val trades = Seq((1L, 12L, "t1"), (1L, 40L, "t2"), (1L, 55L, "t3"))
      .toDF("k", "ts", "trade")
    def run(tolUs: Long) =
      Temporal.asofJoinTolerance(
          quotes.withColumn("ts", timestamp_micros(col("ts"))),
          trades.withColumn("ts", timestamp_micros(col("ts"))),
          "k", "ts", "ts", Seq("px"), tolUs)
        .orderBy("trade").collect()
        .map(r => Option(r.get(4)).map(_.asInstanceOf[Double]))
    // tolerance 10us: t1 (lag 2) and t3 (lag 5) keep, t2 (lag 30) drops
    assert(run(10L).toSeq == Seq(Some(100.0), None, Some(105.0)))
    // huge tolerance degenerates to the plain backward asof
    assert(run(1000L).toSeq == Seq(Some(100.0), Some(100.0), Some(105.0)))
    // zero tolerance keeps only exact-instant matches
    assert(run(0L).toSeq == Seq(None, None, None))
  }

  test("rollingCounts equals the naive windowed self-join, row for row") {
    import graft.operators.Temporal
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "ts", "value")
    val got = Temporal.rollingCounts(ev, "user_id", "ts", "value", horizonSec = 3600L)
      .select("event_id", "n_trailing", "total_trailing")
    val e = ev.withColumn("sec", col("ts").cast("long"))
    val naive = e.as("a").join(e.as("b"),
        col("a.user_id") === col("b.user_id") &&
        col("b.sec") >= col("a.sec") - 3599L && col("b.sec") <= col("a.sec"))
      .groupBy(col("a.event_id").as("event_id"))
      .agg(count(lit(1)).as("n_trailing"),
        sum(col("b.value").cast(DecimalType(18, 2))).cast("double").as("total_trailing"))
    assert(got.count() == ev.count())
    assert(got.except(naive).count() == 0 && naive.except(got).count() == 0)
  }

  test("spike detector flags strictly above mean + 3 sigma, exact arithmetic") {
    import graft.operators.Quality
    // 9 trailing hours [10 x8, 19]: mean 11, SAMPLE sigma exactly 3, so the
    // 3-sigma boundary sits exactly at 20 — an integer the exact predicate
    // must NOT flag (strict >) while 21 must flag
    val hist = Seq.fill(8)(10) :+ 19
    def hours(tpe: String, counts: Seq[Int]): Seq[(String, String)] =
      counts.zipWithIndex.flatMap { case (c, h) =>
        (0 until c).map(i => (f"2024-01-01 $h%02d:${i / 60}%02d:${i % 60}%02d", tpe))
      }
    val rows = hours("eq", hist :+ 20) ++ hours("gt", hist :+ 21) ++
      hours("flat", Seq.fill(9)(10) :+ 11) ++ // zero variance: any excess flags
      hours("cold", Seq.fill(7)(1) :+ 100)    // under minN prior hours: never
    val df = rows.toDF("ts_s", "event_type")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val flagged = Quality.spikes(df, "event_type", "ts",
        trailing = 24, z = 3, minN = 9)
      .filter(col("is_spike"))
      .select("event_type", "hour_start")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(flagged.toSeq == Seq(
      ("flat", "2024-01-01 09:00:00"), ("gt", "2024-01-01 09:00:00")))
  }

  test("spike detector: wide decimal path matches exact flags and survives counts past the BIGINT bound") {
    // same boundary fixture as above (sample sigma exactly 3, boundary at
    // 20); scaling every count by f scales mean and sigma by f, so the
    // flag set is scale-invariant — which lets one fixture check both
    // widths at small counts AND the wide path alone past the ~2.6e7
    // exact-arithmetic bound, where the BIGINT Σcnt² overflows and ANSI
    // throws on the narrow path
    val hist = Seq.fill(8)(10L) :+ 19L
    def hourly(scale: Long) =
      Seq("eq" -> (hist :+ 20L), "gt" -> (hist :+ 21L),
          "flat" -> (Seq.fill(9)(10L) :+ 11L))
        .flatMap { case (tpe, cs) => cs.zipWithIndex.map { case (c, h) =>
          (f"2024-01-01 $h%02d:00:00", tpe, c * scale) } }
        .toDF("h", "event_type", "cnt")
        .withColumn("hour_ts", to_timestamp(col("h")))
    def flags(df: org.apache.spark.sql.DataFrame, wide: Boolean) =
      Quality.spikesFromHourly(df, "event_type", "hour_ts", "cnt",
          trailing = 24, z = 3, minN = 9, wide = wide)
        .filter(col("is_spike")).select("event_type", "hour_start")
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(flags(hourly(1L), wide = false) == flags(hourly(1L), wide = true))
    assert(flags(hourly(100000000L), wide = true) == Seq(
      ("flat", "2024-01-01 09:00:00"), ("gt", "2024-01-01 09:00:00")))
    val ex = intercept[Exception] { flags(hourly(100000000L), wide = false) }
    val chain = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).take(10).toSeq
    assert(chain.exists(t => t.isInstanceOf[ArithmeticException] ||
      String.valueOf(t.getMessage).toLowerCase.contains("overflow")))
  }

  test("MAD detector flags the second burst a window burst masks from the z-test") {
    import graft.operators.Quality
    // 24 trailing hours of 10 with ONE 1000-count burst inside the window,
    // then a 100-count hour: the burst inflates mean (~51) and sample
    // sigma (~202) so mean+3sigma ~ 657 and the z-test stays silent; the
    // median (10) and MAD (0) shrug the burst off and flag 100 at once
    val counts = (Seq.fill(19)(10L) :+ 1000L) ++ Seq.fill(4)(10L) :+ 100L
    val df = counts.zipWithIndex.map { case (c, h) =>
      (f"2024-01-${h / 24 + 1}%02d ${h % 24}%02d:00:00", "a", c) }
      .toDF("h", "event_type", "cnt")
      .withColumn("hour_ts", to_timestamp(col("h")))
    def flagsOf(r: org.apache.spark.sql.DataFrame, flag: String) =
      r.filter(col(flag)).select("hour_start")
        .collect().map(_.getString(0)).sorted.toSeq
    val mad = Quality.madFromHourly(df, "event_type", "hour_ts", "cnt",
      trailing = 24, k = 5, minN = 8)
    val z = Quality.spikesFromHourly(df, "event_type", "hour_ts", "cnt",
      trailing = 24, z = 3, minN = 8)
    // both see the initial burst; only MAD sees the masked second one
    assert(flagsOf(z, "is_spike") == Seq("2024-01-01 19:00:00"))
    assert(flagsOf(mad, "is_anomaly") ==
      Seq("2024-01-01 19:00:00", "2024-01-02 00:00:00"))
    // exact interpolation: at hour 24 the frame is hours 0..23 (23x10 and
    // one 1000) -> med2 = 20, deviations |2c-20| are 0 x23 and 1980 ->
    // mad4 = 0; n_prior = 24
    val h24 = mad.filter(col("hour_start") === "2024-01-02 00:00:00")
      .select("n_prior", "med2", "mad4").collect().head
    assert((h24.getLong(0), h24.getLong(1), h24.getLong(2)) == ((24L, 20L, 0L)))
  }

  test("seasonal z-test ignores the daily 9AM ramp the trailing-24h test over-flags, and catches the 3AM burst") {
    import graft.operators.Quality
    // ten days of a daily cycle: 10/hour baseline, 100 every day at 9AM
    // (legitimate traffic shape), plus ONE planted 500 burst at 3AM on
    // day 9 — the anomaly a seasonal monitor exists to catch
    val rows = for { day <- 0 until 10; hod <- 0 until 24 } yield {
      val cnt = if (day == 8 && hod == 3) 500L
        else if (hod == 9) 100L else 10L
      (f"2024-01-${day + 1}%02d $hod%02d:00:00", "a", cnt)
    }
    val df = rows.toDF("h", "event_type", "cnt")
      .withColumn("hour_ts", to_timestamp(col("h")))
      .withColumn("season_key", concat(col("event_type"), lit("#"),
        lpad(hour(col("hour_ts")).cast("string"), 2, "0")))
    def flagged(r: org.apache.spark.sql.DataFrame) = r.filter(col("is_spike"))
      .select("hour_start").collect().map(_.getString(0)).sorted.toSeq
    // seasonal: same z-test partitioned by (type, hour-of-day), trailing
    // week — exactly ONE flag, the planted burst; every 9AM ramp is
    // normal against its own hour's history
    val seasonal = Quality.spikesFromHourly(df, "season_key", "hour_ts",
      "cnt", trailing = 7, z = 3, minN = 4)
    assert(flagged(seasonal) == Seq("2024-01-09 03:00:00"))
    // the trailing-24h form sees the burst too but ALSO fires on the 9AM
    // ramp day after day — the over-flagging the seasonal partition fixes
    val plain = Quality.spikesFromHourly(df, "event_type", "hour_ts",
      "cnt", trailing = 24, z = 3, minN = 8)
    val plainFlags = flagged(plain)
    assert(plainFlags.contains("2024-01-09 03:00:00"), plainFlags)
    assert(plainFlags.count(_.endsWith("09:00:00")) >= 5, plainFlags)
  }

  test("events_twap: every observation but the type's last carries weight; burst bias shows as twap != mean") {
    val ev = graft.Tables.events(spark, sf)
    val counts = ev.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = SparkEntry.queries("events_twap")(spark, sf).collect()
    assert(rows.length == counts.size)
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_obs")) == counts(r.getString(0)) - 1, r)
      assert(r.getLong(r.fieldIndex("total_dt_us")) > 0L, r)
    }
    // a hand fixture where the time weighting provably matters: 100 held
    // 1s, 0 held 9s, final obs unweighted -> TWAP 10, plain mean 51.67
    import java.sql.Timestamp
    val fx = Seq(
      (1L, new Timestamp(0L), "a", 100.0),
      (2L, new Timestamp(1000L), "a", 0.0),
      (3L, new Timestamp(10000L), "a", 55.0)
    ).toDF("event_id", "ts", "event_type", "value")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val out = fx
      .withColumn("dt", unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
      .groupBy("event_type")
      .agg((sum((col("value") * col("dt").cast("double")).cast("decimal(28,6)"))
          .cast("double") / sum(col("dt")).cast("double")).as("twap"))
      .collect().head
    assert(out.getDouble(1) == 10.0, out)
  }

  test("MAD detector: hourly seam equals the events form (deployment parity)") {
    import graft.operators.Quality
    val ev = graft.Tables.events(spark, sf)
    val hourly = ev.groupBy(date_trunc("hour", col("ts")).as("hour_ts"),
      col("event_type")).agg(count(lit(1)).as("cnt"))
    val a = Quality.madAnomalies(ev, "event_type", "ts")
      .orderBy("hour_start", "event_type").collect().map(_.toSeq).toSeq
    val b = Quality.madFromHourly(hourly, "event_type", "hour_ts", "cnt")
      .orderBy("hour_start", "event_type").collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("CUSUM: window form replays the max(0,S+d) recurrence exactly; seam parity") {
    import graft.operators.Quality
    val ev = graft.Tables.events(spark, sf)
    val out = Quality.cusum(ev, "event_type", "ts")
      .orderBy("event_type", "hour_start").collect()
    assert(out.nonEmpty)
    // driver replay of the sequential recurrence over the same hourly frame
    val hourly = ev.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
    val expect = hourly.groupBy(_._1).toSeq.flatMap { case (t, rows) =>
      val sorted = rows.sortBy(_._2.getTime)
      val cs = sorted.map(_._3).sorted
      val med2 = if (cs.length % 2 == 1) 2 * cs(cs.length / 2)
                 else cs(cs.length / 2 - 1) + cs(cs.length / 2)
      var s = 0L
      sorted.toSeq.map { case (_, h, cnt) =>
        s = math.max(0L, s + (2 * cnt - med2 - 2))
        ((t, h.getTime), s)
      }
    }.toMap
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    out.foreach { r =>
      val key = (r.getString(1), fmt.parse(r.getString(0)).getTime)
      assert(expect(key) == r.getLong(4), r)
      assert(r.getBoolean(5) == (expect(key) > 16L), r)
    }
    // seam parity: events form == already-aggregated hourly form
    val viaSeam = Quality.cusumFromHourly(
        ev.groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
          .agg(count(lit(1)).as("cnt")),
        "event_type", "hour_ts", "cnt")
      .orderBy("event_type", "hour_start").collect().map(_.toSeq).toSeq
    assert(out.map(_.toSeq).toSeq == viaSeam)
  }

  test("CUSUM fires on a sustained +20% step the z-test never flags") {
    import graft.operators.Quality
    import java.sql.Timestamp
    // 30 baseline hours alternating 9/11, then 20 step hours at 13:
    // no single hour is a 3-sigma spike, but the excess accumulates
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").toLocalDateTime
    val base = (0 until 30).map(i => (t0.plusHours(i), if (i % 2 == 0) 9L else 11L))
    val step = (30 until 50).map(i => (t0.plusHours(i), 13L))
    val hourly = (base ++ step)
      .map { case (t, c) => ("a", Timestamp.valueOf(t), c) }
      .toDF("event_type", "hour_ts", "cnt")
    val cs = Quality.cusumFromHourly(hourly, "event_type", "hour_ts", "cnt")
      .orderBy("hour_start").collect()
    // med2 = 22 (15×9, 15×11, 20×13), d2 = +2 per step hour -> fires at
    // the 9th step hour (cusum 18 > 16) and stays on
    assert(cs.take(30).forall(r => r.getLong(4) == 0L && !r.getBoolean(5)))
    assert(cs.drop(30).take(8).forall(r => !r.getBoolean(5)))
    assert(cs.drop(38).forall(r => r.getBoolean(5)), cs.drop(38).mkString("\n"))
    val z = Quality.spikesFromHourly(hourly, "event_type", "hour_ts", "cnt")
      .collect()
    assert(z.forall(!_.getBoolean(6)), "z-test should stay silent on the step")
  }

  test("drift is exactly 0 for distribution-identical sources, 0.5 for disjoint halves") {
    import graft.operators.Quality
    // a and b share one token multiset -> each equals the overall
    // distribution exactly (tv 0.0, exact double); c and d are disjoint
    // equal-mass vocabularies -> tv(p, (p+q)/2) = ¼Σ|p−q| = 0.5 exactly
    val same = Seq("a", "b").flatMap(s =>
      Seq.fill(3)((s, "tok1 tok2")) :+ ((s, "tok3")))
    val outSame = Quality.drift(same.toDF("source", "text"), "source", "text")
      .collect().map(r => (r.getString(0), r.getDouble(2))).toMap
    assert(outSame("a") == 0.0 && outSame("b") == 0.0)
    val disj = Seq(("c", "left1 left2 left3 left4"), ("d", "right1 right2 right3 right4"))
    val outDisj = Quality.drift(disj.toDF("source", "text"), "source", "text")
      .collect().map(r => (r.getString(0), r.getDouble(2))).toMap
    assert(outDisj("c") == 0.5 && outDisj("d") == 0.5)
    // real corpus: every tv in [0, 1], token totals conserved
    val real = Quality.drift(Tables.documents(spark, sf), "source", "text")
    val rows = real.collect()
    assert(rows.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
    val total = rows.map(_.getLong(1)).sum
    val expect = Tables.documents(spark, sf)
      .select(explode(split(col("text"), "\\s+"))).count()
    assert(total == expect)
  }

  test("bucket-seam drift: identical numeric distributions 0, shifted ones positive") {
    import graft.operators.Quality
    // e and f draw the same values -> tv 0.0 exactly; g sits in disjoint
    // bins -> tv 0.5 against the pooled distribution (equal masses)
    def rows(s: String, vs: Seq[Double]) = vs.map(v => (s, v))
    val df = (rows("e", Seq(0.1, 0.2, 0.9, 1.4)) ++
      rows("f", Seq(0.1, 0.2, 0.9, 1.4)) ++
      rows("g", Seq(5.0, 5.1, 6.2, 7.3))).toDF("event_type", "value")
    val out = Quality.driftFromBuckets(
        df.select(col("event_type"), floor(col("value") * 16).as("bin")),
        "event_type", "bin")
      .collect().map(r => (r.getString(0), r.getDouble(2))).toMap
    assert(out("e") == out("f"))
    assert(out("g") > out("e"))
    // e vs pooled: e==f so pooled = 2/3·e + 1/3·g; tv(e, pooled) = 1/3·tv(e,g) = 1/3
    assert(math.abs(out("e") - 1.0 / 3.0) < 1e-15)
  }

  test("PSI: near-zero for identical sources, flags disjoint ones, nonnegative") {
    import graft.operators.Quality
    def counts(s: String, bs: Seq[(Long, Long)]) = bs.map { case (b, n) => (s, b, n) }
    // e and f identical -> the pool equals each source's distribution:
    // psi tiny (add-1 smoothing keeps it off exact zero), no flag
    val ef = (counts("e", Seq((0L, 50L), (1L, 30L), (2L, 15L), (3L, 5L))) ++
      counts("f", Seq((0L, 50L), (1L, 30L), (2L, 15L), (3L, 5L))))
      .toDF("src", "b", "n")
    val psiEf = Quality.psiFromCounts(ef, "src", "b", "n")
      .collect().map(r => (r.getString(0), (r.getDouble(2), r.getBoolean(3)))).toMap
    assert(psiEf("e")._1 == psiEf("f")._1) // identical inputs, identical score
    assert(math.abs(psiEf("e")._1) < 0.05 && !psiEf("e")._2)
    // adding a disjoint-bucket source: EVERY source now diverges from the
    // pooled distribution hard enough to flag (g most of all)
    val df = (counts("e", Seq((0L, 50L), (1L, 30L), (2L, 15L), (3L, 5L))) ++
      counts("f", Seq((0L, 50L), (1L, 30L), (2L, 15L), (3L, 5L))) ++
      counts("g", Seq((10L, 60L), (11L, 40L)))).toDF("src", "b", "n")
    val psi = Quality.psiFromCounts(df, "src", "b", "n")
      .collect().map(r => (r.getString(0), (r.getDouble(2), r.getBoolean(3)))).toMap
    assert(psi("e")._1 == psi("f")._1)
    assert(psi("g")._1 > psi("e")._1 && psi("g")._1 > 0.2 && psi("g")._2)
    // real events: psi >= 0 always ((p-q) and ln(p/q) share sign; the
    // 6-dp rounding zeroes a term before it can flip sign)
    val ev = graft.Tables.events(spark, sf)
    val real = Quality.psiFromCounts(
        ev.select(col("event_type"), floor(col("value") * 16).as("bin"))
          .groupBy("event_type", "bin").agg(count(lit(1)).as("n")),
        "event_type", "bin", "n").collect()
    assert(real.nonEmpty)
    real.foreach(r => assert(r.getDouble(2) >= 0.0, r))
  }

  test("salted join equals the plain join, spread over salt buckets") {
    import graft.operators.Skew
    val fact = Seq((1, "a1"), (1, "a2"), (1, "a3"), (2, "b1")).toDF("k", "payload")
    val dim = Seq((1, "dim1"), (2, "dim2")).toDF("k", "attr")
    val salted = Skew.saltedJoin(fact, dim, Seq("k"), Seq(col("payload")), salts = 4)
      .orderBy("payload").as[(Int, String, String)].collect()
    val plain = fact.join(dim, "k")
      .orderBy("payload").as[(Int, String, String)].collect()
    assert(salted.toSeq == plain.toSeq)
    // the hot key's rows land in more than one salt bucket
    val buckets = Skew.saltLarge(fact, Seq(col("payload")), 4)
      .filter($"k" === 1).select("__salt").distinct().count()
    assert(buckets > 1)
  }

  test("fuzzy linkage: blocked pairs equal the quadratic reference, false sharers rejected") {
    import graft.operators.Linkage
    // substitution (cat/cut), deletion (cat/at), insertion (cat/cart),
    // distance-2 via transposition that SHARES a deletion variant (ab/ba
    // share "b") — must be generated as a candidate then rejected by the
    // exact verify — plus an unrelated string
    val recs = Seq((1L, "cat"), (2L, "cut"), (3L, "at"), (4L, "cart"),
      (5L, "ab"), (6L, "ba"), (7L, "zzzz")).toDF("id", "name")
    val got = Linkage.fuzzyPairs(recs, "id", "name")
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // quadratic reference via Spark's own levenshtein
    val ref = recs.as("a").join(recs.as("b"), $"a.id" < $"b.id")
      .filter(levenshtein($"a.name", $"b.name") <= 1)
      .select($"a.id", $"b.id").as[(Long, Long)].collect().toSet
    assert(got == ref, s"got $got vs ref $ref")
    assert(got.contains((1L, 2L)) && got.contains((1L, 3L)) && got.contains((1L, 4L)))
    assert(!got.contains((5L, 6L))) // shared-variant distance-2 rejected
  }

  test("EWMA flags a burst but re-baselines under slow drift") {
    import graft.operators.Quality
    import java.sql.Timestamp
    def ts(h: Int) = Timestamp.valueOf(f"2024-01-01 ${h}%02d:00:00")
    // burst: flat 10s then one 100 -> flag fires exactly there.
    // drift: +5% per hour from 10 -> never double the smoothed level
    // (a 20%/hour ramp DOES legitimately outrun an alpha=1/8 smoother)
    val burst = (0 until 8).map(h => ("burst", ts(h), if (h == 6) 100L else 10L))
    val drift = (0 until 8).map(h => ("drift", ts(h),
      math.round(10.0 * math.pow(1.05, h))))
    val out = Quality.ewmaFromBuckets(
        (burst ++ drift).toDF("k", "b", "n"), "k", "b", "n")
      .as[(String, Timestamp, Long, Long, Boolean)].collect()
      .groupBy(_._1)
    assert(out("burst").filter(_._5).map(_._2) sameElements Array(ts(6)))
    assert(!out("drift").exists(_._5))
    // smoother recovers: the hour after the burst is not flagged
    assert(!out("burst").exists(r => r._2 == ts(7) && r._5))
  }

  test("withPrefixSums matches a driver-side cumulative fold; layout-invariant") {
    import graft.operators.Ranking
    // hash-derived pseudo-random values (no rng), two sum columns
    val df = spark.range(0, 500).toDF("i")
      .withColumn("v", xxhash64(col("i")) % 97)
      .withColumn("a", abs(xxhash64(col("i"), lit(1))) % 11)
      .withColumn("b", abs(xxhash64(col("i"), lit(2))) % 7)
    val got = Ranking.withPrefixSums(df, Seq(col("v"), col("i")), Seq("a", "b"))
      .orderBy("v", "i")
      .select("i", "a_cum", "b_cum").as[(Long, Long, Long)].collect().toSeq
    val rows = df.orderBy("v", "i")
      .select("i", "a", "b").as[(Long, Long, Long)].collect()
    val ref = rows.scanLeft((0L, 0L, 0L)) { case ((_, ca, cb), (i, a, b)) =>
      (i, ca + a, cb + b)
    }.tail.toSeq
    assert(got == ref)
    // layout cannot change the result (machinery re-ranges internally)
    val got2 = Ranking.withPrefixSums(df.repartition(7), Seq(col("v"), col("i")),
        Seq("a", "b"))
      .orderBy("v", "i").select("i", "a_cum", "b_cum")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got2 == ref)
  }

  test("KS statistic: zero on identical samples, 1 on disjoint, hand value exact") {
    import graft.operators.Quality
    def ks(rows: Seq[(String, Double)]): (Long, Long, Long, Option[Double]) =
      Quality.ksStatistic(rows.toDF("g", "v"), "g", "v", "a", "b")
        .select("n_a", "n_b", "d_num", "ks")
        .as[(Long, Long, Long, Option[Double])].collect().head
    val same = Seq(1.0, 2.0, 5.0, 9.0)
    assert(ks(same.map(("a", _)) ++ same.map(("b", _))) == ((4L, 4L, 0L, Some(0.0))))
    // disjoint supports: D = 1
    assert(ks(Seq(("a", 1.0), ("a", 2.0), ("b", 10.0), ("b", 11.0)))
      == ((2L, 2L, 4L, Some(1.0))))
    // a={1,2}, b={1,3}: cums a=(1,2,2), b=(1,1,2) -> D_num=2, ks=0.5
    assert(ks(Seq(("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 3.0)))
      == ((2L, 2L, 2L, Some(0.5))))
  }

  test("HLL sketches: union of per-day sketches equals the one-pass sketch; error bounded") {
    // the mergeability identity that makes stored sketches the 100 TB
    // posture: a register is the max over items hashing to it, so
    // union(sketch(A), sketch(B)) == sketch(A ∪ B) EXACTLY, for ANY
    // split (overlapping days included) — no re-scan ever needed
    val rows = for (d <- 1 to 7; i <- 1 to 900)
      yield (f"2024-01-0$d", (d * 131L + i * 7L) % 3000L)
    val df = rows.toDF("day", "user_id")
    val daily = df.groupBy("day").agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = daily
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .head().getLong(0)
    val direct = df
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
      .head().getLong(0)
    assert(merged == direct, s"merged=$merged direct=$direct")
    val exact = df.select("user_id").distinct().count()
    assert(math.abs(merged - exact).toDouble / exact < 0.05,
      s"merged=$merged exact=$exact")
    // registered report: "(all)" row first (orderBy day), its estimate
    // >= any single day's, n_events totals add up
    val out = SparkEntry.queries("distinct_users_sketched")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.head._1 == "(all)" && out.length >= 2)
    assert(out.head._3 >= out.tail.map(_._3).max)
    assert(out.head._2 == out.tail.map(_._2).sum)
  }

  test("binned KS: sandwich D_binned <= D_exact <= D_binned + max bin mass, sinks catch tails") {
    import graft.operators.Quality
    def dOf(df: org.apache.spark.sql.DataFrame): Double =
      df.select("ks").as[Option[Double]].collect().head.get
    // deterministic pseudo-random samples (hash-mixed, no rand()): a is
    // roughly uniform on [0, 40); b shifted right with an unbounded tail
    val rows: Seq[(String, Double)] =
      (1 to 400).map(i => ("a", (i * 2654435761L % 4001L) / 100.0)) ++
      (1 to 300).map(i => ("b", 8.0 + (i * 40503L % 3803L) / 100.0)) ++
      Seq(("b", 1.0e8), ("b", -999.9), ("a", 7.25e5)) // tails -> sink bins
    val df = rows.toDF("g", "v")
    val dExact = dOf(Quality.ksStatistic(df, "g", "v", "a", "b"))
    for (nBins <- Seq(4, 16, 64); hi <- Seq(32.0, 64.0)) {
      val dBinned = dOf(Quality.ksBinnedStatistic(
        df, "g", "v", "a", "b", lo = 0.0, hi = hi, nBins = nBins))
      // reference max bin mass over both groups
      def binOf(v: Double) =
        math.min(math.max(math.floor(v / (hi / nBins)), -1.0), nBins.toDouble)
      val mass = Seq("a", "b").map { g =>
        val vs = rows.filter(_._1 == g).map(_._2)
        vs.groupBy(binOf).values.map(_.size.toDouble / vs.size).max
      }.max
      assert(dBinned <= dExact + 1e-12, s"nBins=$nBins hi=$hi: $dBinned > $dExact")
      assert(dExact <= dBinned + mass + 1e-12,
        s"nBins=$nBins hi=$hi: $dExact > $dBinned + $mass")
    }
    // resolution monotonicity on the planted shift: a fine grid sees at
    // least as much of the true D as a coarse one here
    val d4 = dOf(Quality.ksBinnedStatistic(df, "g", "v", "a", "b", 0.0, 64.0, 4))
    val d64 = dOf(Quality.ksBinnedStatistic(df, "g", "v", "a", "b", 0.0, 64.0, 64))
    assert(d4 <= d64 + 1e-12 && d64 <= dExact + 1e-12)
    // ksBinCol's NaN contract is enforced IN the operator: NaN (and
    // NULL) rows drop instead of silently miscounting the lowest bin —
    // the statistic over a NaN-polluted feed equals the clean one
    val polluted = (rows ++ Seq(("a", Double.NaN), ("b", Double.NaN)))
      .map { case (g, v) => (g, Option(v)) } ++ Seq(("a", None))
    val dPolluted = dOf(Quality.ksBinnedStatistic(
      polluted.toDF("g", "v"), "g", "v", "a", "b", 0.0, 64.0, 16))
    val dClean = dOf(Quality.ksBinnedStatistic(
      df, "g", "v", "a", "b", 0.0, 64.0, 16))
    assert(dPolluted == dClean, s"$dPolluted != $dClean")
  }

  test("Theil-Sen trend: exact on linear fixtures; robust where one corrupt bucket flips OLS") {
    import graft.operators.Quality
    import java.sql.Timestamp
    def ts(h: Int) = Timestamp.valueOf(f"2024-01-01 ${h}%02d:00:00")
    // clean linear series: every pairwise slope is exactly 3
    val up = (0 until 6).map(h => ("up", ts(h), 7L + 3L * h))
    // declining series plus ONE huge corrupted edge bucket: the median
    // pairwise slope stays exactly -2 (36 of 45 pairs are clean-clean),
    // while OLS — squared-x-weighted — flips sign on the same data
    val down = (0 until 9).map(h => ("down", ts(h), 100L - 2L * h)) :+
      (("down", ts(9), 10000L))
    val df = (up ++ down).toDF("k", "b", "n")
    val robust = Quality.theilSenFromBuckets(df, "k", "b", "n")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    assert(robust("up") == ((15L, 3.0, 0L)))
    assert(robust("down")._1 == 45L)
    assert(robust("down")._2 == -2.0 && robust("down")._3 == 1L, robust("down"))
    val ols = Quality.trendFromBuckets(df, "k", "b", "n")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("slope")).toMap
    assert(ols("down") > 0, s"OLS should flip under the corrupt bucket: ${ols("down")}")
  }

  test("buildDimDistributed assigns bitwise the same SKs as the window dense_rank") {
    def pin(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
        firstBy: Seq[org.apache.spark.sql.Column]): Unit = {
      val a = Star.buildDim(df, keys, "sk", firstBy)
        .orderBy("sk").collect().map(_.toSeq).toSeq
      val b = Star.buildDimDistributed(df, keys, "sk", firstBy)
        .orderBy("sk").collect().map(_.toSeq).toSeq
      assert(a == b, s"${a.take(3)} vs ${b.take(3)}")
    }
    // the real dim operand
    pin(Tables.customer(spark, sf), Seq("c_custkey"), Seq(col("c_custkey")))
    // dup-heavy fixture with a composite key and a keep-first tiebreak
    val fix = Seq(
      ("b", 2, "x1", 9), ("b", 2, "x0", 1), ("a", 1, "y", 5),
      ("c", 1, "z", 3), ("a", 2, "w", 4), ("a", 1, "y2", 2)
    ).toDF("k1", "k2", "v", "ord")
    pin(fix, Seq("k1", "k2"), Seq(col("ord")))
  }

  test("Theil-Sen horizon cap: a key past maxBuckets fails IN the plan, under it passes") {
    import graft.operators.Quality
    // B²/2 pairs per key is the quadratic multiplier the cap guards —
    // the rejection must fire at the eager checkpoint, before any pair
    // is produced (a driver require can't see the data-dependent B)
    val wide = spark.range(11)
      .select(lit("k1").as("k"),
        (lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
          .cast("timestamp") + expr("make_interval(0,0,0,0,id,0,0)")).as("b"),
        lit(7L).as("n"))
    val ex = intercept[Exception] {
      Quality.theilSenFromBuckets(wide, "k", "b", "n", maxBuckets = 10).collect()
    }
    def rootMsg(t: Throwable): String =
      (t.getMessage + Option(t.getCause).map(rootMsg).getOrElse(""))
    assert(rootMsg(ex).contains("theilSenFromBuckets"), rootMsg(ex).take(500))
    // exactly at the cap: passes, and the guard changes nothing
    val ok = Quality.theilSenFromBuckets(wide, "k", "b", "n", maxBuckets = 11)
      .collect()
    assert(ok.length == 1 && ok.head.getLong(1) == 55L && ok.head.getDouble(2) == 0.0)
  }

  test("OLS trend: exact slope on linear fixtures; single bucket yields null slope") {
    import graft.operators.Quality
    import java.sql.Timestamp
    def ts(h: Int) = Timestamp.valueOf(f"2024-01-01 ${h}%02d:00:00")
    val rows =
      (0 until 5).map(h => ("up", ts(h), 7L + 3L * h)) ++     // slope 3
      (0 until 5).map(h => ("down", ts(h), 100L - 2L * h)) ++ // slope -2
      (0 until 5).map(h => ("flat", ts(h), 42L)) ++
      Seq(("one", ts(0), 5L))
    val out = Quality.trendFromBuckets(rows.toDF("k", "b", "n"), "k", "b", "n")
      .select("k", "n_buckets", "slope", "declining")
      .as[(String, Long, Option[Double], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("up") == ((5L, Some(3.0), 0L)))
    assert(out("down") == ((5L, Some(-2.0), 1L)))
    assert(out("flat") == ((5L, Some(0.0), 0L)))
    assert(out("one") == ((1L, None, 0L)))
    // slope is invariant to the key's absolute time offset
    val shifted = (0 until 5).map(h => ("up", ts(h + 13), 7L + 3L * h))
    val s2 = Quality.trendFromBuckets(shifted.toDF("k", "b", "n"), "k", "b", "n")
      .select("slope").as[Option[Double]].collect().head
    assert(s2 == Some(3.0))
  }

  test("corrMatrix: exact ±1 on linear columns, null on constants, matches stat.corr") {
    import graft.operators.Quality
    val df = spark.range(1, 201).toDF("i")
      .withColumn("x", col("i").cast("double") / 4)
      .withColumn("y", col("i").cast("double") / 2 + 3) // y = 2x + 3
      .withColumn("z", lit(0.25) - col("i").cast("double") / 4) // z = -x + .25
      .withColumn("c", lit(7.0))
      .withColumn("w", (xxhash64(col("i")) % 1000).cast("double") / 100)
    val out = Quality.corrMatrix(df, Seq("x", "y", "z", "c", "w"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out(("x", "y")) == Some(1.0))   // exact: small exact operands
    assert(out(("x", "z")) == Some(-1.0))
    assert(out(("x", "c")).isEmpty && out(("c", "w")).isEmpty)
    val expected = df.stat.corr("x", "w")
    assert(math.abs(out(("x", "w")).get - expected) < 1e-12)
  }

  test("winsorize: clips exactly the tail mass; sum equals driver-side clipped sum") {
    import graft.operators.Curation
    // group g: 1..100 -> p05 = 5.95, p95 = 95.05 (linear interpolation);
    // 5 values clip low (1..5), 5 clip high (96..100)
    val rows = (1 to 100).map(v => ("g", v.toDouble)) ++
      Seq(("solo", 42.0))
    val out = Curation.winsorizeReport(rows.toDF("k", "v"), "k", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    val (n, lo5, hi5, sum, plo, phi) = out("g")
    assert(n == 100L && lo5 == 5L && hi5 == 5L)
    assert(plo == 5.95 && phi == 95.05)
    val ref = (1 to 100).map(v =>
      math.min(math.max(v.toDouble, 5.95), 95.05)).sum
    assert(math.abs(sum - ref) < 1e-9, s"$sum vs $ref")
    // single-row group: bounds collapse to the value, nothing clips
    assert(out("solo") == ((1L, 0L, 0L, 42.0, 42.0, 42.0)))
    // the approx-bounds scale path: at full accuracy on a small distinct
    // set the sketch is exact, so the whole report must match clip-for-clip
    val approx = Curation.winsorizeReport(rows.toDF("k", "v"), "k", "v",
        approxAccuracy = Some(10000))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    assert(approx("g")._1 == 100L && approx("g")._2 <= 6L && approx("g")._3 <= 6L)
    assert(approx("solo") == out("solo"))
    // a group whose values are ALL NULL stays VISIBLE (NULL bounds), as
    // the buffered-percentile form emitted it — exactByKey drops the key
    // from the bounds frame, so the report join must be LEFT
    val withNull = rows.map { case (k, v) => (k, Option(v)) } ++
      Seq(("ghost", None), ("ghost", None))
    val nul = Curation.winsorizeReport(withNull.toDF("k", "v"), "k", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(nul.contains("ghost"), s"all-NULL group dropped: ${nul.keySet}")
    assert(nul("ghost").getLong(1) == 2L && nul("ghost").isNullAt(5)
      && nul("ghost").isNullAt(6))
    assert(nul("g").getDouble(5) == 5.95 && nul("g").getDouble(6) == 95.05)
  }

  test("dq rules: every rule kind counts exactly its violations; nulls judged only by NotNull") {
    import graft.operators.Quality.{Rule, checkRules}
    val df = Seq(
      (Some(1L), Some(10.0), Some("O"), Some("1-URGENT")),
      (Some(1L), Some(-5.0), Some("X"), Some("bad")),   // dup key, low, bad set, bad pattern
      (Some(2L), Some(200.0), Some("F"), Some("5-LOW")), // high
      (None, None, None, None)                           // nulls: only NotNull fires
    ).toDF("k", "v", "st", "pr")
    val out = checkRules(df, Seq(
        Rule.NotNull("k"), Rule.Unique(Seq("k")),
        Rule.InRange("v", 0.0, 100.0), Rule.InSet("st", Seq("O", "F")),
        Rule.Matches("pr", "^[1-5]-")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("not_null(k)") == ((4L, 1L, 0L)))
    assert(out("unique(k)") == ((4L, 1L, 0L)))  // one surplus among non-null keys
    assert(out("in_range(v,0.0,100.0)") == ((4L, 2L, 0L)))
    assert(out("in_set(st)") == ((4L, 1L, 0L)))
    assert(out("matches(pr)") == ((4L, 1L, 0L)))
    // an all-clean suite passes
    val clean = checkRules(df.filter($"k" === 2L), Seq(Rule.NotNull("k")))
      .collect().head
    assert(clean.getLong(2) == 0L && clean.getLong(3) == 1L)
  }

  test("gap fill: planted gap zero-filled and carries the prior value; leading cells null") {
    import graft.operators.Temporal
    import java.sql.Timestamp
    def ts(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    // type a observed at hours 0 and 3 (gap at 1-2); type b first seen hour 2
    val hourly = Seq(
      (ts(0), "a", 5L, 10.0), (ts(3), "a", 2L, 30.0),
      (ts(2), "b", 1L, 7.0)
    ).toDF("h", "k", "n", "v")
    val out = Temporal.gapFill(hourly, "h", "k", "n", "v")
      .orderBy("k", "h")
      .as[(Timestamp, String, Long, Option[Double])].collect()
    assert(out.length == 8) // 4 hours x 2 keys
    val a = out.filter(_._2 == "a").map(r => (r._3, r._4))
    assert(a.toSeq == Seq((5L, Some(10.0)), (0L, Some(10.0)), (0L, Some(10.0)), (2L, Some(30.0))))
    val b = out.filter(_._2 == "b").map(r => (r._3, r._4))
    assert(b.toSeq == Seq((0L, None), (0L, None), (1L, Some(7.0)), (0L, Some(7.0))))
  }

  test("triangle census: hand graphs exact; degree-ordered equals naive on a pseudo-random graph") {
    import graft.operators.Graph
    def census(edges: Seq[(Long, Long)]) =
      Graph.transitivity(edges.toDF("x", "y"), "x", "y")
        .as[(Long, Long, Long, Option[Double])].collect().head
    // K4: 6 edges, 12 wedges, 4 triangles, transitivity 1.0
    assert(census(Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L)))
      == ((6L, 12L, 4L, Some(1.0))))
    // C4 square: 4 wedges, no triangles
    assert(census(Seq((1L,2L),(2L,3L),(3L,4L),(1L,4L))) == ((4L, 4L, 0L, Some(0.0))))
    // triangle + pendant: degrees (2,2,3,1) -> 5 wedges, 1 triangle
    assert(census(Seq((1L,2L),(2L,3L),(1L,3L),(3L,4L))) == ((4L, 5L, 1L, Some(3.0/5.0))))
    // no wedges -> NULL transitivity
    assert(census(Seq((1L, 2L))) == ((1L, 0L, 0L, None)))
    // pseudo-random 60-node graph (hash-derived, no rng): degree-ordered
    // forward count equals the naive id-ordered 3-way join
    val es = (for (a <- 1L to 60L; b <- (a + 1) to 60L
      if java.lang.Long.hashCode(a * 1000003L + b * 7919L) % 7 == 0) yield (a, b))
    val got = census(es)
    val e = es.toDF("a", "b")
    val naive = e.as("e1").join(e.as("e2"), $"e1.b" === $"e2.a")
      .join(e.as("e3"), $"e3.a" === $"e1.a" && $"e3.b" === $"e2.b")
      .count()
    assert(got._3 == naive, s"forward ${got._3} vs naive $naive")
    assert(got._1 == es.size.toLong)
  }

  test("every registered query returns rows on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"query $name returned no rows")
    }
  }

  test("oracle keys are a subset of query keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.prepares.keySet.subsetOf(SparkEntry.queries.keySet))
    // the frozen contract: the registry's names are the 263 of the last
    // correctness report, and the oracle-backed ones are exactly its
    // rows that had an oracle
    import scala.jdk.CollectionConverters._
    val report = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("CORRECTNESS_r15.json"))
    val frozen = report.fieldNames().asScala.toSet
    assert(SparkEntry.registry.map(_.name).toSet == frozen)
    assert(SparkEntry.queries.keySet == frozen)
    assert(SparkEntry.oracleSql.keySet ==
      frozen.filter(n => report.get(n).path("err").asText() != "no_oracle"))
    assert(SparkEntry.oracleSql.size == 226 && SparkEntry.prepares.size == 3)
    // a repeated name fails registry construction instead of shadowing
    val q1 = SparkEntry.registry.head
    val dup = intercept[IllegalArgumentException](
      SparkEntry.distinctNames(Seq(q1, q1.copy(oracle = None))))
    assert(dup.getMessage.contains(q1.name))
    // the oracle SQL itself, byte for byte
    val lines = SparkEntry.oracleSql.toSeq.sorted
      .map { case (n, sql) => s"$n\t$sql\n" }.mkString
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
    assert(digest == "354f843ceb2b616d7843c8694078e185fae265411089b908dedf40850b07d96d")
  }

  test("dedup_keep_best_cached equals dedup_keep_best with AND without the prepared cluster view") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .collect().map(_.mkString("|")).toSeq
    val full = rows("dedup_keep_best")
    // standalone (Verify posture): no view — self-builds, identical
    spark.catalog.dropTempView("graft_keep_best_clusters"): Unit
    assert(rows("dedup_keep_best_cached") == full)
    // prepared (Bench posture): argmax over the materialized view — identical
    SparkEntry.prepares("dedup_keep_best_cached")(spark, sf)
    assert(spark.catalog.tableExists("graft_keep_best_clusters"))
    assert(rows("dedup_keep_best_cached") == full)
    spark.catalog.dropTempView("graft_keep_best_clusters"): Unit
  }

  test("BPE merge learner: hand-verified merges, ties, overlap handling") {
    import graft.operators.TextAnalysis.learnBpeMerges
    // weighted argmax + cascade: (a,b)=25 wins, then the merged symbol
    // itself pairs, then the remainder; exhausts at 3 merges
    assert(learnBpeMerges(Seq(("abab", 10L), ("abc", 5L)), 10) ==
      Seq(("a", "b", "ab"), ("ab", "ab", "abab"), ("ab", "c", "abc")))
    // equal counts -> lexicographically smallest (left, right)
    assert(learnBpeMerges(Seq(("cd", 1L), ("ab", 1L)), 1) ==
      Seq(("a", "b", "ab")))
    // overlapping pair in "aaa": counted twice, merged left-to-right
    // non-overlapping ([aa, a]), then shortcut to the full word
    assert(learnBpeMerges(Seq(("aaa", 1L)), 5) ==
      Seq(("a", "a", "aa"), ("aa", "a", "aaa")))
    // k caps the merge count
    assert(learnBpeMerges(Seq(("abab", 10L), ("abc", 5L)), 1) ==
      Seq(("a", "b", "ab")))
  }

  test("learned-vocab tokenization is layout-independent and reconstructs the text") {
    import graft.operators.TextAnalysis
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val a = TextAnalysis.subwordsLearned(docs, "doc_id", "text", k = 40, maxTypes = 1000)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = TextAnalysis.subwordsLearned(docs.repartition(7), "doc_id", "text",
      k = 40, maxTypes = 1000).orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b) // histogram, learner, and apply are all layout-independent
    // pieces concatenate back to the whitespace-stripped lowercased text —
    // the segmentation property that holds for ANY vocab (fallback included)
    val recon = TextAnalysis.subwords(docs, "doc_id", "text",
      TextAnalysis.demoSubwordVocab)
      .join(docs, "doc_id")
      .where(regexp_replace(col("subwords"), " ", "") =!=
        regexp_replace(lower(col("text")), "\\s+", ""))
      .count()
    assert(recon == 0L)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("benford: digit ladder exact at band boundaries; fabricated uniform feed flagged") {
    import graft.operators.Quality
    // ladder correctness incl. the 10^k boundaries and sub-1 exclusion
    val vals = Seq(0.4, 1.0, 9.99, 10.0, 99.0, 100.0, 12345.6, 1e15 + 1)
      .map(Tuple1(_)).toDF("v")
    val digits = Quality.benfordReport(vals, "v")
      .select("digit", "n_obs").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 0.4 drops; 1.0/10.0/100.0/1e15+1 -> digit 1 (x4), 9.99/99.0 -> 9 (x2), 12345.6 -> 1
    assert(digits == Map(1L -> 5L, 9L -> 2L))
    // a uniform [100, 999] fabricated feed has flat 1/9 digit shares:
    // digit 1 (benford 0.301) must flag, mid digits must overshoot
    val fab = (100 to 999).map(i => Tuple1(i.toDouble)).toDF("v")
    val rep = Quality.benfordReport(fab, "v").collect()
    val d1 = rep.find(_.getLong(0) == 1L).get
    assert(d1.getBoolean(rep.head.fieldIndex("flagged")), d1)
    assert(math.abs(d1.getDouble(d1.fieldIndex("obs_share")) - 1.0 / 9.0) < 1e-12)
    // a Benford-exact feed (counts proportional to log10(1+1/d)) passes
    val ben = (1 to 9).flatMap(d =>
      Seq.fill(math.round(Quality.benfordP(d - 1) * 10000).toInt)(
        Tuple1(d * 100.0))).toDF("v")
    val rep2 = Quality.benfordReport(ben, "v").collect()
    assert(rep2.forall(!_.getBoolean(rep2.head.fieldIndex("flagged"))),
      rep2.mkString("\n"))
  }

  test("Quantiles.exactByKey equals buffered percentile BITWISE (real + adversarial frames)") {
    import graft.operators.Quantiles
    val ps = Seq("p0" -> 0.0, "p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75,
      "p95" -> 0.95, "p100" -> 1.0)
    def oracle(df: org.apache.spark.sql.DataFrame, k: String, v: String) =
      df.groupBy(col(k))
        .agg(count(col(v)).as("n"),
          ps.map { case (nm, p) => expr(s"percentile($v, $p)").as(nm) }: _*)
    def pin(df: org.apache.spark.sql.DataFrame, k: String, v: String,
        tag: String): Unit = {
      val got = Quantiles.exactByKey(df, k, v, ps)
        .orderBy(k).collect().map(_.toSeq).toSeq
      val want = oracle(df, k, v)
        .filter(col("n") > 0).orderBy(k).collect().map(_.toSeq).toSeq
      // bitwise: compare raw doubles via their exact bits, not tolerance
      assert(got.size == want.size, s"$tag row count")
      got.zip(want).foreach { case (g, w) =>
        assert(g.size == w.size, tag)
        g.zip(w).foreach {
          case (a: Double, b: Double) =>
            assert(java.lang.Double.doubleToRawLongBits(a) ==
              java.lang.Double.doubleToRawLongBits(b), s"$tag: $a != $b in $g vs $w")
          case (a, b) => assert(a == b, s"$tag: $g vs $w")
        }
      }
    }
    // real frame: the price_percentiles operand
    pin(Tables.lineitem(spark, sf).select("l_returnflag", "l_extendedprice"),
      "l_returnflag", "l_extendedprice", "lineitem")
    // adversarial: heavy ties, a singleton group, negative values, a
    // group whose values are one repeated constant, fractional positions
    // landing on and between ties
    val adv = (
      Seq.tabulate(101)(i => ("ties", (i % 7).toDouble)) ++
        Seq(("one", 42.0)) ++
        Seq(("neg", -5.5), ("neg", -1.25), ("neg", -9.75), ("neg", -1.25)) ++
        Seq.fill(9)(("const", 3.14)) ++
        Seq.tabulate(10)(i => ("two", if (i < 5) 1.0 else 2.0))
      ).toDF("k", "v")
    pin(adv, "k", "v", "adversarial")
    // nulls drop; an all-null key contributes no row
    val withNulls = Seq(("a", Some(1.0)), ("a", None), ("a", Some(2.0)),
      ("b", None)).toDF("k", "v")
    pin(withNulls, "k", "v", "nulls")
    // ungrouped face
    val one = Quantiles.exact(
      Tables.lineitem(spark, sf).select("l_extendedprice"),
      "l_extendedprice", Seq("p50" -> 0.5)).head()
    val oneWant = Tables.lineitem(spark, sf)
      .agg(expr("percentile(l_extendedprice, 0.5)")).head().getDouble(0)
    assert(java.lang.Double.doubleToRawLongBits(one.getDouble(1)) ==
      java.lang.Double.doubleToRawLongBits(oneWant))
  }

  test("bottom-k quantile sketch: semilattice merge, exact-at-small-n, sample-percentile parity, rank error") {
    import graft.operators.Quantiles
    val k = 128
    val li = Tables.lineitem(spark, sf).select(
      col("l_returnflag").as("g"),
      concat(col("l_orderkey").cast("string"), lit(":"),
        col("l_linenumber").cast("string")).as("id"),
      col("l_extendedprice").as("v"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("g"), col("sketch.n"),
        col("sketch.hs").cast("string"), col("sketch.vs").cast("string"))
      .orderBy("g").collect().map(_.toSeq).toSeq
    // SEMILATTICE: per-shard sketches merged == the direct sketch,
    // bitwise, under TWO different shardings (merge order irrelevant)
    val direct = rows(Quantiles.sketchByKey(li, "g", "v", "id", k))
    for (nShards <- Seq(3, 8)) {
      val sharded = li.withColumn("s",
        pmod(xxhash64(col("id")), lit(nShards.toLong)))
      val perShard = Quantiles.sketchByKey(
        sharded.withColumn("g2", concat(col("g"), lit("|"), col("s"))),
        "g2", "v", "id", k)
        .select(split(col("g2"), "\\|").getItem(0).as("g"), col("sketch"))
      assert(rows(Quantiles.sketchMerge(perShard, "g", "sketch", k)) == direct,
        s"merge of $nShards shards != direct sketch")
    }
    // EXACT at n <= k: the sample IS the population, so the estimate is
    // bitwise the exact percentile
    val small = li.limit(100)
    val est = Quantiles.sketchByKey(small, "g", "v", "id", k)
      .select(col("g"), Quantiles.sketchQuantile(col("sketch"), 0.25).as("q"))
      .orderBy("g").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = small.groupBy("g").agg(expr("percentile(v, 0.25)").as("q"))
      .orderBy("g").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(est.keySet == want.keySet)
    est.foreach { case (g, q) =>
      assert(java.lang.Double.doubleToRawLongBits(q) ==
        java.lang.Double.doubleToRawLongBits(want(g)), s"$g: $q != ${want(g)}") }
    // SAMPLE-PERCENTILE parity: sketchQuantile (element_at interpolation
    // in percentile's written order) == percentile over the exploded
    // sample, bitwise — the formula contract the oracle relies on
    val sk = Quantiles.sketchByKey(li, "g", "v", "id", k).localCheckpoint(true)
    val viaCol = sk.select(col("g"),
        Quantiles.sketchQuantile(col("sketch"), 0.95).as("q"))
      .orderBy("g").collect().map(r => r.getString(0) -> r.getDouble(1))
    val viaAgg = sk.select(col("g"), explode(col("sketch.vs")).as("v"))
      .groupBy("g").agg(expr("percentile(v, 0.95)").as("q"))
      .orderBy("g").collect().map(r => r.getString(0) -> r.getDouble(1))
    assert(viaCol.zip(viaAgg).forall { case ((g1, a), (g2, b)) =>
      g1 == g2 && java.lang.Double.doubleToRawLongBits(a) ==
        java.lang.Double.doubleToRawLongBits(b) }, s"$viaCol vs $viaAgg")
    // RANK ERROR: the estimate's true CDF position stays near p (DKW at
    // k=128 gives ~0.12 w.h.p.; deterministic here, so pin the bound)
    val n = li.count().toDouble
    for (p <- Seq(0.25, 0.5, 0.95)) {
      val e = Quantiles.sketchByKey(li, "g", "v", "id", k)
        .select(col("g"), Quantiles.sketchQuantile(col("sketch"), p).as("q"))
        .collect().map(r => r.getString(0) -> r.getDouble(1))
      e.foreach { case (g, q) =>
        val below = li.filter(col("g") === g && col("v") <= q).count().toDouble
        val ng = li.filter(col("g") === g).count().toDouble
        assert(math.abs(below / ng - p) < 0.15,
          s"g=$g p=$p: rank ${below / ng} (n=$ng of $n)")
      }
    }
    org.apache.spark.sql.graft.Bridge.unpersistCheckpoints(sk)
  }

  test("exactFromCounts state cap: a key past maxDistinctPerKey fails IN the plan") {
    import graft.operators.Quantiles
    // state is the distinct (key, value) domain — the cap must fire on
    // the rollup, before the prefix-sum checkpoint materializes it (a
    // driver require can't see the data-dependent domain size)
    val counts = (
      (1 to 12).map(v => ("wide", v.toDouble, 1L)) ++
        (1 to 5).map(v => ("narrow", v.toDouble, 2L))
      ).toDF("k", "v", "c")
    val ex = intercept[Exception] {
      Quantiles.exactFromCounts(counts, "k", "v", "c",
        Seq("p50" -> 0.5), maxDistinctPerKey = 10L).collect()
    }
    def rootMsg(t: Throwable): String =
      (t.getMessage + Option(t.getCause).map(rootMsg).getOrElse(""))
    assert(rootMsg(ex).contains("exactFromCounts"), rootMsg(ex).take(500))
    // exactly at the cap: passes, and the guard changes nothing bitwise
    val guarded = Quantiles.exactFromCounts(counts, "k", "v", "c",
      Seq("p50" -> 0.5), maxDistinctPerKey = 12L).orderBy("k").collect()
    val plain = Quantiles.exactFromCounts(counts, "k", "v", "c",
      Seq("p50" -> 0.5)).orderBy("k").collect()
    assert(guarded.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)
  }
}
