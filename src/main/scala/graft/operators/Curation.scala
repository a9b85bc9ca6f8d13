package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{shingles, wsTokens}

/** Corpus-composition operators — the last-mile steps that turn a curated
  * document pool into a training mix: per-source mixture sampling and
  * fixed-budget sequence packing.
  */
object Curation {

  /** Deterministic mixture (down)sampling: keep each document with its
    * source's target probability. The keep/drop decision is an
    * md5-derived uniform draw on the DOC ID — no rand() (retried tasks
    * must agree), engine-portable (md5 agrees everywhere, so the sample
    * is oracle-checkable), and per-row independent, so the operator is a
    * ZERO-SHUFFLE filter at scan speed (contrast exact-k stratified
    * sampling, which needs a per-group top-k). Because the draw is keyed
    * on the doc id, re-runs and incremental loads keep/drop the SAME
    * documents — the mixture stays idempotent across pipeline runs. */
  def mixtureSample(docs: DataFrame, sourceCol: String, idCol: String,
      weights: Map[String, Double], defaultWeight: Double): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(w => w >= 0.0 && w <= 1.0),
      "weights must be probabilities in [0, 1]")
    // uniform draw in [0, 2^32): first 8 md5 hex chars of the id
    val draw = conv(substring(md5(col(idCol).cast(StringType)), 1, 8), 16, 10)
      .cast(LongType)
    val weight = weights.foldLeft(lit(defaultWeight): Column) {
      case (acc, (s, w)) => when(col(sourceCol) === s, lit(w)).otherwise(acc)
    }
    docs.filter(draw < (weight * lit(4294967296L)).cast(LongType))
  }

  /** Exact-k weighted sampling without replacement: each row draws a
    * deterministic uniform u ∈ [0, 2^32) from the md5 of its id and
    * competes with integer priority `u div w`, where w is its source's
    * positive integer weight — the k SMALLEST priorities are the sample,
    * so a weight-8 row's draw is scaled into a range 8× tighter than a
    * weight-1 row's and wins accordingly more often. Where
    * [[mixtureSample]] keeps an EXPECTED fraction per source, this keeps
    * an EXACT global k with per-row odds monotonically increasing in
    * weight (the textbook A-ES scheme's u^(1/w) key would make the odds
    * exactly proportional, but pow/log rounding is not engine-portable;
    * the integer-division priority trades exact proportionality for
    * bit-exact portability and is spec-pinned monotone + deterministic).
    * Plan shape: a TakeOrdered over a scan — zero shuffle, no rand(),
    * idempotent across re-runs and incremental loads (the same id always
    * draws the same priority). */
  def weightedSampleK(docs: DataFrame, idCol: String, sourceCol: String,
      weights: Map[String, Long], defaultWeight: Long, k: Int): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(_ >= 1L),
      "weights must be positive integers")
    require(k >= 1, s"need k >= 1, got $k")
    val u = conv(substring(md5(col(idCol).cast(StringType)), 1, 8), 16, 10)
      .cast(LongType)
    // sorted fold keeps the when-chain (and the generated oracle CASE)
    // in one deterministic order
    val weight = weights.toSeq.sortBy(_._1).foldLeft(lit(defaultWeight): Column) {
      case (acc, (s, w)) => when(col(sourceCol) === s, lit(w)).otherwise(acc)
    }
    docs
      .withColumn("weight", weight.cast(LongType))
      .withColumn("__u", u)
      .withColumn("priority", expr("__u div weight"))
      .drop("__u")
      .orderBy(col("priority"), col(idCol))
      .limit(k)
  }

  /** The DuckDB-side weight expression for [[weightedSampleK]] oracles,
    * generated from the SAME weights map so the two engines cannot
    * drift (the zvalueSql one-source-two-engines pattern). */
  def weightCaseSql(sourceCol: String, weights: Map[String, Long],
      defaultWeight: Long): String = {
    val arms = weights.toSeq.sortBy(_._1).reverse
      .map { case (s, w) => s"WHEN $sourceCol = '$s' THEN $w" }
      .mkString(" ")
    s"CASE $arms ELSE $defaultWeight END"
  }

  /** Token-budget epoch planning — the "data recipe" calculator run
    * before a training job: given per-source natural token mass, target
    * mixture weights and a total token budget, how many tokens each
    * source contributes and how many EPOCHS (repeats) of it that
    * implies. All-BIGINT arithmetic (`div`, ceil via the add-then-div
    * identity) so the plan is engine-portable; the weight sum rides a
    * window over the source-level frame (sources are few — the
    * segment_distribution share pattern). The corpus-sized work is ONE
    * map-side-combined per-source token rollup. */
  def epochPlan(docs: DataFrame, sourceCol: String, textCol: String,
      weights: Map[String, Long], defaultWeight: Long,
      budget: Long): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(_ >= 1L),
      "weights must be positive integers")
    require(budget >= 1L, s"need budget >= 1, got $budget")
    val weight = weights.toSeq.sortBy(_._1).foldLeft(lit(defaultWeight): Column) {
      case (acc, (s, w)) => when(col(sourceCol) === s, lit(w)).otherwise(acc)
    }
    docs
      .groupBy(col(sourceCol))
      .agg(sum(size(wsTokens(col(textCol))).cast(LongType)).as("n_tokens"))
      .withColumn("weight", weight.cast(LongType))
      .withColumn("__sw",
        sum(col("weight")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("target_tokens", expr(s"($budget * weight) div __sw"))
      .withColumn("epochs",
        expr("(target_tokens + n_tokens - 1) div n_tokens"))
      .drop("__sw")
  }

  /** Temperature-scaled source mixing at α = 1/2 — the multilingual /
    * multi-domain sampling-weight recipe (p_i^α re-normalized) that
    * upweights small sources relative to their natural share. α is
    * FIXED at 1/2 deliberately: sqrt is IEEE-correctly-rounded on both
    * engines, where a general pow(x, α) is a libm call with no
    * cross-engine rounding contract — the weightedSampleK tradeoff
    * (bit-exact portability over free parameterization) applied to
    * mixing. The corpus-sized work is ONE token rollup; the weight sum
    * accumulates the sqrt weights EXACTLY in DECIMAL over the tiny
    * source frame (order-independent — the embedding_centroids parity
    * pattern), shares are single IEEE divisions of identical operands,
    * and the per-source token target is an exact floor. */
  def temperatureMix(docs: DataFrame, sourceCol: String, textCol: String,
      budget: Long): DataFrame = {
    require(budget >= 1L, s"need budget >= 1, got $budget")
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    docs
      .groupBy(col(sourceCol))
      .agg(sum(size(wsTokens(col(textCol))).cast(LongType)).as("n_tokens"))
      .withColumn("weight", sqrt(col("n_tokens").cast(DoubleType)))
      .withColumn("__sw",
        sum(col("weight").cast(DecimalType(28, 12))).over(all)
          .cast(DoubleType))
      .withColumn("__sn", sum(col("n_tokens")).over(all))
      .select(col(sourceCol), col("n_tokens"), col("weight"),
        (col("n_tokens").cast(DoubleType) / col("__sn").cast(DoubleType))
          .as("natural_share"),
        (col("weight") / col("__sw")).as("temp_share"),
        floor((col("weight") / col("__sw")) * lit(budget.toDouble))
          .cast(LongType).as("target_tokens"))
  }

  /** Greedy sequence packing: chunks are ordered deterministically within
    * each group and assigned to fixed-token-budget training sequences by
    * running token count — seq_id = tokens_before / budget. This is the
    * packing step that turns variable-length chunks into dense
    * fixed-length pretraining sequences (minimal padding); a chunk that
    * straddles a boundary stays in the earlier sequence, so a sequence
    * can exceed the budget by less than one chunk (the trainer then
    * splits or pads — the standard greedy contract). The running sum is
    * integer-exact.
    *
    * SCALE: with `shards = 1` the window partitions by `groupCol` alone —
    * every chunk of a source funnels through ONE task for the cumulative
    * sum, which is a serial scan of the whole corpus when there are only
    * a handful of sources. Pass `shards > 1` to pack within
    * `(groupCol, shard)`, where shard is a deterministic md5 bucket of
    * the leading order column (the document key), so whole documents stay
    * together and the running sums parallelize across `shards` tasks per
    * source. Sequence identity is then `(groupCol, shard, seq_id)` — the
    * `shard` column is kept in the output. Packing per shard is the real
    * pipeline contract anyway (sequences are materialized per output
    * file/shard), and the md5 bucket keeps assignment reproducible across
    * re-runs and engines (no rand(), no partition-id dependence). */
  def packSequences(chunks: DataFrame, groupCol: String,
      orderCols: Seq[String], tokenCol: String, budget: Long,
      shards: Int = 1): DataFrame = {
    require(budget >= 1, s"need budget >= 1, got $budget")
    require(shards >= 1, s"need shards >= 1, got $shards")
    val sharded = shards > 1
    val withShard =
      if (!sharded) chunks
      else chunks.withColumn("shard",
        conv(substring(md5(col(orderCols.head).cast(StringType)), 1, 8), 16, 10)
          .cast(LongType) % shards)
    val partCols = if (sharded) Seq(col(groupCol), col("shard")) else Seq(col(groupCol))
    val w = Window.partitionBy(partCols: _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withShard
      .withColumn("__cum", sum(col(tokenCol)).over(w))
      .withColumn("seq_id",
        floor((col("__cum") - col(tokenCol)) / budget).cast(LongType))
      .drop("__cum")
  }

  /** Best-fit-decreasing sequence packing — the bin-packing upgrade of
    * [[packSequences]]: where the greedy running-sum pack lets a chunk
    * straddle a boundary (sequences can exceed the budget by one chunk),
    * BFD guarantees every multi-chunk sequence fits the budget AND
    * approaches the optimal bin count (the classic FFD/BFD <= 11/9 OPT + 1
    * bound): chunks sort by token count DESCENDING and each goes into the
    * fullest open bin that still fits it, else opens a new bin. A chunk
    * larger than the budget gets a bin of its own (the trainer truncates).
    *
    * Why `mapPartitions` (the documented last resort, justified here):
    * bin state is inherently sequential — each placement depends on every
    * earlier one — so no window/aggregate expresses it. The imperative
    * region is as small as the problem allows: chunks repartition by
    * (group, shard) and sort within partitions, then ONE pass with a
    * TreeMap keyed by remaining capacity (O(log bins) best-fit per chunk)
    * that resets at every (group, shard) run boundary. Parallelism and
    * output identity are exactly [[packSequences]]' sharded contract:
    * `shards` independent packers per group, `(group, shard, seq_id)`
    * identity, md5 shard assignment (deterministic, no partition-id
    * dependence) — so results are bit-stable across partitionings.
    *
    * Determinism of the packing itself: the intake order is a total order
    * (tokens desc, then `orderCols`), and a remaining-capacity tie picks
    * the lowest bin id. */
  def packSequencesBfd(chunks: DataFrame, groupCol: String,
      orderCols: Seq[String], tokenCol: String, budget: Long,
      shards: Int = 1): DataFrame = {
    require(budget >= 1, s"need budget >= 1, got $budget")
    require(shards >= 1, s"need shards >= 1, got $shards")
    val withShard = chunks.withColumn("shard",
      if (shards == 1) lit(0L)
      else conv(substring(md5(col(orderCols.head).cast(StringType)), 1, 8), 16, 10)
        .cast(LongType) % shards)
    val sorted = withShard
      .repartition(col(groupCol), col("shard"))
      .sortWithinPartitions(
        (Seq(col(groupCol), col("shard")) ++
          (col(tokenCol).desc +: orderCols.map(col))): _*)
    val schema = sorted.schema
    val gIdx = schema.fieldIndex(groupCol)
    val sIdx = schema.fieldIndex("shard")
    val tIdx = schema.fieldIndex(tokenCol)
    val outSchema = schema.add("seq_id", org.apache.spark.sql.types.LongType)
    sorted.mapPartitions { it =>
      // remaining capacity -> bin ids at that remaining (lowest id wins)
      var bins: java.util.TreeMap[Long, java.util.TreeSet[Long]] = null
      var nextBin = 0L
      var curKey: (Any, Long) = null
      it.map { row =>
        val key = (row.get(gIdx), row.getLong(sIdx))
        if (key != curKey) {
          curKey = key
          bins = new java.util.TreeMap
          nextBin = 0L
        }
        val n = row.getAs[Number](tIdx).longValue()
        val entry = bins.ceilingEntry(n)
        val bin = if (entry == null) {
          val b = nextBin; nextBin += 1
          val rem = budget - n
          if (rem > 0)
            bins.computeIfAbsent(rem, _ => new java.util.TreeSet).add(b)
          b
        } else {
          val ids = entry.getValue
          val b = ids.first()
          ids.remove(b)
          if (ids.isEmpty) bins.remove(entry.getKey)
          val rem = entry.getKey - n
          if (rem > 0)
            bins.computeIfAbsent(rem, _ => new java.util.TreeSet).add(b)
          b
        }
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ bin)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): every document is scored
    * by how much more likely its hashed n-gram features are under a TARGET
    * corpus (the domain you want more of) than under the RAW pool. Features
    * are unigrams + bigrams hashed into `buckets` buckets; with add-1
    * smoothing,
    *   lam(b) = ln( (c_target(b)+1)/(N_target+B) / ((c_raw(b)+1)/(N_raw+B)) )
    * and a document's score is the sum of lam over its feature stream
    * (selection then keeps the top-weight documents, or samples by weight).
    *
    * Scale shape: the bucket count tables are FIXED-SIZE (B rows, built by
    * one map-side-partial hash aggregate over the gram stream — target and
    * raw counted in the same pass), so they BROADCAST to the scoring scan;
    * the only data-sized shuffle is the per-document rollup. Engine
    * parity: buckets come from an md5-prefix draw (the [[mixtureSample]]
    * convention — no engine-private hash), each gram's lam is rounded to
    * 6 dp (the transcendental convention) and the per-doc sum accumulates
    * in DECIMAL, so scores are oracle-exact.
    *
    * Rejected alternative, measured: a single-scan variant (per-(doc,
    * bucket) counts shuffled once, both aggregates re-derived from that
    * table over a reused Exchange) was a WASH at sf0.1 (2.63 vs 2.53 s
    * min-of-3) — with buckets >> grams-per-doc the (doc, bucket) table
    * compresses almost nothing map-side, so it trades the cheap
    * recomputed tokenize/md5 map work for an equal-sized extra shuffle.
    * The two-pass shape stands: recompute beats shuffle here, at any
    * scale where shuffle IO is the scarce resource. */
  def dsirWeights(docs: DataFrame, isTarget: Column, idCol: String,
      textCol: String, buckets: Int = 4096): DataFrame = {
    require(buckets >= 2, s"need buckets >= 2, got $buckets")
    val toks = wsTokens(col(textCol))
    // the hashed gram stream feeds TWO consumers (the per-bucket count
    // rollup and the per-doc score join) — checkpoint it so the
    // tokenize->gram-explode->md5 pipeline runs once, not per consumer
    // (the multi-consumer re-scan rule). Rows are (id, bool, bucket) —
    // ~17 B/gram, far narrower than the text they derive from.
    val grams = org.apache.spark.sql.graft.Bridge.checkpoint(docs
      .select(col(idCol), isTarget.as("__t"),
        explode(concat(shingles(toks, 1), shingles(toks, 2))).as("__g"))
      .withColumn("__b",
        conv(substring(md5(col("__g")), 1, 8), 16, 10).cast(LongType) % buckets)
      .select(col(idCol), col("__t"), col("__b")))
    val cnt = grams.groupBy("__b").agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("__ct"),
      sum(when(!col("__t"), 1L).otherwise(0L)).as("__cr"))
    val tot = cnt.agg(
      sum(col("__ct")).as("__nt"), sum(col("__cr")).as("__nr"))
    grams
      .join(broadcast(cnt), Seq("__b"))
      .crossJoin(broadcast(tot))
      .withColumn("__lam", round(log(
        ((col("__ct") + 1).cast(DoubleType) /
          (col("__nt") + buckets).cast(DoubleType)) /
          ((col("__cr") + 1).cast(DoubleType) /
            (col("__nr") + buckets).cast(DoubleType))), 6))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_feats"),
        sum(col("__lam").cast(DecimalType(28, 12)))
          .cast(DoubleType).as("dsir_score"))
  }

  /** Deterministic global shuffle into training shards — the step between
    * a curated corpus and a training run: SGD wants documents in random
    * order, and at 100 TB "random order" must mean a seeded permutation
    * computed where the data lives, not a driver-side shuffle or a
    * `rand()` that retried tasks re-roll differently.
    *
    * Each row draws a uniform 32-bit key from md5(id ':' seed) (the
    * repo's engine-portable hash idiom — no rand(), idempotent across
    * retries and re-runs, different seed → independent permutation),
    * takes `key % nShards` as its shard, and its position within the
    * shard from ordering by (key, id) — the (shard, pos) pairs are a
    * permutation of the corpus, so a reader consuming shards
    * sequentially sees the seeded global order. Shape: ONE hash
    * Exchange on the shard key + an in-partition sort — exactly the
    * physical plan of the shard writer it models (repartition +
    * sortWithinPartitions + per-file position); no global sort, no
    * driver state, shard skew bounded by the md5 uniformity. */
  /** Sequence-length bucketing report — the batch-shape planning twin of
    * [[packSequences]]: when a trainer pads each example to a fixed bucket
    * boundary instead of packing, how many tokens does each bucket waste?
    * Buckets are the doubling ladder `boundaries` (every doc lands in the
    * smallest boundary >= its token count; docs past the last boundary are
    * TRUNCATED to it — padded = boundary, waste = 0, the overflow counted
    * in `truncated_tokens`). Reported per bucket: docs, real tokens,
    * padded tokens, waste, truncation loss — all exact BIGINTs, so the
    * padding-vs-packing decision is engine-portable arithmetic.
    *
    * Shape: one scan computing per-doc sizes inside codegen, one
    * map-side-combined groupBy on the (few-valued) bucket key — the
    * Exchange carries buckets x partitions rows at any corpus size. */
  def lengthBuckets(docs: DataFrame, textCol: String,
      boundaries: Seq[Int] = Seq(16, 32, 64, 128, 256, 512, 1024)): DataFrame = {
    require(boundaries.nonEmpty && boundaries == boundaries.sorted,
      s"need ascending non-empty boundaries, got $boundaries")
    val n = size(graft.functions.wsTokens(col(textCol))).cast(LongType)
    val last = boundaries.last.toLong
    val bucket = boundaries.init.reverse.foldLeft(lit(last)) {
      (acc, b) => when(n <= b, lit(b.toLong)).otherwise(acc)
    }
    docs
      .select(n.as("n"), bucket.as("bucket"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(least(col("n"), lit(last))).as("kept_tokens"),
        (count(lit(1)) * col("bucket")).as("padded_tokens"),
        sum(col("bucket") - least(col("n"), lit(last))).as("waste_tokens"),
        sum(greatest(col("n") - lit(last), lit(0L))).as("truncated_tokens"))
      .orderBy("bucket")
  }

  def shuffleShards(docs: DataFrame, idCol: String, nShards: Int,
      seed: Long): DataFrame = {
    require(nShards >= 1, s"need nShards >= 1, got $nShards")
    val key = conv(substring(
        md5(concat(col(idCol).cast(StringType), lit(":" + seed))), 1, 8),
      16, 10).cast(LongType)
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__key"), col(idCol))
    docs
      .withColumn("__key", key)
      .withColumn("shard", col("__key") % nShards)
      .withColumn("pos", row_number().over(w).cast(LongType))
      .drop("__key")
  }

  /** Per-group winsorization report — outlier CLIPPING (not removal), the
    * feature-engineering twin of the quality gate: numeric features are
    * clipped to their group's [pLo, pHi] exact percentiles before
    * modeling so a fat-tailed minority can't dominate a scale-sensitive
    * consumer. Emits per group: n, clip counts on each side, the
    * winsorized sum, and the bounds themselves.
    *
    * Exactness: the percentile bounds are exact (`percentile` ↔ DuckDB
    * `quantile_cont`, the proven price_percentiles parity); the clipped
    * sum deliberately NEVER casts an interpolated bound to decimal —
    * in-range values (fixed-point money) accumulate as exact DECIMAL,
    * and the clipped mass enters through the fixed IEEE tail
    * `mid + n_lo·lo + n_hi·hi` evaluated in one written order on both
    * engines (the double→decimal cast of a full-mantissa bound is
    * exactly where engines drift a ulp).
    *
    * SCALE: exact bounds come from [[Quantiles.exactByKey]] — the
    * distributed prefix-sum rank path, no per-group value buffer (the
    * old buffered-`percentile` form heap-OOMed at ~15M distinct doubles;
    * approx_percentile remains the cheap sketch alternative); the bounds
    * frame is GROUP-sized and broadcasts back onto the scan, so clip +
    * rollup stay map-side (partial-aggregated) and nothing data-sized
    * shuffles twice. */
  def winsorizeReport(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95,
      approxAccuracy: Option[Int] = None): DataFrame = {
    require(0.0 <= pLo && pLo < pHi && pHi <= 1.0, s"bad [$pLo, $pHi]")
    // Exact bounds ride the DISTRIBUTED quantile machinery
    // (Quantiles.exactByKey — prefix-sum ranks, no per-group buffer):
    // bitwise the buffered-`percentile` statistic, minus its measured
    // ~15M-distinct-doubles single-reducer heap boundary. approxAccuracy
    // remains the cheapest path when sketch bounds suffice
    // (approx_percentile: bounded KLL-style state, map-side merge — one
    // aggregate, no rank shuffles). The clip/rollup half is identical
    // either way.
    val bounds = approxAccuracy match {
      case Some(acc) => df.groupBy(col(groupCol))
        .agg(
          expr(s"approx_percentile($valueCol, $pLo, $acc)").as("lo"),
          expr(s"approx_percentile($valueCol, $pHi, $acc)").as("hi"))
      case None => Quantiles.exactByKey(
          df.select(col(groupCol), col(valueCol)),
          groupCol, valueCol, Seq("lo" -> pLo, "hi" -> pHi))
        .select(col(groupCol), col("lo"), col("hi"))
    }
    // LEFT join: Quantiles.exactByKey emits no row for a group whose
    // values are all NULL, but such groups must stay VISIBLE in the
    // report (NULL bounds, NULL clip counts) exactly as the buffered
    // percentile aggregate emitted them — a report that silently drops
    // groups reads as "no such group" rather than "nothing to clip"
    df.join(broadcast(bounds), Seq(groupCol), "left")
      .select(col(groupCol), col("lo"), col("hi"),
        (col(valueCol) < col("lo")).cast(LongType).as("cl"),
        (col(valueCol) > col("hi")).cast(LongType).as("ch"),
        when(col(valueCol) >= col("lo") && col(valueCol) <= col("hi"),
          col(valueCol)).otherwise(lit(0.0)).as("mid"))
      .groupBy(col(groupCol), col("lo"), col("hi"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("cl")).as("n_clipped_lo"),
        sum(col("ch")).as("n_clipped_hi"),
        graft.functions.sumExact(col("mid"), 28, 6).as("mid_sum"))
      .select(col(groupCol), col("n"), col("n_clipped_lo"),
        col("n_clipped_hi"),
        (col("mid_sum") + col("n_clipped_lo").cast(DoubleType) * col("lo") +
          col("n_clipped_hi").cast(DoubleType) * col("hi"))
          .as("sum_winsorized"),
        col("lo").as("p_lo"), col("hi").as("p_hi"))
  }
}
