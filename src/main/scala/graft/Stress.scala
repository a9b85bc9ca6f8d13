package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Scale harness: multiplies the documents/embeddings corpora in-memory
  * (ids remapped per replica; texts perturbed per replica so near-dup
  * structure stays realistic instead of exploding into giant exact-dup
  * cliques) and times the scale-sensitive operators. Used to check the
  * growth curve of the self-join family beyond the driver's sf0.1.
  * Usage: runMain graft.Stress [sfDir] [factor]
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 20
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-stress")

    // replicate docs: each replica gets distinct ids and a replica-tagged
    // first token, so cross-replica pairs are near-dups (not exact dups)
    // and per-replica planted pairs survive — the shingle-frequency shape
    // stays realistic under the multiplier
    val docs0 = Tables.documents(spark, sfDir)
    val n = docs0.count()
    val docs = docs0
      .crossJoin(spark.range(factor).toDF("rep"))
      .select(
        (col("doc_id") + col("rep") * n).as("doc_id"),
        concat(lit("r"), col("rep"), lit(" "), col("text")).as("text"))
      .repartition(64) // the replica crossJoin inherits the single-file scan's
                       // 1-2 partitions; spread before measuring
      .localCheckpoint(true)
    println(s"[stress] documents: ${docs.count()} (x$factor)")

    val emb0 = Tables.embeddings(spark, sfDir)
    val ne = emb0.count()
    val emb = emb0
      .crossJoin(spark.range(factor).toDF("rep"))
      .select(
        (col("vec_id") + col("rep") * ne).as("vec_id"),
        col("embedding"),
        (col("label") + col("rep") * lit(100)).cast("int").as("label"))
      .repartition(64)
      .localCheckpoint(true)
    println(s"[stress] embeddings: ${emb.count()} (x$factor)")

    // optional op filter: remaining args select which timings run
    val only: Set[String] = args.drop(2).toSet
    def time(name: String)(f: => Long): Unit =
      if (only.isEmpty || only.contains(name)) {
        val t0 = System.nanoTime()
        val rows = f
        println(f"[stress] $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($rows rows)")
      }

    // untimed probe FIRST: the first timed op in a stress invocation
    // otherwise absorbs the session's whole setup tail (JIT + codegen
    // warm-up, replication spill, cache churn) — the round-11 first-slot
    // class (blocklist_hits measured 3.6→55 s across identical-code runs
    // while later ops held stable). One scan+shuffle over both corpora
    // warms the common codegen shapes before any clock starts.
    locally {
      docs.groupBy(col("doc_id") % 7)
        .agg(count(lit(1)), bit_xor(xxhash64(col("text")))).head()
      emb.groupBy(col("vec_id") % 7)
        .agg(count(lit(1)), bit_xor(xxhash64(col("label")))).head()
    }

    time("dedup_exact") { Dedup.exact(docs, "doc_id", "text").count() }
    time("ngram_jaccard") {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", tau = 0.5,
        maxShingleFreq = Some(1000L)).count()
    }
    time("minhash_lsh") { Dedup.minhashLshPairs(docs, "doc_id", "text").count() }
    time("simhash") { Dedup.simhashPairs(docs, "doc_id", "text").count() }
    time("fingerprint") { TextAnalysis.fingerprint(docs, "doc_id", "text").count() }
    time("embedding_pairs") {
      Dedup.embeddingPairs(emb, "vec_id", "embedding", "label", tau = 0.35).count()
    }
    time("dedup_semantic") {
      // k scales with the corpus (cells must stay join-ably small): 64
      // cells over 40k vectors ~ 600-vector cells; 2 Lloyd iterations.
      // tau = 0.9: the replica corpus duplicates embeddings verbatim, so
      // the realistic SemDeDup regime here is the near-identical band
      Dedup.clusterPairs(
        Dedup.semanticPairs(emb, "vec_id", "embedding", tau = 0.9,
          k = 64, iters = 2), d1 = "v1", d2 = "v2",
        onRound = (r, secs) =>
          println(f"[stress]   dedup_semantic round $r%2d: $secs%6.2f s")).count()
    }
    time("sim_topk") {
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", 10).count()
    }
    // cross-corpus semantic decontamination at replica scale: the bench
    // side stays FIXED-SIZE (the base corpus's % 10 slice — benchmarks
    // don't grow with training data), the corpus side scales with the
    // replica factor (all rep >= 1 vectors, so every replica of a
    // bench-sliced base vector is a planted verbatim hit — factor-1
    // copies each of ne/10 bench vectors exercise the verify path);
    // candidates are corpus x probed-bench-share via the bench-trained
    // cells, never corpus x bench
    time("decontaminate_semantic") {
      Dedup.decontaminateSemantic(
        emb.filter(col("vec_id") >= ne),
        Tables.embeddings(spark, sfDir).filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", tau = 0.9, k = 16, iters = 2, nProbe = 4)
        .filter(col("contaminated")).count()
    }

    // custom heap top-k vs the window formulation on the same task:
    // top-3 docs by n_chars within each of 1000 hash groups
    val grouped = docs
      .select((col("doc_id") % 1000).as("g"), col("doc_id"), length(col("text")).as("n"))
      .localCheckpoint(true)
    time("topk_window") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("n").desc, col("doc_id"))
      grouped.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 3).count()
    }
    time("topk_heap") {
      graft.plans.TopKPerGroup(grouped, Seq("g"), Seq(("n", true), ("doc_id", false)), 3)
        .count()
    }

    // temporal ops on a 20x event stream
    val ev0 = Tables.events(spark, sfDir).select("user_id", "ts", "event_type", "event_id")
    val nEv = ev0.count()
    val ev = ev0.crossJoin(spark.range(factor).toDF("rep"))
      .select(
        (col("user_id") + col("rep") * 100000L).as("user_id"),
        col("ts"), col("event_type"),
        (col("event_id") + col("rep") * nEv).as("event_id"))
      .repartition(64)
      .localCheckpoint(true)
    println(s"[stress] events: ${ev.count()} (x$factor)")
    time("sessionize") {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapUs = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser)
      val newSession = when(gapUs.isNull || gapUs > lit(1800L * 1000000L), 1).otherwise(0)
      ev.withColumn("session_id",
          sum(newSession).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id").count().count()
    }
    time("asof_join") {
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      graft.operators.Temporal
        .asofJoin(clicks, purchases, "user_id", "ts", "ts", Seq("click_id"))
        .count()
    }
    time("asof_join_forward") {
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      graft.operators.Temporal
        .asofJoinForward(clicks, purchases, "user_id", "ts", "ts", Seq("click_id"))
        .count()
    }
    time("interval_join") {
      val clicks = ev.filter(col("event_type") === "click").select(
        col("user_id"), col("event_id").as("click_id"),
        col("ts").as("start_ts"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("end_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      graft.operators.Temporal
        .intervalJoin(purchases, clicks, "ts", "start_ts", "end_ts",
          binWidthUs = 1800L * 1000000L, keys = Seq("user_id"))
        .count()
    }
    time("cohort_retention") {
      // the single-shuffle rollup from SparkEntry.cohortRetention; count()
      // is a fair forcing here (aggregate cardinality needs the full agg)
      val perUser = ev.groupBy("user_id")
        .agg(min(to_date(col("ts"))).as("cohort_day"),
          collect_set(to_date(col("ts"))).as("__days"))
      perUser.select(col("cohort_day"), explode(col("__days")).as("day"))
        .groupBy(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).as("day_offset"))
        .agg(count(lit(1)).as("active_users"))
        .count()
    }
    time("heavy_hitters") {
      TextAnalysis.heavyHitters(docs, "text", k = 50).count()
    }
    // the scan-speed claims: repetition/scrub are pure projections, the
    // chunker is projection + explode — their 20x cost must stay ~linear.
    // Each bench aggregates a CHECKSUM over the computed columns (not a
    // bare count), so column pruning cannot eliminate the expressions
    // being timed; the checksum row also carries the row count.
    def forced(df: DataFrame, checksum: Column): Long =
      df.agg(checksum.as("__ck"), count(lit(1)).as("__n")).head().getLong(1)
    time("text_repetition") {
      forced(TextAnalysis.repetition(docs, "doc_id", "text"),
        sum(col("dup_token_frac") + col("dup_2gram_frac") + col("dup_3gram_frac")))
    }
    time("text_entropy") {
      val out = TextAnalysis.tokenEntropy(docs, "doc_id", "text")
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    time("text_readability") {
      val out = TextAnalysis.readability(docs, "doc_id", "text")
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    time("pii_scrub") {
      forced(TextAnalysis.scrubPii(docs, "text"),
        sum(crc32(col("text_scrubbed")) + col("n_pii")))
    }
    time("doc_chunks") {
      forced(TextAnalysis.chunkTokens(docs, "doc_id", "text", 32, 24),
        sum(crc32(col("chunk_text")) + col("n_chunk_tokens")))
    }
    time("doc_chunks_cdc") {
      forced(TextAnalysis.chunkContentDefined(docs, "doc_id", "text"),
        sum(crc32(col("chunk_hash")) + col("n_chunk_tokens")))
    }
    time("pack_sequences") {
      forced(graft.operators.Curation.packSequences(
          TextAnalysis.chunkTokens(docs, "doc_id", "text", 32, 24)
            .withColumn("source", (col("doc_id") % 5).cast("string")),
          "source", Seq("doc_id", "chunk_id"), "n_chunk_tokens",
          budget = 512L, shards = 8),
        sum(col("seq_id") + col("shard")))
    }
    time("pack_sequences_bfd") {
      forced(graft.operators.Curation.packSequencesBfd(
          TextAnalysis.chunkTokens(docs, "doc_id", "text", 32, 24)
            .withColumn("source", (col("doc_id") % 5).cast("string")),
          "source", Seq("doc_id", "chunk_id"), "n_chunk_tokens",
          budget = 512L, shards = 8),
        sum(col("seq_id") + col("shard")))
    }
    time("dim_scd2") {
      // dim = one open row per doc keyed on doc_id; batch re-attributes
      // a third of the keys — the open-slice x batch join at corpus scale
      val cur = docs.select(col("doc_id"), col("text").substr(1, 8).as("attr"),
        to_date(lit("1990-01-01")).as("valid_from"),
        lit(null).cast("date").as("valid_to"))
      val ch = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), lit("CHANGED").as("attr"),
          to_date(lit("2024-06-01")).as("ts"))
      graft.operators.Star.scd2Apply(cur, ch, "doc_id", Seq("attr"), "ts").count()
    }
    time("tfidf_top_terms") {
      TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", 3).count()
    }
    time("lm_score") {
      forced(TextAnalysis.lmScore(docs, docs, "doc_id", "text"),
        sum(col("nll") + col("n_bigrams")))
    }
    time("decontaminate_jaccard") {
      Dedup.crossJaccardPairs(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text").count()
    }
    time("decontaminate_minhash") {
      Dedup.crossMinhashPairs(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text").count()
    }
    time("boilerplate_passages") {
      forced(TextAnalysis.dropBoilerplatePassages(docs, "doc_id", "text",
          windowTokens = 3, maxDf = 3L),
        sum(crc32(col("text_clean")) + col("n_dropped")))
    }
    time("repeated_spans") {
      Dedup.repeatedSpans(docs, "doc_id", "text", w = 6, minDf = 2).count()
    }
    time("dedup_substring") {
      forced(Dedup.maskRepeatedSpans(docs, "doc_id", "text", w = 6, minDf = 2),
        sum(col("n_masked") + col("n_spans")))
    }
    time("dsir_weights") {
      // no source column on the stress corpus: target = a deterministic
      // 1/5 hash slice of the doc ids
      forced(graft.operators.Curation.dsirWeights(docs,
          xxhash64(col("doc_id")) % 5 === 0, "doc_id", "text"),
        sum(col("dsir_score") + col("n_feats")))
    }
    time("pq_ann_topk") {
      forced(Similarity.pqAnnTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 10),
        sum(col("adc_dist") + col("rank")))
    }
    time("sim_ivfpq_topk") {
      forced(Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 10, coarseCells = 32, nProbe = 4),
        sum(col("adc_dist") + col("rank")))
    }
    time("text_winnow") {
      forced(TextAnalysis.winnowFingerprints(docs, "doc_id", "text", k = 4, w = 4),
        sum(col("gram_hash") + col("pos")))
    }
    time("bm25_topk") {
      // query set = 8 docs (the registry convention) against the full
      // replicated corpus
      forced(TextAnalysis.bm25TopK(docs, docs.filter(col("doc_id") < 8),
          "doc_id", "text", k = 10),
        sum(col("score") + col("doc_id")))
    }
    // the contraction-based cluster family, with per-round telemetry: the
    // central claim (FastSV fold+shortcut+contraction => ~log(diameter)
    // rounds AND geometrically shrinking per-round data) must hold as the
    // pair graph densifies with the factor, not just at sf0.1
    def logRounds(name: String): (Int, Double) => Unit = (r, secs) =>
      println(f"[stress]   $name round $r%2d: $secs%6.2f s")
    // exact-Jaccard pair graph (the registered dedup_clusters shape; the
    // stop-shingle cap keeps hot shingles from blowing up the self-join
    // on this dense synthetic vocabulary)
    time("dedup_clusters") {
      Dedup.clusterPairs(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", tau = 0.5,
          maxShingleFreq = Some(1000L)),
        onRound = logRounds("dedup_clusters")).count()
    }
    // cluster the MINHASH pairs (the approximate scale path feeds the
    // canonicalizer at 100 TB, not the exact join): ~1M pair edges over
    // 100k nodes, replica cliques -> few pointer-jumping rounds
    time("dedup_clusters_lsh") {
      Dedup.clusterPairs(Dedup.minhashLshPairs(docs, "doc_id", "text"),
        onRound = logRounds("dedup_clusters_lsh")).count()
    }
    // incremental exact dedup at chunk granularity — the registered-query
    // shape: batch ~40% of chunks classified against the indexed rest;
    // forced with a checksum (count() could eliminate the outer join)
    time("dedup_incremental") {
      val chunks = TextAnalysis.chunkTokens(docs, "doc_id", "text",
          chunkSize = 16, stride = 8)
        .select(col("doc_id"), col("chunk_id"),
          md5(col("chunk_text")).as("chunk_hash"))
      val out = Dedup.incrementalExact(
        chunks.filter(col("doc_id") % 5 >= 2),
        chunks.filter(col("doc_id") % 5 < 2),
        "chunk_hash", orderCols = Seq("doc_id", "chunk_id"))
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    // rolling point-in-time features and spike flags over the replicated
    // stream; forced with a checksum — count() would prune the Window /
    // trailing-frame columns out of the plan
    time("events_rolling") {
      val out = graft.operators.Temporal.rollingCounts(
        ev.withColumn("value", (col("event_id") % 97).cast("double")),
        "user_id", "ts", "value", horizonSec = 86400L)
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    time("events_spike") {
      val out = graft.operators.Quality.spikes(ev, "event_type", "ts")
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    time("events_cusum") {
      val out = graft.operators.Quality.cusum(ev, "event_type", "ts")
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    time("value_psi") {
      // replica-tagged types (x10 sources) so the grid scales too; the
      // corpus-sized rollup is the measured cost, the S x B grid is noise
      val e = Tables.events(spark, sfDir).select("event_type", "value")
        .crossJoin(spark.range(factor).toDF("rep"))
        .select(concat(col("event_type"), lit("#"),
          pmod(col("rep"), lit(10L))).as("event_type"), col("value"))
      val out = graft.operators.Quality.psiFromCounts(
        e.select(col("event_type"), floor(col("value") * 16).as("bin"))
          .groupBy("event_type", "bin").agg(count(lit(1)).as("n")),
        "event_type", "bin", "n")
      val r = out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
      spark.sharedState.cacheManager.clearCache() // psi's rollup persist
      r
    }
    if (only.isEmpty || only.contains("staged_delete")) {
      // stage the replicated stream as a y/m/d lake OUTSIDE the timer —
      // the timed cost is the erasure itself; ~1% of users match, and
      // with users spread uniformly most partitions contain a hit, so
      // this measures the near-worst-case rewrite path
      val lakeDir = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(sys.props("java.io.tmpdir")),
        "graft_stress_del_").toString
      try {
        graft.sources.Staging.writeStaged(ev, "ts", lakeDir)
        time("staged_delete") {
          val keys = ev.select(col("user_id")).filter(col("user_id") % 97 === 0)
          graft.sources.Staging.deleteKeys(spark, lakeDir, "user_id", keys)
            .count()
        }
      } finally {
        val p = new org.apache.hadoop.fs.Path(lakeDir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }
    // viral-profile skew: HALF the replicated events collapse onto ONE
    // user, joined against the per-user dim. Auto-broadcast is OFF for
    // both (a broadcastable dim makes skew moot — the scenario is the
    // dim that outgrew the broadcast threshold), so the comparison is
    // shuffle-join-with-hot-key vs salted shuffle join, with AQE's
    // skew-split active in both (the production posture). Forced with
    // the checksum so the join output is fully materialized.
    val hotEv = ev.withColumn("user_id",
      when(col("event_id") % 2 === 0, lit(7L)).otherwise(col("user_id")))
    val userDim = ev.select("user_id").distinct()
      .withColumn("segment", pmod(xxhash64(col("user_id")), lit(100L)))
      .localCheckpoint(true)
    def timedHotJoin(name: String)(join: => DataFrame): Unit =
      time(name) {
        val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          forced(join, bit_xor(xxhash64(col("user_id"), col("segment"), col("event_id"))))
        } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
      }
    timedHotJoin("join_hot_plain") { hotEv.join(userDim, Seq("user_id")) }
    timedHotJoin("join_hot_salted") {
      graft.operators.Skew.saltedJoin(hotEv, userDim, Seq("user_id"),
        saltBy = Seq(col("event_id")), salts = 32)
    }
    time("shuffle_shards") {
      val out = graft.operators.Curation.shuffleShards(
        docs.select("doc_id"), "doc_id", nShards = 64, seed = 42L)
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    time("corpus_drift") {
      // replica-tagged sources so the per-source frame scales with factor;
      // forced with the checksum aggregate — count() would let the
      // optimizer prune the TV-distance aggregates (and the window stage
      // feeding them) out of the groupBy
      val src = docs.withColumn("source",
        concat(lit("s"), pmod(col("doc_id"), lit(20L))))
      val out = graft.operators.Quality.drift(src, "source", "text")
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    time("dedup_containment") {
      Dedup.ngramContainmentPairs(docs, "doc_id", "text", tau = 0.9,
        maxShingleFreq = Some(1000L)).count()
    }
    // z-order rewrite: interleave projection + sampled range shuffle +
    // parquet write, the full OPTIMIZE ZORDER BY path at docs x factor
    // rows (write lands on the tmpfs scratch dir, the NVMe analog)
    time("zorder_write") {
      val rows = docs.select(
        col("doc_id"),
        pmod(xxhash64(col("doc_id")), lit(1L << 20)).as("a"),
        pmod(xxhash64(col("doc_id"), lit(1L)), lit(1L << 20)).as("b"))
      val dir = GraftSession.scratchDir() + "/stress-zorder"
      graft.operators.Layout.zorderWrite(rows, Seq("a", "b"), bits = 20,
        path = dir, files = 64)
      spark.read.parquet(dir).count()
    }
    time("embedding_quantize") {
      // scan-bound: dim stats + broadcast-back quantization; checksum
      // forces every code (count would prune the projection)
      val out = Similarity.sq8Encode(emb, "vec_id", "embedding")
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    time("embedding_outliers") {
      Similarity.embeddingOutliers(emb, "vec_id", "embedding", k = 20).count()
    }
    time("collocations_pmi") {
      // word-type-bounded aggregates; the replica tag token (r0..rN)
      // adds factor-many new types but the planted phrase mass scales
      TextAnalysis.collocations(docs, "text", minCount = 5L, k = 50).count()
    }
    time("curation_pipeline") {
      // the six-stage end-to-end chain on the replicated corpus
      // (replica-tagged sources; unseen sources take the default mixture
      // weight). Forced via the final manifest aggregate's row count.
      import graft.operators.Cleaning.CleaningOps
      val src = docs.withColumn("source",
        concat(lit("s"), pmod(col("doc_id"), lit(20L))))
      val withH = src.withColumn("__h",
        md5(graft.functions.normalizeText(col("text"))))
      val corpus = withH.filter(col("doc_id") % 50 =!= 0)
      val bench = withH.filter(col("doc_id") % 50 === 0).select("__h").distinct()
      val deduped = corpus.dedupKeepFirst(Seq("__h"), Seq(col("doc_id")))
      val clean = deduped.join(broadcast(bench), Seq("__h"), "left_anti")
      val q = graft.operators.TextAnalysis.quality(clean, "text")
        .select(col("doc_id"), col("text"), col("source"), col("quality_score"))
      val thr = q.agg(expr("percentile(quality_score, 0.25)").as("__thr"))
      val gated = q.crossJoin(broadcast(thr))
        .filter(col("quality_score") >= col("__thr"))
        .select("doc_id", "text", "source")
      val mixed = graft.operators.Curation.mixtureSample(gated, "source",
        "doc_id", weights = Map.empty, defaultWeight = 0.375)
      graft.operators.Curation.packSequences(
          TextAnalysis.chunkTokens(mixed, "doc_id", "text", 32, 24,
            carry = Seq("source")),
          "source", Seq("doc_id", "chunk_id"), "n_chunk_tokens",
          budget = 512L, shards = 8)
        .groupBy("source", "shard", "seq_id")
        .agg(count(lit(1)), sum(col("n_chunk_tokens")))
        .count()
    }
    time("snapshot_diff") {
      val base = docs.filter(col("doc_id") % 7 =!= 0)
      val cur = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.sources.Staging.snapshotDiff(base, cur, "doc_id", Seq("text"))
        .filter(col("status") =!= "unchanged").count()
    }
    time("quality_classifier") {
      // zero-shuffle per-row fold; checksum forces every score
      val out = TextAnalysis.hashedLinearScore(docs, "doc_id", "text",
        TextAnalysis.knuthWeights(64))
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    time("quality_ensemble") {
      // three scorers fused into one scan — cost ~= the classifier alone
      val out = TextAnalysis.ensembleGate(docs, "doc_id", "text",
        TextAnalysis.knuthWeights(64))
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    time("rolling_active_users") {
      val out = graft.operators.Temporal.rollingDistinct(ev,
        to_date(col("ts")), col("user_id"), windowDays = 7)
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    time("event_transitions") {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val out = ev
        .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev_type").isNotNull)
        .groupBy("prev_type", "event_type").agg(count(lit(1)).as("n"))
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    time("pagerank") {
      // user ↔ active-hour co-occurrence graph (both directions): users
      // scale with the replica factor, so nodes AND edges grow with it
      val pairs = ev.select(col("user_id").as("a"),
          (lit(1000000000L) +
            (unix_micros(col("ts")) / lit(3600000000L)).cast("long")).as("b"))
        .distinct()
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      graft.operators.Graph.pageRankInt(edges, "src", "dst", iters = 5)
        .agg(bit_xor(xxhash64(col("node"), col("pr"))), count(lit(1)))
        .head().getLong(1)
    }
    time("pareto_front") {
      // 50-value discrete max-dim over the event stream (the documented
      // low-cardinality contract), minimizing the event timestamp
      val pts = ev.select(col("event_id"),
        pmod(xxhash64(col("user_id")), lit(50L)).as("sz"),
        unix_micros(col("ts")).as("age"))
      graft.operators.Frontier.skyline2D(pts, "sz", "age").count()
    }
    time("hop_distance") {
      // BFS over the same user↔hour graph pagerank stresses, seeded by
      // 100 users — frontier work scales with the replica factor
      val pairs = ev.select(col("user_id").as("a"),
          (lit(1000000000L) +
            (unix_micros(col("ts")) / lit(3600000000L)).cast("long")).as("b"))
        .distinct()
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      val seeds = ev.select(col("user_id").as("node")).distinct().limit(100)
      val res = graft.operators.Graph.hopDistance(edges, "src", "dst",
        seeds, "node", maxHops = 4)
      val n = res.count()
      org.apache.spark.sql.graft.Bridge.unpersistCheckpoints(res)
      n
    }
    time("embedding_pca") {
      val (mu, v, _) = Similarity.principalComponent(emb, "embedding", iters = 8)
      Similarity.pcaProject(emb, "vec_id", "embedding", mu, v)
        .agg(bit_xor(xxhash64(col("vec_id"), col("pc1_score"))), count(lit(1)))
        .head().getLong(1)
    }
    // basket/binning family over a replicated lineitem (orderkey offset
    // per replica: factor-many more baskets, same basket-size profile)
    val li0 = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_linenumber", "l_extendedprice")
    val nOrd = 1500000L
    val li = li0.crossJoin(spark.range(factor).toDF("rep"))
      .select(
        (col("l_orderkey") + col("rep") * nOrd).as("l_orderkey"),
        col("l_partkey"), col("l_linenumber"), col("l_extendedprice"))
      .repartition(64)
      .localCheckpoint(true)
    println(s"[stress] lineitem: ${li.count()} (x$factor)")
    // the two curve KEYS head-to-head over the replicated lineitem (no
    // write): the Morton interleave is one flat projection; the Hilbert
    // automaton is a 20-level chained projection — this pair measures
    // what the seam-free locality costs per row at fact scale
    def layoutRows: DataFrame = li.select(
      col("l_orderkey"),
      pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(1L << 20)).as("a"),
      pmod(xxhash64(col("l_partkey")), lit(1L << 20)).as("b"))
    time("zorder_value") {
      val out = layoutRows.withColumn("v",
        graft.operators.Layout.zvalue(Seq(col("a"), col("b")), bits = 20))
      out.agg(bit_xor(xxhash64(col("l_orderkey"), col("v"))), count(lit(1)))
        .head().getLong(1)
    }
    time("hilbert_value") {
      val out = graft.operators.Layout.hilbertLayout(
        layoutRows, "a", "b", bits = 20, as = "v")
      out.agg(bit_xor(xxhash64(col("l_orderkey"), col("v"))), count(lit(1)))
        .head().getLong(1)
    }
    time("basket_pairs") {
      val items = li
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .repartition(col("o")).distinct()
      val total = items.agg(countDistinct(col("o")).as("n_orders"))
      val freq = items.groupBy(col("p")).agg(count(lit(1)).as("n_p"))
      val pairs = items.as("a")
        .join(items.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
        .agg(count(lit(1)).as("n_pair"))
        .filter(col("n_pair") >= 3)
      pairs
        .join(freq.select(col("p").as("p1"), col("n_p").as("n1")), Seq("p1"))
        .join(freq.select(col("p").as("p2"), col("n_p").as("n2")), Seq("p2"))
        .crossJoin(broadcast(total))
        .count()
    }
    time("feature_ntile") {
      val keyed = li.withColumn("uid",
        col("l_orderkey") * 10L + col("l_linenumber"))
      val binned = graft.operators.Ranking.equiDepthBins(
        keyed, "l_extendedprice", "uid", k = 100)
      val out = binned.groupBy("bucket")
        .agg(count(lit(1)), min("l_extendedprice"), max("l_extendedprice"))
        .count()
      org.apache.spark.sql.graft.Bridge.unpersistCheckpoints(binned)
      out
    }

    // ---- round-10 session-4 additions ----
    // fuzzy linkage on replicated customers: an 8-hex md5(rep) prefix
    // keeps cross-replica name distances far above 1, so true pair mass
    // grows LINEARLY in the factor (each replica is its own namespace) —
    // the realistic shape; a 1-char replica tag would mint factor^2
    // cross-replica distance-1 pairs instead
    val cust0 = Tables.customer(spark, sfDir).select("c_custkey", "c_name")
    val nCust = cust0.count()
    val cust = cust0.crossJoin(spark.range(factor).toDF("rep"))
      .select(
        (col("c_custkey") + col("rep") * nCust).as("c_custkey"),
        concat(substring(md5(col("rep").cast("string")), 1, 8), lit(" "),
          col("c_name")).as("c_name"))
      .repartition(64)
      .localCheckpoint(true)
    println(s"[stress] customers: ${cust.count()} (x$factor)")
    time("record_linkage") {
      forced(graft.operators.Linkage.fuzzyPairs(cust, "c_custkey", "c_name"),
        bit_xor(xxhash64(col("id1"), col("id2"), col("dist"))))
    }
    // census over the LSH pair graph — the scale path for pair
    // generation (the exact-Jaccard path shares dedup_clusters'
    // measured pair-mass boundary on this dense corpus; the census
    // itself is edge-bounded either way)
    time("graph_transitivity") {
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text").select("d1", "d2")
      forced(graft.operators.Graph.transitivity(pairs, "d1", "d2"),
        bit_xor(xxhash64(col("n_edges"), col("n_wedges"), col("n_triangles"))))
    }
    time("ngram_diversity") {
      val src = docs.withColumn("source",
        concat(lit("s"), pmod(col("doc_id"), lit(20))))
      val d = src
        .select(col("source"),
          explode(graft.functions.wordShingles(col("text"), 3)).as("sh"))
        .groupBy("source", "sh").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum(col("c")).as("n_total"), count(lit(1)).as("n_distinct"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_singletons"))
      forced(d, bit_xor(xxhash64(col("source"), col("n_total"),
        col("n_distinct"), col("n_singletons"))))
    }
    // the 100 TB hash swap measured against the string form above: the
    // rollup keys on xxhash64(shingle) (8-byte shuffle key vs trigram
    // text), report identical modulo per-source 64-bit collisions
    time("ngram_diversity_hashed") {
      val src = docs.withColumn("source",
        concat(lit("s"), pmod(col("doc_id"), lit(20))))
      val d = src
        .select(col("source"),
          explode(graft.functions.wordShingles(col("text"), 3)).as("sh"))
        .select(col("source"), xxhash64(col("sh")).as("h"))
        .groupBy("source", "h").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum(col("c")).as("n_total"), count(lit(1)).as("n_distinct"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_singletons"))
      forced(d, bit_xor(xxhash64(col("source"), col("n_total"),
        col("n_distinct"), col("n_singletons"))))
    }
    time("skipgram_pairs") {
      forced(TextAnalysis.skipgramPairs(docs, "text", window = 3, k = 30),
        bit_xor(xxhash64(col("w1"), col("w2"), col("n"))))
    }
    // event-stream additions over the replicated stream (value synthesized
    // per event — ev carries no value column)
    val evv = ev.withColumn("value",
      (pmod(col("event_id"), lit(10000L))).cast("double") / 10.0)
    time("attribution_sliding") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type").isin("click", "view"), col("event_type"))
      val d = evv
        .filter(col("event_type").isin("click", "view", "purchase"))
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
        .select(col("event_type"), col("value"),
          last(touch, ignoreNulls = true).over(w).as("touch_type"))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch_type"), lit("(none)")).as("touch_type"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("revenue"))
      forced(d, bit_xor(xxhash64(col("touch_type"), col("n_purchases"), col("revenue"))))
    }
    time("attribution") {
      // the registered form: accumulating frame (unbounded..current) + lag(1);
      // the sliding (unbounded..-1) twin below measures what it replaces
      // (3.3 vs 12.4 s at 100x)
      import org.apache.spark.sql.expressions.Window
      val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wAcc = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val touch = when(col("event_type").isin("click", "view"), col("event_type"))
      val d = evv
        .filter(col("event_type").isin("click", "view", "purchase"))
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"),
          last(touch, ignoreNulls = true).over(wAcc).as("run_incl"))
        .select(col("event_type"), col("value"),
          lag(col("run_incl"), 1).over(wOrd).as("touch_type"))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch_type"), lit("(none)")).as("touch_type"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("revenue"))
      forced(d, bit_xor(xxhash64(col("touch_type"), col("n_purchases"), col("revenue"))))
    }
    time("top_paths") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val d = ev
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .select(col("event_type"),
          lag(col("event_type"), 1).over(w).as("prev1"),
          lag(col("event_type"), 2).over(w).as("prev2"))
        .filter(col("prev2").isNotNull)
        .groupBy(concat_ws(">", col("prev2"), col("prev1"), col("event_type")).as("path"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path")).limit(20)
      forced(d, bit_xor(xxhash64(col("path"), col("n"))))
    }
    time("audience_overlap") {
      val d = ev.groupBy("user_id")
        .agg(sort_array(collect_set(col("event_type"))).as("ts"))
        .select(explode(col("ts")).as("t1"), col("ts"))
        .select(col("t1"), explode(col("ts")).as("t2"))
        .filter(col("t1") <= col("t2"))
        .groupBy("t1", "t2").agg(count(lit(1)).as("n_users"))
      forced(d, bit_xor(xxhash64(col("t1"), col("t2"), col("n_users"))))
    }
    // Q4 semi-join over replicated orders + (orderkey, shipdate) lineitem
    val ord0 = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val ordR = ord0.crossJoin(spark.range(factor).toDF("rep"))
      .select((col("o_orderkey") + col("rep") * nOrd).as("o_orderkey"),
        col("o_orderdate"), col("o_orderpriority"))
      .repartition(64).localCheckpoint(true)
    val liSd0 = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_shipdate")
    val liSd = liSd0.crossJoin(spark.range(factor).toDF("rep"))
      .select((col("l_orderkey") + col("rep") * nOrd).as("l_orderkey"),
        col("l_shipdate"))
      .repartition(64).localCheckpoint(true)
    println(s"[stress] orders: ${ordR.count()}, lineitem-sd: ${liSd.count()} (x$factor)")
    // the textbook semi-join (sort-merges the raw fact) vs the
    // monotone-EXISTS max-rewrite the registered query ships
    time("q4_semi_naive") {
      val d = ordR
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1996-04-01")))
        .join(liSd,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          "leftsemi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
      forced(d, bit_xor(xxhash64(col("o_orderpriority"), col("n_orders"))))
    }
    time("q4_priority_late") {
      val lMax = liSd.groupBy(col("l_orderkey"))
        .agg(max(col("l_shipdate")).as("max_shipdate"))
      val d = ordR
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1996-04-01")))
        .join(lMax, col("o_orderkey") === col("l_orderkey"))
        .filter(col("max_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
      forced(d, bit_xor(xxhash64(col("o_orderpriority"), col("n_orders"))))
    }

    // ---- session-5 additions ----
    // KS over a CONTINUOUS-ish value domain: values derived per event so
    // distinct values ~ rows — the regime the distributed prefix-sum
    // machinery exists for (a naive global window would single-task it)
    time("value_ks") {
      val evV = ev.withColumn("value",
        (pmod(xxhash64(col("event_id")), lit(10000000L)) / 1000.0))
      val out = graft.operators.Quality.ksStatistic(
        evV, "event_type", "value", "click", "view")
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    time("events_trend") {
      val hourly = ev
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val out = graft.operators.Quality.trendFromBuckets(
        hourly, "event_type", "h", "n")
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    // checkpointed replicate OUTSIDE the timer (the docs/emb/ev
    // convention) — the first in-timer formulation measured the 60M-row
    // crossJoin materialization, not the operator (probe: replicate
    // 12.7 s vs warm aggregate 3.7 s)
    val li4 = Tables.lineitem(spark, sfDir)
      .select("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .crossJoin(spark.range(factor).toDF("rep"))
      .drop("rep").repartition(64)
      .localCheckpoint(true)
    println(s"[stress] lineitem-num: ${li4.count()} (x$factor)")
    time("numeric_corr") {
      val out = graft.operators.Quality.corrMatrix(li4,
        Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"))
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    time("token_cms") {
      TextAnalysis.cmsTokenEstimates(docs, "text", k = 20).count()
    }
    time("diverse_sample") {
      Similarity.farthestPointSample(emb, "vec_id", "embedding", k = 8).count()
    }
    // approx bounds: the exact-percentile path buffers every distinct
    // value per group and heap-OOMs at ~15M distinct doubles (measured,
    // 24g) — the sketch bounds are the documented scale path, and the
    // clip/rollup half (the corpus-sized work) is identical
    time("price_winsorize") {
      val ordW = ordR.withColumn("o_totalprice",
        (pmod(xxhash64(col("o_orderkey")), lit(1000000000L)) / 100.0))
      val out = graft.operators.Curation.winsorizeReport(
        ordW, "o_orderpriority", "o_totalprice",
        approxAccuracy = Some(10000))
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    // the boundary-retirement witness: EXACT quantiles on ~16M DISTINCT
    // doubles per group — past the measured ~15M-distinct point where
    // buffered `percentile` heap-OOMs on a 24g single node. The
    // distributed path (Quantiles.exactByKey: distinct-value rollup +
    // prefix-sum ranks) never holds a group in one buffer, so this row
    // completing at all IS the evidence; fixed 32M rows regardless of
    // the replica factor so the claim is reproducible at any -x.
    time("exact_quantiles_32m") {
      val vals = spark.range(32L * 1000 * 1000)
        .select((col("id") % 2).cast("string").as("k"),
          (pmod(xxhash64(col("id")), lit(1000000000000L)) / 1000.0).as("v"))
      val out = graft.operators.Quantiles.exactByKey(vals, "k", "v",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p95" -> 0.95))
      val n = out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
      // free the ~32M-row prefix-sum checkpoint — retained blocks here
      // are exactly the stress-context-inflation class (round-11/12)
      org.apache.spark.sql.graft.Bridge.unpersistCheckpoints(out)
      n
    }
    // the STORED-sketch posture on the same 32M frame: one bounded hash
    // aggregate (k=1024 pairs + a counter per group, map-side combined)
    // instead of the exact path's rollup + range shuffle + prefix sums —
    // the per-shard-summary trade a lake makes when estimates suffice
    time("sketch_quantiles_32m") {
      val vals = spark.range(32L * 1000 * 1000)
        .select((col("id") % 2).cast("string").as("k"), col("id").as("rid"),
          (pmod(xxhash64(col("id")), lit(1000000000000L)) / 1000.0).as("v"))
      val out = graft.operators.Quantiles.sketchByKey(vals, "k", "v", "rid",
          k = 1024)
        .select(col("k"), col("sketch.n").as("n"),
          graft.operators.Quantiles.sketchQuantile(col("sketch"), 0.5).as("p50"))
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    time("multimodal_phash") {
      val media = graft.operators.Multimodal.asMedia(
        docs.withColumn("source", lit("s")), "doc_id", "text", "source")
      val h = graft.operators.Multimodal.perceptualHash(media).toDF()
      h.agg(bit_xor(xxhash64(col("doc_id"), col("phash"))), count(lit(1)))
        .head().getLong(1)
    }
    // RFM on a synthesized per-customer order stream: ordR already
    // carries factor-many customers' orders; custkey/totalprice derive
    // from the replicated orderkey (hash-spread, deterministic)
    time("customer_rfm") {
      val ordC = ordR
        .withColumn("o_custkey", pmod(xxhash64(col("o_orderkey")), lit(factor * 15000L)))
        .withColumn("o_totalprice",
          (pmod(xxhash64(col("o_orderkey"), lit(1)), lit(100000000L)) / 100.0))
      val maxD = broadcast(ordC.agg(max(col("o_orderdate")).as("max_d")))
      val custF = ordC.groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_d"),
          count(lit(1)).as("frequency"),
          graft.functions.sumExact(col("o_totalprice"), 28, 6).as("monetary"))
        .crossJoin(maxD)
        .select(col("o_custkey"),
          datediff(col("max_d"), col("last_d")).cast("long").as("recency_days"),
          col("frequency"), col("monetary"))
      def score(df: DataFrame, v: String, out: String): DataFrame = {
        val (ranked, n) = graft.operators.Ranking.withGlobalRank(df,
          Seq(col(v), col("o_custkey")), "__rk")
        ranked.withColumn(out,
          graft.operators.Ranking.ntileFromRank(col("__rk"), n, 5)).drop("__rk")
      }
      val out = score(score(score(custF, "recency_days", "r_raw"),
        "frequency", "f_score"), "monetary", "m_score")
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    time("supplier_scorecard") {
      val late = liSd
        .withColumn("l_suppkey", pmod(xxhash64(col("l_orderkey")), lit(10000L)))
        .withColumn("l_extendedprice",
          (pmod(xxhash64(col("l_orderkey"), lit(2)), lit(1000000L)) / 100.0))
        .join(ordR.select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_lines"),
          graft.functions.sumExact(col("l_extendedprice"), 28, 6).as("revenue"),
          sum((col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 60 DAYS")).cast("long"))
            .as("n_late"))
        .orderBy(col("revenue").desc, col("l_suppkey")).limit(20)
      late.agg(bit_xor(xxhash64(late.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    time("monitor_report") {
      val hourly = ev
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val zf = graft.operators.Quality.spikesFromHourly(hourly, "event_type", "h", "n")
        .select(col("event_type"), col("hour_start"), col("cnt"),
          col("is_spike").cast("long").as("z_flag"))
      val mf = graft.operators.Quality.madFromHourly(hourly, "event_type", "h", "n")
        .select(col("event_type"), col("hour_start"),
          col("is_anomaly").cast("long").as("mad_flag"))
      val ef = graft.operators.Quality.ewmaFromBuckets(hourly, "event_type", "h", "n")
        .select(col("event_type"),
          graft.functions.tsString(col("h")).as("hour_start"),
          col("spike").cast("long").as("ewma_flag"))
      val out = zf.join(mf, Seq("event_type", "hour_start"))
        .join(ef, Seq("event_type", "hour_start"))
        .withColumn("n_flagged",
          col("z_flag") + col("mad_flag") + col("ewma_flag"))
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    time("q21_waiting") {
      // the double-correlation rewrite at fact scale: one corpus
      // repartition(orderkey) feeds the pair rollup AND the order-keyed
      // window; suppkey synthesized (the replicated slim lineitem has
      // none) the scorecard way
      val li = liSd
        .withColumn("l_suppkey",
          pmod(xxhash64(col("l_orderkey"), col("l_shipdate")), lit(10000L)))
        .join(ordR.select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          when(col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 60 DAYS"), 1L)
            .otherwise(0L).as("is_late"))
        .repartition(col("l_orderkey"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_orderkey"))
      val out = li.groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(sum(col("is_late")).as("late_lines"))
        .select(col("l_suppkey"), col("late_lines"),
          count(lit(1)).over(w).as("n_supp"),
          sum(when(col("late_lines") > 0L, 1L).otherwise(0L)).over(w)
            .as("n_late_supp"))
        .filter(col("late_lines") > 0L && col("n_supp") > 1L &&
          col("n_late_supp") === 1L)
        .groupBy(col("l_suppkey"))
        .agg(sum(col("late_lines")).as("numwait"))
        .orderBy(col("numwait").desc, col("l_suppkey")).limit(20)
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    time("q18_big_orders") {
      // per-order rollup + broadcast of the having survivors into the
      // orders scan; quantity synthesized per line
      val qtyF = broadcast(liSd
        .withColumn("l_quantity",
          (pmod(xxhash64(col("l_orderkey"), col("l_shipdate"), lit(3)),
            lit(50L)) + 1L).cast("double"))
        .groupBy(col("l_orderkey"))
        .agg(graft.functions.sumExact(col("l_quantity"), 18, 2).as("sum_qty"))
        .filter(col("sum_qty") > 180.0))
      val out = qtyF
        .join(ordR.select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .orderBy(col("sum_qty").desc, col("o_orderkey")).limit(100)
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    time("phash_pairs") {
      val media = graft.operators.Multimodal.asMedia(
        docs.withColumn("source", lit("s")), "doc_id", "text", "source")
      val h = graft.operators.Multimodal.perceptualHash(media).toDF()
        .localCheckpoint(true)
      try graft.operators.Multimodal.phashNearDups(h, maxHamming = 3).count()
      finally org.apache.spark.sql.graft.Bridge.unpersistCheckpoints(h)
    }
    // leak-free split over the LSH pair graph — the documented 100 TB
    // path (the exact-Jaccard pair mass is replica-quadratic: measured
    // 86 s at 20x, boundary at 50x, in the cluster-family rows; a first
    // cut of this entry on capped-exact pairs spent 152 of 155 s in pair
    // generation the family already measures) + component clustering +
    // the md5 assignment; checksum-forced
    time("split_leakfree") {
      val clusters = Dedup.clusterPairs(
        Dedup.minhashLshPairs(docs, "doc_id", "text"),
        onRound = logRounds("split_leakfree"))
      val out = Dedup.assignSplits(docs, clusters, "doc_id")
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    // the capped-band twin of split_leakfree: the uncapped row's cost is
    // dominated by replica-clique HOT BUCKETS (one bucket of s members =
    // s²/2 candidate pairs); maxBandFreq bounds per-bucket pair mass the
    // way maxShingleFreq bounds the exact family — the documented
    // mitigation, measured beside the pathology (capped pairs ⊆ uncapped
    // is property-pinned in LlmOpsSpec)
    time("split_leakfree_capped") {
      val clusters = Dedup.clusterPairs(
        Dedup.minhashLshPairs(docs, "doc_id", "text",
          maxBandFreq = Some(200L)),
        onRound = logRounds("split_leakfree_capped"))
      val out = Dedup.assignSplits(docs, clusters, "doc_id")
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    // multi-table LSH at the shipped 8x6 recipe over the replicated
    // vectors: the fan-out multiplies the scan by L, the shuffle only
    // carries pruned candidates
    time("lsh_multi_topk") {
      val out = Similarity.lshTopKMulti(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", 10, nPlanes = 6, nTables = 8)
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    // cross-source overlap with replica-tagged sources (20 per replica-
    // band keeps S constant while shingle mass scales with factor)
    time("source_overlap") {
      val src = docs.withColumn("source",
        concat(lit("s"), pmod(col("doc_id"), lit(20L))))
      val out = Dedup.sourceOverlap(src, "source", "text")
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    // seasonal monitor: hourly-rollup-bounded after the map-side partial
    // — expected near-flat in factor like the rest of the monitor family
    time("events_seasonal") {
      val hourly = ev
        .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("season_key", concat(col("event_type"), lit("#"),
          lpad(hour(col("hour_ts")).cast("string"), 2, "0")))
      val out = graft.operators.Quality.spikesFromHourly(
        hourly, "season_key", "hour_ts", "cnt", trailing = 7, z = 3, minN = 4)
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    // VARIANT extraction: parse + path reads are one projection — expect
    // scan-shaped growth (props synthesized; the bench query's shape)
    time("variant_extract") {
      val payload = concat(
        lit("{\"u\":{\"id\":"), col("user_id"),
        lit(",\"seg\":\""), col("event_type"), lit("\"},\"m\":["),
        pmod(xxhash64(col("event_id")), lit(100L)), lit(","),
        col("event_id") % 7, lit("],\"x\":"),
        when(col("event_id") % 2 === 1, col("user_id").cast("string"))
          .otherwise(concat(lit("\""), col("event_type"), lit("\""))))
        .alias("payload")
      val out = ev.withColumn("v", parse_json(concat(payload, lit("}"))))
        .select(
          variant_get(col("v"), "$.u.seg", "string").as("seg"),
          variant_get(col("v"), "$.u.id", "bigint").as("uid"),
          variant_get(col("v"), "$.m[0]", "bigint").as("k"),
          variant_get(col("v"), "$.m[1]", "bigint").as("m1"),
          try_variant_get(col("v"), "$.x", "bigint").as("xnum"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n"), sum(col("uid")).as("sum_uid"),
          sum(col("k")).as("sum_k"), sum(col("m1")).as("sum_m1"),
          count(col("xnum")).as("n_x"), sum(col("xnum")).as("sum_x"))
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    // the text-re-parse alternative VARIANT replaces: the SAME payload
    // and rollup, but every path access is a get_json_object that
    // re-parses the JSON text — the per-access cost VARIANT amortizes
    time("json_chain") {
      val payload = concat(
        lit("{\"u\":{\"id\":"), col("user_id"),
        lit(",\"seg\":\""), col("event_type"), lit("\"},\"m\":["),
        pmod(xxhash64(col("event_id")), lit(100L)), lit(","),
        col("event_id") % 7, lit("],\"x\":"),
        when(col("event_id") % 2 === 1, col("user_id").cast("string"))
          .otherwise(concat(lit("\""), col("event_type"), lit("\""))),
        lit("}"))
      val out = ev.withColumn("js", payload)
        .select(
          get_json_object(col("js"), "$.u.seg").as("seg"),
          get_json_object(col("js"), "$.u.id").cast("long").as("uid"),
          get_json_object(col("js"), "$.m[0]").cast("long").as("k"),
          get_json_object(col("js"), "$.m[1]").cast("long").as("m1"),
          // the heterogeneous field needs the tolerant cast (ANSI)
          get_json_object(col("js"), "$.x").try_cast("long").as("xnum"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n"), sum(col("uid")).as("sum_uid"),
          sum(col("k")).as("sum_k"), sum(col("m1")).as("sum_m1"),
          count(col("xnum")).as("n_x"), sum(col("xnum")).as("sum_x"))
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    // q20 shape at fact scale: both conditional sums in ONE pair rollup
    // (partkey/suppkey/quantity synthesized the scorecard way)
    time("q20_excess") {
      val pair = liSd
        .select(col("l_orderkey"), col("l_shipdate"),
          pmod(xxhash64(col("l_orderkey"), lit(5)), lit(20000L)).as("l_partkey"),
          pmod(xxhash64(col("l_orderkey"), col("l_shipdate")), lit(10000L))
            .as("l_suppkey"),
          (pmod(xxhash64(col("l_orderkey"), lit(7)), lit(50L)) + 1L).as("qty"),
          (year(col("l_shipdate")) === 1997).as("__in97"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(when(col("__in97"), col("qty")).otherwise(0L)).as("q97"),
          sum(col("qty")).as("qall"))
      val out = pair
        .filter(col("q97") > 0L && lit(2L) * col("q97") > col("qall"))
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_excess"))
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    // q2 shape at fact scale: ONE partkey Exchange serves the pair
    // rollup AND the window min (price synthesized)
    time("q2_min_cost") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_partkey"))
      val cost = liSd
        .select(
          pmod(xxhash64(col("l_orderkey"), lit(5)), lit(20000L)).as("l_partkey"),
          pmod(xxhash64(col("l_orderkey"), col("l_shipdate")), lit(10000L))
            .as("l_suppkey"),
          (pmod(xxhash64(col("l_orderkey"), lit(11)), lit(1000000L)) / 100.0)
            .as("price"))
        .repartition(col("l_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("price")).as("min_cost"))
      val out = cost.withColumn("__best", min(col("min_cost")).over(w))
        .filter(col("min_cost") === col("__best"))
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    // k-anonymity audit: two map-side rollups over one corpus scan —
    // expect scan-shaped (quasi-identifiers synthesized per doc)
    time("k_anonymity") {
      val doc = docs.select(col("doc_id"),
        concat(lit("l"), pmod(col("doc_id"), lit(5L))).as("lang"),
        concat(lit("s"), pmod(col("doc_id"), lit(20L))).as("source"),
        length(col("text")).as("n_chars"))
      // one-scan ladder (mirrors the registered query): the coarse level
      // re-aggregates the checkpointed fine cells (DIV composes)
      val cells = doc.groupBy(col("lang"), col("source"),
          expr("n_chars DIV 100").as("size_band"))
        .agg(count(lit(1)).as("g")).localCheckpoint(true)
      val coarse = cells.groupBy(col("lang"), col("source"),
          expr("size_band DIV 10").as("size_band"))
        .agg(sum(col("g")).as("g"))
      def level(classes: DataFrame, nm: String): DataFrame = classes
        .select(lit(nm).as("level"),
          when(col("g") === 1, "k=1").when(col("g") < 5, "k<5")
            .when(col("g") < 10, "k<10").otherwise("k>=10").as("band"),
          col("g"))
        .groupBy("level", "band")
        .agg(count(lit(1)).as("n_classes"), sum(col("g")).as("n_rows"))
      val out = level(cells, "chars_100").unionByName(level(coarse, "chars_1000"))
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    // blocklist: ONE Aho-Corasick walk per doc for ALL 24 terms — expect
    // scan-shaped; compare against the naive per-term replace twin below
    val stressTerms = Seq("a", "al", "can", "low", "scan", "slow", "value",
      "windowing", "key", "row", "fast", "table", "part", "hash", "merge",
      "batch", "sort", "order", "data", "column", "join", "small", "query",
      "stream")
    time("blocklist_hits") {
      val termArr = array(stressTerms.map(lit): _*)
      val out = docs
        .select(concat(lit("s"), pmod(col("doc_id"), lit(20L))).as("source"),
          posexplode(graft.functions.blocklistCounts(lower(col("text")),
            stressTerms)).as(Seq("i", "cnt")))
        .groupBy("source", "i")
        .agg(sum((col("cnt") > 0).cast("long")).as("n_docs"),
          sum(col("cnt")).as("total_hits"))
        .select(col("source"), element_at(termArr, col("i") + 1).as("term"),
          col("n_docs"), col("total_hits"))
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    // probe: kernel scan alone (no explode/rollup) — isolates the
    // automaton cost from the downstream shape
    time("blocklist_scan") {
      val out = docs.select(
        graft.functions.blocklistCounts(lower(col("text")), stressTerms)
          .as("c"))
        .select(element_at(col("c"), 5).as("x"), element_at(col("c"), 1).as("y"))
      out.agg(sum(col("x")), sum(col("y")), count(lit(1))).head().getLong(2)
    }
    // probe: explode + rollup alone over a constant array (no kernel) —
    // isolates the downstream shape cost
    time("blocklist_explode_const") {
      val termArr = array(stressTerms.map(lit): _*)
      val constArr = array(stressTerms.indices.map(i => lit(i.toLong)): _*)
      val out = docs
        .select(concat(lit("s"), pmod(col("doc_id"), lit(20L))).as("source"),
          posexplode(constArr).as(Seq("i", "cnt")))
        .select(col("source"), element_at(termArr, col("i") + 1).as("term"),
          col("cnt"))
        .groupBy("source", "term")
        .agg(sum((col("cnt") > 0).cast("long")).as("n_docs"),
          sum(col("cnt")).as("total_hits"))
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    // the naive alternative the kernel replaces: one replace() pass PER
    // TERM (24 string rewrites per row) — same scan count, T× the per-row
    // string work
    time("blocklist_naive") {
      val lt = docs.select(
        concat(lit("s"), pmod(col("doc_id"), lit(20L))).as("source"),
        lower(col("text")).as("t"))
      val counted = lt.select(col("source") +: stressTerms.zipWithIndex.map {
        case (t, i) =>
          ((length(col("t")) - length(expr(s"replace(t, '$t', '')")))
            / t.length).cast("long").as(s"c$i")
      }: _*)
      val out = counted.groupBy("source")
        .agg(sum(col("c0")).as("s0"),
          stressTerms.indices.tail.map(i => sum(col(s"c$i")).as(s"s$i")): _*)
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    // ACF over 24 lags: everything after the hourly rollup rides the
    // checkpointed hours×types frame — expect near-flat past the rollup
    time("events_acf") {
      val hourly = ev
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val out = graft.operators.Quality.acf(hourly, "event_type", "h", "n",
        (1 to 24))
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    // URL canonicalization + dedup: zero-shuffle regex/sort projection +
    // one canonical-key rollup — expect scan-shaped
    time("url_dedup") {
      val id = col("doc_id")
      val url = concat(
        when(id % 4 === 0, lit("HTTPS")).otherwise(lit("http")), lit("://"),
        when(id % 3 === 0, lit("WWW.")).otherwise(lit("")),
        lit("Site-"), id % 50, lit(".Example.COM"),
        when(id % 5 === 0,
          when(id % 4 === 0, lit(":443")).otherwise(lit(":80")))
          .otherwise(lit("")),
        lit("/Docs/"), id % 200,
        when(id % 7 === 0, lit("/")).otherwise(lit("")),
        lit("?"),
        when(id % 2 === 0, lit("b=2&a=1")).otherwise(lit("a=1&b=2")),
        when(id % 3 === 0, lit("&utm_source=feed&utm_campaign=x"))
          .otherwise(lit("")),
        when(id % 11 === 0, concat(lit("&c="), id % 3)).otherwise(lit("")),
        when(id % 6 === 0, lit("#Section-2")).otherwise(lit("")))
      val out = docs
        .select(id.as("doc_id"), graft.functions.canonicalizeUrl(url).as("cu"))
        .groupBy("cu")
        .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("first_doc"))
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    // Mann-Whitney: distinct-value rollup + distributed prefix sums (the
    // value_ks machinery) — expect the same shape as value_ks
    time("value_mwu") {
      val out = graft.operators.Quality.mwuStatistic(
          ev.withColumn("value",
            (pmod(xxhash64(col("event_id")), lit(100000L)) / 16.0)),
          "event_type", "value", "click", "view")
        .unionByName(graft.operators.Quality.mwuStatistic(
          ev.withColumn("value",
            (pmod(xxhash64(col("event_id")), lit(100000L)) / 16.0)),
          "event_type", "value", "click", "error"))
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }
    // kappa agreement: one corpus scan + a single-row confusion rollup
    time("classifier_agreement") {
      val base = TextAnalysis.quality(docs, "text")
        .select(col("doc_id"), col("quality_score"),
          TextAnalysis.hashedLinearScoreCol(col("text"),
            TextAnalysis.knuthWeights(64)).as("clf_score"))
      val thr = base.agg(expr("percentile(quality_score, 0.25)").as("__thr"))
      val out = base.crossJoin(broadcast(thr))
        .select(
          (col("quality_score") >= col("__thr")).cast("long").as("h"),
          (col("clf_score") >= 0L).cast("long").as("c"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("h") * col("c")).as("n11"),
          sum(col("h") * (lit(1L) - col("c"))).as("n10"),
          sum((lit(1L) - col("h")) * col("c")).as("n01"),
          sum((lit(1L) - col("h")) * (lit(1L) - col("c"))).as("n00"))
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)
    }

    // ---- round-11 session-4 additions ----
    def checksum(out: DataFrame): Long =
      out.agg(bit_xor(xxhash64(out.columns.map(col): _*)), count(lit(1)))
        .head().getLong(1)

    // t-closeness: one (QI, lang) cell rollup; everything after is
    // classes×langs-bounded — expect scan-shaped like k_anonymity
    time("t_closeness") {
      val doc = docs.select(
        concat(lit("l"), pmod(col("doc_id"), lit(5L))).as("lang"),
        concat(lit("s"), pmod(col("doc_id"), lit(20L))).as("source"),
        length(col("text")).as("n_chars"))
      val cells100 = doc.groupBy(col("source"),
          expr("n_chars DIV 100").as("sb"), col("lang"))
        .agg(count(lit(1)).as("c")).localCheckpoint(true)
      val cells1000 = cells100.groupBy(col("source"),
          expr("sb DIV 10").as("sb"), col("lang"))
        .agg(sum(col("c")).as("c"))
      def level(cells: DataFrame, nm: String): DataFrame = {
        val classes = cells.groupBy("source", "sb").agg(sum(col("c")).as("g"))
        val langs = cells.groupBy("lang").agg(sum(col("c")).as("nv"))
        val total = langs.agg(sum(col("nv")).as("nn"))
        classes.crossJoin(broadcast(langs)).crossJoin(broadcast(total))
          .join(cells, Seq("source", "sb", "lang"), "left")
          .withColumn("c", coalesce(col("c"), lit(0L)))
          .groupBy(col("source"), col("sb"), col("g"), col("nn"))
          .agg(sum(abs(col("c").cast("decimal(38,0)") * col("nn") -
            col("nv").cast("decimal(38,0)") * col("g"))).as("num"))
          .groupBy(lit(nm).as("level"))
          .agg(count(lit(1)).as("n_classes"),
            sum((col("num") * 5 > col("g").cast("decimal(38,0)") * col("nn") * 2)
              .cast("long")).as("n_breach"),
            max(col("num").cast("double") /
              (col("g").cast("double") * col("nn").cast("double") * 2.0))
              .as("max_t"))
      }
      checksum(level(cells100, "chars_100")
        .unionByName(level(cells1000, "chars_1000")))
    }

    // source keyness: one (source, term) shuffle + vocab-bounded totals +
    // heap top-k — expect the tfidf growth shape
    time("source_keyness") {
      val withSrc = docs.select(col("doc_id"),
        concat(lit("s"), pmod(col("doc_id"), lit(20L))).as("source"),
        col("text"))
      checksum(TextAnalysis.sourceKeyness(withSrc, "source", "text",
        minCount = 5L, k = 15))
    }

    // AQE skew split on a 60%-hot key vs the same join with the split
    // disabled — the measured straggler win
    val skewConfs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val skewDim = ev.select(col("user_id").as("k")).distinct()
      .withColumn("w", pmod(col("k"), lit(25L)))
      .localCheckpoint(true) // bare scan: the SMJ(Sort(stage),Sort(stage)) shape
    def skewJoinBody(): Long = {
      val hot = when(col("user_id") % 10 < 6, lit(0L)).otherwise(col("user_id"))
      val e = ev.select(hot.as("k"),
        (pmod(xxhash64(col("event_id")), lit(10000L)) / 100.0).as("value"))
      val out = e.join(skewDim, Seq("k"))
        .groupBy((col("k") % 7).as("kb"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total"),
          sum(col("w")).as("wsum"))
      checksum(out)
    }
    time("skew_join") {
      GraftSession.withConfs(spark, skewConfs :+
        ("spark.sql.adaptive.skewJoin.enabled" -> "true"))(skewJoinBody())
    }
    time("skew_join_nosplit") {
      GraftSession.withConfs(spark, skewConfs :+
        ("spark.sql.adaptive.skewJoin.enabled" -> "false"))(skewJoinBody())
    }

    // runtime bloom semi-join reduction on the replicated fact vs the
    // same shuffle join without the filter — the measured shuffle win
    val bloomConfs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    def bloomBody(): Long = {
      val o = ordR.filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val out = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy((col("l_partkey") % 25).as("pb"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(28,6)")).cast("double")
            .as("revenue"))
      checksum(out)
    }
    // self-evidence, UNTIMED, printed per variant BEFORE its timing: a
    // bloom timing only means something if the filter was actually
    // injected under that variant's confs — the replicated creation
    // side's SIZE ESTIMATE (localCheckpoint inherits the crossJoin-
    // multiplied origin estimate) trips Spark's creationSideThreshold
    // long before any saturation question arises, and a disqualified
    // "bloom" run silently times the PLAIN join.
    def bloomProbe(tag: String, confs: Seq[(String, String)]): Unit =
      if (only.isEmpty || only.contains(tag)) GraftSession.withConfs(spark, confs) {
        val o = ordR.filter(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey")
        val plan = li.join(o, col("l_orderkey") === col("o_orderkey"))
          .queryExecution.optimizedPlan
        val inj = plan.toString.contains("might_contain")
        val est = o.queryExecution.optimizedPlan.stats.sizeInBytes
        println(s"[stress] $tag injected=$inj creation_est_bytes=$est")
      }
    val bloomOn = bloomConfs :+
      ("spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true")
    bloomProbe("bloom_join", bloomOn)
    time("bloom_join") { GraftSession.withConfs(spark, bloomOn)(bloomBody()) }
    time("bloom_join_off") {
      GraftSession.withConfs(spark, bloomConfs :+
        ("spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false"))(bloomBody())
    }
    // the SIZED bloom path: expectedNumItems/numBits sized to the ~3M-key
    // 100× creation side (8M items × 8 bits/item ≈ 2% fpp) and the
    // creation threshold raised past the replicated frame's inherited
    // size estimate so injection actually happens — all scoped to this
    // one query, per the conf-flip rule. At tmpfs-local single-node
    // shuffle the filter's build+probe is expected to cost more than the
    // shuffle reduction saves (the cluster-win lesson); the probe line
    // above each timing is what makes the comparison honest.
    val sizedConfs = bloomOn ++ Seq(
      "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems" -> "8000000",
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> "8000000",
      "spark.sql.optimizer.runtime.bloomFilter.numBits" -> "67108864",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "8GB")
    bloomProbe("bloom_join_sized", sizedConfs)
    time("bloom_join_sized") {
      GraftSession.withConfs(spark, sizedConfs)(bloomBody())
    }
    // DEFAULT sizing (1M items / 8.4M bits) with only the creation
    // threshold forced — the configuration the round-11 "saturated
    // filter" narrative assumed was running: at 100× its ~3M keys
    // saturate this bitmap (fpp ≈ 25%+) while the sized twin stays
    // selective; at 20× (600k keys) both are selective and the pair
    // isolates the bitmap-size cost instead
    val forcedConfs = bloomOn :+
      ("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "8GB")
    bloomProbe("bloom_join_forced", forcedConfs)
    time("bloom_join_forced") {
      GraftSession.withConfs(spark, forcedConfs)(bloomBody())
    }

    // DPP over a y/m/d lake staged from the replicated events: the write
    // is timed apart from the dynamically-pruned read it exists for
    val dppDir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(GraftSession.scratchDir()), "stress_dpp_").toString
    time("dpp_stage") {
      graft.sources.Staging.writeStaged(
        ev.withColumn("value",
          (pmod(xxhash64(col("event_id")), lit(10000L)) / 100.0)), "ts", dppDir)
      spark.read.parquet(dppDir).count()
    }
    time("dpp_scan") {
      val lake = graft.sources.Staging.readStaged(spark, dppDir)
      val cal = graft.sources.Staging.withDateParts(ev.select("ts"), "ts")
        .groupBy("y", "m", "d").agg(count(lit(1)).as("n"))
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      val busy = cal.select(col("y"), col("m"), col("d"), col("n"),
          sum(col("n")).over(wAll).as("nn"),
          count(lit(1)).over(wAll).as("days"))
        .filter(col("n") * col("days") > col("nn"))
        .select(Seq("y", "m", "d").map(c =>
          col(c).cast(lake.schema(c).dataType).as(c)): _*)
      val out = lake.join(broadcast(busy), Seq("y", "m", "d"))
        .groupBy("y", "m", "d")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      checksum(out)
    }
    // free the replicated-lake copy from tmpfs IMMEDIATELY: the scratch
    // dir lives in /dev/shm, which counts against host RAM, and a
    // leftover full-events copy pressures every later op in the run
    // (the documented stress-context-inflation class)
    locally {
      val p = new org.apache.hadoop.fs.Path(dppDir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }

    // interpolation: corpus hourly rollup dominates; the spine/window
    // tail is hours×types-bounded — expect near-flat past the rollup
    time("events_interpolate") {
      val hourly = ev
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .filter(expr("(unix_timestamp(h) div 3600) % 5 != 2"))
      checksum(graft.operators.Temporal.interpolate(
        hourly, "h", "event_type", "n"))
    }
    // truncated-dim brute recall: slice before the candidate join, so
    // bytes scale with d; corpus-sized like the brute baseline
    time("ann_dim_tradeoff") {
      val q = emb.filter(col("vec_id") < 8)
      def cut(df: DataFrame, dims: Int): DataFrame =
        df.withColumn("embedding", slice(col("embedding"), 1, dims))
      val out = Seq(8, 64).map { dims =>
        Similarity.bruteForceTopK(cut(emb, dims), cut(q, dims),
          "vec_id", "embedding", 10)
          .groupBy()
          .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("s"))
          .withColumn("dims", lit(dims.toLong))
      }.reduce(_ unionByName _)
      checksum(out)
    }
    // crypto-shred: per-row AES encrypt + decrypt (CPU-bound kernel work)
    time("crypto_shred") {
      val e = ev.select(col("user_id"),
        concat(lit("payload-"), col("event_id")).as("props"))
      val keyCol = unhex(substring(sha2(concat(lit("key-v1:"),
        col("user_id").cast("string")), 256), 1, 32))
      val keys = e.select("user_id").distinct()
        .withColumn("key", keyCol).localCheckpoint(true)
      val enc = e.join(keys, Seq("user_id"))
        .select(col("user_id"),
          aes_encrypt(col("props").cast("binary"), col("key"), lit("ECB"))
            .as("ct"))
      val kept = keys.filter(col("user_id") % 97 =!= 0)
      val out = enc.join(kept, Seq("user_id"), "left")
        .select(col("user_id"),
          try_aes_decrypt(col("ct"),
            coalesce(col("key"), lit(Array.emptyByteArray)), lit("ECB"))
            .as("pt"))
        .groupBy((col("user_id") % 97 === 0).as("shredded"))
        .agg(count(lit(1)).as("n"),
          sum(col("pt").isNotNull.cast("long")).as("n_readable"))
      checksum(out)
    }
    spark.stop()
  }
}
