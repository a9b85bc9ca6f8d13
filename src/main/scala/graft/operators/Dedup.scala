package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions._

/** Deduplication family for LLM-training-data curation (SURVEY.md §2
  * #24-28): exact content hash, exact n-gram Jaccard, MinHash+LSH,
  * SimHash, and embedding-cosine near-dup.
  *
  * Scale posture (100 TB):
  *  - exact dedup is ONE hash shuffle on a 32-byte digest — documents
  *    themselves never move;
  *  - minhash/simhash shuffle fixed-width signatures (128x8 B / 8 B per
  *    doc), never text; candidate joins happen only within LSH buckets;
  *  - the exact n-gram self-join is the verification/baseline path: its
  *    cost is sum(f^2) over shingle frequencies f, so `maxShingleFreq`
  *    drops stop-shingles (the skew bound) before the join;
  *  - embedding near-dup joins only within blocks (label / LSH bucket),
  *    never corpus x corpus.
  */
object Dedup {

  /** Exact dedup: group by content digest, canonical = min id. The digest
    * (md5) is computed map-side, so the single shuffle carries 32 bytes +
    * id per row regardless of document size. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), md5(col(textCol)).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("group_size"))

  /** Incremental exact dedup — the daily-ingest posture: classify every
    * row of a NEW batch against an already-INDEXED corpus without ever
    * shuffling the corpus. Statuses: `dup_of_index` (the content already
    * exists in the index — every batch copy is a duplicate, the canonical
    * lives in the index), `dup_in_batch` (first occurrence inside the
    * batch keeps, later ones mark), `kept`.
    *
    * Scale shape (index = 100 TB, batch = one ingest window, bounded):
    * the batch's distinct hash set BROADCASTS and leftsemi-prunes the
    * index stream MAP-SIDE, so the only index-derived shuffle carries the
    * surviving hits — batch-bounded by construction. The batch itself
    * shuffles once for the keep-first window; the hit set joins back as a
    * broadcast. Zero corpus-sized Exchange, which is what makes this
    * runnable per ingest window rather than per full-corpus recompute
    * (the full recompute is [[exact]]).
    *
    * `orderCols` break keep-first ties inside the batch (must be unique
    * per row for deterministic output).
    *
    * Guardrail: the broadcast contract holds only while the batch's
    * distinct hash set is executor-memory-sized. A cheap bounded probe
    * (`limit(max+1).count()` — never materializes more than the
    * threshold) checks that before hinting; an oversized batch falls
    * back to UNHINTED joins, where the index leftsemi becomes a shuffled
    * hash join (a corpus-sized Exchange — the honest cost of a batch too
    * large to broadcast; identical classifications either way,
    * property-pinned). Default threshold 1M keys ≈ ~100 MB broadcast.
    *
    * Reference analog: the reference
    * pipeline re-scrapes hourly and upserts ON CONFLICT DO NOTHING
    * (RustCheatersDataPipeline dags/utils/sql_queries.py) — the same
    * "new data vs existing corpus" classification, done there by the
    * warehouse, done here before the data ever lands. */
  def incrementalExact(indexed: DataFrame, batch: DataFrame,
      hashCol: String, orderCols: Seq[String],
      maxBroadcastKeys: Int = 1 << 20): DataFrame = {
    require(orderCols.nonEmpty, "need at least one keep-first order column")
    require(maxBroadcastKeys >= 1 && maxBroadcastKeys < Int.MaxValue,
      s"bad maxBroadcastKeys: $maxBroadcastKeys")
    val keys = batch.select(hashCol).distinct()
    val broadcastable =
      keys.limit(maxBroadcastKeys + 1).count() <= maxBroadcastKeys
    def hint(df: DataFrame): DataFrame =
      if (broadcastable) broadcast(df) else df
    val hits = indexed.select(col(hashCol))
      .join(hint(keys), Seq(hashCol), "leftsemi")
      .distinct()
      .withColumn("__hit", lit(true))
    val w = Window.partitionBy(col(hashCol)).orderBy(orderCols.map(col): _*)
    batch
      .withColumn("__rk", row_number().over(w))
      .join(hint(hits), Seq(hashCol), "left")
      .withColumn("status",
        when(col("__hit"), lit("dup_of_index"))
          .when(col("__rk") > 1, lit("dup_in_batch"))
          .otherwise(lit("kept")))
      .drop("__rk", "__hit")
  }

  /** Incremental NEAR-dup check of an ingest batch against the standing
    * corpus — the LSH twin of [[incrementalExact]], completing the
    * daily-ingest story: exact incremental catches byte-identical
    * re-crawls, this catches the rewrites/re-encodings between the batch
    * and the 100 TB index. Batch-internal near-dups are deliberately out
    * of scope (run the in-batch pair pass for those); the contract here
    * is batch × index only.
    *
    * SCALE posture (the incrementalExact broadcast discipline, band
    * granularity): the BATCH side's (band, band_hash) triples and hashed
    * shingle arrays broadcast — both batch-bounded; the index streams
    * through ONCE: its banded triples are a map-side kernel projection
    * probed against the broadcast batch bands (no index-sized Exchange),
    * and the verify pass re-scans only candidate index docs (broadcast
    * candidate-id semi prune, candidates are batch-bounded). In
    * production the index triples come precomputed from the staged lake
    * (they are a pure per-row projection, so recomputing them map-side
    * costs one kernel pass and no shuffle either way). Signature/band
    * parameters must match [[minhashLshPairs]]' for the recall contract;
    * spec pins batch×index equality with the full-corpus pair run. */
  def minhashIncremental(index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, n: Int = 3, numPerm: Int = 128,
      bands: Int = 32, tau: Double = 0.5): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    def bandTriples(df: DataFrame, out: String): DataFrame = df
      .select(col(idCol), col(textCol))
      .select(col(idCol).as(out),
        shinglesDistinct(wsTokens(col(textCol)), n).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col(out), posexplode(minhashBands(col("shs"), numPerm, bands)))
      .toDF(out, "band", "band_hash")
    val cand = bandTriples(index, "index_id")
      .join(broadcast(bandTriples(batch, "batch_id")),
        Seq("band", "band_hash"))
      .select("batch_id", "index_id")
      .distinct()
    def hashed(df: DataFrame, out: String, shOut: String): DataFrame = df
      .select(col(idCol).as(out),
        shingleHashes(wsTokens(col(textCol)), n).as(shOut))
      .filter(size(col(shOut)) > 0)
    hashed(index, "index_id", "shs2")
      .join(broadcast(cand), Seq("index_id"))
      .join(broadcast(hashed(batch, "batch_id", "shs1")), Seq("batch_id"))
      .withColumn("jaccard",
        size(array_intersect(col("shs1"), col("shs2"))).cast(DoubleType) /
          size(array_union(col("shs1"), col("shs2"))).cast(DoubleType))
      .filter(col("jaccard") >= tau)
      .select("batch_id", "index_id", "jaccard")
  }

  /** Distinct word-shingle rows (doc_id, shingle), the shared substrate of
    * the n-gram family. */
  private def shingleRows(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    docs.select(
      col(idCol),
      explode(shinglesDistinct(wsTokens(col(textCol)), n)).as("sh"))

  /** Exact n-gram Jaccard near-dup pairs: shingle-explode, self-join on
    * shingle, |A∩B| / |A∪B| >= tau. `maxShingleFreq` (None = exact)
    * removes shingles occurring in more than that many documents before
    * the join — the stop-shingle cap that bounds the sum(f^2) blow-up and
    * the reducer skew on hot shingles at scale. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.5,
      maxShingleFreq: Option[Long] = None): DataFrame =
    commonShinglePairs(docs, idCol, textCol, n, maxShingleFreq)
      .withColumn("jaccard",
        col("common").cast(DoubleType) / (col("n1") + col("n2") - col("common")))
      .filter(col("jaccard") >= tau)
      .select("d1", "d2", "common", "jaccard")

  /** Exact n-gram CONTAINMENT near-dup pairs: |A∩B| / min(|A|,|B|) >= tau.
    * Containment is the asymmetric twin of Jaccard — a 200-shingle doc
    * quoted whole inside a 10,000-shingle page has Jaccard ~0.02 (invisible
    * at any sane tau) but containment 1.0. That embedding pattern (quoted
    * articles, scraped mirrors with boilerplate, concatenated dumps) is
    * exactly what corpus dedup must catch and symmetric measures miss, so
    * this runs at a HIGH tau (default 0.9) beside, not instead of, the
    * Jaccard pass. Same join shape and stop-shingle cap as
    * [[ngramJaccardPairs]]. */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.9,
      maxShingleFreq: Option[Long] = None): DataFrame =
    commonShinglePairs(docs, idCol, textCol, n, maxShingleFreq)
      .withColumn("containment",
        col("common").cast(DoubleType) / least(col("n1"), col("n2")))
      .filter(col("containment") >= tau)
      .select("d1", "d2", "common", "containment")

  /** Cross-SOURCE overlap matrix — the n-gram pair machinery lifted from
    * document to source granularity: per source pair, the Jaccard and
    * containment of the sources' DISTINCT shingle sets. This is the
    * report read before trusting a corpus mix: a crawl ingested twice
    * under two names, a subset dump, or a mirrored site shows up as a
    * high-containment pair long before any document-level pass would be
    * run across sources. Shape: one (source, shingle) distinct (the
    * per-doc shingle fan-out collapses map-side), a shingle-keyed join
    * whose per-key fan-out is bounded by the SOURCE count (never a hot-
    * shingle pair explosion — at most S(S−1)/2 pairs per shingle), and a
    * pair rollup onto the S²-sized result; source sizes broadcast. At
    * 100 TB swap the raw shingle strings for xxhash64 of them (the
    * ngram_diversity note) — the join key shrinks, the counts are
    * collision-negligible. */
  def sourceOverlap(docs: DataFrame, sourceCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    // pre-explode repartition (the ngram_diversity serial-scan pattern)
    // + eager checkpoint: the distinct (source, shingle) frame feeds
    // THREE consumers (the size rollup and both self-join sides), each
    // otherwise re-running tokenize→shingle→explode→distinct from the
    // single-task scan
    val sh = org.apache.spark.sql.graft.Bridge.resetStats(docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(
        col(sourceCol).as("source"),
        explode(shinglesDistinct(wsTokens(col(textCol)), n)).as("sh"))
      .distinct()
      .localCheckpoint(true))
    val sz = sh.groupBy("source").agg(count(lit(1)).as("n_sh"))
    sh.select(col("source").as("s1"), col("sh"))
      .join(sh.select(col("source").as("s2"), col("sh")), "sh")
      .filter(col("s1") < col("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("common"))
      .join(broadcast(sz.select(col("source").as("s1"), col("n_sh").as("n1"))), "s1")
      .join(broadcast(sz.select(col("source").as("s2"), col("n_sh").as("n2"))), "s2")
      .select(col("s1"), col("s2"), col("common"), col("n1"), col("n2"),
        (col("common").cast(DoubleType) / (col("n1") + col("n2") - col("common")))
          .as("jaccard"),
        (col("common").cast(DoubleType) / least(col("n1"), col("n2")))
          .as("containment"))
  }

  /** Shared exact-pair core: shingle-explode, optional stop-shingle cap,
    * hash self-join, per-pair overlap count joined with both documents'
    * distinct-shingle counts → (d1, d2, common, n1, n2). */
  private def commonShinglePairs(docs: DataFrame, idCol: String,
      textCol: String, n: Int, maxShingleFreq: Option[Long]): DataFrame = {
    val sh0 = shingleRows(docs, idCol, textCol, n)
    val sh = maxShingleFreq match {
      case Some(cap) =>
        // Cap-sizing contract: the cap exists to drop STOP-shingles, so on
        // any sane parameterization |hot| << corpus vocabulary (zipfian
        // head) and the anti-join's build side is tiny. A too-low cap on a
        // dense corpus makes `hot` approach the whole vocabulary — the
        // anti-join then dominates (measured: cap=2 on the dense test
        // corpus is SLOWER than uncapped). No broadcast hint here: AQE
        // sees the actual post-filter size and picks broadcast only when
        // `hot` really is small, instead of force-shipping a huge set.
        val hot = sh0.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("sh")
        sh0.join(hot, Seq("sh"), "left_anti")
      case None => sh0
    }
    // join on a 64-bit shingle hash, not the string: the self-join shuffles
    // 8-byte keys instead of ~20-byte text (collision odds ~2^-64 — far
    // below any operational concern)
    //
    // Eager checkpoint: the hashed shingle frame feeds THREE consumers —
    // both self-join sides and the per-doc size rollup — and only the two
    // join sides share an Exchange (same partitioning); `sizes` exchanges
    // by doc id, so without the checkpoint the tokenize→shingle→explode
    // pipeline (the expensive part: per-doc string work) runs twice per
    // query (the multi-consumer re-scan rule; measured 1.95 → 1.52 s for
    // dedup_ngram_jaccard at sf0.1). The materialized rows are (id, hash)
    // pairs — 16 B/shingle, far smaller than the text they derive from.
    // A pre-explode repartition of the DOCUMENTS was tried twice and lost:
    // an AQE-coalescible one measured SLOWER (1.52 → 1.71 s), and the
    // explicit round-robin repartition(parallelism) that won 3.6x on
    // ngram_diversity measured NET ZERO across the 10-query family
    // (sum-of-mins 20.55 → 20.46 s) — the map side here is
    // hash-and-shuffle, too cheap to parallelize. The serial explode stays.
    //
    // What DOES pay is width at the JOIN: the heavy part is the self-join's
    // output (1.37M pair rows from 287k shingle rows at sf0.1), but AQE
    // sizes post-shuffle partitions by the exchange's INPUT bytes and
    // coalesced the join to 2 tasks on 4 cores. Repartitioning the
    // checkpoint on the join key to a fixed count (REPARTITION_BY_NUM, which
    // AQE never coalesces) keeps the join at the planner's width; it already
    // satisfies the sort-merge join's distribution, so both sides read ONE
    // shuffle of the shingle frame (runtime stage reuse; PlanShapeSpec pins
    // the shape). Measured on the benchmark's seed-1 documents, 4 cores:
    // the join stage ran 4 tasks instead of 2, in 0.59/0.32 s of wall
    // instead of 0.80/0.90 s (two warm runs each).
    val shh = org.apache.spark.sql.graft.Bridge.resetStats(
      sh.select(col(idCol), xxhash64(col("sh")).as("shh")).localCheckpoint(true))
    val sizes = shh.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    val byShh = shh.repartition(
      docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, col("shh"))
    val common = byShh.as("a")
      .join(byShh.as("b"),
        col("a.shh") === col("b.shh") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed(idCol, "d1").withColumnRenamed("n_sh", "n1"), "d1")
      .join(sizes.withColumnRenamed(idCol, "d2").withColumnRenamed("n_sh", "n2"), "d2")
  }

  /** Exact Jaccard pairs via PPJoin-style PREFIX FILTERING: for
    * |A∩B|/|A∪B| >= tau, A and B must share a shingle within each one's
    * prefix of its (|d| - ceil(tau*|d|) + 1) rarest shingles under a
    * global order (document frequency asc, hash tiebreak). The candidate
    * join touches only prefix rows — rare shingles — so the sum(f^2)
    * blow-up on hot shingles disappears while the result stays EXACT
    * (verification recomputes true Jaccard on the full shingle arrays).
    * Property-tested equal to [[ngramJaccardPairs]]. Corpus-shape caveat
    * (measured, see SURVEY §8): pruning power depends on prefix shingles
    * being genuinely rare — on natural zipfian vocabularies it is the
    * standard exact-join win; on the dense synthetic test corpus (tiny
    * vocabulary, df >= 140 even in prefixes) the naive hash join is
    * faster and MinHash+LSH is the scale path. */
  def ngramJaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.5): DataFrame = {
    val withSh = docs
      .select(col(idCol), shinglesDistinct(wsTokens(col(textCol)), n).as("shs"))
      .filter(size(col("shs")) > 0)
    val sh = withSh.select(col(idCol), explode(col("shs")).as("sh"))
      .withColumn("shh", xxhash64(col("sh")))
      .select(idCol, "shh")
    // global rarity order
    val df = sh.groupBy("shh").agg(count(lit(1)).as("df"))
    val ranked = sh.join(df, "shh")
    // prefix length per doc: L = |d| - ceil(tau*|d|) + 1
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("df"), col("shh"))
    val prefix = ranked
      .withColumn("__rn", row_number().over(byDoc))
      .withColumn("__sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))))
      .filter(col("__rn") <= col("__sz") - ceil(col("__sz") * tau) + 1)
      .select(idCol, "shh")
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.shh") === col("b.shh") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"))
      .distinct()
    // exact verification on the full shingle arrays
    val withA = withSh.select(col(idCol).as("d1"), col("shs").as("shs1"))
    val withB = withSh.select(col(idCol).as("d2"), col("shs").as("shs2"))
    cand.join(withA, "d1").join(withB, "d2")
      .withColumn("common",
        size(array_intersect(col("shs1"), col("shs2"))).cast(LongType))
      .withColumn("jaccard",
        col("common").cast(DoubleType) /
          (size(col("shs1")) + size(col("shs2")) - col("common")))
      .filter(col("jaccard") >= tau)
      .select("d1", "d2", "common", "jaccard")
  }

  /** MinHash+LSH near-dup (the approximate scale path): per-doc 128-slot
    * minhash signature (seeded xxhash64 "permutations"), banded into
    * `bands` buckets; docs sharing any band bucket become candidates and
    * are verified with exact set Jaccard. Only signatures shuffle; the
    * verify join touches shingle ARRAYS for candidate pairs only.
    *
    * `maxBandFreq` is the HOT-BUCKET cap — [[ngramJaccardPairs]]'
    * maxShingleFreq at the band level: a bucket of s members yields
    * s·(s−1)/2 candidate pairs, so one boilerplate/near-identical
    * clique turns a single bucket quadratic (the measured
    * replica-clique pathology of the stress corpus). Dropping buckets
    * past the cap bounds per-bucket pair mass at cap²/2; recall cost is
    * bounded because a true near-dup pair has `bands` independent
    * chances to meet in a bucket BELOW the cap (and a clique past the
    * cap is exactly what the containment/exact family catches anyway).
    * Capped pairs ⊆ uncapped pairs by construction (property-pinned —
    * the cap only removes candidates; verification is unchanged). Hot
    * buckets are HEAVY HITTERS — few by definition — so the cap is a
    * tiny aggregated (band, band_hash) frame broadcast as an anti-join
    * onto the banded stream (map-side prune; a first cut as a
    * Window-count filter sorted the whole banded frame and measured
    * 2.5× slower than uncapped at 20×). */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numPerm: Int = 128, bands: Int = 32,
      tau: Double = 0.5, maxBandFreq: Option[Long] = None): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    maxBandFreq.foreach(cap =>
      require(cap >= 2, s"need maxBandFreq >= 2, got $cap"))

    // signature + banding in ONE native codegen'd kernel per row
    // (functions.MinHashBands): signatures never shuffle — only the
    // (id, band, band_hash) triples do. Evolution recorded for the
    // record: nested transform/array_min was re-evaluated per band by
    // CollapseProject (615 s at sf0.1); numPerm min-aggregates over
    // exploded shingles fixed that but still shuffled every shingle row
    // (6.5 s); the kernel removes the shuffle entirely.
    // The repartition shuffles raw text once, far less than the old
    // every-shingle-row shuffle. It is AQE-coalescible, so it does NOT
    // spread the kernel at small scale: at sf0.1 (5000 docs) each kernel
    // stage runs as ONE task; it widens only once the text outgrows the
    // advisory partition size. A fixed-width repartition(shuffle.partitions,
    // id) was measured at 4 cores: 4 tasks per kernel stage (mean task
    // time per stage 233 → 399 ms), and in Bench (min of 5, three
    // interleaved sessions a side) dedup_minhash 1.21–1.27 → 1.02–1.17 s
    // but dedup_eval 3.05–3.33 → 3.31–3.87 s, with the four minhash
    // queries' sum no better (8.33–8.81 vs 8.16–9.13 s). Kept as is.
    val banded0 = docs
      .select(col(idCol), col(textCol))
      .repartition(col(idCol))
      .select(col(idCol), shinglesDistinct(wsTokens(col(textCol)), n).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col(idCol), posexplode(minhashBands(col("shs"), numPerm, bands)))
      .toDF(idCol, "band", "band_hash")
    val banded = maxBandFreq match {
      case Some(cap) =>
        val hot = banded0
          .groupBy(col("band"), col("band_hash"))
          .agg(count(lit(1)).as("__bf"))
          .filter(col("__bf") > cap)
          .select(col("band"), col("band_hash"))
        banded0.join(broadcast(hot), Seq("band", "band_hash"), "left_anti")
      case None => banded0
    }

    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"))
      .distinct()

    // verify candidates with exact set Jaccard on HASHED shingle arrays
    // (8-byte elements instead of text; intersect/union semantics and the
    // Jaccard value are unchanged at 2^-64 collision odds) — arrays only
    // join against the candidate set; the LSH stage shuffles signatures
    val withSh = docs
      .select(col(idCol), shingleHashes(wsTokens(col(textCol)), n).as("shs"))
      .filter(size(col("shs")) > 0)
    val withA = withSh.select(col(idCol).as("d1"), col("shs").as("shs1"))
    val withB = withSh.select(col(idCol).as("d2"), col("shs").as("shs2"))
    cand.join(withA, "d1").join(withB, "d2")
      .withColumn("jaccard",
        size(array_intersect(col("shs1"), col("shs2"))).cast(DoubleType) /
          size(array_union(col("shs1"), col("shs2"))).cast(DoubleType))
      .filter(col("jaccard") >= tau)
      .select("d1", "d2", "jaccard")
  }

  /** Per-doc 64-bit SimHash over whitespace tokens (term frequency =
    * natural token multiplicity) — the native [[graft.functions.SimHash64]]
    * kernel: a pure per-row projection, so the signature costs ZERO shuffle.
    * (The previous formulation exploded token rows and ran 64 conditional
    * sums — a full corpus-token Exchange, the exact trap the MinHash kernel
    * escaped; signatures are bit-identical since per-bit counts are
    * order-independent.) */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), simhash64(wsTokens(col(textCol))).as("simhash"))

  /** SimHash near-dup pairs: 4 bands of 16 bits bucket the candidates
    * (guaranteed recall for hamming <= 3 by pigeonhole; configurable k
    * beyond that is best-effort, as in production simhash dedup), then
    * exact hamming distance filters. Only (id, 8-byte simhash) shuffles. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 6): DataFrame = {
    val sig = simhash(docs, idCol, textCol)
    val banded = sig.select(
      col(idCol), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .toDF(idCol, "simhash", "band", "band_bits")
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_bits") === col("b.band_bits") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(
        col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Canonicalize near-dup PAIRS into clusters: connected components of
    * the pair graph, canonical = the minimum doc id reachable in the
    * component. This is the step every dedup pipeline runs after pair
    * generation — "keep one document per near-dup cluster", where clusters
    * are transitive (A~B, B~C => drop two of three even if A!~C).
    *
    * Algorithm: iterative min-label propagation WITH pointer jumping —
    * each round a node takes the min of (its label, its neighbors' labels,
    * its label's label). The label-of-label hop halves chain lengths, so
    * convergence is O(log n) rounds even on path graphs (plain neighbor
    * propagation needs diameter rounds). Each round is two hash joins +
    * one aggregation; `localCheckpoint` truncates the growing lineage. The
    * per-round convergence test is a driver SCALAR (count of changed
    * labels) — iteration control, not data collection; rounds are
    * logarithmic in component size.
    *
    * Storage bookkeeping: each round's checkpoint supersedes the previous
    * round's, and the superseded blocks are unpersisted IMMEDIATELY (as are
    * the edges once the loop converges) — without this, rounds x
    * full-label-set of storage accumulates for the life of the session,
    * which at billions of nodes and ~30 pointer-jumping rounds floods
    * executor storage. Exactly ONE checkpoint (the final label set) backs
    * the returned DataFrame; call [[releaseClusters]] when done with it. */
  def clusterPairs(pairs: DataFrame, d1: String = "d1", d2: String = "d2",
      onRound: (Int, Double) => Unit = (_, _) => (), jumps: Int = 1): DataFrame = {
    require(jumps >= 0, s"need jumps >= 0, got $jumps")
    import org.apache.spark.sql.graft.Bridge
    // every checkpoint resets plan statistics: the size-only estimator
    // multiplies through each round's joins, and localCheckpoint would
    // carry the product into the next round — after ~12 rounds the
    // carried BigInt has millions of digits and the driver stalls inside
    // statistics arithmetic (Bridge.resetStats has the full story)
    def ckpt(df: DataFrame): DataFrame = Bridge.resetStats(df.localCheckpoint(true))
    // both orientations from ONE pass over `pairs`: a union of two
    // projections would run the whole upstream pair plan (self-join,
    // rollup, size joins, similarity filter) once per side
    var edges = ckpt(pairs
      .select(inline(array(
        struct(col(d1).as("a"), col(d2).as("b")),
        struct(col(d2).as("a"), col(d1).as("b")))))
      .distinct())
    var labels = ckpt(edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id")))
    var backing = labels // the checkpoint whose blocks hold `labels`
    var converged = false
    var round = 0
    while (!converged) {
      val t0 = System.nanoTime()
      val neighborMin = edges
        .join(labels.select(col("id").as("b"), col("label").as("nlabel")), Seq("b"))
        .groupBy(col("a").as("id"))
        .agg(min(col("nlabel")).as("nmin"))
      // FastSV-shaped round: fold the neighbor min into the label FIRST,
      // then shortcut the FRESH forest (l := l∘l) `jumps` times inside
      // the same plan (shortcutting STALE parents was measured a no-op).
      var folded = labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("l"))
      for (_ <- 1 to jumps)
        folded = folded
          .join(folded.select(col("id").as("l"), col("l").as("__l2")), Seq("l"), "left")
          .select(col("id"), col("label"),
            coalesce(col("__l2"), col("l")).as("l"))
      // ONE eager materialization per round: the convergence probe reads
      // this checkpoint, and the next round's labels are a narrow
      // PROJECTION over the same blocks (a second `next` checkpoint was
      // measured pure overhead — it re-wrote the identical row set)
      val updated = ckpt(folded.select(col("id"), col("label"), col("l").as("next")))
      // The probe is a job of its own each round. Fusing it into the
      // checkpoint job (`Dataset.observe` counting changed labels), plus
      // an un-checkpointed initial labels frame, was measured on
      // dedup_clusters at sf0.1, 4 cores: 34 → 29 jobs, but Bench min of 5
      // over three interleaved sessions a side read 1.89–2.00 s before and
      // 1.80–2.12 s after — no gain beyond noise. Kept as is.
      converged = updated.filter(col("next") =!= col("label")).isEmpty
      labels = updated.select(col("id"), col("next").as("label"))
      // CONTRACT the graph: rewrite edges over current labels, dropping
      // intra-cluster self-loops. Without this, a local-minimum plateau
      // stalls the frontier to ONE edge-hop per round (measured: rounds
      // == eccentricity ~14-19 on sf0.1's path-like components, however
      // deep the forest shortcuts). Contraction merges each plateau into
      // its rep, so the next neighbor hop crosses the whole merged
      // region — rounds drop to ~log(diameter) — AND the edge set
      // shrinks geometrically, so later rounds are cheaper, not just
      // fewer. Both orientations survive contraction by symmetry.
      // Deferred past round 1: dense clique-ish graphs (exact-dup
      // clusters) converge in 2-3 rounds, and contracting the full edge
      // set in round 1 — the most expensive distinct of the loop — buys
      // them nothing (measured +0.5 s on dedup_clusters); path-like
      // graphs still contract from round 2 and keep the ~log rounds.
      if (!converged && round >= 1) {
        val lmap = labels
        val newEdges = ckpt(edges
          .join(lmap.select(col("id").as("a"), col("label").as("__la")), Seq("a"))
          .join(lmap.select(col("id").as("b"), col("label").as("__lb")), Seq("b"))
          .select(col("__la").as("a"), col("__lb").as("b"))
          .filter(col("a") =!= col("b"))
          .distinct())
        Bridge.unpersistCheckpoints(edges)
        edges = newEdges
      }
      // previous round's label blocks are superseded — free before looping
      Bridge.unpersistCheckpoints(backing)
      backing = updated
      round += 1
      onRound(round, (System.nanoTime() - t0) / 1e9)
    }
    // the result reads only the final label checkpoint — the edge blocks
    // are dead weight once the loop converges
    Bridge.unpersistCheckpoints(edges)
    labels.select(col("id").as("doc_id"), col("label").as("canonical_id"))
  }

  /** Free the checkpoint blocks backing a [[clusterPairs]] result once the
    * caller has consumed (written/collected) it. The frame is not
    * recomputable afterwards. */
  def releaseClusters(clusters: DataFrame): Unit =
    org.apache.spark.sql.graft.Bridge.unpersistCheckpoints(clusters)

  /** Leakage-safe train/val/test split assignment. Independently splitting
    * DOCUMENTS leaks evaluation data: a near-duplicate of a test document
    * lands in train with probability trainPct. The fix every curation
    * pipeline runs: split by the document's dedup CLUSTER — all members of
    * a duplicate cluster (exact groups, or [[clusterPairs]] components for
    * near-dups) ride the same assignment.
    *
    * `clusters` maps doc -> canonical id (docs absent from it are their own
    * canonical — singleton clusters need no row, so the input can be the
    * SPARSE pair-derived mapping). Assignment is a deterministic md5 bucket
    * of the canonical id: no rand() (retried tasks must agree), and md5
    * agrees across engines so the split is exactly reproducible anywhere.
    * One keyed join + a codegen'd projection — nothing here is heavier
    * than the dedup that produced the clusters. */
  def assignSplits(docs: DataFrame, clusters: DataFrame, idCol: String,
      buckets: Int = 10, trainBuckets: Int = 8, valBuckets: Int = 1): DataFrame = {
    require(buckets >= 2 && trainBuckets >= 1 && valBuckets >= 0 &&
      trainBuckets + valBuckets < buckets,
      s"need train/val/test buckets to partition 0..${buckets - 1}")
    val canon = docs
      .join(clusters.select(col("doc_id").as(idCol), col("canonical_id")),
        Seq(idCol), "left")
      .withColumn("__canon", coalesce(col("canonical_id"), col(idCol)))
    // first 8 md5 hex chars of the canonical id -> uniform bucket (the
    // same engine-portable construction as sample_stratified)
    val bucket =
      conv(substring(md5(col("__canon").cast(StringType)), 1, 8), 16, 10)
        .cast(LongType) % buckets
    canon.select(
      col(idCol),
      col("__canon").as("split_key"),
      bucket.as("bucket"),
      when(bucket < trainBuckets, "train")
        .when(bucket < trainBuckets + valBuckets, "val")
        .otherwise("test").as("split"))
  }

  /** Benchmark decontamination — the cross-corpus variant of near-dup
    * detection every training-data pipeline needs: flag training documents
    * sharing any bottom-k fingerprint shingle hash with a benchmark/eval
    * corpus. The benchmark fingerprint set is tiny relative to training
    * data (thousands vs billions of docs), so it broadcasts and the check
    * costs one scan of the training fingerprints — no shuffle of text. */
  def decontaminate(train: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 8): DataFrame = {
    val fpTrain = TextAnalysis.fingerprint(train, idCol, textCol, shingleN, k)
    val fpBench = TextAnalysis.fingerprint(benchmark, idCol, textCol, shingleN, k)
      .select(col("sh_hash").as("__bench_hash")).distinct()
    fpTrain
      .join(broadcast(fpBench), col("sh_hash") === col("__bench_hash"), "left")
      .groupBy(idCol)
      .agg(max(when(col("__bench_hash").isNotNull, 1).otherwise(0)).as("__hit"))
      .withColumn("contaminated", col("__hit") === 1)
      .drop("__hit")
  }

  /** SEMANTIC decontamination — the embedding rung of the ladder (exact
    * fingerprint → bloom → n-gram rate → Jaccard → winnow → MinHash →
    * URL → this): flag a training vector when SOME benchmark vector sits
    * within cosine >= tau, catching paraphrases/translations no lexical
    * rung can see. Scale shape: the coarse quantizer trains on the
    * BENCHMARK side (benchmarks are small by construction, so the index
    * is bench-sized and the assigned bench frame BROADCASTS); each bench
    * vector lives in its one nearest cell and every corpus vector probes
    * only its `nProbe` nearest bench cells — the IVF posture, so the
    * candidate join is |corpus| × (probed bench share), never
    * corpus × bench. Candidates pass the two-phase cosine (codegen'd
    * double prune → exact decimal verify, the [[embeddingPairs]]
    * posture), so flags have EXACT precision; recall is the probe trade:
    * flagged ⊆ brute-force flags always, and probing ALL cells
    * (nProbe >= k) makes the flags EQUAL brute force (both
    * spec-pinned). */
  def decontaminateSemantic(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, vecCol: String, tau: Double,
      k: Int = 8, iters: Int = 3, nProbe: Int = 2): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau out of (0,1]: $tau")
    val cents = Similarity.kmeansCentroids(benchmark, idCol, vecCol, k, iters)
    val m = Similarity.centroidMatrix(cents)
    val names = m.map(_._1)
    val mat = m.map(_._2)
    val bench = benchmark.select(
      col(vecCol).as("__bv"),
      graft.functions.nearestCells(col(vecCol), mat, names, 1)
        .getItem(0).as("__cell"))
    val probed = corpus.select(col(idCol), col(vecCol),
      explode(graft.functions.nearestCells(col(vecCol), mat, names,
        math.min(nProbe, names.length))).as("__cell"))
    val hits = probed.join(broadcast(bench), Seq("__cell"))
      .filter(cosineFast(col(vecCol), col("__bv")) >= tau - 1e-6)
      .filter(dotExact(col(vecCol), col("__bv")) /
        (normExact(col(vecCol)) * normExact(col("__bv"))) >= tau)
      .select(col(idCol)).distinct()
      .withColumn("__hit", lit(1))
    corpus.select(col(idCol)).distinct()
      .join(hits, Seq(idCol), "left")
      .withColumn("contaminated", col("__hit").isNotNull)
      .drop("__hit")
  }

  /** Cross-corpus exact n-gram Jaccard pairs (train x bench) — NEAR-DUP
    * decontamination: [[decontaminate]] flags exact fingerprint overlap;
    * this finds training documents that are near-rewrites of benchmark
    * documents (the GPT-3-style n-gram-overlap eval sweep). Per-doc
    * shingle-set sizes are map-side projections (no shuffle); the bench
    * shingle set is small by construction so it BROADCASTS and the only
    * shuffle groups the (train, bench) hash matches — the train shingle
    * stream never self-joins (there is no sum(f^2) term, unlike the
    * within-corpus exact join). Jaccard is computed on hashed distinct
    * shingle sets (8-byte keys; 2^-64 collision odds — the
    * [[ngramJaccardPairs]] convention, oracle-checkable on strings). */
  def crossJaccardPairs(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.5): DataFrame = {
    // the repartition spreads the interpreted shingle chain across cores
    // even when the input is a single-row-group file (one scan task) —
    // the minhashLshPairs trade: shuffle raw text once, far cheaper than
    // a serial whole-corpus HOF evaluation
    def hashed(df: DataFrame, as: String) = df
      .select(col(idCol).as(as), col(textCol))
      .repartition(col(as))
      .select(col(as), shingleHashes(wsTokens(col(textCol)), n).as("shs"))
      .filter(size(col("shs")) > 0)
    val t = hashed(train, "t_id")
    val b = hashed(bench, "b_id")
    val shT = t.select(col("t_id"), size(col("shs")).as("n1"), explode(col("shs")).as("shh"))
    val shB = b.select(col("b_id"), size(col("shs")).as("n2"), explode(col("shs")).as("shh"))
    shT.join(broadcast(shB), Seq("shh"))
      .groupBy(col("t_id"), col("b_id"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        col("common").cast(DoubleType) / (col("n1") + col("n2") - col("common")))
      .filter(col("jaccard") >= tau)
      .select("t_id", "b_id", "common", "jaccard")
  }

  /** The 100 TB path for [[crossJaccardPairs]]: MinHash band signatures of
    * BOTH corpora meet on (band, band_hash) — the bench bands broadcast —
    * and only the surviving candidates get the exact hashed-set Jaccard
    * verify. Candidate volume is governed by the LSH S-curve, not by
    * shingle frequencies; verified pairs are a subset of the exact
    * cross-corpus pairs at the same tau (property-tested). */
  def crossMinhashPairs(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String,
      n: Int = 3, numPerm: Int = 128, bands: Int = 32,
      tau: Double = 0.5): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    def banded(df: DataFrame, as: String) = df
      .select(col(idCol).as(as), col(textCol))
      .repartition(col(as))
      .select(col(as), shinglesDistinct(wsTokens(col(textCol)), n).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col(as), posexplode(minhashBands(col("shs"), numPerm, bands)))
      .toDF(as, "band", "band_hash")
    val cand = banded(train, "t_id")
      .join(broadcast(banded(bench, "b_id")), Seq("band", "band_hash"))
      .select("t_id", "b_id").distinct()
    def hashed(df: DataFrame, as: String, sz: String, shs: String) = df
      .select(col(idCol).as(as), col(textCol))
      .repartition(col(as)) // spread the interpreted shingle chain (see crossJaccardPairs)
      .select(col(as), shingleHashes(wsTokens(col(textCol)), n).as(shs))
      .filter(size(col(shs)) > 0)
      .withColumn(sz, size(col(shs)))
    cand
      .join(hashed(train, "t_id", "n1", "shs1"), "t_id")
      .join(broadcast(hashed(bench, "b_id", "n2", "shs2")), "b_id")
      .withColumn("jaccard",
        size(array_intersect(col("shs1"), col("shs2"))).cast(DoubleType) /
          size(array_union(col("shs1"), col("shs2"))).cast(DoubleType))
      .filter(col("jaccard") >= tau)
      .select("t_id", "b_id", "jaccard")
  }

  /** Winnow-sketch decontamination — MOSS fingerprint overlap across
    * corpora: both sides reduce to their winnowing fingerprints
    * ([[TextAnalysis.winnowFingerprints]], the per-window rightmost-min
    * selection with the coverage guarantee), and a (train, bench) pair
    * is emitted when they share >= `minShared` distinct selected hashes,
    * with the containment fraction (shared / |bench fingerprints|) as
    * the score. Catches long verbatim runs — the winnowing guarantee
    * promises any shared run of >= w+k-1 tokens contributes a shared
    * fingerprint — at sketch size instead of all-shingles size: the
    * winnow keeps ~2/(w+1) of positions, so the joined volume is a
    * fraction of [[crossJaccardPairs]]' at the same n.
    *
    * Scale shape: the bench side's DISTINCT fingerprint set broadcasts
    * (bench-sized); the train fingerprint stream is pruned MAP-SIDE by
    * that broadcast hash join before the one (t_id, b_id) rollup
    * shuffle. Fully deterministic and SQL-expressible — oracle-backed,
    * unlike the probabilistic minhash twin. */
  def crossWinnowPairs(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String,
      k: Int = 4, w: Int = 4, minShared: Long = 2L): DataFrame = {
    def fp(df: DataFrame, as: String) = TextAnalysis
      .winnowFingerprints(
        df.select(col(idCol), col(textCol)).repartition(col(idCol)),
        idCol, textCol, k, w)
      .select(col(idCol).as(as), col("gram_hash")).distinct()
    val fb = fp(bench, "b_id")
    val bSize = fb.groupBy("b_id").agg(count(lit(1)).as("__nb"))
    fp(train, "t_id")
      .join(broadcast(fb), "gram_hash")
      .groupBy(col("t_id"), col("b_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .join(broadcast(bSize), "b_id")
      .select(col("t_id"), col("b_id"), col("shared"),
        (col("shared").cast(DoubleType) / col("__nb").cast(DoubleType))
          .as("containment"))
  }

  /** SemDeDup-style semantic near-dup pairs: learn a k-means quantizer
    * over the embedding space ([[Similarity.kmeansCentroids]]), assign
    * every vector its nearest cell (one codegen'd kernel pass), and
    * compare only WITHIN cells ([[embeddingPairs]] with the cell as the
    * block). This is the embedding-space analog of LSH blocking: the
    * candidate join touches |cell|^2 per cell instead of corpus^2, and
    * cells shrink as k grows. Approximate by design — a near-dup pair
    * split across a cell boundary is missed (recall is traded via k) —
    * but every EMITTED pair is exact-cosine-verified, so the pairs are
    * property-tested to be a subset of the all-pairs baseline at the
    * same tau. Deterministic end to end (kmeans seeds, tie-breaks and
    * means are all deterministic). */
  def semanticPairs(emb: DataFrame, idCol: String, vecCol: String,
      tau: Double, k: Int = 8, iters: Int = 3): DataFrame = {
    val cents = Similarity.kmeansCentroids(emb, idCol, vecCol, k, iters)
    val assigned = Similarity.assignCells(
      emb.select(col(idCol), col(vecCol)), vecCol, cents, "__cell")
    embeddingPairs(assigned, idCol, vecCol, "__cell", tau)
  }

  /** Bloom-gated decontamination — the form of [[decontaminate]] for when
    * the benchmark fingerprint SET no longer broadcasts comfortably as
    * exact rows (10^8+ distinct hashes at full eval-suite scale): the
    * bench hashes compress into a Bloom filter (~1.2 GB at 10^9 items /
    * 1% fpp vs 8+ GB of exact longs — and tunable down), every training
    * fingerprint is probed MAP-SIDE through the codegen'd
    * `BloomFilterMightContain` kernel, and only the bloom-positive
    * survivors (true hits + fpp of the rest) reach an exact keyed join
    * that removes the false positives. The result is bit-identical to
    * [[decontaminate]] — the bloom only PRUNES the join input, the exact
    * join decides — so the same SQL oracle checks both. Build is a
    * distributed treeAggregate (`stat.bloomFilter`); the filter ships as
    * an expression literal inside the task broadcast. */
  def decontaminateBloom(train: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 8, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val fpTrain = TextAnalysis.fingerprint(train, idCol, textCol, shingleN, k)
      .withColumn("__h", xxhash64(col("sh_hash")))
    val fpBench = TextAnalysis.fingerprint(benchmark, idCol, textCol, shingleN, k)
      .select(xxhash64(col("sh_hash")).as("__bench_h")).distinct()
    val nBench = math.max(fpBench.count(), 1L)
    val bloom = fpBench.stat.bloomFilter("__bench_h", nBench, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val hits = fpTrain
      .filter(Bridge.bloomMightContain(bytes, col("__h")))
      .join(fpBench, col("__h") === col("__bench_h"), "left_semi")
      .select(col(idCol)).distinct()
      .withColumn("__hit", lit(1))
    // one row per doc WITH a fingerprint (>= shingleN tokens) — the same
    // row universe as [[decontaminate]], so the two stay bit-identical
    fpTrain.select(col(idCol)).distinct()
      .join(hits, Seq(idCol), "left")
      .withColumn("contaminated", col("__hit").isNotNull)
      .drop("__hit")
  }

  /** Per-eval-document n-gram contamination rate — the standard "what
    * fraction of this benchmark doc's n-grams appear anywhere in the
    * training corpus" report (the membership direction is the REVERSE of
    * [[decontaminate]]: there the bench set flags training docs; here the
    * training corpus scores the bench docs). Scale shape: the bench
    * n-gram set is small by construction, so it broadcasts; ONE scan of
    * the training corpus semi-joins its exploded n-grams map-side against
    * that broadcast and emits only the matching grams (bounded by the
    * bench set, never by the corpus) for a distinct; the per-doc rollup
    * then joins bench-sized tables. The training gram stream is never
    * shuffled whole. Docs with no n-gram of length n produce no row (no
    * rate is defined), mirrored by the oracle. */
  def ngramContamination(train: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val benchG = benchmark.select(
      col(idCol), explode(shinglesDistinct(wsTokens(col(textCol)), n)).as("g"))
    val benchSet = benchG.select("g").distinct()
    val present = train
      .select(explode(shinglesDistinct(wsTokens(col(textCol)), n)).as("g"))
      .join(broadcast(benchSet), Seq("g"), "left_semi")
      .distinct()
      .withColumn("__hit", lit(1L))
    benchG
      .join(broadcast(present), Seq("g"), "left")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_ngrams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("contamination",
        col("n_hit").cast(DoubleType) / col("n_ngrams").cast(DoubleType))
  }

  /** Repeated token-window spans — exact SUBSTRING-level dedup (the
    * granularity below document near-dup: boilerplate sentences, license
    * headers, templated passages that repeat across otherwise-distinct
    * documents; Lee et al. 2022 "Deduplicating Training Data Makes
    * Language Models Better" is the published recipe). Every `w`-token
    * sliding window that occurs in >= `minDf` DISTINCT documents is
    * flagged, and per document the flagged (overlapping or adjacent)
    * windows merge into maximal spans `[span_start, span_end)` (1-based
    * token positions, end exclusive).
    *
    * Scale shape: the window stream is corpus-token-sized but every
    * shuffle is keyed — one hash aggregate finds hot windows (map-side
    * partial distinct), one semi-join flags positions (8-byte window
    * hashes, never window text — the [[ngramJaccardPairs]] convention),
    * and the island merge is a per-document window function over FLAGGED
    * positions only (documents bound the partition, no global sort). No
    * self-join: cost is linear in corpus tokens + flagged positions. */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 6, minDf: Long = 2): DataFrame = {
    require(w >= 1, s"need w >= 1, got $w")
    require(minDf >= 2, s"need minDf >= 2, got $minDf")
    val win = docs
      .select(col(idCol), posexplode(shingles(wsTokens(col(textCol)), w)))
      .toDF(idCol, "__p0", "__g")
      .select(col(idCol), (col("__p0") + 1).cast(LongType).as("__pos"),
        xxhash64(col("__g")).as("__gh"))
    val hot = win.groupBy("__gh")
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDf)
      .select("__gh")
    val flagged = win.join(hot, Seq("__gh"), "left_semi")
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
    val prevEnd = max(col("__pos") + w)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    flagged
      .withColumn("__new",
        when(prevEnd.isNull || col("__pos") > prevEnd, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__isl"))
      .agg(
        min(col("__pos")).as("span_start"),
        (max(col("__pos")) + w).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** Per-document masking summary over [[repeatedSpans]]: how many tokens
    * the substring-dedup pass would remove. One row per input document
    * (docs with no repeated span report 0 / 0.0). The trainer-side
    * contract is "drop or rewrite spans above a masked_frac budget" — this
    * report is the decision input, joined back doc-keyed (no extra text
    * movement). */
  def maskRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 6, minDf: Long = 2): DataFrame = {
    val spans = repeatedSpans(docs, idCol, textCol, w, minDf)
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("__ns"),
        sum(col("span_end") - col("span_start")).as("__nm"))
    docs
      .select(col(idCol),
        size(wsTokens(col(textCol))).cast(LongType).as("n_tokens"))
      .join(spans, Seq(idCol), "left")
      .select(
        col(idCol), col("n_tokens"),
        coalesce(col("__ns"), lit(0L)).as("n_spans"),
        coalesce(col("__nm"), lit(0L)).as("n_masked"),
        (coalesce(col("__nm"), lit(0L)).cast(DoubleType) /
          col("n_tokens").cast(DoubleType)).as("masked_frac"))
  }

  /** Embedding-cosine near-dup pairs within blocks. Norms are precomputed
    * once per vector (map-side); the block join compares only within
    * `blockCol` groups — at scale the block is an LSH bucket (see
    * Similarity.lshTopK) instead of a metadata column, never corpus x
    * corpus. Cosine uses exact decimal accumulation so results are
    * bit-reproducible across engines. */
  def embeddingPairs(emb: DataFrame, idCol: String, vecCol: String,
      blockCol: String, tau: Double): DataFrame = {
    val e = emb.select(col(idCol), col(blockCol), col(vecCol))
    // two-phase threshold: a codegen'd double cosine prunes the candidate
    // pairs (error vs the exact value is ~1e-14 relative; the 1e-6 margin
    // is orders of magnitude safe), then the exact cosine — the
    // reproducible value we emit, three DotExact passes with per-product
    // decimal rounding against the prefilter's one plain double pass —
    // runs only on survivors.
    e.as("a")
      .join(e.as("b"),
        col(s"a.$blockCol") === col(s"b.$blockCol") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(
        col(s"a.$idCol").as("v1"), col(s"b.$idCol").as("v2"),
        col(s"a.$vecCol").as("__va"), col(s"b.$vecCol").as("__vb"))
      .filter(cosineFast(col("__va"), col("__vb")) >= tau - 1e-6)
      .withColumn("cosine",
        dotExact(col("__va"), col("__vb")) /
          (normExact(col("__va")) * normExact(col("__vb"))))
      .filter(col("cosine") >= tau)
      .select("v1", "v2", "cosine")
  }
}
