package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

import graft.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2 #29-30).
  *
  * Scale posture (100 TB):
  *  - brute force is the CORRECTNESS baseline and is only ever
  *    broadcast-query-set x corpus (one scan of the corpus, local top-k
  *    per partition folded by the final window) — never corpus x corpus;
  *  - the scale path is random-hyperplane LSH: each vector maps to a small
  *    bucket id computed map-side from a seeded, data-independent plane
  *    matrix (a broadcast literal), queries probe only their own bucket,
  *    so the candidate join touches |bucket| rows instead of the corpus.
  */
object Similarity {

  /** Materialize a multi-pass build input ONCE: the Lloyd seed scan, every
    * training iteration, the code-assignment pass and the probe pass all
    * re-read their input, and without a checkpoint each pass re-runs the
    * caller's full input pipeline from the source scan (the multi-consumer
    * re-scan rule). A frame that is already checkpoint-backed passes
    * through untouched so shared-build callers never pay a second copy.
    * Builders that consume their input driver-side (training loops
    * returning arrays) take the copy through `ck.shared` instead, so the
    * copy is freed when they return — callers get no handle to it, and a
    * persisted copy per call would accumulate corpus-sized storage in a
    * long-lived session (the round-4 storage-pressure class).
    *
    * The copy keeps its origin's partitioning (usually ONE task here —
    * single-row-group scans). A repartition-to-parallelism variant was
    * measured BOTH ways at sf0.1: it wins only where each pass does
    * real compute (principalComponent's 15 power iterations,
    * 3.09 → 2.06 s — that caller widens its input itself); for the
    * PQ/kmeans training passes the per-pass compute is too small and
    * the extra shuffle plus 32-task scheduling REGRESSED every consumer
    * (pq_ann_topk 1.64 → 2.13, sim_ivfpq_residual 3.04 → 3.45,
    * ann_eval 5.01 → 6.95 — its thread pool already fills the cores
    * with independent builds, so intra-build parallelism bought
    * nothing). */
  private def materialized(df: DataFrame): DataFrame =
    if (Bridge.isCheckpointBacked(df)) df else Bridge.checkpoint(df)

  /** cosine(a, b) with norms precomputed on both sides. */
  private def cosineWithNorms(va: Column, na: Column, vb: Column, nb: Column): Column =
    dotExact(va, vb) / (na * nb)

  /** Prune scored candidates to k per query with the heap operator
    * (graft.plans.TopKPerGroup: O(n log k), map-side partial, no sort
    * spill), then rank the surviving <= k-per-query rows with a window —
    * the window now sorts a trivially small set. */
  private def rankTopK(scored: DataFrame, idCol: String, k: Int): DataFrame = {
    val pruned = graft.plans.TopKPerGroup(
      scored, Seq("q_id"), Seq(("cosine", true), (idCol, false)), k)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col(idCol))
    pruned
      .withColumn("rank", row_number().over(w).cast(LongType))
      .select("q_id", "rank", idCol, "cosine")
  }

  /** Brute-force cosine top-k: the exact ANN baseline. `queries` is
    * hint-broadcast (query sets are small by construction); the corpus is
    * scanned once; only pruned (q_id, id, cosine) rows ever shuffle. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(
      col(idCol), col(vecCol), normExact(col(vecCol)).as("__nrm"))
    val q = broadcast(queries.select(
      col(idCol).as("q_id"), col(vecCol).as("__qvec"),
      normExact(col(vecCol)).as("__qnrm")))
    val scored = c.join(q, col("q_id") =!= col(idCol))
      .select(
        col("q_id"), col(idCol),
        cosineWithNorms(col("__qvec"), col("__qnrm"), col(vecCol), col("__nrm"))
          .as("cosine"))
    rankTopK(scored, idCol, k)
  }

  /** Margin-based bitext/candidate mining (the Artetxe–Schwenk ratio
    * margin): for a QUERY BATCH of source vectors against the target
    * corpus, margin(x,y) = cos(x,y) / ((a_x + a_y) / 2) where a_x is the
    * mean of x's top-k target cosines and a_y the mean of y's top-k
    * cosines over the batch — pairs mutually much closer than their
    * neighborhoods, the standard parallel-corpus miner. Production
    * batches sources; at 100 TB the dense cosine matrix swaps for ANN
    * shortlists (the IVF/LSH rows) feeding the SAME margin rescore —
    * this is the exact small-batch contract those compose against.
    * Engine-exact: cosines via decimal-exact dot/norms, top-k means as
    * decimal sums over tie-broken row_number windows, margin one
    * fixed-order IEEE division (exact-zero denominators filtered —
    * cosines can be negative and ANSI errors on x/0). */
  def marginMine(src: DataFrame, tgt: DataFrame, idCol: String,
      vecCol: String, k: Int, topN: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(topN >= 1, s"need topN >= 1, got $topN")
    val t = tgt.select(col(idCol).as("tgt_id"), col(vecCol).as("__tv"),
      normExact(col(vecCol)).as("__tnrm"))
    val s = broadcast(src.select(col(idCol).as("src_id"),
      col(vecCol).as("__sv"), normExact(col(vecCol)).as("__snrm")))
    // the cosine matrix feeds THREE consumers (both top-k neighborhood
    // means + the final margin join) — checkpoint it so the batch x
    // corpus scoring pass runs once, not per consumer (the multi-consumer
    // re-scan rule). |batch| x |corpus| rows, batch-bounded by contract.
    val c = Bridge.checkpoint(
      t.join(s, col("src_id") =!= col("tgt_id"))
        .select(col("src_id"), col("tgt_id"),
          cosineWithNorms(col("__sv"), col("__snrm"), col("__tv"), col("__tnrm"))
            .as("cosine")))
    def topMean(part: String, tie: String, out: String): DataFrame = {
      val w = Window.partitionBy(col(part))
        .orderBy(col("cosine").desc, col(tie))
      c.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k)
        .groupBy(col(part))
        .agg((sum(col("cosine").cast(DecimalType(28, 12))).cast(DoubleType) /
          lit(k)).as(out))
    }
    val ax = topMean("src_id", "tgt_id", "a_src")
    val ay = topMean("tgt_id", "src_id", "a_tgt")
    c.join(broadcast(ax), Seq("src_id"))
      .join(ay, Seq("tgt_id"))
      .withColumn("__den", (col("a_src") + col("a_tgt")) / lit(2.0))
      .filter(col("__den") =!= 0.0)
      .withColumn("margin", col("cosine") / col("__den"))
      .select("src_id", "tgt_id", "cosine", "margin")
      .orderBy(col("margin").desc, col("src_id"), col("tgt_id"))
      .limit(topN)
  }

  /** Per-group centroids of an embedding column — the IVF coarse-quantizer
    * build step (each group's mean vector seeds a cell; queries then probe
    * only the nearest cells). Emitted as (group, dim position, value) rows
    * with exact decimal accumulation so the result is engine-reproducible.
    * One explode + one keyed shuffle of scalars; vectors never move whole. */
  def groupCentroids(emb: DataFrame, groupCol: String, vecCol: String): DataFrame =
    emb
      .select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col(groupCol), col("pos").cast(LongType).as("pos"))
      .agg((sum(col("x").cast(DoubleType).cast(DecimalType(28, 12)))
        .cast(DoubleType) / count(col("x"))).as("centroid"))

  /** Lloyd's k-means over the embedding column — the data-driven IVF
    * coarse-quantizer build ([[groupCentroids]] derives cells from an
    * existing LABEL column; this LEARNS them from the vectors, which is
    * what a real IVF index build does). Each iteration costs ONE corpus
    * scan (cell assignment through the codegen'd NearestCells kernel —
    * the whole centroid matrix scored per row inside codegen) plus one
    * scalar-shuffle mean (decimal-exact, per dim); the k x dim centroid
    * matrix lives on the driver between rounds — the same justified
    * index-size collect as [[ivfTopK]]. Deterministic end to end: seeds
    * are the k vectors with smallest md5(id) (no rand(), partitioning-
    * independent), assignment ties break by cell order inside the kernel,
    * and means are order-independent decimal sums — so the index is
    * bit-reproducible run to run. An emptied cell keeps its previous
    * centroid (the standard fix). Returns (cell, pos, centroid) rows
    * from the FINAL assignment pass. */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(iters >= 1, s"need iters >= 1, got $iters")
    Bridge.withCheckpoints { ck =>
      // the seed scan + every Lloyd iteration + the final assignment each
      // re-read the input: materialize the (id, vec) projection once
      val base = ck.shared(emb.select(col(idCol), col(vecCol)))
      var cents: Array[Array[Double]] = base
        .withColumn("__r", md5(col(idCol).cast(StringType)))
        .orderBy(col("__r"), col(idCol))
        .limit(k)
        .select(col(vecCol))
        .collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      val cellNames = cents.indices.map(i => f"c$i%03d").toArray

      def assign(): DataFrame = base.select(
        col(vecCol),
        graft.functions.nearestCells(col(vecCol), cents, cellNames, 1)
          .getItem(0).as("cell"))

      for (_ <- 1 until iters) {
        val updated = groupCentroids(assign(), "cell", vecCol)
          .collect()
          .groupBy(_.getString(0))
          .map { case (cell, rows) =>
            cell -> rows.sortBy(_.getLong(1)).map(_.getDouble(2))
          }
        cents = cellNames.zipWithIndex.map { case (n, i) => updated.getOrElse(n, cents(i)) }
      }
      // the (cell, pos, centroid) result is index-sized (k x dim rows) but
      // consumers collect it more than once (centroidMatrix + assignCells,
      // and shared-coarse callers fan it out further): checkpoint it so the
      // final assignment pass runs once, not per collect. It no longer
      // reads base, so the scope frees an owned copy on return.
      ck(groupCentroids(assign(), "cell", vecCol))
    }
  }

  /** Collect a (cell, pos, centroid) table into the driver-side matrix the
    * [[graft.functions.NearestCells]] kernel broadcasts — index-sized by
    * construction (nCells x dim). */
  private[operators] def centroidMatrix(
      centroids: DataFrame): Array[(String, Array[Double])] =
    centroids
      .orderBy("pos")
      .collect()
      .groupBy(_.getString(0))
      .map { case (cell, rows) =>
        cell -> rows.sortBy(_.getLong(1)).map(_.getDouble(2))
      }
      .toArray.sortBy(_._1)

  /** Assign each vector its nearest centroid cell (one codegen'd
    * [[graft.functions.NearestCells]] pass; the centroid matrix rides the
    * task broadcast as a literal). The blocking step of SemDeDup-style
    * semantic dedup and of the IVF build. */
  def assignCells(corpus: DataFrame, vecCol: String, centroids: DataFrame,
      cellCol: String = "cell"): DataFrame =
    cellAssigner(centroids, vecCol, cellCol)(corpus)

  /** [[assignCells]] with the index collect HOISTED: resolves the
    * centroid table to its driver-side matrix ONCE and returns the
    * per-frame assignment closure. The streaming ingest face applies the
    * closure per micro-batch — the standing index is collected at stream
    * start, not once per batch — and because both faces share this one
    * closure, stream-assigned cells equal batch-assigned cells bitwise
    * (pinned in StreamingSpec). */
  def cellAssigner(centroids: DataFrame, vecCol: String,
      cellCol: String = "cell"): DataFrame => DataFrame = {
    val m = centroidMatrix(centroids)
    val cents = m.map(_._2)
    val names = m.map(_._1)
    corpus => corpus.withColumn(cellCol,
      graft.functions.nearestCells(col(vecCol), cents, names, 1).getItem(0))
  }

  /** IVF approximate top-k: k-cell inverted-file search. The corpus is
    * partitioned into cells by nearest centroid (the [[groupCentroids]]
    * output is the index build); each query probes only its `nProbe`
    * nearest cells, so the scan cost drops from |corpus| to
    * ~|corpus| * nProbe / nCells per query. The centroid table is the
    * INDEX — tiny by construction (nCells rows) — so collecting it to the
    * driver and shipping it as a broadcast literal is the correct
    * distribution strategy at any corpus size. Approximate: recall is
    * traded via nProbe (rows-only check). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 2): DataFrame = {
    // centroid matrix: cell -> ordered dim values (nCells x dim, tiny)
    val cents = centroidMatrix(centroids)
    val cellNames = cents.map(_._1)
    val centMatrix = cents.map(_._2)

    // nearest-cell assignment: the native one-pass NearestCells kernel
    // scores the vector against the whole centroid matrix inside codegen
    // (squared-L2 ranking form -2 v.c + |c|^2; |v|^2 constant per row).
    // The previous formulation ran one INTERPRETED aggregate(zip_with(...))
    // per centroid per row — nCells x the work, outside codegen.
    def nearest(vec: Column, n: Int): Column =
      graft.functions.nearestCells(vec, centMatrix, cellNames, n)

    val c = corpus.select(
      col(idCol), col(vecCol), normExact(col(vecCol)).as("__nrm"),
      nearest(col(vecCol), 1).getItem(0).as("__cell"))
    val q = broadcast(queries.select(
      col(idCol).as("q_id"), col(vecCol).as("__qvec"),
      normExact(col(vecCol)).as("__qnrm"),
      explode(nearest(col(vecCol), nProbe)).as("__cell")))
    val scored = c.join(q, Seq("__cell"))
      .filter(col("q_id") =!= col(idCol))
      .select(
        col("q_id"), col(idCol),
        cosineWithNorms(col("__qvec"), col("__qnrm"), col(vecCol), col("__nrm"))
          .as("cosine"))
      .distinct() // a (q, doc) pair can meet in several probed cells
    rankTopK(scored, idCol, k)
  }

  /** Label-filtered IVF search — the "filtered vector search" verb every
    * production vector store grows (search only docs matching a
    * predicate: a language, a license, a date range). PRE-filter: the
    * predicate prunes the corpus BEFORE the cell join (the index prunes
    * cells, the predicate prunes within them), so no post-filter
    * under-fill pathology; callers RAISE `nProbe` to compensate for the
    * thinner cells (at selectivity s, cells hold ~s× the vectors, so
    * probing ~1/s× the cells restores the candidate budget). Same
    * deterministic contract as [[ivfTopK]]. */
  def ivfTopKFiltered(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int, pred: Column): DataFrame =
    ivfTopK(corpus.filter(pred), queries, centroids, idCol, vecCol, k, nProbe)

  /** Deterministic random-hyperplane matrix (nPlanes x dim), generated from
    * a fixed seed on the driver and shipped as a broadcast literal — no
    * per-row randomness, so signatures are reproducible run to run. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rng.nextGaussian())
  }

  /** Map-side LSH bucket id: sign bit per hyperplane, packed into a long —
    * the native one-pass [[graft.functions.HyperplaneBucket]] kernel (the
    * previous per-plane `aggregate(zip_with(...))` ran nPlanes interpreted
    * higher-order expressions per row; bucket ids are bit-identical). */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    graft.functions.hyperplaneBucket(vec, planes)

  /** LSH-bucketed approximate top-k: bucket the corpus and the queries with
    * the same plane matrix, compare each query only against its bucket.
    * Candidate volume per query ~ corpus/2^nPlanes; recall is traded via
    * nPlanes. Output matches bruteForceTopK's shape (rank within bucket). */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nPlanes: Int = 8, seed: Long = 42L): DataFrame = {
    val dim = corpus.select(size(col(vecCol))).first().getInt(0)
    val planes = hyperplanes(nPlanes, dim, seed)
    val c = corpus.select(
      col(idCol), col(vecCol),
      normExact(col(vecCol)).as("__nrm"),
      lshBucket(col(vecCol), planes).as("__bucket"))
    val q = broadcast(queries.select(
      col(idCol).as("q_id"), col(vecCol).as("__qvec"),
      normExact(col(vecCol)).as("__qnrm"),
      lshBucket(col(vecCol), planes).as("__qbucket")))
    val scored = c.join(q, col("__bucket") === col("__qbucket") && col("q_id") =!= col(idCol))
      .select(
        col("q_id"), col(idCol),
        cosineWithNorms(col("__qvec"), col("__qnrm"), col(vecCol), col("__nrm"))
          .as("cosine"))
    rankTopK(scored, idCol, k)
  }

  /** Multi-table LSH top-k — the standard recall lever for hyperplane
    * LSH (Indyk/Motwani; the E2LSH "L tables" construction): one table
    * of b planes finds a cos-θ neighbor with probability (1−θ/π)^b,
    * which collapses fast (the ann_eval row measures the single-table
    * default at recall 0 on this corpus); L independent tables raise it
    * to 1−(1−p)^L while the candidate volume grows only ~L·corpus/2^b.
    * Table t's planes are seeded `seed + t`, so table 0 IS the
    * single-table recipe and the candidate set is a SUPERSET of
    * [[lshTopK]]'s — recall is monotone in nTables (spec-pinned, along
    * with nTables=1 ≡ lshTopK bit-for-bit).
    *
    * Shape: the corpus fans out to (table, bucket) rows via ONE
    * posexplode of the L kernel-computed bucket ids (scan-side, no
    * shuffle); queries broadcast the same fan-out; the join key is
    * (table, bucket); duplicate (q, doc) meetings across tables dedup
    * AFTER scoring on the deterministic cosine (the ivfTopK pattern —
    * distinct on 3 scalar columns, never on vectors). At 100 TB the
    * fan-out multiplies the SCAN by L but the shuffle only carries
    * pruned candidate rows, which is the right trade for an index
    * whose whole point is not moving vectors. */
  def lshTopKMulti(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nPlanes: Int = 8, nTables: Int = 4, seed: Long = 42L): DataFrame = {
    require(nTables >= 1, s"nTables must be >= 1: $nTables")
    val dim = corpus.select(size(col(vecCol))).first().getInt(0)
    val tables = (0 until nTables)
      .map(t => hyperplanes(nPlanes, dim, seed + t))
    def buckets(vec: Column): Column =
      array(tables.map(p => lshBucket(vec, p)): _*)
    val c = corpus.select(
      col(idCol), col(vecCol), normExact(col(vecCol)).as("__nrm"),
      posexplode(buckets(col(vecCol))).as(Seq("__t", "__bucket")))
    val q = broadcast(queries.select(
      col(idCol).as("q_id"), col(vecCol).as("__qvec"),
      normExact(col(vecCol)).as("__qnrm"),
      posexplode(buckets(col(vecCol))).as(Seq("__qt", "__qbucket"))))
    val scored = c.join(q,
        col("__t") === col("__qt") && col("__bucket") === col("__qbucket") &&
          col("q_id") =!= col(idCol))
      .select(
        col("q_id"), col(idCol),
        cosineWithNorms(col("__qvec"), col("__qnrm"), col(vecCol), col("__nrm"))
          .as("cosine"))
      .distinct() // a (q, doc) pair can meet in several tables
    rankTopK(scored, idCol, k)
  }

  /** Product-quantization ANN (Jegou/Douze/Schmid 2011) — the compression
    * half of the standard IVF-PQ architecture: at 100 TB the full float
    * vectors cannot be kept online, so each vector is stored as `m` sub-
    * space codebook codes (m bytes at ksub <= 256 vs 4·dim — a 32x cut at
    * dim=64/m=8) and queries score candidates with ASYMMETRIC distance:
    * the query stays exact, each subspace contributes a precomputed
    * table[code] partial.
    *
    * Build: per subspace j, a ksub-cell [[kmeansCentroids]] codebook over
    * `slice(vec)` (at 100 TB codebooks train on a corpus SAMPLE — the
    * published practice — so the build cost is sample-sized; assignment
    * is one codegen'd NearestCells pass per subspace, map-side). Search:
    * the per-query distance tables (queries x m x ksub rows — query-set
    * sized) BROADCAST-join the exploded (vec, subspace, code) stream; one
    * (q, vec) rollup shuffle sums the partials; the heap TopKPerGroup
    * ranks. Vectors never move whole; no driver-side scoring loop.
    *
    * Deterministic (md5-seeded k-means, IEEE table arithmetic in fixed
    * order, unique-id tie-breaks). Approximate — rows-only check;
    * property-tested: codes in range, determinism, recall vs the exact
    * L2 top-k, and the distance tables reproduce exact asymmetric L2 for
    * a vector that equals its own reconstruction. */
  def pqAnnTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 16, ksub: Int = 64,
      iters: Int = 4,
      books: Option[(Array[Array[Array[Double]]], Int)] = None): DataFrame = {
    val (codes, tables) =
      pqCodesAndTables(corpus, queries, idCol, vecCol, m, ksub, iters, books)
    pqRank(codes.join(broadcast(tables), Seq("__j", "__code")), idCol, k)
  }

  /** Full IVF-PQ: the coarse inverted file restricts WHICH vectors each
    * query scores (nProbe of coarseCells cells — the [[ivfTopK]] recall
    * trade), product quantization decides HOW each candidate is scored
    * (asymmetric distance over codes — the [[pqAnnTopK]] compression
    * trade). The probes set (queries x nProbe rows) broadcasts and
    * filters the code stream BEFORE the per-(query, vector) rollup, so
    * ADC work per query drops by ~nProbe/coarseCells; in a full storage
    * integration the code stream is additionally bucketed by coarse cell
    * so non-probed cells are never scanned. With nProbe = coarseCells
    * this is bit-identical to [[pqAnnTopK]] (spec-pinned). */
  def ivfPqTopK(corpus0: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, coarseCells: Int = 32, nProbe: Int = 4,
      m: Int = 16, ksub: Int = 64, iters: Int = 4,
      coarseOpt: Option[DataFrame] = None,
      books: Option[(Array[Array[Array[Double]]], Int)] = None): DataFrame = {
    require(coarseCells >= 1, s"need coarseCells >= 1, got $coarseCells")
    require(nProbe >= 1, s"need nProbe >= 1, got $nProbe")
    // PQ training, coarse training, code assignment and cell assignment
    // are all passes over the same (id, vec) projection — one shared
    // materialization feeds every one of them
    val corpus = materialized(corpus0.select(col(idCol), col(vecCol)))
    val (codes, tables) =
      pqCodesAndTables(corpus, queries, idCol, vecCol, m, ksub, iters, books)
    val coarse = coarseOpt.getOrElse(
      kmeansCentroids(corpus, idCol, vecCol, coarseCells, iters))
    val cells = assignCells(corpus, vecCol, coarse, "__coarse")
      .select(col(idCol), col("__coarse"))
    val cm = centroidMatrix(coarse)
    val probes = queries.select(
      col(idCol).as("q_id"),
      explode(graft.functions.nearestCells(col(vecCol), cm.map(_._2),
        cm.map(_._1), math.min(nProbe, cm.length))).as("__coarse"))
    pqRank(
      codes
        .join(cells, idCol)
        .join(broadcast(tables), Seq("__j", "__code"))
        .join(broadcast(probes), Seq("q_id", "__coarse")),
      idCol, k)
  }

  /** Shared PQ build: joint codebooks + the code stream + the per-query
    * ADC tables (see [[pqAnnTopK]] for the shapes). */
  private def pqCodesAndTables(corpus0: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, m: Int, ksub: Int, iters: Int,
      booksOpt: Option[(Array[Array[Array[Double]]], Int)] = None)
      : (DataFrame, DataFrame) = {
    // training re-reads the corpus per iteration and the code pass once
    // more: one shared materialization (passthrough when the caller —
    // or a shared ann_eval build — already checkpointed it)
    val corpus = materialized(corpus0.select(col(idCol), col(vecCol)))
    val (books, d) = booksOpt.getOrElse(
      pqTrainBooks(corpus, idCol, vecCol, m, ksub, iters))

    // code assignment: the same single-kernel pass, map-side
    val codes = corpus
      .select(col(idCol), graft.functions.pqCodes(col(vecCol), books).as("__codes"))
      .select(col(idCol), posexplode(col("__codes")))
      .toDF(idCol, "__j", "__code")

    // asymmetric distance tables: exact per-subspace L2^2 from each query
    // to each codebook centroid — queries x m x ksub rows (query-set
    // sized), built from the collected query vectors (the broadcast-query
    // convention of bruteForceTopK)
    val spark = corpus.sparkSession
    import spark.implicits._
    val qvecs = queries.select(col(idCol), col(vecCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val tables = qvecs.toSeq.flatMap { case (qid, qv) =>
      pqDistRows(books, d, Array.tabulate(qv.length)(i => qv(i).toDouble))
        .map { case (j, ci, s) => (qid, j, ci, s) }
    }.toDF("q_id", "__j", "__code", "__partial")

    (codes, tables)
  }

  /** One query point's ADC table rows: per (subspace j, codebook entry
    * ci) the exact per-subspace L2² partial — the fixed-order IEEE loop
    * both the plain and the residual table builds share. */
  private def pqDistRows(books: Array[Array[Array[Double]]], d: Int,
      qv: Array[Double]): Seq[(Int, Int, Double)] =
    books.indices.flatMap { j =>
      books(j).zipWithIndex.map { case (cent, ci) =>
        var s = 0.0
        var i = 0
        while (i < d) {
          val diff = qv(j * d + i) - cent(i)
          s += diff * diff
          i += 1
        }
        (j, ci, s)
      }
    }

  /** Joint PQ codebook training over all m subspaces — the shared build
    * step of [[pqAnnTopK]] / [[ivfPqTopK]] / [[ivfPqResidualTopK]].
    * Returns (books, subspace width d). */
  private[graft] def pqTrainBooks(corpus0: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int): (Array[Array[Array[Double]]], Int) = {
    require(m >= 1, s"need m >= 1, got $m")
    require(ksub >= 2, s"need ksub >= 2, got $ksub")
    Bridge.withCheckpoints { ck =>
      // dim probe + seed scan + every joint-Lloyd iteration re-read the
      // corpus: materialize the (id, vec) projection once; the books are
      // driver arrays, so the scope frees an owned copy on return
      val corpus = ck.shared(corpus0.select(col(idCol), col(vecCol)))

      // Joint Lloyd's over ALL m subspaces: each iteration is ONE corpus
      // scan (m codegen'd NearestCells exprs in one projection) + ONE
      // keyed shuffle of (subspace, cell, pos, x) scalars — per-iteration
      // cost is independent of m, unlike m separate kmeansCentroids runs
      // (measured 29 s -> ~5 s at sf0.1 from the job-count cut alone).
      // Seeds are the ksub smallest-md5 vectors sliced per subspace (the
      // kmeansCentroids convention: deterministic, partitioning-free).
      // dim comes from the collected seeds — a separate dim-probe job per
      // training call was a pure job-count tax (two calls per ann_eval).
      val seedVecs = corpus.select(col(idCol), col(vecCol))
        .withColumn("__r", md5(col(idCol).cast(StringType)))
        .orderBy(col("__r"), col(idCol)).limit(ksub)
        .select(col(vecCol)).collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      require(seedVecs.length >= 2, s"need >= 2 vectors, got ${seedVecs.length}")
      val dim = seedVecs(0).length
      require(dim % m == 0, s"need dim % m == 0, got dim=$dim m=$m")
      val d = dim / m
      var books: Array[Array[Array[Double]]] =
        (0 until m).toArray.map(j => seedVecs.map(_.slice(j * d, (j + 1) * d)))

      // all m assignments in ONE PqCodes kernel call: m separate
      // NearestCells expressions put ~m inlined kernel bodies into a single
      // whole-stage-codegen method, blowing the JIT huge-method limit so
      // the hot loop ran INTERPRETED (~425 us/row measured at m=16) — the
      // MinHashBands lesson again
      def codesCol = graft.functions.pqCodes(col(vecCol), books).as("__codes")
      for (_ <- 1 until iters) {
        val updated = corpus
          .select(col(vecCol), codesCol)
          .select(posexplode(col(vecCol)).as(Seq("__i", "__x")), col("__codes"))
          .withColumn("__j", floor(col("__i") / d).cast(IntegerType))
          .select(col("__j"),
            element_at(col("__codes"), col("__j") + 1).as("__code"),
            (col("__i") % d).cast(LongType).as("__pos"), col("__x"))
          .groupBy(col("__j"), col("__code"), col("__pos"))
          .agg((sum(col("__x").cast(DoubleType).cast(DecimalType(28, 12)))
            .cast(DoubleType) / count(col("__x"))).as("__c"))
          .collect()
          .groupBy(r => (r.getInt(0), r.getInt(1)))
          .map { case (k2, rows) =>
            k2 -> rows.sortBy(_.getLong(2)).map(_.getDouble(3))
          }
        books = (0 until m).toArray.map { j =>
          books(j).indices.toArray.map { ci =>
            updated.getOrElse((j, ci), books(j)(ci)) // empty cell carries forward
          }
        }
      }
      (books, d)
    }
  }

  /** IVFADC residual refinement — the standard IVF-PQ recall lever at
    * EQUAL code budget: PQ encodes the RESIDUAL x − coarseCentroid[cell]
    * instead of x itself (the FAISS IndexIVFPQ default). Residuals
    * concentrate near the origin, so the same m × ksub codebook spends
    * its resolution on a far smaller ball — reconstruction error drops
    * and recall rises with zero extra bytes per vector.
    *
    * Asymmetric distance with residuals is PER-CELL: each query builds
    * one ADC table per PROBED cell from (q − centroid[cell]), so tables
    * are queries × nProbe × m × ksub rows — still query-set sized, still
    * a broadcast — and the candidate join keys on (cell, subspace, code)
    * so every candidate scores against its own cell's table. Probes are
    * computed driver-side from the same collected query vectors the
    * tables need (nearest cells by squared L2, ties by cell name — the
    * NearestCells ranking).
    *
    * Residuals materialize ONCE behind an eager checkpoint: the Lloyd
    * training loop re-scans them `iters` times and the code pass once
    * more, so the interpreted zip_with subtraction runs in a single
    * build pass, never per consumer (the multi-consumer re-scan rule).
    * Deterministic end to end (md5-seeded k-means twice, fixed-order
    * IEEE tables, unique-id tie-breaks); approximate — rows-only.
    * Recall is pinned strictly above plain [[ivfPqTopK]] at equal
    * parameters on a CLUSTERED fixture (LlmOpsSpec — the regime
    * residual encoding exists for); on the registered near-isotropic
    * unit-norm corpus residuals cannot shrink, and ann_eval honestly
    * records parity there. */
  def ivfPqResidualTopK(corpus0: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, coarseCells: Int = 32, nProbe: Int = 4,
      m: Int = 16, ksub: Int = 64, iters: Int = 4,
      coarseOpt: Option[DataFrame] = None): DataFrame = {
    require(coarseCells >= 1, s"need coarseCells >= 1, got $coarseCells")
    require(nProbe >= 1, s"need nProbe >= 1, got $nProbe")
    val spark = corpus0.sparkSession
    import spark.implicits._
    // coarse training + residual assignment share one materialization
    // (the residual frame itself checkpoints separately below)
    val corpus = materialized(corpus0.select(col(idCol), col(vecCol)))
    val coarse = coarseOpt.getOrElse(
      kmeansCentroids(corpus, idCol, vecCol, coarseCells, iters))
    val cm = centroidMatrix(coarse)
    val cellVecs = cm.toSeq.toDF("__coarse", "__cent")
    val res = assignCells(corpus, vecCol, coarse, "__coarse")
      .join(broadcast(cellVecs), "__coarse")
      .select(col(idCol), col("__coarse"),
        zip_with(col(vecCol), col("__cent"),
          (a, b) => (a - b).cast(FloatType)).as("__res"))
      .localCheckpoint(true)
    val (books, d) = pqTrainBooks(res, idCol, "__res", m, ksub, iters)
    val codes = res
      .select(col(idCol), col("__coarse"),
        graft.functions.pqCodes(col("__res"), books).as("__codes"))
      .select(col(idCol), col("__coarse"), posexplode(col("__codes")))
      .toDF(idCol, "__coarse", "__j", "__code")
    val qvecs = queries.select(col(idCol), col(vecCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val tables = qvecs.toSeq.flatMap { case (qid, qv) =>
      val probed = cm.map { case (nm, c) =>
        var s = 0.0
        var i = 0
        while (i < c.length) {
          val diff = qv(i).toDouble - c(i)
          s += diff * diff
          i += 1
        }
        (s, nm, c)
      }.sortBy(t => (t._1, t._2)).take(math.min(nProbe, cm.length))
      probed.flatMap { case (_, nm, c) =>
        val qres = Array.tabulate(qv.length)(i => qv(i).toDouble - c(i))
        pqDistRows(books, d, qres).map { case (j, ci, s) => (qid, nm, j, ci, s) }
      }
    }.toDF("q_id", "__coarse", "__j", "__code", "__partial")
    pqRank(
      codes.join(broadcast(tables), Seq("__coarse", "__j", "__code")),
      idCol, k)
  }

  /** Per-dimension scalar-quantization stats: (pos, mn, mx) over the whole
    * corpus — the SQ8 index-compression build step (faiss
    * ScalarQuantizer-style). Dim-bounded output (one row per dimension);
    * the aggregate partial-combines map-side, so the only Exchange carries
    * dims x partitions scalars regardless of corpus size. */
  def sq8Stats(emb: DataFrame, vecCol: String): DataFrame =
    emb
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("pos").cast(LongType).as("pos"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))

  /** SQ8 scalar quantization: each element linearly mapped to an 8-bit
    * code against its dimension's corpus [mn, mx] range — 4x storage
    * compression for ANN shortlists with a bounded reconstruction error of
    * (mx-mn)/255 per element. Emitted in the audit-friendly exploded
    * (id, pos, code) form (the [[groupCentroids]] convention); the shape
    * is one scan + the dim-bounded stats broadcast back onto it — no
    * corpus-sized shuffle at any scale. Arithmetic is engine-portable:
    * float mn/mx are exact, and the scale/floor runs in IEEE double with a
    * fixed association order, so the codes are bit-reproducible. A
    * degenerate dimension (mx == mn) codes to 0. */
  def sq8Encode(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val e = emb.select(col(idCol),
      posexplode(col(vecCol)).as(Seq("pos", "x")))
      .withColumn("pos", col("pos").cast(LongType))
    val scaled = ((col("x").cast(DoubleType) - col("mn").cast(DoubleType)) * lit(255.0)) /
      (col("mx").cast(DoubleType) - col("mn").cast(DoubleType))
    e.join(broadcast(sq8Stats(emb, vecCol)), "pos")
      .select(col(idCol), col("pos"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(floor(scaled), lit(255L))).as("code"))
  }

  /** Packed SQ8 writer: same codes as [[sq8Encode]] but emitted as one
    * int-array column per vector against a plan-embedded stats matrix (the
    * PQ-codebook precedent: stats are dim-sized driver state from
    * [[sq8Stats]]) — the form a 100 TB index write actually ships, with no
    * 64x row inflation. Per-row small-array HOF (interpreted) is fine
    * here: one pass, zero shuffle. Property-pinned element-identical to
    * the exploded form. */
  def sq8EncodePacked(emb: DataFrame, idCol: String, vecCol: String,
      stats: Array[(Double, Double)]): DataFrame = {
    val mns = array(stats.map(s => lit(s._1)): _*)
    val mxs = array(stats.map(s => lit(s._2)): _*)
    emb.select(col(idCol), transform(col(vecCol), (x, i) => {
      val mn = element_at(mns, i + 1)
      val mx = element_at(mxs, i + 1)
      when(mx === mn, lit(0L))
        .otherwise(least(floor(((x.cast(DoubleType) - mn) * lit(255.0)) / (mx - mn)),
          lit(255L)))
    }).as("codes"))
  }

  /** Collect [[sq8Stats]] into the per-dim (mn, mx) matrix
    * [[sq8EncodePacked]] embeds — dim-sized driver state, the same
    * justified index-size collect as [[centroidMatrix]]. */
  def sq8StatsMatrix(stats: DataFrame): Array[(Double, Double)] =
    stats.orderBy("pos").collect()
      .map(r => (r.getFloat(1).toDouble, r.getFloat(2).toDouble))

  /** Embedding-space outliers: the k vectors farthest (squared euclidean)
    * from the corpus mean vector — the embedding-quality monitor that
    * surfaces corrupt/mislabeled/out-of-domain vectors before an index
    * build or a semantic-dedup run trusts them.
    *
    * Exactness: the per-dim mean uses the decimal-accumulation route
    * ([[groupCentroids]]' engine-parity pattern), each squared deviation
    * is IEEE double cast to DECIMAL(28,12), and the per-vector distance
    * is a decimal fold — decimal addition is exact, so the per-row
    * element-order fold equals ANY-order summation bit for bit: `dist2`
    * and its top-k ties are reproducible across partitionings and
    * engines, and a plain SUM-per-vector oracle matches it.
    *
    * Shape: the mean is one dim-bounded map-side-combined aggregate,
    * collected (dim-sized driver state, the [[centroidMatrix]] precedent)
    * and plan-embedded; scoring is then a PER-ROW fold over the vector —
    * zero shuffles, no explode — and the global top-k is a TakeOrdered
    * (per-partition heads folded on the driver), not a full sort. An
    * earlier exploded form (posexplode + broadcast mean + per-vector
    * decimal rollup) produced identical values but shuffled rows x dims
    * decimal scalars; the per-row fold removes that Exchange entirely —
    * at the 100x stress scale (200k vectors x 64 dims) the scoring pass
    * measures ~1 s warm, and the dim-bounded mean aggregate (~2.5 s) is
    * the remaining cost. */
  /** Exact per-dim corpus mean: decimal accumulation (order-independent)
    * collected to dim-sized driver state — the centroids precedent. */
  private[operators] def exactMean(emb: DataFrame, vecCol: String): Array[Double] =
    emb
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg((sum(col("x").cast(DoubleType).cast(DecimalType(28, 12)))
        .cast(DoubleType) / count(col("x"))).as("mu"))
      .orderBy("pos")
      .collect().map(_.getDouble(1))

  def embeddingOutliers(emb: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val mu = exactMean(emb, vecCol)
    val muLit = array(mu.map(lit): _*)
    val diff = zip_with(col(vecCol), muLit, (x, m) => x.cast(DoubleType) - m)
    emb
      .select(col(idCol), dotExact(diff, diff).as("dist2"))
      .orderBy(col("dist2").desc, col(idCol))
      .limit(k)
  }

  /** Top principal direction of the embedding corpus by MATRIX-FREE
    * power iteration — PCA's first component (the dominant variance
    * direction: whitening, drift direction, directional outliers)
    * without ever materializing the d×d covariance. Each iteration
    * computes A·v = Σ_rows (x−μ)·((x−μ)·v) directly: per row the scalar
    * p = (x−μ)·v is a fixed-element-order double fold (deterministic),
    * the per-dim contribution (x_i−μ_i)·p aggregates EXACTLY in DECIMAL
    * (order-independent) and collects to dim-sized driver state (the
    * centroids precedent) — so the whole iteration is deterministic AND
    * layout-invariant, which the classic per-partition d×d Gramian
    * accumulation in doubles is not (float sums reorder under
    * repartitioning). Per iteration: ONE rows×d posexplode shuffle (the
    * embedding_centroids shape) — no d² blowup anywhere. Normalization
    * and the Rayleigh quotient are driver doubles; the returned v is
    * sign-canonicalized (its largest-magnitude coordinate positive), so
    * results are bit-reproducible run to run.
    *
    * Returns (mean, v, lambda): lambda = ‖A·v‖ at the last iteration ≈
    * n·(top eigenvalue of the uncentered-count covariance) — callers
    * divide by n for per-vector variance. */
  def principalComponent(emb: DataFrame, vecCol: String,
      iters: Int = 15): (Array[Double], Array[Double], Double) = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    // the mean pass + every power iteration re-read the input: one
    // materialization of the vector projection feeds them all. WIDENED
    // to the session parallelism before the copy — each of the `iters`
    // passes does real compute (posexplode of rows x dims + decimal
    // aggregation), so a 1-partition checkpoint (single-row-group scan)
    // serialized all 15 iterations (measured 3.09 -> 2.06 s at sf0.1;
    // the pq/kmeans builders deliberately stay narrow, see
    // materialized)
    Bridge.withCheckpoints { ck =>
      val base = ck.shared(emb.select(col(vecCol))
        .repartition(emb.sparkSession.sparkContext.defaultParallelism))
      val mu = exactMean(base, vecCol)
      val d = mu.length
      val muLit = array(mu.map(lit): _*)
      var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
      var lambda = 0.0
      for (_ <- 1 to iters) {
        val vLit = array(v.map(lit): _*)
        val diff = zip_with(col(vecCol), muLit, (x, m) => x.cast(DoubleType) - m)
        val p = aggregate(zip_with(diff, vLit, (a, b) => a * b),
          lit(0.0), (acc, e) => acc + e)
        val av = base
          .select(diff.as("__diff"), p.as("__p"))
          .select(posexplode(transform(col("__diff"), x => x * col("__p")))
            .as(Seq("pos", "c")))
          .groupBy(col("pos"))
          .agg(sum(col("c").cast(DecimalType(38, 12))).cast(DoubleType).as("s"))
          .orderBy("pos")
          .collect().map(_.getDouble(1))
        lambda = math.sqrt(av.map(x => x * x).sum)
        if (lambda > 0.0) v = av.map(_ / lambda)
      }
      // canonical sign: the largest-|coordinate| is positive
      val pivot = v.indices.maxBy(i => math.abs(v(i)))
      if (v(pivot) < 0.0) v = v.map(-_)
      // (mean, v, lambda) are driver arrays: the scope frees an owned copy
      (mu, v, lambda)
    }
  }

  /** Per-vector projection onto a (plan-embedded) direction after mean
    * centering — decimal-exact dot, zero shuffle, deterministic ties. */
  def pcaProject(emb: DataFrame, idCol: String, vecCol: String,
      mean: Array[Double], v: Array[Double]): DataFrame = {
    val muLit = array(mean.map(lit): _*)
    val vLit = array(v.map(lit): _*)
    val diff = zip_with(col(vecCol), muLit, (x, m) => x.cast(DoubleType) - m)
    emb.select(col(idCol), dotExact(diff, vLit).as("pc1_score"))
  }

  /** ADC rollup + heap ranking over joined (q_id, id, __partial) rows. */
  private def pqRank(scoredRows: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val scored = scoredRows
      .filter(col("q_id") =!= col(idCol))
      .groupBy(col("q_id"), col(idCol))
      // decimal addends: the m partials sum order-independently, so the
      // ranking (and its ties) is bit-reproducible across partitionings
      .agg(sum(col("__partial").cast(DecimalType(28, 12)))
        .cast(DoubleType).as("adc_dist"))
    val pruned = graft.plans.TopKPerGroup(scored, Seq("q_id"),
      order = Seq(("adc_dist", false), (idCol, false)), k = k)
    pruned.withColumn("rank",
      row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("adc_dist"), col(idCol))))
  }

  /** Farthest-point (Gonzalez) k-center sampling over the embedding
    * corpus — DIVERSITY-maximizing subset selection, the curation
    * counterpart of dedup: dedup removes what is too close, diverse
    * sampling PICKS what spans the space (seed-set selection for
    * annotation, eval-set construction, coverage-balanced subsampling).
    * Greedy farthest-point is the classic 2-approximation to the
    * k-center objective.
    *
    * Round r scores every vector's squared-L2 distance to its NEAREST
    * already-chosen center in ONE zero-shuffle codegen'd projection
    * (|v|² − 2v·cᵢ + |cᵢ|² per center via the [[graft.functions
    * .FloatDotProduct]] kernel, `least` across ≤ k such columns — the
    * embedding_outliers posture: centers are plan-embedded driver state,
    * index-sized like centroids/codebooks), then takes the argmax with a
    * single packed-BIGINT max aggregate: key = dist_milli·2³¹ +
    * (2³¹−1−id), so larger distance wins and ties break to the SMALLER
    * id — one hash-aggregable max, no corpus-wide sort, no struct
    * SortAggregate. Distances quantized to milli-units for the packing;
    * determinism is layout-free (per-row IEEE + integer max).
    *
    * Result: (pick, vec_id, dist_milli) — dist_milli is the max-min
    * distance at selection time (the coverage radius of the PREVIOUS
    * pick set); pick 1 is the deterministic seed (min id, dist 0).
    * Rows-only: greedy argmax iteration has no SQL form; spec pins
    * planted-cluster coverage, non-increasing distances, and
    * repartition invariance. */
  def farthestPointSample(emb: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val ss = emb.sparkSession
    import ss.implicits._
    val base = emb.select(col(idCol).cast(LongType).as("id"),
      col(vecCol).as("v"))
    def fetch(id: Long): Array[Float] =
      base.filter(col("id") === id).select(col("v"))
        .head().getSeq[Float](0).toArray
    val bounds = base.agg(min(col("id")), max(col("id"))).head()
    val seed = bounds.getLong(0)
    require(seed >= 0L && bounds.getLong(1) < 2147483647L,
      s"ids must fit [0, 2^31) for the argmax packing, got " +
        s"[${bounds.getLong(0)}, ${bounds.getLong(1)}]")
    val picks = scala.collection.mutable.ArrayBuffer((seed, 0L))
    var centers = Array(fetch(seed))
    while (picks.size < k) {
      val selfDot = graft.functions.dotFast(col("v"), col("v"))
      val dists = centers.map { c =>
        val cSq = c.map(x => x.toDouble * x.toDouble).sum
        selfDot - lit(2.0) * graft.functions.dotFast(col("v"),
          typedlit(c.toSeq)) + lit(cSq)
      }
      val minDist = dists.reduce((a, b) => least(a, b))
      // negatives only from IEEE noise at distance ~0: clamp for packing
      val dMilli = greatest(round(minDist * 1000).cast(LongType), lit(0L))
      val key = dMilli * lit(2147483648L) + (lit(2147483647L) - col("id"))
      // ONE job per round: max_by returns the winner's vector alongside
      // the packed argmax (the key is unique — it embeds the id — so the
      // winner is unambiguous); the separate per-pick fetch job was half
      // the loop's job count
      val row = base.agg(max(key), max_by(col("v"), key)).head()
      val best = row.getLong(0)
      val bestId = 2147483647L - (best % 2147483648L)
      picks += ((bestId, best / 2147483648L))
      if (picks.size < k)
        centers = centers :+ row.getSeq[Float](1).toArray
    }
    picks.toSeq.zipWithIndex
      .map { case ((id, d), i) => (i + 1L, id, d) }
      .toDF("pick", idCol, "dist_milli")
  }
}
