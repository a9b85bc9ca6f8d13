package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions._

/** Text-analysis operators for LLM-training-data curation: language ID,
  * quality scoring, token counting, and document fingerprinting
  * (SURVEY.md §2 #31-34).
  *
  * Everything is pure `Column` arithmetic over built-in functions — no UDFs,
  * so the whole pipeline stays inside whole-stage codegen and scales as a
  * single narrow projection (plus one keyed shuffle for the fingerprint
  * bottom-k). At 100 TB these run at scan speed.
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately small: the heuristic is O(tokens x |list|)
    * comparisons inside codegen. */
  val stopwords: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "zu", "ein", "eine", "mit", "von", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "was", "for", "on"),
    "es" -> Seq("el", "la", "de", "y", "que", "un", "una", "por", "con", "los"),
    "fr" -> Seq("le", "la", "de", "et", "que", "un", "une", "pour", "dans", "les")
  )

  private def stopwordHits(tokens: Column, lang: String): Column =
    size(filter(tokens, t => t.isin(stopwords(lang): _*))).cast(LongType)

  /** Language ID: count stopword hits per candidate language, predict the
    * argmax (alphabetical-first tie-break, "und" = undetermined when no
    * list hits). One projection — no shuffle. */
  def langId(docs: DataFrame, textCol: String): DataFrame = {
    val toks = wsTokens(lower(col(textCol)))
    val scored = docs.withColumn("__toks", toks)
      .withColumn("hits_de", stopwordHits(col("__toks"), "de"))
      .withColumn("hits_en", stopwordHits(col("__toks"), "en"))
      .withColumn("hits_es", stopwordHits(col("__toks"), "es"))
      .withColumn("hits_fr", stopwordHits(col("__toks"), "fr"))
    val best = greatest(col("hits_de"), col("hits_en"), col("hits_es"), col("hits_fr"))
    scored
      .withColumn(
        "pred_lang",
        when(best === 0, lit("und"))
          .when(col("hits_de") === best, "de")
          .when(col("hits_en") === best, "en")
          .when(col("hits_es") === best, "es")
          .otherwise("fr"))
      .withColumn("lang_score",
        best.cast(DoubleType) / size(col("__toks")).cast(DoubleType))
      .drop("__toks")
  }

  /** Quality metrics: length / token / punctuation / stopword statistics
    * plus a composite score, as used to filter web corpora before training.
    * Pure arithmetic; integer counts divided once (bit-deterministic). */
  def quality(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = wsTokens(t)
    docs
      .withColumn("n_chars_q", length(t).cast(LongType))
      .withColumn("n_tokens", size(toks).cast(LongType))
      .withColumn("n_punct",
        (length(t) - length(regexp_replace(t, "[\\p{Punct}]", ""))).cast(LongType))
      .withColumn("n_digits",
        (length(t) - length(regexp_replace(t, "[0-9]", ""))).cast(LongType))
      .withColumn("n_stopwords", stopwordHits(wsTokens(lower(t)), "en"))
      .withColumn("avg_token_len",
        (col("n_chars_q") - (col("n_tokens") - lit(1L))).cast(DoubleType) /
          col("n_tokens").cast(DoubleType))
      .withColumn("stopword_ratio",
        col("n_stopwords").cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .withColumn("punct_ratio",
        // total on EMPTY text (n_chars 0): ANSI mode errors on x/0 even
        // for doubles — an empty document must score, not kill the job
        when(col("n_chars_q") === 0L, lit(null).cast(DoubleType))
          .otherwise(col("n_punct").cast(DoubleType) /
            col("n_chars_q").cast(DoubleType)))
      .withColumn("quality_score",
        least(col("n_tokens").cast(DoubleType) / lit(50.0), lit(1.0)) * lit(0.5)
          + col("n_stopwords").cast(DoubleType) / col("n_tokens").cast(DoubleType) * lit(0.5))
  }

  /** Flesch reading-ease signals — the readability leg of the quality
    * family: training-data curation gates on it to drop both
    * impenetrable legalese and fragment spam (C4 kept sentences, Gopher
    * gated on word counts; readability summarizes both axes). Words are
    * whitespace tokens, sentences are `[.!?]+` runs (clamped to ≥ 1 so
    * fragments score), syllables are the standard vowel-group proxy
    * (`[aeiouy]+` runs over the lowercased text — a consonant-only token
    * contributes 0, a deterministic convention both engines share).
    *
    * Engine portability (the [[Quality.spikes]] playbook — clear the
    * divisions): Flesch = 206.835 − 1.015·W/S − 84.6·Y/W multiplied
    * through by 1000·S·W gives the all-BIGINT numerator
    *
    *   F = 206835·S·W − 1015·W² − 84600·Y·S,   D = 1000·S·W
    *
    * so `flesch` is ONE IEEE division of exact integers and the
    * `is_readable` gate (score > 60, "plain English") is the pure
    * integer predicate F > 60·D — no float ever decides the flag.
    * Safe while S·W < ~4e13 (ANSI throws past it). Pure per-row
    * projection: zero shuffle, scan speed at 100 TB — counting runs in
    * ONE [[graft.functions.ReadabilityStats]] kernel pass (the 3-regex
    * formulation it replaced, kept below as the property twin, measured
    * 8.2 s vs 1.x s at 20× stress). */
  def readability(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val st = readabilityStats(col(textCol))
    readabilityTail(docs.select(
      col(idCol),
      st.getField("n_words").as("n_words"),
      greatest(st.getField("n_sentences"), lit(1L)).as("n_sentences"),
      st.getField("n_syllables").as("n_syllables")), idCol)
  }

  /** The 3-regex-pass formulation [[readability]] replaced — retained as
    * the property-test twin (the kernel must stay bit-identical to it). */
  private[graft] def readabilityInterpreted(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    readabilityTail(docs
      .select(col(idCol), t)
      .withColumn("n_words", size(wsTokens(t)).cast(LongType))
      .withColumn("n_sentences",
        greatest(size(regexp_extract_all(t, lit("[.!?]+"), lit(0))), lit(1))
          .cast(LongType))
      .withColumn("n_syllables",
        size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0))).cast(LongType)),
      idCol)
  }

  /** Shared Flesch arithmetic over the three counts. */
  private def readabilityTail(counts: DataFrame, idCol: String): DataFrame = {
    val w = col("n_words"); val s = col("n_sentences"); val y = col("n_syllables")
    val fNum = lit(206835L) * s * w - lit(1015L) * w * w - lit(84600L) * y * s
    val fDen = lit(1000L) * s * w
    counts.select(col(idCol), w, s, y,
      (fNum.cast(DoubleType) / fDen.cast(DoubleType)).as("flesch"),
      (fNum > lit(60L) * fDen).as("is_readable"))
  }

  /** Token counting: whitespace tokens, distinct tokens, and a BPE-ish
    * regex segmentation (letter runs / digit runs / single punctuation). */
  def tokenStats(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("ws_tokens", size(wsTokens(t)).cast(LongType))
      .withColumn("distinct_tokens", size(array_distinct(wsTokens(t))).cast(LongType))
      .withColumn("bpe_tokens",
        size(regexp_extract_all(t, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))
          .cast(LongType))
  }

  /** Greedy longest-match subword tokenization (WordPiece-style MaxMatch)
    * against a fixed vocabulary — token ACCOUNTING once "tokens" means
    * model subwords, not whitespace words (the number that prices a
    * training run). One [[graft.functions.SubwordTokens]] kernel pass per
    * row (trie walk, vocab plan-embedded like the PQ codebooks); the
    * struct-field reads share the kernel subtree via codegen
    * subexpression elimination. Pure projection: zero shuffle, scan
    * speed at 100 TB. Unknown characters fall back to single-char pieces
    * and are counted in `n_unk` — the vocabulary-coverage signal. */
  def subwords(docs: DataFrame, idCol: String, textCol: String,
      vocab: Seq[String]): DataFrame = {
    val st = subwordTokens(wsTokens(lower(col(textCol))), vocab)
    val pieces = st.getField("pieces")
    docs.select(
      col(idCol),
      concat_ws(" ", pieces).as("subwords"),
      size(pieces).cast(LongType).as("n_subwords"),
      size(array_distinct(pieces)).cast(LongType).as("n_distinct_subwords"),
      st.getField("n_unk").as("n_unk"))
  }

  /** Demo vocabulary for the registered subword query: mixed-length
    * pieces over the corpus alphabet so greedy longest-match is
    * genuinely exercised (whole words beat their prefixes, e.g. "the"
    * over "t"; multi-piece splits like "tab|le", "win|dow"; "dup" is
    * deliberately uncovered so the unk fallback path appears in the
    * gated result). */
  val demoSubwordVocab: Seq[String] = Seq(
    "the", "a", "big", "data", "key", "row", "fast",
    "tab", "le", "win", "dow", "str", "eam", "col", "umn", "va", "lue",
    "qu", "ery", "gr", "oup", "jo", "in", "sc", "an", "ha", "sh",
    "fil", "ter", "cus", "tom", "er", "mer", "ge", "ba", "tch",
    "sl", "ow", "so", "rt", "or", "der", "sp", "ark", "ve", "ctor",
    "li", "ne", "sm", "all", "pa", "agg")

  /** DuckDB oracle for [[subwords]]: the greedy longest-match recursion
    * expressed as a recursive CTE — per (word, position) the longest
    * matching vocab piece is the `ORDER BY len DESC LIMIT 1` correlated
    * subquery, the fallback is `substr(word, pos, 1)`; positions advance
    * by the chosen piece's length, exactly the kernel's loop. Generated
    * from the SAME vocab the Spark expression embeds (the
    * Layout.zvalueSql pattern: one source of truth, two engines). */
  def subwordsOracleSql(vocab: Seq[String]): String = {
    val vals = vocab.map(p => s"('$p', ${p.length})").mkString(", ")
    s"""WITH RECURSIVE vocab(p, l) AS (VALUES $vals),
       |words AS (
       | SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS word,
       |  generate_subscripts(regexp_split_to_array(lower(text), '\\s+'), 1) AS widx
       | FROM documents),
       |st(doc_id, word, widx, pos, piece, piece_start, matched) AS (
       | SELECT doc_id, word, widx, 1, CAST(NULL AS VARCHAR), 0, FALSE
       | FROM words WHERE len(word) > 0
       | UNION ALL
       | SELECT doc_id, word, widx, pos + len(piece), piece, pos, matched FROM (
       |  SELECT doc_id, word, widx, pos,
       |   coalesce((SELECT v.p FROM vocab v WHERE v.p = substr(st.word, st.pos, v.l)
       |             ORDER BY v.l DESC LIMIT 1),
       |            substr(word, pos, 1)) AS piece,
       |   EXISTS(SELECT 1 FROM vocab v WHERE v.p = substr(st.word, st.pos, v.l)) AS matched
       |  FROM st WHERE pos <= len(word)) s),
       |pieces AS (SELECT doc_id, widx, piece_start, piece, matched
       |           FROM st WHERE piece IS NOT NULL)
       |SELECT doc_id,
       | string_agg(piece, ' ' ORDER BY widx, piece_start) AS subwords,
       | CAST(COUNT(*) AS BIGINT) AS n_subwords,
       | CAST(COUNT(DISTINCT piece) AS BIGINT) AS n_distinct_subwords,
       | CAST(sum(CASE WHEN matched THEN 0 ELSE 1 END) AS BIGINT) AS n_unk
       |FROM pieces GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Driver-side BPE merge induction over a word-TYPE histogram — the
    * vocabulary LEARNING half of the subword story ([[subwords]] is the
    * apply half). Standard byte-pair encoding on word types weighted by
    * frequency: start from single characters, repeatedly merge the
    * most-frequent adjacent symbol pair. Deterministic: ties break on the
    * lexicographically smallest (left, right); merges apply left-to-right
    * non-overlapping within each word.
    *
    * Scale posture (the k-means-centroid / PQ-codebook precedent): the
    * only corpus-sized stage is the word histogram (one map-side-combined
    * groupBy); the learner runs on the TOP-`maxTypes` word types — a
    * bounded, vocab-sized driver structure — exactly how production
    * tokenizer training subsamples (frequency-ranked types carry nearly
    * all the pair mass). Returns (left, right, merged) in merge order;
    * may return fewer than `k` when pair mass is exhausted. */
  def learnBpeMerges(hist: Seq[(String, Long)], k: Int): Seq[(String, String, String)] = {
    val words = hist.map { case (w, c) => (w.map(_.toString).toArray, c) }.toArray
    val merges = Seq.newBuilder[(String, String, String)]
    var round = 0
    var done = false
    while (round < k && !done) {
      // weighted adjacent-pair counts over the current segmentation
      val counts = new java.util.HashMap[(String, String), Long]()
      for ((syms, c) <- words; i <- 0 until syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        counts.merge(p, c, (a, b) => a + b)
      }
      if (counts.isEmpty) done = true
      else {
        var best: (String, String) = null
        var bestC = -1L
        counts.forEach { (p, c) =>
          if (c > bestC || (c == bestC &&
              (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
            best = p; bestC = c
          }
        }
        val merged = best._1 + best._2
        merges += ((best._1, best._2, merged))
        // left-to-right non-overlapping merge within each word
        var wi = 0
        while (wi < words.length) {
          val (syms, c) = words(wi)
          if (syms.length > 1) {
            val out = Array.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == best._1 && syms(i + 1) == best._2) {
                out += merged; i += 2
              } else { out += syms(i); i += 1 }
            }
            words(wi) = (out.result(), c)
          }
          wi += 1
        }
        round += 1
      }
    }
    merges.result()
  }

  /** The distributed half of vocabulary learning: the frequency-ranked
    * word-type histogram (one corpus-sized map-side-combined shuffle,
    * `maxTypes`-bounded output with a unique (count desc, word asc)
    * order) collected for [[learnBpeMerges]]. */
  def wordTypeHistogram(docs: DataFrame, textCol: String,
      maxTypes: Int): Seq[(String, Long)] =
    docs.select(explode(wsTokens(lower(col(textCol)))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc)
      .limit(maxTypes)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Learned-vocabulary tokenization: BPE merges induced from the corpus
    * itself ([[learnBpeMerges]]), applied with the greedy longest-match
    * kernel. The apply vocabulary is the learned symbols plus the
    * histogram alphabet's single characters (the standard base vocab), so
    * `n_unk` counts only characters outside the top-`maxTypes` types. */
  def subwordsLearned(docs: DataFrame, idCol: String, textCol: String,
      k: Int, maxTypes: Int): DataFrame = {
    val hist = wordTypeHistogram(docs, textCol, maxTypes)
    val merges = learnBpeMerges(hist, k)
    val alphabet = hist.flatMap(_._1.map(_.toString)).distinct.sorted
    subwords(docs, idCol, textCol, alphabet ++ merges.map(_._3))
  }

  /** EXACT distributed heavy hitters (tokens with > total/k of the token
    * mass) via a two-pass Misra-Gries candidate prune — the frequency
    * sketch every corpus-statistics pipeline needs at web scale.
    *
    * Why not a plain groupBy: over a 100 TB corpus the distinct-token
    * space is enormous (typos, code, URLs), and `groupBy(token).count`
    * shuffles one partial per distinct token per partition. Pass 1 runs a
    * Misra-Gries summary of capacity k INSIDE each partition
    * (`mapPartitions` — the justified imperative case: bounded mutable
    * state): by the averaging argument, any token with global frequency
    * > total/k must survive the sketch in at least one partition, so the
    * union of per-partition candidates (<= k x partitions rows — tiny) is
    * a SUPERSET of the true heavy hitters. Pass 2 broadcast-semi-joins the
    * token stream against the candidate set and exact-counts only those,
    * then applies the threshold — output counts are EXACT (DuckDB-oracle
    * hash-checked), only the pruning is approximate. */
  def heavyHitters(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    import docs.sparkSession.implicits._
    val toks = docs.select(explode(wsTokens(col(textCol))).as("tok")).as[String]
    // Pass 1 — ONE corpus tokenization produces BOTH the Misra-Gries
    // candidate summaries and each partition's token count (the global
    // total is their sum): at 100 TB tokenization dominates, so folding
    // the total into this traversal removes a whole corpus pass vs
    // computing it as a separate count job. The pass-1 output is tiny
    // (<= (k+1) rows per partition: candidate rows cnt=0, one null-token
    // count row) and is eagerly checkpointed so the candidate set and the
    // total both read it without re-running the pass; the checkpoint
    // blocks are <= (k+1) x partitions rows and can be freed after the
    // result is consumed with Bridge.unpersistCheckpoints.
    val pass1 = toks.mapPartitions { it =>
      var partTokens = 0L
      val summary = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        partTokens += 1
        summary.get(t) match {
          case Some(c) => summary(t) = c + 1
          case None if summary.size < k => summary(t) = 1L
          case None => // Misra-Gries step: decrement all, evict zeros
            val dead = List.newBuilder[String]
            summary.foreachEntry { (key, c) =>
              if (c == 1L) dead += key else summary(key) = c - 1
            }
            dead.result().foreach(summary.remove)
        }
      }
      Iterator.single((null: String, partTokens)) ++ summary.keysIterator.map((_, 0L))
    }.toDF("tok", "cnt").localCheckpoint(true)
    val candidates = pass1.filter(col("tok").isNotNull).select("tok").distinct()
    val total = pass1.filter(col("tok").isNull)
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("__total"))
    // Pass 2 — the only other corpus tokenization: exact-recount just the
    // candidate tokens, then apply the global threshold
    toks.toDF("tok")
      .join(broadcast(candidates), Seq("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .filter(col("n") > col("__total") / lit(k.toDouble))
      .select(col("tok"), col("n"))
      .orderBy(col("n").desc, col("tok"))
  }

  /** The 100 TB-cheap heavy-hitter twin: Misra-Gries candidates AND a
    * Count-Min sketch built in the SAME partition traversal, so the
    * corpus tokenizes exactly ONCE (the exact [[heavyHitters]] needs a
    * second pass to re-count candidates). Counts come from probing the
    * merged sketch: overestimates bounded by eps·N with prob
    * `confidence`, so output ⊇ the exact top set (MG's averaging
    * argument gives perfect recall; CMS never undercounts) with
    * precision bounded by eps — the property tests pin both directions.
    *
    * Driver-side state is sketch-parameter-bounded: one depth×width
    * counter array per partition merged on the driver (eps=1e-3 →
    * ~80 KB each; at very high partition counts raise eps or tree-merge)
    * plus the ≤ k·partitions candidate strings — the same index-size
    * bound the exact path broadcasts.
    *
    * Determinism is PARTITIONING-RELATIVE, and deliberately so: the
    * CMS estimates and the threshold are data-only (fixed seed, counter
    * merges commute), and every true heavy hitter (freq > N/k) survives
    * MG in at least one partition under ANY partitioning — so recall of
    * the exact top set is layout-independent. What can vary across
    * partition layouts is which of the eps-bounded NEAR-threshold extras
    * make the candidate cut (the per-partition MG summaries see
    * different boundaries). Callers needing bit-stable output across
    * layouts should use the exact [[heavyHitters]] twin; the property
    * suite pins the layout-independent guarantees (superset recall,
    * precision bound) rather than a byte-identical row set. */
  def heavyHittersApprox(docs: DataFrame, textCol: String, k: Int,
      eps: Double = 1e-3, confidence: Double = 0.99): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    import docs.sparkSession.implicits._
    val toks = docs.select(explode(wsTokens(col(textCol))).as("tok")).as[String]
    val pass = toks.mapPartitions { it =>
      var partTokens = 0L
      val cms = org.apache.spark.util.sketch.CountMinSketch
        .create(eps, confidence, 42)
      val summary = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        partTokens += 1
        cms.addString(t)
        summary.get(t) match {
          case Some(c) => summary(t) = c + 1
          case None if summary.size < k => summary(t) = 1L
          case None =>
            val dead = List.newBuilder[String]
            summary.foreachEntry { (key, c) =>
              if (c == 1L) dead += key else summary(key) = c - 1
            }
            dead.result().foreach(summary.remove)
        }
      }
      val bos = new java.io.ByteArrayOutputStream()
      cms.writeTo(bos)
      Iterator.single((null: String, partTokens, bos.toByteArray)) ++
        summary.keysIterator.map((_, 0L, null: Array[Byte]))
    }.toDF("tok", "cnt", "sk")
    val rows = pass.collect() // <= (k+1) rows per partition, sketch-bounded
    val parts = rows.filter(_.isNullAt(0))
    if (parts.isEmpty) return Seq.empty[(String, Long)].toDF("tok", "n_approx")
    val total = parts.map(_.getLong(1)).sum
    val merged = parts
      .map(r => org.apache.spark.util.sketch.CountMinSketch
        .readFrom(r.getAs[Array[Byte]](2)))
      .reduce { (a, b) => a.mergeInPlace(b); a }
    val out = rows.filter(!_.isNullAt(0)).map(_.getString(0)).distinct.toSeq
      .map(t => (t, merged.estimateCount(t)))
      .filter(_._2 > total.toDouble / k)
      .sortBy { case (t, n) => (-n, t) }
    out.toDF("tok", "n_approx")
  }

  /** PII patterns scrubbed before training data leaves curation. Kept to
    * constructs with identical semantics in Java regex and RE2 (`\b`,
    * `\d`, bounded repetition) so the scrub is engine-reproducible. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "ssn" -> "\\b\\d{3}-\\d{2}-\\d{4}\\b",
    "phone" -> "\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b")

  /** PII redaction — the curation gate no training corpus ships without:
    * emails, IPv4s, SSN- and phone-shaped tokens replaced by a fixed
    * token, plus the per-document match count (the audit column). A chain
    * of codegen'd `regexp_replace`s — zero shuffle, scan speed; the
    * replacement token contains no digits or '@' so later patterns never
    * match earlier redactions. */
  def scrubPii(docs: DataFrame, textCol: String,
      token: String = "[PII]"): DataFrame = {
    // each pattern is counted on the text AFTER the earlier patterns have
    // been replaced, so a span that two patterns could both match (e.g. a
    // phone number inside an address-like email) is counted exactly once —
    // n_pii equals the number of replacements actually made
    val (scrubbed, counts) = piiPatterns
      .foldLeft((col(textCol), Vector.empty[Column])) {
        case ((c, cnts), (_, p)) =>
          (regexp_replace(c, p, token),
            cnts :+ size(regexp_extract_all(c, lit(p), lit(0))))
      }
    val nPii = counts.reduce(_ + _)
    docs
      .withColumn("text_scrubbed", scrubbed)
      .withColumn("n_pii", nPii.cast(LongType))
  }

  /** Fixed-size token-window chunking with overlap — the context-window
    * segmentation step before embedding or training. Chunks start at
    * token 1, 1+stride, ... up to the last full-window start (a document
    * shorter than `chunkSize` yields one partial chunk); tokens beyond
    * the last start+chunkSize are covered only when the stride overlaps
    * them — the standard sliding-window contract. One per-row transform +
    * posexplode: no shuffle until the caller aggregates. */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int, carry: Seq[String] = Nil): DataFrame = {
    require(chunkSize >= 1, s"need chunkSize >= 1, got $chunkSize")
    require(stride >= 1 && stride <= chunkSize,
      s"need 1 <= stride <= chunkSize, got $stride")
    val chunks =
      stridedWindows(wsTokens(col(textCol)), chunkSize, stride, cover = false)
    docs
      .select((col(idCol) +: carry.map(col)) :+ posexplode(chunks): _*)
      .toDF(((idCol +: carry) ++ Seq("chunk_id", "chunk_text")): _*)
      .select((col(idCol) +: carry.map(col)) ++ Seq(
        col("chunk_id").cast(LongType).as("chunk_id"),
        size(wsTokens(col("chunk_text"))).cast(LongType).as("n_chunk_tokens"),
        col("chunk_text")): _*)
  }

  /** Per-document token Shannon entropy in nats — the information-density
    * quality signal beside [[repetition]]: keyboard mash, repeated
    * boilerplate and template spam all score low-entropy while natural
    * prose sits near ln(vocab-in-doc); curation stacks it with the
    * repetition fractions because entropy also catches SKEWED (not just
    * duplicated) token distributions. Uses the identity
    * H = ln n − (Σ_w c_w·ln c_w)/n over within-doc token counts c_w, so
    * no per-token probability division ever happens.
    *
    * Engine parity (the [[lmScore]] convention): each ln is rounded to
    * 6 dp, the Σ c·ln c accumulates as DECIMAL (c as DECIMAL(10,0) ×
    * ln as DECIMAL(18,6) keeps the product inside BOTH engines' exact
    * 38-digit multiply — a (28,12) factor would push DuckDB past 38 and
    * silently fall to DOUBLE), and only the final subtract/divide run in
    * IEEE double on identical operands.
    *
    * Shape: the within-doc counting never needs to leave the row, so the
    * whole computation runs in ONE [[graft.functions.TokenEntropy]]
    * kernel pass — zero shuffle, scan speed at 100 TB (the aggregate
    * formulation it replaced, kept below as the property twin, shuffled
    * every document body on the doc key: 7.6 s vs sub-second at 100×
    * stress). */
  def tokenEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val st = tokenEntropyStats(col(textCol))
    docs.select(
      col(idCol),
      st.getField("n_tokens").as("n_tokens"),
      st.getField("n_distinct").as("n_distinct"),
      st.getField("entropy").as("entropy"))
  }

  /** The explode + two-level-aggregate formulation [[tokenEntropy]]
    * replaced — retained as the property-test twin (the kernel must stay
    * bit-identical to it; the DuckDB oracle was proven against THIS
    * form). One doc-keyed Exchange (the bm25 partition-reuse trick):
    * both aggregates cluster on supersets of doc_id. */
  private[graft] def tokenEntropyAggregated(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol), col(textCol))
      .repartition(col(idCol))
      .select(col(idCol), explode(wsTokens(col(textCol))).as("__w"))
      .groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(
        sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("__c").cast(DecimalType(10, 0)) *
            round(log(col("__c").cast(DoubleType)), 6).cast(DecimalType(18, 6)))
          .as("__clnc"))
      .select(col(idCol), col("n_tokens"), col("n_distinct"),
        (round(log(col("n_tokens").cast(DoubleType)), 6) -
          col("__clnc").cast(DoubleType) / col("n_tokens")).as("entropy"))

  /** Repetition signals — the Gopher/C4-style quality filters that flag
    * boilerplate and spam before training: the fraction of duplicated
    * tokens and duplicated word 2-/3-grams per document (0 = all unique,
    * -> 1 = one phrase repeated). Pure per-row projections over built-in
    * collection expressions — zero shuffle, scan speed at 100 TB. Ratios
    * are single IEEE divides of integer counts, so they reproduce
    * bit-identically in any engine (no rounding convention needed);
    * degenerate docs (no n-gram of that length) yield null, not NaN. */
  def repetition(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // ONE kernel pass per row ([[graft.functions.RepetitionStats]]); the
    // four struct-field reads below share the kernel subtree via codegen
    // subexpression elimination, so the pass runs once
    val st = repetitionStats(wsTokens(col(textCol)))
    docs.select(
      col(idCol),
      st.getField("n_tokens").as("n_tokens_r"),
      st.getField("dup_token_frac").as("dup_token_frac"),
      st.getField("dup_2gram_frac").as("dup_2gram_frac"),
      st.getField("dup_3gram_frac").as("dup_3gram_frac"))
  }

  /** The interpreted HOF formulation [[repetition]] replaced — retained as
    * the property-test twin (the kernel must stay bit-identical to it). */
  private[graft] def repetitionInterpreted(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def ratio(num: Column, den: Column): Column =
      when(den === 0, lit(null).cast(DoubleType))
        .otherwise(num.cast(DoubleType) / den.cast(DoubleType))
    def dupFrac(arr: Column): Column =
      ratio(size(arr) - size(array_distinct(arr)), size(arr))
    val toks = wsTokens(col(textCol))
    docs.select(
      col(idCol),
      size(toks).cast(LongType).as("n_tokens_r"),
      dupFrac(toks).as("dup_token_frac"),
      dupFrac(wordShingles(col(textCol), 2)).as("dup_2gram_frac"),
      dupFrac(wordShingles(col(textCol), 3)).as("dup_3gram_frac"))
  }

  /** Per-document top-k TF-IDF terms — the corpus-statistics operator
    * behind keyword extraction and topic tagging over a training corpus.
    * tf = in-document term count; idf = ln((N+1)/(df+1)) + 1 (smoothed);
    * score emitted rounded to 6 dp (the engine-parity convention for
    * transcendental math: Spark's and the oracle's ln may differ in the
    * last ulp, and 6 dp is far above that).
    *
    * Scale shape: tf is one (doc, term) shuffle with map-side partials;
    * df aggregates the already-deduped tf rows (rows = corpus vocabulary
    * x docs containing it, never raw tokens); N broadcasts as a scalar;
    * the final ranking runs on the heap [[graft.plans.TopKPerGroup]]
    * operator (O(n log k) partial/final, no per-doc full sort). */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val toks = docs.select(
      col(idCol), explode(wsTokens(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    val scored = tf
      .join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * (log((col("__n") + 1).cast(DoubleType) / (col("df") + 1)) + 1), 6))
      .select(col(idCol), col("term"), col("tf"), col("df"), col("tfidf"))
    graft.plans.TopKPerGroup(scored, Seq(idCol),
      order = Seq(("tfidf", true), ("term", false)), k = k)
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — the MOSS
    * algorithm): from every window of `w` consecutive k-gram hashes,
    * record the minimum (rightmost on ties). Guarantees at least one
    * fingerprint per w consecutive grams (max gap w) at expected density
    * 2/(w+1) — the POSITION-ROBUST sketch that 0-mod-p sampling (the
    * [[chunkContentDefined]] draw) cannot guarantee: mod-sampling can
    * leave unboundedly long unfingerprinted runs, winnowing cannot.
    *
    * The sliding-window recurrence is re-expressed CLOSED-FORM so it runs
    * as one per-document window pass instead of a stateful scan: position
    * p (hash h) is some window's rightmost-min iff
    * `max(1, p-w+1, p-llen) <= min(p+rlen, m) - w + 1`, where llen = run
    * of consecutive PRECEDING hashes >= h, rlen = run of consecutive
    * FOLLOWING hashes > h (both capped at w-1), m = grams in the doc.
    * (Verified against the paper's worked example in the spec.) Runs are
    * w-1 lag/lead conjunction chains -> one WindowExec over the doc
    * shuffle, no self-join, no state. Documents with fewer than w grams
    * emit nothing (no full window exists).
    *
    * The rank hash is the md5 32-bit-prefix of the gram string (the
    * [[chunkContentDefined]] engine-portable convention), so the oracle
    * selects bit-identical positions. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(w >= 2, s"need w >= 2, got $w")
    val stream = docs
      .select(col(idCol), posexplode(shingles(wsTokens(col(textCol)), k)))
      .toDF(idCol, "__p0", "__g")
      .select(col(idCol), (col("__p0") + 1).cast(LongType).as("pos"),
        conv(substring(md5(col("__g")), 1, 8), 16, 10).cast(LongType).as("gram_hash"))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val h = col("gram_hash")
    val llen = (1 until w).map { i =>
      when((1 to i).map(j => lag(h, j).over(byDoc) >= h).reduce(_ && _), 1L)
        .otherwise(0L)
    }.reduce(_ + _)
    val rlen = (1 until w).map { i =>
      when((1 to i).map(j => lead(h, j).over(byDoc) > h).reduce(_ && _), 1L)
        .otherwise(0L)
    }.reduce(_ + _)
    val m = max(col("pos")).over(Window.partitionBy(col(idCol)))
    stream
      .withColumn("__sel",
        greatest(lit(1L), col("pos") - lit(w - 1L), col("pos") - llen) <=
          least(col("pos") + rlen, m) - lit(w - 1L))
      .filter(col("__sel"))
      .select(col(idCol), col("pos"), col("gram_hash"))
  }

  /** BM25 retrieval top-k — score every corpus document against a QUERY
    * document set and keep the k best per query (Robertson/Sparck-Jones
    * probabilistic ranking; the Lucene-style positive idf variant
    * ln((N - df + 0.5)/(df + 0.5) + 1)). In a curation pipeline this is
    * the retrieval face of decontamination: "which training documents
    * does each benchmark item retrieve" catches paraphrase-level overlap
    * that fingerprint joins miss, and doubles as the corpus-inspection
    * search box.
    *
    * Scale shape: the query set is eval/bench-sized, so its term set
    * BROADCASTS and the corpus tf stream is pruned to query terms
    * MAP-SIDE before anything shuffles (the ngram_contamination
    * convention); df joins only the pruned query-term rows (bench-sized,
    * broadcast); per-(query, doc) scores shuffle once on the rollup key;
    * ranking runs on the heap [[graft.plans.TopKPerGroup]] operator
    * (O(n log k) partial/final, no per-query full sort). N and avgdl
    * ride as one broadcast one-row aggregate.
    *
    * The token stream is hash-partitioned by document ONCE and every
    * per-document product reuses that Exchange: the (id, term) tf
    * aggregate (clustered-by-subset satisfies its distribution), the
    * doc-length as a per-id window SUM over tf (no second corpus scan,
    * no doc-sized dl join — the round-8 verdict's one avoidable
    * data-sized shuffle), and the corpus N/avgdl one-row aggregate
    * (re-aggregated from per-id lengths). The only other Exchange is the
    * term-keyed df aggregate, and it is query-pruned before it shuffles.
    *
    * Engine parity: every literal is an exact-in-both-engines double
    * (k1+1 folds to the literal 2.2 bit-exactly), every subexpression is
    * parenthesized identically in the oracle SQL, each per-term score
    * rounds to 6 dp (the tfidf transcendental convention) and the
    * per-(query, doc) sum accumulates in DECIMAL — hash-exact. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, idCol: String,
      textCol: String, k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    // pre-explode round-robin repartition: the corpus scan is one task
    // (single-row-group parquet), so tokenize+explode otherwise runs
    // serially before the id-keyed exchange (the ngram_diversity
    // measurement — an explicit repartition(n) is not AQE-coalescible)
    val toks = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), explode(wsTokens(lower(col(textCol)))).as("term"))
      .repartition(col(idCol))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("__tf"))
    // doc length = sum of term frequencies, attached per-id by a window
    // over the already-id-partitioned tf — exact Long arithmetic, zero
    // extra Exchange (HashPartitioning(id) satisfies both the (id, term)
    // aggregate and the per-id window)
    val tfdl = tf.withColumn("__dl",
      sum(col("__tf")).over(Window.partitionBy(col(idCol))))
    val perId = tf.groupBy(col(idCol)).agg(sum(col("__tf")).as("__dl"))
    val stats = broadcast(
      perId.agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__toks")))
    val qterms = queries.select(
      col(idCol).as("q_id"),
      explode(array_distinct(wsTokens(lower(col(textCol))))).as("term"))
    // document frequencies of QUERY terms only: the broadcast query-term
    // set prunes tf MAP-SIDE (over the existing id Exchange) before the
    // term-keyed aggregate, so the df shuffle carries only query-matching
    // rows — bench-sized, never corpus-vocabulary-sized. The hinted
    // broadcast also keeps the plan shape independent of
    // autoBroadcastJoinThreshold.
    val qdf = tf.join(broadcast(qterms.select("term").distinct()), "term")
      .groupBy("term").agg(count(lit(1)).as("__df"))
    val avgdl = col("__toks").cast(DoubleType) / col("__n").cast(DoubleType)
    val idf = log(
      (col("__n").cast(DoubleType) - col("__df").cast(DoubleType) + lit(0.5)) /
        (col("__df").cast(DoubleType) + lit(0.5)) + lit(1.0))
    val denom = col("__tf").cast(DoubleType) +
      lit(k1) * ((lit(1.0) - lit(b)) +
        lit(b) * (col("__dl").cast(DoubleType) / avgdl))
    val perDoc = tfdl
      .join(broadcast(qterms), "term")
      .join(broadcast(qdf), "term")
      .crossJoin(stats)
      .withColumn("__s",
        round((idf * (col("__tf").cast(DoubleType) * (lit(k1) + lit(1.0)))) / denom, 6))
      .groupBy(col("q_id"), col(idCol))
      .agg(sum(col("__s").cast(DecimalType(28, 12))).cast(DoubleType).as("score"))
    graft.plans.TopKPerGroup(perDoc, Seq("q_id"),
      order = Seq(("score", true), (idCol, false)), k = k)
  }

  /** CCNet-style n-gram LM scoring — the perplexity-proxy quality signal
    * curation pipelines gate on (docs that score far from the corpus LM
    * are boilerplate, spam, or wrong-language): a bigram model with add-k
    * smoothing is fit on `train` and every `docs` row gets its average
    * negative log-likelihood. P(w2|w1) = (c(w1 w2) + k) / (c(w1) + k*V).
    *
    * Scale shape: the count tables are data-derived (too big to
    * broadcast at 100 TB), so scoring is two hash equi-joins keyed on
    * the bigram / unigram strings with map-side partial counts; the
    * per-doc rollup is one keyed shuffle. V rides as a broadcast ONE-ROW
    * aggregate inside the same plan (no separate driver job; the V
    * branch re-runs the unigram aggregate — exchange reuse does NOT
    * kick in for the differing parents, so the corpus is token-scanned
    * once more; `cacheCounts = true` persists both count tables so V
    * reads the cached unigram table instead of re-scanning, and callers
    * amortizing many scoring runs over one train corpus get the same
    * benefit — the cache is count-table-sized, vocabulary not corpus,
    * so it fits executor storage at any SF; callers own the unpersist,
    * which Bench's per-query sweep already performs).
    * The explodes repartition by id first so the
    * interpreted shingle chain parallelizes even off a single-row-group
    * file. Engine parity: each bigram's -ln(p) rounds to 6 dp (the
    * tfidf transcendental convention), and the per-doc sum accumulates
    * in DECIMAL (order-independent — the CLAUDE.md addend rule) before
    * the final double division. Docs with < 2 tokens have no bigrams
    * and emit no row (mirrored by the oracle). */
  def lmScore(train: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, k: Double = 0.5, cacheCounts: Boolean = false): DataFrame = {
    require(k > 0, s"need smoothing k > 0, got $k")
    val tr = train.select(col(idCol).as("__tid"), col(textCol))
      .repartition(col("__tid"))
    val biCounts0 = tr
      .select(explode(shingles(wsTokens(col(textCol)), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c2"))
    val uniCounts0 = tr
      .select(explode(wsTokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val (biCounts, uniCounts) =
      if (cacheCounts) (biCounts0.persist(), uniCounts0.persist())
      else (biCounts0, uniCounts0)
    val vocab = broadcast(uniCounts.agg(count(lit(1)).as("__v")))
    val docBi = docs
      .select(col(idCol), col(textCol))
      .repartition(col(idCol))
      .select(col(idCol), explode(shingles(wsTokens(col(textCol)), 2)).as("bg"))
      .withColumn("w", split(col("bg"), " ").getItem(0))
    val p = docBi
      .join(biCounts, Seq("bg"), "left")
      .join(uniCounts, Seq("w"), "left")
      .crossJoin(vocab)
      .withColumn("__p",
        (coalesce(col("c2"), lit(0L)) + lit(k)) /
          (coalesce(col("c1"), lit(0L)) + lit(k) * col("__v")))
    p.groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        (sum(round(-log(col("__p")), 6).cast(DecimalType(28, 12)))
          .cast(DoubleType) / count(lit(1))).as("nll"))
  }

  /** Content-defined chunking — the shift-robust alternative to
    * fixed-stride [[chunkTokens]]: a chunk boundary opens at every token
    * whose md5 draw hits `0 mod modulus` (expected chunk length =
    * `modulus` tokens), so inserting or deleting text early in a document
    * only perturbs chunks up to the next boundary — all later chunks
    * keep their content byte-for-byte (spec-pinned), which is what makes
    * passage-level dedup robust to boilerplate prepends. Boundaries
    * derive from the md5 TOKEN draw (engine-portable, no rand()); the
    * chunk assignment is one per-document running sum (windows partition
    * by doc — parallel across documents, unlike a per-source window) and
    * reassembly groups the same keyed shuffle. */
  def chunkContentDefined(docs: DataFrame, idCol: String, textCol: String,
      modulus: Int = 16): DataFrame = {
    require(modulus >= 1, s"need modulus >= 1, got $modulus")
    val toks = docs
      .select(col(idCol), posexplode(wsTokens(col(textCol))))
      .toDF(idCol, "pos", "tok")
      .withColumn("__b",
        (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast(LongType)
          % modulus === 0).cast("int"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .withColumn("chunk_id", sum(col("__b")).over(w).cast(LongType))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(
        md5(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")))).as("chunk_hash"),
        count(lit(1)).cast(LongType).as("n_chunk_tokens"))
  }

  /** Corpus-frequency passage dedup (RefinedWeb/FineWeb-style boilerplate
    * removal at passage granularity): split every document into
    * NON-OVERLAPPING `windowTokens`-token passages (full coverage — the
    * trailing passage may be short), drop every passage whose document
    * frequency exceeds `maxDf` (navigation chrome, license footers,
    * templated headers — content that repeats across unrelated documents),
    * and reassemble the surviving passages in order. Output:
    * (id, text_clean, n_kept, n_dropped), one row per input document
    * (a fully-boilerplate document keeps an empty string).
    *
    * Scale shape: passage DF counts shuffle 16-byte digests once
    * (map-side partial `countDistinct` cuts per-doc repeats first); the
    * hot set is bounded by totalPassages / maxDf (the heavy-hitter
    * averaging argument — heavyHitters' broadcast rationale), so it
    * BROADCASTS and the drop decision is map-side; reassembly is the one
    * shuffle that moves text, keyed by document. */
  def dropBoilerplatePassages(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, maxDf: Long): DataFrame = {
    require(windowTokens >= 1, s"need windowTokens >= 1, got $windowTokens")
    require(maxDf >= 1, s"need maxDf >= 1, got $maxDf")
    val passages =
      stridedWindows(wsTokens(col(textCol)), windowTokens, windowTokens,
        cover = true)
    val p = docs
      .select(col(idCol), posexplode(passages))
      .toDF(idCol, "pid", "ptext")
      .select(col(idCol), col("pid").cast(LongType).as("pid"), col("ptext"),
        md5(col("ptext")).as("__h"))
    val hot = p.groupBy("__h")
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") > maxDf)
      .select(col("__h").as("__hot"), lit(1).as("__d"))
    p.join(broadcast(hot), col("__h") === col("__hot"), "left")
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__d").isNull,
            struct(col("pid"), col("ptext"))))),
          x => x.getField("ptext"))).as("text_clean"),
        sum(when(col("__d").isNull, 1).otherwise(0)).cast(LongType).as("n_kept"),
        sum(when(col("__d").isNotNull, 1).otherwise(0)).cast(LongType).as("n_dropped"))
  }

  /** Document fingerprint: bottom-k sketch over hashed word shingles —
    * the MinHash-style content signature used for fast containment checks.
    * md5-hex is used as the hash so the sketch is reproducible in any
    * engine. Computed entirely PER ROW by the one-pass
    * [[graft.functions.ShingleBottomK]] kernel (bounded O(log k) state
    * per shingle, no interpreted HOF chain, no full sort) — zero shuffle,
    * so at 100 TB it runs at scan speed; the earlier window-function
    * formulation shuffled every shingle row. */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 8): DataFrame =
    docs
      .select(
        col(idCol),
        posexplode(shingleBottomK(wsTokens(col(textCol)), shingleN, k)))
      .toDF(idCol, "rk0", "sh_hash")
      .select(col(idCol), (col("rk0") + 1).cast(LongType).as("rk"), col("sh_hash"))

  /** The interpreted expression chain [[fingerprint]] replaced — retained
    * as the property-test twin (the kernel must stay bit-identical). */
  private[graft] def fingerprintInterpreted(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, k: Int = 8): DataFrame =
    docs
      .select(
        col(idCol),
        posexplode(slice(
          sort_array(transform(
            array_distinct(wordShingles(col(textCol), shingleN)), s => md5(s))),
          1, k)))
      .toDF(idCol, "rk0", "sh_hash")
      .select(col(idCol), (col("rk0") + 1).cast(LongType).as("rk"), col("sh_hash"))

  /** Reciprocal-rank fusion — the standard hybrid-retrieval combiner
    * (Cormack et al.): given per-query rankings from N retrievers, score
    * every candidate `Σ 1/(c + rank_i)` over the rankings that returned
    * it and re-rank. Rank-based (no score calibration needed across
    * retrievers), and exact: the only arithmetic is integer-input IEEE
    * division in a fixed term order, so fused scores and tie-broken
    * ranks are engine-reproducible.
    *
    * Shape: the rankings are top-k-per-query frames (bench-sized), so the
    * full-outer joins and the per-query re-rank window all run on
    * queries x k rows — nothing corpus-sized moves regardless of what the
    * upstream retrievers scanned. */
  def rrfFuse(rankings: Seq[DataFrame], qCol: String, idCol: String,
      rankCol: String, k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(k >= 1, s"need k >= 1, got $k")
    val named = rankings.zipWithIndex.map { case (df, i) =>
      df.select(col(qCol), col(idCol), col(rankCol).as(s"__r$i")) }
    val joined = named.reduce((a, b) => a.join(b, Seq(qCol, idCol), "full_outer"))
    val rrf = rankings.indices.map(i =>
      coalesce(lit(1.0) / (lit(c) + col(s"__r$i")), lit(0.0))).reduce(_ + _)
    joined
      .withColumn("rrf", rrf)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(qCol)).orderBy(col("rrf").desc, col(idCol)))
        .cast(LongType))
      .filter(col("rank") <= k)
      .select(col(qCol), col("rank"), col(idCol), col("rrf"))
  }

  /** Bigram collocation mining: the top-k adjacent word pairs ranked by
    * LIFT — observed bigram probability over the independence expectation,
    * (c_bg/M) / ((c1/N)(c2/N)) = c_bg·N² / (M·c1·c2), the exp of PMI.
    * This is the phrase-detection pass a tokenizer/corpus build runs to
    * find multi-word expressions (word2vec-phrases style).
    *
    * Scale shape: unigram and bigram counts are each ONE map-side-combined
    * groupBy (the bigram stream comes from the codegen'd [[ShingleStrings]]
    * kernel, not an interpreted HOF); both Exchanges carry word-TYPE rows,
    * never the corpus. The `minCount` filter shrinks the bigram side
    * before it joins the unigram table twice (AQE broadcasts the filtered
    * side), and the N/M totals ride a broadcast one-row cross join.
    * Ranking arithmetic is integer-input IEEE double with a fixed
    * association order — engine-portable, no log() (ranking by lift IS
    * ranking by PMI: log is monotone). Ties at the cut break by (w1, w2).
    *
    * Tokens are lowercased whitespace words with empties removed
    * (`array_remove`, codegen'd) so edge whitespace cannot mint "" grams. */
  def collocations(docs: DataFrame, textCol: String,
      minCount: Long = 5L, k: Int = 50): DataFrame = {
    require(minCount >= 1L, s"need minCount >= 1, got $minCount")
    require(k >= 1, s"need k >= 1, got $k")
    val toks = docs.select(
      array_remove(wsTokens(lower(col(textCol))), "").as("w"))
    val uni = toks.select(explode(col("w")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c_tok"))
    val big = toks.select(explode(shingles(col("w"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c_bg"))
      .filter(col("c_bg") >= minCount)
    // N tokens / M bigrams in one pass over per-doc sizes (M = Σ max(len-1,0))
    // — no second tokenize-and-explode of the corpus just for a scalar
    val totals = toks.agg(
      sum(size(col("w")).cast(LongType)).as("n_tok"),
      sum(greatest(size(col("w")) - 1, lit(0)).cast(LongType)).as("m_big"))
    val parts = big
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .withColumn("w2", element_at(split(col("bg"), " "), 2))
    val scored = parts
      .join(uni.withColumnRenamed("tok", "w1").withColumnRenamed("c_tok", "c1"), "w1")
      .join(uni.withColumnRenamed("tok", "w2").withColumnRenamed("c_tok", "c2"), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c_bg"), col("c1"), col("c2"),
        ((col("c_bg").cast(DoubleType) * col("n_tok") * col("n_tok")) /
          (col("m_big").cast(DoubleType) * col("c1") * col("c2"))).as("lift"))
    scored.orderBy(col("lift").desc, col("w1"), col("w2")).limit(k)
  }

  /** Windowed skip-gram co-occurrence: top-k ordered word pairs within
    * `window` positions of each other — the word2vec-style context
    * statistic generalizing adjacent-bigram [[collocations]] (offset 1)
    * to gapped contexts. ZERO joins: for each offset d the pair stream
    * is `arrays_zip(w[1..len-d], w[d+1..len])` — slice/zip/concat are
    * all codegen'd regular expressions built per row — so the corpus
    * makes ONE explode into the map-side-combined pair rollup and the
    * top-k is a TakeOrdered. At 100 TB this is scan-shaped: no
    * positional self-join, no per-offset corpus passes. */
  def skipgramPairs(docs: DataFrame, textCol: String, window: Int = 3,
      k: Int = 30): DataFrame = {
    require(window >= 1, s"need window >= 1, got $window")
    require(k >= 1, s"need k >= 1, got $k")
    val toks = docs.select(
      array_remove(wsTokens(lower(col(textCol))), "").as("w"))
    val byOffset = (1 to window).map { d =>
      val n = greatest(size(col("w")) - d, lit(0))
      arrays_zip(
        slice(col("w"), lit(1), n).as("w1"),
        slice(col("w"), lit(d + 1), n).as("w2"))
    }
    toks.select(explode(concat(byOffset: _*)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Compressibility quality signal: LZ78 complexity per document via
    * the codegen'd [[graft.functions.LzComplexity]] kernel — boilerplate
    * and template spam parse into far fewer phrases per byte than
    * natural prose (the Gopher "compression ratio" heuristic, with a
    * SPECIFIED parse instead of a zlib-build-dependent one). Zero
    * shuffle: one kernel call per row inside the scan stage; the three
    * struct-field reads share the kernel subtree via codegen
    * subexpression elimination. */
  def lzComplexityStats(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val st = graft.functions.lzComplexity(col(textCol))
    docs.select(
      col(idCol),
      st.getField("n_bytes").as("n_bytes"),
      st.getField("n_phrases").as("n_phrases"),
      st.getField("lz_ratio").as("lz_ratio"))
  }

  /** Deterministic demo weight vector for [[hashedLinearScore]]: a Knuth
    * multiplicative hash of the slot index into [-10, 10]. The registered
    * query uses it so no external model artifact is needed; real
    * deployments pass their trained, quantized weights instead. */
  def knuthWeights(buckets: Int): Seq[Long] =
    (0 until buckets).map(i => (i * 2654435761L) % 21L - 10L)

  /** Quality gating with a hashed linear classifier — the fasttext-style
    * filter of production LLM data pipelines (CCNet/GPT-3-style quality
    * classifiers), with the model QUANTIZED to integer weights so scoring
    * is engine-portable bit for bit. Each lowercased whitespace token
    * hashes into one of `weights.size` feature slots (first 8 md5 hex
    * chars — the repo's standard portable draw) and contributes its
    * slot's integer weight; the document score is the plain BIGINT sum
    * (order-independent, so the per-row fold equals any grouped rollup),
    * and the decision is the integer cross-multiplied per-token-average
    * gate `score * thresholdDen >= thresholdNum * n_tokens` — no float
    * division anywhere.
    *
    * SCALE: scoring is a ZERO-SHUFFLE per-row projection — the fold runs
    * inside the scan stage against the plan-embedded weight array (the
    * PQ-codebook precedent); nothing corpus-sized ever exchanges. The
    * per-token md5 fold is an interpreted HOF — fine at per-row token
    * counts (the CLAUDE.md HOF rule); a codegen kernel is the upgrade
    * path if a corpus is pathological. */
  /** The classifier's score as a bare Column (the per-row fold) — for
    * composing into wider single-scan gates ([[hashedLinearScore]] and
    * quality_ensemble both build on it). */
  def hashedLinearScoreCol(textCol: Column, weights: Seq[Long]): Column = {
    require(weights.nonEmpty, "need a non-empty weight vector")
    val b = weights.size
    val wArr = array(weights.map(lit): _*)
    val slot = (t: Column) =>
      (conv(substring(md5(t), 1, 8), 16, 10).cast(LongType) % b)
        .cast(IntegerType)
    aggregate(array_remove(wsTokens(lower(textCol)), ""), lit(0L),
      (acc, t) => acc + element_at(wArr, slot(t) + 1))
  }

  /** 2-of-3 ensemble quality gate — heuristic quality score, quantized
    * linear classifier, repetition signal, voting per document. All
    * three scorers are per-row projections (Column builders), so the
    * ensemble compiles to ONE scan with zero joins/shuffles — and being
    * STATELESS it runs unchanged on a streaming frame
    * (StreamingSpec-pinned streaming == batch). */
  def ensembleGate(docs: DataFrame, idCol: String, textCol: String,
      weights: Seq[Long], qualityThr: Double = 0.5,
      dupThr: Double = 0.2): DataFrame = {
    val q = quality(docs, textCol)
    val rep = graft.functions.repetitionStats(
      graft.functions.wsTokens(col(textCol)))
    q.select(col(idCol), col("quality_score"),
        hashedLinearScoreCol(col(textCol), weights).as("clf_score"),
        rep.getField("dup_token_frac").as("dup_frac"))
      .withColumn("votes",
        ((col("quality_score") >= qualityThr).cast(IntegerType) +
          (col("clf_score") >= 0L).cast(IntegerType) +
          coalesce(col("dup_frac") <= dupThr, lit(false)).cast(IntegerType))
          .cast(LongType))
      .withColumn("keep", col("votes") >= 2L)
  }

  def hashedLinearScore(docs: DataFrame, idCol: String, textCol: String,
      weights: Seq[Long], thresholdNum: Long = 0L,
      thresholdDen: Long = 1L): DataFrame = {
    require(thresholdDen >= 1L, s"need thresholdDen >= 1, got $thresholdDen")
    docs
      .select(col(idCol),
        size(array_remove(wsTokens(lower(col(textCol))), ""))
          .cast(LongType).as("n_tokens"),
        hashedLinearScoreCol(col(textCol), weights).as("score"))
      .withColumn("keep",
        col("score") * thresholdDen >= lit(thresholdNum) * col("n_tokens"))
  }

  /** Count-min-sketch token-frequency estimates beside the exact counts —
    * the sketch family's POINT-QUERY leg (HLL answers "how many
    * distinct", Misra-Gries "which are heavy"; CMS answers "how often is
    * THIS one" in bounded memory): the sketch an ingest pipeline keeps
    * per shard/day and merges for ad-hoc frequency probes without
    * re-scanning the corpus.
    *
    * Shape: one corpus pass aggregates Spark's built-in
    * `count_min_sketch` (depth×width counter grid, KB–MB regardless of
    * corpus size — the classic mergeable-summary contract; partials merge
    * by counter addition, so the sketch is LAYOUT-INVARIANT bitwise,
    * unlike Misra-Gries whose candidate set depends on partition
    * boundaries); one exact top-k pass (TakeOrdered) provides the probe
    * set and ground truth. The sketch and the k probe rows are the only
    * driver-side state (the k-means-centroid precedent). Guarantees
    * (property-pinned): est ≥ exact always; est ≤ exact + ⌈eps·N⌉ with
    * probability `confidence` per probe. */
  def cmsTokenEstimates(docs: DataFrame, textCol: String, k: Int,
      eps: Double = 0.0001, confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val ss = docs.sparkSession
    import ss.implicits._
    val toks = docs.select(explode(wsTokens(col(textCol))).as("tok"))
    val bytes = toks
      .agg(count_min_sketch(col("tok"), lit(eps), lit(confidence),
        lit(seed)).as("s"))
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes)
    val topk = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("tok")).limit(k)
      .as[(String, Long)].collect()
    topk.toSeq
      .map { case (t, exact) =>
        val est = cms.estimateCount(t)
        (t, exact, est, est - exact)
      }
      .toDF("tok", "exact", "est", "overestimate")
      .orderBy(col("exact").desc, col("tok"))
  }

  /** The serialized count-min sketch itself for `docs` — exposed so the
    * layout-invariance contract is testable bitwise and so callers can
    * persist/merge shard sketches. */
  def cmsSketchBytes(docs: DataFrame, textCol: String, eps: Double,
      confidence: Double, seed: Int): Array[Byte] =
    docs.select(explode(wsTokens(col(textCol))).as("tok"))
      .agg(count_min_sketch(col("tok"), lit(eps), lit(confidence),
        lit(seed)).as("s"))
      .head().getAs[Array[Byte]](0)

  /** Per-source DISTINCTIVE terms by weighted log-odds with an informative
    * Dirichlet prior (Monroe/Colaresi/Quinn 2008) — the keyness audit a
    * corpus release runs to answer "what does each source actually talk
    * about": raw frequency surfaces stopwords, TF-IDF surfaces rarities;
    * the z-scored log-odds against the REST of the corpus (prior mass
    * `a0` spread ∝ corpus frequency) surfaces terms genuinely
    * over-represented in the source, variance-stabilized so rare and
    * common terms compete fairly.
    *
    *   δ_sw = ln((c_sw+a_w)/(n_s+a0−c_sw−a_w))
    *        − ln((c'_w+a_w)/(N'+a0−c'_w−a_w)),  a_w = a0·c_w/N
    *   σ² ≈ 1/(c_sw+a_w) + 1/(c'_w+a_w),        z = δ/σ
    *
    * where c' / N' are rest-of-corpus counts. z is emitted rounded to
    * 6 dp (the tfidf transcendental-parity convention — ln may differ in
    * the last ulp between engines; every other operation is exactly-
    * rounded IEEE on exact-integer inputs, so 6 dp is far above the
    * divergence).
    *
    * Scale shape: ONE (source, term) shuffle with map-side partials;
    * corpus/vocabulary totals re-aggregate that frame (never a second
    * token pass); source totals broadcast (sources bounded); the term
    * totals join is term-keyed (co-partitioned with the tf frame); the
    * final ranking runs on the heap [[graft.plans.TopKPerGroup]]
    * operator — no per-source full sort. */
  def sourceKeyness(docs: DataFrame, srcCol: String, textCol: String,
      minCount: Long, k: Int, a0: Double = 100.0): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    // the (source, term) rollup has THREE consumers (term totals, source
    // totals, the scored join) — eager-checkpoint the reduced frame so
    // the corpus tokenize runs ONCE (the psiFromCounts posture; measured
    // 3x at 20x without it). The frame is vocabulary×sources-bounded.
    val st = org.apache.spark.sql.graft.Bridge.checkpoint(docs
      .select(col(srcCol).as("source"),
        explode(wsTokens(lower(col(textCol)))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c")))
    val tot = st.groupBy("term").agg(sum(col("c")).as("cw"))
      .filter(col("cw") >= minCount)
    val stot = st.groupBy("source").agg(sum(col("c")).as("nst"))
    val gtot = stot.agg(sum(col("nst")).as("nnt"))
    val cD = col("c").cast(DoubleType)
    val scored = st
      .join(tot, "term")
      .join(broadcast(stot), "source")
      .crossJoin(broadcast(gtot))
      .withColumn("aw",
        lit(a0) * col("cw").cast(DoubleType) / col("nnt").cast(DoubleType))
      .withColumn("rest_c", (col("cw") - col("c")).cast(DoubleType))
      .withColumn("rest_n", (col("nnt") - col("nst")).cast(DoubleType))
      .withColumn("z", round(
        (log((cD + col("aw")) /
            (col("nst").cast(DoubleType) + lit(a0) - cD - col("aw"))) -
         log((col("rest_c") + col("aw")) /
            (col("rest_n") + lit(a0) - col("rest_c") - col("aw")))) /
        sqrt(lit(1.0) / (cD + col("aw")) +
             lit(1.0) / (col("rest_c") + col("aw"))), 6))
      .select(col("source"), col("term"), col("c"), col("cw"), col("z"))
    graft.plans.TopKPerGroup(scored, Seq("source"),
      order = Seq(("z", true), ("term", false)), k = k)
  }
}
