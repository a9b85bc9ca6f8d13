package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reusable, codegen-friendly `Column` builders. Everything here composes
  * built-in `org.apache.spark.sql.functions` (whole-stage codegen) — no UDFs.
  *
  * Numeric-determinism policy (shared with the DuckDB oracle): aggregate
  * doubles by first casting each addend to a DECIMAL (exact, order-
  * independent accumulation) and cast the final sum back to DOUBLE. Single
  * IEEE double ops (one multiply, one divide) are bit-deterministic across
  * engines and need no special handling.
  */
package object functions {

  /** Format a timestamp as `yyyy-MM-dd HH:mm:ss` (sub-second truncated) —
    * the staging format the reference uses everywhere
    * (reference: dags/scripts/rust_twitter_steam_facts.py:31-33). */
  def tsString(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Unix epoch seconds -> formatted timestamp string
    * (reference: dags/scripts/rust_twitter_steam_dims.py:495-497). */
  def unixSecondsToTsString(c: Column): Column = tsString(to_timestamp(c))

  /** "days since X" -> concrete date, as the reference derives the last-ban
    * date (reference: dags/scripts/rust_twitter_steam_facts.py:213-216). */
  def daysSinceToDate(asOf: Column, days: Column): Column =
    date_sub(asOf.cast(DateType), days.cast(IntegerType))

  /** English weekday name, e.g. "Friday" (Date_Dim.week_day,
    * reference: database_build/data_warehouse.sql:65-74). */
  def weekDayName(c: Column): Column = date_format(c, "EEEE")

  /** Smart date key yyyymmdd — distributed surrogate key for the date dim
    * (no sequence/driver state, unlike the reference's nextval). */
  def smartDateKey(d: Column): Column =
    (year(d) * 10000 + month(d) * 100 + dayofmonth(d)).cast(LongType)

  // ---- tweet / profile-url parsing (reference: dags/scripts/helpers.py:40-48,
  //      dags/custom_operators/SteamToS3Operator.py:38-78) ----

  /** Banned profile name = tweet text before " was banned ". */
  def profileNameAtBan(text: Column): Column =
    split(text, " was banned ").getItem(0)

  /** First http(s) URL in a text blob. */
  def firstUrl(text: Column): Column =
    regexp_extract(text, "(https?://\\S+)", 1)

  /** Steam vanity URLs contain "/id/". */
  def isVanityUrl(url: Column): Column = url.contains("/id/")

  /** Vanity id segment of a steamcommunity.com/id/ URL. */
  def vanityId(url: Column): Column =
    regexp_extract(url, "steamcommunity\\.com/id/([^/]+)", 1)

  /** Numeric profile id of a steamcommunity.com/profiles/ URL. */
  def numericProfileId(url: Column): Column =
    regexp_extract(url, "steamcommunity\\.com/profiles/([0-9]+)", 1)

  // ---- exact-decimal aggregation helpers ----

  /** SUM(x) with exact decimal accumulation, emitted as DOUBLE. */
  def sumExact(c: Column, precision: Int = 28, scale: Int = 6): Column =
    sum(c.cast(DecimalType(precision, scale))).cast(DoubleType)

  /** AVG(x) = exact decimal sum divided (one IEEE op) by the count. */
  def avgExact(c: Column, precision: Int = 28, scale: Int = 6): Column =
    sum(c.cast(DecimalType(precision, scale))).cast(DoubleType) / count(c)

  // ---- vector math (embeddings are array<float>) ----

  /** Exact dot product of two `array<float>` / `array<double>` columns:
    * per-element double multiply (bit-deterministic), each product rounded
    * to DECIMAL(28,12), order-independent exact accumulation, emitted as
    * DOUBLE. The native codegen'd [[DotExact]] kernel. */
  def dotExact(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(DotExact(expression(a), expression(b)))
  }

  /** L2 norm via the exact dot product. */
  def normExact(a: Column): Column = sqrt(dotExact(a, a))

  /** Fast double dot product: the native codegen'd [[FloatDotProduct]]
    * kernel (IEEE accumulation in element order). Not exactly reproducible
    * across engines — use as a PREFILTER with an epsilon margin (then
    * confirm borderline rows with [[dotExact]]) or where approximate
    * similarity is the semantics (LSH bucketing, ANN candidate ranking). */
  def dotFast(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(FloatDotProduct(expression(a), expression(b)))
  }

  /** Fast cosine for prefiltering / approximate ranking: the single-pass
    * codegen'd [[FloatCosine]] kernel (see [[dotFast]] for the exactness
    * contract). */
  def cosineFast(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(FloatCosine(expression(a), expression(b)))
  }

  /** Cosine similarity, deterministic across engines (exact dot/norms, then
    * single IEEE divide). */
  def cosineExact(a: Column, b: Column): Column =
    dotExact(a, b) / (normExact(a) * normExact(b))

  /** Band hashes of a MinHash signature over a shingle array — the native
    * one-pass [[MinHashBands]] kernel (zero-shuffle signatures). */
  def minhashBands(shingles: Column, numPerm: Int = 128, bands: Int = 32): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(MinHashBands(expression(shingles), numPerm, bands))
  }

  /** 64-bit SimHash signature of a token array — the native one-pass
    * [[SimHash64]] kernel (zero-shuffle signatures; bit-identical to the
    * explode + 64-conditional-sums aggregate it replaced). */
  def simhash64(tokens: Column): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(SimHash64(expression(tokens)))
  }

  /** Bottom-k md5 shingle fingerprint of a token array — the native
    * one-pass [[ShingleBottomK]] kernel (bit-identical to the
    * distinct->md5->sort->slice expression chain it replaced). */
  def shingleBottomK(tokens: Column, n: Int, k: Int): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(ShingleBottomK(expression(tokens), n, k))
  }

  /** Bottom-k-by-hash quantile sketch aggregate ([[MinKByHash]]): per
    * group, STRUCT<n, hs, vs> holding the value count and the k (h, v)
    * pairs smallest under (h, v) — a deterministic uniform-by-hash
    * sample with EXACTLY k pairs of state per group. `h` must be an
    * engine-portable hash of a unique row id (the md5 hex-prefix trick)
    * so the kept multiset — and every estimate off it — is reproducible
    * on any engine. */
  def minKByHash(h: Column, v: Column, k: Int): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(MinKByHash(expression(h), expression(v), k)
      .toAggregateExpression())
  }

  /** Union of stored bottom-k sketches ([[MinKMerge]]) — the read-time
    * fold of a persisted per-shard sketch column; bottom-k is a
    * semilattice, so the fold equals sketching the concatenated shards
    * exactly. */
  def minKMerge(sketch: Column, k: Int): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(MinKMerge(expression(sketch), k).toAggregateExpression())
  }

  /** One-pass repetition statistics (token count + dup token/2-gram/3-gram
    * fractions) of a token array — the native [[RepetitionStats]] kernel
    * (bit-identical to the interpreted HOF formulation it replaced). */
  def repetitionStats(tokens: Column): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(RepetitionStats(expression(tokens)))
  }

  /** One-pass readability counts (whitespace words, `[.!?]+` sentence
    * runs, `[aeiouy]+` vowel-group syllables) — the native
    * [[ReadabilityStats]] kernel (bit-identical to the 3-regex-pass
    * formulation it replaced). Returns a struct {n_words, n_sentences,
    * n_syllables}. */
  def readabilityStats(text: Column): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(ReadabilityStats(expression(text)))
  }

  /** One-pass per-document token Shannon entropy — the native
    * [[TokenEntropy]] kernel (bit-identical to the explode + two-level
    * aggregate formulation it replaced). Returns a struct {n_tokens,
    * n_distinct, entropy}. */
  def tokenEntropyStats(text: Column): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(TokenEntropy(expression(text)))
  }

  /** LZ78 phrase-count complexity of a string — the native
    * [[LzComplexity]] kernel. Returns a struct {n_bytes, n_phrases,
    * lz_ratio}. */
  def lzComplexity(text: Column): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(LzComplexity(expression(text)))
  }

  /** Unicode NFC canonicalization ([[NfcNormalize]]). */
  def nfcNormalize(text: Column): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(NfcNormalize(expression(text)))
  }

  /** Greedy longest-match subword segmentation of a word array against a
    * fixed vocabulary — the native [[SubwordTokens]] kernel. Returns a
    * struct {pieces: array<string>, n_unk: long}. */
  def subwordTokens(words: Column, vocab: Seq[String]): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(SubwordTokens(expression(words), vocab))
  }

  /** Crawl-style URL canonicalization — the key a URL-level dedup/frontier
    * groups on: drop the fragment, lowercase scheme+host, strip a leading
    * `www.` and the scheme's default port, drop trailing path slashes
    * (empty path → `/`; path CASE is preserved per RFC 3986), drop
    * `utm_*` tracking params and sort the rest. A pure zero-shuffle
    * Column expression (regex extracts + one small-array sort — the
    * interpreted-HOF rule allows per-row small arrays); the DuckDB twin
    * in [[graft.SparkEntry]] mirrors every step with anchored regexes so
    * first-match-vs-global replace semantics cannot diverge. */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth1 = regexp_replace(
      lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)),
      "^www\\.", "")
    val auth = when(scheme === "http", regexp_replace(auth1, ":80$", ""))
      .when(scheme === "https", regexp_replace(auth1, ":443$", ""))
      .otherwise(auth1)
    val path0 = regexp_replace(
      regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)", 1),
      "/+$", "")
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val params = array_sort(filter(split(
      regexp_extract(noFrag, "\\?([^#]*)", 1), "&"),
      p => p =!= "" && !p.startsWith("utm_")))
    concat(scheme, lit("://"), auth, path,
      when(size(params) > 0, concat(lit("?"), array_join(params, "&")))
        .otherwise(lit("")))
  }

  /** Per-term occurrence counts of a fixed blocklist in one Aho–Corasick
    * scan — the native [[BlocklistCounts]] kernel. Returns
    * array<long> aligned with `terms`. Contract: at most 127 DISTINCT
    * characters across all terms (the automaton's dense char→code table
    * is byte-coded); violated lists fail eagerly at construction here,
    * never at task runtime. */
  def blocklistCounts(text: Column, terms: Seq[String]): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(BlocklistCounts(expression(text), terms))
  }

  /** `n` nearest IVF cell names for a float vector against a driver-built
    * centroid matrix — the native one-pass [[NearestCells]] kernel. */
  def nearestCells(vec: Column, centroids: Array[Array[Double]],
      cells: Array[String], n: Int): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(NearestCells(expression(vec), centroids, cells, n))
  }

  /** All-subspace PQ code assignment in one pass ([[PqCodes]]). */
  def pqCodes(vec: Column, books: Array[Array[Array[Double]]]): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(PqCodes(expression(vec), books))
  }

  /** Random-hyperplane LSH bucket id for a float vector — the native
    * one-pass [[HyperplaneBucket]] kernel. */
  def hyperplaneBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(HyperplaneBucket(expression(vec), planes))
  }

  /** Text normalization for dedup: lowercase, punctuation -> space,
    * collapse whitespace, trim — catches the trivial variants (case,
    * punctuation, spacing) that exact content-hash dedup misses. Pure
    * codegen'd string ops; zero shuffle. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[\\p{Punct}]", " "), "\\s+", " "))

  // ---- text shingling ----

  /** Whitespace tokens. */
  def wsTokens(text: Column): Column = split(text, "\\s+")

  /** Word n-gram shingles as an array of strings (distinct not applied).
    * Pure `transform`/`slice` — no UDF, but HOFs run INTERPRETED: this is
    * the property-test twin of the [[ShingleStrings]] kernel, which is
    * what the operators actually call (see [[shingles]]). */
  def wordShingles(text: Column, n: Int): Column = {
    val words = wsTokens(text)
    val cnt = size(words) - (n - 1)
    // sequence(1, cnt) would count DOWN for cnt < 1 — guard with empty array
    when(cnt < 1, array().cast(ArrayType(StringType)))
      .otherwise(transform(sequence(lit(1), cnt), i => concat_ws(" ", slice(words, i, lit(n)))))
  }

  /** Word n-gram shingles of a token array — the native one-pass
    * [[ShingleStrings]] kernel (bit-identical to `wordShingles`). */
  def shingles(tokens: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(ShingleStrings(expression(tokens), n, distinct = false))
  }

  /** DISTINCT word n-gram shingles (first-occurrence order) — bit-identical
    * to `array_distinct(wordShingles(text, n))`, one codegen'd pass. */
  def shinglesDistinct(tokens: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(ShingleStrings(expression(tokens), n, distinct = true))
  }

  /** Strided token windows — the native one-pass [[StridedWindows]]
    * kernel. `cover = true` tiles the whole doc (passages, partial tails);
    * `cover = false` is the sliding chunk window (last start at
    * `len - w + 1`, floor 1). Bit-identical to the interpreted
    * sequence/slice chains it replaced. */
  def stridedWindows(tokens: Column, w: Int, stride: Int, cover: Boolean): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(StridedWindows(expression(tokens), w, stride, cover))
  }

  /** Distinct xxhash64 shingle hashes — bit-identical to
    * `array_distinct(transform(wordShingles(text, n), s => xxhash64(s)))`,
    * one codegen'd pass ([[ShingleHashes]]). */
  def shingleHashes(tokens: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(ShingleHashes(expression(tokens), n))
  }
}
