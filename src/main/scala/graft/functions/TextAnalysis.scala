package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.CappedCheckpoint._
import org.apache.spark.sql.graftext.ExpressionColumns

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, document fingerprinting.
  * All are pure codegen'd column expressions (no UDFs) over a text column —
  * they scan linearly, never shuffle, and push down column pruning to the
  * Parquet reader, so they hold at 100 TB trivially.
  *
  * Determinism note: every expression here is also expressible in ANSI SQL
  * (the DuckDB oracle mirrors them exactly); fingerprints use MD5, which both
  * engines implement identically.
  */
object TextAnalysis {

  /** Whitespace tokenization. Single-space split keeps oracle parity simple. */
  def tokens(text: Column): Column = split(text, " ")

  /** Unicode-aware tokenization: maximal runs of letters/digits (any
    * script), so punctuation-glued forms like "end." or "(hello)" tokenize
    * cleanly where the whitespace split would not. `\p{L}\p{N}` classes
    * behave identically in Java regex (Spark codegen) and RE2 (DuckDB
    * `regexp_split_to_array`), keeping oracle parity; boundary empties from
    * leading/trailing separators are filtered on both sides.
    */
  def tokensUnicode(text: Column): Column =
    filter(split(text, "[^\\p{L}\\p{N}]+"), w => length(w) > 0)

  def tokenCountUnicode(text: Column): Column = size(tokensUnicode(text))

  /** Token count + a BPE-ish subword estimate: sum of ceil(len(w)/4) over
    * words — the standard "~4 chars per token" heuristic, computed exactly.
    */
  def tokenCount(text: Column): Column = size(tokens(text))

  def bpeTokenEstimate(text: Column): Column =
    aggregate(
      transform(tokens(text), w => ceil(length(w).cast("double") / lit(4.0)).cast("long")),
      lit(0L),
      (acc, v) => acc + v)

  /** Per-language marker (stopword) lists for the n-gram/stopword language-ID
    * heuristic. Fixed, deterministic, tiny — evaluated inline per row.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "et", "est", "une"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "zh" -> Seq("的", "是", "在"))

  /** Count of tokens belonging to a marker set. */
  def markerHits(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), w => w.isInCollection(markers)))

  /** Heuristic language ID: argmax of marker hits, ties broken by the fixed
    * language order above; "und" when no marker hits at all.
    */
  def langId(text: Column): Column = {
    val hits = langMarkers.map { case (lang, ms) => lang -> markerHits(text, ms) }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = hits.foldRight(lit("und")) { case ((lang, h), acc) =>
      when(h === best && best > 0, lit(lang)).otherwise(acc)
    }
    // foldRight builds nested whens in order; first language reaching the max wins
    pick
  }

  /** Quality-scoring features: char length, token count, mean token length,
    * stopword ratio, punctuation ratio, and a combined [0,1] score.
    * Mirrors the usual Gopher/C4-style length+ratio filters.
    */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val nTok = tokenCount(t)
    val nChar = length(t)
    val stop = markerHits(t, langMarkers.flatMap(_._2))
    val punct = length(t) - length(regexp_replace(t, "[.,;:!?]", ""))
    df.withColumn("n_chars", nChar.cast("long"))
      .withColumn("n_tokens", nTok.cast("long"))
      .withColumn("mean_token_len",
        (nChar - nTok + lit(1)).cast("double") / nTok.cast("double"))
      .withColumn("stopword_ratio", stop.cast("double") / nTok.cast("double"))
      .withColumn("punct_ratio", punct.cast("double") / nChar.cast("double"))
      // integer point score (0-100): penalty-based, exact in any engine
      .withColumn("quality_score",
        (lit(100L)
          - when(nTok >= 10 && nTok <= 1000, lit(0L)).otherwise(lit(20L))
          - when(col("stopword_ratio") > 0.05, lit(0L)).otherwise(lit(10L))
          - when(col("punct_ratio") < 0.2, lit(0L)).otherwise(lit(15L))).cast("long"))
  }

  /** Canonical PII patterns for training-corpus scrubbing, written in the
    * regex subset that behaves identically under Java regex (Spark codegen)
    * and RE2 (DuckDB): character classes and bounded/greedy quantifiers
    * only — no alternation, backreferences, or lookaround, so the
    * leftmost-match semantics agree engine-to-engine.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", "\\+?[0-9][0-9() \\-]{6,}[0-9]", "<PHONE>"))

  /** Financial-identifier presets, same engine-portable regex subset:
    * IBAN-shaped tokens (2 letters + 2 check digits + 10-30 alphanumerics)
    * and 16-digit card numbers with optional space/dash group separators.
    * IBAN first, so a card-like digit tail inside an IBAN is not half-eaten
    * by the card rule.
    */
  val financialPatterns: Seq[(String, String, String)] = Seq(
    ("iban", "[A-Z]{2}[0-9]{2}[A-Z0-9]{10,30}", "<IBAN>"),
    ("card", "[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}", "<CARD>"))

  /** Pattern redaction: per-pattern match counts (`n_<name>`) plus a
    * `redacted` copy of the text with every match replaced by its
    * placeholder, applied in list order (email before ipv4 before phone in
    * the PII preset, so an address's digits are not half-eaten by the phone
    * rule). Pure map-only codegen — regexp_count/regexp_replace — so it
    * scans linearly at any corpus size.
    */
  def redactPatterns(df: DataFrame, textCol: String,
                     patterns: Seq[(String, String, String)] = piiPatterns)
      : DataFrame = {
    require(patterns.nonEmpty, "at least one pattern")
    val counted = patterns.foldLeft(df) { case (d, (name, re, _)) =>
      d.withColumn(s"n_$name", regexp_count(col(textCol), lit(re)).cast("long"))
    }
    val redacted = patterns.foldLeft(col(textCol)) { case (c, (_, re, repl)) =>
      regexp_replace(c, re, repl)
    }
    counted.withColumn("redacted", redacted)
  }

  /** Deterministic Flajolet-Martin cardinality sketch over a key column:
    * bucket = first 8 md5 hex chars mod `buckets`, rho = 1 + leading-zero
    * count of the NEXT 8 hex chars (as a 32-bit value), sketch = max rho
    * per bucket. The sketch is the deliverable: it is mergeable (max is
    * associative/commutative), map-side combinable, and ~`buckets` ints of
    * state regardless of input size — how you estimate a distinct count
    * (vocabulary size, unique URLs) across 100 TB without the exact
    * count-distinct shuffle. md5 replaces the RNG-seeded hash families, so
    * the sketch is a pure function of the data — engine-exact and
    * oracle-replayable, unlike approx_count_distinct's opaque HLL. Feed
    * per-bucket maxima to any HLL-family estimator driver-side.
    */
  def cardinalitySketch(df: DataFrame, keyCol: String,
                        buckets: Int = 64): DataFrame = {
    require(buckets >= 1, "at least one bucket")
    val h = md5(col(keyCol).cast("string"))
    val bucket = (conv(substring(h, 1, 8), 16, 10).cast("long") % buckets)
      .cast("int")
    val v = conv(substring(h, 9, 8), 16, 10).cast("long")
    // rho = 1 + leading-zero count of the 32-bit value, via the length of
    // its unpadded binary rendering (a zero value renders "0" -> rho 32)
    val rho = (lit(33) - length(conv(v, 10, 2))).cast("int")
    df.select(bucket.as("bucket"), rho.as("rho"))
      .groupBy("bucket").agg(max("rho").as("max_rho"))
  }

  /** Whole-document fingerprint: MD5 of the normalized text. */
  def fingerprint(text: Column): Column = md5(lower(trim(text)))

  /** Winnowing-style rolling fingerprint: the lexicographic min of MD5 over
    * all sliding `w`-word windows — a content-defined document signature
    * robust to local edits. Null for docs shorter than `w` words.
    */
  def rollingFingerprint(text: Column, w: Int = 5): Column =
    array_min(transform(allShingles(text, w), md5(_)))

  /** Vocabulary growth curve (Heaps'-law profile): distinct-token count
    * after ingesting documents up to each checkpoint id — each token
    * contributes at its FIRST document (min doc id), so one token-level
    * aggregation plus a broadcast join against the checkpoint list replays
    * the whole ingestion curve without re-scanning per checkpoint. The
    * corpus-planning signal: a flattening curve says new data is mostly
    * repeating the existing vocabulary.
    */
  def vocabularyGrowth(df: DataFrame, idCol: String, textCol: String,
                       checkpoints: Seq[Long]): DataFrame = {
    require(checkpoints.nonEmpty, "at least one checkpoint")
    val firsts = df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(min("id").as("first_id"))
    val spark = df.sparkSession
    import spark.implicits._
    val cps = checkpoints.toDF("cp")
    firsts.join(broadcast(cps), col("first_id") <= col("cp"))
      .groupBy("cp").agg(count(lit(1)).as("vocab"))
  }

  /** Per-group token keyness: how over-represented each token is in a
    * group versus the whole corpus, as an exact integer lift
    * lift_ppm = (c * total * 1e6) DIV (groupTotal * tokenTotal) — the
    * rate-ratio core of chi-square/log-odds keyword extraction without the
    * engine-divergent logs. Tokens below `minTokenTotal` corpus occurrences
    * are dropped (rare-token lifts are noise), and only the top `k` per
    * group survive (rank filter plans as WindowGroupLimit — map-side
    * top-k). The corpus-drift companion to `groupTokenCosine`: cosine says
    * HOW FAR apart two sources are, keyness says WHICH tokens drive it.
    */
  def groupTokenKeyness(df: DataFrame, groupCol: String, textCol: String,
                        k: Int = 5, minTokenTotal: Long = 50): DataFrame = {
    val tk = df.select(col(groupCol).as("grp"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy("grp", "token").agg(count(lit(1)).as("c"))
      .localCheckpointCapped()
    val grpTot = tk.groupBy("grp").agg(sum("c").as("gt"))
    val tokTot = tk.groupBy("token").agg(sum("c").as("tt"))
      .filter(col("tt") >= minTokenTotal)
    val tot = tk.agg(sum("c").as("total"))
    val lifted = tk
      .join(grpTot, Seq("grp"))
      .join(tokTot, Seq("token"))
      .crossJoin(broadcast(tot))
      .selectExpr("grp", "token",
        "CAST((CAST(c AS DECIMAL(38,0)) * total * 1000000) DIV (CAST(gt AS DECIMAL(38,0)) * tt) AS BIGINT) AS lift_ppm")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(desc("lift_ppm"), asc("token"))
    lifted.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("grp"), col("rk").cast("long").as("rk"), col("token"),
        col("lift_ppm"))
  }

  /** Winnowing fingerprints (the MOSS algorithm): hash every k-gram, slide
    * a window of `w` consecutive hashes, select each window's minimum
    * (ties to the earliest position), and deduplicate the selections. The
    * guarantee: any shared run of at least w+k-1 tokens between two
    * documents yields at least one identical selected fingerprint, while
    * only ~2/(w+1) of positions are kept — the local-sampling dedup/
    * plagiarism index with a density bound. Hashes are the engine-portable
    * md5-prefix longs; selection is a per-doc running window min (struct
    * min = (hash, pos) lexicographic), so the whole operator is one
    * explode + one window pass, no join.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, "positive k-gram and window sizes")
    val hs = df.select(col(idCol).as("id"),
        posexplode(allShingles(col(textCol), k)).as(Seq("pos", "kgram")))
      .select(col("id"), col("pos"),
        conv(substring(md5(col("kgram")), 1, 8), 16, 10).cast("long").as("hq"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    hs.withColumn("cnt", count(lit(1)).over(win))
      .withColumn("sel", min(struct(col("hq"), col("pos"))).over(win))
      .filter(col("cnt") === w)
      .select(col("id"), col("sel.pos").cast("long").as("pos"),
        col("sel.hq").as("fp"))
      .distinct()
  }

  /** Distinct `n`-word shingles of a document, first occurrences in
    * document order — the unit of MinHash / Jaccard dedup. The native
    * [[WordShingles]] kernel; empty below `n` words and for NULL text.
    */
  def shingles(text: Column, n: Int = 3): Column = wordShingles(text, n, distinct = true)

  /** All `n`-word shingles WITH multiplicity, in document order — the unit
    * of within-document repetition metrics. The native [[WordShingles]]
    * kernel: window i is tokens i..i+n-1 of [[tokens]] joined by one space;
    * empty below `n` words and for NULL text.
    */
  def allShingles(text: Column, n: Int = 3): Column = wordShingles(text, n, distinct = false)

  private def wordShingles(text: Column, n: Int, distinct: Boolean): Column =
    ExpressionColumns.column(WordShingles(ExpressionColumns.expression(text.cast("string")), n, distinct))

  /** Fixed-size token windows with stride — training-sequence preparation
    * (context-length chunking). One row per (doc, window start): starts are
    * 0, stride, 2*stride, ... < n_tokens; each chunk takes `chunkSize`
    * tokens from its start (the final windows are shorter — filter on
    * token count downstream to keep only full chunks). Pure codegen
    * explode over one scan, no shuffle; at 100 TB this is a map-only
    * stage whose output partitioning inherits the scan's.
    */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0, "positive chunk size and stride")
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0L), (size(col("__toks")) - 1).cast("long"),
          lit(stride.toLong))).as("chunk_start"))
      .select(col(idCol), col("chunk_start"),
        array_join(slice(col("__toks"), col("chunk_start") + 1,
          lit(chunkSize)), " ").as("chunk_text"))
  }

  /** Exact discrete token-length quantiles per group — the corpus length
    * profile (per source / language) that drives chunk-size and filter
    * choices. `percentile_disc` (ANSI: smallest value whose cume_dist
    * reaches the fraction) picks an actual data value, so the result is
    * engine-exact, unlike interpolating or approximate percentiles. One
    * shuffle on the group key with partial aggregation.
    */
  def lengthQuantiles(df: DataFrame, groupCol: String, textCol: String,
                      fractions: Seq[Double] = Seq(0.5, 0.9)): DataFrame = {
    val aggs = fractions.map(f =>
      expr(s"percentile_disc($f) WITHIN GROUP (ORDER BY __nt)")
        .cast("long").as(s"p${(f * 100).round}_tokens"))
    df.select(col(groupCol), tokenCount(col(textCol)).as("__nt"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"), aggs: _*)
  }

  /** Within-document repetition features — the Gopher-style duplicate-ngram
    * quality signal: fraction of `n`-gram occurrences that are repeats of an
    * earlier one. Pure codegen'd expressions over one scan; docs shorter
    * than `n` words are excluded (no shingles).
    */
  def repetitionFeatures(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3): DataFrame = {
    val all = allShingles(col(textCol), n)
    df.select(col(idCol),
        size(all).cast("long").as("n_shingles"),
        size(array_distinct(all)).cast("long").as("n_distinct"))
      .filter(col("n_shingles") > 0)
      .withColumn("rep_ratio",
        (col("n_shingles") - col("n_distinct")).cast("double") / col("n_shingles"))
  }

  /** Top-k characteristic terms per document, scored by an integer-exact
    * TF-IDF analogue: score = tf * 1e6 DIV df (reciprocal document
    * frequency instead of log-idf — a monotone transform of 1/df, so the
    * per-document ranking matches; chosen because ln() differs in final ulps
    * across engines while integral division is exact everywhere). A corpus
    * doc-count factor N is deliberately NOT multiplied in: it is constant
    * across every term, cannot change any ranking, would cost one extra
    * full-corpus count() job, and at billion-document scale tf*1e6*N
    * silently wraps Long under non-ANSI Spark. One shuffle per aggregation
    * + a per-doc top-k window (Spark plans the partial `WindowGroupLimit`
    * below the exchange, so only k rows per doc cross the wire).
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, Seq("token"))
      .withColumn("score_q", expr(s"(tf * 1000000L) div df"))
    val w = Window.partitionBy("doc_id").orderBy(desc("score_q"), asc("token"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("score_q"), col("rank"))
  }

  /** Sparse TF-IDF cosine-similarity pairs: documents as sparse
    * (token, weight) vectors with the same integer-exact tf*1e6 DIV df
    * weighting as `tfidfTopTerms`, paired through an inverted-index
    * self-join on the token. The df-cap bounds every posting list (a
    * stopword shared by a billion docs is dropped, not joined), so the
    * candidate count is sum over kept tokens of df^2 <= dfCap * |postings|
    * — linear in corpus size, never O(n^2). Dot products and squared norms
    * accumulate in DECIMAL(38,0) (exact, order-independent); the final
    * cosine is ONE fixed sequence of IEEE double ops over those exact
    * integers, quantized at 1e6 — replayable bit-for-bit in any engine.
    * Norms are computed over the same df-capped postings the dot uses
    * (consistent geometry). Output: (doc_a, doc_b, cos_q) with
    * cos_q >= thresholdQ.
    */
  def tfidfCosinePairs(df: DataFrame, idCol: String, textCol: String,
                       dfCap: Long = 20, thresholdQ: Long = 100000,
                       ngram: Int = 1): DataFrame = {
    val unit = if (ngram <= 1) tokens(col(textCol))
               else allShingles(col(textCol), ngram)
    val tf = df.select(col(idCol).as("doc_id"), explode(unit).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
    val post = tf.join(dfreq, Seq("token"))
      .withColumn("wq", expr("(tf * 1000000L) div df"))
      .select("token", "doc_id", "wq").localCheckpointCapped()
    sparseCosine(post, "doc_id", "wq", "doc_a", "doc_b")
      .filter(col("cos_q") >= thresholdQ)
  }

  /** (a < b, cos_q) between the sparse vectors of `key`s in the postings
    * `post` (token, key, w): self-join on token, DECIMAL(38,0) dots and
    * squared norms, then one fixed IEEE cosine floored at 1e6.
    */
  private def sparseCosine(post: DataFrame, key: String, w: String,
                           a: String, b: String): DataFrame = {
    val norms = post.groupBy(key)
      .agg(sum(expr(s"CAST($w AS DECIMAL(38,0)) * $w")).as("n2"))
    post.select(col("token"), col(key).as(a), col(w).as("wa"))
      .join(post.select(col("token"), col(key).as(b), col(w).as("wb")), Seq("token"))
      .filter(col(a) < col(b))
      .groupBy(a, b)
      .agg(sum(expr("CAST(wa AS DECIMAL(38,0)) * wb")).as("dot"))
      .join(norms.select(col(key).as(a), col("n2").as("na")), Seq(a))
      .join(norms.select(col(key).as(b), col("n2").as("nb")), Seq(b))
      .select(col(a), col(b), expr("""CAST(floor(CAST(dot AS DOUBLE)
        / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1000000) AS BIGINT)""").as("cos_q"))
  }

  /** Count-min sketch of the corpus token stream: d md5-derived hash rows x
    * w buckets, cell = total token occurrences hashing there. The sketch is
    * MERGEABLE (cells add), so shards sketch locally and a d*w-cell
    * reduction combines them — the 100 TB path for frequency estimation
    * without a full vocabulary shuffle. Hashing is the engine-portable
    * md5-prefix trick used across this repo, so an oracle replays cells
    * exactly.
    */
  def countMinSketch(df: DataFrame, textCol: String,
                     d: Int = 4, w: Int = 64): DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .select(col("token"), explode(sequence(lit(0), lit(d - 1))).as("j"))
      .select(col("j"), probeCell(w).as("bucket"))
      .groupBy("j", "bucket").agg(count(lit(1)).as("n"))

  /** Probe j's cell of a token: md5("j:token") head mod `cells`. */
  private def probeCell(cells: Int): Column =
    conv(substring(md5(concat(col("j").cast("string"), lit(":"), col("token"))), 1, 8),
      16, 10).cast("long") % cells

  /** Point estimates from a count-min sketch next to the true counts, for
    * tokens at or above `minTrue` occurrences: est = min over the d rows of
    * the token's cell. est >= true always (collisions only inflate);
    * equality here is the small-corpus case.
    */
  def cmsProfile(df: DataFrame, textCol: String, d: Int = 4, w: Int = 64,
                 minTrue: Long = 1): DataFrame = {
    val sketch = countMinSketch(df, textCol, d, w)
    val truec = df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("true_n"))
      .filter(col("true_n") >= minTrue)
    truec
      .select(col("token"), col("true_n"),
        explode(sequence(lit(0), lit(d - 1))).as("j"))
      .select(col("token"), col("true_n"), col("j"), probeCell(w).as("bucket"))
      .join(sketch, Seq("j", "bucket"))
      .groupBy("token", "true_n").agg(min("n").as("est_n"))
  }

  /** Per-group Bloom filter over the distinct token set: `words` 63-bit
    * BIGINT words (bit 63 stays clear so shifts never touch the sign bit —
    * engine-portable), k md5-derived probes per token, cells combined with
    * bit_or. MERGEABLE: the filter of a union of shards is the bitwise OR
    * of their filters, so a 100 TB corpus builds per-partition filters
    * map-side and ORs d*words cells in the reduce — the same shape as
    * `countMinSketch` but for membership instead of frequency. Output one
    * row per (grp, word) with the packed bits; a membership probe checks
    * its k (word, bit) cells are all set.
    */
  def bloomFilter(df: DataFrame, groupCol: String, textCol: String,
                  words: Int = 4, k: Int = 3): DataFrame = {
    require(words >= 1 && k >= 1, "need at least one word and one probe")
    val m = words * 63
    df.select(col(groupCol).as("grp"), explode(tokens(col(textCol))).as("token"))
      .distinct()
      .select(col("grp"), col("token"),
        explode(sequence(lit(0), lit(k - 1))).as("j"))
      .select(col("grp"), probeCell(m).as("pos"))
      .select(col("grp"), (col("pos") / 63).cast("long").as("word"),
        (col("pos") % 63).cast("int").as("bit"))
      .groupBy("grp", "word")
      .agg(expr("bit_or(shiftleft(1L, bit))").as("bits"))
  }

  /** Character diversity per document: distinct characters and the inverse
    * Simpson index total^2 / sum(count^2) (effective alphabet size — the
    * log-free cousin of character entropy, and a standard gibberish /
    * mojibake quality signal). All arithmetic is exact integer (DECIMAL 38
    * intermediates, integral division at 1e6), so the result is identical
    * in every engine and at any parallelism. One explode + one (doc, char)
    * aggregation — partial map-side combine collapses repeats before the
    * shuffle.
    */
  def charDiversity(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), "")).as("ch"))
      .filter(length(col("ch")) > 0)
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("distinct_chars"),
        sum("cnt").as("n_chars"),
        expr("""CAST((CAST(sum(cnt) AS DECIMAL(38,0)) * sum(cnt) * 1000000)
                DIV sum(CAST(cnt AS DECIMAL(38,0)) * cnt) AS BIGINT)""")
          .as("inv_simpson_q"))

  /** Pairwise cosine similarity between per-group unigram count vectors —
    * corpus-level drift/overlap profiling (which sources look alike, is a
    * crawl snapshot diverging). The group-by-token matrix is tiny relative
    * to the corpus (|groups| x |vocab|), so after the one count shuffle the
    * pair join runs on token-keyed postings exactly like `tfidfCosinePairs`;
    * dots/norms are exact DECIMAL(38), the single final sqrt sees identical
    * operands in every engine.
    */
  def groupTokenCosine(df: DataFrame, groupCol: String, textCol: String):
      DataFrame = {
    val counts = df
      .select(col(groupCol).as("grp"), explode(tokens(col(textCol))).as("token"))
      .groupBy("grp", "token").agg(count(lit(1)).as("c"))
      .localCheckpointCapped()
    sparseCosine(counts, "grp", "c", "grp_a", "grp_b")
  }

  /** Corpus vocabulary: top-`k` tokens by document frequency (ties broken
    * by total term frequency desc, then token asc), with global rank.
    * One shuffle on the token (partial aggregation collapses per-doc
    * repeats map-side), then a global top-k that Spark executes as
    * TakeOrderedAndProject — only k rows ever reach the driver-side sort,
    * so a 100 TB corpus with a billion-term vocabulary still ships k rows.
    */
  def vocabulary(df: DataFrame, idCol: String, textCol: String,
                 k: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .groupBy("token")
      .agg(count(lit(1)).as("df"), sum("tf").as("tf_total"))
    val w = Window.orderBy(desc("df"), desc("tf_total"), asc("token"))
    counts.orderBy(desc("df"), desc("tf_total"), asc("token")).limit(k)
      .withColumn("rank", row_number().over(w))
  }

  /** Sequence packing for training: documents are concatenated in `orderCol`
    * order within each `groupCol` stream and cut into fixed `budget`-token
    * context windows (GPT-style packing — a document may straddle a window
    * boundary). Emits per doc: its global token offset in the stream and the
    * first/last window it lands in. One shuffle on the group key + one
    * ordered window pass; the running sum is integer-exact so bin
    * assignments are identical at any parallelism.
    */
  def packDocuments(df: DataFrame, idCol: String, groupCol: String,
                    textCol: String, budget: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0, "positive token budget")
    val w = Window.partitionBy(groupCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(idCol), col(groupCol),
        tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("token_start", sum("n_tokens").over(w) - col("n_tokens"))
      .withColumn("bin_first", expr(s"token_start div ${budget}L"))
      .withColumn("bin_last",
        expr(s"(token_start + n_tokens - 1) div ${budget}L"))
  }

  /** Collocation mining by quantized lift: for bigrams above a minimum
    * count, lift_q = f_xy * N_tokens * 1e6 DIV (f_x * f_y) — the integral
    * analogue of PMI (a monotone transform of it at fixed N), so phrase
    * ranking matches while staying engine-exact. Counts are two
    * map-side-combinable aggregations (unigrams, bigrams) plus two
    * broadcastable dictionary joins; top-k by lift with count and
    * lexicographic tie-breaks.
    */
  def collocations(df: DataFrame, idCol: String, textCol: String,
                   minCount: Int = 5, topK: Int = 20): DataFrame = {
    val toks = df.select(col(idCol), split(col(textCol), " ").as("l"))
    val uni = toks.select(explode(col("l")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    val nTokens = toks.agg(sum(size(col("l"))).cast("decimal(38,0)").as("n"))
    val bg = toks.filter(size(col("l")) >= 2)
      .select(explode(adjacentPairs(col("l"))((a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("fxy"))
      .filter(col("fxy") >= minCount)
    val scored = bg
      .join(uni.select(col("w").as("w1"), col("f").as("fx")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("f").as("fy")), Seq("w2"))
      .crossJoin(broadcast(nTokens))
      .select(col("w1"), col("w2"), col("fxy"),
        expr("CAST((CAST(fxy AS DECIMAL(38,0)) * n * 1000000) DIV (CAST(fx AS DECIMAL(38,0)) * fy) AS BIGINT)")
          .as("lift_q"))
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(
          desc("lift_q"), desc("fxy"), asc("w1"), asc("w2"))))
      .filter(col("rank") <= topK)
  }

  /** Corpus-trained bigram scoring — the integer-exact analogue of a bigram
    * language-model fluency signal: bigram counts are trained over the whole
    * corpus (one map-side-combinable groupBy on the bigram), then each
    * document scores as the average corpus frequency of its bigrams,
    * quantized as freq_sum * 1e6 DIV n_bigrams. Low scores flag incoherent
    * token sequences the way low LM log-prob does, with no cross-engine
    * float log. Shuffle keys: bigram for training and scoring (hub bigrams
    * like "of the" are split by AQE skew handling), then the doc id for the
    * per-document rollup; documents with fewer than two tokens are dropped.
    * The decimal accumulator keeps freq_sum exact past long range at scale.
    */
  def bigramLm(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = df.select(col(idCol), split(col(textCol), " ").as("l"))
      .filter(size(col("l")) >= 2)
      .select(col(idCol), explode(adjacentPairs(col("l"))(concat(_, lit(" "), _))).as("bigram"))
    val freq = bg.groupBy("bigram").agg(count(lit(1)).as("f"))
    bg.join(freq, Seq("bigram"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("f").cast("decimal(38,0)")).as("fs"))
      .select(col(idCol), col("n_bigrams"),
        col("fs").cast("long").as("freq_sum"),
        expr("CAST((fs * 1000000) DIV n_bigrams AS BIGINT)").as("lm_score_q"))
  }

  /** `f(left, right)` for each adjacent pair of token array `l`. */
  private def adjacentPairs(l: Column)(f: (Column, Column) => Column): Column =
    transform(sequence(lit(1), size(l) - 1), i => f(element_at(l, i), element_at(l, i + 1)))

  /** Kneser-Ney continuation statistics — the vocabulary-level pass of
    * n-gram LM smoothing: per token w, the number of DISTINCT left contexts
    * (continuation count: how many bigram TYPES end in w — the quantity KN
    * uses instead of raw frequency, so "Francisco" scores low however often
    * "San Francisco" appears), the distinct right contexts (fertility of w
    * as a history, the denominator of the modified-KN backoff weight), and
    * the continuation probability as ppm of the total bigram-type count.
    * Everything counts TYPES: one distinct over (left, right) pairs, two
    * group-aggs, a broadcast single-row total — no token-frequency skew
    * reaches the shuffle.
    */
  def knContinuation(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bp = df.select(split(col(textCol), " ").as("l"))
      .filter(size(col("l")) >= 2)
      .select(explode(adjacentPairs(col("l"))((a, b) => struct(a.as("lt"), b.as("rt")))).as("p"))
      .select(col("p.lt").as("lt"), col("p.rt").as("rt"))
      .distinct()
      .localCheckpointCapped()
    val cont = bp.groupBy(col("rt").as("token"))
      .agg(count(lit(1)).as("cont_types"))
    val fert = bp.groupBy(col("lt").as("token"))
      .agg(count(lit(1)).as("right_types"))
    val tot = bp.agg(count(lit(1)).as("tt"))
    cont.join(fert, Seq("token"), "full_outer")
      .crossJoin(broadcast(tot))
      .selectExpr("token",
        "CAST(coalesce(cont_types, 0) AS BIGINT) AS cont_types",
        "CAST(coalesce(right_types, 0) AS BIGINT) AS right_types",
        "CAST(coalesce(cont_types, 0) * 1000000 DIV tt AS BIGINT) AS cont_ppm")
  }

  /** Byte-pair-encoding merge induction (Sennrich et al. 2016) — the
    * tokenizer-training step of an LLM data pipeline, run over the corpus
    * WORD-FREQUENCY table rather than the corpus itself: the vocabulary is
    * orders of magnitude smaller than the text (Heaps' law), so at 100 TB
    * the token counts are one map-side-combinable shuffle over the corpus
    * and every merge round after that is a shuffle over the (small) vocab
    * only, with a single one-row driver action per round to pick the
    * winning pair (count DESC, then lexicographic — fully deterministic).
    *
    * Words are held as symbol strings with a single-space flank and a
    * DOUBLE space between symbols (" a  b  c "), so applying a merge is one
    * codegen'd `replace(" l  r ", " lr ")`: because each match consumes
    * only its own flanking spaces, consecutive occurrences in a run never
    * share a delimiter and one left-to-right non-overlapping replace pass
    * IS the greedy BPE merge ("aaaa" + (a,a) -> "aa aa", "aaa" -> "aa a").
    * The same replace exists verbatim in ANSI SQL, which keeps the DuckDB
    * oracle bit-exact.
    *
    * Returns one row per merge: (round, left, right, merged, pair_count).
    */
  def bpeMerges(df: DataFrame, idCol: String, textCol: String,
                rounds: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(rounds >= 1 && rounds <= 64, "1..64 merge rounds")
    val words = df.select(explode(tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    var sym = words.select(col("freq"),
        concat(lit(" "), array_join(split(col("word"), ""), "  "), lit(" "))
          .as("sym"))
      .localCheckpointCapped()
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val pairs = sym.select(col("freq"), split(trim(col("sym")), "  ").as("a"))
        .filter(size(col("a")) >= 2)
        .select(col("freq"),
          explode(adjacentPairs(col("a"))((l, r) => struct(l.as("l"), r.as("r")))).as("p"))
        .select(col("freq"), col("p.l").as("l"), col("p.r").as("r"))
        .groupBy("l", "r").agg(sum("freq").as("cnt"))
      val best = pairs.orderBy(desc("cnt"), asc("l"), asc("r")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, rr, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        val merged = l + rr
        merges += ((r, l, rr, merged, cnt))
        sym = sym.withColumn("sym", replace(col("sym"),
            lit(s" $l  $rr "), lit(s" $merged ")))
          .localCheckpointCapped()
      }
      r += 1
    }
    merges.toSeq.toDF("round", "left", "right", "merged", "pair_count")
      .select(col("round").cast("int").as("round"), col("left"), col("right"),
        col("merged"), col("pair_count"))
  }

  /** BPE ENCODE — apply a learned merge table (the output of [[bpeMerges]])
    * to every document: the tokenizer-application pass that actually runs
    * over the full corpus in an LLM pipeline, where training touched only
    * the word-frequency table. Each word becomes the flanked double-space
    * symbol string (" a  b  c "), then the merges fold into a CHAIN of
    * codegen'd `replace` calls in learned order — the same
    * one-pass-per-merge greedy semantics as training, see [[bpeMerges]]'s
    * delimiter argument. The whole operator is per-row higher-order
    * expressions: map-only, ZERO shuffles, scan prunes to (id, text) — at
    * 100 TB it is an embarrassingly parallel linear pass, and the merge
    * table rides the expression tree (bounded <= 64 entries), not a join.
    * Output per doc: n_words, n_chars (char-level token count), n_tokens
    * (post-merge), saved = n_chars - n_tokens. All-integer.
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    require(merges.size <= 64, "merge table bounded at 64 entries")
    val words = expr(s"filter(split($textCol, ' '), w -> length(w) > 0)")
    val sym0 = transform(words, w =>
      concat(lit(" "), array_join(split(w, ""), "  "), lit(" ")))
    val symN = merges.foldLeft(sym0) { case (c, (l, r)) =>
      transform(c, s => replace(s, lit(s" $l  $r "), lit(s" $l$r ")))
    }
    df.select(col(idCol),
        size(words).cast("long").as("n_words"),
        aggregate(words, lit(0L),
          (acc, w) => acc + length(w).cast("long")).as("n_chars"),
        aggregate(symN, lit(0L),
          (acc, s) => acc + size(split(trim(s), "  ")).cast("long"))
          .as("n_tokens"))
      .withColumn("saved", col("n_chars") - col("n_tokens"))
  }

  /** Gopher stop words (Rae et al. 2021, Appendix A1.1): a document must
    * contain at least two of these to pass the rule filter. */
  val gopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The published Gopher rule filter (Rae et al. 2021, Appendix A1.1) as
    * one map-only pass — the canonical pre-training quality gate. Per
    * document: word count in [minWords, maxWords], mean word length in
    * [3, 10], symbol-to-word ratio ('#' or '...') < 0.1, < 90% of lines
    * bullet-started, < 30% of lines ellipsis-ended, > 80% of words contain
    * an alphabetic character, and >= 2 distinct Gopher stop words present.
    * Every ratio test is integer cross-multiplied (10*symbols < n_words,
    * 5*alpha > 4*n_words, ...) so the flags are bit-exact in any engine —
    * no float thresholds. Pure codegen'd expressions: scans linearly,
    * never shuffles, prunes to the text column at the reader.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Long = 50, maxWords: Long = 100000): DataFrame = {
    val t = col(textCol)
    val toks = expr(s"filter(split($textCol, ' '), w -> length(w) > 0)")
    val lines = expr(s"split($textCol, '\n')")
    val hashes = length(t) - length(replace(t, lit("#"), lit("")))
    val ellipses = (length(t) - length(replace(t, lit("..."), lit("")))) / 3
    df.select(col(idCol),
        size(toks).cast("long").as("n_words"),
        expr("CAST(aggregate(" + s"filter(split($textCol, ' '), w -> length(w) > 0)" +
          ", 0L, (acc, w) -> acc + length(w)) AS BIGINT)").as("char_sum"),
        (hashes + ellipses).cast("long").as("n_symbols"),
        size(lines).cast("long").as("n_lines"),
        expr(s"CAST(size(filter(split($textCol, '\n'), " +
          "l -> startswith(l, '- ') OR startswith(l, '* ') OR startswith(l, '•'))) AS BIGINT)")
          .as("n_bullet_lines"),
        expr(s"CAST(size(filter(split($textCol, '\n'), " +
          "l -> endswith(l, '...'))) AS BIGINT)").as("n_ellipsis_lines"),
        expr(s"CAST(size(filter(filter(split($textCol, ' '), w -> length(w) > 0), " +
          "w -> w rlike '[A-Za-z]')) AS BIGINT)").as("n_alpha_words"),
        expr("CAST(size(array_intersect(" +
          s"filter(split($textCol, ' '), w -> length(w) > 0), " +
          gopherStopWords.map(w => s"'$w'").mkString("array(", ",", ")") +
          ")) AS BIGINT)").as("n_stop_words"))
      .withColumn("ok_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      // mean word length in [3, 10] <=> 3n <= char_sum <= 10n, integer-exact
      .withColumn("ok_mean_word_len",
        col("char_sum") >= lit(3) * col("n_words") &&
        col("char_sum") <= lit(10) * col("n_words"))
      .withColumn("ok_symbol_ratio",
        lit(10) * col("n_symbols") < col("n_words"))
      .withColumn("ok_bullets",
        lit(10) * col("n_bullet_lines") < lit(9) * col("n_lines"))
      .withColumn("ok_ellipses",
        lit(10) * col("n_ellipsis_lines") < lit(3) * col("n_lines"))
      .withColumn("ok_alpha",
        lit(5) * col("n_alpha_words") > lit(4) * col("n_words"))
      .withColumn("ok_stop_words", col("n_stop_words") >= 2)
      .withColumn("gopher_pass",
        col("ok_word_count") && col("ok_mean_word_len") &&
        col("ok_symbol_ratio") && col("ok_bullets") && col("ok_ellipses") &&
        col("ok_alpha") && col("ok_stop_words"))
  }

  /** Hashed linear model scoring — the inference half of a fastText-style
    * bag-of-words quality classifier, at corpus scale. Every whitespace
    * token hashes into one of `buckets` feature slots (md5 head, the
    * hashing-trick feature map `hashingTf` builds); each slot carries a
    * fixed integer weight in [-1000, 1000] derived deterministically from
    * the slot id (a stand-in for trained weights — swap in a broadcast
    * weight table for a real model; the plan is identical). A document's
    * score is the mean slot weight over its tokens, millionths-quantized
    * in exact DECIMAL with one IEEE divide. Model inference here is one
    * explode + one per-doc aggregation — token-parallel, no weight-table
    * join (weights are computed, not looked up), whole-stage codegen'd
    * md5/conv arithmetic per token. Output: (id, n_toks, score_q,
    * keep = score_q >= 0) — the standard keep/drop gate shape.
    */
  def hashedLinearScore(df: DataFrame, idCol: String, textCol: String,
                        buckets: Int = 1024): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("tok"))
    val slot = conv(substring(md5(col("tok")), 1, 8), 16, 10)
      .cast("long") % buckets
    val wt = conv(substring(md5(concat(lit("w:"), slot.cast("string"))), 1, 8), 16, 10)
      .cast("long") % 2001 - 1000
    toks.select(col("id"), wt.as("w"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_toks"), sum("w").as("sw"))
      .select(col("id"), col("n_toks"),
        // exact integer numerator (decimal: token counts at 100 TB push
        // sw*1e6 past int64), one IEEE divide, floor — engine-identical
        expr("""CAST(floor(CAST(CAST(sw AS DECIMAL(38,0)) * 1000000 AS DOUBLE)
          / n_toks) AS BIGINT)""").as("score_q"))
      .withColumn("keep", col("score_q") >= 0)
  }

  /** Okapi BM25 retrieval scoring of the whole corpus against a fixed bag
    * of query terms, with k1 = 6/5 and b = 3/4 kept RATIONAL so every term
    * contribution is one exact integer ratio floored once:
    *
    *   contrib(t,d) = floor( idf_q(t) * tf * 44 * sumdl
    *                         / (20*sumdl*tf + 6*sumdl + 18*dl*N) )
    *
    * which is idf_q * tf*(k1+1) / (tf + k1*(1-b) + k1*b*dl/avgdl) with both
    * sides multiplied by 20*sumdl (avgdl = sumdl/N), so no floating avgdl
    * ever appears. idf is the same rational tf-idf weight the rest of this
    * file uses (N*1e6 div df) rather than the log form — monotone in 1/df,
    * engine-portable, and never transcendental (ln is not correctly-rounded
    * across libms, so a log-idf could not hash-match an oracle).
    * Numerator/denominator accumulate in DECIMAL(38,0): at corpus scale
    * idf_q*tf*44*sumdl overflows int64 long before 100 TB.
    *
    * Plan shape: corpus stats (N, sumdl) are one tiny agg cross-joined in.
    * The scoring branch pre-filters docs with a contains-any predicate on
    * the RAW text column (a doc whose text lacks the substring cannot have
    * the token — evaluated against the scan, before tokenize/explode, so
    * at real-corpus selectivity almost no document is ever tokenized), then
    * keeps only query-term rows of the explode with `isin`. One
    * groupBy(doc) sums the per-term contributions and a
    * TakeOrderedAndProject caps the result at k. No inverted index is
    * materialized — BM25 over 100 TB is a scan + one shuffle on doc_id.
    * Output: (doc_id, n_hits, score_q, rank) for the top k docs, ranked by
    * score desc then doc_id.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val base = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"),
        col(textCol).as("txt"))
      .select(col("doc_id"), size(col("toks")).as("dl"), col("toks"), col("txt"))
    val containsAny = queryTerms.map(t => col("txt").contains(t))
      .reduce(_ || _)
    val hits = base.filter(containsAny)
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("token"))
      .filter(col("token").isin(queryTerms: _*))
    bm25Contributions(base, hits).groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), sum("contrib_q").as("score_q"))
      .orderBy(desc("score_q"), asc("doc_id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("score_q"), asc("doc_id"))))
  }

  /** Batch BM25: score the corpus against a whole QUERY TABLE
    * (query_id, term) — the production retrieval shape, where thousands of
    * queries amortize one corpus pass. Same rational scoring as
    * `bm25TopK`; the differences are plan-shaped: the term set joins as a
    * broadcast (not an isin literal), per-term df is computed once across
    * all queries from the matched rows, each (doc, term) contribution
    * fans out to every query containing the term through the same
    * broadcast, and the per-query top-k is a WindowGroupLimit (partial
    * top-k below the exchange — only k rows per query per map task cross
    * the wire). Still one corpus scan + one shuffle regardless of query
    * count. Output: (query_id, doc_id, n_hits, score_q, rank <= k).
    */
  def bm25TopKPerQuery(df: DataFrame, idCol: String, textCol: String,
                       queries: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = queries.select(col("term")).distinct()
    val base = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"), col("toks"))
    val hits = base.select(col("doc_id"), col("dl"), explode(col("toks")).as("token"))
      .join(broadcast(terms.select(col("term").as("token"))), Seq("token"))
    val w = Window.partitionBy("query_id").orderBy(desc("score_q"), asc("doc_id"))
    bm25Contributions(base, hits)
      .join(broadcast(queries.select(col("query_id"), col("term").as("token"))),
        Seq("token"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_hits"), sum("contrib_q").as("score_q"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** BM25 contrib_q per (doc_id, token) of the query-term rows `hits`
    * (doc_id, dl, token); corpus stats N and sumdl come from `docs`.
    */
  private def bm25Contributions(docs: DataFrame, hits: DataFrame): DataFrame = {
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum("dl").as("sumdl"))
    val tf = hits.groupBy("doc_id", "dl", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(dfreq, Seq("token")).crossJoin(broadcast(stats))
      .withColumn("idf_q", expr("(n_docs * 1000000L) div df"))
      .withColumn("contrib_q", expr(
        """(CAST(idf_q AS DECIMAL(38,0)) * tf * 44 * sumdl)
           div (CAST(20 AS DECIMAL(38,0)) * sumdl * tf + 6 * sumdl + 18 * dl * n_docs)"""))
  }

  /** Reciprocal-rank fusion of two ranked item lists — the standard hybrid-
    * retrieval combiner (lexical + semantic, or any two signals): each list
    * contributes 1e6 div (kRrf + rank) for items it ranks, absent items
    * contribute nothing, fused items order by total desc then id. Entirely
    * integral (the classic 1/(60+r) scaled by 1e6 and floored), so any
    * engine replays it bit-for-bit. Both inputs are (id, rank) tables —
    * produce them with whatever scorer fits (bm25TopK, cosine top-k, a
    * quality model); the fusion itself is one full-outer join on id + one
    * sort, broadcastable when the lists are top-k sized (they are, by
    * construction — k rows per retriever regardless of corpus size).
    */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
              rankCol: String = "rank", kRrf: Int = 60): DataFrame = {
    val fa = a.select(col(idCol).as("id"), col(rankCol).as("rank_a"))
    val fb = b.select(col(idCol).as("id"), col(rankCol).as("rank_b"))
    fa.join(fb, Seq("id"), "full_outer")
      .withColumn("rrf_q", expr(
        s"""coalesce(1000000 div ($kRrf + rank_a), 0L)
            + coalesce(1000000 div ($kRrf + rank_b), 0L)"""))
      .select(col("id"), col("rank_a"), col("rank_b"), col("rrf_q"))
  }

  /** Ranked-retrieval evaluation — the offline scorecard every retrieval
    * change ships against: per query, MRR, precision@k, recall@k, and a
    * graded linear-discount DCG over a ranked list vs a relevance table.
    *
    * Inputs are decoupled from any one scorer: `ranked` is
    * (query_id, doc_id, rank) with rank starting at 1 (bm25TopKPerQuery,
    * an ANN top-k, a fused RRF list — anything), `rel` is
    * (query_id, doc_id, rel) with integer grades > 0 for relevant docs
    * (absent pair = irrelevant). All metrics are ppm-quantized integer
    * floor-divs so any engine replays them bit-for-bit:
    *  - mrr_q        = 1e6 div rank-of-first-relevant (0 when none hit)
    *  - prec_at_k_q  = 1e6 * hits-in-top-k div k
    *  - recall_at_k_q= 1e6 * hits-in-top-k div total-relevant
    *  - dcg_lin_q    = sum over top-k of 1e6 * rel div (rank + 1) — the
    *    reciprocal-rank-discounted graded gain. The classic log2 discount
    *    is deliberately NOT used: cross-engine libm log bits are not part
    *    of the determinism discipline, and the linear discount preserves
    *    the same ordering signal.
    *
    * Scale shape: the ranked side is k rows per query by construction, so
    * the rel join keys on (query_id, doc_id) with a broadcastable left
    * side, and the final agg groups on query_id — cost scales with queries,
    * not corpus.
    *
    * Row semantics are RANKED-DRIVEN: the scorecard emits one row per
    * query that appears in `ranked`. A query present in `rel` for which
    * the retriever returned NOTHING emits no row at all — it is unscored,
    * not scored zero — so a consumer averaging the scorecard over a
    * retriever that drops queries will overstate quality. When that
    * failure mode matters, right-join the rel query set and count the
    * missing rows as zeros (or gate on ranked's query coverage first);
    * the SQL oracle mirrors the ranked-driven form.
    */
  def retrievalMetrics(ranked: DataFrame, rel: DataFrame,
                       k: Int = 10): DataFrame = {
    require(k > 0, "positive k")
    val r = ranked.select(col("query_id"), col("doc_id"), col("rank"))
      .filter(col("rank") <= k)
    val g = rel.select(col("query_id"), col("doc_id"),
      col("rel").cast("long").as("rel"))
    val totals = g.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    val hits = r.join(g, Seq("query_id", "doc_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
    hits.groupBy("query_id")
      .agg(
        min(when(col("rel") > 0, col("rank"))).as("first_rel"),
        sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_rel_at_k"),
        sum(expr("1000000L * rel div (rank + 1)")).as("dcg_lin_q"))
      .join(totals, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        col("n_rel_at_k"),
        coalesce(expr("1000000L div first_rel"), lit(0L)).as("mrr_q"),
        expr(s"1000000L * n_rel_at_k div $k").as("prec_at_k_q"),
        when(coalesce(col("n_rel"), lit(0L)) > 0,
          expr("1000000L * n_rel_at_k div n_rel")).otherwise(0L)
          .as("recall_at_k_q"),
        col("dcg_lin_q"))
  }

  /** Retrieval hard-negative mining — the DPR/ANCE training-data pattern:
    * the strongest-scoring documents a retriever ranks for a query that are
    * NOT relevant make the best contrastive negatives (random negatives are
    * too easy; these sit right at the decision boundary). Takes the same
    * decoupled inputs as [[retrievalMetrics]] — `ranked` (query_id, doc_id,
    * rank) from any scorer, `rel` (query_id, doc_id, ...) as the positive
    * set — and emits the top `perQuery` ranked-but-not-relevant docs per
    * query as (query_id, doc_id, rank, neg_rank).
    *
    * Scale shape: one left-anti join on (query_id, doc_id) — the ranked
    * side is k rows per query by construction — and one per-query window
    * over those k rows. Cost scales with queries * k, not corpus.
    */
  def hardNegatives(ranked: DataFrame, rel: DataFrame,
                    perQuery: Int = 3): DataFrame = {
    require(perQuery > 0, "positive perQuery")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy("rank")
    ranked.select(col("query_id"), col("doc_id"), col("rank"))
      .join(rel.select(col("query_id"), col("doc_id")),
        Seq("query_id", "doc_id"), "left_anti")
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= perQuery)
  }

  /** Per-document conditional-bigram fluency score — the integer-exact
    * stand-in for the CCNet perplexity filter: for each bigram instance
    * (w1, w2) the corpus-trained conditional probability
    * P(w2 | w1) = f(w1 w2) / f(w1 ·) in ppm, averaged over the document's
    * bigrams. Unlike [[bigramLm]] (raw joint frequency — dominated by how
    * common the WORDS are), the conditional normalization scores how
    * predictable each transition is given its left context, which is what
    * separates fluent text from word salad with common words. Emits
    * (id, n_bigrams, cond_score_q) with cond_score_q = floor(mean ppm);
    * filter-threshold policy belongs to the caller.
    *
    * Scale shape: two count-aggs over bigram/left-context tokens (map-side
    * combine; key space = type counts, not corpus size) joined back to the
    * bigram instances on their compact keys, then one groupBy(id). The
    * f(w1 ·) table is vocabulary-sized — usually broadcastable, but NOT
    * forced: web-scale corpora grow distinct leading tokens (URLs,
    * numbers, typos) past the broadcast limit, so the planner picks
    * broadcast vs shuffle from size stats.
    */
  def conditionalBigramScore(df: DataFrame, idCol: String,
                             textCol: String): DataFrame = {
    val bg = df.select(col(idCol), tokens(col(textCol)).as("l"))
      .filter(size(col("l")) >= 2)
      .select(col(idCol), explode(adjacentPairs(col("l"))((a, b) =>
        struct(a.as("w1"), concat(a, lit(" "), b).as("bigram")))).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.bigram").as("bigram"))
    val fxy = bg.groupBy("bigram").agg(count(lit(1)).as("fxy"))
    val fx = bg.groupBy("w1").agg(count(lit(1)).as("fx"))
    bg.join(fxy, Seq("bigram"))
      .join(fx, Seq("w1"))
      .withColumn("term_q", expr("1000000L * fxy div fx"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum(col("term_q")).as("ts"))
      .select(col(idCol), col("n_bigrams"),
        expr("CAST(ts div n_bigrams AS BIGINT)").as("cond_score_q"))
  }
}
