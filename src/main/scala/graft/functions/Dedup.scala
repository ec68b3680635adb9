package graft.functions

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.CappedCheckpoint._
import org.apache.spark.sql.graftext.ExpressionColumns
import org.apache.spark.storage.StorageLevel

import graft.{GraphAlgorithms, NetworkFrame}

/** Deduplication operators for training-data pipelines, each designed around
  * one shuffle-on-a-compact-key so they scale to 100 TB corpora:
  *
  *  - exact: hash-groupBy on a fingerprint (shuffle key = 16-byte digest)
  *  - MinHash+LSH: shingle -> minhash signature -> banded buckets ->
  *    bucket-join candidates (the shuffle key is the (band,bucket) pair, so
  *    only colliding docs ever meet — never the O(n^2) pair space)
  *  - SimHash: 32-bit weighted-bit fingerprint; near-dup = small Hamming gap
  *  - n-gram Jaccard: exact set overlap via shingle-inverted-index self-join
  *    (bounded by shared-shingle pairs, not all pairs)
  *
  * Shared kernels: `blockPairs` (the blocking join), `shingleOverlaps`
  * (df-capped overlap join), `shingleSets` + `verifiedOverlaps` (exact-set
  * verifier), `jaccardAtLeast`, `signatureAgreement` (LSH agreement
  * scorer), [[hammingBlockPairs]], `segments` + `keptText` (segment split
  * and reassembly), the native [[MinHashArray]] signature kernel, and
  * `localClusters` (the driver finish of LSH clustering).
  *
  * All hashing is MD5-based so the DuckDB oracle can mirror it exactly.
  */
object Dedup {

  /** Exact dedup groups: one row per distinct normalized text with the
    * representative (min id) and the duplicate count.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Rows surviving exact dedup (keep min id per fingerprint). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.join(
      exactGroups(df, idCol, textCol).select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")

  /** Modulus for the derived universal-hash family: 2^59 - 1, chosen so
    * that with numHashes <= 16 the worst-case accumulator
    * (M-1) + 15*(M-1) = 16*(M-1) < 2^63 never overflows a signed 64-bit
    * long in EITHER engine — the formula stays plain integer arithmetic,
    * exactly mirrorable in SQL.
    */
  val HashModulus: Long = 576460752303423487L

  /** MinHash signature rows: (id, h, minhash) for h in [0, numHashes).
    *
    * Hash family: ONE md5 per shingle; member h is v_h = (x + h*y) mod
    * [[HashModulus]], with (x, y) the digest's two 60-bit halves — a
    * classic universal family, pairwise- (not fully-) independent across
    * h, which is the standard MinHash trade (Indyk-style derived families)
    * and a deliberate change from the pre-round-8 one-md5-per-h family.
    *
    * '''numHashes is capped at 16''' (throws above): h <= 15 is the
    * largest coefficient that cannot overflow int64 under the 2^59-1
    * modulus. The cap propagates to every consumer that takes a
    * `numHashes` parameter (`minhashArray`, `minhashLshPairs`,
    * `dedupAgainstCorpus`, `incrementalSignatures`, ...). If a larger
    * family is ever needed, derive further (x, y) pairs from additional
    * md5 substrings or a second digest (e.g. md5(shingle || '#2')) rather
    * than raising the coefficient.
    *
    * The rows are [[minhashArray]] exploded by position, then the minimum
    * per (id, h): numHashes rows per document enter the aggregate (not
    * numHashes per shingle), and a duplicate id merges by element-wise
    * minimum. Documents too short to shingle have no rows.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 16, shingleLen: Int = 3): DataFrame =
    signatureRows(inRowSignatures(df, idCol, textCol, numHashes, shingleLen))

  /** (id, sig): each row's id and [[minhashArray]]. */
  private def inRowSignatures(df: DataFrame, idCol: String, textCol: String,
                              numHashes: Int, shingleLen: Int): DataFrame =
    df.select(col(idCol).as("id"), minhashArray(col(textCol), numHashes, shingleLen).as("sig"))

  /** (id, h, minhash) rows of (id, sig) in-row signatures: the minimum per
    * (id, h), so duplicate ids merge; a NULL signature gives no rows. */
  private def signatureRows(sigs: DataFrame): DataFrame =
    sigs.select(col("id"), posexplode(col("sig")).as(Seq("h", "v")))
      .groupBy("id", "h").agg(min("v").as("minhash"))

  private def requireHashCap(numHashes: Int): Unit = require(numHashes >= 1 && numHashes <= 16,
    s"numHashes must be in 1..16 (got $numHashes): (x + h*y) with h <= 15 is the " +
      s"largest coefficient that cannot overflow int64 under modulus $HashModulus")

  /** In-row MinHash signature: the whole numHashes-member signature as ONE
    * `ARRAY<BIGINT>` column computed per row — same md5-derived universal
    * family as [[minhashSignatures]], value for value. The native
    * [[MinHashArray]] kernel: one split, one md5 per distinct shingle and
    * numHashes long minima, inside whole-stage codegen. No explode, no
    * groupBy, no shuffle, which makes this THE signature form for streams
    * (a stateless map on each microbatch) and for map-only signature
    * backfills at 100 TB. NULL when the document is too short to shingle.
    */
  def minhashArray(text: Column, numHashes: Int = 16,
                   shingleLen: Int = 3): Column = {
    requireHashCap(numHashes)
    ExpressionColumns.column(MinHashArray(ExpressionColumns.expression(text.cast("string")),
      numHashes, shingleLen))
  }

  /** LSH band buckets from an in-row signature array: (band, bucket) structs
    * mirroring [[lshBucketsFromSignatures]] digest for digest (band b's
    * bucket is md5 of its rowsPerBand signature values joined by '|' in h
    * order) — again pure array expressions, shuffle-free.
    */
  def lshBandArray(sigArr: Column, numHashes: Int = 16,
                   bands: Int = 4): Column = {
    val rows = rowsPerBand(numHashes, bands)
    array((0 until bands).map { b =>
      val parts = (0 until rows).map(i =>
        element_at(sigArr, b * rows + i + 1).cast("string"))
      struct(lit(b).as("band"), md5(concat_ws("|", parts: _*)).as("bucket"))
    }: _*)
  }

  private def rowsPerBand(numHashes: Int, bands: Int): Int = {
    require(numHashes % bands == 0, s"numHashes ($numHashes) must divide evenly into " +
      s"bands ($bands): lshBandArray and lshBucketsFromSignatures must stay digest-identical")
    numHashes / bands
  }

  /** LSH banding over precomputed (id, h, minhash) signatures: (id, band,
    * bucket) where bucket = md5 of the band's concatenated signature rows.
    * Docs sharing any (band,bucket) are candidate near-duplicates. The
    * signature pass (shingle explode x numHashes md5s) is the expensive
    * stage of every MinHash consumer, so a pipeline running several of
    * them — bucketing, candidate pairs, clustering — should derive
    * signatures ONCE (persist them in the warehouse at scale) and fan out,
    * like the cached component-labels pattern. numHashes <= 16 (see
    * [[minhashSignatures]]).
    */
  def lshBucketsFromSignatures(sig: DataFrame, numHashes: Int = 16,
                               bands: Int = 4): DataFrame = {
    val rows = rowsPerBand(numHashes, bands)
    sig
      .withColumn("band", floor(col("h") / lit(rows)).cast("int"))
      .groupBy("id", "band")
      // deterministic band digest: rows ordered by h via sort_array on (h, minhash)
      .agg(md5(array_join(transform(sort_array(collect_list(struct(col("h"), col("minhash")))),
        s => s.getField("minhash").cast("string")), "|")).as("bucket"))
  }

  /** Candidate near-dup pairs from LSH: ids sharing a (band,bucket), a < b,
    * with the estimated Jaccard = fraction of agreeing signature rows.
    * numHashes <= 16 (see [[minhashSignatures]]).
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 16, bands: Int = 4,
                      shingleLen: Int = 3): DataFrame =
    // signatures feed three subtrees (bucketing + both candidate sides);
    // materialize once — numHashes rows per doc, always small
    minhashLshPairsFromSignatures(
      minhashSignatures(df, idCol, textCol, numHashes, shingleLen).localCheckpointCapped(),
      numHashes, bands)

  /** Candidate pairs over precomputed signatures (already materialized by
    * the caller — parquet-backed or checkpointed).
    */
  def minhashLshPairsFromSignatures(sig: DataFrame, numHashes: Int = 16,
                                    bands: Int = 4): DataFrame =
    signatureAgreement(sig, sig, numHashes, bands, "id_a", "id_b", col("x.id") < col("y.id"))

  /** (a, b, est_jaccard): distinct id pairs of `sigA` x `sigB` sharing a
    * (band, bucket) with `pair` (over x and y), scored by the fraction of
    * agreeing h.
    */
  private def signatureAgreement(sigA: DataFrame, sigB: DataFrame, numHashes: Int,
                                 bands: Int, a: String, b: String, pair: Column): DataFrame =
    blockPairs(lshBucketsFromSignatures(sigA, numHashes, bands),
        lshBucketsFromSignatures(sigB, numHashes, bands), Seq("band", "bucket"), pair, a, b)
      .join(sigA.select(col("id").as(a), col("h"), col("minhash").as("va")), Seq(a))
      .join(sigB.select(col("id").as(b), col("h"), col("minhash").as("vb")), Seq(b, "h"))
      .groupBy(a, b)
      .agg((sum(when(col("va") === col("vb"), 1).otherwise(0)).cast("double") /
        count(lit(1)).cast("double")).as("est_jaccard"))

  /** The blocking join: distinct (a, b) id pairs of `x` x `y` rows equal on
    * every `keys` column and satisfying `cond` (over aliases x and y).
    */
  private def blockPairs(x: DataFrame, y: DataFrame, keys: Seq[String], cond: Column,
                         a: String = "id_a", b: String = "id_b"): DataFrame =
    x.as("x").join(y.as("y"), keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) && cond)
      .select(col("x.id").as(a), col("y.id").as(b)).distinct()

  /** Incremental dedup: screen a NEW document batch against an EXISTING
    * corpus signature table — the production shape of continuous-ingest
    * dedup at 100 TB, where the corpus signatures live in the warehouse
    * (numHashes rows per document, orders of magnitude smaller than the
    * text) and each nightly batch pays only its own signature pass plus a
    * band-bucket join: candidates are (new, corpus) pairs sharing any LSH
    * band bucket, never an all-pairs comparison, and the batch side of
    * every join is broadcast-sized relative to the corpus. Emits pairs
    * with the estimated Jaccard (fraction of agreeing signature rows)
    * at or above `minAgree` — everything a keep/drop policy needs.
    * numHashes <= 16 (see [[minhashSignatures]]) and must match the family
    * `corpusSig` was built with.
    */
  def dedupAgainstCorpus(newDocs: DataFrame, idCol: String, textCol: String,
                         corpusSig: DataFrame, numHashes: Int = 16,
                         bands: Int = 4, shingleLen: Int = 3,
                         minAgree: Double = 0.5): DataFrame = {
    val newSig = minhashSignatures(newDocs, idCol, textCol, numHashes,
      shingleLen).localCheckpointCapped()
    signatureAgreement(newSig, corpusSig, numHashes, bands, "new_id", "corpus_id",
      col("x.id") =!= col("y.id"))
      .filter(col("est_jaccard") >= minAgree)
  }

  /** 32-bit SimHash over the token multiset. Bit b of md5(token) is
    * extracted arithmetically from the hex digest (strpos-based nibble
    * decode — mirrored verbatim in the oracle); each token votes +-1 per
    * bit; the fingerprint sets bit b iff the vote sum is positive.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .withColumn("hx", md5(col("tok")))
    val bits = toks.select(col("id"),
        explode(sequence(lit(0), lit(31))).as("b"), col("hx"))
      .withColumn("nib",
        instr(lit("0123456789abcdef"),
          substring(col("hx"), (col("b") / 4).cast("int") + 1, lit(1))) - 1)
      .withColumn("bit", floor(col("nib") / pow(lit(2), col("b") % 4)).cast("long") % 2)
      .withColumn("vote", col("bit") * 2 - 1)
    bits.groupBy("id", "b").agg(sum("vote").as("v"))
      .withColumn("bitval",
        when(col("v") > 0, pow(lit(2), col("b")).cast("long")).otherwise(lit(0L)))
      .groupBy("id").agg(sum("bitval").as("simhash"))
  }

  /** SimHash near-dup pairs with EXACT recall for `maxHamming <= 3`: by
    * pigeonhole, two 32-bit fingerprints within Hamming distance 3 must
    * agree on at least one of their four 8-bit blocks — the
    * [[hammingBlockPairs]] join over the checkpointed fingerprints. For
    * larger radii, raise the block count (maxHamming+1 blocks preserve
    * exactness).
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4 blocks guarantee exact recall only to distance 3")
    // fingerprints feed both candidate sides and the final distance check
    val sh = simhash(df, idCol, textCol).withColumnRenamed("simhash", "hash")
      .localCheckpointCapped()
    hammingBlockPairs(sh, 4, maxHamming)
  }

  /** The pigeonhole Hamming block join over (id, hash), hash < 2^(8 *
    * blocks) read as unsigned: two hashes within distance `maxHamming` <
    * `blocks` agree on at least one of their `blocks` 8-bit blocks, so the
    * self-join on (block index, block value) finds every such pair while
    * only joining colliding blocks (shuffle key = (block index, block
    * value) — never the O(n^2) pair space). The exact Hamming distance
    * then filters the distinct candidates. Output: (id_a < id_b, hamming).
    */
  private[graft] def hammingBlockPairs(h: DataFrame, blocks: Int,
                                       maxHamming: Int): DataFrame = {
    val bl = h.select(col("id"), explode(sequence(lit(0), lit(blocks - 1))).as("b"), col("hash"))
      .withColumn("blk", expr("shiftrightunsigned(hash, b * 8) & 255"))
      .select("id", "b", "blk")
    blockPairs(bl, bl, Seq("b", "blk"), col("x.id") < col("y.id"))
      .join(h.select(col("id").as("id_a"), col("hash").as("ha")), Seq("id_a"))
      .join(h.select(col("id").as("id_b"), col("hash").as("hb")), Seq("id_b"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Near-duplicate CLUSTERS: connected components over the MinHash-LSH
    * candidate pair graph thresholded at `minJaccard`, labeling every doc
    * with the minimum doc id of its cluster (the canonical representative —
    * the standard "keep one per near-dup cluster" step of a training-data
    * pipeline; singletons label themselves). Composes the LSH candidate
    * generator with the component labeling, so both stages scale:
    * candidates are bucket-bounded, components converge in O(log diameter)
    * rounds.
    *
    * The in-row signatures ([[minhashArray]]) are computed once and
    * persisted. '''Driver finish''': when `idCol` is integral and the
    * signatures hold at most `GraphAlgorithms.driverCap` values (documents
    * x numHashes), they are counted and collected in one pass each and the
    * clustering finishes on the driver ([[localClusters]]) — the same
    * buckets, pairs, estimates and union-find labels as the distributed
    * path, bit for bit. Otherwise the persisted rows explode into
    * signature rows for the distributed LSH join and component labeling.
    */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
                      minJaccard: Double, numHashes: Int = 16, bands: Int = 4,
                      shingleLen: Int = 3): DataFrame = {
    val sigs = inRowSignatures(df, idCol, textCol, numHashes, shingleLen)
    if (!GraphAlgorithms.numericCol(df, idCol))
      return lshClusters(df, idCol, signatureRows(sigs).localCheckpointCapped(),
        minJaccard, numHashes, bands)
    // an RDD, not a cached Dataset: the cache is then built inside the
    // count job, not by a query stage of its own
    val kept = sigs.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val local =
        if (kept.count() * numHashes > GraphAlgorithms.driverCap) None
        else localClusters(df, idCol, mergedSignatures(kept.collect()), minJaccard, numHashes, bands)
      local.getOrElse(lshClusters(df, idCol,
        signatureRows(df.sparkSession.createDataFrame(kept, sigs.schema)).localCheckpointCapped(),
        minJaccard, numHashes, bands))
    } finally kept.unpersist(blocking = false)
  }

  /** Clustering over precomputed (id, h, minhash) signatures; `ids`
    * supplies the id universe (singleton docs label themselves, and
    * signatures of ids outside it join no cluster).
    *
    * '''Driver finish''': when `idCol` and the signature columns are
    * integral, the signature rows whose id is in `ids` are at most
    * `GraphAlgorithms.driverCap` and form exactly one row per (id, h) for
    * h in [0, numHashes), they are collected and the clustering finishes
    * on the driver ([[localClusters]]), with the distributed path's
    * output bit for bit. Any other table takes the distributed path.
    */
  def nearDupClustersFromSignatures(ids: DataFrame, idCol: String,
                                    sig: DataFrame, minJaccard: Double,
                                    numHashes: Int = 16,
                                    bands: Int = 4): DataFrame = {
    val integral = GraphAlgorithms.numericCol(ids, idCol) &&
      Seq("id", "h", "minhash").forall(GraphAlgorithms.numericCol(sig, _))
    val local = if (!integral) None else {
      // a NULL h or minhash maps to h = -1, a shape no well-formed table has
      val rows = sig.join(ids.select(col(idCol).as("id")), Seq("id"), "left_semi")
        .select(col("id").cast("long"), col("h").cast("long"), col("minhash").cast("long"))
        .rdd.map(r => if (r.isNullAt(1) || r.isNullAt(2)) (r.getLong(0), -1L, 0L)
          else (r.getLong(0), r.getLong(1), r.getLong(2)))
      GraphAlgorithms.collectWithinCap(rows)
        .flatMap(signatureTable(_, numHashes))
        .flatMap(localClusters(ids, idCol, _, minJaccard, numHashes, bands))
    }
    local.getOrElse(lshClusters(ids, idCol, sig, minJaccard, numHashes, bands))
  }

  /** The distributed clustering: LSH candidate pairs at or above
    * `minJaccard`, then `GraphAlgorithms.componentLabels` over `ids`. */
  private def lshClusters(ids: DataFrame, idCol: String, sig: DataFrame, minJaccard: Double,
                          numHashes: Int, bands: Int): DataFrame = {
    val pairs = minhashLshPairsFromSignatures(sig, numHashes, bands)
      .filter(col("est_jaccard") >= minJaccard)
      .select(col("id_a").as("source"), col("id_b").as("target"))
    val nodes = ids.select(col(idCol).as("id"))
    GraphAlgorithms.componentLabels(NetworkFrame(nodes, pairs), "weak")
      .select(col("id").as(idCol), col("component").as("cluster_rep"))
  }

  /** Collected (id, sig) rows as one signature per id: NULL ids and NULL
    * signatures drop, and a duplicate id merges by element-wise minimum,
    * as [[signatureRows]] does. */
  private def mergedSignatures(rows: Array[Row]): Map[Long, Array[Long]] =
    rows.filterNot(r => r.isNullAt(0) || r.isNullAt(1))
      .groupBy(_.getAs[Number](0).longValue)
      .map { case (id, rs) => id -> rs.map(_.getSeq[Long](1).toArray).reduce((a, b) =>
        a.indices.map(h => math.min(a(h), b(h))).toArray) }

  /** Collected (id, h, minhash) rows as one signature per id, or None unless
    * every id has exactly one row for each h in [0, numHashes) — the shape
    * whose band digests and agreement counts the driver finish reproduces.
    */
  private def signatureTable(rows: Array[(Long, Long, Long)],
                             numHashes: Int): Option[Map[Long, Array[Long]]] = {
    val byId = rows.groupBy(_._1).map { case (id, rs) => id -> rs.sortBy(_._2) }
    if (byId.values.forall(_.map(_._2).toSeq == (0L until numHashes.toLong)))
      Some(byId.map { case (id, rs) => id -> rs.map(_._3) })
    else None
  }

  /** The driver finish of LSH clustering over one signature per id: each
    * band's bucket is the md5 of its values joined by '|' in h order (the
    * [[lshBucketsFromSignatures]] digest); candidates are the id pairs
    * a < b sharing a (band, bucket); a pair's estimate is its agreeing
    * positions / numHashes, and pairs at or above `minJaccard` are
    * union-found into min-id labels, left-joined onto `ids`. None, for the
    * distributed path, once the candidates pass `GraphAlgorithms.driverCap`.
    */
  private def localClusters(ids: DataFrame, idCol: String, sigs: Map[Long, Array[Long]],
                            minJaccard: Double, numHashes: Int, bands: Int): Option[DataFrame] = {
    val rows = rowsPerBand(numHashes, bands)
    val buckets = sigs.toSeq.flatMap { case (id, s) => (0 until bands).map { b =>
      (b, DigestUtils.md5Hex(s.slice(b * rows, (b + 1) * rows).mkString("|"))) -> id }
    }.groupBy(_._1).values.map(_.map(_._2))
    val candidates = buckets.iterator.flatMap(m =>
      for (a <- m.iterator; b <- m.iterator if a < b) yield (a, b))
    val pairs = scala.collection.mutable.HashSet.empty[(Long, Long)]
    val cap = GraphAlgorithms.driverCap
    while (candidates.hasNext && pairs.size <= cap) pairs += candidates.next()
    if (pairs.size > cap) return None
    val edges = pairs.toArray.filter { case (a, b) =>
      (0 until numHashes).count(h => sigs(a)(h) == sigs(b)(h)).toDouble / numHashes.toDouble >=
        minJaccard }
    Some(GraphAlgorithms.labelIds(ids.select(col(idCol).as("id")),
        GraphAlgorithms.unionFindMinLabels(edges))
      .select(col("id").as(idCol), col("component").as("cluster_rep")))
  }

  /** The curation step after clustering: ONE surviving document per
    * near-dup cluster, chosen by maximum quality (tie: smallest doc id) —
    * "keep the best copy", not "keep the arbitrary min-id copy". `clusters`
    * is (idCol, cluster_rep) as produced by `nearDupClusters*`; `quality`
    * is (idCol, qualityCol) from any scorer (token count, quality model,
    * ...). One join + one per-cluster top-1 window (planned as a partial
    * WindowGroupLimit below the exchange, so only one row per cluster per
    * map task crosses the wire). Output: one row per cluster
    * (cluster_rep, best_doc, n_docs, best_quality).
    */
  def keepBestPerCluster(clusters: DataFrame, idCol: String,
                         quality: DataFrame, qualityCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_rep").orderBy(desc(qualityCol), asc(idCol))
    val joined = clusters.join(quality, Seq(idCol))
    val sizes = clusters.groupBy("cluster_rep").agg(count(lit(1)).as("n_docs"))
    joined.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("cluster_rep"), col(idCol).as("best_doc"),
        col(qualityCol).as("best_quality"))
      .join(sizes, Seq("cluster_rep"))
      .select("cluster_rep", "best_doc", "n_docs", "best_quality")
  }

  /** Exact n-gram Jaccard similarity for all doc pairs sharing at least one
    * shingle — inverted-index self-join, so cost is bounded by co-occurrence,
    * not the full pair space.
    *
    * `maxDf` (SCALE.md stop-shingle filtering): shingles appearing in more
    * than `maxDf` documents are dropped BEFORE the self-join — a shingle
    * shared by d docs emits d^2/2 pairs, so Zipf-head shingles dominate cost
    * while contributing almost no Jaccard information. Jaccard is then
    * defined over the df-filtered shingle sets (sizes and intersections both
    * use the filtered index, so the measure stays a true Jaccard of the
    * reduced sets). `maxDf <= 0` disables the cap (exact all-shingle
    * Jaccard — does not survive 100x data).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleLen: Int = 3, minJaccard: Double = 0.0,
                        maxDf: Int = 0): DataFrame =
    jaccardAtLeast(shingleOverlaps(df, idCol, textCol, shingleLen, maxDf), minJaccard)

  /** (id_a < id_b, inter, sza, szb) for pairs sharing a shingle of df <=
    * `maxDf` (`<= 0`: no cap); sizes count the same capped postings.
    */
  private def shingleOverlaps(df: DataFrame, idCol: String, textCol: String,
                              shingleLen: Int, maxDf: Int): DataFrame = {
    val shAll = df.select(col(idCol).as("id"),
      explode(TextAnalysis.shingles(col(textCol), shingleLen)).as("shingle"))
    val filtered =
      if (maxDf <= 0) shAll
      else shAll.join(
        // shingles are distinct per doc, so count(*) per shingle IS its df;
        // one extra agg + semi join on the same shingle key the self-join
        // shuffles on anyway — AQE reuses the partitioning
        shAll.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf).select("shingle"),
        Seq("shingle"), "left_semi")
    // the postings list feeds three subtrees (both self-join sides + sizes);
    // materialize once instead of re-running the explode/df-filter per branch
    val sh = filtered.localCheckpointCapped()
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sza")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("szb")), Seq("id_b"))
  }

  /** (id_a, id_b, jaccard >= `minJaccard`) of (id_a, id_b, inter, sza, szb). */
  private def jaccardAtLeast(overlaps: DataFrame, minJaccard: Double): DataFrame =
    overlaps
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Exact Jaccard-threshold self-join via prefix filtering (the PPJoin /
    * AllPairs family, Bayardo et al. WWW'07): order every document's
    * shingles by a GLOBAL rarest-first total order (document frequency,
    * then shingle text), and observe that two docs with
    * Jaccard >= tau must overlap within each other's first
    * |S| - ceil(tau * |S|) + 1 shingles — if a pair shares NO prefix
    * shingle, the (rarer) unshared prefixes already exceed the allowed
    * difference. The inverted index is therefore built over PREFIXES
    * only: Zipf-head shingles sort LAST and almost never enter a prefix,
    * so the candidate pair space collapses without the lossy df-cap
    * `ngramJaccardPairs` uses — this variant is exact at any threshold.
    * Candidates are then verified against the FULL shingle sets. Shuffle
    * keys: shingle (df count + prefix join), id (per-doc rank window,
    * bounded by doc length). Output: (id_a < id_b, jaccard >= tau).
    */
  def jaccardPrefixPairs(df: DataFrame, idCol: String, textCol: String,
                         shingleLen: Int = 3, tau: Double = 0.5): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, "tau must be in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    // per-doc distinct shingle SET, materialized once: the postings explode
    // below derives from it, and verification reads the arrays directly
    val sets = shingleSets(df, col(idCol), textCol, shingleLen).localCheckpointCapped()
    val sh = sets.select(col("id"), col("sz"), explode(col("shs")).as("shingle"))
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val prefix = sh.join(dfreq, Seq("shingle"))
      .withColumn("rk",
        row_number().over(Window.partitionBy("id").orderBy("df", "shingle")))
      .filter(col("rk") <= col("sz") - ceil(lit(tau) * col("sz")) + 1)
      .select(col("id"), col("shingle"), col("rk"), col("sz"))
      // feeds both sides of the candidate self-join — materialize so the
      // df-count + window subtree runs once, not twice
      .localCheckpointCapped()
    // PPJoin length + positional filters on the raw collisions BEFORE the
    // distinct: J >= tau forces |inter| >= tau/(1+tau)*(sa+sb), while
    // |inter| is bounded by min(sa, sb) (length filter) and by
    // 1 + min(sa - rka, sb - rkb) given a shared prefix shingle at ranks
    // (rka, rkb) (positional filter). Both prune only provably-sub-tau
    // pairs; the 1e-9 slack keeps borderline IEEE comparisons conservative.
    val eps = 1e-9
    val cand = blockPairs(prefix, prefix, Seq("shingle"), col("x.id") < col("y.id") &&
      (lit(1.0) + tau) * least(col("x.sz"), col("y.sz")) >=
        lit(tau) * (col("x.sz") + col("y.sz")) - eps &&
      (lit(1.0) + tau) *
        (lit(1) + least(col("x.sz") - col("x.rk"), col("y.sz") - col("y.rk"))) >=
        lit(tau) * (col("x.sz") + col("y.sz")) - eps)
    // The candidate table is re-spread by id_a with a PINNED partition
    // count first: its bytes are tiny (two longs per row) so AQE's
    // bytes-based coalescing collapses the distinct's output to one
    // partition, serializing the intersect verification — per-row COST,
    // not size, is what matters here (measured 5.3 s -> ~0.7 s at sf0.1).
    jaccardAtLeast(verifiedOverlaps(
      cand.repartition(Tuning.spreadPartitions(df.sparkSession), col("id_a")), sets), tau)
  }

  /** (id, shs, sz): the distinct shingle array of each shingled document. */
  private def shingleSets(df: DataFrame, id: Column, textCol: String,
                          shingleLen: Int): DataFrame =
    df.select(id.as("id"), TextAnalysis.shingles(col(textCol), shingleLen).as("shs"))
      .withColumn("sz", size(col("shs")))
      .filter(col("sz") > 0)

  /** Candidate pairs (id_a, id_b) with both ends' `shingleSets` rows and
    * inter = |sa ∩ sb|: one O(|a|+|b|) array_intersect per PAIR instead of
    * exploding pairs against the postings (measured 30 s -> sub-second at
    * sf0.1: the explode shuffled ~50 rows per candidate through two joins).
    */
  private def verifiedOverlaps(cand: DataFrame, sets: DataFrame): DataFrame =
    cand
      .join(sets.select(col("id").as("id_a"), col("shs").as("sa"),
        col("sz").as("sza")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("shs").as("sb"),
        col("sz").as("szb")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))

  /** Incremental MinHash signature maintenance: given the signature table
    * of the previous corpus snapshot and the batch of upserted documents,
    * produce the signature table of the updated corpus WITHOUT touching
    * unchanged docs — stale rows for changed ids leave via one anti-join
    * on the compact id key, fresh signatures for the batch union in. The
    * signature pass (shingle explode x numHashes digests) is the dominant
    * cost of every MinHash consumer at 100 TB; a daily upsert touching
    * 0.1% of docs should cost 0.1% of a full pass, not re-derive the
    * warehouse signature table from scratch. Output is exactly
    * `minhashSignatures` over the merged corpus. numHashes <= 16 (see
    * [[minhashSignatures]]) and must match the family `baseSig` was built
    * with.
    */
  def incrementalSignatures(baseSig: DataFrame, changed: DataFrame,
                            idCol: String, textCol: String,
                            numHashes: Int = 16, shingleLen: Int = 3): DataFrame = {
    val changedIds = changed.select(col(idCol).as("id")).distinct()
    baseSig.join(changedIds, Seq("id"), "left_anti")
      .unionByName(minhashSignatures(changed, idCol, textCol, numHashes, shingleLen))
  }

  /** Per-document n-gram novelty: the fraction (ppm, integral division —
    * exact in every engine) of a document's distinct shingles that occur in
    * NO other document. The inverse of the memorization/boilerplate signal:
    * low novelty means the document is assembled from corpus-common n-grams
    * (template or near-duplicate debris that survived pair-level dedup),
    * high novelty means unique content worth keeping. One shingle explode +
    * one df aggregation on the shingle key + one per-doc rollup — no
    * self-join at all, so unlike the pair operators this scans 100 TB with
    * two shuffles total. Documents shorter than one shingle report 0
    * shingles and a NULL novelty.
    */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
                   shingleLen: Int = 8): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      explode(TextAnalysis.shingles(col(textCol), shingleLen)).as("shingle"))
    // shingles are distinct per doc, so count per shingle == document freq
    val dfc = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val perDoc = sh.join(dfc, Seq("shingle"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
    df.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        expr("""CASE WHEN coalesce(n_shingles, 0) = 0 THEN CAST(NULL AS BIGINT)
                ELSE n_unique * 1000000 DIV n_shingles END""").as("novelty_ppm"))
  }

  /** Maximal duplicated token spans: the exact-substring-dedup primitive
    * (the Lee et al. "Deduplicating Training Data Makes Language Models
    * Better" operation, shingle-approximated at scale): a token position is
    * duplicated if its n-gram occurs anywhere else in the corpus (another
    * document or another position of the same one); runs of consecutive
    * duplicated positions merge into maximal spans via the gaps-and-islands
    * trick. A span (start, end) means tokens [start, end] inclusive
    * (0-based) are covered by corpus-repeated n-grams — the byte ranges a
    * substring-level deduplicator would cut. Cost: one explode + one
    * occurrence count on the shingle key + one per-doc window — no
    * suffix array and no self-join, so it runs where the true suffix
    * automaton cannot.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 8): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      posexplode(TextAnalysis.allShingles(col(textCol), n))
        .as(Seq("pos", "shingle")))
    val occ = sh.groupBy("shingle").agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
    val flagged = sh.join(occ, Seq("shingle"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
    flagged.withColumn("rn", row_number().over(w))
      .groupBy(col("id"), (col("pos") - col("rn")).as("grp"))
      .agg(min("pos").as("span_start"),
        (max("pos") + (n - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("id"), col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"), col("n_grams"))
  }

  /** Asymmetric n-gram CONTAINMENT pairs: for doc pairs sharing a shingle,
    * the larger of the two directional containments
    * max(|A inter B| / |A|, |A inter B| / |B|) = inter / min(|A|, |B|),
    * quantized at 1e6 by integral division (exact in every engine).
    * Containment catches subset duplication that Jaccard misses — a short
    * document fully quoted inside a long one scores near 1.0 here but low
    * on Jaccard. Same df-capped inverted-index plan as
    * `ngramJaccardPairs`; sizes and intersections use the SAME filtered
    * postings, so the measure is a true containment of the reduced sets.
    */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                            shingleLen: Int = 3, thresholdQ: Long = 500000,
                            maxDf: Int = 20): DataFrame =
    shingleOverlaps(df, idCol, textCol, shingleLen, maxDf)
      .withColumn("containment_q",
        expr("inter * 1000000 div least(sza, szb)"))
      .filter(col("containment_q") >= thresholdQ)
      .select(col("id_a"), col("id_b"), col("inter"), col("containment_q"))

  /** Benchmark decontamination: ids of corpus documents sharing at least one
    * `n`-word shingle with any benchmark document (the standard n-gram
    * test-set-overlap filter applied before training). The benchmark side
    * is distinct shingles of a small table — broadcast, so at 100 TB
    * this is a map-side semi join against the corpus scan (no corpus
    * shuffle); the distinct on ids is the only shuffle, keyed and partial.
    */
  def contaminatedIds(corpus: DataFrame, benchmark: DataFrame,
                      idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val bsh = benchmark
      .select(explode(TextAnalysis.shingles(col(textCol), n)).as("shingle"))
      .distinct()
    corpus
      .select(col(idCol), explode(TextAnalysis.shingles(col(textCol), n)).as("shingle"))
      .join(broadcast(bsh), Seq("shingle"), "left_semi")
      .select(idCol).distinct()
  }

  /** Cross-document span-level exact dedup (the C4-style "remove repeated
    * spans corpus-wide, keep the first occurrence" pass): documents are cut
    * into non-overlapping `segLen`-token segments; for every distinct
    * segment text the occurrence with the smallest (doc id, segment index)
    * survives, and each document is reassembled from its surviving segments
    * in order. Returns (id, n_segments, n_kept, clean_text).
    *
    * Scale shape: one explode (map-only), one window keyed on the segment
    * digest (the keep-first decision — Spark plans a partial WindowGroupLimit
    * so duplicate spans collapse map-side), one groupBy doc id to
    * reassemble. No self-join and no pair space at any stage, so unlike
    * similarity dedup this pass is safe at 100 TB by construction.
    */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
                   segLen: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val segs = segments(df, textCol, segLen, col(idCol).as("id"))
    val w = Window.partitionBy(md5(col("seg"))).orderBy("id", "seg_start")
    val kept = segs.withColumn("rn", row_number().over(w))
      .withColumn("keep", col("rn") === 1)
    kept.groupBy("id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        keptText(col("keep")).as("clean_text"))
  }

  /** (keys, seg_start, seg) per non-overlapping `segLen`-token segment. */
  private def segments(df: DataFrame, textCol: String, segLen: Int,
                       keys: Column*): DataFrame = {
    require(segLen > 0, "positive segment length")
    val toks = df.select(keys :+ TextAnalysis.tokens(col(textCol)).as("__toks"): _*)
    val names = toks.columns.init.toSeq.map(col)
    toks.select(names :+ col("__toks") :+ explode(sequence(lit(0L),
        (size(col("__toks")) - 1).cast("long"), lit(segLen.toLong))).as("seg_start"): _*)
      .select(names :+ col("seg_start") :+ array_join(slice(col("__toks"),
        col("seg_start") + 1, lit(segLen)), " ").as("seg"): _*)
  }

  /** Aggregate: the `keep` segments rejoined in seg_start order; NULL when
    * none survives (SQL string_agg over no rows), not array_join's "".
    */
  private def keptText(keep: Column): Column =
    when(sum(when(keep, 1L).otherwise(0L)) > 0, array_join(transform(
      array_sort(collect_list(when(keep, struct(col("seg_start"), col("seg"))))),
      s => s.getField("seg")), " "))

  /** C4/CCNet-style boilerplate stripping: a fixed-length token segment that
    * recurs across >= minDocs DISTINCT documents of the SAME source is
    * template debris (nav bars, license footers, scraper artifacts), not
    * content — unlike [[segmentDedup]], which keeps each segment's FIRST
    * occurrence corpus-wide, this drops EVERY occurrence of a
    * source-frequent segment (the first copy of a footer is as worthless as
    * the millionth) while leaving segments that merely repeat across
    * sources alone (cross-source repetition is natural language, not
    * template). Emits per doc: segment counts, boilerplate hits, and the
    * reassembled clean text (NULL when nothing survives, matching
    * string_agg-over-no-rows SQL semantics).
    *
    * Scale shape: one shuffle keyed on (source, md5(segment)) to count
    * distinct docs — partial map-side distinct applies, and the key space
    * is bounded by total segments, never pairs — then one equi-join of the
    * segment table against the frequent-segment table on the same compact
    * key. Both sides are linear in corpus tokens; nothing is all-pairs and
    * no per-source data needs to co-reside beyond the count rows.
    */
  def boilerplateSegments(df: DataFrame, idCol: String, sourceCol: String,
                          textCol: String, segLen: Int = 8,
                          minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would mark every segment boilerplate")
    val segs = segments(df, textCol, segLen, col(idCol).as("id"), col(sourceCol).as("source"))
    val freq = segs
      .groupBy(col("source").as("__fsrc"), md5(col("seg")).as("__h"))
      .agg(countDistinct(col("id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__fsrc"), col("__h"), lit(true).as("__boiler"))
    val flagged = segs
      .withColumn("__h", md5(col("seg")))
      .withColumnRenamed("source", "__fsrc")
      .join(freq, Seq("__fsrc", "__h"), "left")
      .select(col("id"), col("__fsrc").as("source"), col("seg_start"),
        col("seg"), coalesce(col("__boiler"), lit(false)).as("boiler"))
    flagged.groupBy("id", "source")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler"),
        keptText(!col("boiler")).as("clean_text"))
  }

  /** Fuzzy-duplicate pairs by Levenshtein distance within caller-supplied
    * blocks (the classic record-linkage blocking discipline): only rows
    * sharing a block key are ever compared, so the shuffle key is the block
    * and the pair space is sum(|block|^2), never O(n^2). The caller picks a
    * block key tight enough for the target scale (brand, prefix, length
    * bucket, an LSH bucket, ...); edit distance itself is the codegen'd
    * built-in `levenshtein`, exact in both engines. Emits (id_a < id_b,
    * dist) for pairs within maxDist.
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: org.apache.spark.sql.Column,
                        maxDist: Int): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    // The block-keyed self-join broadcasts one side, so no co-partitioning
    // is needed — but the post-join Levenshtein work runs at the PROBE
    // side's parallelism. Hashing on the (few, skewed) block keys starved
    // cores (guide §2.5: low-cardinality partition keys), and a small
    // input read as one scan split would serialize the whole quadratic
    // kernel onto one task. Spread the probe side by the unique id to one
    // partition per core — and only when the scan isn't already at least
    // that parallel, so a large input pays no extra shuffle.
    val t = df.select(col(idCol).as("id"), col(textCol).as("txt"),
        blockCol.as("blk"))
    val par = df.sparkSession.sparkContext.defaultParallelism
    val tp = if (t.rdd.getNumPartitions < par) t.repartition(par, col("id"))
             else t
    val a = tp.select(col("blk"), col("id").as("id_a"), col("txt").as("txt_a"))
    val b = t.select(col("blk"), col("id").as("id_b"), col("txt").as("txt_b"))
    // Candidate pruning before the quadratic-cost expression: a length gap
    // over maxDist already forces dist > maxDist (each unmatched char costs
    // >= 1 edit), and the banded levenshtein(threshold) kernel is
    // O(len * maxDist) instead of O(len^2), returning -1 past the bound —
    // exact for every value <= maxDist, so filtering to [0, maxDist]
    // yields bit-identical pairs (threshold floored at 1 because the
    // kernel requires a positive band; the range filter restores
    // maxDist = 0 semantics).
    a.join(b, Seq("blk")).filter(col("id_a") < col("id_b") &&
        abs(length(col("txt_a")) - length(col("txt_b"))) <= maxDist)
      .withColumn("dist",
        levenshtein(col("txt_a"), col("txt_b"), math.max(maxDist, 1)))
      // a single >= 0 conjunct: every non-sentinel value of the banded
      // kernel is already <= its threshold, and one conjunct keeps the
      // pushed-down join condition to ONE levenshtein evaluation per
      // candidate (a second <= maxDist conjunct was measured to duplicate
      // the kernel call in the join condition). maxDist = 0 runs the
      // kernel at band 1, so it needs the exact == 0 check.
      .filter(if (maxDist == 0) col("dist") === 0 else col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  /** Contrastive training triples: every MinHash-LSH positive pair
    * (estimated Jaccard >= minJaccard) paired with `negPerPair`
    * deterministic negatives drawn uniformly from the corpus — the
    * (anchor, positive, negative) rows embedding/reranker training
    * consumes. Negatives are md5-picked by POSITION (the scalable
    * sortBy+zipWithIndex dense index, never a single-partition window), so
    * the draw is reproducible under any partitioning and replayable by an
    * oracle; the standard in-batch-negative caveat applies (a hash can
    * land on a true near-dup — rare, and accepted by the training recipe,
    * though anchors are excluded by construction below). Shuffle story:
    * positives come from the banded LSH join (never all-pairs), the
    * negative join is an equi-join on the dense position — one shuffle of
    * |positives| * negPerPair compact rows.
    * Output: (id_a, id_b, neg_rank, neg_id).
    */
  def contrastiveTriples(df: DataFrame, idCol: String, textCol: String,
                         minJaccard: Double, negPerPair: Int = 3,
                         numHashes: Int = 16, bands: Int = 4): DataFrame = {
    require(negPerPair >= 1, "negPerPair must be >= 1")
    val pos = minhashLshPairs(df, idCol, textCol, numHashes, bands)
      .filter(col("est_jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"))
    val posIdx = graft.NetworkFrame.positionsById(
        df.select(col(idCol).as("id")))
      .localCheckpointCapped()
    val nRow = posIdx.agg((max("pos") + 1).as("n"))
    val draws = pos
      .withColumn("neg_rank", explode(sequence(lit(1), lit(negPerPair))))
      .crossJoin(broadcast(nRow))
      .withColumn("neg_pos",
        conv(substring(md5(concat_ws(":", col("id_a"), col("id_b"),
          col("neg_rank"))), 1, 8), 16, 10).cast("long") % col("n"))
    draws
      .join(posIdx.select(col("pos").as("neg_pos"), col("id").as("neg_id")),
        Seq("neg_pos"))
      // a draw landing on either anchor is skipped (not resampled): the
      // triple row disappears deterministically in both engines
      .filter(col("neg_id") =!= col("id_a") && col("neg_id") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), col("neg_rank").cast("int").as("neg_rank"),
        col("neg_id"))
  }

  /** Sorted-neighborhood dedup (the classic SNM blocking discipline): rank
    * every document in one global (text-prefix, id) sort order, compare
    * each doc only to its `window` successors in that order, and verify
    * candidates with exact distinct-shingle Jaccard. Candidate count is
    * EXACTLY n*w — linear in the corpus for fixed w — regardless of how
    * skewed the content is, which is SNM's advantage over inverted-index
    * blocking (no posting list to cap). The global rank is computed the
    * scale-safe way: RDD `sortBy` (range-partition + per-partition sort) +
    * `zipWithIndex` (one extra lightweight job for partition offsets) —
    * NOT `row_number() OVER (ORDER BY text)`, which funnels the corpus
    * through a single partition. Crucially the sort key is a FIXED-WIDTH
    * key — the first `keyLen` characters of the text plus the id as the
    * tiebreak — not the whole document: SNM blocking only needs near-equal
    * texts to land adjacent in rank, and a 64-char prefix gives the same
    * neighborhoods while the range shuffle carries O(n * (keyLen + 8))
    * bytes instead of the entire corpus (sortBy additionally SAMPLES its
    * input for range boundaries, so a full-text key would scan the corpus
    * bytes twice). Neighbor pairing is then an equi-join on rank+offset,
    * shuffle-keyed by rank. Sort order is binary/codepoint lexicographic
    * on the prefix (engines agree on ASCII; pick an explicit normalization
    * for general unicode). Output: (id_a < id_b, jaccard) for
    * window-adjacent pairs with Jaccard >= minJaccard.
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, textCol: String,
                              window: Int = 10, shingleLen: Int = 3,
                              minJaccard: Double = 0.3, keyLen: Int = 64): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(keyLen >= 1, "keyLen must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df.select(substring(col(textCol), 1, keyLen).as("pfx"),
      col(idCol).cast("long").as("id"))
    val ranked = keyed.as[(String, Long)].rdd
      .sortBy(identity)
      .zipWithIndex()
      .map { case ((_, id), rn) => (id, rn) }
      .toDF("id", "rn")
    val offs = ranked.withColumn("off",
        explode(sequence(lit(1), lit(window))))
      .select(col("id").as("id_x"), (col("rn") + col("off")).as("rn"))
    val cand = offs.join(ranked.select(col("id").as("id_y"), col("rn")), Seq("rn"))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
    jaccardAtLeast(verifiedOverlaps(cand,
      shingleSets(df, col(idCol).cast("long"), textCol, shingleLen)), minJaccard)
  }

  /** Cross-source duplicate-overlap estimation via theta-sketch (KMV)
    * intersection: each group keeps only its k smallest 32-bit fingerprint
    * hashes (the KMV sketch — k rows per group at rest, independent of
    * group size), and a pair's overlap estimate is
    * |common hashes below theta| * 2^32 DIV theta with
    * theta = min(theta_a, theta_b) (a group's theta is its k-th minimum, or
    * 2^32 when the whole group fits in the sketch — then the estimate is
    * exact). This is the sketch-algebra sibling of the cardinality sketch:
    * pairwise overlap across G groups costs G*k sketch rows joined on hash
    * value, never a cross-group document join — the shape for auditing
    * duplicate flow between corpus snapshots at 100 TB. Output per (a < b)
    * pair: n_common (observed below theta), theta_q, est_overlap.
    */
  def sourceOverlapSketch(df: DataFrame, groupCol: String, textCol: String,
                          k: Int = 32): DataFrame = {
    require(k >= 1, "sketch size must be positive")
    val M = 4294967296L // 2^32, the hash range
    val h = df.select(col(groupCol).as("g"),
        expr(s"CAST(conv(substring(md5(lower(trim($textCol))), 1, 8), 16, 10) AS BIGINT)").as("h"))
      .distinct() // KMV is over distinct fingerprint values per group
    val ranked = h.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("g").orderBy("h")))
    val sketch = ranked.filter(col("rn") <= k).localCheckpointCapped()
    val theta = sketch.groupBy("g")
      .agg(count(lit(1)).as("n"), max(col("h")).as("mx"))
      .select(col("g"),
        when(col("n") >= k, col("mx")).otherwise(lit(M)).as("theta"))
    val pairs = theta.select(col("g").as("ga"), col("theta").as("ta"))
      .join(theta.select(col("g").as("gb"), col("theta").as("tb")),
        col("ga") < col("gb"))
      .select(col("ga"), col("gb"), least(col("ta"), col("tb")).as("theta_q"))
    val common = sketch.select(col("g").as("ga"), col("h"))
      .join(sketch.select(col("g").as("gb"), col("h")), Seq("h"))
      .filter(col("ga") < col("gb"))
      .groupBy("ga", "gb").agg(collect_list(col("h")).as("hs"))
    // guard the no-common-hash case with an explicit isNull branch, not
    // coalesce(size(...)): under legacy sizeOfNull (ANSI off) size(NULL)
    // is -1, not NULL, and the coalesce would silently pass -1 through —
    // this form is config-independent
    pairs.join(common, Seq("ga", "gb"), "left_outer")
      .select(col("ga").as("src_a"), col("gb").as("src_b"), col("theta_q"),
        when(col("hs").isNull, lit(0L))
          .otherwise(size(filter(col("hs"), x => x < col("theta_q"))))
          .cast("long").as("n_common"))
      .selectExpr("src_a", "src_b", "theta_q", "n_common",
        "CAST(n_common * 4294967296 DIV theta_q AS BIGINT) AS est_overlap")
  }
}
