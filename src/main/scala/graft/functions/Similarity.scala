package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftext.CappedCheckpoint._
import org.apache.spark.sql.graftext.ExpressionColumns

/** Approximate-nearest-neighbor search over an `ARRAY<FLOAT>` embedding
  * column. Brute-force cosine top-k is the exactness baseline (quadratic in
  * candidate count — fine when the query set is small or within a coarse
  * partition); the scale paths bound the candidate set first:
  *
  *  - signLshBucket: random-hyperplane-style sign bucket on leading
  *    dimensions — one narrow shuffle key; neighbors searched per bucket
  *  - IVF-style: a coarse cluster id column (here the precomputed `label`)
  *    partitions the search so each query only scans its own cell
  *
  * Determinism: dot products accumulate in DECIMAL (exact, order-independent)
  * and convert to DOUBLE only in the final scalar expression, so results are
  * bit-identical across engines and partitionings — no floating-point
  * sum-order sensitivity at any scale.
  */
object Similarity {

  /** Quantization scale: embedding floats become `floor(x * 1e7)` longs.
    * Deterministic in any engine (floor of identical doubles) and exact from
    * there on — integer dot products commute, so the result is independent of
    * evaluation order and partitioning. The scale cancels in cosine; the
    * ~1e-7 per-element quantization error bounds the cosine error at ~1e-6
    * (outputs are rounded to 6 decimals).
    */
  val QuantScale = 1e7

  /** Default multi-probe width for the KMV cell channel. Chosen on the
    * oracle-gated q_cell_recall audit (round 12 grid over probe x cell
    * count): probe=4 reaches 88% recall at sf0.01 / ~75% at sf0.1 with a
    * candidate set still n^1.5-shaped (probe^2 * n^1.5 / sqrt-cells);
    * probe=2 measured 59%/37% — too lossy for the production channel.
    */
  val CellProbe = 4

  /** Scaled-long copy of a float vector — compute ONCE per row, then every
    * pairwise dot is pure long arithmetic (no per-pair decimal boxing).
    */
  def quantize(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * lit(QuantScale)).cast("long"))

  /** Exact integer dot product of two quantized vectors: the codegen'd
    * [[LongDot]] expression, built directly, so it resolves in any session
    * without registration.
    */
  def dotLong(a: Column, b: Column): Column =
    ExpressionColumns.column(LongDot(ExpressionColumns.expression(a),
      ExpressionColumns.expression(b)))

  /** Cosine from a precomputed quantized-pair + squared norms, zero-norm
    * safe EVERYWHERE (round-15 verdict #4 unification): a zero-norm vector
    * matches nothing, so its similarity is defined as 0 — deterministic,
    * never NaN/Infinity. Zero norms are real inputs, not a corner case:
    * residual vectors CAN be exactly zero (a singleton coarse cell's
    * member IS its centroid), and a user corpus can carry a zero (or
    * sub-quantization-scale) embedding; before the unification the
    * coarse/flat ranks produced NaN sims there, and NaN sorts ABOVE every
    * real sim in a descending Spark order — a zero vector would have
    * polluted every probe rank it touched. All gated corpora have strictly
    * positive norms, so every oracle output is bit-unchanged (the DuckDB
    * mirrors' unguarded divisions agree wherever norms are nonzero).
    */
  private def cosineFrom(dot: Column, n2a: Column, n2b: Column): Column =
    when(n2a === 0 || n2b === 0, lit(0.0))
      .otherwise(dot.cast("double") /
        (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double"))))

  /** Cosine similarity of two float vectors (convenience form; for bulk
    * workloads use the precomputed-quantized path the operators below take).
    */
  def cosine(a: Column, b: Column): Column = {
    val (qa, qb) = (quantize(a), quantize(b))
    cosineFrom(dotLong(qa, qb), dotLong(qa, qa), dotLong(qb, qb))
  }

  /** (id, qv, extra..., n2): quantized vector + squared norm, computed once
    * per row — the one corpus builder every operator starts from. Callers
    * add their own barrier ([[quantized]]'s repartition or a checkpoint).
    */
  private def quantizedRows(df: DataFrame, idCol: String, vecCol: String,
                            extra: Column*): DataFrame =
    df.select(col(idCol).as("id") +: quantize(col(vecCol)).as("qv") +: extra: _*)
      .withColumn("n2", dotLong(col("qv"), col("qv")))

  /** [[quantizedRows]] behind a repartition on id. The repartition is a
    * deliberate materialization barrier: without it Catalyst collapses the
    * quantize projection into the downstream (nested-loop) pair join and
    * re-evaluates it per PAIR instead of per row (measured: 640s -> seconds
    * at 125k pairs). An exchange boundary forces the projection to run
    * exactly once per input row — and is exactly the layout a cluster run
    * wants anyway.
    */
  private def quantized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    quantizedRows(df, idCol, vecCol).repartition(col("id"))

  /** One end of a scored pair: `q`'s (id, qv, n2) as (`key`, v`s`, n`s`),
    * plus the `keep` columns after the key. [[pairSim]] reads ends "a" and
    * "b".
    */
  private def pairEnd(q: DataFrame, key: String, s: String, keep: String*): DataFrame =
    q.select((col("id").as(key) +: keep.map(col)) ++
      Seq(col("qv").as("v" + s), col("n2").as("n" + s)): _*)

  /** Exact cosine between the "a" and "b" [[pairEnd]]s of a joined pair. */
  private def pairSim: Column = cosineFrom(dotLong(col("va"), col("vb")), col("na"), col("nb"))

  /** The pair scorer: (`a`, `b`, sim) for each candidate pair of `cand`,
    * end `a`'s vector joined from `qa` and end `b`'s from `qb` on their
    * ids. `cand` must hold each pair once: a duplicate is scored, and
    * ranked, twice.
    */
  private def scorePairs(cand: DataFrame, qa: DataFrame, qb: DataFrame,
                         a: String = "qid", b: String = "nid"): DataFrame =
    cand.join(pairEnd(qa, a, "a"), Seq(a)).join(pairEnd(qb, b, "b"), Seq(b))
      .select(col(a), col(b), pairSim.as("sim"))

  /** All sign-band buckets of a vector: array of (band, bucket) structs,
    * band b covering dims [b*bits, (b+1)*bits). The banded (OR-amplified)
    * form of `signLshBucket`: two vectors are candidates when ANY band's
    * bucket matches, which preserves recall where a single wide bucket
    * would not. Deterministic, engine-portable (mirrored in DuckDB oracles).
    */
  def signLshBandBuckets(vec: Column, numBands: Int, bits: Int): Column =
    transform(sequence(lit(0), lit(numBands - 1)), b =>
      struct(
        b.cast("int").as("band"),
        aggregate(
          transform(sequence(lit(1), lit(bits)),
            j => when(get(vec, b * bits + j - 1) > 0f,
              pow(lit(2), j.cast("double") - 1).cast("long")).otherwise(lit(0L))),
          lit(0L), (acc, v) => acc + v).as("bucket")))

  /** Near-duplicate pairs (a < b) with exact cosine >= minSim, candidates
    * generated by banded sign-LSH: only ids sharing at least one
    * (band, bucket) are ever scored, and within each (band, bucket) only
    * pairs within `window` positions of a per-band deterministic shuffle
    * (rank by md5(band:id) — the sorted-neighborhood bound applied inside
    * LSH buckets). The window is what makes a CONSTANT band geometry safe
    * at scale: without it a random pair still collides in some band with
    * probability ~1-(1-2^-bits)^bands (~64% at 16 bands x 4 bits), i.e. a
    * constant fraction of the n^2 pair space (measured 72x at 10x corpus,
    * SCALE.md round 9); with it each member pairs with at most `window`
    * bucket-mates per band, so candidates are <= bands * window * n —
    * LINEAR in the corpus. The price is recall inside oversized buckets:
    * a pair in a bucket of size s survives a band with prob ~2w/s, but
    * each band shuffles independently, so a pair co-bucketed in all 16
    * bands (near-identical vectors) is found with prob
    * 1-(1-2w/s)^bands — >99% up to s ~ 30*window. Truncation is audited,
    * not silent: [[signLshBucketAudit]] counts oversized buckets and the
    * rows in them, and the q_lsh_recall gate measures the realized recall
    * against the exact pair set. [[cellScopedNearDupPairs]] remains the
    * production channel for moderate-threshold semantic near-dup;
    * [[cosineNearDupPairsExact]] is the exhaustive baseline.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         minSim: Double, numBands: Int = 16,
                         bandBits: Int = 4, window: Int = 8): DataFrame = {
    require(window >= 1, "window must be >= 1")
    // quantized vectors + band buckets feed three subtrees (both candidate
    // sides and both vector joins) — materialize once
    val q = quantizedRows(df, idCol, vecCol,
        signLshBandBuckets(col(vecCol), numBands, bandBits).as("bb"))
      .repartition(col("id"))
      .localCheckpointCapped()
    val ranked = lshRanked(q)
    val cand = ranked.as("x").join(ranked.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("y.rk") > col("x.rk") && col("y.rk") <= col("x.rk") + window)
      .select(least(col("x.id"), col("y.id")).as("id_a"),
        greatest(col("x.id"), col("y.id")).as("id_b")).distinct()
    nearDupAbove(cand, q, minSim)
  }

  /** Candidate pairs (id_a, id_b) scored against `q`, kept at cosine >=
    * minSim, sim rounded to 6 decimals.
    */
  private def nearDupAbove(cand: DataFrame, q: DataFrame, minSim: Double): DataFrame =
    scorePairs(cand, q, q, "id_a", "id_b")
      .filter(col("sim") >= minSim)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))

  /** (id, band, bucket, rk): exploded band buckets with the per-band
    * deterministic shuffle rank — rk orders bucket members by
    * (md5(band:id), id), an independent permutation per band, which is
    * what gives the window bound its multi-band recall.
    */
  private def lshRanked(q: DataFrame): DataFrame =
    q.select(col("id"), explode(col("bb")).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("band", "bucket").orderBy(
          md5(concat(col("band").cast("string"), lit(":"),
            col("id").cast("string"))), col("id"))))

  /** Truncation audit for the windowed sign-LSH channel: per band, how many
    * buckets exceed the pairing window (their members pair with only
    * `window` of their bucket-mates per band) and how many rows sit in
    * them — the skipped-work ledger that keeps the linear candidate bound
    * honest instead of silently lossy. All-integer output.
    */
  def signLshBucketAudit(df: DataFrame, idCol: String, vecCol: String,
                         numBands: Int = 16, bandBits: Int = 4,
                         window: Int = 8): DataFrame = {
    val sides = df.select(col(idCol).as("id"),
        explode(signLshBandBuckets(col(vecCol), numBands, bandBits)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    sides.groupBy("band", "bucket").agg(count(lit(1)).as("bsz"))
      .groupBy("band").agg(
        count(lit(1)).as("n_buckets"),
        max(col("bsz")).as("max_bucket"),
        sum(when(col("bsz") > window + 1, 1L).otherwise(0L)).as("n_truncated"),
        sum(when(col("bsz") > window + 1, col("bsz")).otherwise(0L))
          .as("rows_in_truncated"))
      .select(col("band"), col("n_buckets"), col("max_bucket"),
        col("n_truncated"), col("rows_in_truncated"))
  }

  /** Exact near-dup pairs restricted to pairs with at least one ANCHOR
    * endpoint (id % max(1, n div anchorCap) == 0) — the sample-bounded
    * recall denominator for auditing an approximate near-dup channel, the
    * same discipline as [[mutualKnnEdgesAnchored]]: one broadcast
    * crossJoin of the ~anchorCap anchor table against the corpus, so the
    * exact scoring is O(anchorCap * n) — LINEAR — where the all-pairs
    * denominator is n^2 (measured: the q_lsh_recall audit's exact side
    * alone ran >6 min at the 10x corpus before this). An emitted pair
    * carries the same exact cosine the full scorer gives it, so
    * semi-joining a channel's pairs against this measures true pair
    * recall on the anchored stratum. Output: (id_a < id_b, sim) DISTINCT
    * (a both-anchor pair is seen from each side; the cosine is
    * bit-identical either way).
    */
  /** Loud guard for modulus-selected audit strata: on a sparse or
    * structured id space `id % m == 0` can select far fewer rows than the
    * cap intends, silently thinning the audited corpus and every recall
    * denominator built on it. One bounded count against the checkpointed
    * frame; throws instead of auditing a thin stratum (the dense
    * driver-generated ids realize cap..2*cap, far above the half-cap bar).
    */
  def assertStratum(realized: Long, n: Long, cap: Long, what: String): Unit =
    require(realized * 2L >= math.min(n, cap),
      s"$what: modulus stratum realized $realized rows of ~${math.min(n, cap)} expected " +
        s"(n=$n, cap=$cap) — id space is not dense; select anchors by rank or raise the cap")

  def cosineNearDupPairsAnchored(df: DataFrame, idCol: String,
                                 vecCol: String, minSim: Double,
                                 anchorCap: Long = 128L): DataFrame = {
    require(anchorCap >= 1L, "anchorCap at least 1")
    val q = quantized(df, idCol, vecCol).localCheckpointCapped()
    val n = q.count()
    val m = math.max(1L, n / anchorCap)
    val anchors = pairEnd(q.filter(col("id") % m === 0), "aid", "a")
    assertStratum(anchors.count(), n, anchorCap, "cosineNearDupPairsAnchored")
    pairEnd(q, "bid", "b")
      .crossJoin(broadcast(anchors))
      .filter(col("aid") =!= col("bid"))
      .withColumn("sim", pairSim)
      .filter(col("sim") >= minSim)
      .select(least(col("aid"), col("bid")).as("id_a"),
        greatest(col("aid"), col("bid")).as("id_b"),
        round(col("sim"), 6).as("sim"))
      .distinct()
  }

  /** Exhaustive all-pairs near-dup (a < b, cosine >= minSim) — exact but
    * quadratic: a nested-loop join over the full corpus. Correctness
    * baseline / small-corpus escape hatch only; does not survive 100x data
    * (the gated audits feed it a capped id stratum or use
    * [[cosineNearDupPairsAnchored]]).
    */
  def cosineNearDupPairsExact(df: DataFrame, idCol: String, vecCol: String,
                              minSim: Double): DataFrame = {
    val q = quantized(df, idCol, vecCol)
    pairEnd(q, "id_a", "a").join(pairEnd(q, "id_b", "b"), col("id_a") < col("id_b"))
      .withColumn("sim", pairSim)
      .filter(col("sim") >= minSim)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** Cell-scoped near-duplicate pairs — the scale path for moderate-
    * threshold embedding near-dup, where banded sign-LSH keeps a constant
    * FRACTION of the pair space and therefore grows quadratically
    * (measured: the ensemble query's embedding channel ran 72x slower at
    * 10x corpus). The corpus partitions into ceil(sqrt(n)) cells around
    * KMV-chosen seed vectors (the rows with the smallest md5(id) —
    * deterministic and corpus-scaled, the same discipline as the
    * self-similarity sample); every vector joins its highest-cosine seed
    * (ties: min seed id); candidates are pairs within a cell, verified by
    * exact quantized cosine. Assignment is n*sqrt(n) codegen'd integer
    * dots against a broadcast seed table and the candidate space is
    * sum(cell_size^2) ~ n^1.5 — sub-quadratic BY CONSTRUCTION (single-
    * level IVF; a two-level seed tree lowers it to n^(4/3) if needed).
    * Cell-boundary pairs are missed: that recall/candidate tradeoff is
    * what every sub-quadratic method pays at thresholds this low (sign-LSH
    * rho ~ 0.67 at cos 0.4 means guaranteed-recall candidates cost
    * n^1.67 regardless of tuning).
    */
  def cellScopedNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                             minSim: Double, probe: Int = CellProbe): DataFrame = {
    val q = quantizedRows(df, idCol, vecCol).localCheckpointCapped()
    val asg = kmvAssignFromQuantized(q, probe).localCheckpointCapped()
    val cand = asg.as("a").join(asg.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct() // a pair may share more than one probed cell
    nearDupAbove(cand, q, minSim)
  }

  /** KMV-seeded cell assignment — the coarse quantizer behind
    * [[cellScopedNearDupPairs]] and the cluster column feeding
    * [[mutualKnnGraphIvf]]. The corpus chooses ceil(sqrt(n)) seed rows by
    * smallest md5(id) (deterministic and corpus-scaled — the KMV sampling
    * discipline); every vector joins its `probe` highest-cosine seeds
    * (ties: min seed id). Assignment is n*sqrt(n) codegen'd integer dots
    * against a broadcast seed table. Output: (id, cell) — `probe` rows per
    * id; at probe=1 this is a functional cell membership.
    */
  def kmvCellAssign(df: DataFrame, idCol: String, vecCol: String,
                    probe: Int = 1): DataFrame =
    kmvAssignFromQuantized(quantizedRows(df, idCol, vecCol).localCheckpointCapped(), probe)

  /** Assignment core over an already-quantized (id, qv, n2) frame, so
    * [[cellScopedNearDupPairs]] reuses its verification checkpoint.
    * `salt` > 0 derives an INDEPENDENT seed set (the KMV hash becomes
    * md5(id || "#salt")), which is what makes [[mutualKnnGraphKmv]]'s
    * multi-index union work: each index partitions the space around
    * different seed vectors, so a neighbor pair split by one index's cell
    * boundary is usually co-celled in another. salt = 0 is bit-identical
    * to the historical single-index seeds.
    */
  private def kmvAssignFromQuantized(q: DataFrame, probe: Int,
                                     salt: Int = 0): DataFrame = {
    require(probe >= 1, "probe at least the nearest cell")
    // multi-probe: each vector lists its `probe` nearest cells, so pairs
    // split by one cell boundary are still candidates via the second cell
    // (candidate space scales by ~probe^2 — still n^1.5 in shape)
    nearestCells(q, sqrtSeeds(q, if (salt == 0) "" else "#" + salt), probe)
  }

  /** The KMV seed draw: the `k` rows of `q` (id, qv, n2) with the smallest
    * (md5(id || salt), id), as a broadcastable (sid, cv, cn2) table — each
    * seed is the center of its cell.
    */
  private def kmvSeeds(q: DataFrame, k: Int, salt: String = ""): DataFrame = {
    val key = if (salt.isEmpty) col("id").cast("string")
      else concat(col("id").cast("string"), lit(salt))
    q.withColumn("m", md5(key))
      .orderBy("m", "id").limit(k) // distributed TakeOrdered, no global window
      .select(col("id").as("sid"), col("qv").as("cv"), col("n2").as("cn2"))
  }

  /** [[kmvSeeds]] at ceil(sqrt(n)) seeds: the count scales with the corpus
    * (one cheap count on the checkpoint).
    */
  private def sqrtSeeds(q: DataFrame, salt: String = ""): DataFrame =
    kmvSeeds(q, math.max(1, math.ceil(math.sqrt(q.count().toDouble)).toInt), salt)

  /** The nearest-k ranker: every row of `rows` (key, qv, n2, ...) against
    * the broadcast centroid table `cents` (tid, cv, cn2), keeping its `p`
    * highest-cosine entries (ties: smaller tid) as rank `rn`. Codegen'd
    * integer dots, map-side; one window per row key.
    */
  private def nearestK(rows: DataFrame, key: String, cents: DataFrame,
                       tid: String, p: Int): DataFrame =
    rows.crossJoin(broadcast(cents))
      .withColumn("csim", cosineFrom(dotLong(col("qv"), col("cv")), col("n2"), col("cn2")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(key).orderBy(desc("csim"), asc(tid))))
      .filter(col("rn") <= p)

  /** (id, cell): each row of `q` in its `p` nearest seed cells. */
  private def nearestCells(q: DataFrame, seeds: DataFrame, p: Int): DataFrame =
    nearestK(q, "id", seeds, "sid", p).select(col("id"), col("sid").as("cell"))

  /** Salted two-phase top-k over a scored (query_id, neighbor_id, sim)
    * frame: a partial top-k inside (query_id, neighbor_id % SaltWidth)
    * buckets, then the final top-k over the surviving
    * queries x SaltWidth x k rows. The OUTPUT is bit-identical to the
    * single-window form (row_number over the total order (sim DESC,
    * neighbor_id) commutes with this split), but the heavy first shuffle
    * keys on queries x SaltWidth partitions instead of bare query_id —
    * the fix for the bounded-query-set audits (anchored recall, bitext
    * brute force), whose ~128 query keys would otherwise cap the whole
    * scan's parallelism at 128 tasks on a 1000-executor cluster and hand
    * each task a full corpus-sized partition.
    */
  private val SaltWidth = 32

  private def topKByQuery(scored: DataFrame, k: Int): DataFrame = {
    val partial = rankTopK(
        scored.withColumn("salt", pmod(col("neighbor_id"), lit(SaltWidth))),
        k, "neighbor_id", "query_id", "salt")
      .drop("salt", "rank")
    rankTopK(partial, k, "neighbor_id", "query_id")
  }

  /** Rows of a scored frame ranked `rank` by (sim desc, `nbr`) within each
    * `by` group; the top k kept.
    */
  private def rankTopK(scored: DataFrame, k: Int, nbr: String, by: String*): DataFrame =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(by.map(col): _*).orderBy(desc("sim"), asc(nbr))))
      .filter(col("rank") <= k)

  /** Brute-force cosine top-k: for each query row, the k nearest candidates
    * (self excluded), ranked desc by similarity with id tie-break. The
    * per-query ranking is the salted two-phase [[topKByQuery]], so a small
    * query set cannot bottleneck the shuffle on its few keys.
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val scored = pairEnd(quantized(queries, idCol, vecCol), "query_id", "a")
      .join(pairEnd(quantized(candidates, idCol, vecCol), "neighbor_id", "b"),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), pairSim.as("sim"))
    topKByQuery(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim"), 6).as("sim"))
  }

  /** Cross-set cosine similarity join with ratio-margin filtering — the
    * bitext-mining / corpus-alignment primitive (Artetxe & Schwenk margin
    * criterion, the CCMatrix/LASER pipeline shape): for every QUERY vector,
    * its k nearest CANDIDATE vectors are searched only inside the query's
    * `nprobe` nearest candidate cells, and the best match survives iff its
    * ratio margin over the query's top-m mean clears `marginPpmMin`.
    *
    * Index discipline: KMV seeds (ceil(sqrt(|candidates|)) smallest
    * md5(id)) are drawn FROM THE CANDIDATE SIDE and broadcast; candidates
    * join their `massign` nearest cells (multi-MEMBERSHIP — the same
    * recall repair as the clustering gate: a true match is found when ANY
    * of its cells is probed, so fixed-probe recall stops collapsing as
    * the sqrt(n) cell count grows; measured at sf0.1: best-match
    * agreement 61.9% at (nprobe=9, massign=1) vs 82.1% at (6, 3) for
    * 1.66x the candidates), queries probe `nprobe` cells — so the scoring
    * join is a cell EQUI-join with |queries| * nprobe * massign *
    * avg_cell_size candidates (~n^1.5 with sqrt-n cells, both factors
    * constants), never the |A| x |B| cross product. At massign > 1 a pair
    * can share several (probe, membership) cells, so candidate pairs are
    * made DISTINCT before scoring — a duplicate would occupy two top-m
    * ranks and corrupt the margin. Margin is integer-exact: per-pair
    * cosines are floored
    * to ppm (`cos_q`), and margin_ppm = cos_best_q * m * 1e6 div
    * sum(cos_q over the top-m), m = min(k, candidates found) — always
    * >= 1e6 when the query found anything, = 1e6 when the top-m are
    * indistinguishable, larger the more the best match stands out (the
    * signal the margin criterion mines for). Queries whose best cosine is
    * <= 0 emit nothing.
    *
    * Output: (query_id, match_id, cos_q, margin_ppm), one row per query
    * that clears the bar. Like every fixed-probe IVF plan, a true match
    * outside the probed cells is missed — audit recall with a
    * `q_cell_recall`-style row rather than assuming it.
    */
  def marginMinedPairs(queries: DataFrame, candidates: DataFrame,
                       idCol: String, vecCol: String, k: Int = 4,
                       nprobe: Int = 3,
                       marginPpmMin: Long = 1000000L,
                       massign: Int = 1): DataFrame = {
    require(k >= 1, "k at least 1")
    require(nprobe >= 1, "nprobe at least 1")
    require(massign >= 1, "massign at least the nearest cell")
    val qq = quantizedRows(queries, idCol, vecCol).localCheckpointCapped()
    val qc = quantizedRows(candidates, idCol, vecCol).localCheckpointCapped()
    val seeds = sqrtSeeds(qc)
    val pairs0 = nearestCells(qq, seeds, nprobe).select(col("id").as("qid"), col("cell"))
      .join(nearestCells(qc, seeds, massign).select(col("id").as("nid"), col("cell")),
        Seq("cell"))
      .select(col("qid"), col("nid"))
    // functional membership (massign=1) yields each pair at most once; a
    // multi-membership pair can collide in several cells and MUST dedup
    // before scoring or duplicates occupy top-m ranks in the margin
    val pairs = if (massign == 1) pairs0 else pairs0.distinct()
    val scored = scorePairs(pairs, qq, qc)
      .select(col("qid"), col("nid"), floor(col("sim") * 1000000d).cast("long").as("cos_q"))
    val w = Window.partitionBy("qid").orderBy(desc("cos_q"), asc("nid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .groupBy("qid")
      .agg(max(when(col("rank") === 1, col("nid"))).as("match_id"),
        max(when(col("rank") === 1, col("cos_q"))).as("cos_q"),
        count(lit(1)).as("m"), sum("cos_q").as("cs"))
      .filter(col("cos_q") > 0 && col("cs") > 0)
      .withColumn("margin_ppm", expr("cos_q * m * 1000000L div cs"))
      .filter(col("margin_ppm") >= marginPpmMin)
      .select(col("qid").as("query_id"), col("match_id"), col("cos_q"),
        col("margin_ppm"))
  }

  /** Mutual-kNN graph: the symmetric graph whose edges are pairs that each
    * list the other in their cosine top-k — the standard noise-robust
    * similarity graph for embedding-space clustering and semantic dedup.
    * This exact variant scores all pairs — the correctness baseline and
    * recall oracle ONLY; the production path is [[mutualKnnGraphIvf]],
    * which generates candidates from the IVF multi-probe index and keeps
    * the identical mutual semi-join. Output: (vec_a < vec_b, cos_q at
    * 1e6); ranking ties break by neighbor id, so the graph is
    * deterministic.
    */
  def mutualKnnGraph(df: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    val q = quantized(df, idCol, vecCol)
    mutualFromScored(pairEnd(q, "qid", "a").join(pairEnd(q, "nid", "b"), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), pairSim.as("sim")), k)
  }

  /** Mutual-kNN graph over IVF multi-probe candidates — the scale path for
    * embedding-space clustering. Each vector's k nearest neighbors are
    * searched ONLY among vectors in its `nprobe` nearest cells (by exact
    * integer centroid cosine, cell-id tie-break — the `ivfTopKProbe`
    * probe), then the same mutual semi-join as [[mutualKnnGraph]] keeps
    * pairs that each rank the other. NO join in the plan conditions on
    * id inequality alone: the candidate join is an equi-join on the
    * probed cell, so candidate count is n * nprobe * avg_cell_size — with
    * ~sqrt(n) trained cells (see `kmeansAssign`) that is O(n^1.5), vs the
    * exact variant's n^2. Vectors whose true neighbors all sit outside
    * the probed cells lose those edges — the recall tradeoff every IVF
    * index pays; gate it with the mutual-edge recall audit (the
    * `q_cell_recall` pattern) rather than asserting it.
    * Output: (vec_a < vec_b, cos_q at 1e6), identical schema and
    * tie-break discipline to the exact variant.
    */
  def mutualKnnGraphIvf(df: DataFrame, idCol: String, vecCol: String,
                        clusterCol: String, k: Int, nprobe: Int): DataFrame =
    mutualFromScored(ivfProbedScored(df, idCol, vecCol, clusterCol, nprobe), k)

  /** Top-k by (sim desc, nid) per query over a scored (qid, nid, sim)
    * frame, then the mutual semi-join — the shared tail of every
    * mutual-kNN builder, so exact/IVF/fused variants cannot drift on
    * tie-break or edge-orientation discipline.
    */
  private def mutualFromScored(scored: DataFrame, k: Int): DataFrame = {
    val topk = rankTopK(scored, k, "nid", "qid").select(col("qid"), col("nid"), col("sim"))
    val rev = topk.select(col("nid").as("qid"), col("qid").as("nid"))
    topk.join(rev, Seq("qid", "nid"), "left_semi")
      .filter(col("qid") < col("nid"))
      .select(col("qid").as("vec_a"), col("nid").as("vec_b"),
        floor(col("sim") * 1000000).cast("long").as("cos_q"))
  }

  /** Matryoshka truncation recall: how much of each query's exact cosine
    * top-k survives when vectors are truncated to their first `dims`
    * dimensions (the Matryoshka-representation question — can the cheap
    * prefix sub-embedding drive retrieval, with full vectors kept only for
    * re-ranking?). Computes the exact top-k twice — full vectors and
    * `slice(vec, 1, dims)` — and reports the per-query overlap and its
    * ppm recall. Both rankings use the same quantized-integer dot
    * (order-independent, engine-exact) with id tie-breaks, so the measure
    * is deterministic. At scale the truncated pass is the point: it scans
    * `dims/64` of the bytes and its index (IVF over truncated vectors)
    * is proportionally cheaper.
    */
  def matryoshkaRecall(queries: DataFrame, candidates: DataFrame,
                       idCol: String, vecCol: String,
                       dims: Int, k: Int): DataFrame = {
    val full = bruteForceTopK(queries, candidates, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val trunc = bruteForceTopK(
        queries.withColumn(vecCol, slice(col(vecCol), 1, dims)),
        candidates.withColumn(vecCol, slice(col(vecCol), 1, dims)),
        idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = full.join(trunc, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
    full.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("recall_ppm", col("n_overlap") * 1000000L / lit(k.toLong))
      .withColumn("recall_ppm", col("recall_ppm").cast("long"))
  }

  /** Sign-LSH bucket over the first `bits` dimensions: bit j set iff
    * vec[j] > 0. A cheap hyperplane family whose planes are the coordinate
    * axes — deterministic and engine-portable. 2^bits buckets.
    */
  def signLshBucket(vec: Column, bits: Int = 8): Column =
    aggregate(
      transform(sequence(lit(1), lit(bits)),
        j => when(get(vec, j - 1) > 0f,
          pow(lit(2), j.cast("double") - 1).cast("long")).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)

  /** LSH-bucketed ANN: top-k within each query's sign bucket only. One
    * shuffle on the bucket id; per-bucket candidate sets are ~n/2^bits.
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
              k: Int, bits: Int = 8): DataFrame =
    bucketTopK(quantizedRows(df, idCol, vecCol, signLshBucket(col(vecCol), bits).as("bucket")),
      "bucket", k)

  /** The bucket top-k behind [[lshTopK]] and [[ivfTopK]]: each row of `b`
    * (id, qv, `key`, n2) ranks the other rows sharing its `key` by
    * (sim desc, neighbor id). One shuffle on the key. Output:
    * (query_id, `key`, neighbor_id, rank).
    */
  private def bucketTopK(b: DataFrame, key: String, k: Int): DataFrame = {
    val scored = b.as("q").join(b.as("c"),
        col(s"q.$key") === col(s"c.$key") && col("q.id") =!= col("c.id"))
      .select(col("q.id").as("query_id"), col(s"q.$key").as(key), col("c.id").as("neighbor_id"),
        cosineFrom(dotLong(col("q.qv"), col("c.qv")), col("q.n2"), col("c.n2")).as("sim"))
    rankTopK(scored, k, "neighbor_id", "query_id")
      .select(col("query_id"), col(key), col("neighbor_id"), col("rank"))
  }

  /** Recall@k of the sign-LSH ANN against the exact top-k on a
    * deterministic query sample (id % sampleMod == 0) — the standard
    * retrieval-quality gauge for an approximate index. Per sampled query:
    * the exact neighbor count (<= k when few candidates exist), the number
    * the LSH path recovered, and recall quantized at 1e6. The exact side
    * scans sample x corpus (cost bounded by the sample rate, never the full
    * n^2 pair space); the approximate side is the bucket-joined `lshTopK`.
    */
  def annRecall(df: DataFrame, idCol: String, vecCol: String,
                k: Int, bits: Int = 8, sampleMod: Int = 50): DataFrame = {
    val queries = df.filter(col(idCol) % sampleMod === 0)
    val exact = bruteForceTopK(queries, df, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = lshTopK(df, idCol, vecCol, k, bits)
      .filter(col("query_id") % sampleMod === 0)
      .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
    val hits = exact.join(approx,
        col("query_id") === col("aq") && col("neighbor_id") === col("an"),
        "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall_q", expr("n_hit * 1000000 div n_exact"))
  }

  /** Per-cell centroids of the quantized embeddings — the E-step that
    * (re)trains the IVF coarse quantizer, and the summary a cell-pruned ANN
    * probe ranks against. Relational output (cell, i, centroid_q): one
    * narrow explode + one aggregation shuffle on (cell, dim); integer-exact
    * (decimal sum + integral division), so centroids are identical at any
    * parallelism. `i` is 1-based to match the oracle's generate_series.
    */
  def ivfCentroids(df: DataFrame, vecCol: String, cellCol: String): DataFrame =
    df.select(col(cellCol).as("cell"),
        posexplode(quantize(col(vecCol))).as(Seq("pos", "x")))
      .select(col("cell"), (col("pos") + 1).as("i"), col("x"))
      .groupBy("cell", "i")
      .agg(sum(col("x").cast("decimal(38,0)")).as("sx"), count(lit(1)).as("n"))
      .selectExpr("cell", "i", "CAST(sx DIV n AS BIGINT) AS centroid_q")

  /** Per-cell residual (quantization-error) energy of an IVF layout: for
    * each cell, the summed squared distance between member vectors and the
    * integer centroid `ivfCentroids` produces — the training diagnostic
    * that decides when a coarse quantizer needs more cells or re-training.
    * Exact: quantized coordinates minus integer centroids, squared into
    * DECIMAL(38,0), reported as the per-vector mean (integral division) so
    * the output stays BIGINT in any engine. One posexplode + the centroid
    * aggregation + one (cell, dim) join that broadcasts (centroid table is
    * cells x dims — tiny at any corpus scale).
    */
  def ivfResidualEnergy(df: DataFrame, vecCol: String, cellCol: String):
      DataFrame = {
    val u = df.select(col(cellCol).as("cell"),
        posexplode(quantize(col(vecCol))).as(Seq("pos", "x")))
      .select(col("cell"), (col("pos") + 1).as("i"), col("x"))
    val cents = ivfCentroids(df, vecCol, cellCol)
    val nv = df.groupBy(col(cellCol).as("cell")).agg(count(lit(1)).as("n_vectors"))
    u.join(broadcast(cents), Seq("cell", "i"))
      .select(col("cell"),
        ((col("x") - col("centroid_q")) * (col("x") - col("centroid_q")))
          .cast("decimal(38,0)").as("r2"))
      .groupBy("cell").agg(sum("r2").as("e"))
      .join(nv, Seq("cell"))
      .selectExpr("cell", "n_vectors",
        "CAST(e DIV n_vectors AS BIGINT) AS mean_resid_q")
  }

  /** Multi-probe IVF ANN: each query searches its own cell AND the
    * next-nearest cells by centroid cosine, `nprobe` cells in total — the
    * standard recall repair for queries near a cell boundary, at
    * nprobe/1 times single-probe cost instead of the full scan. The
    * centroid table is tiny (cells x dims) and broadcast; candidate search
    * shuffles on the probed cell exactly like `ivfTopK`. Centroids,
    * dots, and norms are integer-exact, so the cell ranking (double
    * division of exact longs, cell-id tie-break) is engine-identical.
    */
  def ivfTopKProbe(df: DataFrame, idCol: String, vecCol: String,
                   clusterCol: String, k: Int, nprobe: Int): DataFrame = {
    val scored = ivfProbedScored(df, idCol, vecCol, clusterCol, nprobe)
      .select(col("qid").as("query_id"), col("nid").as("neighbor_id"), col("sim"))
    rankTopK(scored, k, "neighbor_id", "query_id")
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Shared IVF multi-probe candidate generation + exact scoring — the one
    * implementation behind [[ivfTopKProbe]] and [[mutualKnnGraphIvf]] (a
    * probe-logic fix lands in both). Each query ranks the broadcast
    * integer-centroid table (`ivfCentroids`) by exact quantized cosine
    * (cell-id tie-break), keeps its `nprobe` nearest cells, and is scored
    * against every vector in those cells via the cell equi-join — NO join
    * conditions on id inequality alone, so candidates are
    * n * nprobe * avg_cell_size, not n^2. Each neighbor id has exactly one
    * cell and probed cells per query are distinct, so the equi-join yields
    * each (qid, nid) at most once. Returns (qid, nid, sim), self excluded.
    */
  private def ivfProbedScored(df: DataFrame, idCol: String, vecCol: String,
                              clusterCol: String, nprobe: Int): DataFrame =
    ivfProbedScoredFromQuantized(
      quantizedRows(df, idCol, vecCol, col(clusterCol).as("cell")).localCheckpointCapped(),
      nprobe)

  /** The integer-centroid-array builder: (keys..., cv, cn2) from a frame
    * holding the `keys` and an integer vector column `vec` — each group's
    * centroid over every vector position as an array (`ivfCentroids`'
    * values: truncating DECIMAL division) and its squared norm. One
    * explode, one (keys, pos) aggregation, one per-group collect.
    */
  private def centroidArrays(q: DataFrame, vec: String, keys: String*): DataFrame =
    q.select(keys.map(col) :+ posexplode(col(vec)).as(Seq("pos", "x")): _*)
      .groupBy((keys :+ "pos").map(col): _*)
      .agg(sum(col("x").cast("decimal(38,0)")).as("sx"), count(lit(1)).as("cn"))
      .selectExpr(keys ++ Seq("pos", "CAST(sx DIV cn AS BIGINT) AS cq"): _*)
      .groupBy(keys.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cq")))),
        s => s.getField("cq")).as("cv"))
      .withColumn("cn2", dotLong(col("cv"), col("cv")))

  /** Probe + score core over a prepared `b(id, qv, n2, cell)` frame (one
    * row per id; `cell` functional). Centroids aggregate from `b`'s own
    * quantized vectors — qv IS quantize(vec), so the values are identical
    * to `ivfCentroids` on the raw column, without a second corpus scan.
    */
  private def ivfProbedScoredFromQuantized(b: DataFrame, nprobe: Int): DataFrame =
    probedCells(b, b, nprobe)
      .join(pairEnd(b, "qid", "a"), Seq("qid"))
      .join(pairEnd(b, "nid", "b", "cell"), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), pairSim.as("sim"))

  /** (qid, cell): each row of `q` (id, qv, n2) probes its `nprobe` nearest
    * cells of the broadcast centroid table trained on `memb` (id, qv, cell).
    */
  private def probedCells(q: DataFrame, memb: DataFrame, nprobe: Int): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    nearestK(q.select(col("id").as("qid"), col("qv"), col("n2")), "qid",
        centroidArrays(memb, "qv", "cell"), "cell", nprobe)
      .select(col("qid"), col("cell"))
  }

  /** Single-scan KMV -> IVF mutual-kNN graph — the fused form of
    * `kmvCellAssign` + [[mutualKnnGraphIvf]] the clustering gate runs. The
    * composed form quantizes the corpus THREE times (cell assignment, IVF
    * scoring, centroid training); this quantizes ONCE, checkpoints, and
    * derives cells, centroids, probes, and scores from that frame — on a
    * 100 TB corpus that is one scan instead of three. At `massign` = 1 the
    * semantics are bit-identical to the composed form (same KMV seeds,
    * same probe ranking, same mutual semi-join). `massign` > 1 assigns
    * every vector to its `massign` nearest cells (multi-MEMBERSHIP, the
    * [[cellScopedNearDupPairs]] recall repair applied to the clustering
    * index): an edge survives when ANY of the neighbor's cells is probed,
    * so recall stops collapsing as the sqrt(n) cell count outgrows a fixed
    * probe width — measured at sf0.1 (45 cells): strong-band mutual-edge
    * recall 38% at (nprobe=8, massign=1) vs 73% at (nprobe=6, massign=3)
    * for ~2x the candidates. Candidates stay n^1.5-SHAPED either way:
    * n * nprobe * massign * avg_cell_size with both factors constants
    * (the DISTINCT collapses shared-cell duplicates), never a probed
    * FRACTION of the n^2 pair space. `indexes` > 1 builds that many
    * INDEPENDENT KMV indexes (salted seed sets) and unions their
    * candidate pairs before a single scoring pass: per-index miss
    * probabilities multiply (union recall 1 - prod(1 - p_i)) at L x the
    * per-index candidate cost — the flatter growth law for the decades
    * where scaling (nprobe, massign) on one flat index stops paying.
    * Output: (vec_a < vec_b, cos_q at 1e6).
    */
  def mutualKnnGraphKmv(df: DataFrame, idCol: String, vecCol: String,
                        k: Int, nprobe: Int, massign: Int = 1,
                        indexes: Int = 1): DataFrame = {
    require(massign >= 1, "massign at least the nearest cell")
    require(indexes >= 1, "at least one index")
    val q = quantizedRows(df, idCol, vecCol).localCheckpointCapped()
    if (indexes == 1 && massign == 1) {
      val b = q.join(kmvAssignFromQuantized(q, probe = 1), Seq("id"))
      mutualFromScored(ivfProbedScoredFromQuantized(b, nprobe), k)
    } else if (indexes == 1) {
      val memb = kmvAssignFromQuantized(q, probe = massign)
      mutualFromScored(scorePairs(multiCandidatePairs(q, memb, nprobe), q, q), k)
    } else {
      // multi-index union: L INDEPENDENT KMV indexes (salted seed sets),
      // each probed at (nprobe, massign); candidate pairs union-DISTINCT
      // across indexes and are scored ONCE. Union recall is
      // 1 - prod(1 - p_i) at L x the per-index candidate cost — the
      // recorded next-decade answer to fixed-point decay: where the flat
      // auto-scaler must grow nprobe*massign ~ cells^0.9 to hold recall,
      // adding an index multiplies MISS probability instead (salt 0 is
      // the historical index, so the candidate set is a strict superset
      // of the single-index run and recall on true edges is monotone).
      val cand = (0 until indexes).map { i =>
        multiCandidatePairs(q,
          kmvAssignFromQuantized(q, probe = massign, salt = i), nprobe)
      }.reduce(_ unionByName _).distinct()
      mutualFromScored(scorePairs(cand, q, q), k)
    }
  }

  /** Multi-membership IVF candidate core: `q` is one row per id
    * (id, qv, n2); `memb` is (id, cell) with up to `massign` rows per id.
    * Centroids train over MEMBERSHIPS (each vector contributes to every
    * cell it joined — boundary vectors pull neighboring centroids toward
    * themselves, which is what makes the extra memberships pay); queries
    * rank the broadcast centroid table and keep their `nprobe` nearest
    * cells; candidates are DISTINCT (qid, nid) pairs sharing at least one
    * (probed cell, membership) — a cell EQUI-join, never an
    * id-inequality-only join, so candidates are bounded by
    * n * nprobe * massign * avg_cell_size. At massign = 1, scored through
    * [[scorePairs]], this returns exactly
    * [[ivfProbedScoredFromQuantized]]'s output (the DISTINCT is a no-op
    * there because cell membership is functional and probed cells per
    * query are distinct) — pinned by spec.
    */
  private def multiCandidatePairs(q: DataFrame, memb: DataFrame,
                                  nprobe: Int): DataFrame =
    probedCells(q, q.join(memb, Seq("id")), nprobe)
      .join(memb.select(col("id").as("nid"), col("cell")), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid")).distinct()

  /** Exact mutual-kNN edges restricted to pairs with at least one ANCHOR
    * endpoint — the sample-bounded recall denominator for auditing an
    * approximate mutual-kNN graph (the [[annRecall]] sampling discipline
    * applied to the clustering channel). Anchors are the deterministic id
    * stratum id % m == 0 with m = max(1, n div anchorCap), so the anchor
    * count is ~anchorCap at ANY corpus size and exact scoring is
    * O(anchorCap * n) — LINEAR in the corpus, never the full n^2 the
    * all-pairs denominator costs. Two passes: (1) exact top-k for every
    * anchor; (2) exact top-k for the anchors' neighbors — the only other
    * lists a mutual edge at an anchor can need. Both are broadcast
    * crossJoins of a bounded query table against the corpus: map-side
    * codegen'd long-dots, no shuffle before the per-query top-k window.
    * Output: (vec_a < vec_b, cos_q at 1e6), [[mutualKnnGraph]] discipline;
    * an emitted edge carries exactly the value the FULL exact graph gives
    * it (top-k lists are sample-independent), so semi-joining an
    * approximate graph against this measures true edge recall on the
    * anchored stratum.
    */
  def mutualKnnEdgesAnchored(df: DataFrame, idCol: String, vecCol: String,
                             k: Int, anchorCap: Long = 128L): DataFrame = {
    require(anchorCap >= 1L, "anchorCap at least 1")
    val q = quantized(df, idCol, vecCol).localCheckpointCapped()
    val n = q.count()
    val m = math.max(1L, n / anchorCap)
    val anchors = q.filter(col("id") % m === 0)
    assertStratum(anchors.count(), n, anchorCap, "mutualKnnEdgesAnchored")
    // per-anchor ranking is the salted two-phase topKByQuery: ~anchorCap
    // bare query keys would otherwise cap the corpus-scan shuffle's
    // parallelism at ~anchorCap tasks on a large cluster
    def topK(queries: DataFrame): DataFrame = {
      val scored = pairEnd(q, "neighbor_id", "b")
        .crossJoin(broadcast(pairEnd(queries, "query_id", "a")))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), pairSim.as("sim"))
      topKByQuery(scored, k)
        .select(col("query_id").as("qid"), col("neighbor_id").as("nid"),
          col("sim"))
    }
    val t1 = topK(anchors).localCheckpointCapped()
    val nbrs = t1.select(col("nid").as("id")).distinct().join(q, Seq("id"))
    val t2 = topK(nbrs)
    val rev = t1.unionByName(t2)
      .select(col("nid").as("qid"), col("qid").as("nid"))
    t1.join(rev, Seq("qid", "nid"), "left_semi")
      .select(least(col("qid"), col("nid")).as("vec_a"),
        greatest(col("qid"), col("nid")).as("vec_b"),
        floor(col("sim") * 1000000).cast("long").as("cos_q"))
      .distinct()
  }

  /** Two-level coarse->fine IVF mutual-kNN graph — the structurally
    * different second ANN channel the flat index's own cost ledger calls
    * for (SCALE.md round-14 addendum: holding flat-IVF recall as neighbor
    * families disperse costs (nprobe*massign) ~ cells^0.9 candidates, and
    * the salted multi-index union was measured to lose because per-index
    * misses are structurally correlated).
    *
    * Structure (IVF-with-residuals, the IVF-ADC coarse/fine split of
    * Jegou et al. re-expressed relationally):
    *  - COARSE: ceil(cbrt(n)) KMV seeds (smallest md5(id || "#c")) ->
    *    Voronoi cells of ~n^(2/3); every vector joins its `mCoarse`
    *    nearest coarse cells.
    *  - RESIDUAL: within each coarse membership the vector is re-expressed
    *    as (qv - coarse centroid) — inside a coarse cell all members look
    *    like the centroid, so the residual carries the discriminative
    *    signal the raw cosine saturates away.
    *  - FINE: per coarse cell, ceil(sqrt(cellsize)) KMV seeds drawn FROM
    *    the cell's members (smallest md5(id || "@" || cell) — per-cell
    *    stream-independent draw); members join their `mFine` nearest fine
    *    seeds by residual cosine. Fine cells are ~n^(1/3) vectors.
    *  - QUERY: ranks the broadcast coarse-centroid table, keeps `pCoarse`
    *    cells; then ranks the fine centroids of ALL probed coarse cells
    *    JOINTLY by residual cosine and keeps `pFine` fine cells — the
    *    probe budget concentrates in whichever coarse region actually
    *    looks like the query, which a flat index cannot do.
    *
    * Scale shape: coarse assignment is n * cbrt(n) dots, fine training and
    * assignment n * sqrt(n^(2/3)) = n^(4/3), candidates
    * n * pFine * mFine * n^(1/3) — every stage n^(4/3), vs the flat
    * channel's n^1.5, and each probe commits a fine cell of n^(1/3)
    * candidates instead of sqrt(n), so the same candidate budget buys
    * ~n^(1/6) more distinct probed regions. The fine-centroid table is
    * n^(2/3) rows (too big to broadcast at warehouse scale) but the query
    * side joins it on the probed coarse cell — an equi-join AQE plans as
    * shuffle or broadcast by actual size. Candidates are DISTINCT
    * (qid, nid) pairs scored once, exactly; determinism discipline is the
    * [[mutualKnnGraphKmv]] one (integer centroids, md5 draws, id
    * tie-breaks). Probing every coarse and fine cell reproduces the exact
    * graph (spec-pinned); recall is monotone in pFine (superset
    * candidates can only improve a true edge's ranks).
    * Output: (vec_a < vec_b, cos_q at 1e6).
    */
  def mutualKnnGraphTwoLevel(df: DataFrame, idCol: String, vecCol: String,
                             k: Int, pCoarse: Int, pFine: Int,
                             mCoarse: Int = 1, mFine: Int = 1): DataFrame = {
    val q = quantizedRows(df, idCol, vecCol).localCheckpointCapped()
    mutualFromScored(scorePairs(
      twoLevelCandidatesFromQuantized(q, pCoarse, pFine, mCoarse, mFine), q, q), k)
  }

  /** Candidate-pair count of the two-level channel at an operating point —
    * the honest cost axis: DISTINCT (qid, nid) pairs, each scored once.
    */
  private[graft] def twoLevelCandidateCount(df: DataFrame, idCol: String,
      vecCol: String, pCoarse: Int, pFine: Int, mCoarse: Int, mFine: Int): Long =
    twoLevelCandidatesFromQuantized(quantizedRows(df, idCol, vecCol).localCheckpointCapped(),
      pCoarse, pFine, mCoarse, mFine).count()

  /** The two-level candidate core over a prepared (id, qv, n2) frame. */
  private def twoLevelCandidatesFromQuantized(q: DataFrame, pCoarse: Int,
      pFine: Int, mCoarse: Int, mFine: Int): DataFrame = {
    require(pCoarse >= 1 && pFine >= 1 && mCoarse >= 1 && mFine >= 1,
      "two-level probe/membership widths must be >= 1")
    val c1 = math.max(1, math.ceil(math.cbrt(q.count().toDouble)).toInt)
    val cmemb = nearestK(q, "id", kmvSeeds(q, c1, "#c"), "sid", mCoarse)
      .select(col("id"), col("sid").as("ccell"))
    // coarse centroids train over MEMBERSHIPS (the multiCandidatePairs
    // discipline: boundary vectors pull neighboring centroids toward
    // themselves); integer-exact, so engine-identical at any parallelism
    val b1 = q.join(cmemb, Seq("id"))
    val ccents = centroidArrays(b1, "qv", "ccell")
    def rez(v: Column, c: Column): Column = zip_with(v, c, (x, cc) => x - cc)
    // members re-expressed as residuals against their coarse centroid;
    // one checkpoint — this frame feeds fine seeds, fine training, AND
    // fine assignment
    val rezzed = b1.join(ccents, Seq("ccell"))
      .withColumn("rv", rez(col("qv"), col("cv")))
      .withColumn("rn2", dotLong(col("rv"), col("rv")))
      .select("id", "ccell", "rv", "rn2")
      .localCheckpointCapped()
    // per-cell KMV fine seeds: ceil(sqrt(cellsize)) smallest per-cell hash
    val csize = rezzed.groupBy("ccell").agg(count(lit(1)).as("cnt"))
    val fseeds = rezzed.join(csize, Seq("ccell"))
      .withColumn("h", md5(concat(col("id").cast("string"), lit("@"),
        col("ccell").cast("string"))))
      .withColumn("srn", row_number().over(
        Window.partitionBy("ccell").orderBy(asc("h"), asc("id"))))
      .filter(col("srn") <= ceil(sqrt(col("cnt"))))
      .select(col("ccell"), col("id").as("fsid"), col("rv").as("fsv"),
        col("rn2").as("fsn2"))
    // fine membership: residual cosine against the SAME cell's fine seeds
    // only — an equi-join on ccell, never all fine seeds
    val fmemb = rezzed.join(fseeds, Seq("ccell"))
      .withColumn("fsim", cosineFrom(dotLong(col("rv"), col("fsv")),
        col("rn2"), col("fsn2")))
      .withColumn("frn", row_number().over(
        Window.partitionBy("id", "ccell").orderBy(desc("fsim"), asc("fsid"))))
      .filter(col("frn") <= mFine)
      .select(col("id"), col("ccell"), col("fsid").as("fcell"))
      .localCheckpointCapped()
    // fine centroids over fine memberships, in residual space
    val fcents = centroidArrays(rezzed.join(fmemb, Seq("id", "ccell")), "rv", "ccell", "fcell")
    // query side: coarse probe against the broadcast (c1 x dims) table...
    val cprobed = nearestK(q.select(col("id").as("qid"), col("qv"), col("n2")), "qid",
        ccents, "ccell", pCoarse)
      .select(col("qid"), col("ccell"), rez(col("qv"), col("cv")).as("rq"))
      .withColumn("rqn2", dotLong(col("rq"), col("rq")))
    // ...then the pFine best fine cells ACROSS all probed coarse cells
    // jointly — the probe budget flows to the coarse region that actually
    // matches. Equi-join on ccell: each query only ranks the fine
    // centroids of its probed coarse cells.
    val fprobed = cprobed.join(fcents, Seq("ccell"))
      .withColumn("fsim", cosineFrom(dotLong(col("rq"), col("cv")), col("rqn2"), col("cn2")))
      .withColumn("fn", row_number().over(
        Window.partitionBy("qid").orderBy(desc("fsim"), asc("ccell"), asc("fcell"))))
      .filter(col("fn") <= pFine)
      .select(col("qid"), col("ccell"), col("fcell"))
    fprobed
      .join(fmemb.select(col("id").as("nid"), col("ccell"), col("fcell")),
        Seq("ccell", "fcell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid")).distinct()
  }

  /** One spherical k-means (Lloyd) assignment step: re-assign every vector
    * to its max-cosine centroid (the `ivfCentroids` values, aggregated from
    * the same quantized rows) — paired with `ivfCentroids` (the M-step)
    * this is the complete training loop of the IVF coarse quantizer,
    * expressed entirely as DataFrame plans. The centroid table
    * (cells x dims) broadcasts; assignment is one map-side pass per vector
    * with the codegen'd long-dot kernel; ties break to the smaller cell id,
    * so assignments are deterministic at any parallelism.
    */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
                   cellCol: String): DataFrame = {
    val b = quantizedRows(df, idCol, vecCol, col(cellCol).as("cell"))
    val cents = centroidArrays(b, "qv", "cell").withColumnRenamed("cell", "ncell")
    nearestK(b, "id", cents, "ncell", 1)
      .select(col("id"), col("cell"), col("ncell").as("new_cell"),
        (col("cell") =!= col("ncell")).as("moved"))
  }

  /** Symmetric int8 scalar quantization — the at-rest compression for a
    * 100 TB vector corpus (4x smaller than float32, and int8 dot products
    * SIMD-vectorize on every executor). Integer-exact end to end: codes are
    * computed from the 1e7-scaled longs with per-vector scale = max |x_i|,
    * code_i = (x_i * 127) div scale (truncation toward zero, matching the
    * engine convention established by `ivfCentroids`). Output keeps the
    * codes plus `scale_q` (the dequantization factor), `recon_q` (the
    * reconstructed scaled-long vector) and `max_err_q` (worst per-element
    * reconstruction error in scaled-long units, <= scale_q/127 by
    * construction) so a pipeline can gate on quantization loss. Map-only.
    */
  def int8Quantize(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), quantize(col(vecCol)).as("qv"))
      .withColumn("scale_q", coalesce(
        array_max(transform(col("qv"), x => abs(x))), lit(0L)))
      .withColumn("codes", expr(
        "transform(qv, x -> CAST(CASE WHEN scale_q = 0 THEN 0 " +
          "ELSE (x * 127) div scale_q END AS INT))"))
      .withColumn("recon_q", expr(
        "transform(codes, c -> CASE WHEN scale_q = 0 THEN 0 " +
          "ELSE (CAST(c AS BIGINT) * scale_q) div 127 END)"))
      .withColumn("max_err_q", coalesce(
        array_max(zip_with(col("qv"), col("recon_q"), (x, r) => abs(x - r))),
        lit(0L)))

  /** IVF-style ANN: search only within a coarse partition (cluster) column —
    * the standard inverted-file layout where `clusterCol` is the cell
    * assignment. At 100 TB the table is partitioned/bucketed by this column
    * so each probe is a partition-pruned scan.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, clusterCol: String,
              k: Int): DataFrame =
    bucketTopK(quantizedRows(df, idCol, vecCol, col(clusterCol).as("cell")), "cell", k)

  /** First principal component of the embedding matrix by integer-exact
    * power iteration (the `sortSpectral` discipline applied to X^T X):
    * vectors quantize at 1e4 per dim (coarser than the 1e7 pairwise scale
    * deliberately — PC1 is a direction estimate, and the coarse grid keeps
    * every accumulator inside DECIMAL(38,0) headroom out to ~1e7 rows:
    * |y| <= N^2 * dims * (2e4 * scale)^2 * 1e6), centering multiplies
    * through by N (xc = N*x - sum_x — exact, no fractional mean), and each
    * round computes
    * y = X_c^T (X_c v) as TWO narrow aggregations (per-vector dot t = x_c.v,
    * then per-dim sum of x_c*t) in DECIMAL(38,0) — never materializing the
    * dims x dims Gram matrix, so the same plan runs at a billion rows
    * (cost: 2 joins + 2 aggs per round over the unnested (vec, dim, x)
    * table). Renormalization maps y into [-5e5, 5e5] by the shifted
    * integral division (y + max|y|) * 1e6 DIV (2 max|y|) - 5e5 — operands
    * are non-negative, so truncating DIV == floor in every engine (signed
    * DIV floor-vs-truncate divergence deliberately avoided). Deterministic
    * at any parallelism; sign is fixed by the all-ones init. Output: one
    * row per dimension (i in 1..dims, pc1_q).
    */
  def principalComponent(df: DataFrame, idCol: String, vecCol: String,
                         dims: Int, iterations: Int = 5): DataFrame = {
    val (_, v) = pc1Fixpoint(df, idCol, vecCol, dims, iterations)
    v.select(col("i"), col("q").cast("long").as("pc1_q")).orderBy("i")
  }

  /** Per-vector projections onto the converged PC1: score = x_c . v,
    * renormalized into [-5e5, 5e5] by the same shifted non-negative
    * integral division the iteration uses — the 1-dimensional PCA
    * embedding of every row (dimensionality reduction as a pipeline op).
    * Shares the fixpoint with `principalComponent`; one extra join + agg.
    */
  def principalScores(df: DataFrame, idCol: String, vecCol: String,
                      dims: Int, iterations: Int = 5): DataFrame = {
    val D38 = "decimal(38,0)"
    val (xc, v) = pc1Fixpoint(df, idCol, vecCol, dims, iterations)
    val t = xc.join(v, Seq("i"))
      .groupBy("vec_id").agg(sum((col("xc") * col("q")).cast(D38)).as("t"))
      .localCheckpointCapped()
    t.crossJoin(broadcast(t.agg(max(abs(col("t"))).as("mt"))))
      .selectExpr("vec_id",
        """CAST(CASE WHEN mt IS NULL OR mt = 0 THEN 0
           ELSE (t + mt) * 1000000 DIV (2 * mt) - 500000 END AS BIGINT) AS score_q""")
      .orderBy("vec_id")
  }

  /** Product-quantization codes: the vector splits into `m` contiguous
    * subspaces; per subspace, codebook centroids are the integer-mean
    * subvectors of each `cellCol` group (the `ivfCentroids` convention
    * applied per subspace), and each vector's code is the centroid with
    * minimum exact squared L2 distance (ties: smallest cell id). Output:
    * (vec_id, subspace, code) — m small codes per vector, the at-rest
    * representation that shrinks a 100 TB vector corpus ~64x while keeping
    * asymmetric distance computation. All distances accumulate in
    * DECIMAL(38,0) from scaled longs — deterministic at any parallelism.
    * Plan: the [[pqEncoded]] pass (one codebook aggregation, broadcast;
    * one per-vector row of array expressions), checkpointed, then one
    * explode of the per-vector codes. A null cell id fails loudly.
    */
  def pqCodes(df: DataFrame, idCol: String, vecCol: String,
              cellCol: String, m: Int, dims: Int): DataFrame =
    // checkpointed: the encode pass is the whole cost, and a consumer that
    // runs two jobs over it (a global sort samples its input first) would
    // otherwise encode every vector twice
    pqEncoded(df, idCol, vecCol, cellCol, m, dims)
      .select(col("id").as("vec_id"),
        transform(col("codes"), j => get(col("ids"), j)).as("codes"))
      .localCheckpointCapped()
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("s", "code")))
      .select(col("vec_id"), col("s").cast("long").as("subspace"), col("code"))

  /** The IVF codebook as ONE row: `ids` (the distinct cell ids,
    * ascending), `cvs` (each cell's centroid array, see
    * [[centroidArrays]]) and `cn2s` (their squared norms), aligned by
    * index. Cells x positions is codebook-sized at any corpus scale, so
    * the row broadcasts.
    */
  private def ivfCodebook(q: DataFrame): DataFrame =
    centroidArrays(q, "qv", "cell")
      .agg(array_sort(collect_list(struct(col("cell"), col("cv"), col("cn2"))))
        .as("book"))
      .select(transform(col("book"), e => e.getField("cell")).as("ids"),
        transform(col("book"), e => e.getField("cv")).as("cvs"),
        transform(col("book"), e => e.getField("cn2")).as("cn2s"))

  /** PQ encode pass shared by [[pqCodes]] and [[ivfPqSearch]]: one row per
    * non-null vector, computed in-row against the broadcast
    * [[ivfCodebook]] row (no per-position rows, no join on subspace or
    * code):
    *  - `qv`, `n2`: the full-length quantized vector and its squared norm;
    *  - `lut`: m arrays of `size(ids)` exact squared distances,
    *    `lut[s][j] = ||q_s - cvs[j]_s||^2` over positions
    *    [s * dims/m, (s+1) * dims/m), accumulated in DECIMAL(38,0);
    *  - `codes`: per subspace the index into `ids` of the minimum of
    *    `lut[s]`, ties to the smallest index, i.e. the smallest cell id.
    * PQ reads only the first `dims` positions. A null cell id or a vector
    * shorter than `dims` raises an error naming the column — a null cell
    * would otherwise become a codeword that wins every tie.
    */
  private def pqEncoded(df: DataFrame, idCol: String, vecCol: String,
                        cellCol: String, m: Int, dims: Int): DataFrame = {
    require(m >= 1 && dims % m == 0, "m must divide dims")
    val d = dims / m
    val D38 = "decimal(38,0)"
    val q = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(cellCol).as("cell"),
        quantize(col(vecCol)).as("qv"))
    val dist = (s: Column, cv: Column) =>
      aggregate(sequence(s * d, s * d + (d - 1)), lit(0).cast(D38), (acc, p) => {
        val diff = get(col("qv"), p) - get(cv, p)
        (acc + (diff * diff).cast(D38)).cast(D38)
      })
    val lut = transform(sequence(lit(0), lit(m - 1)), s =>
      transform(col("cvs"), cv => dist(s, cv)))
    q.crossJoin(broadcast(ivfCodebook(q)))
      .withColumn("n2", dotLong(col("qv"), col("qv")))
      .withColumn("lut",
        when(col("cell").isNull,
          raise_error(lit(s"IVF-PQ: null cell id in column '$cellCol'")))
          .when(size(col("qv")) < dims,
            raise_error(lit(s"IVF-PQ: a vector in column '$vecCol' is shorter than dims = $dims")))
          .otherwise(lut))
      .withColumn("codes", transform(col("lut"), row =>
        aggregate(sequence(lit(0), size(row) - 1), lit(0),
          (b, j) => when(get(row, j) < get(row, b), j).otherwise(b))))
  }

  /** IVF-PQ search with asymmetric distance computation (ADC) — the
    * standard billion-scale ANN serving architecture: (1) the coarse stage
    * probes the `nprobe` nearest cells by full-dimension centroid cosine
    * (cell-id tie-break, the same ranking as `ivfTopKProbe`); (2) the
    * fine stage ranks ONLY vectors in probed cells by PQ distance — each
    * query carries an m x codes lookup table of exact integer squared
    * distances to the per-subspace codebook, and a candidate's approximate
    * distance is the sum of its m code lookups into it.
    *
    * Plan: one encode pass ([[pqEncoded]] plus the probed cells, ranked
    * in-row) is checkpointed, so every vector is encoded exactly once;
    * then (query_id, lut, probed cell) joins (neighbor_id, cell, codes) on
    * the cell and scores each pair in-row with m array lookups. The corpus
    * side reads m small codes per vector (the ~64x at-rest compression of
    * `pqCodes`), never the raw vectors; the LUT travels on the query row,
    * so the only shuffle keys at scale are the cell and the query id —
    * never a (query, subspace, code) row per pair.
    * Deterministic: all distances are DECIMAL(38,0) sums of scaled longs;
    * ties break (distance, neighbor id). Output:
    * (query_id, neighbor_id, rank, ad2) with ad2 the integer ADC distance.
    * A null cell id fails loudly.
    */
  def ivfPqSearch(df: DataFrame, idCol: String, vecCol: String,
                  cellCol: String, m: Int, dims: Int, k: Int,
                  nprobe: Int): DataFrame = {
    require(k >= 1 && nprobe >= 1, "k and nprobe must be >= 1")
    // cells ranked by (csim desc, cell asc): ascending on (-csim, cell)
    val ranked = transform(sequence(lit(0), size(col("ids")) - 1), j =>
      struct(
        (-cosineFrom(dotLong(col("qv"), get(col("cvs"), j)), col("n2"),
          get(col("cn2s"), j))).as("neg_csim"),
        get(col("ids"), j).as("cell")))
    val enc = pqEncoded(df, idCol, vecCol, cellCol, m, dims)
      .select(col("id"), col("cell"), col("lut"), col("codes"),
        transform(slice(sort_array(ranked), 1, nprobe), e => e.getField("cell"))
          .as("probe"))
      .localCheckpointCapped()
    // m is fixed at plan time: m plain lookups + DECIMAL(38,0) adds compile
    // into the join's generated code, where a lambda would materialize
    // every joined (pair, LUT) row
    val adc = (0 until m)
      .map(s => get(get(col("lut"), lit(s)), get(col("codes"), lit(s))))
      .reduce(_ + _)
    enc.select(col("id").as("query_id"), col("lut"), explode(col("probe")).as("cell"))
      .join(enc.select(col("id").as("neighbor_id"), col("cell"), col("codes")),
        Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), adc.cast("long").as("ad2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(asc("ad2"), asc("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("ad2"))
  }

  /** Shared power-iteration fixpoint: returns (xc, v) — the N-scaled
    * centered long matrix and the converged quantized component (i, q). */
  private def pc1Fixpoint(df: DataFrame, idCol: String, vecCol: String,
                          dims: Int, iterations: Int): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val D38 = "decimal(38,0)"
    val u = df.select(col(idCol).as("vec_id"),
        posexplode(col(vecCol)).as(Seq("p", "e")))
      .select(col("vec_id"), (col("p") + 1).cast("long").as("i"),
        floor(col("e").cast("double") * 10000).cast("long").as("x"))
      .filter(col("i") <= dims)
    val n = df.count()
    val sums = u.groupBy("i").agg(sum("x").as("sx"))
    val xc = u.join(broadcast(sums), Seq("i"))
      .select(col("vec_id"), col("i"),
        (lit(n) * col("x") - col("sx")).as("xc"))
      .localCheckpointCapped()
    var v = spark.range(1, dims + 1)
      .select(col("id").as("i"), lit(1000000L).cast(D38).as("q"))
    for (_ <- 1 to iterations) {
      val t = xc.join(v, Seq("i"))
        .groupBy("vec_id").agg(sum((col("xc") * col("q")).cast(D38)).as("t"))
      val y = xc.join(t, Seq("vec_id"))
        .groupBy("i").agg(sum(col("xc").cast(D38) * col("t")).as("y"))
        .localCheckpointCapped()
      // broadcast 1-row max instead of a driver scalar read: one job per
      // round; the shifted division's operands stay non-negative
      v = y
        .crossJoin(broadcast(y.agg(max(abs(col("y"))).as("mx"))))
        .selectExpr("i",
          """CAST(CASE WHEN mx IS NULL OR mx = 0 THEN 0
             ELSE (y + mx) * 1000000 DIV (2 * mx) - 500000 END AS DECIMAL(38,0)) AS q""")
    }
    (xc, v)
  }

  /** SemDeDup-style semantic deduplication over an embedding column: banded
    * sign-LSH candidate pairs at `minSim` cosine (`cosineNearDupPairs` — the
    * shuffle key is (band, bucket), never the pair space), weak connected
    * components over the resulting similarity graph (pointer-doubled
    * fixpoint, O(log diameter) rounds), then ONE kept vector per semantic
    * cluster — the member with the largest squared norm (tie: smallest id),
    * the "keep the most informative copy" heuristic standing in for
    * SemDeDup's keep-farthest-from-centroid (same plan shape: a per-cluster
    * top-1 WindowGroupLimit; swap the quality expression for a centroid
    * distance to get the paper's exact rule). Output: one row per vector
    * (id, cluster_rep, n2, keep) — `keep=false` rows are the semantic
    * duplicates a curation pass drops.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    minSim: Double, numBands: Int = 16,
                    bandBits: Int = 4, cellScoped: Boolean = false): DataFrame = {
    // cellScoped = true is the 100 TB path: sign-LSH with constant band
    // geometry keeps a constant fraction of the pair space (measured 72x
    // at 10x corpus on the ensemble query); sqrt(n) KMV cells bound
    // candidates at n^1.5. The LSH path remains for recall-first runs at
    // bounded corpus sizes.
    val pairs = (if (cellScoped) cellScopedNearDupPairs(df, idCol, vecCol, minSim)
                 else cosineNearDupPairs(df, idCol, vecCol, minSim, numBands, bandBits))
      .select(col("id_a").as("source"), col("id_b").as("target"))
    val nodes = df.select(col(idCol).as("id"))
    val labels = graft.GraphAlgorithms.componentLabels(
      graft.NetworkFrame(nodes, pairs), "weak")
    val n2 = quantized(df, idCol, vecCol).select(col("id"), col("n2"))
    val w = Window.partitionBy("component").orderBy(desc("n2"), asc("id"))
    labels.join(n2, Seq("id"))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("id"), col("component").as("cluster_rep"),
        col("n2"), col("keep"))
  }

  /** Maximal-marginal-relevance diversified top-k (lambda = 1/2): greedily
    * pick k items from the relevance top-`pool` so each pick maximizes
    * rel_q - max_sim_q_to_already_selected — the classic diversified-
    * retrieval reranker (dedup at serving time rather than index time).
    * All scores are millionths-quantized cosines (exact integer dot/norms,
    * one IEEE divide, floor), ties broken by id, so the greedy trajectory
    * is deterministic and replayable in any engine.
    *
    * Scale shape: relevance against the query is corpus-parallel (one scan
    * + TakeOrderedAndProject into the pool); everything after operates on
    * the POOL ONLY — pairwise sims are pool x pool (k and pool are
    * serving-size constants, 5 and 50 here, regardless of corpus size), and
    * each greedy step is one broadcast join + top-1 over <= pool rows. The
    * k-step loop costs k tiny jobs, not k corpus passes. Output:
    * (id, rel_q, pick) with pick = 1..k in selection order.
    */
  def mmrSelect(df: DataFrame, idCol: String, vecCol: String, queryId: Long,
                pool: Int = 50, k: Int = 5): DataFrame = {
    val q = quantized(df, idCol, vecCol)
    val qv = q.filter(col("id") === queryId)
      .select(col("qv").as("query_v"), col("n2").as("qn"))
    val rel = q.filter(col("id") =!= queryId).crossJoin(broadcast(qv))
      .withColumn("rel_q",
        floor(cosineFrom(dotLong(col("qv"), col("query_v")), col("n2"), col("qn"))
          * 1000000).cast("long"))
      .orderBy(desc("rel_q"), asc("id")).limit(pool)
      .select("id", "qv", "n2", "rel_q")
      .localCheckpointCapped()
    val pairs = pairEnd(rel, "ia", "a").join(pairEnd(rel, "ib", "b"), col("ia") =!= col("ib"))
      .withColumn("sim_q", floor(pairSim * 1000000).cast("long"))
      .select("ia", "ib", "sim_q")
      .localCheckpointCapped()
    var selected = rel.orderBy(desc("rel_q"), asc("id")).limit(1)
      .select(col("id"), col("rel_q"), lit(1).as("pick"))
      .localCheckpointCapped()
    for (i <- 2 to k) {
      val maxsim = pairs.join(broadcast(selected.select(col("id").as("ib"))), Seq("ib"))
        .groupBy(col("ia").as("id")).agg(max("sim_q").as("ms"))
      val next = rel.join(broadcast(selected.select("id")), Seq("id"), "left_anti")
        .join(maxsim, Seq("id"))
        .withColumn("mmr_q", col("rel_q") - col("ms"))
        .orderBy(desc("mmr_q"), asc("id")).limit(1)
        .select(col("id"), col("rel_q"), lit(i).as("pick"))
      selected = selected.union(next).localCheckpointCapped()
    }
    selected
  }
}
