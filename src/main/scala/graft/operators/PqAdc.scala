package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantization ANN with asymmetric distance computation (ADC) —
  * the MEMORY-bounded similarity-search form (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011).
  *
  * The 64-dim corpus vector is split into `nSub` = 8 subvectors of 8 dims;
  * each subspace has a 16-codeword codebook (codeword k of subspace m =
  * subvector m of corpus vector k — the sampled-centroid discipline every
  * deterministic index here uses), so a vector compresses to 8 four-bit
  * codes: **8 bytes instead of 512** — the difference between an index
  * that fits executor memory at 100 TB and one that doesn't, and the codes
  * are computed once and reused by every query batch. Scoring is ADC: the
  * query stays exact, each candidate contributes
  * Σₘ ⟨qₘ, codebook[m][codeₘ]⟩ / (‖q‖·‖recon‖) — the exact cosine of the
  * query with the candidate's RECONSTRUCTION, so ranking needs only the
  * codes (the reconstructed norm is code-derived too). The full vector is
  * touched at query time only for the `shortlist` ADC survivors per
  * query, which an exact-cosine refinement pass re-ranks — PQ with
  * refinement, the deployed shape: the scan-heavy stage reads 8-byte
  * codes, the exact stage reads |Q|·shortlist rows.
  *
  * Everything is deterministic given the seeds — argmin encoding ties
  * break to the lower codeword id (`array_sort` on (dist, k) structs),
  * every fold is the shared left-to-right discipline
  * ([[graft.functions.VectorOps]] / [[graft.functions.SquaredDistance]]) —
  * so the whole route unrolls into exact SQL (the e06/e10 oracle pattern):
  * encoding, reconstruction norms and ADC scores are bit-identical in
  * DuckDB, and the e12 gate is hash-exact, not rows-only.
  *
  * Plan shape: encoding is a narrow map over the corpus scan (8×16
  * codegen'd squared distances per row against literal codewords);
  * scoring joins the code columns against the broadcast query panel and
  * ranks through the usual `row_number` window (`WindowGroupLimit` cuts
  * the shortlist below the exchange). APPROXIMATE in recall by
  * construction — the sbt suite gates recall against e02's exact answer.
  * [[searchCells]] is the full deployed composition: an IVF cell prune
  * in front of the ADC scan (IVFADC), so the pair stream is
  * O(Q·nProbe·N/cells) code rows, not Q·N.
  */
object PqAdc {

  private def dot(a: Column, b: Column): Column = graft.functions.VectorOps.dot(a, b)

  /** Driver-held codebooks (model-sized: nCodewords·dim doubles — the
    * IvfAnn/KMeans centroid bound) plus the expression factory for codes,
    * reconstruction norms and ADC scores, so the flat and IVF-pruned
    * routes share one definition of the arithmetic. */
  private final case class Model(seeds: Array[Array[Double]], nSub: Int,
      nCodewords: Int) {
    val dim: Int = seeds.head.length
    require(dim % nSub == 0, s"dim $dim not divisible by nSub $nSub")
    val sub: Int = dim / nSub

    private def cwLit(m: Int, kk: Int): Column =
      array(seeds(kk).slice(m * sub, (m + 1) * sub).map(lit).toSeq: _*)
    private def cbArr(m: Int): Column =
      array((0 until nCodewords).map(kk => cwLit(m, kk)): _*)
    private def subvec(c: Column, m: Int): Column = slice(c, m * sub + 1, sub)

    /** Per subspace: argmin squared distance over the codeword literals;
      * `array_sort` on (d, k) structs ties to the lower k. */
    def codeCols: Seq[Column] = (0 until nSub).map { m =>
      val cands = array((0 until nCodewords).map { kk =>
        struct(
          KMeans.sqDist(subvec(col("emb"), m), cwLit(m, kk)).as("d"),
          lit(kk).as("k"))
      }: _*)
      array_sort(cands).getItem(0).getField("k").as(s"_c$m")
    }

    /** Reconstructed norm — code-derived, left-to-right over subspaces. */
    def reconNorm: Column = sqrt(
      (0 until nSub).map { m =>
        graft.functions.VectorOps.sumSquares(
          element_at(cbArr(m), col(s"_c$m") + 1))
      }.reduce(_ + _))

    /** ADC dot: the query subvector dots the CHOSEN codeword per
      * subspace; subspace partials sum left-to-right (m = 0..nSub-1). */
    def approxDot(qemb: Column): Column = (0 until nSub).map { m =>
      dot(subvec(qemb, m), element_at(cbArr(m), col(s"_c$m") + 1))
    }.reduce(_ + _)
  }

  private def fit(corpus: DataFrame, nSub: Int, nCodewords: Int): Model =
    fitFrom(corpus.filter(col("vec_id") < nCodewords), nSub, nCodewords)

  /** Codebooks from an explicit seed frame (callers over re-keyed data —
    * e.g. ScaleProbe's replicated ids — can't satisfy the dense-low-id
    * seeding the default route assumes). Rows are taken in vec_id order. */
  private def fitFrom(seedRows: DataFrame, nSub: Int, nCodewords: Int): Model = {
    val seeds: Array[Array[Double]] = seedRows.orderBy("vec_id")
      .select("emb").collect().map(_.getSeq[Double](0).toArray)
    require(seeds.length == nCodewords,
      s"expected exactly $nCodewords codebook seed rows, found ${seeds.length}")
    Model(seeds, nSub, nCodewords)
  }

  /** Shared tail: ADC-score the (already cell-pruned or full) candidate
    * pairs, shortlist per query, exact-cosine re-rank top-k. `pairs`
    * must carry (query_id, qemb, qnorm, vec_id, _c0.._cN, rnorm). */
  private def refine(pairs: DataFrame, corpus: DataFrame, m: Model,
      k: Int, shortlist: Int): DataFrame = {
    val scored = pairs.withColumn("adc",
      m.approxDot(col("qemb")) / (col("qnorm") * col("rnorm")))
    val wAdc = Window.partitionBy("query_id").orderBy(col("adc").desc, col("vec_id"))
    val short = scored
      .withColumn("_srn", row_number().over(wAdc))
      .filter(col("_srn") <= shortlist)
      .select("query_id", "qemb", "qnorm", "vec_id")
    // Refinement: exact cosine on the shortlist survivors only — the one
    // place full vectors are read at query time, |Q|·shortlist rows.
    val exact = short
      .join(corpus.select(col("vec_id"), col("emb"), col("norm")), "vec_id")
      .withColumn("cos", dot(col("qemb"), col("emb")) / (col("qnorm") * col("norm")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    exact
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cosine"), col("rnk"))
  }

  /** ADC shortlist + exact re-rank top-k over the FULL corpus (flat scan
    * of the codes — e12). `corpus` and `queries` are `(vec_id, emb, norm)`
    * frames (emb array<double>). Codebooks seed from the `nCodewords`
    * lowest corpus vec_ids. Returned cosines are EXACT (bit-identical to
    * e02's) on the shortlist survivors; recall is bounded by the
    * shortlist's, which the sbt suite gates. */
  def search(corpus: DataFrame, queries: DataFrame, k: Int,
      nSub: Int = 8, nCodewords: Int = 16, shortlist: Int = 50): DataFrame = {
    require(k > 0 && nSub > 0 && nCodewords > 1, "k, nSub, nCodewords must be positive")
    require(shortlist >= k, s"shortlist $shortlist must cover k $k")
    val m = fit(corpus, nSub, nCodewords)
    val encoded = corpus
      .select(col("vec_id") +: m.codeCols: _*)
      .withColumn("rnorm", m.reconNorm)
    val q = queries.select(
      col("vec_id").as("query_id"), col("emb").as("qemb"), col("norm").as("qnorm"))
    val pairs = encoded.join(broadcast(q), col("vec_id") =!= col("query_id"))
    refine(pairs, corpus, m, k, shortlist)
  }

  /** IVFADC — the deployed composition (e13): an IVF cell prune
    * ([[IvfAnn.assignCells]]/[[IvfAnn.probeCells]], same tie-breaks as
    * e06) in front of the ADC scan, so each query scores only the codes
    * in its nProbe best cells: O(Q·nProbe·N/cells) pair rows instead of
    * Q·N, with each pair an 8-byte code row, not a 512-byte vector. The
    * same exact-cosine refinement re-ranks the shortlist. `centroids`
    * is the model-sized `(cell_id, cemb, cnorm)` frame. */
  def searchCells(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      nProbe: Int, k: Int, nSub: Int = 8, nCodewords: Int = 16,
      shortlist: Int = 50): DataFrame =
    searchCellsSeeded(corpus, queries, centroids,
      corpus.filter(col("vec_id") < nCodewords), nProbe, k, nSub, nCodewords,
      shortlist)

  /** [[searchCells]] with an explicit codebook seed frame — for corpora
    * whose ids aren't dense from 0 (ScaleProbe's replicated data). */
  def searchCellsSeeded(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, seedRows: DataFrame, nProbe: Int, k: Int,
      nSub: Int = 8, nCodewords: Int = 16, shortlist: Int = 50): DataFrame = {
    require(nProbe > 0 && k > 0 && shortlist >= k,
      "nProbe and k must be positive; shortlist must cover k")
    val m = fitFrom(seedRows, nSub, nCodewords)
    val encoded = encodeAssigned(corpus, centroids, m)
    probeEncoded(encoded, corpus, queries, centroids, m, nProbe, k, shortlist)
  }

  /** The encoded index frame a deployment PERSISTS (the e14 registration):
    * `(vec_id, cell_id, _c0.._cN, rnorm)` — cell routing + PQ codes +
    * reconstructed norm, the complete N-proportional state of an IVFADC
    * index at ~12 bytes of payload per vector. */
  def encodeIndex(corpus: DataFrame, centroids: DataFrame, seedRows: DataFrame,
      nSub: Int = 8, nCodewords: Int = 16): DataFrame =
    encodeAssigned(corpus, centroids, fitFrom(seedRows, nSub, nCodewords))

  /** IVFADC against a PERSISTED code table: `codes` is a stored
    * [[encodeIndex]] frame (bucketed by cell_id — the probe join's key),
    * `seedRows` the stored codebook seeds, `vectors` the full-vector
    * frame the refinement reads (|Q|·shortlist rows — the only full
    * vectors touched). Only the query rows are routed; the corpus is
    * never re-scanned, re-assigned or re-encoded at probe time.
    * Identical answer to [[searchCells]] over the same inputs (the e14
    * gate). */
  def searchStored(codes: DataFrame, vectors: DataFrame, queries: DataFrame,
      centroids: DataFrame, seedRows: DataFrame, nProbe: Int, k: Int,
      nSub: Int = 8, nCodewords: Int = 16, shortlist: Int = 50): DataFrame = {
    require(nProbe > 0 && k > 0 && shortlist >= k,
      "nProbe and k must be positive; shortlist must cover k")
    val m = fitFrom(seedRows, nSub, nCodewords)
    probeEncoded(codes, vectors, queries, centroids, m, nProbe, k, shortlist)
  }

  private def encodeAssigned(corpus: DataFrame, centroids: DataFrame,
      m: Model): DataFrame =
    IvfAnn.assignCells(corpus, centroids)
      .select(col("vec_id") +: col("cell_id") +: m.codeCols: _*)
      .withColumn("rnorm", m.reconNorm)

  /** Bucket count of the persisted code table (the e14 layout) — one
    * definition shared by the bulk build and the streaming append so an
    * appended file can never carry a mismatched bucket spec. */
  val StoreBuckets = 16

  /** The IVFADC store's commit ledger — same exactly-once protocol as the
    * signature store's ([[IngestLedger]]); a separate ledger table because
    * each stream numbers its own batchIds from 0. */
  private[graft] def ledger(storeDb: String): IngestLedger =
    IngestLedger(storeDb, "pq_ingest_commits")

  /** Streaming ingest of the persisted IVFADC index: route + encode ONE
    * micro-batch of `(vec_id, emb)` vectors against the STORED centroids
    * and codebook seeds and append the resulting codes to the
    * cell_id-bucketed `pq_codes` table — the `foreachBatch` body that
    * keeps an e14-style store current as the corpus grows, without ever
    * re-scanning, re-assigning or re-encoding what is already stored
    * (work per batch is O(|batch|·cells) routing + O(|batch|) encoding).
    * Partially apply the first parameter list and hand the rest to
    * `writeStream.foreachBatch`.
    *
    * Same bucket-spec discipline as the signature store ([[StoreBuckets]]
    * matches [[graft.queries.Similarity]]'s bulk build, so probe joins
    * stay shuffle-free over appended files), same per-session
    * FileStatusCache contract (readers in OTHER sessions `refreshTable`
    * before planning), and the same [[IngestLedger]] idempotency: a
    * committed batchId no-ops on at-least-once re-delivery, and a replay
    * of a partially-failed attempt strands the dead rows outside every
    * [[storedCodes]] view.
    *
    * DRIFT ACCOUNTING: the stored centroids and codebooks are FROZEN at
    * build time while the corpus grows — cell routing and PQ encoding
    * quality decay as the data distribution moves. Each batch therefore
    * logs `(cell_id, n_assigned, mean_centroid_cos)` to `pq_drift`
    * (ledger-stamped like the codes); [[driftReport]] aggregates the
    * per-batch curve a deployment watches to schedule a centroid
    * re-train + index rebuild (falling mean assignment cosine = stale
    * centroids; a hot cell's n_assigned growing superlinearly = skewed
    * routing). */
  def appendToPqStore(storeDb: String, nSub: Int = 8, nCodewords: Int = 16,
      streamId: String = IngestLedger.DefaultStream)
      (batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val led = ledger(storeDb)
    if (led.isCommitted(s, batchId, streamId)) return
    val attempt = IngestLedger.newAttempt()
    val centroids = s.table(s"$storeDb.pq_centroids")
    val m = fitFrom(s.table(s"$storeDb.pq_seeds"), nSub, nCodewords)
    // Norms computed here (same fold as every corpus loader) so callers
    // stream raw (vec_id, emb) rows. Persisted: the encode and the drift
    // pass both read it, and the batch is micro-batch-sized.
    val b = batch.select(col("vec_id"), col("emb"))
      .withColumn("norm", sqrt(graft.functions.VectorOps.sumSquares(col("emb"))))
      .persist()
    try {
      // Codes and drift are independent appends into distinct tables; the
      // ledger marker below is the single commit point — overlap the two
      // jobs (guide §2.6) so the model-sized drift write hides inside the
      // encode's runtime. Each append is one snapshot-catalog manifest
      // commit ([[graft.sources.StoreTables]]) — no listing/committer
      // fixed cost, and no per-session FileStatusCache to refresh.
      MinHashLsh.runAll(Seq(
        () => graft.sources.StoreTables.append(
          led.stamp(encodeAssigned(b, centroids, m), batchId, attempt),
          s"$storeDb.pq_codes",
          bucketSpec = Some((StoreBuckets, "cell_id")),
          sortOrder = Some("cell_id")),
        () => graft.sources.StoreTables.append(
          led.stamp(cellDrift(b, centroids), batchId, attempt),
          s"$storeDb.pq_drift")))
      led.commit(s, batchId, attempt, streamId)
    } finally b.unpersist()
  }

  /** Per-cell routing quality of a vector frame against a centroid table:
    * `(cell_id, n_assigned, mean_centroid_cos)` — the drift signal both
    * the bulk build (baseline) and each streamed batch log. */
  private[graft] def cellDrift(vectors: DataFrame, centroids: DataFrame): DataFrame =
    vectors.crossJoin(broadcast(centroids))
      .withColumn("cos",
        dot(col("emb"), col("cemb")) / (col("norm") * col("cnorm")))
      .groupBy("vec_id")
      .agg(max(struct(col("cos"), col("cell_id"))).as("_m"))
      .select(col("_m.cell_id").as("cell_id"), col("_m.cos").as("cos"))
      .groupBy("cell_id")
      .agg(count(lit(1)).as("n_assigned"), avg("cos").as("mean_centroid_cos"))

  /** The committed view of the stored code table — what [[searchStored]]
    * probes after streaming appends (replay-safe: a dead attempt's rows
    * never surface). */
  def storedCodes(s: org.apache.spark.sql.SparkSession, storeDb: String): DataFrame =
    ledger(storeDb).committedOnly(s, s.table(s"$storeDb.pq_codes"))

  /** Per-batch centroid-drift curve: `(batch_nr, n_vectors,
    * mean_centroid_cos)`, count-weighted across cells, committed attempts
    * only. The bulk build is batch_nr −1; a deployment alerts when the
    * streamed batches' mean assignment cosine falls away from the bulk
    * baseline. */
  def driftReport(s: org.apache.spark.sql.SparkSession, storeDb: String): DataFrame =
    ledger(storeDb).committedOnly(s, s.table(s"$storeDb.pq_drift"))
      .groupBy("batch_nr")
      .agg(
        sum("n_assigned").as("n_vectors"),
        (sum(col("mean_centroid_cos") * col("n_assigned")) / sum("n_assigned"))
          .as("mean_centroid_cos"))
      .orderBy("batch_nr")

  private def probeEncoded(encoded: DataFrame, vectors: DataFrame,
      queries: DataFrame, centroids: DataFrame, m: Model, nProbe: Int,
      k: Int, shortlist: Int): DataFrame = {
    val probes = IvfAnn.probeCells(queries, centroids, nProbe)
    val pairs = encoded.join(probes,
      encoded("cell_id") === probes("cell_id") &&
        col("vec_id") =!= col("query_id"))
    refine(pairs, vectors, m, k, shortlist)
  }
}
