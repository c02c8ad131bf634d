package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + banded LSH near-duplicate detection — SURVEY.md §2.12.
  *
  * Pipeline (all narrow until the band groupBy):
  *
  *   text ──split──▶ word n-gram shingles ──xxhash64──▶ shingle hashes
  *        ──per-perm rehash+min──▶ MinHash signature (array<long>, 64 perms)
  *        ──slice+hash──▶ band hashes ──explode──▶ (band_idx, band_hash, id)
  *        ──self-join on band bucket──▶ candidate pairs
  *        ──exact Jaccard on shingle sets──▶ verified near-dup pairs
  *
  * Scale design: signatures are computed row-local by one codegen'd
  * expression ([[graft.functions.MinHashSignature]], no shuffle, no UDF);
  * the only shuffles are the band-bucket join (keyed on 8-byte hashes,
  * uniformly distributed) and the final pair dedup. Candidate generation is bucket-local — never
  * all-pairs — so cost tracks the number of colliding pairs, not N².
  *
  * Per-permutation hashing uses XOR-then-xxhash64 rather than the classic
  * `a·h+b mod p` affine family: 64-bit multiplication overflows, which ANSI
  * mode (Spark 4 default) turns into a runtime error. Rehashing the XOR is
  * an equally universal family and stays overflow-free.
  */
object MinHashLsh {

  /** Signature width — the kernel's fixed family (64 perms, seed 7). */
  val NPerms: Int = graft.functions.MinHashKernel.NPerms

  final case class Params(
      shingleSize: Int = 2,
      bands: Int = 16,
      jaccardThreshold: Double = 0.5) {
    require(NPerms % bands == 0, s"bands=$bands must divide $NPerms perms")
    def rowsPerBand: Int = NPerms / bands
  }

  /** Distinct word n-gram shingles of a text column (row-local).
    *
    * True n-grams for every n (an earlier zip_with form built 2-token
    * skip-grams beyond n=2): one slice per start index via `transform` over
    * `sequence`, length clamped at 0 for documents shorter than n tokens.
    * Bit-identical to the streaming generator
    * [[graft.functions.ShingleExplode]] — the sbt suite pins the parity.
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(trim(lower(text)), """\s+""")
    val sz = size(toks)
    // Bigrams keep the zip_with form — one pass over two slices; the
    // general transform-over-start-indices form costs a per-index slice
    // (measured 6× slower on the signature pipeline) and is only used for
    // n ≥ 3, where zip_with can't express a true n-gram. Explicit empty
    // branch there: sequence(1, 0) would generate DESCENDING [1, 0].
    val grams =
      if (n == 1) toks
      else if (n == 2) {
        val len = greatest(sz - lit(1), lit(0))
        zip_with(
          slice(toks, lit(1), len),
          slice(toks, lit(2), len),
          (a, b) => concat(a, lit(" "), b))
      } else when(sz >= n,
          transform(sequence(lit(1), sz - lit(n - 1)),
            i => array_join(slice(toks, i, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
    array_distinct(grams)
  }

  /** Band hashes: murmur3 of each r-row slice of the signature. */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => hash(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))))

  /** Exact Jaccard of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(a) + size(b) - size(array_intersect(a, b))
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** id → (n_shingles, signature) of a text frame ([[signaturesFromShingles]]
    * over its shingles). Documents with zero shingles (empty text) have no
    * signature row. */
  def signatures(docs: DataFrame, idCol: String, textCol: String, p: Params): DataFrame =
    signaturesFromShingles(
      docs.select(col(idCol).as("id"), shingles(col(textCol), p.shingleSize).as("shingles")),
      p)

  /** `(id, n_shingles, sig)` over a prebuilt `(id, shingles)` frame via the
    * row-local [[graft.functions.MinHashSignature]] kernel: the input is one
    * row per document already, so the plan is Scan → Filter(size>0) →
    * Project with zero shuffles. The size>0 filter drops zero-shingle
    * documents, and `size(shingles)` is the shingle count (shingles are
    * distinct).
    *
    * The filter and the projection both reference `shingles`, and Catalyst
    * pushes the filter below an unaliased producer projection —
    * re-evaluating the tokenizer per reference. Pipeline callers pass a
    * persisted frame (two cache reads); an unpersisted input (n01's direct
    * call) is pinned here instead of tokenized twice, and stays cached
    * until the caller clears it ([[nearDupAgainst]]'s cache contract). */
  def signaturesFromShingles(sh: DataFrame, p: Params): DataFrame = {
    graft.functions.GraftFunctions.register(sh.sparkSession)
    val pinned =
      if (sh.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        sh.persist()
      else sh
    pinned.filter(size(col("shingles")) > 0)
      .select(
        col("id"),
        size(col("shingles")).cast("long").as("n_shingles"),
        graft.functions.GraftFunctions.minhashSig(
          transform(col("shingles"), s => xxhash64(s))).as("sig"))
  }

  /** `(id, band_idx, band_hash)` LSH bucket keys for a signature frame —
    * the join key surface of both the self-join ([[nearDupPairs]]) and the
    * batch-vs-corpus probe ([[nearDupAgainst]]). */
  def bandFrame(sigs: DataFrame, p: Params): DataFrame =
    sigs
      .select(col("id"), posexplode(bandHashes(col("sig"), p.bands, p.rowsPerBand)))
      .toDF("id", "band_idx", "band_hash")

  /** Verified near-duplicate pairs (id_a < id_b, jaccard ≥ threshold).
    * Candidates come only from shared LSH band buckets. The shingle frame is
    * persisted: it feeds the signature kernel and both sides of the exact-
    * Jaccard verify, and recomputing the tokenize+shingle scan three times
    * would dominate the pipeline (it did: 42s → ~7s at sf0.1).
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      p: Params = Params()): DataFrame = {
    val sh = docs
      .select(col(idCol).as("id"), shingles(col(textCol), p.shingleSize).as("shingles"))
      .persist()
    val sigs = signaturesFromShingles(sh, p)
    // Persisted: the self-join consumes the band frame TWICE, and with the
    // row-local signature path there is no aggregation Exchange left for
    // ReuseExchange to share — without the pin each side would recompute
    // the 64-perm kernel. Same caller-released cache contract as `sh`.
    val bands = bandFrame(sigs, p).persist()
    pairsWithin(sh, bands, p)
  }

  /** The candidate-and-verify body over caller-built frames: verified
    * pairs `(id_a < id_b, jaccard)` among the documents of one
    * `(id, shingles)` frame, candidates from its `(id, band_idx,
    * band_hash)` frame's shared buckets. Both inputs are read twice, so
    * callers pass persisted frames and own their release. */
  def pairsWithin(sh: DataFrame, bands: DataFrame, p: Params): DataFrame =
    verify(
      bands.as("x")
        .join(bands.as("y"),
          col("x.band_idx") === col("y.band_idx") &&
            col("x.band_hash") === col("y.band_hash") &&
            col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
        .distinct(),
      "id_a", sh, "id_b", sh, p)

  /** Exact-Jaccard verify of distinct candidate pairs `(a, b)`: joins each
    * side's shingle set and keeps `jaccard ≥ threshold`, as `(a, b,
    * jaccard)`. */
  private def verify(candidates: DataFrame, a: String, shA: DataFrame,
      b: String, shB: DataFrame, p: Params): DataFrame = {
    // Materialize the intersection size as a column so the (expensive)
    // array_intersect runs once per pair, not once each for the numerator
    // and the union denominator.
    val inter = col("_inter").cast("double")
    val union = size(col("sh_a")) + size(col("sh_b")) - col("_inter")
    candidates
      .join(shA.select(col("id").as(a), col("shingles").as("sh_a")), a)
      .join(shB.select(col("id").as(b), col("shingles").as("sh_b")), b)
      .withColumn("_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", when(union > 0, inter / union).otherwise(lit(0.0)))
      .filter(col("jaccard") >= p.jaccardThreshold)
      .select(a, b, "jaccard")
  }

  /** Incremental-ingest screening: verified near-dup pairs between a NEW
    * BATCH and an EXISTING CORPUS (batch_id, corpus_id, jaccard ≥
    * threshold) — the shape every production dedup actually runs (new
    * crawl slice vs historical store), where the corpus must never
    * self-join.
    *
    * Candidates are batch band keys ⋈ corpus band keys only: cost is
    * O(|batch| · bands + matches), independent of |corpus|² — and in a
    * deployment the corpus side of the join is a PRECOMPUTED signature
    * store (write [[signaturesFromShingles]] → [[bandFrame]] once,
    * bucketed by (band_idx, band_hash); each ingest then probes it with
    * the batch's keys, broadcast when the batch is small). Here both
    * sides compute inline because the fixture has no persisted store;
    * the plan shape is identical.
    *
    * The exact-Jaccard verify keeps the output hash-family-independent —
    * same contract as [[nearDupPairs]], so the SQL oracle is brute-force
    * cross-split Jaccard.
    *
    * Cache contract (here and [[nearDupAgainstStore]]): the shingle
    * frame(s) computed inside stay persisted after the returned DataFrame
    * is consumed — the operator cannot know when the caller is done with
    * a lazy result, so release is the CALLER's job (`spark.catalog
    * .clearCache()` between measurements, as Bench/IngestProbe do; a
    * one-shot pipeline can simply let the session end). Same reliance
    * [[nearDupPairs]] documents. */
  def nearDupAgainst(batch: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, p: Params = Params()): DataFrame = {
    val shC = corpus
      .select(col(idCol).as("id"), shingles(col(textCol), p.shingleSize).as("shingles"))
      .persist()
    nearDupAgainstStore(batch, shC, bandFrame(signaturesFromShingles(shC, p), p),
      idCol, textCol, p)
  }

  /** Bucket count of the persisted signature store's tables — one
    * definition shared by the batch store build and the streaming append
    * so an appended file can never carry a mismatched bucket spec. */
  val StoreBuckets = 16

  /** The signature store's commit ledger ([[IngestLedger]] — protocol
    * documented there; shared with the IVFADC store's
    * [[PqAdc.appendToPqStore]]). */
  private[graft] def ledger(storeDb: String): IngestLedger =
    IngestLedger(storeDb, "ingest_commits")

  /** The committed `(batch_nr, attempt)` markers of a signature store. */
  def committedBatches(s: org.apache.spark.sql.SparkSession, storeDb: String): DataFrame =
    ledger(storeDb).committed(s)

  /** Restrict a stamped store frame to committed rows ([[IngestLedger.visible]]). */
  def committedOnly(store: DataFrame, commits: DataFrame): DataFrame =
    IngestLedger.visible(store, commits)

  /** One ingest attempt's writes: stamped shingle + band appends, then —
    * as the LAST action, the commit point — the ledger marker. The store
    * lives on the SNAPSHOT catalog ([[graft.sources.StoreTables]] — one
    * manifest commit per append instead of the V1 listing + commit
    * protocol + catalog update that dominated the p04/p05/p06 lanes);
    * the bucket transforms keep probe joins shuffle-free on the store
    * side exactly as the V1 bucket spec did. The bands table buckets on
    * `band_hash` alone (the snapshot catalog's transforms are
    * single-column) — co-location on the compound (band_idx, band_hash)
    * join key is implied, since equal pairs share the hash. */
  private def writeAttempt(s: org.apache.spark.sql.SparkSession, storeDb: String,
      sh: DataFrame, bands: DataFrame, batchId: Long, attempt: String,
      streamId: String): Unit = {
    val led = ledger(storeDb)
    // The two table appends are INDEPENDENT jobs (distinct tables, the
    // marker below is the only commit point), so they overlap on a tiny
    // thread pool: the bands write's signature kernel back-fills
    // executor slots the shingle write's tail leaves idle (optimization
    // guide: overlap independent jobs). Either failure propagates before
    // the marker is written, preserving the attempt protocol.
    runAll(Seq(
      () => graft.sources.StoreTables.append(
        led.stamp(sh, batchId, attempt), s"$storeDb.corpus_shingles",
        bucketSpec = Some((StoreBuckets, "id")), sortOrder = Some("id")),
      () => graft.sources.StoreTables.append(
        led.stamp(bands, batchId, attempt), s"$storeDb.corpus_bands",
        bucketSpec = Some((StoreBuckets, "band_hash")),
        sortOrder = Some("band_idx, band_hash"))))
    led.commit(s, batchId, attempt, streamId)
  }

  /** Run independent Spark actions concurrently and propagate the first
    * failure after ALL settle (a dangling concurrent write must not
    * outlive the caller's error handling). Spark's scheduler runs
    * concurrent jobs FIFO, so later jobs' tasks back-fill the slots the
    * earlier jobs' straggler tails leave idle instead of waiting for
    * them — the standard overlap-independent-jobs motion for a store
    * build with several unrelated table writes.
    *
    * Job-attribution hygiene: SparkContext local properties (job group /
    * description / scheduler pool) are InheritableThreadLocals, so a
    * pooled thread would otherwise carry whatever the thread that FIRST
    * forked it was doing — overlapped writes could be attributed to (and
    * cancelled with!) an unrelated query's job group. Each task therefore
    * runs under the CALLER's properties, captured here, and clears them
    * after, so the pool never leaks attribution across queries. */
  private[graft] def runAll(actions: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val attributionKeys = Seq("spark.job.description", "spark.jobGroup.id",
      "spark.job.interruptOnCancel", "spark.scheduler.pool")
    val callerProps = attributionKeys.map(k => k -> sc.getLocalProperty(k))
    val fs = actions.map(a => Future {
      callerProps.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      try a()
      finally attributionKeys.foreach(k => sc.setLocalProperty(k, null))
    })
    val rs = fs.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
    rs.foreach(_.get)
    ()
  }

  /** Streaming ingest of the signature store: append ONE micro-batch of
    * documents to existing store tables (the n08 layout — `(id, shingles)`
    * bucketed by id, `(id, band_idx, band_hash)` bucketed by the band
    * key). Designed as a `foreachBatch` body: partially apply the first
    * parameter list and hand the rest to `writeStream.foreachBatch`, and
    * the store grows with each micro-batch while every probe
    * ([[nearDupAgainstStore]]) sees the new corpus docs — closing the
    * loop between the streaming slice and the dedup store (a crawl
    * pipeline screens each slice against the store, then appends it).
    *
    * IDEMPOTENT under foreachBatch's at-least-once delivery: a batchId
    * already in the commit ledger no-ops (restart replays the last batch
    * with the same id), and a replay of a PARTIALLY-failed attempt
    * (shingles appended, bands or marker write lost) re-runs under a
    * fresh attempt id while the dead attempt's rows stay invisible to
    * every [[committedOnly]] reader — the marker append is the single
    * commit point, so the store's visible state moves atomically per
    * batch.
    *
    * NOTE the FileStatusCache is PER-SESSION: foreachBatch hands this
    * function a cloned micro-batch session, so a probe planned from any
    * OTHER session (including the stream's parent) must `refreshTable`
    * in its own session first — standard Spark semantics for a file
    * table another writer appends to, asserted in StoreIngestStreamSuite.
    * Work per batch is O(|batch|) tokenize+hash — the corpus is never
    * re-read. */
  def appendToStore(storeDb: String, idCol: String, textCol: String,
      p: Params, streamId: String = IngestLedger.DefaultStream)(
      batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    if (ledger(storeDb).isCommitted(s, batchId, streamId)) return
    val sh = batch
      .select(col(idCol).as("id"), shingles(col(textCol), p.shingleSize).as("shingles"))
      .persist()
    try writeAttempt(s, storeDb, sh, bandFrame(signaturesFromShingles(sh, p), p),
      batchId, IngestLedger.newAttempt(), streamId)
    finally sh.unpersist()
  }

  /** [[appendToStore]] over PREBUILT `(id, shingles)` and
    * `(id, band_idx, band_hash)` frames — the one-pass form for callers
    * that already computed the batch's signature pipeline for their own
    * probe (the incremental curation engine probes, self-joins AND
    * ingests from one shingle frame, so the 64-perm signatures are
    * derived once). Same idempotency
    * protocol: a committed batchId no-ops, the ledger marker is the
    * single commit point. */
  def appendPrebuiltToStore(storeDb: String, sh: DataFrame, bands: DataFrame,
      streamId: String = IngestLedger.DefaultStream)(batchId: Long): Unit = {
    val s = sh.sparkSession
    if (ledger(storeDb).isCommitted(s, batchId, streamId)) return
    writeAttempt(s, storeDb, sh, bands, batchId, IngestLedger.newAttempt(), streamId)
  }

  /** The full crawl-loop body: SCREEN the micro-batch against everything
    * COMMITTED so far ([[nearDupAgainstStore]] over [[committedOnly]]
    * views — O(|batch|) hashing, the corpus side read from the store),
    * append the verified pairs to `pairsTable` (the screening log a
    * curation pipeline consumes), then ingest the batch so later slices
    * screen against it. Screen-before-append means a document never pairs
    * with itself and each cross-batch pair is recorded exactly once, on
    * the later batch; intra-batch duplicates are deliberately out of
    * scope here (run [[nearDupPairs]] on the slice if needed).
    *
    * Same idempotency protocol as [[appendToStore]] — the pairs log rows
    * carry the attempt stamp and the SAME end-of-attempt marker commits
    * pairs + shingles + bands together, so a replayed batch can neither
    * double-log its pairs nor screen against its own half-ingested copy
    * (the dead attempt's store rows are not in any committed view).
    * Consumers read the log through [[committedPairs]].
    *
    * The batch is tokenized ONCE: one persisted shingle frame feeds the
    * screen's signature probe, its verify join, and the store append,
    * and is unpersisted here — scoped release, not a global
    * `clearCache()` that would evict unrelated frames in the shared
    * CacheManager (SharedState-wide, not per-session). */
  def screenAndIngest(storeDb: String, pairsTable: String, idCol: String,
      textCol: String, p: Params,
      streamId: String = IngestLedger.DefaultStream)(
      batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    if (ledger(storeDb).isCommitted(s, batchId, streamId)) return
    val attempt = IngestLedger.newAttempt()
    val commits = committedBatches(s, storeDb)
    val sh = batch
      .select(col(idCol).as("id"), shingles(col(textCol), p.shingleSize).as("shingles"))
      .persist()
    // ONE signature pipeline feeds both the screen's probe and the store
    // append below (they were derived twice from the same shingle frame).
    val bands = bandFrame(signaturesFromShingles(sh, p), p).persist()
    try {
      val pairs = nearDupBandsAgainstStore(
        sh, bands,
        committedOnly(s.table(s"$storeDb.corpus_shingles"), commits),
        committedOnly(s.table(s"$storeDb.corpus_bands"), commits),
        p)
        .withColumn("batch_nr", lit(batchId)).withColumn("attempt", lit(attempt))
      graft.sources.StoreTables.append(pairs, s"$storeDb.$pairsTable")
      writeAttempt(s, storeDb, sh, bands, batchId, attempt, streamId)
    } finally { bands.unpersist(); sh.unpersist() }
  }

  /** The committed view of a [[screenAndIngest]] pairs log — replay-safe
    * reader (uncommitted attempts' rows filtered by the ledger). */
  def committedPairs(s: org.apache.spark.sql.SparkSession, storeDb: String,
      pairsTable: String): DataFrame =
    committedOnly(s.table(s"$storeDb.$pairsTable"), committedBatches(s, storeDb))

  /** The ingest screen against a PRECOMPUTED signature store:
    * `corpusShingles` is the store's `(id, shingles)` frame and
    * `corpusBands` its `(id, band_idx, band_hash)` frame, as a store-build
    * job writes them once ([[signaturesFromShingles]] → [[bandFrame]]).
    * Only the batch side is tokenized and hashed here — the corpus is
    * re-read, never re-hashed, which is the marginal-cost contract
    * [[graft.IngestProbe]] measures. */
  def nearDupAgainstStore(batch: DataFrame, corpusShingles: DataFrame,
      corpusBands: DataFrame, idCol: String, textCol: String,
      p: Params = Params()): DataFrame = {
    val shB = batch
      .select(col(idCol).as("id"), shingles(col(textCol), p.shingleSize).as("shingles"))
      .persist()
    nearDupBandsAgainstStore(shB, bandFrame(signaturesFromShingles(shB, p), p),
      corpusShingles, corpusBands, p)
  }

  /** The probe over a PREBUILT batch band frame — callers that also
    * self-join or ingest the batch compute the signature pipeline once
    * and pass it here instead of paying the 64-permutation kernel per
    * consumer. */
  def nearDupBandsAgainstStore(shB: DataFrame, bandsB: DataFrame,
      corpusShingles: DataFrame, corpusBands: DataFrame, p: Params): DataFrame =
    verify(
      bandsB.as("x")
        .join(corpusBands.as("y"),
          col("x.band_idx") === col("y.band_idx") &&
            col("x.band_hash") === col("y.band_hash"))
        .select(col("x.id").as("batch_id"), col("y.id").as("corpus_id"))
        .distinct(),
      "batch_id", shB, "corpus_id", corpusShingles, p)
}
