package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{IngestLedger, MinHashLsh, SimHash}

/** Near-duplicate detection over `documents` — SURVEY.md §2.12.
  *
  * The fixture plants ~25 near-dup pairs (2-gram Jaccard ≥ 0.9 at sf0.01)
  * over a ~0.03 background, so thresholds at 0.5 separate cleanly.
  */
object NearDup {

  private[queries] val P = MinHashLsh.Params(
    shingleSize = 2, bands = 16, jaccardThreshold = 0.5)

  /** Shared oracle CTE chain over `documents`: brute-force bigram Jaccard
    * pairs (≥ 0.5) → undirected edges → recursive min-label reach. ONE
    * definition (raw string, embed via interpolation) so n05/n06/p02 can
    * never drift in the shingle/Jaccard semantics they pin. The `> 0`
    * denominator guard mirrors Spark's `when(union > 0, …)`: without it a
    * pair of empty-shingle docs divides 0/0 → NaN, which DuckDB orders
    * ABOVE the threshold while Spark emits no pair at all. */
  private[queries] val reachCtesSql: String = """pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM (
        SELECT doc_id, list_distinct(list_transform(
          list_zip(tokens[1:length(tokens)-1], tokens[2:]),
          s -> s[1] || chr(32) || s[2])) AS grams
        FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tokens FROM documents)) a
      JOIN (
        SELECT doc_id, list_distinct(list_transform(
          list_zip(tokens[1:length(tokens)-1], tokens[2:]),
          s -> s[1] || chr(32) || s[2])) AS grams
        FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tokens FROM documents)) b
        ON a.doc_id < b.doc_id
      WHERE (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))) > 0
        AND CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))) >= 0.5),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    reach(id, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id)"""

  /** Oracle CTE for the ids the dedup stage removes (append after
    * [[reachCtesSql]]). */
  private[queries] val dropsCteSql: String = """drops AS (
      SELECT id FROM (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id) WHERE lbl < id)"""

  /** Spark side of the dedup stage: the non-canonical near-dup cluster
    * members (everything except each cluster's minimum id) — shared by n06
    * and the curation funnel so both drop exactly the same documents. */
  private[queries] def dropIds(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.operators.ConnectedComponents
      .clusters(MinHashLsh.nearDupPairs(docs, "doc_id", "text", P))
      .filter(col("cluster_id") < col("id"))

  /** MinHash signatures (first 4 components) — hash-family-specific, so no
    * SQL oracle; determinism is asserted in the sbt suite. */
  val n01MinhashSignatures = Q(
    "n01_minhash_signatures",
    (s, dir) => {
      // The row-local graft_minhash_sig kernel — bit-identical to the
      // relational test twin (MinHashTwin).
      MinHashLsh.signaturesFromShingles(
        Tables.documents(s, dir).select(
          col("doc_id").as("id"),
          MinHashLsh.shingles(col("text"), P.shingleSize).as("shingles")),
        P)
        .select(
          col("id").as("doc_id"),
          col("n_shingles").cast("int").as("n_shingles"),
          element_at(col("sig"), 1).as("sig0"),
          element_at(col("sig"), 2).as("sig1"),
          element_at(col("sig"), 3).as("sig2"),
          element_at(col("sig"), 4).as("sig3"))
        .orderBy("doc_id")
    },
    None)

  /** Banded-LSH candidate pairs verified by exact Jaccard ≥ 0.5. The exact
    * filter makes the output hash-family-independent, so the oracle is the
    * brute-force pairwise Jaccard — on the fixture LSH recall is 1.0 (all
    * planted pairs sit at j ≥ 0.9; 16×4 banding detects j=0.9 w.p.
    * 1-(1-0.9⁴)¹⁶ ≈ 1-10⁻⁸). */
  val n02LshNearDups = Q(
    "n02_lsh_near_dups",
    (s, dir) => {
      MinHashLsh.nearDupPairs(Tables.documents(s, dir), "doc_id", "text", P)
        .select(
          col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },
    Some("""WITH g AS (
      SELECT doc_id, list_distinct(list_transform(
        list_zip(tokens[1:length(tokens)-1], tokens[2:]),
        s -> s[1] || chr(32) || s[2])) AS grams
      FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tokens FROM documents))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      round(CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))), 6) AS jaccard
    FROM g a, g b
    WHERE a.doc_id < b.doc_id
      AND (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))) > 0
      AND CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))) >= 0.5
    ORDER BY doc_a, doc_b"""))

  /** Exact n-gram Jaccard, all pairs within a bounded id sample — the
    * oracle-checked ground truth for the shingle/Jaccard machinery. */
  val n03NgramJaccardSample = Q(
    "n03_ngram_jaccard_sample",
    (s, dir) => {
      val g = Tables.documents(s, dir)
        .filter(col("doc_id") < 40)
        .select(col("doc_id"), MinHashLsh.shingles(col("text"), 2).as("grams"))
      val a = g.select(col("doc_id").as("doc_a"), col("grams").as("ga"))
      val b = g.select(col("doc_id").as("doc_b"), col("grams").as("gb"))
      a.join(b, col("doc_a") < col("doc_b"))
        .select(
          col("doc_a"), col("doc_b"),
          round(MinHashLsh.jaccard(col("ga"), col("gb")), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },
    Some("""WITH g AS (
      SELECT doc_id, list_distinct(list_transform(
        list_zip(tokens[1:length(tokens)-1], tokens[2:]),
        s -> s[1] || chr(32) || s[2])) AS grams
      FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tokens FROM documents)
      WHERE doc_id < 40)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      round(CASE WHEN (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))) > 0
        THEN CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE) /
          (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams)))
        ELSE 0.0 END, 6) AS jaccard
    FROM g a, g b WHERE a.doc_id < b.doc_id
    ORDER BY doc_a, doc_b"""))

  /** 64-bit SimHash fingerprints — rows-only BY NECESSITY, not oversight:
    * the unrolled-oracle pattern
    * that moved e03/e06/e10/sd02 to hash-exact needs every hash the
    * operator takes to be reproducible in DuckDB SQL, and SimHash's bit
    * votes are keyed on Spark's `xxhash64` — XXH64 with seed 42 over
    * Spark's internal UTF8String byte encoding — for which DuckDB has no
    * equivalent (its `hash()` is a different function entirely, and no
    * DuckDB builtin computes XXH64). A seeded plane family (e03) or a
    * centroid table (e06) unrolls into literals; a per-token 64-bit hash
    * family cannot. The pinning lives in sbt instead: SimHashSuite checks
    * the relational frame against the per-row fold bit-for-bit and the
    * hamming-separation bound on near-dup vs unrelated docs. */
  val n04Simhash = Q(
    "n04_simhash",
    (s, dir) => {
      SimHash.simhashFrame(Tables.documents(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("simhash"))
        .orderBy("doc_id")
    },
    None)

  /** Near-dup clusters: connected components over the verified LSH pairs,
    * every member labeled with its group's canonical (minimum) doc id.
    * Oracle: a recursive CTE computing min-reachable-id over the same
    * (oracle-identical, per n02) pair set. */
  val n05NearDupClusters = Q(
    "n05_neardup_clusters",
    (s, dir) => {
      val pairs = MinHashLsh.nearDupPairs(Tables.documents(s, dir), "doc_id", "text", P)
      graft.operators.ConnectedComponents.clusters(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $reachCtesSql
    SELECT id AS doc_id, min(lbl) AS cluster_id
    FROM reach GROUP BY id ORDER BY doc_id"""))

  /** The dedup pipeline's final stage: keep one document per near-dup
    * cluster — the canonical member (minimum id) survives, every other
    * cluster member is dropped, untouched documents pass through. This is
    * the operation the whole detect→cluster chain exists for; output is
    * the surviving corpus (id + a cheap payload witness).
    * At scale: the drop set is a left-anti hash join on doc_id, and the
    * drop frame is |duplicates|, not |corpus|. */
  val n06DedupSurvivors = Q(
    "n06_dedup_survivors",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val drops = dropIds(docs)
      docs.join(drops, docs("doc_id") === drops("id"), "left_anti")
        .select(col("doc_id"), length(col("text")).cast("int").as("n_chars"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $reachCtesSql,
    $dropsCteSql
    SELECT d.doc_id, CAST(length(d.text) AS INT) AS n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT id FROM drops)
    ORDER BY d.doc_id"""))

  /** Incremental-ingest near-dup screening — the production dedup shape:
    * a NEW BATCH (doc_id % 7 = 0, the fixture's stand-in for a fresh
    * crawl slice) screened against the EXISTING CORPUS (everything else)
    * via [[MinHashLsh.nearDupAgainst]]. No corpus self-join exists
    * anywhere in the plan; candidates are batch band keys probing corpus
    * band keys (in production a precomputed bucketed signature store —
    * see the operator doc), then exact-Jaccard verified, so the oracle
    * is brute-force cross-split Jaccard exactly like n02's. On the
    * fixture, planted near-dups sit at j ≥ 0.9 where the 16×4 banding's
    * recall is 1-(1-0.9⁴)¹⁶ ≈ 1-10⁻⁸ — hash-exact, not rows-only. */
  val n07IncrementalNearDup = Q(
    "n07_incremental_neardup",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      MinHashLsh.nearDupAgainst(
        docs.filter(col("doc_id") % 7 === 0),
        docs.filter(col("doc_id") % 7 =!= 0),
        "doc_id", "text", P)
        .select(
          col("batch_id").as("batch_doc"), col("corpus_id").as("corpus_doc"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("batch_doc", "corpus_doc")
    },
    Some("""WITH g AS (
      SELECT doc_id, list_distinct(list_transform(
        list_zip(tokens[1:length(tokens)-1], tokens[2:]),
        s -> s[1] || chr(32) || s[2])) AS grams
      FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tokens FROM documents))
    SELECT a.doc_id AS batch_doc, b.doc_id AS corpus_doc,
      round(CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))), 6) AS jaccard
    FROM g a, g b
    WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0
      AND (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))) > 0
      AND CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))) >= 0.5
    ORDER BY batch_doc, corpus_doc"""))

  /** Incremental-ingest screening against a PERSISTED signature store —
    * n07's semantics with the corpus side materialized the way a
    * production deployment holds it: bucketed tables provisioned through
    * the catalog layer ([[graft.catalog.CatalogAutomation]], the
    * reference's R2 namespace-ensure), `corpus_bands` bucketed on the
    * band key so every subsequent ingest probe joins WITHOUT shuffling
    * the corpus side (only the O(|batch|) band keys move), and
    * `corpus_shingles` bucketed on id for the verify join. The probe
    * itself is [[MinHashLsh.nearDupAgainstStore]]: the corpus is READ,
    * never re-tokenized or re-hashed — the near-flat marginal-ingest
    * contract [[graft.IngestProbe]] measured (1.6× cost over a ×30
    * corpus, 19× faster than inline at ×30).
    *
    * The registered query times build + probe (the build is the one-off
    * a deployment amortizes; rebuilt here because the gate must be
    * hermetic); the sbt suite pins that the probe reads the store
    * (emptying the store tables empties the probe's answer — no hidden
    * recompute path) and that no shuffle sits above the store scan.
    * Output and oracle are identical to n07: same batch/corpus split,
    * same screening semantics, brute-force cross-split Jaccard SQL. */
  val n08StoreNearDup = Q(
    "n08_neardup_store_probe",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      buildCorpusStore(s, docs.filter(col("doc_id") % 7 =!= 0))
      MinHashLsh.nearDupAgainstStore(
        docs.filter(col("doc_id") % 7 === 0),
        s.table(s"$storeDb.corpus_shingles"),
        s.table(s"$storeDb.corpus_bands"),
        "doc_id", "text", P)
        .select(
          col("batch_id").as("batch_doc"), col("corpus_id").as("corpus_doc"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("batch_doc", "corpus_doc")
    },
    n07IncrementalNearDup.oracle)

  private[queries] val storeDb = "graft_snap.graft_store"

  /** Provision the signature store: `(id, shingles)` and
    * `(id, band_idx, band_hash)` as bucket-transformed SNAPSHOT-CATALOG
    * tables ([[graft.sources.StoreTables]] — one manifest commit per
    * write; the V1 bucketed `saveAsTable` path paid ~1.4 s of listing +
    * commit protocol + catalog update per table at fixture scale). The
    * catalog's warehouse is per-process, so concurrent driver JVMs
    * (Verify / sbt test / Bench) can never drop files under each other's
    * in-flight probe scans — the isolation the old pid-suffixed tmp paths
    * provided by hand. Drop-and-rebuild keeps every run converging to the
    * same state. The shingle frame is persisted for the build's two
    * consumers (shingle table + signature aggregation) and released
    * before returning. */
  private[queries] def buildCorpusStore(
      s: org.apache.spark.sql.SparkSession,
      corpus: org.apache.spark.sql.DataFrame): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $storeDb.ingest_commits")
    // The bulk rows carry the ingest-ledger stamp columns so streaming
    // appends (MinHashLsh.appendToStore, by-name schema match) can land in
    // the same tables, and committed-view readers see the bulk build.
    def stamp(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.withColumn("batch_nr", lit(IngestLedger.BulkBatchNr))
        .withColumn("attempt", lit(IngestLedger.BulkAttempt))
    val sh = corpus
      .select(col("doc_id").as("id"),
        MinHashLsh.shingles(col("text"), P.shingleSize).as("shingles"))
      .persist()
    try {
      // Independent table writes overlap on two driver threads (guide
      // §2.6): the bands build's signature kernel back-fills slots
      // the shingle write's tail frees. The ledger marker still lands
      // strictly after BOTH (the single commit point).
      MinHashLsh.runAll(Seq(
        () => graft.sources.StoreTables.replace(
          stamp(sh), s"$storeDb.corpus_shingles",
          bucketSpec = Some((MinHashLsh.StoreBuckets, "id")),
          sortOrder = Some("id")),
        () => graft.sources.StoreTables.replace(
          stamp(MinHashLsh.bandFrame(MinHashLsh.signaturesFromShingles(sh, P), P)),
          s"$storeDb.corpus_bands",
          bucketSpec = Some((MinHashLsh.StoreBuckets, "band_hash")),
          sortOrder = Some("band_idx, band_hash"))))
      MinHashLsh.ledger(storeDb).commit(s, IngestLedger.BulkBatchNr, IngestLedger.BulkAttempt)
    } finally sh.unpersist()
  }

  val all: Seq[Q] = Seq(
    n01MinhashSignatures, n02LshNearDups, n03NgramJaccardSample, n04Simhash,
    n05NearDupClusters, n06DedupSurvivors, n07IncrementalNearDup,
    n08StoreNearDup)
}
