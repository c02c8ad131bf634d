package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings` (array<float>, dim 64) — SURVEY §2.12.
  *
  * Design for 100 TB:
  *   - the query set is always the broadcast side; the corpus streams through
  *     executors and is never collected;
  *   - per-row norms are computed once before the join, not per pair;
  *   - top-k goes through `row_number` over a window partitioned by query —
  *     the per-partition heap keeps state O(k·queries), not O(corpus);
  *   - the LSH variant prunes the crossJoin to same-bucket candidates, the
  *     scale path when the corpus outgrows brute force.
  *
  * All vector math uses codegen'd higher-order array expressions
  * (`zip_with`/`aggregate`) in double precision — no Scala UDF in the hot
  * path.
  */
object Similarity {

  // Shared fold (bit-comparable across operators) — see VectorOps.
  private def dot(a: Column, b: Column): Column = graft.functions.VectorOps.dot(a, b)
  private def sumSquares(c: Column): Column = graft.functions.VectorOps.sumSquares(c)

  /** `(vec_id, embedding)` → `(vec_id, emb double[], norm)` — the shape
    * every ANN operator consumes. Shared with [[PipelineRunner]]'s
    * `build_ivf_store` op so a spec-provisioned index holds exactly the
    * vectors the registered queries search. */
  private[queries] def normalized(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("norm", sqrt(sumSquares(col("emb"))))

  /** Corpus with embeddings upcast to double and L2 norms precomputed. */
  private def corpus(s: SparkSession, dir: String): DataFrame =
    normalized(Tables.embeddings(s, dir))

  /** e11's index sizing: √N cells (16 minimum), centroids = the lowest
    * vec_ids' vectors — deterministic, so a spec-driven build and the
    * registered query derive the IDENTICAL index from the same corpus.
    * One count job: the catalog statistic a deployment reads instead. */
  private[queries] def defaultIvfCentroids(c: DataFrame): DataFrame = {
    val nCells = math.max(16, math.ceil(math.sqrt(c.count().toDouble)).toInt)
    c.filter(col("vec_id") < nCells)
      .select(col("vec_id").cast("int").as("cell_id"),
        col("emb").as("cemb"), col("norm").as("cnorm"))
  }

  /** Brute-force cosine top-k over an arbitrary `(vec_id, emb, norm)`
    * frame: broadcast the `queryFilter` rows against the full corpus,
    * exact cosine, per-query rank. The e02 pipeline body — shared with
    * [[graft.ScaleProbe]] so the probe times the same plan the oracle
    * gate checks. */
  def bruteTopK(c: DataFrame, queryFilter: Column, k: Int): DataFrame = {
    val q = c.filter(queryFilter).select(
      col("vec_id").as("query_id"), col("emb").as("qemb"), col("norm").as("qnorm"))
    val pairs = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("qemb"), col("emb")) / (col("qnorm") * col("norm")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    pairs
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cosine"), col("rnk"))
  }

  /** Exact all-pairs cosine near-dup over an arbitrary `(vec_id, emb)`
    * frame — the e05/e08-oracle pipeline body (fused codegen'd cosine,
    * `vec_a < vec_b`, threshold filter), shared with [[graft.ScaleProbe]].
    * O(n²) by definition: callers bound the input (e05's id sample) or
    * accept the audit cost knowingly (the probe's `neardup_exact`). */
  def exactNearDupPairs(c: DataFrame, tau: Double = 0.4): DataFrame = {
    graft.functions.GraftFunctions.register(c.sparkSession)
    val a = c.select(col("vec_id").as("vec_a"), col("emb").as("ea"))
    val b = c.select(col("vec_id").as("vec_b"), col("emb").as("eb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", graft.functions.GraftFunctions.cosine(col("ea"), col("eb")))
      .filter(col("cos") >= tau)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** L2 norms + dimensionality — the cheap sanity query over the corpus. */
  val e01EmbeddingNorms = Q(
    "e01_embedding_norms",
    (s, dir) => {
      corpus(s, dir)
        .select(
          col("vec_id"),
          size(col("emb")).as("dim"),
          round(col("norm"), 6).as("l2_norm"))
        .orderBy("vec_id")
    },
    Some("""SELECT vec_id,
      CAST(length(embedding) AS INT) AS dim,
      round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 6) AS l2_norm
    FROM embeddings ORDER BY vec_id"""))

  /** Brute-force cosine top-5: broadcast the 8-vector query set against the
    * full corpus. The exact baseline every ANN variant is scored against. */
  val e02KnnBrute = Q(
    "e02_knn_brute",
    (s, dir) =>
      bruteTopK(corpus(s, dir), col("vec_id") < 8, k = 5)
        .orderBy("query_id", "rnk"),
    Some("""WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qemb
      FROM embeddings WHERE vec_id < 8),
    p AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
        list_cosine_similarity(qemb, CAST(c.embedding AS DOUBLE[])) AS cos
      FROM embeddings c, q WHERE c.vec_id <> q.query_id),
    r AS (
      SELECT query_id, neighbor_id, cos,
        CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rnk
      FROM p)
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rnk
    FROM r WHERE rnk <= 5 ORDER BY query_id, rnk"""))

  /** Deterministic random hyperplanes for sign-LSH: `nPlanes` × 64, fixed
    * seed so every run (and every executor) agrees. Shared with
    * [[graft.operators.SignLshNearDup]]. */
  private[graft] def hyperplanes(nPlanes: Int, dim: Int = 64, seed: Long = 42L): Seq[Seq[Double]] = {
    val r = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(r.nextGaussian()))
  }

  /** Sign-LSH bucket id: one bit per hyperplane (dot-product sign). */
  private[queries] def bucketExpr(emb: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      when(dot(emb, planeLit) > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Shared oracle-SQL fragments for the deterministic ANN unrolls (e06,
    * e10): the cosine fold and the normalized-corpus CTE body. DuckDB's
    * `list_reduce` seeds from the first element; `0.0 + x ≡ x` makes that
    * bit-identical to Spark's zero-seeded fold (the [[e03OracleSql]]
    * soundness note), and IEEE `sqrt` is correctly rounded, so norms and
    * cosines agree to the last bit. */
  private def cosSql(a: String, b: String, na: String, nb: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), s -> s[1] * s[2]), " +
      s"(acc, x) -> acc + x) / ($na * $nb)"

  private val normalizedSql: String =
    """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
        (acc, y) -> acc + y)) AS norm FROM embeddings"""

  /** e03's oracle, UNROLLED: the seeded hyperplane family is deterministic,
    * so the bucket computation is expressible in exact SQL with the 6×64
    * plane literals embedded (the k02/sd02 unrolled-oracle pattern —
    * round-7 verdict #8, moving e03 from rows-only to hash-exact). Two
    * bit-exactness facts make this sound: (1) `Double.toString` emits the
    * shortest round-trip literal, which DuckDB parses back to the
    * identical double; (2) the bucket's sign decision folds products
    * left-to-right on both engines — [[graft.functions.VectorOps.dot]] is
    * `aggregate(…, 0.0, (acc,x) => acc+x)` and DuckDB's `list_reduce`
    * seeds from the first element, and `0.0 + x ≡ x` in IEEE arithmetic,
    * so every intermediate sum is bit-identical and a dot product can
    * never straddle zero differently. Cosine VALUES compare through
    * `list_cosine_similarity` at round-6 exactly like e02 (already
    * hash-exact there, which pins that tolerance). */
  private val e03OracleSql: String = {
    val bucket = hyperplanes(nPlanes = 6).zipWithIndex.map { case (p, i) =>
      val lits = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_reduce(list_transform(list_zip(emb, $lits), " +
        s"s -> s[1] * s[2]), (a, b) -> a + b) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n        + ")
    s"""WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        $bucket AS bucket
      FROM embeddings),
    p AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        list_cosine_similarity(q.emb, c.emb) AS cos
      FROM (SELECT * FROM b WHERE vec_id < 8) q
      JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id),
    r AS (
      SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
        CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rnk
      FROM p)
    SELECT query_id, neighbor_id, cosine, rnk FROM r WHERE rnk <= 5
    ORDER BY query_id, rnk"""
  }

  /** LSH-bucketed approximate top-5: candidates are restricted to the
    * query's sign-LSH bucket, so the pairwise work drops from O(Q·N) to
    * O(Q·N/2^planes). Approximate in recall, but DETERMINISTIC given the
    * seeded plane family — oracle'd hash-exact by [[e03OracleSql]]'s
    * unrolled SQL; the sbt suite additionally scores recall against e02's
    * exact answer. */
  val e03KnnLsh = Q(
    "e03_knn_lsh",
    (s, dir) => {
      val planes = hyperplanes(nPlanes = 6)
      val c = corpus(s, dir).withColumn("bucket", bucketExpr(col("emb"), planes))
      val q = c.select(
        col("vec_id").as("query_id"), col("emb").as("qemb"),
        col("norm").as("qnorm"), col("bucket").as("qbucket"))
        .filter(col("query_id") < 8)
      val pairs = c.join(
          broadcast(q),
          col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))
        .withColumn("cos", dot(col("qemb"), col("emb")) / (col("qnorm") * col("norm")))
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
      pairs
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(
          col("query_id"), col("vec_id").as("neighbor_id"),
          round(col("cos"), 6).as("cosine"), col("rnk"))
        .orderBy("query_id", "rnk")
    },
    Some(e03OracleSql))

  /** Brute-force top-5 again, but through the engine's custom Catalyst layer:
    * the fused [[graft.functions.CosineSimilarity]] expression (one-pass
    * dot+norms, codegen'd) and the [[graft.operators.TopKByScore]] Aggregator
    * (map-side partial top-k heaps instead of a window sort). Produces the
    * identical answer to e02 — the oracle is the same SQL — which pins the
    * custom expression's semantics against DuckDB's cosine.
    */
  val e04KnnFused = Q(
    "e04_knn_fused",
    (s, dir) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val c = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = c.select(col("vec_id").as("query_id"), col("emb").as("qemb"))
        .filter(col("query_id") < 8)
      val pairs = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(
          col("query_id"),
          col("vec_id").as("id"),
          graft.functions.GraftFunctions.cosine(col("qemb"), col("emb")).as("score"))
        .as[QueryScored]
      val topk = new graft.operators.TopKByScore(5).toColumn
      pairs
        .groupByKey(_.query_id)
        .mapValues(r => graft.operators.ScoredId(r.id, r.score))
        .agg(topk)
        .flatMap { case (qid, best) =>
          best.iterator.zipWithIndex.map { case (s, i) => (qid, s.id, s.score, i + 1) }
        }
        .toDF("query_id", "neighbor_id", "cos_raw", "rnk")
        .select(
          col("query_id"), col("neighbor_id"),
          round(col("cos_raw"), 6).as("cosine"), col("rnk"))
        .orderBy("query_id", "rnk")
    },
    // Same answer as e02_knn_brute — identical oracle semantics.
    e02KnnBrute.oracle)

  /** Embedding-cosine near-duplicate pairs (threshold 0.4), exact all-pairs
    * WITHIN A BOUNDED ID SAMPLE (vec_id < 300, the n03 pattern) — the
    * exact-baseline twin of e08 (same role e02 plays for e03/e06): it pins
    * the oracle semantics of the fused cosine expression on ground-truth
    * pairs. The id bound pushes to the parquet scan, so the registered
    * plan's pairwise work is sample², never corpus² — no registered query
    * carries an O(n²) plan; e08 is the full-corpus production path (its
    * band-bucket prune is the scale story, oracle'd against its own
    * all-pairs SQL at fixture scale where the exhaustive form is cheap). */
  val e05EmbeddingNearDup = Q(
    "e05_embedding_neardup",
    (s, dir) => {
      val c = Tables.embeddings(s, dir)
        .filter(col("vec_id") < 300)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      exactNearDupPairs(c)
        .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cosine"))
        .orderBy("vec_a", "vec_b")
    },
    Some("""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) AS cosine
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id AND a.vec_id < 300 AND b.vec_id < 300
      AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.4
    ORDER BY vec_a, vec_b"""))

  /** IVF-flat approximate top-5 — the coarse-quantizer ANN scale path
    * ([[graft.operators.IvfAnn]]): 16 sampled-centroid cells, 4-cell probe.
    * Approximate in recall, but DETERMINISTIC end-to-end — sampled
    * centroids, argmax-cosine routing with pinned tie-breaks — so the
    * whole index unrolls into exact SQL ([[e06OracleSql]]): assignment is
    * `rn = 1 ORDER BY cos DESC, cell_id DESC` (Spark's max-of-struct ties
    * to the HIGHER cell), probing `rn ≤ 4 ORDER BY cos DESC, cell_id`
    * (ties to the LOWER — mirror the asymmetry exactly). Bit-exactness of
    * every cosine rests on the same two facts as [[e03OracleSql]]; `sqrt`
    * is correctly rounded in IEEE 754, so norms agree too. The sbt suite
    * additionally scores recall against e02's exact answer. */
  private val e06OracleSql: String =
    s"""WITH n AS ($normalizedSql),
    c AS (SELECT CAST(vec_id AS INT) AS cell_id, emb AS cemb, norm AS cnorm
      FROM n WHERE vec_id < 16),
    xc AS (
      SELECT n.vec_id, n.emb, n.norm, c.cell_id,
        ${cosSql("n.emb", "c.cemb", "n.norm", "c.cnorm")} AS cos
      FROM n CROSS JOIN c),
    asg AS (
      SELECT vec_id, emb, norm, cell_id FROM (
        SELECT vec_id, emb, norm, cell_id, row_number() OVER (
          PARTITION BY vec_id ORDER BY cos DESC, cell_id DESC) AS rn
        FROM xc) WHERE rn = 1),
    pr AS (
      SELECT vec_id AS query_id, emb AS qemb, norm AS qnorm, cell_id FROM (
        SELECT vec_id, emb, norm, cell_id, row_number() OVER (
          PARTITION BY vec_id ORDER BY cos DESC, cell_id ASC) AS rn
        FROM xc WHERE vec_id < 8) WHERE rn <= 4),
    cand AS (
      SELECT pr.query_id, a.vec_id,
        ${cosSql("pr.qemb", "a.emb", "pr.qnorm", "a.norm")} AS cos
      FROM pr JOIN asg a USING (cell_id)
      WHERE a.vec_id <> pr.query_id),
    r AS (
      SELECT query_id, vec_id AS neighbor_id, round(cos, 6) AS cosine,
        CAST(row_number() OVER (
          PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rnk
      FROM cand)
    SELECT query_id, neighbor_id, cosine, rnk FROM r WHERE rnk <= 5
    ORDER BY query_id, rnk"""

  val e06KnnIvf = Q(
    "e06_knn_ivf",
    (s, dir) => {
      graft.operators.IvfAnn
        .search(corpus(s, dir), col("vec_id") < 8, nCells = 16, nProbe = 4, k = 5)
        .orderBy("query_id", "rnk")
    },
    Some(e06OracleSql))

  /** IVF top-5 in the cells ∝ N regime ([[graft.operators.IvfAnn.searchTwoLevel]]):
    * cells = ⌈√N⌉ — the right IVF discipline at scale (per-cell candidate
    * lists stay √N-bounded) — with the centroid table itself coarse-grouped
    * so assignment costs N·O(∜N·coarseProbe) evaluations instead of the
    * N·√N that makes flat assignment the super-linear term the moment
    * cells grows with the corpus. e06 keeps the published fixed-16-cell
    * contract; this registration is the 100 TB parameterization of the
    * same operator. Approximate at both routing levels, yet DETERMINISTIC
    * like e06, so the whole two-level route unrolls ([[e10OracleSql]]);
    * the sbt suite additionally recall-gates it against e02's brute-force
    * answer, and ScaleProbe's `knn_ivf_2l` shape measures the curve. */
  private val e10OracleSql: String = {
    // Mirrors searchTwoLevel layer by layer. Tie-break asymmetries to
    // preserve: coarse membership and coarse probing both break to the
    // LOWER gid (maxBy(cos, -j) / array_sort on struct(-cos, gid)); fine
    // selection breaks to the LOWER cell_id (row_number over
    // (ccos DESC, cell_id)); the final rank to the LOWER vec_id. The
    // driver-side while-loop cosine is the same zero-seeded left fold as
    // the Column expression, so `fine` membership agrees bitwise.
    def topCells(src: String, fineK: Int): String =
      s"""SELECT vec_id, emb, norm, cell_id FROM (
        SELECT cp.vec_id, cp.emb, cp.norm, f.cell_id, row_number() OVER (
          PARTITION BY cp.vec_id ORDER BY
            ${cosSql("cp.emb", "f.cemb", "cp.norm", "f.cnorm")} DESC,
            f.cell_id ASC) AS rn
        FROM (
          SELECT vec_id, emb, norm, gid FROM (
            SELECT s.vec_id, s.emb, s.norm, g.gid, row_number() OVER (
              PARTITION BY s.vec_id ORDER BY
                ${cosSql("s.emb", "g.gemb", "s.norm", "g.gnorm")} DESC,
                g.gid ASC) AS grn
            FROM ($src) s CROSS JOIN coarse g) WHERE grn <= 4) cp
        JOIN fine f USING (gid)) WHERE rn <= $fineK"""
    s"""WITH n AS ($normalizedSql),
    cents AS (
      SELECT CAST(vec_id AS INT) AS cell_id, emb AS cemb, norm AS cnorm
      FROM n WHERE vec_id < (
        SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS INT)) FROM n)),
    coarse AS (
      SELECT CAST(row_number() OVER (ORDER BY cell_id) AS INT) - 1 AS gid,
        cemb AS gemb, cnorm AS gnorm
      FROM cents QUALIFY row_number() OVER (ORDER BY cell_id) <= (
        SELECT greatest(1, CAST(ceil(sqrt(count(*))) AS INT)) FROM cents)),
    fine AS (
      SELECT gid, cell_id, cemb, cnorm FROM (
        SELECT g.gid, f.cell_id, f.cemb, f.cnorm, row_number() OVER (
          PARTITION BY f.cell_id ORDER BY
            ${cosSql("f.cemb", "g.gemb", "f.cnorm", "g.gnorm")} DESC,
            g.gid ASC) AS rn
        FROM cents f CROSS JOIN coarse g) WHERE rn = 1),
    asg AS (${topCells("SELECT vec_id, emb, norm FROM n", 1)}),
    pr AS (
      SELECT vec_id AS query_id, emb AS qemb, norm AS qnorm, cell_id
      FROM (${topCells("SELECT vec_id, emb, norm FROM n WHERE vec_id < 8", 4)})),
    cand AS (
      SELECT pr.query_id, a.vec_id,
        ${cosSql("pr.qemb", "a.emb", "pr.qnorm", "a.norm")} AS cos
      FROM pr JOIN asg a USING (cell_id)
      WHERE a.vec_id <> pr.query_id),
    r AS (
      SELECT query_id, vec_id AS neighbor_id, round(cos, 6) AS cosine,
        CAST(row_number() OVER (
          PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rnk
      FROM cand)
    SELECT query_id, neighbor_id, cosine, rnk FROM r WHERE rnk <= 5
    ORDER BY query_id, rnk"""
  }

  val e10KnnIvfScaled = Q(
    "e10_knn_ivf_scaled",
    (s, dir) => {
      val c = corpus(s, dir)
      // One count job sizes the index — metadata-cheap on parquet, and at
      // deployment scale the corpus cardinality is a catalog statistic.
      val nCells = math.max(16, math.ceil(math.sqrt(c.count().toDouble)).toInt)
      val centroids = c.filter(col("vec_id") < nCells)
        .select(col("vec_id").cast("int").as("cell_id"),
          col("emb").as("cemb"), col("norm").as("cnorm"))
      graft.operators.IvfAnn
        .searchTwoLevel(c, c.filter(col("vec_id") < 8), centroids,
          coarseProbe = 4, nProbe = 4, k = 5)
        .orderBy("query_id", "rnk")
    },
    Some(e10OracleSql))

  /** Symmetric int8 quantization stats: per-vector scale (max-abs / 127)
    * and reconstruction error — the storage-compression pass an embedding
    * lake runs before ANN indexing. Pure per-row arithmetic (narrow map);
    * quantize→dequantize round-trip is exact-formula-mirrored in the
    * oracle. No vector is clipped by construction (max maps to ±127). */
  val e07EmbeddingQuantize = Q(
    "e07_embedding_quantize",
    (s, dir) => {
      // scale is hoisted to a column: referenced inside the per-element
      // lambda it would re-evaluate the array_max once per element
      // (64× per row — measured 3.4s → 0.6s at sf0.1).
      val sc = col("_scale")
      val err = aggregate(
        transform(col("_emb"), x => abs(x - round(x / sc) * sc)),
        lit(0.0), (acc, x) => acc + x) / size(col("_emb"))
      Tables.embeddings(s, dir)
        .withColumn("_emb", col("embedding").cast("array<double>"))
        .withColumn("_scale", array_max(transform(col("_emb"), x => abs(x))) / 127.0)
        .select(
          col("vec_id"),
          round(sc, 6).as("scale"),
          round(err, 6).as("mean_abs_err"))
        .orderBy("vec_id")
    },
    Some("""SELECT vec_id,
      round(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0, 6) AS scale,
      round(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
          x -> abs(x - round(x / (list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))) / 127.0))
                       * (list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))) / 127.0))))
        / length(embedding), 6) AS mean_abs_err
    FROM embeddings ORDER BY vec_id"""))

  /** Embedding near-dup through the banded sign-LSH prune at the FIXTURE
    * threshold (τ = 0.4) — the semantics-pinning twin of [[e09EmbeddingNearDupProduction]],
    * BOUNDED to the vec_id < 300 sample exactly like e05 (the filter
    * pushes to the parquet scan). The fixture τ forces 3-bit band keys
    * (recall at the 0.4 margin needs 8 buckets/band), whose
    * dissimilar-collision term bands·N²/2³ is quadratic-bound — round-7
    * ScaleProbe measured the unbounded form at 256× wall at ×10 data,
    * worse than exact all-pairs. The id bound keeps those semantics
    * oracle-gated (candidates still come only from shared sign buckets;
    * sbt plan assert: no CartesianProduct/BNLJ) while capping the
    * registered plan's collision term at sample², never corpus². The
    * production parameterization that scales sub-linearly is registered
    * as e09; callers at scale size rowsPerBand ≈ log₂N per the operator
    * doc ([[graft.operators.SignLshNearDup]]). */
  val e08EmbeddingNearDupPruned = Q(
    "e08_embedding_neardup_pruned",
    (s, dir) => {
      val c = Tables.embeddings(s, dir)
        .filter(col("vec_id") < 300)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      graft.operators.SignLshNearDup.pairs(c, "vec_id", "emb")
        .select(
          col("id_a").as("vec_a"), col("id_b").as("vec_b"),
          round(col("cos"), 6).as("cosine"))
        .orderBy("vec_a", "vec_b")
    },
    Some("""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) AS cosine
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id AND a.vec_id < 300 AND b.vec_id < 300
      AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.4
    ORDER BY vec_a, vec_b"""))

  /** Fixture corpus augmented with PLANTED near-duplicates for the
    * production-regime gate (e09): each vec_id < 40 gains a twin at
    * id + 1 000 000 whose components are scaled by the deterministic
    * per-index pattern 1 + 0.02·((i mod 5) − 2) ∈ {0.96 … 1.04} — exact
    * double arithmetic that both engines reproduce bit-identically
    * (same literals, same IEEE multiply), yielding cosine ≈ 0.9995
    * against the base vector. The fixture background tops out at
    * cos 0.513 (measured at sf0.01), so at τ = 0.8 the qualifying set is
    * EXACTLY the 40 planted pairs: ground truth is known, the margin on
    * both sides of the threshold is huge, and 32×16 banding's per-pair
    * miss probability at cos 0.9995 is (1−0.99²)³² ≈ 10⁻²⁶ — hash-exact
    * territory, not a recall gamble. */
  private[graft] def plantedCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val planted = base.filter(col("vec_id") < 40)
      .select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("emb"), (x, i) =>
          x * (lit(1.0) + lit(0.02) * ((i % 5) - lit(2)))).as("emb"))
    base.unionByName(planted)
  }

  /** Embedding near-dup in the PRODUCTION regime — the parameterization a
    * 100 TB corpus actually runs ([[graft.operators.SignLshNearDup]] at
    * τ = 0.8, bands = 32, rowsPerBand = 16): 2¹⁶ buckets per band collapse
    * the dissimilar-collision term bands·N²/2^r that makes the fixture-τ
    * banding (e08's 3-bit keys) quadratic-bound — ScaleProbe measured this
    * regime at 3.2× wall at ×10 data and 15× at ×30 (sub-linear) where
    * the 3-bit regime measured 256×. Candidates come only from shared
    * 16-bit band buckets; no all-pairs operator exists in the plan.
    *
    * Correctness: the fixture corpus carries no background pair above
    * cos 0.52, so [[plantedCorpus]]'s 40 planted twins (cos ≈ 0.9995) are
    * the entire ≥ 0.8 answer — the oracle is exhaustive all-pairs SQL
    * over the same planted corpus, and banding recall at that margin is
    * 1 − 10⁻²⁶ per pair. The sbt suite asserts the band-key width (≥ 16
    * bits) and the no-cartesian plan. */
  /** e09's registered parameterization — exposed so the sbt suite pins the
    * production contract (band-key width ≥ 16 bits) against drift. */
  private[graft] val e09Params =
    graft.operators.SignLshNearDup.Params(bands = 32, rowsPerBand = 16, tau = 0.8)

  val e09EmbeddingNearDupProduction = Q(
    "e09_embedding_neardup_production",
    (s, dir) => {
      graft.operators.SignLshNearDup.pairs(plantedCorpus(s, dir), "vec_id", "emb",
        e09Params)
        .select(
          col("id_a").as("vec_a"), col("id_b").as("vec_b"),
          round(col("cos"), 6).as("cosine"))
        .orderBy("vec_a", "vec_b")
    },
    // DuckDB lambda indices are 1-based (Spark's are 0-based): (i-1) aligns
    // the perturbation pattern element-for-element.
    Some("""WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    planted AS (
      SELECT vec_id + 1000000 AS vec_id,
        list_transform(emb, (x, i) -> x * (1.0 + 0.02 * (((i - 1) % 5) - 2))) AS emb
      FROM base WHERE vec_id < 40),
    corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      round(list_cosine_similarity(a.emb, b.emb), 6) AS cosine
    FROM corpus a, corpus b
    WHERE a.vec_id < b.vec_id
      AND list_cosine_similarity(a.emb, b.emb) >= 0.8
    ORDER BY vec_a, vec_b"""))

  /** SemDeDup semantic deduplication ([[graft.operators.SemanticDedup]]):
    * cluster the corpus into 8 cells (fixed lowest-id centroids, the k01
    * determinism discipline), then drop every vector with a lower-id
    * same-cell neighbor at cosine ≥ 0.35. Pairwise work is cell-local —
    * O(Σ|cell|²), never the corpus square; the oracle replays the
    * assignment + greedy keep-first drop rule exactly. */
  val sd01SemanticDedup = Q(
    "sd01_semantic_dedup",
    (s, dir) => {
      val c = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cents = c.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cluster"), col("emb").as("cvec"))
      graft.operators.SemanticDedup
        .drops(c, "vec_id", "emb", cents, tau = 0.35)
        .orderBy("vec_id")
    },
    Some("""WITH cents AS (
      SELECT CAST(vec_id AS INT) AS cluster, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings WHERE vec_id < 8),
    d AS (
      SELECT e.vec_id, c.cluster,
        row_number() OVER (PARTITION BY e.vec_id
          ORDER BY round(list_distance(CAST(e.embedding AS DOUBLE[]), c.cvec), 6),
                   c.cluster) AS rn
      FROM embeddings e, cents c),
    a AS (SELECT vec_id, cluster FROM d WHERE rn = 1),
    p AS (
      SELECT x.cluster, x.vec_id AS id_a, y.vec_id AS id_b,
        round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                     CAST(eb.embedding AS DOUBLE[])), 6) AS cos
      FROM a x JOIN a y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      JOIN embeddings ea ON ea.vec_id = x.vec_id
      JOIN embeddings eb ON eb.vec_id = y.vec_id
      WHERE round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                         CAST(eb.embedding AS DOUBLE[])), 6) >= 0.35),
    r AS (
      SELECT cluster, id_b AS vec_id, id_a AS dup_of, cos AS cosine,
        row_number() OVER (PARTITION BY id_b ORDER BY id_a) AS rn
      FROM p)
    SELECT cluster, vec_id, dup_of, cosine FROM r WHERE rn = 1
    ORDER BY vec_id"""))

  /** SemDeDup through the two-level (IVF-routed) assignment
    * ([[graft.operators.SemanticDedup.dropsTwoLevel]]) — the k ∝ N scale
    * path: vectors scan ⌈√k⌉ coarse groups plus the fine centroids of the
    * nprobe nearest, N·(√k + nprobe·√k̄) distance evaluations instead of
    * flat assignment's N·k (the term the sem_dedup scaling probe measures
    * going super-linear at ×30). Routing is approximate RELATIVE TO flat
    * assignment (a vector can land in its second-best cell) but fully
    * DETERMINISTIC given the seeded centroids — so the whole route
    * unrolls into DuckDB CTE layers ([[KMeansOracle.twoLevelSemDedupSql]],
    * the k02 upgrade pattern) and the gate is hash-exact, not rows-only.
    * SemanticDedupSuite additionally pins drop validity (every pair truly
    * ≥ τ), the ≥90% agreement floor vs sd01's flat answer, and the
    * no-cartesian plan. */
  val sd02SemanticDedupIvf = Q(
    "sd02_semantic_dedup_ivf",
    (s, dir) => {
      val c = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cents = c.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cluster"), col("emb").as("cvec"))
      graft.operators.SemanticDedup
        .dropsTwoLevel(c, "vec_id", "emb", cents, tau = 0.35, nprobe = 2)
        .orderBy("vec_id")
    },
    Some(KMeansOracle.twoLevelSemDedupSql(k = 8, rounds = 3, nprobe = 2, tau = 0.35)))

  /** Provision the persisted IVF index (the n08 store pattern applied to
    * ANN): the two-level cell assignment `(vec_id, emb, norm, cell_id)` as
    * a SNAPSHOT-CATALOG table bucket-transformed on cell_id — the
    * candidate join's key, so a probe joins the index without shuffling
    * the corpus side — plus the model-sized centroid table. One manifest
    * commit per write ([[graft.sources.StoreTables]]); per-process
    * isolation comes from the catalog's pid-suffixed warehouse (the old
    * tmp-path + refreshByPath discipline is obsolete — no FileStatusCache
    * in the V2 scan path). */
  private[queries] def buildIvfStore(
      s: SparkSession, c: DataFrame, centroids: DataFrame,
      coarseProbe: Int): Unit = {
    // The centroid (model-sized) and assignment writes are independent
    // jobs targeting distinct tables — overlap them (guide §2.6) so the
    // tiny centroid write hides inside the assignment job's runtime.
    graft.operators.MinHashLsh.runAll(Seq(
      () => graft.sources.StoreTables.replace(
        centroids, s"${NearDup.storeDb}.ivf_centroids"),
      () => graft.sources.StoreTables.replace(
        graft.operators.IvfAnn.assignTwoLevel(c, centroids, coarseProbe),
        s"${NearDup.storeDb}.ivf_assign",
        bucketSpec = Some((16, "cell_id")), sortOrder = Some("cell_id"))))
  }

  /** e10's two-level IVF search against a PERSISTED index — the last
    * LLM-layer operator whose production form (index built once, probed
    * incrementally) goes through the catalog: [[buildIvfStore]] writes the
    * assignment and centroid tables, and [[graft.operators.IvfAnn.searchStored]]
    * probes them routing ONLY the query rows — the corpus is never
    * re-scanned, re-normed or re-assigned at probe time (sbt
    * IvfStoreSuite asserts the probe plan's file scans touch only store
    * paths, and that emptying the stored assignment empties the answer).
    * The registered query times build + probe, like n08 — the build is
    * the one-off a deployment amortizes; rebuilt here so the gate stays
    * hermetic. Same centroids, same routing, same tie-breaks as e10 ⇒
    * the identical answer, oracle'd by the same unrolled two-level SQL. */
  val e11KnnIvfStore = Q(
    "e11_knn_ivf_store",
    (s, dir) => {
      val c = corpus(s, dir)
      buildIvfStore(s, c, defaultIvfCentroids(c), coarseProbe = 4)
      graft.operators.IvfAnn.searchStored(
        s.table(s"${NearDup.storeDb}.ivf_assign"),
        c.filter(col("vec_id") < 8),
        s.table(s"${NearDup.storeDb}.ivf_centroids"),
        coarseProbe = 4, nProbe = 4, k = 5)
        .orderBy("query_id", "rnk")
    },
    Some(e10OracleSql))

  /** e12's oracle — the PQ-ADC route unrolled layer by layer
    * ([[graft.operators.PqAdc]]): codebooks from the 16 lowest vec_ids'
    * subvectors, argmin encoding (ties to the lower codeword,
    * `ORDER BY d ASC, k ASC` mirroring `array_sort` on (d, k) structs),
    * code-derived reconstruction norms, and ADC scores whose subspace
    * partials fold in m-order (`list(part ORDER BY m)` ≡ the Spark side's
    * left-to-right reduce; DuckDB's first-element seed matches the
    * zero-seeded folds because 0.0 + x ≡ x — the [[e03OracleSql]]
    * soundness argument). All squared distances / dots are the shared
    * zip-fold, so every intermediate double is bit-identical. */
  private val e12OracleSql: String =
    s"""WITH n AS ($normalizedSql),
    cb AS (
      SELECT m.range AS m, CAST(c.vec_id AS INT) AS k,
        c.emb[(m.range*8+1):((m.range+1)*8)] AS cw
      FROM (SELECT vec_id, emb FROM n WHERE vec_id < 16) c
      CROSS JOIN range(0, 8) m),
    enc AS (
      SELECT vec_id, m, k, cw FROM (
        SELECT v.vec_id, cb.m, cb.k, cb.cw, row_number() OVER (
          PARTITION BY v.vec_id, cb.m ORDER BY
            list_reduce(list_transform(
              list_zip(v.emb[(cb.m*8+1):((cb.m+1)*8)], cb.cw),
              s -> (s[1]-s[2])*(s[1]-s[2])), (a, b) -> a + b) ASC,
            cb.k ASC) AS rn
        FROM n v CROSS JOIN cb) WHERE rn = 1),
    rn AS (
      SELECT vec_id,
        sqrt(list_reduce(list(sq ORDER BY m), (a, b) -> a + b)) AS rnorm
      FROM (
        SELECT vec_id, m,
          list_reduce(list_transform(cw, x -> x * x), (a, b) -> a + b) AS sq
        FROM enc)
      GROUP BY vec_id),
    parts AS (
      SELECT q.vec_id AS query_id, e.vec_id, e.m, q.norm AS qnorm,
        list_reduce(list_transform(
          list_zip(q.emb[(e.m*8+1):((e.m+1)*8)], e.cw),
          s -> s[1] * s[2]), (a, b) -> a + b) AS part
      FROM (SELECT vec_id, emb, norm FROM n WHERE vec_id < 8) q
      CROSS JOIN enc e
      WHERE e.vec_id <> q.vec_id),
    sc AS (
      SELECT query_id, vec_id,
        list_reduce(list(part ORDER BY m), (a, b) -> a + b)
          / (min(qnorm) * min(rn.rnorm)) AS adc
      FROM parts JOIN rn USING (vec_id)
      GROUP BY query_id, vec_id),
    sl AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id, row_number() OVER (
          PARTITION BY query_id ORDER BY adc DESC, vec_id) AS srn
        FROM sc) WHERE srn <= 50),
    ex AS (
      SELECT sl.query_id, sl.vec_id,
        ${cosSql("q.emb", "c.emb", "q.norm", "c.norm")} AS cos
      FROM sl
      JOIN n q ON q.vec_id = sl.query_id
      JOIN n c ON c.vec_id = sl.vec_id),
    r AS (
      SELECT query_id, vec_id AS neighbor_id, round(cos, 6) AS cosine,
        CAST(row_number() OVER (
          PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rnk
      FROM ex)
    SELECT query_id, neighbor_id, cosine, rnk FROM r WHERE rnk <= 5
    ORDER BY query_id, rnk"""

  /** Product-quantized top-5 with refinement ([[graft.operators.PqAdc]])
    * — the memory-bounded ANN form: 8 four-bit codes (8 bytes) stand in
    * for the 512-byte vector through the scan-heavy ADC stage, and only
    * the 50-row-per-query shortlist's full vectors are read for the exact
    * re-rank. Approximate in recall via the shortlist (sbt gates it
    * against e02's exact answer), deterministic end to end, hash-exact
    * under [[e12OracleSql]]. At deployment the ADC stage additionally
    * sits behind an IVF cell prune; the registered full-scan form pins
    * the semantics the pruned plan reuses. */
  val e12KnnPqAdc = Q(
    "e12_knn_pq_adc",
    (s, dir) => {
      val c = corpus(s, dir)
      graft.operators.PqAdc
        .search(c, c.filter(col("vec_id") < 8), k = 5)
        .orderBy("query_id", "rnk")
    },
    Some(e12OracleSql))

  /** e13's oracle — e06's IVF routing CTEs (flat 16-cell assignment ties
    * HIGHER cell, 4-cell probing ties lower) composed with e12's PQ CTEs
    * (codebooks, argmin encoding, recon norms, m-ordered ADC folds,
    * shortlist, exact refinement), candidate set = probed-cell join. */
  private val e13OracleSql: String =
    s"""WITH n AS ($normalizedSql),
    c AS (SELECT CAST(vec_id AS INT) AS cell_id, emb AS cemb, norm AS cnorm
      FROM n WHERE vec_id < 16),
    xc AS (
      SELECT n.vec_id, n.emb, n.norm, c.cell_id,
        ${cosSql("n.emb", "c.cemb", "n.norm", "c.cnorm")} AS cos
      FROM n CROSS JOIN c),
    asg AS (
      SELECT vec_id, cell_id FROM (
        SELECT vec_id, cell_id, row_number() OVER (
          PARTITION BY vec_id ORDER BY cos DESC, cell_id DESC) AS rn
        FROM xc) WHERE rn = 1),
    pr AS (
      SELECT vec_id AS query_id, emb AS qemb, norm AS qnorm, cell_id FROM (
        SELECT vec_id, emb, norm, cell_id, row_number() OVER (
          PARTITION BY vec_id ORDER BY cos DESC, cell_id ASC) AS rn
        FROM xc WHERE vec_id < 8) WHERE rn <= 4),
    cb AS (
      SELECT m.range AS m, CAST(s.vec_id AS INT) AS k,
        s.emb[(m.range*8+1):((m.range+1)*8)] AS cw
      FROM (SELECT vec_id, emb FROM n WHERE vec_id < 16) s
      CROSS JOIN range(0, 8) m),
    enc AS (
      SELECT vec_id, m, k, cw FROM (
        SELECT v.vec_id, cb.m, cb.k, cb.cw, row_number() OVER (
          PARTITION BY v.vec_id, cb.m ORDER BY
            list_reduce(list_transform(
              list_zip(v.emb[(cb.m*8+1):((cb.m+1)*8)], cb.cw),
              s -> (s[1]-s[2])*(s[1]-s[2])), (a, b) -> a + b) ASC,
            cb.k ASC) AS rn
        FROM n v CROSS JOIN cb) WHERE rn = 1),
    rcn AS (
      SELECT vec_id,
        sqrt(list_reduce(list(sq ORDER BY m), (a, b) -> a + b)) AS rnorm
      FROM (
        SELECT vec_id, m,
          list_reduce(list_transform(cw, x -> x * x), (a, b) -> a + b) AS sq
        FROM enc)
      GROUP BY vec_id),
    cand AS (
      SELECT pr.query_id, pr.qemb, pr.qnorm, a.vec_id
      FROM pr JOIN asg a USING (cell_id)
      WHERE a.vec_id <> pr.query_id),
    parts AS (
      SELECT cd.query_id, cd.vec_id, e.m, cd.qnorm,
        list_reduce(list_transform(
          list_zip(cd.qemb[(e.m*8+1):((e.m+1)*8)], e.cw),
          s -> s[1] * s[2]), (a, b) -> a + b) AS part
      FROM cand cd JOIN enc e ON e.vec_id = cd.vec_id),
    sc AS (
      SELECT query_id, vec_id,
        list_reduce(list(part ORDER BY m), (a, b) -> a + b)
          / (min(qnorm) * min(rcn.rnorm)) AS adc
      FROM parts JOIN rcn USING (vec_id)
      GROUP BY query_id, vec_id),
    sl AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id, row_number() OVER (
          PARTITION BY query_id ORDER BY adc DESC, vec_id) AS srn
        FROM sc) WHERE srn <= 50),
    ex AS (
      SELECT sl.query_id, sl.vec_id,
        ${cosSql("q.emb", "c2.emb", "q.norm", "c2.norm")} AS cos
      FROM sl
      JOIN n q ON q.vec_id = sl.query_id
      JOIN n c2 ON c2.vec_id = sl.vec_id),
    r AS (
      SELECT query_id, vec_id AS neighbor_id, round(cos, 6) AS cosine,
        CAST(row_number() OVER (
          PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rnk
      FROM ex)
    SELECT query_id, neighbor_id, cosine, rnk FROM r WHERE rnk <= 5
    ORDER BY query_id, rnk"""

  /** IVFADC — the full deployed ANN composition
    * ([[graft.operators.PqAdc.searchCells]]): e06's 16-cell IVF prune in
    * front of e12's ADC code scan, then the exact refinement — each query
    * scores only O(nProbe·N/cells) EIGHT-BYTE code rows and reads full
    * vectors for just the 50-row shortlist. This is the architecture a
    * 100 TB embedding lake actually serves: cell prune bounds the pair
    * stream, PQ bounds the bytes per pair, refinement restores exact
    * final cosines. Deterministic at every layer (e06's routing
    * tie-breaks + e12's encoding tie-breaks), hash-exact under the
    * composed [[e13OracleSql]]; sbt gates recall against e02. */
  val e13KnnIvfPq = Q(
    "e13_knn_ivfpq",
    (s, dir) => {
      val c = corpus(s, dir)
      val centroids = c.filter(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("cell_id"),
          col("emb").as("cemb"), col("norm").as("cnorm"))
      graft.operators.PqAdc
        .searchCells(c, c.filter(col("vec_id") < 8), centroids, nProbe = 4, k = 5)
        .orderBy("query_id", "rnk")
    },
    Some(e13OracleSql))

  /** Provision the persisted IVFADC index (e14): the [[graft.operators.PqAdc.encodeIndex]]
    * frame — cell routing + PQ codes + reconstructed norm, ~12 payload
    * bytes per vector — as a SNAPSHOT-CATALOG table bucket-transformed on
    * cell_id (the probe join's key), next to the model-sized centroid and
    * codebook-seed tables. Same one-manifest-commit-per-write +
    * per-process-warehouse discipline as [[buildIvfStore]]. The drift
    * table is dropped then re-created by the append so streaming batches
    * (PqAdc.appendToPqStore) land in the same table and committed-view
    * readers see the bulk build. */
  private[queries] def buildPqStore(
      s: SparkSession, c: DataFrame, centroids: DataFrame,
      seedRows: DataFrame): Unit = {
    s.sql(s"DROP TABLE IF EXISTS ${NearDup.storeDb}.pq_drift")
    s.sql(s"DROP TABLE IF EXISTS ${NearDup.storeDb}.pq_ingest_commits")
    val led = graft.operators.PqAdc.ledger(NearDup.storeDb)
    import graft.operators.IngestLedger.{BulkAttempt, BulkBatchNr}
    // All four writes are independent jobs into distinct tables; the
    // ledger marker below is the single commit point — overlap them
    // (guide §2.6) so the model-sized centroid/seed/drift writes hide
    // inside the encode job's runtime.
    graft.operators.MinHashLsh.runAll(Seq(
      () => graft.sources.StoreTables.replace(
        centroids, s"${NearDup.storeDb}.pq_centroids"),
      () => graft.sources.StoreTables.replace(
        seedRows.select("vec_id", "emb"), s"${NearDup.storeDb}.pq_seeds"),
      () => graft.sources.StoreTables.replace(
        led.stamp(graft.operators.PqAdc.encodeIndex(c, centroids, seedRows),
          BulkBatchNr, BulkAttempt),
        s"${NearDup.storeDb}.pq_codes",
        bucketSpec = Some((graft.operators.PqAdc.StoreBuckets, "cell_id")),
        sortOrder = Some("cell_id")),
      // Bulk drift baseline: the build-time routing quality every streamed
      // batch's mean_centroid_cos is compared against (PqAdc.driftReport).
      () => graft.sources.StoreTables.append(
        led.stamp(graft.operators.PqAdc.cellDrift(c, centroids),
          BulkBatchNr, BulkAttempt),
        s"${NearDup.storeDb}.pq_drift")))
    led.commit(s, BulkBatchNr, BulkAttempt)
  }

  /** IVFADC against the PERSISTED code table
    * ([[graft.operators.PqAdc.searchStored]]) — e13's search with the
    * index held the way a deployment holds it: routing + codes + recon
    * norms read from the cell_id-bucketed catalog table, codebooks from
    * the stored seed table, and the corpus's full vectors touched ONLY by
    * the |Q|·shortlist refinement reads. The corpus is never re-assigned
    * or re-encoded at probe time (sbt PqStoreSuite: emptied code table ⇒
    * empty answer; parity with inline e13). Build + probe timed together,
    * as every store registration here is (n08/e11 discipline). Same
    * centroids, codebooks and tie-breaks as e13 ⇒ identical answer,
    * oracle'd by the same composed SQL. */
  val e14KnnIvfPqStore = Q(
    "e14_knn_ivfpq_store",
    (s, dir) => {
      val c = corpus(s, dir)
      val centroids = c.filter(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("cell_id"),
          col("emb").as("cemb"), col("norm").as("cnorm"))
      buildPqStore(s, c, centroids, c.filter(col("vec_id") < 16))
      graft.operators.PqAdc.searchStored(
        s.table(s"${NearDup.storeDb}.pq_codes"),
        c,
        c.filter(col("vec_id") < 8),
        s.table(s"${NearDup.storeDb}.pq_centroids"),
        s.table(s"${NearDup.storeDb}.pq_seeds"),
        nProbe = 4, k = 5)
        .orderBy("query_id", "rnk")
    },
    Some(e13OracleSql))

  /** IVFADC against a STREAMED-INTO store — the incremental-maintenance
    * form of e14: the bulk build covers only two thirds of the corpus
    * (vec_id % 3 ≠ 0), and the remaining third arrives as two
    * `foreachBatch` deliveries of [[graft.operators.PqAdc.appendToPqStore]]
    * — each routed + encoded against the STORED centroids/codebooks and
    * appended to the cell_id-bucketed code table — with the second batch
    * REPLAYED (at-least-once delivery) to prove the ledger no-op inside
    * the gated query itself. The probe reads the committed code view
    * ([[graft.operators.PqAdc.storedCodes]]).
    *
    * Centroids and codebook seeds come from the FULL corpus's 16 lowest
    * vec_ids (the frozen model both the bulk build and every append
    * share), so bulk ∪ batch₀ ∪ batch₁ carries exactly the code set e13
    * encodes inline — identical answer, same composed oracle. Batch
    * splits are deterministic id arithmetic (% 3, % 2), pushed to the
    * scan. */
  val e15KnnIvfPqStreamed = Q(
    "e15_knn_ivfpq_streamed",
    (s, dir) => {
      val c = corpus(s, dir)
      val centroids = c.filter(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("cell_id"),
          col("emb").as("cemb"), col("norm").as("cnorm"))
      buildPqStore(s, c.filter(col("vec_id") % 3 =!= 0), centroids,
        c.filter(col("vec_id") < 16))
      val append = graft.operators.PqAdc.appendToPqStore(NearDup.storeDb) _
      val streamed = c.filter(col("vec_id") % 3 === 0).select("vec_id", "emb")
      append(streamed.filter(col("vec_id") % 2 === 0), 0L)
      append(streamed.filter(col("vec_id") % 2 =!= 0), 1L)
      // At-least-once re-delivery of the last batch: must no-op.
      append(streamed.filter(col("vec_id") % 2 =!= 0), 1L)
      graft.operators.PqAdc.searchStored(
        graft.operators.PqAdc.storedCodes(s, NearDup.storeDb),
        c,
        c.filter(col("vec_id") < 8),
        s.table(s"${NearDup.storeDb}.pq_centroids"),
        s.table(s"${NearDup.storeDb}.pq_seeds"),
        nProbe = 4, k = 5)
        .orderBy("query_id", "rnk")
    },
    Some(e13OracleSql))

  val all: Seq[Q] = Seq(
    e01EmbeddingNorms, e02KnnBrute, e03KnnLsh, e04KnnFused,
    e05EmbeddingNearDup, e06KnnIvf, e07EmbeddingQuantize,
    e08EmbeddingNearDupPruned, e09EmbeddingNearDupProduction,
    e10KnnIvfScaled, e11KnnIvfStore, e12KnnPqAdc, e13KnnIvfPq,
    e14KnnIvfPqStore, e15KnnIvfPqStreamed, sd01SemanticDedup,
    sd02SemanticDedupIvf)
}

/** Typed row for the fused-knn pipeline (top-level for Encoder derivation). */
final case class QueryScored(query_id: Long, id: Long, score: Double)
