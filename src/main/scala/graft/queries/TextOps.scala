package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication operators over `documents` — SURVEY.md §2.12.
  *
  * Everything here is built from codegen'd built-in expressions (no Scala
  * UDFs): tokenization via `split`/`regexp_extract_all`, per-document scores
  * via higher-order array functions. All per-document work is embarrassingly
  * parallel (narrow transforms over the scan); only the dedup groupBys
  * shuffle, keyed on a 256-bit content hash so the 100 TB distribution is
  * uniform regardless of text skew.
  */
object TextOps {

  private[queries] val stopRe = """\b(the|a|of|and|to|in|is|it|for|on)\b"""
  /** BPE-ish tokenizer: letter runs, digit runs, single punctuation. */
  private val bpeRe = """[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"""

  private def nMatches(c: Column, re: String): Column =
    size(regexp_extract_all(c, lit(re), lit(0)))

  /** Exact dedup: group on a 256-bit content hash, keep the smallest id.
    * Hashing first means the shuffle key is fixed-width and uniformly
    * distributed — at 100 TB the raw text never rides the shuffle. */
  val d01DedupExact = Q(
    "d01_dedup_exact",
    (s, dir) => {
      Tables.documents(s, dir)
        .groupBy(sha2(col("text"), 256).as("content_hash"))
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "n_copies")
        .orderBy("doc_id")
    },
    // Oracle groups on the raw text — equivalent absent SHA-256 collisions.
    Some("""SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents GROUP BY text ORDER BY doc_id"""))

  /** Per-language corpus stats: doc counts, char sums, whitespace-token sums. */
  val d02TextStats = Q(
    "d02_text_stats",
    (s, dir) => {
      Tables.documents(s, dir)
        .withColumn("n_tokens", size(split(trim(col("text")), """\s+""")))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          sum("n_tokens").cast("long").as("sum_tokens"),
          (sum("n_chars").cast("double") / count(lit(1))).as("avg_chars"))
        .orderBy("lang")
    },
    Some("""SELECT lang,
      count(*) AS n_docs,
      CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      CAST(sum(length(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS sum_tokens,
      CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
    FROM documents GROUP BY lang ORDER BY lang"""))

  /** Per-document token counts under the BPE-ish regex tokenizer. */
  val d03TokenCounts = Q(
    "d03_token_counts",
    (s, dir) => {
      val toks = regexp_extract_all(col("text"), lit(bpeRe), lit(0))
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          size(toks).as("n_bpe_tokens"),
          size(array_distinct(toks)).as("n_distinct_tokens"),
          size(split(trim(col("text")), """\s+""")).as("n_ws_tokens"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id,
      CAST(length(regexp_extract_all(text, '$bpeRe')) AS INT) AS n_bpe_tokens,
      CAST(length(list_distinct(regexp_extract_all(text, '$bpeRe'))) AS INT) AS n_distinct_tokens,
      CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_ws_tokens
    FROM documents ORDER BY doc_id"""))

  /** Whitespace token count — shared by d04 and the curation funnel. */
  private[queries] def tokenCount(text: Column): Column =
    size(split(trim(text), """\s+"""))

  /** Heuristic quality score: stopword density, length saturation, low
    * punctuation noise. Pure integer-derived double arithmetic in a fixed
    * operation order, so the oracle reproduces it bit-for-bit. Shared by
    * d04 and the curation funnel (p02), so the funnel filters on exactly
    * the score d04's oracle pins. */
  private[queries] def qualityScore(text: Column): Column = {
    val len = length(text)
    val nTok = tokenCount(text)
    val nStop = nMatches(lower(text), stopRe)
    val nPunct = length(text) - length(regexp_replace(text, """[.!?,;:]""", ""))
    val stopRatio = nStop.cast("double") / greatest(nTok, lit(1))
    val punctRatio = nPunct.cast("double") / greatest(len, lit(1))
    val lenScore = least(lit(1.0), nTok.cast("double") / 100.0)
    stopRatio * 0.4 + lenScore * 0.3 + (lit(1.0) - least(lit(1.0), punctRatio * 5.0)) * 0.3
  }

  val d04QualityScore = Q(
    "d04_quality_score",
    (s, dir) => {
      val nTok = tokenCount(col("text"))
      val nStop = nMatches(lower(col("text")), stopRe)
      val nPunct = length(col("text")) - length(regexp_replace(col("text"), """[.!?,;:]""", ""))
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          nTok.as("n_tokens"),
          nStop.as("n_stopwords"),
          nPunct.as("n_punct"),
          qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id,
      CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_tokens,
      CAST(length(regexp_extract_all(lower(text), '$stopRe')) AS INT) AS n_stopwords,
      CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS INT) AS n_punct,
      (CAST(length(regexp_extract_all(lower(text), '$stopRe')) AS DOUBLE)
         / greatest(length(regexp_split_to_array(trim(text), '\\s+')), 1)) * 0.4
      + least(1.0, CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) / 100.0) * 0.3
      + (1.0 - least(1.0, (CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1)) * 5.0)) * 0.3 AS quality
    FROM documents ORDER BY doc_id"""))

  private[queries] val langMarkers: Seq[(String, String)] = Seq(
    "de" -> """\b(der|die|und|das|ein|nicht)\b""",
    "en" -> """\b(the|and|of|to|is|that)\b""",
    "es" -> """\b(el|la|de|que|los|una)\b""",
    "fr" -> """\b(le|la|et|les|des|une)\b""",
    "zh" -> """(的|是|不|了|在)""")

  /** N-gram-heuristic language ID: argmax of per-language marker counts,
    * ties broken to the lexicographically smallest language code (the
    * greatest-chain encoding is that tie-break made explicit, mirrored
    * verbatim in the oracles). Shared by d05 and the curation funnel. */
  private[queries] def predictedLang(text: Column): Column = {
    val t = lower(text)
    val scores = langMarkers.map { case (l, re) => l -> nMatches(t, re) }.toMap
    when(scores("zh") > greatest(scores("de"), scores("en"), scores("es"), scores("fr")), "zh")
      .when(scores("fr") > greatest(scores("de"), scores("en"), scores("es")), "fr")
      .when(scores("es") > greatest(scores("de"), scores("en")), "es")
      .when(scores("en") > scores("de"), "en")
      .otherwise("de")
  }

  val d05LangId = Q(
    "d05_lang_id",
    (s, dir) => {
      val t = lower(col("text"))
      val scores = langMarkers.map { case (l, re) => l -> nMatches(t, re) }.toMap
      Tables.documents(s, dir)
        .select(
          col("doc_id"), col("lang").as("labeled_lang"),
          scores("de").as("s_de"), scores("en").as("s_en"), scores("es").as("s_es"),
          scores("fr").as("s_fr"), scores("zh").as("s_zh"),
          predictedLang(col("text")).as("predicted_lang"))
        .orderBy("doc_id")
    },
    Some {
      val scoreCols = langMarkers.map { case (l, re) =>
        s"CAST(length(regexp_extract_all(lower(text), '$re')) AS INT) AS s_$l"
      }.mkString(",\n        ")
      s"""SELECT doc_id, labeled_lang, s_de, s_en, s_es, s_fr, s_zh,
      CASE
        WHEN s_zh > greatest(s_de, s_en, s_es, s_fr) THEN 'zh'
        WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
        WHEN s_es > greatest(s_de, s_en) THEN 'es'
        WHEN s_en > s_de THEN 'en'
        ELSE 'de' END AS predicted_lang
    FROM (SELECT doc_id, lang AS labeled_lang,
        $scoreCols
      FROM documents) ORDER BY doc_id"""
    })

  /** Document fingerprinting: a truncated SHA-256 content fingerprint plus a
    * 31-ary rolling polynomial hash mod 1e9+7 computed with a higher-order
    * fold — both order-exact and oracle-reproducible. */
  val d06Fingerprint = Q(
    "d06_fingerprint",
    (s, dir) => {
      val roll = aggregate(
        split(col("text"), ""),
        lit(0L),
        (acc, c) => (acc * 31 + ascii(c)) % 1000000007L)
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          substring(sha2(col("text"), 256), 1, 16).as("fp_sha"),
          roll.as("fp_roll"))
        .orderBy("doc_id")
    },
    // list_reduce seeds from the first element; that equals a 0-seeded fold
    // since 0*31 + c0 = c0.
    Some("""SELECT doc_id,
      substring(sha256(text), 1, 16) AS fp_sha,
      list_reduce(
        list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
        (a, b) -> (a * 31 + b) % 1000000007) AS fp_roll
    FROM documents ORDER BY doc_id"""))

  /** Corpus vocabulary: explode tokens (the §2.11 table-generating path) →
    * frequency top-20. The explode shuffles nothing; only the token groupBy
    * does, keyed on the token itself. */
  val d07TokenFreq = Q(
    "d07_token_freq",
    (s, dir) => {
      Tables.documents(s, dir)
        .select(explode(split(trim(lower(col("text"))), """\s+""")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
    },
    Some("""SELECT token, count(*) AS n
    FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
          FROM documents)
    GROUP BY token ORDER BY n DESC, token LIMIT 20"""))

  private[queries] val emailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private[queries] val phoneRe = """\d{3}[-.]\d{3}[-.]\d{4}"""

  /** PII scrubbing pass: count and redact email/phone shapes. The fixture
    * corpus is clean, so the oracle verifies the scrub is an exact no-op
    * there (counts 0, fingerprint unchanged); actual redaction is pinned on
    * planted PII in the sbt suite. Row-local — a narrow map at any scale. */
  val d08PiiScrub = Q(
    "d08_pii_scrub",
    (s, dir) => {
      val scrubbed = regexp_replace(
        regexp_replace(col("text"), emailRe, "<EMAIL>"), phoneRe, "<PHONE>")
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          nMatches(col("text"), emailRe).as("n_emails"),
          nMatches(col("text"), phoneRe).as("n_phones"),
          substring(sha2(scrubbed, 256), 1, 16).as("scrubbed_fp"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id,
      CAST(length(regexp_extract_all(text, '$emailRe')) AS INT) AS n_emails,
      CAST(length(regexp_extract_all(text, '$phoneRe')) AS INT) AS n_phones,
      substring(sha256(regexp_replace(
        regexp_replace(text, '$emailRe', '<EMAIL>', 'g'), '$phoneRe', '<PHONE>', 'g')), 1, 16) AS scrubbed_fp
    FROM documents ORDER BY doc_id"""))

  /** Deterministic train/val/test split with per-split per-language
    * balance stats. Keyed on `doc_id % 10` so the oracle is engine-exact;
    * a production pipeline uses a hash of a stable id instead
    * (`pmod(xxhash64(doc_id), 10)`) — same shape, engine-specific values. */
  val d09DatasetSplit = Q(
    "d09_dataset_split",
    (s, dir) => {
      val split = when(col("doc_id") % 10 < 8, "train")
        .when(col("doc_id") % 10 === 8, "val")
        .otherwise("test")
      Tables.documents(s, dir)
        .withColumn("split", split)
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("split", "lang")
    },
    Some("""SELECT
      CASE WHEN doc_id % 10 < 8 THEN 'train'
           WHEN doc_id % 10 = 8 THEN 'val'
           ELSE 'test' END AS split,
      lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY 1, 2 ORDER BY split, lang"""))

  /** Train/holdout contamination detection: holdout documents whose
    * distinct-bigram set is ≥50% contained in some single training
    * document — the decontamination pass every eval pipeline needs. The
    * join is keyed on the shingle itself (uniform, bucket-local at scale);
    * on this fixture it finds exactly the planted near-dup pairs that
    * straddle the split boundary.
    *
    * Cost note: join fan-out is Σ_sh df_holdout(sh)·df_train(sh). Real
    * corpora have low per-shingle document frequency so this is
    * near-linear; the fixture's 31-word vocabulary makes every bigram
    * common — the worst case by construction (round-7 ScaleProbe
    * measured the unbounded form 48× wall at ×30 data). The REGISTERED
    * d10 therefore bounds the HOLDOUT side to an id range pushed to the
    * parquet scan (the e05 pattern): the audit semantics are exact over
    * the sampled holdout docs, the train side stays full-corpus, and the
    * fan-out is Σ_sh df_sample(sh)·df_train(sh) — linear in the corpus
    * for a fixed sample. The production knobs over the FULL holdout set
    * are d13 (LSH candidates), d16 (Bloom prune, bit-identical) and d17
    * (stop-shingle cap, 99.8% shuffle reduction measured); a full
    * unbounded audit remains available as `containmentPairs(docs)` for
    * callers who accept the quadratic-fan-out cost knowingly. */
  /** Stop-shingle document-frequency cap for [[containmentPairs]]: drop
    * shingles whose training-side df exceeds the cutoff BEFORE the
    * inverted-index join, and recompute each holdout doc's gram count over
    * the surviving shingles so containment stays a well-defined fraction.
    * This changes the containment definition (capped ≠ exhaustive), which
    * is why d10/d16 never apply it — d17 registers the capped semantics
    * with the identical cutoff mirrored in its oracle SQL.
    *
    * [[FractionalDf]] is the production knob (drop df > nTrainDocs/denom —
    * pure integer compare, no float threshold to tie-break differently
    * across engines); [[AbsoluteDf]] exists for the scaling probe, where
    * token-salted replication holds per-shingle df constant while the
    * corpus grows, so only an absolute cutoff stays binding.
    */
  sealed trait StopDfCap
  final case class AbsoluteDf(maxDf: Long) extends StopDfCap
  final case class FractionalDf(denom: Int) extends StopDfCap

  /** d16's Bloom build: tree-aggregate a `BloomFilterAggregate` over
    * `xxhash64(keyCol)` on the executors (≈1 MB binary, the only driver
    * round-trip — the same contract as a broadcast). Exposed with
    * [[bloomProbe]] so callers measuring the filter ([[graft.BloomProbe]])
    * exercise the SAME build/probe machinery the timed d16 path runs,
    * not a lookalike with different hash insertion. */
  def bloomBuild(df: org.apache.spark.sql.DataFrame, keyCol: Column,
      items: Long = 1L << 20, bits: Long = 1L << 23): Array[Byte] = {
    import org.apache.spark.sql.graftbridge.GraftPlanBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    df.select(GraftPlanBridge.column(new BloomFilterAggregate(
        GraftPlanBridge.expression(xxhash64(keyCol)),
        Literal(items), Literal(bits))
      .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** The matching codegen'd probe: `BloomFilterMightContain` over
    * `xxhash64(keyCol)` against [[bloomBuild]]'s bytes. */
  def bloomProbe(bytes: Array[Byte], keyCol: Column): Column = {
    import org.apache.spark.sql.graftbridge.GraftPlanBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    GraftPlanBridge.column(new BloomFilterMightContain(
      Literal.create(bytes, org.apache.spark.sql.types.BinaryType),
      GraftPlanBridge.expression(xxhash64(keyCol))))
  }

  /** The d10 pipeline body over an arbitrary `(doc_id, text)` frame —
    * shared with [[graft.ScaleProbe]] so the scaling probe times exactly
    * the registered plan. Returns (holdout_doc, train_doc, n_shared,
    * containment) with the ≥ 0.5 filter applied, containment unrounded. */
  def containmentPairs(
      docs: org.apache.spark.sql.DataFrame,
      bloomPrefilter: Boolean = false,
      stopDfCap: Option[StopDfCap] = None): org.apache.spark.sql.DataFrame = {
    import graft.operators.MinHashLsh
    val d = docs
      .withColumn("split",
        when(col("doc_id") % 10 < 8, "train").otherwise("holdout"))
      .select(col("doc_id"), col("split"),
        MinHashLsh.shingles(col("text"), 2).as("grams"))
      .persist()
    val g = d.select(
      col("doc_id"), col("split"), size(col("grams")).as("n_grams"),
      explode(col("grams")).as("sh"))
    val h0 = g.filter(col("split") === "holdout")
      .select(col("doc_id").as("holdout_doc"), col("n_grams").as("hn"), col("sh"))
    val tAll = g.filter(col("split") === "train")
      .select(col("doc_id").as("train_doc"), col("sh"))
    // Stop-shingle cap: the stop SET (shingles above the df cutoff) is tiny
    // by Zipf — a handful of ubiquitous n-grams — so it broadcasts and both
    // streams drop their heavy keys at a scan-adjacent anti-join, bounding
    // the per-shingle join fan-out at df_h·cap. Holdout gram counts are
    // recomputed post-filter (one narrow agg keyed on holdout_doc).
    val (h, t0) = stopDfCap match {
      case None => (h0, tAll)
      case Some(cap) =>
        val dfs = tAll.groupBy("sh").agg(count(lit(1)).as("df"))
        val stop = (cap match {
          case AbsoluteDf(m) => dfs.filter(col("df") > m)
          case FractionalDf(denom) =>
            val nTrain = d.filter(col("split") === "train")
              .agg(count(lit(1)).as("n_train"))
            dfs.crossJoin(broadcast(nTrain))
              .filter(col("df") * denom > col("n_train"))
        }).select("sh")
        val hf = h0.drop("hn").join(broadcast(stop), Seq("sh"), "left_anti")
        val tf = tAll.join(broadcast(stop), Seq("sh"), "left_anti")
        val hn2 = hf.groupBy("holdout_doc").agg(count(lit(1)).as("hn"))
        (hf.join(hn2, "holdout_doc"), tf)
    }
    // Optional Bloom prune of the train stream (d16): semantics-neutral —
    // a shingle absent from the holdout set can't join, and false
    // positives die in the exact join below. See d16's doc for the build
    // and probe machinery.
    val t =
      if (!bloomPrefilter) t0
      else t0.filter(bloomProbe(bloomBuild(h, col("sh")), col("sh")))
    h.join(t, "sh")
      .groupBy("holdout_doc", "train_doc")
      .agg(count(lit(1)).as("n_shared"), first("hn").as("hn"))
      .withColumn("containment", col("n_shared").cast("double") / col("hn"))
      .filter(col("containment") >= 0.5)
  }

  val d10Contamination = Q(
    "d10_contamination",
    (s, dir) => {
      // Two scans of the same table: the train side needs every row (the
      // %10 split is not a pushable predicate), but the holdout sample's
      // doc_id < 200 bound IS pushed to its scan as a conjunct — the
      // sampled audit reads O(1) holdout row groups at any corpus size.
      val train = Tables.documents(s, dir).filter(col("doc_id") % 10 < 8)
      val holdoutSample = Tables.documents(s, dir)
        .filter(col("doc_id") < 200 && col("doc_id") % 10 >= 8)
      containmentPairs(train.unionByName(holdoutSample))
        .select(col("holdout_doc"), col("train_doc"), col("n_shared"),
          round(col("containment"), 6).as("containment"))
        .orderBy("holdout_doc", "train_doc")
    },
    Some("""WITH d AS (
      SELECT doc_id, CASE WHEN doc_id % 10 < 8 THEN 'train' ELSE 'holdout' END AS split,
        list_distinct(list_transform(
          list_zip(tokens[1:length(tokens)-1], tokens[2:]),
          s -> s[1] || chr(32) || s[2])) AS grams
      FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tokens FROM documents)
      WHERE doc_id % 10 < 8 OR doc_id < 200),
    g AS (SELECT doc_id, split, length(grams) AS n_grams, unnest(grams) AS sh FROM d),
    p AS (
      SELECT h.doc_id AS holdout_doc, t.doc_id AS train_doc,
        count(*) AS n_shared, any_value(h.n_grams) AS hn
      FROM (SELECT * FROM g WHERE split = 'holdout') h
      JOIN (SELECT * FROM g WHERE split = 'train') t USING (sh)
      GROUP BY 1, 2)
    SELECT holdout_doc, train_doc, n_shared,
      round(CAST(n_shared AS DOUBLE) / hn, 6) AS containment
    FROM p WHERE CAST(n_shared AS DOUBLE) / hn >= 0.5
    ORDER BY holdout_doc, train_doc"""))

  /** Contamination detection, production path: the same train/holdout
    * containment semantics as d10, but candidate pairs come from shared
    * MinHash-LSH band buckets (cross-split only) instead of the full
    * shingle-keyed inverted-index join, and the exact containment check
    * runs per candidate pair on the shingle arrays.
    *
    * Where d10's join fan-out is Σ_sh df_holdout(sh)·df_train(sh) — ~38M
    * rows at sf0.1 on this fixture's deliberately worst-case 31-word
    * vocabulary — the band join collides only near-identical signatures,
    * so cost tracks the number of actual near-dups. The trade is recall:
    * banded MinHash targets Jaccard, and containment ≥ 0.5 against a much
    * longer training document can sit below the band threshold — the
    * documented regime split (d10 = exhaustive audit, d13 = production
    * sweep). On the fixture both find exactly the planted cross-split
    * pairs, so d13 is oracle-gated against d10's brute-force SQL.
    */
  val d13ContaminationLsh = Q(
    "d13_contamination_lsh",
    (s, dir) => {
      import graft.operators.MinHashLsh
      val p = MinHashLsh.Params()
      val sh = Tables.documents(s, dir)
        .select(col("doc_id").as("id"),
          when(col("doc_id") % 10 < 8, "train").otherwise("holdout").as("split"),
          MinHashLsh.shingles(col("text"), p.shingleSize).as("shingles"))
        .persist()
      val sigs = MinHashLsh.signaturesFromShingles(
          sh.select("id", "shingles"), p)
        .join(sh.select("id", "split"), "id")
      val bands = sigs
        .select(col("id"), col("split"),
          posexplode(MinHashLsh.bandHashes(col("sig"), p.bands, p.rowsPerBand)))
        .toDF("id", "split", "band_idx", "band_hash")
      val cand = bands.filter(col("split") === "holdout").as("x")
        .join(bands.filter(col("split") === "train").as("y"),
          col("x.band_idx") === col("y.band_idx") &&
            col("x.band_hash") === col("y.band_hash"))
        .select(col("x.id").as("holdout_doc"), col("y.id").as("train_doc"))
        .distinct()
      val hs = sh.filter(col("split") === "holdout")
        .select(col("id").as("holdout_doc"), col("shingles").as("sh_h"))
      val ts = sh.filter(col("split") === "train")
        .select(col("id").as("train_doc"), col("shingles").as("sh_t"))
      cand.join(hs, "holdout_doc").join(ts, "train_doc")
        .withColumn("n_shared",
          size(array_intersect(col("sh_h"), col("sh_t"))).cast("long"))
        .withColumn("containment",
          col("n_shared").cast("double") / size(col("sh_h")))
        .filter(col("containment") >= 0.5)
        .select(col("holdout_doc"), col("train_doc"), col("n_shared"),
          round(col("containment"), 6).as("containment"))
        .orderBy("holdout_doc", "train_doc")
    },
    Some("""WITH d AS (
      SELECT doc_id, CASE WHEN doc_id % 10 < 8 THEN 'train' ELSE 'holdout' END AS split,
        list_distinct(list_transform(
          list_zip(tokens[1:length(tokens)-1], tokens[2:]),
          s -> s[1] || chr(32) || s[2])) AS grams
      FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tokens FROM documents)),
    g AS (SELECT doc_id, split, length(grams) AS n_grams, unnest(grams) AS sh FROM d),
    p AS (
      SELECT h.doc_id AS holdout_doc, t.doc_id AS train_doc,
        count(*) AS n_shared, any_value(h.n_grams) AS hn
      FROM (SELECT * FROM g WHERE split = 'holdout') h
      JOIN (SELECT * FROM g WHERE split = 'train') t USING (sh)
      GROUP BY 1, 2)
    SELECT holdout_doc, train_doc, n_shared,
      round(CAST(n_shared AS DOUBLE) / hn, 6) AS containment
    FROM p WHERE CAST(n_shared AS DOUBLE) / hn >= 0.5
    ORDER BY holdout_doc, train_doc"""))

  /** Per-document repetition score: the dominant token and its share of
    * all tokens — a standard boilerplate/low-quality signal. */
  val d11Repetition = Q(
    "d11_repetition",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), """\s+""")).as("token"))
      val counts = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("doc_id")
      val rankW = Window.partitionBy("doc_id").orderBy(col("n").desc, col("token"))
      counts
        .withColumn("total", sum("n").over(w))
        .withColumn("rn", row_number().over(rankW))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("token").as("top_token"), col("n").as("top_count"),
          round(col("n").cast("double") / col("total"), 6).as("repetition"))
        .orderBy("doc_id")
    },
    Some("""WITH c AS (
      SELECT doc_id, token, count(*) AS n
      FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
            FROM documents)
      GROUP BY doc_id, token),
    r AS (
      SELECT doc_id, token, n,
        sum(n) OVER (PARTITION BY doc_id) AS total,
        row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, token) AS rn
      FROM c)
    SELECT doc_id, token AS top_token, CAST(n AS BIGINT) AS top_count,
      round(CAST(n AS DOUBLE) / total, 6) AS repetition
    FROM r WHERE rn = 1 ORDER BY doc_id"""))

  /** Bigram vocabulary via the CUSTOM Generator rung
    * ([[graft.functions.ShingleExplode]], SQL `graft_shingles`): rows
    * stream out of the generator per document — no per-document n-gram
    * array ever materializes, the property that matters when one document
    * fans out to 10⁵ shingles. Count = document frequency (shingles are
    * per-doc distinct), top-20 with lexicographic tiebreak. */
  val d12BigramVocab = Q(
    "d12_bigram_vocab",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      Tables.documents(s, dir)
        .select(col("doc_id"), expr("graft_shingles(text, 2)").as("shingle"))
        .groupBy("shingle")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("shingle"))
        .limit(20)
    },
    Some("""WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
        list_zip(toks[1:length(toks)-1], toks[2:]),
        s -> s[1] || chr(32) || s[2]))) AS shingle
      FROM t)
    SELECT shingle, count(*) AS n_docs
    FROM g GROUP BY shingle
    ORDER BY n_docs DESC, shingle LIMIT 20"""))

  /** Per-document repeated-n-gram fraction — the corpus-level duplicated-
    * span signal behind exact-substring dedup (Lee et al. 2022,
    * arXiv:2107.06499): for each document, the share of its distinct
    * 5-gram shingles that also occur in at least one OTHER document. Near
    * 1.0 ⇒ the document is assembled from text seen elsewhere (the planted
    * near-dups score 1.0 on this fixture); organic documents sit an order
    * of magnitude lower.
    *
    * Shape: shingles are DISTINCT per document, so a shingle with document
    * frequency 1 has exactly one owner — which means "repeated" counts
    * derive from two map-side-combined aggregates and a doc-level join,
    * never a join back onto the exploded shingle stream:
    * n_repeated(doc) = n_grams(doc) − |shingles owned uniquely by doc|,
    * where the unique-owner table falls out of the df aggregate itself
    * (min(doc_id) of a df=1 group IS the owner). Cost is linear in shingle
    * volume and the only join is on ~|docs| rows; no pairwise document work
    * anywhere (contrast d10's containment join). The document-frequency
    * aggregate groups on `xxhash64(shingle)`, not the string, so the
    * shuffle carries 8-byte keys. Each pair of distinct grams collides
    * with probability 2⁻⁶⁴; a collision merges two grams' counts and marks
    * both as repeated. That is negligible on the fixtures but becomes
    * likely (birthday bound) at billions of distinct grams, where the
    * result is no longer string-exact. */
  /** The d14 pipeline body over an arbitrary `(doc_id, text)` frame —
    * shared with [[graft.ScaleProbe]] so the scaling probe times exactly
    * the registered plan. */
  def repeatedNgramFractions(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.operators.MinHashLsh
    // Shingle arrays are the expensive narrow step — materialize once
    // (both the per-doc size and the exploded df aggregate consume them).
    val d = docs
      .select(col("doc_id"), MinHashLsh.shingles(col("text"), 5).as("grams"))
      .persist()
    val uniq = d
      .select(col("doc_id"), explode(col("grams")).as("sh"))
      .groupBy(xxhash64(col("sh")).as("shh"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("owner"))
      .filter(col("n_docs") === 1L)
      .groupBy(col("owner").as("doc_id"))
      .agg(count(lit(1)).as("n_unique"))
    d.select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"))
      .join(uniq, Seq("doc_id"), "left")
      .withColumn("n_repeated",
        col("n_grams") - coalesce(col("n_unique"), lit(0L)))
      .select(col("doc_id"), col("n_grams"), col("n_repeated"),
        // A document shorter than the shingle width has no 5-grams: the
        // fraction is undefined (NULL), never a divide-by-zero (ANSI).
        when(col("n_grams") > 0L,
          round(col("n_repeated").cast("double") / col("n_grams"), 6))
          .as("dup_fraction"))
  }

  val d14RepeatedNgrams = Q(
    "d14_repeated_ngrams",
    (s, dir) =>
      repeatedNgramFractions(Tables.documents(s, dir)).orderBy("doc_id"),
    Some("""WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      FROM documents),
    d AS (
      SELECT doc_id, list_distinct(list_transform(
        range(1, greatest(length(toks) - 4, 0) + 1),
        i -> array_to_string(toks[i:i+4], chr(32)))) AS grams
      FROM t),
    g AS (SELECT doc_id, unnest(grams) AS sh FROM d),
    df AS (SELECT sh, count(DISTINCT doc_id) AS n_docs FROM g GROUP BY sh),
    rep AS (
      SELECT g.doc_id,
        CAST(sum(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_repeated
      FROM g JOIN df USING (sh) GROUP BY g.doc_id)
    SELECT d.doc_id, CAST(length(grams) AS BIGINT) AS n_grams,
      coalesce(rep.n_repeated, 0) AS n_repeated,
      CASE WHEN length(grams) > 0
        THEN round(CAST(coalesce(rep.n_repeated, 0) AS DOUBLE)
          / length(grams), 6) END AS dup_fraction
    FROM d LEFT JOIN rep USING (doc_id)
    ORDER BY d.doc_id"""))

  /** DSIR-style importance weighting (Xie et al. 2023, arXiv:2302.03169,
    * "Data Selection for Language Models via Importance Resampling"): score
    * each raw document by the log-likelihood ratio of its tokens under a
    * TARGET unigram model (here the `lang = 'en'` slice, standing in for
    * the curated target corpus) vs the RAW corpus model, with add-1
    * smoothing over the shared vocabulary. Positive log-weight ⇒ the
    * document looks more like the target than the average raw document;
    * DSIR then resamples proportionally to exp(weight) — the deterministic
    * acceptance flag here keeps the ≥ 0 slice.
    *
    * Shape: two token-keyed aggregates (raw counts, target counts) — both
    * map-side combined — a broadcast of three scalars (token totals +
    * vocabulary size), then one join of the token stream against the
    * per-token count table and a per-doc aggregate. Cost is linear in token
    * volume; the only wide ops shuffle on the token, uniform at corpus
    * scale. The paper buckets features via hashed n-grams to cap model
    * size — on a 100 TB corpus the same plan holds with
    * `pmod(xxhash64(token), 2^20)` as the feature key (fixed-width shuffle
    * key, bounded count table); the fixture's small vocabulary lets the
    * oracle stay string-exact instead.
    *
    * Determinism: per-token `ln` may differ from DuckDB's by ≤ 1 ulp; the
    * DECIMAL(28,15) cast before the sum makes the aggregation
    * order-independent and the final round(…, 6) absorbs the ulp (same
    * argument as c04).
    */
  val d15DsirImportance = Q(
    "d15_dsir_importance",
    (s, dir) => {
      // One tokenize/explode pass feeds everything: the stream is consumed
      // by the raw-count aggregate, the target-count aggregate, and the
      // final per-doc join (the d14 shingle-frame persist discipline). The
      // model totals derive from the count tables themselves — nr = Σcr,
      // nt = Σct — never a re-scan of the corpus.
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(split(trim(lower(col("text"))), """\s+""")).as("token"))
        .persist()
      val rawCounts = tok.groupBy("token").agg(count(lit(1)).as("cr"))
      val tgtCounts = tok.filter(col("lang") === "en")
        .groupBy("token").agg(count(lit(1)).as("ct"))
      val stats = rawCounts
        .agg(sum("cr").as("nr"), count(lit(1)).as("v"))
        .crossJoin(tgtCounts.agg(coalesce(sum("ct"), lit(0L)).as("nt")))
      val lr = log(
        ((coalesce(col("ct"), lit(0L)) + lit(1.0)) / (col("nt") + col("v"))) /
          ((col("cr") + lit(1.0)) / (col("nr") + col("v"))))
      tok
        .join(rawCounts, "token")
        .join(tgtCounts, Seq("token"), "left")
        .crossJoin(broadcast(stats))
        .withColumn("lr", lr)
        .groupBy("doc_id", "lang")
        .agg(
          count(lit(1)).as("n_tokens"),
          round(sum(col("lr").cast("decimal(28,15)")).cast("double"), 6)
            .as("log_weight"))
        .withColumn("keep", col("log_weight") >= 0)
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (
      SELECT doc_id, lang,
        unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      FROM documents),
    cr AS (SELECT token, count(*) AS cr FROM tok GROUP BY token),
    ct AS (SELECT token, count(*) AS ct FROM tok WHERE lang = 'en' GROUP BY token),
    st AS (SELECT
      (SELECT CAST(sum(cr) AS BIGINT) FROM cr) AS nr,
      (SELECT count(*) FROM cr) AS v,
      (SELECT count(*) FROM tok WHERE lang = 'en') AS nt),
    w AS (
      SELECT tok.doc_id, tok.lang, count(*) AS n_tokens,
        round(CAST(sum(CAST(ln(
          ((COALESCE(ct.ct, 0) + 1.0) / (st.nt + st.v)) /
          ((cr.cr + 1.0) / (st.nr + st.v))) AS DECIMAL(28,15))) AS DOUBLE), 6)
          AS log_weight
      FROM tok JOIN cr USING (token) LEFT JOIN ct USING (token), st
      GROUP BY tok.doc_id, tok.lang)
    SELECT doc_id, lang, n_tokens, log_weight, log_weight >= 0 AS keep
    FROM w ORDER BY doc_id"""))

  /** Bloom-prefiltered contamination join: d10's exact train/holdout
    * containment semantics, with the TRAIN shingle stream pre-filtered
    * through a Bloom filter built over the (small) holdout side before the
    * inverted-index join. A shingle absent from the holdout set can't
    * contribute a joined row, and Bloom false positives merely survive to
    * the exact join where they match nothing — so the output is
    * bit-identical to the unbounded exhaustive audit, and the oracle is
    * the full-corpus brute-force SQL (d10's registration samples its
    * holdout side for scale hygiene; d16 keeps the FULL holdout set —
    * the Bloom prune is exactly what makes that affordable, measured
    * 1.5× faster and diverging at ×120 in BloomProbe).
    *
    * This is THE scale pattern for asymmetric containment checks: at
    * 100 TB the train side is the corpus and the holdout side is a fixed
    * benchmark suite (millions of shingles ⇒ a few-MB filter), so the
    * corpus stream drops nearly every row at the scan-adjacent filter
    * instead of carrying it into the shuffle — the same motion as Spark's
    * injected runtime bloom filters (`RuntimeFilterSuite`), but across an
    * explicit aggregation boundary the optimizer can't see through. The
    * build and probe are the SAME Catalyst expressions runtime filtering
    * uses (`BloomFilterAggregate` / `BloomFilterMightContain` over
    * xxhash64 keys): the sketch is tree-aggregated on executors, only the
    * ~1 MB filter binary touches the driver (model-size bounded, like a
    * centroid table), and the probe participates in whole-stage codegen —
    * no UDF, no per-row boxing. Build-side scan + probe-side scan share
    * the persisted shingle frame.
    */
  val d16BloomContamination = Q(
    "d16_bloom_contamination",
    (s, dir) => {
      containmentPairs(Tables.documents(s, dir), bloomPrefilter = true)
        .select(col("holdout_doc"), col("train_doc"), col("n_shared"),
          round(col("containment"), 6).as("containment"))
        .orderBy("holdout_doc", "train_doc")
    },
    Some("""WITH d AS (
      SELECT doc_id, CASE WHEN doc_id % 10 < 8 THEN 'train' ELSE 'holdout' END AS split,
        list_distinct(list_transform(
          list_zip(tokens[1:length(tokens)-1], tokens[2:]),
          s -> s[1] || chr(32) || s[2])) AS grams
      FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tokens FROM documents)),
    g AS (SELECT doc_id, split, length(grams) AS n_grams, unnest(grams) AS sh FROM d),
    p AS (
      SELECT h.doc_id AS holdout_doc, t.doc_id AS train_doc,
        count(*) AS n_shared, any_value(h.n_grams) AS hn
      FROM (SELECT * FROM g WHERE split = 'holdout') h
      JOIN (SELECT * FROM g WHERE split = 'train') t USING (sh)
      GROUP BY 1, 2)
    SELECT holdout_doc, train_doc, n_shared,
      round(CAST(n_shared AS DOUBLE) / hn, 6) AS containment
    FROM p WHERE CAST(n_shared AS DOUBLE) / hn >= 0.5
    ORDER BY holdout_doc, train_doc"""))

  /** Contamination with the production stop-shingle cap REGISTERED: drop
    * shingles present in more than 1/20th (5%) of training documents
    * before the inverted-index join, containment recomputed over the
    * surviving shingles. This is the form a 100 TB decontamination run
    * actually executes — d10's uncapped audit has Σ df_h·df_t fan-out
    * (measured 48× wall at ×30 in ScaleProbe), while the cap bounds every
    * shingle's fan-out at df_h·(n/20) and the probe's `contain_capped` row
    * shows the flattened curve. The cutoff is integer-exact (df·20 >
    * nTrainDocs) and mirrored verbatim in the oracle SQL, so the capped
    * semantics are hash-gated end-to-end, not prose.
    */
  val d17ContaminationCapped = Q(
    "d17_contamination_capped",
    (s, dir) => {
      containmentPairs(Tables.documents(s, dir),
          stopDfCap = Some(FractionalDf(20)))
        .select(col("holdout_doc"), col("train_doc"), col("n_shared"),
          round(col("containment"), 6).as("containment"))
        .orderBy("holdout_doc", "train_doc")
    },
    Some("""WITH d AS (
      SELECT doc_id, CASE WHEN doc_id % 10 < 8 THEN 'train' ELSE 'holdout' END AS split,
        list_distinct(list_transform(
          list_zip(tokens[1:length(tokens)-1], tokens[2:]),
          s -> s[1] || chr(32) || s[2])) AS grams
      FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tokens FROM documents)),
    g AS (SELECT doc_id, split, unnest(grams) AS sh FROM d),
    stop AS (
      SELECT sh FROM g WHERE split = 'train' GROUP BY sh
      HAVING count(*) * 20 > (SELECT count(*) FROM d WHERE split = 'train')),
    hf AS (
      SELECT doc_id AS holdout_doc, sh FROM g
      WHERE split = 'holdout' AND sh NOT IN (SELECT sh FROM stop)),
    tf AS (
      SELECT doc_id AS train_doc, sh FROM g
      WHERE split = 'train' AND sh NOT IN (SELECT sh FROM stop)),
    hn AS (SELECT holdout_doc, count(*) AS hn FROM hf GROUP BY 1),
    p AS (
      SELECT hf.holdout_doc, tf.train_doc, count(*) AS n_shared
      FROM hf JOIN tf USING (sh) GROUP BY 1, 2)
    SELECT p.holdout_doc, p.train_doc, n_shared,
      round(CAST(n_shared AS DOUBLE) / hn.hn, 6) AS containment
    FROM p JOIN hn ON p.holdout_doc = hn.holdout_doc
    WHERE CAST(n_shared AS DOUBLE) / hn.hn >= 0.5
    ORDER BY p.holdout_doc, p.train_doc"""))

  /** POSITIONAL k-gram windows of a token array — every window, one per
    * start index, unlike [[graft.operators.MinHashLsh.shingles]] which
    * dedups (set semantics). Span scoring needs positions, so duplicates
    * within a document are kept. Guarded `when`: `sequence(1, 0)` would
    * generate DESCENDING [1, 0]. */
  private def posWindows(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - lit(k - 1)),
        i => array_join(slice(toks, i, lit(k)), " ")))
      .otherwise(array().cast("array<string>"))

  /** The d18 pipeline body over an arbitrary `(doc_id, text)` frame —
    * shared with [[graft.ScaleProbe]] so the scaling probe times exactly
    * the registered plan. */
  /** Tokenized `(doc_id, toks)` frame — d18/d19's shared tokenizer. */
  private def spanToks(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(
      col("doc_id"),
      split(trim(lower(col("text"))), """\s+""").as("toks"))

  /** Maximal cross-doc duplicated-span intervals in 1-based token
    * positions: `(doc_id, island, start, end, nw)` — the single
    * definition both d18 (coverage arithmetic) and d19 (span removal)
    * consume, so score and cut can never disagree on what a span is. */
  /** The exploded positional-window frame `(doc_id, pos, gram)` of a
    * tokenized corpus — the inverted-index surface both the in-frame dup
    * derivation below and the INCREMENTAL gram index
    * ([[IncrementalCuration]]) are built from: maintaining it per batch is
    * what makes span removal O(changed) instead of O(corpus) per trigger. */
  private[queries] def spanWindowFrame(t: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame =
    t.select(col("doc_id"), posexplode(posWindows(col("toks"), k)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("gram"))

  /** Islands from an EXPLICIT duplicated-gram set: identical doc-local
    * arithmetic to [[dupSpanIslands]], but "duplicated" membership comes
    * from the caller's `dupGrams` relation — the seam the incremental
    * engine plugs its MAINTAINED gram counts into. The in-frame variant
    * is exactly this with `dupGrams` derived from `wins` itself, so the
    * two can never disagree on what a span is. */
  private[queries] def islandsFromDup(wins: org.apache.spark.sql.DataFrame,
      dupGrams: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Join-back is many-to-one on the gram key (no fan-out: output rows =
    // duplicated window rows), then all remaining work is doc-local.
    val dw = wins.join(dupGrams.select("gram"), "gram").select("doc_id", "pos")
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    // Windows [p, p+k-1] and [q, q+k-1] belong to one contiguous duplicated
    // span iff q − p ≤ k (overlap or exact adjacency); a larger gap leaves
    // uncovered tokens between them and starts a new island. The running
    // sum of break flags numbers the islands; the interval is then pure
    // min/max arithmetic per island. First row: lag is NULL, NULL > k is
    // NULL, `when` falls to otherwise(0) — the first island starts at 0.
    dw
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byPos) > k, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(byPos))
      .groupBy(col("doc_id"), col("island"))
      .agg(
        min("pos").cast("long").as("start"),
        (max("pos") + k - 1).cast("long").as("end"),
        count(lit(1)).as("nw"))
  }

  private def dupSpanIslands(t: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    // The exploded positional-window frame feeds two consumers (the df
    // aggregate and the join-back) — materialize once, d14's discipline.
    val wins = spanWindowFrame(t, k).persist()
    // "Duplicated" = the window text occurs in ≥2 DISTINCT documents.
    // min≠max over doc_id decides that in ONE map-side-combined aggregate —
    // no count-distinct expansion, and the Zipf-heavy grams (stopword runs)
    // cost two longs of agg state each, never a big group materialization.
    val dup = wins.groupBy("gram")
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select("gram")
    islandsFromDup(wins, dup, k)
  }

  def dupSpanCoverage(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val k = 5
    val t = spanToks(docs)
    val isl = dupSpanIslands(t, k)
      .withColumn("len", col("end") - col("start") + 1)
    val agg = isl.groupBy("doc_id")
      .agg(
        sum(col("nw")).as("n_dup_windows"),
        sum(col("len")).as("covered_tokens"),
        max(col("len")).as("max_dup_span"))
    t.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(agg, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        coalesce(col("max_dup_span"), lit(0L)).as("max_dup_span"),
        // n_tokens ≥ 1 always (split of "" is [""]), so the ANSI division
        // cannot hit zero.
        round(coalesce(col("covered_tokens"), lit(0L)).cast("double")
          / col("n_tokens"), 6).as("dup_coverage"))
  }

  /** Cross-document duplicated-SPAN coverage — the positional form of
    * exact-substring dedup (Lee et al. 2022, arXiv:2107.06499: cut exact
    * duplicated substrings, not whole documents). d14 scores the share of
    * a document's DISTINCT 5-grams seen elsewhere; this measures how much
    * of the document's actual token RUN is covered once overlapping /
    * adjacent duplicated windows are merged into maximal spans — the
    * quantity a substring-level cut acts on (`max_dup_span` is the longest
    * single cut candidate).
    *
    * Shape: one gram-keyed aggregate (df via min≠max doc_id), one
    * many-to-one gram-keyed join-back, then doc-local windows. Cost is
    * linear in token volume; both shuffles key on the gram text — at
    * 100 TB the gram would ride as xxhash64(gram) (fixed-width uniform
    * key), kept raw here so the oracle is string-exact. The island merge
    * is a doc-partitioned sort — bounded by the longest single document,
    * never corpus-wide. */
  val d18DupSpans = Q(
    "d18_dup_spans",
    (s, dir) => dupSpanCoverage(Tables.documents(s, dir)).orderBy("doc_id"),
    Some("""WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      FROM documents),
    w AS (
      SELECT doc_id, pos, array_to_string(toks[pos:pos+4], chr(32)) AS gram
      FROM (SELECT doc_id, toks,
              unnest(range(1, greatest(length(toks) - 4, 0) + 1)) AS pos
            FROM t)),
    dg AS (SELECT gram FROM w GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
    dw AS (SELECT w.doc_id, w.pos FROM w JOIN dg USING (gram)),
    i1 AS (
      SELECT doc_id, pos,
        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
          THEN 1 ELSE 0 END AS brk
      FROM dw),
    i2 AS (
      SELECT doc_id, pos,
        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM i1),
    isl AS (
      SELECT doc_id, island, max(pos) - min(pos) + 5 AS len, count(*) AS nw
      FROM i2 GROUP BY doc_id, island),
    agg AS (
      SELECT doc_id, sum(nw) AS n_dup_windows, sum(len) AS covered_tokens,
        max(len) AS max_dup_span
      FROM isl GROUP BY doc_id)
    SELECT t.doc_id, CAST(length(toks) AS BIGINT) AS n_tokens,
      CAST(coalesce(agg.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
      CAST(coalesce(agg.covered_tokens, 0) AS BIGINT) AS covered_tokens,
      CAST(coalesce(agg.max_dup_span, 0) AS BIGINT) AS max_dup_span,
      round(CAST(coalesce(agg.covered_tokens, 0) AS DOUBLE) / length(toks), 6)
        AS dup_coverage
    FROM t LEFT JOIN agg USING (doc_id)
    ORDER BY doc_id"""))

  /** The d19 pipeline body: CUT the duplicated spans d18 scores — drop
    * every token inside a maximal cross-doc duplicated-span interval and
    * re-emit the cleaned document (Lee et al. 2022's substring-level
    * dedup, the operation that beats whole-doc dropping on partially
    * duplicated crawl text). Islands come from [[dupSpanIslands]] — the
    * SAME definition d18 aggregates — so `removed_tokens` here equals
    * d18's `covered_tokens` by construction (asserted in the sbt suite).
    * The cut itself is doc-local: the island set collects to a per-doc
    * sorted interval array (bounded by the doc's own span count), and a
    * positional `filter` + `exists` lambda keeps tokens outside every
    * interval — no second shuffle after the islands are known. */
  def dupSpanRemoval(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val k = SpanK
    cutIslands(spanToks(docs), dupSpanIslands(spanToks(docs), k), k)
  }

  /** Span-removal window width (5-grams) — one definition for the batch
    * operator and the incremental gram index. */
  private[queries] val SpanK = 5

  /** The DISTINCT (gram, doc_id) pairs of a document frame — the rows the
    * incremental engine's maintained gram index holds per kept document
    * (gram text exactly as [[spanWindowFrame]] renders it, so maintained
    * counts and the in-frame dup derivation can never disagree). */
  private[queries] def spanGramPairs(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    spanWindowFrame(spanToks(docs), SpanK).select("gram", "doc_id").distinct()

  /** [[dupSpanRemoval]] with an EXPLICIT duplicated-gram set (membership
    * from `dupGrams(gram)`) — the incremental engine's entry: it maintains
    * gram → distinct-kept-doc counts across triggers and recomputes only
    * documents whose grams' duplicated status flipped. Output is
    * column-identical to [[dupSpanRemoval]]; the in-frame operator equals
    * this with the dup set derived from the same frame. */
  def dupSpanRemovalWith(docs: org.apache.spark.sql.DataFrame,
      dupGrams: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val k = SpanK
    val t = spanToks(docs)
    cutIslands(t, islandsFromDup(spanWindowFrame(t, k), dupGrams, k), k)
  }

  private def cutIslands(t: org.apache.spark.sql.DataFrame,
      islands: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    val spans = islands
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("start"), col("end")))).as("spans"))
    t.join(spans, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("spans").isNull, col("toks")).otherwise(
          filter(col("toks"), (_, i) =>
            !exists(col("spans"), sp =>
              (i + 1) >= sp.getField("start") && (i + 1) <= sp.getField("end")))))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("kept_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("removed_tokens"),
        array_join(col("kept"), " ").as("cleaned_text"))
  }

  /** d19's oracle CTE chain over an arbitrary `(doc_id, text)` relation —
    * islands → covered positions → kept token run. ONE definition (the
    * reachCtesSql discipline) shared by d19 (src = `documents`) and the
    * composed curation pipeline p03 (src = the dedup survivors), so the
    * two gates can never drift on what a removed span is. Exposes CTEs
    * `t` (doc_id, toks) and `keptl` (doc_id, cleaned, kept); consumers
    * LEFT JOIN them (a fully-removed doc has no `keptl` row → coalesce). */
  private[queries] def dupSpanCtesSql(srcRel: String): String = s"""t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      FROM $srcRel),
    w AS (
      SELECT doc_id, pos, array_to_string(toks[pos:pos+4], chr(32)) AS gram
      FROM (SELECT doc_id, toks,
              unnest(range(1, greatest(length(toks) - 4, 0) + 1)) AS pos
            FROM t)),
    dg AS (SELECT gram FROM w GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
    dw AS (SELECT w.doc_id, w.pos FROM w JOIN dg USING (gram)),
    i1 AS (
      SELECT doc_id, pos,
        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
          THEN 1 ELSE 0 END AS brk
      FROM dw),
    i2 AS (
      SELECT doc_id, pos,
        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM i1),
    isl AS (
      SELECT doc_id, island, min(pos) AS s, max(pos) + 4 AS e
      FROM i2 GROUP BY doc_id, island),
    tokv AS (
      SELECT doc_id, unnest(range(1, length(toks) + 1)) AS p, toks
      FROM t),
    tok2 AS (SELECT doc_id, p, toks[p] AS tk FROM tokv),
    rem AS (
      SELECT DISTINCT tv.doc_id, tv.p
      FROM tok2 tv JOIN isl ON isl.doc_id = tv.doc_id
        AND tv.p BETWEEN isl.s AND isl.e),
    keptl AS (
      SELECT tv.doc_id,
        string_agg(tv.tk, chr(32) ORDER BY tv.p) AS cleaned,
        count(*) AS kept
      FROM tok2 tv
      LEFT JOIN rem ON rem.doc_id = tv.doc_id AND rem.p = tv.p
      WHERE rem.p IS NULL
      GROUP BY tv.doc_id)"""

  /** Duplicated-span REMOVAL — the cut d18's coverage score motivates:
    * tokens inside maximal cross-doc duplicated 5-gram spans are dropped
    * and the cleaned text re-emitted. Oracle replays the island CTEs and
    * rebuilds the kept token run with an anti-join on covered positions. */
  val d19DupSpanRemoval = Q(
    "d19_dup_span_removal",
    (s, dir) => dupSpanRemoval(Tables.documents(s, dir)).orderBy("doc_id"),
    Some(s"""WITH ${dupSpanCtesSql("documents")}
    SELECT t.doc_id,
      CAST(length(toks) AS BIGINT) AS n_tokens,
      CAST(coalesce(keptl.kept, 0) AS BIGINT) AS kept_tokens,
      CAST(length(toks) - coalesce(keptl.kept, 0) AS BIGINT) AS removed_tokens,
      coalesce(keptl.cleaned, '') AS cleaned_text
    FROM t LEFT JOIN keptl USING (doc_id)
    ORDER BY doc_id"""))

  val all: Seq[Q] = Seq(
    d01DedupExact, d02TextStats, d03TokenCounts, d04QualityScore,
    d05LangId, d06Fingerprint, d07TokenFreq, d08PiiScrub, d09DatasetSplit,
    d10Contamination, d11Repetition, d12BigramVocab, d13ContaminationLsh,
    d14RepeatedNgrams, d15DsirImportance, d16BloomContamination,
    d17ContaminationCapped, d18DupSpans, d19DupSpanRemoval)
}
