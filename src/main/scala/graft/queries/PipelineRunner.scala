package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{PipelineSpec, PipelineStep}

/** Executes a [[graft.catalog.PipelineSpec]]: the declarative data-plane
  * twin of the catalog provisioning loop. Each op maps to the SAME shared
  * expression its registered oracle-gated query pins (`NearDup.dropIds`,
  * `TextOps.dupSpanRemoval/qualityScore/predictedLang/tokenCount`, x02's
  * temperature arithmetic), so a YAML-specified pipeline cannot drift from
  * the gated operators — the suite proves a spec replaying p03's stages is
  * row-identical to the registered `Pipeline.curationPipeline`.
  *
  * Vocabulary (validated eagerly; unknown ops fail naming the known set):
  *
  *   - `filter` (`expr`): SQL predicate over current columns
  *   - `select` (`cols`: comma-separated): projection
  *   - `dedup_exact` (`cols`): dropDuplicates on the listed key
  *   - `near_dup_drop`: n06's rule — LSH pairs → connected components →
  *     keep each cluster's minimum id (needs doc_id, text)
  *   - `near_dup_screen`: the INCREMENTAL form — drop rows near-duplicate
  *     against the persisted `graft_store` signature store (n07/n08's
  *     probe, no corpus self-join); pair with `build_signature_store`
  *   - `span_removal`: d19's duplicated-span cut; text := cleaned text
  *   - `quality_gate` (`min_score`, default 0.5): d04's score on text
  *   - `lang_id`: adds `lang` (d05's classifier)
  *   - `token_count`: adds `n_tokens`
  *   - `sample_hash` (`rate`): deterministic doc_id-hash coin < rate
  *   - `temperature_mix` (`alpha` default 0.5, `budget_fraction` default
  *     0.3): x02's α-mixture acceptance over (lang, n_tokens) — α = 0.5
  *     uses IEEE sqrt (bit-identical to x02); other α use pow
  *
  * STORE-PROVISIONING ops — the data-plane twin of the deploy loop's DDL
  * (`deploy_iceberg_tables.yml` provisions tables; these provision the
  * operator stores the probes read), EXECUTING at build time (they are
  * actions, not transforms) and passing the frame through unchanged so a
  * spec can filter → build → sink. A provisioning spec needs no sink:
  * the stores are its output.
  *
  *   - `build_signature_store`: n08's bucketed MinHash store
  *     (`graft_store.corpus_shingles` / `corpus_bands`) from the current
  *     frame's (doc_id, text) — the exact build `n08_neardup_store_probe`
  *     gates, so a spec-provisioned store probes row-identically
  *   - `build_ivf_store` (`coarse_probe` default 4): e11's two-level IVF
  *     index (`graft_store.ivf_centroids` / `ivf_assign`, bucketed on
  *     cell_id) from the current frame's (vec_id, embedding)
  *
  * Scale posture: pure composition of the gated operators — the runner
  * adds no shuffle, collect, or driver loop of its own; `build` returns
  * the lazy frame (store builds excepted, by contract above) and `run`
  * writes it to the sink.
  */
final class PipelineRunner(spark: SparkSession) {

  private val knownOps = Seq("filter", "select", "dedup_exact", "near_dup_drop",
    "near_dup_screen", "span_removal", "quality_gate", "lang_id", "token_count",
    "sample_hash", "temperature_mix", "build_signature_store", "build_ivf_store")

  private val storeOps = Set("build_signature_store", "build_ivf_store")

  /** Build the pipeline's lazy frame from fixture tables in `sfDir`. */
  def build(spec: PipelineSpec, sfDir: String): DataFrame = {
    val source = spec.sourceTable match {
      case "events" => Tables.events(spark, sfDir) // ts-vintage-safe loader
      case t        => Tables.table(spark, sfDir, t)
    }
    spec.steps.foldLeft(source)(applyStep)
  }

  /** Build and write to the spec's sink: a path (parquet/csv/json/orc;
    * default overwrite) or a V2 catalog table (`sink: {table: db.t}`;
    * default append). Table writes go through `writeTo` — append is
    * AppendData and overwrite is a TRUNCATE-overwrite commit
    * (`OverwriteByExpression`), so on the versioned snapshot catalog BOTH
    * modes land as one auditable commit and the table's history/tags
    * survive (a `saveAsTable(Overwrite)` would drop + recreate the table,
    * wiping its history). Path sinks honor `mode:` too. */
  def run(spec: PipelineSpec, sfDir: String): Unit = {
    val out = build(spec, sfDir)
    (spec.sinkFormat, spec.sinkPath, spec.sinkTable) match {
      case (Some(fmt), Some(path), _) =>
        out.write.mode(spec.effectiveMode).format(fmt).save(path)
      case (_, _, Some(table)) if spec.sinkBranch.isDefined =>
        // Write-audit-publish in the declarative plane: the run's append is
        // STAGED on a branch of the versioned-catalog sink (created at the
        // current head if this run starts the staging), invisible to the
        // table's readers; `publish: true` (default) fast-forwards after
        // the write, `false` leaves it staged for an external audit + a
        // later `CALL <cat>.system.fast_forward(…)`.
        val branch = spec.sinkBranch.get
        val parts = table.split('.')
        require(parts.length >= 3,
          s"${spec.name}: a branch sink needs a catalog-qualified table " +
            s"(catalog.db.t), got '$table'")
        val (cat, ident) = (parts.head, parts.tail.toSeq)
        val st = graft.sources.SnapshotStore.stateOf(
          graft.sources.SnapshotStore.keyOf(cat, ident)) // loud if not versioned
        // A REAL table named `t.branch_<name>` outranks the branch suffix in
        // resolution (the catalog's documented shadow precedence) — staging
        // through it would silently mis-route the rows and then publish an
        // empty branch. Refuse before writing.
        require(graft.sources.SnapshotStore.resolve(
            graft.sources.SnapshotStore.keyOf(cat, ident :+ s"branch_$branch")).isEmpty,
          s"${spec.name}: a real table named $table.branch_$branch shadows " +
            "the branch suffix — staging through it would mis-route the rows")
        // AUDIT gate on THIS RUN'S rows, BEFORE staging: a failing audit
        // stages NOTHING (so a retry can never duplicate rows), and a
        // violating row already living in the base can never block valid
        // new loads. NULL-hostile: a row where the constraint evaluates to
        // NULL is a violation too (<=> true), not a silent pass.
        // Concurrency contract (as with Iceberg WAP): publish splices
        // whatever the branch holds; each staging writer audits its own
        // rows — co-writers to one branch are the operator's choice.
        spec.sinkAudit.foreach { constraint =>
          val violations =
            out.filter(!(expr(constraint).cast("boolean") <=> lit(true))).count()
          require(violations == 0L,
            s"${spec.name}: audit '$constraint' failed for $violations row(s) " +
              "— nothing staged, nothing published (inspect with a dry-run " +
              "build of the same spec)")
        }
        if (!st.branches.contains(branch))
          graft.sources.SnapshotCatalog.createBranch(cat, ident, branch)
        out.writeTo(s"$table.branch_$branch").append()
        if (spec.publishAfterWrite)
          graft.sources.SnapshotCatalog.fastForward(cat, ident, branch)
      case (_, _, Some(table)) =>
        if (spec.effectiveMode == "append") out.writeTo(table).append()
        else out.writeTo(table).overwrite(org.apache.spark.sql.functions.lit(true))
      case _ if spec.steps.exists(s => storeOps(s.op)) =>
        () // provisioning spec: the stores ARE the output, built above
      case _ =>
        sys.error(s"${spec.name}: run() needs a sink; use build() for a frame")
    }
  }

  /** INCREMENTAL CURATION OVER CHANGES (`source: {changes: true}`): stream
    * the versioned source's `.changes` relation — each trigger reads ONLY
    * the new commits (O(changed) source IO, rate-limited by
    * `max_versions_per_trigger`) — maintain a mirror of the accumulated
    * corpus with exactly-once epoch-guarded appends, and REFRESH the sink
    * by recomputing the spec's steps over the mirror as one
    * truncate-overwrite commit. Corpus-level curation (near-dup, span
    * stats, temperature rates) is not per-batch decomposable, so the
    * refresh recomputes — but every published sink state equals the BATCH
    * pipeline over everything ingested so far, regardless of how commits
    * were sliced into triggers (the row-identity p04 gates).
    *
    * Returns the started query; run it with `Trigger.AvailableNow` (the
    * default here) for catch-up-and-stop, or pass `continuous = true` to
    * tail the source indefinitely. */
  def runChanges(spec: PipelineSpec, checkpointDir: String,
      continuous: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery = {
    require(spec.sourceChanges,
      s"${spec.name}: runChanges needs 'changes: true' on the source")
    if (spec.sourceRefresh.contains("incremental"))
      return runChangesIncremental(spec, checkpointDir, continuous)
    val sink = spec.sinkTable.getOrElse(
      sys.error(s"${spec.name}: a changes run refreshes a catalog table sink"))
    val mirror = s"${sink}_mirror"
    val srcCols = spark.table(spec.sourceTable).columns
    // A FRESH checkpoint replays the feed from its start; a surviving
    // mirror from an earlier run would then double-ingest every commit.
    // The checkpoint owns the stream's identity, so a fresh one restarts
    // the mirror too (epoch replay-dedup is likewise checkpoint-scoped).
    val ckptPath = new org.apache.hadoop.fs.Path(checkpointDir)
    val ckptFresh =
      !ckptPath.getFileSystem(spark.sessionState.newHadoopConf()).exists(ckptPath)
    if (ckptFresh && spark.catalog.tableExists(mirror))
      spark.sql(s"DROP TABLE $mirror")
    if (!spark.catalog.tableExists(mirror))
      spark.table(spec.sourceTable).limit(0).writeTo(mirror).create()
    var reader = spark.readStream
    spec.sourceStartingVersion.foreach(v =>
      reader = reader.option("startingVersion", v))
    spec.sourceMaxVersionsPerTrigger.foreach(v =>
      reader = reader.option("maxVersionsPerTrigger", v))
    val feed = reader.table(s"${spec.sourceTable}.changes")
    val writer = feed.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        // One pass over the changes feed: checkpoint, then derive the
        // kinds guard and the mirror rows from the cached blocks (they
        // were two separate file-scan jobs per trigger).
        val ckpt = batch.localCheckpoint()
        try {
          val kinds = ckpt.select("_change_type").distinct()
            .collect().map(_.getString(0)).toSet
          require(kinds.subsetOf(Set("INSERT")),
            s"${spec.name}: curation-over-changes consumes APPEND-only sources; " +
              s"commit range delivered ${kinds.mkString(", ")} — deletions need " +
              "retraction logic no curation operator defines")
          val rows = ckpt.select(srcCols.head, srcCols.tail: _*)
          // The replay guard keys on spec AND checkpoint: a fresh checkpoint
          // restarts epoch numbering at 0, and a spec-name-only id would
          // swallow its first batches as "replays" of the previous run.
          val sinkId = s"pipeline:${spec.name}:" +
            java.util.UUID.nameUUIDFromBytes(
              checkpointDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              .toString.take(8)
          graft.sources.SnapshotUpsert.appendEpoch(mirror, rows, sinkId, epochId)
          // The refresh reads the accumulated corpus several times (near-dup,
          // span stats, gate features) — pin it for the duration.
          val corpus = spark.table(mirror).persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val curated = spec.steps.foldLeft(corpus: DataFrame)(applyStep)
            if (!spark.catalog.tableExists(sink)) curated.writeTo(sink).create()
            else curated.writeTo(sink).overwrite(lit(true))
          } finally corpus.unpersist()
        } finally {
          // Release the trigger's checkpointed blocks (guide §5: a
          // long-running stream must not grow cached-block debt).
          ckpt.queryExecution.analyzed match {
            case l: org.apache.spark.sql.execution.LogicalRDD =>
              l.rdd.unpersist(false); ()
            case _ => ()
          }
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
    val trigger =
      if (continuous) org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)
      else org.apache.spark.sql.streaming.Trigger.AvailableNow()
    writer.trigger(trigger).start()
  }

  /** The INCREMENTAL refresh (`source: {refresh: incremental}`) — per-
    * trigger work shaped O(changed) via maintained state, published sink
    * row-identical to the full recompute; the engine and its exactness
    * argument live in [[IncrementalCuration]]. */
  private def runChangesIncremental(spec: PipelineSpec, checkpointDir: String,
      continuous: Boolean): org.apache.spark.sql.streaming.StreamingQuery = {
    val engine = new IncrementalCuration(spark, spec, checkpointDir)
    // Checkpoint identity owns the maintained state — a fresh checkpoint
    // restarts it (the full-refresh path's mirror-reset contract).
    val ckptPath = new org.apache.hadoop.fs.Path(checkpointDir)
    val ckptFresh =
      !ckptPath.getFileSystem(spark.sessionState.newHadoopConf()).exists(ckptPath)
    if (ckptFresh) engine.resetState()
    engine.ensureState()
    var reader = spark.readStream
    spec.sourceStartingVersion.foreach(v =>
      reader = reader.option("startingVersion", v))
    spec.sourceMaxVersionsPerTrigger.foreach(v =>
      reader = reader.option("maxVersionsPerTrigger", v))
    val feed = reader.table(s"${spec.sourceTable}.changes")
    val writer = feed.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        engine.processBatch(batch, epochId)
      }
      .option("checkpointLocation", checkpointDir)
    val trigger =
      if (continuous) org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)
      else org.apache.spark.sql.streaming.Trigger.AvailableNow()
    writer.trigger(trigger).start()
  }

  private[queries] def applyStep(df: DataFrame, step: PipelineStep): DataFrame = step.op match {
    case "filter" => df.filter(expr(step.param("expr")))
    case "select" => df.selectExpr(splitCols(step.param("cols")): _*)
    case "dedup_exact" => df.dropDuplicates(splitCols(step.param("cols")))
    case "near_dup_drop" =>
      requireCols(df, step, "doc_id", "text")
      val drops = NearDup.dropIds(df.select("doc_id", "text"))
      df.join(drops, df("doc_id") === drops("id"), "left_anti")
    case "near_dup_screen" =>
      // The INCREMENTAL near-dup form: drop rows near-duplicate against
      // the PERSISTED signature store (n07/n08's probe — no corpus
      // self-join, no corpus re-hash), instead of within the frame. The
      // scale-honest step for a changes-driven spec: each batch screens
      // against everything already ingested in O(batch) work.
      requireCols(df, step, "doc_id", "text")
      // The returned pipeline frame is lazy, so nothing here could own a
      // persist's release. signaturesFromShingles still pins the
      // unpersisted shingle frame (see its doc), so each invocation leaves
      // one cached frame until the session's cache is cleared.
      val shB = df.select(col("doc_id").as("id"),
        graft.operators.MinHashLsh.shingles(col("text"),
          NearDup.P.shingleSize).as("shingles"))
      val dupes = graft.operators.MinHashLsh.nearDupBandsAgainstStore(
          shB,
          graft.operators.MinHashLsh.bandFrame(
            graft.operators.MinHashLsh.signaturesFromShingles(shB, NearDup.P), NearDup.P),
          spark.table(s"${NearDup.storeDb}.corpus_shingles"),
          spark.table(s"${NearDup.storeDb}.corpus_bands"),
          NearDup.P)
        .select(col("batch_id").as("doc_id")).distinct()
      df.join(dupes, Seq("doc_id"), "left_anti")
    case "span_removal" =>
      requireCols(df, step, "doc_id", "text")
      val others = df.columns.filterNot(c => c == "doc_id" || c == "text")
      // d19 re-emits (doc_id, cleaned_text); carry any other columns along
      // and keep the pipeline's text-column contract. The carry-along
      // rejoin assumes doc_id is unique (the same contract near_dup_drop's
      // LSH key already holds); a duplicated doc_id would silently multiply
      // rows through the inner join, so enforce it in-plan: assert_true
      // returns NULL when the count is 1 and throws otherwise, making the
      // guard pass-all-or-fail-loudly with no extra action.
      val guarded =
        if (others.isEmpty) df
        else {
          val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          df.withColumn("_graft_idn", count(lit(1)).over(w))
            .filter(assert_true(col("_graft_idn") === 1,
              lit("span_removal requires unique doc_id; found duplicates " +
                "(the carry-along rejoin would multiply rows)")).isNull)
            .drop("_graft_idn")
        }
      val cleaned = TextOps.dupSpanRemoval(guarded.select("doc_id", "text"))
        .select(col("doc_id"), col("cleaned_text").as("text"))
      if (others.isEmpty) cleaned
      else cleaned.join(guarded.drop("text"), "doc_id")
    case "quality_gate" =>
      requireCols(df, step, "text")
      df.filter(TextOps.qualityScore(col("text")) >=
        step.paramOr("min_score", "0.5").toDouble)
    case "lang_id" =>
      requireCols(df, step, "text")
      df.withColumn("lang", TextOps.predictedLang(col("text")))
    case "token_count" =>
      requireCols(df, step, "text")
      df.withColumn("n_tokens", TextOps.tokenCount(col("text")).cast("long"))
    case "sample_hash" =>
      requireCols(df, step, "doc_id")
      df.filter(Pipeline.hashUniform(col("doc_id")) < step.param("rate").toDouble)
    case "temperature_mix" =>
      requireCols(df, step, "doc_id", "lang", "n_tokens")
      temperatureMix(df, step.paramOr("alpha", "0.5").toDouble,
        step.paramOr("budget_fraction", "0.3").toDouble)
    case "build_signature_store" =>
      requireCols(df, step, "doc_id", "text")
      NearDup.buildCorpusStore(spark, df)
      df
    case "build_ivf_store" =>
      requireCols(df, step, "vec_id", "embedding")
      val c = Similarity.normalized(df)
      Similarity.buildIvfStore(spark, c, Similarity.defaultIvfCentroids(c),
        step.paramOr("coarse_probe", "4").toInt)
      df
    case other =>
      sys.error(s"unknown op '$other'; known: ${knownOps.mkString(", ")}")
  }

  /** x02's α-mixture acceptance: rates from the per-language token masses,
    * denominator folded in sorted-language order (cross-engine-exact), a
    * row-local hash coin — the corpus never shuffles. α = 0.5 routes
    * through IEEE sqrt so the default is bit-identical to x02/p03. */
  private def temperatureMix(df: DataFrame, alpha: Double,
      budgetFraction: Double): DataFrame = {
    def weight(c: Column): Column =
      if (alpha == 0.5) sqrt(c.cast("double")) else pow(c.cast("double"), alpha)
    val perLang = df.groupBy("lang")
      .agg(sum(col("n_tokens")).as("lang_tokens"))
      .withColumn("s", weight(col("lang_tokens")))
    val totals = perLang.agg(
      sum(col("lang_tokens")).as("total_tokens"),
      aggregate(
        array_sort(collect_list(struct(col("lang"), col("s")))),
        lit(0.0), (acc, x) => acc + x.getField("s")).as("denom"))
    df.join(broadcast(perLang), "lang")
      .crossJoin(broadcast(totals))
      .withColumn("u", Pipeline.hashUniform(col("doc_id")))
      .withColumn("p_incl",
        least(lit(1.0),
          lit(budgetFraction) * col("total_tokens") * col("s") / col("denom")
            / col("lang_tokens")))
      .filter(col("u") < col("p_incl"))
      .drop("lang_tokens", "s", "total_tokens", "denom", "u")
  }

  private def splitCols(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private def requireCols(df: DataFrame, step: PipelineStep, cols: String*): Unit = {
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"op '${step.op}' requires column(s) ${missing.mkString(", ")}; " +
        s"frame has ${df.columns.mkString(", ")}")
  }
}
