package graft.streaming

import graft.ops.Artifacts
import graft.spec.AggSpec
import graft.compile.Compiler
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.util.control.NonFatal

/** Streaming operators (north-star; `events` is the stream fixture).
  *
  * Each builder takes a plain DataFrame and works identically on a static
  * frame (batch, oracle-checkable) and on a `readStream` frame (the same
  * logical plan compiles to a stateful streaming plan with watermark-based
  * state eviction). That batch/stream symmetry is the test strategy
  * (SURVEY §5.5): the DuckDB oracle validates the batch run; ScalaTest
  * asserts stream-equals-batch on the same input.
  *
  * Scale: streaming aggregation state is partitioned by (group keys,
  * window) — the same shuffle as a batch groupBy; the watermark bounds
  * state size, which is what makes an unbounded stream feasible at all.
  */
object Streaming {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** One compactable artifact of an ingest: the directory its fold log
    * lands under, the heal of a crashed fold of it, and its fold of the
    * committed batches through a batch id (returns the dirs retired). */
  private final case class Foldable(
      dir: String, heal: SparkSession => Unit, fold: (SparkSession, Long) => Int)

  /** The area-layout ingests' artifacts (exact/near_dup/passage/semantic
    * — one `batch=` dir per micro-batch under each area, no separate
    * base), folded via [[graft.ops.Artifacts.foldBatchArea]]. minDirs=2
    * keeps the cadence from rewriting a single already-folded dir for
    * nothing; strict=false keeps one stray file from crash-looping the
    * unattended stream (log-and-skip). */
  private def areas(dirs: String*): Seq[Foldable] = dirs.map(a => Foldable(a,
    Artifacts.healCrashedAreaFold(_, a),
    (s, through) => Artifacts.foldBatchArea(s, a, Some(through), strict = false, minDirs = 2)))

  /** The ONE `trigger` parser of every stream sink: "available_now" /
    * "once" drains what exists then stops (backfill / catch-up runs); an
    * interval is Trigger.ProcessingTime, validated HERE so a typo'd
    * trigger ("availablenow", "10 secods") is a named spec error at
    * declaration, not a raw Spark interval-parse failure at stream start. */
  private[graft] def trigger(name: String, t: String): Trigger = t match {
    case "available_now" | "availableNow" | "once" => Trigger.AvailableNow()
    case interval =>
      try Trigger.ProcessingTime(interval)
      catch { case e: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"$name: trigger '$interval' is neither " +
            """"available_now"/"once" nor a valid interval """ +
            s"""(e.g. "10 seconds"): ${e.getMessage}""")
      }
  }

  /** The landed history under `dir` minus a replayed batch's own crashed
    * write (`own` is its `batch=` partition value — otherwise the replay
    * would dedup the batch against its own previous output and emit
    * nothing); None before the first write. Each directory is checked
    * INDEPENDENTLY: an ingest's writes are not atomic, so a crash
    * between them must not wedge the restart (a replayed batch sees
    * corpus-but-no-index and would otherwise throw on the missing path
    * forever). */
  private def history(s: SparkSession, dir: String, own: Any): Option[DataFrame] = {
    val fs = FileSystem.get(new java.net.URI(dir), s.sparkContext.hadoopConfiguration)
    val p = new Path(dir)
    if (fs.exists(p) && fs.listStatus(p).nonEmpty)
      Some(s.read.parquet(dir).filter(col("batch") =!= own))
    else None
  }

  /** The ONE micro-batch lifecycle of every streaming sink (ingests and
    * monitors). The sink supplies its per-batch `body` — which returns
    * whether it landed a `batch=` dir — and, when it compacts, the
    * artifacts it grows; the lifecycle owns everything around them:
    *
    *   - the writer: checkpoint and [[trigger]];
    *   - a heal of every artifact at DECLARATION — a restart must never
    *     read through half-staged state;
    *   - the `compact_every` cadence: every N landed batches, fold each
    *     artifact INSIDE foreachBatch — serialized with the batch's own
    *     writes and probes, so it can never race them — scoped to
    *     `batchId - 1` (committed by definition of the current batch
    *     running; the in-flight batch stays for a crash replay to
    *     overwrite — folding it would duplicate its rows once the replay
    *     re-lands them). Each fold that retires dirs logs a line AND a
    *     queryable `_fold_log` row (ops can verify the cadence fires
    *     without driver logs). A restart resets the counter — a fold is
    *     at most delayed, never lost;
    *   - a TRANSIENT fold failure is caught and logged (the batch's data
    *     is already durable): the stream continues, the counter stays
    *     un-reset so the fold retries at the next batch, and the
    *     artifacts heal at the START of that batch, before its probes. A
    *     failure caught mid-commit-phase (tmp→out rename failing after
    *     the max-id source staged into underscore-invisible `_fold_old`)
    *     leaves committed history unreadable; healing it only inside the
    *     next fold attempt — at the END of the next batch — would let
    *     that batch's probe read history missing committed rows and
    *     admit duplicate keys PERMANENTLY (r21). Cheap when clean: a few
    *     fs.exists probes, and only after a caught failure. */
  private def microBatches(
      incoming: DataFrame, name: String, checkpoint: Option[String],
      trigger: Option[String] = None, compactEvery: Option[Int] = None,
      foldables: Seq[Foldable] = Nil)(
      body: (DataFrame, Long) => Boolean): StreamingQuery = {
    compactEvery.foreach(n => require(n >= 1,
      s"$name: compact_every must be >= 1, got $n"))
    foldables.foreach(_.heal(incoming.sparkSession))
    var w = incoming.writeStream
    checkpoint.foreach(c => w = w.option("checkpointLocation", c))
    trigger.foreach(t => w = w.trigger(Streaming.trigger(name, t)))
    var batchesSinceFold = 0
    var healPending = false
    w.foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        if (healPending) {
          foldables.foreach(f =>
            try f.heal(s)
            catch { case NonFatal(e) =>
              log.warn(s"$name: pre-batch heal of ${f.dir} failed (will " +
                s"retry next batch): ${e.getMessage}") })
          healPending = false
        }
        if (body(batch, batchId)) {
          batchesSinceFold += 1
          if (batchId > 0 && compactEvery.exists(batchesSinceFold >= _)) {
            try {
              foldables.foreach { f =>
                val retired = f.fold(s, batchId - 1)
                if (retired > 0) {
                  log.info(s"$name: in-stream fold at batch $batchId folded " +
                    s"$retired dirs (through ${batchId - 1}) under ${f.dir}")
                  Artifacts.appendFoldLog(s, f.dir, batchId, batchId - 1, retired)
                }
              }
              batchesSinceFold = 0
            } catch { case NonFatal(e) =>
              log.warn(s"$name: in-stream fold at batch $batchId failed " +
                s"(stream continues; retrying next batch): ${e.getMessage}")
              healPending = true
            }
          }
        }
      }
      .start()
  }

  private def applyAggs(
      grouped: org.apache.spark.sql.RelationalGroupedDataset,
      aggs: Seq[AggSpec]): DataFrame = {
    val exprs = aggs.map(Compiler.aggColumn)
    grouped.agg(exprs.head, exprs.tail: _*)
  }

  /** Tumbling (or, with `slide` < `duration`, sliding/hopping) event-time
    * window aggregation. `watermark` enables append-mode streaming output +
    * state eviction; pass None for batch. Window struct is flattened to
    * win_start/win_end so results are plain columns. */
  def windowedAgg(
      df: DataFrame,
      tsCol: String,
      duration: String,
      slide: Option[String],
      keys: Seq[String],
      aggs: Seq[AggSpec],
      watermark: Option[String] = None
  ): DataFrame = {
    val in = watermark.fold(df)(w => df.withWatermark(tsCol, w))
    val win = slide match {
      case Some(sl) => window(col(tsCol), duration, sl)
      case None     => window(col(tsCol), duration)
    }
    applyAggs(in.groupBy(win +: keys.map(col): _*), aggs)
      .withColumn("win_start", col("window.start"))
      .withColumn("win_end", col("window.end"))
      .drop("window")
  }

  /** Interval join: left rows matched to right rows with the same keys
    * whose `rightTs` falls in [leftTs - lookback, leftTs]. On static
    * frames this is a plain equi-join + range filter; on two streams the
    * SAME plan becomes a stream-stream join where the watermarks plus the
    * time bound let Spark evict join state — the range condition is what
    * makes unbounded stream-stream joins feasible at all (without it,
    * state grows forever). `watermarks` = (left delay, right delay). */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      lookback: String,
      watermarks: Option[(String, String)] = None
  ): DataFrame = {
    // Alias both sides before building the condition: when left and right
    // descend from the same source (a self interval join), `l(k) === r(k)`
    // is ambiguous and only works via Spark's best-effort self-join fix-up
    // (it logs "trivially true equals predicate" and silently breaks under
    // lineage changes). Alias-qualified references are unambiguous.
    val l = watermarks.fold(left) { case (wl, _) => left.withWatermark(leftTs, wl) }
      .alias("__ij_l")
    val r = watermarks.fold(right) { case (_, wr) => right.withWatermark(rightTs, wr) }
      .alias("__ij_r")
    val cond = keys.map(k => col(s"__ij_l.$k") === col(s"__ij_r.$k")).reduce(_ && _) &&
      col(s"__ij_r.$rightTs") >= col(s"__ij_l.$leftTs") - expr(s"INTERVAL $lookback") &&
      col(s"__ij_r.$rightTs") <= col(s"__ij_l.$leftTs")
    // keep one copy of each key column (the left one)
    keys.foldLeft(l.join(r, cond, "inner"))((df, k) => df.drop(col(s"__ij_r.$k")))
  }

  /** Streaming deduplication: drops rows whose `keys` already appeared
    * within the watermark horizon — the streaming counterpart of exact
    * dedup for continuous ingestion. State holds one entry per key seen in
    * the horizon; the watermark bounds and evicts it (an unbounded
    * dropDuplicates would grow state forever on an infinite stream). On a
    * static frame this degrades to dropDuplicates(keys). */
  def dedup(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      watermark: Option[String] = None
  ): DataFrame =
    watermark match {
      case Some(w) =>
        df.withWatermark(tsCol, w).dropDuplicatesWithinWatermark(keys)
      case None => df.dropDuplicates(keys)
    }

  /** Latest row per key — the streaming twin of
    * `Relational.compactChangelog`: a continuously-maintained CDC
    * snapshot. Spelled as a streaming-legal aggregation (`max_by` of the
    * payload struct by the version struct), NOT a window rank (rank
    * functions don't compile to a streaming plan), so the same expression
    * runs batch (oracle-checkable) and under `readStream` in
    * update/complete output mode with one state row per key.
    *
    * `version` must be a total order per key. Tombstone handling stays a
    * downstream `filter` on the emitted row, with update-mode semantics:
    * the sink sees the tombstone's predecessor rows too — a true
    * retracting snapshot needs a sink that upserts by key (the normal
    * CDC-mirror arrangement). */
  def latestPerKey(
      df: DataFrame,
      keys: Seq[String],
      version: Seq[String],
      payload: Seq[String]
  ): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(max_by(
        struct(payload.map(col): _*),
        struct(version.map(col): _*)).as("__latest"))
      .select(keys.map(col) ++ payload.map(p => col(s"__latest.$p").as(p)): _*)

  /** Input/output/state rows for [[runningTotals]] (the canonical shapes
    * the generic column names are mapped onto). `sumMicros` carries the
    * running sum as exact micro-units (the long unscaled value of a
    * DECIMAL(_, 6)) so streaming state accumulation reproduces the batch
    * path's decimal-exact running sum bit-for-bit. */
  final case class TotalsEvent(k: Long, seq: Long, ts: java.sql.Timestamp, v: Double)
  final case class TotalsRow(
      k: Long, seq: Long, ts: java.sql.Timestamp, v: Double,
      running_n: Long, running_value: Double)
  final case class TotalsState(n: Long, sumMicros: Long)

  /** Per-key running totals with CUSTOM STREAMING STATE
    * (`flatMapGroupsWithState`) — the one streaming shape neither window
    * aggregation nor `max_by` can express: every event is emitted,
    * enriched with the cumulative count and exact decimal running sum of
    * its key so far. State per key is two longs — constant-size, the only
    * kind of per-key state an unbounded 100 TB/day stream tolerates.
    *
    * Events are ordered by (`tsCol`, `seqCol`) WITHIN each micro-batch
    * (the group iterator carries no order guarantee); exactness across
    * batches therefore requires the source to deliver a key's events in
    * event-time order batch-over-batch — true for replayed logs and
    * per-key-ordered queues (e.g. keyed Kafka partitions). Out-of-order
    * arrivals would need watermark-delayed buffering in the state — a
    * deliberate non-goal here; totals are arrival-order totals in that
    * case. On a BATCH frame the whole key arrives as one group, so the
    * result equals the q77 window formulation exactly (StreamingSpec
    * asserts both equalities).
    *
    * Columns `keyCol`/`seqCol` must be integral, `valueCol` numeric;
    * output schema = (keyCol, seqCol, tsCol, valueCol, running_n,
    * running_value). */
  def runningTotals(
      df: DataFrame,
      keyCol: String,
      seqCol: String,
      tsCol: String,
      valueCol: String
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val typed = df.select(
      col(keyCol).cast("long").as("k"),
      col(seqCol).cast("long").as("seq"),
      col(tsCol).cast("timestamp").as("ts"),
      col(valueCol).cast("double").as("v")).as[TotalsEvent]
    val out = typed
      .groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (k: Long, events: Iterator[TotalsEvent],
         state: org.apache.spark.sql.streaming.GroupState[TotalsState]) => {
          // micro-batch-local sort: micros-precision timestamp, then seq
          // floorDiv: plain / truncates toward zero, so a pre-epoch ts
          // with fractional seconds (e.g. -0.5s) would key ~1s too large
          // and sort after later events
          val ordered = events.toIndexedSeq.sortBy(e =>
            (Math.floorDiv(e.ts.getTime, 1000L) * 1000000L +
              e.ts.getNanos / 1000, e.seq))
          val st = state.getOption.getOrElse(TotalsState(0L, 0L))
          var n = st.n
          var sum = st.sumMicros
          val rows = ordered.map { e =>
            n += 1
            // exact mirror of cast(v AS DECIMAL(25,6)): canonical decimal
            // of the double, HALF_UP to 6 digits, accumulated as the
            // unscaled long
            sum += java.math.BigDecimal.valueOf(e.v)
              .setScale(6, java.math.RoundingMode.HALF_UP)
              .unscaledValue().longValueExact()
            TotalsRow(e.k, e.seq, e.ts, e.v, n, sum / 1e6)
          }
          state.update(TotalsState(n, sum))
          rows.iterator
        })
    out.toDF(keyCol, seqCol, tsCol, valueCol, "running_n", "running_value")
  }

  /** Continuous near-dup ingestion — the streaming spelling of
    * [[graft.ops.Dedup.nearDupAgainstCorpus]]. Each micro-batch:
    *
    *   1. probes the PERSISTED corpus band index (parquet at `indexDir`)
    *      and dedups the batch within itself and against the corpus;
    *   2. appends accepted docs to `corpusDir` and their band rows to
    *      `indexDir` — so batch N+1 sees everything batch N admitted.
    *
    * Dedup history lives in the persisted index, NOT in streaming state,
    * deliberately: near-dup history is unbounded (no watermark can ever
    * evict it — a duplicate of a year-old doc is still a duplicate), must
    * survive restarts, and is shared with the daily batch jobs that probe
    * the same index. foreachBatch is at-least-once, so both writes go to
    * per-batch subdirectories in overwrite mode — a replayed micro-batch
    * rewrites its own output instead of double-appending (the standard
    * idempotent-sink arrangement).
    *
    * Scale posture: identical to the batch operator — every shuffle is
    * micro-batch-shaped; the index is probed by equi-join, never rebuilt
    * (16 longs/doc at the defaults); corpus text is joined only for
    * CANDIDATE ids. The per-batch index read is metadata-sized relative
    * to the corpus. */
  def nearDupIngest(
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      corpusDir: String,
      indexDir: String,
      checkpointDir: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      compactEvery: Option[Int] = None
  ): StreamingQuery =
    microBatches(incoming, "near_dup_ingest", Some(checkpointDir),
        compactEvery = compactEvery, foldables = areas(corpusDir, indexDir)) {
      (batch, batchId) =>
        val s = batch.sparkSession
        // first batch: empty index/corpus with the right schemas, derived
        // from the batch itself (limit(0) keeps this type-generic)
        val index = history(s, indexDir, batchId)
          .map(_.select(col(idCol), col("band"), col("band_key")))
          .getOrElse(graft.ops.Dedup.minhashBandIndex(
            batch.limit(0), idCol, textCol, shingleSize, numHashes, bands))
        val corpus = history(s, corpusDir, batchId)
          .map(_.select(batch.columns.map(col): _*)).getOrElse(batch.limit(0))
        val kept = graft.ops.Dedup.nearDupAgainstCorpus(
          batch, index, corpus, idCol, textCol,
          shingleSize, numHashes, bands, threshold).persist()
        try {
          kept.write.mode("overwrite").parquet(s"$corpusDir/batch=$batchId")
          graft.ops.Dedup.minhashBandIndex(
              kept, idCol, textCol, shingleSize, numHashes, bands)
            .write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")
        } finally kept.unpersist()
        true
    }

  /** Continuous SUBSTRING-level dedup ingestion — [[nearDupIngest]]'s
    * pattern at passage granularity: each micro-batch strips token spans
    * duplicated within the batch or against the persisted
    * [[graft.ops.Dedup.passageWindowIndex]] at `indexDir`
    * ([[graft.ops.Dedup.stripPassagesAgainstCorpus]]), appends the
    * CLEANED docs (textCol := clean_text; fully-duplicated docs — empty
    * clean_text — are dropped) to `corpusDir` and the cleaned docs'
    * distinct window fingerprints to the index. History lives in the
    * 8-byte-fp index, never in watermark state (passage history is
    * unbounded and restart-shared); per-batch `batch=` partition
    * overwrites make replays idempotent, and a replayed batch's own
    * crashed write is excluded from its probe (the [[nearDupIngest]]
    * crash-consistency contract). The indexed corpus is the CLEANED
    * text — junction windows created by a strip enter history with it. */
  def passageIngest(
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      corpusDir: String,
      indexDir: String,
      checkpointDir: String,
      windowTokens: Int = 50,
      compactEvery: Option[Int] = None
  ): StreamingQuery =
    microBatches(incoming, "passage_ingest", Some(checkpointDir),
        compactEvery = compactEvery, foldables = areas(corpusDir, indexDir)) {
      (batch, batchId) =>
        val index = history(batch.sparkSession, indexDir, batchId)
          .map(_.select("fp"))
          .getOrElse(graft.ops.Dedup.passageWindowIndex(
            batch.limit(0), idCol, textCol, windowTokens))
        val cleaned = graft.ops.Dedup.stripPassagesAgainstCorpus(
            batch, index, idCol, textCol, windowTokens)
          .filter(length(col("clean_text")) > 0) // full duplicates drop
          .select(batch.columns.map(c =>
            (if (c == textCol) col("clean_text") else col(c)).as(c)): _*)
          .persist()
        try {
          cleaned.write.mode("overwrite").parquet(s"$corpusDir/batch=$batchId")
          graft.ops.Dedup.passageWindowIndex(cleaned, idCol, textCol, windowTokens)
            .write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")
        } finally cleaned.unpersist()
        true
    }

  /** Continuous EXACT-dedup ingestion — [[nearDupIngest]]'s pattern at
    * the exact tier, the cheapest and most common member of the
    * incremental family (a crawler's "new content only" sink): each
    * micro-batch dedups WITHIN itself (deterministic min-id winner per
    * `keyCols` — [[graft.ops.Dedup.dedupAgainstCorpus]]) and against the
    * PERSISTED key index at `indexDir` by left-anti join, appends
    * survivors to `corpusDir` and their distinct keys to the index — so
    * batch N+1 sees everything batch N admitted.
    *
    * History lives in the persisted key index, NOT in streaming state
    * (same rationale as the near-dup/passage siblings: exact-dup history
    * is unbounded — a copy of a year-old page is still a copy — must
    * survive restarts, and is shared with batch jobs probing the same
    * index). The index holds KEY COLUMNS ONLY: with a 64-bit content
    * fingerprint key the index is ~8 bytes/doc — at 100 TB of text the
    * probe side is fingerprint-shaped, never corpus-shaped, and each
    * batch's anti-join shuffles the batch + the key index, not history's
    * text. Per-batch `batch=` partition overwrites make replays
    * idempotent, and a replayed batch's own crashed write is excluded
    * from its probe (the [[nearDupIngest]] crash-consistency contract).
    *
    * Derive the key UPSTREAM in the stream's pipeline (e.g. `derive:
    * {"fp": "doc_fingerprint_portable(text)"}` or `canonical_url(url)`)
    * — the ingest is key-generic. */
  def exactIngest(
      incoming: DataFrame,
      idCol: String,
      keyCols: Seq[String],
      corpusDir: String,
      indexDir: String,
      checkpointDir: String,
      compactEvery: Option[Int] = None
  ): StreamingQuery = {
    require(keyCols.nonEmpty, "exactIngest: key_cols must be non-empty")
    microBatches(incoming, "exact_ingest", Some(checkpointDir),
        compactEvery = compactEvery, foldables = areas(corpusDir, indexDir)) {
      (batch, batchId) =>
        val index = history(batch.sparkSession, indexDir, batchId)
          .getOrElse(batch.limit(0)).select(keyCols.map(col): _*)
        val kept = graft.ops.Dedup.dedupAgainstCorpus(
            batch, index, keyCols, idCol)
          .select(batch.columns.map(col): _*) // restore input column order
          .persist()
        try {
          kept.write.mode("overwrite").parquet(s"$corpusDir/batch=$batchId")
          kept.select(keyCols.map(col): _*).distinct()
            .write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")
        } finally kept.unpersist()
        true
    }
  }

  /** Continuous SKETCH-TABLE maintenance — the streaming sibling of the
    * batch sketch artifacts (q237/q238): each micro-batch appends ONE
    * row (or one per `groupCols` value) carrying its frequent-items
    * sketch, HLL distinct sketch, and non-null key count — bounded
    * metadata per batch, never row data. Readers answer "which keys
    * dominate / how many distinct over ANY batch range" by
    * approx_top_k_combine / hll_union_agg over the landed rows with
    * zero row rescans; sketch merge is associative, so HOW the stream
    * was batched cannot change the combined answer (and under
    * `maxItemsTracked` ≥ distinct the top-k counts are exact — the
    * gateable regime). NULL keys are not sketched (the approxTopK
    * contract). Per-batch overwrite sinks make replays idempotent: a
    * crashed batch's partial write is overwritten by value on retry.
    *
    * Deliberately NO `compact_every`: the `batch=b<id>` dir NAME is the
    * sketch rows' range key ("combine batches 100..200" filters on it)
    * — an area fold would re-label every folded row to one id and
    * silently break range reads. The rows are bounded metadata (one per
    * batch/group), so the dir count grows slowly; re-shard offline by
    * rewriting with coarser explicit ids if a deployment ever needs
    * to. */
  def sketchIngest(
      incoming: DataFrame,
      keyCol: String,
      outDir: String,
      checkpointDir: String,
      maxItemsTracked: Int = 10000,
      lgK: Int = 12,
      groupCols: Seq[String] = Nil
  ): StreamingQuery = {
    require(maxItemsTracked >= 1,
      s"sketchIngest: max_items_tracked must be >= 1, got $maxItemsTracked")
    require(lgK >= 4 && lgK <= 21,
      s"sketchIngest: lg_k must be in [4, 21], got $lgK")
    require(!groupCols.contains(keyCol),
      s"sketchIngest: key_col '$keyCol' cannot also be a group column")
    microBatches(incoming, "sketch_ingest", Some(checkpointDir)) {
      (batch, batchId) =>
        val keyed = batch.filter(col(keyCol).isNotNull)
        val aggs = Seq(
          expr(s"approx_top_k_accumulate(`$keyCol`, $maxItemsTracked)")
            .as("topk_sketch"),
          expr(s"hll_sketch_agg(`$keyCol`, $lgK)").as("hll_sketch"),
          count(col(keyCol)).as("n_rows"))
        val rows =
          if (groupCols.nonEmpty)
            keyed.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
          else keyed.agg(aggs.head, aggs.tail: _*)
        rows.write.mode("overwrite").parquet(s"$outDir/batch=b$batchId")
        true
    }
  }

  /** Continuous BM25-INDEX maintenance — the LEXICAL member of the
    * continuous-ingest family: each micro-batch tokenizes ONCE and lands
    * its postings (+ bigram postings when the index has prox), doc
    * lengths, and refreshed stats against the [[graft.ops.Retrieval
    * .saveBm25Index]] artifact at `indexDir`, so every later
    * `bm25_search` reflects the union corpus EXACTLY — df/idf/avgdl
    * compute query-shaped at search time, the same law that makes batch
    * appends exact, with no merge step.
    *
    * Idempotency: the batch-mode `appendBm25Index` appends file sets in
    * place, which a foreachBatch replay would DOUBLE-land. The ingest
    * instead writes each micro-batch as an OVERWRITTEN `batch=<id>`
    * child of sibling DELTA areas (`postings_inc`, `postings2_inc`,
    * `dl_inc`) that every reader unions with the base — a replayed
    * batch overwrites exactly its own delta partitions (the ingest
    * family's crash-consistency contract). `bm25_index mode:"compact"`
    * folds the deltas into the base layout and drops them. Write order
    * within a batch is dl → postings → stats, so a crash mid-batch
    * leaves docs that are at worst length-known but unmatchable —
    * never postings without lengths — until the replay overwrites.
    *
    * The index MUST be seeded by saveBm25Index first: buckets/prox/
    * id_col live in the artifact's stats row (the batch-build →
    * stream-ingest contract [[semanticIngest]] follows). Caller
    * contract: doc ids should be fresh (a re-landed id keeps both
    * copies — the appendBm25Index posture). */
  def bm25Ingest(
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String,
      checkpointDir: String,
      compactEvery: Option[Int] = None
  ): StreamingQuery = {
    // fail at DECLARATION, not inside the first micro-batch: the stats
    // row is the seed contract
    val st0 =
      try graft.ops.Retrieval.readBm25Stats(incoming.sparkSession, indexDir)
      catch { case e: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"bm25_ingest: no BM25 index under $indexDir — seed it with " +
            s"bm25_index (saveBm25Index) first: ${e.getMessage}") }
    val buckets = st0.getAs[Int]("buckets")
    val prox = st0.getAs[Boolean]("prox")
    val statsIdCol = st0.getAs[String]("id_col")
    // The BASE dl sums are cached across micro-batches: re-aggregating
    // the full doc-shaped dl per batch would make ingest cost O(corpus)
    // per micro-batch. Re-read exactly when the delta area is absent at
    // batch start — the first batch, or a compact just folded the delta
    // (and its docs) into the base. (Batch-mode appends beside a LIVE
    // stream would stale this cache until the next fold — don't mix
    // them; the batch path is `bm25_index mode:"append"` on its own.)
    def aggDl(s: org.apache.spark.sql.SparkSession, path: String): (Long, Long) = {
      val r = s.read.parquet(path)
        .agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head
      (r.getLong(0), r.getLong(1))
    }
    var baseStats: Option[(Long, Long)] = None
    // Running DELTA totals (n_docs, sum_dl) carried in the stream
    // closure: the per-batch stats refresh is O(batch) — it adds only
    // the CURRENT batch's one-action aggregate — instead of
    // re-aggregating the whole accumulated dl_inc area every
    // micro-batch (O(accumulated delta): a long stream between
    // compactions paid a growing scan for a number derivable
    // incrementally). Re-derived exactly from dl_inc when the counter
    // is cold (restart — a replayed batch has already overwritten its
    // own delta dir by the time stats refresh, so the one-time full
    // aggregate is exact) or when incWasThere flips false (a compact
    // just folded the delta; dl_inc then holds only this batch).
    var deltaStats: Option[(Long, Long)] = None
    // The heal (at declaration, and before the next batch after a caught
    // fold failure): staged dirs under a leftover *_inc.old are invisible
    // to readers, so a cold stats re-derive through that state would
    // undercount the corpus permanently (the counters never learn about
    // docs a later fold's recovery moves into the base).
    //
    // The fold (compact_every, non-empty batches): totals are invariant
    // under it (rows move delta → base), but a fold that crashes and
    // later heals is not — so it invalidates BOTH stats caches, and the
    // next batch re-derives from disk (one aggregate per fold, amortized
    // by the cadence), keeping the stats row exact unconditionally.
    // defragWhenEmpty=false: a sibling area with nothing foldable (e.g.
    // postings_inc after zero-token batches) must not trigger an
    // O(corpus) base rewrite per cadence.
    val index = Foldable(indexDir,
      s => Seq(("dl", "dl_inc"), ("postings", "postings_inc"),
          ("postings2", "postings2_inc")).foreach { case (b, i) =>
        graft.ops.Artifacts.healCrashedFold(s, s"$indexDir/$b", s"$indexDir/$i")
      },
      (s, through) => {
        baseStats = None
        deltaStats = None
        graft.ops.Retrieval.compactBm25Index(s, indexDir, Some(through),
          defragWhenEmpty = false, strict = false)
      })
    microBatches(incoming, "bm25_ingest", Some(checkpointDir),
        compactEvery = compactEvery, foldables = Seq(index)) {
      (batch, batchId) =>
        val s = batch.sparkSession
        val incWasThere =
          graft.ops.Artifacts.incHasData(s, s"$indexDir/dl_inc")
        val toks = batch.select(col(idCol).as("doc"),
          graft.ops.TextAnalysis.tokens(col(textCol)).as("__t"))
          .persist()
        try {
          // ONE action sizes the batch: an all-empty micro-batch must
          // write NOTHING (an empty partitioned write leaves a fileless
          // batch dir; readers treat those as absent, but junk dirs
          // should not accumulate), and a zero-token batch has dl rows
          // to land but no postings. The third aggregate is the RAW dl
          // sum (unclamped — exactly what the dl_inc write lands), the
          // running-counter delta.
          val bst = toks
            .agg(count(lit(1)),
              coalesce(sum(greatest(size(col("__t")), lit(0))), lit(0L)),
              coalesce(sum(size(col("__t")).cast("long")), lit(0L))).head
          val (nRows, nTok, dlSum) =
            (bst.getLong(0), bst.getLong(1), bst.getLong(2))
          if (nRows > 0) {
            toks.select(col("doc"), size(col("__t")).cast("long").as("dl"))
              .write.mode("overwrite").parquet(s"$indexDir/dl_inc/batch=$batchId")
            if (nTok > 0) {
              graft.ops.Retrieval.postingsOf(toks, col("__t"), buckets)
                .write.mode("overwrite").partitionBy("bucket")
                .parquet(s"$indexDir/postings_inc/batch=$batchId")
              if (prox)
                graft.ops.Retrieval.postingsOf(toks,
                    graft.ops.Retrieval.bigrams(col("__t")), buckets)
                  .write.mode("overwrite").partitionBy("bucket")
                  .parquet(s"$indexDir/postings2_inc/batch=$batchId")
            }
            if (!incWasThere || baseStats.isEmpty)
              baseStats = Some(aggDl(s, s"$indexDir/dl"))
            val (bn, bsum) = baseStats.get
            val (in_, isum) =
              if (incWasThere && deltaStats.isDefined) {
                // warm path: O(batch) — prior delta total + this batch
                val (dn, dsum) = deltaStats.get
                (dn + nRows, dsum + dlSum)
              } else
                // cold path (restart or just-compacted): one exact
                // re-derive from the delta area, which now includes the
                // batch written above
                aggDl(s, s"$indexDir/dl_inc")
            deltaStats = Some((in_, isum))
            graft.ops.Retrieval.writeBm25StatsRow(s, indexDir,
              bn + in_, bsum + isum, buckets, prox, statsIdCol)
          }
          nRows > 0
        } finally { toks.unpersist(); () }
    }
  }

  /** Continuous ANN-INDEX maintenance — the VECTOR sibling of
    * [[bm25Ingest]], completing the retrieval-artifact pair: each
    * micro-batch assigns its vectors to the SAVED centroids (no refit —
    * shipped search results for old vectors never change, the
    * [[graft.ops.Similarity.appendAnnIndex]] contract) — and, for a PQ
    * index, encodes against the SAVED codebooks — then lands as an
    * OVERWRITTEN `batch=<id>` child of the `index_inc` delta area
    * (idempotent replays; an in-place append would double-land).
    * Searches, probes, and stats read base ∪ delta; `ann_index
    * mode:"compact"` folds the delta in. There is no stats table to
    * refresh — ANN stats aggregate live.
    *
    * The index MUST be seeded by saveAnnIndex first (centroids/codebooks
    * are the fixed geometry — the batch-train → stream-ingest contract
    * [[semanticIngest]] follows); centroid drift under heavy growth is
    * the documented trade — watch `ann_index mode:"stats"` and rebuild
    * when skew degrades. Fresh vector ids are the caller's contract. */
  def annIngest(
      incoming: DataFrame,
      idCol: String,
      vecCol: String,
      indexDir: String,
      checkpointDir: String,
      compactEvery: Option[Int] = None
  ): StreamingQuery = {
    import graft.ops.Similarity
    // fail at DECLARATION, not inside the first micro-batch
    val spark0 = incoming.sparkSession
    val cents =
      try Similarity.loadCentroids(spark0, indexDir)
      catch { case e: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"ann_ingest: no ANN index under $indexDir — seed it with " +
            s"ann_index (saveAnnIndex) first: ${e.getMessage}") }
    val isPq = spark0.read.parquet(s"$indexDir/index").schema
      .fieldNames.contains("codes")
    val cbs = if (isPq) Similarity.loadCodebooks(spark0, indexDir) else Nil
    // the heal and the fold of the index_inc delta (see bm25Ingest)
    val index = Foldable(indexDir,
      Artifacts.healCrashedFold(_, s"$indexDir/index", s"$indexDir/index_inc"),
      (s, through) => Similarity.compactAnnIndex(s, indexDir, Some(through),
        defragWhenEmpty = false, strict = false))
    microBatches(incoming, "ann_ingest", Some(checkpointDir),
        compactEvery = compactEvery, foldables = Seq(index)) { (batch, batchId) =>
      // an all-empty micro-batch must write NOTHING: an empty
      // partitioned write leaves a fileless batch dir (readers treat
      // those as absent, but junk dirs should not accumulate)
      if (batch.isEmpty) false
      else {
        Similarity.encodeIndexRows(batch, idCol, vecCol, cents,
            if (isPq) Some(cbs) else None)
          .write.mode("overwrite").partitionBy("list")
          .parquet(s"$indexDir/index_inc/batch=$batchId")
        true
      }
    }
  }

  /** Continuous SEMANTIC dedup ingestion — the embedding sibling of
    * [[nearDupIngest]]/[[passageIngest]], completing the incremental
    * trio across modalities: each micro-batch is deduped against the
    * persisted semantic index (in-batch min-id rule + cluster-scoped
    * band probe of the distinct-embedding classes; HISTORY WINS), the
    * survivors append to `corpusDir` and THEIR classes to the index, so
    * batch N+1 — and every restart, and the daily batch jobs sharing
    * the index — sees everything batch N admitted.
    *
    * The index MUST be seeded by
    * [[graft.ops.Similarity.saveSemanticIndex]] first: the centroids
    * are the fixed cluster geometry (retraining them per batch would
    * silently re-scope every historical class), trained in batch on the
    * initial corpus — the batch-train → stream-ingest contract the
    * model artifacts follow. History lives in the one-row-per-distinct-
    * embedding class table, not in watermark state; per-batch overwrite
    * sinks make replays idempotent (a replayed batch excludes its own
    * crashed write by partition value before probing). */
  def semanticIngest(
      incoming: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      corpusDir: String,
      indexDir: String,
      checkpointDir: String,
      numBits: Int = 64,
      bands: Int = 8,
      compactEvery: Option[Int] = None
  ): StreamingQuery =
    // the classes area is b-dialect (batch=seed + batch=b<id>); the fold
    // parses both dialects and names its output in the area's own
    microBatches(incoming, "semantic_ingest", Some(checkpointDir),
        compactEvery = compactEvery,
        foldables = areas(corpusDir, s"$indexDir/classes")) {
      (batch, batchId) =>
        val s = batch.sparkSession
        val cents = graft.ops.Similarity.loadSemanticCentroids(s, indexDir)
        // stream batches write under batch=b<N> next to batch=seed; the
        // partition column is therefore string-typed
        val classes = history(s, s"$indexDir/classes", s"b$batchId")
          .getOrElse(throw new IllegalArgumentException(
            s"semantic_ingest: no semantic index classes under $indexDir"))
          .select("cluster", "vec", "rep", "sig")
        // collect the dedup's internal persists locally and release them
        // with the batch: routing them to the global operator-cache sweep
        // would grow the registry one entry per micro-batch forever
        val internals = scala.collection.mutable.ListBuffer[DataFrame]()
        val kept = graft.ops.Similarity.semanticDedupAgainstClasses(
          batch, idCol, vecCol, threshold, dim, cents, classes,
          numBits, bands, register = internals += _).persist()
        try {
          kept.write.mode("overwrite").parquet(s"$corpusDir/batch=b$batchId")
          graft.ops.Similarity.semanticClassesOf(kept, idCol, vecCol, dim,
              cents, numBits)
            .write.mode("overwrite").parquet(s"$indexDir/classes/batch=b$batchId")
        } finally {
          kept.unpersist()
          internals.foreach(_.unpersist(blocking = false))
        }
        true
    }

  /** Per-batch data profile — the ingest-side drift monitor: every
    * micro-batch runs the SAME single-pass stats aggregate the batch
    * `profile` key runs (graft.ops.Relational.profile — one row per
    * profiled column: n_rows, n_nulls, n_distinct, min, max), stamps it
    * with the batch id, and appends to a path sink. Monitoring a 100 TB
    * ingest this way costs one aggregate per micro-batch over THAT
    * batch's rows only — no global state, no watermark, restarts safe
    * (foreachBatch replays append the same batch_id rows; dedup
    * downstream on batch_id if exactly-once reads matter).
    *
    * The stats frame is columns.length rows — coalesce(1) so a batch
    * lands as one file, not `shuffle.partitions` shards of 5 rows. */
  /** Per-batch CONTRACT scorecard — `expect_report` run continuously
    * (the [[profileStream]] posture): every micro-batch computes the
    * same (groups…, rule, n_violations, n_rows) audit the batch key
    * computes — over THAT batch's rows only — stamps batch_id, and
    * appends to a path sink. The continuous data-quality monitor next
    * to the drift profile: violation-rate spikes localize to a batch.
    * No global state, no watermark; restarts replay-append the same
    * batch_id rows (dedup downstream on batch_id if exactly-once reads
    * matter). Output is rules×groups-shaped per batch — coalesce(1). */
  def expectReportStream(
      incoming: DataFrame,
      rules: Seq[(String, String)],
      groupCols: Seq[String],
      sink: graft.spec.SinkSpec
  ): StreamingQuery =
    monitorStream(incoming, "expect_report", sink)(
      graft.ops.Relational.expectReport(_, rules, groupCols))

  /** Shared per-batch MONITOR plumbing ([[profileStream]] /
    * [[expectReportStream]]): each micro-batch maps through `batchFn`,
    * gains batch_id, and appends ONE file to the path sink — the two
    * monitors stay behaviorally identical by construction. */
  private def monitorStream(
      incoming: DataFrame, name: String, sink: graft.spec.SinkSpec)(
      batchFn: DataFrame => DataFrame): StreamingQuery =
    microBatches(incoming, name, sink.checkpoint, sink.trigger) { (batch, batchId) =>
      batchFn(batch)
        .withColumn("batch_id", lit(batchId))
        .coalesce(1)
        .write.mode("append").options(sink.options)
        .format(sink.format).save(sink.path)
      true
    }

  def profileStream(
      incoming: DataFrame,
      columns: Seq[String],
      approx: Boolean,
      sink: graft.spec.SinkSpec,
      groupCols: Seq[String] = Nil
  ): StreamingQuery =
    monitorStream(incoming, "profile", sink)(
      graft.ops.Relational.profile(_, columns, approx, groupCols))

  /** Per-micro-batch WebDataset shard packing — the streaming half of
    * the tokenized-shards product (the q200 batch shape): every
    * micro-batch's (name, payload) rows pack through the SAME
    * deterministic assignment as batch `tar_pack` (portable fingerprint
    * of the sample key mod `shards` — [[graft.ops.Tar.tarShards]]), and
    * the batch's shard archives land under `outDir/batch=b<id>/` as
    * (shard, tar, n_members, tar_bytes, batch_id) rows. Shard MEMBERSHIP
    * is therefore batching-invariant — a member reaches the same shard
    * number whether the corpus arrives as one batch or a thousand — and
    * a training loader reads `outDir` as one growing shard set,
    * filtering by shard the usual way. foreachBatch replays OVERWRITE
    * their own batch=b<id> directory (the semanticIngest posture), so
    * restarts are idempotent, never double-packed.
    *
    * Scale: the per-batch aggregate shuffles batch-shaped rows once on
    * the shard number; history is never re-read or re-packed. Archives
    * append forever — compact small per-batch shards offline with the
    * batch tar_pack over `tar_members` when the loader wants fewer,
    * bigger files. (Deliberately NO `compact_every`: the rows are tar
    * ARCHIVES, so a dir-level fold would rewrite O(all archived bytes)
    * per cadence while leaving the many-small-archives problem intact —
    * the offline tar_pack re-pack both merges the archives AND retires
    * the dirs, strictly better at every scale.) */
  def shardPackStream(
      incoming: DataFrame,
      nameCol: String,
      payloadCol: String,
      shards: Int,
      outDir: String,
      checkpointDir: String,
      trigger: Option[String] = None
  ): StreamingQuery =
    microBatches(incoming, "shardPackStream", Some(checkpointDir), trigger) {
      (batch, batchId) =>
        graft.ops.Tar.tarShards(batch, nameCol, payloadCol, shards)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$outDir/batch=b$batchId")
        true
    }

  /** Session windows: groups rows of one key whose gaps are < `gap`;
    * window = [first event, last event + gap). Streaming state is one
    * open session per key, merged/closed by watermark. */
  def sessionAgg(
      df: DataFrame,
      tsCol: String,
      gap: String,
      keys: Seq[String],
      aggs: Seq[AggSpec],
      watermark: Option[String] = None
  ): DataFrame = {
    val in = watermark.fold(df)(w => df.withWatermark(tsCol, w))
    applyAggs(in.groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*), aggs)
      .withColumn("session_start", col("session_window.start"))
      .withColumn("session_end", col("session_window.end"))
      .drop("session_window")
  }
}
