package graft.spec

/** Pipeline specification ADT — the engine's "query language".
  *
  * This is a superset of the reference's JSON config surface
  * (skybluecycology/meta_frame): the recursive parent→child
  * aggregate-and-join tree (`pandas/optimus.py:43-67`,
  * `sparks/optimus.py:52-76`), the iteration×level cascade
  * (`Optimus/optimus.py:54-80`, `Optimus/megatron.py:95-115`) and the
  * nested/filtered aggregate with bitemporal stamping
  * (`Optimus/hotrod.py:83-113`). Unlike the reference (which interprets the
  * dict eagerly, op by op, with an action per recursion level), a spec here
  * compiles to ONE composed lazy DataFrame plan, so Catalyst sees the whole
  * tree and can push filters / prune columns / pick join strategies across
  * node boundaries.
  */

/** A node operator's parsed config — one case class per entry of the
  * operator registry ([[graft.compile.Operators]]), which owns its key,
  * decoder, stream mode, column reads and compile step. */
sealed trait OpSpec

/** A filter predicate. */
sealed trait FilterSpec
/** SQL-ish expression string filter (ref: `sparks/optimus.py:14-17`,
  * `pandas/optimus.py:15-18` df.query). Parsed by Catalyst via
  * `functions.expr`, so the full scalar-function surface is admitted. */
final case class ExprFilter(expr: String) extends FilterSpec
/** Structured comparison filter (ref: `Optimus/optimus.py:7-14`
  * `{filter_col, filter_op, filter_value}`).
  * op ∈ {==, =, !=, >, <, >=, <=, isin, not_isin, is_null, is_not_null,
  * contains, starts_with, ends_with}; `nullSafe` selects `<=>`
  * (ref: `Optimus/megatron.py:11` eqNullSafe). */
final case class ColFilter(
    col: String,
    op: String,
    value: JValue,
    nullSafe: Boolean = false
) extends FilterSpec

/** JSON scalar/list value carried in configs (filter values, literals). */
sealed trait JValue
final case class JStr(v: String) extends JValue
final case class JNum(v: Double) extends JValue
final case class JInt(v: Long) extends JValue
final case class JBool(v: Boolean) extends JValue
case object JNull extends JValue
final case class JArr(vs: Seq[JValue]) extends JValue

/** One aggregation: `func(col)` aliased to `newName`, optionally restricted
  * to rows passing `filter` (ref filtered aggregate:
  * `Optimus/soundwave.py:57-62` → SQL `agg(x) FILTER (WHERE p)`).
  * func ∈ {sum, min, max, avg, mean, count, count_distinct,
  * approx_count_distinct, first, last, collect_set, collect_list, stddev,
  * variance, median, percentile, approx_percentile, any_value,
  * sum_distinct}. `param` carries the percentage for the percentile
  * functions (default 0.5); `approx_percentile` is the 100 TB path for
  * global quantiles — exact `percentile` sorts per group. */
final case class AggSpec(
    col: String,
    func: String,
    newName: Option[String] = None,
    filter: Option[String] = None,
    param: Option[Double] = None
)

/** Pivot: spread the aggregations across columns, one per pivot value.
  * Values are EXPLICIT by design: an implicit pivot costs an extra
  * distinct pass over the fact table to discover them. */
final case class PivotSpec(col: String, values: Seq[JValue])

/** Group-by aggregation (ref: `Optimus/optimus.py:27-32` group_by +
  * aggregations + keep_columns).
  * `keep` columns outside `groupBy` are wrapped in `any_value` — the
  * reference selects them verbatim post-agg (`Optimus/optimus.py:31`),
  * which throws in Spark/ANSI SQL; see SURVEY.md §2.1 P2.
  * `mode` ∈ {groupBy, rollup, cube, grouping_sets} — rollup/cube are the
  * natural generalization of the reference's level hierarchy (SURVEY §2.2);
  * `grouping_sets` takes the explicit `sets` (each a subset of `groupBy`,
  * which stays the output column list).
  * `salt` (> 1) routes through two-phase salted aggregation for a single
  * hot key that would exceed one reducer (sum/count/min/max/dsum only —
  * the decomposable functions; content-derived salt, replay-stable). */
final case class AggregateSpec(
    groupBy: Seq[String],
    aggs: Seq[AggSpec],
    keep: Seq[String] = Nil,
    mode: String = "groupBy",
    sets: Seq[Seq[String]] = Nil,
    salt: Option[Int] = None,
    pivot: Option[PivotSpec] = None
) extends OpSpec

/** How a child node joins back into its parent (ref: `join{on, how}` at
  * `pandas/optimus.py:61-66`, `link` at `Optimus/hotrod.py:97-100`).
  * Equi-join on `link` columns; `how` is any Spark join type.
  * `onExpr` (NS) is an arbitrary boolean condition instead — a theta join.
  * Catalyst extracts any equi-conjuncts for a hash/merge join; a pure
  * inequality becomes a nested-loop (broadcast the small side via
  * `ChildSpec.hint`). Use `prefix: true` so both sides' columns are
  * addressable in the condition.
  * `how = "asof"` (NS) joins each parent row to the latest child row with
  * `childTs` ≤ `parentTs` per link key — compiled to the union-and-carry-
  * forward plan (ONE shuffle+sort of |L|+|R|; a `l.ts >= r.ts` theta join
  * is O(|L|·|R|) per key and dies at scale). Requires `leftTs`/`rightTs`;
  * all non-link, non-ts child columns become the carried payload.
  * `how = "interval"` (NS) joins each parent row to every child row with
  * the same link keys whose `rightTs` ∈ [`leftTs` − `lookback`, `leftTs`]
  * — requires `leftTs`/`rightTs`/`lookback`. Under `compileStream` with a
  * streaming child source this is a stream-stream join; `leftDelay`/
  * `rightDelay` set the two watermarks that (with the time bound) let
  * Spark evict join state — without them an unbounded stream-stream join
  * accumulates state forever. All four keys are ignored-silently-never:
  * unknown combinations throw at compile. */
final case class JoinSpec(
    link: Seq[String],
    how: String = "left",
    onExpr: Option[String] = None,
    leftTs: Option[String] = None,
    rightTs: Option[String] = None,
    lookback: Option[String] = None,
    leftDelay: Option[String] = None,
    rightDelay: Option[String] = None,
    direction: String = "backward", // asof only: backward | forward | nearest
    tolerance: Option[String] = None, // asof only: max |leftTs − match| else null payload
    salt: Option[Int] = None // equi-link inner/left only: skew-salted join fan-out
)

/** Per-group top-k (NS): keep the first `k` rows of each `partitionBy`
  * group under `orderBy` ("col asc|desc [nulls first|last]" strings; must
  * be a total order — include a unique tiebreaker). Compiles to
  * row_number over a window → filter ≤ k; Spark 4 plans WindowGroupLimit,
  * so each map task keeps only k rows per group BEFORE the shuffle. The
  * rank lands in `rankCol`. */
final case class TopKSpec(
    partitionBy: Seq[String],
    orderBy: Seq[String],
    k: Int,
    rankCol: String = "rn"
) extends OpSpec

/** Set-operation input (NS): the node's input is `op` applied across the
  * child `nodes` (each a full pipeline) instead of a single source.
  * op ∈ {union (by name, keeps duplicates), union_distinct, intersect,
  * except}. union is shuffle-free; the other three shuffle on all
  * columns — prefer keying + joins for big inputs. */
final case class CombineSpec(op: String, nodes: Seq[NodeSpec])

/** Data source. Exactly one of (path+format) / table / sql / ref set.
  * Ref: CSV `Optimus/optimus.py:38`, table `Optimus/megatron.py:63-65`,
  * SQL `Optimus/soundwave.py:24-27`. Parquet added for the test corpus.
  * `stream: true` marks a NON-ROOT source as a readStream under
  * `Compiler.compileStream` (the root is always streamed there) — this is
  * how a config declares a stream-stream join. Ignored by batch compiles,
  * so the identical spec stays batch-runnable (and oracle-checkable).
  * `ref` names a pipeline-level def (NS; [[TreePipeline.defs]]): the
  * source IS that stage's compiled frame — every reference shares ONE
  * plan instead of re-inlining (and recomputing) the stage's subtree. */
final case class SourceSpec(
    format: String = "parquet",
    path: Option[String] = None,
    table: Option[String] = None,
    sql: Option[String] = None,
    options: Map[String, String] = Map.empty,
    stream: Boolean = false,
    ref: Option[String] = None
)

/** Sink (ref: per-node save `pandas/optimus.py:10-12`, per-iteration save
  * `Optimus/optimus.py:48-51`).
  *
  * The streaming fields make the same spec a `writeStream` target under
  * `Compiler.compileStream` (batch/stream symmetry — SURVEY §3):
  * `trigger` ∈ {"available_now", "once", "<interval>" e.g. "10 seconds"}
  * (anything else fails by name: `save: trigger '…' is neither …`),
  * `outputMode` ∈ {append, update, complete}, `checkpoint` is the fault-
  * tolerance dir (REQUIRED for production streams — exactly-once resumes
  * hang off it), `queryName` names memory-sink tables. All four are
  * ignored by the batch writer. */
final case class SinkSpec(
    path: String,
    format: String = "parquet",
    mode: String = "overwrite",
    options: Map[String, String] = Map.empty,
    trigger: Option[String] = None,
    checkpoint: Option[String] = None,
    outputMode: Option[String] = None,
    queryName: Option[String] = None,
    table: Option[String] = None, // bucketed sinks are catalog-backed
    layout: Option[SinkLayoutSpec] = None
)

/** Physical-layout directives on a batch sink (NS) — the config surface
  * of [[graft.ops.Layout]], because layout is precisely what a 100 TB
  * curation job tunes: the write pays one shuffle so the next thousand
  * queries scan less. Exactly ONE of the four modes may be set:
  *
  *   - `partitionBy`: hive directories, coarse pruning (low-cardinality);
  *   - `bucketBy` (+`buckets`, optional `sortBy`): pre-shuffled storage —
  *     co-bucketed equi-joins/aggs run with NO exchange. Catalog-backed:
  *     the sink needs `table`, not `path`;
  *   - `rangeBy` (+`ranges`): range-partitioned sorted files — parquet
  *     min/max footers become file-skipping indexes;
  *   - `zorderBy` (+`zorderBits`, `ranges`): multi-column locality — file
  *     skipping on EVERY participating column.
  *
  * Layout sinks are parquet + overwrite by construction (delegating to
  * the Layout writers); anything else throws at compile, never silently
  * writes a different layout. */
final case class SinkLayoutSpec(
    partitionBy: Seq[String] = Nil,
    bucketBy: Seq[String] = Nil,
    buckets: Int = 0,
    sortBy: Seq[String] = Nil,
    rangeBy: Seq[String] = Nil,
    ranges: Int = 0,
    zorderBy: Seq[String] = Nil,
    zorderBits: Int = 4,
    maxRecordsPerFile: Long = 0L
)

/** Event-time watermark (streaming state eviction bound). Applied after
  * `derive`, so the watermark column may itself be derived (e.g. a
  * timestamp decoded from raw nanos). A no-op in batch compiles — which is
  * exactly what lets one spec serve both engines. */
final case class WatermarkSpec(col: String, delay: String) extends OpSpec

/** Embedding near-duplicate pair detection (NS; not in the reference):
  * the node's frame becomes (idA, idB, score) — all pairs with cosine ≥
  * `threshold` via pigeonhole-banded hyperplane LSH
  * (`Similarity.cosineNearDupPairsBanded`; native signature kernel, band
  * equi-join, first-collision scored-once guarantee). Pure plan
  * composition — no actions — which is what makes it config-admissible
  * (the LSH→verify→cluster dedup PIPELINE is iterative and stays in the
  * Scala API). Defaults are the production regime: numBits 64, bands 8.
  * Downstream node keys (aggregate, top_k, order_by…) then run over the
  * pair frame. `output` = "clusters" instead runs connected components
  * over the verified pairs and rewrites the frame to (id, cluster)
  * labels (min-id representative — the q45/q53 convention), matching the
  * perceptual tiers' cluster output; ids in no pair are absent (they
  * were never candidates). */
final case class NearDupSpec(
    idCol: String,
    vecCol: String,
    threshold: Double,
    dim: Int,
    numBits: Int = 64,
    bands: Int = 8,
    output: String = "pairs",
    retention: Option[RetentionSpec] = None // clusters output only
) extends OpSpec

/** Best-copy retention for a cluster-output dedup tier: instead of the
  * raw (id, cluster) labels, the node keeps each duplicate class's best
  * FULL row — the highest `order_col` score with `descending` (default),
  * the lowest without — ties broken by minimum id (the exactDedupBest
  * rule lifted to fuzzy clusters). Unlabelled rows (no near-dup) are
  * their own class and always survive. ONE extra aggregate + one
  * label join over the cluster op's cost. */
final case class RetentionSpec(
    orderCol: String,
    descending: Boolean = true
)

/** SemDeDup-style semantic dedup (NS; the public SemDeDup recipe):
  * k-means-cluster the embedding column via the IVF centroid machinery,
  * then near-dup WITHIN each cluster only; a row is dropped iff some
  * smaller-id row of its own cluster is within cosine `threshold`
  * ([[graft.ops.Similarity.semanticDedup]]). `output`: "keep" (default)
  * leaves the node's frame as the surviving rows (original schema);
  * "labels" rewrites it to (id, cluster, keep); "pairs" to the
  * within-cluster near-dup list (idA, idB, cluster, score). `exact`
  * switches the within-cluster candidate tier from cluster-scoped
  * banded LSH (the scale path) to per-cluster all-pairs (verification
  * fixtures only). Centroid training collects nlist·dim doubles at
  * compile — bounded metadata, batch-only by name. */
final case class SemanticDedupSpec(
    idCol: String,
    vecCol: String,
    threshold: Double,
    dim: Int,
    nlist: Int = 16,
    refineRounds: Int = 0,
    exact: Boolean = false,
    numBits: Int = 64,
    bands: Int = 8,
    output: String = "keep"
) extends OpSpec

/** Edit-distance near-dup pairs (NS; Dedup.blockedCandidatePairs →
  * verifyEditDistancePairs): record-linkage blocking on `blockExpr` (any
  * Catalyst expression string — a text prefix, a normalized title…),
  * then normalized-Levenshtein verification of the candidates. The frame
  * becomes (idA, idB, dist, sim). Pure plan composition — one shuffle on
  * the block key, verify ∝ candidates — so config-admissible. The
  * short-field tier where shingle Jaccard is too coarse; `maxDistance`
  * engages the early-exit kernel at scale. The hot-bucket cap is
  * default-on (`"max_bucket_size"`: an int pins a user cap, `"off"` opts
  * out, absent/`"auto"` = skew-safe auto cap). */
final case class EditDedupSpec(
    idCol: String,
    textCol: String,
    blockExpr: String,
    threshold: Double = 0.8,
    maxDistance: Option[Int] = None,
    bucketCap: graft.ops.BucketCap = graft.ops.BucketCap.Auto
) extends OpSpec

/** Corpus-LM perplexity scoring (NS; Corpus.lmPerplexity): self-trained
  * add-k bigram LM, each doc scored by mean negative log-probability.
  * The frame becomes (idCol, n_bigrams, nll). Docs with < 2 tokens are
  * absent by default; `keep_unscored: true` keeps them with n_bigrams=0
  * and NULL nll — a policy the config states, not an implementation
  * detail. Plan-only (vocabulary aggregates + equi-joins — no actions),
  * so config-admissible. */
final case class LmPerplexitySpec(
    idCol: String,
    textCol: String,
    k: Double = 0.5,
    keepUnscored: Boolean = false,
    smoothing: String = "addk", // addk | kn (interpolated Kneser-Ney)
    discount: Double = 0.75 // KN absolute discount
) extends OpSpec

/** BPE vocabulary training (NS; graft.ops.Bpe): train `numMerges` byte-
  * pair merges on `textCol` over the node's frame. `output = "merges"`
  * replaces the frame with the merge table (rank, left, right,
  * pair_count); `output = "tokens"` keeps the frame and adds
  * `bpe_tokens` (the trained tokenizer applied scan-stage) and `n_bpe`.
  * Batch-only by name (training is an iterative global aggregate). */
final case class BpeSpec(
    textCol: String,
    numMerges: Int = 16,
    output: String = "merges"
) extends OpSpec

/** Count–Min watchlist probe (NS; Relational.cmsProbeCounts): the frame
  * becomes (keyCol, est) — estimated frequencies of the fixed `probes`
  * list from ONE shuffle-free mergeable-sketch aggregate (est ≥ truth
  * always; ≤ truth + ε·N with prob ≥ confidence; fixed seed →
  * deterministic). Batch-only by name (the sketch collect is an
  * action). */
final case class CmsProbeSpec(
    keyCol: String,
    probes: Seq[String],
    eps: Double = 1e-4,
    confidence: Double = 0.99,
    seed: Int = 42
) extends OpSpec

/** Trainable quality classifier (NS; Corpus.qualityClassifier):
  * fastText-style logistic model over hashed token buckets, trained on
  * the rows where `labelCol` is non-null by deterministic full-batch
  * aggregate passes, scoring EVERY row at scan-stage cost. The frame
  * becomes (idCol, score, pred). Batch-only (training aggregates). */
final case class QualityClassifierSpec(
    idCol: String,
    textCol: String,
    labelCol: String,
    dim: Int = 1024,
    epochs: Int = 8,
    lr: Double = 0.8,
    threshold: Double = 0.5
) extends OpSpec

/** Trainable MULTICLASS classifier (NS;
  * Corpus.trainMulticlassClassifier + predictMulticlass): one-vs-rest
  * over the deterministic binary trainer, argmax prediction added as
  * `pred_col` (and per-class `score_<label>` columns with
  * `keep_scores`). The language/domain/source-ID tier. Batch-only by
  * name (training aggregates); inference alone is scan-stage. */
final case class MulticlassClassifierSpec(
    idCol: String,
    textCol: String,
    labelCol: String,
    dim: Int = 1024,
    epochs: Int = 8,
    lr: Double = 0.8,
    predCol: String = "pred_label",
    keepScores: Boolean = false
) extends OpSpec

/** Predict with a SAVED multiclass artifact (NS;
  * Corpus.loadMulticlassClassifier + predictMulticlass): models load
  * once at compile (bounded driver metadata), every row gains the
  * argmax `pred_col` from one scan-stage kernel call per class — the
  * streaming-admissible inference half of `multiclass_classifier`,
  * exactly as `score_model` is for `quality_classifier`. */
final case class PredictModelSpec(
    textCol: String,
    modelDir: String,
    predCol: String = "pred_label",
    keepScores: Boolean = false
) extends OpSpec

/** Score with a SAVED classifier artifact (NS; Corpus.scoreWithModel):
  * loads a [[graft.ops.Corpus.saveTextClassifier]] weight table at
  * compile time and applies the scan-stage inference kernel — the
  * streaming-admissible half of `quality_classifier` (batch-train →
  * stream-score). Adds (`scoreCol`, `predCol`). */
final case class ScoreModelSpec(
    textCol: String,
    modelDir: String,
    scoreCol: String = "score",
    predCol: String = "pred",
    threshold: Double = 0.5
) extends OpSpec

/** Tokenize with a SAVED BPE merge table (NS; Bpe.loadMerges +
  * BpeKernels.bpeTokenize): loads a `bpe` output=merges artifact at
  * compile time and adds `bpe_tokens`/`n_bpe` scan-stage — the
  * streaming-admissible half of `bpe` (batch-train → stream-tokenize). */
final case class BpeApplySpec(
    textCol: Option[String], // encode side: adds bpe_tokens (+ bpe_ids)
    mergesDir: String,
    withIds: Boolean = false, // also add bpe_ids (stable integer ids)
    decodeCol: Option[String] = None // decode side: ids column → bpe_decoded tokens
) extends OpSpec

/** Sliding-window document chunking (NS; Corpus.chunkByTokens /
  * Corpus.chunkIds): the context-window prep step — each document becomes
  * ⌈(n − overlap) / stride⌉ overlapping chunks of `size` tokens (stride =
  * size − overlap). Exactly one of `textCol` (whitespace-token text tier,
  * frame becomes (id, chunk_id, chunk_text, n_tokens)) or `idsCol`
  * (token-id tier over a `bpe_apply with_ids` array, frame becomes
  * (id, chunk_id, chunk_ids, n_tokens)). Scan-stage generator, no
  * shuffle — streaming-admissible; the no-truncation companion to
  * `sequence_pack mode:"whole"`. `sep` (text tier only; excludes
  * `overlap`) switches to STRUCTURE-AWARE chunking: sep-separated
  * segments (paragraphs) pack greedily into chunks of at most `size`
  * tokens, a segment never splits (frame gains `n_segments`). */
final case class ChunkSpec(
    idCol: String,
    size: Int,
    overlap: Int = 0,
    textCol: Option[String] = None,
    idsCol: Option[String] = None,
    sep: Option[String] = None
) extends OpSpec

/** Scan-stage near-duplicate PROBE against a persisted MinHash band
  * index (NS; Dedup.nearDupProbeBloom): a Bloom filter over the index's
  * band keys is built once at compile time and broadcast; each row's
  * flag is computed without joining or shuffling the probed frame —
  * streaming-admissible. Conservative: Bloom false positives can only
  * over-flag (`fpp`-bounded), never miss an indexed collision. Must use
  * the SAME (shingleSize, numHashes, bands) the index was built with. */
final case class NearDupProbeSpec(
    textCol: String,
    indexDir: String,
    shingleSize: Int = 3,
    numHashes: Int = 64,
    bands: Int = 16,
    flagCol: String = "near_dup",
    expectedKeys: Long = 1L << 22,
    fpp: Double = 0.01
) extends OpSpec

/** Deterministic train/val/test split (NS; Corpus.hashSplit): adds
  * `splitCol` naming each row's bucket by portable multiplicative hash of
  * `idCol` — reproducible and stable under corpus growth. Buckets are an
  * ORDERED list because boundary assignment is cumulative. Scan-stage,
  * config-admissible. */
final case class SplitSpec(
    idCol: String,
    buckets: Seq[(String, Double)],
    splitCol: String = "split"
) extends OpSpec

/** Temperature-based mixture resampling (NS; Corpus.temperatureSample):
  * resample so group `groupCol`'s share follows p^alpha renormalized,
  * sized to `targetFraction` of the input — the multilingual data-mixing
  * pass (alpha 1 = proportional, smaller = flatter, tail groups raised;
  * per-group rate caps at 1). Deterministic hash selection on `idCol`
  * (monotone in target_fraction: smaller samples nest inside larger).
  * Needs a count action for the rates, so batch-only. */
final case class TemperatureSampleSpec(
    groupCol: String,
    idCol: String,
    targetFraction: Double,
    alpha: Double = 0.5
) extends OpSpec

/** Token-budget mixture sampling (NS; Corpus.tokenBudgetSample): keep
  * docs per group in deterministic hash order until each group's TOKEN
  * budget fills — mixtures are specified in tokens, not doc fractions.
  * Exactly one of `budgets` (group → tokens, JSON-object order) or
  * `weights` + `totalBudget` (budget_g = ⌊total · w_g / Σw⌋). Groups
  * absent from the mixture drop. `overshoot` keeps the boundary-crossing
  * doc (default — the budget is FILLED); false never exceeds. Needs an
  * action for the bucket sums, so batch-only. */
final case class TokenBudgetSampleSpec(
    groupCol: String,
    idCol: String,
    tokensCol: String,
    budgets: Seq[(String, Long)] = Seq.empty,
    weights: Seq[(String, Double)] = Seq.empty,
    totalBudget: Long = 0L,
    overshoot: Boolean = true,
    orderCol: Option[String] = None, // score-ordered selection (quality-first)
    descending: Boolean = true // order_col direction; ignored without it
) extends OpSpec

/** Deterministic global shuffle + sharding (NS; Corpus.globalShuffle):
  * adds (`shard`, `shuffle_pos`) — an id-keyed, seed-parameterized,
  * retry-stable permutation in loader-streamable shards, the
  * training-output ordering pass. Different seeds = independent epoch
  * orders. One per-shard window shuffle; exactly oracle-checkable
  * BIGINT arithmetic. */
final case class GlobalShuffleSpec(
    idCol: String,
    shards: Int,
    seed: Long = 0L
) extends OpSpec

/** DSIR importance weighting / resampling (NS; Corpus.dsirWeights /
  * dsirSelect — Xie et al. 2023): score every row of this node's frame
  * by how target-like its hashed unigram+bigram distribution is,
  * against the exemplar corpus named by `targetRef` (a top-level def).
  * mode = "weights" adds (n_feats, dsir_logw); mode = "select" keeps
  * the Gumbel-top-`n` resample (`gumbel: false` = hard top-n by
  * weight). `saveModel` optionally persists the fitted log-ratio table
  * (the batch-fit → stream-score artifact). Batch-only (the fit is two
  * count aggregates); the scoring itself is scan-stage. */
final case class DsirSpec(
    targetRef: String,
    textCol: String,
    idCol: String = "",
    buckets: Int = 8192,
    mode: String = "weights", // weights | select | select_threshold
    n: Int = 0,
    seed: Long = 0L,
    gumbel: Boolean = true,
    saveModel: String = "",
    // select_threshold: explicit key cut, or (with n instead) the
    // ~(1 - n/N) quantile of the key at relativeError sketch precision —
    // the scan-stage selection path for n beyond the TakeOrdered budget
    threshold: Option[Double] = None,
    relativeError: Double = 1e-4
) extends OpSpec

/** Winnowed fingerprinting (NS; Dedup.winnowIndex /
  * winnowCandidatePairs — the MOSS algorithm): `output: "index"`
  * replaces the frame with the compacted (id, pos, fp) selection
  * (~2/(w+1) of the full window stream, guaranteed detection of
  * matches ≥ w+k−1 tokens); `output: "pairs"` with the doc pairs
  * sharing ≥ minShared selected fingerprints. Scan-stage selection;
  * pairs add one fp-keyed join. */
final case class WinnowSpec(
    idCol: String,
    textCol: String,
    windowTokens: Int = 50,
    winnowWindow: Int = 8,
    output: String = "index", // index | pairs
    minShared: Int = 1
) extends OpSpec

/** Scan-stage winnow PROBE (NS; Dedup.winnowProbeBloom): a Bloom over
  * a persisted winnowIndexFps table (parquet at `indexDir`) builds at
  * compile and broadcasts; each row gains `matchedCol` (count of its
  * winnowed selections that might be indexed) and `flagCol`
  * (≥ minShared) with zero shuffles — streaming-admissible, the MOSS
  * candidate gate on a stream. Conservative: indexed collisions always
  * flag; fpp-bounded over-flagging routes to the exact tier. Must use
  * the index's (windowTokens, winnowWindow). */
final case class WinnowProbeSpec(
    textCol: String,
    indexDir: String,
    windowTokens: Int = 50,
    winnowWindow: Int = 8,
    minShared: Int = 2,
    matchedCol: String = "matched_fps",
    flagCol: String = "near_dup",
    expectedKeys: Long = 1L << 22,
    fpp: Double = 0.01
) extends OpSpec

/** WebDataset sample grouping (NS; Tar.wdsSamples): the frame's
  * (name, data) member rows become one row per SAMPLE — (sample_key,
  * n_files, exts, payload_bytes), key = name minus its last extension.
  * The loader-side view of a shard and the completeness check a packing
  * pipeline runs. One sample-keyed shuffle. */
final case class WdsSamplesSpec(
    nameCol: String,
    dataCol: String
) extends OpSpec

/** Collocation mining (NS; TextAnalysis.collocations): the frame's
  * `textCol` corpus becomes its top-`topK` adjacent word pairs by
  * pointwise mutual information (w1, w2, n_pair, pmi) — phrase-lexicon
  * building, BPE merge auditing, template-glue detection. `minCount`
  * floors the pair count first (PMI is hapax-top-heavy). Scan-stage
  * bigram zip + vocabulary-shaped count aggregates; batch-only (global
  * corpus counts). */
final case class CollocationsSpec(
    textCol: String,
    minCount: Int = 5,
    topK: Int = 100,
    groupCols: Seq[String] = Nil // per-group lexicons (e.g. per language)
) extends OpSpec

/** BM25 top-k retrieval (NS; Retrieval.bm25TopK): rank this node's
  * frame (the corpus) against the query table named by `queriesRef` (a
  * top-level def with qid/qtext columns); the frame becomes
  * (qid, id, score, rn) — each query's topK best-matching documents.
  * The retrieval step of retrieval-based decontamination and corpus
  * audits. Batch-only (corpus stats need an action). */
final case class Bm25Spec(
    queriesRef: String,
    idCol: String,
    textCol: String,
    qidCol: String = "qid",
    qtextCol: String = "qtext",
    k1: Double = 1.2,
    b: Double = 0.75,
    topK: Int = 10,
    proxWeight: Double = 0.0 // > 0: add bigram-adjacency (phrase) scoring
) extends OpSpec

/** Build/maintain an at-rest BM25 index (NS; Retrieval.saveBm25Index) —
  * the ann_index artifact pattern applied to lexical retrieval
  * (tokenize once, search many): the frame (the corpus) persists
  * bucket-partitioned postings (+ bigram postings with `prox`), doc
  * lengths and exact stats under `dir`, then becomes the (bucket,
  * n_postings) balance histogram. `mode: "append"` lands new docs and
  * refreshes stats — searches then reflect the union corpus exactly
  * (df computes at search time). Batch-only. */
final case class Bm25IndexSpec(
    idCol: String,
    textCol: String,
    dir: String,
    prox: Boolean = false,
    buckets: Int = 64,
    mode: String = "build", // append: land new docs, refresh stats; compact: defragment
    // compact-only: the bm25_ingest stream's checkpointLocation. When
    // given, the fold reads the checkpoint's commits log and folds only
    // batch dirs the stream has COMMITTED — the live-stream-safe
    // compaction (an uncommitted dir would be re-landed by a replay and
    // its rows duplicated if folded first). Without it, every landed
    // dir folds: exact for a quiesced stream.
    checkpoint: Option[String] = None
) extends OpSpec

/** BM25 search against a saved index (NS; Retrieval.bm25SearchIndex):
  * the frame (the QUERY set) becomes (qid_col, <index id_col>, score,
  * rn) — bit-identical to `bm25` over the same corpus at the same
  * params, without re-tokenizing it; the query terms' buckets prune the
  * postings scan. prox_weight needs a prox-built index. Batch-only. */
final case class Bm25SearchSpec(
    qidCol: String,
    qtextCol: String,
    indexDir: String,
    k1: Double = 1.2,
    b: Double = 0.75,
    topK: Int = 10,
    proxWeight: Double = 0.0
) extends OpSpec

/** Reciprocal-rank fusion (NS; Retrieval.rrfFuse): the frame — a UNION
  * of ranked lists as (queryCol, docCol, rankCol) rows, typically
  * `combine` of a bm25 child and an ann_search child with ranks renamed
  * to a shared column — becomes each query's top-k by
  * rrf = Σ 1/(rrf_k + rank), the score-calibration-free hybrid-search
  * combiner. 9-dp decimal-summed, ties by doc id; NULL/<1 ranks raise
  * by name. Batch-only by name (rank window). Returns
  * (queryCol, docCol, rrf_score, rn). */
final case class RrfFuseSpec(
    queryCol: String,
    docCol: String,
    rankCol: String,
    topK: Int = 10,
    rrfK: Int = 60,
    weightCol: Option[String] = None // weighted RRF: w/(k+rank) per row
) extends OpSpec

/** Ordered funnel analysis (NS; Relational.funnel): per key, step 1
  * anchors at the first `steps(0)` event and step i completes at the
  * earliest `steps(i)` event strictly after step i−1 (optionally within
  * `window` of the anchor). `anchor` = "first" (default: a key anchors
  * once, n_keys counts keys) or "every" (every distinct step-1 instant
  * converts independently, n_keys counts anchors — the "event totals"
  * convention). The frame becomes one row per step:
  * (step, event, n_keys). Chained key-shaped MIN aggregates ("first") /
  * per-step union-and-carry ("every") — no per-key event arrays, never
  * an anchors × events product. Batch-only by name. */
final case class FunnelSpec(
    keyCol: String,
    tsCol: String,
    eventCol: String,
    steps: Seq[String],
    window: Option[String] = None,
    anchor: String = "first"
) extends OpSpec

/** Range (point-in-interval) join (NS; Relational.rangeJoin): each frame
  * row's `pointCol` probes the intervals def named by `intervalsRef`
  * (loCol ≤ point < hiCol, plus equal `on` keys) and gains its `payload`
  * columns — IP→geo blocks, calibration windows, price bands. Bucketed
  * equi-join on floor(point / bucket) — never a nested loop; set
  * `broadcast` for the dimension-table case (zero point-side shuffle).
  * Overlaps multiply; `how` = "left" keeps unmatched points.
  * Streaming-admissible on the point side (stream-static join). */
final case class RangeJoinSpec(
    intervalsRef: String,
    pointCol: String,
    loCol: String,
    hiCol: String,
    bucket: Double,
    on: Seq[String] = Nil,
    payload: Seq[String] = Nil,
    how: String = "inner",
    inclusiveHi: Boolean = false,
    broadcast: Boolean = false,
    maxBucketsPerInterval: Int = 1 << 16
) extends OpSpec

/** Connected components (NS; Dedup.dedupClusters exposed generically):
  * the node's frame is an EDGE table — each row links `srcCol` to
  * `dstCol` — and becomes (id, cluster) labels where every node gets the
  * MINIMUM id reachable through the edge graph: entity resolution,
  * host-graph communities, click-graph sessions beyond the dedup tiers
  * that already use this engine internally. Iterative min-label
  * propagation with pointer jumping (O(log diameter) rounds, one job per
  * round, constant-size plans); graphs under `smallGraphEdges` cut over
  * to a driver union-find (bounded-metadata trust model, hard-capped);
  * `checkpointDir` switches rounds to reliable parquet checkpoints (the
  * 100 TB deep-graph setting). Non-convergence after `maxIter` rounds
  * fails by name. Batch-only (iterative actions). */
final case class ConnectedComponentsSpec(
    srcCol: String,
    dstCol: String,
    maxIter: Int = 20,
    smallGraphEdges: Long = 1L << 20,
    checkpointDir: Option[String] = None
) extends OpSpec

/** Interval-overlap join (NS; Relational.overlapJoin): each frame row's
  * `[loCol, hiCol)` span pairs with every OVERLAPPING span of the def
  * named by `otherRef` (equal `on` keys) and gains its `payload` columns
  * — session × outage, exposure × browsing window. Both sides explode to
  * covering cells of `bucket` width and join as a plain EQUI-join; each
  * pair is emitted exactly once (later-start-cell rule), never via a
  * nested loop or a dedup shuffle. `inclusive` switches to closed-span
  * overlap (touching endpoints count). Numeric bounds (epoch
  * seconds/micros upstream). `how: "left"` keeps non-overlapping frame
  * rows with NULL payload (batch-only — the pad side is a null-safe
  * anti-join over the matched output). Streaming-admissible on the
  * frame side (stream-static) with the default `how: "inner"`. */
final case class OverlapJoinSpec(
    otherRef: String,
    loCol: String,
    hiCol: String,
    bucket: Double,
    otherLoCol: Option[String] = None,
    otherHiCol: Option[String] = None,
    on: Seq[String] = Nil,
    payload: Seq[String] = Nil,
    inclusive: Boolean = false,
    broadcast: Boolean = false,
    maxBucketsPerInterval: Int = 1 << 16,
    how: String = "inner"
) extends OpSpec

/** Snapshot diff (NS; Relational.snapshotDiff): the node's frame is the
  * NEW corpus snapshot; `otherRef` names a def holding the OLD one. Rows
  * pair on `on` keys and compare null-safely on `compare` (default: all
  * shared non-key columns, sorted); output is keys + status
  * (added|removed|changed, + unchanged with `includeUnchanged`) +
  * the list of differing columns (+ the new-side values with `carry:
  * "new"`). ONE full-outer equi-join on the keys; NULL keys fail by
  * name. Batch-only (a full-outer join has no streaming plan). */
final case class DiffSpec(
    on: Seq[String],
    otherRef: String,
    compare: Seq[String] = Nil,
    statusCol: String = "diff_status",
    changedCol: String = "changed_cols",
    includeUnchanged: Boolean = false,
    carry: String = "none" // none | new
) extends OpSpec

/** Apply a snapshot diff (NS; Relational.applyDiff) — the inverse that
  * closes the diff lifecycle: the node's frame is the BASE (old)
  * snapshot, `deltaRef` names a def holding a `diff ... carry: "new"`
  * output, and the frame becomes the NEW snapshot — ship the delta,
  * patch at the destination, never re-copy the corpus. Round-trip law:
  * apply(old, diff(new, old)) == new. One key-shaped anti-join + a
  * union; payload-less deltas, untracked base columns, type drifts and
  * unknown statuses reject by name. Batch-only (a complete delta). */
final case class ApplyDiffSpec(
    on: Seq[String],
    deltaRef: String,
    statusCol: String = "diff_status",
    changedCol: String = "changed_cols"
) extends OpSpec

/** Resample / gap-fill (NS; Relational.resample): per key, re-grid an
  * irregular event series onto a regular `step` grid over that key's
  * [min(ts), max(ts)] — bucket aggregates from `aggs`, empty buckets
  * per `fill` (none | zero | ffill). Exact integer epoch-micros
  * bucketing; month steps and over-long grids reject by name.
  * Batch-only by name (per-key global bounds). */
final case class ResampleSpec(
    keyCols: Seq[String],
    tsCol: String,
    step: String,
    aggs: Seq[AggSpec],
    fill: String = "none",
    maxBucketsPerKey: Long = 1L << 20
) extends OpSpec

/** Heavy hitters (NS; Relational.approxTopK): the frame becomes its
  * top-`k` most frequent `keyCol` values (keyCol, count, rn) from ONE
  * shuffle-free mergeable-sketch pass (Spark's native DataSketches
  * frequent-items aggregate). Exact when `maxItemsTracked` ≥ the true
  * distinct count; under eviction, error ≤ ~N/maxItemsTracked and
  * every key above that bound is guaranteed present. Deterministic
  * (count DESC, key ASC) tie rule. Batch-only by name. */
final case class ApproxTopKSpec(
    keyCol: String,
    k: Int = 10,
    maxItemsTracked: Int = 10000
) extends OpSpec

/** Unpivot / melt (NS; Relational.unpivot): wide → long, one output row
  * per value column keyed by `ids`, column name in `varCol`, value in
  * `valCol` — the inverse of the `pivot` aggregate option. One Expand
  * over the scan: zero shuffles, streaming-admissible; NULL values are
  * kept. `values` defaults to every non-id column; value columns must
  * share a least common type. */
final case class UnpivotSpec(
    ids: Seq[String],
    values: Seq[String] = Nil,
    varCol: String = "variable",
    valCol: String = "value"
) extends OpSpec

/** Per-row upsampling (NS; Corpus.upsample): emit `factorCol` copies of
  * each row tagged 0..factor−1 in `copyCol` — the repeat-k-epochs half
  * of mixture rebalancing (derive the factor upstream: a CASE over
  * source/lang, or a weights-table join). Factor 0 drops, 1 passes
  * through. Scan-stage generator — zero shuffles, streaming-admissible.
  * Integral factors only; NULL/negative/>2²⁰ raise by name. */
final case class UpsampleSpec(
    factorCol: String,
    copyCol: String = "copy"
) extends OpSpec

/** Ranking-quality evaluation (NS; Retrieval.rankingEval): the frame (a
  * ranked result table — bm25 / ann_search / rrf_fuse output) joins the
  * qrels def named by `qrelsRef` (queryCol, docCol judgment rows) and
  * becomes per-query (n_rel, hits_at_k, rr_at_k, recall_at_k,
  * precision_at_k) at cutoff `k` — the tuning view for every retrieval
  * knob. Judgment-shaped joins, query-keyed aggregate; batch-only by
  * name. */
final case class RankingEvalSpec(
    queryCol: String,
    docCol: String,
    rankCol: String,
    qrelsRef: String,
    k: Int = 10
) extends OpSpec

/** Build + persist an at-rest IVF ANN index (NS; Similarity.saveAnnIndex):
  * the frame (the embedding corpus) writes `dir/centroids` (bounded
  * metadata) and `dir/index` (id, vec, norm, list — PARTITIONED BY LIST
  * for probe-time pruning), then becomes the (list, n_vectors) balance
  * histogram — the nlist/refine_rounds tuning view. Deterministic
  * rebuilds. mode "stats" reads ONLY the artifact and the frame becomes
  * the one-row health gauge (n_lists, n_empty_lists, n_vectors,
  * max_list_n, mean_list_n, skew) — the rebuild-vs-append decision
  * input (id_col/vec_col rejected by name there). Batch-only
  * (centroid-fit actions + an index write). */
final case class AnnIndexSpec(
    idCol: String,
    vecCol: String,
    dir: String,
    nlist: Int = 16,
    refineRounds: Int = 0,
    mode: String = "build", // append: assign to SAVED centroids; stats: health view; compact: defragment
    // pq: {m, k?, iters?} — store m PQ codes per row instead of the
    // vector (the FAISS IVF-PQ at-rest shape, 32-64x smaller); searches
    // reconstruct per candidate; appends encode with the SAVED codebooks
    pqM: Option[Int] = None,
    pqK: Int = 256,
    pqIters: Int = 5,
    // compact-only: the ann_ingest stream's checkpointLocation — folds
    // only COMMITTED batch dirs (see Bm25IndexSpec.checkpoint)
    checkpoint: Option[String] = None
) extends OpSpec

/** ANN search against a saved index (NS; Similarity.annSearchIndex): the
  * frame (the QUERY set) becomes (id_col, match_id, score, rank) — each
  * query's top-k cosine matches from its nprobe nearest inverted lists.
  * Centroids load once at compile (bounded metadata); the probe join hits
  * the index's list partitions only. nprobe = nlist is provably exact
  * brute-force. Batch-only by name (per-query top-k is a rank window). */
final case class AnnSearchSpec(
    idCol: String,
    vecCol: String,
    indexDir: String,
    k: Int = 10,
    nprobe: Int = 4,
    // filtered search: restrict candidates to the ids in this def
    // BEFORE scoring/top-k, so every query gets k matches FROM the
    // allowed subset (post-filtering would silently under-return)
    allowRef: Option[String] = None,
    allowIdCol: String = "id"
) extends OpSpec

/** Generic quantile-threshold selection (NS; Corpus.quantileFilter):
  * keep the ~`keep_n` best rows by any numeric column — the cut derives
  * from ONE Greenwald-Khanna pass (count rides the sketch) and the keep
  * is a pushed-down scan-stage predicate; `descending: false` keeps the
  * LOWEST scores (the perplexity direction). Ties at the cut all keep;
  * `relative_error: 0` = exact sketch. NULL/NaN raise by name.
  * Batch-only by name (the sketch pass is an action). */
final case class QuantileFilterSpec(
    col: String,
    keepN: Long,
    descending: Boolean = true,
    relativeError: Double = 1e-4
) extends OpSpec

/** Scan-stage semantic probe against a saved ANN index (NS;
  * Similarity.annProbeIndex) — the embedding sibling of near_dup_probe /
  * winnow_probe and the semantic-decontamination gate: every row gains
  * `score_col` (MAX cosine against the indexed watchlist/benchmark
  * vectors — exact, no recall loss) and boolean `flag_col` (≥ threshold).
  * The index loads once at compile as a codegen reference object
  * (bounded by name: ≤ 65536 vectors, ≤ 2²² doubles) — zero joins, zero
  * shuffles, streaming-admissible. */
final case class AnnProbeSpec(
    vecCol: String,
    indexDir: String,
    threshold: Double,
    scoreCol: String = "ann_score",
    flagCol: String = "ann_match"
) extends OpSpec

/** WebDataset tar sharding (NS; Tar.tarShards): the frame's (name,
  * payload) rows become per-shard deterministic tar blobs —
  * (shard, tar, n_members, tar_bytes). Shard = portable fingerprint of
  * the sample key (name minus extension), so a sample's members stay
  * together. Write with a partition_by("shard") sink for the loader
  * layout. */
final case class TarPackSpec(
    nameCol: String,
    payloadCol: String,
    shards: Int
) extends OpSpec

/** Compact a landed shard set (NS; Tar.tarCompact): explode every
  * archive in this node's frame back into members and re-pack to
  * `shards` archives with tar_pack's sample-key cohesion — the offline
  * maintenance pass over a `tar_pack_ingest` output dir. `batch_col`
  * (the ingest's batch_id) makes duplicate member names across batches
  * last-writer-wins. Batch-only (a maintenance pass over landed data). */
final case class TarCompactSpec(
    tarCol: String,
    shards: Int,
    batchCol: Option[String] = None
) extends OpSpec

/** Damped PageRank over this node's frame read as an edge list (NS;
  * Graph.pageRank): the frame becomes (node, rank) — the host-authority
  * quality prior of web curation, computed with dangling-mass
  * redistribution and 9-dp deterministic rounding. Batch-only
  * (iterative actions). */
final case class PageRankSpec(
    srcCol: String,
    dstCol: String,
    iters: Int = 3,
    damping: Double = 0.85,
    tol: Double = 0.0 // > 0: stop once max |Δrank| < tol (iters = hard cap)
) extends OpSpec

/** Artifact-loaded DSIR scoring (NS; Corpus.loadDsirModel + dsirScore):
  * the streaming-admissible inference half — the log-ratio table loads
  * ONCE at compile (bounded metadata), scoring is one codegen kernel
  * call per row. */
final case class DsirScoreSpec(
    modelDir: String,
    textCol: String
) extends OpSpec

/** Per-column data-quality profile (NS; Relational.profile): the frame
  * becomes one row per profiled column — (col_name, n_rows, n_nulls,
  * n_distinct, min_value, max_value), min/max as strings. One aggregate
  * pass regardless of column count; `approx` swaps exact distinct for
  * HLL (the corpus-scale default). Batch-only (global aggregate). */
final case class ProfileSpec(
    columns: Seq[String],
    approx: Boolean = false,
    groupCols: Seq[String] = Nil // per-slice profile (e.g. per source)
) extends OpSpec

/** HTML text extraction (NS; TextAnalysis.htmlExtract): the frame
  * becomes (idCol, title, body_text, links) — visible text with
  * script/style/comments/tags removed and entities decoded, the first
  * title, and the `<a href>` values in order. Lenient (browser-like) on
  * malformed markup; scan-stage kernel, streaming-admissible. */
final case class HtmlExtractSpec(
    idCol: String,
    htmlCol: String
) extends OpSpec

/** PDF text extraction (NS; TextAnalysis.pdfExtract): the frame becomes
  * (idCol, version, n_pages, text) — the `application/pdf` sibling of
  * html_extract behind sniff_mime routing. Lenient (damaged structure
  * degrades to empty text, never an error); scan-stage kernel,
  * streaming-admissible. */
final case class PdfExtractSpec(
    idCol: String,
    pdfCol: String
) extends OpSpec

/** Boilerplate line removal (NS; Corpus.removeBoilerplateLines): drop
  * every line occurring in more than `maxDocs` distinct documents and
  * reassemble the rest. The frame becomes
  * (idCol, clean_text, kept_lines, dropped_lines). */
final case class BoilerplateSpec(
    idCol: String,
    textCol: String,
    maxDocs: Long,
    sep: String = "\n",
    byHash: Boolean = true
) extends OpSpec

/** Exact deduplication on `keys` (NS; not in the reference).
  * `idCol` set → deterministic winner: the row with the minimum id per key
  * group (one partial+final hash aggregate via min_by — replay-stable
  * under retries, unlike dropDuplicates whose survivor is
  * partition-order-dependent). `idCol` unset → plain dropDuplicates.
  * `orderCol` (requires `idCol`) → QUALITY-AWARE retention: the winner is
  * the row with the best numeric score per key — highest with
  * `descending` (default), lowest otherwise (e.g. min perplexity) — ties
  * by minimum id; same single aggregate, batch-only. NULL/NaN scores fail
  * loudly. `countCol` (requires `idCol`; batch-only) → the kept row also
  * carries its duplicate-class SIZE — the soft-dedup signal (down-weight
  * or resample by duplication instead of just dropping copies); rides the
  * same aggregate for free. `withinWatermark` (streaming compiles;
  * requires the node `watermark`) → dropDuplicatesWithinWatermark: state
  * holds one entry per key inside the horizon and is evicted by the
  * watermark. */
final case class DedupSpec(
    keys: Seq[String],
    idCol: Option[String] = None,
    withinWatermark: Boolean = false,
    orderCol: Option[String] = None,
    descending: Boolean = true,
    countCol: Option[String] = None
) extends OpSpec

/** Changelog/CDC compaction to a point-in-time snapshot (NS; not in the
  * reference): latest `versionOrder` row per `keys` wins; a key whose
  * latest record matches `deleteWhen` (a boolean expr — the tombstone
  * marker) disappears. Delegates to Relational.compactChangelog —
  * the delete filter runs AFTER the rank so a deleted key's older live
  * versions never resurface. */
final case class CompactSpec(
    keys: Seq[String],
    versionOrder: Seq[String], // sort specs, recency first (e.g. "ts desc")
    deleteWhen: Option[String] = None
) extends OpSpec

/** Multimodal featurize (NS; config surface of `Multimodal.featurize` +
  * `asMediaParsed`): the frame becomes (media_id, format, width, height,
  * n_bytes, features) — metadata header-parsed from the payload bytes,
  * features extracted per partition by the NAMED decoder (`"media"` =
  * the sniffing real BMP/PNG/JPEG/WAV/AVI decoder; `"stub"` = the
  * deterministic fake for opaque formats). Decoders are named, not
  * inline, because a JSON config cannot carry a closure — the registry
  * is the injection seam. Plan-only (mapPartitions composes lazily), so
  * config-admissible. */
final case class FeaturizeSpec(
    idCol: String,
    payloadCol: String,
    decoder: String = "media"
) extends OpSpec

/** Per-key running totals with custom streaming state (NS; config surface
  * of `Streaming.runningTotals` — flatMapGroupsWithState, two longs of
  * state per key): every row is emitted enriched with `running_n` and the
  * decimal-exact `running_value` of its key so far, ordered by
  * (`tsCol`, `seqCol`). Batch compiles of the same spec equal the window
  * formulation exactly (StreamingSpec asserts stream == batch == window).
  * Output schema: (keyCol, seqCol, tsCol, valueCol, running_n,
  * running_value). */
final case class RunningTotalsSpec(
    keyCol: String,
    seqCol: String,
    tsCol: String,
    valueCol: String
) extends OpSpec

/** Literal column stamp, e.g. bitemporal validity interval
  * (ref: `Optimus/soundwave.py:76-78` valid_from/valid_to). */
final case class BitemporalSpec(
    validFrom: String = "2024-01-01",
    validTo: String = "9999-12-31",
    fromCol: String = "valid_from",
    toCol: String = "valid_to"
) extends OpSpec

/** A child node: its own full NodeSpec plus the join back to the parent.
  * `prefix`: namespace the child's non-link output columns as
  * `{id}_{name}` (ref: `Optimus/hotrod.py:55,67`).
  * `hint`: join-strategy hint applied to the child side — "broadcast",
  * "merge", "shuffle_hash", "shuffle_replicate_nl". AQE picks well when
  * runtime stats exist, but a config author who KNOWS a dimension is small
  * (or skewed) can pin the strategy; at 100 TB a mis-planned shuffle join
  * of a 10 MB dim is the first thing this closes. */
final case class ChildSpec(
    node: NodeSpec,
    join: JoinSpec,
    prefix: Boolean = false,
    hint: Option[String] = None
)

/** Perceptual image dedup (NS; Multimodal.imageNearDupPairs): the frame
  * becomes all image pairs (idA, idB, dist) whose 64-bit dHash
  * fingerprints are within `maxDist` Hamming bits — re-encodes,
  * brightness shifts and thumbnails of the same image, no model in the
  * loop. Plan composition (partition-batched decode + pigeonhole-banded
  * equi-join), so config-admissible. `output` picks the shape:
  * "pairs" (default, all near-dup pairs) or "clusters" —
  * (id, cluster) labels from connected components over the
  * identical-signature-collapsed Hamming graph, the scale-native tier
  * for duplicate-heavy corpora (keep = rows where id == cluster). */
final case class ImageDedupSpec(
    idCol: String,
    payloadCol: String,
    maxDist: Int = 6,
    output: String = "pairs",
    retention: Option[RetentionSpec] = None // clusters output only
) extends OpSpec

/** Text SimHash near-dup (NS; Dedup.simhashPairs / simhashClusters):
  * 64-bit SimHash over token hashes, pigeonhole-banded Hamming pairs
  * within `maxDist` bits — the bag-of-words near-dup tier (word swaps /
  * small edits move few signature bits, where the fingerprint tier sees
  * a different doc). `output` as in [[ImageDedupSpec]]: "pairs"
  * (idA, idB, dist) or "clusters" (id, cluster) over the
  * identical-signature-collapsed Hamming graph. Plan composition for
  * pairs; the cluster tier iterates (batch-only). */
final case class SimhashDedupSpec(
    idCol: String,
    textCol: String,
    maxDist: Int = 3,
    output: String = "pairs",
    retention: Option[RetentionSpec] = None // clusters output only
) extends OpSpec

/** Exact substring-level dedup (NS; Dedup.duplicatePassageSpans /
  * stripDuplicatePassages): duplicated `window_tokens`-token passages
  * across the corpus. `output` = "spans" rewrites the frame to
  * (id, span_start, span_end, dup_windows); "strip" keeps the input and
  * adds clean_text + dropped_tokens. Plan composition (rolling-hash scan
  * stage + two token-proportional shuffles), config-admissible. */
final case class PassageDedupSpec(
    idCol: String,
    textCol: String,
    windowTokens: Int = 50,
    output: String = "spans" // or "strip": input + clean_text/dropped_tokens
) extends OpSpec

/** Perceptual audio dedup (NS; Multimodal.audioNearDupPairs): the frame
  * becomes all clip pairs (idA, idB, dist) whose 64-bit amplitude-
  * envelope hashes are within `maxDist` Hamming bits — gain-adjusted
  * copies and lossless re-encodes of the same clip. Plan composition,
  * config-admissible. `output` as in [[ImageDedupSpec]]. */
final case class AudioDedupSpec(
    idCol: String,
    payloadCol: String,
    maxDist: Int = 6,
    output: String = "pairs",
    retention: Option[RetentionSpec] = None // clusters output only
) extends OpSpec

/** Continuous near-dup ingestion (NS; Streaming.nearDupIngest): the
  * STREAMING-ONLY root sink — each micro-batch probes the persisted band
  * index at `indexDir`, dedups in-batch and against the corpus, appends
  * survivors to `corpusDir` and their band rows to the index. Replaces
  * the root `save` (the foreachBatch IS the sink); batch compiles reject
  * it by name — run the batch shape via the `near_dup`/dedup pipeline
  * operators instead. */
final case class NearDupIngestSpec(
    idCol: String,
    textCol: String,
    corpusDir: String,
    indexDir: String,
    checkpointDir: String,
    shingleSize: Int = 3,
    numHashes: Int = 64,
    bands: Int = 16,
    threshold: Double = 0.5,
    // fold the corpus/index areas' committed batch= dirs into one
    // compacted dir every N batches, inside foreachBatch — empty
    // batches count too (each lands its batch= dirs); the unattended
    // small-files defense (see IngestCompactSpec)
    compactEvery: Option[Int] = None
) extends OpSpec

/** Continuous substring-level dedup ingestion (NS;
  * Streaming.passageIngest): the [[NearDupIngestSpec]] contract at
  * passage granularity — each micro-batch strips spans duplicated
  * in-batch or against the persisted window-fingerprint index, appends
  * the CLEANED docs to `corpusDir` and their window fps to `indexDir`.
  * Streaming-only root sink; batch compiles and a root `save` beside it
  * reject by name. */
final case class PassageIngestSpec(
    idCol: String,
    textCol: String,
    corpusDir: String,
    indexDir: String,
    checkpointDir: String,
    windowTokens: Int = 50,
    compactEvery: Option[Int] = None // see NearDupIngestSpec
) extends OpSpec

/** Continuous EXACT-dedup ingestion (NS; Streaming.exactIngest): the
  * [[NearDupIngestSpec]] contract at the exact tier — each micro-batch
  * dedups WITHIN itself (deterministic min-id winner per `keyCols`) and
  * against the persisted key index at `indexDir` (left-anti join — the
  * Dedup.dedupAgainstCorpus shape), appends survivors to `corpusDir` and
  * their distinct keys to the index. History lives in the key index
  * (key columns only — at 100 TB the index is fingerprint-shaped, ~100×
  * smaller than the corpus), never in watermark state: exact-dup history
  * is unbounded and restart-shared. Streaming-only root sink; batch
  * compiles reject by name (batch shape: `derive` a fingerprint +
  * `dedup`, or Dedup.dedupAgainstCorpus). */
final case class ExactIngestSpec(
    idCol: String,
    keyCols: Seq[String],
    corpusDir: String,
    indexDir: String,
    checkpointDir: String,
    compactEvery: Option[Int] = None // see NearDupIngestSpec
) extends OpSpec

/** Fold the COMMITTED `batch=<id>` dirs of partition-grown ingest AREAS
  * (the exact/near_dup/passage corpus + index dirs, the semantic classes
  * dir — one directory per micro-batch FOREVER without this) into one
  * compacted, size-targeted `batch=` dir per area (Artifacts
  * .foldBatchArea): the operator-issued half of the ingest small-files
  * defense, pairing with the ingests' `compact_every` the way
  * `bm25_index mode:"compact"` pairs with `bm25_ingest`. Readers are
  * unchanged — an area stays one partition-discovery parquet read; the
  * folded dir's id is committed, so the ingests' replay exclusion never
  * matches it. `checkpoint` (the ingest stream's checkpointLocation)
  * scopes the fold to committed batches so it can never fold a dir a
  * crash replay would re-land; note the commit phase's two-rename gap
  * (max-id source staged aside, folded dir not yet landed) can still
  * make a CONCURRENTLY RUNNING stream's dedup probe briefly miss
  * committed rows — the lease excludes concurrent folds, not
  * concurrent probe reads — so for dedup-critical areas run the
  * operator compact quiesced, or rely on the in-stream `compact_every`
  * (serialized with the probes by construction). Without `checkpoint`
  * every landed dir folds (exact for a quiesced stream).
  * The frame becomes one row per area: (area_ix, n_dirs) — the ordinal
  * of the dir in `dirs` and its batch-dir count after the fold.
  * Batch-only (filesystem rewrite). */
final case class IngestCompactSpec(
    dirs: Seq[String],
    checkpoint: Option[String] = None
) extends OpSpec

/** Continuous sketch-table maintenance (NS; Streaming.sketchIngest):
  * each micro-batch appends one row (per optional `groupCols` value)
  * with its frequent-items + HLL sketches and key count to `outDir` —
  * bounded metadata, never row data; readers combine over any batch
  * range with zero rescans (merge is associative — batching cannot
  * change the combined answer). Streaming-only root sink. */
final case class SketchIngestSpec(
    keyCol: String,
    outDir: String,
    checkpointDir: String,
    maxItemsTracked: Int = 10000,
    lgK: Int = 12,
    groupCols: Seq[String] = Nil
) extends OpSpec

/** Scan-stage SEEN probe against a persisted key index (NS;
  * Dedup.seenProbeBloom): adds boolean `flagCol` — true when the row's
  * `keyCol` is (possibly) already in the index at `indexDir`. A Bloom
  * over xxhash64 of the index keys is built ONCE at compile and rides
  * broadcast; the probed frame is never shuffled or joined — the probe
  * is STREAMING-admissible (the crawl-frontier "have we fetched this
  * already?" gate on a live ingest). Conservative: every indexed key
  * flags (no false negatives); Bloom false positives over-flag an
  * fpp-bounded sliver — route flagged rows to the exact tier
  * (`seen_filter`, or the `exact_ingest` sink itself) when over-dropping
  * matters. NULL keys never flag. */
final case class SeenProbeSpec(
    keyCol: String,
    indexDir: String,
    flagCol: String = "seen",
    expectedKeys: Long = 1L << 22,
    fpp: Double = 0.01
) extends OpSpec

/** EXACT seen filter against a persisted key index (NS;
  * Dedup.seenFilter): `mode: "drop"` removes rows whose `keyCol` is in
  * the index (left-anti join — schema unchanged), `mode: "flag"` keeps
  * every row and adds boolean `flagCol` instead. The index side reduces
  * to its distinct keys before the join (key-shaped, never
  * corpus-shaped). Works under compileStream as a stream-static join —
  * NOTE the index is read once at stream start; a growing index needs
  * the `exact_ingest` sink (which re-reads per batch) or a stream
  * restart. NULL keys count as never-seen (join semantics). */
final case class SeenFilterSpec(
    keyCol: String,
    indexDir: String,
    mode: String = "drop", // "drop" (left-anti) | "flag" (adds flagCol)
    flagCol: String = "seen"
) extends OpSpec

/** Fixed-length training-sequence packing (NS; Pack.sequencePack): the
  * frame becomes `(shard, seq, ids, n_tokens)` — per-shard concatenation
  * of the docs' id arrays (ascending id, EOS-separated) sliced every
  * `seq_len` tokens, the rows an LM trainer consumes. Batch-only by
  * name (per-shard running-offset window). */
final case class SequencePackSpec(
    idCol: String,
    idsCol: String,
    seqLen: Int,
    eosId: Int = 0,
    shards: Int = 1,
    dropLast: Boolean = true,
    mode: String = "split", // "split" (slice the stream) | "whole" (next-fit, docs never split)
    withBounds: Boolean = false, // add doc_starts (position-id reset slots)
    padId: Int = -1 // >= 0: pad short kept windows to seq_len
) extends OpSpec

/** Continuous WebDataset shard packing (NS; Streaming.shardPackStream):
  * the STREAMING-ONLY root sink of the tokenized-shards product — each
  * micro-batch's (name, payload) rows pack through the batch
  * `tar_pack` shard assignment (batching-invariant membership) and the
  * shard archives land under `out_dir/batch=b<id>/`, overwritten on
  * replay (idempotent restarts). Replaces the root `save`; batch
  * compiles reject it by name — use `tar_pack` in batch. */
final case class TarPackIngestSpec(
    nameCol: String,
    payloadCol: String,
    shards: Int,
    outDir: String,
    checkpointDir: String,
    trigger: Option[String] = None
) extends OpSpec

/** Continuous BM25-index maintenance (NS; Streaming.bm25Ingest) — the
  * LEXICAL member of the continuous-ingest family (exact/near-dup/
  * passage/winnow/semantic/sketch/tar_pack): each micro-batch tokenizes
  * once and lands its postings (+ bigram postings when the index was
  * built with prox) and doc lengths as an OVERWRITTEN `batch=<id>`
  * delta partition beside the `bm25_index` base artifact at `indexDir`,
  * then refreshes stats — searches read base ∪ delta and reflect the
  * union corpus exactly (df computes query-shaped at search time; the
  * append-exactness law). Replays overwrite their own batch dirs —
  * idempotent, unlike an in-place append. `bm25_index mode:"compact"`
  * folds the delta into the base. The index MUST be seeded by
  * `bm25_index` first (layout params live in the artifact's stats row —
  * the batch-build → stream-ingest contract semantic_ingest follows).
  * Streaming-only root sink. */
final case class Bm25IngestSpec(
    idCol: String,
    textCol: String,
    indexDir: String,
    checkpointDir: String,
    // fold the delta areas into the base every N non-empty micro-batches
    // (an empty batch lands no delta, so it does not count), INSIDE
    // foreachBatch (serialized with the batch, so the fold can never
    // race a landing delta) and scoped to batches BEFORE the current
    // one (everything earlier is committed; the in-flight batch stays
    // in the delta for a crash replay to overwrite) — unattended
    // streams stop needing an external mode:"compact" cadence
    compactEvery: Option[Int] = None
) extends OpSpec

/** Continuous ANN-index maintenance (NS; Streaming.annIngest) — the
  * vector sibling of [[Bm25IngestSpec]], completing the
  * retrieval-artifact pair: each micro-batch assigns its vectors to the
  * SAVED centroids (PQ indexes encode against the SAVED codebooks — no
  * refit, shipped results never change) and lands as an OVERWRITTEN
  * `batch=<id>` delta partition beside the `ann_index` artifact at
  * `indexDir` (idempotent replays); searches/probes/stats read
  * base ∪ delta, `ann_index mode:"compact"` folds the delta in. Seed
  * with `ann_index` first. Streaming-only root sink. */
final case class AnnIngestSpec(
    idCol: String,
    vecCol: String,
    indexDir: String,
    checkpointDir: String,
    // fold the index delta into the base every N non-empty
    // micro-batches, inside foreachBatch and scoped to pre-current
    // (committed) batches — see Bm25IngestSpec.compactEvery
    compactEvery: Option[Int] = None
) extends OpSpec

// The node steps that carry a plain list or map (their keys, decoders and
// semantics live in the step table, graft.compile.Operators).
final case class FiltersSpec(filters: Seq[FilterSpec]) extends OpSpec
final case class DeriveSpec(cols: Seq[(String, String)]) extends OpSpec // name -> expr
final case class KeepColumnsSpec(cols: Seq[String]) extends OpSpec
final case class RenameSpec(pairs: Seq[(String, String)]) extends OpSpec // old -> new
final case class WithColumnsSpec(cols: Seq[(String, String)]) extends OpSpec // name -> expr
final case class PostFiltersSpec(filters: Seq[FilterSpec]) extends OpSpec
final case class ExpectSpec(rules: Seq[(String, String)]) extends OpSpec // name -> expr
final case class ExpectReportSpec(rules: Seq[(String, String)],
    groupCols: Seq[String] = Nil) extends OpSpec
final case class DropSpec(cols: Seq[String]) extends OpSpec
final case class ChildrenSpec(children: Seq[ChildSpec]) extends OpSpec
final case class OrderBySpec(cols: Seq[String]) extends OpSpec // "col [asc|desc] [nulls first|last]"
final case class LimitSpec(n: Int) extends OpSpec

/** One pipeline node = the reference's per-config processing unit: a
  * source (or a `combine` of nodes), its steps `ops` — applied in the
  * order of the step table ([[graft.compile.Operators]]) — and a `save`.
  * Children recurse to arbitrary depth (ref grandchildren:
  * `Optimus/hotrod.py:103-110`). */
final case class NodeSpec(
    id: String,
    source: Option[SourceSpec] = None,
    combine: Option[CombineSpec] = None,
    ops: Seq[OpSpec] = Nil,
    save: Option[SinkSpec] = None,
    cache: Boolean = false // defs-only: persist() the compiled stage
) {
  require(ops.map(_.getClass).distinct.size == ops.size,
    s"node $id: each operator may appear once, got ${ops.mkString(", ")}")

  /** This node's operator of type `T`, if it has one. */
  def op[T <: OpSpec](implicit t: scala.reflect.ClassTag[T]): Option[T] =
    ops.collectFirst { case o: T => o }

  /** The nodes this node reads: its combine legs, then its children. */
  def inputs: Seq[NodeSpec] =
    combine.toSeq.flatMap(_.nodes) ++ op[ChildrenSpec].toSeq.flatMap(_.children.map(_.node))
}

/** Iteration×level cascade (ref: `Optimus/optimus.py:40-51`): one source,
  * each iteration applies its levels sequentially — output of level k is
  * input of level k+1 — and optionally saves per iteration. */
final case class IterationSpec(
    id: String,
    levels: Seq[NodeSpec],
    save: Option[SinkSpec] = None
)
final case class CascadeSpec(
    source: SourceSpec,
    iterations: Seq[IterationSpec]
)

/** Root of a parsed config: either a recursive node tree or a cascade.
  *
  * `defs` (NS) are named pipeline stages compiled ONCE, in order (later
  * defs may reference earlier ones), then shared by every
  * `{"source": {"ref": id}}` in the root tree. The multi-stage curation
  * idiom — dedup → score → filter → dedup again, where a stage both
  * feeds the next and is self-joined by a `children` scorer — otherwise
  * re-inlines (and recomputes) the whole upstream subtree at every
  * mention. A def with `cache: true` is `persist()`ed (materialized on
  * first action, reused after — session-lifetime; `spark.catalog
  * .clearCache()` releases it); without it, reuse still collapses to one
  * plan subtree so identical shuffles are reused within a query. Defs
  * are definitions: sinks stay on the root tree, and streaming compiles
  * reject defs by name (a batch-compiled frame can't feed a stream). */
sealed trait PipelineSpec

/** `tee` entries are SIDE-OUTPUT trees: full node pipelines (typically
  * sourcing a cached def by `ref`) compiled for their sinks and
  * discarded — the one-read fan-out a curation pipeline needs (accepted
  * rows → shards, rejected rows → audit, stats → metrics, ONE scan).
  * Each tee must end in a `save`; tees execute in order, before the
  * root result is returned. Batch-only (a stream has exactly one sink
  * per query). */
final case class TreePipeline(
    root: NodeSpec, defs: Seq[NodeSpec] = Nil,
    tee: Seq[NodeSpec] = Nil) extends PipelineSpec
final case class CascadePipeline(cascade: CascadeSpec) extends PipelineSpec
