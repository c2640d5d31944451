package graft.compile

import graft.spec._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spec ⇒ DataFrame compiler.
  *
  * Pure plan composition: NO actions are taken while compiling — unlike the
  * reference, which runs `df.rdd.isEmpty()` per recursion level
  * (`sparks/optimus.py:8`, an executor round-trip per node) and materializes
  * each child before joining. Here the whole config tree becomes one lazy
  * logical plan; Catalyst then pushes filters into the parquet scans, prunes
  * columns across node boundaries, and (with AQE) picks broadcast vs
  * shuffled joins per child — which is what makes the recursive tree viable
  * at 100 TB: a small aggregated child side is broadcast automatically
  * instead of shuffling the parent fact table.
  */
object Compiler {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Detects the O(partition²) window-frame shape in a derive
    * expression string (see the derive-site warning): ANY frame whose
    * upper bound is UNBOUNDED FOLLOWING re-scans the partition
    * remainder per output row (UnboundedFollowingWindowFunctionFrame) —
    * CURRENT ROW AND ..., N PRECEDING AND ..., N FOLLOWING AND ... are
    * all the same trap. The ONE exception is the whole-partition
    * [unboundedPreceding, unboundedFollowing] frame, computed once per
    * partition (UnboundedWindowFunctionFrame, O(n)) — it must NOT warn,
    * since rewriting it to a running frame would also change its
    * semantics. */
  private val anyUnboundedFollowingRe =
    """(?is)and\s+unbounded\s+following""".r
  private val wholePartitionRe =
    """(?is)unbounded\s+preceding\s+and\s+unbounded\s+following""".r
  private[graft] def hasQuadraticFrame(e: String): Boolean =
    anyUnboundedFollowingRe.findAllIn(e).size >
      wholePartitionRe.findAllIn(e).size

  /** Compile warnings (scale lints, ignored-key notes) accumulate per
    * THREAD alongside log.warn, because log.warn alone is invisible to
    * a config author running through the driver or a notebook — the
    * O(n²) window-frame trap the engine's own operators were purged of
    * stays silently reinventable through `derive` config otherwise.
    * [[drainCompileWarnings]] returns-and-clears them; `graft.Explain`
    * prints them above each plan (the place plans are reviewed), and
    * tests assert on them. */
  private val threadWarnings =
    new ThreadLocal[scala.collection.mutable.ListBuffer[String]] {
      override def initialValue() = scala.collection.mutable.ListBuffer[String]()
    }

  private[compile] def warn(msg: String): Unit = {
    log.warn(msg)
    val b = threadWarnings.get()
    // bounded: a long-lived driver compiling warning-producing specs in
    // a loop without ever draining must not grow this without limit —
    // keep the newest 256 (Explain pre-drains, so staleness is its own
    // concern, not capacity's)
    if (b.size >= 256) { b.remove(0); () }
    b += msg
    ()
  }

  /** The compile warnings accumulated on this thread since the last
    * drain (cleared by the call). */
  def drainCompileWarnings(): Seq[String] = {
    val b = threadWarnings.get()
    val out = b.toList
    b.clear()
    out
  }

  /** Persisted `cache: true` def stages, keyed by the compiled root
    * DataFrame they back (identity — DataFrame has reference equality).
    * A compile that persists defs REGISTERS them here; nothing in Spark
    * would otherwise ever release them, so a long-lived driver compiling
    * many configs (or a bench loop) accumulates dead cache entries in
    * the block manager until memory pressure evicts useful blocks. Weak
    * keys let an abandoned-before-release result be re-released by
    * [[releaseAllCaches]]; the companion strong set makes that sweep
    * complete even after key collection. */
  private val persistedByResult =
    new java.util.WeakHashMap[DataFrame, Seq[DataFrame]]()
  private val allPersisted =
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[DataFrame, java.lang.Boolean]())

  /** Does ANY node in this subtree (the node, its combine legs, its
    * children) carry cache: true? Shared by the batch and streaming defs
    * guards — a nested cache must be rejected identically in both. */
  private def anyCached(n: NodeSpec): Boolean = n.cache || n.inputs.exists(anyCached)

  private def trackPersisted(result: DataFrame, cached: Seq[DataFrame]): Unit =
    if (cached.nonEmpty) persistedByResult.synchronized {
      // merge — a compile registers def caches and operator-internal
      // caches separately against the same root
      val prior = Option(persistedByResult.get(result)).getOrElse(Nil)
      persistedByResult.put(result, prior ++ cached)
      cached.foreach(allPersisted.add)
    }

  /** OPERATOR-INTERNAL persists (e.g. collocations' vocabulary-shaped
    * counts table) — swept by [[releaseAllCaches]], the bench/test
    * hygiene hammer. STRONG references on purpose, unlike the def-cache
    * registry above: the operator's result is usually an intermediate
    * frame nobody retains, so a weak entry could be collected while
    * Spark's CacheManager still pins the cached blocks — the registry
    * would forget a cache it can no longer release (an operator
    * returning a lazy frame has no safe point to unpersist itself). */
  private val operatorCaches =
    scala.collection.mutable.ListBuffer[DataFrame]()

  /** Inside a [[compile]], operator-internal caches ALSO register
    * against the compiled root (thread-local collector), so the normal
    * per-query [[releaseCache]](result) frees them — without this, a
    * long-lived session compiling cache-bearing operators accumulated
    * pinned blocks until the global [[releaseAllCaches]] sweep. The
    * strong global list stays as the backstop (double-unpersist is a
    * no-op). */
  private val operatorCacheCollector =
    new scala.util.DynamicVariable[
      Option[scala.collection.mutable.ListBuffer[DataFrame]]](None)

  private[graft] def trackOperatorCache(cached: DataFrame): Unit = {
    operatorCaches.synchronized { operatorCaches += cached; () }
    operatorCacheCollector.value.foreach(_ += cached)
  }

  /** Release the `cache: true` def stages behind a [[compile]] result —
    * call after the root sink action completes. Idempotent; a result
    * with no cached defs is a no-op. */
  def releaseCache(result: DataFrame): Unit = persistedByResult.synchronized {
    Option(persistedByResult.remove(result)).getOrElse(Nil).foreach { df =>
      df.unpersist(blocking = false); allPersisted.remove(df)
      // drop the strong backstop reference too — released per-result
      // caches must not pin DataFrames until the next global sweep
      operatorCaches.synchronized { operatorCaches -= df; () }
    }
  }

  /** Release EVERY def stage any compile has persisted and not yet
    * released — the bench-loop / test-teardown hammer. */
  def releaseAllCaches(): Unit = {
    persistedByResult.synchronized {
      val it = allPersisted.iterator()
      while (it.hasNext) { it.next().unpersist(blocking = false); it.remove() }
      persistedByResult.clear()
    }
    operatorCaches.synchronized {
      operatorCaches.foreach(_.unpersist(blocking = false))
      operatorCaches.clear()
    }
  }

  /** Optional validation: resolve referenced columns up front (the reference
    * fails lazily at execution — SURVEY §1.3). Returns error strings. */
  def validate(df: DataFrame, node: NodeSpec): Seq[String] = {
    // derive-created columns (and the dedup count_col) exist by the time
    // keep/aggregate run; their own expression references are checked by
    // the analyzer tier of validatePipeline. Steps after the children
    // (compact, running_totals, top_k, …) read joined or prefixed columns,
    // so the analyzer tier checks them, not this source-schema one.
    val have = df.columns.toSet ++ Operators.adds(node)
    Operators.reads(node).filterNot(have.contains)
      .map(c => s"node ${node.id}: unknown column '$c' (have: ${have.mkString(", ")})")
  }

  /** Each table / path / sql source of one compile, read — and analyzed —
    * once: every node and def over the same source shares the frame (a
    * temp view already hands every read the same plan), and
    * [[validatePipeline]]'s second tier compiles over its first tier's
    * reads. */
  private final class Sources(val spark: SparkSession) {
    private val read = scala.collection.mutable.HashMap.empty[SourceSpec, DataFrame]
    def apply(s: SourceSpec): DataFrame = read.getOrElseUpdate(s, readSource(spark, s))
  }

  /** Whole-pipeline validation without running a job (SURVEY §1.3: the
    * reference surfaces schema errors lazily at execution; we resolve them
    * up front). Two tiers: a friendly per-node unknown-column check against
    * each concrete source's schema, then a full Catalyst analysis of the
    * composed plan (compilation is lazy — no data is read beyond parquet
    * footers, and `cache: true` defs are NOT persisted). Returns error
    * strings; empty = valid. */
  def validatePipeline(spark: SparkSession, spec: PipelineSpec): Seq[String] = {
    val sources = new Sources(spark)
    def walk(node: NodeSpec): Seq[String] = {
      // ref sources resolve only inside compile — the analyzer pass below
      // still covers their column references
      val own = node.source.toSeq.filter(_.ref.isEmpty).flatMap { s =>
        try validate(sources(s), node)
        catch { case e: Throwable => Seq(s"node ${node.id}: source unreadable: ${e.getMessage}") }
      }
      own ++ node.inputs.flatMap(walk)
    }
    val friendly = spec match {
      case TreePipeline(root, defs, tee) =>
        defs.flatMap(walk) ++ tee.flatMap(walk) ++ walk(root)
      case CascadePipeline(c) =>
        // only level 1 sees the raw source schema; later levels are
        // checked by the analyzer below
        c.iterations.flatMap(_.levels.headOption.toSeq.flatMap { l =>
          try validate(sources(c.source), l)
          catch { case e: Throwable => Seq(s"cascade source unreadable: ${e.getMessage}") }
        })
    }
    if (friendly.nonEmpty) friendly
    else
      try { build(sources, spec, None, executeSinks = false, persistDefs = false); Nil }
      catch { case e: Throwable => Seq(e.getMessage) }
  }

  /** Compile a full pipeline. `input` overrides the root node's source
    * (used by tests and the streaming compiler, which passes a streaming
    * DataFrame through the same batch-authored spec). */
  def compile(spark: SparkSession, spec: PipelineSpec, input: Option[DataFrame] = None,
      executeSinks: Boolean = true): DataFrame =
    build(new Sources(spark), spec, input, executeSinks, persistDefs = true)

  private def build(sources: Sources, spec: PipelineSpec, input: Option[DataFrame],
      executeSinks: Boolean, persistDefs: Boolean): DataFrame = {
    val opCaches = scala.collection.mutable.ListBuffer[DataFrame]()
    val result = operatorCacheCollector.withValue(Some(opCaches))(spec match {
      case TreePipeline(root, defs, tee) =>
        // Defs compile ONCE, in order (later defs may reference earlier
        // ones); every ref then shares the same DataFrame — one plan
        // subtree, reused exchanges, and with cache: true one
        // materialization. They are definitions, not pipelines: sinks
        // stay on the root tree.
        defs.foreach { d =>
          if (d.save.isDefined) throw new IllegalArgumentException(
            s"def ${d.id}: defs are definitions — sinks live on the root tree")
          if (d.inputs.exists(anyCached))
            throw new IllegalArgumentException(
              s"def ${d.id}: cache applies to the def itself — " +
                "hoist the nested stage into its own def")
        }
        if (anyCached(root)) throw new IllegalArgumentException(
          "cache is a defs-only key — name the stage in defs and ref it")
        val cachedDefs = Vector.newBuilder[DataFrame]
        val refs = defs.foldLeft(Map.empty[String, DataFrame]) { (acc, d) =>
          val df = buildNode(sources, d, None, executeSinks = false, streaming = false, acc).frame
          // validation builds the plan only: a persisted def would pin
          // cache-manager state nobody releases
          acc + (d.id -> (if (d.cache && persistDefs) { val p = df.persist(); cachedDefs += p; p } else df))
        }
        // side-output trees: compiled for their sinks (in declaration
        // order, before the root result returns), discarded afterwards.
        // With executeSinks = false this still builds every tee plan, so
        // --validate checks them too.
        if (tee.nonEmpty) {
          // the whole point of tee is ONE read fanning out — a def that
          // several tee/root trees consume UNCACHED re-scans per sink.
          // Warn loudly (not an error: a cheap def may not be worth the
          // materialization).
          val consumed = (tee ++ Seq(root))
            .flatMap(_.source.flatMap(_.ref))
          val hot = consumed.groupBy(identity).collect {
            case (r, xs) if xs.size > 1 => r
          }
          defs.filter(d => hot.exists(_ == d.id)).filterNot(_.cache)
            .foreach { d =>
              warn(s"tee fan-out reads def '${d.id}' " +
                "multiple times WITHOUT cache: true — each sink re-scans " +
                "it; set cache: true on the def to pay the read once")
            }
        }
        tee.foreach { t =>
          buildNode(sources, t, None, executeSinks, streaming = false, refs).frame
        }
        val result =
          buildNode(sources, root, input.map(Spine(_)), executeSinks, streaming = false, refs).frame
        trackPersisted(result, cachedDefs.result())
        result
      case CascadePipeline(c) => compileCascade(sources, c, executeSinks)
    })
    trackPersisted(result, opCaches.toSeq)
    result
  }

  def compileJson(spark: SparkSession, json: String): DataFrame =
    compile(spark, JsonCodec.parse(json))

  /** One node compiled over `input` (else its source): its steps apply in
    * the order of the step table, [[Operators]] — which mirrors the
    * reference's interpreter (`pandas/optimus.py:7-40`) — and stack on one
    * [[Spine]], analyzed once where a frame is needed: the end of a def,
    * tee or root tree, a prefixed child (its column names), a cascade
    * iteration, or a step that needs a DataFrame. */
  def compileNode(spark: SparkSession, node: NodeSpec, input: Option[DataFrame] = None,
      executeSinks: Boolean = true, streaming: Boolean = false,
      refs: Map[String, DataFrame] = Map.empty): DataFrame =
    buildNode(new Sources(spark), node, input.map(Spine(_)), executeSinks, streaming, refs).frame

  /** The node's steps stacked on `input` (else on its source or combine):
    * the caller analyzes the returned spine where it needs a frame. */
  private def buildNode(sources: Sources, node: NodeSpec, input: Option[Spine],
      executeSinks: Boolean, streaming: Boolean, refs: Map[String, DataFrame]): Spine = {
    if (node.combine.isDefined && node.source.isDefined)
      throw new IllegalArgumentException(
        s"node ${node.id}: source and combine are mutually exclusive")
    Operators.rejectRootSinks(node)
    val s = input.getOrElse(Spine(nodeInput(sources, node, executeSinks, streaming, refs)))
    Operators.build(new Operators.Ctx(sources.spark, node, streaming, refs,
      buildNode(sources, _, None, executeSinks, streaming, refs)), s)
    if (executeSinks) node.save.foreach(sv => writeSink(s.frame, sv, s"node ${node.id}"))
    s
  }

  /** The node's `combine` over full pipelines, else its source. */
  private def nodeInput(sources: Sources, node: NodeSpec, executeSinks: Boolean,
      streaming: Boolean, refs: Map[String, DataFrame]): DataFrame = node.combine match {
    case Some(c) =>
      val parts = c.nodes.map(n => buildNode(sources, n, None, executeSinks, streaming, refs).frame)
      if (parts.isEmpty)
        throw new IllegalArgumentException(s"node ${node.id}: combine needs nodes")
      c.op match {
        case "union" | "union_all" => parts.reduce(_.unionByName(_))
        case "union_distinct"      => parts.reduce(_.unionByName(_)).distinct()
        case "intersect"           => parts.reduce(_.intersect(_))
        case "except"              => parts.reduce(_.except(_))
        case other => throw new IllegalArgumentException(
          s"node ${node.id}: unknown combine op '$other' " +
            "(one of: union, union_distinct, intersect, except)")
      }
    case None =>
      val src = node.source.getOrElse(
        throw new IllegalArgumentException(s"node ${node.id}: no source and no input DataFrame"))
      src.ref match {
        // A ref IS a compiled def's frame — shared, not re-inlined.
        case Some(r) => refs.getOrElse(r, throw new IllegalArgumentException(
          s"node ${node.id}: unknown ref '$r'" +
            (if (refs.isEmpty) " — declare it under top-level defs"
             else s" (defined: ${refs.keys.mkString(", ")})")))
        case None =>
          // `stream: true` sources become readStreams ONLY under a
          // streaming compile — the identical spec stays batch-runnable
          // for the oracle.
          if (streaming && src.stream) readStreamSource(sources.spark, src)
          else sources(src)
      }
  }

  /** Batch sink execution, shared by node and cascade saves. A sink with
    * `layout` directives delegates to the [[graft.ops.Layout]] writers —
    * the config surface of physical data layout; misuse (two modes, a
    * non-parquet format, append mode, a pathless range write, a table-less
    * bucket write) throws with the offending site named rather than
    * silently writing a different layout. */
  private[graft] def writeSink(df: DataFrame, s: SinkSpec, ctx: String): Unit =
    s.layout match {
      case Some(l) =>
        val modes = Seq(
          "partition_by" -> l.partitionBy, "bucket_by" -> l.bucketBy,
          "range_by" -> l.rangeBy, "zorder_by" -> l.zorderBy
        ).filter(_._2.nonEmpty)
        if (modes.size != 1)
          throw new IllegalArgumentException(
            s"$ctx: a layout sink needs exactly ONE of partition_by / " +
              s"bucket_by / range_by / zorder_by, got ${modes.map(_._1).mkString(", ")}")
        if (s.mode != "overwrite")
          throw new IllegalArgumentException(
            s"$ctx: layout sinks are overwrite-only (got mode '${s.mode}')")
        if (s.format != "parquet")
          throw new IllegalArgumentException(
            s"$ctx: layout sinks write parquet (got format '${s.format}')")
        if (l.sortBy.nonEmpty && l.bucketBy.isEmpty)
          throw new IllegalArgumentException(
            s"$ctx: sort_by applies only to bucket_by sinks " +
              "(range_by/zorder_by sort on their own keys)")
        def path: String =
          if (s.path.nonEmpty) s.path
          else throw new IllegalArgumentException(s"$ctx: layout sink needs a path")
        def ranges: Int =
          if (l.ranges > 0) l.ranges
          else throw new IllegalArgumentException(
            s"$ctx: range_by/zorder_by sinks need 'ranges' > 0 (file count " +
              "is a deliberate knob at scale, not a default)")
        if (l.partitionBy.nonEmpty)
          graft.ops.Layout.writePartitioned(df, path, l.partitionBy, l.maxRecordsPerFile)
        else if (l.bucketBy.nonEmpty) {
          val table = s.table.getOrElse(throw new IllegalArgumentException(
            s"$ctx: bucketed sinks are catalog-backed — set 'table', not 'path' " +
              "(bucket metadata lives in the table definition)"))
          if (l.buckets <= 0)
            throw new IllegalArgumentException(s"$ctx: bucket_by needs 'buckets' > 0")
          graft.ops.Layout.writeBucketed(df, table, l.bucketBy, l.buckets, l.sortBy)
        } else if (l.rangeBy.nonEmpty)
          graft.ops.Layout.writeRangeSorted(df, path, l.rangeBy, ranges, l.maxRecordsPerFile)
        else
          graft.ops.Layout.writeZOrdered(df, path, l.zorderBy, l.zorderBits, ranges, l.maxRecordsPerFile)
      case None =>
        val w = df.write.mode(s.mode).options(s.options)
        s.format match {
          case "csv" => w.option("header", "true").csv(s.path)
          case f     => w.format(f).save(s.path)
        }
    }

  /** Iteration×level cascade (`Optimus/optimus.py:40-51`): the source is
    * read once and each iteration's levels chain lazily — output of level k
    * is the input of level k+1. Returns the last iteration's result. */
  private def compileCascade(sources: Sources, c: CascadeSpec,
      executeSinks: Boolean): DataFrame = {
    val src = sources(c.source)
    // One source feeding >1 iteration: each iteration restarts from `src`.
    // Spark re-uses the scan via plan-level reuse; no .cache() needed for
    // parquet (and caching 100 TB would be wrong).
    val results = c.iterations.map { it =>
      // the levels stack on one spine: an iteration is analyzed once,
      // plus once per level whose save runs
      val df = it.levels.foldLeft(Spine(src)) { (in, l) =>
        buildNode(sources, l, Some(in), executeSinks, streaming = false, Map.empty)
      }.frame
      if (executeSinks) it.save.foreach(s => writeSink(df, s, s"iteration ${it.id}"))
      df
    }
    results.last
  }

  // ---- streaming ---------------------------------------------------------

  /** Compile a spec as a Structured Streaming pipeline: the root source
    * becomes a `readStream`, the same node transforms apply (child nodes
    * still read batch — a stream-static join, i.e. free dimension
    * enrichment of the stream), and the root `save` starts a `writeStream`.
    * Returns the running query. Cascades are batch-only (level k+1 would
    * need level k's completed output). */
  def compileStream(spark: SparkSession,
      spec: PipelineSpec): org.apache.spark.sql.streaming.StreamingQuery =
    spec match {
      case TreePipeline(root, defs, tee) =>
        // Defs compile as BATCH frames under a streaming compile too —
        // static dimension tables the stream may JOIN or PROBE
        // (stream-static: range_join/overlap_join intervals, seen-list
        // joins, child equi-joins), never SOURCE from (readStreamSource
        // rejects ref sources by name; a batch frame cannot feed a
        // stream). `cache: true` is rejected by name: a stream outlives
        // the compile and nothing would ever unpersist the pin — rely on
        // Spark re-reading the (small, static) def per micro-batch, or
        // materialize it to parquet first.
        // cache is rejected ANYWHERE in a def's tree (top-level or nested
        // in children/combine — the shared anyCached walk): a nested
        // cache the batch path rejects by name must not silently no-op
        // under streaming.
        defs.foreach { d =>
          if (d.save.isDefined) throw new IllegalArgumentException(
            s"def ${d.id}: defs are definitions — sinks live on the root tree")
          if (anyCached(d)) throw new IllegalArgumentException(
            s"def ${d.id}: cache: true is batch-only — a streaming query " +
              "outlives the compile and the pin would never release; " +
              "materialize the def to parquet and source it by path instead")
        }
        val sources = new Sources(spark)
        val refs = defs.foldLeft(Map.empty[String, DataFrame]) { (acc, d) =>
          acc + (d.id -> buildNode(sources, d, None, executeSinks = false, streaming = false, acc).frame)
        }
        if (tee.nonEmpty) throw new IllegalArgumentException(
          "tee is batch-only — a streaming query has exactly ONE sink; " +
            "fan out with several streaming queries over the same source " +
            "(each with its own checkpoint) instead")
        val src = root.source.getOrElse(
          throw new IllegalArgumentException("streaming pipeline needs a root source"))
        // A non-root `save` is a batch-only feature (executeSinks=false in
        // the tree walk below): the identical spec writes it under a batch
        // compile but a stream has exactly ONE sink — warn loudly instead
        // of silently diverging from batch behavior.
        def warnIgnored(n: NodeSpec, isRoot: Boolean): Unit = {
          if (!isRoot && n.save.isDefined)
            warn(s"node ${n.id}: 'save' is IGNORED under a streaming " +
              "compile (only the root sink becomes the writeStream); drop " +
              "it or run this node as its own stream")
          n.inputs.foreach(warnIgnored(_, isRoot = false))
        }
        warnIgnored(root, isRoot = true)
        val sinks = Operators.rootSinks(root)
        if (sinks.size > 1) throw new IllegalArgumentException(
          s"${Operators.rootSinkKeys} are each a root sink — a stream has " +
            "ONE; declare one per stream")
        // the root profile and expect_report are the per-batch monitors,
        // not transforms
        val monitors = root.ops.collect { case m @ (_: ProfileSpec | _: ExpectReportSpec) => m }
        val out = buildNode(sources,
          root.copy(ops = root.ops.filterNot(o => sinks.contains(o) || monitors.contains(o))),
          Some(Spine(readStreamSource(spark, src))),
          executeSinks = false, streaming = true, refs).frame
        // The two per-batch MONITOR sinks (profile = drift stats,
        // expect_report = contract scorecard) share the same plumbing:
        // root-only, path sink, batch_id-stamped appends. A stream has
        // ONE sink, so either beside an ingest — or both together —
        // rejects by name.
        def monitorSink(kind: String): graft.spec.SinkSpec = {
          if (sinks.nonEmpty) throw new IllegalArgumentException(
            s"$kind beside an ingest sink: a stream has ONE sink — " +
              "monitor the ingest's corpus directory with a second stream")
          val sink = root.save.getOrElse(throw new IllegalArgumentException(
            s"streaming $kind needs a root save sink (a parquet/csv " +
              "path the per-batch rows append to)"))
          if (sink.format == "memory" || sink.format == "console")
            throw new IllegalArgumentException(
              s"streaming $kind appends files per batch — use a " +
                "parquet/csv path sink, not memory/console")
          sink
        }
        // the columns a monitor reads must be on the frame it observes: a
        // typo'd one fails HERE by name, not inside the first micro-batch
        def onFrame(what: String, cols: Seq[String]): Unit =
          cols.filterNot(out.columns.contains) match {
            case Nil => ()
            case miss => throw new IllegalArgumentException(
              s"$what not on the streaming frame: " +
                s"${miss.mkString(", ")} (have: ${out.columns.mkString(", ")})")
          }
        monitors match {
          case Seq(_, _) =>
            throw new IllegalArgumentException(
              "profile and expect_report are both per-batch monitor sinks — " +
                "a stream has ONE; run two streams over the same source")
          // Root profile: the per-batch drift monitor — each micro-batch's
          // q149 aggregate appends (batch_id-stamped) to the save sink.
          case Seq(pr: ProfileSpec) =>
            onFrame("profile: column(s)", pr.columns ++ pr.groupCols)
            graft.streaming.Streaming.profileStream(
              out, pr.columns, pr.approx, monitorSink("profile"), pr.groupCols)
          // Root expect_report: the per-batch contract scorecard.
          case Seq(r: ExpectReportSpec) =>
            onFrame("expect_report: group column(s)", r.groupCols)
            graft.streaming.Streaming.expectReportStream(
              out, r.rules, r.groupCols, monitorSink("expect_report"))
          case _ =>
            // The ingest ROOT SINKS: at most one is present (rejected in
            // pairs above); its foreachBatch IS the sink, so a root `save`
            // beside it would silently lose one of the two — reject loudly.
            sinks match {
              case Seq(ingest) =>
                if (root.save.isDefined)
                  throw new IllegalArgumentException(
                    s"${Operators.of(ingest).key} replaces the root save sink — " +
                      "declare one or the other")
                Operators.start(ingest, out)
              case _ =>
                val sink = root.save.getOrElse(
                  throw new IllegalArgumentException(
                    "streaming pipeline needs a root save sink"))
                startStreamSink(out, sink)
            }
        }
      case _: CascadePipeline =>
        throw new IllegalArgumentException("cascade pipelines are batch-only")
    }

  def compileStreamJson(spark: SparkSession,
      json: String): org.apache.spark.sql.streaming.StreamingQuery =
    compileStream(spark, JsonCodec.parse(json))

  /** Streaming read of a source spec. File sources need a schema before
    * the stream starts: inferred once from a batch read of the same path
    * (parquet: footers only; csv with inferSchema: one extra pass —
    * declare `options.schema` DDL to skip it). */
  def readStreamSource(spark: SparkSession, s: SourceSpec): DataFrame =
    (s.sql, s.table, s.path) match {
      case _ if s.ref.isDefined =>
        throw new IllegalArgumentException(
          "a def is a batch frame — it cannot feed a stream; streams " +
            "source from table or path (defs remain joinable/probeable " +
            "as static sides)")
      case (Some(_), _, _) =>
        throw new IllegalArgumentException(
          "sql sources are batch-only; streams need table or path")
      case (_, Some(t), _) => spark.readStream.table(t)
      case (_, _, Some(p)) =>
        // Spark file streams watch a DIRECTORY; a single-file path fails
        // later with a cryptic 'basePath must be a directory' — catch it
        // here with an actionable message.
        val f = new java.io.File(p)
        if (f.isFile)
          throw new IllegalArgumentException(
            s"streaming file source must be a directory, got file: $p " +
              "(stage the file into a directory and point the source there)")
        val r = spark.readStream.options(s.options)
        if (s.format == "warc" || s.format == "tar") {
          // stream the crawl/shard directory file-by-file; the record
          // explode is the same plan as the batch path
          val binSchema = spark.read.format("binaryFile").load(p).schema
          val files = r.schema(binSchema).format("binaryFile").load(p)
          if (s.format == "warc") warcRows(files) else tarRows(files)
        } else {
          val schema = s.options.get("schema") match {
            case Some(ddl) => org.apache.spark.sql.types.StructType.fromDDL(ddl)
            case None      => readSource(spark, s).schema
          }
          r.schema(schema).format(s.format).load(p)
        }
      case _ => throw new IllegalArgumentException(s"source needs table or path: $s")
    }

  /** Start a `writeStream` for a sink spec. No trigger key = continuous
    * micro-batches; otherwise the one stream-sink trigger parser
    * ([[graft.streaming.Streaming.trigger]]). */
  def startStreamSink(df: DataFrame,
      s: SinkSpec): org.apache.spark.sql.streaming.StreamingQuery = {
    s.layout.foreach { l =>
      // hive partitioning streams fine (each micro-batch lands in its
      // partition directories); the other three need a global pass —
      // range sampling, catalog bucketing, quantile cutpoints — that a
      // micro-batch writer can't do. Re-layout landed data in batch.
      if (l.bucketBy.nonEmpty || l.rangeBy.nonEmpty || l.zorderBy.nonEmpty)
        throw new IllegalArgumentException(
          "bucket_by/range_by/zorder_by sinks are batch-only (they need a " +
            "global pass over the data); streams support partition_by only")
    }
    var w = df.writeStream.options(s.options)
    s.layout.map(_.partitionBy).filter(_.nonEmpty)
      .foreach(p => w = w.partitionBy(p: _*))
    s.outputMode.foreach(m => w = w.outputMode(m))
    s.checkpoint.foreach(c => w = w.option("checkpointLocation", c))
    s.trigger.foreach(t => w = w.trigger(graft.streaming.Streaming.trigger("save", t)))
    s.format match {
      case "memory" =>
        w.format("memory").queryName(s.queryName.getOrElse("graft_stream")).start()
      case "console" => w.format("console").start()
      case "csv"     => w.format("csv").option("header", "true").start(s.path)
      case f         => w.format(f).start(s.path)
    }
  }

  // ---- pieces ------------------------------------------------------------

  def readSource(spark: SparkSession, s: SourceSpec): DataFrame =
    (s.sql, s.table, s.path) match {
      case (Some(q), _, _) => spark.sql(q)
      case (_, Some(t), _) => spark.table(t)
      case (_, _, Some(p)) =>
        val r = spark.read.options(s.options)
        s.format match {
          case "csv" =>
            // ref default: header + inferSchema (`Optimus/optimus.py:38`)
            r.option("header", s.options.getOrElse("header", "true"))
              .option("inferSchema", s.options.getOrElse("inferSchema", "true"))
              .csv(p)
          case "json" => r.json(p)
          case "warc" => warcRows(r.format("binaryFile").load(p))
          case "tar"  => tarRows(r.format("binaryFile").load(p))
          case f      => r.format(f).load(p)
        }
      case _ if s.ref.isDefined => throw new IllegalArgumentException(
        s"source ref '${s.ref.get}' resolves only inside Compiler.compile " +
          "(refs address pipeline-level defs)")
      case _ => throw new IllegalArgumentException(s"source needs sql, table or path: $s")
    }

  /** binaryFile rows (path, ..., content) → one row per WARC record:
    * (warc_file, url, warc_type, warc_date, content_length, payload).
    * Parallelism is the file dimension — the standard many-file crawl
    * layout; payload stays binary for the media kernels downstream. */
  private def warcRows(files: DataFrame): DataFrame =
    files.select(col("path").as("warc_file"),
        explode(graft.functions.WarcKernels.warcRecords(
          // 1f 8b sniff: .warc and .warc.gz (member-per-record) files
          // read from one directory with one plan
          graft.functions.GzipKernels.gunzipAuto(col("content")))).as("__r"))
      .select(col("warc_file"), col("__r.url").as("url"),
        col("__r.warc_type").as("warc_type"),
        col("__r.warc_date").as("warc_date"),
        col("__r.content_length").as("content_length"),
        col("__r.payload").as("payload"))

  /** binaryFile rows → one row per tar member: (tar_file, name, size,
    * data) — the WebDataset shard reader (gzip-wrapped .tar.gz shards
    * inflate first via the 1f 8b sniff, like the WARC path). */
  private def tarRows(files: DataFrame): DataFrame =
    files.select(col("path").as("tar_file"),
        explode(graft.functions.TarKernels.tarMembers(
          graft.functions.GzipKernels.gunzipAuto(col("content")))).as("__m"))
      .select(col("tar_file"), col("__m.name").as("name"),
        col("__m.size").as("size"), col("__m.data").as("data"))

  def filterColumn(f: FilterSpec): Column = f match {
    case ExprFilter(e) => expr(e)
    case ColFilter(c, op, v, nullSafe) =>
      val l = col(c)
      op match {
        case "==" | "=" | "eq" => if (nullSafe) l <=> litOf(v) else l === litOf(v)
        case "!=" | "<>"       => l =!= litOf(v)
        case ">"               => l > litOf(v)
        case "<"               => l < litOf(v)
        case ">="              => l >= litOf(v)
        case "<="              => l <= litOf(v)
        case "isin" | "in" =>
          val vs = v match { case JArr(xs) => xs.map(anyOf); case x => Seq(anyOf(x)) }
          l.isin(vs: _*)
        case "not_isin" | "not_in" =>
          val vs = v match { case JArr(xs) => xs.map(anyOf); case x => Seq(anyOf(x)) }
          !l.isin(vs: _*)
        case "is_null"            => l.isNull
        case "is_not_null"        => l.isNotNull
        case "contains"           => l.contains(anyOf(v))
        case "starts_with"        => l.startsWith(anyOf(v).toString)
        case "ends_with"          => l.endsWith(anyOf(v).toString)
        case other => throw new IllegalArgumentException(s"unknown filter op '$other'")
      }
  }

  private def litOf(v: JValue): Column = lit(anyOf(v))
  private def anyOf(v: JValue): Any = v match {
    case JStr(s)  => s
    case JInt(i)  => i
    case JNum(d)  => d
    case JBool(b) => b
    case JNull    => null
    case JArr(xs) => xs.map(anyOf)
  }

  /** One aggregation expression. Filtered aggregates compile to
    * `func(when(pred, col))` ≡ SQL `func(x) FILTER (WHERE pred)` — plain
    * Catalyst, codegen-friendly, partial+final map-side combine intact. */
  def aggColumn(a: AggSpec): Column = {
    val in: Column =
      if (a.col == "*") lit(1)
      else a.filter match {
        case Some(p) => when(expr(p), col(a.col))
        case None    => col(a.col)
      }
    val agg = a.func match {
      case "sum"                   => sum(in)
      // Deterministic double sum/avg for oracle-compared outputs: decimal
      // addition is exact + associative, so partial/final aggregation order
      // can't change the result (see graft.Tables.dsum).
      case "dsum" =>
        sum(in.cast(org.apache.spark.sql.types.DecimalType(25, 6))).cast("double")
      case "davg" =>
        sum(in.cast(org.apache.spark.sql.types.DecimalType(25, 6))).cast("double") / count(in)
      case "min"                   => min(in)
      case "max"                   => max(in)
      case "avg" | "mean"          => avg(in)
      case "count" if a.col == "*" => a.filter.map(p => count(when(expr(p), lit(1)))).getOrElse(count(lit(1)))
      case "count"                 => count(in)
      case "count_distinct"        => count_distinct(in)
      case "approx_count_distinct" => approx_count_distinct(in)
      case "sum_distinct"          => sum_distinct(in)
      case "first"                 => first(in, ignoreNulls = true)
      case "last"                  => last(in, ignoreNulls = true)
      case "any_value"             => any_value(in, lit(true))
      case "collect_set"           => array_sort(collect_set(in))
      case "collect_list"          => collect_list(in)
      case "stddev"                => stddev(in)
      case "variance"              => variance(in)
      case "median"                => median(in)
      // Exact percentile sorts values within each group — fine per-group,
      // but for GLOBAL quantiles at 100 TB use approx_percentile: a
      // mergeable sketch with partial+final combine, no sort (SURVEY §2.2).
      case "percentile"            => percentile(in, lit(a.param.getOrElse(0.5)))
      case "approx_percentile" | "percentile_approx" =>
        percentile_approx(in, lit(a.param.getOrElse(0.5)), lit(10000))
      case other                   =>
        // Pass-through for any other Spark SQL aggregate. col="*" has no
        // SQL spelling here, and the filter must be compiled in (silently
        // dropping it would return unfiltered results).
        if (a.col == "*")
          throw new IllegalArgumentException(
            s"aggregate function '$other' requires a concrete column, not '*'")
        val inner = a.filter
          .map(p => s"CASE WHEN ($p) THEN ${a.col} END")
          .getOrElse(a.col)
        // `param` rides as the second argument (integral values render as
        // INT — sketch capacities like approx_top_k_accumulate's
        // maxItemsTracked are int-typed); silently dropping it would
        // aggregate at the wrong precision.
        val arg = a.param.map(p =>
          if (p.isWhole) s", ${p.toLong}" else s", $p").getOrElse("")
        expr(s"$other($inner$arg)")
    }
    agg.as(a.newName.getOrElse(s"${a.func}_${if (a.col == "*") "all" else a.col}"))
  }

  def applyAggregate(df: DataFrame, a: AggregateSpec): DataFrame = {
    val s = Spine(df)
    aggregate(s, a)
    s.frame
  }

  private[compile] def aggregate(s: Spine, a: AggregateSpec): Unit = a.salt.filter(_ > 1) match {
    case Some(buckets) =>
      // Salted two-phase aggregation: strictly for decomposable functions
      // on a plain groupBy (phase-2 merge semantics exist only for those).
      if (a.mode != "groupBy" || a.keep.nonEmpty || a.groupBy.isEmpty || a.pivot.nonEmpty)
        throw new IllegalArgumentException(
          "salt requires a plain groupBy with group keys, no keep columns, no pivot")
      val aggs3 = a.aggs.map { g =>
        if (g.filter.nonEmpty)
          throw new IllegalArgumentException("salt does not support per-agg filters")
        (g.col, g.func,
          g.newName.getOrElse(s"${g.func}_${if (g.col == "*") "all" else g.col}"))
      }
      s.through(graft.ops.Relational.saltedAggregate(_, a.groupBy, aggs3, buckets))
    case None =>
      // keep_columns that aren't group keys: reference selects them verbatim
      // post-agg (`Optimus/optimus.py:31`) which is invalid under ANSI —
      // resolve to any_value(c) (SURVEY §2.1 P2).
      val keepExprs = a.keep.filterNot(a.groupBy.contains)
        .map(c => any_value(col(c), lit(true)).as(c))
      val aggExprs = a.aggs.map(aggColumn) ++ keepExprs
      if (aggExprs.isEmpty)
        throw new IllegalArgumentException(
          "aggregate needs at least one aggregation (or a keep column outside group_by)")
      a.pivot match {
        // a global aggregate (no group keys, plain mode) has no pivot
        case Some(p) if a.groupBy.nonEmpty || a.mode != "groupBy" =>
          if (a.mode != "groupBy")
            throw new IllegalArgumentException("pivot requires plain groupBy mode")
          if (p.values.isEmpty)
            throw new IllegalArgumentException(
              "pivot needs explicit values (an implicit pivot costs a distinct pass)")
          s.through(_.groupBy(a.groupBy.map(col): _*).pivot(p.col, p.values.map(anyOf))
            .agg(aggExprs.head, aggExprs.tail: _*))
        case _ =>
          // Arbitrary GROUPING SETS ((a),(b,c),()): `sets` lists the
          // subsets; `groupBy` stays the full output column list.
          s.aggregate(a.mode, a.groupBy.map(col), a.sets.map(_.map(col)), aggExprs)
      }
  }

  /** "col", "col asc", "col desc", with optional "nulls first"/"nulls
    * last". Default: asc nulls first (Spark's default), stated explicitly
    * so oracle SQL can mirror it. */
  def sortColumn(s: String): Column = {
    val parts = s.trim.split("\\s+").toSeq
    val c = col(parts.head)
    parts.tail.map(_.toLowerCase).mkString(" ") match {
      case "" | "asc" | "asc nulls first" => c.asc_nulls_first
      case "asc nulls last"               => c.asc_nulls_last
      case "desc" | "desc nulls last"     => c.desc_nulls_last
      case "desc nulls first"             => c.desc_nulls_first
      case other => throw new IllegalArgumentException(s"bad sort spec '$other'")
    }
  }
}
