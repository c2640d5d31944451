package graft.compile

import graft.ops._
import graft.spec._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.reflect.ClassTag

/** The step table: ONE entry per node key — the core steps (filters,
  * aggregate, children joins, order_by, …) and the operators — owning its
  * JSON key and aliases, its decoder, its mode (batch + stream,
  * batch-only, or streaming root sink), the frame columns it reads and
  * adds (the friendly tier of [[Compiler.validate]]) and its step over the
  * node's [[Spine]] — or sink starter. `JsonCodec` decodes, and
  * `Compiler` validates, builds and starts, by walking this table;
  * neither names a step.
  *
  * Entry order IS the application order: a node's steps run in table
  * order whatever their JSON order — derive → watermark → filters →
  * dedup → keep_columns → the operators → aggregate → rename →
  * with_columns → post_filters → expect → expect_report → drop →
  * bitemporal → children → compact → running_totals → top_k → order_by →
  * limit; the root sinks last.
  */
object Operators {

  /** How an entry runs. */
  sealed trait Mode
  /** A step over the node's spine. `batchOnly` is the text after the key
    * in the named rejection a streaming compile raises (None:
    * streamable). */
  final case class Transform(batchOnly: Option[String],
      step: (OpSpec, Ctx, Spine) => Unit) extends Mode
  /** A streaming root sink: its foreachBatch replaces the root `save`;
    * batch compiles reject it by name, pointing at `batchShape`. */
  final case class RootSink(batchShape: String,
      start: (OpSpec, DataFrame) => StreamingQuery) extends Mode

  /** One table entry: the JSON `key` (+ `aliases`), the spec class it
    * decodes to, its mode, how it reads its spec off a node, and the
    * frame columns it reads and adds. */
  final case class Op(key: String, aliases: Seq[String], cls: Class[_],
      mode: Mode, read: NodeJson => Option[OpSpec], reads: OpSpec => Seq[String],
      adds: OpSpec => Seq[String])

  /** What a step sees besides its spec and the spine: the node, and
    * `child`, which builds a child node's spine. */
  final class Ctx(val spark: SparkSession, val node: NodeSpec,
      val streaming: Boolean, val refs: Map[String, DataFrame],
      private[compile] val child: NodeSpec => Spine) {
    def nodeId: String = node.id
    private[compile] def batchOnly(key: String, detail: String): Unit =
      if (streaming) throw new IllegalArgumentException(s"node $nodeId: $key $detail")
    def requireBatch(key: String, reason: String = DefaultReason,
        hint: String = DefaultHint): Unit = batchOnly(key, runs(reason, hint))
    /** The compiled def a `field` names. */
    def ref(field: String, name: String, what: String): DataFrame =
      refs.getOrElse(name, throw new IllegalArgumentException(
        s"node $nodeId: $field '$name' is not a def — declare $what under " +
          "top-level defs" +
          (if (refs.isEmpty) "" else s" (defined: ${refs.keys.mkString(", ")})")))
  }

  // Cluster-output dedup tiers run ITERATIVE connected components
  // (bounded per-round actions) — batch-only semantics. Refusing by
  // name beats the confusing analysis error a streaming frame would
  // throw mid-CC.
  private val DefaultReason = "iterative connected components"
  private val DefaultHint = "streaming ingestion dedups via near_dup_ingest " +
    "(the persisted-index path) instead"
  private def runs(reason: String = DefaultReason, hint: String = DefaultHint): String =
    s"runs $reason — batch-only; $hint"

  /** Decodes the value of the first of `keys` a node has (None: no step). */
  private def keyRead[S](keys: Seq[String], decode: OpJson => Option[S]): NodeJson => Option[S] =
    n => n.opt(keys: _*).flatMap(d => decode(new OpJson(d, n, keys.head)))

  /** A step over the node's spine, decoded off its own key. */
  private def step[S <: OpSpec](key: String, aliases: String*)(
      decode: OpJson => Option[S], reads: S => Seq[String] = (_: S) => Nil,
      adds: S => Seq[String] = (_: S) => Nil, batchOnly: Option[String] = None)(
      f: (S, Ctx, Spine) => Unit)(implicit t: ClassTag[S]): Op =
    Op(key, aliases, t.runtimeClass,
      Transform(batchOnly, (s, c, sp) => f(s.asInstanceOf[S], c, sp)),
      keyRead(key +: aliases, decode), s => reads(s.asInstanceOf[S]), s => adds(s.asInstanceOf[S]))

  /** A DataFrame operator: its body runs on the spine's analyzed frame. */
  private def op[S <: OpSpec](key: String, aliases: String*)(
      decode: OpJson => S, reads: S => Seq[String] = (_: S) => Nil,
      batchOnly: Option[String] = None)(f: (S, Ctx, DataFrame) => DataFrame)(
      implicit t: ClassTag[S]): Op =
    step[S](key, aliases: _*)(j => Some(decode(j)), reads, batchOnly = batchOnly)(
      (s, c, sp) => sp.through(f(s, c, _)))

  private def sink[S <: OpSpec](key: String, alias: String, batchShape: String)(
      decode: OpJson => S)(start: (S, DataFrame) => StreamingQuery)(
      implicit t: ClassTag[S]): Op =
    Op(key, Seq(alias), t.runtimeClass,
      RootSink(batchShape, (s, df) => start(s.asInstanceOf[S], df)),
      keyRead(Seq(key, alias), j => Some(decode(j))), _ => Nil, _ => Nil)

  // ---- decode helpers ----------------------------------------------------

  /** Best-copy retention for cluster-output tiers — validated at decode
    * time: the key only makes sense over clusters, and a silent no-op on
    * pairs output is the config-language failure mode the codec exists
    * to prevent. */
  private def retention(j: OpJson, output: String): Option[RetentionSpec] =
    j.opt("retention").map { r =>
      require(output == "clusters",
        s"""${j.ctx}.retention needs output: "clusters" — """ +
          s"""best-copy retention has no meaning over "$output" output""")
      RetentionSpec(
        orderCol = JsonCodec.req(r, s"${j.ctx}.retention", "order_col", "orderCol").asText,
        descending = JsonCodec.opt(r, "descending").forall(_.asBoolean(true)))
    }

  private def clusterOutput(j: OpJson): String =
    j.choice("output", "pairs", "pairs", "clusters")

  /** `checkpoint` scopes a delta fold to the ingest stream's COMMITTED
    * batches — it only means something under mode "compact". */
  private def requireCompactOnlyCheckpoint(
      ctx: String, mode: String, checkpoint: Option[String]): Unit =
    require(checkpoint.isEmpty || mode == "compact",
      s"""$ctx: "checkpoint" is a compact-only key (it scopes the """ +
        "delta fold to the ingest stream's committed batches) — " +
        s"""remove it, or use mode "compact"""")

  /** `compact_every: N` on an ingest sink — fold the ingest's grown areas
    * every N batches inside foreachBatch. */
  private def ingestCompactEvery(j: OpJson): Option[Int] = {
    val ce = j.optInt("compact_every", "compactEvery")
    ce.foreach(n => require(n >= 1, s"${j.ctx}: compact_every must be >= 1, got $n"))
    ce
  }

  /** An empty list, map or rule set decodes to no step. */
  private def some[T](xs: Seq[T]): Option[Seq[T]] = if (xs.isEmpty) None else Some(xs)

  /** `{name: "expr", ...}` in listed order. */
  private def exprs(j: OpJson): Seq[(String, String)] =
    JsonCodec.fields(j.json).map { case (c, e) => c -> e.asText }

  /** filters / post_filters: one predicate or an array of them, each an
    * "expr string" or `{col, op, value, null_safe}`. */
  private def filterItems(j: OpJson): Seq[FilterSpec] =
    (if (j.json.isArray) JsonCodec.elems(j.json) else Seq(j.json)).map {
      case t if t.isTextual => ExprFilter(t.asText)
      case o =>
        ColFilter(
          col = JsonCodec.req(o, s"node ${j.nodeId}: filter", "col", "filter_col", "column").asText,
          op = JsonCodec.opt(o, "op", "filter_op").map(_.asText).getOrElse("=="),
          value = JsonCodec.jvalue(JsonCodec.opt(o, "value", "filter_value").orNull),
          nullSafe = JsonCodec.opt(o, "null_safe", "nullSafe").exists(_.asBoolean(false)))
    }

  /** expect / expect_report rules: name -> a non-empty expression. */
  private def rules(j: OpJson, entries: Seq[(String, JsonNode)]): Seq[(String, String)] =
    entries.map { case (name, e) =>
      require(e.isTextual && e.asText.nonEmpty,
        s"${j.ctx} rule '$name' must map to a non-empty expression string")
      name -> e.asText
    }

  private def dedup(j: OpJson): DedupSpec =
    if (j.json.isArray || j.json.isTextual) DedupSpec(keys = JsonCodec.strSeq(j.json))
    else {
      val ds = DedupSpec(
        keys = j.strs("keys", "on"),
        idCol = j.optStr("id_col", "idCol"),
        withinWatermark = j.flag(false, "within_watermark", "withinWatermark"),
        orderCol = j.optStr("order_col", "orderCol"),
        descending = j.flag(true, "descending"),
        countCol = j.optStr("count_col", "countCol"))
      require(ds.orderCol.isEmpty || ds.idCol.nonEmpty,
        s"${j.ctx}.order_col needs id_col for the tie-break — " +
          "a score-only winner is nondeterministic on tied scores")
      require(ds.countCol.isEmpty || ds.idCol.nonEmpty,
        s"${j.ctx}.count_col needs id_col — class size is " +
          "aggregated alongside the deterministic winner")
      ds
    }

  /** Whether the node decodes an aggregate: then its keep_columns fold
    * into the aggregate. */
  private def aggregates(n: NodeJson): Boolean =
    n.opt("aggregate", "aggregation")
      .fold(n.json.has("group_by") || n.json.has("aggregations"))(_.isObject)

  /** The `aggregate` object: canonical `{group_by, aggregations,
    * keep_columns?, mode?, sets?, salt?, pivot?}`, or the hotrod spelling
    * `{col: "func" | {function, filter, new_name}}` with a sibling
    * `group_by` on the node. */
  private def aggregateObject(j: OpJson): Option[AggregateSpec] = j.json match {
    case a if a.isObject && (a.has("group_by") || a.has("aggregations")) =>
      Some(AggregateSpec(
        groupBy = j.strs("group_by", "groupBy"),
        aggs = JsonCodec.aggList(j.opt("aggregations", "aggs").orNull),
        keep = j.strs("keep_columns", "keep"),
        mode = j.optStr("mode").getOrElse(
          if (a.has("sets") || a.has("grouping_sets")) "grouping_sets" else "groupBy"),
        sets = j.opt("sets", "grouping_sets").toSeq
          .flatMap(ss => JsonCodec.elems(ss).map(JsonCodec.strSeq)),
        salt = j.optInt("salt"),
        pivot = j.opt("pivot").map(p =>
          PivotSpec(
            col = JsonCodec.req(p, s"${j.ctx}.pivot", "col", "column").asText,
            values = JsonCodec.opt(p, "values").toSeq.flatMap(JsonCodec.elems)
              .map(JsonCodec.jvalue)))))
    case a if a.isObject =>
      val aggs = JsonCodec.fields(a).map {
        case (c, v) if v.isTextual => AggSpec(c, v.asText)
        case (c, v) =>
          AggSpec(c,
            JsonCodec.opt(v, "function", "func").map(_.asText).getOrElse("sum"),
            newName = JsonCodec.opt(v, "new_name", "as").map(_.asText),
            filter = JsonCodec.opt(v, "filter").map(_.asText))
      }
      Some(AggregateSpec(
        groupBy = j.node.opt("group_by").map(JsonCodec.strSeq).getOrElse(Nil), aggs = aggs))
    case a => throw new IllegalArgumentException(
      s"${j.ctx} must be an object ({group_by, aggregations} or " +
        s"{col: function}), got: $a")
  }

  /** The optimus.py flat spelling: group_by / aggregations /
    * keep_columns directly on the node. */
  private def flatAggregate(n: NodeJson): AggregateSpec =
    AggregateSpec(
      groupBy = n.opt("group_by").map(JsonCodec.strSeq).getOrElse(Nil),
      aggs = JsonCodec.aggList(n.opt("aggregations").orNull),
      keep = n.opt("keep_columns", "keep").map(JsonCodec.strSeq).getOrElse(Nil))

  /** One `children` entry: a full node plus its join back to the parent. */
  private def child(id: String, c: JsonNode): ChildSpec = {
    def opt(n: JsonNode, keys: String*) = JsonCodec.opt(n, keys: _*)
    val join = opt(c, "join")
    def inJoin(keys: String*) = join.flatMap(opt(_, keys: _*))
    def joinStr(keys: String*) = inJoin(keys: _*).map(_.asText)
    val link = opt(c, "link").orElse(inJoin("on")).map(JsonCodec.strSeq).getOrElse(Nil)
    val how = joinStr("how").orElse(opt(c, "how").map(_.asText)).getOrElse("left")
    val onExpr = joinStr("on_expr", "onExpr").orElse(opt(c, "on_expr").map(_.asText))
    val leftTs = joinStr("left_ts", "leftTs")
    val rightTs = joinStr("right_ts", "rightTs")
    val lookback = joinStr("lookback")
    val leftDelay = joinStr("left_delay", "leftDelay")
    val rightDelay = joinStr("right_delay", "rightDelay")
    // the join object's own keys get the same typo protection as node
    // keys — "tolerence" silently no-opping is the failure mode the
    // whole codec exists to prevent
    join.foreach { j =>
      val known = Set("on", "how", "on_expr", "onExpr", "left_ts",
        "leftTs", "right_ts", "rightTs", "lookback", "left_delay",
        "leftDelay", "right_delay", "rightDelay", "direction",
        "tolerance", "hint", "join_hint", "salt", "skew_salt")
      val unk = JsonCodec.fields(j).map(_._1).filterNot(known.contains)
      require(unk.isEmpty,
        s"node $id: unknown join key(s): ${unk.mkString(", ")} " +
          s"(known: ${known.toSeq.sorted.mkString(", ")})")
    }
    val direction = joinStr("direction").getOrElse("backward")
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"node $id: join.direction must be backward/forward/nearest, " +
        s"got '$direction'")
    val tolerance = joinStr("tolerance")
    require((direction == "backward" && tolerance.isEmpty) || how == "asof",
      s"node $id: join.direction/tolerance apply only to how='asof', " +
        s"got how='$how'")
    // Skew-salted join (config surface of Relational.saltedJoin): the
    // parent side gets a content-derived salt, the child replicates
    // once per salt value, the join runs on (link, salt). Guards live
    // HERE so a bad combination fails at decode, not mid-plan: the
    // replication is only semantics-preserving for inner/left equi
    // joins, and salt ≤ 1 means "you didn't want this".
    val salt = inJoin("salt", "skew_salt").map(JsonCodec.int(_, s"node $id: join.salt"))
    salt.foreach { n =>
      require(n > 1,
        s"node $id: join.salt must be > 1 (got $n) — 1 bucket is a " +
          "plain join; drop the key instead")
      require(how == "inner" || how == "left",
        s"node $id: join.salt preserves semantics only for " +
          s"how='inner'/'left' (the child side is replicated ${n}×, " +
          s"so an unmatched child row under '$how' would surface $n " +
          "times)")
      require(onExpr.isEmpty,
        s"node $id: join.salt needs equi 'on' keys; it cannot salt an " +
          "on_expr condition")
      require(link.nonEmpty,
        s"node $id: join.salt needs equi 'on' keys (none given)")
    }
    ChildSpec(
      node = JsonCodec.node(c, defaultId = id + "_child",
        // the child object carries its join wiring next to node keys
        extraAllowed = Set("join", "link", "how", "on_expr", "onExpr",
          "prefix", "hint", "join_hint")),
      join = JoinSpec(link, how, onExpr, leftTs, rightTs, lookback,
        leftDelay, rightDelay, direction, tolerance, salt),
      prefix = opt(c, "prefix").exists(_.asBoolean(false)),
      // hint is accepted at the child level and inside the join object
      // (both natural spellings; the latter was silently dropped before
      // the join-key whitelist exposed it)
      hint = opt(c, "hint", "join_hint").map(_.asText)
        .orElse(joinStr("hint", "join_hint")))
  }

  // ---- step helpers ------------------------------------------------------

  /** Best-copy retention over a cluster tier's (id, cluster) labels: join
    * the labels back onto the FULL input frame (left — a row no near-dup
    * touched heads its own singleton class) and keep each class's best
    * row via the exactDedupBest aggregate. One label join + one
    * partial+final aggregate over the cluster op's own cost. */
  private def retainBest(c: Ctx, input: DataFrame, labels: DataFrame,
      idCol: String, r: RetentionSpec): DataFrame = {
    require(!input.columns.contains("cluster"),
      s"node ${c.nodeId}: retention adds a 'cluster' column but the " +
        "input already has one — rename it first")
    val lab = labels.select(col("id").as("__rcid"), col("cluster"))
    val joined = input.join(lab, input(idCol) === col("__rcid"), "left")
      .drop("__rcid")
      .withColumn("cluster", coalesce(col("cluster"), col(idCol)))
    Dedup.exactDedupBest(joined, Seq("cluster"), idCol, r.orderCol, r.descending)
  }

  /** The perceptual/SimHash tiers: (idA, idB, dist) pairs, or (id,
    * cluster) labels when output = "clusters" (batch-only), optionally
    * reduced to each class's best full row. */
  private def pairsOrClusters(c: Ctx, key: String, input: DataFrame,
      idCol: String, output: String, keep: Option[RetentionSpec])(
      pairs: => DataFrame)(clusters: => DataFrame): DataFrame =
    if (output == "clusters") {
      c.requireBatch(s"$key (clusters)")
      val labels = clusters
      keep.fold(labels)(r => retainBest(c, input, labels, idCol, r))
    } else pairs

  /** Joins child `ch` into the node's spine `s`. */
  private def joinChild(c: Ctx, s: Spine, ch: ChildSpec): Unit = {
    val child = c.child(ch.node)
    // Join-strategy hint on the child side ("broadcast", "merge",
    // "shuffle_hash", ...). Catalyst resolves it to the matching physical
    // strategy; unknown hint names would be silently ignored by Spark, so
    // reject them here.
    ch.hint.foreach { h =>
      val known = Set("broadcast", "merge", "shuffle_hash", "shuffle_replicate_nl")
      if (!known.contains(h))
        throw new IllegalArgumentException(
          s"node ${c.nodeId}: unknown join hint '$h' (one of: ${known.mkString(", ")})")
      child.hint(h)
    }
    if (ch.prefix) {
      val linkSet = ch.join.link.toSet
      child.rename(child.frame.columns.toSeq.filterNot(linkSet.contains)
        .map(n => n -> s"${ch.node.id}_$n"))
    }
    ch.join match {
      case j if j.how == "asof" =>
        val (lts, rts0) = (j.leftTs, j.rightTs) match {
          case (Some(l), Some(r)) => (l, r)
          case _ => throw new IllegalArgumentException(
            s"node ${c.nodeId}: asof join requires left_ts and right_ts")
        }
        // prefix namespacing above renamed every non-link child column,
        // including the as-of timestamp — follow it
        val rts = if (ch.prefix && !j.link.contains(rts0)) s"${ch.node.id}_$rts0" else rts0
        val right = child.frame
        val payload = right.columns.filterNot(n => j.link.contains(n) || n == rts)
        s.through(Relational.asofJoin(_, right, j.link, lts, rts,
          payload.toSeq, direction = j.direction, tolerance = j.tolerance))
      case j if j.how == "interval" =>
        // Lookback/interval join (config surface of Streaming.intervalJoin):
        // right rows within [left_ts − lookback, left_ts] per link key. On
        // a streaming compile with a `stream: true` child this is a
        // stream-stream join; the delays become the two state-eviction
        // watermarks. Batch compiles run the identical equi-join + range
        // filter (the oracle path).
        val (lts, rts0, lb) = (j.leftTs, j.rightTs, j.lookback) match {
          case (Some(l), Some(r), Some(b)) => (l, r, b)
          case _ => throw new IllegalArgumentException(
            s"node ${c.nodeId}: interval join requires left_ts, right_ts and lookback")
        }
        val rts = if (ch.prefix && !j.link.contains(rts0)) s"${ch.node.id}_$rts0" else rts0
        val wm = (j.leftDelay, j.rightDelay) match {
          case (Some(l), Some(r)) => Some((l, r))
          case (None, None)       => None
          case _ => throw new IllegalArgumentException(
            s"node ${c.nodeId}: interval join needs both left_delay and " +
              "right_delay, or neither")
        }
        s.through(graft.streaming.Streaming.intervalJoin(_, child.frame, j.link,
          lts, rts, lb, wm))
      case j if j.salt.isDefined =>
        // Skew-salted equi-join (Relational.saltedJoin): parent = the
        // large/skewed side, child = the replicated side — the same
        // parent-fact / child-dimension orientation every other join in
        // the tree uses. A broadcast hint alongside salt is contradictory
        // (a broadcastable child never needs salting; the other hints
        // would pin the strategy Spark should pick for the salted keys),
        // so the combination is rejected by name.
        if (ch.hint.isDefined) throw new IllegalArgumentException(
          s"node ${c.nodeId}: join.salt and a join hint are mutually " +
            "exclusive — salting rewrites the join keys; let Catalyst " +
            "pick the strategy for the salted shuffle")
        s.through(Relational.saltedJoin(_, child.frame, j.link, j.salt.get, j.how))
      case j =>
        j.onExpr match {
          case Some(cond)               => s.join(child, j.how, Nil, Some(expr(cond)))
          case None if j.link.nonEmpty  => s.join(child, j.how, j.link, None)
          case None if j.how == "cross" => s.join(child, j.how, Nil, None)
          case None =>
            // A link-less, expr-less child used to fall through to a
            // silent crossJoin — so a typo'd join key ("onn" instead of
            // "on") became an n×m cartesian, the worst possible plan at
            // scale. Cartesians must now be asked for by name.
            throw new IllegalArgumentException(
              s"node ${c.nodeId}: child '${ch.node.id}' has no join 'on' " +
                "keys and no 'on_expr'; a cartesian product must be " +
                "explicit — set join.how to \"cross\" (check the join " +
                "spec for a misspelled 'on' key)")
        }
    }
  }

  /** Changelog compaction of `df`: the latest version per key, tombstones
    * dropped. */
  private def compact(c: Ctx, k: CompactSpec, df: DataFrame): DataFrame =
    if (df.isStreaming) {
      // rank windows don't compile to a streaming plan — the streaming
      // spelling of the same snapshot is a max_by aggregation
      // (Streaming.latestPerKey, one state row per key). max_by's
      // struct comparison is lexicographic-ascending, so it expresses
      // exactly the all-DESC version orders ("latest wins"); reject
      // mixed directions instead of silently mis-ordering.
      val versionCols = k.versionOrder.map { o =>
        val parts = o.trim.split("\\s+").toSeq
        // a bare column defaults to ASC in the batch path (sortColumn),
        // which would pick the OLDEST row while max_by picks the
        // LATEST — same JSON, divergent snapshots. Demand an explicit
        // 'desc'. Likewise 'nulls first': batch would rank null
        // versions first, but max_by's struct comparison ranks nulls
        // last — reject rather than silently diverge.
        if (!parts.tail.exists(_.equalsIgnoreCase("desc")))
          throw new IllegalArgumentException(
            s"node ${c.nodeId}: streaming compact needs all-DESC " +
              s"version_order with explicit desc on every entry " +
              s"(latest wins; bare columns default asc in batch), got '$o'")
        if (parts.tail.exists(_.equalsIgnoreCase("first")))
          throw new IllegalArgumentException(
            s"node ${c.nodeId}: streaming compact cannot honor 'nulls " +
              s"first' (max_by ranks nulls last), got '$o'")
        parts.head
      }
      val originalOrder = df.columns.toSeq
      val payload = originalOrder.filterNot(k.keys.contains)
      // latestPerKey emits keys ++ payload; restore the node's input
      // column order so batch and stream compiles of one spec agree
      // on schema, not just values
      val latest = graft.streaming.Streaming.latestPerKey(
        df, k.keys, versionCols, payload).select(originalOrder.map(col): _*)
      // tombstone filter on the emitted latest row (update-mode
      // semantics: the sink must upsert by key — see latestPerKey doc)
      k.deleteWhen.fold(latest)(d => latest.filter(!coalesce(expr(d), lit(false))))
    } else
      Relational.compactChangelog(
        df, k.keys, k.versionOrder.map(Compiler.sortColumn),
        k.deleteWhen.map(expr).getOrElse(lit(false)))

  // ---- the table ---------------------------------------------------------

  val all: Seq[Op] = Seq(
    // derive = computed columns applied FIRST, so filters, keep_columns
    // and the aggregate may use them (with_columns applies after the
    // aggregate); a filter on a source column still reaches the scan —
    // Catalyst pushes it below the derive projection
    step[DeriveSpec]("derive")(
      decode = j => some(exprs(j)).map(DeriveSpec),
      adds = _.cols.map(_._1)) { (d, c, s) =>
      d.cols.foreach { case (name, e) =>
        // Scale audit, not a rejection: Spark's [currentRow,
        // unboundedFollowing] aggregate frame re-scans the partition
        // remainder per output row — O(n²) on a hot key. Every engine
        // operator avoids it (as-of forward/nearest and funnel "every"
        // use the reversed running frame); a config window expression
        // can reintroduce it, so warn by name with the fix
        // (docs/USAGE.md "Window-frame scale note").
        if (Compiler.hasQuadraticFrame(e))
          Compiler.warn(s"node ${c.nodeId}: derive '$name' uses an UNBOUNDED " +
            "FOLLOWING aggregate window frame — O(partition²) per key in " +
            "Spark; reverse the ORDER BY and use ROWS BETWEEN UNBOUNDED " +
            "PRECEDING AND CURRENT ROW instead (see docs/USAGE.md)")
      }
      s.withColumns(d.cols.map { case (name, e) => name -> expr(e) })
    },

    // After derive (the watermark column may be derived), before any
    // stateful op. No-op on batch frames.
    step[WatermarkSpec]("watermark")(
      decode = j => Some(WatermarkSpec(
        col = j.str("col", "column"), delay = j.str("delay", "threshold"))),
      reads = w => Seq(w.col)) { (w, _, s) =>
      s.through(_.withWatermark(w.col, w.delay))
    },

    step[FiltersSpec]("filters", "filter")(
      decode = j => some(filterItems(j)).map(FiltersSpec),
      reads = _.filters.collect { case ColFilter(c, _, _, _) => c }) { (f, _, s) =>
      f.filters.foreach(x => s.filter(Compiler.filterColumn(x)))
    },

    // Dedup after filters (dropping rows first shrinks the dedup shuffle),
    // before projection/aggregation so min_by can carry all columns.
    step[DedupSpec]("dedup", "drop_duplicates")(
      decode = j => Some(dedup(j)),
      reads = d => d.keys ++ d.idCol ++ d.orderCol,
      adds = _.countCol.toSeq) { (d, c, s) =>
      // one deterministic winner per key: best score (order_col set),
      // else min id (id_col set), else plain dropDuplicates; count_col
      // rides the winner aggregate with the duplicate-class size
      if (d.countCol.nonEmpty)
        c.requireBatch("dedup (count_col)", "a class-size aggregate",
          "drop count_col (streaming state dedup cannot count a class)")
      s.through { df =>
        def winner(): DataFrame = (d.idCol, d.orderCol) match {
          case (Some(id), Some(oc)) =>
            c.requireBatch("dedup (order_col)", "a score-ranked aggregate",
              "drop order_col (streams keep the first arrival per key)")
            Dedup.exactDedupBest(df, d.keys, id, oc, d.descending, d.countCol)
          case (Some(id), None) => Dedup.exactDedup(df, d.keys, id, d.countCol)
          case _ => df.dropDuplicates(d.keys)
        }
        if (d.withinWatermark) {
          if (c.node.op[WatermarkSpec].isEmpty)
            throw new IllegalArgumentException(
              s"node ${c.nodeId}: dedup.within_watermark requires a node watermark")
          if (d.idCol.nonEmpty && df.isStreaming)
            // streaming state dedup keeps the FIRST arrival per key — a
            // min-id winner isn't expressible there; refusing beats
            // silently returning arrival-order winners
            throw new IllegalArgumentException(
              s"node ${c.nodeId}: dedup.id_col is not supported with " +
                "within_watermark on streams (state keeps the first arrival)")
          // Batch compile of the same spec: the input is finite, so the
          // watermark horizon covers all of it — plain (or min-id/best-
          // score) dedup is the exact batch semantics (and Spark rejects
          // dropDuplicatesWithinWatermark on batch frames outright).
          if (df.isStreaming) df.dropDuplicatesWithinWatermark(d.keys)
          else winner()
        } else winner()
      }
    },

    // the pre-aggregation projection; beside an aggregate it folds into
    // the aggregate's keep columns instead
    step[KeepColumnsSpec]("keep_columns", "keep")(
      decode = j => some(JsonCodec.strSeq(j.json)).filterNot(_ => aggregates(j.node))
        .map(KeepColumnsSpec),
      reads = _.cols) { (k, _, s) =>
      s.select(k.cols.map(col))
    },

    // ---- the operators ----

    // Embedding near-dup pairs: the frame becomes (idA, idB, score).
    // Pure plan composition (banded signatures + equi-join — no
    // actions); "clusters" runs connected components over the verified
    // pairs — (id, cluster) labels, the perceptual tiers' shape.
    op[NearDupSpec]("near_dup", "nearDup")(
      decode = j => {
        val out = clusterOutput(j)
        NearDupSpec(
          idCol = j.str("id_col", "idCol"),
          vecCol = j.str("vec_col", "vecCol"),
          threshold = j.double("threshold"),
          dim = j.int("dim"),
          numBits = j.intOr(64, "num_bits", "numBits"),
          bands = j.intOr(8, "bands"),
          output = out,
          retention = retention(j, out))
      },
      reads = d => Seq(d.idCol, d.vecCol) ++ d.retention.map(_.orderCol)) {
      (d, c, df) =>
        val pairs = Similarity.cosineNearDupPairsBanded(
          df, d.idCol, d.vecCol, d.threshold, d.dim, d.numBits, d.bands)
        pairsOrClusters(c, "near_dup", df, d.idCol, d.output, d.retention)(pairs)(
          Dedup.dedupClusters(pairs))
    },

    // Semantic dedup: centroid training collects bounded metadata at
    // compile and the within-cluster join needs the whole corpus.
    op[SemanticDedupSpec]("semantic_dedup", "semanticDedup")(
      decode = j => SemanticDedupSpec(
        idCol = j.str("id_col", "idCol"),
        vecCol = j.str("vec_col", "vecCol"),
        threshold = j.double("threshold"),
        dim = j.int("dim"),
        nlist = j.intOr(16, "nlist"),
        refineRounds = j.intOr(0, "refine_rounds", "refineRounds"),
        exact = j.flag(false, "exact"),
        // HIGH-threshold production regime (τ ≥ 0.9): wide bands prune;
        // the low-τ near_dup default (2-bit keys) would go quadratic here
        numBits = j.intOr(64, "num_bits", "numBits"),
        bands = j.intOr(8, "bands"),
        output = j.choice("output", "keep", "keep", "labels", "pairs")),
      reads = d => Seq(d.idCol, d.vecCol),
      batchOnly = Some("trains centroids over the whole corpus — batch-only; " +
        "dedup a stream against a batch-built index via " +
        "near_dup_ingest/near_dup_probe instead")) { (d, _, df) =>
      Similarity.semanticDedup(df, d.idCol, d.vecCol, d.threshold, d.dim,
        d.nlist, d.refineRounds, d.exact, d.numBits, d.bands, d.output)
    },

    // Edit-distance near-dup: the frame becomes (idA, idB, dist, sim) —
    // blocking-key candidates verified by normalized Levenshtein (one
    // block-key shuffle + candidate-shaped verify).
    op[EditDedupSpec]("edit_dedup", "editDedup")(
      decode = j => EditDedupSpec(
        idCol = j.str("id_col", "idCol"),
        textCol = j.str("text_col", "textCol"),
        blockExpr = j.str("block_expr", "blockExpr"),
        threshold = j.doubleOr(0.8, "threshold"),
        maxDistance = j.optInt("max_distance", "maxDistance"),
        // default-on skew guard; an int pins a user cap, "off" opts out
        bucketCap = j.opt("max_bucket_size", "maxBucketSize").map { v =>
          if (v.isNumber) BucketCap.Max(JsonCodec.int(v, s"${j.ctx}.max_bucket_size"))
          else v.asText match {
            case "auto" => BucketCap.Auto
            case "off"  => BucketCap.Off
            case other => throw new IllegalArgumentException(
              s"${j.ctx}.max_bucket_size must be an int, " +
                s""""auto" or "off" — got "$other"""")
          }
        }.getOrElse(BucketCap.Auto)),
      reads = e => Seq(e.idCol, e.textCol)) { (e, _, df) =>
      val cands = Dedup.blockedCandidatePairs(df, e.idCol, expr(e.blockExpr), e.bucketCap)
      Dedup.verifyEditDistancePairs(df, e.idCol, e.textCol, cands, e.threshold, e.maxDistance)
    },

    // Perceptual image dedup: (idA, idB, dist) pairs or (id, cluster)
    // labels — both plan-only (partition-batched dHash +
    // identical-signature-collapsed banding).
    op[ImageDedupSpec]("image_dedup", "imageDedup")(
      decode = j => ImageDedupSpec(
        idCol = j.str("id_col", "idCol"),
        payloadCol = j.str("payload_col", "payloadCol"),
        maxDist = j.intOr(6, "max_dist", "maxDist"),
        output = clusterOutput(j),
        retention = retention(j, clusterOutput(j))),
      reads = i => Seq(i.idCol, i.payloadCol) ++ i.retention.map(_.orderCol)) {
      (i, c, df) =>
        pairsOrClusters(c, "image_dedup", df, i.idCol, i.output, i.retention)(
          Multimodal.imageNearDupPairs(df, i.idCol, i.payloadCol, i.maxDist))(
          Multimodal.imageNearDupClusters(df, i.idCol, i.payloadCol, i.maxDist))
    },

    // Text SimHash near-dup: the same shapes over the token-hash SimHash.
    op[SimhashDedupSpec]("simhash_dedup", "simhashDedup")(
      decode = j => SimhashDedupSpec(
        idCol = j.str("id_col", "idCol"),
        textCol = j.str("text_col", "textCol"),
        maxDist = j.intOr(3, "max_dist", "maxDist"),
        output = clusterOutput(j),
        retention = retention(j, clusterOutput(j))),
      reads = s => Seq(s.idCol, s.textCol) ++ s.retention.map(_.orderCol)) {
      (s, c, df) =>
        pairsOrClusters(c, "simhash_dedup", df, s.idCol, s.output, s.retention)(
          Dedup.simhashPairs(df, s.idCol, s.textCol, s.maxDist))(
          Dedup.simhashClusters(df, s.idCol, s.textCol, s.maxDist))
    },

    // Perceptual audio dedup: the same shapes over the envelope hash.
    op[AudioDedupSpec]("audio_dedup", "audioDedup")(
      decode = j => AudioDedupSpec(
        idCol = j.str("id_col", "idCol"),
        payloadCol = j.str("payload_col", "payloadCol"),
        maxDist = j.intOr(6, "max_dist", "maxDist"),
        output = clusterOutput(j),
        retention = retention(j, clusterOutput(j))),
      reads = a => Seq(a.idCol, a.payloadCol) ++ a.retention.map(_.orderCol)) {
      (a, c, df) =>
        pairsOrClusters(c, "audio_dedup", df, a.idCol, a.output, a.retention)(
          Multimodal.audioNearDupPairs(df, a.idCol, a.payloadCol, a.maxDist))(
          Multimodal.audioNearDupClusters(df, a.idCol, a.payloadCol, a.maxDist))
    },

    // Exact substring-level dedup: "spans" rewrites the frame to
    // duplicate-passage token spans; "strip" keeps it and adds
    // clean_text + dropped_tokens. Occurrence ranking needs a global
    // order over the whole corpus — illegal on streams.
    op[PassageDedupSpec]("passage_dedup", "passageDedup")(
      decode = j => PassageDedupSpec(
        idCol = j.str("id_col", "idCol"),
        textCol = j.str("text_col", "textCol"),
        windowTokens = j.intOr(50, "window_tokens", "windowTokens"),
        output = j.choice("output", "spans", "spans", "strip")),
      reads = p => Seq(p.idCol, p.textCol),
      batchOnly = Some("ranks occurrences against the whole corpus — " +
        "batch-only (streaming corpora use the passage_ingest root sink)")) {
      (p, _, df) =>
        if (p.output == "strip")
          Dedup.stripDuplicatePassages(df, p.idCol, p.textCol, p.windowTokens)
        else Dedup.duplicatePassageSpans(df, p.idCol, p.textCol, p.windowTokens)
    },

    // LM-perplexity quality scoring: the frame becomes (id, n_bigrams,
    // nll). Plan-only (vocabulary aggregates + equi-joins).
    op[LmPerplexitySpec]("lm_perplexity", "lmPerplexity")(
      decode = j => LmPerplexitySpec(
        idCol = j.str("id_col", "idCol"),
        textCol = j.str("text_col", "textCol"),
        k = j.doubleOr(0.5, "k"),
        keepUnscored = j.flag(false, "keep_unscored", "keepUnscored"),
        smoothing = j.choice("smoothing", "addk", "addk", "kn"),
        discount = j.doubleOr(0.75, "discount")),
      reads = l => Seq(l.idCol, l.textCol)) { (l, _, df) =>
      Corpus.lmPerplexity(df, l.idCol, l.textCol, l.k, l.keepUnscored,
        l.smoothing, l.discount)
    },

    // Artifact-inference keys — the STREAMING-admissible halves of the
    // batch-only trainers: each loads a persisted artifact ONCE at
    // compile time (bounded driver metadata — weights / merge list /
    // Bloom bit array) and applies a scan-stage kernel.
    op[NearDupProbeSpec]("near_dup_probe", "nearDupProbe")(
      decode = j => NearDupProbeSpec(
        textCol = j.str("text_col", "textCol"),
        indexDir = j.str("index_dir", "indexDir"),
        shingleSize = j.intOr(3, "shingle_size", "shingleSize"),
        numHashes = j.intOr(64, "num_hashes", "numHashes"),
        bands = j.intOr(16, "bands"),
        flagCol = j.strOr("near_dup", "flag_col", "flagCol"),
        expectedKeys = j.longOr(1L << 22, "expected_keys", "expectedKeys"),
        fpp = j.doubleOr(0.01, "fpp"))) { (p, c, df) =>
      Dedup.nearDupProbeBloom(df, p.textCol, c.spark.read.parquet(p.indexDir),
        p.shingleSize, p.numHashes, p.bands, p.flagCol, p.expectedKeys, p.fpp)
    },

    // Scan-stage seen probe: the Bloom over the persisted key index
    // builds ONCE at compile — the crawl-frontier gate.
    op[SeenProbeSpec]("seen_probe", "seenProbe")(
      decode = j => {
        val s = SeenProbeSpec(
          keyCol = j.str("key_col", "keyCol"),
          indexDir = j.str("index_dir", "indexDir"),
          flagCol = j.strOr("seen", "flag_col", "flagCol"),
          expectedKeys = j.longOr(1L << 22, "expected_keys", "expectedKeys"),
          fpp = j.doubleOr(0.01, "fpp"))
        require(s.expectedKeys > 0, s"${j.ctx}: expected_keys must be > 0")
        require(s.fpp > 0 && s.fpp < 1, s"${j.ctx}: fpp must be in (0, 1), got ${s.fpp}")
        s
      },
      reads = s => Seq(s.keyCol)) { (s, c, df) =>
      Dedup.seenProbeBloom(df, s.keyCol, c.spark.read.parquet(s.indexDir),
        s.flagCol, s.expectedKeys, s.fpp)
    },

    // Exact seen filter: drop (left-anti) or flag against the persisted
    // key index's distinct keys. Stream-static join under compileStream
    // — the index is read at stream START.
    op[SeenFilterSpec]("seen_filter", "seenFilter")(
      decode = j => {
        val s = SeenFilterSpec(
          keyCol = j.str("key_col", "keyCol"),
          indexDir = j.str("index_dir", "indexDir"),
          mode = j.strOr("drop", "mode"),
          flagCol = j.strOr("seen", "flag_col", "flagCol"))
        require(s.mode == "drop" || s.mode == "flag",
          s"""${j.ctx}: mode must be "drop" or "flag", got "${s.mode}"""")
        s
      },
      reads = s => Seq(s.keyCol)) { (s, c, df) =>
      Dedup.seenFilter(df, s.keyCol, c.spark.read.parquet(s.indexDir), s.mode, s.flagCol)
    },

    op[ScoreModelSpec]("score_model", "scoreModel")(
      decode = j => ScoreModelSpec(
        textCol = j.str("text_col", "textCol"),
        modelDir = j.str("model_dir", "modelDir"),
        scoreCol = j.strOr("score", "score_col", "scoreCol"),
        predCol = j.strOr("pred", "pred_col", "predCol"),
        threshold = j.doubleOr(0.5, "threshold"))) { (m, c, df) =>
      val model = Corpus.loadTextClassifier(c.spark, m.modelDir)
      Corpus.scoreWithModel(df, m.textCol, model, m.scoreCol, m.predCol, m.threshold)
    },

    op[BpeApplySpec]("bpe_apply", "bpeApply")(
      decode = j => {
        val s = BpeApplySpec(
          textCol = j.optStr("text_col", "textCol"),
          mergesDir = j.str("merges_dir", "mergesDir"),
          withIds = j.flag(false, "with_ids", "withIds"),
          decodeCol = j.optStr("decode_col", "decodeCol"))
        require(s.textCol.nonEmpty || s.decodeCol.nonEmpty,
          s"${j.ctx}: need text_col (encode: bpe_tokens/bpe_ids) and/or " +
            "decode_col (an ids column to decode into bpe_decoded)")
        require(!(s.withIds && s.textCol.isEmpty),
          s"${j.ctx}: with_ids encodes text_col — declare text_col, or drop with_ids")
        s
      }) { (b, c, df) =>
      val merges = Bpe.loadMerges(c.spark, b.mergesDir)
      var out = df
      b.textCol.foreach { tc =>
        out = Bpe.addTokens(out, tc, merges)
        if (b.withIds) out = Bpe.addIds(out, tc, merges)
      }
      // decode side: ids → subword strings under the SAME artifact (the
      // shard-inspection path: tar source → binary_ints → decode)
      b.decodeCol.foreach(dc => out = Bpe.addDecoded(out, dc, merges))
      out
    },

    // Sliding-window chunking: the frame becomes one row per chunk —
    // (id, chunk_id, chunk_text | chunk_ids, n_tokens). Scan-stage
    // generator. Sits after bpe_apply so the ids tier composes bpe →
    // chunk → sequence_pack (whole-doc packing without truncation).
    op[ChunkSpec]("chunk")(
      decode = j => {
        val cs = ChunkSpec(
          idCol = j.str("id_col", "idCol"),
          size = j.int("size"),
          overlap = j.intOr(0, "overlap"),
          textCol = j.optStr("text_col", "textCol"),
          idsCol = j.optStr("ids_col", "idsCol"),
          sep = j.optStr("sep"))
        val ctx = j.ctx
        require(cs.size >= 1, s"$ctx: size must be >= 1, got ${cs.size}")
        require(cs.overlap >= 0 && cs.overlap < cs.size,
          s"$ctx: need 0 <= overlap < size, got overlap=${cs.overlap} size=${cs.size}")
        require(cs.textCol.isDefined != cs.idsCol.isDefined,
          s"$ctx: exactly one of text_col (whitespace-token tier) or " +
            "ids_col (token-id tier) must be set")
        cs.sep.foreach { s =>
          require(s.nonEmpty, s"$ctx: sep must be non-empty")
          require(cs.textCol.isDefined,
            s"$ctx: sep (structure-aware segment chunking) needs text_col " +
              "— token-id arrays carry no separators")
          require(cs.overlap == 0,
            s"$ctx: sep excludes overlap — segments pack whole, " +
              "they never overlap")
        }
        cs
      },
      // ids_col is NOT read here: it is usually bpe_apply-created in the
      // same node (bpe_ids) — the analyzer tier checks it
      reads = c => Seq(c.idCol)) { (ch, _, df) =>
      (ch.textCol, ch.sep) match {
        case (Some(t), Some(sp)) => Corpus.chunkBySegments(df, ch.idCol, t, ch.size, sp)
        case (Some(t), None) => Corpus.chunkByTokens(df, ch.idCol, t, ch.size, ch.overlap)
        case _ => Corpus.chunkIds(df, ch.idCol, ch.idsCol.get, ch.size, ch.overlap)
      }
    },

    // BPE: train merges on the frame (iterative global aggregates);
    // output=merges replaces the frame with the merge table,
    // output=tokens adds the trained tokenizer's columns.
    op[BpeSpec]("bpe")(
      decode = j => BpeSpec(
        textCol = j.str("text_col", "textCol"),
        numMerges = j.intOr(16, "num_merges", "numMerges"),
        output = j.choice("output", "merges", "merges", "tokens")),
      reads = b => Seq(b.textCol),
      batchOnly = Some("training is an iterative global aggregate " +
        "— batch-only; train in batch and tokenize the stream with the " +
        "trained merges (BpeKernels.bpeTokenize)")) { (b, c, df) =>
      if (b.output == "merges") Bpe.trainDF(c.spark, df, b.textCol, b.numMerges)
      else {
        val merges = Bpe.train(df, b.textCol, b.numMerges).map(t => (t._1, t._2))
        df.withColumn("bpe_tokens",
            graft.functions.BpeKernels.bpeTokenize(col(b.textCol), merges))
          .withColumn("n_bpe", size(col("bpe_tokens")))
      }
    },

    // Count–Min watchlist probe: the frame becomes (key, est). The
    // sketch aggregate collects to the driver.
    op[CmsProbeSpec]("cms_probe", "cmsProbe")(
      decode = j => {
        val probes = j.req("probes")
        require(probes.isArray && probes.size() > 0,
          s"${j.ctx}.probes must be a non-empty ARRAY of keys")
        CmsProbeSpec(
          keyCol = j.str("key_col", "keyCol"),
          probes = (0 until probes.size()).map(i => probes.get(i).asText),
          eps = j.doubleOr(1e-4, "eps"),
          confidence = j.doubleOr(0.99, "confidence"),
          seed = j.intOr(42, "seed"))
      },
      reads = p => Seq(p.keyCol),
      batchOnly = Some("collects a sketch (an action) — batch-only; monitor " +
        "a stream by probing per batch in foreachBatch instead")) { (p, _, df) =>
      Relational.cmsProbeCounts(df, p.keyCol, p.probes, p.eps, p.confidence, p.seed)
    },

    // Trainable quality classifier: fit on labeled rows (global
    // aggregates), score every row scan-stage.
    op[QualityClassifierSpec]("quality_classifier", "qualityClassifier")(
      decode = j => QualityClassifierSpec(
        idCol = j.str("id_col", "idCol"),
        textCol = j.str("text_col", "textCol"),
        labelCol = j.str("label_col", "labelCol"),
        dim = j.intOr(1024, "dim"),
        epochs = j.intOr(8, "epochs"),
        lr = j.doubleOr(0.8, "lr"),
        threshold = j.doubleOr(0.5, "threshold")),
      reads = q => Seq(q.idCol, q.textCol, q.labelCol),
      batchOnly = Some(runs("training-pass global aggregates",
        "train in batch, persist the artifact, and score the stream with " +
          "score_model instead"))) { (q, _, df) =>
      Corpus.qualityClassifier(df, q.idCol, q.textCol, q.labelCol, q.dim,
        q.epochs, q.lr, q.threshold)
    },

    // Multiclass classifier: one-vs-rest training (k sets of global
    // aggregates) + scan-stage argmax prediction; the frame gains
    // pred_col (and per-class scores with keep_scores).
    op[MulticlassClassifierSpec]("multiclass_classifier", "multiclassClassifier")(
      decode = j => MulticlassClassifierSpec(
        idCol = j.str("id_col", "idCol"),
        textCol = j.str("text_col", "textCol"),
        labelCol = j.str("label_col", "labelCol"),
        dim = j.intOr(1024, "dim"),
        epochs = j.intOr(8, "epochs"),
        lr = j.doubleOr(0.8, "lr"),
        predCol = j.strOr("pred_label", "pred_col", "predCol"),
        keepScores = j.flag(false, "keep_scores", "keepScores")),
      reads = m => Seq(m.idCol, m.textCol, m.labelCol),
      batchOnly = Some("trains one-vs-rest models over the whole corpus — " +
        "batch-only; train in batch, persist per-class artifacts, and score " +
        "the stream with score_model columns instead")) { (m, _, df) =>
      val models = Corpus.trainMulticlassClassifier(
        df, m.idCol, m.textCol, m.labelCol, m.dim, m.epochs, m.lr)
      Corpus.predictMulticlass(df, m.textCol, models, m.predCol, m.keepScores)
    },

    // Predict with a persisted multiclass artifact: models load ONCE at
    // compile (bounded metadata), prediction is scan-stage — the
    // streaming-admissible inference half of multiclass_classifier.
    op[PredictModelSpec]("predict_model", "predictModel")(
      decode = j => PredictModelSpec(
        textCol = j.str("text_col", "textCol"),
        modelDir = j.str("model_dir", "modelDir"),
        predCol = j.strOr("pred_label", "pred_col", "predCol"),
        keepScores = j.flag(false, "keep_scores", "keepScores")),
      reads = p => Seq(p.textCol)) { (p, c, df) =>
      val models = Corpus.loadMulticlassClassifier(c.spark, p.modelDir)
      Corpus.predictMulticlass(df, p.textCol, models, p.predCol, p.keepScores)
    },

    // DSIR importance weighting/resampling: the fit joins this frame
    // against the exemplar corpus named by target_ref (two count
    // aggregates); scoring is scan-stage kernel arithmetic over the
    // fitted log-ratio table.
    op[DsirSpec]("dsir")(
      decode = j => {
        val ctx = j.ctx
        val mode = j.optStr("mode").map {
          case m @ ("weights" | "select" | "select_threshold") => m
          case other => throw new IllegalArgumentException(
            s"""$ctx: mode must be "weights", "select", or """ +
              s""""select_threshold" — got "$other"""")
        }.getOrElse("weights")
        val spec = DsirSpec(
          targetRef = j.str("target_ref", "targetRef"),
          textCol = j.str("text_col", "textCol"),
          idCol = j.strOr("", "id_col", "idCol"),
          buckets = j.intOr(8192, "buckets"),
          mode = mode,
          n = j.intOr(0, "n"),
          seed = j.longOr(0L, "seed"),
          gumbel = j.flag(true, "gumbel"),
          saveModel = j.strOr("", "save_model", "saveModel"),
          threshold = j.opt("threshold").map(_.asDouble),
          relativeError = j.doubleOr(1e-4, "relative_error", "relativeError"))
        if (spec.mode == "select") {
          require(spec.n >= 1, s"$ctx: select mode needs n >= 1")
          require(spec.idCol.nonEmpty, s"$ctx: select mode needs id_col")
        }
        if (spec.mode == "select_threshold") {
          require(spec.threshold.nonEmpty || spec.n >= 1,
            s"$ctx: select_threshold mode needs an explicit threshold or n >= 1")
          require(!spec.gumbel || spec.idCol.nonEmpty,
            s"$ctx: select_threshold with gumbel noise needs id_col")
        }
        spec
      },
      reads = d => Seq(d.textCol) ++ (if (d.idCol.nonEmpty) Seq(d.idCol) else Nil),
      batchOnly = Some(runs("exemplar-corpus count aggregates (the fit)",
        "fit in batch, persist via save_model, and score the stream with " +
          "dsir_score instead"))) { (d, c, df) =>
      val target = c.ref("dsir.target_ref", d.targetRef, "the exemplar corpus")
      val model = Corpus.dsirFit(df, target, d.textCol, d.buckets)
      if (d.saveModel.nonEmpty) Corpus.saveDsirModel(c.spark, model, d.saveModel)
      val scored = Corpus.dsirScore(df, d.textCol, model)
      d.mode match {
        case "select" => Corpus.dsirResample(scored, d.idCol, d.n, d.seed, d.gumbel)
        case "select_threshold" =>
          // the scan-stage selection path: explicit key cut, or derived
          // once from the quantile sketch when only n is given
          val t = d.threshold.getOrElse(
            Corpus.dsirThresholdForN(scored, d.idCol, d.n.toLong,
              d.seed, d.gumbel, relativeError = d.relativeError))
          Corpus.dsirResampleThreshold(scored, d.idCol, t, d.seed, d.gumbel)
        case _ => scored
      }
    },

    // PageRank over the frame as an edge list: the frame becomes
    // (node, rank).
    op[PageRankSpec]("page_rank", "pageRank")(
      decode = j => PageRankSpec(
        srcCol = j.str("src_col", "srcCol"),
        dstCol = j.str("dst_col", "dstCol"),
        iters = j.intOr(3, "iters"),
        damping = j.doubleOr(0.85, "damping"),
        tol = j.doubleOr(0.0, "tol")),
      reads = p => Seq(p.srcCol, p.dstCol),
      batchOnly = Some(runs("iterative rank-update actions",
        "compute host ranks in batch and join them onto the stream instead"))) {
      (p, _, df) => Graph.pageRank(df, p.srcCol, p.dstCol, p.iters, p.damping, p.tol)
    },

    // Generic connected components: the frame is an edge table and
    // becomes (id, cluster) min-reachable-id labels — the dedup tiers'
    // CC engine exposed for entity resolution / graph communities.
    op[ConnectedComponentsSpec]("connected_components", "connectedComponents")(
      decode = j => {
        val ctx = j.ctx
        val s = ConnectedComponentsSpec(
          srcCol = j.str("src_col", "srcCol"),
          dstCol = j.str("dst_col", "dstCol"),
          maxIter = j.intOr(20, "max_iter", "maxIter"),
          smallGraphEdges = j.longOr(1L << 20, "small_graph_edges", "smallGraphEdges"),
          checkpointDir = j.optStr("checkpoint_dir", "checkpointDir"))
        require(s.srcCol != s.dstCol,
          s"$ctx: src_col and dst_col must differ (self-loops are rows " +
            "with equal VALUES, not equal columns)")
        require(s.maxIter >= 1, s"$ctx: max_iter must be >= 1, got ${s.maxIter}")
        require(s.smallGraphEdges >= 0 && s.smallGraphEdges <= (1L << 24),
          s"$ctx: small_graph_edges must be in [0, 2^24], got " +
            s"${s.smallGraphEdges} (the driver-collect safety cap)")
        s
      },
      reads = cc => Seq(cc.srcCol, cc.dstCol),
      batchOnly = Some(runs("iterative label-propagation actions",
        "label the landed graph in batch and join the labels onto the " +
          "stream instead"))) { (cc, _, df) =>
      Dedup.dedupClusters(
        df.select(col(cc.srcCol).as("idA"), col(cc.dstCol).as("idB")),
        maxIter = cc.maxIter, smallGraphEdges = cc.smallGraphEdges,
        checkpointDir = cc.checkpointDir)
    },

    // Collocation mining: the frame becomes its top-k PMI bigram table.
    op[CollocationsSpec]("collocations")(
      decode = j => {
        val s = CollocationsSpec(
          textCol = j.str("text_col", "textCol"),
          minCount = j.intOr(5, "min_count", "minCount"),
          topK = j.intOr(100, "top_k", "topK"),
          groupCols = j.strs("group_cols", "groupCols"))
        require(s.minCount >= 1, s"${j.ctx}: min_count must be >= 1, got ${s.minCount}")
        require(s.topK >= 1, s"${j.ctx}: top_k must be >= 1, got ${s.topK}")
        s
      },
      reads = cs => cs.textCol +: cs.groupCols,
      batchOnly = Some(runs("global corpus token/pair counts",
        "mine collocations in batch over the landed corpus instead"))) { (cs, _, df) =>
      TextAnalysis.collocations(df, cs.textCol, cs.minCount, cs.topK, cs.groupCols)
    },

    // BM25 retrieval: rank the frame (the corpus) against the query def;
    // the frame becomes (qid, id, score, rn).
    op[Bm25Spec]("bm25")(
      decode = j => Bm25Spec(
        queriesRef = j.str("queries_ref", "queriesRef"),
        idCol = j.str("id_col", "idCol"),
        textCol = j.str("text_col", "textCol"),
        qidCol = j.strOr("qid", "qid_col", "qidCol"),
        qtextCol = j.strOr("qtext", "qtext_col", "qtextCol"),
        k1 = j.doubleOr(1.2, "k1"),
        b = j.doubleOr(0.75, "b"),
        topK = j.intOr(10, "top_k", "topK"),
        proxWeight = j.doubleOr(0.0, "prox_weight", "proxWeight")),
      reads = b => Seq(b.idCol, b.textCol),
      batchOnly = Some(runs("corpus-statistics actions (N, avgdl)",
        "run retrieval in batch over the materialized corpus instead"))) { (b, c, df) =>
      val queries = c.ref("bm25.queries_ref", b.queriesRef, "the query table")
      Retrieval.bm25TopK(df, b.idCol, b.textCol, queries, b.qidCol, b.qtextCol,
        b.k1, b.b, b.topK, b.proxWeight)
    },

    // At-rest BM25 index build/append/compact/stats: the frame (the
    // corpus) persists bucket-partitioned postings + lengths + stats,
    // then becomes the (bucket, n_postings) balance histogram.
    op[Bm25IndexSpec]("bm25_index", "bm25Index")(
      decode = j => {
        val ctx = j.ctx
        val mode = j.strOr("build", "mode")
        require(mode == "build" || mode == "append" || mode == "compact" ||
            mode == "stats",
          s"""$ctx: mode must be "build", "append", "compact" or "stats", got "$mode"""")
        // compact/stats only touch the artifact — frame columns never enter
        val artifactOnly = mode == "compact" || mode == "stats"
        if (artifactOnly)
          Seq("id_col", "idCol", "text_col", "textCol").foreach { k =>
            require(j.opt(k).isEmpty,
              s"""$ctx: "$k" has no effect under mode "$mode" (it """ +
                "touches only the saved artifact) — remove it")
          }
        val s = Bm25IndexSpec(
          idCol = if (artifactOnly) "" else j.str("id_col", "idCol"),
          textCol = if (artifactOnly) "" else j.str("text_col", "textCol"),
          dir = j.str("dir"),
          prox = j.flag(false, "prox"),
          buckets = j.intOr(64, "buckets"),
          mode = mode,
          checkpoint = j.optStr("checkpoint"))
        requireCompactOnlyCheckpoint(ctx, s.mode, s.checkpoint)
        // append/compact work against the SAVED layout — stated layout
        // params would silently not re-shard/re-shape; reject by name
        require(s.mode == "build" || (j.opt("prox").isEmpty && j.opt("buckets").isEmpty),
          s"""$ctx: prox/buckets have no effect under mode "${s.mode}" """ +
            "(the saved layout is reused) — remove them, or rebuild with " +
            """mode "build"""")
        require(s.buckets >= 1 && s.buckets <= 65536,
          s"$ctx: buckets must be in [1, 65536], got ${s.buckets}")
        s
      },
      reads = b =>
        if (b.mode == "compact" || b.mode == "stats") Nil else Seq(b.idCol, b.textCol),
      batchOnly = Some(runs("a postings build and an index write",
        "build the index in batch; search query streams in batch against it"))) {
      (b, _, df) =>
        val s = df.sparkSession
        if (b.mode == "stats") Retrieval.bm25IndexStats(s, b.dir) // no write
        else {
          if (b.mode == "compact")
            // checkpoint (when given) scopes the fold to the ingest
            // stream's COMMITTED batches — live-stream-safe compaction
            Retrieval.compactBm25Index(s, b.dir,
              Artifacts.committedFoldCeiling(s, b.checkpoint))
          else if (b.mode == "append")
            Retrieval.appendBm25Index(s, df, b.idCol, b.textCol, b.dir)
          else
            Retrieval.saveBm25Index(s, df, b.idCol, b.textCol, b.dir, b.prox, b.buckets)
          s.read.parquet(s"${b.dir}/postings")
            .groupBy(col("bucket")).agg(count(lit(1)).as("n_postings"))
        }
    },

    // Ingest-area compaction: fold each area's committed batch= dirs
    // into one compacted dir (the operator-issued half beside the
    // ingests' compact_every). The frame becomes (area_ix, n_dirs).
    op[IngestCompactSpec]("ingest_compact", "ingestCompact")(
      decode = j => {
        val s = IngestCompactSpec(
          dirs = JsonCodec.strSeq(j.req("dirs")),
          checkpoint = j.optStr("checkpoint"))
        require(s.dirs.nonEmpty, s"${j.ctx}: dirs must be non-empty")
        s
      },
      batchOnly = Some(runs("a filesystem rewrite",
        "run compaction as a periodic batch job; the ingest stream's " +
          "compact_every key is the in-stream half"))) { (ic, _, df) =>
      val s = df.sparkSession
      // checkpoint (when given) scopes the fold to the ingest stream's
      // COMMITTED batches — live-stream-safe compaction
      val ceiling = Artifacts.committedFoldCeiling(s, ic.checkpoint)
      val rows = ic.dirs.zipWithIndex.map { case (dir, i) =>
        Artifacts.foldBatchArea(s, dir, ceiling)
        (i, Artifacts.areaBatchDirCount(s, dir))
      }
      import s.implicits._
      rows.toDF("area_ix", "n_dirs")
    },

    // BM25 search against a saved index: the frame (the QUERY set)
    // becomes (qid, <index id_col>, score, rn) without re-tokenizing
    // the corpus.
    op[Bm25SearchSpec]("bm25_search", "bm25Search")(
      decode = j => {
        val ctx = j.ctx
        val s = Bm25SearchSpec(
          qidCol = j.str("qid_col", "qidCol"),
          qtextCol = j.str("qtext_col", "qtextCol"),
          indexDir = j.str("index_dir", "indexDir"),
          k1 = j.doubleOr(1.2, "k1"),
          b = j.doubleOr(0.75, "b"),
          topK = j.intOr(10, "top_k", "topK"),
          proxWeight = j.doubleOr(0.0, "prox_weight", "proxWeight"))
        require(s.topK >= 1, s"$ctx: top_k must be >= 1, got ${s.topK}")
        require(s.k1 >= 0 && s.b >= 0 && s.b <= 1,
          s"$ctx: need k1 >= 0 and b in [0, 1], got k1=${s.k1} b=${s.b}")
        require(s.proxWeight >= 0, s"$ctx: prox_weight must be >= 0, got ${s.proxWeight}")
        s
      },
      reads = b => Seq(b.qidCol, b.qtextCol),
      batchOnly = Some(runs("a per-query top-k rank window",
        "search in batch; the index itself is the at-rest artifact"))) { (b, _, df) =>
      Retrieval.bm25SearchIndex(df, b.qidCol, b.qtextCol, b.indexDir, b.k1, b.b,
        b.topK, b.proxWeight)
    },

    // Funnel analysis: the frame (an event log) becomes one row per
    // step — chained key-shaped min aggregates.
    op[FunnelSpec]("funnel")(
      decode = j => {
        val ctx = j.ctx
        val steps = j.req("steps")
        require(steps.isArray && steps.size() > 0,
          s"$ctx: steps must be a non-empty ARRAY of event names")
        val s = FunnelSpec(
          keyCol = j.str("key_col", "keyCol"),
          tsCol = j.str("ts_col", "tsCol"),
          eventCol = j.str("event_col", "eventCol"),
          steps = JsonCodec.strSeq(steps),
          window = j.optStr("window"),
          anchor = j.strOr("first", "anchor"))
        require(s.steps.distinct.size == s.steps.size,
          s"$ctx: steps must be distinct, got ${s.steps.mkString(", ")}")
        require(s.anchor == "first" || s.anchor == "every",
          s"$ctx: anchor must be 'first' or 'every', got '${s.anchor}'")
        s
      },
      reads = f => Seq(f.keyCol, f.tsCol, f.eventCol),
      batchOnly = Some(runs("chained per-step global counts",
        "run the funnel as a periodic batch job over the landed events"))) { (f, _, df) =>
      Relational.funnel(df, f.keyCol, f.tsCol, f.eventCol, f.steps, f.window, f.anchor)
    },

    // Range (point-in-interval) join against an intervals def: bucketed
    // equi-join, never a nested loop. Streaming-admissible on the point
    // side (stream-static join; the def is a batch frame by contract).
    op[RangeJoinSpec]("range_join", "rangeJoin")(
      decode = j => {
        val ctx = j.ctx
        val s = RangeJoinSpec(
          intervalsRef = j.str("intervals_ref", "intervalsRef"),
          pointCol = j.str("point_col", "pointCol"),
          loCol = j.str("lo_col", "loCol"),
          hiCol = j.str("hi_col", "hiCol"),
          bucket = j.double("bucket"),
          on = j.strs("on"),
          payload = j.strs("payload"),
          how = j.strOr("inner", "how"),
          inclusiveHi = j.flag(false, "inclusive_hi", "inclusiveHi"),
          broadcast = j.flag(false, "broadcast"),
          maxBucketsPerInterval =
            j.intOr(1 << 16, "max_buckets_per_interval", "maxBucketsPerInterval"))
        require(s.bucket > 0, s"$ctx: bucket must be > 0, got ${s.bucket}")
        require(s.how == "inner" || s.how == "left",
          s"$ctx: how must be 'inner' or 'left', got '${s.how}'")
        require(s.maxBucketsPerInterval >= 1,
          s"$ctx: max_buckets_per_interval must be >= 1, got ${s.maxBucketsPerInterval}")
        s
      },
      reads = r => r.pointCol +: r.on) { (r, c, df) =>
      val iv = c.ref("range_join.intervals_ref", r.intervalsRef, "the interval table")
      Relational.rangeJoinKeyed(df, iv, r.pointCol, r.loCol, r.hiCol, r.bucket,
        r.on, r.payload, r.how, r.inclusiveHi, r.broadcast, r.maxBucketsPerInterval)
    },

    // Interval-overlap join against a def: both sides explode to covering
    // cells, plain equi-join, exactly-once pair emission (later-start-cell
    // rule). Streaming-admissible on the frame side (stream-static join).
    op[OverlapJoinSpec]("overlap_join", "overlapJoin")(
      decode = j => {
        val ctx = j.ctx
        val s = OverlapJoinSpec(
          otherRef = j.str("other_ref", "otherRef", "ref"),
          loCol = j.str("lo_col", "loCol"),
          hiCol = j.str("hi_col", "hiCol"),
          bucket = j.double("bucket"),
          otherLoCol = j.optStr("other_lo_col", "otherLoCol"),
          otherHiCol = j.optStr("other_hi_col", "otherHiCol"),
          on = j.strs("on"),
          payload = j.strs("payload"),
          inclusive = j.flag(false, "inclusive"),
          broadcast = j.flag(false, "broadcast"),
          maxBucketsPerInterval =
            j.intOr(1 << 16, "max_buckets_per_interval", "maxBucketsPerInterval"),
          how = j.strOr("inner", "how"))
        require(s.bucket > 0, s"$ctx: bucket must be > 0, got ${s.bucket}")
        require(s.maxBucketsPerInterval >= 1,
          s"$ctx: max_buckets_per_interval must be >= 1, got ${s.maxBucketsPerInterval}")
        require(s.how == "inner" || s.how == "left",
          s"""$ctx: how must be "inner" or "left", got '${s.how}'""")
        s
      },
      reads = o => Seq(o.loCol, o.hiCol) ++ o.on) { (o, c, df) =>
      val other = c.ref("overlap_join.other_ref", o.otherRef, "the other interval table")
      if (o.how == "left")
        c.requireBatch("overlap_join how:\"left\"",
          "the NULL-payload pad side anti-joins over the matched output",
          "run the inner overlap over the stream and anti-screen the " +
            "landed batch instead")
      Relational.overlapJoin(df, other, o.loCol, o.hiCol, o.bucket,
        o.otherLoCol.orNull, o.otherHiCol.orNull, o.on, o.payload, o.inclusive,
        o.broadcast, o.maxBucketsPerInterval, o.how)
    },

    // Snapshot diff against an OLD-corpus def: one full-outer equi-join
    // on the keys — a full-outer join (and the notion of a complete
    // "previous snapshot") has no streaming plan.
    op[DiffSpec]("diff")(
      decode = j => {
        val ctx = j.ctx
        val s = DiffSpec(
          on = JsonCodec.strSeq(j.req("on")),
          otherRef = j.str("other_ref", "otherRef", "ref"),
          compare = j.strs("compare"),
          statusCol = j.strOr("diff_status", "status_col", "statusCol"),
          changedCol = j.strOr("changed_cols", "changed_col", "changedCol"),
          includeUnchanged = j.flag(false, "include_unchanged", "includeUnchanged"),
          carry = j.strOr("none", "carry"))
        require(s.on.nonEmpty, s"$ctx: 'on' needs at least one key column")
        require(s.carry == "none" || s.carry == "new",
          s"""$ctx: carry must be "none" or "new", got '${s.carry}' — the """ +
            "old side's values are reachable by diffing in the other " +
            "direction")
        require(s.statusCol != s.changedCol, s"$ctx: status_col and changed_col must differ")
        s
      },
      batchOnly = Some(runs("a full-outer join of two complete snapshots",
        "diff landed batches instead (the old snapshot is a def — " +
          "batch by contract)"))) { (d, c, df) =>
      val old = c.ref("diff.other_ref", d.otherRef, "the old snapshot")
      Relational.snapshotDiff(df, old, d.on, d.compare, d.statusCol, d.changedCol,
        d.includeUnchanged, carryNew = d.carry == "new")
    },

    // Apply a snapshot diff: the frame (the BASE snapshot) patches with a
    // delta def and becomes the NEW snapshot — ship the delta, never
    // re-copy the corpus.
    op[ApplyDiffSpec]("apply_diff", "applyDiff")(
      decode = j => {
        val ctx = j.ctx
        val s = ApplyDiffSpec(
          on = JsonCodec.strSeq(j.req("on")),
          deltaRef = j.str("delta_ref", "deltaRef", "ref"),
          statusCol = j.strOr("diff_status", "status_col", "statusCol"),
          changedCol = j.strOr("changed_cols", "changed_col", "changedCol"))
        require(s.on.nonEmpty, s"$ctx: 'on' needs at least one key column")
        require(s.statusCol != s.changedCol, s"$ctx: status_col and changed_col must differ")
        s
      },
      reads = a => a.on,
      batchOnly = Some(runs("a key-shaped anti-join against a complete delta",
        "apply deltas to the landed snapshot in batch"))) { (a, c, df) =>
      val delta = c.ref("apply_diff.delta_ref", a.deltaRef, "the delta")
      Relational.applyDiff(df, delta, a.on, a.statusCol, a.changedCol)
    },

    // Resample / gap-fill: per key, re-grid the event series onto a
    // regular step grid; empty buckets fill per policy.
    op[ResampleSpec]("resample")(
      decode = j => {
        val ctx = j.ctx
        val keys = j.req("key_cols", "keyCols", "keys")
        require(keys.isArray && keys.size() > 0,
          s"$ctx: key_cols must be a non-empty ARRAY of key columns")
        val s = ResampleSpec(
          keyCols = JsonCodec.strSeq(keys),
          tsCol = j.str("ts_col", "tsCol"),
          step = j.str("step"),
          aggs = JsonCodec.aggList(j.req("aggregations", "aggs")),
          fill = j.strOr("none", "fill"),
          maxBucketsPerKey = j.longOr(1L << 20, "max_buckets_per_key", "maxBucketsPerKey"))
        require(s.aggs.nonEmpty, s"$ctx: aggregations must be a non-empty list")
        require(Seq("none", "zero", "ffill").contains(s.fill),
          s"$ctx: fill must be none/zero/ffill, got '${s.fill}'")
        require(s.maxBucketsPerKey >= 1,
          s"$ctx: max_buckets_per_key must be >= 1, got ${s.maxBucketsPerKey}")
        s
      },
      reads = r => r.keyCols ++ Seq(r.tsCol) ++ r.aggs.filterNot(_.col == "*").map(_.col),
      batchOnly = Some(runs("per-key global [min, max] bounds",
        "on streams, use a windowed aggregate with watermark instead " +
          "and gap-fill the landed batch"))) { (r, _, df) =>
      val aggPairs = r.aggs.map { a =>
        (Compiler.aggColumn(a): Column,
          a.newName.getOrElse(s"${a.func}_${if (a.col == "*") "all" else a.col}"))
      }
      Relational.resample(df, r.keyCols, r.tsCol, r.step, aggPairs, r.fill,
        r.maxBucketsPerKey)
    },

    // Heavy hitters: the frame becomes its top-k most frequent keys from
    // one shuffle-free mergeable-sketch aggregate.
    op[ApproxTopKSpec]("approx_top_k", "approxTopK")(
      decode = j => {
        val s = ApproxTopKSpec(
          keyCol = j.str("key_col", "keyCol"),
          k = j.intOr(10, "k"),
          maxItemsTracked = j.intOr(10000, "max_items_tracked", "maxItemsTracked"))
        require(s.k >= 1, s"${j.ctx}: k must be >= 1, got ${s.k}")
        require(s.maxItemsTracked >= s.k,
          s"${j.ctx}: max_items_tracked (${s.maxItemsTracked}) must be >= k (${s.k})")
        s
      },
      reads = t => Seq(t.keyCol),
      batchOnly = Some(runs("a global sketch aggregate",
        "sketch per window on streams, or run over the landed batch"))) { (t, _, df) =>
      Relational.approxTopK(df, t.keyCol, t.k, t.maxItemsTracked)
    },

    // Unpivot (melt): wide → long via one Expand over the scan — zero
    // shuffles; the inverse of aggregate.pivot.
    op[UnpivotSpec]("unpivot")(
      decode = j => {
        val ids = j.req("ids", "id_cols")
        require(ids.isArray && ids.size() > 0,
          s"${j.ctx}: ids must be a non-empty ARRAY of id columns")
        val s = UnpivotSpec(
          ids = JsonCodec.strSeq(ids),
          values = j.strs("values", "value_cols"),
          varCol = j.strOr("variable", "var_col", "varCol"),
          valCol = j.strOr("value", "value_col", "valueCol"))
        require(s.varCol != s.valCol, s"${j.ctx}: var_col and value_col are both '${s.varCol}'")
        s
      },
      reads = u => u.ids ++ u.values) { (u, _, df) =>
      Relational.unpivot(df, u.ids, u.values, u.varCol, u.valCol)
    },

    // Per-row upsampling: scan-stage sequence explode — zero shuffles
    // (the repeat-k-epochs mixing half).
    op[UpsampleSpec]("upsample")(
      decode = j => UpsampleSpec(
        factorCol = j.str("factor_col", "factorCol"),
        copyCol = j.strOr("copy", "copy_col", "copyCol")),
      reads = u => Seq(u.factorCol)) { (u, _, df) =>
      Corpus.upsample(df, u.factorCol, u.copyCol)
    },

    // Ranking evaluation: the frame (a ranked result table) joins the
    // qrels def and becomes per-query quality metrics at cutoff k.
    op[RankingEvalSpec]("ranking_eval", "rankingEval")(
      decode = j => {
        val s = RankingEvalSpec(
          queryCol = j.str("query_col", "queryCol"),
          docCol = j.str("doc_col", "docCol"),
          rankCol = j.str("rank_col", "rankCol"),
          qrelsRef = j.str("qrels_ref", "qrelsRef"),
          k = j.intOr(10, "k"))
        require(s.k >= 1, s"${j.ctx}: k must be >= 1, got ${s.k}")
        s
      },
      reads = r => Seq(r.queryCol, r.docCol, r.rankCol),
      batchOnly = Some(runs("metric joins + aggregates",
        "evaluate in batch over the materialized result table"))) { (r, c, df) =>
      val qrels = c.ref("ranking_eval.qrels_ref", r.qrelsRef, "the judgment table")
      Retrieval.rankingEval(df, r.queryCol, r.docCol, r.rankCol, qrels, r.k)
    },

    // Reciprocal-rank fusion: the frame (a combine union of ranked
    // lists) becomes each query's fused top-k. One (query, doc)
    // aggregate + one rank window over top-k-shaped input.
    op[RrfFuseSpec]("rrf_fuse", "rrfFuse")(
      decode = j => {
        val s = RrfFuseSpec(
          queryCol = j.str("query_col", "queryCol"),
          docCol = j.str("doc_col", "docCol"),
          rankCol = j.str("rank_col", "rankCol"),
          topK = j.intOr(10, "top_k", "topK"),
          rrfK = j.intOr(60, "rrf_k", "rrfK"),
          weightCol = j.optStr("weight_col", "weightCol"))
        require(s.topK >= 1, s"${j.ctx}: top_k must be >= 1, got ${s.topK}")
        require(s.rrfK >= 0, s"${j.ctx}: rrf_k must be >= 0, got ${s.rrfK}")
        s
      },
      reads = r => Seq(r.queryCol, r.docCol, r.rankCol) ++ r.weightCol,
      batchOnly = Some(runs("a per-query top-k rank window",
        "fuse in batch over the materialized ranked lists"))) { (r, _, df) =>
      Retrieval.rrfFuse(df, r.queryCol, r.docCol, r.rankCol, r.topK, r.rrfK, r.weightCol)
    },

    // At-rest ANN index build: writes dir/centroids + dir/index
    // (partitioned by list) and the frame becomes the (list, n_vectors)
    // balance histogram — the tuning view for nlist/refine_rounds.
    op[AnnIndexSpec]("ann_index", "annIndex")(
      decode = j => {
        val ctx = j.ctx
        val mode = j.strOr("build", "mode")
        require(mode == "build" || mode == "append" || mode == "stats" ||
            mode == "compact",
          s"""$ctx: mode must be "build", "append", "stats" or "compact", got "$mode"""")
        // stats/compact only touch the artifact — the frame's columns never
        // enter, so a stated id_col/vec_col is a misunderstanding; reject
        val artifactOnly = mode == "stats" || mode == "compact"
        if (artifactOnly)
          Seq("id_col", "idCol", "vec_col", "vecCol").foreach { k =>
            require(j.opt(k).isEmpty,
              s"""$ctx: "$k" has no effect under mode "$mode" (it reads """ +
                "only the saved artifact) — remove it")
          }
        val pq = j.opt("pq")
        val s = AnnIndexSpec(
          idCol = if (artifactOnly) "" else j.str("id_col", "idCol"),
          vecCol = if (artifactOnly) "" else j.str("vec_col", "vecCol"),
          dir = j.str("dir"),
          nlist = j.intOr(16, "nlist"),
          refineRounds = j.intOr(0, "refine_rounds", "refineRounds"),
          mode = mode,
          pqM = pq.map(p => JsonCodec.int(JsonCodec.req(p, s"$ctx.pq", "m"), s"$ctx.pq.m")),
          pqK = pq.flatMap(p => JsonCodec.opt(p, "k"))
            .map(JsonCodec.int(_, s"$ctx.pq.k")).getOrElse(256),
          pqIters = pq.flatMap(p => JsonCodec.opt(p, "iters"))
            .map(JsonCodec.int(_, s"$ctx.pq.iters")).getOrElse(5),
          checkpoint = j.optStr("checkpoint"))
        requireCompactOnlyCheckpoint(ctx, s.mode, s.checkpoint)
        // append assigns to the SAVED centroids — a stated fit parameter
        // would silently not refit; reject the contradiction by name. The
        // same applies to pq: appends encode with the SAVED codebooks.
        require(s.mode == "build" || (j.opt("nlist").isEmpty &&
            j.opt("refine_rounds", "refineRounds").isEmpty && pq.isEmpty),
          s"""$ctx: nlist/refine_rounds/pq have no effect under mode "${s.mode}" """ +
            "(the saved centroids and codebooks are not refit) — remove " +
            """them, or rebuild with mode "build"""")
        require(s.nlist >= 1 && s.nlist <= 65536,
          s"$ctx: nlist must be in [1, 65536], got ${s.nlist}")
        require(s.refineRounds >= 0 && s.refineRounds <= 64,
          s"$ctx: refine_rounds must be in [0, 64], got ${s.refineRounds}")
        s.pqM.foreach { m =>
          require(m >= 1 && m <= 256, s"$ctx.pq: m must be in [1, 256], got $m")
          require(s.pqK >= 1 && s.pqK <= 256, s"$ctx.pq: k must be in [1, 256], got ${s.pqK}")
          require(s.pqIters >= 0 && s.pqIters <= 64,
            s"$ctx.pq: iters must be in [0, 64], got ${s.pqIters}")
        }
        s
      },
      // stats/compact modes read only the artifact — no frame columns
      reads = a => if (a.mode == "stats" || a.mode == "compact") Nil else Seq(a.idCol, a.vecCol),
      batchOnly = Some(runs("centroid-fit actions and an index write",
        "build the index in batch; search streams of queries instead"))) { (a, _, df) =>
      val s = df.sparkSession
      if (a.mode == "stats")
        // health view only — no write, the frame is discarded: the one-row
        // (n_lists, n_empty_lists, n_vectors, max_list_n, mean_list_n,
        // skew) gauge that decides rebuild-vs-append
        Similarity.annIndexStats(s, a.dir)
      else {
        if (a.mode == "compact")
          // defragment the appended artifact (one file per list); the
          // frame is discarded and becomes the post-compact histogram
          Similarity.compactAnnIndex(s, a.dir, Artifacts.committedFoldCeiling(s, a.checkpoint))
        else if (a.mode == "append")
          Similarity.appendAnnIndex(s, df, a.idCol, a.vecCol, a.dir)
        else
          Similarity.saveAnnIndex(s, df, a.idCol, a.vecCol, a.dir, a.nlist,
            a.refineRounds, a.pqM.map(m => (m, a.pqK)), a.pqIters)
        s.read.parquet(s"${a.dir}/index")
          .groupBy(col("list")).agg(count(lit(1)).as("n_vectors"))
      }
    },

    // Generic quantile-threshold selection: keep the ~keep_n best rows
    // by any numeric column — one sketch pass derives the cut, the keep
    // is a pushed-down predicate.
    op[QuantileFilterSpec]("quantile_filter", "quantileFilter")(
      decode = j => {
        val s = QuantileFilterSpec(
          col = j.str("col"),
          keepN = j.long("keep_n", "keepN"),
          descending = j.flag(true, "descending"),
          relativeError = j.doubleOr(1e-4, "relative_error", "relativeError"))
        require(s.keepN >= 1, s"${j.ctx}: keep_n must be >= 1, got ${s.keepN}")
        require(s.relativeError >= 0 && s.relativeError < 1,
          s"${j.ctx}: relative_error must be in [0, 1), got ${s.relativeError}")
        s
      },
      reads = q => Seq(q.col),
      batchOnly = Some(runs("a quantile-sketch pass over the frame",
        "derive the cut in batch and apply it as a plain filter on the stream"))) {
      (q, _, df) => Corpus.quantileFilter(df, q.col, q.keepN, q.descending, q.relativeError)
    },

    // Scan-stage semantic probe against a saved index: each row gains
    // (score_col, flag_col) from one codegen kernel call — zero joins,
    // zero shuffles (the semantic-decontamination gate on a live ingest).
    op[AnnProbeSpec]("ann_probe", "annProbe")(
      decode = j => {
        val s = AnnProbeSpec(
          vecCol = j.str("vec_col", "vecCol"),
          indexDir = j.str("index_dir", "indexDir"),
          threshold = j.double("threshold"),
          scoreCol = j.strOr("ann_score", "score_col", "scoreCol"),
          flagCol = j.strOr("ann_match", "flag_col", "flagCol"))
        require(s.threshold >= -1.0 && s.threshold <= 1.0,
          s"${j.ctx}: threshold must be in [-1, 1], got ${s.threshold}")
        require(s.scoreCol != s.flagCol,
          s"${j.ctx}: score_col and flag_col must differ, both are '${s.scoreCol}'")
        s
      },
      reads = a => Seq(a.vecCol)) { (a, _, df) =>
      Similarity.annProbeIndex(df, a.vecCol, a.indexDir, a.threshold, a.scoreCol, a.flagCol)
    },

    // ANN search against a saved index: the frame (the query set)
    // becomes (id_col, match_id, score, rank).
    op[AnnSearchSpec]("ann_search", "annSearch")(
      decode = j => {
        val ctx = j.ctx
        val s = AnnSearchSpec(
          idCol = j.str("id_col", "idCol"),
          vecCol = j.str("vec_col", "vecCol"),
          indexDir = j.str("index_dir", "indexDir"),
          k = j.intOr(10, "k"),
          nprobe = j.intOr(4, "nprobe"),
          allowRef = j.optStr("allow_ref", "allowRef"),
          allowIdCol = j.strOr("id", "allow_id_col", "allowIdCol"))
        require(s.k >= 1, s"$ctx: k must be >= 1, got ${s.k}")
        require(s.nprobe >= 1, s"$ctx: nprobe must be >= 1, got ${s.nprobe}")
        require(s.idCol != "match_id",
          s"$ctx: rename the query id column — 'match_id' names the index side")
        require(s.allowRef.nonEmpty || j.opt("allow_id_col", "allowIdCol").isEmpty,
          s"$ctx: allow_id_col has no effect without allow_ref — remove it " +
            "or name the allow-list def")
        s
      },
      reads = a => Seq(a.idCol, a.vecCol),
      batchOnly = Some(runs("a per-query top-k rank window",
        "search in batch; the index itself is the at-rest artifact"))) { (a, c, df) =>
      val allowed = a.allowRef.map(r => c.ref("ann_search.allow_ref", r, "the allow-list"))
      Similarity.annSearchIndex(df, a.idCol, a.vecCol, a.indexDir, a.k, a.nprobe,
        allowed, a.allowIdCol)
    },

    // Tar sharding: the frame becomes (shard, tar, n_members, tar_bytes).
    // One grouped aggregate — batch or stream (a streaming compile needs
    // an aggregate-admitting output mode downstream).
    op[TarPackSpec]("tar_pack", "tarPack")(
      decode = j => TarPackSpec(
        nameCol = j.str("name_col", "nameCol"),
        payloadCol = j.str("payload_col", "payloadCol"),
        shards = j.int("shards")),
      reads = t => Seq(t.nameCol, t.payloadCol)) { (t, _, df) =>
      Tar.tarShards(df, t.nameCol, t.payloadCol, t.shards)
    },

    // Shard-set compaction: the frame (one row per landed archive, e.g.
    // a tar_pack_ingest output dir) becomes the re-packed shards — a
    // maintenance pass over landed data, not a per-batch transform.
    op[TarCompactSpec]("tar_compact", "tarCompact")(
      decode = j => TarCompactSpec(
        tarCol = j.strOr("tar", "tar_col", "tarCol"),
        shards = j.int("shards"),
        batchCol = j.optStr("batch_col", "batchCol")),
      reads = t => t.tarCol +: t.batchCol.toSeq,
      batchOnly = Some(runs("a whole-history member re-pack",
        "run it as a batch maintenance pass over the landed ingest dir"))) { (t, _, df) =>
      Tar.tarCompact(df, t.tarCol, t.shards, t.batchCol)
    },

    // Training-sequence packing: the frame becomes (shard, seq, ids,
    // n_tokens) — per-shard EOS-separated concatenation sliced every
    // seq_len tokens.
    op[SequencePackSpec]("sequence_pack", "sequencePack")(
      decode = j => {
        val ctx = j.ctx
        val sp = SequencePackSpec(
          idCol = j.str("id_col", "idCol"),
          idsCol = j.str("ids_col", "idsCol"),
          seqLen = j.int("seq_len", "seqLen"),
          eosId = j.intOr(0, "eos_id", "eosId"),
          shards = j.intOr(1, "shards"),
          dropLast = j.flag(true, "drop_last", "dropLast"),
          mode = j.strOr("split", "mode"),
          withBounds = j.flag(false, "with_bounds", "withBounds"),
          padId = j.intOr(-1, "pad_id", "padId"))
        require(sp.seqLen >= 2, s"$ctx: seq_len must be >= 2")
        require(sp.mode == "split" || sp.mode == "whole" || sp.mode == "best_fit",
          s"""$ctx: mode must be "split", "whole" or "best_fit", """ +
            s"""got "${sp.mode}"""")
        // best_fit always keeps every (short) window — an explicit
        // drop_last: false is the only detectable reliance on the key,
        // and silently honoring the DEFAULT true would be worse: reject
        // the stated contradiction by name instead of no-opping it.
        require(!(sp.mode == "best_fit" &&
            j.opt("drop_last", "dropLast").exists(!_.asBoolean(true))),
          s"""$ctx: drop_last has no effect under mode "best_fit" """ +
            "(best-fit-decreasing keeps every window and pads instead) — " +
            "remove the key, or use mode \"split\"/\"whole\" to drop tails")
        sp
      },
      batchOnly = Some(runs("a per-shard running-offset window",
        "pack in batch over landed micro-batch output instead"))) { (p, _, df) =>
      Pack.sequencePack(df, p.idCol, p.idsCol, p.seqLen, p.eosId, p.shards,
        p.dropLast, p.mode, p.withBounds, p.padId)
    },

    // Winnowed fingerprinting: the frame becomes the compacted index
    // (scan-stage selection) or the shared-fingerprint pair list.
    op[WinnowSpec]("winnow")(
      decode = j => WinnowSpec(
        idCol = j.str("id_col", "idCol"),
        textCol = j.str("text_col", "textCol"),
        windowTokens = j.intOr(50, "window_tokens", "windowTokens"),
        winnowWindow = j.intOr(8, "winnow_window", "winnowWindow"),
        output = j.optStr("output").map {
          case o @ ("index" | "pairs") => o
          case other => throw new IllegalArgumentException(
            s"""${j.ctx}: output must be "index" or "pairs" — got "$other"""")
        }.getOrElse("index"),
        minShared = j.intOr(1, "min_shared", "minShared")),
      reads = w => Seq(w.idCol, w.textCol)) { (w, c, df) =>
      if (w.output == "pairs") {
        // self-join + aggregate: not streaming-admissible
        c.requireBatch("winnow (pairs)", "a self-join + aggregate",
          "use output=index in batch and probe the stream with " +
            "winnow_probe instead")
        Dedup.winnowCandidatePairs(df, w.idCol, w.textCol, w.windowTokens,
          w.winnowWindow, w.minShared)
      } else Dedup.winnowIndex(df, w.idCol, w.textCol, w.windowTokens, w.winnowWindow)
    },

    // Scan-stage winnow probe: the Bloom over the persisted compacted
    // index builds ONCE at compile (batch read) — the probed frame
    // never shuffles.
    op[WinnowProbeSpec]("winnow_probe", "winnowProbe")(
      decode = j => WinnowProbeSpec(
        textCol = j.str("text_col", "textCol"),
        indexDir = j.str("index_dir", "indexDir"),
        windowTokens = j.intOr(50, "window_tokens", "windowTokens"),
        winnowWindow = j.intOr(8, "winnow_window", "winnowWindow"),
        minShared = j.intOr(2, "min_shared", "minShared"),
        matchedCol = j.strOr("matched_fps", "matched_col", "matchedCol"),
        flagCol = j.strOr("near_dup", "flag_col", "flagCol"),
        expectedKeys = j.longOr(1L << 22, "expected_keys", "expectedKeys"),
        fpp = j.doubleOr(0.01, "fpp")),
      reads = w => Seq(w.textCol)) { (w, c, df) =>
      Dedup.winnowProbeBloom(df, w.textCol, c.spark.read.parquet(w.indexDir),
        w.windowTokens, w.winnowWindow, w.minShared, w.matchedCol, w.flagCol,
        w.expectedKeys, w.fpp)
    },

    // WebDataset sample grouping: the frame becomes (sample_key,
    // n_files, exts, payload_bytes). One grouped aggregate.
    op[WdsSamplesSpec]("wds_samples", "wdsSamples")(
      decode = j => WdsSamplesSpec(
        nameCol = j.str("name_col", "nameCol"),
        dataCol = j.str("data_col", "dataCol")),
      reads = w => Seq(w.nameCol, w.dataCol)) { (w, _, df) =>
      Tar.wdsSamples(df, w.nameCol, w.dataCol)
    },

    // Artifact-loaded DSIR scoring: the log-ratio table loads ONCE at
    // compile (bounded metadata) — scan-stage.
    op[DsirScoreSpec]("dsir_score", "dsirScore")(
      decode = j => DsirScoreSpec(
        modelDir = j.str("model_dir", "modelDir"),
        textCol = j.str("text_col", "textCol")),
      reads = d => Seq(d.textCol)) { (d, c, df) =>
      Corpus.dsirScore(df, d.textCol, Corpus.loadDsirModel(c.spark, d.modelDir))
    },

    // Deterministic split: adds the bucket-name column (scan-stage
    // arithmetic, no shuffle); downstream keys filter/aggregate on it.
    op[SplitSpec]("split")(
      decode = j => {
        val buckets = j.req("buckets")
        require(buckets.isArray && buckets.size() > 0,
          s"${j.ctx}.buckets must be a non-empty ARRAY of " +
            """{"name": ..., "weight": ...} (order defines the boundaries)""")
        val named = (0 until buckets.size()).map { i =>
          val b = buckets.get(i)
          (JsonCodec.req(b, s"${j.ctx}.buckets[$i]", "name").asText,
            JsonCodec.req(b, s"${j.ctx}.buckets[$i]", "weight").asDouble)
        }
        SplitSpec(
          idCol = j.str("id_col", "idCol"),
          buckets = named,
          splitCol = j.strOr("split", "split_col", "splitCol"))
      },
      reads = s => Seq(s.idCol)) { (s, _, df) =>
      Corpus.hashSplit(df, s.idCol, s.buckets, s.splitCol)
    },

    // HTML extraction: the frame becomes (id, title, body_text, links).
    op[HtmlExtractSpec]("html_extract", "htmlExtract")(
      decode = j => HtmlExtractSpec(
        idCol = j.str("id_col", "idCol"),
        htmlCol = j.str("html_col", "htmlCol")),
      reads = h => Seq(h.idCol, h.htmlCol)) { (h, _, df) =>
      TextAnalysis.htmlExtract(df, h.idCol, h.htmlCol)
    },

    // PDF extraction: the frame becomes (id, version, n_pages, text).
    op[PdfExtractSpec]("pdf_extract", "pdfExtract")(
      decode = j => PdfExtractSpec(
        idCol = j.str("id_col", "idCol"),
        pdfCol = j.str("pdf_col", "pdfCol")),
      reads = p => Seq(p.idCol, p.pdfCol)) { (p, _, df) =>
      TextAnalysis.pdfExtract(df, p.idCol, p.pdfCol)
    },

    // Per-column profile: the frame becomes the stats rows. Under
    // compileStream the ROOT node's profile becomes the per-batch drift
    // monitor instead (stripped before the node walk), so a profile
    // reaching a streaming walk is mid-pipeline → named error.
    op[ProfileSpec]("profile")(
      decode = j => {
        val cols = j.req("columns")
        require(cols.isArray && cols.size() > 0,
          s"${j.ctx}.columns must be a non-empty ARRAY of column names")
        ProfileSpec(
          columns = (0 until cols.size()).map(i => cols.get(i).asText),
          approx = j.flag(false, "approx"),
          groupCols = j.strs("group_cols", "groupCols"))
      },
      reads = p => p.columns,
      batchOnly = Some("under a streaming compile must sit on " +
        "the ROOT node, where foreachBatch appends one stats row set " +
        "per micro-batch (the ingest drift monitor); a mid-pipeline " +
        "streaming profile would need a global aggregate")) { (p, _, df) =>
      Relational.profile(df, p.columns, p.approx, p.groupCols)
    },

    // Temperature resampling: the frame becomes the sampled subset
    // (schema unchanged). The per-group rates need a count action.
    op[TemperatureSampleSpec]("temperature_sample", "temperatureSample")(
      decode = j => TemperatureSampleSpec(
        groupCol = j.str("group_col", "groupCol"),
        idCol = j.str("id_col", "idCol"),
        targetFraction = j.double("target_fraction", "targetFraction"),
        alpha = j.doubleOr(0.5, "alpha")),
      reads = t => Seq(t.groupCol, t.idCol),
      batchOnly = Some(runs())) { (t, _, df) =>
      Corpus.temperatureSample(df, t.groupCol, t.idCol, t.targetFraction, t.alpha)
    },

    // Token-budget mixture sampling: the frame becomes the budget-prefix
    // subset (schema unchanged). The per-(group, bucket) sums need an
    // action.
    op[TokenBudgetSampleSpec]("token_budget_sample", "tokenBudgetSample")(
      decode = j => {
        val ctx = j.ctx
        val budgets = j.opt("budgets")
        val weights = j.opt("weights")
        require(budgets.isDefined != weights.isDefined,
          s"$ctx: exactly one of budgets (group -> tokens) or weights " +
            "(+ total_budget) must be given")
        budgets.foreach(b => require(b.isObject && b.size() > 0,
          s"$ctx: budgets must be a non-empty OBJECT of group -> token count"))
        weights.foreach(w => require(w.isObject && w.size() > 0,
          s"$ctx: weights must be a non-empty OBJECT of group -> weight"))
        val spec = TokenBudgetSampleSpec(
          groupCol = j.str("group_col", "groupCol"),
          idCol = j.str("id_col", "idCol"),
          tokensCol = j.str("tokens_col", "tokensCol"),
          budgets = budgets.map(b =>
            JsonCodec.fields(b).map { case (k, v) =>
              (k, JsonCodec.long(v, s"$ctx.budgets.$k")) }).getOrElse(Seq.empty),
          weights = weights.map(w =>
            JsonCodec.fields(w).map { case (k, v) => (k, v.asDouble) }).getOrElse(Seq.empty),
          totalBudget = j.longOr(0L, "total_budget", "totalBudget"),
          overshoot = j.flag(true, "overshoot"),
          orderCol = j.optStr("order_col", "orderCol"),
          descending = j.flag(true, "descending"))
        if (spec.weights.nonEmpty) require(spec.totalBudget >= 1,
          s"$ctx: weights need a total_budget >= 1 (tokens to split across " +
            "the mixture)")
        spec
      },
      reads = t => Seq(t.groupCol, t.idCol, t.tokensCol) ++ t.orderCol,
      batchOnly = Some(runs("a bucket-sum action per group",
        "land the stream and budget-sample in batch instead"))) { (t, _, df) =>
      val budgets =
        if (t.budgets.nonEmpty) t.budgets
        else Corpus.budgetsFromWeights(t.weights, t.totalBudget)
      Corpus.tokenBudgetSample(df, t.groupCol, t.idCol, t.tokensCol, budgets,
        t.overshoot, t.orderCol, t.descending)
    },

    // Global shuffle: the frame gains (shard, shuffle_pos); the per-shard
    // rank window has no streaming semantics (a stream's training order
    // is its arrival order).
    op[GlobalShuffleSpec]("global_shuffle", "globalShuffle")(
      decode = j => GlobalShuffleSpec(
        idCol = j.str("id_col", "idCol"),
        shards = j.int("shards"),
        seed = j.longOr(0L, "seed")),
      reads = g => Seq(g.idCol),
      batchOnly = Some("ranks the whole corpus per shard — batch-only; a " +
        "stream has no global permutation")) { (g, _, df) =>
      Corpus.globalShuffle(df, g.idCol, g.shards, g.seed)
    },

    // Boilerplate line removal: the frame becomes (id, clean_text,
    // kept_lines, dropped_lines). Plan-only composition (two bounded
    // aggregates + a broadcast hot-set join).
    op[BoilerplateSpec]("boilerplate")(
      decode = j => BoilerplateSpec(
        idCol = j.str("id_col", "idCol"),
        textCol = j.str("text_col", "textCol"),
        maxDocs = j.long("max_docs", "maxDocs"),
        sep = j.strOr("\n", "sep"),
        byHash = j.flag(true, "by_hash", "byHash")),
      reads = b => Seq(b.idCol, b.textCol)) { (b, _, df) =>
      Corpus.removeBoilerplateLines(df, b.idCol, b.textCol, b.maxDocs, b.sep, b.byHash)
    },

    // Multimodal featurize: the frame becomes (media_id, format, width,
    // height, n_bytes, features). Decoders are NAMED (a JSON config can't
    // carry a closure) — the Scala API takes arbitrary functions.
    op[FeaturizeSpec]("featurize")(
      decode = j => FeaturizeSpec(
        idCol = j.str("id_col", "idCol"),
        payloadCol = j.str("payload_col", "payloadCol"),
        decoder = j.strOr("media", "decoder")),
      reads = f => Seq(f.idCol, f.payloadCol)) { (f, c, df) =>
      val decoder: Array[Byte] => Array[Float] = f.decoder match {
        case "media" => Codecs.mediaFeatures
        case "stub"  => Multimodal.decodeStub
        case other => throw new IllegalArgumentException(
          s"node ${c.nodeId}: unknown featurize decoder '$other' (one of: media, stub)")
      }
      // one sweep: header parse + decode from the same bytes — no
      // self-join (which would execute the payload subtree twice)
      Multimodal.parseAndFeaturize(df, f.idCol, f.payloadCol, decoder)
        .select(col("media_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.n_bytes").as("n_bytes"), col("features"))
    },

    // ---- after the operators ----

    // Note the reference quirk kept intentionally: the parent aggregates
    // BEFORE joining children, so joins run on aggregated-parent ×
    // aggregated-child (SURVEY §3 EP2 step 6).
    step[AggregateSpec]("aggregate", "aggregation")(
      decode = aggregateObject,
      reads = a => a.groupBy ++ a.keep ++ a.sets.flatten ++ a.pivot.map(_.col) ++
        a.aggs.filterNot(_.col == "*").map(_.col)) { (a, _, s) =>
      Compiler.aggregate(s, a)
    }.copy(read = n =>
      if (n.opt("aggregate", "aggregation").isEmpty && aggregates(n)) Some(flatAggregate(n))
      else keyRead(Seq("aggregate", "aggregation"), aggregateObject)(n)),

    step[RenameSpec]("rename")(decode = j => some(exprs(j)).map(RenameSpec)) { (r, _, s) =>
      s.rename(r.pairs)
    },

    step[WithColumnsSpec]("with_columns", "withColumns")(
      decode = j => some(exprs(j)).map(WithColumnsSpec)) { (w, _, s) =>
      s.withColumns(w.cols.map { case (c, e) => c -> expr(e) })
    },

    // post_filters: the curation slot — unlike `filters` (pre-operator),
    // these see every operator/with_columns output (score, near_dup,
    // n_bpe, …), so one config can score-then-drop. Plain row filters:
    // batch AND streaming admissible.
    step[PostFiltersSpec]("post_filters", "postFilters")(
      decode = j => some(filterItems(j)).map(PostFiltersSpec)) { (f, _, s) =>
      f.filters.foreach(x => s.filter(Compiler.filterColumn(x)))
    },

    // expect: row-level data contracts (the CHECK-constraint shape every
    // lakehouse engine uses): each rule compiles to a filter that is
    // TRUE for passing rows and raise_error for violations — the check
    // rides the scan/projection stages (zero extra passes over 100 TB;
    // batch AND streaming admissible), unlike an action-based validator
    // which would double-scan. A violation fails the job loudly with
    // the rule name. Plan-dependence caveat (documented in USAGE):
    // Catalyst may evaluate a pushed-down contract on rows a later join
    // would have dropped — express join-dependent contracts on the
    // parent node after its children.
    //
    // NULL semantics — STRICTER than SQL CHECK, deliberately: a rule
    // that evaluates to NULL (e.g. `score > 0` on a NULL score) is a
    // VIOLATION, not a pass. SQL CHECK's pass-on-UNKNOWN is the wrong
    // default for a data contract — the rows it silently waves through
    // are exactly the damaged ones. A contract that should tolerate
    // NULLs says so explicitly: `score IS NULL OR score > 0`.
    // Documented in USAGE.md's `expect` row; tested in CompilerSpec.
    step[ExpectSpec]("expect")(
      decode = j => some(rules(j, JsonCodec.fields(j.json))).map(ExpectSpec)) { (x, _, s) =>
      x.rules.foreach { case (name, e) =>
        s.filter(when(expr(e), lit(true)).otherwise(raise_error(
          lit(s"expectation '$name' violated: $e"))))
      }
    },

    // expect_report: the AUDIT twin of `expect` — instead of failing on
    // the first violation, the frame becomes one row per rule with its
    // violation count: (rule, n_violations, n_rows). Same deliberate
    // NULL-is-violation semantics (violation ⇔ NOT coalesce(rule, false)
    // — the fail mode's contrapositive), so the two modes always agree
    // on WHICH rows are bad. ONE map-side-combined aggregate pass over
    // the frame, then a rules-sized in-row explode — no per-rule scans.
    // Batch-only by name (a global aggregate has no append-mode plan);
    // on a streaming ROOT compileStream runs it as the per-batch monitor.
    // "group_cols" is RESERVED (a rule cannot take that name): per-slice
    // scorecards — counts per group value.
    step[ExpectReportSpec]("expect_report", "expectReport")(
      decode = j => {
        val (gs, rs) = JsonCodec.fields(j.json)
          .partition(f => f._1 == "group_cols" || f._1 == "groupCols")
        val rls = rules(j, rs)
        val groups = gs.map { case (k, v) =>
          require(v.isArray, s"${j.ctx}.$k must be an ARRAY of columns")
          JsonCodec.strSeq(v)
        }
        require(groups.size <= 1, s"${j.ctx}: give group_cols OR groupCols, not both")
        if (groups.flatten.nonEmpty && rls.isEmpty)
          throw new IllegalArgumentException(
            s"${j.ctx} has group_cols but no rules — declare at least one " +
              "rule_name: \"expr\" entry")
        some(rls).map(ExpectReportSpec(_, groups.flatten))
      },
      batchOnly = Some(runs("a global violation-count aggregate",
        "declare expect_report on the streaming ROOT instead — it becomes " +
          "the per-batch contract monitor (batch_id-stamped scorecard " +
          "rows appended to the path sink)"))) { (r, _, s) =>
      s.through(Relational.expectReport(_, r.rules, r.groupCols))
    },

    step[DropSpec]("drop")(decode = j => some(JsonCodec.strSeq(j.json)).map(DropSpec)) {
      (d, c, s) =>
        s.through { df =>
          // DataFrame.drop silently ignores unknown names — a typo'd drop
          // would leave the column in the sink with no diagnostic; fail
          // loud instead
          val missing = d.cols.filterNot(df.columns.contains)
          if (missing.nonEmpty)
            throw new IllegalArgumentException(
              s"node ${c.nodeId}: drop references unknown columns: ${missing.mkString(", ")}")
          df.drop(d.cols: _*)
        }
    },

    step[BitemporalSpec]("bitemporal")(
      // `true` stamps the defaults; `false` is no step
      decode = j =>
        if (j.json.isBoolean) Some(BitemporalSpec()).filter(_ => j.json.asBoolean)
        else Some(BitemporalSpec(
          validFrom = j.strOr("2024-01-01", "valid_from"),
          validTo = j.strOr("9999-12-31", "valid_to"),
          fromCol = j.strOr("valid_from", "from_col", "fromCol"),
          toCol = j.strOr("valid_to", "to_col", "toCol")))) { (b, _, s) =>
      s.withColumns(Seq(b.fromCol -> lit(b.validFrom), b.toCol -> lit(b.validTo)))
    },

    step[ChildrenSpec]("children")(
      decode = j => some(JsonCodec.elems(j.json).map(child(j.nodeId, _))).map(ChildrenSpec)) {
      (cs, c, s) => cs.children.foreach(joinChild(c, s, _))
    },

    step[CompactSpec]("compact")(
      decode = j => Some(CompactSpec(
        keys = JsonCodec.strSeq(j.req("keys")),
        versionOrder = j.strs("version_order", "versionOrder"),
        deleteWhen = j.optStr("delete_when", "deleteWhen")))) { (k, c, s) =>
      if (k.versionOrder.isEmpty) throw new IllegalArgumentException(
        s"node ${c.nodeId}: compact needs version_order (recency first, " +
          "e.g. [\"ts desc\", \"seq desc\"])")
      s.through(compact(c, k, _))
    },

    // Running totals after compact (totals over the compacted snapshot,
    // if both are set), before top_k/order_by. The same node key streams:
    // flatMapGroupsWithState compiles under readStream inputs with two
    // longs of state per key, and the batch compile of one spec equals
    // the window formulation exactly (StreamingSpec).
    step[RunningTotalsSpec]("running_totals", "runningTotals")(
      decode = j => Some(RunningTotalsSpec(
        keyCol = j.str("key_col", "keyCol"),
        seqCol = j.str("seq_col", "seqCol"),
        tsCol = j.str("ts_col", "tsCol"),
        valueCol = j.str("value_col", "valueCol")))) { (r, _, s) =>
      s.through(graft.streaming.Streaming.runningTotals(
        _, r.keyCol, r.seqCol, r.tsCol, r.valueCol))
    },

    step[TopKSpec]("top_k", "topK")(
      decode = j => Some(TopKSpec(
        partitionBy = j.strs("partition_by", "partitionBy"),
        orderBy = j.strs("order_by", "orderBy"),
        k = JsonCodec.nonNegInt(j.req("k"), s"${j.ctx}.k"),
        rankCol = j.strOr("rn", "rank_col", "rankCol")))) { (t, _, s) =>
      s.through(Relational.topKPerGroup(
        _, t.partitionBy, t.orderBy.map(Compiler.sortColumn), t.k, t.rankCol))
    },

    step[OrderBySpec]("order_by", "orderBy")(
      decode = j => some(JsonCodec.strSeq(j.json)).map(OrderBySpec)) { (o, _, s) =>
      s.orderBy(o.cols.map(Compiler.sortColumn))
    },

    step[LimitSpec]("limit")(
      decode = j => Some(LimitSpec(JsonCodec.nonNegInt(j.json, j.ctx)))) { (l, _, s) =>
      s.limit(l.n)
    },

    // ---- streaming root sinks (continuous ingestion; each foreachBatch
    // IS the sink, replacing the root save) ----

    sink[NearDupIngestSpec]("near_dup_ingest", "nearDupIngest",
        "use the dedup/near-dup pipeline operators")(j =>
      NearDupIngestSpec(
        idCol = j.str("id_col", "idCol"),
        textCol = j.str("text_col", "textCol"),
        corpusDir = j.str("corpus_dir", "corpusDir"),
        indexDir = j.str("index_dir", "indexDir"),
        checkpointDir = j.str("checkpoint_dir", "checkpointDir"),
        shingleSize = j.intOr(3, "shingle_size", "shingleSize"),
        numHashes = j.intOr(64, "num_hashes", "numHashes"),
        bands = j.intOr(16, "bands"),
        threshold = j.doubleOr(0.5, "threshold"),
        compactEvery = ingestCompactEvery(j))) { (i, out) =>
      graft.streaming.Streaming.nearDupIngest(out, i.idCol, i.textCol, i.corpusDir,
        i.indexDir, i.checkpointDir, i.shingleSize, i.numHashes, i.bands,
        i.threshold, i.compactEvery)
    },

    sink[PassageIngestSpec]("passage_ingest", "passageIngest",
        "use passage_dedup / stripPassagesAgainstCorpus")(j =>
      PassageIngestSpec(
        idCol = j.str("id_col", "idCol"),
        textCol = j.str("text_col", "textCol"),
        corpusDir = j.str("corpus_dir", "corpusDir"),
        indexDir = j.str("index_dir", "indexDir"),
        checkpointDir = j.str("checkpoint_dir", "checkpointDir"),
        windowTokens = j.intOr(50, "window_tokens", "windowTokens"),
        compactEvery = ingestCompactEvery(j))) { (i, out) =>
      graft.streaming.Streaming.passageIngest(out, i.idCol, i.textCol, i.corpusDir,
        i.indexDir, i.checkpointDir, i.windowTokens, i.compactEvery)
    },

    sink[TarPackIngestSpec]("tar_pack_ingest", "tarPackIngest", "use tar_pack")(j =>
      TarPackIngestSpec(
        nameCol = j.str("name_col", "nameCol"),
        payloadCol = j.str("payload_col", "payloadCol"),
        shards = j.int("shards"),
        outDir = j.str("out_dir", "outDir"),
        checkpointDir = j.str("checkpoint_dir", "checkpointDir"),
        trigger = j.optStr("trigger"))) { (t, out) =>
      graft.streaming.Streaming.shardPackStream(out, t.nameCol, t.payloadCol,
        t.shards, t.outDir, t.checkpointDir, t.trigger)
    },

    sink[ExactIngestSpec]("exact_ingest", "exactIngest",
        "use derive + dedup, or seen_filter against the persisted index")(j => {
      val s = ExactIngestSpec(
        idCol = j.str("id_col", "idCol"),
        keyCols = JsonCodec.strSeq(j.req("key_cols", "keyCols")),
        corpusDir = j.str("corpus_dir", "corpusDir"),
        indexDir = j.str("index_dir", "indexDir"),
        checkpointDir = j.str("checkpoint_dir", "checkpointDir"),
        compactEvery = ingestCompactEvery(j))
      require(s.keyCols.nonEmpty, s"${j.ctx}: key_cols must be non-empty")
      s
    }) { (e, out) =>
      graft.streaming.Streaming.exactIngest(out, e.idCol, e.keyCols, e.corpusDir,
        e.indexDir, e.checkpointDir, e.compactEvery)
    },

    sink[SketchIngestSpec]("sketch_ingest", "sketchIngest",
        "aggregate approx_top_k_accumulate / hll_sketch_agg and save — " +
          "the q237/q238 pattern")(j => {
      val s = SketchIngestSpec(
        keyCol = j.str("key_col", "keyCol"),
        outDir = j.str("out_dir", "outDir"),
        checkpointDir = j.str("checkpoint_dir", "checkpointDir"),
        maxItemsTracked = j.intOr(10000, "max_items_tracked", "maxItemsTracked"),
        lgK = j.intOr(12, "lg_k", "lgK"),
        groupCols = j.strs("group_cols", "groupCols"))
      require(s.maxItemsTracked >= 1,
        s"${j.ctx}: max_items_tracked must be >= 1, got ${s.maxItemsTracked}")
      require(s.lgK >= 4 && s.lgK <= 21, s"${j.ctx}: lg_k must be in [4, 21], got ${s.lgK}")
      require(!s.groupCols.contains(s.keyCol),
        s"${j.ctx}: key_col '${s.keyCol}' cannot also be a group column")
      s
    }) { (s, out) =>
      graft.streaming.Streaming.sketchIngest(out, s.keyCol, s.outDir,
        s.checkpointDir, s.maxItemsTracked, s.lgK, s.groupCols)
    },

    sink[Bm25IngestSpec]("bm25_ingest", "bm25Ingest",
        "use bm25_index mode: \"append\"")(j =>
      Bm25IngestSpec(
        idCol = j.str("id_col", "idCol"),
        textCol = j.str("text_col", "textCol"),
        indexDir = j.str("index_dir", "indexDir"),
        checkpointDir = j.str("checkpoint_dir", "checkpointDir"),
        compactEvery = ingestCompactEvery(j))) { (b, out) =>
      graft.streaming.Streaming.bm25Ingest(out, b.idCol, b.textCol, b.indexDir,
        b.checkpointDir, b.compactEvery)
    },

    sink[AnnIngestSpec]("ann_ingest", "annIngest",
        "use ann_index mode: \"append\"")(j =>
      AnnIngestSpec(
        idCol = j.str("id_col", "idCol"),
        vecCol = j.str("vec_col", "vecCol"),
        indexDir = j.str("index_dir", "indexDir"),
        checkpointDir = j.str("checkpoint_dir", "checkpointDir"),
        compactEvery = ingestCompactEvery(j))) { (a, out) =>
      graft.streaming.Streaming.annIngest(out, a.idCol, a.vecCol, a.indexDir,
        a.checkpointDir, a.compactEvery)
    }
  )

  private val byClass: Map[Class[_], Op] = all.map(o => o.cls -> o).toMap
  private val index: Map[Class[_], Int] = all.map(_.cls).zipWithIndex.toMap

  def of(s: OpSpec): Op = byClass(s.getClass)

  def inOrder(ops: Seq[OpSpec]): Seq[OpSpec] = ops.sortBy(s => index(s.getClass))

  /** A node's steps, decoded in table order. */
  def decode(n: NodeJson): Seq[OpSpec] = all.flatMap(_.read(n))

  /** The frame columns a node's steps read (the friendly tier). */
  def reads(node: NodeSpec): Seq[String] =
    inOrder(node.ops).flatMap(s => of(s).reads(s))

  /** The columns a node's steps add before the steps that read them
    * (derive, dedup's count_col). */
  def adds(node: NodeSpec): Seq[String] =
    inOrder(node.ops).flatMap(s => of(s).adds(s))

  /** The node's root sinks, in registry order. */
  def rootSinks(node: NodeSpec): Seq[OpSpec] =
    inOrder(node.ops).filter(s => of(s).mode.isInstanceOf[RootSink])

  /** "a, b, …, and z" over every root-sink key. */
  def rootSinkKeys: String = {
    val keys = all.collect { case o if o.mode.isInstanceOf[RootSink] => o.key }
    keys.init.mkString(", ") + ", and " + keys.last
  }

  /** compileStream starts the root sink itself and strips it before the
    * node walk — a sink reaching a node compile is a batch compile or a
    * non-root stream node: reject it by name. */
  def rejectRootSinks(node: NodeSpec): Unit = inOrder(node.ops).map(of).foreach { o =>
    o.mode match {
      case RootSink(shape, _) => throw rootSinkError(o.key, shape, node.id)
      case _ =>
    }
  }

  private def rootSinkError(key: String, batchShape: String, nodeId: String) =
    new IllegalArgumentException(
      s"node $nodeId: $key is a STREAMING ROOT sink — " +
        "compile with compileStreamJson and declare it on the root node " +
        s"(for the batch shape, $batchShape)")

  /** Stacks `c.node`'s steps on `s`, in table order. */
  def build(c: Ctx, s: Spine): Unit =
    inOrder(c.node.ops).foreach { spec =>
      val o = of(spec)
      o.mode match {
        case Transform(batchOnly, step) =>
          batchOnly.foreach(c.batchOnly(o.key, _))
          step(spec, c, s)
        case RootSink(shape, _) => throw rootSinkError(o.key, shape, c.nodeId)
      }
    }

  /** Starts root sink `s` over the streaming frame `out`. */
  def start(s: OpSpec, out: DataFrame): StreamingQuery = of(s).mode match {
    case RootSink(_, st) => st(s, out)
    case _ => throw new IllegalArgumentException(s"${of(s).key} is not a root sink")
  }
}
