package graft.spec

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** JSON → PipelineSpec decoder.
  *
  * Accepts the engine's canonical config schema AND the reference's
  * observed key spellings (`group_by`, `keep_columns`,
  * `aggregations[{agg_col, agg_func, new_name}]`,
  * `filters[{filter_col, filter_op, filter_value}]` —
  * `Optimus/optimus.py:58-75`; `aggregation{group_by, aggregations
  * {col:[funcs]}, rename{}}` — `sparks/optimus.py:52-76`;
  * `aggregate{col: func | {filter, function}}` — `Optimus/hotrod.py:83-113`;
  * `iterations[{id, level_*}]` — `Optimus/optimus.py:54-80`), so a user of
  * the reference can feed their existing configs in unchanged.
  *
  * Uses the jackson-databind that ships in /opt/spark/jars (no new deps).
  */
object JsonCodec {
  private val mapper = new ObjectMapper()

  def parse(json: String): PipelineSpec = {
    val root = mapper.readTree(json)
    if (root.has("iterations")) CascadePipeline(cascade(root))
    else {
      val defs = opt(root, "defs").map { d =>
        if (!d.isArray)
          throw new IllegalArgumentException("defs must be an array of nodes")
        elems(d).zipWithIndex.map { case (dn, i) =>
          val nd = node(dn, s"def$i")
          if (!dn.has("id") && !dn.has("unique_id"))
            throw new IllegalArgumentException(
              s"defs[$i]: every def needs an explicit id — refs address it")
          nd
        }
      }.getOrElse(Nil)
      val dupIds = defs.groupBy(_.id).collect { case (k, vs) if vs.size > 1 => k }
      if (dupIds.nonEmpty)
        throw new IllegalArgumentException(
          s"duplicate def ids: ${dupIds.mkString(", ")}")
      val tee = opt(root, "tee").map { t =>
        if (!t.isArray)
          throw new IllegalArgumentException("tee must be an array of nodes")
        elems(t).zipWithIndex.map { case (tn, i) =>
          val nd = node(tn, s"tee$i")
          // a tee is a side-OUTPUT: its whole purpose is the sink
          if (nd.save.isEmpty)
            throw new IllegalArgumentException(
              s"tee ${nd.id}: every tee needs a 'save' sink — a tee " +
                "without output is dead work (put shared computation in " +
                "a cached def instead)")
          if (nd.source.isEmpty && nd.combine.isEmpty)
            throw new IllegalArgumentException(
              s"tee ${nd.id}: a tee needs a source — typically " +
                """{"ref": "<cached def>"} so the scan is paid once""")
          nd
        }
      }.getOrElse(Nil)
      val rootNode = node(root, "root", extraAllowed = Set("defs", "tee"))
      // two tees (or a tee and the root) writing one path would silently
      // clobber each other — overwrite mode makes the last writer win
      val sinkPaths = (tee ++ Seq(rootNode)).flatMap(_.save)
        .map(_.path).filter(_.nonEmpty)
      val dupPaths = sinkPaths.groupBy(identity)
        .collect { case (p, xs) if xs.size > 1 => p }
      if (dupPaths.nonEmpty && tee.nonEmpty)
        throw new IllegalArgumentException(
          s"tee: several sinks write the same path(s): " +
            s"${dupPaths.mkString(", ")} — overwrite mode means the last " +
            "writer silently wins; give each side output its own path")
      TreePipeline(rootNode, defs, tee)
    }
  }

  def parseNode(json: String): NodeSpec = node(mapper.readTree(json), "root")

  // ---- helpers -----------------------------------------------------------

  private[graft] def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.fields().asScala.map(e => (e.getKey, e.getValue)).toSeq

  private def elems(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq

  private[graft] def strSeq(n: JsonNode): Seq[String] =
    if (n == null) Nil
    else if (n.isTextual) Seq(n.asText)
    else elems(n).map(_.asText)

  private[graft] def opt(n: JsonNode, keys: String*): Option[JsonNode] =
    keys.collectFirst { case k if n.has(k) && !n.get(k).isNull => n.get(k) }

  /** Required sub-key with a parse-time diagnostic naming the site — a
    * bare `.get` would surface a malformed config as a
    * NoSuchElementException with no hint of where (round-2 advice). */
  private[graft] def req(n: JsonNode, ctx: String, keys: String*): JsonNode =
    opt(n, keys: _*).getOrElse(throw new IllegalArgumentException(
      s"$ctx requires '${keys.head}' (got: ${n.toString.take(200)})"))

  /** A JSON integer in [0, Int.MaxValue], or a named error: Jackson's
    * `asInt` would read "ten" as 0, true as 1, 10.9 as 10 and wrap
    * 3000000000 to a negative. */
  private[graft] def nonNegInt(n: JsonNode, site: String): Int = {
    if (!(n.isIntegralNumber && n.canConvertToInt && n.asInt >= 0))
      throw new IllegalArgumentException(
        s"$site must be an integer >= 0 (got: ${n.toString.take(200)})")
    n.asInt
  }

  def jvalue(n: JsonNode): JValue =
    if (n == null || n.isNull) JNull
    else if (n.isTextual) JStr(n.asText)
    else if (n.isIntegralNumber) JInt(n.asLong)
    else if (n.isNumber) JNum(n.asDouble)
    else if (n.isBoolean) JBool(n.asBoolean)
    else if (n.isArray) JArr(elems(n).map(jvalue))
    else JStr(n.toString)

  // ---- node --------------------------------------------------------------

  private[spec] def node(n: JsonNode, defaultId: String,
      extraAllowed: Set[String] = Set.empty): NodeSpec = {
    // Every node-level key access routes through optN/reqN so the set of
    // KNOWN keys is recorded mechanically; unknown keys fail loudly at
    // parse time — a typo'd operator key ("semantic_dedpu") silently
    // no-opping is the worst possible config-language failure mode.
    val accessed = scala.collection.mutable.HashSet.empty[String]
    def optN(keys: String*): Option[JsonNode] = { accessed ++= keys; opt(n, keys: _*) }
    val id = optN("id", "unique_id").map(_.asText).getOrElse(defaultId)

    val source = optN("source", "data_path").map { s =>
      if (s.isTextual) {
        val p = s.asText
        val fmt =
          if (p.endsWith(".csv")) "csv"
          else if (p.endsWith(".json") || p.endsWith(".jsonl")) "json"
          else "parquet"
        SourceSpec(format = fmt, path = Some(p))
      } else {
        val src = SourceSpec(
          format = opt(s, "format").map(_.asText).getOrElse("parquet"),
          path = opt(s, "path").map(_.asText),
          table = opt(s, "table").map(_.asText),
          sql = opt(s, "sql", "sql_query").map(_.asText),
          options = opt(s, "options")
            .map(o => fields(o).map { case (k, v) => k -> v.asText }.toMap)
            .getOrElse(Map.empty),
          stream = opt(s, "stream").exists(_.asBoolean(false)),
          ref = opt(s, "ref").map(_.asText)
        )
        if (src.ref.isDefined &&
            (src.path.isDefined || src.table.isDefined || src.sql.isDefined))
          throw new IllegalArgumentException(
            s"node $id: source ref is exclusive with path/table/sql — " +
              "a ref IS the frame")
        src
      }
    }

    def filterItems(f: JsonNode): Seq[FilterSpec] = {
        val items = if (f.isArray) elems(f) else Seq(f)
        items.map {
          case t if t.isTextual => ExprFilter(t.asText)
          case o =>
            ColFilter(
              col = req(o, s"node $id: filter", "col", "filter_col", "column").asText,
              op = opt(o, "op", "filter_op").map(_.asText).getOrElse("=="),
              value = jvalue(opt(o, "value", "filter_value").orNull),
              nullSafe =
                opt(o, "null_safe", "nullSafe").exists(_.asBoolean(false))
            )
        }
    }

    val filters: Seq[FilterSpec] =
      optN("filters", "filter").toSeq.flatMap(filterItems)
    // post_filters run AFTER the operator keys + with_columns, so they can
    // reference computed outputs (score, near_dup, n_bpe, …)
    val postFilters: Seq[FilterSpec] =
      optN("post_filters", "postFilters").toSeq.flatMap(filterItems)

    val keep = optN("keep_columns", "keep").map(strSeq).getOrElse(Nil)

    // Aggregation: canonical {"group_by":[...], "aggregations":[{col,func,
    // new_name,filter}]} or any of the reference spellings.
    val aggNode = optN("aggregate", "aggregation")
    val aggregate: Option[AggregateSpec] = aggNode match {
      case Some(a) if a.isObject && (a.has("group_by") || a.has("aggregations")) =>
        Some(
          AggregateSpec(
            groupBy = opt(a, "group_by", "groupBy").map(strSeq).getOrElse(Nil),
            aggs = aggList(opt(a, "aggregations", "aggs").orNull),
            keep = opt(a, "keep_columns", "keep").map(strSeq).getOrElse(Nil),
            mode = opt(a, "mode").map(_.asText)
              .getOrElse(if (a.has("sets") || a.has("grouping_sets")) "grouping_sets" else "groupBy"),
            sets = opt(a, "sets", "grouping_sets").toSeq
              .flatMap(ss => elems(ss).map(strSeq)),
            salt = opt(a, "salt").map(_.asInt),
            pivot = opt(a, "pivot").map(p =>
              PivotSpec(
                col = req(p, s"node $id: aggregate.pivot", "col", "column").asText,
                values = opt(p, "values").toSeq.flatMap(elems).map(jvalue)))
          )
        )
      case Some(a) if a.isObject =>
        // hotrod spelling: "aggregate": {col: "func" | {"filter","function"}}
        // with sibling "group_by"/"link" keys on the node.
        val aggs = fields(a).map {
          case (c, v) if v.isTextual => AggSpec(c, v.asText)
          case (c, v) =>
            AggSpec(
              c,
              opt(v, "function", "func").map(_.asText).getOrElse("sum"),
              newName = opt(v, "new_name", "as").map(_.asText),
              filter = opt(v, "filter").map(_.asText)
            )
        }
        Some(
          AggregateSpec(
            groupBy = optN("group_by").map(strSeq).getOrElse(Nil),
            aggs = aggs
          )
        )
      case None if n.has("group_by") || n.has("aggregations") =>
        // optimus.py flat spelling: group_by/keep_columns/aggregations
        // directly on the node
        Some(
          AggregateSpec(
            groupBy = optN("group_by").map(strSeq).getOrElse(Nil),
            aggs = aggList(optN("aggregations").orNull),
            keep = keep
          )
        )
      case _ => None
    }

    val rename: Seq[(String, String)] = optN("rename").toSeq.flatMap(r =>
      fields(r).map { case (o2, n2) => o2 -> n2.asText }
    )

    val withCols: Seq[(String, String)] =
      optN("with_columns", "withColumns").toSeq.flatMap(w =>
        fields(w).map { case (c, e) => c -> e.asText }
      )

    // derive = computed columns applied BEFORE keep/aggregate (usable as
    // group keys / agg inputs); with_columns applies after aggregation
    val derive: Seq[(String, String)] =
      optN("derive").toSeq.flatMap(w =>
        fields(w).map { case (c, e) => c -> e.asText }
      )

    val dd = optN("dedup", "drop_duplicates").map { d =>
      if (d.isArray || d.isTextual) DedupSpec(keys = strSeq(d))
      else {
        val ds = DedupSpec(
          keys = opt(d, "keys", "on").map(strSeq).getOrElse(Nil),
          idCol = opt(d, "id_col", "idCol").map(_.asText),
          withinWatermark =
            opt(d, "within_watermark", "withinWatermark").exists(_.asBoolean(false)),
          orderCol = opt(d, "order_col", "orderCol").map(_.asText),
          descending = opt(d, "descending").forall(_.asBoolean(true)),
          countCol = opt(d, "count_col", "countCol").map(_.asText))
        require(ds.orderCol.isEmpty || ds.idCol.nonEmpty,
          s"node $id: dedup.order_col needs id_col for the tie-break — " +
            "a score-only winner is nondeterministic on tied scores")
        require(ds.countCol.isEmpty || ds.idCol.nonEmpty,
          s"node $id: dedup.count_col needs id_col — class size is " +
            "aggregated alongside the deterministic winner")
        ds
      }
    }

    // registry operators, decoded in registry order (graft.compile.Operators)
    val ops = graft.compile.Operators.all.flatMap { o =>
      optN(o.keys: _*).map(d => o.decode(new OpJson(d, id, o.key)))
    }

    val wm = optN("watermark").map { w =>
      WatermarkSpec(
        col = req(w, s"node $id: watermark", "col", "column").asText,
        delay = req(w, s"node $id: watermark", "delay", "threshold").asText)
    }

    val bt = optN("bitemporal").map { b =>
      if (b.isBoolean) BitemporalSpec()
      else
        BitemporalSpec(
          validFrom =
            opt(b, "valid_from").map(_.asText).getOrElse("2024-01-01"),
          validTo = opt(b, "valid_to").map(_.asText).getOrElse("9999-12-31"),
          fromCol = opt(b, "from_col", "fromCol").map(_.asText).getOrElse("valid_from"),
          toCol = opt(b, "to_col", "toCol").map(_.asText).getOrElse("valid_to")
        )
    }

    val children: Seq[ChildSpec] = optN("children").toSeq.flatMap(elems).map {
      c =>
        val link = opt(c, "link")
          .map(strSeq)
          .orElse(opt(c, "join").flatMap(j => opt(j, "on").map(strSeq)))
          .getOrElse(Nil)
        val how = opt(c, "join")
          .flatMap(j => opt(j, "how").map(_.asText))
          .orElse(opt(c, "how").map(_.asText))
          .getOrElse("left")
        val onExpr = opt(c, "join")
          .flatMap(j => opt(j, "on_expr", "onExpr").map(_.asText))
          .orElse(opt(c, "on_expr").map(_.asText))
        val leftTs = opt(c, "join").flatMap(j => opt(j, "left_ts", "leftTs").map(_.asText))
        val rightTs = opt(c, "join").flatMap(j => opt(j, "right_ts", "rightTs").map(_.asText))
        val lookback = opt(c, "join").flatMap(j => opt(j, "lookback").map(_.asText))
        val leftDelay = opt(c, "join").flatMap(j => opt(j, "left_delay", "leftDelay").map(_.asText))
        val rightDelay = opt(c, "join").flatMap(j => opt(j, "right_delay", "rightDelay").map(_.asText))
        // the join object's own keys get the same typo protection as node
        // keys — "tolerence" silently no-opping is the failure mode the
        // whole codec exists to prevent
        opt(c, "join").foreach { j =>
          val known = Set("on", "how", "on_expr", "onExpr", "left_ts",
            "leftTs", "right_ts", "rightTs", "lookback", "left_delay",
            "leftDelay", "right_delay", "rightDelay", "direction",
            "tolerance", "hint", "join_hint", "salt", "skew_salt")
          val unk = fields(j).map(_._1).filterNot(known.contains)
          require(unk.isEmpty,
            s"node $id: unknown join key(s): ${unk.mkString(", ")} " +
              s"(known: ${known.toSeq.sorted.mkString(", ")})")
        }
        val direction = opt(c, "join")
          .flatMap(j => opt(j, "direction").map(_.asText)).getOrElse("backward")
        require(Seq("backward", "forward", "nearest").contains(direction),
          s"node $id: join.direction must be backward/forward/nearest, " +
            s"got '$direction'")
        val tolerance = opt(c, "join").flatMap(j => opt(j, "tolerance").map(_.asText))
        require((direction == "backward" && tolerance.isEmpty) || how == "asof",
          s"node $id: join.direction/tolerance apply only to how='asof', " +
            s"got how='$how'")
        // Skew-salted join (config surface of Relational.saltedJoin): the
        // parent side gets a content-derived salt, the child replicates
        // once per salt value, the join runs on (link, salt). Guards live
        // HERE so a bad combination fails at decode, not mid-plan: the
        // replication is only semantics-preserving for inner/left equi
        // joins, and salt ≤ 1 means "you didn't want this".
        val salt = opt(c, "join")
          .flatMap(j => opt(j, "salt", "skew_salt").map(_.asInt))
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
          node = node(c, defaultId = id + "_child",
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
            .orElse(opt(c, "join").flatMap(j =>
              opt(j, "hint", "join_hint").map(_.asText)))
        )
    }

    val combine = optN("combine").map { c =>
      CombineSpec(
        op = opt(c, "op").map(_.asText).getOrElse("union"),
        nodes = opt(c, "nodes").toSeq.flatMap(elems).zipWithIndex
          .map { case (cn, i) => node(cn, s"${id}_part$i") })
    }

    val expectReportNode = optN("expect_report", "expectReport")

    val spec = NodeSpec(
      id = id,
      source = source,
      combine = combine,
      filters = filters,
      derive = derive,
      watermark = wm,
      dedup = dd,
      keepColumns = if (aggregate.isDefined) Nil else keep,
      ops = ops,
      aggregate = aggregate,
      rename = rename,
      withColumns = withCols,
      postFilters = postFilters,
      expect = optN("expect").toSeq.flatMap(w =>
        fields(w).map { case (name, e) =>
          require(e.isTextual && e.asText.nonEmpty,
            s"node $id: expect rule '$name' must map to a non-empty " +
              "expression string")
          name -> e.asText
        }),
      // "group_cols" is RESERVED inside expect_report (a rule cannot take
      // that name): per-slice scorecards — counts per group value
      expectReport = expectReportNode.toSeq.flatMap(w =>
        fields(w).filterNot(f => f._1 == "group_cols" || f._1 == "groupCols")
          .map { case (name, e) =>
          require(e.isTextual && e.asText.nonEmpty,
            s"node $id: expect_report rule '$name' must map to a " +
              "non-empty expression string")
          name -> e.asText
        }),
      expectReportGroups = expectReportNode.toSeq
        .flatMap { w =>
          val gs = fields(w).collect {
            case (k @ ("group_cols" | "groupCols"), v) =>
              require(v.isArray,
                s"node $id: expect_report.$k must be an ARRAY of columns")
              strSeq(v)
          }
          require(gs.size <= 1,
            s"node $id: expect_report: give group_cols OR groupCols, not both")
          gs.flatten
        },
      drop = optN("drop").map(strSeq).getOrElse(Nil),
      bitemporal = bt,
      children = children,
      compact = optN("compact").map { c =>
        CompactSpec(
          keys = strSeq(req(c, s"node $id: compact", "keys")),
          versionOrder =
            opt(c, "version_order", "versionOrder").map(strSeq).getOrElse(Nil),
          deleteWhen = opt(c, "delete_when", "deleteWhen").map(_.asText))
      },
      runningTotals = optN("running_totals", "runningTotals").map { r =>
        RunningTotalsSpec(
          keyCol = req(r, s"node $id: running_totals", "key_col", "keyCol").asText,
          seqCol = req(r, s"node $id: running_totals", "seq_col", "seqCol").asText,
          tsCol = req(r, s"node $id: running_totals", "ts_col", "tsCol").asText,
          valueCol = req(r, s"node $id: running_totals", "value_col", "valueCol").asText)
      },
      topK = optN("top_k", "topK").map { t =>
        TopKSpec(
          partitionBy = opt(t, "partition_by", "partitionBy").map(strSeq).getOrElse(Nil),
          orderBy = opt(t, "order_by", "orderBy").map(strSeq).getOrElse(Nil),
          k = nonNegInt(req(t, s"node $id: top_k", "k"), s"node $id: top_k.k"),
          rankCol = opt(t, "rank_col", "rankCol").map(_.asText).getOrElse("rn"))
      },
      orderBy = optN("order_by", "orderBy").map(strSeq).getOrElse(Nil),
      limit = optN("limit").map(nonNegInt(_, s"node $id: limit")),
      save = optN("save").map(sink),
      cache = optN("cache").exists(_.asBoolean(false))
    )
    // unknown-key rejection: whatever this parse did not read is a typo
    // or an unsupported key — failing here beats a silent no-op operator
    val unknown = fields(n).map(_._1)
      .filterNot(k => accessed.contains(k) || extraAllowed.contains(k))
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"node $id: unknown key(s): ${unknown.mkString(", ")} — " +
          "the node-key table in docs/USAGE.md lists the config surface")
    spec
  }

  private[graft] def aggList(n: JsonNode): Seq[AggSpec] =
    if (n == null) Nil
    else if (n.isArray)
      elems(n).map { a =>
        AggSpec(
          col = req(a, "aggregation entry", "col", "agg_col", "column").asText,
          func = opt(a, "func", "agg_func", "function")
            .map(_.asText)
            .getOrElse("sum"),
          newName = opt(a, "new_name", "as", "alias").map(_.asText),
          filter = opt(a, "filter").map(_.asText),
          param = opt(a, "param", "percentage", "p").map(_.asDouble)
        )
      }
    else // sparks/optimus.py:62-68 spelling {col: "func" | ["sum","max"]}
      fields(n).flatMap {
        case (c, v) if v.isTextual => Seq(AggSpec(c, v.asText))
        case (c, v) if v.isArray =>
          elems(v).map(f => AggSpec(c, f.asText, Some(s"${f.asText}_$c")))
        case (c, v) =>
          Seq(
            AggSpec(
              c,
              opt(v, "function", "func").map(_.asText).getOrElse("sum"),
              newName = opt(v, "new_name").map(_.asText),
              filter = opt(v, "filter").map(_.asText)
            )
          )
      }

  private def sink(s: JsonNode): SinkSpec =
    if (s.isTextual) SinkSpec(path = s.asText)
    else {
      val format = opt(s, "format").map(_.asText).getOrElse("parquet")
      val table = opt(s, "table").map(_.asText)
      // layout keys, flat on the sink: partition_by / bucket_by / range_by
      // / zorder_by (+ their knobs) — see SinkLayoutSpec
      val layoutKeys = Seq(
        "partition_by", "partitionBy", "bucket_by", "bucketBy",
        "range_by", "rangeBy", "zorder_by", "zorderBy")
      val layout =
        if (layoutKeys.exists(k => opt(s, k).isDefined))
          Some(SinkLayoutSpec(
            partitionBy = opt(s, "partition_by", "partitionBy").map(strSeq).getOrElse(Nil),
            bucketBy = opt(s, "bucket_by", "bucketBy").map(strSeq).getOrElse(Nil),
            buckets = opt(s, "buckets").map(_.asInt).getOrElse(0),
            sortBy = opt(s, "sort_by", "sortBy").map(strSeq).getOrElse(Nil),
            rangeBy = opt(s, "range_by", "rangeBy").map(strSeq).getOrElse(Nil),
            ranges = opt(s, "ranges").map(_.asInt).getOrElse(0),
            zorderBy = opt(s, "zorder_by", "zorderBy").map(strSeq).getOrElse(Nil),
            zorderBits = opt(s, "zorder_bits", "zorderBits").map(_.asInt).getOrElse(4),
            maxRecordsPerFile =
              opt(s, "max_records_per_file", "maxRecordsPerFile").map(_.asLong).getOrElse(0L)))
        else None
      // only the KNOWN file formats hard-require a path — option-driven
      // sinks (kafka, jdbc, memory, console, ...) are legitimately
      // pathless, and catalog-backed (table) sinks carry a name instead
      val pathRequired = Set("parquet", "csv", "json", "orc", "text", "avro")
      SinkSpec(
        path = opt(s, "path").map(_.asText).getOrElse {
          // fail at parse time, not at the end of the job with Hadoop's
          // cryptic empty-path error. A table NAME substitutes for a path
          // only on the catalog-backed bucketed write (saveAsTable) — a
          // plain file sink with just {"table": ...} would still
          // save("") at the end of the job
          val bucketed = table.isDefined && layout.exists(_.bucketBy.nonEmpty)
          if (pathRequired(format) && !bucketed)
            throw new IllegalArgumentException(
              s"sink format '$format' requires a path " +
                "(or a bucketed layout with a catalog table name)")
          else ""
        },
        format = format,
        mode = opt(s, "mode").map(_.asText).getOrElse("overwrite"),
        options = opt(s, "options")
          .map(o => fields(o).map { case (k, v) => k -> v.asText }.toMap)
          .getOrElse(Map.empty),
        trigger = opt(s, "trigger").map(_.asText),
        checkpoint = opt(s, "checkpoint", "checkpoint_location").map(_.asText),
        outputMode = opt(s, "output_mode", "outputMode").map(_.asText),
        queryName = opt(s, "query_name", "queryName").map(_.asText),
        table = table,
        layout = layout
      )
    }

  private def cascade(n: JsonNode): CascadeSpec = {
    val src = opt(n, "source", "file_path", "data_path").map { s =>
      if (s.isTextual) {
        val p = s.asText
        val fmt = if (p.endsWith(".csv")) "csv" else "parquet"
        SourceSpec(format = fmt, path = Some(p))
      } else
        SourceSpec(
          format = opt(s, "format").map(_.asText).getOrElse("parquet"),
          path = opt(s, "path").map(_.asText),
          table = opt(s, "table").map(_.asText),
          sql = opt(s, "sql").map(_.asText)
        )
    }.getOrElse(SourceSpec())
    val iters = opt(n, "iterations").toSeq.flatMap(elems).map { it =>
      val id = opt(it, "id").map(_.asText).getOrElse("iteration")
      // reference: keys named level_1..level_n, dict order
      // (`Optimus/optimus.py:43-44`); canonical: "levels": [...]
      val levels: Seq[NodeSpec] = opt(it, "levels") match {
        case Some(ls) =>
          elems(ls).zipWithIndex.map { case (l, i) => node(l, s"${id}_l$i") }
        case None =>
          fields(it)
            .filter(_._1.startsWith("level"))
            .map { case (k, l) => node(l, s"${id}_$k") }
      }
      IterationSpec(id, levels, opt(it, "save").map(sink))
    }
    CascadeSpec(src, iters)
  }
}

/** One operator object `d` under decode: typed readers of its keys (each
  * key with its aliases), every diagnostic prefixed by `ctx`
  * ("node <id>: <key>"). */
final class OpJson private[graft] (d: JsonNode, nodeId: String, key: String) {
  val ctx = s"node $nodeId: $key"
  def opt(keys: String*): Option[JsonNode] = JsonCodec.opt(d, keys: _*)
  def req(keys: String*): JsonNode = JsonCodec.req(d, ctx, keys: _*)
  def str(keys: String*): String = req(keys: _*).asText
  def int(keys: String*): Int = req(keys: _*).asInt
  def long(keys: String*): Long = req(keys: _*).asLong
  def double(keys: String*): Double = req(keys: _*).asDouble
  def optStr(keys: String*): Option[String] = opt(keys: _*).map(_.asText)
  def strOr(default: String, keys: String*): String = optStr(keys: _*).getOrElse(default)
  def intOr(default: Int, keys: String*): Int = opt(keys: _*).map(_.asInt).getOrElse(default)
  def longOr(default: Long, keys: String*): Long = opt(keys: _*).map(_.asLong).getOrElse(default)
  def doubleOr(default: Double, keys: String*): Double =
    opt(keys: _*).map(_.asDouble).getOrElse(default)
  def flag(default: Boolean, keys: String*): Boolean =
    opt(keys: _*).map(_.asBoolean(default)).getOrElse(default)
  def strs(keys: String*): Seq[String] = opt(keys: _*).map(JsonCodec.strSeq).getOrElse(Nil)

  /** A closed-choice key: absent → `default`; a value outside `allowed`
    * rejects by name at decode time, never mid-pipeline. */
  def choice(k: String, default: String, allowed: String*): String =
    optStr(k).map { v =>
      if (allowed.contains(v)) v
      else {
        val q = allowed.map(a => s""""$a"""")
        throw new IllegalArgumentException(
          s"""$ctx $k must be ${q.init.mkString(", ")} or ${q.last} — got "$v"""")
      }
    }.getOrElse(default)
}
