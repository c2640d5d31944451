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

  private[graft] def elems(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq

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

  /** A JSON integer that fits an Int, or a named error: Jackson's
    * `asInt` would read "ten" as 0, true as 1, 10.9 as 10 and wrap
    * 3000000000 to a negative. Range checks stay with each key. */
  private[graft] def int(n: JsonNode, site: String): Int =
    integer(n, s"$site must be an integer", n.canConvertToInt).asInt

  private[graft] def long(n: JsonNode, site: String): Long =
    integer(n, s"$site must be an integer", n.canConvertToLong).asLong

  /** A JSON integer in [0, Int.MaxValue], or a named error. */
  private[graft] def nonNegInt(n: JsonNode, site: String): Int =
    integer(n, s"$site must be an integer >= 0", n.canConvertToInt && n.asInt >= 0).asInt

  private def integer(n: JsonNode, error: String, fits: => Boolean): JsonNode =
    if (n.isIntegralNumber && fits) n
    else throw new IllegalArgumentException(s"$error (got: ${n.toString.take(200)})")

  def jvalue(n: JsonNode): JValue =
    if (n == null || n.isNull) JNull
    else if (n.isTextual) JStr(n.asText)
    else if (n.isIntegralNumber) JInt(n.asLong)
    else if (n.isNumber) JNum(n.asDouble)
    else if (n.isBoolean) JBool(n.asBoolean)
    else if (n.isArray) JArr(elems(n).map(jvalue))
    else JStr(n.toString)

  // ---- node --------------------------------------------------------------

  /** One node: its id, input (`source` or `combine`), its steps — decoded
    * by the step table ([[graft.compile.Operators]]) — and its `save`. */
  private[graft] def node(n: JsonNode, defaultId: String,
      extraAllowed: Set[String] = Set.empty): NodeSpec = {
    val j = new NodeJson(n, defaultId)
    val id = j.id

    val source = j.opt("source", "data_path").map { s =>
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

    val combine = j.opt("combine").map { c =>
      CombineSpec(
        op = opt(c, "op").map(_.asText).getOrElse("union"),
        nodes = opt(c, "nodes").toSeq.flatMap(elems).zipWithIndex
          .map { case (cn, i) => node(cn, s"${id}_part$i") })
    }

    val spec = NodeSpec(
      id = id,
      source = source,
      combine = combine,
      ops = graft.compile.Operators.decode(j),
      save = j.opt("save").map(sink(_, s"node $id: save")),
      cache = j.opt("cache").exists(_.asBoolean(false))
    )
    // unknown-key rejection: whatever this parse did not read is a typo
    // or an unsupported key — failing here beats a silent no-op operator
    val unknown = fields(n).map(_._1)
      .filterNot(k => j.accessed.contains(k) || extraAllowed.contains(k))
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

  /** A sink; `ctx` ("node <id>: save") names its integer keys' errors. */
  private def sink(s: JsonNode, ctx: String): SinkSpec =
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
            buckets = opt(s, "buckets").map(int(_, s"$ctx.buckets")).getOrElse(0),
            sortBy = opt(s, "sort_by", "sortBy").map(strSeq).getOrElse(Nil),
            rangeBy = opt(s, "range_by", "rangeBy").map(strSeq).getOrElse(Nil),
            ranges = opt(s, "ranges").map(int(_, s"$ctx.ranges")).getOrElse(0),
            zorderBy = opt(s, "zorder_by", "zorderBy").map(strSeq).getOrElse(Nil),
            zorderBits = opt(s, "zorder_bits", "zorderBits")
              .map(int(_, s"$ctx.zorder_bits")).getOrElse(4),
            maxRecordsPerFile = opt(s, "max_records_per_file", "maxRecordsPerFile")
              .map(long(_, s"$ctx.max_records_per_file")).getOrElse(0L)))
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
      IterationSpec(id, levels, opt(it, "save").map(sink(_, s"iteration $id: save")))
    }
    CascadeSpec(src, iters)
  }
}

/** One node object under decode: its keys are read through [[opt]], which
  * records them, so whatever no reader asked for is an unknown key. */
final class NodeJson private[graft] (val json: JsonNode, defaultId: String) {
  private[spec] val accessed = scala.collection.mutable.HashSet.empty[String]
  def opt(keys: String*): Option[JsonNode] = { accessed ++= keys; JsonCodec.opt(json, keys: _*) }
  val id: String = opt("id", "unique_id").map(_.asText).getOrElse(defaultId)
}

/** One operator object `json` of `node` under decode: typed readers of
  * its keys (each key with its aliases), every diagnostic prefixed by
  * `ctx` ("node <id>: <key>"). Integers are strict: a JSON integer that fits
  * the type, else an error naming `ctx.<key>`. */
final class OpJson private[graft] (val json: JsonNode, val node: NodeJson, key: String) {
  def nodeId: String = node.id
  val ctx = s"node $nodeId: $key"
  def opt(keys: String*): Option[JsonNode] = JsonCodec.opt(json, keys: _*)
  def req(keys: String*): JsonNode = JsonCodec.req(json, ctx, keys: _*)
  def str(keys: String*): String = req(keys: _*).asText
  def int(keys: String*): Int = JsonCodec.int(req(keys: _*), s"$ctx.${keys.head}")
  def long(keys: String*): Long = JsonCodec.long(req(keys: _*), s"$ctx.${keys.head}")
  def double(keys: String*): Double = req(keys: _*).asDouble
  def optStr(keys: String*): Option[String] = opt(keys: _*).map(_.asText)
  def strOr(default: String, keys: String*): String = optStr(keys: _*).getOrElse(default)
  def optInt(keys: String*): Option[Int] =
    opt(keys: _*).map(JsonCodec.int(_, s"$ctx.${keys.head}"))
  def intOr(default: Int, keys: String*): Int = optInt(keys: _*).getOrElse(default)
  def longOr(default: Long, keys: String*): Long =
    opt(keys: _*).map(JsonCodec.long(_, s"$ctx.${keys.head}")).getOrElse(default)
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
