package graft

import graft.spec._
import org.scalatest.funsuite.AnyFunSuite

/** Decode coverage for the round-2 config keys and their alternate
  * spellings — pins the JSON surface independently of the compiler
  * behavior tests (a decode regression would otherwise surface only as a
  * confusing downstream AnalysisException). No Spark session needed. */
class JsonCodecSpec extends AnyFunSuite {

  private def root(json: String): NodeSpec =
    JsonCodec.parse(json) match {
      case TreePipeline(r, _, _) => r
      case other           => fail(s"expected tree, got $other")
    }

  test("aggregate: param, sets, salt, pivot decode (both spellings)") {
    val n = root("""
      {"source": {"table": "t"},
       "aggregate": {"group_by": ["a", "b"],
         "grouping_sets": [["a"], []],
         "salt": 8,
         "pivot": {"col": "p", "values": ["x", 1]},
         "aggregations": [
           {"col": "v", "func": "percentile", "percentage": 0.9, "new_name": "p90"}]}}""")
    val a = n.op[AggregateSpec].get
    assert(a.mode == "grouping_sets") // implied by sets
    assert(a.sets == Seq(Seq("a"), Seq()))
    assert(a.salt.contains(8))
    assert(a.pivot.contains(PivotSpec("p", Seq(JStr("x"), JInt(1)))))
    assert(a.aggs.head == AggSpec("v", "percentile", Some("p90"), None, Some(0.9)))
  }

  test("aggregate: anything but an object fails by name") {
    for (agg <- Seq("""[{"col": "v"}]""", "\"sum\"", "3")) {
      val e = intercept[IllegalArgumentException](
        root(s"""{"id": "n1", "source": {"table": "t"}, "aggregate": $agg}"""))
      assert(e.getMessage.contains("node n1: aggregate must be an object"), e.getMessage)
    }
  }

  test("bitemporal: false is no step, true stamps the defaults") {
    assert(root("""{"source": {"table": "t"}, "bitemporal": false}""")
      .op[BitemporalSpec].isEmpty)
    assert(root("""{"source": {"table": "t"}, "bitemporal": true}""")
      .op[BitemporalSpec].contains(BitemporalSpec()))
  }

  test("watermark, dedup, top_k, drop decode") {
    val n = root("""
      {"source": {"table": "t"},
       "watermark": {"col": "ts", "delay": "10 minutes"},
       "dedup": {"keys": ["k"], "id_col": "id", "within_watermark": true},
       "top_k": {"partition_by": ["k"], "order_by": ["v desc"], "k": 3, "rank_col": "r"},
       "drop": ["helper"]}""")
    assert(n.op[WatermarkSpec].contains(WatermarkSpec("ts", "10 minutes")))
    assert(n.op[DedupSpec].contains(DedupSpec(Seq("k"), Some("id"), withinWatermark = true)))
    assert(n.op[TopKSpec].contains(TopKSpec(Seq("k"), Seq("v desc"), 3, "r")))
    assert(n.op[DropSpec].map(_.cols).contains(Seq("helper")))
    // shorthand: bare key list
    assert(root("""{"source": {"table": "t"}, "dedup": ["a", "b"]}""")
      .op[DedupSpec].contains(DedupSpec(Seq("a", "b"))))
  }

  test("child join: hint, on_expr, asof timestamps decode") {
    val n = root("""
      {"source": {"table": "t"},
       "children": [{
          "id": "c", "prefix": true, "hint": "broadcast",
          "source": {"table": "u"},
          "join": {"how": "asof", "on": ["k"],
                   "left_ts": "lt", "right_ts": "rt", "on_expr": "a < b"}}]}""")
    val ch = n.op[ChildrenSpec].get.children.head
    assert(ch.hint.contains("broadcast") && ch.prefix)
    assert(ch.join == JoinSpec(Seq("k"), "asof", Some("a < b"), Some("lt"), Some("rt")))
  }

  test("combine decodes full child pipelines with generated ids") {
    val n = root("""
      {"id": "u",
       "combine": {"op": "union_distinct", "nodes": [
         {"source": {"table": "a"}}, {"source": {"table": "b"}}]}}""")
    val c = n.combine.get
    assert(c.op == "union_distinct")
    assert(c.nodes.map(_.id) == Seq("u_part0", "u_part1"))
    assert(n.source.isEmpty)
  }

  test("streaming sink keys decode; file sink without path rejected at parse") {
    val n = root("""
      {"source": {"table": "t"},
       "save": {"format": "memory", "query_name": "q", "trigger": "available_now",
                "output_mode": "complete", "checkpoint_location": "/chk"}}""")
    val s = n.save.get
    assert(s.format == "memory" && s.path == "")
    assert(s.queryName.contains("q") && s.trigger.contains("available_now"))
    assert(s.outputMode.contains("complete") && s.checkpoint.contains("/chk"))
    intercept[IllegalArgumentException] {
      root("""{"source": {"table": "t"}, "save": {"format": "parquet"}}""")
    }
    // option-driven sinks stay pathless-parseable
    assert(root("""{"source": {"table": "t"}, "save": {"format": "kafka"}}""")
      .save.get.path == "")
  }

  test("malformed configs fail with named diagnostics, not bare NoSuchElement") {
    // round-2 advice: required sub-keys used bare .get — a typo'd config
    // died as NoSuchElementException with no pointer to the broken node
    for (bad <- Seq(
      """{"id": "n1", "watermark": {"delay": "1 hour"}}""",
      """{"id": "n1", "watermark": {"col": "ts"}}""",
      """{"id": "n1", "top_k": {"order_by": ["x desc"]}}""",
      """{"id": "n1", "filters": [{"op": "==", "value": 1}]}""",
      """{"aggregate": {"group_by": ["a"], "aggregations": [{"func": "sum"}]}}""")) {
      val e = intercept[IllegalArgumentException](JsonCodec.parse(bad))
      assert(e.getMessage.contains("requires"), s"unhelpful error for $bad: $e")
    }
  }

  test("limit and top_k.k must be JSON integers in [0, Int.MaxValue]") {
    assert(root("""{"id": "n1", "limit": 0}""").op[LimitSpec].map(_.n).contains(0))
    assert(root("""{"id": "n1", "limit": 2147483647}""").op[LimitSpec].map(_.n).contains(Int.MaxValue))
    assert(root("""{"id": "n1", "top_k": {"k": 5}}""").op[TopKSpec].map(_.k).contains(5))
    // Jackson's asInt read "ten" as 0, true as 1, 10.9 as 10 and
    // 3000000000 as -1294967296
    for (bad <- Seq("\"ten\"", "true", "10.9", "10.0", "3000000000", "-1", "[3]")) {
      val e = intercept[IllegalArgumentException](root(s"""{"id": "n1", "limit": $bad}"""))
      assert(e.getMessage.contains("node n1: limit must be an integer >= 0"), e.getMessage)
      val k = intercept[IllegalArgumentException](
        root(s"""{"id": "n1", "top_k": {"order_by": ["v"], "k": $bad}}"""))
      assert(k.getMessage.contains("node n1: top_k.k must be an integer >= 0"), k.getMessage)
    }
  }

  test("every integer key is strict: a JSON integer that fits, else a named error") {
    // Jackson's asInt read "eight" as 0 (an unsalted aggregate), 64.9 as
    // 64 and true as 1
    val nd = """"near_dup": {"id_col": "id", "vec_col": "v", "threshold": 0.9"""
    for ((json, site) <- Seq(
        """{"aggregate": {"group_by": ["k"], "aggregations": [{"col": "v"}],
            "salt": "eight"}}""" -> "node root: aggregate.salt",
        s"""{$nd, "dim": 64.9}}""" -> "node root: near_dup.dim",
        s"""{$nd, "dim": 64, "bands": true}}""" -> "node root: near_dup.bands",
        """{"children": [{"id": "c", "source": {"table": "u"},
            "join": {"on": ["k"], "salt": 4.5}}]}""" -> "node root: join.salt",
        """{"save": {"path": "/o", "range_by": ["k"], "ranges": "4"}}""" -> "node root: save.ranges",
        """{"bm25_ingest": {"id_col": "id", "text_col": "t", "index_dir": "/i",
            "checkpoint_dir": "/k", "compact_every": 1.5}}""" -> "node root: bm25_ingest.compact_every",
        """{"ann_index": {"id_col": "id", "vec_col": "v", "dir": "/d",
            "pq": {"m": 4, "k": 3000000000}}}""" -> "node root: ann_index.pq.k")) {
      val e = intercept[IllegalArgumentException](root(json))
      assert(e.getMessage.contains(s"$site must be an integer"), e.getMessage)
    }
    // integers that fit still decode, and each key keeps its range check
    assert(root("""{"aggregate": {"group_by": ["k"], "aggregations": [{"col": "v"}],
      "salt": 8}}""").op[AggregateSpec].get.salt.contains(8))
    val e = intercept[IllegalArgumentException](root("""{"children": [{"id": "c",
      "source": {"table": "u"}, "join": {"on": ["k"], "salt": 1}}]}"""))
    assert(e.getMessage.contains("join.salt must be > 1"), e.getMessage)
  }

  test("near_dup node key decodes with production-regime defaults") {
    val n = root("""
      {"source": {"table": "embeddings"},
       "near_dup": {"id_col": "vec_id", "vec_col": "embedding",
                    "threshold": 0.8, "dim": 64}}""")
    val d = n.op[NearDupSpec].get
    assert(d.idCol == "vec_id" && d.threshold == 0.8 && d.dim == 64)
    assert(d.numBits == 64 && d.bands == 8) // production defaults
    assert(d.output == "pairs")
    assert(root("""
      {"source": {"table": "embeddings"},
       "near_dup": {"id_col": "a", "vec_col": "v", "threshold": 0.8,
                    "dim": 64, "output": "clusters"}}""")
      .op[NearDupSpec].get.output == "clusters")
    val e = intercept[IllegalArgumentException](root(
      """{"near_dup": {"id_col": "a", "vec_col": "v", "dim": 64}}"""))
    assert(e.getMessage.contains("threshold"))
    val e2 = intercept[IllegalArgumentException](root(
      """{"near_dup": {"id_col": "a", "vec_col": "v", "threshold": 0.8,
                       "dim": 64, "output": "graph"}}"""))
    assert(e2.getMessage.contains("pairs") && e2.getMessage.contains("clusters"))
  }

  test("unknown node keys are rejected by name, not silently ignored") {
    // a typo'd operator key must never no-op — it would silently skip a
    // curation stage
    val e = intercept[IllegalArgumentException](JsonCodec.parse("""
      {"source": {"table": "documents"},
       "semantic_dedpu": {"id_col": "doc_id", "vec_col": "emb",
                          "threshold": 0.9, "dim": 8}}"""))
    assert(e.getMessage.contains("semantic_dedpu") &&
      e.getMessage.contains("unknown"), e.getMessage)
    // child join wiring keys stay legal next to node keys
    JsonCodec.parse("""
      {"source": {"table": "orders"},
       "children": [{"id": "c", "source": {"table": "lineitem"},
                     "join": {"on": ["o_orderkey"], "how": "left"},
                     "prefix": true, "hint": "broadcast"}]}""")
    // defs at the root stay legal; a typo inside a def still fails
    val e2 = intercept[IllegalArgumentException](JsonCodec.parse("""
      {"defs": [{"id": "d", "source": {"table": "documents"},
                 "keep_colums": ["doc_id"]}],
       "source": {"ref": "d"}}"""))
    assert(e2.getMessage.contains("keep_colums"), e2.getMessage)
  }

  test("multiclass_classifier node key decodes with defaults and names missing fields") {
    val m = root("""
      {"source": {"table": "documents"},
       "multiclass_classifier": {"id_col": "doc_id", "text_col": "text",
                                 "label_col": "lang"}}""").op[MulticlassClassifierSpec].get
    assert(m.idCol == "doc_id" && m.textCol == "text" && m.labelCol == "lang")
    assert(m.dim == 1024 && m.epochs == 8 && m.lr == 0.8)
    assert(m.predCol == "pred_label" && !m.keepScores)
    assert(root("""
      {"source": {"table": "documents"},
       "multiclass_classifier": {"id_col": "a", "text_col": "t",
                                 "label_col": "l", "pred_col": "p",
                                 "keep_scores": true}}""")
      .op[MulticlassClassifierSpec].get.keepScores)
    val e = intercept[IllegalArgumentException](root(
      """{"multiclass_classifier": {"id_col": "a", "text_col": "t"}}"""))
    assert(e.getMessage.contains("label_col"))
  }

  test("predict_model node key decodes with defaults and names missing fields") {
    val p = root("""
      {"source": {"table": "documents"},
       "predict_model": {"text_col": "text", "model_dir": "/m"}}""").op[PredictModelSpec].get
    assert(p.textCol == "text" && p.modelDir == "/m")
    assert(p.predCol == "pred_label" && !p.keepScores)
    val e = intercept[IllegalArgumentException](root(
      """{"predict_model": {"text_col": "text"}}"""))
    assert(e.getMessage.contains("model_dir"))
  }

  test("semantic_dedup node key decodes with defaults and named errors") {
    val d = root("""
      {"source": {"table": "embeddings"},
       "semantic_dedup": {"id_col": "vec_id", "vec_col": "embedding",
                          "threshold": 0.9, "dim": 64}}""").op[SemanticDedupSpec].get
    assert(d.idCol == "vec_id" && d.vecCol == "embedding")
    assert(d.threshold == 0.9 && d.dim == 64)
    assert(d.nlist == 16 && d.refineRounds == 0 && !d.exact)
    assert(d.numBits == 64 && d.bands == 8 && d.output == "keep") // high-τ regime
    val full = root("""
      {"source": {"table": "embeddings"},
       "semantic_dedup": {"id_col": "a", "vec_col": "v", "threshold": 0.8,
                          "dim": 8, "nlist": 4, "refine_rounds": 2,
                          "exact": true, "output": "labels"}}""").op[SemanticDedupSpec].get
    assert(full.nlist == 4 && full.refineRounds == 2 && full.exact)
    assert(full.output == "labels")
    val e = intercept[IllegalArgumentException](root(
      """{"semantic_dedup": {"id_col": "a", "vec_col": "v", "dim": 8}}"""))
    assert(e.getMessage.contains("threshold"))
    val e2 = intercept[IllegalArgumentException](root(
      """{"semantic_dedup": {"id_col": "a", "vec_col": "v",
                             "threshold": 0.8, "dim": 8, "output": "graph"}}"""))
    assert(e2.getMessage.contains("keep") && e2.getMessage.contains("labels"))
  }

  test("global_shuffle node key decodes with defaults and names missing fields") {
    val g = root("""
      {"source": {"table": "documents"},
       "global_shuffle": {"id_col": "doc_id", "shards": 8}}""").op[GlobalShuffleSpec].get
    assert(g.idCol == "doc_id" && g.shards == 8 && g.seed == 0L)
    assert(root("""
      {"source": {"table": "documents"},
       "global_shuffle": {"id_col": "doc_id", "shards": 4, "seed": 99}}""")
      .op[GlobalShuffleSpec].get.seed == 99L)
    val e = intercept[IllegalArgumentException](root(
      """{"global_shuffle": {"id_col": "doc_id"}}"""))
    assert(e.getMessage.contains("shards"))
  }

  test("edit_dedup node key decodes with defaults and named errors") {
    val n = root("""
      {"source": {"table": "documents"},
       "edit_dedup": {"id_col": "doc_id", "text_col": "text",
                      "block_expr": "substring(text, 1, 24)"}}""")
    val d = n.op[EditDedupSpec].get
    assert(d.idCol == "doc_id" && d.blockExpr == "substring(text, 1, 24)")
    // hot-bucket cap is default-ON (round-7 advice: uncapped-by-default
    // in-bucket n² is a scale-killer exactly where corpora skew)
    assert(d.threshold == 0.8 && d.maxDistance.isEmpty &&
      d.bucketCap == graft.ops.BucketCap.Auto)
    val full = root("""
      {"source": {"table": "documents"},
       "edit_dedup": {"id_col": "doc_id", "text_col": "text",
                      "block_expr": "lower(text)", "threshold": 0.9,
                      "max_distance": 8, "max_bucket_size": 100}}""").op[EditDedupSpec].get
    assert(full.maxDistance.contains(8) &&
      full.bucketCap == graft.ops.BucketCap.Max(100))
    val off = root("""
      {"source": {"table": "documents"},
       "edit_dedup": {"id_col": "doc_id", "text_col": "text",
                      "block_expr": "lower(text)",
                      "max_bucket_size": "off"}}""").op[EditDedupSpec].get
    assert(off.bucketCap == graft.ops.BucketCap.Off)
    val bad = intercept[IllegalArgumentException](root("""
      {"source": {"table": "documents"},
       "edit_dedup": {"id_col": "a", "text_col": "t", "block_expr": "t",
                      "max_bucket_size": "sometimes"}}"""))
    assert(bad.getMessage.contains("max_bucket_size"))
    val e = intercept[IllegalArgumentException](root(
      """{"edit_dedup": {"id_col": "a", "text_col": "t"}}"""))
    assert(e.getMessage.contains("block_expr"))
  }

  test("image_dedup node key decodes with defaults and named errors") {
    val n = root("""
      {"source": {"table": "documents"},
       "image_dedup": {"id_col": "doc_id", "payload_col": "payload"}}""")
    val d = n.op[ImageDedupSpec].get
    assert(d.idCol == "doc_id" && d.payloadCol == "payload" && d.maxDist == 6)
    assert(d.output == "pairs") // default shape unchanged by the clusters tier
    assert(root("""
      {"source": {"table": "documents"},
       "image_dedup": {"id_col": "a", "payload_col": "p", "max_dist": 10}}""")
      .op[ImageDedupSpec].get.maxDist == 10)
    assert(root("""
      {"source": {"table": "documents"},
       "image_dedup": {"id_col": "a", "payload_col": "p", "output": "clusters"}}""")
      .op[ImageDedupSpec].get.output == "clusters")
    val e = intercept[IllegalArgumentException](root(
      """{"image_dedup": {"id_col": "a"}}"""))
    assert(e.getMessage.contains("payload_col"))
    // a typo'd output shape is a decode-time spec error, not a runtime one
    val e2 = intercept[IllegalArgumentException](root(
      """{"image_dedup": {"id_col": "a", "payload_col": "p", "output": "graph"}}"""))
    assert(e2.getMessage.contains("pairs") && e2.getMessage.contains("clusters"))
  }

  test("simhash_dedup node key decodes with defaults and named errors") {
    val n = root("""
      {"source": {"table": "documents"},
       "simhash_dedup": {"id_col": "doc_id", "text_col": "text"}}""")
    val d = n.op[SimhashDedupSpec].get
    assert(d.idCol == "doc_id" && d.textCol == "text" && d.maxDist == 3)
    assert(d.output == "pairs")
    assert(root("""
      {"source": {"table": "documents"},
       "simhash_dedup": {"id_col": "a", "text_col": "t", "max_dist": 6,
                         "output": "clusters"}}""")
      .op[SimhashDedupSpec].get.output == "clusters")
    val e = intercept[IllegalArgumentException](root(
      """{"simhash_dedup": {"id_col": "a"}}"""))
    assert(e.getMessage.contains("text_col"))
    val e2 = intercept[IllegalArgumentException](root(
      """{"simhash_dedup": {"id_col": "a", "text_col": "t", "output": "graph"}}"""))
    assert(e2.getMessage.contains("pairs") && e2.getMessage.contains("clusters"))
  }

  test("profile node key decodes columns and approx; rejects empty arrays") {
    val n = root("""
      {"source": {"table": "lineitem"},
       "profile": {"columns": ["a", "b"]}}""")
    assert(n.op[ProfileSpec].get.columns == Seq("a", "b") && !n.op[ProfileSpec].get.approx)
    assert(root("""
      {"source": {"table": "lineitem"},
       "profile": {"columns": ["a"], "approx": true}}""").op[ProfileSpec].get.approx)
    val e = intercept[IllegalArgumentException](root(
      """{"profile": {"columns": []}}"""))
    assert(e.getMessage.contains("non-empty"))
  }

  test("html_extract node key decodes and names missing fields") {
    val n = root("""
      {"source": {"table": "documents"},
       "html_extract": {"id_col": "doc_id", "html_col": "html"}}""")
    val h = n.op[HtmlExtractSpec].get
    assert(h.idCol == "doc_id" && h.htmlCol == "html")
    val e = intercept[IllegalArgumentException](root(
      """{"html_extract": {"id_col": "doc_id"}}"""))
    assert(e.getMessage.contains("html_col"))
  }

  test("round-11 node keys decode with defaults and name missing fields") {
    val qc = root("""
      {"quality_classifier": {"id_col": "id", "text_col": "t",
                              "label_col": "y"}}""").op[QualityClassifierSpec].get
    assert(qc.dim == 1024 && qc.epochs == 8 && qc.threshold == 0.5)
    assert(intercept[IllegalArgumentException](root(
      """{"quality_classifier": {"id_col": "id", "text_col": "t"}}"""))
      .getMessage.contains("label_col"))

    val cms = root("""
      {"cms_probe": {"key_col": "token", "probes": ["a", "b"]}}""").op[CmsProbeSpec].get
    assert(cms.eps == 1e-4 && cms.confidence == 0.99 && cms.seed == 42 &&
      cms.probes == Seq("a", "b"))
    assert(intercept[IllegalArgumentException](root(
      """{"cms_probe": {"key_col": "token", "probes": []}}"""))
      .getMessage.contains("non-empty"))
    assert(intercept[IllegalArgumentException](root(
      """{"cms_probe": {"probes": ["a"]}}"""))
      .getMessage.contains("key_col"))

    val bp = root("""{"bpe": {"text_col": "t"}}""").op[BpeSpec].get
    assert(bp.numMerges == 16 && bp.output == "merges")
    assert(intercept[IllegalArgumentException](root(
      """{"bpe": {}}""")).getMessage.contains("text_col"))

    val pe = root("""
      {"pdf_extract": {"id_col": "id", "pdf_col": "p"}}""").op[PdfExtractSpec].get
    assert(pe.idCol == "id" && pe.pdfCol == "p")
  }

  test("artifact-inference node keys decode with defaults and name missing fields") {
    val sm = root("""
      {"score_model": {"text_col": "t", "model_dir": "/tmp/m"}}""").op[ScoreModelSpec].get
    assert(sm.scoreCol == "score" && sm.predCol == "pred" && sm.threshold == 0.5)
    assert(intercept[IllegalArgumentException](root(
      """{"score_model": {"text_col": "t"}}"""))
      .getMessage.contains("model_dir"))

    val ba = root("""
      {"bpe_apply": {"text_col": "t", "merges_dir": "/tmp/b"}}""").op[BpeApplySpec].get
    assert(ba.textCol.contains("t") && ba.mergesDir == "/tmp/b")
    assert(intercept[IllegalArgumentException](root(
      """{"bpe_apply": {"merges_dir": "/tmp/b"}}"""))
      .getMessage.contains("text_col"))

    val np = root("""
      {"near_dup_probe": {"text_col": "t", "index_dir": "/tmp/i"}}""").op[NearDupProbeSpec].get
    assert(np.shingleSize == 3 && np.numHashes == 64 && np.bands == 16 &&
      np.flagCol == "near_dup" && np.expectedKeys == (1L << 22) && np.fpp == 0.01)
    assert(intercept[IllegalArgumentException](root(
      """{"near_dup_probe": {"text_col": "t"}}"""))
      .getMessage.contains("index_dir"))

    // post_filters share the filter item grammar (expr string or col/op)
    val pf = root("""
      {"post_filters": ["pred and not near_dup",
                        {"col": "score", "op": ">", "value": 0.5}]}""").op[PostFiltersSpec].get.filters
    assert(pf.length == 2)
  }

  test("temperature_sample node key decodes with defaults and named errors") {
    val n = root("""
      {"source": {"table": "documents"},
       "temperature_sample": {"group_col": "lang", "id_col": "doc_id",
                              "target_fraction": 0.3}}""")
    val t = n.op[TemperatureSampleSpec].get
    assert(t.groupCol == "lang" && t.idCol == "doc_id")
    assert(t.targetFraction == 0.3 && t.alpha == 0.5)
    assert(root("""
      {"source": {"table": "documents"},
       "temperature_sample": {"group_col": "g", "id_col": "id",
                              "target_fraction": 0.1, "alpha": 1.0}}""")
      .op[TemperatureSampleSpec].get.alpha == 1.0)
    val e = intercept[IllegalArgumentException](root(
      """{"temperature_sample": {"group_col": "g", "id_col": "id"}}"""))
    assert(e.getMessage.contains("target_fraction"))
  }

  test("passage_dedup node key decodes with defaults and named errors") {
    val n = root("""
      {"source": {"table": "documents"},
       "passage_dedup": {"id_col": "doc_id", "text_col": "text"}}""")
    val d = n.op[PassageDedupSpec].get
    assert(d.idCol == "doc_id" && d.textCol == "text")
    assert(d.windowTokens == 50 && d.output == "spans")
    assert(root("""
      {"source": {"table": "documents"},
       "passage_dedup": {"id_col": "a", "text_col": "t",
                         "window_tokens": 12, "output": "strip"}}""")
      .op[PassageDedupSpec].get.output == "strip")
    val e = intercept[IllegalArgumentException](root(
      """{"passage_dedup": {"id_col": "a"}}"""))
    assert(e.getMessage.contains("text_col"))
    val e2 = intercept[IllegalArgumentException](root(
      """{"passage_dedup": {"id_col": "a", "text_col": "t", "output": "drop"}}"""))
    assert(e2.getMessage.contains("spans") && e2.getMessage.contains("strip"))
  }

  test("audio_dedup node key decodes with defaults and named errors") {
    val n = root("""
      {"source": {"table": "documents"},
       "audio_dedup": {"id_col": "doc_id", "payload_col": "payload"}}""")
    val d = n.op[AudioDedupSpec].get
    assert(d.idCol == "doc_id" && d.payloadCol == "payload" && d.maxDist == 6)
    val e = intercept[IllegalArgumentException](root(
      """{"audio_dedup": {"payload_col": "p"}}"""))
    assert(e.getMessage.contains("id_col"))
  }

  test("near_dup_ingest node key decodes with defaults and named errors") {
    val n = root("""
      {"source": {"path": "/tmp/in"},
       "near_dup_ingest": {"id_col": "doc_id", "text_col": "text",
                           "corpus_dir": "/tmp/c", "index_dir": "/tmp/i",
                           "checkpoint_dir": "/tmp/k"}}""")
    val d = n.op[NearDupIngestSpec].get
    assert(d.idCol == "doc_id" && d.corpusDir == "/tmp/c" && d.indexDir == "/tmp/i")
    assert(d.shingleSize == 3 && d.numHashes == 64 && d.bands == 16 && d.threshold == 0.5)
    val full = root("""
      {"source": {"path": "/tmp/in"},
       "near_dup_ingest": {"id_col": "doc_id", "text_col": "text",
                           "corpus_dir": "/tmp/c", "index_dir": "/tmp/i",
                           "checkpoint_dir": "/tmp/k", "shingle_size": 2,
                           "num_hashes": 32, "bands": 8, "threshold": 0.7}}""")
      .op[NearDupIngestSpec].get
    assert(full.shingleSize == 2 && full.numHashes == 32 &&
      full.bands == 8 && full.threshold == 0.7)
    val e = intercept[IllegalArgumentException](root("""
      {"source": {"path": "/tmp/in"},
       "near_dup_ingest": {"id_col": "doc_id", "text_col": "text"}}"""))
    assert(e.getMessage.contains("corpus_dir"))
  }

  test("lm_perplexity node key decodes with defaults and named errors") {
    val n = root("""
      {"source": {"table": "documents"},
       "lm_perplexity": {"id_col": "doc_id", "text_col": "text"}}""")
    val d = n.op[LmPerplexitySpec].get
    assert(d.idCol == "doc_id" && d.textCol == "text" && d.k == 0.5)
    assert(!d.keepUnscored, "drop-absent is the default policy")
    val full = root("""
      {"source": {"table": "documents"},
       "lm_perplexity": {"id_col": "a", "text_col": "t", "k": 1.0,
                         "keep_unscored": true}}""").op[LmPerplexitySpec].get
    assert(full.k == 1.0 && full.keepUnscored)
    val e = intercept[IllegalArgumentException](root(
      """{"lm_perplexity": {"id_col": "a"}}"""))
    assert(e.getMessage.contains("text_col"))
  }

  test("split node key decodes ordered buckets and rejects non-array forms") {
    val n = root("""
      {"source": {"table": "documents"},
       "split": {"id_col": "doc_id",
                 "buckets": [{"name": "train", "weight": 0.9},
                             {"name": "test", "weight": 0.1}]}}""")
    val d = n.op[SplitSpec].get
    assert(d.idCol == "doc_id" && d.splitCol == "split")
    assert(d.buckets == Seq("train" -> 0.9, "test" -> 0.1), "order must be preserved")
    val e = intercept[IllegalArgumentException](root("""
      {"split": {"id_col": "a", "buckets": {"train": 0.9}}}"""))
    assert(e.getMessage.contains("ARRAY"), s"got: ${e.getMessage}")
  }

  test("round-13 node keys decode with defaults and named errors") {
    // dsir: defaults + select-mode requirements
    val d = root("""
      {"source": {"table": "documents"},
       "dsir": {"target_ref": "tgt", "text_col": "text"}}""").op[DsirSpec].get
    assert(d.buckets == 8192 && d.mode == "weights" && d.gumbel && d.seed == 0L)
    val e1 = intercept[IllegalArgumentException](root("""
      {"dsir": {"target_ref": "t", "text_col": "x", "mode": "select"}}"""))
    assert(e1.getMessage.contains("n >= 1"))
    val e2 = intercept[IllegalArgumentException](root("""
      {"dsir": {"target_ref": "t", "text_col": "x", "mode": "argmax"}}"""))
    assert(e2.getMessage.contains("weights"))
    // page_rank defaults
    val p = root("""
      {"source": {"table": "e"},
       "page_rank": {"src_col": "s", "dst_col": "d"}}""").op[PageRankSpec].get
    assert(p.iters == 3 && p.damping == 0.85 && p.tol == 0.0)
    // token_budget_sample: exactly-one-of budgets|weights, defaults, errors
    val tb = root("""
      {"source": {"table": "d"},
       "token_budget_sample": {"group_col": "g", "id_col": "i",
         "tokens_col": "t", "budgets": {"en": 100, "de": 50}}}""")
      .op[TokenBudgetSampleSpec].get
    assert(tb.budgets == Seq("en" -> 100L, "de" -> 50L) && tb.overshoot
      && tb.weights.isEmpty && tb.orderCol.isEmpty && tb.descending)
    assert(root("""
      {"source": {"table": "d"},
       "token_budget_sample": {"group_col": "g", "id_col": "i",
         "tokens_col": "t", "budgets": {"en": 1},
         "order_col": "score", "descending": false}}""")
      .op[TokenBudgetSampleSpec].get.orderCol.contains("score"))
    val tw = root("""
      {"source": {"table": "d"},
       "token_budget_sample": {"group_col": "g", "id_col": "i",
         "tokens_col": "t", "weights": {"en": 0.5, "de": 0.5},
         "total_budget": 1000, "overshoot": false}}""").op[TokenBudgetSampleSpec].get
    assert(tw.weights == Seq("en" -> 0.5, "de" -> 0.5)
      && tw.totalBudget == 1000L && !tw.overshoot)
    val eTb = intercept[IllegalArgumentException](root("""
      {"token_budget_sample": {"group_col": "g", "id_col": "i",
        "tokens_col": "t"}}"""))
    assert(eTb.getMessage.contains("exactly one of budgets"))
    val eTb2 = intercept[IllegalArgumentException](root("""
      {"token_budget_sample": {"group_col": "g", "id_col": "i",
        "tokens_col": "t", "weights": {"en": 1.0}}}"""))
    assert(eTb2.getMessage.contains("total_budget"))
    intercept[IllegalArgumentException](root("""
      {"token_budget_sample": {"group_col": "g", "id_col": "i",
        "tokens_col": "t", "budgets": {}}}"""))
    // sequence_pack defaults + named errors
    val sq = root("""
      {"source": {"table": "d"},
       "sequence_pack": {"id_col": "i", "ids_col": "x", "seq_len": 2048}}""")
      .op[SequencePackSpec].get
    assert(sq.eosId == 0 && sq.shards == 1 && sq.dropLast && sq.seqLen == 2048)
    assert(sq.mode == "split" && !sq.withBounds && sq.padId == -1)
    val sqW = root("""
      {"source": {"table": "d"},
       "sequence_pack": {"id_col": "i", "ids_col": "x", "seq_len": 2048,
         "mode": "whole", "with_bounds": true, "pad_id": 0}}""")
      .op[SequencePackSpec].get
    assert(sqW.mode == "whole" && sqW.withBounds && sqW.padId == 0)
    assert(root("""
      {"source": {"table": "d"},
       "sequence_pack": {"id_col": "i", "ids_col": "x", "seq_len": 8,
         "mode": "best_fit"}}""").op[SequencePackSpec].get.mode == "best_fit")
    val eMode = intercept[IllegalArgumentException](root("""
      {"sequence_pack": {"id_col": "i", "ids_col": "x", "seq_len": 8,
        "mode": "bestfit"}}"""))
    assert(eMode.getMessage.contains("mode"))
    val eSq = intercept[IllegalArgumentException](root("""
      {"sequence_pack": {"id_col": "i", "ids_col": "x", "seq_len": 1}}"""))
    assert(eSq.getMessage.contains("seq_len"))
    intercept[IllegalArgumentException](root("""
      {"sequence_pack": {"id_col": "i", "ids_col": "x"}}"""))
    val pt = root("""
      {"source": {"table": "e"},
       "page_rank": {"src_col": "s", "dst_col": "d", "tol": 1e-6}}""").op[PageRankSpec].get
    assert(pt.tol == 1e-6)
    // chunk: defaults + exactly-one-tier + bounds errors
    val ck = root("""
      {"source": {"table": "d"},
       "chunk": {"id_col": "doc_id", "ids_col": "bpe_ids", "size": 512}}""")
      .op[ChunkSpec].get
    assert(ck.overlap == 0 && ck.idsCol.contains("bpe_ids") && ck.textCol.isEmpty)
    val ckT = root("""
      {"source": {"table": "d"},
       "chunk": {"id_col": "doc_id", "text_col": "text", "size": 256,
         "overlap": 64}}""").op[ChunkSpec].get
    assert(ckT.textCol.contains("text") && ckT.overlap == 64)
    val eCk = intercept[IllegalArgumentException](root("""
      {"chunk": {"id_col": "i", "text_col": "t", "ids_col": "x", "size": 8}}"""))
    assert(eCk.getMessage.contains("exactly one"))
    val eCk2 = intercept[IllegalArgumentException](root("""
      {"chunk": {"id_col": "i", "size": 8}}"""))
    assert(eCk2.getMessage.contains("exactly one"))
    val eCk3 = intercept[IllegalArgumentException](root("""
      {"chunk": {"id_col": "i", "text_col": "t", "size": 8, "overlap": 8}}"""))
    assert(eCk3.getMessage.contains("overlap"))
    // sep (structure-aware segment mode): text-tier only, excludes overlap
    assert(root("""
      {"source": {"table": "d"},
       "chunk": {"id_col": "i", "text_col": "t", "size": 256,
         "sep": "\n\n"}}""").op[ChunkSpec].get.sep.contains("\n\n"))
    val eCk4 = intercept[IllegalArgumentException](root("""
      {"chunk": {"id_col": "i", "ids_col": "x", "size": 8, "sep": "|"}}"""))
    assert(eCk4.getMessage.contains("needs text_col"))
    val eCk5 = intercept[IllegalArgumentException](root("""
      {"chunk": {"id_col": "i", "text_col": "t", "size": 8, "sep": "|",
        "overlap": 2}}"""))
    assert(eCk5.getMessage.contains("excludes overlap"))
    // dedup order_col: decode + id_col requirement
    val db = root("""
      {"source": {"table": "t"},
       "dedup": {"keys": ["k"], "id_col": "id", "order_col": "score",
         "descending": false}}""").op[DedupSpec].get
    assert(db.orderCol.contains("score") && !db.descending)
    assert(root("""
      {"source": {"table": "t"},
       "dedup": {"keys": ["k"], "id_col": "id", "order_col": "score"}}""")
      .op[DedupSpec].get.descending)
    val eDb = intercept[IllegalArgumentException](root("""
      {"dedup": {"keys": ["k"], "order_col": "score"}}"""))
    assert(eDb.getMessage.contains("order_col needs id_col"))
    assert(root("""
      {"source": {"table": "t"},
       "dedup": {"keys": ["k"], "id_col": "id", "count_col": "dup_count"}}""")
      .op[DedupSpec].get.countCol.contains("dup_count"))
    val eDc = intercept[IllegalArgumentException](root("""
      {"dedup": {"keys": ["k"], "count_col": "n"}}"""))
    assert(eDc.getMessage.contains("count_col needs id_col"))
    // tar_pack requires shards
    val t = root("""
      {"source": {"table": "m"},
       "tar_pack": {"name_col": "n", "payload_col": "p", "shards": 8}}""").op[TarPackSpec].get
    assert(t.shards == 8)
    intercept[IllegalArgumentException](root("""
      {"tar_pack": {"name_col": "n", "payload_col": "p"}}"""))
    // bm25 defaults
    val b = root("""
      {"source": {"table": "documents"},
       "bm25": {"queries_ref": "q", "id_col": "doc_id", "text_col": "text"}}""").op[Bm25Spec].get
    assert(b.k1 == 1.2 && b.b == 0.75 && b.topK == 10 &&
      b.qidCol == "qid" && b.qtextCol == "qtext")
    // dsir_score requires model_dir
    intercept[IllegalArgumentException](root("""
      {"dsir_score": {"text_col": "text"}}"""))
    // winnow defaults + named output error
    val wn = root("""
      {"source": {"table": "documents"},
       "winnow": {"id_col": "doc_id", "text_col": "text"}}""").op[WinnowSpec].get
    assert(wn.windowTokens == 50 && wn.winnowWindow == 8 &&
      wn.output == "index" && wn.minShared == 1)
    val e4 = intercept[IllegalArgumentException](root("""
      {"winnow": {"id_col": "a", "text_col": "t", "output": "spans"}}"""))
    assert(e4.getMessage.contains("index"))
    // wds_samples requires both columns
    intercept[IllegalArgumentException](root("""
      {"wds_samples": {"name_col": "n"}}"""))
    // lm_perplexity smoothing: named error on unknown family
    val e5 = intercept[IllegalArgumentException](root("""
      {"lm_perplexity": {"id_col": "a", "text_col": "t",
                         "smoothing": "laplace"}}"""))
    assert(e5.getMessage.contains("addk"))
    assert(root("""
      {"source": {"table": "documents"},
       "lm_perplexity": {"id_col": "a", "text_col": "t"}}""")
      .op[LmPerplexitySpec].get.smoothing == "addk")
    // unknown-key rejection still covers the new blocks
    val e3 = intercept[IllegalArgumentException](root("""
      {"source": {"table": "documents"},
       "dsirr": {"target_ref": "t"}}"""))
    assert(e3.getMessage.contains("unknown key"))
  }

  test("interval-join keys decode: lookback, delays, stream source flag") {
    val n = root("""
      {"source": {"table": "a"},
       "children": [
         {"source": {"table": "b", "stream": true},
          "join": {"on": ["k"], "how": "interval", "left_ts": "lt",
                   "right_ts": "rt", "lookback": "1 HOUR",
                   "left_delay": "5 minutes", "right_delay": "7 minutes"}}]}""")
    val ch = n.op[ChildrenSpec].get.children.head
    assert(ch.join.how == "interval" && ch.join.lookback.contains("1 HOUR"))
    assert(ch.join.leftDelay.contains("5 minutes") && ch.join.rightDelay.contains("7 minutes"))
    assert(ch.node.source.exists(_.stream))
  }

  test("retention key decodes on cluster tiers; rejected on pairs output") {
    val r = root("""
      {"source": {"table": "documents"},
       "simhash_dedup": {"id_col": "a", "text_col": "t", "output": "clusters",
                         "retention": {"order_col": "score"}}}""")
      .op[SimhashDedupSpec].get.retention.get
    assert(r.orderCol == "score" && r.descending) // descending defaults true
    assert(root("""
      {"source": {"table": "e"},
       "near_dup": {"id_col": "a", "vec_col": "v", "threshold": 0.9, "dim": 8,
                    "output": "clusters",
                    "retention": {"order_col": "q", "descending": false}}}""")
      .op[NearDupSpec].get.retention.exists(x => x.orderCol == "q" && !x.descending))
    assert(root("""
      {"source": {"table": "d"},
       "image_dedup": {"id_col": "a", "payload_col": "p", "output": "clusters",
                       "retention": {"order_col": "sharp"}}}""")
      .op[ImageDedupSpec].get.retention.exists(_.orderCol == "sharp"))
    assert(root("""
      {"source": {"table": "d"},
       "audio_dedup": {"id_col": "a", "payload_col": "p", "output": "clusters",
                       "retention": {"order_col": "snr"}}}""")
      .op[AudioDedupSpec].get.retention.exists(_.orderCol == "snr"))
    // pairs output (explicit or by default) has no best row to retain
    val e = intercept[IllegalArgumentException](root("""
      {"simhash_dedup": {"id_col": "a", "text_col": "t",
                         "retention": {"order_col": "score"}}}"""))
    assert(e.getMessage.contains("clusters") && e.getMessage.contains("retention"))
    val e2 = intercept[IllegalArgumentException](root("""
      {"near_dup": {"id_col": "a", "vec_col": "v", "threshold": 0.9, "dim": 8,
                    "output": "pairs", "retention": {"order_col": "q"}}}"""))
    assert(e2.getMessage.contains("pairs"))
    val e3 = intercept[IllegalArgumentException](root("""
      {"image_dedup": {"id_col": "a", "payload_col": "p", "output": "clusters",
                       "retention": {}}}"""))
    assert(e3.getMessage.contains("order_col"))
  }

  test("tar_compact node key decodes with defaults and named errors") {
    val t = root("""
      {"source": {"path": "/x"},
       "tar_compact": {"shards": 4}}""").op[TarCompactSpec].get
    assert(t.tarCol == "tar" && t.shards == 4 && t.batchCol.isEmpty)
    val t2 = root("""
      {"source": {"path": "/x"},
       "tar_compact": {"tar_col": "blob", "shards": 2, "batch_col": "batch_id"}}""")
      .op[TarCompactSpec].get
    assert(t2.tarCol == "blob" && t2.batchCol.contains("batch_id"))
    val e = intercept[IllegalArgumentException](root(
      """{"tar_compact": {"tar_col": "tar"}}"""))
    assert(e.getMessage.contains("shards"))
  }

  test("ann_index / ann_search node keys decode with defaults and named errors") {
    val ai = root("""
      {"source": {"table": "e"},
       "ann_index": {"id_col": "vid", "vec_col": "emb", "dir": "/idx"}}""")
      .op[AnnIndexSpec].get
    assert(ai.nlist == 16 && ai.refineRounds == 0 && ai.dir == "/idx")
    val as = root("""
      {"source": {"table": "q"},
       "ann_search": {"id_col": "qid", "vec_col": "emb",
                      "index_dir": "/idx", "k": 3, "nprobe": 16}}""")
      .op[AnnSearchSpec].get
    assert(as.k == 3 && as.nprobe == 16 && as.indexDir == "/idx")
    assert(root("""
      {"source": {"table": "q"},
       "ann_search": {"id_col": "qid", "vec_col": "emb", "index_dir": "/i"}}""")
      .op[AnnSearchSpec].exists(x => x.k == 10 && x.nprobe == 4))
    val e = intercept[IllegalArgumentException](root(
      """{"ann_index": {"id_col": "a", "vec_col": "v"}}"""))
    assert(e.getMessage.contains("dir"))
    val e2 = intercept[IllegalArgumentException](root(
      """{"ann_index": {"id_col": "a", "vec_col": "v", "dir": "/x", "nlist": 0}}"""))
    assert(e2.getMessage.contains("nlist"))
    val e3 = intercept[IllegalArgumentException](root(
      """{"ann_search": {"id_col": "a", "vec_col": "v", "index_dir": "/x", "nprobe": 0}}"""))
    assert(e3.getMessage.contains("nprobe"))
    val e4 = intercept[IllegalArgumentException](root(
      """{"ann_search": {"id_col": "match_id", "vec_col": "v", "index_dir": "/x"}}"""))
    assert(e4.getMessage.contains("match_id"))
    // append mode decodes; fit params under append are a named contradiction
    assert(root("""
      {"source": {"table": "e"},
       "ann_index": {"id_col": "a", "vec_col": "v", "dir": "/i",
                     "mode": "append"}}""").op[AnnIndexSpec].get.mode == "append")
    val e5 = intercept[IllegalArgumentException](root(
      """{"ann_index": {"id_col": "a", "vec_col": "v", "dir": "/i",
          "mode": "append", "nlist": 8}}"""))
    assert(e5.getMessage.contains("append") && e5.getMessage.contains("nlist"))
    val e6 = intercept[IllegalArgumentException](root(
      """{"ann_index": {"id_col": "a", "vec_col": "v", "dir": "/i",
          "mode": "rebuild"}}"""))
    assert(e6.getMessage.contains("mode"))
    // ann_probe: defaults, threshold bounds, column-collision guard
    val ap = root("""
      {"source": {"table": "d"},
       "ann_probe": {"vec_col": "emb", "index_dir": "/i", "threshold": 0.8}}""")
      .op[AnnProbeSpec].get
    assert(ap.scoreCol == "ann_score" && ap.flagCol == "ann_match")
    val e7 = intercept[IllegalArgumentException](root(
      """{"ann_probe": {"vec_col": "v", "index_dir": "/i", "threshold": 2.0}}"""))
    assert(e7.getMessage.contains("threshold"))
    val e8 = intercept[IllegalArgumentException](root(
      """{"ann_probe": {"vec_col": "v", "index_dir": "/i", "threshold": 0.5,
          "score_col": "x", "flag_col": "x"}}"""))
    assert(e8.getMessage.contains("differ"))
    intercept[IllegalArgumentException](root(
      """{"ann_probe": {"vec_col": "v", "index_dir": "/i"}}"""))
  }

  test("quantile_filter node key decodes with defaults and named errors") {
    val qf = root("""
      {"source": {"table": "d"},
       "quantile_filter": {"col": "score", "keep_n": 1000000}}""")
      .op[QuantileFilterSpec].get
    assert(qf.col == "score" && qf.keepN == 1000000L)
    assert(qf.descending && qf.relativeError == 1e-4)
    val asc = root("""
      {"source": {"table": "d"},
       "quantile_filter": {"col": "nll", "keep_n": 5, "descending": false,
                           "relative_error": 0}}""").op[QuantileFilterSpec].get
    assert(!asc.descending && asc.relativeError == 0.0)
    val e = intercept[IllegalArgumentException](root(
      """{"quantile_filter": {"col": "s"}}"""))
    assert(e.getMessage.contains("keep_n"))
    val e2 = intercept[IllegalArgumentException](root(
      """{"quantile_filter": {"col": "s", "keep_n": 0}}"""))
    assert(e2.getMessage.contains("keep_n"))
    val e3 = intercept[IllegalArgumentException](root(
      """{"quantile_filter": {"col": "s", "keep_n": 5, "relative_error": 1.0}}"""))
    assert(e3.getMessage.contains("relative_error"))
  }

  test("expect node key decodes as ordered (name, expr) rules; empty expr rejected") {
    val ex = root("""
      {"expect": {"a_rule": "x > 0", "b_rule": "y IS NOT NULL"}}""").op[ExpectSpec].get.rules
    assert(ex == Seq("a_rule" -> "x > 0", "b_rule" -> "y IS NOT NULL"))
    assert(root("""{"source": {"table": "t"}}""").op[ExpectSpec].isEmpty)
    assert(intercept[IllegalArgumentException](root(
      """{"expect": {"bad": ""}}""")).getMessage.contains("bad"))
  }

  test("funnel node key decodes with defaults and named errors") {
    val fu = root("""
      {"funnel": {"key_col": "user_id", "ts_col": "ts", "event_col": "event_type",
                  "steps": ["view", "click", "purchase"]}}""").op[FunnelSpec].get
    assert(fu.keyCol == "user_id" && fu.steps == Seq("view", "click", "purchase"))
    assert(fu.window.isEmpty)
    val fw = root("""
      {"funnel": {"key_col": "u", "ts_col": "t", "event_col": "e",
                  "steps": ["a", "b"], "window": "2 hours"}}""").op[FunnelSpec].get
    assert(fw.window.contains("2 hours"))
    assert(intercept[IllegalArgumentException](root("""
      {"funnel": {"key_col": "u", "ts_col": "t", "event_col": "e",
                  "steps": []}}""")).getMessage.contains("steps"))
    assert(intercept[IllegalArgumentException](root("""
      {"funnel": {"key_col": "u", "ts_col": "t", "event_col": "e",
                  "steps": ["a", "a"]}}""")).getMessage.contains("distinct"))
    assert(intercept[IllegalArgumentException](root("""
      {"funnel": {"key_col": "u", "ts_col": "t", "steps": ["a"]}}"""))
      .getMessage.contains("event_col"))
  }

  test("range_join node key decodes with defaults and named errors") {
    val rj = root("""
      {"range_join": {"intervals_ref": "bands", "point_col": "x",
                      "lo_col": "lo", "hi_col": "hi", "bucket": 10}}""")
      .op[RangeJoinSpec].get
    assert(rj.intervalsRef == "bands" && rj.pointCol == "x" &&
      rj.bucket == 10.0 && rj.on.isEmpty && rj.payload.isEmpty &&
      rj.how == "inner" && !rj.inclusiveHi && !rj.broadcast &&
      rj.maxBucketsPerInterval == (1 << 16))
    val rj2 = root("""
      {"range_join": {"intervals_ref": "b", "point_col": "x",
                      "lo_col": "l", "hi_col": "h", "bucket": 0.5,
                      "on": ["k"], "payload": ["tag"], "how": "left",
                      "inclusive_hi": true, "broadcast": true,
                      "max_buckets_per_interval": 128}}""").op[RangeJoinSpec].get
    assert(rj2.on == Seq("k") && rj2.payload == Seq("tag") &&
      rj2.how == "left" && rj2.inclusiveHi && rj2.broadcast &&
      rj2.maxBucketsPerInterval == 128)
    assert(intercept[IllegalArgumentException](root("""
      {"range_join": {"intervals_ref": "b", "point_col": "x",
                      "lo_col": "l", "hi_col": "h", "bucket": 0}}"""))
      .getMessage.contains("bucket"))
    assert(intercept[IllegalArgumentException](root("""
      {"range_join": {"intervals_ref": "b", "point_col": "x",
                      "lo_col": "l", "hi_col": "h", "bucket": 1,
                      "how": "full"}}""")).getMessage.contains("how"))
    assert(intercept[IllegalArgumentException](root("""
      {"range_join": {"intervals_ref": "b", "point_col": "x",
                      "lo_col": "l", "bucket": 1}}"""))
      .getMessage.contains("hi_col"))
  }

  test("overlap_join node key decodes with defaults and named errors") {
    val oj = root("""
      {"overlap_join": {"other_ref": "outages", "lo_col": "lo",
                        "hi_col": "hi", "bucket": 3600}}""").op[OverlapJoinSpec].get
    assert(oj.otherRef == "outages" && oj.loCol == "lo" && oj.hiCol == "hi" &&
      oj.bucket == 3600.0 && oj.otherLoCol.isEmpty && oj.otherHiCol.isEmpty &&
      oj.on.isEmpty && oj.payload.isEmpty && !oj.inclusive && !oj.broadcast &&
      oj.maxBucketsPerInterval == (1 << 16) && oj.how == "inner")
    val oj2 = root("""
      {"overlap_join": {"ref": "o", "lo_col": "l", "hi_col": "h",
                        "bucket": 0.5, "other_lo_col": "ol",
                        "other_hi_col": "oh", "on": ["k"],
                        "payload": ["tag", "ol", "oh"], "inclusive": true,
                        "broadcast": true, "how": "left",
                        "max_buckets_per_interval": 64}}""").op[OverlapJoinSpec].get
    assert(oj2.otherRef == "o" && oj2.otherLoCol.contains("ol") &&
      oj2.otherHiCol.contains("oh") && oj2.on == Seq("k") &&
      oj2.payload == Seq("tag", "ol", "oh") && oj2.inclusive &&
      oj2.broadcast && oj2.maxBucketsPerInterval == 64 && oj2.how == "left")
    assert(intercept[IllegalArgumentException](root("""
      {"overlap_join": {"other_ref": "o", "lo_col": "l", "hi_col": "h",
                        "bucket": 1, "how": "full"}}"""))
      .getMessage.contains("how"))
    assert(intercept[IllegalArgumentException](root("""
      {"overlap_join": {"other_ref": "o", "lo_col": "l", "hi_col": "h",
                        "bucket": 0}}""")).getMessage.contains("bucket"))
    assert(intercept[IllegalArgumentException](root("""
      {"overlap_join": {"lo_col": "l", "hi_col": "h", "bucket": 1}}"""))
      .getMessage.contains("other_ref"))
    assert(intercept[IllegalArgumentException](root("""
      {"overlap_join": {"other_ref": "o", "lo_col": "l", "bucket": 1}}"""))
      .getMessage.contains("hi_col"))
  }

  test("collocations node key decodes with defaults and named errors") {
    val c = root("""{"collocations": {"text_col": "text"}}""").op[CollocationsSpec].get
    assert(c.textCol == "text" && c.minCount == 5 && c.topK == 100)
    val c2 = root("""
      {"collocations": {"text_col": "body", "min_count": 2,
                        "top_k": 25, "group_cols": ["lang"]}}""")
      .op[CollocationsSpec].get
    assert(c2.textCol == "body" && c2.minCount == 2 && c2.topK == 25 &&
      c2.groupCols == Seq("lang"))
    assert(root("""{"collocations": {"text_col": "t"}}""")
      .op[CollocationsSpec].get.groupCols.isEmpty)
    assert(intercept[IllegalArgumentException](root("""
      {"collocations": {"text_col": "t", "min_count": 0}}"""))
      .getMessage.contains("min_count"))
    assert(intercept[IllegalArgumentException](root("""
      {"collocations": {"text_col": "t", "top_k": 0}}"""))
      .getMessage.contains("top_k"))
    assert(intercept[IllegalArgumentException](root("""
      {"collocations": {"min_count": 3}}"""))
      .getMessage.contains("text_col"))
  }

  test("connected_components node key decodes with defaults and named errors") {
    val cc = root("""
      {"connected_components": {"src_col": "a", "dst_col": "b"}}""")
      .op[ConnectedComponentsSpec].get
    assert(cc.srcCol == "a" && cc.dstCol == "b" && cc.maxIter == 20 &&
      cc.smallGraphEdges == (1L << 20) && cc.checkpointDir.isEmpty)
    val cc2 = root("""
      {"connected_components": {"src_col": "s", "dst_col": "d",
                                "max_iter": 5, "small_graph_edges": 0,
                                "checkpoint_dir": "/tmp/ck"}}""")
      .op[ConnectedComponentsSpec].get
    assert(cc2.maxIter == 5 && cc2.smallGraphEdges == 0L &&
      cc2.checkpointDir.contains("/tmp/ck"))
    assert(intercept[IllegalArgumentException](root("""
      {"connected_components": {"src_col": "a", "dst_col": "a"}}"""))
      .getMessage.contains("must differ"))
    assert(intercept[IllegalArgumentException](root("""
      {"connected_components": {"src_col": "a", "dst_col": "b",
                                "max_iter": 0}}"""))
      .getMessage.contains("max_iter"))
    assert(intercept[IllegalArgumentException](root("""
      {"connected_components": {"src_col": "a", "dst_col": "b",
                                "small_graph_edges": 99999999}}"""))
      .getMessage.contains("small_graph_edges"))
    assert(intercept[IllegalArgumentException](root("""
      {"connected_components": {"src_col": "a"}}"""))
      .getMessage.contains("dst_col"))
  }

  test("diff node key decodes with defaults and named errors") {
    val d = root("""
      {"diff": {"on": ["doc_id"], "ref": "old"}}""").op[DiffSpec].get
    assert(d.on == Seq("doc_id") && d.otherRef == "old" &&
      d.compare.isEmpty && d.statusCol == "diff_status" &&
      d.changedCol == "changed_cols" && !d.includeUnchanged &&
      d.carry == "none")
    val d2 = root("""
      {"diff": {"on": ["k1", "k2"], "other_ref": "prev",
                "compare": ["text"], "status_col": "st",
                "changed_col": "ch", "include_unchanged": true,
                "carry": "new"}}""").op[DiffSpec].get
    assert(d2.on == Seq("k1", "k2") && d2.otherRef == "prev" &&
      d2.compare == Seq("text") && d2.statusCol == "st" &&
      d2.changedCol == "ch" && d2.includeUnchanged && d2.carry == "new")
    assert(intercept[IllegalArgumentException](root("""
      {"diff": {"on": [], "ref": "old"}}""")).getMessage.contains("on"))
    assert(intercept[IllegalArgumentException](root("""
      {"diff": {"on": ["k"], "ref": "old", "carry": "old"}}"""))
      .getMessage.contains("carry"))
    assert(intercept[IllegalArgumentException](root("""
      {"diff": {"on": ["k"], "ref": "old", "status_col": "x",
                "changed_col": "x"}}""")).getMessage.contains("differ"))
    assert(intercept[IllegalArgumentException](root("""
      {"diff": {"on": ["k"]}}""")).getMessage.contains("ref"))
  }

  test("sketch_ingest node key decodes with defaults and named errors") {
    val sk = root("""
      {"sketch_ingest": {"key_col": "domain", "out_dir": "/sk",
                         "checkpoint_dir": "/ck"}}""").op[SketchIngestSpec].get
    assert(sk.keyCol == "domain" && sk.outDir == "/sk" &&
      sk.maxItemsTracked == 10000 && sk.lgK == 12 && sk.groupCols.isEmpty)
    val sk2 = root("""
      {"sketch_ingest": {"key_col": "d", "out_dir": "/sk",
                         "checkpoint_dir": "/ck", "max_items_tracked": 256,
                         "lg_k": 14, "group_cols": ["lang"]}}""").op[SketchIngestSpec].get
    assert(sk2.maxItemsTracked == 256 && sk2.lgK == 14 &&
      sk2.groupCols == Seq("lang"))
    assert(intercept[IllegalArgumentException](root("""
      {"sketch_ingest": {"key_col": "d", "out_dir": "/sk",
                         "checkpoint_dir": "/ck", "lg_k": 30}}"""))
      .getMessage.contains("lg_k"))
    assert(intercept[IllegalArgumentException](root("""
      {"sketch_ingest": {"key_col": "d", "out_dir": "/sk",
                         "checkpoint_dir": "/ck", "group_cols": ["d"]}}"""))
      .getMessage.contains("group"))
    assert(intercept[IllegalArgumentException](root("""
      {"sketch_ingest": {"key_col": "d", "out_dir": "/sk"}}"""))
      .getMessage.contains("checkpoint_dir"))
  }

  test("resample node key decodes with defaults and named errors") {
    val rs = root("""
      {"resample": {"key_cols": ["user_id"], "ts_col": "ts",
                    "step": "6 hours",
                    "aggregations": [{"col": "*", "func": "count",
                                      "new_name": "n"}]}}""").op[ResampleSpec].get
    assert(rs.keyCols == Seq("user_id") && rs.tsCol == "ts" &&
      rs.step == "6 hours" && rs.fill == "none" &&
      rs.maxBucketsPerKey == (1L << 20) && rs.aggs.head.func == "count")
    val rs2 = root("""
      {"resample": {"keys": ["k"], "ts_col": "t", "step": "1 day",
                    "aggs": [{"col": "v", "func": "max"}],
                    "fill": "ffill", "max_buckets_per_key": 100}}""").op[ResampleSpec].get
    assert(rs2.fill == "ffill" && rs2.maxBucketsPerKey == 100)
    assert(intercept[IllegalArgumentException](root("""
      {"resample": {"key_cols": [], "ts_col": "t", "step": "1 day",
                    "aggregations": [{"col": "v"}]}}"""))
      .getMessage.contains("key_cols"))
    assert(intercept[IllegalArgumentException](root("""
      {"resample": {"key_cols": ["k"], "ts_col": "t", "step": "1 day",
                    "aggregations": [{"col": "v"}],
                    "fill": "interpolate"}}"""))
      .getMessage.contains("fill"))
    assert(intercept[IllegalArgumentException](root("""
      {"resample": {"key_cols": ["k"], "ts_col": "t",
                    "aggregations": [{"col": "v"}]}}"""))
      .getMessage.contains("step"))
  }

  test("approx_top_k node key decodes with defaults and named errors") {
    val tk = root("""{"approx_top_k": {"key_col": "domain"}}""").op[ApproxTopKSpec].get
    assert(tk.keyCol == "domain" && tk.k == 10 && tk.maxItemsTracked == 10000)
    val tk2 = root("""
      {"approx_top_k": {"key_col": "k", "k": 25,
                        "max_items_tracked": 65536}}""").op[ApproxTopKSpec].get
    assert(tk2.k == 25 && tk2.maxItemsTracked == 65536)
    assert(intercept[IllegalArgumentException](root(
      """{"approx_top_k": {"key_col": "k", "k": 0}}"""))
      .getMessage.contains("k"))
    assert(intercept[IllegalArgumentException](root("""
      {"approx_top_k": {"key_col": "k", "k": 10,
                        "max_items_tracked": 5}}"""))
      .getMessage.contains("max_items_tracked"))
    assert(intercept[IllegalArgumentException](root(
      """{"approx_top_k": {"k": 3}}""")).getMessage.contains("key_col"))
  }

  test("join direction/tolerance decode; unknown join keys reject by name") {
    val ch = root("""
      {"children": [{"id": "c", "source": {"table": "t"},
        "join": {"how": "asof", "on": ["k"], "left_ts": "t1",
                 "right_ts": "t2", "direction": "forward",
                 "tolerance": "INTERVAL '2 hours'"}}]}""").op[ChildrenSpec].get.children.head
    assert(ch.join.direction == "forward" &&
      ch.join.tolerance.contains("INTERVAL '2 hours'"))
    // defaults
    val ch0 = root("""
      {"children": [{"id": "c", "source": {"table": "t"},
        "join": {"how": "left", "on": ["k"]}}]}""").op[ChildrenSpec].get.children.head
    assert(ch0.join.direction == "backward" && ch0.join.tolerance.isEmpty)
    assert(intercept[IllegalArgumentException](root("""
      {"children": [{"id": "c", "source": {"table": "t"},
        "join": {"how": "asof", "on": ["k"], "left_ts": "a",
                 "right_ts": "b", "direction": "sideways"}}]}"""))
      .getMessage.contains("direction"))
    // direction/tolerance on a non-asof join is a contradiction, not a no-op
    assert(intercept[IllegalArgumentException](root("""
      {"children": [{"id": "c", "source": {"table": "t"},
        "join": {"how": "left", "on": ["k"],
                 "tolerance": "INTERVAL '1 hour'"}}]}"""))
      .getMessage.contains("asof"))
    // a typo'd join key fails loudly instead of silently no-opping
    assert(intercept[IllegalArgumentException](root("""
      {"children": [{"id": "c", "source": {"table": "t"},
        "join": {"how": "asof", "on": ["k"], "left_ts": "a",
                 "right_ts": "b", "tolerence": "INTERVAL '1 hour'"}}]}"""))
      .getMessage.contains("tolerence"))
  }

  test("unpivot node key decodes with defaults and named errors") {
    val u = root("""{"unpivot": {"ids": ["k"]}}""").op[UnpivotSpec].get
    assert(u.ids == Seq("k") && u.values.isEmpty &&
      u.varCol == "variable" && u.valCol == "value")
    val u2 = root("""
      {"unpivot": {"ids": ["k", "j"], "values": ["a", "b"],
                   "var_col": "m", "value_col": "v"}}""").op[UnpivotSpec].get
    assert(u2.ids == Seq("k", "j") && u2.values == Seq("a", "b") &&
      u2.varCol == "m" && u2.valCol == "v")
    assert(intercept[IllegalArgumentException](root(
      """{"unpivot": {"ids": []}}""")).getMessage.contains("ids"))
    assert(intercept[IllegalArgumentException](root("""
      {"unpivot": {"ids": ["k"], "var_col": "x", "value_col": "x"}}"""))
      .getMessage.contains("value_col"))
  }

  test("upsample / ranking_eval node keys decode with defaults and named errors") {
    val up = root("""{"upsample": {"factor_col": "f"}}""").op[UpsampleSpec].get
    assert(up.factorCol == "f" && up.copyCol == "copy")
    val up2 = root(
      """{"upsample": {"factor_col": "f", "copy_col": "epoch"}}""").op[UpsampleSpec].get
    assert(up2.copyCol == "epoch")
    assert(intercept[IllegalArgumentException](root("""{"upsample": {}}"""))
      .getMessage.contains("factor_col"))

    val re = root("""
      {"ranking_eval": {"query_col": "q", "doc_col": "d", "rank_col": "r",
                        "qrels_ref": "judgments"}}""").op[RankingEvalSpec].get
    assert(re.queryCol == "q" && re.qrelsRef == "judgments" && re.k == 10)
    val re2 = root("""
      {"ranking_eval": {"query_col": "q", "doc_col": "d", "rank_col": "r",
                        "qrels_ref": "j", "k": 5}}""").op[RankingEvalSpec].get
    assert(re2.k == 5)
    assert(intercept[IllegalArgumentException](root("""
      {"ranking_eval": {"query_col": "q", "doc_col": "d", "rank_col": "r"}}"""))
      .getMessage.contains("qrels_ref"))
    assert(intercept[IllegalArgumentException](root("""
      {"ranking_eval": {"query_col": "q", "doc_col": "d", "rank_col": "r",
                        "qrels_ref": "j", "k": 0}}"""))
      .getMessage.contains("k must be"))
  }

  test("rrf_fuse node key decodes with defaults and named errors") {
    val rf = root("""
      {"rrf_fuse": {"query_col": "q", "doc_col": "d", "rank_col": "r"}}""")
      .op[RrfFuseSpec].get
    assert(rf.queryCol == "q" && rf.docCol == "d" && rf.rankCol == "r")
    assert(rf.topK == 10 && rf.rrfK == 60)
    val rf2 = root("""
      {"rrf_fuse": {"query_col": "q", "doc_col": "d", "rank_col": "r",
                    "top_k": 5, "rrf_k": 0}}""").op[RrfFuseSpec].get
    assert(rf2.topK == 5 && rf2.rrfK == 0)
    assert(intercept[IllegalArgumentException](root(
      """{"rrf_fuse": {"query_col": "q", "doc_col": "d"}}"""))
      .getMessage.contains("rank_col"))
    assert(intercept[IllegalArgumentException](root(
      """{"rrf_fuse": {"query_col": "q", "doc_col": "d", "rank_col": "r",
          "top_k": 0}}""")).getMessage.contains("top_k"))
    assert(intercept[IllegalArgumentException](root(
      """{"rrf_fuse": {"query_col": "q", "doc_col": "d", "rank_col": "r",
          "rrf_k": -1}}""")).getMessage.contains("rrf_k"))
  }

  test("seen_probe / seen_filter / exact_ingest node keys decode with defaults and named errors") {
    val sp = root("""
      {"source": {"table": "d"},
       "seen_probe": {"key_col": "fp", "index_dir": "/idx"}}""").op[SeenProbeSpec].get
    assert(sp.keyCol == "fp" && sp.indexDir == "/idx")
    assert(sp.flagCol == "seen" && sp.expectedKeys == (1L << 22) && sp.fpp == 0.01)
    val sp2 = root("""
      {"seen_probe": {"key_col": "url", "index_dir": "/i",
                      "flag_col": "fetched", "expected_keys": 1024,
                      "fpp": 0.001}}""").op[SeenProbeSpec].get
    assert(sp2.flagCol == "fetched" && sp2.expectedKeys == 1024L && sp2.fpp == 0.001)
    assert(intercept[IllegalArgumentException](root(
      """{"seen_probe": {"key_col": "k"}}""")).getMessage.contains("index_dir"))
    assert(intercept[IllegalArgumentException](root(
      """{"seen_probe": {"key_col": "k", "index_dir": "/i", "fpp": 2}}"""))
      .getMessage.contains("fpp"))

    val sf = root("""
      {"seen_filter": {"key_col": "fp", "index_dir": "/idx"}}""").op[SeenFilterSpec].get
    assert(sf.mode == "drop" && sf.flagCol == "seen")
    val sf2 = root("""
      {"seen_filter": {"key_col": "fp", "index_dir": "/idx",
                       "mode": "flag", "flag_col": "dup"}}""").op[SeenFilterSpec].get
    assert(sf2.mode == "flag" && sf2.flagCol == "dup")
    assert(intercept[IllegalArgumentException](root(
      """{"seen_filter": {"key_col": "k", "index_dir": "/i", "mode": "purge"}}"""))
      .getMessage.contains("drop"))

    val ei = root("""
      {"exact_ingest": {"id_col": "doc_id", "key_cols": ["fp"],
                        "corpus_dir": "/c", "index_dir": "/i",
                        "checkpoint_dir": "/k"}}""").op[ExactIngestSpec].get
    assert(ei.idCol == "doc_id" && ei.keyCols == Seq("fp"))
    assert(ei.corpusDir == "/c" && ei.indexDir == "/i" && ei.checkpointDir == "/k")
    assert(ei.compactEvery.isEmpty)
    assert(intercept[IllegalArgumentException](root(
      """{"exact_ingest": {"id_col": "d", "key_cols": [],
          "corpus_dir": "/c", "index_dir": "/i", "checkpoint_dir": "/k"}}"""))
      .getMessage.contains("key_cols"))
    assert(intercept[IllegalArgumentException](root(
      """{"exact_ingest": {"id_col": "d", "key_cols": ["fp"],
          "corpus_dir": "/c", "index_dir": "/i"}}"""))
      .getMessage.contains("checkpoint_dir"))
    // compact_every decodes on the three area-layout ingests and
    // validates >= 1 with one shared wording
    val eic = root("""
      {"exact_ingest": {"id_col": "d", "key_cols": ["fp"],
        "corpus_dir": "/c", "index_dir": "/i", "checkpoint_dir": "/k",
        "compact_every": 3}}""").op[ExactIngestSpec].get
    assert(eic.compactEvery.contains(3))
    assert(intercept[IllegalArgumentException](root(
      """{"exact_ingest": {"id_col": "d", "key_cols": ["fp"],
          "corpus_dir": "/c", "index_dir": "/i", "checkpoint_dir": "/k",
          "compact_every": 0}}""")).getMessage.contains("compact_every"))
    assert(root("""
      {"near_dup_ingest": {"id_col": "d", "text_col": "t",
        "corpus_dir": "/c", "index_dir": "/i", "checkpoint_dir": "/k",
        "compact_every": 2}}""").op[NearDupIngestSpec].get.compactEvery.contains(2))
    assert(root("""
      {"passage_ingest": {"id_col": "d", "text_col": "t",
        "corpus_dir": "/c", "index_dir": "/i", "checkpoint_dir": "/k",
        "compact_every": 4}}""").op[PassageIngestSpec].get.compactEvery.contains(4))

    val ic = root("""
      {"ingest_compact": {"dirs": ["/c", "/i"], "checkpoint": "/k"}}""")
      .op[IngestCompactSpec].get
    assert(ic.dirs == Seq("/c", "/i") && ic.checkpoint.contains("/k"))
    assert(root("""{"ingest_compact": {"dirs": "/c"}}""")
      .op[IngestCompactSpec].get.dirs == Seq("/c"), "a single dir may be a string")
    assert(intercept[IllegalArgumentException](root(
      """{"ingest_compact": {"dirs": []}}"""))
      .getMessage.contains("dirs"))
    assert(intercept[IllegalArgumentException](root(
      """{"ingest_compact": {"checkpoint": "/k"}}"""))
      .getMessage.contains("dirs"))

    val bi = root("""
      {"bm25_ingest": {"id_col": "doc_id", "text_col": "text",
                       "index_dir": "/i", "checkpoint_dir": "/k"}}""")
      .op[Bm25IngestSpec].get
    assert(bi.idCol == "doc_id" && bi.textCol == "text" &&
      bi.indexDir == "/i" && bi.checkpointDir == "/k")
    assert(intercept[IllegalArgumentException](root(
      """{"bm25_ingest": {"id_col": "d", "text_col": "t",
          "index_dir": "/i"}}""")).getMessage.contains("checkpoint_dir"))
    assert(intercept[IllegalArgumentException](root(
      """{"bm25_ingest": {"id_col": "d", "index_dir": "/i",
          "checkpoint_dir": "/k"}}""")).getMessage.contains("text_col"))

    val ai = root("""
      {"ann_ingest": {"id_col": "vec_id", "vec_col": "embedding",
                      "index_dir": "/i", "checkpoint_dir": "/k"}}""")
      .op[AnnIngestSpec].get
    assert(ai.idCol == "vec_id" && ai.vecCol == "embedding" &&
      ai.indexDir == "/i" && ai.checkpointDir == "/k")
    assert(intercept[IllegalArgumentException](root(
      """{"ann_ingest": {"id_col": "d", "index_dir": "/i",
          "checkpoint_dir": "/k"}}""")).getMessage.contains("vec_col"))
  }

  test("sequence_pack rejects the stated drop_last: false under best_fit") {
    // best_fit keeps every window by construction; an explicit
    // drop_last: false is the one detectable reliance on the key
    val e = intercept[IllegalArgumentException](root("""
      {"sequence_pack": {"id_col": "i", "ids_col": "x", "seq_len": 8,
        "mode": "best_fit", "drop_last": false}}"""))
    assert(e.getMessage.contains("drop_last") && e.getMessage.contains("best_fit"))
    // the DEFAULT (absent key) and the redundant explicit true both pass
    assert(root("""
      {"source": {"table": "d"},
       "sequence_pack": {"id_col": "i", "ids_col": "x", "seq_len": 8,
         "mode": "best_fit", "drop_last": true}}""")
      .op[SequencePackSpec].get.mode == "best_fit")
  }
}
