package graft

import graft.compile.{Compiler, Operators}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The step table's own contract, driven off the table: every streaming
  * root sink rejects a batch compile by name, every batch-only step
  * rejects a streaming compile by name, and a node's steps apply in table
  * order whatever their JSON order. */
class OperatorsSpec extends SparkSpec {

  /** A decodable config for each mode-guarded entry — the coverage
    * assertion below fails when an entry is added without one. */
  private val samples: Map[String, String] = Map(
    "semantic_dedup" -> """{"id_col": "doc_id", "vec_col": "embedding", "threshold": 0.9, "dim": 2}""",
    "passage_dedup" -> """{"id_col": "doc_id", "text_col": "text"}""",
    "bpe" -> """{"text_col": "text"}""",
    "cms_probe" -> """{"key_col": "text", "probes": ["a"]}""",
    "quality_classifier" -> """{"id_col": "doc_id", "text_col": "text", "label_col": "text"}""",
    "multiclass_classifier" -> """{"id_col": "doc_id", "text_col": "text", "label_col": "text"}""",
    "dsir" -> """{"target_ref": "t", "text_col": "text"}""",
    "page_rank" -> """{"src_col": "doc_id", "dst_col": "doc_id"}""",
    "connected_components" -> """{"src_col": "doc_id", "dst_col": "text"}""",
    "collocations" -> """{"text_col": "text"}""",
    "bm25" -> """{"queries_ref": "q", "id_col": "doc_id", "text_col": "text"}""",
    "bm25_index" -> """{"id_col": "doc_id", "text_col": "text", "dir": "/nonexistent"}""",
    "ingest_compact" -> """{"dirs": ["/nonexistent"]}""",
    "bm25_search" -> """{"qid_col": "doc_id", "qtext_col": "text", "index_dir": "/nonexistent"}""",
    "funnel" -> """{"key_col": "doc_id", "ts_col": "doc_id", "event_col": "text", "steps": ["a"]}""",
    "diff" -> """{"on": ["doc_id"], "other_ref": "o"}""",
    "apply_diff" -> """{"on": ["doc_id"], "delta_ref": "d"}""",
    "resample" -> """{"key_cols": ["text"], "ts_col": "doc_id", "step": "1 hour",
                      "aggregations": [{"col": "doc_id", "func": "count"}]}""",
    "approx_top_k" -> """{"key_col": "text"}""",
    "ranking_eval" -> """{"query_col": "doc_id", "doc_col": "doc_id", "rank_col": "doc_id", "qrels_ref": "q"}""",
    "rrf_fuse" -> """{"query_col": "doc_id", "doc_col": "doc_id", "rank_col": "doc_id"}""",
    "ann_index" -> """{"id_col": "doc_id", "vec_col": "embedding", "dir": "/nonexistent"}""",
    "quantile_filter" -> """{"col": "doc_id", "keep_n": 1}""",
    "ann_search" -> """{"id_col": "doc_id", "vec_col": "embedding", "index_dir": "/nonexistent"}""",
    "tar_compact" -> """{"shards": 2}""",
    "sequence_pack" -> """{"id_col": "doc_id", "ids_col": "text", "seq_len": 8}""",
    "profile" -> """{"columns": ["text"]}""",
    "temperature_sample" -> """{"group_col": "text", "id_col": "doc_id", "target_fraction": 0.5}""",
    "token_budget_sample" -> """{"group_col": "text", "id_col": "doc_id", "tokens_col": "doc_id",
                                 "budgets": {"a": 10}}""",
    "global_shuffle" -> """{"id_col": "doc_id", "shards": 2}""",
    "near_dup_ingest" -> """{"id_col": "doc_id", "text_col": "text", "corpus_dir": "/c",
                             "index_dir": "/i", "checkpoint_dir": "/k"}""",
    "passage_ingest" -> """{"id_col": "doc_id", "text_col": "text", "corpus_dir": "/c",
                            "index_dir": "/i", "checkpoint_dir": "/k"}""",
    "tar_pack_ingest" -> """{"name_col": "text", "payload_col": "text", "shards": 2,
                             "out_dir": "/o", "checkpoint_dir": "/k"}""",
    "exact_ingest" -> """{"id_col": "doc_id", "key_cols": ["text"], "corpus_dir": "/c",
                          "index_dir": "/i", "checkpoint_dir": "/k"}""",
    "sketch_ingest" -> """{"key_col": "text", "out_dir": "/o", "checkpoint_dir": "/k"}""",
    "bm25_ingest" -> """{"id_col": "doc_id", "text_col": "text", "index_dir": "/i",
                         "checkpoint_dir": "/k"}""",
    "ann_ingest" -> """{"id_col": "doc_id", "vec_col": "embedding", "index_dir": "/i",
                        "checkpoint_dir": "/k"}""",
    "expect_report" -> """{"positive_id": "doc_id > 0"}"""
  )

  test("operator registry: modes reject by name; operators apply in registry order") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-registry").toString
    val inDir = s"$base/in"
    Seq((1L, "alpha beta", Array(0.1f, 0.2f)), (2L, "gamma", Array(0.3f, 0.4f)))
      .toDF("doc_id", "text", "embedding").write.parquet(inDir)

    val guarded = Operators.all.filter(_.mode match {
      case Operators.Transform(batchOnly, _) => batchOnly.isDefined
      case _: Operators.RootSink => true
    })
    assert(guarded.map(_.key).toSet == samples.keySet,
      "every batch-only or root-sink entry needs a sample config")

    guarded.foreach { o =>
      val op = s""""${o.key}": ${samples(o.key)}"""
      o.mode match {
        case _: Operators.RootSink =>
          val e = intercept[IllegalArgumentException](Compiler.compileJson(spark,
            s"""{"source": {"path": "$inDir"}, $op}"""))
          assert(e.getMessage.contains("STREAMING ROOT sink") &&
            e.getMessage.contains(o.key), e.getMessage)
        case _ =>
          // on a child node: a ROOT profile is the per-batch monitor
          val e = intercept[IllegalArgumentException](Compiler.compileStreamJson(spark,
            s"""{"source": {"path": "$inDir"},
                 "children": [{"id": "c", "source": {"path": "$inDir"}, $op,
                               "join": {"on": ["doc_id"]}}],
                 "save": {"path": "$base/out", "checkpoint": "$base/ck"}}"""))
          val needle = if (o.key == "profile") "must sit on the ROOT node" else "batch-only"
          assert(e.getMessage.contains(needle) && e.getMessage.contains(o.key),
            e.getMessage)
      }
    }

    // Neither JSON key order nor NodeSpec.ops order reorders the steps:
    // every spelling plans the table's derive → filters → keep_columns →
    // upsample → split → global_shuffle → rename → with_columns →
    // post_filters → drop → order_by → limit
    val ops = Seq(
      """"derive": {"f": "2"}""",
      """"filters": ["f > 1"]""",
      """"keep_columns": ["doc_id", "text", "f"]""",
      """"upsample": {"factor_col": "f"}""",
      """"split": {"id_col": "doc_id", "buckets": [{"name": "a", "weight": 0.5},
                                                  {"name": "b", "weight": 0.5}]}""",
      """"global_shuffle": {"id_col": "doc_id", "shards": 2}""",
      """"rename": {"text": "body"}""",
      """"with_columns": {"n": "length(body)"}""",
      """"post_filters": ["n > 0"]""",
      """"drop": ["f"]""",
      """"order_by": ["n desc", "doc_id", "copy"]""",
      """"limit": 3""")
    def spec(keys: Seq[String]) = graft.spec.JsonCodec.parse(
      s"""{"source": {"path": "$inDir"}, ${keys.mkString(", ")}}""")
    def analyzed(p: graft.spec.PipelineSpec) = Compiler.compile(spark, p).queryExecution.analyzed
    def plan(p: graft.spec.PipelineSpec): String =
      analyzed(p).toString.replaceAll("#\\d+L?", "#")
    val forward = plan(spec(ops))
    assert(plan(spec(ops.reverse)) == forward)
    val graft.spec.TreePipeline(root, _, _) = spec(ops)
    assert(plan(graft.spec.TreePipeline(root.copy(ops = root.ops.reverse))) == forward)
    // the core steps pin both ends of the (linear) plan: rename →
    // with_columns → post_filters → drop → order_by → limit on top,
    // derive → filters → keep_columns at the bottom
    def chain(p: LogicalPlan): List[String] =
      p.nodeName :: p.children.headOption.toList.flatMap(chain)
    val names = chain(analyzed(spec(ops)))
    assert(names.take(7) == Seq("GlobalLimit", "LocalLimit", "Sort", "Project", "Filter",
      "Project", "Project"), names)
    assert(names.takeRight(4) == Seq("Project", "Filter", "Project", "LogicalRelation"), names)
  }
}
