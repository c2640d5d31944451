package graft

import graft.spec.AggSpec
import graft.streaming.Streaming
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Batch/stream equivalence: the same Streaming builder applied to a
  * readStream of the events parquet must produce the batch answer once all
  * data is processed (SURVEY §5.5). */
class StreamingSpec extends SparkSpec {

  /** File streaming sources need a directory — stage the single events
    * parquet into a temp dir. */
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  /** Normalization of the raw events `ts` for streaming readers — the same
    * schema-adaptive expression Tables.load applies (int64-nanos vs
    * µs-timestamp corpus generations). */
  private lazy val tsSql: String = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.eventsTsSql(spark.read.parquet(s"$sf/events.parquet"))
  }

  private val aggs = Seq(
    AggSpec("*", "count", Some("n")),
    AggSpec("value", "dsum", Some("sum_value")))

  test("streaming tumbling window equals batch after processAllAvailable") {
    val batchDf = Tables.load(spark, sf, "events")
    val batch = Streaming.windowedAgg(batchDf, "ts", "1 hour", None, Seq("event_type"), aggs)
      .orderBy("win_start", "event_type")
      .collect().map(_.toSeq).toSeq

    // stream the same parquet through an identical plan. The nanos
    // timestamp needs the same normalization as Tables.load.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val streamIn = spark.readStream
      .schema(raw.schema)
      .parquet(eventsDir)
      .withColumn("ts", expr(tsSql))
    val agg = Streaming.windowedAgg(
      streamIn, "ts", "1 hour", None, Seq("event_type"), aggs,
      watermark = Some("10 minutes"))
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("stream_tumbling")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("stream_tumbling")
      .orderBy("win_start", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("a batch-authored config spec compiles against a readStream input") {
    // The same NodeSpec the batch engine runs (filters + groupBy agg)
    // compiled with a streaming DataFrame as input — SURVEY §3's
    // "identical spec, batch and stream compile targets".
    val spec = graft.spec.JsonCodec.parseNode("""
      {"id": "s",
       "filters": ["value > 10"],
       "group_by": ["event_type"],
       "aggregations": [
         {"col": "*", "func": "count", "new_name": "n"},
         {"col": "value", "func": "dsum", "new_name": "sum_value"}]}""")

    val batchDf = Tables.load(spark, sf, "events")
    val batch = graft.compile.Compiler
      .compileNode(spark, spec, Some(batchDf))
      .orderBy("event_type").collect().map(_.toSeq).toSeq

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val streamIn = spark.readStream.schema(raw.schema).parquet(eventsDir)
      .withColumn("ts", expr(tsSql))
    val agg = graft.compile.Compiler.compileNode(spark, spec, Some(streamIn))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("stream_config")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("stream_config")
      .orderBy("event_type").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("config-declared streaming pipeline (watermark + window + sink) equals batch") {
    // The full streaming surface from ONE config: readStream source,
    // derived event-time column, watermark, windowed agg, writeStream
    // memory sink with trigger — and the IDENTICAL spec compiled batch.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val json = s"""
      {"id": "cfg",
       "source": {"format": "parquet", "path": "$eventsDir"},
       "derive": {"ts2": "$tsSql",
                  "win": "window(ts2, '1 hour')"},
       "watermark": {"col": "ts2", "delay": "10 minutes"},
       "aggregate": {"group_by": ["win", "event_type"],
         "aggregations": [
           {"col": "*", "func": "count", "new_name": "n"},
           {"col": "value", "func": "dsum", "new_name": "sum_value"}]},
       "with_columns": {"win_start": "win.start"},
       "save": {"format": "memory", "query_name": "cfg_stream",
                "trigger": "available_now", "output_mode": "complete"}}"""

    val spec = graft.spec.JsonCodec.parse(json)
    val batch = graft.compile.Compiler.compile(spark, spec, executeSinks = false)
      .orderBy("win_start", "event_type").collect().map(_.toSeq).toSeq

    val q = graft.compile.Compiler.compileStream(spark, spec)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("cfg_stream")
      .orderBy("win_start", "event_type").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("stream-stream interval join equals the batch interval join") {
    val ev = Tables.load(spark, sf, "events")
    def split(df: org.apache.spark.sql.DataFrame) = (
      df.filter(expr("event_type = 'purchase'"))
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts")),
      df.filter(expr("event_type = 'click'"))
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts")))
    val (bp, bc) = split(ev)
    val batch = Streaming.intervalJoin(bp, bc, Seq("user_id"), "p_ts", "c_ts", "1 HOUR")
      .select("purchase_id", "click_id")
      .orderBy("purchase_id", "click_id").collect().map(_.toSeq).toSeq

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    def streamIn() = spark.readStream.schema(raw.schema).parquet(eventsDir)
      .withColumn("ts", expr(tsSql))
    val (sp, sc) = split(streamIn())
    val joined = Streaming.intervalJoin(
      sp, sc, Seq("user_id"), "p_ts", "c_ts", "1 HOUR",
      watermarks = Some(("10 minutes", "10 minutes")))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("stream_interval")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("stream_interval")
      .select("purchase_id", "click_id")
      .orderBy("purchase_id", "click_id").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("config-declared stream-stream interval join equals batch compile of the same spec") {
    // ONE spec, two engines: `join.how = "interval"` with a `stream: true`
    // child source — batch compile gives the oracle-checkable equi-join +
    // range filter (q65's shape), compileStream runs it as a genuine
    // stream-stream join with both watermark delays bounding join state.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val json = s"""
      {"id": "p",
       "source": {"format": "parquet", "path": "$eventsDir"},
       "filters": [{"col": "event_type", "op": "==", "value": "purchase"}],
       "derive": {"p_ts": "$tsSql"},
       "keep_columns": ["event_id", "user_id", "p_ts"],
       "rename": {"event_id": "purchase_id"},
       "children": [
         {"id": "c",
          "source": {"format": "parquet", "path": "$eventsDir", "stream": true},
          "filters": [{"col": "event_type", "op": "==", "value": "click"}],
          "derive": {"c_ts": "$tsSql"},
          "keep_columns": ["event_id", "user_id", "c_ts"],
          "rename": {"event_id": "click_id"},
          "join": {"on": ["user_id"], "how": "interval",
                   "left_ts": "p_ts", "right_ts": "c_ts", "lookback": "1 HOUR",
                   "left_delay": "10 minutes", "right_delay": "10 minutes"}}],
       "save": {"format": "memory", "query_name": "cfg_interval",
                "trigger": "available_now", "output_mode": "append"}}"""
    val spec = graft.spec.JsonCodec.parse(json)
    val batch = graft.compile.Compiler.compile(spark, spec, executeSinks = false)
      .orderBy("purchase_id", "click_id").collect().map(_.toSeq).toSeq
    val q = graft.compile.Compiler.compileStream(spark, spec)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("cfg_interval")
      .orderBy("purchase_id", "click_id").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("config-declared streaming CONTENT dedup: fingerprint key within watermark") {
    // The streaming counterpart of q60's content-dedup stage: the dedup key
    // is a DERIVED content fingerprint (registered SQL function), not a
    // natural key — continuous-ingest near-dup control from one config.
    // Doubled input (same parquet staged twice) → every text arrives ≥ 2×.
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_docs")
    for (n <- Seq("a", "b"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/documents.parquet"), dir.resolve(s"$n.parquet"))
    graft.functions.Registry.registerAll(spark)
    val q = graft.compile.Compiler.compileStreamJson(spark, s"""
      {"id": "cfg_content_dd",
       "source": {"format": "parquet", "path": "$dir"},
       "derive": {"fp": "doc_fingerprint(text)",
                  "ts2": "timestamp_micros((doc_id + 100000) * 1000000)"},
       "watermark": {"col": "ts2", "delay": "1 hour"},
       "dedup": {"keys": ["fp"], "within_watermark": true},
       "save": {"format": "memory", "query_name": "cfg_content_dedup",
                "trigger": "available_now", "output_mode": "append"}}""")
    q.processAllAvailable(); q.stop()
    val distinctFp = Tables.load(spark, sf, "documents")
      .select(graft.ops.TextAnalysis.fingerprint(col("text"))).distinct().count()
    assert(spark.table("cfg_content_dedup").count() == distinctFp)
    assert(spark.table("cfg_content_dedup").groupBy("fp").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("streaming dedup drops within-watermark duplicates") {
    import spark.implicits._
    // duplicate every event once by unioning the staged dir with itself
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val streamIn = spark.readStream.schema(raw.schema).parquet(eventsDir)
      .withColumn("ts", expr(tsSql))
    val doubled = streamIn.unionByName(streamIn)
    val q = Streaming.dedup(doubled, Seq("event_id"), "ts", Some("1 hour"))
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_dedup")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val n = spark.table("stream_dedup").count()
    val distinctIds = Tables.load(spark, sf, "events").select("event_id").distinct().count()
    assert(n == distinctIds)
    assert(spark.table("stream_dedup").groupBy("event_id").count()
      .filter($"count" > 1).count() == 0)
  }

  test("config-declared streaming dedup drops within-watermark duplicates") {
    // doubled input: the same events parquet staged twice in one dir
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_dbl")
    for (n <- Seq("a", "b"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve(s"$n.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val q = graft.compile.Compiler.compileStreamJson(spark, s"""
      {"id": "cfg_dd",
       "source": {"format": "parquet", "path": "$dir"},
       "derive": {"ts2": "$tsSql"},
       "watermark": {"col": "ts2", "delay": "1 hour"},
       "dedup": {"keys": ["event_id"], "within_watermark": true},
       "save": {"format": "memory", "query_name": "cfg_stream_dedup",
                "trigger": "available_now", "output_mode": "append"}}""")
    q.processAllAvailable(); q.stop()
    val distinctIds = Tables.load(spark, sf, "events").select("event_id").distinct().count()
    assert(spark.table("cfg_stream_dedup").count() == distinctIds)

    // within_watermark without a watermark is a config error, caught eagerly
    intercept[IllegalArgumentException] {
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"source": {"format": "parquet", "path": "$dir"},
         "dedup": {"keys": ["event_id"], "within_watermark": true},
         "save": {"format": "memory", "query_name": "x", "trigger": "available_now"}}""")
    }
  }

  test("streaming session window equals batch") {
    val batchDf = Tables.load(spark, sf, "events")
    val batch = Streaming.sessionAgg(batchDf, "ts", "30 minutes", Seq("user_id"), aggs)
      .orderBy("user_id", "session_start")
      .collect().map(_.toSeq).toSeq

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val streamIn = spark.readStream
      .schema(raw.schema)
      .parquet(eventsDir)
      .withColumn("ts", expr(tsSql))
    val agg = Streaming.sessionAgg(
      streamIn, "ts", "30 minutes", Seq("user_id"), aggs,
      watermark = Some("10 minutes"))
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("stream_session")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("stream_session")
      .orderBy("user_id", "session_start")
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("latestPerKey: streaming snapshot equals batch changelog compaction") {
    val batchDf = Tables.load(spark, sf, "events")
    // batch oracle path: the compaction operator (no tombstones here —
    // latestPerKey leaves tombstone filtering to the sink contract)
    val batch = graft.ops.Relational.compactChangelog(
        batchDf.select("user_id", "event_id", "ts", "value"),
        Seq("user_id"),
        Seq(col("ts").desc, col("event_id").desc),
        isDelete = lit(false))
      .orderBy("user_id")
      .collect().map(_.toSeq).toSeq

    // same snapshot as a streaming-legal aggregation, batch first
    val viaAgg = Streaming.latestPerKey(
        batchDf.select("user_id", "event_id", "ts", "value"),
        Seq("user_id"), Seq("ts", "event_id"), Seq("event_id", "ts", "value"))
      .select("user_id", "event_id", "ts", "value")
      .orderBy("user_id")
      .collect().map(_.toSeq).toSeq
    assert(viaAgg == batch)

    // and under readStream (complete mode = the maintained snapshot)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val streamIn = spark.readStream
      .schema(raw.schema)
      .parquet(eventsDir)
      .withColumn("ts", expr(tsSql))
    val snap = Streaming.latestPerKey(
      streamIn.select("user_id", "event_id", "ts", "value"),
      Seq("user_id"), Seq("ts", "event_id"), Seq("event_id", "ts", "value"))
    val q = snap.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("stream_latest")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("stream_latest")
      .select("user_id", "event_id", "ts", "value")
      .orderBy("user_id")
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("config compact: the same JSON snapshots batch AND as a stream") {
    // batch compile uses the rank formulation (compactChangelog);
    // streaming compile rewrites to the max_by aggregation
    // (latestPerKey) — same spec, same snapshot.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val json = s"""
      {"id": "cc",
       "source": {"format": "parquet", "path": "$eventsDir"},
       "derive": {"ts2": "$tsSql"},
       "keep_columns": ["user_id", "event_id", "ts2", "event_type", "value"],
       "compact": {"keys": ["user_id"],
                   "version_order": ["ts2 desc", "event_id desc"],
                   "delete_when": "event_type = 'error'"},
       "save": {"format": "memory", "query_name": "cc_stream",
                "trigger": "available_now", "output_mode": "complete"}}"""
    val spec = graft.spec.JsonCodec.parse(json)
    val cols = Seq("user_id", "event_id", "ts2", "event_type", "value")
    val batchDf = graft.compile.Compiler.compile(spark, spec, executeSinks = false)
    val batch = batchDf
      .select(cols.map(col): _*)
      .orderBy("user_id").collect().map(_.toSeq).toSeq

    val q = graft.compile.Compiler.compileStream(spark, spec)
    q.processAllAvailable(); q.stop()
    val streamedDf = spark.table("cc_stream")
    // same spec → same SCHEMA, not just same values: the streaming
    // rewrite restores the node's input column order after latestPerKey
    assert(streamedDf.columns.toSeq == batchDf.columns.toSeq)
    val streamed = streamedDf
      .select(cols.map(col): _*)
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)

    // mixed-direction version order is rejected under streaming, with a
    // named error (max_by can't express it)
    val mixed = graft.spec.JsonCodec.parse(json.replace(
      "\"ts2 desc\", \"event_id desc\"", "\"ts2 desc\", \"event_id asc\""))
    val err = intercept[IllegalArgumentException] {
      graft.compile.Compiler.compileStream(spark, mixed)
    }
    assert(err.getMessage.contains("all-DESC"))

    // a BARE column would default asc in the batch path (oldest wins)
    // while max_by takes latest — divergent snapshots, so it is rejected
    val bare = graft.spec.JsonCodec.parse(json.replace(
      "\"ts2 desc\", \"event_id desc\"", "\"ts2\", \"event_id desc\""))
    val bareErr = intercept[IllegalArgumentException] {
      graft.compile.Compiler.compileStream(spark, bare)
    }
    assert(bareErr.getMessage.contains("all-DESC"))

    // 'desc nulls first' ranks null versions first in batch but max_by
    // ranks nulls last — rejected rather than silently divergent
    val nf = graft.spec.JsonCodec.parse(json.replace(
      "\"ts2 desc\", \"event_id desc\"",
      "\"ts2 desc nulls first\", \"event_id desc\""))
    val nfErr = intercept[IllegalArgumentException] {
      graft.compile.Compiler.compileStream(spark, nf)
    }
    assert(nfErr.getMessage.contains("nulls"))
  }

  test("runningTotals (flatMapGroupsWithState): stream equals batch equals q77 window") {
    val batchDf = Tables.load(spark, sf, "events")
    // the q77 window formulation is the ground truth
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val windowed = batchDf
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        count(lit(1)).over(w).as("running_n"),
        graft.ops.Relational.runningDSum(col("value"), w).as("running_value"))
      .orderBy("user_id", "event_id")
      .collect().map(_.toSeq).toSeq

    // batch execution of the stateful op: one group call per key
    val viaState = Streaming.runningTotals(
        batchDf, "user_id", "event_id", "ts", "value")
      .orderBy("user_id", "event_id")
      .collect().map(_.toSeq).toSeq
    assert(viaState == windowed,
      "stateful batch totals must equal the window formulation")

    // streaming execution: state carries (n, sum) across micro-batches
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val streamIn = spark.readStream
      .schema(raw.schema)
      .parquet(eventsDir)
      .withColumn("ts", expr(tsSql))
    val totals = Streaming.runningTotals(
      streamIn, "user_id", "event_id", "ts", "value")
    val q = totals.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_totals")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("stream_totals")
      .orderBy("user_id", "event_id")
      .collect().map(_.toSeq).toSeq
    assert(streamed == windowed)
  }

  test("running_totals config key: config-stream equals config-batch equals q77 window") {
    // ONE spec, declared in JSON; the `running_totals` node key compiles
    // batch (oracle-checkable, = q77's window formulation) and streaming
    // (flatMapGroupsWithState) — the full config surface of the custom-
    // state op, per-key cumulative totals of the event stream.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val json = s"""
      {"source": {"format": "parquet", "path": "$eventsDir"},
       "derive": {"ts2": "$tsSql"},
       "keep_columns": ["user_id", "event_id", "ts2", "value"],
       "running_totals": {"key_col": "user_id", "seq_col": "event_id",
                          "ts_col": "ts2", "value_col": "value"},
       "save": {"format": "memory", "query_name": "cfg_totals",
                "output_mode": "append", "trigger": "available_now"}}"""
    val spec = graft.spec.JsonCodec.parse(json)

    // ground truth: the q77 window formulation on the same rows
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val windowed = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("running_n"),
        graft.ops.Relational.runningDSum(col("value"), w).as("running_value"))
      .orderBy("user_id", "event_id")
      .collect().map(_.toSeq).toSeq

    // batch compile of the spec (sinks off — memory sinks are stream-only)
    val batch = graft.compile.Compiler.compile(spark, spec, executeSinks = false)
      .select("user_id", "event_id", "running_n", "running_value")
      .orderBy("user_id", "event_id")
      .collect().map(_.toSeq).toSeq
    assert(batch == windowed, "config-batch totals must equal the window formulation")

    // streaming compile of the SAME spec
    val q = graft.compile.Compiler.compileStream(spark, spec)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cfg_totals")
      .select("user_id", "event_id", "running_n", "running_value")
      .orderBy("user_id", "event_id")
      .collect().map(_.toSeq).toSeq
    assert(streamed == windowed, "config-stream totals must equal the window formulation")
  }

  test("nearDupIngest: later micro-batches dedup against earlier ones via the persisted index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val base = java.nio.file.Files.createTempDirectory("graft_ndi").toString
    val q = Streaming.nearDupIngest(
      mem.toDF.toDF("doc_id", "text"), "doc_id", "text",
      s"$base/corpus", s"$base/index", s"$base/ckpt",
      shingleSize = 2, threshold = 0.5)
    try {
      val tA = "alpha beta gamma delta epsilon zeta eta theta"
      val tB = "one two three four five six seven eight nine ten"
      mem.addData((1L, tA), (2L, tB))
      q.processAllAvailable()
      val afterFirst = spark.read.parquet(s"$base/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(afterFirst == Set(1L, 2L), "first batch has no history to collide with")

      mem.addData(
        (3L, tA + " iota"), // jaccard 7/8 vs corpus doc 1 → dropped (tier 2)
        (4L, "completely fresh unrelated content words here indeed"),
        (5L, "completely fresh unrelated content words here indeed extra")) // in-batch dup of 4
      q.processAllAvailable()
      val ids = spark.read.parquet(s"$base/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 4L),
        s"3 dropped against batch-1 corpus, 5 dropped in-batch (min-id winner 4): got $ids")

      // the growing index stays probe-shaped: one row per (doc, band)
      val idx = spark.read.parquet(s"$base/index")
      assert(idx.select("doc_id").distinct().collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
      assert(idx.count() == 3 * 16, "16 band rows per admitted doc")

      // RESTART: stop the query, start a fresh one on the same
      // checkpoint/dirs — dedup history must carry over (it lives in the
      // persisted index, not in streaming state)
      q.stop()
      val q2 = Streaming.nearDupIngest(
        mem.toDF.toDF("doc_id", "text"), "doc_id", "text",
        s"$base/corpus", s"$base/index", s"$base/ckpt",
        shingleSize = 2, threshold = 0.5)
      try {
        mem.addData(
          (6L, tB + " eleven"), // near-dup of PRE-restart corpus doc 2
          (7L, "entirely new words that match nothing else at all"))
        q2.processAllAvailable()
        val after = spark.read.parquet(s"$base/corpus")
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(after == Set(1L, 2L, 4L, 7L),
          s"6 must dedup against history admitted before the restart: got $after")
      } finally q2.stop()
    } finally q.stop()
  }

  test("nearDupIngest/passageIngest compact_every: in-stream area folds keep decisions exact and areas few-dir") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def nDirs(a: String): Int = new java.io.File(a).listFiles()
      .map(_.getName).count(_.startsWith("batch="))

    // near-dup: the same decisions as the fold-free test above, under
    // compact_every=1 (a fold after every batch past the first)
    locally {
      val mem = MemoryStream[(Long, String)]
      val base = java.nio.file.Files.createTempDirectory("graft_ndice").toString
      val q = Streaming.nearDupIngest(
        mem.toDF.toDF("doc_id", "text"), "doc_id", "text",
        s"$base/corpus", s"$base/index", s"$base/ckpt",
        shingleSize = 2, threshold = 0.5, compactEvery = Some(1))
      try {
        val tA = "alpha beta gamma delta epsilon zeta eta theta"
        mem.addData((1L, tA)); q.processAllAvailable()
        mem.addData((2L, "one two three four five six seven"))
        q.processAllAvailable()
        mem.addData((3L, tA + " iota"), // near-dup of FOLDED doc 1
          (4L, "completely fresh unrelated content words here"))
        q.processAllAvailable()
        val ids = spark.read.parquet(s"$base/corpus")
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(ids == Set(1L, 2L, 4L),
          s"3 must drop against the folded corpus/index: $ids")
        assert(nDirs(s"$base/corpus") <= 2 && nDirs(s"$base/index") <= 2,
          s"areas compact: ${nDirs(s"$base/corpus")}/${nDirs(s"$base/index")}")
        // band rows survive folding intact: 16 per admitted doc
        assert(spark.read.parquet(s"$base/index").count() == 3 * 16)
      } finally q.stop()
    }

    // passage: span history survives the fold (the indexed corpus is
    // the CLEANED text either way)
    locally {
      val mem = MemoryStream[(Long, String)]
      val base = java.nio.file.Files.createTempDirectory("graft_pice").toString
      val words = (1 to 50).map(i => s"w$i").mkString(" ")
      val fresh = (1 to 50).map(i => s"x$i").mkString(" ")
      val q = Streaming.passageIngest(
        mem.toDF.toDF("doc_id", "text"), "doc_id", "text",
        s"$base/corpus", s"$base/index", s"$base/ckpt",
        windowTokens = 50, compactEvery = Some(1))
      try {
        mem.addData((1L, words)); q.processAllAvailable()
        mem.addData((2L, fresh)); q.processAllAvailable() // fold fires
        mem.addData((3L, words)) // full duplicate of FOLDED doc 1 → drops
        q.processAllAvailable()
        val ids = spark.read.parquet(s"$base/corpus")
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(ids == Set(1L, 2L),
          s"3 must strip to empty against folded history: $ids")
        assert(nDirs(s"$base/corpus") <= 2 && nDirs(s"$base/index") <= 2)
      } finally q.stop()
    }
  }

  test("near_dup_ingest config: same admit/reject decisions as the API path, restart included") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ndi_cfg").toString
    val inDir = s"$base/in"
    def push(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(inDir)
    val json = s"""
      {"source": {"path": "$inDir"},
       "near_dup_ingest": {"id_col": "doc_id", "text_col": "text",
                           "corpus_dir": "$base/corpus",
                           "index_dir": "$base/index",
                           "checkpoint_dir": "$base/ckpt",
                           "shingle_size": 2, "threshold": 0.5}}"""
    val tA = "alpha beta gamma delta epsilon zeta eta theta"
    val tB = "one two three four five six seven eight nine ten"
    push((1L, tA), (2L, tB)) // file source infers schema from a batch read
    val q = graft.compile.Compiler.compileStreamJson(spark, json)
    try {
      q.processAllAvailable()
      // mirror the API test's fixture: 3 near-dups corpus doc 1, 5 is an
      // in-batch dup of 4 → the config path must make the same decisions
      push((3L, tA + " iota"),
        (4L, "completely fresh unrelated content words here indeed"),
        (5L, "completely fresh unrelated content words here indeed extra"))
      q.processAllAvailable()
      val ids = spark.read.parquet(s"$base/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 4L), s"config path decisions diverged: got $ids")
    } finally q.stop()
    // restart from the SAME json: history must carry over the stop
    val q2 = graft.compile.Compiler.compileStreamJson(spark, json)
    try {
      push((6L, tB + " eleven"), // near-dup of pre-restart corpus doc 2
        (7L, "entirely new words that match nothing else at all"))
      q2.processAllAvailable()
      val after = spark.read.parquet(s"$base/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(after == Set(1L, 2L, 4L, 7L),
        s"restarted config stream must dedup against pre-restart history: got $after")
    } finally q2.stop()
    // guard rails: batch compiles and a save+ingest root reject by name
    val eBatch = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileJson(spark, s"""
        {"source": {"path": "$inDir"},
         "near_dup_ingest": {"id_col": "doc_id", "text_col": "text",
                             "corpus_dir": "$base/c2", "index_dir": "$base/i2",
                             "checkpoint_dir": "$base/k2"}}"""))
    assert(eBatch.getMessage.contains("STREAMING"), eBatch.getMessage)
    val eBoth = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"source": {"path": "$inDir"},
         "near_dup_ingest": {"id_col": "doc_id", "text_col": "text",
                             "corpus_dir": "$base/c3", "index_dir": "$base/i3",
                             "checkpoint_dir": "$base/k3"},
         "save": {"path": "$base/out", "format": "parquet"}}"""))
    assert(eBoth.getMessage.contains("one or the other"), eBoth.getMessage)
  }

  test("sketchIngest: per-batch sketch rows combine to the exact answer regardless of batching") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val base = java.nio.file.Files.createTempDirectory("graft_ski").toString
    val q = Streaming.sketchIngest(
      mem.toDF.toDF("id", "domain"), "domain", s"$base/sk", s"$base/ckpt",
      maxItemsTracked = 1024, lgK = 14)
    try {
      mem.addData((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"),
        (6L, null))
      q.processAllAvailable()
      mem.addData((7L, "a"), (8L, "c"), (9L, "c"))
      q.processAllAvailable()
      val landed = spark.read.parquet(s"$base/sk")
      assert(landed.count() == 2, "one sketch row per micro-batch")
      assert(landed.select("n_rows").collect().map(_.getLong(0)).sorted.toSeq
        == Seq(3L, 5L), "n_rows counts non-null keys per batch")
      // combine over the landed rows == the exact single-pass answer —
      // batching cannot change a merged sketch under capacity
      val top = landed.agg(
          expr("approx_top_k_estimate(approx_top_k_combine(topk_sketch, 1024), 1024)").as("e"))
        .select(explode(col("e")).as("x")).select("x.item", "x.count")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(top == Map("a" -> 4L, "b" -> 2L, "c" -> 2L), s"combined top-k: $top")
      val nd = landed.agg(expr("hll_sketch_estimate(hll_union_agg(hll_sketch))"))
        .head.getLong(0)
      assert(nd == 3L, s"combined distinct estimate: $nd")
    } finally q.stop()

    // grouped variant: one sketch row per (batch, group)
    val mem2 = MemoryStream[(Long, String, String)]
    val q2 = Streaming.sketchIngest(
      mem2.toDF.toDF("id", "domain", "lang"), "domain",
      s"$base/sk2", s"$base/ckpt2", 1024, 14, groupCols = Seq("lang"))
    try {
      mem2.addData((1L, "a", "en"), (2L, "b", "en"), (3L, "a", "de"))
      q2.processAllAvailable()
      val g = spark.read.parquet(s"$base/sk2")
      assert(g.select("lang").collect().map(_.getString(0)).sorted.toSeq
        == Seq("de", "en"))
    } finally q2.stop()

    intercept[IllegalArgumentException] {
      Streaming.sketchIngest(mem.toDF.toDF("id", "domain"), "domain",
        s"$base/x", s"$base/y", lgK = 99) }
    intercept[IllegalArgumentException] {
      Streaming.sketchIngest(mem2.toDF.toDF("id", "domain", "lang"),
        "domain", s"$base/x", s"$base/y", groupCols = Seq("domain")) }
    // batch compiles reject the streaming-only sink by name
    val eBatch = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileJson(spark, s"""
        {"source": {"table": "orders"},
         "sketch_ingest": {"key_col": "o_custkey", "out_dir": "$base/z",
                           "checkpoint_dir": "$base/zc"}}"""))
    assert(eBatch.getMessage.contains("STREAMING"), eBatch.getMessage)
  }

  test("sketch_ingest config twin: the whole sketch pipeline from pure JSON on a stream") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_skc").toString
    val inDir = s"$base/in"
    Seq((1L, "x.com"), (2L, "x.com"), (3L, "y.org")).toDF("id", "url")
      .write.parquet(inDir)
    val q = graft.compile.Compiler.compileStreamJson(spark, s"""
      {"source": {"path": "$inDir"},
       "derive": {"domain": "parse_url(concat('https://', url), 'HOST')"},
       "sketch_ingest": {"key_col": "domain", "out_dir": "$base/sk",
                         "checkpoint_dir": "$base/ckpt",
                         "max_items_tracked": 256, "lg_k": 12}}""")
    q.processAllAvailable(); q.stop()
    val top = spark.read.parquet(s"$base/sk")
      .agg(expr("approx_top_k_estimate(approx_top_k_combine(topk_sketch, 256), 256)").as("e"))
      .select(explode(col("e")).as("x")).select("x.item", "x.count")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(top == Map("x.com" -> 2L, "y.org" -> 1L), s"config sketch twin: $top")
    // sketch_ingest + save is a contradiction, not a silent pick
    val eBoth = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"source": {"path": "$inDir"},
         "sketch_ingest": {"key_col": "url", "out_dir": "$base/s2",
                           "checkpoint_dir": "$base/c2"},
         "save": {"path": "$base/out", "format": "parquet"}}"""))
    assert(eBoth.getMessage.contains("one or the other"), eBoth.getMessage)
  }

  test("exactIngest: later micro-batches dedup exactly against the persisted key index; restart carries history") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val base = java.nio.file.Files.createTempDirectory("graft_ei").toString
    // key = raw text here (the op is key-generic; production derives a
    // fingerprint upstream — the config twin below does)
    val q = Streaming.exactIngest(
      mem.toDF.toDF("doc_id", "text"), "doc_id", Seq("text"),
      s"$base/corpus", s"$base/index", s"$base/ckpt")
    try {
      mem.addData((1L, "aaa"), (2L, "bbb"), (3L, "aaa")) // 3 = in-batch dup of 1
      q.processAllAvailable()
      val first = spark.read.parquet(s"$base/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(first == Set(1L, 2L), s"in-batch dup keeps the min-id winner: $first")
      // corpus preserves the input column order (not groupBy output order)
      assert(spark.read.parquet(s"$base/corpus").columns.toSeq
        .filterNot(_ == "batch") == Seq("doc_id", "text"))

      mem.addData((4L, "bbb"), (5L, "ccc")) // 4 = dup of history doc 2
      q.processAllAvailable()
      val ids = spark.read.parquet(s"$base/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 5L),
        s"4 must drop against the batch-1 index: $ids")
      // the index is key-shaped: one row per distinct admitted key
      val keys = spark.read.parquet(s"$base/index")
        .select("text").collect().map(_.getString(0)).toSet
      assert(keys == Set("aaa", "bbb", "ccc"), s"index keys: $keys")

      // RESTART: history lives in the persisted index, not stream state
      q.stop()
      val q2 = Streaming.exactIngest(
        mem.toDF.toDF("doc_id", "text"), "doc_id", Seq("text"),
        s"$base/corpus", s"$base/index", s"$base/ckpt")
      try {
        mem.addData((6L, "aaa"), (7L, "ddd")) // 6 = dup of pre-restart doc 1
        q2.processAllAvailable()
        val after = spark.read.parquet(s"$base/corpus")
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(after == Set(1L, 2L, 5L, 7L),
          s"6 must dedup against pre-restart history: $after")
      } finally q2.stop()
    } finally q.stop()
  }

  test("exact_ingest config: fingerprint-keyed crawl sink; seen_filter/seen_probe close the loop; guards") {
    import spark.implicits._
    graft.functions.Registry.registerAll(spark)
    val base = java.nio.file.Files.createTempDirectory("graft_ei_cfg").toString
    val inDir = s"$base/in"
    def push(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(inDir)
    val json = s"""
      {"source": {"path": "$inDir"},
       "derive": {"fp": "doc_fingerprint_portable(text)"},
       "exact_ingest": {"id_col": "doc_id", "key_cols": ["fp"],
                        "corpus_dir": "$base/corpus",
                        "index_dir": "$base/index",
                        "checkpoint_dir": "$base/ckpt"}}"""
    push((1L, "alpha beta"), (2L, "gamma delta"))
    val q = graft.compile.Compiler.compileStreamJson(spark, json)
    try {
      q.processAllAvailable()
      // 3 = same CONTENT as doc 1 (different id — content key catches it),
      // 4 = fresh
      push((3L, "alpha beta"), (4L, "epsilon zeta"))
      q.processAllAvailable()
      val ids = spark.read.parquet(s"$base/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 4L), s"content dup 3 must drop: $ids")
    } finally q.stop()

    // the ingest's index dir IS the seen_filter / seen_probe artifact:
    // a batch pipeline over new candidates drops exactly the seen content
    val probeJson = s"""
      {"source": {"path": "$inDir"},
       "derive": {"fp": "doc_fingerprint_portable(text)"},
       "seen_filter": {"key_col": "fp", "index_dir": "$base/index"},
       "order_by": ["doc_id asc"]}"""
    val unseen = graft.compile.Compiler.compileJson(spark, probeJson)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(unseen == Set.empty[Long],
      s"every pushed doc's content is in the ingested index: $unseen")
    // seen_probe (Bloom tier) flags every truly-seen key — and it is
    // streaming-admissible: the SAME spec compiles as a stream
    val flagged = graft.compile.Compiler.compileJson(spark, s"""
      {"source": {"path": "$inDir"},
       "derive": {"fp": "doc_fingerprint_portable(text)"},
       "seen_probe": {"key_col": "fp", "index_dir": "$base/index"},
       "order_by": ["doc_id asc"]}""")
      .select("seen").collect().map(_.getBoolean(0))
    assert(flagged.forall(identity), "Bloom must flag every indexed key")
    val memSink = "ei_probe_stream"
    val qs = graft.compile.Compiler.compileStreamJson(spark, s"""
      {"source": {"path": "$inDir"},
       "derive": {"fp": "doc_fingerprint_portable(text)"},
       "seen_probe": {"key_col": "fp", "index_dir": "$base/index"},
       "save": {"format": "memory", "query_name": "$memSink"}}""")
    try {
      qs.processAllAvailable()
      val streamedFlags = spark.table(memSink)
        .select("seen").collect().map(_.getBoolean(0))
      assert(streamedFlags.nonEmpty && streamedFlags.forall(identity),
        "streaming seen_probe must flag the same keys")
    } finally qs.stop()

    // seen_filter mode "drop" is stream-static admissible too: the same
    // anti-join spec runs as a stream and drains to EMPTY over the
    // ingested index (every pushed doc's content is indexed)
    val qsf = graft.compile.Compiler.compileStreamJson(spark, s"""
      {"source": {"path": "$inDir"},
       "derive": {"fp": "doc_fingerprint_portable(text)"},
       "seen_filter": {"key_col": "fp", "index_dir": "$base/index"},
       "save": {"format": "memory", "query_name": "ei_filter_stream"}}""")
    try {
      qsf.processAllAvailable()
      assert(spark.table("ei_filter_stream").count() == 0,
        "stream-static anti join must drop every indexed key")
    } finally qsf.stop()

    // guard rails: batch compile and save-beside-ingest reject by name
    val eBatch = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileJson(spark, json))
    assert(eBatch.getMessage.contains("STREAMING"), eBatch.getMessage)
    val eBoth = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"source": {"path": "$inDir"},
         "derive": {"fp": "doc_fingerprint_portable(text)"},
         "exact_ingest": {"id_col": "doc_id", "key_cols": ["fp"],
                          "corpus_dir": "$base/c2", "index_dir": "$base/i2",
                          "checkpoint_dir": "$base/k2"},
         "save": {"path": "$base/out", "format": "parquet"}}"""))
    assert(eBoth.getMessage.contains("one or the other"), eBoth.getMessage)
  }

  test("exact_ingest compact_every + ingest_compact config: unattended folds and the operator compact keep the areas one-dir") {
    import spark.implicits._
    graft.functions.Registry.registerAll(spark)
    val base = java.nio.file.Files.createTempDirectory("graft_eicfg2").toString
    val inDir = s"$base/in"
    def push(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(inDir)
    push((1L, "alpha beta"), (2L, "gamma delta"))
    val q = graft.compile.Compiler.compileStreamJson(spark, s"""
      {"source": {"path": "$inDir", "options": {"maxFilesPerTrigger": "1"}},
       "derive": {"fp": "doc_fingerprint_portable(text)"},
       "exact_ingest": {"id_col": "doc_id", "key_cols": ["fp"],
                        "corpus_dir": "$base/corpus",
                        "index_dir": "$base/index",
                        "checkpoint_dir": "$base/ckpt",
                        "compact_every": 2}}""")
    try {
      q.processAllAvailable()
      push((3L, "alpha beta"), (4L, "epsilon zeta")) // 3 = content dup of 1
      q.processAllAvailable()
      push((5L, "gamma delta"), (6L, "eta theta")) // 5 = content dup of 2
      q.processAllAvailable()
      val ids = spark.read.parquet(s"$base/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 4L, 6L), s"dedup through in-stream folds: $ids")
    } finally q.stop()
    // the operator-issued compact, checkpoint-scoped (stream quiesced,
    // everything committed → folds it all): each area ends at ONE dir,
    // and the report frame says so
    val report = graft.compile.Compiler.compileJson(spark, s"""
      {"source": {"sql": "SELECT 1 AS one"},
       "ingest_compact": {"dirs": ["$base/corpus", "$base/index"],
                          "checkpoint": "$base/ckpt"},
       "order_by": ["area_ix asc"]}""")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(report == Seq((0, 1L), (1, 1L)), s"one dir per area: $report")
    val ids2 = spark.read.parquet(s"$base/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids2 == Set(1L, 2L, 4L, 6L), "the compact is row-invisible")
    // the folded index still drives seen_filter exactly
    val unseen = graft.compile.Compiler.compileJson(spark, s"""
      {"source": {"path": "$inDir"},
       "derive": {"fp": "doc_fingerprint_portable(text)"},
       "seen_filter": {"key_col": "fp", "index_dir": "$base/index"}}""")
      .count()
    assert(unseen == 0L, "every pushed doc's content is in the folded index")
    // guards: streaming compile rejects the batch-only key by name; a
    // wrong checkpoint rejects by name (not fold-nothing-forever)
    val eStream = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"source": {"path": "$inDir"},
         "ingest_compact": {"dirs": ["$base/corpus"]},
         "save": {"path": "$base/out", "format": "parquet"}}"""))
    assert(eStream.getMessage.contains("ingest_compact"), eStream.getMessage)
    val eCk = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileJson(spark, s"""
        {"source": {"sql": "SELECT 1 AS one"},
         "ingest_compact": {"dirs": ["$base/corpus"],
                            "checkpoint": "$base/corpus"}}"""))
    assert(eCk.getMessage.contains("checkpoint"), eCk.getMessage)
  }

  test("near_dup_ingest config compact_every reaches the sink: folds fire through the JSON path") {
    import spark.implicits._
    // guards the Compiler pass-through specifically: JsonCodecSpec pins
    // the decode and the API tests pin the behavior, but a dropped
    // `ing.compactEvery` in the dispatch would be a SILENT no-op — the
    // stream runs, nothing folds, every test stays green except this one
    val base = java.nio.file.Files.createTempDirectory("graft_ndcfg_ce").toString
    val inDir = s"$base/in"
    def push(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(inDir)
    push((1L, "alpha beta gamma delta"))
    val q = graft.compile.Compiler.compileStreamJson(spark, s"""
      {"source": {"path": "$inDir", "options": {"maxFilesPerTrigger": "1"}},
       "near_dup_ingest": {"id_col": "doc_id", "text_col": "text",
                           "corpus_dir": "$base/corpus",
                           "index_dir": "$base/index",
                           "checkpoint_dir": "$base/ckpt",
                           "shingle_size": 2, "compact_every": 1}}""")
    try {
      q.processAllAvailable()
      push((2L, "one two three four five"))
      q.processAllAvailable()
      push((3L, "six seven eight nine ten"))
      q.processAllAvailable()
      val nDirs = new java.io.File(s"$base/corpus").listFiles()
        .map(_.getName).count(_.startsWith("batch="))
      assert(nDirs <= 2,
        s"compact_every must reach the sink through the config: $nDirs dirs")
      assert(new java.io.File(s"$base/corpus/_fold_log").exists,
        "a fold fired and left its log row")
      val ids = spark.read.parquet(s"$base/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("exactIngest compact_every: in-stream folds retire committed batch dirs; dedup decisions and corpus unchanged") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val base = java.nio.file.Files.createTempDirectory("graft_eice").toString
    // cadence validates at declaration
    assert(intercept[IllegalArgumentException](Streaming.exactIngest(
        mem.toDF.toDF("doc_id", "text"), "doc_id", Seq("text"),
        s"$base/c0", s"$base/i0", s"$base/k0", compactEvery = Some(0)))
      .getMessage.contains("compact_every"))
    val q = Streaming.exactIngest(
      mem.toDF.toDF("doc_id", "text"), "doc_id", Seq("text"),
      s"$base/corpus", s"$base/index", s"$base/ckpt",
      compactEvery = Some(2))
    try {
      // 4 micro-batches; folds fire inside batches 2 and 4 (scoped to
      // the committed prior batches), so the areas stay few-dir
      mem.addData((1L, "aaa"), (2L, "bbb")); q.processAllAvailable()
      mem.addData((3L, "aaa"), (4L, "ccc")); q.processAllAvailable() // 3 dups 1
      mem.addData((5L, "bbb"), (6L, "ddd")); q.processAllAvailable() // 5 dups 2
      mem.addData((7L, "ddd"), (8L, "eee")); q.processAllAvailable() // 7 dups 6
      val ids = spark.read.parquet(s"$base/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 4L, 6L, 8L),
        s"dedup decisions must be fold-invariant: $ids")
      val keys = spark.read.parquet(s"$base/index")
        .select("text").collect().map(_.getString(0)).toSet
      assert(keys == Set("aaa", "bbb", "ccc", "ddd", "eee"))
      // the folds actually fired: batches 0..2 folded inside batch 3's
      // cadence (ceiling 2), so each area holds at most (folded dir +
      // the current batch's dir) — never one dir per micro-batch
      def nDirs(a: String): Int = new java.io.File(a).listFiles()
        .map(_.getName).count(_.startsWith("batch="))
      assert(nDirs(s"$base/corpus") <= 2 && nDirs(s"$base/index") <= 2,
        s"areas must compact: corpus=${nDirs(s"$base/corpus")} " +
          s"index=${nDirs(s"$base/index")}")
      // the cadence's observability row: each completed fold leaves a
      // _fold_log entry recording (batch_id, folded_through, dirs_retired)
      val logFiles = Option(new java.io.File(s"$base/corpus/_fold_log")
        .listFiles()).toSeq.flatten.map(_.getName).filter(_.startsWith("fold-"))
      assert(logFiles.nonEmpty, "a fold batch must leave a _fold_log row")
      val logLine = scala.io.Source.fromFile(
        s"$base/corpus/_fold_log/${logFiles.max}").mkString
      assert(logLine.contains("\"folded_through\"") &&
        logLine.contains("\"dirs_retired\""), logLine)
      // history still wins after a restart over the folded layout
      q.stop()
      val q2 = Streaming.exactIngest(
        mem.toDF.toDF("doc_id", "text"), "doc_id", Seq("text"),
        s"$base/corpus", s"$base/index", s"$base/ckpt",
        compactEvery = Some(2))
      try {
        mem.addData((9L, "aaa"), (10L, "fff")) // 9 dups folded history
        q2.processAllAvailable()
        val after = spark.read.parquet(s"$base/corpus")
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(after == Set(1L, 2L, 4L, 6L, 8L, 10L),
          s"9 must dedup against FOLDED history: $after")
      } finally q2.stop()
    } finally q.stop()
  }

  test("exactIngest heals a crashed area fold at declaration; a stray file never crash-loops the in-stream fold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val base = java.nio.file.Files.createTempDirectory("graft_eiheal").toString
    // simulate a crashed fold on the corpus area: complete _fold_tmp +
    // manifest, sources live — declaration must roll it FORWARD before
    // the first batch reads through the area. History ids sit HIGH
    // (batch=7): a pre-seeded area belongs to a PRIOR stream whose ids
    // a fresh checkpoint would collide with — production restarts reuse
    // the checkpoint (ids continue); the high id stands in for that.
    Seq((1L, "aaa")).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$base/corpus/batch=7")
    Seq((1L, "aaa")).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$base/corpus/_fold_tmp")
    locally {
      val w = new java.io.FileWriter(s"$base/corpus/_fold_manifest")
      try w.write("batch=7\n") finally w.close()
    }
    Seq("aaa").toDF("text").coalesce(1)
      .write.mode("overwrite").parquet(s"$base/index/batch=7")
    // a stray file in the index area: in-stream folds must skip it
    locally {
      val w = new java.io.FileWriter(s"$base/index/stray.txt")
      try w.write("os artifact") finally w.close()
    }
    val q = Streaming.exactIngest(
      mem.toDF.toDF("doc_id", "text"), "doc_id", Seq("text"),
      s"$base/corpus", s"$base/index", s"$base/ckpt",
      compactEvery = Some(1))
    try {
      assert(!new java.io.File(s"$base/corpus/_fold_manifest").exists,
        "declaration must heal the crashed fold")
      mem.addData((2L, "aaa"), (3L, "bbb")); q.processAllAvailable()
      mem.addData((4L, "bbb"), (5L, "ccc")); q.processAllAvailable()
      val ids = spark.read.parquet(s"$base/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L, 5L),
        s"healed history + stray-tolerant folds keep dedup exact: $ids")
      assert(new java.io.File(s"$base/index/stray.txt").exists,
        "the stray file survives the in-stream folds")
    } finally q.stop()
  }

  test("bm25Ingest: streamed docs land as replay-safe deltas; search == in-memory BM25 over the union; compact folds") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.ops.Retrieval
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_bm25ing").toString
    val idx = s"$base/idx"
    val seed = Seq((1L, "alpha beta gamma"), (2L, "beta beta delta"))
    Retrieval.saveBm25Index(spark, seed.toDF("doc_id", "text"),
      "doc_id", "text", idx, buckets = 8)
    val mem = MemoryStream[(Long, String)]
    val sdf = mem.toDF.toDF("doc_id", "text")
    // unseeded index rejects at DECLARATION, by name
    assert(intercept[IllegalArgumentException](
      Streaming.bm25Ingest(sdf, "doc_id", "text", s"$base/absent", s"$base/ck0"))
      .getMessage.contains("seed"))
    val streamed = Seq((3L, "alpha alpha epsilon"), (4L, "gamma delta"),
      (5L, "beta epsilon zeta"))
    val q = Streaming.bm25Ingest(sdf, "doc_id", "text", idx, s"$base/ckpt")
    try {
      mem.addData(streamed.take(2): _*); q.processAllAvailable()
      mem.addData(streamed.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    val all = (seed ++ streamed).toDF("doc_id", "text")
    val qs = Seq((101L, "alpha beta"), (102L, "delta epsilon")).toDF("qid", "qtext")
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val want = asSet(Retrieval.bm25TopK(all, "doc_id", "text",
      qs, "qid", "qtext", topK = 3))
    assert(asSet(Retrieval.bm25SearchIndex(qs, "qid", "qtext", idx, topK = 3)) == want,
      "search after streamed ingest must equal in-memory BM25 over the union")
    // stats refreshed per batch: n_docs reflects the union corpus
    assert(Retrieval.bm25IndexStats(spark, idx)
      .select("n_docs").head.getLong(0) == 5L)
    // the deltas are batch=<id> OVERWRITE partitions (the replay contract),
    // and compaction folds them into the base layout and drops them
    assert(new java.io.File(s"$idx/postings_inc").exists &&
      new java.io.File(s"$idx/dl_inc").exists)
    assert(new java.io.File(s"$idx/postings_inc").listFiles()
      .exists(_.getName.startsWith("batch=")), "delta must be batch-partitioned")
    Retrieval.compactBm25Index(spark, idx)
    assert(!new java.io.File(s"$idx/postings_inc").exists &&
      !new java.io.File(s"$idx/dl_inc").exists,
      "compact must fold the delta areas in and drop them")
    assert(asSet(Retrieval.bm25SearchIndex(qs, "qid", "qtext", idx, topK = 3)) == want,
      "delta fold must be bit-invisible to search")
    // a REBUILD invalidates leftover deltas (stale docs must not union in)
    val mem2 = MemoryStream[(Long, String)]
    val q2 = Streaming.bm25Ingest(mem2.toDF.toDF("doc_id", "text"),
      "doc_id", "text", idx, s"$base/ckpt2")
    try { mem2.addData((9L, "stale doc")); q2.processAllAvailable() }
    finally q2.stop()
    Retrieval.saveBm25Index(spark, all, "doc_id", "text", idx, buckets = 8)
    assert(!new java.io.File(s"$idx/postings_inc").exists,
      "rebuild must drop stale delta areas")
    assert(asSet(Retrieval.bm25SearchIndex(qs, "qid", "qtext", idx, topK = 3)) == want)
  }

  test("compact with checkpoint folds only COMMITTED ingest batches; an uncommitted landed delta survives for the replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.ops.{Artifacts, Retrieval}
    import org.apache.spark.sql.functions.{col, lit}
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_ckfold").toString
    val idx = s"$base/idx"
    val ck = s"$base/ckpt"
    Retrieval.saveBm25Index(spark,
      Seq((1L, "alpha beta gamma"), (2L, "beta beta delta")).toDF("doc_id", "text"),
      "doc_id", "text", idx, buckets = 8)
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.bm25Ingest(mem.toDF.toDF("doc_id", "text"),
      "doc_id", "text", idx, ck)
    try {
      mem.addData((3L, "alpha alpha epsilon"), (4L, "gamma delta"))
      q.processAllAvailable()
      mem.addData((5L, "beta epsilon zeta"))
      q.processAllAvailable()
    } finally q.stop()
    // the commits log names the folding boundary
    assert(Artifacts.lastCommittedBatch(spark, ck) == Some(1L))
    assert(intercept[IllegalArgumentException](
      Artifacts.lastCommittedBatch(spark, s"$base/nope"))
      .getMessage.contains("checkpoint"))
    // simulate the crash window: batch 99 LANDED its delta dirs but the
    // checkpoint never committed it — a restart would replay it. Its
    // terms avoid every query term below, so stale stats (which cannot
    // include it until the replay refreshes them) do not perturb scores.
    val ghost = Seq((99L, "omega omega")).toDF("doc_id", "text")
      .select(col("doc_id").as("doc"),
        graft.ops.TextAnalysis.tokens(col("text")).as("__t"))
    ghost.select(col("doc"), org.apache.spark.sql.functions.size(col("__t"))
        .cast("long").as("dl"))
      .write.mode("overwrite").parquet(s"$idx/dl_inc/batch=99")
    Retrieval.postingsOf(ghost, col("__t"), 8)
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$idx/postings_inc/batch=99")
    // checkpoint-scoped compact: batches 0-1 fold, 99 survives
    Retrieval.compactBm25Index(spark, idx,
      Artifacts.lastCommittedBatch(spark, ck))
    def batchDirsOf(d: String) = Option(new java.io.File(d).listFiles())
      .map(_.toSeq.map(_.getName).filter(_.startsWith("batch=")))
      .getOrElse(Nil)
    assert(batchDirsOf(s"$idx/dl_inc") == Seq("batch=99") &&
      batchDirsOf(s"$idx/postings_inc") == Seq("batch=99"),
      "only committed batch dirs may fold; the uncommitted one must survive")
    // the survivor is still READER-visible (base ∪ delta)
    assert(Artifacts.readWithInc(spark, s"$idx/dl", s"$idx/dl_inc")
      .filter(col("doc") === 99L).count() == 1L)
    // and scores over the committed corpus are exact
    val qs = Seq((101L, "alpha beta"), (102L, "delta epsilon")).toDF("qid", "qtext")
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val committed = Seq((1L, "alpha beta gamma"), (2L, "beta beta delta"),
      (3L, "alpha alpha epsilon"), (4L, "gamma delta"),
      (5L, "beta epsilon zeta")).toDF("doc_id", "text")
    assert(asSet(Retrieval.bm25SearchIndex(qs, "qid", "qtext", idx, topK = 3)) ==
      asSet(Retrieval.bm25TopK(committed, "doc_id", "text", qs, "qid", "qtext", topK = 3)),
      "checkpoint-scoped fold must be bit-invisible to committed-corpus search")
    // config surface: same scoping through the checkpoint key; batch 99
    // still uncommitted, so it survives a config compact too
    committed.limit(1).write.mode("overwrite").parquet(s"$base/dummy")
    graft.compile.Compiler.compileJson(spark, s"""
      {"source": {"path": "$base/dummy"},
       "bm25_index": {"dir": "$idx", "mode": "compact", "checkpoint": "$ck"}}""")
      .collect()
    assert(batchDirsOf(s"$idx/dl_inc") == Seq("batch=99"),
      "config compact with checkpoint must also skip uncommitted dirs")
    // once the checkpoint commits 99 (the replay completed), the next
    // scoped compact folds it and retires the delta areas
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$ck/commits/99"),
      "v1\n{}".getBytes)
    Retrieval.compactBm25Index(spark, idx,
      Artifacts.lastCommittedBatch(spark, ck))
    assert(!new java.io.File(s"$idx/dl_inc").exists &&
      !new java.io.File(s"$idx/postings_inc").exists,
      "a fully-committed delta folds and the areas retire")
    assert(spark.read.parquet(s"$idx/dl").filter(col("doc") === 99L).count() == 1L)
    // guard: checkpoint is a compact-only key
    val eCk = intercept[IllegalArgumentException](
      graft.spec.JsonCodec.parse(s"""
        {"source": {"table": "documents"},
         "bm25_index": {"id_col": "doc_id", "text_col": "text",
                        "dir": "$idx", "checkpoint": "$ck"}}"""))
    assert(eCk.getMessage.contains("compact-only"), eCk.getMessage)
    val eCk2 = intercept[IllegalArgumentException](
      graft.spec.JsonCodec.parse(s"""
        {"source": {"table": "embeddings"},
         "ann_index": {"id_col": "id", "vec_col": "embedding",
                       "dir": "$idx", "checkpoint": "$ck"}}"""))
    assert(eCk2.getMessage.contains("compact-only"), eCk2.getMessage)
  }

  test("bm25Ingest heals a crashed fold at declaration: restart stats and search count the staged-aside docs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.ops.Retrieval
    import org.apache.spark.sql.functions.{col, size}
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_healdecl").toString
    val idx = s"$base/idx"
    Retrieval.saveBm25Index(spark,
      Seq((1L, "alpha beta"), (2L, "beta delta")).toDF("doc_id", "text"),
      "doc_id", "text", idx, buckets = 8)
    // simulate the crash window a restart must heal: a fold staged
    // batch=7 aside (dl + postings) under the _folding flag and died —
    // the staged docs are reader-invisible until healed, and a cold
    // stats re-derive through this state would undercount forever
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def stage(area: String)(write: String => Unit): Unit = {
      assert(fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx/$area.old")))
      val p = new org.apache.hadoop.fs.Path(s"$idx/$area.old/_folding")
      fs.create(p, true).close()
      write(s"$idx/$area.old/batch=7")
    }
    val ghost = Seq((7L, "omega omega gamma")).toDF("doc_id", "text")
      .select(col("doc_id").as("doc"),
        graft.ops.TextAnalysis.tokens(col("text")).as("__t"))
    stage("dl_inc")(d => ghost.select(col("doc"),
      size(col("__t")).cast("long").as("dl"))
      .write.mode("overwrite").parquet(d))
    stage("postings_inc")(d => Retrieval.postingsOf(ghost, col("__t"), 8)
      .write.mode("overwrite").partitionBy("bucket").parquet(d))
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.bm25Ingest(mem.toDF.toDF("doc_id", "text"),
      "doc_id", "text", idx, s"$base/ckpt")
    try { mem.addData((3L, "gamma zeta")); q.processAllAvailable() }
    finally q.stop()
    // the declaration-time heal rolled batch=7 back into the live delta
    // areas BEFORE the first batch's cold re-derive: stats count it
    assert(Retrieval.bm25IndexStats(spark, idx)
      .select("n_docs", "sum_dl").head.toSeq == Seq(4L, 9L),
      "restart stats must include the healed staged docs")
    // and searches see its postings (base ∪ healed delta)
    val qs = Seq((101L, "omega")).toDF("qid", "qtext")
    val hits = Retrieval.bm25SearchIndex(qs, "qid", "qtext", idx, topK = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hits == Set(7L), s"healed doc must be searchable, got $hits")
    assert(!new java.io.File(s"$idx/dl_inc.old").exists &&
      !new java.io.File(s"$idx/postings_inc.old").exists)
  }

  test("bm25_ingest compact_every: in-stream folds keep search exact and retire committed delta dirs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.ops.Retrieval
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_ce").toString
    val idx = s"$base/idx"
    Retrieval.saveBm25Index(spark,
      Seq((1L, "alpha beta gamma")).toDF("doc_id", "text"),
      "doc_id", "text", idx, buckets = 8)
    assert(intercept[IllegalArgumentException](
      Streaming.bm25Ingest(MemoryStream[(Long, String)].toDF.toDF("doc_id", "text"),
        "doc_id", "text", idx, s"$base/ck0", compactEvery = Some(0)))
      .getMessage.contains("compact_every"))
    val mem = MemoryStream[(Long, String)]
    // fold on every later batch: after batch 2, batches 0-1 are folded
    // and only batch=2 remains in the delta
    val q = Streaming.bm25Ingest(mem.toDF.toDF("doc_id", "text"),
      "doc_id", "text", idx, s"$base/ckpt", compactEvery = Some(1))
    try {
      mem.addData((2L, "alpha alpha epsilon")); q.processAllAvailable()
      mem.addData((3L, "gamma delta")); q.processAllAvailable()
      mem.addData((4L, "beta epsilon zeta")); q.processAllAvailable()
    } finally q.stop()
    def batchDirsOf(d: String) = Option(new java.io.File(d).listFiles())
      .map(_.toSeq.map(_.getName).filter(_.startsWith("batch=")).sorted)
      .getOrElse(Nil)
    assert(batchDirsOf(s"$idx/dl_inc") == Seq("batch=2"),
      s"in-stream folds must retire prior batch dirs, " +
        s"got ${batchDirsOf(s"$idx/dl_inc")}")
    // the folded docs live in base; the pending one in the delta;
    // search and stats reflect the union exactly
    val all = Seq((1L, "alpha beta gamma"), (2L, "alpha alpha epsilon"),
      (3L, "gamma delta"), (4L, "beta epsilon zeta")).toDF("doc_id", "text")
    val qs = Seq((101L, "alpha beta"), (102L, "delta epsilon")).toDF("qid", "qtext")
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(asSet(Retrieval.bm25SearchIndex(qs, "qid", "qtext", idx, topK = 3)) ==
      asSet(Retrieval.bm25TopK(all, "doc_id", "text", qs, "qid", "qtext", topK = 3)),
      "in-stream compaction must be bit-invisible to search")
    assert(Retrieval.bm25IndexStats(spark, idx)
      .select("n_docs").head.getLong(0) == 4L)
    // config twin: the key reaches the stream sink, and the decode
    // guard rejects a non-positive cadence by name
    val inDir = s"$base/in"
    Seq((5L, "zeta zeta")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(inDir)
    val qc = graft.compile.Compiler.compileStreamJson(spark, s"""
      {"source": {"path": "$inDir"},
       "bm25_ingest": {"id_col": "doc_id", "text_col": "text",
                       "index_dir": "$idx", "checkpoint_dir": "$base/ckpt2",
                       "compact_every": 1}}""")
    try qc.processAllAvailable() finally qc.stop()
    assert(Retrieval.bm25IndexStats(spark, idx)
      .select("n_docs").head.getLong(0) == 5L)
    assert(intercept[IllegalArgumentException](
      graft.spec.JsonCodec.parse(s"""
        {"source": {"path": "$inDir"},
         "bm25_ingest": {"id_col": "doc_id", "text_col": "text",
                         "index_dir": "$idx", "checkpoint_dir": "$base/ck3",
                         "compact_every": 0}}"""))
      .getMessage.contains("compact_every"))
  }

  test("bm25_ingest config: the lexical continuous-ingest sink; stream == batch search; guards") {
    import spark.implicits._
    import graft.ops.Retrieval
    val base = java.nio.file.Files.createTempDirectory("graft_bm25ing_cfg").toString
    val idx = s"$base/idx"
    val inDir = s"$base/in"
    Retrieval.saveBm25Index(spark,
      Seq((1L, "alpha beta gamma")).toDF("doc_id", "text"),
      "doc_id", "text", idx, buckets = 8)
    Seq((2L, "alpha delta"), (3L, "beta beta zeta")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(inDir)
    val json = s"""
      {"source": {"path": "$inDir"},
       "bm25_ingest": {"id_col": "doc_id", "text_col": "text",
                       "index_dir": "$idx",
                       "checkpoint_dir": "$base/ckpt"}}"""
    val q = graft.compile.Compiler.compileStreamJson(spark, json)
    try q.processAllAvailable() finally q.stop()
    val all = Seq((1L, "alpha beta gamma"), (2L, "alpha delta"),
      (3L, "beta beta zeta")).toDF("doc_id", "text")
    val qs = Seq((101L, "alpha beta")).toDF("qid", "qtext")
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(asSet(Retrieval.bm25SearchIndex(qs, "qid", "qtext", idx, topK = 3)) ==
      asSet(Retrieval.bm25TopK(all, "doc_id", "text", qs, "qid", "qtext", topK = 3)),
      "config-streamed ingest must equal in-memory BM25 over the union")
    // a PROX index streams bigram postings too (postings2_inc) and the
    // proximity-weighted search reflects the union corpus exactly
    val idxP = s"$base/idxp"
    Retrieval.saveBm25Index(spark,
      Seq((1L, "alpha beta gamma")).toDF("doc_id", "text"),
      "doc_id", "text", idxP, prox = true, buckets = 8)
    val qp = graft.compile.Compiler.compileStreamJson(spark, s"""
      {"source": {"path": "$inDir"},
       "bm25_ingest": {"id_col": "doc_id", "text_col": "text",
                       "index_dir": "$idxP",
                       "checkpoint_dir": "$base/ckptp"}}""")
    try qp.processAllAvailable() finally qp.stop()
    assert(new java.io.File(s"$idxP/postings2_inc").exists,
      "prox ingest must land bigram delta postings")
    assert(
      asSet(Retrieval.bm25SearchIndex(qs, "qid", "qtext", idxP,
        topK = 3, proxWeight = 0.5)) ==
        asSet(Retrieval.bm25TopK(all, "doc_id", "text", qs, "qid", "qtext",
          topK = 3, proxWeight = 0.5)),
      "prox-streamed ingest must equal in-memory prox BM25 over the union")
    // guard rails: batch compile and save-beside-ingest reject by name
    assert(intercept[IllegalArgumentException](
      graft.compile.Compiler.compileJson(spark, json))
      .getMessage.contains("STREAMING ROOT sink"))
    val eBoth = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"source": {"path": "$inDir"},
         "bm25_ingest": {"id_col": "doc_id", "text_col": "text",
                         "index_dir": "$idx", "checkpoint_dir": "$base/k2"},
         "save": {"path": "$base/out", "format": "parquet"}}"""))
    assert(eBoth.getMessage.contains("one or the other"), eBoth.getMessage)
    // two ingest sinks on one stream reject by name
    val eTwo = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"source": {"path": "$inDir"},
         "bm25_ingest": {"id_col": "doc_id", "text_col": "text",
                         "index_dir": "$idx", "checkpoint_dir": "$base/k3"},
         "sketch_ingest": {"key_col": "text", "out_dir": "$base/s3",
                           "checkpoint_dir": "$base/k4"}}"""))
    assert(eTwo.getMessage.contains("ONE"), eTwo.getMessage)
  }

  test("annIngest: streamed vectors land as replay-safe deltas against the saved geometry; search == full rebuild") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.ops.Similarity
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_anning").toString
    val idx = s"$base/idx"
    def vec(seed: Int): Seq[Double] =
      Seq.tabulate(8)(i => ((seed * 31 + i * 7) % 13 - 6).toDouble)
    val seed = (0L until 20L).map(i => (i, vec(i.toInt)))
    Similarity.saveAnnIndex(spark, seed.toDF("id0", "emb"),
      "id0", "emb", idx, nlist = 4)
    val mem = MemoryStream[(Long, Seq[Double])]
    val sdf = mem.toDF.toDF("id0", "emb")
    // unseeded index rejects at DECLARATION, by name
    assert(intercept[IllegalArgumentException](
      Streaming.annIngest(sdf, "id0", "emb", s"$base/absent", s"$base/ck0"))
      .getMessage.contains("seed"))
    val streamed = (20L until 30L).map(i => (i, vec(i.toInt)))
    val q = Streaming.annIngest(sdf, "id0", "emb", idx, s"$base/ckpt")
    try {
      mem.addData(streamed.take(5): _*); q.processAllAvailable()
      mem.addData(streamed.drop(5): _*); q.processAllAvailable()
    } finally q.stop()
    // full-coverage search over base ∪ delta == brute-force cosine top-k
    // over the union corpus
    val all = (seed ++ streamed).toDF("cid", "emb")
    val qs = (0L until 5L).map(i => (i + 1000L, vec(i.toInt))).toDF("qid", "qv")
    def asSet(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "match_id", "score", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val got = asSet(Similarity.annSearchIndex(qs, "qid", "qv", idx,
      k = 3, nprobe = 4))
    val want = asSet(Similarity.cosineTopK(qs, all, "qid", "qv", "cid", "emb", 3)
      .withColumnRenamed("cid", "match_id"))
    assert(got == want, s"search after streamed ingest diverged:\n$got\n$want")
    // stats see the union; compact folds the delta; search is bit-identical
    assert(Similarity.annIndexStats(spark, idx)
      .select("n_vectors").head.getLong(0) == 30L)
    assert(new java.io.File(s"$idx/index_inc").exists &&
      new java.io.File(s"$idx/index_inc").listFiles()
        .exists(_.getName.startsWith("batch=")))
    Similarity.compactAnnIndex(spark, idx)
    assert(!new java.io.File(s"$idx/index_inc").exists,
      "compact must fold the delta area in and drop it")
    assert(asSet(Similarity.annSearchIndex(qs, "qid", "qv", idx,
      k = 3, nprobe = 4)) == got, "delta fold must be bit-invisible")
    // a REBUILD drops a leftover delta (stale vectors assigned against
    // the OLD centroids must not union into the new index)
    val mem2 = MemoryStream[(Long, Seq[Double])]
    val q2 = Streaming.annIngest(mem2.toDF.toDF("id0", "emb"),
      "id0", "emb", idx, s"$base/ckpt2")
    try { mem2.addData((99L, vec(99))); q2.processAllAvailable() }
    finally q2.stop()
    Similarity.saveAnnIndex(spark, all.toDF("id0", "emb"),
      "id0", "emb", idx, nlist = 4)
    assert(!new java.io.File(s"$idx/index_inc").exists,
      "rebuild must drop the stale delta area")
    assert(Similarity.annIndexStats(spark, idx)
      .select("n_vectors").head.getLong(0) == 30L)
  }

  test("annIngest compact_every: in-stream folds retire committed delta dirs; search == brute force") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.ops.Similarity
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_ann_ce").toString
    val idx = s"$base/idx"
    def vec(seed: Int): Seq[Double] =
      Seq.tabulate(8)(i => ((seed * 31 + i * 7) % 13 - 6).toDouble)
    val seed = (0L until 12L).map(i => (i, vec(i.toInt)))
    Similarity.saveAnnIndex(spark, seed.toDF("id0", "emb"),
      "id0", "emb", idx, nlist = 4)
    assert(intercept[IllegalArgumentException](
      Streaming.annIngest(MemoryStream[(Long, Seq[Double])].toDF
          .toDF("id0", "emb"),
        "id0", "emb", idx, s"$base/ck0", compactEvery = Some(0)))
      .getMessage.contains("compact_every"))
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = Streaming.annIngest(mem.toDF.toDF("id0", "emb"),
      "id0", "emb", idx, s"$base/ckpt", compactEvery = Some(1))
    val streamed = (12L until 18L).map(i => (i, vec(i.toInt)))
    try {
      mem.addData(streamed.take(2): _*); q.processAllAvailable()
      mem.addData(streamed.slice(2, 4): _*); q.processAllAvailable()
      mem.addData(streamed.drop(4): _*); q.processAllAvailable()
    } finally q.stop()
    def batchDirsOf(d: String) = Option(new java.io.File(d).listFiles())
      .map(_.toSeq.map(_.getName).filter(_.startsWith("batch=")).sorted)
      .getOrElse(Nil)
    assert(batchDirsOf(s"$idx/index_inc") == Seq("batch=2"),
      s"in-stream folds must retire prior batch dirs, got " +
        s"${batchDirsOf(s"$idx/index_inc")}")
    val all = (seed ++ streamed).toDF("cid", "emb")
    val qs = (0L until 4L).map(i => (i + 1000L, vec(i.toInt))).toDF("qid", "qv")
    def asSet(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "match_id", "score", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(asSet(Similarity.annSearchIndex(qs, "qid", "qv", idx,
        k = 3, nprobe = 4)) ==
      asSet(Similarity.cosineTopK(qs, all, "qid", "qv", "cid", "emb", 3)
        .withColumnRenamed("cid", "match_id")),
      "in-stream compaction must be bit-invisible to search")
    assert(Similarity.annIndexStats(spark, idx)
      .select("n_vectors").head.getLong(0) == 18L)
    // decode guard by name
    assert(intercept[IllegalArgumentException](
      graft.spec.JsonCodec.parse(s"""
        {"source": {"path": "$base/in"},
         "ann_ingest": {"id_col": "id0", "vec_col": "emb",
                        "index_dir": "$idx", "checkpoint_dir": "$base/ck1",
                        "compact_every": -3}}"""))
      .getMessage.contains("compact_every"))
  }

  test("ann_ingest config: the vector continuous-ingest sink; PQ indexes encode against saved codebooks; guards") {
    import spark.implicits._
    import graft.ops.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_anning_cfg").toString
    val idx = s"$base/idx"
    val inDir = s"$base/in"
    def vec(seed: Int): Seq[Double] =
      Seq.tabulate(8)(i => ((seed * 31 + i * 7) % 13 - 6).toDouble)
    val seed = (0L until 16L).map(i => (i, vec(i.toInt)))
    // PQ index: the streamed rows must encode against the SAVED codebooks
    Similarity.saveAnnIndex(spark, seed.toDF("id0", "emb"),
      "id0", "emb", idx, nlist = 2, pq = Some((4, 8)))
    (16L until 24L).map(i => (i, vec(i.toInt))).toDF("id0", "emb")
      .coalesce(1).write.mode("append").parquet(inDir)
    val json = s"""
      {"source": {"path": "$inDir"},
       "ann_ingest": {"id_col": "id0", "vec_col": "emb",
                      "index_dir": "$idx",
                      "checkpoint_dir": "$base/ckpt"}}"""
    val q = graft.compile.Compiler.compileStreamJson(spark, json)
    try q.processAllAvailable() finally q.stop()
    // the delta carries PQ codes, not raw vectors
    val deltaSchema = spark.read.parquet(s"$idx/index_inc").schema.fieldNames.toSet
    assert(deltaSchema.contains("codes") && !deltaSchema.contains("vec"),
      s"PQ delta must store codes: $deltaSchema")
    // streamed ingest == batch append (the shared encodeIndexRows law):
    // rebuild a twin index and batch-append the same rows — searches match
    val twin = s"$base/twin"
    Similarity.saveAnnIndex(spark, seed.toDF("id0", "emb"),
      "id0", "emb", twin, nlist = 2, pq = Some((4, 8)))
    Similarity.appendAnnIndex(spark,
      (16L until 24L).map(i => (i, vec(i.toInt))).toDF("id0", "emb"),
      "id0", "emb", twin)
    val qs = (0L until 4L).map(i => (i + 1000L, vec(i.toInt))).toDF("qid", "qv")
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(
      asSet(Similarity.annSearchIndex(qs, "qid", "qv", idx, k = 3, nprobe = 2)) ==
        asSet(Similarity.annSearchIndex(qs, "qid", "qv", twin, k = 3, nprobe = 2)),
      "streamed PQ ingest must equal the batch append")
    // guards: batch compile and save-beside reject by name
    assert(intercept[IllegalArgumentException](
      graft.compile.Compiler.compileJson(spark, json))
      .getMessage.contains("STREAMING ROOT sink"))
    val eBoth = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"source": {"path": "$inDir"},
         "ann_ingest": {"id_col": "id0", "vec_col": "emb",
                        "index_dir": "$idx", "checkpoint_dir": "$base/k2"},
         "save": {"path": "$base/out", "format": "parquet"}}"""))
    assert(eBoth.getMessage.contains("one or the other"), eBoth.getMessage)
  }

  test("passageIngest: later batches strip passages seen in earlier ones; cleaned text is what enters history") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val base = java.nio.file.Files.createTempDirectory("graft_pi").toString
    def corpusText(): Map[Long, String] =
      spark.read.parquet(s"$base/corpus").select("doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val q = Streaming.passageIngest(
      mem.toDF.toDF("doc_id", "text"), "doc_id", "text",
      s"$base/corpus", s"$base/index", s"$base/ckpt", windowTokens = 3)
    try {
      mem.addData(
        (1L, "alpha beta gamma delta"),
        (2L, "one two three four five"))
      q.processAllAvailable()
      assert(corpusText() == Map(
        1L -> "alpha beta gamma delta", 2L -> "one two three four five"),
        "first batch has no history — everything admitted untouched")

      mem.addData(
        (3L, "alpha beta gamma zeta eta theta"), // window [alpha beta gamma] is history → span [0,3) stripped
        (4L, "alpha beta gamma delta"),          // every window in history → empty clean_text → dropped
        (5L, "fresh words nobody else uses"),    // batch-first of an in-batch pair → kept whole
        (6L, "fresh words nobody else uses"))    // in-batch dup of 5 → empty → dropped
      q.processAllAvailable()
      val after2 = corpusText()
      assert(after2.keySet == Set(1L, 2L, 3L, 5L),
        s"4 and 6 are full duplicates and must drop: got ${after2.keySet}")
      assert(after2(3L) == "zeta eta theta",
        s"doc 3's duplicated leading passage must be stripped: got '${after2(3L)}'")
      assert(after2(5L) == "fresh words nobody else uses")

      // RESTART: fresh query on the same dirs — history must carry over,
      // and the history for doc 3 must be its CLEANED text (the window
      // [zeta eta theta] of the stripped doc, not the raw input's)
      q.stop()
      val q2 = Streaming.passageIngest(
        mem.toDF.toDF("doc_id", "text"), "doc_id", "text",
        s"$base/corpus", s"$base/index", s"$base/ckpt", windowTokens = 3)
      try {
        mem.addData(
          (7L, "zeta eta theta more stuff here"), // probes doc 3's cleaned windows
          (8L, "utterly distinct tokens appear once only"))
        q2.processAllAvailable()
        val after3 = corpusText()
        assert(after3.keySet == Set(1L, 2L, 3L, 5L, 7L, 8L), after3.keySet.toString)
        assert(after3(7L) == "more stuff here",
          s"doc 7 must strip against pre-restart CLEANED history: got '${after3(7L)}'")
        assert(after3(8L) == "utterly distinct tokens appear once only")
      } finally q2.stop()
    } finally q.stop()
  }

  test("crawl ingestion composes: streaming .warc.gz source → html_extract → passage_ingest") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_crawl").toString
    val inDir = s"$base/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    def rec(url: String, body: String): Array[Byte] = {
      val page =
        s"<html><head><title>T</title></head><body><p>$body</p></body></html>"
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $url\r\n" +
        s"Content-Length: ${page.length}\r\n\r\n").getBytes("ISO-8859-1") ++
        page.getBytes("ISO-8859-1") ++ "\r\n\r\n".getBytes("ISO-8859-1")
    }
    var fileN = 0
    def push(pages: (String, String)*): Unit = {
      fileN += 1
      // member-per-record gzip: the real crawl file layout, streamed
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$inDir/f$fileN.warc.gz"),
        pages.flatMap { case (u, b) =>
          graft.functions.GzipOps.gzip(rec(u, b)).toSeq }.toArray)
    }
    val json = s"""
      {"source": {"format": "warc", "path": "$inDir"},
       "filters": [{"col": "warc_type", "op": "==", "value": "response"}],
       "derive": {"html": "cast(payload as string)"},
       "html_extract": {"id_col": "url", "html_col": "html"},
       "passage_ingest": {"id_col": "url", "text_col": "body_text",
                          "corpus_dir": "$base/corpus",
                          "index_dir": "$base/index",
                          "checkpoint_dir": "$base/ckpt",
                          "window_tokens": 3}}"""
    push(("http://a/1", "alpha beta gamma delta"))
    val q = graft.compile.Compiler.compileStreamJson(spark, json)
    try {
      q.processAllAvailable()
      push(("http://a/2", "alpha beta gamma zeta eta theta"))
      q.processAllAvailable()
      val corpus = spark.read.parquet(s"$base/corpus")
        .select("url", "body_text").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(corpus.keySet == Set("http://a/1", "http://a/2"), corpus.toString)
      assert(corpus("http://a/1") == "alpha beta gamma delta")
      assert(corpus("http://a/2") == "zeta eta theta",
        "the crawl pipeline must strip the passage already ingested from page 1")
    } finally q.stop()
  }

  test("passage_ingest config: same strip decisions as the API path; guard rails by name") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_pi_cfg").toString
    val inDir = s"$base/in"
    def push(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(inDir)
    val json = s"""
      {"source": {"path": "$inDir"},
       "passage_ingest": {"id_col": "doc_id", "text_col": "text",
                          "corpus_dir": "$base/corpus",
                          "index_dir": "$base/index",
                          "checkpoint_dir": "$base/ckpt",
                          "window_tokens": 3}}"""
    def corpusText(): Map[Long, String] =
      spark.read.parquet(s"$base/corpus").select("doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    push((1L, "alpha beta gamma delta"), (2L, "one two three four five"))
    val q = graft.compile.Compiler.compileStreamJson(spark, json)
    try {
      q.processAllAvailable()
      push((3L, "alpha beta gamma zeta eta theta"),
        (4L, "alpha beta gamma delta"))
      q.processAllAvailable()
      val after = corpusText()
      assert(after.keySet == Set(1L, 2L, 3L), after.keySet.toString)
      assert(after(3L) == "zeta eta theta",
        s"config path strip decisions diverged: got '${after(3L)}'")
    } finally q.stop()
    // restart from the SAME json: cleaned-text history carries over
    val q2 = graft.compile.Compiler.compileStreamJson(spark, json)
    try {
      push((5L, "zeta eta theta more stuff here"))
      q2.processAllAvailable()
      assert(corpusText()(5L) == "more stuff here",
        "restarted config stream must strip against pre-restart cleaned history")
    } finally q2.stop()
    // guard rails: batch compile, save beside the sink, and two root
    // ingest sinks on one stream all reject by name
    val eBatch = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileJson(spark, s"""
        {"source": {"path": "$inDir"},
         "passage_ingest": {"id_col": "doc_id", "text_col": "text",
                            "corpus_dir": "$base/c2", "index_dir": "$base/i2",
                            "checkpoint_dir": "$base/k2"}}"""))
    assert(eBatch.getMessage.contains("STREAMING"), eBatch.getMessage)
    val eBoth = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"source": {"path": "$inDir"},
         "passage_ingest": {"id_col": "doc_id", "text_col": "text",
                            "corpus_dir": "$base/c3", "index_dir": "$base/i3",
                            "checkpoint_dir": "$base/k3"},
         "save": {"path": "$base/out", "format": "parquet"}}"""))
    assert(eBoth.getMessage.contains("one or the other"), eBoth.getMessage)
    val eTwo = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"source": {"path": "$inDir"},
         "near_dup_ingest": {"id_col": "doc_id", "text_col": "text",
                             "corpus_dir": "$base/c4", "index_dir": "$base/i4",
                             "checkpoint_dir": "$base/k4"},
         "passage_ingest": {"id_col": "doc_id", "text_col": "text",
                            "corpus_dir": "$base/c5", "index_dir": "$base/i5",
                            "checkpoint_dir": "$base/k5"}}"""))
    assert(eTwo.getMessage.contains("one per stream"), eTwo.getMessage)
  }

  test("streaming profile: per-batch stats equal the batch aggregate; config twin; guard rails") {
    val base = java.nio.file.Files.createTempDirectory("graft-sprofile").toString
    // two staged copies → maxFilesPerTrigger=1 → two micro-batches of
    // identical content: each batch's stats must equal the batch profile
    val srcDir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$base/in")).toString
    for (n <- Seq("a", "b"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/events.parquet"),
        java.nio.file.Paths.get(s"$srcDir/$n.parquet"))
    val cols = Seq("user_id", "value", "event_type")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val want = graft.ops.Relational.profile(raw, cols)
      .collect().map(_.toSeq).toSet

    // API path
    val q = Streaming.profileStream(
      spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir),
      cols, approx = false,
      graft.spec.SinkSpec(path = s"$base/outA",
        checkpoint = Some(s"$base/ckA"), trigger = Some("available_now")))
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(s"$base/outA")
    val ids = got.select("batch_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L, 1L), s"two micro-batches, got $ids")
    ids.foreach { id =>
      val rows = got.filter(col("batch_id") === id).drop("batch_id")
        .collect().map(_.toSeq).toSet
      assert(rows == want, s"batch $id stats must equal the batch profile")
    }

    // config twin: the SAME profile key, under compileStream
    val q2 = graft.compile.Compiler.compileStreamJson(spark, s"""
      {"source": {"format": "parquet", "path": "$srcDir",
                  "options": {"maxFilesPerTrigger": "1"}},
       "profile": {"columns": ["user_id", "value", "event_type"]},
       "save": {"format": "parquet", "path": "$base/outB",
                "trigger": "available_now", "checkpoint": "$base/ckB"}}""")
    q2.processAllAvailable(); q2.stop()
    val gotB = spark.read.parquet(s"$base/outB")
      .collect().map(_.toSeq).toSet
    assert(gotB == got.collect().map(_.toSeq).toSet,
      "config path must equal the API path rows")

    // guard rails by name
    val eNoSink = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"source": {"format": "parquet", "path": "$srcDir"},
         "profile": {"columns": ["user_id"]}}"""))
    assert(eNoSink.getMessage.contains("root save sink"), eNoSink.getMessage)
    val eMem = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"source": {"format": "parquet", "path": "$srcDir"},
         "profile": {"columns": ["user_id"]},
         "save": {"format": "memory", "query_name": "x",
                  "trigger": "available_now"}}"""))
    assert(eMem.getMessage.contains("memory/console"), eMem.getMessage)
  }

  test("streaming expect_report: per-batch scorecard equals the batch audit; config twin; guard rails") {
    val base = java.nio.file.Files.createTempDirectory("graft-sereport").toString
    val srcDir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$base/in")).toString
    for (n <- Seq("a", "b"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/events.parquet"),
        java.nio.file.Paths.get(s"$srcDir/$n.parquet"))
    val rules = Seq(
      "value_positive" -> "value > 0",
      "known_type" -> "event_type IN ('view','click','purchase','signup','error')")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val want = graft.ops.Relational.expectReport(raw, rules, Seq("event_type"))
      .collect().map(_.toSeq).toSet

    // API path: two staged copies → two micro-batches of identical
    // content; each batch's scorecard must equal the batch audit
    val q = Streaming.expectReportStream(
      spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir),
      rules, Seq("event_type"),
      graft.spec.SinkSpec(path = s"$base/outA",
        checkpoint = Some(s"$base/ckA"), trigger = Some("available_now")))
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(s"$base/outA")
    val ids = got.select("batch_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L, 1L), s"two micro-batches, got $ids")
    ids.foreach { id =>
      val rows = got.filter(col("batch_id") === id).drop("batch_id")
        .collect().map(_.toSeq).toSet
      assert(rows == want, s"batch $id scorecard must equal the batch audit")
    }

    // config twin: the SAME expect_report key on the streaming ROOT
    val q2 = graft.compile.Compiler.compileStreamJson(spark, s"""
      {"source": {"format": "parquet", "path": "$srcDir",
                  "options": {"maxFilesPerTrigger": "1"}},
       "expect_report": {"group_cols": ["event_type"],
                         "value_positive": "value > 0",
                         "known_type": "event_type IN ('view','click','purchase','signup','error')"},
       "save": {"format": "parquet", "path": "$base/outB",
                "trigger": "available_now", "checkpoint": "$base/ckB"}}""")
    q2.processAllAvailable(); q2.stop()
    val gotB = spark.read.parquet(s"$base/outB")
      .collect().map(_.toSeq).toSet
    assert(gotB == got.collect().map(_.toSeq).toSet,
      "config path must equal the API path rows")

    // guard rails by name: path sink required; both monitors together
    // reject; mid-pipeline placement stays batch-only
    val eMem = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"source": {"format": "parquet", "path": "$srcDir"},
         "expect_report": {"r": "value > 0"},
         "save": {"format": "memory", "query_name": "x",
                  "trigger": "available_now"}}"""))
    assert(eMem.getMessage.contains("memory/console"), eMem.getMessage)
    val eBoth = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"source": {"format": "parquet", "path": "$srcDir"},
         "profile": {"columns": ["user_id"]},
         "expect_report": {"r": "value > 0"},
         "save": {"format": "parquet", "path": "$base/outC",
                  "trigger": "available_now", "checkpoint": "$base/ckC"}}"""))
    assert(eBoth.getMessage.contains("ONE"), eBoth.getMessage)
    val eMid = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"source": {"format": "parquet", "path": "$srcDir"},
         "children": [{"id": "c", "source": {"path": "$srcDir/a.parquet"},
                       "expect_report": {"r": "value > 0"},
                       "join": {"on": ["event_id"], "how": "inner"}}],
         "save": {"format": "parquet", "path": "$base/outD",
                  "trigger": "available_now", "checkpoint": "$base/ckD"}}"""))
    assert(eMid.getMessage.contains("batch-only"), eMid.getMessage)
    // groups-without-rules must reject on the STREAMING root too (the
    // strip hides the fields from compileNode's guard) ...
    val eNoRules = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"source": {"format": "parquet", "path": "$srcDir"},
         "expect_report": {"group_cols": ["event_type"]},
         "save": {"format": "parquet", "path": "$base/outE",
                  "trigger": "available_now", "checkpoint": "$base/ckE"}}"""))
    assert(eNoRules.getMessage.contains("no rules"), eNoRules.getMessage)
    // ... and a typo'd group column fails AT DECLARATION, not inside the
    // first micro-batch's foreachBatch
    val eBadCol = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"source": {"format": "parquet", "path": "$srcDir"},
         "expect_report": {"group_cols": ["nope"], "r": "value > 0"},
         "save": {"format": "parquet", "path": "$base/outF",
                  "trigger": "available_now", "checkpoint": "$base/ckF"}}"""))
    assert(eBadCol.getMessage.contains("nope"), eBadCol.getMessage)
  }

  test("model-artifact streaming flagship: batch-train → save → ONE config probes/scores/tokenizes/curates a stream; stream==batch; restart-safe") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_artifact_flagship").toString
    val inDir = s"$base/in"

    // ---- batch phase: train and persist all three artifacts
    val train = Seq(
      (1L, "solid informative prose about science", 1.0),
      (2L, "careful structured writing on history", 1.0),
      (3L, "zzclickbait zzclickbait buy now win", 0.0),
      (4L, "zzclickbait free prize click here", 0.0)
    ).toDF("doc_id", "text", "label")
    val model = graft.ops.Corpus.trainTextClassifier(
      train, "doc_id", "text", "label", dim = 256, epochs = 3)
    graft.ops.Corpus.saveTextClassifier(spark, model, s"$base/model")
    graft.ops.Bpe.trainDF(spark, train, "text", 4)
      .write.mode("overwrite").parquet(s"$base/merges")
    val seedText = "alpha beta gamma delta epsilon zeta eta theta"
    graft.ops.Dedup.minhashBandIndex(
        Seq((100L, seedText)).toDF("doc_id", "text"), "doc_id", "text",
        shingleSize = 2, numHashes = 64, bands = 16)
      .write.mode("overwrite").parquet(s"$base/index")

    // ---- ONE config: probe → score → tokenize → curate. The identical
    // node body compiles batch (the oracle) and streaming (the system
    // under test); only source/sink framing differs.
    val body = s"""
       "near_dup_probe": {"text_col": "text", "index_dir": "$base/index",
                          "shingle_size": 2},
       "score_model": {"text_col": "text", "model_dir": "$base/model"},
       "bpe_apply": {"text_col": "text", "merges_dir": "$base/merges"},
       "post_filters": ["pred and not near_dup"],
       "drop": ["bpe_tokens"]"""
    val streamJson = s"""
      {"source": {"path": "$inDir"},
       $body,
       "save": {"path": "$base/out", "format": "parquet",
                "checkpoint": "$base/ckpt"}}"""

    def push(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(inDir)
    push((10L, "solid informative prose about geography"), // quality → kept
      (11L, "zzclickbait zzclickbait buy cheap now"), // spam → pred=false
      (12L, seedText)) // exact near-dup of the indexed corpus → flagged
    val q = graft.compile.Compiler.compileStreamJson(spark, streamJson)
    try q.processAllAvailable() finally q.stop()
    val out1 = spark.read.parquet(s"$base/out")
    assert(out1.select("doc_id").collect().map(_.getLong(0)).toSet == Set(10L),
      "curation must keep only the quality non-duplicate doc")

    // stream decisions == batch compile of the SAME node body over the
    // same input (artifact inference is deterministic scan-stage work)
    val batchRows = graft.compile.Compiler.compileJson(spark,
        s"""{"source": {"path": "$inDir"}, $body}""")
      .select("doc_id", "near_dup", "score", "pred", "n_bpe")
      .collect().map(_.toSeq).toSet
    val streamRows = out1
      .select("doc_id", "near_dup", "score", "pred", "n_bpe")
      .collect().map(_.toSeq).toSet
    assert(streamRows == batchRows,
      s"stream and batch decisions diverged:\n stream=$streamRows\n batch=$batchRows")

    // restart from the same checkpoint: only NEW files process (no
    // re-emission of doc 10), same artifacts → same decisions
    push((13L, "careful structured writing on geology"), // quality → kept
      (14L, seedText + " extra"), // still collides on shared bands? exact dup below is the guaranteed case
      (15L, seedText)) // exact dup again → flagged
    val q2 = graft.compile.Compiler.compileStreamJson(spark, streamJson)
    try q2.processAllAvailable() finally q2.stop()
    val after = spark.read.parquet(s"$base/out")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(after.count(_ == 10L) == 1,
      "restart must not re-emit pre-restart batches (checkpoint replay)")
    assert(after.toSet - 14L == Set(10L, 13L),
      s"post-restart curation decisions diverged: got ${after.toSet}")
    // doc 14 (7/9-Jaccard superset of the seed) may or may not share a
    // band — both outcomes are legal LSH; what must hold is stream==batch
    val batch2 = graft.compile.Compiler.compileJson(spark,
        s"""{"source": {"path": "$inDir"}, $body}""")
      .select("doc_id", "near_dup", "score", "pred", "n_bpe")
      .collect().map(_.toSeq).toSet
    val stream2 = spark.read.parquet(s"$base/out")
      .select("doc_id", "near_dup", "score", "pred", "n_bpe")
      .collect().map(_.toSeq).toSet
    assert(stream2 == batch2,
      "post-restart stream decisions must equal the batch compile")
  }

  test("upsample runs on a stream: scan-stage generator, stream == batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_up")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"))
    val spec = graft.spec.JsonCodec.parseNode("""
      {"id": "up",
       "derive": {"factor": "CASE lang WHEN 'en' THEN 2 WHEN 'zh' THEN 0 ELSE 1 END"},
       "keep_columns": ["doc_id", "lang", "factor"],
       "upsample": {"factor_col": "factor", "copy_col": "epoch"}}""")
    val batch = graft.compile.Compiler
      .compileNode(spark, spec, Some(Tables.load(spark, sf, "documents")))
      .select("doc_id", "epoch").orderBy("doc_id", "epoch")
      .collect().map(_.toSeq).toSeq
    assert(batch.nonEmpty)
    val raw = spark.read.parquet(s"$sf/documents.parquet")
    val streamIn = spark.readStream.schema(raw.schema).parquet(dir.toString)
    val out = graft.compile.Compiler.compileNode(spark, spec, Some(streamIn))
      .select("doc_id", "epoch")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("stream_upsample")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("stream_upsample")
      .orderBy("doc_id", "epoch").collect().map(_.toSeq).toSeq
    assert(streamed == batch, "stream upsampling must equal batch")
  }

  test("round-12 curation heuristics run on a stream: line/c4/gopher derive+filters, stream == batch") {
    graft.functions.Registry.registerAll(spark)
    // documents staged as a file-stream source
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_docs")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"))
    // scan-stage heuristics are streaming-admissible by construction:
    // derive the structs, filter on their fields, project metrics
    val spec = graft.spec.JsonCodec.parseNode("""
      {"id": "cur",
       "derive": {
         "mtext": "concat('Good opening line here.', char(10), replace(text, ' a ', char(10)), char(10), 'the of and closing line.')",
         "c": "c4_line_filter(mtext, 3)",
         "g": "gopher_quality(c.clean_text)",
         "ls": "line_stats(mtext)"},
       "filters": ["c.keep_doc", "g.stop_hits >= 3"],
       "with_columns": {"kept_lines": "c.kept_lines",
                        "n_words": "g.n_words",
                        "dup_line_frac": "ls.dup_line_frac"},
       "keep_columns": ["doc_id", "c", "g", "ls"]}""")
    val batch = graft.compile.Compiler
      .compileNode(spark, spec, Some(Tables.load(spark, sf, "documents")))
      .select("doc_id", "kept_lines", "n_words", "dup_line_frac")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(batch.nonEmpty)
    val raw = spark.read.parquet(s"$sf/documents.parquet")
    val streamIn = spark.readStream.schema(raw.schema).parquet(dir.toString)
    val out = graft.compile.Compiler.compileNode(spark, spec, Some(streamIn))
      .select("doc_id", "kept_lines", "n_words", "dup_line_frac")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("stream_curation")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("stream_curation")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("semanticIngest: batches dedup against the seeded index and each other; restart keeps history") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // one-hot pattern vectors: identical pattern = identical vector
    // (cos 1), distinct patterns orthogonal (cos 0 < τ)
    def v(p: Int): Seq[Double] = (0 until 8).map(d => if (d == p) 1.0 else 0.0)
    val base = java.nio.file.Files.createTempDirectory("graft_semin").toString
    // seed: batch-trained index over patterns 0 and 1
    graft.ops.Similarity.saveSemanticIndex(spark,
      Seq((0L, v(0)), (1L, v(1))).toDF("vec_id", "emb"),
      "vec_id", "emb", dim = 8, path = s"$base/idx", nlist = 2)
    val mem = MemoryStream[(Long, Seq[Double])]
    def start() = Streaming.semanticIngest(
      mem.toDF.toDF("vec_id", "emb"), "vec_id", "emb",
      threshold = 0.9, dim = 8, s"$base/corpus", s"$base/idx", s"$base/ckpt")
    val q = start()
    try {
      mem.addData((10L, v(2)), (11L, v(0))) // 11 duplicates the SEED corpus
      q.processAllAvailable()
      val first = spark.read.parquet(s"$base/corpus")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(first == Set(10L), s"11 must drop against the seed: $first")
      mem.addData(
        (20L, v(2)), // duplicates batch-1-ADMITTED 10 → dropped
        (21L, v(3)), // fresh
        (22L, v(3))) // in-batch dup of 21 → min-id wins
      q.processAllAvailable()
      val ids = spark.read.parquet(s"$base/corpus")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(10L, 21L),
        s"20 drops vs history, 22 drops in-batch: got $ids")
      q.stop()
      // restart on the same dirs: history carries (it lives in the index)
      val q2 = start()
      try {
        mem.addData((30L, v(3)), (31L, v(4)))
        q2.processAllAvailable()
        val after = spark.read.parquet(s"$base/corpus")
          .select("vec_id").collect().map(_.getLong(0)).toSet
        assert(after == Set(10L, 21L, 31L),
          s"30 must dedup against pre-restart history: got $after")
      } finally q2.stop()
      // the index stays one row per DISTINCT admitted embedding + seed
      val classes = spark.read.parquet(s"$base/idx/classes")
      assert(classes.count() == 2 + 3, "seed 2 + one class per admitted vector")
    } finally q.stop()
  }

  test("semanticIngest compact_every: b-dialect areas (batch=seed + batch=b<id>) fold in-stream; decisions unchanged") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def v(p: Int): Seq[Double] = (0 until 8).map(d => if (d == p) 1.0 else 0.0)
    val base = java.nio.file.Files.createTempDirectory("graft_semince").toString
    graft.ops.Similarity.saveSemanticIndex(spark,
      Seq((0L, v(0)), (1L, v(1))).toDF("vec_id", "emb"),
      "vec_id", "emb", dim = 8, path = s"$base/idx", nlist = 2)
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = Streaming.semanticIngest(
      mem.toDF.toDF("vec_id", "emb"), "vec_id", "emb",
      threshold = 0.9, dim = 8, s"$base/corpus", s"$base/idx", s"$base/ckpt",
      compactEvery = Some(2))
    try {
      mem.addData((10L, v(2)), (11L, v(0))); q.processAllAvailable() // 11 dups seed
      mem.addData((20L, v(2)), (21L, v(3))); q.processAllAvailable() // 20 dups 10
      mem.addData((30L, v(3)), (31L, v(4))); q.processAllAvailable() // 30 dups 21
      mem.addData((40L, v(4)), (41L, v(5))); q.processAllAvailable() // 40 dups 31
      val ids = spark.read.parquet(s"$base/corpus")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(10L, 21L, 31L, 41L),
        s"semantic decisions must be fold-invariant: $ids")
      // the classes area folded THROUGH the seed dir: seed + committed
      // b-dirs merge into one b-dialect dir; history (incl. the seed
      // classes) still wins after the fold (11/20/30/40 all dropped)
      def dirNames(a: String): Seq[String] = new java.io.File(a).listFiles()
        .map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
      assert(dirNames(s"$base/idx/classes").size <= 2,
        s"classes area must compact: ${dirNames(s"$base/idx/classes")}")
      assert(dirNames(s"$base/idx/classes").forall(n =>
          n.stripPrefix("batch=").startsWith("b")),
        s"folded classes dir keeps the b dialect: ${dirNames(s"$base/idx/classes")}")
      assert(dirNames(s"$base/corpus").size <= 2,
        s"corpus area must compact: ${dirNames(s"$base/corpus")}")
      // one class row per distinct admitted embedding + the seed's two,
      // exactly as without folds
      assert(spark.read.parquet(s"$base/idx/classes").count() == 2 + 4)
    } finally q.stop()
  }

  test("predict_model config key runs on a stream: artifact-loaded argmax, stream == batch") {
    import graft.ops.Corpus
    graft.functions.Registry.registerAll(spark)
    val base = Tables.load(spark, sf, "documents")
      .withColumn("mtext", concat_ws(" ", col("text"),
        concat(lit("zzmarker"), col("lang"))))
    val models = Corpus.trainMulticlassClassifier(
      base, "doc_id", "mtext", "lang", dim = 512, epochs = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-pm").toString
    Corpus.saveMulticlassClassifier(spark, models, s"$dir/model")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      java.nio.file.Paths.get(s"$dir/in/documents.parquet"))
    // marker tripled — the q180 margin posture
    val nodeBody = s""""derive": {"mk": "concat(' zzmarker', lang)",
                       "mtext": "concat(text, mk, mk, mk)"},
       "keep_columns": ["doc_id", "mtext"],
       "predict_model": {"text_col": "mtext", "model_dir": "$dir/model"},
       "drop": ["mtext"]"""
    val batch = graft.compile.Compiler.compileJson(spark, s"""
      {"source": {"path": "$dir/in/documents.parquet"}, $nodeBody}""")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val q = graft.compile.Compiler.compileStreamJson(spark, s"""
      {"source": {"path": "$dir/in"}, $nodeBody,
       "save": {"format": "memory", "query_name": "pm_stream",
                "trigger": "available_now", "output_mode": "append"}}""")
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("pm_stream")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == batch, "stream prediction must equal batch")
    assert(batch.nonEmpty)
  }

  test("chunk config key runs on a stream: scan-stage generator, stream == batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-chunk").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      java.nio.file.Paths.get(s"$dir/in/documents.parquet"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getInt(3))
    Seq(
      // windowed text tier and structure-aware sep tier: both are pure
      // scan-stage generators, so both must be batching-invariant
      ("chunk_stream_w", s""""keep_columns": ["doc_id", "text"],
        "chunk": {"id_col": "doc_id", "text_col": "text",
                  "size": 16, "overlap": 4}"""),
      ("chunk_stream_s", s""""derive": {"para": "replace(text, ' merge ', '|')"},
        "keep_columns": ["doc_id", "para"],
        "chunk": {"id_col": "doc_id", "text_col": "para",
                  "size": 16, "sep": "|"}""")
    ).foreach { case (qname, nodeBody) =>
      val batch = graft.compile.Compiler.compileJson(spark, s"""
        {"source": {"path": "$dir/in/documents.parquet"}, $nodeBody}""")
        .collect().map(key).toMap
      val q = graft.compile.Compiler.compileStreamJson(spark, s"""
        {"source": {"path": "$dir/in"}, $nodeBody,
         "save": {"format": "memory", "query_name": "$qname",
                  "trigger": "available_now", "output_mode": "append"}}""")
      q.processAllAvailable(); q.stop()
      val streamed = spark.table(qname).collect().map(key).toMap
      assert(streamed == batch, s"$qname: stream chunking must equal batch")
      assert(batch.nonEmpty)
    }
  }

  test("unpivot config key runs on a stream: one Expand, stream == batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-unpivot").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/lineitem.parquet"),
      java.nio.file.Paths.get(s"$dir/in/lineitem.parquet"))
    val nodeBody = s""""keep_columns": ["l_orderkey", "l_linenumber",
                        "l_quantity", "l_tax"],
       "unpivot": {"ids": ["l_orderkey", "l_linenumber"],
                   "var_col": "measure", "value_col": "value"}"""
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getString(2)) -> r.getDouble(3)
    val batch = graft.compile.Compiler.compileJson(spark, s"""
      {"source": {"path": "$dir/in/lineitem.parquet"}, $nodeBody}""")
      .collect().map(key).toMap
    val q = graft.compile.Compiler.compileStreamJson(spark, s"""
      {"source": {"path": "$dir/in"}, $nodeBody,
       "save": {"format": "memory", "query_name": "unpivot_stream",
                "trigger": "available_now", "output_mode": "append"}}""")
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("unpivot_stream").collect().map(key).toMap
    assert(streamed == batch, "stream melt must equal batch")
    assert(batch.nonEmpty)
  }

  test("overlap_join runs on a stream against a static def: stream == batch") {
    // the frame side is the stream (cell explode is a deterministic
    // stateless generator; the pair join is stream-static on the def) —
    // the continuous "did this session overlap an outage window?" gate
    val dir = java.nio.file.Files.createTempDirectory("graft-ovlstream").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/in/events.parquet"))
    val body = s"""
       "defs": [
         {"id": "views", "source": {"path": "$dir/in/events.parquet"},
          "filters": ["event_type = 'view'"],
          "derive": {"v_id": "event_id",
                     "v_lo": "unix_micros(CAST(ts AS TIMESTAMP))",
                     "v_hi": "unix_micros(CAST(ts AS TIMESTAMP)) + 3600000000"},
          "keep_columns": ["user_id", "v_id", "v_lo", "v_hi"]}],
       "filters": ["event_type = 'click'"],
       "derive": {"c_id": "event_id",
                  "c_lo": "unix_micros(CAST(ts AS TIMESTAMP))",
                  "c_hi": "unix_micros(CAST(ts AS TIMESTAMP)) + 1800000000"},
       "keep_columns": ["user_id", "c_id", "c_lo", "c_hi"],
       "overlap_join": {"other_ref": "views",
                        "lo_col": "c_lo", "hi_col": "c_hi",
                        "other_lo_col": "v_lo", "other_hi_col": "v_hi",
                        "bucket": 3600000000, "on": ["user_id"],
                        "payload": ["v_id"]}"""
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("user_id"), r.getAs[Long]("c_id"), r.getAs[Long]("v_id"))
    val batch = graft.compile.Compiler.compileJson(spark, s"""
      {"source": {"path": "$dir/in/events.parquet"}, $body}""")
      .collect().map(key).toSet
    val q = graft.compile.Compiler.compileStreamJson(spark, s"""
      {"source": {"path": "$dir/in"}, $body,
       "save": {"format": "memory", "query_name": "overlap_stream",
                "trigger": "available_now", "output_mode": "append"}}""")
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("overlap_stream").collect().map(key).toSet
    assert(streamed == batch, "streamed overlap pairs must equal batch")
    assert(batch.nonEmpty, "fixture should produce at least one overlap pair")

    // how:"left" is batch-only (the NULL-pad side anti-joins over the
    // matched output) — reject by name, with the def in scope so the
    // guard (not the missing-ref error) is what fires
    val bodyLeft = body.replace(""""payload": ["v_id"]}""",
      """"payload": ["v_id"], "how": "left"}""")
    val eLeft = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"source": {"path": "$dir/in"}, $bodyLeft,
         "save": {"format": "memory", "query_name": "overlap_stream_left",
                  "trigger": "available_now", "output_mode": "append"}}"""))
    assert(eLeft.getMessage.contains("batch-only") &&
      eLeft.getMessage.contains("overlap_join"), eLeft.getMessage)

    // the three streaming-defs rules, each by name: a stream may not
    // SOURCE from a def; cache: true defs are batch-only; def sinks stay
    // illegal under streaming too
    val eRef = intercept[IllegalArgumentException] {
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"defs": [{"id": "d", "source": {"path": "$dir/in/events.parquet"}}],
         "source": {"ref": "d"},
         "save": {"format": "memory", "query_name": "x",
                  "trigger": "available_now", "output_mode": "append"}}""")
    }
    assert(eRef.getMessage.contains("cannot feed a stream"), eRef.getMessage)
    val eCache = intercept[IllegalArgumentException] {
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"defs": [{"id": "d", "cache": true,
                   "source": {"path": "$dir/in/events.parquet"}}],
         "source": {"path": "$dir/in"},
         "save": {"format": "memory", "query_name": "x",
                  "trigger": "available_now", "output_mode": "append"}}""")
    }
    assert(eCache.getMessage.contains("cache"), eCache.getMessage)
    val eSave = intercept[IllegalArgumentException] {
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"defs": [{"id": "d", "source": {"path": "$dir/in/events.parquet"},
                   "save": {"format": "parquet", "path": "$dir/defsink"}}],
         "source": {"path": "$dir/in"},
         "save": {"format": "memory", "query_name": "x",
                  "trigger": "available_now", "output_mode": "append"}}""")
    }
    assert(eSave.getMessage.contains("sinks live on the root tree"),
      eSave.getMessage)
  }

  test("range_join runs on a stream against a static def: stream == batch") {
    // the r16 point-in-interval join's documented streaming admissibility,
    // now reachable from config via streaming defs: the stream side is
    // points, the def side the interval dimension table
    val dir = java.nio.file.Files.createTempDirectory("graft-rjstream").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/in/events.parquet"))
    val body = s"""
       "defs": [
         {"id": "bands", "source": {"path": "$dir/in/events.parquet"},
          "filters": ["event_type = 'signup'"],
          "derive": {"lo": "CAST(user_id * 3 AS DOUBLE)",
                     "hi": "CAST(user_id * 3 + 40 AS DOUBLE)",
                     "tag": "concat('b', CAST(event_id AS STRING))"},
          "keep_columns": ["lo", "hi", "tag"]}],
       "filters": ["event_type = 'click'"],
       "derive": {"x": "CAST(user_id * 2 AS DOUBLE)"},
       "keep_columns": ["event_id", "x"],
       "range_join": {"intervals_ref": "bands", "point_col": "x",
                      "lo_col": "lo", "hi_col": "hi", "bucket": 20,
                      "payload": ["tag"], "broadcast": true}"""
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("event_id"), r.getAs[String]("tag"))
    val batch = graft.compile.Compiler.compileJson(spark, s"""
      {"source": {"path": "$dir/in/events.parquet"}, $body}""")
      .collect().map(key).toSet
    val q = graft.compile.Compiler.compileStreamJson(spark, s"""
      {"source": {"path": "$dir/in"}, $body,
       "save": {"format": "memory", "query_name": "rj_stream",
                "trigger": "available_now", "output_mode": "append"}}""")
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("rj_stream").collect().map(key).toSet
    assert(streamed == batch, "streamed range join must equal batch")
    assert(batch.nonEmpty, "fixture should produce at least one match")
  }

  test("bpe_apply → chunk (ids tier) composes on a stream: stream == batch") {
    import spark.implicits._
    // the no-truncation feeder (tokenize → pre-split into ≤size-id
    // chunks) running CONTINUOUSLY: both stages are scan-stage
    // reference-object kernels, so the composition must be
    // batching-invariant end to end — ids included
    val base = java.nio.file.Files.createTempDirectory("graft-bpechunk").toString
    val inDir = s"$base/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val docs = (1L to 30L)
      .map(i => (i, s"banana band bandana ana nab $i " * (1 + (i % 4)).toInt))
      .toDF("doc_id", "text")
    graft.ops.Bpe.trainDF(spark, docs, "text", 6)
      .write.mode("overwrite").parquet(s"$base/merges")
    docs.coalesce(1).write.mode("append").parquet(inDir)
    val body = s"""
       "keep_columns": ["doc_id", "text"],
       "bpe_apply": {"text_col": "text", "merges_dir": "$base/merges",
                     "with_ids": true},
       "chunk": {"id_col": "doc_id", "ids_col": "bpe_ids",
                 "size": 8, "overlap": 2}"""
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_id")) ->
        (r.getAs[scala.collection.Seq[Int]]("chunk_ids").toList,
          r.getAs[Int]("n_tokens"))
    val batch = graft.compile.Compiler.compileJson(spark,
        s"""{"source": {"path": "$inDir"}, $body}""")
      .collect().map(key).toMap
    val q = graft.compile.Compiler.compileStreamJson(spark, s"""
      {"source": {"path": "$inDir"}, $body,
       "save": {"format": "memory", "query_name": "bpe_chunk_stream",
                "trigger": "available_now", "output_mode": "append"}}""")
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("bpe_chunk_stream").collect().map(key).toMap
    assert(streamed == batch, "streamed bpe→chunk ids must equal batch")
    assert(batch.nonEmpty && batch.exists(_._2._1.size == 8))
  }

  test("dsir_score config key runs on a stream: artifact-loaded weights, stream == batch") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dsirstream").toString
    // batch-fit on a planted science-vs-spam mixture, persist the ratios
    val raw = ((1L to 20L).map(i => (i, s"quantum gauge theory lecture $i")) ++
      (21L to 40L).map(i => (i, s"buy cheap pills now offer $i"))).toDF("doc_id", "text")
    val target = (101L to 110L)
      .map(i => (i, s"gauge symmetry in quantum theory $i")).toDF("doc_id", "text")
    val model = graft.ops.Corpus.dsirFit(raw, target, "text", buckets = 128)
    graft.ops.Corpus.saveDsirModel(spark, model, s"$dir/model")

    raw.coalesce(1).write.parquet(s"$dir/in")
    val nodeBody = s""""dsir_score": {"model_dir": "$dir/model", "text_col": "text"}"""
    val batch = graft.compile.Compiler.compileJson(spark,
        s"""{"source": {"path": "$dir/in"}, $nodeBody}""")
      .select("doc_id", "n_feats", "dsir_logw")
      .collect().map(_.toSeq).toSet
    val q = graft.compile.Compiler.compileStreamJson(spark, s"""
      {"source": {"path": "$dir/in"}, $nodeBody,
       "save": {"format": "memory", "query_name": "dsir_stream",
                "trigger": "available_now", "output_mode": "append"}}""")
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("dsir_stream")
      .select("doc_id", "n_feats", "dsir_logw")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, "stream scoring must equal batch")
    assert(batch.nonEmpty)
    // and the scores separate the planted classes through the artifact
    val m = spark.table("dsir_stream")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dsir_logw")).toMap
    assert((1L to 20L).map(m).min > (21L to 40L).map(m).max)
  }

  test("winnow_probe config key runs on a stream: Bloom candidate gate, stream == batch") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-wnprobe").toString
    val block = (1 to 15).map("qq" + _).mkString(" ")
    val corpus = (1L to 12L).map(i =>
      (i, s"history doc $i " + (1 to 15).map(j => s"h$i$j").mkString(" ") +
        (if (i % 3 == 0) s" $block" else ""))).toDF("doc_id", "text")
    graft.ops.Dedup.winnowIndexFps(corpus, "doc_id", "text", 8, 4)
      .write.parquet(s"$dir/idx")
    val incoming = (101L to 112L).map(i =>
      (i, s"fresh doc $i " + (1 to 15).map(j => s"f$i$j").mkString(" ") +
        (if (i % 3 == 0) s" $block" else ""))).toDF("doc_id", "text")
    incoming.coalesce(1).write.parquet(s"$dir/in")
    val nodeBody = s""""winnow_probe": {"text_col": "text", "index_dir": "$dir/idx",
      "window_tokens": 8, "winnow_window": 4, "min_shared": 2}"""
    val batch = graft.compile.Compiler.compileJson(spark,
        s"""{"source": {"path": "$dir/in"}, $nodeBody}""")
      .select("doc_id", "matched_fps", "near_dup")
      .collect().map(_.toSeq).toSet
    val q = graft.compile.Compiler.compileStreamJson(spark, s"""
      {"source": {"path": "$dir/in"}, $nodeBody,
       "save": {"format": "memory", "query_name": "wn_stream",
                "trigger": "available_now", "output_mode": "append"}}""")
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("wn_stream")
      .select("doc_id", "matched_fps", "near_dup")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, "stream probe must equal batch")
    val flags = spark.table("wn_stream")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("near_dup")).toMap
    assert((102L to 112L by 3).forall(flags(_)), "planted shares must flag on the stream")
    assert(flags.values.exists(!_), "unplanted docs must pass")
  }

  test("tokenized-shards streaming flagship: ONE config scores/filters/tokenizes a stream into WebDataset shards; membership == batch tar_pack; restart-safe") {
    import spark.implicits._
    graft.functions.Registry.registerAll(spark)
    val base = java.nio.file.Files.createTempDirectory("graft_shard_flagship").toString
    val inDir = s"$base/in"

    // ---- batch phase: quality model, DSIR ratios, decontamination
    // index, tokenizer merges — the four artifacts a production shard
    // packer loads
    val train = Seq(
      (1L, "solid informative prose about science", 1.0),
      (2L, "careful structured writing on history", 1.0),
      (3L, "zzclickbait zzclickbait buy now win", 0.0),
      (4L, "zzclickbait free prize click here", 0.0)).toDF("doc_id", "text", "label")
    val model = graft.ops.Corpus.trainTextClassifier(
      train, "doc_id", "text", "label", dim = 256, epochs = 3)
    graft.ops.Corpus.saveTextClassifier(spark, model, s"$base/model")
    val dsir = graft.ops.Corpus.dsirFit(
      train.select("doc_id", "text"),
      train.filter($"label" === 1.0).select("doc_id", "text"),
      "text", buckets = 128)
    graft.ops.Corpus.saveDsirModel(spark, dsir, s"$base/dsir")
    val bench = (1 to 15).map("qq" + _).mkString(" ") // the leaked benchmark
    graft.ops.Dedup.winnowIndexFps(
        Seq((900L, s"benchmark answer $bench")).toDF("doc_id", "text"),
        "doc_id", "text", 8, 4)
      .write.parquet(s"$base/widx")
    graft.ops.Bpe.trainDF(spark, train, "text", 4)
      .write.mode("overwrite").parquet(s"$base/merges")

    // ---- ONE node body: importance-score → quality-score →
    // decontaminate → filter → tokenize → serialize. Identical body
    // compiles batch (the membership oracle) and streaming (the system
    // under test); only the sink framing differs.
    val body = s"""
       "dsir_score": {"model_dir": "$base/dsir", "text_col": "text"},
       "score_model": {"text_col": "text", "model_dir": "$base/model"},
       "winnow_probe": {"text_col": "text", "index_dir": "$base/widx",
                        "window_tokens": 8, "winnow_window": 4},
       "bpe_apply": {"text_col": "text", "merges_dir": "$base/merges",
                     "with_ids": true},
       "with_columns": {"name": "concat('s', doc_id, '.ids')",
                        "data": "ints_binary(bpe_ids)"},
       "post_filters": ["pred", "not near_dup", "dsir_logw > -1000"]"""
    val streamJson = s"""
      {"source": {"path": "$inDir"},
       $body,
       "tar_pack_ingest": {"name_col": "name", "payload_col": "data",
                           "shards": 2, "out_dir": "$base/shards",
                           "checkpoint_dir": "$base/ckpt"}}"""
    def push(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(inDir)
    push((10L, "solid informative prose about geography"), // quality → kept
      (11L, "zzclickbait zzclickbait buy cheap now"), // classifier drop
      (12L, s"fresh answer copy $bench")) // contamination drop
    val q = graft.compile.Compiler.compileStreamJson(spark, streamJson)
    try q.processAllAvailable() finally q.stop()

    def shardMembers(df: org.apache.spark.sql.DataFrame): Set[(Int, String)] =
      df.select(col("shard"), explode(expr("tar_members(tar)")).as("m"))
        .select(col("shard"), col("m.name"))
        .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    val streamed1 = spark.read.parquet(s"$base/shards")
    assert(shardMembers(streamed1).map(_._2) == Set("s10.ids"),
      "curation must pack only the quality, uncontaminated doc")

    // restart from the checkpoint: only NEW files pack, landing beside
    // the first batch's shard archives
    push((13L, "careful structured writing on geology"), // quality → kept
      (14L, s"another leaked answer $bench")) // contamination drop
    val q2 = graft.compile.Compiler.compileStreamJson(spark, streamJson)
    try q2.processAllAvailable() finally q2.stop()
    val streamed = spark.read.parquet(s"$base/shards")
    val got = shardMembers(streamed)
    assert(got.map(_._2) == Set("s10.ids", "s13.ids"),
      s"post-restart membership diverged: $got")

    // shard MEMBERSHIP is batching-invariant: the batch tar_pack of the
    // SAME body over the full input assigns every member the same shard
    // (body in a def, pack at the root — the q200 layout, because batch
    // tar_pack runs before a node's own with_columns)
    val batchTar = graft.compile.Compiler.compileJson(spark,
      s"""{"defs": [{"id": "enc", "source": {"path": "$inDir"}, $body}],
          "source": {"ref": "enc"},
          "tar_pack": {"name_col": "name", "payload_col": "data", "shards": 2}}""")
    assert(shardMembers(batchTar) == got,
      "stream shard membership must equal the batch tar_pack assignment")
    // and the packed BYTES agree member-for-member (same tokenizer, same
    // serialization, same archive round-trip on both paths)
    def memberBytes(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Byte]] =
      df.select(explode(expr("tar_members(tar)")).as("m"))
        .select(col("m.name"), col("m.data"))
        .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(memberBytes(streamed) == memberBytes(batchTar))

    // guard rails: a save beside the ingest, two ingests, and a batch
    // compile of the ingest key all reject by name
    val e1 = intercept[IllegalArgumentException] {
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"source": {"path": "$inDir"},
         "tar_pack_ingest": {"name_col": "n", "payload_col": "d", "shards": 2,
                             "out_dir": "$base/x", "checkpoint_dir": "$base/xc"},
         "save": {"path": "$base/y", "format": "parquet"}}""")
    }
    assert(e1.getMessage.contains("replaces the root save sink"))
    val e2 = intercept[IllegalArgumentException] {
      graft.compile.Compiler.compileJson(spark, s"""
        {"source": {"path": "$inDir"},
         "tar_pack_ingest": {"name_col": "n", "payload_col": "d", "shards": 2,
                             "out_dir": "$base/x", "checkpoint_dir": "$base/xc"}}""")
    }
    assert(e2.getMessage.contains("STREAMING ROOT sink"))
  }

  test("cluster-output and passage dedup keys reject streaming compiles by name") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-batchonly").toString
    val inDir = s"$base/in"
    Seq((1L, "alpha beta", Array(0.1f, 0.2f)))
      .toDF("doc_id", "text", "embedding").write.parquet(inDir)
    def rejects(nodeJson: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException](
        graft.compile.Compiler.compileStreamJson(spark, s"""
          {"source": {"path": "$inDir"}, $nodeJson,
           "save": {"path": "$base/out", "format": "parquet",
                    "checkpoint": "$base/ck"}}"""))
      assert(e.getMessage.contains(needle), e.getMessage)
    }
    rejects(""""near_dup": {"id_col": "doc_id", "vec_col": "embedding",
               "threshold": 0.4, "dim": 2, "output": "clusters"}""",
      "batch-only")
    rejects(""""image_dedup": {"id_col": "doc_id", "payload_col": "text",
               "output": "clusters"}""", "batch-only")
    rejects(""""simhash_dedup": {"id_col": "doc_id", "text_col": "text",
               "output": "clusters"}""", "batch-only")
    rejects(""""passage_dedup": {"id_col": "doc_id", "text_col": "text"}""",
      "batch-only")
    rejects(""""semantic_dedup": {"id_col": "doc_id", "vec_col": "embedding",
               "threshold": 0.9, "dim": 2}""", "batch-only")
    rejects(""""global_shuffle": {"id_col": "doc_id", "shards": 4}""",
      "batch-only")
    rejects(""""multiclass_classifier": {"id_col": "doc_id",
               "text_col": "text", "label_col": "text"}""", "batch-only")
    rejects(""""dsir": {"target_ref": "tgt", "text_col": "text"}""",
      "batch-only")
    rejects(""""page_rank": {"src_col": "text", "dst_col": "text"}""",
      "batch-only")
    rejects(""""bm25": {"queries_ref": "q", "id_col": "doc_id",
               "text_col": "text"}""", "batch-only")
    rejects(""""temperature_sample": {"group_col": "lang", "id_col": "doc_id",
               "target_fraction": 0.3}""", "batch-only")
    rejects(""""sequence_pack": {"id_col": "doc_id", "ids_col": "text",
               "seq_len": 8}""", "batch-only")
    rejects(""""token_budget_sample": {"group_col": "lang", "id_col": "doc_id",
               "tokens_col": "doc_id", "budgets": {"en": 100}}""", "batch-only")
    rejects(""""dedup": {"keys": ["text"], "id_col": "doc_id",
               "order_col": "doc_id"}""", "batch-only")
    rejects(""""dedup": {"keys": ["text"], "id_col": "doc_id",
               "count_col": "dup_count"}""", "batch-only")
    rejects(""""collocations": {"text_col": "text"}""", "batch-only")
    rejects(""""connected_components": {"src_col": "doc_id",
               "dst_col": "text"}""", "batch-only")
    // expect_report on a streaming ROOT is now the per-batch contract
    // monitor (see the dedicated test); only MID-PIPELINE placement
    // remains batch-only — covered there too
    // root-level profile is now the streaming drift monitor (see the
    // dedicated test); only the MID-PIPELINE placement rejects by name
    val eMid = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"source": {"path": "$inDir"},
         "children": [{"id": "c", "source": {"path": "$inDir"},
                       "profile": {"columns": ["doc_id"]},
                       "join": {"on": ["doc_id"], "how": "inner"}}],
         "save": {"path": "$base/outp", "format": "parquet",
                  "checkpoint": "$base/ckp"}}"""))
    assert(eMid.getMessage.contains("ROOT node"), eMid.getMessage)
    // the pair shapes stay streaming-admissible in principle — only the
    // iterative cluster tier is named off; batch compiles are untouched
    val ok = graft.compile.Compiler.compileJson(spark, s"""
      {"source": {"path": "$inDir"},
       "passage_dedup": {"id_col": "doc_id", "text_col": "text",
                         "window_tokens": 2}}""")
    assert(ok.columns.toSeq ==
      Seq("doc_id", "span_start", "span_end", "dup_windows"))
  }

  /** An area ingest's corpus after two micro-batches land; with `crash`,
    * the last batch's `commits` entry is then deleted, so a restart
    * replays that batch over its own landed `batch=` dirs. `start` gets
    * the MemoryStream frame and a fresh base dir (checkpoint at
    * `$base/ckpt`, corpus at `$base/corpus`). */
  private def replayedCorpus[A: org.apache.spark.sql.Encoder](
      batches: Seq[Seq[A]], crash: Boolean, seed: String => Unit = _ => ())(
      start: (org.apache.spark.sql.DataFrame, String) =>
        org.apache.spark.sql.streaming.StreamingQuery): Set[Seq[Any]] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_replay").toString
    seed(base)
    val mem = MemoryStream[A]
    var q = start(mem.toDF, base)
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      if (crash) {
        q.stop()
        val last = batches.size - 1
        Seq(s"$last", s".$last.crc").foreach(f => java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(s"$base/ckpt/commits/$f")))
        q = start(mem.toDF, base)
        q.processAllAvailable()
        assert(new java.io.File(s"$base/ckpt/commits/$last").exists,
          "the restart must replay the uncommitted batch")
      }
    } finally q.stop()
    spark.read.parquet(s"$base/corpus").collect().map(_.toSeq).toSet
  }

  /** The replay must equal the run without the crash; the second batch
    * admits something, so a replay that probed its own landed write
    * (and dropped its docs as duplicates of themselves) would differ. */
  private def assertReplaySafe[A: org.apache.spark.sql.Encoder](
      name: String, batches: Seq[Seq[A]], seed: String => Unit = _ => ())(
      start: (org.apache.spark.sql.DataFrame, String) =>
        org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val clean = replayedCorpus(batches, crash = false, seed)(start)
    assert(clean.exists(_.last.toString.stripPrefix("b") == "1"),
      s"$name: the second batch must admit a doc: $clean")
    val replayed = replayedCorpus(batches, crash = true, seed)(start)
    assert(replayed == clean,
      s"$name: a replayed batch must not dedup against its own crashed write")
  }

  test("area ingests: a replayed batch excludes its own crashed write (exact, near_dup, passage, semantic)") {
    import spark.implicits._
    val tA = "alpha beta gamma delta epsilon zeta eta theta"
    val tB = "one two three four five six seven eight nine ten"
    val tC = "completely fresh unrelated content words here indeed"
    val texts = Seq(Seq((1L, tA), (2L, tB)), Seq((3L, tA), (4L, tC)))
    assertReplaySafe("exact_ingest", texts) { (in, base) =>
      Streaming.exactIngest(in.toDF("doc_id", "text"), "doc_id", Seq("text"),
        s"$base/corpus", s"$base/index", s"$base/ckpt")
    }
    assertReplaySafe("near_dup_ingest", texts) { (in, base) =>
      Streaming.nearDupIngest(in.toDF("doc_id", "text"), "doc_id", "text",
        s"$base/corpus", s"$base/index", s"$base/ckpt", shingleSize = 2)
    }
    assertReplaySafe("passage_ingest", texts) { (in, base) =>
      Streaming.passageIngest(in.toDF("doc_id", "text"), "doc_id", "text",
        s"$base/corpus", s"$base/index", s"$base/ckpt", windowTokens = 3)
    }
    def v(p: Int): Seq[Double] = (0 until 8).map(d => if (d == p) 1.0 else 0.0)
    assertReplaySafe("semantic_ingest",
        Seq(Seq((10L, v(2))), Seq((20L, v(3)), (21L, v(2)))),
        seed = base => graft.ops.Similarity.saveSemanticIndex(spark,
          Seq((0L, v(0)), (1L, v(1))).toDF("vec_id", "emb"),
          "vec_id", "emb", dim = 8, path = s"$base/idx", nlist = 2)) { (in, base) =>
      Streaming.semanticIngest(in.toDF("vec_id", "emb"), "vec_id", "emb",
        threshold = 0.9, dim = 8, s"$base/corpus", s"$base/idx", s"$base/ckpt")
    }
  }

  test("a bad trigger fails by name on every stream sink") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val base = java.nio.file.Files.createTempDirectory("graft_trigger").toString
    def err(keys: String): String = intercept[IllegalArgumentException](
      graft.compile.Compiler.compileStreamJson(spark, s"""
        {"id": "t", "source": {"format": "parquet", "path": "$eventsDir"}, $keys}"""))
      .getMessage
    val named = """trigger 'availablenow' is neither "available_now"/"once" """ +
      "nor a valid interval"
    val save = err("""
      "save": {"format": "memory", "query_name": "bad_trigger",
               "trigger": "availablenow"}""")
    assert(save.contains(s"save: $named"), save)
    val profile = err(s"""
      "profile": {"columns": ["value"]},
      "save": {"format": "parquet", "path": "$base/p", "checkpoint": "$base/pk",
               "trigger": "availablenow"}""")
    assert(profile.contains(s"profile: $named"), profile)
    val tarPack = err(s"""
      "derive": {"n": "cast(user_id AS STRING)", "d": "cast(event_type AS BINARY)"},
      "tar_pack_ingest": {"name_col": "n", "payload_col": "d", "shards": 2,
        "out_dir": "$base/o", "checkpoint_dir": "$base/k", "trigger": "availablenow"}""")
    assert(tarPack.contains(s"shardPackStream: $named"), tarPack)
  }
}
