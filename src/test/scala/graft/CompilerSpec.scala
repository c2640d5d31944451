package graft

import graft.compile.Compiler
import graft.spec._
import org.apache.spark.sql.Row

/** Unit semantics of the config → DataFrame compiler on tiny in-memory
  * frames: filter ops (incl. null behavior), agg dispatch, filtered aggs,
  * rename, recursion, cascade, bitemporal, empty input. */
class CompilerSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    ("a", 1, 10.0, Some("x")),
    ("a", 2, 20.0, None),
    ("b", 3, 30.0, Some("y")),
    ("b", 4, 40.0, Some("x")),
    ("c", 5, 50.0, None)
  ).toDF("k", "id", "v", "tag")

  test("structured filters: ==, >, isin, null-safe ==") {
    val eq = Compiler.filterColumn(ColFilter("k", "==", JStr("a")))
    assert(df.filter(eq).count() == 2)

    val gt = Compiler.filterColumn(ColFilter("v", ">", JNum(25.0)))
    assert(df.filter(gt).count() == 3)

    val in = Compiler.filterColumn(ColFilter("k", "isin", JArr(Seq(JStr("a"), JStr("c")))))
    assert(df.filter(in).count() == 3)

    // null-safe vs plain equality on a null-bearing column
    val nsafe = Compiler.filterColumn(ColFilter("tag", "==", JNull, nullSafe = true))
    assert(df.filter(nsafe).count() == 2) // <=> NULL matches the two null rows
    val plain = Compiler.filterColumn(ColFilter("tag", "==", JNull))
    assert(df.filter(plain).count() == 0) // = NULL matches nothing
  }

  test("expr-string filter with conjunction") {
    val f = Compiler.filterColumn(ExprFilter("v >= 20 and k != 'c'"))
    assert(df.filter(f).count() == 3)
  }

  test("aggregate dispatch: sum/min/max/avg/count + filtered agg") {
    val out = Compiler.applyAggregate(df, AggregateSpec(
      groupBy = Seq("k"),
      aggs = Seq(
        AggSpec("v", "sum", Some("sv")),
        AggSpec("v", "avg", Some("av")),
        AggSpec("*", "count", Some("n")),
        AggSpec("v", "max", Some("mx"), filter = Some("id % 2 = 0")))))
      .orderBy("k").collect()
    assert(out.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).toSeq ==
      Seq(("a", 30.0, 15.0, 2L), ("b", 70.0, 35.0, 2L), ("c", 50.0, 50.0, 1L)))
    // filtered max: only even ids participate; group c has none → null
    val mx = out.map(r => Option(r.get(4)))
    assert(mx.toSeq == Seq(Some(20.0), Some(40.0), None))
  }

  test("filters may reference derive'd columns (documented order: derive first)") {
    df.createOrReplaceTempView("cspec_t")
    val out = Compiler.compileJson(spark, """
      {"source": {"table": "cspec_t"},
       "derive": {"v2": "v * 2"},
       "filters": ["v2 > 50"],
       "keep_columns": ["k", "v2"]}""")
    assert(out.collect().map(_.getDouble(1)).sorted.toSeq == Seq(60.0, 80.0, 100.0))
  }

  test("unlisted agg funcs: filter is compiled in, col='*' rejected") {
    // kurtosis isn't in the dispatch table → expr passthrough; the filter
    // must still apply (silently unfiltered results was the failure mode)
    val out = Compiler.applyAggregate(df, AggregateSpec(
      groupBy = Seq.empty,
      aggs = Seq(
        AggSpec("v", "skewness", Some("sk"), filter = Some("id != 2")),
        AggSpec("v", "sum", Some("sv"), filter = Some("id != 2")))))
      .collect().head
    assert(out.getDouble(1) == 130.0) // filtered sum proves the when-path
    assert(!out.isNullAt(0)) // skewness over the 4 filtered rows
    val full = Compiler.applyAggregate(df, AggregateSpec(
      groupBy = Seq.empty, aggs = Seq(AggSpec("v", "skewness", Some("sk")))))
      .collect().head.getDouble(0)
    assert(out.getDouble(0) != full, "filter was dropped for unlisted func")
    intercept[IllegalArgumentException] {
      Compiler.aggColumn(AggSpec("*", "skewness", None))
    }
  }

  test("percentile via AggSpec.param; approx tracks exact within 5%") {
    val out = Compiler.applyAggregate(df, AggregateSpec(
      groupBy = Seq("k"),
      aggs = Seq(
        AggSpec("v", "percentile", Some("p50"), param = Some(0.5)),
        AggSpec("v", "approx_percentile", Some("ap50"), param = Some(0.5)))))
      .orderBy("k").collect()
    // exact percentile interpolates: group a = (10+20)/2
    assert(out.map(_.getDouble(1)).toSeq == Seq(15.0, 35.0, 50.0))
    // approx returns a real element of the group, within 5% of exact here
    out.foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getDouble(1)) / r.getDouble(1) <= 0.5)
      assert(Seq(10.0, 20.0, 30.0, 40.0, 50.0).contains(r.getDouble(2)))
    }
    // q49's scale claim: approx_percentile stays close to exact on real data
    val li = Tables.load(spark, sf, "lineitem")
    val both = li.groupBy("l_returnflag").agg(
      org.apache.spark.sql.functions.expr("percentile(l_extendedprice, 0.5)").as("ex"),
      org.apache.spark.sql.functions.expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("ap"))
      .collect()
    both.foreach(r => assert(math.abs(r.getDouble(2) - r.getDouble(1)) / r.getDouble(1) < 0.05,
      s"approx p50 drifted: $r"))
  }

  test("grouping_sets mode = union of its sets' groupBys") {
    val out = Compiler.applyAggregate(df, AggregateSpec(
      groupBy = Seq("k", "tag"),
      aggs = Seq(AggSpec("v", "sum", Some("sv"))),
      mode = "grouping_sets",
      sets = Seq(Seq("k"), Seq("tag"), Nil)))
    val rows = out.collect()
    assert(rows.length == 7) // 3 k-groups + 3 tag-groups (x, y, null) + total
    val total = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    // tag=null subtotal row vs the grand-total row both have (null, null)
    // keys; grouping_sets distinguishes them — sv 150 (total) and 70 (null tag)
    assert(total.map(_.getDouble(2)).sorted.toSeq == Seq(70.0, 150.0))
  }

  test("child join hint lands on the join; unknown hint rejected") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    df.createOrReplaceTempView("t")
    val out = Compiler.compileJson(spark, """
      {"source": {"table": "t"},
       "group_by": ["k"],
       "aggregations": [{"col": "v", "func": "sum", "new_name": "sv"}],
       "children": [{
          "id": "c1", "hint": "broadcast",
          "source": {"table": "t"},
          "group_by": ["k"],
          "aggregations": [{"col": "id", "func": "max", "new_name": "mid"}],
          "join": {"on": ["k"], "how": "inner"}}]}""")
    val joins = out.queryExecution.optimizedPlan.collect { case j: LJoin => j }
    assert(joins.nonEmpty)
    assert(joins.exists(_.hint.rightHint.exists(_.strategy.isDefined)),
      s"broadcast hint not on the join: ${joins.map(_.hint)}")
    assert(out.count() == 3)

    intercept[IllegalArgumentException] {
      Compiler.compileJson(spark, """
        {"source": {"table": "t"},
         "children": [{"id": "c", "hint": "bogus", "source": {"table": "t"},
                       "join": {"on": ["k"], "how": "inner"}}]}""")
    }
  }

  test("link-less child join throws; cartesian only via explicit how=cross") {
    df.createOrReplaceTempView("t")
    // a typo'd join key ("onn") used to plan a silent n×m cartesian —
    // now it fails at DECODE with the typo named
    val typo = intercept[IllegalArgumentException] {
      Compiler.compileJson(spark, """
        {"source": {"table": "t"},
         "children": [{"id": "c", "source": {"table": "t"},
                       "join": {"onn": ["k"], "how": "inner"}}]}""")
    }
    assert(typo.getMessage.contains("onn"), typo.getMessage)
    // a genuinely link-less non-cross join still routes to the cross guard
    val err = intercept[IllegalArgumentException] {
      Compiler.compileJson(spark, """
        {"source": {"table": "t"},
         "children": [{"id": "c", "source": {"table": "t"},
                       "join": {"how": "inner"}}]}""")
    }
    assert(err.getMessage.contains("cross"), err.getMessage)
    // asking for the cartesian by name still works
    val out = Compiler.compileJson(spark, """
      {"source": {"table": "t"},
       "keep_columns": ["k"],
       "children": [{"id": "c", "source": {"table": "t"},
                     "keep_columns": ["v"], "prefix": true,
                     "join": {"how": "cross"}}]}""")
    assert(out.count() == 25)
  }

  test("config interval join plans a key equi-join, never a nested loop") {
    Tables.registerViews(spark, sf)
    val out = SparkEntry.queries("q65_config_interval")(spark, sf)
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val joins = out.queryExecution.optimizedPlan.collect { case j: LJoin => j }
    assert(joins.size == 1)
    // the link keys must survive as equi-conjuncts (hash/merge-joinable);
    // the time bound rides as a range condition on the same join
    val cond = joins.head.condition.map(_.toString).getOrElse("")
    assert(cond.contains("user_id") && cond.contains("="), s"no equi-conjunct in: $cond")
    val nodeNames = out.queryExecution.sparkPlan.collect { case n => n.nodeName }
    assert(!nodeNames.exists(n => n.contains("NestedLoop") || n.contains("Cartesian")),
      s"interval join fell back to a nested loop: $nodeNames")
    // missing pieces fail loudly at compile, not as a wrong silent equi-join
    intercept[IllegalArgumentException] {
      Compiler.compileJson(spark, """
        {"source": {"table": "events"},
         "children": [{"id": "c", "source": {"table": "events"},
                       "join": {"on": ["user_id"], "how": "interval",
                                "left_ts": "ts", "right_ts": "ts"}}]}""")
    }
  }

  test("window exprs in with_columns collapse to one Window operator") {
    Tables.registerViews(spark, sf)
    val out = SparkEntry.queries("q50_config_window")(spark, sf)
    val windows = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    // the three windowed with_columns share one partition+order, so however
    // Catalyst groups them into Window nodes, they must all agree on spec …
    assert(windows.nonEmpty &&
      windows.map(w => (w.partitionSpec.map(_.toString), w.orderSpec.map(_.toString))).distinct.size == 1,
      s"window specs diverged: $windows")
    // … and the physical plan must pay exactly ONE hash shuffle (the window
    // partitioning; the final orderBy is a separate range exchange) — not a
    // shuffle/sort per expression
    val physical = out.queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(physical).size
    assert(hashExchanges == 1, s"expected 1 hash exchange, got $hashExchanges:\n$physical")
  }

  test("derive flags the O(n²) unbounded-following window frame, compiles it anyway") {
    // the trap detector (the as-of/funnel fix must not be reinventable
    // through config silently): EVERY unbounded-following aggregate
    // frame is quadratic — current-row, N-preceding, N-following lower
    // bounds alike; mere mentions and the safe frames are not
    assert(Compiler.hasQuadraticFrame(
      "first(v) OVER (PARTITION BY k ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"))
    assert(Compiler.hasQuadraticFrame(
      "first(v) over (order by ts range between current row and\n unbounded following)"))
    assert(Compiler.hasQuadraticFrame(
      "sum(v) OVER (ORDER BY ts ROWS BETWEEN 1 PRECEDING AND UNBOUNDED FOLLOWING)"))
    assert(!Compiler.hasQuadraticFrame(
      "sum(v) OVER (ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"))
    // the WHOLE-PARTITION frame is O(n) (computed once per partition) —
    // warning on it would steer users into a semantics-changing rewrite
    assert(!Compiler.hasQuadraticFrame(
      "max(v) OVER (PARTITION BY k ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"))
    // one safe whole-partition frame + one quadratic frame still warns
    assert(Compiler.hasQuadraticFrame(
      "max(v) OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) + first(v) OVER (ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"))
    assert(!Compiler.hasQuadraticFrame(
      "concat(c, 'unbounded following text')")) // no AND bound pair
    // a warning, not a rejection: the expression still compiles and computes
    Seq((1L, 1L, 10L), (1L, 2L, 20L)).toDF("k", "ts", "v")
      .createOrReplaceTempView("uf_warn_fixture")
    Compiler.drainCompileWarnings() // clear anything earlier tests left
    val out = Compiler.compileJson(spark, """
      {"source": {"table": "uf_warn_fixture"},
       "derive": {"nxt": "first(v) OVER (PARTITION BY k ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"},
       "order_by": ["ts asc"]}""")
    assert(out.select("nxt").collect().map(_.getLong(0)).toSeq == Seq(10L, 20L))
    // … and the lint is VISIBLE where plans are reviewed, not just in
    // log.warn noise: the compile collects it for drainCompileWarnings,
    // which graft.Explain prints above each plan
    val warns = Compiler.drainCompileWarnings()
    assert(warns.exists(w => w.contains("UNBOUNDED") && w.contains("nxt")),
      s"expected the quadratic-frame lint in compile warnings, got: $warns")
    assert(Compiler.drainCompileWarnings().isEmpty,
      "drain must clear the warning buffer")
    // a clean compile leaves no warnings behind
    Compiler.compileJson(spark, """
      {"source": {"table": "uf_warn_fixture"},
       "derive": {"run": "sum(v) OVER (PARTITION BY k ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"}}""")
    assert(Compiler.drainCompileWarnings().isEmpty,
      "the safe running frame must not warn")
  }

  test("global orderBy+limit plans TakeOrderedAndProject, not a full sort") {
    Tables.registerViews(spark, sf)
    // q67's top-20-by-df: map tasks keep 20 rows each, the driver merges —
    // a regression to a full global sort would show as Exchange rangepartitioning
    val plan = SparkEntry.queries("q67_token_df")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in:\n${plan.take(2000)}")
  }

  test("config top_k plans WindowGroupLimit (map-side k-per-group pruning)") {
    Tables.registerViews(spark, sf)
    val out = SparkEntry.queries("q62_config_topk")(spark, sf)
    assert(out.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "top_k should plan WindowGroupLimit so map tasks keep only k rows per group")
  }

  test("salted aggregate from config equals plain groupBy; guards enforced") {
    val plain = Compiler.applyAggregate(df, AggregateSpec(
      Seq("k"), Seq(AggSpec("v", "sum", Some("sv")), AggSpec("*", "count", Some("n")))))
      .orderBy("k").collect().map(_.toSeq).toSeq
    val salted = Compiler.applyAggregate(df, AggregateSpec(
      Seq("k"), Seq(AggSpec("v", "sum", Some("sv")), AggSpec("*", "count", Some("n"))),
      salt = Some(4)))
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(salted == plain)
    intercept[IllegalArgumentException] { // avg is not decomposable
      Compiler.applyAggregate(df, AggregateSpec(
        Seq("k"), Seq(AggSpec("v", "avg", Some("a"))), salt = Some(4))).collect()
    }
    intercept[IllegalArgumentException] { // filters can't ride phase 2
      Compiler.applyAggregate(df, AggregateSpec(
        Seq("k"), Seq(AggSpec("v", "sum", Some("s"), filter = Some("id > 1"))),
        salt = Some(4))).collect()
    }
  }

  test("salted join from config equals plain join; guards enforced") {
    // a skewed fixture: key 1 carries most rows
    (Seq.tabulate(40)(i => (1L, i.toLong)) ++ Seq((2L, 100L), (3L, 200L)))
      .toDF("k", "v").createOrReplaceTempView("sj_fact")
    Seq((1L, "hot"), (2L, "warm"), (4L, "unmatched"))
      .toDF("k", "tag").createOrReplaceTempView("sj_dim")
    def run(saltKey: String, how: String) = Compiler.compileJson(spark, s"""
      {"source": {"table": "sj_fact"},
       "children": [{
          "id": "d", "source": {"table": "sj_dim"},
          "join": {"on": ["k"], "how": "$how"$saltKey}}],
       "order_by": ["k asc", "v asc"]}""")
      .collect().map(_.toSeq).toSeq
    assert(run(", \"salt\": 4", "inner") == run("", "inner"))
    assert(run(", \"salt\": 4", "left") == run("", "left"))
    // the salt column never leaks into the output schema
    assert(!run(", \"salt\": 4", "inner").exists(_.size != 3))
    // decode-time guards, each by name
    val e1 = intercept[IllegalArgumentException] { run(", \"salt\": 1", "inner") }
    assert(e1.getMessage.contains("salt must be > 1"))
    val e2 = intercept[IllegalArgumentException] { run(", \"salt\": 4", "full") }
    assert(e2.getMessage.contains("inner"))
    val e3 = intercept[IllegalArgumentException] {
      Compiler.compileJson(spark, """
        {"source": {"table": "sj_fact"},
         "children": [{
            "id": "d", "source": {"table": "sj_dim"},
            "join": {"how": "inner", "on_expr": "k = k", "salt": 4}}]}""")
    }
    assert(e3.getMessage.contains("on_expr"))
    val e4 = intercept[IllegalArgumentException] {
      Compiler.compileJson(spark, """
        {"source": {"table": "sj_fact"},
         "children": [{
            "id": "d", "hint": "broadcast",
            "source": {"table": "sj_dim"},
            "join": {"on": ["k"], "how": "inner", "salt": 4}}]}""")
    }
    assert(e4.getMessage.contains("mutually"))
  }

  test("tee: one cached read fans out to side sinks plus the root frame") {
    val base = java.nio.file.Files.createTempDirectory("graft-tee").toString
    Seq((1L, "good alpha", 0.9), (2L, "bad", 0.1),
        (3L, "good beta", 0.8), (4L, "bad again", 0.2))
      .toDF("id", "text", "q").createOrReplaceTempView("tee_src")
    val out = Compiler.compileJson(spark, s"""
      {"defs": [
         {"id": "scored", "cache": true, "source": {"table": "tee_src"}}],
       "tee": [
         {"id": "accepted", "source": {"ref": "scored"},
          "filters": ["q >= 0.5"],
          "save": {"format": "parquet", "path": "$base/accepted"}},
         {"id": "rejected", "source": {"ref": "scored"},
          "filters": ["q < 0.5"],
          "save": {"format": "parquet", "path": "$base/rejected"}}],
       "source": {"ref": "scored"},
       "aggregate": {"group_by": [], "aggregations": [
         {"col": "*", "func": "count", "new_name": "n"},
         {"col": "q", "func": "dsum", "new_name": "qsum"}]}}""")
    assert(out.collect().head.getLong(0) == 4L)
    val acc = spark.read.parquet(s"$base/accepted").select("id")
      .collect().map(_.getLong(0)).toSet
    val rej = spark.read.parquet(s"$base/rejected").select("id")
      .collect().map(_.getLong(0)).toSet
    assert(acc == Set(1L, 3L) && rej == Set(2L, 4L),
      s"tee partition wrong: acc=$acc rej=$rej")
    Compiler.releaseCache(out)
    // guards, each by name
    val eNoSave = intercept[IllegalArgumentException](Compiler.compileJson(spark, """
      {"tee": [{"id": "t", "source": {"table": "tee_src"}}],
       "source": {"table": "tee_src"}}"""))
    assert(eNoSave.getMessage.contains("save"))
    val eNoSrc = intercept[IllegalArgumentException](Compiler.compileJson(spark, """
      {"tee": [{"id": "t", "save": {"format": "parquet", "path": "/tmp/x"}}],
       "source": {"table": "tee_src"}}"""))
    assert(eNoSrc.getMessage.contains("source"))
    val eStream = intercept[IllegalArgumentException] {
      graft.spec.JsonCodec.parse(s"""
        {"tee": [{"id": "t", "source": {"table": "tee_src"},
                  "save": {"format": "parquet", "path": "$base/s"}}],
         "source": {"path": "$base/accepted"}}""") match {
        case p => Compiler.compileStream(spark, p)
      }
    }
    assert(eStream.getMessage.contains("batch-only"))
    // two sinks on one path = silent last-writer-wins — rejected by name
    val eDup = intercept[IllegalArgumentException](Compiler.compileJson(spark, s"""
      {"tee": [
         {"id": "a", "source": {"table": "tee_src"},
          "save": {"format": "parquet", "path": "$base/same"}},
         {"id": "b", "source": {"table": "tee_src"},
          "save": {"format": "parquet", "path": "$base/same"}}],
       "source": {"table": "tee_src"}}"""))
    assert(eDup.getMessage.contains("same path"))
  }

  test("diff node key: added/removed/changed/unchanged, carry, guards") {
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("id", "t", "v").createOrReplaceTempView("df_new")
    Seq((2L, "b", 20.0), (3L, "X", 30.0), (5L, "e", 50.0))
      .toDF("id", "t", "v").createOrReplaceTempView("df_old")
    def run(extra: String) = Compiler.compileJson(spark, s"""
      {"defs": [{"id": "old", "source": {"table": "df_old"}}],
       "source": {"table": "df_new"},
       "diff": {"on": ["id"], "ref": "old"$extra},
       "order_by": ["id asc"]}""")
    // default compare = shared non-key columns (t, v), unchanged dropped
    val got = run("").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getSeq[String](2)).map(_.toList))).toSeq
    assert(got == Seq(
      (1L, "added", None),           // in new only — NULL changed_cols
      (3L, "changed", Some(List("t"))),
      (4L, "added", None),
      (5L, "removed", None)))
    // include_unchanged surfaces 2 with an EMPTY (compared, equal) list
    val all = run(""", "include_unchanged": true""").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getSeq[String](2)).map(_.toList)))
    assert(all.find(_._1 == 2L).contains((2L, "unchanged", Some(Nil))))
    // carry: "new" appends the new-side values, NULL on removed rows
    val carried = run(""", "carry": "new"""")
    assert(carried.columns.toSeq == Seq("id", "diff_status", "changed_cols", "t", "v"))
    assert(carried.filter($"id" === 5L).select("t").collect().head.isNullAt(0))
    // explicit compare narrows the verdicts: only v compared → 3 is unchanged
    val narrowed = run(""", "compare": ["v"]""").collect().map(_.getLong(0)).toSet
    assert(narrowed == Set(1L, 4L, 5L))
    // plan shape: one co-partitioned full-outer join — at most one hash
    // exchange per side, never a nested loop / cartesian
    val physical = run("").queryExecution.executedPlan.toString
    assert(!physical.contains("BroadcastNestedLoop") &&
      !physical.contains("CartesianProduct"), physical)
    val ex = "Exchange hashpartitioning".r.findAllIn(physical).size
    assert(ex <= 2, s"diff must shuffle each side at most once:\n$physical")
    // guards: unknown ref and NULL key, each by name
    val eRef = intercept[IllegalArgumentException](Compiler.compileJson(spark, """
      {"source": {"table": "df_new"}, "diff": {"on": ["id"], "ref": "nope"}}"""))
    assert(eRef.getMessage.contains("not a def"))
    Seq((Option.empty[Long], "a")).toDF("id", "t")
      .createOrReplaceTempView("df_nullkey")
    val eNull = intercept[Exception] {
      Compiler.compileJson(spark, """
        {"defs": [{"id": "old", "source": {"table": "df_old"}}],
         "source": {"table": "df_nullkey"},
         "diff": {"on": ["id"], "ref": "old", "compare": ["t"]}}""").collect()
    }
    assert(eNull.getMessage.contains("NULL key"))
    // a compare column that changed TYPE between snapshots rejects by
    // name instead of silently comparing through an implicit cast
    Seq((1L, 1)).toDF("id", "v").createOrReplaceTempView("df_ti")
    Seq((1L, 1.0)).toDF("id", "v").createOrReplaceTempView("df_td")
    val eType = intercept[IllegalArgumentException](Compiler.compileJson(spark, """
      {"defs": [{"id": "old", "source": {"table": "df_td"}}],
       "source": {"table": "df_ti"},
       "diff": {"on": ["id"], "ref": "old"}}"""))
    assert(eType.getMessage.contains("TYPE"))
  }

  test("salted join is stream-static admissible: stream == batch") {
    // the salt is a deterministic column expression on the (streaming)
    // parent plus a static explode on the child — nothing stateful, so
    // the SAME spec compiles as a stream-static join and yields the
    // batch rows
    val base = java.nio.file.Files.createTempDirectory("graft-sjs").toString
    val inDir = s"$base/in"
    (Seq.tabulate(20)(i => (1L, i.toLong)) ++ Seq((2L, 100L), (5L, 500L)))
      .toDF("k", "v").coalesce(1).write.parquet(inDir)
    Seq((1L, "hot"), (2L, "warm")).toDF("k", "tag")
      .createOrReplaceTempView("sjs_dim")
    def json(save: String) = s"""
      {"source": {"path": "$inDir"},
       "children": [{
          "id": "d", "source": {"table": "sjs_dim"},
          "join": {"on": ["k"], "how": "left", "salt": 4}}]$save}"""
    val batch = Compiler.compileJson(spark, json(""))
      .collect().map(_.toSeq.toString).sorted.toSeq
    val q = Compiler.compileStreamJson(spark, json(
      ""","save": {"format": "memory", "query_name": "sjs_out"}"""))
    try {
      q.processAllAvailable()
      val streamed = spark.table("sjs_out")
        .collect().map(_.toSeq.toString).sorted.toSeq
      assert(streamed == batch, "stream-static salted join must equal batch")
      assert(batch.size == 22, "left join keeps unmatched parent rows")
    } finally q.stop()
  }

  test("asof join composes with prefix namespacing") {
    Seq((1L, 10L, 1.0), (1L, 20L, 2.0), (2L, 15L, 3.0)).toDF("k", "ts", "v")
      .createOrReplaceTempView("asof_l")
    Seq((1L, 5L, "a"), (1L, 15L, "b"), (3L, 1L, "z")).toDF("k", "ts", "p")
      .createOrReplaceTempView("asof_r")
    val out = Compiler.compileJson(spark, """
      {"source": {"table": "asof_l"},
       "children": [{
          "id": "r", "prefix": true,
          "source": {"table": "asof_r"},
          "join": {"how": "asof", "on": ["k"], "left_ts": "ts", "right_ts": "ts"}}],
       "order_by": ["k asc", "ts asc"]}""")
    // child's ts and p were prefixed to r_ts/r_p; payload carried is r_p
    assert(out.columns.contains("r_p"))
    val got = out.select("k", "ts", "r_p").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)).getOrElse("-"))).toSeq
    assert(got == Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 15L, "-")))
  }

  test("within_watermark dedup degrades to plain dedup under batch compile") {
    // one spec, both engines: on a finite batch input the watermark horizon
    // covers everything, so within-watermark dedup = plain dropDuplicates
    import org.apache.spark.sql.functions.{col => c, to_timestamp}
    Seq((1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:05:00"), (2L, "2024-01-01 01:00:00"))
      .toDF("id", "s").withColumn("ts", to_timestamp(c("s")))
      .createOrReplaceTempView("wm_dd")
    val out = Compiler.compileJson(spark, """
      {"source": {"table": "wm_dd"},
       "watermark": {"col": "ts", "delay": "1 hour"},
       "dedup": {"keys": ["id"], "within_watermark": true}}""")
    assert(out.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("keep_columns outside group keys resolves to any_value") {
    val out = Compiler.applyAggregate(
      df.filter($"k" === "a" && $"id" === 1),
      AggregateSpec(Seq("k"), Seq(AggSpec("v", "sum", Some("sv"))), keep = Seq("tag")))
    assert(out.columns.toSeq == Seq("k", "sv", "tag"))
    assert(out.collect().head.getString(2) == "x")
  }

  test("global aggregate (no group keys)") {
    val out = Compiler.applyAggregate(df,
      AggregateSpec(Nil, Seq(AggSpec("v", "sum", Some("total")))))
    assert(out.collect().head.getDouble(0) == 150.0)
  }

  test("full JSON node: filter → agg → rename → bitemporal") {
    df.createOrReplaceTempView("t")
    val out = Compiler.compileJson(spark, """
      {"source": {"table": "t"},
       "filters": [{"col": "v", "op": ">=", "value": 20}],
       "group_by": ["k"],
       "aggregations": [{"col": "v", "func": "sum", "new_name": "sv"}],
       "rename": {"k": "key"},
       "bitemporal": {"valid_from": "2024-06-01", "valid_to": "9999-12-31"},
       "order_by": ["key asc"]}""")
    val rows = out.collect()
    assert(out.columns.toSeq == Seq("key", "sv", "valid_from", "valid_to"))
    assert(rows.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("a", 20.0), ("b", 70.0), ("c", 50.0)))
    assert(rows.head.getString(2) == "2024-06-01")
  }

  test("recursive child join with prefix namespacing") {
    df.createOrReplaceTempView("t")
    val out = Compiler.compileJson(spark, """
      {"source": {"table": "t"},
       "group_by": ["k"],
       "aggregations": [{"col": "v", "func": "sum", "new_name": "sv"}],
       "children": [{
          "id": "c1", "prefix": true,
          "source": {"table": "t"},
          "group_by": ["k"],
          "aggregations": [{"col": "id", "func": "max", "new_name": "mid"}],
          "join": {"on": ["k"], "how": "left"}}],
       "order_by": ["k asc"]}""")
    assert(out.columns.toSeq == Seq("k", "sv", "c1_mid"))
    assert(out.collect().map(r => (r.getString(0), r.getInt(2))).toSeq ==
      Seq(("a", 2), ("b", 4), ("c", 5)))
  }

  test("cascade: level 2 re-aggregates level 1 output") {
    df.createOrReplaceTempView("t")
    val out = Compiler.compileJson(spark, """
      {"source": {"table": "t"},
       "iterations": [{"id": "i1", "levels": [
         {"group_by": ["k", "id"],
          "aggregations": [{"col": "v", "func": "sum", "new_name": "sv"}]},
         {"group_by": ["k"],
          "aggregations": [{"col": "sv", "func": "sum", "new_name": "total"},
                           {"col": "*", "func": "count", "new_name": "n"}],
          "order_by": ["k asc"]}]}]}""")
    assert(out.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq ==
      Seq(("a", 30.0, 2L), ("b", 70.0, 2L), ("c", 50.0, 1L)))
  }

  test("reference flat-config spelling (optimus.py) decodes") {
    val spec = JsonCodec.parse("""
      {"iterations": [{"id": "iteration_1",
        "level_1": {
          "group_by": ["column1"],
          "keep_columns": [],
          "aggregations": [{"agg_col": "column4", "agg_func": "sum", "new_name": "sum_column4"}],
          "filters": [{"filter_col": "column5", "filter_op": ">", "filter_value": 100}]}}],
       "source": {"table": "t"}}""")
    spec match {
      case CascadePipeline(c) =>
        assert(c.iterations.head.levels.head.op[AggregateSpec].get.aggs.head.newName.contains("sum_column4"))
        assert(c.iterations.head.levels.head.op[FiltersSpec].get.filters.head ==
          ColFilter("column5", ">", JInt(100)))
      case other => fail(s"expected cascade, got $other")
    }
  }

  test("empty input flows through (no empty-probe actions)") {
    val out = Compiler.applyAggregate(
      df.filter($"v" > 1e9),
      AggregateSpec(Seq("k"), Seq(AggSpec("v", "sum", Some("sv")))))
    assert(out.collect().isEmpty)
  }

  test("driver smoke contract: entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("validatePipeline catches bad configs without running a job") {
    df.createOrReplaceTempView("vp")
    val bad = JsonCodec.parse("""
      {"source": {"table": "vp"},
       "group_by": ["k"],
       "aggregations": [{"col": "no_such_col", "func": "sum"}]}""")
    val errs = Compiler.validatePipeline(spark, bad)
    assert(errs.nonEmpty && errs.head.contains("no_such_col"))

    // a later-stage error only the analyzer can see (bad column in level 2)
    val bad2 = JsonCodec.parse("""
      {"source": {"table": "vp"},
       "iterations": [{"id": "i", "levels": [
         {"group_by": ["k"], "aggregations": [{"col": "v", "func": "sum", "new_name": "sv"}]},
         {"group_by": ["ghost"], "aggregations": [{"col": "sv", "func": "sum"}]}]}]}""")
    assert(Compiler.validatePipeline(spark, bad2).nonEmpty)

    val good = JsonCodec.parse("""
      {"source": {"table": "vp"},
       "group_by": ["k"],
       "aggregations": [{"col": "v", "func": "sum", "new_name": "sv"}],
       "save": {"path": "/tmp/should_not_be_written_by_validate"}}""")
    assert(Compiler.validatePipeline(spark, good).isEmpty)
    // validation must not execute the sink
    assert(!new java.io.File("/tmp/should_not_be_written_by_validate").exists())
  }

  test("validate reports unknown columns up front") {
    val errs = Compiler.validate(df, NodeSpec(
      id = "n", ops = Seq(KeepColumnsSpec(Seq("nope")),
      AggregateSpec(Seq("k"), Seq(AggSpec("missing", "sum"))))))
    assert(errs.size == 2)
    assert(errs.forall(_.contains("unknown column")))

    // the round-2 keys are covered by the friendly tier too
    val errs2 = Compiler.validate(df, NodeSpec(
      id = "n2", ops = Seq(
      WatermarkSpec("no_ts", "1 hour"),
      DedupSpec(Seq("no_key"), Some("no_id")),
      AggregateSpec(Seq("k"), Seq(AggSpec("v", "sum")),
        sets = Seq(Seq("ghost")), pivot = Some(PivotSpec("no_piv", Seq(JStr("x"))))))))
    assert(Seq("no_ts", "no_key", "no_id", "ghost", "no_piv")
      .forall(c => errs2.exists(_.contains(c))), errs2.mkString("; "))
  }

  test("config compact: snapshot semantics, WindowGroupLimit plan, named error") {
    df.createOrReplaceTempView("cc_log")
    val out = Compiler.compileJson(spark, """
      {"source": {"table": "cc_log"},
       "compact": {"keys": ["k"],
                   "version_order": ["id desc"],
                   "delete_when": "tag = 'x'"},
       "order_by": ["k asc"]}""")
    // latest per k: a→id2(tag null, live), b→id4(tag x, tombstone), c→id5
    assert(out.select("k", "id").collect().map(r => r.getString(0) -> r.getInt(1))
      .toSeq == Seq("a" -> 2, "c" -> 5))
    assert(out.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "compact's rank-1 filter should plan WindowGroupLimit")
    val err = intercept[IllegalArgumentException] {
      Compiler.compileJson(spark, """
        {"source": {"table": "cc_log"}, "compact": {"keys": ["k"]}}""")
    }
    assert(err.getMessage.contains("version_order"))
  }

  test("config featurize equals the Scala API path; unknown decoder rejected") {
    Tables.registerViews(spark, sf)
    spark.udf.register("text_to_bmp", graft.queries.MultimodalQueries.textToBmp)
    val viaConfig = Compiler.compileJson(spark, """
      {"source": {"table": "documents"},
       "filters": ["doc_id < 40"],
       "derive": {"payload": "text_to_bmp(text)"},
       "keep_columns": ["doc_id", "payload"],
       "featurize": {"id_col": "doc_id", "payload_col": "payload"},
       "order_by": ["media_id asc"]}""")
      .collect().map(_.toSeq).toSeq
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, sf, "documents").filter(col("doc_id") < 40)
      .select(col("doc_id"),
        graft.queries.MultimodalQueries.textToBmp(col("text")).as("payload"))
    val media = graft.ops.Multimodal.asMediaParsed(docs, "doc_id", "payload")
    val viaApi = media.select(col("media_id"), col("meta.format").as("format"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.n_bytes").as("n_bytes"))
      .join(graft.ops.Multimodal.featurize(media, graft.ops.Codecs.mediaFeatures),
        Seq("media_id"))
      .orderBy("media_id")
      .collect().map(_.toSeq).toSeq
    assert(viaConfig.size == 40 && viaConfig == viaApi)
    val err = intercept[IllegalArgumentException](Compiler.compileJson(spark, """
      {"source": {"table": "documents"},
       "derive": {"payload": "cast(text as binary)"},
       "featurize": {"id_col": "doc_id", "payload_col": "payload",
                     "decoder": "nope"}}"""))
    assert(err.getMessage.contains("unknown featurize decoder"))
  }

  test("bucketed range join q78 plans an equi-join, never a nested loop") {
    Tables.registerViews(spark, sf)
    val plan = SparkEntry.queries("q78_bucketed_range_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"range join regressed to a nested loop:\n${plan.take(2000)}")
  }

  test("defs/ref: stages compile once and are shared; results equal the inlined spec") {
    val base = java.nio.file.Files.createTempDirectory("graft_defs").toString
    Seq(("a", 1L, 5.0), ("a", 2L, 7.0), ("b", 3L, 9.0), ("b", 4L, 1.0))
      .toDF("k", "id", "v").write.parquet(s"$base/t")
    // stage: per-k totals; consumed twice (source + self-join child
    // computing the grand share) — the q137 idiom in miniature
    val stage = s"""{"id": "tot", "source": {"path": "$base/t"},
      "aggregate": {"group_by": ["k"],
                    "aggregations": [{"col": "v", "func": "sum", "new_name": "sv"}]}}"""
    def joined(src: String) = s""""id": "j", $src,
      "children": [{"id": "g", $src,
                    "aggregate": {"aggregations": [{"col": "sv", "func": "sum", "new_name": "gv"}]},
                    "join": {"on": [], "how": "cross", "hint": "broadcast"}}]"""
    val finish = """"derive": {"share": "sv / gv"},
      "keep_columns": ["k", "sv", "share"], "order_by": ["k asc"]"""
    val inlined = Compiler.compileJson(spark,
      s"""{"id": "r", "combine": {"op": "union", "nodes": [{${joined(
        s""""combine": {"op": "union", "nodes": [$stage]}""")}}]}, $finish}""")
    // def "j" refs def "tot" — later defs may build on earlier ones
    def viaDefs(stageJson: String) = Compiler.compileJson(spark,
      s"""{"id": "r", "defs": [$stageJson, {${joined(""""source": {"ref": "tot"}""")}}],
           "source": {"ref": "j"}, $finish}""")
    assert(viaDefs(stage).collect().toSeq == inlined.collect().toSeq)
    // cache: true plans an InMemoryRelation for BOTH consumers — the
    // stage is materialized once, not recomputed per mention. Clear any
    // cache residue earlier suites left so the emptiness assertions
    // below see only THIS compile's entries.
    spark.catalog.clearCache()
    Compiler.releaseAllCaches()
    val cached = viaDefs(stage.replace(""""id": "tot",""",
      """"id": "tot", "cache": true,"""))
    assert(cached.collect().toSeq == inlined.collect().toSeq)
    val mem = cached.queryExecution.optimizedPlan.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
    }
    assert(mem.size == 2 && mem.map(_.cacheBuilder).distinct.size == 1,
      s"both refs must share ONE cached stage, got ${mem.size}")
    // the compile PERSISTED the def; releaseCache(result) must leave the
    // cache manager empty — a long-lived driver compiling many configs
    // must not leak a block-manager entry per compile (round-11 verdict)
    assert(!spark.sharedState.cacheManager.isEmpty,
      "cache: true def should be registered in the cache manager")
    Compiler.releaseCache(cached)
    assert(spark.sharedState.cacheManager.isEmpty,
      "releaseCache must unpersist every cache: true def of the compile")
    // idempotent, and releaseAllCaches sweeps anything left behind
    Compiler.releaseCache(cached)
    val cached2 = viaDefs(stage.replace(""""id": "tot",""",
      """"id": "tot", "cache": true,"""))
    cached2.count()
    Compiler.releaseAllCaches()
    assert(spark.sharedState.cacheManager.isEmpty,
      "releaseAllCaches must sweep unreleased compiles")
    spark.catalog.clearCache()
    // OPERATOR-INTERNAL caches (overlap_join how:"left" persists its
    // matched-keys frame) must ALSO release per-result: before round 19
    // only the global releaseAllCaches sweep freed them, so a
    // long-lived session compiling such operators accumulated pinned
    // blocks per compile
    Seq((1L, 10L, 20L), (2L, 30L, 40L)).toDF("k", "lo", "hi")
      .createOrReplaceTempView("opc_left")
    Seq((1L, 12L, 14L)).toDF("k", "olo", "ohi")
      .createOrReplaceTempView("opc_right")
    val opOut = Compiler.compileJson(spark, """
      {"id": "r",
       "defs": [{"id": "other", "source": {"table": "opc_right"}}],
       "source": {"table": "opc_left"},
       "overlap_join": {"other_ref": "other", "lo_col": "lo", "hi_col": "hi",
                        "other_lo_col": "olo", "other_hi_col": "ohi",
                        "bucket": 100, "on": ["k"], "payload": ["olo"],
                        "how": "left"}}""")
    opOut.collect()
    assert(!spark.sharedState.cacheManager.isEmpty,
      "overlap_join how:left should persist an operator-internal cache")
    Compiler.releaseCache(opOut)
    assert(spark.sharedState.cacheManager.isEmpty,
      "releaseCache(result) must free operator-internal caches too")
    spark.catalog.clearCache()
    // guard rails, each by name
    def err(json: String): String =
      intercept[IllegalArgumentException](Compiler.compileJson(spark, json)).getMessage
    assert(err(s"""{"id": "r", "source": {"ref": "nope"}}""").contains("unknown ref"))
    assert(err(s"""{"id": "r", "defs": [$stage, $stage],
                    "source": {"ref": "tot"}}""").contains("duplicate def ids"))
    assert(err(s"""{"id": "r", "cache": true, "source": {"path": "$base/t"}}""")
      .contains("defs-only"))
    assert(err(s"""{"id": "r", "defs": [${stage.replace(""""id": "tot",""",
        """"id": "tot", "save": {"path": "/tmp/x", "format": "parquet"},""")}],
                    "source": {"ref": "tot"}}""").contains("definitions"))
    assert(err(s"""{"id": "r", "defs": [{"id": "d0", "source": {"path": "$base/t"}}],
                    "source": {"ref": "d0", "path": "$base/t"}}""")
      .contains("exclusive"))
    assert(intercept[IllegalArgumentException](
      Compiler.compileJson(spark, s"""{"id": "r",
        "defs": [{"source": {"path": "$base/t"}}], "source": {"ref": "def0"}}"""))
      .getMessage.contains("explicit id"))
    // r17: defs COMPILE under streaming (static join/probe sides); what
    // stays rejected by name is sourcing a stream FROM a ref and
    // cache: true defs (see StreamingSpec's guard tests)
    val sq = Compiler.compileStreamJson(spark, s"""{"id": "r", "defs": [$stage],
      "source": {"path": "$base/t"},
      "save": {"path": "$base/out", "format": "parquet", "checkpoint": "$base/ck"}}""")
    try sq.processAllAvailable() finally sq.stop()
    assert(intercept[IllegalArgumentException](
      Compiler.compileStreamJson(spark, s"""{"id": "r", "defs": [$stage],
        "source": {"ref": "tot"},
        "save": {"path": "$base/out2", "format": "parquet", "checkpoint": "$base/ck2"}}"""))
      .getMessage.contains("cannot feed a stream"))
  }

  test("cluster-tier retention keeps each class's best copy; singletons survive") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", 0.2),
      (2L, "the quick brown fox jumps over the lazy dog", 0.9),
      (3L, "the quick brown fox jumps over the lazy dog", 0.5),
      (4L, "completely different content about spark catalyst plans", 0.1))
      .toDF("doc_id", "text", "score")
    docs.createOrReplaceTempView("ret_docs")
    def run(retention: String) = Compiler.compileJson(spark, s"""
      {"source": {"table": "ret_docs"},
       "simhash_dedup": {"id_col": "doc_id", "text_col": "text",
                         "max_dist": 0, "output": "clusters",
                         "retention": $retention}}""")
    val best = run("""{"order_col": "score"}""")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster"),
        r.getAs[Double]("score"))).toSet
    // identical text → one class labelled by its min id; highest score
    // wins; the unrelated doc survives as its own singleton class
    assert(best == Set((2L, 1L, 0.9), (4L, 4L, 0.1)))
    assert(run("""{"order_col": "score", "descending": false}""")
      .collect().map(_.getAs[Long]("doc_id")).toSet == Set(1L, 4L))
    // a pre-existing `cluster` column is a named collision, not a clobber
    docs.withColumnRenamed("score", "cluster")
      .createOrReplaceTempView("ret_docs_clash")
    val e = intercept[IllegalArgumentException](Compiler.compileJson(spark, """
      {"source": {"table": "ret_docs_clash"},
       "simhash_dedup": {"id_col": "doc_id", "text_col": "text",
                         "max_dist": 0, "output": "clusters",
                         "retention": {"order_col": "doc_id"}}}"""))
    assert(e.getMessage.contains("cluster"))
  }

  test("expect contracts: satisfied rules are a no-op, a violation fails by rule name, streams admit them") {
    import spark.implicits._
    Seq((1L, 10.0), (2L, 20.0), (3L, -5.0)).toDF("id", "v")
      .createOrReplaceTempView("expect_rows")
    // satisfied contract: result identical to the same spec without it
    val base = graft.compile.Compiler.compileJson(spark, """
      {"source": {"table": "expect_rows"},
       "filters": [{"col": "v", "op": ">", "value": 0}],
       "order_by": ["id asc"]}""").collect().map(_.toSeq).toSeq
    val checked = graft.compile.Compiler.compileJson(spark, """
      {"source": {"table": "expect_rows"},
       "filters": [{"col": "v", "op": ">", "value": 0}],
       "expect": {"v_positive": "v > 0", "id_present": "id IS NOT NULL"},
       "order_by": ["id asc"]}""").collect().map(_.toSeq).toSeq
    assert(checked == base, "satisfied expectations must not change the result")
    // a violating row fails the job with the rule name in the message
    val e = intercept[Exception](graft.compile.Compiler.compileJson(spark, """
      {"source": {"table": "expect_rows"},
       "expect": {"v_positive": "v > 0"}}""").collect())
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("v_positive"), s"rule name must surface: $msg")
    // streaming-admissible: the same contract compiles and runs on a stream
    val dir = java.nio.file.Files.createTempDirectory("graft_expect").toString
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v").write.mode("overwrite").parquet(dir)
    val q = graft.compile.Compiler.compileStreamJson(spark, s"""
      {"source": {"path": "$dir"},
       "expect": {"v_positive": "v > 0"},
       "save": {"format": "memory", "query_name": "expect_stream"}}""")
    try {
      q.processAllAvailable()
      assert(spark.table("expect_stream").count() == 2)
    } finally q.stop()
  }

  test("expect contracts: NULL-evaluating rule is a VIOLATION (stricter than SQL CHECK), explicit IS NULL OR passes") {
    import spark.implicits._
    Seq((1L, Some(10.0)), (2L, None: Option[Double])).toDF("id", "v")
      .createOrReplaceTempView("expect_null_rows")
    // `v > 0` on a NULL v is UNKNOWN — SQL CHECK would pass it; the
    // contract fails loudly instead (documented in USAGE.md)
    val e = intercept[Exception](graft.compile.Compiler.compileJson(spark, """
      {"source": {"table": "expect_null_rows"},
       "expect": {"v_positive": "v > 0"}}""").collect())
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("v_positive"), s"NULL rule must violate by name: $msg")
    // the documented NULL-tolerant spelling passes every row
    val n = graft.compile.Compiler.compileJson(spark, """
      {"source": {"table": "expect_null_rows"},
       "expect": {"v_ok": "v IS NULL OR v > 0"}}""").count()
    assert(n == 2)
  }

  test("expect_report: per-rule violation counts agree with fail-mode semantics, NULL is a violation") {
    import spark.implicits._
    Seq((1L, Some(10.0)), (2L, Some(-3.0)), (3L, None: Option[Double]),
        (4L, Some(0.0)))
      .toDF("id", "v").createOrReplaceTempView("er_rows")
    val rows = graft.compile.Compiler.compileJson(spark, """
      {"source": {"table": "er_rows"},
       "expect_report": {
         "v_positive": "v > 0",
         "id_present": "id IS NOT NULL",
         "v_ok_or_null": "v IS NULL OR v >= 0"},
       "order_by": ["rule asc"]}""")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // v > 0: -3 and 0 violate, NULL violates (NULL-is-violation) -> 3
    // id IS NOT NULL: 0; v IS NULL OR v >= 0: only -3 -> 1
    assert(rows == Seq(("id_present", 0L, 4L), ("v_ok_or_null", 1L, 4L),
      ("v_positive", 3L, 4L)), s"report wrong: $rows")
    // agreement law: fail mode raises exactly when the report counts > 0
    val ok = graft.compile.Compiler.compileJson(spark, """
      {"source": {"table": "er_rows"},
       "expect": {"id_present": "id IS NOT NULL"}}""").count()
    assert(ok == 4)
    intercept[Exception](graft.compile.Compiler.compileJson(spark, """
      {"source": {"table": "er_rows"},
       "expect": {"v_positive": "v > 0"}}""").collect())
    // group_cols (reserved key): the per-slice scorecard
    Seq((1L, "a", Some(10.0)), (2L, "a", None: Option[Double]),
        (3L, "b", Some(5.0)))
      .toDF("id", "g", "v").createOrReplaceTempView("er_grp")
    val grouped = graft.compile.Compiler.compileJson(spark, """
      {"source": {"table": "er_grp"},
       "expect_report": {"group_cols": ["g"], "v_present": "v IS NOT NULL"},
       "order_by": ["g asc"]}""")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(grouped == Seq(("a", "v_present", 1L, 2L), ("b", "v_present", 0L, 1L)),
      s"grouped scorecard wrong: $grouped")
    // groups without rules is a named error
    assert(intercept[IllegalArgumentException](
      graft.compile.Compiler.compileJson(spark, """
        {"source": {"table": "er_grp"},
         "expect_report": {"group_cols": ["g"]}}"""))
      .getMessage.contains("no rules"))
    // profile.group_cols: per-slice stats; NULL groups are a slice;
    // profiling a group column against itself rejects by name
    Seq((1L, Some("a")), (2L, Some("a")), (3L, None: Option[String]))
      .toDF("id", "g").createOrReplaceTempView("pr_grp")
    val prof = graft.compile.Compiler.compileJson(spark, """
      {"source": {"table": "pr_grp"},
       "profile": {"columns": ["id"], "group_cols": ["g"]},
       "order_by": ["g asc"]}""")
      .collect().map(r => (Option(r.getString(0)), r.getLong(2))).toSeq
    assert(prof == Seq((None, 1L), (Some("a"), 2L)),
      s"per-slice profile wrong (NULL group must be a slice): $prof")
    assert(intercept[IllegalArgumentException](
      graft.compile.Compiler.compileJson(spark, """
        {"source": {"table": "pr_grp"},
         "profile": {"columns": ["g"], "group_cols": ["g"]}}"""))
      .getMessage.contains("group"))
  }

  test("zorder SQL function: literal bits enforced, matches the Scala column") {
    Tables.registerViews(spark, sf)
    val viaSql = spark.sql(
      """SELECT zorder(l_partkey % 256, l_suppkey % 256, 8) AS z
         FROM lineitem WHERE l_orderkey < 10
         ORDER BY l_orderkey, l_linenumber""")
      .collect().map(_.getLong(0)).toSeq
    val viaCol = Tables.load(spark, sf, "lineitem")
      .filter($"l_orderkey" < 10)
      .orderBy($"l_orderkey", $"l_linenumber")
      .select(graft.ops.Layout.zorderValue(
        Seq(org.apache.spark.sql.functions.pmod($"l_partkey",
            org.apache.spark.sql.functions.lit(256L)),
          org.apache.spark.sql.functions.pmod($"l_suppkey",
            org.apache.spark.sql.functions.lit(256L))), 8).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(viaSql == viaCol && viaSql.nonEmpty)
    intercept[Exception] { // bits must be a plan-time literal
      spark.sql("SELECT zorder(l_partkey, l_suppkey, l_linenumber) FROM lineitem")
        .collect()
    }
  }

  test("pass-through aggregate param rides as the second argument; sketch artifacts survive parquet") {
    import org.apache.spark.sql.functions._
    // approx_top_k_accumulate(col, maxItemsTracked): param must reach the
    // SQL call -- a silently-dropped capacity would sketch at the wrong
    // precision. Verified observably: the accumulate struct records it.
    val acc = df.groupBy("k")
      .agg(Compiler.aggColumn(AggSpec("id", "approx_top_k_accumulate",
        newName = Some("sk"), param = Some(64))))
    assert(acc.select("sk.maxItemsTracked").distinct().head.getInt(0) == 64)

    // the at-rest sketch-table round trip (the q237/q238 story): per-group
    // sketches -> parquet -> read back -> combine + estimate == direct
    val dir = java.nio.file.Files.createTempDirectory("graft-sk").toString
    acc.write.mode("overwrite").parquet(dir)
    val rt = spark.read.parquet(dir)
      .agg(expr("approx_top_k_estimate(approx_top_k_combine(sk, 64), 64)").as("e"))
      .select(explode(col("e")).as("x")).select("x.item", "x.count")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val direct = df.groupBy("id").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rt == direct,
      s"parquet-round-tripped sketch combine must be exact under capacity, got $rt vs $direct")

    // hll binary round trip: union of per-group sketches == global distinct
    val h = df.groupBy("k")
      .agg(Compiler.aggColumn(AggSpec("id", "hll_sketch_agg",
        newName = Some("h"), param = Some(14))))
    h.write.mode("overwrite").parquet(s"$dir/h")
    val nd = spark.read.parquet(s"$dir/h")
      .agg(expr("hll_sketch_estimate(hll_union_agg(h))").as("nd")).head.getLong(0)
    assert(nd == 5L, s"HLL union estimate must be exact at this cardinality, got $nd")
  }

  // ---- one analysis per node: the lazy spine keeps per-call semantics ----

  /** Same columns in the same order, same rows, and the same optimized
    * plan as `want`, the frame built one DataFrame call per step. */
  private def sameAsCalls(out: org.apache.spark.sql.DataFrame,
      want: org.apache.spark.sql.DataFrame): Unit = {
    assert(out.columns.toSeq == want.columns.toSeq)
    assert(out.collect().map(_.toString).sorted.toSeq ==
      want.collect().map(_.toString).sorted.toSeq)
    assert(out.queryExecution.optimizedPlan.sameResult(want.queryExecution.optimizedPlan),
      s"optimized plans differ:\n${out.queryExecution.optimizedPlan}\nvs\n" +
        want.queryExecution.optimizedPlan)
  }

  test("spine: a derive entry that reads an earlier entry sees its value") {
    import org.apache.spark.sql.functions.expr
    df.createOrReplaceTempView("spine_t")
    // v replaces in place and w reads the new v; id2 is independent; z
    // reads two earlier entries
    val out = Compiler.compileJson(spark, """
      {"source": {"table": "spine_t"},
       "derive": {"v": "v + 1", "w": "v * 2", "id2": "id * 10", "z": "id2 + w"}}""")
    val want = spark.table("spine_t").withColumn("v", expr("v + 1"))
      .withColumn("w", expr("v * 2")).withColumn("id2", expr("id * 10"))
      .withColumn("z", expr("id2 + w"))
    sameAsCalls(out, want)
    assert(out.filter("id = 1").head().getAs[Double]("z") == 32.0)
  }

  test("spine: two generator derive entries in one node") {
    import org.apache.spark.sql.functions.expr
    Seq((1, Seq(1, 2), Seq("a", "b", "c"))).toDF("id", "xs", "ys")
      .createOrReplaceTempView("spine_g")
    // one Project may hold only one generator; each call got its own
    val out = Compiler.compileJson(spark, """
      {"source": {"table": "spine_g"},
       "derive": {"n": "id + 1", "x": "explode(xs)", "y": "explode(ys)", "m": "n * x"}}""")
    val want = spark.table("spine_g").withColumn("n", expr("id + 1"))
      .withColumn("x", expr("explode(xs)")).withColumn("y", expr("explode(ys)"))
      .withColumn("m", expr("n * x"))
    sameAsCalls(out, want)
    assert(out.count() == 6)
  }

  test("spine: a rename chain applies in listed order") {
    df.createOrReplaceTempView("spine_r")
    val out = Compiler.compileJson(spark, """
      {"source": {"table": "spine_r"}, "rename": {"k": "x", "x": "y", "v": "value"}}""")
    val want = spark.table("spine_r").withColumnRenamed("k", "x")
      .withColumnRenamed("x", "y").withColumnRenamed("v", "value")
    sameAsCalls(out, want)
    assert(out.columns.toSeq == Seq("y", "id", "value", "tag"))
  }

  test("spine: one def under two prefixed children of one parent") {
    import org.apache.spark.sql.functions.sum
    df.createOrReplaceTempView("spine_d")
    // the generated stratum-2 shape: one def referenced by two sibling
    // children, so the second join's right side repeats the first's
    // attributes and the analyzer must re-instance it
    val out = Compiler.compileJson(spark, """
      {"defs": [{"id": "agg", "source": {"table": "spine_d"},
                 "group_by": ["k"],
                 "aggregations": [{"col": "v", "func": "sum", "new_name": "sv"}]}],
       "id": "root", "source": {"table": "spine_d"}, "keep_columns": ["k", "id"],
       "children": [
         {"id": "c1", "source": {"ref": "agg"},
          "join": {"on": ["k"], "how": "left"}, "prefix": true},
         {"id": "c2", "source": {"ref": "agg"}, "filters": ["sv > 20"],
          "join": {"on": ["k"], "how": "left"}, "prefix": true}]}""")
    val t = spark.table("spine_d")
    val agg = t.groupBy("k").agg(sum("v").as("sv"))
    def prefixed(d: org.apache.spark.sql.DataFrame, id: String) =
      d.columns.filterNot(_ == "k").foldLeft(d)((x, c) => x.withColumnRenamed(c, s"${id}_$c"))
    val want = t.select("k", "id")
      .join(prefixed(agg, "c1"), Seq("k"), "left")
      .join(prefixed(agg.filter("sv > 20"), "c2"), Seq("k"), "left")
    sameAsCalls(out, want)
    assert(out.columns.toSeq == Seq("k", "id", "c1_sv", "c2_sv"))
  }

  test("spine: an analysis error inside a derive surfaces from validatePipeline") {
    df.createOrReplaceTempView("spine_e")
    val spec = JsonCodec.parse("""
      {"source": {"table": "spine_e"},
       "derive": {"w": "v + no_such_col"}, "keep_columns": ["k", "w"]}""")
    val errs = Compiler.validatePipeline(spark, spec)
    assert(errs.size == 1 && errs.head.contains("UNRESOLVED_COLUMN") &&
      errs.head.contains("no_such_col"), errs)
    val e = intercept[org.apache.spark.sql.AnalysisException](Compiler.compile(spark, spec))
    assert(e.getCondition.startsWith("UNRESOLVED_COLUMN"), e.getCondition)
  }

  test("validatePipeline builds cache: true defs without persisting them") {
    df.createOrReplaceTempView("spine_c")
    spark.catalog.clearCache()
    Compiler.releaseAllCaches()
    val spec = JsonCodec.parse("""
      {"defs": [{"id": "tot", "cache": true, "source": {"table": "spine_c"},
                 "group_by": ["k"],
                 "aggregations": [{"col": "v", "func": "sum", "new_name": "sv"}]}],
       "id": "r", "source": {"ref": "tot"}, "order_by": ["k asc"]}""")
    assert(Compiler.validatePipeline(spark, spec).isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty,
      "validation must not persist a cache: true def")
    // compile still persists it, and releaseCache frees it
    val out = Compiler.compile(spark, spec)
    assert(!spark.sharedState.cacheManager.isEmpty)
    Compiler.releaseCache(out)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("compile cost: a 15-node config is analyzed about once per node") {
    // perf/stratum2_seed1.json is the stratum-2 config perfbench/gen.py
    // draws for seed 1 (15 nodes; one def referenced by six children), read
    // over the sf0.001 views. When every DataFrame call re-ran the
    // analyzer, validatePipeline + compile of it took 74,994 rule runs
    // (38,334 + 36,660); analyzing each node once must stay under a fifth.
    Tables.registerViews(spark, sf)
    val spec = JsonCodec.parse(
      scala.io.Source.fromResource("perf/stratum2_seed1.json").mkString)
    def ruleRuns(): Long = {
      val before = org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics().numRuns
      assert(Compiler.validatePipeline(spark, spec).isEmpty)
      Compiler.compile(spark, spec)
      org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics().numRuns - before
    }
    try {
      // the counter is JVM-wide: the lower of two runs drops any rule run
      // a concurrent query added
      val runs = math.min(ruleRuns(), ruleRuns())
      assert(runs <= 74994 / 5,
        s"validatePipeline + compile took $runs rule runs (budget ${74994 / 5})")
    } finally Compiler.releaseAllCaches()
  }

  test("top-k below link joins: the stratum-2 root takes its limit before its left-joined children") {
    // the root is orders ⟕ c2 ⟕ c24 (each a prefixed customer subtree)
    // ending in order_by o_orderkey desc + limit 34
    import PushTopKBelowLeftOuterJoinSpec._
    import org.apache.spark.sql.catalyst.plans.LeftOuter
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Join}
    Tables.registerViews(spark, sf)
    val spec = JsonCodec.parse(
      scala.io.Source.fromResource("perf/stratum2_seed1.json").mkString)
    try {
      val out = Compiler.compile(spark, spec)
      val plan = out.queryExecution.optimizedPlan
      assert(plan.isInstanceOf[GlobalLimit], plan.treeString)
      val rootJoin = plan.collectFirst { case j: Join => j }.get
      assert(rootJoin.joinType == LeftOuter)
      // one limit below the root's joins, on the orders side: no join under it
      val inner = rootJoin.collect { case g: GlobalLimit => g }
      assert(inner.size == 1 && inner.head.collectFirst { case j: Join => j }.isEmpty,
        plan.treeString)
      val rows = out.collect().toSeq
      assert(rows.size == 34)
      assert(root(out.queryExecution.executedPlan)
        .isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec])
      withoutRule(spark) {
        val plain = Compiler.compile(spark, spec)
        assert(pushed(plain) == 0)
        assert(plain.collect().toSeq == rows)
      }
    } finally Compiler.releaseAllCaches()
  }
}
