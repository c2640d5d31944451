package graft.queries

import graft.Tables
import graft.ops.{Corpus, Relational, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-shaping pack (north-star): document chunking, training-sequence
  * packing, benchmark decontamination, repetition quality metrics, the
  * salted skew join, and per-key running totals. Every query carries an
  * exact DuckDB oracle.
  */
object CorpusQueries extends QueryPack {
  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  // q72 — overlapping token chunks (chunkSize 16, overlap 4): the context-
  // window prep step of an embedding pipeline. Scan-stage generator — no
  // shuffle; the orderBy exists only for the oracle compare.
  private def q72(s: SparkSession, dir: String): DataFrame =
    Corpus.chunkByTokens(docs(s, dir), "doc_id", "text", chunkSize = 16, overlap = 4)
      .orderBy(col("doc_id").asc_nulls_first, col("chunk_id").asc_nulls_first)
  // DuckDB: multi-unnest in one SELECT zips element-wise; list slicing is
  // 1-based, end-inclusive, end-clamped — same as Spark's slice().
  private val q72Sql = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS t
      FROM documents),
    k AS (
      SELECT doc_id, t,
             GREATEST(1, CAST(CEIL(CAST(len(t) - 4 AS DOUBLE) / 12.0) AS INT)) AS nk
      FROM toks WHERE len(t) > 0)
    SELECT doc_id,
           CAST(unnest(range(nk)) AS INT) AS chunk_id,
           unnest(list_transform(range(nk),
             i -> array_to_string(t[CAST(i*12+1 AS INT):CAST(i*12+16 AS INT)], ' '))) AS chunk_text,
           CAST(unnest(list_transform(range(nk),
             i -> len(t[CAST(i*12+1 AS INT):CAST(i*12+16 AS INT)]))) AS INT) AS n_tokens
    FROM k ORDER BY doc_id ASC NULLS FIRST, chunk_id ASC NULLS FIRST"""

  // q215 — STRUCTURE-AWARE chunking from the config language: documents
  // are re-shaped into paragraphs (doc-parameterized width g = doc_id%4+2
  // words, joined by blank lines — portable arithmetic both engines
  // restate), then `chunk` with `sep` packs consecutive paragraphs
  // greedily into ≤ 12-token chunks — a paragraph never splits (the RAG
  // splitter recipe). The oracle rebuilds the paragraphs, replays the
  // greedy next-fit as a per-doc recursive CTE, and re-joins each
  // chunk's paragraphs — text, token sums, and segment counts all hash-
  // compared.
  private def q215(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(s, dir)
    graft.compile.Compiler.compileJson(s, s"""
      {"source": {"table": "documents"},
       "derive": {"tk": "tokens(text)",
                  "g": "cast(doc_id % 4 + 2 as int)",
                  "para": "if(size(tk) = 0, '', array_join(transform(sequence(0, cast(ceil(size(tk) / cast(g as double)) as int) - 1), i -> array_join(slice(tk, i * g + 1, g), ' ')), '\\n\\n'))"},
       "chunk": {"id_col": "doc_id", "text_col": "para", "size": 12,
                 "sep": "\\n\\n"},
       "order_by": ["doc_id asc", "chunk_id asc"]}""")
  }
  private val q215Sql = """
    WITH RECURSIVE tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS t,
             CAST(doc_id % 4 + 2 AS INT) AS g
      FROM documents),
    seg AS (
      SELECT doc_id, g, t,
             unnest(range(0, CAST(ceil(len(t) / CAST(g AS DOUBLE)) AS BIGINT))) AS i
      FROM tk WHERE len(t) > 0),
    cnt AS (
      SELECT doc_id, i, t[CAST(i*g+1 AS INT) : CAST(i*g+g AS INT)] AS ptoks,
             len(t[CAST(i*g+1 AS INT) : CAST(i*g+g AS INT)]) AS c,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
      FROM seg),
    nf AS (
      SELECT doc_id, rn, ptoks, c, 0 AS ci, c AS fill
      FROM cnt WHERE rn = 1
      UNION ALL
      SELECT cnt.doc_id, cnt.rn, cnt.ptoks, cnt.c,
             CASE WHEN nf.fill + cnt.c > 12 THEN nf.ci + 1 ELSE nf.ci END,
             CASE WHEN nf.fill + cnt.c > 12 THEN cnt.c
                  ELSE nf.fill + cnt.c END
      FROM nf JOIN cnt ON cnt.doc_id = nf.doc_id AND cnt.rn = nf.rn + 1),
    ch AS (
      SELECT doc_id, ci,
             string_agg(array_to_string(ptoks, ' '), e'\n\n' ORDER BY rn) AS chunk_text,
             CAST(SUM(c) AS INT) AS n_tokens,
             CAST(COUNT(*) AS INT) AS n_segments
      FROM nf GROUP BY doc_id, ci)
    SELECT doc_id, CAST(ci AS INT) AS chunk_id, chunk_text, n_tokens,
           n_segments
    FROM ch
    ORDER BY doc_id ASC NULLS FIRST, chunk_id ASC NULLS FIRST"""

  // q73 — sequence packing: shard by id (8 shards), lay documents
  // end-to-end per shard, bin = token offset ÷ 256. Output is the per-bin
  // summary; the per-doc assignment is the operator's frame. One window
  // shuffle (by shard) + one aggregate.
  private def q73(s: SparkSession, dir: String): DataFrame =
    Corpus.packSequences(
        docs(s, dir).select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tok")),
        "doc_id", "n_tok", budget = 256L, numShards = 8)
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"))
      .orderBy(col("shard").asc_nulls_first, col("bin").asc_nulls_first)
  private val q73Sql = """
    WITH toks AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS n_tok,
             CAST(doc_id % 8 AS INT) AS shard
      FROM documents),
    packed AS (
      SELECT shard, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
      FROM toks)
    SELECT shard, CAST(FLOOR(start_off / 256.0) AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
    FROM packed GROUP BY 1, 2
    ORDER BY shard ASC NULLS FIRST, bin ASC NULLS FIRST"""

  // q74 — benchmark decontamination report: docs sharing ≥ 5 distinct
  // 4-gram shingles with the eval pool (doc_id % 10 = 0 plays the held-out
  // benchmark). The planted near-dups of eval docs surface with n_common
  // ≈ 90 — two orders above the incidental-overlap noise floor — at every
  // SF. Spark joins on 64-bit shingle hashes with the eval set broadcast;
  // the oracle joins on shingle strings (same equivalence, q28 precedent).
  private def q74(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Corpus.contaminationReport(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", shingleSize = 4)
      .filter(col("n_common") >= 5)
      .orderBy(col("doc_id").asc_nulls_first)
  }
  private val q74Sql = """
    WITH sets AS (
      SELECT doc_id,
             list_distinct([array_to_string(t[i:i+3], ' ')
                            for i in generate_series(1, greatest(len(t)-3, 1))]) AS sh
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents)),
    ev AS (SELECT DISTINCT unnest(sh) AS shingle FROM sets WHERE doc_id % 10 = 0),
    tr AS (SELECT doc_id, unnest(sh) AS shingle FROM sets WHERE doc_id % 10 <> 0)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM tr JOIN ev USING (shingle)
    GROUP BY 1 HAVING COUNT(*) >= 5
    ORDER BY doc_id ASC NULLS FIRST"""

  // q75 — repetition/boilerplate quality metrics over bigrams (top-gram
  // fraction + duplicated-gram fraction): the Gopher-style repetition
  // filters. In-row O(m²) counting keeps it in the scan stage — zero
  // shuffles (see TextAnalysis.repetitionStats).
  private def q75(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), TextAnalysis.repetitionStats(col("text"), 2).as("r"))
      .select(col("doc_id"), col("r.n_grams").as("n_grams"),
        col("r.top_frac").as("top_frac"), col("r.dup_frac").as("dup_frac"))
      .orderBy(col("doc_id").asc_nulls_first)
  private val q75Sql = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS t
      FROM documents),
    g AS (
      SELECT doc_id, t,
             [array_to_string(t[i:i+1], ' ')
              for i in generate_series(1, greatest(len(t)-1, 1))] AS g2
      FROM toks),
    c AS (
      SELECT doc_id, t, g2,
             list_transform(g2, x -> len(list_filter(g2, y -> y = x))) AS c2
      FROM g)
    SELECT doc_id,
           CASE WHEN len(t) > 0 THEN CAST(len(g2) AS INT) ELSE 0 END AS n_grams,
           CASE WHEN len(t) > 0
                THEN ROUND(CAST(list_max(c2) AS DOUBLE) / len(g2), 9)
                ELSE 0.0 END AS top_frac,
           CASE WHEN len(t) > 0
                THEN ROUND(CAST(len(list_filter(c2, x -> x > 1)) AS DOUBLE) / len(g2), 9)
                ELSE 0.0 END AS dup_frac
    FROM c ORDER BY doc_id ASC NULLS FIRST"""

  // q76 — salted skew join: lineitem ⋈ orders on the order key with an
  // 8-way content-derived salt, then an aggregate per priority. The oracle
  // is the PLAIN join — the hash-match proves salting is invisible to
  // semantics, exactly like q54 does for salted aggregation.
  private def q76(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_quantity")
    val ord = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    Relational.saltedJoin(li, ord, Seq("l_orderkey"), buckets = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), Tables.dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("o_orderpriority").asc_nulls_first)
  }
  private val q76Sql = s"""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           ${Tables.dsumSql("l_quantity")} AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1 ORDER BY o_orderpriority ASC NULLS FIRST"""

  // q243 — the salted skew join from the CONFIG language: `join.salt` is
  // the spec surface of Relational.saltedJoin (q76's Scala API). The
  // oracle is the PLAIN join — the hash-match proves the 8-way fan-out is
  // invisible to semantics, exactly as q54 does for `aggregate.salt`. The
  // filter keeps the emitted frame row-bounded; the salt machinery runs on
  // every surviving row.
  private def q243(s: SparkSession, dir: String): DataFrame =
    graft.compile.Compiler.compileJson(s, """
      {"source": {"table": "lineitem"},
       "filters": ["l_orderkey <= 2000"],
       "keep_columns": ["l_orderkey", "l_quantity"],
       "children": [{
          "id": "ord",
          "source": {"table": "orders"},
          "keep_columns": ["o_orderkey", "o_orderpriority"],
          "rename": {"o_orderkey": "l_orderkey"},
          "join": {"on": ["l_orderkey"], "how": "inner", "salt": 8}}],
       "order_by": ["l_orderkey asc", "l_quantity asc", "o_orderpriority asc"]}""")
  private val q243Sql = """
    SELECT l_orderkey, l_quantity, o_orderpriority
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_orderkey <= 2000
    ORDER BY l_orderkey ASC NULLS FIRST, l_quantity ASC NULLS FIRST,
             o_orderpriority ASC NULLS FIRST"""

  // q77 — per-user running totals over the event stream: cumulative event
  // count and exact decimal running value sum, ordered by event time. One
  // window shuffle on user_id. Batch twin of the custom-state streaming
  // op Streaming.runningTotals (flatMapGroupsWithState) — StreamingSpec
  // asserts stream == stateful-batch == this window formulation on the
  // same input.
  private def q77(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        count(lit(1)).over(w).as("running_n"),
        Relational.runningDSum(col("value"), w).as("running_value"))
      .orderBy(col("user_id").asc_nulls_first, col("ts").asc_nulls_first,
        col("event_id").asc_nulls_first)
  }
  private val q77Sql = """
    SELECT user_id, event_id, ts, value,
           CAST(COUNT(*) OVER w AS BIGINT) AS running_n,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE) AS running_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY user_id ASC NULLS FIRST, ts ASC NULLS FIRST, event_id ASC NULLS FIRST"""

  // q96 — q77's running totals declared ENTIRELY from JSON: the
  // `running_totals` node key compiles to the custom-state op
  // (Streaming.runningTotals — the same spec streams under compileStream
  // with two longs of state per key; StreamingSpec asserts config-stream
  // == batch). Carries q77's oracle: the config path must hash-match the
  // window formulation.
  private def q96(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(s, dir)
    graft.compile.Compiler.compileJson(s, """
      {"source": {"table": "events"},
       "keep_columns": ["user_id", "event_id", "ts", "value"],
       "running_totals": {"key_col": "user_id", "seq_col": "event_id",
                          "ts_col": "ts", "value_col": "value"},
       "order_by": ["user_id asc", "ts asc", "event_id asc"]}""")
  }

  // q80 — stratified deterministic sample: 25 documents per language by
  // Knuth multiplicative hash rank (q61's portable hash, so the quota
  // selection itself is oracle hash-checked end-to-end, not just the row
  // count). Unlike fraction sampling the per-stratum quota is exact —
  // the training-mix balancing primitive. One quota-shaped window shuffle
  // (WindowGroupLimit; see Corpus.stratifiedSample).
  private def q80(s: SparkSession, dir: String): DataFrame =
    Corpus.stratifiedSample(
        docs(s, dir).select("doc_id", "lang", "source"),
        strata = Seq("lang"), k = 25,
        hashRank = pmod(col("doc_id") * lit(2654435761L), lit(1000000007L)),
        tiebreak = Seq(col("doc_id").asc))
      .orderBy(col("lang").asc_nulls_first, col("doc_id").asc_nulls_first)
  private val q80Sql = """
    WITH ranked AS (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY (doc_id * 2654435761) % 1000000007 ASC, doc_id ASC) AS rn
      FROM documents)
    SELECT doc_id, lang, source FROM ranked WHERE rn <= 25
    ORDER BY lang ASC NULLS FIRST, doc_id ASC NULLS FIRST"""

  // q81 — PII scrub over the event props payload: global redaction of
  // email / phone / digit-run patterns plus the redaction count. The
  // patterns live in ONE place (TextAnalysis.piiPatterns, written in the
  // Java-regex ∩ RE2 dialect) and the oracle SQL below is GENERATED from
  // them, so Spark and the oracle cannot drift. Digit runs are the
  // PII-shaped content this synthetic corpus carries; email/phone shapes
  // are exercised on planted strings in OpsSpec. regexp chain is
  // scan-stage — zero shuffles: the privacy pass that must touch every
  // byte of a 100 TB corpus.
  private def q81(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("event_id"),
        TextAnalysis.scrubPii(col("props")).as("scrubbed"),
        TextAnalysis.piiCount(col("props")).as("n_pii"))
      .orderBy(col("event_id").asc_nulls_first)
  private[queries] val q81Sql = {
    // Single-quoted SQL literals keep backslashes verbatim (no escape
    // processing), so the Scala pattern strings embed unchanged; 'g' =
    // global replace, matching Spark's replace-all default.
    val scrub = TextAnalysis.piiPatterns.foldLeft("props") {
      case (acc, (_, p)) => s"regexp_replace($acc, '$p', '[PII]', 'g')"
    }
    val (countTerms, _) =
      TextAnalysis.piiPatterns.foldLeft((Seq.empty[String], "props")) {
        case ((terms, cur), (_, p)) =>
          (terms :+ s"len(regexp_extract_all($cur, '$p'))",
            s"regexp_replace($cur, '$p', '[PII]', 'g')")
      }
    s"""SELECT event_id, $scrub AS scrubbed,
               CAST(${countTerms.mkString(" + ")} AS INT) AS n_pii
        FROM events ORDER BY event_id ASC NULLS FIRST"""
  }

  // q90 — boilerplate line removal (the CCNet/RefinedWeb curation step).
  // The corpus is single-line, so the query PLANTS the boilerplate
  // deterministically in both engines (the q64/q66 planted-fixture
  // pattern): a global header on every doc, the body split into lines on
  // the literal token ' the ' (replace() is literal left-to-right in
  // Spark and DuckDB alike), and a per-source footer shared by all docs
  // of that source (25 docs/source at sf0.01, 250 at sf0.1). maxDocs=20
  // drops the header (500+ docs) and every footer (>20 docs) while no
  // body line reaches 6 docs — and the threshold keeps separating at
  // larger SFs because occurrence counts only grow. Spark side runs
  // byHash=true (the 64-bit-hash production path); the oracle counts
  // exact line strings — the hash-match proves hashing is invisible.
  private def q90(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"),
      concat_ws("\n",
        lit("subscribe to our newsletter"),
        expr("replace(text, ' the ', '\n')"),
        concat(lit("(c) footer "), col("source"))).as("mtext"))
    Corpus.removeBoilerplateLines(base, "doc_id", "mtext", maxDocs = 20)
      .orderBy(col("doc_id").asc_nulls_first)
  }
  private[queries] val q90Sql = """
    WITH base AS (
      SELECT doc_id,
             'subscribe to our newsletter' || chr(10) ||
             replace(text, ' the ', chr(10)) || chr(10) ||
             '(c) footer ' || source AS mtext
      FROM documents),
    l AS (
      SELECT doc_id,
             generate_subscripts(string_split(mtext, chr(10)), 1) AS ln,
             unnest(string_split(mtext, chr(10))) AS line
      FROM base),
    hot AS (
      SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) > 20)
    SELECT l.doc_id,
           coalesce(string_agg(CASE WHEN hot.line IS NULL THEN l.line END,
                               chr(10) ORDER BY l.ln), '') AS clean_text,
           CAST(count(CASE WHEN hot.line IS NULL THEN 1 END) AS BIGINT)
             AS kept_lines,
           CAST(count(CASE WHEN hot.line IS NOT NULL THEN 1 END) AS BIGINT)
             AS dropped_lines
    FROM l LEFT JOIN hot ON l.line = hot.line
    GROUP BY l.doc_id
    ORDER BY l.doc_id ASC NULLS FIRST"""

  // q109 — deterministic train/val/test split: 90/5/5 by portable
  // multiplicative hash of doc_id. The operator reduces mod 1e6 BEFORE
  // the multiply, so every intermediate stays below 2.65e15 — no silent
  // i64 wrap on the Spark side, no checked-overflow error on the DuckDB
  // side, and negative ids assign identically (pmod here, the
  // sign-normalized `% + m) % m` spelling there). Exact oracle for the
  // FULL long range, not just small positive fixture ids.
  private def q109(s: SparkSession, dir: String): DataFrame =
    Corpus.hashSplit(
        Tables.load(s, dir, "documents"),
        idCol = "doc_id",
        weights = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .select("doc_id", "split")
      .orderBy(col("doc_id").asc_nulls_first)
  /** DuckDB mirror of hashSplit's bucket hash over a BIGINT id alias. */
  private[queries] def splitHashSql(id: String): String =
    s"((($id % 1000000 + 1000000) % 1000000) * 2654435761) % 1000000"
  private val q109Sql = s"""
    SELECT doc_id,
           CASE WHEN ${splitHashSql("doc_id")} < 900000 THEN 'train'
                WHEN ${splitHashSql("doc_id")} < 950000 THEN 'val'
                ELSE 'test' END AS split
    FROM documents ORDER BY doc_id ASC NULLS FIRST"""

  // q110 — the split from PURE JSON feeding a downstream aggregate:
  // per-bucket doc counts and char totals (the "is my training mix
  // balanced" report). Buckets are an ordered array — boundary
  // assignment is cumulative.
  private def q110(s: SparkSession, dir: String): DataFrame =
    graft.compile.Compiler.compileJson(s, """
      {"source": {"table": "documents"},
       "split": {"id_col": "doc_id",
                 "buckets": [{"name": "train", "weight": 0.9},
                             {"name": "val", "weight": 0.05},
                             {"name": "test", "weight": 0.05}]},
       "aggregate": {"group_by": ["split"],
         "aggregations": [{"col": "*", "func": "count", "new_name": "n_docs"},
                          {"col": "n_chars", "func": "sum", "new_name": "sum_chars"}]},
       "order_by": ["split asc"]}""")
  private val q110Sql = s"""
    WITH assigned AS (
      SELECT n_chars,
             CASE WHEN ${splitHashSql("doc_id")} < 900000 THEN 'train'
                  WHEN ${splitHashSql("doc_id")} < 950000 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM assigned GROUP BY 1 ORDER BY split ASC NULLS FIRST"""

  // q114 — the split on a STRING id (UUID/URL-shaped — the common
  // web-corpus key). The round-7 audit found `cast("long")` on such ids
  // yields NULL and silently dumped the whole corpus in the last bucket;
  // the fix routes strings through the portable fingerprint kernel, and
  // this query pins that path with a full hash-match oracle (the kernel's
  // arithmetic is engine-portable — same Horner mirror as q26).
  private def q114(s: SparkSession, dir: String): DataFrame =
    Corpus.hashSplit(
        Tables.load(s, dir, "documents")
          .withColumn("sid", concat(lit("doc-"), col("doc_id"))),
        idCol = "sid",
        weights = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .select("sid", "split")
      .orderBy(col("sid").asc_nulls_first)
  private val q114Sql = s"""
    WITH s AS (
      SELECT 'doc-' || doc_id AS sid,
             list_filter(string_split_regex(trim('doc-' || doc_id), '\\s+'),
                         x -> len(x) > 0) AS t
      FROM documents),
    h AS (SELECT sid, ${TextQueries.fpSql("t")} AS fp FROM s)
    SELECT sid,
           CASE WHEN ${splitHashSql("fp")} < 900000 THEN 'train'
                WHEN ${splitHashSql("fp")} < 950000 THEN 'val'
                ELSE 'test' END AS split
    FROM h ORDER BY sid ASC NULLS FIRST"""

  // q136 — hashSplit BALANCE gate over the full documents table, both id
  // kinds: per-bucket counts (exact, oracle recomputes the multiplicative
  // hash and the string-id fingerprint mirror) plus a realized-proportion
  // check (|p − weight| ≤ 2pp — the multiplicative hash spreads ids, so a
  // kernel regression that clumps buckets fails t2 on REAL data, not just
  // the q109/q114 per-row fixtures; measured slack at test SF ≥ 1.2pp).
  private def q136(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(s, dir, "documents")
    val w = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val byLong = Corpus.hashSplit(docs, "doc_id", w)
      .groupBy("split").agg(count(lit(1)).as("n_long"))
    val byStr = Corpus.hashSplit(
        docs.withColumn("sid", concat(lit("doc-"), col("doc_id"))), "sid", w)
      .groupBy("split").agg(count(lit(1)).as("n_str"))
    val frac = when(col("split") === "train", 0.9).otherwise(0.05)
    byLong.join(byStr, Seq("split"))
      .withColumn("__tot", sum("n_long").over(Window.partitionBy()))
      .select(col("split"), col("n_long"), col("n_str"),
        (abs(col("n_long").cast("double") / col("__tot") - frac) <= 0.02)
          .as("long_balanced"),
        (abs(col("n_str").cast("double") / col("__tot") - frac) <= 0.02)
          .as("str_balanced"))
      .orderBy(col("split").asc_nulls_first)
  }
  private val q136Sql = s"""
    WITH l AS (
      SELECT CASE WHEN ${splitHashSql("doc_id")} < 900000 THEN 'train'
                  WHEN ${splitHashSql("doc_id")} < 950000 THEN 'val'
                  ELSE 'test' END AS split, COUNT(*) AS n_long
      FROM documents GROUP BY 1),
    sf AS (
      SELECT sid, ${TextQueries.fpSql("t")} AS fp
      FROM (SELECT 'doc-' || doc_id AS sid,
                   list_filter(string_split_regex(trim('doc-' || doc_id), '\\s+'),
                               x -> len(x) > 0) AS t
            FROM documents)),
    st AS (
      SELECT CASE WHEN ${splitHashSql("fp")} < 900000 THEN 'train'
                  WHEN ${splitHashSql("fp")} < 950000 THEN 'val'
                  ELSE 'test' END AS split, COUNT(*) AS n_str
      FROM sf GROUP BY 1),
    t AS (SELECT COUNT(*) AS tot FROM documents)
    SELECT l.split, CAST(l.n_long AS BIGINT) AS n_long,
           CAST(st.n_str AS BIGINT) AS n_str,
           abs(CAST(l.n_long AS DOUBLE) / tot -
               CASE WHEN l.split = 'train' THEN 0.9 ELSE 0.05 END) <= 0.02
             AS long_balanced,
           abs(CAST(st.n_str AS DOUBLE) / tot -
               CASE WHEN l.split = 'train' THEN 0.9 ELSE 0.05 END) <= 0.02
             AS str_balanced
    FROM l JOIN st USING (split), t
    ORDER BY split ASC NULLS FIRST"""

  // q142/q143 — temperature-based mixture resampling (alpha 0.5, the mT5
  // default regime): the en-heavy corpus flattens toward the tail
  // languages (at sf0.01: en keeps ~25% of its docs, de ~41%). Membership
  // is a deterministic function of (lang counts, doc_id), so the oracle
  // recomputes the exact keep set: the rate arithmetic mirrors the
  // driver-side fold op-for-op (sqrt is correctly rounded per IEEE-754,
  // the normalizer sum runs in lang-ASC order on both sides, FLOOR both
  // sides), and the per-row threshold is integer hash arithmetic in the
  // sampling hash family (Java-LCG multiplier — decorrelated from
  // hashSplit's so sample∘split stays unbiased). q143 is the PURE-JSON
  // twin exercising the alpha default.
  private def q142(s: SparkSession, dir: String): DataFrame =
    Corpus.temperatureSample(
        Tables.load(s, dir, "documents"),
        groupCol = "lang", idCol = "doc_id",
        targetFraction = 0.3, alpha = 0.5)
      .select("doc_id", "lang")
      .orderBy(col("doc_id").asc_nulls_first)
  /** DuckDB mirror of the sampling-family hash over a BIGINT id alias. */
  private def sampleHashSql(id: String): String =
    s"((($id % 1000000 + 1000000) % 1000000) * 25214903917) % 1000000"
  private val q142Sql = s"""
    WITH g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
               FROM documents GROUP BY lang),
         t AS (SELECT CAST(SUM(n) AS BIGINT) AS N,
                      list_sum(list(sqrt(CAST(n AS DOUBLE)) ORDER BY lang)) AS S
               FROM g),
         r AS (SELECT g.lang,
                      CAST(FLOOR(LEAST(1.0,
                            CAST(CAST(FLOOR(0.3 * t.N) AS BIGINT) AS DOUBLE)
                              * (sqrt(CAST(g.n AS DOUBLE)) / t.S)
                              / CAST(g.n AS DOUBLE)) * 1000000.0) AS BIGINT) AS k
               FROM g, t)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN r ON d.lang = r.lang
    WHERE ${sampleHashSql("d.doc_id")} < r.k
    ORDER BY d.doc_id ASC NULLS FIRST"""
  private def q143(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(s, dir)
    graft.compile.Compiler.compileJson(s, """
      {"source": {"table": "documents"},
       "keep_columns": ["doc_id", "lang"],
       "temperature_sample": {"group_col": "lang", "id_col": "doc_id",
                              "target_fraction": 0.3},
       "order_by": ["doc_id asc"]}""")
  }

  // q227 — per-row UPSAMPLING, the repeat-k-epochs half of mixture
  // rebalancing (q142's temperature sampling shrinks heavy groups; this
  // multiplies light/high-quality ones): a CASE over lang derives the
  // epoch factor (de ×3, fr/es ×2, en ×1 pass-through, zh ×0 drop) and
  // `upsample` emits factor-many copies tagged 0..factor−1 — exact
  // factor-weighted counts, not probabilistic rates. Scan-stage
  // generator: zero shuffles, streaming-admissible. The oracle unnests
  // range(0, factor) — identical copies, identical drops.
  private def q227(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(s, dir)
    graft.compile.Compiler.compileJson(s, """
      {"source": {"table": "documents"},
       "derive": {"factor": "CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 3 WHEN 'zh' THEN 0 ELSE 2 END"},
       "keep_columns": ["doc_id", "lang", "factor"],
       "upsample": {"factor_col": "factor"},
       "order_by": ["doc_id asc", "copy asc"]}""")
  }
  private val q227Sql = """
    WITH f AS (
      SELECT doc_id, lang,
             CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 3
                       WHEN 'zh' THEN 0 ELSE 2 END AS factor
      FROM documents)
    SELECT doc_id, lang, factor,
           CAST(unnest(range(0, factor)) AS BIGINT) AS copy
    FROM f
    ORDER BY doc_id ASC NULLS FIRST, copy ASC NULLS FIRST"""

  // q204/q205 — token-budget mixture sampling (the DoReMi deployment
  // step): per-language TOKEN budgets filled in deterministic
  // budget-hash order. The kept set is a pure function of (ids, token
  // counts, budgets), so the oracle recomputes it exactly with one
  // window: order by (budget-family hash, id), keep while the EXCLUSIVE
  // running sum is under the budget (overshoot policy — the boundary doc
  // fills the budget). q204 exercises all four group paths in one query:
  // boundary cut (en, de), keep-all (fr budget above the group total),
  // budget-0 drop (es), unlisted-group drop (zh). q205 is the PURE-JSON
  // twin deriving the same shape from mixture weights (dyadic weights ×
  // dyadic total, so ⌊total·w/Σw⌋ is exact in both engines).
  private def q204(s: SparkSession, dir: String): DataFrame =
    Corpus.tokenBudgetSample(
        Tables.load(s, dir, "documents"),
        groupCol = "lang", idCol = "doc_id", tokensCol = "n_chars",
        budgets = Seq("en" -> 20000L, "de" -> 8000L,
          "fr" -> 99999999L, "es" -> 0L))
      .select("doc_id", "lang", "n_chars")
      .orderBy(col("doc_id").asc_nulls_first)
  /** DuckDB mirror of the budget-family hash over a BIGINT id alias. */
  private def budgetHashSql(id: String): String =
    s"((($id % 1000000 + 1000000) % 1000000) * 1103515245) % 1000000"
  private def budgetPrefixSql(budgetValues: String): String = s"""
    WITH b(grp, budget) AS (VALUES $budgetValues),
    h AS (SELECT doc_id, lang, n_chars,
            ${budgetHashSql("doc_id")} AS hh
          FROM documents),
    c AS (SELECT doc_id, lang, n_chars,
            COALESCE(SUM(n_chars) OVER (
              PARTITION BY lang ORDER BY hh, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          FROM h)
    SELECT c.doc_id, c.lang, CAST(c.n_chars AS BIGINT) AS n_chars
    FROM c JOIN b ON c.lang = b.grp
    WHERE cum < b.budget
    ORDER BY doc_id ASC NULLS FIRST"""
  private val q204Sql = budgetPrefixSql(
    "('en', 20000), ('de', 8000), ('fr', 99999999), ('es', 0)")
  private def q205(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(s, dir)
    graft.compile.Compiler.compileJson(s, """
      {"source": {"table": "documents"},
       "keep_columns": ["doc_id", "lang", "n_chars"],
       "token_budget_sample": {"group_col": "lang", "id_col": "doc_id",
         "tokens_col": "n_chars",
         "weights": {"en": 0.5, "de": 0.25, "es": 0.125,
                     "fr": 0.0625, "zh": 0.0625},
         "total_budget": 65536},
       "order_by": ["doc_id asc"]}""")
  }
  // 65536 × dyadic weights: budgets 32768/16384/8192/4096/4096 exactly
  private val q205Sql = budgetPrefixSql(
    "('en', 32768), ('de', 16384), ('es', 8192), ('fr', 4096), ('zh', 4096)")

  // q210 — QUALITY-FIRST budget selection (`order_col`): the top-scoring
  // docs per group until the token budget fills — here "longest first"
  // (score = n_chars), which also exercises the score-tie id tiebreak
  // (duplicate lengths exist at every SF). The oracle is the same
  // exclusive-cumsum prefix with the window ordered by (score DESC, id);
  // the engine's 64-quantile bucketing is an internal split the gate
  // proves invisible.
  private def q210(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(s, dir)
    graft.compile.Compiler.compileJson(s, """
      {"source": {"table": "documents"},
       "keep_columns": ["doc_id", "lang", "n_chars"],
       "token_budget_sample": {"group_col": "lang", "id_col": "doc_id",
         "tokens_col": "n_chars", "order_col": "n_chars",
         "budgets": {"en": 20000, "zh": 9000}},
       "order_by": ["doc_id asc"]}""")
  }
  private val q210Sql = """
    WITH b(grp, budget) AS (VALUES ('en', 20000), ('zh', 9000)),
    c AS (SELECT doc_id, lang, n_chars,
            COALESCE(SUM(n_chars) OVER (
              PARTITION BY lang ORDER BY n_chars DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          FROM documents)
    SELECT c.doc_id, c.lang, CAST(c.n_chars AS BIGINT) AS n_chars
    FROM c JOIN b ON c.lang = b.grp
    WHERE cum < b.budget
    ORDER BY doc_id ASC NULLS FIRST"""

  // q154 — classifier INFERENCE, exactly mirrored: score every document
  // with FIXED formula weights (w_b from plan-time arithmetic — the
  // trained-weights path is gated by q155 + the CorpusSpec training
  // invariants; an oracle can't restate gradient descent, but it CAN
  // restate the scan-stage kernel bit-for-bit). The margin folds w[b_j]
  // over the hashed buckets IN DOCUMENT ORDER starting at the intercept,
  // so the DuckDB in-order list_reduce reproduces the double exactly;
  // sigmoid rounds to 6 dp (the lmPerplexity libm posture).
  private val clsDim = 64
  private def clsW(b: Long): Double =
    ((b * 2654435761L) % 1000003L).toDouble / 1000003.0 - 0.5
  private def q154(s: SparkSession, dir: String): DataFrame = {
    val w = Array.tabulate(clsDim)(b => clsW(b.toLong))
    docs(s, dir).select(
        col("doc_id"),
        size(graft.functions.ClassifierKernels
          .hashedTokenBuckets(col("text"), clsDim)).as("n_tokens"),
        round(graft.functions.ClassifierKernels
          .textScore(col("text"), w, intercept = 0.25), 6).as("score"))
      .orderBy(col("doc_id").asc_nulls_first)
  }
  private val q154Sql = s"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS t
      FROM documents),
    b AS (
      SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
             list_transform(t, tok ->
               list_reduce(
                 list_prepend(CAST(7 AS BIGINT),
                   list_transform(range(1, len(tok) + 1),
                     i -> CAST(ascii(tok[i]) AS BIGINT))),
                 (a, c) -> (a * 131 + c) % 1000000007) % $clsDim) AS bs
      FROM toks)
    SELECT doc_id, n_tokens,
           ROUND(1.0 / (1.0 + exp(-(list_reduce(
             list_prepend(CAST(0.25 AS DOUBLE),
               list_transform(bs, bb ->
                 ((bb * 2654435761) % 1000003) / 1000003.0 - 0.5)),
             (a, x) -> a + x)))), 6) AS score
    FROM b ORDER BY doc_id ASC NULLS FIRST"""

  // q155 — classifier TRAINING as a driver gate (the q122 pattern: the
  // learned weights have no closed-form SQL spelling, but the separation
  // they must achieve on a planted fixture is engine-independent exact
  // arithmetic): labels planted by doc parity, the positive class marked
  // by an appended token; after NB-init + bounded refinement every
  // marked doc MUST outscore every clean doc, and the class counts are
  // parity arithmetic. Deterministic training (decimal-exact aggregates,
  // integer counts) makes the gate replay-stable.
  private def q155(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(s, dir)
    graft.compile.Compiler.compileJson(s, """
      {"source": {"table": "documents"},
       "filters": ["doc_id % 4 < 2"],
       "derive": {"label": "if(doc_id % 2 = 0, 1.0, 0.0)",
                  "txt": "if(doc_id % 2 = 0, concat(text, ' zqxmarker'), text)"},
       "quality_classifier": {"id_col": "doc_id", "text_col": "txt",
                              "label_col": "label", "dim": 512, "epochs": 2},
       "aggregate": {"group_by": [],
         "aggregations": [
           {"col": "*", "func": "count", "new_name": "n_total",
            "filter": "doc_id % 2 = 0"},
           {"col": "score", "func": "min", "new_name": "min_pos",
            "filter": "doc_id % 2 = 0"},
           {"col": "score", "func": "max", "new_name": "max_neg",
            "filter": "doc_id % 2 = 1"}]},
       "with_columns": {"separated": "min_pos > max_neg"},
       "drop": ["min_pos", "max_neg"]}""")
  }
  private val q155Sql = """
    SELECT CAST(COUNT(*) FILTER (doc_id % 2 = 0) AS BIGINT) AS n_total,
           TRUE AS separated
    FROM documents WHERE doc_id % 4 < 2"""

  // q163 — the `score_model` ARTIFACT-inference key, exactly mirrored:
  // q154's fixed formula weights are persisted through the real
  // saveTextClassifier artifact (sparse weight table, intercept/dim
  // sentinel rows), reloaded by the pure-JSON `score_model` key, and
  // every document is scored scan-stage. Same closed-form oracle as
  // q154 — what the gate adds is the artifact ROUND-TRIP (save → load →
  // identical kernel scores through config), the contract that lets a
  // batch-trained model score a stream.
  private def q163(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(s, dir)
    val w = Array.tabulate(clsDim)(b => clsW(b.toLong))
    val mdir = s"${System.getProperty("java.io.tmpdir")}/graft_q163_model"
    graft.ops.Corpus.saveTextClassifier(s,
      graft.ops.Corpus.TextClassifierModel(clsDim, 0.25, w, Nil), mdir)
    graft.compile.Compiler.compileJson(s, s"""
      {"source": {"table": "documents"},
       "keep_columns": ["doc_id", "text"],
       "score_model": {"text_col": "text", "model_dir": "$mdir",
                       "threshold": 0.5},
       "drop": ["text"],
       "order_by": ["doc_id asc"]}""")
  }
  private val q163Sql = s"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS t
      FROM documents),
    b AS (
      SELECT doc_id,
             list_transform(t, tok ->
               list_reduce(
                 list_prepend(CAST(7 AS BIGINT),
                   list_transform(range(1, len(tok) + 1),
                     i -> CAST(ascii(tok[i]) AS BIGINT))),
                 (a, c) -> (a * 131 + c) % 1000000007) % $clsDim) AS bs
      FROM toks),
    s AS (
      SELECT doc_id,
             ROUND(1.0 / (1.0 + exp(-(list_reduce(
               list_prepend(CAST(0.25 AS DOUBLE),
                 list_transform(bs, bb ->
                   ((bb * 2654435761) % 1000003) / 1000003.0 - 0.5)),
               (a, x) -> a + x)))), 6) AS score
      FROM b)
    SELECT doc_id, score, score >= 0.5 AS pred
    FROM s ORDER BY doc_id ASC NULLS FIRST"""

  // q165 — line-level Gopher repetition metrics (the LINE tier next to
  // q75's word-n-gram tier): duplicated-line fraction by count AND by
  // characters, bullet-start and ellipsis-end fractions. The fixture
  // plants one bullet line, a doubled footer, and an ellipsis line around
  // the corpus text (documents are single-line, so line structure is
  // synthesized the q90 way — ' the ' → newline — and mirrored verbatim
  // in the oracle). Scan-stage HOFs, zero shuffles.
  private def q165(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"),
      concat_ws("\n",
        lit("- intro bullet"),
        expr("replace(text, ' the ', '\n')"),
        lit("shared footer"),
        lit("shared footer"),
        lit("read more...")).as("mtext"))
    base.select(col("doc_id"), TextAnalysis.lineStats(col("mtext")).as("r"))
      .select(col("doc_id"), col("r.n_lines").as("n_lines"),
        col("r.dup_line_frac").as("dup_line_frac"),
        col("r.dup_line_char_frac").as("dup_line_char_frac"),
        col("r.bullet_start_frac").as("bullet_start_frac"),
        col("r.ellipsis_end_frac").as("ellipsis_end_frac"))
      .orderBy(col("doc_id").asc_nulls_first)
  }
  private val q165Sql = """
    WITH base AS (
      SELECT doc_id,
             '- intro bullet' || chr(10) ||
             replace(text, ' the ', chr(10)) || chr(10) ||
             'shared footer' || chr(10) || 'shared footer' || chr(10) ||
             'read more...' AS mtext
      FROM documents),
    l AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(mtext, chr(10)),
                                        x -> trim(x)),
                         x -> len(x) > 0) AS lines
      FROM base),
    c AS (
      SELECT doc_id, lines,
             list_transform(lines,
               x -> len(list_filter(lines, y -> y = x))) AS cnts
      FROM l)
    SELECT doc_id,
           CAST(len(lines) AS INT) AS n_lines,
           CASE WHEN len(lines) > 0
                THEN ROUND(CAST(len(list_filter(cnts, x -> x > 1)) AS DOUBLE)
                           / len(lines), 9) ELSE 0.0 END AS dup_line_frac,
           CASE WHEN list_sum(list_transform(lines, x -> len(x))) > 0
                THEN ROUND(CAST(list_sum(list_transform(lines,
                             x -> CASE WHEN len(list_filter(lines, y -> y = x)) > 1
                                       THEN len(x) ELSE 0 END)) AS DOUBLE)
                           / list_sum(list_transform(lines, x -> len(x))), 9)
                ELSE 0.0 END AS dup_line_char_frac,
           CASE WHEN len(lines) > 0
                THEN ROUND(CAST(len(list_filter(lines,
                             x -> starts_with(x, '-') OR starts_with(x, '*')
                               OR starts_with(x, '•') OR starts_with(x, '·'))) AS DOUBLE)
                           / len(lines), 9) ELSE 0.0 END AS bullet_start_frac,
           CASE WHEN len(lines) > 0
                THEN ROUND(CAST(len(list_filter(lines,
                             x -> ends_with(x, '...') OR ends_with(x, '…'))) AS DOUBLE)
                           / len(lines), 9) ELSE 0.0 END AS ellipsis_end_frac
    FROM c ORDER BY doc_id ASC NULLS FIRST"""

  // q166 — C4 line filtering (keep lines with ≥3 words ending in terminal
  // punctuation, drop javascript-boilerplate lines; page-level lorem-
  // ipsum/brace verdict). Fixture plants one line per rule: a too-short
  // line, a clean keeper, a javascript warning, the corpus word-soup
  // (mostly no terminal punct → dropped), a data-derived keeper, and
  // per-doc-id brace / Lorem-Ipsum page poisons for the keep_doc verdict.
  private def q166(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"),
      concat_ws("\n",
        lit("Too short"),
        lit("This is a good sentence."),
        lit("Please enable JavaScript to continue."),
        expr("replace(text, ' the ', '\n')"),
        concat(lit("Data line "), col("source"), lit(" ends here.")),
        when(col("doc_id") % 7 === 0, lit("brace { line here."))
          .otherwise(lit("plain closing line.")),
        when(col("doc_id") % 11 === 0, lit("Lorem IPSUM dolor sit amet."))
          .otherwise(lit("normal final line."))).as("mtext"))
    base.select(col("doc_id"), TextAnalysis.c4LineFilter(col("mtext"), 3).as("c"))
      .select(col("doc_id"), col("c.clean_text").as("clean_text"),
        col("c.kept_lines").as("kept_lines"),
        col("c.dropped_lines").as("dropped_lines"),
        col("c.keep_doc").as("keep_doc"))
      .orderBy(col("doc_id").asc_nulls_first)
  }
  // q221 — WITHIN-document duplicate-line removal (the intra-page dedup
  // step: nav menus, repeated footers, duplicated paragraphs inside ONE
  // page; the cross-corpus twin is q90's boilerplate node). Fixture
  // plants a verbatim duplicate ('Footer'), an indented duplicate
  // ('  Nav menu' — trimmed-form match, so the SECOND copy drops while
  // the first stays verbatim), and the corpus word-soup split on ' the '
  // whose natural repeats both engines must agree on. Config-reachable
  // through the registered line_dedup function.
  private def q221(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(s, dir)
    graft.compile.Compiler.compileJson(s, """
      {"source": {"sql": "SELECT doc_id, concat_ws(chr(10), 'Nav menu', replace(text, ' the ', chr(10)), '  Nav menu', 'Footer', 'Footer') AS mtext FROM documents"},
       "derive": {"ld": "line_dedup(mtext)"},
       "with_columns": {"clean_text": "ld.clean_text",
                        "kept_lines": "ld.kept_lines",
                        "dropped_lines": "ld.dropped_lines"},
       "drop": ["mtext", "ld"],
       "order_by": ["doc_id asc"]}""")
  }
  private val q221Sql = """
    WITH base AS (
      SELECT doc_id,
             'Nav menu' || chr(10) || replace(text, ' the ', chr(10)) ||
             chr(10) || '  Nav menu' || chr(10) || 'Footer' || chr(10) ||
             'Footer' AS mtext
      FROM documents),
    l AS (
      SELECT doc_id,
             string_split(mtext, chr(10)) AS raw,
             list_transform(string_split(mtext, chr(10)), x -> trim(x)) AS keys
      FROM base),
    k AS (
      SELECT doc_id,
             list_filter(raw, (x, i) -> list_position(keys[1:i-1], keys[i]) = 0) AS kept,
             len(raw) AS n_raw
      FROM l)
    SELECT doc_id,
           array_to_string(kept, chr(10)) AS clean_text,
           CAST(len(kept) AS INT) AS kept_lines,
           CAST(n_raw - len(kept) AS INT) AS dropped_lines
    FROM k ORDER BY doc_id ASC NULLS FIRST"""

  // q223 — generic quantile-threshold selection (the dsirThresholdForN
  // machinery on an arbitrary score): keep ~120 best of 500 by a
  // deliberately TIED score (doc_id % 10 — runs of 50), so the target
  // rank (120) falls 20 deep inside the value-7 run and the GK cut is
  // provably that value regardless of the sketch's ±1-rank convention;
  // the kept set is then every row >= the rank-120 value — 150 rows,
  // the documented ties-all-keep behavior, restated independently by
  // the oracle's ORDER BY/OFFSET rank probe.
  private def q223(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(s, dir)
    graft.compile.Compiler.compileJson(s, """
      {"source": {"table": "documents"},
       "derive": {"score": "cast(doc_id % 10 as double)"},
       "keep_columns": ["doc_id", "score"],
       "quantile_filter": {"col": "score", "keep_n": 120,
                           "relative_error": 0},
       "order_by": ["doc_id asc"]}""")
  }
  private val q223Sql = """
    WITH s AS (
      SELECT doc_id, CAST(doc_id % 10 AS DOUBLE) AS score FROM documents),
    c AS (SELECT score AS cut FROM s ORDER BY score DESC LIMIT 1 OFFSET 119)
    SELECT doc_id, score FROM s, c WHERE score >= cut
    ORDER BY doc_id ASC NULLS FIRST"""

  // q260 — PER-GROUP quantile selection from pure config ("keep the
  // best 25% per language"), the grouped sibling of q223's global
  // quantile_filter: a percent_rank window over each group, totalized
  // by doc_id so ties rank deterministically, then a plain filter.
  // pr = (rank−1)/(n−1) is integer arithmetic both engines compute
  // bit-identically, so the boundary compare is exact — no sketch, no
  // approx-percentile cross-engine drift. One keys-shaped window
  // Exchange; batch-only by nature (the window). Use quantile_filter
  // for the GLOBAL cut at corpus scale (one sketch pass, no sort).
  private def q260(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(s, dir)
    graft.compile.Compiler.compileJson(s, """
      {"source": {"table": "documents"},
       "derive": {
         "score": "CAST(length(text) AS DOUBLE)",
         "pr": "percent_rank() OVER (PARTITION BY lang ORDER BY score DESC, doc_id ASC)"},
       "filters": ["pr <= 0.25"],
       "keep_columns": ["doc_id", "lang", "score"],
       "order_by": ["doc_id asc"]}""")
  }
  private val q260Sql = """
    WITH s AS (
      SELECT doc_id, lang, CAST(length(text) AS DOUBLE) AS score
      FROM documents),
    r AS (
      SELECT doc_id, lang, score,
             percent_rank() OVER (PARTITION BY lang
                                  ORDER BY score DESC, doc_id ASC) AS pr
      FROM s)
    SELECT doc_id, lang, score FROM r WHERE pr <= 0.25
    ORDER BY doc_id ASC NULLS FIRST"""

  private val q166Sql = """
    WITH base AS (
      SELECT doc_id,
             'Too short' || chr(10) ||
             'This is a good sentence.' || chr(10) ||
             'Please enable JavaScript to continue.' || chr(10) ||
             replace(text, ' the ', chr(10)) || chr(10) ||
             'Data line ' || source || ' ends here.' || chr(10) ||
             (CASE WHEN doc_id % 7 = 0 THEN 'brace { line here.'
                   ELSE 'plain closing line.' END) || chr(10) ||
             (CASE WHEN doc_id % 11 = 0 THEN 'Lorem IPSUM dolor sit amet.'
                   ELSE 'normal final line.' END) AS mtext
      FROM documents),
    k AS (
      SELECT doc_id, mtext,
             list_filter(string_split(mtext, chr(10)),
               x -> len(list_filter(string_split_regex(trim(x), '\s+'),
                                    w -> len(w) > 0)) >= 3
                AND right(trim(x), 1) IN ('.', '!', '?', '"', '''')
                AND NOT contains(lower(trim(x)), 'javascript')) AS kept,
             len(string_split(mtext, chr(10))) AS n_raw
      FROM base)
    SELECT doc_id,
           array_to_string(kept, chr(10)) AS clean_text,
           CAST(len(kept) AS INT) AS kept_lines,
           CAST(n_raw - len(kept) AS INT) AS dropped_lines,
           (NOT contains(lower(mtext), 'lorem ipsum')
            AND NOT contains(mtext, '{')) AS keep_doc
    FROM k ORDER BY doc_id ASC NULLS FIRST"""

  // q170 — deterministic global shuffle: the training-output permutation
  // (seed 42, 8 shards). Every (shard, position) is plain BIGINT
  // arithmetic + a rank both engines compute identically — the oracle
  // recomputes the whole assignment, not just membership.
  private def q170(s: SparkSession, dir: String): DataFrame =
    Corpus.globalShuffle(
        docs(s, dir).select("doc_id"), "doc_id", shards = 8, seed = 42L)
      .select("doc_id", "shard", "shuffle_pos")
      .orderBy(col("shard").asc_nulls_first, col("shuffle_pos").asc_nulls_first)
  private val q170Sql = """
    WITH h AS (
      SELECT doc_id,
             ((doc_id % 1000000007 + 1000000007) % 1000000007
              * 2654435761 + 42) % 1000000007 AS hv
      FROM documents)
    SELECT doc_id, CAST(hv % 8 AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY hv % 8
                                   ORDER BY hv, doc_id) AS BIGINT) AS shuffle_pos
    FROM h
    ORDER BY shard ASC NULLS FIRST, shuffle_pos ASC NULLS FIRST"""

  // q171 — the shuffle from PURE JSON (config twin of q170).
  private def q171(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(s, dir)
    graft.compile.Compiler.compileJson(s, """
      {"source": {"table": "documents"},
       "keep_columns": ["doc_id"],
       "global_shuffle": {"id_col": "doc_id", "shards": 8, "seed": 42},
       "order_by": ["shard asc", "shuffle_pos asc"]}""")
  }

  // q172 — Gopher word-tier quality rules (composite verdict): every
  // metric and the keep verdict recomputed exactly by the oracle. Docs
  // with id % 5 = 0 get 30 planted '#' tokens — symbol ratio and alpha
  // fraction rules demonstrably bite; the rest exercise word-count and
  // stop-word bounds on the natural corpus.
  private def q172(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 5 === 0, concat(col("text"), expr("repeat(' #', 30)")))
        .otherwise(col("text")).as("mtext"))
    base.select(col("doc_id"), TextAnalysis.gopherQuality(col("mtext")).as("g"))
      .select(col("doc_id"), col("g.n_words").as("n_words"),
        col("g.mean_word_len").as("mean_word_len"),
        col("g.symbol_word_ratio").as("symbol_word_ratio"),
        col("g.alpha_word_frac").as("alpha_word_frac"),
        col("g.stop_hits").as("stop_hits"), col("g.keep").as("keep"))
      .orderBy(col("doc_id").asc_nulls_first)
  }
  private val q172Sql = """
    WITH base AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || repeat(' #', 30)
                  ELSE text END AS mtext
      FROM documents),
    t AS (
      SELECT doc_id, mtext,
             list_filter(string_split_regex(trim(mtext), '\s+'),
                         x -> len(x) > 0) AS tk
      FROM base),
    m AS (
      SELECT doc_id,
             CAST(len(tk) AS INT) AS n_words,
             ROUND(CAST(list_sum(list_transform(tk, x -> len(x))) AS DOUBLE)
                   / len(tk), 9) AS mean_word_len,
             ROUND(((len(mtext) - len(replace(mtext, '#', '')))
                    + (len(mtext) - len(replace(mtext, '...', ''))) / 3
                    + (len(mtext) - len(replace(mtext, '…', ''))))
                   / len(tk), 9) AS symbol_word_ratio,
             ROUND(CAST(len(list_filter(tk,
                     x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                   / len(tk), 9) AS alpha_word_frac,
             (CAST(list_contains(list_transform(tk, x -> lower(x)), 'the') AS INT)
              + CAST(list_contains(list_transform(tk, x -> lower(x)), 'be') AS INT)
              + CAST(list_contains(list_transform(tk, x -> lower(x)), 'to') AS INT)
              + CAST(list_contains(list_transform(tk, x -> lower(x)), 'of') AS INT)
              + CAST(list_contains(list_transform(tk, x -> lower(x)), 'and') AS INT)
              + CAST(list_contains(list_transform(tk, x -> lower(x)), 'that') AS INT)
              + CAST(list_contains(list_transform(tk, x -> lower(x)), 'have') AS INT)
              + CAST(list_contains(list_transform(tk, x -> lower(x)), 'with') AS INT))
               AS stop_hits
      FROM t)
    SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
           alpha_word_frac, stop_hits,
           (n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND symbol_word_ratio <= 0.1 AND alpha_word_frac >= 0.8
            AND stop_hits >= 2) AS keep
    FROM m ORDER BY doc_id ASC NULLS FIRST"""

  // q173 — the ROUND-12 CURATION FLAGSHIP: ONE pure-JSON node runs the
  // whole new stack in pipeline order — C4 line filtering (derive) →
  // Gopher quality gating (filters on the struct fields) → semantic
  // dedup on pattern vectors (doc_id % 128 — collisions exist at every
  // SF ≥ 0.01, so the stage demonstrably bites) → deterministic global
  // shuffle → per-shard report. The oracle recomposes the q166 c4
  // mirror, the q172 gopher mirror, min-id-per-pattern, and the q170
  // hash arithmetic; max_pos is mirrored as COUNT(*), which holds iff
  // the shuffle's per-shard rank is total — the rank-totality gate.
  // The page poisons (% 7 brace, % 11 lorem) are what the filter drops;
  // the stop-hit / word-count / alpha gates are satisfied by
  // construction (a planted closing stop-word line) so survivorship is
  // deterministic and non-empty at every SF — each individual rule's
  // bite is q166/q172's job.
  private def q173(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(s, dir)
    // two cached defs: `scored` materializes the heavy line/quality HOF
    // structs ONCE (field references on a cached relation are free —
    // filtering before the cache would re-inline the c4/gopher trees per
    // referenced field), and `clean` holds the filtered survivors that
    // semantic_dedup's centroid collect + both band-join sides re-read
    graft.compile.Compiler.compileJson(s, """
      {"id": "flag12",
       "defs": [
         {"id": "scored", "cache": true,
          "source": {"table": "documents"},
          "derive": {
            "mtext": "concat('Start line here.', char(10), replace(text, ' a ', concat('.', char(10))), char(10), if(doc_id % 7 = 0, 'brace { here.', 'plain mid line.'), char(10), if(doc_id % 11 = 0, 'Lorem ipsum bad.', 'fine line here.'), char(10), 'the of and end line.')",
            "c": "c4_line_filter(mtext, 3)",
            "g": "gopher_quality(c.clean_text)",
            "pat": "doc_id % 128",
            "emb": "transform(sequence(0, 31), d -> CAST(CASE WHEN d = CAST(pat % 16 AS INT) OR d = 16 + CAST(pat DIV 16 AS INT) THEN 1.0 ELSE 0.0 END AS DOUBLE))"},
          "keep_columns": ["doc_id", "c", "g", "emb"]},
         {"id": "clean", "cache": true,
          "source": {"ref": "scored"},
          "filters": ["c.keep_doc", "g.stop_hits >= 3", "g.n_words >= 5",
                      "g.alpha_word_frac >= 0.9"],
          "keep_columns": ["doc_id", "emb"]}],
       "source": {"ref": "clean"},
       "semantic_dedup": {"id_col": "doc_id", "vec_col": "emb",
                          "threshold": 0.9, "dim": 32, "nlist": 4},
       "global_shuffle": {"id_col": "doc_id", "shards": 4, "seed": 7},
       "aggregate": {"group_by": ["shard"], "aggregations": [
         {"col": "*", "func": "count", "new_name": "n_docs"},
         {"col": "shuffle_pos", "func": "max", "new_name": "max_pos"}]},
       "order_by": ["shard asc"]}""")
  }
  private val q173Sql = """
    WITH base AS (
      SELECT doc_id,
             'Start line here.' || chr(10) ||
             replace(text, ' a ', '.' || chr(10)) || chr(10) ||
             (CASE WHEN doc_id % 7 = 0 THEN 'brace { here.'
                   ELSE 'plain mid line.' END) || chr(10) ||
             (CASE WHEN doc_id % 11 = 0 THEN 'Lorem ipsum bad.'
                   ELSE 'fine line here.' END) || chr(10) ||
             'the of and end line.' AS mtext
      FROM documents),
    c4 AS (
      SELECT doc_id, mtext,
             array_to_string(list_filter(string_split(mtext, chr(10)),
               x -> len(list_filter(string_split_regex(trim(x), '\s+'),
                                    w -> len(w) > 0)) >= 3
                AND right(trim(x), 1) IN ('.', '!', '?', '"', '''')
                AND NOT contains(lower(trim(x)), 'javascript')),
               chr(10)) AS clean_text,
             (NOT contains(lower(mtext), 'lorem ipsum')
              AND NOT contains(mtext, '{')) AS keep_doc
      FROM base),
    g AS (
      SELECT doc_id, keep_doc,
             list_filter(string_split_regex(trim(clean_text), '\s+'),
                         x -> len(x) > 0) AS tk
      FROM c4),
    surv AS (
      SELECT doc_id FROM g
      WHERE keep_doc
        AND (CAST(list_contains(list_transform(tk, x -> lower(x)), 'the') AS INT)
             + CAST(list_contains(list_transform(tk, x -> lower(x)), 'be') AS INT)
             + CAST(list_contains(list_transform(tk, x -> lower(x)), 'to') AS INT)
             + CAST(list_contains(list_transform(tk, x -> lower(x)), 'of') AS INT)
             + CAST(list_contains(list_transform(tk, x -> lower(x)), 'and') AS INT)
             + CAST(list_contains(list_transform(tk, x -> lower(x)), 'that') AS INT)
             + CAST(list_contains(list_transform(tk, x -> lower(x)), 'have') AS INT)
             + CAST(list_contains(list_transform(tk, x -> lower(x)), 'with') AS INT)) >= 3
        AND len(tk) >= 5
        AND ROUND(CAST(len(list_filter(tk,
                x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(tk), 9) >= 0.9),
    kept AS (
      SELECT doc_id FROM (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY doc_id % 128) AS m
        FROM surv)
      WHERE doc_id = m),
    sh AS (
      SELECT doc_id,
             ((doc_id % 1000000007 + 1000000007) % 1000000007
              * 2654435761 + 7) % 1000000007 % 4 AS shard
      FROM kept)
    SELECT CAST(shard AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS max_pos
    FROM sh GROUP BY 1 ORDER BY shard ASC NULLS FIRST"""

  // q180 — trainable multiclass language-ID, exact-recovery gate: each
  // doc carries a per-language marker token, so one-vs-rest training
  // (NB-init + bounded GD per class — deterministic) must recover the
  // label for EVERY row; the oracle simply states pred_label = lang.
  // Any regression in the binary trainer, the OVR wrapper, the scoring
  // kernel, or the argmax tie rule hash-fails.
  private def q180(s: SparkSession, dir: String): DataFrame = {
    // marker planted 5× — its term frequency multiplies the margin
    // term, which is what lets ONE GD epoch dominate the word-soup
    // noise weights on held-out rows. (3× left a one-row gap on one
    // sf0.001 data draw — a held-out 'de' doc scored 'en' by a hair;
    // 5× is exact on every SF of the draw that exposed it, with the
    // r22 variant sweep in the round notes.)
    val marker = concat(lit(" zzmarker"), col("lang"))
    val base = docs(s, dir)
      .withColumn("mtext", concat(col("text"),
        marker, marker, marker, marker, marker))
    // train on the id % 5 = 0 slice (5 classes × per-class aggregate
    // passes is the cost driver — the slice keeps it bounded while the
    // marker keeps every class represented), predict EVERY row: the
    // train→generalize shape, and held-out rows still gate exactly (the
    // trainer persists its own featurized input)
    val models = Corpus.trainMulticlassClassifier(
      base.filter(col("doc_id") % 5 === 0),
      "doc_id", "mtext", "lang", dim = 512, epochs = 1)
    Corpus.predictMulticlass(base, "mtext", models)
      .select("doc_id", "pred_label")
      .orderBy(col("doc_id").asc_nulls_first)
  }
  private val q180Sql = """
    SELECT doc_id, lang AS pred_label
    FROM documents ORDER BY doc_id ASC NULLS FIRST"""

  // q181 — the multiclass classifier from PURE JSON (config twin of
  // q180's trainer): train AND predict on the id % 5 slice — in-sample
  // exactness gates the codec/compiler wiring; held-out generalization
  // is q180's job.
  private def q181(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(s, dir)
    graft.compile.Compiler.compileJson(s, """
      {"source": {"table": "documents"},
       "filters": ["doc_id % 5 = 0"],
       "derive": {"mk": "concat(' zzmarker', lang)",
                  "mtext": "concat(text, mk, mk, mk)"},
       "keep_columns": ["doc_id", "mtext", "lang"],
       "multiclass_classifier": {"id_col": "doc_id", "text_col": "mtext",
                                 "label_col": "lang", "dim": 512,
                                 "epochs": 1},
       "drop": ["mtext", "lang"],
       "order_by": ["doc_id asc"]}""")
  }
  private val q181Sql = """
    SELECT doc_id, lang AS pred_label
    FROM documents WHERE doc_id % 5 = 0
    ORDER BY doc_id ASC NULLS FIRST"""

  // q182 — predict with a PERSISTED multiclass artifact from pure JSON
  // (the streaming-admissible inference half): train on the id % 5
  // slice via the API, save through the real artifact round trip, then
  // ONE config predicts every row. Oracle: pred_label = lang — gates
  // save/load fidelity, the codec, and the scan-stage argmax together.
  private def q182(s: SparkSession, dir: String): DataFrame = {
    // marker ×5 — the q180 exact-recovery margin (see q180's comment)
    val marker = concat(lit(" zzmarker"), col("lang"))
    val base = docs(s, dir)
      .withColumn("mtext", concat(col("text"),
        marker, marker, marker, marker, marker))
    val models = Corpus.trainMulticlassClassifier(
      base.filter(col("doc_id") % 5 === 0),
      "doc_id", "mtext", "lang", dim = 512, epochs = 1)
    val mdir = java.nio.file.Files.createTempDirectory("graft-q182").toString
    Corpus.saveMulticlassClassifier(s, models, s"$mdir/model")
    graft.Tables.registerViews(s, dir)
    graft.compile.Compiler.compileJson(s, s"""
      {"source": {"table": "documents"},
       "derive": {"mk": "concat(' zzmarker', lang)",
                  "mtext": "concat(text, mk, mk, mk, mk, mk)"},
       "keep_columns": ["doc_id", "mtext"],
       "predict_model": {"text_col": "mtext", "model_dir": "$mdir/model"},
       "drop": ["mtext"],
       "order_by": ["doc_id asc"]}""")
  }

  override def queries: Seq[Q] = Seq(
    Q("q72_doc_chunking", q72, Some(q72Sql)),
    Q("q215_config_segment_chunk", q215, Some(q215Sql)),
    Q("q73_sequence_packing", q73, Some(q73Sql)),
    Q("q74_decontamination", q74, Some(q74Sql)),
    Q("q75_repetition_stats", q75, Some(q75Sql)),
    Q("q76_salted_join", q76, Some(q76Sql)),
    Q("q243_config_salted_join", q243, Some(q243Sql)),
    Q("q77_running_totals", q77, Some(q77Sql)),
    Q("q96_config_running_totals", q96, Some(q77Sql)),
    Q("q80_stratified_sample", q80, Some(q80Sql)),
    Q("q227_upsample", q227, Some(q227Sql)),
    Q("q81_pii_scrub", q81, Some(q81Sql)),
    Q("q90_boilerplate_lines", q90, Some(q90Sql)),
    Q("q109_hash_split", q109, Some(q109Sql)),
    Q("q110_config_split", q110, Some(q110Sql)),
    Q("q114_string_id_split", q114, Some(q114Sql)),
    Q("q136_split_balance_gate", q136, Some(q136Sql)),
    Q("q142_temperature_sample", q142, Some(q142Sql)),
    Q("q143_config_temperature_sample", q143, Some(q142Sql)),
    Q("q154_classifier_inference", q154, Some(q154Sql)),
    Q("q155_classifier_training_gate", q155, Some(q155Sql)),
    Q("q163_score_model_artifact", q163, Some(q163Sql)),
    Q("q165_line_stats", q165, Some(q165Sql)),
    Q("q166_c4_line_filter", q166, Some(q166Sql)),
    Q("q221_line_dedup", q221, Some(q221Sql)),
    Q("q223_quantile_filter", q223, Some(q223Sql)),
    Q("q260_group_quantile_select", q260, Some(q260Sql)),
    Q("q170_global_shuffle", q170, Some(q170Sql)),
    Q("q171_config_global_shuffle", q171, Some(q170Sql)),
    Q("q172_gopher_quality", q172, Some(q172Sql)),
    Q("q173_curation_flagship", q173, Some(q173Sql)),
    Q("q180_multiclass_langid", q180, Some(q180Sql)),
    Q("q181_config_multiclass", q181, Some(q181Sql)),
    Q("q182_predict_model_artifact", q182, Some(q180Sql)),
    Q("q184_dsir_weights", q184, Some(q184Sql)),
    Q("q185_config_dsir_select", q185, Some(q185Sql)),
    Q("q192_rank_dsir_flagship", q192, Some(q192Sql)),
    Q("q201_dsir_select_threshold", q201, Some(q201Sql)),
    Q("q204_token_budget_sample", q204, Some(q204Sql)),
    Q("q205_config_token_budget", q205, Some(q205Sql)),
    Q("q210_quality_budget_sample", q210, Some(q210Sql))
  )

  // q192 — the round-13 FLAGSHIP: ONE pure-JSON config chains the
  // link-graph authority prior into target-distribution selection and
  // the training-output layout — host graph → PageRank (def) → rank
  // joined onto every doc (def child join) → authority filter (only
  // hub hosts survive) → DSIR Gumbel-top-60 against the English
  // exemplar slice (def) → deterministic 4-shard global shuffle →
  // per-shard report. EXACT end-to-end oracle: the PageRank CTEs
  // (q186), the full DSIR model over the RANK-FILTERED raw set, the
  // Gumbel noise, the shuffle assignment, and the final aggregate are
  // all restated; every stage bites at sf0.01 (500 docs → 4 hub hosts
  // keep ~167 → select 60 → 4 shards).
  private def q192(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(s, dir)
    graft.compile.Compiler.compileJson(s, s"""
      {"defs": [
         {"id": "edges", "source": {"table": "documents"},
          "derive": {"src": "concat('h', doc_id % 12)",
                     "dst": "concat('h', (doc_id div 5) % 12)"},
          "filters": ["src != dst"],
          "keep_columns": ["src", "dst"]},
         {"id": "hostrank", "source": {"ref": "edges"},
          "page_rank": {"src_col": "src", "dst_col": "dst", "iters": 3},
          "rename": {"node": "host"}},
         {"id": "ranked", "source": {"table": "documents"},
          "derive": {"host": "concat('h', doc_id % 12)"},
          "children": [{"id": "hr", "source": {"ref": "hostrank"},
                        "join": {"on": ["host"], "how": "inner"}}]},
         {"id": "tgt", "source": {"table": "documents"},
          "filters": ["lang = 'en'", "doc_id % 2 = 0"],
          "keep_columns": ["doc_id", "text"]}],
       "source": {"ref": "ranked"},
       "filters": ["rank > 0.09"],
       "keep_columns": ["doc_id", "text"],
       "dsir": {"target_ref": "tgt", "text_col": "text", "id_col": "doc_id",
                "buckets": $dsirB, "mode": "select", "n": 60, "seed": 11},
       "global_shuffle": {"id_col": "doc_id", "shards": 4, "seed": 5},
       "aggregate": {"group_by": ["shard"],
         "aggregations": [
           {"col": "*", "func": "count", "new_name": "n_docs"},
           {"col": "n_feats", "func": "sum", "new_name": "total_feats"},
           {"col": "shuffle_pos", "func": "max", "new_name": "max_pos"}]},
       "order_by": ["shard asc"]}""")
  }
  private val q192Sql = s"""
    WITH ${TextQueries.prCtes},
    rawdocs AS (
      SELECT d.doc_id, d.text
      FROM documents d
      JOIN r3 ON r3.node = 'h' || CAST(d.doc_id % 12 AS VARCHAR)
      WHERE r3.r > 0.09),
    tgtdocs AS (SELECT text FROM documents WHERE lang = 'en' AND doc_id % 2 = 0),
    ${dsirCtes(dsirB)},
    sel AS (
      SELECT doc_id, n_feats,
             ROUND(dsir_logw + -ln(-ln(
               (CAST((((doc_id + 11) % 1000000007 + 1000000007) % 1000000007
                      * 2654435761) % 1000000007 AS DOUBLE) + 1.0)
               / 1000000008.0)), 6) AS k
      FROM w),
    picked AS (
      SELECT doc_id, n_feats FROM sel ORDER BY k DESC, doc_id ASC LIMIT 60),
    sh AS (
      SELECT doc_id, n_feats,
             ((doc_id % 1000000007 + 1000000007) % 1000000007
              * 2654435761 + 5) % 1000000007 AS hv
      FROM picked),
    pos AS (
      SELECT CAST(hv % 4 AS INT) AS shard, n_feats,
             ROW_NUMBER() OVER (PARTITION BY hv % 4
                                ORDER BY hv, doc_id) AS pos
      FROM sh)
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_feats) AS BIGINT) AS total_feats,
           CAST(MAX(pos) AS BIGINT) AS max_pos
    FROM pos GROUP BY shard ORDER BY shard ASC NULLS FIRST"""

  // q184 — DSIR importance weights (Xie et al. 2023), exactly mirrored:
  // target = the even-id English slice, raw = the whole corpus, hashed
  // unigram+bigram features over 64 buckets. The oracle recomputes the
  // ENTIRE model — both bucket-count tables, the smoothed log-ratio
  // vector (9 dp), and every document's in-order margin fold (6 dp) —
  // so a regression anywhere in fit OR scoring fails the hash gate.
  private final val dsirB = 64
  /** DSIR CTE chain parameterized over caller-supplied `rawdocs(doc_id,
    * text)` and `tgtdocs(text)` CTEs (shared by q184/q185 and the
    * flagship q192): token Horner hashes → unigram+bigram buckets (the
    * NgramBucketOps order), both corpora's bucket counts, totals, the
    * 9-dp log-ratio list, and the scored frame `w(doc_id, n_feats,
    * dsir_logw)`. */
  private[queries] def dsirCtes(b: Int): String = {
    def bucketsOf(tcol: String) = s"""
             list_transform($tcol, h -> CAST(h % $b AS INT))
             || list_transform(range(1, len($tcol)),
                  i -> CAST((($tcol[i] * 31 + $tcol[i + 1]) % 1000000007) % $b AS INT))"""
    def hashesOf(src: String, cols: String) = s"""
      SELECT $cols
             list_transform(
               list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0),
               tok ->
               list_reduce(
                 list_prepend(CAST(7 AS BIGINT),
                   list_transform(range(1, len(tok) + 1),
                     i -> CAST(ascii(tok[i]) AS BIGINT))),
                 (a, c) -> (a * 131 + c) % 1000000007)) AS th
      FROM $src"""
    s"""rhs AS (${hashesOf("rawdocs", "doc_id,")}),
    ths AS (${hashesOf("tgtdocs", "")}),
    feats AS (SELECT doc_id, ${bucketsOf("th")} AS bs FROM rhs),
    tfeats AS (SELECT ${bucketsOf("th")} AS bs FROM ths),
    tc AS (
      SELECT b, COUNT(*) AS c FROM (
        SELECT unnest(bs) AS b FROM tfeats) GROUP BY b),
    rc AS (
      SELECT b, COUNT(*) AS c FROM (
        SELECT unnest(bs) AS b FROM feats) GROUP BY b),
    tot AS (
      SELECT (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM tc) AS tt,
             (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM rc) AS tr),
    lrl AS (
      SELECT list(ROUND(ln((COALESCE(tc.c, 0) + 1.0) / (tot.tt + $b.0))
                  - ln((COALESCE(rc.c, 0) + 1.0) / (tot.tr + $b.0)), 9)
                  ORDER BY g.b) AS l
      FROM range($b) AS g(b)
      CROSS JOIN tot
      LEFT JOIN tc ON tc.b = g.b
      LEFT JOIN rc ON rc.b = g.b),
    w AS (
      SELECT f.doc_id, CAST(len(f.bs) AS INT) AS n_feats,
             ROUND(list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                 list_transform(f.bs, bb -> lrl.l[bb + 1])),
               (a, x) -> a + x), 6) AS dsir_logw
      FROM feats f CROSS JOIN lrl)"""
  }
  /** q184/q185's corpora: raw = the whole documents table, target = the
    * even-id English slice. */
  private val dsirCte = s"""
    WITH rawdocs AS (SELECT doc_id, text FROM documents),
    tgtdocs AS (SELECT text FROM documents WHERE lang = 'en' AND doc_id % 2 = 0),
    ${dsirCtes(dsirB)}"""
  private def q184(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Corpus.dsirWeights(
        d.select("doc_id", "text"),
        d.filter(col("lang") === "en" && col("doc_id") % 2 === 0).select("text"),
        "text", buckets = dsirB)
      .select("doc_id", "n_feats", "dsir_logw")
      .orderBy(col("doc_id").asc_nulls_first)
  }
  private val q184Sql = s"""$dsirCte
    SELECT doc_id, n_feats, dsir_logw
    FROM w ORDER BY doc_id ASC NULLS FIRST"""

  // q185 — DSIR Gumbel-top-k RESAMPLING from PURE JSON (defs name the
  // exemplar corpus; the dsir key fits against it and keeps the top-40
  // by logw + Gumbel(0,1) with deterministic portable-hash noise). The
  // oracle replays the q184 model AND the noise arithmetic, so both the
  // selection set and every carried weight are hash-gated.
  private def q185(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(s, dir)
    graft.compile.Compiler.compileJson(s, s"""
      {"defs": [{"id": "tgt", "source": {"table": "documents"},
                 "filters": ["lang = 'en'", "doc_id % 2 = 0"],
                 "keep_columns": ["doc_id", "text"]}],
       "source": {"table": "documents"},
       "keep_columns": ["doc_id", "text"],
       "dsir": {"target_ref": "tgt", "text_col": "text", "id_col": "doc_id",
                "buckets": $dsirB, "mode": "select", "n": 40, "seed": 7},
       "drop": ["text"],
       "order_by": ["doc_id asc"]}""")
  }
  private val q185Sql = s"""$dsirCte,
    sel AS (
      SELECT doc_id, n_feats, dsir_logw,
             ROUND(dsir_logw + -ln(-ln(
               (CAST((((doc_id + 7) % 1000000007 + 1000000007) % 1000000007
                      * 2654435761) % 1000000007 AS DOUBLE) + 1.0)
               / 1000000008.0)), 6) AS k
      FROM w)
    SELECT doc_id, n_feats, dsir_logw
    FROM (SELECT * FROM sel ORDER BY k DESC, doc_id ASC LIMIT 40)
    ORDER BY doc_id ASC NULLS FIRST"""

  // q201 — DSIR THRESHOLD selection from PURE JSON: the scan-stage
  // scale path of q185 (no ranking anywhere — one pushed-down predicate
  // on the same logw + Gumbel key, rounded 6 dp on both engines). The
  // oracle replays q185's model + noise arithmetic and applies the same
  // `k >= t` cut, so the kept set AND every carried weight are exact;
  // the explicit threshold keeps a proper nonzero subset at sf0.01
  // (CorpusSpec gates the quantile-derived n ↔ threshold equivalence).
  private val dsirThr = "1.25"
  private def q201(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(s, dir)
    graft.compile.Compiler.compileJson(s, s"""
      {"defs": [{"id": "tgt", "source": {"table": "documents"},
                 "filters": ["lang = 'en'", "doc_id % 2 = 0"],
                 "keep_columns": ["doc_id", "text"]}],
       "source": {"table": "documents"},
       "keep_columns": ["doc_id", "text"],
       "dsir": {"target_ref": "tgt", "text_col": "text", "id_col": "doc_id",
                "buckets": $dsirB, "mode": "select_threshold",
                "threshold": $dsirThr, "seed": 7},
       "drop": ["text"],
       "order_by": ["doc_id asc"]}""")
  }
  private val q201Sql = s"""$dsirCte,
    sel AS (
      SELECT doc_id, n_feats, dsir_logw,
             ROUND(dsir_logw + -ln(-ln(
               (CAST((((doc_id + 7) % 1000000007 + 1000000007) % 1000000007
                      * 2654435761) % 1000000007 AS DOUBLE) + 1.0)
               / 1000000008.0)), 6) AS k
      FROM w)
    SELECT doc_id, n_feats, dsir_logw
    FROM sel WHERE k >= $dsirThr
    ORDER BY doc_id ASC NULLS FIRST"""
}
