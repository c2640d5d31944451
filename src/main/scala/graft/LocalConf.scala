package graft

import org.apache.spark.sql.SparkSession

/** Shared session configuration for the LOCAL entry points (Bench /
  * Verify / Run / dev profilers). One place, so the driver-contract
  * mains and the measurement tools run the same engine posture.
  *
  * All three settings are scale-independent (none encodes the local
  * core count or data size):
  *
  *  - `fs.file.impl` / `fs.AbstractFileSystem.file.impl` →
  *    [[GraftLocalFileSystem]]: without libhadoop, stock local-FS file
  *    creates FORK a `chmod` per file/dir (measured 50-150 ms each —
  *    the single hottest executor frame in profiled ingest queries).
  *    Only ever serves `file://` paths; remote stores are untouched.
  *  - `canChangeCachedPlanOutputPartitioning=true`: lets AQE coalesce
  *    the partitions of PERSISTED plans (operator-internal caches:
  *    bm25 toks/matched, semantic-dedup classes/members, ingest batch
  *    frames). Spark's default `false` preserves a cached plan's
  *    partitioning for cross-query reuse of exchange layout — a
  *    trade this engine never makes (caches are within-operator and
  *    short-lived), while the un-coalesced 32-partition caches made
  *    every tiny artifact write a 32-task, 32-file job. AQE's
  *    advisory sizing governs, so big frames keep their parallelism
  *    at any scale.
  */
object LocalConf {
  def apply(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.hadoop.fs.file.impl",
      classOf[GraftLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[GraftLocalFs].getName)
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      "true")
    // The production extension entry point (functions + the
    // optimizer rules) — local sessions run the same
    // posture a `--conf spark.sql.extensions=graft.GraftExtensions`
    // deployment does. Registry.registerAll stays idempotent with it.
    .config("spark.sql.extensions", classOf[GraftExtensions].getName)
}
