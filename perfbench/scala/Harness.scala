package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.compile.Compiler
import graft.spec.JsonCodec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. Reads one job file written by `run.py`, runs
  * the workload's pipelines in a closed loop (one client: each pipeline
  * starts after the previous one ends) and writes raw per-pipeline records
  * to a result file. `run.py` turns the records into metrics and checks
  * every pipeline's output against DuckDB.
  *
  * Everything is called through the engine's public entry points:
  * `JsonCodec.parse`, `Compiler.validatePipeline` / `Compiler.compile`,
  * `SparkEntry.queries`, `Tables.registerViews`,
  * `functions.Registry.registerAll` and the kernel `Ops` objects.
  *
  *   java ... perfbench.Harness <job.json> <result.json>
  */
object Harness {
  private val mapper = new ObjectMapper()

  final case class Pipeline(id: String, kind: String, name: String, config: String)

  /** One pipeline run. Times are nanoTime offsets from harness start. */
  final class Rec(val p: Pipeline, val pass: Int) {
    var start = 0L; var end = 0L
    var parseNs = 0L; var validateNs = 0L; var buildNs = 0L; var execNs = 0L
    var ok = false; var error = ""
    var warnings = 0; var rows = 0L
    var cpuNs = 0L // JVM process CPU while the pipeline ran
    var trace: Tracer.PipelineTrace = null
  }

  def main(args: Array[String]): Unit = {
    val job = mapper.readTree(Files.readString(Paths.get(args(0))))
    val resultPath = Paths.get(args(1))
    val sfDir = job.get("sf_dir").asText
    val cpus = job.get("cpus").asInt
    val traced = job.path("trace").asBoolean
    val outDir = Paths.get(job.get("out_dir").asText)
    val workDir = Paths.get(job.get("work_dir").asText).toAbsolutePath
    val res = new java.util.LinkedHashMap[String, Any]()
    def finish(): Unit =
      Files.writeString(resultPath, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(res))
    val passes: Seq[Seq[Pipeline]] = job.get("passes").elements().asScala.map { p =>
      p.elements().asScala.map { e =>
        Pipeline(e.get("id").asText, e.get("kind").asText,
          Option(e.get("name")).map(_.asText).getOrElse(""),
          Option(e.get("config")).map(_.asText).getOrElse(""))
      }.toSeq
    }.toSeq

    // ---- setup: JVM start → session ready, views and functions registered
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    val (spark, setupRec) = setup(sfDir, cpus, workDir)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    res.put("setup_s", setupS)
    res.put("setup_layers", setupRec.asJava)

    if (job.path("validate_only").asBoolean) {
      // generator self-check: every config must pass validatePipeline
      val errors = passes.flatten.flatMap { p =>
        val errs = try Compiler.validatePipeline(spark, JsonCodec.parse(p.config))
          catch { case e: Throwable => Seq(e.toString) }
        errs.map(e => Map("id" -> p.id, "error" -> e).asJava)
      }
      res.put("validate_errors", errors.asJava)
      finish(); spark.stop(); return
    }

    val tracer = if (traced) Some(new Tracer(spark, t0Ms)) else None

    // ---- closed loop over every pass (run.py decides which are measured)
    val recs = for ((pass, i) <- passes.zipWithIndex; p <- pass)
      yield runPipeline(spark, p, i, sfDir, outDir, t0, tracer)
    val peakRssKb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

    val kernels =
      if (traced && job.path("kernels").asBoolean) Kernels.run(spark, sfDir)
      else Seq.empty
    tracer.foreach(_.writeSpans(Paths.get(job.get("trace_file").asText), recs.toSeq))
    // the battery queries' DuckDB SQL, for the correctness check
    val oracle = graft.SparkEntry.oracleSql
    val names = passes.flatten.filter(_.kind == "query").map(_.name).distinct
    res.put("oracle_sql", names.flatMap(n => oracle.get(n).map(n -> _)).toMap.asJava)
    res.put("peak_rss_mb", peakRssKb / 1024.0)
    res.put("pipelines", recs.map(recJson).asJava)
    res.put("kernels", kernels.map { case (k, v) => Map("name" -> k, "ns_per_op" -> v).asJava }.asJava)
    finish()
    spark.stop()
  }

  /** Session, functions and views, each timed; returns the layer split. */
  private def setup(sfDir: String, cpus: Int,
      workDir: Path): (SparkSession, Map[String, Double]) = {
    val a = System.nanoTime()
    val spark = graft.LocalConf(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val b = System.nanoTime()
    graft.functions.Registry.registerAll(spark)
    val c = System.nanoTime()
    graft.Tables.registerViews(spark, sfDir)
    val d = System.nanoTime()
    (spark, Map("session_ms" -> (b - a) / 1e6, "functions_ms" -> (c - b) / 1e6,
      "views_ms" -> (d - c) / 1e6))
  }

  private val processCpu = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def runPipeline(spark: SparkSession, p: Pipeline, pass: Int,
      sfDir: String, outDir: Path, t0: Long, tracer: Option[Tracer]): Rec = {
    val r = new Rec(p, pass)
    spark.sparkContext.setJobGroup(p.id, s"perfbench ${p.id}", interruptOnCancel = false)
    tracer.foreach(_.begin(r))
    val cpu0 = processCpu.getProcessCpuTime
    r.start = System.nanoTime() - t0
    def lap(): Long = System.nanoTime() - t0
    try {
      p.kind match {
        case "config" =>
          val a = lap()
          val spec = JsonCodec.parse(p.config)
          val b = lap()
          val errors = Compiler.validatePipeline(spark, spec)
          val c = lap()
          if (errors.nonEmpty) throw new IllegalStateException(errors.mkString("; "))
          val df = Compiler.compile(spark, spec)
          val d = lap()
          val rows = df.collect()
          val e = lap()
          r.parseNs = b - a; r.validateNs = c - b; r.buildNs = d - c; r.execNs = e - d
          r.warnings = Compiler.drainCompileWarnings().size
          r.rows = rows.length
          r.end = e
          r.cpuNs = processCpu.getProcessCpuTime - cpu0
          r.ok = true
          tracer.foreach(_.end(r))
          writeRows(outDir.resolve(p.id + ".json"), df, rows)
        case "query" =>
          val a = lap()
          val df = graft.SparkEntry.queries(p.name)(spark, sfDir)
          val b = lap()
          if (pass == 0)
            df.write.mode("overwrite").parquet(outDir.resolve(p.name).toString)
          else df.write.format("noop").mode("overwrite").save()
          val c = lap()
          r.buildNs = b - a; r.execNs = c - b
          r.end = c
          r.cpuNs = processCpu.getProcessCpuTime - cpu0
          r.ok = true
          tracer.foreach(_.end(r))
      }
    } catch {
      case e: Throwable =>
        r.end = System.nanoTime() - t0
        r.error = (e.getClass.getSimpleName + ": " + e.getMessage).take(500)
        tracer.foreach(_.end(r))
    }
    // untimed, as graft.Bench does: a predecessor's cached stages stay out
    // of the next pipeline
    Compiler.drainCompileWarnings()
    Compiler.releaseAllCaches()
    spark.catalog.clearCache()
    spark.sparkContext.clearJobGroup()
    r
  }

  /** Collected rows as JSON: {columns, rows}. Generated configs output
    * only strings, integers and doubles; doubles print with every digit
    * Java keeps, so the reader recovers the exact value. */
  private def writeRows(path: Path, df: DataFrame, rows: Array[Row]): Unit = {
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("columns", df.schema.fieldNames.toSeq.asJava)
    out.put("rows", rows.map(r => (0 until r.length).map(r.get).asJava).toSeq.asJava)
    Files.writeString(path, mapper.writeValueAsString(out))
  }

  private def recJson(r: Rec): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("id", r.p.id); m.put("kind", r.p.kind); m.put("name", r.p.name)
    m.put("pass", r.pass); m.put("ok", r.ok); m.put("error", r.error)
    m.put("wall_s", (r.end - r.start) / 1e9)
    m.put("parse_ms", r.parseNs / 1e6); m.put("validate_ms", r.validateNs / 1e6)
    m.put("build_ms", r.buildNs / 1e6); m.put("exec_ms", r.execNs / 1e6)
    m.put("warnings", r.warnings); m.put("rows", r.rows)
    m.put("cpu_s", r.cpuNs / 1e9)
    if (r.trace != null) m.put("trace", r.trace.toJava)
    m
  }
}
