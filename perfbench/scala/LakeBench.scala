package graft.perfbench

import java.io.{File, FileNotFoundException, InputStream}
import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions.col
import graft.{PlanAudit, SparkEntry}
import graft.gdl._
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Maps `s3://staging/<key>` to `<root>/staging/<key>`: the generated
  * inputs are the only thing the program reads. */
class StagingReader(root: String) extends UrlReader {
  private val Prefix = "s3://staging/"
  private def path(url: String): Path =
    if (url.startsWith(Prefix)) Paths.get(root, "staging", url.stripPrefix(Prefix))
    else throw new FileNotFoundException(url)
  override def open(url: String): InputStream = Files.newInputStream(path(url))
  override def exists(url: String): Boolean = Files.exists(path(url))
}

/** One pass's record: wall time and one JSON object per operation. */
final case class Pass(traced: Boolean, wallS: Double, ops: Seq[ObjectNode])

/** The benchmark's JVM side: sets up, runs the workload's fixed operation
  * sequence in passes for the given number of seconds, and writes every
  * operation's time and output to a results file that `run.py` checks.
  *
  * Usage: LakeBench <config.json> (written by run.py). */
object LakeBench {
  private val mapper = new ObjectMapper()
  val Base = Instant.parse("2026-01-01T00:00:00Z")

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new File(args(0)))
    val workload = cfg.get("workload").asText
    val seed = cfg.get("seed").asLong
    val seconds = cfg.get("seconds").asDouble
    val trace = cfg.get("trace").asBoolean
    val cpus = cfg.get("cpus").asInt
    val work = cfg.get("work").asText
    val out = mapper.createObjectNode()

    def session(): SparkSession = {
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark
    }

    val bench: Workload = workload match {
      case "import-churn" => new ImportWorkload(cfg, mapper)
      case "query-mix" => new QueryWorkload(cfg, mapper)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: JVM start to the first timed operation — session start,
    // store open and warm-up
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session()
    bench.warmUp(spark)
    out.put("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1e3)

    // passes until the time is spent (at least one); a traced run spends
    // half of it untraced, then half traced
    val passes = mutable.ArrayBuffer.empty[Pass]
    def runFor(budget: Double, traced: Boolean): Unit = {
      val t0 = System.nanoTime()
      var first = true
      while (first || (System.nanoTime() - t0) / 1e9 < budget) {
        first = false
        passes += bench.pass(spark, passes.size, traced)
        bench.between(spark)
      }
    }
    if (!trace) runFor(seconds, traced = false)
    else {
      runFor(seconds / 2, traced = false)
      Tracer.start(spark)
      Log.withSink((c, lvl, _) =>
        Tracer.logEvents += ((System.nanoTime(), c, lvl)))(
        runFor(seconds / 2, traced = true))
      Tracer.stop()
    }

    val passArr = out.putArray("passes")
    passes.foreach { p =>
      val o = passArr.addObject()
      o.put("traced", p.traced)
      o.put("wall_s", p.wallS)
      val ops = o.putArray("ops")
      p.ops.foreach(ops.add)
    }
    out.put("peak_rss_mb", peakRssMb())
    bench.finish(spark, out)

    if (trace) {
      val traced = passes.filter(_.traced)
      val jobs = Tracer.listener.jobs.values.asScala.toSeq.sortBy(_.id)
      val layers = LayerMetrics.compute(Tracer.spans.toSeq, jobs, cpus,
        traced.map(_.wallS).sum, traced.size,
        traced.map(_.ops.count(_.get("op").asText == "import")).sum,
        bench.layerExtras(traced.size))
      val lo = out.putObject("layers")
      layers.toSeq.sortBy(_._1).foreach { case (k, v) => lo.put(k, v) }
      LayerMetrics.writeSpans(cfg.get("spans").asText, Tracer.spans.toSeq, jobs)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(cfg.get("out").asText), out)
    spark.stop()
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Bytes of all files under `dir`. */
  def du(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** `report` as JSON with the keys the generator's expectations use. */
  def reportJson(mapper: ObjectMapper, r: Report): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("stepFunction", r.stepFunction)
    def section(name: String, s: StatusSection): Unit = {
      val so = o.putObject(name)
      so.put("status", s.status)
      val errs = so.putArray("errors")
      s.errors.foreach { e =>
        val eo = errs.addObject()
        eo.put("check", e.check)
        eo.put("result", e.result)
        eo.put("url", e.url)
        e.details.get("message").foreach(eo.put("message", _))
      }
    }
    section("validation", r.validation)
    section("metadataUpload", r.metadataUpload)
    section("assetUpload", r.assetUpload)
    o
  }
}

/** A workload: its warm-up, one pass of its fixed operation sequence, and
  * which operations its end-to-end metrics are taken over. */
trait Workload {
  def warmUp(spark: SparkSession): Unit
  def pass(spark: SparkSession, index: Int, traced: Boolean): Pass
  def between(spark: SparkSession): Unit = ()
  def layerExtras(tracedPasses: Int): Map[String, Double]
  def finish(spark: SparkSession, out: ObjectNode): Unit
}

/** import-churn: the generated sequence of dataset creates and gets,
  * imports and status reads, on a fresh store per pass so every pass
  * replays the same store growth. */
class ImportWorkload(cfg: JsonNode, mapper: ObjectMapper) extends Workload {
  import LakeBench._
  private val input = cfg.get("input").asText
  private val work = cfg.get("work").asText
  private val seed = cfg.get("seed").asLong
  private val manifest = mapper.readTree(new File(s"$input/manifest.json"))
  private val staging = new StagingReader(input)
  private val extras = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var lastTables = ""

  private def steps(key: String) = manifest.get(key).elements().asScala.toSeq
  private val sequence = steps("sequence")

  /** The generated warm-up sequence, untimed, on a throwaway store: until
    * the JVM has compiled these code paths, the first pass runs ~25%
    * slower. */
  def warmUp(spark: SparkSession): Unit = {
    run(spark, s"$work/warmup", traced = false, steps("warmup_sequence"))
    ()
  }

  def pass(spark: SparkSession, index: Int, traced: Boolean): Pass =
    run(spark, s"$work/pass-$index", traced, sequence)

  private def run(spark: SparkSession, root: String, traced: Boolean,
                  steps: Seq[JsonNode]): Pass = {
    val store = if (traced) new TracedStore(spark, s"$root/tables")
                else new TableStore(spark, s"$root/tables")
    val reader = if (traced) new TracedReader(staging) else staging
    val pipeline = new ImportPipeline(spark, store, reader, s"$root/storage",
      new Random(seed))
    val status = new ImportStatus(spark, store)
    val datasets = mutable.Map.empty[String, DatasetRow]
    val executions = mutable.Map.empty[String, String]
    var clock = Base
    val ops = mutable.ArrayBuffer.empty[ObjectNode]
    val t0 = System.nanoTime()
    steps.foreach { step =>
      clock = clock.plusSeconds(1)
      val o = mapper.createObjectNode()
      val op = step.get("op").asText
      o.put("op", op)
      def fail(msg: String): Unit = { o.put("ok", false); o.put("error", msg); () }
      op match {
        case "create" =>
          val key = step.get("dataset").asText
          o.put("dataset", key)
          val (r, s) = time(Tracer.span(Layers.Catalog, "create")(
            pipeline.datasets.create(key, clock)))
          o.put("s", s)
          r.fold(fail, { row => datasets(key) = row; o.put("ok", true); () })
        case "get" =>
          val key = step.get("dataset").asText
          o.put("dataset", key)
          val id = datasets.get(key).map(_.id).getOrElse("")
          val (r, s) = time(Tracer.span(Layers.Catalog, "get")(pipeline.datasets.get(id)))
          o.put("s", s)
          r.fold(fail, row =>
            if (datasets.get(key).contains(row)) { o.put("ok", true); () }
            else fail(s"get returned $row, created ${datasets.get(key)}"))
        case "import" =>
          val key = step.get("version").asText
          val v = manifest.get("versions").get(key)
          o.put("version", key)
          val ds = datasets.get(v.get("dataset").asText)
          val (r, s) = time(Tracer.span(Layers.Pipeline, "run")(
            pipeline.run(ds.map(_.id).getOrElse(""), v.get("url").asText, clock)))
          o.put("s", s)
          r.fold(fail, { exec =>
            executions(key) = exec
            o.put("ok", true)
            o.put("execution", exec)
            ds.foreach(d => o.put("storage",
              s"$root/storage/${d.title}-${d.id}/${exec.stripPrefix("execution-")}"))
            ()
          })
        case "status" =>
          val key = step.get("version").asText
          o.put("version", key)
          val exec = executions.getOrElse(key, "")
          val (r, s) = time(Tracer.span(Layers.Status, "get")(status.get(exec)))
          o.put("s", s)
          r.fold(fail, { rep =>
            o.put("ok", true)
            o.set[ObjectNode]("report", reportJson(mapper, rep))
            ()
          })
          if (traced) store match {
            case ts: TracedStore =>
              val (kept, listed) = Tracer.span(Layers.Probe, "scanFileCounts")(
                ts.scanFileCounts("import_executions", col("execution_id") === exec))
              extras("store.files_kept") += kept
              extras("store.files_listed") += listed
            case _ =>
          }
      }
      ops += o
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (traced) extras("store.bytes_written") += du(s"$root/tables").toDouble
    lastTables = s"$root/tables"
    Pass(traced, wall, ops.toSeq)
  }

  def layerExtras(tracedPasses: Int): Map[String, Double] =
    (Seq("store.files_kept", "store.files_listed", "store.bytes_written")
      .map(k => k -> extras(k) / tracedPasses) ++
      Seq("query.leaked_rdds", "plan.broadcast_joins", "plan.shuffle_joins",
        "plan.cartesian", "plan.codegen").map(_ -> 0.0)).toMap

  def finish(spark: SparkSession, out: ObjectNode): Unit =
    out.put("store_mb", du(lastTables) / 1048576.0)
}

/** query-mix: the fixed query list over the committed tables, in a seeded
  * order per pass. The first pass's results are dumped for the DuckDB
  * check, outside every timed region. */
class QueryWorkload(cfg: JsonNode, mapper: ObjectMapper) extends Workload {
  import LakeBench._
  private val data = cfg.get("data").asText
  private val seed = cfg.get("seed").asLong
  private val resultsDir = cfg.get("results").asText
  private val names = cfg.get("queries").elements().asScala.map(_.asText).toSeq
  private val lookups = cfg.get("lookups").elements().asScala.map(_.asText).toSet
  private val extras = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Every query once, untimed: the first pass in a JVM runs ~25%
    * slower. */
  def warmUp(spark: SparkSession): Unit = {
    run(spark, -1, traced = false, names.distinct)
    between(spark)
  }

  def pass(spark: SparkSession, index: Int, traced: Boolean): Pass =
    run(spark, index, traced, names)

  private def run(spark: SparkSession, index: Int, traced: Boolean,
                  mix: Seq[String]): Pass = {
    val sc = spark.sparkContext
    val order = new Random(seed * 1000 + index).shuffle(mix)
    val ops = mutable.ArrayBuffer.empty[ObjectNode]
    val toDump = mutable.ArrayBuffer.empty[(String, StructType, Array[Row])]
    val t0 = System.nanoTime()
    order.foreach { name =>
      val o = mapper.createObjectNode()
      o.put("op", if (lookups(name)) "lookup" else "query")
      o.put("name", name)
      val rddsBefore = sc.getPersistentRDDs.size
      val q0 = System.nanoTime()
      try Tracer.span(Layers.Queries, "query") {
        val df = Tracer.span(Layers.Queries, "build")(
          SparkEntry.queries(name)(spark, data))
        val q1 = System.nanoTime()
        Tracer.span(Layers.Queries, "plan")(df.queryExecution.executedPlan)
        val q2 = System.nanoTime()
        val rows = Tracer.span(Layers.Queries, "exec")(df.collect())
        val q3 = System.nanoTime()
        o.put("s", (q3 - q0) / 1e9)
        o.put("build_s", (q1 - q0) / 1e9)
        o.put("plan_s", (q2 - q1) / 1e9)
        o.put("exec_s", (q3 - q2) / 1e9)
        o.put("rows", rows.length)
        o.put("ok", true)
        if (traced) {
          val r = PlanAudit.audit(df)
          extras("plan.broadcast_joins") += r.broadcastJoins
          extras("plan.shuffle_joins") += r.shuffleJoins
          extras("plan.cartesian") += r.cartesianProducts
          if (r.wholeStageCodegen) extras("plan.codegen") += 1
        }
        if (index == 0 && !toDump.exists(_._1 == name))
          toDump += ((name, df.schema, rows))
      } catch { case e: Throwable =>
        o.put("s", (System.nanoTime() - q0) / 1e9)
        o.put("ok", false)
        o.put("error", s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val leaked = math.max(0, sc.getPersistentRDDs.size - rddsBefore)
      o.put("leaked_rdds", leaked)
      if (traced) extras("query.leaked_rdds") += leaked
      ops += o
    }
    val wall = (System.nanoTime() - t0) / 1e9
    dump(spark, toDump.toSeq)
    Pass(traced, wall, ops.toSeq)
  }

  /** Rows as collected, written with each query's schema, a few at a time
    * after the pass. */
  private def dump(spark: SparkSession, results: Seq[(String, StructType, Array[Row])]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try results.map { case (name, schema, rows) =>
      pool.submit(new Runnable {
        def run(): Unit = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$resultsDir/$name")
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }

  /** Cached blocks a pass left behind would slow the next one. */
  override def between(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def layerExtras(tracedPasses: Int): Map[String, Double] =
    (Seq("query.leaked_rdds", "plan.broadcast_joins", "plan.shuffle_joins",
      "plan.cartesian", "plan.codegen").map(k => k -> extras(k) / tracedPasses) ++
      Seq("store.files_kept", "store.files_listed", "store.bytes_written")
        .map(_ -> 0.0)).toMap

  def finish(spark: SparkSession, out: ObjectNode): Unit = {
    val oracle = out.putObject("oracle_sql")
    names.distinct.foreach(n => SparkEntry.oracleSql.get(n).foreach(oracle.put(n, _)))
  }
}
