package graft.perfbench

import java.io.{FilterInputStream, InputStream}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.gdl.{TableStore, UrlReader}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `parent` is the span that was
  * open on the driver thread when this one started (-1 at top level). */
final class Span(val id: Int, var parent: Int, val layer: String,
                 val name: String, val t0: Long) {
  var t1: Long = -1L
  val attrs: mutable.Map[String, Double] = mutable.Map.empty
  def seconds: Double = (t1 - t0) / 1e9
}

/** Per-job Spark counters, filled by [[JobListener]]. */
final class JobRec(val id: Int, val span: Int, val t0Ms: Long,
                   val stageDetails: Seq[String]) {
  @volatile var t1Ms: Long = -1L
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  def seconds: Double = (t1Ms - t0Ms) / 1e3
}

/** Staging reads counted per Spark stage (executor threads) or per span
  * (driver thread): opens, bytes, nanoseconds inside open/read. */
final class ReadStats {
  val opens = new AtomicLong
  val bytes = new AtomicLong
  val nanos = new AtomicLong
}

/** The benchmark's tracer. Spans live in memory on the driver thread and
  * are written out when the run ends; jobs are tied to the span that
  * submitted them through a Spark local property, which executors see
  * as well, so staging reads inside tasks land on the right stage. */
object Tracer {
  val SpanKey = "perfbench.span"

  @volatile var on = false
  private var sc: org.apache.spark.SparkContext = _
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  /** Clock pair that places listener (epoch ms) times on span time. */
  var epochMs0 = 0L
  var nano0 = 0L
  val executorReads = new ConcurrentHashMap[Int, ReadStats]() // by stage
  val driverReads = new ReadStats
  val listener = new JobListener
  /** Log.withSink events: (nanoTime, component, level). */
  val logEvents = mutable.ArrayBuffer.empty[(Long, String, String)]
  /** Driver reads since the last TableStore call, while a pipeline run
    * is open: the crawl between two store calls. */
  private val pendingReads = mutable.ArrayBuffer.empty[Span]
  private var lastStoreExit = -1L

  def start(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(listener)
    epochMs0 = System.currentTimeMillis()
    nano0 = System.nanoTime()
    on = true
  }

  def stop(): Unit = {
    on = false
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  def current: Option[Span] = stack.headOption

  def open(layer: String, name: String): Span = {
    val s = new Span(spans.size, current.map(_.id).getOrElse(-1), layer,
      name, System.nanoTime())
    spans += s
    stack.push(s)
    sc.setLocalProperty(SpanKey, s.id.toString)
    s
  }

  def close(s: Span): Unit = {
    s.t1 = System.nanoTime()
    stack.pop()
    sc.setLocalProperty(SpanKey, current.map(_.id.toString).orNull)
  }

  def span[A](layer: String, name: String)(body: => A): A =
    if (!on) body
    else {
      val s = open(layer, name)
      try body finally close(s)
    }

  /** A TableStore call is starting: if the open pipeline run read
    * documents since its last store call, that stretch was the crawl. */
  def storeCall(): Unit = current.foreach { top =>
    if (top.layer == Layers.Pipeline && pendingReads.nonEmpty) {
      val crawl = new Span(spans.size, top.id, Layers.Crawler, "crawl",
        math.max(lastStoreExit, top.t0))
      crawl.t1 = System.nanoTime()
      crawl.attrs("docs") = pendingReads.size.toDouble
      spans += crawl
      pendingReads.foreach(_.parent = crawl.id)
    }
    pendingReads.clear()
  }

  def storeExit(): Unit = lastStoreExit = System.nanoTime()

  /** A staging open on the driver thread becomes a leaf span that ends
    * when its stream closes. */
  def driverRead(t0: Long): Span = {
    val s = new Span(spans.size, current.map(_.id).getOrElse(-1),
      Layers.Reader, "read", t0)
    spans += s
    if (current.exists(_.layer == Layers.Pipeline)) pendingReads += s
    s
  }

}

/** Layer names: the program's module names. */
object Layers {
  val Pipeline = "gdl.ImportPipeline"
  val Store = "gdl.TableStore"
  val Crawler = "gdl.StacCrawler"
  val Checksum = "gdl.ChecksumValidator"
  val Importer = "gdl.Importer"
  val Reader = "gdl.UrlReader"
  val Status = "gdl.ImportStatus"
  val Catalog = "gdl.DatasetService"
  val Queries = "queries"
  /** The benchmark's own probes: their jobs and time count in no layer. */
  val Probe = "perfbench.probe"
  val all = Seq(Pipeline, Store, Crawler, Checksum, Importer, Reader,
    Status, Catalog, Queries)
}

class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobs.put(e.jobId, new JobRec(e.jobId, span, e.time,
      e.stageInfos.map(_.details)))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.t1Ms = e.time)

  private def job(stage: Int): Option[JobRec] =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    job(e.stageInfo.stageId).foreach(_.stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    job(e.stageId).foreach { j =>
      j.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        j.runMs.addAndGet(m.executorRunTime)
        j.cpuNs.addAndGet(m.executorCpuTime)
        j.gcMs.addAndGet(m.jvmGCTime)
        j.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        j.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        j.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

  def stageToJob(stage: Int): Option[Int] = Option(stageJob.get(stage))
}

/** Counts and times staging reads, split by driver and executor threads. */
class TracedReader(inner: UrlReader) extends UrlReader {
  override def open(url: String): InputStream = {
    val t0 = System.nanoTime()
    val in = inner.open(url)
    if (!Tracer.on) return in
    val tc = TaskContext.get()
    val stats =
      if (tc == null) Tracer.driverReads
      else Tracer.executorReads.computeIfAbsent(tc.stageId(), _ => new ReadStats)
    stats.opens.incrementAndGet()
    stats.nanos.addAndGet(System.nanoTime() - t0)
    val span = if (tc == null) Some(Tracer.driverRead(t0)) else None
    new FilterInputStream(in) {
      private def timed(n: => Int): Int = {
        val s = System.nanoTime()
        val r = n
        stats.nanos.addAndGet(System.nanoTime() - s)
        if (r > 0) stats.bytes.addAndGet(r)
        r
      }
      override def read(): Int = {
        val s = System.nanoTime()
        val r = super.read()
        stats.nanos.addAndGet(System.nanoTime() - s)
        if (r >= 0) stats.bytes.incrementAndGet()
        r
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        timed(super.read(b, off, len))
      override def close(): Unit = {
        super.close()
        span.foreach(_.t1 = System.nanoTime())
      }
    }
  }

  override def exists(url: String): Boolean = inner.exists(url)
}

/** The program's default TableStore, with a span around every public
  * read and write call. Generations live at a read are counted after
  * the call returns, from the files the snapshot names. */
class TracedStore(spark: SparkSession, root: String)
    extends TableStore(spark, root) {

  private def call[A](name: String, table: String)(body: => A): A =
    if (!Tracer.on) body
    else {
      Tracer.storeCall()
      val s = Tracer.open(Layers.Store, s"$name:$table")
      try body
      finally {
        Tracer.close(s)
        Tracer.storeExit()
      }
    }

  private def reading[A](name: String, table: String)(body: => Option[A]): Option[A] = {
    val r = call(name, table)(body)
    if (Tracer.on) Tracer.spans.findLast(_.name == s"$name:$table").foreach { s =>
      s.attrs("live_gens") = Tracer.span(Layers.Probe, "liveGens")(liveGens(table)).toDouble
      Tracer.storeExit()
    }
    r
  }

  def liveGens(table: String): Int =
    snapshotFileList(table).getOrElse(Nil)
      .map(f => f.substring(f.indexOf(s"/$table/") + table.length + 2)
        .takeWhile(_ != '/'))
      .distinct.size

  override def append(table: String, df: DataFrame): Unit =
    call("append", table)(super.append(table, df))
  override def overwrite(table: String, df: DataFrame): Unit =
    call("overwrite", table)(super.overwrite(table, df))
  override def merge(table: String, updates: DataFrame, keyCols: Seq[String]): Unit =
    call("merge", table)(super.merge(table, updates, keyCols))
  override def deleteWhere(table: String, predicate: Column): Unit =
    call("deleteWhere", table)(super.deleteWhere(table, predicate))
  override def foldDeltas(table: String): Boolean =
    call("fold", table) {
      val folded = super.foldDeltas(table)
      if (folded) Tracer.current.foreach(_.attrs("folded") = 1)
      folded
    }
  override def compact(table: String): Unit =
    call("compact", table) {
      super.compact(table)
      Tracer.current.foreach(_.attrs("folded") = 1)
    }
  override def read(table: String): Option[DataFrame] =
    reading("read", table)(super.read(table))
  override def scan(table: String, predicate: Column): Option[DataFrame] =
    reading("scan", table)(super.scan(table, predicate))
  override def readLatestBy(table: String, keyCols: Seq[String],
                            seqCol: String): Option[DataFrame] =
    reading("readLatestBy", table)(super.readLatestBy(table, keyCols, seqCol))
}

/** Per-layer metrics of the traced passes, from spans and jobs. */
object LayerMetrics {
  private def isStoreRead(s: Span) =
    s.layer == Layers.Store && Seq("read:", "scan:", "readLatestBy:")
      .exists(s.name.startsWith)
  private def isCommit(s: Span) =
    s.layer == Layers.Store && Seq("append:", "overwrite:", "merge:",
      "deleteWhere:").exists(s.name.startsWith)

  /** Self time per layer: a span's duration minus the part of it its
    * child spans cover. */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.filter(_.t1 >= 0).groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = children.getOrElse(s.id, Nil).filter(_.t1 >= 0)
          .map(c => (math.max(c.t0, s.t0), math.min(c.t1, s.t1)))
          .filter(iv => iv._2 > iv._1).sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
            if (b <= end) (sum, end)
            else (sum + b - math.max(a, end), b)
          }._1
        (s.t1 - s.t0 - covered) / 1e9
      }.sum
    }
  }

  /** All metrics of `passes` traced passes, as per-pass means; ratios
    * are taken over the totals. `passWall` and `imports` are totals. */
  def compute(spans0: Seq[Span], jobs0: Seq[JobRec], cores: Int,
              passWall0: Double, passes: Int, imports: Int,
              extra: Map[String, Double]): Map[String, Double] = {
    val spans = mutable.ArrayBuffer.from(spans0)
    val byId = spans.map(s => s.id -> s).toMap
    def ancestors(id: Int): Iterator[Span] =
      Iterator.iterate(byId.get(id))(_.flatMap(s => byId.get(s.parent)))
        .takeWhile(_.isDefined).map(_.get)
    def under(j: JobRec, p: Span => Boolean) = ancestors(j.span).exists(p)
    // the benchmark's probes are not the program's work
    val jobs = jobs0.filterNot(j => under(j, _.layer == Layers.Probe))
    val passWall = passWall0 -
      spans.filter(_.layer == Layers.Probe).map(_.seconds).sum

    // executor staging reads, by job
    val execReads = mutable.Map.empty[Int, (Long, Long, Long)]
    Tracer.executorReads.asScala.foreach { case (stage, r) =>
      Tracer.listener.stageToJob(stage).foreach { j =>
        val (o, b, n) = execReads.getOrElse(j, (0L, 0L, 0L))
        execReads(j) = (o + r.opens.get, b + r.bytes.get, n + r.nanos.get)
      }
    }
    // checksum and copy run as the jobs of the commits that write their
    // results; each such job becomes a child span of that commit
    def nanoOf(ms: Long) = Tracer.nano0 + (ms - Tracer.epochMs0) * 1000000L
    def stageJobs(table: String, layer: String): Seq[JobRec] = {
      val js = jobs.filter(j => execReads.contains(j.id) &&
        byId.get(j.span).exists(_.name == s"append:$table"))
      js.foreach { j =>
        val commit = byId(j.span)
        val s = new Span(spans.size, j.span, layer, "job",
          math.max(nanoOf(j.t0Ms), commit.t0))
        s.t1 = math.min(nanoOf(j.t1Ms), commit.t1)
        spans += s
      }
      js
    }
    val checksumJobs = stageJobs("validation_results", Layers.Checksum)
    val copyJobs = stageJobs("import_reports", Layers.Importer)
    def sum(js: Seq[JobRec])(f: JobRec => Double) = js.map(f).sum
    def reads(js: Seq[JobRec], k: Int) =
      js.map(j => execReads.get(j.id).map(r => Seq(r._1, r._2, r._3)(k))
        .getOrElse(0L)).sum.toDouble

    val topStore = spans.filter(s => s.layer == Layers.Store &&
      !byId.get(s.parent).exists(_.layer == Layers.Store))
    val storeReads = topStore.filter(isStoreRead)
    val commits = topStore.filter(isCommit)
    val readJobs = jobs.filter(j => byId.get(j.span).exists(isStoreRead))
    val pipelines = spans.filter(_.layer == Layers.Pipeline)
    val crawls = spans.filter(_.layer == Layers.Crawler)
    val tableJobs = jobs.filter(_.stageDetails.exists(_.contains("graft.Tables$.load")))
    val queryPhase = (n: String) => spans.filter(s => s.layer == Layers.Queries && s.name == n)
    val jobsIn = (p: Span => Boolean) => jobs.filter(j => under(j, p))
    val checksumS = sum(checksumJobs)(_.seconds)
    val spanS = (ss: Iterable[Span]) => ss.map(_.seconds).sum
    val runS = sum(jobs)(_.runMs.get / 1e3)
    val self = selfSeconds(spans.toSeq)

    val m = mutable.LinkedHashMap[String, Double](
      "store.commits" -> commits.size,
      "store.commit_s" -> spanS(commits),
      "store.read_calls" -> storeReads.size,
      "store.read_s" -> spanS(storeReads),
      "store.read_jobs" -> readJobs.size,
      "store.folds" -> spans.count(_.attrs.contains("folded")),
      "pipeline.jobs_per_import" ->
        (if (imports == 0) 0.0 else jobsIn(_.layer == Layers.Pipeline).size.toDouble / imports),
      "pipeline.s" -> spanS(pipelines),
      "crawl.docs" -> crawls.map(_.attrs("docs")).sum,
      "crawl.s" -> spanS(crawls),
      "checksum.bytes" -> reads(checksumJobs, 1),
      "checksum.tasks" -> sum(checksumJobs)(_.tasks.get.toDouble),
      "checksum.s" -> checksumS,
      "checksum.core_occupancy" ->
        (if (checksumS == 0) 0.0 else sum(checksumJobs)(_.runMs.get / 1e3) / (cores * checksumS)),
      "copy.files" -> reads(copyJobs, 0),
      "copy.bytes" -> reads(copyJobs, 1),
      "copy.tasks" -> sum(copyJobs)(_.tasks.get.toDouble),
      "copy.s" -> sum(copyJobs)(_.seconds),
      "staging.opens.driver" -> Tracer.driverReads.opens.get.toDouble,
      "staging.opens.executor" -> reads(jobs, 0),
      "staging.bytes.driver" -> Tracer.driverReads.bytes.get.toDouble,
      "staging.bytes.executor" -> reads(jobs, 1),
      "staging.read_s.driver" -> Tracer.driverReads.nanos.get / 1e9,
      "staging.read_s.executor" -> reads(jobs, 2) / 1e9,
      "status.jobs" -> jobsIn(_.layer == Layers.Status).size,
      "status.read_jobs" -> readJobs.count(j => under(j, _.layer == Layers.Status)),
      "catalog.jobs" -> jobsIn(_.layer == Layers.Catalog).size,
      "query.build_s" -> spanS(queryPhase("build")),
      "query.build_jobs" -> jobsIn(s => s.layer == Layers.Queries && s.name == "build").size,
      "query.plan_s" -> spanS(queryPhase("plan")),
      "query.exec_s" -> spanS(queryPhase("exec")),
      "query.exec_jobs" -> jobsIn(s => s.layer == Layers.Queries && s.name == "exec").size,
      "tables.schema_jobs" -> tableJobs.size,
      "tables.schema_s" -> sum(tableJobs)(_.seconds),
      "spark.jobs" -> jobs.size,
      "spark.stages" -> sum(jobs)(_.stages.get.toDouble),
      "spark.tasks" -> sum(jobs)(_.tasks.get.toDouble),
      "spark.task_cpu_s" -> sum(jobs)(_.cpuNs.get / 1e9),
      "spark.gc_s" -> sum(jobs)(_.gcMs.get / 1e3),
      "spark.input_bytes" -> sum(jobs)(_.inputBytes.get.toDouble),
      "spark.shuffle_write_bytes" -> sum(jobs)(_.shuffleWrite.get.toDouble),
      "spark.spill_bytes" -> sum(jobs)(_.spill.get.toDouble),
      "spark.core_occupancy" -> runS / (cores * passWall))
    val perPass = m.map { case (k, v) =>
      k -> (if (k.endsWith("occupancy") || k.endsWith("_per_import")) v else v / passes)
    }
    perPass.toMap ++
      Map("store.live_gens_max" ->
        storeReads.flatMap(_.attrs.get("live_gens")).maxOption.getOrElse(0.0)) ++
      extra ++
      Layers.all.map(l => s"self_s.$l" -> self.getOrElse(l, 0.0) / passes)
  }

  /** Spans, `Log` events and jobs as JSON lines. */
  def writeSpans(path: String, spans: Seq[Span], jobs: Seq[JobRec]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      spans.foreach { s =>
        val attrs = s.attrs.map { case (k, v) => s"${q(k)}:$v" }.mkString(",")
        w.println(s"""{"span":${s.id},"parent":${s.parent},"layer":${q(s.layer)},"name":${q(s.name)},"t0_ns":${s.t0},"t1_ns":${s.t1},"attrs":{$attrs}}""")
      }
      Tracer.logEvents.foreach { case (t, c, lvl) =>
        w.println(s"""{"log":${q(c)},"level":${q(lvl)},"t_ns":$t}""")
      }
      jobs.foreach { j =>
        w.println(s"""{"job":${j.id},"span":${j.span},"t0_ms":${j.t0Ms},"t1_ms":${j.t1Ms},"stages":${j.stages.get},"tasks":${j.tasks.get},"run_ms":${j.runMs.get},"cpu_ns":${j.cpuNs.get},"input_bytes":${j.inputBytes.get},"shuffle_write_bytes":${j.shuffleWrite.get}}""")
      }
    } finally w.close()
  }
}
