package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: Path, expected: Path, work: Path, traceOut: Path)

/** One timed call into the program. `parts` holds named sub-spans. */
final case class Op(id: String, name: String, start: Long, end: Long, wallNs: Long,
    cpuNs: Long, gcMs: Long, ok: Boolean, parts: Seq[(String, Long, Long)] = Nil)

/** Named sub-spans of one operation, such as its build and execute parts. */
final class Parts {
  val buf = mutable.ArrayBuffer[(String, Long, Long)]()
  def apply[T](name: String)(g: => T): T = {
    val s = System.currentTimeMillis()
    try g finally buf += ((name, s, System.currentTimeMillis()))
  }
}

/** What one timed phase measured. */
final class Phase(val traced: Boolean) {
  val ops = mutable.ArrayBuffer[Op]()
  var start = 0L
  var end = 0L
  var wallNs = 0L
  var liveHighBytes = 0L
  var storagePeakBytes = 0L
  /** Wall and CPU per unit of fixed work (a crawl round, an llm_prep job):
    * the sums over the unit's operations.
    */
  val unitWallNs = mutable.ArrayBuffer[Long]()
  val unitCpuNs = mutable.ArrayBuffer[Long]()
  def addUnit(ops: Seq[Op]): Unit = {
    unitWallNs += ops.map(_.wallNs).sum
    unitCpuNs += ops.map(_.cpuNs).sum
  }
  val failedOps = mutable.Set[String]()
}

/** Shared machinery of the workloads: the session, timed operations with
  * their job-attribution property, boundary sampling, and the per-layer
  * engine metrics read from the listener.
  */
abstract class Bench(val a: Args) {
  val cores = 4
  var spark: SparkSession = _
  var engine: Engine = _
  private var opSeq = 0
  private var phase: Phase = _

  /** Bytes of table input the AQE initial partition count is sized from. */
  def inputBytes: Long
  /** Everything before the first timed operation but the session itself. */
  def prepare(): Unit
  def release(): Unit = ()
  /** One timed phase of fixed work, sized from --seconds. */
  def runPhase(p: Phase): Unit
  def endToEnd(p: Phase): Seq[(String, Double, String)]
  def layers(p: Phase): Seq[(String, Double, String)]
  /** Checks that need the phase's full output; marks failed ops on `p`. */
  def check(p: Phase): Unit = ()

  final def setUp(): Unit = {
    spark = GraftSession.local(cores, inputBytes)
    spark.sparkContext.setLogLevel("ERROR")
    prepare()
  }

  protected def setPhase(p: Phase): Unit = phase = p

  final def tearDown(): Unit = {
    release()
    spark.stop()
  }

  final def measure(traced: Boolean): Phase = {
    val p = new Phase(traced)
    phase = p
    System.gc()
    if (traced) {
      Spans.sends.clear()
      engine = Engine.attach(spark)
    }
    p.start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    runPhase(p)
    p.wallNs = System.nanoTime() - t0
    p.end = System.currentTimeMillis()
    if (traced) Engine.drain(spark.sparkContext)
    check(p)
    p
  }

  def stringsDF(values: Seq[String], name: String): DataFrame = {
    val s = spark
    import s.implicits._
    values.toDF(name)
  }

  def storageBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Run `f` as one operation: its jobs carry the op id, and the live-heap
    * and storage high-waters are sampled, untimed, when it returns.
    */
  final def op[T](name: String)(f: Parts => T): (Op, Try[T]) = {
    opSeq += 1
    val id = s"op$opSeq"
    val parts = new Parts
    val sc = spark.sparkContext
    sc.setLocalProperty(Engine.OpKey, id)
    val c0 = Jvm.cpuNs
    val g0 = Jvm.gcMs
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = Try(f(parts))
    val wall = System.nanoTime() - t0
    val w1 = System.currentTimeMillis()
    val cpu = Jvm.cpuNs - c0
    val gc = Jvm.gcMs - g0
    sc.setLocalProperty(Engine.OpKey, null)
    phase.liveHighBytes = math.max(phase.liveHighBytes, Jvm.liveHeapBytes())
    if (phase.traced) phase.storagePeakBytes = math.max(phase.storagePeakBytes, storageBytes())
    val o = Op(id, name, w0, w1, wall, cpu, gc, r.isSuccess, parts.buf.toSeq)
    phase.ops += o
    if (r.isFailure) {
      phase.failedOps += id
      System.err.println(s"[perfbench] $name failed: ${r.failed.get}")
    }
    (o, r)
  }

  def common(p: Phase): Seq[(String, Double, String)] = Seq(
    ("cpu_s", Main.median(p.unitCpuNs.map(_ / 1e9)), "s"),
    ("live_heap_mb", p.liveHighBytes / 1048576.0, "MB"))

  /** Engine, storage and span self-time metrics of a traced phase. */
  def engineLayers(p: Phase): Seq[(String, Double, String)] = {
    val opIds = p.ops.map(_.id).toSet
    val jobs = engine.jobsOf(opIds)
    val st = engine.stageTotals(jobs).map(_._3)
    val taskMs = st.map(_.taskMs).sum
    val wallMs = p.wallNs / 1e6
    val gap = p.ops.map { o =>
      val ivs = jobs.filter(_.op == o.id).map(j => (j.start, if (j.end < 0) o.end else j.end))
      (o.end - o.start) - Engine.covered(ivs, o.start, o.end)
    }.sum
    val info = spark.sparkContext.getRDDStorageInfo
    Seq(
      ("catalyst.plan_ms", engine.planMsWithin(p.ops.map(o => (o.start, o.end)).toSeq).toDouble, "ms"),
      ("spark.jobs", jobs.size.toDouble, "count"),
      ("spark.stages", st.size.toDouble, "count"),
      ("spark.tasks", st.map(_.tasks).sum.toDouble, "count"),
      ("spark.task_ms", taskMs.toDouble, "ms"),
      ("spark.busy_share", taskMs / (wallMs * cores), "ratio"),
      ("spark.driver_gap_ms", gap.toDouble, "ms"),
      ("spark.shuffle_write_bytes", st.map(_.shuffleWrite).sum.toDouble, "bytes"),
      ("spark.spill_bytes", st.map(_.spill).sum.toDouble, "bytes"),
      ("spark.input_bytes", st.map(_.input).sum.toDouble, "bytes"),
      ("jvm.gc_ms", p.ops.map(_.gcMs).sum.toDouble, "ms"),
      ("storage.peak_mb", p.storagePeakBytes / 1048576.0, "MB"),
      ("storage.retained_rdds", info.length.toDouble, "count"),
      ("storage.retained_mb", info.map(i => i.memSize + i.diskSize).sum / 1048576.0, "MB"))
  }

  /** Write the phase's span tree and return each span kind's self time. */
  def writeSpans(p: Phase): Seq[(String, Double, String)] = {
    val root = Span(Spans.nextId(), 0, "workload", p.start, p.end, Seq("workload" -> a.workload))
    val spans = mutable.ArrayBuffer(root)
    val jobs = engine.jobsOf(p.ops.map(_.id).toSet)
    val stageBy = engine.stageTotals(jobs).groupBy(_._1)
    val sends = Spans.sends.asScala.toSeq
    p.ops.foreach { o =>
      val os = Span(Spans.nextId(), root.id, if (a.workload == "crawl") "batch" else "query",
        o.start, o.end, Seq("op" -> o.id, "label" -> o.name, "ok" -> o.ok))
      spans += os
      val partSpans = o.parts.map { case (n, s, e) => Span(Spans.nextId(), os.id, n, s, e) }
      spans ++= partSpans
      def parentAt(t: Long): Long =
        partSpans.find(ps => t >= ps.start && t <= ps.end).map(_.id).getOrElse(os.id)
      val jobSpans = jobs.filter(_.op == o.id).map { j =>
        val js = Span(Spans.nextId(), parentAt(j.start), "job", j.start, if (j.end < 0) o.end else j.end,
          Seq("job" -> j.id))
        spans += js
        js
      }
      val stageSpans = jobs.filter(_.op == o.id).zip(jobSpans).flatMap { case (j, js) =>
        stageBy.getOrElse(j.id, Nil).filter(_._3.start >= 0).map { case (_, sid, t) =>
          Span(Spans.nextId(), js.id, "stage", t.start, math.max(t.start, t.end),
            Seq("stage" -> sid, "tasks" -> t.tasks, "task_ms" -> t.taskMs,
              "shuffle_write_bytes" -> t.shuffleWrite, "spill_bytes" -> t.spill,
              "input_bytes" -> t.input, "output_bytes" -> t.output, "output_rows" -> t.outputRows))
        }
      }
      spans ++= stageSpans
      sends.filter { case (s, _, _, _, _) => s >= o.start && s <= o.end }.foreach {
        case (s, e, _, path, status) =>
          val parent = (stageSpans ++ jobSpans).find(x => s >= x.start && s <= x.end)
            .map(_.id).getOrElse(parentAt(s))
          spans += Span(Spans.nextId(), parent, "fetch", s, e, Seq("path" -> path, "status" -> status))
      }
    }
    Files.createDirectories(a.traceOut.toAbsolutePath.getParent)
    val w = Files.newBufferedWriter(a.traceOut)
    try spans.foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Main.q(k)}:${Main.jsonValue(v)}" }
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":${Main.q(s.name)},"start":${s.start},"end":${s.end}""" +
        attrs.map("," + _).mkString + "}\n")
    } finally w.close()
    val children = spans.groupBy(_.parent)
    val self = spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.end - s.start) - Engine.covered(
        children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq, s.start, s.end)).sum
    }
    Seq("workload", "batch", "query", "build", "execute", "job", "stage", "fetch").map(n =>
      (s"self.${n}_ms", self.getOrElse(n, 0L).toDouble, "ms"))
  }
}

object Main {
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "pages_per_s" -> "1/s",
    "wall_s" -> "s", "cpu_s" -> "s", "live_heap_mb" -> "MB")

  /** Per-layer metrics of the traced run. A layer the workload does not
    * touch reads 0 (the fetch metrics on llm_prep, the artifact metrics on
    * crawl).
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "fetch.requests" -> "count", "fetch.retries" -> "count", "fetch.relogins" -> "count",
    "fetch.useful_ratio" -> "ratio", "fetch.busy_ms" -> "ms", "fetch.p50_ms" -> "ms",
    "fetch.p99_ms" -> "ms", "site.service_ms" -> "ms",
    "extract.ms_per_page" -> "ms", "extract.dropped_404" -> "count",
    "extract.dropped_deleted" -> "count", "extract.unexpected_none" -> "count",
    "frontier.ms" -> "ms", "frontier.rows_in" -> "count", "frontier.rows_out" -> "count",
    "dedup.ms" -> "ms", "dedup.rows_in" -> "count", "dedup.rows_new" -> "count",
    "sink.write_ms" -> "ms", "sink.rows" -> "count", "sink.bytes" -> "bytes", "sink.files" -> "count",
    "queries.build_ms" -> "ms", "artifacts.built" -> "count", "artifacts.build_ms" -> "ms",
    "artifacts.served" -> "count",
    "catalyst.plan_ms" -> "ms", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_ms" -> "ms", "spark.busy_share" -> "ratio",
    "spark.driver_gap_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.input_bytes" -> "bytes", "jvm.gc_ms" -> "ms",
    "storage.peak_mb" -> "MB", "storage.retained_rdds" -> "count", "storage.retained_mb" -> "MB",
    "self.workload_ms" -> "ms", "self.batch_ms" -> "ms", "self.query_ms" -> "ms",
    "self.build_ms" -> "ms", "self.execute_ms" -> "ms", "self.job_ms" -> "ms", "self.stage_ms" -> "ms", "self.fetch_ms" -> "ms",
    "trace.overhead_ms" -> "ms", "trace.overhead_share" -> "ratio")

  /** `got` in the order and units of `names`, 0 for a metric not measured. */
  private def complete(names: Seq[(String, String)],
      got: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val byName = got.map(m => m._1 -> m._2).toMap
    require(got.forall(m => names.contains(m._1 -> m._3)), s"unlisted metric in ${got.map(_._1)}")
    names.map { case (n, u) => (n, byName.getOrElse(n, 0.0), u) }
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def q(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def jsonValue(v: Any): String = v match {
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "0" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${q(k.toString)}:${jsonValue(x)}" }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(jsonValue).mkString("[", ",", "]")
    case other => q(String.valueOf(other))
  }

  /** Expected digests per query at one scale, from the recorded JSON. */
  def readDigests(path: Path, scale: String): Map[String, String] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile).get(scale)
    require(node != null, s"no $scale digests in $path")
    node.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      Paths.get(req("data")), Paths.get(req("expected")), Paths.get(req("work")), Paths.get(req("trace-out")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(a.seconds >= 1, "--seconds must be at least 1")
    System.setProperty("sun.net.httpserver.nodelay", "true")
    if (a.workload == "record") return Record.run(a)
    val bench: Bench = a.workload match {
      case "crawl" => new CrawlBench(a)
      case "llm_prep" => new LlmPrepBench(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // set-up runs from JVM start to the first timed operation
    bench.setUp()
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val untraced = bench.measure(traced = false)
    val traced = if (a.trace) Some(bench.measure(traced = true)) else None
    val phases = untraced +: traced.toSeq
    val metrics: Seq[(String, Double, String)] = traced match {
      case None => complete(EndToEnd, ("setup_s", setupS, "s") +: bench.endToEnd(untraced))
      case Some(t) =>
        val overheadMs = (t.wallNs - untraced.wallNs) / 1e6
        complete(PerLayer, bench.layers(t) ++ bench.engineLayers(t) ++ bench.writeSpans(t) ++ Seq(
          ("trace.overhead_ms", overheadMs, "ms"),
          ("trace.overhead_share", overheadMs / (untraced.wallNs / 1e6), "ratio")))
    }
    val sc = bench.spark.sparkContext
    val provenance = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "cores" -> bench.cores, "master" -> sc.master,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.runtime.version")}",
      "spark" -> sc.version,
      "aqe_initial_partitions" -> bench.spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum"),
      "spark_local_dir" -> sc.getConf.getOption("spark.local.dir")
        .orElse(sys.env.get("SPARK_LOCAL_DIRS")).getOrElse(System.getProperty("java.io.tmpdir")),
      "ops_per_phase" -> phases.map(_.ops.size),
      "unit_wall_s" -> phases.map(_.unitWallNs.map(_ / 1e9).toSeq),
      "unit_cpu_s" -> phases.map(_.unitCpuNs.map(_ / 1e9).toSeq),
      "failed_ops" -> phases.flatMap(_.failedOps).sorted,
      "trace_file" -> (if (a.trace) a.traceOut.toString else ""))
    println(jsonValue(Map("provenance" -> provenance)))
    val attempted = phases.map(_.ops.size).sum
    val failed = phases.map(_.failedOps.size).sum
    bench.tearDown()
    val ms = metrics.map { case (n, v, u) => s"${q(n)}:{\"value\":${jsonValue(v)},\"unit\":${q(u)}}" }
    println(s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,"failed":$failed,"metrics":${ms.mkString("{", ",", "}")}}""")
  }
}

/** Records the expected digests: evaluates each llm_prep query at the
  * measured scale in a fresh session, writes its result as parquet with
  * the oracle SQL beside it (the layout `tools/compare_oracle.py` reads),
  * and prints the digest of the evaluated result after checking that the
  * parquet copy digests the same.
  */
object Record {
  def run(a: Args): Unit = {
    val d = a.data.resolve("sf0.01").toString
    val spark = GraftSession.local(4, GraftSession.dirBytes(d))
    spark.sparkContext.setLogLevel("ERROR")
    val out = a.work.resolve("record")
    Files.createDirectories(out)
    val oracle = graft.SparkEntry.oracleSql.filter(e => LlmPrepBench.Queries.contains(e._1))
    Files.writeString(out.resolve("oracle_sql.json"), Main.jsonValue(oracle))
    val digests = LlmPrepBench.Queries.map { q =>
      val df = graft.SparkEntry.queries(q)(spark, d)
      val dig = Digest.of(df)
      df.write.mode("overwrite").parquet(out.resolve(q).toString)
      val back = Digest.of(spark.read.parquet(out.resolve(q).toString).select(df.columns.map(org.apache.spark.sql.functions.col): _*))
      require(back == dig, s"$q: parquet copy digests $back, evaluated result $dig")
      q -> dig
    }
    println(Main.jsonValue(Map("sf0.01" -> digests.toMap)))
    spark.stop()
  }
}
