package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkEntry
import graft.operators.DedupOps
import graft.pipeline.{FetchConfig, HttpPageFetcher, HttpTransport, JdkHttpTransport, ProcedurePipeline}
import graft.queries.{DiskArtifacts, SharedArtifacts}

/** `crawl`: the reference job. Each operation is one
  * `ProcedurePipeline.run` over a batch work list, fetching through
  * `HttpPageFetcher` + `JdkHttpTransport` from the loopback [[Site]] and
  * appending to three parquet tables. A round is a batch of new codes
  * deduped against the fixed pre-run snapshot (appends and drops both
  * happen), then a re-crawl of the same work list against a snapshot that
  * already holds every child row (zero new modifier/NDC rows; code rows
  * are appended again, as the program does today).
  */
final class CrawlBench(a: Args) extends Bench(a) {
  val BatchSize = 100
  /** Rounds per phase: one round takes 6-9 s on 4 cores. */
  val rounds: Int = math.max(1, a.seconds / 10)
  /** Session quota of the site, in code fetches: forces re-logins. */
  val Quota = 40

  var corpus: Corpus = _
  private var warmCorpus: Corpus = _
  var site: Site = _
  private var nextBatch = 0
  // (phase, batch, recrawl, op id) of every operation, and the output root per phase
  private val batchOps = mutable.ArrayBuffer[(Phase, Int, Boolean, String)]()
  private val outOf = mutable.Map[Phase, Path]()

  def inputBytes: Long = 0L

  def prepare(): Unit = {
    corpus = new Corpus(a.seed, BatchSize)
    warmCorpus = new Corpus(a.seed, BatchSize, stream = 1)
    site = new Site(corpus, threads = math.min(cores, Runtime.getRuntime.availableProcessors), quota = Quota)
    // warm-up: two rounds from another stream of batches into a scratch
    // output; the JIT is still speeding rounds up after the first
    val warm = a.work.resolve("warmup")
    val p = new Phase(false)
    setPhase(p)
    crawlRound(p, warm, warmCorpus, 0)
    crawlRound(p, warm, warmCorpus, 1)
    org.apache.commons.io.FileUtils.deleteQuietly(warm.toFile)
    if (p.failedOps.nonEmpty) System.err.println(s"[perfbench] warm-up round failed")
  }

  override def release(): Unit = site.stop()

  def fetcher(traced: Boolean): HttpPageFetcher = {
    val base = s"http://127.0.0.1:${site.port}"
    val t: HttpTransport = if (traced) new TimedTransport(new JdkHttpTransport()) else new JdkHttpTransport()
    new HttpPageFetcher(FetchConfig(s"$base/login", s"$base/codes/{code}",
      "crawler@example.com", "hunter2", maxRetries = 3, backoffMs = 1L, politenessMs = 0L), t)
  }

  private def tableOr(path: Path, name: String, base: DataFrame): DataFrame =
    if (Files.isDirectory(path)) base.union(spark.read.parquet(path.toString).select(name)) else base

  /** Expected (codes, modifiers, ndc) appended by one run. */
  def expected(corpus: Corpus, batch: Int, recrawl: Boolean): (Long, Long, Long) = {
    val specs = corpus.batchCodes(batch).map(corpus.spec).filter(_.parses)
    if (recrawl) (specs.size.toLong, 0L, 0L)
    else {
      val sm = corpus.snapMods.toSet
      val sn = corpus.snapNdc.toSet
      (specs.size.toLong, specs.map(_.modRows.count(m => !sm(m._1))).sum.toLong,
        specs.map(_.ndcRows.count(n => !sn(n.ndc_alternate_id))).sum.toLong)
    }
  }

  /** One round: a batch of new codes, then its re-crawl. */
  private def crawlRound(p: Phase, out: Path, corpus: Corpus, batch: Int): Seq[Op] = {
    val work = stringsDF(corpus.workList(batch), "code")
    val f = fetcher(p.traced)
    val (codesOut, modsOut, ndcOut) = (out.resolve("codes"), out.resolve("modifiers"), out.resolve("ndc"))
    val snapMods = stringsDF(corpus.snapMods, "modifier")
    val snapNdc = stringsDF(corpus.snapNdc, "ndc_alternate_id")
    Seq(false, true).map { recrawl =>
      val (mods, ndc) =
        if (recrawl) (tableOr(modsOut, "modifier", snapMods), tableOr(ndcOut, "ndc_alternate_id", snapNdc))
        else (snapMods, snapNdc)
      val (o, r) = op(s"batch$batch${if (recrawl) "-recrawl" else ""}") { parts =>
        parts("execute") {
          ProcedurePipeline.run(spark, work, f, mods, ndc,
            codesOut.toString, modsOut.toString, ndcOut.toString)
        }
      }
      batchOps += ((p, batch, recrawl, o.id))
      val want = expected(corpus, batch, recrawl)
      r.foreach { res =>
        if ((res.codes, res.modifiers, res.ndc) != want) {
          p.failedOps += o.id
          System.err.println(s"[perfbench] ${o.name}: appended $res, expected $want")
        }
      }
      o
    }
  }

  private def siteCounters(): Seq[Long] =
    Seq(site.requests, site.delivered, site.served5xx, site.served401, site.serviceNs).map(_.get())
  private val siteDelta = mutable.Map[Phase, Seq[Long]]()

  def runPhase(p: Phase): Unit = {
    val out = a.work.resolve(s"crawl-out-${if (p.traced) "traced" else "untraced"}")
    outOf(p) = out
    val s0 = siteCounters()
    (0 until rounds).foreach { _ =>
      p.addUnit(crawlRound(p, out, corpus, nextBatch))
      nextBatch += 1
    }
    siteDelta(p) = siteCounters().zip(s0).map { case (x, y) => x - y }
  }

  private def batchesOf(p: Phase): Seq[Int] = batchOps.collect { case (`p`, b, false, _) => b }.toSeq

  /** Pages the fetcher was asked for: the distinct codes of every run. */
  private def pagesAttempted(p: Phase): Long = batchOps.count(_._1 eq p).toLong * BatchSize

  /** Field-by-field check of the phase's three tables against the generator. */
  override def check(p: Phase): Unit = {
    val out = outOf(p)
    val batches = batchesOf(p)
    val specs = batches.flatMap(b => corpus.batchCodes(b).map(c => c -> b)).toMap
    val badCodes = mutable.Set[String]()
    val rows = spark.read.parquet(out.resolve("codes").toString)
      .select("code", "code_type", "modifiers", "ndc_alternate_id", "date_deleted",
        "short_description", "revenue_lookup").collect()
    def seq(r: Row, i: Int): Option[Seq[String]] = Option(r.getSeq[String](i)).map(_.toList)
    rows.groupBy(_.getString(0)).foreach { case (code, rs) =>
      specs.get(code) match {
        case None => badCodes += code
        case Some(_) =>
          val s = corpus.spec(code)
          val ok = s.parses && rs.length == 2 && rs.forall { r =>
            r.getString(1) == ProcedurePipeline.codeType(code) &&
            seq(r, 2) == (if (s.deleted || s.mods.isEmpty) None else Some(s.mods.map(_._1).toList)) &&
            seq(r, 3) == (if (s.deleted || s.ndc.isEmpty) None else Some(s.ndc.map(_.ndc_alternate_id).toList)) &&
            (Option(r.getString(4)).isDefined == s.deleted) &&
            (s.deleted || Option(r.getString(5)).contains(s.short)) &&
            seq(r, 6) == (if (s.deleted || s.kind == Kind.RevenueUnavailable) None else Some(s.revenue.toList))
          }
          if (!ok) badCodes += code
      }
    }
    val seen = rows.map(_.getString(0)).toSet
    badCodes ++= specs.keys.filter(c => corpus.spec(c).parses && !seen(c))
    def multiset(path: Path, colName: String): Map[String, Int] =
      if (!Files.isDirectory(path)) Map.empty
      else spark.read.parquet(path.toString).select(colName).collect().map(_.getString(0))
        .groupBy(identity).map { case (k, v) => k -> v.length }
    val sm = corpus.snapMods.toSet
    val sn = corpus.snapNdc.toSet
    val all = batches.flatMap(corpus.batchCodes).map(corpus.spec)
    val wantMods = all.flatMap(_.modRows.map(_._1)).filterNot(sm).groupBy(identity).map { case (k, v) => k -> v.length }
    val wantNdc = all.flatMap(_.ndcRows.map(_.ndc_alternate_id)).filterNot(sn).groupBy(identity).map { case (k, v) => k -> v.length }
    val childTablesOk = multiset(out.resolve("modifiers"), "modifier") == wantMods &&
      multiset(out.resolve("ndc"), "ndc_alternate_id") == wantNdc
    if (!childTablesOk) System.err.println("[perfbench] modifier/NDC tables differ from the generator")
    if (badCodes.nonEmpty) System.err.println(s"[perfbench] ${badCodes.size} codes differ, e.g. ${badCodes.take(3)}")
    val badBatches = badCodes.flatMap(specs.get)
    batchOps.foreach { case (ph, b, recrawl, id) =>
      if ((ph eq p) && (badBatches(b) || (!recrawl && !childTablesOk))) p.failedOps += id
    }
  }

  /** Per-round medians, steadier than the phase total. */
  def endToEnd(p: Phase): Seq[(String, Double, String)] = {
    val wall = Main.median(p.unitWallNs.map(_ / 1e9))
    Seq(("pages_per_s", pagesAttempted(p).toDouble / p.unitWallNs.size / wall, "1/s"),
      ("wall_s", wall, "s")) ++ common(p)
  }

  /** Counters from the site, fetch timings from the delegating transport,
    * and replays of the extract, frontier and dedup layers over the same
    * inputs, each a public call into the program timed from outside.
    */
  def layers(p: Phase): Seq[(String, Double, String)] = {
    val sends = Spans.sends.asScala.toSeq
    val pageSends = sends.filter(_._4 == "GET /codes").map(_._3 / 1e6)
    val Seq(requests, delivered, served5xx, served401, serviceNs) = siteDelta(p)
    val jobs = engine.jobsOf(p.ops.map(_.id).toSet)
    val stages = engine.stageTotals(jobs)
    val writeJobs = stages.filter(_._3.output > 0).map(_._1).toSet
    val sinkMs = jobs.filter(j => writeJobs(j.id)).map(j => j.end - j.start).sum
    val out = outOf(p)
    val files = Seq("codes", "modifiers", "ndc").map(out.resolve).filter(Files.isDirectory(_)).map { d =>
      val s = Files.walk(d)
      try s.iterator.asScala.count(f => f.getFileName.toString.startsWith("part-")) finally s.close()
    }.sum
    // extract: parsePage on one thread over the bodies this phase served
    val specs = batchesOf(p).flatMap(corpus.batchCodes).map(corpus.spec)
    val pages = specs.map(s => s -> corpus.page(s))
    val t0 = System.nanoTime()
    val parsed = pages.map { case (s, html) => s -> ProcedurePipeline.parsePage(s.code, html) }
    val extractMs = (System.nanoTime() - t0) / 1e6
    // frontier and dedup: the batch inputs through the same operators
    var frontierMs, dedupMs = 0.0
    var frontierIn, frontierOut, dedupIn, dedupNew = 0L
    batchesOf(p).foreach { b =>
      val work = corpus.workList(b)
      val t1 = System.nanoTime()
      val n = Digest.of(ProcedurePipeline.frontierSchedule(stringsDF(work, "code"), "https://codes.example/"))
        .takeWhile(_ != ':').toLong
      frontierMs += (System.nanoTime() - t1) / 1e6
      frontierIn += work.size
      frontierOut += n
      val bs = corpus.batchCodes(b).map(corpus.spec)
      val mods = stringsDF(bs.flatMap(_.modRows.map(_._1)), "modifier")
      val ndc = stringsDF(bs.flatMap(_.ndcRows.map(_.ndc_alternate_id)), "ndc_alternate_id")
      val t2 = System.nanoTime()
      val nm = Digest.of(DedupOps.antiJoinNew(mods, stringsDF(corpus.snapMods, "modifier"), "modifier"))
      val nn = Digest.of(DedupOps.antiJoinNew(ndc, stringsDF(corpus.snapNdc, "ndc_alternate_id"), "ndc_alternate_id"))
      dedupMs += (System.nanoTime() - t2) / 1e6
      dedupIn += bs.map(s => s.modRows.size + s.ndcRows.size).sum
      dedupNew += nm.takeWhile(_ != ':').toLong + nn.takeWhile(_ != ':').toLong
    }
    Seq(
      ("fetch.requests", requests.toDouble, "count"),
      ("fetch.retries", served5xx.toDouble, "count"),
      ("fetch.relogins", served401.toDouble, "count"),
      ("fetch.useful_ratio", if (requests > 0) delivered.toDouble / requests else 0.0, "ratio"),
      ("fetch.busy_ms", sends.map(_._3).sum / 1e6, "ms"),
      ("fetch.p50_ms", Main.pct(pageSends, 0.5), "ms"),
      ("fetch.p99_ms", Main.pct(pageSends, 0.99), "ms"),
      ("site.service_ms", serviceNs / 1e6, "ms"),
      ("extract.ms_per_page", extractMs / math.max(1, pages.size), "ms"),
      ("extract.dropped_404", parsed.count { case (s, r) => r.isEmpty && s.kind == Kind.NotFound }.toDouble, "count"),
      ("extract.dropped_deleted", parsed.count { case (s, r) => r.isEmpty && s.kind == Kind.DeletedHcpcs }.toDouble, "count"),
      ("extract.unexpected_none", parsed.count { case (s, r) => r.isEmpty && s.parses }.toDouble, "count"),
      ("frontier.ms", frontierMs, "ms"),
      ("frontier.rows_in", frontierIn.toDouble, "count"),
      ("frontier.rows_out", frontierOut.toDouble, "count"),
      ("dedup.ms", dedupMs, "ms"),
      ("dedup.rows_in", dedupIn.toDouble, "count"),
      ("dedup.rows_new", dedupNew.toDouble, "count"),
      ("sink.write_ms", sinkMs.toDouble, "ms"),
      ("sink.rows", stages.map(_._3.outputRows).sum.toDouble, "count"),
      ("sink.bytes", stages.map(_._3.output).sum.toDouble, "bytes"),
      ("sink.files", files.toDouble, "count"))
  }
}

/** `llm_prep`: one cold batch-curation job per unit of work. The artifact
  * store, the shared-artifact cache and Spark's cache are emptied before
  * each job, as for a fresh job; each query is built and then evaluated in
  * full through [[Digest]], whose result is checked against the digest
  * recorded for the query.
  */
final class LlmPrepBench(a: Args) extends Bench(a) {
  import LlmPrepBench.Queries
  /** Jobs per phase: one job takes about 13 s on 4 cores. */
  val jobs: Int = math.max(1, a.seconds / 12)

  val measured: String = a.data.resolve("sf0.01").toString
  val warmup: String = a.data.resolve("sf0.001").toString
  lazy val want: Map[String, String] = Main.readDigests(a.expected, "sf0.01")
  private var docs = 0L
  private val buildMs = mutable.Map[Phase, Double]().withDefaultValue(0.0)
  private val artEvents = mutable.Map[Phase, Seq[SharedArtifacts.ArtEvent]]()

  def inputBytes: Long = graft.GraftSession.dirBytes(measured)

  private def clearState(): Unit = {
    SharedArtifacts.clear()
    DiskArtifacts.clear()
    spark.catalog.clearCache()
    SharedArtifacts.drainEvents()
  }

  def prepare(): Unit = {
    Queries.foreach { q =>
      try Digest.of(SparkEntry.queries(q)(spark, warmup))
      catch { case e: Exception => System.err.println(s"[perfbench] warm-up $q failed: $e") }
    }
    docs = spark.read.parquet(s"$measured/documents.parquet").count()
    clearState()
  }

  def runPhase(p: Phase): Unit = (0 until jobs).foreach { j =>
    clearState()
    val order = new scala.util.Random(a.seed * 1000003L + j + (if (p.traced) jobs else 0)).shuffle(Queries)
    p.addUnit(order.map { q =>
      val (o, r) = op(q) { parts =>
        val df = parts("build") { SparkEntry.queries(q)(spark, measured) }
        parts("execute") { Digest.of(df) }
      }
      r.foreach { d =>
        if (!want.get(q).contains(d)) {
          p.failedOps += o.id
          System.err.println(s"[perfbench] $q digest $d, expected ${want.getOrElse(q, "none")}")
        }
      }
      buildMs(p) += o.parts.find(_._1 == "build").map(x => (x._3 - x._2).toDouble).getOrElse(0.0)
      o
    })
    artEvents(p) = artEvents.getOrElse(p, Nil) ++ SharedArtifacts.drainEvents()
  }

  /** `pages_per_s` here counts the curated corpus's documents (web pages
    * in a data-prep job) per second of one job.
    */
  def endToEnd(p: Phase): Seq[(String, Double, String)] = {
    val wall = Main.median(p.unitWallNs.map(_ / 1e9))
    Seq(("pages_per_s", docs / wall, "1/s"), ("wall_s", wall, "s")) ++ common(p)
  }

  def layers(p: Phase): Seq[(String, Double, String)] = {
    val ev = artEvents.getOrElse(p, Nil)
    Seq(
      ("queries.build_ms", buildMs(p), "ms"),
      ("artifacts.built", ev.count(_.built).toDouble, "count"),
      ("artifacts.build_ms", ev.filter(_.built).map(_.millis).sum.toDouble, "ms"),
      ("artifacts.served", ev.count(!_.built).toDouble, "count"))
  }
}

object LlmPrepBench {
  /** Chosen to cover the iterative dedup, graph and similarity operators,
    * the streaming operators and shared-artifact builds within a run that
    * fits the benchmark's time budget.
    */
  val Queries = Seq("dd20_jaccard_join", "ann14_knn_graph", "q68_pagerank", "q66_stream_upsert")
}
