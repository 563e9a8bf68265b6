package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, ExecutorService}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.util.hashing.MurmurHash3

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.schema.NdcEntry

/** Page shapes the site serves, one per extractor branch of the parser. */
sealed trait Kind
object Kind {
  case object CptFull extends Kind
  case object HcpcsFull extends Kind
  case object RevenueUnavailable extends Kind
  case object DeletedCode extends Kind
  case object DeletedHcpcs extends Kind
  case object NotFound extends Kind
}

/** Ground truth for one procedure code: what its page holds and what the
  * parser must make of it.
  */
final case class CodeSpec(code: String, kind: Kind, short: String,
    mods: Seq[(String, String)], ndc: Seq[NdcEntry], revenue: Seq[String]) {
  /** parsePage returns a row for every page but a 404 or a deleted-HCPCS page. */
  def parses: Boolean = kind != Kind.NotFound && kind != Kind.DeletedHcpcs
  def deleted: Boolean = kind == Kind.DeletedCode
  /** Modifier and NDC child rows the parser emits for this page. */
  def modRows: Seq[(String, String)] = if (parses && !deleted) mods else Nil
  def ndcRows: Seq[NdcEntry] = if (parses && !deleted) ndc else Nil
}

/** Seeded synthetic crawl corpus: a CPT/HCPCS code space, a modifier
  * vocabulary and an NDC pool, the dedup snapshot the first crawl of a
  * batch runs against, and ~50 KB pages rendered from the parser's DOM
  * shapes. Every page is a pure function of (seed, code), so the site and
  * the checker agree without sharing state; `stream` selects an independent
  * sequence of batches over the same pages.
  */
final class Corpus(val seed: Long, val batchSize: Int, stream: Int = 0) {
  private def h(parts: Any*): Int = MurmurHash3.orderedHash(seed +: parts)

  val modVocab: IndexedSeq[(String, String)] = {
    val r = new scala.util.Random(seed ^ 0x6d6f64L)
    val chars = "ABCDEFGHJKLMNPQRSTUVWXYZ0123456789"
    val codes = scala.collection.mutable.LinkedHashSet[String]()
    while (codes.size < 48) codes += s"${chars(r.nextInt(chars.length))}${chars(r.nextInt(chars.length))}"
    codes.toIndexedSeq.map(m => m -> s"Modifier $m ${Corpus.words(r.nextInt(Corpus.words.length))} service")
  }

  val ndcPool: IndexedSeq[NdcEntry] = {
    val r = new scala.util.Random(seed ^ 0x6e6463L)
    val ids = scala.collection.mutable.LinkedHashSet[String]()
    while (ids.size < 3000) ids += f"${r.nextInt(100000)}%05d-${r.nextInt(1000)}%03d-${r.nextInt(100)}%02d"
    ids.toIndexedSeq.map { id =>
      NdcEntry(id, s"Drug ${Corpus.words(r.nextInt(Corpus.words.length))}",
        s"Labeler ${r.nextInt(400)} Inc", s"${1 + r.nextInt(500)} mg", Seq("ML", "EA", "GM")(r.nextInt(3)))
    }
  }

  /** Snapshot rows already in the modifier and NDC tables before the run:
    * about half of each vocabulary, so a first crawl both appends and drops.
    */
  val snapMods: Seq[String] = modVocab.map(_._1).filter(m => (h("snapmod", m) & 1) == 0)
  val snapNdc: Seq[String] = ndcPool.map(_.ndc_alternate_id).filter(n => (h("snapndc", n) & 1) == 0)

  def spec(code: String): CodeSpec = {
    val hcpcs = graft.pipeline.ProcedurePipeline.codeType(code) == "HCPCS"
    val roll = Math.floorMod(h("kind", code), 100)
    val kind =
      if (hcpcs) {
        if (roll < 6) Kind.NotFound else if (roll < 16) Kind.DeletedHcpcs else Kind.HcpcsFull
      } else {
        if (roll < 5) Kind.NotFound else if (roll < 13) Kind.DeletedCode
        else if (roll < 25) Kind.RevenueUnavailable else Kind.CptFull
      }
    val r = new scala.util.Random(h("page", code).toLong)
    val short = Seq.fill(3 + r.nextInt(4))(Corpus.words(r.nextInt(Corpus.words.length))).mkString(" ")
    val mods = r.shuffle(modVocab.indices.toList).take(r.nextInt(5)).map(modVocab)
    val ndc = r.shuffle(List.fill(4)(r.nextInt(ndcPool.length)).distinct).take(r.nextInt(4)).map(ndcPool)
    val revenue = Seq.fill(1 + r.nextInt(3))(f"0${300 + r.nextInt(600)}%03d").distinct
    CodeSpec(code, kind, short, mods, ndc, revenue)
  }

  /** One code drawn from the CPT (5-digit and category III) and HCPCS spaces. */
  private def drawCode(r: scala.util.Random): String = r.nextInt(10) match {
    case 0 => f"${1 + r.nextInt(999)}%04dT"
    case n if n < 6 => f"${10000 + r.nextInt(90000)}%05d"
    case _ => f"${"ABCEGHJKLMPQRSTV"(r.nextInt(16))}${r.nextInt(10000)}%04d"
  }

  private val drawn = scala.collection.mutable.LinkedHashSet[String]()
  private val batches = scala.collection.mutable.ArrayBuffer[IndexedSeq[String]]()
  private val codeRnd = new scala.util.Random((seed ^ 0x636f6465L) + 7919L * stream)

  /** The distinct codes of batch `i`; batches never share a code. */
  def batchCodes(i: Int): IndexedSeq[String] = synchronized {
    while (batches.size <= i) {
      val b = IndexedSeq.newBuilder[String]
      var n = 0
      while (n < batchSize) {
        val c = drawCode(codeRnd)
        if (drawn.add(c)) { b += c; n += 1 }
      }
      batches += b.result()
    }
    batches(i)
  }

  /** The batch's work list as the upstream table holds it: the codes plus
    * blank, "false"/"FALSE" and null rows, whitespace-padded duplicates and
    * URL aliases (fragment, empty query) that the frontier collapses.
    */
  def workList(i: Int): Seq[String] = {
    val codes = batchCodes(i)
    val r = new scala.util.Random(h("worklist", i).toLong)
    val dupes = Seq.fill(3)(codes(r.nextInt(codes.size))).map(c => s"  $c ")
    val aliases = Seq.fill(3)(codes(r.nextInt(codes.size))).flatMap(c => Seq(s"$c#top", s"$c?"))
    r.shuffle(codes ++ dupes ++ aliases ++ Seq("  ", "", "false", "FALSE", null))
  }

  def page(s: CodeSpec): String = {
    val sb = new java.lang.StringBuilder(56 * 1024)
    val r = new scala.util.Random(h("pad", s.code).toLong)
    sb.append("<!DOCTYPE html><html><head><title>").append(s.code)
      .append(" procedure code</title>\n")
    Corpus.scriptMass(sb, r, 14)
    sb.append("</head><body>\n")
    Corpus.navMass(sb, r, 220)
    s.kind match {
      case Kind.NotFound =>
        sb.append("""<div class="container404"><p>Page not found</p></div>""")
      case Kind.DeletedHcpcs =>
        sb.append("<h1>Deleted HCPCS Codes</h1>\n<div class=\"deleted-list\">")
          .append(s.code).append(" was removed from the code set</div>")
      case Kind.DeletedCode =>
        sb.append(s"""<span>Code Deleted</span>
          <div class="alert alert-danger">Deleted effective December 31, 20${10 + Math.floorMod(h("yr", s.code), 15)}</div>
          <div class="row"><div class="col">Advice: see the ${s.short} crosswalk</div></div>
          <div class="panel-body tab-pane">Guidelines found in the archive for ${s.code}</div>
          <div class="panel panel-default">
            <div class="panel-heading">Code Descriptor</div>
            <div class="panel-body tab-pane">${s.short} descriptor</div>
          </div>""")
      case _ => fullBody(sb, s)
    }
    Corpus.navMass(sb, r, 80)
    Corpus.scriptMass(sb, r, 10)
    sb.append("</body></html>\n")
    sb.toString
  }

  private def fullBody(sb: java.lang.StringBuilder, s: CodeSpec): Unit = {
    val hcpcs = s.kind == Kind.HcpcsFull
    val pre = if (hcpcs) "hcpcs" else "cpt"
    if (hcpcs)
      sb.append(s"""<div class="newbread"><span><a href="/hcpcs-codes-range/A0021-A0999/">Transport</a></span></div>""")
    else
      sb.append(s"""<div class="newbread"><a href="/cpt-codes/">CPT</a>
        <a href="/cpt-codes-range/0001U-0418U/">Proprietary Laboratory Analyses</a></div>""")
    sb.append(s"""<div class="layout2_code"><h1>${s.code}, ${s.short}</h1></div>
      <div class="sub_head_detail">Long descriptor of ${s.short}</div>""")
    if (s.mods.nonEmpty) {
      sb.append("""<div class="modcross_list"><table><tbody>""")
      s.mods.foreach { case (m, d) => sb.append(s"<tr><td>$m</td><td>$d</td></tr>") }
      sb.append("</tbody></table></div>\n")
    }
    sb.append(s"""<div id="${pre}_betos"><strong>Code:</strong> T1H <strong>Description:</strong> Lab tests - other</div>
      <div id="${pre}_guidelines">Report ${s.code} once per encounter</div>
      <div id="${pre}_advice">Check payer policy first</div>
      <div id="fullLayterm"><p>Summary of ${s.short}.</p> Lay explanation of the service <a href="#">Read Less</a></div>
      <div id="${pre}_report">Reported with modifier 90</div>""")
    if (s.kind == Kind.RevenueUnavailable)
      sb.append("""<div id="cpt_revenue_cross">Data Not Available</div>""")
    else {
      sb.append("""<div id="cpt_revenue_cross"><table class="points_table"><tr><th>Revenue Code</th><th>Description</th></tr>""")
      s.revenue.foreach(c => sb.append(s"<tr><td>$c</td><td>Revenue center $c</td></tr>"))
      sb.append("</table></div>\n")
    }
    if (s.ndc.nonEmpty) {
      sb.append("""<div id="ndc"><table>""")
      s.ndc.foreach { n =>
        sb.append(s"<tr><td>${n.ndc_alternate_id}</td><td>${n.drug_name}</td><td>${n.labeler_name}</td><td>${n.hcpcs_dosage}</td><td>${n.bill_unit}</td></tr>")
      }
      sb.append("</table></div>\n")
    }
    sb.append("""<div id="pcsdata"><table class="points_table"><tr><td>0016070</td><td>Bypass</td></tr></table></div>""")
  }
}

object Corpus {
  val words: IndexedSeq[String] = ("blood typing laboratory analysis injection infusion " +
    "therapy imaging scan surgical repair knee shoulder cardiac monitor " +
    "transport ambulance drug dose vaccine screening panel culture " +
    "biopsy catheter implant removal evaluation consult").split(" ").toIndexedSeq

  /** Inline script blocks, the bulk of a real page's bytes. */
  def scriptMass(sb: java.lang.StringBuilder, r: scala.util.Random, blocks: Int): Unit =
    (0 until blocks).foreach { b =>
      sb.append("<script>window.__s").append(b).append(" = \"")
      var i = 0
      while (i < 1600) { sb.append(('a' + r.nextInt(26)).toChar); i += 1 }
      sb.append("\";</script>\n")
    }

  /** Site navigation: link lists in a few column divs. */
  def navMass(sb: java.lang.StringBuilder, r: scala.util.Random, links: Int): Unit = {
    sb.append("<div class=\"site-nav\">")
    (0 until links).foreach { i =>
      if (i % 40 == 0) { if (i > 0) sb.append("</ul></div>"); sb.append("<div class=\"nav-col\"><ul>") }
      val c = 10000 + r.nextInt(90000)
      sb.append("<li><a href=\"/cpt-codes/").append(c).append("/\">Code ").append(c).append("</a></li>")
    }
    sb.append("</ul></div></div>\n")
  }
}

/** In-process loopback site with the reference site's two-step login, a
  * per-session fetch quota that forces re-logins, a transient 500 on about
  * 1 % of code requests, and 404 error pages. All counters are kept on the
  * server side. Handler threads are capped at `threads`, and the benchmark
  * runs with `sun.net.httpserver.nodelay=true`: without it the JDK server
  * adds a ~40 ms Nagle stall to every response.
  */
final class Site(corpus: Corpus, threads: Int, quota: Int) {
  val requests = new AtomicLong   // GET /codes/* requests
  val delivered = new AtomicLong  // 200 and 404 pages handed to the fetcher
  val served5xx = new AtomicLong
  val served401 = new AtomicLong
  val logins = new AtomicLong     // completed password steps
  val serviceNs = new AtomicLong  // handler time, all paths
  private val perCode = new ConcurrentHashMap[String, AtomicInteger]()
  private val quotaBySession = new ConcurrentHashMap[String, AtomicInteger]()
  private val preCookies = new AtomicInteger

  private def flaky(code: String): Boolean =
    Math.floorMod(MurmurHash3.orderedHash(Seq(corpus.seed, "5xx", code)), 100) == 0

  private def cookieOf(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestHeaders.getFirst("Cookie")).toSeq
      .flatMap(_.split(";")).map(_.trim)
      .collectFirst { case c if c.startsWith(name + "=") => c }

  private def respond(ex: HttpExchange, status: Int, body: String,
      setCookie: Option[String] = None): Unit = {
    setCookie.foreach(c => ex.getResponseHeaders.add("Set-Cookie", c + "; Path=/"))
    val bytes = body.getBytes(UTF_8)
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def timed(f: HttpExchange => Unit)(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try f(ex) finally serviceNs.addAndGet(System.nanoTime() - t0)
  }

  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/login", (ex: HttpExchange) => timed { ex =>
    if (ex.getRequestMethod == "GET")
      respond(ex, 200, "<html><form id='login'/></html>", Some(s"pre=${preCookies.incrementAndGet()}"))
    else {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      if (body.contains("step=next")) respond(ex, 200, "<html>password step</html>")
      else if (body.contains("step=btnSignIn") && body.contains("password=hunter2")) {
        val sess = s"sess=${logins.incrementAndGet()}"
        quotaBySession.put(sess, new AtomicInteger(quota))
        respond(ex, 200, "<html>welcome</html>", Some(sess))
      } else respond(ex, 403, "bad credentials")
    }
  }(ex))
  server.createContext("/codes/", (ex: HttpExchange) => timed { ex =>
    requests.incrementAndGet()
    val live = cookieOf(ex, "sess").exists { s =>
      Option(quotaBySession.get(s)).exists(_.getAndDecrement() > 0)
    }
    val code = ex.getRequestURI.getPath.stripPrefix("/codes/")
    if (!live) { served401.incrementAndGet(); respond(ex, 401, "session expired") }
    else {
      val n = perCode.computeIfAbsent(code, _ => new AtomicInteger).getAndIncrement()
      if (flaky(code) && n % 2 == 0) {
        served5xx.incrementAndGet(); respond(ex, 500, "transient upstream error")
      } else {
        val spec = corpus.spec(code)
        delivered.incrementAndGet()
        respond(ex, if (spec.kind == Kind.NotFound) 404 else 200, corpus.page(spec))
      }
    }
  }(ex))
  server.start()

  val port: Int = server.getAddress.getPort

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}
