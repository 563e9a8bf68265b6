package graft.pipeline

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Golden end-to-end pipeline run over offline fixture pages
  * (SURVEY §5 test plan items 2 and 5 — no network).
  */
class ProcedurePipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val fullPage = """
    <html><body>
    <div class="newbread"><a href="/cpt-codes-range/0042T-0184T/">Range</a></div>
    <div class="layout2_code"><h1>0042T, Ct perfusion w/contrast cbf</h1></div>
    <div class="sub_head_detail">Cerebral perfusion analysis</div>
    <div class="modcross_list"><table><tbody>
      <tr><td>26</td><td>Professional Component</td></tr>
      <tr><td>TC</td><td>Technical Component</td></tr>
    </tbody></table></div>
    <div id="cpt_betos"><strong>Code:</strong> I2B <strong>Description:</strong> Advanced imaging</div>
    <div id="cpt_guidelines">Report once per study</div>
    <div id="cpt_advice">See imaging guidance</div>
    <div id="fullLayterm"><p>Summary text.</p>Lay explanation <a href="#">Read Less</a></div>
    <div id="cpt_report">Report with 26</div>
    <div id="cpt_revenue_cross"><table class="points_table">
      <tr><th>Code</th><th>Desc</th></tr>
      <tr><td>0350</td><td>CT Scan</td></tr></table></div>
    <div id="ndc"><table>
      <tr><td>11111-222-33</td><td>ContrastX</td><td>Maker A</td><td>10 ml</td><td>ML</td></tr>
      <tr><td>44444-555-66</td><td>ContrastY</td><td>Maker B</td><td>20 ml</td><td>ML</td></tr>
    </table></div>
    </body></html>"""

  val deletedPage = """
    <html><body>
    <span>Deleted</span>
    <div class="alert alert-danger">This code was deleted effective January 1, 2023</div>
    <div class="advice-block">Coding Advice: <p>Use the replacement code instead</p></div>
    <div class="panel-body tab-pane">No CPT guidelines for this code</div>
    <div class="panel panel-default">
      <div class="panel-heading">Code Descriptor</div>
      <div class="panel-body tab-pane">Old descriptor text</div>
    </div>
    </body></html>"""

  val fetcher = new FixtureFetcher(Map(
    "0042T" -> fullPage,
    "D0001" -> deletedPage))
    // "GONE1" falls through to the fetcher's canned 404

  test("E20 parse: full page populates all three relations") {
    val parsed = ProcedurePipeline.parsePage("0042T", fullPage).get
    assert(parsed.row.code_type == "CPT")
    assert(parsed.row.short_description.contains("Ct perfusion w/contrast cbf"))
    assert(parsed.row.main_interval.contains("0042T-0184T"))
    assert(parsed.row.modifiers.contains(Seq("26", "TC")))
    assert(parsed.modifier_rows.map(_.modifier) == Seq("26", "TC"))
    assert(parsed.ndc_rows.map(_.ndc_alternate_id) == Seq("11111-222-33", "44444-555-66"))
    assert(parsed.row.ndc_alternate_id.contains(Seq("11111-222-33", "44444-555-66")))
    assert(parsed.row.revenue_lookup.contains(Seq("0350")))
  }

  test("E20 parse: 404 and deleted-HCPCS pages drop the row") {
    assert(ProcedurePipeline.parsePage("GONE1",
      """<div class="container404"/>""").isEmpty)
    assert(ProcedurePipeline.parsePage("E0001",
      "<h1>Deleted HCPCS Codes</h1>").isEmpty)
  }

  test("E20 parse: deleted-code branch builds the sparse row") {
    val parsed = ProcedurePipeline.parsePage("D0001", deletedPage).get
    assert(parsed.row.date_deleted.exists(_.contains("deleted effective January 1, 2023")))
    assert(parsed.row.advice.contains("Use the replacement code instead"))
    assert(parsed.row.guidelines.contains("No CPT guidelines for this code"))
    assert(parsed.row.description.contains("Old descriptor text"))
    assert(parsed.row.main_interval.isEmpty && parsed.row.betos_code.isEmpty)
    assert(parsed.modifier_rows.isEmpty && parsed.ndc_rows.isEmpty)
  }

  test("full pipeline: clean -> fetch -> parse -> dedup -> append sinks") {
    val base = Files.createTempDirectory("graft_pipe").toString
    // work list with the P1/P2 edge cases (A4 fixture shape)
    val codes = Seq("0042T", "D0001", "GONE1", "  ", "false", null)
      .toDF("code")
    // dedup snapshots (A5): modifier "26" and one NDC id already persisted
    val existingMods = Seq("26").toDF("modifier")
    val existingNdc = Seq("11111-222-33").toDF("ndc_alternate_id")

    val res = ProcedurePipeline.run(spark, codes, fetcher,
      existingMods, existingNdc,
      s"$base/codes", s"$base/modifiers", s"$base/ndc", fetchPartitions = 2)

    // 0042T + D0001 survive; GONE1 is a 404; blanks/false cleaned away
    assert(res == ProcedurePipeline.PipelineResult(2, 1, 1))
    val codesOut = spark.read.parquet(s"$base/codes")
    assert(codesOut.count() == 2)
    assert(codesOut.columns.length == 21)
    val mods = spark.read.parquet(s"$base/modifiers")
      .as[(String, String)].collect().toSet
    assert(mods == Set(("TC", "Technical Component"))) // "26" deduped
    val ndc = spark.read.parquet(s"$base/ndc")
      .select("ndc_alternate_id").as[String].collect().toSet
    assert(ndc == Set("44444-555-66")) // snapshot id deduped
  }

  /** The parsed pages, one inner array per partition. */
  private def partitionsOf(ds: Dataset[ParsedPage]): Array[Array[ParsedPage]] =
    ds.rdd.glom().collect()

  test("X1 chunk-equivalence: output invariant under fetch partitioning") {
    // SURVEY §5 item 2: the chunked execution model must not change
    // results — same parsed output at 1 and 4 fetch partitions, both
    // through the parse fan-out
    def parse(nPartitions: Int) = partitionsOf(ProcedurePipeline
      .extract(spark, Seq("0042T", "D0001", "GONE1").toDF("code"), fetcher, nPartitions))
    val (one, four) = (parse(1), parse(4))
    assert(one.length == spark.sparkContext.defaultParallelism)
    assert(four.length == spark.sparkContext.defaultParallelism)
    assert(one.flatten.toSet == four.flatten.toSet)
    assert(one.flatten.map(_.row.code).sorted.toSeq == Seq("0042T", "D0001"))
  }

  private val pageCodes = (1 to 40).map(i => f"${10000 + i}%05d")

  /** ~50 codes on one host: blanks, padded duplicates, `#frag` and
    * permuted-query aliases of 41 canonical pages.
    */
  private val aliasedWork: Seq[String] =
    pageCodes ++ Seq("  ", "", "false", null) ++ pageCodes.take(5).map(c => s"  $c ") ++
      pageCodes.slice(5, 8).map(_ + "#frag") ++ Seq("10009?b=2&a=1", "10009?a=1&b=2")

  test("fetch order is the frontier schedule's seq order, each canonical page once") {
    RecordingFetcher.fetched.clear()
    ProcedurePipeline.extract(spark, aliasedWork.toDF("code"), new RecordingFetcher(fullPage))
      .collect()
    val fetched = RecordingFetcher.fetched.asScala.toSeq
    val scheduled = ProcedurePipeline.frontierSchedule(aliasedWork.toDF("code"), "https://codes.example/")
      .orderBy("seq").select("code").as[String].collect().toSeq
    assert(fetched == scheduled)
    assert(fetched.distinct.length == fetched.length)
    assert(fetched.toSet == pageCodes.toSet + "10009?a=1&b=2")
  }

  test("parse fans out: a one-host frontier parses in defaultParallelism partitions") {
    val parts = partitionsOf(ProcedurePipeline
      .extract(spark, aliasedWork.toDF("code"), new RecordingFetcher(fullPage)))
    assert(parts.length == spark.sparkContext.defaultParallelism)
    assert(parts.count(_.nonEmpty) > 1, parts.map(_.length).mkString(","))
    assert(parts.map(_.length).sum == 41)
  }

  test("error channel swallows its own failures and records the row") {
    val base = Files.createTempDirectory("graft_err").toString
    val ok = ErrorChannel.register(spark,
      """{"dag_id":"d1","task_id":"t1","run_id":"r1"}""",
      new RuntimeException("boom"), s"$base/errors")
    assert(ok)
    val row = spark.read.parquet(s"$base/errors")
      .as[(String, String, String, String)].head()
    assert(row == (("d1", "t1", "r1", "java.lang.RuntimeException boom")))
    // unwritable sink path: still true (reference `:37-39`)
    assert(ErrorChannel.register(spark, "not json",
      new RuntimeException("x"), "/proc/definitely/not/writable"))
  }
}

/** Fetch log shared by the executor threads of the local test session. */
object RecordingFetcher {
  val fetched = new ConcurrentLinkedQueue[String]()
}

/** Serves one page for every code and records the codes in fetch order. */
final class RecordingFetcher(page: String) extends PageFetcher {
  override def fetch(code: String): String = {
    RecordingFetcher.fetched.add(code)
    page
  }
}
