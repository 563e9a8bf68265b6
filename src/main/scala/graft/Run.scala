package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** One-command product face (VERDICT r17 #7): run any named catalog
  * query against a user-supplied parquet directory without reading
  * SURVEY.md first.
  *
  * {{{
  * java -cp target/scala-2.13/classes:/opt/spark/jars/'*' \
  *   <the build.sbt --add-opens list> \
  *   graft.Run <query-name> --data /path/to/tables [--out DIR] [--show N]
  * java -cp ... graft.Run list [pattern]     # catalog inventory
  * java -cp ... graft.Run entry              # flagship smoke query
  * java -cp ... graft.Run q1,q2,...|all --explain [--out DIR]  # plans
  * }}}
  *
  * `--data` must hold the engine's table layout: one parquet file/dir per
  * table name (`region nation customer supplier part orders lineitem
  * events documents embeddings`). With `--out` the result is written as
  * parquet (distributed write — the scale path); otherwise the first
  * `--show` rows (default 20) print to stdout. With `--explain` nothing
  * executes: each named query's formatted physical plan prints, or with
  * `--out DIR` lands in `DIR/<query>.txt`.
  *
  * The same entry point works under spark-submit on a real cluster:
  * `spark-submit --class graft.Run <jar> <query> --data s3://... --out
  * s3://...` — GraftSession.local keeps the master spark-submit set.
  */
object Run {

  final case class Args(command: String, data: String, out: Option[String],
    show: Int, explain: Boolean = false)

  private[graft] def parse(argv: Array[String]): Either[String, Args] = {
    if (argv.isEmpty) return Left(usage)
    var data = "/root/testdata/sf0.001"
    var out: Option[String] = None
    var show = 20
    var explain = false
    val positional = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--data" if i + 1 < argv.length => data = argv(i + 1); i += 2
        case "--out" if i + 1 < argv.length  => out = Some(argv(i + 1)); i += 2
        case "--show" if i + 1 < argv.length =>
          show = try argv(i + 1).toInt catch { case _: Throwable => return Left(s"--show needs an int, got '${argv(i + 1)}'") }
          i += 2
        case "--explain" => explain = true; i += 1
        case flag if flag.startsWith("--") => return Left(s"unknown flag $flag\n$usage")
        case p => positional += p; i += 1
      }
    }
    positional.toList match {
      case cmd :: Nil if !explain && (cmd == "all" || cmd.contains(",")) =>
        Left(s"a query list or `all` needs --explain\n$usage")
      case cmd :: Nil => Right(Args(cmd, data, out, show, explain))
      case "list" :: pat :: Nil => Right(Args(s"list:$pat", data, out, show, explain))
      case other => Left(s"expected one query name, got: ${other.mkString(" ")}\n$usage")
    }
  }

  private val usage =
    """usage: graft.Run <query-name> [--data DIR] [--out DIR] [--show N] [--explain]
      |       graft.Run list [pattern]   — print catalog query names
      |       graft.Run entry            — flagship smoke query
      |       graft.Run <q1,q2,...|all> --explain [--out DIR]
      |--explain prints the optimized physical plan (explain "formatted":
      |scan pushdowns, join strategies, whole-stage codegen spans) instead
      |of executing; with --out DIR each plan goes to DIR/<query>.txt.
      |Query names: see `graft.Run list`; data dir must hold
      |the standard parquet tables (region nation customer supplier part
      |orders lineitem events documents embeddings).""".stripMargin

  /** Testable core: resolves and executes, returns the result frame
    * (None for `list`). Session lifecycle stays in main.
    */
  private[graft] def execute(spark: SparkSession, a: Args): Option[DataFrame] =
    a.command match {
      case c if c == "list" || c.startsWith("list:") =>
        val pat = if (c.startsWith("list:")) c.drop(5).toLowerCase else ""
        graft.queries.Catalog.all.map(_.name).sorted
          .filter(_.toLowerCase.contains(pat))
          .foreach(println)
        None
      case "entry" => Some(SparkEntry.entry(spark))
      case name =>
        SparkEntry.queries.get(name) match {
          case Some(fn) => Some(fn(spark, a.data))
          case None =>
            // match on the family letters ("dd99_nope" -> "dd"), not the
            // full numbered prefix, so a typo'd number still gets hints
            val fam = name.takeWhile(_.isLetter)
            val near = SparkEntry.queries.keys.toSeq.sorted
              .filter(n => fam.nonEmpty && n.startsWith(fam)).take(8)
            throw new IllegalArgumentException(
              s"unknown query '$name'" +
                (if (near.nonEmpty) s"; close: ${near.mkString(", ")}" else "") +
                "\nrun `graft.Run list` for the full catalog")
        }
    }

  /** `--explain`: the formatted physical plan of each query in the
    * command (one name, a comma list, or `all`), written to
    * `DIR/<query>.txt` with `--out DIR`, else printed.
    */
  private[graft] def explain(spark: SparkSession, a: Args): Unit = {
    val names =
      if (a.command == "all") SparkEntry.queries.keys.toSeq.sorted
      else a.command.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    a.out.foreach(dir => Files.createDirectories(Paths.get(dir)))
    names.foreach { n =>
      execute(spark, a.copy(command = n)).foreach { df =>
        val plan = df.queryExecution.explainString(FormattedMode)
        a.out match {
          case Some(dir) => Files.writeString(Paths.get(dir, s"$n.txt"), plan)
          case None      => println(plan)
        }
      }
    }
  }

  def main(argv: Array[String]): Unit = parse(argv) match {
    case Left(msg) =>
      System.err.println(msg)
      sys.exit(2)
    case Right(a) =>
      val spark = GraftSession.local(inputBytes = GraftSession.dirBytes(a.data))
      try {
        if (a.explain) explain(spark, a)
        else execute(spark, a).foreach { df =>
          a.out match {
            case Some(dir) =>
              df.write.mode("overwrite").parquet(dir)
              println(s"wrote ${spark.read.parquet(dir).count()} rows to $dir")
            case None => df.show(a.show, truncate = false)
          }
        }
      } catch {
        case e: IllegalArgumentException =>
          System.err.println(e.getMessage); sys.exit(2)
      } finally spark.stop()
  }
}
