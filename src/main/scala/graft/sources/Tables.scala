package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet scans over the test corpus (reference ops S1/S5 rebuilt on the
  * Spark reader — see `/root/reference/crawler/src/utils/athena.py:30-54`
  * and `/root/reference/crawler/src/utils/s3.py:71-72`).
  *
  * The reference eagerly materialised Athena results into driver RAM; here
  * scans stay lazy and distributed: Catalyst pushes predicates and column
  * pruning into the vectorized Parquet reader, so a downstream
  * `select(a, b).filter(p)` reads only the touched columns/row groups —
  * the property that makes the same code viable at 100 TB.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = name match {
    case "events"     => events(spark, sfDir)
    case "documents"  => documents(spark, sfDir)
    case "embeddings" => embeddings(spark, sfDir)
    case _            => spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** Older driver corpora store `events.ts` as nanosecond-precision
    * parquet, which every factory-built session reads as raw Long (see
    * [[graft.GraftSession]]). Newer corpora store a
    * native µs timestamp (pandas `timestamp[us]`, no UTC adjustment →
    * TIMESTAMP_NTZ). [[normalizeTs]] maps both onto the same column type.
    */
  def rawEvents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/events.parquet")

  /** Normalize `ts` to session-zone TimestampType whatever the physical
    * encoding: Long epoch-nanos → floor to µs (the truncation DuckDB's
    * `epoch_us` applies, keeping the oracle exact); TIMESTAMP_NTZ → cast
    * (identity under the UTC session zone every entrypoint pins). All
    * downstream operators — watermarks, `Dataset[Event]` encoders, window
    * frames — see one stable type regardless of corpus vintage.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }

  def lineitem(spark: SparkSession, d: String): DataFrame = table(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame   = table(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame     = table(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame   = table(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame   = table(spark, d, "region")
  def events(spark: SparkSession, d: String): DataFrame =
    normalizeTs(rawEvents(spark, d))
  /** `documents`/`embeddings` feed CPU-heavy per-row operators (shingling,
    * hashing, vector math). Their test files are single-row-group parquet,
    * so the scan yields ONE partition and all that compute would serialize
    * on one core — rebalance to cluster parallelism first. At production
    * scale scans produce far more splits than cores and this is a no-op
    * (no shuffle is added).
    */
  private def rebalanced(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  def documents(spark: SparkSession, d: String): DataFrame =
    rebalanced(spark.read.parquet(s"$d/documents.parquet"))
  def embeddings(spark: SparkSession, d: String): DataFrame =
    rebalanced(spark.read.parquet(s"$d/embeddings.parquet"))

  /** Row count from parquet FOOTERS — the "table metadata" a catalog
    * (Glue/HMS/Delta) serves for free. No data pages are read and no
    * Spark job runs: operators that need the corpus size to pick a
    * data-dependent constant (e.g. [[graft.operators.SimilarityOps
    * .scaledAxisCount]]'s bucket width) get it without an extra
    * full-column scan of a 100 TB table.
    */
  def parquetRowCount(spark: SparkSession, path: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).map(_.getPath)
          .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
      else Array(root)
    files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Register every corpus table as a temp view so `spark.sql(...)` — the
    * Athena-replacement surface (SURVEY §3.2) — can name them directly.
    *
    * Idempotent per (session, dir): each registration re-reads all ten
    * parquet footers (schema inference) and re-analyzes ten views, which
    * measurably taxes every SQL-surface query when repeated per call.
    * The last-registered dir is tracked in session conf (session-scoped,
    * no leak), so switching dirs still re-registers correctly.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    val key = "spark.graft.registeredDir"
    if (spark.conf.getOption(key).contains(sfDir)) return
    val names = Seq("lineitem", "orders", "customer", "supplier", "part",
      "nation", "region", "events", "documents", "embeddings")
    names.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))
    spark.conf.set(key, sfDir)
  }
}
