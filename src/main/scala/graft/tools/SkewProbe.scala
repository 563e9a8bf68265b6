package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Dev tool (VERDICT r8 #7 / r9 #5): measured per-task shuffle-read
  * evidence that [[graft.operators.Exec.saltedJoin]] actually levels a
  * skewed shuffle on real-shaped data — not just the SkewSpec synthetic.
  *
  * Scenario: sf1 lineitem (~6M rows) joins a ~1k-row dimension on a
  * DELIBERATELY skewed derived key (30% of rows hash to one hot key —
  * the "one giant customer" shape). Broadcast is disabled to model the
  * 100 TB case where the dimension is too large to broadcast (when it
  * fits, broadcast — not salting — is the right tool and Catalyst picks
  * it unaided). A SparkListener records every task's shuffle-read row
  * count; the join-read stage is the one with the largest total. The
  * number that matters is max/median per-task shuffle-read: ~tasks× for
  * the unsalted hot key (one reducer owns 30% of the corpus), ~1-2×
  * salted (the hot key splits across saltFactor reducers).
  *
  * Results are recorded in BASELINE.md's round notes. Run:
  * `runMain graft.tools.SkewProbe` (builds/reuses the /tmp sf1 corpus).
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    // model the non-broadcastable dimension: the whole point of salting
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.setLogLevel("ERROR")

    val sf1 = "/tmp/graft_sf1"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(sf1))
    Sf1Probe.buildSf1(spark, "/root/testdata/sf0.1", sf1, copies = 10)

    // per-task shuffle-read records, keyed by (stageId, taskId)
    val reads = new scala.collection.concurrent.TrieMap[(Int, Long), Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null && m.shuffleReadMetrics.recordsRead > 0)
          reads.put((te.stageId, te.taskInfo.taskId),
            m.shuffleReadMetrics.recordsRead)
      }
    })

    // 30% of lineitem rows land on hot key 0; the rest spread over ~997
    // keys — a skewed derived key on real-shaped data
    val big = spark.read.parquet(s"$sf1/lineitem.parquet")
      .withColumn("key",
        when(pmod(hash(col("l_orderkey")), lit(10)) < 3, lit(0L))
          .otherwise(pmod(hash(col("l_orderkey")), lit(997)).cast("long") + 1L))
    val dim = spark.range(0, 998).select(col("id").as("key"),
      (col("id") * 7 % 13).as("dim_payload"))

    def joinStageStats(label: String)(run: => Long): String = {
      reads.clear()
      val t0 = System.nanoTime()
      val rows = run
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(2000) // let the listener bus drain
      val byStage = reads.toSeq.groupBy(_._1._1)
      val (stage, tasks) = byStage.maxBy(_._2.map(_._2).sum)
      val counts = tasks.map(_._2).sorted
      val max = counts.last
      val median = counts(counts.size / 2)
      val ratio = max.toDouble / math.max(1L, median)
      println(f"[skewprobe] $label%-8s rows=$rows%d stage=$stage tasks=${counts.size}%d " +
        f"shuffle-read max=$max%d median=$median%d max/median=$ratio%.2f wall=$sec%.2fs")
      f"""{"rows":$rows,"tasks":${counts.size},"max":$max,"median":$median,"max_over_median":$ratio%.2f,"sec":$sec%.2f}"""
    }

    // warm-up (JIT + codegen) on sf0.1-sized slice, not measured
    big.limit(100000).join(dim, Seq("key")).count()

    val plain = joinStageStats("plain") {
      big.join(dim, Seq("key")).count()
    }
    val salted = joinStageStats("salted") {
      graft.operators.Exec.saltedJoin(big, dim, "key", "l_orderkey",
        saltFactor = 8).count()
    }
    println(s"""{"skew_probe":{"plain":$plain,"salted":$salted}}""")
    spark.stop()
  }
}
