package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Semaphore, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftSession, SparkEntry}
import graft.queries.VectorOps

/** One tool for looking at registered entries outside Bench and Verify.
  *
  * {{{
  * Entry explain <dataDir> <outDir> <tag> <name[,name...]>
  * Entry show    <dataDir> <name[,name...]>
  * Entry time    <dataDir> <name[,name...]>
  * Entry profile <dataDir> <name[,name...]>
  * }}}
  *
  * Each verb is a function over a session; only [[main]] creates and stops
  * one (through [[graft.GraftSession]], so the plans and timings are those
  * of the session Bench runs).
  */
object Entry {

  private val Usage =
    "usage: Entry explain <dataDir> <outDir> <tag> <name[,name...]>\n" +
      "       Entry {show|time|profile} <dataDir> <name[,name...]>"

  /** Job group of `profile`'s listener-barrier job. */
  private val BarrierGroup = "graft-entry-profile-barrier"

  def main(args: Array[String]): Unit = {
    def names(s: String): Seq[String] = s.split(',').toSeq
    val verb: SparkSession => Unit = args match {
      case Array("explain", d, out, tag, ns) => explain(_, d, out, tag, names(ns))
      case Array("show", d, ns)              => show(_, d, names(ns))
      case Array("time", d, ns)              => time(_, d, names(ns))
      case Array("profile", d, ns)           => profile(_, d, names(ns))
      case _ =>
        System.err.println(Usage)
        sys.exit(2)
    }
    val spark = GraftSession()
    try verb(spark) finally spark.stop()
  }

  /** Writes `<outDir>/<name>_<tag>.txt` with each entry's formatted plan —
    * the `plans/rNN/` before/after evidence files. */
  def explain(spark: SparkSession, dataDir: String, outDir: String, tag: String,
      names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    for (n <- names) {
      val txt = SparkEntry.queries(n)(spark, dataDir)
        .queryExecution.explainString(FormattedMode)
      val path = s"$outDir/${n}_$tag.txt"
      java.nio.file.Files.write(java.nio.file.Paths.get(path), txt.getBytes("UTF-8"))
      println(s"[explain] wrote $path (${txt.length} chars)")
    }
  }

  /** Prints each entry's first 20 rows — the certificate runner for gate
    * entries whose evidence lives on fixtures the oracle board never reads
    * (e.g. `sim_rrf_swap_sampled_gate` on the 400k Zipf corpus). */
  def show(spark: SparkSession, dataDir: String, names: Seq[String]): Unit =
    for (n <- names) {
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(n)(spark, dataDir).limit(20).collect()
      println(f"ENTRY $n ${(System.nanoTime() - t0) / 1e9}%.3f s")
      rows.foreach(r => println(s"ROW $n ${r.toSeq.mkString(", ")}"))
    }

  /** One timed noop materialization per entry, construction untimed — the
    * measurement behind `tools/append_bench.sh`, which runs one entry per
    * fresh JVM. With `SPARK_GRAFT_NO_INDEX_STORE=1` a rebuild entry pays
    * its full compute; against a warmed `SPARK_GRAFT_INDEX_DIR` an append
    * entry pays delta work plus stored-artifact reads. The name `_floor`
    * times a bare `documents` scan: the fixed session and scan cost.
    *
    * Prints `TIME_ENTRY <name> <s>` and `TIME_ENTRY_STORE <name> cb=<n>
    * cr=<n>`: the index-store builds and reuses during construction plus
    * the run. cb=0 with cr>0 certifies that a warmed store served every
    * artifact and nothing was rebuilt. */
  def time(spark: SparkSession, dataDir: String, names: Seq[String]): Unit = {
    warmUp(spark)
    for (n <- names) {
      val (cb0, cr0) = (VectorOps.storeBuildCount.get, VectorOps.storeReuseCount.get)
      val df =
        if (n == "_floor") spark.read.parquet(s"$dataDir/documents.parquet").select("doc_id")
        else SparkEntry.queries(n)(spark, dataDir)
      val t0 = System.nanoTime()
      noop(df)
      println(f"TIME_ENTRY $n ${(System.nanoTime() - t0) / 1e9}%.3f")
      println(s"TIME_ENTRY_STORE $n cb=${VectorOps.storeBuildCount.get - cb0} " +
        s"cr=${VectorOps.storeReuseCount.get - cr0}")
    }
  }

  /** Per-stage wall/CPU breakdown — the local substitute for the Spark UI's
    * stage table. Runs each entry twice (run 1 absorbs codegen warm-up; read
    * run 2) and prints one line per completed stage: wall span, summed task
    * time, CPU, GC, shuffle read/write bytes. */
  def profile(spark: SparkSession, dataDir: String, names: Seq[String]): Unit = {
    val sc = spark.sparkContext
    val stages = new ConcurrentLinkedQueue[String]()
    val barrierJobs = ConcurrentHashMap.newKeySet[Int]()
    val barrierStages = ConcurrentHashMap.newKeySet[Int]()
    val barrierDone = new Semaphore(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == BarrierGroup)) {
          j.stageIds.foreach(barrierStages.add(_))
          barrierJobs.add(j.jobId)
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (barrierJobs.remove(j.jobId)) barrierDone.release()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        if (!barrierStages.contains(si.stageId)) {
          val wall = (for (t0 <- si.submissionTime; t1 <- si.completionTime)
            yield t1 - t0).getOrElse(-1L)
          val m = si.taskMetrics
          stages.add(f"STAGE ${si.stageId}%4d wall=$wall%5d ms tasks=${si.numTasks}%3d " +
            f"run=${m.executorRunTime}%6d ms cpu=${m.executorCpuTime / 1000000}%6d ms " +
            f"gc=${m.jvmGCTime}%4d ms srd=${m.shuffleReadMetrics.totalBytesRead}%9d " +
            f"swr=${m.shuffleWriteMetrics.bytesWritten}%9d  ${si.name.take(60)}")
        }
      }
    }
    // Listener events arrive asynchronously but in posting order, so once
    // a job started after the run has ended on the listener, every stage
    // event of the run has been delivered.
    def drain(): Unit = {
      sc.setJobGroup(BarrierGroup, "profile listener barrier")
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      require(barrierDone.tryAcquire(5, TimeUnit.MINUTES), "listener barrier timed out")
    }
    sc.addSparkListener(listener)
    try {
      warmUp(spark)
      for (n <- names) {
        val df = SparkEntry.queries(n)(spark, dataDir)
        for (run <- 1 to 2) {
          drain()
          stages.clear()
          val t0 = System.nanoTime()
          noop(df)
          val sec = (System.nanoTime() - t0) / 1e9
          drain()
          println(f"===== $n run$run total $sec%.2f s =====")
          stages.forEach(println(_))
        }
      }
    } finally sc.removeSparkListener(listener)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Session warm-up (codegen, scheduler) so the first measurement does not
    * absorb one-time startup — Bench's discipline. */
  private def warmUp(spark: SparkSession): Unit =
    noop(spark.range(1000000).selectExpr("sum(id)"))
}
