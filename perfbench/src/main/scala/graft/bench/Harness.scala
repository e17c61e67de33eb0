package graft.bench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, pmod, sum, xxhash64}

import graft.{Bench, Json, SparkEntry}
import graft.ts.Kernels
import graft.wdi.{RCsv, WdiEtl, WdiPipelines, WdiSchemas}

/** The benchmark's JVM side: sets a session up several times, then runs
  * timed passes of one workload through the program's public entry points
  * until the time budget is spent and at least `minPasses` have run, and
  * writes every reading to `<work>/result.json` for run.py to check and
  * summarize.
  *
  * Workloads:
  *  - `wdi`: one pass = the four variants x seven outputs through
  *    [[WdiPipelines.outputs]] and [[RCsv.write]], in WdiMain's order, each
  *    pass over its own freshly generated input directory;
  *  - `registry`: one pass = the listed [[SparkEntry.queries]] entries, each
  *    timed as construct (`fn(spark, dir)`) plus execute (noop write); after
  *    each execution, untimed, the output's digest and (first pass only) the
  *    result under `<work>/results/<entry>` for the oracle check.
  *
  * With `trace=1` a [[Trace]] records the per-layer counters, and a WDI run
  * ends with untimed layer probes over its last pass's input.
  *
  * Usage: graft.bench.Harness workload=wdi|registry work=<dir> seconds=<s>
  * trace=0|1 cores=<n> setups=<n> minPasses=<n>, plus inputs=<dir,...> (one
  * WDI extract per pass) or data=<dir> entries=<name,...>.
  */
object Harness {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing argument $k"))
    def int(k: String): Int = apply(k).toInt
    def list(k: String): Seq[String] = m.get(k).map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
  }

  final case class QueryRun(name: String, constructS: Double, executeS: Double, error: Option[String])

  final class PassRun(val index: Int) {
    val queries = mutable.ArrayBuffer.empty[QueryRun]
    var wallS, cpuS, gcS, extCores = 0.0
    // time spent on untimed output checks inside the pass, taken out of it
    var checkWallS, checkCpuS = 0.0
    val hashes = mutable.LinkedHashMap.empty[String, String]
    val layers = mutable.LinkedHashMap.empty[String, Double]
  }

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9
  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  /** (busy jiffies of the whole box, jiffies of this process), as
    * [[Bench.externalCores]] expects them; (-1, -1) where /proc is absent. */
  private def cpuTicks(): (Long, Long) =
    try {
      val f = readFirstLine("/proc/stat").trim.split("\\s+").drop(1).map(_.toLong)
      val busy = f.take(8).sum - f(3) - (if (f.length > 4) f(4) else 0L)
      val self = readFirstLine("/proc/self/stat")
      val rest = self.substring(self.lastIndexOf(')') + 2).split(" ")
      (busy, rest(11).toLong + rest(12).toLong)
    } catch { case scala.util.control.NonFatal(_) => (-1L, -1L) }

  private def readFirstLine(path: String): String = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().next() finally src.close()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      val line = try src.getLines().find(_.startsWith("VmHWM:")) finally src.close()
      line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  private def session(a: Args): SparkSession = {
    val cores = a("cores")
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"${a("work")}/spark_local")
      .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse")
      .getOrCreate()
  }

  /** Session start plus warm-up: Bench's warm-up query. */
  private def setUp(a: Args): (SparkSession, Double) = {
    val t0 = now()
    val spark = session(a)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    (spark, secs(t0))
  }

  private def errorOf(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString.take(200)

  /** Order-independent digest of a result: row count plus two folds of a
    * row hash. Run outside the timed region. */
  private def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), bit_xor(col("h")), sum(pmod(col("h"), lit(1000003L))))
      .head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.get(2)}"
  }

  // ---------------------------------------------------------------- WDI

  private def wdiPass(spark: SparkSession, dir: String, outDir: String, pass: PassRun,
      trace: Option[Trace]): Unit = {
    WdiPipelines.variants.foreach { v =>
      val span = s"p${pass.index}/out/${v.key}"
      trace.foreach(_.enter(span))
      spark.sparkContext.setLocalProperty(Trace.SpanKey, span)
      val t0 = now()
      val outs =
        try Right(WdiPipelines.outputs(spark, dir, v))
        catch { case e: Throwable => Left(errorOf(e)) }
      var constructS = secs(t0)
      outs match {
        case Left(err) =>
          pass.queries += QueryRun(s"${v.key}/outputs", constructS, 0.0, Some(err))
        case Right(m) =>
          m.foreach { case (stem, df) =>
            val ordered =
              if (stem.contains("by_country")) df.orderBy(col("Country Code"))
              else df.orderBy(col("Region"))
            spark.sparkContext.setLocalProperty(Trace.SpanKey, s"p${pass.index}/out/$stem")
            val t1 = now()
            val err =
              try { RCsv.write(ordered, s"$outDir/$stem.csv"); None }
              catch { case e: Throwable => Some(errorOf(e)) }
            pass.queries += QueryRun(stem, constructS, secs(t1), err)
            constructS = 0.0 // the variant's construction is paid by its first output
          }
      }
    }
  }

  /** Untimed layer probes for a traced WDI pass: the front half, each
    * detrend operator over it, the statistics without their sink, the
    * sink over precomputed rows, and the `graft.ts` kernels on the
    * driver over every series of the cleaned table. */
  private def wdiProbes(spark: SparkSession, dir: String, scratch: String, pass: PassRun,
      trace: Trace): Unit = {
    val sc = spark.sparkContext
    def timed(span: String)(body: => Unit): Double = {
      trace.enter(span)
      sc.setLocalProperty(Trace.SpanKey, span)
      val t0 = now()
      body
      secs(t0)
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val p = s"p${pass.index}/probe"
    val fh = WdiEtl.frontHalf(spark, dir).persist()
    pass.layers("wdi.front_half_s") = timed(s"$p/front_half")(noop(fh))
    WdiPipelines.variants.foreach { v =>
      pass.layers(s"wdi.cycles_${v.key}_s") = timed(s"$p/cycles_${v.key}")(noop(v.makeCycles(fh)))
    }
    var statsS, sinkS = 0.0
    WdiPipelines.variants.foreach { v =>
      WdiPipelines.outputs(spark, dir, v).foreach { case (stem, df) =>
        statsS += timed(s"$p/stats")(noop(df))
        val rows = df.collect().toSeq.asJava
        val local = spark.createDataFrame(rows, df.schema)
        sinkS += timed(s"$p/sink")(RCsv.write(local, s"$scratch/$stem.csv"))
      }
    }
    pass.layers("wdi.stats_s") = statsS
    pass.layers("wdi.sink_s") = sinkS
    // graft.ts kernels on the driver: the log series of Y, C, I and the TB
    // level per country, through the quadratic and both HP operators
    val rows = fh.select("Country Code", "Year", "Y", "C", "I", "TB").collect()
    fh.unpersist()
    def logOrNaN(r: org.apache.spark.sql.Row, i: Int): Double =
      if (r.isNullAt(i) || r.getDouble(i) <= 0) Double.NaN else math.log(r.getDouble(i))
    val series = rows.groupBy(_.getString(0)).values.toSeq.map { rs =>
      val s = rs.sortBy(_.getInt(1))
      val t = s.map(_.getInt(1).toDouble)
      val cols = Seq(s.map(logOrNaN(_, 2)), s.map(logOrNaN(_, 3)), s.map(logOrNaN(_, 4)),
        s.map(r => if (r.isNullAt(5)) Double.NaN else r.getDouble(5)))
      (t, cols)
    }
    val minObs = WdiSchemas.MinDetrendObs
    val t0 = now()
    var n = 0
    series.foreach { case (t, cols) =>
      cols.foreach { y =>
        Kernels.quadResiduals(t, y, minObs)
        Kernels.hpCycle(y, 100.0, minObs)
        Kernels.hpCycle(y, 6.25, minObs)
        n += 3
      }
    }
    pass.layers("ts.kernel_s") = secs(t0)
    pass.layers("ts.kernel_series") = n
  }

  // ----------------------------------------------------------- registry

  private def registryPass(spark: SparkSession, data: String, names: Seq[String],
      pass: PassRun, a: Args, trace: Option[Trace]): Unit = {
    val reg = SparkEntry.queries
    val sc = spark.sparkContext
    names.foreach { name =>
      val fn = reg(name)
      def span(kind: String): Unit = {
        val s = s"p${pass.index}/$kind/$name"
        trace.foreach(_.enter(s))
        sc.setLocalProperty(Trace.SpanKey, s)
      }
      span("construct")
      val t0 = now()
      val df =
        try Right(fn(spark, data))
        catch { case e: Throwable => Left(errorOf(e)) }
      val constructS = secs(t0)
      df match {
        case Left(err) => pass.queries += QueryRun(name, constructS, 0.0, Some(err))
        case Right(d) =>
          span("execute")
          val t1 = now()
          val err =
            try { d.write.format("noop").mode("overwrite").save(); None }
            catch { case e: Throwable => Some(errorOf(e)) }
          val executeS = secs(t1)
          span("check")
          val (t2, cpu2) = (now(), cpuSeconds())
          val checkErr = if (err.isDefined) err else
            try {
              pass.hashes(name) = digest(d)
              if (pass.index == 0) d.write.mode("overwrite").parquet(s"${a("work")}/results/$name")
              None
            } catch { case e: Throwable => Some("check: " + errorOf(e)) }
          pass.checkWallS += secs(t2)
          pass.checkCpuS += cpuSeconds() - cpu2
          pass.queries += QueryRun(name, constructS, executeS, checkErr)
      }
    }
  }

  // --------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap)
    val work = a("work")
    val workload = a("workload")
    val traced = a("trace") == "1"
    val loadStart = osBean.getSystemLoadAverage

    // set-up, several times: every session but the last is stopped again
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to a.int("setups")).foreach { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val (s, t) = setUp(a)
      spark = s
      setups += t
    }
    val trace = if (traced) Some(new Trace) else None
    trace.foreach { t =>
      spark.sparkContext.addSparkListener(t.sparkListener)
      spark.listenerManager.register(t.queryListener)
      spark.streams.addListener(t.streamingListener)
    }

    val inputs = a.list("inputs")
    val entries = a.list("entries")
    val maxPasses = if (workload == "wdi") inputs.size else Int.MaxValue
    val budget = a("seconds").toDouble
    val passes = mutable.ArrayBuffer.empty[PassRun]
    val start = now()
    val minPasses = a.int("minPasses")
    while (passes.size < maxPasses && (passes.size < minPasses || secs(start) < budget)) {
      val pass = new PassRun(passes.size)
      val i = pass.index
      if (workload == "registry")
        sys.props("graft.index.dir") = s"$work/index/pass_$i" // empty store each pass
      val (busy0, self0) = cpuTicks()
      val cpu0 = cpuSeconds()
      val gc0 = gcSeconds()
      val builds0 = graft.queries.VectorOps.storeBuildCount.get()
      val reuses0 = graft.queries.VectorOps.storeReuseCount.get()
      val t0 = now()
      workload match {
        case "wdi" => wdiPass(spark, inputs(i), s"$work/out/pass_$i", pass, trace)
        case "registry" => registryPass(spark, a("data"), entries, pass, a, trace)
      }
      pass.wallS = secs(t0) - pass.checkWallS
      pass.cpuS = cpuSeconds() - cpu0 - pass.checkCpuS
      pass.gcS = gcSeconds() - gc0
      val (busy1, self1) = cpuTicks()
      pass.extCores = Bench.externalCores(busy0, self0, busy1, self1, pass.wallS)
      pass.layers("queries.store_builds") =
        (graft.queries.VectorOps.storeBuildCount.get() - builds0).toDouble
      pass.layers("queries.store_reuses") =
        (graft.queries.VectorOps.storeReuseCount.get() - reuses0).toDouble
      trace.foreach(_.quiesce())
      passes += pass
    }
    // layer probes once, over the last (warmest) pass's input
    for (t <- trace if workload == "wdi") {
      val last = passes.last
      wdiProbes(spark, inputs(last.index), s"$work/probe_out", last, t)
      t.quiesce()
    }
    val rss = peakRssMb()
    // heap still live after the run (full collections, outside the timed
    // region): what the passes retained, e.g. cached cycle tables
    System.gc(); System.gc()
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val layerJson = trace.map { t =>
      passes.map { p =>
        val pre = s"p${p.index}/"
        val main = t.total(s => s.startsWith(pre) && !s.startsWith(pre + "probe") &&
          !s.startsWith(pre + "check"))
        val construct = t.total(_.startsWith(pre + "construct/"))
        val cores = a.int("cores")
        val l = p.layers
        l("spark.jobs") = main.jobs.toDouble
        l("spark.stages") = main.stages.toDouble
        l("spark.tasks") = main.tasks.toDouble
        l("spark.plan_s") = main.planMs / 1000.0
        l("spark.driver_only_s") = math.max(0.0, p.wallS - main.jobBusyMs / 1000.0)
        l("spark.slot_idle_frac") =
          math.max(0.0, 1.0 - main.taskWallMs / 1000.0 / (cores * p.wallS))
        l("spark.task_run_s") = main.taskRunMs / 1000.0
        l("spark.task_cpu_s") = main.taskCpuNs / 1e9
        l("spark.input_mb") = main.inputBytes / 1048576.0
        l("spark.shuffle_read_mb") = main.shuffleReadBytes / 1048576.0
        l("spark.shuffle_write_mb") = main.shuffleWriteBytes / 1048576.0
        l("spark.spill_mb") = main.spillBytes / 1048576.0
        l("spark.peak_exec_mem_mb") = main.peakExecMem / 1048576.0
        l("jvm.gc_s") = p.gcS
        l("queries.construct_s") = p.queries.map(_.constructS).sum
        l("queries.execute_s") = p.queries.map(_.executeS).sum
        l("queries.construct_jobs") = construct.jobs.toDouble
        l("streaming.batches") = main.batches.toDouble
        l("streaming.input_rows") = main.streamRows.toDouble
        l("streaming.plan_s") = main.streamPlanMs / 1000.0
        l("streaming.add_batch_s") = main.addBatchMs / 1000.0
        l("streaming.wal_commit_s") = main.walCommitMs / 1000.0
        l("streaming.state_commit_s") = main.stateCommitMs / 1000.0
        l.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
      }.mkString("[", ",", "]")
    }

    def q(r: QueryRun): String =
      s"""{"name":${Json.str(r.name)},"construct_s":${r.constructS},"execute_s":${r.executeS}""" +
        r.error.map(e => s""","error":${Json.str(e)}""").getOrElse("") + "}"
    val passJson = passes.map { p =>
      val hashes = p.hashes.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
        .mkString("{", ",", "}")
      s"""{"wall_s":${p.wallS},"cpu_s":${p.cpuS},"gc_s":${p.gcS},"ext_cores":${p.extCores},""" +
        s""""queries":${p.queries.map(q).mkString("[", ",", "]")},"hashes":$hashes}"""
    }.mkString("[", ",", "]")
    val oracle = entries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    val json = s"""{"setup_s":${setups.mkString("[", ",", "]")},"load_start":$loadStart,""" +
      s""""peak_rss_mb":$rss,"live_heap_mb":$liveHeapMb,"passes":$passJson,"layers":${layerJson.getOrElse("null")},""" +
      s""""oracle_sql":$oracle}"""
    spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/result.json"), json)
  }
}
