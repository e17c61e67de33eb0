package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Every main, tool and spec
  * gets its session here, so the engine-wide settings cannot drift apart:
  *
  *   - `InferFiltersFromGenerate` is excluded. The rule copies an explode's
  *     array expression into a `size(...) > 0` pre-filter, and predicate
  *     pushdown then re-inlines it BELOW the projection that materialized
  *     it — for shingle/gram arrays whose lambdas index a split() column,
  *     that re-evaluates the split per element, turning an O(n) doc pass
  *     into O(n^2) (measured 4.7 s -> 1.8 s on dedup_ngram_jaccard at
  *     sf0.1). The rule only prunes rows with empty/null source arrays,
  *     which our corpora don't have.
  *   - [[graft.functions.GraftExtensions]] injects the native SQL functions
  *     and the banded-range-join optimizer rule.
  *   - The session zone is UTC and parquet TIMESTAMP(NANOS) reads as a long
  *     (`nanosAsLong`): `Tables.events` branches on the loaded ts encoding
  *     and its NTZ branch throws by design without the UTC pin.
  *   - The UI is off, and shuffle partitions equal the core count.
  *
  * AQE is on by Spark's own default. r17 examined-and-REVERTED lowering its
  * coalescing floor (`coalescePartitions.minPartitionSize` 1m -> 16k): f10's
  * post-sort stage went 674 -> 274 ms, but the family-level A/B read a
  * wash-to-loss (relational micro 45.7 s vs 46.9 s), so the default stays.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, or every available processor when it is unset. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cores]` session, or one on `master` when given. */
  def apply(cores: Int = defaultCores, master: Option[String] = None): SparkSession = {
    val s = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
