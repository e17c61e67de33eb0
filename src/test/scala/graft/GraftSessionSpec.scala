package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The session factory is the one place engine-wide settings live: pin what
  * it sets, and that nothing under `src/` builds a session around it. */
class GraftSessionSpec extends SparkSpec {

  test("the factory session carries the rule exclusion, UTC and nanosAsLong") {
    assert(spark.conf.get("spark.sql.optimizer.excludedRules")
      .contains("org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"))
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("GraftExtensions resolve vec_dot and pq_adc without GraftFunctions.register") {
    // a fresh session state carries no temp functions another spec registered
    val fresh = spark.newSession()
    val row = fresh.sql(
      """SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)),
        |       pq_adc(array(array(1.0d, 2.0d), array(3.0d, 4.0d)), array(1, 0))"""
        .stripMargin).head()
    assert(row.getDouble(0) == 11.0)
    assert(row.getDouble(1) == 5.0)
  }

  test("GraftSession.scala is the only session builder under src/") {
    val needle = Seq("SparkSession", "builder(").mkString(".")
    val hits = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .filter(p => Files.readString(p).contains(needle))
      .map((p: Path) => p.getFileName.toString).toSeq
    assert(hits == Seq("GraftSession.scala"), s"session builders: $hits")
  }
}
