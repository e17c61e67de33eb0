package graft.wdi

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** End-to-end golden tests: every output of all four pipelines against the
  * reference's 28 committed CSVs, cell-by-cell at tight relative tolerance.
  *
  * quad/dlog are closed-form / built-in math → 1e-9; the HP variants go
  * through the banded Cholesky solve vs R's dense solve (measured max rel
  * error: λ=100 1.3e-11, λ=6.25 1.9e-9) → 1e-9 / 1e-8.
  */
class WdiGoldenSpec extends SparkSpec {

  import WdiSchemas.RefDir

  private def loadGolden(stem: String): Map[String, Map[String, Double]] = {
    val lines = scala.io.Source.fromFile(s"$RefDir/$stem.csv").getLines().toSeq
    val header = lines.head.split(",", -1)
    val keyCols = header.takeWhile(c => c == "Country Code" || c == "Region")
    lines.tail.map { ln =>
      // RFC-4180: region names contain no commas in these files except inside
      // quotes — goldens quote "Latin America & Caribbean"? They don't
      // (no commas in values), so plain split is exact.
      val cells = ln.split(",", -1)
      val key = cells.take(keyCols.length).mkString("|")
      val vals = header.zip(cells).drop(keyCols.length)
        .map { case (h, v) => h -> v.toDouble }.toMap
      key -> vals
    }.toMap
  }

  private def checkVariant(v: WdiPipelines.Variant, tol: Double): Unit = {
    val outs = WdiPipelines.outputs(spark, RefDir, v)
    outs.foreach { case (stem, df) =>
      val golden = loadGolden(stem)
      val perCountry = stem.contains("by_country")
      val rows = df.collect()
      assert(rows.length == golden.size, s"$stem row count")
      rows.foreach { r =>
        val key =
          if (perCountry) s"${r.getAs[String]("Country Code")}|${r.getAs[String]("Region")}"
          else r.getAs[String]("Region")
        val want = golden.getOrElse(key, fail(s"$stem: unexpected key $key"))
        want.foreach { case (colName, expected) =>
          val got = r.getAs[Double](colName)
          val rel = math.abs(got - expected) /
            math.max(1e-12, math.abs(expected))
          assert(rel <= tol,
            s"$stem $key.$colName: got $got want $expected (rel=$rel)")
        }
      }
    }
  }

  test("log-quadratic pipeline matches all 7 goldens at 1e-9") {
    checkVariant(WdiPipelines.quad, 1e-9)
  }

  test("dlog pipeline matches all 7 goldens at 1e-9") {
    checkVariant(WdiPipelines.dlog, 1e-9)
  }

  test("HP lambda=100 pipeline matches all 7 goldens at 1e-9") {
    checkVariant(WdiPipelines.hp100, 1e-9)
  }

  test("HP lambda=6.25 pipeline matches all 7 goldens at 1e-8") {
    checkVariant(WdiPipelines.hp625, 1e-8)
  }

  test("front half survivor set is the 45 golden countries with no null Region") {
    val wide = WdiEtl.frontHalf(spark, RefDir)
    val countries = wide.select("Country Code").distinct()
      .collect().map(_.getString(0)).sorted
    val goldenCountries = loadGolden("sd_by_country_logquad").keys
      .map(_.split('|').head).toSeq.sorted
    assert(countries.toSeq == goldenCountries)
    assert(wide.filter(col("Region").isNull).count() == 0)
  }
}
