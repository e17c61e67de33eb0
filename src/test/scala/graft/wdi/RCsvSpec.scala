package graft.wdi

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Byte-level parity of the R-style CSV sink. */
class RCsvSpec extends SparkSpec {

  import WdiSchemas.RefDir
  private val goldenFiles =
    for {
      stat <- Seq("sd_by_country", "sd_by_region", "sd_ratio_by_region",
        "corr_by_country", "corr_by_region", "acf_by_country", "acf_by_region")
      v <- Seq("logquad", "hp", "hp625", "dlog")
    } yield s"${stat}_$v"

  test("formatDouble reproduces every numeric cell of all 28 goldens byte-exactly") {
    var cells = 0
    goldenFiles.foreach { stem =>
      val lines = scala.io.Source.fromFile(s"$RefDir/$stem.csv").getLines().toSeq
      lines.tail.foreach { ln =>
        ln.split(",", -1).foreach { cell =>
          val isNumeric = cell.nonEmpty &&
            cell.exists(c => c.isDigit) && !cell.exists(c => c.isLetter && c != 'e')
          if (isNumeric) {
            val v = java.lang.Double.parseDouble(cell)
            assert(RCsv.formatDouble(v) == cell,
              s"$stem: formatted ${RCsv.formatDouble(v)} want $cell")
            cells += 1
          }
        }
      }
    }
    assert(cells > 1500, s"only $cells numeric cells checked")
  }

  test("formatDouble edge cases") {
    assert(RCsv.formatDouble(0.0) == "0")
    assert(RCsv.formatDouble(5.0) == "5")
    assert(RCsv.formatDouble(-5.0) == "-5")
    assert(RCsv.formatDouble(0.001) == "0.001")
    assert(RCsv.formatDouble(0.0001) == "1e-4")
    assert(RCsv.formatDouble(1.5e20) == "1.5e+20")
    assert(RCsv.formatDouble(Double.NaN) == "NA")
    assert(RCsv.formatDouble(100.25) == "100.25")
  }

  test("formatDouble round-trips 1M random bit patterns (incl. subnormals)") {
    val rng = new java.util.SplittableRandom(123)
    var i = 0
    var checked = 0
    while (i < 1000000) {
      val d = java.lang.Double.longBitsToDouble(rng.nextLong())
      if (!d.isNaN && !d.isInfinite) {
        val s = RCsv.formatDouble(d)
        val back = java.lang.Double.parseDouble(s)
        assert(back == d, s"$d -> $s -> $back")
        checked += 1
      }
      i += 1
    }
    assert(checked > 900000)
  }

  test("end-to-end sink: sd_by_country_dlog file matches golden shape and values") {
    val out = WdiPipelines
      .outputs(spark, RefDir, WdiPipelines.dlog)("sd_by_country_dlog")
      .orderBy(col("Country Code"))
    val tmp = java.nio.file.Files.createTempDirectory("rcsvtest").toString
    val path = s"$tmp/sd_by_country_dlog.csv"
    RCsv.write(out, path)
    val got = scala.io.Source.fromFile(path).getLines().toSeq
    val want = scala.io.Source.fromFile(s"$RefDir/sd_by_country_dlog.csv").getLines().toSeq
    assert(got.length == want.length)
    assert(got.head == want.head, s"header ${got.head}")
    got.tail.zip(want.tail).foreach { case (g, w) =>
      val gc = g.split(",", -1)
      val wc = w.split(",", -1)
      assert(gc.take(2).sameElements(wc.take(2)), s"keys $g vs $w")
      gc.drop(2).zip(wc.drop(2)).foreach { case (a, b) =>
        val (x, y) = (a.toDouble, b.toDouble)
        assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)), s"$a vs $b")
      }
    }
  }
}
