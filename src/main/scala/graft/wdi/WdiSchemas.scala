package graft.wdi

import org.apache.spark.sql.types._

/** Explicit schemas for the WDI wide-by-year CSV extracts.
  *
  * The reference infers these with `readr::read_csv`
  * (detrendandstat_quad.R:4-6); we declare them for determinism. Layout per
  * GDP_SSA_WDI.csv:1 — four string id columns then 60 double year columns
  * ("1960".."2019"), missing values encoded as empty cells (→ null).
  */
object WdiSchemas {
  /** The paper's reference directory: the three WDI input CSVs and the 28
    * golden output CSVs. Every default input path and golden check reads it. */
  val RefDir = "/root/reference"

  val YearStart = 1960
  val YearEnd   = 2019
  val yearCols: Seq[String] = (YearStart to YearEnd).map(_.toString)

  val wideSchema: StructType = StructType(
    Seq(
      StructField("Country Name", StringType),
      StructField("Country Code", StringType),
      StructField("Series Name", StringType),
      StructField("Series Code", StringType)
    ) ++ yearCols.map(y => StructField(y, DoubleType))
  )

  /** Series-code → short variable recode (detrendandstat_quad.R:9-16). */
  val seriesToVariable: Seq[(String, String)] = Seq(
    "NE.EXP.GNFS.ZS" -> "Xper", // exports % of GDP
    "NY.GDP.PCAP.KN" -> "Y",    // GDP per capita, constant LCU
    "NE.GDI.TOTL.ZS" -> "Iper", // gross capital formation % of GDP
    "NE.CON.PRVT.ZS" -> "Cper", // household consumption % of GDP
    "NE.IMP.GNFS.ZS" -> "Mper"  // imports % of GDP
  )

  val variables: Seq[String] = Seq("Y", "Cper", "Iper", "Xper", "Mper")

  /** Minimum consecutive valid years for a run to survive cleaning
    * (detrendandstat_quad.R:97). Coincidentally equal to [[MinDetrendObs]];
    * kept separate so the thresholds can diverge safely. */
  val MinConsecutiveRun = 30

  /** Minimum finite observations for a detrend kernel to fit
    * (detrendandstat_quad.R:135, dtrendandstat_HP100.R:139). */
  val MinDetrendObs = 30
}
