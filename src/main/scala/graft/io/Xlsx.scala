package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.util.zip.ZipFile
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import scala.collection.mutable

/** Minimal OOXML (.xlsx) sheet reader — zip + StAX, zero external
  * dependencies. Eight of the reference's staged aux sources are xlsx
  * workbooks (`/root/reference/ref/xlsx_*.xlsx`, e.g.
  * `xlsx_nyc_econ_data_by_nta.xlsx` with `final_data` / `Dictionary`
  * sheets); this feeds them into the same dictionary-driven staging
  * path as the CSVs ([[DictionaryIngest]]).
  *
  * Supported cell encodings (everything the reference workbooks use):
  * shared strings (`t="s"`), formula/literal strings (`t="str"`),
  * inline strings (`t="inlineStr"`), booleans (`t="b"`), and raw
  * numbers; formula bodies (`<f>`) are skipped, cached `<v>` results
  * kept. Rich-text shared strings concatenate their runs.
  *
  * Scale note: xlsx is a STAGING format — single-digit-MB civic
  * uploads read once on the driver (exactly like
  * [[DictionaryIngest.readDictionary]]'s collect-by-contract) and
  * land in parquet; big data never arrives as xlsx.
  * Declared by SURVEY "Beyond `queries` (round 3)", graft.io.Xlsx.
  */
object Xlsx {

  private val factory = {
    val f = XMLInputFactory.newInstance()
    // not strictly needed for trusted fixtures, but xlsx from civic
    // portals is untrusted input: no DTDs, no external entities
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  private def withZip[T](path: String)(body: ZipFile => T): T = {
    val zip = new ZipFile(path)
    try body(zip) finally zip.close()
  }

  private def withXml[T](zip: ZipFile, entry: String)(body: XMLStreamReader => T): T = {
    val e = zip.getEntry(entry)
    require(e != null, s"xlsx entry not found: $entry")
    val in = zip.getInputStream(e)
    val r = factory.createXMLStreamReader(in)
    try body(r) finally { r.close(); in.close() }
  }

  /** Sheet names in workbook order (tab order). */
  def sheetNames(path: String): Seq[String] = withZip(path) { zip =>
    sheetsWithRelIds(zip).map(_._1)
  }

  private def sheetsWithRelIds(zip: ZipFile): Seq[(String, String)] =
    withXml(zip, "xl/workbook.xml") { r =>
      val out = mutable.ArrayBuffer.empty[(String, String)]
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT &&
            r.getLocalName == "sheet") {
          val name = r.getAttributeValue(null, "name")
          // r:id lives in the relationships namespace
          val rid = (0 until r.getAttributeCount)
            .find(i => r.getAttributeLocalName(i) == "id")
            .map(r.getAttributeValue).orNull
          if (name != null && rid != null) out += name -> rid
        }
      }
      out.toSeq
    }

  private def sheetEntry(zip: ZipFile, sheet: String): String = {
    val sheets = sheetsWithRelIds(zip)
    val rid = sheets.collectFirst { case (n, id) if n == sheet => id }
      .getOrElse(throw new NoSuchElementException(
        s"sheet '$sheet' not in workbook (have: ${sheets.map(_._1).mkString(", ")})"))
    val target = withXml(zip, "xl/_rels/workbook.xml.rels") { r =>
      var t: String = null
      while (r.hasNext && t == null) {
        if (r.next() == XMLStreamConstants.START_ELEMENT &&
            r.getLocalName == "Relationship" &&
            r.getAttributeValue(null, "Id") == rid)
          t = r.getAttributeValue(null, "Target")
      }
      require(t != null, s"no relationship for sheet '$sheet' ($rid)")
      t
    }
    if (target.startsWith("/")) target.drop(1) else s"xl/$target"
  }

  private def sharedStrings(zip: ZipFile): IndexedSeq[String] = {
    if (zip.getEntry("xl/sharedStrings.xml") == null) return IndexedSeq.empty
    withXml(zip, "xl/sharedStrings.xml") { r =>
      val out = mutable.ArrayBuffer.empty[String]
      val cur = new StringBuilder
      var inT = false
      var inPhonetic = false // <rPh>/<rPhoneticPr>: furigana hints, NOT cell text
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "si" =>
          cur.clear()
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "rPh" =>
          inPhonetic = true
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "t" =>
          inT = !inPhonetic
        case XMLStreamConstants.CHARACTERS if inT =>
          cur.append(r.getText)
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "t" =>
          inT = false
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "rPh" =>
          inPhonetic = false
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "si" =>
          out += cur.toString // rich-text runs concatenated (rPh excluded)
        case _ =>
      }
      out.toIndexedSeq
    }
  }

  /** "BC7" -> 54 (0-based column index). */
  private[graft] def colIndex(ref: String): Int = {
    var i = 0; var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1); i += 1
    }
    acc - 1
  }

  /** Read one sheet as string cells (null = empty cell), every row
    * padded to the sheet's max width. Driver-side by contract. */
  def readSheet(path: String, sheet: String): Seq[Array[String]] =
    withZip(path) { zip =>
      val sst = sharedStrings(zip)
      withXml(zip, sheetEntry(zip, sheet)) { r =>
        val rows = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[(Int, String)]]
        var row: mutable.ArrayBuffer[(Int, String)] = null
        var cellCol = -1
        var nextCol = 0 // next column for ref-less <c> — counts EVERY
                        // cell, including empty ones (inferring from the
                        // last KEPT cell would shift values left past
                        // blanks and land them under the wrong header)
        var cellType = ""
        var inV = false
        var inIs = false
        var inF = false
        val v = new StringBuilder
        while (r.hasNext) r.next() match {
          case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
            case "row" => row = mutable.ArrayBuffer.empty; nextCol = 0
            case "c" if row != null =>
              val ref = r.getAttributeValue(null, "r")
              cellCol = if (ref != null) colIndex(ref) else nextCol
              cellType = Option(r.getAttributeValue(null, "t")).getOrElse("n")
              v.clear()
            case "f" => inF = true  // formula body: skip, keep cached <v>
            case "is" => inIs = true
            case "v" if !inF => inV = true; v.clear()
            case "t" if inIs => inV = true
            case _ =>
          }
          case XMLStreamConstants.CHARACTERS if inV => v.append(r.getText)
          case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
            case "f" => inF = false
            case "v" | "t" => inV = false
            case "is" => inIs = false
            case "c" if row != null && cellCol >= 0 =>
              val raw = v.toString
              val value = cellType match {
                case _ if raw.isEmpty => null
                case "s" => sst(raw.trim.toInt)
                case "b" => if (raw.trim == "1") "true" else "false"
                case _ => raw // "str", "inlineStr", numbers: as written
              }
              if (value != null) row += cellCol -> value
              nextCol = cellCol + 1
              cellCol = -1
            case "row" =>
              rows += row; row = null
            case _ =>
          }
          case _ =>
        }
        val width = (0 +: rows.map(r => if (r.isEmpty) 0 else r.map(_._1).max + 1).toSeq).max
        rows.map { cells =>
          val arr = new Array[String](width)
          cells.foreach { case (i, s) => if (i < width) arr(i) = s }
          arr
        }.toSeq
      }
    }

  /** Sheet -> DataFrame: first non-empty row is the header, every
    * column StringType (typing happens downstream via a dictionary —
    * never autodetect on civic uploads, same rule as the CSV path). */
  def readSheetDF(spark: SparkSession, path: String, sheet: String): DataFrame = {
    val all = readSheet(path, sheet).dropWhile(_.forall(_ == null))
    require(all.nonEmpty, s"sheet '$sheet' in $path has no non-empty rows")
    val header = all.head.zipWithIndex.map {
      case (h, i) => if (h == null || h.trim.isEmpty) s"_c$i" else h.trim
    }
    val schema = StructType(header.map(StructField(_, StringType, nullable = true)))
    val rows = all.tail.map(a =>
      org.apache.spark.sql.Row.fromSeq(a.toSeq.padTo(header.length, null)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList), schema)
  }

  /** Read a dictionary SHEET (the xlsx twin of
    * [[DictionaryIngest.readDictionary]]): `nameCol`/`typeCol` pick the
    * dictionary's header names (reference workbooks vary —
    * "Field Name"/"Data type", "column_name"/"type", ...). */
  def readDictionarySheet(path: String, sheet: String,
                          nameCol: String, typeCol: String): Seq[(String, String)] = {
    val all = readSheet(path, sheet).dropWhile(_.forall(_ == null))
    require(all.nonEmpty, s"dictionary sheet '$sheet' is empty")
    val header = all.head.map(h => if (h == null) "" else h.trim)
    val ni = header.indexOf(nameCol)
    val ti = header.indexOf(typeCol)
    require(ni >= 0 && ti >= 0,
      s"dictionary sheet '$sheet' lacks '$nameCol'/'$typeCol' " +
        s"(have: ${header.mkString(", ")})")
    all.tail.collect {
      case row if row.length > ni && row(ni) != null && row(ni).trim.nonEmpty =>
        (row(ni).trim, if (row.length > ti && row(ti) != null) row(ti) else "string")
    }
  }

  /** Apply a dictionary schema to a string-typed sheet DataFrame with
    * the CSV path's quarantine semantics: values that fail their
    * declared cast land the whole ROW's raw form in `_corrupt_record`
    * (try_cast, so ANSI mode doesn't abort the scan), good rows get
    * typed columns. */
  /** Typed value of one string cell column. Date/timestamp columns also
    * accept xlsx DATE SERIALS (days since 1899-12-30, time as the
    * fractional day) — that is how xlsx physically stores dates, so a
    * dictionary-declared Date column over a raw workbook would
    * otherwise quarantine 100% of its rows. ISO strings are tried
    * first; 25569 = serial of 1970-01-01. */
  private def typedCell(name: String, dt: DataType): Column = {
    // purely-numeric strings MUST take the serial path: Spark's
    // try_cast happily parses "45061" as the YEAR 45061 for both date
    // and timestamp, so a coalesce(direct-cast, serial) would silently
    // produce year-45061 dates instead of 2023-05-15
    val isSerial = col(name).rlike("^-?[0-9]+(\\.[0-9]+)?$")
    dt match {
      case DateType =>
        when(isSerial,
          date_add(lit(java.sql.Date.valueOf("1899-12-30")),
            floor(col(name).try_cast(DoubleType)).cast(IntegerType)))
          .otherwise(col(name).try_cast(DateType))
      case TimestampType =>
        // xlsx serials encode timezone-LESS local datetimes; build the
        // timestamp from wall-clock components so it lands in the
        // session timezone like the ISO-string path does (epoch
        // arithmetic via timestamp_seconds would shift serial values by
        // the session offset relative to string inputs). Identical under
        // a UTC session.
        val serial = col(name).try_cast(DoubleType)
        val day0 = date_add(lit(java.sql.Date.valueOf("1899-12-30")),
          floor(serial).cast(IntegerType))
        val totSecs = round((serial - floor(serial)) * 86400).cast(LongType)
        // 0.9999999-day fractions round to 86400s — roll into the date
        val day = date_add(day0, (totSecs / 86400).cast(IntegerType))
        val rem = totSecs % 86400
        when(isSerial,
          make_timestamp(year(day), month(day), dayofmonth(day),
            (rem / 3600).cast(IntegerType),
            ((rem % 3600) / 60).cast(IntegerType),
            (rem % 60).cast(DecimalType(16, 6))))
          .otherwise(col(name).try_cast(TimestampType))
      case _ => col(name).try_cast(dt)
    }
  }

  def castWithDictionary(df: DataFrame, dict: Seq[(String, String)]): DataFrame = {
    val typed = dict.map { case (name, t) =>
      typedCell(name, DictionaryIngest.toSparkType(t)).as(name)
    }
    val corrupt = dict.map { case (name, t) =>
      col(name).isNotNull &&
        typedCell(name, DictionaryIngest.toSparkType(t)).isNull
    }.reduce(_ || _)
    df.select(typed :+
      when(corrupt, to_json(struct(dict.map(d => col(d._1)): _*)))
        .as("_corrupt_record"): _*)
  }
}
