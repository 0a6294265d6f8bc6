package graft.sources

import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S13 (SURVEY.md §2.1; tsv_to_mudata.py:182-200 `pd.read_excel(...,
  * header=None)`): minimal XLSX reader using only the JDK — an .xlsx is
  * a zip of XML parts; we read `xl/sharedStrings.xml` plus EVERY
  * worksheet (resolved through `xl/workbook.xml` + its .rels so sheet
  * names and workbook order are honored, like pandas `sheet_name=None`),
  * returning all cells as strings with positional columns (`c0..cN`,
  * header=None semantics like the reference).
  *
  * The reference only reads small `*objects*.xlsx` config workbooks, so
  * parsing happens where the bytes are (one task per file via the
  * binaryFile source); this is not a bulk-data path.
  */
object Xlsx {

  /** Parse one workbook's bytes → sheets in workbook order, each
    * (sheet_name, rows of cell strings). Sheet names and order come from
    * `xl/workbook.xml` (resolved to worksheet parts via the workbook
    * .rels); workbooks without one (bare zips) fall back to
    * `xl/worksheets/sheetN.xml` in numeric order.
    */
  def parseSheets(bytes: Array[Byte]): Seq[(String, Seq[Seq[String]])] = {
    val parts = mutable.LinkedHashMap.empty[String, String]
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    try {
      var e = zin.getNextEntry
      while (e != null) {
        val name = e.getName
        if (name == "xl/sharedStrings.xml" || name == "xl/workbook.xml" ||
            name == "xl/_rels/workbook.xml.rels" || name.startsWith("xl/worksheets/"))
          parts(name) = new String(zin.readAllBytes(), "UTF-8")
        e = zin.getNextEntry
      }
    } finally zin.close()
    val shared = parts.get("xl/sharedStrings.xml").map(extractSharedStrings)
      .getOrElse(IndexedSeq.empty)

    val ordered: Seq[(String, String)] = // (sheetName, partPath)
      (parts.get("xl/workbook.xml"), parts.get("xl/_rels/workbook.xml.rels")) match {
        case (Some(wb), Some(rels)) =>
          val targets = RelElemRe.findAllMatchIn(rels).flatMap { m =>
            for {
              id <- RelIdAttr.findFirstMatchIn(m.group(1)).map(_.group(1))
              t <- RelTargetAttr.findFirstMatchIn(m.group(1)).map(_.group(1))
            } yield id -> t
          }.toMap
          SheetRe.findAllMatchIn(wb).flatMap { m =>
            val attrs = m.group(1)
            val name = NameAttr.findFirstMatchIn(attrs).map(x => unescape(x.group(1)))
            val rid = RidAttr.findFirstMatchIn(attrs).map(_.group(1))
            for {
              n <- name
              r <- rid
              t <- targets.get(r)
            } yield n -> ("xl/" + t.stripPrefix("/xl/").stripPrefix("xl/"))
          }.toSeq
        case _ =>
          parts.keys.filter(_.matches("xl/worksheets/sheet\\d+\\.xml")).toSeq
            .sortBy(p => "\\d+".r.findFirstIn(p).map(_.toInt).getOrElse(0))
            .map(p => p.stripPrefix("xl/worksheets/").stripSuffix(".xml") -> p)
      }
    ordered.flatMap { case (name, path) =>
      parts.get(path).map(xml => name -> extractRows(xml, shared))
    }
  }

  /** First sheet only (the reference's default `pd.read_excel` path). */
  def parseFirstSheet(bytes: Array[Byte]): Seq[Seq[String]] =
    parseSheets(bytes).headOption.map(_._2).getOrElse(Seq.empty)

  private val SiRe = "(?s)<si>(.*?)</si>".r
  private val TRe = "(?s)<t[^>]*>(.*?)</t>".r
  private val RowRe = "(?s)<row[^>]*>(.*?)</row>".r
  private val CellRe = """(?s)<c(?:\s+([^>]*))?>(.*?)</c>""".r
  private val RefAttr = """r="([A-Z]+)(\d+)"""".r
  private val TypeAttr = """t="([a-z]+)"""".r
  private val VRe = "(?s)<v>(.*?)</v>".r
  private val SheetRe = """<sheet\s+([^>]*?)/?>""".r
  private val NameAttr = """name="([^"]*)"""".r
  // any-prefix relationship id: producers emit r:id, d2p1:id, etc.
  private val RidAttr = """(?:\w+:)?id="([^"]*)"""".r
  // attribute order inside <Relationship> is producer-dependent, so
  // match the element and pull Id/Target out independently
  private val RelElemRe = """<Relationship\s+([^>]*?)/?>""".r
  private val RelIdAttr = """\bId="([^"]*)"""".r
  private val RelTargetAttr = """\bTarget="([^"]*)"""".r

  private def extractSharedStrings(xml: String): IndexedSeq[String] =
    SiRe.findAllMatchIn(xml).map { m =>
      TRe.findAllMatchIn(m.group(1)).map(_.group(1)).mkString
    }.map(unescape).toIndexedSeq

  private def colIndex(ref: String): Int =
    ref.foldLeft(0)((acc, c) => acc * 26 + (c - 'A' + 1)) - 1

  private def extractRows(xml: String, shared: IndexedSeq[String]): Seq[Seq[String]] = {
    val rows = mutable.ArrayBuffer.empty[Seq[String]]
    for (rm <- RowRe.findAllMatchIn(xml)) {
      val cells = mutable.ArrayBuffer.empty[(Int, String)]
      var autoIdx = 0
      for (cm <- CellRe.findAllMatchIn(rm.group(1))) {
        val attrs = Option(cm.group(1)).getOrElse("")
        val idx = RefAttr.findFirstMatchIn(attrs).map(m => colIndex(m.group(1))).getOrElse(autoIdx)
        autoIdx = idx + 1
        val typ = TypeAttr.findFirstMatchIn(attrs).map(_.group(1)).getOrElse("n")
        val raw = VRe.findFirstMatchIn(cm.group(2)).map(_.group(1))
          .orElse(TRe.findFirstMatchIn(cm.group(2)).map(_.group(1)))
          .getOrElse("")
        val value = typ match {
          case "s" => raw.toIntOption.flatMap(shared.lift).getOrElse("")
          case _ => unescape(raw)
        }
        cells += ((idx, value))
      }
      val width = cells.map(_._1).maxOption.map(_ + 1).getOrElse(0)
      val row = Array.fill(width)("")
      cells.foreach { case (i, v) => row(i) = v }
      rows += row.toSeq
    }
    rows.toSeq
  }

  private def unescape(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&apos;", "'").replace("&amp;", "&")

  /** Read xlsx files under a path → DataFrame (path, sheet, row_idx,
    * c0..cN) — every sheet of every workbook, header=None semantics, all
    * strings.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.xlsx").load(path)
      .select("path", "content").as[(String, Array[Byte])]
    val rows = files.flatMap { case (p, bytes) =>
      parseSheets(bytes).flatMap { case (sheet, sheetRows) =>
        sheetRows.zipWithIndex.map { case (cells, i) => (p, sheet, i.toLong, cells) }
      }
    }.toDF("path", "sheet", "row_idx", "cells")
    // coalesce: max() over zero rows (no matching workbooks) is null
    val maxW = rows.agg(org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.size(org.apache.spark.sql.functions.col("cells"))),
        org.apache.spark.sql.functions.lit(0)))
      .head().getInt(0)
    // try_element_at: rows are ragged (a cell in column C doesn't imply
    // A/B exist in that row) and ANSI element_at throws out-of-bounds
    val cols = (0 until math.max(maxW, 1)).map(i =>
      org.apache.spark.sql.functions.try_element_at(
        org.apache.spark.sql.functions.col("cells"),
        org.apache.spark.sql.functions.lit(i + 1)).as(s"c$i"))
    rows.select((Seq(org.apache.spark.sql.functions.col("path"),
      org.apache.spark.sql.functions.col("sheet"),
      org.apache.spark.sql.functions.col("row_idx")) ++ cols): _*)
  }
}
