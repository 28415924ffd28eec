package graft.sources

import org.apache.spark.sql.DataFrame

/** Raw-input probing utilities — the reference's header-row autodetection and
  * month-column predicate (SURVEY.md §2.1 S6, §2.2 P3). These run on the
  * first [[MaxScan]] rows of a file or sheet, read on the driver by design:
  * schema discovery is a metadata operation, not a distributed scan.
  */
object Probe {

  private val monthPattern = "\\d{4}-\\d{2}".r

  /** Raw rows the header probe reads from the head of a file or sheet. */
  val MaxScan = 20

  /** S6: find the header row in the first [[MaxScan]] raw rows — a row
    * containing both GRUPO and VARIAVEL tokens, or any `YYYY-MM` cell;
    * defaults to row 8 like the reference
    * (/root/reference/etl/etl_ida.py:259-274). */
  def findHeaderRow(rows: Seq[Seq[Any]], default: Int = 8): Int = {
    val scan = rows.take(MaxScan)
    scan.indexWhere { cells =>
      val vals = cells.map(c => Option(c).map(_.toString).getOrElse(""))
      val joined = vals.mkString(" ").toUpperCase
      (joined.contains("GRUPO") && joined.contains("VARI")) ||
        vals.exists(v => monthPattern.findFirstIn(v).isDefined)
    } match {
      case -1 => default
      case i  => i
    }
  }

  /** P3: a column name is a month column iff it parses as `YYYY-MM` with
    * 2000 <= y <= 2030 and 1 <= m <= 12
    * (/root/reference/etl/etl_ida.py:380-396). */
  def isMonthColumn(name: String): Boolean = {
    val t = name.trim
    t.length >= 7 && monthPattern.findPrefixOf(t).isDefined && {
      val y = t.substring(0, 4).toInt
      val m = t.substring(5, 7).toInt
      y >= 2000 && y <= 2030 && m >= 1 && m <= 12
    }
  }

  /** Month columns of a wide frame, in schema order (drives R1 unpivot). */
  def monthColumns(df: DataFrame): Seq[String] =
    df.columns.filter(isMonthColumn).toSeq
}
