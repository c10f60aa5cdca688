package graft.report

import org.apache.spark.sql.DataFrame
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

/** HTML report sink (SURVEY.md §2.6 S4/C4; reference
  * `modules/reporting.py:36-49`): template + JSON-ish summaries +
  * HTML-rendered table previews. The clock is injected so report output
  * is hash-stable under test (the reference reads the wall clock at
  * `modules/reporting.py:41`).
  *
  * Driver-side by design: tables are `limit(n)` previews, so the collect
  * is bounded regardless of input scale. Two halves: [[tableHtml]]
  * collects one preview, [[assemble]] owns the template, and [[render]]
  * is the two in sequence.
  */
object Html {

  private val ts = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  private def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** C4 table → HTML (`modules/reporting.py:30-34`). */
  def tableHtml(df: DataFrame, limit: Int = 20): String = {
    val rows = df.limit(limit).collect()
    val cols = df.columns
    val head = cols.map(c => s"<th>${escape(c)}</th>").mkString
    val body = rows.map { r =>
      val cells = cols.indices.map { i =>
        val v = if (r.isNullAt(i)) "null" else r.get(i).toString
        s"<td>${escape(v)}</td>"
      }.mkString
      s"<tr>$cells</tr>"
    }.mkString("\n")
    s"<table border=\"1\">\n<thead><tr>$head</tr></thead>\n<tbody>\n$body\n</tbody>\n</table>"
  }

  /** S4 report document. `summaries` are pre-serialized key→value blocks
    * (the reference json.dumps's its session summaries); each table
    * renders through [[tableHtml]] into [[assemble]]'s template. */
  def render(title: String,
             summaries: Seq[(String, String)],
             tables: Seq[(String, DataFrame)],
             limit: Int = 20,
             clock: () => Instant = () => Instant.now()): String =
    assemble(title, summaries,
      tables.map { case (name, df) => name -> tableHtml(df, limit) }, clock)

  /** The report template over tables already rendered by [[tableHtml]]:
    * a caller that collects its previews elsewhere (each on the thread
    * that produced the frame, as `GraftSession.runPipeline` does) gets
    * the same bytes [[render]] would give for the same tables. */
  def assemble(title: String,
               summaries: Seq[(String, String)],
               renderedTables: Seq[(String, String)],
               clock: () => Instant = () => Instant.now()): String = {
    val when = ts.format(clock())
    val summaryHtml = summaries.map { case (k, v) =>
      s"<section><h2>${escape(k)}</h2><pre>${escape(v)}</pre></section>"
    }.mkString("\n")
    val tablesHtml = renderedTables.map { case (name, html) =>
      s"<section><h2>${escape(name)}</h2>\n$html\n</section>"
    }.mkString("\n")
    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8"><title>${escape(title)}</title></head>
       |<body>
       |<h1>${escape(title)}</h1>
       |<p>Generated: $when</p>
       |$summaryHtml
       |$tablesHtml
       |</body></html>""".stripMargin
  }
}
