package graft

import java.nio.file.{Files, Paths}

import graft.{functions => gf}
import graft.plans.Statements
import org.apache.spark.sql.functions._

/** Statement-pipeline contracts that need no PDF input: the session
  * dialect does not change `statement_date`, and the workbook sink makes
  * its own output directory.
  */
class StatementsSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` with ANSI mode set to `on`, restoring the suite's dialect. */
  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", on.toString)
    try body finally spark.conf.set("spark.sql.ansi.enabled", before)
  }

  test("statement_date gives the same answer with and without ANSI mode") {
    val tokens = Seq("17-sep-2025", "03-ene-2025", "15-abr-2025", "01-ago-2025",
      "24-dic-2025", "05-FEB-2025", "not a date")
    def run() = tokens.toDF("t").select(gf.statement_date(col("t")))
      .as[String].collect().toSeq
    val expected = Seq("2025-09-17", "03-ene-2025", "15-abr-2025", "01-ago-2025",
      "24-dic-2025", "2025-02-05", "not a date")
    assert(withAnsi(on = true)(run()) == expected)
    assert(withAnsi(on = false)(run()) == expected)
  }

  test("writeWorkbook creates a missing output directory") {
    val compras = Seq(("a.pdf", 1L, "2025-09-17", "-", 120.5, "TIENDA"),
        ("a.pdf", 2L, "24-dic-2025", "-", 80.0, "OTRA"))
      .toDF("_file", "_rownum", "Fecha de la operación", "Fecha de cargo",
        "Pago requerido", "Descripción")
    val msi = Seq(("a.pdf", 1L, "2025-08-01", "PLAN", 900.0))
      .toDF("_file", "_rownum", "Fecha operación", "Descripción", "Monto original")
    val out = Paths.get(Files.createTempDirectory("statements").toString, "not", "yet")
    // ANSI on: the raw "24-dic-2025" token must not fail the max date
    val path = withAnsi(on = true)(
      Statements.writeWorkbook(Statements.Extracted(msi, compras), out.toString))
    assert(path == s"$out/cargos_bbva_17Sep2025.xlsx")
    assert(Files.isRegularFile(Paths.get(path)))
  }
}
