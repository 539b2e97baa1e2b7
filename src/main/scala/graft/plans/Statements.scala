package graft.plans

import graft.{functions => gf}
import graft.sources.{PdfParser, XlsxWriter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DoubleType}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

/** Pipeline 1 of the reference (`pdf_to_xlsx.py`, SURVEY.md §3.1):
  * statement-PDF extraction as one lazy plan —
  *
  *   binaryFile scan → per-file text extract ([[PdfParser]], executors)
  *   → regex section carve (F6) → regexp_extract_all + explode row
  *   tokenize (F7) → typed projection (C1 money clean, C5 Spanish dates)
  *   → [agg max(fecha) ‖ write] (S10 dynamic naming, S7 two-sheet sink)
  *
  * Stages 2..5 run inside one WholeStageCodegen span per sheet (regex
  * expressions are all built-ins); only the text extraction is JVM code,
  * one call per document. The driver collects exactly one scalar (the
  * max operation date, `pdf_to_xlsx.py:106-115`).
  */
object Statements {

  /** MSI row tokenizer — 7 groups (`pdf_to_xlsx.py:39-42`): date, desc,
    * three $ amounts, "N de M", rate%. `\s+` gaps let rows span the
    * one-token-per-line text the extractor emits.
    */
  val MsiPattern: String =
    """(?i)(\d{2}-[a-z]{3}-\d{4})\s+(.+?)\s+\$([\d,]+\.\d{2})\s+\$([\d,]+\.\d{2})\s+\$([\d,]+\.\d{2})\s+(\d+ de \d+)\s+([\d.]+%)"""

  /** Regular-charges row tokenizer — 4 groups (`pdf_to_xlsx.py:44-48`):
    * operation date, charge date, desc, signed amount.
    */
  val ComprasPattern: String =
    """(?i)(\d{2}-[a-z]{3}-\d{4})\s+(\d{2}-[a-z]{3}-\d{4})\s+(.+?)\s+([+-]\s*\$?[\d,]+\.\d{2})"""

  private[graft] val MsiSection =
    """(?is)COMPRAS Y CARGOS DIFERIDOS A MESES SIN INTERESES(.+?)COMPRAS Y CARGOS DIFERIDOS A MESES CON INTERESES"""
  private[graft] val ComprasSection =
    """(?is)CARGOS,COMPRAS Y ABONOS REGULARES\(NO A MESES\)(.+?)TOTAL CARGOS"""

  case class Extracted(msi: DataFrame, compras: DataFrame)

  /** Extract both statement tables from every .pdf under `path`. Output
    * carries `_file` and `_rownum` (match order within the file) ahead of
    * the reference's column names.
    */
  def extract(spark: SparkSession, path: String): Extracted = {
    val texts = pdfTexts(spark, path)
    Extracted(msi = msiTable(texts), compras = comprasTable(texts))
  }

  /** One row per document: (_file, text). The only non-codegen stage —
    * isolated here so everything downstream stays in WholeStageCodegen.
    */
  def pdfTexts(spark: SparkSession, path: String): DataFrame = {
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.pdf").load(path)
      .select("path", "content")
    implicit val enc = Encoders.tuple(Encoders.STRING, Encoders.STRING)
    files.map { r =>
      (r.getString(0), PdfParser.extractText(r.getAs[Array[Byte]](1)))
    }.toDF("_file", "text")
  }

  /** F7 row tokenize via the custom [[graft.expressions.RegexTokenize]]
    * Generator: ONE regex pass emits (_rownum, g1..gN) per match. The
    * composed-builtin twin below is the executable spec; `PdfSpec` pins
    * their equivalence on the real statement fixtures.
    */
  private[graft] def rows(texts: DataFrame, section: String,
                          rowPattern: String, nGroups: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    texts
      .select(col("_file"),
        regexp_extract(col("text"), section, 1).as("sec"))
      .select(col("_file"),
        column(graft.expressions.RegexTokenize(expression(col("sec")),
          org.apache.spark.sql.catalyst.expressions.Literal(rowPattern),
          nGroups)).as("_rownum" +: (1 to nGroups).map(i => s"g$i")))
  }

  /** The composed built-in form of [[rows]] (`posexplode` over
    * `regexp_extract_all` + one `regexp_extract` per group — the regex
    * runs 1+N times per row vs the Generator's once).
    */
  private[graft] def rowsComposed(texts: DataFrame, section: String,
                                  rowPattern: String, nGroups: Int): DataFrame =
    texts
      .select(col("_file"),
        regexp_extract(col("text"), section, 1).as("sec"))
      .select(col("_file"),
        posexplode(regexp_extract_all(col("sec"), lit(rowPattern), lit(0)))
          .as(Seq("pos", "row")))
      .select(col("_file") +: (col("pos") + 1).as("_rownum") +:
        (1 to nGroups).map(i =>
          regexp_extract(col("row"), rowPattern, i).as(s"g$i")): _*)

  /** `$1,234.56` → 1234.56 (`pdf_to_xlsx.py:67-69`). */
  private def money(c: org.apache.spark.sql.Column) =
    regexp_replace(c, "[$,]", "").cast(DoubleType)

  private def msiTable(texts: DataFrame): DataFrame =
    rows(texts, MsiSection, MsiPattern, 7).select(
      col("_file"), col("_rownum"),
      gf.statement_date(col("g1")).as("Fecha operación"),
      col("g2").as("Descripción"),
      money(col("g3")).as("Monto original"),
      money(col("g4")).as("Saldo pendiente"),
      money(col("g5")).as("Pago requerido"),
      col("g6").as("Núm. de pago"),
      col("g7").as("Tasa de interés aplicable"))

  private def comprasTable(texts: DataFrame): DataFrame =
    rows(texts, ComprasSection, ComprasPattern, 4).select(
      col("_file"), col("_rownum"),
      gf.statement_date(col("g1")).as("Fecha de la operación"),
      gf.statement_date(col("g2")).as("Fecha de cargo"),
      gf.clean_money(col("g4")).as("Pago requerido"),
      col("g3").as("Descripción"))

  /** S10 + S7: write `cargos_bbva_{max(fecha_oper):ddMMMyyyy}.xlsx` with
    * sheets msi/compras (`pdf_to_xlsx.py:106-128`). Returns the output
    * path. Single-scalar collect for the name; the sheet writes are the
    * driver-side parity sink (engine-native mode writes parquet twins).
    * `outDir` is created when it is missing.
    */
  def writeWorkbook(e: Extracted, outDir: String): String = {
    // only rows whose date PARSED feed the max (`pdf_to_xlsx.py:80-86`);
    // statement_date keeps those as ISO strings, raw tokens yield null
    // (try_cast: under ANSI mode a plain cast would throw on them)
    val maxDate = e.compras
      .agg(max(col("`Fecha de la operación`").try_cast(DateType))).head().getDate(0)
    val name = new java.text.SimpleDateFormat("ddMMMyyyy", java.util.Locale.ENGLISH)
      .format(maxDate)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val out = s"$outDir/cargos_bbva_$name.xlsx"
    def sheet(df: DataFrame) = df.orderBy("_file", "_rownum")
      .drop("_file", "_rownum")
    XlsxWriter.write(out, Seq("msi" -> sheet(e.msi), "compras" -> sheet(e.compras)))
    out
  }
}
