package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DoubleType, LongType, StringType}

/** graft.functions — the engine's scalar-function library.
  *
  * Every function re-expresses one scalar semantic of the reference
  * (see SURVEY.md §2.7, C1–C14) as a composed, codegen-friendly Column
  * expression — no Scala UDFs, so the whole chain stays inside
  * WholeStageCodegen and Catalyst can constant-fold / push down through it.
  *
  * Reference citations are to /root/reference (read-only snapshot).
  */
package object functions {

  // ---------------------------------------------------------------------
  // Null handling (C2/C4) — reference `utils_tools.py:55-64`,
  // `import_files_to_postgre.py:132`
  // ---------------------------------------------------------------------

  /** Sentinel tokens the reference unifies to NULL (case-insensitive). */
  private val nullSentinels = Seq("", "none", "nan")

  /** C2 `safe_convert_to_float` (`utils_tools.py:55-64`): None/NaN/'none'/
    * 'nan'/'' → NULL; EU decimal comma `,`→`.`; unparseable → NULL
    * (Spark's cast-to-double is null-on-fail, matching the except branch).
    */
  def safe_float(c: Column): Column = {
    val s = trim(c.cast(StringType))
    when(s.isNull || lower(s).isin(nullSentinels: _*), lit(null).cast(DoubleType))
      .otherwise(regexp_replace(s, ",", ".").cast(DoubleType))
  }

  /** C4 null normalization (`import_files_to_postgre.py:132`): string
    * sentinels 'None'/'none'/'NONE' (plus NaN textualizations) → NULL.
    */
  def normalize_null(c: Column): Column = {
    val s = c.cast(StringType)
    when(lower(trim(s)).isin(nullSentinels: _*), lit(null).cast(StringType))
      .otherwise(s)
  }

  /** C14 falsy-default (`utils_tools.py:66-71` ensure_default +
    * `import_files_to_postgre.py:186-210` row.get defaults): pandas
    * truthiness treats NULL *and* 0 as missing.
    */
  def default_if_falsy(c: Column, default: Column): Column =
    when(c.isNull || c === 0.0, default).otherwise(c)

  // ---------------------------------------------------------------------
  // Money / numbers (C1) — reference `pdf_to_xlsx.py:67-69`, `:94-101`
  // ---------------------------------------------------------------------

  /** C1 money-string clean: strip `+ $ , space`; float parse; re-apply `-`
    * if present anywhere in the raw token. Null on unparseable (the
    * reference keeps the raw string — see SURVEY §7.3; we take the
    * documented divergence: NULL, type-stable).
    */
  def clean_money(c: Column): Column = {
    val raw = c.cast(StringType)
    val stripped = regexp_replace(raw, "[+$,\\s]", "")
    val mag = abs(regexp_replace(stripped, "-", "").cast(DoubleType))
    when(raw.isNull, lit(null).cast(DoubleType))
      .otherwise(when(instr(raw, "-") > 0, -mag).otherwise(mag))
  }

  // ---------------------------------------------------------------------
  // Dates (C5/C6) — reference `pdf_to_xlsx.py:60-64`, `:79-91`, `:108`
  // ---------------------------------------------------------------------

  /** Spanish month abbreviation → English, for `dd-MMM-yyyy` parsing.
    * The reference's strptime("%d-%b-%Y") runs under an es-flavored input
    * (`17-sep-2025`, `05-ene-2025`); Java's formatter needs English tokens.
    */
  private val esMonthToEn: Seq[(String, String)] = Seq(
    "ene" -> "Jan", "feb" -> "Feb", "mar" -> "Mar", "abr" -> "Apr",
    "may" -> "May", "jun" -> "Jun", "jul" -> "Jul", "ago" -> "Aug",
    "sep" -> "Sep", "oct" -> "Oct", "nov" -> "Nov", "dic" -> "Dec")

  /** English month index (1..12) → Spanish abbrev, for synthesizing test
    * corpora identical to the reference's inputs.
    */
  val esMonthAbbrevs: Seq[String] =
    Seq("ene", "feb", "mar", "abr", "may", "jun",
        "jul", "ago", "sep", "oct", "nov", "dic")

  /** C5 Spanish-abbrev date parse of `dd-mmm-yyyy` (e.g. `17-sep-2025`).
    * Reference: `datetime.strptime(s, "%d-%b-%Y")` at `pdf_to_xlsx.py:62`.
    * Null on unparseable (documented divergence from keep-raw-string).
    */
  def spanish_to_date(c: Column): Column = {
    val parts = split(lower(trim(c)), "-")
    val mon = element_at(parts, 2)
    val monEn = esMonthToEn.foldLeft(lit(null).cast(StringType)) {
      case (acc, (es, en)) => when(mon === es, lit(en)).otherwise(acc)
    }
    to_date(
      concat_ws("-", element_at(parts, 1), monEn, element_at(parts, 3)),
      "d-MMM-yyyy")
  }

  /** C5 faithful-parity variant: the reference's `strptime("%d-%b-%Y")`
    * (`pdf_to_xlsx.py:62`, `:81`, `:89`) runs under the C locale, so only
    * Spanish month abbrevs that COINCIDE with English ones parse (feb,
    * mar, may, jun, jul, sep, oct, nov); ene/abr/ago/dic fail and the raw
    * token is kept (the except branch). Type-stable as STRING: ISO date
    * when parseable, raw input otherwise — byte-identical to the golden
    * workbooks in /root/reference/pdf_to_xlsx_files*.
    * Every step returns null on failure under ANSI mode too (`try_`
    * forms), so the answer does not depend on the session dialect.
    */
  def statement_date(c: Column): Column = {
    val parts = split(lower(trim(c)), "-")
    def part(i: Int) = try_element_at(parts, lit(i))
    val d = try_to_timestamp(concat_ws("-", part(1), initcap(part(2)), part(3)),
      lit("d-MMM-yyyy")).cast(DateType)
    when(d.isNotNull, d.cast(StringType)).otherwise(c)
  }

  /** C6 `%d%b%Y` filename date format (`pdf_to_xlsx.py:108`): `17Sep2025`. */
  def filename_date(c: Column): Column = date_format(c, "ddMMMyyyy")

  /** Excel 1900-system serial number → date (SURVEY.md §1.2): day 0 is
    * 1899-12-30 (absorbing the fictitious 1900-02-29), so serial 45369 =
    * 2024-03-18. Matches the conversion [[graft.sources.XlsxParser]]
    * applies to date-styled cells; exposed for conform layers reading
    * serial columns that arrive unstyled.
    */
  def excel_serial_date(serial: Column): Column =
    date_add(to_date(lit("1899-12-30")), serial.cast("int"))

  /** Month number (1-12) → Spanish abbrev as a Column (corpus synthesis). */
  def es_month_abbrev(monthNum: Column): Column =
    element_at(array(esMonthAbbrevs.map(lit): _*), monthNum.cast("int"))

  // ---------------------------------------------------------------------
  // URL functions (C7/C8/C9) — reference `utils_tools.py:114-197`
  // ---------------------------------------------------------------------

  private def urlHost(u: Column): Column = lower(expr_parse_url(u, "HOST"))
  private def urlScheme(u: Column): Column = expr_parse_url(u, "PROTOCOL")
  private def urlPath(u: Column): Column =
    coalesce(expr_parse_url(u, "PATH"), lit(""))

  private def expr_parse_url(u: Column, part: String): Column =
    call_function("parse_url", u, lit(part))

  /** C7 `get_store_name` (`utils_tools.py:114-130`): "ML"→"mercadolibre";
    * host split on `.`, drop {www,es,articulo,super}; first remaining
    * token if ≥2 remain, else NULL.
    */
  def store_name(u: Column): Column = {
    val host = urlHost(u)
    val kept = filter(split(host, "\\."),
      p => !p.isin("www", "es", "articulo", "super"))
    when(u === "ML", lit("mercadolibre"))
      .otherwise(when(host.isNull, lit(null).cast(StringType))
        .otherwise(when(size(kept) >= 2, element_at(kept, 1))
          .otherwise(lit(null).cast(StringType))))
  }

  /** Domains for which `get_provider_store` keeps only scheme://host
    * (`utils_tools.py:145-149`). NB "samscLub.com.mx" in the reference can
    * never match its lowercased host (latent reference bug) — we keep the
    * observable behavior: samsclub falls through to the default branch.
    */
  private val baseOnlyDomains = Seq(
    "temu.com", "shein.com", "walmart.com.mx", "soriana.com",
    "costco.com.mx", "liverpool.com.mx", "sears.com.mx",
    "coppel.com", "elektra.com.mx")

  /** Host substrings that keep path but strip query
    * (`utils_tools.py:151-154`). "homeDepot" likewise can never match the
    * lowercased host in the reference; excluded to match behavior.
    */
  private val keepPathDomains = Seq(
    "ebay.", "mercado", "aliexpress", "amazon", "bestbuy",
    "target", "lowes", "officedepot")

  /** C8 `get_provider_store` (`utils_tools.py:132-182`) — canonical
    * provider URL. Ladder order is load-bearing (e.g. "mercado" in
    * keep_path shadows the later mercadolibre-host special case).
    */
  def provider_url(u: Column): Column = {
    val s = trim(u)
    val scheme = urlScheme(s)
    val host = urlHost(s)
    val path = urlPath(s)
    // urlparse path never contains '?'; the reference's split('?') is a
    // no-op there, but the amazon branch also strips a '/ref...' suffix.
    val amazonPath =
      when(path.contains("/dp/") || path.contains("/gp/product/"),
        regexp_replace(path, "/ref.*$", "")).otherwise(path)
    val isBaseOnly =
      baseOnlyDomains.map(d => host.contains(d)).reduce(_ || _)
    val isKeepPath =
      keepPathDomains.map(d => host.contains(d)).reduce(_ || _)
    when(s.isNull || s === "", lit(null).cast(StringType))
      .when(isBaseOnly, concat(scheme, lit("://"), host))
      .when(isKeepPath, concat(scheme, lit("://"), host, path))
      .when(host.contains("mercadolibre.com.mx"),
        concat(scheme, lit("://"),
          regexp_replace(host, "^articulo\\.", "www.")))
      .when(host.contains("amazon."),
        concat(scheme, lit("://"), host, amazonPath))
      .otherwise(concat(scheme, lit("://"), host, path))
  }

  /** C9 `get_domain_store` (`utils_tools.py:184-197`): regex host extract,
    * lowercased; "mercadolibre" literal → www.mercadolibre.com.mx. The
    * reference discards its articulo.→www. replace result
    * (`utils_tools.py:194`, reference bug); we implement the intended
    * replace, as SURVEY §7.3 directs.
    */
  def domain_store(u: Column): Column = {
    val m = lower(regexp_extract(u, "https?://([^/]+)", 1))
    when(u === "mercadolibre", lit("www.mercadolibre.com.mx"))
      .otherwise(when(m === "", lit(null).cast(StringType))
        .otherwise(regexp_replace(m, "^articulo\\.mercadolibre",
          "www.mercadolibre")))
  }

  /** RFC 3986 §6.2.2.1 percent-encoding case normalization: the two hex
    * digits of every valid escape uppercase (`%2f` → `%2F`); malformed
    * escapes (fewer than two hex digits after `%`) pass through
    * untouched. Split-on-% plus a transform lambda keeps the whole thing
    * a codegen'd expression.
    */
  def pct_upper(c: Column): Column = {
    val parts = split(c, "%", -1)
    val head = element_at(parts, 1)
    val rest = slice(parts, lit(2), greatest(size(parts) - 1, lit(0)))
    when(size(parts) <= 1, c).otherwise(
      concat(head, concat_ws("", transform(rest, p =>
        when(p.rlike("^[0-9a-fA-F]{2}"),
          concat(lit("%"), upper(p.substr(lit(1), lit(2))),
            p.substr(lit(3), greatest(length(p) - 2, lit(0)))))
          .otherwise(concat(lit("%"), p))))))
  }

  /** Crawl-frontier URL canonicalization — the normal form frontier
    * dedup, politeness gating, and recrawl scheduling all key on.
    * RFC 3986 §6 syntax-based normalization plus the tracking-parameter
    * policy web-corpus pipelines apply before any content dedup:
    *  - fragment stripped (`#…` never reaches the server);
    *  - scheme and host lowercased (§6.2.2.1 case normalization);
    *  - default ports dropped (`http…:80`, `https…:443`); explicit
    *    non-default ports kept — they address different origins;
    *  - percent-encodings uppercased via [[pct_upper]] (§6.2.2.1);
    *  - empty path → `/` (§6.2.3); non-root paths keep their spelling —
    *    `/a/` and `/a` are distinct resources, so no trailing-slash
    *    strip beyond the root;
    *  - tracking params (`utm_*`, `fbclid`, `gclid`) dropped; surviving
    *    params SORTED so query order never splits a page's identity;
    *    an emptied query drops its `?`.
    * Pure codegen'd string/array lambdas, zero UDFs — at 100 TB this is
    * map-side projection work on the scan tasks, no shuffle of its own.
    */
  def canonical_url(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*", "")
    val schemePat = "^([A-Za-z][A-Za-z0-9+.-]*)://"
    val scheme = lower(regexp_extract(noFrag, schemePat, 1))
    val hostport = lower(regexp_extract(noFrag, schemePat + "([^/?]+)", 2))
    val host = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val rawPath = regexp_extract(noFrag, schemePat + "[^/?]+([^?]*)", 2)
    val path = when(rawPath === "", lit("/")).otherwise(rawPath)
    val query = regexp_extract(noFrag, "\\?(.*)$", 1)
    val keep = array_sort(filter(split(query, "&"),
      p => p =!= "" && !p.rlike("^(utm_[a-z]+|fbclid|gclid)=")))
    pct_upper(concat(scheme, lit("://"), host, path,
      when(size(keep) > 0, concat(lit("?"), array_join(keep, "&")))
        .otherwise(lit(""))))
  }

  // ---------------------------------------------------------------------
  // Pricing (C12) — reference `import_files_to_postgre.py:29-30, 217-220`
  // ---------------------------------------------------------------------

  val MargenGanancia = 0.30
  val DescuentoOferta = 0.15

  /** C12 derived price: `P. Venta` if truthy else finalCost × 1.30.
    * Pandas truthiness: 0/NaN/None are all falsy → default applies.
    */
  def derived_price(venta: Column, finalCost: Column): Column =
    default_if_falsy(venta, finalCost * (1.0 + MargenGanancia))

  /** C12 derived offer price: `P. Oferta` if truthy else price × 0.85. */
  def derived_offer(oferta: Column, price: Column): Column =
    default_if_falsy(oferta, price * (1.0 - DescuentoOferta))

  /** C11 string truncation before sink (`database_utils.py:223`). */
  def truncate500(c: Column): Column = substring(c, 1, 500)

  // ---------------------------------------------------------------------
  // Deterministic 60-bit hash — shared by dedup / minhash / simhash.
  // md5-based so any ANSI-SQL oracle (DuckDB) can reproduce it exactly:
  //   CAST('0x' || substr(md5(s),1,15) AS BIGINT)
  // ---------------------------------------------------------------------

  /** First 15 hex chars of md5 as a non-negative Long (60 bits).
    * Backed by the native codegen'd [[graft.expressions.Hash60]] — same
    * value as `conv(substring(md5(s),1,15),16,10)` (the DuckDB oracle
    * form) without materializing the hex string per value.
    */
  def hash60(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.Hash60(
        org.apache.spark.sql.graft.ColumnBridge.expression(c.cast(StringType))))

  /** The composed built-in form of [[hash60]] — kept as the executable
    * spec the native expression is tested against.
    */
  def hash60Composed(c: Column): Column =
    conv(substring(md5(c.cast(StringType)), 1, 15), 16, 10).cast(LongType)

  /** Seeded variant: hash60(seed || ':' || s). */
  def hash60(seed: Column, c: Column): Column =
    hash60(concat(seed.cast(StringType), lit(":"), c.cast(StringType)))

  /** Hex chars 16..29 of md5 as a non-negative Long (56 bits). Second
    * independent hash from the SAME md5 digest — with [[hash60]] it gives
    * the Kirsch–Mitzenmacher family h_s = h1 + s·h2: k hash functions for
    * the price of ONE md5 evaluation per value. 56 bits keeps
    * h1 + 15·h2 < 2^61, inside BIGINT for both Spark and the DuckDB
    * oracle (DuckDB errors on 64-bit overflow rather than wrapping).
    */
  def hash56b(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.Hash56(
        org.apache.spark.sql.graft.ColumnBridge.expression(c.cast(StringType))))

  /** Composed built-in form of [[hash56b]] (executable spec). */
  def hash56bComposed(c: Column): Column =
    conv(substring(md5(c.cast(StringType)), 16, 14), 16, 10).cast(LongType)

  /** DuckDB-exact rounding (std::round(x·10^s)/10^s on the binary
    * double — see graft.expressions.CRound). Every oracle-facing
    * `round` in the engine imports this under the name `round`
    * (`import graft.functions.{c_round => round}` outranks the
    * functions._ wildcard), so the final-mile rounding executes the
    * IDENTICAL floating operation on both engines and representational
    * ties cannot flip a hash compare. Spark's own `round` (shortest-
    * decimal HALF_UP) diverges from DuckDB ~1.5 per million random
    * integer ratios — the q143/q123 red cells of rounds 4–5.
    */
  def c_round(c: Column, scale: Int = 0): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.CRound(
        org.apache.spark.sql.graft.ColumnBridge.expression(
          c.cast(DoubleType)), scale))
}
