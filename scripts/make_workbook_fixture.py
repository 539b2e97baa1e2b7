#!/usr/bin/env python3
"""Build the hermetic inventory-workbook fixtures for the ingestion specs.

Four small hand-written workbooks (sheets Compras + Precios, the reference
layout) plus one corrupt file, each row chosen to exercise one rule of the
warehouse ingestion plan:

- `01_enero.xlsx`: a blank `Liga` that inherits the previous row's link,
  a second blank right after a blank (no link to inherit: the row is
  dropped), an exact duplicate row (the dedup gate keeps the first), a
  canceled row and a row without a description (both still create their
  store and provider, never a fact), a `Preview` cell without a
  hyperlink (image "") and Compras rows past the Precios row count (no
  image), a product without a category (brand and category null), a
  falsy `P. Venta` (derived price);
- `02_febrero.xlsx`: a price change of a known product, new products and
  stores, a row repeated from `01` (suppressed across files);
- `03_reentrega.xlsx`: a byte-identical re-delivery of `01`;
- `04_marzo.xlsx`: a known product bought again, then, as its very last
  row, the same product behind a bare `ML` link: store "mercadolibre",
  provider URL null on the engine side (parse_url sees no scheme), so the
  row creates its provider row and never becomes a fact;
- `05_corrupt.xlsx`: `01` cut off in the middle of its Compras sheet.

Names sort in drain order; the specs give the copies modification times in
that order. Everything is written with the standard library, and every ZIP
entry carries a fixed timestamp, so the output is identical on every run.

Usage: python3 scripts/make_workbook_fixture.py
Writes: fixtures/ingest/*.xlsx
"""
import io
import zipfile
from pathlib import Path
from xml.sax.saxutils import escape

OUT = Path(__file__).resolve().parent.parent / "fixtures" / "ingest"
ZIP_TIME = (2020, 1, 1, 0, 0, 0)

COMPRAS = ["Descripción", "Cant", "Precio", "% Desc", "C. Unit US", "C. Unit",
           "Total Cmpr", "Env US", "Envio", "Fch Cmpr", "Fch Entrga", "Euro",
           "Dólar", "Dsc US", "Desct", "Pzs", "Costo Final", "Liga"]
PRECIOS = ["No", "Descripción", "Marca", "Categoria", "P. Tienda", "C. Unit",
           "Pzs", "Preview", "P. Venta", "P. Oferta"]

AMAZON = "https://www.amazon.com.mx/dp/B0CX41PK2M/ref=sr_1_3"
ALI = "https://es.aliexpress.com/item/1005006123.html"
MELI = "https://articulo.mercadolibre.com.mx/MLM-2210-peluche-_JM"
TEMU = "https://www.temu.com/goods-88123.html"
SHEIN = "https://www.shein.com.mx/p-4411.html"


def date(serial):
    """A date-styled Excel serial cell."""
    return ("date", serial)


def buy(name, qty, unit, serial, link, **extra):
    """One Compras row; `extra` overrides any column (None blanks it)."""
    row = {"Descripción": name, "Cant": qty, "Precio": round(unit * 1.1, 2),
           "% Desc": 0.1, "C. Unit US": round(unit / 18.5, 2), "C. Unit": unit,
           "Total Cmpr": round(unit * qty, 2), "Fch Cmpr": date(serial),
           "Fch Entrga": date(serial + 12), "Dólar": 18.5,
           "Costo Final": round(unit * qty + 35.0, 2), "Liga": link}
    row.update(extra)
    return row


def price(no, name, brand, category, venta, oferta, image):
    return {"No": no, "Descripción": name, "Marca": brand, "Categoria": category,
            "P. Tienda": venta, "C. Unit": venta, "Pzs": 1, "Preview": "Preview",
            "P. Venta": venta, "P. Oferta": oferta, "_link": image}


def img(n):
    return f"https://img.example.com/p/{n}.jpg"


ENERO = (
    [buy("Peluche Totoro grande", 2, 310.0, 45300, AMAZON, Envio=40.0, Pzs=2),
     buy("Taza Kuromi", 1, 120.5, 45301, None),  # blank Liga: inherits AMAZON
     buy("Figura Mario", 3, 95.0, 45302, ALI, Desct=12.0),
     buy("Figura Mario", 3, 95.0, 45302, ALI, Desct=12.0),  # exact duplicate
     buy("Llavero Stitch", 4, 30.0, 45303, MELI, **{"Fch Entrga": "CANCELED reembolso"}),
     buy(None, 1, 50.0, 45304, TEMU),  # no description: dims only
     buy("Cojín Snoopy", 1, 210.0, 45305, None),  # inherits TEMU
     buy("Mochila Sonic", 2, 260.0, 45306, None)],  # blank after blank: dropped
    [price(1, "Peluche Totoro grande", "Ghibli", "Peluche", 520.0, 470.0, img(1)),
     price(2, "Taza Kuromi", "Sanrio", None, 199.0, None, img(2)),
     price(3, "Figura Mario", "Nintendo", "Figura", 0, None, None),
     price(4, "Llavero Stitch", "Disney", "Accesorios", 75.0, 60.0, img(4)),
     price(5, "Cojín Snoopy", "Peanuts", "Hogar", None, 300.0, img(5))])

FEBRERO = (
    [buy("Peluche Totoro grande", 1, 305.0, 45330, AMAZON),  # price changes below
     buy("Playera Batman", 2, 180.0, 45331, SHEIN, **{"Fch Entrga": None}),
     buy("Figura Mario", 3, 95.0, 45302, ALI, Desct=12.0),  # repeat of enero
     buy("Termo Bluey", 1, 150.0, 45332, "https://www.amazon.com.mx/gp/product/B0FF12"),
     buy("Termo Bluey", 2, 150.0, 45332, None)],  # inherits; new qty: a fact
    [price(1, "Playera Batman", "DC", "Ropa", 320.0, None, img(6)),
     price(2, "Peluche Totoro grande", "Ghibli", "Peluche", 560.0, 500.0, img(1)),
     price(3, "Termo Bluey", "Bluey", "Hogar", 260.0, 230.0, img(7)),
     price(4, "Termo Bluey", "Bluey", "Hogar", 999.0, 999.0, img(8))])  # 2nd match ignored

MARZO = (
    [buy("Libreta Pikachu", 5, 45.0, 45360, TEMU),
     buy("Taza Kuromi", 2, 118.0, 45361, MELI),
     buy("Taza Kuromi", 3, 118.0, 45361, "ML")],  # bare ML link, last row
    [price(1, "Libreta Pikachu", "Nintendo", "Papelería", 80.0, 72.0, img(9)),
     price(2, "Taza Kuromi", "Sanrio", "Hogar", 205.0, 190.0, img(2))])


def col_name(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def sheet(headers, rows, strings, link_col, link_key):
    """Worksheet XML and its hyperlink targets [(rId, url)]."""
    def sst(s):
        return strings.setdefault(s, len(strings))

    cells = [f'<row r="1">' + "".join(
        f'<c r="{col_name(c)}1" t="s"><v>{sst(h)}</v></c>' for c, h in enumerate(headers))
        + "</row>"]
    links = []
    for rn, row in enumerate(rows, 2):
        out = []
        for c, h in enumerate(headers):
            v, ref = row.get(h), f"{col_name(c)}{rn}"
            if v is None:
                continue
            if isinstance(v, tuple):
                out.append(f'<c r="{ref}" s="1"><v>{v[1]}</v></c>')
            elif isinstance(v, str):
                out.append(f'<c r="{ref}" t="s"><v>{sst(v)}</v></c>')
            else:
                out.append(f'<c r="{ref}"><v>{v!r}</v></c>')
        cells.append(f'<row r="{rn}">' + "".join(out) + "</row>")
        target = row.get(link_key)
        if target:
            links.append((f"{col_name(headers.index(link_col))}{rn}", target))
    hyperlinks = "".join(f'<hyperlink ref="{ref}" r:id="rId{i}"/>'
                         for i, (ref, _) in enumerate(links, 1))
    xml = (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n<worksheet {NS}>'
           f'<sheetData>{"".join(cells)}</sheetData>'
           + (f"<hyperlinks>{hyperlinks}</hyperlinks>" if links else "") + "</worksheet>")
    return xml, [(f"rId{i}", t) for i, (_, t) in enumerate(links, 1)]


NS = ('xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
      'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"')
REL = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
XML = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'


def rels(entries):
    """entries: (id, type suffix, target, external)."""
    body = "".join(
        f'<Relationship Id="{i}" Type="{REL}/{t}" Target="{escape(target, {chr(34): "&quot;"})}"'
        + (' TargetMode="External"' if ext else "") + "/>"
        for i, t, target, ext in entries)
    return (XML + '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/'
            f'relationships">{body}</Relationships>')


def workbook(compras, precios):
    strings = {}
    s1, l1 = sheet(COMPRAS, compras, strings, "Liga", "Liga")
    s2, l2 = sheet(PRECIOS, precios, strings, "Preview", "_link")
    ct = "application/vnd.openxmlformats-officedocument.spreadsheetml"
    parts = [
        ("[Content_Types].xml", XML +
         '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
         '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.'
         'relationships+xml"/><Default Extension="xml" ContentType="application/xml"/>'
         f'<Override PartName="/xl/workbook.xml" ContentType="{ct}.sheet.main+xml"/>'
         f'<Override PartName="/xl/worksheets/sheet1.xml" ContentType="{ct}.worksheet+xml"/>'
         f'<Override PartName="/xl/worksheets/sheet2.xml" ContentType="{ct}.worksheet+xml"/>'
         f'<Override PartName="/xl/sharedStrings.xml" ContentType="{ct}.sharedStrings+xml"/>'
         f'<Override PartName="/xl/styles.xml" ContentType="{ct}.styles+xml"/></Types>'),
        ("_rels/.rels", rels([("rId1", "officeDocument", "xl/workbook.xml", False)])),
        ("xl/workbook.xml", XML + f'<workbook {NS}><sheets>'
         '<sheet name="Compras" sheetId="1" r:id="rId1"/>'
         '<sheet name="Precios" sheetId="2" r:id="rId2"/></sheets></workbook>'),
        ("xl/_rels/workbook.xml.rels", rels([
            ("rId1", "worksheet", "worksheets/sheet1.xml", False),
            ("rId2", "worksheet", "worksheets/sheet2.xml", False),
            ("rId3", "styles", "styles.xml", False),
            ("rId4", "sharedStrings", "sharedStrings.xml", False)])),
        ("xl/styles.xml", XML +
         '<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
         '<fonts count="1"><font/></fonts><fills count="1"><fill/></fills>'
         '<borders count="1"><border/></borders><cellStyleXfs count="1"><xf/></cellStyleXfs>'
         '<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/>'
         '</cellXfs></styleSheet>'),
        ("xl/sharedStrings.xml", XML +
         '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
         f'count="{len(strings)}" uniqueCount="{len(strings)}">'
         + "".join(f"<si><t>{escape(s)}</t></si>" for s in strings) + "</sst>"),
        ("xl/worksheets/sheet1.xml", s1),
        ("xl/worksheets/_rels/sheet1.xml.rels",
         rels([(i, "hyperlink", t, True) for i, t in l1])),
        ("xl/worksheets/sheet2.xml", s2),
        ("xl/worksheets/_rels/sheet2.xml.rels",
         rels([(i, "hyperlink", t, True) for i, t in l2])),
    ]
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in parts:
            z.writestr(zipfile.ZipInfo(name, ZIP_TIME), text.encode("utf-8"),
                       compress_type=zipfile.ZIP_DEFLATED)
    return buf.getvalue()


def cut_in_compras(good):
    """`good` truncated halfway through its Compras sheet's compressed data."""
    info = zipfile.ZipFile(io.BytesIO(good)).getinfo("xl/worksheets/sheet1.xml")
    start = info.header_offset + 30 + len(info.filename.encode()) + len(info.extra)
    return good[:start + info.compress_size // 2]


def main():
    OUT.mkdir(parents=True, exist_ok=True)
    enero = workbook(*ENERO)
    files = {"01_enero.xlsx": enero, "02_febrero.xlsx": workbook(*FEBRERO),
             "03_reentrega.xlsx": enero, "04_marzo.xlsx": workbook(*MARZO),
             "05_corrupt.xlsx": cut_in_compras(enero)}
    for name, data in files.items():
        (OUT / name).write_bytes(data)
        print(f"{OUT / name}: {len(data)} bytes")


if __name__ == "__main__":
    main()
