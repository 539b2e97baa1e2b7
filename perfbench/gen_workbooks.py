"""Seeded generator of inventory workbooks (sheets Compras + Precios).

The workbooks follow the reference's layout (21 Compras columns, 13 Precios
columns) and carry the features the ingestion plan has to handle:

- `Fch Cmpr` / `Fch Entrga` as date-styled Excel serials;
- `Precios!Preview` cells whose hyperlink is the product image (a few
  without a link, which ingest as "");
- blank `Liga` cells, which inherit the previous row's link (one-row carry),
  and the occasional second blank in a row, which drops the row;
- canceled rows (`Fch Entrga` = "CANCELED ..."), rows without a
  description, and exact duplicate rows that the dedup gate must suppress.

Everything is written with the standard library only. A ZIP entry carries
a fixed timestamp, so the same seed gives byte-identical files.
"""
import os
import random
import zipfile
from xml.sax.saxutils import escape

COMPRAS = ["Descripción", "Cant", "Precio", "% Desc", "C. Unit US", "C. Unit",
           "Total Cmpr", "Env US", "Envio", "Fch Cmpr", "Fch Entrga", "Euro",
           "Dólar", "Dsc US", "Desct", "Pzs", "Costo Final", "Liga",
           "TOTAL DESC", "Cmpr Final", "TOTAL CMPRS"]
PRECIOS = ["No", "Descripción", "Marca", "Categoria", "P. Tienda", "% Desc Cmpr",
           "Cant", "C. Unit", "Pzs", "Preview", "P. Venta", "P. Oferta", "Calc"]

ZIP_TIME = (2020, 1, 1, 0, 0, 0)
# Modification times of generated files: one second apart, in name order,
# so a drop directory drains in the same order the oracle replays.
MTIME_BASE = 1_700_000_000

ADJ = ["Peluche", "Figura", "Taza", "Llavero", "Mochila", "Lámpara", "Cojín",
       "Playera", "Gorra", "Rompecabezas", "Libreta", "Termo", "Funda", "Póster"]
NOUN = ["Hello Kitty", "Spider-Man", "Pikachu", "Stitch", "Mario", "Totoro",
        "Batman", "Kuromi", "Sonic", "Groot", "Snoopy", "Baby Yoda", "Bluey"]
SIZE = ["chico", "mediano", "grande", "XL", "edición especial", "mini", "2 pzs"]
BRANDS = ["Sanrio", "MARVEL", "Nintendo", "Disney", "Ghibli", "DC", "Sega",
          "Peanuts", "Hasbro", "Funko"]
CATEGORIES = ["Peluche", "Figura", "Hogar", "Accesorios", "Ropa", "Papelería"]


def _store_url(rng):
    """A product link on one of the stores the URL rules distinguish."""
    n = rng.randrange(10**6, 10**7)
    kind = rng.randrange(8)
    if kind == 0:
        return f"https://www.amazon.com.mx/dp/B0{n:07d}"
    if kind == 1:
        return f"https://www.amazon.com.mx/dp/B0{n:07d}/ref=sr_1_{n % 9 + 1}"
    if kind == 2:
        return f"https://es.aliexpress.com/item/100500{n}.html"
    if kind == 3:
        return f"https://articulo.mercadolibre.com.mx/MLM-{n}-producto-_JM"
    if kind == 4:
        return f"https://www.temu.com/goods-{n}.html"
    if kind == 5:
        return f"https://www.shein.com.mx/p-{n}.html"
    if kind == 6:
        return f"https://www.ebay.com/itm/{n}"
    return f"https://www.walmart.com.mx/ip/articulo/{n:08d}"


def catalog(rng, n):
    """`n` distinct products, each with a store link and base cost."""
    names = set()
    out = []
    while len(out) < n:
        name = f"{rng.choice(ADJ)} {rng.choice(NOUN)} {rng.choice(SIZE)}"
        if name in names:
            name = f"{name} {len(out)}"
        names.add(name)
        out.append({
            "name": name,
            "brand": rng.choice(BRANDS) if rng.random() < 0.8 else None,
            "category": rng.choice(CATEGORIES) if rng.random() < 0.85 else None,
            "url": _store_url(rng),
            "image": f"https://img.example.mx/p/{rng.randrange(10**8):08d}.jpg",
            "cost_us": round(rng.uniform(1.5, 60.0), 2),
        })
    return out


def _r2(x):
    return round(x, 2)


def workbook_rows(rng, products, n_rows, start_serial, price_factor=1.0,
                  dup_pool=None):
    """Compras and Precios rows (lists of dicts) for one workbook.

    `products` is the product pool this file draws from; `price_factor`
    scales the Precios sale prices (a later batch changes prices);
    `dup_pool` is a list of earlier Compras rows of which some are copied
    exactly (same product, quantity, unit cost and purchase date).
    """
    dollar = _r2(rng.uniform(17.0, 21.0))
    chosen = rng.sample(products, min(len(products), max(4, n_rows // 2)))
    compras = []
    prev_blank = False
    for i in range(n_rows):
        if dup_pool and rng.random() < 0.08:
            row = dict(rng.choice(dup_pool))
            compras.append(row)
            prev_blank = False
            continue
        p = rng.choice(chosen)
        qty = rng.randrange(1, 6)
        unit_us = _r2(p["cost_us"] * rng.uniform(0.9, 1.1))
        unit = _r2(unit_us * dollar)
        disc = round(rng.uniform(0.0, 0.45), 4)
        ship_us = _r2(rng.uniform(0, 8)) if rng.random() < 0.6 else None
        pcs = rng.choice([None, 1, 1, 2, 3])
        total = _r2(unit * qty)
        serial = start_serial + rng.randrange(0, 40)
        row = {
            "Descripción": p["name"], "Cant": qty,
            "Precio": _r2(unit / (1 - disc)) if disc < 1 else unit,
            "% Desc": disc, "C. Unit US": unit_us, "C. Unit": unit,
            "Total Cmpr": total,
            "Env US": ship_us, "Envio": _r2(ship_us * dollar) if ship_us else None,
            "Fch Cmpr": ("date", serial),
            "Fch Entrga": ("date", serial + rng.randrange(5, 30)),
            "Dólar": dollar,
            "Dsc US": _r2(unit_us * disc) if rng.random() < 0.5 else None,
            "Desct": _r2(unit * disc) if rng.random() < 0.5 else None,
            "Pzs": pcs,
            "Costo Final": _r2(total + (ship_us or 0) * dollar),
            "Liga": p["url"],
        }
        r = rng.random()
        if r < 0.05:
            row["Fch Entrga"] = "CANCELED " + ("reembolso" if rng.random() < 0.5 else "tienda")
        elif r < 0.08:
            row["Fch Entrga"] = None
        if rng.random() < 0.02:
            row["Descripción"] = None
        # blank Liga: inherits the previous row's link (one-row carry); a
        # second blank right after a blank has nothing to inherit
        if i > 0 and rng.random() < (0.04 if prev_blank else 0.15):
            row["Liga"] = None
        prev_blank = row["Liga"] is None
        if i == 0:
            row["TOTAL DESC"] = _r2(rng.uniform(10, 400))
            row["TOTAL CMPRS"] = _r2(rng.uniform(1000, 9000))
        if rng.random() < 0.3:
            row["Cmpr Final"] = _r2(total * 0.97)
        compras.append(row)

    # Precios: one row per product of the file, plus a couple of repeats
    # (the first match wins), each Preview cell linking the product image
    precios = []
    listed = list(chosen) + rng.sample(chosen, min(2, len(chosen)))
    rng.shuffle(listed)
    for k, p in enumerate(listed, 1):
        unit = _r2(p["cost_us"] * dollar)
        venta = _r2(unit * rng.uniform(1.2, 1.8) * price_factor)
        r = rng.random()
        row = {
            "No": k, "Descripción": p["name"], "Marca": p["brand"],
            "Categoria": p["category"], "P. Tienda": _r2(unit * 1.1),
            "% Desc Cmpr": round(rng.uniform(0, 0.4), 4), "Cant": rng.randrange(1, 6),
            "C. Unit": unit, "Pzs": rng.choice([1, 1, 2]), "Preview": "Preview",
            "P. Venta": None if r < 0.15 else (0 if r < 0.2 else venta),
            "P. Oferta": _r2(venta * 0.9) if rng.random() < 0.5 else None,
            "Calc": _r2(venta - unit) if rng.random() < 0.4 else None,
            "_link": p["image"] if rng.random() < 0.92 else None,
        }
        precios.append(row)
    return compras, precios


# ------------------------------------------------------------- xlsx write

def _col(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


class _Strings:
    def __init__(self):
        self.index = {}
        self.items = []

    def ref(self, s):
        if s not in self.index:
            self.index[s] = len(self.items)
            self.items.append(s)
        return self.index[s]


def _num(v):
    return str(v) if isinstance(v, int) else repr(float(v))


def _sheet_xml(headers, rows, sst, link_col=None, link_key=None):
    """Worksheet XML plus its hyperlink relationships [(rId, target)]."""
    out = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
           '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
           'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
           '<sheetData>']
    links = []
    out.append('<row r="1">')
    for c, h in enumerate(headers):
        out.append(f'<c r="{_col(c)}1" t="s"><v>{sst.ref(h)}</v></c>')
    out.append("</row>")
    for rn, row in enumerate(rows, 2):
        out.append(f'<row r="{rn}">')
        for c, h in enumerate(headers):
            v = row.get(h)
            ref = f"{_col(c)}{rn}"
            if v is None:
                continue
            if isinstance(v, tuple):  # ("date", serial)
                out.append(f'<c r="{ref}" s="1"><v>{v[1]}</v></c>')
            elif isinstance(v, str):
                out.append(f'<c r="{ref}" t="s"><v>{sst.ref(v)}</v></c>')
            else:
                style = ' s="2"' if isinstance(v, float) else ""
                out.append(f'<c r="{ref}"{style}><v>{_num(v)}</v></c>')
        out.append("</row>")
    out.append("</sheetData>")
    hl = []
    for rn, row in enumerate(rows, 2):
        target = row.get(link_key) if link_key else None
        if link_col is not None and target:
            rid = f"rId{len(links) + 1}"
            links.append((rid, target))
            hl.append(f'<hyperlink ref="{_col(headers.index(link_col))}{rn}" r:id="{rid}"/>')
    if hl:
        out.append("<hyperlinks>" + "".join(hl) + "</hyperlinks>")
    out.append("</worksheet>")
    return "".join(out), links


def _rels(links):
    body = "".join(
        f'<Relationship Id="{rid}" Type="http://schemas.openxmlformats.org/officeDocument/'
        f'2006/relationships/hyperlink" Target="{escape(t, {chr(34): "&quot;"})}" '
        f'TargetMode="External"/>' for rid, t in links)
    return ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            + body + "</Relationships>")


_STYLES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
    '<numFmts count="1"><numFmt numFmtId="164" formatCode="#,##0.00"/></numFmts>'
    '<fonts count="1"><font/></fonts><fills count="1"><fill/></fills>'
    '<borders count="1"><border/></borders><cellStyleXfs count="1"><xf/></cellStyleXfs>'
    '<cellXfs count="3"><xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/>'
    '<xf numFmtId="164" applyNumberFormat="1"/></cellXfs></styleSheet>')

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    '<Override PartName="/xl/worksheets/sheet2.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
    '<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
    '</Types>')

_WORKBOOK = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>'
    '<sheet name="Compras" sheetId="1" r:id="rId1"/><sheet name="Precios" sheetId="2" r:id="rId2"/>'
    '</sheets></workbook>')

_WORKBOOK_RELS = _rels([]).replace("</Relationships>", "") + (
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
    '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>'
    '<Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>'
    '<Relationship Id="rId4" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
    "</Relationships>")


def xlsx_bytes(compras, precios):
    """The .xlsx file for one workbook's rows, deterministic to the byte."""
    import io
    sst = _Strings()
    s1, links1 = _sheet_xml(COMPRAS, compras, sst, link_col="Liga", link_key="Liga")
    s2, links2 = _sheet_xml(PRECIOS, precios, sst, link_col="Preview", link_key="_link")
    sst_xml = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
               '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
               f'count="{len(sst.items)}" uniqueCount="{len(sst.items)}">'
               + "".join(f"<si><t>{escape(s)}</t></si>" for s in sst.items) + "</sst>")
    parts = [
        ("[Content_Types].xml", _CONTENT_TYPES),
        ("_rels/.rels", _rels([]).replace("</Relationships>", "") +
         '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/'
         'relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>'),
        ("xl/workbook.xml", _WORKBOOK),
        ("xl/_rels/workbook.xml.rels", _WORKBOOK_RELS),
        ("xl/styles.xml", _STYLES),
        ("xl/sharedStrings.xml", sst_xml),
        ("xl/worksheets/sheet1.xml", s1),
        ("xl/worksheets/_rels/sheet1.xml.rels", _rels(links1)),
        ("xl/worksheets/sheet2.xml", s2),
        ("xl/worksheets/_rels/sheet2.xml.rels", _rels(links2)),
    ]
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in parts:
            info = zipfile.ZipInfo(name, ZIP_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, text.encode("utf-8"))
    return buf.getvalue()


def corrupt_bytes(good):
    """A workbook cut off in the middle of its Compras sheet's data."""
    import io
    z = zipfile.ZipFile(io.BytesIO(good))
    info = z.getinfo("xl/worksheets/sheet1.xml")
    data_start = info.header_offset + 30 + len(info.filename.encode()) + len(info.extra)
    return good[:data_start + info.compress_size // 2]


# ----------------------------------------------------------------- batches

def write_files(out_dir, files, mtime_base=MTIME_BASE):
    """Write (name, bytes) pairs; modification times follow name order."""
    os.makedirs(out_dir, exist_ok=True)
    for k, (name, data) in enumerate(sorted(files)):
        path = os.path.join(out_dir, name)
        with open(path, "wb") as f:
            f.write(data)
        os.utime(path, (mtime_base + k, mtime_base + k))


def fact_candidates(compras):
    """Rows of one Compras sheet that reach the dedup gate: a description,
    not canceled, and a link of their own or inherited from the row before.
    """
    n, prev = 0, ""
    for row in compras:
        link = row.get("Liga") or prev
        prev = row.get("Liga")
        delivery = row.get("Fch Entrga")
        if link and row.get("Descripción") and not (
                isinstance(delivery, str) and "CANCELED" in delivery):
            n += 1
    return n


def batch(seed, tag, n_files, rows=(40, 80), products=None, price_factor=1.0,
          dup_pool=None, start_serial=45300):
    """`n_files` workbooks named `<tag>_<k>.xlsx`, plus their Compras rows.

    Returns (files, compras_rows, products, fact candidates per file name).
    """
    rng = random.Random(f"{seed}:{tag}")
    if products is None:
        products = catalog(rng, max(30, n_files * 6))
    files, all_rows, candidates = [], [], {}
    for k in range(n_files):
        n = rng.randrange(*rows)
        pool = [p for p in products if rng.random() < 0.25] or products[:8]
        compras, precios = workbook_rows(
            rng, pool, n, start_serial + 7 * k, price_factor,
            dup_pool=(dup_pool or []) + all_rows[-200:] if k or dup_pool else None)
        name = f"{tag}_{k:04d}.xlsx"
        files.append((name, xlsx_bytes(compras, precios)))
        candidates[name] = fact_candidates(compras)
        all_rows.extend(r for r in compras if r.get("Descripción"))
    return files, all_rows, products, candidates
