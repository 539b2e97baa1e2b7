"""Seeded generator of bank-statement PDFs and their expected extraction.

Each statement is a two-page PDF whose page contents are FlateDecode text
streams in a standard Type1 font, laid out like the reference's statements:
a `COMPRAS Y CARGOS DIFERIDOS A MESES SIN INTERESES` section (msi rows: date,
description, three amounts, "N de M", rate) and a
`CARGOS,COMPRAS Y ABONOS REGULARES(NO A MESES)` section (compras rows:
operation date, charge date, description, signed amount) closed by
`TOTAL CARGOS`. Every field is its own text run, so rows span lines the way
the extracted text of a real statement does.

Dates use the Spanish month abbreviations. Installment (msi) purchases go
back up to a year, so every batch carries all twelve abbreviations.

Expected output follows the extraction contract: a date whose month token
is also an English abbreviation (feb mar may jun jul sep oct nov) becomes an
ISO date; the others (ene abr ago dic) pass through as written. The output
workbook is named after the latest ISO operation date of the batch.

A batch directory holds `<name>.pdf` files; `manifest.json` beside the
batch directories lists, per batch, the expected workbook name and the
expected rows and column sums of both sheets.
"""
import json
import os
import random
import zlib
from datetime import date, timedelta

MONTHS = ["ene", "feb", "mar", "abr", "may", "jun",
          "jul", "ago", "sep", "oct", "nov", "dic"]
EN_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
             "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
ISO_MONTHS = {"feb", "mar", "may", "jun", "jul", "sep", "oct", "nov"}

MSI_HEADER = "COMPRAS Y CARGOS DIFERIDOS A MESES SIN INTERESES"
MSI_END = "COMPRAS Y CARGOS DIFERIDOS A MESES CON INTERESES"
COMPRAS_HEADER = "CARGOS,COMPRAS Y ABONOS REGULARES(NO A MESES)"
COMPRAS_END = "TOTAL CARGOS"

MSI_COLS = ["Fecha operación", "Descripción", "Monto original", "Saldo pendiente",
            "Pago requerido", "Núm. de pago", "Tasa de interés aplicable"]
COMPRAS_COLS = ["Fecha de la operación", "Fecha de cargo", "Pago requerido",
                "Descripción"]
MONEY = {"msi": ["Monto original", "Saldo pendiente", "Pago requerido"],
         "compras": ["Pago requerido"]}

MERCHANTS = ["AMAZON MX MKTPLACE", "MERCADO PAGO", "OXXO REFORMA", "WALMART SUPERCENTER",
             "LIVERPOOL POLANCO", "UBER TRIP", "NETFLIX COM", "SPOTIFY", "COSTCO SATELITE",
             "SORIANA HIPER", "PALACIO DE HIERRO", "CINEPOLIS", "STARBUCKS", "TELCEL",
             "CFE SUMINISTRO", "GASOLINERA PEMEX", "FARMACIA GUADALAJARA", "HOME DEPOT",
             "SAMS CLUB", "COPPEL", "ELEKTRA", "SEARS", "BEST BUY", "APPLE COM BILL",
             "DIDI FOOD", "RAPPI", "AEROMEXICO", "VIVA AEROBUS", "LIBRERIA GANDHI"]


def token(d):
    """A statement date token, e.g. 05-ene-2025."""
    return f"{d.day:02d}-{MONTHS[d.month - 1]}-{d.year}"


def expected_date(d):
    return d.isoformat() if MONTHS[d.month - 1] in ISO_MONTHS else token(d)


def money(x):
    return f"${x:,.2f}"


MSI_ROWS, COMPRAS_ROWS = 5, 25


def statement(rng, close):
    """(page texts, msi rows, compras rows) for a statement closing on `close`.

    Every statement has the same number of rows, so batches of any seed
    carry the same volume.
    """
    msi, compras = [], []
    for _ in range(MSI_ROWS):
        bought = close - timedelta(days=rng.randrange(5, 365))
        total = rng.randrange(1200, 90000) + rng.randrange(100) / 100
        months = rng.choice([3, 6, 9, 12, 18])
        paid = rng.randrange(1, months + 1)
        pay = round(total / months, 2)
        msi.append([bought, rng.choice(MERCHANTS) + " MSI", total,
                    max(0.0, round(total - pay * paid, 2)), pay, f"{paid} de {months}",
                    rng.choice(["0.00%", "0.00%", "24.5%", "31.9%"])])
    start = close - timedelta(days=30)
    for _ in range(COMPRAS_ROWS):
        op = start + timedelta(days=rng.randrange(0, 31))
        charge = op + timedelta(days=rng.randrange(0, 3))
        if charge > close:
            charge = close
        if rng.random() < 0.1:
            amount = -float(rng.randrange(500, 20000))
        else:
            amount = rng.randrange(20, 15000) + rng.randrange(100) / 100
        compras.append([op, charge, rng.choice(MERCHANTS), amount])
    compras.sort(key=lambda r: r[0])

    page1 = ["ESTADO DE CUENTA", "TARJETA DE CREDITO",
             f"Fecha de corte: {token(close)}", "RESUMEN DEL PERIODO",
             MSI_HEADER, "Fecha de operación Descripción Monto original "
             "Saldo pendiente Pago requerido Núm. de pago Tasa"]
    for d, desc, total, left, pay, n, rate in msi:
        page1 += [token(d), desc, money(total), money(left), money(pay), n, rate]
    page1 += [MSI_END, "Sin movimientos"]
    page2 = [COMPRAS_HEADER, "Fecha de la operación Fecha de cargo Descripción Monto"]
    for op, charge, desc, amount in compras:
        sign = "-" if amount < 0 else "+"
        page2 += [token(op), token(charge), desc, f"{sign} {money(abs(amount))}"]
    page2 += [COMPRAS_END, money(sum(r[3] for r in compras if r[3] > 0)),
              "Gracias por su preferencia"]

    msi_out = [[expected_date(d), desc, total, left, pay, n, rate]
               for d, desc, total, left, pay, n, rate in msi]
    compras_out = [[expected_date(op), expected_date(charge), amount, desc]
                   for op, charge, desc, amount in compras]
    return [page1, page2], msi_out, compras_out, [r[0] for r in compras]


def _pdf_string(s):
    raw = s.encode("latin-1")
    return b"(" + raw.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)") + b")"


def pdf_bytes(pages):
    """A classic-xref PDF whose pages show `pages` (lists of lines)."""
    n = len(pages)
    objs = [b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [" + b" ".join(
                f"{4 + 2 * i} 0 R".encode() for i in range(n)) + f"] /Count {n} >>".encode(),
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>"]
    for i, lines in enumerate(pages):
        ops = [b"BT /F1 9 Tf 40 760 Td 11 TL"]
        for k, line in enumerate(lines):
            ops.append((b"" if k == 0 else b"T* ") + _pdf_string(line) + b" Tj")
        ops.append(b"ET")
        stream = zlib.compress(b"\n".join(ops), 6)
        objs.append(f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                    f"/Resources << /Font << /F1 3 0 R >> >> /Contents {5 + 2 * i} 0 R >>".encode())
        objs.append(f"<< /Length {len(stream)} /Filter /FlateDecode >>\nstream\n".encode()
                    + stream + b"\nendstream")
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = []
    for k, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += f"{k} 0 obj\n".encode() + body + b"\nendobj\n"
    xref = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref}\n%%EOF\n").encode()
    return bytes(out)


def sheet_summary(rows, cols, money_cols):
    return {"rows": rows, "n": len(rows),
            "sums": {c: round(sum(r[cols.index(c)] for r in rows), 2) for c in money_cols}}


def generate(out_dir, seed, n_batches, per_batch, first_close=date(2025, 2, 1)):
    """Write `n_batches` monthly batches; returns the manifest dict."""
    manifest = {"batches": []}
    for b in range(n_batches):
        rng = random.Random(f"{seed}:statements:{b}")
        month = (first_close.month - 1 + b) % 12 + 1
        year = first_close.year + (first_close.month - 1 + b) // 12
        name = f"m{b + 1:02d}"
        bdir = os.path.join(out_dir, name)
        os.makedirs(bdir, exist_ok=True)
        msi_all, compras_all, op_dates, n_bytes = [], [], [], 0
        for k in range(per_batch):
            close = date(year, month, rng.randrange(5, 28))
            pages, msi, compras, ops = statement(rng, close)
            data = pdf_bytes(pages)
            n_bytes += len(data)
            with open(os.path.join(bdir, f"edo_{name}_{k:04d}.pdf"), "wb") as f:
                f.write(data)
            msi_all += msi
            compras_all += compras
            op_dates += ops
        # no ISO date at all (a January batch: dic and ene only) leaves the
        # workbook without a name
        latest = max((d for d in op_dates if MONTHS[d.month - 1] in ISO_MONTHS), default=None)
        manifest["batches"].append({
            "batch": name, "statements": per_batch, "bytes": n_bytes,
            "workbook": latest and
            f"cargos_bbva_{latest.day:02d}{EN_MONTHS[latest.month - 1]}{latest.year}.xlsx",
            "msi": sheet_summary(msi_all, MSI_COLS, MONEY["msi"]),
            "compras": sheet_summary(compras_all, COMPRAS_COLS, MONEY["compras"]),
        })
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, ensure_ascii=False)
    return manifest
