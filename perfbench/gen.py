"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files, a different seed writes different values with the
same shape (row counts, file count, layout), so run-to-run spread comes
from the system, not from the input size.

  star_schema   TPC-H-shaped sf0.1 tables (mart_queries)
  ida_exports   raw IDA exports, 3 services x N years, `;`-CSV plus real
                ODS zip containers (ida_etl_load)

Each returns a dict of input properties that the runner prints next to
the metrics.
"""
import datetime
import os
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write(table, path):
    # one row group, no dictionary statistics that vary by run: pyarrow
    # writes the same bytes for the same table
    pq.write_table(table, path, row_group_size=1 << 22)


def _days(rng, start, end, n):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def star_schema(out, seed, sf=0.1):
    """region/nation/customer/supplier/part/orders/lineitem at scale `sf`
    (sf0.1 = 150k orders, 600k lineitems), uniform TPC-H-like domains."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")
    adj = np.array(["large", "hot", "blue", "old", "cold", "small", "red", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10.0, 2)}),
        f"{out}/part.parquet")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, datetime.date(1995, 1, 1),
                             datetime.date(2001, 8, 1), n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, datetime.date(1995, 1, 2),
                            datetime.date(2001, 11, 4), n_line)}),
        f"{out}/lineitem.parquet")
    return {"sf": sf, "rows": {"region": 5, "nation": 25, "customer": n_cust,
            "supplier": n_supp, "part": n_part, "orders": n_ord,
            "lineitem": n_line}}


GROUPS = ["ALGAR TELECOM S/A", "CLARO S.A.", "TELEFÔNICA BRASIL S.A.", "TIM S.A.",
          "OI S.A.", "NET SERVIÇOS DE COMUNICAÇÃO S.A.", "SKY BRASIL SERVIÇOS LTDA.",
          "EMPRESA BRASILEIRA DE TELECOMUNICAÇÕES S.A. - EMBRATEL",
          "NEXTEL TELECOMUNICAÇÕES LTDA.", "SERCOMTEL S.A. TELECOMUNICAÇÕES"]
VARIABLES = [("Indicador de Desempenho no Atendimento (IDA)", "score"),
             ("Taxa de Respondidas em 5 dias Úteis", "pct"),
             ("Quantidade de reclamações", "count"),
             ("Índice de Reclamações", "score"),
             ("Taxa de Reabertas", "pct"),
             ("Quantidade de Respondidas", "count")]
SERVICES = [("SMP", "Móvel_Pessoal", "SMP - Servico Movel Pessoal", "csv"),
            ("SCM", "Banda_Larga_Fixa", "SCM - Servico de Comunicacao Multimidia", "csv"),
            ("STFC", "Telefonia_Fixa", "STFC - Telefonia Fixa Comutada", "ods")]


def _cell(rng, kind):
    if kind == "score":
        v = rng.integers(5000, 10000) / 100.0
        return f"{v:.2f}".replace(".", ",")
    if kind == "pct":
        v = rng.integers(6000, 10000) / 100.0
        return f"{v:.2f}".replace(".", ",") + "%"
    v = int(rng.integers(100, 99999))
    return f"{v:,}".replace(",", ".")          # thousands separator


def ida_exports(out, seed, years=2, first_year=2017, groups=40,
                republished=3, revised_share=0.25, blank_share=0.03,
                junk_share=0.02):
    """Raw IDA exports as Anatel publishes them: one sheet per (service,
    year) named `ida_raw_<year>_<service>.<ext>` so `Catalog.discover`
    finds it. SMP and SCM are `;`-CSV files, STFC is a real ODS zip
    container (mapped sheet plus a decoy sheet). Every sheet has a
    preamble, merged-cell group names (blank below the block's first
    row), decimal-comma / `%` / thousands-separator cells, blank cells
    (`blank_share`) and `-` / `n/d` cells (`junk_share`). Sheets after
    the first year republish the previous year's last `republished`
    months; `revised_share` of those cells carry a revised value, the
    rest repeat it verbatim and are duplicate records across resources.

    Also writes `oracle/` (a CSV mirror of each ODS grid, which the DuckDB
    oracle reads) and `resources.tsv` (path, name, header row and months per
    resource, as the oracle sees each file)."""
    os.makedirs(f"{out}/oracle", exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    names = GROUPS + [f"OPERADORA REGIONAL {i:03d} LTDA." for i in range(groups - len(GROUPS))]
    resources, cells_total, blank, junk, dup, data_rows = [], 0, 0, 0, 0, 0
    prev = {}
    for sid, sheet, title, fmt in SERVICES:
        for y in range(first_year, first_year + years):
            rep = [f"{y - 1}-{m:02d}" for m in range(13 - republished, 13)] \
                if y > first_year else []
            months = rep + [f"{y}-{m:02d}" for m in range(1, 13)]
            preamble = [["Anatel - Indice de Desempenho no Atendimento (IDA)"],
                        [title], [f"Atualizado em: 15/01/{y + 1}"], [],
                        ["Fonte: sistemas interativos da agencia"]]
            header = ["GRUPO ECONOMICO", "VARIAVEL", "SERVICO"] + months
            rows = []
            for g in names:
                for vi, (var, kind) in enumerate(VARIABLES):
                    vals = []
                    for m in months:
                        key = (sid, g, var, m)
                        u = rng.random()
                        if key in prev and rng.random() >= revised_share:
                            v = prev[key]
                            dup += v not in ("", "-", "n/d")
                        elif u < blank_share:
                            v = ""
                        elif u < blank_share + junk_share:
                            v = "-" if rng.random() < 0.5 else "n/d"
                        else:
                            v = _cell(rng, kind)
                        blank += v == ""
                        junk += v in ("-", "n/d")
                        vals.append(v)
                        prev[key] = v
                    rows.append([g if vi == 0 else "", var, sid] + vals)
            cells_total += len(rows) * len(months)
            data_rows += len(rows)
            width = len(header)
            grid = [r + [""] * (width - len(r)) for r in preamble] + [header] + rows
            name = f"ida_raw_{y}_{sid.lower()}.{fmt}"
            path = f"{out}/{name}"
            if fmt == "csv":
                _write_csv(path, grid)
                oracle_path = path
            else:
                _write_ods(path, sheet, grid, len(VARIABLES))
                oracle_path = f"{out}/oracle/{name}.csv"
                _write_csv(oracle_path, grid)
            resources.append({"path": os.path.abspath(oracle_path), "name": name,
                              "header": len(preamble), "months": months})
    props = {"resources": len(resources), "ods_resources": years,
             "years": list(range(first_year, first_year + years)),
             "services": [s[0] for s in SERVICES],
             "raw_rows": data_rows, "cells": cells_total,
             "months_per_sheet": {"first_year": 12, "later_years": 12 + republished},
             "blank_group_share": 1 - 1 / len(VARIABLES),
             "blank_cell_share": blank / cells_total,
             "unparseable_cell_share": junk / cells_total,
             "duplicate_share": dup / cells_total}
    with open(f"{out}/resources.tsv", "w", encoding="utf-8") as f:
        for r in resources:
            f.write(f"{r['path']}\t{r['name']}\t{r['header']}\t{','.join(r['months'])}\n")
    return props


def _write_csv(path, grid):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in grid:
            f.write(";".join(r) + "\n")


def _write_ods(path, sheet, grid, block):
    """A genuine ODS container: mimetype (stored, first), manifest and
    content.xml with the mapped sheet after a decoy `Notas` sheet. Group
    names are merged cells spanning their variable block (continuations
    are covered cells), empty cells are run-length encoded, and the sheet
    ends with LibreOffice's repeated empty padding row."""
    def cell(v, span=1):
        if v is None:
            return "<table:covered-table-cell/>"
        if v == "":
            return "<table:table-cell/>"
        s = (f' table:number-rows-spanned="{span}" table:number-columns-spanned="1"'
             if span > 1 else "")
        return (f'<table:table-cell{s} office:value-type="string">'
                f"<text:p>{escape(v)}</text:p></table:table-cell>")

    def row(cells, first_span=1, covered_first=False):
        out, empties = [], 0
        for j, c in enumerate(cells):
            if j == 0 and covered_first:
                out.append(cell(None))
                continue
            if c == "":
                empties += 1
                continue
            if empties:
                out.append(f'<table:table-cell table:number-columns-repeated="{empties}"/>')
                empties = 0
            out.append(cell(c, first_span if j == 0 else 1))
        return "<table:table-row>" + "".join(out) + "</table:table-row>"

    def table(name, rows_xml):
        return (f'<table:table table:name="{name}">'
                '<table:table-column table:number-columns-repeated="16384"/>'
                + "".join(rows_xml)
                + '<table:table-row table:number-rows-repeated="1048000">'
                '<table:table-cell table:number-columns-repeated="16384"/>'
                "</table:table-row></table:table>")

    header_at = next(i for i, r in enumerate(grid) if r[0] == "GRUPO ECONOMICO")
    rows_xml = [row(r) for r in grid[:header_at + 1]]
    for k, r in enumerate(grid[header_at + 1:]):
        first = k % block == 0
        rows_xml.append(row(r, first_span=block if first else 1,
                            covered_first=not first))
    notas = [row(["Notas metodologicas"]), row(["Uso interno, sem dados mensais"])]
    content = ('<?xml version="1.0" encoding="UTF-8"?>\n<office:document-content'
               ' xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"'
               ' xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"'
               ' xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"'
               ' office:version="1.3"><office:body><office:spreadsheet>'
               + table("Notas", notas) + table(sheet, rows_xml)
               + "</office:spreadsheet></office:body></office:document-content>")
    manifest = ('<?xml version="1.0" encoding="UTF-8"?>\n<manifest:manifest'
                ' xmlns:manifest="urn:oasis:names:tc:opendocument:xmlns:manifest:1.0"'
                ' manifest:version="1.3"><manifest:file-entry manifest:full-path="/"'
                ' manifest:media-type="application/vnd.oasis.opendocument.spreadsheet"/>'
                '<manifest:file-entry manifest:full-path="content.xml"'
                ' manifest:media-type="text/xml"/></manifest:manifest>')
    # fixed entry timestamps keep the container byte-identical per seed
    stamp = (2020, 1, 1, 0, 0, 0)
    with zipfile.ZipFile(path, "w") as z:
        for name, data, how in (("mimetype", "application/vnd.oasis.opendocument.spreadsheet",
                                 zipfile.ZIP_STORED),
                                ("META-INF/manifest.xml", manifest, zipfile.ZIP_DEFLATED),
                                ("content.xml", content, zipfile.ZIP_DEFLATED)):
            info = zipfile.ZipInfo(name, stamp)
            info.compress_type = how
            z.writestr(info, data)
