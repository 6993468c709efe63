"""Output checks that run outside the JVM, with readers independent of the
engine: export files read back and counted, and the curation pipelines'
results compared with their DuckDB oracle SQL the way tools/check_oracle.py
compares them (columns sorted by name, rows sorted, values normalised)."""
import csv
import hashlib
import json
import math
import os
import xml.etree.ElementTree as ET
import zipfile

import duckdb
import pyarrow.feather as feather
import pyarrow.parquet as pq

csv.field_size_limit(1 << 30)


def _delimited(path, sep):
    with open(path, newline="", encoding="utf-8") as f:
        return sum(1 for _ in csv.reader(f, delimiter=sep)) - 1


def _json(path):
    with open(path, encoding="utf-8") as f:
        return len(json.load(f)["data"])


def _xml(path):
    return sum(1 for _, el in ET.iterparse(path) if el.tag == "row")


def _xlsx(path):
    with zipfile.ZipFile(path) as z, z.open("xl/worksheets/sheet1.xml") as sheet:
        rows = sum(1 for _, el in ET.iterparse(sheet) if el.tag.endswith("}row"))
    return rows - 1


READERS = {
    "csv": lambda p: _delimited(p, ","),
    "tsv": lambda p: _delimited(p, "\t"),
    "json": _json,
    "xml": _xml,
    "xlsx": _xlsx,
    "feather": lambda p: feather.read_table(p).num_rows,
    "parquet": lambda p: pq.read_metadata(p).num_rows,
}


def check_exports(exports):
    """Each export must hold exactly its query's result rows."""
    failures = []
    for e in exports:
        try:
            got = READERS[e["format"]](e["path"])
        except Exception as ex:  # an unreadable file is a failed check
            got = f"unreadable ({type(ex).__name__}: {ex})"
        if got != e["rows"]:
            failures.append(f"export {e['query']}.{e['format']} holds {got} rows, "
                            f"the result has {e['rows']}")
    return len(exports), failures


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    return str(v)


def _rows(df, cols):
    return sorted(tuple(_norm(v) for v in row) for row in df[cols].itertuples(index=False))


def _same_rows(con, cols):
    """Row multisets of `got` and `want` equal? Exact columns compare in
    DuckDB; with a float column, rows are normalised in Python."""
    types = [t for table in ("got", "want")
             for _, t, *_ in con.execute(f"DESCRIBE {table}").fetchall()]
    if not any(t in ("FLOAT", "DOUBLE") for t in types):
        sel = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in cols)
        diff = con.execute(f"SELECT count(*) FROM ((SELECT {sel} FROM got EXCEPT ALL "
                           f"SELECT {sel} FROM want) UNION ALL (SELECT {sel} FROM want "
                           f"EXCEPT ALL SELECT {sel} FROM got))").fetchone()[0]
        return diff == 0
    got = con.execute("SELECT * FROM got").fetchdf()
    want = con.execute("SELECT * FROM want").fetchdf()
    return _rows(got, cols) == _rows(want, cols)


def check_oracle(data_dir, oracle, keep_dir):
    """Each pipeline's parquet output must equal its oracle SQL's result.
    The tables in data_dir never change (the seed does not touch them), so
    an oracle result is computed once per SQL text and kept in keep_dir."""
    failures = []
    os.makedirs(keep_dir, exist_ok=True)
    for o in oracle:
        want = os.path.join(keep_dir, hashlib.sha256(o["sql"].encode()).hexdigest()[:16] + ".parquet")
        con = duckdb.connect()
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
        name = o["name"]
        try:
            if not os.path.exists(want):
                con.execute(f"COPY ({o['sql']}) TO '{want}.tmp' (FORMAT parquet)")
                os.replace(f"{want}.tmp", want)
            con.execute(f"CREATE TEMP TABLE want AS SELECT * FROM '{want}'")
            con.execute(f"CREATE TEMP TABLE got AS SELECT * FROM '{o['path']}/*.parquet'")
            gcols = sorted(c for c, *_ in con.execute("DESCRIBE got").fetchall())
            wcols = sorted(c for c, *_ in con.execute("DESCRIBE want").fetchall())
            counts = [con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in ("got", "want")]
            if gcols != wcols:
                failures.append(f"{name}: columns {gcols}, oracle {wcols}")
            elif counts[0] != counts[1]:
                failures.append(f"{name}: {counts[0]} rows, oracle {counts[1]}")
            elif not _same_rows(con, gcols):
                failures.append(f"{name}: values differ from the oracle")
        except Exception as ex:
            failures.append(f"{name}: {type(ex).__name__}: {ex}")
        finally:
            con.close()
    return len(oracle), failures
