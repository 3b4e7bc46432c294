"""Output checks, run outside every timed region.

Query workloads: the Spark result and the query's DuckDB oracle
(``registry.ORACLES``) over the same parquet files must agree on the
column names, the row count and an order-insensitive hash of the
cell values. Converter workloads: the written Parquet must hold one row
per release, and one full pass compares every row against ground truth
derived from the generator's residue rules.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
from pathlib import Path


def _cell(v) -> str:
    """Type-tagged cell text; integer widths collapse, int vs float and
    decimal vs float do not."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return f"b{v}"
    if isinstance(v, decimal.Decimal):
        return f"d{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "fnan"
        return f"f{(v if v != 0 else 0.0)!r}"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, (dt.datetime, dt.date)):
        return f"t{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={_cell(v[k])}" for k in sorted(v)) + "}"
    return f"s{v}"


def fingerprint(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive value hash) over columns sorted by
    name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(lines).encode()).hexdigest()[:16]
    return len(lines), h


def spark_fingerprint(df) -> tuple[list[str], int, str]:
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]
    return tuple(sorted(cols)), *fingerprint(cols, rows)


def oracle_fingerprint(sf_dir: Path, sql: str) -> tuple[list[str], int, str]:
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(sf_dir.glob("*.parquet")):
            con.execute(f"CREATE VIEW {f.stem} AS "
                        f"SELECT * FROM read_parquet('{f}')")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
    finally:
        con.close()
    return tuple(sorted(cols)), *fingerprint(cols, rows)


def check_conversion_full(out_dir: Path, n_releases: int,
                          start_id: int) -> dict:
    """Every converted row against the generator's ground truth (the
    flattened projection ``fixture.expected_flat_rows`` defines), read
    back with pyarrow rather than the program's own Spark session."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from discogs_xml_to_parquet_spark.sources.fixture import (
        expected_flat_rows,
    )

    t = pq.read_table(out_dir)
    artists = t["artists"].combine_chunks()
    anv_null = np.asarray(
        artists.flatten().field("anv").is_null(), dtype=bool)
    parents = np.asarray(pc.list_parent_indices(artists))
    cols = {
        "id": t["id"], "status": t["status"], "title": t["title"],
        "n_artists": pc.list_value_length(artists),
        "n_null_anv": np.bincount(parents[anv_null], minlength=t.num_rows),
        "n_genres": pc.list_value_length(t["genres"]),
        "n_styles": pc.list_value_length(t["styles"]),
        "n_labels": pc.list_value_length(t["labels"]),
        "is_main_release": t["is_main_release"], "master_id": t["master_id"],
    }
    names = list(cols)
    got = fingerprint(names, zip(*(
        c.tolist() if isinstance(c, np.ndarray) else c.to_pylist()
        for c in cols.values())))
    # the first three ground-truth rows are the hand-written edge
    # fixture, which the synthetic corpus does not contain
    want = fingerprint(names, expected_flat_rows(n_releases, start_id)[3:])
    return {"ok": got == want, "rows": got[0], "hash": got[1],
            "expected_rows": want[0], "expected_hash": want[1]}


def parquet_rows(out_dir: Path) -> int:
    """Row count from the Parquet footers (no Spark job)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows
               for p in out_dir.glob("*.parquet"))
