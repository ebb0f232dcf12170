"""Output checks that run after the timed window: the stream's sink
against its batch twin, and curation query outputs against their DuckDB
oracle SQL over the same generated tables."""
import datetime
import decimal
import hashlib
import math
import os

import pyarrow.parquet as pq

_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def norm(v):
    """A plain, comparable, hashable form of one cell."""
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - _EPOCH
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        if v and all(isinstance(x, tuple) and len(x) == 2 for x in v) and \
                all(isinstance(x[0], str) for x in v):
            return tuple(sorted((k, norm(x)) for k, x in v))  # map as pairs
        return tuple(norm(x) for x in v)
    if hasattr(v, "tolist"):
        return norm(v.tolist())
    return v


def content_hash(rows):
    """Order-insensitive SHA-256 of normalised rows."""
    h = hashlib.sha256()
    for line in sorted(repr(r) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def read_rows(path, columns=None):
    """Rows of a parquet file or directory as tuples in `columns` order
    (default: sorted column names). Files and directories starting with
    '_' or '.' (such as a streaming sink's metadata log) are skipped."""
    t = pq.read_table(path)
    cols = columns or sorted(t.column_names)
    data = [t.column(c).to_pylist() for c in cols]
    return cols, [tuple(norm(x) for x in r) for r in zip(*data)]


def stream_sink_matches(sink_dir, expected_dir):
    """The sink's windows equal the twin's: same (start, symbol) keys,
    same count and 24 measures. Returns (ok, detail)."""
    exp_cols, exp = read_rows(expected_dir)
    measures = [c for c in exp_cols if c not in ("start", "osym")]
    _, want = read_rows(expected_dir, ["start", "osym"] + measures)
    got_cols = ["window_start", "osym"] + measures
    try:
        _, got = read_rows(sink_dir, got_cols)
    except Exception as e:  # missing columns or unreadable files
        return False, f"sink unreadable: {e}"
    # window_start is a timestamp (µs); the twin's start is epoch ms
    got = [(r[0] // 1000,) + r[1:] for r in got]
    want_map = {(r[0], r[1]): r[2:] for r in want}
    got_map = {(r[0], r[1]): r[2:] for r in got}
    if len(got_map) != len(got):
        return False, "sink repeats a window"
    if got_map == want_map:
        return True, f"{len(got)} windows match"
    missing = set(want_map) - set(got_map)
    extra = set(got_map) - set(want_map)
    differ = [k for k in set(want_map) & set(got_map) if want_map[k] != got_map[k]]
    return False, (f"{len(missing)} missing, {len(extra)} extra, {len(differ)} differ "
                   f"of {len(want_map)} windows; e.g. {sorted(differ or missing or extra)[:1]}")


TABLES = ["documents", "embeddings", "events"]


def curation_matches(tables_dir, outputs):
    """Each query output equals its DuckDB oracle over the same tables:
    equal row counts, rows equal in order (every query orders its
    output), and equal order-insensitive content hashes."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet", "*.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    results = {}
    for o in outputs:
        name = o["query"]
        cols, spark_rows = read_rows(o["dir"])
        rel = con.sql(o["oracle_sql"])
        ocols = list(rel.columns)
        order = [ocols.index(c) for c in cols] if sorted(ocols) == cols else None
        if order is None:
            results[name] = {"ok": False, "err": f"columns {cols} vs oracle {sorted(ocols)}"}
            continue
        oracle_rows = [tuple(norm(r[i]) for i in order) for r in rel.fetchall()]
        h_spark, h_oracle = content_hash(spark_rows), content_hash(oracle_rows)
        ok = (len(spark_rows) == len(oracle_rows) and spark_rows == oracle_rows
              and h_spark == h_oracle)
        entry = {"ok": ok, "rows": len(spark_rows), "oracle_rows": len(oracle_rows),
                 "hash": h_spark[:16]}
        if not ok:
            diff = next((i for i, (a, b) in enumerate(zip(spark_rows, oracle_rows)) if a != b),
                        None)
            if diff is not None:
                entry["first_diff"] = [repr(spark_rows[diff])[:200], repr(oracle_rows[diff])[:200]]
        results[name] = entry
    return all(r["ok"] for r in results.values()), results
