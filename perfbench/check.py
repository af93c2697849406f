"""Correctness checks, run outside the timed sections.

Query results are compared with their DuckDB oracle through an
order-insensitive digest: every value is canonicalized (floats to six
significant digits, lists to tuples), each row becomes a tuple over
the sorted column names, and the digest hashes the sorted rows. The
oracle digests are computed once per input fingerprint and cached in
the work directory.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, int):
        return f"{v:.6g}" if abs(v) < 2**52 else str(v)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):  # a DuckDB struct; Spark gives a Row (a tuple)
        return tuple(_canon(x) for x in v.values())
    return str(v)


def digest(columns: list[str], rows) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in canon:
        h.update(line.encode())
    return f"{len(canon)}:{h.hexdigest()[:16]}"


def spark_digest(df) -> str:
    cols = df.columns
    return digest(cols, [tuple(r) for r in df.collect()])


def fingerprint(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as fp:
            h.update(hashlib.sha256(fp.read()).digest())
    return h.hexdigest()[:20]


def oracle_digests(sf_dir: str, tables: list[str], oracles: dict[str, str],
                   cache_dir: str) -> dict[str, str]:
    """DuckDB digest of every oracle in ``oracles``, memoized on the
    fingerprint of the input tables and the oracle SQL."""
    paths = [os.path.join(sf_dir, f"{t}.parquet") for t in tables]
    key = hashlib.sha256((fingerprint(paths) + json.dumps(
        oracles, sort_keys=True)).encode()).hexdigest()[:20]
    cache = os.path.join(cache_dir, f"oracle_{key}.json")
    if os.path.exists(cache):
        with open(cache) as fp:
            return json.load(fp)
    import duckdb

    con = duckdb.connect()
    for t, p in zip(tables, paths):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = {}
    for name, sql in oracles.items():
        res = con.execute(sql)
        out[name] = digest([d[0] for d in res.description], res.fetchall())
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    with open(cache, "w") as fp:
        json.dump(out, fp)
    return out


def table_rows(body: str, title: str) -> list[tuple[str, str]]:
    """Data rows of the two-column text table that follows ``title`` in
    a rendered report body."""
    start = body.find(title)
    if start < 0:
        return []
    rows, rules = [], 0
    for line in body[start + len(title):].lstrip("\n").splitlines():
        if line.startswith("+"):
            rules += 1
            if rules == 3:
                break
            continue
        if rules == 2:
            m = re.match(r"^\| *(.*?) \| (.*?) *\|$", line)
            if m:
                rows.append((m.group(1), m.group(2)))
    return rows


def longint(n: int) -> str:
    """Digits grouped in threes with spaces, written here rather than
    taken from the engine's renderer so the check does not trust it."""
    return f"{n:,}".replace(",", " ")


def report_mismatches(body: str, exp) -> list[str]:
    """Compare one rendered daily report with the generator's own
    expectation for that day (``gen_logs.DayExpect``)."""
    bad = []
    got = table_rows(body, "Website activity in the past 24 hours:")
    want = [(str(q), r) for q, r in exp.apache_table()]
    if got != want:
        bad.append(f"apache rows: {len(got)} rendered vs {len(want)} expected")
    b_in, b_out = exp.byte_totals()
    if not re.search(r"Total bytes sent: +" + re.escape(longint(b_out)) + "\n", body):
        bad.append("apache bytes sent total")
    if not re.search(r"Total bytes received: +" + re.escape(longint(b_in)) + "\n", body):
        bad.append("apache bytes received total")
    got = table_rows(body, "Failed SSH login attempts in the past 24 hours:")
    want = [(str(q), ip) for q, ip in exp.authfail_table()]
    if got != want:
        bad.append(f"authfail rows: {len(got)} rendered vs {len(want)} expected")
    subjects = sorted(re.findall(r"^Subject: (.*)$", body, re.M))
    if subjects != sorted(exp.subjects):
        bad.append(f"mail listing: {len(subjects)} messages vs {len(exp.subjects)}")
    return bad
