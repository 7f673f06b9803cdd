"""Metric arithmetic and output checks for perfbench/run.py.

Kept free of Spark and of the build so the self-tests in
perfbench/tests run in a second.
"""
import hashlib
import math
import re
import statistics

NAME = re.compile(r"[A-Za-z0-9_.-]+")

# the tail percentile is the highest of these with at least
# TAIL_BEYOND samples above it
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_BEYOND = 10


def valid_name(name):
    return bool(NAME.fullmatch(name)) and len(name) <= 64


def median(xs):
    return statistics.median(xs)


def tail_percentile(samples):
    """(percentile, value) of the highest ladder percentile with at
    least TAIL_BEYOND samples beyond it, or None when even the median
    has fewer. Nearest-rank: the value is a sample."""
    xs = sorted(samples)
    n = len(xs)
    best = None
    for p in TAIL_LADDER:
        if round(n * (100 - p), 6) >= TAIL_BEYOND * 100:
            best = p
    if best is None:
        return None
    rank = max(1, math.ceil(best / 100 * n))
    return best, xs[rank - 1]


def account(passes, wrong):
    """Failure accounting over the timed passes' ops.

    `passes` is a list of op lists ({"name", "error", ...}); `wrong`
    is the set of op names whose checked output did not match. An op
    counts as failed if it threw or if its answer was wrong; it is
    never dropped from the attempted count. Returns (attempted,
    failed, sorted names of failed ops)."""
    attempted = failed = 0
    names = set()
    for ops in passes:
        for op in ops:
            attempted += 1
            if op.get("error") or op["name"] in wrong:
                failed += 1
                names.add(op["name"])
    return attempted, failed, sorted(names)


def canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    return v


def fingerprint(df):
    """Order-sensitive digest of a result table: columns sorted by
    name, floats to 9 significant digits (the oracle compare's rule)."""
    df = df.reindex(sorted(df.columns), axis=1)
    h = hashlib.sha256(repr(list(df.columns)).encode())
    for row in df.itertuples(index=False):
        h.update(repr(tuple(canon(v) for v in row)).encode())
    return h.hexdigest()


def oracle_check(check_dir, data_dir, tables):
    """Compare each op's dumped result with its DuckDB oracle over the
    same tables. Returns {name: problem} for every mismatch."""
    import json
    import os

    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    wrong = {}
    for name, sql in oracles.items():
        out = os.path.join(check_dir, name)
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out}/*.parquet')").df()
            want = con.execute(sql).df()
        except Exception as e:  # missing output or failing oracle
            wrong[name] = f"error: {str(e).splitlines()[0][:200]}"
            continue
        if fingerprint(got) != fingerprint(want):
            wrong[name] = f"fingerprint mismatch ({len(got)} vs {len(want)} rows)"
    con.close()
    return wrong


def parse_sink(path, header):
    """Rows (word bytes, count) of a FormattedTextSink file."""
    with open(path, "rb") as f:
        lines = f.read().split(b"\n")
    if lines[0] != header.encode("utf-8"):
        raise ValueError(f"{path}: bad header {lines[0][:80]!r}")
    if lines[-1] == b"":
        lines.pop()
    rows = []
    for ln in lines[1:]:
        w, c = ln.rsplit(b" -> ", 1)
        rows.append((w, int(c)))
    return rows


def wordcount_check(alpha, freq, manifest):
    """Problems with the two word-count outputs, as a list of strings
    (empty when both are right)."""
    problems = []
    if sum(c for _, c in alpha) != manifest["tokens"]:
        problems.append("sum of cnt != manifest tokens")
    if len(alpha) != manifest["distinct"]:
        problems.append(
            f"{len(alpha)} rows != manifest distinct {manifest['distinct']}")
    if any(alpha[i][0] >= alpha[i + 1][0] for i in range(len(alpha) - 1)):
        problems.append("alpha file not in strict byte order")
    key = [(-c, w) for w, c in freq]
    if any(key[i] > key[i + 1] for i in range(len(key) - 1)):
        problems.append("freq file not ordered by (cnt desc, word asc)")
    if sorted(freq) != alpha:
        problems.append("alpha and freq files hold different rows")
    return problems
