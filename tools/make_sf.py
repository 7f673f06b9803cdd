#!/usr/bin/env python3
"""Replicate /root/testdata/sf0.1 into a ~REP x dataset for the scale
rehearsal (driver-side tooling, like check_oracle.py — not part of the
Spark library).

Design constraint: replicas must be LINEARLY independent workloads, not
carbon copies — the rehearsal's whole point is "does per-query time
scale ~linearly in data volume". Exact copies would instead multiply
every dedup family 10x (each doc near-dups its 9 replicas: pair counts
grow ~100x, clustering diameters change), turning the scaling signal
into a semantics change. So:

  documents   doc_id + k*1e5; every word in replica k>0 gets a
              4-letter tag ('q' + base-26 of k, r10 fix: the old
              k%26 single letter made replicas 26 apart EXACT
              duplicates of each other at REP>26, inflating every
              cross-replica dedup answer superlinearly) so
              WITHIN-replica shingle structure (planted dup families)
              is preserved exactly while CROSS-replica jaccard is ~0
              at ANY REP <= 17576; n_chars recomputed.
  embeddings  vec_id + k*1e5 (stays < Dedup.PLANTED_ID_OFFSET, 1e6,
              only while REP <= 10 — at larger REP the shifted ids
              reach 1e6 and plantNearDups' collision require aborts
              loudly; the oracle SQL hardcodes the same offset, so
              the embedding-dedup rows need REP <= 10);
              vectors np.roll'ed by k then sign-flipped by a
              deterministic per-(replica, dim) +-1 pattern (r10 fix:
              a bare roll wraps at dim=64, making replicas 64 apart
              IDENTICAL at REP>64) — both ops preserve norms and
              within-replica cosine geometry exactly, cross-replica
              cosines are those of independent gaussians.
  events      event_id + k*1e6, user_id + k*1e5, ts + k days (ns) —
              per-user behavior and session/window shapes replicate,
              users and time span grow 10x.
  orders      o_orderkey + k*1e6, dims (custkey) kept — fan-in per
              customer grows 10x, the realistic fact-growth shape.
  lineitem    l_orderkey + k*1e6 (follows orders).
  region nation customer supplier part   copied as-is (dimensions).

Usage: python3 tools/make_sf.py [REP] [OUTDIR] [TABLE...]
       defaults: REP=10 OUTDIR=/tmp/testdata/sf1.0, all tables;
       naming TABLEs restricts the build (e.g. `1000 /tmp/x documents`
       for the 1000x single-family stress set — events at REP=1000
       would be 400M rows of ballast the documents rehearsal never
       reads).
"""
import re
import string
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
REP = int(sys.argv[1]) if len(sys.argv) > 1 else 10
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/testdata/sf1.0"

DAY_NS = 86400 * 10**9
WORD = re.compile(r"[A-Za-z]+")


def shift_col(table, name, delta, typ):
    """Return `table` with int-typed column `name` shifted by `delta`."""
    idx = table.schema.get_field_index(name)
    col = pc.add(table.column(name).cast(pa.int64()), delta).cast(typ)
    return table.set_column(idx, table.schema.field(idx), col)


def replicate(name, transform):
    t = pq.read_table(f"{SRC}/{name}.parquet")
    parts = [transform(t, k) for k in range(REP)]
    out = pa.concat_tables(parts)
    pq.write_table(out, f"{OUT}/{name}.parquet")
    print(f"{name}: {t.num_rows} -> {out.num_rows}")


def copy(name):
    t = pq.read_table(f"{SRC}/{name}.parquet")
    pq.write_table(t, f"{OUT}/{name}.parquet")
    print(f"{name}: {t.num_rows} (copied)")


def documents(t, k):
    t = shift_col(t, "doc_id", k * 100_000, pa.int64())
    if k == 0:
        return t
    l = string.ascii_lowercase
    tag = "q" + l[(k // 676) % 26] + l[(k // 26) % 26] + l[k % 26]
    texts = [WORD.sub(lambda m: m.group(0) + tag, x)
             for x in t.column("text").to_pylist()]
    t = t.set_column(t.schema.get_field_index("text"),
                     t.schema.field("text"), pa.array(texts, pa.string()))
    n_chars = pa.array([len(x) for x in texts], pa.int64())
    return t.set_column(t.schema.get_field_index("n_chars"),
                        t.schema.field("n_chars"), n_chars)


def embeddings(t, k):
    t = shift_col(t, "vec_id", k * 100_000, pa.int64())
    if k == 0:
        return t
    col = t.column("embedding").combine_chunks()
    if isinstance(col, pa.ChunkedArray):
        col = col.chunk(0)
    dim = len(col[0])
    flat = np.asarray(col.values)
    rolled = np.roll(flat.reshape(-1, dim), k, axis=1)
    # deterministic +-1 per (replica, dim): sign-flip preserves norms
    # and within-replica cosines exactly; cross-replica cosines of
    # same-roll replicas become sums of +-gaussians (mean 0), not 1.0
    rng = np.random.default_rng(1000003 + k)
    signs = rng.integers(0, 2, size=dim) * 2 - 1
    rolled = (rolled * signs).reshape(-1)
    arr = pa.ListArray.from_arrays(col.offsets, pa.array(rolled, pa.float32()))
    return t.set_column(t.schema.get_field_index("embedding"),
                        t.schema.field("embedding"), arr)


def events(t, k):
    t = shift_col(t, "event_id", k * 1_000_000, pa.int64())
    t = shift_col(t, "user_id", k * 100_000, pa.int64())
    # ts has shipped as TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across
    # testdata generations — shift one day per replica in the SOURCE
    # unit and keep it (a hard-coded ns cast would reinterpret µs ints)
    unit = t.schema.field("ts").type.unit
    day = 86400 * (10**9 if unit == "ns" else 10**6)
    return shift_col(t, "ts", k * day, pa.timestamp(unit))


def orders(t, k):
    return shift_col(t, "o_orderkey", k * 1_000_000, pa.int64())


def lineitem(t, k):
    return shift_col(t, "l_orderkey", k * 1_000_000, pa.int64())


if __name__ == "__main__":
    import os
    os.makedirs(OUT, exist_ok=True)
    only = set(sys.argv[3:])
    def want(name):
        return not only or name in only
    for name, fn in [("documents", documents), ("embeddings", embeddings),
                     ("events", events), ("orders", orders),
                     ("lineitem", lineitem)]:
        if want(name):
            replicate(name, fn)
    for dim in ["region", "nation", "customer", "supplier", "part"]:
        if want(dim):
            copy(dim)
