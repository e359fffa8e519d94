#!/usr/bin/env python3
"""Build a perturbed copy of a testdata SF dir for fragility sweeps.

The driver regenerates testdata between rounds, so a query that
hash-matches its DuckDB oracle on TODAY'S parquet can still be wrong
in a way tomorrow's draw exposes (ADVICE r7's q128 finding: a
sessionization boundary rule that only matched by luck).  Because
check_oracles.py compares Spark vs DuckDB ON THE SAME PARQUET, we can
sweep the whole surface against a perturbed copy and read any
mismatch as a latent bug — no new oracle needed.

Modes:
  shuffle  — seeded row permutation of every table, schema and values
             byte-identical; also splits row groups small so Spark's
             partition/task order changes.  A failure here is a
             genuine order-dependence bug (non-total-order tie-break,
             first()/any_value() without a deterministic frame).
  jitter   — shuffle + generator-plausible value perturbations aimed
             at boundary rules:
               * events.ts: re-draw sub-second micros; force ~1% of
                 per-user consecutive gaps into [86399 s, 86401 s)
                 (the q128 sessionization window) with fractional
                 parts straddling a second boundary;
               * events.value / lineitem money columns: snap ~2% of
                 rows to exact .x5 / .005 round-half hazards within
                 the observed range.
             Keys, FKs, row counts and schemas are untouched, so
             every join/oracle stays well-defined.
  empty    — every table rewritten with zero rows and an identical
             schema: the degenerate input a filtered or freshly
             created upstream hands over.  A failure here is a query
             that needs rows to plan (schema inference on a staged
             re-read) or that disagrees with SQL on empty aggregates.

Usage: python3 tools/perturb_testdata.py SRC_DIR DST_DIR [shuffle|jitter|empty] [seed]
"""
import sys
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pathlib import Path

def shuffled(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    perm = rng.permutation(table.num_rows)
    return table.take(pa.array(perm))

def jitter_events(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    df = table.to_pandas()
    ts = df["ts"].to_numpy().astype("datetime64[us]").astype("int64")
    # re-draw every sub-second part: the generator draws continuous
    # timestamps, so any micros value is a legal draw
    ts = (ts // 1_000_000) * 1_000_000 + rng.integers(0, 1_000_000, len(ts))
    # force near-86400s per-user consecutive gaps whose fractional
    # parts straddle a second boundary (the ADVICE-r7 q128 hazard).
    # At most ONE forced pair per user, and a planted value must not
    # leapfrog the user's next event — together these guarantee every
    # forced gap is realized between CONSECUTIVE events (a mutation
    # that reorders the per-user sequence would silently plant the
    # hazard somewhere else, or nowhere).
    order = np.lexsort((ts, df["user_id"].to_numpy()))
    users = df["user_id"].to_numpy()[order]
    n_force = max(20, len(ts) // 100)
    n_avail = max(0, len(order) - 1)
    k = min(3 * n_force, n_avail)
    idx = rng.choice(n_avail, size=k, replace=False) if k else np.array([], int)
    forced, used_users = 0, set()
    for i in sorted(idx):
        if forced >= n_force:
            break
        if users[i] != users[i + 1] or users[i] in used_users:
            continue
        a, b = order[i], order[i + 1]
        # gap drawn in [86399.0 s, 86401.0 s) with straddling micros
        gap = 86_399_000_000 + rng.integers(0, 2_000_000)
        new_b = ts[a] + gap
        # adjacency guard: next same-user event must stay later
        if i + 2 < len(order) and users[i + 2] == users[i + 1] \
                and new_b >= ts[order[i + 2]]:
            continue
        ts[b] = new_b
        used_users.add(users[i])
        forced += 1
    if n_force and forced < n_force:
        print(f"  (events: planted {forced}/{n_force} boundary gaps)")
    df["ts"] = ts.astype("datetime64[us]")
    # snap ~2% of values to exact .x5 cents-boundary hazards inside
    # the observed range (generator emits 2-decimal values already)
    v = df["value"].to_numpy()
    mask = rng.random(len(v)) < 0.02
    # clamp after the .05 snap: the rounding+offset can overshoot the
    # observed max by up to ~0.15, which would contradict the
    # "within the observed range" contract range-asserting queries use
    hazard = np.round(rng.uniform(v.min(), v.max(), mask.sum()) * 10) / 10 + 0.05
    v[mask] = np.clip(np.round(hazard, 2), v.min(), v.max())
    df["value"] = v
    return pa.Table.from_pandas(df, schema=table.schema, preserve_index=False)

def jitter_money(table: pa.Table, rng: np.random.Generator, cols) -> pa.Table:
    df = table.to_pandas()
    for c in cols:
        if c not in df.columns:
            continue
        v = df[c].to_numpy(dtype="float64")
        mask = rng.random(len(v)) < 0.02
        hazard = np.round(rng.uniform(v.min(), v.max(), mask.sum()) * 10) / 10 + 0.05
        v[mask] = np.clip(np.round(hazard, 2), v.min(), v.max())
        df[c] = v
    return pa.Table.from_pandas(df, schema=table.schema, preserve_index=False)

def main():
    src, dst = Path(sys.argv[1]), Path(sys.argv[2])
    mode = sys.argv[3] if len(sys.argv) > 3 else "shuffle"
    seed = int(sys.argv[4]) if len(sys.argv) > 4 else 8
    rng = np.random.default_rng(seed)
    dst.mkdir(parents=True, exist_ok=True)
    for f in sorted(src.glob("*.parquet")):
        t = pq.read_table(f)
        if mode == "empty":
            t = t.schema.empty_table()
        elif mode == "jitter":
            if f.stem == "events":
                t = jitter_events(t, rng)
            elif f.stem == "lineitem":
                t = jitter_money(t, rng, ["l_extendedprice", "l_discount", "l_tax"])
            elif f.stem == "orders":
                t = jitter_money(t, rng, ["o_totalprice"])
        if mode != "empty":
            t = shuffled(t, rng)
        # small row groups => more Spark input splits => different
        # task order than the pristine single-group file
        pq.write_table(t, dst / f.name, row_group_size=max(1000, t.num_rows // 7))
        print(f"{f.stem}: {t.num_rows} rows -> {dst / f.name}")

if __name__ == "__main__":
    main()
