#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Usage: python3 tools/verify_local.py <sfDir> <outDir> [names]
  (run `sbt "runMain graft.Verify <sfDir> <outDir> [names]"` first)

`names` is the same comma-separated query filter Verify takes as its
third argument: queries outside it are reported as skipped, not failed.
A name in the filter with no oracle entry fails the run as UNKNOWN, and
so does a filter that selects no query. Without a filter, a query with
no result parquet fails as MISSING.

For each <outDir>/<name> parquet dir with an entry in oracle_sql.json:
run the SQL in DuckDB with views over <sfDir>/*.parquet, then compare
column names (sorted), row count, and values (hash-style exact compare
on a canonical string rendering, like the driver's value hash).

Ratio artifact:
  python3 tools/verify_local.py --ratio <bench_result.json> <anchor.json> [out.md]
writes a per-query engine-vs-oracle table (default BENCH_RATIO.md) so
individual 2x outliers are visible at a glance instead of only suite
totals.
"""
import json, sys, glob, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df):
    """Sort columns by name; render every value canonically."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    def render(v):
        if v is None or v != v:
            return "NULL"
        if isinstance(v, float):
            return repr(round(v, 9))
        return str(v)
    return [tuple(render(v) for v in row) for row in df.itertuples(index=False)]

def main(sf_dir, out_dir, names=None):
    keep = set(names.split(",")) if names is not None else None
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_skip = 0
    if keep is not None:
        for name in sorted(keep - set(oracle)):
            print(f"UNKNOWN  {name}: not in oracle_sql.json"); n_fail += 1
    for name in sorted(oracle):
        if keep is not None and name not in keep:
            n_skip += 1; continue
        res_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{res_dir}/*.parquet")
        if not files:
            print(f"MISSING  {name}: no result parquet"); n_fail += 1; continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet({files!r})").fetchdf()
            want = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"ERROR    {name}: {e}"); n_fail += 1; continue
        gc, wc = sorted(got.columns), sorted(want.columns)
        if gc != wc:
            print(f"SCHEMA   {name}: spark={gc} oracle={wc}"); n_fail += 1; continue
        if len(got) != len(want):
            print(f"ROWCOUNT {name}: spark={len(got)} oracle={len(want)}"); n_fail += 1; continue
        g, w = canon(got), canon(want)
        if g != w:
            bad = next(i for i, (a, b) in enumerate(zip(g, w)) if a != b)
            print(f"VALUES   {name}: first diff at row {bad}:")
            print(f"  spark : {g[bad]}")
            print(f"  oracle: {w[bad]}")
            n_fail += 1; continue
        print(f"OK       {name}: {len(got)} rows")
        n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed"
          + (f", {n_skip} skipped" if keep is not None else ""))
    if n_pass + n_fail == 0:
        print("no query checked"); return 1
    return 1 if n_fail else 0

def ratio(bench_path, anchor_path, out_path="BENCH_RATIO.md"):
    bench_all = json.load(open(bench_path))
    bench = bench_all["queries"]
    anchor = json.load(open(anchor_path))
    # optional per-gate machinery floors (graft.GateFloor): engine time
    # for a streaming gate = fixed micro-batch machinery + query work;
    # the floor column makes that split mechanical instead of prose
    floors, floor_suspects = {}, set()
    if os.path.exists("gate_floor.json"):
        gf = json.load(open("gate_floor.json"))
        # scale guard (round-14 ADVICE): a floor measured at a different
        # sf than the bench silently fabricates the work column
        if gf.get("sf") != bench_all.get("sf"):
            print(f"WARNING: gate_floor.json sf={gf.get('sf')!r} != bench "
                  f"sf={bench_all.get('sf')!r}; skipping floor columns")
        else:
            floor_suspects = set(gf.get("suspect", []))
            if floor_suspects:
                print("WARNING: contaminated floors excluded (floor > own "
                      "gate engine time): " + ", ".join(sorted(floor_suspects)))
            floors = {k: v for k, v in gf.get("floors", {}).items()
                      if v is not None and v >= 0 and k not in floor_suspects}
    rows = []
    for q in sorted(bench):
        e = bench[q]
        o = anchor.get(q)
        # `is not None`, not truthiness: a 0.0 anchor is a real (infinite-
        # ratio) measurement, not a missing one
        rows.append((q, e, o, (e / o) if o not in (None, 0.0) else None))
    # totals over the ANCHORED intersection only — summing unanchored
    # engine seconds against a smaller anchor total would bias the
    # headline ratio upward while the table shows 'no-anchor'
    anchored = [(q, e, o, r) for q, e, o, r in rows if o is not None]
    et = sum(e for _, e, _, _ in anchored)
    ot = sum(o for _, _, o, _ in anchored)
    missing = len(rows) - len(anchored)
    headline = (f"Engine suite total {et:.1f} s vs anchor total {ot:.1f} s = "
                f"**{et / ot:.2f}x** over the {len(anchored)} anchored queries"
                if ot > 0 else "No anchored queries — regenerate the anchor json")
    lines = [
        "# BENCH_RATIO — per-query engine vs DuckDB anchor (sf0.1)",
        "",
        headline + (f" ({missing} unanchored rows excluded from totals)."
                    if missing else "."),
        "Ratios > 2x are flagged; sub-second relational queries pay",
        "Spark's ~0.3-0.5 s per-job floor, which amortizes at scale",
        "(see BASELINE.md).",
        "",
        "| query | engine s | oracle s | ratio | floor s | work s | |",
        "|---|---|---|---|---|---|---|",
    ]
    def fcols(q, e):
        # floor = measured machinery cost of the same gate on a one-row
        # source; work = engine - floor, the data-proportional part
        if q in floors:
            return f" {floors[q]:.2f} | {max(0.0, e - floors[q]):.2f} |"
        return " — | — |"
    for q, e, o, r in rows:
        if o is None:
            lines.append(f"| {q} | {e:.3f} | — | — |{fcols(q, e)} no-anchor |")
        elif r is None:
            lines.append(f"| {q} | {e:.3f} | {o:.3f} | inf |{fcols(q, e)} **> 2x** |")
        else:
            flag = "**> 2x**" if r > 2 else ""
            lines.append(f"| {q} | {e:.3f} | {o:.3f} | {r:.2f} |{fcols(q, e)} {flag} |")
    over = [q for q, _, o, r in rows if o is not None and (r is None or r > 2)]
    lines += ["", f"{len(over)} of {len(rows)} queries over 2x individually: "
              + (", ".join(over) if over else "none") + "."]
    if floors:
        fl_rows = [(q, e, o, r) for q, e, o, r in rows if q in floors]
        # machinery-dominated = the floor explains > half the engine time
        dom = [q for q, e, _, _ in fl_rows if floors[q] > 0.5 * e]
        lines += ["", f"Gate machinery floors (graft.GateFloor, one-row "
                  f"source, same batch structure, median-of-reps with "
                  f"other_cpu/io_wait sidecars): {len(fl_rows)} gates "
                  f"floored; machinery explains > 1/2 the engine time for "
                  f"{len(dom)} of them ({', '.join(dom) if dom else 'none'})."
                  + (f" Excluded as contaminated: "
                     f"{', '.join(sorted(floor_suspects))}."
                     if floor_suspects else "")]
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_path}: {et:.1f}s vs {ot:.1f}s"
          + (f" = {et/ot:.2f}x" if ot > 0 else "")
          + f", {len(over)} queries over 2x, {missing} unanchored")
    return 0

if __name__ == "__main__":
    if sys.argv[1] == "--ratio":
        sys.exit(ratio(*sys.argv[2:]))
    sys.exit(main(*sys.argv[1:4]))
