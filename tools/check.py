#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: for each query result
parquet dumped by graft.Verify, run the corresponding oracle SQL in DuckDB
over the same sf tables and compare rows/schema/values exactly
(columns sorted by name, like the driver).

Second mode — the share-regression gate (BASELINE.md's own load-robust
metric, judged mechanically):

    check.py --bench BENCH_rN.json [BASELINE.md]

parses the per-query median table in BASELINE.md, compares each query's
SHARE of its run total against the baseline share (absolute seconds swing
±30% with host steal time; shares are stable, CV 0.089), prints the share
table, and FAILS (exit 1) on any query whose share grew >2x while above
the 0.75 s planning floor (below it a scheduler hiccup doubles the number
— the documented q_window_running case). Queries absent from the baseline
are listed as NEW and never fail the gate.

Third mode — compare two Verify dumps (e.g. before and after a refactor):

    check.py --same DUMP_A DUMP_B

reports every query whose oracle_sql.json SQL text differs (or is present
in one dump only) and every query whose result rows differ (read through
DuckDB read_parquet, compared in stored order, schema included); exits 1
on any difference."""
import sys, glob, json, os, re, signal

# die quietly when piped into head instead of spewing BrokenPipeError
signal.signal(signal.SIGPIPE, signal.SIG_DFL)


def share_gate(bench_path: str, baseline_path: str) -> int:
    bench = json.load(open(bench_path))
    if "queries" not in bench and isinstance(bench.get("parsed"), dict):
        bench = bench["parsed"]  # driver wrapper around the raw Bench line
    if "queries" not in bench:
        print(f"{bench_path} has no per-query data (driver wrapper with "
              f"truncated tail?) — use the raw Bench stdout JSON or "
              f"BENCH_LOCAL.json")
        return 2
    qsec = bench["queries"]

    base, base_sf = {}, None
    in_table = False
    for line in open(baseline_path):
        m = re.search(r"Per-query seconds at sf([\d.]+)", line)
        if m:
            # a NEW per-sf heading starts a new table: discard medians
            # accumulated from any earlier table so rows from different SFs
            # are never silently mixed (earlier-table-only queries would
            # otherwise leak in as stale entries and trigger spurious
            # MISSING failures despite the cross-sf refusal below)
            base_sf = m.group(1)
            base = {}
        if line.startswith("| query | median |"):
            in_table = True
            continue
        if in_table:
            m = re.match(r"\|\s*(q_\w+)\s*\|\s*([\d.]+)\s*\|", line)
            if m:
                base[m.group(1)] = float(m.group(2))
            elif line.startswith("|---"):
                continue
            else:
                in_table = False
    if not base:
        print(f"no per-query median table found in {baseline_path}")
        return 2
    # shares at different SFs are not comparable (heavy dedup queries
    # dominate at sf0.1 but not sf0.001) — refuse a cross-sf comparison,
    # the same footgun Bench.scala guards its snapshot against
    bench_sf = re.sub(r".*sf", "", str(bench.get("sf", ""))) or None
    if base_sf and bench_sf and bench_sf != base_sf:
        print(f"sf mismatch: bench ran at sf{bench_sf}, baseline table is "
              f"sf{base_sf} — shares are not comparable across SFs")
        return 2

    # shares over the INTERSECTION only: summing mismatched sets (new
    # queries in the bench, missing queries in the baseline) dilutes every
    # denominator and lets a true >2x outlier print under the gate
    common = sorted(set(qsec) & set(base))
    missing = sorted(set(base) - set(qsec))
    new = sorted(((q, qsec[q]) for q in set(qsec) - set(base)),
                 key=lambda r: -r[1])
    if not common:
        print("no overlap between bench queries and baseline table")
        return 2
    total = sum(qsec[q] for q in common)
    base_total = sum(base[q] for q in common)

    FLOOR_SEC, MAX_RATIO = 0.75, 2.0
    rows, fails = [], []
    for q in common:
        sec = qsec[q]
        share = sec / total
        bshare = base[q] / base_total
        ratio = share / bshare if bshare > 0 else float("inf")
        flag = ""
        if ratio > MAX_RATIO:
            if sec >= FLOOR_SEC:
                flag = "FAIL"
                fails.append(q)
            else:
                flag = "warn (sub-floor)"
        rows.append((q, sec, share, bshare, ratio, flag))

    print(f"bench {bench_path}: {sum(qsec.values()):.1f} s over {len(qsec)} "
          f"queries ({total:.1f} s over the {len(common)} baseline-covered); "
          f"baseline medians sum {base_total:.1f} s")
    print("\n| query | sec | share | base share | ratio | |")
    print("|---|---|---|---|---|---|")
    for q, sec, share, bshare, ratio, flag in sorted(rows, key=lambda r: -r[4]):
        print(f"| {q} | {sec:.2f} | {share:.2%} | {bshare:.2%} "
              f"| {ratio:.2f}x | {flag} |")
    for q, sec in new:
        print(f"| {q} | {sec:.2f} | — | — | NEW | |")
    if missing:
        # a baseline query absent from the bench run (crashed → Bench's
        # 'errors' map) is the worst regression there is — never a pass
        print(f"\n== SHARE GATE FAIL: baseline queries MISSING from the "
              f"bench run (crashed?): {missing}")
        return 1
    if fails:
        print(f"\n== SHARE GATE FAIL: {len(fails)} quer"
              f"{'y' if len(fails) == 1 else 'ies'} >"
              f"{MAX_RATIO}x baseline share above the {FLOOR_SEC}s floor: "
              f"{sorted(fails)}")
        return 1
    print(f"\n== SHARE GATE PASS: no query above {MAX_RATIO}x its baseline "
          f"share (floor {FLOOR_SEC}s; {len(new)} new, unjudged)")
    return 0


def same_dumps(dump_a: str, dump_b: str) -> int:
    import duckdb, math
    con = duckdb.connect()
    diffs = []
    oa = json.load(open(f"{dump_a}/oracle_sql.json"))
    ob = json.load(open(f"{dump_b}/oracle_sql.json"))
    for name in sorted(set(oa) | set(ob)):
        if name not in oa or name not in ob:
            diffs.append(f"{name}: oracle only in "
                         f"{dump_a if name in oa else dump_b}")
        elif oa[name] != ob[name]:
            diffs.append(f"{name}: oracle SQL text differs")

    def results(d):
        return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}

    def rows(path):
        rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
        # NaN never equals itself: compare it as a marker
        norm = lambda v: "NaN" if isinstance(v, float) and math.isnan(v) else v
        return (list(zip(rel.columns, map(str, rel.types))),
                [tuple(map(norm, r)) for r in rel.fetchall()])

    ra, rb = results(dump_a), results(dump_b)
    for name in sorted(ra | rb):
        if name not in ra or name not in rb:
            diffs.append(f"{name}: result only in "
                         f"{dump_a if name in ra else dump_b}")
            continue
        (sa, xa), (sb, xb) = rows(f"{dump_a}/{name}"), rows(f"{dump_b}/{name}")
        if sa != sb:
            diffs.append(f"{name}: schema differs: {sa} vs {sb}")
        elif xa != xb:
            i = next((i for i, (p, q) in enumerate(zip(xa, xb)) if p != q),
                     min(len(xa), len(xb)))
            diffs.append(f"{name}: rows differ ({len(xa)} vs {len(xb)} rows, "
                         f"first at row {i})")
    for d in diffs:
        print(d)
    print(f"\n== {len(set(oa) | set(ob))} oracle texts, {len(ra | rb)} result "
          f"sets compared: {len(diffs)} difference"
          f"{'' if len(diffs) == 1 else 's'}")
    return 1 if diffs else 0


if len(sys.argv) > 1 and sys.argv[1] == "--same":
    if len(sys.argv) != 4:
        print("usage: check.py --same DUMP_A DUMP_B")
        sys.exit(2)
    sys.exit(same_dumps(sys.argv[2], sys.argv[3]))

if len(sys.argv) > 1 and sys.argv[1] == "--bench":
    if len(sys.argv) < 3:
        print("usage: check.py --bench BENCH.json [BASELINE.md]")
        sys.exit(2)
    sys.exit(share_gate(sys.argv[2],
                        sys.argv[3] if len(sys.argv) > 3 else "BASELINE.md"))

import duckdb

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
results = {}
for name in sorted(os.listdir(out_dir)):
    path = os.path.join(out_dir, name)
    if not os.path.isdir(path):
        continue
    got = con.sql(f"SELECT * FROM '{path}/*.parquet'").df()
    if name not in oracle:
        results[name] = {"status": "rows_only", "rows": len(got)}
        continue
    try:
        exp = con.sql(oracle[name]).df()
    except Exception as e:
        results[name] = {"status": "oracle_error", "error": str(e)[:300]}
        continue
    entry = {"rows_got": len(got), "rows_exp": len(exp)}
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        entry["status"] = "schema_mismatch"
        entry["cols_got"], entry["cols_exp"] = list(got.columns), list(exp.columns)
    elif len(got) != len(exp):
        entry["status"] = "rowcount_mismatch"
    else:
        mismatch = None
        for c in got.columns:
            a, b = got[c], exp[c]
            try:
                eq = (a.values == b.values) | (a.isna().values & b.isna().values)
            except Exception:
                eq = a.astype(str).values == b.astype(str).values
            if not eq.all():
                i = int((~eq).argmax())
                mismatch = {"col": c, "row": i, "got": repr(a.iloc[i]),
                            "exp": repr(b.iloc[i]),
                            "n_bad": int((~eq).sum())}
                break
        if mismatch:
            entry["status"] = "value_mismatch"
            entry["detail"] = mismatch
        else:
            # dtype check (schema-level)
            dt_got = [str(d) for d in got.dtypes]
            dt_exp = [str(d) for d in exp.dtypes]
            if dt_got != dt_exp:
                entry["status"] = "dtype_mismatch"
                entry["dtypes"] = {c: (g, e) for c, g, e in
                                   zip(got.columns, dt_got, dt_exp) if g != e}
            else:
                entry["status"] = "ok"
    results[name] = entry

n_ok = sum(1 for v in results.values() if v.get("status") == "ok")
n_rows_only = sum(1 for v in results.values() if v.get("status") == "rows_only")
print(json.dumps(results, indent=1, default=str))
print(f"\n== {n_ok} ok, {n_rows_only} rows_only, "
      f"{len(results) - n_ok - n_rows_only} BAD, of {len(results)}")
missing = set(oracle) - set(results)
if missing:
    print("MISSING RESULTS (query failed?):", sorted(missing))
