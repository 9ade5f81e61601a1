#!/usr/bin/env python3
"""Banks perfbench/src/main/resources/perfbench/contract.tsv, the contract
workload's query list and result digests.

Usage (from the repository root, after one benchmark run has built the
harness; CP is the classpath in .bench_build/perfbench/classpath.txt):

    for i in 1 2; do
      java <--add-opens as in run.py> -cp "$CP" perfbench.BankContract \
          perfbench/testdata/sf0.001 dump$i work$i
    done
    python3 perfbench/bank_contract.py perfbench/testdata/sf0.001 dump1 dump2

Each dump holds every runnable query's result (parquet) and the digest of
a cold and a warm execution. A query is banked with a digest only when
all its digests agree across executions and JVMs, and, where it has an
oracleSql entry, when DuckDB over the same tables returns the same rows.
The queries in TIMED are the ones the benchmark times.
"""
import json
import os
import sys

import duckdb

# A fixed subset with queries of every family the workload can run, small
# enough that one warm sweep takes ~5 s on 4 cores (the full 123-query
# sweep takes ~95 s). Streaming gates take seconds each; the traced run
# times one of them (ContractWorkload.StreamGate) instead.
TIMED = [
    "ebf_member_probe", "hll_within_bound",                          # entry
    "ebf_fpr_check", "kll_rank_bound_check", "tdigest_bound_check",  # sketch
    "theta_merge_equivalence",
    "ebf_shard_table_probe", "salted_vs_plain_equivalence",          # pipeline
    "dedup_minhash_pairs", "text_features",                          # data_pipeline
    "rel_join_orders_by_segment", "rel_window_top_orders",           # relational
]

TABLES = ("customer", "documents", "embeddings", "events", "lineitem", "nation", "orders",
          "part", "region", "supplier")


def read_digests(dump):
    rows = {}
    with open(os.path.join(dump, "digests.tsv")) as f:
        for line in f:
            name, family, cold, warm, secs = line.rstrip("\n").split("\t")
            rows[name] = (family, cold, warm, float(secs))
    return rows


def norm(rows):
    out = []
    for r in rows:
        out.append(tuple(
            round(v, 9) if isinstance(v, float) else
            (v.hex() if isinstance(v, (bytes, bytearray)) else v) for v in r))
    return sorted(out, key=repr)


def main():
    sf_dir, dumps = sys.argv[1], sys.argv[2:]
    if len(dumps) < 2:
        sys.exit("need at least two dumps, from two JVMs")
    runs = [read_digests(d) for d in dumps]
    with open(os.path.join(dumps[0], "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    out = ["# name\tfamily\ttimed\tdigest\toracle"]
    problems = []
    for name in sorted(runs[0]):
        family = runs[0][name][0]
        if family == "webpages":
            out.append(f"{name}\t{family}\t0\t-\tnot-run")
            continue
        digests = {d for r in runs for d in r[name][1:3]}
        stable = len(digests) == 1 and "ERROR" not in digests
        status = "none"
        if name in oracle:
            try:
                got = con.execute(
                    f"SELECT * FROM read_parquet('{dumps[0]}/{name}/*.parquet')").fetchall()
                want = con.execute(oracle[name]).fetchall()
                status = "match" if norm(got) == norm(want) else "mismatch"
            except Exception as e:  # a query DuckDB cannot run is reported, not banked
                status = "error"
                print(f"{name}: oracle error {e}", file=sys.stderr)
        ok = stable and status in ("match", "none")
        if not ok:
            problems.append(f"{name}: stable={stable} oracle={status}")
        timed = name in TIMED
        if timed and not ok:
            sys.exit(f"timed query {name} cannot be banked: stable={stable} oracle={status}")
        digest = digests.pop() if stable else "-"
        out.append(f"{name}\t{family}\t{int(timed)}\t{digest}\t{status}")
        secs = sorted(r[name][3] for r in runs)
        print(f"{name:40s} {family:14s} {status:8s} stable={stable} warm={secs[0]:.2f}s"
              + (" TIMED" if timed else ""))
    missing = [t for t in TIMED if t not in runs[0]]
    if missing:
        sys.exit(f"TIMED names not in SparkEntry.queries: {missing}")
    dest = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "src", "main", "resources", "perfbench", "contract.tsv")
    with open(dest, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"{len(out) - 1} queries banked, {sum(name in runs[0] for name in TIMED)} timed; "
          f"{len(problems)} not bankable" + "".join(f"\n  {p}" for p in problems))
    timed_s = sum(min(r[t][3] for r in runs) for t in TIMED)
    print(f"timed subset, warm: {timed_s:.2f} s per sweep")


if __name__ == "__main__":
    main()
