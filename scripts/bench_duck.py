#!/usr/bin/env python3
"""Per-query DuckDB timings over the oracle SQL set — the committed duck
side of the bench evidence (BENCH_DUCK.json), measured with the same
warm-median-of-3 posture as graft.Bench's headline numbers.

Usage:
  python3 scripts/bench_duck.py <sfDir> <oracle_sql_json> [out_json]

out_json defaults to BENCH_DUCK.json in the cwd. The frozen and naive
query sets come from query_sets.json, which graft.Verify writes next to
oracle_sql.json.
"""
import json
import os
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def load_query_sets(oracle_path):
    """The frozen round-15 membership and the declared-naive replay set,
    written by graft.Verify as query_sets.json next to oracle_sql.json
    (graft.Bench.frozenR15 and SparkEntry.naiveOracleReplay are the one
    copy)."""
    path = os.path.join(os.path.dirname(os.path.abspath(oracle_path)),
                        "query_sets.json")
    if not os.path.exists(path):
        sys.exit(f"[bench_duck] {path} not found: run graft.Verify into "
                 "the directory that holds oracle_sql.json first")
    with open(path) as f:
        sets = json.load(f)
    return set(sets["frozen_r15"]), set(sets["naive_oracle_replay"])


def main():
    sf_dir, oracle_path = sys.argv[1], sys.argv[2]
    out_path = sys.argv[3] if len(sys.argv) > 3 else "BENCH_DUCK.json"
    frozen_r15, naive = load_query_sets(oracle_path)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(oracle_path))
    # Subset controls for big-SF sandwiches (round-19, the sf1.0 bench):
    #  GRAFT_DUCK_ONLY=@frozen_r15     -> the frozen membership only
    #  GRAFT_DUCK_ONLY=a,b / GRAFT_DUCK_SKIP=a,b -> explicit lists
    # (the declared-naive replay oracles are hours-scale in DuckDB at
    # sf1.0 — skip them there; they are excluded from every honest total
    # anyway)
    only_env = os.environ.get("GRAFT_DUCK_ONLY") or ""
    skip = {s for s in
            (os.environ.get("GRAFT_DUCK_SKIP") or "").split(",") if s}
    if only_env == "@frozen_r15":
        oracle = {k: v for k, v in oracle.items() if k in frozen_r15}
    elif only_env:
        keep = {s for s in only_env.split(",") if s}
        for unknown in sorted(keep - set(oracle)):
            print(f"[bench_duck] WARNING: unknown query '{unknown}' in "
                  "GRAFT_DUCK_ONLY (typo would silently bench nothing)",
                  file=sys.stderr)
        oracle = {k: v for k, v in oracle.items() if k in keep}
    if skip:
        for unknown in sorted(skip - set(oracle)):
            print(f"[bench_duck] WARNING: unknown query '{unknown}' in "
                  "GRAFT_DUCK_SKIP", file=sys.stderr)
        oracle = {k: v for k, v in oracle.items() if k not in skip}
    queries, total = {}, 0.0
    for name, sql in sorted(oracle.items()):
        try:
            con.sql(sql).fetchall()  # warmup
            ts = []
            for _ in range(3):
                t0 = time.time()
                con.sql(sql).fetchall()
                ts.append(time.time() - t0)
            med = sorted(ts)[1]
        except Exception as e:
            print(f"[bench_duck] {name} failed: {e}", file=sys.stderr)
            med = -1.0
        queries[name] = med
        if med >= 0:
            total += med
    # honest-aggregate twin of graft.Bench's total_excl_naive_oracle:
    # these oracles are declared-naive kernel replays (per-pixel dHash
    # CTEs, per-gram LM expansion, the recursive curate CTE) — their
    # duck time measures the replay, not a real query, and flatters any
    # spark/duck aggregate.
    total_honest = sum(t for q, t in queries.items()
                       if q not in naive and t >= 0)
    # fixed-denominator twin of graft.Bench's frozen totals:
    # totals over the frozen round-15 membership, so the round-over-round
    # spark/duck trend is immune to suite growth. This side only has
    # oracle rows, matching Bench's frozen ∩ oracleSql restriction.
    total_frozen = sum(t for q, t in queries.items()
                       if q in frozen_r15 and t >= 0)
    total_frozen_honest = sum(t for q, t in queries.items()
                              if q in frozen_r15 and q not in naive
                              and t >= 0)
    out = {"metric": "duckdb_oracle_total", "value": round(total, 6),
           "unit": "sec", "sf": sf_dir, "queries": queries,
           "total_excl_naive_oracle": round(total_honest, 6),
           "total_frozen_r15": round(total_frozen, 6),
           "total_excl_naive_frozen_r15": round(total_frozen_honest, 6),
           "naive_oracle_excluded": sorted(naive & set(queries))}
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({"total": round(total, 3),
                      "total_excl_naive_oracle": round(total_honest, 3),
                      "total_frozen_r15": round(total_frozen, 3),
                      "total_excl_naive_frozen_r15":
                          round(total_frozen_honest, 3),
                      "n": len(queries)}))


if __name__ == "__main__":
    main()
