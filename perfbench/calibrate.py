#!/usr/bin/env python3
"""Regenerates perfbench/keys.json, the benchmark's key registry.

    python3 perfbench/calibrate.py RECORDS EXPECTED_HASHES

RECORDS is the record file of one batch run of perfbench.Main over every
registry key on perfbench/data/sf0.01 (workload=notebook, keys=<all>).
EXPECTED_HASHES is an engine hash file written by `graft.Verify` over the
same data (`{"queries": {key: {"hash", "rows", "determinism"?}}}`); its
hashes are the ones the DuckDB oracle gate accepted.

Each key gets its family, its pool (notebook, bulk, or none), its
reference cost (cold and repeat wall on the calibration host) and its
expected output: the canonical hash, or the row count alone for keys
whose hash is deterministic only on one host.
"""
import json
import os
import sys

import workloads

# Keys that write to fixed directories under /tmp, outside the checkout.
WRITES_OUTSIDE = {
    "join_bucketed", "lake_compact_small_files", "scan_csv_labels",
    "scan_csv_malformed", "scan_csv_pairs", "scan_csv_train",
    "scan_csv_transformed", "scan_jsonl_docs", "scan_orc_roundtrip",
    "scan_schema_evolution", "sink_csv_results", "sink_parquet_partitioned",
    "stream_ann_serving", "stream_dedup_incremental", "stream_pq_retrain",
    "stream_upsert_cdc", "zorder_layout_prune",
}
# The set-up warmups run these keys, so they are never cold in a pass.
WARMUP = {"scan_parquet", "join_xy_inner", "rolling_stats", "text_simhash",
          "ml_ridge"}
# A key whose cold wall alone exceeds this would dominate a notebook or
# bulk sample of a few seconds; such keys stay out of the pools.
MAX_COLD_MS = 4000.0


def main():
    records_path, expected_path = sys.argv[1:3]
    expected = json.load(open(expected_path))["queries"]
    runs = {}
    for line in open(records_path):
        r = json.loads(line)
        if r["type"] == "key":
            runs.setdefault(r["key"], {})[r["phase"]] = r
    keys, excluded = {}, {}
    for k in sorted(expected):
        e = expected[k]
        entry = {"family": workloads.family(k), "rows": e["rows"],
                 "hash": e["hash"],
                 "check": "rows" if e.get("determinism") == "same-host" else "hash"}
        run = runs.get(k)
        reason = None
        if k in WRITES_OUTSIDE:
            reason = "writes to a fixed directory under /tmp"
        elif k in WARMUP:
            reason = "run by the set-up warmups"
        elif run is None or "err" in run["cold"] or "err" in run["repeat"]:
            reason = "failed or missing in the calibration run"
        elif any(run[p]["rows"] != e["rows"] or
                 (entry["check"] == "hash" and run[p]["hash"] != e["hash"])
                 for p in ("cold", "repeat")):
            reason = "output differs from the expected hash"
        elif run["cold"]["wall_ms"] > MAX_COLD_MS:
            reason = f"cold wall {run['cold']['wall_ms']:.0f} ms > {MAX_COLD_MS:.0f} ms"
        if run and "err" not in run["cold"] and "err" not in run["repeat"]:
            entry["ref_cold_ms"] = round(run["cold"]["wall_ms"], 1)
            entry["ref_repeat_ms"] = round(run["repeat"]["wall_ms"], 1)
        entry["pool"] = None if reason else (
            "bulk" if entry["family"] in workloads.BULK_FAMILIES else "notebook")
        if reason:
            excluded[k] = reason
        keys[k] = entry
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "keys.json")
    with open(out, "w") as f:
        json.dump({"data": workloads.DATA, "keys": keys, "excluded": excluded},
                  f, indent=1, sort_keys=True)
        f.write("\n")
    pools = {}
    for k, v in keys.items():
        if v["pool"]:
            p = pools.setdefault(v["pool"], [0, 0.0])
            p[0] += 1
            p[1] += v["ref_cold_ms"] + v["ref_repeat_ms"]
    print(json.dumps({"pools": pools, "excluded": excluded}, indent=1))


if __name__ == "__main__":
    main()
