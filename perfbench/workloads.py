"""The three workloads: their inputs, and metrics from the records.

Each workload object gives the JVM its arguments (`jvm_args`) and turns
the JVM's records into the result (`evaluate`): the output checks, the
end-to-end metrics (untraced run) or the per-layer metrics (traced run).
"""
import json
import os
import statistics

DATA = "sf0.01"
# Layers Trace.scala counts; reported as totals over the timed operations,
# 0 where a run records none.
COUNTERS = [
    "catalyst.actions", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "codegen.compiles",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.task_queue_ms", "scheduler.driver_self_ms",
    "exec.task_ms", "exec.cpu_ms", "exec.gc_ms", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.fetch_wait_ms", "exec.spill_bytes",
    "exec.input_bytes", "exec.output_bytes",
    "streaming.batches", "streaming.input_rows", "streaming.state_rows",
    "streaming.state_bytes", "streaming.commit_ms",
    "jvm.gc_ms", "jvm.gc_count",
]
# The scan keys all write under /tmp or run in the warmups, so they fall
# into `misc` with the other small families and none is in a pool.
NOTEBOOK_FAMILIES = ["agg", "stat", "fin", "ts", "feature", "ml", "sql", "misc"]
BULK_FAMILIES = ["graph", "dedup", "similarity", "corpus", "embedding", "text",
                 "join", "stream", "multimodal"]
SERVING_LAYERS = ["sources.events_ms", "ml.frame_ms", "ml.fit_ms",
                  "ml.memo_miss", "ml.score_ms", "pipelines.request_ms"]


def family(key):
    """Key family by name prefix; small notebook families share `misc`."""
    prefix = key.split("_")[0]
    if prefix in BULK_FAMILIES or prefix in NOTEBOOK_FAMILIES:
        return prefix
    return "misc"


def per_layer_names():
    return (SERVING_LAYERS + ["queries.build_ms", "queries.action_ms"] +
            [f"queries.{f}.wall_ms" for f in NOTEBOOK_FAMILIES + BULK_FAMILIES] +
            COUNTERS + ["plans.persisted_rdds_after", "error_frac",
                        "refit_tail_ms", "repeat_tail_ms",
                        "traced.wall_s", "traced.refit_p50_ms",
                        "traced.repeat_p50_ms"])


def p50(values):
    """Harrell-Davis estimate of the median: an average of all order
    statistics under Beta((n+1)/2, (n+1)/2) weights. With the few samples
    one run holds, the plain sample median jumps from one sample to the
    next; this estimate moves smoothly."""
    import numpy as np
    v = np.sort(np.asarray(values, dtype=float))
    n = len(v)
    a = (n + 1) / 2
    x = np.linspace(0.0, 1.0, 20001)
    pdf = (x * (1 - x)) ** (a - 1)
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    w = np.diff(np.interp(np.arange(n + 1) / n, x, cdf))
    return float(np.dot(w, v))


def tail(values):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, samples); the maximum when there are fewer than
    eleven samples."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name == "error_frac":
        return "fraction"
    return "count"


def metric_block(values):
    return {k: {"value": v, "unit": unit(k)} for k, v in values.items()}


class Workload:
    def __init__(self, here, work, seed, seconds, corrupt_expected):
        self.here, self.work, self.seed = here, work, seed
        self.seconds, self.corrupt = seconds, corrupt_expected
        self.data = os.path.join(here, "data", DATA)

    def finish(self, records, traced, timed, ops, failures, e2e, refit, repeat,
               info):
        """Common result assembly. `e2e` holds the workload's wall and p50
        figures; `timed` are the records whose layers sum into the
        per-layer counters; `refit` and `repeat` are the raw latencies whose
        tails go to the per-layer set; `ops` is the operation count."""
        setup = [r for r in records if r["type"] == "setup"][0]
        end = [r for r in records if r["type"] == "end"][0]
        e2e = dict(e2e, setup_s=setup["setup_s"],
                   heap_retained_mb=end["heap_retained_mb"])
        rt, rp, rn = tail(refit)
        pt, pp, pn = tail(repeat)
        info.update(seed=self.seed, session_s=setup["session_s"],
                    refit_tail_percentile=rp, refit_samples=rn,
                    repeat_tail_percentile=pp, repeat_samples=pn,
                    failures=failures[:20])
        if not traced:
            metrics = metric_block(e2e)
        else:
            layers = {k: 0.0 for k in per_layer_names()}
            for r in timed:
                for k, v in r.get("layers", {}).items():
                    layers[k] += v
                layers["plans.persisted_rdds_after"] += r["persisted_rdds_after"]
            layers["error_frac"] = len(failures) / ops
            layers["refit_tail_ms"] = rt
            layers["repeat_tail_ms"] = pt
            layers["traced.wall_s"] = e2e["wall_s"]
            layers["traced.refit_p50_ms"] = e2e["refit_p50_ms"]
            layers["traced.repeat_p50_ms"] = e2e["repeat_p50_ms"]
            layers.update(self.layer_extras())
            metrics = metric_block(layers)
        return {"correct": not failures, "attempted": ops,
                "failed": len(failures), "metrics": metrics, "info": info}

    def layer_extras(self):
        return {}


class Serving(Workload):
    """One client in a closed loop; each snapshot appends one seeded day."""
    REPEATS = 3
    # one re-fit, three repeats and the check, measured on 4 cores
    SNAPSHOT_MS = 2100

    def jvm_args(self):
        n = max(2, round(self.seconds * 1e3 / self.SNAPSHOT_MS))
        self.snapshots = make_snapshots(os.path.join(self.data, "events.parquet"),
                                        os.path.join(self.work, "snapshots"),
                                        self.seed, n)
        listing = os.path.join(self.work, "snapshots.txt")
        with open(listing, "w") as f:
            f.write("\n".join(s["dir"] for s in self.snapshots) + "\n")
        return {"data": self.data, "snapshots": listing, "repeats": self.REPEATS,
                "corrupt": int(self.corrupt)}

    def evaluate(self, records, traced):
        requests = [r for r in records if r["type"] == "request"]
        replays = {r["snapshot"]: r for r in records if r["type"] == "replay"}
        failures = []
        for r in requests:
            err = r.get("err")
            if r["kind"] == "refit":
                rep = replays.get(r["snapshot"])
                err = err or (rep.get("err") if rep else "no replay record")
            if err:
                failures.append({"snapshot": r["snapshot"], "kind": r["kind"],
                                 "err": err})
        if len(requests) != len(self.snapshots) * (self.REPEATS + 1):
            failures.append({"err": f"{len(requests)} requests recorded"})
        refit = [r["ms"] for r in requests if r["kind"] == "refit"]
        repeat = [r["ms"] for r in requests if r["kind"] == "repeat"]
        info = {"workload": "serving", "repeats_per_snapshot": self.REPEATS,
                "refit_ms": refit, "repeat_ms": repeat,
                "memo_hit_share": self.REPEATS / (self.REPEATS + 1),
                "snapshot_rows": [s["rows"] for s in self.snapshots]}
        self.replays = list(replays.values())
        self.requests = requests
        e2e = {"wall_s": sum(refit + repeat) / 1e3,
               "refit_p50_ms": p50(refit), "repeat_p50_ms": p50(repeat)}
        return self.finish(records, traced, requests, len(requests), failures,
                           e2e, refit, repeat, info)

    def layer_extras(self):
        med = lambda k: statistics.median(r[k] for r in self.replays)
        return {"sources.events_ms": med("events_ms"), "ml.frame_ms": med("frame_ms"),
                "ml.fit_ms": med("fit_ms"), "ml.score_ms": med("score_ms"),
                "ml.memo_miss": sum(r["memo_miss"] for r in self.replays),
                "pipelines.request_ms": statistics.median(
                    r["ms"] for r in self.requests)}


class Batch(Workload):
    """A fixed pass of registry keys, each run cold and then repeated."""
    FAMILIES = None
    # one key per family, cold and repeat, takes about this long on 4 cores
    FAMILY_SECONDS = 10

    def jvm_args(self):
        with open(os.path.join(self.here, "keys.json")) as f:
            self.registry = json.load(f)["keys"]
        self.keys = sample_keys(self.registry, self.FAMILIES,
                                max(1, round(self.seconds / self.FAMILY_SECONDS)))
        listing = os.path.join(self.work, "keys.txt")
        with open(listing, "w") as f:
            f.write("\n".join(self.keys) + "\n")
        return {"data": self.data, "keys": listing}

    def check(self, r):
        if "err" in r:
            return r["err"]
        want = dict(self.registry[r["key"]])
        if self.corrupt and r["key"] == self.keys[0]:
            want.update(hash="0" * 32, rows=want["rows"] + 1)
        if r["rows"] != want["rows"]:
            return f"rows {r['rows']} != expected {want['rows']}"
        if want["check"] == "hash" and r["hash"] != want["hash"]:
            return f"hash {r['hash']} != expected {want['hash']}"
        return None

    def evaluate(self, records, traced):
        keyrecs = [r for r in records if r["type"] == "key"]
        failures = []
        for r in keyrecs:
            err = self.check(r)
            if err:
                failures.append({"key": r["key"], "phase": r["phase"], "err": err})
        if len(keyrecs) != 2 * len(self.keys):
            failures.append({"err": f"{len(keyrecs)} key records for "
                                    f"{len(self.keys)} keys"})
        cold = [r for r in keyrecs if r["phase"] == "cold"]
        repeat = [r for r in keyrecs if r["phase"] == "repeat"]
        self.cold = cold
        e2e = {"wall_s": sum(r["wall_ms"] for r in cold) / 1e3,
               "refit_p50_ms": p50([r["wall_ms"] for r in cold]),
               "repeat_p50_ms": p50([r["wall_ms"] for r in repeat])}
        info = {"workload": self.name, "keys": self.keys, "data": DATA,
                "cold_ms": [r["wall_ms"] for r in cold],
                "repeat_ms": [r["wall_ms"] for r in repeat]}
        return self.finish(records, traced, cold, len(keyrecs), failures, e2e,
                           [r["wall_ms"] for r in cold],
                           [r["wall_ms"] for r in repeat], info)

    def layer_extras(self):
        out = {"queries.build_ms": sum(r["build_ms"] for r in self.cold),
               "queries.action_ms": sum(r["action_ms"] for r in self.cold)}
        for r in self.cold:
            k = f"queries.{family(r['key'])}.wall_ms"
            out[k] = out.get(k, 0.0) + r["wall_ms"]
        return out


class Notebook(Batch):
    name = "notebook"
    FAMILIES = NOTEBOOK_FAMILIES


class Bulk(Batch):
    name = "bulk"
    FAMILIES = BULK_FAMILIES


ALL = {"serving": Serving, "notebook": Notebook, "bulk": Bulk}


def sample_keys(registry, families, per_family):
    """The pass: from every family, the `per_family` keys whose reference
    cost (cold plus repeat) is nearest the pool's lower quartile, in name
    order.

    The pass is the same for every seed. A seed-drawn sample of the few
    keys a short run holds moved the pass wall by a third or more between
    seeds, and a seed-drawn order moved single keys by up to a quarter (the
    first key after the warmups pays more); keys of about equal cost also
    keep the median from jumping between a cheap and a dear key."""
    pool = {}
    for k, v in registry.items():
        if v["pool"] and family(k) in families:
            pool.setdefault(family(k), []).append(
                (v["ref_cold_ms"] + v["ref_repeat_ms"], k))
    target = statistics.quantiles([c for ks in pool.values() for c, _ in ks],
                                  n=4)[0]
    return sorted(k for f in pool for _, k in
                  sorted(pool[f], key=lambda ck: abs(ck[0] - target))[:per_family])


def make_snapshots(events_path, out_dir, seed, n):
    """`n` cumulative event snapshots: snapshot i is the base table plus i
    seeded new days. Each new day has events of every event type, so the
    pivot and na.drop of the modeling frame still give a new latest row,
    and keeps the base file's at-rest types (ts: timestamp[us], naive)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    base = pq.read_table(events_path)
    rng = np.random.default_rng(seed)
    types = sorted(set(base["event_type"].to_pylist()))
    per_day = base.num_rows // 30
    values = {t: base.filter(pc.equal(base["event_type"], t))["value"].to_numpy()
              for t in types}
    props = base["props"].to_numpy(zero_copy_only=False)
    max_user = pc.max(base["user_id"]).as_py()
    day_us = 86_400_000_000
    last_day = pc.max(base["ts"]).cast(pa.int64()).as_py() // day_us
    next_id = pc.max(base["event_id"]).as_py() + 1
    tables, snaps = [base], []
    for i in range(n):
        m = per_day
        kinds = np.array(types + list(rng.choice(types, m - len(types))))
        rng.shuffle(kinds)
        start = (last_day + 1 + i) * day_us
        ts = np.sort(start + rng.integers(0, day_us, m))
        vals = np.array([rng.choice(values[t]) for t in kinds])
        day = pa.table({
            "event_id": pa.array(np.arange(next_id, next_id + m), pa.int64()),
            "ts": pa.array(ts, pa.int64()).cast(base.schema.field("ts").type),
            "user_id": pa.array(rng.integers(0, max_user + 1, m), pa.int64()),
            "event_type": pa.array(kinds.tolist(), pa.string()),
            "value": pa.array(vals, pa.float64()),
            "props": pa.array(rng.choice(props, m).tolist(), pa.string()),
        }, schema=base.schema)
        next_id += m
        tables.append(day)
        table = pa.concat_tables(tables)
        d = os.path.join(out_dir, f"s{i:03d}")
        os.makedirs(d)
        pq.write_table(table, os.path.join(d, "events.parquet"))
        snaps.append({"dir": d, "rows": table.num_rows})
    return snaps
