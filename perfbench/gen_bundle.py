#!/usr/bin/env python3
"""Seeded generator for TiDB-shaped metrics bundles (`.tar.gz`).

The bundle holds one wide CSV per metric under `reshaped/`, named like the
reference's exports (`tidb_p99_rt:total.csv`): a `timestamp` column in
epoch seconds at a 15 s scrape interval plus one column per instance
(`10.0.1.1:10080`, ...). Every series is bounded (uniform) noise around
a per-metric level, so the 3-sigma outlier detector finds nothing by
chance and every seed's report does the same amount of work. On top of
that the generator plants:

- one level shift in one objective series, in the middle of one interior
  correlation bucket (40 samples);
- one candidate series (another metric, any instance) with the same kind
  of shift 2 samples earlier, so it leads the objective by 2 samples. No
  other series moves in that bucket;
- a few empty and `NaN` cells, which ingestion drops;
- one sparse column (a retired instance with 12 values) that fails the
  reader's more-than-20-samples gate.

The returned manifest says what the advisor must find: the planted
(objective, candidate) pair, the bucket start in epoch seconds, and the
number of (metric, instance) signals ingestion keeps.

Usage: python3 perfbench/gen_bundle.py <out.tar.gz> --metrics 40
           --instances 4 --hours 1 --seed 1
"""
import argparse
import gzip
import io
import json
import tarfile

import numpy as np

STEP = 15
BUCKET = 40 * STEP
LEAD = 2
OBJECTIVES = ["tidb_p99_rt:total", "tidb_p99_get_token_dur", "tidb_heap_size:by_instance"]
COMPONENTS = ["tidb", "tikv", "pd", "node"]
QUANTITIES = ["qps:by_type", "cpu:by_instance", "mem:by_instance", "conn_count",
              "disk_io_util:by_device", "raft_propose_wait", "gc_duration",
              "scheduler_pending", "grpc_msg_dur:by_type", "coprocessor_dur",
              "txn_lock_wait", "net_bytes:by_instance", "store_size", "thread_cpu:by_name"]
# 2023-11-14T22:10:00Z, a bucket boundary
T0 = 1_699_999_800


def metric_names(n_metrics):
    names = list(OBJECTIVES)
    i = 0
    while len(names) < n_metrics:
        comp = COMPONENTS[i % len(COMPONENTS)]
        qty = QUANTITIES[(i // len(COMPONENTS)) % len(QUANTITIES)]
        rep = i // (len(COMPONENTS) * len(QUANTITIES))
        names.append(f"{comp}_{qty}" + (f"_{rep}" if rep else ""))
        i += 1
    return names


def bundle(n_metrics, n_instances, hours, seed):
    rng = np.random.default_rng(seed)
    n = int(hours * 3600 // STEP)
    n_buckets = n // 40
    if n_buckets < 3:
        raise SystemExit("need at least 3 buckets (30 minutes)")
    names = metric_names(n_metrics)
    instances = [f"10.0.1.{k + 1}:{10080 + k}" for k in range(n_instances)]
    obj, obj_node = names[0], instances[int(rng.integers(0, n_instances))]
    cand = names[int(rng.integers(len(OBJECTIVES), n_metrics))]
    cand_node = instances[int(rng.integers(0, n_instances))]
    bucket = int(rng.integers(1, n_buckets - 1))
    shift_at = bucket * 40 + 20
    ts = T0 + STEP * np.arange(n)
    files, kept = {}, 0
    for name in names:
        level = float(rng.uniform(5.0, 500.0))
        cols = {}
        for inst in instances:
            sigma = level * 0.01
            x = level + sigma * rng.uniform(-1.0, 1.0, n)
            if (name, inst) == (obj, obj_node):
                x[shift_at:] += 12.0 * sigma
            if (name, inst) == (cand, cand_node):
                x[shift_at - LEAD:] += 12.0 * sigma
            cells = [f"{v:.4f}" for v in x]
            # a few cells the reader must drop, never in the planted bucket
            for j in rng.integers(0, n, 3):
                if not bucket * 40 <= j < (bucket + 1) * 40:
                    cells[j] = "" if j % 2 else "NaN"
            cols[inst] = cells
            kept += 1
        if name == names[-1]:
            retired = ["" for _ in range(n)]
            for j in range(12):
                retired[j] = f"{level:.4f}"
            cols["10.0.1.99:10080"] = retired
        header = "timestamp," + ",".join(cols)
        lines = [header] + [f"{ts[t]}," + ",".join(c[t] for c in cols.values())
                            for t in range(n)]
        files[f"reshaped/{name}.csv"] = ("\n".join(lines) + "\n").encode()
    manifest = {"objective": obj, "objective_node": obj_node,
                "candidate": cand, "candidate_node": cand_node,
                "bucket": T0 + bucket * BUCKET, "lead": LEAD,
                "signals": kept, "metrics": n_metrics, "instances": n_instances,
                "hours": hours, "seed": seed}
    return files, manifest


def write(path, n_metrics, n_instances, hours, seed):
    files, manifest = bundle(n_metrics, n_instances, hours, seed)
    raw = io.BytesIO()
    with tarfile.open(fileobj=raw, mode="w", format=tarfile.USTAR_FORMAT) as tar:
        for name in sorted(files):
            info = tarfile.TarInfo(name)
            info.size, info.mtime, info.mode = len(files[name]), 0, 0o644
            tar.addfile(info, io.BytesIO(files[name]))
    with open(path, "wb") as f, gzip.GzipFile(fileobj=f, mode="wb", mtime=0) as gz:
        gz.write(raw.getvalue())
    return manifest


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--metrics", type=int, default=40)
    ap.add_argument("--instances", type=int, default=4)
    ap.add_argument("--hours", type=float, default=1.0)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    print(json.dumps(write(a.out, a.metrics, a.instances, a.hours, a.seed)))


if __name__ == "__main__":
    main()
