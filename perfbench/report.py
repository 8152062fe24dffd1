"""Turns one run's raw record (written by perfbench.Main) into metrics.

- Output checks: the warm-up result of every op that has oracle SQL is
  compared with DuckDB's answer over the same generated files, with the
  comparison rules of scripts/preverify.py. An op whose warm-up result is
  wrong makes every timed sample of it wrong too (each one was compared
  with that result), so all of them count as failed.
- Failed samples count in failed_frac and in no timing.
- The traced run's spans and Spark jobs become the per-layer metrics; a
  span's self time is its duration minus the part its children cover.
"""
import glob
import json
import math
import os
import statistics
import sys

TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "documents", "embeddings"]
# The client op kind whose latency is `op_*` per workload.
PRIMARY = {"snap_ingest": "commit"}
BUILD_PHASES = ("build", "design", "fit")
RUN_PHASES = ("run", "score")


# ------------------------------------------------------------------ checks

def oracle_failures(rec, repo_root):
    """{op: reason} for every op whose warm-up output differs from DuckDB."""
    if not rec["oracle"]:
        return {}
    import duckdb
    sys.path.insert(0, os.path.join(repo_root, "scripts"))
    import preverify  # the repo's own oracle comparison rules
    con = duckdb.connect()
    for t in TPCH_TABLES:
        p = os.path.join(rec["data_dir"], f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for op, sql in rec["oracle"].items():
        files = sorted(glob.glob(os.path.join(rec["out_dir"], op, "*.parquet")))
        try:
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
            want = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001 - any failure is a wrong result
            bad[op] = f"oracle could not run: {e}"
            continue
        gcols, wcols = sorted(got.column_names), sorted(want.column_names)
        if gcols != wcols:
            bad[op] = f"columns {gcols} vs oracle {wcols}"
            continue
        types = [c for c in gcols if preverify.canontype(got.schema.field(c).type)
                 != preverify.canontype(want.schema.field(c).type)]
        if types:
            bad[op] = f"column types differ from the oracle: {types}"
            continue
        g = [tuple(preverify.norm(r[c]) for c in gcols) for r in got.to_pylist()]
        w = [tuple(preverify.norm(r[c]) for c in wcols) for r in want.to_pylist()]
        if g != w:
            n = sum(1 for a, b in zip(g, w) if a != b) + abs(len(g) - len(w))
            bad[op] = f"{n} of {max(len(g), len(w))} rows differ from the oracle"
    return bad


# ---------------------------------------------------------------- helpers

def pct(values, p):
    """Nearest-rank percentile and the number of samples beyond it."""
    s = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(s)))
    return s[rank - 1], len(s) - rank


def med(values):
    return statistics.median(values) if values else float("nan")


def metric(value, unit, n=None):
    m = {"value": value, "unit": unit}
    if n is not None:
        m["n"] = n
    return m


def union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -------------------------------------------------------------- end to end

def end_to_end(rec, samples, t0_ms):
    """Every end-to-end number of the run. `samples` are the main
    segment's, already marked failed where a check failed."""
    wl = rec["workload"]
    ok = [s for s in samples if s["ok"]]
    seg = rec["segments"][0]
    wall_s = (seg["end_ms"] - seg["start_ms"]) / 1000
    out = {
        "setup_s": metric((rec["marks"]["first_op_ms"] - t0_ms) / 1000, "s", 1),
        "ops_per_s": metric(len(ok) / wall_s, "1/s", len(ok)),
        "failed_frac": metric((len(samples) - len(ok)) / max(1, len(samples)),
                              "fraction", len(samples)),
        "peak_rss_mb": metric(rec["peak_rss_kb"] / 1024, "MB", 1),
    }
    kinds = {"op": PRIMARY.get(wl, "op")}
    if wl == "snap_ingest":
        kinds.update(commit="commit", read="read", drain="drain")
    notes = []
    for label, kind in kinds.items():
        ms = [s["ms"] for s in ok if s["kind"] == kind]
        for p in ((50, 90) if label != "drain" else (50,)):
            name = f"{label}_p{p}_ms"
            if not ms:
                notes.append(f"{name}: no successful {kind} samples")
                continue
            v, beyond = pct(ms, p)
            if beyond < 10:
                notes.append(f"{name}: only {beyond} of {len(ms)} samples lie "
                             f"beyond p{p} (needs 10); value is indicative")
            out[name] = metric(v, "ms", len(ms))
    if wl == "snap_ingest":
        out["stored_bytes_per_row"] = metric(
            rec["extra"]["stored_bytes_per_row"], "B", rec["extra"]["rows_committed"])
    return out, notes


# -------------------------------------------------------------- per layer

def per_layer(rec, samples):
    spans = rec["spans"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    jobs = rec["jobs"]
    by_group = {}
    for j in jobs:
        if j["group"]:
            by_group.setdefault(j["group"], []).append(j)
    cpus = rec["cpus"]
    out = {}

    def ops_in(seg):
        return [s for s in spans if s["kind"] == "op" and s["parent"] == -1
                and seg["start_ms"] - 1 <= s["startMs"] <= seg["end_ms"] + 1]

    def jobs_of(op):
        # jobs in the op's own group, plus jobs the op started on threads
        # that did not inherit it (streaming runs set their own group),
        # attributed by the op's time window
        own = by_group.get(f"perfbench-{op['id']}", [])
        return own + [j for j in jobs
                      if not (j["group"] or "").startswith("perfbench-")
                      and op["startMs"] <= j["start_ms"] <= op["endMs"]]

    def phase(op, names):
        return sum(c["endMs"] - c["startMs"] for c in children.get(op["id"], [])
                   if c["name"] in names)

    # one span per job, under the phase (else the root span) it started in;
    # a span's self time is then the time none of its children covers
    for root in [s for s in spans if s["parent"] == -1]:
        for j in jobs_of(root):
            under = [c for c in children.get(root["id"], [])
                     if c["startMs"] <= j["start_ms"] <= c["endMs"]]
            parent = under[0] if under else root
            js = {"id": f"job-{j['job']}", "parent": parent["id"], "name": f"job {j['job']}",
                  "kind": "job", "startMs": j["start_ms"],
                  "endMs": j["end_ms"] if j["end_ms"] >= 0 else root["endMs"],
                  "attrs": {k: j[k] for k in ("stages", "tasks", "run_ms", "cpu_ms")}}
            children.setdefault(parent["id"], []).append(js)
    spans = spans + [c for cs in children.values() for c in cs if c["kind"] == "job"]
    for s in spans:
        s["self_ms"] = (s["endMs"] - s["startMs"]) - union_ms(
            [(c["startMs"], c["endMs"]) for c in children.get(s["id"], [])],
            s["startMs"], s["endMs"])

    segs = {s["name"]: s for s in rec["segments"]}
    main = ops_in(segs["main"])
    n = max(1, len(main))
    tot = {k: 0.0 for k in ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
                            "shuffle_write", "shuffle_read", "spill",
                            "result_bytes", "failed_tasks", "gap_ms", "wall_ms")}
    for op in main:
        js = jobs_of(op)
        wall = op["endMs"] - op["startMs"]
        tot["jobs"] += len(js)
        for k in ("stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_write",
                  "shuffle_read", "spill", "result_bytes", "failed_tasks"):
            tot[k] += sum(j[k] for j in js)
        tot["wall_ms"] += wall
        tot["gap_ms"] += wall - union_ms(
            [(j["start_ms"], j["end_ms"] if j["end_ms"] >= 0 else op["endMs"])
             for j in js], op["startMs"], op["endMs"])
    out["spark.jobs_per_op"] = tot["jobs"] / n
    out["spark.stages_per_op"] = tot["stages"] / n
    out["spark.tasks_per_op"] = tot["tasks"] / n
    out["spark.driver_gap_ms_per_op"] = tot["gap_ms"] / n
    out["spark.busy_frac"] = tot["run_ms"] / max(1e-9, tot["wall_ms"] * cpus)
    out["spark.task_run_ms_per_op"] = tot["run_ms"] / n
    out["spark.task_cpu_ms_per_op"] = tot["cpu_ms"] / n
    out["spark.gc_ms_per_op"] = tot["gc_ms"] / n
    out["spark.shuffle_write_bytes_per_op"] = tot["shuffle_write"] / n
    out["spark.shuffle_read_bytes_per_op"] = tot["shuffle_read"] / n
    out["spark.spill_bytes_per_op"] = tot["spill"] / n
    out["spark.result_bytes_per_op"] = tot["result_bytes"] / n
    out["spark.failed_tasks"] = tot["failed_tasks"]

    planned = [op for op in main if "exchanges" in op["attrs"]]
    pn = max(1, len(planned))
    out["plans.plan_ms_per_op"] = sum(phase(op, ("plan",)) for op in planned) / pn
    out["plans.exchanges_per_op"] = sum(op["attrs"]["exchanges"] for op in planned) / pn
    out["plans.broadcasts_per_op"] = sum(op["attrs"]["broadcasts"] for op in planned) / pn

    out["ops.build_ms_per_op"] = sum(phase(op, BUILD_PHASES) for op in main) / n
    out["ops.run_ms_per_op"] = sum(phase(op, RUN_PHASES) for op in main) / n
    ok = [s for s in samples if s["ok"]]
    out["ops.rows_out_per_op"] = sum(s["rows"] for s in ok) / max(1, len(ok))

    out.update(rec["kernels"])

    # sources: the snap_ingest run itself, else the layer probe
    seg = segs.get("sources", segs["main"])
    sops = ops_in(seg)
    commits = [s["ms"] for s in seg["samples"] if s["kind"] == "commit" and s["ok"]]
    dec = max(1, len(commits) // 10)
    out["sources.commit_ms_first_decile"] = med(commits[:dec])
    out["sources.commit_ms_last_decile"] = med(commits[-dec:])
    out["sources.dup_commit_ms"] = med([s["ms"] for s in seg["samples"]
                                        if s["kind"] == "dup" and s["ok"]])
    out["sources.latest_version_ms"] = seg["layer"]["sources.latest_version_ms"]
    reads = [op for op in sops if op["name"] == "read"]
    out["sources.read_build_ms"] = med([phase(op, ("build",)) for op in reads])
    out["sources.read_run_ms"] = med([phase(op, ("plan", "run")) for op in reads])
    for k in ("log_bytes", "manifest_bytes_last", "data_files"):
        out[f"sources.{k}"] = seg["layer"][f"sources.{k}"]
    drains = [op for op in sops if op["name"] == "drain"]
    out["sources.drain_batches"] = med([op["attrs"].get("drain_batches", 0) for op in drains])
    out["sources.drain_rows"] = med([op["attrs"].get("drain_rows", 0) for op in drains])
    out["sources.drain_jobs"] = med([len(jobs_of(op)) for op in drains])

    # rc: the rc_forecast run itself, else the layer probe
    seg = segs.get("rc", segs["main"])
    passes = [op for op in ops_in(seg) if op["name"] == "rc_fit_score"]
    out["rc.design_ms"] = med([phase(op, ("design",)) for op in passes])
    out["rc.fit_ms"] = med([phase(op, ("fit",)) for op in passes])
    out["rc.score_ms"] = med([phase(op, ("plan", "score")) for op in passes])
    out["rc.test_nmse"] = seg["layer"]["rc.test_nmse"]

    self_time = {}
    for s in spans:
        self_time.setdefault(s["kind"], []).append(s["self_ms"])
    return out, spans, {k: {"n": len(v), "self_ms_total": sum(v), "self_ms_median": med(v)}
                        for k, v in sorted(self_time.items())}


# The metrics the final JSON line carries: end-to-end ones in the untraced
# run, per-layer ones in the traced run (BENCHMARK.json lists the same).
GATED = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_ms": "ms", "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.driver_gap_ms_per_op": "ms",
    "spark.busy_frac": "fraction",
    "spark.task_run_ms_per_op": "ms",
    "spark.task_cpu_ms_per_op": "ms",
    "spark.gc_ms_per_op": "ms",
    "spark.shuffle_write_bytes_per_op": "B",
    "spark.shuffle_read_bytes_per_op": "B",
    "spark.spill_bytes_per_op": "B",
    "spark.result_bytes_per_op": "B",
    "spark.failed_tasks": "count",
    "plans.plan_ms_per_op": "ms",
    "plans.exchanges_per_op": "count",
    "plans.broadcasts_per_op": "count",
    "ops.build_ms_per_op": "ms",
    "ops.run_ms_per_op": "ms",
    "ops.rows_out_per_op": "rows",
    "functions.fvdot_ns_per_pair": "ns",
    "functions.fvl2_ns_per_pair": "ns",
    "functions.lixsize_ns_per_pair": "ns",
    "text.minhash_us_per_doc": "us",
    "vec.cosine_ns_per_pair": "ns",
    "sources.commit_ms_first_decile": "ms",
    "sources.commit_ms_last_decile": "ms",
    "sources.dup_commit_ms": "ms",
    "sources.latest_version_ms": "ms",
    "sources.read_build_ms": "ms",
    "sources.read_run_ms": "ms",
    "sources.log_bytes": "B",
    "sources.manifest_bytes_last": "B",
    "sources.data_files": "count",
    "sources.drain_batches": "count",
    "sources.drain_rows": "rows",
    "sources.drain_jobs": "count",
    "rc.design_ms": "ms",
    "rc.fit_ms": "ms",
    "rc.score_ms": "ms",
    "rc.esn_step_ns": "ns",
    "rc.rls_update_ns": "ns",
    "rc.test_nmse": "ratio",
}


# ------------------------------------------------------------------- run

def evaluate(rec, args, t0_ms, work_root, repo_root):
    seg = rec["segments"][0]
    samples = [dict(s) for s in seg["samples"]]
    errors = dict(rec["errors"])
    for op, why in oracle_failures(rec, repo_root).items():
        errors.setdefault(op, why)
        for s in samples:
            if s["op"] == op:
                s["ok"] = False
    attempted = len(samples)
    failed = sum(1 for s in samples if not s["ok"])
    e2e, notes = end_to_end(rec, samples, t0_ms)
    wl = rec["workload"]
    marks = rec["marks"]
    print(f"== {wl} seed={args.seed} trace={args.trace} cpus={rec['cpus']} "
          f"attempted={attempted} failed={failed}")
    print(f"   set-up: {(marks['session_ms'] - t0_ms) / 1000:.1f} s to a started "
          f"SparkSession, {(marks['first_op_ms'] - marks['session_ms']) / 1000:.1f} s "
          f"of inputs and warm-up")
    for name, m in e2e.items():
        print(f"   {name:<22} {m['value']:>14.4f} {m['unit']:<9} n={m.get('n', '')}")
    for note in notes:
        print(f"   note: {note}")
    for op, why in errors.items():
        print(f"   FAILED {op}: {why}")
    print(f"   output check: {'ok' if not errors and not failed else 'FAILED'} "
          f"({len(rec['oracle'])} ops against the DuckDB oracle, every timed "
          f"output against the warm-up output)")

    results = os.path.join(work_root, "results")
    os.makedirs(results, exist_ok=True)
    # the overhead compares a traced run with an untraced one of the same
    # workload, seed and length
    run_id = f"{wl}-seed{args.seed}-{args.seconds:g}s"
    e2e_file = os.path.join(results, f"{run_id}-e2e.json")
    if args.trace == 0:
        with open(e2e_file, "w") as f:
            json.dump(e2e, f, indent=1)
        metrics = {k: {"value": e2e.get(k, {"value": math.nan})["value"], "unit": u}
                   for k, u in GATED.items()}
    else:
        layer, spans, self_time = per_layer(rec, samples)
        metrics = {k: {"value": layer[k], "unit": u} for k, u in LAYER_UNITS.items()}
        for k, m in metrics.items():
            print(f"   {k:<36} {m['value']:>16.4f} {m['unit']}")
        overhead = {}
        if os.path.exists(e2e_file):
            with open(e2e_file) as f:
                base = json.load(f)
            for k in ("ops_per_s", "op_p50_ms", "setup_s"):
                if k in base and k in e2e and base[k]["value"]:
                    d = e2e[k]["value"] - base[k]["value"]
                    overhead[k] = {"traced": e2e[k]["value"],
                                   "untraced": base[k]["value"], "delta": d,
                                   "delta_frac": d / base[k]["value"]}
                    print(f"   tracing overhead {k}: {d:+.4f} "
                          f"({100 * d / base[k]['value']:+.1f}% of untraced)")
        else:
            print("   tracing overhead: no untraced run of this workload, seed "
                  "and length to compare with yet")
        with open(os.path.join(results, f"{run_id}-trace.json"), "w") as f:
            json.dump({"spans": spans, "jobs": rec["jobs"], "self_time": self_time,
                       "layer": layer, "traced_e2e": e2e, "overhead": overhead}, f)
    bad = [k for k, m in metrics.items() if not math.isfinite(m["value"])]
    if bad:
        raise SystemExit(f"perfbench: no finite value for {bad}")
    return {"correct": failed == 0 and not errors, "attempted": attempted,
            "failed": failed, "metrics": metrics}
