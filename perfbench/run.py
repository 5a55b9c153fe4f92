#!/usr/bin/env python3
"""graft's benchmark. Run from the repository root:

    python3 perfbench/run.py --workload fraud_stream --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from source (perfbench/build.py),
generates the input tables (perfbench/datagen.py), runs one workload in
a fresh JVM whose temp dir is a run directory inside the build dir, then
computes the metrics (accounting.py), checks the outputs (checks.py),
removes the run directory and prints one JSON object as the last line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import fcntl  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import accounting  # noqa: E402
import build  # noqa: E402
import checks  # noqa: E402
import datagen  # noqa: E402

WORKLOADS = ("fraud_stream", "laundering_join", "query_mix")
JVM_TIMEOUT_S = 150


def metric_units():
    """(end-to-end, per-layer) metric names and units, from BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def check_layer_names(per_layer, raw):
    """The q.<query>.* and index.<family>_s metrics must name exactly the
    queries and index families the JVM ran, or some would read 0."""
    named_q = {k.split(".")[1] for k in per_layer if k.startswith("q.")}
    named_i = {k[len("index."):-len("_s")] for k in per_layer if k.startswith("index.")}
    if named_q != set(raw["queries"]) or named_i != set(raw["indexes"]):
        raise SystemExit(
            f"perfbench: BENCHMARK.json names queries {sorted(named_q)} and indexes "
            f"{sorted(named_i)}; QueryMix runs {raw['queries']} and {raw['indexes']}")


def data_dir(root):
    """The generated tables, made once per generator version."""
    with open(os.path.join(HERE, "datagen.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:16]
    base = os.path.join(root, build.BUILD_DIR)
    path = os.path.join(base, "data-" + tag)
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, "data.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(path):
            for old in glob.glob(os.path.join(base, "data-*")):
                shutil.rmtree(old)
            datagen.write(path + ".tmp")
            os.rename(path + ".tmp", path)
    return path


def run_jvm(build_out, args, run_dir):
    jar, share = build_out
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = build.java_cmd(jar, tmp, args, share)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: JVM did not finish in {JVM_TIMEOUT_S} s")
    raw_path = os.path.join(run_dir, "raw.json")
    if r.returncode != 0 or not os.path.exists(raw_path):
        with open(log) as f:
            lines = [l for l in f if " INFO " not in l]
        sys.stderr.write("".join(lines[-40:]))
        raise SystemExit(f"perfbench: JVM exited with {r.returncode}")
    with open(raw_path) as f:
        return json.load(f)


def tree_mb(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs) / 1048576.0


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def in_window(raw, t_ms):
    lo, hi = raw["timed_ms"]
    return lo <= t_ms <= hi


def stream_metrics(raw, layer):
    s = raw["stream"]
    trig = sorted(s["triggers"], key=lambda t: t["batch"])
    sends = s["sends"]
    lat = accounting.record_latencies(sends, trig)
    owners = sorted(set(accounting.attribute(sends, trig)))
    open_trig = [trig[i] for i in owners]
    timed = [t for t in trig if t["end_ms"] >= raw["timed_ms"][0]]
    late_max, late_p50 = accounting.lateness_ms(sends)
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    d = lambda k: med([t["d"].get(k, 0) for t in open_trig])  # noqa: E731
    st = lambda k: [t["state"][k] for t in timed]  # noqa: E731
    layer.update({
        "stream.triggers": len(open_trig),
        "stream.rows_per_trigger": med([t["rows"] for t in open_trig]),
        "stream.trigger_ms": d("triggerExecution"),
        "stream.add_batch_ms": d("addBatch"),
        "stream.planning_ms": d("queryPlanning"),
        "stream.latest_offset_ms": d("latestOffset"),
        "stream.wal_commit_ms": d("walCommit"),
        "stream.commit_ms": d("commitOffsets"),
        "stream.backlog_max_rows": max(accounting.backlog_rows(sends, trig, t["end_ms"])
                                       for t in open_trig),
        "stream.backlog_end_rows": accounting.backlog_rows(sends, trig, s["open_end_ms"]),
        "gen.late_max_ms": late_max, "gen.late_p50_ms": late_p50,
        "state.instances": max(st("instances")),
        "state.rows_total": max(st("rows_total")),
        "state.rows_updated": sum(st("rows_updated")),
        "state.rows_removed": sum(st("rows_removed")),
        "state.memory_mb": max(st("memory_bytes")) / 1048576.0,
        "state.update_ms": sum(st("update_ms")),
        "state.commit_ms": sum(st("commit_ms")),
        "state.dropped_by_watermark": sum(st("dropped")),
    })
    p90_ok = accounting.tail_samples_ok(len(open_trig), 0.9)
    print(f"open loop: {sum(x[4] for x in sends)} records at {s['rate']:.0f} rec/s "
          f"in {len(open_trig)} triggers; p90 {'reportable' if p90_ok else 'not a tail (< 100 triggers)'}; "
          f"generator late max {late_max:.1f} ms; backlog max "
          f"{layer['stream.backlog_max_rows']} rows, at end of open loop "
          f"{layer['stream.backlog_end_rows']} rows")
    return {
        "latency_ms": accounting.weighted_quantile(lat, 0.5),
        "rate_rps": statistics.median(s["drain_batch_rows"] / t for t in s["drain_batch_s"]),
        "cpu_s": raw["cpu_s"],
    }


def query_metrics(raw, layer):
    q = raw["query_mix"]
    medians = {k: statistics.median(v) for k, v in q["queries_ms"].items() if v}
    for k, v in medians.items():
        layer[f"q.{k}.ms"] = v
    n_exec = sum(len(v) for v in q["queries_ms"].values())
    print(f"query mix: {len(q['warm_pass_s'])} warm passes, {len(q['pass_s'])} "
          f"timed passes of {len(medians)} queries, pass "
          f"{statistics.median(q['pass_s']):.2f} s; CPU s per timed pass: "
          + " ".join(f"{x:.2f}" for x in q["pass_cpu_s"]))
    return {
        "latency_ms": accounting.geomean(medians.values()),
        "rate_rps": n_exec / sum(q["pass_s"]),
        "cpu_s": raw["cpu_s"] / len(q["pass_s"]),
    }


def run_checks(workload, raw, run_dir):
    if workload == "fraud_stream":
        sent = [r for _, r in read_jsonl(os.path.join(run_dir, "sent.jsonl"))]
        alerts = [json.loads(l) for p in glob.glob(os.path.join(raw["alert_dir"], "*.txt"))
                  for l in open(p) if l.strip()]
        return checks.check_fraud(sent, alerts, raw["model"], raw["scored"]), len(alerts)
    if workload == "laundering_join":
        sent = read_jsonl(os.path.join(run_dir, "sent.jsonl"))
        pairs = read_jsonl(os.path.join(run_dir, "pairs.jsonl"))
        return checks.check_join(sent, pairs), 0
    with open(os.path.join(HERE, "expected_query_mix.json")) as f:
        expected = json.load(f)
    return checks.check_queries(raw["query_mix"]["out_dir"], raw["queries"], expected), 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    end_to_end, per_layer = metric_units()
    built = build.ensure(root, lambda: data_dir(root))
    data = data_dir(root)
    run_dir = os.path.join(root, build.BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        raw = run_jvm(built, [a.workload, str(a.seed), str(a.seconds),
                                str(a.trace), data, run_dir], run_dir)
        check_layer_names(per_layer, raw)
        layer = {k: 0.0 for k in per_layer}
        layer.update(raw.get("trace", {}))
        layer["core.tmp_left_mb"] = tree_mb(os.path.join(run_dir, "tmp"))
        if a.workload == "query_mix":
            e2e = query_metrics(raw, layer)
        else:
            e2e = stream_metrics(raw, layer)
        e2e["setup_s"] = raw["setup_s"]
        e2e["heap_live_mb"] = raw["heap_live_mb"]
        # the wall-clock figures are reported among the per-layer metrics
        layer.update((k, v) for k, v in e2e.items() if k in per_layer)
        (wrong, info), n_alerts = run_checks(a.workload, raw, run_dir)
        layer["sink.alerts"] = n_alerts
        spans = [s for s in raw.get("spans", [])
                 if s[1] == "sink.alert" and in_window(raw, s[3])]
        if spans:
            layer["sink.alert_ms"] = statistics.median(s[4] - s[3] for s in spans)
        print(f"check {a.workload}: {'PASS' if wrong == 0 else 'FAIL'}: {info}")
        print(f"left behind in the run's temp dir: {layer['core.tmp_left_mb']:.1f} MB "
              "(removed at exit)")
        if a.trace:
            out = os.path.join(root, build.BUILD_DIR, "traces")
            os.makedirs(out, exist_ok=True)
            path = os.path.join(out, f"{a.workload}-seed{a.seed}.json")
            with open(path, "w") as f:
                json.dump({"spans": raw.get("spans", []), "layer": layer}, f)
            print(f"spans: {path}")
        all_units = {**end_to_end, **per_layer}
        for k, v in e2e.items():
            print(f"  {k} = {v:.6g} {all_units[k]}")
        units = per_layer if a.trace else end_to_end
        values = layer if a.trace else e2e
        if a.trace:
            for k, u in per_layer.items():
                print(f"  {k} = {layer[k]:.6g} {u}")
        print(json.dumps({
            "correct": wrong == 0 and raw["failed"] == 0,
            "attempted": int(raw["attempted"]),
            "failed": int(wrong + raw["failed"]),
            "metrics": {k: {"value": float(values[k]), "unit": u}
                        for k, u in units.items()},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
