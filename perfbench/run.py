#!/usr/bin/env python3
"""graft's benchmark: one seeded, closed-loop workload per run, end to end.

    python3 perfbench/run.py --workload <admin_sweep|ingest_stream|serve_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library from
`src/main` and the benchmark from `perfbench/scala` (see build.py); inputs are
generated from the seed (gen.py) before any timer starts; a fresh JVM and
Spark session run the workload (perfbench.Main); outputs are checked (the
JVM checks, plus the DuckDB oracle in oracle.py for admin_sweep). The last
line of stdout is one JSON object: `correct`, `attempted`, `failed` and
`metrics` — the end-to-end metrics of BENCHMARK.json with --trace 0, the
per-layer metrics with --trace 1. Progress and details go to stderr.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("admin_sweep", "ingest_stream", "serve_mix")
GEN_REPS = 3            # input generation is repeated; setup reports the median
RUN_LIMIT_S = 170       # a run must end within 180 s
HEAP = "2g"             # fixed heap (-Xms = -Xmx): peak RSS does not follow GC sizing luck
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# per-call latency metric of each op name; the remaining names are admin tools
OP_METRIC = {"reporters_run_all": "reporters.run_all_s", "action_plans": "plans.actions_s",
             "views": "cluster.views_s", "release": "caching.release_s",
             "ann": "operators.serve_s.ann", "bm25": "operators.serve_s.bm25",
             "dedup": "operators.serve_s.dedup", "gate": "streaming.batch_s",
             "delete": "lifecycle.delete_s", "compact": "lifecycle.compact_s"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def generate(workload, seed, inputs):
    times, digests = [], set()
    for _ in range(GEN_REPS):
        if os.path.isdir(inputs):
            shutil.rmtree(inputs)
        t = time.perf_counter()
        manifest = gen.generate(workload, seed, inputs)
        times.append(time.perf_counter() - t)
        digests.add(manifest["input_digest"])
    if len(digests) != 1:
        raise RuntimeError(f"input generation is not deterministic: {sorted(digests)}")
    return statistics.median(times), manifest


def run_jvm(classpath, args, work, deadline):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-6000:]
        raise RuntimeError(f"JVM exited with {code}:\n{tail}")


def admin_oracle(result, inputs, win_ops):
    """Fail every admin op whose snapshot's dumped output fails the oracle."""
    import oracle
    info = result["info"]
    bad = {}
    for j in range(info["snapshots"]):
        outputs = info["outputs"].get(str(j))
        if outputs is None:        # a short run may not reach every snapshot
            continue
        for tool, why in oracle.check_snapshot(os.path.join(inputs, "admin", f"snap{j}"),
                                               outputs, info["oracle_sql"]).items():
            bad[(j, tool)] = why
            log(f"oracle mismatch: snapshot {j} {tool}: {why}")
    first = info["outputs"].get("0", {})
    for tool in oracle.ORACLED + ["reporters_run_all", "action_plans"]:
        if tool not in first:      # the set-up sweep runs every tool on snapshot 0
            bad[(0, tool)] = "no output recorded by the set-up sweep"
    log(f"oracle: {sum(len(v) for v in info['outputs'].values())} tool outputs on "
        f"{len(info['outputs'])} snapshot(s) checked, {len(bad)} mismatch(es)")
    snap_of = info["op_snapshot"]
    for op in win_ops:
        j = snap_of.get(str(op["id"]))
        if op["kind"] == "tool" and j is not None and (j, op["name"]) in bad:
            op["ok"] = False
            op["error"] = bad[(j, op["name"])]
    return len(bad)


def layer_metrics(result, windows, names):
    """Per-layer metrics of a traced run: the JVM's derivations, the op
    latencies per name from the traced window, the harness counts, and the
    tracing overhead (traced / untraced window)."""
    primary = result["primary_kind"]
    untraced, traced = windows
    out = dict(result["layers"])
    out.update(result.get("extras", {}))
    for op_name in {o["name"] for o in traced["ops"]}:
        xs = [o["s"] for o in traced["ops"] if o["name"] == op_name and o["ok"]]
        if xs:
            out[OP_METRIC.get(op_name, f"operators.tool_s.{op_name}")] = statistics.mean(xs)
    wt = stats.window_metrics(traced, primary)
    wu = stats.window_metrics(untraced, primary)
    out["trace.overhead.op_s"] = stats.matched_ratio(traced["ops"], untraced["ops"])
    out["trace.overhead.items_per_s"] = wt["items_per_s"] / wu["items_per_s"]
    attempted = wt["_attempted"] + wu["_attempted"]
    failed = wt["_failed"] + wu["_failed"]
    out["harness.failed_ratio"] = failed / attempted if attempted else float("nan")
    out["harness.op_samples"] = wt["_samples"]
    out["harness.op_tail_pct"] = wt["_tail_pct"]
    out["harness.round_p50_s"] = wt["_round_p50_s"]
    missing = [n for n in names if n not in out or math.isnan(out[n])]
    if missing:
        log(f"per-layer metrics not measured in this workload, reported as 0: {missing}")
    return {n: 0.0 if n in missing else out[n] for n in names}


def result_line(bench, result, trace, setup_s, oracle_failures=0):
    """The benchmark's result object: every end-to-end metric (trace 0) or
    every per-layer metric (trace 1) of BENCHMARK.json, with its unit. Every
    op counts as attempted; an op that threw or failed a check is failed and
    makes the run incorrect, as does a metric without a value."""
    windows = result["windows"]
    all_ops = [o for w in windows for o in w["ops"]]
    primary = result["primary_kind"]
    if trace:
        specs = bench["per_layer"]
        metrics = layer_metrics(result, windows, [m["name"] for m in specs])
    else:
        specs = bench["end_to_end"]
        latency_of = result.get("latency_of", "op")
        w = stats.window_metrics(windows[0], primary, latency_of)
        log(f"{w['_samples']} {primary if latency_of == 'op' else 'round'} samples, tail percentile p{w['_tail_pct']:.0f}, "
            f"{w['_round_samples']} rounds, wall {windows[0]['wall_s']:.2f} s")
        w.update(setup_s=setup_s, peak_rss_mb=result["peak_rss_mb"])
        metrics = {m["name"]: w[m["name"]] for m in specs}
    failed = sum(1 for o in all_ops if not o["ok"])
    correct = failed == 0 and oracle_failures == 0 and any(o["kind"] == primary for o in all_ops)
    bad_values = [k for k, v in metrics.items() if v is None or (isinstance(v, float) and math.isnan(v))]
    if bad_values:
        log(f"metrics without a value: {bad_values}")
        correct = False
    units = {m["name"]: m["unit"] for m in specs}
    return {"correct": correct, "attempted": len(all_ops), "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    start = time.monotonic()
    bench = spec()

    classpath = build.build()
    deadline = time.monotonic() + RUN_LIMIT_S - 5
    work = os.path.join(build.OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    if os.path.isdir(work):
        shutil.rmtree(work)
    inputs = os.path.join(work, "inputs")
    try:
        gen_s, manifest = generate(a.workload, a.seed, inputs)
        log(f"inputs {manifest['input_digest'][:16]} ({sum(manifest['rows'].values())} rows) "
            f"generated in {gen_s:.2f} s")
        out_file = os.path.join(work, "result.json")
        spawn = time.time()
        run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--inputs", inputs, "--work", work, "--out", out_file], work, deadline)
        with open(out_file) as f:
            result = json.load(f)
        windows = result["windows"]
        all_ops = [o for w in windows for o in w["ops"]]
        oracle_failures = admin_oracle(result, inputs, all_ops) if a.workload == "admin_sweep" else 0
        for o in all_ops:
            if not o["ok"]:
                log(f"failed op {o['kind']}.{o['name']}: {o['error']}")

        setup_s = gen_s + (result["setup_done_ms"] / 1000.0 - spawn)
        line = result_line(bench, result, a.trace, setup_s, oracle_failures)
        if a.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copyfile(os.path.join(work, "spans.jsonl"),
                            os.path.join(build.OUT, f"last-spans-{a.workload}.jsonl"))
        correct = line["correct"]
        log(f"setup {setup_s:.2f} s (gen {gen_s:.2f} s), run total {time.monotonic() - start:.1f} s")
        if not correct:
            log("OUTPUT CHECK FAILED: see the failed ops above")
        print(json.dumps(line))
        return 0 if correct else 1
    finally:
        if os.path.exists(os.path.join(work, "jvm.log")):
            shutil.copyfile(os.path.join(work, "jvm.log"),
                            os.path.join(build.OUT, f"last-{a.workload}.log"))
        if os.path.isdir(work):
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (build.BuildError, RuntimeError, FileNotFoundError, KeyError) as e:
        log(f"benchmark failed: {e}")
        sys.exit(2)
