#!/usr/bin/env python3
"""Benchmark of the mysql2parquet engine: the JDBC-to-Parquet export and
the operator catalog, end to end and (with --trace 1) layer by layer.

    python3 perfbench/run.py --workload export --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the program from source
(`build.py`), makes its inputs from the seed, runs one JVM with Spark on
`local[N]` (N = min(4, nproc)), checks every op's output, and prints one
JSON object as the last line of stdout:

    {"correct": true, "attempted": 42, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 they are the per-layer ones. A fuller artifact, keyed by
workload, seed, cpus and traced/untraced, is written under
`.bench_build/results/`. README.md in this directory explains the
workloads and the metrics.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402
from workloads import WORKLOADS, CANARY, MODULES  # noqa: E402

ROOT = build.ROOT
BENCH_DIR = os.path.join(ROOT, ".bench_build")
# The JVM's time limit is this plus --seconds: set-up, the passes that
# overrun the deadline and the end canary.
JVM_TIMEOUT_BASE_S = 155
# Timed passes per run, at least. A traced run adds one, as untraced,
# traced, untraced, so that its overhead is measured against passes on
# both sides of it.
MIN_PASSES = 2
CHECK_TIMEOUT_S = 150
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def cpus():
    return max(1, min(4, os.cpu_count() or 1))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def make_plan(w, seed, seconds, trace, run_dir, ncpu):
    """Inputs and the JVM's plan for one run."""
    rnd = random.Random(f"{seed}/order")
    plan = {
        "kind": w["kind"], "cpus": ncpu, "trace": bool(trace), "seconds": seconds,
        "min_passes": MIN_PASSES + trace, "canary": CANARY,
        "canary_dir": os.path.join(run_dir, "canary"),
        "tmp_dir": os.path.join(run_dir, "tmp"),
        "out": os.path.join(run_dir, "result.json"),
        "trace_out": os.path.join(run_dir, "trace.jsonl"),
        "dump_dir": os.path.join(run_dir, "dump"),
        "state": w.get("state", []),
    }
    os.makedirs(plan["tmp_dir"])
    info = {}
    # the canary reads fixed documents, the same in every run
    gen.write_tables(plan["canary_dir"], 0.01, 0, ["documents"])
    if w["kind"] == "export":
        plan["ops"] = w["ops"]
        cols = gen.export_rows(w["rows"], seed)
        csv = os.path.join(run_dir, "export.csv")
        gen.write_export_csv(csv, cols)
        ddl = ", ".join(f"{c} {t}" for c, t in gen.EXPORT_COLUMNS)
        plan["export"] = {"rows": w["rows"], "csv": csv, "ddl": f"CREATE TABLE T ({ddl})",
                          "out_dir": os.path.join(run_dir, "export")}
        info["cols"] = cols
        info["input_bytes"] = os.path.getsize(csv)
    else:
        plan["ops"] = w["queries"]
        plan["sf_dir"] = os.path.join(run_dir, "data")
        info["input_bytes"] = gen.write_tables(plan["sf_dir"], w["sf"], seed)
    n = len(plan["ops"])
    plan["passes"] = [rnd.sample(range(n), n) for _ in range(200)]
    return plan, info


def run_jvm(plan, run_dir, heap, cp):
    timeout = JVM_TIMEOUT_BASE_S + plan["seconds"]
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = plan["tmp_dir"]
    cmd = (["java", f"-Xmx{heap}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
            f"-Dderby.system.home={tmp}"] + opens +
           ["-cp", cp, "perfbench.Main", os.path.join(run_dir, "plan.json")])
    with open(os.path.join(run_dir, "plan.json"), "w") as f:
        json.dump(plan, f)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: JVM timed out after {timeout:.0f} s")
    if rc != 0 or not os.path.exists(plan["out"]):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"perfbench: JVM exited with code {rc}")
    with open(plan["out"]) as f:
        return json.load(f)


def check_catalog(plan, res):
    """Oracle-check each query's warm-up dump; returns {query: error}."""
    wrong = dict(res.get("warmup_failed", {}))
    dump = plan["dump_dir"]
    with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
        json.dump(res["oracle_sql"], f)
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                        plan["sf_dir"], dump, "--only-present"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       cwd=dump, timeout=CHECK_TIMEOUT_S)
    seen = set()
    for line in r.stdout.splitlines():
        tag, _, rest = line.partition(" ")
        name = rest.split(":")[0].split(" ")[0]
        if tag in ("FAIL", "TYPEFAIL"):
            wrong.setdefault(name, line[:300])
        if tag in ("PASS", "FAIL", "TYPEFAIL", "INFO"):
            seen.add(name)
    for q in set(plan["ops"]) - seen - set(wrong):
        wrong[q] = "no output checked"
    if r.returncode not in (0, 1):
        raise SystemExit("perfbench: oracle check crashed:\n" + r.stdout[-2000:])
    return wrong


def check_export(res, info, ncpu):
    """Read back each export's Parquet output and compare row count and
    content hash with the generator's record. Returns {out_dir: error}
    and {out_dir: (bytes, files)}."""
    import pyarrow.parquet as pq
    from concurrent.futures import ThreadPoolExecutor
    want = {m: M.content_hash(gen.export_expected(info["cols"], m))
            for m in (False, True)}

    def read_back(out):
        files = [os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")]
        size = (sum(os.path.getsize(f) for f in files), len(files))
        return out, size, M.content_hash(pq.read_table(files))
    wrong, sizes = {}, {}
    outs = [o["out"] for o in res["ops"] if o.get("ok")] + res.get("warmup_outs", [])
    # the JVM has exited, so the read-back may use every core
    with ThreadPoolExecutor(ncpu) as pool:
        for out, size, got in pool.map(read_back, outs):
            sizes[out] = size
            exp = want[out.endswith(".compat")]
            if got != exp:
                wrong[out] = f"rows/hash {got} != expected {exp}"
    return wrong, sizes


def end_to_end(plan, res, good, setup_s):
    """End-to-end metrics from the untraced passes.

    An op's latency in `wall_s` is its minimum over the run's passes:
    host noise only ever adds time (another VM's CPU steal, GC, JIT), so
    the minimum is the steadiest estimate of the op's own cost.
    """
    lat = [o["s"] for o in good]
    best = {}
    for o in good:
        i = o["span"].split(".")[1]
        best[i] = min(best.get(i, o["s"]), o["s"])
    t = M.tail(lat, cap=M.tail_cap(MIN_PASSES * len(plan["ops"])))
    out = {
        "setup_s": (setup_s, "s"),
        "wall_s": (sum(best.values()), "s"),
        "op_p50_s": (M.percentile(lat, 50) if lat else 0.0, "s"),
        "op_tail_s": (t[1] if t else max(lat, default=0.0), "s"),
        "peak_rss_mb": (res["vmhwm_kb"] / 1024.0, "MB"),
    }
    extra = {"op_tail_percentile": t[0] if t else 100.0,
             "op_samples": len(lat), "op_tail_beyond": t[3] if t else 0}
    return out, extra


def read_trace(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def per_layer(w, res, ok_traced, sizes, records, ncpu):
    """Per-layer metrics, per traced pass, and the same split by module."""
    n_tr = max(1, sum(1 for p in res["passes"] if p["traced"]))
    agg = M.aggregate(records)
    tot, by_mod = {}, {}
    for o in ok_traced:
        a = agg.get(o["span"], {})
        mod = by_mod.setdefault(res["modules"].get(o["name"], "none"), {})
        for k, v in list(a.items()) + [("op_s", o["s"]), ("build_s", o.get("build_s", 0.0))]:
            tot[k] = tot.get(k, 0) + v
            mod[k] = mod.get(k, 0) + v / n_tr
    g = lambda k: tot.get(k, 0) / n_tr  # noqa: E731
    m = {}
    if w["kind"] == "export":
        rows = w["rows"] * len(ok_traced)
        out_b = sum(sizes[o["out"]][0] for o in ok_traced)

        def mode_mean(mode):
            xs = [o["s"] for o in ok_traced if o["name"] == mode]
            return statistics.mean(xs) if xs else 0.0
        m["export.resolve_s"] = (sum(o["resolve_s"] for o in ok_traced) / n_tr, "s")
        m["export.single_s"] = (mode_mean("single"), "s")
        m["export.partitioned_s"] = (mode_mean("partitioned"), "s")
        m["export.compat_s"] = (mode_mean("compat"), "s")
        m["export.out_mb"] = (out_b / 1e6 / n_tr, "MB")
        m["export.files"] = (sum(sizes[o["out"]][1] for o in ok_traced) / n_tr, "count")
        m["export.rows_per_s"] = (rows / g("op_s") / n_tr if ok_traced else 0.0, "1/s")
        m["export.out_bytes_per_row"] = (out_b / rows if ok_traced else 0.0, "B")
    else:
        for k, u in (("resolve_s", "s"), ("single_s", "s"), ("partitioned_s", "s"),
                     ("compat_s", "s"), ("out_mb", "MB"), ("files", "count"),
                     ("rows_per_s", "1/s"), ("out_bytes_per_row", "B")):
            m["export." + k] = (0.0, u)
    m["build_s"] = (g("build_s"), "s")
    m["build_jobs"] = (g("build_jobs"), "count")
    for mod in MODULES:
        m[f"{mod}.op_s"] = (by_mod.get(mod, {}).get("op_s", 0.0), "s")
        m[f"{mod}.build_s"] = (by_mod.get(mod, {}).get("build_s", 0.0), "s")
    st = res.get("state", {})
    m["state.canon_build_s"] = (st.get("canon", {}).get("build_s", 0.0), "s")
    m["state.mb"] = (sum(s["bytes"] for s in st.values()) / 1e6, "MB")
    m["catalyst_s"] = (g("catalyst_s"), "s")
    m["query_executions"] = (g("query_executions"), "count")
    m["jobs"] = (g("jobs"), "count")
    m["stages"] = (g("stages"), "count")
    m["tasks"] = (g("tasks"), "count")
    m["task_overhead_s"] = (max(0.0, g("task_dur_s") - g("run_s")), "s")
    traced_walls = [p["wall_s"] for p in res["passes"] if p["traced"]]
    untraced = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    m["core_util"] = (g("run_s") / (M.median(traced_walls) * ncpu) if traced_walls else 0.0,
                      "ratio")
    m["task_cpu_s"] = (g("cpu_s"), "s")
    m["gc_s"] = (g("gc_s"), "s")
    m["input_mb"] = (g("input_b") / 1e6, "MB")
    m["shuffle_write_mb"] = (g("shuffle_write_b") / 1e6, "MB")
    m["shuffle_read_mb"] = (g("shuffle_read_b") / 1e6, "MB")
    m["spill_mb"] = (g("spill_b") / 1e6, "MB")
    m["session_s"] = (res["session_s"], "s")
    m["canary_s"] = (res["canary_start_s"], "s")
    m["trace_overhead_frac"] = (
        M.median(traced_walls) / M.median(untraced) - 1.0 if traced_walls and untraced else 0.0,
        "ratio")
    return m, by_mod


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()
    w = WORKLOADS[a.workload]
    ncpu = cpus()
    cp = build.build()
    key = f"{a.workload}_seed{a.seed}_c{ncpu}_{'traced' if a.trace else 'untraced'}"
    run_dir = os.path.join(BENCH_DIR, "runs", f"{key}_p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    correct = False
    try:
        t_gen = time.monotonic()
        plan, info = make_plan(w, a.seed, a.seconds, a.trace, run_dir, ncpu)
        gen_s = time.monotonic() - t_gen
        t_jvm = time.monotonic()
        res = run_jvm(plan, run_dir, w["heap"], cp)
        jvm_wall_s = time.monotonic() - t_jvm
        setup_s = gen_s + res["setup_jvm_s"]
        sizes = {}
        t_check = time.monotonic()
        if w["kind"] == "export":
            wrong, sizes = check_export(res, info, ncpu)
            bad = lambda o: o.get("out") in wrong  # noqa: E731
        else:
            wrong = check_catalog(plan, res)
            bad = lambda o: o["name"] in wrong  # noqa: E731
        check_s = time.monotonic() - t_check
        ops = res["ops"]
        good = [o for o in ops if o.get("ok") and not bad(o)]
        failed = len(ops) - len(good)
        e2e, extra = end_to_end(plan, res, [o for o in good if not o["traced"]], setup_s)
        layer, by_mod = per_layer(w, res, [o for o in good if o["traced"]], sizes,
                                  read_trace(plan["trace_out"]), ncpu)
        canary = (res["canary_start_s"], res["canary_end_s"])
        hot = max(canary) > 1.5 * min(canary)
        artifact = {
            "workload": a.workload, "seed": a.seed, "cpus": ncpu, "traced": bool(a.trace),
            "seconds": a.seconds, "attempted": len(ops), "failed": failed,
            "failed_frac": failed / len(ops) if ops else 1.0,
            "wrong": wrong, "input_bytes": info["input_bytes"],
            "end_to_end": {k: v[0] for k, v in e2e.items()}, **extra,
            "per_layer": {k: v[0] for k, v in layer.items()},
            "per_module": by_mod,
            "canary": {"query": CANARY, "start_s": res["canary_start_s"],
                       "end_s": res["canary_end_s"], "verdict": "hot" if hot else "ok"},
            "passes": res["passes"],
            "per_query_s": {q: [o["s"] for o in good if o["name"] == q]
                            for q in sorted({o["name"] for o in ops})},
            "jvm_wall_s": jvm_wall_s, "check_s": check_s,
            "setup": {"gen_s": gen_s, "jvm_s": res["setup_jvm_s"],
                      "session_s": res["session_s"], "warmup_s": res.get("warmup_s"),
                      "state": res.get("state", {}), "load_s": res.get("load_s")},
        }
        os.makedirs(os.path.join(BENCH_DIR, "results"), exist_ok=True)
        with open(os.path.join(BENCH_DIR, "results", key + ".json"), "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
        for q, err in sorted(wrong.items()):
            log(f"WRONG {q}: {err}")
        log(f"{key}: {len(ops)} ops, {failed} failed, canary {artifact['canary']['verdict']}, "
            f"{time.monotonic() - t_start:.1f} s total")
        chosen = layer if a.trace else e2e
        correct = not wrong and failed == 0
        print(json.dumps({
            "correct": correct, "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}))
    finally:
        # a run that is not correct keeps its inputs, outputs and JVM log
        if correct:
            shutil.rmtree(run_dir, ignore_errors=True)
        else:
            log(f"run directory kept: {run_dir}")


if __name__ == "__main__":
    main()
