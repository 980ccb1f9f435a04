#!/usr/bin/env python3
"""Benchmark of the graft engine: one seeded workload, one JVM.

    python3 perfbench/run.py --workload cva_spine --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into the checkout; later runs reuse
the build while the sources are unchanged. Each run then

1. derives its input tables from the seed (perfbench/inputs.py);
2. starts one JVM at local[cores] with the pinned session conf and a
   private java.io.tmpdir, spark.local.dir and warehouse, deleted after;
3. runs every query of the workload once, writing its result (the
   correctness pass, which is also the warm pass charged to setup_s);
4. runs rounds over the query list for --seconds, one call at a time;
5. compares the results with the DuckDB oracles (scripts/selfcheck.py);
6. prints a summary and, as its last line, one JSON object.

--trace 0 reports the end-to-end metrics; --trace 1 registers listeners
and reports the per-layer metrics (perfbench/layers.py), mixing traced
and untraced rounds to measure the tracing overhead. Spans are written
to .bench_build/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import inputs  # noqa: E402
import layers  # noqa: E402

ROOT = Path.cwd()
WORK = ROOT / ".bench_build"
HEAP = "3g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# per-layer counts that must repeat exactly from round to round
REPEATABLE = ["spark.jobs", "streaming.batches", "state.fold_jobs", "sources.input_rows"]
# (name, unit) of the end-to-end metrics, as BENCHMARK.json lists them
END_TO_END = [("setup_s", "s"), ("round_s", "s"), ("build_s", "s"), ("materialize_s", "s")]


def die(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "src", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files = sorted(p for p in r.rglob("*") if p.is_file()) if r.is_dir() else [r]
        for p in files:
            st = p.stat()
            h.update(f"{p.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Classpath of the engine plus harness, building them when stale."""
    stamp = WORK / "classpath.txt"
    fp = source_fingerprint()
    if stamp.exists():
        saved_fp, cp = stamp.read_text().split("\n", 1)
        if saved_fp == fp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("[perfbench] building engine and harness (sbt)", file=sys.stderr)
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S,
        stdin=subprocess.DEVNULL)
    lines = [ln for ln in r.stdout.splitlines() if "perfbench" in ln and ".jar" in ln]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-3000:] + r.stderr[-3000:])
        die("build failed")
    cp = lines[-1].strip()
    WORK.mkdir(exist_ok=True)
    stamp.write_text(f"{fp}\n{cp}\n")
    return cp


def run_jvm(cp, a, input_dir, run_dir, cores):
    result = run_dir / "result.json"
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", cp,
              "perfbench.Harness", "--workload", a.workload, "--input", str(input_dir),
              "--run-dir", str(run_dir), "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores), "--result", str(result)])
    log = run_dir / "jvm.log"
    launched = time.time()
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            r = None
    text = log.read_text(errors="replace")
    for ln in text.splitlines():
        if ln.startswith("[perfbench]"):
            print(ln)
    if r is None or r.returncode != 0 or not result.exists():
        sys.stderr.write(text[-4000:])
        die("benchmark JVM timed out" if r is None else f"benchmark JVM exited {r.returncode}")
    return launched, json.loads(result.read_text())


def oracle_check(input_dir, out_dir, names):
    """{query: 'OK ...' | 'FAIL ...'} from the repo's DuckDB compare."""
    r = subprocess.run(
        [sys.executable, str(ROOT / "scripts" / "selfcheck.py"), str(input_dir), str(out_dir),
         "--no-run", "--only=" + ",".join(names)],
        capture_output=True, text=True, stdin=subprocess.DEVNULL, timeout=120)
    verdicts = {}
    for ln in r.stdout.splitlines():
        parts = ln.split(None, 2)
        if len(parts) >= 2 and parts[0] in ("OK", "FAIL") and parts[1].rstrip(":") in names:
            verdicts[parts[1].rstrip(":")] = ln.strip()
    for n in names:
        verdicts.setdefault(n, f"FAIL {n}: no verdict ({r.stderr.strip()[-300:]})")
    return verdicts


def end_to_end(res, launched):
    """{metric: (value, samples)} from the untraced timed rounds. A round
    with a failed call is left out; a metric left with no sample is None,
    so a query that always fails reads as a failure, not a fast time."""
    calls = [c for c in res["calls"] if not c["traced"] and not c["error"]]
    by_round = {}
    for c in calls:
        by_round.setdefault(c["round"], []).append(c)
    rounds = [cs for cs in by_round.values() if len(cs) == len(res["queries"])]

    def med(vals):
        return (statistics.median(vals), len(vals)) if vals else (None, 0)

    return {
        "setup_s": (res["first_round_ms"] / 1000.0 - launched, 1),
        "round_s": med([sum(c["build_s"] + c["materialize_s"] for c in cs) for cs in rounds]),
        "build_s": med([sum(c["build_s"] for c in cs) for cs in rounds]),
        "materialize_s": med([sum(c["materialize_s"] for c in cs) for cs in rounds]),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--source", help="directory of the source tables")
    a = ap.parse_args()
    # a terminated run still stops and waits for its JVM and sbt children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"{ROOT} is not a checkout of the engine (no build.sbt / src); run from its root", 2)
    source = Path(a.source) if a.source else inputs.default_source()
    if not (source / "lineitem.parquet").is_file():
        die(f"source tables not found in {source}", 2)

    cp = build()
    t_inputs = time.time()
    input_dir, sizes = inputs.ensure(source, WORK / "inputs", a.seed)
    t_jvm = time.time()
    print(f"[perfbench] inputs seed={a.seed} " + " ".join(f"{t}={n}" for t, n in sizes.items()))
    cores = len(os.sched_getaffinity(0))
    run_dir = WORK / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse", "out"):
        (run_dir / d).mkdir(parents=True)
    try:
        launched, res = run_jvm(cp, a, input_dir, run_dir, cores)
        t_oracle = time.time()
        verdicts = oracle_check(input_dir, run_dir / "out", res["queries"])
        t_done = time.time()
        if a.trace:
            metrics, per_round, spans, checks = layers.analyze(res)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"[perfbench] phases s: inputs {t_jvm - t_inputs:.1f} jvm {t_oracle - t_jvm:.1f} "
          f"oracle {t_done - t_oracle:.1f}")
    for n in res["queries"]:
        err = res["correctness"].get(n)
        print(f"[perfbench] check {verdicts[n]}" + (f" ({err})" if err else ""))
    failed_calls = [c for c in res["calls"] if c["error"]]
    for c in failed_calls:
        print(f"[perfbench] call failed round={c['round']} {c['query']}: {c['error']}")
    attempted = len(res["calls"]) + len(res["queries"])
    failed = len(failed_calls) + sum(1 for v in verdicts.values() if not v.startswith("OK"))
    host = res["host"]
    print(f"[perfbench] workload={a.workload} seed={a.seed} trace={a.trace} cores={cores} "
          f"heap={HEAP} rounds={len({c['round'] for c in res['calls']})} "
          f"calibration_s={host['calibration_s']:.3f} steal_frac={host['steal_frac']:.4f} "
          f"fail_frac={failed}/{attempted}={failed / attempted:.4f}")

    if a.trace:
        trace_dir = WORK / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        path = trace_dir / f"{a.workload}-seed{a.seed}.json"
        path.write_text(json.dumps({"workload": a.workload, "seed": a.seed, "spans": spans}))
        print(f"[perfbench] {len(spans)} spans -> {path.relative_to(ROOT)}; checks {checks}")
        for i, row in enumerate(per_round):
            print(f"[perfbench] traced round {i + 1} counts " +
                  " ".join(f"{k}={row[k]}" for k in REPEATABLE))
        out = {name: {"value": metrics[name], "unit": unit} for name, unit, _ in layers.METRICS}
    else:
        e2e = end_to_end(res, launched)
        walls = [sum(c["build_s"] + c["materialize_s"] for c in res["calls"] if c["round"] == r)
                 for r in sorted({c["round"] for c in res["calls"]})]
        print("[perfbench] round walls s: " + " ".join(f"{w:.3f}" for w in walls))
        per_query = {}
        for c in res["calls"]:
            if not c["error"]:
                per_query.setdefault(c["query"], []).append(c["build_s"] + c["materialize_s"])
        print("[perfbench] per-query median s: " +
              " ".join(f"{q}={statistics.median(v):.3f}" for q, v in per_query.items()))
        for name, unit in END_TO_END:
            v, n = e2e[name]
            print(f"[perfbench] {name} = {'none' if v is None else f'{v:.6g}'} {unit} "
                  f"(median of {n})")
        cpu = [sum(c["cpu_s"] for c in res["calls"] if c["round"] == r)
               for r in sorted({c["round"] for c in res["calls"]})]
        print(f"[perfbench] cpu_s = {statistics.median(cpu):.6g} s (median of {len(cpu)})")
        print(f"[perfbench] peak_rss_mb = {res['host']['vm_hwm_kb'] / 1024:.1f} MB")
        out = {name: {"value": e2e[name][0], "unit": unit} for name, unit in END_TO_END}
    correct = failed == 0 and all(m["value"] is not None for m in out.values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
