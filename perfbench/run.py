#!/usr/bin/env python3
"""Benchmark of the graft library: one workload per command.

    python3 perfbench/run.py --workload ingest|upsert|analytics \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the library and the
harness (perfbench/build.sbt, sbt offline); later runs reuse the build
while the sources are unchanged. Each run:

  1. creates a scratch root under .bench_run/ and marks it;
  2. runs the harness JVM (perfbench.Main) on `local[<cores>]`: seeded
     inputs, set-up three times, an untimed warm-up, then a closed loop
     of timed ops for S seconds, then the output checks;
  3. for `analytics`, replays every gate's oracle SQL in DuckDB;
  4. prints a per-metric report, then one JSON result line, and deletes
     the scratch root.

With --trace 1 the untraced timed loop is followed, in the same JVM, by
a second, traced loop that also records Spark jobs, stages and tasks;
the JSON line then carries the per-layer metrics of the traced loop,
and the report prints the tracing overhead (traced minus untraced
end-to-end figures).

Exit status: 0 when every output check held, 1 when one failed or the
run broke, 2 when the library sources are missing.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ("ingest", "upsert", "analytics")
MARKER = ".perfbench-root"
BUILD_DIR = os.path.join(HERE, "target")
# Whole-command time limits: a run that builds first gets longer.
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 870
# Same module openings the library's build passes to forked JVMs.
# The gated end-to-end metrics (BENCHMARK.json `end_to_end`) and units.
E2E_UNITS = {"setup_s": "s", "write_p50_s": "s", "read_p50_s": "s",
             "rewrite_p50_s": "s", "heap_live_mb": "MB"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run_group(cmd, cwd, out_path, timeout_s):
    """Run `cmd` in its own process group, output to `out_path`; kill the
    whole group if it outlives `timeout_s`. Returns the exit code, or
    None on timeout."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, timeout_s))
        except subprocess.TimeoutExpired:
            return None
        finally:
            # also on SIGTERM/SIGINT of this runner: no child outlives it
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def source_stamp():
    """Hash of every file the build reads."""
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(REPO, "build.sbt"),
             os.path.join(REPO, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    h = hashlib.sha256()
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, REPO).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Compile the library and the harness unless an up-to-date build
    exists; returns (classpath, built_now)."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    os.makedirs(BUILD_DIR, exist_ok=True)
    log("building library and harness (sbt)")
    build_log = os.path.join(BUILD_DIR, "build.log")
    code = run_group(["sbt", "--batch", "-Dsbt.server.autostart=false",
                      "compile", "export Runtime/fullClasspath"],
                     HERE, build_log, deadline - time.monotonic())
    cp = None
    with open(build_log) as f:
        for line in f:
            line = line.strip()
            if line.startswith("/") and "perfbench" in line and ":" in line:
                cp = line
    if code != 0 or not cp:
        tail(build_log)
        raise SystemExit(f"perfbench: build failed (exit {code})")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            lines = f.readlines()[-n:]
        sys.stderr.write("".join(lines))
    except OSError:
        pass


def make_root(workload, seed):
    token = uuid.uuid4().hex
    root = os.path.join(REPO, ".bench_run", f"{workload}-{seed}-{token[:12]}")
    os.makedirs(os.path.join(root, "tmp"))
    with open(os.path.join(root, MARKER), "w") as f:
        f.write(token)
    return root, token


def remove_root(root, token):
    """Delete a scratch root, but only one this run created and marked."""
    try:
        with open(os.path.join(root, MARKER)) as f:
            if f.read().strip() != token:
                return
    except OSError:
        return
    shutil.rmtree(root, ignore_errors=True)
    parent = os.path.dirname(root)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


def run_jvm(cp, a, deadline):
    """One harness run; returns (record, analytics oracle results)."""
    root, token = make_root(a.workload, a.seed)
    try:
        out = os.path.join(root, "samples.json")
        home = os.environ.get("JAVA_HOME")
        java = os.path.join(home, "bin", "java") if home else "java"
        cmd = [java, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={root}/tmp",
               f"-Dderby.system.home={root}"]
        for m in ADD_OPENS:
            cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
                "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--root", root, "--out", out]
        jvm_log = os.path.join(root, "jvm.log")
        code = run_group(cmd, REPO, jvm_log, deadline - time.monotonic())
        if code != 0 or not os.path.isfile(out):
            tail(jvm_log)
            raise SystemExit(
                f"perfbench: harness {'timed out' if code is None else f'exited {code}'}")
        with open(out) as f:
            rec = json.load(f)
        oracle = []
        if a.workload == "analytics":
            import oracle as duck
            oracle = duck.check(os.path.join(root, "results"))
        return rec, oracle
    finally:
        remove_root(root, token)


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def report(rec, oracle):
    """Print the human-readable report; return (e2e metrics of each
    timed loop, correct, attempted, failed)."""
    print(f"# workload={rec['workload']} seed={rec['seed']} cores={rec['cpus']} "
          f"session={rec['session_s']:.2f}s inputs={rec['gen_s']:.2f}s "
          f"setups={','.join(f'{x:.3f}' for x in rec['setup_s'])}s "
          f"warmup={rec['warmup_s']:.2f}s")
    per_loop = []
    for loop in rec["loops"]:
        e2e, counts, detail, named = metrics.end_to_end(rec, loop)
        per_loop.append(e2e)
        print(f"## {'traced' if loop['traced'] else 'untraced'} loop: "
              f"timed={(loop['timed_end'] - loop['timed_start']) / 1000:.2f}s "
              f"steal={loop['steal_frac']:.3f} stolen={loop['stolen_s']:.2f}s "
              f"(ops with steal > {metrics.STEAL_MAX:g} left out)")
        for name, v in e2e.items():
            print(f"  e2e {name:<22} {fmt(v):>12}  n={counts[name]}")
        for name, (v, unit, n) in named.items():
            print(f"  {name:<26} {fmt(v):>12} {unit:<16} n={n}")
        for kind, d in detail.items():
            tail_s = ("" if d["tail"] is None
                      else f" p{d['tail'][0]:g}={d['tail'][1]:.4f}s")
            print(f"  op {kind:<30} n={d['n']:<4} p50={d['p50_s']:.4f}s "
                  f"mean={d['mean_s']:.4f}s{tail_s} cpu_mean={d['cpu_mean_s']:.4f}s")
    for k, v in sorted(rec["inputs"].items()):
        if isinstance(v, list) and v and all(isinstance(x, (int, float)) for x in v):
            v = (f"median={fmt(metrics.median(v))} min={fmt(min(v))} "
                 f"max={fmt(max(v))} n={len(v)}")
        print(f"  input {k:<26} {v}")
    if rec.get("table"):
        print(f"  table {json.dumps(rec['table'], sort_keys=True)}")
    checks = [(c["name"], c["ok"], c["detail"]) for c in rec["checks"]]
    checks += [(f"oracle.{n}", ok, d) for n, ok, d in oracle]
    failed_checks = [c for c in checks if not c[1]]
    for name, ok, d in checks:
        if not ok or not name.startswith("oracle."):
            print(f"  check {'PASS' if ok else 'FAIL'} {name}: {d}")
    if oracle:
        print(f"  check oracle: {sum(ok for _, ok, _ in oracle)}/{len(oracle)} gates match")
    for o in rec["ops"]:
        if not o["ok"]:
            print(f"  op FAILED {o['kind']} #{o['i']}: {o['error']}")
    attempted, failed = metrics.failure_count(rec["ops"])
    return per_loop, not failed_checks and failed == 0, attempted, failed


def on_term(signum, _frame):
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, on_term)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    if not (os.path.isfile(os.path.join(REPO, "build.sbt"))
            and os.path.isdir(os.path.join(REPO, "src", "main", "scala"))):
        log(f"library sources not found under {REPO}; run from a full checkout")
        return 2
    t0 = time.monotonic()
    cp, built = build(t0 + BUILD_BUDGET_S)
    deadline = t0 + (BUILD_BUDGET_S if built else RUN_BUDGET_S)

    rec, oracle = run_jvm(cp, a, deadline)
    per_loop, correct, attempted, failed = report(rec, oracle)
    e2e = per_loop[0]
    out = {k: {"value": e2e[k], "unit": unit} for k, unit in E2E_UNITS.items()}
    if a.trace:
        traced = per_loop[-1]
        layers = metrics.per_layer(rec)
        # mean relative change of the three latency medians
        lat = [k for k in E2E_UNITS if k.endswith("_p50_s") and e2e[k] > 0]
        layers["trace.overhead_frac"] = metrics.mean(
            [traced[k] / e2e[k] - 1 for k in lat])
        for name, v in traced.items():
            print(f"  overhead {name:<22} traced-untraced={fmt(v - e2e[name])}")
        n, spill, worst = metrics.coverage(rec)
        print(f"  trace coverage: {n} traced ops; children+self = wall within "
              f"{worst:.3f} ms; {spill} ops with a child span outside the op")
        units = dict(metrics.PER_LAYER)
        for name, v in layers.items():
            print(f"  layer {name:<36} {fmt(v):>12} {units[name]}")
        if rec["workload"] == "analytics":
            for name, v in metrics.gate_layers(rec).items():
                print(f"  layer {name:<36} {fmt(v):>12}")
        out = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
