#!/usr/bin/env python3
"""The repository benchmark: the paper's three product surfaces as workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload daily_history --seed 1 --seconds 8 --trace 0

It builds the engine and the harness from source (sbt, once per source
state), generates the workload's inputs from the seed under ``tmp/``,
starts one JVM (``local[nproc]``, one closed-loop client) that sets up,
warms up and then runs the workload for ``--seconds``, checks every output
against its oracle, and prints the metrics. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The exit code is 0 only when every check
passed. See README.md in this directory for the workloads and metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

TMP = os.path.join(ROOT, "tmp", "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 170  # the whole invocation, the first build excepted

WORKLOADS = ("daily_history", "weekly_palette", "post_store")
WARMUP_RUNS = 3
READS_PER_RUN = 25
# Input sizes (see README.md, "Inputs and sizing").
LAKE = {"n_users": 20, "posts_per_user": 8, "days": 4}
STORE = {"n_users": 9, "posts_per_user": 8}

END_TO_END = (("setup_s", "s"), ("run_s", "s"), ("heap_live_mb", "MB"),
              ("read_p50_ms", "ms"), ("read_p80_ms", "ms"))

JDK_OPENS = ("java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def die_with_parent():
    """In a child: be killed when this script dies, however it dies."""
    try:
        import ctypes
        ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    except OSError:
        pass


def sources_digest():
    """Digest of everything the build compiles, to rebuild only on change."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp, encoding="utf-8") as f:
            cached = json.load(f)
        if cached["digest"] == digest:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log("building the engine and the harness with sbt ...")
    t0 = time.time()
    # offline, from the local caches, as the tier-1 build does
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx4g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840,
        preexec_fn=die_with_parent)
    with open(os.path.join(BUILD, "build.log"), "w", encoding="utf-8") as f:
        f.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines()
             if not ln.startswith("[") and ".jar" in ln and os.pathsep in ln]
    if proc.returncode != 0 or not lines:
        log(proc.stdout[-3000:])
        raise SystemExit("build failed")
    classpath = lines[-1].strip()
    with open(stamp, "w", encoding="utf-8") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    log(f"built in {time.time() - t0:.1f} s")
    return classpath


def prepare_inputs(workload, seed):
    """Generate (or reuse) this seed's inputs; the JVM adds the images."""
    h = hashlib.sha256(json.dumps([LAKE, STORE]).encode())
    for p in ("gen.py", "src/main/scala/perfbench/Images.scala"):
        with open(os.path.join(HERE, p), "rb") as f:
            h.update(f.read())
    d = os.path.join(TMP, "inputs", workload, f"seed{seed}-{h.hexdigest()[:8]}")
    marker = os.path.join(d, ".generated")
    if os.path.exists(marker):
        return d
    shutil.rmtree(d, ignore_errors=True)
    if workload == "daily_history":
        gen.make_lake(os.path.join(d, "lake"), seed, **LAKE)
        gen.make_staging_color(os.path.join(d, "staging_color"), seed, LAKE["n_users"])
    elif workload == "post_store":
        gen.make_lake(os.path.join(d, "store"), seed, days=0, stats=False, **STORE)
    os.makedirs(d, exist_ok=True)
    open(marker, "w").close()
    return d


def heap_gb():
    """Driver heap from MemTotal: half of it, within 2 to 8 GB."""
    try:
        with open("/proc/meminfo", encoding="ascii") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def run_harness(classpath, workload, inputs, out, seconds, trace, seed, budget_s):
    jtmp = os.path.join(TMP, "jvm-tmp", workload)
    for d in (out, jtmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cmd = ["java", f"-Xmx{heap_gb()}g"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={jtmp}", f"-Dspark.local.dir={jtmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(jtmp, 'warehouse')}",
            f"-Dderby.system.home={jtmp}",
            "-cp", classpath, "perfbench.Harness", workload, inputs, out, str(seconds),
            "1" if trace else "0", str(WARMUP_RUNS), str(READS_PER_RUN), str(seed)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1))
    env.pop("SPARK_GRAFT_MASTER", None)
    with open(os.path.join(out, "harness.log"), "w", encoding="utf-8") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                preexec_fn=die_with_parent)
        try:
            code = proc.wait(timeout=max(10, budget_s))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"harness ran past {budget_s:.0f} s; see {out}/harness.log")
    if code != 0:
        with open(os.path.join(out, "harness.log"), encoding="utf-8") as f:
            log(f.read()[-4000:])
        raise SystemExit(f"harness exited with {code}")
    with open(os.path.join(out, "result.json"), encoding="utf-8") as f:
        return json.load(f)


def oracle_checks(workload, inputs, out):
    if workload == "daily_history":
        return oracle.check_history(os.path.join(inputs, "lake"), os.path.join(inputs, "staging_color"),
                                    os.path.join(out, "history"))
    if workload == "post_store":
        return oracle.check_searches(os.path.join(out, "snapshot"), os.path.join(out, "searches.json"))
    return oracle.check_palettes(os.path.join(out, "palette_expected.json"), os.path.join(out, "staging_color"))


def percentile(values, q):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("the engine's sources (build.sbt, src/main/scala) are not in this checkout")
    classpath = build()
    start_after_build = time.time()
    inputs = prepare_inputs(a.workload, a.seed)
    out = os.path.join(TMP, "out", a.workload)
    r = run_harness(classpath, a.workload, inputs, out, a.seconds, a.trace, a.seed,
                    DEADLINE_S - (time.time() - start_after_build) - 10)

    wrong = oracle_checks(a.workload, inputs, out)
    attempted = int(r["attempted"])
    failed = int(r["failed"]) + len(wrong)
    for f in list(r["failures"]) + wrong:
        log(f"CHECK FAILED: {f}")

    if a.trace:
        with open(os.path.join(out, "trace.json"), encoding="utf-8") as f:
            trace = json.load(f)
        values, spans = layers.layer_metrics(trace, r["run_s"], r["traced_run_s"], r["foreign_cpu_share"])
        layers.write_spans(spans, os.path.join(out, "spans.json"))
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in layers.metric_units()}
    else:
        values = {
            "setup_s": r["setup_s"],
            "run_s": statistics.median(r["run_s"]),
            "heap_live_mb": statistics.median(r["heap_mb"]),
            "read_p50_ms": statistics.median(r["read_ms"]),
            "read_p80_ms": percentile(r["read_ms"], 0.8),
        }
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}
    print(f"# workload {a.workload} seed {a.seed}: {len(r['run_s'])} untraced and "
          f"{len(r['traced_run_s'])} traced runs, {len(r['read_ms'])} reads, "
          f"foreign cpu share {r['foreign_cpu_share']:.3f}, inputs generated in {r['input_gen_s']:.1f} s")
    for name, m in metrics.items():
        print(f"# {name:48s} {m['value']:14.4f} {m['unit']}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
