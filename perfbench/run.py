#!/usr/bin/env python3
"""Run one benchmark workload on the engine and print its metrics.

    python3 perfbench/run.py --workload dml --seed 20261017 --seconds 20 --trace 0

Run from the root of a source checkout. The first run compiles the engine
from `src/main/scala` together with the runner in `perfbench/src` (sbt,
offline); later runs reuse the classes while the sources are unchanged.
Each run generates its inputs from the seed, starts one JVM on
`local[<cpus>]` (every core the process may run on), sets up, warms up,
measures a closed loop with one client for `--seconds`, checks every
output, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics; with `--trace 1`
they are the per-layer metrics of the traced run (see perfbench/README.md).
A wrong answer or a failed op makes the exit code non-zero.
"""

import argparse
import hashlib
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("dml", "dedup")
JVM_HEAP = "1g"
# Ops during which the hypervisor took more than this share of the
# machine's CPU time are left out of the timings (see README, "Steal").
STEAL_MAX = 0.03
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = {  # name -> unit
    "setup_s": "s", "op_p50_ms": "ms", "op_p90_ms": "ms", "ops_per_s": "1/s",
    "rows_per_s": "1/s", "write_amp": "ratio", "space_amp": "ratio",
    "live_heap_mb": "MB"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpus():
    n = os.cpu_count() or 1
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    return n


def spark_home():
    """The Spark installation whose jars the engine builds and runs on."""
    home = pathlib.Path(os.environ.get("SPARK_HOME", ""))
    if not os.environ.get("SPARK_HOME") or not (home / "jars").is_dir():
        fail("Spark not found: set SPARK_HOME to a Spark installation")
    return home


def sources():
    files = sorted((ROOT / "src" / "main").rglob("*")) + \
        sorted((HERE / "src").rglob("*")) + [HERE / "build.sbt"]
    return [f for f in files if f.is_file()]


def build():
    """Compile engine + runner into one jar, once per source state, and
    record a class-data-sharing archive of a short run so that every run's
    JVM maps the Spark and engine classes instead of loading them one by
    one. Returns the JVM class-path arguments."""
    if not (ROOT / "src" / "main" / "scala" / "graft" / "Engine.scala").is_file():
        fail("engine sources not found: run from the root of a source checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    target = HERE / "target"
    stamp, jar, jsa = target / "build.stamp", target / "perfbench.jar", target / "perfbench.jsa"
    home = spark_home()
    classpath = ":".join([str(jar)] + sorted(str(p) for p in (home / "jars").glob("*.jar")))
    if not (stamp.is_file() and stamp.read_text() == h.hexdigest()):
        stamp.unlink(missing_ok=True)
        jsa.unlink(missing_ok=True)
        env = dict(os.environ, SPARK_HOME=str(home), COURSIER_MODE="offline", SBT_OPTS=(
            "-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={pathlib.Path.home()}/.sbt/repositories "
            "-Dsbt.offline=true -Xmx2g"))
        t0 = time.time()
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "Compile/packageBin"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0 or not jar.is_file():
            sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
            fail("build failed")
        work = HERE / ".runs" / f"archive-{os.getpid()}"
        try:
            (work / "in").mkdir(parents=True)
            (work / "out").mkdir()
            gen.write_inputs("dml", gen.build("dml", 0, 1), work / "in")
            run_jvm(classpath, work / "in", work / "out", 1, 0, cpus(),
                    [f"-XX:ArchiveClassesAtExit={jsa}"])
        finally:
            shutil.rmtree(work, ignore_errors=True)
        stamp.write_text(h.hexdigest())
        print(f"perfbench: built in {time.time() - t0:.0f}s", file=sys.stderr)
    return classpath, jsa


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "unknown (not a git checkout)"


def run_jvm(classpath, in_dir, out_dir, seconds, trace, n_cpu, jvm_opts):
    tmp = out_dir / "tmp"
    tmp.mkdir(exist_ok=True)
    # C1 only: Spark's driver code does not reach C2 steady state within a
    # window, and C2 compiling beside the ops made op times drift with the
    # machine's speed (five seeds: op_p50 spread 0.29 with C2, 0.10 with C1)
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-XX:TieredStopAtLevel=1", *jvm_opts, f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", str(in_dir), str(out_dir),
            str(seconds), str(trace), str(n_cpu)]
    with open(out_dir / "jvm.log", "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=out_dir)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S - 10 - seconds)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("engine run timed out")
    if rc != 0:
        tail = (out_dir / "jvm.log").read_bytes()[-3000:].decode(errors="replace")
        sys.stderr.write(tail)
        fail(f"engine run exited with {rc}")
    return json.loads((out_dir / "result.json").read_text())


def undisturbed(ops):
    """The ops the host did not slow, per op kind so that every kind keeps
    its place in the mix: those with at most STEAL_MAX steal, or, when
    those are fewer than half of the kind, the half with the least steal."""
    out = []
    for kind in sorted({o["kind"] for o in ops}):
        of_kind = [o for o in ops if o["kind"] == kind]
        calm = [o for o in of_kind if o["steal"] <= STEAL_MAX]
        if 2 * len(calm) < len(of_kind):
            calm = sorted(of_kind, key=lambda o: o["steal"])[:(len(of_kind) + 1) // 2]
        out += calm
    return out


def weights(samples, shares):
    """Each op's weight. With `shares` (op kind -> share of the stream's
    designed mix), an op weighs its kind's share divided by the number of
    ops of that kind the run completed, so the figures describe the
    designed mix whatever part of a round the window happened to end in."""
    if shares is None:
        return [1.0] * len(samples)
    n = {}
    for o in samples:
        n[o["kind"]] = n.get(o["kind"], 0) + 1
    return [shares[o["kind"]] / n[o["kind"]] for o in samples]


def quantile(samples, q, w):
    """Weighted quantile q of the ops' wall times, interpolated between
    the ops' weight midpoints."""
    if not samples:
        return 0.0
    pts = sorted(zip((o["ms"] for o in samples), w))
    total = sum(w)
    cum, mids = 0.0, []
    for x, wi in pts:
        mids.append(((cum + wi / 2) / total, x))
        cum += wi
    if q <= mids[0][0]:
        return mids[0][1]
    for (p0, x0), (p1, x1) in zip(mids, mids[1:]):
        if q <= p1:
            return x0 + (x1 - x0) * (q - p0) / (p1 - p0)
    return mids[-1][1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=gen.DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    n_cpu = cpus()
    classpath, jsa = build()

    runs = HERE / ".runs"
    runs.mkdir(exist_ok=True)
    work = runs / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    in_dir, out_dir = work / "in", work / "out"
    in_dir.mkdir(parents=True)
    out_dir.mkdir()
    try:
        built = gen.build(args.workload, args.seed, args.seconds)
        gen.write_inputs(args.workload, built, in_dir)
        res = run_jvm(classpath, in_dir, out_dir, args.seconds, args.trace, n_cpu,
                      [f"-XX:SharedArchiveFile={jsa}"] if jsa.is_file() else [])
        verdict = check.check(args.workload, args.seed, built, res, out_dir)
    finally:
        if not os.environ.get("PERFBENCH_KEEP"):
            shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    ok = [o for o in ops if "error" not in o]
    if not ok:
        fail(f"no op of {len(ops)} completed: {ops[0]['error'] if ops else 'empty window'}")
    timed = undisturbed(ok)
    w = weights(timed, gen.dml_shares() if args.workload == "dml" else None)
    mean_ms = sum(wi * o["ms"] for wi, o in zip(w, timed)) / sum(w)
    mean_rows = sum(wi * o["rows"] for wi, o in zip(w, timed)) / sum(w)
    failed = sum(1 for o in ops if "error" in o)
    setup_s = res["spark_start_s"] + statistics.median(res["load_s"]) + res["warmup_s"]
    written = res["bytes_written"]
    logical = built["load_bytes"] + verdict["changed_bytes"]
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": quantile(timed, 0.5, w),
        "op_p90_ms": quantile(timed, 0.9, w),
        "ops_per_s": 1000 / mean_ms,
        "rows_per_s": 1000 * mean_rows / mean_ms,
        "write_amp": written / logical,
        "space_amp": res["space_amp"],
        "live_heap_mb": res["heap_mb"],
    }
    info = {"workload": args.workload, "seed": args.seed,
            "cpus": n_cpu,
            "steal_pct": 100 * statistics.median(o["steal"] for o in ok),
            "tables": {t: len(next(iter(c.values())))
                       for t, (_, c) in built["tables"].items()}, "seconds": args.seconds, "trace": args.trace,
            "jvm": res["jvm"], "spark": res["spark"], "commit": git_commit(),
            "ops": len(ops), "timed_ops": len(timed), "warmup_ops": res["warmup_ops"],
            "window_s": res["window_s"],
            "setup": {"spark_start_s": res["spark_start_s"],
                      "load_s": res["load_s"], "warmup_s": res["warmup_s"]},
            "fail_ratio": failed / len(ops),
            "errors": [o["error"] for o in ops if "error" in o][:5],
            "warmup_errors": res["warmup_errors"][:5],
            "end_to_end": e2e}
    mismatches = verdict["mismatches"]
    if res["exhausted"]:
        mismatches.append("op stream exhausted before the window closed")
    if args.trace:
        t = res["trace"]
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in
                   sorted(t["per_op"].items())}
        metrics["trace.overhead_ms"] = {"value": t["overhead_ms"], "unit": "ms"}
        metrics["trace.selfcheck_err_pct"] = {
            "value": 100 * t["selfcheck_max_err"], "unit": "%"}
        info["trace"] = {k: t[k] for k in ("traced_ops", "traced_p50_ms",
                                           "untraced_p50_ms", "overhead_ms")}
        if args.workload == "dml" and t["selfcheck_max_err"] > 0.05:
            mismatches.append(
                f"trace self-check: child self-times miss op wall by "
                f"{100 * t['selfcheck_max_err']:.1f}% (> 5%)")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    correct = not mismatches
    info["mismatches"] = mismatches[:10]
    print(json.dumps(info, sort_keys=True), file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name == "operators.pair_yield":
        return "ratio"
    if name.endswith("_rows") or name.endswith("_pairs") or name == "operators.pairs_out":
        return "rows"
    return "count"


if __name__ == "__main__":
    main()
