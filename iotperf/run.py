#!/usr/bin/env python3
"""IoT database benchmark: one run of one workload.

    python3 iotperf/run.py --workload <iot_ingest|live_views|dashboard>
        --seed <n> --seconds <s> --trace <0|1> [--slots <n>]

Run from the repository root. The first run builds the engine and the
harness from source with sbt (the engine's own build, see build.sbt here);
later runs reuse the build while no source changed. The harness runs in
its own JVM; everything it writes stays under .bench_build/ and is removed
when the run ends.

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`).
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

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

BUILD_DIR = os.path.join(".bench_build", "iotperf")
BUILD_BUDGET_S = 840
RUN_BUDGET_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories")
            + " -Dsbt.offline=true -Xmx2g")


def fail(msg, code=2):
    print(f"iotperf: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the build reads: the engine's build and main sources and
    the harness's."""
    out = []
    for top in ("build.sbt", "project", "src/main",
                "iotperf/build.sbt", "iotperf/project", "iotperf/src"):
        p = os.path.join(root, top)
        if os.path.isfile(p):
            out.append(top)
        for d, dirs, files in os.walk(p):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            out += [os.path.relpath(os.path.join(d, f), root) for f in files]
    return sorted(set(out))


def build(root):
    """Compile engine + harness unless an identical build exists; returns
    the runtime classpath."""
    stamp = hashlib.sha256()
    for rel in source_files(root):
        stamp.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            stamp.update(hashlib.sha256(f.read()).digest())
    stamp = stamp.hexdigest()
    bdir = os.path.join(root, BUILD_DIR)
    stamp_file, cp_file = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", SBT_OPTS)
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "iotperf"), env=env, stdout=out,
            stderr=subprocess.STDOUT, timeout=BUILD_BUDGET_S)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [ln for ln in lines if not ln.startswith("[") and "classes" in ln]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed (log above)", 3)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def run_jvm(root, cp, args, slots, work, budget_s):
    out = os.path.join(work, "record.json")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "iotperf.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--slots", str(slots), "--work", work, "--out", out])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=log,
                         text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    deadline = time.monotonic() + budget_s
    try:
        for line in p.stdout:
            print(line.rstrip(), flush=True)
        p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            log.close()
            fail(f"harness exceeded its {budget_s:.0f} s budget", 4)
        log.close()
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited with code {p.returncode}", 5)
    with open(out) as f:
        return json.load(f)


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, from /proc/stat; None
    where that file does not exist."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return None


def default_slots():
    """One task slot fewer than the host's CPUs: the driver, the engine's
    staging thread and the client loop get a core of their own."""
    n = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    return max(1, n - 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["iot_ingest", "live_views", "dashboard"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--slots", type=int, default=None,
                    help="Spark task slots (default: CPUs - 1)")
    args = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the repository root: the engine's build.sbt and "
             "src/main/scala/graft are needed to build it")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp = build(root)
    started = time.monotonic()
    slots = args.slots or default_slots()
    work = os.path.join(root, BUILD_DIR, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    ticks0 = cpu_ticks()
    try:
        raw = run_jvm(root, cp, args, slots, work, RUN_BUDGET_S - (time.monotonic() - started))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ticks1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests while the run was going:
    # runs taken during a burst of it are slower for reasons outside the code
    steal = (None if not (ticks0 and ticks1) or ticks1[1] == ticks0[1]
             else round((ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]), 4))

    e2e, attempted, failed = metrics.end_to_end(raw)
    ops = [o for o in raw["ops"] if not o["discard"] and o["ok"]]
    lat = [o["wall_ms"] for o in ops]
    p90 = metrics.percentile(lat, 90)
    print("iotperf samples " + json.dumps({
        "op_ms_samples": len(lat),
        "op_ms": [round(x, 1) for x in lat],
        "op_ms_p90": p90 if p90 is not None else "n/a: fewer than 100 timed ops",
        "by_kind_p50_ms": {k: metrics.median([o["wall_ms"] for o in ops if o["kind"] == k])
                           for k in sorted({o["kind"] for o in ops})},
        "failed_ops_frac": failed / attempted,
        "phase_s": raw["phase_s"],
        "host_steal_frac": steal,
        "errors": raw["errors"]}))
    if args.trace:
        chosen = metrics.per_layer(raw)
        print("iotperf spans " + json.dumps({k: {x: round(y, 3) for x, y in v.items()}
                                            for k, v in metrics.span_summary(raw).items()}))
    else:
        chosen = e2e
    # an op that failed or ran out of its budget makes the run incorrect:
    # its time still counts in the wall time, so leaving it out of the
    # latencies alone would read as a gain
    if failed:
        print(f"iotperf: {failed} of {attempted} timed ops failed", file=sys.stderr)
    result = {
        "correct": bool(raw["correct"]) and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
