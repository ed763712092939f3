#!/usr/bin/env python3
"""Run one benchmark workload of graft and print its result line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload nightly|refresh|catalog --seed N
                           [--seconds S] [--trace 0|1]

The first run in a checkout builds the program and the harness with sbt
(offline) into the checkout. Each run then makes its inputs with
gen_data.py, starts one JVM (two for `nightly`: yesterday's run, then
tonight's), answers the JVM's check requests with DuckDB (checks.py) and
prints, as its last line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. Each run also appends a record with
/proc/loadavg before and after to .bench_build/runs.jsonl (steadiness.py
reads it) and, when traced, writes its spans and counters as JSONL to
.bench_build/traces/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

WORKLOADS = ("nightly", "refresh", "catalog")
SCALE = 0.01        # documented bench scale of gen_data.py
DATA_SEED = 42      # the base tables are the same for every run
CORES = 4
HEAP = "3g"
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# Checks that fail on every run because of a named fault in the program
# (README, "Named faults"). Any other failed check makes `correct` false.
KNOWN_FAULTS = {
    "refresh": [r"star_read: \d+ of \d+ fact rows find no dim_cliente row"],
    "nightly": [r"\w+: an identical re-run changed the table \(\d+ -> \d+ rows\)"],
    "catalog": [],
}

# (metric, unit) of the result line
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_s", "s"),
              ("op_tail_s", "s"), ("cpu_s", "s"), ("written_mb", "MB"),
              ("heap_peak_mb", "MB")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


# ---------------------------------------------------------------- build
def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    return env


def build():
    """Compile program + harness once per source state; returns the
    runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                           stderr=out, text=True, timeout=840)
    out_lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not out_lines:
        sys.stderr.write(p.stdout[-4000:])
        die(f"build failed (see {log})")
    cp = out_lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ------------------------------------------------------------ the JVM side
class Jvm:
    """One harness process and its check channel."""

    def __init__(self, cp, work, argv, on_check):
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = (["java", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
                f"-Dderby.system.home={work}"] +
               [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-cp", cp, "graft.bench.Harness"] + argv)
        self.log_path = os.path.join(work, "jvm.log")
        self.log = open(self.log_path, "a")
        self.on_check = on_check
        self.ready_at = None
        self.result = None
        self.proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.log,
                                     text=True, bufsize=1)

    def wait(self, timeout):
        deadline = time.time() + timeout
        try:
            for line in self.proc.stdout:
                if time.time() > deadline:
                    raise TimeoutError("harness timed out")
                if not line.startswith("@@perfbench "):
                    continue
                _, kind, payload = line.rstrip("\n").split(" ", 2)
                if kind == "ready":
                    self.ready_at = time.time()
                elif kind == "check":
                    failed = self.on_check(json.loads(payload))
                    self.proc.stdin.write(json.dumps(failed) + "\n")
                    self.proc.stdin.flush()
                elif kind == "result":
                    self.result = json.loads(payload)
            code = self.proc.wait(timeout=max(1, deadline - time.time()))
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
                self.proc.wait()
            self.log.close()
        if code != 0:
            with open(self.log_path) as f:
                tail = f.read()[-3000:]
            die(f"harness exited with {code}:\n{tail}")
        return self.result


# --------------------------------------------------------------- metrics
def tail_percentile(n):
    """Highest whole percentile with at least 10 samples beyond it."""
    p = 99
    while p > 0 and n * (100 - p) / 100.0 < 10:
        p -= 1
    return p


def around(v, p):
    """Percentile p of `v`, read as the mean of the samples within five
    percentile points of it. Operation times come in clusters (catalog
    queries near 65 ms and near 72 ms), and a single order statistic
    flipped between neighbouring clusters from run to run."""
    s = sorted(v)
    lo = max(0, int(len(s) * (p - 5) / 100))
    hi = min(len(s), max(lo + 1, -(-len(s) * (p + 5) // 100)))
    return statistics.fmean(s[lo:hi])


PER_LAYER_FROM_PROBE = {
    "spark.plan_s": "plan_s", "spark.dispatch_gap_s": "dispatch_gap_s",
    "spark.jobs": "jobs", "spark.stages": "stages", "spark.tasks": "tasks",
    "spark.task_s": "task_s", "spark.task_cpu_s": "task_cpu_s",
    "spark.gc_s": "gc_task_s", "spark.codegen_s": "codegen_s",
    "spark.codegen_classes": "codegen_classes", "jvm.jit_s": "jit_s",
    "jvm.gc_s": "jvm_gc_s", "streaming.batches": "stream_batches",
    "streaming.batch_p50_s": "batch_p50_s", "streaming.state_rows": "state_rows",
}
PER_LAYER_MB = {"spark.shuffle_write_mb": "shuffle_write",
                "spark.shuffle_read_mb": "shuffle_read",
                "spark.spill_mb": "spill", "spark.output_mb": "output"}


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def metrics_of(res, setup_s, traced):
    layers = res["layers"]
    rounds = max(1, len(res["round_walls"]))
    if not traced:
        t = res["timings"]
        vals = {
            "setup_s": setup_s,
            "wall_s": statistics.median(res["round_walls"]),
            "op_p50_s": around(t, 50),
            "op_tail_s": around(t, tail_percentile(len(t))),
            "cpu_s": layers["probe.cpu_s"] / rounds,
            "written_mb": layers["probe.written"] / rounds / 1048576.0,
            "heap_peak_mb": layers["probe.heap_peak_mb"],
        }
        return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END}
    vals = {k: layers.get(f"probe.{v}", 0.0) for k, v in PER_LAYER_FROM_PROBE.items()}
    vals.update({k: layers.get(f"probe.{v}", 0.0) / 1048576.0 for k, v in PER_LAYER_MB.items()})
    wall = layers.get("probe.wall_s", 0.0)
    vals["spark.parallelism"] = vals["spark.task_s"] / wall if wall else 0.0
    vals.update({k: v for k, v in layers.items() if not k.startswith("probe.")})
    out = {k: {"value": vals.get(k, 0.0), "unit": u} for k, u in per_layer_names()}
    # layers only nightly reports (it is not in BENCHMARK.json)
    out.update({k: {"value": v, "unit": "s"} for k, v in layers.items()
                if not k.startswith("probe.") and k not in out})
    return out


# ------------------------------------------------------------------ main
def main():
    ap = argparse.ArgumentParser(description="graft lake benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()
    # a terminated run still stops its JVM and moves its work directory aside
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("the program's sources (build.sbt, src/main/scala/graft) are not in this checkout")
    cp = build()

    import checks
    load0 = loadavg()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        data = os.path.join(work, "data")
        import gen_data
        gen_data.generate(data, SCALE, DATA_SEED)
        con = checks.connect(data)
        fps = {}

        check_s = [0.0]

        def on_check(req):
            t = time.time()
            try:
                return answer(req)
            finally:
                check_s[0] += time.time() - t

        def answer(req):
            kind = req["kind"]
            if kind == "catalog":
                return checks.check_catalog(con, req, fps.setdefault(kind, checks.load_fingerprints(kind)))
            if kind == "nightly":
                return checks.check_nightly(con, req, fps.setdefault(kind, checks.load_fingerprints(kind)))
            if kind == "refresh":
                return checks.check_refresh(con, req)
            if kind == "same":
                return checks.check_same(con, req)
            raise ValueError(kind)

        argv = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data, "--work", work, "--cores", str(CORES)]
        if a.workload == "nightly":
            Jvm(cp, work, argv + ["--phase", "yesterday"], on_check).wait(170)
        jvm = Jvm(cp, work, argv, on_check)
        res = jvm.wait(175 - (time.time() - t0))
        if res is None or jvm.ready_at is None:
            die("harness ended without a result")
        setup_s = jvm.ready_at - t0
        if a.trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "trace.jsonl"), os.path.join(
                BUILD, "traces", f"{a.workload}-{a.seed}.jsonl"))
    finally:
        # Deleting a run's ~1,000 files and directories takes 7-10 s on the
        # reference disk (each rmdir ~16 ms), longer than some workloads'
        # measured part; the work directory moves aside in one rename and
        # stays until .bench_build/ is removed.
        trash = os.path.join(BUILD, "trash")
        os.makedirs(trash, exist_ok=True)
        os.rename(work, os.path.join(trash, os.path.basename(work)))

    failed_ops = res["failed_ops"]
    unexpected = [c for o in failed_ops for c in o["checks"]
                  if not any(re.fullmatch(k, c) for k in KNOWN_FAULTS[a.workload])]
    out = {"correct": not unexpected, "attempted": int(res["attempted"]),
           "failed": len(failed_ops), "metrics": metrics_of(res, setup_s, bool(a.trace))}
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "set": os.environ.get("PERFBENCH_SET"),
              "time": time.strftime("%Y-%m-%dT%H:%M:%S"), "loadavg_before": load0,
              "loadavg_after": loadavg(), "attempted": out["attempted"],
              "failed": out["failed"],
              "failed_checks": sorted({c for o in failed_ops for c in o["checks"]}),
              "round_walls": res["round_walls"], "check_s": check_s[0],
              "run_s": time.time() - t0, "timings": sorted(res["timings"]),
              "metrics": {k: v["value"] for k, v in out["metrics"].items()}}
    if a.trace:  # the traced run's own end-to-end figures give the tracing overhead
        record["end_to_end"] = {k: v["value"] for k, v in metrics_of(res, setup_s, False).items()}
    with open(os.path.join(BUILD, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    for c in record["failed_checks"]:
        print(f"failed check: {c}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
