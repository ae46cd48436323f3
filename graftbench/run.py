#!/usr/bin/env python3
"""graft benchmark: one closed-loop client per workload.

    python3 graftbench/run.py --workload <warehouse|corpus> --seed N \
        --seconds S --trace <0|1> [--scale SF]

Builds graft and the harness from source when they changed
(graftbench/build.sh), generates the tables (once per scale factor) and
the seed's operation plan, runs the harness in one JVM
(`local[nproc]`), checks every output
outside the timed section, and prints one JSON object as the last line
of stdout: the end-to-end metrics with --trace 0, the per-layer split
with --trace 1. A provenance line precedes it. Exits non-zero without a
result when the program cannot be built or run.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(REPO, ".bench_build", "graftbench")
CHECK_TOOL = os.path.join(REPO, "tools", "check.py")
# the driver heap graft runs with (build.sbt's javaOptions)
HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")
DEADLINE_S = 170
JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s")]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def build():
    """Compile when any source changed; return the class directory."""
    sources = [os.path.join(HERE, "build.sh")]
    for base in (os.path.join(REPO, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            sources += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    h = hashlib.sha256()
    for f in sorted(sources):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes, stamp = os.path.join(BUILD, "classes"), os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    log("building graft and the harness")
    os.makedirs(BUILD, exist_ok=True)
    subprocess.run(["bash", os.path.join(HERE, "build.sh"), classes],
                   check=True, stdout=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classes


class LoadSampler(threading.Thread):
    """1-minute load average at start and its maximum during the run,
    and the CPU time the hypervisor stole from this machine meanwhile."""

    def __init__(self):
        super().__init__(daemon=True)
        self.start_load = self.max_load = os.getloadavg()[0]
        self.steal0 = steal_s()
        self.done = threading.Event()

    def run(self):
        while not self.done.wait(1.0):
            self.max_load = max(self.max_load, os.getloadavg()[0])


def steal_s():
    """Stolen CPU seconds since boot, summed over CPUs (0 if unknown)."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def git_commit():
    try:
        return subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(classes, workload, data_dir, plan_file, work, seconds, trace, deadline):
    cores = os.cpu_count()
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    with open(os.path.join(classes, "SPARK_JARS")) as fh:
        jars = fh.read().strip()
    cmd = (["java", f"-Xmx{HEAP}", *JDK17_OPENS, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
            "-cp", f"{classes}:{jars}", "graftbench.Harness",
            workload, data_dir, plan_file, work, str(seconds), str(trace),
            str(gen.WARMUP_PASSES[workload]), str(gen.MIN_PASSES[workload])])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as errf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=errf, stderr=errf)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"harness exited with {rc}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, help="scale factor (default: the workload's)")
    a = ap.parse_args()
    sf = a.scale or gen.SCALE[a.workload]
    deadline = time.time() + DEADLINE_S
    load = LoadSampler()
    load.start()

    classes = build()
    # the program's own build counts against the first run only
    deadline = max(deadline, time.time() + DEADLINE_S - 20)
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data_dir = gen.ensure_tables(BUILD, sf)
        ops = gen.plan(a.workload, sf, data_dir, work, a.seed)
        plan_file = os.path.join(work, "plan.tsv")
        with open(plan_file, "w") as fh:
            fh.writelines("\t".join(map(str, o)) + "\n" for o in ops)
        t_jvm = time.time()
        res = run_jvm(classes, a.workload, data_dir, plan_file, work,
                      a.seconds, a.trace, deadline)
        t_check = time.time()
        records = res["ops"]
        args = {(o[0], o[2]): o[3] for o in ops}
        for r in records:
            r["arg"] = args[(r["pass"], r["name"])]
            if r["kind"] in ("append", "merge"):
                r["bytes"] = os.path.getsize(r["arg"])
        wrong = check.check_outputs(CHECK_TOOL, data_dir, work, ops, records)
        log(f"harness {t_check - t_jvm:.1f} s, check {time.time() - t_check:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load.done.set()

    failed = sum(not r["ok"] for r in records)
    passes = len(res["pass_wall_s"])
    if a.trace:
        metrics = layer_metrics(a.workload, res, records, passes)
    else:
        values = {
            "setup_s": res["setup_s"],
            "wall_s": statistics.median(res["pass_wall_s"]),
            "cpu_s": statistics.median(res["pass_cpu_s"]),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"provenance": {
        "workload": a.workload, "seed": a.seed, "scale_factor": sf,
        "nproc": os.cpu_count(), "cores_used": res["cores"], "heap_mb": res["heap_mb"],
        "git_commit": git_commit(), "loadavg_start": load.start_load,
        "loadavg_max": load.max_load, "steal_s": steal_s() - load.steal0,
        "passes": passes, "ops": len(records),
        "setup_s": res["setup_s"], "pass_wall_s": res["pass_wall_s"],
        "op_latency_s": [[r["name"], round(r["latency_s"], 3)] for r in records],
        "wrong_outputs": wrong}}))
    print(json.dumps({"correct": wrong == 0, "attempted": len(records),
                      "failed": failed + wrong, "metrics": metrics}))


def layer_metrics(workload, res, records, passes):
    lay = dict(res["layers"])
    mb = 1048576.0
    timed = [r for r in records if r["ok"] and r["pass"] > gen.WARMUP_PASSES[workload]]
    writes = [r for r in timed if r["kind"] in ("append", "merge", "delete", "compact")]
    reads = [r for r in timed if r["kind"] == "scan"]
    submitted = sum(r.get("bytes", 0) for r in writes)
    lay["sources.commit_p50_s"] = statistics.median([r["latency_s"] for r in writes]) if writes else 0.0
    lay["sources.scan_p50_s"] = statistics.median([r["latency_s"] for r in reads]) if reads else 0.0
    lay["sources.write_amp"] = (lay["sources.bytes_written_mb"] * passes * mb / submitted
                                if submitted else 0.0)
    lay["trace.wall_s"] = statistics.median(res["pass_wall_s"])
    lay["process.peak_rss_mb"] = res["peak_rss_mb"]
    return {k: {"value": lay.get(k, 0.0), "unit": u} for k, u in layer_units()}


def layer_units():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)["per_layer"]]


if __name__ == "__main__":
    try:
        main()
    except Exception:  # no result line on failure
        import traceback
        log("failed:\n" + traceback.format_exc())
        sys.exit(1)
