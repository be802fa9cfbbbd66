"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repo root. It builds the engine and the benchmark harness
(perfbench/build.py), generates the seed's fixtures (perfbench/gen.py),
runs the workload in one JVM (perfbench/src/PerfBench.scala), checks the
outputs, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` attaches listeners and reports the
per-layer metrics. A run measures exactly one unit of work (one chain,
one ingest round) so that every commit's runs measure the same thing;
`--seconds` is the floor that unit is sized to outlast, not a loop
deadline. The line before it is a JSON record describing the
run (seed, source digest, cores, load, CPU calibration, versions).
See perfbench/README.md for the metrics and why each workload exists.
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

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["curation_batch", "daily_ingest"]
SF = 0.01
JVM_TIMEOUT_S = 170
HEAP = "3g"


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def effective_parallelism(threads, n=300000):
    """CPU-spin calibration: serial time of `threads` spins over their
    wall time when run as `threads` processes at once (1.0 per idle core)."""
    code = f"x = 0\nfor i in range({n}): x += i * i"

    def timed(k):
        t0 = time.perf_counter()
        procs = [subprocess.Popen([sys.executable, "-S", "-c", code]) for _ in range(k)]
        for p in procs:
            p.wait()
        return time.perf_counter() - t0
    one, wall = timed(1), timed(threads)
    return {"t1_s": one, "tn_s": wall, "threads": threads,
            "effective": threads * one / wall if wall > 0 else 0.0}


def source_digest(root):
    h = hashlib.sha256()
    for s in build.sources(root):
        h.update(open(s, "rb").read())
    return h.hexdigest()[:16]


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def oracle_check(root, fixtures, verify_dir, names, tmp):
    """tools/check.py over the dump; returns the names that did not pass."""
    p = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"),
                        fixtures, verify_dir], capture_output=True, text=True,
                       timeout=JVM_TIMEOUT_S,
                       env=dict(os.environ, DUCK_MEM="6GB", TMPDIR=tmp))
    passed = {ln.split()[1] for ln in p.stdout.splitlines() if ln.startswith("PASS ")}
    bad = [n for n in names if n not in passed]
    for ln in p.stdout.splitlines():
        if ln.startswith("FAIL "):
            print(ln, file=sys.stderr)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated benchmark still stops (and waits for) the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    for need in ["build.sbt", "src/main/scala", "tools/check.py"]:
        if not os.path.exists(os.path.join(root, need)):
            sys.exit(f"perfbench: {need} missing; run from the root of a graft checkout")
    cp = build.build(root)
    work = os.path.join(root, ".bench_work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return run(a, root, cp, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a, root, cp, work):
    info = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "sf": SF,
            "source_digest": source_digest(root), "git_commit": git_commit(root),
            "nproc": os.cpu_count(), "loadavg_start": loadavg()}
    info["cpu_calibration"] = effective_parallelism(os.cpu_count())
    t0 = time.time()
    fixtures = gen.write(SF, a.seed, os.path.join(work, "fixtures"))
    t1 = time.time()
    n_docs = gen.row_count(SF, "documents")
    out = os.path.join(work, "record.json")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.sql.session.timeZone=UTC"] + build.jvm_opens(root)
           + ["-cp", cp, "graft.perfbench.PerfBench",
              "--workload", a.workload, "--fixtures", fixtures, "--work", work,
              "--seed", str(a.seed), "--trace", str(a.trace), "--out", out])
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            env=dict(os.environ, TMPDIR=os.path.join(work, "tmp")))
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    t2 = time.time()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: workload JVM failed ({rc})")
    with open(out) as f:
        rec = json.load(f)
    ops = [o for o in rec["events"] if o["kind"] == "op" and o["group"].startswith("m-")]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    for o in ops:
        if not o["ok"]:
            print(f"op {o['name']} failed: {o['error']}", file=sys.stderr)
    problems = list(rec.get("verify_failed", []))
    checks = 1
    if "oracle_dir" in rec:
        names = json.load(open(os.path.join(rec["oracle_dir"], "oracle_sql.json")))
        problems += oracle_check(root, fixtures, rec["oracle_dir"], sorted(names),
                                 os.path.join(work, "tmp"))
        checks = len(names)
    for p in problems:
        print(f"check: {p}", file=sys.stderr)
    info["phase_s"] = {"fixtures": t1 - t0, "jvm": t2 - t1, "check": time.time() - t2}
    e2e, lat = metrics.end_to_end(rec, n_docs)
    chosen = metrics.per_layer(rec, lat) if a.trace else e2e
    tail = metrics.supported_tail(lat)
    info.update({k: rec[k] for k in ["spark_version", "jvm", "cores", "setup_s",
                                     "retained_heap_mb", "phase_ms"]})
    # one unit of work per run, whatever --seconds asks for: at sf0.01 a
    # unit outlasts the declared 10 s
    info["seconds"] = a.seconds
    info["measured_s"] = (rec["measure_end"] - rec["measure_start"]) / 1000.0
    info.update({"loadavg_end": loadavg(), "ops": attempted,
                 "latency_samples_s": lat,
                 "latency_tail": {"q": tail[0], "s": tail[1]} if tail else None,
                 "checks_failed": problems,
                 "memo": rec.get("memo"),
                 "steps_s": [[e["group"], e["name"], (e["end"] - e["start"]) / 1000.0]
                             for e in rec["events"] if e["kind"] == "step"],
                 "self_time_ms": metrics.self_times(rec) if a.trace else None,
                 "end_to_end_seen": {k: v[0] for k, v in e2e.items()}})
    print(json.dumps(info))
    print(json.dumps({
        "correct": not problems and failed == 0,
        "attempted": attempted + checks,
        "failed": failed + len(problems),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
