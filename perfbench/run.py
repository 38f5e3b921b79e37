#!/usr/bin/env python3
"""graft benchmark: interactive and analytics workloads.

Usage (from the repository root):
    python3 perfbench/run.py --workload interactive|analytics \
        --seed N --seconds S --trace 0|1

Builds the engine and the harness from the checkout's sources (once per
source state), generates the workload's inputs from the seed, runs one
JVM on local[nproc] for the workload, checks every output against an
independent oracle outside the timed region, prints one report line per
metric and, last, one JSON object with the contract's metrics. Build
outputs, inputs and run outputs live under .bench_build/ in the checkout.
See perfbench/README.md for the workloads and the metric-to-layer map.
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
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import oracle  # noqa: E402

# inputs per workload: TPC-H scale factors, and the social graph's users,
# follows, posts and likes
WORKLOADS = {
    "interactive": {"sf": [0.01], "social": (5_000, 50_000, 10_000, 20_000)},
    "analytics": {"sf": [0.001, 0.01]},
}
SETUPS = 3          # set-ups per run; setup_s is their median
REQUESTS = 5000     # generated requests, more than any run completes
DEADLINE_S = 170    # whole-run budget, build excluded

# the session configuration the engine ships (Bench and Verify), plus the
# host-derived parallelism
SESSION_CONF = {
    "spark.app.name": "graft-perfbench",
    "spark.ui.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.codegen.useIdInClassName": "false",
    "spark.sql.codegen.cache.maxEntries": "4096",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
}
ADD_OPENS = [f"java.base/{p}" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala")) + \
        sorted((HERE / "src").rglob("*.scala")) + [HERE / "build.sbt"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    digest = source_hash()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text()
    WORK.mkdir(parents=True, exist_ok=True)
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME must name the Spark install whose jars/ the build uses")
    log = WORK / "build.log"
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=f, stderr=subprocess.STDOUT, timeout=840)
    lines = log.read_text().splitlines()
    if r.returncode != 0:
        fail("build failed:\n" + "\n".join(lines[-30:]))
    cp = [ln for ln in lines if not ln.startswith("[") and "classes" in ln][-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


def host():
    """local[nproc] and a heap of half the host's memory, 2-8 GiB (the
    repository's Tier-1 rule)."""
    nproc = len(os.sched_getaffinity(0))
    gib = 2
    try:
        for ln in open("/proc/meminfo"):
            if ln.startswith("MemTotal:"):
                gib = min(max(int(ln.split()[1]) // 2097152, 2), 8)
    except OSError:
        pass
    return nproc, f"{gib}g"


def inputs(workload, seed):
    """Generates the workload's inputs once per seed. Analytics reads one
    directory per scale factor; interactive reads its single one."""
    spec = WORKLOADS[workload]
    top = WORK / "data" / f"{workload}-seed{seed}"
    dirs = [top / f"sf{sf}" for sf in spec["sf"]]
    if not (top / "DONE").exists():
        shutil.rmtree(top, ignore_errors=True)
        for d, sf in zip(dirs, spec["sf"]):
            d.mkdir(parents=True)
            gen.tpch(d, seed, sf)
        if "social" in spec:
            d = dirs[0]
            n_users, n_follows, n_posts, n_likes = spec["social"]
            gen.social(d, seed, n_users, n_follows, n_posts, n_likes)
            import pyarrow.parquet as pq
            f = pq.read_table(d / "follows.parquet", columns=["src_key", "dst_key"])
            pairs = list(zip(f.column(0).to_pylist(), f.column(1).to_pylist()))
            n_cust = pq.read_metadata(d / "customer.parquet").num_rows
            gen.requests(d, seed, n_cust, n_users, n_posts, pairs, REQUESTS)
        (top / "DONE").write_text("")
    return dirs[0] if "social" in spec else top


def java_cmd(cp):
    """The launcher: java with the host-derived heap and session settings."""
    nproc, heap = host()
    conf = dict(SESSION_CONF)
    conf.update({
        "spark.master": f"local[{nproc}]",
        "spark.sql.shuffle.partitions": str(nproc),
        "spark.default.parallelism": str(nproc),
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    })
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # the throughput collector: on the 4-core reference host it ran the
    # analytics pass 20% faster than G1 with half the run-to-run spread
    cmd = ["java", f"-Xmx{heap}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [f"-D{k}={v}" for k, v in conf.items()] + ["-cp", cp]


def run_jvm(cp, workload, data, out, seconds, trace, budget):
    cmd = java_cmd(cp) + ["graftbench.Main", workload, str(data), str(out),
                          str(seconds), str(trace), str(SETUPS)]
    with open(out / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=WORK, stdout=log, stderr=subprocess.STDOUT)

        def stop(*_):
            p.kill()
            p.wait()
            fail(f"stopped; log in {out / 'jvm.log'}")
        signal.signal(signal.SIGTERM, stop)
        try:
            rc = p.wait(timeout=budget)
        except (subprocess.TimeoutExpired, KeyboardInterrupt):
            stop()
    if rc != 0 or not (out / "result.json").exists():
        tail = (out / "jvm.log").read_text().splitlines()[-40:]
        fail(f"JVM exited with {rc}:\n" + "\n".join(tail))
    return json.loads((out / "result.json").read_text())


def pct(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q / 100 * len(s) + 0.5)) - 1))]


def tail_pct(n):
    """The highest of p50/p90/p99 with at least ten samples beyond it."""
    best = None
    for q in (50, 90, 99):
        if n * (100 - q) / 100 >= 10:
            best = q
    return best


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    started = time.time()
    data = inputs(a.workload, a.seed)
    out = WORK / "out" / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    shutil.rmtree(WORK / "spark-local", ignore_errors=True)
    t_jvm = time.time()
    res = run_jvm(cp, a.workload, data, out, a.seconds, a.trace,
                  DEADLINE_S - (time.time() - started))
    t_check = time.time()

    # correctness, outside the timed region
    ops = res["ops"]
    failed = {o["i"] for o in ops if o["error"]}
    problems = [f"{o['op']}#{o['i']}: {o['error']}" for o in ops if o["error"]]
    if a.workload == "interactive":
        reqs = gen.read_requests(data / "requests.tsv")
        wrong, bad_store = oracle.check_interactive(data, out, reqs)
        failed |= set(wrong)
        problems += [f"wrong answer to request {i}" for i in wrong]
        problems += [f"final {n} differs from the replay" for n in bad_store]
        attempted = len(ops) + 1          # + the final-store check
        n_failed = len(failed) + (1 if bad_store else 0)
    else:
        first = {}
        for o in ops:
            first.setdefault(o["op"], o["i"])
        bad = oracle.check_gates(out, list(first))
        failed |= {first[g] for g in bad}
        problems += [f"{g}: {m}" for g, m in bad.items()]
        attempted, n_failed = len(ops), len(failed)

    reads = [o["ms"] for o in ops if not o["write"] and not o["error"]]
    writes = [o["ms"] for o in ops if o["write"] and not o["error"]]
    if a.workload == "interactive":
        cycle = len(gen.CYCLE)
        walls = [sum(o["ms"] for o in ops[k:k + cycle]) / 1000
                 for k in range(0, len(ops) - cycle + 1, cycle)]
    else:
        walls = res["pass_s"]
    e2e = {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "wall_s": (statistics.median(walls) if walls else float("nan"), "s"),
        "ops_per_s": ((len(ops) - n_failed) / res["timed_s"], "1/s"),
        "read_p50_ms": (statistics.median(reads) if reads else float("nan"), "ms"),
        "retained_mb": (res["retained_mb"], "MB"),
    }
    # reported beside the contract metrics, not bounded by it
    extra = {"failed_frac": (n_failed / max(attempted, 1), "ratio")}
    q = tail_pct(len(reads))
    if q and q > 50:
        extra[f"read_p{q}_ms"] = (pct(reads, q), "ms")
    if writes:
        extra["write_p50_ms"] = (statistics.median(writes), "ms")
    layers = {k: tuple(v) for k, v in res["layers"].items()}

    for p in problems[:20]:
        print(f"FAIL {p}")
    print(f"samples: {len(ops)} ops ({len(reads)} reads ok, {len(writes)} writes ok), "
          f"{len(walls)} passes, {len(res['setup_s'])} set-ups, "
          f"timed {res['timed_s']:.2f} s; inputs {t_jvm - started:.1f} s, "
          f"JVM {t_check - t_jvm:.1f} s, checks {time.time() - t_check:.1f} s")
    for name, (v, unit) in list(e2e.items()) + list(extra.items()) + list(layers.items()):
        print(f"metric {name} {v:.6g} {unit}")
    # the final JSON carries the metrics BENCHMARK.json names: end-to-end
    # untraced, per-layer traced
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = {m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    shown = layers if a.trace else e2e
    print(json.dumps({
        "correct": n_failed == 0,
        "attempted": attempted,
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()
                    if k in names},
    }))


if __name__ == "__main__":
    main()
