#!/usr/bin/env python3
"""End-to-end crawl and curation benchmark.

Runs one workload through the program's public entry points (CrawlMain for
the crawls, SparkEntry.queries with the noop sink for the operator library)
as a closed loop of one client on local[nproc], checks every output, and
prints each metric by name with its unit. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 1 the
metrics are the per-layer breakdown of BENCHMARK.json instead of the
end-to-end set. Exits non-zero when any output fails its check.

Usage:
  python3 perfbench/run.py --workload crawl_jsonl|curation_queries
                           [--seed N] [--seconds S] [--trace 0|1]
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave nothing behind in perfbench/
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import checks  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap_gb():
    """A quarter of MemTotal, clamped to 2..8 GB: the box is shared."""
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return max(2, min(8, kb // (4 * 1024 * 1024)))


def steal_ticks():
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def run_harness(args, run_dir, cores, heap):
    classpath = build.build()
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"),
               SPARK_GRAFT_CPUS=str(cores))
    cmd = (["java", f"-Xms{heap}g", f"-Xmx{heap}g", "-XX:+UseParallelGC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness", args.workload, str(args.seed),
              str(args.seconds), str(args.trace), str(run_dir), str(run_dir / "result.json")])
    log = run_dir / "jvm.log"
    with open(log, "wb") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not (run_dir / "result.json").exists():
        tail = log.read_text(errors="replace").splitlines()[-40:]
        raise RuntimeError(f"harness exited with {rc}:\n" + "\n".join(tail))
    return json.loads((run_dir / "result.json").read_text())


def end_to_end(res):
    iters = res["iterations"]
    med = statistics.median
    setup = res["setup"]
    return {
        "setup_s": setup["jvm_to_main_s"] + med(setup["session_s"]) + setup["warmup_s"],
        "wall_s": med([i["wall_s"] for i in iters]),
        "items_per_s": med([i["items"] / i["wall_s"] for i in iters]),
        "cpu_s": med([i["cpu_s"] for i in iters]),
        "peak_rss_mb": res["peak_rss_mb"],
        "disk_bytes_per_item": med([i["disk_bytes"] / max(i["items"], 1) for i in iters]),
    }


ITEM = {"crawl_jsonl": "domain", "curation_queries": "doc"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(checks.GATES))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    golden = json.loads((ROOT / "perfbench" / "golden.json").read_text())
    cores = len(os.sched_getaffinity(0))
    heap = heap_gb()
    run_dir = ROOT / ".bench_build" / "run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    steal0, t0 = steal_ticks(), time.time()
    try:
        res = run_harness(args, run_dir, cores, heap)
        failed, attempted, problems = checks.GATES[args.workload](res, golden)
    except (build.BuildError, RuntimeError) as e:
        sys.exit(f"perfbench: {e}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    steal = steal_ticks() - steal0

    metric_specs = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res["layers"] if args.trace else end_to_end(res)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in metric_specs}

    item = ITEM[args.workload]
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} cpus={cores} "
          f"heap={heap}g calls={len(res['iterations'])} steal_ticks={steal} "
          f"run_s={time.time() - t0:.1f}")
    for name, m in metrics.items():
        alias = name.replace("item", item)
        print(f"{alias:40s} {m['value']:.6g} {m['unit']}")
    print(f"{'fail_ratio':40s} {failed / attempted:.6g} ratio")
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
