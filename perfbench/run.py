#!/usr/bin/env python3
"""Benchmark entry point.

One run, from the root of a checkout:

    python3 perfbench/run.py --workload headline_sf0.01 --seed 3 --seconds 10 --trace 0

generates the seed's inputs under ``perfbench/.work/data`` (once per
seed; not timed), starts the measured process (``worker.py``) with its
Spark scratch and temp dirs inside ``perfbench/.work``, samples the
RSS of its process tree, waits for every process it started, and
prints each metric as ``name = value unit`` and then, as the last
line, one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json, ``--trace 1`` its per-layer metrics. A run in which
an op raised or failed its check exits with code 1.

Every workload, untraced and traced, with the tracing overhead and
the per-op failure report:

    python3 perfbench/run.py --all [--seed N] [--seconds S]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKER_TIMEOUT_S = 160
sys.path.insert(0, HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def program_present() -> bool:
    return all(
        os.path.exists(os.path.join(ROOT, p))
        for p in ("football_etl_spark/plans/queries.py", "bench.py", "tests/oracle_harness.py")
    )


def ensure_inputs(workload: str, seed: int) -> str:
    """Generate the seed's inputs once; later runs reuse them."""
    import gen

    kind, make = ("tables", gen.replicate_tables) if workload.startswith("headline") else ("football", gen.gen_football)
    out = os.path.join(WORK, "data", f"{kind}-{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    make(tmp, seed)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(root: int) -> dict[int, int]:
    """pid -> parent pid of ``root`` and all its descendants."""
    kids = _children()
    out, todo = {root: 0}, [root]
    while todo:
        p = todo.pop()
        for k in kids.get(p, []):
            out[k] = p
            todo.append(k)
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between forked processes
    (the Python workers) are split between them, not counted in each."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _footprint(tree: dict[int, int]) -> int:
    """Resident memory of a process tree. A JVM's child that is still
    the JVM executable is the short-lived fork of a helper spawn and
    shares the JVM's memory, so it is not counted again."""
    exe = {p: _exe(p) for p in tree}
    return sum(
        _pss_bytes(p)
        for p, parent in tree.items()
        if not (exe[p] and exe[p] == exe.get(parent) and exe[p].endswith("/java"))
    )


class TreeSampler(threading.Thread):
    """Remembers every pid of a process tree (the worker, its JVM and
    the JVM's Python workers) and, when ``memory`` is set, samples the
    tree's resident memory until ``stop_file`` appears (the end of the
    measured passes). Reading a JVM's memory map takes the kernel lock
    its allocations need, so untraced runs skip it."""

    def __init__(self, root: int, stop_file: str, memory: bool, period: float = 0.5):
        super().__init__(daemon=True)
        self.root = root
        self.stop_file = stop_file
        self.memory = memory
        self.period = period
        self.peak = 0
        self.pids: set[int] = set()
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            tree = _tree(self.root)
            self.pids.update(tree)
            if self.memory and not os.path.exists(self.stop_file):
                self.peak = max(self.peak, _footprint(tree))
            self._done.wait(self.period)

    def stop(self) -> None:
        self._done.set()
        self.join()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap(pids: set[int], grace_s: float) -> None:
    """Wait for every process of the run to end; kill stragglers."""
    deadline = time.time() + grace_s
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    while any(_alive(p) for p in pids) and time.time() < deadline + 5:
        time.sleep(0.1)


def run_once(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    data = ensure_inputs(workload, seed)
    work = os.path.join(WORK, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        # keeps the JVM's temp files and its /tmp/hsperfdata file out of /tmp
        _JAVA_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:+PerfDisableSharedMem",
        PYSPARK_PYTHON=sys.executable,
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
        "--seconds", str(seconds), "--trace", str(int(trace)),
        "--data", data, "--work", work, "--out", out,
    ]
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "w") as log:
        env["PERFBENCH_T0"] = repr(time.time())
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT)
        sampler = TreeSampler(proc.pid, os.path.join(work, "measured"), memory=trace)
        sampler.start()
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        sampler.stop()
    _reap(sampler.pids | set(_tree(proc.pid)), grace_s=0 if code is None else 10)
    proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"worker for {workload} seed {seed} failed (exit {code}):\n{tail}")
    with open(out) as f:
        result = json.load(f)
    if trace:
        result["layer"]["peak_rss_mb"] = sampler.peak / 2**20
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{workload}-{seed}-trace{int(trace)}.json"), "w") as f:
        json.dump(result, f, indent=1)
    if trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        shutil.move(os.path.join(work, "trace.json"), os.path.join(WORK, "traces", f"{workload}-{seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    return result


def report(result: dict, spec: dict, trace: bool) -> dict:
    """The contract's result object for one run."""
    kind = "per_layer" if trace else "end_to_end"
    values = result["layer"] if trace else result["e2e"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec[kind]
    }
    return {
        "correct": not result["failed_ops"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }


def run_all(spec: dict, seed: int, seconds: float) -> int:
    """Each workload untraced then traced: every end-to-end metric with
    its unit, failed_frac, tracing overhead and the per-layer figures."""
    ok = True
    for w in spec["workloads"]:
        name = w["name"]
        plain = run_once(name, seed, seconds, trace=False)
        traced = run_once(name, seed, seconds, trace=True)
        print(f"== {name}: {w['why']}")
        for m in spec["end_to_end"]:
            print(f"  {m['name']:<24} {plain['e2e'][m['name']]:>14.4f} {m['unit']}")
        frac = plain["failed"] / plain["attempted"]
        print(f"  {'failed_frac':<24} {frac:>14.4f} ratio  ({plain['failed']}/{plain['attempted']})")
        for op in plain["failed_ops"]:
            print(f"    FAILED {op}: {plain['failures'][op][0].strip().splitlines()[-1]}")
        layer = traced["layer"]
        for k in ("first_call_s", "warm_call_s"):
            print(f"  {'trace.overhead.' + k:<24} {layer['trace.' + k] - plain['e2e'][k]:>14.4f} s")
        for m in spec["per_layer"]:
            print(f"  {m['name']:<40} {layer.get(m['name'], 0.0):>14.4f} {m['unit']}")
        ok = ok and not plain["failed_ops"] and not traced["failed_ops"]
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    args = ap.parse_args()
    if not program_present():
        print("perfbench: the program (football_etl_spark, bench.py, tests/oracle_harness.py) "
              "is not in this checkout", file=sys.stderr)
        return 2
    spec = load_spec()
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    if args.all:
        return run_all(spec, args.seed, seconds)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: --workload must be one of {names}", file=sys.stderr)
        return 2
    result = run_once(args.workload, args.seed, seconds, bool(args.trace))
    out = report(result, spec, bool(args.trace))
    for name, m in out["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    for op in result["failed_ops"]:
        print(f"FAILED {op}: {result['failures'][op][0].strip().splitlines()[-1]}", file=sys.stderr)
    print(json.dumps(out))
    # an op that raised has no time, so the run's times are not
    # comparable with a run where it passed: a failing run fails
    return 1 if out["failed"] else 0


if __name__ == "__main__":
    sys.exit(main())
