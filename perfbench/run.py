"""Engine benchmark: one run of one workload, printed as one JSON line.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run

1. records a host fingerprint (nproc, load average, steal time, a fixed
   Python loop and a fixed numpy kernel) before any session starts;
2. makes the seed's inputs and DuckDB oracle answers, or takes them from
   the cache in ``perfbench/.cache`` (not counted in ``setup_s``);
3. starts ``engine.py`` in its own scratch directory under
   ``perfbench/.work`` with its own TMPDIR and SPARK_LOCAL_DIRS, nproc-1
   task slots, 8 shuffle partitions, a pinned driver heap and the
   checkout on the Python workers' PYTHONPATH, and samples the memory
   of the whole process tree while it runs;
4. stops every process the run started and deletes the scratch directory.

With ``--trace 0`` the last line carries the end-to-end metrics
(``setup_s``, ``pass_s``, ``peak_rss_mb``); with ``--trace 1`` the
per-layer metrics, read from Spark's event log by ``trace.py``, and the
run's spans are kept in ``perfbench/.results``. The line before it
holds the host fingerprint, the session settings, pass quartiles and
sample count, per-query medians and ``fail_ratio``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # the whole run, generation and oracle included
DRIVER_MEMORY = "2g"


def host_fingerprint() -> dict:
    import numpy as np

    def cpu_ticks():
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return sum(f), f[7] if len(f) > 7 else 0

    total0, steal0 = cpu_ticks()
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    loop_s = time.perf_counter() - t0
    m = np.random.default_rng(0).random((256, 256))
    t0 = time.perf_counter()
    for _ in range(5):
        m = np.tanh(m @ m / 256.0)
    numpy_s = time.perf_counter() - t0
    total1, steal1 = cpu_ticks()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": os.getloadavg(),
        "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        "py_loop_s": loop_s,
        "numpy_s": numpy_s,
    }


class TreeSampler(threading.Thread):
    """Peak memory of a process and all its descendants. Python workers
    forked by the PySpark daemon share pages with it, so they are counted
    by PSS (proportional set size); every other process by RSS, which is
    much cheaper to read for the JVM's pinned heap."""

    def __init__(self, pid: int, period: float = 0.5):
        super().__init__(daemon=True)
        self.pid, self.period = pid, period
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self.done = threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> dict[str, int]:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = {self.pid}, [self.pid]
        while frontier:
            p = frontier.pop()
            for c, pp in parent.items():
                if pp == p and c not in tree:
                    tree.add(c)
                    frontier.append(c)
        argv: dict[int, bytes] = {}
        for p in tree:
            try:
                with open(f"/proc/{p}/cmdline", "rb") as fh:
                    argv[p] = fh.read()
            except OSError:
                pass
        by_kind: dict[str, int] = {}
        for p, cmd in argv.items():
            forked_worker = b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd
            # a child spawned by vfork/posix_spawn shares its parent's memory
            # until it execs; counting it would count the parent twice
            if p != self.pid and cmd == argv.get(parent.get(p)) and not forked_worker:
                continue
            kind = ("engine" if p == self.pid else "python_workers" if forked_worker else
                    "jvm" if cmd.split(b"\0")[0].endswith(b"java") else "other")
            try:
                if forked_worker:
                    with open(f"/proc/{p}/smaps_rollup") as fh:
                        size = next(int(line.split()[1]) * 1024 for line in fh
                                    if line.startswith("Pss:"))
                else:
                    with open(f"/proc/{p}/statm") as fh:
                        size = int(fh.read().split()[1]) * self.page
            except (OSError, IndexError, ValueError, StopIteration):
                continue
            by_kind[kind] = by_kind.get(kind, 0) + size
        by_kind["processes"] = len(tree)
        return by_kind

    def run(self) -> None:
        while not self.done.wait(self.period):
            sample = self._sample()
            total = sum(v for k, v in sample.items() if k != "processes")
            if total > self.peak:
                self.peak, self.at_peak = total, sample


def become_subreaper() -> None:
    """Orphaned descendants (the JVM's Python daemon) re-parent to us, so
    they can be stopped and waited for."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def reap_children(grace_s: float = 10.0) -> None:
    """Stop every remaining child of this process and wait for each."""
    me = os.getpid()

    def children() -> list[int]:
        out = []
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        if int(fh.read().rsplit(")", 1)[1].split()[1]) == me:
                            out.append(int(d))
                except (OSError, IndexError, ValueError):
                    pass
        return out

    deadline = time.time() + grace_s
    sig = signal.SIGTERM
    while True:
        while True:  # collect whatever has already exited
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                break
        kids = children()
        if not kids:
            return
        for k in kids:
            try:
                os.kill(k, sig)
            except ProcessLookupError:
                pass
        if time.time() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.1)


def quartiles(v: list[float]) -> list[float]:
    return statistics.quantiles(v, n=4) if len(v) >= 2 else [v[0], v[0], v[0]]


def main() -> int:
    t_begin = time.time()
    ap = argparse.ArgumentParser(description="engine benchmark, one run")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="input scale factor (default: the workload's)")
    a = ap.parse_args()

    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"unknown workload {a.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    for need in ("etl_everywhere_hub_spark/queries.py", "tools/check.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"the program is missing: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)  # names and units of the metrics to print
    wl = WORKLOADS[a.workload]
    sf = a.sf or wl.sf
    become_subreaper()
    # a terminated run still stops its processes and deletes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    host = host_fingerprint()
    t_host = time.time()

    from perfbench import oracle
    from perfbench.trace import attach, log_spans, per_layer, read_event_log

    cache = os.path.join(HERE, ".cache")
    data_dir, answers = oracle.prepare(cache, sf, a.seed, list(wl.queries))

    work_root = os.path.join(HERE, ".work")
    os.makedirs(work_root, exist_ok=True)
    for d in os.listdir(work_root):  # left behind by a killed run
        p = os.path.join(work_root, d)
        if time.time() - os.path.getmtime(p) > 3600:
            shutil.rmtree(p, ignore_errors=True)
    run_dir = os.path.join(work_root, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)

    slots = max(1, host["nproc"] - 1)
    # -Xms = -Xmx and pre-touched: the heap is resident from the start
    # instead of growing lazily, so peak RSS does not depend on how far
    # the heap happened to grow
    submit = ["--conf", shlex.quote(
        f"spark.driver.extraJavaOptions=-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch")]
    if a.trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{run_dir}/eventlog",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
        os.makedirs(os.path.join(run_dir, "eventlog"))
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_MASTER", "SPARK_CONF_DIR")}
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
        "SPARK_GRAFT_CPUS": str(slots),
        "SPARK_SHUFFLE_PARTITIONS": "8",
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    })
    try:
        with open(os.path.join(run_dir, "engine.log"), "wb") as log:
            t_spawn = time.time()
            child = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "engine.py"), "--workload", a.workload,
                 "--data", data_dir, "--oracle", answers, "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--t0", repr(t_spawn), "--seed", str(a.seed)],
                cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            )
            sampler = TreeSampler(child.pid)
            sampler.start()
            try:
                rc = child.wait(timeout=max(10.0, DEADLINE_S - (time.time() - t_begin)))
            except subprocess.TimeoutExpired:
                child.kill()
                rc = child.wait()
                print("the engine process ran past the run's deadline", file=sys.stderr)
                rc = rc or 1
            t_exit = time.time()
            sampler.done.set()
            sampler.join()
        reap_children()
        t_reaped = time.time()
        res_path = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.isfile(res_path):
            with open(os.path.join(run_dir, "engine.log"), "rb") as fh:
                tail = fh.read()[-4000:].decode("utf-8", "replace")
            print(f"engine process failed (exit {rc}):\n{tail}", file=sys.stderr)
            return 1
        with open(res_path) as fh:
            res = json.load(fh)
        ckpt_left = sum(1 for d in os.listdir(tmp) if d.startswith("ckpt_"))

        passes = res["passes"]
        info = {
            "workload": a.workload, "seed": a.seed, "sf": sf, "trace": a.trace,
            "host": host, "settings": res["settings"] | {"task_slots": slots},
            "pass_quartiles_s": quartiles(passes), "pass_samples": len(passes),
            "passes_s": res["pass_sequence"],
            "peak_mb_by_process": {k: v if k == "processes" else v / 1e6
                                   for k, v in sampler.at_peak.items()},
            "fail_ratio": res["failed"] / res["attempted"], "failures": res["failures"],
            "setup_phases_s": res["setup_phases_s"], "query_median_s": res["query_s"],
            "query_passes_s": res["query_passes_s"], "query_verify_s": res["query_verify_s"],
            "ckpt_dirs_left": ckpt_left,
            "harness_s": {"fingerprint": t_host - t_begin, "inputs": t_spawn - t_host,
                          "engine": t_exit - t_spawn, "reap": t_reaped - t_exit,
                          "engine_stop": t_exit - res["t_end"]},
        }
        if a.trace:
            with open(os.path.join(run_dir, "spans.json")) as fh:
                spans = json.load(fh)
            jobs, stages, tasks, batches = log_spans(read_event_log(res["event_log_dir"]
                                                                    .removeprefix("file://")))
            spans = attach(spans, jobs, stages, batches)
            lay = per_layer(spans, tasks)
            plain = statistics.median(passes)
            # each traced pass against the mean of the plain passes on
            # either side of it, so the warm-up trend cancels
            seq = res["pass_sequence"]
            overhead = statistics.median(
                seq[i] - (seq[i - 1] + seq[i + 1]) / 2 for i in range(1, len(seq) - 1, 2))
            values = {
                "session.import_s": res["session_import_s"],
                "session.start_s": res["session_start_s"],
                "catalog.load_table_ms": res["load_table_ms"],
                "catalog.scan_splits": res["scan_splits"],
                "plans.shuffle_exchanges": sum(v["shuffle_exchanges"] for v in res["plans"].values()),
                "plans.python_evals": sum(v["python_evals"] for v in res["plans"].values()),
                "sources.deltalite_commits": res["deltalite_commits"],
                "streaming.ckpt_dirs_left": ckpt_left,
                "trace.pass_s": lay["pass_s"],
                "trace.untraced_pass_s": plain,
                "trace.overhead_s": overhead,
                **{f"multimodal.{k}_mb_s": v for k, v in res["decode_mb_s"].items()},
                **{k: v for k, v in lay.items() if "." in k},
            }
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in spec["per_layer"]}
            info["per_query_phases_s"] = lay["per_query"]
            out_dir = os.path.join(HERE, ".results")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace.json"), "w") as fh:
                json.dump({"info": info, "metrics": metrics, "passes": lay["passes"],
                           "spans": spans}, fh)
        else:
            values = {
                "setup_s": res["setup_s"],
                "pass_s": statistics.median(passes),
                "peak_rss_mb": sampler.peak / 1e6,
            }
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        print(json.dumps(info))
        print(json.dumps({
            "correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics,
        }))
        return 0
    finally:
        reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
