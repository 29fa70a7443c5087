"""Benchmark entry point.

    python3 perfbench/run.py --workload <kg_build|analyst_mix|serve_small>
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from the seed
under ``.perfbench/`` in the checkout, the workload runs against the
public API of ``kg_etl_spark`` in one local Spark session sized to the
machine, every output is checked, and the last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). A readable report goes to standard error.

Workloads (all closed loops: a client sends its next operation when the
previous one returns):

* ``kg_build``     one client; an operation is a full KG build with exports.
* ``analyst_mix``  one client; the query mix in a seeded order per pass,
                   over the medium-scale tables.
* ``serve_small``  one client per CPU sharing the session; the same mix
                   over the small-scale tables.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time
import traceback

from stats import reset_hwm, vm_hwm_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GOLDENS = os.path.join(HERE, "goldens.json")
TRACES = os.path.join(ROOT, ".perfbench", "traces")


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _driver_mem() -> str:
    """Heap for the driver JVM: 2g, or a quarter of physical RAM when
    that is less. The inputs are small; a heap far larger than the live
    data lets the JVM's resident size wander with GC timing."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(512, min(2048, ram_mb // 4))}m"


def configure_env(work: str) -> None:
    """Size the session for this machine through the variables
    ``session.get_spark`` reads, and keep every scratch file Spark and
    the JVM write inside ``work``. The heap starts at its full size:
    grown on demand, its resident size after warm-up varied by a fifth
    from run to run with GC timing."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    mem = _driver_mem()
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem}" '
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def load_goldens(workload: str, seed: int):
    with open(GOLDENS) as f:
        return json.load(f).get(workload, {}).get(str(seed))


class Run:
    """One benchmark run: session, samples, failures, optional tracer."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.t0 = 0.0
        self.spark = None
        self.tracer = None
        self.lock = threading.Lock()
        self.rids = itertools.count(1)
        self.setup_s = 0.0
        self.rss_mb = 0.0
        self.facts: dict = {}
        self.windows: list[dict] = []
        self.check_errors: list[str] = []

    def start_session(self):
        """Start the session; set-up time counts from here."""
        from kg_etl_spark.session import get_spark

        self.t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.args.workload}")
        return self.spark

    def stop_session(self) -> None:
        """Stop the session and wait for its JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def window(self, kind: str, clients: int, client_fn, queue=None) -> dict:
        """Run ``client_fn(k, win)`` on ``clients`` threads and collect
        the window's samples. ``kind`` is ``warmup``, ``timed`` or
        ``traced``; ``win["deadline"]`` is when clients stop starting new
        work, and ``queue(win)``, when given, is the iterator of work the
        clients share. The peak resident memory of this process and its
        JVM is restarted when the timed window starts and read when it
        ends, so it leaves out input generation, warm-up collection and
        the oracle checks."""
        win = {"kind": kind, "clients": clients, "lat": [], "attempted": 0, "failed": 0, "errors": [],
               "deadline": time.perf_counter() + self.args.seconds, "ops": []}
        if queue is not None:
            win["queue"] = queue(win)
        crashed: list[BaseException] = []

        def guarded(k):
            try:
                client_fn(k, win)
            except BaseException as e:  # noqa: BLE001 - re-raised below
                crashed.append(e)

        if kind == "timed":
            pids = ("self", int(self.spark._jvm.java.lang.ProcessHandle.current().pid()))
            for pid in pids:
                reset_hwm(pid)
        t = time.perf_counter()
        threads = [threading.Thread(target=guarded, args=(k,), daemon=True)
                   for k in range(clients)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        win["wall_s"] = time.perf_counter() - t
        if kind == "timed":
            self.rss_mb = sum(vm_hwm_mb(pid) for pid in pids)
        if crashed:
            raise crashed[0]
        self.windows.append(win)
        return win

    def check_failed(self, msg: str) -> None:
        """A check made outside any operation (goldens, DuckDB) failed."""
        print(f"[perfbench] check failed: {msg}", file=sys.stderr)
        self.check_errors.append(msg)

    def install_tracer(self, qm=None) -> None:
        """Record spans from here on (the next window is the traced one)."""
        from spans import Tracer

        self.tracer = Tracer(self.spark)
        self.tracer.install()
        if qm is not None:
            qm.span = self.tracer.rec.span

    def op(self, win: dict, name: str, fn, *a, check=None) -> None:
        """One timed operation, then ``check(result)`` outside the timer;
        an exception from either counts as a failure. With a tracer
        installed, the operation is one traced request."""
        rid = next(self.rids)
        t = time.perf_counter()
        dt, err = 0.0, None
        try:
            if self.tracer is None:
                res = fn(*a)
            else:
                with self.tracer.request(name, rid):
                    res = fn(*a)
            dt = time.perf_counter() - t
            if check is not None:
                check(res)
        except Exception as e:  # noqa: BLE001 - a failed operation is a sample
            err = f"{name}: {type(e).__name__}: {e}".splitlines()[0][:300]
            traceback.print_exc(file=sys.stderr)
        if self.tracer is not None:
            self.tracer.collect_counters(rid)
        with self.lock:
            win["attempted"] += 1
            if err is None:
                win["lat"].append(dt)
                win["ops"].append(rid)
            else:
                win["failed"] += 1
                win["errors"].append(err)


# --- workloads ------------------------------------------------------------


def kg_build(r: Run) -> None:
    from gen import dir_digest, write_kg_inputs
    from workloads import KgBuild

    in_dir = os.path.join(r.work, "kg-in")
    truth = write_kg_inputs(in_dir, r.args.seed)
    r.facts["inputs_sha256"] = dir_digest(in_dir)
    kg = KgBuild(r.start_session(), in_dir, truth)
    builds = itertools.count(1)

    def build():
        out = os.path.join(r.work, f"kg-out-{next(builds)}")
        return kg.run(out), out

    def check(built):
        try:
            kg.check(*built)
        finally:
            kg.release(*built)

    def client(_k, win):
        while True:
            r.op(win, "kg_build", build, check=check)
            if time.perf_counter() >= win["deadline"]:
                return

    # warm-up: one build, whose exports are checked against the planted truth
    r.window("warmup", 1, lambda _k, win: r.op(win, "kg_build", build, check=check))
    golden = load_goldens("kg_build", r.args.seed)
    if golden is not None:
        for name in sorted(golden):
            if kg.expected is None or golden[name] != kg.expected.get(name):
                r.check_failed(f"{name} differs from its golden digest")
    r.setup_s = time.perf_counter() - r.t0
    r.window("timed", 1, client)
    if r.args.trace:
        r.install_tracer()
        r.window("traced", 1, client)


def query_workload(r: Run, scale: str, mix: tuple[str, ...], clients: int) -> None:
    """Clients run the mix over tables generated at ``scale``: a first,
    collecting pass (checked against the goldens and, at the end, the
    DuckDB oracles), one untimed pass of the timed path, then the timed
    window."""
    from gen import dir_digest, write_tables
    from workloads import QueryMix

    data = os.path.join(r.work, scale)
    write_tables(data, r.args.seed, scale)
    r.facts["inputs_sha256"] = dir_digest(data)
    qm = QueryMix(r.start_session(), data, mix)

    # warm-up: every client collects its share of the mix once
    def prime(k, _win):
        for name in mix[k::clients]:
            try:
                qm.prime(name)
            except Exception as e:  # noqa: BLE001 - later runs of it fail too
                r.check_failed(f"{name}: first run raised {type(e).__name__}: {e}"[:300])

    r.window("warmup", clients, prime)
    golden = load_goldens(r.args.workload, r.args.seed)
    if golden is not None:
        for name in mix:
            got = qm.reference.get(name)
            if got is not None and list(got) != golden.get(name):
                r.check_failed(f"{name}: {got} differs from golden {golden.get(name)}")

    # The clients share one queue of whole mix passes, each pass in a
    # seeded order; a new pass starts only before the deadline, so every
    # window runs each query equally often.
    rng = random.Random(r.args.seed)

    def passes(win):
        while time.perf_counter() < win["deadline"]:
            order = list(mix)
            rng.shuffle(order)
            yield from order

    def client(_k, win):
        while True:
            with r.lock:
                name = next(win["queue"], None)
            if name is None:
                return
            r.op(win, name, qm.run, name)

    r.window("warmup", clients, client, queue=lambda win: iter(mix))
    r.setup_s = time.perf_counter() - r.t0
    r.window("timed", clients, client, queue=passes)
    if r.args.trace:
        r.install_tracer(qm)
        r.window("traced", clients, client, queue=passes)
    for name in qm.check_oracles():
        r.check_failed(f"{name} disagrees with its DuckDB oracle")


def analyst_mix(r: Run) -> None:
    from workloads import MIX

    query_workload(r, "medium", MIX, 1)


def serve_small(r: Run) -> None:
    from workloads import SERVE_MIX

    query_workload(r, "small", SERVE_MIX, _cpus())


WORKLOADS = {"analyst_mix": analyst_mix, "kg_build": kg_build, "serve_small": serve_small}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import kg_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"[perfbench] cannot import kg_etl_spark from {ROOT}: {e}", file=sys.stderr)
        return 2

    import report

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    configure_env(work)
    r = Run(args, work)
    try:
        WORKLOADS[args.workload](r)
        r.facts.update(report.session_facts(r.spark))
    finally:
        r.stop_session()
        shutil.rmtree(work, ignore_errors=True)

    out = report.summarize(r)
    if args.trace:
        os.makedirs(TRACES, exist_ok=True)
        path = os.path.join(TRACES, f"{args.workload}-seed{args.seed}.jsonl")
        report.write_spans(r.tracer.rec.spans, path)
        out["metrics"] = report.layer_metrics(r)
    print(json.dumps(out["report"]), file=sys.stderr)
    del out["report"]
    if out["attempted"] == out["failed"]:
        print("[perfbench] no operation succeeded", file=sys.stderr)
        return 1
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
