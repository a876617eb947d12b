"""Benchmark of the crawl-to-KG pipeline, end to end and layer by layer.

    python3 perfbench/run.py --workload flagship_docs --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One process drives one closed loop: one
pipeline iteration at a time on ``local[nproc]``, no client threads.

A run sets up ``N_SETUPS`` times (session build, Python-worker warm-up,
input generation) and keeps the last set-up; then it iterates until
``--seconds`` have passed since the first iteration began and the
workload's ``min_iterations`` ran. The first iteration is ``cold_s``;
``wall_s`` is the median of the later ones (of the first when it is the
only one). After every iteration, outside its timer, the outputs are
digested and compared with the first iteration's and, when
``pins.json`` pins this workload and seed, with the pin; a mismatch or an
exception fails the iteration.

``--trace 1`` turns on the Spark event log (uncompressed), runs the
iterations ``wall_s`` does not count, then one traced iteration whose
layers run in labelled spans, and reports the per-layer metrics named in
``BENCHMARK.json``: span self times and CPU, event-log task metrics per
span label, the time no layer span covers (``unattributed_s``), the traced
iteration's wall (``traced_wall_s``, to compare with the untraced
``wall_s``) and the time the span bookkeeping itself took
(``trace_overhead_s``). Spans and the
folded event log are printed as JSON lines before the result.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import eventlog
import procstat
from spans import Tracer
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DEFAULT_SEED = 1
N_SETUPS = 3


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import coap_rfc_knowledge_graph_spark  # noqa: F401
        import pyspark
    except ImportError as exc:
        print(f"perfbench: run from the root of a checkout of the repository ({exc})", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")

    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(WORK, sub))
    # workers import the package from the checkout whatever their cwd is;
    # Spark and Python scratch files stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    nproc = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](nproc, WORK)
    try:
        result = Run(wl, args, nproc).measure()
        names = spec["per_layer"] if args.trace else spec["end_to_end"]
        metrics = {}
        for m in names:
            ran = args.trace == 0 or _layer(m["name"]) in wl.layers
            if m["name"] not in result.metrics and ran and result.failed == 0:
                raise KeyError(f"metric {m['name']} was not measured")
            metrics[m["name"]] = {"value": result.metrics.get(m["name"], 0), "unit": m["unit"]}
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    env = f"nproc={nproc} master=local[{nproc}] pyspark={pyspark.__version__}"
    print(f"perfbench {wl.name} seed={args.seed} trace={args.trace} {env}")
    extra = {"failed_frac": {"value": result.failed / result.attempted, "unit": "1"}}
    if not args.trace:
        extra["cold_s"] = {"value": result.metrics["cold_s"], "unit": "s"}
    for name, m in [*metrics.items(), *extra.items()]:
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": result.failed == 0, "attempted": result.attempted, "failed": result.failed,
                      "metrics": metrics}))  # fmt: skip
    return 0


def _layer(metric: str) -> str:
    return metric.rsplit(".", 1)[0]


class Run:
    def __init__(self, wl, args, nproc: int):
        self.wl, self.args, self.nproc = wl, args, nproc
        self.attempted = self.failed = 0
        self.metrics: dict[str, float] = {}
        with open(os.path.join(HERE, "pins.json")) as fh:
            pin = json.load(fh).get(wl.name)
        # a pin without a seed holds for every seed (a fixed corpus)
        self.pin = pin["digest"] if pin and pin["seed"] in (None, args.seed) else None
        self.first = None

    def measure(self) -> Run:
        trace = bool(self.args.trace)
        conf = {
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        }
        if trace:
            os.makedirs(os.path.join(WORK, "eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            })  # fmt: skip
        spark = None
        try:
            setups = []
            for _ in range(N_SETUPS):
                spark, inputs, parts = self._setup(spark, conf, trace)
                setups.append(parts)
            print(f"perfbench: set-ups (build, warm, inputs) {setups}", file=sys.stderr)
            build, warm, gen = (statistics.median(p) for p in zip(*setups))
            self.metrics.update({"setup_s": statistics.median(sum(p) for p in setups),
                                 "session.build_s": build, "session.warm_s": warm, "sources.pages.gen_s": gen})  # fmt: skip
            if trace:
                self._traced_iterations(spark, inputs)
            else:
                self._iterations(spark, inputs)
            pids = [os.getpid(), *procstat.descendants()]
            hwm = {pid: round(procstat.vm_hwm_mb([pid])) for pid in pids}
            print(f"perfbench: VmHWM MiB by pid {hwm}", file=sys.stderr)
            self.metrics["peak_rss_mb"] = procstat.vm_hwm_mb(pids)
        finally:
            _stop(spark)
        return self

    def _setup(self, spark, conf, trace):
        from coap_rfc_knowledge_graph_spark.session import build_session, warm_python_workers

        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = build_session(app_name="perfbench", cpus=self.nproc, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        if trace:
            spark.sparkContext.setJobDescription("session")
        warm_python_workers(spark, self.nproc)
        t2 = time.perf_counter()
        if trace:
            spark.sparkContext.setJobDescription("sources.pages")
        inputs = self.wl.prepare(spark, self.args.seed)
        t3 = time.perf_counter()
        spark.sparkContext.setJobDescription(None)
        return spark, inputs, (t1 - t0, t2 - t1, t3 - t2)

    def _iterate(self, spark, inputs, tracer=None) -> float | None:
        """One checked iteration; its wall seconds, or None if it failed."""
        self.attempted += 1
        spark.catalog.clearCache()
        try:
            c0 = procstat.cpu()
            t0 = time.perf_counter()
            if tracer is None:
                out = self.wl.run(spark, inputs)
            else:
                with tracer.span("iteration"):
                    out = self.wl.run_traced(spark, inputs, tracer)
            wall = time.perf_counter() - t0
            c1 = procstat.cpu()
            print(f"perfbench: iteration {self.attempted} {wall:.3f} s cpu {sum(c1.values()) - sum(c0.values()):.2f}", file=sys.stderr)
            # JSON round trip: compares equal to the pins read from pins.json
            digest = json.loads(json.dumps(self.wl.digest(out)))
        except Exception:  # an iteration that raises is a failed iteration
            traceback.print_exc()
            self.failed += 1
            return None
        if self.first is None:
            self.first = digest
            print(f"perfbench: digest {json.dumps(digest)}", file=sys.stderr)
        if digest != self.first or (self.pin is not None and digest != self.pin):
            print(f"perfbench: output mismatch: {digest} vs {self.pin or self.first}", file=sys.stderr)
            self.failed += 1
            return None
        return wall

    def _iterations(self, spark, inputs) -> None:
        t_start = time.perf_counter()
        walls = []
        while True:
            walls.append(self._iterate(spark, inputs))
            if time.perf_counter() - t_start >= self.args.seconds and len(walls) >= self.wl.min_iterations:
                break
        ok = [w for w in walls if w is not None] or [0.0]
        wall = statistics.median(ok[1:]) if len(ok) > 1 else ok[0]
        self.metrics.update({"cold_s": ok[0], "wall_s": wall, "docs_per_s": self.wl.n_input / wall if wall else 0.0})

    def _traced_iterations(self, spark, inputs) -> None:
        # trace the iteration wall_s measures: the first after the cold one,
        # or the cold one where wall_s is the cold iteration
        for _ in range(self.wl.min_iterations - 1):
            self._iterate(spark, inputs)
        tracer = Tracer(spark.sparkContext)
        traced = self._iterate(spark, inputs, tracer)
        if traced is None:
            return
        m = self.metrics
        m["traced_wall_s"] = traced
        m["trace_overhead_s"] = tracer.overhead_s
        m.update(self.wl.layer_counts(spark))
        spans = tracer.self_times()
        m["unattributed_s"] = spans[0]["self_s"]
        events = eventlog.fold(os.path.join(WORK, "eventlog"))
        for layer in self.wl.layers:
            own = [s for s in spans if s["name"] == layer]
            wall = sum(s["self_s"] for s in own)
            cpu = {k: sum(s["self_cpu"][k] for s in own) for k in ("driver", "jvm", "py_worker")}
            ev = events.get(layer, {})
            m.update({
                f"{layer}.wall_s": wall,
                f"{layer}.tasks": ev.get("tasks", 0),
                f"{layer}.task_skew": ev.get("task_skew", 0),
                f"{layer}.shuffle_write_bytes": ev.get("shuffle_write_bytes", 0),
                f"{layer}.py_start_ms": ev.get("py_start_ms", 0),
                f"{layer}.py_run_ms": ev.get("py_run_ms", 0),
                f"{layer}.py_bytes": ev.get("py_bytes", 0),
                f"{layer}.py_worker_cpu_s": cpu["py_worker"],
                f"{layer}.jvm_cpu_s": cpu["jvm"],
                f"{layer}.driver_cpu_s": cpu["driver"],
                f"{layer}.cpu_util": sum(cpu.values()) / (wall * self.nproc) if wall > 0 else 0.0,
            })  # fmt: skip
        print(json.dumps({"spans": spans}))
        print(json.dumps({"eventlog": events}))


def _stop(spark) -> None:
    """Stop the session, the JVM and every Python worker; wait for each."""
    if spark is not None:
        spark.stop()
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while procstat.descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in procstat.descendants():
        os.kill(pid, 9)


if __name__ == "__main__":
    sys.exit(main())
