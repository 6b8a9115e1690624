"""Lifecycle + inventory benchmark of cartography_spark.

    python3 perfbench/run.py --workload lifecycle --seed 1 --seconds 5 --trace 0

Run from the repository root. One process, one Spark session on
``local[<usable cpus>]``, one closed-loop client running passes back to back.
The seed generates the inputs (``datagen``) and, for ``inventory``, the query
order. After set-up (session start plus the workload's warm-up passes, the
first of them checked) the benchmark times passes until ``--seconds`` have
elapsed, and at least one. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` every call into a layer
is also read back from Spark's status store and the per-layer metrics are
printed instead. See perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("lifecycle", "inventory")


def _pin_environment(work: str) -> None:
    """Pin the engine's existing settings so every checkout runs alike:
    all usable cores, a driver heap well below host memory, and Spark's and
    Python's scratch space inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


class Run:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.attempted = self.failed = 0
        self.pass_s: list[float] = []
        self.cpu_s: list[float] = []
        self.spans: list[dict[str, dict[str, float]]] = []

    def one_pass(self, wl, tracer, checked: bool) -> float:
        """Run one pass and return its wall seconds; its check, when
        ``checked``, runs after the pass and outside its CPU and wall time."""
        from probe import tree_cpu_s

        tracer.spans = {}
        self.attempted += wl.ops_per_pass
        cpu0, t0 = tree_cpu_s(), time.time()
        try:
            out = wl.run_pass(tracer, checked)
        except Exception:  # a broken program must still produce a report
            traceback.print_exc()
            out, bad = None, ["every operation of the pass"] * wl.ops_per_pass
        wall = time.time() - t0
        self.cpu_s.append(tree_cpu_s() - cpu0)
        if out is not None:
            bad = wl.check(out) if checked else []
        self.failed += len(bad)
        for name in bad:
            print(f"failed: {name}", file=sys.stderr)
        return wall

    def main(self) -> dict:
        import datagen

        a = self.args
        v1, v2 = datagen.write_inputs(a.seed, os.path.join(self.work, "inputs"))
        from probe import Tracer, tree_peak_rss_mb
        from workloads import Inventory, Lifecycle

        from cartography_spark.session import get_spark

        t0 = time.time()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_start_s = time.time() - t0
        try:
            if a.workload == "lifecycle":
                wl = Lifecycle(spark, v1, v2, self.work)
            else:
                wl = Inventory(spark, v1, a.seed)
            tracer = Tracer(spark, enabled=bool(a.trace))
            # set-up: session start plus the warm-up passes, the first of them
            # checked; input generation and DuckDB expectations are not part of it
            setup_s = session_start_s
            for i in range(wl.warmup_passes):
                setup_s += self.one_pass(wl, tracer, checked=i == 0 or wl.check_every_pass)
            cpu_setup = len(self.cpu_s)
            t_run = time.time()
            while not self.pass_s or time.time() - t_run < a.seconds:
                self.pass_s.append(self.one_pass(wl, tracer, checked=wl.check_every_pass))
                self.spans.append(tracer.spans)
            peak_rss_mb = tree_peak_rss_mb()
            cpu = self.cpu_s[cpu_setup:]
            print(f"set-up {setup_s:.2f} s; passes {[round(t, 2) for t in self.pass_s]} s; "
                  f"cpu {[round(c, 1) for c in cpu]} s", file=sys.stderr)
            if a.trace:
                metrics = self._per_layer(wl, session_start_s)
                metrics["process.peak_rss_mb"] = (peak_rss_mb, "MB")
            else:
                metrics = {
                    "setup_s": (setup_s, "s"),
                    "pass_s": (_median(self.pass_s), "s"),
                    "cpu_s": (_median(cpu), "s"),
                    "ok_rate": (1 - self.failed / self.attempted, "ratio"),
                }
        finally:
            _stop_spark(spark)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def _layer(self, name: str, key: str) -> float:
        return _median([p[name].get(key, 0.0) for p in self.spans if name in p])

    def _total(self, key: str) -> float:
        return _median([sum(r.get(key, 0.0) for r in p.values()) for p in self.spans])

    def _per_layer(self, wl, session_start_s: float) -> dict:
        from workloads import INVENTORY_QUERIES, LIFECYCLE_GROUPS, LIFECYCLE_PHASES

        m = {
            "session.start_s": (session_start_s, "s"),
            "sources.input_rows": (self._total("input_rows"), "rows"),
            "spark.gc_s": (self._total("gc_s"), "s"),
            "spark.spill_bytes": (self._total("spill_bytes"), "bytes"),
            "spark.stages_skipped": (self._total("stages_skipped"), "count"),
            "spark.stages_evicted": (self._total("stages_evicted"), "count"),
            "trace.pass_s": (_median(self.pass_s), "s"),
        }
        for phase in LIFECYCLE_PHASES:
            for key, unit in (("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"),
                              ("executor_cpu_s", "s"), ("shuffle_write_bytes", "bytes")):
                m[f"{phase}.{key}"] = (self._layer(phase, key), unit)
        for group, phases in LIFECYCLE_GROUPS.items():
            m[f"lifecycle.{group}"] = (sum(self._layer(p, "wall_s") for p in phases), "s")
        m.update(self._catalog_metrics(wl))
        for q in INVENTORY_QUERIES:
            for key, unit in (("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"),
                              ("shuffle_write_bytes", "bytes")):
                m[f"query.{q}.{key}"] = (self._layer(f"query.{q}", key), unit)
        return m

    def _catalog_metrics(self, wl) -> dict:
        from workloads import Lifecycle

        if not isinstance(wl, Lifecycle):
            return {
                "catalog.save.bytes_written": (0.0, "bytes"),
                "catalog.save.files_written": (0.0, "count"),
                "catalog.save.scan_amp": (0.0, "ratio"),
                "lifecycle.write_amp": (0.0, "ratio"),
            }
        scanned = sum(self._layer(p, "input_rows") for p in ("catalog.save_v1", "catalog.save_v2"))
        return {
            "catalog.save.bytes_written": (wl.written["bytes"], "bytes"),
            "catalog.save.files_written": (wl.written["files"], "count"),
            "catalog.save.scan_amp": (scanned / wl.ingested_rows, "ratio"),
            "lifecycle.write_amp": (wl.written["bytes"] / wl.ingested_bytes, "ratio"),
        }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "cartography_spark")):
        print(f"no cartography_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(ROOT, ".perfbench-work", str(os.getpid()))
    os.makedirs(work)
    try:
        _pin_environment(work)
        result = Run(args, work).main()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
