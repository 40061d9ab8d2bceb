"""Benchmark entry point.

    python3 perfbench/run.py --workload site_assign --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process at ``local[nproc]``:

1. set-up, timed as ``setup_s``: ``session.get_spark`` (which launches the
   JVM), writing the seeded inputs, and one warm-up job whose outputs are
   collected;
2. untimed: the workload's oracles check the warm-up outputs;
3. ``--trace 0``: the workload's job back to back for ``--seconds`` and at
   least ``MIN_JOBS`` jobs; ``rows_per_s`` is input rows over the median job
   wall time.
   ``--trace 1``: traced passes (each public call forced on its own inside a
   span) alternating with untraced jobs for ``--seconds``; per-layer metrics
   are medians over the passes, and ``site_assign`` also records a
   ``local[1]`` figure for the detail file.

The last stdout line is the compact JSON headline. Everything else (host,
versions, effective Spark conf, per-job times, spans) goes to
``.perfbench-work/records/``. Exit code 2, with no headline, when the
program under test is missing.
"""

from __future__ import annotations

import argparse
import dataclasses
import itertools
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(os.getcwd(), ".perfbench-work")

# The JIT is still compiling the driver's hot paths for the first jobs after
# the warm-up (each job ran 10-25% faster than the one before), so a run
# times at least three: the median is then the middle one, not the mean of
# a fast and a slow job.
MIN_JOBS = 3
END_TO_END = {"rows_per_s": "rows/s", "setup_s": "s"}
PER_LAYER = {
    "tables.scan_s": "s", "tables.scan_bytes": "B",
    "cells.cover_rows": "count", "cells.candidates_per_point": "ratio",
    "spatial.pip_join_s": "s", "spatial.pip_match_ratio": "ratio",
    "spatial.nearest_grid_s": "s", "spatial.zonal_stats_s": "s",
    "dedup.hamming_s": "s", "dedup.hamming_pairs": "count",
    "dedup.minhash_s": "s", "dedup.minhash_pairs": "count",
    "dedup.minhash_recall": "ratio",
    "search.bm25_s": "s", "search.bm25_scans": "count",
    "images.decode_s": "s", "images.python_bytes": "B",
    "resume.fresh_s": "s", "resume.rerun_s": "s", "resume.invalidate_s": "s",
    "resume.jobs": "count", "resume.recompute_ratio": "ratio", "resume.write_amp": "ratio",
    "session.start_s": "s", "session.tasks": "count", "session.shuffle_bytes": "B",
    "session.spill_bytes": "B", "session.gc_s": "s",
    "trace.overhead_s": "s",
}
# span name -> per-layer time metric (its self time)
SPAN_METRIC = {
    "tables.scan": "tables.scan_s", "spatial.pip_join": "spatial.pip_join_s",
    "spatial.nearest_grid": "spatial.nearest_grid_s",
    "spatial.zonal_stats": "spatial.zonal_stats_s",
    "dedup.hamming": "dedup.hamming_s", "dedup.minhash": "dedup.minhash_s",
    "search.bm25": "search.bm25_s", "images.decode": "images.decode_s",
    "resume.fresh": "resume.fresh_s", "resume.rerun": "resume.rerun_s",
    "resume.invalidate": "resume.invalidate_s",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate_scratch(run_dir: str) -> None:
    """Point every temporary file of Spark, the JVM and Python at the
    checkout, before the JVM starts."""
    for name, var in (("spark-local", "SPARK_LOCAL_DIRS"), ("tmp", "TMPDIR")):
        d = os.path.join(run_dir, name)
        os.makedirs(d, exist_ok=True)
        os.environ[var] = d
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    ).strip()


def headline(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }, separators=(",", ":"))


class Runner:
    """One benchmark run: owns the SparkSession and the JVM behind it."""

    def __init__(self, args: argparse.Namespace, workload, run_dir: str):
        self.args = args
        self.w = workload
        self.run_dir = run_dir
        self.spark = None
        self.ctx = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.detail: dict = {}

    # -- jobs -------------------------------------------------------------
    def attempt(self, fn, label: str):
        """Run one job; a raised error counts as a failed job."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # the run goes on; the failure is counted and kept
            self.failed += 1
            self.errors.append(f"{label}: {traceback.format_exc(limit=3)}")
            return None

    def timed_job(self) -> float | None:
        t0 = time.perf_counter()
        ok = self.attempt(lambda: self.w.job(self.ctx) or True, "job")
        wall = time.perf_counter() - t0
        return wall if ok else None

    # -- set-up -----------------------------------------------------------
    def start(self, cpus: int) -> float:
        """(Re)start the session and bind the written inputs to it."""
        from geo_epic_spark.session import get_spark
        from geo_epic_spark.sources.tables import TableIO

        from workloads import Ctx

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.ctx = Ctx(self.spark, TableIO(self.spark, os.path.join(self.run_dir, "in")),
                       self.args.seed, self.w.knobs, os.path.join(self.run_dir, "work"), {})
        return time.perf_counter() - t0

    def setup(self) -> tuple[float, dict | None]:
        """get_spark + input write + one warm-up job, whose outputs the
        checks read."""
        import inputs

        t0 = time.perf_counter()
        start_s = self.start(nproc())
        traced = self.args.trace == 1
        inputs.write_inputs(self.spark, self.ctx.io.root, self.args.seed, self.w.knobs,
                            {**self.w.tables, **(self.w.trace_tables if traced else {})})
        os.makedirs(self.ctx.work, exist_ok=True)
        self.w.load(self.ctx, traced)
        write_s = time.perf_counter() - t0 - start_s
        out = self.attempt(lambda: self.w.warmup(self.ctx), "warmup")
        total = time.perf_counter() - t0
        self.detail["setup"] = {"get_spark_s": start_s, "write_s": write_s,
                                "warmup_s": total - start_s - write_s, "total_s": total}
        return total, out

    # -- checks -----------------------------------------------------------
    def check(self, out: dict | None) -> dict:
        """Run the workload's oracles on the warm-up outputs; every failed
        check counts as one failure and is named on stderr."""
        if out is None:  # the warm-up job itself failed and was counted
            self.detail["checks"] = {"warmup": "failed"}
            return {}
        try:
            results, layer = self.w.verify(self.ctx, out)
        except Exception:  # a check that cannot run is a failed check
            self.attempted += 1
            self.failed += 1
            self.errors.append(f"check: {traceback.format_exc(limit=3)}")
            self.detail["checks"] = {"check": "raised"}
            return {}
        self.count_checks(results, "checks")
        return layer

    def count_checks(self, results: dict[str, list[str]], key: str) -> None:
        self.attempted += len(results)
        bad = {name: fails for name, fails in results.items() if fails}
        self.failed += len(bad)
        for name, fails in bad.items():
            print(f"check failed: {name}: {fails[0]}", file=sys.stderr)
        self.detail.setdefault(key, {}).update(
            {name: fails or "ok" for name, fails in results.items()})

    # -- measuring --------------------------------------------------------
    def untraced(self) -> dict:
        """Jobs back to back for --seconds and at least MIN_JOBS jobs."""
        times = []
        t_end = time.perf_counter() + self.args.seconds
        for n in itertools.count():
            if n >= MIN_JOBS and time.perf_counter() >= t_end:
                break
            wall = self.timed_job()
            if wall is not None:
                times.append(wall)
        self.detail["job_s"] = times
        return {"rows_per_s": self.w.knobs.n_img / statistics.median(times)} if times else {}

    def traced(self, layer_from_check: dict) -> dict:
        """Untraced jobs alternating with traced passes for --seconds.
        Tracing overhead: traced wall without probe spans minus untraced."""
        from spans import Tracer, self_time_by_name, stage_totals

        tracer = Tracer(uuid.uuid4().hex[:8], self.spark)
        passes, plain = [], []
        t_end = time.perf_counter() + self.args.seconds
        while time.perf_counter() < t_end or not passes:
            first = len(tracer.spans)
            with tracer.span(self.w.name) as root:
                result = self.attempt(lambda: self.w.traced(self.ctx, tracer), "traced")
            # the untraced job runs after its traced pass, on a JIT at least as
            # warm, so the overhead below errs high rather than low
            wall = self.timed_job()
            if wall is not None:
                plain.append(wall)
            if result is None:
                if time.perf_counter() >= t_end:
                    break
                continue
            counters, checks = result
            self.count_checks(checks, "trace_checks")
            spans = tracer.spans[first:]
            per = {SPAN_METRIC[n]: v for n, v in self_time_by_name(spans).items()
                   if n in SPAN_METRIC}
            tot = stage_totals(tracer.sc, [j for s in spans for j in tracer.jobs(s)])
            per.update(counters)
            per.update({
                "session.tasks": tot["numTasks"],
                "session.shuffle_bytes": tot["shuffleWriteBytes"],
                "session.spill_bytes": tot["memoryBytesSpilled"] + tot["diskBytesSpilled"],
                "session.gc_s": tot["jvmGcTime"] / 1000.0,
            })
            probes = sum(s.end - s.start for s in spans if s.probe)
            root.counters = {"wall_s": root.end - root.start, "probe_s": probes}
            passes.append((root.end - root.start - probes, per))
        tracer.dump(os.path.join(self.records, f"{self.stem}.spans.json"))
        self.detail["traced_pass_s"] = [p[0] for p in passes]
        self.detail["untraced_job_s"] = plain
        out = dict.fromkeys(PER_LAYER, 0.0)
        for name in out:
            vals = [p[1][name] for p in passes if name in p[1]]
            if vals:
                out[name] = statistics.median(vals)
        out.update(layer_from_check)
        if passes and plain:
            out["trace.overhead_s"] = (statistics.median(p[0] for p in passes)
                                       - statistics.median(plain))
        return out

    def scaling(self) -> None:
        """site_assign at local[1] next to local[nproc], for the detail file
        only: a 1->4 ratio on a shared box does not repeat within a tenth."""
        base = self.detail.get("untraced_job_s") or []
        self.start(1)
        self.w.load(self.ctx, traced=True)
        one = self.timed_job()
        if base and one is not None:
            self.detail["scaling"] = {
                "local_1_job_s": one,
                f"local_{nproc()}_job_s": statistics.median(base),
                "speedup": one / statistics.median(base),
            }

    # -- records ----------------------------------------------------------
    def host_record(self) -> dict:
        import pyspark

        conf = dict(self.spark.sparkContext.getConf().getAll())
        conf["spark.sql.shuffle.partitions"] = self.spark.conf.get(
            "spark.sql.shuffle.partitions")
        return {
            "nproc": nproc(),
            "ram_bytes": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"),
            "pyspark": pyspark.__version__,
            "java": self.spark._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            # session.py hard-codes both; recorded so a host-fit change has
            # a "before" to compare with
            "called_out_conf": {k: conf.get(k) for k in
                                ("spark.driver.memory", "spark.sql.shuffle.partitions")},
            "spark_conf": conf,
        }

    def jvm_record(self) -> dict:
        """Peak RSS, CPU and page faults of the driver JVM (from /proc), and
        its total GC time (from the status store)."""
        pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        out: dict = {}
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out["peak_rss_mb"] = int(line.split()[1]) / 1024.0
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            tick = os.sysconf("SC_CLK_TCK")
            out.update({"minor_faults": int(fields[7]), "major_faults": int(fields[9]),
                        "user_s": int(fields[11]) / tick, "sys_s": int(fields[12]) / tick})
        except OSError:
            pass
        execs = self.spark.sparkContext._jsc.sc().statusStore().executorList(True)
        out["gc_s"] = sum(execs.apply(i).totalGCTime() for i in range(execs.size())) / 1000.0
        return out

    def shutdown(self) -> None:
        """Stop Spark, then the JVM, and wait for both."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)

    def run(self) -> str:
        a = self.args
        self.records = os.path.join(WORK, "records")
        os.makedirs(self.records, exist_ok=True)
        self.stem = f"{self.w.name}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
        self.detail.update({"workload": self.w.name, "seed": a.seed, "seconds": a.seconds,
                            "trace": a.trace, "loadavg_before": os.getloadavg(),
                            "knobs": dataclasses.asdict(self.w.knobs)})
        setup_s, out = self.setup()
        self.detail["host"] = self.host_record()
        layer_from_check = self.check(out)
        if a.trace == 0:
            metrics = self.untraced()
            metrics["setup_s"] = setup_s
            values = {k: (metrics[k], u) for k, u in END_TO_END.items() if k in metrics}
        else:
            layer = self.traced(layer_from_check)
            layer["session.start_s"] = self.detail["setup"]["get_spark_s"]
            values = {k: (layer[k], u) for k, u in PER_LAYER.items()}
        self.detail["jvm"] = self.jvm_record()
        if a.trace == 1 and self.w.name == "site_assign":
            self.scaling()
        self.detail["loadavg_after"] = os.getloadavg()
        self.detail["attempted"], self.detail["failed"] = self.attempted, self.failed
        self.detail["error_rate"] = self.failed / max(self.attempted, 1)
        self.detail["errors"] = self.errors
        self.detail["metrics"] = {k: v for k, (v, _) in values.items()}
        with open(os.path.join(self.records, f"{self.stem}.json"), "w") as f:
            json.dump(self.detail, f, indent=1, default=str)
        complete = len(values) == (len(END_TO_END) if a.trace == 0 else len(PER_LAYER))
        return headline(self.failed == 0 and complete, self.attempted, self.failed, values)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import geo_epic_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: program under test not importable: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    isolate_scratch(run_dir)
    # Python workers start from the JVM's environment, not this sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])
    runner = Runner(args, workloads.WORKLOADS[args.workload], run_dir)
    try:
        line = runner.run()
    finally:
        runner.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
