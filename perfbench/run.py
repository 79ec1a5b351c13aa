#!/usr/bin/env python3
"""Service-loop benchmark of the CDC router.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload backlog_drain --seed 1 --seconds 15 --trace 0

It drives ``streaming.pipeline.metered_cdc_sink`` from seeded, generated
Debezium traffic landed as parquet files in the source directory of the
file-stream twin of the Kafka source, serves the counter registry with
``streaming.metrics.serve`` and scrapes it, checks every output against the
generator's own expectation, and prints as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (see ``spec.json``).
It exits 1 when an output is wrong or a trigger fails.

Everything it writes stays under ``.perfbench/`` in the checkout: a work
directory removed at exit and, for traced runs, the spans and a full report
under ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import multiprocessing
import os
import shutil
import subprocess
import sys
import tempfile
import time

import pyarrow.parquet as pq

from gen import Traffic, write_pool
from service import Pipeline, Scraper, median, pctl, routed_files, shutdown_jvm, spark_conf
from spans import Tracer, feed_metrics, install, spark_census

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRAPE_INTERVAL_S = 0.25


def parse_args(spec: dict) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def tree_cpu_s(root: int) -> float:
    """CPU seconds, user plus system, used so far by ``root`` and every
    process below it, counting children already reaped: the Python driver,
    the Spark JVM and any worker either of them starts."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    """The process's peak resident set (VmHWM), MiB."""
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) / 1024.0


class Bench:
    def __init__(self, args: argparse.Namespace, wl: dict, work: str) -> None:
        self.args, self.wl, self.work = args, wl, work
        self.ncpu = len(os.sched_getaffinity(0))
        self.traffic = Traffic(args.seed, self.wl["mix"])
        self.staging = os.path.join(work, "staging")
        os.makedirs(self.staging)
        self.spark = None
        self.jvm_pid = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._seq = 0
        self._pool: list = []
        if self.wl["loop"] == "closed":
            # a few distinct generated files, landed again under new names:
            # generating 50k messages in Python costs more than a trigger.
            # A child process writes them, so their Python objects do not
            # count in this process's peak resident set.
            pool_dir = os.path.join(work, "pool")
            os.makedirs(pool_dir)
            workers = multiprocessing.get_context("fork").Pool(1)
            try:
                self._pool = workers.apply(write_pool, (args.seed, self.wl["mix"], self.wl["file_messages"], self.wl["distinct_files"], pool_dir))
            finally:
                workers.close()
                workers.join()

    # -- inputs ---------------------------------------------------------
    def next_file(self):
        """A staged file for the next landing, with its expectation."""
        if not self._pool:
            return self.traffic.write(self.wl["file_messages"], self.staging)
        src, exp = self._pool[self._seq % len(self._pool)]
        self._seq += 1
        dst = os.path.join(self.staging, f"copy-{self._seq:06d}-{os.path.basename(src)}")
        shutil.copyfile(src, dst)
        return dst, exp

    # -- set-up ---------------------------------------------------------
    def setup(self, master: str, tag: str):
        """Session build + stream start + one warm-up trigger; returns the
        pipeline, the set-up seconds and the session-build seconds."""
        from flink_kafka_filter_transform_spark.session import get_session

        staged, exp = self.next_file()
        t0 = time.perf_counter()
        self.spark = get_session(app_name="perfbench", master=master, extra_conf=spark_conf(self.work))
        t_session = time.perf_counter() - t0
        pipe = Pipeline(self.spark, os.path.join(self.work, tag), self.traffic.rules, one_file_per_trigger=self.wl["loop"] == "closed")
        pipe.land(staged, exp)
        self.attempted += 1
        pipe.wait()
        t_setup = time.perf_counter() - t0
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        return pipe, t_setup, t_session

    def finish(self, pipe) -> None:
        self.errors += pipe.check()
        pipe.stop()

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- timed phase ----------------------------------------------------
    def settle(self, pipe, n_files: int) -> list[dict]:
        """Land n files one at a time, each drained before the next, and
        return the triggers that consumed them. As the untimed warm-up, it
        lets the JIT settle in a few seconds of wall time."""
        first_batch = max((t["batch"] for t in pipe.triggers()), default=-1) + 1
        for _ in range(n_files):
            pipe.land(*self.next_file())
            self.attempted += 1
            pipe.wait()
        return [t for t in pipe.triggers() if t["batch"] >= first_batch]

    def phase(self, pipe, seconds: float, tracer=None) -> dict:
        """Land the workload's traffic for ``seconds`` and wait until it is
        all processed; with a tracer, spans are recorded meanwhile."""
        first_batch = max((t["batch"] for t in pipe.triggers()), default=-1) + 1
        counts_before = (dict(pipe.registry.cdc_event), dict(pipe.registry.transform))
        landed: list[tuple[str, float, float]] = []  # (name, due, landed)
        if self.wl["loop"] == "open":
            # the whole schedule's files are generated before the clock
            # starts, so generating them takes no CPU from the loop
            staged = [self.next_file() for _ in range(math.ceil(seconds * self.wl["files_per_second"]))]
        if tracer is not None:
            tracer.enabled = True
        scraper = Scraper(pipe, SCRAPE_INTERVAL_S, tracer)
        scraper.start()
        cpu0 = (tree_cpu_s(os.getpid()), sum(os.times()[:2]))
        t0 = time.time()
        if self.wl["loop"] == "closed":
            while time.time() - t0 < seconds:
                staged = [self.next_file() for _ in range(self.wl["backlog_files"])]
                due = time.time()
                for path, exp in staged:
                    landed.append((os.path.basename(path), due, pipe.land(path, exp)))
                pipe.wait()
        else:
            period = 1.0 / self.wl["files_per_second"]
            for i, (path, exp) in enumerate(staged):
                due = t0 + (i + 1) * period
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                landed.append((os.path.basename(path), due, pipe.land(path, exp)))
            pipe.wait()
        t1 = time.time()
        cpu1 = (tree_cpu_s(os.getpid()), sum(os.times()[:2]))
        scrapes = scraper.finish()
        if tracer is not None:
            tracer.enabled = False
        trig = [t for t in pipe.triggers() if t["batch"] >= first_batch]
        self.attempted += len(trig)
        cpu = (cpu1[0] - cpu0[0], cpu1[1] - cpu0[1])
        ph = summarize(trig, landed, scrapes, self.wl["file_messages"], t0, t1, cpu)
        ph.update(counter_deltas(pipe.registry, *counts_before))
        return ph

    # -- runs -----------------------------------------------------------
    def measure(self, tracer=None):
        """The cold set-up, which also launches the JVM; an untimed
        warm-up on the workload's own files; then the timed phase."""
        pipe, t_setup, t_session = self.setup(f"local[{self.ncpu}]", "main")
        self.settle(pipe, self.wl["settle_files"])
        ph = self.phase(pipe, self.args.seconds, tracer)
        ph["setup_s"] = t_setup
        ph["session_build_s"] = t_session
        ph["peak_rss_mb_python"] = peak_rss_mb(os.getpid())
        ph["peak_rss_mb_jvm"] = peak_rss_mb(self.jvm_pid)
        self._log(
            f"setup_s {t_setup:.3f} rss_mb python {ph['peak_rss_mb_python']:.0f} jvm {ph['peak_rss_mb_jvm']:.0f} "
            f"cpu_s {ph['cpu_s']:.2f} (python {ph['python_cpu_s']:.2f}) wall_s {ph['t1'] - ph['t0']:.2f} "
            f"trigger_ms {ph['trigger_ms']} scrape_ms {[round(s, 1) for s in ph['scrape_ms']]} files {ph['n_files']}"
        )
        return pipe, ph

    def run_untraced(self) -> dict:
        pipe, ph = self.measure()
        self.finish(pipe)
        return {k: (ph[k], unit) for k, unit in E2E_UNITS.items()}

    def run_traced(self) -> dict:
        tracer = Tracer()
        restore = install(tracer)
        try:
            # the traced phase stands where an untraced run times its phase;
            # the shorter untraced phase after it, only for the overhead, is
            # warmer, so the overhead is an upper bound
            pipe, traced = self.measure(tracer)
            plain = self.phase(pipe, self.args.seconds / 2)
        finally:
            restore()
        feeds = [s for s in tracer.spans if s["name"] == "pipeline.feed"]
        m = {}
        m.update(spark_census(self.spark, traced["t0"], traced["t1"], feeds, traced["n_triggers"]))
        m.update(feed_metrics(tracer.spans))
        m.update(phase_layer(traced))
        m["session.build_s"] = (traced["session_build_s"], "s")
        m["peak_rss_mb.jvm"] = (traced["peak_rss_mb_jvm"], "MB")
        m["peak_rss_mb.python"] = (traced["peak_rss_mb_python"], "MB")
        m["registry.series"] = (len(pipe.registry.cdc_event) + len(pipe.registry.transform), "count")
        parts = routed_files(pipe.out, set(traced["batches"]))
        m["sink.rows_written"] = (sum(pq.read_metadata(p).num_rows for p in parts), "count")
        m["sink.files_written"] = (len(parts), "count")
        m["sink.bytes_written"] = (sum(os.path.getsize(p) for p in parts), "bytes")
        m.update({k: (plain[k], unit) for k, unit in WALL_UNITS.items()})
        n = plain["n_triggers"]
        m["cpu.jvm_ms_per_trigger"] = ((plain["cpu_s"] - plain["python_cpu_s"]) * 1000.0 / n, "ms")
        m["cpu.python_ms_per_trigger"] = (plain["python_cpu_s"] * 1000.0 / n, "ms")
        units = {**WALL_UNITS, **E2E_UNITS}
        for k in ("trigger_ms_p50", "freshness_ms_p50", "drain_msgs_per_s", "msgs_per_cpu_s"):
            m[f"trace.overhead_{k}"] = (traced[k] - plain[k], units[k])
        self.finish(pipe)
        self.stop_session()

        # one file per trigger, as in the phases at local[nproc]
        base_pipe, _, _ = self.setup("local[1]", "single_core")
        base_trig = self.settle(base_pipe, self.wl["single_core_files"])
        self.finish(base_pipe)
        busy_s = sum(t["ms"]["triggerExecution"] for t in base_trig) / 1000.0
        base = {"drain_msgs_per_s": sum(len(t["files"]) for t in base_trig) * self.wl["file_messages"] / busy_s}
        m["spark.parallel_speedup"] = (plain["drain_msgs_per_s"] / base["drain_msgs_per_s"], "ratio")
        shutdown_jvm()
        m.update(self.rule_capacity_probe())

        out_dir = os.path.join(ROOT, ".perfbench", "out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{self.args.workload}-seed{self.args.seed}")
        tracer.dump(stem + "-spans.json")
        with open(stem + "-report.json", "w") as f:
            phases = {"untraced": plain, "traced": traced, "single_core": base}
            json.dump({"phases": phases, "metrics": m}, f, indent=1)
        return m

    def rule_capacity_probe(self) -> dict:
        """probe.py in a child process with its own JVM; see its docstring."""
        cmd = [sys.executable, os.path.join(HERE, "probe.py"), "--seed", str(self.args.seed), "--work", self.work]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=150)
        for line in p.stderr.splitlines():
            if line.startswith("[perfbench probe]"):
                self._log(line)
        if p.returncode != 0:
            raise RuntimeError(f"rule-capacity probe exited {p.returncode}: {p.stderr[-2000:]}")
        return {k: (v, "count" if k == "cdc.max_rules_ok" else "ms") for k, v in json.loads(p.stdout.splitlines()[-1]).items()}

    def _log(self, msg: str) -> None:
        print(f"[perfbench {self.args.workload}] {msg}", file=sys.stderr, flush=True)


def summarize(trig: list[dict], landed: list[tuple[str, float, float]], scrapes, file_messages: int, t0: float, t1: float, cpu: tuple[float, float]) -> dict:
    """End-to-end figures of one timed phase; ``cpu`` is the CPU seconds
    the phase took in the whole process tree and in the Python driver."""
    end_of = {f: t["end"] for t in trig for f in t["files"]}
    missing = [name for name, _, _ in landed if name not in end_of]
    if missing:
        raise RuntimeError(f"{len(missing)} landed files were not consumed by a trigger of the phase")
    fresh = [(end_of[name] - due) * 1000.0 for name, due, _ in landed]
    busy = sum(t["ms"]["triggerExecution"] for t in trig) / 1000.0
    # backlog seen at each landing: files landed by then and not yet committed
    backlog = [sum(1 for n2, _, l2 in landed if l2 <= at and end_of[n2] > at) for _, _, at in landed]
    ms = lambda key: [t["ms"].get(key, 0) for t in trig]  # noqa: E731
    return {
        "t0": t0,
        "t1": t1,
        "batches": [t["batch"] for t in trig],
        "n_triggers": len(trig),
        "n_files": len(landed),
        "cpu_s": cpu[0],
        "python_cpu_s": cpu[1],
        "msgs_per_cpu_s": len(landed) * file_messages / cpu[0],
        "trigger_ms": ms("triggerExecution"),
        "scrape_ms": [s[0] for s in scrapes],
        "drain_msgs_per_s": len(landed) * file_messages / busy,
        "trigger_ms_p50": median(ms("triggerExecution")),
        "freshness_ms_p50": median(fresh),
        "freshness_ms_p90": pctl(fresh, 0.9),
        "scrape_ms_p50": median([s[0] for s in scrapes]),
        "body_bytes_p50": median([s[1] for s in scrapes]),
        "gen_lag_ms_p90": pctl([(l - d) * 1000.0 for _, d, l in landed], 0.9),
        "backlog_files_max": max(backlog),
        "latest_offset_ms_p50": median(ms("latestOffset")),
        "get_batch_ms_p50": median(ms("getBatch")),
        "query_planning_ms_p50": median(ms("queryPlanning")),
        "add_batch_ms_p50": median(ms("addBatch")),
        "wal_commit_ms_p50": median(ms("walCommit")),
        "commit_offsets_ms_p50": median(ms("commitOffsets")),
    }


E2E_UNITS = {
    "setup_s": "s",
    "msgs_per_cpu_s": "msg/cpu_s",
}
# wall-clock figures of the loop: reported by the traced run, not gated,
# because on a shared host they follow the neighbours' load (see README)
WALL_UNITS = {
    "drain_msgs_per_s": "msg/s",
    "trigger_ms_p50": "ms",
    "freshness_ms_p50": "ms",
    "freshness_ms_p90": "ms",
    "scrape_ms_p50": "ms",
}


def counter_deltas(registry, before_in: dict, before_out: dict) -> dict:
    """What the program's own counters say a phase did."""
    d_in = {k: v - before_in.get(k, 0) for k, v in registry.cdc_event.items()}
    total = sum(d_in.values())
    forwarded = sum(v - before_out.get(k, 0) for k, v in registry.transform.items())
    deleted = sum(v for k, v in d_in.items() if k[3] == "d")
    malformed = sum(v for k, v in d_in.items() if k[3] == "")
    return {
        "forward_ratio": forwarded / total if total else float("nan"),
        "deleted_rows": deleted,
        "malformed_rows": malformed,
        "unrouted_rows": total - deleted - malformed - forwarded,
    }


def phase_layer(ph: dict) -> dict:
    """Per-layer figures of a phase: streaming progress, generator, scrapes
    and the program's counters."""
    return {
        "cdc.forward_ratio": (ph["forward_ratio"], "ratio"),
        "cdc.deleted_rows": (ph["deleted_rows"], "count"),
        "cdc.malformed_rows": (ph["malformed_rows"], "count"),
        "cdc.unrouted_rows": (ph["unrouted_rows"], "count"),
        "metrics.body_bytes": (ph["body_bytes_p50"], "bytes"),
        "source.latest_offset_ms_p50": (ph["latest_offset_ms_p50"], "ms"),
        "source.get_batch_ms_p50": (ph["get_batch_ms_p50"], "ms"),
        "source.backlog_files_max": (ph["backlog_files_max"], "count"),
        "gen.lag_ms_p90": (ph["gen_lag_ms_p90"], "ms"),
        "trigger.count": (ph["n_triggers"], "count"),
        "trigger.query_planning_ms_p50": (ph["query_planning_ms_p50"], "ms"),
        "trigger.add_batch_ms_p50": (ph["add_batch_ms_p50"], "ms"),
        "trigger.wal_commit_ms_p50": (ph["wal_commit_ms_p50"], "ms"),
        "trigger.commit_offsets_ms_p50": (ph["commit_offsets_ms_p50"], "ms"),
    }


def main() -> int:
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    args = parse_args(spec)
    sys.path.insert(0, ROOT)
    # the program under test; absent from a checkout that holds only the
    # benchmark, where the run must fail before printing a result
    import flink_kafka_filter_transform_spark  # noqa: F401

    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher's too: temp files in the work
    # directory, and no hsperfdata file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    tempfile.tempdir = None

    from pyspark.errors import StreamingQueryException

    try:
        bench = Bench(args, spec["workloads"][args.workload], work)
        try:
            metrics = bench.run_traced() if args.trace else bench.run_untraced()
        except StreamingQueryException as e:
            bench.failed += 1
            bench.errors.append(f"trigger failed: {str(e).splitlines()[0]}")
            metrics = {}
        failed = bench.failed + (1 if bench.errors else 0)
        if not args.trace:
            metrics["trigger_ok_ratio"] = (1.0 - failed / max(1, bench.attempted), "ratio")
        for err in bench.errors:
            print(f"[perfbench] CHECK FAILED: {err}", file=sys.stderr)
        unmeasured = sorted(k for k, (v, _) in metrics.items() if not math.isfinite(v))
        if unmeasured:
            raise RuntimeError(f"no samples for {unmeasured}")
        result = {
            "correct": not bench.errors,
            "attempted": max(1, bench.attempted),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
        }
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
