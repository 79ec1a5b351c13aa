"""One running instance of the router's service loop, and its checks.

A ``Pipeline`` is ``streaming.pipeline.metered_cdc_sink`` started over the
parquet file-stream twin of the Kafka source, with a fresh
``streaming.metrics.CounterRegistry`` served by ``streaming.metrics.serve``
on an ephemeral loopback port. The benchmark lands generated files in its
source directory and reads back what the program did: streaming progress,
the checkpoint's file-to-batch log, the registry, the scraped ``/metrics``
body and the routed parquet.
"""

from __future__ import annotations

import json
import math
import os
import re
import statistics
import subprocess
import threading
import time
import urllib.request
from datetime import datetime

import pyarrow.parquet as pq

from gen import Expected, land, row_hash

SCHEMA_DDL = "topic STRING, key STRING, value BINARY"
_MASK64 = (1 << 64) - 1
_SERIES = re.compile(r"^(\w+)\{(.*)\} (\d+)$")
_LABEL = re.compile(r'(\w+)="((?:[^"\\]|\\.)*)"')


def spark_conf(work: str) -> dict:
    """Session settings that keep every file Spark writes inside the work
    directory, and keep every trigger's progress report."""
    return {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }


def shutdown_jvm() -> None:
    """Stop the Spark session and the JVM pyspark launched, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def iso_ms(ts: str) -> float:
    """Epoch seconds of a Spark progress or REST timestamp."""
    return datetime.fromisoformat(ts.replace("GMT", "+00:00").replace("Z", "+00:00")).timestamp()


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def pctl(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class Pipeline:
    """metered_cdc_sink over a file source in ``base``, plus its /metrics."""

    def __init__(self, spark, base: str, rules: list[dict], one_file_per_trigger: bool) -> None:
        from flink_kafka_filter_transform_spark.streaming import metrics, pipeline

        self.src = os.path.join(base, "src")
        self.ckpt = os.path.join(base, "ckpt")
        self.out = os.path.join(base, "out")
        os.makedirs(self.src)
        self.registry = metrics.CounterRegistry()
        self.server = metrics.serve(self.registry, port=0, host="127.0.0.1")
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}/metrics"
        reader = spark.readStream.schema(SCHEMA_DDL)
        if one_file_per_trigger:
            reader = reader.option("maxFilesPerTrigger", "1")
        writer = pipeline.metered_cdc_sink(reader.parquet(self.src), rules, self.registry, self.out, self.ckpt)
        self.query = writer.start()
        self.expected = Expected()

    def land(self, staged: str, exp: Expected) -> float:
        """Land a staged file; returns the epoch second it became visible."""
        land(staged, self.src)
        self.expected.add(exp)
        return time.time()

    def wait(self) -> None:
        self.query.processAllAvailable()

    def scrape(self) -> tuple[float, bytes]:
        t = time.perf_counter()
        with urllib.request.urlopen(self.url, timeout=30) as r:
            body = r.read()
        return (time.perf_counter() - t) * 1000.0, body

    def triggers(self) -> list[dict]:
        """Non-empty triggers so far: batch id, start/end epoch seconds,
        the durationMs split, and the landed files the batch consumed."""
        batch_files: dict[int, list[str]] = {}
        log_dir = os.path.join(self.ckpt, "sources", "0")
        for fn in os.listdir(log_dir) if os.path.isdir(log_dir) else []:
            if fn.startswith("."):
                continue
            with open(os.path.join(log_dir, fn)) as f:
                for line in f:
                    if line.startswith("{"):
                        e = json.loads(line)
                        batch_files.setdefault(int(e["batchId"]), []).append(os.path.basename(e["path"]))
        out = []
        for p in self.query.recentProgress:
            if not p.numInputRows:
                continue
            start = iso_ms(p.timestamp)
            d = dict(p.durationMs)
            files = sorted(set(batch_files.get(p.batchId, [])))
            out.append({"batch": p.batchId, "start": start, "end": start + d["triggerExecution"] / 1000.0, "ms": d, "files": files})
        return out

    def stop(self) -> None:
        try:
            self.query.stop()
        finally:
            self.server.shutdown()
            self.server.server_close()

    def check(self) -> list[str]:
        """Compare registry, scrape body and routed parquet with what the
        generator expects for every file landed here; [] when all agree."""
        errs = []
        exp_in = {k: v for k, v in self.expected.inbound.items() if v}
        exp_out = {k: v for k, v in self.expected.outbound.items() if v}
        if dict(self.registry.cdc_event) != exp_in:
            errs.append(f"registry.cdc_event differs from expected ({_diff(self.registry.cdc_event, exp_in)})")
        if dict(self.registry.transform) != exp_out:
            errs.append(f"registry.transform differs from expected ({_diff(self.registry.transform, exp_out)})")
        _, body = self.scrape()
        got_in, got_out = parse_scrape(body.decode())
        if got_in != exp_in:
            errs.append(f"/metrics flink_cdc_event_count differs ({_diff(got_in, exp_in)})")
        if got_out != exp_out:
            errs.append(f"/metrics flink_kafka_filter_transform_count differs ({_diff(got_out, exp_out)})")
        rows, checksum = 0, 0
        for path in routed_files(self.out):
            for b in pq.ParquetFile(path).iter_batches(batch_size=4096, columns=["topic", "key", "value"]):
                rows += b.num_rows
                for topic, key, value in zip(*(col.to_pylist() for col in b.columns)):
                    checksum = (checksum + row_hash(topic, key, value)) & _MASK64
        if rows != self.expected.routed_rows:
            errs.append(f"routed parquet has {rows} rows, expected {self.expected.routed_rows}")
        elif checksum != self.expected.routed_checksum:
            errs.append("routed parquet (topic, key, value) checksum differs from the generator's")
        return errs


def routed_files(out_dir: str, batches: set[int] | None = None) -> list[str]:
    """Parquet part files of the routed output, optionally of some batches."""
    found = []
    if not os.path.isdir(out_dir):
        return found
    for d in sorted(os.listdir(out_dir)):
        if not d.startswith("_batch_id="):
            continue
        if batches is not None and int(d.split("=", 1)[1]) not in batches:
            continue
        for fn in sorted(os.listdir(os.path.join(out_dir, d))):
            if fn.endswith(".parquet"):
                found.append(os.path.join(out_dir, d, fn))
    return found


def parse_scrape(body: str) -> tuple[dict, dict]:
    """The two counter families of an OpenMetrics body as label-tuple maps."""
    inbound, outbound = {}, {}
    for line in body.splitlines():
        m = _SERIES.match(line)
        if not m:
            continue
        labels = {k: v.replace('\\"', '"').replace("\\n", "\n").replace("\\\\", "\\") for k, v in _LABEL.findall(m.group(2))}
        if m.group(1) == "flink_cdc_event_count_total":
            inbound[(labels["topic"], labels["db"], labels["table"], labels["op"])] = int(m.group(3))
        elif m.group(1) == "flink_kafka_filter_transform_count_total":
            outbound[(labels["topic"], labels["op"])] = int(m.group(3))
    return inbound, outbound


def _diff(got: dict, want: dict) -> str:
    keys = sorted(set(got) | set(want), key=str)
    bad = [(k, got.get(k), want.get(k)) for k in keys if got.get(k) != want.get(k)]
    return f"{len(bad)} labels differ, first: {bad[:3]}"


class Scraper(threading.Thread):
    """GET /metrics every ``interval`` seconds until stopped."""

    def __init__(self, pipe: Pipeline, interval: float, tracer=None) -> None:
        super().__init__(name="perfbench-scraper", daemon=True)
        self.pipe, self.interval, self.tracer = pipe, interval, tracer
        self.samples: list[tuple[float, int]] = []  # (round trip ms, body bytes)
        self.error: Exception | None = None
        self._stop_event = threading.Event()

    def run(self) -> None:
        try:
            while not self._stop_event.wait(self.interval):
                if self.tracer is not None:
                    with self.tracer.span("metrics.scrape"):
                        ms, body = self.pipe.scrape()
                else:
                    ms, body = self.pipe.scrape()
                self.samples.append((ms, len(body)))
        except Exception as e:  # re-raised by finish() in the caller's thread
            self.error = e

    def finish(self) -> list[tuple[float, int]]:
        self._stop_event.set()
        self.join(timeout=60)
        if self.is_alive():
            raise RuntimeError("scraper thread did not stop")
        if self.error is not None:
            raise self.error
        return self.samples
