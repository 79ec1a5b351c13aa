"""Spans recorded around the program's public entry points, from outside.

``install`` wraps, for the life of one traced run:

- the function handed to ``DataStreamWriter.foreachBatch`` (span
  ``pipeline.feed``; the trace id is the batch id);
- the plan builders ``operators.cdc.parse_envelope``, ``route_when_chain``,
  ``inbound_counts``, ``outbound_counts`` and ``project_outgoing`` (spans
  ``cdc.<name>``), tagging the DataFrames they return;
- the actions ``collect`` on the classic DataFrame and
  ``DataFrameWriter.parquet`` (spans ``action.collect`` and
  ``action.parquet``), each noting the builder tag of its DataFrame and
  whether running it parses the envelope (see ``parses_envelope``);
- ``CounterRegistry.inc_cdc_event``, ``inc_transform`` and ``render``.

Spans are kept in memory while the tracer is enabled and written out once at
the end. Nothing in the program changes; the wrappers are removed again by
the callable ``install`` returns.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager

from service import iso_ms, median

CDC_BUILDERS = ("parse_envelope", "route_when_chain", "inbound_counts", "outbound_counts", "project_outgoing")
ACTIONS = ("action.collect", "action.parquet")


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, trace=None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace if trace is not None else (parent["trace"] if parent else None),
            "attrs": attrs,
        }
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def install(tracer: Tracer):
    """Wrap the entry points listed in the module docstring; returns a
    callable that restores the originals."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from flink_kafka_filter_transform_spark.operators import cdc
    from flink_kafka_filter_transform_spark.streaming.metrics import CounterRegistry

    saved = []

    def patch(owner, name, make) -> None:
        orig = getattr(owner, name)
        saved.append((owner, name, orig))
        setattr(owner, name, functools.wraps(orig)(make(orig)))

    def for_each_batch(orig):
        def wrapper(self, func):
            def feed(df, batch_id):
                with tracer.span("pipeline.feed", trace=batch_id):
                    return func(df, batch_id)

            return orig(self, feed)

        return wrapper

    def builder(orig, name):
        def wrapper(*args, **kwargs):
            with tracer.span("cdc." + name):
                df = orig(*args, **kwargs)
            if tracer.enabled:
                df._perfbench_tag = name
            return df

        return wrapper

    def action(orig, span_name):
        def wrapper(self, *args, **kwargs):
            if not tracer.enabled:
                return orig(self, *args, **kwargs)
            df = self if isinstance(self, DataFrame) else self._df
            with tracer.span("trace.plan_check"):
                parses = parses_envelope(df._jdf)
            with tracer.span(span_name, tag=df.__dict__.get("_perfbench_tag"), parses=parses):
                return orig(self, *args, **kwargs)

        return wrapper

    def plain(orig, span_name):
        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                return orig(*args, **kwargs)

        return wrapper

    patch(DataStreamWriter, "foreachBatch", for_each_batch)
    for name in CDC_BUILDERS:
        patch(cdc, name, functools.partial(builder, name=name))
    patch(DataFrame, "collect", functools.partial(action, span_name="action.collect"))
    patch(DataFrameWriter, "parquet", functools.partial(action, span_name="action.parquet"))
    for name in ("inc_cdc_event", "inc_transform", "render"):
        patch(CounterRegistry, name, functools.partial(plain, span_name="registry." + name))

    def restore() -> None:
        for owner, name, orig in reversed(saved):
            setattr(owner, name, orig)

    return restore


def parses_envelope(jdf) -> bool:
    """Whether running this plan evaluates the envelope ``from_json``.

    Read on the cache-substituted plan: a ``from_json`` outside any cached
    relation parses, and a cached relation parses only while its data is not
    yet materialised, so a persisted parse counts once per trigger.
    """
    stack = [jdf.queryExecution().withCachedData()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "InMemoryRelation":
            cache = node.cacheBuilder()
            if not cache.isCachedColumnBuffersLoaded() and "from_json" in cache.cachedPlan().toString():
                return True
            continue
        if "from_json" in node.expressions().toString():
            return True
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return False


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi):
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def feed_metrics(spans: list[dict]) -> dict:
    """Per-trigger medians of the feed body's spans (one trace per batch)."""
    by_trace: dict = {}
    for s in spans:
        if s["trace"] is not None:
            by_trace.setdefault(s["trace"], []).append(s)
    self_ms, route_ms, inb_s, outb_s, write_s, inc_ms, parse_actions = [], [], [], [], [], [], []
    for group in by_trace.values():
        feed = [s for s in group if s["name"] == "pipeline.feed"]
        if not feed:
            continue
        f = feed[0]
        acts = [s for s in group if s["name"] in ACTIONS]
        checks = [s for s in group if s["name"] == "trace.plan_check"]
        excluded = _covered([(s["start"], s["end"]) for s in acts + checks], f["start"], f["end"])
        self_ms.append((f["end"] - f["start"] - excluded) * 1000.0)
        route_ms.append(sum(s["end"] - s["start"] for s in group if s["name"] == "cdc.route_when_chain") * 1000.0)
        dur = lambda pred: sum(s["end"] - s["start"] for s in acts if pred(s))  # noqa: E731
        inb_s.append(dur(lambda s: s["attrs"].get("tag") == "inbound_counts"))
        outb_s.append(dur(lambda s: s["attrs"].get("tag") == "outbound_counts"))
        write_s.append(dur(lambda s: s["name"] == "action.parquet"))
        inc_ms.append(sum(s["end"] - s["start"] for s in group if s["name"].startswith("registry.inc_")) * 1000.0)
        parse_actions.append(sum(1 for s in acts if s["attrs"].get("parses")))
    render = [(s["end"] - s["start"]) * 1000.0 for s in spans if s["name"] == "registry.render"]
    return {
        "feed.self_ms_p50": (median(self_ms), "ms"),
        "cdc.route_build_ms_p50": (median(route_ms), "ms"),
        "cdc.inbound_count_s": (median(inb_s), "s"),
        "cdc.outbound_count_s": (median(outb_s), "s"),
        "cdc.parse_actions_per_trigger": (median(parse_actions), "count"),
        "sink.write_s": (median(write_s), "s"),
        "registry.inc_ms_per_trigger": (median(inc_ms), "ms"),
        "registry.render_ms_p50": (median(render), "ms"),
    }


def _rest(spark, path: str):
    sc = spark.sparkContext
    port = urllib.parse.urlparse(sc.uiWebUrl).port
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def spark_census(spark, t0: float, t1: float, feeds: list[dict], n_triggers: int) -> dict:
    """Job, stage and task counts, shuffle bytes, executor CPU and driver
    gaps of the window [t0, t1], from the Spark UI's REST API."""
    # the UI store is fed by the asynchronous listener bus: let it settle
    prev = None
    for _ in range(20):
        jobs = _rest(spark, "jobs")
        done = [j for j in jobs if j.get("status") != "RUNNING"]
        if prev is not None and len(done) == prev:
            break
        prev = len(done)
        time.sleep(0.5)
    stages = _rest(spark, "stages")
    in_window = lambda x: "submissionTime" in x and t0 <= iso_ms(x["submissionTime"]) <= t1  # noqa: E731
    jobs = [j for j in jobs if in_window(j)]
    stages = [s for s in stages if in_window(s)]
    job_iv = [(iso_ms(j["submissionTime"]), iso_ms(j.get("completionTime", j["submissionTime"]))) for j in jobs]
    gaps = [((f["end"] - f["start"]) - _covered(job_iv, f["start"], f["end"])) * 1000.0 for f in feeds]
    n = max(1, n_triggers)
    return {
        "spark.jobs_per_trigger": (len(jobs) / n, "count"),
        "spark.stages_per_trigger": (len(stages) / n, "count"),
        "spark.tasks_per_trigger": (sum(s.get("numTasks", 0) for s in stages) / n, "count"),
        "spark.driver_gap_ms_per_trigger": (median(gaps), "ms"),
        "spark.shuffle_write_bytes_per_trigger": (sum(s.get("shuffleWriteBytes", 0) for s in stages) / n, "bytes"),
        "spark.executor_cpu_s": (sum(s.get("executorCpuTime", 0) for s in stages) / 1e9 / n, "s"),
    }
