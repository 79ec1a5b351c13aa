"""Rule-capacity probe of ``operators.cdc.route_when_chain``.

Routes a one-message batch through the when-chain built from growing
tables of anchored rules (``SIZES``); the message matches only the last
rule, so every branch is evaluated. For each size it reports the wall time
of the ``route_when_chain`` call (``withColumn`` analyses eagerly) and of
the call plus a one-row ``collect``, each up to the failure when there is
one, and the largest size that built, ran and routed correctly.

Deep chains overflow the JVM stack or exhaust the driver heap, so the probe
runs in a process and JVM of its own; ``run.py`` starts it, reads the last
stdout line as JSON and waits for it to exit:

    python3 perfbench/probe.py --seed 1 --work .perfbench/work/<dir>
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

from gen import DBS, TOPICS
from service import SCHEMA_DDL, shutdown_jvm, spark_conf

SIZES = (100, 200, 400, 800, 1000)


def anchored_rules(rng: random.Random, n: int) -> list[dict]:
    """A whole-database sync config: one anchored rule per table, each bound
    to one (topic, db)."""
    prefixes = ("orders", "users", "items", "events")
    return [
        {
            "priority": i + 1,
            "source_topic": TOPICS[i % len(TOPICS)],
            "db": DBS[(i // len(TOPICS)) % len(DBS)],
            "table_pattern": f"^{rng.choice(prefixes)}_{i:04d}$",
            "target_topic": f"sync-{i % 16:02d}",
        }
        for i in range(n)
    ]


def probe(spark, seed: int) -> dict:
    from py4j.protocol import Py4JJavaError

    from flink_kafka_filter_transform_spark.operators import cdc

    m, max_ok = {}, 0
    for n in SIZES:
        rules = anchored_rules(random.Random(seed * 7919 + n), n)
        last = rules[-1]
        env = json.dumps({"before": None, "after": {"id": 1}, "op": "c", "source": {"db": last["db"], "table": last["table_pattern"][1:-1]}}).encode()
        parsed = cdc.parse_envelope(spark.createDataFrame([(last["source_topic"], "1", env)], SCHEMA_DDL))
        t = time.perf_counter()
        build_ms = None
        try:
            routed = cdc.route_when_chain(parsed, rules)
            build_ms = (time.perf_counter() - t) * 1000.0
            got = [r["target_topic"] for r in routed.select("target_topic").collect()]
            if got == [last["target_topic"]]:
                max_ok = n
            else:
                print(f"[perfbench probe] r{n}: routed to {got}, expected {last['target_topic']}", file=sys.stderr)
        except Py4JJavaError as e:
            print(f"[perfbench probe] r{n}: {e.java_exception.getClass().getName()}", file=sys.stderr)
        total_ms = (time.perf_counter() - t) * 1000.0
        m[f"cdc.route_build_ms.r{n}"] = total_ms if build_ms is None else build_ms
        m[f"cdc.route_ms.r{n}"] = total_ms
    m["cdc.max_rules_ok"] = max_ok
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from flink_kafka_filter_transform_spark.session import get_session

    try:
        spark = get_session(app_name="perfbench-rule-probe", master=f"local[{len(os.sched_getaffinity(0))}]", extra_conf=spark_conf(args.work))
        # the 64 KB codegen fallback logs whole plans at WARN
        spark.sparkContext.setLogLevel("ERROR")
        result = probe(spark, args.seed)
    finally:
        shutdown_jvm()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
