"""Seeded Debezium traffic generator and its independent expectations.

The generator is the benchmark's only source of input: it writes
``(topic, key, value)`` parquet files with pyarrow, where ``value`` holds a
Debezium envelope as opaque bytes, and it lands each file in the stream's
source directory with an atomic rename. For every message it also keeps, in
pure Python and from its own labels, what the router must report:

- the inbound counter map ``{(topic, db, table, op): n}`` over all messages,
  with malformed and tombstone payloads under empty labels, as the metered
  sink coalesces NULL labels;
- the outbound counter map ``{(target_topic, op): n}`` over forwarded
  messages, routed by ``re.search`` with the first matching rule in priority
  order;
- the routed row count and an order-independent checksum of the forwarded
  ``(topic, key, value)`` rows, so the payload must pass through untouched.

Nothing here imports Spark or the package under test.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema([("topic", pa.string()), ("key", pa.string()), ("value", pa.binary())])
TOPICS = ("flink-1", "flink-2")
DBS = ("db_1", "db_2", "db_3")
_MASK64 = (1 << 64) - 1


def row_hash(topic: str, key: str, value: bytes) -> int:
    """64-bit hash of one forwarded row; summed, it is order-independent."""
    h = hashlib.blake2b(digest_size=8)
    h.update(topic.encode())
    h.update(b"\0")
    h.update(key.encode())
    h.update(b"\0")
    h.update(value)
    return int.from_bytes(h.digest(), "little")


@dataclass
class Expected:
    """What the router must report for the messages landed so far."""

    inbound: Counter = field(default_factory=Counter)
    outbound: Counter = field(default_factory=Counter)
    routed_rows: int = 0
    routed_checksum: int = 0

    def add(self, other: "Expected") -> None:
        self.inbound.update(other.inbound)
        self.outbound.update(other.outbound)
        self.routed_rows += other.routed_rows
        self.routed_checksum = (self.routed_checksum + other.routed_checksum) & _MASK64


def reference_rules() -> list[dict]:
    """The 7-rule reference config, copied so the expectation is computed
    from the benchmark's own rule list and not from the program's."""
    return [
        {"priority": 1, "source_topic": "flink-1", "db": "db_1", "table_pattern": "ticket_sms_[0-9]+", "target_topic": "sms-topic-1"},
        {"priority": 2, "source_topic": "flink-1", "db": "db_1", "table_pattern": "gsms_msg_.*", "target_topic": "gsms-catchall"},
        {"priority": 3, "source_topic": "flink-2", "db": "db_1", "table_pattern": "ticket_sms_[0-9]+", "target_topic": "sms-topic-2"},
        {"priority": 4, "source_topic": "flink-1", "db": "db_2", "table_pattern": "frame_[0-9]+", "target_topic": "frame-topic"},
        {"priority": 5, "source_topic": "flink-2", "db": "db_2", "table_pattern": "gsms_msg_.*", "target_topic": "gsms-topic-2"},
        {"priority": 6, "source_topic": "flink-1", "db": "db_3", "table_pattern": "^table_[0-9]+$", "target_topic": "table-topic"},
        {"priority": 7, "source_topic": "flink-2", "db": "db_3", "table_pattern": "audit.*", "target_topic": "audit-topic"},
    ]


def _reference_tables(rng: random.Random, n: int) -> list[str]:
    """~n table names from the regex-edge families of the reference rules,
    including near misses of the anchored and prefixed patterns."""
    families = [
        lambda i: f"gsms_msg_ticket_sms_{i}",
        lambda i: f"gsms_msg_frame_{i}",
        lambda i: f"table_{i}",
        lambda i: f"audit_log_{i}",
        lambda i: f"unmatched_tbl_{i}",
        lambda i: f"table_{i}_bak",
        lambda i: f"ticket_sms_x{i}",
    ]
    names: set[str] = set()
    while len(names) < n:
        names.add(rng.choice(families)(rng.randrange(1000)))
    return sorted(names)


class Traffic:
    """Seeded message source for one workload, routed by the reference rules.

    ``mix`` keys: ``tables`` (distinct table names), ``delete_share``,
    ``malformed_share``, ``tombstone_share`` and ``unrouted_share`` (share of
    non-delete messages sent to a table no rule routes for their topic and
    db).
    """

    def __init__(self, seed: int, mix: dict) -> None:
        self.rng = random.Random(seed)
        self.mix = mix
        self.rules = reference_rules()
        self.tables = _reference_tables(self.rng, mix["tables"])
        self._compiled = [
            (r["source_topic"], r["db"], re.compile(r["table_pattern"]), r["target_topic"])
            for r in sorted(self.rules, key=lambda r: (r["priority"], r["target_topic"]))
        ]
        self._route_memo: dict[tuple[str, str, str], str | None] = {}
        # per (topic, db): the tables some rule routes there, and the rest
        self._routed_for: dict[tuple[str, str], list[str]] = {}
        self._unrouted_for: dict[tuple[str, str], list[str]] = {}
        for t in TOPICS:
            for d in DBS:
                hit = [x for x in self.tables if self.route(t, d, x) is not None]
                self._routed_for[(t, d)] = hit
                self._unrouted_for[(t, d)] = sorted(set(self.tables) - set(hit))
        self._next_id = 0
        self._file_seq = 0

    def route(self, topic: str, db: str, table: str) -> str | None:
        """First rule, by priority, whose topic and db equal the message's
        and whose pattern ``re.search``-matches its table."""
        k = (topic, db, table)
        if k not in self._route_memo:
            self._route_memo[k] = next(
                (tgt for (st, sd, pat, tgt) in self._compiled if st == topic and sd == db and pat.search(table)),
                None,
            )
        return self._route_memo[k]

    def batch(self, n: int) -> tuple[pa.Table, Expected]:
        """n messages as an arrow table, with what they must produce."""
        rng, mix = self.rng, self.mix
        exp = Expected()
        topics, keys, values = [], [], []
        for _ in range(n):
            self._next_id += 1
            mid = self._next_id
            topic, db = rng.choice(TOPICS), rng.choice(DBS)
            u = rng.random()
            if u < mix["delete_share"]:
                op = "d"
            elif u < mix["delete_share"] + 0.05:
                op = "r"
            elif rng.random() < 0.5:
                op = "c"
            else:
                op = "u"
            pool = self._unrouted_for if (op != "d" and rng.random() < mix["unrouted_share"]) else self._routed_for
            tables = pool[(topic, db)] or self._unrouted_for[(topic, db)] or self._routed_for[(topic, db)]
            table = tables[rng.randrange(len(tables))]
            row = f'{{"id":{mid},"name":"n{mid % 9973}","score":{rng.randrange(10**6)},"update_time":{1700000000000 + mid}}}'
            before, after = ("null", row) if op in ("c", "r") else (row, "null") if op == "d" else (row, row)
            env = (
                f'{{"before":{before},"after":{after},"op":"{op}",'
                f'"source":{{"version":"2.4.0","connector":"mysql","db":"{db}","table":"{table}"}},'
                f'"ts_ms":{1700000000000 + mid}}}'
            ).encode()
            key = str(mid)
            v = rng.random()
            if v < mix["tombstone_share"]:
                value = None
            elif v < mix["tombstone_share"] + mix["malformed_share"]:
                # cut inside "before"/"after": neither op nor source is reached
                value = env[: 12 + rng.randrange(env.index(b'"op"') - 12)]
            else:
                value = env
            topics.append(topic)
            keys.append(key)
            values.append(value)
            if value is not env:
                exp.inbound[(topic, "", "", "")] += 1
                continue
            exp.inbound[(topic, db, table, op)] += 1
            target = None if op == "d" else self.route(topic, db, table)
            if target is None:
                continue
            exp.outbound[(target, op)] += 1
            exp.routed_rows += 1
            exp.routed_checksum = (exp.routed_checksum + row_hash(target, key, value)) & _MASK64
        arrow = pa.Table.from_arrays(
            [pa.array(topics, pa.string()), pa.array(keys, pa.string()), pa.array(values, pa.binary())],
            schema=SCHEMA,
        )
        return arrow, exp

    def write(self, n: int, staging_dir: str) -> tuple[str, Expected]:
        """Write an n-message file to ``staging_dir``; land it with ``land``."""
        arrow, exp = self.batch(n)
        self._file_seq += 1
        path = os.path.join(staging_dir, f"part-{self._file_seq:06d}.parquet")
        pq.write_table(arrow, path, compression="snappy")
        return path, exp


def write_pool(seed: int, mix: dict, file_messages: int, n_files: int, staging_dir: str) -> list[tuple[str, Expected]]:
    """The first ``n_files`` files of the seed's traffic, with their
    expectations. ``run.py`` calls it in a child process, so that its own
    process never holds the generated messages."""
    traffic = Traffic(seed, mix)
    return [traffic.write(file_messages, staging_dir) for _ in range(n_files)]


def land(staged_path: str, source_dir: str) -> str:
    """Move a staged file into the stream's source directory atomically, so
    the file source never lists a half-written file."""
    dst = os.path.join(source_dir, os.path.basename(staged_path))
    os.rename(staged_path, dst)
    return dst
