"""Seeded awsEc2 entity feed and the truth every op is checked against.

The feed is a separate component from the system under test: it builds
columnar pyarrow tables (numpy + pyarrow compute, no Spark) and keeps, per
key, the content version and the synthetic time it was last seen. Entity
content is a pure function of ``(seed, key, version)``, so a re-stamped row
(same version, new ``updatedOnMs``) is byte-identical apart from the
timestamp, and a changed row (version + 1) always differs in
``aws_image_id``.

Columns are the F2 ``awsEc2`` shape (FIXTURES.md): 18 strings plus
``updatedOnMs``. ``aws_tag_Name`` is ragged (null for ~10% of rows, ``""``
for another ~10%) and ``aws_tag_aws_autoscaling_groupName`` is null for about
half the keys.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

MASK64 = (1 << 64) - 1
TICK_MS = 15 * 60 * 1000  # the reference's cron period
TTL_MS = 8 * 3600 * 1000  # the state TTL, EngineConfig's default 8 hours
T0_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z, the seed run's clock
ID_FIELD = "AWSUniqueId"
TS_FIELD = "updatedOnMs"

STRING_FIELDS = (
    "AWSUniqueId",
    "aws_account_id",
    "aws_architecture",
    "aws_arn",
    "aws_availability_zone",
    "aws_hypervisor",
    "aws_image_id",
    "aws_instance_id",
    "aws_instance_type",
    "aws_launch_time",
    "aws_private_dns_name",
    "aws_region",
    "aws_reservation_id",
    "aws_root_device_type",
    "aws_state",
    "aws_state_reason",
    "aws_tag_Name",
    "aws_tag_aws_autoscaling_groupName",
)
SCHEMA = pa.schema(
    [pa.field(f, pa.string()) for f in STRING_FIELDS]
    + [pa.field(TS_FIELD, pa.int64())]
)
# DDL for the rest_entities DataSource (same column order and types)
SCHEMA_DDL = ", ".join(f"{f} STRING" for f in STRING_FIELDS) + f", {TS_FIELD} LONG"

_ACCOUNTS = ["134183635603", "209817465520", "318273645509", "407162534498", "596051423387"]
_REGIONS = ["us-east-1", "us-west-2", "eu-west-1", "ap-southeast-2"]
_TYPES = ["t2.micro", "t3.medium", "m5.large", "m5.xlarge", "c5.2xlarge", "r5.large"]
_LAUNCH = [
    "Tue Feb 18 18:14:10 UTC 2020",
    "Mon Mar 02 09:01:44 UTC 2020",
    "Fri Jan 10 23:59:01 UTC 2020",
    "Wed Apr 15 12:30:00 UTC 2020",
]
_STATES = ["{Code: 16,Name: running}", "{Code: 80,Name: stopped}"]
_REASONS = ["", "Client.UserInitiatedShutdown: User initiated shutdown"]


def mix64(x: int) -> int:
    """splitmix64 finalizer on one Python int (the sink's per-id hash)."""
    x = (x + 0x9E3779B97F4A7C15) & MASK64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & MASK64
    return x ^ (x >> 31)


def _mix64_np(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def key_fingerprint(keys: np.ndarray) -> int:
    """Order-free fingerprint of a key set: sum of mix64(key) mod 2**64.
    With the item count it witnesses set equality of emitted ids."""
    if len(keys) == 0:
        return 0
    with np.errstate(over="ignore"):
        return int(_mix64_np(np.asarray(keys)).sum(dtype=np.uint64))


def _bits(h: np.ndarray, shift: int, mod: int) -> np.ndarray:
    return ((h >> np.uint64(shift)) % np.uint64(mod)).astype(np.int64)


def _pick(options: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(options).take(pa.array(idx))


def _num(values: np.ndarray, width: int = 0) -> pa.Array:
    s = pc.cast(pa.array(values.astype(np.int64)), pa.string())
    return pc.utf8_lpad(s, width=width, padding="0") if width else s


def _cat(*parts) -> pa.Array:
    return pc.binary_join_element_wise(
        *[pa.scalar(p) if isinstance(p, str) else p for p in parts], ""
    )


def entity_table(seed: int, keys: np.ndarray, versions: np.ndarray, ts: np.ndarray) -> pa.Table:
    """Rows for ``keys`` at ``versions``, stamped ``ts`` (epoch ms)."""
    keys = np.asarray(keys, dtype=np.uint64)
    with np.errstate(over="ignore"):
        h = _mix64_np(keys ^ np.uint64(mix64(seed)))
        hv = _mix64_np(h ^ _mix64_np(np.asarray(versions, dtype=np.uint64)))
    account = _pick(_ACCOUNTS, _bits(h, 0, len(_ACCOUNTS)))
    region = _pick(_REGIONS, _bits(h, 8, len(_REGIONS)))
    instance_id = _cat("i-", _num(keys, 12))
    tag_bucket = _bits(hv, 12, 10)
    tag_name = pc.if_else(
        pa.array(tag_bucket == 0),
        pa.scalar(None, pa.string()),
        pc.if_else(
            pa.array(tag_bucket == 1),
            pa.scalar(""),
            _cat("web-", _num(_bits(hv, 16, 10_000))),
        ),
    )
    asg = pc.if_else(
        pa.array(_bits(h, 56, 2) == 0),
        pa.scalar(None, pa.string()),
        _cat("asg-", _num(_bits(h, 58, 40))),
    )
    cols = {
        "AWSUniqueId": _cat(instance_id, "_", region, "_", account),
        "aws_account_id": account,
        "aws_architecture": _pick(["x86_64", "arm64"], _bits(h, 16, 2)),
        "aws_arn": _cat("arn:aws:ec2:", region, ":", account, ":instance/", instance_id),
        "aws_availability_zone": _cat(region, _pick(["a", "b", "c"], _bits(h, 12, 3))),
        "aws_hypervisor": _pick(["xen", "nitro"], _bits(h, 17, 2)),
        "aws_image_id": _cat("ami-", _num(_bits(h, 20, 1_000_000), 6), "v",
                             _num(np.asarray(versions))),
        "aws_instance_id": instance_id,
        "aws_instance_type": _pick(_TYPES, _bits(hv, 0, len(_TYPES))),
        "aws_launch_time": _pick(_LAUNCH, _bits(h, 24, len(_LAUNCH))),
        "aws_private_dns_name": _cat(
            "ip-10-", _num(_bits(h, 28, 256)), "-", _num(_bits(h, 36, 256)), "-",
            _num(_bits(h, 44, 256)), ".ec2.internal",
        ),
        "aws_region": region,
        "aws_reservation_id": _cat("r-", _num(_bits(h, 32, 1_000_000_000), 9)),
        "aws_root_device_type": _pick(["ebs", "instance-store"], _bits(h, 52, 2)),
        "aws_state": _pick(_STATES, _bits(hv, 8, 2)),
        "aws_state_reason": _pick(_REASONS, _bits(hv, 9, 2)),
        "aws_tag_Name": tag_name,
        "aws_tag_aws_autoscaling_groupName": asg,
        TS_FIELD: pa.array(np.asarray(ts, dtype=np.int64)),
    }
    return pa.table(cols, schema=SCHEMA)


@dataclass
class Batch:
    """One op's input and what the program must do with it."""

    table: pa.Table
    now_ms: int
    emit_keys: np.ndarray  # changed ∪ new: exactly these ids must be sent
    restamped_keys: np.ndarray  # re-stamped but unchanged: must not be sent
    max_ts: int  # the checkpoint the op must leave
    live_keys: int  # state keys alive after the op

    @property
    def rows(self) -> int:
        return self.table.num_rows


class Feed:
    """The key space of one entity type and its 15-minute delta ticks.

    ``snapshot()`` is the cold-run input (every key at version 0, clock
    ``T0_MS``); each ``tick()`` advances the clock by 15 minutes and touches
    ``delta_frac`` of the live keys: half re-stamped unchanged, 40% changed,
    and new keys worth 10% of the delta."""

    def __init__(self, seed: int, n_keys: int, *, delta_frac: float = 0.01):
        self.seed = seed
        self.n_keys = n_keys
        self.delta_frac = delta_frac
        self.version = np.zeros(n_keys, dtype=np.int64)
        self.last_seen_ms = np.zeros(n_keys, dtype=np.int64)
        self.ticks = 0
        self.now_ms = T0_MS

    def snapshot(self) -> Batch:
        """All keys at version 0, stamped within the hour before ``T0_MS``."""
        rng = np.random.default_rng([self.seed, 0])
        keys = np.arange(self.n_keys, dtype=np.int64)
        ts = T0_MS - rng.integers(0, 3600 * 1000, size=self.n_keys)
        self.last_seen_ms[:] = T0_MS
        return Batch(
            table=entity_table(self.seed, keys, self.version, ts),
            now_ms=T0_MS,
            emit_keys=keys,
            restamped_keys=keys[:0],
            max_ts=int(ts.max()),
            live_keys=self.n_keys,
        )

    def ticks_before_expiry(self) -> int:
        """Ticks that can still run before the first key that has not been
        touched since the snapshot expires (the mass-expiry cliff)."""
        return TTL_MS // TICK_MS - self.ticks

    def tick(self) -> Batch:
        self.ticks += 1
        prev, self.now_ms = self.now_ms, self.now_ms + TICK_MS
        rng = np.random.default_rng([self.seed, self.ticks])
        live = np.flatnonzero(self.last_seen_ms + TTL_MS >= prev)
        m = max(10, int(round(len(live) * self.delta_frac)))
        n_restamp, n_change = m // 2, (m * 4) // 10
        n_new = m - n_restamp - n_change
        old = rng.choice(live, size=n_restamp + n_change, replace=False)
        restamped, changed = old[:n_restamp], old[n_restamp:]
        new = np.arange(self.n_keys, self.n_keys + n_new, dtype=np.int64)
        self.n_keys += n_new
        self.version = np.concatenate([self.version, np.zeros(n_new, dtype=np.int64)])
        self.last_seen_ms = np.concatenate(
            [self.last_seen_ms, np.zeros(n_new, dtype=np.int64)]
        )
        self.version[changed] += 1
        keys = np.concatenate([restamped, changed, new])
        self.last_seen_ms[keys] = self.now_ms
        ts = prev + rng.integers(1, TICK_MS + 1, size=len(keys))
        # expiry follows state.merge_state: a key survives while ttl >= now
        live_after = int(np.count_nonzero(self.last_seen_ms + TTL_MS >= self.now_ms))
        return Batch(
            table=entity_table(self.seed, keys, self.version[keys], ts),
            now_ms=self.now_ms,
            emit_keys=np.concatenate([changed, new]),
            restamped_keys=restamped,
            max_ts=int(ts.max()),
            live_keys=live_after,
        )


def write_parquet(table: pa.Table, path: str, prefix: str, files: int = 1) -> None:
    """``table`` as ``files`` parquet files ``<prefix>-<i>.parquet`` in ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"{prefix}-{i:03d}.parquet"))


def write_pages(table: pa.Table, path: str, prefix: str, page_items: int) -> None:
    """``table`` as REST page files ``{"items": [...], "partialResults": false}``;
    absent values are left out of each item, as the reference API does."""
    os.makedirs(path, exist_ok=True)
    rows = table.to_pylist()
    for page, start in enumerate(range(0, len(rows), page_items)):
        items = [{k: v for k, v in r.items() if v is not None}
                 for r in rows[start : start + page_items]]
        # written aside, then renamed: the source lists "*.json" only
        tmp = os.path.join(path, f".{prefix}-{page:04d}.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump({"items": items, "partialResults": False}, fh)
        os.replace(tmp, os.path.join(path, f"{prefix}-{page:04d}.json"))
