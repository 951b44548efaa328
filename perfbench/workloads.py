"""Seeded input generators for the benchmark workloads.

Every input is built with NumPy from ``--seed`` alone (no Spark, no
wall clock) and written as parquet; the extraction job receives only
that parquet. The same seed gives byte-identical files.

- ``native``: an events-shaped table (the testdata ``events`` schema:
  event_id, ts, user_id, event_type, value, props) with tens of
  updates per user, read through ``readers.cookie_updates_from_events``.
- ``hot``: a cookie-update table in ``COOKIE_UPDATE_SCHEMA`` shape:
  3 updates per entity with nearly distinct values over 8 content
  kinds, plus one entity with more than 10^4 updates drawn from a pool
  of 40 values.
"""

from __future__ import annotations

import base64
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH0_US = 1_704_067_200 * 10**6  # 2024-01-01 UTC
FILES = 4  # parquet files every input is split into


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "events" | "cookies"
    rows: int  # base rows (before hot entities)
    updates_per_entity: int
    hot_updates: tuple[int, ...] = ()  # updates of each hot entity
    hot_pool: int = 0  # distinct values the hot entities draw from
    sink: str = "parquet"  # "parquet" | "libsvm"


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload("native", "events", 30_000, 67, sink="libsvm"),
        Workload("hot", "cookies", 3_000, 3, hot_updates=(10_100,), hot_pool=40),
    )
}


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // FILES)
    for i in range(FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def _events(w: Workload, rng: np.random.Generator) -> pa.Table:
    n = w.rows
    users = max(1, n // w.updates_per_entity)
    # updates_per_entity is a mean: users draw events uniformly
    uid = rng.integers(0, users, n)
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n)) + EPOCH0_US
    # event_id feeds md5() in the adapter; a seeded offset varies every
    # derived flag/value across seeds (kept < 2^31: update_idx is int)
    eid = np.arange(n, dtype=np.int64) + int(rng.integers(0, 2**30))
    etype = np.array(["view", "click", "purchase", "signup", "error"])[rng.integers(0, 5, n)]
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    return pa.table({
        "event_id": pa.array(eid, pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(uid, pa.int64()),
        "event_type": pa.array(etype, pa.string()),
        "value": pa.array(np.round(rng.random(n) * 200, 2), pa.float64()),
        "props": pa.array(props, pa.string()),
    })


_NAMES = [
    "session-id", "consent-pref", "ga_visitor", "ab_bucket", "track_cookie_3",
    "_utm_src", "sess_key", "cfduid", "id_3fa9", "pref_lang", "optout", "cart",
]
_DOMAINS = [
    "www.example-ads.com", "analytics.example.org", ".shop.example.com",
    "cdn5.example-ads.com", "https://www2.social-widgets.io/", "tracker.example.net",
]


def _content_value(kind: int, h: str) -> str:
    """One cookie value of content ``kind`` (0..7) built from hex ``h``."""
    if kind == 0:
        return '{"uid": %d, "consent": true, "t": "%s"}' % (int(h[:4], 16), h[4:12])
    if kind == 1:
        return base64.b64encode(h.encode()).decode()
    if kind == 2:
        return ",".join((h[0:4], h[4:8], h[8:12], h[12:16]))
    if kind == 3:
        return h[:16]
    if kind == 4:
        return "-".join((h[0:8], h[8:12], h[12:16], h[16:20], h[20:32]))
    if kind == 5:
        return "value%20" + h[:6] + "%3Dtrue"
    if kind == 6:
        return ""
    return "plain " + h[:10]


def _cookies(w: Workload, rng: np.random.Generator) -> pa.Table:
    k = w.updates_per_entity
    ents = w.rows // k
    ent = np.repeat(np.arange(ents, dtype=np.int64), k)
    upd = np.tile(np.arange(k, dtype=np.int32), ents)
    hexes = [rng.bytes(16).hex() for _ in range(ents * k)]
    kinds = rng.integers(0, 8, ents * k)
    values = [_content_value(int(c), h) for c, h in zip(kinds, hexes)]
    for j, nh in enumerate(w.hot_updates):
        pool_hex = [rng.bytes(16).hex() for _ in range(w.hot_pool)]
        pool = [_content_value(i % 8, h) for i, h in enumerate(pool_hex)]
        ent = np.concatenate([ent, np.full(nh, ents + j, np.int64)])
        upd = np.concatenate([upd, np.arange(nh, dtype=np.int32)])
        values += [pool[i] for i in rng.integers(0, w.hot_pool, nh)]
    n = len(values)
    n_ent = ents + len(w.hot_updates)
    # per-entity constants
    e_name = rng.integers(0, len(_NAMES) + 4, n_ent)
    names = np.array(_NAMES + [f"misc_{i}" for i in range(4)], dtype=object)[e_name][ent]
    domains = np.array(_DOMAINS, dtype=object)[rng.integers(0, len(_DOMAINS), n_ent)][ent]
    paths = np.where(rng.random(n_ent) < 0.3, "/app", "/")[ent]
    labels = rng.integers(0, 5, n_ent).astype(np.int32)
    # hot entities get a label the extract's label-range filter (0-3)
    # keeps, so that their updates always reach the job
    labels[ents:] = rng.integers(0, 4, len(w.hot_updates))
    labels = labels[ent]
    ts = EPOCH0_US + ent * 3600 * 10**6 + upd.astype(np.int64) * 600 * 10**6
    flags = rng.random((4, n)) < 0.5
    return pa.table({
        "entity_id": pa.array(np.char.add("ck_", np.char.zfill(ent.astype(str), 10)), pa.string()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "name": pa.array(names, pa.string()),
        "domain": pa.array(domains, pa.string()),
        "path": pa.array(paths, pa.string()),
        "first_party_domain": pa.array(np.full(n, "shop.example.com"), pa.string()),
        "label": pa.array(labels, pa.int32()),
        "cmp_origin": pa.array(np.zeros(n, np.int32), pa.int32()),
        "update_idx": pa.array(upd, pa.int32()),
        "value": pa.array(values, pa.string()),
        "expiry": pa.array(rng.integers(0, 60_000_000, n), pa.int64()),
        "session": pa.array(flags[0]),
        "http_only": pa.array(flags[1]),
        "host_only": pa.array(flags[2]),
        "secure": pa.array(flags[3]),
        "same_site": pa.array(
            np.array(["no_restriction", "lax", "strict"])[rng.integers(0, 3, n)], pa.string()
        ),
    })


def generate(w: Workload, seed: int, path: str) -> pa.Table:
    """Build ``w``'s input from ``seed``, write it under ``path`` and
    return it."""
    rng = np.random.default_rng([seed % 2**63, sum(map(ord, w.name))])
    table = _events(w, rng) if w.kind == "events" else _cookies(w, rng)
    _write(table, path)
    return table


def input_properties(updates: pa.Table) -> dict:
    """Measured shape of a cookie-update table (the rows the job
    extracts from: the generated input of a cookie workload, the
    scan-stage output of an events workload): rows, entities, updates
    per entity (max/median) and the share of adjacent value pairs
    (previous, current value within an entity, in update order) that
    repeat an earlier pair, i.e. that a pair memo such as the gestalt
    cache could serve."""
    ent = updates["entity_id"].to_numpy(zero_copy_only=False)
    order = np.lexsort((
        updates["update_idx"].to_numpy(),
        updates["ts"].to_numpy().astype(np.int64),
        ent,
    ))
    ent = ent[order]
    vals = updates["value"].to_numpy(zero_copy_only=False)[order]
    _, counts = np.unique(ent, return_counts=True)
    same_ent = ent[1:] == ent[:-1]
    pairs = list(zip(vals[:-1][same_ent], vals[1:][same_ent]))
    return {
        "rows": int(updates.num_rows),
        "entities": int(len(counts)),
        "updates_per_entity_max": int(counts.max()),
        "updates_per_entity_median": float(np.median(counts)),
        "repeated_pair_share": round(1 - len(set(pairs)) / max(1, len(pairs)), 4),
    }
