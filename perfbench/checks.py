"""Output checks, run outside the timed span. Everything is read back
from disk with pyarrow or DuckDB, never through Spark.

- ``expected_labels``: per-label entity counts of the input, counted
  in DuckDB straight from the generated parquet (label filter 0..3).
- ``check_parquet_sink`` / ``check_libsvm_sink``: row count,
  array-order-sensitive checksum, index invariants and class weights
  of one job's output; ``check_feature_map``: one line per slot.
- ``native_oracle_mismatches``: value equality of the native extract
  with ``__spark_entry__._pipeline_oracle_sql()`` run in DuckDB.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# the adapter's label derivation (readers.cookie_updates_from_events)
_EVENTS_LABEL = (
    "CAST(CAST(('0x' || substr(md5('l' || CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT) % 5 AS INT)"
)


def expected_labels(kind: str, input_path: str) -> dict[int, int]:
    src = os.path.join(input_path, "*.parquet")
    if kind == "events":
        sql = f"""SELECT label, count(*) FROM (
                    SELECT DISTINCT user_id, {_EVENTS_LABEL} AS label FROM read_parquet('{src}'))
                  WHERE label BETWEEN 0 AND 3 GROUP BY label"""
    else:
        sql = f"""SELECT label, count(DISTINCT entity_id) FROM read_parquet('{src}')
                  WHERE label BETWEEN 0 AND 3 GROUP BY label"""
    with duckdb.connect() as con:
        return {int(k): int(v) for k, v in con.execute(sql).fetchall()}


def _read_parquet_dir(path: str) -> pa.Table:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pa.concat_tables([pq.read_table(f) for f in files]) if files else None


def _lists_ok(indices: pa.ListArray, values: pa.ListArray, width: int) -> list[str]:
    errs = []
    if not np.array_equal(indices.offsets.to_numpy(), values.offsets.to_numpy()):
        errs.append("len(indices) != len(values) on some row")
    flat = indices.flatten().to_numpy()
    if flat.size and (flat.min() < 0 or flat.max() >= width):
        errs.append(f"index outside [0, {width})")
    # ascending and unique within each row: every step inside a row > 0
    offs = indices.offsets.to_numpy()
    step_ok = np.diff(flat) > 0
    row_start = np.zeros(flat.size, bool)
    row_start[offs[:-1][offs[:-1] < flat.size]] = True
    if not np.all(step_ok | row_start[1:]):
        errs.append("indices not strictly ascending within a row")
    return errs


# values are hashed at 1e-9: aggregate sums may differ in the last bit
# with the order rows reach the aggregate, which is not fixed
_DIGITS = 9


def _digest(*arrays) -> str:
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()[:16]


def _weights_errs(labels: np.ndarray, weights: np.ndarray, expect: dict[int, int]) -> list[str]:
    total = sum(expect.values())
    want = np.array([total / expect.get(int(x), np.nan) for x in labels])
    if not np.allclose(weights, want, rtol=1e-12, atol=0):
        return ["weights != n_total / n_class"]
    return []


def _label_errs(labels: np.ndarray, expect: dict[int, int]) -> list[str]:
    got = dict(zip(*np.unique(labels, return_counts=True)))
    got = {int(k): int(v) for k, v in got.items()}
    return [] if got == expect else [f"rows per label {got} != input {expect}"]


def check_parquet_sink(sink: str, width: int, expect: dict[int, int]) -> tuple[str, int, list[str]]:
    """(checksum, rows, errors) of a parquet sink holding
    (entity_id, indices, values, label, weight)."""
    t = _read_parquet_dir(sink)
    if t is None:
        return "", 0, ["sink holds no parquet files"]
    t = t.sort_by("entity_id").combine_chunks()
    idx, val = t["indices"].chunks[0], t["values"].chunks[0]
    labels, weights = t["label"].to_numpy(), t["weight"].to_numpy()
    errs = _lists_ok(idx, val, width)
    if pc.count_distinct(t["entity_id"]).as_py() != t.num_rows:
        errs.append("duplicate entity_id rows")
    errs += _label_errs(labels, expect) + _weights_errs(labels, weights, expect)
    ent = "\x00".join(t["entity_id"].to_pylist()).encode()
    digest = _digest(
        np.frombuffer(ent, np.uint8), idx.offsets.to_numpy(), idx.flatten().to_numpy(),
        np.round(val.flatten().to_numpy(), _DIGITS), labels, weights,
    )
    return digest, t.num_rows, errs


def check_libsvm_sink(sink: str, extract: str, width: int, expect: dict[int, int]) -> tuple[str, int, list[str]]:
    """LibSVM lines carry (label, indices, values) but no entity_id or
    weight: the lines are checked and checksummed (sorted: line order
    across part files is not part of the output), and entity ids and
    weights are checked on the extract checkpoint the sink was written
    from."""
    lines: list[str] = []
    for f in sorted(glob.glob(os.path.join(sink, "part-*"))):
        with open(f, encoding="utf-8") as fd:
            lines.extend(fd.read().splitlines())
    lines.sort()
    errs = []
    labels = np.empty(len(lines), np.int64)
    offs, flat_i, flat_v = [0], [], []
    for r, line in enumerate(lines):
        head, *pairs = line.split(" ")
        labels[r] = int(head)
        for p in filter(None, pairs):
            i, v = p.split(":")
            flat_i.append(int(i))
            flat_v.append(round(float(v), _DIGITS))
        offs.append(len(flat_i))
    idx = pa.ListArray.from_arrays(pa.array(offs, pa.int32()), pa.array(flat_i, pa.int32()))
    errs += _lists_ok(idx, idx, width) + _label_errs(labels, expect)
    t = _read_parquet_dir(extract)
    if t is None or t.num_rows != len(lines):
        errs.append("extract checkpoint rows != sink lines")
    else:
        if pc.count_distinct(t["entity_id"]).as_py() != t.num_rows:
            errs.append("duplicate entity_id rows")
        errs += _weights_errs(t["label"].to_numpy(), t["weight"].to_numpy(), expect)
    digest = _digest(labels, idx.offsets.to_numpy(), np.array(flat_i), np.array(flat_v))
    return digest, len(lines), errs


def check_feature_map(path: str, width: int) -> list[str]:
    """One ``<idx> <name> i`` line per feature slot, idx = 0..width-1."""
    with open(path, encoding="utf-8") as fd:
        lines = fd.read().splitlines()
    idx = [ln.split(" ", 1)[0] for ln in lines]
    if len(lines) != width or idx != [str(i) for i in range(width)] or not all(
        ln.endswith(" i") for ln in lines
    ):
        return [f"feature map: {len(lines)} lines, want {width} indexed slots"]
    return []


def native_oracle_mismatches(oracle_sql: str, events_path: str, extract: str) -> tuple[int, int]:
    """(mismatching rows, oracle rows): the extract checkpoint in the
    oracle's long form (entity_id, pos, fidx, round(val, 4), label,
    round(weight, 6)) against the oracle, as multisets, both rounded
    by DuckDB."""
    with duckdb.connect() as con:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{os.path.join(events_path, '*.parquet')}')"
        )
        # materialize the shared CTEs: DuckDB otherwise inlines them
        # into each of the ~100 UNION ALL branches (11 s -> 0.5 s here)
        oracle_sql = re.sub(r"\n(ent|feat) AS \(", r"\n\1 AS MATERIALIZED (", oracle_sql)
        con.execute(f"CREATE TABLE want AS {oracle_sql}")
        con.execute(f"""CREATE TABLE got AS
            SELECT entity_id, CAST(pos - 1 AS INT) AS pos, CAST(fidx AS INT) AS fidx,
                   round(val, 4) AS val, label, round(weight, 6) AS weight
            FROM (SELECT entity_id, label, weight,
                         unnest(generate_series(1, len(indices))) AS pos,
                         unnest(indices) AS fidx, unnest("values") AS val
                  FROM read_parquet('{os.path.join(extract, '*.parquet')}'))""")
        bad = con.execute("""SELECT (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got))
                                  + (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want))""").fetchone()[0]
        n = con.execute("SELECT count(*) FROM want").fetchone()[0]
    return int(bad), int(n)
