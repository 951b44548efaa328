"""Freeze the sf0.01 GBDT training artifact for the gbdt_train_score
oracle.

Trains the exact job the driver query runs (shared helper
``__spark_entry__.gbdt_train_rows_and_dump`` — same input derivation,
same GBDTParams) and writes the dump JSON to
``cookieblock_consent_classifier_spark/data/gbdt_dump_sf001.json``.
Training is run-deterministic (DECIMAL histogram sums + stable split
tie-break, operators/gbdt.py), so this artifact is reproduced
byte-for-byte by every later run on the same sf0.01 tables — the
DuckDB oracle (``__spark_entry__._gbdt_oracle_sql``) scores it
independently and any trainer or data drift breaks the value hash.

Re-run this script (and commit the diff) only if the trainer
algorithm or the driver testdata intentionally changes.

Usage: python scripts/freeze_gbdt_dump.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from cookieblock_consent_classifier_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="freeze-gbdt", extra_conf={"spark.sql.shuffle.partitions": "16"})
    _, dump = entrymod.gbdt_train_rows_and_dump(spark, sf_dir)
    os.makedirs(os.path.dirname(entrymod._GBDT_DUMP_PATH), exist_ok=True)
    with open(entrymod._GBDT_DUMP_PATH, "w", encoding="utf-8") as fd:
        json.dump(dump, fd, indent=1, sort_keys=True)
        fd.write("\n")
    print(f"froze {len(dump)} trees -> {entrymod._GBDT_DUMP_PATH}")


if __name__ == "__main__":
    main()
