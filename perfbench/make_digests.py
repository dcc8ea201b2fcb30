#!/usr/bin/env python3
"""Rebuild ``perfbench/digests.json``: for each ``llm_iterative`` key,
the order-insensitive digest of its DuckDB oracle result over the
benchmark's data.  Run from the repository root after the data or a
key's oracle changes:

    python3 perfbench/make_digests.py
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import duckdb  # noqa: E402

from event_stream_checkout_spark.registry import load_all  # noqa: E402
from perfbench.batch import DIGESTS, KEYS  # noqa: E402
from perfbench.run import SF_DIR  # noqa: E402
from perfbench.stats import digest  # noqa: E402


def main() -> None:
    con = duckdb.connect()
    for table in sorted(SF_DIR.glob("*.parquet")):
        con.sql(f"CREATE VIEW {table.stem} AS SELECT * FROM read_parquet('{table}')")
    registry = load_all()
    digests = {key: digest(con.sql(registry[key].oracle).df()) for key in KEYS}
    DIGESTS.write_text(json.dumps(digests, indent=1, sort_keys=True) + "\n")
    print(f"wrote {len(digests)} digests to {DIGESTS}")


if __name__ == "__main__":
    main()
