#!/usr/bin/env python3
"""Writes fixtures/nanos/events.parquet: a tiny events table whose `ts`
is a parquet TIMESTAMP(NANOS) column, the oldest physical layout the
driver testdata has shipped. TablesSpec reads it through
`graft.etl.Tables.table`, which needs the engine conf
`spark.sql.legacy.parquet.nanosAsLong` to read the column at all.

The values sit around 1.7e18 ns, past double's 53-bit exact range, and
include +/-1 ns neighbours of second boundaries, so only an exact
integer nanos -> micros rebuild returns the micros the spec expects.

Usage: python3 tools/gen_nanos_fixture.py [out_path]
"""
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

BASE = 1_700_000_000_000_000_000
NANOS = [BASE, BASE - 1, BASE + 1, BASE + 999, BASE + 1000, BASE + 1001,
         BASE + 3_600_000_000_000, BASE + 777_777, BASE + 1_555_554]


def main(out):
    os.makedirs(os.path.dirname(out), exist_ok=True)
    table = pa.table({
        "event_id": pa.array(range(1, len(NANOS) + 1), pa.int64()),
        "ts": pa.array(NANOS, pa.timestamp("ns", tz="UTC")),
    })
    pq.write_table(table, out, version="2.6", coerce_timestamps=None)
    ts = pq.ParquetFile(out).schema.column(1).logical_type
    assert "timeUnit=nanoseconds" in str(ts), f"ts was written as {ts}"


if __name__ == "__main__":
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    main(sys.argv[1] if len(sys.argv) > 1 else
         os.path.join(here, "fixtures", "nanos", "events.parquet"))
