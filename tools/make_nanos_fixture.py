#!/usr/bin/env python3
"""Generate the INT64 TIMESTAMP(NANOS) parquet fixture.

The corpus tables store `events.ts` in this physical form. Spark
reads it as a long only under `spark.sql.legacy.parquet.nanosAsLong`,
so the schema it infers depends on that conf: ParquetSchemasSpec uses
the file to show that a session with another value infers its own
schema instead of reusing a memoized one.

Writes, committed under src/test/resources/fixtures/:
  ts_nanos.parquet -- three rows: id int64, ts timestamp[ns] (naive)

Deterministic; no test depends on python at run time.
"""
import os
import pyarrow as pa
import pyarrow.parquet as pq

OUT = os.path.join(os.path.dirname(__file__), "..",
                   "src", "test", "resources", "fixtures")
os.makedirs(OUT, exist_ok=True)
table = pa.table({
    "id": pa.array([1, 2, 3], pa.int64()),
    "ts": pa.array([1704067200000000001, 1704067260123456789, -1],
                   pa.timestamp("ns")),
})
pq.write_table(table, os.path.join(OUT, "ts_nanos.parquet"),
               version="2.6", coerce_timestamps=None)
print("wrote", os.path.join(OUT, "ts_nanos.parquet"))
