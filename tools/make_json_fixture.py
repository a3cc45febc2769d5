#!/usr/bin/env python3
"""Generate the pandas byte-parity fixture for Writers.prettyJsonArray.

The reference publishes pandas `to_json(orient="records", indent=4)`
artifacts (reference assets.py:325) and its checks read them back, so
the Scala writer must match pandas BYTE-FOR-BYTE: ujson float rendering
(double_precision=10, trailing zeros trimmed, whole floats keep ".0"),
forward-slash and non-ASCII escaping, NaN -> null, and the
"[\n\n]" empty-array form.

Writes, committed under src/test/resources/fixtures/:
  pretty_input.parquet   -- the rows, typed (int64/double/bool/string)
  pretty_records.json    -- pandas to_json bytes over the same frame
  pretty_empty.json      -- pandas to_json of a zero-row frame
  pretty_typed_input.parquet -- rows of the other cell types Spark can
                            hand the writer: int8, int16, decimal(14,3),
                            date, timestamp (UTC, micros), incl. nulls
                            and dates/instants before 1970
  pretty_typed_records.json  -- pandas to_json bytes over that frame

Deterministic; re-run only if the fixture shape changes. Driver-side
python (pandas/pyarrow) is used only to CREATE the committed fixture;
no test depends on python at run time.
"""
import datetime
import decimal
import os
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

OUT = os.path.join(os.path.dirname(__file__), "..",
                   "src", "test", "resources", "fixtures")
os.makedirs(OUT, exist_ok=True)

df = pd.DataFrame({
    "id": pd.array([0, 1, 2, 3, 4, 5, 6, 7], dtype="int64"),
    "state": ["Ala\"bama", "Zürich — émigré", None, "tab\there\nline",
              "back\\slash", "a/b/c", "", "ümlaut 🙂"],
    "year": pd.array([2003, 2024, 1997, 2010, 2000, 1993, 2021, 2015],
                     dtype="int64"),
    "ft_emp": pd.array([None, 12345, 0, -7, 99, 2**40, None, 8],
                       dtype="Int64"),
    "pay_per_fte": [1.0, 0.1, float("nan"), 3.141592653589793,
                    -1234567.89, 1e-7, 1234567890123.0,
                    0.000123456789123],
    "is_us": pd.array([True, False, None, True, False, True, None, False],
                      dtype="boolean"),
})

with open(os.path.join(OUT, "pretty_records.json"), "w",
          encoding="ascii") as f:
    f.write(df.to_json(orient="records", indent=4))
with open(os.path.join(OUT, "pretty_empty.json"), "w",
          encoding="ascii") as f:
    f.write(df.iloc[0:0].to_json(orient="records", indent=4))

# typed parquet for the Spark side (pyarrow keeps Int64/boolean nulls)
df.to_parquet(os.path.join(OUT, "pretty_input.parquet"), index=False)
# the cell types outside the artifact domain: pandas renders small
# ints as numbers, a Decimal as its double, and a date or timestamp as
# epoch milliseconds (truncated toward zero)
D = decimal.Decimal
typed = pd.DataFrame({
    "id": pd.array([0, 1, 2, 3, 4], dtype="int64"),
    "tiny": pd.array([-7, 127, None, 0, -128], dtype="Int8"),
    "small": pd.array([-203, 32767, 0, None, -32768], dtype="Int16"),
    "amount": [D("-87751642.219"), D("0.500"), None, D("12.000"),
               D("99999999999.999")],
    "day": [datetime.date(2022, 5, 23), datetime.date(1969, 12, 31), None,
            datetime.date(1900, 1, 1), datetime.date(2038, 1, 19)],
    "at": pd.to_datetime(["2022-05-23 10:11:12.345678",
                          "1969-12-31 23:59:59.998500", None,
                          "1900-01-01 00:00:00.000001",
                          "2020-01-01 00:00:00.001500"]).tz_localize("UTC"),
})
with open(os.path.join(OUT, "pretty_typed_records.json"), "w",
          encoding="ascii") as f:
    f.write(typed.to_json(orient="records", indent=4))
schema = pa.schema([("id", pa.int64()), ("tiny", pa.int8()),
                    ("small", pa.int16()), ("amount", pa.decimal128(14, 3)),
                    ("day", pa.date32()), ("at", pa.timestamp("us", tz="UTC"))])
pq.write_table(pa.Table.from_pandas(typed, schema=schema, preserve_index=False),
               os.path.join(OUT, "pretty_typed_input.parquet"))
print("wrote fixtures to", OUT)
