"""Seeded source tables for the copy workloads, and the sink fingerprint.

A table is generated in pandas from the seed, written as CSV and
bulk-loaded into embedded Derby with ``SYSCS_UTIL.SYSCS_IMPORT_TABLE``
(about twice as fast as JDBC batch inserts).  The DDL is upper-case
and unquoted: ``Interval.as_predicate`` renders the timestamp column
unquoted, so a mixed-case quoted column (as Spark's JDBC writer
creates) fails the chunked scan with "Column 'TS' is not in any
table" -- a known program defect recorded in perfbench/README.md.

The fingerprint is order-independent: each row is canonicalised to
typed values (integers, cents, float, epoch microseconds, string),
hashed with ``pandas.util.hash_pandas_object`` and the hashes are
summed modulo 2**64.  A sink holds native types or, with
``stringify=True``, the reference-parity strings; the sink side parses
either back first.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

# Canonical column order and Derby types; the key is ID.
COLUMNS = ["ID", "AMOUNT_CENTS", "SCORE", "NAME", "QTY", "TS_US"]
DDL = (
    "CREATE TABLE {table} (ID BIGINT NOT NULL PRIMARY KEY, "
    "AMOUNT DECIMAL(18,2) NOT NULL, SCORE DOUBLE NOT NULL, "
    "NAME VARCHAR(32) NOT NULL, QTY INT NOT NULL, TS TIMESTAMP NOT NULL)"
)
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
DAY_US = 86_400_000_000


def events_table(seed: int, rows: int, days: int) -> pd.DataFrame:
    """Events-shaped: uniform over days, diurnal within a day (most
    events in the daytime hours), so every half-day window has rows
    but windows differ in size."""
    rng = np.random.default_rng([seed, 2])
    day = rng.integers(0, days, rows)
    hour = np.clip(rng.normal(14.0, 4.5, rows), 0.0, 23.999)
    within = (hour / 24.0 * DAY_US).astype(np.int64)
    return _table(rng, rows, T0_US + day * DAY_US + within)


def _table(rng: np.random.Generator, rows: int, ts_us) -> pd.DataFrame:
    words = np.array(
        ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    )
    name = pd.Series(words[rng.integers(0, len(words), rows)]).str.cat(
        pd.Series(rng.integers(0, 100_000, rows)).astype(str), sep="-"
    )
    return pd.DataFrame(
        {
            "ID": rng.permutation(rows).astype(np.int64),
            "AMOUNT_CENTS": rng.integers(0, 10**9, rows, dtype=np.int64),
            # multiples of 1/8 round-trip exactly through their string form
            "SCORE": rng.integers(0, 8_000_000, rows) / 8.0,
            "NAME": name,
            "QTY": rng.integers(-1000, 1000, rows).astype(np.int64),
            "TS_US": np.asarray(ts_us, dtype=np.int64),
        }
    )


def in_window(df: pd.DataFrame, lo_us: int, hi_us: int) -> pd.DataFrame:
    return df[(df["TS_US"] >= lo_us) & (df["TS_US"] < hi_us)]


def fingerprint(df: pd.DataFrame) -> int:
    """Order-independent content hash of canonical rows."""
    h = pd.util.hash_pandas_object(df[COLUMNS], index=False)
    return int(h.to_numpy(dtype=np.uint64).sum(dtype=np.uint64))


def load_derby(spark, url: str, table: str, df: pd.DataFrame, csv_dir: str) -> None:
    """Create ``table`` in the Derby database at ``url`` and bulk-load
    ``df`` into it through the driver JVM."""
    os.makedirs(csv_dir, exist_ok=True)
    csv = os.path.join(csv_dir, f"{table}.csv")
    ts = pd.to_datetime(df["TS_US"], unit="us").dt.strftime("%Y-%m-%d %H:%M:%S.%f")
    cents = df["AMOUNT_CENTS"]
    out = pd.DataFrame(
        {
            "ID": df["ID"],
            "AMOUNT": (cents // 100).astype(str)
            + "."
            + (cents % 100).astype(str).str.zfill(2),
            "SCORE": df["SCORE"].map(repr),
            "NAME": df["NAME"],
            "QTY": df["QTY"],
            "TS": ts,
        }
    )
    out.to_csv(csv, header=False, index=False)
    jvm = spark._jvm
    jvm.java.lang.Class.forName(DERBY_DRIVER)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        st.executeUpdate(DDL.format(table=table))
        st.close()
        call = conn.prepareCall(
            "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(NULL, ?, ?, ',', '\"', NULL, 0)"
        )
        call.setString(1, table)
        call.setString(2, csv)
        call.execute()
        call.close()
    finally:
        conn.close()
    os.remove(csv)


def sink_canonical(path: str) -> pd.DataFrame:
    """Read a parquet sink back into canonical rows; the sink holds
    either native types or reference-parity strings (``stringify``)."""
    import pyarrow.parquet as pq

    raw = pq.read_table(path).to_pandas()
    if raw["AMOUNT"].dtype == object and isinstance(raw["AMOUNT"].iloc[0], str):
        parts = raw["AMOUNT"].str.split(".", n=1, expand=True)
        cents = parts[0].astype(np.int64) * 100 + parts[1].astype(np.int64)
        ts = pd.to_datetime(raw["TS"], format="ISO8601")
    else:
        cents = (raw["AMOUNT"] * 100).astype(np.int64)
        ts = pd.to_datetime(raw["TS"]).dt.tz_localize(None)
    return pd.DataFrame(
        {
            "ID": raw["ID"].astype(np.int64),
            "AMOUNT_CENTS": cents,
            "SCORE": raw["SCORE"].astype(np.float64),
            "NAME": raw["NAME"].astype(str),
            "QTY": raw["QTY"].astype(np.int64),
            "TS_US": ts.astype("datetime64[us]").astype(np.int64),
        }
    )
