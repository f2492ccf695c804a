"""S1/S2 — authenticated HTTP CSV sources (reference main.py:62-87).

Reference semantics preserved exactly:

* ``GET {base_url}/download/{name}.csv`` with ``Authorization: Bearer`` and a
  10 s timeout (main.py:63-66);
* **any** failure (network, HTTP status, parse) yields an *empty* DataFrame
  — the pipeline loads what it can (main.py:71-73, SURVEY.md §8.4).

Spark-first shape: the body (already driver-resident — it came over one
HTTP response) is CSV-parsed driver-side into a ``pyarrow.Table`` of string
columns, which ``createDataFrame`` hands to the JVM as is (no Python-RDD
job); JVM-side casts then apply the declared schema. No spool files:
a driver-local spool path would break on a real cluster (executors cannot
read the driver's /tmp). Feeds too large for one driver-held response
belong in object storage + ``spark.read.csv`` — that is a different
source, not this one (the reference's feed is a single bounded download,
main.py:62-69).
"""

from __future__ import annotations

import csv
import io

import pyarrow as pa
import requests
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_TIMEOUT = 10.0  # main.py:66


def fetch_csv(
    spark: SparkSession,
    base_url: str,
    name: str,
    token: str,
    schema: T.StructType,
    timeout: float = DEFAULT_TIMEOUT,
) -> DataFrame:
    """Fetch ``{base_url}/download/{name}.csv`` into a typed DataFrame.

    Returns an empty DataFrame (with the right schema) on any failure,
    mirroring the reference's silent-failure ethos (main.py:71-73).
    """
    try:
        resp = requests.get(
            f"{base_url}/download/{name}.csv",
            headers={"Authorization": f"Bearer {token}"},
            timeout=timeout,
        )
        resp.raise_for_status()
        records = list(csv.DictReader(io.StringIO(resp.content.decode("utf-8"))))
    except Exception:
        records = []
    # string columns by header name (absent -> NULL), then JVM-side casts
    # to the declared types (PERMISSIVE: bad cells -> NULL)
    table = pa.table(
        {f.name: pa.array([r.get(f.name) for r in records], pa.string()) for f in schema}
    )
    return spark.createDataFrame(table).select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema]
    )
