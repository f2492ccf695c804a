"""S3/S4 — paginated JSON REST source (reference main.py:90-118).

Reference semantics:

* ``GET {base}/transactions?page={p}&limit=1000``, Bearer auth, pages
  ``0..max_pages`` inclusive (301 pages max — main.py:96-101), stop early
  when a page returns fewer than ``limit`` rows (main.py:111-112);
* page payload is either ``{"results": [...]}`` or a bare JSON array
  (main.py:107-108 — the S4 envelope unwrap);
* on request failure the reference sleeps 2 s and retries the same page
  *forever* (main.py:113-116) — an availability bug; here the retry is
  BOUNDED (``max_retries`` per page, then the page is surfaced as an error)
  per SURVEY.md §2.1's recommendation. A 401/403 is not retried at all: a
  rejected token does not heal, so the task fails at once.

Spark-first shape: a **PySpark Python Data Source** (Spark 4.x,
``pyspark.sql.datasource``) whose ``partitions()`` splits the pages into
one contiguous range per task slot (``min(pages, defaultParallelism)``),
so the pages are fetched in parallel and the rows never pass through the
driver. Each task reuses one HTTP session for its range and yields one
Arrow ``RecordBatch`` per page, which Spark takes as is instead of
re-validating tuples value by value. Each row carries
``_arrival = page*limit + idx``, the stable cross-partition arrival ordinal
that keep-first dedup (T3) needs (SURVEY.md §7 risk 1).
"""

from __future__ import annotations

import datetime as dt
import time
from collections.abc import Iterator, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.pandas.types import to_arrow_schema

from ..schemas import TRANSACTIONS_RAW

DEFAULT_LIMIT = 1000  # main.py:97
DEFAULT_MAX_PAGES = 300  # main.py:96 (inclusive bound => 301 pages)
DEFAULT_TIMEOUT = 10.0  # main.py:104
RETRY_SLEEP = 2.0  # main.py:115
DEFAULT_MAX_RETRIES = 5  # bounded, unlike the reference

# timestamp[us, tz=UTC]: _parse_ts yields UTC-naive values, which Arrow
# reads as UTC whatever the worker's local zone is
ARROW_SCHEMA = to_arrow_schema(TRANSACTIONS_RAW)


def _parse_ts(v) -> dt.datetime | None:
    """Best-effort timestamp parse. ISO-8601 (incl. offsets) normalizes to
    UTC-naive; unparseable values become NULL. NB: NULL keys then share one
    dedup group per account — callers ingesting feeds with systematically
    unparseable timestamps must extend this, not silently drop rows."""
    if v is None or v == "":
        return None
    if isinstance(v, (int, float)):
        return dt.datetime.fromtimestamp(v, dt.timezone.utc).replace(tzinfo=None)
    try:
        parsed = dt.datetime.fromisoformat(str(v).replace("Z", "+00:00"))
    except ValueError:
        return None
    if parsed.tzinfo is not None:
        parsed = parsed.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return parsed


def _unwrap(payload) -> list[dict]:
    """S4: ``{"results": [...]}`` or a bare array (main.py:107-108)."""
    if isinstance(payload, dict):
        return payload.get("results", [])
    return payload if isinstance(payload, list) else []


def _fetch_page(
    base_url: str, token: str, page: int, limit: int, timeout: float, max_retries: int,
    session=None,
) -> list[dict]:
    """One page with bounded same-page retry (2 s backoff, like the
    reference but finite) over ``session`` (a ``requests.Session``) if
    given. Raises after ``max_retries`` failures, and at once on 401/403."""
    import requests

    last_err: Exception | None = None
    for attempt in range(max_retries + 1):
        try:
            resp = (session or requests).get(
                f"{base_url}/transactions",
                params={"page": page, "limit": limit},
                headers={"Authorization": f"Bearer {token}"},
                timeout=timeout,
            )
            if resp.status_code in (404, 410, 416) or (
                resp.status_code == 400 and page > 0
            ):
                # past-the-end page on APIs that error instead of returning
                # an empty list: end-of-data. A 400 on page 0 is a bad
                # request and must surface, not yield an empty dataset.
                return []
            resp.raise_for_status()
            return _unwrap(resp.json())
        except Exception as e:  # 5xx, timeouts, connection and JSON errors
            if isinstance(e, requests.HTTPError) and e.response.status_code in (401, 403):
                # a rejected token does not heal: no sleep, no retry
                raise RuntimeError(f"page {page} failed: HTTP {e.response.status_code}") from e
            last_err = e
            if attempt < max_retries:
                time.sleep(RETRY_SLEEP)
    raise RuntimeError(f"page {page} failed after {max_retries} retries") from last_err


def _batch_of(page: int, limit: int, records: Sequence[dict]) -> pa.RecordBatch:
    """One page as an Arrow batch in the TRANSACTIONS_RAW layout: ids
    through ``int()``, amounts through ``str()`` (NULL stays NULL), text
    as Spark's StringType converter renders it."""

    def ints(key: str) -> list[int | None]:
        return [None if r.get(key) is None else int(r[key]) for r in records]

    def texts(key: str) -> list[str | None]:
        vals = (r.get(key) for r in records)  # bools become "true"/"false"
        return [None if v is None else str(v).lower() if isinstance(v, bool) else str(v)
                for v in vals]

    first = page * limit
    return pa.record_batch(
        [
            ints("transaction_id"),
            [_parse_ts(r.get("timestamp")) for r in records],
            ints("account_id"),
            [None if r.get("amount") is None else str(r.get("amount")) for r in records],
            texts("type"),
            texts("medium"),
            range(first, first + len(records)),  # _arrival ordinal
        ],
        schema=ARROW_SCHEMA,
    )


class PageRange(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end  # exclusive


class RestPagesReader(DataSourceReader):
    def __init__(self, options: dict):
        self.base_url = options["base_url"]
        self.token = options.get("token", "")
        self.limit = int(options.get("limit", DEFAULT_LIMIT))
        self.max_pages = int(options.get("max_pages", DEFAULT_MAX_PAGES))
        self.timeout = float(options.get("timeout", DEFAULT_TIMEOUT))
        self.max_retries = int(options.get("max_retries", DEFAULT_MAX_RETRIES))
        self.num_partitions = int(options.get("partitions", 1))

    def partitions(self) -> list[PageRange]:
        """``partitions`` contiguous ranges whose sizes differ by at most
        one page."""
        total = self.max_pages + 1  # inclusive bound, main.py:101
        n = max(1, min(self.num_partitions, total))
        return [PageRange(i * total // n, (i + 1) * total // n) for i in range(n)]

    def read(self, partition: PageRange) -> Iterator[pa.RecordBatch]:
        """Executor-side: fetch this partition's pages serially over one
        session; a short page (< limit rows) ends the feed, so later pages
        in this range are not requested and each later range costs one
        past-the-end request."""
        import requests

        with requests.Session() as http:
            for page in range(partition.start, partition.end):
                records = _fetch_page(self.base_url, self.token, page, self.limit,
                                      self.timeout, self.max_retries, http)
                if records:
                    yield _batch_of(page, self.limit, records)
                if len(records) < self.limit:  # main.py:111-112
                    break


class RestPagesDataSource(DataSource):
    """``spark.read.format("rest_pages").option("base_url", ...).load()``."""

    @classmethod
    def name(cls) -> str:
        return "rest_pages"

    def schema(self):
        return TRANSACTIONS_RAW

    def reader(self, schema) -> RestPagesReader:
        return RestPagesReader(self.options)


def register(spark: SparkSession) -> None:
    spark.dataSource.register(RestPagesDataSource)


def read_transactions(
    spark: SparkSession,
    base_url: str,
    token: str,
    limit: int = DEFAULT_LIMIT,
    max_pages: int = DEFAULT_MAX_PAGES,
) -> DataFrame:
    """Partitioned read through the Python Data Source, one page range
    per task slot."""
    register(spark)
    return (
        spark.read.format("rest_pages")
        .option("base_url", base_url)
        .option("token", token)
        .option("limit", limit)
        .option("max_pages", max_pages)
        .option("partitions", min(max_pages + 1, spark.sparkContext.defaultParallelism))
        .load()
    )
