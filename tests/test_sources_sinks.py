"""End-to-end tests for S1-S4 sources, K1-K4 sinks, and the pipeline (D1/D2).

A threaded stdlib HTTP server plays the challenge API: authenticated CSV
downloads, paginated JSON transactions (envelope AND bare-array pages, one
flaky page that fails once to exercise bounded retry); it logs every page
request so tests can count probes past the end. Derby embedded plays
the JDBC target so the sink + DDL path runs against a real database.
"""

from __future__ import annotations

import json
import threading
import time
from decimal import Decimal
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

from zylyty_data_engineer_challenge_spark.pipeline import PipelineConfig, run_pipeline
from zylyty_data_engineer_challenge_spark.schemas import ACCOUNTS, CLIENTS
from zylyty_data_engineer_challenge_spark.sinks import jdbc as jdbc_sink
from zylyty_data_engineer_challenge_spark.sources.http_csv import fetch_csv
from zylyty_data_engineer_challenge_spark.sources.rest_pages import (
    RETRY_SLEEP,
    _parse_ts,
    read_transactions,
    register,
)

TOKEN = "test-token"
N_TX = 230  # 3 pages at limit=100: 100 + 100 + 30
N_TX_CLEAN = 84  # distinct (timestamp, account_id): 28 days x 3 accounts
PAGE_LIMIT = 100

ACCOUNTS_CSV = "account_id,client_id\n1,c1\n2,c1\n3,c2\n"
CLIENTS_CSV = (
    "client_id,client_name,client_email,client_birth_date\n"
    "c1,Alice,alice@x.com,1990-01-01\n"
    "c2,Bob,bob@x.com,1985-05-05\n"
)
CSV_BODIES = {
    "accounts": ACCOUNTS_CSV,
    "clients": CLIENTS_CSV,
    "header_only": "client_id,client_name,client_email,client_birth_date\n",
    "bad_cells": "account_id,client_id\nx,c1\n2,c2\n",
    "bad_date": (
        "client_id,client_name,client_email,client_birth_date\n"
        "c1,Alice,alice@x.com,not-a-date\n"
    ),
}


def _tx(i: int) -> dict:
    return {
        "transaction_id": i,
        "timestamp": f"2024-03-{i % 28 + 1:02d}T12:00:00",
        "account_id": i % 3 + 1,
        "amount": "garbage" if i % 50 == 7 else f"{i}.25",
        "type": "dep",
        "medium": "card",
    }


class _ApiHandler(BaseHTTPRequestHandler):
    flaky_failures = {"1": 1}  # page 1 fails once, then succeeds
    page_log: list[tuple[str, int, int]] = []  # (token, page, limit) per request

    def log_message(self, *a):  # silence
        pass

    def _send(self, code: int, body: bytes, ctype: str = "application/json"):
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):  # noqa: N802
        url = urlparse(self.path)
        q = parse_qs(url.query)
        page = q.get("page", ["0"])[0]
        limit = int(q.get("limit", ["100"])[0])
        if url.path == "/transactions":
            token = self.headers.get("Authorization", "").removeprefix("Bearer ")
            self.page_log.append((token, int(page), limit))
        if self.headers.get("Authorization") != f"Bearer {TOKEN}":
            self._send(401, b'{"error": "unauthorized"}')
            return
        name = url.path.removeprefix("/download/").removesuffix(".csv")
        if name in CSV_BODIES:
            self._send(200, CSV_BODIES[name].encode(), "text/csv")
        elif url.path == "/download/broken.csv":
            self._send(500, b"boom", "text/plain")
        elif url.path == "/transactions":
            if self.flaky_failures.get(page, 0) > 0:
                self.flaky_failures[page] -= 1
                self._send(503, b'{"error": "try again"}')
                return
            start = int(page) * limit
            records = [_tx(i) for i in range(start, min(start + limit, N_TX))]
            if int(page) % 2 == 0:  # S4: alternate envelope and bare array
                body = json.dumps({"results": records})
            else:
                body = json.dumps(records)
            self._send(200, body.encode())
        else:
            self._send(404, b"{}")


@pytest.fixture(scope="module")
def api_server():
    server = ThreadingHTTPServer(("127.0.0.1", 0), _ApiHandler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory):
    db = tmp_path_factory.mktemp("derby") / "testdb"
    return f"jdbc:derby:{db};create=true"


# ---------------------------------------------------------------------------
# S1/S2
# ---------------------------------------------------------------------------


def test_fetch_csv_happy_path(spark, api_server):
    df = fetch_csv(spark, api_server, "accounts", TOKEN, ACCOUNTS)
    rows = sorted(df.collect(), key=lambda r: r.account_id)
    assert [(r.account_id, r.client_id) for r in rows] == [(1, "c1"), (2, "c1"), (3, "c2")]
    # file-based reads surface every field as nullable; compare names+types
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in ACCOUNTS
    ]


def test_fetch_csv_failure_yields_empty(spark, api_server):
    for name in ["broken", "missing"]:
        df = fetch_csv(spark, api_server, name, TOKEN, CLIENTS)
        assert df.count() == 0
        assert [f.name for f in df.schema] == [f.name for f in CLIENTS]


def test_fetch_csv_bad_token_yields_empty(spark, api_server):
    df = fetch_csv(spark, api_server, "accounts", "wrong-token", ACCOUNTS)
    assert df.count() == 0


def test_fetch_csv_header_only_yields_typed_empty(spark, api_server):
    df = fetch_csv(spark, api_server, "header_only", TOKEN, CLIENTS)
    assert df.count() == 0
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in CLIENTS
    ]


def test_fetch_csv_bad_cells_become_null(spark, api_server):
    accounts = fetch_csv(spark, api_server, "bad_cells", TOKEN, ACCOUNTS)
    assert {(r.account_id, r.client_id) for r in accounts.collect()} == {
        (None, "c1"), (2, "c2")
    }
    clients = fetch_csv(spark, api_server, "bad_date", TOKEN, CLIENTS)
    [row] = clients.collect()
    assert (row.client_id, row.client_birth_date) == ("c1", None)


# ---------------------------------------------------------------------------
# S3/S4 — the partitioned data source
# ---------------------------------------------------------------------------


def _read_ranges(spark, base_url: str, token: str, limit: int, max_pages: int,
                 partitions: int):
    """The data source with a fixed range count, independent of the slots."""
    register(spark)
    return (
        spark.read.format("rest_pages")
        .option("base_url", base_url)
        .option("token", token)
        .option("limit", limit)
        .option("max_pages", max_pages)
        .option("partitions", partitions)
        .load()
    )


def test_rest_pages_reads_all(spark, api_server):
    df = read_transactions(spark, api_server, TOKEN, limit=PAGE_LIMIT, max_pages=10)
    rows = df.collect()
    assert len(rows) == N_TX
    by_id = {r.transaction_id: r for r in rows}
    # envelope page (0) and bare-array page (1) both parsed
    assert by_id[5].amount == "5.25"
    assert by_id[107].amount == "garbage"  # raw string survives to cleaning
    assert by_id[150].account_id == 150 % 3 + 1
    # arrival ordinal is page*limit + idx == transaction id here
    assert all(r._arrival == r.transaction_id for r in rows)
    assert by_id[23].timestamp.month == 3


def test_rest_pages_partitioned_parallelism(spark, api_server):
    slots = spark.sparkContext.defaultParallelism
    # default arguments: 301 pages, one contiguous range per task slot
    assert read_transactions(spark, api_server, TOKEN).rdd.getNumPartitions() == min(
        301, slots
    )
    # fewer pages than slots: one page per range
    df = read_transactions(spark, api_server, TOKEN, limit=PAGE_LIMIT, max_pages=1)
    assert df.rdd.getNumPartitions() == min(2, slots)
    assert df.count() == 2 * PAGE_LIMIT


def test_rest_pages_feed_ends_mid_range(spark, api_server):
    # limit 60: pages 0-2 are full, page 3 (30 rows) ends the feed; 11 pages
    # in 4 ranges are [0,2) [2,5) [5,8) [8,11), so the end is mid-range
    limit, ranges = 60, 4
    _ApiHandler.page_log.clear()
    rows = _read_ranges(spark, api_server, TOKEN, limit, 10, ranges).collect()
    assert len(rows) == N_TX
    assert sorted(r.transaction_id for r in rows) == list(range(N_TX))
    # _tx(i) sits at index i % limit of page i // limit
    assert all(r._arrival == (r.transaction_id // limit) * limit + r.transaction_id % limit
               for r in rows)
    requested = [p for tok, p, lim in _ApiHandler.page_log if tok == TOKEN and lim == limit]
    past_end = {p for p in requested if p * limit >= N_TX}
    assert past_end and len(past_end) <= ranges - 1
    assert 4 not in requested  # the short page stopped its own range


class _FixedFeedHandler(BaseHTTPRequestHandler):
    """One short page of hand-picked records, then an empty feed."""

    records: list[dict] = []

    def log_message(self, *a):
        pass

    def do_GET(self):  # noqa: N802
        page = int(parse_qs(urlparse(self.path).query)["page"][0])
        body = json.dumps(self.records if page == 0 else []).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture()
def fixed_feed_server():
    server = ThreadingHTTPServer(("127.0.0.1", 0), _FixedFeedHandler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()


def test_rest_pages_arrow_timestamps_and_amounts(spark, fixed_feed_server, monkeypatch):
    """Arrow batches carry _parse_ts values as UTC instants, whatever the
    worker's zone, and amounts as raw strings with NULL kept NULL."""
    import datetime as dt

    from pyspark.sql import functions as F

    from zylyty_data_engineer_challenge_spark.etl.clean import coerce_amount
    from zylyty_data_engineer_challenge_spark.sources.rest_pages import _batch_of

    stamps = ["2024-05-01T10:00:00Z", "2024-05-01T12:00:00+02:00", 1714557600,
              1714557600.5, "2024-05-01 10:00:00.250000", "not a date", None]
    amounts = ["1.50", None, "garbage", "3", "4", "5", "6"]
    records = [
        {"transaction_id": i, "timestamp": ts, "account_id": 1, "amount": amt,
         "type": "dep", "medium": "card"}
        for i, (ts, amt) in enumerate(zip(stamps, amounts))
    ]
    want_us = [
        None if _parse_ts(ts) is None
        else round(_parse_ts(ts).replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
        for ts in stamps
    ]
    # _batch_of in a zone far from UTC: naive values must not shift
    monkeypatch.setenv("TZ", "Asia/Tokyo")
    time.tzset()
    try:
        batch = _batch_of(0, 100, records)
    finally:
        monkeypatch.undo()
        time.tzset()
    assert batch.column("timestamp").cast("int64").to_pylist() == want_us

    # end to end through Spark
    _FixedFeedHandler.records = records
    df = read_transactions(spark, fixed_feed_server, TOKEN, limit=100, max_pages=3)
    got = {
        r.transaction_id: r
        for r in df.select("*", F.unix_micros("timestamp").alias("us")).collect()
    }
    assert [got[i].us for i in range(len(stamps))] == want_us
    assert got[1].amount is None
    assert got[2].amount == "garbage"
    coerced = {r.transaction_id: r.amount for r in coerce_amount(df).collect()}
    assert (coerced[1], coerced[2]) == (Decimal("0.00"), Decimal("0.00"))


def test_rest_pages_rejected_token_fails_fast(spark, api_server):
    # warm the Python planner first, so only the failing read is timed
    read_transactions(spark, api_server, TOKEN, limit=PAGE_LIMIT, max_pages=0).count()
    _ApiHandler.page_log.clear()
    df = read_transactions(spark, api_server, "wrong-token", limit=PAGE_LIMIT, max_pages=10)
    start = time.time()
    with pytest.raises(Exception, match="HTTP 401"):
        df.count()
    assert time.time() - start < RETRY_SLEEP
    rejected = [p for tok, p, _ in _ApiHandler.page_log if tok == "wrong-token"]
    assert len(rejected) == len(set(rejected))  # no page was retried


# ---------------------------------------------------------------------------
# K1-K4 + Q5 against Derby
# ---------------------------------------------------------------------------


def test_jdbc_roundtrip_and_view_ddl(spark, api_server, derby_url):
    from zylyty_data_engineer_challenge_spark.etl.clean import clean_transactions

    accounts = fetch_csv(spark, api_server, "accounts", TOKEN, ACCOUNTS)
    tx = clean_transactions(
        read_transactions(spark, api_server, TOKEN, limit=PAGE_LIMIT, max_pages=10)
    )
    written = jdbc_sink.insert_data_to_tables(
        {"accounts": accounts, "transactions": tx,
         "clients": spark.createDataFrame([], CLIENTS)},  # K1: empty skipped
        derby_url,
    )
    assert written["accounts"] == 3
    assert written["transactions"] == N_TX_CLEAN
    assert written["clients"] == 0

    back = spark.read.jdbc(derby_url, "transactions")
    assert back.count() == N_TX_CLEAN
    amounts = {r["transaction_id"]: r["amount"] for r in back.collect()}
    assert amounts[7] == Decimal("0.00")  # coerced garbage survived the sink typed
    assert amounts[5] == Decimal("5.25")

    # Q5 mechanism: DDL push-through (Derby dialect: no OR REPLACE/TO_CHAR)
    jdbc_sink.execute_ddl(
        spark,
        derby_url,
        # Spark's JDBC writer quotes column identifiers (stored lowercase)
        # but not the table name (stored uppercase) — the DDL must match
        ['CREATE VIEW tx_by_account AS '
         'SELECT "account_id", COUNT("transaction_id") AS n '
         'FROM transactions GROUP BY "account_id"'],
    )
    v = spark.read.jdbc(derby_url, "tx_by_account")
    assert v.count() == 3
    assert sum(r[1] for r in v.collect()) == N_TX_CLEAN

    # K2-K4 append parity: re-writing appends, never replaces (SURVEY.md §8.7)
    jdbc_sink.write_table(accounts, derby_url, "accounts")
    assert spark.read.jdbc(derby_url, "accounts").count() == 6


# ---------------------------------------------------------------------------
# D1/D2 — full pipeline with the graded completion line
# ---------------------------------------------------------------------------


def test_run_pipeline_completion_line(spark, api_server, derby_url, capsys):
    cfg = PipelineConfig(
        api_base_url=api_server,
        admin_api_key=TOKEN,
        jdbc_url=f"{derby_url.replace('testdb', 'pipedb')}",
        push_views=False,  # reference DDL is PG-dialect; Derby can't run it
    )
    written = run_pipeline(spark, cfg)
    out = capsys.readouterr().out
    # D2: exact format, clients/accounts/transactions order (main.py:58-59)
    assert f"ZYLYTY Data Import Completed [2, 3, {written['transactions']}]" in out
    assert written == {"accounts": 3, "clients": 2, "transactions": written["transactions"]}
    assert written["transactions"] > 0
    # temp views registered for engine-native consumers
    assert spark.table("transactions").count() == written["transactions"]


def test_parse_ts_formats():
    """ISO-8601 variants incl. offsets normalize to UTC-naive; junk -> None."""
    import datetime as dt

    from zylyty_data_engineer_challenge_spark.sources.rest_pages import _parse_ts

    assert _parse_ts("2024-05-01T10:00:00") == dt.datetime(2024, 5, 1, 10)
    assert _parse_ts("2024-05-01 10:00:00.250000") == dt.datetime(2024, 5, 1, 10, 0, 0, 250000)
    assert _parse_ts("2024-05-01T10:00:00Z") == dt.datetime(2024, 5, 1, 10)
    assert _parse_ts("2024-05-01T12:00:00+02:00") == dt.datetime(2024, 5, 1, 10)
    assert _parse_ts("2024-05-01") == dt.datetime(2024, 5, 1)
    assert _parse_ts(1714557600) == dt.datetime(2024, 5, 1, 10)
    assert _parse_ts("not a date") is None
    assert _parse_ts(None) is None
    assert _parse_ts("") is None


def test_stream_to_jdbc_foreachbatch(spark, derby_url, tmp_path):
    """Streaming foreachBatch delivery into a real database: bounded events
    replay lands in Derby through the typed batch JDBC writer."""
    from zylyty_data_engineer_challenge_spark.streaming.dedup_stream import (
        dedup_events_stream,
        stream_to_jdbc,
    )
    from zylyty_data_engineer_challenge_spark.streaming.views_stream import (
        _stream_events,
    )

    url = derby_url.replace("testdb", "streamdb")
    q = stream_to_jdbc(
        dedup_events_stream(_stream_events(spark, "/root/testdata/sf0.001")),
        url,
        "event_keys",
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    back = spark.read.jdbc(url, "event_keys")
    from zylyty_data_engineer_challenge_spark.catalog import load_table
    from pyspark.sql import functions as F

    expected = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .select(
            "user_id", "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm").alias("hour"),
        )
        .distinct()
        .count()
    )
    assert back.count() == expected > 0

    # restart with the SAME checkpoint: the source offsets are committed,
    # so the rerun processes zero micro-batches and Derby stays unchanged —
    # the effectively-once contract checkpointLocation exists to provide
    q2 = stream_to_jdbc(
        dedup_events_stream(_stream_events(spark, "/root/testdata/sf0.001")),
        url,
        "event_keys",
        str(tmp_path / "ckpt"),
    )
    q2.awaitTermination()
    assert spark.read.jdbc(url, "event_keys").count() == expected


def test_pipeline_registers_engine_native_views(spark, api_server, derby_url):
    """Q5 engine-native: after run_pipeline, the three analytical views are
    queryable through spark.sql without any database."""
    cfg = PipelineConfig(
        api_base_url=api_server,
        admin_api_key=TOKEN,
        jdbc_url=derby_url.replace("testdb", "viewdb"),
        push_views=False,
    )
    run_pipeline(spark, cfg)
    v2 = spark.sql(
        "SELECT * FROM monthly_transaction_summary ORDER BY month, client_email"
    ).collect()
    assert len(v2) > 0
    assert {r.month for r in v2} == {"2024-03-01"}  # all fixture tx are March
    v3 = spark.sql("SELECT * FROM high_transaction_accounts").collect()
    assert all(r.transaction_count > 2 for r in v3)


# ---------------------------------------------------------------------------
# S3: HTTP 400 semantics (end-of-data past page 0, hard error on page 0)
# ---------------------------------------------------------------------------


class _Always400Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def do_GET(self):  # noqa: N802
        body = b'{"error": "bad request"}'
        self.send_response(400)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture()
def bad_request_server():
    server = ThreadingHTTPServer(("127.0.0.1", 0), _Always400Handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()


def test_page0_400_raises_after_bounded_retries(bad_request_server):
    # a 400 on the FIRST page is a malformed request, not end-of-data —
    # silently returning an empty dataset would mask a broken integration
    from zylyty_data_engineer_challenge_spark.sources.rest_pages import _fetch_page

    with pytest.raises(RuntimeError, match="page 0 failed"):
        _fetch_page(bad_request_server, TOKEN, 0, 100, timeout=2.0, max_retries=1)


def test_past_end_400_is_end_of_data(bad_request_server):
    from zylyty_data_engineer_challenge_spark.sources.rest_pages import _fetch_page

    assert _fetch_page(bad_request_server, TOKEN, 3, 100, timeout=2.0, max_retries=1) == []
