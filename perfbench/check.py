"""Untimed output checks against DuckDB.

Registry ops are checked right after their timed action, on the frame that
action collected (so store state is what the timed run saw), against their
``oracle_sql()`` entry over the same generated corpus: row count, column
set, dtype kind per column and an order-insensitive hash, with the
canonicalization of ``tools/oracle_check.py`` (imported, not copied). Ops
without an oracle get the representation audit only.

``reference_etl`` is compared with DuckDB run over the rows the stub served:
the written counts and the completion line, the Derby read-back of each
table, the three views built by ``queries.views`` over that read-back, and
that the views pushed to Derby exist (their rows are Derby's evaluation of
the benchmark's own Derby DDL, so they are not compared).
"""

from __future__ import annotations

import sys
from decimal import Decimal
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
import oracle_check  # noqa: E402


def _compare(name: str, spdf, opdf) -> str | None:
    problems = oracle_check.audit_frame(spdf, "spark") + oracle_check.audit_frame(opdf, "oracle")
    s_cols, o_cols = sorted(map(str, spdf.columns)), sorted(map(str, opdf.columns))
    if s_cols != o_cols:
        problems.append(f"columns differ: spark={s_cols} oracle={o_cols}")
    else:
        problems += [
            f"dtype kind {c}: spark={spdf[c].dtype} oracle={opdf[c].dtype}"
            for c in s_cols if spdf[c].dtype.kind != opdf[c].dtype.kind
        ]
    s, o = oracle_check.canon_frame(spdf), oracle_check.canon_frame(opdf)
    if s != o:
        problems.append(f"spark(n={s[0]}, h={s[2]}) vs oracle(n={o[0]}, h={o[2]})")
    return f"{name}: " + "; ".join(problems) if problems else None


class OracleChecker:
    """Checks registry-op results against ``oracle_sql()`` over one corpus.
    Ops without an oracle get the representation audit only."""

    def __init__(self, sf_dir: str):
        import __spark_entry__ as entry

        self.oracles = entry.oracle_sql()
        self.con = duckdb.connect()
        for t in oracle_check.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        self.audit_only: list[str] = []

    def check(self, name: str, spdf) -> str | None:
        """A mismatch description, or None when the collected ``spdf``
        matches."""
        if name not in self.oracles:
            self.audit_only.append(name)
            problems = oracle_check.audit_frame(spdf, "spark")
            return f"{name}: {problems}" if problems else None
        return _compare(name, spdf, self.con.execute(self.oracles[name]).fetchdf())

    def close(self) -> None:
        self.con.close()


REF_SQL = {
    "client_transaction_counts": """
        SELECT c.client_id, COUNT(tr.transaction_id) AS transaction_count
        FROM clients c JOIN accounts a ON c.client_id = a.client_id
        JOIN tx tr ON a.account_id = tr.account_id GROUP BY c.client_id""",
    "monthly_transaction_summary": """
        SELECT strftime(date_trunc('month', tr.timestamp), '%Y-%m-%d') AS month,
               c.client_email, COUNT(tr.transaction_id) AS transaction_count,
               CAST(SUM(tr.amount) AS DOUBLE) AS total_amount
        FROM tx tr JOIN accounts a ON tr.account_id = a.account_id
        JOIN clients c ON c.client_id = a.client_id GROUP BY 1, 2""",
    "high_transaction_accounts": """
        SELECT strftime(date_trunc('month', timestamp), '%Y-%m-%d') AS date,
               account_id, COUNT(transaction_id) AS transaction_count
        FROM tx GROUP BY 1, 2 HAVING COUNT(transaction_id) > 2""",
}


def _feed_tables(con, feed: dict) -> None:
    import pandas as pd

    con.register("clients_df", pd.DataFrame(feed["clients"]))
    con.register("accounts_df", pd.DataFrame(feed["accounts"]))
    raw = pd.DataFrame(feed["transactions"])
    raw["arrival"] = range(len(raw))
    con.register("raw_df", raw)
    con.execute("CREATE TABLE clients AS SELECT * FROM clients_df")
    con.execute("CREATE TABLE accounts AS SELECT account_id::BIGINT AS account_id, "
                "client_id FROM accounts_df")
    # keep-first per (timestamp, account_id); unparseable amounts become 0
    con.execute("""
        CREATE TABLE tx AS
        SELECT transaction_id::BIGINT AS transaction_id,
               CAST(timestamp AS TIMESTAMP) AS timestamp,
               account_id::BIGINT AS account_id,
               COALESCE(TRY_CAST(amount AS DECIMAL(10,2)), 0) AS amount, type, medium
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY timestamp, account_id ORDER BY arrival) AS rn
              FROM raw_df) WHERE rn = 1""")


def _decimals_to_float(df):
    for c in df.columns:
        if df[c].dtype.kind == "O" and any(isinstance(v, Decimal) for v in df[c].head(20)):
            df[c] = df[c].astype(float)
    return df


def reference_etl(spark, feed: dict, url: str, written: dict, completion: str | None
                  ) -> list[str]:
    """Mismatches of one reference_etl pass (the last one run)."""
    con = duckdb.connect()
    _feed_tables(con, feed)
    bad = []
    expect = {t: con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
              for t in ("clients", "accounts", "tx")}
    expect["transactions"] = expect.pop("tx")
    if written != expect:
        bad.append(f"reference_etl: written {written} != expected {expect}")
    if completion is not None:
        line = ("ZYLYTY Data Import Completed [{clients}, {accounts}, {transactions}]"
                .format(**expect))
        if completion != line:
            bad.append(f"reference_etl: completion line {completion!r} != {line!r}")
    from zylyty_data_engineer_challenge_spark.queries import views

    back = {}
    for table, n in expect.items():
        # read once: the count and the three views use the same rows
        back[table] = spark.read.jdbc(url, table).persist()
        got = back[table].count()
        if got != n:
            bad.append(f"reference_etl: derby {table} has {got} rows, expected {n}")
    built = {
        "client_transaction_counts": views.client_transaction_counts_ref(
            back["clients"], back["accounts"], back["transactions"]),
        "monthly_transaction_summary": views.monthly_transaction_summary_ref(
            back["clients"], back["accounts"], back["transactions"]),
        "high_transaction_accounts": views.high_transaction_accounts_ref(
            back["transactions"]),
    }
    for view, sql in REF_SQL.items():
        msg = _compare(f"reference_etl view {view}",
                       _decimals_to_float(built[view].toPandas()),
                       con.execute(sql).fetchdf())
        if msg:
            bad.append(msg)
        if not spark.read.jdbc(url, view).columns:
            bad.append(f"reference_etl: derby view {view} is missing")
    con.close()
    return bad
