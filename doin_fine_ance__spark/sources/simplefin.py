"""SimpleFIN-shaped ingest: windowed extraction → Spark DataFrame.

Engine twin of dagster/extractors/simplefin_api.py (S1-S3): a 200-day
lookback split into ≤45-day request windows, per-window JSON accounts
payloads flattened to transaction rows, in-flight dedup by
transaction_id, import_timestamp/import_date stamping, and a
retry-policy spec that never retries auth/payment errors.

Network I/O is injected (``fetch_window`` callable) so the extraction
logic is testable hermetically and the driver-side fetch can be
swapped for a distributed one: at scale, parallelize the
(account × window) grid as a DataFrame and fetch inside
``mapInPandas`` so 1000 executors pull windows concurrently —
``distributed_extract`` below wires exactly that.
"""

from __future__ import annotations

import datetime as dt
import json
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession

from ..operators.snapshot import SnapshotTable
from ..schemas import RAW_BALANCES, RAW_SIMPLEFIN
from ..session import local_frame

MAX_DAYS_PER_REQUEST = 45  # simplefin_api.py:120 (SimpleFIN API cap)
LOOKBACK_DAYS = 200  # simplefin_api.py:115 (no account supports more)


def window_params(
    start: dt.datetime,
    end: dt.datetime,
    include_pending: bool = False,
    balances_only: bool = False,
) -> dict:
    """Query params for one /accounts request (P10).

    Mirrors simplefin_api.py:145-148 (start-date/end-date epoch
    seconds) plus the two option flags the reference declares at
    :112-113: ``pending=1`` includes pending transactions,
    ``balances-only=1`` asks the API to omit transactions entirely.
    """
    params: dict = {
        "start-date": int(start.timestamp()),
        "end-date": int(end.timestamp()),
    }
    if include_pending:
        params["pending"] = 1
    if balances_only:
        params["balances-only"] = 1
    return params


@dataclass(frozen=True)
class RetryPolicy:
    """Retry spec (simplefin_api.py:13-33) — invariants tested, transport
    provided by whatever HTTP client hosts the engine."""

    total: int = 5
    backoff_factor: float = 1.0
    retried_statuses: tuple[int, ...] = (429, 500, 502, 503, 504)
    never_retried: tuple[int, ...] = (402, 403)
    allowed_methods: tuple[str, ...] = ("GET",)

    def should_retry(self, status: int, attempt: int) -> bool:
        if attempt >= self.total:
            return False
        if status in self.never_retried:
            return False
        return status in self.retried_statuses

    def backoff_seconds(self, attempt: int) -> float:
        # sleeps ~0s, 1s, 2s, 4s, 8s — urllib3 Retry semantics
        return 0.0 if attempt == 0 else self.backoff_factor * (2 ** (attempt - 1))


def request_windows(
    now: dt.datetime,
    lookback_days: int = LOOKBACK_DAYS,
    max_days: int = MAX_DAYS_PER_REQUEST,
) -> list[tuple[dt.datetime, dt.datetime]]:
    """The ≤45-day chunk grid over the lookback (simplefin_api.py:114-148)."""
    start = now - dt.timedelta(days=lookback_days)
    windows = []
    current = start
    while current < now:
        end = min(current + dt.timedelta(days=max_days), now)
        windows.append((current, end))
        current = end
    return windows


def rows_from_accounts_payload(
    payload: dict, import_timestamp: dt.datetime, seen_ids: set[str]
) -> list[tuple]:
    """Flatten one /accounts JSON payload into RAW_SIMPLEFIN rows
    (simplefin_api.py:200-233), skipping already-seen transaction ids."""
    rows: list[tuple] = []
    for account in payload.get("accounts", []):
        org = account.get("org", {})
        for txn in account.get("transactions", []):
            tid = txn.get("id")
            if tid in seen_ids:
                continue
            seen_ids.add(tid)
            posted = txn.get("posted")
            transacted = txn.get("transacted_at")
            amount = txn.get("amount")
            extra = txn.get("extra")
            rows.append(
                (
                    tid,
                    account.get("id"),
                    account.get("name"),
                    org.get("domain"),
                    org.get("name", "Unknown"),
                    Decimal(str(amount)).quantize(Decimal("0.01")) if amount is not None else None,
                    posted,
                    dt.datetime.utcfromtimestamp(posted).isoformat() if posted else None,
                    transacted,
                    dt.datetime.utcfromtimestamp(transacted).isoformat() if transacted else None,
                    txn.get("description"),
                    bool(txn.get("pending", False)),
                    import_timestamp.isoformat(),
                    import_timestamp.date().isoformat(),
                    json.dumps(extra) if isinstance(extra, (dict, list)) else extra,
                )
            )
    return rows


def balances_from_accounts_payload(
    payload: dict, import_timestamp: dt.datetime, seen_accounts: set[str]
) -> list[tuple]:
    """Flatten one balances-only /accounts payload into RAW_BALANCES
    rows (P10, balances-only=1): one row per account, first window
    wins (later windows re-serve the same current balance)."""

    def _dec(v):
        return Decimal(str(v)).quantize(Decimal("0.01")) if v is not None else None

    rows: list[tuple] = []
    for account in payload.get("accounts", []):
        aid = account.get("id")
        if aid in seen_accounts:
            continue
        seen_accounts.add(aid)
        org = account.get("org", {})
        rows.append(
            (
                aid,
                account.get("name"),
                org.get("domain"),
                org.get("name", "Unknown"),
                _dec(account.get("balance")),
                _dec(account.get("available-balance")),
                account.get("balance-date"),
                import_timestamp.isoformat(),
                import_timestamp.date().isoformat(),
            )
        )
    return rows


def extract_simplefin(
    spark: SparkSession,
    fetch_window: Callable[..., dict],
    now: dt.datetime | None = None,
    lookback_days: int = LOOKBACK_DAYS,
    include_pending: bool = False,
    balances_only: bool = False,
) -> DataFrame:
    """Driver-side windowed extraction → typed landing DataFrame (S1).

    `fetch_window(start, end)` returns one /accounts JSON payload; ids
    repeated across overlapping windows are deduped in-flight
    (simplefin_api.py:127,211-214).

    P10 options (reference TODOs at simplefin_api.py:53-58,111-113):

    - ``include_pending=True`` sends ``pending=1`` (see
      :func:`window_params`) and keeps pending transactions in the
      output; with the default False, pending rows are dropped even if
      a server serves them — mirroring the API, which omits pending
      transactions unless asked.
    - ``balances_only=True`` sends ``balances-only=1`` and returns a
      RAW_BALANCES DataFrame (one row per account) instead of
      transactions; a single window suffices, balances are current.

    ``fetch_window`` may optionally accept a third ``params`` argument
    to receive the exact query-param dict (transports that build their
    own URL can ignore it).
    """
    import inspect

    now = now or dt.datetime.utcnow()
    takes_params = len(inspect.signature(fetch_window).parameters) >= 3

    def _fetch(start: dt.datetime, end: dt.datetime) -> dict:
        params = window_params(start, end, include_pending, balances_only)
        return fetch_window(start, end, params) if takes_params else fetch_window(start, end)

    if balances_only:
        first_start, first_end = request_windows(now, lookback_days)[-1]
        seen_accounts: set[str] = set()
        rows = balances_from_accounts_payload(
            _fetch(first_start, first_end), now, seen_accounts
        )
        return local_frame(spark, rows, RAW_BALANCES)

    seen: set[str] = set()
    rows = []
    for start, end in request_windows(now, lookback_days):
        rows.extend(rows_from_accounts_payload(_fetch(start, end), now, seen))
    if not include_pending:
        rows = [r for r in rows if not r[11]]  # RAW_SIMPLEFIN 'pending' slot
    return local_frame(spark, rows, RAW_SIMPLEFIN)


def distributed_extract(
    spark: SparkSession,
    fetch_window_fn: Callable[[str, int, int], dict],
    account_urls: list[str],
    now: dt.datetime | None = None,
    lookback_days: int = LOOKBACK_DAYS,
) -> DataFrame:
    """Scale path: (account_url × window) grid fetched inside mapInPandas.

    Each executor task pulls its own windows — the fetch parallelism is
    the cluster, not the driver. In-flight dedup can't span tasks, so
    the cross-window dedup is finished by dropDuplicates on
    transaction_id (I3 → dropDuplicates at ingest, SURVEY §2.10).
    """
    import pandas as pd

    now = now or dt.datetime.utcnow()
    windows = request_windows(now, lookback_days)
    grid = local_frame(
        spark,
        [
            (url, int(s.timestamp()), int(e.timestamp()))
            for url in account_urls
            for s, e in windows
        ],
        "url string, start_ts long, end_ts long",
    ).repartition(max(len(account_urls), 1))

    import_ts = now  # captured into the closure once, not per row

    def fetch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            all_rows: list[tuple] = []
            seen: set[str] = set()
            for r in pdf.itertuples(index=False):
                payload = fetch_window_fn(r.url, r.start_ts, r.end_ts)
                all_rows.extend(rows_from_accounts_payload(payload, import_ts, seen))
            yield pd.DataFrame(all_rows, columns=RAW_SIMPLEFIN.fieldNames())

    fetched = grid.mapInPandas(fetch_partition, schema=RAW_SIMPLEFIN)
    return fetched.dropDuplicates(["transaction_id"])


def append_to_landing(df: DataFrame, path: str) -> None:
    """S3: raw append into the landing zone (repo.py:29-47's to_sql
    append), committed as one version of the landing manifest table
    (``operators/snapshot.py``).

    A read pins one published version, so it never sees a half-written
    append, and it reads with the recorded schema (no inference job).
    A daily ingest's rows share one ``import_date``, so each commit's
    files hold a single date, and their parquet min/max statistics let
    a filter on ``import_date`` skip them. A landing root written
    before as plain parquet partitioned by ``import_date`` is adopted
    by the first append, which types its columns as ``df`` has them.
    """
    SnapshotTable(path).commit_append(df)
