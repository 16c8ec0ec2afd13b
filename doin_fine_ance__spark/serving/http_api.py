"""HTTP serving adapter — the engine's twin of the reference's FastAPI
backend (`ui/backend/api/transactions.py:38-62`, `categories.py:34-41`,
`control_center.py`), with zero web-framework dependencies: a stdlib
``ThreadingHTTPServer`` routes requests into the same serving-layer
functions the query inventory tests (`serving/transactions.py`,
`serving/validated.py`, `serving/categories.py`,
`serving/control_center.py`).

Scope note: this is the *interactive* read/override surface — small
result pages over materialized marts, single-row or small-batch
override writes. The Spark work per list request is a filter plus one
window pass (over a cached overlay DataFrame for transactions), which
yields the page and its total in one action of 2 Spark jobs (the
window's exchange, then the result stage); the HTTP layer only
translates query strings and JSON bodies. Swapping in FastAPI/uvicorn
is a handler rename, not a redesign.

Reads recompute only when an input moved. ``ServingApp`` keeps one
memo, keyed on the published versions of each value's input tables:
the cached overlay (marts ⟕ overrides), the DataFrames of the marts
and the overrides table, and the collected rows of every route that
reads no user-written table — predicted categories
(``analytics.fct_trxns_with_predictions``), validated categories
(``analytics.fct_validated_trxns``), connection health
(``public.simplefin``), metrics history and training status
(``analytics.model_registry``). Such a route runs no Spark job until
one of its tables publishes a new version. A table not yet adopted as
a manifest table (plain parquet, or no table at all) keys as version
0, so a plain rewrite of it is not seen until its first commit. The
category catalog is read on every request: ``public.categories`` is
loaded from outside the engine and never committed, so its version
would stay 0 and a reloaded catalog would never show.

Routes (mirroring the reference paths):

  GET  /api/transactions                      list + total_count
  GET  /api/transactions/categories/list      distinct predicted cats (memoized)
  GET  /api/transactions/{id}                 single transaction
  POST /api/transactions/{id}/categorize      override upsert
  PUT  /api/transactions/{id}/validate        validated flag
  PUT  /api/transactions/{id}/notes           notes
  PUT  /api/transactions/{id}/exclude-from-forecast
  POST /api/transactions/bulk-validate        one keyed merge
  GET  /api/validated                         validated list + count
  GET  /api/validated/categories/list         distinct validated cats (memoized)
  GET  /api/categories                        active catalog names
  GET  /api/control-center/connection-health  health rollup (memoized)
  GET  /api/model-metrics/metrics/history     registry metrics view (memoized)
  GET  /api/model-metrics/training-status     latest registry row (memoized)
"""

from __future__ import annotations

import functools
import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame, SparkSession


def _jsonable(v):
    import datetime as dt
    from decimal import Decimal

    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def _json_rows(rows) -> list[dict]:
    return [{k: _jsonable(v) for k, v in r.items()} for r in rows]


def _rows(df) -> list[dict]:
    return _json_rows(r.asDict() for r in df.collect())


def _page(page) -> dict:
    """A list endpoint's body from its collected :class:`Page`."""
    return {"total_count": page.total_count, "transactions": _json_rows(page.rows)}


class HttpError(Exception):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status


_MART = ("analytics", "fct_trxns_with_predictions")
_VALIDATED = ("analytics", "fct_validated_trxns")
_OVERRIDES = ("public", "user_categories")


def _memoized(*inputs: tuple[str, str]):
    """Serve the decorated no-argument method's value from the app's
    memo until one of ``inputs`` (``(schema, table)`` pairs) publishes
    a new version; the memo entry is named after the method."""

    def wrap(fn):
        @functools.wraps(fn)
        def memoized(self):
            return self._memo_get(fn.__name__, inputs, lambda: fn(self))

        return memoized

    return wrap


def _release(value) -> None:
    if isinstance(value, DataFrame) and value.is_cached:
        value.unpersist()


class ServingApp:
    """Route table + version-keyed memo over a warehouse root.

    The memo maps a name to (the ``latest_version`` of each of its
    input tables, the value), at most one value per name. The key is
    read before the value is computed, so a commit landing mid-compute
    leaves the key behind the value and costs one extra recompute,
    never a stale read. A changed key recomputes the value and releases
    the old one (a cached DataFrame is unpersisted). The check, the
    compute and the store hold one lock, so concurrent requests that
    miss the same entry compute it once. A commit from
    anywhere — this app's writes, a build, a predict, another server
    process — therefore shows on the next read: the read-your-writes
    contract the reference gets from querying Postgres views per
    request, without re-running the join chain when nothing changed.
    A table not yet adopted as a manifest table keys as version 0.

    Memo entries: the cached overlay (marts ⟕ user overrides, keyed on
    both); the DataFrames of ``fct_trxns_with_predictions``,
    ``fct_validated_trxns`` and ``user_categories``, each on its own
    version, so a request plans no file listing of a version it has
    seen; and the collected rows of the routes that read no
    user-written table (predicted and validated categories,
    connection health, metrics history, training status), keyed by
    route name, never by request parameters.
    Predicted categories read the mart, not the overlay: the overlay is
    a left join on a unique key, so its predicted categories are the
    mart's. Writes through this app call :meth:`invalidate` to release
    the overlay at once.

    Both list endpoints collect their page and total in one action
    (``operators.pagination.collect_page_with_total``), where the
    reference runs COUNT(*) and the page as two queries. That action
    is 2 Spark jobs, the window's exchange and the result stage; the
    validated list adds the join with the overrides table.

    Every table is read through the warehouse, which pins one published
    version per read: an override write commits a new version of
    ``public.user_categories``, and the version a concurrent read (or
    a memoized value) holds stays on disk until retention expires it,
    so reads and writes from concurrent requests never tear each other.
    """

    def __init__(self, spark: SparkSession, warehouse_root: str):
        from ..plans.build import Warehouse

        self.spark = spark
        self.wh = Warehouse(spark, warehouse_root)
        self._memo: dict[str, tuple[tuple[int, ...], object]] = {}
        # re-entrant: the overlay's compute reads memoized tables
        self._lock = threading.RLock()

    # -- data access -------------------------------------------------

    def _memo_get(self, name: str, inputs, compute):
        with self._lock:
            key = tuple(self.wh.latest_version(*t) for t in inputs)
            old = self._memo.get(name)
            if old is not None and old[0] == key:
                return old[1]
            value = compute()
            self._memo[name] = (key, value)
            if old is not None:
                _release(old[1])
            return value

    @property
    def _overlay(self):
        """The memoized overlay, None before the first read and after
        :meth:`invalidate` (its key is checked only by :meth:`overlay`)."""
        entry = self._memo.get("overlay")
        return entry and entry[1]

    @_memoized(_MART, _OVERRIDES)
    def overlay(self):
        """The cached overlay, rebuilt when either input table has
        published a version since it was built."""
        from .transactions import transaction_overlay

        return transaction_overlay(self._read(*_MART), self._user_categories()).cache()

    def _read(self, schema: str, table: str):
        """The table's DataFrame, memoized on its version."""
        return self._memo_get(f"{schema}.{table}", [(schema, table)],
                              lambda: self.wh.read(schema, table))

    def _user_categories(self):
        from ..schemas import USER_CATEGORIES
        from ..session import local_frame

        if self.wh.exists(*_OVERRIDES):
            return self._read(*_OVERRIDES)
        return local_frame(self.spark, [], USER_CATEGORIES)

    def invalidate(self):
        """Release the overlay after this app's own override write,
        instead of at the next read's key check."""
        with self._lock:
            entry = self._memo.pop("overlay", None)
        if entry is not None:
            _release(entry[1])

    # -- handlers ----------------------------------------------------

    def list_transactions(self, q: dict) -> dict:
        from .transactions import get_transactions_filtered

        return _page(get_transactions_filtered(
            self.overlay(),
            limit=int(q.get("limit", ["100"])[0]),
            offset=int(q.get("offset", ["0"])[0]),
            view_mode=q.get("view_mode", [None])[0],
            description_search=q.get("search", [None])[0],
            exclude_low_confidence=q.get("exclude_low_confidence", ["false"])[0].lower()
            == "true",
            sort_by=q.get("sort_by", [None])[0],
            sort_order=q.get("sort_order", ["desc"])[0],
        ))

    def get_transaction(self, txn_id: str) -> dict:
        from .transactions import get_transaction_by_id

        rows = _rows(get_transaction_by_id(self.overlay(), txn_id))
        if not rows:
            raise HttpError(404, f"transaction {txn_id} not found")
        return rows[0]

    @_memoized(_MART)
    def predicted_categories(self) -> list:
        from .transactions import distinct_predicted_categories

        return [r["predicted_master_category"]
                for r in _rows(distinct_predicted_categories(self._read(*_MART)))]

    def categorize(self, txn_id: str, body: dict) -> dict:
        from .transactions import categorize_transaction

        if not body.get("master_category"):
            raise HttpError(400, "master_category is required")
        categorize_transaction(
            self.spark,
            self.wh.path(*_OVERRIDES),
            txn_id,
            master_category=body["master_category"],
            source_category=body.get("source_category"),
            notes=body.get("notes"),
            validated=body.get("validated", True),
            exclude_from_forecast=body.get("exclude_from_forecast"),
            updated_by=body.get("updated_by", "api"),
        )
        self.invalidate()
        return {"status": "success", "transaction_id": txn_id}

    def _override_field(self, txn_id: str, body: dict, field: str, required_key: str) -> dict:
        from .transactions import categorize_transaction

        if required_key not in body:
            raise HttpError(400, f"{required_key} is required")
        existing = self.get_transaction(txn_id)  # 404s if unknown
        # user_categories.master_category is NOT NULL: a transaction with
        # no override yet takes its overlay category, else its prediction
        # (or the reserved UNCERTAIN). An existing override keeps its own
        # category, resolved inside the locked merge, so a categorize
        # that commits after the read above is not reverted.
        category = (
            existing["master_category"]
            or existing["predicted_master_category"]
            or "UNCERTAIN"
        )
        categorize_transaction(
            self.spark,
            self.wh.path(*_OVERRIDES),
            txn_id,
            master_category=category,
            **{field: body[required_key]},
            updated_by=body.get("updated_by", "api"),
            keep_category=True,
        )
        self.invalidate()
        return {"status": "success", "transaction_id": txn_id}

    def bulk_validate(self, body: dict) -> dict:
        from .transactions import bulk_categorize

        assignments = body.get("assignments")
        if not isinstance(assignments, list) or not assignments:
            raise HttpError(400, "assignments must be a non-empty list")
        for a in assignments:
            if "transaction_id" not in a or "master_category" not in a:
                raise HttpError(400, "each assignment needs transaction_id and master_category")
            a.setdefault("validated", True)
        n = bulk_categorize(
            self.spark, self.wh.path(*_OVERRIDES), assignments,
            updated_by=body.get("updated_by", "api"),
        )
        self.invalidate()
        return {"status": "success", "updated": n}

    def list_validated(self, q: dict) -> dict:
        from .validated import list_validated_transactions

        return _page(list_validated_transactions(
            self._read(*_VALIDATED),
            self._user_categories(),
            limit=int(q.get("limit", ["100"])[0]),
            offset=int(q.get("offset", ["0"])[0]),
            sort_by=q.get("sort_by", [None])[0],
            sort_order=q.get("sort_order", ["desc"])[0],
            category=q.get("category", [None])[0],
            account_name_filter=q.get("account_name", [None])[0],
            description_search=q.get("search", [None])[0],
        ))

    @_memoized(_VALIDATED)
    def validated_categories(self) -> list:
        from .validated import distinct_validated_categories

        return [r["master_category"] for r in _rows(
            distinct_validated_categories(self._read(*_VALIDATED))
        )]

    def categories(self) -> list:
        from .categories import ensure_default_categories, get_active_category_names

        catalog = (
            self.wh.read("public", "categories")
            if self.wh.exists("public", "categories") else None
        )
        return get_active_category_names(ensure_default_categories(self.spark, catalog))

    @_memoized(("public", "simplefin"))
    def connection_health(self) -> list:
        from .control_center import connection_health

        return _rows(connection_health(self.wh.read("public", "simplefin")))

    @_memoized(("analytics", "model_registry"))
    def metrics_history(self) -> dict:
        from ..ml.registry import registry_metrics_view

        if not self.wh.exists("analytics", "model_registry"):
            return {"history": []}
        view = registry_metrics_view(self.wh.read("analytics", "model_registry"))
        return {"history": _rows(view.orderBy("training_timestamp"))}

    @_memoized(("analytics", "model_registry"))
    def training_status(self) -> dict:
        if not self.wh.exists("analytics", "model_registry"):
            return {"status": "never_trained", "model_version": None}
        latest = _rows(
            self.wh.read("analytics", "model_registry")
            .filter("is_latest")
            .select("model_version", "status", "training_timestamp")
            .limit(1)
        )
        if not latest:
            return {"status": "never_trained", "model_version": None}
        return latest[0]

    # -- routing -----------------------------------------------------

    _TXN_SUB = re.compile(r"^/api/transactions/([^/]+)(?:/([a-z\-]+))?$")

    def route(self, method: str, path: str, query: dict, body: dict):
        if path == "/api/transactions" and method == "GET":
            return self.list_transactions(query)
        if path == "/api/transactions/categories/list" and method == "GET":
            return self.predicted_categories()
        if path == "/api/transactions/bulk-validate" and method == "POST":
            return self.bulk_validate(body)
        if path == "/api/validated" and method == "GET":
            return self.list_validated(query)
        if path == "/api/validated/categories/list" and method == "GET":
            return self.validated_categories()
        if path == "/api/categories" and method == "GET":
            return self.categories()
        if path == "/api/control-center/connection-health" and method == "GET":
            return self.connection_health()
        if path == "/api/model-metrics/metrics/history" and method == "GET":
            return self.metrics_history()
        if path == "/api/model-metrics/training-status" and method == "GET":
            return self.training_status()
        m = self._TXN_SUB.match(path)
        if m:
            txn_id, action = m.group(1), m.group(2)
            if action is None and method == "GET":
                return self.get_transaction(txn_id)
            if action == "categorize" and method == "POST":
                return self.categorize(txn_id, body)
            if action == "validate" and method == "PUT":
                return self._override_field(txn_id, body, "validated", "validated")
            if action == "notes" and method == "PUT":
                return self._override_field(txn_id, body, "notes", "notes")
            if action == "exclude-from-forecast" and method == "PUT":
                return self._override_field(
                    txn_id, body, "exclude_from_forecast", "exclude_from_forecast"
                )
        raise HttpError(404, f"no route for {method} {path}")


def make_server(app: ServingApp, host: str = "127.0.0.1", port: int = 0) -> ThreadingHTTPServer:
    """Build (not start) a threaded HTTP server over the app. Callers
    run ``server.serve_forever()`` (typically in a daemon thread) and
    read the bound port from ``server.server_address[1]``."""

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet by default
            pass

        def _dispatch(self, method: str):
            parsed = urlparse(self.path)
            body = {}
            length = int(self.headers.get("Content-Length") or 0)
            if length:
                try:
                    body = json.loads(self.rfile.read(length))
                except json.JSONDecodeError:
                    self._send(400, {"error": "invalid JSON body"})
                    return
            try:
                result = app.route(method, parsed.path, parse_qs(parsed.query), body)
                self._send(200, result)
            except HttpError as e:
                self._send(e.status, {"error": str(e)})
            except Exception as e:  # noqa: BLE001 — surface, don't crash the server
                self._send(500, {"error": f"{type(e).__name__}: {e}"})

        def _send(self, status: int, payload):
            data = json.dumps(payload, default=str).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self):
            self._dispatch("GET")

        def do_POST(self):
            self._dispatch("POST")

        def do_PUT(self):
            self._dispatch("PUT")

    return ThreadingHTTPServer((host, port), Handler)
