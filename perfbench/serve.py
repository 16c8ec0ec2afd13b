"""``serve_mixed``: the reference UI's triage loop over HTTP.

Set-up lands a seeded household (``sources.append_to_landing``), writes
seeded model predictions directly (so no training runs), ingests one
daily SimpleFIN import and builds the marts through ``PipelineRun``
(``sources.extract_simplefin``, ``plans.build``), then serves the
warehouse with ``make_server(ServingApp)`` in-process.

The timed part is one closed-loop client, the household's one user: it
sends its next request only after the previous one returned, going
round a triage cycle of 12 requests until ``--seconds`` have passed
(and at least one whole cycle); a warm-up client runs one untimed cycle
first, so every route's first-use costs are paid in set-up. Throughput
is requests per second over the window, each request counted by its
share of a cycle (``common.window_rate``). 8 of 12
requests read (list pages with varied view mode, sort, search and
offset; get-by-id; the category list; the validated list; connection
health) and 4 write (categorize, validate, notes, bulk-validate of
10-50 rows), and the client checks that it reads its own writes.

A second concurrent client is not run: ``ServingApp`` reads
``public.user_categories`` in the plain parquet layout, which an
override write replaces by stage-and-swap, so a read that overlaps a
write can lose its files (``FAILED_READ_FILE.FILE_NOT_EXIST``). Once
serving reads are isolated from writes, concurrent clients that write
disjoint shares of the ids can each check their own writes.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import shutil
import threading
import time
from dataclasses import dataclass, field
from urllib.parse import urlencode

from statistics import median

from common import WORK, window_rate
from household import MERCHANTS, Household, Size, write_parquet

LAYERS = ("sources", "plans", "operators", "serving")  # per-layer metric prefixes it drives

# One triage cycle, in order: browse pages, open one, fix categories,
# validate, annotate, bulk-validate; 8 of 12 requests read. The seed
# picks every parameter.
CYCLE = ["list", "get", "categorize", "list", "validate", "categories", "list",
         "notes", "validated", "list", "health", "bulk"]
VIEWS = ["unvalidated_predicted", "unvalidated_unpredicted", "validated"]
READS = {"list", "get", "categories", "validated", "health"}
ROUTE_SPANS = {f"serving.{k}" for k in READS | {"write"}}
SEARCH_WORDS = sorted({m[0].split()[0].lower() for m in MERCHANTS})


def _route_kind(method: str, path: str) -> str:
    if method != "GET":
        return "write"
    if path == "/api/transactions":
        return "list"
    if path.endswith("/categories/list") and "validated" not in path:
        return "categories"
    if path.startswith("/api/validated"):
        return "validated"
    if "connection-health" in path:
        return "health"
    return "get"


def _predictions(hh: Household, rng: random.Random) -> list[tuple]:
    """One seeded prediction per uncategorized SimpleFIN transaction of
    the landed history; confidences below the 0.40 threshold come out
    as UNCERTAIN, like the predictor's own output."""
    import datetime as dt
    from decimal import Decimal

    from doin_fine_ance__spark.schemas import DEFAULT_CATEGORIES

    validated = {o[0] for o in hh.overrides if o[4]}
    ts = hh.now_for(0)
    out = []
    for t in hh.txns:
        tid = hh.final_id[t.tid]
        if t.excluded or t.day >= hh.size.history_days or tid in validated:
            continue
        conf = rng.uniform(0.2, 0.99)
        label = t.category if rng.random() < 0.8 else rng.choice(DEFAULT_CATEGORIES)
        out.append((tid, "UNCERTAIN" if conf < 0.40 else label,
                    Decimal(f"{conf:.6f}"), ts.strftime("%Y%m%d_%H%M%S"),
                    ts - dt.timedelta(hours=1)))
    return out


@dataclass
class Expect:
    """What the set-up data implies for reads that writes cannot change."""

    overlay_ids: list[str]
    overlay_total: int
    search_totals: dict[str, int]
    predicted_categories: list[str]
    validated_total: int
    health_rows: int
    mart_counts: dict[str, int]


def _expectations(hh: Household, preds: list[tuple]) -> Expect:
    counts = hh.expected_counts(daily_runs=1)
    validated = {o[0] for o in hh.overrides if o[4]}
    visible = hh.size.history_days + 1
    # overlay rows = uncategorized mart: SimpleFIN txns not validated +
    # historic rows without a category (ids minted by staging)
    sf = [t for t in hh.txns if not t.excluded and t.day < visible
          and hh.final_id[t.tid] not in validated]
    hist_uncat = [r for r in hh.historic if r[6] is None]
    search = {}
    for w in SEARCH_WORDS:
        search[w] = sum(w in t.description.lower() for t in sf) + sum(
            w in r[1].lower() for r in hist_uncat)
    keys = {(a.institution, a.name.split(" (")[0]) for _, a, _, _ in hh.landing}
    return Expect(
        overlay_ids=sorted(hh.final_id[t.tid] for t in sf),
        overlay_total=counts["fct_trxns_uncategorized"],
        search_totals=search,
        predicted_categories=sorted({p[1] for p in preds} - {"UNCERTAIN"}),
        validated_total=counts["fct_validated_trxns"],
        health_rows=len(keys),
        mart_counts=counts,
    )


@dataclass
class Sample:
    kind: str
    ms: float
    ok: bool
    detail: str = ""
    pos: int = 0  # the request's place in its cycle
    start: float = 0.0  # perf_counter when it was sent


@dataclass
class Client:
    """The closed-loop client with its seeded request stream."""

    port: int
    seed: int
    expect: Expect
    seconds: float
    samples: list[Sample] = field(default_factory=list)
    own: dict[str, dict] = field(default_factory=dict)
    page: int = -1  # which of a cycle's four list pages was asked last

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed * 1009)
        self.ids = self.expect.overlay_ids

    def call(self, method: str, path: str, body: dict | None = None) -> tuple[int, object]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            data = json.dumps(body).encode() if body is not None else None
            headers = {"Content-Type": "application/json"} if data else {}
            conn.request(method, path, body=data, headers=headers)
            resp = conn.getresponse()
            return resp.status, json.loads(resp.read() or b"null")
        finally:
            conn.close()

    def run(self) -> None:
        """Round the cycle until ``seconds`` have passed, after one whole
        cycle at least."""
        self.t0 = time.perf_counter()
        deadline = self.t0 + self.seconds
        n = 0
        while True:
            for pos, kind in enumerate(CYCLE):
                if n and time.perf_counter() >= deadline:
                    return
                self.one(kind, n, pos)
            n += 1

    def one(self, kind: str, n: int = 0, pos: int = 0) -> None:
        t0 = time.perf_counter()
        try:
            ok, detail = (self._list(n) if kind == "list" else getattr(self, "_" + kind)())
        except Exception as e:  # noqa: BLE001 - a failed request is a sample
            ok, detail = False, f"{type(e).__name__}: {e}"
        self.samples.append(Sample(kind, (time.perf_counter() - t0) * 1000.0, ok, detail,
                                   pos, t0))

    # -- reads -------------------------------------------------------------

    def _list(self, n: int) -> tuple[bool, str]:
        """The four pages of a cycle: first page, a search page, a view
        mode page and a deep page; the seed picks sorts and words."""
        rng, ex = self.rng, self.expect
        self.page = (self.page + 1) % 4
        q = {"limit": 100, "offset": (0, 100, 0, 200)[self.page],
             "sort_by": rng.choice(("transacted_date", "prediction_confidence")),
             "sort_order": rng.choice(("asc", "desc"))}
        view = VIEWS[n % len(VIEWS)] if self.page == 2 else None
        search = rng.choice(SEARCH_WORDS) if self.page == 1 else None
        if view:
            q["view_mode"] = view
        if search:
            q["search"] = search
        status, body = self.call("GET", "/api/transactions?" + urlencode(q))
        if status != 200:
            return False, f"list status {status}"
        total, rows = body["total_count"], body["transactions"]
        if len(rows) != max(0, min(100, total - q["offset"])):
            return False, f"list page of {len(rows)} rows for total {total}"
        if view is None:  # writes change view membership, never the totals
            want = ex.search_totals[search] if search else ex.overlay_total
            if total != want:
                return False, f"list total {total} != {want} (search={search})"
        elif not 0 <= total <= ex.overlay_total:
            return False, f"list total {total} out of range"
        return True, ""

    def _get(self) -> tuple[bool, str]:
        own = sorted(self.own)
        tid = self.rng.choice(own) if own and self.rng.random() < 0.5 \
            else self.rng.choice(self.expect.overlay_ids)
        status, body = self.call("GET", f"/api/transactions/{tid}")
        if status != 200 or body.get("transaction_id") != tid:
            return False, f"get {tid} status {status}"
        for k, v in self.own.get(tid, {}).items():
            if body.get(k) != v:
                return False, f"get {tid}: {k}={body.get(k)!r}, wrote {v!r}"
        return True, ""

    def _categories(self) -> tuple[bool, str]:
        status, body = self.call("GET", "/api/transactions/categories/list")
        ok = status == 200 and body == self.expect.predicted_categories
        return ok, "" if ok else f"categories {status} {body}"

    def _validated(self) -> tuple[bool, str]:
        status, body = self.call("GET", "/api/validated?limit=50&sort_by=amount")
        ok = status == 200 and body["total_count"] == self.expect.validated_total \
            and len(body["transactions"]) == min(50, self.expect.validated_total)
        return ok, "" if ok else f"validated {status}"

    def _health(self) -> tuple[bool, str]:
        status, body = self.call("GET", "/api/control-center/connection-health")
        ok = status == 200 and len(body) == self.expect.health_rows
        return ok, "" if ok else f"health {status} rows={len(body or [])}"

    # -- writes ------------------------------------------------------------

    def _category(self) -> str:
        from doin_fine_ance__spark.schemas import DEFAULT_CATEGORIES

        return self.rng.choice(DEFAULT_CATEGORIES)

    def _categorize(self) -> tuple[bool, str]:
        tid, cat = self.rng.choice(self.ids), self._category()
        status, body = self.call("POST", f"/api/transactions/{tid}/categorize",
                                 {"master_category": cat})
        if status != 200:
            return False, f"categorize status {status} {body}"
        self.own.setdefault(tid, {}).update(master_category=cat, validated=True)
        return True, ""

    def _validate(self) -> tuple[bool, str]:
        tid = self.rng.choice(self.ids)
        status, body = self.call("PUT", f"/api/transactions/{tid}/validate",
                                 {"validated": True})
        if status != 200:
            return False, f"validate status {status} {body}"
        self.own.setdefault(tid, {})["validated"] = True
        return True, ""

    def _notes(self) -> tuple[bool, str]:
        tid = self.rng.choice(self.ids)
        note = f"note {self.rng.randrange(10**6)}"
        status, body = self.call("PUT", f"/api/transactions/{tid}/notes", {"notes": note})
        if status != 200:
            return False, f"notes status {status} {body}"
        self.own.setdefault(tid, {})["notes"] = note
        return True, ""

    def _bulk(self) -> tuple[bool, str]:
        ids = self.rng.sample(self.ids, min(len(self.ids), self.rng.randint(10, 50)))
        assignments = [{"transaction_id": i, "master_category": self._category()}
                       for i in ids]
        status, body = self.call("POST", "/api/transactions/bulk-validate",
                                 {"assignments": assignments})
        if status != 200 or body.get("updated") != len(ids):
            return False, f"bulk status {status} {body}"
        for a in assignments:
            # a bulk row replaces the whole override, notes included
            self.own.setdefault(a["transaction_id"], {}).update(
                master_category=a["master_category"], validated=True, notes=None)
        return True, ""


def _trace_layers(tracer, app_cls) -> None:
    """Spans around the calls into each layer's public functions."""
    from doin_fine_ance__spark import orchestration
    from doin_fine_ance__spark.operators import upsert
    from doin_fine_ance__spark.sources import simplefin

    tracer.wrap(simplefin, "append_to_landing", "sources.append_to_landing")
    tracer.wrap(orchestration, "append_to_landing", "sources.append_to_landing")
    tracer.wrap(orchestration, "extract_simplefin", "sources.extract_simplefin")
    tracer.wrap(orchestration, "build", "plans.build")
    # the upserted rows are counted after the run, not inside requests
    tracer.wrap(upsert, "merge_keyed", "operators.merge_keyed",
                counts=lambda a, kw: {"updates": a[2]})

    route = app_cls.route

    def spanned_route(app, method, path, query, body):
        with tracer.span(f"serving.{_route_kind(method, path)}"):
            return route(app, method, path, query, body)

    overlay = app_cls.overlay

    def spanned_overlay(app):
        with tracer.span("serving.transaction_overlay", hit=app._overlay is not None):
            return overlay(app)

    tracer.patch(app_cls, "route", spanned_route)
    tracer.patch(app_cls, "overlay", spanned_overlay)


def setup(spark, seed: int, size: Size) -> tuple[Expect, str, dict, dict[str, float]]:
    """Land the household, build the marts; returns the expectations,
    the warehouse root, the row counts the build read back from the
    marts it wrote, and the duration of each set-up step."""
    from doin_fine_ance__spark.orchestration import PipelineRun
    from doin_fine_ance__spark.schemas import PREDICTIONS

    root = os.path.join(WORK, f"serve-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    marks = [("start", time.time())]
    hh = Household(seed, size)
    hh.write_inputs(spark, root)
    marks.append(("inputs", time.time()))
    preds = _predictions(hh, random.Random(seed))
    write_parquet(preds, PREDICTIONS, os.path.join(root, "analytics", "predicted_transactions"))
    run = PipelineRun(spark, root, fetch_window=hh.fetch_window, full_refresh=True,
                      model_dir=os.path.join(root, "models"), now=hh.now_for(1))
    run.ingest()
    marks.append(("ingest", time.time()))
    run.transform()
    marks.append(("build", time.time()))
    steps = {b[0]: round(b[1] - a[1], 3) for a, b in zip(marks, marks[1:])}
    return _expectations(hh, preds), root, run.results["build"], steps


def run(spark, tracer, seed: int, seconds: float, smoke: bool = False) -> dict:
    from doin_fine_ance__spark.serving.http_api import ServingApp, make_server

    _trace_layers(tracer, ServingApp)
    expect, root, built, steps = setup(spark, seed, Size.tiny() if smoke else Size())
    t_serve = time.time()
    app = ServingApp(spark, root)
    server = make_server(app)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    port = server.server_address[1]
    try:
        # one untimed cycle: fills the overlay cache and pays each
        # route's first-use costs
        warm = Client(port, seed + 1, expect, 0.0)
        for pos, kind in enumerate(CYCLE):
            warm.one(kind, 0, pos)
        setup_done = time.time()
        steps["warm"] = round(setup_done - t_serve, 3)
        client = Client(port, seed, expect, seconds)
        client.run()
        wall = time.perf_counter() - client.t0
    finally:
        server.shutdown()
        server.server_close()
        thread.join(timeout=30)
    samples = client.samples
    checks = _check_marts(spark, root, expect, built) + [
        s.detail for s in warm.samples if not s.ok]
    shutil.rmtree(root, ignore_errors=True)
    runs = [(s.pos, s.start - client.t0, s.start - client.t0 + s.ms / 1000.0)
            for s in samples]
    window = max(seconds, runs[len(CYCLE) - 1][2])
    res = _metrics(samples, warm.samples, window_rate(runs, window), wall, checks, tracer,
                   setup_done)
    res["details"]["setup_steps"] = steps
    return res


def _check_marts(spark, root: str, expect: Expect, built: dict) -> list[str]:
    """Mart counts and ``transaction_id`` uniqueness against the
    household's ground truth (after one daily ingest)."""
    from pyspark.sql import functions as F

    from doin_fine_ance__spark.plans.build import Warehouse

    problems = [f"{table}: {built.get(table)} rows, expected {want}"
                for table, want in expect.mart_counts.items() if built.get(table) != want]
    wh = Warehouse(spark, root)
    for table, want in (("int_trxns", expect.mart_counts["int_trxns"]),
                        ("fct_trxns_with_predictions", expect.overlay_total)):
        rows, ids = wh.read("analytics", table).agg(
            F.count("*"), F.countDistinct("transaction_id")).first()
        if rows != want or ids != rows:
            problems.append(f"{table}: {rows} rows, {ids} distinct ids, expected {want}")
    return problems


def _metrics(samples: list[Sample], warm: list[Sample], ops_per_s: float, wall: float,
             checks: list[str], tracer, setup_done: float) -> dict:
    reads = [s.ms for s in samples if s.kind in READS]
    writes = [s.ms for s in samples if s.kind not in READS]
    failed = [s for s in samples if not s.ok]
    m = {
        "ops_per_s": ops_per_s,
        "serving.read_p50_ms": median(reads),
        "serving.write_p50_ms": median(writes) if writes else 0.0,
    }
    by_kind: dict[str, list[float]] = {}
    for s in samples:
        by_kind.setdefault(s.kind, []).append(round(s.ms, 1))
    details = {
        "samples": len(samples), "wall_s": wall, "by_kind_ms": by_kind,
        "failures": [f"{s.kind}: {s.detail}" for s in failed][:20] + checks,
        "setup_done": setup_done,
    }
    if tracer.enabled:
        m.update(_layer_metrics(tracer, samples + warm))
    return {"metrics": m, "attempted": len(samples) + 1,
            "failed": len(failed) + (1 if checks else 0), "details": details}


def _layer_metrics(tracer, samples: list[Sample]) -> dict:
    m = {}
    by = tracer.by_name()
    routes = [s for name, spans in by.items() if name in ROUTE_SPANS for s in spans]
    if routes and samples:
        client_ms = sum(s.ms for s in samples) / len(samples)
        route_ms = sum(s.end - s.start for s in routes) * 1000.0 / len(routes)
        m["serving.http_ms"] = client_ms - route_ms
    overlay = by.get("serving.transaction_overlay", [])
    m["serving.transaction_overlay.calls"] = float(len(overlay))
    m["serving.overlay_hit_ratio"] = (
        sum(1 for s in overlay if s.counts.get("hit")) / len(overlay) if overlay else 0.0)
    merges = by.get("operators.merge_keyed", [])
    rows = sum(tracer.untraced(s.counts.pop("updates").count) for s in merges)
    m["operators.merge_keyed.bytes_per_row"] = (
        sum(s.bytes_written for s in merges) / rows if rows else 0.0)
    return m
