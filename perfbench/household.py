"""Seeded synthetic household for the finance workloads.

One :class:`Household` is a deterministic function of ``(seed, size)``:
accounts at a few institutions, two bank reconnections, daily SimpleFIN
imports with overlapping re-deliveries, historic CSV rows and user
overrides. It writes the warehouse inputs the model DAG expects under
``<root>/public`` and serves a fake SimpleFIN ``fetch_window`` for the
days after the landed history.

Ground truth is kept by construction, not by re-running the engine's
logic: every logical transaction is generated once and then delivered
(possibly several times, possibly under a second account id), so the
distinct count after W1 (latest import per id) and W4/W5 (reconnection
collapse) is simply the number of logical transactions.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field
from decimal import Decimal

EPOCH = dt.datetime(1970, 1, 1)

INSTITUTIONS = [
    ("Harbor National Bank", "harbor.example"),
    ("Cedar Credit Union", "cedarcu.example"),
    ("Summit Card Services", "summitcard.example"),
    ("Pioneer Brokerage", "pioneer.example"),
]
ACCOUNT_KINDS = ["Checking", "Savings Account", "Credit Card", "Travel Card"]

# (description stem, category, low, high, sign); the stem gets a store
# number so descriptions vary like real merchant strings
MERCHANTS = [
    ("SAFEWAY STORE", "Groceries", 15, 180, -1),
    ("TRADER JOES MARKET", "Groceries", 10, 120, -1),
    ("SHELL GAS STATION", "Gas", 25, 90, -1),
    ("CHEVRON FUEL", "Gas", 25, 90, -1),
    ("STARBUCKS COFFEE", "Dining out", 3, 15, -1),
    ("CHIPOTLE RESTAURANT", "Dining out", 9, 40, -1),
    ("UBER TRIP", "Transportation", 8, 60, -1),
    ("BART TRANSIT FARE", "Transportation", 2, 12, -1),
    ("AMAZON MKTPLACE SHOP", "Shopping", 8, 250, -1),
    ("TARGET STORE", "Shopping", 10, 200, -1),
    ("UNITED AIRLINES TICKET", "Flight", 150, 900, -1),
    ("HILTON HOTEL RESORT", "Fun!™", 120, 600, -1),
    ("PGE UTILITY BILL", "Utilities", 60, 240, -1),
    ("KAISER HEALTH COPAY", "Health care", 20, 300, -1),
    ("STATE FARM INSURANCE", "Insurance", 80, 300, -1),
    ("RENT PAYMENT OAK APTS", "Rent", 1800, 2600, -1),
    ("ACME CORP PAYROLL", "Income", 2500, 4200, 1),
    ("INTEREST PAYMENT", "Interest", 1, 30, 1),
    ("ANNUAL MEMBERSHIP FEE", "Miscellaneous", 50, 550, -1),
    ("RED CROSS DONATION", "Donation", 20, 200, -1),
]
# rows the seed_transaction_exclusions patterns drop in staging
EXCLUDED = ["Online Transfer to Savings", "AUTOPAY PAYMENT - THANK YOU"]
EXCLUSION_PATTERNS = ["%Transfer%", "%AUTOPAY PAYMENT%", "%Payment Thank You%"]
OVERRIDE_SHARE = 0.35  # landed txns with a user override; 90% validated
REDELIVER_SHARE = 0.5  # txns a later import delivers again
EXTRA_DAYS = 3  # days generated past the history, for daily ingests


def write_parquet(rows: list[tuple], schema, path: str) -> None:
    """Write rows of a Spark ``StructType`` as a one-file parquet table
    directory, without a Spark job. Timestamps are stored as UTC
    instants, which Spark reads back as ``TimestampType``."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    def arrow(t):
        name = t.typeName()
        if name == "decimal":
            return pa.decimal128(t.precision, t.scale)
        if name == "timestamp":
            return pa.timestamp("us", tz="UTC")
        return {"string": pa.string(), "boolean": pa.bool_(), "long": pa.int64()}[name]

    fields = [pa.field(f.name, arrow(f.dataType), f.nullable) for f in schema.fields]
    cols = list(zip(*rows)) if rows else [[] for _ in fields]
    arrays = []
    for f, col in zip(fields, cols):
        if pa.types.is_timestamp(f.type):
            col = [None if v is None else v.replace(tzinfo=dt.timezone.utc) for v in col]
        arrays.append(pa.array(list(col), type=f.type))
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_arrays(arrays, schema=pa.schema(fields)),
                   os.path.join(path, "part-00000.parquet"))


@dataclass(frozen=True)
class Size:
    """Household scale. Each history day is one landing partition, and a
    set-up pays for every partition it writes and scans."""

    history_days: int = 20
    txns_per_day: float = 15.0
    historic_rows: int = 300

    @classmethod
    def tiny(cls) -> "Size":
        return cls(history_days=10, txns_per_day=4.0, historic_rows=60)


@dataclass
class Account:
    account_id: str
    name: str
    institution: str
    domain: str


@dataclass
class Txn:
    """One logical transaction as the bank finally reports it."""

    tid: str
    account: Account
    day: int  # index into the calendar; day 0 = history start
    amount: Decimal
    description: str
    category: str
    excluded: bool = False


@dataclass
class Household:
    seed: int
    size: Size = field(default_factory=Size)

    def __post_init__(self) -> None:
        self.start = dt.datetime(2023, 1, 2)
        self.rng = random.Random(self.seed)
        self._make_accounts()
        self._make_txns()
        self._make_deliveries()
        self._make_historic()
        self._make_overrides()
        self.by_day: dict[int, list[Txn]] = {}
        for t in self.txns:
            self.by_day.setdefault(t.day, []).append(t)

    # -- construction ---------------------------------------------------

    def _make_accounts(self) -> None:
        self.accounts: list[Account] = []
        for i, (inst, domain) in enumerate(INSTITUTIONS):
            for j, kind in enumerate(ACCOUNT_KINDS):
                self.accounts.append(
                    Account(f"ACT-{i}{j}-{self.seed % 997:03d}", kind, inst, domain)
                )
        # two reconnections: a new account id whose name carries the
        # mask suffix; the first import of the new id re-delivers the
        # last weeks of the old account (W4/W5 collapses them)
        total = self.size.history_days + EXTRA_DAYS
        self.reconnect_day = max(2, total // 2)
        self.reconnected: dict[str, Account] = {}
        for old in (self.accounts[0], self.accounts[10]):
            mask = self.rng.randrange(1000, 9999)
            self.reconnected[old.account_id] = Account(
                old.account_id + "-R", f"{old.name} ({mask})", old.institution,
                old.domain,
            )

    def _current_account(self, acct: Account, day: int) -> Account:
        new = self.reconnected.get(acct.account_id)
        return new if new is not None and day >= self.reconnect_day - 1 else acct

    def _make_txns(self) -> None:
        rng = self.rng
        total = self.size.history_days + EXTRA_DAYS
        keys: set[tuple] = set()
        self.txns: list[Txn] = []
        n = 0
        rate = self.size.txns_per_day
        for day in range(total):
            # a fixed count per day, so the data size does not vary by seed
            for _ in range(int((day + 1) * rate) - int(day * rate)):
                acct = self._current_account(rng.choice(self.accounts), day)
                if rng.random() < 0.03:
                    desc, cat, amount = rng.choice(EXCLUDED), "Transfers", Decimal(
                        f"-{rng.randrange(100, 2000)}.00")
                    excluded = True
                else:
                    stem, cat, lo, hi, sign = rng.choice(MERCHANTS)
                    desc = f"{stem} #{rng.randrange(100, 999)}"
                    cents = rng.randrange(lo * 100, hi * 100)
                    amount = Decimal(sign * cents).scaleb(-2)
                    excluded = False
                key = (acct.institution, acct.name.split(" (")[0], day, amount, desc)
                while key in keys:  # logical keys stay distinct
                    amount -= Decimal("0.01")
                    key = key[:3] + (amount, desc)
                keys.add(key)
                n += 1
                self.txns.append(Txn(f"SF-{self.seed}-{n:07d}", acct, day, amount,
                                     desc, cat, excluded))
                # legitimate same-day duplicate in one account: a second
                # id with identical fields, which both dedup layers keep
                if not excluded and rng.random() < 0.02:
                    n += 1
                    self.txns.append(Txn(f"SF-{self.seed}-{n:07d}", acct, day,
                                         amount, desc, cat))

    def _make_deliveries(self) -> None:
        """Landing rows for the history: each txn lands the day after it
        posts, some again one or two days later (same id, W1), and the
        old-account txns of the last three weeks before a reconnection
        land once more under the new account id (W4/W5). An old id
        stops delivering before the reconnection import, so the new id's
        rows are the most recent and win."""
        rng = self.rng
        hist, reconnect = self.size.history_days, self.reconnect_day
        self.landing: list[tuple[Txn, Account, str, int]] = []
        for t in self.txns:
            if t.day >= hist:
                continue
            self.landing.append((t, t.account, t.tid, t.day + 1))
            new = self.reconnected.get(t.account.account_id)
            old = new is not None and t.account is not new
            if rng.random() < REDELIVER_SHARE:
                again = t.day + 1 + rng.choice((1, 2))
                if again <= hist and not (old and again >= reconnect):
                    self.landing.append((t, t.account, t.tid, again))
            if old and reconnect - 21 <= t.day and reconnect <= hist:
                self.landing.append((t, new, t.tid + "-R", reconnect))
        # what staging keeps for a reconnected txn is the NEW id's row
        self.final_id = {t.tid: t.tid for t in self.txns}
        for t, acct, tid, _ in self.landing:
            if tid != t.tid:
                self.final_id[t.tid] = tid

    def _make_historic(self) -> None:
        rng = self.rng
        rows = []
        for i in range(self.size.historic_rows):
            stem, cat, lo, hi, sign = rng.choice(MERCHANTS)
            d = self.start - dt.timedelta(days=rng.randrange(1, 700))
            amount = Decimal(sign * rng.randrange(lo * 100, hi * 100)).scaleb(-2)
            acct = rng.choice(["Old Checking", "Shared Account", "Legacy Card"])
            detail = rng.choice(["Checking", "Savings"]) if acct == "Shared Account" else None
            master = cat if rng.random() < 0.9 else None
            row = (d.date().isoformat(), f"{stem} #{rng.randrange(100, 999)}", amount,
                   acct, cat, detail, master, d.strftime("%m/%d/%Y"))
            rows.append(row)
            if rng.random() < 0.03:  # exact duplicate → W2 ordinal
                rows.append(row)
        self.historic = rows

    def _make_overrides(self) -> None:
        """User overrides on history txns: validated ones feed training;
        a tenth stays unvalidated (not training input)."""
        ts = self.start + dt.timedelta(days=self.size.history_days)
        eligible = [t for t in self.txns
                    if not t.excluded and t.day < self.size.history_days]
        picked = self.rng.sample(eligible, round(OVERRIDE_SHARE * len(eligible)))
        n_validated = round(0.9 * len(picked))
        self.overrides = [
            (self.final_id[t.tid], t.category, None, None, i < n_validated, False,
             "bench", ts)
            for i, t in enumerate(picked)
        ]

    # -- warehouse inputs ---------------------------------------------------

    @staticmethod
    def _stamp(day_dt: dt.datetime) -> tuple[str, str]:
        ts = day_dt.replace(hour=6)
        return ts.isoformat(), ts.date().isoformat()

    def _raw_row(self, t: Txn, acct: Account, tid: str, import_ts: str,
                 import_date: str) -> tuple:
        when = self.start + dt.timedelta(days=t.day, hours=12)
        epoch = int((when - EPOCH).total_seconds())
        return (tid, acct.account_id, acct.name, acct.domain, acct.institution,
                t.amount, epoch, when.isoformat(), epoch, when.date().isoformat(),
                t.description, False, import_ts, import_date, None)

    def landing_rows(self) -> list[tuple]:
        out = []
        for t, acct, tid, day in self.landing:
            its, idate = self._stamp(self.start + dt.timedelta(days=day))
            out.append(self._raw_row(t, acct, tid, its, idate))
        return out

    def write_inputs(self, spark, root: str) -> None:
        """Write ``public.*`` inputs: the landing table, through the
        engine's ``append_to_landing``, with one ``import_date``
        partition per history day; historic rows, seeds and overrides,
        which users load as CSV files, straight to parquet."""
        import os

        from doin_fine_ance__spark import schemas
        from doin_fine_ance__spark.sources.simplefin import append_to_landing

        pub = os.path.join(root, "public")
        os.makedirs(os.path.join(root, "analytics"), exist_ok=True)
        landing = spark.createDataFrame(self.landing_rows(), schema=schemas.RAW_SIMPLEFIN)
        append_to_landing(landing.repartition("import_date"), os.path.join(pub, "simplefin"))
        tables = {
            "historic_transactions": (self.historic, schemas.RAW_HISTORIC),
            "seed_account_mapping_simplefin": (
                [("Checking", None, "Everyday Checking"),
                 ("Savings Account", "", "Rainy Day Savings"),
                 ("Credit Card", None, "Cash Back Card")],
                schemas.SEED_ACCOUNT_MAPPING_SIMPLEFIN),
            "seed_account_mapping_historic": (
                [("Old Checking", None, "Legacy Checking", "Sam"),
                 ("Shared Account", "Checking", "Joint Checking", "Sam"),
                 ("Shared Account", "Savings", "Joint Savings", "Alex")],
                schemas.SEED_ACCOUNT_MAPPING_HISTORIC),
            "seed_transaction_exclusions": (
                [(p,) for p in EXCLUSION_PATTERNS], schemas.SEED_TRANSACTION_EXCLUSIONS),
            "user_categories": (self.overrides, schemas.USER_CATEGORIES),
        }
        for name, (rows, schema) in tables.items():
            write_parquet(rows, schema, os.path.join(pub, name))

    # -- fake SimpleFIN for daily ingest -----------------------------------

    def now_for(self, k: int) -> dt.datetime:
        """Import time of the k-th daily run after the history (k >= 1)."""
        return self.start + dt.timedelta(days=self.size.history_days + k, hours=7)

    def fetch_window(self, start: dt.datetime, end: dt.datetime) -> dict:
        """One /accounts payload: every txn the connected accounts have
        posted in ``[start, end)``. Disconnected account ids are not
        served; the new id of a reconnected account re-serves its
        re-delivered rows."""
        first = (start - self.start).days - 1
        last = (end - self.start).days + 1
        by_acct: dict[str, tuple[Account, list]] = {}
        days = range(max(first, 0), last + 1)
        for t in [t for d in days for t in self.by_day.get(d, [])]:
            when = self.start + dt.timedelta(days=t.day, hours=12)
            if not start <= when < end:
                continue
            acct = self._current_account(t.account, self.size.history_days)
            tid = self.final_id[t.tid]
            if acct is not t.account and tid == t.tid:
                continue  # pre-overlap history of a disconnected id
            epoch = int((when - EPOCH).total_seconds())
            by_acct.setdefault(acct.account_id, (acct, []))[1].append({
                "id": tid, "amount": str(t.amount), "posted": epoch,
                "transacted_at": epoch, "description": t.description,
            })
        return {"accounts": [
            {"id": a.account_id, "name": a.name,
             "org": {"name": a.institution, "domain": a.domain},
             "transactions": txns}
            for a, txns in by_acct.values()
        ]}

    # -- ground truth ---------------------------------------------------------

    def expected_counts(self, daily_runs: int = 0) -> dict[str, int]:
        """Mart row counts after a full refresh plus ``daily_runs``
        daily ingests (each reveals one more posted day)."""
        visible = self.size.history_days + daily_runs  # days [0, visible) posted
        simplefin = sum(1 for t in self.txns if not t.excluded and t.day < visible)
        historic_categorized = sum(1 for r in self.historic if r[6] is not None)
        validated = sum(1 for o in self.overrides if o[4])
        return {
            "stg_simplefin": simplefin,
            "int_trxns": simplefin + len(self.historic),
            "fct_trxns_categorized": historic_categorized,
            "stg_user_validated_categories": validated,
            "fct_validated_trxns": historic_categorized + validated,
            "fct_trxns_uncategorized": simplefin - validated
            + (len(self.historic) - historic_categorized),
        }
