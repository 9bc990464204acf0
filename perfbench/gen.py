"""Seeded input generators for the three workloads.

Everything here is a pure function of the seed and the size arguments:
the same arguments always yield byte-identical files, so inputs are
cached on disk and regenerated only when the cache is missing.

Campaign-event CSVs follow the mini ``campaign_events`` registry of the
ingest tests (13 raw columns).  Every generated row carries a ``Mobile``
value that is unique per *distinct* row (a serial number), so the
benchmark can identify each loaded row without re-implementing the
program's content hash; two rows are copies of each other exactly when
every cell is equal.  The generator returns, next to the files, the
ground truth the output model needs: each file's rows in file order, as
the tuple of cell values the table should hold (``None`` for an empty
cell or a missing column).

The analytics tables mimic the repository's TPC-H-ish testdata (same
table names, column names, physical types and value shapes), sized
relative to its sf0.01 scale.
"""

from __future__ import annotations

import csv
import io
import json
import random
import zipfile
from dataclasses import dataclass
from pathlib import Path

TABLE_KEY = "bench_campaign_events"
TABLE_NAME = "bench_campaign_events"

RAW_HEADERS = [
    "Email", "prénom", "Campaign Event Type", "Event Date", "Event Datetime",
    "Mobile", "CODEPOSTAL_FACTURATION", "DATE DE NAISSANCE", "NB_ENFANTS",
    "NB_TOTAL_COMMANDES", "MONTANT_TOTAL_COMMANDES_EUR", "Campaign Name",
    "SMTP response",
]
COLUMNS = [
    "email", "first_name", "campaign_event_type", "event_date",
    "event_datetime", "mobile", "billing_postal_code", "date_of_birth",
    "number_of_children", "total_orders", "total_order_amount_eur",
    "campaign_name", "smtp_response",
]
RENAME_MAP = dict(zip(RAW_HEADERS, COLUMNS))
# positions of the cells the checks read back (their values pass the
# program's casts unchanged, so the model can predict them exactly)
EMAIL, EVENT_TYPE, MOBILE, TOTAL_ORDERS, SMTP = 0, 2, 5, 9, 12

REGISTRY = {
    TABLE_KEY: {
        "table_name": TABLE_NAME,
        "column_names": ["id", *COLUMNS, "row_hash"],
        "column_types": [
            "UInt64", "Nullable(String)", "Nullable(String)",
            "Nullable(String)", "Nullable(DateTime)", "Nullable(DateTime)",
            "Nullable(String)", "Nullable(String)", "Nullable(String)",
            "Nullable(Int64)", "Nullable(Int64)", "Nullable(Float64)",
            "Nullable(String)", "Nullable(String)", "String",
        ],
        "date_columns": ["event_date", "event_datetime"],
        "int_columns": ["number_of_children", "total_orders"],
        "float_columns": ["total_order_amount_eur"],
        "string_columns": ["email", "first_name", "campaign_event_type",
                           "mobile", "billing_postal_code", "campaign_name",
                           "smtp_response"],
        "dob_columns": ["date_of_birth"],
        "last_id": 0,
    }
}

EVENT_TYPES = ["sent", "open", "click", "bounce", "unsub"]
FIRST_NAMES = ["Élise", "François", "Noël", "Anaïs", "Jean", ""]
CAMPAIGNS = ["Spring Sale", "Hiver; Soldes", "Rentrée 2024", "VIP,Club"]

# file profiles of one simulated day, in landing (= name) order
PROFILE_ZIP = "zip"            # plain csv inside a .zip
PROFILE_LATIN1 = "latin1"      # ';'-delimited, iso-8859-1
PROFILE_NO_SMTP = "no_smtp"    # export without the SMTP response column
PROFILE_PLAIN = "plain"        # ','-delimited utf-8
PROFILE_EXTRA = "extra_col"    # one column too many: must be rejected
DAY_PROFILES = (PROFILE_ZIP, PROFILE_LATIN1, PROFILE_NO_SMTP, PROFILE_PLAIN)


@dataclass
class LandedFile:
    """One generated input file and its ground truth."""

    path: Path
    profile: str
    rows: list[tuple]          # table-side cell tuples, in file order
    csv_bytes: int             # size of the (uncompressed) CSV text

    @property
    def name(self) -> str:
        return self.path.name


class RowSource:
    """Deterministic factory of distinct rows, one per serial number.

    The serial is the row's identity (it becomes the ``Mobile`` cell);
    the other cells come from one rng seeded by ``seed``, so the n-th
    fresh row of a seed is always the same row.
    """

    def __init__(self, seed: int, n_emails: int) -> None:
        self.rng = random.Random(seed)
        self.n_emails = n_emails
        self.next_serial = 1

    def _row(self, serial: int) -> tuple:
        rng = self.rng
        rand, rr = rng.random, rng.randrange
        event_date = f"2024-0{rr(1, 10)}-1{rr(10)}" if rand() > 0.03 else "31/31/2024"
        event_dt = (
            f"2024-03-0{rr(1, 10)} 1{rr(10)}:30:00"
            if rand() < 0.5
            else f"0{rr(1, 10)}/03/2024 12:4{rr(10)}"
        )
        dob = f"19{rr(50, 99)}-0{rr(1, 10)}-2{rr(8)}" if rand() > 0.03 else "not-a-date"
        # ~10% empty SMTP cells: they read as NULL, exactly like the cell
        # of an export that lacks the column altogether
        smtp = f"250 OK ({rr(100)})" if rand() > 0.1 else None
        return (
            f"user{rr(self.n_emails)}@example.com",
            FIRST_NAMES[rr(len(FIRST_NAMES))] or None,
            EVENT_TYPES[rr(len(EVENT_TYPES))],
            event_date,
            event_dt,
            f"336{serial:09d}",
            f"0{rr(1000, 9999)}",
            dob,
            str(rr(5)) if rand() > 0.03 else "two",
            str(rr(50)),
            f"{rng.uniform(0, 500):.2f}" if rand() > 0.03 else "N/A",
            CAMPAIGNS[rr(len(CAMPAIGNS))],
            smtp,
        )

    def fresh(self, n: int) -> list[tuple]:
        rows = [self._row(s) for s in range(self.next_serial, self.next_serial + n)]
        self.next_serial += n
        return rows


def _with_in_file_dups(rows: list[tuple], frac: float, rng: random.Random) -> list[tuple]:
    """Insert exact copies of earlier rows at later positions."""
    out = list(rows)
    for _ in range(int(len(rows) * frac)):
        i = rng.randrange(len(out))
        out.insert(rng.randrange(i + 1, len(out) + 1), out[i])
    return out


def _render(rows: list[tuple], profile: str) -> tuple[str, str]:
    """(csv text, encoding) for one file profile."""
    headers = list(RAW_HEADERS)
    width = len(headers)
    if profile == PROFILE_NO_SMTP:
        headers, width = headers[:-1], width - 1
    delim = ";" if profile == PROFILE_LATIN1 else ","
    enc = "iso-8859-1" if profile == PROFILE_LATIN1 else "utf-8"
    buf = io.StringIO()
    w = csv.writer(buf, delimiter=delim, quoting=csv.QUOTE_MINIMAL,
                   lineterminator="\n")
    if profile == PROFILE_EXTRA:
        w.writerow(headers + ["BONUS COLUMN"])
        w.writerows([["" if c is None else c for c in r] + ["x"] for r in rows])
    else:
        w.writerow(headers)
        w.writerows([["" if c is None else c for c in r[:width]] for r in rows])
    return buf.getvalue(), enc


def write_file(path_stem: Path, rows: list[tuple], profile: str) -> LandedFile:
    """Write ``rows`` under ``profile``; returns the file and its truth
    (the table-side tuples: a column the export lacks reads as NULL)."""
    text, enc = _render(rows, profile)
    data = text.encode(enc)
    if profile == PROFILE_ZIP:
        path = path_stem.with_suffix(".zip")
        with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
            zf.writestr(path_stem.with_suffix(".csv").name, data)
    else:
        path = path_stem.with_suffix(".csv")
        path.write_bytes(data)
    if profile == PROFILE_NO_SMTP:
        truth = [r[:SMTP] + (None,) for r in rows]
    else:
        truth = list(rows)
    return LandedFile(path, profile, truth, len(data))


def write_registry(dirpath: Path) -> tuple[Path, Path]:
    dirpath.mkdir(parents=True, exist_ok=True)
    schema = dirpath / "table_schema.json"
    rename = dirpath / "rename_mapping.json"
    schema.write_text(json.dumps(REGISTRY))
    rename.write_text(json.dumps({TABLE_KEY: RENAME_MAP}))
    return schema, rename


# -- daily_cycle -------------------------------------------------------------

@dataclass
class DailyInputs:
    history: list[LandedFile]
    days: list[list[LandedFile]]


def daily_inputs(root: Path, seed: int, n_days: int, history_rows: int,
                 file_rows: int, extra_every: int) -> DailyInputs:
    """History files (one profile, for one ``process_batch``) plus
    ``n_days`` days of landings.  Each day lands one file per
    :data:`DAY_PROFILES` entry, ~5% in-file copies, ~10% rows repeated
    from the seeded history and ~10% from the previous day; every
    ``extra_every``-th day (starting with the first) also lands a file
    with an extra column."""
    rng = random.Random(seed)
    src = RowSource(seed, n_emails=max(50, (history_rows + n_days * 4 * file_rows) // 6))
    hist_dir = root / "history"
    hist_dir.mkdir(parents=True, exist_ok=True)
    half = history_rows // 2
    history = [
        write_file(hist_dir / f"last24h__hist{i}",
                   _with_in_file_dups(src.fresh(half), 0.05, rng), PROFILE_PLAIN)
        for i in range(2)
    ]
    hist_pool = [r for f in history for r in f.rows]
    days: list[list[LandedFile]] = []
    prev_pool: list[tuple] = []
    for d in range(n_days):
        day_dir = root / f"day{d:03d}"
        day_dir.mkdir(parents=True, exist_ok=True)
        files, pool = [], []
        for i, profile in enumerate(DAY_PROFILES):
            n_hist = file_rows // 10
            n_prev = file_rows // 10 if prev_pool else 0
            n_new = file_rows - n_hist - n_prev
            rows = (src.fresh(n_new)
                    + rng.sample(hist_pool, n_hist)
                    + (rng.sample(prev_pool, n_prev) if n_prev else []))
            rng.shuffle(rows)
            rows = _with_in_file_dups(rows, 0.05, rng)
            stem = day_dir / f"last24h__d{d:03d}_{i}"
            files.append(write_file(stem, rows, profile))
            pool.extend(rows)
        if d % extra_every == 0:
            stem = day_dir / f"last24h__d{d:03d}_{len(DAY_PROFILES)}"
            files.append(write_file(stem, src.fresh(file_rows // 10), PROFILE_EXTRA))
        prev_pool = pool
        days.append(files)
    return DailyInputs(history, days)


# -- bulk_backfill -------------------------------------------------------------

def bulk_batches(root: Path, seed: int, n_batches: int, files_per_batch: int,
                 file_rows: int) -> list[list[LandedFile]]:
    """``n_batches`` batches of same-profile files; each file repeats ~10%
    of the rows of earlier batches and carries ~5% in-file copies."""
    rng = random.Random(seed)
    src = RowSource(seed, n_emails=max(50, n_batches * files_per_batch * file_rows // 6))
    batches: list[list[LandedFile]] = []
    pool: list[tuple] = []
    for b in range(n_batches):
        bdir = root / f"batch{b:03d}"
        bdir.mkdir(parents=True, exist_ok=True)
        files = []
        for i in range(files_per_batch):
            n_old = file_rows // 10 if pool else 0
            rows = src.fresh(file_rows - n_old) + (rng.sample(pool, n_old) if n_old else [])
            rng.shuffle(rows)
            rows = _with_in_file_dups(rows, 0.05, rng)
            files.append(write_file(bdir / f"last24h__b{b:03d}_{i}", rows, PROFILE_PLAIN))
        pool.extend(r for f in files for r in f.rows)
        batches.append(files)
    return batches


# -- query_mix -----------------------------------------------------------------

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream group filter vector"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def analytic_tables(root: Path, seed: int, scale: float) -> dict[str, Path]:
    """Write the parquet tables the ``query_mix`` specs read.  ``scale``
    1.0 is the size of the repository's sf0.01 testdata."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    root.mkdir(parents=True, exist_ok=True)
    out: dict[str, Path] = {}

    def put(name: str, table: pa.Table) -> None:
        path = root / f"{name}.parquet"
        pq.write_table(table, path)
        out[name] = path

    n_cust = int(1500 * scale)
    put("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust).tolist()),
    }))

    n_li = int(60_000 * scale)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = rng.uniform(900, 2100, n_li)
    ship = np.datetime64("1998-01-01") + rng.integers(0, 1400, n_li).astype("timedelta64[D]")
    put("lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, int(15_000 * scale), n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, int(2_000 * scale), n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, max(10, int(100 * scale)), n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li).tolist()),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    }))

    n_ev = int(10_000 * scale)
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    put("events", pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array((np.datetime64("2024-01-01T00:00:00", "us")
                        + offs.astype("timedelta64[us]"))),
        "user_id": pa.array(rng.integers(0, max(10, n_ev // 66), n_ev, dtype=np.int64)),
        "event_type": pa.array(rng.choice(
            ["click", "view", "purchase", "signup", "error"], n_ev).tolist()),
        "value": pa.array(np.round(rng.exponential(20.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }))

    n_doc = int(1_000 * scale)
    texts: list[str] = []
    seen: set[str] = set()
    while len(texts) < n_doc:
        if texts and rng.random() < 0.05:
            # near-duplicate of an earlier document: one word replaced
            words = texts[int(rng.integers(len(texts)))].split()
            words[int(rng.integers(len(words)))] = str(rng.choice(VOCAB))
        else:
            words = rng.choice(VOCAB, int(rng.integers(8, 90))).tolist()
        t = " ".join(words)
        if t not in seen:
            seen.add(t)
            texts.append(t)
    put("documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }))

    n_emb = int(500 * scale)
    vec = rng.standard_normal((n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32)),
    }))
    return out
