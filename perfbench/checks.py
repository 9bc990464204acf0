"""Output checks.  Each returns a list of failure messages (empty = pass).

The ingest checks compare the program's results with
:class:`~model.TableModel`; the analytics checks compare a Spark result
with DuckDB through ``tools/check_oracle.compare``, the repository's own
oracle comparison.  :func:`selftest` proves that every check can fail:
run ``python3 perfbench/checks.py`` (no Spark needed).
"""

from __future__ import annotations

import sys
from pathlib import Path

if __package__ in (None, ""):
    sys.path.insert(0, str(Path(__file__).resolve().parent))

from gen import EMAIL, EVENT_TYPE, MOBILE, SMTP, TOTAL_ORDERS  # noqa: E402
from model import Expected, TableModel  # noqa: E402


def check_result(label: str, got, want: Expected) -> list[str]:
    """One ``FileResult`` against the model's expectation."""
    bad = []
    for attr in ("status", "rows_in", "rows_loaded"):
        g, w = getattr(got, attr), getattr(want, attr)
        if g != w:
            bad.append(f"{label}: {attr} {g!r}, expected {w!r}")
    return bad


def check_run_results(results, expected: dict[str, Expected]) -> list[str]:
    """The ``FileResult`` list of one ``IngestJob.run`` cycle."""
    names = [r.file_name for r in results]
    if sorted(names) != sorted(expected):
        return [f"run processed {sorted(names)}, expected {sorted(expected)}"]
    bad: list[str] = []
    for r in results:
        bad += check_result(r.file_name, r, expected[r.file_name])
    return bad


def check_table_state(pdf, model: TableModel) -> list[str]:
    """The whole live table (columns id, mobile, smtp_response,
    ingest_date, row_hash) against the model: one row per distinct live
    row, distinct row_hash, unique dense ids, and each row's id and
    partition exactly as the model assigned them."""
    bad = []
    n = len(model.live)
    if len(pdf) != n:
        bad.append(f"table has {len(pdf)} rows, expected {n}")
    if pdf["row_hash"].nunique() != len(pdf):
        bad.append("row count differs from distinct row_hash count")
    ids = pdf["id"].tolist()
    if len(set(ids)) != len(ids):
        bad.append("ids are not unique")
    elif ids and max(ids) - min(ids) + 1 != len(ids):
        bad.append(f"ids are not dense: {len(ids)} ids in [{min(ids)}, {max(ids)}]")
    got = {
        (m, s): (int(i), str(d))
        for m, s, i, d in zip(pdf["mobile"], pdf["smtp_response"],
                              pdf["id"], pdf["ingest_date"])
    }
    want = {(r[MOBILE], r[SMTP]): v for r, v in model.live.items()}
    if got != want:
        wrong = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        k = wrong[0]
        bad.append(f"{len(wrong)} rows differ from the model, e.g. {k}: "
                   f"table {got.get(k)} vs model {want.get(k)}")
    return bad


# -- dashboard reads over the ingested table -----------------------------------

def expected_by_type(model: TableModel) -> dict[str, int]:
    out: dict[str, int] = {}
    for r in model.live:
        out[r[EVENT_TYPE]] = out.get(r[EVENT_TYPE], 0) + 1
    return out


def expected_lookup(model: TableModel, email: str) -> list[tuple[str, int]]:
    return sorted((r[MOBILE], int(r[TOTAL_ORDERS]))
                  for r in model.live if r[EMAIL] == email)


def expected_latest_count(model: TableModel) -> int:
    dates = [d for _, d in model.live.values()]
    latest = max(dates, default=None)
    return sum(d == latest for d in dates)


def check_equal(label: str, got, want) -> list[str]:
    return [] if got == want else [f"{label}: got {got!r}, expected {want!r}"]


# -- analytics results -----------------------------------------------------------

def check_frame(label: str, spark_pdf, oracle_pdf, compare) -> list[str]:
    """A Spark result against its DuckDB oracle; only an exact match
    (row count, columns and every value) passes."""
    exact, _close, msg = compare(spark_pdf, oracle_pdf)
    return [] if exact else [f"{label}: {msg}"]


# -- self-test -------------------------------------------------------------------

def selftest(compare) -> list[str]:
    """Feed every check a correct input (must pass) and mutated inputs (a
    dropped row, a duplicated id, a changed value: each must fail).
    Returns the checks that did not behave."""
    import pandas as pd

    from gen import RowSource

    problems: list[str] = []

    def expect(name: str, failures: list[str], should_fail: bool) -> None:
        if bool(failures) != should_fail:
            problems.append(f"{name}: {'passed' if not failures else failures}")

    src = RowSource(7, n_emails=5)
    rows = src.fresh(30)
    model = TableModel()
    model.land_file("a.csv", rows[:20] + rows[:3], False, "2024-01-01")
    model.land_file("b.csv", rows[10:30], False, "2024-01-02")

    def table(live):
        return pd.DataFrame(
            [(i, r[MOBILE], r[SMTP], d, f"h{r[MOBILE]}{r[SMTP]}")
             for r, (i, d) in live.items()],
            columns=["id", "mobile", "smtp_response", "ingest_date", "row_hash"],
        )

    good = table(model.live)
    expect("table state", check_table_state(good, model), False)
    expect("table state, dropped row",
           check_table_state(good.iloc[1:], model), True)
    dup = good.copy()
    dup.loc[1, "id"] = dup.loc[0, "id"]
    expect("table state, duplicated id", check_table_state(dup, model), True)
    changed = good.copy()
    changed.loc[2, "ingest_date"] = "2023-12-31"
    expect("table state, changed value", check_table_state(changed, model), True)
    swapped = good.copy()
    swapped.loc[[0, 1], "id"] = swapped.loc[[1, 0], "id"].to_numpy()
    expect("table state, swapped ids", check_table_state(swapped, model), True)

    class R:
        def __init__(self, file_name, status, rows_in, rows_loaded):
            self.file_name, self.status = file_name, status
            self.rows_in, self.rows_loaded = rows_in, rows_loaded

    want = {"a.csv": Expected("uploaded to ClickHouse", 23, 20)}
    expect("run results", check_run_results([R("a.csv", want["a.csv"].status, 23, 20)], want), False)
    expect("run results, dropped row",
           check_run_results([R("a.csv", want["a.csv"].status, 23, 19)], want), True)
    expect("run results, changed status",
           check_run_results([R("a.csv", "insert error", 23, 20)], want), True)
    expect("run results, missing file", check_run_results([], want), True)

    by_type = expected_by_type(model)
    expect("by type", check_equal("t", dict(by_type), by_type), False)
    fewer = dict(by_type)
    k = next(iter(fewer))
    fewer[k] -= 1
    expect("by type, dropped row", check_equal("t", fewer, by_type), True)
    email = rows[0][EMAIL]
    look = expected_lookup(model, email)
    expect("lookup, duplicated row", check_equal("l", look + look[:1], look), True)
    expect("lookup, changed value",
           check_equal("l", [(m, o + 1) for m, o in look], look), True)

    oracle = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a", "b", "c"]})
    expect("frame", check_frame("f", oracle.copy(), oracle, compare), False)
    expect("frame, dropped row",
           check_frame("f", oracle.iloc[1:].copy(), oracle, compare), True)
    dupk = oracle.copy()
    dupk.loc[1, "k"] = 1
    expect("frame, duplicated id", check_frame("f", dupk, oracle, compare), True)
    val = oracle.copy()
    val.loc[2, "v"] = 2.5
    expect("frame, changed value", check_frame("f", val, oracle, compare), True)
    return problems


if __name__ == "__main__":
    root = Path.cwd()
    sys.path.insert(0, str(root / "tools"))
    try:
        from check_oracle import compare as _compare
    except ImportError as exc:
        print(f"cannot import tools/check_oracle.py from {root}: {exc}")
        raise SystemExit(2)
    found = selftest(_compare)
    for p in found:
        print("CHECK DID NOT BEHAVE:", p)
    print("selftest:", "ok" if not found else f"{len(found)} problems")
    raise SystemExit(1 if found else 0)
