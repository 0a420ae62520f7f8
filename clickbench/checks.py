"""Correctness checks of the benchmark, each with a self-test that feeds it
a corrupted result and requires it to fail.

Every check returns a list of error strings; an empty list passes. The
query check uses the normalization of ``tests/compare.py`` (imported, not
copied), so the benchmark and the oracle tests agree on what "equal" is.
"""

from __future__ import annotations

import copy

import pandas as pd

MONEY_TOL = 0.01
_EPS = 1e-9  # a difference of exactly one cent is within tolerance
COUNT_COLS = ("total_events", "page_views", "cart_additions", "purchases")


# -- query workload ---------------------------------------------------------

def oracle_errors(name: str, cols, rows, oracle_cols, oracle_rows) -> list[str]:
    """Order-insensitive comparison of a Spark result with its DuckDB oracle."""
    from tests.compare import _normalize

    sc, sr = _normalize(list(cols), [tuple(r) for r in rows])
    dc, dr = _normalize(list(oracle_cols), [tuple(r) for r in oracle_rows])
    if sc != dc:
        return [f"{name}: columns spark={sc} oracle={dc}"]
    if len(sr) != len(dr):
        return [f"{name}: {len(sr)} rows, oracle {len(dr)}"]
    if sr != dr:
        diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
        return [f"{name}: values differ, first (spark, oracle): {diffs}"]
    return []


def _corrupt_rows(rows: list[tuple]) -> list[tuple]:
    if not rows:
        return [(None,)]
    first = list(rows[0])
    for i, v in enumerate(first):
        if isinstance(v, bool) or v is None:
            continue
        if isinstance(v, (int, float)):
            first[i] = v + 1
            break
        if isinstance(v, str):
            first[i] = v + "~"
            break
    else:
        return rows[1:]
    return [tuple(first), *rows[1:]]


def oracle_selftest(name: str, cols, rows, oracle_cols, oracle_rows) -> list[str]:
    bad = _corrupt_rows([tuple(r) for r in rows])
    if not oracle_errors(name, cols, bad, oracle_cols, oracle_rows):
        return [f"{name}: oracle check passed a corrupted result"]
    return []


# -- ingest workload --------------------------------------------------------

def dashboard_errors(dashboard: pd.DataFrame, expected: dict) -> list[str]:
    if len(dashboard) != 1:
        return [f"dashboard: {len(dashboard)} rows, expected 1"]
    row = dashboard.iloc[0]
    errors = []
    if int(row["total_events"]) != expected["total_events"]:
        errors.append(f"dashboard: total_events {row['total_events']} != released {expected['total_events']}")
    for col in ("total_revenue", "conversion_rate"):
        if abs(float(row[col]) - expected[col]) > MONEY_TOL + _EPS:
            errors.append(f"dashboard: {col} {row[col]} != {expected[col]}")
    return errors


def _keyed_errors(table: str, emitted: pd.DataFrame, expected: pd.DataFrame, keys: list[str],
                  exact: tuple[str, ...], approx: tuple[str, ...], equal: tuple[str, ...] = ()) -> list[str]:
    if emitted.empty:
        return [f"{table}: no rows emitted"]
    if emitted.duplicated(keys).any():
        return [f"{table}: duplicate keys emitted"]
    merged = emitted.merge(expected, on=keys, how="left", suffixes=("", "_exp"), indicator=True)
    errors = []
    missing = merged[merged["_merge"] != "both"]
    if len(missing):
        errors.append(f"{table}: {len(missing)} emitted rows have no recomputed twin, "
                      f"first {missing[keys].iloc[0].to_dict()}")
    both = merged[merged["_merge"] == "both"]
    for col in exact + equal:
        bad = both[both[col] != both[f"{col}_exp"]]
        if len(bad):
            errors.append(f"{table}: {len(bad)} rows differ in {col}, first "
                          f"{bad[keys + [col, col + '_exp']].iloc[0].to_dict()}")
    for col in approx:
        bad = both[(both[col] - both[f"{col}_exp"]).abs() > MONEY_TOL + _EPS]
        if len(bad):
            errors.append(f"{table}: {len(bad)} rows differ in {col} beyond {MONEY_TOL}, first "
                          f"{bad[keys + [col, col + '_exp']].iloc[0].to_dict()}")
    return errors


def hourly_errors(emitted: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """Every emitted hourly row equals its recomputation; the HLL
    ``approx_unique_users`` is a sketch and is not compared."""
    return _keyed_errors("hourly_metrics", emitted, expected, ["hour_timestamp"],
                         COUNT_COLS, ("revenue", "conversion_rate"))


def sessions_errors(emitted: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    return _keyed_errors("session_metrics", emitted, expected, ["user_id", "session_start"],
                         COUNT_COLS, ("purchase_amount", "session_duration_minutes"),
                         ("session_end", "converted"))


def reads_errors(released_files: list[str], reads: dict[str, set[str]]) -> list[str]:
    """Every released file was read, in a committed batch, by every query."""
    errors = []
    for table, seen in sorted(reads.items()):
        missing = sorted(set(released_files) - seen)
        if missing:
            errors.append(f"{table}: {len(missing)} released files never committed, first {missing[0]}")
    return errors


def listener_errors(listener_rows: dict[str, int], released_rows: int) -> list[str]:
    """The listener's input-row totals equal the released rows per query."""
    return [f"{table}: listener counted {n} input rows, released {released_rows}"
            for table, n in sorted(listener_rows.items()) if n != released_rows]


def watermark_errors(dropped: dict[str, int]) -> list[str]:
    return [f"{table}: {n} rows dropped by the watermark" for table, n in sorted(dropped.items()) if n]


def ingest_errors(inputs: dict) -> list[str]:
    return (
        dashboard_errors(inputs["dashboard"], inputs["dashboard_expected"])
        + hourly_errors(inputs["hourly"], inputs["hourly_expected"])
        + sessions_errors(inputs["sessions"], inputs["sessions_expected"])
        + reads_errors(inputs["released_files"], inputs["reads"])
        + listener_errors(inputs["listener_rows"], inputs["released_rows"])
        + watermark_errors(inputs["dropped"])
    )


def ingest_selftest(inputs: dict) -> list[str]:
    """Corrupt each checked input in turn; every check must then fail."""

    def bump(df: pd.DataFrame, col: str, delta) -> pd.DataFrame:
        out = df.copy()
        if len(out):
            out.loc[out.index[0], col] = out.loc[out.index[0], col] + delta
        return out

    corruptions = {
        "dashboard": lambda x: x.update(dashboard=bump(x["dashboard"], "total_events", 1)),
        "hourly": lambda x: x.update(hourly=bump(x["hourly"], "total_events", 1)),
        "hourly revenue": lambda x: x.update(hourly=bump(x["hourly"], "revenue", 1.0)),
        "sessions": lambda x: x.update(sessions=bump(x["sessions"], "purchase_amount", 1.0)),
        "reads": lambda x: x.update(reads={t: set(sorted(s)[1:]) for t, s in x["reads"].items()}),
        "listener": lambda x: x.update(listener_rows={t: n - 1 for t, n in x["listener_rows"].items()}),
        "watermark": lambda x: x.update(dropped={t: n + 1 for t, n in x["dropped"].items()}),
    }
    errors = []
    for label, corrupt in corruptions.items():
        bad = copy.copy(inputs)
        corrupt(bad)
        if not ingest_errors(bad):
            errors.append(f"self-test: ingest check passed a corrupted {label}")
    return errors
