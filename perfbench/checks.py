"""Output checks: every answer the program gives is compared with an
expected answer computed outside the timed region.

- interactive_read: DuckDB runs the same SQL over the same parquet
  (``check_ops``); answers are ordered, so rows compare in order, with
  a float tolerance below the SQL's own rounding step.
- etl_write: the benchmark's in-memory model (``workloads.EtlModel``).
- corpus_batch: each registry entry's rows hash-compare with its
  ``oracle_sql()`` on DuckDB, normalised by the engine's own
  differential gate (``tests/diff_runner.py``), and the pipeline funnel counts
  compare with the engine's own; both are recorded in ``expected.json``
  (``record_expected.py``) because x83's oracle alone runs for minutes.
"""

from __future__ import annotations

import decimal
import functools
import hashlib
import json
import math
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TABLES = ("customer", "orders", "lineitem", "documents", "embeddings")


def same(got, expected, abs_tol: float = 1e-9) -> bool:
    """Structural equality; floats within ``abs_tol`` (or 1e-9 relative)."""
    if isinstance(expected, (list, tuple)):
        return (isinstance(got, (list, tuple)) and len(got) == len(expected)
                and all(same(g, e, abs_tol) for g, e in zip(got, expected)))
    if isinstance(expected, bool) or isinstance(got, bool):
        return got == expected
    if isinstance(expected, (int, float, decimal.Decimal)) and isinstance(
            got, (int, float, decimal.Decimal)):
        g, e = float(got), float(expected)
        if math.isnan(g) or math.isnan(e):
            return math.isnan(g) and math.isnan(e)
        return math.isclose(g, e, rel_tol=1e-9, abs_tol=abs_tol)
    return got == expected


def corrupt(expected):
    """A deliberately wrong copy of an expected answer (for the checks'
    own test): the first value found is changed."""
    if isinstance(expected, (int, float)) and not isinstance(expected, bool):
        return expected + 1
    if isinstance(expected, list):
        return [corrupt(expected[0])] + expected[1:] if expected else [None]
    if isinstance(expected, dict):
        return {k: corrupt(v) for k, v in expected.items()}
    return f"{expected}-corrupted"


@functools.lru_cache(maxsize=None)
def _diff_runner():
    """The engine's differential gate (``tests/diff_runner.py``), whose
    normalisation the corpus digests use."""
    import importlib.util

    path = os.path.join(ROOT, "tests", "diff_runner.py")
    spec = importlib.util.spec_from_file_location("diff_runner", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def digest(columns, rows) -> str:
    """Order-insensitive hash of a result, normalised by the differential
    gate's ``normalize`` (columns sorted by name, values normalised, rows
    sorted)."""
    blob = json.dumps(_diff_runner().normalize(columns, rows))
    return hashlib.sha256(blob.encode()).hexdigest()


def duckdb_connection(data_dir: str, threads: int = 4):
    import duckdb

    con = duckdb.connect(config={"threads": threads})
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def recorded(data_key: str) -> dict | None:
    """The expected values recorded for the corpus tables, or None when
    they were recorded for other tables (a missing value then fails its
    operation's check)."""
    with open(os.path.join(HERE, "expected.json")) as fh:
        rec = json.load(fh)
    return rec if rec.get("data_key") == data_key else None


def check_ops(workload: str, ops: list[dict], data_dir: str, data_key: str,
              corrupt_first: bool = False):
    """Set ``ok`` on every operation the worker could not check itself.
    A wrong or failed answer marks its operation failed; nothing here
    raises on a mismatch."""
    if workload == "etl_write":
        return
    con = duckdb_connection(data_dir) if workload == "interactive_read" else None
    known = recorded(data_key) or {}
    cache: dict[str, list] = {}
    corrupted = False
    for rec in ops:
        if rec["error"] is not None:
            rec["ok"] = False
            continue
        op = rec["op"]
        try:
            if con is not None:
                if op["sql"] not in cache:
                    cache[op["sql"]] = [list(r) for r in
                                        con.execute(op["sql"]).fetchall()]
                expected = cache[op["sql"]]
            elif op["kind"] == "entry":
                expected = {"digest": known["entries"][op["entry"]]}
            else:
                expected = known["funnel"][str(op["eval_slice"])]
        except Exception as exc:  # noqa: BLE001 — the check itself failed
            rec["ok"] = False
            rec["check_error"] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        if corrupt_first and not corrupted:
            expected, corrupted = corrupt(expected), True
        got = rec["result"]
        if con is not None:
            rec["ok"] = same(got, expected, abs_tol=0.011)
        elif op["kind"] == "entry":
            rec["ok"] = got["digest"] == expected["digest"]
        else:
            rec["ok"] = got == expected
