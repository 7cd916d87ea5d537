"""Seeded operation sequences for the three workloads.

Everything here is pure Python: a workload's operations depend only on its
seed, never on timing or on the program's answers, so the same seed gives
the same sequence on every machine.  Each generator yields rounds (lists
of operations) without end: the first round is the one operation that
ends set-up, and every later round has the same mix of operation kinds.
Operations flagged ``warmup`` are run and checked but left out of the
latency figures.

A run measures a fixed number of rounds: as many whole rounds as
``--seconds`` holds at the workload's nominal round time (``ROUND_SECONDS``,
about what a warm round takes on a 4-core container), and at least one.
Latency falls over a run's first rounds (JIT, code generation, caches), so
a window that ends on a deadline makes the mean depend on how many rounds
a run happened to fit; a fixed number of rounds keeps every run's work the
same.

- ``interactive_ops``: ``Table.read`` / ``Table.count`` /
  ``Database.execute`` over ``lineitem``/``orders``/``customer``; every
  operation carries the SQL DuckDB runs to produce its expected answer.
- ``etl_ops``: appends, upserts and partition overwrites, each read
  back, and a periodic compaction, over two tables the run creates;
  ``EtlModel`` replays them in memory and gives each read its expected
  answer.
- ``corpus_ops``: one ``build_training_corpus`` run with a seeded eval
  slice, then rounds of six heavy registry entries.
"""

from __future__ import annotations

import itertools
import random
from collections.abc import Iterator

from datagen import N_DAYS, SEGMENTS

ROUND_SECONDS = {"interactive_read": 2.5, "etl_write": 8.0,
                 "corpus_batch": 7.5}


def measured_rounds(workload: str, seconds: float) -> int:
    return max(1, int(seconds // ROUND_SECONDS[workload]))


# -- interactive_read ---------------------------------------------------------

REPEAT_P = 0.3          # share of operations that replay an earlier one


def _day(d: int) -> str:
    import datetime
    return (datetime.date(1995, 1, 1) + datetime.timedelta(days=d)).isoformat()


def _ts(d: int) -> str:
    return f"CAST('{_day(d)}' AS TIMESTAMP)"


def _read(table, fields, where, sort, limit) -> dict:
    sql = (f"SELECT {', '.join(fields)} FROM {table} WHERE {where} "
           f"ORDER BY {sort} LIMIT {limit}")
    return {"kind": "read", "template": f"r_{table}", "table": table,
            "fields": fields, "where": where, "sort": sort, "limit": limit,
            "sql": sql}


def _execute(template: str, sql: str) -> dict:
    return {"kind": "execute", "template": template, "sql": sql}


TEMPLATES = ("r_lineitem", "r_orders", "r_customer", "count", "e_agg",
             "e_join", "e_window", "e_topk")


def _fresh_interactive(rng: random.Random, t: str) -> dict:
    lo = rng.randrange(0, N_DAYS - 400)
    hi = lo + rng.randrange(60, 400)
    seg = rng.choice(SEGMENTS)
    if t == "r_lineitem":
        return _read("lineitem",
                     ["l_orderkey", "l_linenumber", "l_quantity",
                      "l_extendedprice"],
                     f"l_quantity >= {rng.randrange(35, 50)} "
                     f"AND l_discount <= {rng.randrange(0, 10) / 100}",
                     "l_extendedprice DESC, l_orderkey, l_linenumber",
                     rng.randrange(10, 51))
    if t == "r_orders":
        return _read("orders",
                     ["o_orderkey", "o_custkey", "o_totalprice",
                      "o_orderpriority"],
                     f"o_orderdate >= {_ts(lo)} AND o_orderdate < {_ts(hi)} "
                     f"AND o_orderstatus = '{rng.choice('FOP')}'",
                     "o_totalprice DESC, o_orderkey", rng.randrange(10, 51))
    if t == "r_customer":
        return _read("customer", ["c_custkey", "c_name", "c_acctbal"],
                     f"c_mktsegment = '{seg}' "
                     f"AND c_nationkey = {rng.randrange(25)}",
                     "c_acctbal DESC, c_custkey", rng.randrange(10, 51))
    if t == "count":
        table = rng.choice(["lineitem", "orders", "customer"])
        return {"kind": "count", "template": t, "table": table,
                "sql": f"SELECT COUNT(*) AS n FROM {table}"}
    if t == "e_agg":
        return _execute(t, (
            "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
            "ROUND(SUM(l_quantity), 2) AS qty, "
            "ROUND(AVG(l_extendedprice), 4) AS avg_price "
            f"FROM lineitem WHERE l_shipdate < {_ts(hi)} "
            "GROUP BY l_returnflag, l_linestatus "
            "ORDER BY l_returnflag, l_linestatus"))
    if t == "e_join":
        return _execute(t, (
            "SELECT c.c_mktsegment, COUNT(*) AS n_orders, "
            "ROUND(SUM(o.o_totalprice), 2) AS revenue "
            "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
            f"WHERE o.o_orderdate >= {_ts(lo)} AND o.o_orderdate < {_ts(hi)} "
            "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment"))
    if t == "e_window":
        return _execute(t, (
            "SELECT c_nationkey, c_custkey, c_acctbal, rk FROM ("
            "SELECT c_nationkey, c_custkey, c_acctbal, ROW_NUMBER() OVER ("
            "PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk "
            f"FROM customer WHERE c_mktsegment = '{seg}') t "
            f"WHERE rk <= {rng.randrange(1, 6)} ORDER BY c_nationkey, rk"))
    return _execute(t, (
        "SELECT o.o_custkey, COUNT(*) AS n_lines, "
        "ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        f"WHERE o.o_orderdate >= {_ts(lo)} AND o.o_orderdate < {_ts(hi)} "
        f"AND l.l_returnflag = '{rng.choice('ANR')}' "
        "GROUP BY o.o_custkey ORDER BY n_lines DESC, o.o_custkey "
        f"LIMIT {rng.randrange(5, 21)}"))


def interactive_ops(seed: int) -> Iterator[list[dict]]:
    """Rounds that use every template once, in seeded order.  About a
    third of the operations replay an earlier one of the same template
    exactly (shared work); the rest draw fresh constants."""
    rng = random.Random(f"interactive_read/{seed}")
    history: dict[str, list[dict]] = {t: [] for t in TEMPLATES}
    ids = itertools.count()

    def op(t):
        if history[t] and rng.random() < REPEAT_P:
            return dict(rng.choice(history[t]), repeat=True, id=next(ids))
        history[t].append(_fresh_interactive(rng, t))
        return dict(history[t][-1], repeat=False, id=next(ids))

    yield [op(rng.choice(TEMPLATES))]
    # the first full round is each template's first use (code generation,
    # footer and listing caches), twice as slow as the later rounds: timed,
    # checked and reported as warmup_round_s, but kept out of the latency
    # figures
    yield [dict(op(t), warmup=True)
           for t in rng.sample(TEMPLATES, len(TEMPLATES))]
    while True:
        yield [op(t) for t in rng.sample(TEMPLATES, len(TEMPLATES))]


# -- etl_write ----------------------------------------------------------------

PLAIN_COLS = [{"name": "k", "type": "num"}, {"name": "v", "type": "text"},
              {"name": "amount", "type": "num"}]
PART_COLS = [{"name": "day", "type": "text"}, {"name": "k", "type": "num"},
             {"name": "amount", "type": "num"}]
DAYS = [f"d{i:02d}" for i in range(8)]
WRITE_KINDS = ("write", "upsert", "overwrite_partitions", "compact")
# batch sizes of the measured datum calls this workload reproduces: a
# 2,000-row Table.write (~1 s) and a 500-key upsert (1.1-1.8 s, a
# whole-table rewrite); a partition overwrite submits a 2,000-row batch too
BATCH_ROWS = 2000
UPSERT_KEYS = 500
APPENDS_PER_COMPACT = 3     # appends between two compactions
# read-backs of the plain table after its four writes, in seeded order
PLAIN_READBACKS = ("read", "read", "count", "id_stats")


def etl_fields(op: dict) -> list[str]:
    if op["kind"] == "id_stats":
        return ["id"]
    return {"plain": ["k", "id", "v", "amount"],
            "part": ["day", "k", "id", "amount"]}[op["table"]]


def _plain_rows(rng: random.Random, keys) -> list[dict]:
    return [{"k": float(k), "v": f"v{k}-{rng.randrange(10**6)}",
             "amount": round(rng.uniform(0, 1000), 2)} for k in keys]


class _EtlKeys:
    """Key bookkeeping for the generated batches."""

    def __init__(self):
        self.next = 0
        self.live: list[int] = []

    def fresh(self, n: int) -> list[int]:
        keys = list(range(self.next, self.next + n))
        self.next += n
        self.live.extend(keys)
        return keys


def _write(rng, keys: _EtlKeys) -> dict:
    return {"kind": "write", "table": "plain",
            "rows": _plain_rows(rng, keys.fresh(BATCH_ROWS))}


def _upsert(rng, keys: _EtlKeys) -> dict:
    """Half the keys exist already, half are new."""
    old = rng.sample(keys.live, UPSERT_KEYS // 2)
    batch = old + keys.fresh(UPSERT_KEYS - len(old))
    rng.shuffle(batch)
    return {"kind": "upsert", "table": "plain",
            "rows": _plain_rows(rng, batch)}


def _overwrite(rng) -> dict:
    days = rng.sample(DAYS, rng.randrange(1, 3))
    per_day = BATCH_ROWS // len(days)
    return {"kind": "overwrite_partitions", "table": "part",
            "rows": [{"day": d, "k": float(k),
                      "amount": round(rng.uniform(0, 100), 2)}
                     for d in days
                     for k in rng.sample(range(10_000), per_day)]}


def _etl_round(rng: random.Random, keys: _EtlKeys) -> list[dict]:
    """One compaction period: the appends, one upsert and one partition
    overwrite in seeded order, each read back (the plain table's
    read-backs in seeded order too), then a compaction of the plain table
    and a read of the compacted table.  Where the upsert falls decides how
    many small append files the compaction finds: the upsert rewrites the
    whole table into one set of files, the appends after it add theirs."""
    writes = ["write"] * APPENDS_PER_COMPACT + ["upsert", "overwrite"]
    rng.shuffle(writes)
    readbacks = list(PLAIN_READBACKS)
    rng.shuffle(readbacks)
    ops = []
    for w in writes:
        if w == "overwrite":
            ops += [_overwrite(rng), {"kind": "read", "table": "part"}]
            continue
        ops.append(_write(rng, keys) if w == "write" else _upsert(rng, keys))
        ops.append({"kind": readbacks.pop(), "table": "plain"})
    return ops + [{"kind": "compact", "table": "plain"},
                  {"kind": "read", "table": "plain"}]


def etl_ops(seed: int) -> Iterator[list[dict]]:
    """A first append, then endless compaction periods (``_etl_round``).
    The first period is warm-up: each write path runs for the first time
    and takes half as long again as later ones."""
    rng = random.Random(f"etl_write/{seed}")
    ids = itertools.count()
    keys = _EtlKeys()
    yield [dict(_write(rng, keys), id=next(ids))]
    for r in itertools.count():
        yield [dict(op, id=next(ids), warmup=r == 0)
               for op in _etl_round(rng, keys)]


def sort_key(row):
    return tuple((v is None, v) for v in row)


class EtlModel:
    """In-memory replay of the etl_write tables.

    ``plain`` maps key → (id, v, amount); ``part`` maps day → {key:
    (id, amount)}.  Auto ids follow the engine's contract: each append or
    partition overwrite numbers its rows densely from max(id) + 1 in
    submission order; rows an upsert inserts carry no id.
    """

    def __init__(self):
        self.plain: dict[int, tuple] = {}
        self.part: dict[str, dict[int, tuple]] = {}

    def _max_id(self) -> int:
        ids = [r[0] for r in self.plain.values() if r[0] is not None]
        return max(ids, default=0)

    def _max_part_id(self) -> int:
        return max((r[0] for rows in self.part.values()
                    for r in rows.values()), default=0)

    def apply(self, op: dict) -> None:
        kind = op["kind"]
        if kind == "write":
            base = self._max_id() + 1
            for i, r in enumerate(op["rows"]):
                self.plain[int(r["k"])] = (base + i, r["v"], r["amount"])
        elif kind == "upsert":
            for r in op["rows"]:
                self.plain[int(r["k"])] = (None, r["v"], r["amount"])
        elif kind == "overwrite_partitions":
            base = self._max_part_id() + 1
            fresh: dict[str, dict[int, tuple]] = {}
            for i, r in enumerate(op["rows"]):
                fresh.setdefault(r["day"], {})[int(r["k"])] = (
                    base + i, r["amount"])
            self.part.update(fresh)

    def expected(self, op: dict):
        """The answer a read-type operation must return, in the worker's
        row layout (rows sorted)."""
        kind = op["kind"]
        if kind == "read" and op["table"] == "plain":
            return sorted(([float(k), r[0], r[1], r[2]]
                           for k, r in self.plain.items()), key=sort_key)
        if kind == "read":
            return sorted(([day, float(k), r[0], r[1]]
                           for day, rows in self.part.items()
                           for k, r in rows.items()), key=sort_key)
        if kind == "count":
            return len(self.plain)
        if kind == "id_stats":
            ids = [r[0] for r in self.plain.values() if r[0] is not None]
            return [len(self.plain), len(ids), len(set(ids)),
                    min(ids, default=None), max(ids, default=None)]
        return None


# -- corpus_batch -------------------------------------------------------------

ENTRIES = ("x03_ngram_jaccard", "x06_embedding_dups", "x117_copurchase",
           "x83_pagerank", "x122_winsorize", "x214_gopher_repetition")
EVAL_SLICES = 4         # the seed picks which 100-document slice is held out


def corpus_ops(seed: int) -> Iterator[list[dict]]:
    """One pipeline run with the seed's eval slice held out, then endless
    rounds of the six entries.  The first round is warm-up: an entry's
    first run (code generation, JIT) takes twice as long as a warm one and
    its time swings with whatever else the machine is doing, so timing it
    spread the per-run mean by a fifth to a third across seeds.  The
    entries keep one order: a seeded order made every entry's time depend
    on which entries ran before it (shared warm-up, cache ring), which
    spread the per-run mean by a fifth across seeds."""
    rng = random.Random(f"corpus_batch/{seed}")
    yield [{"kind": "pipeline", "eval_slice": rng.randrange(EVAL_SLICES),
            "id": "pipeline"}]
    for r in itertools.count():
        yield [{"kind": "entry", "entry": e, "id": f"{r}-{e}",
                "warmup": r == 0} for e in ENTRIES]
