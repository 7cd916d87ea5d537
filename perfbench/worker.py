"""One workload run in a fresh process: set up, run the closed loop, report.

Started by ``run.py``; not meant to be run by hand.  It times every call it
makes into datum_spark, writes one JSON result file (operations, their
answers, timings and, when traced, spans and Spark counters) and exits.
Answers that need DuckDB are checked by ``run.py`` after this process
has ended, outside every timed region; etl_write answers are checked here
against the in-memory model, after each operation's clock has stopped.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer  # noqa: E402

# the plan-build span of each public call that builds its plan inline
BUILD_SPANS = {"count": "table.count.build", "execute": "database.sql.build"}


def session_pids(sid: int) -> list[int]:
    """Live processes of a session: the worker, its JVM and the Python
    daemon the JVM forks (which moves to a process group of its own)."""
    alive = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                if int(fields[3]) == sid and fields[0] != "Z":
                    alive.append(int(pid))
            except (OSError, IndexError, ValueError):
                continue
    return alive


def _rss_tree_mb() -> float:
    """Sum of peak RSS (VmHWM) over this process's session: Python, the
    local JVM and the Python workers it forked."""
    total = 0
    for pid in session_pids(os.getsid(0)):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total / 1024.0


def _disk_files(path: str) -> dict[int, int]:
    """inode → size of every parquet file under ``path``."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(root, f))
                out[st.st_ino] = st.st_size
    return out


class Runner:
    def __init__(self, args):
        self.args = args
        self.ops: list[dict] = []
        self.tracer = Tracer(bool(args.trace))
        self.extra: dict = {}
        self.handles: dict = {}

    def table(self, name: str):
        """One Table handle per table for the whole run, as a script
        holding ``db[name]`` would."""
        if name not in self.handles:
            self.handles[name] = self.db.table(name)
        return self.handles[name]

    # -- shared steps ---------------------------------------------------------

    def session(self):
        import datum_spark as datum
        from datum_spark.session import get_session

        with self.tracer.span("session.get_session"):
            self.spark = get_session(app_name="perfbench")
        self.tracer.spark = self.spark
        if self.tracer.enabled:
            self.tracer.instrument()
        self.datum = datum

    def timed(self, op: dict, fn, answer) -> dict:
        """Run one operation, record its wall time and answer (or error).
        ``fn`` makes the public call and returns what it returned;
        ``answer`` turns that into the checked answer after the clock has
        stopped.  Traced, the wall time is the operation's root span, which
        ends before the tracer reads Spark's counters."""
        rec = {"id": op["id"], "kind": op["kind"], "error": None,
               "op": {k: v for k, v in op.items()
                      if k != "rows" and not k.startswith("_")}}
        root = raw = None
        t0 = time.perf_counter()
        try:
            with self.tracer.operation(op["id"], op["kind"],
                                       BUILD_SPANS.get(op["kind"])) as root:
                raw = fn(op)
        except Exception as exc:  # noqa: BLE001 — a failed operation
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        rec["wall"] = time.perf_counter() - t0
        if root is not None:
            rec["wall"] = root["end"] - root["start"]
            rec["span"] = self.tracer.spans.index(root)
        rec["result"] = None
        if rec["error"] is None:
            try:
                rec["result"] = answer(op, raw)
            except Exception as exc:  # noqa: BLE001 — a malformed answer
                rec["error"] = f"answer {type(exc).__name__}: {exc}"[:300]
        self.ops.append(rec)
        return rec

    # -- interactive_read -------------------------------------------------------

    def interactive_op(self, op: dict):
        t = self.table(op.get("table", "lineitem"))
        if op["kind"] == "read":
            return t.read(fields=op["fields"], where=op["where"],
                          sort=op["sort"], limit=op["limit"])
        if op["kind"] == "count":
            return t.count
        return self.db.execute(op["sql"])

    @staticmethod
    def interactive_answer(op: dict, raw):
        if op["kind"] == "read":
            return [[r[f] for f in op["fields"]] for r in raw]
        if op["kind"] == "count":
            return [[raw]]
        return [list(r.values()) for r in raw]

    def run_interactive(self):
        self.session()
        with self.tracer.span("database.connect"):
            self.db = self.datum.connect(f"file://{self.args.data}",
                                         spark=self.spark)
        with self.tracer.span("database.ensure_geom_fns"):
            self.db.ensure_geom_fns()
        with self.tracer.span("database.register_all"):
            self.db.register_all()
        ops = workloads.interactive_ops(self.args.seed)
        self.loop(ops, self.interactive_op, self.interactive_answer)

    # -- etl_write --------------------------------------------------------------

    def etl_op(self, op: dict):
        t = self.table(op["table"])
        kind = op["kind"]
        if kind in workloads.WRITE_KINDS:
            with self.tracer.span(f"table.{kind}"):
                if kind == "write":
                    t.write(op["rows"])
                elif kind == "upsert":
                    t.upsert(op["rows"], keys="k")
                elif kind == "overwrite_partitions":
                    t.overwrite_partitions(op["rows"])
                else:
                    t.compact()
            return None
        if kind == "count":
            return t.count
        return t.read(fields=workloads.etl_fields(op))

    @staticmethod
    def etl_answer(op: dict, raw):
        kind = op["kind"]
        if kind in workloads.WRITE_KINDS or kind == "count":
            return raw
        fields = workloads.etl_fields(op)
        rows = sorted(([r[f] for f in fields] for r in raw),
                      key=workloads.sort_key)
        if kind == "id_stats":
            ids = [r[0] for r in rows if r[0] is not None]
            return [len(rows), len(ids), len(set(ids)),
                    min(ids, default=None), max(ids, default=None)]
        return rows

    def run_etl(self):
        import pyarrow as pa

        root = os.path.join(os.getcwd(), "etl_db")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        self.session()
        with self.tracer.span("database.connect"):
            self.db = self.datum.connect(f"file://{root}", spark=self.spark)
        with self.tracer.span("database.create_table"):
            self.db.create_table("plain", workloads.PLAIN_COLS)
            self.db.create_table("part", workloads.PART_COLS,
                                 partition_by=["day"])
        model = workloads.EtlModel()
        corrupt = [self.args.corrupt_expected]
        files_before: dict[int, int] = {}

        def table_files(op):
            return _disk_files(os.path.join(root, f"{op['table']}.parquet"))

        def before(op):
            files_before.clear()
            files_before.update(table_files(op))

        def after(op, rec):
            """Disk accounting and the model check, off the clock."""
            kind = op["kind"]
            model.apply(op)
            if kind in workloads.WRITE_KINDS:
                files = table_files(op)
                rec["files"] = len(files)
                rec["bytes_written"] = sum(
                    s for i, s in files.items() if i not in files_before)
                rec["rows"] = len(op.get("rows", ()))
                rec["bytes_submitted"] = (pa.Table.from_pylist(op["rows"])
                                          .nbytes if rec["rows"] else 0)
                rec["ok"] = rec["error"] is None
                return
            expected = model.expected(op)
            if corrupt[0]:
                expected, corrupt[0] = checks.corrupt(expected), False
            got = rec.pop("result")
            rec["result_rows"] = len(got) if isinstance(got, list) else 1
            rec["ok"] = rec["error"] is None and checks.same(got, expected)

        self.loop(workloads.etl_ops(self.args.seed), self.etl_op,
                  self.etl_answer, before, after)
        plain = _disk_files(os.path.join(root, "plain.parquet"))
        part = _disk_files(os.path.join(root, "part.parquet"))
        self.extra.update(files=len(plain) + len(part),
                          bytes_on_disk=sum(plain.values())
                          + sum(part.values()))
        shutil.rmtree(root, ignore_errors=True)

    # -- corpus_batch -----------------------------------------------------------

    def corpus_op(self, op: dict):
        if op["kind"] == "pipeline":
            from pyspark.sql import functions as F

            from datum_spark.pipelines import build_training_corpus
            from datum_spark.tierb import load

            docs = load(self.spark, self.args.data, "documents")
            lo = op["eval_slice"] * 100
            held = (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 100)
            with self.tracer.span("pipelines.build_training_corpus"):
                _, report = build_training_corpus(
                    docs.filter(~held), docs.filter(held),
                    self.shards_dir(op), n_shards=8, contamination_ngram=5)
            return report
        from datum_spark import extensions

        fn = extensions.EXTENSIONS[op["entry"]][0]
        with self.tracer.span(f"extensions.{op['entry']}.build"):
            df = fn(self.spark, self.args.data)
        return df.columns, df.collect()

    @staticmethod
    def corpus_answer(op: dict, raw):
        if op["kind"] == "pipeline":
            return {k: int(v) for k, v in raw.items()}
        columns, rows = raw
        return {"columns": columns, "rows": len(rows),
                "digest": checks.digest(columns, rows)}

    @staticmethod
    def shards_dir(op: dict) -> str:
        return os.path.join(os.getcwd(), f"shards-{op['id']}")

    def run_corpus(self):
        self.session()

        def after(op, rec):
            shutil.rmtree(self.shards_dir(op), ignore_errors=True)

        self.loop(workloads.corpus_ops(self.args.seed), self.corpus_op,
                  self.corpus_answer, after=after)

    # -- the closed loop --------------------------------------------------------

    def loop(self, rounds, fn, answer, before=None, after=None):
        """The first round (one operation) ends set-up; warm-up rounds and
        then ``workloads.measured_rounds`` whole rounds follow back to back.
        ``before``/``after`` run off the clock around each operation."""
        def run_round(ops, index, setup=False):
            for op in ops:
                if before:
                    before(op)
                rec = self.timed(op, fn, answer)
                rec.update(setup=setup, warmup=op.get("warmup", False),
                           round=index)
                if after:
                    after(op, rec)

        run_round(next(rounds), 0, setup=True)
        self.setup_s = time.time() - self.args.t0
        todo = workloads.measured_rounds(self.args.workload,
                                         self.args.seconds)
        for index, ops in enumerate(rounds, 1):
            run_round(ops, index)
            if not ops[0].get("warmup"):
                todo -= 1
                if todo == 0:
                    break

    def run(self) -> dict:
        getattr(self, {"interactive_read": "run_interactive",
                       "etl_write": "run_etl",
                       "corpus_batch": "run_corpus"}[self.args.workload])()
        sc = self.spark.sparkContext
        out = {
            "setup_s": self.setup_s,
            "ops": self.ops,
            "peak_rss_mb": _rss_tree_mb(),
            "trace_overhead_s": self.tracer.overhead_s,
            "versions": {
                "spark": self.spark.version,
                "java": sc._jvm.System.getProperty("java.version"),
                "python": sys.version.split()[0],
            },
            "parallelism": sc.defaultParallelism,
            **self.extra,
        }
        if self.tracer.enabled:
            out["spans"] = self.tracer.spans
        self.spark.stop()
        return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", default="")
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--corrupt-expected", action="store_true")
    args = ap.parse_args()
    result = Runner(args).run()
    with open(args.out, "w") as fh:
        json.dump(result, fh, default=str)


if __name__ == "__main__":
    main()
