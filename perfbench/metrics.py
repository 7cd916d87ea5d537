"""Metric definitions and their computation from a worker's result.

``END_TO_END`` are what a datum user sees and are reported on every
workload by an untraced run.  ``PER_LAYER`` are reported by a traced run:
one value per layer boundary, 0 where a workload does not use the layer.
Time metrics of a span are the median over the calls inside the measured
window (over the set-up calls when the window has none); Spark counters
are means per measured operation.
"""

from __future__ import annotations

import statistics

from tracing import SPARK_COUNTERS, self_times, union_s
from workloads import ENTRIES, WRITE_KINDS

END_TO_END = [
    ("setup_s", "s", "lower",
     "process start to the first answer: get_session, connect, SQL-pack "
     "registration and the first operation"),
    ("op_mean_s", "s", "lower",
     "mean latency of a round's operations, median over the measured "
     "rounds"),
]

PER_LAYER = (
    [("session.get_session_s", "s"),
     ("database.connect_s", "s"), ("database.ensure_geom_fns_s", "s"),
     ("database.register_all_s", "s"), ("database.sql.build_s", "s"),
     ("database.create_table_s", "s"),
     ("table.query.build_s", "s"), ("table.count_s", "s")]
    + [(f"table.{k}_s", "s") for k in WRITE_KINDS]
    + [("table.files", "count"), ("table.bytes_on_disk", "bytes"),
       ("table.bytes_written", "bytes"),
       ("catalyst.plan_s", "s")]
    + [(f"spark.{c}", "s" if c.endswith("_s") else
        "bytes" if c.endswith("_bytes") else "count")
       for c in SPARK_COUNTERS]
    + [("spark.persisted_rdds", "count"), ("driver.gap_s", "s"),
       ("collect.rows", "rows"),
       ("pipelines.build_training_corpus_s", "s"), ("pipelines.jobs", "count"),
       ("pipelines.stages", "count"),
       ("pipelines.shuffle_write_bytes", "bytes")]
    + [(f"extensions.{e}.{m}", u) for e in ENTRIES
       for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"),
                    ("stages", "count"), ("shuffle_write_bytes", "bytes"),
                    ("spill_bytes", "bytes"))]
    + [(f"self.{layer}_s", "s") for layer in
       ("session", "database", "table", "catalyst", "spark", "pipelines",
        "extensions")]
    + [("read_p50_s", "s"), ("read_p90_s", "s"), ("reads_per_s", "1/s"),
       ("write_p50_s", "s"), ("write_p90_s", "s"),
       ("write_rows_per_s", "rows/s"), ("write_amp", "ratio"),
       ("pipeline_s", "s"), ("batch_s", "s"), ("error_rate", "ratio"),
       ("peak_rss_mb", "MB"), ("warmup_round_s", "s"),
       ("trace.overhead_s", "s")]
)

UNITS = {n: u for n, u, *_ in END_TO_END} | dict(PER_LAYER)
READ_KINDS = ("read", "count", "execute", "id_stats")
# the layer of each operation kind's public call (the rest are Table's)
OP_LAYER = {"execute": "database", "entry": "extensions",
            "pipeline": "pipelines"}


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _p90(xs, default=0.0):
    if len(xs) < 2:
        return xs[0] if xs else default
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def tail_percentile(n: int) -> int:
    """The highest whole-5 percentile that leaves ≥ 10 samples above it
    (0 when there are fewer than 11 samples)."""
    best = 0
    for p in range(5, 100, 5):
        if n * (100 - p) / 100 >= 10:
            best = p
    return best


def measured(ops):
    return [o for o in ops if not (o.get("setup") or o.get("warmup"))]


def end_to_end(res: dict) -> dict:
    """Per measured round, its operations' mean latency; the metric is the
    median over the rounds, so one round hit by a stall elsewhere on the
    machine does not move it."""
    ops = measured(res["ops"])
    means = [statistics.fmean([o["wall"] for o in ops if o["round"] == r])
             for r in sorted({o["round"] for o in ops})]
    return {"setup_s": res["setup_s"], "op_mean_s": _median(means)}


def workload_metrics(res: dict) -> dict:
    """The per-workload latency/throughput figures
    (reported per layer, and recorded by every run)."""
    ops = measured(res["ops"])
    reads = [o["wall"] for o in ops if o["kind"] in READ_KINDS]
    writes = [o for o in ops if o["kind"] in WRITE_KINDS]
    wall_w = [o["wall"] for o in writes]
    # the pipeline runs once, as the operation that ends set-up
    pipes = [o["wall"] for o in res["ops"] if o["kind"] == "pipeline"]
    entries = {}
    for o in ops:
        if o["kind"] == "entry":
            entries.setdefault(o["op"]["entry"], []).append(o["wall"])
    submitted = sum(o.get("bytes_submitted", 0) for o in writes)
    failed = sum(1 for o in res["ops"] if not o.get("ok"))
    return {
        "read_p50_s": _median(reads),
        "read_p90_s": _p90(reads),
        # from the reads' own wall times: a round's wall time also holds
        # the benchmark's off-clock bookkeeping between operations
        "reads_per_s": len(reads) / sum(reads) if reads else 0.0,
        "write_p50_s": _median(wall_w),
        "write_p90_s": _p90(wall_w),
        "write_rows_per_s": (sum(o.get("rows", 0) for o in writes)
                             / sum(wall_w)) if wall_w else 0.0,
        "write_amp": (sum(o.get("bytes_written", 0) for o in writes)
                      / submitted) if submitted else 0.0,
        "pipeline_s": _median(pipes),
        "batch_s": (sum(_median(v) for v in entries.values())
                    if len(entries) == len(ENTRIES) else 0.0),
        "error_rate": failed / len(res["ops"]) if res["ops"] else 0.0,
        "peak_rss_mb": res["peak_rss_mb"],
        "warmup_round_s": sum(o["wall"] for o in res["ops"]
                              if o.get("warmup")),
    }


def sample_counts(res: dict) -> dict:
    ops = measured(res["ops"])
    n_reads = sum(1 for o in ops if o["kind"] in READ_KINDS)
    n_writes = sum(1 for o in ops if o["kind"] in WRITE_KINDS)
    return {"ops": len(ops), "reads": n_reads, "writes": n_writes,
            "pipelines": sum(1 for o in ops if o["kind"] == "pipeline"),
            "entries": sum(1 for o in ops if o["kind"] == "entry"),
            "read_tail_percentile": tail_percentile(n_reads),
            "write_tail_percentile": tail_percentile(n_writes)}


def exec_split(spans: list[dict], root: int) -> dict | None:
    """The parts of an operation that ran an action of its own (a
    ``spark.exec`` span directly under it), else None: ``build`` (its
    plan-build spans), ``plan`` (Catalyst), ``job_wall`` (Spark jobs
    inside the actions) and ``gap``, what is left of the operation's wall
    time: Python, Py4J and collect-side time, such as ``Table.read``
    turning rows into dicts.  The four add up to the operation's wall
    time."""
    kids = [s for s in spans if s["parent"] == root]
    acts = [s for s in kids if s["name"] == "spark.exec"]
    if not acts:
        return None
    job_wall = union_s([(max(a, s["start"]), min(b, s["end"]))
                        for a, b in spans[root]["spark"]["job_intervals"]
                        for s in acts if b > s["start"] and a < s["end"]])

    def dur(name):
        return sum(s["end"] - s["start"] for s in kids if s["name"] == name)

    wall = spans[root]["end"] - spans[root]["start"]
    build = sum(s["end"] - s["start"] for s in kids
                if s["name"] not in ("spark.exec", "catalyst.plan"))
    plan = dur("catalyst.plan")
    return {"wall": wall, "build": build, "plan": plan,
            "job_wall": job_wall, "gap": wall - build - plan - job_wall}


def read_accounting(res: dict) -> dict:
    """Per read-type operation kind, the mean of each part of
    ``exec_split`` over the measured operations, and their count."""
    out = {}
    for o in measured(res["ops"]):
        split = exec_split(res["spans"], o["span"])
        if split and o["kind"] in READ_KINDS:
            out.setdefault(o["kind"], []).append(split)
    return {kind: {"n": len(parts)} | {
        k: statistics.fmean(p[k] for p in parts) for k in parts[0]}
        for kind, parts in out.items()}


def per_layer(res: dict) -> dict:
    """Every PER_LAYER metric from a traced result."""
    spans = res["spans"]
    ops = res["ops"]
    measured_ops = {o["id"] for o in measured(ops)}
    by_name: dict[str, list] = {}
    for s in spans:
        inside = s["op"] in measured_ops
        by_name.setdefault(s["name"], [[], []])[0 if inside else 1].append(
            s["end"] - s["start"])

    def span_s(name):
        inside, outside = by_name.get(name, [[], []])
        return _median(inside or outside)

    out = dict.fromkeys(dict(PER_LAYER), 0.0)
    for name in ("session.get_session", "database.connect",
                 "database.ensure_geom_fns", "database.register_all",
                 "database.sql.build", "database.create_table",
                 "table.query.build", "catalyst.plan",
                 "pipelines.build_training_corpus"):
        out[f"{name}_s"] = span_s(name)
    for k in WRITE_KINDS:
        out[f"table.{k}_s"] = span_s(f"table.{k}")
    m_ops = measured(ops)
    out["table.count_s"] = _median([o["wall"] for o in m_ops
                                    if o["kind"] == "count"])
    files = [o["files"] for o in m_ops if "files" in o]
    out["table.files"] = statistics.fmean(files) if files else 0
    out["table.bytes_on_disk"] = res.get("bytes_on_disk", 0)
    out["table.bytes_written"] = sum(o.get("bytes_written", 0) for o in ops)

    spark = [(o, spans[o["span"]]["spark"]) for o in m_ops if "span" in o]
    n = max(1, len(spark))
    for c in SPARK_COUNTERS:
        out[f"spark.{c}"] = sum(m[c] for _, m in spark) / n
    out["spark.persisted_rdds"] = spark[-1][1]["persisted_rdds"] if spark else 0

    splits = [exec_split(spans, o["span"]) for o in m_ops if "span" in o]
    gaps = [p["gap"] for p in splits if p]
    out["driver.gap_s"] = statistics.fmean(gaps) if gaps else 0.0
    out["collect.rows"] = sum(_rows(o) for o in m_ops) / max(1, len(m_ops))

    pipes = [(o, spans[o["span"]]["spark"]) for o in ops
             if o["kind"] == "pipeline" and "span" in o]
    if pipes:
        out["pipelines.jobs"] = _median([m["jobs"] for _, m in pipes])
        out["pipelines.stages"] = _median([m["stages"] for _, m in pipes])
        out["pipelines.shuffle_write_bytes"] = _median(
            [m["shuffle_write_bytes"] for _, m in pipes])
    for e in ENTRIES:
        mine = [(o, m) for o, m in spark if o["op"].get("entry") == e]
        out[f"extensions.{e}.build_s"] = span_s(f"extensions.{e}.build")
        out[f"extensions.{e}.exec_s"] = _median(
            [s["end"] - s["start"] for s in spans if s["name"] == "spark.exec"
             and s["op"] in {o["id"] for o, _ in mine}])
        for c in ("jobs", "stages", "shuffle_write_bytes", "spill_bytes"):
            out[f"extensions.{e}.{c}"] = _median([m[c] for _, m in mine])

    # where the traced run's time went: each layer's own time (its spans
    # minus their child spans), set-up included.  An operation's root span
    # is the public call itself, so its own time (Table.read's dicts,
    # Database.execute's, loading the corpus for build_training_corpus)
    # belongs to the layer of that call
    for s, t in zip(spans, self_times(spans)):
        layer, rest = s["name"].split(".", 1)
        if layer == "op":
            layer = OP_LAYER.get(rest, "table")
        out[f"self.{layer}_s"] += t

    out.update(workload_metrics(res))
    out["trace.overhead_s"] = res["trace_overhead_s"] / max(1, len(ops))
    return out


def _rows(o) -> int:
    r = o.get("result")
    if isinstance(r, list):
        return len(r)
    if isinstance(r, dict):
        return r.get("rows", 0)
    return o.get("result_rows", 0)
