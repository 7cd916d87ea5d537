"""datum-spark benchmark: one closed-loop workload run, one JSON result line.

    python3 perfbench/run.py --workload interactive_read --seed 1 \\
        --seconds 10 --trace 0

Workloads: ``interactive_read``, ``etl_write``, ``corpus_batch`` (see
``perfbench/README.md``).  Run from the root of a source checkout; the
program (``datum_spark``) is imported from there.  Inputs are generated
from fixed seeds under ``.perfbench/`` in the checkout, the run itself
happens in a fresh worker process, and every answer is checked.  The last
line of standard output is ``{"correct", "attempted", "failed",
"metrics"}``: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.  Each run also writes a self-describing record to
``.perfbench/records/``.

    python3 perfbench/run.py --show [RECORD ...]   # every metric, by name
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import metrics  # noqa: E402
from worker import session_pids  # noqa: E402

WORKLOADS = {"interactive_read": 0.1, "etl_write": None, "corpus_batch": 0.01}
MAX_CPUS = 4
WORKER_TIMEOUT_S = 160


def cpus() -> int:
    return min(MAX_CPUS, len(os.sched_getaffinity(0)))


def data_dir(scale: float) -> tuple[str, str]:
    """Generate (once per checkout) the tables for ``scale``; returns the
    directory and its key (a hash of the generator and its parameters)."""
    import datagen

    with open(os.path.join(HERE, "datagen.py"), "rb") as fh:
        key = hashlib.sha256(fh.read() + repr(scale).encode()).hexdigest()[:16]
    path = os.path.join(STATE, "data", key)
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        datagen.generate(tmp, scale)
        os.replace(tmp, path)
    return path, key


def stop_session(sid: int) -> None:
    """Stop every process left in the worker's session and wait for them."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in session_pids(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 5
        while session_pids(sid) and time.time() < deadline:
            time.sleep(0.1)
        if not session_pids(sid):
            return


def run_worker(args, data: str, work: str) -> dict:
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(cpus()),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               TMPDIR=tmp,
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
               PYSPARK_PYTHON=sys.executable,
               PYTHONPATH=os.pathsep.join(
                   p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--out", out]
    if args.corrupt_expected:
        cmd.append("--corrupt-expected")
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "w") as log:
        t0 = time.time()
        proc = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=work, env=env,
                                stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_session(proc.pid)
            proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"worker exited with {code}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def record_path(workload: str, seed: int, trace: int) -> str:
    suffix = "-trace" if trace else ""
    return os.path.join(STATE, "records",
                        f"{workload}-seed{seed}-cpus{cpus()}{suffix}.json")


def run(args) -> dict:
    scale = WORKLOADS[args.workload]
    data, key = data_dir(scale) if scale else ("", None)
    work = os.path.join(STATE, "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_before = os.getloadavg()
    try:
        res = run_worker(args, data, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_after = os.getloadavg()
    checks.check_ops(args.workload, res["ops"], data, key,
                     args.corrupt_expected)
    failed = sum(1 for o in res["ops"] if not o.get("ok"))
    e2e = metrics.end_to_end(res)
    layered = metrics.per_layer(res) if args.trace else None
    shown = layered if args.trace else e2e
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "sf": scale, "data_key": key,
        "cpus": {"local": res["parallelism"],
                 "SPARK_GRAFT_CPUS": cpus(),
                 "nproc": len(os.sched_getaffinity(0))},
        "loadavg_before": load_before, "loadavg_after": load_after,
        "versions": res["versions"],
        "samples": metrics.sample_counts(res),
        "attempted": len(res["ops"]), "failed": failed,
        "failures": [{k: o.get(k) for k in ("id", "kind", "error",
                                            "check_error")}
                     | {"op": o["op"]}
                     for o in res["ops"] if not o.get("ok")][:20],
        "end_to_end": e2e,
        "workload_metrics": metrics.workload_metrics(res),
        "per_layer": layered,
        "setup_parts": _setup_parts(res),
        "read_accounting": (metrics.read_accounting(res) if args.trace
                            else None),
        "pipeline_funnel": next((o["result"] for o in res["ops"]
                                 if o["kind"] == "pipeline"), None),
        "operations": [
            {"id": o["id"], "kind": o["kind"], "wall": o["wall"],
             "ok": o.get("ok"), "setup": o.get("setup"),
             "warmup": o.get("warmup"),
             "name": o["op"].get("template") or o["op"].get("entry")}
            for o in res["ops"]],
    }
    os.makedirs(os.path.join(STATE, "records"), exist_ok=True)
    with open(record_path(args.workload, args.seed, args.trace), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True, default=str)
    if args.trace:
        with open(record_path(args.workload, args.seed, 1)[:-5]
                  + ".spans.jsonl", "w") as fh:
            for s in res["spans"]:
                fh.write(json.dumps(s, sort_keys=True) + "\n")
    return {
        "correct": failed == 0,
        "attempted": len(res["ops"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": metrics.UNITS[k]}
                    for k, v in shown.items()},
    }


def _setup_parts(res: dict) -> dict:
    """Cold-start split of a traced run: each set-up span and the first
    operation."""
    if "spans" not in res:
        return {}
    first = next(o for o in res["ops"] if o.get("setup"))
    parts = {s["name"]: s["end"] - s["start"] for s in res["spans"]
             if s["op"] is None}
    parts["first_operation"] = first["wall"]
    return parts


def show(paths: list[str]) -> None:
    paths = paths or sorted(glob.glob(os.path.join(STATE, "records", "*.json")))
    for p in paths:
        with open(p) as fh:
            rec = json.load(fh)
        print(f"# {os.path.basename(p)}  sf={rec['sf']} cpus={rec['cpus']} "
              f"samples={rec['samples']}")
        values = {**rec["end_to_end"], **rec["workload_metrics"],
                  **(rec.get("per_layer") or {})}
        for name, value in values.items():
            print(f"{name:45s} {value:16.6g} {metrics.UNITS[name]}")


def main() -> int:
    ap = argparse.ArgumentParser(description="datum-spark benchmark")
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="check answers against a deliberately wrong "
                         "expected result (tests the checks)")
    ap.add_argument("--show", nargs="*", metavar="RECORD",
                    help="print every metric of the given (or all) records")
    args = ap.parse_args()
    if args.show is not None:
        show(args.show)
        return 0
    if not args.workload:
        ap.error("--workload is required")
    # a stopped benchmark still stops its worker (run_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        line = run(args)
    except Exception as exc:  # noqa: BLE001 — no result line on failure
        print(f"benchmark failed: {exc}", file=sys.stderr)
        return 1
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
