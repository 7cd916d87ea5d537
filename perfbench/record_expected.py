"""Record the corpus_batch expected values into ``expected.json``.

The six registry entries' answers are hashed from their ``oracle_sql()``
on DuckDB (x83's unrolled PageRank oracle takes minutes, too long to
run inside a benchmark run), and the ``build_training_corpus`` funnel is
recorded once per eval slice.  Both are tied to the generated tables by
their key, so a change to ``datagen.py`` asks for a new recording:

    python3 perfbench/record_expected.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def main() -> None:
    data, key = run.data_dir(run.WORKLOADS["corpus_batch"])
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(run.cpus()))
    from pyspark.sql import functions as F

    from datum_spark import extensions
    from datum_spark.pipelines import build_training_corpus
    from datum_spark.session import get_session
    from datum_spark.tierb import load

    con = checks.duckdb_connection(data, run.cpus())
    oracles = extensions.oracle_sql()
    entries = {}
    for e in workloads.ENTRIES:
        res = con.execute(oracles[e])
        entries[e] = checks.digest([d[0] for d in res.description],
                                   res.fetchall())
    spark = get_session(app_name="perfbench-record")
    docs = load(spark, data, "documents")
    funnel = {}
    for s in range(workloads.EVAL_SLICES):
        held = (F.col("doc_id") >= s * 100) & (F.col("doc_id") < s * 100 + 100)
        out = tempfile.mkdtemp(dir=os.path.join(run.STATE))
        try:
            _, report = build_training_corpus(
                docs.filter(~held), docs.filter(held),
                os.path.join(out, "shards"), n_shards=8,
                contamination_ngram=5)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        funnel[str(s)] = {k: int(v) for k, v in report.items()}
    spark.stop()
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump({"data_key": key, "entries": entries, "funnel": funnel},
                  fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
