"""Record ``expected.json``: the ``(n_rows, content_hash)`` of every
``analytics`` and ``curation`` query on the generated tables.

    python3 perfbench/record_expected.py

Run it only when the generated tables change; the stored answers are
what every benchmark run checks against.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]
# Python workers import the engine too, whatever the cwd
os.environ["PYTHONPATH"] = os.pathsep.join(
    [os.path.dirname(HERE), HERE, os.environ.get("PYTHONPATH", "")])

import datagen  # noqa: E402
import workloads  # noqa: E402


def main() -> None:
    from s3_elasticsearch_data_pipeline_spark import registry
    from s3_elasticsearch_data_pipeline_spark.session import get_spark
    qs = registry.queries()
    spark = get_spark("perfbench-record")
    out = {}
    runs_dir = os.path.join(os.path.dirname(HERE), ".perfbench_tmp")
    os.makedirs(runs_dir, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=runs_dir) as tmp:
        datagen.write_star_tables(tmp)
        for name in workloads.ANALYTICS + workloads.CURATION:
            n, h, _ = workloads.drain(qs[name](spark, tmp))
            out[name] = [n, h]
            print(name, n, h, file=sys.stderr)
    spark.stop()
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
