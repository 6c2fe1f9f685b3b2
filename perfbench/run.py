"""Repository benchmark: one workload per invocation, from the checkout root.

    python3 perfbench/run.py --workload curation_ops --seed 1 --seconds 20 --trace 0

Both workloads run the package at sf0.1 on ``local[4]`` from one process
with one client thread, over inputs generated from ``--seed``
(``BENCHMARK.json`` records why each workload was chosen):

* ``curation_ops`` -- closed loop over the five LLM-curation queries that
  cross the Python boundary, each pass in a seeded order.
  ``spark.catalog.clearCache()`` runs after every execution, outside the
  timed window.
* ``ingest_stream`` -- the write side. An open-loop replay of NGSI-LD
  notification files at a fixed rate into the streaming ingest, then
  closed-loop cycles of batch TSV ingest -> ``merge_upsert`` of a 2%
  corrections batch -> a q2-shaped hourly average over the table just
  written.

With ``--trace 0`` the last stdout line carries the end-to-end metrics:

* ``setup_s``: ``get_spark`` + ``registry.all_queries()`` + the cold first
  pass (each query once; on ``ingest_stream`` two cycles and a short
  warm-up stream). Input generation and result checks are excluded.
* ``pass_s``: median wall time of one pass of the closed-loop mix (a
  query's time is build, then ``collect()``).

The lines before it print every figure by name, unit and sample count,
the workload-specific ones too (``query_p90_s``, ``ingest_rows_per_s``,
``upsert_s``, ``read_after_write_s``, ``freshness_p50_s``, ``peak_rss_mb``,
``error_ratio`` ...), and a stamp of the commit, host and versions.
``--trace 1`` runs the same workload, alternating untraced and traced
passes, and prints the per-layer metrics (spans and Spark's counters
around each call into ``session``, ``registry``, ``sources``,
``operators`` and ``streaming``) and the tracing overhead instead.

An operation fails if it raises, returns a wrong result, or is a
notification file that did not land exactly once. Inputs, Spark's
scratch space and outputs live under ``.perfbench/`` in the checkout
and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("curation_ops", "ingest_stream"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "orionld_to_hive_spark", "session.py")):
        print(f"error: package orionld_to_hive_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers import the package from the checkout, whatever the cwd;
    # every scratch file Spark or Python makes stays inside the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench"), os.path.join(ROOT, "tests")]
    try:
        from bench_main import run_workload

        report, result = run_workload(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    for line in report:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
