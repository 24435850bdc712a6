"""Forced-distributed scale gate for the driver-dispatched operators.

The r12 driver dispatches (graph kernels, deep-estimator replay,
KMeans and DeterministicKMeans Lloyd, connected_components union-find)
absorb the bench's sf0.1 inputs entirely, so the DISTRIBUTED code paths
— the ones that matter at 100 TB — were exercised only by bit-equality
pytests, never timed (r12 verdict, "What's wrong" #1). This tool times
every dispatch-gated bench query twice per fixture:

- ``driver``: defaults (the dispatch bounds as shipped);
- ``distributed``: ``DEEPTIME_FORCE_DISTRIBUTED=1``, which sends every
  gated operator (``deeptime_spark.dispatch.on_driver``) down its
  distributed path — results are bit-identical by the operators'
  cross-path contracts (pinned in tests/), so both modes run the SAME
  queries and the oracle stays green either way.

Fixtures: sf0.1 and the x8 replicated weak-scaling dir
(tools/scale_bench.py's fixture — built on first use). Each
(fixture, mode) runs in its OWN subprocess so that both modes start
from a fresh JVM: no codegen, JIT or cache state carries from one
mode's timings into the other's.

Usage: python tools/forced_distributed_bench.py [x8]
Prints one JSON line; record the table in SCALE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

QUERIES = [
    # §14 graph kernels
    "event_triangles",
    "event_clustering_coeff",
    "event_kcore",
    "event_bfs",
    "event_communities",
    # §10 deep estimators
    "vampnet_events",
    "tae_events",
    "tvae_events",
    # §6 DeterministicKMeans
    "kmeans_embeddings",
    # connected_components (driver union-find convention)
    "dedup_components",
]

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FORCE_ENV = {"DEEPTIME_FORCE_DISTRIBUTED": "1"}

_CHILD = """
import json, os, sys, time
sys.path.insert(0, {repo!r})
import __spark_entry__ as entrymod
from deeptime_spark.session import get_spark
spark = get_spark("forced-distributed-gate")
if {build_x8!r}:
    sys.path.insert(0, os.path.join({repo!r}, "tools"))
    import scale_bench
    scale_bench.build_dir(spark, 8)
qs = entrymod.queries()
sf_dir = {sf_dir!r}
out = {{}}
for name in {queries!r}:
    fn = qs[name]
    trials = []
    for _ in range(3):
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        trials.append(round(time.time() - t0, 3))
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    out[name] = {{"cold": trials[0], "warm_min": min(trials[1:]),
                  "trials": trials}}
print("FDG_JSON:" + json.dumps(out))
spark.stop()
"""


def run_child(sf_dir: str, mode: str, build_x8: bool) -> dict:
    env = dict(os.environ)
    if mode == "distributed":
        env.update(FORCE_ENV)
    code = _CHILD.format(
        repo=REPO, sf_dir=sf_dir, queries=QUERIES, build_x8=build_x8
    )
    r = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True,
        timeout=3600,
    )
    for line in r.stdout.splitlines():
        if line.startswith("FDG_JSON:"):
            return json.loads(line[len("FDG_JSON:"):])
    raise RuntimeError(
        f"child ({sf_dir}, {mode}) produced no result; stderr tail:\n"
        + r.stderr[-2000:]
    )


def main() -> int:
    with_x8 = "x8" in sys.argv[1:]
    fixtures = [("sf0.1", "/root/testdata/sf0.1", False)]
    if with_x8:
        fixtures.append(("x8", "/tmp/scale/x8", True))
    report: dict = {}
    for label, sf_dir, build in fixtures:
        report[label] = {}
        for mode in ("driver", "distributed"):
            report[label][mode] = run_child(sf_dir, mode, build)
            print(f"done {label}/{mode}", file=sys.stderr)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
