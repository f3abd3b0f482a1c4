"""Per-query isolation bench (guide §1.1/§1.4) — NOT the driver's bench.

Times individual ``queries()`` entries with the noop sink at an arbitrary
sf dir, after a warm pass at sf0.001, and optionally dumps
``.explain("formatted")`` for each to plans/<tag>/<query>_<suffix>.txt.

Usage:
  python bench_extra.py [--sf DIR] [--reps N] [--plans TAG:SUFFIX] q1 q2 ...
  python bench_extra.py --sf /tmp/szs_sf1.0 --reps 2 dedup_embedding

Same session as bench.py: the package recipe
(``safe_zone_spark.session``) at local[$SPARK_GRAFT_CPUS], so the numbers
are comparable to the frozen harness.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/tmp/szs_sf1.0")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--warm-sf", default="/root/testdata/sf0.001")
    ap.add_argument("--plans", default="", help="TAG:SUFFIX -> plans/TAG/<q>_SUFFIX.txt")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from bench import CPUS

    import __spark_entry__ as entry_mod
    from safe_zone_spark.session import session_builder

    spark = session_builder(f"szs-bench-{CPUS}", cores=CPUS).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    try:
        variants = entry_mod.variant_queries()
    except AttributeError:
        variants = {}
    qs = {**variants, **qs}

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    timings: dict[str, list[float]] = {}
    for name in args.queries:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"warm:{name}")
        try:
            force(fn(spark, args.warm_sf))
        except Exception as e:  # warm-up must not kill the run
            print(f"# warm {name}: {e}", file=sys.stderr)
        if args.plans:
            tag, suffix = args.plans.split(":", 1)
            d = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", tag)
            os.makedirs(d, exist_ok=True)
            try:
                plan = fn(spark, args.sf)._sc._jvm.PythonSQLUtils.explainString(
                    fn(spark, args.sf)._jdf.queryExecution(), "formatted"
                )
            except Exception:
                import contextlib
                import io

                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    fn(spark, args.sf).explain("formatted")
                plan = buf.getvalue()
            with open(os.path.join(d, f"{name}_{suffix}.txt"), "w") as f:
                f.write(plan)
        samples = []
        for r in range(args.reps):
            spark.sparkContext.setJobDescription(f"time:{name}:rep{r}")
            t0 = time.time()
            force(fn(spark, args.sf))
            samples.append(round(time.time() - t0, 3))
        timings[name] = samples
        print(f"# {name}: min={min(samples)} samples={samples}", file=sys.stderr)

    spark.stop()
    print(json.dumps({
        "sf_dir": args.sf, "cpus": CPUS,
        "queries_min": {k: min(v) for k, v in timings.items()},
        "queries_samples": timings,
    }))


if __name__ == "__main__":
    main()
