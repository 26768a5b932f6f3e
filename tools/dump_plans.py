"""Dump ``explain("formatted")`` for registry queries to files.

Usage:
    python tools/dump_plans.py --out plans/r15 --suffix after \
        --queries text_tfidf_cosine_pairs,sims_hybrid_rrf

    python tools/dump_plans.py --out plans/r19 --final \
        --queries text_tfidf_cosine_pairs

``--suffix before`` is meant to be run with PYTHONPATH pointing at an
older tree (e.g. a detached checkout of the pre-optimization commit)
so the same data dir and session settings produce the old plan.

The plan string is taken from the query's final DataFrame via
``queryExecution().explainString(FormattedMode)`` — identical text to
``df.explain("formatted")`` but capturable.  Without ``--final`` it
is the pre-execution plan (``AdaptiveSparkPlan isFinalPlan=false``):
join strategy / Exchange placement / PushedFilters are all visible,
but not what AQE decided at runtime.  ``--final`` collects the query
first and writes ``{name}_final.txt``: the executed plan
(``isFinalPlan=true``) with its runtime join strategies, build sides,
coalesced shuffles and ``ReusedExchange`` nodes, expression and plan
ids stripped so two runs diff clean.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import traceback

# the package is not installed; APPEND the repo root so running from
# any cwd resolves energi_data_pipeline_spark, while a PYTHONPATH
# pointing at an older extracted tree (the --suffix before workflow)
# still wins (ADVICE r15)
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.append(_REPO_ROOT)


def explain_formatted(df) -> str:
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jdf.queryExecution().explainString(mode)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    kind = ap.add_mutually_exclusive_group(required=True)
    kind.add_argument("--suffix", choices=["before", "after"])
    kind.add_argument("--final", action="store_true",
                      help="collect first; write the AQE-final plan")
    ap.add_argument("--queries", required=True,
                    help="comma-separated registry names")
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from energi_data_pipeline_spark.queries import load_all
    from energi_data_pipeline_spark.session import get_spark

    os.makedirs(args.out, exist_ok=True)
    spark = get_spark("dump-plans")
    registry = load_all()
    names = [n.strip() for n in args.queries.split(",") if n.strip()]
    failed = []
    for name in names:
        suffix = "final" if args.final else args.suffix
        path = os.path.join(args.out, f"{name}_{suffix}.txt")
        try:
            df = registry[name].fn(spark, args.sf_dir)
            if args.final:
                df.collect()
            text = explain_formatted(df)
            if args.final:
                text = re.sub(r"#\d+L?|(?<=plan_id=)\d+", "", text)
        except Exception:
            failed.append(name)
            text = traceback.format_exc()
            # never let a traceback masquerade as a committed plan
            # artifact (ADVICE r15): failures go to a loud side file
            path = os.path.join(
                args.out, f"{name}_{suffix}.FAILED.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path} ({len(text)} chars)")
    spark.stop()
    if failed:
        print(f"FAILED: {failed}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
