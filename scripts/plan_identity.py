"""Optimized-plan identity between two checkouts of the engine.

Dumps the normalized optimized logical plan of every ``suite.QUERIES``
entry, every ``bench._extra_queries()`` entry and every
``catalog.DERIVED_TABLES`` entry, then compares two dumps. Run ``dump``
once in each checkout (same data directory), then ``compare``:

  python scripts/plan_identity.py dump OUT.json SF_DIR
  python scripts/plan_identity.py compare BEFORE.json AFTER.json RESULT.json

``RESULT.json`` maps each entry to ``"identical"`` or ``"differs"`` and
carries the totals; the process exits 1 when any entry differs.

Normalization ignores what changes from one construction to the next
without changing the plan: auto-generated lambda-variable names,
expression ids, and the JVM identity hashes that binary literals print
as (``[B@1b6d2ff0``).
"""

from __future__ import annotations

import json
import os
import re
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

_LAMBDA_VAR = re.compile(r"lambda `?\w+`?#\d+[L]?")
_EXPR_ID = re.compile(r"#\d+[L]?")
_BYTES_REF = re.compile(r"\[B@[0-9a-f]+")


def norm_plan(df) -> str:
    """The optimized logical plan with lambda-variable names, expression
    ids and byte-array literal identities replaced by placeholders."""
    s = df._jdf.queryExecution().optimizedPlan().toString()
    s = _LAMBDA_VAR.sub("lambda V", s)
    s = _BYTES_REF.sub("[B@N", s)
    return _EXPR_ID.sub("#N", s)


def _entries(spark, sf_dir: str):
    import bench  # noqa: PLC0415
    from realtime_olap_spark import suite  # noqa: PLC0415
    from realtime_olap_spark.catalog import DERIVED_TABLES, Catalog  # noqa: PLC0415

    for name, fn in suite.QUERIES.items():
        yield f"suite.{name}", lambda fn=fn: fn(spark, sf_dir)
    for name, fn in bench._extra_queries().items():
        yield f"bench.{name}", lambda fn=fn: fn(spark, sf_dir)
    cat = Catalog(spark, sf_dir)
    for name, fn in DERIVED_TABLES.items():
        yield f"derived.{name}", lambda fn=fn: fn(cat)


def dump(out: str, sf_dir: str) -> None:
    from realtime_olap_spark.session import get_spark  # noqa: PLC0415
    spark = get_spark("plan-identity")
    spark.sparkContext.setLogLevel("ERROR")
    plans = {name: norm_plan(build()) for name, build in _entries(spark, sf_dir)}
    with open(out, "w") as f:
        json.dump(plans, f, indent=1, sort_keys=True)
    print(f"{len(plans)} plans -> {out}")


def compare(before: str, after: str, out: str) -> int:
    with open(before) as f:
        a = json.load(f)
    with open(after) as f:
        b = json.load(f)
    if set(a) != set(b):
        raise SystemExit(f"entry sets differ: {sorted(set(a) ^ set(b))}")
    result = {k: "identical" if a[k] == b[k] else "differs" for k in sorted(a)}
    n_diff = sum(v == "differs" for v in result.values())
    with open(out, "w") as f:
        json.dump({"entries": result, "identical": len(result) - n_diff,
                   "differs": n_diff}, f, indent=1)
        f.write("\n")
    print(f"{len(result) - n_diff} identical, {n_diff} differ -> {out}")
    return 1 if n_diff else 0


def main(argv: list[str]) -> int:
    if len(argv) == 3 and argv[0] == "dump":
        dump(argv[1], argv[2])
        return 0
    if len(argv) == 4 and argv[0] == "compare":
        return compare(argv[1], argv[2], argv[3])
    print(__doc__.strip().splitlines()[0])
    print("usage: plan_identity.py dump OUT.json SF_DIR | "
          "compare BEFORE.json AFTER.json RESULT.json")
    return 0 if argv[:1] in (["-h"], ["--help"]) else 2


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
