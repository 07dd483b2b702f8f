"""Dump `.explain("formatted")` for every declared query into
<out-dir>/<query><suffix>.txt — full plan text for a before/after
review, regenerated on demand (the committed, compact per-query
summary is plans/fingerprints_sf0.01.json from
scripts/explain_audit.py --json).

Usage: python scripts/dump_plans.py <out-dir> [sf_dir] [query ...]
  e.g. python scripts/dump_plans.py /tmp/plans --suffix _before
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from bank_transaction_data_warehouse_spark.session import get_spark


def formatted_plan(df) -> str:
    jqe = df._jdf.queryExecution()
    return jqe.explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def main() -> None:
    # parse --suffix=<s> AND the space form `--suffix <s>` (the space
    # form used to fall through as a positional arg and silently
    # become sf_dir, overwriting good plan dumps with ERROR files)
    args: list[str] = []
    suffix = ""
    argv = sys.argv[1:]
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--suffix="):
            suffix = a.split("=", 1)[1]
        elif a == "--suffix":
            if i + 1 >= len(argv):
                sys.exit("--suffix needs a value")
            i += 1
            suffix = argv[i]
        else:
            args.append(a)
        i += 1
    out_dir = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    only = set(args[2:])
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name, fn in E.queries().items():
        if only and name not in only:
            continue
        try:
            plan = formatted_plan(fn(spark, sf_dir))
        except Exception as ex:  # pragma: no cover
            plan = f"ERROR building plan: {ex}"
        with open(os.path.join(out_dir, f"{name}{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}{suffix}.txt ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
