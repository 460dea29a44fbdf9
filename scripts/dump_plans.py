#!/usr/bin/env python
"""Print the formatted physical plans of registered queries at sf0.001.

Run: python scripts/dump_plans.py [name ...]   (default: every query in
``__spark_entry__.REGISTRY`` order). Nothing is written to disk; the
checked form of each plan is its ``plan`` fingerprint in the registry
(tests/test_physical_plans.py).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main(names: list[str]) -> None:
    import __spark_entry__ as E
    from esri_dump_spark.session import get_spark

    qs = E.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {', '.join(unknown)}")
    spark = get_spark(app_name="dump-plans", cores=4, shuffle_partitions=8)
    try:
        for name in names or qs:
            df = qs[name](spark, E.SF_DEFAULT)
            print(f"== {name} ==")
            df.explain("formatted")
    finally:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
