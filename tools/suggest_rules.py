"""Suggest a rule catalog from a parquet table and write it as rules JSON.

    python tools/suggest_rules.py --input /data/docs.parquet --out rules.json
    # review, edit, then:
    #   python -m jobs.validate_job --rules rules.json ...
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet dir/file to profile")
    ap.add_argument("--out", required=True, help="path for the rules JSON")
    ap.add_argument("--columns", default=None,
                    help="comma-separated subset (default: all non-binary)")
    ap.add_argument("--max-set-size", type=int, default=12)
    args = ap.parse_args(argv)

    from data_check_spark.rules.suggest import suggest_rules
    from data_check_spark.session import get_spark

    spark = get_spark(app_name="suggest_rules")
    spark.sparkContext.setLogLevel("WARN")
    df = spark.read.parquet(args.input)
    cols = args.columns.split(",") if args.columns else None
    cat = suggest_rules(df, columns=cols, max_set_size=args.max_set_size)
    cat.save(args.out)
    print(f"{len(cat.rules)} rules -> {args.out}")
    for r in cat.rules:
        print(f"  {r.rule_id:<28} {r.kind}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
