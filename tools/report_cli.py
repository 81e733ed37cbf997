#!/usr/bin/env python
"""faas_runner-style CLI for the report engine (SURVEY.md §3.1).

    python tools/report_cli.py -r RUNS_DIR -e experiment.json [-o OUT_DIR]
                               [--attr value | --attr[i] value ...]

Reads a folder of one-JSON-per-run records (S6), applies the experiment
config (defaults + typed overrides, S11), runs the report plan, and writes
one CSV directory per section (S9) — the engine's equivalent of
``./faas_runner.py -f func.json -e exp.json -o out``.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cloudcomputing_servicecompositiontest_datapipeline_spark.api import Engine
from cloudcomputing_servicecompositiontest_datapipeline_spark.config import (
    apply_overrides,
    load_config,
    to_report_config,
)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("-r", "--runs", required=True, help="folder of run JSON records")
    ap.add_argument("-e", "--experiment", required=True, help="experiment JSON config")
    ap.add_argument("-o", "--out", default="report_out", help="output directory")
    ap.add_argument(
        "--single-file", action="store_true",
        help="emit one multi-section CSV (reference layout; bounded size)",
    )
    args, extra = ap.parse_known_args(argv)

    overrides: dict[str, str] = {}
    for i in range(0, len(extra), 2):
        flag, value = extra[i], extra[i + 1] if i + 1 < len(extra) else None
        if not flag.startswith("--"):
            ap.error(f"unexpected argument {flag!r}; overrides are --attr value")
        if value is None or value.startswith("--"):
            ap.error(f"override {flag} needs a value")
        overrides[flag[2:]] = value

    cfg_doc = apply_overrides([load_config(args.experiment)], overrides)[0]
    cfg = to_report_config(cfg_doc)

    eng = Engine()
    runs = eng.read_runs(args.runs)
    sections = eng.report(runs, cfg)
    if args.single_file:
        from cloudcomputing_servicecompositiontest_datapipeline_spark.sources.io import (
            write_report_csv_compat,
        )

        path = write_report_csv_compat(sections, os.path.join(args.out, "report.csv"))
        print(f"wrote {path}")
    else:
        paths = eng.write_report(sections, args.out)
        for section, path in paths.items():
            print(f"wrote [{section}] -> {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
