"""Executable job entry point — the reference's ``__main__`` block
(``stage_1_hcp_channel_all_hardcode.py:1261-1304``): parse (config
path, environment, batch id) → read the INI and fail fast on a
missing section → build the Spark session → audit INITIATED → TAM
and digital jobs at once (``pipelines.jobs.run_all``) → audit
COMPLETED, then print one JSON summary line per output table.

The INI section (one per environment, mirroring the reference's
``[dev]``/``[prod]`` table bindings at stage_1:52-91) maps each
logical input table name to a parquet path, plus the reserved key
``out_root`` for the output/audit directory:

    [dev]
    out_root = /tmp/mars_out
    calls_v1 = /data/calls_v1.parquet
    ...

Run:  python -m gcp_dataengineering_spark \\
          --config job.ini --environment dev --batch-id 20240401
"""

from __future__ import annotations

import argparse
import json
import sys

from .config import read_config_file, registry_from_config
from .pipelines.jobs import run_all
from .session import get_spark

OUT_ROOT_KEY = "out_root"


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="gcp_dataengineering_spark",
        description="Run the TAM + digital pipelines with the write/audit protocol.",
    )
    p.add_argument("--config", required=True, help="INI config path")
    p.add_argument(
        "--environment", required=True, help="INI section name (dev/qa/prod)"
    )
    p.add_argument("--batch-id", required=True, help="audit batch id")
    p.add_argument(
        "--cpus", default=None, help="local[N] parallelism override (default: all)"
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_arg_parser().parse_args(argv)
    cp = read_config_file(args.config)
    registry = registry_from_config(cp, args.environment)
    # configparser merges [DEFAULT] entries into every section; those
    # are shared settings, not table bindings — drop them from the
    # table registry (out_root may still come from DEFAULT).
    for key in cp.defaults():
        if key != OUT_ROOT_KEY:
            registry.paths.pop(key, None)
    if OUT_ROOT_KEY not in registry.paths:
        raise KeyError(
            f"config section [{args.environment}] must define '{OUT_ROOT_KEY}'"
        )
    out_root = registry.paths.pop(OUT_ROOT_KEY)

    spark = get_spark(
        f"gcp_dataengineering_{args.environment}",
        **({"cpus": args.cpus} if args.cpus else {}),
    )
    try:
        tables = {name: registry.read(spark, name) for name in registry.paths}
        results = run_all(spark, tables, out_root, batch_id=args.batch_id)
        for r in results:
            print(json.dumps(r))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
