"""CLI mirroring the reference's argparse surface.

Reference: aristoteles/aristoteles.py:152-188 — ``-c/--conf`` (required),
``--reset-state [YYYYMMDD]``, ``--stop YYYYMMDD``, ``--force``. Config is
INI: global keys ``state_path``, ``instrument``, ``archive``, optional
``netfc_path``; one section per station with ``db_path`` and optional
``longitude``/``latitude``/``description`` (aristoteles.py:191-227).

Exit protocol (reference aristoteles.py:100-145): 0 = success or
nothing-to-do (including a gate deferral), 1 = fatal config/archive error.
"""

from __future__ import annotations

import argparse
import configparser
import datetime as dt
import sys

from aristoteles_spark.plans import state as S
from aristoteles_spark.plans.pipeline import PipelineConfig, earliest_day, run
from aristoteles_spark.session import get_spark


def load_conf(path: str) -> PipelineConfig:
    cp = configparser.ConfigParser()
    if not cp.read(path):
        raise FileNotFoundError(path)
    g = cp.defaults()
    stations: dict[str, dict] = {}
    for section in cp.sections():
        sc = dict(cp[section])
        stations[section] = {
            "db_path": sc["db_path"],
            "longitude": float(sc["longitude"]) if "longitude" in sc else None,
            "latitude": float(sc["latitude"]) if "latitude" in sc else None,
            "description": sc.get("description"),
        }
    return PipelineConfig(
        state_path=g["state_path"],
        instrument=g["instrument"],
        archive=g["archive"],
        stations=stations,
        netfc_path=g.get("netfc_path"),
    )


def reset_state(conf: PipelineConfig, day_str: str | None, force: bool) -> int:
    """--reset-state: bootstrap the watermark (reference
    aristoteles.py:166-177,246-265). Clamps the requested day up to the
    earliest available data; refuses to clobber valid state unless --force."""
    if S.read_state(conf.state_path) is not None and not force:
        print("state file exists; use --force to overwrite", file=sys.stderr)
        return 1
    earliest = earliest_day(conf)
    if earliest is None:
        return 1
    requested = S.validate_day(S.parse_day(day_str)) if day_str else earliest
    chosen = max(requested, earliest)
    # write_state stores day+1; reference stores the chosen day itself as
    # "next to process", i.e. write_state(chosen - 1)
    S.write_state(conf.state_path, chosen - dt.timedelta(days=1))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="aristoteles-spark")
    p.add_argument("-c", "--conf", required=True)
    p.add_argument("--reset-state", nargs="?", const="", metavar="YYYYMMDD")
    p.add_argument("--stop", metavar="YYYYMMDD")
    p.add_argument("--force", action="store_true")
    args = p.parse_args(argv)

    try:
        conf = load_conf(args.conf)
    except Exception as e:
        print(f"config error: {e}", file=sys.stderr)
        return 1

    if args.reset_state is not None:
        return reset_state(conf, args.reset_state or None, args.force)

    try:
        stop = S.validate_day(S.parse_day(args.stop)) if args.stop else None
    except ValueError as e:
        print(f"invalid --stop: {e}", file=sys.stderr)
        return 1
    spark = get_spark("aristoteles_spark_cli")
    result = run(spark, conf, stop=stop, force=args.force)
    if result.incomplete_stations:
        print(
            f"gate: incomplete stations {result.incomplete_stations}; deferring",
            file=sys.stderr,
        )
    return result.status


if __name__ == "__main__":
    sys.exit(main())
