"""Partitioned daily Parquet sink with reference-compatible metadata.

Maps the reference's HDF5 layout (aristoteles/aristoteles.py:372-468) onto
columnar Parquet:

  reference                                   this sink
  ---------------------------------------     ----------------------------------
  {YYYYMM01}T000000Z_{inst}_weather/ dir      acq=<name>/ partition directory
  {YYYYMMDD}.h5 daily file                    date=<YYYY-MM-DD>/ partition
  root attrs (git tag, user, host, ...)       _attrs.json sidecar per acq dir
  index_map/station_time_<s> time axis        dateTime column (per station rows)
  per-station group + attrs                   station column + sidecar attrs
  per-measure 1-D float64 dataset + units     measure columns + units in sidecar
  .{file}.lock in-progress marker             .<date>.lock held around the swap
  whole-file overwrite idempotence            staged partition swapped in whole

The pipeline (plans/pipeline.py) writes the day partitions and swaps
them in; this module holds the layout's metadata: attrs, sidecar, lock.
Date-partitioned parquet gives partition pruning for time-range queries,
and each day's file is sorted by (station, dateTime) (the reference's
ORDER BY, aristoteles.py:343).
"""

from __future__ import annotations

import datetime as dt
import getpass
import json
import os
import socket

from aristoteles_spark import __version__
from aristoteles_spark.schema import ARCHIVE_VERSION, MEASURE_TYPES, UNITS


def global_attrs(instrument: str, acq: str) -> dict:
    """Root attrs the reference writes on every file (aristoteles.py:393-402)."""
    return {
        "git_version_tag": __version__,
        "system_user": os.environ.get("USER", getpass.getuser()),
        "collection_server": socket.gethostname(),
        "instrument_name": instrument,
        "archive_version": ARCHIVE_VERSION,
        "acquisition_name": acq,
        "acquisition_type": "weather",
    }


def station_attrs(stations_conf: dict[str, dict]) -> dict:
    """Per-station attrs: db path, lon/lat (NaN when absent), description
    ("" when absent) — reference aristoteles.py:443-458."""
    out = {}
    for name, sc in stations_conf.items():
        out[name] = {
            "wview_database": sc.get("db_path", ""),
            "longitude": float(sc["longitude"]) if sc.get("longitude") is not None else float("nan"),
            "latitude": float(sc["latitude"]) if sc.get("latitude") is not None else float("nan"),
            "description": sc.get("description") or "",
        }
    return out


def units_attrs() -> dict[str, str]:
    """measure -> metric unit string (reference aristoteles.py:460-464)."""
    return {m: UNITS[t] for m, t in MEASURE_TYPES.items()}


def lock_path(archive_dir: str, acq: str, day: dt.date) -> str:
    """Reference lock protocol: ``.{YYYYMMDD}.h5.lock`` beside the file
    (aristoteles.py:379,387,474); kept for downstream-reader compat."""
    return os.path.join(archive_dir, f"acq={acq}", f".{day.strftime('%Y%m%d')}.lock")


def write_sidecar(archive_dir: str, acq: str, instrument: str, stations_conf: dict) -> None:
    """Atomic attrs sidecar per acquisition dir (.new + rename, the
    reference's atomic-visibility idiom, aristoteles.py:111,142)."""
    path = os.path.join(archive_dir, f"acq={acq}", "_attrs.json")
    payload = {
        "global": global_attrs(instrument, acq),
        "stations": station_attrs(stations_conf),
        "units": units_attrs(),
        "index_map": {s: f"station_time_{s}" for s in stations_conf},
    }
    tmp = path + ".new"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=2, default=str)
    os.replace(tmp, path)
