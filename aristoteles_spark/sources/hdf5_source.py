"""Ingest the reference's daily HDF5 files back into a DataFrame.

The reference's consumers read daily ``.h5`` files in the layout of
aristoteles/aristoteles.py:392-464 (root attrs, ``index_map/
station_time_<station>`` axes, one float64 dataset per measure per
station group). ``read_day_h5`` parses that layout — via h5py when
installed, else the pure-Python ``formats/minihdf5`` reader — and
returns the engine's canonical long frame
``(station, dateTime, <measures...>)`` plus the file's attributes, so
an archive written by either the reference or ``sinks/hdf5_export``
round-trips through Spark.

Daily files are tiny (<=288 rows/station); the parse is driver-side by
design, like the reference's own single-writer model. Bulk backfills
over many files should map the same parse over a file listing
(``spark.createDataFrame(paths).mapInPandas``).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from aristoteles_spark.schema import MEASURES

try:  # optional; the pure reader below covers its absence
    import h5py  # type: ignore
except ImportError:  # pragma: no cover
    h5py = None

DAY_H5_SCHEMA = T.StructType(
    [
        T.StructField("station", T.StringType(), False),
        T.StructField("dateTime", T.LongType(), False),
    ]
    + [T.StructField(m, T.DoubleType(), True) for m in MEASURES]
)


def _load_layout(path: str) -> dict[str, Any]:
    if h5py is not None:  # pragma: no cover (no h5py in this container)
        out: dict[str, Any] = {"attrs": {}, "groups": {}}
        with h5py.File(path, "r") as f:
            out["attrs"] = {k: v for k, v in f.attrs.items()}
            imap = {
                name: list(ds[()])
                for name, ds in f["index_map"].items()
            }
            for station, grp in f.items():
                if station == "index_map":
                    continue
                out["groups"][station] = {
                    "attrs": dict(grp.attrs),
                    "datasets": {
                        m: {"values": list(grp[m][()]), "attrs": dict(grp[m].attrs)}
                        for m in grp
                    },
                }
            out["index_map"] = imap
        return out
    from aristoteles_spark.formats.minihdf5 import read_hdf5

    raw = read_hdf5(path)
    return {
        "attrs": raw["attrs"],
        "index_map": {
            name.removeprefix("station_time_"): ds["values"]
            for name, ds in raw["groups"]["index_map"]["datasets"].items()
        },
        "groups": {
            name: g
            for name, g in raw["groups"].items()
            if name != "index_map"
        },
    }


def read_day_h5(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict[str, Any]]:
    """Parse one daily HDF5 file -> (long DataFrame, root attrs)."""
    lay = _load_layout(path)
    rows = []
    for station, g in lay["groups"].items():
        times = lay["index_map"].get(station, [])
        series = {m: g["datasets"][m]["values"] for m in MEASURES}
        for i, t in enumerate(times):
            rows.append(
                (station, int(t), *[float(series[m][i]) for m in MEASURES])
            )
    return spark.createDataFrame(rows, DAY_H5_SCHEMA), dict(lay["attrs"])
