"""Prometheus textfile-collector sink.

Reproduces the reference's metric protocol (aristoteles/aristoteles.py:
20-30,95-145): metrics buffered in-process during the run, flushed once at
exit as ``# HELP`` / ``# TYPE`` / ``name{labels} value`` exposition lines to
``{netfc_path}/aristoteles.prom``, written atomically (``.new`` then
rename), with cleanup of the temp file on failure. Skips silently when no
output dir is configured.
"""

from __future__ import annotations

import os
import time

_PREFIX = "aristoteles"

# metric name -> (help, type); reference aristoteles.py:20-27
_DECLARED = {
    "first_day": ("first day needing processing (YYYYMMDD)", "gauge"),
    "yesterday": ("last day targeted for processing (YYYYMMDD)", "gauge"),
    "samples_yesterday": ("sample count for the target day", "gauge"),
    "days_written": ("days written this run", "gauge"),
    "status": ("exit status of the run", "gauge"),
    "report_time": ("unix time of metric flush", "gauge"),
    "rows_written": ("rows written this run", "gauge"),
    "stage_seconds": ("wall seconds of a run stage (probe, read, write, publish)", "gauge"),
}


class PromBuffer:
    """Append-only metric buffer (the reference's module-level list)."""

    def __init__(self) -> None:
        self._lines: list[tuple[str, dict[str, str], float]] = []

    def add(self, name: str, value: float, labels: dict[str, str] | None = None) -> None:
        self._lines.append((name, labels or {}, float(value)))

    def render(self) -> str:
        out: list[str] = []
        seen: set[str] = set()
        for name, labels, value in self._lines:
            full = f"{_PREFIX}_{name}"
            if name in _DECLARED and full not in seen:
                hlp, typ = _DECLARED[name]
                out.append(f"# HELP {full} {hlp}")
                out.append(f"# TYPE {full} {typ}")
                seen.add(full)
            lbl = ""
            if labels:
                inner = ",".join(f'{k}="{v}"' for k, v in sorted(labels.items()))
                lbl = "{" + inner + "}"
            out.append(f"{full}{lbl} {value:.17g}")
        return "\n".join(out) + "\n"

    def flush(self, netfc_path: str | None, status: int) -> None:
        """Final flush: append status + report_time, atomic write-and-rename.

        No-op when netfc_path is unset (reference aristoteles.py:104-106).
        """
        if not netfc_path:
            return
        self.add("status", status)
        self.add("report_time", time.time())
        dest = os.path.join(netfc_path, f"{_PREFIX}.prom")
        tmp = dest + ".new"
        try:
            with open(tmp, "w") as f:
                f.write(self.render())
            os.replace(tmp, dest)
        except OSError:
            if os.path.exists(tmp):
                os.unlink(tmp)  # cleanup on failure, reference aristoteles.py:143-145
            raise
