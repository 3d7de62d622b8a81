"""CLI surface: exit codes, --reset-state protocol, malformed args.

Reference protocol under test: aristoteles/aristoteles.py:152-188 (args),
:166-177 (reset-state), exit 0 = ok/nothing-to-do, 1 = fatal.
"""

from __future__ import annotations

import datetime as dt

import pytest

from aristoteles_spark.cli import main
from aristoteles_spark.schema import MEASURES
from aristoteles_spark.sources.sqlite_source import write_archive_sqlite

DAY1 = dt.date(2020, 6, 1)


def _day_rows(day, n=288, us=1):
    t0 = int(
        dt.datetime(day.year, day.month, day.day, tzinfo=dt.timezone.utc).timestamp()
    )
    return [
        (t0 + i * 300, us, *[50.0 + i * 0.01 + j for j in range(len(MEASURES))])
        for i in range(n)
    ]


@pytest.fixture()
def conf_path(tmp_path):
    db = tmp_path / "st.sqlite"
    write_archive_sqlite(str(db), _day_rows(DAY1))
    conf = tmp_path / "conf.ini"
    conf.write_text(
        f"[DEFAULT]\nstate_path = {tmp_path}/state\ninstrument = wx\n"
        f"archive = {tmp_path}/archive\nnetfc_path = {tmp_path}\n\n"
        f"[st]\ndb_path = {db}\n"
    )
    return str(conf)


class TestCli:
    def test_missing_conf_exits_1(self, capsys):
        assert main(["-c", "/nonexistent/conf.ini"]) == 1
        assert "config error" in capsys.readouterr().err

    def test_malformed_stop_exits_1(self, conf_path, capsys):
        assert main(["-c", conf_path, "--stop", "not-a-date"]) == 1
        assert "invalid --stop" in capsys.readouterr().err

    def test_stop_before_day_limit_exits_1(self, conf_path, capsys):
        # reference clamps days to >= 2000-01-01 (_DAY_LIMIT, aristoteles.py:62)
        assert main(["-c", conf_path, "--stop", "19991231"]) == 1

    def test_reset_state_bootstraps_to_earliest_data(self, conf_path, tmp_path):
        assert main(["-c", conf_path, "--reset-state"]) == 0
        assert (tmp_path / "state").read_text().strip() == "20200601"

    def test_reset_state_refuses_to_clobber_without_force(
        self, conf_path, tmp_path, capsys
    ):
        (tmp_path / "state").write_text("20200601\n")
        assert main(["-c", conf_path, "--reset-state", "20200602"]) == 1
        assert "force" in capsys.readouterr().err
        assert (tmp_path / "state").read_text().strip() == "20200601"

    def test_reset_state_force_overwrites(self, conf_path, tmp_path):
        (tmp_path / "state").write_text("20200601\n")
        assert main(["-c", conf_path, "--reset-state", "20200602", "--force"]) == 0
        assert (tmp_path / "state").read_text().strip() == "20200602"

    def test_reset_state_clamps_up_to_earliest_data(self, conf_path, tmp_path):
        # requesting a day before any data exists clamps to the data min
        assert main(["-c", conf_path, "--reset-state", "20150101", "--force"]) == 0
        assert (tmp_path / "state").read_text().strip() == "20200601"

