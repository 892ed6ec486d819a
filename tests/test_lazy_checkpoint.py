"""``core.data.lazy_checkpoint`` under SPARK_GRAFT_EXPLAIN_NOCKPT: the
flag announces itself once per process and otherwise stays silent.
Stand-in frames only; no Spark job runs."""

from __future__ import annotations

from nba_data_pipeline_spark.core import data


class _Frame:
    def __init__(self):
        self.checkpoints = 0

    def localCheckpoint(self, eager=True):
        self.checkpoints += 1
        return self


def test_nockpt_flag_warns_exactly_once(monkeypatch, capsys):
    monkeypatch.setattr(data, "_NOCKPT_ANNOUNCED", False)
    monkeypatch.setenv("SPARK_GRAFT_EXPLAIN_NOCKPT", "1")
    frame = _Frame()
    assert data.lazy_checkpoint(frame) is frame
    assert data.lazy_checkpoint(frame) is frame
    assert frame.checkpoints == 0
    err = capsys.readouterr().err.splitlines()
    assert len([line for line in err if "SPARK_GRAFT_EXPLAIN_NOCKPT" in line]) == 1


def test_unset_flag_checkpoints_silently(monkeypatch, capsys):
    monkeypatch.setattr(data, "_NOCKPT_ANNOUNCED", False)
    monkeypatch.delenv("SPARK_GRAFT_EXPLAIN_NOCKPT", raising=False)
    frame = _Frame()
    data.lazy_checkpoint(frame)
    assert frame.checkpoints == 1
    assert capsys.readouterr().err == ""
