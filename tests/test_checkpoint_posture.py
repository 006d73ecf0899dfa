"""The r16 checkpoint-posture knob: engine pins must use reliable
``DataFrame.checkpoint`` when the session has a checkpoint directory
configured (cluster posture — survives executor loss) and
``localCheckpoint`` otherwise (single-box posture). Values are
identical either way; this pins WHICH call the knob dispatches."""

from __future__ import annotations

from cubicerp_client_etl_spark import checkpointing


def _record_calls(monkeypatch, df):
    # patch the CONCRETE DataFrame class (Spark 4 dispatches through
    # pyspark.sql.classic.dataframe.DataFrame, not the abstract base)
    calls = []

    def fake_checkpoint(self, eager=True):
        calls.append(("checkpoint", eager))
        return self

    def fake_local(self, eager=True):
        calls.append(("localCheckpoint", eager))
        return self

    monkeypatch.setattr(type(df), "checkpoint", fake_checkpoint)
    monkeypatch.setattr(type(df), "localCheckpoint", fake_local)
    return calls


def test_pin_local_without_checkpoint_dir(spark, monkeypatch):
    df = spark.range(3)
    monkeypatch.setattr(checkpointing, "_reliable", lambda _df: False)
    calls = _record_calls(monkeypatch, df)
    checkpointing.pin(df)
    checkpointing.pin_eager(df)
    assert calls == [("localCheckpoint", False), ("localCheckpoint", True)]


def test_pin_reliable_with_checkpoint_dir(spark, monkeypatch):
    df = spark.range(3)
    monkeypatch.setattr(checkpointing, "_reliable", lambda _df: True)
    calls = _record_calls(monkeypatch, df)
    checkpointing.pin(df)
    checkpointing.pin_eager(df)
    assert calls == [("checkpoint", False), ("checkpoint", True)]


def test_reliable_probe_matches_session_state(spark):
    # the real dispatch probe agrees with the session's JVM state
    # (read-only: setting a dir on the shared test session would leak
    # reliable-checkpoint behavior into every later test)
    df = spark.range(3)
    jvm_state = spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()
    assert checkpointing._reliable(df) == jvm_state


def test_failing_probe_warns_and_pins_locally():
    # a session the JVM cannot be asked about (no _jsc, or a py4j
    # failure) falls back to localCheckpoint, loudly; any other error
    # is a bug and propagates
    import types

    import pytest
    from py4j.protocol import Py4JError

    def frame(sc):
        return types.SimpleNamespace(
            sparkSession=types.SimpleNamespace(sparkContext=sc)
        )

    def raising(ex):
        def sc():
            raise ex

        return types.SimpleNamespace(_jsc=types.SimpleNamespace(sc=sc))

    with pytest.warns(RuntimeWarning, match="localCheckpoint"):
        assert checkpointing._reliable(frame(types.SimpleNamespace(_jsc=None))) is False
    with pytest.warns(RuntimeWarning, match="localCheckpoint"):
        assert checkpointing._reliable(frame(raising(Py4JError("gateway gone")))) is False
    with pytest.raises(ZeroDivisionError):
        checkpointing._reliable(frame(raising(ZeroDivisionError())))
