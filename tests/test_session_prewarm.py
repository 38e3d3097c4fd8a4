"""Session-level Python worker-pool prewarm (VERDICT r09 #3).

The pool cold start — fork + numpy/pandas import across up to 32 workers —
was root-caused (SIM_PROBE.json) as the only source of the historical 3-18 s
Pandas-UDF first-draw outliers. get_spark now runs the prewarm by default for
local masters so ANY consumer's first wide python-task query starts from
steady state. The fresh-process first-draw evidence is PREWARM_PROBE.json
(captured via get_spark only, no benchmark warmups).
"""

from __future__ import annotations

import os

import pytest

from weather_data_pipeline_spark import session as S


@pytest.mark.skipif(
    bool(os.environ.get("SPARK_GRAFT_NO_PREWARM")),
    reason="prewarm disabled by env for this run",
)
def test_get_spark_prewarms_local_session_once(spark):
    # the session fixture built `spark` through get_spark with the default
    # env, so the pool prewarm must already have run for this application
    assert spark.sparkContext.applicationId in S._PREWARMED
    # once per session: a second explicit call is a no-op
    assert S.prewarm_python_workers(spark) is False


def test_failed_prewarm_is_marked_attempted_and_not_retried():
    """ADVICE r10: a RAISING prewarm must still count as this session's one
    attempt — otherwise every later get_spark() on the same live session
    retries the failing prewarm and re-pays the multi-second penalty (plus
    the warning) in a persistently broken environment."""

    class _Ctx:
        applicationId = "app-prewarm-fail-test"
        defaultParallelism = 4

    class _FakeSpark:
        sparkContext = _Ctx()

        def range(self, *a, **k):  # both _warm_jvm_infra and the pool job
            raise RuntimeError("broken environment")

    fake = _FakeSpark()
    S._PREWARMED.discard(_Ctx.applicationId)
    try:
        with pytest.raises(RuntimeError):
            S.prewarm_python_workers(fake)
        # the failing attempt is recorded -> at most once per session
        assert _Ctx.applicationId in S._PREWARMED
        assert S.prewarm_python_workers(fake) is False
    finally:
        S._PREWARMED.discard(_Ctx.applicationId)


def test_resolve_cpus_honors_env(monkeypatch):
    # SPARK_GRAFT_CPUS=8 must yield local[8]: get_spark builds its master
    # as f"local[{resolve_cpus()}]", so pinning the resolver pins the
    # session width a caller asks for
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert S.resolve_cpus() == 8
    assert f"local[{S.resolve_cpus()}]" == "local[8]"
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert S.resolve_cpus(4) == 4
