"""Guard for the benchmark's traced run: ``perfbench.trace.install`` wraps
engine names it looks up by name, so a rename in the rollup job must fail
here rather than crash a traced benchmark run."""

from jobs import rollup_job
from perfbench.trace import JobDescription, Tracer, install


def test_trace_hooks_cover_rollup_job(spark, tmp_path):
    tracer, marks = Tracer("hooks"), {}
    describe = JobDescription(spark.sparkContext)
    args = rollup_job.parse_args(
        ["--synth-convs", "6", "--warehouse", str(tmp_path / "wh"), "--run-id", "hooks", "--gapfill"]
    )
    patcher = install(tracer, describe, marks)
    try:
        rollup_job.run(args, spark=spark)
    finally:
        patcher.restore()
        describe.set(None)
    names = {s.name for s in tracer.spans}
    expected = {f"catalog.write.rollup_{t}" for t in ("1m", "5m", "1h", "1d")} | {
        "lineage.commit.stage_source",
        "rollup_job.read_audit",
    }
    assert expected <= names, sorted(expected - names)
    assert "staging_end" in marks
    # restore() put the job's own helpers back
    from biomed_timeseries_preprocessing_spark.plans.lineage import read_audit

    assert rollup_job.read_audit is read_audit
