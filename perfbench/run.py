"""Standing benchmark of the transcript rollup engine.

    python3 perfbench/run.py --workload lake_rollup --seed 1 --seconds 10 --trace 0

Run it from the repository root. One process, one Spark session at
``local[<cores>]``. Set-up (session start, lake generation, untimed
warm-up) is followed by timed operations until ``--seconds`` have passed.
Every operation's outputs are checked. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``), as listed in
``perfbench/spec.py`` and ``BENCHMARK.json``. The traced run alternates
untraced and traced operations, writes its spans to
``perfbench/out/trace-<workload>-<seed>.json`` and reports the tracing
overhead. Spark's logs go to ``perfbench/out/work-<pid>/spark.log``,
which is removed on success and kept when an operation failed.
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: the run must end within 180 s; a hung Spark job is cut here instead
DEADLINE_S = 170


def parse_args(argv=None):
    from perfbench.spec import WORKLOAD_NAMES

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _redirect_fds(log_path: str) -> tuple[int, int]:
    """Point fds 1 and 2 at the log so the JVM and its Python workers,
    which inherit them, write there. Returns the saved originals."""
    sys.stdout.flush()
    sys.stderr.flush()
    saved = os.dup(1), os.dup(2)
    fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(fd, 1)
    os.dup2(fd, 2)
    os.close(fd)
    return saved


def _restore_fd(saved: int, fd: int) -> None:
    sys.stdout.flush()
    sys.stderr.flush()
    os.dup2(saved, fd)
    os.close(saved)


def _timeout(_sig, _frame):
    raise TimeoutError(f"benchmark still running after {DEADLINE_S} s")


class Bench:
    def __init__(self, args):
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload]()
        self.out_dir = os.path.join(HERE, "out")
        self.work = os.path.join(self.out_dir, f"work-{os.getpid()}")
        self.log = os.path.join(self.work, "spark.log")
        self.spark = None
        self.proc = None
        self.saved_err = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layers: dict[str, float] = {}

    # ------------------------------------------------------------ session
    def start_session(self) -> float:
        from biomed_timeseries_preprocessing_spark.session import get_spark
        from pyspark import SparkContext

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        # the JVMs would otherwise keep perf counters under /tmp/hsperfdata_*
        no_perf = "-XX:-UsePerfData"
        os.environ["SPARK_LAUNCHER_OPTS"] = no_perf
        # Arrow UDF workers import the package from the repository root
        pp = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
        self.cores = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        saved_out, self.saved_err = _redirect_fds(self.log)
        try:
            self.spark = get_spark(
                app_name=f"perfbench-{self.args.workload}",
                master=f"local[{self.cores}]",
                extra_conf={
                    "spark.driver.extraJavaOptions": f"{no_perf} -Djava.io.tmpdir={tmp}",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "sql-warehouse"),
                },
            )
        finally:
            _restore_fd(saved_out, 1)
        self.proc = getattr(SparkContext._gateway, "proc", None)
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            gw.shutdown()
        if self.proc is not None:
            # the JVM exits when its stdin closes; wait for it
            self.proc.stdin.close()
            self.proc.wait(timeout=60)

    def kill_session(self) -> None:
        if self.proc is not None and self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait(timeout=30)

    # ---------------------------------------------------------- operations
    def run_op(self, k: int, phases) -> object:
        self.attempted += 1
        try:
            res = self.wl.op(self.work, k, phases)
        except Exception as e:  # an operation that raises is a failed operation
            traceback.print_exc()
            from perfbench.workloads import OpResult

            res = OpResult(failures=[f"op {k} raised {type(e).__name__}: {e}"])
        self.failed += bool(res.failures)
        self.failures += res.failures
        return res

    def setup(self) -> float:
        from perfbench.workloads import Phases, make_lake

        session_s = self.start_session()
        path = os.path.join(self.work, "lake")
        t0 = time.perf_counter()
        turns = make_lake(self.spark, self.args.seed, self.wl.target_turns, path)
        lake_s = time.perf_counter() - t0
        self.wl.prepare(self.spark, path, turns)
        self.turns = turns
        t0 = time.perf_counter()
        for k in range(self.wl.warmups):
            self.run_op(-1 - k, Phases(self.spark))
        warmup_s = time.perf_counter() - t0
        self.layers.update(
            {
                "setup.session_s": session_s,
                "setup.lake_s": lake_s,
                "setup.warmup_s": warmup_s,
            }
        )
        return session_s + lake_s + warmup_s

    def measure(self) -> list:
        """Timed operations until --seconds have passed (at least one).
        The traced run alternates untraced and traced operations."""
        from perfbench.workloads import Phases

        trace = bool(self.args.trace)
        results = []
        t_end = time.perf_counter() + self.args.seconds
        k = 0
        while True:
            traced = trace and k % 2 == 1
            if traced:
                res = self.traced_op(k)
            else:
                res = self.run_op(k, Phases(self.spark))
            results.append((traced, res))
            k += 1
            if time.perf_counter() >= t_end and (k >= 2 or not trace):
                return results

    def traced_op(self, k: int):
        from perfbench import trace as tr
        from perfbench.sparkstats import SparkProbe
        from perfbench.workloads import Phases

        if not hasattr(self, "tracer"):
            self.tracer = tr.Tracer(f"{self.args.workload}-{self.args.seed}")
            self.probe = SparkProbe(self.spark)
            self.describe = tr.JobDescription(self.spark.sparkContext)
            self.layer_samples: list[dict] = []
        since = len(self.tracer.spans)
        marks: dict = {}
        phases = Phases(self.spark, self.tracer, self.probe, self.describe)
        patcher = tr.install(self.tracer, self.describe, marks)
        try:
            with self.tracer.span("op"):
                res = self.run_op(k, phases)
        finally:
            patcher.restore()
        if "write" in phases.windows and not res.failures:
            self.layer_samples.append(self.op_layers(res, phases, marks, since))
        return res

    def op_layers(self, res, phases, marks, since) -> dict:
        """Per-layer numbers of one traced operation."""
        from perfbench.spec import EXPIRING_TIERS, SPARK_FIELDS, SPARK_SPANS, TIERS

        spans = self.tracer.spans[since:]

        def durs(prefix):
            return [s.dur for s in spans if s.name.startswith(prefix)]

        out = {k: 0.0 for k in per_op_layer_keys()}
        w = phases.windows
        stats = {ph: self.probe.stage_metrics(self.probe.jobs_between(*w[ph])) for ph in w}
        wt = stats["write"]["total"]
        for ph in ("write", "scan"):
            for f in SPARK_FIELDS:
                out[f"spark.{ph}.{f}"] = stats[ph]["total"][f]
        by_desc = stats["write"]["by_desc"]
        for span in SPARK_SPANS[2:]:
            for f in SPARK_FIELDS:
                out[f"spark.{span}.{f}"] = by_desc.get(span, {}).get(f, 0.0)
        run_ms = wt["run_ms"] + stats["scan"]["total"]["run_ms"]
        wall = res.times["write"] + res.times["scan"]
        out["spark.busy_ratio"] = run_ms / (wall * 1000 * self.cores)
        if res.lineage is not None:  # the rollup job ran
            out["job.spark_jobs"] = wt["jobs"]
            out["job.spark_stages"] = wt["stages"]
            out["job.spark_tasks"] = wt["tasks"]
            out["job.staging_s"] = marks["staging_end"] - phases.start["write"]
            lin = res.lineage
            per_bucket = (
                lin[lin["stage"] != "stage_source"].groupby("partition_key")["wall_ms"].max()
                / 1000.0
            )
            out["job.bucket_s_max"] = float(per_bucket.max())
            out["job.bucket_skew"] = float(per_bucket.max() / per_bucket.median())
            out["job.accounted_ratio"] = (
                out["job.staging_s"] + out["job.bucket_s_max"]
            ) / res.times["write"]
            for t in TIERS:
                out[f"catalog.write_s.rollup_{t}"] = max(durs(f"catalog.write.rollup_{t}"))
            commits = durs("catalog.commit.")
            out["catalog.commit_ms"] = 1000 * sum(commits)
            out["catalog.commits"] = len(commits)
            out["lineage.committed_ms"] = 1000 * sum(durs("lineage.committed"))
            out["lineage.committed_calls"] = len(durs("lineage.committed"))
            out["lineage.commit_many_ms"] = 1000 * sum(durs("lineage.commit_many"))
            out["retention.expire_files_ms"] = 1000 * sum(durs("retention.expire_files"))
            for t in EXPIRING_TIERS:
                out[f"retention.expire_rewrite_s.{t}"] = sum(
                    durs(f"retention.expire_rewrite.{t}")
                )
        return out

    # ------------------------------------------------------------- results
    def end_to_end(self, setup_s: float, results: list) -> dict:
        from perfbench.stats import median

        done = [r for _t, r in results if "scan" in r.times]
        ok = [r for r in done if not r.failures] or done
        if not ok:
            raise RuntimeError("no operation completed; see the failures above")
        writes = [r.times["write"] for r in ok]
        scans = [r.times["scan"] for r in ok]
        self.samples = {"write_s": writes, "scan_s": scans}
        return {
            "setup_s": setup_s,
            "write_s": median(writes),
            "scan_s": median(scans),
            "turns_per_s": self.turns / median(writes),
            "bytes_per_turn": median([r.bytes_per_turn for r in ok]),
        }

    def per_layer(self, results: list) -> dict:
        from perfbench.sparkstats import peak_rss_mb
        from perfbench.spec import PER_LAYER, STREAM_METRICS
        from perfbench.stats import median
        from perfbench.workloads import kernel_metrics, stream_metrics

        vals = dict(self.layers)
        op_vals, fails = op_layer_medians(getattr(self, "layer_samples", []))
        vals.update(op_vals)
        self.failures += fails
        layers = [(lambda: kernel_metrics(self.spark, self.wl.lake), "codec.")]
        if self.wl.replays_stream:
            layers.append((lambda: stream_metrics(self.spark, self.wl.lake, self.work), "stream."))
        else:
            vals.update({key: 0.0 for key in STREAM_METRICS})
        for measure, prefix in layers:
            self.attempted += 1
            try:
                layer_vals, fails = measure()
            except Exception as e:  # counted as a failed operation, like run_op
                traceback.print_exc()
                layer_vals = {k: 0.0 for k in PER_LAYER if k.startswith(prefix)}
                fails = [f"{prefix}* layer raised {type(e).__name__}: {e}"]
            self.failed += bool(fails)
            self.failures += fails
            vals.update(layer_vals)
        vals["mem.peak_rss_mb"] = peak_rss_mb(self.proc.pid if self.proc else None)
        plain = [r.times["write"] for t, r in results if not t and "write" in r.times]
        traced = [r.times["write"] for t, r in results if t and "write" in r.times]
        vals["trace.overhead_s"] = median(traced) - median(plain) if plain and traced else 0.0
        with open(self.log, errors="replace") as f:
            vals["spark.stderr_errors"] = sum(1 for ln in f if re.search(r"\bERROR\b", ln))
        if hasattr(self, "tracer"):
            self.tracer.dump(
                os.path.join(self.out_dir, f"trace-{self.args.workload}-{self.args.seed}.json")
            )
        return vals


def per_op_layer_keys() -> list[str]:
    """Per-layer keys a traced operation fills (0 where the workload does
    not run that layer); the rest come from set-up, the codec kernels, the
    streaming replay and the whole run."""
    from perfbench.spec import PER_LAYER

    whole_run = {"spark.stderr_errors", "trace.overhead_s", "mem.peak_rss_mb"}
    return [
        k
        for k in PER_LAYER
        if k not in whole_run and not k.startswith(("codec.", "setup.", "stream."))
    ]


def op_layer_medians(samples: list[dict]) -> tuple[dict, list[str]]:
    """Median of each per-operation layer metric over the traced
    operations that succeeded. With none, every such metric reads 0 and
    the run is reported as failed, so it still prints its result line."""
    from perfbench.stats import median

    if not samples:
        return {k: 0.0 for k in per_op_layer_keys()}, ["no traced operation succeeded"]
    return {k: median([s[k] for s in samples]) for k in samples[0]}, []


def report(values: dict, samples: dict, bench) -> None:
    from perfbench.spec import declared
    from perfbench.stats import summarize

    spec = declared(bool(bench.args.trace))
    print(
        f"workload {bench.args.workload} seed {bench.args.seed} turns {bench.turns} "
        f"cores {bench.cores} attempted {bench.attempted} failed {bench.failed} "
        f"fail_ratio {bench.failed / max(bench.attempted, 1):.4f}"
    )
    for name, (unit, better, _layer) in spec.items():
        line = f"  {name:<36} {values[name]:>14.6g} {unit:<6} ({better} is better)"
        if name in samples:
            s = summarize(samples[name])
            tail = f"{s['tail'][0]} {s['tail'][1]:.6g}" if s["tail"] else "no tail percentile"
            line += f"  median of n={s['n']}, {tail}; samples " + " ".join(
                f"{x:.4g}" for x in samples[name]
            )
        print(line)
    if bench.args.trace and hasattr(bench, "tracer"):
        print("  spans with the most self time (name, count, total s, self s):")
        for name, c, dur, self_s in bench.tracer.top_self():
            print(f"    {name:<40} {c:>4} {dur:>9.3f} {self_s:>9.3f}")
    for msg in bench.failures[:20]:
        print(f"  FAILED: {msg}")


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    try:
        import jobs.rollup_job  # noqa: F401
        import biomed_timeseries_preprocessing_spark  # noqa: F401
    except ImportError as e:
        print(
            f"perfbench: cannot import the engine ({e}); run from the repository root",
            file=sys.stderr,
        )
        return 2
    from perfbench.spec import result_line

    bench = Bench(args)
    os.makedirs(bench.work, exist_ok=True)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    try:
        setup_s = bench.setup()
        results = bench.measure()
        values = bench.end_to_end(setup_s, results)
        samples = bench.samples
        if args.trace:
            values = bench.per_layer(results)
            samples = {}
        bench.stop_session()
    except Exception:
        signal.alarm(0)
        if bench.saved_err is not None:
            _restore_fd(bench.saved_err, 2)
        traceback.print_exc()
        bench.kill_session()
        print(f"perfbench: run failed; Spark log kept at {bench.log}", file=sys.stderr)
        return 3
    signal.alarm(0)
    _restore_fd(bench.saved_err, 2)
    if bench.failures:
        print(f"perfbench: Spark log kept at {bench.log}", file=sys.stderr)
    else:
        shutil.rmtree(bench.work, ignore_errors=True)
    report(values, samples, bench)
    print(
        result_line(
            not bench.failures, bench.attempted, bench.failed, values, bool(args.trace)
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
